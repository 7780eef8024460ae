package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Spark's codegen cache holds graft's working set: a warm statement
  * reuses the classes its first run compiled instead of recompiling them.
  * Spark sizes that JVM-wide cache once, at the first compile, so the
  * shared test session covers sessions built by [[Session.local]], and a
  * fresh JVM ([[CodegenCacheProbe]]) covers a plain session that only
  * goes through [[ExecutionContext]]. */
class CodegenCacheSpec extends SparkSpec {
  import CodegenCacheSpec._

  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  private def assertNoRecompiles(cycles: Seq[Long]): Unit = {
    assert(cycles.head > 100,
      s"the first cycle compiled only ${cycles.head} classes")
    assert(cycles.tail == Seq(0L, 0L),
      s"warm cycles recompiled ${cycles.tail} classes " +
        s"(first cycle: ${cycles.head})")
  }

  test("a cycle of statements that compiles more than 100 classes " +
    "compiles none on its next two cycles (graft's session)") {
    val ctx = new ExecutionContext(spark)
    assertNoRecompiles(Seq.fill(3)(cycle(ctx)))
  }

  test("the same holds in a fresh JVM whose plain session (no cache key) " +
    "only goes through ExecutionContext") {
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
      jvmArgs ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        CodegenCacheProbe.getClass.getName.stripSuffix("$"))
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() == 0, s"the probe JVM failed:\n$out")
    val cycles = out.linesIterator.collectFirst {
      case l if l.startsWith(CodegenCacheProbe.Tag) =>
        l.stripPrefix(CodegenCacheProbe.Tag).split(',').map(_.toLong).toSeq
    }.getOrElse(fail(s"no cycle counts in the probe's output:\n$out"))
    assertNoRecompiles(cycles)
  }

  test("the cache size: an explicit key in the SparkConf is kept; without " +
    "one graft asks for Session.CodegenCacheEntries") {
    // a session's conf starts from its SparkConf's entries
    val explicit = new SQLConf
    new SparkConf(false).set(key, "64").getAll
      .foreach { case (k, v) => explicit.setConfString(k, v) }
    assert(Session.codegenConf(explicit) eq explicit)
    assert(Session.codegenConf(explicit).codegenCacheMaxEntries == 64)
    val unset = new SQLConf
    assert(Session.codegenConf(unset).codegenCacheMaxEntries ==
      Session.CodegenCacheEntries)
    assert(!unset.contains(key), "the session's own conf must not change")
    // graft's builder sets the key in the SparkConf itself, so executors
    // see it too, and the session's value is the one kept
    assert(spark.sparkContext.getConf.get(key) ==
      Session.CodegenCacheEntries.toString)
    assert(Session.codegenConf(spark.sessionState.conf) eq
      spark.sessionState.conf)
  }
}

object CodegenCacheSpec {
  /** 120 statements that each compile classes of their own, told apart by
    * the multiplier literal (no other suite uses these): 240 classes a
    * cycle, more than Spark's default of 100 cache entries. */
  val statements: Seq[String] = (1 to 120).map { k =>
    s"SELECT id * ${7919 + k} + 104729 AS v FROM range(0, 16, 1, 1) " +
      s"WHERE id % 13 <> ${k % 13}"
  }

  /** Runs every statement once; returns the classes Janino compiled. */
  def cycle(ctx: ExecutionContext): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    statements.foreach(s => ctx.execute(s).collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}

/** Runs three cycles of [[CodegenCacheSpec.statements]] on a plain local
  * session, in a JVM of its own, and prints the classes each compiled. */
object CodegenCacheProbe {
  val Tag = "codegen cycles: "

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val ctx = new ExecutionContext(spark)
      println(Tag + Seq.fill(3)(CodegenCacheSpec.cycle(ctx)).mkString(","))
    } finally spark.stop()
  }
}
