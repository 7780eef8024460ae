package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft._

/** Runs one benchmark workload against graft in a closed loop with one
  * client thread, from a plan of generated statements, and writes every raw
  * measurement to a JSON file. `run.py` builds the plan from the seed,
  * turns the measurements into metrics and checks the outputs.
  *
  * Arguments: <plan.json> <data dir> <work dir> <result.json> <seconds>
  * <trace 0|1> <cores> <setups>
  */
object Main {
  final case class Op(node: JsonNode) {
    def kind: String = node.get("kind").asText
    def key: String = node.get("key").asText
    def text(f: String): String = node.get(f).asText
  }

  def main(args: Array[String]): Unit = {
    val Array(planPath, dataDir, workDir, outPath, secondsArg, traceArg,
      coresArg, setupsArg) = args
    val plan = Json.read(planPath)
    new Main(plan, dataDir, Paths.get(workDir), secondsArg.toDouble,
      traceArg == "1", coresArg.toInt, setupsArg.toInt).run(outPath)
  }

  /** Pass numbers: the cold pass, then warm-up passes -2, -3, ..., then
    * the timed loop's passes 0, 1, ... */
  val ColdPass = -1

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  /** Peak resident set of this JVM, from /proc (kB). */
  def rssHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}

final class Main(
    plan: JsonNode, dataDir: String, work: Path, seconds: Double,
    trace: Boolean, cores: Int, setups: Int) {
  import Main._

  private val workload = plan.get("workload").asText
  private val tracer = new Tracer(trace)
  private val stats = new ExecStats
  private var spark: SparkSession = _
  private var ctx: ExecutionContext = _
  private val dmlView = "orders_dml"
  private val mvRoot = work.resolve("mv")
  private val dmlRoot = work.resolve("dml")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---- set-up ------------------------------------------------------------

  private def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosAsLongConf._1, Tables.nanosAsLongConf._2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ctx = new ExecutionContext(spark)
  }

  private def mvSpec = plan.get("mv")

  /** star_sql's fixture: the materialized view its aggregates can be
    * served from. */
  private def createFixtures(): Unit = if (workload == "star_sql") {
    val mv = mvSpec
    Mv.register(spark, mv.get("name").asText, spark.table(mv.get("table").asText),
      dims = Json.strings(mv.get("dims")),
      aggCols = Json.strings(mv.get("measures")).map(expr),
      mvPath = mvRoot.resolve(mv.get("name").asText).toString)
  }

  private def teardown(): Unit = {
    ManagedCache.releaseAll()
    if (workload == "star_sql") Mv.drop(spark, mvSpec.get("name").asText)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def setupOnce(): Map[String, Double] = {
    if (spark != null) teardown()
    deleteTree(mvRoot)
    deleteTree(dmlRoot)
    val t0 = System.nanoTime()
    tracer.span("setup.session")(startSession())
    val t1 = System.nanoTime()
    tracer.span("tables.register")(ctx.registerTestData(dataDir))
    val t2 = System.nanoTime()
    tracer.span("setup.fixtures") {
      if (workload == "star_sql") tracer.span("plans.mv_create")(createFixtures())
      else createFixtures()
    }
    val t3 = System.nanoTime()
    Map("session_s" -> (t1 - t0) / 1e9, "register_s" -> (t2 - t1) / 1e9,
      "fixture_s" -> (t3 - t2) / 1e9, "total_s" -> (t3 - t0) / 1e9)
  }

  // ---- operations ----------------------------------------------------------

  /** Directory of each committed DML write of the current round, by the
    * write's index in the round. */
  private val writeDirs = mutable.Map.empty[Int, String]
  private var roundDir: Path = _

  private def startRound(name: String): Unit = {
    roundDir = dmlRoot.resolve(name)
    deleteTree(roundDir)
    writeDirs.clear()
    spark.read.parquet(dmlRoot.resolve("base").toString)
      .createOrReplaceTempView(dmlView)
  }

  private def values(op: Op): DataFrame =
    spark.sql(s"SELECT * FROM VALUES ${op.text("values")} AS v(" +
      spark.table(dmlView).columns.mkString(", ") + ")")

  private def assignments(op: Op) =
    op.node.get("set").elements().asScala
      .map(a => a.get(0).asText -> expr(a.get(1).asText)).toMap

  private def collectRows(sql: String): Array[Row] = {
    val df = tracer.span("context.execute")(ctx.execute(sql))
    tracer.span("exec")(df.collect())
  }

  private val outputs = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Runs one operation; returns the rows it read, if it reads. A catalog
    * builder's output goes to a noop sink, except on its cold first run,
    * which writes the output to parquet for the checks. */
  private def execute(op: Op, idx: Int, pass: Int): Option[Array[Row]] =
    op.kind match {
      case "sql" => Some(collectRows(op.text("sql")))
      case "builder" =>
        val q = QueryCatalog.byName(op.key)
        val df = tracer.span("operators.build")(q.build(spark, dataDir))
        val out = work.resolve("check").resolve(op.key).toString
        tracer.span("exec")(
          if (pass != ColdPass) df.write.format("noop").mode("overwrite").save()
          else df.write.mode("overwrite").parquet(out))
        if (pass == ColdPass)
          outputs += Map("name" -> op.key, "out" -> out, "oracle" -> q.oracle.orNull)
        None
      case "read" => Some(collectRows(op.text("sql")))
      case "time_travel" =>
        val asOf = tracer.span("dml.read_version")(Dml.readVersion(
          spark, writeDirs(op.node.get("write").asInt), "v0"))
        asOf.createOrReplaceTempView("orders_asof")
        Some(collectRows(op.text("sql")))
      case kind =>
        val dir = roundDir.resolve(s"w$idx").toString
        val base = spark.table(dmlView)
        val out = tracer.span(s"dml.$kind")(kind match {
          case "insert" => Dml.insertValues(base, values(op), dir)
          case "update" =>
            Dml.update(base, dir, expr(op.text("where")), assignments(op))
          case "delete" => Dml.delete(base, dir, expr(op.text("where")))
          case "merge" =>
            val cols = base.columns.toSeq
            Dml.merge(base, dir, values(op),
              expr(s"t.${cols.head} = s.${cols.head}"), assignments(op),
              Some(cols), Some(cols.map(c => expr(s"s.$c"))),
              targetAlias = "t", sourceAlias = "s")
        })
        out.createOrReplaceTempView(dmlView)
        writeDirs(idx) = dir
        None
    }

  private var opSeq = 0
  private val opRecords = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val resultLines = mutable.ArrayBuffer.empty[String]
  private val cacheSamples = mutable.Map.empty[Int, Map[String, Long]]

  /** One timed operation: the call(s) into graft, then the cache release
    * graft's drivers owe between queries. */
  private def timedOp(op: Op, pass: Int, idx: Int, traced: Boolean): Unit = {
    val id = opSeq
    opSeq += 1
    val tracing = traced && trace
    val sc = spark.sparkContext
    if (tracing) {
      // events still queued from earlier operations must not land on this one
      BenchBus.drain(sc)
      tracer.op = id
      stats.current = s"op$id"
      sc.setJobGroup(s"op$id", op.key, interruptOnCancel = false)
    }
    var error: String = null
    val t0 = System.nanoTime()
    val rows =
      try {
        val body = () => {
          val r = execute(op, idx, pass)
          if (tracing) cacheSamples(id) = Map(
            "tracked" -> ManagedCache.trackedCount.toLong,
            "stored_bytes" -> sc.getRDDStorageInfo
              .map(i => i.memSize + i.diskSize).sum)
          tracer.span("cache.release")(ManagedCache.releaseAll())
          r
        }
        if (tracing) tracer.span(s"op.${op.kind}")(body()) else body()
      } catch {
        case e: Exception =>
          error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          None
      }
    val elapsed = secs(t0)
    if (tracing) {
      BenchBus.drain(sc)
      stats.current = null
      sc.clearJobGroup()
      tracer.op = -1
    }
    opRecords += Map("id" -> id, "pass" -> pass, "idx" -> idx,
      "key" -> op.key, "kind" -> op.kind, "seconds" -> elapsed,
      "ok" -> (error == null), "traced" -> tracing, "error" -> error)
    rows.foreach { rs =>
      resultLines += Json.write(Map("id" -> id, "pass" -> pass, "idx" -> idx,
        "probe" -> probing, "rows" -> rs.map(_.toSeq.map(cell))))
    }
  }

  private def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case n: java.lang.Number => n
    case s: String => s
    case b: Boolean => b
    case other => other.toString
  }

  private val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def runPass(ops: Seq[Op], pass: Int, name: String,
      traced: Boolean, dml: Boolean = false): Unit = {
    if (dml) startRound(name)
    ops.zipWithIndex.foreach { case (op, i) => timedOp(op, pass, i, traced) }
    if (dml && writeDirs.nonEmpty) {
      val last = writeDirs.keys.max
      rounds += Map("pass" -> pass, "name" -> name,
        "bytes" -> dirBytes(roundDir),
        "base_bytes" -> dirBytes(dmlRoot.resolve("base")),
        "live_bytes" -> dirBytes(Paths.get(writeDirs(last), "v1")),
        "dirs" -> writeDirs.size,
        "write_bytes" -> writeDirs.toSeq.sortBy(_._1).map { case (i, d) =>
          Map("idx" -> i, "bytes" -> dirBytes(Paths.get(d)))
        },
        "final_state" -> Paths.get(writeDirs(last), "v1").toString)
    }
  }

  // ---- layer probes (traced runs, after the timed loop) ----------------------

  /** Spans recorded while a probe runs carry this operation id, so that
    * they stay apart from the timed loop's spans. */
  private val ProbeOp = -2
  private var probing = false

  /** The Dml store's layer, measured in traced star_sql runs: rounds of
    * seeded SQL-equivalent writes and reads, each on a fresh copy of
    * `orders`. Returns the operation records; the rounds' disk state goes
    * to `rounds`. */
  private def dmlProbe(ops: Seq[Op], nRounds: Int): Seq[Map[String, Any]] = {
    val from = opRecords.size
    probing = true
    tracer.op = ProbeOp
    val base = dmlRoot.resolve("base").toString
    spark.table("orders").write.mode("overwrite").parquet(base)
    (0 until nRounds).foreach(r =>
      runPass(ops, r, s"probe$r", traced = false, dml = true))
    tracer.op = -1
    probing = false
    val records = opRecords.drop(from).toSeq
    opRecords.remove(from, records.size)
    records
  }

  /** Each native kernel over its whole input column, forced through a noop
    * sink; median of three. */
  private def kernelProbes(): Map[String, Double] = {
    import graft.TextExpressions._
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
    val toks = TextFunctions.tokens(col("text"))
    val emb = Tables.t(spark, dataDir, "embeddings")
    val q = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val pairs = q.crossJoin(emb).select(col("qid"), col("vec_id"),
      VectorExpressions.cosineSim(col("qv"), col("embedding")).as("sim"))
    val probes = Seq(
      "md5_word_ids" -> docs.select(md5WordIds(toks, 32000)),
      "cdc_chunks" -> docs.select(cdcChunks(toks)),
      "minhash_sig" -> docs.select(minhashSig(shingleHashes(toks, 3), 16)),
      "simhash64" -> docs.select(simhash64(toks)),
      "cosine_sim" -> pairs,
      "topk_neighbors" -> pairs.groupBy("qid").agg(
        TopKAggregate.topkNeighbors(col("vec_id"), col("sim"), 5)))
    probes.map { case (name, df) =>
      val times = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        tracer.span(s"functions.$name")(
          df.write.format("noop").mode("overwrite").save())
        secs(t0)
      }
      name -> times.sorted.apply(1)
    }.toMap
  }

  // ---- the run ----------------------------------------------------------------

  def run(outPath: String): Unit = {
    Files.createDirectories(work)
    val setupTimes = (0 until setups).map(_ => setupOnce())
    if (trace) {
      spark.sparkContext.addSparkListener(stats)
      spark.listenerManager.register(stats)
    }
    val passOps = plan.get("pass").elements().asScala.map(Op).toSeq

    // one cold pass: the first execution of each distinct statement in the
    // session, which also warms the JVM before the timed loop
    runPass(passOps, ColdPass, "cold", traced = false)
    val warmTimes = opRecords.toSeq
    opRecords.clear()
    rounds.clear()

    // untimed warm-up passes, so that the timed loop does not start on the
    // steepest part of the JIT's warm-up; their outputs are still checked
    val warmupPasses = plan.get("warmup_passes").asInt
    val tw = System.nanoTime()
    (0 until warmupPasses).foreach(w => runPass(passOps, -2 - w, s"w$w", traced = false))
    val warmupSeconds = secs(tw)
    val warmupOps = opRecords.toSeq
    opRecords.clear()
    rounds.clear()

    // the timed closed loop: whole passes until the time is used; a traced
    // run alternates traced and untraced passes of the same statements
    val t0 = System.nanoTime()
    var pass = 0
    while (secs(t0) < seconds || (trace && pass < 2)) {
      runPass(passOps, pass, s"r$pass", traced = pass % 2 == 0)
      pass += 1
    }
    val loopSeconds = secs(t0)
    val rss = rssHwmKb()

    val kernels =
      if (trace && workload == "curation") kernelProbes() else Map.empty
    val probeOps =
      if (trace && plan.has("dml_probe"))
        dmlProbe(plan.get("dml_probe").elements().asScala.map(Op).toSeq,
          plan.get("dml_probe_rounds").asInt)
      else Nil
    if (trace) BenchBus.drain(spark.sparkContext)

    val resultsPath = work.resolve("results.jsonl")
    Files.write(resultsPath, resultLines.asJava)
    val spansPath = work.resolve("spans.jsonl")
    Files.write(spansPath, tracer.spans.map(s => Json.write(Map(
      "id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op))).asJava)
    val exec = opRecords.filter(_("traced") == true).map { r =>
      val c = stats.counters(s"op${r("id")}")
      r("id").toString -> Map(
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_busy_ms" -> c.taskBusyMs, "scan_bytes" -> c.scanBytes,
        "shuffle_write_bytes" -> c.shuffleWrite,
        "shuffle_read_bytes" -> c.shuffleRead, "spill_bytes" -> c.spill,
        "peak_exec_mem_bytes" -> c.peakExecMem, "queries" -> c.queries,
        "analysis_ms" -> c.analysisMs, "optimization_ms" -> c.optimizationMs,
        "planning_ms" -> c.planningMs, "exchanges" -> c.exchanges,
        "non_codegen_ops" -> c.nonCodegenOps,
        "scanned_roots" -> c.scannedRoots.toSeq)
    }.toMap

    val result = Map(
      "meta" -> Map(
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "java" -> System.getProperty("java.version"),
        "master" -> spark.sparkContext.master,
        "default_parallelism" -> spark.sparkContext.defaultParallelism),
      "setups" -> setupTimes,
      "warm" -> warmTimes,
      "warmup" -> warmupOps,
      "warmup_s" -> warmupSeconds,
      "warmup_passes" -> warmupPasses,
      "ops" -> opRecords,
      "probe_ops" -> probeOps,
      "loop_s" -> loopSeconds,
      "passes" -> pass,
      "rss_hwm_kb" -> rss,
      "rounds" -> rounds,
      "mv_root" -> mvRoot.toString,
      "mv_bytes" -> dirBytes(mvRoot),
      "outputs" -> outputs,
      "kernels" -> kernels,
      "exec" -> exec,
      "cache" -> cacheSamples.map { case (k, v) => k.toString -> v },
      "results" -> resultsPath.toString,
      "spans" -> spansPath.toString)
    Files.writeString(Paths.get(outPath), Json.write(result))
    spark.stop()
  }
}
