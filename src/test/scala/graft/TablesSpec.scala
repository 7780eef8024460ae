package graft

import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

/** [[Tables.openParquet]]: the footer-read schema equals the schema Spark's
  * own inference gives, the layouts it cannot answer for take the plain
  * `spark.read.parquet` path, opening the fixture tables starts no Spark
  * job, and every open is a fresh relation. */
class TablesSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Schema of the relation, or the error's class and message. */
  private def outcome(open: => org.apache.spark.sql.DataFrame)
      : Either[(String, String), StructType] =
    Try(open.schema).toEither.left.map(e => (e.getClass.getName, e.getMessage))

  private def sameAsSpark(paths: String*): Unit = {
    val ours = outcome(Tables.openParquet(spark, paths: _*))
    val sparks = outcome(spark.read.parquet(paths: _*))
    assert(ours == sparks, s"paths ${paths.mkString(", ")}")
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("every fixture table: the footer schema equals spark.read.parquet's") {
    Tables.all.foreach { name =>
      val p = Tables.path(sf, name)
      assert(Tables.footerSchema(spark, Seq(p)).isDefined,
        s"$name took the fallback")
      sameAsSpark(p)
    }
  }

  test("events: same schema or same error with nanosAsLong on and off") {
    val p = Tables.path(sf, "events")
    Seq("true", "false").foreach { v =>
      withConf(Tables.nanosAsLongConf._1, v)(sameAsSpark(p))
    }
  }

  test("a Spark-written Dml version (decimal, timestamp, array, field " +
    "metadata) reads its schema from the row-metadata JSON") {
    val dir = tmp("tables_dml")
    val tagged = new MetadataBuilder().putString("comment", "kept").build()
    val base = spark.range(0, 6).select(
      col("id"),
      (col("id") * 1.25).cast("decimal(12,2)").as("amount"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      array(col("id"), col("id") + 1).as("ids"),
      col("id").cast("string").as("label", tagged))
    val rows = spark.range(100, 102).select(
      col("id"),
      lit(BigDecimal("9.99")).cast("decimal(12,2)").as("amount"),
      current_timestamp().as("ts"),
      array(col("id")).as("ids"),
      lit("new").as("label"))
    Dml.insertValues(base, rows, dir)
    Seq("v0", "v1").foreach { v =>
      val p = Dml.versionPath(dir, v)
      val footer = Tables.footerSchema(spark, Seq(p))
      assert(footer.isDefined, s"$v took the fallback")
      // the converter alone cannot restore field metadata: only the
      // row-metadata JSON carries it
      assert(footer.get("label").metadata == tagged)
      sameAsSpark(p)
    }
    assert(Dml.readLatest(spark, dir).count() == 8)
  }

  test("partitioned dir, empty dir and mergeSchema take the fallback with " +
    "Spark's schema or Spark's error") {
    val part = tmp("tables_part")
    spark.range(0, 8).withColumn("k", col("id") % 2)
      .write.mode("overwrite").partitionBy("k").parquet(part)
    assert(Tables.footerSchema(spark, Seq(part)).isEmpty)
    sameAsSpark(part)
    assert(Tables.openParquet(spark, part).schema.fieldNames.toSeq ==
      Seq("id", "k"))

    val empty = tmp("tables_empty")
    assert(Tables.footerSchema(spark, Seq(empty)).isEmpty)
    assert(outcome(Tables.openParquet(spark, empty)).isLeft)
    sameAsSpark(empty)

    val missing = s"$empty/absent"
    assert(Tables.footerSchema(spark, Seq(missing)).isEmpty)
    sameAsSpark(missing)

    // two files with drifted schemas, named so the path order is fixed
    val drift = tmp("tables_merge")
    Seq("1" -> spark.range(0, 3).toDF("a"),
        "2" -> spark.range(0, 3).select(col("id").as("a"), lit("x").as("b")))
      .foreach { case (name, df) =>
        val out = tmp("tables_drift")
        df.coalesce(1).write.mode("overwrite").parquet(out)
        val part = new java.io.File(out).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(drift, s"$name.parquet"))
      }
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(Tables.footerSchema(spark, Seq(drift)).isEmpty)
      sameAsSpark(drift)
      assert(Tables.openParquet(spark, drift).schema.fieldNames.toSeq ==
        Seq("a", "b"))
    }
    // without merging, both read the first file in path order
    sameAsSpark(drift)
    assert(Tables.openParquet(spark, drift).schema.fieldNames.toSeq ==
      Seq("a"))

    val globbed = s"$part/k=*"
    assert(Tables.footerSchema(spark, Seq(globbed)).isEmpty)
    sameAsSpark(globbed)
  }

  /** Jobs `body` starts, counted by a listener. The bus delivers events in
    * order, so once a sentinel job submitted after `body` has ended, every
    * job `body` started has been seen. */
  private def jobsStartedBy(body: => Unit): Int = {
    val group = "tables-spec-body"
    val sentinel = "tables-spec-sentinel"
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val sentinelDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (groups.get(e.jobId) == sentinel) sentinelDone.countDown()
    }
    val sc = spark.sparkContext
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup(group)(body)
      inGroup(sentinel)(sc.parallelize(Seq(1), 1).count())
      assert(sentinelDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
      groups.values.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("Tables.register starts zero Spark jobs (spark.read.parquet starts " +
    "its inference job)") {
    assert(jobsStartedBy(Tables.register(spark, sf)) == 0)
    assert(jobsStartedBy(spark.read.parquet(Tables.path(sf, "nation"))) > 0)
  }

  test("two loads of one table self-join on fresh attribute ids") {
    val a = Tables.t(spark, sf, "nation")
    val b = Tables.t(spark, sf, "nation")
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty)
    val pairs = a.join(b, a("n_regionkey") === b("n_regionkey")).count()
    val expected = a.groupBy("n_regionkey").count().collect()
      .map(r => r.getLong(1) * r.getLong(1)).sum
    assert(pairs == expected && pairs < a.count() * b.count())
  }
}
