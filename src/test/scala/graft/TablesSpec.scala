package graft

import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

/** [[Tables.openParquet]]: the footer-read schema equals the schema Spark's
  * own inference gives, the layouts it cannot answer for take the plain
  * `spark.read.parquet` path, opening the fixture tables starts no Spark
  * job, every open is a fresh relation, and the planner sizes a relation
  * by `max(file bytes, rows × row width)`. */
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

  /** The optimized plan's size, optimized without the session's cached
    * data: a frame another suite cached over the same files would answer
    * with its in-memory size instead. */
  private def planSize(df: DataFrame): BigInt =
    spark.sessionState.optimizer.execute(df.queryExecution.analyzed)
      .stats.sizeInBytes

  private def rowWidth(df: DataFrame): BigInt =
    EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output)

  /** The visible data files of a file or directory root, in path order. */
  private def dataFiles(root: String): Seq[java.io.File] = {
    val f = new java.io.File(root)
    if (f.isFile) Seq(f)
    else f.listFiles().toSeq
      .filter(c => c.isFile && !c.getName.startsWith("_") &&
        !c.getName.startsWith("."))
      .sortBy(_.getPath)
  }

  test("every fixture table: the planner size is max(file bytes, rows × " +
    "row width), never below Spark's own") {
    Tables.all.foreach { name =>
      val p = Tables.path(sf, name)
      val df = Tables.openParquet(spark, p)
      val fileBytes = dataFiles(p).map(f => BigInt(f.length)).sum
      val expected = fileBytes.max(BigInt(df.count()) * rowWidth(df))
      assert(planSize(df) == expected, name)
      assert(planSize(df) >= planSize(spark.read.parquet(p)), name)
    }
    // the case this exists for: lineitem's rows outweigh its parquet bytes
    val li = Tables.openParquet(spark, Tables.path(sf, "lineitem"))
    assert(planSize(li) > planSize(spark.read.parquet(
      Tables.path(sf, "lineitem"))))
  }

  /** A directory of one parquet file per row count, named so the path
    * order is fixed; the rows compress far below their planner width. */
  private def multiFile(prefix: String, counts: Seq[Int]): String = {
    val dir = tmp(prefix)
    counts.zipWithIndex.foreach { case (n, i) =>
      val out = tmp(s"${prefix}_part")
      spark.range(0, n).select(col("id"), lit("constant").as("tag"))
        .coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, s"$i.parquet"))
    }
    dir
  }

  test("a multi-file directory scales the first file's row count by " +
    "(all data-file bytes ÷ its bytes)") {
    val dir = multiFile("tables_rows", Seq(2000, 500, 8000))
    val files = dataFiles(dir)
    val total = files.map(f => BigInt(f.length)).sum
    val rows = BigInt(2000) * total / files.head.length
    val df = Tables.openParquet(spark, dir)
    assert(rows != df.count(), "the estimate is a scaled count, not a scan")
    assert(planSize(df) == total.max(rows * rowWidth(df)))
    assert(planSize(df) > planSize(spark.read.parquet(dir)))
  }

  test("mergeSchema, partitioned, glob, summary-footer and empty inputs " +
    "keep Spark's estimate") {
    def sameSize(paths: String*): Unit = assert(
      planSize(Tables.openParquet(spark, paths: _*)) ==
        planSize(spark.read.parquet(paths: _*)), paths.mkString(", "))
    val dir = multiFile("tables_keep", Seq(4000, 4000))
    assert(planSize(Tables.openParquet(spark, dir)) >
      planSize(spark.read.parquet(dir)))
    withConf("spark.sql.parquet.mergeSchema", "true")(sameSize(dir))
    sameSize(s"$dir/*.parquet")

    val part = tmp("tables_keep_part")
    spark.range(0, 4000).select(col("id"), lit("constant").as("tag"),
        (col("id") % 2).as("k"))
      .write.mode("overwrite").partitionBy("k").parquet(part)
    sameSize(part)

    // a `_metadata` summary holds no count of the data files beside it
    val summarized = multiFile("tables_keep_summary", Seq(4000))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(summarized, "0.parquet"),
      java.nio.file.Paths.get(summarized, "_metadata"))
    assert(Tables.footerSchema(spark, Seq(summarized)).isDefined)
    sameSize(summarized)

    val empty = multiFile("tables_keep_empty", Seq(0))
    assert(Tables.openParquet(spark, empty).count() == 0)
    sameSize(empty)
  }

  /** Leaf scans under each `BroadcastExchangeExec` of the planner's plan
    * (AQE's initial plan: the planner's choice, before runtime sizes). */
  private def broadcastScans(df: DataFrame): Seq[FileSourceScanExec] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    plan.collect { case b: BroadcastExchangeExec =>
      b.collect { case s: FileSourceScanExec => s }
    }.flatten
  }

  test("shipping_priority through ExecutionContext.execute builds no " +
    "broadcast over lineitem when its rows outweigh the threshold") {
    val ctx = new ExecutionContext(spark).registerTestData(sf)
    val sql = "SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) " +
      "AS revenue FROM customer, orders, lineitem " +
      "WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey " +
      "AND l_orderkey = o_orderkey " +
      "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
      "AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' " +
      "GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10"
    // 100 KB lies between lineitem's two sizes at sf0.001: its pruned
    // parquet bytes (below) and its pruned rows × width (above)
    withConf("spark.sql.autoBroadcastJoinThreshold", "102400") {
      val df = ctx.execute(sql)
      val lineitem = Tables.path(sf, "lineitem")
      val overLineitem = broadcastScans(df).filter(
        _.relation.location.rootPaths.exists(_.toString.endsWith(lineitem)))
      assert(overLineitem.isEmpty, df.queryExecution.executedPlan.toString)
      assert(df.collect().length == 10)
    }
  }
}
