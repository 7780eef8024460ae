package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.expressions.ExprId
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}

/** Diagnostic main: per-query breakdown of build (DataFrame construction +
  * analysis) vs first execution vs warm re-execution, with the Spark jobs
  * each run started, the classes each run compiled and the warm run's
  * Janino compile time, the rows and bytes each broadcast built (and,
  * for a side [[SmallSideBroadcast]] chose, graft's estimate of its
  * rows, so a bad estimate shows), plus the
  * formatted physical plan for the queries named in args (or the bench
  * set). The warm run also rebuilds the query, so its jobs include any
  * the build starts.
  * Usage: runMain graft.Profile [sfDir] [queryName...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else QueryCatalog.all.filter(_.bench).map(_.name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Session.local(cpus, logLevel = "ERROR")
    Tables.ensureRegistered(spark, sfDir)

    def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    // wall ms, Spark jobs started, classes compiled and Janino compile ms
    // of one run; the drain makes the job count cover the whole run
    def compiling(run: => Unit): (Long, Long, Long, Long) = {
      val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      GraftBridge.drainListenerBus(spark)
      val jobs0 = jobs.get
      val t0 = System.nanoTime()
      run
      val wall = ms(t0)
      GraftBridge.drainListenerBus(spark)
      (wall, jobs.get - jobs0,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0,
        (CodeGenerator.compileTime - compileNs0) / 1000000)
    }

    // every broadcast an executed plan built, through AQE's query stages;
    // a reused exchange built nothing of its own
    def broadcasts(p: SparkPlan): Seq[BroadcastExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => broadcasts(a.executedPlan)
      case s: QueryStageExec => broadcasts(s.plan)
      case _: ReusedExchangeExec => Nil
      case b: BroadcastExchangeExec => b +: broadcasts(b.child)
      case other =>
        (other.children ++ other.subqueries).flatMap(broadcasts)
    }

    // graft's row estimate of each side SmallSideBroadcast hinted, by the
    // side's output, which the broadcast exchange built from it keeps
    def chosenSides(p: LogicalPlan): Map[Set[ExprId], BigInt] =
      p.collect { case j: Join =>
        j.getTagValue(SmallSideBroadcast.EstimatedRows).map { n =>
          val side = if (j.hint.leftHint.isDefined) j.left else j.right
          side.output.map(_.exprId).toSet -> n
        }
      }.flatten.toMap

    if (names.contains("_plans")) {
      // Dump formatted physical plans for the headline queries to PLANS.md
      // — the plan-quality evidence (pushed filters, broadcasts, codegen
      // spans) reviewed alongside BENCH numbers.
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans of the headline " +
        "queries\n\nGenerated by `runMain graft.Profile <sfDir> _plans` " +
        s"against `$sfDir`.\nWhat to look for: `PushedFilters` + pruned " +
        "`ReadSchema` on scans, `BroadcastHashJoin` on fixed-size dims, " +
        "`WholeStageCodegen` spans, no `CartesianProduct`/window-sort " +
        "skew traps.\n")
      QueryCatalog.all.filter(_.bench).foreach { qq =>
        val plan = qq.explainOverride match {
          case Some(f) => f(spark, sfDir)
          case None => qq.build(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
        }
        sb.append(s"\n## ${qq.name}\n\n```\n$plan```\n")
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("PLANS.md"), sb.toString)
      println("PLANS written: " + sb.length + " chars")
      spark.stop(); return
    }

    if (names.contains("_layouts")) {
      // Drive the bucketed-layout co-located join end-to-end and show the
      // plan a user of Layouts.writeBucketed would get.
      import org.apache.spark.sql.functions._
      Layouts.writeBucketed(
        Tables.t(spark, sfDir, "orders"), "demo_orders", "o_orderkey", 8)
      Layouts.writeBucketed(
        Tables.t(spark, sfDir, "lineitem"), "demo_lineitem", "l_orderkey", 8)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("demo_orders")
        .join(spark.table("demo_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "o_totalprice", "l_quantity")
      println("LAYOUTS rows=" + j.count())
      println("LAYOUTS exchange_free=" +
        !j.queryExecution.executedPlan.toString.contains("Exchange"))
      spark.sql("DROP TABLE IF EXISTS demo_orders")
      spark.sql("DROP TABLE IF EXISTS demo_lineitem")
      // salted two-phase aggregation over the skewed-by-construction
      // lineitem quantity (orderkey space is fine; demo uses returnflag
      // which has 3 hot values — worst-case skew shape)
      val salted = Skew.saltedAgg(
        Tables.t(spark, sfDir, "lineitem"), "l_returnflag", "l_quantity",
        salts = 16)
      println("LAYOUTS salted_agg_rows=" + salted.count())
      // partitioned write + pruned read
      val p = Dml.work("profile_layout", sfDir) + "/orders_by_year"
      Layouts.writePartitioned(
        Tables.t(spark, sfDir, "orders")
          .withColumn("y", year(col("o_orderdate"))), p, "y")
      val pruned = spark.read.parquet(p).filter(col("y") === 1997)
      // non-empty filter list required: FileSourceScanExec prints
      // "PartitionFilters: []" unconditionally, so contains() alone is
      // vacuously true and would mask a pruning regression
      println("LAYOUTS pruned_rows=" + pruned.count() + " partition_filtered=" +
        "PartitionFilters: \\[[^\\]]".r.findFirstIn(
          pruned.queryExecution.executedPlan.toString).isDefined)
      spark.stop(); return
    }

    if (names.contains("_e03rank")) {
      // Isolate the r05 e03 regression suspect: same scored-candidates
      // frame ranked by the partial k-heap aggregate vs the old window —
      // if the delta lives here it's heap constant overhead at tiny |Q|,
      // not a plan change in the LSH probe join.
      import org.apache.spark.sql.functions._
      val emb = Tables.t(spark, sfDir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        .withColumn("qbucket", Similarity.signBucket(col("qv"), 4))
        .withColumn("probe", explode(array(
          (lit(0L) +: (0 until 4).map(b => lit(1L << b).cast("long"))): _*)))
        .withColumn("bucket", col("qbucket").bitwiseXOR(col("probe")))
      val c = Dedup.spread(emb)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
        .withColumn("bucket", Similarity.signBucket(col("cv"), 4))
      val scored = c.join(broadcast(q), Seq("bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("sim",
          round(VectorExpressions.cosineSim(col("qv"), col("cv")), 4))
      def run(label: String, df: => org.apache.spark.sql.DataFrame): Unit = {
        df.write.format("noop").mode("overwrite").save() // warm-up
        val times = Seq.fill(3) {
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          ms(t0)
        }.sorted
        println(s"E03RANK $label median=${times(1)}ms min=${times(0)}ms max=${times(2)}ms")
      }
      run("scored_only", scored)
      run("heap", Similarity.rankTopK(scored, 5))
      run("window", Similarity.rankTopKWindow(scored, 5))
      spark.stop(); return
    }

    if (names.contains("_d03stages")) {
      val docs = Tables.t(spark, sfDir, "documents")
      def time(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = f
        println(f"STAGE $label%-12s ${ms(t0)}%6dms rows=$n")
      }
      val prep = Dedup.minhashPrep(docs, 3, 16)
      time("prep")(prep.count())
      time("prep2")(prep.count())
      import org.apache.spark.sql.functions._
      val banded = prep
        .select(col("doc_id"),
          explode(TextFunctions.lshBands(col("sig"), 4, 4)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
      time("banded")(banded.count())
      val overCap = banded.groupBy("band", "bh").count()
        .filter(col("count") > 1000).select("band", "bh")
      val capped = banded.join(broadcast(overCap), Seq("band", "bh"), "left_anti")
      val cands = capped.alias("l").join(capped.alias("r"),
          col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("a"), col("r.doc_id").as("b")).distinct()
      time("cands")(cands.count())
      time("full")(Dedup.minhashNearDupPairs(docs, 3, 16, 4, 0.5).count())
      time("full2")(Dedup.minhashNearDupPairs(docs, 3, 16, 4, 0.5).count())
      spark.stop(); return
    }

    names.foreach { name =>
      // same per-query isolation contract as Bench (ManagedCache.scala's
      // documented driver duty): without it ~26 queries of persisted
      // frames accumulate, later timings run under eviction churn, and a
      // query sharing a sub-plan with an earlier one reads warm as "cold"
      spark.sharedState.cacheManager.clearCache()
      ManagedCache.releaseAll()
      val qq = QueryCatalog.byName(name)
      val t0 = System.nanoTime()
      val df = qq.build(spark, sfDir)
      df.queryExecution.analyzed // force analysis
      val buildMs = ms(t0)
      val (coldMs, coldJobs, coldClasses, _) = compiling {
        df.write.format("noop").mode("overwrite").save()
      }
      // classes a warm run compiles come from plans that differ between
      // runs, or from a codegen cache too small to hold them (graft.Session)
      val (warmMs, warmJobs, warmClasses, warmCompileMs) = compiling {
        qq.build(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      println(f"PROFILE $name%-28s build=${buildMs}%5dms " +
        f"cold=${coldMs}%6dms cold_jobs=${coldJobs}%3d " +
        f"cold_compiled=${coldClasses}%3d " +
        f"warm=${warmMs}%6dms warm_jobs=${warmJobs}%3d " +
        f"warm_compiled=${warmClasses}%3d " +
        f"warm_compile=${warmCompileMs}%5dms")
      // one more, untimed run whose own plan holds the exchanges' metrics
      // (the noop writes above plan and run a separate command): a
      // broadcast of a fact table shows as a build of its full row count
      val qe = qq.build(spark, sfDir).queryExecution
      qe.toRdd.foreach(_ => ())
      val estimated = chosenSides(qe.optimizedPlan)
      broadcasts(qe.executedPlan).foreach { b =>
        val est = estimated.get(b.output.map(_.exprId).toSet)
          .fold("")(n => s" est_rows=$n")
        println(f"BROADCAST $name%-28s " +
          f"rows=${b.metrics("numOutputRows").value}%9d " +
          f"data_bytes=${b.metrics("dataSize").value}%11d$est")
      }
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
        println(qq.build(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
