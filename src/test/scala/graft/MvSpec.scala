package graft

import org.apache.spark.sql.functions._

/** Materialized-view auto-rewrite: the rule redirects matching rollups to
  * the summary scan, declines everything unsound, and never changes rows. */
class MvSpec extends SparkSpec {

  private def scanRoots(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }.toSet
  private def mvScanned(df: org.apache.spark.sql.DataFrame): Boolean =
    scanRoots(df).exists(_.contains("q61_mv"))
  private def baseScanned(df: org.apache.spark.sql.DataFrame): Boolean =
    scanRoots(df).exists(_.contains("lineitem.parquet"))

  test("the rollup query rewrites to the summary scan and its rows equal " +
    "the base-table answer exactly (count, widened-sum, max all roll up)") {
    MvQueries.ensureMv(spark, sf)
    val on = MvQueries.rollupQuery(spark, sf)
    assert(mvScanned(on) && !baseScanned(on),
      s"rewrite must swap the scan:\n${on.queryExecution.optimizedPlan}")
    val got = on.orderBy("l_returnflag").collect()
    val want = Mv.withDisabled {
      val off = MvQueries.rollupQuery(spark, sf)
      assert(baseScanned(off) && !mvScanned(off),
        "control arm must scan the base table")
      off.orderBy("l_returnflag").collect()
    }
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq,
      s"rewrite must be row-invisible:\n got ${got.mkString("|")}\nwant " +
        want.mkString("|"))
    assert(got.nonEmpty && got.head.schema.fieldNames.toSeq ==
      Seq("l_returnflag", "n", "sum_qty", "max_price"))
  }

  test("grouping by ALL MV dims (no filter) also rewrites, and a parent " +
    "operator above the aggregate re-binds the preserved exprIds") {
    MvQueries.ensureMv(spark, sf)
    val on = Tables.t(spark, sf, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("l_returnflag"), col("l_linestatus"))
    assert(mvScanned(on), on.queryExecution.optimizedPlan.toString)
    val got = on.collect()
    val want = Mv.withDisabled {
      Tables.t(spark, sf, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("l_returnflag"), col("l_linestatus"))
        .collect()
    }
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("unsound shapes DECLINE: a non-dim filter, a non-registered " +
    "measure, a NON-DIM DISTINCT aggregate, and an avg each fall back to " +
    "the base scan (wrong rewrites fail toward no-rewrite)") {
    MvQueries.ensureMv(spark, sf)
    val li = Tables.t(spark, sf, "lineitem")
    val nonDimFilter = li.filter(col("l_quantity") > 10)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val nonMeasure = li.groupBy("l_returnflag")
      .agg(sum(col("l_tax").cast("decimal(18,2)")).as("t"))
    // distinct over a NON-dim column: the summary collapsed l_quantity's
    // value set per group, so the fold is impossible (the DIM-distinct
    // fold has its own test below)
    val distinctAgg = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_quantity")).as("d"))
    // sum(DISTINCT dim) would fold exactly too, but stays declined
    // (Count-only arm — decline-on-doubt for everything else)
    val sumDistinct = li.groupBy("l_returnflag")
      .agg(sum_distinct(col("l_quantity").cast("decimal(18,2)")).as("sd"))
    val avgAgg = li.groupBy("l_returnflag")
      .agg(avg(col("l_quantity")).as("a"))
    // a dim-only filter CARRYING A SCALAR SUBQUERY: even though its
    // outer references are all dims, the inner plan holds bindings the
    // scan swap cannot guarantee to re-map (a correlated variant would
    // break outright) — the PlanExpression guard declines it
    Tables.ensureRegistered(spark, sf)
    val subqFilter = spark.sql(
      """SELECT l_returnflag, count(1) AS n FROM lineitem
        |WHERE l_returnflag = (SELECT max(l_returnflag) FROM lineitem)
        |GROUP BY l_returnflag""".stripMargin)
    for ((df, label) <- Seq(
        (nonDimFilter, "non-dim filter"), (nonMeasure, "non-measure"),
        (distinctAgg, "non-dim distinct"), (sumDistinct, "sum distinct"),
        (avgAgg, "avg"), (subqFilter, "scalar-subquery filter")))
      assert(baseScanned(df) && !mvScanned(df),
        s"$label must decline the rewrite:\n" +
          df.queryExecution.optimizedPlan.toString)
    // and they still answer correctly off the base
    assert(nonDimFilter.collect().nonEmpty && avgAgg.collect().nonEmpty)
  }

  test("count(DISTINCT dim) FOLDS through the summary — grouped, global, " +
    "over an expression of the dim, and through the star-join path — " +
    "row-identical to the base plan; the non-dim form declines") {
    MvQueries.ensureMv(spark, sf)
    MvQueries.ensureJoinMv(spark, sf)
    val li = Tables.t(spark, sf, "lineitem")
    def check(on: org.apache.spark.sql.DataFrame,
        build: => org.apache.spark.sql.DataFrame, label: String): Unit = {
      assert(!baseScanned(on),
        s"$label must rewrite:\n${on.queryExecution.optimizedPlan}")
      val got = on.collect().map(_.toSeq).toSet
      val want = Mv.withDisabled { build.collect().map(_.toSeq).toSet }
      assert(got == want, s"$label must be row-invisible: $got vs $want")
    }
    // grouped: distinct statuses per flag, beside a plain measure
    def grouped = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("l_linestatus")).as("d"))
    check(grouped, grouped, "grouped dim-distinct")
    // global: one row, count(DISTINCT dim) over the whole summary
    def global = li.agg(countDistinct(col("l_returnflag")).as("d"))
    check(global, global, "global dim-distinct")
    // an EXPRESSION over dims: the distinct image of f over the
    // preserved dim set is preserved too
    def exprForm = li.groupBy("l_returnflag")
      .agg(countDistinct(concat(col("l_linestatus"), lit("_x"))).as("d"))
    check(exprForm, exprForm, "dim-expression distinct")
    // star-join path: count(DISTINCT fact dim) through fact ⋈ dim —
    // group-uniform multiplicity replicates summary rows, DISTINCT
    // collapses the replication
    def joined = li
      .join(Tables.t(spark, sf, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey")
      .agg(countDistinct(col("l_suppkey")).as("d"))
    val j = joined
    assert(scanRoots(j).exists(_.contains("q65_mv")),
      s"join dim-distinct must rewrite:\n${j.queryExecution.optimizedPlan}")
    check(j, joined, "join dim-distinct")
    // multi-child: count(DISTINCT dim1, dim2) folds the tuple set
    def pair = li.agg(
      countDistinct(col("l_returnflag"), col("l_linestatus")).as("d"))
    check(pair, pair, "dim-pair distinct")
  }

  test("a GLOBAL aggregate rewrites through the STAR-JOIN path, and the " +
    "empty-join corner (every summary row filtered out dim-side) returns " +
    "count 0 / sum NULL on both arms") {
    MvQueries.ensureJoinMv(spark, sf)
    val li = Tables.t(spark, sf, "lineitem")
    val su = Tables.t(spark, sf, "supplier")
    def probe(natMax: Int) = li
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .filter(col("s_nationkey") < natMax)
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
    val on = probe(10)
    assert(scanRoots(on).exists(_.contains("q65_mv")) && !baseScanned(on),
      s"global join rollup must rewrite:\n${on.queryExecution.optimizedPlan}")
    val got = on.collect().head
    val want = Mv.withDisabled { probe(10).collect().head }
    assert(got.toSeq == want.toSeq,
      s"global join rollup must be row-invisible: $got vs $want")
    // zero-row arm: a dim filter no supplier satisfies empties the join —
    // count must be 0 (not NULL) and sum NULL on BOTH arms
    val onEmpty = probe(-1)
    assert(scanRoots(onEmpty).exists(_.contains("q65_mv")),
      s"empty-corner probe must rewrite:\n" +
        onEmpty.queryExecution.optimizedPlan.toString)
    val gotE = onEmpty.collect().head
    val wantE = Mv.withDisabled { probe(-1).collect().head }
    assert(gotE.getLong(0) == 0L && gotE.isNullAt(1),
      s"empty join must read count 0 / sum NULL, got $gotE")
    assert(gotE.toSeq == wantE.toSeq, s"empty corner: $gotE vs $wantE")
  }

  test("freshness guard: a base table that gained files since " +
    "registration serves the BASE scan, never the stale summary") {
    val baseDir = Dml.work("mv_stale", sf) + "/base"
    Layouts.deleteDir(spark, baseDir)
    val li = Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity")
    li.write.parquet(baseDir)
    Mv.register(spark, "stale_probe", spark.read.parquet(baseDir),
      dims = Seq("l_returnflag"),
      aggCols = Seq(count(lit(1)).as("mv_cnt")),
      mvPath = Dml.work("mv_stale", sf) + "/summary")
    def probe() = spark.read.parquet(baseDir)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(scanRoots(probe()).exists(_.contains("summary")),
      "fresh registration must rewrite")
    // the base gains a file — the MV is now stale
    li.limit(7).write.mode("append").parquet(baseDir)
    val after = probe()
    assert(!scanRoots(after).exists(_.contains("summary")),
      s"stale MV must not serve:\n${after.queryExecution.optimizedPlan}")
    // and the answer reflects the appended rows
    assert(after.agg(sum("n")).collect().head.getLong(0) ==
      li.count() + 7)
  }

  test("incremental refresh folds ONLY the appended files into the " +
    "summary (delta=1 of 5 files), the refreshed MV serves the rewrite, " +
    "its answer equals the full recompute, and a no-change refresh is " +
    "a 0-delta no-op") {
    val root = Dml.work("mv_inc_spec", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    val li = Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_orderkey")
    li.repartition(4).write.parquet(baseDir) // 4 base files
    val d0 = Mv.register(spark, "inc_probe", spark.read.parquet(baseDir),
      dims = Seq("l_returnflag"),
      aggCols = Seq(
        count(lit(1)).as("mv_cnt"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("mv_sum"),
        min(col("l_orderkey")).as("mv_min")),
      mvPath = s"$root/summary")
    li.filter(col("l_orderkey") % 97 === 0)
      .repartition(1).write.mode("append").parquet(baseDir) // +1 file
    val (delta, total) = Mv.refreshIncremental(spark, d0.baseRoots)
    assert((delta, total) == (1, 5),
      s"refresh must fold exactly the appended file: $delta/$total")
    def probe() = spark.read.parquet(baseDir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("s"),
        min(col("l_orderkey")).as("m"))
    val served = probe()
    assert(scanRoots(served).exists(_.contains("summary_r1")),
      s"rewrite must serve the refreshed summary:\n" +
        served.queryExecution.optimizedPlan.toString)
    val got = served.orderBy("l_returnflag").collect()
    val want = Mv.withDisabled {
      probe().orderBy("l_returnflag").collect()
    }
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq,
      "the O(delta) fold must equal the full recompute exactly")
    // idle refresh: nothing new, nothing folded
    assert(Mv.refreshIncremental(spark, d0.baseRoots) == (0, 5))
  }

  test("incremental refresh REBUILDS when a base file disappears " +
    "(partial folds can't un-fold a min) — correct at full cost, never " +
    "silently wrong") {
    val root = Dml.work("mv_inc_rebuild", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    val li = Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity")
    li.repartition(3).write.parquet(baseDir)
    val d0 = Mv.register(spark, "rebuild_probe",
      spark.read.parquet(baseDir),
      dims = Seq("l_returnflag"),
      aggCols = Seq(count(lit(1)).as("mv_cnt")),
      mvPath = s"$root/summary")
    // a compaction-style rewrite: fewer, different files
    val snapshot = spark.read.parquet(baseDir).cache()
    snapshot.count()
    snapshot.repartition(1).write.mode("overwrite").parquet(baseDir)
    snapshot.unpersist()
    val (delta, _) = Mv.refreshIncremental(spark, d0.baseRoots)
    assert(delta == -1, "a removed file must take the rebuild path")
    val served = spark.read.parquet(baseDir)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(scanRoots(served).exists(_.contains("summary_r1")),
      "the rebuilt summary must serve")
    val got = served.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Mv.withDisabled {
      spark.read.parquet(baseDir).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(got == want)
  }

  test("a GLOBAL aggregate (no GROUP BY) rewrites as the single-group " +
    "rollup, and the zero-row corner returns count 0 (not NULL) through " +
    "the count-coalesce while sum stays NULL on both arms") {
    MvQueries.ensureMv(spark, sf)
    val li = Tables.t(spark, sf, "lineitem")
    def global(status: String) = li
      .filter(col("l_linestatus") === status)
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("s"),
        max(col("l_extendedprice")).as("m"))
    val on = global("F")
    assert(mvScanned(on) && !baseScanned(on),
      s"global rollups must rewrite:\n" +
        on.queryExecution.optimizedPlan.toString)
    val got = on.collect().head
    val want = Mv.withDisabled { global("F").collect().head }
    assert(got.toSeq == want.toSeq,
      s"global rollup must be row-invisible: got $got want $want")
    // the zero-row global group: the dim filter matches nothing, the
    // summary side folds ZERO rows — count must still be 0 (the naked
    // sum-of-counts would be NULL), sum/max NULL like the base
    val empty = global("ZZ")
    assert(mvScanned(empty),
      empty.queryExecution.optimizedPlan.toString)
    val er = empty.collect().head
    assert(er.getLong(0) == 0L && er.isNullAt(1) && er.isNullAt(2),
      s"zero-row global group must read (0, null, null): $er")
    val ew = Mv.withDisabled { global("ZZ").collect().head }
    assert(er.toSeq == ew.toSeq)
  }

  test("an aggregate with a FILTER clause declines — the generic " +
    "translation must not rebuild it over summary rows (it would " +
    "count MV rows, not base rows)") {
    MvQueries.ensureMv(spark, sf)
    Tables.ensureRegistered(spark, sf)
    val filtered = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |count(1) FILTER (WHERE l_linestatus = 'F') AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin)
    assert(!mvScanned(filtered) && baseScanned(filtered),
      s"FILTER-clause aggregate must decline:\n" +
        filtered.queryExecution.optimizedPlan.toString)
    // and the base answer is the true row count, not 0/1-per-group
    assert(filtered.collect().exists(_.getLong(2) > 1))
  }

  test("re-registering the same base to the same path works: the " +
    "materialization itself must not be rewritten onto the summary " +
    "directory register just deleted") {
    val root = Dml.work("mv_rereg", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity").write.parquet(baseDir)
    def reg() = Mv.register(spark, "rereg_probe",
      spark.read.parquet(baseDir), dims = Seq("l_returnflag"),
      aggCols = Seq(count(lit(1)).as("mv_cnt")),
      mvPath = s"$root/summary")
    reg()
    // first registration live and matching — a rewritten second
    // materialization would read the just-deleted summary dir
    reg()
    val served = spark.read.parquet(baseDir)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(scanRoots(served).exists(_.contains("summary")))
    val want = Mv.withDisabled {
      spark.read.parquet(baseDir).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(served.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      == want, "the re-registered summary must hold real counts")
  }

  test("epoch survives a rebuild: refresh after rebuild lands at the " +
    "NEXT versioned path instead of deleting the live summary out " +
    "from under its own fold") {
    val root = Dml.work("mv_epoch", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    val li = Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity")
    li.repartition(2).write.parquet(baseDir)
    val d0 = Mv.register(spark, "epoch_probe",
      spark.read.parquet(baseDir), dims = Seq("l_returnflag"),
      aggCols = Seq(count(lit(1)).as("mv_cnt")),
      mvPath = s"$root/summary")
    // force the rebuild path (fewer, different files)
    val snap = spark.read.parquet(baseDir).cache(); snap.count()
    snap.repartition(1).write.mode("overwrite").parquet(baseDir)
    snap.unpersist()
    assert(Mv.refreshIncremental(spark, d0.baseRoots)._1 == -1)
    // now APPEND and refresh incrementally on top of the rebuild —
    // with epoch reset to 0 this deleted summary_r1 mid-fold
    li.limit(5).repartition(1).write.mode("append").parquet(baseDir)
    val (delta, _) = Mv.refreshIncremental(spark, d0.baseRoots)
    assert(delta == 1, s"expected a 1-file fold, got $delta")
    val served = spark.read.parquet(baseDir)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(scanRoots(served).exists(_.contains("summary_r2")),
      s"post-rebuild refresh must land at _r2:\n" +
        served.queryExecution.optimizedPlan.toString)
    assert(served.agg(sum("n")).collect().head.getLong(0) ==
      li.count() + 5)
  }

  test("SQL statement lifecycle: CREATE MATERIALIZED VIEW serves plain " +
    "SQL aggregates, REFRESH folds an append in, DROP unregisters, and " +
    "a bare DROP of a missing view errors while IF EXISTS does not") {
    val ctx = new ExecutionContext(spark)
    val root = Dml.work("mv_sql_spec", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity")
      .repartition(3).write.parquet(baseDir)
    def freshView(): Unit = spark.read.parquet(baseDir)
      .createOrReplaceTempView("spec_mvsql_base")
    freshView()
    ctx.execute("""CREATE MATERIALIZED VIEW spec_mvsql AS
      SELECT l_returnflag, count(1) AS c FROM spec_mvsql_base
      GROUP BY l_returnflag""")
    def probe() = ctx.execute(
      "SELECT l_returnflag, count(1) AS n FROM spec_mvsql_base " +
        "GROUP BY l_returnflag")
    assert(scanRoots(probe()).exists(_.contains("mv_spec_mvsql")),
      s"statement-created MV must serve:\n" +
        probe().queryExecution.optimizedPlan.toString)
    // base gains a file; a fresh view sees it and DECLINES (stale fp)
    Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity").limit(7)
      .repartition(1).write.mode("append").parquet(baseDir)
    freshView()
    assert(!scanRoots(probe()).exists(_.contains("mv_spec_mvsql")),
      "a stale statement-created MV must not serve")
    // REFRESH folds exactly the appended file and serving resumes
    val r = ctx.execute("REFRESH MATERIALIZED VIEW spec_mvsql").collect()
    assert(r.head.getInt(0) == 1 && r.head.getInt(1) == 4,
      s"refresh must report a 1-of-4-file fold: ${r.head}")
    assert(scanRoots(probe()).exists(_.contains("mv_spec_mvsql")))
    val total = probe().agg(sum("n")).collect().head.getLong(0)
    assert(total == spark.read.parquet(baseDir).count())
    // DROP unregisters; the aggregate falls back to the base
    ctx.execute("DROP MATERIALIZED VIEW spec_mvsql")
    assert(!scanRoots(probe()).exists(_.contains("mv_spec_mvsql")))
    val e = intercept[IllegalArgumentException] {
      ctx.execute("DROP MATERIALIZED VIEW spec_mvsql")
    }
    assert(e.getMessage.contains("does not exist"))
    ctx.execute("DROP MATERIALIZED VIEW IF EXISTS spec_mvsql") // no throw
    spark.catalog.dropTempView("spec_mvsql_base")
  }

  test("HLL sketch measure: the coarser-grain estimate rewrites to a " +
    "sketch-union over the summary, returns the BIT-IDENTICAL estimate " +
    "of the base-table plan, stays within 5% of exact, and an " +
    "incremental refresh folds sketches without changing the answer") {
    val root = Dml.work("mv_hll_spec", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    val cust = Tables.t(spark, sf, "customer")
      .select("c_mktsegment", "c_nationkey", "c_custkey")
    cust.repartition(3).write.parquet(baseDir)
    val d0 = Mv.register(spark, "hll_probe", spark.read.parquet(baseDir),
      dims = Seq("c_mktsegment", "c_nationkey"),
      aggCols = Seq(hll_sketch_agg(col("c_custkey")).as("mv_cust")),
      mvPath = s"$root/summary")
    def probe() = spark.read.parquet(baseDir)
      .groupBy("c_mktsegment")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("c_custkey")))
        .as("approx"))
    val served = probe()
    assert(scanRoots(served).exists(_.contains("summary")),
      s"sketch rollup must rewrite:\n" +
        served.queryExecution.optimizedPlan.toString)
    val got = served.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Mv.withDisabled {
      probe().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(got == want,
      s"union-of-sketches must equal sketch-of-union exactly:\n$got\n$want")
    val exact = spark.read.parquet(baseDir).groupBy("c_mktsegment")
      .agg(countDistinct(col("c_custkey")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (seg, e) =>
      assert(math.abs(got(seg) - e).toDouble / e <= 0.05,
        s"estimate off by >5% for $seg: ${got(seg)} vs $e")
    }
    // append new customers (shifted keys so they are genuinely new
    // distincts) and fold incrementally — the refreshed summary's
    // estimate must equal the full recompute's, bit for bit
    spark.read.parquet(baseDir)
      .withColumn("c_custkey", col("c_custkey") + 10000000L)
      .limit(500).repartition(1)
      .write.mode("append").parquet(baseDir)
    val (delta, _) = Mv.refreshIncremental(spark, d0.baseRoots)
    assert(delta == 1, s"expected a 1-file sketch fold, got $delta")
    val refreshed = probe()
    assert(scanRoots(refreshed).exists(_.contains("summary_r1")))
    val got2 = refreshed.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want2 = Mv.withDisabled {
      probe().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(got2 == want2,
      "folded sketches must estimate identically to the recompute")
    assert(got2.values.sum > got.values.sum,
      "the appended distincts must be visible through the fold")
  }

  test("registration rejects duplicate measure expressions (one " +
    "structural key cannot serve two columns)") {
    val e = intercept[IllegalArgumentException] {
      Mv.register(spark, "dup", Tables.t(spark, sf, "lineitem"),
        dims = Seq("l_returnflag"),
        aggCols = Seq(count(lit(1)).as("a"), count(lit(1)).as("b")),
        mvPath = Dml.work("mv_dup", sf) + "/summary")
    }
    assert(e.getMessage.contains("duplicate measure"))
  }

  test("registration rejects a measure that cannot roll up losslessly") {
    val e = intercept[IllegalArgumentException] {
      Mv.register(spark, "bad", Tables.t(spark, sf, "lineitem"),
        dims = Seq("l_returnflag"),
        aggCols = Seq(avg("l_quantity").as("mv_avg")),
        mvPath = Dml.work("mv_bad", sf) + "/summary")
    }
    assert(e.getMessage.contains("roll"))
  }

  test("registration rejects DISTINCT and FILTER-clause measures: both " +
    "would structurally collide with the plain call and rewrite plain " +
    "aggregates to the wrong partials") {
    val li = Tables.t(spark, sf, "lineitem")
    val e1 = intercept[IllegalArgumentException] {
      Mv.register(spark, "bad_distinct", li,
        dims = Seq("l_returnflag"),
        aggCols = Seq(countDistinct(col("l_linestatus")).as("mv_d")),
        mvPath = Dml.work("mv_bad_d", sf) + "/summary")
    }
    assert(e1.getMessage.contains("DISTINCT or FILTER"))
    val e2 = intercept[IllegalArgumentException] {
      Mv.register(spark, "bad_filter", li,
        dims = Seq("l_returnflag"),
        aggCols = Seq(
          expr("count(l_quantity) FILTER (WHERE l_linestatus = 'F')")
            .as("mv_f")),
        mvPath = Dml.work("mv_bad_f", sf) + "/summary")
    }
    assert(e2.getMessage.contains("DISTINCT or FILTER"))
  }

  test("registration rejects a PRE-FILTERED base (the predicate would " +
    "be invisible to query matching) and directs to the where parameter") {
    val e = intercept[IllegalArgumentException] {
      Mv.register(spark, "bad_prefiltered",
        Tables.t(spark, sf, "lineitem").filter(col("l_quantity") > 10),
        dims = Seq("l_returnflag"),
        aggCols = Seq(count(lit(1)).as("mv_cnt")),
        mvPath = Dml.work("mv_bad_pref", sf) + "/summary")
    }
    assert(e.getMessage.contains("where"))
  }

  test("a base file rewritten IN PLACE (same path, new length/mtime) is " +
    "caught: the summary declines and refresh takes the rebuild path — " +
    "a path-only fingerprint served stale answers here") {
    val root = Dml.work("mv_inplace", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    val li = Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity")
    li.repartition(2).write.parquet(baseDir)
    val d0 = Mv.register(spark, "inplace_probe",
      spark.read.parquet(baseDir), dims = Seq("l_returnflag"),
      aggCols = Seq(count(lit(1)).as("mv_cnt")),
      mvPath = s"$root/summary")
    def probe() = spark.read.parquet(baseDir)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(scanRoots(probe()).exists(_.contains("summary")))
    // replace one committed part file IN PLACE: same path, new content
    val conf = spark.sparkContext.hadoopConfiguration
    val basePath = new org.apache.hadoop.fs.Path(baseDir)
    val fs = basePath.getFileSystem(conf)
    val part = fs.listStatus(basePath)
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val tmpDir = s"$root/replacement"
    li.limit(5).repartition(1).write.parquet(tmpDir)
    val repl = fs.listStatus(new org.apache.hadoop.fs.Path(tmpDir))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.delete(part, false)
    fs.rename(repl, part)
    val after = probe()
    assert(!scanRoots(after).exists(_.contains("summary")),
      s"an in-place rewritten base file must decline the stale summary:\n" +
        after.queryExecution.optimizedPlan.toString)
    // and refresh classifies the changed path as a rebuild, not a fold
    val (delta, _) = Mv.refreshIncremental(spark, "inplace_probe")
    assert(delta == -1, s"in-place change must rebuild, got delta=$delta")
    val served = probe()
    assert(scanRoots(served).exists(_.contains("summary_r1")))
    assert(served.agg(sum("n")).collect().head.getLong(0) ==
      spark.read.parquet(baseDir).count())
  }

  test("several summaries over ONE base coexist (register no longer " +
    "clobbers) and the coarser query is served by the SMALLEST covering " +
    "summary") {
    val root = Dml.work("mv_multi", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity")
      .write.parquet(baseDir)
    Mv.register(spark, "grain_fine", spark.read.parquet(baseDir),
      dims = Seq("l_returnflag", "l_linestatus"),
      aggCols = Seq(count(lit(1)).as("mv_cnt")),
      mvPath = s"$root/fine")
    Mv.register(spark, "grain_coarse", spark.read.parquet(baseDir),
      dims = Seq("l_returnflag"),
      aggCols = Seq(count(lit(1)).as("mv_cnt")),
      mvPath = s"$root/coarse")
    assert(Mv.byName("grain_fine").isDefined &&
      Mv.byName("grain_coarse").isDefined,
      "both summaries must stay registered")
    assert(Mv.byName("grain_coarse").get.mvRows <
      Mv.byName("grain_fine").get.mvRows)
    val coarseQ = spark.read.parquet(baseDir)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(scanRoots(coarseQ).exists(_.endsWith("coarse")),
      s"the coarse query must pick the smaller summary:\n" +
        coarseQ.queryExecution.optimizedPlan.toString)
    val fineQ = spark.read.parquet(baseDir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
    assert(scanRoots(fineQ).exists(_.endsWith("fine")),
      s"only the fine summary covers the fine grain:\n" +
        fineQ.queryExecution.optimizedPlan.toString)
    for (df <- Seq(coarseQ, fineQ)) {
      val got = df.collect().map(_.toSeq).toSet
      val want = Mv.withDisabled {
        spark.read.parquet(baseDir)
          .groupBy(df.columns.dropRight(1).map(col).toIndexedSeq: _*)
          .agg(count(lit(1)).as("n")).collect().map(_.toSeq).toSet
      }
      assert(got == want)
    }
  }

  test("STAR-JOIN rewrite: fact ⋈ dim GROUP BY dim.attr swaps only the " +
    "fact side to the summary, keeps the supplier scan, and matches the " +
    "base answer exactly") {
    MvQueries.ensureJoinMv(spark, sf)
    val on = MvQueries.joinQuery(spark, sf)
    assert(scanRoots(on).exists(_.contains("q65_mv")),
      s"fact side must be the summary:\n" +
        on.queryExecution.optimizedPlan.toString)
    assert(!scanRoots(on).exists(_.contains("lineitem.parquet")),
      "the base fact scan must be gone")
    assert(scanRoots(on).exists(_.contains("supplier.parquet")),
      "the dim side must stay")
    val got = on.orderBy("s_name").collect().map(_.toSeq).toSeq
    val want = Mv.withDisabled {
      val off = MvQueries.joinQuery(spark, sf)
      assert(scanRoots(off).exists(_.contains("lineitem.parquet")))
      off.orderBy("s_name").collect().map(_.toSeq).toSeq
    }
    assert(got == want, s"join rewrite must be row-invisible:\n$got\n$want")
  }

  test("star-join declines: non-dim join key, fact-side non-dim filter, " +
    "full-outer join, and a DIM column renamed to collide with a fact " +
    "measure's name (the exprId guard, not names, must decide)") {
    MvQueries.ensureJoinMv(spark, sf)
    val li = Tables.t(spark, sf, "lineitem")
    val supp = Tables.t(spark, sf, "supplier")
    def mvServed(df: org.apache.spark.sql.DataFrame) =
      scanRoots(df).exists(_.contains("q65_mv"))
    val nonDimKey = li
      .join(supp, col("l_orderkey") === col("s_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("n"))
    val nonDimFilter = li.filter(col("l_quantity") > 10)
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("n"))
    val fullOuter = li
      .join(supp, col("l_suppkey") === col("s_suppkey"), "full_outer")
      .groupBy("s_name").agg(count(lit(1)).as("n"))
    // supplier's s_acctbal renamed to the fact measure child's name:
    // sum(CAST(l_extendedprice AS ...)) over the DIM side structurally
    // collides with the registered mv_rev key — only the exprId
    // fact-reference guard stops a silently wrong rewrite
    val renamed = supp.withColumnRenamed("s_acctbal", "l_extendedprice")
    val nameTrap = li.select("l_suppkey", "l_returnflag")
      .join(renamed, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("t"))
    for ((df, label) <- Seq(
        (nonDimKey, "non-dim join key"),
        (nonDimFilter, "fact-side non-dim filter"),
        (fullOuter, "full-outer join"),
        (nameTrap, "dim column renamed onto a fact measure")))
      assert(!mvServed(df),
        s"$label must decline the star-join rewrite:\n" +
          df.queryExecution.optimizedPlan.toString)
    // and the name trap still answers correctly off the base
    val got = nameTrap.orderBy("s_name").collect().map(_.toSeq)
    val want = Mv.withDisabled {
      nameTrap.orderBy("s_name").collect().map(_.toSeq)
    }
    assert(got.toSeq == want.toSeq)
  }

  test("avg rewrites via the (sum, count) measure pair BIT-IDENTICALLY " +
    "for decimal and long children, returns NULL for an all-null group, " +
    "and DECLINES for a double child (partial double sums re-associate)") {
    // decimal child through the q61 summary (which carries the pair)
    MvQueries.ensureMv(spark, sf)
    val decQ = Tables.t(spark, sf, "lineitem")
      .filter(col("l_linestatus") === "F")
      .groupBy("l_returnflag")
      .agg(avg(col("l_quantity").cast("decimal(18,2)")).as("avg_qty"))
    assert(scanRoots(decQ).exists(_.contains("q61_mv")),
      s"decimal avg must serve from the pair:\n" +
        decQ.queryExecution.optimizedPlan.toString)
    val gotDec = decQ.orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    val wantDec = Mv.withDisabled {
      decQ.orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    }
    assert(gotDec == wantDec,
      s"decimal avg must be bit-identical:\n$gotDec\n$wantDec")
    // long child + an ALL-NULL group, on a private base
    val root = Dml.work("mv_avg", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    import spark.implicits._
    Seq(("a", Some(10L)), ("a", Some(20L)), ("b", None), ("b", None),
      ("c", Some(7L)))
      .toDF("g", "x").write.parquet(baseDir)
    Mv.register(spark, "avg_pair_probe", spark.read.parquet(baseDir),
      dims = Seq("g"),
      aggCols = Seq(sum(col("x")).as("mv_s"), count(col("x")).as("mv_c")),
      mvPath = s"$root/summary")
    val longQ = spark.read.parquet(baseDir)
      .groupBy("g").agg(avg(col("x")).as("a"))
    assert(scanRoots(longQ).exists(_.contains("mv_avg")),
      s"long avg must serve:\n${longQ.queryExecution.optimizedPlan}")
    val gotLong = longQ.orderBy("g").collect().map(_.toSeq).toSeq
    val wantLong = Mv.withDisabled {
      longQ.orderBy("g").collect().map(_.toSeq).toSeq
    }
    assert(gotLong == wantLong)
    assert(gotLong.exists(r => r.head == "b" && r(1) == null),
      s"the all-null group must average to NULL: $gotLong")
    // double child declines even WITH a registered pair
    val dblDir = s"$root/dbl"
    Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity").write.parquet(dblDir)
    Mv.register(spark, "avg_dbl_probe", spark.read.parquet(dblDir),
      dims = Seq("l_returnflag"),
      aggCols = Seq(sum(col("l_quantity")).as("mv_s"),
        count(col("l_quantity")).as("mv_c")),
      mvPath = s"$root/dbl_summary")
    val dblQ = spark.read.parquet(dblDir)
      .groupBy("l_returnflag").agg(avg(col("l_quantity")).as("a"))
    assert(!scanRoots(dblQ).exists(_.contains("dbl_summary")),
      s"double avg must decline (re-association):\n" +
        dblQ.queryExecution.optimizedPlan.toString)
    // but the PAIR still serves sum and count themselves for doubles
    val pairQ = spark.read.parquet(dblDir)
      .groupBy("l_returnflag")
      .agg(count(col("l_quantity")).as("n"))
    assert(scanRoots(pairQ).exists(_.contains("dbl_summary")))
  }

  test("TIME-GRAIN rollup: GROUP BY year(dim) (and a year+month pair) " +
    "over a daily-grain summary rewrites and matches the base answer; " +
    "an expression over a NON-dim column declines") {
    val root = Dml.work("mv_grain", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    Tables.t(spark, sf, "orders")
      .select("o_orderdate", "o_totalprice", "o_orderkey")
      .write.parquet(baseDir)
    Mv.register(spark, "grain_probe", spark.read.parquet(baseDir),
      dims = Seq("o_orderdate"),
      aggCols = Seq(count(lit(1)).as("mv_cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("mv_t")),
      mvPath = s"$root/summary")
    val yearQ = spark.read.parquet(baseDir)
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("t"))
    assert(scanRoots(yearQ).exists(_.contains("mv_grain/summary")),
      s"year(dim) must roll up from the daily summary:\n" +
        yearQ.queryExecution.optimizedPlan.toString)
    val got = yearQ.orderBy("y").collect().map(_.toSeq).toSeq
    val want = Mv.withDisabled {
      yearQ.orderBy("y").collect().map(_.toSeq).toSeq
    }
    assert(got == want, s"time-grain rollup must be row-invisible")
    // two grouping expressions over one dim: (year, month)
    val ymQ = spark.read.parquet(baseDir)
      .groupBy(year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"))
    assert(scanRoots(ymQ).exists(_.contains("mv_grain/summary")),
      ymQ.queryExecution.optimizedPlan.toString)
    val gotYm = ymQ.orderBy("y", "m").collect().map(_.toSeq).toSeq
    val wantYm = Mv.withDisabled {
      ymQ.orderBy("y", "m").collect().map(_.toSeq).toSeq
    }
    assert(gotYm == wantYm)
    // an expression over a NON-dim column cannot roll up
    val nonDim = spark.read.parquet(baseDir)
      .groupBy((col("o_orderkey") % 10).as("b"))
      .agg(count(lit(1)).as("n"))
    assert(!scanRoots(nonDim).exists(_.contains("mv_grain/summary")),
      s"f(non-dim) must decline:\n" +
        nonDim.queryExecution.optimizedPlan.toString)
  }

  test("partial-MV predicate matching in the STAR-JOIN path is " +
    "relation-aware: a DIM-side column sharing the predicate column's " +
    "NAME neither satisfies coverage nor is consumed, while the real " +
    "fact-side predicate serves") {
    val root = Dml.work("mv_jpartial", sf)
    Layouts.deleteDir(spark, root)
    import spark.implicits._
    (0L until 3000L).map(i => (i % 50, if (i % 3 == 0) "F" else "O", i))
      .toDF("k", "status", "v").write.parquet(s"$root/fact")
    (0L until 50L).map(i => (i, "F", s"dim_$i"))
      .toDF("kk", "status", "dname").write.parquet(s"$root/dim")
    val f = spark.read.parquet(s"$root/fact")
    val dm = spark.read.parquet(s"$root/dim")
    Mv.register(spark, "jpartial_probe", f,
      dims = Seq("k"),
      aggCols = Seq(count(lit(1)).as("mv_cnt")),
      mvPath = s"$root/summary",
      where = Some(col("status") === "F"))
    // the DIM's status column canonically collides with the predicate;
    // consuming it would BOTH serve groups missing non-'F' fact rows
    // AND drop the dim filter from the plan — must decline
    val collide = f.join(dm, f("k") === dm("kk"))
      .filter(dm("status") === "F")
      .groupBy(dm("dname")).agg(count(lit(1)).as("n"))
    assert(!scanRoots(collide).exists(_.contains("mv_jpartial/summary")),
      s"a dim-side name collision must not satisfy the predicate:\n" +
        collide.queryExecution.optimizedPlan.toString)
    // the genuine fact-side restatement serves and is consumed
    val served = f.filter(f("status") === "F")
      .join(dm, f("k") === dm("kk"))
      .groupBy(dm("dname")).agg(count(lit(1)).as("n"))
    assert(scanRoots(served).exists(_.contains("mv_jpartial/summary")),
      s"the fact-side predicate must serve:\n" +
        served.queryExecution.optimizedPlan.toString)
    val got = served.orderBy("dname").collect().map(_.toSeq).toSeq
    val want = Mv.withDisabled {
      served.orderBy("dname").collect().map(_.toSeq).toSeq
    }
    assert(got == want)
  }

  test("a null-tolerant defining predicate (coalesce) does not poison " +
    "the provably-non-null set: an explicit IS NOT NULL on the " +
    "predicate column DECLINES instead of being consumed (the summary " +
    "holds the null rows the query excludes)") {
    val root = Dml.work("mv_nulltol", sf)
    Layouts.deleteDir(spark, root)
    import spark.implicits._
    Seq(("a", Some(9L)), ("a", None), ("a", None), ("b", Some(7L)),
      ("b", None), ("b", Some(2L)))
      .toDF("g", "x").write.parquet(s"$root/base")
    val base = spark.read.parquet(s"$root/base")
    // coalesce(x, 10) > 5 KEEPS null-x rows — x is NOT non-null on
    // summary rows even though a comparison references it
    Mv.register(spark, "nulltol_probe", base,
      dims = Seq("g"),
      aggCols = Seq(count(lit(1)).as("mv_cnt")),
      mvPath = s"$root/summary",
      where = Some(expr("coalesce(x, 10) > 5")))
    val q = base
      .filter(expr("coalesce(x, 10) > 5") && col("x").isNotNull)
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(!scanRoots(q).exists(_.contains("summary")),
      s"IS NOT NULL on a null-tolerant predicate column must decline:\n" +
        q.queryExecution.optimizedPlan.toString)
    // the declined query's base answer excludes the null rows the
    // summary counted: a(9) and b(7) only
    val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 1L, "b" -> 1L), got.toString)
    // contrast: a BARE-attribute comparison predicate still consumes
    // the inferred isnotnull and serves
    Mv.register(spark, "nulltol_bare", base,
      dims = Seq("g"),
      aggCols = Seq(count(lit(1)).as("mv_cnt")),
      mvPath = s"$root/summary_bare",
      where = Some(col("x") > 5))
    val bare = base.filter(col("x") > 5)
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(scanRoots(bare).exists(_.contains("summary_bare")),
      s"a bare-attribute predicate must still serve:\n" +
        bare.queryExecution.optimizedPlan.toString)
    assert(bare.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      == Map("a" -> 1L, "b" -> 1L))
  }

  test("MV over the VERSIONED STORE: a plain version serves raw scans; " +
    "an insert-only MoR commit refreshes as an O(append) FOLD (raw file " +
    "diffing would rebuild forever — sidecar files change every " +
    "commit); an update commit (vector grew) takes the rebuild path; " +
    "the summary equals the full recompute throughout") {
    val root = Dml.work("mv_store", sf)
    Layouts.deleteDir(spark, root)
    val storeDir = s"$root/store"
    val base = spark.range(4000).select(col("id"),
      (col("id") % 5).cast("string").as("g"),
      (col("id") % 97).as("x"))
    // publish a plain committed table (the store's v0)
    Dml.publish(base, storeDir)
    val d0 = Mv.registerStore(spark, "store_probe", storeDir,
      dims = Seq("g"),
      aggCols = Seq(count(lit(1)).as("mv_cnt"), sum(col("x")).as("mv_s")),
      mvPath = s"$root/summary")
    def recompute() = Mv.withDisabled {
      Dml.readLatest(spark, storeDir).groupBy("g")
        .agg(count(lit(1)).as("mv_cnt"), sum(col("x")).as("mv_s"))
        .collect().map(_.toSeq).toSet
    }
    def summary() = Mv.withDisabled {
      spark.read.parquet(Mv.byName("store_probe").get.mvPath)
        .collect().map(_.toSeq).toSet
    }
    assert(summary() == recompute())
    // a PLAIN version's data dir serves raw aggregate scans
    val served = spark.read.parquet(s"$storeDir/v0")
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(scanRoots(served).exists(_.contains("summary")),
      s"a plain store version must serve:\n" +
        served.queryExecution.optimizedPlan.toString)
    // INSERT-ONLY MoR commit: 500 new rows land in the append sidecar
    val inserts = spark.range(4000, 4500).select(col("id").as("sk"),
      (col("id") % 5).cast("string").as("sg"), (col("id") % 97).as("sx"))
    Dml.mergeOnRead(spark, storeDir, inserts,
      col("t.id") === col("s.sk"), Map("x" -> col("t.x")),
      Some(Seq("id", "g", "x")),
      Some(Seq(col("s.sk"), col("s.sg"), col("s.sx"))))
    val (delta1, total1) = Mv.refreshIncremental(spark, "store_probe")
    assert(delta1 == 500 && total1 == 4500,
      s"insert-only commit must FOLD exactly the appended rows: " +
        s"($delta1, $total1)")
    assert(summary() == recompute(),
      "the O(append) fold must equal the full recompute")
    // a second insert-only commit folds only ITS delta (the append
    // sidecar is rewritten each commit; the row-multiset diff must
    // not re-fold the first 500)
    val inserts2 = spark.range(4500, 4800).select(col("id").as("sk"),
      (col("id") % 5).cast("string").as("sg"), (col("id") % 97).as("sx"))
    Dml.mergeOnRead(spark, storeDir, inserts2,
      col("t.id") === col("s.sk"), Map("x" -> col("t.x")),
      Some(Seq("id", "g", "x")),
      Some(Seq(col("s.sk"), col("s.sg"), col("s.sx"))))
    val (delta2, total2) = Mv.refreshIncremental(spark, "store_probe")
    assert(delta2 == 300 && total2 == 4800, s"($delta2, $total2)")
    assert(summary() == recompute())
    // UPDATE commit: matched base rows grow the deletion vector — a
    // partial fold can't un-count them; the refresh must REBUILD
    val updates = spark.range(100).select(col("id").as("sk"),
      lit("zz").as("sg"), lit(-1L).as("sx"))
    Dml.mergeOnRead(spark, storeDir, updates,
      col("t.id") === col("s.sk"), Map("x" -> col("s.sx")),
      None, None)
    val (delta3, _) = Mv.refreshIncremental(spark, "store_probe")
    assert(delta3 == -1,
      s"an update commit must take the rebuild path, got $delta3")
    assert(summary() == recompute(),
      "the rebuilt summary must equal the full recompute")
    // idle refresh after the rebuild: no commit, no work
    assert(Mv.refreshIncremental(spark, "store_probe")._1 == 0)
  }

  test("a WHERE-clause (partial) summary serves only queries restating " +
    "the predicate, consumes it rather than re-applying it, declines " +
    "without it, and refresh folds the delta THROUGH the predicate") {
    val root = Dml.work("mv_partial", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    val li = Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_orderkey")
    li.repartition(3).write.parquet(baseDir)
    Mv.register(spark, "partial_probe", spark.read.parquet(baseDir),
      dims = Seq("l_returnflag"),
      aggCols = Seq(count(lit(1)).as("mv_cnt")),
      mvPath = s"$root/summary",
      where = Some(col("l_linestatus") === "F"))
    def withPred() = spark.read.parquet(baseDir)
      .filter(col("l_linestatus") === "F")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val served = withPred()
    assert(scanRoots(served).exists(_.contains("summary")),
      s"a query restating the predicate must serve:\n" +
        served.queryExecution.optimizedPlan.toString)
    val got = served.orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    val want = Mv.withDisabled {
      withPred().orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    }
    assert(got == want, "the consumed predicate must not change rows")
    // no predicate, or a DIFFERENT predicate: the summary lost rows
    val noPred = spark.read.parquet(baseDir)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val otherPred = spark.read.parquet(baseDir)
      .filter(col("l_linestatus") === "O")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    for ((df, label) <- Seq((noPred, "no predicate"),
        (otherPred, "different predicate")))
      assert(!scanRoots(df).exists(_.contains("summary")),
        s"$label must decline the partial summary:\n" +
          df.queryExecution.optimizedPlan.toString)
    // append rows of BOTH statuses; the fold must only count the
    // predicate's rows
    li.filter(col("l_orderkey") % 97 === 0)
      .repartition(1).write.mode("append").parquet(baseDir)
    val (delta, _) = Mv.refreshIncremental(spark, "partial_probe")
    assert(delta == 1, s"expected a 1-file fold, got $delta")
    val refreshed = withPred()
    assert(scanRoots(refreshed).exists(_.contains("summary_r1")))
    val got2 = refreshed.orderBy("l_returnflag").collect().map(_.toSeq)
    val want2 = Mv.withDisabled {
      withPred().orderBy("l_returnflag").collect().map(_.toSeq)
    }
    assert(got2.toSeq == want2.toSeq,
      "the predicate-filtered fold must equal the full recompute")
  }

  test("partial-MV RANGE IMPLICATION: a strictly tighter query range " +
    "covers the defining predicate with the residual re-applied on the " +
    "dim; the exact boundary consumes; a looser range declines") {
    val baseDir = MvQueries.ensureRangeMv(spark, sf)
    def q(cut: String) = spark.read.parquet(baseDir)
      .filter(col("o_orderdate") >= lit(java.sql.Date.valueOf(cut)))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
    // the private base dir ALSO lives under q73_mv_range — the probe
    // must anchor on the summary subdirectory specifically
    def summaryScanned(df: org.apache.spark.sql.DataFrame) =
      scanRoots(df).exists(_.contains("q73_mv_range/summary"))
    // tighter: 1996 ⊂ 1995 — implication covers, residual on the dim
    val covered = q("1996-01-01")
    assert(summaryScanned(covered),
      s"implied-covered must serve:\n" +
        covered.queryExecution.optimizedPlan.toString)
    val got = covered.orderBy("o_orderpriority").collect().map(_.toSeq)
    val want = Mv.withDisabled {
      q("1996-01-01").orderBy("o_orderpriority").collect().map(_.toSeq)
    }
    assert(got.toSeq == want.toSeq,
      "the implied-range rewrite must be row-invisible")
    // exact boundary: canon match, predicate CONSUMED (no residual)
    assert(summaryScanned(q("1995-01-01")))
    // looser: 1994 ⊅ 1995 — the summary lost 1994 rows; decline
    val looser = q("1994-06-01")
    assert(!summaryScanned(looser),
      s"a looser range must decline:\n" +
        looser.queryExecution.optimizedPlan.toString)
    // BETWEEN splits into (>= lo AND <= hi): the >= conjunct implies
    // the defining predicate, the <= conjunct is an ordinary dim-only
    // leftover — both residuals re-apply on the summary
    def between() = spark.read.parquet(baseDir)
      .filter(col("o_orderdate")
        .between(lit(java.sql.Date.valueOf("1996-01-01")),
          lit(java.sql.Date.valueOf("1996-06-30"))))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
    val ranged = between()
    assert(summaryScanned(ranged),
      s"a BETWEEN inside the defining range must serve:\n" +
        ranged.queryExecution.optimizedPlan.toString)
    val gotB = ranged.orderBy("o_orderpriority").collect().map(_.toSeq)
    val wantB = Mv.withDisabled {
      between().orderBy("o_orderpriority").collect().map(_.toSeq)
    }
    assert(gotB.toSeq == wantB.toSeq)
    // IN-list: every element inside the defining range implies it (the
    // IN stays a dim residual); one element OUTSIDE the range declines
    def inList(dates: String*) = spark.read.parquet(baseDir)
      .filter(col("o_orderdate").isin(
        dates.map(java.sql.Date.valueOf): _*))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
    val inCovered = inList("1996-01-01", "1996-03-15")
    assert(summaryScanned(inCovered),
      s"an IN-list inside the range must serve:\n" +
        inCovered.queryExecution.optimizedPlan.toString)
    val gotI = inCovered.orderBy("o_orderpriority").collect().map(_.toSeq)
    val wantI = Mv.withDisabled {
      inList("1996-01-01", "1996-03-15")
        .orderBy("o_orderpriority").collect().map(_.toSeq)
    }
    assert(gotI.toSeq == wantI.toSeq)
    assert(!summaryScanned(inList("1996-01-01", "1994-03-15")),
      "an IN-list with an element outside the range must decline")
  }

  test("range implication declines when the residual references a " +
    "NON-dim column the summary no longer carries") {
    val root = Dml.work("mv_range_nondim", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    Tables.t(spark, sf, "orders")
      .select("o_orderpriority", "o_totalprice").write.parquet(baseDir)
    Mv.register(spark, "orders_price_part", spark.read.parquet(baseDir),
      dims = Seq("o_orderpriority"),
      aggCols = Seq(count(lit(1)).as("pmv_cnt")),
      mvPath = s"$root/summary",
      where = Some(col("o_totalprice") > 1000.0))
    def q(cut: Double) = spark.read.parquet(baseDir)
      .filter(col("o_totalprice") > cut)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    // exact restatement: consumed, serves (o_totalprice never needed
    // on the summary side)
    assert(scanRoots(q(1000.0)).exists(_.contains("summary")))
    // tighter range IMPLIES the predicate, but the residual
    // `o_totalprice > 5000` must re-apply on the summary — which has
    // no o_totalprice column; the dim-only leftover check declines
    val tighter = q(5000.0)
    assert(!scanRoots(tighter).exists(_.contains("summary")),
      s"a non-dim residual must decline:\n" +
        tighter.queryExecution.optimizedPlan.toString)
    Mv.drop(spark, "orders_price_part")
  }

  test("star-join rewrite survives a fact-side Project ALIAS used as " +
    "the join key (inlined before the dims guard), and an alias hiding " +
    "a NON-dim fact column declines instead of dangling") {
    MvQueries.ensureJoinMv(spark, sf)
    val sup = Tables.t(spark, sf, "supplier")
    // alias over the dim: inlines to l_suppkey, rewrites correctly
    val aliased = Tables.t(spark, sf, "lineitem")
      .select(col("l_suppkey").as("sk"), col("l_extendedprice"))
      .join(sup, col("sk") === col("s_suppkey"))
      .filter(col("s_nationkey") < 10)
      .groupBy("s_name").agg(count(lit(1)).as("n"))
    assert(scanRoots(aliased).exists(_.contains("q65_mv")),
      s"an aliased dim join key must still rewrite:\n" +
        aliased.queryExecution.optimizedPlan.toString)
    val got = aliased.orderBy("s_name").collect().map(_.toSeq)
    val want = Mv.withDisabled {
      Tables.t(spark, sf, "lineitem")
        .select(col("l_suppkey").as("sk"), col("l_extendedprice"))
        .join(sup, col("sk") === col("s_suppkey"))
        .filter(col("s_nationkey") < 10)
        .groupBy("s_name").agg(count(lit(1)).as("n"))
        .orderBy("s_name").collect().map(_.toSeq)
    }
    assert(got.toSeq == want.toSeq,
      "the alias-inlined join rewrite must be row-invisible")
    // alias hiding a NON-dim fact column: the inlined condition exposes
    // l_orderkey (not a dim) — decline, and crucially no dangling
    // reference crash at execution
    val hidden = Tables.t(spark, sf, "lineitem")
      .select((col("l_orderkey") % 100).as("sk"), col("l_extendedprice"))
      .join(sup, col("sk") === col("s_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("n"))
    assert(!scanRoots(hidden).exists(_.contains("q65_mv")),
      s"a non-dim fact ref behind an alias must decline:\n" +
        hidden.queryExecution.optimizedPlan.toString)
    assert(hidden.collect().nonEmpty) // and it executes on the base
  }

  test("MULTI-DIM star: fact ⋈ supplier ⋈ nation rewrites through the " +
    "join spine (summary at the bottom, both dim joins live) and " +
    "matches the base answer; a spine condition on a non-dim fact " +
    "column declines") {
    val on = MvQueries.starQuery(spark, sf)
    assert(scanRoots(on).exists(_.contains("q65_mv")) && !baseScanned(on),
      s"the 2-dim star must swap the fact scan:\n" +
        on.queryExecution.optimizedPlan.toString)
    val got = on.orderBy("n_name").collect().map(_.toSeq)
    val want = Mv.withDisabled {
      val off = MvQueries.starQuery(spark, sf)
      assert(baseScanned(off), "control arm must scan the base")
      off.orderBy("n_name").collect().map(_.toSeq)
    }
    assert(got.toSeq == want.toSeq,
      "the spine rewrite must be row-invisible")
    // decline: the BOTTOM join keys on a non-dim fact column while the
    // upper level is clean — the per-level condition guard must catch it
    val bad = Tables.t(spark, sf, "lineitem")
      .join(Tables.t(spark, sf, "supplier"),
        col("l_partkey") === col("s_suppkey")) // l_partkey not a dim
      .join(Tables.t(spark, sf, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n"))
    assert(!scanRoots(bad).exists(_.contains("q65_mv")) &&
      baseScanned(bad),
      s"a non-dim bottom join key must decline:\n" +
        bad.queryExecution.optimizedPlan.toString)
  }

  test("spark.graft.mv.autoRefresh self-heals a stale summary at the " +
    "first probe with ONE incremental fold; without the flag the same " +
    "probe declines toward the base") {
    val root = Dml.work("mv_autorefresh", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    val li = Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity", "l_orderkey")
    li.repartition(2).write.parquet(baseDir)
    Mv.register(spark, "auto_probe", spark.read.parquet(baseDir),
      dims = Seq("l_returnflag"),
      aggCols = Seq(count(lit(1)).as("mv_cnt")),
      mvPath = s"$root/summary")
    li.filter(col("l_orderkey") % 97 === 0)
      .repartition(1).write.mode("append").parquet(baseDir)
    def q() = spark.read.parquet(baseDir)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    // flag off (default): stale fingerprint declines, base serves
    assert(!scanRoots(q()).exists(_.contains("summary")),
      "a stale MV must decline without autoRefresh")
    assert(Mv.byName("auto_probe").get.epoch == 0)
    spark.conf.set("spark.graft.mv.autoRefresh", "true")
    try {
      val healed = q()
      assert(scanRoots(healed).exists(_.contains("summary_r1")),
        s"autoRefresh must fold the delta and serve:\n" +
          healed.queryExecution.optimizedPlan.toString)
      val d = Mv.byName("auto_probe").get
      assert(d.epoch == 1, s"exactly one incremental refresh: ${d.epoch}")
      val got = healed.orderBy("l_returnflag").collect().map(_.toSeq)
      val want = Mv.withDisabled {
        q().orderBy("l_returnflag").collect().map(_.toSeq)
      }
      assert(got.toSeq == want.toSeq)
      // a second probe is a plain fresh hit — no second refresh
      assert(scanRoots(q()).exists(_.contains("summary_r1")))
      assert(Mv.byName("auto_probe").get.epoch == 1)
    } finally spark.conf.unset("spark.graft.mv.autoRefresh")
    Mv.drop(spark, "auto_probe")
  }

  test("approx_count_distinct folds the registered sketch measure ONLY " +
    "under the opt-in conf, and both estimators land within tolerance " +
    "of the exact count") {
    MvQueries.ensureHll(spark, sf)
    def probe() = Tables.t(spark, sf, "customer")
      .groupBy("c_mktsegment")
      .agg(approx_count_distinct(col("c_custkey")).as("est"))
    assert(!scanRoots(probe()).exists(_.contains("q64_mv")),
      "the estimator swap must be opt-in (default off)")
    val exact = Tables.t(spark, sf, "customer")
      .groupBy("c_mktsegment")
      .agg(countDistinct(col("c_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.mv.approxDistinctRewrite", "true")
    try {
      val on = probe()
      assert(scanRoots(on).exists(_.contains("q64_mv")),
        s"the sketch measure must fold under the conf:\n" +
          on.queryExecution.optimizedPlan.toString)
      on.collect().foreach { r =>
        val (seg, est) = (r.getString(0), r.getLong(1))
        assert(math.abs(est - exact(seg)).toDouble <=
          math.max(2.0, 0.15 * exact(seg)),
          s"sketch estimate for $seg out of tolerance: " +
            s"$est vs exact ${exact(seg)}")
      }
    } finally spark.conf.unset("spark.graft.mv.approxDistinctRewrite")
  }

  test("CREATE MATERIALIZED VIEW … JOIN guards: dim-side measures, a " +
    "dim-side WHERE, and a join key on neither table are rejected " +
    "loudly at the statement surface") {
    Tables.ensureRegistered(spark, sf)
    val ctx = new ExecutionContext(spark)
    val dimMeasure = intercept[IllegalArgumentException] {
      ctx.execute("""CREATE MATERIALIZED VIEW bad_star1 AS
        SELECT s_nationkey, sum(s_acctbal) AS m
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey""")
    }
    assert(dimMeasure.getMessage.contains("fact"), dimMeasure.getMessage)
    val dimWhere = intercept[IllegalArgumentException] {
      ctx.execute("""CREATE MATERIALIZED VIEW bad_star2 AS
        SELECT s_nationkey, count(1) AS c
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        WHERE s_nationkey < 5 GROUP BY s_nationkey""")
    }
    assert(dimWhere.getMessage.contains("fact-side"), dimWhere.getMessage)
    val badKey = intercept[IllegalArgumentException] {
      ctx.execute("""CREATE MATERIALIZED VIEW bad_star3 AS
        SELECT s_nationkey, count(1) AS c
        FROM lineitem JOIN supplier ON l_suppkey = no_such_col
        GROUP BY s_nationkey""")
    }
    assert(badKey.getMessage.contains("exactly one"), badKey.getMessage)
  }

  test("CREATE MATERIALIZED VIEW over a JOIN CHAIN (snowflake): guards " +
    "hold per level — an unknown second-level key and a second-level " +
    "dim measure both reject loudly, and the good form registers keyed " +
    "by the fact-side keys of the whole chain") {
    Tables.ensureRegistered(spark, sf)
    val ctx = new ExecutionContext(spark)
    val badKey2 = intercept[IllegalArgumentException] {
      ctx.execute("""CREATE MATERIALIZED VIEW bad_snow1 AS
        SELECT l_suppkey, count(1) AS c
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = no_such_col
        GROUP BY l_suppkey""")
    }
    assert(badKey2.getMessage.contains("exactly one"), badKey2.getMessage)
    val dimMeasure2 = intercept[IllegalArgumentException] {
      ctx.execute("""CREATE MATERIALIZED VIEW bad_snow2 AS
        SELECT l_suppkey, sum(n_regionkey) AS m
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY l_suppkey""")
    }
    assert(dimMeasure2.getMessage.contains("fact"), dimMeasure2.getMessage)
    // a chain whose levels never touch the fact is rejected as keyless
    val noFact = intercept[IllegalArgumentException] {
      ctx.execute("""CREATE MATERIALIZED VIEW bad_snow3 AS
        SELECT count(1) AS c
        FROM lineitem JOIN nation ON n_regionkey = r_regionkey
        JOIN region ON r_name = r_name
        GROUP BY n_name""")
    }
    assert(noFact.getMessage.contains("exactly one") ||
      noFact.getMessage.contains("no ON clause"), noFact.getMessage)
    ctx.execute("DROP MATERIALIZED VIEW IF EXISTS spec_snow")
    ctx.execute("""CREATE MATERIALIZED VIEW spec_snow AS
      SELECT l_suppkey, count(1) AS smv_c
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY l_suppkey""")
    val d = Mv.byName("spec_snow").get
    assert(d.dimCols == Seq("l_suppkey"),
      s"snowflake spec must key by the fact-side chain keys: ${d.dimCols}")
    ctx.execute("DROP MATERIALIZED VIEW spec_snow")
  }

  test("epoch GC never deletes an UNRELATED registered MV whose directory " +
    "name reads like this MV's epoch sibling (<mv>_r<digits>)") {
    val root = Dml.work("mv_gc_owner", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    val li = Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_orderkey")
    li.write.parquet(baseDir)
    val base = spark.read.parquet(baseDir)
    // victim: its live materialization is literally `<fam>_r2`
    Mv.register(spark, "gc_victim", base,
      dims = Seq("l_linestatus"),
      aggCols = Seq(count(lit(1)).as("vmv_cnt")),
      mvPath = s"$root/fam_r2")
    Mv.register(spark, "gc_owner", base,
      dims = Seq("l_returnflag"),
      aggCols = Seq(count(lit(1)).as("omv_cnt")),
      mvPath = s"$root/fam")
    def exists(p: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    assert(Mv.drop(spark, "gc_owner"))
    assert(!exists(s"$root/fam"), "the owner's own dir must go")
    assert(exists(s"$root/fam_r2"),
      "the other MV's live dir must survive the family GC")
    // and the victim still serves its rewrite from an intact path
    val probe = spark.read.parquet(baseDir)
      .groupBy("l_linestatus").agg(count(lit(1)).as("n"))
    assert(scanRoots(probe).exists(_.contains("fam_r2")),
      probe.queryExecution.optimizedPlan.toString)
    assert(probe.collect().nonEmpty)
    Mv.drop(spark, "gc_victim")
  }

  test("MV ADVISOR: adviseFor names the registrable summary for three " +
    "decline shapes — non-dim filter column, unregistered measure, bare " +
    "base with no summary — and answers None for a served plan") {
    MvQueries.ensureMv(spark, sf)
    val li = Tables.t(spark, sf, "lineitem")
    // shape 1: a non-dim filter column — the advice lists it as a dim
    // and the reason names the candidate that declined
    val a1 = Mv.adviseFor(li.filter(col("l_quantity") > 10)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))).get
    assert(a1.dims.contains("l_quantity") &&
      a1.dims.contains("l_returnflag"), a1.toString)
    assert(a1.reason.contains("l_quantity") &&
      a1.reason.contains("not registered as dims"), a1.reason)
    assert(a1.predicate.exists(_.contains("l_quantity")), a1.toString)
    // shape 2: an unregistered measure — advised verbatim, reason names it
    val a2 = Mv.adviseFor(li.groupBy("l_returnflag")
      .agg(sum(col("l_tax").cast("decimal(18,2)")).as("t"))).get
    assert(a2.measures.exists(_.contains("l_tax")), a2.toString)
    assert(a2.reason.contains("not registered as measures"), a2.reason)
    // shape 3: a base with NO summary — full definition advice, avg
    // advised as its sum/count pair, count(DISTINCT x) advised as dim x
    val root = Dml.work("mv_advice", sf)
    Layouts.deleteDir(spark, root)
    li.select("l_returnflag", "l_linestatus", "l_quantity")
      .write.parquet(s"$root/base")
    val bare = spark.read.parquet(s"$root/base")
    val a3 = Mv.adviseFor(bare.groupBy("l_returnflag")
      .agg(avg(col("l_quantity").cast("decimal(18,2)")).as("a"),
        countDistinct(col("l_linestatus")).as("d"))).get
    assert(a3.reason == "no summary is registered over this base", a3.reason)
    assert(a3.dims.toSet == Set("l_returnflag", "l_linestatus"),
      a3.toString)
    assert(a3.measures.size == 2 &&
      a3.measures.exists(_.startsWith("sum(")) &&
      a3.measures.exists(_.startsWith("count(")), a3.toString)
    assert(a3.predicate.isEmpty)
    // the advice is REGISTRABLE VERBATIM and then serves the shape
    Mv.register(spark, "advised", bare,
      dims = a3.dims,
      aggCols = a3.measures.zipWithIndex.map { case (m, i) =>
        org.apache.spark.sql.functions.expr(m).as(s"amv_$i") },
      mvPath = s"$root/summary")
    val served = bare.groupBy("l_returnflag")
      .agg(avg(col("l_quantity").cast("decimal(18,2)")).as("a"),
        countDistinct(col("l_linestatus")).as("d"))
    assert(scanRoots(served).exists(_.contains("mv_advice/summary")),
      served.queryExecution.optimizedPlan.toString)
    // a served plan needs no advice
    assert(Mv.adviseFor(served).isEmpty)
    Mv.drop(spark, "advised")
  }

  test("MV ADVISOR on a JOIN shape: the fact side is identified by the " +
    "measures' references, fact join keys become dims, dim-side refs " +
    "impose nothing — and the advice registers verbatim, after which " +
    "the join query rewrites; a dim-side measure answers None") {
    val root = Dml.work("mv_advice_join", sf)
    Layouts.deleteDir(spark, root)
    Tables.t(spark, sf, "lineitem")
      .select("l_suppkey", "l_extendedprice", "l_quantity")
      .write.parquet(s"$root/fact")
    val fact = spark.read.parquet(s"$root/fact")
    val supp = Tables.t(spark, sf, "supplier")
    def joinAgg(f: org.apache.spark.sql.DataFrame) = f
      .join(supp, f("l_suppkey") === supp("s_suppkey"))
      .filter(col("s_nationkey") < 10)
      .groupBy("s_name")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
    val a = Mv.adviseFor(joinAgg(fact)).get
    assert(a.dims == Seq("l_suppkey"),
      s"only the fact join key is a dim: $a")
    assert(a.measures.size == 2 && a.reason.contains("no summary"), a)
    // dim-side filter references must not leak into the predicate
    assert(a.predicate.isEmpty, a.toString)
    Mv.register(spark, "advised_join", fact,
      dims = a.dims,
      aggCols = a.measures.zipWithIndex.map { case (m, i) =>
        org.apache.spark.sql.functions.expr(m).as(s"jmv_$i") },
      mvPath = s"$root/summary")
    val served = joinAgg(fact)
    assert(scanRoots(served).exists(_.contains("mv_advice_join/summary")),
      served.queryExecution.optimizedPlan.toString)
    assert(Mv.adviseFor(served).isEmpty)
    // a measure over the OTHER side flips the fact: the advice
    // summarizes supplier keyed by its join key + grouping column (the
    // rewrite is side-symmetric — spines() descends either side)
    val flipped = Mv.adviseFor(fact
      .join(supp, fact("l_suppkey") === supp("s_suppkey"))
      .groupBy("s_name").agg(sum(col("s_acctbal")).as("b"))).get
    assert(flipped.dims.toSet == Set("s_suppkey", "s_name"), flipped)
    assert(flipped.measures == Seq("sum(s_acctbal)"), flipped)
    // a MIXED measure (references both sides): no summary can serve —
    // None, not bad advice
    assert(Mv.adviseFor(fact
      .join(supp, fact("l_suppkey") === supp("s_suppkey"))
      .groupBy("s_name")
      .agg(sum(col("l_extendedprice") * col("s_acctbal")).as("b")))
      .isEmpty)
    Mv.drop(spark, "advised_join")
  }

  test("MV ADVISOR WORKLOAD: compatible queries over one base merge into " +
    "ONE advice (dims/measures union, differing predicates collapse to " +
    "full-table), a second base groups separately, a served query " +
    "contributes nothing — and the merged advice registers verbatim and " +
    "then serves EVERY query in its group row-identically") {
    MvQueries.ensureMv(spark, sf) // registers the lineitem summary (q61)
    val root = Dml.work("mv_advise_wl", sf)
    Layouts.deleteDir(spark, root)
    Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice")
      .write.parquet(s"$root/base")
    val bare = spark.read.parquet(s"$root/base")
    // three advisable shapes over ONE bare base: plain rollup, filtered
    // count (filter column NOT in q1's grouping), avg over a third column
    def q1 = bare.groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("s"))
    def q2 = bare.filter(col("l_linestatus") === "O")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    def q3 = bare.groupBy("l_linestatus")
      .agg(avg(col("l_extendedprice").cast("decimal(18,2)")).as("a"))
    // a different base groups separately
    val supp = Tables.t(spark, sf, "supplier")
    def q4 = supp.groupBy("s_nationkey").agg(sum(col("s_acctbal")).as("b"))
    // a query the registered q61 summary ALREADY serves advises nothing
    def q5 = Tables.t(spark, sf, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
    val advs = Mv.adviseWorkload(Seq(q1, q2, q3, q4, q5))
    assert(advs.size == 2, advs.toString)
    val a = advs.head
    assert(a.serves == Seq(0, 1, 2), a.toString)
    assert(a.dims.toSet == Set("l_returnflag", "l_linestatus"), a.toString)
    // q2's filter column is a dim, so dropping its predicate stays sound
    assert(a.predicate.isEmpty,
      s"differing per-query predicates must merge to full-table: $a")
    // sum(qty) + count(1) + avg's sum/count pair = 4 merged measures
    assert(a.measures.size == 4 && a.measures.exists(_.contains("1")),
      a.toString)
    assert(advs(1).serves == Seq(3) &&
      advs(1).measures == Seq("sum(s_acctbal)"), advs(1).toString)
    // the merged advice REGISTERS VERBATIM and serves all three queries
    Mv.register(spark, "wl_advised", bare,
      dims = a.dims,
      aggCols = a.measures.zipWithIndex.map { case (m, i) =>
        org.apache.spark.sql.functions.expr(m).as(s"wmv_$i") },
      mvPath = s"$root/summary")
    Seq(("q1", () => q1), ("q2", () => q2), ("q3", () => q3)).foreach {
      case (nm, mk) =>
        val served = mk()
        assert(scanRoots(served)
          .exists(_.contains("mv_advise_wl/summary")),
          s"$nm: ${served.queryExecution.optimizedPlan}")
        val got = served.collect().map(_.toSeq).toSet
        val want = Mv.withDisabled(mk().collect().map(_.toSeq).toSet)
        assert(got == want && got.nonEmpty, s"$nm must be row-identical")
    }
    // and the advised workload now needs no further advice on that base
    assert(Mv.adviseWorkload(Seq(q1, q2, q3)).isEmpty)
    Mv.drop(spark, "wl_advised")
  }

  test("SQL SURFACE: SHOW MATERIALIZED VIEWS lists registered summaries " +
    "with a metadata-only freshness verdict that flips to stale when the " +
    "base gains a file, and ADVISE MATERIALIZED VIEW FOR <select> " +
    "returns the registrable definition row (zero rows once served)") {
    val ctx = new ExecutionContext(spark).registerTestData(sf)
    val root = Dml.work("mv_sql_status", sf)
    Layouts.deleteDir(spark, root)
    Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity")
      .write.parquet(s"$root/base")
    val bare = spark.read.parquet(s"$root/base")
    Mv.register(spark, "status_probe", bare,
      dims = Seq("l_returnflag"),
      aggCols = Seq(count(lit(1)).as("sp_cnt")),
      mvPath = s"$root/summary")
    val rows = ctx.execute("SHOW MATERIALIZED VIEWS").collect()
    val mine = rows.find(_.getString(0) == "status_probe").get
    assert(mine.getString(7) == "fresh", mine.toString)
    assert(mine.getString(2) == "l_returnflag" &&
      mine.getString(1).contains("mv_sql_status/base"), mine.toString)
    // the summary-rows column is footer-derived truth
    assert(mine.getLong(5) == bare.select("l_returnflag").distinct.count())
    // a base append flips the verdict without any refresh having run
    bare.limit(10).write.mode("append").parquet(s"$root/base")
    val after = ctx.execute("SHOW MATERIALIZED VIEWS").collect()
      .find(_.getString(0) == "status_probe").get
    assert(after.getString(7) == "stale", after.toString)
    Mv.drop(spark, "status_probe")
    assert(!ctx.execute("SHOW MATERIALIZED VIEWS").collect()
      .exists(_.getString(0) == "status_probe"))
    // ADVISE: a shape the registered q61 summary declines returns the
    // definition row; the same probe over dims-only is served → 0 rows
    MvQueries.ensureMv(spark, sf)
    val adv = ctx.execute("ADVISE MATERIALIZED VIEW FOR " +
      "SELECT l_returnflag, count(1) AS n FROM lineitem " +
      "WHERE l_quantity > 25 GROUP BY l_returnflag").collect()
    assert(adv.length == 1, adv.mkString("|"))
    info(s"ADVISE row: ${adv(0).toSeq.mkString(" || ")}")
    assert(adv(0).getString(0).split(",").toSet ==
      Set("l_returnflag", "l_quantity"), adv(0).toString)
    assert(adv(0).getString(3).contains("not registered as dims"),
      adv(0).toString)
    val servedAdv = ctx.execute("ADVISE MATERIALIZED VIEW FOR " +
      "SELECT l_returnflag, count(1) AS n FROM lineitem " +
      "WHERE l_linestatus = 'F' GROUP BY l_returnflag").collect()
    assert(servedAdv.isEmpty, servedAdv.mkString("|"))
  }

  test("STREAMING MV MAINTENANCE: maintainMv folds each micro-batch into " +
    "the summary (hash-equal to the batch recompute), a RESTART with the " +
    "same checkpoint folds only NEW landing files, and a re-run with " +
    "nothing new folds nothing") {
    val root = Dml.work("mv_stream_spec", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    val li = Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_orderkey")
    li.filter(col("l_orderkey") % 11 === 0).write.parquet(baseDir)
    Mv.register(spark, "stream_spec_mv", spark.read.parquet(baseDir),
      dims = Seq("l_returnflag"),
      aggCols = Seq(count(lit(1)).as("mv_cnt"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("mv_q")),
      mvPath = s"$root/summary")
    val landing = s"$root/landing"
    li.filter(col("l_orderkey") % 11 === 1).repartition(1)
      .write.parquet(landing)
    li.filter(col("l_orderkey") % 11 === 2).repartition(1)
      .write.mode("append").parquet(landing)
    def stream() = spark.readStream.schema(li.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    def run() = EventStreams.maintainMv(
      stream(), baseDir, "stream_spec_mv", s"$root/ctl")
    val folds1 = run()
    assert(folds1.size == 2 && folds1.forall(_._1 > 0),
      s"two positive folds expected: $folds1")
    // the maintained summary hash-equals the batch recompute
    def mvRows() = spark.read
      .parquet(Mv.byName("stream_spec_mv").get.mvPath)
      .collect().map(_.toSeq).toSet
    def recompute() = Mv.withDisabled {
      spark.read.parquet(baseDir).groupBy("l_returnflag")
        .agg(count(lit(1)).as("mv_cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("mv_q"))
        .collect().map(_.toSeq).toSet
    }
    assert(mvRows() == recompute(),
      "after two micro-batches the summary must equal the recompute")
    // RESTART with the same checkpoint and nothing new: no folds, no rows
    val before = mvRows()
    assert(run().isEmpty, "an already-drained stream must fold nothing")
    assert(mvRows() == before)
    // a THIRD landing file appears; the restarted stream folds ONLY it
    li.filter(col("l_orderkey") % 11 === 3).repartition(1)
      .write.mode("append").parquet(landing)
    val folds3 = run()
    assert(folds3.size == 1 && folds3.head._1 == 1,
      s"restart must fold exactly the new file: $folds3")
    assert(mvRows() == recompute(),
      "after the restart fold the summary must equal the recompute")
    // and the rewrite serves plain aggregates from the maintained summary
    val probe = spark.read.parquet(baseDir)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(scanRoots(probe).exists(_.contains("summary")),
      probe.queryExecution.optimizedPlan.toString)
    Mv.drop(spark, "stream_spec_mv")
  }

  test("superseded refresh epochs are garbage-collected keeping exactly " +
    "one predecessor, and DROP removes the whole directory family") {
    val root = Dml.work("mv_epoch_gc", sf)
    Layouts.deleteDir(spark, root)
    val baseDir = s"$root/base"
    val li = Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_orderkey")
    li.repartition(2).write.parquet(baseDir)
    Mv.register(spark, "gc_probe", spark.read.parquet(baseDir),
      dims = Seq("l_returnflag"),
      aggCols = Seq(count(lit(1)).as("mv_cnt")),
      mvPath = s"$root/summary")
    def exists(p: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    def append(mod: Int): Unit = li.filter(col("l_orderkey") % mod === 0)
      .repartition(1).write.mode("append").parquet(baseDir)
    append(97)
    assert(Mv.refreshIncremental(spark, "gc_probe")._1 == 1)
    // first refresh: live _r1, predecessor kept for in-flight plans
    assert(exists(s"$root/summary_r1") && exists(s"$root/summary"))
    append(89)
    assert(Mv.refreshIncremental(spark, "gc_probe")._1 == 1)
    // second refresh: live _r2, _r1 kept, the original GC'd
    assert(exists(s"$root/summary_r2") && exists(s"$root/summary_r1"))
    assert(!exists(s"$root/summary"),
      "the twice-superseded epoch must be garbage-collected")
    assert(Mv.drop(spark, "gc_probe"))
    assert(!exists(s"$root/summary_r2") && !exists(s"$root/summary_r1"),
      "DROP must remove every epoch sibling")
  }
}
