package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint,
  SHUFFLE_HASH}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}

/** [[SmallSideBroadcast]]: the filtered customer ⋈ orders side of the
  * TPC-H Q5 shape is broadcast by graft's row estimate, so lineitem is not
  * shuffled; the rule declines where its estimate does not hold (a key
  * whose footer range says its values repeat, a multi-file root), where
  * broadcasting is off, and where the user chose the strategy. Plans are
  * read before execution: the optimized plan, and AQE's initial plan,
  * which is the planner's choice before runtime sizes. */
class SmallSideBroadcastSpec extends SparkSpec {

  private val star =
    Seq("customer", "orders", "lineitem", "supplier", "nation", "region")

  private lazy val ctx = new ExecutionContext(spark).registerTestData(sf)

  private def localSupplier(hint: String = ""): String =
    s"SELECT $hint n_name, sum(l_extendedprice * (1 - l_discount)) " +
      "AS revenue FROM customer, orders, lineitem, supplier, nation, region " +
      "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
      "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
      "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
      "AND r_name = 'EUROPE' " +
      "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
      "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' " +
      "GROUP BY n_name ORDER BY revenue DESC, n_name"

  // 100 KB lies between graft's estimate of customer ⋈ orders at sf0.001
  // (orders' 1,500 rows × the joined row width) and Spark's estimate of
  // lineitem pruned to the statement's columns (its rows × width)
  private val threshold = "102400"

  /** `body` under `confs`, each restored (or unset) afterwards. */
  private def withConf[T](session: SparkSession, confs: (String, String)*)(
      body: => T): T = {
    val saved = confs.map { case (k, _) => k -> session.conf.getOption(k) }
    confs.foreach { case (k, v) => session.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => session.conf.set(k, v)
      case (k, None) => session.conf.unset(k)
    }
  }

  private def underThreshold[T](session: SparkSession)(body: => T): T =
    withConf(session, "spark.sql.autoBroadcastJoinThreshold" -> threshold)(
      body)

  /** The joins the rule hinted, with the rows it estimated. */
  private def hinted(df: DataFrame): Seq[(Join, BigInt)] =
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.getTagValue(SmallSideBroadcast.EstimatedRows).isDefined =>
        j -> j.getTagValue(SmallSideBroadcast.EstimatedRows).get
    }

  private def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  private def scanOf(s: FileSourceScanExec, table: String): Boolean =
    s.relation.location.rootPaths.exists(_.getName == s"$table.parquet")

  /** The tables scanned under each exchange matched by `pick`. */
  private def tablesUnder(df: DataFrame)(
      pick: PartialFunction[SparkPlan, SparkPlan]): Seq[Set[String]] =
    initialPlan(df).collect(pick).map { e =>
      e.collect { case s: FileSourceScanExec =>
        star.filter(scanOf(s, _)).toSet
      }.flatten.toSet
    }

  private def broadcastTables(df: DataFrame): Seq[Set[String]] =
    tablesUnder(df) { case b: BroadcastExchangeExec => b }

  /** The tables whose scans a shuffle exchange reads directly: through
    * single-child operators only, not through a join. */
  private def shuffledTables(df: DataFrame): Seq[Set[String]] = {
    def direct(p: SparkPlan): SparkPlan = p.children match {
      case Seq(only) => direct(only)
      case _ => p
    }
    initialPlan(df).collect { case s: ShuffleExchangeExec =>
      direct(s) match {
        case scan: FileSourceScanExec => star.filter(scanOf(scan, _)).toSet
        case _ => Set.empty[String]
      }
    }
  }

  private def sameRows(a: Seq[Row], b: Seq[Row]): Unit = {
    assert(a.map(_.getString(0)) == b.map(_.getString(0)))
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x.getDouble(1) - y.getDouble(1)) <=
        1e-9 * math.abs(y.getDouble(1)), s"$x vs $y")
    }
  }

  test("the Q5 shape through ExecutionContext broadcasts customer ⋈ " +
    "orders by graft's estimate and shuffles no lineitem; the rows equal " +
    "a session without the rule") {
    val (df, rows) = underThreshold(spark) {
      val df = ctx.execute(localSupplier())
      (df, df.collect().toSeq)
    }
    val estimates = hinted(df)
    // the key–foreign-key bound: the orders side's 1,500 rows
    assert(estimates.map(_._2) == Seq(BigInt(1500)), estimates)
    val (join, _) = estimates.head
    val side = if (join.hint.leftHint.isDefined) join.left else join.right
    val other = if (join.hint.leftHint.isDefined) join.right else join.left
    assert(BigInt(1500) * EstimationUtils.getSizePerRow(side.output) <=
      BigInt(threshold))
    assert(other.stats.sizeInBytes > BigInt(threshold))
    assert(broadcastTables(df).exists(t =>
      t.contains("customer") && t.contains("orders")),
      initialPlan(df).toString)
    assert(!shuffledTables(df).exists(_.contains("lineitem")),
      initialPlan(df).toString)

    val plain = spark.newSession()
    assert(plain.experimental.extraOptimizations.isEmpty)
    star.foreach(t => Tables.load(plain, sf, t).createOrReplaceTempView(t))
    val expected = underThreshold(plain) {
      val plainDf = plain.sql(localSupplier())
      assert(hinted(plainDf).isEmpty)
      assert(shuffledTables(plainDf).exists(_.contains("lineitem")),
        initialPlan(plainDf).toString)
      plainDf.collect().toSeq
    }
    assert(rows.size == 3)
    sameRows(rows, expected)
  }

  test("declines over a self-join whose key range is smaller than its " +
    "rows: events on user_id") {
    // user_id spans 15 values over 1,000 events at sf0.001, so a ⋈ b may
    // be many-to-many and has no bound; c is kept wide enough that only
    // a ⋈ b could come in under the threshold
    val sql = "SELECT a.event_id, c.event_type, c.props, c.value " +
      "FROM events a JOIN events b ON a.user_id = b.user_id " +
      "JOIN events c ON a.user_id = c.user_id"
    val limit = 40000L
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> limit.toString) {
      val df = ctx.execute(sql)
      assert(hinted(df).isEmpty, df.queryExecution.optimizedPlan)
      assert(df.queryExecution.optimizedPlan.collect {
        case j: Join if j.hint != JoinHint.NONE => j
      }.isEmpty)
      // the premise: the bound would have put a ⋈ b under the threshold,
      // and Spark sizes neither side of the top join under it
      val top = df.queryExecution.optimizedPlan.collectFirst {
        case j: Join => j
      }.get
      val events = Tables.openParquet(spark, Tables.path(sf, "events")).count()
      val selfJoin = Seq(top.left, top.right).find(_.collectFirst {
        case _: Join => true
      }.isDefined).get
      assert(BigInt(events) * EstimationUtils.getSizePerRow(selfJoin.output)
        <= limit)
      assert(top.left.stats.sizeInBytes > limit &&
        top.right.stats.sizeInBytes > limit)
    }
  }

  test("declines when broadcasting is off (threshold -1)") {
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = ctx.execute(localSupplier())
      assert(hinted(df).isEmpty)
      assert(broadcastTables(df).isEmpty, initialPlan(df).toString)
    }
  }

  test("declines on a join that carries the user's hint") {
    underThreshold(spark) {
      val df = ctx.execute(localSupplier("/*+ SHUFFLE_HASH(lineitem) */"))
      assert(hinted(df).isEmpty, df.queryExecution.optimizedPlan)
      val strategies = df.queryExecution.optimizedPlan.collect {
        case j: Join => Seq(j.hint.leftHint, j.hint.rightHint).flatten
          .flatMap(_.strategy)
      }.flatten
      assert(strategies == Seq(SHUFFLE_HASH), strategies)
      assert(!broadcastTables(df).exists(_.contains("orders")),
        initialPlan(df).toString)
      assert(df.collect().length == 3)
    }
  }

  test("declines over a multi-file root, whose rows are a scaled estimate") {
    val dir = java.nio.file.Files.createTempDirectory("small_side").toString
    Tables.load(spark, sf, "orders").repartition(2)
      .write.mode("overwrite").parquet(dir)
    val session = spark.newSession()
    val multiCtx = new ExecutionContext(session)
    star.foreach(t => Tables.load(session, sf, t).createOrReplaceTempView(t))
    underThreshold(session) {
      // the same session hints the single-file orders
      assert(hinted(multiCtx.execute(localSupplier())).nonEmpty)
      Tables.openParquet(session, dir).createOrReplaceTempView("orders")
      val df = multiCtx.execute(localSupplier())
      assert(hinted(df).isEmpty, df.queryExecution.optimizedPlan)
      assert(df.collect().length == 3)
    }
  }

  test("Session.prepare installs the rule once, after the MV rewrite") {
    Session.prepare(spark)
    new ExecutionContext(spark)
    assert(spark.experimental.extraOptimizations
      .count(_ == SmallSideBroadcast) == 1)
    val fresh = spark.newSession()
    Session.prepare(fresh)
    Mv.install(fresh)
    Mv.install(fresh)
    assert(fresh.experimental.extraOptimizations ==
      Seq(Mv.MvRewrite, SmallSideBroadcast))
  }
}
