package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** [[SmallSortStrategy]]: a small global sort whose input stages have run
  * is planned in one partition, without the range shuffle and its sampling
  * job; every other sort keeps Spark's range exchange. Plans are read from
  * the final adaptive plan, after the statement has run. */
class SmallSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val ctx = new ExecutionContext(spark).registerTestData(sf)

  private val grouped =
    "SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS top " +
      "FROM orders GROUP BY o_orderpriority " +
      "ORDER BY n DESC, o_orderpriority"

  /** Jobs `body` starts in `session`'s context, counted by a listener. */
  private def jobsOf(session: SparkSession)(body: => Unit): Long = {
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftBridge.drainListenerBus(session)
    session.sparkContext.addSparkListener(listener)
    try {
      body
      GraftBridge.drainListenerBus(session)
      jobs.get
    } finally session.sparkContext.removeSparkListener(listener)
  }

  private def rangeExchanges(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec
          if s.outputPartitioning.isInstanceOf[RangePartitioning] => s
    }.size

  /** `body` under `confs`, each restored (or unset) afterwards. */
  private def withConf[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `sql` through the context; its rows and its range exchanges. */
  private def run(sql: String): (Seq[Row], Int) = {
    val df = ctx.execute(sql)
    (df.collect().toSeq, rangeExchanges(df))
  }

  test("GROUP BY … ORDER BY through ExecutionContext sorts in one " +
    "partition: no range exchange, 2 jobs fewer than a session without " +
    "the strategy, the same rows in the same order") {
    var df: DataFrame = null
    val withRule = jobsOf(spark) {
      df = ctx.execute(grouped)
      df.collect()
    }
    val rows = df.collect().toSeq
    assert(rangeExchanges(df) == 0, df.queryExecution.executedPlan)
    assert(df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    assert(collect(df.queryExecution.executedPlan) {
      case c: CoalesceExec if c.numPartitions == 1 => c
    }.size == 1, df.queryExecution.executedPlan)

    val plain = spark.newSession()
    assert(plain.experimental.extraStrategies.isEmpty)
    Seq("orders", "customer", "nation").foreach(t =>
      Tables.load(plain, sf, t).createOrReplaceTempView(t))
    var plainDf: DataFrame = null
    val without = jobsOf(plain) {
      plainDf = plain.sql(grouped)
      plainDf.collect()
    }
    assert(rangeExchanges(plainDf) == 1, plainDf.queryExecution.executedPlan)
    assert(without - withRule == 2, s"jobs: $without without, $withRule with")
    assert(rows == plainDf.collect().toSeq)
    assert(rows.nonEmpty)
  }

  test("Session.prepare installs the strategy once, however often it runs") {
    Session.prepare(spark)
    new ExecutionContext(spark)
    assert(spark.sessionState.planner.strategies
      .count(_ == SmallSortStrategy) == 1)
  }

  test("declines over a leaf that is not a query stage: a scan " +
    "semi-joined to a broadcast keeps the range exchange") {
    // a semi join is estimated at its left side's size, well under the
    // limit, so only the stage check declines here
    val (rows, ranges) = run(
      "SELECT c_custkey, c_acctbal FROM customer WHERE " +
        "c_nationkey IN (SELECT n_nationkey FROM nation " +
        "WHERE n_regionkey = 1) " +
        "ORDER BY c_acctbal DESC, c_custkey")
    assert(ranges == 1)
    assert(rows.nonEmpty)
    val bal = rows.map(_.getAs[Number]("c_acctbal").doubleValue)
    assert(bal == bal.sorted.reverse)
  }

  test("declines over the size AQE would leave in one partition, and when " +
    "AQE would not coalesce") {
    val (expected, fires) = run(grouped)
    assert(fires == 0)
    val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val parallelismFirst =
      "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    // parallelism first: the limit is the minimum partition size
    assert(withConf(minSize -> "1b")(run(grouped)) == (expected, 1))
    // otherwise the advisory size, and the minimum size no longer counts
    assert(withConf(parallelismFirst -> "false", minSize -> "1b")(
      run(grouped)) == (expected, 0))
    assert(withConf(parallelismFirst -> "false", advisory -> "1b")(
      run(grouped)) == (expected, 1))
    assert(withConf(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(
      run(grouped)) == (expected, 1))
  }

  test("declines over an explode, whose added rows the size estimate " +
    "does not see") {
    val (rows, ranges) = run(
      "SELECT o_orderpriority, k FROM (SELECT o_orderpriority, " +
        "collect_list(o_orderkey) AS ks FROM orders GROUP BY " +
        "o_orderpriority) LATERAL VIEW explode(ks) t AS k ORDER BY k")
    assert(ranges == 1)
    assert(rows.size == ctx.table("orders").count())
    val keys = rows.map(_.getAs[Number]("k").longValue)
    assert(keys == keys.sorted)
  }

  test("declines with AQE off: the initial plan keeps its range exchange") {
    val (expected, _) = run(grouped)
    assert(withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = ctx.execute(grouped)
      assert(!df.queryExecution.executedPlan
        .isInstanceOf[AdaptiveSparkPlanExec])
      (df.collect().toSeq, rangeExchanges(df))
    } == (expected, 1))
  }

  test("ORDER BY … LIMIT still plans TakeOrderedAndProject") {
    val df = ctx.execute(grouped + " LIMIT 2")
    assert(df.collect().length == 2)
    assert(rangeExchanges(df) == 0)
    assert(collect(df.queryExecution.executedPlan) {
      case t: TakeOrderedAndProjectExec => t
    }.size == 1, df.queryExecution.executedPlan)
  }
}
