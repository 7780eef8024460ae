package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's full declared SELECT surface (SURVEY.md §2.1–2.8), executed
  * for real with the DataFrame API (or `spark.sql` where the construct is
  * inherently SQL-shaped — CTEs, scalar subqueries), letting Catalyst do the
  * optimization the reference never had (predicate pushdown, column pruning,
  * join selection; `/root/reference/` has no optimizer at all, SURVEY §4).
  *
  * Conventions shared with the DuckDB oracles:
  *  - Monetary sums go through `CAST(x AS DECIMAL(18,2))` so both engines sum
  *    exactly (double summation order differs between engines).
  *  - `length`/`year`/`month` results are cast to BIGINT (DuckDB returns
  *    BIGINT, Spark INT).
  *  - ORDER BY used with LIMIT/OFFSET always carries a unique tie-break key.
  *
  * Scale notes: `nation`/`region` are fixed-size dimensions → explicit
  * [[broadcast]]; larger joins shuffle on their keys and AQE (enabled in the
  * session) handles skew/coalescing. No query collects to the driver.
  */
object RelationalQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  /** SIZE-GATED broadcast hint (guide §3.1): apply `broadcast(df)` only
    * when the on-disk bytes of the tables feeding `df` (Skew.advisoryFor's
    * probe) are under `limitBytes`. The planner no longer broadcasts
    * lineitem ([[Tables.openParquet]] sizes it by its rows), and Spark
    * sizes a join as the product of its inputs. [[SmallSideBroadcast]]
    * bounds q30's customer⋈orders subtree by its larger input instead,
    * but it has no filter selectivity: at sf1 the subtree's 1.5M orders
    * rows stay over the broadcast threshold, so without this hint the
    * planner shuffles lineitem into a sort-merge join and AQE broadcasts
    * the subtree only after lineitem's shuffle is written. The hint
    * broadcasts the subtree up front and streams lineitem (q30 at sf1,
    * `tools.ScaleUp` ×10, 4 cores: 1.37 s hinted, 2.65 s planner-only;
    * at sf0.1 the rule alone already broadcasts it). At production scale
    * the probe blows the limit and the plan stays planner-decided, so
    * the hint can never demand an impossible broadcast. Default limit
    * 256 MiB of source parquet ≈ well under the 8 GiB broadcast cap after
    * filter+project. Conf
    * `spark.graft.broadcastProbeLimit` overrides. */
  private def broadcastIfSmall(
      s: SparkSession, dir: String, tables: Seq[String])(
      df: DataFrame): DataFrame = {
    // a malformed conf value must degrade to the default limit, not fail
    // the query with a NumberFormatException (r18, advisor note)
    val limit = s.conf.getOption("spark.graft.broadcastProbeLimit")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(256L << 20)
    val bytes = tables.map { tb =>
      try {
        val p = new org.apache.hadoop.fs.Path(s"$dir/$tb.parquet")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        // unknown size counts as the limit itself (disables the hint):
        // an unprobeable input is more likely production-sized
        if (fs.exists(p)) fs.getContentSummary(p).getLength else limit
      } catch { case scala.util.control.NonFatal(_) => limit }
    }.sum
    if (bytes < limit) broadcast(df) else df
  }

  /** Exact, order-independent monetary sum, surfaced as DOUBLE: the decimal
    * sum makes the value independent of partial-agg order; the final double
    * cast gives both engines the identical output type (Spark's decimal sum
    * is DECIMAL(28,2), DuckDB's DECIMAL(38,2) — same values, different
    * logical types, and the driver hash includes the value representation). */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Deterministic mean: exact decimal sum → double ÷ exact count. Plain
    * round(avg(double)) is summation-order-dependent and can flip the 4th
    * decimal between engines at larger SFs. */
  private def davg(c: Column): Column =
    round(sum(c.cast("decimal(18,2)")).cast("double") / count(lit(1)), 4)

  /** Exact monetary sum via SCALED LONGS — the hot-aggregate form of
    * [[dsum]]: codegen'd long adds beat BigDecimal adds ~2× on the
    * TPC-H Q1 shape (measured at sf0.1; values bit-identical to the
    * decimal fold). Exact because a d-dp monetary double ×10^d lands
    * within ~1e-5 of an integer — never near .5 — so Spark and DuckDB
    * round to the same long; the sum is order-independent integer
    * arithmetic and the single final division of identical integers is
    * identically IEEE-rounded. Capacity: Σ ≤ 9.2·10^18 / 10^d units
    * per group (d=2 → ~9·10^16 currency units: beyond 100 TB fact
    * tables); ANSI mode makes an overflow loud, and [[dsum]] remains
    * the fallback for wider values. */
  private def lsum(c: Column, digits: Int): Column = {
    val s = math.pow(10, digits)
    sum(round(c * s).cast("long")) / s
  }

  /** [[lsum]] for 6-dp PRODUCTS of monetary columns, split into a
    * two-long accumulator (whole units + micro-remainder) so neither
    * sum can overflow at scale: Σhi is bounded by total currency units
    * (9.2·10^18 capacity), Σlo by 10^6·rows (fits to ~10^12 rows per
    * group). Both engines compute hi/lo with the same integer div/mod
    * on the same per-row long, and the final hi + lo/10^6 double is
    * identically rounded. */
  private def lsum6(c: Column): Column = {
    val v = round(c * 1000000).cast("long")
    val lo = pmod(v, lit(1000000L))
    val hi = ((v - lo) / lit(1000000L)).cast("long")
    sum(hi) + sum(lo) / 1000000.0
  }

  val queries: Seq[Q] = Seq(
    Q("q01_scan_projection",
      (s, d) => t(s, d, "customer").select("c_name", "c_acctbal"),
      Some("SELECT c_name, c_acctbal FROM customer")),

    Q("q02_filter_predicates",
      (s, d) =>
        t(s, d, "orders")
          .filter(col("o_totalprice") > 1000 && col("o_orderstatus") === "O")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"),
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |o_orderpriority FROM orders
             |WHERE o_totalprice > 1000 AND o_orderstatus = 'O'"""
        .stripMargin.replace('\n', ' '))),

    Q("q03_alias_wildcard",
      (s, d) =>
        t(s, d, "region").alias("r")
          .select(col("r.*"), col("r_name").as("region_name")),
      Some("SELECT r.*, r_name AS region_name FROM region r")),

    Q("q04_join_inner",
      (s, d) =>
        t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "c_name", "o_totalprice"),
      Some("""SELECT o_orderkey, c_name, o_totalprice FROM orders
             |JOIN customer ON o_custkey = c_custkey"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // No broadcast hint: nation is the PRESERVED side of the left join,
    // and an outer join cannot broadcast its preserved side (unmatched
    // build rows can't be tracked across partitions — Spark ignores the
    // hint with a build-left warning). The shuffle join is the right
    // plan for this dim-preserving shape.
    Q("q05_join_left",
      (s, d) =>
        t(s, d, "nation")
          .join(t(s, d, "supplier"),
            col("n_nationkey") === col("s_nationkey"), "left")
          .select("n_name", "s_name", "s_acctbal"),
      Some("""SELECT n_name, s_name, s_acctbal FROM nation
             |LEFT JOIN supplier ON n_nationkey = s_nationkey"""
        .stripMargin.replace('\n', ' '))),

    Q("q06_join_right",
      (s, d) =>
        t(s, d, "customer")
          .join(t(s, d, "nation"),
            col("c_nationkey") === col("n_nationkey"), "right")
          .select("n_name", "c_name"),
      Some("""SELECT n_name, c_name FROM customer
             |RIGHT JOIN nation ON c_nationkey = n_nationkey"""
        .stripMargin.replace('\n', ' '))),

    Q("q07_join_full",
      (s, d) =>
        t(s, d, "nation")
          .join(t(s, d, "supplier"),
            col("n_nationkey") === col("s_nationkey"), "full")
          .select("n_name", "s_name"),
      Some("""SELECT n_name, s_name FROM nation
             |FULL JOIN supplier ON n_nationkey = s_nationkey"""
        .stripMargin.replace('\n', ' '))),

    Q("q08_join_cross",
      (s, d) =>
        t(s, d, "region").crossJoin(t(s, d, "nation"))
          .select("r_name", "n_name"),
      Some("SELECT r_name, n_name FROM region CROSS JOIN nation")),

    // Implicit comma cross-join + WHERE equi-predicate — the reference plans
    // this as Cross+Filter (tmp/select.rs:295-303); Catalyst rewrites ours
    // into a real equi-join.
    Q("q09_join_implicit_cross",
      (s, d) =>
        t(s, d, "region").crossJoin(t(s, d, "nation"))
          .filter(col("n_regionkey") === col("r_regionkey"))
          .select("r_name", "n_name"),
      Some("""SELECT r_name, n_name FROM region, nation
             |WHERE n_regionkey = r_regionkey"""
        .stripMargin.replace('\n', ' '))),

    // Theta join: reference join constraints are arbitrary exprs
    // (tmp/select.rs:449-471). Scale note: a theta self-join is quadratic
    // within each nation key BY DEFINITION; the discipline that keeps it
    // usable at 100 TB is the selective pre-filter (acctbal > 9000 cuts
    // each side ~10×, the pair count ~100×) applied BEFORE the join —
    // pushed to the scan by Catalyst — exactly how production theta joins
    // are written. An unfiltered all-pairs-per-key form does not scale and
    // is not offered.
    Q("q10_join_theta",
      (s, d) => {
        val rich = t(s, d, "customer").filter(col("c_acctbal") > 9000)
        rich.alias("c1").join(rich.alias("c2"),
            col("c1.c_nationkey") === col("c2.c_nationkey") &&
              col("c1.c_custkey") < col("c2.c_custkey"))
          .select(col("c1.c_custkey").as("a"), col("c2.c_custkey").as("b"),
            col("c1.c_nationkey").as("nk"))
      },
      Some("""SELECT c1.c_custkey AS a, c2.c_custkey AS b,
             |c1.c_nationkey AS nk
             |FROM customer c1 JOIN customer c2
             |ON c1.c_nationkey = c2.c_nationkey
             |AND c1.c_custkey < c2.c_custkey
             |WHERE c1.c_acctbal > 9000 AND c2.c_acctbal > 9000"""
        .stripMargin.replace('\n', ' '))),

    // All 5 aggregate functions + DISTINCT flag (SURVEY §2.4 #13-19).
    Q("q11_agg_groupby",
      (s, d) =>
        t(s, d, "customer").groupBy("c_nationkey").agg(
          count(lit(1)).as("n"),
          countDistinct(col("c_mktsegment")).as("nseg"),
          dsum(col("c_acctbal")).as("sum_bal"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"),
          davg(col("c_acctbal")).as("avg_bal")),
      Some("""SELECT c_nationkey, count(*) AS n,
             |count(DISTINCT c_mktsegment) AS nseg,
             |CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
             |min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
             |round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_bal
             |FROM customer GROUP BY c_nationkey"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // Global aggregate without GROUP BY — done with correct SQL semantics,
    // deliberately NOT replicating the reference's IR quirk (SURVEY §2.4 ⚠).
    Q("q12_agg_global",
      (s, d) =>
        t(s, d, "lineitem").agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity")).as("sum_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          countDistinct(col("l_orderkey")).as("n_orders")),
      Some("""SELECT count(*) AS cnt, sum(l_quantity) AS sum_qty,
             |min(l_extendedprice) AS min_price,
             |max(l_extendedprice) AS max_price,
             |count(DISTINCT l_orderkey) AS n_orders FROM lineitem"""
        .stripMargin.replace('\n', ' '))),

    // HAVING = Filter above Aggregate, same shape as the reference
    // (tmp/select.rs:213-220).
    Q("q13_having",
      (s, d) =>
        t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total"))
          .filter(col("n_orders") > 20),
      Some("""SELECT n_name, count(*) AS n_orders,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name HAVING count(*) > 20"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    Q("q14_sort_limit_offset",
      (s, d) =>
        t(s, d, "orders").select("o_orderkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .offset(5).limit(10),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10 OFFSET 5"""
        .stripMargin.replace('\n', ' '))),

    // Explicit null placement (SURVEY §7.4-5: the reference's declared sort
    // defaults differ from Spark's, so placement is always emitted).
    Q("q15_sort_nulls",
      (s, d) =>
        // no broadcast hint — preserved side of an outer join (see q05)
        t(s, d, "nation")
          .join(t(s, d, "supplier"),
            col("n_nationkey") === col("s_nationkey"), "left")
          .select("n_name", "s_name", "s_suppkey")
          .orderBy(col("s_suppkey").desc_nulls_first, col("n_nationkey").asc)
          .limit(30),
      Some("""SELECT n_name, s_name, s_suppkey FROM nation
             |LEFT JOIN supplier ON n_nationkey = s_nationkey
             |ORDER BY s_suppkey DESC NULLS FIRST, n_nationkey ASC LIMIT 30"""
        .stripMargin.replace('\n', ' '))),

    // CTE + derived table (SURVEY §2.8 #22-23): SQL-shaped, so it goes
    // through the spark.sql path — the same statement runs on both engines.
    Q("q16_cte_derived",
      (s, d) => { Tables.ensureRegistered(s, d); s.sql(Sql.cteDerived) },
      Some(Sql.cteDerived)),

    // Scalar subquery in a predicate (SURVEY §2.8 #24).
    Q("q17_subquery_scalar",
      (s, d) => { Tables.ensureRegistered(s, d); s.sql(Sql.scalarSubquery) },
      Some(Sql.scalarSubquery)),

    // Scalar-function passthrough (SURVEY §2.9 #28) resolved against Spark's
    // real FunctionRegistry instead of the reference's unvalidated strings.
    Q("q18_scalar_functions",
      (s, d) =>
        t(s, d, "customer").select(
          col("c_custkey"),
          upper(col("c_name")).as("uname"),
          lower(col("c_mktsegment")).as("lseg"),
          substring(col("c_name"), 1, 8).as("pre"),
          length(col("c_name")).cast("long").as("len"),
          abs(col("c_acctbal")).as("aabs"),
          round(col("c_acctbal"), 1).as("rb"),
          concat(col("c_name"), lit("-"), col("c_mktsegment")).as("ccat")),
      Some("""SELECT c_custkey, upper(c_name) AS uname,
             |lower(c_mktsegment) AS lseg, substr(c_name,1,8) AS pre,
             |CAST(length(c_name) AS BIGINT) AS len, abs(c_acctbal) AS aabs,
             |round(c_acctbal,1) AS rb,
             |concat(c_name,'-',c_mktsegment) AS ccat FROM customer"""
        .stripMargin.replace('\n', ' '))),

    Q("q19_distinct",
      (s, d) =>
        t(s, d, "customer").select("c_mktsegment", "c_nationkey").distinct(),
      Some("SELECT DISTINCT c_mktsegment, c_nationkey FROM customer")),

    // Set operations (SURVEY §2.7 — declared-but-todo!() in the reference;
    // first-class here).
    Q("q20_setop_union",
      (s, d) =>
        t(s, d, "customer").select(col("c_nationkey").as("k"))
          .union(t(s, d, "supplier").select(col("s_nationkey").as("k")))
          .distinct(),
      Some("""SELECT c_nationkey AS k FROM customer
             |UNION SELECT s_nationkey AS k FROM supplier"""
        .stripMargin.replace('\n', ' '))),

    Q("q21_setop_intersect",
      (s, d) =>
        t(s, d, "customer").select(col("c_nationkey").as("k"))
          .intersect(t(s, d, "supplier").select(col("s_nationkey").as("k"))),
      Some("""SELECT c_nationkey AS k FROM customer
             |INTERSECT SELECT s_nationkey AS k FROM supplier"""
        .stripMargin.replace('\n', ' '))),

    Q("q22_setop_except",
      (s, d) =>
        t(s, d, "nation").select(col("n_nationkey").as("k"))
          .except(t(s, d, "supplier").select(col("s_nationkey").as("k"))),
      Some("""SELECT n_nationkey AS k FROM nation
             |EXCEPT SELECT s_nationkey AS k FROM supplier"""
        .stripMargin.replace('\n', ' '))),

    Q("q23_date_functions",
      (s, d) =>
        t(s, d, "orders")
          .filter(col("o_orderdate") >= expr("TIMESTAMP '2000-01-01 00:00:00'"))
          .select(
            col("o_orderkey"),
            to_date(col("o_orderdate")).cast("timestamp").as("od"),
            year(col("o_orderdate")).cast("long").as("y"),
            month(col("o_orderdate")).cast("long").as("m"),
            date_add(to_date(col("o_orderdate")), 30).cast("timestamp")
              .as("due")),
      Some("""SELECT o_orderkey,
             |CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS od,
             |CAST(year(o_orderdate) AS BIGINT) AS y,
             |CAST(month(o_orderdate) AS BIGINT) AS m,
             |CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS due FROM orders
             |WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'"""
        .stripMargin.replace('\n', ' '))),

    Q("q24_case_when",
      (s, d) =>
        t(s, d, "orders").select(
          col("o_orderkey"),
          when(col("o_totalprice") > 400000, "big")
            .when(col("o_totalprice") > 200000, "mid")
            .otherwise("small").as("bucket")),
      Some("""SELECT o_orderkey,
             |CASE WHEN o_totalprice > 400000 THEN 'big'
             |WHEN o_totalprice > 200000 THEN 'mid'
             |ELSE 'small' END AS bucket FROM orders"""
        .stripMargin.replace('\n', ' '))),

    // Window function (extension beyond the reference; SURVEY §2.5).
    Q("q25_window_topk",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          // BIGINT for oracle width parity (DuckDB row_number is BIGINT)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |SELECT o_custkey, o_orderkey, o_totalprice,
             |row_number() OVER (PARTITION BY o_custkey
             |ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
             |FROM orders) t WHERE rn <= 3"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // Semi/anti joins (Spark-native forms of IN / NOT EXISTS).
    Q("q26_semi_in",
      (s, d) =>
        t(s, d, "customer")
          .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"),
            "left_semi")
          .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders)"""
        .stripMargin.replace('\n', ' '))),

    Q("q27_anti_not_exists",
      (s, d) =>
        t(s, d, "customer")
          .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"),
            "left_anti")
          .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |WHERE o_custkey = c.c_custkey)"""
        .stripMargin.replace('\n', ' '))),

    // TPC-H-style headline queries (bench set). Money folds use the
    // scaled-long accumulators ([[lsum]]/[[lsum6]]) — measured ~2× over
    // the decimal folds on this shape, bit-identical values, with the
    // two-long split keeping the 6-dp product sums overflow-safe at
    // scale; the oracle mirrors the integer arithmetic operation for
    // operation.
    Q("q28_pricing_summary",
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") <= expr("TIMESTAMP '2000-09-02 00:00:00'"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(col("l_quantity")).as("sum_qty"),
            lsum(col("l_extendedprice"), 2).as("sum_base_price"),
            lsum6(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("sum_disc_price"),
            lsum6(col("l_extendedprice") * (lit(1) - col("l_discount")) *
              (lit(1) + col("l_tax"))).as("sum_charge"),
            round(lsum(col("l_quantity"), 2) / count(lit(1)), 4)
              .as("avg_qty"),
            round(lsum(col("l_extendedprice"), 2) / count(lit(1)), 4)
              .as("avg_price"),
            round(lsum(col("l_discount"), 4) / count(lit(1)), 4)
              .as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""WITH b AS (SELECT l_returnflag, l_linestatus, l_quantity,
             |CAST(round(l_quantity * 100.0) AS BIGINT) AS q2,
             |CAST(round(l_extendedprice * 100.0) AS BIGINT) AS p2,
             |CAST(round(l_discount * 10000.0) AS BIGINT) AS d4,
             |CAST(round(l_extendedprice*(1-l_discount) * 1000000.0)
             |AS BIGINT) AS v6,
             |CAST(round(l_extendedprice*(1-l_discount)*(1+l_tax)
             |* 1000000.0) AS BIGINT) AS c6
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00')
             |SELECT l_returnflag, l_linestatus,
             |sum(l_quantity) AS sum_qty,
             |CAST(sum(p2) AS BIGINT) / 100.0 AS sum_base_price,
             |CAST(sum((v6 - v6 % 1000000) // 1000000) AS BIGINT)
             |+ CAST(sum(v6 % 1000000) AS BIGINT) / 1000000.0
             |AS sum_disc_price,
             |CAST(sum((c6 - c6 % 1000000) // 1000000) AS BIGINT)
             |+ CAST(sum(c6 % 1000000) AS BIGINT) / 1000000.0
             |AS sum_charge,
             |round((CAST(sum(q2) AS BIGINT) / 100.0) / count(*), 4)
             |AS avg_qty,
             |round((CAST(sum(p2) AS BIGINT) / 100.0) / count(*), 4)
             |AS avg_price,
             |round((CAST(sum(d4) AS BIGINT) / 10000.0) / count(*), 4)
             |AS avg_disc,
             |count(*) AS count_order
             |FROM b GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    Q("q29_shipping_priority",
      (s, d) =>
        t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
          .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
          .filter(col("o_orderdate") < expr("TIMESTAMP '1998-01-01 00:00:00'"))
          .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .filter(col("l_shipdate") > expr("TIMESTAMP '1998-01-01 00:00:00'"))
          .groupBy(col("l_orderkey"),
            to_date(col("o_orderdate")).cast("timestamp").as("odate"),
            col("o_orderpriority"))
          .agg(lsum6(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10),
      Some("""WITH b AS (SELECT l_orderkey,
             |CAST(o_orderdate AS DATE) AS od, o_orderpriority,
             |CAST(round(l_extendedprice*(1-l_discount) * 1000000.0)
             |AS BIGINT) AS v6
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00')
             |SELECT l_orderkey, CAST(od AS TIMESTAMP) AS odate,
             |o_orderpriority,
             |CAST(sum((v6 - v6 % 1000000) // 1000000) AS BIGINT)
             |+ CAST(sum(v6 % 1000000) AS BIGINT) / 1000000.0 AS revenue
             |FROM b GROUP BY l_orderkey, od, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    Q("q30_local_supplier_volume",
      // STREAM the fact (guide §3.1/§2.3): lineitem is the probe side of
      // every join and the 2-long-column filtered customer⋈orders
      // subtree — ~10× fewer rows after the 2-year date filter — is the
      // build side, size-gated via [[broadcastIfSmall]] so production
      // scale falls back to the planner. Without the hint the planner
      // shuffles lineitem to a sort-merge join from sf1 on, since it
      // cannot estimate the filtered subtree as small (see
      // [[broadcastIfSmall]]). Same
      // joins, same predicates, identical output (driver hash
      // re-verified).
      (s, d) => {
        val co = t(s, d, "customer")
          .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
          .filter(col("o_orderdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
            col("o_orderdate") < expr("TIMESTAMP '1998-01-01 00:00:00'"))
          .select("o_orderkey", "c_nationkey")
        t(s, d, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
          .join(broadcastIfSmall(s, d, Seq("customer", "orders"))(co),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcastIfSmall(s, d, Seq("supplier"))(t(s, d, "supplier")),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(t(s, d, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")),
            col("n_regionkey") === col("r_regionkey") &&
              col("r_name") === "ASIA")
          .groupBy("n_name")
          .agg(lsum6(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("n_name").asc)
      },
      Some("""WITH b AS (SELECT n_name,
             |CAST(round(l_extendedprice*(1-l_discount) * 1000000.0)
             |AS BIGINT) AS v6
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
             |SELECT n_name,
             |CAST(sum((v6 - v6 % 1000000) // 1000000) AS BIGINT)
             |+ CAST(sum(v6 % 1000000) AS BIGINT) / 1000000.0 AS revenue
             |FROM b GROUP BY n_name ORDER BY revenue DESC, n_name ASC"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // Standalone nested query body (SURVEY §2.8 #27): a parenthesized
    // query as the whole FROM — tmp/select.rs:231-234 recurses the same way.
    Q("q31_nested_body",
      (s, d) => { Tables.ensureRegistered(s, d); s.sql(Sql.nestedBody) },
      Some(Sql.nestedBody)),

    // Generic scalar-function passthrough (SURVEY §2.9 #28) through the
    // public ExecutionContext.execute API: arbitrary function names resolve
    // against Spark's FunctionRegistry (the reference carries any name
    // unvalidated, tmp/select.rs:583-611; we validate at analysis).
    Q("q32_function_passthrough",
      (s, d) => new ExecutionContext(s).registerTestData(d)
        .execute(Sql.passthrough),
      Some(Sql.passthrough)),

    // USING-constraint join — declared unsupported (todo!) in the reference
    // (tmp/select.rs:459-461); first-class here. Shared SQL text runs
    // verbatim on both engines.
    Q("q33_join_using",
      (s, d) => { Tables.ensureRegistered(s, d); s.sql(Sql.joinUsing) },
      Some(Sql.joinUsing)),

    // ROLLUP — the reference rejects complex GROUP BY
    // ("Complex GROUP BY expressions not supported yet",
    // tmp/select.rs:402); Spark and DuckDB both support it natively.
    Q("q34_rollup",
      (s, d) =>
        t(s, d, "customer")
          .rollup(col("c_nationkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            dsum(col("c_acctbal")).as("sum_bal")),
      Some("""SELECT c_nationkey, c_mktsegment, count(*) AS n,
             |CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
             |FROM customer GROUP BY ROLLUP (c_nationkey, c_mktsegment)"""
        .stripMargin.replace('\n', ' '))),

    // CUBE — all 4 grouping combinations in ONE pass (Expand + single
    // aggregate exchange), vs 4 separate scans a naive union would cost.
    Q("q35_cube",
      (s, d) =>
        t(s, d, "customer")
          .cube(col("c_nationkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            dsum(col("c_acctbal")).as("sum_bal")),
      Some("""SELECT c_nationkey, c_mktsegment, count(*) AS n,
             |CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
             |FROM customer GROUP BY CUBE (c_nationkey, c_mktsegment)"""
        .stripMargin.replace('\n', ' '))),

    // PIVOT with an EXPLICIT value list: Spark's pivot(values) plans one
    // aggregate pass; omitting the list costs an extra collect-distinct
    // job — never acceptable on a 100 TB fact table. Oracle states the
    // same thing as conditional aggregation (engine-portable PIVOT).
    Q("q36_pivot",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(dsum(col("l_quantity")))
          .withColumnRenamed("F", "qty_f")
          .withColumnRenamed("O", "qty_o"),
      Some("""SELECT l_returnflag,
             |CAST(sum(CASE WHEN l_linestatus = 'F'
             |THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
             |CAST(sum(CASE WHEN l_linestatus = 'O'
             |THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
             |FROM lineitem GROUP BY l_returnflag"""
        .stripMargin.replace('\n', ' '))),

    // FRAME-based window aggregation — the relational surface q25's
    // ranking windows don't touch: running total (unbounded-preceding
    // frame), 3-row moving average (bounded ROWS frame), and lag-offset
    // gap, all per customer in order-date order. Both sums fold through
    // DECIMAL(18,2) so the cumulative arithmetic is EXACT on both
    // engines (a double running sum accumulates sequentially in Spark
    // but via segment trees in DuckDB — different fold orders); the
    // orderkey tiebreak makes RANGE==ROWS irrelevant (explicit ROWS
    // anyway). Scale: one shuffle on o_custkey, per-key sequential frame
    // scan — the canonical windowed-analytics shape.
    // avg3 rounds at scale 4, NOT 2: a cents sum over a ≤3-row frame
    // divided by {1,2,3} yields quotients with at most THREE exact
    // decimals (count 2: x.xx5) or non-terminating ones — at scale 2 the
    // count=2 case is an exact decimal TIE, where Spark's
    // BigDecimal.valueOf(shortest-repr ".235") rounds half-up to .24
    // while DuckDB's binary x*100 lands at .23499... -> .23 (verified on
    // this fixture: 5 rows flipped). At scale 4 no quotient can tie, so
    // the engines agree bit-for-bit.
    Q("q37_window_frames",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wo = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val w3 = wo.rowsBetween(-2, 0)
        t(s, d, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).over(run)
            .cast("double"), 2).as("running_spend"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).over(w3)
            .cast("double") /
            count(lit(1)).over(w3).cast("double"), 4).as("avg3"),
          (unix_timestamp(col("o_orderdate")) -
            unix_timestamp(lag(col("o_orderdate"), 1).over(wo)))
            .as("gap_s"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |OVER wrun AS DOUBLE), 2) AS running_spend,
             |round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |OVER w3 AS DOUBLE) / CAST(count(*) OVER w3 AS DOUBLE), 4)
             |AS avg3,
             |date_diff('second', lag(o_orderdate) OVER wo, o_orderdate)
             |AS gap_s
             |FROM orders
             |WINDOW wo AS (PARTITION BY o_custkey
             |ORDER BY o_orderdate, o_orderkey),
             |wrun AS (PARTITION BY o_custkey
             |ORDER BY o_orderdate, o_orderkey
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |w3 AS (PARTITION BY o_custkey
             |ORDER BY o_orderdate, o_orderkey
             |ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"""
        .stripMargin.replace('\n', ' '))),

    // GROUPING SETS — the third multi-grouping form next to q34's ROLLUP
    // and q35's CUBE, here with two DISJOINT single-column sets (a
    // "per-nation plus per-segment" report that a naive approach runs as
    // two scans + union). Spark plans ONE scan + Expand (2 output rows
    // per input) + one aggregate exchange, identical to the cube plan
    // shape. grouping_id() disambiguates which set a row belongs to —
    // both engines use the Postgres bit convention (leftmost grouping
    // column = most significant bit, 1 = aggregated-away), asserted by
    // the oracle's GROUPING(c_nationkey, c_mktsegment).
    Q("q38_grouping_sets",
      (s, d) =>
        t(s, d, "customer")
          .groupingSets(
            Seq(Seq(col("c_nationkey")), Seq(col("c_mktsegment"))),
            col("c_nationkey"), col("c_mktsegment"))
          .agg(grouping_id().as("gid"),
            count(lit(1)).as("n"),
            dsum(col("c_acctbal")).as("sum_bal")),
      Some("""SELECT c_nationkey, c_mktsegment,
             |CAST(GROUPING(c_nationkey, c_mktsegment) AS BIGINT) AS gid,
             |count(*) AS n,
             |CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
             |FROM customer
             |GROUP BY GROUPING SETS ((c_nationkey), (c_mktsegment))"""
        .stripMargin.replace('\n', ' '))),

    // Distribution window functions (ntile / percent_rank / cume_dist) —
    // the rank-to-fraction surface q25's ranking windows and q37's frames
    // don't cover. The ORDER BY carries the c_custkey tie-break so all
    // three are total-order deterministic (ntile assigns by ROW POSITION,
    // so an untied order is a correctness requirement, not a nicety);
    // with distinct ranks, percent_rank = (rank-1)/(n-1) and
    // cume_dist = rank/n are single correctly-rounded IEEE divisions of
    // exact integers — bit-identical across engines, no rounding guard
    // needed. Scale: one shuffle on c_mktsegment + a per-partition sort.
    // A 5-segment key over a 100 TB table would put ~20% of the corpus
    // in one window task — for production percentile CUTS use p03's
    // two-pass calibration instead; this entry is the exact-SQL surface
    // for moderate-cardinality partitions.
    Q("q39_distribution_ranks",
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal"), col("c_custkey"))
        t(s, d, "customer").select(
          col("c_custkey"), col("c_mktsegment"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
      },
      Some("""SELECT c_custkey, c_mktsegment,
             |ntile(4) OVER w AS quartile,
             |percent_rank() OVER w AS pr,
             |cume_dist() OVER w AS cd
             |FROM customer
             |WINDOW w AS (PARTITION BY c_mktsegment
             |ORDER BY c_acctbal, c_custkey)"""
        .stripMargin.replace('\n', ' '))),

    // MULTISET set operations — the ALL forms q21/q22's DISTINCT
    // variants don't cover (bag semantics: a key occurring 3× in
    // customer-nations and 1× in supplier-nations survives EXCEPT ALL
    // twice). Spark plans INTERSECT ALL / EXCEPT ALL as one aggregate
    // counting per side + a generate — no join explosion, single
    // exchange on the compared columns.
    Q("q40_setop_all",
      (s, d) => {
        val c = t(s, d, "customer").select(col("c_nationkey").as("k"))
        val su = t(s, d, "supplier").select(col("s_nationkey").as("k"))
        c.intersectAll(su).withColumn("op", lit("intersect_all"))
          .unionByName(c.exceptAll(su).withColumn("op", lit("except_all")))
      },
      Some("""SELECT k, 'intersect_all' AS op FROM
             |(SELECT c_nationkey AS k FROM customer
             |INTERSECT ALL SELECT s_nationkey AS k FROM supplier)
             |UNION ALL
             |SELECT k, 'except_all' AS op FROM
             |(SELECT c_nationkey AS k FROM customer
             |EXCEPT ALL SELECT s_nationkey AS k FROM supplier)"""
        .stripMargin.replace('\n', ' '))),

    // VALUE window functions (first_value / last_value / nth_value) over
    // an explicit frame — the remaining window-function class after
    // q25's ranks, q37's frame aggregates, and q39's distributions.
    // last_value reads the whole-partition frame (the default
    // current-row frame makes last_value trivially the row itself — the
    // classic footgun, stated explicitly on both engines); the order
    // carries the orderkey tie-break so every value pick is total-order
    // deterministic.
    Q("q41_value_windows",
      (s, d) => {
        val wf = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, d, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          first(col("o_totalprice")).over(wf).as("first_spend"),
          last(col("o_totalprice")).over(wf).as("last_spend"),
          nth_value(col("o_totalprice"), 2).over(wf).as("second_spend"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |first_value(o_totalprice) OVER w AS first_spend,
             |last_value(o_totalprice) OVER w AS last_spend,
             |nth_value(o_totalprice, 2) OVER w AS second_spend
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey
             |ORDER BY o_orderdate, o_orderkey
             |ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""
        .stripMargin.replace('\n', ' '))),

    // LATERAL correlated subquery — the remaining subquery class after
    // q17's scalar and q26/q27's IN/EXISTS forms: a per-row dependent
    // subquery in FROM (top-2 customers by balance per nation), the
    // construct SQL:1999 calls LATERAL and both engines accept with the
    // same comma syntax. Spark decorrelates it into a ranked window
    // join — the same physical plan q25's explicit window would give —
    // so the SQL surface costs nothing over the hand-written form.
    // Deterministic: balance ties broken by c_custkey in the ORDER BY.
    Q("q42_lateral_topn",
      (s, d) => { Tables.ensureRegistered(s, d); s.sql(Sql.lateralTopN) },
      Some(Sql.lateralTopN)),

    // RANGE-frame windows — the frame class q37's ROWS frames don't
    // cover: the frame bound is a VALUE distance on the ORDER BY key
    // (trailing-90-day spend per customer), not a row count. Range
    // frames are tie-insensitive by construction (all peers of the
    // boundary value are in or out together), so no orderkey tie-break
    // is needed for determinism; the windowed sum stays exact decimal
    // (the cteDerived rule) before the final double cast. ORDER BY key
    // is an integer day offset — Spark's rangeBetween needs a numeric
    // key, and it keeps the output DATE-free (q23's hash rule). Scale:
    // one shuffle on o_custkey, per-partition sliding frame — same cost
    // class as q37.
    Q("q43_range_frame",
      (s, d) => {
        val wf = Window.partitionBy("o_custkey").orderBy(col("day"))
          .rangeBetween(-90, 0)
        t(s, d, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          datediff(to_date(col("o_orderdate")), to_date(lit("1992-01-01")))
            .cast("long").as("day"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
          .select(col("o_orderkey"), col("o_custkey"), col("day"),
            sum(col("p")).over(wf).cast("double").as("spend_90d"),
            count(lit(1)).over(wf).cast("long").as("n_90d"))
      },
      Some("""WITH o AS (SELECT o_orderkey, o_custkey,
             |date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
             |AS day, CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders)
             |SELECT o_orderkey, o_custkey, day,
             |CAST(sum(p) OVER w AS DOUBLE) AS spend_90d,
             |CAST(count(*) OVER w AS BIGINT) AS n_90d FROM o
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
             |RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // UNPIVOT — the inverse reshape of q36's PIVOT: lineitem's four
    // measure columns melt into (measure, val) rows. Spark's
    // Dataset.unpivot is a per-row Expand (no shuffle, no collect);
    // the oracle restates it as the portable UNION ALL form. Measures
    // pre-cast to double so the melted column has one type on both
    // engines. Scale: output is 4× the filtered input rows, produced
    // map-side — the reshape never exchanges.
    Q("q44_unpivot",
      (s, d) => {
        val m = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        t(s, d, "lineitem").filter(col("l_orderkey") < 1000)
          .select(col("l_orderkey") +: col("l_linenumber").cast("long")
            .as("l_linenumber") +:
            m.map(c => col(c).cast("double").as(c)): _*)
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            m.map(col).toArray, "measure", "val")
      },
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT)
             |AS l_linenumber, m AS measure, v AS val FROM (
             |SELECT l_orderkey, l_linenumber, 'l_quantity' AS m,
             |CAST(l_quantity AS DOUBLE) AS v FROM lineitem
             |WHERE l_orderkey < 1000 UNION ALL
             |SELECT l_orderkey, l_linenumber, 'l_extendedprice',
             |CAST(l_extendedprice AS DOUBLE) FROM lineitem
             |WHERE l_orderkey < 1000 UNION ALL
             |SELECT l_orderkey, l_linenumber, 'l_discount',
             |CAST(l_discount AS DOUBLE) FROM lineitem
             |WHERE l_orderkey < 1000 UNION ALL
             |SELECT l_orderkey, l_linenumber, 'l_tax',
             |CAST(l_tax AS DOUBLE) FROM lineitem
             |WHERE l_orderkey < 1000) u"""
        .stripMargin.replace('\n', ' '))),

    // GROUP BY ALL / ORDER BY ALL — the modern shorthand (DuckDB
    // introduced it; Spark 4 adopted it): identical SQL text runs on
    // both engines, grouping by every non-aggregate select item.
    // Decimal-exact sum per the cteDerived rule.
    Q("q45_group_by_all",
      (s, d) => { Tables.ensureRegistered(s, d); s.sql(Sql.groupByAll) },
      Some(Sql.groupByAll)),

    // RECURSIVE CTE — Spark 4's WITH RECURSIVE (UnionLoop plan). The
    // classic warehouse use: generate a month date-spine and LEFT JOIN
    // the fact aggregate onto it so empty months surface as explicit
    // zeros (a plain GROUP BY silently drops them). Fixed endpoints
    // cover the generator's full o_orderdate range (1995-01..2001-08,
    // 80 iterations — under Spark's default 100-level recursion limit);
    // the spine is 80 rows, so the recursion is driver-trivial and the
    // join broadcasts the spine against the month aggregate. The oracle
    // states the identical recursion with DuckDB's interval arithmetic
    // (no add_months there). Decimal-exact revenue per the dsum rule.
    Q("q46_recursive_cte",
      (s, d) => { Tables.ensureRegistered(s, d); s.sql(Sql.recursiveSpark) },
      Some(Sql.recursiveDuck)),

    // STATISTICAL AGGREGATES (corr / covar_pop / var_pop / stddev_pop)
    // from EXACT decimal moments: the builtin double aggregates are
    // summation-order-dependent (each engine merges partials in its own
    // order), so the cross-engine twin derives every statistic from
    // order-independent decimal sums (Σx, Σy, Σx², Σy², Σxy) and then
    // combines them with an IDENTICAL double expression tree on both
    // sides — IEEE ops on identical inputs are bit-identical. Second
    // moments cast at DECIMAL(28,4): products of 2-dp values have ≤4
    // decimals and the double product is within a quarter-ulp, so the
    // 4-dp cast rounds exactly; 28-digit precision gives 10^24 headroom
    // over the sf0.1 Σprice² ≈ 10^15. Rounding precision is chosen per
    // statistic's magnitude (var ~1e9 → 2dp keeps the half-ulp boundary
    // 4 orders away from the conversion error; corr ~1e0 → 6dp).
    // RelationalSpec asserts the exact-moment corr matches Spark's
    // builtin corr() to 1e-9 — the builtin is the production one-liner,
    // this form is the oracle-stable twin. One partial-agg shuffle on
    // the 3-value group key; AQE coalesces.
    Q("q47_stats_moments",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val g = li.groupBy("l_returnflag").agg(
          count(lit(1)).cast("double").as("nf"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sx"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sy"),
          sum((col("l_quantity") * col("l_quantity"))
            .cast("decimal(28,4)")).cast("double").as("sxx"),
          sum((col("l_extendedprice") * col("l_extendedprice"))
            .cast("decimal(28,4)")).cast("double").as("syy"),
          sum((col("l_quantity") * col("l_extendedprice"))
            .cast("decimal(28,4)")).cast("double").as("sxy"))
        val nf = col("nf")
        val vx = col("sxx") / nf - (col("sx") / nf) * (col("sx") / nf)
        val vy = col("syy") / nf - (col("sy") / nf) * (col("sy") / nf)
        val cv = col("sxy") / nf - (col("sx") / nf) * (col("sy") / nf)
        g.select(col("l_returnflag"),
          nf.cast("long").as("n"),
          (round(vy, 2) + 0.0).as("var_pop_price"),
          (round(sqrt(vy), 4) + 0.0).as("stddev_pop_price"),
          (round(cv, 2) + 0.0).as("covar_pop"),
          (round(cv / (sqrt(vx) * sqrt(vy)), 6) + 0.0).as("corr_qty_price"))
      },
      Some(Sql.statsMoments)),

    // DATASET PROFILING — the per-column quality audit every ingest runs
    // before training (Deequ/Great-Expectations shape): one aggregate
    // pass over the table emits count / null-count / min / max / exact
    // median / distinct-count per numeric column, exploded to one row
    // per column. Exact percentile + COUNT(DISTINCT) are the audit-grade
    // forms that let the oracle state the answer; at 100 TB the same
    // entry swaps `approx_percentile` and HLL (t28's sketch argument) —
    // the plan shape (ONE scan, one partial+final agg, no joins) is
    // unchanged by the swap. Median interpolation is the shared type-7
    // quantile (index p·(n−1), linear interpolation), identical
    // arithmetic on both engines; rounded + sign-normalized per the
    // float rules anyway.
    Q("q48_data_profile",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
          "l_tax")
        val aggs = count(lit(1)).as("n") +: cols.flatMap { c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
          min(col(c)).as(s"${c}__min"),
          max(col(c)).as(s"${c}__max"),
          expr(s"percentile($c, 0.5)").as(s"${c}__p50"),
          countDistinct(col(c)).as(s"${c}__nd"))
        }
        li.agg(aggs.head, aggs.tail: _*)
          .select(col("n"), explode(array(cols.map(c => struct(
            lit(c).as("column"),
            col(s"${c}__nn").as("n_null"),
            col(s"${c}__min").as("min_v"),
            col(s"${c}__max").as("max_v"),
            (round(col(s"${c}__p50"), 4) + lit(0.0)).as("p50"),
            col(s"${c}__nd").as("n_distinct"))): _*)).as("st"))
          .select(col("st.column").as("column"), col("n"),
            col("st.n_null").as("n_null"), col("st.min_v").as("min_v"),
            col("st.max_v").as("max_v"), col("st.p50").as("p50"),
            col("st.n_distinct").as("n_distinct"))
      },
      Some(Sql.dataProfile)),

    // NATURAL JOIN — the reference declares it in its SELECT surface and
    // stops at `todo!` (`/root/reference/tmp/select.rs:462-464`); here it
    // runs for real through ExecutionContext.execute. TPC-H column names
    // are table-prefixed (a bare NATURAL JOIN of two base tables would
    // degenerate to a cross join on zero shared names), so the entry
    // joins derived tables sharing `rkey` — the standard rename-then-
    // natural-join shape. Catalyst plans it exactly like the equivalent
    // equi-join: broadcast of the 5-row region side, join-key dedup in
    // the output. Same text runs verbatim on DuckDB.
    Q("q49_natural_join",
      (s, d) => new ExecutionContext(s).registerTestData(d)
        .execute(Sql.naturalJoin),
      Some(Sql.naturalJoin)),

    // VALUES as a query BODY (not an INSERT source — m01/m08 cover that):
    // the reference declares the form at `tmp/select.rs:238` (`todo!`).
    // An inline literal relation with an explicit column-alias list
    // (DuckDB would otherwise name the columns col0.. vs Spark's col1..)
    // joined to a real table — the canonical enum-decode shape. Catalyst
    // folds the VALUES into a LocalRelation and broadcasts it; at 100 TB
    // this is the zero-IO side of a broadcast join, the right plan for
    // any literal decode table.
    Q("q50_values_body",
      (s, d) => new ExecutionContext(s).registerTestData(d)
        .execute(Sql.valuesBody),
      Some(Sql.valuesBody)),

    // Per-dialect lexing (`/root/reference/src/lib.rs:9-23` selects among
    // 11 sqlparser dialects): the mssql surface — bracketed identifiers
    // and TOP n — normalized to Spark's lexing by
    // [[ExecutionContext.normalizeDialect]] before spark.sql. The oracle
    // is the SAME query in the normalized (ANSI) spelling, so the gate
    // proves the rewrite preserves semantics, not just that it parses.
    Q("q51_dialect_mssql",
      (s, d) => new ExecutionContext(s, "mssql").registerTestData(d)
        .execute(
          """SELECT TOP 5 [r].[r_regionkey] AS rkey, [r_name] AS rname
            |FROM region AS [r] ORDER BY [r].[r_regionkey]"""
            .stripMargin.replace('\n', ' ')),
      Some("""SELECT r_regionkey AS rkey, r_name AS rname FROM region
             |ORDER BY r_regionkey LIMIT 5"""
        .stripMargin.replace('\n', ' '))),

    // Double-quoted identifiers (ansi/duckdb/redshift/sqlite/snowflake/
    // clickhouse): under Spark's default lexing "n_name" is the STRING
    // 'n_name', so without the rewrite this query would return 25 copies
    // of a constant — the gate catches exactly that failure mode. The
    // oracle keeps the quoted spelling (DuckDB lexes it as the dialect
    // does), making the two engines read the same query through their
    // own native rules.
    Q("q52_dialect_quoted_idents",
      (s, d) => new ExecutionContext(s, "duckdb").registerTestData(d)
        .execute(
          """SELECT "n_name" AS name, "n"."n_regionkey" AS rkey
            |FROM nation AS "n" WHERE "n_regionkey" < 3"""
            .stripMargin.replace('\n', ' ')),
      Some("""SELECT "n_name" AS name, "n"."n_regionkey" AS rkey
             |FROM nation AS "n" WHERE "n_regionkey" < 3"""
        .stripMargin.replace('\n', ' '))),

    // Catalog-error contract (§2 #2) as DATA: the reference's exact
    // "Table: X does not exist in database" message
    // (`tmp/select.rs:357-364`), surfaced through the public execute API
    // and gated against a VALUES oracle — the driver-visible twin of the
    // ScalaTest message specs.
    Q("q53_catalog_error_contract",
      (s, d) => {
        import s.implicits._
        val ctx = new ExecutionContext(s).registerTestData(d)
        val msg =
          try { ctx.execute("SELECT * FROM no_such_table"); "no error" }
          catch { case e: IllegalArgumentException => e.getMessage }
        Seq(msg).toDF("error_msg")
      },
      Some("SELECT 'Table: no_such_table does not exist in database' " +
        "AS error_msg")),

    // NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM) — the join
    // semantic plain `=` can't express: NULL keys MATCH each other
    // instead of vanishing (three-valued logic drops them from every
    // ordinary join). The construction derives a nullable key on both
    // sides (orders: NULL for the 1-URGENT priority class; customer
    // probe: NULL for segment BUILDING) so the null-bucket join arm
    // demonstrably fires — counts per matched pair prove both arms.
    // Scale note: `<=>` hashes NULL like any other key value, so ALL
    // null-keyed rows land in ONE partition — the documented skew
    // hazard of null-safe joins (salt or pre-split the null bucket at
    // 100 TB); the semantic, not the layout, is what's gated here.
    Q("q54_nullsafe_join",
      (s, d) => {
        val o = Tables.t(s, d, "orders").select(
          when(col("o_orderpriority") === "1-URGENT", lit(null))
            .otherwise(col("o_custkey") % 10).as("k"))
        val c = Tables.t(s, d, "customer").select(
          when(col("c_mktsegment") === "BUILDING", lit(null))
            .otherwise(col("c_custkey") % 10).as("k"))
        o.join(c, o("k") <=> c("k"))
          .groupBy(o("k").as("k"))
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some("""WITH o AS (SELECT CASE WHEN o_orderpriority = '1-URGENT'
             |THEN NULL ELSE o_custkey % 10 END AS k FROM orders),
             |c AS (SELECT CASE WHEN c_mktsegment = 'BUILDING'
             |THEN NULL ELSE c_custkey % 10 END AS k FROM customer)
             |SELECT o.k, count(*) AS n_pairs FROM o JOIN c
             |ON o.k IS NOT DISTINCT FROM c.k GROUP BY o.k"""
        .stripMargin.replace('\n', ' '))),

    // VARIANT (Spark 4's semi-structured type, SPARK-45891) under the
    // hash gate: per-row JSON is CONSTRUCTED with nesting the flat
    // fixture props lacks — a number, an array holding the
    // event_type, a nested object, and a doc_id%5 JSON-null arm — so
    // parse_json → variant_get exercises typed path extraction at
    // depth, array indexing (0-based '$.tags[1]'), number→string
    // coercion, and the VARIANT-NULL vs MISSING-KEY distinction
    // (is_variant_null is true only for the explicit null; a missing
    // path is SQL NULL — coalesced to false on both sides). The
    // oracle replays the paths with DuckDB's JSON functions. Scale:
    // per-row parse, no shuffle; variant's binary encoding is the
    // point — parse once, extract many times without re-parsing.
    Q("q55_variant_json",
      (s, d) => Tables.t(s, d, "events")
        .selectExpr("event_id",
          "concat('{\"k\":', CAST(event_id % 100 AS STRING), " +
            "',\"tags\":[\"a\",\"', event_type, '\"],\"m\":{\"x\":', " +
            "CAST(event_id % 7 AS STRING), '}', " +
            "CASE WHEN event_id % 5 = 0 THEN ',\"opt\":null' " +
            "ELSE '' END, '}') AS js")
        .selectExpr("event_id", "parse_json(js) AS v")
        .selectExpr("event_id",
          "variant_get(v, '$.k', 'bigint') AS k",
          "variant_get(v, '$.m.x', 'bigint') AS mx",
          "variant_get(v, '$.tags[1]', 'string') AS tag1",
          "variant_get(v, '$.k', 'string') AS k_str",
          "COALESCE(is_variant_null(variant_get(v, '$.opt')), false) " +
            "AS opt_json_null"),
      Some("""WITH j AS (SELECT event_id,
             |'{"k":' || CAST(event_id % 100 AS VARCHAR) ||
             |',"tags":["a","' || event_type || '"],"m":{"x":' ||
             |CAST(event_id % 7 AS VARCHAR) || '}' ||
             |CASE WHEN event_id % 5 = 0 THEN ',"opt":null'
             |ELSE '' END || '}' AS js FROM events)
             |SELECT event_id,
             |CAST(json_extract(js, '$.k') AS BIGINT) AS k,
             |CAST(json_extract(js, '$.m.x') AS BIGINT) AS mx,
             |json_extract_string(js, '$.tags[1]') AS tag1,
             |json_extract_string(js, '$.k') AS k_str,
             |COALESCE(json_type(js, '$.opt') = 'NULL', FALSE)
             |AS opt_json_null FROM j"""
        .stripMargin.replace('\n', ' '))),

    // CORRELATED scalar subqueries in the SELECT list — the
    // decorrelation rewrite (Catalyst's RewriteCorrelatedScalarSubquery
    // / DecorrelateInnerQuery) that q17's uncorrelated form never
    // fires, including the classic COUNT-over-empty-group case (must
    // read 0, not NULL — the "COUNT bug" both engines get right) and
    // a MAX that correctly nulls on the empty group. One SQL text runs
    // verbatim on both engines. Scale: Catalyst rewrites both
    // subqueries into a single left-outer aggregate join on the
    // correlation key — no per-row subquery execution survives.
    Q("q56_correlated_scalar",
      (s, d) => { Tables.ensureRegistered(s, d)
        s.sql(Sql.correlatedScalar) },
      Some(Sql.correlatedScalar)),

    // EXACT interpolated percentiles (the ordered-set aggregate /
    // percentile_cont semantics) — t09's approx-sketch family gets its
    // exact twin: Spark's percentile() and DuckDB's quantile_cont both
    // compute lo + frac·(hi − lo) on the sorted group, and with
    // integer-valued quantities and dyadic fractions (.25/.5/.75)
    // every interpolation is IEEE-exact — no rounding needed, the
    // rare fully-safe float gate. Scale: exact percentile buffers the
    // group's values (unlike the mergeable t09 sketch) — fine keyed by
    // a low-cardinality flag, wrong for per-user quantiles at 100 TB;
    // that trade is the scaladoc'd reason BOTH forms exist.
    // §2.13 PLAN RENDERING as a DRIVER-VISIBLE gate (the q53 move
    // applied to the reference's only observable output): three
    // statement shapes — filter/scan, agg/sort/limit, join — render
    // through ExecutionContext.explainReference into the reference's
    // `-> Node: detail` one-space-indent format, emitted as
    // (query_id, line_no, line) rows against a VALUES oracle of the
    // exact expected text. The byte-shape contract was previously
    // spec-only (ExecutionContextSpec pins the main.rs:7 query); this
    // entry puts the Filter/Aggregate/Sort/Limit/Join vocabulary and
    // the indent discipline under the driver's hash every round.
    Q("q58_plan_render",
      (s, d) => {
        val ctx = new ExecutionContext(s).registerTestData(d)
        val sq = s; import sq.implicits._
        Seq(
          ("a", "SELECT n_name FROM nation WHERE n_regionkey = 1"),
          ("b", "SELECT r_regionkey, count(*) AS n FROM region " +
            "GROUP BY r_regionkey ORDER BY r_regionkey LIMIT 3"),
          ("c", "SELECT n_name, r_name FROM nation " +
            "JOIN region ON n_regionkey = r_regionkey"))
          .flatMap { case (id, sql) =>
            ctx.explainReference(sql).split("\n").toSeq.zipWithIndex
              .map { case (l, i) => (id, i + 1, l) }
          }.toDF("query_id", "line_no", "line")
      },
      Some("""SELECT * FROM (VALUES
             |('a', 1, '-> Projection: [n_name]'),
             |('a', 2, ' -> Filter: n_regionkey = 1'),
             |('a', 3, '  -> TableScan: nation projection=[n_nationkey, n_name, n_regionkey]'),
             |('b', 1, '-> Limit: LIMIT 3'),
             |('b', 2, ' -> Sort: [r_regionkey ASC]'),
             |('b', 3, '  -> Aggregate: group=[r_regionkey] agg=[COUNT(*) AS n]'),
             |('b', 4, '   -> TableScan: region projection=[r_regionkey, r_name]'),
             |('c', 1, '-> Projection: [n_name, r_name]'),
             |('c', 2, ' -> Join: Inner ON n_regionkey = r_regionkey'),
             |('c', 3, '  -> TableScan: nation projection=[n_nationkey, n_name, n_regionkey]'),
             |('c', 4, '  -> TableScan: region projection=[r_regionkey, r_name]'))
             |t(query_id, line_no, line)"""
        .stripMargin.replace('\n', ' '))),

    // §2.13's OTHER half as a driver-visible gate: the reference's
    // DML/DDL formatter (`tmp/crud.txt:652-857` — its single largest
    // function group: Insert/Update/Delete/CreateTable/CreateIndex/
    // DropTable/DropIndex node renderings) was spec-covered but not
    // hash-gated in r12 (VERDICT item 1). Twelve statements cover every
    // node family and sub-arm: Insert Values-count vs Source-subplan,
    // Update with WHERE and with FROM (the source TableScan child),
    // Delete WHERE, CreateTable plain / IF NOT EXISTS / with PK-FK-UNIQUE
    // constraint lines and the full DataTypeEnum vocabulary
    // (Integer/BigInt/Float/Double/Boolean/Date/Timestamp/Text/
    // Varchar(n)), CreateIndex named-unique and auto-named IF NOT
    // EXISTS, multi-name DropTable CASCADE, DropIndex. Statements are
    // FORMATTED, never executed (reference semantics: the planner
    // prints IR), so the entry is side-effect-free and idempotent.
    Q("q59_plan_render_dml",
      (s, d) => {
        val ctx = new ExecutionContext(s).registerTestData(d)
        val sq = s; import sq.implicits._
        Seq(
          ("a", "INSERT INTO nation (n_name, n_regionkey) " +
            "VALUES ('ATLANTIS', 1), ('LEMURIA', 2)"),
          ("b", "INSERT INTO nation (n_nationkey, n_name) " +
            "SELECT r_regionkey, r_name FROM region"),
          ("c", "UPDATE nation SET n_name = 'X' WHERE n_regionkey = 1"),
          ("d", "UPDATE nation SET n_name = r_name FROM region " +
            "WHERE n_regionkey = r_regionkey"),
          ("e", "DELETE FROM nation WHERE n_nationkey = 3"),
          ("f", "CREATE TABLE dims (id INT PRIMARY KEY, " +
            "name VARCHAR(50), score DOUBLE NOT NULL, tag TEXT, " +
            "UNIQUE (name))"),
          ("g", "CREATE TABLE IF NOT EXISTS spans (id BIGINT, " +
            "when_ts TIMESTAMP, flag BOOLEAN, born DATE, ratio FLOAT)"),
          ("h", "CREATE TABLE facts (fid INT, did INT, " +
            "PRIMARY KEY (fid), FOREIGN KEY (did) REFERENCES dims (id))"),
          ("i", "CREATE UNIQUE INDEX idx_n ON nation (n_name)"),
          ("j", "CREATE INDEX IF NOT EXISTS ON nation (n_regionkey)"),
          ("k", "DROP TABLE IF EXISTS dims, facts CASCADE"),
          ("l", "DROP INDEX IF EXISTS idx_n"))
          .flatMap { case (id, sql) =>
            ctx.explainReference(sql).split("\n").toSeq.zipWithIndex
              .map { case (l, i) => (id, i + 1, l) }
          }.toDF("stmt_id", "line_no", "line")
      },
      Some("""SELECT * FROM (VALUES
             |('a', 1, '-> Insert: nation (n_name, n_regionkey)'),
             |('a', 2, '  Values: 2 row(s)'),
             |('b', 1, '-> Insert: nation (n_nationkey, n_name)'),
             |('b', 2, '  Source:'),
             |('b', 3, '  -> Projection: [r_regionkey, r_name]'),
             |('b', 4, '   -> TableScan: region projection=[r_regionkey, r_name]'),
             |('c', 1, '-> Update: nation SET [n_name = ''X'']'),
             |('c', 2, '  WHERE: n_regionkey = 1'),
             |('d', 1, '-> Update: nation SET [n_name = r_name]'),
             |('d', 2, '  WHERE: n_regionkey = r_regionkey'),
             |('d', 3, '  FROM:'),
             |('d', 4, '  -> TableScan: region projection=[r_regionkey, r_name]'),
             |('e', 1, '-> Delete: nation'),
             |('e', 2, '  WHERE: n_nationkey = 3'),
             |('f', 1, '-> CreateTable: dims'),
             |('f', 2, '  Column: id Integer (nullable: false, pk: true)'),
             |('f', 3, '  Column: name Varchar(50) (nullable: true, pk: false)'),
             |('f', 4, '  Column: score Double (nullable: false, pk: false)'),
             |('f', 5, '  Column: tag Text (nullable: true, pk: false)'),
             |('f', 6, '  Constraint: Unique(name)'),
             |('g', 1, '-> CreateTable: spans IF NOT EXISTS'),
             |('g', 2, '  Column: id BigInt (nullable: true, pk: false)'),
             |('g', 3, '  Column: when_ts Timestamp (nullable: true, pk: false)'),
             |('g', 4, '  Column: flag Boolean (nullable: true, pk: false)'),
             |('g', 5, '  Column: born Date (nullable: true, pk: false)'),
             |('g', 6, '  Column: ratio Float (nullable: true, pk: false)'),
             |('h', 1, '-> CreateTable: facts'),
             |('h', 2, '  Column: fid Integer (nullable: true, pk: false)'),
             |('h', 3, '  Column: did Integer (nullable: true, pk: false)'),
             |('h', 4, '  Constraint: PrimaryKey(fid)'),
             |('h', 5, '  Constraint: ForeignKey(did REFERENCES dims(id))'),
             |('i', 1, '-> CreateIndex: UNIQUE INDEX idx_n ON nation (n_name)'),
             |('j', 1, '-> CreateIndex: INDEX idx_nation_n_regionkey IF NOT EXISTS ON nation (n_regionkey)'),
             |('k', 1, '-> DropTable: dims, facts IF EXISTS CASCADE'),
             |('l', 1, '-> DropIndex: idx_n IF EXISTS'))
             |t(stmt_id, line_no, line)"""
        .stripMargin.replace('\n', ' '))),

    Q("q57_exact_percentiles",
      (s, d) => t(s, d, "lineitem").groupBy("l_returnflag").agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        count(lit(1)).as("n")),
      Some("""SELECT l_returnflag,
             |quantile_cont(l_quantity, 0.25) AS p25,
             |quantile_cont(l_quantity, 0.5) AS p50,
             |quantile_cont(l_quantity, 0.75) AS p75,
             |count(*) AS n FROM lineitem GROUP BY l_returnflag"""
        .stripMargin.replace('\n', ' ')))
  )

  /** SQL texts that run verbatim on BOTH Spark and DuckDB. */
  private object Sql {
    val naturalJoin: String =
      """SELECT rkey, n_name, r_name FROM
        |(SELECT n_regionkey AS rkey, n_name FROM nation) a
        |NATURAL JOIN
        |(SELECT r_regionkey AS rkey, r_name FROM region) b"""
        .stripMargin.replace('\n', ' ')

    val valuesBody: String =
      """SELECT v.rkey, v.zone, r_name
        |FROM (VALUES (CAST(0 AS INTEGER), 'AMER'), (1, 'AMER'),
        |(2, 'APAC'), (3, 'EMEA'), (4, 'EMEA')) AS v(rkey, zone)
        |JOIN region ON r_regionkey = v.rkey"""
        .stripMargin.replace('\n', ' ')

    val dataProfile: String = {
      def one(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n,
           |CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |AS n_null,
           |min($c) AS min_v, max($c) AS max_v,
           |round(quantile_cont($c, 0.5), 4) + 0.0 AS p50,
           |count(DISTINCT $c) AS n_distinct FROM lineitem"""
          .stripMargin.replace('\n', ' ')
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(one).mkString(" UNION ALL ")
    }

    val cteDerived: String =
      """WITH big AS (SELECT o_custkey,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
        |FROM orders GROUP BY o_custkey)
        |SELECT c_name, s FROM (SELECT * FROM big) b
        |JOIN customer ON b.o_custkey = c_custkey"""
        .stripMargin.replace('\n', ' ')

    // the threshold is a decimal-sum average (order-independent), not a
    // raw avg(double): each engine sums doubles in its own order, and a
    // customer within an ulp of the mean would flip sides of the cut
    val scalarSubquery: String =
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_acctbal > (SELECT
        |CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |FROM customer)"""
        .stripMargin.replace('\n', ' ')

    val correlatedScalar: String =
      """SELECT n_nationkey, n_name,
        |(SELECT count(*) FROM supplier
        |WHERE s_nationkey = n_nationkey) AS n_suppliers,
        |(SELECT CAST(max(s_acctbal) AS DOUBLE) FROM supplier
        |WHERE s_nationkey = n_nationkey) AS max_bal
        |FROM nation"""
        .stripMargin.replace('\n', ' ')

    val nestedBody: String =
      """SELECT * FROM (SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 100000) t"""
        .stripMargin.replace('\n', ' ')

    val passthrough: String =
      """SELECT c_custkey,
        |coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
        |greatest(c_acctbal, 0.0) AS floor_bal,
        |least(c_acctbal, 1000.0) AS cap_bal,
        |repeat('x', 3) AS xxx FROM customer"""
        .stripMargin.replace('\n', ' ')

    val joinUsing: String =
      """SELECT k, c_name, s_name FROM
        |(SELECT c_nationkey AS k, c_name FROM customer) c JOIN
        |(SELECT s_nationkey AS k, s_name FROM supplier) s USING (k)"""
        .stripMargin.replace('\n', ' ')

    val lateralTopN: String =
      """SELECT n_name, t.c_name, t.c_acctbal FROM nation,
        |LATERAL (SELECT c_name, c_acctbal FROM customer
        |WHERE c_nationkey = n_nationkey
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t"""
        .stripMargin.replace('\n', ' ')

    val groupByAll: String =
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ALL ORDER BY ALL"""
        .stripMargin.replace('\n', ' ')

    // Spark and DuckDB spell month-stepping differently (add_months vs
    // + INTERVAL), so the recursive spine carries two texts; everything
    // downstream of the spine is shared SQL.
    val recursiveSpark: String =
      """WITH RECURSIVE months(mon) AS (
        |SELECT DATE '1995-01-01' UNION ALL
        |SELECT add_months(mon, 1) FROM months
        |WHERE mon < DATE '2001-08-01')
        |SELECT CAST(mon AS STRING) AS mon, coalesce(n, 0) AS n_orders,
        |coalesce(rev, 0.0) AS revenue
        |FROM months LEFT JOIN (
        |SELECT trunc(CAST(o_orderdate AS DATE), 'MM') AS m,
        |count(*) AS n,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders GROUP BY 1) o ON mon = o.m"""
        .stripMargin.replace('\n', ' ')

    val recursiveDuck: String =
      """WITH RECURSIVE months(mon) AS (
        |SELECT DATE '1995-01-01' UNION ALL
        |SELECT CAST(mon + INTERVAL 1 MONTH AS DATE) FROM months
        |WHERE mon < DATE '2001-08-01')
        |SELECT CAST(mon AS VARCHAR) AS mon, coalesce(n, 0) AS n_orders,
        |coalesce(rev, 0.0) AS revenue
        |FROM months LEFT JOIN (
        |SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
        |count(*) AS n,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders GROUP BY 1) o ON mon = o.m"""
        .stripMargin.replace('\n', ' ')

    val statsMoments: String =
      """WITH m AS (SELECT l_returnflag,
        |CAST(count(*) AS DOUBLE) AS nf,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4)))
        |AS DOUBLE) AS sxx,
        |CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4)))
        |AS DOUBLE) AS syy,
        |CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4)))
        |AS DOUBLE) AS sxy
        |FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(nf AS BIGINT) AS n,
        |round(syy / nf - (sy / nf) * (sy / nf), 2) + 0.0 AS var_pop_price,
        |round(sqrt(syy / nf - (sy / nf) * (sy / nf)), 4) + 0.0
        |AS stddev_pop_price,
        |round(sxy / nf - (sx / nf) * (sy / nf), 2) + 0.0 AS covar_pop,
        |round((sxy / nf - (sx / nf) * (sy / nf)) /
        |(sqrt(sxx / nf - (sx / nf) * (sx / nf)) *
        |sqrt(syy / nf - (sy / nf) * (sy / nf))), 6) + 0.0
        |AS corr_qty_price FROM m"""
        .stripMargin.replace('\n', ' ')
  }
}
