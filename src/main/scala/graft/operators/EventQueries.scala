package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch analytics over the `events` table (event_id, ts, user_id,
  * event_type, value, props). These are the batch twins of the Structured
  * Streaming pipelines in [[graft.EventStreams]] — same groupings, same
  * semantics, verifiable against the DuckDB oracle (streams are not).
  *
  * Scale: hourly/typed aggregation shuffles once on (hour, type) — low
  * cardinality, partial-agg heavy, ideal shape. Sessionization shuffles
  * once on user_id for the window sort; at 100 TB that is the unavoidable
  * minimum (state per user), the same keying a streaming
  * mapGroupsWithState would use. */
object EventQueries {

  /** As-of join (inner): attach to each `probe` row the `dim` row with the
    * greatest `ts` at or before the probe's, per `key`. Spark has no ASOF
    * JOIN and a range join would explode, so this is the union +
    * ordered-window formulation — dim rows tagged before probe rows at
    * equal ts, ONE shuffle on `key`, last non-null dim value carried
    * forward. Linear in rows: the 100 TB-safe shape (same keying as
    * sessionization).
    *
    * CONTRACT: `dim` must be unique per (key, ts) — pre-aggregate it —
    * or the matched payload is nondeterministic. `dimCols` are the dim
    * payload columns to carry; they must not collide with probe columns.
    *
    * `forward = true` flips the direction: match the EARLIEST dim at or
    * after the probe (next-event lookup). Both directions use the same
    * O(n) RUNNING window frame (unboundedPreceding..current — Spark
    * maintains it incrementally); forward simply sorts time DESCENDING,
    * dims still first at equal ts. (A `first over
    * (current..unboundedFollowing)` formulation would re-aggregate the
    * tail per row — quadratic on a hot key.)
    *
    * `leftOuter = true` keeps probes with NO matching dim (DuckDB's
    * `ASOF LEFT JOIN`): their carried payload columns are NULL. The
    * gated s05 entry stays inner — NULL timestamps in a hashed output
    * are a cross-engine normalization trap — so the left form is
    * spec-asserted instead. */
  def asofJoin(
      probe: DataFrame,
      dim: DataFrame,
      key: String,
      ts: String,
      tsOut: String,
      dimCols: Seq[(String, String)],
      forward: Boolean = false,
      leftOuter: Boolean = false): DataFrame = {
    // dim payload and the full probe row each travel as ONE struct, so the
    // union needs no per-column NULL typing and the carry-forward is a
    // single window expression
    val dimStruct = struct(
      col(ts).as(tsOut) +: dimCols.map { case (c, o) => col(c).as(o) }: _*)
    val dimType = dim.select(dimStruct).schema.head.dataType
    val d = dim.select(col(key).as("_k"), col(ts).as("_t"),
      lit(0).as("_tag"), dimStruct.as("_dim"),
      lit(null).cast(probe.schema).as("_row"))
    val p = probe.select(col(key).as("_k"), col(ts).as("_t"),
      lit(1).as("_tag"), lit(null).cast(dimType).as("_dim"),
      struct(probe.columns.map(col).toIndexedSeq: _*).as("_row"))
    val w = Window.partitionBy("_k")
      .orderBy(
        (if (forward) col("_t").desc else col("_t").asc),
        col("_tag").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val matched = d.unionByName(p)
      .withColumn("_m",
        last(when(col("_tag") === 0, col("_dim")), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1 &&
        (if (leftOuter) lit(true) else col("_m").isNotNull))
    // unmatched left-outer rows surface the dim payload as typed NULLs
    // (_m.* on a null struct yields null columns)
    matched.select(col("_row.*"), col("_m.*"))
  }

  /** Sequential conversion FUNNEL: for each user, the first `stages(0)`
    * event, then the first `stages(1)` event strictly after it, and so on
    * — the staged-conversion analysis (view → click → purchase) every
    * event-analytics suite ships. Returns one row per user who reached
    * stage 1, with nullable first-reach timestamps t1..tn (left joins
    * keep drop-offs).
    *
    * Scale shape: each stage is a selective event-type filter → user-key
    * join against the previous stage's reached-user table → min
    * aggregation, all keyed on the user — 100 TB-safe (no windows, no
    * per-user buffering, no cross-user work). The reached table shrinks
    * monotonically down the funnel, so later joins broadcast; out-of-
    * order events are handled by the strict ts > prev predicate, not by
    * sorting. Every stage table EXCEPT THE LAST is persisted (tracked,
    * released at the caller's ManagedCache.releaseAll): stage k < n is
    * referenced by stage k+1's derivation AND the final assembly join,
    * and without the cache an n-stage funnel would replay every earlier
    * stage's scan per reference instead of reading the tiny
    * (≤ user-cardinality) cached frame; the last stage table is consumed
    * once by the assembly, so caching it would be pure cost. Stage
    * timestamps compute under collision-safe internal names and surface
    * as t1..tn, so a caller's own t1 column cannot turn the stage join
    * ambiguous. */
  def funnel(
      events: DataFrame,
      stages: Seq[String],
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    def t(i: Int) = s"__graft_funnel_t$i"
    var stage = events.filter(col(typeCol) === stages.head)
      .groupBy(userCol).agg(min(tsCol).as(t(1)))
    val tables = Seq.newBuilder[DataFrame]
    for ((s, i) <- stages.tail.zipWithIndex) {
      stage = ManagedCache.persist(stage) // about to be referenced twice
      tables += stage
      stage = events.filter(col(typeCol) === s)
        .join(stage.select(col(userCol), col(t(i + 1))), Seq(userCol))
        .filter(col(tsCol) > col(t(i + 1)))
        .groupBy(userCol).agg(min(tsCol).as(t(i + 2)))
    }
    tables += stage // last stage table: single consumer, never cached
    val all = tables.result()
    val assembled = all.tail
      .foldLeft(all.head)((acc, s) => acc.join(s, Seq(userCol), "left"))
    assembled.select(
      col(userCol) +:
        stages.indices.map(i => col(t(i + 1)).as(s"t${i + 1}")): _*)
  }

  /** Shared by s05 (window-composed) and s32 (native exec): the SAME
    * oracle under two physical plans — the gate proves equivalence. */
  private val asofOracle: String =
    """WITH ev AS (SELECT event_id, user_id,
      |CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
      |dim AS (SELECT user_id, ts, max(value) AS dim_value
      |FROM ev WHERE event_type = 'click' GROUP BY 1, 2),
      |probe AS (SELECT event_id, user_id, ts FROM ev
      |WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts, d.ts AS click_ts,
      |d.dim_value AS click_value
      |FROM probe p ASOF JOIN dim d
      |ON p.user_id = d.user_id AND p.ts >= d.ts"""
      .stripMargin.replace('\n', ' ')

  val queries: Seq[Q] = Seq(

    Q("s01_hourly_agg",
      (s, d) =>
        Tables.t(s, d, "events")
          .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv")),
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             |event_type, count(*) AS n, round(sum(value), 2) AS sv
             |FROM events GROUP BY 1, 2"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    Q("s02_user_activity",
      (s, d) =>
        Tables.t(s, d, "events")
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_events"),
            countDistinct(col("event_type")).as("n_types"),
            round(sum(col("value")), 2).as("total_value"),
            max(date_trunc("hour", col("ts"))).as("last_hour")),
      Some("""SELECT user_id, count(*) AS n_events,
             |count(DISTINCT event_type) AS n_types,
             |round(sum(value), 2) AS total_value,
             |CAST(max(date_trunc('hour', ts)) AS TIMESTAMP) AS last_hour
             |FROM events GROUP BY user_id"""
        .stripMargin.replace('\n', ' '))),

    Q("s03_json_extract",
      (s, d) =>
        Tables.t(s, d, "events").select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k")),
      Some("""SELECT event_id,
             |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events""".stripMargin.replace('\n', ' '))),

    // Gap-based sessionization (30-min inactivity): lag → new-session flag →
    // running sum = session id → per-user session stats.
    // Oracle note: DuckDB promotes sum(BIGINT) to HUGEINT (int128); the final
    // sum must be cast back to BIGINT or the driver's type-aware hash fails.
    Q("s04_sessionize",
      (s, d) => {
        // event_id tie-break: duplicate ts per user would otherwise let the
        // lag/running-sum split sessions differently between Spark and DuckDB.
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val newSession =
          when(col("ts").cast("long") -
            lag(col("ts"), 1).over(byUser).cast("long") > 1800, 1L)
            .otherwise(0L)
        Tables.t(s, d, "events")
          .withColumn("is_new", newSession)
          .withColumn("session_id",
            sum(col("is_new")).over(
              byUser.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            max(col("n_events")).as("longest_session"),
            sum(col("n_events")).as("n_events"))
      },
      Some("""WITH flagged AS (
             |SELECT user_id, ts, event_id,
             |CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER
             |(PARTITION BY user_id ORDER BY ts, event_id))) > 1800
             |THEN 1 ELSE 0 END AS is_new
             |FROM events),
             |sess AS (
             |SELECT user_id,
             |sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |ROWS UNBOUNDED PRECEDING) AS session_id
             |FROM flagged),
             |per AS (SELECT user_id, session_id, count(*) AS n_events
             |FROM sess GROUP BY 1, 2)
             |SELECT user_id, count(*) AS n_sessions,
             |max(n_events) AS longest_session,
             |CAST(sum(n_events) AS BIGINT) AS n_events
             |FROM per GROUP BY user_id"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // As-of join (time-series point-in-time lookup — the operator a
    // training-data pipeline uses to attach the latest prior context to an
    // event). Spark has no ASOF JOIN; a range join would explode, so this
    // uses the union + ordered-window formulation: tag dim rows before
    // probe rows at equal ts, one shuffle on user_id, last non-null dim
    // value at or before each probe. Linear in rows — the 100 TB-safe
    // shape (same keying as sessionization). The dim side is deduped per
    // (user_id, ts) so the matched value is deterministic on both engines.
    // Oracle: DuckDB's native ASOF JOIN (inner; probe.ts >= dim.ts).
    Q("s05_asof_join",
      (s, d) => {
        val ev = Tables.t(s, d, "events")
        // inner as-of semantics (DuckDB's ASOF JOIN default): probes with
        // no prior click drop out — and the gated output carries no NULL
        // timestamps, which pandas-based hash gates normalize unreliably
        asofJoin(
          probe = ev.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          dim = ev.filter(col("event_type") === "click")
            .groupBy(col("user_id"), col("ts"))
            .agg(max(col("value")).as("dim_value")),
          key = "user_id", ts = "ts", tsOut = "click_ts",
          dimCols = Seq("dim_value" -> "click_value"))
      },
      // the oracle truncates ts to µs FIRST (CAST TIMESTAMP_NS→TIMESTAMP)
      // so the as-of comparison and the (user_id, ts) dedup operate at the
      // same precision Spark sees after its ns→µs load conversion
      Some(asofOracle),
      bench = true),

    // s32: the NATIVE as-of join exec (custom LogicalPlan + Strategy +
    // SparkPlan — graft/plans/AsOfJoin.scala) over the same probe/dim
    // derivation as s05, sharing s05's oracle VERBATIM: one oracle, two
    // physical plans, so the driver's hash gate itself proves the
    // sorted-merge exec equivalent to the window-composed form. The dim
    // payload is pre-renamed (click_ts/click_value) because the native
    // operator carries dim columns through unchanged.
    Q("s32_asof_native",
      (s, d) => {
        val ev = Tables.t(s, d, "events")
        AsOfJoin.asofJoinNative(
          probe = ev.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          dim = ev.filter(col("event_type") === "click")
            .groupBy(col("user_id"), col("ts"))
            .agg(max(col("value")).as("click_value"))
            .select(col("user_id"), col("ts").as("click_ts"),
              col("click_value")),
          key = "user_id", ts = "ts", dimTs = "click_ts")
      },
      Some(asofOracle),
      bench = true),

    // Range (interval) join — events within a ± window of each other.
    // A naive |Δt| <= w theta join is a per-key cartesian; Spark would
    // plan a BroadcastNestedLoopJoin at scale. Instead: BUCKETIZE time
    // into w-sized cells, explode each probe to its cell and both
    // neighbors, equi-join on (user, cell) — every qualifying pair lands
    // in exactly one probe-cell × event-cell combination — then apply the
    // exact |Δt| predicate. O(events × 3) shuffle rows, never cartesian.
    // The oracle is the plain theta join (DuckDB handles it with its own
    // IEJoin); counts must agree exactly.
    Q("s06_interval_join",
      (s, d) => {
        val ev = Tables.t(s, d, "events")
        val w = 1800L // ±30 min
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"),
            col("ts").cast("long").as("c_sec"))
          .withColumn("cell", floor(col("c_sec") / w))
        val probes = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
          .withColumn("p_sec", col("ts").cast("long"))
          .withColumn("cell",
            explode(array(floor(col("p_sec") / w) - 1,
              floor(col("p_sec") / w), floor(col("p_sec") / w) + 1)))
        probes.join(clicks,
            probes("user_id") === clicks("c_user") &&
              probes("cell") === clicks("cell") &&
              abs(col("c_sec") - col("p_sec")) <= w, "left")
          .groupBy("event_id", "user_id", "ts")
          .agg(count(col("c_sec")).as("n_nearby_clicks"))
      },
      // ts truncates to µs on load; epoch() of a TIMESTAMP is exact here
      Some("""WITH ev AS (SELECT event_id, user_id,
             |CAST(ts AS TIMESTAMP) AS ts, event_type,
             |CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
             |FROM events)
             |SELECT p.event_id, p.user_id, p.ts,
             |count(c.sec) AS n_nearby_clicks
             |FROM ev p LEFT JOIN ev c
             |ON c.user_id = p.user_id AND c.event_type = 'click'
             |AND abs(c.sec - p.sec) <= 1800
             |WHERE p.event_type = 'purchase'
             |GROUP BY p.event_id, p.user_id, p.ts"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // Staged-conversion funnel view → click → purchase over the event
    // stream ([[funnel]]). The GATED output is the null-free summary —
    // per-stage reached-user counts + average stage-transition delay in
    // whole seconds (unix_timestamp ≡ date_diff('second'): both are
    // second-boundary diffs; integer-valued doubles < 2^53 sum exactly,
    // so cross-engine sum order cannot wobble the avg) — because NULL
    // timestamps in a hashed per-user output are the cross-engine
    // normalization trap the s05 scaladoc documents. Per-user funnel
    // exactness (drop-offs, out-of-order events, strict-after semantics)
    // is EventSpec-asserted on a hand fixture.
    Q("s09_funnel",
      (s, d) => funnel(Tables.t(s, d, "events"),
        Seq("view", "click", "purchase"))
        .agg(
          count(col("t1")).as("n_stage1"),
          count(col("t2")).as("n_stage2"),
          count(col("t3")).as("n_stage3"),
          // coalesce(0.0): avg over ZERO converts is NULL on both engines
          // — exactly the NULL-in-hashed-output trap this summary exists
          // to avoid; the stage count disambiguates a true 0-delay
          coalesce(round(
            avg(unix_timestamp(col("t2")) - unix_timestamp(col("t1"))), 4),
            lit(0.0)).as("avg_view_to_click_s"),
          coalesce(round(
            avg(unix_timestamp(col("t3")) - unix_timestamp(col("t2"))), 4),
            lit(0.0)).as("avg_click_to_purchase_s")),
      Some("""WITH v AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1
             |FROM events WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
             |FROM events e JOIN v USING (user_id)
             |WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t1
             |GROUP BY 1),
             |p AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
             |FROM events e JOIN c USING (user_id)
             |WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t2
             |GROUP BY 1),
             |f AS (SELECT v.user_id, v.t1, c.t2, p.t3 FROM v
             |LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id))
             |SELECT count(t1) AS n_stage1, count(t2) AS n_stage2,
             |count(t3) AS n_stage3,
             |coalesce(round(avg(date_diff('second', t1, t2)), 4), 0.0)
             |AS avg_view_to_click_s,
             |coalesce(round(avg(date_diff('second', t2, t3)), 4), 0.0)
             |AS avg_click_to_purchase_s
             |FROM f"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // EXECUTED streaming gates — entries where a Structured Streaming
    // query actually runs under the driver's DuckDB hash check (the other
    // streaming twins are MemoryStream-spec-asserted only): the
    // EventStreams pipelines over a FILE-SOURCE stream of the same events
    // parquet, drained with Trigger.AvailableNow. Complete-mode memory
    // sink holds the full aggregate — tiny (hours × types / per-session
    // rows), the one place collecting to the driver is the documented
    // test-sink contract; production swaps in a parquet/kafka sink with a
    // real checkpoint.
    //
    // s07: window(ts, '1 hour').start ≡ date_trunc('hour', ts), so the
    // entry shares s01's oracle verbatim: streaming == batch, hash-checked.
    // COHORT RETENTION — the classic growth-analytics matrix the event
    // family lacked: users cohorted by FIRST-ACTIVE day; cell (cohort,
    // offset d) counts cohort members active d days later, plus the
    // retention rate against the cohort size. Day keys stay TIMESTAMP
    // (date_trunc) — a DATE column is driver-hash-unsafe (q23's rule).
    // Scale shape at 100 TB: the raw firehose reduces ONCE to the
    // distinct (user, day) activity table (one shuffle; persisted — it
    // feeds both the cohort derivation and the activity join); cohorts
    // and sizes derive from that user-cardinality table; the final agg
    // is (days × offsets)-cardinality — tiny; the sizes join broadcasts.
    Q("s17_cohort_retention",
      (s, d) => {
        val ev = Tables.t(s, d, "events")
        val dd = ManagedCache.persist(ev.select(col("user_id"),
          date_trunc("day", col("ts")).as("day")).distinct())
        val cohorts = dd.groupBy("user_id")
          .agg(min(col("day")).as("cohort_day"))
        val sizes = cohorts.groupBy("cohort_day")
          .agg(count(lit(1)).as("n_cohort"))
        dd.join(cohorts, "user_id")
          .withColumn("day_offset",
            datediff(col("day"), col("cohort_day")).cast("long"))
          .groupBy("cohort_day", "day_offset")
          .agg(countDistinct(col("user_id")).as("n_active"))
          .join(broadcast(sizes), "cohort_day")
          .select(col("cohort_day"), col("day_offset"), col("n_active"),
            col("n_cohort"),
            round(col("n_active").cast("double") / col("n_cohort"), 4)
              .as("retention"))
      },
      Some("""WITH dd AS (SELECT DISTINCT user_id,
             |CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events),
             |co AS (SELECT user_id, min(day) AS cohort_day
             |FROM dd GROUP BY 1),
             |sz AS (SELECT cohort_day, count(*) AS n_cohort
             |FROM co GROUP BY 1),
             |act AS (SELECT cohort_day,
             |date_diff('day', cohort_day, day) AS day_offset,
             |count(DISTINCT dd.user_id) AS n_active
             |FROM dd JOIN co USING (user_id) GROUP BY 1, 2)
             |SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
             |n_active, n_cohort,
             |round(CAST(n_active AS DOUBLE) / n_cohort, 4) AS retention
             |FROM act JOIN sz USING (cohort_day)"""
        .stripMargin.replace('\n', ' '))),

    // ROLLING-WINDOW ANOMALY DETECTION — the per-entity z-score monitor
    // the event family lacked: each event's value scored against the
    // mean/stddev of that user's TRAILING 20 events (frame excludes the
    // current row — the score must not contaminate its own baseline).
    // DETERMINISM: a windowed stddev over raw doubles is order-fragile
    // across engines, so both moments accumulate as EXACT decimals
    // (values are 2-dp, DECIMAL(18,2) holds them exactly; the square is
    // DECIMAL(37,4) — still exact) and the variance/z arithmetic runs in
    // double on those identical exact inputs — bit-identical on both
    // engines, then rounded with the −0.0 oracle guard. Events with
    // under 10 trailing samples emit NULL z (insufficient baseline), and
    // a zero-variance baseline emits NULL rather than ±inf. Scale: one
    // shuffle on user_id, per-partition sliding frame — q37's cost
    // class; the frame is ROWS-bounded so state is O(20) per user.
    Q("s18_rolling_anomaly",
      (s, d) => {
        val wf = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-20, -1)
        val dec = col("value").cast("decimal(18,2)")
        val base = Tables.t(s, d, "events").select(
          col("event_id"), col("user_id"), col("value"),
          count(lit(1)).over(wf).cast("long").as("n_base"),
          sum(dec).over(wf).cast("double").as("s1"),
          sum(dec * dec).over(wf).cast("double").as("s2"))
        base.select(
          col("event_id"), col("user_id"), col("value"), col("n_base"),
          round(
            when(col("n_base") >= 10 &&
              (col("s2") - col("s1") * col("s1") / col("n_base")) > 0,
              (col("value") - col("s1") / col("n_base")) /
                sqrt((col("s2") - col("s1") * col("s1") / col("n_base")) /
                  (col("n_base") - 1))), 4).as("z"))
      },
      Some("""WITH b AS (SELECT event_id, user_id, value,
             |CAST(count(*) OVER w AS BIGINT) AS n_base,
             |CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
             |CAST(sum(CAST(value AS DECIMAL(18,2)) *
             |CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s2
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
             |SELECT event_id, user_id, value, n_base,
             |round(CASE WHEN n_base >= 10
             |AND (s2 - s1 * s1 / n_base) > 0
             |THEN (value - s1 / n_base) /
             |sqrt((s2 - s1 * s1 / n_base) / (n_base - 1)) END, 4) + 0.0
             |AS z FROM b"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // ACTIVITY STREAKS — gaps-and-islands on the event calendar (d12
    // applies the same trick to token positions): consecutive-day runs
    // per user via the dayNum − row_number() island key, reduced to an
    // all-integer per-user profile (streak count, longest run, active
    // days). Day keys become INTEGER offsets immediately (q23's
    // DATE-is-hash-unsafe rule never arises). Scale: the firehose
    // reduces ONCE to distinct (user, day) — one shuffle; the window and
    // final agg run on that user-cardinality table.
    Q("s19_activity_streaks",
      (s, d) => {
        val dd = Tables.t(s, d, "events").select(col("user_id"),
          datediff(to_date(col("ts")), to_date(lit("2020-01-01")))
            .cast("long").as("day")).distinct()
        val wf = Window.partitionBy("user_id").orderBy("day")
        dd.withColumn("isl", col("day") - row_number().over(wf))
          .groupBy("user_id", "isl")
          .agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_streaks"),
            max(col("len")).as("longest_streak"),
            sum(col("len")).as("active_days"))
      },
      Some("""WITH dd AS (SELECT DISTINCT user_id,
             |date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS day
             |FROM events),
             |isl AS (SELECT user_id,
             |day - row_number() OVER (PARTITION BY user_id ORDER BY day)
             |AS isl FROM dd),
             |runs AS (SELECT user_id, isl, count(*) AS len
             |FROM isl GROUP BY 1, 2)
             |SELECT user_id, count(*) AS n_streaks,
             |max(len) AS longest_streak,
             |CAST(sum(len) AS BIGINT) AS active_days
             |FROM runs GROUP BY 1"""
        .stripMargin.replace('\n', ' '))),

    // SEMI-STRUCTURED payload extraction — the JSON sidecar column every
    // event firehose carries: `props` parses with an EXPLICIT schema
    // (from_json with a declared struct — schema inference would cost a
    // full extra scan before the first query plans, the registerCsv
    // rule) and the extracted field aggregates per event type. All
    // output integers. At 100 TB the parse is per-row scan work that
    // whole-stage codegen fuses with the aggregate's map side; a
    // production pipeline materializes hot extracted fields as real
    // columns exactly so repeated queries skip the re-parse.
    Q("s20_json_props",
      (s, d) =>
        Tables.t(s, d, "events")
          .select(col("event_type"),
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
              .getField("k").as("k"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            count(col("k")).as("n_with_k"),
            sum(col("k")).as("sum_k"),
            countDistinct(col("k")).as("n_distinct_k"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k")),
      Some("""WITH x AS (SELECT event_type,
             |CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
             |SELECT event_type, count(*) AS n_events,
             |count(k) AS n_with_k,
             |CAST(sum(k) AS BIGINT) AS sum_k,
             |count(DISTINCT k) AS n_distinct_k,
             |min(k) AS min_k, max(k) AS max_k
             |FROM x GROUP BY 1"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // EXECUTED streaming twin of s20: the JSON extraction is stateless
    // per-row work, the rollup a complete-mode running aggregate — the
    // streaming answer must equal the batch oracle minus the distinct
    // count (exact distincts don't exist in incremental aggregation;
    // see EventStreams.jsonPropsAgg).
    Q("s21_stream_json_props",
      (s, d) => drainStream(s, EventStreams.jsonPropsAgg(eventStream(s, d))),
      Some("""WITH x AS (SELECT event_type,
             |CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
             |SELECT event_type, count(*) AS n_events,
             |count(k) AS n_with_k,
             |CAST(sum(k) AS BIGINT) AS sum_k,
             |min(k) AS min_k, max(k) AS max_k
             |FROM x GROUP BY 1"""
        .stripMargin.replace('\n', ' '))),

    Q("s07_stream_hourly_agg",
      (s, d) => drainStream(s, EventStreams.hourlyAgg(eventStream(s, d))),
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             |event_type, count(*) AS n, round(sum(value), 2) AS sv
             |FROM events GROUP BY 1, 2"""
        .stripMargin.replace('\n', ' '))),

    // s08: STATEFUL session_window sessionization under the hash gate.
    // session_window semantics in DuckDB terms: a new session starts when
    // the exact event-time gap is >= the 30-minute window (Spark merges
    // sessions only when they strictly overlap), computed on integer
    // epoch MICROseconds — the precision Spark's µs timestamps use —
    // never on floored seconds; session_end is last event + gap.
    Q("s08_stream_sessionize",
      (s, d) => drainStream(s, EventStreams.sessionStats(eventStream(s, d))),
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             |epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |f AS (SELECT user_id, ts, us, CASE WHEN us - lag(us) OVER
             |(PARTITION BY user_id ORDER BY us) >= 1800000000
             |THEN 1 ELSE 0 END AS is_new FROM ev),
             |sess AS (SELECT user_id, ts, sum(is_new) OVER
             |(PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING)
             |AS sid FROM f)
             |SELECT user_id, min(ts) AS session_start,
             |max(ts) + INTERVAL 30 MINUTE AS session_end,
             |count(*) AS n_events
             |FROM sess GROUP BY user_id, sid"""
        .stripMargin.replace('\n', ' '))),

    // s10: EXECUTED stream-static incremental dedup under the FULL hash
    // gate — the file-source twin of the MemoryStream spec
    // (StreamingSpec): the delta (doc_id % 10 = 0, d10's split) streams
    // from the documents parquet with a synthetic constant event-time,
    // the corpus (the rest) is the static banded index, and the banded
    // stream pipeline's verified pairs are checked against the EXACT
    // cross-side jaccard oracle in DuckDB. That equality is licensed by
    // the band layout: 8 bands × 2 rows collide with prob
    // 1-(1-j²)^8 ≥ 0.9997 at j = 0.8 per pair, and the fixture's
    // near-dup pairs (jac ≥ 0.8) all collide under the fixed xxhash64
    // banding — deterministic on this data, re-validated by this very
    // gate every round (a missed pair would fail rows_match loudly).
    // The constant ts makes the event-time window deterministic:
    // window('10:05', 1h).start = 10:00 exactly.
    Q("s10_stream_incremental_dedup",
      (s, d) => {
        val corpus = Tables.t(s, d, "documents")
          .filter(col("doc_id") % 10 =!= 0)
        drainStream(s, EventStreams.incrementalDedupStream(
          docStream(s, d).filter(col("doc_id") % 10 === 0)
            .withColumn("ts", lit("2026-01-01 10:05:00").cast("timestamp"))
            .select(col("ts"), col("doc_id"), col("text")),
          corpus, bands = 8, threshold = 0.8))
      },
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |s AS (SELECT doc_id,
             |list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
             |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh FROM tk),
             |en AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 10 = 0),
             |eo AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 10 <> 0),
             |p AS (SELECT DISTINCT en.doc_id AS new_id, eo.doc_id AS old_id
             |FROM en JOIN eo ON en.g = eo.g),
             |j AS (SELECT p.new_id, p.old_id,
             |round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             |/ len(list_distinct(sa.sh || sb.sh)), 4) AS jac
             |FROM p JOIN s sa ON sa.doc_id = p.new_id
             |JOIN s sb ON sb.doc_id = p.old_id)
             |SELECT CAST('2026-01-01 10:00:00' AS TIMESTAMP) AS h,
             |new_id, old_id, jac FROM j WHERE jac >= 0.8"""
        .stripMargin.replace('\n', ' '))),

    // s11: EXECUTED APPEND-mode streaming gate — the stateless
    // map-only shape the other executed gates don't cover (s07/s08/s10
    // are all stateful aggregates in complete mode): the t19 PII scrub
    // runs unchanged over the document file stream (no watermark, no
    // state store — per-row regexp work), drained with AvailableNow into
    // an append-mode sink and checked against the SAME DuckDB oracle as
    // the batch t19. This is the production shape of a firehose scrub:
    // transform-and-emit, no shuffle, each micro-batch independent.
    Q("s11_stream_pii_scrub",
      (s, d) => drainStream(s, TextQueries.piiScrubbed(docStream(s, d)),
        mode = "append"),
      Some(TextQueries.piiScrubOracle)),

    // s12: EXECUTED gate for the streaming trending-terms family
    // (previously MemoryStream-spec-only): the document file stream with
    // a constant synthetic event-time flows through the windowed
    // explode+count, and the settled complete-mode table must equal the
    // batch term counts with the deterministic 10:00 window start —
    // t07's aggregation semantics under streaming state.
    Q("s12_stream_trending",
      (s, d) => drainStream(s, EventStreams.trendingTerms(
        docStream(s, d)
          .withColumn("ts", lit("2026-01-01 10:05:00").cast("timestamp"))
          .select(col("ts"), col("text")))),
      Some("""WITH tok AS (SELECT
             |unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
             |FROM documents)
             |SELECT CAST('2026-01-01 10:00:00' AS TIMESTAMP) AS h,
             |term, count(*) AS n FROM tok GROUP BY term"""
        .stripMargin.replace('\n', ' '))),

    // s13: EXECUTED flatMapGroupsWithState gate — the last streaming
    // family without executed evidence (s07/s08 cover built-in windowed
    // state, s10 stream-static joins, s11 stateless append). The
    // custom-state sessionizer runs over the event file stream with a
    // 0-second watermark; in-batch gap closures emit during the data
    // batch and EventTimeTimeout flushes every session whose timeout
    // (last event second + 1800, in ms) precedes the final watermark
    // (max event time in ms). Sessions still open at end-of-stream stay
    // in state and are NOT emitted — the oracle states exactly that
    // boundary. The sessionizer works on SECOND-floored event times
    // (java.sql.Timestamp ms → /1000), so the oracle's gap math floors
    // via epoch_us // 1000000, NOT s08's exact-µs arithmetic.
    Q("s13_stream_custom_sessionize",
      (s, d) => {
        import s.implicits._
        val ev = eventStream(s, d)
          .withWatermark("ts", "0 seconds")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[SessionEvent]
        drainStream(s, EventStreams.sessionizeCustomState(ev).toDF(),
          mode = "append")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             |epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec FROM events),
             |f AS (SELECT user_id, sec, CASE WHEN sec - lag(sec) OVER
             |(PARTITION BY user_id ORDER BY sec) >= 1800
             |THEN 1 ELSE 0 END AS is_new FROM ev),
             |sess AS (SELECT user_id, sec, sum(is_new) OVER
             |(PARTITION BY user_id ORDER BY sec ROWS UNBOUNDED PRECEDING)
             |AS sid FROM f),
             |agg AS (SELECT user_id,
             |CAST(to_timestamp(min(sec)) AS TIMESTAMP) AS session_start,
             |CAST(to_timestamp(max(sec)) AS TIMESTAMP) AS session_end,
             |count(*) AS n_events, max(sec) AS last_sec
             |FROM sess GROUP BY user_id, sid),
             |wm AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP)) // 1000)
             |AS wm_ms FROM events)
             |SELECT user_id, session_start, session_end, n_events
             |FROM agg CROSS JOIN wm
             |WHERE (last_sec + 1800) * 1000 < wm_ms"""
        .stripMargin.replace('\n', ' '))),

    // s14: EXECUTED STREAM-STREAM join gate — watermarked interval
    // attribution (view → same-user purchase within 2 h). Inner
    // stream-stream joins emit eagerly on match, so the settled
    // append-mode table equals the batch self-join verbatim — the oracle
    // IS that self-join. Timestamps compare at exact µs on both engines
    // (s07 precedent); buy_value passes through unfolded. State on each
    // side is bounded by the watermark + the interval condition — the
    // property that lets this run on an unbounded firehose.
    Q("s14_stream_attribution",
      (s, d) => drainStream(s,
        EventStreams.attributionJoin(eventStream(s, d)), mode = "append"),
      Some("""SELECT a.user_id, CAST(a.ts AS TIMESTAMP) AS view_ts,
             |CAST(b.ts AS TIMESTAMP) AS buy_ts, b.value AS buy_value
             |FROM events a JOIN events b ON a.user_id = b.user_id
             |AND a.event_type = 'view' AND b.event_type = 'purchase'
             |AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR"""
        .stripMargin.replace('\n', ' '))),

    // s15: EXECUTED streaming-dedup gate (dropDuplicatesWithinWatermark —
    // the last streaming family with spec-only evidence). Which physical
    // ROW survives per content hash is arrival-order-dependent, so the
    // gate feeds only (constant ts, text): duplicate rows are then
    // byte-identical and the surviving set — one row per distinct text —
    // is deterministic regardless of partition order. The oracle is the
    // batch DISTINCT. State is keyed on the internal md5 and evicted at
    // the watermark (d01's streaming twin, executed).
    Q("s15_stream_dedup",
      (s, d) => drainStream(s, EventStreams.dedupStream(
        docStream(s, d)
          .withColumn("ts", lit("2026-01-01 10:05:00").cast("timestamp"))
          .select(col("ts"), col("text"))),
        mode = "append"),
      Some("""SELECT CAST('2026-01-01 10:05:00' AS TIMESTAMP) AS ts, text
             |FROM (SELECT DISTINCT text FROM documents)"""
        .stripMargin.replace('\n', ' '))),

    // s16: EXECUTED foreachBatch UPSERT gate — the lakehouse MERGE-INTO
    // lifecycle (EventStreams.upsertedLatest): the event file stream
    // folds micro-batch-by-micro-batch into a committed one-row-per-user
    // latest-event table, each version published whole under the DML
    // store's atomic pointer protocol. The merge is an associative argmax
    // (ts, then unique event_id), so the settled table is independent of
    // micro-batch boundaries and the oracle is the plain batch argmax.
    // The work dir is wiped per run: a stale checkpoint would replay
    // nothing and a stale table would leak a previous run's merge.
    Q("s16_stream_upsert",
      (s, d) => {
        val dir = Dml.work("s16_upsert", d)
        val p = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.delete)
        }
        EventStreams.upsertedLatest(s, eventStream(s, d), dir)
      },
      Some("""WITH r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             |event_id, event_type, value,
             |row_number() OVER (PARTITION BY user_id
             |ORDER BY ts DESC, event_id DESC) AS rn FROM events)
             |SELECT user_id, ts, event_id, event_type, value
             |FROM r WHERE rn = 1"""
        .stripMargin.replace('\n', ' '))),

    // EXECUTED gate for the STREAM-STATIC ENRICHMENT family — the one
    // streaming shape that previously executed only inside s10's dedup
    // composite: each event enriches with its user's batch-computed
    // activity profile through EventStreams.enrichStream's broadcast
    // join. Stateless (no watermark, no state store: the dimension
    // re-plans per micro-batch), append mode, full enriched rows out —
    // the oracle is the equivalent batch join. At 100 TB the broadcast
    // keeps the firehose shuffle-free; a dimension too big to broadcast
    // becomes a bucketed stream-static join on the same key.
    Q("s22_stream_enrich",
      (s, d) => {
        val dim = Tables.t(s, d, "events").groupBy("user_id")
          .agg(count(lit(1)).as("user_n_events"))
        val enriched = EventStreams.enrichStream(
          eventStream(s, d), dim, "user_id")
          .select("event_id", "user_id", "event_type", "user_n_events")
        drainStream(s, enriched, mode = "append")
      },
      Some("""SELECT e.event_id, e.user_id, e.event_type, u.user_n_events
             |FROM events e JOIN (SELECT user_id, count(*) AS user_n_events
             |FROM events GROUP BY 1) u USING (user_id)"""
        .stripMargin.replace('\n', ' '))),

    // EXECUTED streaming CDC duplication scoring — the streaming face of
    // d15/d16, possible ONLY because [[Dedup.rowChunks]] is a pure
    // per-row fold (no window, no state): the document stream chunks
    // map-side, joins the broadcast STORED duplicated-chunk index (the
    // maintenance artifact d15 produces), and aggregates per-doc dup
    // counts. The oracle is d16's batch construction minus the token
    // weighting. At 100 TB this is the ingest-time gate: new documents
    // score against yesterday's chunk index without any corpus rescan
    // (s10's incremental-ingest argument, chunk-level).
    Q("s23_stream_cdc_score",
      (s, d) => {
        // r18: ≥2 distinct docs ⟺ min != max (the d12/d16 trick) over the
        // within-doc pre-reduced chunk stream — one aggregate level
        val dupIdx = Dedup
          .cdcChunksCounted(Tables.t(s, d, "documents"))
          .groupBy("h").agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
          .filter(col("d0") =!= col("d1")).select(col("h"))
          .withColumn("_dup", lit(1L))
        val chunks = docStream(s, d)
          // r18: native chunker (Kernels.cdc_chunks) —
          // stateless per-row, so still streaming-safe
          .select(col("doc_id"),
            explode(TextExpressions.cdcChunks(
              TextFunctions.tokens(col("text")))).as("chunk_text"))
          .select(col("doc_id"), md5(col("chunk_text")).as("h"))
        val scored = chunks.join(broadcast(dupIdx), Seq("h"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            coalesce(sum("_dup"), lit(0L)).as("n_dup_chunks"))
        drainStream(s, scored)
      },
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks
             |FROM documents),
             |t AS (SELECT doc_id, unnest(toks) AS w,
             |generate_subscripts(toks, 1) AS pos FROM tk),
             |m AS (SELECT doc_id, pos, w,
             |CASE WHEN substr(md5(w), 1, 1) = '0' THEN 1 ELSE 0 END AS b
             |FROM t),
             |c AS (SELECT doc_id, pos, w,
             |sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk
             |FROM m),
             |ch AS (SELECT doc_id, chunk,
             |md5(string_agg(w, ' ' ORDER BY pos)) AS h
             |FROM c GROUP BY 1, 2),
             |dh AS (SELECT h FROM ch GROUP BY h
             |HAVING count(DISTINCT doc_id) >= 2)
             |SELECT doc_id, count(*) AS n_chunks,
             |CAST(sum(CASE WHEN dh.h IS NOT NULL THEN 1 ELSE 0 END)
             |AS BIGINT) AS n_dup_chunks
             |FROM ch LEFT JOIN dh ON ch.h = dh.h GROUP BY doc_id"""
        .stripMargin.replace('\n', ' '))),

    // EXECUTED streaming per-domain quota — t33's ingest-time face
    // ([[EventStreams.domainCapStream]]): one long of state per domain
    // (the admitted count) carried across micro-batches, each admitted
    // doc emitted with its admission rank. The entry constructs the same
    // doc_id-derived domains as t33 and feeds the document file stream;
    // on a single AvailableNow batch the content-keyed in-group ranking
    // reproduces t33's global md5 ranking exactly, so the oracle IS
    // t33's (shared verbatim). Across batches the quota is a running
    // budget — the semantics a crawl frontier actually wants.
    Q("s24_stream_domain_cap",
      (s, d) => {
        val sq = s; import sq.implicits._
        val sel = col("doc_id") % 5
        val domain = when(sel === 0 || sel === 1, lit("example.com"))
          .when(sel === 2 || sel === 3, lit("example.org"))
          .otherwise(lit("example.net"))
        val in = docStream(s, d)
          .select(col("doc_id"), domain.as("domain"),
            md5(col("text")).as("rk_key"))
          .as[DomainDoc]
        drainStream(s, EventStreams.domainCapStream(in, 20),
          mode = "append")
      },
      Some("""WITH d AS (SELECT doc_id, text,
             |CASE doc_id % 5 WHEN 0 THEN 'example.com'
             |WHEN 1 THEN 'example.com' WHEN 2 THEN 'example.org'
             |WHEN 3 THEN 'example.org' ELSE 'example.net' END AS domain
             |FROM documents),
             |r AS (SELECT doc_id, domain,
             |CAST(row_number() OVER (PARTITION BY domain
             |ORDER BY md5(text), doc_id) AS INTEGER) AS rk FROM d)
             |SELECT doc_id, domain, rk FROM r WHERE rk <= 20"""
        .stripMargin.replace('\n', ' '))),

    // s26: TIME-SERIES RESAMPLE + GAP-FILL under the hash gate — the
    // dense-calendar operator every monitoring rollup needs: a sparse
    // event subset (minute==7 keeps ~1/60 of events, guaranteeing empty
    // hours) is counted per (series, hour), a COMPLETE series×hour grid
    // is generated from the stream's bounds (sequence + explode crossed
    // with the distinct series keys — O(series × hours), planning-side
    // tiny, never event-scale), counts left-join onto it with
    // zero-fill, and a 3-hour rolling sum runs over each DENSE series —
    // the whole point of gap-filling: ROWS-frame windows over a sparse
    // series silently skip the empty buckets and overstate every
    // rolling statistic. This IS the production form (r12 verdict item
    // 3): the rolling frame is partitionBy(event_type) — s18's shape —
    // so no executor ever sorts more than one series' calendar and the
    // battery carries no single-partition WindowExec warning.
    Q("s26_hourly_gapfill",
      (s, d) => {
        val all = Tables.t(s, d, "events")
        val hc = all.filter(minute(col("ts")) === 7)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("n"))
        val cal = all
          .agg(date_trunc("hour", min(col("ts"))).as("h0"),
            date_trunc("hour", max(col("ts"))).as("h1"))
          .select(explode(sequence(col("h0"), col("h1"),
            expr("interval 1 hour"))).as("h"))
        val grid = all.select("event_type").distinct().crossJoin(cal)
        val filled = grid.join(hc, Seq("event_type", "h"), "left")
          .select(col("event_type"), col("h"),
            coalesce(col("n"), lit(0L)).as("n"))
        filled.withColumn("n3",
          sum(col("n")).over(Window.partitionBy(col("event_type"))
            .orderBy(col("h")).rowsBetween(-2, 0)))
      },
      Some("""WITH hc AS (SELECT event_type,
             |CAST(date_trunc('hour', ts) AS TIMESTAMP)
             |AS h, count(*) AS n FROM events
             |WHERE date_part('minute', ts) = 7 GROUP BY 1, 2),
             |b AS (SELECT CAST(date_trunc('hour', min(ts)) AS TIMESTAMP)
             |AS h0, CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS h1
             |FROM events),
             |cal AS (SELECT unnest(generate_series(h0, h1,
             |INTERVAL 1 HOUR)) AS h FROM b),
             |grid AS (SELECT s.event_type, cal.h FROM
             |(SELECT DISTINCT event_type FROM events) s CROSS JOIN cal),
             |f AS (SELECT grid.event_type, grid.h, COALESCE(hc.n, 0)
             |AS n FROM grid LEFT JOIN hc
             |ON hc.event_type = grid.event_type AND hc.h = grid.h)
             |SELECT event_type, h, n, CAST(sum(n) OVER
             |(PARTITION BY event_type ORDER BY h
             |ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS n3
             |FROM f"""
        .stripMargin.replace('\n', ' '))),

    // s27: EXECUTED gate for STREAMING TEXT NORMALIZATION — t38's
    // cleaning stage at ingest time: stateless per-row regexp/translate
    // work (s11's transform-and-emit shape), the SAME builder and
    // oracle as the batch entry, drained with AvailableNow in append
    // mode. Normalize-at-ingest is where this stage actually runs in a
    // crawl pipeline — downstream batch dedup then sees stable keys.
    Q("s27_stream_normalize",
      (s, d) => drainStream(s,
        TextQueries.normalizePipeline(docStream(s, d)),
        mode = "append"),
      Some(TextQueries.normalizeOracle)),

    // s25: EXECUTED gate for STREAMING MODEL INFERENCE — p08's quality
    // classifier as an ingest-time stage. A linear BoW score is a sum
    // over the document's own tokens, so scoring collapses to one
    // per-row HOF fold ([[CorpusStats.linearQualityScoreRow]]): no
    // explode, no shuffle, no state store — s11's stateless
    // transform-and-emit shape, drained with AvailableNow in append
    // mode and held to p08's oracle VERBATIM (one oracle, batch and
    // streaming execution). TextSpec separately asserts row-form ≡
    // join-form on a real corpus.
    Q("s25_stream_quality_classify",
      (s, d) => drainStream(s,
        CorpusStats.linearQualityScoreRow(docStream(s, d)),
        mode = "append"),
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks
             |FROM documents),
             |b AS (SELECT doc_id,
             |ascii(substr(md5(term), 1, 1)) * 256 +
             |ascii(substr(md5(term), 2, 1)) AS bucket
             |FROM (SELECT doc_id, unnest(toks) AS term FROM tk)),
             |db AS (SELECT doc_id, bucket, count(*) AS cnt
             |FROM b GROUP BY 1, 2),
             |w AS (SELECT DISTINCT bucket, bucket % 9 - 4 AS w FROM b),
             |sc AS (SELECT db.doc_id,
             |CAST(sum(cnt * w) AS BIGINT) AS score
             |FROM db JOIN w USING (bucket) GROUP BY 1)
             |SELECT tk.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             |COALESCE(sc.score, 0) AS score,
             |COALESCE(sc.score, 0) > 0 AS selected
             |FROM tk LEFT JOIN sc ON sc.doc_id = tk.doc_id"""
        .stripMargin.replace('\n', ' '))),

    // FORWARD FILL (LOCF — last observation carried forward) under the
    // hash gate: the time-series repair s26's zero-fill deliberately
    // does NOT do — sensor dropouts, missing quality scores, gappy
    // metadata all repair by carrying the last known value forward per
    // series. The corpus has no NULLs, so gaps are INJECTED
    // (event_id%5=0 → NULL, the t19 fire-the-operator rule); rows
    // before a user's first observation stay NULL on both sides. The
    // Spark side is the native `last(col, ignoreNulls)` running window;
    // DuckDB 1.0 has no IGNORE NULLS, so the oracle derives the SAME
    // semantics from first principles via the standard two-window
    // construction (gap-group id = running count of non-NULLs, then
    // max() within the group) — the engines agree iff both implement
    // LOCF exactly. The filled value is a COPIED double (no
    // arithmetic), so the hash compare is exact. Scale: one shuffle on
    // user_id, O(1) running state per row — the s18 window class.
    Q("s28_forward_fill",
      (s, d) => forwardFill(
        Tables.t(s, d, "events").withColumn("v",
          when(col("event_id") % 5 === 0, lit(null))
            .otherwise(col("value")))),
      Some("""WITH m AS (SELECT event_id, user_id, ts,
             |CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
             |FROM events),
             |g AS (SELECT event_id, user_id, ts, v,
             |count(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
             |FROM m)
             |SELECT event_id, user_id, v,
             |max(v) OVER (PARTITION BY user_id, grp) AS v_filled FROM g"""
        .stripMargin.replace('\n', ' '))),

    // s29: EXECUTED LATE-DATA DROP gate — the one watermark behavior no
    // other executed entry pins: s07-s15 all verify what the stream
    // KEEPS; this verifies what it THROWS AWAY, and the precise rule
    // for it. Three deterministic micro-batches (writeBatchLanding +
    // maxFilesPerTrigger=1): batch 0 carries hours 0-2 (even event_ids,
    // max ts 02:10 → the zero-lateness watermark lands at 02:10); batch
    // 1 carries 02:05 rows — behind the watermark but in the still-OPEN
    // hour-2 window, so they are KEPT (lateness is judged by window
    // end, not raw timestamp — the distinction naive "drop if ts <
    // watermark" reimplementations get wrong); batch 2 carries a 00:40
    // class whose hour-0 window closed two batches ago (DROPPED — the
    // late-event filter compares against the PREVIOUS batch's watermark
    // per SPARK-40925, which is why the drop needs its own batch after
    // the advance) and a 03:05 class that pushes the final watermark
    // but whose own window never closes (absent from append output).
    // The oracle restates exactly the surviving-window arithmetic.
    // Scale: the bounded-state guarantee this gate pins is WHY a
    // windowed agg can run on an unbounded firehose.
    Q("s29_stream_late_drop",
      (s, d) => {
        val base = 1767225600L // 2026-01-01 00:00:00 UTC
        val ev = Tables.t(s, d, "events").select(col("event_id"))
        def at(off: org.apache.spark.sql.Column) =
          timestamp_seconds(lit(base) + off).as("ts")
        val a = ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"),
            at(pmod(col("event_id"), lit(3)) * 3600 + 600))
        val b = ev.filter(pmod(col("event_id"), lit(6)) === 3)
          .select(col("event_id"), at(lit(2 * 3600 + 300)))       // 02:05
        val c = ev.filter(pmod(col("event_id"), lit(6)) === 1)
          .select(col("event_id"), at(lit(2400)))                 // 00:40
          .union(ev.filter(pmod(col("event_id"), lit(6)) === 5)
            .select(col("event_id"), at(lit(3 * 3600 + 300))))    // 03:05
        val dir = Dml.work("s29_late", d)
        EventStreams.writeBatchLanding(s, dir, Seq(a, b, c))
        val stream = s.readStream.schema(a.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
        drainStream(s, EventStreams.lateWindowCounts(stream),
          mode = "append")
      },
      Some("""WITH cls AS (SELECT event_id,
             |CASE WHEN event_id % 2 = 0 THEN event_id % 3
             |WHEN event_id % 6 = 3 THEN 2 END AS h FROM events)
             |SELECT CAST(to_timestamp(1767225600 + h * 3600)
             |AS TIMESTAMP) AS window_start, count(*) AS n
             |FROM cls WHERE h IS NOT NULL GROUP BY h"""
        .stripMargin.replace('\n', ' '))),

    // s37: CHAINED STATEFUL OPERATORS under the hash gate — dedup →
    // windowed agg in ONE streaming query (SPARK-42376), the shape an
    // at-least-once firehose needs. The corpus is doubled by
    // construction (explode over two copies, identical rows), so the
    // hourly counts prove the in-stream dedup actually fired: without
    // it every n would read 2×. A distinct-id driver row at 04:05
    // advances the zero-lateness watermark past the three data hours,
    // so append mode emits exactly hours 0–2 and holds the driver's
    // own window — the same emission boundary s29 pins. The oracle is
    // the batch per-hour distinct count.
    Q("s37_chained_stateful",
      (s, d) => {
        val base = 1767225600L // 2026-01-01 00:00:00 UTC
        val ev = Tables.t(s, d, "events").select(col("event_id"))
        val data = ev.select(col("event_id"),
          timestamp_seconds(
            lit(base) + pmod(col("event_id"), lit(3)) * 3600 + 600)
            .as("ts"))
        val driver = ev.filter(col("event_id") % 7 === 0)
          .select((col("event_id") + 1000000000L).as("event_id"),
            timestamp_seconds(lit(base) + 4 * 3600 + 300).as("ts"))
        val doubled = data.union(driver)
          .withColumn("__c", explode(typedlit(Seq(0, 1)))).drop("__c")
        val dir = Dml.work("s37_chain", d)
        EventStreams.writeBatchLanding(s, dir, Seq(doubled))
        val stream = s.readStream.schema(doubled.schema).parquet(dir)
        drainStream(s, EventStreams.dedupThenHourlyCounts(stream),
          mode = "append")
      },
      Some("""SELECT CAST(to_timestamp(1767225600 +
             |(event_id % 3) * 3600) AS TIMESTAMP) AS window_start,
             |count(*) AS n FROM events GROUP BY 1"""
        .stripMargin.replace('\n', ' '))),

    // s30: EXECUTED LEFT OUTER stream-stream join gate — the
    // null-padding half s14's inner join can't exercise. Four
    // constructed classes (user key = event_id, two landing dirs →
    // one file-source stream per side): %4=0 buys inside the 1-hour
    // window (matched, emits eagerly); %4=1 never buys (unmatched —
    // emits null-padded only once the GLOBAL watermark, the MIN of
    // both streams' maxima = the buy side's 02:30, passes view_ts +
    // window); %4=2 buys OUTSIDE the window at 02:30 (the view is
    // unmatched AND that purchase is what drives the buy-side
    // watermark); %4=3 views at 03:50, too close to end-of-stream
    // (03:50 + 1h > 02:30) — they stay PENDING in state and must be
    // ABSENT from the append output: emitting them null-padded would
    // be wrong (a purchase could still arrive), and that absence is
    // the exact semantics this gate pins. The oracle restates the
    // surviving classes arithmetically.
    Q("s30_stream_outer_join",
      (s, d) => {
        val base = 1767225600L
        val ev = Tables.t(s, d, "events").select(col("event_id"))
        def at(off: org.apache.spark.sql.Column) =
          timestamp_seconds(lit(base) + off)
        val views = ev.select(col("event_id").as("user_id"),
          at(when(col("event_id") % 4 === 3, 3 * 3600 + 3000)  // 03:50
            .otherwise(600)).as("view_ts"))                    // 00:10
        val buys = ev.filter(col("event_id") % 4 === 0)
          .select(col("event_id").as("buy_user"),
            at(lit(2400)).as("buy_ts"),                        // 00:40
            col("event_id").cast("double").as("buy_value"))
          .unionByName(ev.filter(col("event_id") % 4 === 2)
            .select(col("event_id").as("buy_user"),
              at(lit(2 * 3600 + 1800)).as("buy_ts"),           // 02:30
              col("event_id").cast("double").as("buy_value")))
        val vDir = Dml.work("s30_views", d)
        val bDir = Dml.work("s30_buys", d)
        EventStreams.writeBatchLanding(s, vDir, Seq(views))
        EventStreams.writeBatchLanding(s, bDir, Seq(buys))
        val vs = s.readStream.schema(views.schema).parquet(vDir)
        val bs = s.readStream.schema(buys.schema).parquet(bDir)
        drainStream(s, EventStreams.attributionJoinOuter(vs, bs),
          mode = "append")
      },
      Some("""WITH e AS (SELECT event_id FROM events),
             |m AS (SELECT event_id AS user_id,
             |CAST(to_timestamp(1767225600 + 600) AS TIMESTAMP)
             |AS view_ts,
             |CAST(to_timestamp(1767225600 + 2400) AS TIMESTAMP)
             |AS buy_ts,
             |CAST(event_id AS DOUBLE) AS buy_value
             |FROM e WHERE event_id % 4 = 0
             |UNION ALL SELECT event_id,
             |CAST(to_timestamp(1767225600 + 600) AS TIMESTAMP),
             |NULL, NULL FROM e WHERE event_id % 4 IN (1, 2))
             |SELECT user_id, view_ts, buy_ts, buy_value FROM m"""
        .stripMargin.replace('\n', ' '))),

    // s31: EXECUTED transformWithState gate — Spark 4's arbitrary-state
    // operator (SPARK-46815) run over TWO deterministic micro-batches
    // (even event_ids land first, odd second; maxFilesPerTrigger=1
    // splits the landing files 1:1 into batches). The semantics under
    // test is CROSS-BATCH state: a user active in both batches must see
    // batch-2 cumulative totals that include batch 1 — the oracle
    // restates exactly that as two CTEs unioned, with the second's
    // running totals folding the first in via LEFT JOIN + COALESCE
    // (a user absent from batch 0 starts from zero). The operator
    // requires the RocksDB state store provider; the conf is scoped to
    // this query and restored after (session conf is read at query
    // start, so the finally runs after the drain completes). Integer
    // count + event_id checksum keep every value bit-exact.
    Q("s31_transform_with_state",
      (s, d) => {
        import s.implicits._
        val ev = Tables.t(s, d, "events")
          .select(col("user_id"), col("event_id"))
        val dir = Dml.work("s31_landing", d)
        EventStreams.writeBatchLanding(s, dir, Seq(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1)))
        val st = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
          .as[KeyedEvent]
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
        try drainStream(s, EventStreams.runningTotals(st).toDF(),
          mode = "append")
        finally prev match {
          case Some(p) => s.conf.set(key, p)
          case None => s.conf.unset(key)
        }
      },
      Some("""WITH b0 AS (SELECT user_id, count(*) AS n,
             |CAST(sum(event_id) AS BIGINT) AS s FROM events
             |WHERE event_id % 2 = 0 GROUP BY user_id),
             |b1 AS (SELECT user_id, count(*) AS n,
             |CAST(sum(event_id) AS BIGINT) AS s FROM events
             |WHERE event_id % 2 = 1 GROUP BY user_id)
             |SELECT user_id, n AS batch_events, n AS cum_events,
             |s AS cum_id_sum FROM b0
             |UNION ALL
             |SELECT b1.user_id, b1.n AS batch_events,
             |b1.n + COALESCE(b0.n, 0) AS cum_events,
             |b1.s + COALESCE(b0.s, 0) AS cum_id_sum
             |FROM b1 LEFT JOIN b0 USING (user_id)"""
        .stripMargin.replace('\n', ' '))),

    // s38: LIST-STATE gate (transformWithState's ordered bounded
    // collection — the state shape s31's ValueState and s33's timers
    // don't touch): per-user trailing-3 event ids across s31's
    // two-batch landing (evens then odds, each batch sorted by the
    // processor). The oracle replays arrival order as (parity, id):
    // the batch-0 snapshot is the top-3 evens, the batch-1 snapshot
    // the top-3 of the full ordered history — emitted ONLY for users
    // active in that batch (handleInputRows fires per input key), the
    // cross-batch list survival being exactly what the gate holds.
    Q("s38_liststate_trailing",
      (s, d) => {
        import s.implicits._
        val ev = Tables.t(s, d, "events")
          .select(col("user_id"), col("event_id"))
        val dir = Dml.work("s38_landing", d)
        EventStreams.writeBatchLanding(s, dir, Seq(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1)))
        val st = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
          .as[KeyedEvent]
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
        try drainStream(s, EventStreams.trailingEvents(st).toDF(),
          mode = "append")
        finally prev match {
          case Some(p) => s.conf.set(key, p)
          case None => s.conf.unset(key)
        }
      },
      Some("""WITH r0 AS (SELECT user_id, event_id, row_number() OVER
             |(PARTITION BY user_id ORDER BY event_id DESC) AS rn
             |FROM events WHERE event_id % 2 = 0),
             |s0 AS (SELECT user_id, CAST(0 AS BIGINT) AS batch,
             |count(*) AS n_recent, min(event_id) AS min_r,
             |max(event_id) AS max_r,
             |CAST(sum(event_id) AS BIGINT) AS sum_r
             |FROM r0 WHERE rn <= 3 GROUP BY user_id),
             |r1 AS (SELECT user_id, event_id, row_number() OVER
             |(PARTITION BY user_id
             |ORDER BY event_id % 2 DESC, event_id DESC) AS rn
             |FROM events),
             |s1 AS (SELECT user_id, CAST(1 AS BIGINT) AS batch,
             |count(*) AS n_recent, min(event_id) AS min_r,
             |max(event_id) AS max_r,
             |CAST(sum(event_id) AS BIGINT) AS sum_r
             |FROM r1 WHERE rn <= 3 AND user_id IN
             |(SELECT user_id FROM events WHERE event_id % 2 = 1)
             |GROUP BY user_id)
             |SELECT * FROM s0 UNION ALL SELECT * FROM s1"""
        .stripMargin.replace('\n', ' '))),

    // s39: MAP-STATE gate — the last transformWithState state shape
    // (ValueState s31, ListState s38): per-user per-event-type
    // counters, point-updated per row, read out cumulatively per
    // batch with the g13 majority tie rule (max count, lexicographic
    // min). Same two-batch parity landing as s31/s38; the oracle
    // restates both snapshots, the batch-1 one over the full history
    // for odd-active users only.
    Q("s39_mapstate_counts",
      (s, d) => {
        import s.implicits._
        val ev = Tables.t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"))
        val dir = Dml.work("s39_landing", d)
        EventStreams.writeBatchLanding(s, dir, Seq(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1)))
        val st = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
          .as[TypedEvent]
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
        try drainStream(s, EventStreams.typeCounts(st).toDF(),
          mode = "append")
        finally prev match {
          case Some(p) => s.conf.set(key, p)
          case None => s.conf.unset(key)
        }
      },
      Some("""WITH c0 AS (SELECT user_id, event_type, count(*) AS c
             |FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2),
             |w0 AS (SELECT user_id, event_type, c,
             |max(c) OVER (PARTITION BY user_id) AS mc FROM c0),
             |s0 AS (SELECT user_id, CAST(0 AS BIGINT) AS batch,
             |count(*) AS n_types, CAST(sum(c) AS BIGINT) AS cum_n,
             |min(event_type) FILTER (WHERE c = mc) AS top_type
             |FROM w0 GROUP BY user_id),
             |c1 AS (SELECT user_id, event_type, count(*) AS c
             |FROM events GROUP BY 1, 2),
             |w1 AS (SELECT user_id, event_type, c,
             |max(c) OVER (PARTITION BY user_id) AS mc FROM c1),
             |s1 AS (SELECT user_id, CAST(1 AS BIGINT) AS batch,
             |count(*) AS n_types, CAST(sum(c) AS BIGINT) AS cum_n,
             |min(event_type) FILTER (WHERE c = mc) AS top_type
             |FROM w1 WHERE user_id IN (SELECT user_id FROM events
             |WHERE event_id % 2 = 1) GROUP BY user_id)
             |SELECT * FROM s0 UNION ALL SELECT * FROM s1"""
        .stripMargin.replace('\n', ' '))),

    // s33: EXECUTED event-time-TIMER gate (transformWithState's
    // handleExpiredTimer — emission driven by watermark progress, not
    // input). Three deterministic micro-batches: (1) every user (uid =
    // event_id) at 00:00 / 00:30 / 01:00 by uid%3; (2) a SECOND event at
    // +4000s for uid%3==1 — arriving while the user's first timer
    // (+9000s) is still live, so the re-arm (delete + register) is what
    // keeps them un-emitted, and their count must read 2 (cross-batch
    // state through the timer path); (3) a lone uid=-1 driver at
    // +12000s that pushes the final watermark past every population
    // timer (7200/11200/10800) but not its own (19200) — the driver
    // user itself must be ABSENT, which pins "no watermark passage, no
    // emission". Margins keep every comparison strictly away from
    // timer==watermark boundaries. The oracle restates the surviving
    // arithmetic per uid class.
    Q("s33_timer_finalize",
      (s, d) => {
        import s.implicits._
        val base = 1767225600L
        val ev = Tables.t(s, d, "events").select(col("event_id"))
        val b0 = ev.select(col("event_id").as("user_id"),
          timestamp_seconds(lit(base) + (col("event_id") % 3) * 1800)
            .as("ts"))
        val b1 = ev.filter(col("event_id") % 3 === 1)
          .select(col("event_id").as("user_id"),
            timestamp_seconds(lit(base) + 4000).as("ts"))
        val b2 = s.range(1).select(lit(-1L).as("user_id"),
          timestamp_seconds(lit(base) + 12000).as("ts"))
        val dir = Dml.work("s33_landing", d)
        EventStreams.writeBatchLanding(s, dir, Seq(b0, b1, b2))
        val st = s.readStream.schema(b0.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
          .withWatermark("ts", "0 seconds").as[TimedEvent]
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
        try drainStream(s, EventStreams.inactivityFinalize(st).toDF(),
          mode = "append")
        finally prev match {
          case Some(p) => s.conf.set(key, p)
          case None => s.conf.unset(key)
        }
      },
      Some("""SELECT event_id AS user_id,
             |CAST(CASE WHEN event_id % 3 = 1 THEN 2 ELSE 1 END
             |AS BIGINT) AS n_events,
             |CAST(to_timestamp(1767225600 + CASE CAST(event_id % 3
             |AS INTEGER) WHEN 0 THEN 0 WHEN 1 THEN 4000
             |ELSE 3600 END) AS TIMESTAMP) AS last_ts
             |FROM events"""
        .stripMargin.replace('\n', ' '))),

    // s34: EXECUTED FULL OUTER stream-stream join — the class s30 can't
    // exercise: the BUY side null-pads too. Five classes by event_id%4
    // (uid = event_id): 0 = matched (view 00:10, buy 00:40); 1 = view
    // only → (view, nulls) once wm > 01:10; 2 = view at 00:10 AND an
    // OUT-OF-WINDOW buy at 02:30 → TWO rows, (view, nulls) and (nulls,
    // buy) — the buy evicts when wm > its own buy_ts, the latest
    // possible matching view time, which is precisely the rule that
    // bounds buy-side state; 3 = view at 03:50, too close to
    // end-of-stream → PENDING (absent); plus a buy_user=-1 driver at
    // 04:00 that pushes the buy-side maximum so the global watermark
    // (min of sides) lands at 03:50 — the driver itself stays pending
    // (absent). Every eviction compares with >1h margin to the
    // watermark; nothing sits on a boundary.
    Q("s34_stream_full_outer_join",
      (s, d) => {
        val base = 1767225600L
        val ev = Tables.t(s, d, "events").select(col("event_id"))
        def at(off: org.apache.spark.sql.Column) =
          timestamp_seconds(lit(base) + off)
        val views = ev.select(col("event_id").as("user_id"),
          at(when(col("event_id") % 4 === 3, 3 * 3600 + 3000)
            .otherwise(600)).as("view_ts"))
        val buys = ev.filter(col("event_id") % 4 === 0)
          .select(col("event_id").as("buy_user"),
            at(lit(2400)).as("buy_ts"),
            col("event_id").cast("double").as("buy_value"))
          .unionByName(ev.filter(col("event_id") % 4 === 2)
            .select(col("event_id").as("buy_user"),
              at(lit(2 * 3600 + 1800)).as("buy_ts"),
              col("event_id").cast("double").as("buy_value")))
          .unionByName(s.range(1).select(lit(-1L).as("buy_user"),
            at(lit(4 * 3600)).as("buy_ts"),
            lit(0.0).as("buy_value")))
        val vDir = Dml.work("s34_views", d)
        val bDir = Dml.work("s34_buys", d)
        EventStreams.writeBatchLanding(s, vDir, Seq(views))
        EventStreams.writeBatchLanding(s, bDir, Seq(buys))
        val vs = s.readStream.schema(views.schema).parquet(vDir)
        val bs = s.readStream.schema(buys.schema).parquet(bDir)
        drainStream(s, EventStreams.attributionJoinFull(vs, bs),
          mode = "append")
      },
      Some("""WITH e AS (SELECT event_id FROM events),
             |m AS (SELECT event_id AS user_id,
             |CAST(to_timestamp(1767225600 + 600) AS TIMESTAMP)
             |AS view_ts,
             |CAST(to_timestamp(1767225600 + 2400) AS TIMESTAMP)
             |AS buy_ts,
             |CAST(event_id AS DOUBLE) AS buy_value
             |FROM e WHERE event_id % 4 = 0
             |UNION ALL SELECT event_id,
             |CAST(to_timestamp(1767225600 + 600) AS TIMESTAMP),
             |NULL, NULL FROM e WHERE event_id % 4 IN (1, 2)
             |UNION ALL SELECT event_id, NULL,
             |CAST(to_timestamp(1767225600 + 9000) AS TIMESTAMP),
             |CAST(event_id AS DOUBLE)
             |FROM e WHERE event_id % 4 = 2)
             |SELECT user_id, view_ts, buy_ts, buy_value FROM m"""
        .stripMargin.replace('\n', ' '))),

    // s35: EXECUTED UPDATE-mode gate — the third output mode (complete:
    // s07; append: s13/s29-s34). Update emits, per micro-batch, ONLY
    // the groups that micro-batch changed — the incremental-view
    // maintenance contract a downstream upsert sink keys on. Two
    // deterministic batches (event_id parity); the memory sink in
    // update mode appends each batch's emissions, so the settled table
    // is batch 0's partial counts PLUS, for every type touched by
    // batch 1, the cumulative count — exactly what the oracle states
    // (a type absent from batch 1 appears once; a type in both
    // appears twice, partial then total). No watermark: unevicted
    // state is precisely what update mode lets you run without one.
    Q("s35_stream_update_mode",
      (s, d) => {
        val ev = Tables.t(s, d, "events")
          .select(col("event_id"), col("event_type"))
        val dir = Dml.work("s35_landing", d)
        EventStreams.writeBatchLanding(s, dir, Seq(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1)))
        val st = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
        drainStream(s,
          st.groupBy("event_type").agg(count(lit(1)).as("n")),
          mode = "update")
      },
      Some("""WITH b0 AS (SELECT event_type, count(*) AS n FROM events
             |WHERE event_id % 2 = 0 GROUP BY 1),
             |tot AS (SELECT event_type, count(*) AS n FROM events
             |GROUP BY 1),
             |b1t AS (SELECT DISTINCT event_type FROM events
             |WHERE event_id % 2 = 1)
             |SELECT event_type, n FROM b0
             |UNION ALL SELECT t.event_type, t.n FROM tot t
             |JOIN b1t USING (event_type)"""
        .stripMargin.replace('\n', ' '))),

    // s36: STREAMING MERGE SINK — foreachBatch applying each micro-batch
    // as a MERGE into the versioned store (the production CDC-apply
    // / streaming-upsert pattern: Structured Streaming provides ordered
    // exactly-once batch delivery, the store provides the atomic
    // committed version, and MERGE is the idempotent-ish apply in
    // between). Two deterministic batches of per-user event counts;
    // each foreachBatch MERGEs batch aggregates into the running
    // per-user totals (matched: n = t.n + s.n; unmatched: insert), and
    // the gate reads the store's final committed version — a user
    // active in both batches must show the SUM, which only holds if
    // batch 2's merge read batch 1's commit. The first batch publishes
    // an empty v0; every batch then commits against the store in place
    // (Dml.mergeOnRead) — a batch never republishes the committed table
    // it reads. The oracle restates the converged state as plain
    // totals.
    Q("s36_stream_merge_sink",
      (s, d) => {
        import org.apache.spark.sql.streaming.Trigger
        val ev = Tables.t(s, d, "events")
          .select(col("event_id"), col("user_id"))
        val landing = Dml.work("s36_landing", d)
        EventStreams.writeBatchLanding(s, landing, Seq(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1)))
        val store = Dml.work("s36_store", d)
        Layouts.deleteDir(s, store)
        val st = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(landing)
        val q = st.writeStream.foreachBatch {
          (batch: DataFrame, _: Long) =>
            val agg = batch.groupBy("user_id")
              .agg(count(lit(1)).as("n"))
            if (!java.nio.file.Files.exists(
                java.nio.file.Paths.get(store, "_latest")))
              Dml.publish(agg.limit(0), store) // empty target, store schema
            Dml.mergeOnRead(s, store, agg,
              col("t.user_id") === col("s.user_id"),
              Map("n" -> (col("t.n") + col("s.n"))),
              Some(Seq("user_id", "n")),
              Some(Seq(col("s.user_id"), col("s.n"))))
            ()
        }.trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        Dml.readLatest(s, store)
      },
      Some("""SELECT user_id, count(*) AS n FROM events
             |GROUP BY user_id"""
        .stripMargin.replace('\n', ' ')))
  )

  /** s28's LOCF fill, shared with the spec: the running
    * `last(ignoreNulls)` window over (ts, event_id) per user. Expects a
    * pre-masked nullable `v` column; emits the copied-through fill. */
  private[graft] def forwardFill(events: DataFrame): DataFrame = {
    val wRun = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.select(col("event_id"), col("user_id"), col("v"),
      last(col("v"), ignoreNulls = true).over(wRun).as("v_filled"))
  }

  /** File-source stream over the events parquet: explicit schema from a
    * batch footer read (readStream refuses inference, and at 100 TB you'd
    * pin the schema anyway), watching the sfDir as the landing directory
    * filtered to the events file, with [[Tables]]' schema-adaptive ts
    * normalization (ns-long, µs-NTZ, or native timestamp) applied to the
    * stream. */
  private def eventStream(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    Tables.ensureNanosConf(s) // the schema read below needs it too
    val raw = Tables.openParquet(s, Tables.path(d, "events"))
    Tables.eventsTsFromNanos(
      s.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d))
  }

  /** File-source stream over the documents parquet (s10): explicit schema
    * from a batch footer read, landing-directory watch filtered to the
    * documents file — the same pattern as [[eventStream]], minus the
    * events-specific ns→µs conversion (documents carries no timestamp;
    * s10 synthesizes its event-time). */
  private def docStream(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val raw = Tables.openParquet(s, Tables.path(d, "documents"))
    s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
  }

  /** Drain a streaming frame with Trigger.AvailableNow into a memory
    * sink and return the settled table — complete mode for aggregates
    * (s07/s08/s10), append mode for stateless transforms (s11). The temp
    * view is dropped before returning — the resolved plan keeps the sink
    * relation alive for the caller, but repeated builds (hash-gate
    * sweeps, specs) must not accumulate a view + result per run. */
  private def drainStream(
      s: org.apache.spark.sql.SparkSession, agg: DataFrame,
      mode: String = "complete"): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val sink = s"stream_out_${java.util.UUID.randomUUID().toString.take(8)}"
    val query = agg.writeStream.format("memory").queryName(sink)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    try query.awaitTermination() finally query.stop()
    val out = s.table(sink) // resolves the plan against the sink relation
    s.catalog.dropTempView(sink)
    out
  }
}
