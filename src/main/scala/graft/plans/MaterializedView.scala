package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** MATERIALIZED-VIEW AUTO-REWRITE — a `Rule[LogicalPlan]` that redirects
  * an aggregate over the base fact to a pre-computed summary table when
  * the summary can answer it exactly (the Calcite/BigQuery/Snowflake MV
  * rewrite, reduced to its rollup kernel).
  *
  * Why this matters at 100 TB: the repeated-dashboard aggregate is the
  * single most common query shape over a big fact, and every run of it
  * re-scans the fact. A summary at (dims × measures) granularity is
  * typically 4-6 orders of magnitude smaller; rewriting the query plan
  * to scan the summary — transparently, with the query text unchanged —
  * is the one optimizer move that beats any amount of pushdown/pruning
  * on the base table. The rewrite composes with everything downstream
  * (the rewritten plan is ordinary Catalyst — codegen, AQE, partial
  * aggregation all still apply to the rollup).
  *
  * Soundness rules (each checked structurally; on ANY doubt the rule
  * declines and the query runs on the base table — a wrong rewrite is
  * silent wrong answers, so every guard fails toward "no rewrite"):
  *
  *  - SHAPE: `Aggregate` over (optional `Filter`s / pruning `Project`s
  *    over) exactly the REGISTERED base relation (matched by the scan's
  *    root paths).
  *  - FRESHNESS: the query-plan leaf's own file listing must equal the
  *    listing fingerprinted at registration — a base table that gained
  *    or rewrote files since the MV was built serves the base, never a
  *    stale summary (the [[IndexSupport]] staleness contract; the check
  *    reads the leaf's already-materialized FileIndex, no extra IO).
  *  - DIMENSIONS: every grouping expression and every filter column is
  *    a bare MV dimension attribute — grouping by a SUBSET of the MV
  *    dims is the rollup case and is allowed; any non-dim reference
  *    declines.
  *  - MEASURES: every aggregate call in the SELECT must match a
  *    registered MV measure STRUCTURALLY (same function over the same
  *    input expression, compared with exprIds/qualifiers stripped), and
  *    roll up losslessly: sum→sum of partial sums, count→sum of partial
  *    counts, min→min of partial mins, max→max of partial maxes. avg &
  *    distinct aggregates do NOT decompose over partial groups and are
  *    declined (a production registry answers avg via sum/count pairs).
  *  - TYPES: the rolled-up aggregate is cast back to the original
  *    expression's type when widening differs (sum over decimal partial
  *    sums widens); output attribute NAMES and EXPR IDS are preserved
  *    via aliases so every parent operator re-binds unchanged.
  *
  * The rule installs into `spark.experimental.extraOptimizations` — the
  * documented user-rule extension point of the Catalyst optimizer — so
  * EVERY downstream consumer (Verify's parquet write, Bench's noop sink,
  * a user's own actions) re-derives the rewrite on its own
  * QueryExecution; nothing needs plan pinning. Fixed-point safe: a
  * rewritten aggregate scans the MV relation, whose roots match no
  * registered BASE, so the rule cannot fire twice.
  */
object Mv {

  /** One registered summary: where the base lives (scan-root identity +
    * file listing + its fingerprint), the MV's dimension columns, its
    * measure catalog (structural agg key → rollup kind + MV column),
    * the analyzed MV relation to instantiate per rewrite, and what
    * [[refreshIncremental]] needs to re-derive the summary (the
    * defining agg columns, the current materialization path, and the
    * refresh epoch that versions it). */
  final case class MvDef(
      name: String,
      baseRoots: Set[String],
      /** base file path -> (length, modificationTime) at registration —
        * the staleness identity. Path-only tracking let a file rewritten
        * IN PLACE under the same name serve a stale summary; (len, mtime)
        * comes from the FileIndex's already-listed statuses (no extra
        * IO), the Delta/Iceberg freshness convention. */
      baseMeta: Map[String, (Long, Long)],
      baseFilesFp: String,
      dims: Set[String],
      dimCols: Seq[String],
      aggCols: Seq[Column],
      measures: Map[String, (String, String)],
      /** Canonicalized conjuncts of the defining WHERE predicate (empty
        * for a full-table summary). A query rewrites only when its own
        * filter conjuncts COVER these exactly (the exact-match partial-MV
        * contract); the covered conjuncts are consumed, not re-applied —
        * they may reference non-dim base columns the summary no longer
        * carries. */
      predConjuncts: Set[String],
      /** Column NAMES provably non-null on every summary row because a
        * null-intolerant predicate conjunct references them. The
        * optimizer infers `isnotnull(c)` next to every pushed filter;
        * on the query side those inferred conjuncts are implied by the
        * consumed predicate and must be consumable too — but ONLY when
        * the predicate actually null-rejects the column (`c IS NULL`
        * as a defining predicate implies nothing of the sort). */
      predNotNullable: Set[String],
      /** The WHERE predicate itself, for refresh (delta files must be
        * filtered identically) and rebuild re-registration. */
      whereCol: Option[Column],
      mvPath: String,
      /** Summary row count — the cost key when several registered MVs
        * cover one query: the rewrite picks the smallest. */
      mvRows: Long,
      epoch: Int,
      mvRelation: LogicalRelation,
      /** Set when the base is a versioned-store table ([[registerStore]]);
        * refresh then classifies commits by version composition instead
        * of raw file listings. */
      storeState: Option[StoreState] = None,
      /** Range-implicable defining conjuncts, canon → (attr name, op,
        * literal): a query comparison over the same attribute that
        * IMPLIES the registered one (query `x > 10` over MV `WHERE
        * x > 5`) also satisfies coverage — the query conjunct then stays
        * as a RESIDUAL filter on the summary, so the downstream dim-only
        * check forces the attribute to be a dim the summary carries.
        * Only bare `attr <cmp> literal` conjuncts parse into this map;
        * everything else keeps the exact-canon-match-only contract. */
      predRanges: Map[String, (String, String, Literal)] = Map.empty)

  /** Registered MVs, keyed by NAME. Several summaries may share one base
    * (different grains / predicates); the rewrite matches by the scan's
    * root paths and picks the cheapest covering candidate by row count.
    * Re-registering a name replaces that definition only. */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, MvDef]()

  private def candidatesFor(roots: Set[String]): Seq[MvDef] = {
    import scala.jdk.CollectionConverters._
    registry.values.asScala.filter(_.baseRoots == roots).toSeq
      .sortBy(d => (d.mvRows, d.name))
  }

  /** Kill switch for control-arm measurements (spec/bench baselines). */
  @volatile private[graft] var enabled = true

  /** Depth of live [[withDisabled]] scopes. A save/restore of the global
    * flag was not safe under interleaving: two concurrent register()
    * calls could restore enabled=true while the other was still
    * materializing, re-firing the rewrite onto the summary directory
    * registration had just deleted. A counter nests and interleaves
    * correctly: the rule stays off until EVERY scope has exited. */
  private val disabledDepth = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `body` with the rewrite disabled — the control arm. */
  private[graft] def withDisabled[T](body: => T): T = {
    disabledDepth.incrementAndGet()
    try body finally disabledDepth.decrementAndGet()
  }

  private def rewriteOff: Boolean = !enabled || disabledDepth.get() > 0

  private def structKey(af: Expression): String =
    af.transform {
      case a: AttributeReference => a.withQualifier(Nil)
    }.sql

  private def fingerprint(meta: Map[String, (Long, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    meta.toSeq.sortBy(_._1).foreach { case (p, (len, mtime)) =>
      md.update(s"$p|$len|$mtime".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def leafRelation(plan: LogicalPlan): Option[LogicalRelation] =
    plan.collectLeaves() match {
      case Seq(l: LogicalRelation) => Some(l)
      case _ => None
    }

  private def rootsOf(l: LogicalRelation): Set[String] =
    l.relation match {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        fs.location.rootPaths.map(_.toString).toSet
      case _ => Set.empty
    }

  /** (path, length, modificationTime) per base file, from the
    * FileIndex's already-materialized listing — the statuses are in
    * memory from the scan's own planning, so this costs no IO. */
  private def fileMeta(l: LogicalRelation): Map[String, (Long, Long)] =
    l.relation match {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        fs.location.listFiles(Nil, Nil).flatMap(_.files).map { f =>
          f.getPath.toString -> (f.getLen, f.getModificationTime)
        }.toMap
      case _ => Map.empty
    }

  /** Per-FileIndex fingerprint memo: the freshness check runs on EVERY
    * matching aggregate's optimization, and at 100 TB a base table's
    * listing is millions of paths — MB-scale hashing per query plan. A
    * FileIndex instance's listing is immutable (a new scan of a changed
    * table builds a NEW index), so the fingerprint is cached weakly per
    * instance: repeated plans over one relation hash once. */
  // IDENTITY-keyed, not equals-keyed: FileIndex.equals compares root
  // paths, so an equals-keyed map would serve a PRE-append fingerprint
  // for a fresh index over the changed table — exactly the staleness
  // the check exists to catch. A hit must be the same INSTANCE (`eq`);
  // an identityHashCode collision therefore degrades to a miss, never
  // a wrong answer. Weak refs + a size-bounded sweep keep dead index
  // instances from pinning the map.
  private val fpCache = new java.util.concurrent.ConcurrentHashMap[
    Integer, (java.lang.ref.WeakReference[AnyRef], String)]()
  private def fingerprintOf(l: LogicalRelation): String = l.relation match {
    case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
      val loc = fs.location
      val k = Integer.valueOf(System.identityHashCode(loc))
      val hit = fpCache.get(k)
      if (hit != null && (hit._1.get() eq loc)) hit._2
      else {
        val fp = fingerprint(fileMeta(l))
        fpCache.put(k,
          (new java.lang.ref.WeakReference[AnyRef](loc), fp))
        if (fpCache.size() > 1024)
          fpCache.entrySet().removeIf(e => e.getValue._1.get() == null)
        fp
      }
    case _ => fingerprint(fileMeta(l))
  }

  /** Canonical text of a predicate conjunct for exact-match comparison
    * across plan instances (qualifiers stripped; exprIds don't print). */
  private[graft] def canon(e: Expression): String =
    e.transform { case a: AttributeReference => a.withQualifier(Nil) }.sql

  /** The lossless-rollup kind for an MV-defining aggregate function, or
    * None when the function does not decompose over partial groups.
    * `hll` is the MERGEABLE-SKETCH measure: an HLL sketch of a union is
    * exactly the register-wise max of the parts' sketches, so a summary
    * storing `hll_sketch_agg(x)` per group answers
    * `hll_sketch_estimate(hll_sketch_agg(x))` at ANY coarser grain via
    * `hll_union_agg` — the 100 TB distinct-count pattern (distinct
    * users per segment/day without rescanning the fact), and the one
    * approximate aggregate that folds EXACTLY (same binary sketches in,
    * same estimate out). */
  private def rollupKind(af: AggregateFunction): Option[String] = af match {
    case _: Sum => Some("sum")
    case _: Count => Some("sum") // counts roll up by summing per-group counts
    case _: Min => Some("min")
    case _: Max => Some("max")
    case _: HllSketchAgg => Some("hll")
    case _ => None
  }

  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case other => Seq(other)
  }

  /** Anchor of an MV registered over a VERSIONED-STORE table ([[Dml]]
    * commit-pointer dir): which version the summary reflects and that
    * version's composition (data path + sidecar row counts), so
    * refresh can classify the NEXT commit as foldable or not. */
  final case class StoreState(
      storeDir: String,
      version: String,
      dataPath: String,
      dvRows: Long,
      appendPath: Option[String])

  /** The measure catalog of a defining aggregate: structural key →
    * (rollup kind, summary column). Rejects DISTINCT / FILTER-clause
    * and non-decomposable functions at registration (see [[register]]'s
    * scaladoc for why each would be silently wrong later). */
  private def extractMeasures(
      mvDf: DataFrame): Map[String, (String, String)] = {
    val aggPlan = mvDf.queryExecution.analyzed.collectFirst {
      case a: Aggregate => a
    }.get
    val measures = aggPlan.aggregateExpressions.flatMap {
      case al @ Alias(ae: AggregateExpression, _) =>
        if (ae.isDistinct || ae.filter.nonEmpty)
          throw new IllegalArgumentException(
            s"register: measure '${al.name}' (${ae.sql}) uses DISTINCT " +
              "or FILTER — neither decomposes over partial groups; " +
              "use plain sum/count/min/max (or hll_sketch_agg for " +
              "mergeable distinct counts)")
        val kind = rollupKind(ae.aggregateFunction).getOrElse(
          throw new IllegalArgumentException(
            s"register: measure '${al.name}' (${ae.sql}) does not roll " +
              "up losslessly; use sum/count/min/max"))
        Some(structKey(ae.aggregateFunction) -> (kind, al.name))
      case _ => None // the dim columns
    }
    require(measures.map(_._1).distinct.size == measures.size,
      "register: duplicate measure expressions " +
        s"(${measures.map(_._1).mkString("; ")}) — alias ONE column per " +
        "distinct aggregate expression")
    measures.toMap
  }

  /** Canonical conjuncts + provably-non-null column names of a defining
    * WHERE predicate (see the [[MvDef]] field docs). The conjuncts are
    * read from the OPTIMIZED filter, not the analyzed one: the query
    * side reaches the rewrite rule constant-folded (`x > 5L`, inferred
    * `isnotnull` attached), so an analysis-time canon (`x > CAST(5 AS
    * BIGINT)`) would never match — both sides must go through the same
    * optimizer lens. */
  /** `attr <cmp> literal` (either operand order) normalized to
    * (attr name, op-with-attr-on-the-left, literal); None for anything
    * else — the range-implication machinery only ever reasons about this
    * exact shape, null literals excluded (a null comparison never holds
    * and the optimizer folds the filter away before this runs). */
  private[graft] def rangeOf(
      e: Expression): Option[(String, String, Literal)] = (e match {
    case GreaterThan(a: AttributeReference, l: Literal) =>
      Some((a.name, ">", l))
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
      Some((a.name, ">=", l))
    case LessThan(a: AttributeReference, l: Literal) =>
      Some((a.name, "<", l))
    case LessThanOrEqual(a: AttributeReference, l: Literal) =>
      Some((a.name, "<=", l))
    case EqualTo(a: AttributeReference, l: Literal) =>
      Some((a.name, "=", l))
    case GreaterThan(l: Literal, a: AttributeReference) =>
      Some((a.name, "<", l))
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
      Some((a.name, "<=", l))
    case LessThan(l: Literal, a: AttributeReference) =>
      Some((a.name, ">", l))
    case LessThanOrEqual(l: Literal, a: AttributeReference) =>
      Some((a.name, ">=", l))
    case EqualTo(l: Literal, a: AttributeReference) =>
      Some((a.name, "=", l))
    case _ => None
  }).filter(_._3.value != null)

  private def predInfo(
      filtered: DataFrame,
      where: Option[Column])
      : (Set[String], Set[String], Map[String, (String, String, Literal)]) =
    if (where.isEmpty) (Set.empty, Set.empty, Map.empty)
    else {
      def peelProj(p: LogicalPlan): LogicalPlan = p match {
        case Project(_, c) => peelProj(c)
        case other => other
      }
      val parts = peelProj(filtered.queryExecution.optimizedPlan) match {
        case Filter(cond, _) => conjunctsOf(cond)
        // an always-true predicate folds the Filter away entirely —
        // the summary genuinely covers the full table
        case _: LogicalRelation => Seq.empty
        case p => throw new IllegalArgumentException(
          "register: the defining predicate optimized the base away " +
            s"(always-false WHERE?) —\n$p")
      }
      // only a BARE-attribute operand is null-rejected by a comparison:
      // `x > coalesce(y, 0)` drops null-x rows, but `coalesce(x, 10) > 5`
      // KEEPS them — harvesting every reference would wrongly consume an
      // explicit `x IS NOT NULL` the summary cannot honor
      val notNullable = parts.flatMap {
        case cmp: BinaryComparison if !cmp.isInstanceOf[EqualNullSafe] =>
          Seq(cmp.left, cmp.right).collect {
            case a: AttributeReference => a.name
          }
        case in: In => in.value match {
          case a: AttributeReference => Seq(a.name)
          case _ => Seq.empty
        }
        case in: InSet => in.child match {
          case a: AttributeReference => Seq(a.name)
          case _ => Seq.empty
        }
        case _ => Seq.empty
      }.toSet
      // a defining `isnotnull(c)` conjunct that is IMPLIED by another
      // recorded conjunct (c ∈ notNullable — a null-intolerant
      // comparison already rejects null c) is REDUNDANT: it adds no
      // rows to the summary, and requiring the query to restate it
      // would spuriously decline null-intolerant query shapes the
      // optimizer does not decorate with an inferred isnotnull (an
      // IN-list filter, for one). An isnotnull over a column NOTHING
      // else constrains (the user's own `WHERE c IS NOT NULL`) is
      // load-bearing and stays.
      val kept = parts.filterNot {
        case IsNotNull(a: AttributeReference) => notNullable(a.name)
        case _ => false
      }
      // inequality conjuncts additionally record their parsed range so
      // the query side can satisfy them BY IMPLICATION (equality stays
      // exact-match-only: an implying equality is already an exact canon)
      val ranges = kept.flatMap { p =>
        rangeOf(p).filter(_._2 != "=").map(canon(p) -> _)
      }.toMap
      (kept.map(canon).toSet, notNullable, ranges)
    }

  /** Define + materialize a summary over `base` and register it for
    * rewrite. `aggCols` must be ALIASED aggregate columns (sum/count/
    * min/max, plain — DISTINCT and FILTER-clause forms do not decompose
    * over partial groups and the query-side guard would mis-match them
    * against the plain call); anything else is rejected here, at
    * registration, rather than silently never matching (or worse,
    * silently wrong-matching) at query time. `where` defines a PARTIAL
    * summary: only base rows satisfying it are aggregated, and queries
    * rewrite only when their own filters restate it exactly.
    * Synchronized: two interleaved registrations must not re-enable the
    * rewrite mid-materialization (see [[withDisabled]]). */
  def register(
      spark: SparkSession,
      name: String,
      base: DataFrame,
      dims: Seq[String],
      aggCols: Seq[Column],
      mvPath: String,
      epoch: Int = 0,
      where: Option[Column] = None): MvDef = synchronized {
    require(!base.queryExecution.analyzed.exists(_.isInstanceOf[Filter]),
      "register: base must be the unfiltered scan — define a partial " +
        "summary via the `where` parameter so the predicate is tracked " +
        "for query matching and refresh")
    val baseLeaf = leafRelation(base.queryExecution.analyzed).getOrElse(
      throw new IllegalArgumentException(
        "register: base must be a single file-relation scan"))
    val b = materializeSummary(spark, base, dims, aggCols, mvPath, where)
    val meta = fileMeta(baseLeaf)
    val d = MvDef(name, rootsOf(baseLeaf), meta, fingerprint(meta),
      dims.toSet, dims, aggCols, b.measures, b.predConjuncts,
      b.predNotNullable, where, mvPath, b.mvRows, epoch, b.mvRelation,
      predRanges = b.predRanges)
    registry.put(name, d)
    install(spark)
    d
  }

  private final case class BuiltSummary(
      measures: Map[String, (String, String)],
      predConjuncts: Set[String],
      predNotNullable: Set[String],
      predRanges: Map[String, (String, String, Literal)],
      mvRelation: LogicalRelation,
      mvRows: Long)

  /** The one materialization protocol behind BOTH registration anchors
    * ([[register]], [[registerStore]]): write the summary with the
    * rewrite rule OFF (a prior registration for the SAME base is still
    * live, and the summary query matches it by construction — the
    * write would otherwise be rewritten to scan the directory just
    * deleted), extract the measure catalog and predicate info, and
    * read back the relation plus the footer row count (the cost key
    * for cheapest-covering selection). */
  private def materializeSummary(
      spark: SparkSession,
      base: DataFrame,
      dims: Seq[String],
      aggCols: Seq[Column],
      mvPath: String,
      where: Option[Column]): BuiltSummary = {
    require(aggCols.nonEmpty, "register: at least one measure")
    val filtered = where.map(base.filter).getOrElse(base)
    val mvDf = filtered.groupBy(dims.map(base(_)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    Layouts.deleteDir(spark, mvPath)
    Mv.withDisabled {
      mvDf.write.mode(SaveMode.Overwrite).parquet(mvPath)
    }
    val measures = extractMeasures(mvDf)
    val (predConjuncts, predNotNullable, predRanges) =
      predInfo(filtered, where)
    val mvBack = Tables.openParquet(spark, mvPath)
    val mvRel = leafRelation(mvBack.queryExecution.analyzed).get
    val mvRows = Tables.footerRowCount(spark, mvPath)
    BuiltSummary(measures, predConjuncts, predNotNullable, predRanges,
      mvRel, mvRows)
  }

  /** Register a summary over a VERSIONED-STORE table ([[Dml]]'s
    * commit-pointer dir) at its CURRENT version. A plain version (no
    * sidecars) anchors to its data directory like [[register]] — raw
    * scans of that directory rewrite as usual. A version carrying a
    * deletion vector or append sidecar anchors to a sentinel no scan
    * can match (a raw data-directory scan is NOT the logical table
    * there — serving the summary for it would resurrect deleted rows
    * or hide appended ones); the summary then lives for MAINTENANCE:
    * [[refreshIncremental]] reads the store's version composition and
    * folds an insert-only MoR commit at O(new appended rows) instead
    * of taking the O(base) rebuild a raw file diff would force —
    * every sidecar commit changes sidecar FILES, so a file-level delta
    * can never fold them. */
  def registerStore(
      spark: SparkSession,
      name: String,
      storeDir: String,
      dims: Seq[String],
      aggCols: Seq[Column],
      mvPath: String,
      epoch: Int = 0,
      where: Option[Column] = None): MvDef = synchronized {
    val version = Dml.currentVersion(storeDir)
    val base = Dml.readVersion(spark, storeDir, version)
    val b = materializeSummary(spark, base, dims, aggCols, mvPath, where)
    val dataPath = Dml.versionPath(storeDir, version)
    val dvRows = Dml.sidecarRows(spark, storeDir, version, "_dv")
    val appendPath = Some(s"$storeDir/${version}_append")
      .filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
    val appendRows = Dml.sidecarRows(spark, storeDir, version, "_append")
    val plain = dvRows == 0 && appendRows == 0
    val (roots, meta, fp) =
      if (plain)
        leafRelation(Tables.openParquet(spark, dataPath)
            .queryExecution.analyzed) match {
          case Some(leaf) =>
            val m = fileMeta(leaf)
            (rootsOf(leaf), m, fingerprint(m))
          case None => (Set(s"graft-store:$storeDir"),
            Map.empty[String, (Long, Long)], "store:unservable")
        }
      else (Set(s"graft-store:$storeDir"),
        Map.empty[String, (Long, Long)], "store:unservable")
    val d = MvDef(name, roots, meta, fp,
      dims.toSet, dims, aggCols, b.measures, b.predConjuncts,
      b.predNotNullable, where, mvPath, b.mvRows, epoch, b.mvRelation,
      storeState = Some(StoreState(
        storeDir, version, dataPath, dvRows, appendPath)),
      predRanges = b.predRanges)
    registry.put(name, d)
    install(spark)
    d
  }

  /** INCREMENTAL MV MAINTENANCE for an APPEND-ONLY base (the
    * insert-stream IVM every production MV engine ships first): list
    * the base, aggregate ONLY the files added since the last
    * registration/refresh, and fold the partial summary into the
    * existing one measure-by-measure (sum+=sum, count+=count via its
    * sum column, min/max fold) — O(delta + MV size) work instead of
    * O(base). At 100 TB with a daily 0.1% append that is the
    * difference between a minutes refresh and re-scanning the fact.
    * Every registered measure is decomposable by construction
    * ([[register]] rejects the rest), so the fold is exact.
    *
    * Append-only is the contract: a REMOVED or rewritten base file
    * invalidates partial folds (a min can't un-fold), so that case
    * REBUILDS from scratch — correct at full cost, never silently
    * wrong. The refreshed summary lands at a NEW versioned path
    * (`<mvPath>_r<epoch>`) and the registry swaps atomically, so an
    * in-flight rewritten plan keeps reading the old (still valid for
    * its captured listing) files. Returns (delta files aggregated,
    * total base files now; -1 delta signals the rebuild path). */
  def refreshIncremental(
      spark: SparkSession, baseRoots: Set[String]): (Int, Int) = {
    val cands = candidatesFor(baseRoots)
    require(cands.size == 1,
      if (cands.isEmpty) s"refreshIncremental: no MV registered for $baseRoots"
      else "refreshIncremental: several MVs share this base " +
        s"(${cands.map(_.name).mkString(", ")}) — refresh by name")
    refreshOne(spark, cands.head)
  }

  /** Synchronized on the same monitor as register/registerStore: two
    * concurrent refreshes of one MV would otherwise read the same MvDef,
    * both target the same `_r(epoch+1)` path, and race deleteDir against
    * the other's overwrite — a corrupt summary could then be registered
    * and served. The definition is RE-READ under the lock: the caller's
    * snapshot may predate a refresh that just swapped the registry, and
    * folding a delta computed against the old listing into the old path
    * would double-count it (the second entrant now sees the refreshed
    * def and folds nothing). */
  private def refreshOne(spark: SparkSession, d0: MvDef): (Int, Int) =
    synchronized {
      val d = byName(d0.name).getOrElse(throw new IllegalArgumentException(
        s"Materialized view: ${d0.name} does not exist"))
      if (d.storeState.isDefined) refreshStore(spark, d)
      else refreshFiles(spark, d)
    }

  private def refreshFiles(spark: SparkSession, d: MvDef): (Int, Int) = {
    val baseNow = Tables.openParquet(spark, d.baseRoots.toSeq: _*)
    val leaf = leafRelation(baseNow.queryExecution.analyzed).get
    val nowMeta = fileMeta(leaf)
    // a path that vanished OR changed content in place ((len, mtime)
    // differs) invalidates partial folds — both take the rebuild path
    val removedOrChanged = d.baseMeta.exists { case (p, m) =>
      !nowMeta.get(p).contains(m)
    }
    if (removedOrChanged) {
      // compaction/delete rewrote history — partial folds can't track
      // that; rebuild the summary from the current base. The epoch
      // carries forward: a rebuild registered at epoch 0 would compute
      // its NEXT refresh path equal to its own live path and delete
      // the summary out from under the fold's read
      val rebuiltPath =
        s"${d.mvPath.replaceAll("_r\\d+$", "")}_r${d.epoch + 1}"
      register(spark, d.name, baseNow, d.dimCols, d.aggCols,
        rebuiltPath, epoch = d.epoch + 1, where = d.whereCol)
      gcEpochs(spark, rebuiltPath, keep = Set(rebuiltPath, d.mvPath))
      return (-1, nowMeta.size)
    }
    val delta = (nowMeta.keySet -- d.baseMeta.keySet).toSeq
    if (delta.isEmpty) return (0, nowMeta.size)
    val deltaRaw = Tables.openParquet(spark, delta: _*)
    // a partial MV aggregates only predicate rows — the delta must too
    val deltaDf = d.whereCol.map(deltaRaw.filter).getOrElse(deltaRaw)
    val deltaAgg = deltaDf.groupBy(d.dimCols.map(deltaRaw(_)): _*)
      .agg(d.aggCols.head, d.aggCols.tail: _*)
    val (newPath, newRel, newRows) = foldDelta(spark, d, deltaAgg)
    // replace, not put: a definition dropped since this refresh began
    // must never be resurrected by the final registry write (drop and
    // refresh serialize on the shared monitor, so this is defense in
    // depth for any future unsynchronized entry point)
    val prev = registry.replace(d.name, d.copy(
      baseMeta = nowMeta, baseFilesFp = fingerprint(nowMeta),
      mvPath = newPath, mvRows = newRows,
      epoch = d.epoch + 1, mvRelation = newRel))
    if (prev == null) {
      Layouts.deleteDir(spark, newPath)
      return (0, nowMeta.size)
    }
    gcEpochs(spark, newPath, keep = Set(newPath, d.mvPath))
    (delta.size, nowMeta.size)
  }

  /** The measure-by-measure fold of a partial (delta) summary into the
    * live one, written to the next versioned path: sum += sum, count
    * += count (via its sum column), min/max fold, hll union — exact
    * because every registered measure is decomposable by construction.
    * Shared by the file-delta and store-composition refresh paths. */
  private def foldDelta(
      spark: SparkSession, d: MvDef, deltaAgg: DataFrame)
      : (String, LogicalRelation, Long) = {
    val oldMv = Tables.openParquet(spark, d.mvPath)
    import org.apache.spark.sql.functions.{col, hll_union_agg, max => fmax, min => fmin, sum => fsum}
    val folds = d.measures.values.toSeq.map { case (kind, name) =>
      val t = oldMv.schema(name).dataType
      (kind match {
        case "sum" => fsum(col(name))
        case "min" => fmin(col(name))
        case "max" => fmax(col(name))
        case "hll" => hll_union_agg(col(name))
      }).cast(t).as(name) // sum widens; fold back to the MV type
    }
    val folded = oldMv.unionByName(deltaAgg)
      .groupBy(d.dimCols.map(col): _*)
      .agg(folds.head, folds.tail: _*)
      // column ORDER must match the MV relation (keep the summary
      // schema stable across refresh epochs)
      .select(oldMv.columns.map(col).toIndexedSeq: _*)
    val newPath = s"${d.mvPath.replaceAll("_r\\d+$", "")}_r${d.epoch + 1}"
    Layouts.deleteDir(spark, newPath)
    Mv.withDisabled {
      folded.write.mode(SaveMode.Overwrite).parquet(newPath)
    }
    val newBack = Tables.openParquet(spark, newPath)
    val newRel = leafRelation(newBack.queryExecution.analyzed).get
    val newRows = Tables.footerRowCount(spark, newPath)
    (newPath, newRel, newRows)
  }

  /** Refresh an MV anchored to a versioned-store table by reading the
    * store's VERSION COMPOSITION (data − vector + append) instead of
    * raw file listings — a sidecar commit rewrites sidecar files every
    * time, so a file diff would force the O(base) rebuild forever.
    * Classification:
    *  - same version, same composition → no-op (0, rows);
    *  - data directory swapped (optimize / plain snapshot / rewrite
    *    DML) or the deletion vector GREW (base rows deleted/updated —
    *    a min can't un-fold) → REBUILD from the current version;
    *  - append-origin rows vanished or changed (an update/delete hit
    *    the append sidecar — those rewrite the append copy without
    *    touching the vector) → REBUILD;
    *  - otherwise the commit was PURE INSERT: fold the appended-row
    *    multiset delta (new append ∖ old append) at O(append) cost.
    * Returns (-1, total logical rows) on rebuild, (folded delta rows,
    * total logical rows) otherwise. */
  private def refreshStore(spark: SparkSession, d: MvDef): (Int, Int) = {
    val ss = d.storeState.get
    val dir = ss.storeDir
    val cur = Dml.currentVersion(dir)
    val curData = Dml.versionPath(dir, cur)
    val curDvRows = Dml.sidecarRows(spark, dir, cur, "_dv")
    val curAppendP = Some(s"$dir/${cur}_append")
      .filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
    def totalRows: Int = (Tables.footerRowCount(spark, curData) - curDvRows +
      Dml.sidecarRows(spark, dir, cur, "_append")).toInt
    def rebuild(): (Int, Int) = {
      val rebuiltPath =
        s"${d.mvPath.replaceAll("_r\\d+$", "")}_r${d.epoch + 1}"
      registerStore(spark, d.name, dir, d.dimCols, d.aggCols,
        rebuiltPath, epoch = d.epoch + 1, where = d.whereCol)
      gcEpochs(spark, rebuiltPath, keep = Set(rebuiltPath, d.mvPath))
      (-1, totalRows)
    }
    if (cur == ss.version) return (0, totalRows)
    if (curData != ss.dataPath || curDvRows != ss.dvRows) return rebuild()
    // data untouched, vector unchanged (it only ever grows — equal
    // count means equal content): classify the append transition.
    // Versions are immutable, so the REGISTERED version's append dir
    // is still on disk to diff against.
    val oldAppend = ss.appendPath.map(Tables.openParquet(spark, _))
    val newAppend = curAppendP.map(Tables.openParquet(spark, _))
    (oldAppend, newAppend) match {
      case (Some(o), None) =>
        if (Mv.withDisabled { o.isEmpty }) anchorOnly(spark, d, cur,
          curData, curDvRows, curAppendP, totalRows)
        else rebuild() // append rows vanished wholesale
      case (o, Some(n)) =>
        val old = o.getOrElse(n.limit(0))
        val removed = Mv.withDisabled { !old.exceptAll(n).isEmpty }
        if (removed) return rebuild() // an append-origin row changed
        val delta = n.exceptAll(old)
        val deltaRows = Mv.withDisabled { delta.count() }
        if (deltaRows == 0)
          return anchorOnly(spark, d, cur, curData, curDvRows,
            curAppendP, totalRows)
        val deltaF = d.whereCol.map(delta.filter).getOrElse(delta)
        val deltaAgg = deltaF.groupBy(d.dimCols.map(delta(_)): _*)
          .agg(d.aggCols.head, d.aggCols.tail: _*)
        val (newPath, newRel, newRows) = foldDelta(spark, d, deltaAgg)
        // replace, not put — never resurrect a dropped name (see
        // refreshFiles)
        val prev = registry.replace(d.name, d.copy(
          // sidecars now exist: raw data-dir scans are no longer the
          // logical table, so the serve anchor flips to the sentinel
          baseRoots = Set(s"graft-store:$dir"),
          baseMeta = Map.empty, baseFilesFp = "store:unservable",
          mvPath = newPath, mvRows = newRows,
          epoch = d.epoch + 1, mvRelation = newRel,
          storeState = Some(StoreState(
            dir, cur, curData, curDvRows, curAppendP))))
        if (prev == null) {
          Layouts.deleteDir(spark, newPath)
          return (0, totalRows)
        }
        gcEpochs(spark, newPath, keep = Set(newPath, d.mvPath))
        (deltaRows.toInt, totalRows)
      case (None, None) =>
        anchorOnly(spark, d, cur, curData, curDvRows, curAppendP,
          totalRows)
    }
  }

  /** A commit that changed nothing the summary reflects (pointer moved,
    * composition identical): advance the anchor without touching the
    * materialization. */
  private def anchorOnly(
      spark: SparkSession, d: MvDef, cur: String, curData: String,
      curDvRows: Long, curAppendP: Option[String],
      totalRows: Int): (Int, Int) = {
    // replace, not put — never resurrect a dropped name (see refreshFiles)
    registry.replace(d.name, d.copy(storeState = Some(StoreState(
      d.storeState.get.storeDir, cur, curData, curDvRows, curAppendP))))
    (0, totalRows)
  }

  /** The registered MV named `name`, if any (names are unique; a
    * re-registration under a name replaces that definition only). */
  def byName(name: String): Option[MvDef] = Option(registry.get(name))

  /** [[refreshIncremental]] by MV name — the SQL statement surface's
    * lookup form, and the only unambiguous one when several summaries
    * share a base. */
  def refreshIncremental(spark: SparkSession, name: String): (Int, Int) =
    refreshOne(spark,
      byName(name).getOrElse(throw new IllegalArgumentException(
        s"Materialized view: $name does not exist")))

  /** Unregister `name` and delete its materialization — INCLUDING every
    * superseded `_rN` epoch sibling, which the live-path-only delete
    * used to leak. Returns false when no such MV exists (the IF EXISTS
    * contract). Synchronized on the same monitor as register/refreshOne:
    * an unsynchronized drop during an in-flight refresh would let the
    * refresh's final registry.put resurrect the dropped definition, and
    * this gcEpochs(keep = empty) could delete epochs the fold is still
    * reading — serializing makes drop-then-refresh fail loudly on the
    * byName re-read and refresh-then-drop delete only settled state. */
  def drop(spark: SparkSession, name: String): Boolean = synchronized {
    Option(registry.remove(name)) match {
      case Some(d) =>
        gcEpochs(spark, d.mvPath, keep = Set.empty)
        true
      case None => false
    }
  }

  /** Delete superseded epoch directories of `anyEpochPath`'s family
    * (`<base>`, `<base>_r1`, `<base>_r2`, …) except `keep`. Refresh
    * passes {new live path, the just-superseded one} — an in-flight plan
    * optimized against the PREVIOUS epoch may still be reading its
    * files, so exactly one stale epoch survives per refresh and a
    * frequently refreshed MV holds at most two summary copies instead
    * of one per refresh. drop() passes an empty keep: everything goes.
    * Canonical-path comparison, name-anchored match — a sibling MV
    * whose directory name merely shares a prefix is untouched. The
    * name-anchored family match alone cannot distinguish an UNRELATED
    * registered MV whose directory literally reads `<thisMvDir>_r<n>`
    * (SQL MVs named `rev` and `rev_r2` both land under sqlDmlDir as
    * `mv_rev`/`mv_rev_r2`) from this MV's own superseded epochs, so
    * every OTHER definition's live mvPath is excluded explicitly —
    * ownership by registry scan, not by name inference. */
  private def gcEpochs(
      spark: SparkSession, anyEpochPath: String, keep: Set[String]): Unit = {
    val base = new java.io.File(anyEpochPath.replaceAll("_r\\d+$", ""))
    import scala.jdk.CollectionConverters._
    val live = registry.values.asScala
      .map(d => new java.io.File(d.mvPath).getCanonicalPath).toSet
    val keepCanon =
      keep.map(p => new java.io.File(p).getCanonicalPath) ++ live
    val dir = base.getCanonicalFile.getParentFile
    if (dir != null && dir.isDirectory) {
      val fam = java.util.regex.Pattern.quote(base.getName) + "(_r\\d+)?"
      dir.listFiles().foreach { f =>
        if (f.getName.matches(fam) && !keepCanon(f.getCanonicalPath))
          Layouts.deleteDir(spark, f.getPath)
      }
    }
  }

  /** What [[adviseFor]] returns: the summary definition that WOULD
    * serve a declined aggregate — registrable verbatim via [[register]]
    * (dims, aliased measure expressions) — plus the reason nothing
    * registered covers it today. `predicate` renders the query's
    * filters for the partial-summary alternative: the advice lists
    * filter columns as DIMS (a dim serves ANY literal in that filter
    * position), but when a filter column's cardinality makes a dim
    * untenable, registering `where = predicate` pins this exact query
    * instead. */
  final case class MvAdvice(
      dims: Seq[String],
      measures: Seq[String],
      predicate: Option[String],
      reason: String)

  /** WORKLOAD-DRIVEN MV ADVICE — the inverse of the rewrite's declines:
    * for an aggregate the rule does NOT serve, name the summary
    * (dims/measures/predicate) that would. The registry knows every
    * decline reason; this surfaces the "create this MV" loop every
    * production engine ships (the SQL Server DTA / BigQuery recommender
    * shape, reduced to this rule's rollup kernel). Join trees advise
    * the FACT-side spec: the fact leaf is identified by the measures'
    * references (the rewrite's own fact-measures-only soundness rule),
    * fact-side join keys become dims, and dim-side references impose
    * nothing (they stay a live join at serve time). Returns None when
    * the plan ALREADY reads a registered summary (nothing to advise) or
    * the shape is out of the rewrite's reach entirely (no aggregate,
    * ambiguous fact, FILTER-clause / dim-side / non-decomposable
    * measures — no summary this rule could use exists, so advising one
    * would mislead). Best-effort and read-only: never runs a job,
    * never registers. */
  def adviseFor(df: DataFrame): Option[MvAdvice] =
    adviseCore(df).map(_._2)

  /** [[adviseFor]] plus the advised base's scan roots — the grouping key
    * [[adviseWorkload]] merges on. */
  private def adviseCore(df: DataFrame): Option[(Set[String], MvAdvice)] = {
    import scala.jdk.CollectionConverters._
    val plan = df.queryExecution.optimizedPlan
    val mvRootSets =
      registry.values.asScala.map(d => rootsOf(d.mvRelation)).toSet
    val leafRels = plan.collectLeaves()
      .collect { case l: LogicalRelation => l }
    if (leafRels.exists(l => mvRootSets.contains(rootsOf(l)))) return None
    val agg = plan.collectFirst { case a: Aggregate => a }
      .getOrElse(return None)
    // walk Filter/Project/Join scaffolding: (filter conjuncts, join
    // conditions, leaves) — best-effort, bare-attribute Projects only
    def walk(p: LogicalPlan): Option[
        (Seq[Expression], Seq[Expression], Seq[LogicalRelation])] =
      p match {
        case Filter(c, ch) =>
          walk(ch).map { case (f, j, l) => (conjunctsOf(c) ++ f, j, l) }
        case Project(cols, ch)
            if cols.forall(_.isInstanceOf[AttributeReference]) =>
          walk(ch)
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          for {
            (lf, lj, ll) <- walk(j.left)
            (rf, rj, rl) <- walk(j.right)
          } yield (lf ++ rf,
            j.condition.toSeq.flatMap(conjunctsOf) ++ lj ++ rj, ll ++ rl)
        case l: LogicalRelation => Some((Nil, Nil, Seq(l)))
        case _ => None
      }
    val (filters, joinConds, walkLeaves) =
      walk(agg.child).getOrElse(return None)
    val aes = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    if (aes.isEmpty || walkLeaves.isEmpty) return None
    // the FACT leaf: single-relation queries have it by construction; in
    // a join tree the measures' references identify it (measures must
    // aggregate fact columns — the rewrite's own soundness rule), so the
    // unique leaf the non-distinct aggregates read is the one to
    // summarize. Ambiguous or absent measure references decline.
    val measureRefs = aes.filterNot(_.isDistinct)
      .flatMap(_.references.map(_.exprId)).toSet
    val leaf =
      if (walkLeaves.size == 1) walkLeaves.head
      else walkLeaves.filter(
        _.output.exists(a => measureRefs(a.exprId))) match {
        case Seq(one) => one
        case _ => return None
      }
    val factIds = leaf.output.map(_.exprId).toSet
    // dims of the fact-side spec: every FACT column the grouping, a
    // filter, or a join condition references — a dim serves any grouping
    // expression over it, any filter literal, and keys the join; the
    // dim-side references impose nothing on the summary (they stay a
    // live join at serve time)
    val dimNames = (agg.groupingExpressions ++ filters ++ joinConds)
      .flatMap(_.references).filter(a => factIds(a.exprId))
      .map(_.name).distinct
    var distinctDims = Seq.empty[String]
    // (structural key, rendered text) per advised measure — LinkedHashSet
    // keeps declaration order and drops duplicates (two avgs over one
    // child advise the pair once)
    val measures =
      scala.collection.mutable.LinkedHashSet[(String, String)]()
    aes.foreach { ae =>
      if (ae.filter.nonEmpty) return None // FILTER-clause: unregistrable
      val af = ae.aggregateFunction
      if (ae.isDistinct) af match {
        // count(DISTINCT x) folds when fact-side x is a dim — advise the
        // dim; dim-side x imposes nothing on the summary
        case c: Count =>
          distinctDims ++= c.children.flatMap(_.references)
            .filter(a => factIds(a.exprId)).map(_.name)
        case _ => return None
      } else {
        // a measure over dim-side (or mixed) columns is join-
        // multiplicity-sensitive — NO summary this rule could use
        // serves it, so advising one would mislead
        if (!ae.references.forall(a => factIds(a.exprId))) return None
        af match {
          case _: Sum | _: Count | _: Min | _: Max =>
            measures += structKey(af) -> canon(af)
          case av: Average => // the sum/count measure pair re-derives avg
            measures += structKey(Sum(av.child)) -> canon(Sum(av.child))
            measures += structKey(Count(av.child)) ->
              canon(Count(av.child))
          case hpp: HyperLogLogPlusPlus => // sketch measure serves the est
            val h = new HllSketchAgg(hpp.child)
            measures += structKey(h) -> canon(h)
          case h: HllSketchAgg =>
            measures += structKey(h) -> canon(h)
          case _ => return None
        }
      }
    }
    val dims = (dimNames ++ distinctDims).distinct
    if (dims.isEmpty && agg.groupingExpressions.nonEmpty) return None
    if (measures.isEmpty) return None
    // predicate: only the fact-referencing conjuncts — dim-side filters
    // stay live at serve time and constrain nothing here. Bare
    // isnotnull(attr) conjuncts are dropped: the optimizer infers one
    // beside every pushed comparison/join key, the attribute is already
    // advised as a dim (which serves any null-handling), and rendering
    // optimizer noise as "the predicate to pin" would mislead.
    val factFilters = filters.filter {
      case IsNotNull(_: AttributeReference) => false
      case f => f.references.nonEmpty &&
        f.references.forall(a => factIds(a.exprId))
    }
    val predicate = Some(factFilters).filter(_.nonEmpty)
      .map(_.map(canon).mkString(" AND "))
    val cands = candidatesFor(rootsOf(leaf))
    val reason =
      if (cands.isEmpty) "no summary is registered over this base"
      else {
        val c = cands.head // the cheapest candidate — what the rule tried
        val nonDims = dims.filterNot(c.dims)
        val missMeas = measures.toSeq.collect {
          case (k, t) if !c.measures.contains(k) => t
        }
        val parts = Seq(
          if (nonDims.nonEmpty)
            Some(s"${c.name}: ${nonDims.mkString(", ")} not registered " +
              "as dims")
          else None,
          if (missMeas.nonEmpty)
            Some(s"${c.name}: ${missMeas.mkString("; ")} not registered " +
              "as measures")
          else None,
          if (c.predConjuncts.nonEmpty)
            Some(s"${c.name} is a partial summary whose defining " +
              "predicate the query does not restate")
          else None).flatten
        if (parts.isEmpty)
          s"${c.name} covers the shape structurally — the decline is " +
            "environmental (stale base fingerprint, or a non-bare-" +
            "column corner); probe the optimized plan"
        else parts.mkString("; ")
      }
    Some((rootsOf(leaf),
      MvAdvice(dims, measures.toSeq.map(_._2), predicate, reason)))
  }

  /** One merged advice for a group of workload queries sharing a base:
    * the single summary that serves every query in `serves` (indices
    * into the workload). */
  final case class WorkloadAdvice(
      dims: Seq[String],
      measures: Seq[String],
      predicate: Option[String],
      serves: Seq[Int],
      base: Seq[String])

  /** Workload-level advice — the recommender's "merge candidate
    * summaries" step over this rule's rollup kernel: run [[adviseFor]]
    * across the workload, group advised specs by base relation, and
    * merge each group into ONE registrable summary. Dims and measures
    * UNION (more dims make the summary finer-grained but still serve
    * every coarser grouping over a subset; extra measures cost width,
    * not rows); the predicate survives only when every query in the
    * group advises the SAME one — otherwise the merged summary is
    * full-table, which stays sound because each query's filter columns
    * are already advised as dims, so its filter applies on summary rows
    * as the usual dim residual. Queries the rewrite already serves, or
    * whose shape no summary could serve, contribute nothing. Returned
    * most-queries-served first. Read-only, never registers. */
  def adviseWorkload(workload: Seq[DataFrame]): Seq[WorkloadAdvice] = {
    val advised = workload.zipWithIndex.flatMap { case (df, i) =>
      adviseCore(df).map { case (roots, a) => (roots, i, a) }
    }
    advised.groupBy(_._1).toSeq.map { case (roots, group) =>
      val preds = group.map(_._3.predicate).distinct
      WorkloadAdvice(
        dims = group.flatMap(_._3.dims).distinct,
        measures = group.flatMap(_._3.measures).distinct,
        predicate = if (preds.size == 1) preds.head else None,
        serves = group.map(_._2),
        base = roots.toSeq.sorted)
    }.sortBy(w => (-w.serves.size, w.serves.headOption.getOrElse(0)))
  }

  /** One SHOW MATERIALIZED VIEWS row. `status` is "fresh" when serving
    * is possible without a refresh, "stale" otherwise. */
  final case class MvStatus(
      name: String,
      base: String,
      dims: String,
      measures: String,
      predicate: Option[String],
      summary_rows: Long,
      epoch: Int,
      status: String)

  /** Registry readout behind SHOW MATERIALIZED VIEWS — one row per
    * registered summary, name-sorted. Freshness is METADATA-ONLY (never
    * scans data, never refreshes): a store-backed summary is fresh iff
    * the store's version pointer has not moved since registration (a
    * moved-but-composition-identical commit reads "stale" here — the
    * conservative direction for a status display; the rewrite-time
    * classifier still serves it); a file-backed summary re-lists its
    * base roots and compares the (len, mtime) fingerprint the rewrite
    * itself uses. A base that can no longer be listed reads "stale". */
  def status(spark: SparkSession): Seq[MvStatus] = {
    import scala.jdk.CollectionConverters._
    registry.values.asScala.toSeq.sortBy(_.name).map { d =>
      val fresh = d.storeState match {
        case Some(st) => Dml.currentVersion(st.storeDir) == st.version
        case None =>
          try {
            val cur = Tables.openParquet(spark, d.baseRoots.toSeq: _*)
              .queryExecution.analyzed.collectLeaves()
              .collectFirst { case l: LogicalRelation => l }
            cur.exists(fingerprintOf(_) == d.baseFilesFp)
          } catch { case _: Exception => false }
      }
      MvStatus(d.name,
        d.baseRoots.toSeq.sorted.mkString(","),
        d.dimCols.mkString(","),
        d.measures.toSeq.sortBy(_._1)
          .map { case (k, (kind, col)) => s"$col=$kind($k)" }
          .mkString("; "),
        Some(d.predConjuncts.toSeq.sorted.mkString(" AND "))
          .filter(_.nonEmpty),
        d.mvRows, d.epoch, if (fresh) "fresh" else "stale")
    }
  }

  /** Idempotently add [[MvRewrite]] to the session optimizer's
    * user-rule batch, ahead of [[SmallSideBroadcast]]: the broadcast
    * sizes the joins the rewrite leaves. */
  def install(spark: SparkSession): Unit = {
    val exp = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(MvRewrite)) {
      val (before, after) =
        exp.extraOptimizations.span(_ != SmallSideBroadcast)
      exp.extraOptimizations = (before :+ MvRewrite) ++ after
    }
  }

  /** The optimizer rule. Matches registered (base, shape) pairs and
    * swaps the scan; declines everything else untouched. Two shapes
    * rewrite: the single-relation rollup (Aggregate over Filter/Project
    * over the base scan) and the STAR-JOIN rollup (Aggregate over
    * fact ⋈ dim where the fact side is the base and every fact-side
    * reference in the join is an MV dimension) — the most common 100 TB
    * dashboard shape. When several registered summaries cover a query,
    * the smallest one (by row count) serves. */
  object MvRewrite extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      if (rewriteOff || registry.isEmpty) plan
      else plan.transformDown {
        case agg: Aggregate =>
          tryRewrite(agg).orElse(tryRewriteJoin(agg)).getOrElse(agg)
      }

    /** Peel pruning Projects / Filters down to the single scan leaf,
      * collecting filter CONJUNCTS and a substitution map for aliased
      * projections. The optimizer's PullOutGroupingExpressions rewrites
      * `GROUP BY f(x)` into `Aggregate(_groupingexpression) over
      * Project(f(x) AS _groupingexpression, …)` BEFORE user rules run,
      * so grouping-by-expression queries always reach this rule in the
      * pulled-out shape — the aliases are recorded (deterministic,
      * subquery-free ones only) and [[inlineSubst]] folds them back
      * into the grouping/result expressions for the dim checks. Any
      * other operator declines. */
    private def unwrap(p: LogicalPlan)
        : Option[(Seq[Expression], LogicalRelation,
            Map[ExprId, Expression])] = p match {
      case Filter(cond, c) =>
        unwrap(c).map { case (fs, leaf, s) =>
          (conjunctsOf(cond) ++ fs, leaf, s)
        }
      case Project(cols, c) if cols.forall {
          case _: AttributeReference => true
          case Alias(e, _) => e.deterministic &&
            !e.exists(_.isInstanceOf[PlanExpression[_]])
          case _ => false
        } =>
        unwrap(c).map { case (fs, leaf, s) =>
          val add = cols.collect { case al @ Alias(e, _) =>
            al.exprId -> e
          }
          (fs, leaf, s ++ add)
        }
      case l: LogicalRelation => Some((Seq.empty, l, Map.empty))
      case _ => None
    }

    /** Replace references to peeled Project aliases by their defining
      * expressions, to fixpoint (aliases can chain across Projects). */
    private def inlineSubst(
        e: Expression, subst: Map[ExprId, Expression]): Expression =
      if (subst.isEmpty) e
      else {
        var cur = e
        var rounds = 0
        var changed = true
        while (changed && rounds < 10) {
          val next = cur.transformUp {
            case a: AttributeReference if subst.contains(a.exprId) =>
              subst(a.exprId)
          }
          changed = !next.fastEquals(cur)
          cur = next
          rounds += 1
        }
        cur
      }

    /** Partial-MV matching: every conjunct of the MV's defining WHERE
      * must appear (canonically) among the query's conjuncts — the
      * summary only holds predicate rows, so a query NOT restating the
      * predicate asks for rows the MV lost. Covered conjuncts are
      * CONSUMED (the summary already applied them; they may reference
      * non-dim columns the summary no longer carries); the leftover
      * conjuncts are returned for the usual dim-only filter check.
      * None = not covered = decline. */
    /** `eligible` gates which conjuncts may satisfy/consume the MV
      * predicate: canon strips qualifiers, so in the STAR-JOIN path a
      * DIM-side column sharing the predicate column's NAME would both
      * falsely satisfy coverage (the fact rows were never restricted)
      * and be silently dropped from the rewritten plan — the join path
      * passes `references ⊆ fact` and ineligible look-alikes stay in
      * the leftovers, where the usual checks keep them applied. */
    /** Does query conjunct `q` IMPLY the MV range `r = (attr, op, lit)`
      * — i.e. is q's row set a subset of r's? Only for the normalized
      * `attr <cmp> literal` shape over the SAME attribute with literals
      * of the SAME type (the optimizer constant-folds casts before this
      * rule, so matching predicates reach it type-aligned); anything
      * else answers false and coverage falls back to exact canon match.
      * The case table is the interval-containment truth table: with
      * cmp = sign(qLit − mvLit), query `x > q` ⊆ MV `x > c` iff q ≥ c,
      * `x ≥ q` ⊆ `x > c` iff q > c (q = c admits x = c, which the MV
      * excludes), and symmetrically for </<=; an equality `x = q`
      * implies any range containing q. */
    private def implies(
        q: Expression, r: (String, String, Literal)): Boolean = q match {
      // IN-list: every element inside the range ⇒ the whole disjunction
      // is (the optimizer rewrites single-element IN to equality, which
      // rangeOf below already covers; >10 elements become InSet)
      case In(a: AttributeReference, es) if a.name == r._1 &&
          es.forall(_.isInstanceOf[Literal]) =>
        es.forall(e => implies(EqualTo(a, e.asInstanceOf[Literal]), r))
      case InSet(a: AttributeReference, hset) if a.name == r._1 =>
        hset.forall(v =>
          v != null && pointImplies(v, a.dataType, r))
      case _ =>
        rangeOf(q).exists { case (qa, qop, ql) =>
          qa == r._1 && ql.dataType == r._3.dataType && {
            val cmp =
              try org.apache.spark.sql.catalyst.util.TypeUtils
                .getInterpretedOrdering(r._3.dataType)
                .compare(ql.value, r._3.value)
              catch { case _: Exception => return false } // non-orderable
            (r._2, qop) match {
              case (">", ">") => cmp >= 0
              case (">", ">=") => cmp > 0
              case (">", "=") => cmp > 0
              case (">=", ">") => cmp >= 0
              case (">=", ">=") => cmp >= 0
              case (">=", "=") => cmp >= 0
              case ("<", "<") => cmp <= 0
              case ("<", "<=") => cmp < 0
              case ("<", "=") => cmp < 0
              case ("<=", "<") => cmp <= 0
              case ("<=", "<=") => cmp <= 0
              case ("<=", "=") => cmp <= 0
              case _ => false
            }
          }
        }
    }

    /** Is the point `v` (a RAW value of `dt`, the InSet encoding) inside
      * the MV range? The "=" rows of the implication table. */
    private def pointImplies(
        v: Any, dt: org.apache.spark.sql.types.DataType,
        r: (String, String, Literal)): Boolean =
      dt == r._3.dataType && {
        val cmp =
          try org.apache.spark.sql.catalyst.util.TypeUtils
            .getInterpretedOrdering(dt).compare(v, r._3.value)
          catch { case _: Exception => return false }
        r._2 match {
          case ">" => cmp > 0
          case ">=" => cmp >= 0
          case "<" => cmp < 0
          case "<=" => cmp <= 0
          case _ => false
        }
      }

    private def consumePredicate(
        conjs: Seq[Expression], mv: MvDef,
        eligible: Expression => Boolean = _ => true)
        : Option[Seq[Expression]] =
      if (mv.predConjuncts.isEmpty) Some(conjs)
      else {
        val tagged = conjs.map(c => (c, canon(c), eligible(c)))
        // every defining conjunct must be satisfied: by exact canon
        // match (consumed below — the summary already applied it) or by
        // IMPLICATION from a query range over the same attribute (the
        // implying conjunct is NOT consumed: it stays a residual the
        // summary must re-apply, which the downstream dim-only check
        // only allows when the attribute is a dim the summary carries)
        if (!mv.predConjuncts.forall(n =>
            tagged.exists(t => t._3 && (t._2 == n ||
              mv.predRanges.get(n).exists(r => implies(t._1, r)))))) None
        else Some(tagged.filterNot { case (c, cn, el) =>
          el && (mv.predConjuncts(cn) || (c match {
            // the optimizer infers `isnotnull(c)` beside every pushed
            // comparison; implied by the consumed predicate, so consume
            case IsNotNull(a: AttributeReference) =>
              mv.predNotNullable(a.name)
            case _ => false
          }))
        }.map(_._1))
      }

    private def okFilter(f: Expression): Boolean =
      f.deterministic && !f.exists(_.isInstanceOf[PlanExpression[_]])

    /** The freshness gate, with optional SELF-HEALING: on a fingerprint
      * mismatch with spark.graft.mv.autoRefresh=true (default false),
      * run ONE [[refreshIncremental]] — O(delta) for the append-only
      * case, a rebuild otherwise — at the first stale probe and re-check
      * against the refreshed definition. Without the flag (or when the
      * refresh fails, or when the PROBING plan's own listing is itself
      * older than the refreshed base), decline toward the base scan —
      * sound but summary-less after every append, which is exactly the
      * silent speedup loss the flag exists to close. Opt-in because the
      * refresh runs Spark jobs at PLAN time from inside the optimizer;
      * concurrent stale probes serialize on refreshOne's lock and the
      * second entrant folds an empty delta. Returns the definition to
      * rewrite against (the refreshed one after self-healing). */
    private def freshDef(
        leaf: LogicalRelation, mv: MvDef): Option[MvDef] =
      if (fingerprintOf(leaf) == mv.baseFilesFp) Some(mv)
      else if (org.apache.spark.sql.internal.SQLConf.get
          .getConfString("spark.graft.mv.autoRefresh", "false")
          .toBoolean) {
        try refreshOne(SparkSession.active, mv)
        catch { case _: Exception => return None }
        byName(mv.name).filter(d => fingerprintOf(leaf) == d.baseFilesFp)
      } else None

    private def tryRewrite(agg: Aggregate): Option[Aggregate] = {
      // GLOBAL aggregates (no GROUP BY) rewrite too — the coarsest
      // single-group rollup over the whole summary. The one semantic
      // gap a grouped query never hits: the global group exists even
      // over ZERO input rows, where count returns 0 but sum-of-partial-
      // counts returns NULL — the Translator coalesces count rollups to
      // 0 exactly in the global case (grouped queries have no empty
      // groups, so their count rollup stays a bare sum).
      unwrap(agg.child).flatMap { case (allConjs, leaf, subst) =>
        // candidates ascend by summary row count — cheapest covering wins
        candidatesFor(rootsOf(leaf)).iterator
          .map(mv => rewriteSingle(agg, allConjs, leaf, subst, mv))
          .collectFirst { case Some(r) => r }
      }
    }

    private def rewriteSingle(
        agg: Aggregate,
        allConjs: Seq[Expression],
        leaf: LogicalRelation,
        subst: Map[ExprId, Expression],
        mv0: MvDef): Option[Aggregate] = {
      val grouping = agg.groupingExpressions.map(inlineSubst(_, subst))
      val conjs = allConjs.map(inlineSubst(_, subst))
      for {
        // freshness (with optional auto-refresh): the query's own scan
        // listing vs the registered one; `mv` is the refreshed def when
        // self-healing fired
        mv <- freshDef(leaf, mv0)
        filters <- consumePredicate(conjs, mv)
        // grouping: bare dim attributes (subsets roll up) OR any
        // deterministic, subquery-free EXPRESSION over dims — grouping
        // by f(dim) partitions the dim groups COARSER (each output
        // group is a union of whole MV groups), and every registered
        // measure folds across group unions, so the time-grain
        // hierarchy (GROUP BY year(order_date) over a daily summary)
        // rolls up
        _ <- if (grouping.forall {
            case a: AttributeReference => mv.dims(a.name)
            case g => okFilter(g) &&
              g.references.forall(a => mv.dims(a.name))
          }) Some(()) else None
        // leftover filters: deterministic, over dim attributes only,
        // and free of subqueries (their inner plans hold bindings the
        // scan swap cannot re-map)
        if filters.forall(f => okFilter(f) &&
          f.references.forall(a => mv.dims(a.name)))
        rewritten <- {
          val rel = mv.mvRelation.newInstance()
          val mvAttr = rel.output.map(a => a.name -> a).toMap
          val factDim = leaf.output
            .filter(a => mv.dims(a.name) && mvAttr.contains(a.name))
            .map(a => a.exprId -> mvAttr(a.name)).toMap
          val tr = new Translator(mv, mvAttr, _ => true, factDim, grouping)
          val newRes = agg.aggregateExpressions.map {
            case a: AttributeReference =>
              tr.rw(inlineSubst(a, subst))
                .map(e => Alias(e, a.name)(exprId = a.exprId))
            case al: Alias =>
              tr.rw(inlineSubst(al.child, subst))
                .map(e => Alias(e, al.name)(exprId = al.exprId))
            case _ => None
          }
          if (newRes.exists(_.isEmpty)) None
          else {
            val newGrouping = grouping.map(g =>
              g.transform {
                case a: AttributeReference => mvAttr(a.name)
              })
            val newChild =
              if (filters.isEmpty) rel
              else Filter(filters.reduce(And).transform {
                case a: AttributeReference => mvAttr(a.name)
              }, rel)
            Some(Aggregate(newGrouping, newRes.map(_.get), newChild))
          }
        }
      } yield rewritten
    }

    // ---- the star-join path ---------------------------------------

    import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
    import org.apache.spark.sql.catalyst.plans.logical.Join

    /** Rewrite `Aggregate over (fact ⋈ dim)` when the fact side is a
      * registered base and every fact-side reference in the join
      * condition, the filters, and the grouping is an MV dimension.
      *
      * SOUNDNESS: the join condition references only fact DIMS, so
      * every fact row of an MV group joins exactly the same dim rows
      * as the group itself does — join multiplicity applies uniformly
      * to the group. Hence sum/count measures (Σ over (row, dim) pairs
      * = Σ over (group, dim) pairs of partial sums), min/max (same
      * value SET per dim match), and hll (idempotent union) all roll
      * up across ANY theta condition over dims, with no dim-side key
      * uniqueness assumption. Join types: Inner always; outer/semi/
      * anti only when the FACT side is the preserved/driving side
      * (fact-preserved ⇒ fact columns never null-extended, so fact
      * filters commute across the join and every output row carries a
      * real measure; a dim-preserved outer join emits null-measure
      * rows that count(*) counts but sum(mv_cnt) would skip).
      * Aggregates over DIM columns decline (multiplicity-sensitive).
      *
      * MULTI-DIM stars/snowflakes (fact ⋈ d1 ⋈ d2 …) rewrite too: the
      * group-multiplicity argument composes level-by-level — with every
      * join condition over fact DIMS and every join fact-preserved, all
      * rows of an MV group share one join fate through the WHOLE tree,
      * so the uniform-multiplicity invariant holds at the top. [[spines]]
      * enumerates the descents; [[rewriteJoin]] checks each level. */
    /** Peel filters / pruning-or-alias Projects down to a Join node,
      * collecting conjuncts and the alias substitution — the join-tree
      * analog of [[unwrap]]. */
    private def peelToJoin(p: LogicalPlan): Option[(Seq[Expression], Join,
        Map[ExprId, Expression])] = p match {
      case Filter(cond, c) =>
        peelToJoin(c).map { case (fs, j, s) =>
          (conjunctsOf(cond) ++ fs, j, s)
        }
      case Project(cols, c) if cols.forall {
          case _: AttributeReference => true
          case Alias(e, _) => e.deterministic &&
            !e.exists(_.isInstanceOf[PlanExpression[_]])
          case _ => false
        } =>
        peelToJoin(c).map { case (fs, j, s) =>
          (fs, j, s ++ cols.collect { case al @ Alias(e, _) =>
            al.exprId -> e
          })
        }
      case j: Join => Some((Seq.empty, j, Map.empty))
      case _ => None
    }

    /** One descent through a join tree to the single fact-scan leaf:
      * the unwrapped fact side (below-the-joins conjuncts, leaf, alias
      * substitution), the MID-LEVEL conjuncts peeled between joins on
      * the way down, and the join spine BOTTOM-UP — (join, factLeft,
      * the dim-side subtree kept as-is) per level. */
    private final case class Spine(
        leaf: LogicalRelation,
        factConjs: Seq[Expression],
        midConjs: Seq[Expression],
        subst: Map[ExprId, Expression],
        levels: Seq[(Join, Boolean, LogicalPlan)])

    /** Lazily enumerate fact descents of a join tree — the MULTI-DIM
      * star/snowflake generalization (fact ⋈ d1 ⋈ d2 …, the TPC-H Q5
      * shape): at each level the fact may continue down either side
      * (left tried first), every level's join type must PRESERVE the
      * fact path (Inner; outer/semi/anti only driving from the fact
      * side — a dim-preserved outer would null-extend measures), and
      * the descent may pass through filters/Projects between joins
      * (their conjuncts collect as mid-level conjuncts). Depth-capped:
      * the search branches ≤2 per level, so the cap bounds pathological
      * plans without ever declining a realistic star. */
    private def spines(j: Join, depth: Int = 8): Iterator[Spine] =
      if (depth <= 0) Iterator.empty
      else Seq(true, false).iterator.flatMap { factLeft =>
        val (factPlan, dimPlan) =
          if (factLeft) (j.left, j.right) else (j.right, j.left)
        val typeOk = j.joinType match {
          case Inner => true
          case LeftOuter | LeftSemi | LeftAnti => factLeft
          case RightOuter => !factLeft
          case _ => false
        }
        if (!typeOk) Iterator.empty
        else {
          val level = (j, factLeft, dimPlan)
          val direct = unwrap(factPlan).iterator.map {
            case (fc, leaf, fs) => Spine(leaf, fc, Seq.empty, fs, Seq(level))
          }
          val nested = peelToJoin(factPlan).iterator
            .flatMap { case (between, innerJ, betweenSubst) =>
              spines(innerJ, depth - 1).map(sp => sp.copy(
                midConjs = sp.midConjs ++ between,
                subst = sp.subst ++ betweenSubst,
                levels = sp.levels :+ level))
            }
          direct ++ nested
        }
      }

    private def tryRewriteJoin(agg: Aggregate): Option[Aggregate] = {
      // GLOBAL aggregates rewrite through the join path too — the
      // dashboard tile `SELECT count(*) FROM fact JOIN dim WHERE …`.
      // The zero-row corner composes with join-emptiness exactly as in
      // the single-relation case: with every spine level fact-preserved
      // the rewritten join replicates whole summary rows, an EMPTY join
      // result (fact rows exist but every one filtered dim-side) makes
      // sum(mv_cnt) NULL, and the Translator's grouping-empty count
      // coalesce returns the 0 the base plan's count over the same
      // empty join produces; sum/min/max are NULL over empty input on
      // both sides.
      peelToJoin(agg.child).flatMap { case (topConjs, join, topSubst) =>
        spines(join).flatMap { sp =>
          candidatesFor(rootsOf(sp.leaf)).iterator.flatMap { mv =>
            rewriteJoin(agg, topConjs, sp, topSubst ++ sp.subst, mv)
              .iterator
          }
        }.nextOption()
      }
    }

    private def rewriteJoin(
        agg: Aggregate,
        topConjsRaw: Seq[Expression],
        spine: Spine,
        subst: Map[ExprId, Expression],
        mv0: MvDef): Option[Aggregate] = {
      val leaf = spine.leaf
      // freshness with optional auto-refresh, as in rewriteSingle
      val mv = freshDef(leaf, mv0).getOrElse(return None)
      val factConjs = spine.factConjs.map(inlineSubst(_, subst))
      // mid-level conjuncts (filters BETWEEN joins on the fact path) and
      // top conjuncts share one fate: checked like top filters and
      // re-applied ABOVE the rebuilt spine. Sound because every spine
      // level PRESERVES the fact-path subtree (spines() enforces it):
      // a conjunct's references come from the subtree below its
      // original level, higher fact-preserved joins never null-extend
      // or drop those columns (semi/anti keep exactly the fact-path
      // side; inner/outer only add columns), and filters on a
      // preserved side commute upward across all four join types.
      val upperConjs =
        (spine.midConjs ++ topConjsRaw).map(inlineSubst(_, subst))
      val grouping = agg.groupingExpressions.map(inlineSubst(_, subst))
      // every join condition must be inlined BEFORE the dims guard: a
      // fact-side Project alias used as a join key is not in factIds, so
      // an un-inlined condition would pass factRefsAreDims as "dim-side"
      // while the rewrite drops its defining Project — a dangling
      // reference that crashes at physical binding, and a hole that let
      // non-dim fact refs hide behind the alias. Inlining resolves the
      // alias to its defining expression over the leaf, so the guard
      // sees the real fact references and the rebuilt Joins (built from
      // these inlined forms below) carry no orphaned exprIds.
      val levelConds = spine.levels.map(l =>
        l._1.condition.map(inlineSubst(_, subst)))
      val factIds = leaf.output.map(_.exprId).toSet
      def isFact(a: Attribute): Boolean = factIds(a.exprId)
      def factRefsAreDims(e: Expression): Boolean = {
        val byId = leaf.output.map(a => a.exprId -> a.name).toMap
        e.references.forall(a =>
          !isFact(a) || byId.get(a.exprId).exists(mv.dims))
      }
      // the MV predicate may sit below the joins (pushed) or above them
      // (fact-preserved joins commute fact filters) — consume jointly,
      // then split survivors back to their origin by reference identity.
      // Only FACT-referencing conjuncts may satisfy/consume the
      // predicate: a dim-side name collision must neither cover it nor
      // vanish from the plan (see consumePredicate's scaladoc)
      for {
        leftover <- consumePredicate(factConjs ++ upperConjs, mv,
          eligible = e => e.references.nonEmpty &&
            e.references.forall(isFact))
        factLeft0 = leftover.filter(c => factConjs.exists(_ eq c))
        topLeft0 = leftover.filterNot(c => factConjs.exists(_ eq c))
        // fact-side filters: dim-only; upper filters: fact refs must be
        // dims, dim-side refs pass through untouched
        if factLeft0.forall(f => okFilter(f) && f.references.forall(a =>
          leaf.output.exists(o => o.exprId == a.exprId && mv.dims(o.name))))
        if topLeft0.forall(f => okFilter(f) && factRefsAreDims(f))
        // every join condition: deterministic, no subquery, fact refs ⊆
        // dims (checked on the INLINED conditions — see levelConds)
        if levelConds.forall(_.forall(c =>
          okFilter(c) && factRefsAreDims(c)))
        rewritten <- {
          val rel = mv.mvRelation.newInstance()
          val mvAttr = rel.output.map(a => a.name -> a).toMap
          val factDim = leaf.output
            .filter(a => mv.dims(a.name) && mvAttr.contains(a.name))
            .map(a => a.exprId -> mvAttr(a.name)).toMap
          def mapFact(e: Expression): Expression = e.transform {
            case a: AttributeReference if factDim.contains(a.exprId) =>
              factDim(a.exprId)
          }
          // grouping: any deterministic, subquery-free expression whose
          // FACT-side references are all dims (bare dim attrs, dim-side
          // attrs, and f(dim) time-grain rollups all qualify)
          val groupOk = grouping.forall(g =>
            okFilter(g) && g.references.forall(a =>
              !isFact(a) || factDim.contains(a.exprId)))
          if (!groupOk) None
          else {
            val tr = new Translator(mv, mvAttr, isFact, factDim, grouping)
            val newRes = agg.aggregateExpressions.map {
              case a: AttributeReference =>
                tr.rw(inlineSubst(a, subst))
                  .map(e => Alias(e, a.name)(exprId = a.exprId))
              case al: Alias =>
                tr.rw(inlineSubst(al.child, subst))
                  .map(e => Alias(e, al.name)(exprId = al.exprId))
              case _ => None
            }
            if (newRes.exists(_.isEmpty)) None
            else {
              val newFact =
                if (factLeft0.isEmpty) rel
                else Filter(mapFact(factLeft0.reduce(And)), rel)
              // rebuild the spine bottom-up: the fact path swaps to the
              // summary, every dim subtree and join type/hint stays
              val rebuilt = spine.levels.zip(levelConds)
                .foldLeft(newFact: LogicalPlan) {
                  case (cur, ((j, factLeft, dimPlan), cond)) =>
                    Join(
                      if (factLeft) cur else dimPlan,
                      if (factLeft) dimPlan else cur,
                      j.joinType, cond.map(mapFact), j.hint)
                }
              val newChild =
                if (topLeft0.isEmpty) rebuilt
                else Filter(mapFact(topLeft0.reduce(And)), rebuilt)
              val newGrouping = grouping.map(mapFact)
              Some(Aggregate(newGrouping, newRes.map(_.get), newChild))
            }
          }
        }
      } yield rewritten
    }

    /** Translates result-side expressions onto the summary: aggregate
      * calls roll up to the MV measure (including avg via a sum/count
      * measure pair), grouped fact dims rebind to the MV attribute,
      * dim-side (non-fact) attributes pass through untouched, and any
      * deterministic scaffold (casts, arithmetic, literals) maps over
      * its children. None anywhere declines the whole rewrite. */
    private final class Translator(
        mv: MvDef,
        mvAttr: Map[String, Attribute],
        isFact: Attribute => Boolean,
        factDim: Map[ExprId, Attribute],
        grouping: Seq[Expression]) {

      private def mapFact(e: Expression): Expression = e.transform {
        case a: AttributeReference if factDim.contains(a.exprId) =>
          factDim(a.exprId)
      }

      def rw(e: Expression): Option[Expression] = e match {
        case ae: AggregateExpression
            if ae.filter.isEmpty && !ae.isDistinct =>
          // measures must be over FACT columns only: a dim column
          // sharing a fact column's NAME would structurally collide
          // (structKey strips qualifiers), and dim-side aggregates are
          // join-multiplicity-sensitive — both decline by exprId here
          if (!ae.references.forall(isFact(_))) None
          else rollup(ae)
        // DISTINCT aggregates over DIMS fold exactly — the summary
        // keeps ONE row per full dim tuple, and every rewritten query
        // groups by (expressions over) dims, so each output group is a
        // union of whole MV groups whose dim-tuple SET the summary
        // preserves verbatim: the distinct value set of any expression
        // over dims is identical on both sides, and count(DISTINCT …)
        // recomputed over summary rows is the base answer (join path
        // included: group-uniform multiplicity replicates whole summary
        // rows, and DISTINCT collapses replication; non-fact references
        // pass through like every dim-side column). count(DISTINCT x)
        // over the empty global group is 0 on both sides — no coalesce
        // corner. Count only: its value depends on nothing but the
        // distinct set; other distinct aggregates stay declined
        // (decline-on-doubt — sum(DISTINCT) would fold too, but no
        // caller shape needs it yet).
        case ae: AggregateExpression
            if ae.isDistinct && ae.filter.isEmpty &&
              ae.aggregateFunction.isInstanceOf[Count] &&
              ae.aggregateFunction.children.nonEmpty &&
              ae.aggregateFunction.children.forall(ch =>
                ch.deterministic &&
                  !ch.exists(_.isInstanceOf[PlanExpression[_]]) &&
                  ch.references.forall(a =>
                    !isFact(a) || factDim.contains(a.exprId))) &&
              // at least one reference must exist: count(DISTINCT <lit>)
              // is degenerate and Spark folds it anyway; requiring refs
              // keeps this arm off constant shapes
              ae.references.nonEmpty =>
          Some(AggregateExpression(
            Count(ae.aggregateFunction.children.map(mapFact)),
            Complete, isDistinct = true))
        // an aggregate the cases above did NOT take (FILTER clause,
        // non-dim DISTINCT, unregistered function) must STOP here — the
        // generic recursion below would rebuild it over MV rows and
        // silently answer from the wrong grain
        case _: AggregateExpression => None
        // an expression that IS one of the grouping expressions (a bare
        // grouped dim, or f(dim) in the time-grain-rollup case) maps
        // wholesale — the physical aggregate binds it to the grouping
        // value, so its dim references need not be grouped themselves
        case g if grouping.exists(_.semanticEquals(g)) &&
            g.references.forall(a =>
              !isFact(a) || factDim.contains(a.exprId)) =>
          Some(mapFact(g))
        case a: AttributeReference =>
          if (!isFact(a)) Some(a) // dim-side column: untouched
          else None // a fact attr that is not (part of) a grouping expr
        case l: Literal => Some(l)
        // a subquery carries its own PLAN, not children — the generic
        // recursion below would wave it through while it may reference
        // the very relation being swapped; decline
        case _: PlanExpression[_] => None
        case other if other.deterministic && other.children.nonEmpty =>
          val kids = other.children.map(rw)
          if (kids.forall(_.isDefined))
            Some(other.withNewChildren(kids.map(_.get)))
          else None
        case _ => None
      }

      private def rollup(ae: AggregateExpression): Option[Expression] =
        ae.aggregateFunction match {
          case av: Average => rollupAvg(ae, av)
          case hpp: HyperLogLogPlusPlus => rollupApproxDistinct(ae, hpp)
          case af =>
            mv.measures.get(structKey(af)).map { case (kind, mvCol) =>
              val f = kind match {
                case "sum" => Sum(mvAttr(mvCol))
                case "min" => Min(mvAttr(mvCol))
                case "max" => Max(mvAttr(mvCol))
                case "hll" => new HllUnionAgg(mvAttr(mvCol))
              }
              val rolled =
                AggregateExpression(f, Complete, isDistinct = false)
              val typed =
                if (rolled.dataType == ae.dataType) rolled
                else Cast(rolled, ae.dataType)
              // GLOBAL rollup only: the single group exists even over
              // zero summary rows, where count must return 0 but the
              // sum of per-group counts returns NULL (sum/min/max are
              // themselves NULL over the empty base group — no coalesce)
              if (grouping.isEmpty && af.isInstanceOf[Count])
                Coalesce(Seq(typed, Cast(Literal(0L), ae.dataType)))
              else typed
            }
        }

      /** approx_count_distinct(x) from a registered `hll_sketch_agg(x)`
        * measure — OPT-IN via spark.graft.mv.approxDistinctRewrite
        * (default off): both sides are approximations of the same
        * distinct count, but DIFFERENT estimators (HyperLogLog++ with
        * its rsd-derived register count vs the DataSketches HLL at
        * lgConfigK=12), so the rewrite changes the estimate within each
        * estimator's error bound — the BigQuery/Snowflake MV convention
        * for approximate-distinct dashboards, where "approximate" is the
        * user's declared contract and never rescanning the fact is the
        * point. Strictly opt-in because every other rewrite in this rule
        * is row-identical; MvSpec pins both estimates within tolerance
        * of the exact count. */
      private def rollupApproxDistinct(
          ae: AggregateExpression,
          hpp: HyperLogLogPlusPlus): Option[Expression] = {
        val enabled = org.apache.spark.sql.internal.SQLConf.get
          .getConfString("spark.graft.mv.approxDistinctRewrite", "false")
          .toBoolean
        if (!enabled) return None
        mv.measures.get(structKey(new HllSketchAgg(hpp.child)))
          .filter(_._1 == "hll").map { case (_, mvCol) =>
            val est = HllSketchEstimate(AggregateExpression(
              new HllUnionAgg(mvAttr(mvCol)), Complete,
              isDistinct = false))
            if (est.dataType == ae.dataType) est
            else Cast(est, ae.dataType)
          }
      }

      /** avg(x) from a (sum(x), count(x)) measure PAIR — the
        * production-registry convention: avg itself does not decompose,
        * but sum-of-sums / sum-of-counts re-derives it exactly. Both
        * component measures must be registered over the SAME child
        * expression (count(x), not count(*): avg skips nulls, so the
        * divisor must too). The division is Average's OWN
        * `evaluateExpression` with its buffer attributes substituted by
        * the rolled partials, so every type corner (decimal widening +
        * HALF_UP result scale, the null-sum/zero-count all-null group
        * → NULL) is byte-identical to the unrewritten plan. Exact only
        * when partial sums re-add losslessly — decimal children
        * qualify unconditionally; float/double re-association perturbs
        * low bits, so they decline toward the base scan. Integral
        * children qualify with one honest boundary: Spark's native
        * Average accumulates them in a DOUBLE sum buffer, so past
        * |group sum| ≈ 2^53 the NATIVE result is itself lossy and
        * partitioning-dependent while the rewrite's long-sum path
        * stays exact — beyond that magnitude the two can differ in the
        * last ulp, with the rewrite the more accurate side. Below it
        * (every realistic measure at this engine's scales) they are
        * bit-identical, which is what MvSpec asserts. */
      private def rollupAvg(
          ae: AggregateExpression, av: Average): Option[Expression] = {
        import org.apache.spark.sql.types._
        val exact = av.child.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _: DecimalType => true
          case _ => false
        }
        if (!exact) return None
        for {
          s <- mv.measures.get(structKey(Sum(av.child)))
          if s._1 == "sum"
          c <- mv.measures.get(structKey(Count(av.child)))
          if c._1 == "sum"
        } yield {
          val Seq(sumAttr, cntAttr) = av.aggBufferAttributes
          def rolledAs(col: String, t: org.apache.spark.sql.types.DataType)
              : Expression = {
            val r = AggregateExpression(
              Sum(mvAttr(col)), Complete, isDistinct = false)
            if (r.dataType == t) r else Cast(r, t)
          }
          val out = av.evaluateExpression.transform {
            case a: AttributeReference if a.exprId == sumAttr.exprId =>
              rolledAs(s._2, sumAttr.dataType)
            case a: AttributeReference if a.exprId == cntAttr.exprId =>
              rolledAs(c._2, cntAttr.dataType)
          }
          if (out.dataType == ae.dataType) out else Cast(out, ae.dataType)
        }
      }
    }
  }
}

/** q61 under the driver's hash gate: the rewrite changes the SCAN, never
  * the rows — the oracle runs the same SQL on the base table. */
object MvQueries {
  import org.apache.spark.sql.functions._

  /** Once-per-(session, sfDir) fixture memo: every MV fixture keys by
    * (identityHashCode(session), dir) so octave runs at a new dir
    * rebuild while reruns within one session reuse — one keying
    * convention, one synchronization point, six fixtures. */
  private def oncePer[T](
      cache: scala.collection.mutable.Map[(Int, String), T],
      s: SparkSession, d: String)(body: => T): T =
    synchronized {
      cache.getOrElseUpdate((System.identityHashCode(s), d), body)
    }

  // (session, sfDir) the lineitem summary is registered for — octave
  // runs at a new sfDir re-materialize + re-register (the
  // Tables.ensureRegistered discipline); the fixture tables are
  // read-only, so within one (session, dir) the MV can never go stale
  // (and the rule's file-fingerprint check enforces that, not this memo).
  private val mvFor = scala.collection.mutable.Map[(Int, String), Unit]()
  private[graft] def ensureMv(s: SparkSession, d: String): Unit =
    oncePer(mvFor, s, d) {
      Mv.register(s, "lineitem_by_flag_status",
        Tables.t(s, d, "lineitem"),
        dims = Seq("l_returnflag", "l_linestatus"),
        aggCols = Seq(
          count(lit(1)).as("mv_cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("mv_sum_qty"),
          // the count HALF of the avg measure pair: avg(x) rewrites
          // to sum(mv_sum_x)/sum(mv_cnt_x) only when count is over
          // the SAME expression (avg skips nulls; count(*) wouldn't)
          count(col("l_quantity").cast("decimal(18,2)"))
            .as("mv_cnt_qty"),
          max(col("l_extendedprice")).as("mv_max_price")),
        mvPath = Dml.work("q61_mv", d) + "/lineitem_summary")
      ()
    }

  // (session, sfDir) -> the SECOND lineitem summary, keyed by the
  // supplier FK — several MVs per base coexist in the name-keyed
  // registry, and the star-join rewrite (q65) matches this one while
  // q61's flag/status rollups keep matching the other.
  private val joinMvFor = scala.collection.mutable.Map[(Int, String), Unit]()
  private[graft] def ensureJoinMv(s: SparkSession, d: String): Unit =
    oncePer(joinMvFor, s, d) {
      Mv.register(s, "lineitem_by_supp",
        Tables.t(s, d, "lineitem"),
        dims = Seq("l_suppkey"),
        aggCols = Seq(
          count(lit(1)).as("mv_cnt"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .as("mv_rev"),
          max(col("l_quantity")).as("mv_max_qty")),
        mvPath = Dml.work("q65_mv", d) + "/lineitem_by_supp")
      ()
    }

  /** The dashboard rollup: groups by a SUBSET of the MV dims, filters on
    * the other — the summary answers it without touching the fact. */
  private[graft] def rollupQuery(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "lineitem")
      .filter(col("l_linestatus") === "F")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        max(col("l_extendedprice")).as("max_price"))

  val queries: Seq[Q] = Seq(
    Q("q61_mv_rewrite",
      (s, d) => {
        ensureMv(s, d)
        rollupQuery(s, d)
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |AS sum_qty, max(l_extendedprice) AS max_price
             |FROM lineitem WHERE l_linestatus = 'F'
             |GROUP BY 1""".stripMargin.replace('\n', ' ')),
      bench = true,
      explainOverride = Some((s, d) => {
        ensureMv(s, d)
        val on = rollupQuery(s, d).queryExecution.optimizedPlan.toString
        // the OFF plan must be RENDERED inside the disabled scope — a
        // pinned plan re-optimized outside it would re-fire the rule
        val off = Mv.withDisabled {
          rollupQuery(s, d).queryExecution.optimizedPlan.toString
        }
        "== Optimized plan, MV rewrite ON (scan = lineitem_summary) ==\n" +
          on +
          "\n== Optimized plan, MV rewrite OFF (scan = base lineitem) ==\n" +
          off
      })),

    // INCREMENTAL MV MAINTENANCE end to end: a private base copy of
    // lineitem gains an append (the deterministic l_orderkey % 97
    // slice), refreshIncremental folds ONLY the delta files into the
    // summary, and the gated rollup reads through the REFRESHED MV —
    // the oracle restates base ∪ slice on the fixture tables, so the
    // hash gate proves the O(delta) fold equals the full recompute.
    Q("q62_mv_incremental",
      (s, d) => {
        val baseDir = ensureIncremental(s, d)
        val base = s.read.parquet(baseDir)
        base.filter(col("l_linestatus") === "F")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("sum_qty"))
      },
      Some("""WITH base AS (SELECT * FROM lineitem UNION ALL
             |SELECT * FROM lineitem WHERE l_orderkey % 97 = 0)
             |SELECT l_returnflag, count(*) AS n,
             |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |AS sum_qty FROM base WHERE l_linestatus = 'F'
             |GROUP BY 1""".stripMargin.replace('\n', ' '))),

    // The SQL statement surface of the MV subsystem: CREATE
    // MATERIALIZED VIEW registers + materializes through Mv.register,
    // and the follow-up aggregate — issued as PLAIN SQL with no
    // mention of the view — reads the summary transparently. The
    // oracle is the same aggregate on the base table, so the hash
    // gate proves statement-created summaries answer exactly.
    // REFRESH/DROP lifecycle evidence is MvSpec's.
    Q("q63_sql_mv",
      (s, d) => {
        val ctx = new ExecutionContext(s).registerTestData(d)
        ctx.execute("DROP MATERIALIZED VIEW IF EXISTS sql_orders_summary")
        ctx.execute("""CREATE MATERIALIZED VIEW sql_orders_summary AS
          SELECT o_orderpriority, o_orderstatus, count(1) AS mv_cnt,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mv_total
          FROM orders GROUP BY o_orderpriority, o_orderstatus""")
        ctx.execute("""SELECT o_orderpriority, count(1) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS total FROM orders WHERE o_orderstatus = 'F'
          GROUP BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |AS total FROM orders WHERE o_orderstatus = 'F'
             |GROUP BY 1""".stripMargin.replace('\n', ' '))),

    // MERGEABLE-SKETCH MEASURE: the MV stores hll_sketch_agg(c_custkey)
    // per (mktsegment, nation) and the query's coarser-grain
    // hll_sketch_estimate(hll_sketch_agg(...)) rewrites to
    // estimate(hll_union_agg(sketch)) — distinct customers per segment
    // answered from the summary. Rows-only: the estimate is
    // sketch-implementation-specific (no DuckDB twin), but it is
    // DETERMINISTIC, and MvSpec proves the rewrite returns the
    // BIT-IDENTICAL estimate of the unrewritten plan (union of
    // per-group sketches == sketch of the union). The audit twin below
    // carries the exact-distinct contract under the driver hash.
    Q("q64_mv_hll",
      (s, d) => {
        ensureHll(s, d)
        Tables.t(s, d, "customer")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            hll_sketch_estimate(hll_sketch_agg(col("c_custkey")))
              .as("approx_customers"))
      },
      None),

    // The exact twin of q64 under the driver hash: the same grouping
    // with COUNT(DISTINCT) — declined by the rewrite (distinct does not
    // decompose), so it runs on the base and pins the true values the
    // sketch approximates; MvSpec asserts the relative error bound.
    Q("q64_mv_hll_audit",
      (s, d) => {
        ensureHll(s, d)
        Tables.t(s, d, "customer")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("c_custkey")).as("exact_customers"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
             |count(DISTINCT c_custkey) AS exact_customers
             |FROM customer GROUP BY 1""".stripMargin.replace('\n', ' '))),

    // STAR-JOIN MV REWRITE — the most common 100 TB dashboard shape:
    // fact ⋈ dim GROUP BY dim.attr. The summary is keyed by the join
    // FK (l_suppkey), so the rewrite swaps ONLY the fact side and
    // keeps the join: sum(mv_cnt)/sum(mv_rev) over MV ⋈ supplier.
    // The dim-side filter (s_nationkey) passes through untouched; the
    // oracle is the same join-aggregate on the base tables, so the
    // hash gate proves join multiplicity folds correctly through the
    // group-level rollup. At sf0.1 the MV is ~10^3 rows vs a 6·10^5
    // row fact — the scan the rewrite removes is the whole cost.
    Q("q65_mv_join",
      (s, d) => {
        joinQuery(s, d)
      },
      Some("""SELECT s_name, count(*) AS n,
             |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |AS revenue, max(l_quantity) AS max_qty
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |WHERE s_nationkey < 10
             |GROUP BY 1""".stripMargin.replace('\n', ' ')),
      bench = true,
      explainOverride = Some((s, d) => {
        val on = joinQuery(s, d).queryExecution.optimizedPlan.toString
        val off = Mv.withDisabled {
          joinQuery(s, d).queryExecution.optimizedPlan.toString
        }
        "== Optimized plan, star-join MV rewrite ON (fact side = " +
          "lineitem_by_supp) ==\n" + on +
          "\n== Optimized plan, rewrite OFF (fact side = base lineitem) " +
          "==\n" + off
      })),

    // AVG VIA THE SUM/COUNT MEASURE PAIR: avg(x) itself does not
    // decompose over partial groups, but with sum(x) AND count(x)
    // both registered the rewrite answers it as
    // sum(mv_sum_x)/sum(mv_cnt_x) — exactly, because x is DECIMAL
    // (partial decimal sums re-add losslessly; MvSpec holds the
    // rewrite bit-identical to the unrewritten plan). The oracle
    // restates Spark's decimal-avg semantics (exact sum, HALF_UP at
    // scale 6, then one exact-input double division) in integer
    // arithmetic, so the gate is exact across engines.
    Q("q66_mv_avg",
      (s, d) => {
        ensureMv(s, d)
        Tables.t(s, d, "lineitem")
          .filter(col("l_linestatus") === "F")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            avg(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("avg_qty"))
      },
      // oracle arithmetic: with S = exact decimal sum and n = count,
      // Spark's avg is round_half_up(S·10^6/n)/10^6 cast to double;
      // (2·(S·10^4)·100 + n) // (2n) is that half-up rounding in exact
      // BIGINT arithmetic (S·10^4 is integral at scale 2), and BIGINT
      // / 1000000.0 is one correctly-rounded double division — the
      // identical double both engines produce.
      Some("""SELECT l_returnflag, count(*) AS n,
             |((2 * CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
             |* 10000 AS BIGINT) * 100 + count(*)) // (2 * count(*)))
             |/ 1000000.0 AS avg_qty
             |FROM lineitem WHERE l_linestatus = 'F'
             |GROUP BY 1""".stripMargin.replace('\n', ' '))),

    // PARTIAL (FILTERED) MATERIALIZED VIEW through the SQL statement
    // surface: the WHERE clause in CREATE MATERIALIZED VIEW restricts
    // the summary to predicate rows, and a query rewrites only when
    // its own filters restate the predicate exactly (the consumed
    // conjunct is not re-applied — the summary no longer carries the
    // filter column). The oracle is the same aggregate on the base.
    Q("q67_mv_partial",
      (s, d) => {
        val ctx = new ExecutionContext(s).registerTestData(d)
        ctx.execute("DROP MATERIALIZED VIEW IF EXISTS sql_orders_partial")
        ctx.execute("""CREATE MATERIALIZED VIEW sql_orders_partial AS
          SELECT o_orderpriority, count(1) AS pmv_cnt,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS pmv_total
          FROM orders WHERE o_orderstatus = 'F'
          GROUP BY o_orderpriority""")
        ctx.execute("""SELECT o_orderpriority, count(1) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS total FROM orders WHERE o_orderstatus = 'F'
          GROUP BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |AS total FROM orders WHERE o_orderstatus = 'F'
             |GROUP BY 1""".stripMargin.replace('\n', ' '))),

    // MV MAINTENANCE OVER THE VERSIONED STORE: the summary is anchored
    // to a Dml commit-pointer table, the table takes an INSERT-ONLY
    // merge-on-read commit (new rows land in an append sidecar; the
    // data directory never changes), and the refresh reads the store's
    // VERSION COMPOSITION to fold exactly the appended-row delta —
    // O(append), where a raw file diff would see rewritten sidecar
    // files and rebuild from scratch on every commit. The gated result
    // restates the refreshed summary; the oracle recomputes the same
    // rollup over base ∪ slice on the fixture tables, so the hash gate
    // proves the composition-aware fold equals the full recompute.
    Q("q68_mv_store",
      (s, d) => {
        val mvPath = ensureStoreMv(s, d)
        s.read.parquet(mvPath).select(
          col("l_returnflag"),
          col("mv_cnt").as("n"),
          col("mv_sum_qty").cast("double").as("sum_qty"))
      },
      Some("""WITH base AS (SELECT * FROM lineitem UNION ALL
             |SELECT * FROM lineitem WHERE l_orderkey % 89 = 0)
             |SELECT l_returnflag, count(*) AS n,
             |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |AS sum_qty FROM base
             |GROUP BY 1""".stripMargin.replace('\n', ' '))),

    // TIME-GRAIN HIERARCHY ROLLUP: the summary is kept at DAILY grain
    // (dims = o_orderdate, a 6× rollup at sf0.01 and ~60× at sf1 —
    // dates don't scale with the fact), and the query groups by
    // year(o_orderdate) — an EXPRESSION over the dim, the every-
    // dashboard date-hierarchy shape. Grouping by f(dim) partitions
    // the dim groups coarser (each year is a union of whole days), so
    // every registered measure folds across the union and the daily
    // summary answers any calendar grain above it. The oracle is the
    // same aggregate on the base table.
    Q("q69_mv_time_grain",
      (s, d) => {
        ensureDateMv(s, d)
        Tables.t(s, d, "orders")
          .groupBy(year(col("o_orderdate")).as("y"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
             |count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |AS total FROM orders
             |GROUP BY 1""".stripMargin.replace('\n', ' ')))
    ,

    // GLOBAL-AGGREGATE MV REWRITE: `SELECT count(*), sum(x), max(y)
    // FROM fact WHERE dim = …` with NO GROUP BY — the coarsest rollup,
    // a single-group fold over the summary. The one semantic gap vs
    // grouped rollups is the zero-row global group (count must be 0,
    // not NULL), which the rule's count-coalesce closes; the builder
    // REQUIREs the summary scan so a silent decline can never pass as
    // green. The oracle is the same global aggregate on the base.
    Q("q70_mv_global",
      (s, d) => {
        ensureMv(s, d)
        val df = Tables.t(s, d, "lineitem")
          .filter(col("l_linestatus") === "F")
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("sum_qty"),
            max(col("l_extendedprice")).as("max_price"))
        require(scanRootsOf(df).exists(_.contains("q61_mv")),
          "q70: the global rollup must read the summary:\n" +
            df.queryExecution.optimizedPlan.toString)
        df
      },
      Some("""SELECT count(*) AS n,
             |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |AS sum_qty, max(l_extendedprice) AS max_price
             |FROM lineitem
             |WHERE l_linestatus = 'F'""".stripMargin.replace('\n', ' '))),

    // APPROX_COUNT_DISTINCT THROUGH THE SKETCH MEASURE (opt-in conf):
    // with spark.graft.mv.approxDistinctRewrite=true the rule answers
    // approx_count_distinct(x) from the registered hll_sketch_agg(x)
    // measure — a DIFFERENT estimator (DataSketches HLL vs native
    // HyperLogLog++), so this is the one rewrite that changes values
    // (within each estimator's error bound) and it stays off unless the
    // user declares approximate semantics. Rows-only: both estimates
    // are deterministic; the row carries the exact count beside both
    // estimates plus their within-tolerance verdicts, and the hash-
    // gated exact twin is q64_mv_hll_audit. The builder REQUIREs the ON
    // arm scanned the summary and the OFF arm the base.
    Q("q71_mv_approx_distinct",
      (s, d) => {
        ensureHll(s, d)
        def probe() = Tables.t(s, d, "customer")
          .groupBy("c_mktsegment")
          .agg(approx_count_distinct(col("c_custkey")).as("est"))
        val exact = Tables.t(s, d, "customer")
          .groupBy("c_mktsegment")
          .agg(countDistinct(col("c_custkey")).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val offDf = probe() // conf off: the native HLL++ on the base
        require(!scanRootsOf(offDf).exists(_.contains("q64_mv")),
          "q71: the OFF arm must not read the summary")
        val off = offDf.collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        s.conf.set("spark.graft.mv.approxDistinctRewrite", "true")
        val on =
          try {
            val onDf = probe()
            require(scanRootsOf(onDf).exists(_.contains("q64_mv")),
              "q71: the ON arm must fold the registered sketch:\n" +
                onDf.queryExecution.optimizedPlan.toString)
            onDf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          } finally s.conf.unset("spark.graft.mv.approxDistinctRewrite")
        val rows = exact.toSeq.sortBy(_._1).map { case (seg, n) =>
          def ok(est: Long): Boolean =
            math.abs(est - n).toDouble <= math.max(2.0, 0.15 * n)
          (seg, n, off(seg), on(seg), ok(off(seg)), ok(on(seg)))
        }
        import s.implicits._
        rows.toDF("c_mktsegment", "exact_customers", "base_est",
          "mv_est", "base_ok", "mv_ok")
      },
      None),

    // STAR-JOIN MV FROM PURE SQL: CREATE MATERIALIZED VIEW … FROM fact
    // JOIN dim ON … registers the FACT-side spec (summary keyed by the
    // fact join key), and the follow-up plain-SQL join aggregate —
    // grouping by a DIM-side column — rewrites through tryRewriteJoin
    // with the supplier side kept as a live join. q65 proved the join
    // rewrite programmatically; this entry drives the same machinery
    // end-to-end from the statement surface, hash-gated against the
    // base-table oracle. The builder REQUIREs the summary scan.
    Q("q72_mv_sql_star",
      (s, d) => {
        val ctx = new ExecutionContext(s).registerTestData(d)
        ctx.execute("DROP MATERIALIZED VIEW IF EXISTS sql_star_rev")
        // sum(l_quantity) distinguishes this summary from q65's
        // programmatic lineitem_by_supp (same grain, no quantity sum):
        // the probe below needs it, so only the statement-created MV
        // covers and the REQUIRE pins the statement path specifically
        ctx.execute("""CREATE MATERIALIZED VIEW sql_star_rev AS
          SELECT s_nationkey, count(1) AS smv_cnt,
          sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS smv_rev,
          sum(CAST(l_quantity AS DECIMAL(18,2))) AS smv_qty
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY s_nationkey""")
        val df = ctx.execute("""SELECT s_nationkey, count(1) AS n,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS rev, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          AS qty FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY s_nationkey""")
        require(scanRootsOf(df).exists(_.contains("mv_sql_star_rev")),
          "q72: the statement-created star summary must serve:\n" +
            df.queryExecution.optimizedPlan.toString)
        df
      },
      Some("""SELECT s_nationkey, count(*) AS n,
             |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |AS rev, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS
             |DOUBLE) AS qty
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY 1""".stripMargin.replace('\n', ' '))),

    // MULTI-DIM STAR REWRITE — the TPC-H Q5 dashboard shape:
    // fact ⋈ supplier ⋈ nation GROUP BY n_name. The summary is keyed by
    // the fact join key (l_suppkey) only; the rewrite swaps the fact
    // side and keeps BOTH dim joins live, so the nation name and the
    // dim-side filter resolve through the joins while the 6·10^5-row
    // fact scan disappears. The group-multiplicity soundness argument
    // composes level-by-level (see tryRewriteJoin). Hash-gated against
    // the same two-join aggregate on base tables; the builder REQUIREs
    // the summary scan so a silent decline can never pass green.
    Q("q74_mv_star_2dim",
      (s, d) => {
        val df = starQuery(s, d)
        require(scanRootsOf(df).exists(_.contains("q65_mv")),
          "q74: the 2-dim star rollup must read the summary:\n" +
            df.queryExecution.optimizedPlan.toString)
        df
      },
      Some("""SELECT n_name, count(*) AS n,
             |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |AS revenue
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE n_regionkey < 3
             |GROUP BY 1""".stripMargin.replace('\n', ' ')),
      bench = true,
      explainOverride = Some((s, d) => {
        val on = starQuery(s, d).queryExecution.optimizedPlan.toString
        val off = Mv.withDisabled {
          starQuery(s, d).queryExecution.optimizedPlan.toString
        }
        "== Optimized plan, 2-dim star MV rewrite ON (fact side = " +
          "lineitem_by_supp, both dim joins live) ==\n" + on +
          "\n== Optimized plan, rewrite OFF (fact side = base lineitem) " +
          "==\n" + off
      })),

    // PARTIAL-MV RANGE IMPLICATION: the summary holds only
    // `o_orderdate >= 1995-01-01` rows; the query filters on the
    // STRICTLY TIGHTER `>= 1996-01-01`. Exact conjunct match fails, but
    // the query range IMPLIES the defining one, so coverage holds with
    // the query conjunct kept as a residual on the summary (o_orderdate
    // is a dim, so the summary can re-apply it). Private base copy: the
    // fixture `orders` base carries other registered summaries that
    // would also cover this query, and the entry must exercise the
    // implication path specifically (the builder REQUIREs its summary).
    Q("q73_mv_partial_range",
      (s, d) => {
        val baseDir = ensureRangeMv(s, d)
        val df = s.read.parquet(baseDir)
          .filter(col("o_orderdate") >=
            lit(java.sql.Date.valueOf("1996-01-01")))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total"))
        // the private base also lives under q73_mv_range — anchor the
        // probe on the summary subdirectory
        require(scanRootsOf(df).exists(_.contains("q73_mv_range/summary")),
          "q73: the implied-range rollup must read the summary:\n" +
            df.queryExecution.optimizedPlan.toString)
        df
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |AS total FROM orders
             |WHERE o_orderdate >= DATE '1996-01-01'
             |GROUP BY 1""".stripMargin.replace('\n', ' '))),

    // COUNT(DISTINCT dim) THROUGH THE MV — the most common dashboard
    // aggregate the rule previously declined: the summary keeps ONE row
    // per (l_returnflag, l_linestatus) tuple, so the distinct set of
    // l_linestatus within any l_returnflag group is preserved verbatim
    // and count(DISTINCT l_linestatus) recomputed over summary rows IS
    // the base answer — an exact fold, not an estimate (contrast q64's
    // sketch path). The builder REQUIREs the summary scan so a silent
    // decline can never pass green; the oracle is the same aggregate on
    // the base table.
    Q("q75_mv_count_distinct_dim",
      (s, d) => {
        ensureMv(s, d)
        val df = Tables.t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("l_linestatus")).as("n_status"))
        require(scanRootsOf(df).exists(_.contains("q61_mv")),
          "q75: the dim-distinct rollup must read the summary:\n" +
            df.queryExecution.optimizedPlan.toString)
        df
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |count(DISTINCT l_linestatus) AS n_status
             |FROM lineitem GROUP BY 1""".stripMargin.replace('\n', ' '))),

    // GLOBAL AGGREGATE THROUGH THE STAR-JOIN PATH — the dashboard tile
    // `SELECT count(*), sum(rev) FROM fact JOIN dim WHERE dim.attr …`
    // with NO GROUP BY: the summary keyed by the join FK swaps in for
    // the fact scan, the dim filter stays a live join-side filter, and
    // the single-group rollup folds sum(mv_cnt)/sum(mv_rev) over the
    // joined summary rows. The zero-row corner (every summary row
    // filtered out dim-side) is pinned by MvSpec on both arms. The
    // builder REQUIREs the summary scan; the oracle is the same global
    // join-aggregate on base tables.
    Q("q76_mv_global_join",
      (s, d) => {
        ensureJoinMv(s, d)
        val df = Tables.t(s, d, "lineitem")
          .join(Tables.t(s, d, "supplier"),
            col("l_suppkey") === col("s_suppkey"))
          .filter(col("s_nationkey") < 10)
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
              .as("rev"))
        require(scanRootsOf(df).exists(_.contains("q65_mv")),
          "q76: the global join rollup must read the summary:\n" +
            df.queryExecution.optimizedPlan.toString)
        df
      },
      Some("""SELECT count(*) AS n,
             |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |AS rev FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |WHERE s_nationkey < 10""".stripMargin.replace('\n', ' '))),

    // SNOWFLAKE MV FROM PURE SQL: CREATE MATERIALIZED VIEW … FROM fact
    // JOIN d1 ON … JOIN d2 ON … — the statement form of q74's
    // programmatic spine. The second join's keys are entirely DIM-side
    // (supplier ⋈ nation — no fact column), so the chain exercises the
    // in-scope resolution the single-JOIN form never hit; the summary
    // registers keyed by the fact-side keys of the whole chain
    // (l_suppkey). The follow-up plain-SQL two-join aggregate groups by
    // a second-level dim column and rewrites through the multi-dim
    // spine with both joins live. sum(l_quantity) pins THIS summary:
    // q65's programmatic lineitem_by_supp has no quantity sum, so only
    // the statement-created MV covers and the REQUIRE proves the SQL
    // path specifically. Hash-gated against the base-table oracle.
    Q("q77_mv_sql_snowflake",
      (s, d) => {
        val ctx = new ExecutionContext(s).registerTestData(d)
        ctx.execute("DROP MATERIALIZED VIEW IF EXISTS sql_snow_qty")
        ctx.execute("""CREATE MATERIALIZED VIEW sql_snow_qty AS
          SELECT l_suppkey, count(1) AS zmv_cnt,
          sum(CAST(l_quantity AS DECIMAL(18,2))) AS zmv_qty
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          GROUP BY l_suppkey""")
        val df = ctx.execute("""SELECT n_name, count(1) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_regionkey < 3
          GROUP BY n_name""")
        require(scanRootsOf(df).exists(_.contains("mv_sql_snow_qty")),
          "q77: the statement-created snowflake summary must serve:\n" +
            df.queryExecution.optimizedPlan.toString)
        df
      },
      Some("""SELECT n_name, count(*) AS n,
             |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |AS qty
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE n_regionkey < 3
             |GROUP BY 1""".stripMargin.replace('\n', ' '))),

    // THE REWRITE UNDER PARENT OPERATORS — the dashboard "top groups"
    // tile: HAVING above the Aggregate, ORDER BY + LIMIT above that.
    // The rule matches the Aggregate wherever it sits (transformDown)
    // and the rewritten aggregate PRESERVES the original exprIds, so
    // the Filter/Sort/Limit parents re-bind without a projection shim;
    // this gate pins the full shape at the driver-facing surface (the
    // spec's parent-operator arm covers only a bare Project). ORDER BY
    // is a total order (l_returnflag is unique per group), so LIMIT 2
    // is deterministic against the DuckDB oracle.
    Q("q78_mv_having_topn",
      (s, d) => {
        ensureMv(s, d)
        val df = Tables.t(s, d, "lineitem")
          .filter(col("l_linestatus") === "F")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("sum_qty"))
          .filter(col("n") > 100)
          .orderBy(col("sum_qty").desc, col("l_returnflag"))
          .limit(2)
        require(scanRootsOf(df).exists(_.contains("q61_mv")),
          "q78: the HAVING/ORDER/LIMIT rollup must read the summary:\n" +
            df.queryExecution.optimizedPlan.toString)
        df
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |AS sum_qty FROM lineitem WHERE l_linestatus = 'F'
             |GROUP BY 1 HAVING count(*) > 100
             |ORDER BY sum_qty DESC, l_returnflag
             |LIMIT 2""".stripMargin.replace('\n', ' '))),

    // THE ADVISOR AS A SQL STATEMENT — ADVISE MATERIALIZED VIEW FOR
    // <select> plans (never runs) the query through the context and
    // returns the registrable summary definition the rewrite's inverse
    // names, plus the decline reason against the cheapest registered
    // candidate. Both lineitem fixtures are pre-registered so the
    // candidate set — and therefore the reason text — is pinned
    // regardless of catalog order: the 6-row flag/status summary is
    // always cheapest, and it declines because l_quantity is not a dim.
    // The readout is deterministic text → hash-gated against a DuckDB
    // constant row (the q58 plan-render precedent).
    Q("q79_mv_sql_advise",
      (s, d) => {
        ensureMv(s, d)
        ensureJoinMv(s, d)
        val ctx = new ExecutionContext(s).registerTestData(d)
        val df = ctx.execute("""ADVISE MATERIALIZED VIEW FOR
          SELECT l_returnflag, count(1) AS n FROM lineitem
          WHERE l_quantity > 25 GROUP BY l_returnflag""")
        require(df.count() == 1, "q79: exactly one advice row expected")
        df
      },
      Some("""SELECT 'l_returnflag,l_quantity' AS dims,
             |'count(1)' AS measures,
             |'(l_quantity > 25.0D)' AS predicate,
             |'lineitem_by_flag_status: l_quantity not registered as dims'
             |AS reason""".stripMargin.replace('\n', ' '))),

    // STREAMING MV MAINTENANCE — the ingest-native MV lifecycle: a
    // file-source stream of lineitem slices drains through foreachBatch
    // (EventStreams.maintainMv), each micro-batch landing in the
    // summary's registered base directory and folding the O(delta)
    // refreshIncremental — two micro-batches here, each fold strictly
    // positive (the fixture REQUIREs it, so a silent rebuild or no-op
    // can't pass). The gated result is the rollup THROUGH the rewrite
    // over the maintained summary; the oracle recomputes the same
    // aggregate over seed ∪ slice1 ∪ slice2 on the fixture tables, so
    // the hash gate proves batch-by-batch folds equal the recompute.
    Q("s40_stream_mv_maintenance",
      (s, d) => {
        val baseDir = ensureStreamMv(s, d)
        val df = s.read.parquet(baseDir)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("sum_qty"))
        require(
          scanRootsOf(df).exists(_.contains("s40_mv_stream/summary")),
          "s40: the stream-maintained summary must serve:\n" +
            df.queryExecution.optimizedPlan.toString)
        df
      },
      Some("""WITH base AS (
             |SELECT * FROM lineitem WHERE l_orderkey % 97 = 3
             |UNION ALL SELECT * FROM lineitem WHERE l_orderkey % 89 = 3
             |UNION ALL SELECT * FROM lineitem WHERE l_orderkey % 83 = 3)
             |SELECT l_returnflag, count(*) AS n,
             |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |AS sum_qty FROM base
             |GROUP BY 1""".stripMargin.replace('\n', ' ')))
  )

  // (session, sfDir) -> the stream-maintained base dir: seed slice
  // registered, two landing files drained as two micro-batches through
  // EventStreams.maintainMv, each folding refreshIncremental.
  private val streamMvFor =
    scala.collection.mutable.Map[(Int, String), String]()
  private[graft] def ensureStreamMv(s: SparkSession, d: String): String =
    oncePer(streamMvFor, s, d) {
      val root = Dml.work("s40_mv_stream", d)
      Layouts.deleteDir(s, root)
      val baseDir = s"$root/base"
      val li = Tables.t(s, d, "lineitem")
      li.filter(col("l_orderkey") % 97 === 3).write.parquet(baseDir)
      Mv.register(s, "lineitem_s40", s.read.parquet(baseDir),
        dims = Seq("l_returnflag"),
        aggCols = Seq(
          count(lit(1)).as("mv_cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("mv_sum_qty")),
        mvPath = s"$root/summary")
      // two single-file landings → two micro-batches under
      // maxFilesPerTrigger=1
      val landing = s"$root/landing"
      li.filter(col("l_orderkey") % 89 === 3).repartition(1)
        .write.parquet(landing)
      li.filter(col("l_orderkey") % 83 === 3).repartition(1)
        .write.mode(SaveMode.Append).parquet(landing)
      val stream = s.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
      val folds = EventStreams.maintainMv(
        stream, baseDir, "lineitem_s40", s"$root/ctl")
      require(folds.size == 2 && folds.forall(_._1 > 0),
        s"s40 fixture: expected two strictly positive folds, got $folds")
      baseDir
    }

  /** Optimized-plan scan roots of `df` — the builder-side REQUIRE probe
    * (the MvSpec helper, shared here so gated entries can refuse to
    * pass green on a silent decline). */
  private def scanRootsOf(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case l: LogicalRelation => l.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
      case _ => Seq.empty
    }.toSet

  // (session, sfDir) -> the private orders copy whose ONLY registered
  // summary is the 1995+ partial MV (q73's implication probe).
  private val rangeFor = scala.collection.mutable.Map[(Int, String), String]()
  private[graft] def ensureRangeMv(s: SparkSession, d: String): String =
    oncePer(rangeFor, s, d) {
      val root = Dml.work("q73_mv_range", d)
      Layouts.deleteDir(s, root)
      val baseDir = s"$root/base"
      Tables.t(s, d, "orders").write.parquet(baseDir)
      Mv.register(s, "orders_since95", s.read.parquet(baseDir),
        dims = Seq("o_orderdate", "o_orderpriority"),
        aggCols = Seq(
          count(lit(1)).as("rmv_cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("rmv_total")),
        mvPath = s"$root/summary",
        where = Some(col("o_orderdate") >=
          lit(java.sql.Date.valueOf("1995-01-01"))))
      baseDir
    }

  // (session, sfDir) -> the daily-grain orders summary (q69).
  private val dateMvFor = scala.collection.mutable.Map[(Int, String), Unit]()
  private[graft] def ensureDateMv(s: SparkSession, d: String): Unit =
    oncePer(dateMvFor, s, d) {
      Mv.register(s, "orders_by_day",
        Tables.t(s, d, "orders"),
        dims = Seq("o_orderdate"),
        aggCols = Seq(
          count(lit(1)).as("mv_cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("mv_total")),
        mvPath = Dml.work("q69_mv", d) + "/orders_by_day")
      ()
    }

  // (session, sfDir) -> the store-anchored summary's current path:
  // store published from lineitem, one insert-only MoR commit of the
  // l_orderkey % 89 slice, refresh folds the append delta. The PATH is
  // what the memo stores — a byName lookup after a second sfDir
  // registered under the same name would cross dirs.
  private val storeMvFor =
    scala.collection.mutable.Map[(Int, String), String]()
  private[graft] def ensureStoreMv(s: SparkSession, d: String): String =
    oncePer(storeMvFor, s, d) {
      val root = Dml.work("q68_mv_store", d)
      Layouts.deleteDir(s, root)
      val storeDir = s"$root/store"
      val li = Tables.t(s, d, "lineitem")
      // publish the committed table as the store's plain v0
      Dml.publish(li, storeDir)
      Mv.registerStore(s, "lineitem_store", storeDir,
        dims = Seq("l_returnflag"),
        aggCols = Seq(
          count(lit(1)).as("mv_cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("mv_sum_qty")),
        mvPath = s"$root/summary")
      // insert-only MoR commit: the slice's join key can never match
      // a committed row, so every source row lands in the append
      // sidecar and the data directory stays untouched
      val cols = li.columns.toSeq
      val src = li.filter(col("l_orderkey") % 89 === 0)
        .withColumn("sk", -col("l_orderkey") - 1)
      Dml.mergeOnRead(s, storeDir, src,
        col("t.l_orderkey") === col("s.sk"),
        Map("l_quantity" -> col("t.l_quantity")),
        Some(cols), Some(cols.map(c => col(s"s.$c"))))
      val (delta, total) = Mv.refreshIncremental(s, "lineitem_store")
      require(delta > 0 && delta < total,
        s"q68 fixture: expected a strict append fold, got $delta/$total")
      Mv.byName("lineitem_store").get.mvPath
    }

  /** q74's two-dim star: lineitem ⋈ supplier ⋈ nation with the grouping
    * and filter both two joins away from the fact — the summary keyed by
    * l_suppkey swaps in at the bottom of the spine. */
  private[graft] def starQuery(s: SparkSession, d: String): DataFrame = {
    ensureJoinMv(s, d)
    Tables.t(s, d, "lineitem")
      .join(Tables.t(s, d, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.t(s, d, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_regionkey") < 3)
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
  }

  /** q65's star-join rollup: groups by a DIM-side attribute, filters on
    * a DIM-side column, joins on the MV's FK dimension — the summary
    * replaces the fact scan while the supplier side stays as-is. */
  private[graft] def joinQuery(s: SparkSession, d: String): DataFrame = {
    ensureJoinMv(s, d)
    Tables.t(s, d, "lineitem")
      .join(Tables.t(s, d, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("s_nationkey") < 10)
      .groupBy("s_name")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        max(col("l_quantity")).as("max_qty"))
  }

  // (session, sfDir) -> the customer sketch summary registration.
  private val hllFor = scala.collection.mutable.Map[(Int, String), Unit]()
  private[graft] def ensureHll(s: SparkSession, d: String): Unit =
    oncePer(hllFor, s, d) {
      Mv.register(s, "customer_sketches",
        Tables.t(s, d, "customer"),
        dims = Seq("c_mktsegment", "c_nationkey"),
        aggCols = Seq(
          count(lit(1)).as("mv_cnt"),
          hll_sketch_agg(col("c_custkey")).as("mv_customers")),
        mvPath = Dml.work("q64_mv", d) + "/customer_summary")
      ()
    }

  // (session, sfDir) -> the appended base-copy dir with its summary
  // registered AND incrementally refreshed; built once per pair.
  private val incFor = scala.collection.mutable.Map[(Int, String), String]()
  private[graft] def ensureIncremental(
      s: SparkSession, d: String): String =
    oncePer(incFor, s, d) {
      val root = Dml.work("q62_mv_inc", d)
      Layouts.deleteDir(s, root)
      val baseDir = s"$root/base"
      Tables.t(s, d, "lineitem").write.parquet(baseDir)
      val def0 = Mv.register(s, "lineitem_inc", s.read.parquet(baseDir),
        dims = Seq("l_returnflag", "l_linestatus"),
        aggCols = Seq(
          count(lit(1)).as("mv_cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("mv_sum_qty")),
        mvPath = s"$root/summary")
      Tables.t(s, d, "lineitem")
        .filter(col("l_orderkey") % 97 === 0)
        .write.mode("append").parquet(baseDir)
      val (delta, total) = Mv.refreshIncremental(s, def0.baseRoots)
      require(delta > 0 && delta < total,
        s"q62 fixture: expected a strict delta fold, got $delta/$total")
      baseDir
    }
}
