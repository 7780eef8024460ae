package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: the baseline is brute-force top-k — a broadcast of the
  * (small) query set against a full scan of the corpus, per-row dot
  * products in native higher-order expressions, then a per-query top-k.
  * That is exactly the right plan at 100 TB when the query set is small:
  * one scan, no shuffle of the corpus, top-k via partial aggregation.
  * The scale path for big query sets is [[annTopK]]: random-hyperplane
  * sign buckets prune the corpus to candidates sharing the query's bucket
  * (multi-probe over 1-bit flips), turning O(Q×N) into O(Q×N/2^bits)
  * with an equality join that shuffles on the bucket key.
  */
object Similarity {

  /** array<float> → array<double> (all math in double for determinism). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Native codegen'd L2 norm ([[VectorExpressions.normL2]]); accepts raw
    * float arrays. HOF form kept below as the bit-identity cross-check. */
  def l2norm(v: Column): Column = VectorExpressions.normL2(v)

  /** Interpreted HOF formulation of [[l2norm]] (cross-check only). */
  private[graft] def l2normHof(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))

  /** Deterministic pseudo-random hyperplane sign bucket: bit i is the sign
    * of a dot product with hyperplane i whose components are derived from
    * xxhash64(i, dim) — no stored model, reproducible across runs/engines
    * that share the hash. Native codegen'd expression
    * ([[VectorExpressions.signBucket]]); the HOF form below is kept as the
    * SimilaritySpec bit-identity cross-check. */
  def signBucket(v: Column, bits: Int): Column =
    VectorExpressions.signBucket(v, bits)

  /** Rank scored candidate rows down to the exact per-query top-k via the
    * PARTIAL k-heap aggregate ([[TopKNeighbors]]): each map task reduces
    * its candidates to at most k per query before the exchange, so the
    * ranking shuffle carries O(|Q| × k × partitions) heap entries instead
    * of every scored candidate row — at 100 TB that is the difference
    * between shuffling |Q|×k rows and |Q|×N (brute) or |Q|×N/2^bits (ANN).
    * Output order and tie-breaks ((sim DESC, neighbor_id ASC), Spark
    * double semantics) are exactly what the previous
    * `row_number().over(Window...)` ranking produced — equality asserted
    * per-row in SimilaritySpec — but the plan is partial+final
    * ObjectHashAggregate with NO Window and NO per-query sort.
    *
    * Measured constant cost (round-6 `Profile _e03rank`, sf0.1, |Q|=20):
    * on the IDENTICAL scored frame the heap ranks in ~443 ms vs the
    * window's ~377 ms, while scoring alone is ~390 ms — i.e. the heap
    * carries ~50-60 ms of ObjectHashAggregate overhead at tiny |Q|,
    * which is e03's whole r04→r05 bench delta (scoring dominates; no
    * plan change, broadcasts intact). That overhead is flat in |Q| and
    * N, while the window's shuffle grows with EVERY scored candidate —
    * the crossover is far below any production query set, so the heap
    * stays the only query-path ranking. */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("query_id")
      .agg(TopKAggregate.topkNeighbors(
        col("neighbor_id"), col("sim"), k).as("nb"))
      .select(col("query_id"), posexplode(col("nb")).as(Seq("pos", "nbr")))
      .select(col("query_id"),
        col("nbr.neighbor_id").as("neighbor_id"),
        col("nbr.sim").as("sim"),
        (col("pos") + 1).cast("int").as("rn"))

  /** The previous window-ranking formulation, kept ONLY as the
    * SimilaritySpec cross-check oracle for [[rankTopK]] (it shuffles and
    * sorts every scored candidate; never use it in a query path). */
  private[graft] def rankTopKWindow(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "sim", "rn")
  }

  /** INT8 symmetric quantization stats over a (idCol, `embedding`) frame:
    * per-vector scale = max|x| / 127, elements round(x / scale) ∈
    * [-127, 127]. Pure per-row expression work, one scan, no shuffle —
    * the quantized corpus writes out in the same pass (see e06). The
    * output reduces the quantized vector through ORDER-INDEPENDENT
    * integer folds (element sum, squared norm) plus the order-free scale,
    * so the full quantization arithmetic is oracle-hashable. The 1e-12
    * floor guards the all-zero vector. */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id"): DataFrame = {
    // scale and qv are STAGED through projections so each is computed once
    // per row: reusing a shared Column val inside the quantize lambda
    // would duplicate the array_max subtree into every per-element
    // iteration (O(d²) per row — the first draft's plan did exactly
    // that), and CollapseProject keeps multiply-referenced non-cheap
    // aliases staged instead of re-inlining them
    emb
      .withColumn("__v", toDouble(col("embedding")))
      .withColumn("__scale", greatest(
        array_max(transform(col("__v"), x => abs(x))) / 127.0, lit(1e-12)))
      .withColumn("__qv",
        transform(col("__v"), x => round(x / col("__scale")).cast("long")))
      .select(
        col(idCol),
        size(col("embedding")).cast("long").as("dim"),
        round(col("__scale"), 6).as("qscale"),
        aggregate(col("__qv"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        aggregate(col("__qv"), lit(0L), (acc, x) => acc + x * x)
          .as("q_norm2"))
  }

  /** The COMPRESSED corpus itself: (idCol, qscale, qv array<tinyint>) —
    * 4x smaller than float32 at rest and in shuffle. Dequantize with
    * `transform(qv, x -> x * qscale)`; recall of brute-force top-k over
    * the dequantized vectors vs full precision is spec-asserted
    * (SimilaritySpec), which is what licenses serving ANN from the
    * compressed table. [[quantizeInt8]] is the oracle-checkable stats
    * twin over the same arithmetic. */
  def quantizeInt8Vectors(
      emb: DataFrame,
      idCol: String = "vec_id"): DataFrame =
    emb
      .withColumn("__v", toDouble(col("embedding")))
      .withColumn("__scale", greatest(
        array_max(transform(col("__v"), x => abs(x))) / 127.0, lit(1e-12)))
      .select(
        col(idCol),
        col("__scale").as("qscale"),
        transform(col("__v"),
          x => round(x / col("__scale")).cast("byte")).as("qv"))

  /** The FULL embedding sign-bucket LSH near-dup pipeline on an
    * ORACLE-STATEABLE basis — the d22 argument applied to embeddings:
    * d06/e03 ride xxhash64-derived hyperplanes over float dot products
    * (impl-specific → rows-only forever), while this twin (1) quantizes
    * each vector with [[quantizeInt8Vectors]]' exact construction,
    * (2) buckets by the sign of an INTEGER dot product against ±1
    * hyperplanes whose components come from an md5 nibble (h(bit,dim) =
    * +1 iff the first hex char of md5(bit:dim) < '8' — a per-vector
    * positive rescaling never flips these signs, so quantization noise
    * aside the bucketing matches the float construction), and
    * (3) verifies bucket-equal candidate pairs with e12's exact
    * integer-sum cosine. Every stage is integer/string arithmetic both
    * engines compute bit-identically, so candidate generation AND
    * verification sit under the driver gate. Scale: identical to d06's
    * production shape — one quantize scan, one (vec, bit) partial-agg,
    * bucket-equality join (≈1/2^bits of all pairs), exact rescore only
    * on candidates. Returns (a, b, sim). */
  def md5SignBucketPairs(
      emb: DataFrame,
      bits: Int = 8,
      threshold: Double = 0.3): DataFrame = {
    val q = ManagedCache.persist(quantizeInt8Vectors(emb)
      .select(col("vec_id"),
        transform(col("qv"), x => x.cast("long")).as("qvl")))
    val d = q.select(col("vec_id"), posexplode(col("qvl"))
        .as(Seq("pos", "v")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("ord"),
        col("v"))
    val sgn = when(substring(md5(concat_ws(":",
      col("bit").cast("string"), col("ord").cast("string"))), 1, 1) < "8",
      lit(1L)).otherwise(lit(-1L))
    // Persisted: the self-join below reads `buckets` from both sides —
    // without it the dominant explode + two-aggregate signature pipeline
    // computes twice per run (the same discipline simhashNearDupPairs
    // and minhashNearDupPairs apply to their banding frames; (vec_id,
    // bucket) is one long per vector, always small vs the corpus).
    val buckets = ManagedCache.persist(d
      .select(col("vec_id"), col("ord"), col("v"),
        explode(sequence(lit(0), lit(bits - 1))).as("bit"))
      .withColumn("sv", col("v") * sgn)
      .groupBy("vec_id", "bit").agg(sum(col("sv")).as("dot"))
      .groupBy("vec_id")
      .agg(sum(when(col("dot") > 0,
        call_function("shiftleft", lit(1L), col("bit")))
        .otherwise(lit(0L))).as("bucket")))
    val cand = buckets.alias("l").join(buckets.alias("r"),
        col("l.bucket") === col("r.bucket") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("a"), col("r.vec_id").as("b"))
    val withVec = cand
      .join(q.select(col("vec_id").as("a"), col("qvl").as("qa")), "a")
      .join(q.select(col("vec_id").as("b"), col("qvl").as("qb")), "b")
    val i1 = aggregate(zip_with(col("qa"), col("qb"), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    val n2a = aggregate(col("qa"), lit(0L), (acc, x) => acc + x * x)
    val n2b = aggregate(col("qb"), lit(0L), (acc, x) => acc + x * x)
    withVec
      .withColumn("sim",
        round(when(n2a === 0 || n2b === 0, lit(-1.0))
          .otherwise(i1.cast("double") /
            sqrt((n2a * n2b).cast("double"))), 4) + lit(0.0))
      .filter(col("sim") >= threshold)
      .select("a", "b", "sim")
  }

  /** Interpreted HOF formulation of [[signBucket]] (cross-check only). */
  private[graft] def signBucketHof(v: Column, bits: Int): Column = {
    val planes = (0 until bits).map { i =>
      // component_d = (hash(i, d) mod 2001 - 1000) / 1000  ∈ [-1, 1]
      val comp = zip_with(v, sequence(lit(0), size(v) - 1),
        (x, dIdx) => x * ((pmod(xxhash64(lit(i), dIdx), lit(2001L)) - 1000L)
          .cast("double") / 1000.0))
      val d = aggregate(comp, lit(0.0), (acc, x) => acc + x)
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    planes.reduce(_ + _)
  }

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * `queries` and `corpus` both carry (idCol, embedding). Scoring uses the
    * native [[Kernels.cosine_sim]] kernel — one fused loop per
    * pair inside whole-stage codegen (vs three interpreted lambda trees for
    * the `aggregate`/`zip_with` composition). */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int): DataFrame = {
    // raw float arrays straight into the native cosine (it widens per
    // element): no `transform` cast HOF, so the scoring projection stays
    // inside whole-stage codegen and no converted array is allocated per
    // row — this is the |Q|×N hot loop
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    val c = Dedup.spread(corpus).select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(VectorExpressions.cosineSim(col("qv"), col("cv")), 4))
    rankTopK(scored, k)
  }

  /** Exact cosine RANGE SEARCH: every (query, corpus) pair whose rounded
    * cosine reaches `tau`. Same broadcast-query / one-corpus-scan shape as
    * [[bruteForceTopK]] but with no ranking state at all — the threshold
    * filter runs map-side inside the scan stage, so the operator is a pure
    * narrow pipeline (output size is data-dependent, unlike top-k).
    * Thresholding on the ROUNDED sim keeps the radius boundary
    * deterministic cross-engine (e01's tie rule, applied to membership). */
  def rangeSearch(
      queries: DataFrame,
      corpus: DataFrame,
      tau: Double): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    val c = Dedup.spread(corpus).select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(VectorExpressions.cosineSim(col("qv"), col("cv")), 4))
      .filter(col("sim") >= tau)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
  }

  /** RECALL AUDIT GATE shared by the ANN / near-dup audit twins: given an
    * approximate result and the exact result it approximates (matched on
    * `keys`, e.g. (query_id, neighbor_id) or (a, b)), compute overall
    * recall = |exact ∩ approx| / |exact| and emit ONE violation row
    * `(n_exact, n_hit, recall)` iff recall < `floor` — empty otherwise.
    *
    * This is how the rows-only LSH/IVF/PQ/minhash families become
    * driver-VISIBLE: their outputs are hash-seeded and not reproducible in
    * the driver's DuckDB oracle, but "recall vs the exact twin never drops
    * below the floor the spec asserts" IS checkable — the oracle states
    * the empty relation with this schema, so a recall regression flips
    * the driver's row/hash compare red instead of moving no signal at
    * all. Fully distributed: two aggregates over the joined frames, no
    * driver-side collect; at 100 TB the exact side runs over a sampled
    * query set exactly like d07's audit twin.
    *
    * An empty EXACT side yields no row (vacuously green): the recall
    * ratio is null and the `< floor` filter drops it. */
  def recallViolations(
      approx: DataFrame,
      exact: DataFrame,
      keys: Seq[String],
      floor: Double): DataFrame = {
    val hit = approx.select(keys.map(col): _*).dropDuplicates(keys)
      .withColumn("_hit", lit(1L))
    exact.select(keys.map(col): _*)
      .join(hit, keys, "left")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum("_hit"), lit(0L)).as("n_hit"))
      .select(col("n_exact"), col("n_hit"),
        // ANSI mode: 0/0 must stay a null (vacuously green), not a
        // DIVIDE_BY_ZERO error on an empty exact side
        when(col("n_exact") === 0, lit(null).cast("double"))
          .otherwise(col("n_hit").cast("double") / col("n_exact"))
          .as("_recall_raw"))
      // gate on the UNROUNDED ratio — rounding first would let a true
      // recall just under the floor round up and pass (e.g. a 1.0
      // containment floor satisfied by 0.99995 once the exact side tops
      // ~20k pairs); round only in the emitted violation row
      .filter(col("_recall_raw") < floor)
      .select(col("n_exact"), col("n_hit"),
        round(col("_recall_raw"), 4).as("recall"))
  }

  /** Oracle text for [[recallViolations]] twins: the empty relation with
    * the violation schema (BIGINT/BIGINT/DOUBLE ⇒ pandas int64/int64/
    * float64, matching the Spark parquet dump's empty frame). */
  val recallAuditOracle: String =
    """SELECT CAST(NULL AS BIGINT) AS n_exact, CAST(NULL AS BIGINT) AS n_hit,
      |CAST(NULL AS DOUBLE) AS recall WHERE 1=0"""
      .stripMargin.replace('\n', ' ')

  /** IVF RECALL CURVE — the nprobe/recall trade-off every deployed IVF
    * index is TUNED on (probe more cells → scan more of the corpus →
    * higher recall; the published recipe is "sweep nprobe, pick the
    * knee"). One row per swept nprobe: total exact-neighbor count over
    * the query set, how many the probe setting recovered, and the
    * recall ratio. The index is built ONCE and reused across the sweep
    * (the [[ivfTopK]] session cache), exactly as a tuning run amortizes
    * index construction; the brute-force reference is computed once and
    * persisted. */
  def ivfRecallCurve(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nlist: Int,
      nprobes: Seq[Int]): DataFrame = {
    val exact = ManagedCache.persist(
      bruteForceTopK(queries, corpus, k)
        .select("query_id", "neighbor_id"))
    nprobes.map { np =>
      val hit = ivfTopK(queries, corpus, k, nlist, np)
        .select("query_id", "neighbor_id").withColumn("_hit", lit(1L))
      exact.join(hit, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum("_hit"), lit(0L)).as("n_hit"))
        .select(lit(np.toLong).as("nprobe"), col("n_exact"),
          col("n_hit"),
          when(col("n_exact") === 0, lit(null).cast("double"))
            .otherwise(col("n_hit").cast("double") / col("n_exact"))
            .as("recall"))
    }.reduce(_ unionByName _)
  }

  /** Violations of the two THEOREMS an IVF recall curve must satisfy —
    * the audit twin that makes the rows-only curve driver-gateable:
    * (a) MONOTONICITY: probing more cells can only grow the candidate
    * set, and under the total (sim, id) ranking order a new candidate
    * can only displace a true positive from the approximate top-k if
    * it outranks it — in which case the newcomer is itself in the
    * exact top-k — so n_hit is non-decreasing in nprobe; (b) FULL
    * PROBE IS EXACT: nprobe = nlist scans every cell, so the "approx"
    * and exact answers coincide. A violation row of either kind means
    * the index, the probe ranking, or the tie-break discipline broke.
    * Both checks are plain relational algebra over the (tiny) curve. */
  def recallCurveViolations(curve: DataFrame, nlist: Int): DataFrame = {
    val c = curve.select(col("nprobe"), col("n_exact"), col("n_hit"))
    val mono = c.as("a").join(c.as("b"),
        col("a.nprobe") < col("b.nprobe") &&
          col("b.n_hit") < col("a.n_hit"))
      .select(lit("monotonicity").as("kind"),
        col("b.nprobe").as("nprobe"), col("b.n_hit").as("n_hit"),
        col("a.n_hit").as("n_ref"))
    val full = c.filter(col("nprobe") >= nlist &&
        col("n_hit") =!= col("n_exact"))
      .select(lit("full_probe_exact").as("kind"), col("nprobe"),
        col("n_hit"), col("n_exact").as("n_ref"))
    mono.unionByName(full)
  }

  /** HARD-NEGATIVE MINING — contrastive-training data prep: for each
    * query vector, the top-k most similar corpus vectors with a DIFFERENT
    * label (high-similarity wrong-class examples are the negatives that
    * actually teach a contrastive/embedding model; random negatives are
    * trivially separable). Identical plan shape to [[bruteForceTopK]]
    * (broadcast query set, one corpus scan, fused native cosine, partial
    * k-heap ranking) with the label-mismatch predicate fused into the
    * join — the filter prunes before scoring ever materializes a row. At
    * 100 TB, swap the scan for [[annTopK]]'s buckets exactly as for
    * positives. */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("label").as("qlabel"), col("embedding").as("qv"))
    val c = Dedup.spread(corpus).select(col("vec_id").as("neighbor_id"),
      col("label").as("clabel"), col("embedding").as("cv"))
    val scored = c.join(broadcast(q),
      col("query_id") =!= col("neighbor_id") &&
        col("qlabel") =!= col("clabel"))
      .withColumn("sim",
        round(VectorExpressions.cosineSim(col("qv"), col("cv")), 4))
    rankTopK(scored.select("query_id", "neighbor_id", "sim"), k)
  }

  /** PRE-FILTER vs POST-FILTER kNN — the filtered-search semantic every
    * vector store has to choose (and document): applying a metadata
    * predicate BEFORE ranking returns the true top-k of the filtered
    * candidate set; applying it AFTER (rank globally, then filter)
    * silently returns FEWER than k — the global top-k may contain few
    * predicate-matching rows — and the missing results are precisely
    * the filtered-set neighbors ranked below the global horizon.
    * Emits per query: n_pre (the filtered top-k count), n_post (how
    * many survive post-filtering the global top-k), and the deficit —
    * post-filter recall loss made exact and gateable.
    *
    * Both branches share the one broadcast-query corpus scan shape of
    * [[bruteForceTopK]]; ranking uses the rounded-sim + neighbor-id
    * tie-break discipline (e01) so both engines rank identically.
    * Scale: pre-filtering SHRINKS the scored set (the predicate
    * reaches the scan; selective predicates skip most of the corpus),
    * which is why pre-filter is also the 100 TB-efficient choice —
    * post-filter pays the full scan AND loses recall. */
  def filteredKnnDeficit(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("label").as("qlabel"), col("embedding").as("qv"))
    val c = Dedup.spread(corpus).select(col("vec_id").as("neighbor_id"),
      col("label").as("clabel"), col("embedding").as("cv"))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(VectorExpressions.cosineSim(col("qv"), col("cv")), 4))
    val pre = rankTopK(scored.filter(col("qlabel") === col("clabel"))
        .select("query_id", "neighbor_id", "sim"), k)
      .groupBy("query_id").agg(count(lit(1)).as("n_pre"))
    val post = rankTopK(
        scored.select("query_id", "neighbor_id", "sim"), k)
      .join(c.select("neighbor_id", "clabel"), "neighbor_id")
      .join(q.select("query_id", "qlabel"), "query_id")
      .filter(col("qlabel") === col("clabel"))
      .groupBy("query_id").agg(count(lit(1)).as("n_post"))
    // anchored on the QUERY list, not on pre: a query with zero
    // same-label candidates (unique/new label) produces no pre row, and
    // a pre-anchored report silently dropped it — the most degenerate
    // query is exactly the one a deficit report exists to surface
    q.select(col("query_id"))
      .join(pre, Seq("query_id"), "left")
      .join(post, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_pre"), lit(0L)).as("n_pre"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        (coalesce(col("n_pre"), lit(0L)) -
          coalesce(col("n_post"), lit(0L))).as("deficit"))
  }

  private[graft] case class MmrCand(
      query_id: Long, neighbor_id: Long, sim: Double, cv: Array[Float])
  private[graft] case class MmrHit(
      query_id: Long, neighbor_id: Long, mmr: Double, rn: Int)

  /** Plain-Scala cosine over raw float arrays (double accumulation) —
    * the per-group scoring kernel for [[mmrTopK]]'s greedy loop; matches
    * [[VectorExpressions.cosineSim]]'s arithmetic. */
  private[graft] def cosF(a: Array[Float], b: Array[Float]): Double = {
    var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
    while (i < a.length && i < b.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else d / math.sqrt(na) / math.sqrt(nb)
  }

  /** MMR (MAXIMAL MARGINAL RELEVANCE) diversified retrieval — re-ranks
    * each query's candidate list so the served k trade relevance against
    * redundancy: greedy argmax of
    * `λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s)` (Carbonell &
    * Goldstein 1998). Retrieval-augmented training-data pipelines use
    * this to stop near-duplicate passages from crowding out coverage —
    * the serving-side complement of SemDeDup's corpus-side dedup (e08).
    *
    * Spark shape: candidates come from [[bruteForceTopK]] (broadcast
    * query set, ONE corpus scan, fused native cosine, k-heap ranking —
    * the e01 plan; swap in [[annTopK]]/[[ivfTopK]] at 100 TB), candidate
    * vectors rejoin by id, and the greedy re-rank runs as a TYPED
    * `flatMapGroups` per query — each group holds ≤ candidateK rows, so
    * the quadratic loop touches ≤ candidateK²·k pairs per query,
    * distributed across the query_id shuffle's partitions, never the
    * driver. DETERMINISTIC: candidates sort by (rounded sim desc, id
    * asc) before the greedy loop, strict `>` keeps the first (best-sim,
    * lowest-id) winner on score ties, and all doubles fold in that fixed
    * order. Rows-only entry (iterative greedy has no SQL twin);
    * SimilaritySpec asserts determinism, candidate containment,
    * first-pick = top-1, and the de-crowding property on a constructed
    * near-duplicate fixture. */
  def mmrTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      candidateK: Int = 30,
      lambda: Double = 0.5): DataFrame = {
    val sp = queries.sparkSession
    import sp.implicits._
    val cands = bruteForceTopK(queries, corpus, candidateK)
    cands.join(
      corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("cv"))
      .as[MmrCand]
      .groupByKey(_.query_id)
      .flatMapGroups { (qid: Long, it: Iterator[MmrCand]) =>
        val remaining = scala.collection.mutable.ArrayBuffer(
          it.toArray.sortBy(c => (-c.sim, c.neighbor_id)): _*)
        val selected = scala.collection.mutable.ArrayBuffer.empty[MmrCand]
        val out = Seq.newBuilder[MmrHit]
        while (selected.length < k && remaining.nonEmpty) {
          var bestIdx = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < remaining.length) {
            val c = remaining(i)
            var red = 0.0; var j = 0
            while (j < selected.length) {
              val s = cosF(c.cv, selected(j).cv)
              if (j == 0 || s > red) red = s
              j += 1
            }
            val score = lambda * c.sim - (1.0 - lambda) * red
            if (score > bestScore) { bestScore = score; bestIdx = i }
            i += 1
          }
          val pick = remaining.remove(bestIdx)
          selected += pick
          out += MmrHit(qid, pick.neighbor_id,
            math.rint(bestScore * 1e4) / 1e4, selected.length)
        }
        out.result()
      }
      .toDF()
  }

  /** NEAREST-CENTROID CLASSIFICATION over the int8-quantized corpus —
    * the label-propagation serving step that pairs with [[
    * quantizeInt8Vectors]] (e06): per-label centroids form in the
    * QUANTIZED space, and every vector scores against all centroids by
    * cosine, predicting the argmax label. The weak-labeling /
    * auto-curation primitive: route new documents to the nearest topical
    * cluster without a model.
    *
    * DETERMINISM (the reason for the quantized space): every similarity
    * derives from three INTEGER sums — I1 = Σ qvᵢ·sᵢ (vector·centroid
    * numerator), I2 = Σ qvᵢ² (vector), I3 = Σ sᵢ² (centroid), where s is
    * the per-dimension integer SUM of the label's quantized vectors (the
    * un-normalized centroid; cosine is scale-invariant so the 1/n and
    * qscale factors cancel) — so `I1/sqrt(I2·I3)` is one double
    * expression over exact integers: bit-identical on any engine, no
    * float-fold order anywhere. Ranking uses the ROUNDED sim with a
    * label tie-break on both engines; degenerate zero vectors/centroids
    * pin sim = -1 rather than NaN.
    *
    * Scale: one quantized scan + a 64×|labels| integer partial-agg
    * builds the centroid table (tiny — it BROADCASTS); scoring is
    * per-row fused-HOF work over |labels| broadcast rows, ranked by the
    * k=1 partial heap — no corpus shuffle at all. */
  def nearestCentroid(emb: DataFrame): DataFrame = {
    // persisted: the quantized+labeled corpus feeds BOTH the centroid
    // aggregation and the scoring scan — without the cache the quantize
    // HOFs and the label join run twice (the round-1 double-compute bug
    // class)
    val q = ManagedCache.persist(quantizeInt8Vectors(emb)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id"), col("label"),
        transform(col("qv"), x => x.cast("long")).as("qvl")))
    val cent = labelCentroids(q)
    // r17 optimization (guide §4): i1/i2 via the native fused-loop
    // long_dot kernel instead of interpreted aggregate/zip_with HOFs —
    // the per-(vector, candidate-label) dot was walking two lambda trees
    // per dimension outside codegen. Exact integer math, outputs
    // bit-identical (same sums).
    val scored = q
      .withColumn("i2", VectorExpressions.longDot(col("qvl"), col("qvl")))
      .crossJoin(broadcast(cent.select(
        col("label").cast("long").as("cand_label"), col("cs"), col("i3"))))
      .withColumn("i1", VectorExpressions.longDot(col("qvl"), col("cs")))
      .withColumn("sim",
        round(when(col("i2") === 0L || col("i3") === 0L, lit(-1.0))
          .otherwise(col("i1").cast("double") /
            sqrt(col("i2").cast("double") * col("i3").cast("double"))), 4))
    rankTopK(scored.select(col("vec_id").as("query_id"),
      col("cand_label").as("neighbor_id"), col("sim")), 1)
      .join(emb.select(col("vec_id"), col("label")),
        col("query_id") === col("vec_id"))
      .select(col("vec_id"), col("label"),
        col("neighbor_id").cast("int").as("pred_label"), col("sim"))
  }

  /** One distributed Lloyd (k-means) iteration over the quantized corpus,
    * fully oracle-gated: seeds are the k lowest-id vectors, assignment is
    * exact-integer-sum cosine against the broadcast seed set (e12's
    * bit-identical construction — every i1/i2/i3 is a sum of int64
    * products, so both engines rank identical rounded sims with a
    * seed-id tie-break), and the update emits per-(cluster, dim) integer
    * sums + member counts, i.e. the sufficient statistics of the new
    * centroids. `mean_q` divides two exact integers, so even the double
    * output is deterministic cross-engine.
    *
    * Scale: the seed set (k × dim longs) broadcasts; assignment is ONE
    * corpus scan with a per-row fused loop; the update is a single
    * (cluster, ord) partial-agg shuffle carrying k × dim × tasks rows.
    * Iterating = re-running with the emitted centroids as next seeds —
    * each round is this same one-scan-one-shuffle shape, which is
    * exactly how MLlib's KMeans schedules a round. The reference's
    * k-means surface is the IVF coarse quantizer intent
    * (`tmp/select.rs:1` plan-only engine; ANN families e05/e08-e10
    * already train on it); this entry puts the training-round arithmetic
    * itself under the driver's hash gate. */
  def kmeansStep(emb: DataFrame, k: Int): DataFrame = {
    // persisted: the quantized corpus feeds BOTH the seed lookup /
    // assignment scan AND the update explode (nearestCentroid's
    // double-compute precedent)
    val q = ManagedCache.persist(quantizeInt8Vectors(emb)
      .select(col("vec_id"),
        transform(col("qv"), x => x.cast("long")).as("qvl")))
    val seeds = q.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster_id"), col("qvl").as("cv"))
      .withColumn("i3", VectorExpressions.longDot(col("cv"), col("cv")))
    // native long_dot for the per-(vector, seed) integer sums (e12's r17
    // rewire) — identical exact-integer outputs, fused codegen loop
    val scored = q
      .withColumn("i2", VectorExpressions.longDot(col("qvl"), col("qvl")))
      .crossJoin(broadcast(seeds))
      .withColumn("i1", VectorExpressions.longDot(col("qvl"), col("cv")))
      .withColumn("sim",
        round(when(col("i2") === 0L || col("i3") === 0L, lit(-1.0))
          .otherwise(col("i1").cast("double") /
            sqrt(col("i2").cast("double") * col("i3").cast("double"))), 4))
    val assigned = rankTopK(scored.select(col("vec_id").as("query_id"),
      col("cluster_id").as("neighbor_id"), col("sim")), 1)
      .select(col("query_id").as("vec_id"),
        col("neighbor_id").as("cluster_id"))
    assigned.join(q, "vec_id")
      .select(col("cluster_id"),
        posexplode(col("qvl")).as(Seq("ord", "v")))
      .groupBy("cluster_id", "ord")
      .agg(count(lit(1)).as("n_members"), sum(col("v")).as("s"))
      .select(col("cluster_id").cast("int").as("cluster_id"),
        col("ord"), col("n_members"), col("s"),
        (round(col("s").cast("double") / col("n_members").cast("double"), 4)
          + lit(0.0)).as("mean_q"))
  }

  /** Approximate top-k: both sides bucketed by [[signBucket]]; queries probe
    * their own bucket plus all 1-bit-flip neighbors (multi-probe) and rank
    * exactly within candidates. */
  def annTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      bits: Int = 4): DataFrame =
    lshQuery(queries, lshBucketedCodes(corpus, bits), k, bits)

  /** The LSH index table: each corpus vector with its sign bucket —
    * what [[annTopK]] computes inline and [[saveLshIndexForStore]]
    * persists. Bucketing is a pure function of the vector (deterministic
    * hash-derived hyperplanes), so codes computed on any subset of rows
    * equal what a full rebuild would assign to them. */
  private def lshBucketedCodes(corpus: DataFrame, bits: Int): DataFrame =
    Dedup.spread(corpus).select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"))
      .withColumn("bucket", signBucket(col("cv"), bits))

  /** The query stage shared by [[annTopK]] (codes computed inline) and
    * [[lshIndexTopK]] (codes-at-rest): multi-probe bucket-equality join,
    * exact cosine within candidates. */
  private def lshQuery(
      queries: DataFrame, codes: DataFrame, k: Int, bits: Int): DataFrame = {
    val probes = array(
      (lit(0L) +: (0 until bits).map(b => lit(1L << b).cast("long"))): _*)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
      .withColumn("qbucket", signBucket(col("qv"), bits))
      .withColumn("probe", explode(probes))
      .withColumn("bucket", col("qbucket").bitwiseXOR(col("probe")))
    val scored = codes.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(VectorExpressions.cosineSim(col("qv"), col("cv")), 4))
    // a multi-probed query can meet the same neighbor through several
    // probe buckets only if their buckets differ — impossible for a
    // fixed (query, neighbor) pair, so no distinct is needed before
    // the heap ranking (same argument as signBucketCandidates)
    rankTopK(scored, k)
  }

  /** IVF (inverted-file) approximate top-k — the classic coarse-quantizer
    * ANN: k-means partitions the corpus into `nlist` cells; each query
    * scans only its `nprobe` nearest cells. Complements [[annTopK]]'s LSH
    * buckets with a data-adaptive partitioning (better recall on clustered
    * embeddings at the same scan fraction).
    *
    * Scale: the corpus is scanned once to train (sampled in a real
    * deployment) and once to assign; centroids (nlist × dim doubles) are
    * tiny and broadcast to both queries and the probe join. The candidate
    * join shuffles on cell id — O(Q × N × nprobe / nlist) work, never
    * all-pairs — and cell sizes are balanced by k-means itself. */
  /** Session-scoped trained-index cache: the coarse quantizer PLUS the
    * assigned corpus are the IVF INDEX — built once per (corpus, nlist,
    * trainCap) and reused across queries, exactly as a deployed ANN
    * service amortizes index construction. Caching the model alone (as
    * round 4 did) left every repeated query re-running
    * `model.transform` over a re-persisted corpus — the assignment scan
    * is part of the index, so it lives in the same entry.
    * Keyed by the corpus's CANONICALIZED PLAN (structural equality, not
    * its 32-bit hashCode — a hash collision between two corpora would
    * silently reuse an index built on the wrong data) and bounded: a
    * LinkedHashMap evicts the oldest entry past `ivfIndexCacheMax` (its
    * persisted frame stays tracked by ManagedCache and is reclaimed at
    * the caller's next releaseAll). */
  private val ivfIndexCacheMax = 8
  private val ivfIndexes = scala.collection.mutable.LinkedHashMap
    .empty[(Int, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Int),
      (org.apache.spark.ml.clustering.KMeansModel, DataFrame)]

  /** Index-build counter (train + assign happened) — lets SimilaritySpec
    * assert a repeated query on the same corpus reuses the built index
    * instead of re-scanning and re-assigning. */
  private[graft] var ivfIndexBuilds = 0

  /** `trainCap` bounds the k-means TRAINING set: training scans a
    * hash-thresholded sample of ~trainCap rows instead of the full corpus
    * — at 100 TB the quantizer trains on a fixed-size subset while
    * assignment still covers every row (one full scan, as it must).
    * Hash-threshold sampling (`xxhash64(id) mod M < frac·M`) is
    * content-deterministic: unlike `df.sample`, whose output depends on
    * partition layout, the same ids train the same model on any cluster
    * shape, keeping the index reproducible. */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      trainCap: Int = 100000): DataFrame = {
    val (model, assigned) = builtIvfIndex(corpus, nlist, trainCap)
    ivfQuery(queries, model, assigned, k, nprobe)
  }

  /** Data-adaptive cell count for quadratic-per-cell stages: one cell per
    * `targetCell` vectors (ceil), floored at 16 so tiny corpora still
    * bucket, capped at N (k-means requires k <= points). The count() is
    * one column-pruned scan, paid once before training — the price of
    * keeping Σ_cells |cell|² ≈ N·targetCell instead of N²/constant. */
  private def adaptiveNlist(emb: DataFrame, targetCell: Int): Int = {
    val n = emb.count()
    math.max(1L, math.min(n, math.max(16L,
      (n + targetCell - 1) / targetCell))).toInt
  }

  /** Deterministic hash-thresholded training sample of ~trainCap rows
    * (`xxhash64(id) mod M < frac·M`) — content-deterministic, unlike
    * df.sample whose output depends on partition layout; the same ids
    * train the same model on any cluster shape. `n` is the caller's
    * already-paid count of `c`. Shared by every quantizer trainer. */
  private def trainSample(c: DataFrame, n: Long, trainCap: Int): DataFrame =
    if (n <= trainCap) c
    else {
      val thresh = (trainCap.toDouble / n * 1000000L).toLong.max(1L)
      c.filter(pmod(xxhash64(col("neighbor_id")), lit(1000000L)) < thresh)
    }

  /** Train-or-reuse the session-cached IVF index for `corpus`. */
  private def builtIvfIndex(
      corpus: DataFrame,
      nlist: Int,
      trainCap: Int): (org.apache.spark.ml.clustering.KMeansModel, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    // the SESSION is part of the key: canonicalized plans of the same
    // parquet read compare equal across sessions, but the cached assigned
    // frame is bound to the session that persisted it — a cross-session
    // hit would hand out a frame whose context may be stopped
    val cacheKey = (System.identityHashCode(spark),
      corpus.queryExecution.analyzed.canonicalized, nlist, trainCap)
    ivfIndexes.synchronized {
      val entry = ivfIndexes.getOrElseUpdate(cacheKey, {
        ivfIndexBuilds += 1
        val c = ManagedCache.persist(Dedup.spread(corpus)
          .select(col("vec_id").as("neighbor_id"),
            toDouble(col("embedding")).as("cv"))
          .withColumn("features", array_to_vector(col("cv"))))
        // count() is one pass over the just-cached frame, paid once per
        // built index — it sizes the deterministic training sample
        val n = c.count()
        val train = trainSample(c, n, trainCap)
        val m = new KMeans()
          .setK(nlist).setSeed(42).setMaxIter(5)
          .setFeaturesCol("features").setPredictionCol("list_id")
          .fit(train)
        (m, ManagedCache.persist(m.transform(c).drop("features")))
      })
      while (ivfIndexes.size > ivfIndexCacheMax)
        ivfIndexes -= ivfIndexes.head._1
      // a CACHE HIT after the caller's ManagedCache.releaseAll (the
      // documented per-query isolation step) would otherwise return a
      // permanently unpersisted frame that re-scans on every action —
      // persist() is idempotent when the frame is still cached and
      // re-registers it when it was released
      (entry._1, ManagedCache.persist(entry._2))
    }
  }

  /** SEMANTIC DEDUPLICATION pairs (the SemDeDup shape, Abbas et al. 2023,
    * arXiv:2303.09540): k-means partitions the embedding space into
    * `nlist` cells (the IVF coarse quantizer, index reused via
    * [[builtIvfIndex]]'s session cache), then exact pairwise cosine runs
    * ONLY within each cell — near-duplicate semantics live at high
    * cosine, and high-cosine pairs land in the same cell with high
    * probability, so the quadratic work is confined to cell-local blocks.
    * Returns (a, b, cos) with a < b, cos >= threshold.
    *
    * Scale: cost is Σ_cells |cell|² ≈ N²/nlist for balanced cells — run
    * with nlist ∝ N (fixed target cell size, the published recipe) and
    * each cell's block is a bounded self-join keyed on list_id; no
    * all-pairs stage exists. Cross-cell near-dups are the recall loss the
    * technique accepts (spec-measured against brute force).
    *
    * `nlist <= 0` (the default) derives the cell count from the corpus
    * itself via [[adaptiveNlist]]: ceil(N / 128) cells keeps every cell's
    * quadratic block at ~128² regardless of N, so total work is
    * N·128 — linear. A FIXED nlist is the scale trap this replaces: at
    * 16 cells a 50k-vector corpus already means 3,125-row cells (~78M
    * intra-cell pairs, OOM on one executor); pass an explicit nlist only
    * for small fixtures/specs. */
  def semDedupPairs(
      emb: DataFrame,
      threshold: Double,
      nlist: Int = -1,
      trainCap: Int = 100000): DataFrame = {
    val cells = if (nlist > 0) nlist else adaptiveNlist(emb, 128)
    val (_, assigned) = builtIvfIndex(emb, cells, trainCap)
    assigned.select(col("list_id"), col("neighbor_id").as("a"),
        col("cv").as("va"))
      .join(assigned.select(col("list_id"), col("neighbor_id").as("b"),
        col("cv").as("vb")), Seq("list_id"))
      .filter(col("a") < col("b"))
      .withColumn("cos",
        round(VectorExpressions.cosineSim(col("va"), col("vb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Keep-one-per-duplicate-group resolution over [[semDedupPairs]]:
    * connected components of the >= threshold graph (min-label
    * propagation, [[Dedup.duplicateClusters]]) with the smallest vec_id
    * as the kept representative. Returns one row per vector
    * (vec_id, rep, keep) — `keep` marks the survivor of each group;
    * singletons keep themselves. */
  def semDedupKeep(
      emb: DataFrame,
      threshold: Double,
      nlist: Int = -1,
      trainCap: Int = 100000): DataFrame = {
    val pairs = semDedupPairs(emb, threshold, nlist, trainCap)
    Dedup.duplicateClusters(pairs, emb.select(col("vec_id").as("doc_id")))
      .select(col("doc_id").as("vec_id"), col("rep"),
        (col("doc_id") === col("rep")).as("keep"))
  }

  /** LABEL-CENTROID CONFUSION MATRIX — embedding-quality observability:
    * pairwise cosine similarity between per-label centroid vectors, the
    * one-table readout of WHICH classes an embedding space confuses
    * (high centroid similarity = classes a nearest-centroid or contrastive
    * consumer will mix up). Built on [[nearestCentroid]]'s integer-sum
    * construction — centroids are exact integer sums over the int8
    * quantized corpus and every similarity derives from integer i1/i3
    * moments — so the whole matrix is bit-identical cross-engine and
    * runs under the DuckDB hash gate. Scale: one quantize scan, one
    * (label, ord) partial agg; the pairwise join is labels² over a
    * label-count-sized table — trivially broadcastable. */
  /** Integer label-centroid frame (label, cs, i3) shared by e12's
    * nearest-centroid classifier and e14's centroid matrix: per-dimension
    * SUM of the int8-quantized components (ordered via array_sort of
    * (ord, s) structs — deterministic after the shuffle) plus the squared
    * second moment. ONE definition of this oracle-critical integer
    * arithmetic — both hash gates depend on it being bit-identical, and
    * the two entries previously carried verbatim copies that could
    * silently drift apart. Input must carry (label, qvl). */
  private def labelCentroids(q: DataFrame): DataFrame = q
    .select(col("label"), posexplode(col("qvl")).as(Seq("ord", "v")))
    .groupBy("label", "ord").agg(sum(col("v")).as("s"))
    .groupBy("label").agg(
      transform(array_sort(collect_list(struct(col("ord"), col("s")))),
        x => x.getField("s")).as("cs"))
    .withColumn("i3",
      aggregate(col("cs"), lit(0L), (a, x) => a + x * x))

  def labelCentroidMatrix(emb: DataFrame): DataFrame = {
    val q = quantizeInt8Vectors(emb)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .select(col("label"),
        transform(col("qv"), x => x.cast("long")).as("qvl"))
    val cent = labelCentroids(q)
    cent.alias("a").join(cent.alias("b"), col("a.label") < col("b.label"))
      .withColumn("i1", aggregate(
        zip_with(col("a.cs"), col("b.cs"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        (round(when(col("a.i3") === 0L || col("b.i3") === 0L, lit(-1.0))
          .otherwise(col("i1").cast("double") /
            sqrt(col("a.i3").cast("double") * col("b.i3").cast("double"))),
          4) + lit(0.0)).as("centroid_sim"))
  }

  /** INDEX PERSISTENCE — the deployed-ANN-service lifecycle: the trained
    * quantizer plus the assigned corpus ARE the index; a maintenance job
    * builds and [[saveIvfIndex]]s them, serving sessions
    * [[loadIvfIndex]] + [[ivfQuery]] without ever re-scanning or
    * re-training. The assigned corpus writes as plain parquet
    * (re-partitionable, bucketable by list_id at scale); the model is an
    * MLlib writer artifact (centroids — tiny). */
  def saveIvfIndex(
      path: String,
      corpus: DataFrame,
      nlist: Int = 16,
      trainCap: Int = 100000): Unit = {
    val (model, assigned) = builtIvfIndex(corpus, nlist, trainCap)
    model.write.overwrite().save(s"$path/model")
    assigned.write.mode("overwrite").parquet(s"$path/assigned")
  }

  /** Load a saved IVF index; the assigned corpus is persisted (tracked,
    * released by the caller's ManagedCache.releaseAll like every other
    * pipeline cache). */
  def loadIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (org.apache.spark.ml.clustering.KMeansModel, DataFrame) =
    (org.apache.spark.ml.clustering.KMeansModel.load(s"$path/model"),
      ManagedCache.persist(spark.read.parquet(s"$path/assigned")))

  // ---- commit-anchored index lifecycle ---------------------------------

  /** Build + [[saveIvfIndex]] an IVF index over a VERSIONED-STORE table
    * ([[Dml]]'s commit-pointer dir) at its CURRENT version, recording
    * WHICH version the index reflects in an `anchor` sidecar beside the
    * model — the staleness identity [[refreshIvfIndexForStore]] reads.
    * This is the maintenance story [[saveIvfIndex]] alone lacks: a
    * saved index over a live table silently drifts as commits land; an
    * anchored one knows exactly what it reflects and what the next
    * commit changed. */
  def saveIvfIndexForStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      path: String,
      nlist: Int = 16,
      trainCap: Int = 100000): Unit = {
    val version = Dml.currentVersion(storeDir)
    saveIvfIndex(path, Dml.readVersion(spark, storeDir, version),
      nlist, trainCap)
    writeAnchor(spark, storeDir, path, version)
  }

  /** The anchor sidecar: (storeDir, version, data path, deletion-vector
    * rows, append path) — the same composition fingerprint
    * [[Mv.registerStore]] anchors summaries with, so refresh classifies
    * the next commit without ever scanning data. */
  private def writeAnchor(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String, path: String, version: String): Unit = {
    val dataPath = Dml.versionPath(storeDir, version)
    val dvRows = Dml.sidecarRows(spark, storeDir, version, "_dv")
    val appendP = Some(s"$storeDir/${version}_append")
      .filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      .getOrElse("")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "anchor"),
      Seq(storeDir, version, dataPath, dvRows.toString, appendP)
        .mkString("\n"))
  }

  /** Refresh a commit-anchored IVF index against its store's CURRENT
    * version, classified by VERSION COMPOSITION (the
    * [[Mv.registerStore]] refresh contract — sidecar commits rewrite
    * sidecar files every time, so a raw file diff would rebuild
    * forever):
    *  - pointer unmoved, or moved with identical composition → "fresh"
    *    (anchor advances, index untouched);
    *  - data directory swapped (optimize/rewrite DML), deletion vector
    *    grew (rows removed/updated — their assignments cannot be
    *    un-folded and centroids trained on them may no longer cover the
    *    space), or append-origin rows changed → "rebuilt": retrain +
    *    full reassign through [[saveIvfIndexForStore]];
    *  - PURE INSERT commit → "assigned": the SAVED quantizer (whose
    *    centroids are the index's identity) assigns JUST the appended
    *    rows and the codes append to the assigned corpus — O(new rows),
    *    no retraining, the IVF invariant that keeps daily ingest cheap
    *    at 100 TB (retraining is a multi-pass k-means scan of the
    *    corpus; assignment is one map over the delta). The recall
    *    contract is unchanged because the partition of the space — the
    *    centroid set — is bit-identical; only cell occupancy grows. */
  /** The shared commit classifier behind every anchored index refresh
    * (IVF / PQ / IVF-PQ): read the anchor, compare the store's CURRENT
    * version composition, and route —
    *  - pointer unmoved, or moved with identical composition → "fresh";
    *  - data dir swapped / vector grew / append-origin rows changed →
    *    `rebuild(storeDir)` (which must re-write the anchor) → "rebuilt";
    *  - PURE INSERT → `applyDelta(storeDir, delta)` with the appended-row
    *    multiset delta, anchor advanced here → `deltaLabel`.
    * CRASH SAFETY contract for applyDelta: the delta append and the
    * anchor write are two non-atomic effects — a refresh that died
    * between them leaves the delta committed under a stale anchor, and
    * the NEXT refresh recomputes the SAME delta; every applyDelta must
    * therefore dedup against the on-disk index by neighbor_id (unique
    * per corpus row) before appending, so a replayed delta appends
    * nothing and duplicates can never occupy top-k slots. Cost: one
    * id-projected index scan per refresh — never a corpus rewrite. */
  private def refreshAnchoredIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      deltaLabel: String,
      rebuild: String => Unit,
      applyDelta: (String, DataFrame) => Unit): String = {
    val a = java.nio.file.Files
      .readString(java.nio.file.Paths.get(path, "anchor")).split("\n", -1)
    val (storeDir, vOld, dataOld, dvOld, appOld) =
      (a(0), a(1), a(2), a(3).toLong, a(4))
    val cur = Dml.currentVersion(storeDir)
    if (cur == vOld) return "fresh"
    def rebuilt(): String = { rebuild(storeDir); "rebuilt" }
    if (Dml.versionPath(storeDir, cur) != dataOld ||
        Dml.sidecarRows(spark, storeDir, cur, "_dv") != dvOld)
      return rebuilt()
    // data + vector untouched: classify the append transition. Versions
    // are immutable, so the anchored version's append dir still exists
    // to diff against.
    val curAppP = Some(s"$storeDir/${cur}_append")
      .filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
    val oldApp = Some(appOld).filter(_.nonEmpty).map(spark.read.parquet(_))
    val newApp = curAppP.map(spark.read.parquet(_))
    def anchorOnly(): String = {
      writeAnchor(spark, storeDir, path, cur); "fresh"
    }
    (oldApp, newApp) match {
      case (Some(o), None) =>
        if (o.isEmpty) anchorOnly() else rebuilt()
      case (o, Some(n)) =>
        val old = o.getOrElse(n.limit(0))
        if (!old.exceptAll(n).isEmpty) rebuilt() // append rows changed
        else {
          val delta = n.exceptAll(old)
          if (delta.isEmpty) anchorOnly()
          else {
            applyDelta(storeDir, delta)
            writeAnchor(spark, storeDir, path, cur)
            deltaLabel
          }
        }
      case (None, None) => anchorOnly()
    }
  }

  def refreshIvfIndexForStore(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      nlist: Int = 16,
      trainCap: Int = 100000): String =
    refreshAnchoredIndex(spark, path, deltaLabel = "assigned",
      rebuild = storeDir =>
        saveIvfIndexForStore(spark, storeDir, path, nlist, trainCap),
      applyDelta = (_, delta) => {
        // ASSIGN-ONLY: same prep shape as builtIvfIndex, the saved
        // centroids assign just the delta — O(new rows), no retraining,
        // partition of the space bit-identical; the anti-join is the
        // classifier's replayed-delta dedup contract
        import org.apache.spark.ml.functions.array_to_vector
        val model = org.apache.spark.ml.clustering.KMeansModel
          .load(s"$path/model")
        model.transform(delta
            .select(col("vec_id").as("neighbor_id"),
              toDouble(col("embedding")).as("cv"))
            .withColumn("features", array_to_vector(col("cv"))))
          .drop("features")
          .join(spark.read.parquet(s"$path/assigned")
              .select("neighbor_id"),
            Seq("neighbor_id"), "left_anti")
          .write.mode("append").parquet(s"$path/assigned")
      })

  /** Build + save a commit-anchored LSH index over a versioned-store
    * table at its CURRENT version: the bucketed corpus as
    * (neighbor_id, bucket, cv) codes-at-rest, the bit count in `meta`,
    * and the anchor sidecar. Unlike IVF/PQ there is NO trained model —
    * the hyperplane set is a deterministic function of the bit index
    * ([[signBucket]]) — so the index's identity is just `bits`,
    * "rebuild" is one re-bucketing scan, and the pure-insert path
    * buckets ONLY the appended rows: determinism makes their buckets
    * bit-equal to what a full rebuild would assign, O(new rows) by
    * construction rather than by skipping a retrain. */
  def saveLshIndexForStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      path: String,
      bits: Int = 4): Unit = {
    val version = Dml.currentVersion(storeDir)
    lshBucketedCodes(Dml.readVersion(spark, storeDir, version), bits)
      .write.mode("overwrite").parquet(s"$path/codes")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "meta"), bits.toString)
    writeAnchor(spark, storeDir, path, version)
  }

  /** Refresh a commit-anchored LSH index ([[refreshIvfIndexForStore]]'s
    * contract, same classifier): pure-insert commits bucket ONLY the
    * appended rows (anti-joined by neighbor_id — the crash-replay dedup);
    * composition-breaking commits re-bucket the corpus. Returns
    * "fresh" / "bucketed" / "rebuilt". */
  def refreshLshIndexForStore(
      spark: org.apache.spark.sql.SparkSession,
      path: String): String = {
    val bits = java.nio.file.Files
      .readString(java.nio.file.Paths.get(path, "meta")).trim.toInt
    refreshAnchoredIndex(spark, path, deltaLabel = "bucketed",
      rebuild = storeDir =>
        saveLshIndexForStore(spark, storeDir, path, bits),
      applyDelta = (_, delta) =>
        lshBucketedCodes(delta, bits)
          .join(spark.read.parquet(s"$path/codes").select("neighbor_id"),
            Seq("neighbor_id"), "left_anti")
          .write.mode("append").parquet(s"$path/codes"))
  }

  /** Query a SAVED LSH index ([[saveLshIndexForStore]]) without touching
    * the corpus: [[annTopK]]'s multi-probe stage against the bucketed
    * codes-at-rest — the serving path of the anchored lifecycle. */
  def lshIndexTopK(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      path: String,
      k: Int): DataFrame = {
    val bits = java.nio.file.Files
      .readString(java.nio.file.Paths.get(path, "meta")).trim.toInt
    lshQuery(queries, spark.read.parquet(s"$path/codes"), k, bits)
  }

  /** Build + save a commit-anchored PQ index over a versioned-store
    * table at its CURRENT version: the m per-subspace codebook MODELS
    * (MLlib writer artifacts — the index's identity, loaded back for
    * encode-only refresh), the encoded corpus as (neighbor_id, codes
    * array<tinyint>), and the anchor sidecar. The PQ analog of
    * [[saveIvfIndexForStore]]. */
  def savePqIndexForStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      path: String,
      m: Int = 32,
      ksub: Int = 64,
      trainCap: Int = 100000): Unit = {
    require(ksub > 1 && ksub <= 127, s"ksub=$ksub must fit a tinyint code")
    val version = Dml.currentVersion(storeDir)
    val corpus = Dml.readVersion(spark, storeDir, version)
    val c = ManagedCache.persist(Dedup.spread(corpus)
      .select(col("vec_id").as("neighbor_id"),
        toDouble(col("embedding")).as("cv")))
    val dim = c.select(size(col("cv"))).first().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val models =
      trainPqModels(trainSample(c, c.count(), trainCap), dsub, m, ksub)
    models.zipWithIndex.foreach { case (mod, j) =>
      mod.write.overwrite().save(s"$path/sub_$j")
    }
    encodePqCodes(models, c, dsub)
      .select(col("neighbor_id"), packCodes(m).as("codes"))
      .write.mode("overwrite").parquet(s"$path/codes")
    writeAnchor(spark, storeDir, path, version)
  }

  /** The saved sub-models of a PQ index at `path`, ordered by subspace. */
  private def loadPqModels(
      path: String): Seq[org.apache.spark.ml.clustering.KMeansModel] = {
    val m = new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.matches("sub_\\d+"))
    require(m > 0, s"no PQ sub-models under $path")
    (0 until m).map(j =>
      org.apache.spark.ml.clustering.KMeansModel.load(s"$path/sub_$j"))
  }

  /** Refresh a commit-anchored PQ index — [[refreshIvfIndexForStore]]'s
    * contract with ENCODE-ONLY as the pure-insert path: the SAVED
    * codebooks (bit-identical on disk — the cells of the product space
    * never move) encode just the appended rows and the codes append to
    * the index, O(new rows); anything composition-breaking retrains via
    * [[savePqIndexForStore]]. Returns "fresh" / "encoded" / "rebuilt". */
  def refreshPqIndexForStore(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      m: Int = 32,
      ksub: Int = 64,
      trainCap: Int = 100000): String =
    refreshAnchoredIndex(spark, path, deltaLabel = "encoded",
      rebuild = storeDir =>
        savePqIndexForStore(spark, storeDir, path, m, ksub, trainCap),
      applyDelta = (_, delta) => {
        val models = loadPqModels(path)
        val c = delta.select(col("vec_id").as("neighbor_id"),
          toDouble(col("embedding")).as("cv"))
        val dim = c.select(size(col("cv"))).first().getInt(0)
        encodePqCodes(models, c, dim / models.size)
          .select(col("neighbor_id"), packCodes(models.size).as("codes"))
          .join(spark.read.parquet(s"$path/codes").select("neighbor_id"),
            Seq("neighbor_id"), "left_anti")
          .write.mode("append").parquet(s"$path/codes")
      })

  /** Query a SAVED PQ index ([[savePqIndexForStore]]) without touching
    * the corpus: reconstruct from codes-at-rest through the loaded
    * codebooks and rank — the serving path of the anchored lifecycle. */
  def pqIndexTopK(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      path: String,
      k: Int): DataFrame = {
    val codebooks = loadPqModels(path)
      .map(_.clusterCenters.map(_.toArray)).toArray
    pqAdcTopK(queries, spark.read.parquet(s"$path/codes"), codebooks, k)
  }

  /** Build + save a commit-anchored IVF+PQ index: coarse quantizer at
    * `coarse/`, the m sub-codebook models, the index table as
    * (list_id, neighbor_id, codes) — cells AND codes assigned in one
    * scan — and the anchor. The FAISS-IVFADC composition under the same
    * lifecycle as the other two. */
  def saveIvfPqIndexForStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      path: String,
      nlist: Int = 16,
      m: Int = 32,
      ksub: Int = 64,
      trainCap: Int = 100000): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(ksub > 1 && ksub <= 127, s"ksub=$ksub must fit a tinyint code")
    val version = Dml.currentVersion(storeDir)
    val corpus = Dml.readVersion(spark, storeDir, version)
    val c = ManagedCache.persist(Dedup.spread(corpus)
      .select(col("vec_id").as("neighbor_id"),
        toDouble(col("embedding")).as("cv")))
    val dim = c.select(size(col("cv"))).first().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val train = trainSample(c, c.count(), trainCap)
    val coarse = new KMeans()
      .setK(nlist).setSeed(42).setMaxIter(5)
      .setFeaturesCol("features").setPredictionCol("list_id")
      .fit(train.withColumn("features", array_to_vector(col("cv"))))
    coarse.write.overwrite().save(s"$path/coarse")
    val models = trainPqModels(train, dsub, m, ksub)
    models.zipWithIndex.foreach { case (mod, j) =>
      mod.write.overwrite().save(s"$path/sub_$j")
    }
    encodePqCodes(models,
      coarse.transform(
        c.withColumn("features", array_to_vector(col("cv"))))
        .drop("features"),
      dsub)
      .select(col("list_id"), col("neighbor_id"), packCodes(m).as("codes"))
      .write.mode("overwrite").parquet(s"$path/index")
    writeAnchor(spark, storeDir, path, version)
  }

  /** Refresh a commit-anchored IVF+PQ index: pure insert → ASSIGN +
    * ENCODE only (saved coarse centroids pick the cell, saved codebooks
    * the codes — both bit-identical on disk), everything else rebuilds.
    * Returns "fresh" / "encoded" / "rebuilt". */
  def refreshIvfPqIndexForStore(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      nlist: Int = 16,
      m: Int = 32,
      ksub: Int = 64,
      trainCap: Int = 100000): String =
    refreshAnchoredIndex(spark, path, deltaLabel = "encoded",
      rebuild = storeDir => saveIvfPqIndexForStore(
        spark, storeDir, path, nlist, m, ksub, trainCap),
      applyDelta = (_, delta) => {
        import org.apache.spark.ml.functions.array_to_vector
        val coarse = org.apache.spark.ml.clustering.KMeansModel
          .load(s"$path/coarse")
        val models = loadPqModels(path)
        val c = delta.select(col("vec_id").as("neighbor_id"),
          toDouble(col("embedding")).as("cv"))
        val dim = c.select(size(col("cv"))).first().getInt(0)
        encodePqCodes(models,
          coarse.transform(
            c.withColumn("features", array_to_vector(col("cv"))))
            .drop("features"),
          dim / models.size)
          .select(col("list_id"), col("neighbor_id"),
            packCodes(models.size).as("codes"))
          .join(spark.read.parquet(s"$path/index").select("neighbor_id"),
            Seq("neighbor_id"), "left_anti")
          .write.mode("append").parquet(s"$path/index")
      })

  /** Query a SAVED IVF+PQ index: probe cells through the loaded coarse
    * quantizer, reconstruct candidates from codes-at-rest, rank. */
  def ivfPqIndexTopK(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      path: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    val coarse = org.apache.spark.ml.clustering.KMeansModel
      .load(s"$path/coarse")
    val codebooks = loadPqModels(path)
      .map(_.clusterCenters.map(_.toArray)).toArray
    ivfPqAdcTopK(queries, coarse, codebooks,
      spark.read.parquet(s"$path/index"), k, nprobe)
  }

  /** The query stage of [[ivfTopK]] against an already-built (or
    * [[loadIvfIndex]]-loaded) index. */
  /** The probe-selection stage shared by [[ivfQuery]] and [[ivfPqTopK]]:
    * for each query, its `nprobe` nearest coarse cells. Centroid table is
    * tiny → broadcast; cell ranking reuses the partial k-heap with
    * NEGATED squared distance ((-d2) DESC, list_id ASC ≡ d2 ASC,
    * list_id ASC — d2 is a sum of squares, so no -0.0/0.0 ordering edge
    * exists) instead of a row_number window: no per-query sort, and the
    * probe-selection shuffle carries nprobe cells per query, not all
    * nlist. Returns (query_id, qv, list_id). */
  private def probeCells(
      queries: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel,
      nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val sq = spark; import sq.implicits._
    val centDf = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq
      .toDF("list_id", "centroid")
    val q = queries.select(col("vec_id").as("query_id"),
      toDouble(col("embedding")).as("qv"))
    q.crossJoin(broadcast(centDf))
      .withColumn("d2",
        aggregate(zip_with(col("qv"), col("centroid"),
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x))
      // a NaN distance (corrupt/mismatched-dim embedding) must not win
      // probe selection: the heap ranks by -d2 where NaN is LARGEST, the
      // inverse of the row_number(d2 ASC) ordering this replaced — drop
      // NaN cells outright (the old window only ever probed them when
      // fewer than nprobe finite cells existed)
      .filter(!isnan(col("d2")))
      .groupBy("query_id")
      .agg(first(col("qv")).as("qv"),
        TopKAggregate.topkNeighbors(
          col("list_id").cast("long"), -col("d2"), nprobe).as("cells"))
      .select(col("query_id"), col("qv"),
        explode(col("cells.neighbor_id")).as("cell"))
      .select(col("query_id"), col("qv"),
        col("cell").cast("int").as("list_id"))
  }

  def ivfQuery(
      queries: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel,
      assigned: DataFrame,
      k: Int,
      nprobe: Int): DataFrame = {
    val qProbes = probeCells(queries, model, nprobe)
    val scored = assigned.join(broadcast(qProbes), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(VectorExpressions.cosineSim(col("qv"), col("cv")), 4))
    rankTopK(scored, k)
  }

  /** PRODUCT-QUANTIZATION index cache — same lifecycle/keying rules as
    * [[ivfIndexes]] (session identity + canonicalized corpus plan;
    * bounded LinkedHashMap). The entry holds the m per-subspace codebooks
    * (model parameters, driver-held — m × ksub × dsub doubles, a few KB)
    * plus the ENCODED corpus: (neighbor_id, codes array<tinyint>). */
  private val pqIndexes = scala.collection.mutable.LinkedHashMap
    .empty[(Int, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        Int, Int, Int),
      (Array[Array[Array[Double]]], DataFrame)]
  private[graft] var pqIndexBuilds = 0

  /** Train-or-reuse a PRODUCT QUANTIZER (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the d-dim space splits
    * into `m` contiguous subspaces of d/m dims; each subspace gets its
    * own ksub-centroid k-means codebook; a vector encodes as m sub-codes
    * — m BYTES per vector (ksub <= 127) vs 4·d for float32, a 32× rest/
    * shuffle compression at d=64, m=8. The effective codebook is
    * ksub^m cells, far finer than [[ivfTopK]]'s nlist cells at the same
    * training cost.
    *
    * Scale shape: training fits m SMALL k-means models on the same
    * hash-thresholded deterministic sample as IVF ([[builtIvfIndex]]'s
    * trainCap rule); encoding chains the m `model.transform`s LAZILY, so
    * the corpus is assigned in ONE scan producing the m-byte codes
    * column. dim must divide evenly by m (fail loudly — silent ragged
    * subspaces would corrupt every code). */
  /** Fit the m per-subspace codebook models on `train` (must carry cv of
    * length dsub·m); each model predicts into `__pqc<j>`, the column
    * names [[encodePqCodes]] and the codes packer agree on. */
  private def trainPqModels(
      train: DataFrame, dsub: Int, m: Int, ksub: Int)
      : Seq[org.apache.spark.ml.clustering.KMeansModel] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    (0 until m).map { j =>
      new KMeans()
        .setK(ksub).setSeed(42 + j).setMaxIter(10)
        .setFeaturesCol("features").setPredictionCol(s"__pqc$j")
        .fit(train.withColumn("features",
          array_to_vector(slice(col("cv"), j * dsub + 1, dsub))))
    }
  }

  /** Chain the m sub-code transforms LAZILY over `c` (must carry cv) —
    * the corpus is encoded in ONE scan producing the m `__pqc<j>`
    * columns. */
  private def encodePqCodes(
      models: Seq[org.apache.spark.ml.clustering.KMeansModel],
      c: DataFrame, dsub: Int): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    models.zipWithIndex.foldLeft(c) { case (enc, (model, j)) =>
      model.transform(enc.withColumn("features",
        array_to_vector(slice(col("cv"), j * dsub + 1, dsub))))
        .drop("features")
    }
  }

  /** The m-byte codes column from the `__pqc<j>` predictions. */
  private def packCodes(m: Int) =
    array((0 until m).map(j => col(s"__pqc$j").cast("byte")): _*)

  private def builtPqIndex(
      corpus: DataFrame,
      m: Int,
      ksub: Int,
      trainCap: Int): (Array[Array[Array[Double]]], DataFrame) = {
    require(ksub > 1 && ksub <= 127, s"ksub=$ksub must fit a tinyint code")
    val spark = corpus.sparkSession
    val cacheKey = (System.identityHashCode(spark),
      corpus.queryExecution.analyzed.canonicalized, m, ksub, trainCap)
    pqIndexes.synchronized {
      val entry = pqIndexes.getOrElseUpdate(cacheKey, {
        pqIndexBuilds += 1
        val c = ManagedCache.persist(Dedup.spread(corpus)
          .select(col("vec_id").as("neighbor_id"),
            toDouble(col("embedding")).as("cv")))
        // one-row readout of the (constant) dimensionality — index
        // SETUP, not a data collect (IVF's count() precedent)
        val dim = c.select(size(col("cv"))).first().getInt(0)
        require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
        val dsub = dim / m
        val n = c.count()
        val models = trainPqModels(trainSample(c, n, trainCap), dsub, m, ksub)
        val codebooks =
          models.map(_.clusterCenters.map(_.toArray)).toArray
        (codebooks, ManagedCache.persist(
          encodePqCodes(models, c, dsub)
            .select(col("neighbor_id"), packCodes(m).as("codes"))))
      })
      while (pqIndexes.size > ivfIndexCacheMax) pqIndexes -= pqIndexes.head._1
      (entry._1, ManagedCache.persist(entry._2))
    }
  }

  /** PQ approximate top-k via ASYMMETRIC scoring (the ADC regime): the
    * query stays full-precision, the corpus side is reconstructed from
    * its m sub-codes through the broadcast codebook literal — so the only
    * per-corpus-row state this query ever touches is the m-byte code
    * (the 32×-compressed table is the SCAN, not a sidecar), exactly how
    * a PQ serving tier runs against codes-at-rest. Reconstruction is m
    * literal lookups + a flatten per row (O(d), off the codegen path but
    * amortized once per corpus row before the |Q| codegen'd cosines);
    * ranking is the standard partial k-heap. Recall vs brute force and
    * the compression invariants are spec-asserted (SimilaritySpec). */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      m: Int = 32,
      ksub: Int = 64,
      trainCap: Int = 100000): DataFrame = {
    val (codebooks, encoded) = builtPqIndex(corpus, m, ksub, trainCap)
    pqAdcTopK(queries, encoded, codebooks, k)
  }

  /** The asymmetric-scoring stage shared by [[pqTopK]] and the saved-
    * index serving path [[pqIndexTopK]]: reconstruct each corpus row
    * from its codes through the broadcast codebook literal, cosine
    * against the full-precision queries, partial k-heap rank. */
  private def pqAdcTopK(
      queries: DataFrame,
      encoded: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      k: Int): DataFrame = {
    val cbLit = typedlit(
      codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val q = queries.select(col("vec_id").as("query_id"),
      toDouble(col("embedding")).as("qv"))
    val scored = encoded
      .withColumn("rv", flatten(transform(col("codes"),
        (code, j) => element_at(element_at(cbLit, j + lit(1)),
          code.cast("int") + lit(1)))))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(VectorExpressions.cosineSim(col("qv"), col("rv")), 4))
    rankTopK(scored.select("query_id", "neighbor_id", "sim"), k)
  }

  /** The encoded-corpus view of [[builtPqIndex]] for specs/inspection:
    * (neighbor_id, codes array<tinyint> of length m). */
  private[graft] def pqCodes(
      corpus: DataFrame,
      m: Int = 32,
      ksub: Int = 64,
      trainCap: Int = 100000): DataFrame =
    builtPqIndex(corpus, m, ksub, trainCap)._2

  /** IVF+PQ combined index cache (same lifecycle rules as the others):
    * coarse quantizer + per-subspace codebooks + the corpus as
    * (list_id, neighbor_id, codes) — cells AND codes assigned in the
    * same single scan (the coarse transform and the m sub-code
    * transforms chain lazily). */
  private val ivfPqIndexes = scala.collection.mutable.LinkedHashMap
    .empty[(Int, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        Int, Int, Int, Int),
      (org.apache.spark.ml.clustering.KMeansModel,
        Array[Array[Array[Double]]], DataFrame)]
  private[graft] var ivfPqIndexBuilds = 0

  private def builtIvfPqIndex(
      corpus: DataFrame,
      nlist: Int,
      m: Int,
      ksub: Int,
      trainCap: Int): (org.apache.spark.ml.clustering.KMeansModel,
        Array[Array[Array[Double]]], DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(ksub > 1 && ksub <= 127, s"ksub=$ksub must fit a tinyint code")
    val spark = corpus.sparkSession
    val cacheKey = (System.identityHashCode(spark),
      corpus.queryExecution.analyzed.canonicalized, nlist, m, ksub, trainCap)
    ivfPqIndexes.synchronized {
      val entry = ivfPqIndexes.getOrElseUpdate(cacheKey, {
        ivfPqIndexBuilds += 1
        val c = ManagedCache.persist(Dedup.spread(corpus)
          .select(col("vec_id").as("neighbor_id"),
            toDouble(col("embedding")).as("cv")))
        val dim = c.select(size(col("cv"))).first().getInt(0)
        require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
        val dsub = dim / m
        val n = c.count()
        val train = trainSample(c, n, trainCap)
        val coarse = new KMeans()
          .setK(nlist).setSeed(42).setMaxIter(5)
          .setFeaturesCol("features").setPredictionCol("list_id")
          .fit(train.withColumn("features", array_to_vector(col("cv"))))
        val models = trainPqModels(train, dsub, m, ksub)
        val codebooks =
          models.map(_.clusterCenters.map(_.toArray)).toArray
        val enc = encodePqCodes(models,
          coarse.transform(
            c.withColumn("features", array_to_vector(col("cv"))))
            .drop("features"),
          dsub)
        (coarse, codebooks, ManagedCache.persist(
          enc.select(col("list_id"), col("neighbor_id"),
            packCodes(m).as("codes"))))
      })
      while (ivfPqIndexes.size > ivfIndexCacheMax)
        ivfPqIndexes -= ivfPqIndexes.head._1
      (entry._1, entry._2, ManagedCache.persist(entry._3))
    }
  }

  /** IVF+PQ approximate top-k — the production ANN-at-rest shape (the
    * FAISS IVFADC composition): coarse cells prune the SCAN
    * (O(N·nprobe/nlist) candidates per query, [[ivfTopK]]'s property)
    * while PQ codes compress the STATE the scan touches (m bytes per
    * candidate, [[pqTopK]]'s property) — at 100 TB the index table this
    * query reads is ~32× smaller than the float corpus AND each query
    * reads only its probed cells of it. Scoring is the same asymmetric
    * reconstruct-and-score against the full-precision query; both
    * losses (cell pruning + reconstruction) are spec-measured against
    * brute force. */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 32,
      ksub: Int = 64,
      trainCap: Int = 100000): DataFrame = {
    val (coarse, codebooks, index) =
      builtIvfPqIndex(corpus, nlist, m, ksub, trainCap)
    ivfPqAdcTopK(queries, coarse, codebooks, index, k, nprobe)
  }

  /** The probe + asymmetric-scoring stage shared by [[ivfPqTopK]] and
    * the saved-index serving path [[ivfPqIndexTopK]]. */
  private def ivfPqAdcTopK(
      queries: DataFrame,
      coarse: org.apache.spark.ml.clustering.KMeansModel,
      codebooks: Array[Array[Array[Double]]],
      index: DataFrame,
      k: Int,
      nprobe: Int): DataFrame = {
    val cbLit = typedlit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val qProbes = probeCells(queries, coarse, nprobe)
    val scored = index
      .withColumn("rv", flatten(transform(col("codes"),
        (code, j) => element_at(element_at(cbLit, j + lit(1)),
          code.cast("int") + lit(1)))))
      .join(broadcast(qProbes), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(VectorExpressions.cosineSim(col("qv"), col("rv")), 4))
    rankTopK(scored.select("query_id", "neighbor_id", "sim"), k)
  }

  /** Pack each embedding's SIGN BITS into two 32-bit words — 1-bit
    * (binary) quantization, the extreme end of the e06/e18 compression
    * ladder: 64 float dims become 8 bytes at rest and in shuffle (32×),
    * and similarity becomes Hamming distance over the packed words —
    * two XORs + two popcounts per candidate, the cheapest score any
    * serving scan can run (the binary-embedding deployment pattern;
    * retrieval quality is rescued by a float re-rank of the short
    * list, exactly like PQ's asymmetric refinement). Dims beyond the
    * vector length contribute 0 on both engines (null > 0 is false).
    *
    * CONTRACT: this is a 64-dim PREFIX sketch — dims past 64 are
    * deliberately ignored (e18's Matryoshka truncation composed with
    * 1-bit quantization), so two wide vectors differing only beyond
    * dim 64 hash identically; callers with wider embeddings pick their
    * prefix via `slice` first, or widen the word count. */
  def packSignBits(emb: DataFrame): DataFrame = {
    def word(lo: Int) =
      // 0-based `get` (not ANSI element_at, which throws past the end)
      aggregate(sequence(lit(lo), lit(lo + 31)), lit(0L), (acc, i) =>
        acc + when(get(col("embedding"), i.cast("int")) > 0f,
          call_function("shiftleft", lit(1L), i - lit(lo)))
          .otherwise(lit(0L)))
    emb.select(col("vec_id"), word(0).as("w1"), word(32).as("w2"))
  }

  /** Exact Hamming top-k over the packed sign bits ([[packSignBits]]):
    * e01's broadcast-query / one-corpus-scan / partial-k-heap plan with
    * the integer Hamming metric (ranked via the shared heap on −hamming;
    * ties break by neighbor_id, e01's rule). Deterministic end to end,
    * so the binary-quantized serving path gates exactly (e18's
    * argument). Returns (query_id, neighbor_id, hamming, rn). */
  def binaryHammingTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int): DataFrame = {
    val qp = packSignBits(queries).select(col("vec_id").as("query_id"),
      col("w1").as("qw1"), col("w2").as("qw2"))
    val cp = packSignBits(Dedup.spread(corpus))
      .select(col("vec_id").as("neighbor_id"), col("w1"), col("w2"))
    val scored = cp
      .join(broadcast(qp), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        -(bit_count(col("w1").bitwiseXOR(col("qw1"))) +
          bit_count(col("w2").bitwiseXOR(col("qw2")))).cast("double"))
    rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        (-col("sim")).cast("long").as("hamming"), col("rn"))
  }

  /** EMBEDDING DRIFT MONITOR: per-label centroid displacement between
    * two deterministic halves of the corpus (id parity here; in
    * production the two sides are "yesterday's snapshot" vs "today's" or
    * two encoder versions) — the check that catches a retrained encoder
    * or a poisoned ingest shifting a class's centroid before any
    * downstream recall drops. All arithmetic is exact integer on the
    * quantized basis (e12/e14's construction): per (label, side) vector
    * counts, per (label, side, dim) coordinate sums, and the mean
    * displacement compared CROSS-MULTIPLIED — |s_a·n_b − s_b·n_a| — so
    * no division happens until the single final readout
    * drift = Σ_dim |Δ| / (n_a·n_b·dim). Scale: one quantize scan →
    * (label, side, dim) partial-agg (labels × 2 × dim rows) → label-key
    * join + rollup; nothing corpus-sized crosses an exchange after the
    * first partial-agg. Returns (label, n_a, n_b, l1_num, drift). */
  def centroidDrift(emb: DataFrame): DataFrame = {
    val q = emb
      .withColumn("__v", toDouble(col("embedding")))
      .withColumn("__scale", greatest(
        array_max(transform(col("__v"), x => abs(x))) / 127.0, lit(1e-12)))
      .withColumn("qv",
        transform(col("__v"), x => round(x / col("__scale")).cast("long")))
      .select(col("label"), (col("vec_id") % 2).as("side"),
        col("qv"))
    val n = q.groupBy("label", "side").agg(count(lit(1)).as("n"))
    val s = q.select(col("label"), col("side"),
        posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("label", "side", "pos").agg(sum(col("x")).as("s"))
    val a = s.filter(col("side") === 0)
      .join(n.filter(col("side") === 0), Seq("label", "side"))
      .select(col("label"), col("pos"), col("s").as("sa"),
        col("n").as("n_a"))
    val b = s.filter(col("side") === 1)
      .join(n.filter(col("side") === 1), Seq("label", "side"))
      .select(col("label"), col("pos"), col("s").as("sb"),
        col("n").as("n_b"))
    val both = a.join(b, Seq("label", "pos"))
      .groupBy("label")
      .agg(sum(abs(col("sa") * col("n_b") - col("sb") * col("n_a")))
          .as("l1_num"),
        count(lit(1)).as("dim"))
    // EVERY label surfaces, including one present on only one side — a
    // class vanishing from a half is the loudest drift event there is,
    // so it must appear as (n, 0, NULL drift), never be inner-joined
    // away. Displacement is NULL when either mean is undefined.
    val na = n.filter(col("side") === 0)
      .select(col("label"), col("n").as("n_a"))
    val nb = n.filter(col("side") === 1)
      .select(col("label"), col("n").as("n_b"))
    q.select("label").distinct()
      .join(na, Seq("label"), "left")
      .join(nb, Seq("label"), "left")
      .join(both, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        col("l1_num"),
        (col("l1_num").cast("double") /
          (col("n_a") * col("n_b") * col("dim"))).as("drift"))
  }

  /** Per-DIMENSION corpus moments over the int8-quantized embeddings —
    * the embedding-space observability panel (a collapsed or drifting
    * dimension shows up as var→0 or a mean excursion long before
    * downstream recall drops; the standard pre-flight check before
    * training ANN indexes or whitening). Works on [[quantizeInt8Vectors]]'
    * exact integer construction so every statistic is an integer
    * sufficient-statistic fold: n, Σq, Σq², min, max per dimension, with
    * mean = Σq/n and population variance = (n·Σq² − (Σq)²)/n² each ONE
    * exact integer division (identical IEEE rounding cross-engine).
    *
    * Scale: one quantize scan → posexplode (rows × dim) → (ord)
    * partial-agg; map-side combine reduces the exchange to dims ×
    * tasks rows. The n·Σq² product fits a long to ~10^9 rows of int8
    * at dim 64; past that production keeps the raw (n, Σq, Σq²)
    * columns and derives the ratios in decimal — same plan. */
  def dimStats(emb: DataFrame): DataFrame =
    quantizeInt8Vectors(emb)
      .select(posexplode(col("qv")).as(Seq("pos", "qx")))
      .select((col("pos") + 1).cast("long").as("ord"),
        col("qx").cast("long").as("x"))
      .groupBy("ord")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("q_sum"),
        sum(col("x") * col("x")).as("q_sumsq"),
        min(col("x")).as("q_min"),
        max(col("x")).as("q_max"))
      .select(col("ord"), col("n"), col("q_sum"), col("q_sumsq"),
        col("q_min"), col("q_max"),
        (col("q_sum").cast("double") / col("n")).as("mean_q"),
        ((col("n") * col("q_sumsq") - col("q_sum") * col("q_sum"))
          .cast("double") / (col("n") * col("n"))).as("var_q"))
}

/** Driver-facing similarity queries over `embeddings`. */
object SimilarityQueries {
  import Similarity._

  val queries: Seq[Q] = Seq(

    // Exact brute-force KNN — oracle via DuckDB list_cosine_similarity
    // (both sides compute in double; sim rounded to 4 to absorb summation
    // order). Query set: vec_id < 5; k=10.
    Q("e01_knn_brute",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        bruteForceTopK(emb.filter(col("vec_id") < 5), emb, 10)
      },
      // double-cast both lists (list_cosine_similarity over list<float>
      // computes in float32 — off in the 8th decimal vs our double math)
      // and rank by the ROUNDED sim so ties resolve identically. Cosine is
      // SIGNED: `+ 0.0` normalizes a DuckDB-side -0.0 (negative-zero rule,
      // see the t16 comment block in TextQueries).
      Some("""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |round(list_cosine_similarity(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
             |list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 4) + 0.0 AS sim,
             |CAST(row_number() OVER (PARTITION BY q.vec_id
             |ORDER BY round(list_cosine_similarity(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
             |list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 4) DESC,
             |c.vec_id ASC) AS INTEGER) AS rn
             |FROM embeddings q, embeddings c
             |WHERE q.vec_id < 5 AND q.vec_id != c.vec_id
             |QUALIFY rn <= 10"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    Q("e02_embedding_norms",
      (s, d) =>
        Tables.t(s, d, "embeddings").select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          round(l2norm(col("embedding")), 4).as("norm")),
      Some("""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
             |round(sqrt(list_sum(list_transform(embedding,
             |x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm
             |FROM embeddings""".stripMargin.replace('\n', ' '))),

    // LSH-bucketed ANN (the 100 TB path) — recall vs brute force asserted
    // in SimilaritySpec; rows-only driver check here.
    Q("e03_ann_lsh",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        annTopK(emb.filter(col("vec_id") < 20), emb, 5, bits = 4)
      },
      None,
      bench = true),

    // IVF ANN (data-adaptive cells; recall vs brute force asserted in
    // SimilaritySpec) — rows-only driver check, k-means seed fixed.
    Q("e05_ann_ivf",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        ivfTopK(emb.filter(col("vec_id") < 20), emb, 5,
          nlist = 16, nprobe = 4)
      },
      None,
      bench = true),

    // INT8 SYMMETRIC QUANTIZATION — the embedding-storage compressor every
    // 100 TB vector pipeline runs before serving (4x smaller than float32,
    // 8x smaller than the double math). The oracle checks the full
    // quantization arithmetic through order-independent integer
    // reductions (see [[Similarity.quantizeInt8]]), so cross-engine
    // float-fold order cannot wobble the hash. Round-half-up on x/scale
    // agrees across engines (both round ties away from zero). HOF
    // (interpreted) is fine here: not a bench path; promote to a native
    // kernel like norm_l2 if it ever becomes one.
    Q("e06_embedding_quantize",
      (s, d) => quantizeInt8(Tables.t(s, d, "embeddings")),
      Some("""WITH v AS (SELECT vec_id, embedding,
             |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |FROM embeddings),
             |sc AS (SELECT vec_id, embedding, e,
             |greatest(list_max(list_transform(e, x -> abs(x))) / 127.0,
             |1e-12) AS scale FROM v),
             |q AS (SELECT vec_id, embedding, scale,
             |list_transform(e, x -> CAST(round(x / scale) AS BIGINT)) AS qv
             |FROM sc)
             |SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
             |round(scale, 6) AS qscale,
             |CAST(list_sum(qv) AS BIGINT) AS q_sum,
             |CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
             |AS q_norm2 FROM q"""
        .stripMargin.replace('\n', ' '))),

    // Hard negatives: e01's scan/score/rank shape + the label-mismatch
    // predicate; the oracle is e01's SQL with the same predicate and the
    // same -0.0 guard. Cosine can tie across candidates — ranking is by
    // the ROUNDED sim with neighbor_id tie-break on both sides.
    Q("e07_hard_negatives",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        hardNegatives(emb.filter(col("vec_id") < 5), emb, 10)
      },
      Some("""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |round(list_cosine_similarity(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
             |list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 4) + 0.0 AS sim,
             |CAST(row_number() OVER (PARTITION BY q.vec_id
             |ORDER BY round(list_cosine_similarity(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
             |list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 4) DESC,
             |c.vec_id ASC) AS INTEGER) AS rn
             |FROM embeddings q, embeddings c
             |WHERE q.vec_id < 5 AND q.vec_id != c.vec_id
             |AND q.label != c.label
             |QUALIFY rn <= 10"""
        .stripMargin.replace('\n', ' '))),

    Q("e04_label_centroid_norm",
      (s, d) =>
        Tables.t(s, d, "embeddings")
          .select(col("label"),
            l2norm(col("embedding")).as("norm"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            round(avg(col("norm")), 4).as("avg_norm")),
      Some("""SELECT label, count(*) AS n_vecs,
             |round(avg(sqrt(list_sum(list_transform(embedding,
             |x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS avg_norm
             |FROM embeddings GROUP BY label"""
        .stripMargin.replace('\n', ' '))),

    // SEMANTIC DEDUP (SemDeDup) — k-means cells + intra-cell exact
    // cosine, resolved to keep-one-per-duplicate-group. The coarse
    // quantizer is iterative (no SQL twin) → rows-only driver entry with
    // a fixed seed for run-to-run determinism; the invariants (pairs are
    // a verified subset of brute force with measured recall, keep-table
    // resolves min-id per connected component) are spec-asserted.
    // nlist is data-adaptive (ceil(N/128) cells) — a fixed cell count
    // OOMed at sf0.1 when 16 cells meant 3,125-vector quadratic blocks.
    Q("e08_semdedup",
      (s, d) => semDedupKeep(Tables.t(s, d, "embeddings"),
        threshold = 0.35),
      None),

    // PQ ANN — asymmetric top-k against the compressed encoded corpus
    // (see [[Similarity.pqTopK]]). Rows-only (iterative k-means
    // codebooks); recall vs brute force + compression invariants are
    // spec-asserted in SimilaritySpec.
    Q("e09_ann_pq",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        pqTopK(emb.filter(col("vec_id") < 20), emb, 5)
      },
      None),

    // IVF+PQ ANN — cell-pruned scan over the PQ-compressed index (see
    // [[Similarity.ivfPqTopK]]). Rows-only; combined-loss recall,
    // determinism, and index reuse are spec-asserted.
    Q("e10_ann_ivfpq",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        ivfPqTopK(emb.filter(col("vec_id") < 20), emb, 5)
      },
      None),

    // NEAREST-CENTROID LABELING from the quantized corpus — fully
    // oracle-gated: the integer-sum construction makes every similarity
    // bit-identical (see nearestCentroid), so DuckDB reproduces the
    // predictions exactly; both engines rank on the rounded sim with a
    // label tie-break.
    Q("e12_nearest_centroid",
      (s, d) => nearestCentroid(Tables.t(s, d, "embeddings"))
        .drop("rn"),
      Some("""WITH v AS (SELECT vec_id, label,
             |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |FROM embeddings),
             |sc AS (SELECT vec_id, label, e,
             |greatest(list_max(list_transform(e, x -> abs(x))) / 127.0,
             |1e-12) AS scale FROM v),
             |q AS (SELECT vec_id, label,
             |list_transform(e, x -> CAST(round(x / scale) AS BIGINT)) AS qv
             |FROM sc),
             |d AS (SELECT vec_id, label, unnest(qv) AS val,
             |unnest(generate_series(1, len(qv))) AS ord FROM q),
             |cent AS (SELECT label AS cand_label, ord,
             |CAST(sum(val) AS BIGINT) AS s FROM d GROUP BY 1, 2),
             |i3 AS (SELECT cand_label, CAST(sum(s * s) AS BIGINT) AS i3
             |FROM cent GROUP BY 1),
             |i2 AS (SELECT vec_id, CAST(sum(val * val) AS BIGINT) AS i2
             |FROM d GROUP BY 1),
             |i1 AS (SELECT d.vec_id, cent.cand_label,
             |CAST(sum(d.val * cent.s) AS BIGINT) AS i1
             |FROM d JOIN cent ON d.ord = cent.ord GROUP BY 1, 2),
             |sim AS (SELECT vec_id, cand_label,
             |round(CASE WHEN i2 = 0 OR i3 = 0 THEN -1.0
             |ELSE CAST(i1 AS DOUBLE) /
             |sqrt(CAST(i2 AS DOUBLE) * CAST(i3 AS DOUBLE)) END, 4) + 0.0
             |AS sim FROM i1 JOIN i2 USING (vec_id) JOIN i3
             |USING (cand_label))
             |SELECT s.vec_id, v.label,
             |CAST(s.cand_label AS INTEGER) AS pred_label, s.sim
             |FROM sim s JOIN v USING (vec_id)
             |QUALIFY row_number() OVER (PARTITION BY s.vec_id
             |ORDER BY s.sim DESC, s.cand_label ASC) = 1"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // MMR diversified retrieval (serving-side de-crowding) — rows-only
    // (greedy re-rank has no SQL twin); determinism + containment +
    // de-crowding asserted in SimilaritySpec.
    Q("e11_mmr_diversified",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        mmrTopK(emb.filter(col("vec_id") < 10), emb, 5, candidateK = 30)
      },
      None),

    // RECALL AUDIT TWINS — driver-visible gates for the rows-only ANN
    // entries (see [[Similarity.recallViolations]]): each recomputes its
    // approximate top-k AND the exact brute-force top-k on the same query
    // set and emits a violation row iff recall drops below the floor its
    // spec asserts (e03 ≥0.3, e05 ≥0.4, e09 ≥0.5, e10 ≥0.3). The oracle
    // states the empty relation, so the driver's row compare flips red on
    // a recall regression the rows-only entries cannot express. Not bench
    // entries: the exact side is the deliberate O(Q×N) audit scan.
    Q("e03_lsh_recall_audit",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        val qs = emb.filter(col("vec_id") < 20)
        recallViolations(
          annTopK(qs, emb, 5, bits = 4),
          bruteForceTopK(qs, emb, 5),
          Seq("query_id", "neighbor_id"), floor = 0.3)
      },
      Some(recallAuditOracle)),

    Q("e05_ivf_recall_audit",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        val qs = emb.filter(col("vec_id") < 20)
        recallViolations(
          ivfTopK(qs, emb, 5, nlist = 16, nprobe = 4),
          bruteForceTopK(qs, emb, 5),
          Seq("query_id", "neighbor_id"), floor = 0.4)
      },
      Some(recallAuditOracle)),

    Q("e09_pq_recall_audit",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        val qs = emb.filter(col("vec_id") < 20)
        recallViolations(
          pqTopK(qs, emb, 5),
          bruteForceTopK(qs, emb, 5),
          Seq("query_id", "neighbor_id"), floor = 0.5)
      },
      Some(recallAuditOracle)),

    Q("e10_ivfpq_recall_audit",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        val qs = emb.filter(col("vec_id") < 20)
        recallViolations(
          ivfPqTopK(qs, emb, 5),
          bruteForceTopK(qs, emb, 5),
          Seq("query_id", "neighbor_id"), floor = 0.3)
      },
      Some(recallAuditOracle)),

    // LABEL-CENTROID CONFUSION MATRIX (see
    // [[Similarity.labelCentroidMatrix]]) — e12's integer-sum centroid
    // construction, read out as the pairwise class-similarity table;
    // fully hash-gated because every value is an exact integer moment or
    // an identical IEEE expression over them.
    Q("e14_centroid_confusion",
      (s, d) => labelCentroidMatrix(Tables.t(s, d, "embeddings")),
      Some("""WITH v AS (SELECT vec_id, label,
             |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |FROM embeddings),
             |sc AS (SELECT vec_id, label, e,
             |greatest(list_max(list_transform(e, x -> abs(x))) / 127.0,
             |1e-12) AS scale FROM v),
             |q AS (SELECT vec_id, label,
             |list_transform(e, x -> CAST(round(x / scale) AS BIGINT)) AS qv
             |FROM sc),
             |d AS (SELECT vec_id, label, unnest(qv) AS val,
             |unnest(generate_series(1, len(qv))) AS ord FROM q),
             |cent AS (SELECT label, ord, CAST(sum(val) AS BIGINT) AS s
             |FROM d GROUP BY 1, 2),
             |i3 AS (SELECT label, CAST(sum(s * s) AS BIGINT) AS i3
             |FROM cent GROUP BY 1),
             |i1 AS (SELECT a.label AS la, b.label AS lb,
             |CAST(sum(a.s * b.s) AS BIGINT) AS i1
             |FROM cent a JOIN cent b ON a.ord = b.ord AND a.label < b.label
             |GROUP BY 1, 2)
             |SELECT la AS label_a, lb AS label_b,
             |CASE WHEN ia.i3 = 0 OR ib.i3 = 0 THEN -1.0
             |ELSE round(CAST(i1 AS DOUBLE) /
             |sqrt(CAST(ia.i3 AS DOUBLE) * CAST(ib.i3 AS DOUBLE)), 4) + 0.0
             |END AS centroid_sim
             |FROM i1 JOIN i3 ia ON ia.label = la
             |JOIN i3 ib ON ib.label = lb"""
        .stripMargin.replace('\n', ' '))),

    // e08's audit: SemDeDup's cell-pruned pairs vs the exact all-pairs
    // twin at the same threshold (cross-cell pairs are the accepted loss;
    // spec floor 0.3).
    Q("e08_semdedup_recall_audit",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        recallViolations(
          semDedupPairs(emb, threshold = 0.35),
          Dedup.exactCosinePairs(emb, threshold = 0.35),
          Seq("a", "b"), floor = 0.3)
      },
      Some(recallAuditOracle)),

    // e11's audit: CONTAINMENT, not recall — every MMR pick must come
    // from the brute-force top-candidateK pool (the gate direction
    // flips: the "exact" side is the pick set that must be fully
    // covered, the "approx" side is the pool, floor 1.0 ⇒ ONE pick
    // outside the pool is a violation).
    Q("e11_mmr_containment_audit",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        val qs = emb.filter(col("vec_id") < 10)
        recallViolations(
          bruteForceTopK(qs, emb, 30),
          mmrTopK(qs, emb, 5, candidateK = 30),
          Seq("query_id", "neighbor_id"), floor = 1.0)
      },
      Some(recallAuditOracle)),

    // RANGE SEARCH — all corpus vectors within a cosine radius of each
    // query (FAISS range_search semantics): the retrieval mode for "give
    // me EVERYTHING at least this similar", where top-k's fixed cutoff
    // either truncates dense neighborhoods or pads sparse ones. Exact
    // audit form of d06's thresholded pair search (broadcast query set,
    // ONE corpus scan, fused native cosine — e01's plan minus the k-heap;
    // no shuffle at all, the filter is map-side). Both sides filter on
    // the ROUNDED sim so radius-boundary vectors resolve identically. At
    // 100 TB the production swap is the sign-bucket/LSH candidate source
    // (d06/e03) feeding the same threshold filter.
    Q("e13_range_search",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        rangeSearch(emb.filter(col("vec_id") < 5), emb, tau = 0.3)
      },
      Some("""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |round(list_cosine_similarity(
             |list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
             |list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 4) + 0.0
             |AS sim
             |FROM embeddings q, embeddings c
             |WHERE q.vec_id < 5 AND q.vec_id != c.vec_id
             |AND round(list_cosine_similarity(
             |list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
             |list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 4) >= 0.3"""
        .stripMargin.replace('\n', ' '))),

    // K-MEANS TRAINING ROUND under the hash gate — see
    // [[Similarity.kmeansStep]]: assignment (exact-integer cosine vs the
    // k lowest-id seeds, seed-id tie-break) and update (per-(cluster,
    // dim) integer sums + counts) are both bit-identical cross-engine,
    // so the full Lloyd iteration — the arithmetic the rows-only
    // e05/e08-e10 coarse quantizers train on — gets a green driver row
    // instead of a spec-only claim. ord is posexplode's 0-based
    // position; the oracle zips unnest(qv) with generate_series(0,
    // len-1) to match.
    Q("e15_kmeans_step",
      (s, d) => Similarity.kmeansStep(Tables.t(s, d, "embeddings"), 8),
      Some("""WITH v AS (SELECT vec_id,
             |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |FROM embeddings),
             |sc AS (SELECT vec_id, e,
             |greatest(list_max(list_transform(e, x -> abs(x))) / 127.0,
             |1e-12) AS scale FROM v),
             |q AS (SELECT vec_id,
             |list_transform(e, x -> CAST(round(x / scale) AS BIGINT)) AS qv
             |FROM sc),
             |seed AS (SELECT vec_id AS cluster_id, qv AS cv,
             |CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS i3
             |FROM q WHERE vec_id < 8),
             |m AS (SELECT vec_id, qv,
             |CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS i2
             |FROM q),
             |sim AS (SELECT m.vec_id, s.cluster_id,
             |round(CASE WHEN m.i2 = 0 OR s.i3 = 0 THEN -1.0
             |ELSE CAST(list_sum(list_transform(
             |range(1, len(m.qv) + 1), i -> m.qv[i] * s.cv[i])) AS DOUBLE) /
             |sqrt(CAST(m.i2 AS DOUBLE) * CAST(s.i3 AS DOUBLE)) END, 4) + 0.0
             |AS sim FROM m CROSS JOIN seed s),
             |a AS (SELECT vec_id, cluster_id FROM sim
             |QUALIFY row_number() OVER (PARTITION BY vec_id
             |ORDER BY sim DESC, cluster_id ASC) = 1),
             |d AS (SELECT a.cluster_id, unnest(q.qv) AS val,
             |unnest(generate_series(0, len(q.qv) - 1)) AS ord
             |FROM a JOIN q USING (vec_id))
             |SELECT CAST(cluster_id AS INTEGER) AS cluster_id,
             |CAST(ord AS INTEGER) AS ord,
             |count(*) AS n_members, CAST(sum(val) AS BIGINT) AS s,
             |round(CAST(sum(val) AS DOUBLE) / count(*), 4) + 0.0 AS mean_q
             |FROM d GROUP BY 1, 2"""
        .stripMargin.replace('\n', ' '))),

    // THE FULL EMBEDDING-LSH PIPELINE under the hash gate — see
    // [[Similarity.md5SignBucketPairs]]: quantize (e06's exact
    // construction) → md5-±1 hyperplane sign buckets → bucket-equality
    // candidates → e12's exact integer-sum cosine verify. d06/e03's
    // production path stays on the one-pass native float expressions
    // (rows-only + recall audits); this twin puts embedding candidate
    // generation itself under the driver gate, completing the set
    // (d19 simhash, d22 minhash, e16 embeddings).
    Q("e16_embed_lsh_md5",
      (s, d) => md5SignBucketPairs(Tables.t(s, d, "embeddings")),
      Some("""WITH v AS (SELECT vec_id,
             |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |FROM embeddings),
             |sc AS (SELECT vec_id, e,
             |greatest(list_max(list_transform(e, x -> abs(x))) / 127.0,
             |1e-12) AS scale FROM v),
             |q AS (SELECT vec_id,
             |list_transform(e, x -> CAST(round(x / scale) AS BIGINT)) AS qv
             |FROM sc),
             |d AS (SELECT vec_id, unnest(qv) AS val,
             |unnest(generate_series(1, len(qv))) AS ord FROM q),
             |s AS (SELECT vec_id, bit,
             |sum(val * (CASE WHEN substr(md5(CAST(bit AS VARCHAR) || ':' ||
             |CAST(ord AS VARCHAR)), 1, 1) < '8' THEN 1 ELSE -1 END)) AS dot
             |FROM d CROSS JOIN (SELECT unnest(range(0, 8)) AS bit) bb
             |GROUP BY 1, 2),
             |bk AS (SELECT vec_id, CAST(sum(CASE WHEN dot > 0
             |THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS bucket
             |FROM s GROUP BY 1),
             |cd AS (SELECT l.vec_id AS a, r.vec_id AS b FROM bk l
             |JOIN bk r ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
             |i2 AS (SELECT vec_id,
             |CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2,
             |qv FROM q),
             |sim AS (SELECT cd.a, cd.b,
             |round(CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN -1.0
             |ELSE CAST(list_sum(list_transform(range(1, len(na.qv) + 1),
             |i -> na.qv[i] * nb.qv[i])) AS DOUBLE) /
             |sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) END, 4)
             |+ 0.0 AS sim
             |FROM cd JOIN i2 na ON na.vec_id = cd.a
             |JOIN i2 nb ON nb.vec_id = cd.b)
             |SELECT a, b, sim FROM sim WHERE sim >= 0.3"""
        .stripMargin.replace('\n', ' '))),

    // PER-DIMENSION EMBEDDING MOMENTS under the hash gate — e06's exact
    // int8 quantization gives an integer basis, so n/Σq/Σq²/min/max per
    // dimension and the derived mean and population variance (each ONE
    // exact integer division) hash bit-for-bit. The oracle restates the
    // quantization CTE and aligns dimensions with generate_subscripts
    // (1-based, matching the Spark side's pos+1).
    Q("e17_dim_stats",
      (s, d) => dimStats(Tables.t(s, d, "embeddings")),
      Some("""WITH v AS (SELECT vec_id,
             |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |FROM embeddings),
             |sc AS (SELECT vec_id, e,
             |greatest(list_max(list_transform(e, x -> abs(x))) / 127.0,
             |1e-12) AS scale FROM v),
             |q AS (SELECT vec_id,
             |list_transform(e, x -> CAST(round(x / scale) AS BIGINT)) AS qv
             |FROM sc),
             |x AS (SELECT CAST(generate_subscripts(qv, 1) AS BIGINT) AS ord,
             |unnest(qv) AS x FROM q),
             |a AS (SELECT ord, count(*) AS n, sum(x) AS q_sum,
             |CAST(sum(x * x) AS BIGINT) AS q_sumsq,
             |min(x) AS q_min, max(x) AS q_max FROM x GROUP BY ord)
             |SELECT ord, n, CAST(q_sum AS BIGINT) AS q_sum, q_sumsq,
             |q_min, q_max,
             |CAST(q_sum AS DOUBLE) / n AS mean_q,
             |CAST(n * q_sumsq - q_sum * q_sum AS DOUBLE) / (n * n) AS var_q
             |FROM a"""
        .stripMargin.replace('\n', ' '))),

    // MATRYOSHKA (MRL) TRUNCATED RETRIEVAL under the hash gate: serve
    // top-k from the FIRST 16 of 64 dimensions — the
    // Kusupati et al. 2022 deployment trick (an MRL-trained embedding
    // frontloads information, so prefix truncation is the cheapest
    // accuracy/cost knob: 4x less scan bandwidth and score work per
    // candidate, before quantization even starts; compose with e06 for
    // 16x). Truncated brute-force ranking is fully deterministic, so
    // unlike the ANN families this SERVES an approximation yet still
    // gates exactly — the oracle ranks the same sliced lists. The
    // recall-vs-full trade is measured in SimilaritySpec; the scan/
    // broadcast/k-heap plan is e01's verbatim, just narrower rows.
    Q("e18_matryoshka_topk",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
          .select(col("vec_id"),
            slice(col("embedding"), 1, 16).as("embedding"))
        bruteForceTopK(emb.filter(col("vec_id") < 5), emb, 10)
      },
      Some("""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |round(list_cosine_similarity(
             |list_transform(q.embedding[1:16], x -> CAST(x AS DOUBLE)),
             |list_transform(c.embedding[1:16], x -> CAST(x AS DOUBLE))),
             |4) + 0.0 AS sim,
             |CAST(row_number() OVER (PARTITION BY q.vec_id
             |ORDER BY round(list_cosine_similarity(
             |list_transform(q.embedding[1:16], x -> CAST(x AS DOUBLE)),
             |list_transform(c.embedding[1:16], x -> CAST(x AS DOUBLE))),
             |4) DESC, c.vec_id ASC) AS INTEGER) AS rn
             |FROM embeddings q, embeddings c
             |WHERE q.vec_id < 5 AND q.vec_id != c.vec_id
             |QUALIFY rn <= 10"""
        .stripMargin.replace('\n', ' '))),

    // BINARY-EMBEDDING HAMMING SEARCH under the hash gate — 1-bit
    // quantization packs the sign pattern into two 32-bit words (32× at
    // rest/in shuffle) and scores candidates with XOR+popcount; ranking
    // is integer arithmetic, so the whole serving path is deterministic
    // and gates exactly (see [[Similarity.binaryHammingTopK]]). The
    // oracle packs the same words with a list fold and ranks by the
    // same (hamming, neighbor_id) order.
    Q("e19_binary_hamming",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        binaryHammingTopK(emb.filter(col("vec_id") < 5), emb, 10)
      },
      Some("""WITH p AS (SELECT vec_id,
             |CAST(list_sum(list_transform(range(1, 33), i ->
             |CASE WHEN embedding[i] > 0 THEN 1::BIGINT << (i - 1)
             |ELSE 0 END)) AS BIGINT) AS w1,
             |CAST(list_sum(list_transform(range(33, 65), i ->
             |CASE WHEN embedding[i] > 0 THEN 1::BIGINT << (i - 33)
             |ELSE 0 END)) AS BIGINT) AS w2 FROM embeddings),
             |h AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |CAST(bit_count(xor(q.w1, c.w1)) +
             |bit_count(xor(q.w2, c.w2)) AS BIGINT) AS hamming
             |FROM p q, p c WHERE q.vec_id < 5 AND q.vec_id != c.vec_id)
             |SELECT query_id, neighbor_id, hamming,
             |CAST(row_number() OVER (PARTITION BY query_id
             |ORDER BY hamming ASC, neighbor_id ASC) AS INTEGER) AS rn
             |FROM h QUALIFY rn <= 10"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // EXACT k-NN GRAPH under the hash gate — every vector's top-3 over
    // a content-keyed HALF of the corpus (md5 of the id, t10's
    // determinism rule): the precursor structure semantic clustering
    // and SemDeDup-style pruning consume. Brute force over the sample
    // is the VERIFY-side construction (d07-audit's role); production
    // generates candidates with the e03/e16 bucket joins and ranks
    // with the same partial k-heap. The oracle ranks identically
    // (rounded-sim DESC, id ASC — e01's tie rule).
    Q("e21_knn_graph",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings").filter(
          substring(md5(col("vec_id").cast("string")), 1, 4) < "8000")
        bruteForceTopK(emb, emb, 3)
      },
      Some("""WITH sm AS (SELECT vec_id, embedding FROM embeddings
             |WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) < '8000')
             |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |round(list_cosine_similarity(
             |list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
             |list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 4)
             |+ 0.0 AS sim,
             |CAST(row_number() OVER (PARTITION BY q.vec_id
             |ORDER BY round(list_cosine_similarity(
             |list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
             |list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 4)
             |DESC, c.vec_id ASC) AS INTEGER) AS rn
             |FROM sm q, sm c WHERE q.vec_id != c.vec_id
             |QUALIFY rn <= 3"""
        .stripMargin.replace('\n', ' '))),

    // EXACT DUPLICATE-VECTOR DEDUP under the hash gate — d01 applied
    // to embedding space (re-encoded shards and repeated ingests
    // produce byte-identical vectors long before anything is "near"
    // duplicate; dropping them is the cheapest dedup there is). A
    // shifted copy of the first 20 ids is UNIONED in so duplicate
    // groups exist by construction and the oracle states them; any
    // natural duplicates surface identically on both sides. Grouping
    // is on the raw vector here (exact float equality); at 100 TB the
    // group key is md5 of the quantized bytes — a fixed-width key with
    // d01's one-shuffle plan — instead of shuffling full vectors.
    Q("e22_exact_vector_dedup",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        val dup = emb.filter(col("vec_id") < 20)
          .select((col("vec_id") + 100000).as("vec_id"),
            col("embedding"), col("label"))
        emb.unionByName(dup)
          .groupBy(col("embedding"))
          .agg(min(col("vec_id")).as("rep"),
            count(lit(1)).as("n_members"))
          .filter(col("n_members") > 1)
          .select(col("rep"), col("n_members"))
      },
      Some("""WITH av AS (SELECT vec_id, embedding FROM embeddings
             |UNION ALL SELECT vec_id + 100000, embedding
             |FROM embeddings WHERE vec_id < 20)
             |SELECT min(vec_id) AS rep, count(*) AS n_members
             |FROM av GROUP BY embedding HAVING count(*) > 1"""
        .stripMargin.replace('\n', ' '))),

    // PER-LABEL CENTROID DRIFT under the hash gate — exact integer
    // cross-multiplied mean displacement between the two id-parity
    // halves (see [[Similarity.centroidDrift]]); the oracle restates the
    // quantization, the per-side sufficient statistics, and the one
    // final division.
    Q("e20_centroid_drift",
      (s, d) => centroidDrift(Tables.t(s, d, "embeddings")),
      Some("""WITH v AS (SELECT vec_id, label, vec_id % 2 AS side,
             |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |FROM embeddings),
             |sc AS (SELECT vec_id, label, side, e,
             |greatest(list_max(list_transform(e, x -> abs(x))) / 127.0,
             |1e-12) AS scale FROM v),
             |q AS (SELECT vec_id, label, side,
             |list_transform(e, x -> CAST(round(x / scale) AS BIGINT)) AS qv
             |FROM sc),
             |n AS (SELECT label, side, count(*) AS n FROM q GROUP BY 1, 2),
             |x AS (SELECT label, side,
             |CAST(generate_subscripts(qv, 1) AS INTEGER) - 1 AS pos,
             |unnest(qv) AS x FROM q),
             |sm AS (SELECT label, side, pos, CAST(sum(x) AS BIGINT) AS s
             |FROM x GROUP BY 1, 2, 3),
             |a AS (SELECT sm.label, pos, s AS sa, n.n AS n_a FROM sm
             |JOIN n ON n.label = sm.label AND n.side = 0
             |WHERE sm.side = 0),
             |b AS (SELECT sm.label, pos, s AS sb, n.n AS n_b FROM sm
             |JOIN n ON n.label = sm.label AND n.side = 1
             |WHERE sm.side = 1),
             |j AS (SELECT a.label, a.n_a, b.n_b,
             |abs(a.sa * b.n_b - b.sb * a.n_a) AS d
             |FROM a JOIN b ON a.label = b.label AND a.pos = b.pos),
             |g AS (SELECT label, max(n_a) AS na, max(n_b) AS nb,
             |CAST(sum(d) AS BIGINT) AS l1_num, count(*) AS dim
             |FROM j GROUP BY label),
             |labels AS (SELECT DISTINCT label FROM q),
             |cna AS (SELECT label, n AS n_a FROM n WHERE side = 0),
             |cnb AS (SELECT label, n AS n_b FROM n WHERE side = 1)
             |SELECT l.label, COALESCE(cna.n_a, 0) AS n_a,
             |COALESCE(cnb.n_b, 0) AS n_b, g.l1_num,
             |CAST(g.l1_num AS DOUBLE) / (g.na * g.nb * g.dim) AS drift
             |FROM labels l LEFT JOIN cna USING (label)
             |LEFT JOIN cnb USING (label) LEFT JOIN g USING (label)"""
        .stripMargin.replace('\n', ' '))),

    // EXACT GRAM / SCATTER MATRIX under the hash gate — the sufficient
    // statistic every embedding-space dimensionality reduction starts
    // from (PCA / whitening / OPQ rotation training all eigensolve
    // X'X): computed on e06's int8-quantized basis over the LEADING 16
    // DIMENSIONS (e18's matryoshka prefix — the slice production
    // actually reduces), so every cell is an exact integer sum both
    // engines agree on bit-for-bit. Scale shape: each row explodes to
    // its 136 upper-triangle (i,j,x_i·x_j) contributions and the
    // partial agg collapses them to ≤136 cells per task BEFORE the
    // exchange — the shuffle carries O(d²·tasks) rows regardless of
    // corpus size, and the d×d result (the only thing the driver-side
    // eigensolver ever sees) is KB-scale. |x|≤127 keeps the cell sums
    // inside long even at 10^12 rows (127²·10^12 ≈ 1.6e16 << 2^63).
    Q("e23_gram_matrix",
      (s, d) => {
        val q = quantizeInt8Vectors(Tables.t(s, d, "embeddings"))
          .select(col("vec_id"),
            transform(slice(col("qv"), 1, 16), x => x.cast("long"))
              .as("p"))
        q.select(explode(flatten(
            transform(sequence(lit(1), lit(16)), i =>
              transform(sequence(i, lit(16)), j =>
                struct(i.cast("long").as("i"), j.cast("long").as("j"),
                  (element_at(col("p"), i) * element_at(col("p"), j))
                    .as("v")))))).as("c"))
          .groupBy(col("c.i").as("i"), col("c.j").as("j"))
          .agg(sum(col("c.v")).as("gram"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |FROM embeddings),
             |sc AS (SELECT vec_id, e,
             |greatest(list_max(list_transform(e, x -> abs(x))) / 127.0,
             |1e-12) AS scale FROM v),
             |q AS (SELECT vec_id,
             |list_transform(e, x -> CAST(round(x / scale) AS BIGINT)) AS qv
             |FROM sc),
             |dd AS (SELECT vec_id,
             |CAST(generate_subscripts(qv, 1) AS BIGINT) AS ord,
             |unnest(qv) AS x FROM q)
             |SELECT a.ord AS i, b.ord AS j,
             |CAST(sum(a.x * b.x) AS BIGINT) AS gram
             |FROM dd a JOIN dd b ON a.vec_id = b.vec_id
             |AND a.ord <= b.ord
             |WHERE a.ord <= 16 AND b.ord <= 16 GROUP BY 1, 2"""
        .stripMargin.replace('\n', ' '))),

    // PRE- vs POST-FILTER kNN under the hash gate — see [[Similarity
    // .filteredKnnDeficit]]. Queries vec_id < 8 search WITHIN their own
    // label (~50 same-label candidates per query, so the filtered
    // top-10 is always full); the oracle replays both branches with
    // e01's rounded-sim + id tie-break and must agree on every count —
    // including the per-query deficit, the number a post-filtering
    // vector store silently drops.
    Q("e24_filtered_knn",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        filteredKnnDeficit(emb.filter(col("vec_id") < 8), emb, 10)
      },
      Some("""WITH s AS (SELECT q.vec_id AS query_id, q.label AS qlabel,
             |c.vec_id AS neighbor_id, c.label AS clabel,
             |round(list_cosine_similarity(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
             |list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 4)
             |+ 0.0 AS sim
             |FROM embeddings q, embeddings c
             |WHERE q.vec_id < 8 AND q.vec_id != c.vec_id),
             |pre AS (SELECT query_id, count(*) AS n_pre FROM (
             |SELECT query_id, row_number() OVER (PARTITION BY query_id
             |ORDER BY sim DESC, neighbor_id ASC) AS rn
             |FROM s WHERE qlabel = clabel QUALIFY rn <= 10)
             |GROUP BY 1),
             |post AS (SELECT query_id, count(*) AS n_post FROM (
             |SELECT query_id, qlabel, clabel,
             |row_number() OVER (PARTITION BY query_id
             |ORDER BY sim DESC, neighbor_id ASC) AS rn
             |FROM s QUALIFY rn <= 10) WHERE qlabel = clabel
             |GROUP BY 1)
             |SELECT qs.query_id,
             |CAST(COALESCE(pre.n_pre, 0) AS BIGINT) AS n_pre,
             |CAST(COALESCE(post.n_post, 0) AS BIGINT) AS n_post,
             |CAST(COALESCE(pre.n_pre, 0) - COALESCE(post.n_post, 0)
             |AS BIGINT) AS deficit
             |FROM (SELECT vec_id AS query_id FROM embeddings
             |WHERE vec_id < 8) qs
             |LEFT JOIN pre ON pre.query_id = qs.query_id
             |LEFT JOIN post ON post.query_id = qs.query_id"""
        .stripMargin.replace('\n', ' '))),

    // IVF NPROBE SWEEP — see [[Similarity.ivfRecallCurve]]. Rows-only
    // (recall depends on the trained quantizer); the theorem-audit twin
    // below is the driver-visible gate.
    Q("e25_ivf_recall_curve",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        ivfRecallCurve(emb.filter(col("vec_id") < 20), emb, 10,
          nlist = 16, nprobes = Seq(1, 2, 4, 16))
      },
      None),

    // The e25 audit twin under the hash gate — see [[Similarity
    // .recallCurveViolations]]: monotonicity in nprobe and
    // full-probe-equals-exact stated as an EMPTY violation relation,
    // so a probe-ranking or tie-break regression flips the driver row
    // compare red even though absolute recall is model-dependent.
    Q("e25_recall_curve_audit",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        recallCurveViolations(
          ivfRecallCurve(emb.filter(col("vec_id") < 20), emb, 10,
            nlist = 16, nprobes = Seq(1, 2, 4, 16)),
          nlist = 16)
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS kind,
             |CAST(NULL AS BIGINT) AS nprobe,
             |CAST(NULL AS BIGINT) AS n_hit,
             |CAST(NULL AS BIGINT) AS n_ref WHERE 1=0"""
        .stripMargin.replace('\n', ' '))),

    // e26: TWO-STAGE RETRIEVAL — retrieve with the COMPRESSED corpus,
    // rescore with full precision (the production ANN serving shape:
    // FAISS/ScaNN's refine step). Stage 1 ranks the int8-quantized
    // INTEGER dot product (e06's exact construction — 4x less IO and
    // SIMD-friendly at scale) to top-50 candidates per query; stage 2
    // fetches only those candidates' float vectors and reranks by
    // e01's exact rounded cosine to top-10. BOTH stages are under one
    // hash: the integer qdot rides along into the output, so a
    // candidate-stage deviation flips the gate even when the rescore
    // would have hidden it. Scale: stage 1 scans the 4x-smaller
    // quantized table with the topk_neighbors partial k-heap (no
    // corpus shuffle); stage 2 touches |Q|×50 rows — the whole point
    // of staging. Oracle replays quantization, integer dot (exact in
    // doubles at int8×64-dim magnitudes), and the rescore.
    Q("e26_two_stage_rescore",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        val quant = quantizeInt8Vectors(emb)
          .select(col("vec_id"),
            transform(col("qv"), x => x.cast("long")).as("qvl"))
        val q = quant.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("qvl").as("qq"))
        val scored = quant
          .select(col("vec_id").as("neighbor_id"), col("qvl").as("cq"))
          .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
          .withColumn("sim",
            aggregate(zip_with(col("qq"), col("cq"), (a, b) => a * b),
              lit(0L), (acc, x) => acc + x).cast("double"))
          .select("query_id", "neighbor_id", "sim")
        val cands = rankTopK(scored, 50)
          .select(col("query_id"), col("neighbor_id"),
            col("sim").cast("long").as("qdot"))
        val qe = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val rescored = cands
          .join(emb.select(col("vec_id").as("neighbor_id"),
            col("embedding").as("ce")), "neighbor_id")
          .join(broadcast(qe), "query_id")
          .withColumn("sim",
            round(VectorExpressions.cosineSim(col("qe"), col("ce")), 4))
          .select("query_id", "neighbor_id", "sim")
        rankTopK(rescored, 10)
          .join(cands.withColumnRenamed("qdot", "qdot"),
            Seq("query_id", "neighbor_id"))
          .select("query_id", "neighbor_id", "qdot", "sim", "rn")
      },
      Some("""WITH v AS (SELECT vec_id,
             |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |FROM embeddings),
             |sc AS (SELECT vec_id, e,
             |greatest(list_max(list_transform(e, x -> abs(x))) / 127.0,
             |1e-12) AS scale FROM v),
             |q8 AS (SELECT vec_id, e, list_transform(e,
             |x -> CAST(round(x / scale) AS BIGINT)) AS qv FROM sc),
             |cand AS (SELECT q.vec_id AS query_id, c.vec_id AS
             |neighbor_id,
             |CAST(list_dot_product(q.qv, c.qv) AS BIGINT) AS qdot,
             |row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |CAST(list_dot_product(q.qv, c.qv) AS BIGINT) DESC,
             |c.vec_id ASC) AS crn
             |FROM q8 q, q8 c
             |WHERE q.vec_id < 3 AND c.vec_id != q.vec_id
             |QUALIFY crn <= 50),
             |resc AS (SELECT cand.query_id, cand.neighbor_id,
             |cand.qdot,
             |round(list_cosine_similarity(a.e, b.e), 4) + 0.0 AS sim,
             |CAST(row_number() OVER (PARTITION BY cand.query_id
             |ORDER BY round(list_cosine_similarity(a.e, b.e), 4) DESC,
             |cand.neighbor_id ASC) AS INTEGER) AS rn
             |FROM cand JOIN v a ON a.vec_id = cand.query_id
             |JOIN v b ON b.vec_id = cand.neighbor_id QUALIFY rn <= 10)
             |SELECT query_id, neighbor_id, qdot, sim, rn FROM resc"""
        .stripMargin.replace('\n', ' ')))
  )
}
