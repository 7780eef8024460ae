package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import TextFunctions._

/** Deduplication operators for document corpora (driver north star).
  *
  * Scale design (the part that matters at 100 TB):
  *  - Exact dedup is a hash-groupBy: one shuffle on a 128-bit content hash,
  *    map-side partial aggregation, no driver materialization.
  *  - Near-dup is MinHash + LSH banding: signatures are per-row expression
  *    work (one scan); candidate generation explodes each doc into `bands`
  *    rows and shuffles on the band key — cost O(docs × bands), never
  *    O(docs²). The exact-jaccard verify joins shingle sets back in only for
  *    candidate pairs. Band-key hot spots (boilerplate docs) are the classic
  *    skew risk; AQE skew-join handles moderate skew, and a count-based
  *    bucket cap (`maxBucket`) drops degenerate buckets the way production
  *    dedup pipelines do.
  *  - SimHash near-dup uses the pigeonhole banding on bit-chunks: hamming
  *    distance ≤ k implies at least one of (k+1) chunks is equal, so
  *    candidates come from equality joins on chunks — again O(docs × chunks).
  */
object Dedup {

  /** The constructed URL-variant fixture shared by d17 and p06 — ONE
    * definition per engine side (this Column and [[urlCtesSql]]'s text),
    * so a change to the variant families or tracking params cannot
    * silently desynchronize the two gates (each previously carried a
    * verbatim copy of both the Scala block and the oracle CTE). */
  private[graft] def constructedUrl: org.apache.spark.sql.Column = {
    val pid = (col("doc_id") % 50).cast("string")
    val v = col("doc_id") % 4
    when(v === 0,
      concat(lit("https://example.com/page/"), pid))
      .when(v === 1,
        concat(lit("http://www.Example.COM/page/"), pid, lit("/")))
      .when(v === 2, concat(lit("https://example.com/page/"), pid,
        lit("?utm_source=feed&utm_campaign=x")))
      .otherwise(concat(lit("https://example.com/page/"), pid,
        lit("?id="), pid, lit("&utm_medium=email#frag")))
  }

  /** DuckDB twin of [[constructedUrl]] + [[normalizedUrl]]: the `u`
    * (constructed variants) and `n` (normalized key) CTEs, parameterized
    * only by the passthrough column list (d17 carries `doc_id`, p06
    * `doc_id, text`). */
  private[graft] def urlCtesSql(cols: String): String =
    (s"""WITH u AS (SELECT $cols,
        |CASE doc_id % 4
        |WHEN 0 THEN 'https://example.com/page/' || (doc_id % 50)
        |WHEN 1 THEN 'http://www.Example.COM/page/' || (doc_id % 50) || '/'
        |WHEN 2 THEN 'https://example.com/page/' || (doc_id % 50) ||
        |'?utm_source=feed&utm_campaign=x'
        |ELSE 'https://example.com/page/' || (doc_id % 50) ||
        |'?id=' || (doc_id % 50) || '&utm_medium=email#frag'
        |END AS url FROM documents),
        |n AS (SELECT $cols,
        |regexp_replace(lower(regexp_extract(url,
        |'^[a-z]+://([^/?#]+)', 1)), '^www\\.', '') ||
        |regexp_replace(regexp_extract(url,
        |'^[a-z]+://[^/?#]+([^?#]*)', 1), '/$$', '') ||
        |CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS norm_url
        |FROM (SELECT $cols, url,
        |COALESCE(array_to_string(list_filter(string_split(
        |regexp_extract(url, '\\?([^#]*)', 1), '&'),
        |p -> NOT regexp_matches(p, '^(utm_[a-z]+|ref|fbclid|gclid)=')),
        |'&'), '') AS kept FROM u))""")
      .stripMargin.replace('\n', ' ')

  /** Canonical crawl-dedup URL key (d17): lowercase host minus a leading
    * `www.`, path minus a trailing slash, query minus the tracking params
    * (utm_ prefix, ref, fbclid, gclid — real params survive), fragment
    * dropped (parse_url never returns it). Pure per-row codegen'd string work;
    * the scheme is intentionally NOT part of the key (http/https
    * variants of one page are the same document). */
  def normalizedUrl(url: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val host = regexp_replace(
      lower(parse_url(url, lit("HOST"))), "^www\\.", "")
    val path = regexp_replace(parse_url(url, lit("PATH")), "/$", "")
    val kept = array_join(filter(
      split(coalesce(parse_url(url, lit("QUERY")), lit("")), "&"),
      p => !p.rlike("^(utm_[a-z]+|ref|fbclid|gclid)=")), "&")
    concat(host, path,
      when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
  }

  /** Unlock full parallelism before expensive per-row expression work:
    * a small corpus file arrives as ONE scan partition (128 MB split
    * granularity), serializing the whole signature computation on one
    * core. At real scale the input has >= defaultParallelism splits and
    * this is a no-op; the explicit partition count keeps AQE from
    * coalescing the tiny shuffle back to one partition.
    *
    * The decision estimates the scan partition count from file-listing
    * METADATA (sizes + Spark's own bin-packing arithmetic: ceil((Σ size +
    * nFiles × openCost) / maxPartitionBytes)) rather than
    * `df.rdd.getNumPartitions`, which would force physical planning per
    * invocation. Raw file COUNT is not a proxy: Spark packs many tiny
    * files into one split (count high, partitions 1) and splits one big
    * file into many. The size walk short-circuits once the estimate
    * reaches the target, so at real scale it touches a handful of file
    * statuses; non-file inputs (empty `inputFiles`) take the repartition,
    * the safe side for the tiny frames that shape implies. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    val enough = files.nonEmpty && {
      val conf = spark.sessionState.conf
      val maxSplit = math.max(conf.filesMaxPartitionBytes, 1L)
      val openCost = conf.filesOpenCostInBytes
      val hconf = spark.sessionState.newHadoopConf()
      var bytes = 0L
      var i = 0
      // short-circuit: stop summing once >= p partitions are implied
      while (i < files.length && bytes < maxSplit.toDouble * p) {
        val path = new org.apache.hadoop.fs.Path(files(i))
        bytes += openCost +
          (try path.getFileSystem(hconf).getFileStatus(path).getLen
           catch { case _: java.io.IOException => 0L })
        i += 1
      }
      math.ceil(bytes.toDouble / maxSplit) >= p
    }
    if (enough) df else df.repartition(p)
  }

  /** Exact duplicate groups keyed by md5 of the raw text. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
      .select(md5(col("text")).as("h"), col("keep_id"), col("n"))

  /** Exact dedup after whitespace/case normalization. */
  def normalizedGroups(docs: DataFrame): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    docs.groupBy(norm.as("ntext"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
      .select(md5(col("ntext")).as("h"), col("keep_id"), col("n"))
  }

  /** SEGMENT the corpus into non-overlapping fixed token windows —
    * (doc_id, seg_id, seg) rows, the unit for [[removeBoilerplate]].
    * Real corpora segment on structure (newlines, sentences); this
    * token-window segmenter is the structure-free fallback (the synthetic
    * corpus has no newlines) — swap in [[lineSegments]] when the text has
    * them. Per-row explode, no shuffle; tokens staged through a
    * projection so the slice lambda references an attribute, never a
    * duplicated subtree (the O(d²) pitfall). */
  def segmentsByTokens(docs: DataFrame, segLen: Int): DataFrame =
    // spread before the explode: a single-file corpus otherwise reads as
    // ONE scan partition and the whole segment explode + hashing runs in
    // one task until the first exchange (minhashPrep's discipline)
    spread(docs).select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0),
          floor((size(col("__toks")) - 1) / lit(segLen)).cast("int")),
        i => concat_ws(" ", slice(col("__toks"),
          i * segLen + lit(1), lit(segLen))))))
      .select(col("doc_id"), col("pos").cast("long").as("seg_id"),
        col("col").as("seg"))

  /** Newline segmenter for corpora with real line structure — same
    * (doc_id, seg_id, seg) contract as [[segmentsByTokens]]. */
  def lineSegments(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"),
      posexplode(split(col("text"), "\n")))
      .select(col("doc_id"), col("pos").cast("long").as("seg_id"),
        col("col").as("seg"))

  /** CCNet-style BOILERPLATE-SEGMENT removal — the line-level dedup every
    * web-corpus pipeline runs before document-level dedup: a segment whose
    * exact content appears in more than `maxDocFrac` of all documents
    * (nav bars, cookie banners, license footers) is dropped from every
    * document; survivors reassemble in original order. Input is any
    * (doc_id, seg_id, seg) frame; output (doc_id, n_segs, n_kept,
    * clean_text) keeps docs whose every segment was boilerplate (n_kept
    * 0, empty text) so the caller sees the full decision surface.
    *
    * Scale shape at 100 TB: one segment-level shuffle for the
    * document-frequency aggregate; the boilerplate key set is SMALL by
    * construction (each key spans > maxDocFrac of the corpus), so the
    * anti-join broadcasts — but is left planner-decided (a degenerate
    * all-duplicate corpus could inflate it past any ceiling, the t16
    * vocab-join reasoning). The anti-join keys on md5(seg) — 16 bytes
    * through the exchange instead of arbitrary-length segment text; the
    * frequency threshold is a corpus FRACTION, not an absolute count, so
    * the same parameter works at any scale. The reassembly
    * (collect_list + array_sort per doc) carries each doc's segments
    * once — the same per-doc row-group shape as the t12 packing lanes.
    *
    * r17 optimization (guide §2.3, narrower shuffle keys + §4 cheaper
    * expressions): the internal dedup key `__k` is xxhash64(seg) — an
    * 8-byte long — instead of md5(seg)'s 32-char hex STRING (32+ bytes
    * through two exchanges, plus a far costlier per-row hash). The key
    * never reaches the output; results are identical up to a 64-bit hash
    * collision on distinct segments, the same negligible-collision class
    * the minhash pipelines already ride (d07's hash-set argument), and
    * the driver's DuckDB gate — whose oracle anti-joins the segment
    * STRING — re-proves d11/p04/p05 exactly after this change. */
  def removeBoilerplate(segs: DataFrame, maxDocFrac: Double): DataFrame = {
    val s = ManagedCache.persist(segs.withColumn("__k", xxhash64(col("seg"))))
    val perDoc = ManagedCache.persist(
      s.groupBy("doc_id").agg(count(lit(1)).as("n_segs")))
    // total doc count derives from the small per-doc aggregate — never a
    // second corpus scan
    val total = perDoc.agg(count(lit(1)).as("n_docs"))
    val boiler = s.groupBy("__k")
      .agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(total))
      .filter(col("df") > col("n_docs") * maxDocFrac)
      .select("__k")
    // NOTE (r17, measured): fusing perDoc+kept+join into one aggregation
    // with a boilerplate FLAG (left join + collect_list(when(...))) was
    // tried and is SLOWER — the anti-join drops the (numerous)
    // boilerplate rows BEFORE the reassembly exchange, and that §2.3
    // byte saving beats the §2.4 shuffle-count saving on this corpus.
    val kept = s.join(boiler, Seq("__k"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("seg_id"), col("seg")))),
          x => x.getField("seg"))).as("clean_text"))
    perDoc.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-document segment ARRAYS — the un-exploded twin of
    * [[segmentsByTokens]], the input [[removeBoilerplateInRow]] consumes.
    * Same segments in the same order; the explicit non-null filter
    * reproduces posexplode's NULL-array drop (a NULL-text doc emits no
    * segment rows in the exploded form, so it must emit no row here). */
  def segmentArraysByTokens(docs: DataFrame, segLen: Int): DataFrame =
    spread(docs).select(col("doc_id"), tokens(col("text")).as("__toks"))
      .filter(col("__toks").isNotNull)
      .select(col("doc_id"), transform(
        sequence(lit(0),
          floor((size(col("__toks")) - 1) / lit(segLen)).cast("int")),
        i => concat_ws(" ", slice(col("__toks"),
          i * segLen + lit(1), lit(segLen)))).as("__segs"))

  /** r18 optimization of the d11/p04/p05 boilerplate pass (guide §2.4
    * remove shuffles outright): every per-DOCUMENT quantity the exploded
    * [[removeBoilerplate]] recovers with shuffles is already available
    * per-ROW when the segments stay an array — n_segs is `size(__segs)`,
    * the per-doc-distinct segment keys are `array_distinct(transform(...,
    * xxhash64))` (so the document-frequency count needs ONE single-level
    * aggregate instead of countDistinct's two-level pair shuffle), and
    * the reassembly is a per-row `filter` + `concat_ws` against the
    * broadcast boilerplate key array — no collect_list exchange of the
    * segment text, no per-doc join. Plan: 5 Exchanges + 2 caches → 1
    * Exchange (the df aggregate) + 2 one-row broadcasts.
    *
    * The boilerplate key set stays broadcast-safe BY CONSTRUCTION at any
    * corpus size: each key's df exceeds maxDocFrac·n_docs, and Σ df over
    * keys ≤ total segment occurrences, so |boiler| < avg_segs_per_doc /
    * maxDocFrac — independent of corpus row count (the same argument that
    * already justified the exploded form's broadcast anti-join). The
    * membership probe is a linear `array_contains` over that bounded
    * long array. Output identical to [[removeBoilerplate]] ∘
    * [[segmentsByTokens]] up to the established xxhash64 collision class
    * (DedupSpec asserts frame equality; the DuckDB gate re-proves
    * d11/p04/p05 against the segment-STRING oracle). */
  def removeBoilerplateInRow(baseIn: DataFrame, maxDocFrac: Double): DataFrame = {
    // the segment-array frame feeds the df aggregate, the doc count AND
    // the per-row filter below — without the persist the tokenize+segment
    // scan (the dominant per-row cost) runs three times.
    // r18 follow-up: the per-segment xxhash64 keys materialize INTO the
    // cache (+8 bytes/segment) — previously the dfreq pass and the
    // keep-filter pass each re-hashed every segment, interpreted, inside
    // their lambdas; now each segment hashes exactly once.
    val base = ManagedCache.persist(baseIn.withColumn("__hsegs",
      transform(col("__segs"), s => xxhash64(s))))
    val dfreq = base.select(explode(array_distinct(col("__hsegs"))).as("__k"))
      .groupBy("__k").agg(count(lit(1)).as("df"))
    val total = base.agg(count(lit(1)).as("n_docs"))
    // all over-threshold keys fold into ONE array row (empty when the
    // corpus has no boilerplate) — the broadcast the per-row filter probes
    val boiler = dfreq.crossJoin(broadcast(total))
      .filter(col("df") > col("n_docs") * maxDocFrac)
      .agg(collect_list(col("__k")).as("__bk"))
    // zip the precomputed hashes against the segments: a dropped segment
    // becomes NULL and concat_ws skips NULLs, so the reassembled text is
    // byte-identical to filtering the segment array directly
    base.crossJoin(broadcast(boiler))
      .select(col("doc_id"), col("__segs"),
        zip_with(col("__segs"), col("__hsegs"),
          (s, h) => when(!array_contains(col("__bk"), h), s)).as("__kept"))
      .select(col("doc_id"),
        size(col("__segs")).cast("long").as("n_segs"),
        size(filter(col("__kept"), s => s.isNotNull)).cast("long")
          .as("n_kept"),
        concat_ws(" ", col("__kept")).as("clean_text"))
  }

  /** (doc_id, shh, sig) prepared frame: per-row expression work only.
    * `shh` is the distinct shingle HASH set — the unit for both banding and
    * the exact-jaccard verify (jaccard over 64-bit hash sets equals jaccard
    * over the string sets up to negligible collision probability, and long
    * comparisons beat string comparisons in the verify join). Each column
    * is materialized so lambda bodies never re-derive it (HOFs evaluate
    * interpreted, with no cross-iteration CSE). */
  def minhashPrep(docs: DataFrame, shingleN: Int, k: Int): DataFrame =
    spread(docs).select(
      col("doc_id"),
      // native shingling (Kernels.shingle_hashes): one
      // fused hash+fold+distinct pass, bit-identical to the HOF chain
      TextExpressions.shingleHashes(tokens(col("text")), shingleN).as("shh"))
      // native signature (Kernels.minhash_sig): one fused
      // loop, bit-identical to the interpreted HOF form
      // (TextFunctions.minhashSignature — kept as the DedupSpec cross-check)
      .withColumn("sig", TextExpressions.minhashSig(col("shh"), k))

  /** (doc_id, band, bh) band keys of a minhash-prep frame — the LSH
    * candidate-join key layout shared by the self-join (d03/d05),
    * incremental (d10 twin), and streaming pipelines. */
  private[graft] def bandedKeys(
      prep: DataFrame, bands: Int, rows: Int): DataFrame = prep
    .select(col("doc_id"),
      explode(lshBands(col("sig"), bands, rows)).as("bk"))
    .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))

  /** Skew cap over a banded frame WITHOUT buffering the degenerate
    * bucket: a window count over (band, bh) would sort the exact hot
    * bucket it is guarding against into one task. Instead: tiny aggregate
    * of over-cap keys → broadcast anti-join. The over-cap key set is by
    * construction small (each key represents > maxBucket docs), so the
    * broadcast is always safe. One cap implementation for every banded
    * pipeline — batch self-join, incremental, and streaming. */
  private[graft] def capBanded(banded: DataFrame, maxBucket: Int): DataFrame = {
    val overCap = banded.groupBy("band", "bh").count()
      .filter(col("count") > maxBucket)
      .select("band", "bh")
    banded.join(broadcast(overCap), Seq("band", "bh"), "left_anti")
  }

  /** Candidate pairs from LSH banding, verified with exact jaccard over the
    * shingle sets; returns pairs (a, b, jac) with jac >= threshold.
    * maxBucket drops degenerate buckets (identical boilerplate exploding a
    * band key) — at 100 TB this cap is what keeps worst-case skew bounded. */
  def minhashNearDupPairs(
      docs: DataFrame,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    requireBanding(k, bands)
    val rows = k / bands
    // Persisted (tracked — callers release via ManagedCache.releaseAll):
    // the shingle/signature scan feeds banding AND the verify join; without
    // the persist the whole signature pipeline computes twice (once per
    // self-join side) — the round-1 cost bug.
    val prep = ManagedCache.persist(minhashPrep(docs, shingleN, k))
    // Persisted: the self-join below reads `capped` from both sides —
    // without it the explode + aggregate + anti-join chain runs twice.
    // (doc_id, band, bh) is bands×docs rows of 3 longs — always small
    // relative to the corpus.
    val capped = ManagedCache.persist(
      capBanded(bandedKeys(prep, bands, rows), maxBucket))
    val cands = capped.alias("l")
      .join(capped.alias("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .distinct()
    verifyJaccard(cands, prep, prep, "a", "b", threshold)
  }

  /** Exact-jaccard verify: join each candidate pair column back to ITS
    * side's shingle-hash sets and keep pairs at or above `threshold`.
    * Shared by the banded self-join (d03/d05: both sides are the same
    * prep) and the incremental cross-join (delta prep vs corpus prep —
    * side-specific joins, so the delta column never scans the
    * corpus-sized index and vice versa). */
  private def verifyJaccard(
      cands: DataFrame,
      prepA: DataFrame,
      prepB: DataFrame,
      aCol: String,
      bCol: String,
      threshold: Double): DataFrame = {
    def sets(prep: DataFrame, idCol: String, shCol: String) =
      prep.select(col("doc_id").as(idCol), col("shh").as(shCol))
    cands
      .join(sets(prepA, aCol, "sh_a"), aCol)
      .join(sets(prepB, bCol, "sh_b"), bCol)
      .withColumn("jac",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .filter(col("jac") >= threshold)
      .select(aCol, bCol, "jac")
  }

  /** Persisted (doc_id, sz, g) shingle inverted index — three long
    * columns, which the columnar cache re-reads almost for free. (Caching
    * the array-of-hashes form instead made the warm runs SLOWER than
    * cold: per-row array materialization out of the cache cost more than
    * recomputing the shingles.) Shared by the exhaustive (d07),
    * prefix-filtered (d24), containment and incremental (d10)
    * exact-jaccard pipelines.
    *
    * `sz`, the per-doc distinct-shingle set size, is CARRIED on every row
    * (r18, guide §2.4): it is `size()` of the pre-distinct shingle array
    * — a per-ROW expression over the scan, NOT an aggregate — so the
    * exact-jaccard finalizers (c / (sa + sb − c), one rounding, one
    * threshold) read |A|/|B| straight off the join rows instead of
    * re-aggregating the exploded index per side and joining the sizes
    * back in (d07's before-plan paid 2 HashAggregate pairs + 2 Exchanges
    * + 2 BroadcastExchanges for exactly this). One extra long through the
    * index; grouping by (doc, sz) is grouping by doc (sz is functionally
    * dependent), so results are unchanged. */
  private def shingleInvertedIndexSz(docs: DataFrame, shingleN: Int)
      : DataFrame =
    ManagedCache.persist(
      spread(docs).select(
        col("doc_id"),
        TextExpressions.shingleHashes(tokens(col("text")), shingleN)
          .as("__shh"))
        .select(col("doc_id"),
          size(col("__shh")).cast("long").as("sz"),
          explode(col("__shh")).as("g")))

  /** EXHAUSTIVE exact-jaccard near-dup pairs via a shingle inverted index:
    * any pair with jaccard > 0 shares at least one shingle, so exploding
    * (doc_id, shingle) and self-joining on the shingle hash enumerates
    * every qualifying pair — no LSH, no probabilistic misses, which is what
    * makes this the oracle-checkable twin of the banded pipelines.
    *
    * Scale: cost is Σ_s df(s)² over shingle document-frequencies — exact
    * dedup's price. A boilerplate shingle shared by 1M docs makes its term
    * 10¹²; at 100 TB use the banded d03/d05 (bounded by maxBucket) and
    * keep this as the small-corpus / audit-sample verifier. */
  def exactJaccardPairs(
      docs: DataFrame,
      shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    // r18 (guide §2.4): set sizes ride the index rows (see
    // [[shingleInvertedIndexSz]]) and join the group KEY, so the whole
    // finalize is inline arithmetic on the pair aggregate — no per-side
    // sizes aggregate, no finalize joins. Same jac expression as
    // the r17 countJaccard finalize (bit-identical rounding).
    val inv = shingleInvertedIndexSz(docs, shingleN)
    inv.alias("l")
      .join(inv.alias("r"),
        col("l.g") === col("r.g") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("a"), col("l.sz").as("sa"),
        col("r.doc_id").as("b"), col("r.sz").as("sb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jac", round(
        col("c").cast("double") / (col("sa") + col("sb") - col("c")), 4))
      .filter(col("jac") >= threshold)
      .select("a", "b", "jac")
  }

  /** PREFIX-FILTERED exact-jaccard pairs (the AllPairs/PPJoin candidate
    * generation, Bayardo et al. 2007 / Xiao et al. 2008) — the same
    * output as [[exactJaccardPairs]] from a PROVABLY smaller candidate
    * join: order every doc's shingles by a global canonical order
    * (ascending document frequency, ties by hash — rarest first), keep
    * only each doc's first |A| − ⌈τ·|A|⌉ + 1 shingles as its PREFIX,
    * and generate candidates from the prefix-token self-join alone.
    * Lossless by the prefix-filter lemma: jac(A,B) ≥ τ forces overlap
    * c ≥ ⌈τ·|A|⌉, so the smallest common shingle (in the global order)
    * must sit inside BOTH prefixes — a pair missed by the prefix join
    * cannot qualify. Candidates verify with the exact count like d07.
    *
    * τ is passed as an exact RATIONAL (num/den): the prefix boundary
    * ⌈τ·sz⌉ computes as (num·sz + den − 1) div den in integers. A
    * float boundary (`ceil(0.8 * sz)`) happens to agree for common
    * thresholds at practical sizes, but only by rounding luck that
    * would need re-auditing per threshold and per engine; the div form
    * is exact by construction and engine-independent.
    *
    * Scale: the inverted-index cost drops from Σ_s df(s)² to
    * Σ_s df_prefix(s)² — boilerplate shingles are by construction the
    * HIGHEST-df tokens, so they land at the END of the canonical order
    * and fall out of every prefix: exactly the d03/maxBucket hot-bucket
    * problem, solved by arithmetic instead of a cap, with zero recall
    * loss. At 100 TB this is the exact-dedup form you run corpus-wide
    * where d07 itself is audit-sample-only. */
  def prefixJaccardPairs(
      docs: DataFrame,
      shingleN: Int = 3,
      num: Int = 4,
      den: Int = 5): DataFrame = {
    // r18 (guide §2.4): per-doc set sizes ride the index rows (see
    // [[shingleInvertedIndexSz]]) — the sizes aggregate, its persist, and
    // all three sizes joins (prefix-boundary filter + two finalize joins)
    // drop out; sa/sb flow through the verify joins and into the group
    // key instead. Same jac expression as the r17 countJaccard finalize.
    val inv = shingleInvertedIndexSz(docs, shingleN)
    val dfreq = inv.groupBy("g").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("g"))
    val pref = ManagedCache.persist(
      inv.join(dfreq, "g")
        .withColumn("rk", row_number().over(wDoc))
        .filter(col("rk") <= col("sz") -
          expr(s"(sz * $num + ${den - 1}) div $den") + 1)
        .select("doc_id", "g"))
    val cand = pref.alias("l").join(pref.alias("r"),
        col("l.g") === col("r.g") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .distinct()
    cand
      .join(inv.select(col("doc_id").as("a"), col("sz").as("sa"),
        col("g")), "a")
      .join(inv.select(col("doc_id").as("b"), col("sz").as("sb"),
        col("g")), Seq("b", "g"))
      .groupBy("a", "sa", "b", "sb").agg(count(lit(1)).as("c"))
      .withColumn("jac", round(
        col("c").cast("double") / (col("sa") + col("sb") - col("c")), 4))
      .filter(col("jac") >= num.toDouble / den)
      .select("a", "b", "jac")
  }

  /** EXACT SHINGLE-CONTAINMENT pairs — the ASYMMETRIC near-dup jaccard
    * misses: a short document wholly quoted inside a long one has
    * containment |A∩B|/|A| ≈ 1 but jaccard |A∩B|/|A∪B| ≈ |A|/|B| → 0,
    * so symmetric dedup (d07) never flags it. Quote/subset inclusion is
    * the RealNews/C4 wire-copy case: the same article body embedded in
    * many pages under different boilerplate. Emits BOTH directions of
    * each sharing pair — (contained, container, containment) — filtered
    * at the threshold; downstream keeps the container and drops the
    * contained copy.
    *
    * Scale: identical to [[exactJaccardPairs]] (the same inverted-index
    * self-join and Σdf² cost bound — deploy over an audit sample at
    * 100 TB, d07_audit's reasoning); the only change is the finalize
    * formula dividing by ONE side's set size. */
  def containmentPairs(
      docs: DataFrame,
      shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    // r18: carried set sizes, same fusion as [[exactJaccardPairs]]
    val inv = shingleInvertedIndexSz(docs, shingleN)
    val ws = inv.alias("l")
      .join(inv.alias("r"),
        col("l.g") === col("r.g") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("a"), col("l.sz").as("sa"),
        col("r.doc_id").as("b"), col("r.sz").as("sb"))
      .agg(count(lit(1)).as("c"))
    ws.select(col("a").as("contained"), col("b").as("container"),
        round(col("c").cast("double") / col("sa"), 4).as("containment"))
      .unionByName(ws.select(col("b").as("contained"),
        col("a").as("container"),
        round(col("c").cast("double") / col("sb"), 4).as("containment")))
      .filter(col("containment") >= threshold)
  }

  /** INCREMENTAL exact-jaccard near-dup: pairs (new_id, old_id, jac)
    * between a DELTA batch and the EXISTING corpus via a cross-side
    * shingle inverted index — the shape every production dedup pipeline
    * actually runs (daily ingest vs accumulated corpus), where the full
    * self-join d07 is the from-scratch rebuild. Sides must carry disjoint
    * doc_ids (a delta is new documents by definition); a =!= guard in the
    * join keeps an accidental overlap from emitting self-pairs.
    *
    * Scale: cost is Σ_s df_new(s)·df_old(s) — LINEAR in the delta's
    * shingle frequencies, not quadratic in the corpus. With a bounded
    * delta this stays feasible at 100 TB where d07 cannot, which is the
    * whole point of incremental ingestion; the corpus side still wants
    * the banded [[incrementalMinhashPairs]] when boilerplate shingles
    * make df_old degenerate. */
  def incrementalExactJaccard(
      newDocs: DataFrame,
      oldDocs: DataFrame,
      shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    // r18: carried set sizes, same fusion as [[exactJaccardPairs]]
    val ni = shingleInvertedIndexSz(newDocs, shingleN)
    val oi = shingleInvertedIndexSz(oldDocs, shingleN)
    // doc-id disjointness is a caller contract, but a violation would
    // SILENTLY emit self-pairs (new_id == old_id, jac = 1.0) instead of
    // failing — the =!= guard makes overlap harmless at the cost of one
    // codegen'd comparison on the already-shuffled join rows
    ni.alias("l").join(oi.alias("r"),
        col("l.g") === col("r.g") && col("l.doc_id") =!= col("r.doc_id"))
      .groupBy(col("l.doc_id").as("new_id"), col("l.sz").as("sa"),
        col("r.doc_id").as("old_id"), col("r.sz").as("sb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jac", round(
        col("c").cast("double") / (col("sa") + col("sb") - col("c")), 4))
      .filter(col("jac") >= threshold)
      .select("new_id", "old_id", "jac")
  }

  /** INCREMENTAL MinHash-LSH near-dup — the 100 TB twin of
    * [[incrementalExactJaccard]]: band the delta AND the corpus, join
    * across sides on the band key (never self-join the corpus), verify
    * candidates with exact jaccard over the cross-side shingle sets.
    * In production the corpus side's (doc_id, band, bh) table and shingle
    * sets are the PRE-BUILT stored dedup index, appended to as batches
    * commit — recomputing them here stands in for reading that index.
    *
    * The skew cap applies to the CORPUS side only: a boilerplate band key
    * shared by >maxBucket corpus docs would pair every delta doc with all
    * of them; the delta side is bounded by construction. Recall vs the
    * exact incremental pairs is spec-asserted (DedupSpec). */
  def incrementalMinhashPairs(
      newDocs: DataFrame,
      oldDocs: DataFrame,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    val prepOld = ManagedCache.persist(minhashPrep(oldDocs, shingleN, k))
    incrementalMinhashAgainstPrep(
      newDocs, prepOld, shingleN, k, bands, threshold, maxBucket)
  }

  /** DEDUP INDEX PERSISTENCE — the maintenance/serving split for the
    * incremental ingest path (d10), mirroring saveIvfIndex's lifecycle:
    * a maintenance job shingles + signs the corpus ONCE and saves the
    * prep table (doc_id, shingle hashes, minhash signature) as plain
    * parquet; every ingest batch then [[loadDedupIndex]]s it and joins
    * only the delta against it — the corpus text is never re-shingled
    * per batch. At 100 TB the saved index is re-partitionable/bucketable
    * by doc_id and is a fraction of the text it summarizes. */
  def saveDedupIndex(
      path: String,
      corpus: DataFrame,
      shingleN: Int = 3,
      k: Int = 16): Unit =
    minhashPrep(corpus, shingleN, k).write.mode("overwrite").parquet(path)

  /** Load a saved dedup index (persisted; released by the caller's
    * ManagedCache.releaseAll like every pipeline cache). */
  def loadDedupIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    ManagedCache.persist(Tables.openParquet(spark, path))

  /** The delta-vs-index stage shared by the live and loaded-index paths:
    * `prepOld` is an already-prepped (and persisted) corpus index frame. */
  def incrementalMinhashAgainstPrep(
      newDocs: DataFrame,
      prepOld: DataFrame,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    requireBanding(k, bands)
    val rows = k / bands
    val prepNew = ManagedCache.persist(minhashPrep(newDocs, shingleN, k))
    val bandedNew = bandedKeys(prepNew, bands, rows)
    val cappedOld = capBanded(bandedKeys(prepOld, bands, rows), maxBucket)
    // same self-pair guard as incrementalExactJaccard: disjoint ids are
    // the caller's contract, but overlap must not silently produce
    // (x, x, 1.0) duplicate verdicts
    val cands = bandedNew.alias("l")
      .join(cappedOld.alias("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") =!= col("r.doc_id"))
      .select(col("l.doc_id").as("new_id"), col("r.doc_id").as("old_id"))
      .distinct()
    // side-specific verify joins: the delta column joins the delta's
    // sets and the corpus column the corpus index — never a union that
    // would scan the corpus-sized cache from both joins
    verifyJaccard(cands, prepNew, prepOld, "new_id", "old_id", threshold)
  }

  /** Resolve near-duplicate PAIRS into duplicate CLUSTERS — the step a
    * dedup pipeline needs between pair generation (d03/d05/d07) and
    * "keep one per cluster": each doc's representative is the MINIMUM
    * doc_id reachable through the pair graph (transitive closure), via
    * min-label propagation: every round, label(v) ← min(label(v),
    * min of neighbors' labels); converged when no label changes.
    *
    * Scale: each round is one equi-join of the edge list with the label
    * table plus one groupBy-min — both shuffle on doc id, nothing
    * quadratic, and the edge list after banding is far smaller than the
    * corpus. Rounds = cluster graph DIAMETER: near-dup clusters are tiny
    * cliques chained by transitivity (diameter 2–4 in practice), so the
    * loop settles in a handful of rounds; a chain deeper than `maxIter`
    * ABORTS with IllegalStateException rather than silently returning
    * non-converged representatives (for general large-diameter graphs,
    * switch to the large-star/small-star alternation of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" (SoCC'14), which
    * trades more work per round for O(log²) rounds). The driver-side loop holds one
    * converged-count Long per round — never rows. Per-round label frames
    * are persisted (the next round reads each twice) and the previous
    * round's cache is dropped as soon as the count action settles. */
  def duplicateClusters(
      pairs: DataFrame,
      docs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val edges = ManagedCache.persist(
      pairs.select(col("a").as("x"), col("b").as("y"))
        .unionByName(pairs.select(col("b").as("x"), col("a").as("y"))))
    var cached = ManagedCache.persist(
      spread(docs).select(col("doc_id").as("id"), col("doc_id").as("rep")))
    var labels = cached
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbr = edges
        .join(labels.select(col("id").as("y"), col("rep").as("nrep")), "y")
        .groupBy(col("x")).agg(min(col("nrep")).as("nmin"))
        .select(col("x").as("id"), col("nmin"))
      val next = ManagedCache.persist(
        labels.join(nbr, Seq("id"), "left")
          .select(col("id"),
            least(col("rep"), coalesce(col("nmin"), col("rep"))).as("rep"),
            col("rep").as("prev")))
      changed = next.filter(col("rep") =!= col("prev")).count()
      // the count materialized `next`; the prior round's label cache is
      // dead weight now (a 100 TB label table must not accumulate a copy
      // per round). releaseAll's later re-unpersist is a no-op.
      cached.unpersist(blocking = false)
      cached = next
      // LINEAGE CUT (round-7 post-mortem): `labels` feeds the next round
      // TWICE (the nbr join and the carry-forward join), so keeping the
      // Catalyst plan would DOUBLE it every round — a long duplicate
      // chain (the round count is data- and even partition-layout-
      // dependent: k-means|| init varies with partitioning, which varies
      // the pair graph) grew the plan to 2^rounds nodes and OOM'd an 8g
      // driver in plan analysis/rendering before any data moved. persist
      // materializes DATA but never truncates the PLAN; rebuilding the
      // frame from the just-cached RDD makes each round's plan a
      // constant-size leaf. (The RDD handle keeps reading the cache the
      // count above populated; the Seq-based round discipline is
      // unchanged.)
      val slim = next.select("id", "rep")
      labels = next.sparkSession.createDataFrame(slim.rdd, slim.schema)
      iter += 1
    }
    if (changed > 0)
      // silent truncation would hand downstream keep-one-per-cluster a
      // WRONG representative set with nothing flagging it
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIter rounds " +
          s"($changed labels still changing) — the pair graph has a " +
          "longer-than-expected duplicate chain; raise maxIter or switch " +
          "to large-star/small-star for this corpus")
    labels.select(col("id").as("doc_id"), col("rep"))
  }

  /** Guard shared by every MinHash banding path: a non-dividing (k,
    * bands) silently degraded — k=16,bands=24 gave rows=0, so every band
    * sliced an EMPTY signature slice → one universal band key → either
    * the all-pairs quadratic join the banding exists to avoid or, past
    * maxBucket, ZERO pairs (100% recall loss with no error); a remainder
    * quietly ignored the signature tail, so measured recall no longer
    * matched the configured k. Same contract md5MinHashBandedPairs
    * already enforced. */
  private def requireBanding(k: Int, bands: Int): Unit =
    require(bands > 0 && k % bands == 0,
      s"minhash banding needs bands to divide k exactly, got k=$k bands=$bands")

  /** SimHash near-dup pairs with hamming distance <= maxHamming, candidates
    * via equality on (maxHamming+1 or more) bit-chunks (pigeonhole). */
  def simhashNearDupPairs(
      docs: DataFrame,
      maxHamming: Int = 7,
      chunks: Int = 8): DataFrame = {
    // the pigeonhole argument NEEDS chunks > maxHamming: with chunks ==
    // maxHamming a qualifying pair can differ in every chunk and never
    // become a candidate — silently missing results, the contract's
    // worst failure. 64 % chunks == 0 keeps every chunk the same width
    // (a ragged last chunk weakens its collision bound). Same contract
    // md5SimHashPairs already enforced.
    require(chunks > maxHamming && chunks > 0 && 64 % chunks == 0,
      s"simhash pigeonhole needs chunks > maxHamming and chunks | 64, " +
        s"got maxHamming=$maxHamming chunks=$chunks")
    val bitsPer = 64 / chunks
    val mask = (1L << bitsPer) - 1
    // Native kernel (Kernels.simhash64): one fused
    // loop per row, bit-identical to the interpreted HOF formulation
    // (TextFunctions.simhash64 — kept as the cross-check in DedupSpec).
    val withSig = spread(docs)
      .select(col("doc_id"),
        TextExpressions.simhash64(tokens(col("text"))).as("simhash"))
    // carry the chunk index via posexplode for a precise join key
    // Persisted for the same reason as d03's banding: the self-join below
    // reads `pos` from both sides, and without the persist the whole
    // simhash signature pipeline computes twice. (doc_id, simhash, ci, cv)
    // is chunks×docs rows of 4 longs — always small vs the corpus.
    val pos = ManagedCache.persist(withSig.select(
      col("doc_id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(chunks - 1)),
        j => call_function("shiftright", col("simhash"), j * bitsPer)
          .bitwiseAND(lit(mask)))))
      .withColumnRenamed("pos", "ci").withColumnRenamed("col", "cv"))
    // r18 (guide §2.3, shuffle fewer bytes): hamming is computed IN the
    // join projection and filtered BEFORE the candidate-dedup exchange —
    // a pair that matches on several chunks but fails the radius used to
    // cross the distinct's shuffle once per matching chunk. Exact
    // equivalence: each doc_id carries exactly one signature, so
    // distinct(a, b, sa, sb) ≡ distinct(a, b) ≡ distinct(a, b, hamming),
    // and the radius filter commutes with distinct (hamming is a
    // function of the row). The exchange also narrows: 3 longs, not 4.
    pos.alias("l").join(pos.alias("r"),
        col("l.ci") === col("r.ci") && col("l.cv") === col("r.cv") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select("a", "b", "hamming")
  }

  /** 60-bit SimHash on an md5 basis — the ORACLE-STATEABLE twin of
    * [[TextExpressions.simhash64]] (whose xxhash64 basis no other engine
    * reproduces): per-term bits come from the first 15 hex chars of
    * `md5(term)` (60 bits — the widest hex prefix that fits a signed
    * 64-bit in both engines), each bit's balance is the
    * term-frequency-weighted ±c sum, and bit j of the signature is 1 iff
    * the balance is strictly positive. Every step is exact integer
    * arithmetic on a shared hash basis, so the signature is bit-identical
    * cross-engine and the driver can hash-gate the simhash FAMILY's
    * arithmetic end-to-end (d04's production entry stays on the one-pass
    * native expression; this twin trades one `bits×` explode for
    * verifiability).
    *
    * Scale: (doc, distinct-term) counts are one map-side-combined shuffle;
    * the bit explode multiplies that table by `bits` but shuffles on
    * (doc_id, j) — fixed-width longs, partial-agg'd map-side. No windows,
    * no driver state. */
  def md5SimHashSignatures(docs: DataFrame, bits: Int = 60): DataFrame = {
    val tf = spread(docs)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .withColumn("h",
        conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long"))
    tf.select(col("doc_id"), col("c"), col("h"),
        explode(sequence(lit(0), lit(bits - 1))).as("j"))
      .withColumn("contrib",
        when(call_function("shiftright", col("h"), col("j"))
          .bitwiseAND(lit(1L)) === 1L, col("c")).otherwise(-col("c")))
      .groupBy("doc_id", "j").agg(sum(col("contrib")).as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0,
        call_function("shiftleft", lit(1L), col("j"))).otherwise(lit(0L)))
        .as("sim60"))
  }

  /** Near-dup pairs over [[md5SimHashSignatures]] via the same pigeonhole
    * banding as [[simhashNearDupPairs]]: hamming ≤ maxHamming implies at
    * least one of (maxHamming+1 or more) equal-width bit-chunks matches
    * exactly, so candidates come from `chunks` equality joins — never the
    * all-pairs cross. Because the banding is LOSSLESS for the stated
    * radius, the banded result EQUALS a brute-force hamming scan, which is
    * exactly what the DuckDB oracle computes (the all-pairs oracle is the
    * verify-side cost, not the production plan). 60 bits / 6 chunks of 10
    * ⇒ radius 5. */
  def md5SimHashPairs(
      docs: DataFrame,
      maxHamming: Int = 5,
      chunks: Int = 6,
      bits: Int = 60): DataFrame = {
    require(chunks > maxHamming && bits % chunks == 0,
      s"pigeonhole needs chunks > maxHamming and bits divisible: " +
        s"got bits=$bits chunks=$chunks maxHamming=$maxHamming")
    val bitsPer = bits / chunks
    val mask = (1L << bitsPer) - 1
    val pos = ManagedCache.persist(md5SimHashSignatures(docs, bits)
      .select(col("doc_id"), col("sim60"),
        posexplode(transform(sequence(lit(0), lit(chunks - 1)),
          j => call_function("shiftright", col("sim60"), j * bitsPer)
            .bitwiseAND(lit(mask)))))
      .withColumnRenamed("pos", "ci").withColumnRenamed("col", "cv"))
    // r18: radius filter before the candidate-dedup exchange — same
    // argument as [[simhashNearDupPairs]] (one signature per doc_id, so
    // the filter commutes with the distinct and the exchange carries
    // only in-radius pairs).
    pos.alias("l").join(pos.alias("r"),
        col("l.ci") === col("r.ci") && col("l.cv") === col("r.cv") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        bit_count(col("l.sim60").bitwiseXOR(col("r.sim60")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select("a", "b", "hamming")
  }

  /** Distinct 3-gram STRING shingle sets, constructed to match the
    * oracle-side DuckDB formulation token for token (including the
    * short-document edge: a <shingleN-token doc yields its single
    * partial gram). Shared by [[md5MinHashSignatures]] and the exact
    * verify stage of [[md5MinHashBandedPairs]]. */
  private def stringShingles(shingleN: Int): org.apache.spark.sql.Column = {
    val toks = tokens(col("text"))
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (shingleN - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(shingleN)))))
  }

  /** md5-basis MinHash signatures — d18's oracle-stateable-twin argument
    * applied to the MINHASH family: seed i's hash of shingle g is the
    * first 15 hex chars of md5(i:g) (60 bits, exact in both engines),
    * and the signature is the per-seed minimum over the doc's distinct
    * shingle set. Pure integer/string arithmetic ⇒ bit-identical
    * cross-engine, so the driver can hash-gate minhash itself (d03's
    * production path keeps the one-pass native xxhash64 expression —
    * rows-only forever; this twin trades a k× explode for
    * verifiability). Returns (doc_id, seed, minhash). */
  def md5MinHashSignatures(
      docs: DataFrame,
      shingleN: Int = 3,
      k: Int = 8): DataFrame =
    spread(docs)
      .select(col("doc_id"), explode(stringShingles(shingleN)).as("g"))
      .select(col("doc_id"), col("g"),
        explode(sequence(lit(0L), lit(k - 1L))).as("seed"))
      .withColumn("h", conv(substring(md5(
        concat(col("seed").cast("string"), lit(":"), col("g"))),
        1, 15), 16, 10).cast("long"))
      .groupBy("doc_id", "seed").agg(min(col("h")).as("minhash"))

  /** The FULL MinHash-LSH near-dup pipeline on the md5 basis, end to
    * end under one deterministic construction: signatures
    * ([[md5MinHashSignatures]]) → banded candidate generation (band j's
    * key is md5 of its `k/bands` signature slots — candidates are pairs
    * sharing ANY band key, the O(docs×bands) shuffle, never all-pairs)
    * → EXACT string-shingle jaccard verify ≥ threshold. Every stage is
    * oracle-stateable, so the driver gate checks candidate generation
    * AND verification, not just signatures — the claim d03 could only
    * make through recall specs. Returns (a, b, jac). */
  def md5MinHashBandedPairs(
      docs: DataFrame,
      shingleN: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, s"bands must divide k: k=$k bands=$bands")
    val rowsPer = k / bands
    val sig = md5MinHashSignatures(docs, shingleN, k)
    val arr = sig.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("seed"), col("minhash"))))
        .as("sm"))
      .select(col("doc_id"),
        transform(col("sm"), x => x.getField("minhash")).as("sigs"))
    // r18 (guide §1.2 algorithm first): the band keys used to come from a
    // UNION of one select per band over the UN-persisted signature
    // pipeline — the persist's materialization job re-ran the whole
    // k×-explode signature aggregation once PER BAND. One pass now: a
    // per-row array of (band, bk) structs (array/struct/md5/concat_ws are
    // all codegen'd — no lambda, so no interpreted-HOF re-evaluation
    // hazard) exploded into the same (doc_id, band, bk) rows. The
    // xxhash64 family's bandedKeys has always had this shape.
    val bandStructs = (0 until bands).map { b =>
      val keyCols = (0 until rowsPer).map(r =>
        element_at(col("sigs"), b * rowsPer + r + 1).cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(":", keyCols: _*)).as("bk"))
    }
    val banded = ManagedCache.persist(
      arr.select(col("doc_id"), explode(array(bandStructs: _*)).as("__bb"))
        .select(col("doc_id"), col("__bb.band").as("band"),
          col("__bb.bk").as("bk")))
    val cand = banded.alias("l").join(banded.alias("r"),
        col("l.band") === col("r.band") && col("l.bk") === col("r.bk") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .distinct()
    val shs = ManagedCache.persist(
      spread(docs).select(col("doc_id"), stringShingles(shingleN).as("sh")))
    cand
      .join(shs.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(shs.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .withColumn("jac", round(
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))), 4))
      .filter(col("jac") >= threshold)
      .select("a", "b", "jac")
  }

  /** Sign-bucket LSH candidate pairs for embedding near-dup: pairs whose
    * buckets are equal — or, with `multiProbe`, differ in at most one bit
    * (the left side probes its own bucket plus each 1-bit flip; a
    * hamming≤1 pair matches exactly one probe, so no distinct needed).
    *
    * Scale: candidate fraction of all pairs ≈ 1/2^bits (exact) or
    * (bits+1)/2^bits (multi-probe); every +1 bit halves it at some recall
    * cost — multi-probe buys the recall of ~2 fewer bits at the cost of
    * (bits+1)× candidate rows, so raise `signBits` aggressively when
    * probing. Asserted sub-quadratic on the fixture in DedupSpec. */
  private[graft] def signBucketCandidates(
      emb: DataFrame,
      signBits: Int,
      multiProbe: Boolean): DataFrame = {
    val withB = spread(emb)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("bucket", Similarity.signBucket(col("v"), signBits))
    val probed =
      if (!multiProbe) withB.withColumn("jb", col("bucket"))
      else withB
        .withColumn("probe", explode(array(
          (lit(0L) +: (0 until signBits).map(b => lit(1L << b))): _*)))
        .withColumn("jb", col("bucket").bitwiseXOR(col("probe")))
    probed.alias("l").join(withB.alias("r"),
        col("l.jb") === col("r.bucket") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("a"), col("l.v").as("va"),
        col("r.vec_id").as("b"), col("r.v").as("vb"))
  }

  /** Sign-LSH bucket-count sizing: the bits that target ~`perBucket`
    * vectors per bucket (2^bits ≈ n/perBucket, clamped). With FIXED
    * bits, sign-bucket candidates are (bits+1)/2^bits · n²/2 —
    * quadratic in the corpus; the first sf1 scale run measured exactly
    * that (d06: 17x time at 10x data). Growing bits with log2(n) holds
    * expected bucket occupancy constant, so candidate volume scales
    * ~linearly with n — the same bits-follow-scale rule every
    * production sign-LSH deployment applies. The count() is a
    * parquet-metadata readout (row-group stats), not a data scan. */
  def adaptiveSignBits(
      emb: DataFrame,
      perBucket: Long = 128,
      minBits: Int = 4,
      maxBits: Int = 24): Int = {
    val n = math.max(1L, emb.count())
    val bits = math.ceil(
      math.log(n.toDouble / perBucket) / math.log(2)).toInt
    math.min(maxBits, math.max(minBits, bits))
  }

  /** Embedding cosine near-dup: LSH sign-bucket candidates (multi-probe
    * over 1-bit flips — recall of coarse buckets at fine-bucket candidate
    * cost) + exact cosine verify; pairs with cos >= threshold. */
  def embeddingNearDupPairs(
      emb: DataFrame,
      threshold: Double,
      signBits: Int = 4,
      multiProbe: Boolean = true): DataFrame =
    signBucketCandidates(emb, signBits, multiProbe)
      .withColumn("cos",
        round(VectorExpressions.cosineSim(col("va"), col("vb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))

  /** CONTENT-DEFINED CHUNKING dedup — the variable-length complement to
    * [[duplicatedSpans]]' fixed n-grams: token positions where
    * `md5(token)` starts with '0' are chunk boundaries (~1/16 boundary
    * rate ⇒ expected ~16-token chunks), so chunk edges depend only on
    * CONTENT, never on position — an insertion early in a document
    * shifts every fixed window but leaves all later CDC chunks
    * byte-identical, which is exactly why storage/dedup systems chunk
    * this way. Returns the cross-document duplicated-chunk table
    * `(h, n_docs, n_total, chunk_tokens)` for chunks appearing in ≥ 2
    * distinct documents.
    *
    * Shape at 100 TB: one scan explodes to (doc, pos, token); the
    * boundary flag and running chunk id are a PER-DOCUMENT window
    * (state bounded by one doc, parallel across docs); chunk texts
    * rebuild via sort_array over the collected (pos, token) structs —
    * deterministic despite collect_list's arrival order; the final agg
    * shuffles fixed-width md5 chunk keys only. */
  def cdcChunkDups(docsIn: DataFrame): DataFrame =
    // r18 (guide §2.3/§2.4): a doc's chunk multiset is per-row, so the
    // within-doc occurrence counts come from the native token_counts map
    // over the chunk array — the exploded stream carries ONE row per
    // (doc, DISTINCT chunk) with its count. n_docs is then a plain
    // count(1) (each doc contributes one row per chunk) instead of
    // countDistinct's two-level pair shuffle, and n_total = Σ within-doc
    // counts. Exact: same h (md5 of the same chunk text), same doc sets.
    cdcChunksCounted(docsIn)
      .groupBy("h")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("c")).as("n_total"),
        max(col("chunk_tokens")).as("chunk_tokens"))
      .filter(col("n_docs") >= 2)

  /** Per-ROW CDC chunker: folds a document's token array into its chunk
    * texts with one `aggregate` HOF — a boundary token (md5 starts '0')
    * closes the running chunk and starts a new one. Entirely map-side
    * (a document is one row; its chunking needs nothing from any other
    * row), which is the 100 TB shape: the windowed formulation this
    * replaced paid an explode + per-doc window SHUFFLE before the first
    * chunk existed; this one shuffles nothing until the chunk-hash agg.
    * Bit-equality with the windowed form is spec-asserted (kept below as
    * the cross-check, the l2normHof pattern). Streaming-safe: no window,
    * no state — [[graft.EventQueries]]'s s23 runs it on a file stream. */
  /** The fold itself, as a struct `(done: array<string>, cur: string)` —
    * callers MUST bind it in its own projection and derive the final
    * chunk array in a SECOND projection, or Catalyst inlines the fold
    * once per field reference and the whole token walk runs twice per
    * row (observed in d15's round-10 plan before the split). */
  private[graft] def rowChunkFold(
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = tokens(text)
    val acc0 = struct(
      array().cast("array<string>").as("done"),
      lit(null).cast("string").as("cur"))
    aggregate(toks, acc0, (acc, w) => {
      val isB = substring(md5(w), 1, 1) === "0"
      val cur = acc.getField("cur")
      struct(
        when(isB && cur.isNotNull, concat(acc.getField("done"), array(cur)))
          .otherwise(acc.getField("done")).as("done"),
        when(cur.isNull || isB, w)
          .otherwise(concat_ws(" ", cur, w)).as("cur"))
    })
  }

  /** Chunk array from a bound fold struct: `done ++ [cur]` — tokens()
    * never yields an empty array (split's [""] artifact), so `cur` is
    * always non-null at the end and the final chunk closes here. */
  private[graft] def rowChunksOf(
      fold: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(fold.getField("done"), array(fold.getField("cur")))

  /** Per-document CDC chunk table `(doc_id, h, chunk_tokens)` shared by
    * [[cdcChunkDups]] (cross-doc duplicated-chunk rollup) and
    * [[cdcDupScore]] (per-doc duplication fraction) — built from the
    * map-side [[rowChunkFold]]. */
  private[graft] def cdcChunks(docsIn: DataFrame): DataFrame =
    spread(docsIn)
      // r18: native chunker (Kernels.cdc_chunks) — the
      // interpreted aggregate-HOF fold paid an md5 hex string per token
      // and an O(chunk²) concat_ws rebuild per appended token
      .select(col("doc_id"),
        explode(TextExpressions.cdcChunks(tokens(col("text"))))
          .as("chunk_text"))
      .select(col("doc_id"), md5(col("chunk_text")).as("h"),
        size(split(col("chunk_text"), " ")).cast("long")
          .as("chunk_tokens"))

  /** [[cdcChunks]] pre-reduced WITHIN each document (r18): one row per
    * (doc_id, DISTINCT chunk) carrying the within-doc occurrence count
    * `c` — the native token_counts map over the per-row chunk array, so
    * intra-doc repeats collapse BEFORE any exchange and distinct-doc
    * counts downstream become plain count(1)s. Columns: (doc_id, h, c,
    * chunk_tokens). */
  private[graft] def cdcChunksCounted(docsIn: DataFrame): DataFrame =
    docsIn
      // r18: native codegen chunker (see [[cdcChunks]])
      .select(col("doc_id"),
        explode(TextExpressions.tokenCounts(
          TextExpressions.cdcChunks(tokens(col("text")))))
          .as(Seq("chunk_text", "c")))
      .select(col("doc_id"), md5(col("chunk_text")).as("h"), col("c"),
        size(split(col("chunk_text"), " ")).cast("long")
          .as("chunk_tokens"))

  /** Windowed formulation of [[cdcChunks]] — cross-check only (the
    * explode + per-doc window shuffle it pays is exactly what
    * [[rowChunkFold]] eliminates); DedupSpec asserts row-level equality. */
  private[graft] def cdcChunksWindowed(docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = spread(docsIn)
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "w")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    toks
      .withColumn("b",
        when(substring(md5(col("w")), 1, 1) === "0", 1L).otherwise(0L))
      .withColumn("chunk", sum("b").over(w))
      .groupBy("doc_id", "chunk")
      .agg(sort_array(collect_list(struct(col("pos"), col("w"))))
        .as("parts"))
      .select(col("doc_id"),
        md5(concat_ws(" ", transform(col("parts"), p => p.getField("w"))))
          .as("h"),
        size(col("parts")).cast("long").as("chunk_tokens"))
  }

  /** Per-document DUPLICATION SCORE from the CDC chunk table: how much of
    * each document (chunk- and token-weighted) also appears in at least
    * one OTHER document — the direct "is this document mostly recycled
    * content" filter signal substring-level dedup pipelines act on.
    * The chunk frame is persisted: it feeds both the duplicated-hash df
    * aggregate and the per-doc rollup (the d07 inverted-index shape —
    * one explode, two shrinking partial aggs, planner-decided join). */
  def cdcDupScore(docsIn: DataFrame): DataFrame = {
    // r18 (guide §2.3/§2.4): within-doc pre-reduced chunk stream (see
    // [[cdcChunksCounted]] — intra-doc repeats collapse per-row), and the
    // "in ≥ 2 DISTINCT docs" test is min(doc_id) != max(doc_id) over the
    // one-row-per-(doc, chunk) stream — exact (≥2 distinct ⟺ extremes
    // differ, the d12 trick), one aggregate level instead of
    // countDistinct's two. Occurrence-weighted rollups recover exactly:
    // count(1) over occurrences = Σ c, Σ chunk_tokens = Σ c·tk.
    val chunks = ManagedCache.persist(cdcChunksCounted(docsIn))
    val dup = chunks.groupBy("h")
      .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
      .filter(col("d0") =!= col("d1")).select(col("h"))
      .withColumn("_dup", lit(1L))
    chunks.join(dup, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_chunks"),
        coalesce(sum(when(col("_dup").isNotNull, col("c"))), lit(0L))
          .as("n_dup_chunks"),
        sum(col("c") * col("chunk_tokens")).as("n_tokens"),
        coalesce(sum(when(col("_dup").isNotNull,
          col("c") * col("chunk_tokens"))), lit(0L)).as("n_dup_tokens"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 4)
          .as("chunk_dup_frac"),
        round(col("n_dup_tokens").cast("double") / col("n_tokens"), 4)
          .as("token_dup_frac"))
  }

  /** Exact all-pairs cosine at a threshold (a < b orientation) — the
    * deterministic quadratic twin [[d06 audit]] measures
    * [[embeddingNearDupPairs]]'s bucket recall against. One self-join on
    * the id inequality (no bucket pruning — that is the point); audit
    * use only, never the production path. */
  def exactCosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    val base = spread(emb).select(col("vec_id"), col("embedding"))
    base.select(col("vec_id").as("a"), col("embedding").as("va"))
      .join(base.select(col("vec_id").as("b"), col("embedding").as("vb")),
        col("a") < col("b"))
      .withColumn("cos",
        round(VectorExpressions.cosineSim(col("va"), col("vb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** DUPLICATED-PASSAGE detection: maximal spans of consecutive token
    * positions whose `n`-gram also occurs in at least one OTHER document —
    * the span-level view of duplication (whole-doc dedup in d01/d03 misses
    * repeated passages inside otherwise-unique docs; this finds them, the
    * diagnostic behind substring-level training-data dedup). Returns
    * (doc_id, span_start, span_end, span_tokens, n_grams) with 1-based
    * inclusive token positions; intra-doc repetition alone does NOT count
    * (the gram filter is on DISTINCT doc count ≥ 2).
    *
    * Shape at 100 TB: one scan explodes each doc into (pos, md5-gram) rows
    * — fixed-width 128-bit shuffle keys, never the gram strings; the
    * duplicated-gram filter is a partial-agg distinct-count on the gram
    * key (d07's inverted-index shape); surviving positions re-join on the
    * gram key, then the gaps-and-islands merge runs inside a PER-DOCUMENT
    * window — state bounded by one doc's positions, parallel across docs.
    * Docs shorter than `n` tokens emit nothing (guarded: Spark `sequence`
    * would count DOWN for an empty range). */
  def duplicatedSpans(docsIn: DataFrame, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = spread(docsIn)
    // r17 optimization (guide §2.3/§4): the per-position gram key is the
    // native shingle_hashes_all 64-bit fold (one fused codegen pass over
    // the token array — no per-position array slice, no gram STRING
    // build, no md5), so the exchange carries an 8-byte long per window
    // instead of a 32-char md5 hex string and the scan stage drops the
    // dominant expression cost. Positions are the explode index + 1 —
    // identical to the old sequence(1, len-n+1). Output unchanged up to
    // 64-bit gram-hash collisions (the minhash pipelines' standing
    // argument); the DuckDB gate (string grams) re-proves d12/d13.
    val pg = ManagedCache.persist(
      docs.withColumn("toks", tokens(col("text")))
        .filter(size(col("toks")) >= n)
        .select(col("doc_id"),
          posexplode(TextExpressions.shingleHashesAll(col("toks"), n)))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("g")))
    // r17 optimization (guide §2.3, aggregate before you shuffle): the
    // duplicated-gram test is "occurs in ≥ 2 DISTINCT docs", which is
    // exactly min(doc_id) != max(doc_id) — two plain algebraic partials
    // instead of count(DISTINCT doc_id)'s two-level aggregate, whose
    // first level shuffles the full (g, doc_id) pair stream. EXACT, not
    // approximate (≥2 distinct values ⟺ extremes differ); measured
    // 1.02 s → 0.53 s on the dupG stage at sf0.1.
    val dupG = pg.groupBy("g")
      .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
      .filter(col("d0") =!= col("d1")).select("g")
    // vocab-sized join left to the planner (t16's unigram-join reasoning)
    val hits = pg.join(dupG, "g").select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("ns", when(col("pos") - lag("pos", 1).over(w) === 1,
        lit(0L)).otherwise(lit(1L)))
      .withColumn("island", sum("ns").over(w))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(n - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_grams"))
  }

  /** Duplicated-span REMOVAL — the acting half of [[duplicatedSpans]]:
    * drop every cross-doc duplicated passage from every document and
    * reassemble the remaining tokens in order (the passage-level twin of
    * [[removeBoilerplate]]'s line-level flow; policy is the conservative
    * drop-from-all, same as d11's boilerplate rule). Returns one row per
    * document (doc_id, n_tokens, n_kept, clean_text); span-free docs pass
    * through intact.
    *
    * Scale: [[duplicatedSpans]]'s one-scan shape plus a second corpus
    * scan for the rejoin — spans collapse to a per-doc struct list (rows
    * = docs with duplication, each list a handful of ranges), the join is
    * doc-keyed, and the token filter is per-row expression work. */
  def removeDuplicatedSpans(docsIn: DataFrame, n: Int = 8): DataFrame = {
    val spans = duplicatedSpans(docsIn, n)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("spans"))
    spread(docsIn).withColumn("toks", tokens(col("text")))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("sp", coalesce(col("spans"),
        array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn("kp", filter(
        sequence(lit(1L), size(col("toks")).cast("long")),
        i => not(exists(col("sp"),
          sx => i >= sx.getField("s") && i <= sx.getField("e")))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("kp")).cast("long").as("n_kept"),
        concat_ws(" ", transform(col("kp"),
          i => element_at(col("toks"), i.cast("int")))).as("clean_text"))
  }

  /** Benchmark decontamination with a BLOOM PREFILTER — the shape p02
    * takes at 100 TB. p02 equi-joins every deduped train gram against the
    * test gram set: correct, but the train side (the ~whole corpus)
    * shuffles in full. Here the tiny held-out side's gram set folds into
    * ONE bloom sketch ([[BloomFunctions.bloomAgg]], a fixed-size binary
    * scalar built by associative partial merges), broadcasts to the train
    * scan, and `mightContain` drops ~all non-matching train grams BEFORE
    * the distinct/join shuffles — the exchange then carries only the
    * candidate grams (true matches + the sized false-positive rate)
    * instead of the corpus. The exact equality join against the test
    * grams that follows removes every false positive, so the OUTPUT is
    * exactly p02's: per-test-doc shared-gram counts. Bloom false
    * negatives are impossible (the one-sided guarantee), which is the
    * whole reason prefilter + exact-verify composes into an exact plan;
    * DedupSpec asserts both halves (candidates ⊇ true matches, and — on a
    * corpus with misses — candidates ⊊ train grams).
    */
  def bloomDecontaminate(
      docs: DataFrame,
      n: Int = 8,
      expectedItems: Long = 4000000L): DataFrame = {
    val split = docs.withColumn("split",
      Sampling.deterministicSplit(col("text")))
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(TextExpressions.shingleHashes(tokens(col("text")), n)).as("g"))
    // Persisted (r18, guide §5): the test-gram stream feeds the bloom
    // build — which runs as an INDEPENDENT scalar subquery — AND the
    // counts join; without the persist the test split's tokenize +
    // shingle + explode pipeline executes twice. Fixed-width (doc_id, g)
    // rows of the held-out split only — always small vs the corpus.
    val testGrams = ManagedCache.persist(
      grams(split.filter(col("split") === "test")))
    val bloom = testGrams.agg(
      BloomFunctions.bloomAgg(col("g"), expectedItems).as("bf"))
    // might_contain demands its bloom arg as a constant or scalar
    // subquery (never a joined column) — the same injection shape
    // Spark's runtime-filter rewrite uses; the subquery runs once and
    // ships to tasks like a broadcast scalar.
    val trainCand = grams(split.filter(col("split") === "train"))
      .select("g")
      .filter(BloomFunctions.mightContain(
        org.apache.spark.sql.GraftBridge.scalarSubquery(bloom), col("g")))
    // r18 (guide §3.3, the p02 rewrite): LEFT SEMI against the raw
    // bloom-surviving train gram stream instead of distinct + inner join
    // — row-identical because each test doc's grams are already per-doc
    // distinct (shingleHashes is the distinct form), so count(1) per
    // test doc still counts distinct shared grams; the train-side
    // distinct aggregate pass is gone.
    val counts = testGrams.join(trainCand, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    split.filter(col("split") === "test").select("doc_id")
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }
}

/** Driver-facing dedup queries over `documents` / `embeddings`. */
object DedupQueries {

  /** The sampled exact-jaccard pair relation, restated once and shared
    * by d07 (the brute-force inverted-index plan) AND d24 (the
    * prefix-filtered AllPairs plan): one oracle, two physical plans, so
    * the gate holds the prefix filter to zero recall loss. */
  private lazy val sampledJaccardOracle: String =
    """WITH ds AS (SELECT doc_id, text FROM documents
      |WHERE substr(md5(text), 1, 4) < '4000'),
      |tk AS (SELECT doc_id,
      |string_split_regex(trim(lower(text)), '\s+') AS toks FROM ds),
      |s AS (SELECT doc_id,
      |list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
      |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh FROM tk),
      |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
      |p AS (SELECT DISTINCT e1.doc_id AS a, e2.doc_id AS b
      |FROM e e1 JOIN e e2 ON e1.g = e2.g AND e1.doc_id < e2.doc_id),
      |j AS (SELECT p.a, p.b,
      |round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |/ len(list_distinct(sa.sh || sb.sh)), 4) AS jac
      |FROM p JOIN s sa ON sa.doc_id = p.a JOIN s sb ON sb.doc_id = p.b)
      |SELECT a, b, jac FROM j WHERE jac >= 0.8"""
      .stripMargin.replace('\n', ' ')

  val queries: Seq[Q] = Seq(

    Q("d01_dedup_exact",
      (s, d) => Dedup.exactGroups(Tables.t(s, d, "documents")),
      Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
             |FROM documents GROUP BY text"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    Q("d02_dedup_normalized",
      (s, d) => Dedup.normalizedGroups(Tables.t(s, d, "documents")),
      Some("""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
             |min(doc_id) AS keep_id, count(*) AS n FROM documents
             |GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"""
        .stripMargin.replace('\n', ' '))),

    // MinHash-LSH near-dup: hash-seeded signatures are not reproducible in
    // DuckDB → rows-only driver check; exact-jaccard recall is asserted in
    // DedupSpec against a brute-force oracle on sf0.001.
    Q("d03_minhash_pairs",
      (s, d) => Dedup.minhashNearDupPairs(Tables.t(s, d, "documents"),
        shingleN = 3, k = 16, bands = 4, threshold = 0.5),
      None,
      bench = true),

    Q("d04_simhash_pairs",
      (s, d) => Dedup.simhashNearDupPairs(Tables.t(s, d, "documents"),
        maxHamming = 7, chunks = 8),
      None,
      bench = true),

    // Exact n-gram jaccard for LSH candidates at a high threshold — the
    // "verify" stage of near-dedup as its own operator.
    Q("d05_ngram_jaccard_pairs",
      (s, d) => Dedup.minhashNearDupPairs(Tables.t(s, d, "documents"),
        shingleN = 3, k = 16, bands = 8, threshold = 0.9),
      None),

    // Exhaustive inverted-index exact jaccard — deterministic output (no
    // LSH), so it runs under the full DuckDB hash gate. The oracle builds
    // the STRING shingle sets; jaccard over 64-bit shingle hashes (Spark)
    // equals jaccard over the strings up to negligible collision odds.
    Q("d07_jaccard_exact",
      (s, d) => Dedup.exactJaccardPairs(Tables.t(s, d, "documents"),
        shingleN = 3, threshold = 0.8),
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |s AS (SELECT doc_id,
             |list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
             |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh FROM tk),
             |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
             |p AS (SELECT DISTINCT e1.doc_id AS a, e2.doc_id AS b
             |FROM e e1 JOIN e e2 ON e1.g = e2.g AND e1.doc_id < e2.doc_id),
             |j AS (SELECT p.a, p.b,
             |round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             |/ len(list_distinct(sa.sh || sb.sh)), 4) AS jac
             |FROM p JOIN s sa ON sa.doc_id = p.a JOIN s sb ON sb.doc_id = p.b)
             |SELECT a, b, jac FROM j WHERE jac >= 0.8"""
        .stripMargin.replace('\n', ' '))),

    // Bench twin of d07 over a deterministic CONTENT-KEYED audit sample
    // (md5-prefix cut, Sampling.deterministicSample): ~25% of docs ⇒ ~6%
    // of the Σ df² pair work. This is exactly how the quadratic verifier
    // is deployed at 100 TB — as an audit over a reproducible sample —
    // so the headline bench times the operator in its intended role
    // instead of letting the full-corpus audit (43 s at sf0.1, 75% of
    // the round-4 total) drown every other query's trend. The full d07
    // stays above under the complete DuckDB hash gate; this entry is
    // hash-gated too (the sample predicate is plain md5 SQL).
    Q("d07_jaccard_exact_audit",
      (s, d) => Dedup.exactJaccardPairs(
        Tables.t(s, d, "documents")
          .filter(Sampling.deterministicSample(col("text"), "4000")),
        shingleN = 3, threshold = 0.8),
      Some(sampledJaccardOracle),
      bench = true),

    // PREFIX-FILTERED exact jaccard (AllPairs/PPJoin) — see
    // [[Dedup.prefixJaccardPairs]]. SHARES d07's ORACLE VERBATIM (the
    // p07 bloom-prefilter precedent: one oracle, two physical plans),
    // so the driver gate itself proves the prefix filter LOSSLESS —
    // every pair the full Σdf² inverted-index self-join finds, the
    // df-ordered prefix join must find too, or the row hash flips red.
    // This is the production exact-dedup plan at 100 TB (high-df
    // boilerplate shingles drop out of every prefix by construction);
    // d07 stays as the brute-force audit twin.
    Q("d24_prefix_jaccard",
      (s, d) => Dedup.prefixJaccardPairs(
        Tables.t(s, d, "documents")
          .filter(Sampling.deterministicSample(col("text"), "4000")),
        shingleN = 3, num = 4, den = 5),
      Some(sampledJaccardOracle),
      bench = true),

    // Duplicate-cluster resolution: pairs → transitive clusters → keep
    // min-id per cluster. Edges are the deterministic d07 exact-jaccard
    // pairs, so the full (doc_id, rep, keep) assignment — singletons
    // included — runs under the hash gate; the oracle computes the same
    // closure with a recursive CTE (min reachable id per doc).
    Q("d08_dup_clusters",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        Dedup.duplicateClusters(
          Dedup.exactJaccardPairs(docs, shingleN = 3, threshold = 0.8),
          docs)
          .withColumn("keep", col("doc_id") === col("rep"))
      },
      Some("""WITH RECURSIVE tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |s AS (SELECT doc_id,
             |list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
             |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh FROM tk),
             |e0 AS (SELECT doc_id, unnest(sh) AS g FROM s),
             |p AS (SELECT DISTINCT e1.doc_id AS a, e2.doc_id AS b
             |FROM e0 e1 JOIN e0 e2 ON e1.g = e2.g AND e1.doc_id < e2.doc_id),
             |j AS (SELECT p.a, p.b,
             |round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             |/ len(list_distinct(sa.sh || sb.sh)), 4) AS jac
             |FROM p JOIN s sa ON sa.doc_id = p.a JOIN s sb ON sb.doc_id = p.b),
             |pr AS (SELECT a, b FROM j WHERE jac >= 0.8),
             |e AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
             |r AS (SELECT doc_id AS id, doc_id AS reach FROM documents
             |UNION SELECT r.id, e.y FROM r JOIN e ON e.x = r.reach)
             |SELECT id AS doc_id, min(reach) AS rep,
             |(id = min(reach)) AS keep FROM r GROUP BY id"""
        .stripMargin.replace('\n', ' '))),

    // Benchmark DECONTAMINATION — the release-gate check that a held-out
    // test split shares no long n-grams with the training split: 8-gram
    // shingle hashes per doc (native shingle_hashes — pre-distinct), train
    // grams deduped, one equi-join on the gram key, per-test-doc overlap
    // counts. Scale: the same inverted-index shape as d07 but only
    // CROSS-SPLIT matches survive and both sides are deduped, so cost is
    // Σ_g df_train(g)·df_test(g) — and the test split is the small side by
    // construction. Spark joins 64-bit gram hashes; the oracle joins the
    // string grams themselves (d07's established hash↔string parity:
    // distinct-count equality up to negligible collision odds).
    Q("p02_decontamination",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
          .withColumn("split", Sampling.deterministicSplit(col("text")))
        def grams(df: DataFrame) = df.select(col("doc_id"),
          explode(TextExpressions.shingleHashes(
            tokens(col("text")), 8)).as("g"))
        // r18 (guide §3.3): the train side fed the join through a
        // full distinct AGGREGATE whose only job was to stop the inner
        // join duplicating matches; a LEFT SEMI join needs no such
        // dedup (first match wins) and is row-identical here because
        // each test doc's grams are already per-doc distinct
        // (shingleHashes is the distinct form) — so count(1) per test
        // doc still counts distinct shared grams. One aggregate pass
        // over the train gram stream gone; join exchange unchanged.
        val train = grams(docs.filter(col("split") === "train"))
          .select("g")
        val counts = grams(docs.filter(col("split") === "test"))
          .join(train, Seq("g"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        docs.filter(col("split") === "test").select("doc_id")
          .join(counts, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"),
            (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
      },
      Some("""WITH sp AS (SELECT doc_id, text,
             |CASE WHEN substr(md5(text), 1, 4) < 'cccc' THEN 'train'
             |WHEN substr(md5(text), 1, 4) < 'e666' THEN 'val'
             |ELSE 'test' END AS split FROM documents),
             |tk AS (SELECT doc_id, split,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM sp),
             |g AS (SELECT doc_id, split, unnest(list_distinct(list_transform(
             |range(1, greatest(len(toks) - 7, 1) + 1),
             |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
             |toks[i+4], toks[i+5], toks[i+6], toks[i+7])))) AS g FROM tk),
             |tr AS (SELECT DISTINCT g FROM g WHERE split = 'train'),
             |te AS (SELECT doc_id, g FROM g WHERE split = 'test'),
             |c AS (SELECT te.doc_id, count(*) AS n_shared
             |FROM te JOIN tr USING (g) GROUP BY te.doc_id)
             |SELECT s.doc_id, COALESCE(c.n_shared, 0) AS n_shared,
             |COALESCE(c.n_shared, 0) > 0 AS contaminated
             |FROM sp s LEFT JOIN c ON c.doc_id = s.doc_id
             |WHERE s.split = 'test'"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // End-to-end training-data pipeline slice: quality-filter → exact
    // content dedup (keep lowest doc_id) → per-language corpus stats. One
    // composed plan: per-row scoring stays in the scan stage, dedup is one
    // shuffle on the content hash, stats one tiny shuffle on lang. All
    // aggregates are order-independent (exact integer sum ÷ count; min) so
    // the whole pipeline hash-matches the oracle.
    Q("p01_pipeline_quality_dedup",
      (s, d) => {
        val toks = TextFunctions.tokens(col("text"))
        // evalOnce (r18, guide §4.4 pattern): without it the pushed-down
        // quality filter inlines the whole formula into a scan-level
        // predicate — the split/distinct chain then runs once in the
        // Filter and AGAIN in the Project that carries the column
        val scored = Tables.t(s, d, "documents")
          .withColumn("quality", Barrier.evalOnce(
            TextFunctions.qualityScore(col("text"), toks)))
          .withColumn("n_tokens", TextFunctions.tokenCountWs(col("text")))
          .filter(col("quality") >= 0.5)
        // r18 (guide §2.4/§2.3): keep-min-per-content-group was a
        // row_number window over md5(text) — a full sort of the corpus
        // keyed by a 32-char hex string, with no map-side reduction. The
        // same survivor is min(struct(doc_id, lang)) per content group
        // (doc_id is unique, so the struct min IS the min-doc_id row;
        // quality/n_tokens are functions of the text, constant per group,
        // preserved exactly by min) — a hash aggregate with partial
        // map-side combining, no sort, keyed by (xxhash64, length): 12
        // bytes instead of 32+, and a silent 64-bit collision between
        // distinct texts now additionally needs an equal length. Results
        // identical up to that collision class (gate re-proved at 3 SFs).
        scored
          .groupBy(xxhash64(col("text")).as("__k"),
            length(col("text")).as("__l"))
          .agg(min(struct(col("doc_id"), col("lang"))).as("__m"),
            min(col("n_tokens")).as("n_tokens"),
            min(col("quality")).as("quality"))
          .groupBy(col("__m.lang").as("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            round(sum(col("n_tokens")).cast("double") / count(lit(1)), 4)
              .as("avg_tokens"),
            min(col("quality")).as("min_quality"))
      },
      Some("""WITH b AS (SELECT doc_id, lang, text,
             |CAST(length(text) AS DOUBLE) AS n_chars,
             |CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_toks,
             |CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
             |CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE) AS n_uniq
             |FROM documents),
             |q AS (SELECT doc_id, lang, text,
             |CAST(n_toks AS BIGINT) AS n_tokens,
             |round(least(greatest(
             |least(n_toks / 20.0, 1.0) * 0.3
             |+ (n_alpha / greatest(n_chars, 1.0)) * 0.3
             |+ (n_uniq / greatest(n_toks, 1.0)) * 0.2
             |+ (CASE WHEN n_chars / greatest(n_toks, 1.0) BETWEEN 3.0 AND 12.0
             |THEN 1.0 ELSE 0.5 END) * 0.2,
             |0.0), 1.0), 4) AS quality FROM b),
             |k AS (SELECT lang, n_tokens, quality,
             |row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |FROM q WHERE quality >= 0.5)
             |SELECT lang, count(*) AS n_docs,
             |round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 4) AS avg_tokens,
             |min(quality) AS min_quality
             |FROM k WHERE rn = 1 GROUP BY lang"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // Keep-BEST dedup policy: clusters from d08's closure, but the
    // survivor is the highest-QUALITY member (ties → lowest doc_id), not
    // the lowest id — the policy real corpus dedup ships (drop the
    // boilerplate copy, keep the clean one). Deterministic two-pass
    // argmax (per-cluster max quality, then min id among the maximal),
    // mirrored exactly in the oracle — no reliance on either engine's
    // arg_max tie behavior. Cluster tables are tiny next to the corpus;
    // both joins shuffle on the cluster key.
    Q("d09_keep_best",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val clusters = Dedup.duplicateClusters(
          Dedup.exactJaccardPairs(docs, shingleN = 3, threshold = 0.8), docs)
        val scored = docs.select(col("doc_id"),
          TextFunctions.qualityScore(col("text"),
            TextFunctions.tokens(col("text"))).as("quality"))
        val j = clusters.join(scored, "doc_id")
        val m = j.groupBy("rep").agg(
          max(col("quality")).as("best_quality"),
          count(lit(1)).as("n_docs"))
        m.join(j, "rep")
          .filter(col("quality") === col("best_quality"))
          .groupBy("rep", "n_docs", "best_quality")
          .agg(min(col("doc_id")).as("keep_id"))
      },
      Some("""WITH RECURSIVE tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |s AS (SELECT doc_id,
             |list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
             |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh FROM tk),
             |e0 AS (SELECT doc_id, unnest(sh) AS g FROM s),
             |p AS (SELECT DISTINCT e1.doc_id AS a, e2.doc_id AS b
             |FROM e0 e1 JOIN e0 e2 ON e1.g = e2.g AND e1.doc_id < e2.doc_id),
             |jx AS (SELECT p.a, p.b,
             |round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             |/ len(list_distinct(sa.sh || sb.sh)), 4) AS jac
             |FROM p JOIN s sa ON sa.doc_id = p.a JOIN s sb ON sb.doc_id = p.b),
             |pr AS (SELECT a, b FROM jx WHERE jac >= 0.8),
             |e AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
             |r AS (SELECT doc_id AS id, doc_id AS reach FROM documents
             |UNION SELECT r.id, e.y FROM r JOIN e ON e.x = r.reach),
             |c AS (SELECT id AS doc_id, min(reach) AS rep FROM r GROUP BY id),
             |b AS (SELECT doc_id,
             |CAST(length(text) AS DOUBLE) AS n_chars,
             |CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_toks,
             |CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
             |CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE) AS n_uniq
             |FROM documents),
             |q AS (SELECT doc_id,
             |round(least(greatest(
             |least(n_toks / 20.0, 1.0) * 0.3
             |+ (n_alpha / greatest(n_chars, 1.0)) * 0.3
             |+ (n_uniq / greatest(n_toks, 1.0)) * 0.2
             |+ (CASE WHEN n_chars / greatest(n_toks, 1.0) BETWEEN 3.0 AND 12.0
             |THEN 1.0 ELSE 0.5 END) * 0.2,
             |0.0), 1.0), 4) AS quality FROM b),
             |jn AS (SELECT c.rep, c.doc_id, q.quality
             |FROM c JOIN q USING (doc_id)),
             |m AS (SELECT rep, max(quality) AS best_quality,
             |count(*) AS n_docs FROM jn GROUP BY rep)
             |SELECT m.rep, m.n_docs, m.best_quality,
             |min(jn.doc_id) AS keep_id
             |FROM m JOIN jn ON jn.rep = m.rep
             |AND jn.quality = m.best_quality
             |GROUP BY m.rep, m.n_docs, m.best_quality"""
        .stripMargin.replace('\n', ' '))),

    // INCREMENTAL ingest dedup — a delta batch (doc_id % 10 = 0 stands in
    // for "today's arrivals") against the existing corpus, exact jaccard
    // over the cross-side inverted index. Deterministic, so it runs under
    // the full DuckDB hash gate; the banded incrementalMinhashPairs scale
    // twin has its recall vs exactly these pairs asserted in DedupSpec.
    Q("d10_incremental_jaccard",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        Dedup.incrementalExactJaccard(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          shingleN = 3, threshold = 0.8)
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
             |SELECT new_id, old_id, jac FROM j WHERE jac >= 0.8"""
        .stripMargin.replace('\n', ' '))),

    // BOILERPLATE-SEGMENT removal (CCNet line-dedup shape) — 2-token
    // windows stand in for lines on this newline-free corpus; a segment
    // in > 5% of documents is boilerplate. The md5 anti-join key is
    // Spark-side only (the oracle anti-joins the segment string — results
    // identical up to md5 collision, the d07 hash-set argument); the
    // reassembled clean_text puts the whole keep/drop/reorder surface
    // under the hash gate.
    Q("d11_boilerplate",
      // r18: per-row array form — see [[Dedup.removeBoilerplateInRow]]
      (s, d) => Dedup.removeBoilerplateInRow(
        Dedup.segmentArraysByTokens(Tables.t(s, d, "documents"), segLen = 2),
        maxDocFrac = 0.05),
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |seg AS (SELECT doc_id, s AS seg_id,
             |array_to_string(toks[s*2+1 : s*2+2], ' ') AS seg
             |FROM tk, unnest(range(0, (len(toks)-1)//2 + 1)) t(s)),
             |pd AS (SELECT doc_id, count(*) AS n_segs FROM seg GROUP BY doc_id),
             |tot AS (SELECT count(*) AS n_docs FROM pd),
             |b AS (SELECT seg FROM
             |(SELECT seg, count(DISTINCT doc_id) AS df FROM seg GROUP BY seg)
             |CROSS JOIN tot WHERE df > n_docs * 0.05),
             |ka AS (SELECT doc_id, count(*) AS n_kept,
             |string_agg(seg, ' ' ORDER BY seg_id) AS clean_text
             |FROM seg WHERE seg NOT IN (SELECT seg FROM b) GROUP BY doc_id)
             |SELECT pd.doc_id, pd.n_segs,
             |coalesce(ka.n_kept, 0) AS n_kept,
             |coalesce(ka.clean_text, '') AS clean_text
             |FROM pd LEFT JOIN ka USING (doc_id)"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // DUPLICATED-PASSAGE spans — see [[Dedup.duplicatedSpans]]. All-integer
    // output (positions + counts), md5 grams computed identically on both
    // engines → exact hash parity with no float hazards. The oracle's
    // windowed running sum is the standard gaps-and-islands encoding; the
    // default RANGE frame agrees across engines because pos is unique per
    // doc.
    Q("d12_duplicated_spans",
      (s, d) => Dedup.duplicatedSpans(Tables.t(s, d, "documents"), n = 8),
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |pgt AS (SELECT doc_id, unnest(list_transform(
             |range(1, len(toks) - 7 + 1),
             |i -> struct_pack(pos := i, g := md5(concat_ws(' ',
             |toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4],
             |toks[i+5], toks[i+6], toks[i+7]))))) AS pg
             |FROM tk WHERE len(toks) >= 8),
             |h AS (SELECT doc_id, (pg).pos AS pos, (pg).g AS g FROM pgt),
             |dg AS (SELECT g FROM h GROUP BY g
             |HAVING count(DISTINCT doc_id) >= 2),
             |hit AS (SELECT doc_id, pos FROM h JOIN dg USING (g)),
             |isl AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER
             |(PARTITION BY doc_id ORDER BY pos) = 1 THEN 0 ELSE 1 END AS ns
             |FROM hit),
             |is2 AS (SELECT doc_id, pos, sum(ns) OVER
             |(PARTITION BY doc_id ORDER BY pos) AS island FROM isl)
             |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             |CAST(max(pos) + 7 AS BIGINT) AS span_end,
             |CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_tokens,
             |count(*) AS n_grams FROM is2 GROUP BY doc_id, island"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // Duplicated-span REMOVAL — see [[Dedup.removeDuplicatedSpans]]. The
    // oracle extends d12's CTE chain with the per-doc span list and a
    // nested-lambda position filter; clean_text reassembly makes the gate
    // byte-compare the actual surviving text (d11's reassembly
    // precedent).
    Q("d13_span_removal",
      (s, d) => Dedup.removeDuplicatedSpans(Tables.t(s, d, "documents"),
        n = 8),
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |pgt AS (SELECT doc_id, unnest(list_transform(
             |range(1, len(toks) - 7 + 1),
             |i -> struct_pack(pos := i, g := md5(concat_ws(' ',
             |toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4],
             |toks[i+5], toks[i+6], toks[i+7]))))) AS pg
             |FROM tk WHERE len(toks) >= 8),
             |h AS (SELECT doc_id, (pg).pos AS pos, (pg).g AS g FROM pgt),
             |dg AS (SELECT g FROM h GROUP BY g
             |HAVING count(DISTINCT doc_id) >= 2),
             |hit AS (SELECT doc_id, pos FROM h JOIN dg USING (g)),
             |isl AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER
             |(PARTITION BY doc_id ORDER BY pos) = 1 THEN 0 ELSE 1 END AS ns
             |FROM hit),
             |is2 AS (SELECT doc_id, pos, sum(ns) OVER
             |(PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
             |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
             |FROM is2 GROUP BY doc_id, island),
             |spl AS (SELECT doc_id, list(struct_pack(s := s, e := e))
             |AS spans FROM sp GROUP BY doc_id),
             |j AS (SELECT t.doc_id, toks, coalesce(spans, []) AS spans
             |FROM tk t LEFT JOIN spl ON t.doc_id = spl.doc_id),
             |k AS (SELECT doc_id, toks, list_filter(range(1, len(toks) + 1),
             |i -> len(list_filter(spans, sx -> i BETWEEN sx.s AND sx.e)) = 0)
             |AS kp FROM j)
             |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             |CAST(len(kp) AS BIGINT) AS n_kept,
             |coalesce(array_to_string(list_transform(kp, i -> toks[i]),
             |' '), '') AS clean_text FROM k"""
        .stripMargin.replace('\n', ' '))),

    // CALIBRATED quality filtering — the two-pass pattern every corpus
    // pipeline uses when a fixed cutoff is wrong per slice: pass 1
    // computes each source's own 25th-percentile quality (tiny result,
    // one shuffle on the low-cardinality source key), pass 2 re-scans
    // with the thresholds BROADCAST and keeps docs at or above their
    // source's cut. No global sort, no driver round-trip of data rows —
    // the threshold table is the only thing that leaves the cluster
    // view. Quality arithmetic and exact interpolated percentile both
    // have established bit parity (p01, t09 precedents).
    Q("p03_calibrated_filter",
      (s, d) => {
        val toks = TextFunctions.tokens(col("text"))
        val scored = Tables.t(s, d, "documents")
          .withColumn("quality",
            TextFunctions.qualityScore(col("text"), toks))
        val thresholds = scored.groupBy("source")
          .agg(round(percentile(col("quality"), lit(0.25)), 4).as("q25"))
        scored.join(broadcast(thresholds), "source")
          .filter(col("quality") >= col("q25"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
            max(col("q25")).as("q25"),
            min(col("quality")).as("min_q"))
      },
      Some("""WITH b AS (SELECT doc_id, source, text,
             |CAST(length(text) AS DOUBLE) AS n_chars,
             |CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_toks,
             |CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
             |CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE) AS n_uniq
             |FROM documents),
             |q AS (SELECT doc_id, source,
             |round(least(greatest(
             |least(n_toks / 20.0, 1.0) * 0.3
             |+ (n_alpha / greatest(n_chars, 1.0)) * 0.3
             |+ (n_uniq / greatest(n_toks, 1.0)) * 0.2
             |+ (CASE WHEN n_chars / greatest(n_toks, 1.0) BETWEEN 3.0 AND 12.0
             |THEN 1.0 ELSE 0.5 END) * 0.2,
             |0.0), 1.0), 4) AS quality FROM b),
             |t AS (SELECT source, round(quantile_cont(quality, 0.25), 4) AS q25
             |FROM q GROUP BY source)
             |SELECT q.source, count(*) AS n_kept, max(t.q25) AS q25,
             |min(q.quality) AS min_q
             |FROM q JOIN t USING (source) WHERE q.quality >= t.q25
             |GROUP BY q.source"""
        .stripMargin.replace('\n', ' '))),

    // CURATION CAPSTONE — the full end-to-end pass a pretraining corpus
    // takes, composed from components whose cross-engine parity is
    // individually proven and run as ONE declarative plan under the hash
    // gate: boilerplate-segment removal (d11) → quality score the CLEANED
    // text (t06's formula) → threshold 0.82 (discriminating on this
    // corpus: median cleaned-quality is 0.83) → exact dedup on the
    // cleaned text (already whitespace/case-normalized by tokenization,
    // so the d02 normalizer is the identity here) keeping the min doc_id
    // (quality is a function of the text, hence constant per group) →
    // per-language survivor stats. Shape at 100 TB: d11's shuffles + one
    // content-key dedup shuffle + a tiny lang agg — no new shuffle class;
    // the q11 decimal-fold avg keeps the mean order-independent.
    Q("p04_curation_pipeline",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val cleaned = Dedup.removeBoilerplateInRow(
          Dedup.segmentArraysByTokens(docs, segLen = 2), maxDocFrac = 0.05)
          .filter(col("n_kept") > 0)
        // evalOnce (r18, guide §4.4 pattern): without it the pushed-down
        // quality filter lands in the boilerplate BroadcastNestedLoopJoin
        // CONDITION with clean_text's whole concat_ws(filter(__segs, …))
        // chain inlined ~12× per row, interpreted (join conditions get no
        // subexpression elimination). The barrier keeps the filter above
        // the Project, where clean_text and the score evaluate once.
        val scored = cleaned
          .withColumn("quality", Barrier.evalOnce(
            TextFunctions.qualityScore(
              col("clean_text"), TextFunctions.tokens(col("clean_text")))))
          .filter(col("quality") >= 0.82)
        // r17 optimization (guide §2.3, shuffle keys/metadata instead of
        // payloads): the exact-dedup group key is xxhash64(clean_text)
        // and the token count is computed BEFORE the exchange, so the
        // dedup shuffle carries (8-byte key, doc_id, quality, count)
        // instead of every document's full cleaned text. quality and the
        // token count are functions of the text (constant per group), so
        // min() preserves them exactly. r18: the group key widens to
        // (xxhash64, length) — same narrow-shuffle win, and a silent
        // 64-bit collision between distinct texts now additionally needs
        // an equal length (restores the exact-dedup margin the r17
        // verdict flagged; still gate re-verified at 3 SFs).
        val kept = scored
          .select(xxhash64(col("clean_text")).as("__ct"),
            length(col("clean_text")).as("__cl"), col("doc_id"),
            col("quality"),
            size(TextFunctions.tokens(col("clean_text"))).as("__nt"))
          .groupBy("__ct", "__cl")
          .agg(min(col("doc_id")).as("doc_id"),
            min(col("quality")).as("quality"),
            min(col("__nt")).as("__nt"))
        kept.join(docs.select("doc_id", "lang"), "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(sum(col("quality").cast("decimal(18,4)")).cast("double") /
              count(lit(1)), 4).as("avg_quality"),
            sum(col("__nt")).as("total_tokens"))
      },
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |seg AS (SELECT doc_id, s AS seg_id,
             |array_to_string(toks[s*2+1 : s*2+2], ' ') AS seg
             |FROM tk, unnest(range(0, (len(toks)-1)//2 + 1)) t(s)),
             |tot AS (SELECT count(DISTINCT doc_id) AS n_docs FROM seg),
             |bl AS (SELECT seg FROM
             |(SELECT seg, count(DISTINCT doc_id) AS df FROM seg GROUP BY seg)
             |CROSS JOIN tot WHERE df > n_docs * 0.05),
             |ka AS (SELECT doc_id,
             |string_agg(seg, ' ' ORDER BY seg_id) AS ct
             |FROM seg WHERE seg NOT IN (SELECT seg FROM bl) GROUP BY doc_id),
             |b AS (SELECT doc_id, ct,
             |CAST(length(ct) AS DOUBLE) AS n_chars,
             |CAST(len(string_split_regex(trim(lower(ct)), '\s+')) AS DOUBLE) AS n_toks,
             |CAST(length(regexp_replace(ct, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
             |CAST(len(list_distinct(string_split_regex(trim(lower(ct)), '\s+'))) AS DOUBLE) AS n_uniq
             |FROM ka),
             |qx AS (SELECT doc_id, ct,
             |round(least(greatest(
             |least(n_toks / 20.0, 1.0) * 0.3
             |+ (n_alpha / greatest(n_chars, 1.0)) * 0.3
             |+ (n_uniq / greatest(n_toks, 1.0)) * 0.2
             |+ (CASE WHEN n_chars / greatest(n_toks, 1.0) BETWEEN 3.0 AND 12.0
             |THEN 1.0 ELSE 0.5 END) * 0.2,
             |0.0), 1.0), 4) AS quality FROM b),
             |f AS (SELECT doc_id, ct, quality FROM qx WHERE quality >= 0.82),
             |dd AS (SELECT ct, min(doc_id) AS doc_id, min(quality) AS quality
             |FROM f GROUP BY ct)
             |SELECT d.lang, count(*) AS n_docs,
             |round(CAST(sum(CAST(dd.quality AS DECIMAL(18,4))) AS DOUBLE)
             |/ count(*), 4) AS avg_quality,
             |CAST(sum(len(string_split_regex(trim(lower(dd.ct)), '\s+')))
             |AS BIGINT) AS total_tokens
             |FROM dd JOIN documents d ON d.doc_id = dd.doc_id
             |GROUP BY d.lang"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // FULL CURATION CAPSTONE — p04 plus the stage it stops short of:
    // near-duplicate CLUSTER RESOLUTION on the curated corpus.
    // boilerplate removal (d11) → quality filter (t06) → exact content
    // dedup (d02's keep-min) → exact-jaccard near-dup pairs at 0.5 over
    // the surviving clean texts (d07's inverted-index shape) → connected
    // components (d08's min-label propagation) → keep one representative
    // per cluster → per-language final stats. ONE gated plan whose
    // oracle composes the p04 chain with the d08 recursive CTE.
    // Scale note: the exact all-pairs stage runs on the POST-FILTER,
    // POST-DEDUP corpus and is the audit-grade composition (Σ df² on the
    // survivors); the production swap at 100 TB is minhash banding
    // (d03/d10) feeding the same cluster/keep stages — the pipeline
    // shape downstream of the pair source is identical, which is the
    // point of gating it here with the closed-form exact source.
    Q("p05_curation_clustered",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val cleaned = Dedup.removeBoilerplateInRow(
          Dedup.segmentArraysByTokens(docs, segLen = 2), maxDocFrac = 0.05)
          .filter(col("n_kept") > 0)
        val scored = cleaned
          // evalOnce: same BNLJ-condition inlining hazard as p04
          .withColumn("quality", Barrier.evalOnce(
            TextFunctions.qualityScore(
              col("clean_text"), TextFunctions.tokens(col("clean_text")))))
          .filter(col("quality") >= 0.82)
        val dd = scored.groupBy("clean_text")
          .agg(min(col("doc_id")).as("doc_id"),
            min(col("quality")).as("quality"))
        // near-dup stage reads the deduped survivors three times (pair
        // source sides + label base + final join) — persist caps the
        // upstream chain at one evaluation
        val nd = ManagedCache.persist(dd.select(col("doc_id"),
          col("clean_text").as("text"), col("quality")))
        val pairs = Dedup.exactJaccardPairs(nd, shingleN = 3,
          threshold = 0.5)
        val clusters = Dedup.duplicateClusters(pairs,
          nd.select("doc_id"))
        val kept = nd.join(clusters, "doc_id")
          .filter(col("doc_id") === col("rep"))
        kept.join(docs.select("doc_id", "lang"), "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(sum(col("quality").cast("decimal(18,4)")).cast("double") /
              count(lit(1)), 4).as("avg_quality"),
            sum(size(TextFunctions.tokens(col("text"))))
              .as("total_tokens"))
      },
      Some("""WITH RECURSIVE tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |seg AS (SELECT doc_id, s AS seg_id,
             |array_to_string(toks[s*2+1 : s*2+2], ' ') AS seg
             |FROM tk, unnest(range(0, (len(toks)-1)//2 + 1)) t(s)),
             |tot AS (SELECT count(DISTINCT doc_id) AS n_docs FROM seg),
             |bl AS (SELECT seg FROM
             |(SELECT seg, count(DISTINCT doc_id) AS df FROM seg GROUP BY seg)
             |CROSS JOIN tot WHERE df > n_docs * 0.05),
             |ka AS (SELECT doc_id,
             |string_agg(seg, ' ' ORDER BY seg_id) AS ct
             |FROM seg WHERE seg NOT IN (SELECT seg FROM bl) GROUP BY doc_id),
             |b AS (SELECT doc_id, ct,
             |CAST(length(ct) AS DOUBLE) AS n_chars,
             |CAST(len(string_split_regex(trim(lower(ct)), '\s+')) AS DOUBLE) AS n_toks,
             |CAST(length(regexp_replace(ct, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
             |CAST(len(list_distinct(string_split_regex(trim(lower(ct)), '\s+'))) AS DOUBLE) AS n_uniq
             |FROM ka),
             |qx AS (SELECT doc_id, ct,
             |round(least(greatest(
             |least(n_toks / 20.0, 1.0) * 0.3
             |+ (n_alpha / greatest(n_chars, 1.0)) * 0.3
             |+ (n_uniq / greatest(n_toks, 1.0)) * 0.2
             |+ (CASE WHEN n_chars / greatest(n_toks, 1.0) BETWEEN 3.0 AND 12.0
             |THEN 1.0 ELSE 0.5 END) * 0.2,
             |0.0), 1.0), 4) AS quality FROM b),
             |f AS (SELECT doc_id, ct, quality FROM qx WHERE quality >= 0.82),
             |dd AS (SELECT ct, min(doc_id) AS doc_id, min(quality) AS quality
             |FROM f GROUP BY ct),
             |tk2 AS (SELECT doc_id,
             |string_split_regex(trim(lower(ct)), '\s+') AS toks FROM dd),
             |s2 AS (SELECT doc_id,
             |list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
             |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh FROM tk2),
             |e0 AS (SELECT doc_id, unnest(sh) AS g FROM s2),
             |p AS (SELECT DISTINCT e1.doc_id AS a, e2.doc_id AS b
             |FROM e0 e1 JOIN e0 e2 ON e1.g = e2.g AND e1.doc_id < e2.doc_id),
             |j AS (SELECT p.a, p.b,
             |round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             |/ len(list_distinct(sa.sh || sb.sh)), 4) AS jac
             |FROM p JOIN s2 sa ON sa.doc_id = p.a JOIN s2 sb ON sb.doc_id = p.b),
             |pr AS (SELECT a, b FROM j WHERE jac >= 0.5),
             |e AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
             |r AS (SELECT doc_id AS id, doc_id AS reach FROM dd
             |UNION SELECT r.id, e.y FROM r JOIN e ON e.x = r.reach),
             |cl AS (SELECT id AS doc_id, min(reach) AS rep FROM r GROUP BY id),
             |kept AS (SELECT dd.doc_id, dd.ct, dd.quality FROM dd
             |JOIN cl ON cl.doc_id = dd.doc_id AND cl.rep = dd.doc_id)
             |SELECT d.lang, count(*) AS n_docs,
             |round(CAST(sum(CAST(kept.quality AS DECIMAL(18,4))) AS DOUBLE)
             |/ count(*), 4) AS avg_quality,
             |CAST(sum(len(string_split_regex(trim(lower(kept.ct)), '\s+')))
             |AS BIGINT) AS total_tokens
             |FROM kept JOIN documents d ON d.doc_id = kept.doc_id
             |GROUP BY d.lang"""
        .stripMargin.replace('\n', ' '))),

    // WEB-CRAWL FRONTIER PIPELINE — the composition the round-11 ops
    // exist for, as ONE declarative plan: (1) URL-canonicalization dedup
    // (d17's rules: the cheapest dedup, applied before anything touches
    // content), (2) per-domain cap on the survivors (t33's crawl
    // balancing, WindowGroupLimit shape), (3) the per-domain delivery
    // manifest (io06's accounting). Three shuffles total — norm_url
    // window, domain window, domain agg — each on a different key, none
    // corpus-quadratic; Catalyst sees the whole chain and prunes `text`
    // until the manifest stage needs it. The oracle restates all three
    // stages in CTEs, so the gate proves the STAGES COMPOSE, not just
    // that each works alone (survivor sets feed forward exactly).
    Q("p06_frontier_pipeline",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val url = Dedup.constructedUrl
        val sel = col("doc_id") % 5
        val domain = when(sel === 0 || sel === 1, lit("example.com"))
          .when(sel === 2 || sel === 3, lit("example.org"))
          .otherwise(lit("example.net"))
        val survivors = Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text"), url.as("url"))
          .withColumn("norm_url", Dedup.normalizedUrl(col("url")))
          .withColumn("keep", col("doc_id") === min(col("doc_id"))
            .over(Window.partitionBy(col("norm_url"))))
          .filter(col("keep"))
        val capped = survivors
          .withColumn("domain", domain)
          .withColumn("rk", row_number().over(Window
            .partitionBy("domain").orderBy(md5(col("text")), col("doc_id"))))
          .filter(col("rk") <= 20)
        capped.groupBy("domain")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      },
      Some(Dedup.urlCtesSql("doc_id, text") +
        """, sv AS (SELECT doc_id, text FROM
             |(SELECT doc_id, text,
             |doc_id = min(doc_id) OVER (PARTITION BY norm_url) AS keep
             |FROM n) WHERE keep),
             |dm AS (SELECT doc_id, text,
             |CASE doc_id % 5 WHEN 0 THEN 'example.com'
             |WHEN 1 THEN 'example.com' WHEN 2 THEN 'example.org'
             |WHEN 3 THEN 'example.org' ELSE 'example.net' END AS domain
             |FROM sv),
             |c AS (SELECT doc_id, text, domain FROM
             |(SELECT doc_id, text, domain,
             |row_number() OVER (PARTITION BY domain
             |ORDER BY md5(text), doc_id) AS rk FROM dm) WHERE rk <= 20)
             |SELECT domain, count(*) AS n_docs,
             |CAST(sum(len(string_split_regex(trim(lower(text)), '\s+')))
             |AS BIGINT) AS n_tokens FROM c GROUP BY domain"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // BLOOM-PREFILTERED DECONTAMINATION under the hash gate — p02's exact
    // output through the two-phase plan production runs at corpus scale:
    // the held-out split's 8-gram set folds into ONE fixed-size bloom
    // sketch (Spark's own BloomFilterAggregate, surfaced via
    // [[BloomFunctions]]) that broadcasts to the train scan and drops
    // ~all train grams BEFORE any shuffle; the exact equality join then
    // removes the sized false positives, so the result is bit-identical
    // to the exact join (bloom has NO false negatives) and the entry
    // shares p02's oracle VERBATIM — one oracle, two physical plans, the
    // gate proving the prefilter lossless. Benched next to p02: same
    // answer, train-side exchange carrying candidates instead of the
    // corpus.
    Q("p07_bloom_decontam",
      // 1M-item sizing fits every gate corpus' test-gram count with
      // ~0.9 MB of sketch; production sizes expectedItems to the real
      // held-out gram count (the fpp/bytes knob, NOT a correctness one —
      // oversizing only shrinks the false-positive rate).
      (s, d) => Dedup.bloomDecontaminate(Tables.t(s, d, "documents"),
        expectedItems = 1L << 20),
      Some("""WITH sp AS (SELECT doc_id, text,
             |CASE WHEN substr(md5(text), 1, 4) < 'cccc' THEN 'train'
             |WHEN substr(md5(text), 1, 4) < 'e666' THEN 'val'
             |ELSE 'test' END AS split FROM documents),
             |tk AS (SELECT doc_id, split,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM sp),
             |g AS (SELECT doc_id, split, unnest(list_distinct(list_transform(
             |range(1, greatest(len(toks) - 7, 1) + 1),
             |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
             |toks[i+4], toks[i+5], toks[i+6], toks[i+7])))) AS g FROM tk),
             |tr AS (SELECT DISTINCT g FROM g WHERE split = 'train'),
             |te AS (SELECT doc_id, g FROM g WHERE split = 'test'),
             |c AS (SELECT te.doc_id, count(*) AS n_shared
             |FROM te JOIN tr USING (g) GROUP BY te.doc_id)
             |SELECT s.doc_id, COALESCE(c.n_shared, 0) AS n_shared,
             |COALESCE(c.n_shared, 0) > 0 AS contaminated
             |FROM sp s LEFT JOIN c ON c.doc_id = s.doc_id
             |WHERE s.split = 'test'"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // MODEL-BASED QUALITY CLASSIFIER under the hash gate — see
    // [[CorpusStats.linearQualityScore]]: hashed-BoW linear scoring with
    // an arithmetically-derived weight vector, so the oracle restates
    // the MODEL as well as the plan and every score is an exact integer.
    // Swapping trained weights into the same ≤256-row broadcast table is
    // a data change, not a plan change.
    Q("p08_quality_classifier",
      (s, d) => CorpusStats.linearQualityScore(Tables.t(s, d, "documents")),
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

    // PRETRAINING-CURATION CAPSTONE v2 — the round's new operators
    // composed as ONE plan under ONE oracle: train split → p08's
    // model-based classifier (keep score > 0) → exact content dedup
    // (keep-min) → p02-style decontamination AS A FILTER (drop any
    // surviving train doc sharing an 8-gram with the test split) →
    // per-language corpus stats. The oracle restates all four stages in
    // CTEs, so the gate proves the stages COMPOSE (each stage's
    // survivor set feeds the next exactly — p06's argument applied to
    // the classifier/decontam family). Scale: classifier = explode +
    // 256-row broadcast; dedup = one content-hash window; decontam =
    // the p02/p07 inverted-index join shape (bloom-prefilterable
    // verbatim); stats = tiny lang agg.
    Q("p09_classifier_pipeline",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.t(s, d, "documents")
        val split = docs.withColumn("split",
          Sampling.deterministicSplit(col("text")))
        val train = split.filter(col("split") === "train")
        val kept = train.join(
          CorpusStats.linearQualityScore(train)
            .filter(col("selected")).select("doc_id"),
          "doc_id")
        val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
        val deduped = kept.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
        def grams(df: DataFrame) = df.select(col("doc_id"),
          explode(TextExpressions.shingleHashes(
            tokens(col("text")), 8)).as("g"))
        val testSet = grams(split.filter(col("split") === "test"))
          .select("g").distinct()
        val contaminated = grams(deduped).join(testSet, "g")
          .select("doc_id").distinct()
        deduped.join(contaminated, Seq("doc_id"), "left_anti")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      },
      Some("""WITH sp AS (SELECT doc_id, lang, text,
             |CASE WHEN substr(md5(text), 1, 4) < 'cccc' THEN 'train'
             |WHEN substr(md5(text), 1, 4) < 'e666' THEN 'val'
             |ELSE 'test' END AS split FROM documents),
             |tk AS (SELECT doc_id, lang, text, split,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM sp),
             |bk AS (SELECT doc_id,
             |ascii(substr(md5(term), 1, 1)) * 256 +
             |ascii(substr(md5(term), 2, 1)) AS bucket
             |FROM (SELECT doc_id, unnest(toks) AS term FROM tk
             |WHERE split = 'train')),
             |db AS (SELECT doc_id, bucket, count(*) AS cnt
             |FROM bk GROUP BY 1, 2),
             |wt AS (SELECT DISTINCT bucket, bucket % 9 - 4 AS w FROM bk),
             |sc AS (SELECT db.doc_id,
             |CAST(sum(cnt * w) AS BIGINT) AS score
             |FROM db JOIN wt USING (bucket) GROUP BY 1),
             |keep AS (SELECT tk.doc_id, tk.lang, tk.text,
             |len(tk.toks) AS n_toks FROM tk
             |JOIN sc ON sc.doc_id = tk.doc_id
             |WHERE tk.split = 'train' AND sc.score > 0),
             |dd AS (SELECT doc_id, lang, text, n_toks FROM
             |(SELECT *, row_number() OVER (PARTITION BY md5(text)
             |ORDER BY doc_id) AS rn FROM keep) WHERE rn = 1),
             |g8 AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |range(1, greatest(len(toks) - 7, 1) + 1),
             |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
             |toks[i+4], toks[i+5], toks[i+6], toks[i+7])))) AS g FROM tk),
             |te AS (SELECT DISTINCT g FROM g8
             |JOIN sp ON sp.doc_id = g8.doc_id WHERE sp.split = 'test'),
             |cont AS (SELECT DISTINCT g8.doc_id FROM g8
             |JOIN te USING (g)
             |WHERE g8.doc_id IN (SELECT doc_id FROM dd)),
             |clean AS (SELECT * FROM dd
             |WHERE doc_id NOT IN (SELECT doc_id FROM cont))
             |SELECT lang, count(*) AS n_docs,
             |CAST(sum(n_toks) AS BIGINT) AS n_tokens
             |FROM clean GROUP BY lang"""
        .stripMargin.replace('\n', ' '))),

    // DATA CARD under the hash gate — the documentation artifact a
    // training run consumes with its shards: per-(split, shard) doc,
    // token, and permissive-license accounting with ROLLUP subtotals
    // (shard rows → per-split totals → grand total in ONE pass — the
    // multi-granularity report q34's relational rollup machinery
    // exists for). Split and shard are the content-keyed t10/io06
    // constructions; the license class is t36's deterministic
    // derivation, so every column of the card is oracle-stated. One
    // scan + one grouping-sets aggregation.
    Q("p10_data_card",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
          .withColumn("split", Sampling.deterministicSplit(col("text")))
          .withColumn("shard",
            concat(lit("s"), substring(md5(col("text")), 1, 1)))
          .withColumn("license",
            when(col("doc_id") % 4 === 0, "MIT")
              .when(col("doc_id") % 4 === 1, "Apache-2.0")
              .when(col("doc_id") % 4 === 2, "GPL-3.0")
              .otherwise("unknown"))
          .withColumn("n_toks", size(tokens(col("text"))).cast("long"))
        docs.rollup("split", "shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_tokens"),
            sum(col("license").isin("MIT", "Apache-2.0").cast("long"))
              .as("n_permissive"))
      },
      Some("""WITH b AS (SELECT
             |CASE WHEN substr(md5(text), 1, 4) < 'cccc' THEN 'train'
             |WHEN substr(md5(text), 1, 4) < 'e666' THEN 'val'
             |ELSE 'test' END AS split,
             |'s' || substr(md5(text), 1, 1) AS shard,
             |CASE doc_id % 4 WHEN 0 THEN 'MIT' WHEN 1 THEN 'Apache-2.0'
             |WHEN 2 THEN 'GPL-3.0' ELSE 'unknown' END AS license,
             |len(string_split_regex(trim(lower(text)), '\s+')) AS n_toks
             |FROM documents)
             |SELECT split, shard, count(*) AS n_docs,
             |CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             |CAST(sum(CASE WHEN license IN ('MIT', 'Apache-2.0')
             |THEN 1 ELSE 0 END) AS BIGINT) AS n_permissive
             |FROM b GROUP BY ROLLUP (split, shard)"""
        .stripMargin.replace('\n', ' '))),

    // MUTUAL-kNN SEMANTIC CLUSTERING under the hash gate — the
    // embedding-space clustering pipeline end to end: e21's exact k-NN
    // graph → MUTUAL edges only (a is in b's top-3 AND b in a's — the
    // standard symmetrization that kills hub-induced chains) → g02's
    // large-star/small-star components → per-cluster membership
    // counts. The oracle re-derives the k-NN ranking, the mutual join,
    // and the transitive closure (recursive CTE, d08's oracle pattern),
    // so the gate proves the three stages COMPOSE. Scale: the graph
    // stage is O(log diameter) rounds over an edge set already
    // sub-linear in the corpus; the k-NN stage swaps in bucketed
    // candidates (e03/e16) with the same downstream unchanged.
    Q("p11_mutual_knn_clusters",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings").filter(
          substring(md5(col("vec_id").cast("string")), 1, 4) < "8000")
        val knn = Similarity.bruteForceTopK(emb, emb, 3)
          .select(col("query_id"), col("neighbor_id"))
        val mutual = knn.as("x").join(knn.as("y"),
            col("x.query_id") === col("y.neighbor_id") &&
              col("x.neighbor_id") === col("y.query_id") &&
              col("x.query_id") < col("x.neighbor_id"))
          .select(col("x.query_id").as("src"),
            col("x.neighbor_id").as("dst"))
        Graph.ccLargeSmallStar(
            emb.select(col("vec_id").as("doc_id")), mutual)
          .groupBy("rep").agg(count(lit(1)).as("n_members"))
      },
      Some("""WITH RECURSIVE sm AS (SELECT vec_id,
             |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |FROM embeddings
             |WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) < '8000'),
             |k AS (SELECT q.vec_id AS a, c.vec_id AS b,
             |row_number() OVER (PARTITION BY q.vec_id
             |ORDER BY round(list_cosine_similarity(q.e, c.e), 4) DESC,
             |c.vec_id) AS rn FROM sm q, sm c
             |WHERE q.vec_id != c.vec_id QUALIFY rn <= 3),
             |m AS (SELECT x.a, x.b FROM k x JOIN k y
             |ON x.a = y.b AND x.b = y.a AND x.a < x.b),
             |sym AS (SELECT a AS x, b AS y FROM m
             |UNION SELECT b, a FROM m),
             |r AS (SELECT vec_id AS id, vec_id AS reach FROM sm
             |UNION SELECT r.id, sym.y FROM r
             |JOIN sym ON sym.x = r.reach),
             |cc AS (SELECT id, min(reach) AS rep FROM r GROUP BY id)
             |SELECT rep, count(*) AS n_members FROM cc GROUP BY rep"""
        .stripMargin.replace('\n', ' '))),

    // SEMANTIC DEDUP (the SemDeDup shape, Abbas et al. 2023): assign
    // every vector to its nearest centroid (e12's exact-integer
    // construction — here the label centroids stand in for the k-means
    // codebook the e05 IVF trainer produces), then WITHIN EACH CLUSTER
    // find quantized-cosine near-dup pairs and keep the lowest vec_id of
    // each pair (greedy ε-ball representative — chain-drops are the
    // documented SemDeDup rule; g02's connected components is the
    // alternative resolution). Output: one row per vector with its
    // cluster and kept flag.
    //
    // Fully hash-gated: the near-dup predicate is CROSS-MULTIPLIED
    // exact integers — cos ≥ 0.35 ⇔ i1 > 0 ∧ 400·i1² ≥ 49·i2a·i2b on
    // the int8-quantized vectors (τ² = 49/400 exactly; |i1| ≤ 127²·64 ≈
    // 10⁶ so 400·i1² ≤ 4·10¹⁴ — no overflow, no rounding anywhere), so
    // both engines decide every pair identically, bit-for-bit.
    //
    // Scale shape: this is WHY SemDeDup clusters first — pairing is
    // cluster-scoped (Σ_c C(n_c,2), never corpus²), the centroid table
    // broadcasts, and the pair join keys on (cluster, ord) exactly like
    // d07's inverted index. At 100 TB the codebook grows with the
    // corpus (e05/adaptiveSignBits' bits-follow-scale rule) to hold
    // per-cluster occupancy constant.
    Q("p12_semdedup",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        val clusters = Similarity.nearestCentroid(emb)
          .select(col("vec_id"), col("pred_label").as("cluster"))
        val q = Similarity.quantizeInt8Vectors(emb)
          .select(col("vec_id"),
            transform(col("qv"), x => x.cast("long")).as("qvl"))
        // persisted: feeds the explode AND the final keep-list join
        val withC = ManagedCache.persist(q.join(clusters, "vec_id")
          .withColumn("i2",
            aggregate(col("qvl"), lit(0L), (a, x) => a + x * x)))
        val ex = withC.select(col("vec_id"), col("cluster"), col("i2"),
          posexplode(col("qvl")).as(Seq("ord", "v")))
        val pairs = ex.alias("a").join(ex.alias("b"),
            col("a.cluster") === col("b.cluster") &&
              col("a.ord") === col("b.ord") &&
              col("a.vec_id") < col("b.vec_id"))
          .groupBy(col("a.vec_id").as("av"), col("b.vec_id").as("bv"),
            col("a.i2").as("i2a"), col("b.i2").as("i2b"))
          .agg(sum(col("a.v") * col("b.v")).as("i1"))
        val dropped = pairs
          .filter(col("i1") > 0 &&
            lit(400L) * col("i1") * col("i1") >=
              lit(49L) * col("i2a") * col("i2b"))
          .select(col("bv").as("vec_id")).distinct()
          .withColumn("hit", lit(1))
        withC.select(col("vec_id"), col("cluster"))
          .join(dropped, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cluster"),
            when(col("hit").isNull, lit(1)).otherwise(lit(0)).as("kept"))
      },
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
             |USING (cand_label)),
             |pred AS (SELECT vec_id, cand_label AS cluster FROM sim
             |QUALIFY row_number() OVER (PARTITION BY vec_id
             |ORDER BY sim DESC, cand_label ASC) = 1),
             |pr AS (SELECT a.vec_id AS av, b.vec_id AS bv,
             |CAST(sum(a.val * b.val) AS BIGINT) AS i1
             |FROM d a JOIN d b ON a.ord = b.ord AND a.vec_id < b.vec_id
             |JOIN pred pa ON pa.vec_id = a.vec_id
             |JOIN pred pb ON pb.vec_id = b.vec_id
             |AND pa.cluster = pb.cluster
             |GROUP BY 1, 2),
             |drp AS (SELECT DISTINCT pr.bv AS vec_id FROM pr
             |JOIN i2 ia ON ia.vec_id = pr.av
             |JOIN i2 ib ON ib.vec_id = pr.bv
             |WHERE pr.i1 > 0
             |AND 400 * pr.i1 * pr.i1 >= 49 * ia.i2 * ib.i2)
             |SELECT p.vec_id, CAST(p.cluster AS INTEGER) AS cluster,
             |CASE WHEN drp.vec_id IS NULL THEN 1 ELSE 0 END AS kept
             |FROM pred p LEFT JOIN drp USING (vec_id)"""
        .stripMargin.replace('\n', ' '))),

    // INSTRUCTION-DATA CURATION capstone — the pipeline an SFT/chat
    // corpus runs before training, composed as ONE plan under ONE
    // oracle (the p04/p09 composition rule — the gate proves the stages
    // FEED each other, not just that each works alone):
    //   1. parse + validate chat payloads (t41's construction, shared
    //      builder — the JSON round trip is inside this plan too);
    //   2. keep schema-valid conversations only;
    //   3. PROMPT dedup — near-identical first-user-turn prompts are
    //      the dominant duplication mode in instruction corpora (self-
    //      instruct seeds, template expansions); key = md5(turn-1
    //      content), keep the lowest doc_id (27 drops at sf0.01, so
    //      the dedup stage demonstrably fires under the gate);
    //   4. delivery stats per conversation length (the data-card
    //      readout: conversations and assistant-supervision volume).
    // Scale shape: stages 1-2 are stateless per-row map work fused into
    // the scan; stage 3 is ONE shuffle on the prompt key (d01's exact-
    // dedup shape — window-min, no pairs); stage 4 is a 3-group partial
    // agg. Nothing corpus-scale survives past the dedup exchange.
    Q("p13_instruction_curation",
      (s, d) => {
        val parsed = TextQueries.chatParsed(Tables.t(s, d, "documents"))
        val valid = parsed.filter(col("valid"))
          .withColumn("prompt_key", md5(col("first_user")))
        val keepW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("prompt_key"))
        valid
          .withColumn("__keep", min(col("doc_id")).over(keepW))
          .filter(col("doc_id") === col("__keep"))
          .groupBy("n_turns")
          .agg(count(lit(1)).as("n_convos"),
            sum(col("assistant_chars")).as("assistant_chars"))
      },
      Some(TextQueries.chatTurnsOracle +
        """, dd AS (SELECT *, md5(first_user) AS pk FROM chat_docs
          |WHERE valid),
          |k AS (SELECT * FROM dd QUALIFY
          |row_number() OVER (PARTITION BY pk ORDER BY doc_id) = 1)
          |SELECT n_turns, count(*) AS n_convos,
          |CAST(sum(assistant_chars) AS BIGINT) AS assistant_chars
          |FROM k GROUP BY n_turns"""
          .stripMargin.replace('\n', ' '))),

    // RECALL AUDIT TWINS for the hash-seeded rows-only dedup entries
    // (same construction as the e03/e05 audits — see
    // [[Similarity.recallViolations]]): recompute the approximate pair set
    // AND its exact deterministic twin, emit a violation row iff recall
    // falls below the floor. d03 vs the exact jac≥0.8 pairs: bands=4
    // banding gives P[candidate] ≈0.88 theoretical at jac=0.8; measured
    // 1.0 (sf0.001) / 0.96 (sf0.01) — floor 0.7 leaves corpus-drift
    // margin without masking a banding regression. d06's 4-bit
    // multi-probe buckets measured recall 0.52/0.53 vs the exact τ=0.35
    // pairs (the deliberate bucket-pruning loss at 4 bits) — floor 0.4.
    // Not bench entries: the exact side is the deliberate quadratic
    // audit scan, run over the verify gate's corpus only.
    Q("d03_minhash_recall_audit",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        Similarity.recallViolations(
          Dedup.minhashNearDupPairs(docs,
            shingleN = 3, k = 16, bands = 4, threshold = 0.5),
          Dedup.exactJaccardPairs(docs, shingleN = 3, threshold = 0.8),
          Seq("a", "b"), floor = 0.7)
      },
      Some(Similarity.recallAuditOracle)),

    Q("d06_neardup_recall_audit",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
        Similarity.recallViolations(
          Dedup.embeddingNearDupPairs(emb, threshold = 0.35, signBits = 4),
          Dedup.exactCosinePairs(emb, threshold = 0.35),
          Seq("a", "b"), floor = 0.4)
      },
      Some(Similarity.recallAuditOracle)),

    // signBits sizes the bucket count (2^bits) and trades exactly like LSH
    // bands: each +1 bit halves candidate pairs at some recall cost, and
    // multi-probe (1-bit flips) buys back most of the recall. 4 bits +
    // multi-probe keeps candidates sub-quadratic (asserted in DedupSpec)
    // with near-2-bit recall; at corpus scale raise signBits further.
    Q("d06_embedding_neardup",
      (s, d) => {
        // bits follow the corpus ([[Dedup.adaptiveSignBits]]): 4 at the
        // 2k-vector fixtures (the spec'd recall geometry, unchanged), 8
        // at the 20k sf1 scale run, ~16 at 10M vectors — constant bucket
        // occupancy, ~linear candidate volume.
        val emb = Tables.t(s, d, "embeddings")
        Dedup.embeddingNearDupPairs(emb, threshold = 0.35,
          signBits = Dedup.adaptiveSignBits(emb))
      },
      None,
      bench = true),

    // CROSS-SOURCE DUPLICATION MATRIX — pipeline observability: how much
    // 8-gram content each pair of sources shares (the corpus-level view
    // that tells you WHICH crawls/dumps overlap before you pay for pairwise
    // doc dedup between them; t24 is the unigram-vocabulary analogue, this
    // is the verbatim-passage one). Shape: ONE scan → per-source DISTINCT
    // gram hashes (native shingle_hashes, persisted — the frame feeds the
    // per-source totals AND both self-join sides), gram-keyed self-join
    // (per-gram multiplicity ≤ #sources, so the join output is bounded by
    // grams × sources², never docs²), pair partial-agg, then the tiny
    // totals table broadcast back for the Jaccard. Spark joins 64-bit gram
    // hashes; the oracle joins string grams (d07's hash↔string parity
    // argument). Jaccard is a ratio of exact integers → identical double.
    Q("d14_cross_source_overlap",
      (s, d) => {
        val docs = Dedup.spread(Tables.t(s, d, "documents"))
        val sg = ManagedCache.persist(docs.select(col("source"),
          explode(TextExpressions.shingleHashes(
            tokens(col("text")), 8)).as("g"))
          .distinct())
        val tot = sg.groupBy("source").agg(count(lit(1)).as("ng"))
        val pairs = sg.as("a")
          .join(sg.as("b"),
            col("a.g") === col("b.g") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"),
            col("b.source").as("source_b"))
          .agg(count(lit(1)).as("shared_grams"))
        pairs
          .join(broadcast(tot.select(col("source").as("source_a"),
            col("ng").as("na"))), "source_a")
          .join(broadcast(tot.select(col("source").as("source_b"),
            col("ng").as("nb"))), "source_b")
          .select(col("source_a"), col("source_b"), col("shared_grams"),
            round(col("shared_grams").cast("double") /
              (col("na") + col("nb") - col("shared_grams")), 6)
              .as("jaccard"))
      },
      Some("""WITH tk AS (SELECT source, doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks
             |FROM documents),
             |g0 AS (SELECT source, doc_id, unnest(list_distinct(
             |list_transform(range(1, greatest(len(toks) - 7, 1) + 1),
             |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
             |toks[i+4], toks[i+5], toks[i+6], toks[i+7])))) AS g FROM tk),
             |g AS (SELECT DISTINCT source, g FROM g0),
             |n AS (SELECT source, count(*) AS ng FROM g GROUP BY 1)
             |SELECT a.source AS source_a, b.source AS source_b,
             |count(*) AS shared_grams,
             |round(CAST(count(*) AS DOUBLE) /
             |(min(na.ng) + min(nb.ng) - count(*)), 6) AS jaccard
             |FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
             |JOIN n na ON na.source = a.source
             |JOIN n nb ON nb.source = b.source
             |GROUP BY a.source, b.source"""
        .stripMargin.replace('\n', ' '))),

    // CONTENT-DEFINED CHUNKING dedup (see [[Dedup.cdcChunkDups]]):
    // boundaries from token-content hashes, so chunk identity is
    // insertion-shift-invariant — the variable-length complement to
    // d12's fixed 8-grams. Fully deterministic (md5 gates + per-doc
    // running sums), so the DuckDB oracle restates the whole
    // construction and the entry runs under the hash gate.
    Q("d15_cdc_chunk_dedup",
      (s, d) => Dedup.cdcChunkDups(Tables.t(s, d, "documents")),
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
             |md5(string_agg(w, ' ' ORDER BY pos)) AS h,
             |CAST(count(*) AS BIGINT) AS chunk_tokens
             |FROM c GROUP BY 1, 2)
             |SELECT h, count(DISTINCT doc_id) AS n_docs,
             |count(*) AS n_total, max(chunk_tokens) AS chunk_tokens
             |FROM ch GROUP BY h
             |HAVING count(DISTINCT doc_id) >= 2"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // Per-document duplication score over the same CDC chunk table (see
    // [[Dedup.cdcDupScore]]): chunk- and token-weighted fraction of each
    // doc that also lives in ≥1 other doc — the actionable per-doc
    // filter signal d15's corpus-level rollup feeds.
    Q("d16_cdc_dup_score",
      (s, d) => Dedup.cdcDupScore(Tables.t(s, d, "documents")),
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
             |md5(string_agg(w, ' ' ORDER BY pos)) AS h,
             |CAST(count(*) AS BIGINT) AS chunk_tokens
             |FROM c GROUP BY 1, 2),
             |dh AS (SELECT h FROM ch GROUP BY h
             |HAVING count(DISTINCT doc_id) >= 2)
             |SELECT doc_id, count(*) AS n_chunks,
             |CAST(sum(CASE WHEN dh.h IS NOT NULL THEN 1 ELSE 0 END)
             |AS BIGINT) AS n_dup_chunks,
             |round(CAST(sum(CASE WHEN dh.h IS NOT NULL THEN 1 ELSE 0 END)
             |AS DOUBLE) / count(*), 4) AS chunk_dup_frac,
             |round(CAST(sum(CASE WHEN dh.h IS NOT NULL THEN chunk_tokens
             |ELSE 0 END) AS DOUBLE) / sum(chunk_tokens), 4)
             |AS token_dup_frac
             |FROM ch LEFT JOIN dh ON ch.h = dh.h GROUP BY doc_id"""
        .stripMargin.replace('\n', ' '))),

    // URL-NORMALIZATION DEDUP — the crawl-frontier/WARC dedup that runs
    // BEFORE any content fetch: canonicalize each record's URL (lowercase
    // host, strip `www.`, strip the fragment, strip a trailing slash,
    // drop tracking params — utm_*/ref/fbclid/gclid — while KEEPING real
    // params) and keep the lowest doc_id per canonical URL. The corpus
    // has no URL column, so the entry constructs four deterministic
    // variant families per page id (clean / http+www+case+trailing-slash
    // / all-tracking-query / real-param+tracking+fragment): families
    // 0-2 must collapse to one canonical key and family 3 must survive
    // as its own — the gate proves every normalization rule fires, t33's
    // constructed-URL pattern. Spark parses with parse_url + a native
    // higher-order filter over the split query; the oracle re-derives
    // the same parts with regexps. Scale: per-row codegen'd string work
    // + ONE window-min shuffle on the canonical key — at 100 TB this is
    // the cheapest dedup in the family (no shingles, no pairs).
    Q("d17_url_dedup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        Tables.t(s, d, "documents")
          .select(col("doc_id"), Dedup.constructedUrl.as("url"))
          .withColumn("norm_url", Dedup.normalizedUrl(col("url")))
          .withColumn("keep", col("doc_id") === min(col("doc_id"))
            .over(Window.partitionBy(col("norm_url"))))
          .select(col("doc_id"), col("norm_url"), col("keep"))
      },
      Some(Dedup.urlCtesSql("doc_id") +
        """ SELECT doc_id, norm_url,
          |doc_id = min(doc_id) OVER (PARTITION BY norm_url) AS keep
          |FROM n""".stripMargin.replace('\n', ' '))),

    // MD5-BASIS SIMHASH SIGNATURES under the hash gate — the twin that
    // finally puts the simhash FAMILY's arithmetic (per-term bit basis,
    // tf-weighted ±balance, strict-majority bit assembly) under the
    // driver's oracle: d04's production signature uses xxhash64 (one-pass
    // native codegen, but impl-specific — rows-only forever), while this
    // basis is md5, which both engines compute bit-identically. See
    // [[Dedup.md5SimHashSignatures]] for the construction and the
    // explode-vs-verifiability trade.
    Q("d18_simhash_md5",
      (s, d) => Dedup.md5SimHashSignatures(Tables.t(s, d, "documents")),
      Some("""WITH tok AS (SELECT doc_id,
             |unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             |FROM documents),
             |tf AS (SELECT doc_id, w, count(*) AS c,
             |('0x' || substr(md5(w), 1, 15))::BIGINT AS h
             |FROM tok GROUP BY 1, 2),
             |bal AS (SELECT doc_id, j,
             |sum(CASE WHEN ((h >> j) & 1) = 1 THEN c ELSE -c END) AS s
             |FROM tf CROSS JOIN (SELECT unnest(range(0, 60)) AS j) bits
             |GROUP BY 1, 2)
             |SELECT doc_id, CAST(sum(CASE WHEN s > 0
             |THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sim60
             |FROM bal GROUP BY doc_id"""
        .stripMargin.replace('\n', ' '))),

    // BANDED SIMHASH PAIRS under the hash gate — proves the PIGEONHOLE
    // BANDING ITSELF is lossless, not just the signatures: the Spark side
    // generates candidates from 6 chunk-equality joins (never all-pairs,
    // [[Dedup.md5SimHashPairs]]) while the oracle brute-forces every pair;
    // the hash matches iff banding found EXACTLY the pairs with hamming
    // ≤ 5 of 60. d04 could only ever claim this in a spec — here the
    // driver gate holds the sub-quadratic plan to the exact answer.
    Q("d19_simhash_md5_pairs",
      (s, d) => Dedup.md5SimHashPairs(Tables.t(s, d, "documents")),
      Some("""WITH tok AS (SELECT doc_id,
             |unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             |FROM documents),
             |tf AS (SELECT doc_id, w, count(*) AS c,
             |('0x' || substr(md5(w), 1, 15))::BIGINT AS h
             |FROM tok GROUP BY 1, 2),
             |bal AS (SELECT doc_id, j,
             |sum(CASE WHEN ((h >> j) & 1) = 1 THEN c ELSE -c END) AS s
             |FROM tf CROSS JOIN (SELECT unnest(range(0, 60)) AS j) bits
             |GROUP BY 1, 2),
             |sg AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0
             |THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sim60
             |FROM bal GROUP BY doc_id)
             |SELECT l.doc_id AS a, r.doc_id AS b,
             |CAST(bit_count(xor(l.sim60, r.sim60)) AS BIGINT) AS hamming
             |FROM sg l JOIN sg r ON l.doc_id < r.doc_id
             |WHERE bit_count(xor(l.sim60, r.sim60)) <= 5"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // ASYMMETRIC CONTAINMENT DEDUP under the hash gate — see
    // [[Dedup.containmentPairs]]: the quote/subset-inclusion case
    // symmetric jaccard (d07) structurally misses. The oracle rebuilds
    // the same directional |A∩B|/|A| over STRING shingle sets (d07's
    // hash-vs-string equivalence argument); both directions of every
    // sharing pair are stated, so the gate checks the finalize formula
    // per side, not just pair discovery.
    Q("d20_containment_pairs",
      (s, d) => Dedup.containmentPairs(Tables.t(s, d, "documents")),
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |s AS (SELECT doc_id,
             |list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
             |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh FROM tk),
             |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
             |c AS (SELECT e1.doc_id AS a, e2.doc_id AS b, count(*) AS c
             |FROM e e1 JOIN e e2 ON e1.g = e2.g AND e1.doc_id < e2.doc_id
             |GROUP BY 1, 2),
             |z AS (SELECT doc_id, len(sh) AS sz FROM s),
             |u AS (SELECT c.a AS contained, c.b AS container,
             |round(CAST(c.c AS DOUBLE) / za.sz, 4) AS containment
             |FROM c JOIN z za ON za.doc_id = c.a
             |UNION ALL
             |SELECT c.b, c.a, round(CAST(c.c AS DOUBLE) / zb.sz, 4)
             |FROM c JOIN z zb ON zb.doc_id = c.b)
             |SELECT contained, container, containment FROM u
             |WHERE containment >= 0.8"""
        .stripMargin.replace('\n', ' '))),

    // MD5-BASIS MINHASH SIGNATURES under the hash gate — see
    // [[Dedup.md5MinHashSignatures]]: the d18 argument applied to the
    // minhash family (d03's xxhash64 basis is impl-specific → rows-only
    // forever; the md5 seed basis is bit-identical cross-engine).
    Q("d21_minhash_md5",
      (s, d) => Dedup.md5MinHashSignatures(Tables.t(s, d, "documents")),
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |sdf AS (SELECT doc_id,
             |list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
             |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh FROM tk),
             |e AS (SELECT doc_id, unnest(sh) AS g FROM sdf)
             |SELECT doc_id, seed,
             |min(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || g),
             |1, 15))::BIGINT) AS minhash
             |FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) sd
             |GROUP BY doc_id, seed"""
        .stripMargin.replace('\n', ' '))),

    // THE FULL MINHASH-LSH PIPELINE under the hash gate — signatures →
    // banded candidates → exact jaccard verify, every stage
    // deterministic on the md5 basis, so the oracle re-derives the SAME
    // candidate set and the SAME verified pairs
    // ([[Dedup.md5MinHashBandedPairs]]). This is the claim d03 could
    // only make through recall specs: here candidate generation itself
    // is driver-gated, not just audited.
    Q("d22_minhash_md5_pairs",
      (s, d) => Dedup.md5MinHashBandedPairs(Tables.t(s, d, "documents")),
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |sdf AS (SELECT doc_id,
             |list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
             |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh FROM tk),
             |e AS (SELECT doc_id, unnest(sh) AS g FROM sdf),
             |hh AS (SELECT doc_id, seed,
             |min(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || g),
             |1, 15))::BIGINT) AS mh
             |FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) sd
             |GROUP BY doc_id, seed),
             |pv AS (SELECT doc_id,
             |min(CASE WHEN seed = 0 THEN mh END) AS s0,
             |min(CASE WHEN seed = 1 THEN mh END) AS s1,
             |min(CASE WHEN seed = 2 THEN mh END) AS s2,
             |min(CASE WHEN seed = 3 THEN mh END) AS s3,
             |min(CASE WHEN seed = 4 THEN mh END) AS s4,
             |min(CASE WHEN seed = 5 THEN mh END) AS s5,
             |min(CASE WHEN seed = 6 THEN mh END) AS s6,
             |min(CASE WHEN seed = 7 THEN mh END) AS s7
             |FROM hh GROUP BY doc_id),
             |bd AS (
             |SELECT doc_id, 0 AS band, md5(CAST(s0 AS VARCHAR) || ':' ||
             |CAST(s1 AS VARCHAR)) AS bk FROM pv
             |UNION ALL SELECT doc_id, 1, md5(CAST(s2 AS VARCHAR) || ':' ||
             |CAST(s3 AS VARCHAR)) FROM pv
             |UNION ALL SELECT doc_id, 2, md5(CAST(s4 AS VARCHAR) || ':' ||
             |CAST(s5 AS VARCHAR)) FROM pv
             |UNION ALL SELECT doc_id, 3, md5(CAST(s6 AS VARCHAR) || ':' ||
             |CAST(s7 AS VARCHAR)) FROM pv),
             |cd AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
             |FROM bd l JOIN bd r ON l.band = r.band AND l.bk = r.bk
             |AND l.doc_id < r.doc_id),
             |jj AS (SELECT cd.a, cd.b,
             |round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             |/ len(list_distinct(sa.sh || sb.sh)), 4) AS jac
             |FROM cd JOIN sdf sa ON sa.doc_id = cd.a
             |JOIN sdf sb ON sb.doc_id = cd.b)
             |SELECT a, b, jac FROM jj WHERE jac >= 0.5"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // BLOCKED EDIT-DISTANCE DEDUP under the hash gate — the fuzzy
    // SHORT-STRING dedup mode (titles, product names, questions) that
    // shingle-Jaccard can't see: a 1-2 character typo barely moves edit
    // distance but destroys most character shingles of a short string.
    // Titles are derived from the corpus (first 3 tokens) with an
    // INJECTED near-miss arm — odd doc_ids append ' x' (2 edits), so
    // docs sharing a base title form distance-2 pairs that demonstrably
    // fire under the gate (27 shared bases at sf0.01) alongside exact
    // distance-0 pairs. BLOCKING is the scale story: candidates come
    // from an equality join on the 4-char title prefix — O(Σ block²),
    // never corpus² — under the documented assumption that edits land
    // mid/tail (prefix blocking is the standard record-linkage choice;
    // production layers a second pass keyed on a suffix or phonetic
    // block for head edits, same plan shape). Both engines compute the
    // identical Wagner-Fischer distance, so every pair decision hashes
    // bit-for-bit; skewed prefix blocks cap exactly like the LSH band
    // buckets (maxBucket).
    Q("d23_fuzzy_title_pairs",
      (s, d) => {
        val base = Tables.t(s, d, "documents")
          .select(col("doc_id"),
            array_join(slice(tokens(col("text")), 1, 3), " ").as("t0"))
          .withColumn("title",
            when(col("doc_id") % 2 === 1, concat(col("t0"), lit(" x")))
              .otherwise(col("t0")))
          .withColumn("blk", substring(col("title"), 1, 4))
        // the THRESHOLD form computes a banded O(len·k) DP and returns
        // -1 past the bound — at scale most in-block pairs are far
        // apart, so the early exit is where the candidate-verify time
        // goes; values within the bound equal the unbounded distance,
        // which is what the oracle computes
        base.as("a").join(base.as("b"),
            col("a.blk") === col("b.blk") &&
              col("a.doc_id") < col("b.doc_id"))
          .withColumn("dist",
            levenshtein(col("a.title"), col("b.title"), 2))
          .filter(col("dist") >= 0)
          .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"),
            col("dist").cast("long").as("dist"))
      },
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks
             |FROM documents),
             |t AS (SELECT doc_id,
             |array_to_string(toks[1:3], ' ') AS t0 FROM tk),
             |v AS (SELECT doc_id, CASE WHEN doc_id % 2 = 1
             |THEN t0 || ' x' ELSE t0 END AS title FROM t),
             |bl AS (SELECT doc_id, title, substr(title, 1, 4) AS blk
             |FROM v)
             |SELECT a.doc_id AS a, b.doc_id AS b,
             |levenshtein(a.title, b.title) AS dist
             |FROM bl a JOIN bl b ON a.blk = b.blk
             |AND a.doc_id < b.doc_id
             |WHERE levenshtein(a.title, b.title) <= 2"""
        .stripMargin.replace('\n', ' ')))
  )
}
