package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextFunctions._

/** Corpus-level distribution statistics (phrase mining, mixture drift) —
  * parameterized by a docs frame so specs can drive them on hand-built
  * corpora; the t16/t17 catalog entries bind them to `documents`. */
object CorpusStats {
  import org.apache.spark.sql.{Column, DataFrame}

  /** Adjacent-bigram PMI over a `text` column; see t16 for the scale
    * shape. Returns (w1, w2, c_ab, pmi) for bigrams with c_ab >= minCount. */
  def bigramPmi(docsIn: DataFrame, minCount: Int): DataFrame = {
    // spread: a single-file corpus otherwise runs the whole explode in
    // one scan task (no-op on multi-file corpora — metadata decision)
    val docs = Dedup.spread(docsIn)
    val toks = tokens(col("text"))
    // arrays_zip(slice(t,1,n-1), slice(t,2,n-1)) names its struct
    // fields "0"/"1" for non-attribute inputs; size=1 docs yield
    // length-0 slices -> empty zip -> no bogus pair rows
    val pairs = docs.select(explode(arrays_zip(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1))).as("b"))
      .select(col("b").getField("0").as("w1"),
        col("b").getField("1").as("w2"))
    // bi and uni are each read twice (count table + corpus total);
    // persisting them caps the corpus-scale explode at two scans —
    // totals derive from the small aggregates, never a third scan
    val bi = ManagedCache.persist(
      pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab")))
    val uni = ManagedCache.persist(
      docs.select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c")))
    val n2 = bi.agg(sum(col("c_ab")).as("n2"))
    val n1 = uni.agg(sum(col("c")).as("n1"))
    // the unigram joins carry NO broadcast hint: the vocabulary of a
    // web-scale corpus (typos, URLs, numbers) reaches 10^8+ terms, where
    // an unconditional broadcast is a hard failure — let the planner/AQE
    // broadcast when the vocab is actually small (t08's df-join
    // precedent); only the 1-row totals are hinted
    bi.filter(col("c_ab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("ca")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("cb")), "w2")
      .crossJoin(broadcast(n1))
      .crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log((col("c_ab").cast("double") * col("n1") * col("n1")) /
          (col("n2").cast("double") * col("ca") * col("cb"))), 4)
          .as("pmi"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection via
    * Importance Resampling"): score each raw-pool document by how much its
    * HASHED-bigram distribution looks like the target split rather than
    * the raw split — logweight(d) = Σ_{bigram g ∈ d} ln(p̂_tgt(b(g)) /
    * p̂_raw(b(g))) with b(g) = first 2 hex chars of md5(g) (256 buckets)
    * and add-1 smoothing on both bucket distributions. The raw pool is
    * the deterministic 'train' split, the target is 'val' (the same
    * content-keyed split p02 gates on), so the whole computation is
    * reproducible cross-engine; selection is the scale-safe THRESHOLD
    * form (rounded logweight > 0 — target-leaning docs), never a global
    * rank.
    *
    * Scale shape at 100 TB: ONE corpus-scale bigram explode → persisted
    * (doc, bucket) frame; both bucket histograms and their totals derive
    * from 256-row aggregates of it; the log-ratio table (≤256 rows) is a
    * broadcast joined back map-side; the per-doc sum is one partial-agg
    * shuffle on doc_id. Cross-engine double-sum order is absorbed by
    * round(., 4) (t17/t18 precedent); the selected flag compares the
    * ROUNDED weight so boundary docs resolve identically.
    * Returns (doc_id, n_bigrams, logweight, selected) over 'train' docs. */
  def dsirWeights(docsIn: DataFrame): DataFrame = {
    val docs = Dedup.spread(docsIn)
      .withColumn("split", Sampling.deterministicSplit(col("text")))
    val toks = tokens(col("text"))
    // hashed-bigram bucket stream: (doc_id, split, bucket) — one row per
    // bigram OCCURRENCE (DSIR weights repeat features), read four times
    // below, so persisted to cap the corpus explode at a single scan
    val bg = ManagedCache.persist(docs
      .select(col("doc_id"), col("split"), explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1))).as("b"))
      .select(col("doc_id"), col("split"),
        substring(md5(concat_ws(" ",
          col("b").getField("0"), col("b").getField("1"))), 1, 2)
          .as("bucket")))
    val rawC = bg.filter(col("split") === "train")
      .groupBy("bucket").agg(count(lit(1)).as("c_r"))
    val tgtC = bg.filter(col("split") === "val")
      .groupBy("bucket").agg(count(lit(1)).as("c_t"))
    // totals derive from the 256-row histograms, never a second corpus scan
    val nR = rawC.agg(sum(col("c_r")).as("n_r"))
    val nT = tgtC.agg(sum(col("c_t")).as("n_t"))
    val ratios = rawC.join(tgtC, Seq("bucket"), "full")
      .crossJoin(broadcast(nR)).crossJoin(broadcast(nT))
      .select(col("bucket"), log(
        ((coalesce(col("c_t"), lit(0L)) + 1).cast("double") /
          (col("n_t") + 256).cast("double")) /
          ((coalesce(col("c_r"), lit(0L)) + 1).cast("double") /
            (col("n_r") + 256).cast("double"))).as("lr"))
    val perDoc = bg.filter(col("split") === "train")
      .join(broadcast(ratios), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lr")).as("w"))
    docs.filter(col("split") === "train").select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (round(coalesce(col("w"), lit(0.0)), 4) + lit(0.0)).as("logweight"),
        (round(coalesce(col("w"), lit(0.0)), 4) > 0.0).as("selected"))
  }

  /** MODEL-BASED quality classification (the GPT-3/CCNet "quality
    * classifier" stage): a linear scorer over HASHED bag-of-words
    * features — bucket(term) from two md5 hex chars (256 buckets, t34's
    * hashing-trick basis), per-doc bucket counts, score = Σ cnt·w(bucket),
    * keep = score > 0. The weight VECTOR here is derived arithmetically
    * from the bucket id ((bucket % 9) − 4 ∈ [−4, 4]) so the entire model
    * is oracle-stateable and the scoring plan runs under the hash gate
    * end-to-end in exact integers; a production classifier loads its
    * TRAINED weights as the same ≤256-row (bucket, w) table and the plan
    * is identical — that substitution is the whole point of keeping the
    * model a broadcastable relation instead of a closure.
    *
    * Scale shape: one corpus explode → (doc, bucket) partial-agg (the
    * map-side combine collapses each doc's tokens to ≤256 rows before
    * the exchange) → broadcast join against the weight table → one
    * per-doc sum. No UDFs, no driver round-trips; inference over 100 TB
    * is exactly these three shuffle-light stages. */
  /** [[linearQualityScore]]'s PER-ROW form: because a linear BoW score
    * is a sum over the document's own tokens, inference collapses to one
    * HOF fold per row — no explode, no shuffle, no state — which is what
    * makes it the streaming face (s25): a stateless transform-and-emit
    * stage, each micro-batch independent. Identical arithmetic to the
    * join form (TextSpec asserts row ≡ join on a real corpus); a trained
    * model rides the same fold as a broadcast map lookup. */
  def linearQualityScoreRow(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(col("toks"), lit(0L), (acc, t) =>
          acc + (ascii(substring(md5(t), 1, 1)) * 256 +
            ascii(substring(md5(t), 2, 1))).cast("long") % 9 - 4)
          .as("score"))
      .withColumn("selected", col("score") > 0)
  }

  def linearQualityScore(docsIn: DataFrame): DataFrame = {
    val docs = Dedup.spread(docsIn)
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val b = toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .select(col("doc_id"),
        (ascii(substring(md5(col("term")), 1, 1)) * 256 +
          ascii(substring(md5(col("term")), 2, 1))).cast("long")
          .as("bucket"))
    val db = b.groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
    val w = b.select("bucket").distinct()
      .withColumn("w", col("bucket") % 9 - 4)
    val s = db.join(broadcast(w), "bucket")
      .groupBy("doc_id").agg(sum(col("cnt") * col("w")).as("score"))
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(s, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("score"), lit(0L)).as("score"),
        (coalesce(col("score"), lit(0L)) > 0).as("selected"))
  }

  /** EXACT corpus heavy hitters (terms with frequency ≥ 1/`phiDen` of
    * all tokens) via the TWO-PHASE sketch-then-verify plan: phase 1 runs
    * a bounded Misra-Gries summary per partition — an mapPartitions
    * fold in O(2·phiDen) memory, NO shuffle — whose union is a proven
    * SUPERSET of every true heavy hitter (if count_p(x) ≤ N_p/(cap+1)
    * in every partition, then summing gives count(x) ≤ N/(cap+1) <
    * N/phiDen, so a true heavy hitter must survive somewhere); phase 2
    * broadcast-semi-joins the candidate set into the token scan and
    * recounts EXACTLY, so the output is deterministic and independent of
    * the partitioning that shaped the candidates. This is the pattern
    * that finds the 0.5%-of-corpus boilerplate tokens without ever
    * shuffling the FULL vocabulary: the exchange carries only candidate
    * occurrences, partial-agg'd to ≤ cap × tasks rows. (t07's TakeOrdered
    * top-N is rank-based; this is threshold-based — the dedup/boilerplate
    * trigger wants "everything above φ", not "the top 30".) One of the
    * two deliberate `mapPartitions` uses in the repo: a bounded-memory
    * sketch is genuinely per-partition imperative state, the documented
    * last-resort case. */
  def heavyHitters(docs: DataFrame, phiDen: Long = 200L): DataFrame = {
    // cap is an in-memory map bound per task; an over-large phiDen would
    // overflow the Int (negative cap admits nothing -> silently empty)
    // and defeats the sketch anyway (the map IS the vocabulary)
    require(phiDen >= 1L && phiDen <= 50_000_000L,
      s"heavyHitters: phiDen must be in [1, 5e7], got $phiDen")
    val sq = docs.sparkSession
    val cap = (2L * phiDen).toInt
    // r17 optimization (guide §4, keep the hot loop off the deserializer):
    // the sketch pass reads the token ARRAYS straight from the scan's
    // UnsafeRows (queryExecution.toRdd) instead of `explode → Dataset
    // [String].mapPartitions`, which decoded every token occurrence into a
    // JVM String before the fold. The Misra-Gries map keys are UTF8String
    // views, cloned only when a NEW key enters the (≤ cap)-entry summary,
    // so per-token work is one hash probe on the scan's own bytes — no
    // explode operator, no per-occurrence allocation. Candidate-set
    // semantics are unchanged (same token stream per partition, same
    // decrement rule), and the output is invariant to the candidate set
    // anyway: phase 2 recounts EXACTLY and keeps only true heavy hitters,
    // which any MG summary provably contains. Sketch stage measured
    // 0.66 s → ~0.3 s at sf0.1.
    val toksOnly = Dedup.spread(docs)
      .select(tokens(col("text")).as("__toks"))
    val candRdd = toksOnly.queryExecution.toRdd.mapPartitions { it =>
      import org.apache.spark.unsafe.types.UTF8String
      val m = new java.util.HashMap[UTF8String, Array[Long]](cap * 2)
      it.foreach { row =>
        // NULL text → NULL token array: skip the row (the old typed
        // explode path dropped such rows; getArray on a null slot would
        // NPE in the executor) — advisor-flagged latent crash, r18
        if (!row.isNullAt(0)) {
          val arr = row.getArray(0)
          val n = arr.numElements()
          var i = 0
          while (i < n) {
            // tokens() never yields null elements (split semantics), but a
            // null would also have been dropped by the old typed decode path
            if (!arr.isNullAt(i)) {
              val tk = arr.getUTF8String(i)
              val c = m.get(tk)
              if (c != null) c(0) += 1L
              else if (m.size < cap) m.put(tk.clone(), Array(1L))
              else { // Misra-Gries decrement-all, drop zeros
                val iter = m.entrySet().iterator()
                while (iter.hasNext) {
                  val e = iter.next()
                  e.getValue()(0) -= 1L
                  if (e.getValue()(0) == 0L) iter.remove()
                }
              }
            }
            i += 1
          }
        }
      }
      import scala.jdk.CollectionConverters._
      m.keySet().iterator().asScala.map(_.toString)
    }
    val cands = sq.createDataset(candRdd)(
      org.apache.spark.sql.Encoders.STRING).toDF("term").distinct()
    // r18 (guide §2.3/§2.4): phase 2 recounts off the per-row
    // token_counts map (occurrences pre-reduced per document before any
    // exchange) and the corpus total is sum(size(tokens)) per row — the
    // second and third full-corpus explodes are gone. Content-identical:
    // Σ per-doc counts per term = occurrence count; sum(size) over
    // non-null token arrays = exploded row count. Interleaved A/B at
    // sf0.1/32c: 0.61-0.84 s vs ~1.0 s for the explode recount.
    val tc = docs.select(
      explode(TextExpressions.tokenCounts(tokens(col("text"))))
        .as(Seq("term", "c")))
    val counts = tc.join(broadcast(cands), Seq("term"), "left_semi")
      .groupBy("term").agg(sum(col("c")).as("n"))
    val total = docs.agg(
      sum(coalesce(size(tokens(col("text"))), lit(0))).as("total"))
    counts
      .crossJoin(broadcast(total))
      .filter(col("n") * phiDen >= col("total"))
      .select(col("term"), col("n"), col("total"))
  }

  /** Per-DOCUMENT cross-entropy under the corpus unigram LM — the
    * perplexity-proxy quality signal (CCNet-style LM filtering, with the
    * corpus's own unigram distribution standing in for the external LM):
    * H(doc) = -(1/n_d) Σ_t c_{t,d} ln(p_t), p_t = c_t / N. Outlier docs
    * (boilerplate, wrong-language, degenerate generations) score far from
    * the corpus mode and get cut by a percentile threshold downstream
    * (p03's calibration pattern). Returns (doc_id, n_tokens, logloss).
    *
    * Scale shape: explode → (doc, term) partial-agg (t08's tf stage), one
    * join on the vocabulary key against the unigram table (planner-decided
    * strategy, same reasoning as [[bigramPmi]]), 1-row total broadcast,
    * then a per-doc sum. Cross-engine double-sum order absorbed by
    * round(., 4) (t17 precedent). */
  def unigramLogLoss(docs: DataFrame): DataFrame = {
    // r18 (guide §2.4): a doc's term counts are per-row by definition —
    // the native token_counts map explodes straight into the (doc, term,
    // count) stream the old explode → groupBy(doc, term) exchange
    // produced, so the td frame is now built with ZERO shuffles (content
    // identical; same persist, read twice: unigram model + scoring join).
    // Deliberately NOT spread: the per-row map is one hash probe per
    // token, and the round-robin exchange of the text column costs more
    // than the serialization it avoids (interleaved A/B at sf0.1/32c:
    // spread 1.08–1.28 s, no spread 0.26–0.49 s); at production scale
    // spread is a no-op anyway (inputs arrive with >= parallelism splits).
    val td = ManagedCache.persist(
      docs.select(col("doc_id"),
        explode(TextExpressions.tokenCounts(tokens(col("text"))))
          .as(Seq("w", "c_td"))))
    val uni = td.groupBy("w").agg(sum(col("c_td")).as("c_t"))
    // Σ_t c_t = Σ_{d,t} c_td: deriving the total from the persisted td
    // avoids running the vocabulary-scale `uni` aggregate a second time
    val n = td.agg(sum(col("c_td")).as("n"))
    td.join(uni, "w")
      .crossJoin(broadcast(n))
      .withColumn("term_ll",
        col("c_td").cast("double") *
          log(col("c_t").cast("double") / col("n")))
      .groupBy("doc_id")
      .agg(sum(col("c_td")).as("n_tokens"),
        round(-sum(col("term_ll")) /
          sum(col("c_td")).cast("double"), 4).as("logloss"))
  }

  /** Per-source KL divergence from the corpus term distribution over
    * (`source`, `text`) columns; see t17 for the scale shape. Returns
    * (source, n_terms, n_tokens, kl). */
  def sourceDrift(docs: DataFrame): DataFrame = {
    val st = ManagedCache.persist(
      Dedup.spread(docs)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c_st")))
    val srcTot = st.groupBy("source").agg(sum(col("c_st")).as("n_s"))
    val glob = st.groupBy("w").agg(sum(col("c_st")).as("c_t"))
    val n = st.agg(sum(col("c_st")).as("n"))
    // srcTot is source-cardinality (small by construction) -> hinted;
    // glob is VOCABULARY-sized -> unhinted, same reasoning as bigramPmi
    st.join(broadcast(srcTot), "source")
      .join(glob, "w")
      .crossJoin(broadcast(n))
      .withColumn("term_kl",
        (col("c_st").cast("double") / col("n_s")) *
          log((col("c_st").cast("double") * col("n")) /
            (col("n_s").cast("double") * col("c_t"))))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        max(col("n_s")).as("n_tokens"),
        round(sum(col("term_kl")), 4).as("kl"))
  }

  /** TEMPERATURE-SCALED MIXTURE WEIGHTS — the sampling-weight table a
    * pretraining mixture reads after t17's drift diagnostic: source s
    * gets weight w_s = n_s^α / Σ_t n_t^α (α < 1 upsamples small
    * high-value sources, the standard multilingual/multi-source
    * temperature trick), plus the per-source boost factor
    * w_s · N / n_s (how many times each source's tokens are over- or
    * under-sampled vs proportional). Shape at 100 TB: one corpus scan
    * for per-source token counts (partial-agg on the tiny source key),
    * then all arithmetic on the sources-row table; the totals cross-join
    * is 1-row broadcast. round(., 4) absorbs cross-engine pow/sum ulp
    * noise (q28/e04 precedent); every output is positive (no −0.0
    * hazard). */
  /** Greedy left-to-right single-pass merge of adjacent (left, right)
    * symbol occurrences — standard BPE application order ("aaa" under
    * (a,a) → [aa, a]). Interpreted HOF fold is fine here: it runs over
    * the VOCABULARY table (one row per distinct word), never the corpus. */
  private def mergePair(syms: Column, left: String, right: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === left && s === right,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(left + right))))
        .otherwise(concat(acc, array(s))))

  /** BPE VOCABULARY INDUCTION (Sennrich et al. 2016) — trains the merge
    * table a tokenizer pipeline ships: start from characters, repeatedly
    * merge the most frequent adjacent symbol pair. Returns
    * (rank, left, right, freq) — the ordered merge list IS the model.
    * Ties break deterministically (freq desc, left asc, right asc).
    *
    * Scale shape at 100 TB — the part that matters: the corpus is
    * scanned ONCE into the (word, count) vocabulary table; every merge
    * round then runs on that vocabulary-sized table only (pair counts
    * weighted by word frequency → 1-row argmax → rewrite), so `nMerges`
    * rounds cost nMerges small jobs, not nMerges corpus scans — exactly
    * how production BPE trainers are structured. Rows unaffected by a
    * merge skip the rewrite fold behind a cheap array_contains guard.
    * The per-round 1-row argmax collect is MODEL-parameter extraction
    * (the merge being learned), not a data collect — the d08 iterative
    * pattern with the same per-round cache rotation.
    *
    * SEQUENTIALITY CAVEAT (stated, not hidden): Sennrich BPE is
    * inherently sequential — merge n+1's pair counts depend on merge
    * n's rewrite — so the trainer is a DRIVER-PACED loop of one small
    * Spark job per round. At nMerges=10 (the gated entry) that is 10
    * jobs; a production 32k-vocab train would be 32k sequential rounds.
    * The practice is unchanged from real BPE trainers: train on a
    * SAMPLED vocabulary, then apply the learned merge table corpus-wide
    * via [[bpeEncode]] — the apply side is one distributed pass and
    * never loops. The round count is the algorithm's nature, not a
    * Spark artifact.
    *
    * `vocabSampleHex` IS that production path: when set, training sees
    * only word TYPES whose content hash falls under the t10
    * deterministic-sample threshold (e.g. "c000" ≈ 75% of types) —
    * applied to the (word, count) table AFTER the one corpus scan, so a
    * type's full corpus frequency is kept or dropped atomically
    * (layout-free, reproducible on any cluster shape; duplicates of a
    * word always land together). Every per-round job then runs on the
    * sampled-vocabulary table: driver pacing drops from O(vocab types)
    * to O(sample), and training on the sample is EXACTLY training on
    * the sub-corpus of retained types (BpeSampleSpec asserts that
    * equivalence on the Sennrich fixture). */
  def bpeMerges(
      docs: DataFrame,
      nMerges: Int,
      vocabSampleHex: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    val vocab = Dedup.spread(docs)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val kept = vocabSampleHex.fold(vocab)(t =>
      vocab.filter(Sampling.deterministicSample(col("w"), t)))
    var words = ManagedCache.persist(
      kept.withColumn("syms", split(col("w"), "")))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var rank = 1
    while (rank <= nMerges) {
      val best = words
        .select(col("cnt"), explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
        // arrays_zip names its struct fields "0"/"1" for non-attribute
        // inputs (the slice expressions)
        .select(col("p").getField("0").as("l"),
          col("p").getField("1").as("r"), col("cnt"))
        .groupBy("l", "r").agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) rank = nMerges + 1 // every word fully merged
      else {
        val (l, r, f) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((rank, l, r, f))
        val next = ManagedCache.persist(words.withColumn("syms",
          when(array_contains(col("syms"), l) &&
            array_contains(col("syms"), r),
            mergePair(col("syms"), l, r))
            .otherwise(col("syms"))))
        next.count() // materialize before releasing the parent
        // d08's rotation: direct unpersist; releaseAll's later
        // re-unpersist of the tracked entry is a no-op
        words.unpersist(blocking = false)
        words = next
        rank += 1
      }
    }
    words.unpersist(blocking = false)
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "freq")
      .select(col("rank").cast("long"), col("left"), col("right"),
        col("freq"))
  }

  /** BM25 KEYWORD RELEVANCE SEARCH — the lexical retrieval twin of e01's
    * embedding top-k (hybrid search runs BOTH and fuses). Scores every
    * document against a fixed query-term set with the Lucene-shape BM25:
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) (always positive),
    * tfNorm = tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)), and returns the
    * global top-`k` docs as (doc_id, n_hit, score).
    *
    * Scale shape at 100 TB: ONE corpus-scale explode whose rows are
    * filtered to the query terms BEFORE the shuffle (the `isin` predicate
    * sits in the scan stage), so the (doc, term) partial-agg exchange
    * carries O(matching docs × |q|) rows, not O(tokens); per-doc length
    * rides the same scan as a fixed-width long. df for the ≤|q| query
    * terms is a tiny aggregate → broadcast; corpus stats (N, Σdl) are a
    * second explode-free 1-row scan → broadcast. The final ranking is
    * orderBy+limit → TakeOrdered (per-partition heaps + driver merge of
    * k-row heads), never a global sort.
    *
    * Determinism rule (t08 precedent, hardened): the per-(doc,term) score
    * is one fixed-shape expression over exact integers (tf, dl, df, N)
    * and avgdl (one integer division) — bit-identical cross-engine — and
    * is rounded to 4 dp BEFORE the per-doc sum, so the doc score is a sum
    * of 4-dp decimals = itself a 4-dp value; the final round(., 4)
    * recovers it exactly on both engines (no x.xxxx5 tie can exist), and
    * the ORDER BY uses the rounded score + doc_id tie-break. */
  def bm25TopK(docsIn: DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = Dedup.spread(docsIn)
    // r17 optimization (guide §2.4 — the per-(doc, term) tf is a function
    // of the document alone, so NO corpus-scale explode or (doc, term)
    // exchange is fundamentally required): one native term_counts walk
    // per row (Kernels.term_counts — |q| counts in one codegen'd
    // pass) replaces `explode(tokens) → isin filter → groupBy(doc, dl, w)`.
    // The only remaining shuffle is the 1-row corpus/df aggregate, which
    // now also carries each term's df (docs with tf > 0 — identical to
    // the old dfq, where doc_id is unique per doc). Per-term scores are
    // rounded to 4 dp BEFORE the (now fixed-order) sum exactly as before;
    // the old hash-agg summed them in arbitrary order, and the final
    // round(., 4) recovers the same 4-dp value either way (the t25
    // determinism rule). Scores, n_hit, ordering: value-identical —
    // driver hash gate re-proves t25/p15.
    val base = ManagedCache.persist(
      docs.select(col("doc_id"), tokenCountWs(col("text")).as("dl"),
        TextExpressions.termCounts(tokens(col("text")), terms).as("tc")))
    val statsCols = count(lit(1)).as("nd") +: sum(col("dl")).as("sum_dl") +:
      terms.indices.map(i =>
        sum(when(col("tc")(i) > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = base.agg(statsCols.head, statsCols.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("nd").cast("double")
    def idf(df: Column) = log(lit(1.0) +
      (col("nd").cast("double") - df + lit(0.5)) /
        (df.cast("double") + lit(0.5)))
    def tfNorm(tf: Column) = (tf.cast("double") * (lit(k1) + 1.0)) /
      (tf.cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    val termScore = terms.indices.map { i =>
      when(col("tc")(i) > 0,
        round(idf(col(s"df$i")) * tfNorm(col("tc")(i)), 4)).otherwise(0.0)
    }.reduce(_ + _)
    val nHit = terms.indices.map(i =>
      when(col("tc")(i) > 0, 1L).otherwise(0L)).reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .withColumn("n_hit", nHit)
      .filter(col("n_hit") > 0)
      .select(col("doc_id"), col("n_hit"),
        round(termScore, 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** PER-DOCUMENT BIGRAM LOG-LOSS — t18's perplexity-proxy quality filter
    * upgraded from a unigram to a bigram LM: surprisal under
    * p(w2|w1) = c(w1,w2)/c(w1,·) with counts from the corpus itself (the
    * corpus contains every doc, so no zero-probability bigram exists and
    * no smoothing constant has to be agreed with the oracle). Repetitive
    * or templated docs score near 0; docs whose transitions are rare in
    * the corpus score high — the standard KenLM-filter signal with the
    * corpus LM standing in for the external model. Returns
    * (doc_id, n_bigrams, logloss); single-token docs emit no pair rows
    * and drop out (their unigram twin t18 still covers them).
    *
    * Scale shape at 100 TB: ONE corpus-scale pair explode →
    * (doc, w1, w2) partial-agg (the t18 td-table shape, keyed one word
    * wider); the corpus bigram table and its prefix-marginal BOTH derive
    * from that table (never a second corpus scan), and the probability
    * join is planner-decided exactly like t16's unigram joins (a
    * web-scale bigram table is far too big to broadcast). Per-doc sum of
    * doubles → round(., 4) + oracle −0.0 guard (t18 precedent). */
  def bigramLogLoss(docsIn: DataFrame): DataFrame = {
    val docs = Dedup.spread(docsIn)
    val toks = tokens(col("text"))
    val dp0 = docs.select(col("doc_id"), explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1))).as("b"))
      .select(col("doc_id"), col("b").getField("0").as("w1"),
        col("b").getField("1").as("w2"))
    // (doc, bigram) counts are read three times (corpus counts, prefix
    // marginal, probability join) — persist caps the explode at one scan
    val dp = ManagedCache.persist(
      dp0.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("c_dab")))
    val bi = ManagedCache.persist(
      dp.groupBy("w1", "w2").agg(sum(col("c_dab")).as("c_ab")))
    val pre = bi.groupBy("w1").agg(sum(col("c_ab")).as("c_a"))
    dp.join(bi, Seq("w1", "w2")).join(pre, Seq("w1"))
      .withColumn("term_ll",
        col("c_dab").cast("double") *
          log(col("c_ab").cast("double") / col("c_a").cast("double")))
      .groupBy("doc_id")
      .agg(sum(col("c_dab")).as("n_bigrams"),
        round(-sum(col("term_ll")) /
          sum(col("c_dab")).cast("double"), 4).as("logloss"))
  }

  /** Apply an ORDERED merge list to a symbol-array column of `df` —
    * t21's training rewrite reused as the ENCODING step (same greedy
    * left-to-right `mergePair` semantics, same array_contains skip
    * guard). Each merge is STAGED through its own projection
    * (withColumn), never composed into one Column: the when/mergePair
    * step references its input array ~6 times, so inlining `merges.size`
    * steps into a single expression multiplies the tree by ~6 PER MERGE
    * (≈6^n nodes — 10 merges OOM'd the analyzer in exactly the way the
    * quantizeInt8 scaladoc warns about). Multiply-referenced non-cheap
    * aliases stay staged under CollapseProject, so the planned tree is
    * linear in the merge count; a production encoder with thousands of
    * merges additionally localCheckpoints every few hundred columns to
    * bound plan DEPTH. */
  def applyMerges(df: DataFrame, symsCol: String,
      merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(df) { case (d, (l, r)) =>
      d.withColumn(symsCol,
        when(array_contains(col(symsCol), l) &&
          array_contains(col(symsCol), r),
          mergePair(col(symsCol), l, r)).otherwise(col(symsCol)))
    }

  /** BPE ENCODING — the apply side of t21's trainer: tokenize the corpus
    * with a trained merge table and report per-doc subword cost
    * (doc_id, n_words, n_subwords, fertility). Fertility (subwords per
    * word) is THE signal a pretraining pipeline reads per document:
    * high-fertility docs are expensive to train on and usually
    * low-quality or wrong-language for the tokenizer.
    *
    * Scale shape at 100 TB — encode the VOCABULARY, not the corpus: the
    * corpus explodes once into (doc, word) counts (t18's td shape); the
    * merge folds — the only non-codegen work — run on the distinct-word
    * table (vocab-sized), and the per-word subword length joins back by
    * word key (planner-decided; a 10^8-term vocab bucket-joins). A naive
    * per-row encoder would run the interpreted fold over every token of
    * every document — 10^4× more fold evaluations on a typical corpus. */
  def bpeEncode(docsIn: DataFrame, merges: Seq[(String, String)])
      : DataFrame = {
    val docs = Dedup.spread(docsIn)
    val td = ManagedCache.persist(
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c")))
    val vocab = applyMerges(
      td.select(col("w")).distinct().withColumn("syms", split(col("w"), "")),
      "syms", merges)
      .withColumn("n_sub", size(col("syms")).cast("long"))
      .drop("syms")
    td.join(vocab, "w")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("n_sub")).as("n_subwords"))
      .withColumn("fertility",
        round(col("n_subwords").cast("double") /
          col("n_words").cast("double"), 4))
  }

  def mixtureWeights(docs: DataFrame, alpha: Double = 0.3): DataFrame = {
    val perSrc = ManagedCache.persist(
      Dedup.spread(docs).select(col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens")))
    val tot = perSrc.agg(
      sum(pow(col("n_tokens").cast("double"), lit(alpha))).as("z"),
      sum(col("n_tokens")).as("n_total"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(pow(col("n_tokens").cast("double"), lit(alpha)) / col("z"), 4)
          .as("weight"),
        round(pow(col("n_tokens").cast("double"), lit(alpha)) / col("z") *
          col("n_total").cast("double") / col("n_tokens").cast("double"), 4)
          .as("boost"))
  }

  /** Zipf-law fit over the vocabulary head: OLS slope/intercept of
    * ln(frequency) vs ln(rank) for the top-`topN` terms. A natural corpus
    * tracks slope ≈ −1; a flatter head (slope ≫ −1) flags synthetic or
    * templated text, and the fit extrapolates tail mass for vocab-size /
    * OOV-budget planning (pairs with t22's empirical coverage curve).
    * Shape at 100 TB: t07's explode → term partial-agg, TakeOrdered to
    * topN rows; the rank window and the regression fold run on that tiny
    * frame only — never a global sort or window over the vocabulary.
    * Returns one row (n_terms, slope, intercept); slope is SIGNED, so the
    * DuckDB oracle carries the −0.0 guard (t16 rule). */
  def zipfFit(docsIn: DataFrame, topN: Int): DataFrame = {
    val docs = Dedup.spread(docsIn)
    val terms = docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    // deterministic head: tie-break on term; the window ranks ONLY the
    // TakeOrdered topN frame (t22 precedent)
    val top = terms.orderBy(col("n").desc, col("term").asc).limit(topN)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("term").asc)))
    val pts = top.select(log(col("rank").cast("double")).as("x"),
      log(col("n").cast("double")).as("y"))
    // covar_pop/var_pop are order-dependent double folds — round(., 4)
    // absorbs the cross-engine summation-order jitter (t17 precedent);
    // both sides state slope/intercept with identical left-assoc shape
    pts.agg(count(lit(1)).as("n_terms"),
        covar_pop(col("y"), col("x")).as("sxy"),
        var_pop(col("x")).as("sxx"),
        avg(col("x")).as("mx"), avg(col("y")).as("my"))
      .select(col("n_terms"),
        round(col("sxy") / col("sxx"), 4).as("slope"),
        round(col("my") - col("sxy") / col("sxx") * col("mx"), 4)
          .as("intercept"))
  }

  /** Pairwise SOURCE-VOCABULARY overlap: Jaccard similarity of the
    * distinct-term sets of every source pair — the mixture diagnostic
    * that says which sources are near-duplicates of each other at the
    * vocabulary level (t17's KL says how far each source sits from the
    * blend; this says how far sources sit from EACH OTHER). Returns
    * (s1, s2, v1, v2, inter, jaccard) for s1 < s2.
    * Shape at 100 TB: ONE corpus explode → distinct (source, term) —
    * vocabulary-sized, not corpus-sized — then a self-equi-join on term
    * whose per-key multiplicity is bounded by the source count S, so the
    * join output is ≤ |V|·S²/2 rows collapsing into ≤ S² aggregate cells
    * with map-side combine. The per-source size table (S rows) is a
    * hinted broadcast. No window, no cartesian. */
  def sourceVocabOverlap(docsIn: DataFrame): DataFrame = {
    val docs = Dedup.spread(docsIn)
    // persisted: the vocab table feeds the size agg AND both join sides —
    // one corpus explode total (t17's single-scan discipline)
    val sv = ManagedCache.persist(
      docs.select(col("source"), explode(tokens(col("text"))).as("term"))
        .distinct())
    val sizes = sv.groupBy("source").agg(count(lit(1)).as("v"))
    val inter = sv.as("a").join(sv.as("b"),
        col("a.term") === col("b.term") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("s1"), col("v").as("v1"))),
        "s1")
      .join(broadcast(sizes.select(col("source").as("s2"), col("v").as("v2"))),
        "s2")
      .select(col("s1"), col("s2"), col("v1"), col("v2"), col("inter"),
        round(col("inter").cast("double") /
          (col("v1") + col("v2") - col("inter")).cast("double"), 4)
          .as("jaccard"))
  }
}

/** Text-analysis queries over the `documents` table (doc_id, text, lang,
  * source, n_chars — FIXTURES.md §B). All single-scan, per-row expression
  * work: no shuffle, trivially parallel at 100 TB. */
object TextQueries {

  // t38 injection payloads (zwsp+“ prefix; ”+NBSP+em-dash+BOM suffix),
  // shared between the Spark builder and the interpolated oracle so the
  // characters can never drift apart; sqlLit escapes for a DuckDB
  // single-quoted literal.
  /** t38's builder, shared VERBATIM by the s27 executed streaming gate
    * (the t19/s11 pattern: stateless per-row work is the property that
    * lets one definition run in both execution modes under one
    * oracle). */
  private[graft] def normalizePipeline(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .withColumn("__t2", when(col("doc_id") % 5 === 0,
        concat(lit(t38Pre), col("text"), lit(t38Post)))
        .otherwise(col("text")))
      .withColumn("__sp", regexp_replace(col("__t2"),
        s"[${TextFunctions.strippableChars}]", ""))
      .select(col("doc_id"),
        translate(col("__sp"), TextFunctions.foldedFromChars,
          TextFunctions.foldedToChars).as("clean_text"),
        (length(col("__t2")) - length(col("__sp"))).cast("long")
          .as("n_stripped"),
        (length(col("__sp")) - length(translate(col("__sp"),
          TextFunctions.foldedFromChars, ""))).cast("long")
          .as("n_folded"))

  private val t38Pre = "\u200B\u201C"
  private val t38Post = "\u201D\u00A0\u2014\uFEFF"
  private def sqlLit(s: String): String = s.replace("'", "''")

  /** Shared t19/s11 builder: inject deterministic doc_id-derived PII
    * (the corpus has none — a no-op redaction would gate nothing), then
    * count and redact. Stateless per-row work, which is exactly why s11
    * can run it under an APPEND-mode executed streaming gate. */
  private[graft] def piiScrubbed(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("__pt", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or call +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit(".17")))
      // the redacted text is staged so the 3-stage regexp tree runs once
      // per row even if codegen subexpression elimination is off (the
      // quantizeInt8 staging discipline); length + md5 then read the
      // attribute
      .withColumn("__ct", redactPii(col("__pt")))
      .select(col("doc_id"),
        regexp_count(col("__pt"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("__pt"), lit(phoneRe)).cast("long").as("n_phones"),
        regexp_count(col("__pt"), lit(ipv4Re)).cast("long").as("n_ips"),
        length(col("__ct")).cast("long").as("clean_len"),
        md5(col("__ct")).as("clean_md5"))

  /** The DuckDB twin of [[piiScrubbed]] — shared verbatim by t19 (batch)
    * and s11 (executed stream): one oracle, two execution modes. */
  // Mojibake fixtures for t31 (\u escapes keep the source ASCII):
  // "é" UTF-8 (C3 A9) re-decoded as Latin-1 → "Ã©"; "’" (E2 80 99) →
  // "â€™" (80/99 land on cp1252 € / ™); U+FFFD is the replacement char
  // a lossy decode leaves behind. Literal alternation only — identical
  // match semantics in Java regex and DuckDB's RE2.
  private val mojiAcute = "\u00C3\u00A9"
  private val mojiQuote = "\u00E2\u20AC\u2122"
  private val mojiRepl = "\uFFFD"
  private val mojiPattern =
    s"$mojiAcute|$mojiQuote|$mojiRepl"

  private[graft] val piiScrubOracle: String =
    """WITH p AS (SELECT doc_id, concat(text,
      |' contact user', CAST(doc_id AS VARCHAR),
      |'@mail.example.com or call +1-555-',
      |lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
      |' from 10.0.', CAST(doc_id % 256 AS VARCHAR), '.17') AS pt
      |FROM documents),
      |r AS (SELECT doc_id, regexp_replace(regexp_replace(
      |regexp_replace(pt,
      |'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |'\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
      |'([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS ct, pt FROM p)
      |SELECT doc_id,
      |CAST(len(regexp_extract_all(pt,
      |'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      |AS n_emails,
      |CAST(len(regexp_extract_all(pt,
      |'\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
      |CAST(len(regexp_extract_all(pt,
      |'([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
      |CAST(length(ct) AS BIGINT) AS clean_len,
      |md5(ct) AS clean_md5 FROM r"""
      .stripMargin.replace('\n', ' ')

  val queries: Seq[Q] = Seq(

    Q("t01_token_stats",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val toks = tokens(col("text"))
        docs.select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          tokenCountWs(col("text")).as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_uniq"))
      },
      Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
             |CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
             |CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) AS n_uniq
             |FROM documents""".stripMargin.replace('\n', ' ')),
      bench = true),

    Q("t02_token_count_bpe",
      (s, d) =>
        Tables.t(s, d, "documents").select(
          col("doc_id"),
          tokenCountBpe(col("text")).as("n_bpe")),
      Some("""SELECT doc_id,
             |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
             |FROM documents""".stripMargin.replace('\n', ' '))),

    Q("t03_stopword_quality",
      (s, d) => {
        val toks = tokens(col("text"))
        Tables.t(s, d, "documents").select(
          col("doc_id"),
          tokenCountWs(col("text")).as("n_tokens"),
          stopwordHits(toks, stopwords("en")).as("n_stop"),
          round(stopwordHits(toks, stopwords("en")).cast("double") /
            greatest(tokenCountWs(col("text")), lit(1L)), 4).as("stop_ratio"))
      },
      Some("""SELECT doc_id,
             |CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
             |CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |tk -> list_contains(['the','a','of','and','to','in','is','it','you','that'], tk))) AS BIGINT) AS n_stop,
             |round(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |tk -> list_contains(['the','a','of','and','to','in','is','it','you','that'], tk))) AS DOUBLE)
             |/ greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1), 4) AS stop_ratio
             |FROM documents""".stripMargin.replace('\n', ' '))),

    // Language-ID argmax: Spark side is array_max over struct(score, lang)
    // — max score, ties to the lexicographically GREATEST code. The oracle
    // states the same argmax as a nested CASE ordered zh > fr > es > en > de
    // with >= comparisons (each branch wins its ties against every
    // lexicographically smaller code). Accuracy on real prose is asserted
    // in TextSpec (the synthetic lang label is random w.r.t. the text).
    Q("t04_lang_id",
      (s, d) => {
        val toks = tokens(col("text"))
        Tables.t(s, d, "documents").select(
          col("doc_id"), col("lang"), langId(toks).as("lang_pred"))
      },
      Some {
        def hits(lang: String) = {
          val words = stopwords(lang).map(w => s"'$w'").mkString(",")
          s"len(list_filter(toks, tk -> list_contains([$words], tk)))"
        }
        """WITH tk AS (SELECT doc_id, lang,
          |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents)
          |SELECT doc_id, lang, CASE
          |WHEN @ZH@ >= @FR@ AND @ZH@ >= @ES@ AND @ZH@ >= @EN@ AND @ZH@ >= @DE@ THEN 'zh'
          |WHEN @FR@ >= @ES@ AND @FR@ >= @EN@ AND @FR@ >= @DE@ THEN 'fr'
          |WHEN @ES@ >= @EN@ AND @ES@ >= @DE@ THEN 'es'
          |WHEN @EN@ >= @DE@ THEN 'en' ELSE 'de' END AS lang_pred FROM tk"""
          .stripMargin.replace('\n', ' ')
          .replace("@ZH@", hits("zh")).replace("@FR@", hits("fr"))
          .replace("@ES@", hits("es")).replace("@EN@", hits("en"))
          .replace("@DE@", hits("de"))
      }),

    // xxhash64-based production fingerprint: rows-only (xxhash64 has no
    // DuckDB twin); the rolling-fold ARITHMETIC is hash-gated via t05b.
    Q("t05_fingerprint",
      (s, d) =>
        Tables.t(s, d, "documents").select(
          col("doc_id"), fingerprint(tokens(col("text"))).as("fp")),
      None),

    // t05b: the md5-composed twin of the same rolling fold under the FULL
    // hash gate (t10/p02's md5 precedent) — the per-token hash swaps from
    // xxhash64 to a 60-bit md5 prefix both engines compute identically;
    // the fold (acc*31 + h mod 1000003) mod 1e9+7 is byte-equal BIGINT
    // arithmetic on both sides. DuckDB list_reduce seeds with the first
    // element, which equals the Spark fold's first step from init 0.
    Q("t05b_fingerprint_md5",
      (s, d) =>
        Tables.t(s, d, "documents").select(
          col("doc_id"), fingerprintMd5(tokens(col("text"))).as("fp")),
      Some("""SELECT doc_id, list_reduce(
             |list_transform(string_split_regex(trim(lower(text)), '\s+'),
             |tk -> CAST(('0x' || substr(md5(tk),1,15)) AS BIGINT) % 1000003),
             |(acc, h) -> (acc * 31 + h) % 1000000007) AS fp
             |FROM documents"""
        .stripMargin.replace('\n', ' '))),

    // Oracle restates qualityScore's exact arithmetic (same literals, same
    // left-assoc blend order) so the unrounded doubles are IEEE-identical;
    // round(x, 4) then agrees bit-for-bit (t03's proven pattern).
    Q("t06_quality_score",
      (s, d) => {
        val toks = tokens(col("text"))
        Tables.t(s, d, "documents").select(
          col("doc_id"), qualityScore(col("text"), toks).as("quality"))
      },
      Some("""WITH b AS (SELECT doc_id,
             |CAST(length(text) AS DOUBLE) AS n_chars,
             |CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_toks,
             |CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
             |CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE) AS n_uniq
             |FROM documents)
             |SELECT doc_id, round(least(greatest(
             |least(n_toks / 20.0, 1.0) * 0.3
             |+ (n_alpha / greatest(n_chars, 1.0)) * 0.3
             |+ (n_uniq / greatest(n_toks, 1.0)) * 0.2
             |+ (CASE WHEN n_chars / greatest(n_toks, 1.0) BETWEEN 3.0 AND 12.0
             |THEN 1.0 ELSE 0.5 END) * 0.2,
             |0.0), 1.0), 4) AS quality FROM b""".stripMargin
        .replace('\n', ' '))),

    // Corpus vocabulary head: global term frequencies, deterministic
    // tie-break. Shape at 100 TB: explode + partial-agg groupBy on term —
    // the map-side combine absorbs the per-doc repetition, and the top-k
    // is a TakeOrdered, never a full sort to the driver.
    Q("t07_top_terms",
      (s, d) =>
        Tables.t(s, d, "documents")
          .select(explode(tokens(col("text"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("term").asc)
          .limit(50),
      Some("""WITH tok AS (SELECT
             |unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
             |FROM documents)
             |SELECT term, count(*) AS n FROM tok GROUP BY term
             |ORDER BY n DESC, term ASC LIMIT 50"""
        .stripMargin.replace('\n', ' '))),

    // Per-document TF-IDF top-3 terms. ONE corpus-scale explode: df
    // derives from the aggregated tf table (one row per (doc, term), so
    // rows-per-term IS distinct-docs-per-term) instead of a second
    // explode over the token stream. tf is PERSISTED (the d03 prep
    // pattern) because plan-level exchange reuse cannot fire here —
    // column pruning strips the count from the df branch, so the two tf
    // subtrees stop being canonically equal — and without the persist
    // the explode + (doc, term) shuffle runs twice (the pre-r12 shape;
    // TextSpec asserts the single-Generate plan). Ranking is the q25
    // window pattern ordered by the ROUNDED weight with a term
    // tie-break, so cross-engine float jitter in ln() cannot reorder
    // the cut. At 100 TB the df table is vocabulary-sized — still the
    // shape you want (df join broadcasts or bucketed-joins on term) —
    // and tf persists columnar with disk spill, exactly how a
    // production TF-IDF materializes its intermediate.
    Q("t08_tfidf_topk",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        // r18 (guide §2.4): tf is per-document — the native token_counts
        // map explodes into the same (doc, term, tf) rows the old
        // explode → groupBy(doc, term) exchange produced, zero shuffles
        // to build (t18's reasoning; content identical, cache unchanged).
        // NOT spread — measured slower here (t18's note): the text-column
        // exchange costs more than the per-row map work it parallelizes.
        val tf = ManagedCache.persist(
          docs.select(col("doc_id"),
            explode(TextExpressions.tokenCounts(tokens(col("text"))))
              .as(Seq("term", "tf"))))
        val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val nd = docs.agg(countDistinct("doc_id").as("nd"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("w").desc, col("term").asc)
        tf.join(dfq, "term")
          .crossJoin(broadcast(nd))
          .withColumn("w",
            round(col("tf") * log(col("nd").cast("double") / col("df")), 4))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select("doc_id", "term", "w", "rk")
      },
      Some("""WITH tok AS (SELECT doc_id,
             |unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
             |FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
             |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
             |wt AS (SELECT doc_id, term,
             |round(tf * ln(CAST(nd AS DOUBLE) / df), 4) AS w
             |FROM tf JOIN df USING (term) CROSS JOIN nd),
             |rk AS (SELECT doc_id, term, w,
             |row_number() OVER (PARTITION BY doc_id
             |ORDER BY w DESC, term ASC) AS rk FROM wt)
             |SELECT doc_id, term, w, rk FROM rk WHERE rk <= 3"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // Per-source length distribution — the pre-filter calibration stats a
    // corpus pipeline computes before choosing quality cutoffs. EXACT
    // interpolated percentiles (Spark `percentile` ≡ DuckDB
    // `quantile_cont`): one shuffle on the low-cardinality source key; at
    // 100 TB swap to approx_percentile (mergeable rank sketch, bounded
    // memory — its accuracy vs this exact form is asserted in TextSpec)
    // and drop the oracle, or pre-bin.
    Q("t09_length_percentiles",
      (s, d) =>
        Tables.t(s, d, "documents")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            round(percentile(col("n_chars"), lit(0.25)), 4).as("p25"),
            round(percentile(col("n_chars"), lit(0.5)), 4).as("p50"),
            round(percentile(col("n_chars"), lit(0.75)), 4).as("p75"),
            max(col("n_chars")).as("max_chars")),
      Some("""SELECT source, count(*) AS n_docs,
             |round(quantile_cont(n_chars, 0.25), 4) AS p25,
             |round(quantile_cont(n_chars, 0.5), 4) AS p50,
             |round(quantile_cont(n_chars, 0.75), 4) AS p75,
             |max(n_chars) AS max_chars
             |FROM documents GROUP BY source"""
        .stripMargin.replace('\n', ' '))),

    // Document CHUNKING for embedding/RAG pipelines: fixed-size character
    // windows (200 chars) with overlap (50), emitted as (doc_id, chunk_id,
    // chunk) rows. Pure per-row explode — no shuffle, trivially parallel;
    // the chunk table inherits the scan's partitioning, ready for the
    // embedding stage. Start offsets are 1, 151, 301, … up to the last
    // window that still reaches new text; the tail chunk is shorter.
    Q("t13_doc_chunking",
      (s, d) =>
        Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text"),
            posexplode(sequence(lit(1),
              greatest(length(col("text")) - 50, lit(1)), lit(150))))
          .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
            expr("substring(text, col, 200)").as("chunk"))
          .withColumn("chunk_len", length(col("chunk")).cast("long")),
      Some("""SELECT doc_id,
             |CAST((s - 1) // 150 AS BIGINT) AS chunk_id,
             |substring(text, CAST(s AS INTEGER), 200) AS chunk,
             |CAST(length(substring(text, CAST(s AS INTEGER), 200)) AS BIGINT)
             |AS chunk_len
             |FROM documents,
             |unnest(range(1, greatest(length(text) - 50, 1) + 1, 150)) t(s)"""
        .stripMargin.replace('\n', ' '))),

    // Gopher/FineWeb-style REPETITION signals — the quality rules that
    // catch boilerplate and degenerate generations: fraction of bigram
    // mass in the single most-repeated bigram, and fraction of trigram
    // occurrences that are repeats of an already-seen trigram. Shape:
    // explode → (doc, gram) partial-agg → (doc) agg — two shuffles, both
    // partial-aggregated map-side; at 100 TB identical to the tf stage of
    // t08. The exploded gram is its 64-bit shingle FOLD (native
    // shingle_hashes_all — every window, position order, codegen'd), not
    // the gram string: the signals only need COUNTS, an interpreted HOF
    // window transform was CodegenFallback, and carrying strings through
    // the exchange buys nothing. A within-doc hash collision (odds
    // ~n²/2⁶⁴) would merge two gram counts — the oracle computes exact
    // string grams, so the gate itself verifies no collision bit.
    Q("t14_repetition_signals",
      // r17 optimization (guide §2.4): both signals are PER-DOCUMENT
      // multiset statistics of the doc's own gram stream, so no shuffle is
      // fundamentally required — the native gram_stats reduction
      // (Kernels.gram_stats: one bounded hash-map pass per row over
      // the same shingle_hashes_all values) computes (top, n, distinct)
      // inside the scan, replacing two corpus-scale explodes, three
      // exchanges and a doc-keyed join with zero shuffles. Counts are
      // identical to the explode→groupBy form on the same hashes
      // (collision behavior included); driver hash gate re-proves t14.
      // sf0.1: 0.70 s → ~0.16 s, plan 2 explodes + 4 Exchange → 0.
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val toks = tokens(col("text"))
        def stats(n: Int) =
          TextExpressions.gramStats(TextExpressions.shingleHashesAll(toks, n))
        // r18 (advisor note): the old explode→groupBy→join form dropped
        // NULL-text docs (explode of a NULL gram list emits nothing), and
        // the oracle's unnest does the same — the per-row form must filter
        // them explicitly or a NULL-text corpus would emit (doc, NULL,
        // NULL) rows. No-op on the fixtures (text is non-null there).
        docs
          .filter(col("text").isNotNull)
          .select(col("doc_id"), stats(2).as("s2"), stats(3).as("s3"))
          .select(col("doc_id"),
            round(col("s2.top").cast("double") / col("s2.n"), 4)
              .as("top_bigram_frac"),
            round(lit(1.0) - col("s3.d").cast("double") / col("s3.n"), 4)
              .as("dup_trigram_frac"))
      },
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |g2 AS (SELECT doc_id, unnest(list_transform(
             |range(1, greatest(len(toks) - 1, 1) + 1),
             |i -> concat_ws(' ', toks[i], toks[i+1]))) AS g FROM tk),
             |g3 AS (SELECT doc_id, unnest(list_transform(
             |range(1, greatest(len(toks) - 2, 1) + 1),
             |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS g FROM tk),
             |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
             |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
             |a2 AS (SELECT doc_id, max(c) AS top2, CAST(sum(c) AS BIGINT) AS n2
             |FROM c2 GROUP BY 1),
             |a3 AS (SELECT doc_id, count(*) AS d3, CAST(sum(c) AS BIGINT) AS n3
             |FROM c3 GROUP BY 1)
             |SELECT doc_id,
             |round(CAST(top2 AS DOUBLE) / n2, 4) AS top_bigram_frac,
             |round(1.0 - CAST(d3 AS DOUBLE) / n3, 4) AS dup_trigram_frac
             |FROM a2 JOIN a3 USING (doc_id)"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // PHRASE MINING via pointwise mutual information: for each adjacent
    // bigram seen >= 5 times, PMI = ln(P(w1 w2) / (P(w1) P(w2))) — the
    // word2vec-preprocessing / collocation-detection primitive that
    // decides which token pairs a corpus pipeline should merge. Shape at
    // 100 TB: one explode → (w1, w2) partial-agg shuffle (map-side combine
    // absorbs per-doc repetition, exactly t08's tf stage) plus unigram
    // counts on the vocabulary key; the corpus-total tables are 1-row
    // broadcasts, while the unigram joins are left to the planner (a
    // web-scale vocabulary can exceed any broadcast ceiling). No window,
    // no driver materialization. Bigram pairs come from a slice-zip
    // per-row expression (positions i, i+1), never a self-join on
    // position.
    // Both engines state the PMI arithmetic with IDENTICAL left-assoc
    // parenthesization so the unrounded doubles are IEEE-identical
    // (t06's proven pattern); ln agrees cross-engine (t08 precedent).
    // NEGATIVE-ZERO RULE (round-5 post-mortem): any SIGNED rounded double
    // needs `round(...) + 0.0` on the DuckDB side. DuckDB's round keeps
    // the sign bit (a PMI in (-5e-5, 0) rounds to -0.0) while Spark's
    // Round goes through Java BigDecimal, which cannot represent -0.0 —
    // the values compare numerically equal but the driver's byte-level
    // hash distinguishes the zero signs. IEEE: -0.0 + 0.0 = +0.0, and
    // every other value is unchanged, so the guard is a no-op except on
    // the one hazardous bit. Applied to t16 (pmi), t17 (kl), t18
    // (logloss: -sum(+0.0) = -0.0), e01 (sim: cosine is signed).
    // tools/oracle_check.py flags negative zeros on either side.
    Q("t16_bigram_pmi",
      (s, d) => CorpusStats.bigramPmi(Tables.t(s, d, "documents"),
        minCount = 5),
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |pr AS (SELECT unnest(list_transform(
             |range(1, greatest(len(toks) - 1, 0) + 1),
             |i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS b FROM tk),
             |bi AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c_ab
             |FROM pr GROUP BY 1, 2),
             |n2 AS (SELECT count(*) AS n2 FROM pr),
             |un AS (SELECT unnest(toks) AS w FROM tk),
             |uni AS (SELECT w, count(*) AS c FROM un GROUP BY 1),
             |n1 AS (SELECT count(*) AS n1 FROM un)
             |SELECT w1, w2, c_ab,
             |round(ln((CAST(c_ab AS DOUBLE) * n1 * n1) /
             |(CAST(n2 AS DOUBLE) * ca * cb)), 4) + 0.0 AS pmi
             |FROM (SELECT bi.w1, bi.w2, bi.c_ab, u1.c AS ca, u2.c AS cb
             |FROM bi JOIN uni u1 ON bi.w1 = u1.w
             |JOIN uni u2 ON bi.w2 = u2.w WHERE bi.c_ab >= 5)
             |CROSS JOIN n1 CROSS JOIN n2"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // DATA-MIXING DRIFT: per-source KL divergence of the source's term
    // distribution from the corpus distribution — the diagnostic a
    // pretraining mixture pipeline reads before setting per-source
    // sampling weights (a source with high KL is distributionally far
    // from the blend). KL(s ‖ corpus) = Σ_t p_t ln(p_t / q_t) over terms
    // present in the source (p_t > 0; q_t > 0 whenever p_t > 0 since the
    // corpus contains the source). Shape at 100 TB: ONE corpus-scale
    // explode → (source, term) partial-agg shuffle; source totals, global
    // term counts, and the grand total all derive from that small
    // (sources × vocab) table, never from a second corpus scan. The final
    // per-source sum is a 5-row aggregate. Cross-engine double summation
    // order differs; round(., 4) absorbs it (q28/e04 precedent).
    Q("t17_source_drift",
      (s, d) => CorpusStats.sourceDrift(Tables.t(s, d, "documents")),
      Some("""WITH un AS (SELECT source,
             |unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             |FROM documents),
             |st AS (SELECT source, w, count(*) AS c_st FROM un GROUP BY 1, 2),
             |tot AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
             |FROM st GROUP BY 1),
             |gl AS (SELECT w, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
             |n AS (SELECT CAST(sum(c_st) AS BIGINT) AS n FROM st)
             |SELECT source, count(*) AS n_terms, max(n_s) AS n_tokens,
             |round(sum((CAST(c_st AS DOUBLE) / n_s) *
             |ln((CAST(c_st AS DOUBLE) * n) /
             |(CAST(n_s AS DOUBLE) * c_t))), 4) + 0.0 AS kl
             |FROM st JOIN tot USING (source) JOIN gl USING (w) CROSS JOIN n
             |GROUP BY source"""
        .stripMargin.replace('\n', ' '))),

    // CCNet-style perplexity-proxy filtering signal: per-doc cross-entropy
    // under the corpus unigram LM (see CorpusStats.unigramLogLoss for the
    // scale shape). Downstream pairs with p03's per-source percentile
    // calibration to cut distribution outliers.
    Q("t18_unigram_logloss",
      (s, d) => CorpusStats.unigramLogLoss(Tables.t(s, d, "documents")),
      Some("""WITH tok AS (SELECT doc_id,
             |unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             |FROM documents),
             |td AS (SELECT doc_id, w, count(*) AS c_td FROM tok GROUP BY 1, 2),
             |uni AS (SELECT w, CAST(sum(c_td) AS BIGINT) AS c_t
             |FROM td GROUP BY 1),
             |n AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM uni)
             |SELECT doc_id, CAST(sum(c_td) AS BIGINT) AS n_tokens,
             |round(-sum(CAST(c_td AS DOUBLE) * ln(CAST(c_t AS DOUBLE) / n))
             |/ CAST(sum(c_td) AS DOUBLE), 4) + 0.0 AS logloss
             |FROM td JOIN uni USING (w) CROSS JOIN n GROUP BY doc_id"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // PII DETECTION + REDACTION — the scrub step before tokenization.
    // The corpus is synthetic word-soup with no real PII, so the query
    // INJECTS deterministic doc_id-derived PII (one email, one phone,
    // one IPv4 per doc) before detecting/redacting: the gate then proves
    // the regex semantics and the three-stage replacement are
    // byte-identical cross-engine on text where the patterns actually
    // fire — a no-op redaction would gate nothing. Counts are cast to
    // long on the Spark side (regexp_count yields int; DuckDB len()
    // yields BIGINT). Per-row codegen'd regexp work, single scan, no
    // shuffle.
    // spread at the CALL SITE, not inside piiScrubbed: s11 feeds the same
    // builder a STREAMING frame, where a repartition would add a shuffle
    // to an otherwise stateless map-only pipeline
    Q("t19_pii_redaction",
      (s, d) => piiScrubbed(Dedup.spread(Tables.t(s, d, "documents"))),
      Some(piiScrubOracle),
      bench = true),

    // DATA-MIXING WEIGHTS: see [[CorpusStats.mixtureWeights]]. Pairs with
    // t17 (drift tells you WHICH sources diverge; this sets the sampling
    // temperature across them).
    Q("t20_mix_weights",
      (s, d) => CorpusStats.mixtureWeights(Tables.t(s, d, "documents")),
      Some("""WITH ps AS (SELECT source, count(*) AS n_docs,
             |CAST(sum(len(string_split_regex(trim(lower(text)), '\s+')))
             |AS BIGINT) AS n_tokens FROM documents GROUP BY source),
             |t AS (SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) AS z,
             |CAST(sum(n_tokens) AS BIGINT) AS n_total FROM ps)
             |SELECT source, n_docs, n_tokens,
             |round(pow(CAST(n_tokens AS DOUBLE), 0.3) / z, 4) AS weight,
             |round(pow(CAST(n_tokens AS DOUBLE), 0.3) / z *
             |CAST(n_total AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) AS boost
             |FROM ps CROSS JOIN t"""
        .stripMargin.replace('\n', ' '))),

    // VOCABULARY COVERAGE — the tokenizer-planning curve: what fraction
    // of all token OCCURRENCES the top-k most frequent terms cover
    // (k = 10/20/50). Decides vocab size / OOV budget before committing
    // to a tokenizer. Shape at 100 TB: t07's explode → term partial-agg,
    // then TakeOrdered down to the top 50 — the rank window runs on that
    // 50-row frame, NEVER a global window over the vocabulary (which
    // would sort every term into one task); the three k-thresholds are
    // tiny aggregates over the 50 rows, the corpus total is a 1-row
    // broadcast.
    Q("t22_vocab_coverage",
      (s, d) => {
        val terms = Dedup.spread(Tables.t(s, d, "documents"))
          .select(explode(tokens(col("text"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("n"))
        val total = terms.agg(sum(col("n")).as("n_total"))
        val top = terms.orderBy(col("n").desc, col("term").asc).limit(50)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("n").desc, col("term").asc)))
        Seq(10, 20, 50).map { k =>
          top.filter(col("rank") <= k)
            .agg(sum(col("n")).as("covered"))
            .select(lit(k).cast("long").as("k"), col("covered"))
        }.reduce(_.union(_))
          .crossJoin(broadcast(total))
          .select(col("k"), col("covered"),
            round(col("covered").cast("double") /
              col("n_total").cast("double"), 4).as("coverage"))
      },
      Some("""WITH tc AS (SELECT term, count(*) AS n FROM
             |(SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
             |AS term FROM documents) GROUP BY term),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM tc),
             |r AS (SELECT term, n, row_number() OVER
             |(ORDER BY n DESC, term ASC) AS rank FROM tc
             |QUALIFY rank <= 50)
             |SELECT CAST(k.k AS BIGINT) AS k,
             |CAST(sum(r.n) AS BIGINT) AS covered,
             |round(CAST(sum(r.n) AS DOUBLE) /
             |CAST(max(tot.n_total) AS DOUBLE), 4) AS coverage
             |FROM (VALUES (10), (20), (50)) k(k)
             |JOIN r ON r.rank <= k.k CROSS JOIN tot GROUP BY k.k"""
        .stripMargin.replace('\n', ' '))),

    // ZIPF FIT — see [[CorpusStats.zipfFit]]. Slope is SIGNED (≈ −1 on a
    // natural corpus) → the oracle carries the −0.0 guard; the
    // covar/var folds are order-dependent doubles → round(., 4) absorbs
    // (t17 precedent); arithmetic stated with identical left-assoc shape
    // on both sides.
    Q("t23_zipf_slope",
      (s, d) => CorpusStats.zipfFit(Tables.t(s, d, "documents"), topN = 100),
      Some("""WITH tc AS (SELECT term, count(*) AS n FROM
             |(SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
             |AS term FROM documents) GROUP BY term),
             |r AS (SELECT term, n, row_number() OVER
             |(ORDER BY n DESC, term ASC) AS rank FROM tc
             |QUALIFY rank <= 100),
             |p AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
             |ln(CAST(n AS DOUBLE)) AS y FROM r)
             |SELECT CAST(count(*) AS BIGINT) AS n_terms,
             |round(covar_pop(y, x) / var_pop(x), 4) + 0.0 AS slope,
             |round(avg(y) - covar_pop(y, x) / var_pop(x) * avg(x), 4) + 0.0
             |AS intercept FROM p"""
        .stripMargin.replace('\n', ' '))),

    // SOURCE-VOCABULARY OVERLAP — see [[CorpusStats.sourceVocabOverlap]].
    // jaccard is strictly positive (a pair only exists when inter >= 1)
    // so no −0.0 guard is needed on the rounded quotient.
    Q("t24_source_overlap",
      (s, d) => CorpusStats.sourceVocabOverlap(Tables.t(s, d, "documents")),
      Some("""WITH sv AS (SELECT DISTINCT source, term FROM
             |(SELECT source, unnest(string_split_regex(trim(lower(text)),
             |'\s+')) AS term FROM documents)),
             |sz AS (SELECT source, count(*) AS v FROM sv GROUP BY 1),
             |iv AS (SELECT a.source AS s1, b.source AS s2, count(*) AS inter
             |FROM sv a JOIN sv b ON a.term = b.term AND a.source < b.source
             |GROUP BY 1, 2)
             |SELECT s1, s2, z1.v AS v1, z2.v AS v2, inter,
             |round(CAST(inter AS DOUBLE) /
             |CAST(z1.v + z2.v - inter AS DOUBLE), 4) AS jaccard
             |FROM iv JOIN sz z1 ON iv.s1 = z1.source
             |JOIN sz z2 ON iv.s2 = z2.source"""
        .stripMargin.replace('\n', ' '))),

    // BPE vocabulary induction — see [[CorpusStats.bpeMerges]]. No SQL
    // oracle (the merge loop is iterative; a recursive-CTE twin would be
    // a different algorithm, not a check) → rows-only driver entry;
    // correctness is spec-asserted against the hand-computed merge
    // sequence of the classic Sennrich corpus, and the output is fully
    // deterministic (tie-break pinned).
    Q("t21_bpe_merges",
      (s, d) => CorpusStats.bpeMerges(Tables.t(s, d, "documents"),
        nMerges = 10),
      None),

    // BM25 keyword search — see [[CorpusStats.bm25TopK]] for the scale
    // shape and the rounded-before-sum determinism rule. The query-term
    // set is fixed (the driver compare needs one reproducible query);
    // a serving deployment parameterizes it per request.
    Q("t25_bm25_search",
      (s, d) => CorpusStats.bm25TopK(Tables.t(s, d, "documents"),
        terms = Seq("spark", "join", "vector"), k = 20),
      Some("""WITH docs AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks
             |FROM documents),
             |st AS (SELECT count(*) AS nd,
             |CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM docs),
             |hits AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
             |unnest(toks) AS w FROM docs),
             |tf AS (SELECT doc_id, dl, w, count(*) AS tf FROM hits
             |WHERE w IN ('spark', 'join', 'vector') GROUP BY 1, 2, 3),
             |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
             |ts AS (SELECT doc_id,
             |round(ln(1.0 + (CAST(nd AS DOUBLE) - df + 0.5) / (CAST(df AS
             |DOUBLE) + 0.5)) * ((CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
             |(CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
             |CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) /
             |CAST(nd AS DOUBLE))))), 4) AS ts
             |FROM tf JOIN dfq USING (w) CROSS JOIN st)
             |SELECT doc_id, count(*) AS n_hit,
             |round(sum(ts), 4) AS score FROM ts GROUP BY doc_id
             |ORDER BY score DESC, doc_id ASC LIMIT 20"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // Bigram-LM quality filter — see [[CorpusStats.bigramLogLoss]].
    Q("t26_bigram_logloss",
      (s, d) => CorpusStats.bigramLogLoss(Tables.t(s, d, "documents")),
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks
             |FROM documents),
             |pr AS (SELECT doc_id, unnest(list_transform(
             |range(1, greatest(len(toks) - 1, 0) + 1),
             |i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS b
             |FROM tk),
             |dp AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2,
             |count(*) AS c_dab FROM pr GROUP BY 1, 2, 3),
             |bi AS (SELECT w1, w2, CAST(sum(c_dab) AS BIGINT) AS c_ab
             |FROM dp GROUP BY 1, 2),
             |pre AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_a
             |FROM bi GROUP BY 1)
             |SELECT doc_id, CAST(sum(c_dab) AS BIGINT) AS n_bigrams,
             |round(-sum(CAST(c_dab AS DOUBLE) *
             |ln(CAST(c_ab AS DOUBLE) / CAST(c_a AS DOUBLE)))
             |/ CAST(sum(c_dab) AS DOUBLE), 4) + 0.0 AS logloss
             |FROM dp JOIN bi USING (w1, w2) JOIN pre USING (w1)
             |GROUP BY doc_id"""
        .stripMargin.replace('\n', ' '))),

    // BPE ENCODING (t21's apply side), through the PRODUCTION training
    // path: the model trains on the content-keyed 75% vocabulary sample
    // (`vocabSampleHex` — per-round driver pacing scales with the
    // sample, not the corpus vocabulary) and then encodes the FULL
    // corpus — see [[CorpusStats.bpeEncode]]. The 10-row merge-table
    // collect is MODEL readout (t21/IVF precedent), not a data collect.
    // Rows-only entry (the model comes from the iterative trainer,
    // which has no SQL twin); encode semantics are spec-asserted on the
    // hand-computed Sennrich segmentation, sample-vs-subcorpus training
    // equivalence by BpeSampleSpec, and the output is fully
    // deterministic (content-keyed sample, fixed tie-breaks).
    Q("t27_bpe_encode",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val merges = CorpusStats.bpeMerges(docs, nMerges = 10,
            vocabSampleHex = Some("c000"))
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        CorpusStats.bpeEncode(docs, merges)
      },
      None),

    // PER-DOC NOVELTY — the memorization-risk signal a training pipeline
    // reads next to d12's span detector: the fraction of a document's
    // distinct 8-grams that appear in NO other document (novelty = 1 −
    // shared/total). Low-novelty docs are near-copies or heavy
    // boilerplate; p02 applies the same idea cross-SPLIT, this applies
    // it per-doc corpus-wide. Shape at 100 TB: ONE scan → per-doc
    // distinct 8-gram hashes (native shingle_hashes, persisted — the
    // frame feeds both the df aggregate and the join), gram-df
    // partial-agg, one join on the gram key (planner-decided; d07's
    // inverted-index shape), per-doc count. Spark joins 64-bit gram
    // hashes; the oracle joins string grams (d07's hash↔string parity
    // argument). Ratio of exact integers + identical subtraction →
    // identical double, no −0.0 hazard (novelty ≥ 0 as +0.0).
    Q("t29_novelty",
      (s, d) => {
        val docs = Dedup.spread(Tables.t(s, d, "documents"))
        val dg = ManagedCache.persist(docs.select(col("doc_id"),
          explode(TextExpressions.shingleHashes(
            tokens(col("text")), 8)).as("g")))
        val dfq = dg.groupBy("g").agg(count(lit(1)).as("dfg"))
        dg.join(dfq, "g")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("dfg") > 1, 1L).otherwise(0L)).as("n_shared"))
          .withColumn("novelty",
            round(lit(1.0) -
              col("n_shared").cast("double") / col("n_grams"), 4))
      },
      Some("""WITH tk AS (SELECT doc_id,
             |string_split_regex(trim(lower(text)), '\s+') AS toks
             |FROM documents),
             |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |range(1, greatest(len(toks) - 7, 1) + 1),
             |i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
             |toks[i+4], toks[i+5], toks[i+6], toks[i+7])))) AS g FROM tk),
             |df AS (SELECT g, count(*) AS dfg FROM g GROUP BY 1)
             |SELECT doc_id, count(*) AS n_grams,
             |CAST(sum(CASE WHEN dfg > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |AS n_shared,
             |round(1.0 - CAST(sum(CASE WHEN dfg > 1 THEN 1 ELSE 0 END)
             |AS DOUBLE) / count(*), 4) AS novelty
             |FROM g JOIN df USING (g) GROUP BY doc_id"""
        .stripMargin.replace('\n', ' '))),

    // VOCABULARY-SIZE SKETCH: per-source distinct-term estimate via
    // HyperLogLog++ (`approx_count_distinct`, rsd 1%) next to the exact
    // token total. THE sketch swap t07/t22's exact vocabulary machinery
    // needs at 100 TB: HLL state is a fixed few-KB register set per
    // group, partial-aggregates map-side, and merges associatively —
    // no vocabulary-sized shuffle at all. The estimate is deterministic
    // (hash-based, no RNG) but implementation-specific, so the entry is
    // rows-only; TextSpec asserts the estimate lands within 3·rsd of the
    // exact count on the fixture.
    Q("t28_vocab_sketch",
      (s, d) =>
        Tables.t(s, d, "documents")
          .select(col("source"), explode(tokens(col("text"))).as("w"))
          .groupBy("source")
          .agg(approx_count_distinct(col("w"), rsd = 0.01)
            .as("vocab_approx"),
            count(lit(1)).as("n_tokens"))
          .orderBy("source"),
      None),

    // t28's audit gate (recall-audit pattern, error-bound flavor): the
    // HLL estimate is implementation-specific so t28 stays rows-only,
    // but |est − exact| / exact staying under 5% (looser than the
    // spec's 3·rsd so corpus drift can't false-alarm) IS checkable —
    // violations emit against an oracle-stated empty relation, so a
    // sketch regression flips the driver's row compare red. The exact
    // side is the vocabulary-sized distinct the sketch replaces at
    // 100 TB — audit-only, never the production path.
    Q("t28_hll_error_audit",
      (s, d) => {
        val tok = Tables.t(s, d, "documents")
          .select(col("source"), explode(tokens(col("text"))).as("w"))
        val est = tok.groupBy("source")
          .agg(approx_count_distinct(col("w"), rsd = 0.01).as("est"))
        val exact = tok.groupBy("source")
          .agg(countDistinct(col("w")).as("n_exact"))
        exact.join(est, "source")
          .select(col("source"), col("n_exact"), col("est"),
            round(abs(col("est") - col("n_exact")).cast("double") /
              col("n_exact"), 4).as("rel_err"))
          .filter(col("rel_err") > 0.05)
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS source,
             |CAST(NULL AS BIGINT) AS n_exact, CAST(NULL AS BIGINT) AS est,
             |CAST(NULL AS DOUBLE) AS rel_err WHERE 1=0"""
        .stripMargin.replace('\n', ' '))),

    // APPROX-PERCENTILE ERROR AUDIT — t28's audit-twin construction for
    // the QUANTILE sketch: t09's exact percentiles are the verify-side
    // answer, but at 100 TB the production plan swaps in
    // approx_percentile (GK/KLL-style sketch: fixed memory, map-side
    // partials, associative merge — no per-group sort). The sketch's
    // result is impl-specific, so it can never hash-gate directly; this
    // audit computes BOTH on the same column and emits a violation row
    // iff the approximation drifts beyond the documented bound (5% + 1
    // absolute, covering tiny groups). Oracle states the empty
    // violation relation — a sketch regression flips the driver red.
    Q("t09b_approx_percentile_audit",
      (s, d) => {
        val byGroup = Tables.t(s, d, "documents").groupBy("source")
          .agg(
            percentile_approx(col("n_chars"), lit(0.5), lit(100))
              .cast("double").as("approx"),
            expr("percentile(n_chars, 0.5)").as("exact"))
        byGroup
          .filter(abs(col("approx") - col("exact")) >
            col("exact") * 0.05 + 1)
          .select(col("source"), col("approx"), col("exact"))
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS source,
             |CAST(NULL AS DOUBLE) AS approx,
             |CAST(NULL AS DOUBLE) AS exact WHERE 1=0"""
        .stripMargin.replace('\n', ' '))),

    // FREQUENCY SPECTRUM (count-of-counts): how many vocabulary terms
    // occur exactly f times — the Good-Turing smoothing input and the
    // fastest corpus-health readout there is (a healthy natural corpus
    // shows a smooth Zipfian spectrum; bot/template floods spike one f).
    // Two partial-agg shuffles, both shrinking: term counts
    // (vocabulary-sized), then the spectrum (distinct-f-sized — tiny).
    // All-integer output.
    Q("t30_freq_spectrum",
      (s, d) =>
        Tables.t(s, d, "documents")
          .select(explode(tokens(col("text"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("freq"))
          .groupBy("freq").agg(count(lit(1)).as("n_terms")),
      Some("""WITH tok AS (SELECT
             |unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
             |FROM documents),
             |tf AS (SELECT term, count(*) AS freq FROM tok GROUP BY 1)
             |SELECT freq, count(*) AS n_terms FROM tf GROUP BY 1"""
        .stripMargin.replace('\n', ' '))),

    // MOJIBAKE / ENCODING-ARTIFACT DETECTION — the ingest-quality gate
    // every web-scale corpus needs: UTF-8-decoded-as-Latin-1 sequences
    // ("Ã©", "â€™") and replacement characters (U+FFFD) flag documents
    // that survived a broken decode. The synthetic corpus is clean, so
    // artifacts are INJECTED deterministically into the doc_id % 7 == 0
    // subset (t19's injected-PII rule: the detector must demonstrably
    // FIRE under the gate, and clean docs must stay unflagged). Literal
    // alternation only — no regex-class semantics to diverge across
    // engines. Per-row scan work + a tiny per-source agg.
    Q("t31_mojibake",
      (s, d) =>
        Tables.t(s, d, "documents")
          .withColumn("__mt", when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" caf" + mojiAcute + " it" +
              mojiQuote + "s " + mojiRepl)))
            .otherwise(col("text")))
          .select(col("source"),
            regexp_count(col("__mt"), lit(mojiPattern))
              .cast("long").as("n_bad"))
          .groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum((col("n_bad") > 0).cast("long")).as("n_flagged"),
            sum(col("n_bad")).as("n_artifacts")),
      Some(s"""WITH m AS (SELECT source, CASE WHEN doc_id % 7 = 0
             |THEN concat(text, ' caf$mojiAcute it${mojiQuote}s $mojiRepl')
             |ELSE text END AS mt FROM documents),
             |b AS (SELECT source, len(regexp_extract_all(mt,
             |'$mojiPattern')) AS n_bad FROM m)
             |SELECT source, count(*) AS n_docs,
             |CAST(sum(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |AS n_flagged,
             |CAST(sum(n_bad) AS BIGINT) AS n_artifacts
             |FROM b GROUP BY 1"""
        .stripMargin.replace('\n', ' '))),

    // PER-DOC WORD-DISTRIBUTION ENTROPY — the information-theoretic
    // diversity signal (Shannon entropy in bits over the doc's own token
    // frequencies). Complements t14's surface repetition ratios: a doc
    // cycling a small vocabulary scores low even when no single n-gram
    // repeats verbatim; uniform-over-types docs score log2(n_types).
    // Filtering on it catches keyword-stuffing / template spam that
    // length and stopword ratios miss. Shape: one explode → (doc, word)
    // partial-agg (t18's shuffle), per-doc totals from a second tiny
    // agg joined back doc-keyed (planner-decided), per-doc sum. Parity:
    // p = c/n is a ratio of exact ints → identical double; log2 agrees
    // cross-engine (t18's ln precedent); per-doc sums are hundreds of
    // terms → far inside the 4-dp round (t18's argument). Entropy >= 0
    // so no -0.0 hazard, but the +0.0 guard keeps the convention.
    // Residual risk class: the 4-dp-round argument is PROBABILISTIC
    // (verified no doc within 1e-9 of a .5 ulp boundary on this fixture),
    // unlike t25's rounded-before-sum rule which is exact by construction.
    // If a future sf bump flips this entry's hash, check for a boundary
    // doc before suspecting the engine.
    Q("t32_word_entropy",
      (s, d) => {
        val td = Dedup.spread(Tables.t(s, d, "documents"))
          .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        val dn = td.groupBy("doc_id").agg(sum(col("c")).as("n"))
        td.join(dn, "doc_id")
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            (round(-sum((col("c").cast("double") / col("n")) *
              log2(col("c").cast("double") / col("n"))), 4) + 0.0)
              .as("entropy"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             |FROM documents),
             |td AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
             |dn AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
             |FROM td GROUP BY 1)
             |SELECT td.doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             |count(*) AS n_types,
             |round(-sum((CAST(c AS DOUBLE) / n) *
             |log2(CAST(c AS DOUBLE) / n)), 4) + 0.0 AS entropy
             |FROM td JOIN dn USING (doc_id) GROUP BY td.doc_id"""
        .stripMargin.replace('\n', ' '))),

    // PER-DOMAIN CAP — the crawl-balancing primitive web-scale curation
    // runs before mixing (RefinedWeb/C4 shape: a handful of crawler-heavy
    // domains would otherwise dominate the corpus): parse the host out of
    // each document's URL, reduce it to a registered domain, and keep at
    // most `cap` docs per domain chosen by a content-keyed rank (t10's
    // md5 determinism: reproducible on any partitioning/layout, no RNG).
    // The corpus has no URL column, so the URL is CONSTRUCTED with a
    // doc_id-derived host (mm06's gate pattern) and parsed back with
    // Spark's real `parse_url` — the oracle states the host arithmetic
    // directly and never parses, so the entry hash-matches iff
    // parse_url + the last-2-labels domain reduction recover exactly
    // what was encoded. Registered-domain here is the 2-label heuristic;
    // production swaps in the public-suffix list — a broadcast lookup,
    // same plan. Scale: the rank<=cap filter plans as WindowGroupLimit
    // (each map task keeps <=cap rows per domain BEFORE the exchange),
    // so the domain shuffle carries O(cap x domains x tasks) rows, never
    // the corpus; no driver-side state.
    Q("t33_domain_cap",
      (s, d) => {
        val sel = col("doc_id") % 5
        val host = when(sel === 0, lit("news.example.com"))
          .when(sel === 1, lit("example.com"))
          .when(sel === 2, lit("blog.example.org"))
          .when(sel === 3, lit("data.example.org"))
          .otherwise(lit("example.net"))
        val url = concat(lit("https://"), host, lit("/doc/"),
          col("doc_id"), lit("?ref=crawl"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("domain").orderBy(md5(col("text")), col("doc_id"))
        Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text"), url.as("url"))
          .withColumn("h", expr("parse_url(url, 'HOST')"))
          .withColumn("domain",
            array_join(slice(split(col("h"), "\\."), -2, 2), "."))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 20)
          .select(col("doc_id"), col("domain"), col("rk"))
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

    // DSIR importance resampling weights — see [[CorpusStats.dsirWeights]]
    // for the construction and the 100 TB shape (one explode, 256-row
    // broadcast ratio table, one per-doc shuffle). The published
    // technique behind "pick raw web data that looks like the target
    // domain" corpus builds; pairs with t20 (source-level mixing) at the
    // document level.
    Q("t34_dsir_weights",
      (s, d) => CorpusStats.dsirWeights(Tables.t(s, d, "documents")),
      Some("""WITH sp AS (SELECT doc_id, text,
             |CASE WHEN substr(md5(text), 1, 4) < 'cccc' THEN 'train'
             |WHEN substr(md5(text), 1, 4) < 'e666' THEN 'val'
             |ELSE 'test' END AS split FROM documents),
             |tk AS (SELECT doc_id, split,
             |string_split_regex(trim(lower(text)), '\s+') AS toks FROM sp),
             |bg AS (SELECT doc_id, split,
             |unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
             |i -> substr(md5(concat_ws(' ', toks[i], toks[i+1])), 1, 2)))
             |AS bucket FROM tk),
             |rawc AS (SELECT bucket, count(*) AS c_r FROM bg
             |WHERE split = 'train' GROUP BY 1),
             |tgtc AS (SELECT bucket, count(*) AS c_t FROM bg
             |WHERE split = 'val' GROUP BY 1),
             |nr AS (SELECT CAST(sum(c_r) AS BIGINT) AS n_r FROM rawc),
             |nt AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t FROM tgtc),
             |r AS (SELECT COALESCE(rawc.bucket, tgtc.bucket) AS bucket,
             |ln(((COALESCE(c_t, 0) + 1) / CAST(n_t + 256 AS DOUBLE)) /
             |((COALESCE(c_r, 0) + 1) / CAST(n_r + 256 AS DOUBLE))) AS lr
             |FROM rawc FULL JOIN tgtc ON rawc.bucket = tgtc.bucket
             |CROSS JOIN nr CROSS JOIN nt),
             |pd AS (SELECT bg.doc_id, count(*) AS n_bigrams, sum(lr) AS w
             |FROM bg JOIN r USING (bucket) WHERE bg.split = 'train'
             |GROUP BY 1)
             |SELECT s.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams,
             |round(COALESCE(pd.w, 0.0), 4) + 0.0 AS logweight,
             |round(COALESCE(pd.w, 0.0), 4) > 0.0 AS selected
             |FROM sp s LEFT JOIN pd ON pd.doc_id = s.doc_id
             |WHERE s.split = 'train'"""
        .stripMargin.replace('\n', ' '))),

    // CCNET PERPLEXITY BUCKETS — the published head/middle/tail corpus
    // split (Wenzek et al. 2020): rank every document by its LM loss
    // (t18's gated unigram cross-entropy stands in for the Kneser-Ney
    // LM) and cut the corpus into thirds — 'head' trains, 'tail' is
    // usually dropped. The tertile cut is EXACT INTEGER arithmetic on
    // the global (logloss, doc_id) rank — 3·(r−1) vs n and 2n — so no
    // percentile-interpolation or ntile-remainder semantics can drift
    // cross-engine; ties on the 4-dp logloss break by doc_id, making
    // the bucket assignment fully deterministic. Scale note: the exact
    // global rank is the VERIFY-side construction (one single-partition
    // window pass over the per-doc frame — doc-count rows, not corpus
    // tokens); at 100 TB production replaces it with broadcast
    // sample-quantile thresholds (p03's calibration shape) and the
    // bucket column becomes a stateless per-row comparison.
    Q("t35_ppl_buckets",
      (s, d) => {
        val ll = CorpusStats.unigramLogLoss(Tables.t(s, d, "documents"))
        val all = Window.partitionBy()
        ll.withColumn("r",
            row_number().over(all.orderBy("logloss", "doc_id")).cast("long"))
          .withColumn("nn", count(lit(1)).over(all).cast("long"))
          .withColumn("bucket",
            when((col("r") - 1) * 3 < col("nn"), "head")
              .when((col("r") - 1) * 3 < col("nn") * 2, "middle")
              .otherwise("tail"))
          .select(col("doc_id"), col("n_tokens"), col("logloss"),
            col("bucket"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             |FROM documents),
             |td AS (SELECT doc_id, w, count(*) AS c_td FROM tok GROUP BY 1, 2),
             |uni AS (SELECT w, CAST(sum(c_td) AS BIGINT) AS c_t
             |FROM td GROUP BY 1),
             |n AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM uni),
             |ll AS (SELECT doc_id, CAST(sum(c_td) AS BIGINT) AS n_tokens,
             |round(-sum(CAST(c_td AS DOUBLE) * ln(CAST(c_t AS DOUBLE) / n))
             |/ CAST(sum(c_td) AS DOUBLE), 4) + 0.0 AS logloss
             |FROM td JOIN uni USING (w) CROSS JOIN n GROUP BY doc_id),
             |r AS (SELECT doc_id, n_tokens, logloss,
             |row_number() OVER (ORDER BY logloss, doc_id) AS r,
             |count(*) OVER () AS nn FROM ll)
             |SELECT doc_id, n_tokens, logloss,
             |CASE WHEN (r - 1) * 3 < nn THEN 'head'
             |WHEN (r - 1) * 3 < nn * 2 THEN 'middle'
             |ELSE 'tail' END AS bucket FROM r"""
        .stripMargin.replace('\n', ' '))),

    // LICENSE TAGGING — the compliance filter a code/document corpus
    // runs before anything trains (The Stack's license gate): detect the
    // license from the document text and tag redistributability. The
    // corpus is synthetic word-soup with no real headers, so the entry
    // INJECTS a deterministic doc_id-derived license preamble (t19's
    // PII-injection pattern: a no-op detector would gate nothing) and
    // detects it back with the phrase regexes a real tagger keys on —
    // the gate proves the regex dispatch and the permissive/copyleft
    // policy split are byte-identical cross-engine ON TEXT WHERE THE
    // PATTERNS FIRE. Detection order is fixed (MIT, Apache, GPL), so
    // the tag is deterministic even if the body ever matched a second
    // pattern. Per-row codegen'd regexp work, single scan, no shuffle.
    Q("t36_license_tag",
      (s, d) => {
        val v = col("doc_id") % 4
        val header = when(v === 0,
          lit("Permission is hereby granted, free of charge\n"))
          .when(v === 1,
            lit("Licensed under the Apache License, Version 2.0\n"))
          .when(v === 2,
            lit("GNU General Public License as published\n"))
          .otherwise(lit(""))
        val tagged = Tables.t(s, d, "documents")
          .select(col("doc_id"), concat(header, col("text")).as("t2"))
          .withColumn("license",
            when(col("t2").rlike("Permission is hereby granted"), "MIT")
              .when(col("t2")
                .rlike("Licensed under the Apache License, Version 2\\.0"),
                "Apache-2.0")
              .when(col("t2").rlike("GNU General Public License"),
                "GPL-3.0")
              .otherwise("unknown"))
        tagged.select(col("doc_id"), col("license"),
          col("license").isin("MIT", "Apache-2.0").as("permissive"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |CASE doc_id % 4
             |WHEN 0 THEN 'Permission is hereby granted, free of charge' ||
             |chr(10) || text
             |WHEN 1 THEN 'Licensed under the Apache License, Version 2.0' ||
             |chr(10) || text
             |WHEN 2 THEN 'GNU General Public License as published' ||
             |chr(10) || text
             |ELSE text END AS t2 FROM documents),
             |l AS (SELECT doc_id,
             |CASE WHEN regexp_matches(t2, 'Permission is hereby granted')
             |THEN 'MIT'
             |WHEN regexp_matches(t2,
             |'Licensed under the Apache License, Version 2\.0')
             |THEN 'Apache-2.0'
             |WHEN regexp_matches(t2, 'GNU General Public License')
             |THEN 'GPL-3.0' ELSE 'unknown' END AS license FROM t)
             |SELECT doc_id, license,
             |license IN ('MIT', 'Apache-2.0') AS permissive FROM l"""
        .stripMargin.replace('\n', ' '))),

    // EXACT HEAVY HITTERS under the hash gate — the two-phase
    // Misra-Gries-then-recount plan (see [[CorpusStats.heavyHitters]]).
    // The sketch phase only shapes the CANDIDATE set (provably a
    // superset, spec-asserted); the exact recount makes the output
    // deterministic, so the oracle is the plain threshold query the
    // operator answers without a full-vocabulary shuffle.
    Q("t37_heavy_hitters",
      (s, d) => CorpusStats.heavyHitters(Tables.t(s, d, "documents")),
      Some("""WITH tok AS (SELECT
             |unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
             |FROM documents),
             |tot AS (SELECT count(*) AS total FROM tok),
             |c AS (SELECT term, count(*) AS n FROM tok GROUP BY term)
             |SELECT term, n, total FROM c CROSS JOIN tot
             |WHERE n * 200 >= total"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // SENTENCE SEGMENTATION STATS under the hash gate — the
    // granularity between t01's word stats and t13's fixed chunks:
    // split on terminal-punctuation runs (no lookbehind — RE2 has
    // none, the cross-engine dialect rule), trim, drop empties, and
    // report per-doc sentence count, longest sentence, and exact
    // tokens-per-sentence. A punctuation-FREE doc is ONE sentence (the
    // whole text survives the split); NULL stats occur only for docs
    // that are empty or punctuation/whitespace-only — never 0/0.
    // Per-row HOF work, one scan; the per-sentence EXPLODE form (for
    // sentence-level dedup/packing) shares the same split expression.
    Q("t39_sentence_stats",
      (s, d) => {
        val segs = filter(
          transform(split(col("text"), "[.!?]+"), x => trim(x)),
          x => x =!= "")
        Tables.t(s, d, "documents")
          .withColumn("__segs", segs)
          .select(col("doc_id"),
            size(col("__segs")).cast("long").as("n_sentences"),
            when(size(col("__segs")) > 0,
              array_max(transform(col("__segs"), x => length(x)))
                .cast("long")).as("max_sent_chars"),
            when(size(col("__segs")) > 0,
              tokenCountWs(col("text")).cast("double") /
                size(col("__segs"))).as("avg_sent_toks"))
      },
      Some("""WITH s AS (SELECT doc_id,
             |list_filter(list_transform(
             |string_split_regex(text, '[.!?]+'), x -> trim(x)),
             |x -> x != '') AS segs,
             |len(string_split_regex(trim(lower(text)), '\s+')) AS n_toks
             |FROM documents)
             |SELECT doc_id, CAST(len(segs) AS BIGINT) AS n_sentences,
             |CAST(CASE WHEN len(segs) > 0 THEN
             |list_max(list_transform(segs, x -> length(x))) END
             |AS BIGINT) AS max_sent_chars,
             |CASE WHEN len(segs) > 0 THEN CAST(n_toks AS DOUBLE)
             |/ len(segs) END AS avg_sent_toks FROM s"""
        .stripMargin.replace('\n', ' '))),

    // READABILITY SCORING under the hash gate — the Flesch-Kincaid
    // grade as a curation signal (the educational-value/readability
    // filters of FineWeb-Edu-style pipelines run exactly this shape:
    // per-row counts → fixed formula → threshold): words from the
    // shared tokenizer, sentences from t39's terminal-punctuation
    // split (min 1 for punctuation-free docs), syllables from the
    // vowel-GROUP heuristic (regexp_count of [aeiouy]+ runs — a
    // documented approximation; a dictionary syllabifier swaps in as a
    // broadcast lookup with the same plan). The formula is written
    // with IDENTICAL operation order in both engines, so the rounded
    // grade hashes bit-for-bit; NULL for docs with no sentences
    // (empty/punctuation-only), never 0/0.
    Q("t40_readability",
      (s, d) => {
        val segs = filter(
          transform(split(col("text"), "[.!?]+"), x => trim(x)),
          x => x =!= "")
        Tables.t(s, d, "documents")
          .withColumn("__w", tokenCountWs(col("text")))
          .withColumn("__s", size(segs).cast("long"))
          .withColumn("__y",
            regexp_count(lower(col("text")), lit("[aeiouy]+"))
              .cast("long"))
          .select(col("doc_id"), col("__w").as("n_words"),
            col("__s").as("n_sentences"), col("__y").as("n_syllables"),
            when(col("__s") > 0 && col("__w") > 0,
              round(lit(0.39) * (col("__w").cast("double") / col("__s")) +
                lit(11.8) * (col("__y").cast("double") / col("__w")) -
                lit(15.59), 4)).as("fk_grade"))
      },
      Some("""WITH b AS (SELECT doc_id,
             |CAST(len(string_split_regex(trim(lower(text)), '\s+'))
             |AS BIGINT) AS n_words,
             |CAST(len(list_filter(list_transform(
             |string_split_regex(text, '[.!?]+'), x -> trim(x)),
             |x -> x != '')) AS BIGINT) AS n_sentences,
             |CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
             |AS BIGINT) AS n_syllables FROM documents)
             |SELECT doc_id, n_words, n_sentences, n_syllables,
             |CASE WHEN n_sentences > 0 AND n_words > 0 THEN
             |round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences) +
             |11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 4)
             |END AS fk_grade FROM b"""
        .stripMargin.replace('\n', ' '))),

    // UNICODE TEXT NORMALIZATION under the hash gate — the cleaning
    // stage that runs BEFORE tokenization so token/shingle keys are
    // stable across sources with different smart-quote/NBSP/zero-width
    // habits ([[TextFunctions.normalizeText]]). Invisibles and
    // typographic junk are INJECTED deterministically (t19/t31's rule:
    // the cleaner must demonstrably FIRE under the gate), the cleaned
    // TEXT itself is gated (not just counts), and both engines see the
    // IDENTICAL character values in pattern and payload — the shared
    // Scala constants are interpolated into the oracle, so no
    // escape-dialect divergence is possible. Per-row regexp_replace +
    // translate, one scan.
    Q("t38_text_normalize",
      (s, d) => normalizePipeline(Tables.t(s, d, "documents")),
      Some(normalizeOracle)),

    // CHAT-FORMAT VALIDATION under the hash gate — the schema/shape
    // check every instruction-tuning pipeline runs before a chat corpus
    // trains (strict user/assistant alternation, opens with user,
    // closes with assistant, no empty turns): the corpus has no chat
    // data, so conversations are CONSTRUCTED deterministically from
    // doc_id + the shared tokenizer (turn count 2·(1+doc_id%3), turn i
    // speaks tokens [((i−1)·3 mod 12)+1 ..+3) — always non-empty at
    // the corpus's ≥10-token floor) with two INJECTED violation arms
    // (t19's rule — a validator that never fires gates nothing):
    // doc_id%7=0 swaps turn 2 to a repeated 'user', doc_id%11=0 blanks
    // the final turn. The builder then round-trips the conversation
    // through to_json → from_json (the raw-payload path real chat data
    // arrives on), so the JSON encode/parse itself sits under the gate:
    // every downstream stat is computed from the PARSED array, and a
    // parse divergence flips the row hash red. Per-row HOF work, one
    // scan, no shuffle; at 100 TB this is a stateless map stage in
    // front of the dedup/packing stages (p13 composes it).
    Q("t41_chat_validate",
      (s, d) => chatParsed(Tables.t(s, d, "documents"))
        .select(col("doc_id"), col("n_turns"), col("n_role_repeats"),
          col("n_empty"), col("assistant_chars"), col("valid")),
      Some(chatTurnsOracle +
        """ SELECT doc_id, n_turns, n_role_repeats, n_empty,
          |assistant_chars, valid FROM chat_docs"""
          .stripMargin.replace('\n', ' '))),

    // TOKENIZER FERTILITY by language — the tokenizer-evaluation
    // readout every multilingual corpus report carries (chars and
    // whitespace words per BPE token, per language): a tokenizer whose
    // fertility balloons on some language under-serves it at a fixed
    // sequence-length budget, so this table drives vocabulary-size and
    // data-mixing decisions. Counts ride t01/t02's gated tokenizers;
    // the per-language ratios are ONE exact double division each at
    // readout (identical operand order cross-engine). Scale: per-row
    // codegen'd counting fused into the scan + a language-cardinality
    // partial agg — no shuffle carries anything corpus-sized.
    Q("t42_tokenizer_fertility",
      (s, d) => Tables.t(s, d, "documents")
        .select(col("lang"), length(col("text")).cast("long").as("ch"),
          tokenCountWs(col("text")).as("w"),
          tokenCountBpe(col("text")).as("b"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ch")).as("n_chars"), sum(col("b")).as("n_bpe"),
          sum(col("w")).as("n_words"))
        .select(col("lang"), col("n_docs"), col("n_chars"),
          col("n_bpe"), col("n_words"),
          (col("n_chars").cast("double") / col("n_bpe"))
            .as("chars_per_token"),
          (col("n_bpe").cast("double") / col("n_words"))
            .as("fertility")),
      Some("""WITH b AS (SELECT lang,
             |CAST(length(text) AS BIGINT) AS ch,
             |CAST(len(string_split_regex(trim(lower(text)), '\s+'))
             |AS BIGINT) AS w,
             |CAST(len(regexp_extract_all(text,
             |'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS b
             |FROM documents),
             |g AS (SELECT lang, count(*) AS n_docs,
             |CAST(sum(ch) AS BIGINT) AS n_chars,
             |CAST(sum(b) AS BIGINT) AS n_bpe,
             |CAST(sum(w) AS BIGINT) AS n_words FROM b GROUP BY lang)
             |SELECT lang, n_docs, n_chars, n_bpe, n_words,
             |CAST(n_chars AS DOUBLE) / n_bpe AS chars_per_token,
             |CAST(n_bpe AS DOUBLE) / n_words AS fertility FROM g"""
        .stripMargin.replace('\n', ' '))),

    // WINNOWING fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    // MOSS algorithm): per doc, char-5-gram hashes at every position;
    // over each window of 4 consecutive gram hashes keep the MINIMUM,
    // ties to the RIGHTMOST position; the distinct selected (pos, hash)
    // set is the fingerprint. Unlike t05's whole-doc rolling hash or
    // minhash's positionless sketch, winnowing is POSITION-AWARE with a
    // guarantee: any substring match of length ≥ w+k-1 = 8 chars shares
    // at least one fingerprint, at expected density 2/(w+1) of grams —
    // the local-similarity index plagiarism/clone detection builds on.
    // The min-with-rightmost-tie selection collapses to ONE window-min:
    // encode v = h·2^31 + (2^31-1-pos), so min v is (min h, max pos);
    // decode by div/mod. All integers on the shared md5 basis (d18's
    // 60-bit rule, folded to 32 bits so the encode can't overflow:
    // max v = (2^32-1)·2^31 + 2^31-1 = 2^63-1, exactly signed-64) —
    // bit-exact cross-engine. The 31-bit position field covers any
    // document Spark can hold (its strings cap at 2^31 bytes); the r12
    // 21-bit field silently corrupted the encode past ~2.1M chars, a
    // shared-formula bug the hash gate could not see (ADVICE r12).
    // Scale: the explode is O(chars), then one
    // doc_id shuffle for the pos-ordered window — running ROWS frame,
    // incrementally maintained; fingerprint output is ~2/(w+1) of gram
    // volume, the index you'd then band-join exactly like d07/d24.
    Q("t43_winnowing",
      (s, d) => {
        val win = Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(0, 3)
        Tables.t(s, d, "documents")
          .filter(length(col("text")) >= 5)
          .selectExpr("doc_id",
            "explode(transform(sequence(1, length(text) - 4), p -> " +
              "named_struct('pos', CAST(p AS BIGINT), " +
              "'h', CAST(conv(substring(md5(substring(text, p, 5)), " +
              "1, 15), 16, 10) AS BIGINT) % 4294967296))) AS g")
          .select(col("doc_id"), col("g.pos").as("pos"),
            col("g.h").as("h"))
          .select(col("doc_id"), col("pos"),
            count(lit(1)).over(win).as("n"),
            min(col("h") * 2147483648L +
              (lit(2147483647L) - col("pos"))).over(win).as("v"))
          .filter(col("n") === 4)
          .select(col("doc_id"),
            (lit(2147483647L) - (col("v") % 2147483648L)).as("pos"),
            expr("v DIV 2147483648").as("h"))
          .distinct()
      },
      Some("""WITH px AS (SELECT doc_id, text,
             |unnest(range(1, length(text) - 3)) AS p
             |FROM documents WHERE length(text) >= 5),
             |g AS (SELECT doc_id, CAST(p AS BIGINT) AS pos,
             |CAST(('0x' || substr(md5(substr(text, CAST(p AS INTEGER),
             |5)), 1, 15)) AS BIGINT) % 4294967296 AS h FROM px),
             |w AS (SELECT doc_id, pos, h, count(*) OVER fr AS n,
             |min(h * 2147483648 + (2147483647 - pos)) OVER fr AS v
             |FROM g
             |WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
             |ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
             |SELECT DISTINCT doc_id, 2147483647 - (v % 2147483648)
             |AS pos,
             |v // 2147483648 AS h FROM w WHERE n = 4"""
        .stripMargin.replace('\n', ' '))),

    // GOPHER QUALITY RULES (Rae et al. 2021, the MassiveText filter
    // set) — the published pretraining-corpus gate, each rule stated as
    // EXACT INTEGER arithmetic so no float threshold can tie-break
    // differently cross-engine: word count in [5, 100000] (floor
    // lowered from the paper's web-scale 50 so the fixture corpus
    // exercises both outcomes), mean word length in [3, 10] via
    // 3n ≤ Σlen ≤ 10n, symbol-to-word ratio < 0.1 via 10·sym < n
    // (sym = '#' chars + '...' occurrences), bullet-led lines < 90%
    // via 10·bullets < 9·lines, ellipsis-ended lines < 30% via
    // 10·ell < 3·lines, alphabetic-word fraction > 80% via
    // 10·alpha > 8·n, and ≥ 2 distinct required stop words. The entry
    // emits every per-rule flag plus the conjunction, so the gate
    // hashes the whole decision surface, not just the keep bit.
    // Scale: per-row HOF counting fused into the scan — no shuffle,
    // no UDF; the lines/words arrays never leave the row.
    Q("t45_gopher_rules",
      // r18 (guide step-2 per-task work / §4): every rule column used to
      // re-derive split(lower(trim(text))) itself — ~11 tokenizations per
      // row, because HOF roots are excluded from subexpression
      // elimination so nothing CSEs across columns. The arrays now
      // materialize ONCE in a preceding Project (CollapseProject keeps
      // the split since a non-cheap alias referenced more than once is
      // never inlined) and every rule reads the attribute. Pure
      // refactor: same expressions over the same arrays ('' matches no
      // stopword and no [a-z], so raw-vs-filtered choices are preserved
      // exactly as before).
      (s, d) => Tables.t(s, d, "documents")
        .selectExpr("doc_id", "text",
          "split(lower(trim(text)), '\\\\s+') AS __wsr",
          "split(text, '\\n') AS __ls")
        .selectExpr("doc_id", "text", "__wsr", "__ls",
          "filter(__wsr, x -> x != '') AS __ws")
        .selectExpr(
        "doc_id",
        "size(__ws) AS n_words",
        "aggregate(__ws, 0L, (a, x) -> a + length(x)) AS sum_len",
        "CAST(length(text) - length(replace(text, '#', '')) + " +
          "(length(text) - length(replace(text, '...', ''))) DIV 3 " +
          "AS BIGINT) AS n_sym",
        "size(__ls) AS n_lines",
        "size(filter(__ls, x -> " +
          "startswith(ltrim(x), '-') OR startswith(ltrim(x), '*'))) " +
          "AS n_bullet",
        "size(filter(__ls, x -> " +
          "endswith(rtrim(x), '...'))) AS n_ell",
        "size(filter(__wsr, " +
          "x -> x rlike '[a-z]')) AS n_alpha",
        "(CASE WHEN array_contains(__wsr," +
          " 'the') THEN 1 ELSE 0 END + " +
          "CASE WHEN array_contains(__wsr," +
          " 'data') THEN 1 ELSE 0 END + " +
          "CASE WHEN array_contains(__wsr," +
          " 'key') THEN 1 ELSE 0 END + " +
          "CASE WHEN array_contains(__wsr," +
          " 'row') THEN 1 ELSE 0 END + " +
          "CASE WHEN array_contains(__wsr," +
          " 'join') THEN 1 ELSE 0 END + " +
          "CASE WHEN array_contains(__wsr," +
          " 'fast') THEN 1 ELSE 0 END + " +
          "CASE WHEN array_contains(__wsr," +
          " 'slow') THEN 1 ELSE 0 END + " +
          "CASE WHEN array_contains(__wsr," +
          " 'a') THEN 1 ELSE 0 END) AS n_stop")
        .selectExpr("doc_id", "n_words", "sum_len", "n_sym", "n_lines",
          "n_bullet", "n_ell", "n_alpha", "n_stop",
          "n_words >= 5 AND n_words <= 100000 AS r_words",
          "3 * n_words <= sum_len AND sum_len <= 10 * n_words " +
            "AS r_meanlen",
          "10 * n_sym < n_words AS r_sym",
          "10 * n_bullet < 9 * n_lines AS r_bullet",
          "10 * n_ell < 3 * n_lines AS r_ell",
          "10 * n_alpha > 8 * n_words AS r_alpha",
          "n_stop >= 2 AS r_stop")
        .withColumn("keep", col("r_words") && col("r_meanlen") &&
          col("r_sym") && col("r_bullet") && col("r_ell") &&
          col("r_alpha") && col("r_stop")),
      Some("""WITH b AS (SELECT doc_id, text,
             |list_filter(string_split_regex(trim(lower(text)),
             |'\s+'), x -> x != '') AS ws,
             |string_split(text, chr(10)) AS ls FROM documents),
             |c AS (SELECT doc_id,
             |CAST(len(ws) AS INTEGER) AS n_words,
             |CAST(COALESCE(list_sum(list_transform(ws,
             |x -> length(x))), 0) AS BIGINT) AS sum_len,
             |CAST(length(text) - length(replace(text, '#', '')) +
             |(length(text) - length(replace(text, '...', ''))) // 3
             |AS BIGINT) AS n_sym,
             |CAST(len(ls) AS INTEGER) AS n_lines,
             |CAST(len(list_filter(ls, x -> starts_with(ltrim(x), '-')
             |OR starts_with(ltrim(x), '*'))) AS INTEGER) AS n_bullet,
             |CAST(len(list_filter(ls, x -> ends_with(rtrim(x), '...')))
             |AS INTEGER) AS n_ell,
             |CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
             |AS INTEGER) AS n_alpha,
             |CAST(CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END
             |+ CASE WHEN list_contains(ws, 'data') THEN 1 ELSE 0 END
             |+ CASE WHEN list_contains(ws, 'key') THEN 1 ELSE 0 END
             |+ CASE WHEN list_contains(ws, 'row') THEN 1 ELSE 0 END
             |+ CASE WHEN list_contains(ws, 'join') THEN 1 ELSE 0 END
             |+ CASE WHEN list_contains(ws, 'fast') THEN 1 ELSE 0 END
             |+ CASE WHEN list_contains(ws, 'slow') THEN 1 ELSE 0 END
             |+ CASE WHEN list_contains(ws, 'a') THEN 1 ELSE 0 END
             |AS INTEGER) AS n_stop FROM b)
             |SELECT doc_id, n_words, sum_len, n_sym, n_lines, n_bullet,
             |n_ell, n_alpha, n_stop,
             |n_words >= 5 AND n_words <= 100000 AS r_words,
             |3 * n_words <= sum_len AND sum_len <= 10 * n_words
             |AS r_meanlen,
             |10 * n_sym < n_words AS r_sym,
             |10 * n_bullet < 9 * n_lines AS r_bullet,
             |10 * n_ell < 3 * n_lines AS r_ell,
             |10 * n_alpha > 8 * n_words AS r_alpha,
             |n_stop >= 2 AS r_stop,
             |(n_words >= 5 AND n_words <= 100000) AND
             |(3 * n_words <= sum_len AND sum_len <= 10 * n_words) AND
             |10 * n_sym < n_words AND 10 * n_bullet < 9 * n_lines AND
             |10 * n_ell < 3 * n_lines AND 10 * n_alpha > 8 * n_words
             |AND n_stop >= 2 AS keep FROM c"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // CODE-vs-PROSE DETECTION (t47) — the corpus-routing decision every
    // pretraining mix makes (code gets its own dedup basis, quality
    // rules, and mix weight; running prose heuristics on code — or
    // vice versa — silently wrecks both). Heuristic = exact integer
    // counters only (the t45 discipline): punctuation density
    // (';', '{', '}', '='), code keywords on the lowercased text
    // (substring-occurrence via the replace trick — non-overlapping,
    // identical semantics cross-engine), and indented-line count
    // (4-space or tab). The corpus is MIXED by construction: doc_id%5
    // == 0 rows get a deterministic code snippet appended, so both
    // flag arms and the counter deltas sit under the hash gate.
    // is_code := n_kw >= 2 AND n_indent >= 2 — a conjunction of
    // integer comparisons, no float threshold anywhere. Scale: per-row
    // scan-fused counting, no shuffle, no UDF.
    Q("t47_code_detect",
      (s, d) => Tables.t(s, d, "documents")
        .selectExpr("doc_id",
          "CASE WHEN doc_id % 5 = 0 THEN concat(text, chr(10), " +
            "'def f(x):', chr(10), '    return x + 1;', chr(10), " +
            "'    y = {z: 1}') ELSE text END AS t")
        .selectExpr("doc_id", "t", "lower(t) AS lt")
        .selectExpr("doc_id",
          "CAST(size(split(t, chr(10))) AS BIGINT) AS n_lines",
          "CAST(length(t) - length(replace(t, ';', '')) AS BIGINT) " +
            "AS n_semi",
          "CAST(length(t) - length(replace(t, '{', '')) + length(t) " +
            "- length(replace(t, '}', '')) AS BIGINT) AS n_brace",
          "CAST(length(t) - length(replace(t, '=', '')) AS BIGINT) " +
            "AS n_eq",
          "CAST(size(filter(split(t, chr(10)), x -> " +
            "startswith(x, '    ') OR startswith(x, chr(9)))) " +
            "AS BIGINT) AS n_indent",
          "CAST((length(lt) - length(replace(lt, 'def ', ''))) DIV 4 " +
            "+ (length(lt) - length(replace(lt, 'class ', ''))) DIV 6 " +
            "+ (length(lt) - length(replace(lt, 'import ', ''))) DIV 7 " +
            "+ (length(lt) - length(replace(lt, 'return', ''))) DIV 6 " +
            "+ (length(lt) - length(replace(lt, 'function', ''))) DIV 8 " +
            "+ (length(lt) - length(replace(lt, '#include', ''))) DIV 8 " +
            "AS BIGINT) AS n_kw")
        .selectExpr("doc_id", "n_lines", "n_semi", "n_brace", "n_eq",
          "n_indent", "n_kw",
          "n_kw >= 2 AND n_indent >= 2 AS is_code"),
      Some("""WITH a AS (SELECT doc_id,
             |CASE WHEN doc_id % 5 = 0 THEN text || chr(10) ||
             |'def f(x):' || chr(10) || '    return x + 1;' || chr(10)
             ||| '    y = {z: 1}' ELSE text END AS t FROM documents),
             |b AS (SELECT doc_id, t, lower(t) AS lt FROM a),
             |c AS (SELECT doc_id,
             |CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
             |CAST(length(t) - length(replace(t, ';', '')) AS BIGINT)
             |AS n_semi,
             |CAST(length(t) - length(replace(t, '{', '')) + length(t)
             |- length(replace(t, '}', '')) AS BIGINT) AS n_brace,
             |CAST(length(t) - length(replace(t, '=', '')) AS BIGINT)
             |AS n_eq,
             |CAST(len(list_filter(string_split(t, chr(10)), x ->
             |starts_with(x, '    ') OR starts_with(x, chr(9))))
             |AS BIGINT) AS n_indent,
             |CAST((length(lt) - length(replace(lt, 'def ', ''))) // 4
             |+ (length(lt) - length(replace(lt, 'class ', ''))) // 6
             |+ (length(lt) - length(replace(lt, 'import ', ''))) // 7
             |+ (length(lt) - length(replace(lt, 'return', ''))) // 6
             |+ (length(lt) - length(replace(lt, 'function', ''))) // 8
             |+ (length(lt) - length(replace(lt, '#include', ''))) // 8
             |AS BIGINT) AS n_kw FROM b)
             |SELECT doc_id, n_lines, n_semi, n_brace, n_eq, n_indent,
             |n_kw, n_kw >= 2 AND n_indent >= 2 AS is_code FROM c"""
        .stripMargin.replace('\n', ' '))),

    // C4 LINE-LEVEL CLEANING (Raffel et al. 2020 §2.2) — the companion
    // to t45's doc-level Gopher gate: C4 filters LINES first (keep only
    // lines ending in terminal punctuation with >= 3 words that do not
    // mention 'javascript'), then drops whole pages on raw-text signals
    // ('{' = code, 'lorem ipsum' = placeholder) plus a >= 5 sentence
    // floor counted on the CLEANED text. The fixture corpus is
    // single-line prose with no terminal punctuation, so the corpus is
    // MIXED BY CONSTRUCTION (the t47 discipline): seven deterministic
    // lines are appended per doc — two always-dropped arms (terminal
    // punct missing / < 3 words), a doc_id%7 javascript arm, a %5
    // brace arm, a %11 lorem arm, and always-kept '.'/'!'/'?'/'"'
    // terminators — so every rule and both outcomes of each page flag
    // fire under the hash gate, which covers the reconstructed cleaned
    // text itself, not just the keep bit. All rules are exact
    // integer/string predicates (t45 discipline). Scale: per-row HOF
    // line filtering fused into the scan — the line array never leaves
    // the row; no shuffle, no UDF, whole-stage codegen.
    Q("t49_c4_line_rules",
      (s, d) => Tables.t(s, d, "documents")
        .selectExpr("doc_id",
          "concat(text, chr(10), " +
            "'Two words.', chr(10), " +
            "'no terminal punctuation on this line', chr(10), " +
            "CASE WHEN doc_id % 7 = 0 " +
            "THEN 'Please enable javascript to continue.' " +
            "ELSE 'Another good sentence appears right here!' END, " +
            "chr(10), " +
            "CASE WHEN doc_id % 5 = 0 THEN 'var x = {a: 1};' " +
            "ELSE 'Is this a question with many words?' END, " +
            "chr(10), " +
            "CASE WHEN doc_id % 11 = 0 " +
            "THEN 'Lorem ipsum dolor sit amet.' " +
            "ELSE 'The final line concludes the page today.' END, " +
            "chr(10), " +
            "'This line ends with a period and has words.', " +
            "chr(10), 'She said the cleaner works.\"') AS t")
        // r18 (t45 pattern): the line array splits once and both the
        // keep-filter and n_lines read the attribute
        .selectExpr("doc_id", "t", "split(t, chr(10)) AS __lines")
        .selectExpr("doc_id", "t", "__lines",
          "filter(__lines, x -> " +
            "(endswith(rtrim(x), '.') OR endswith(rtrim(x), '!') OR " +
            "endswith(rtrim(x), '?') OR endswith(rtrim(x), '\"')) " +
            "AND size(filter(split(trim(x), '\\\\s+'), " +
            "y -> y != '')) >= 3 " +
            "AND NOT contains(lower(x), 'javascript')) AS kept")
        .selectExpr("doc_id",
          "CAST(size(__lines) AS BIGINT) AS n_lines",
          "CAST(size(kept) AS BIGINT) AS n_kept",
          "array_join(kept, chr(10)) AS cleaned",
          "NOT contains(t, '{') AS r_brace",
          "NOT contains(lower(t), 'lorem ipsum') AS r_lorem")
        .selectExpr("doc_id", "n_lines", "n_kept", "cleaned",
          "r_brace", "r_lorem",
          "CAST(length(cleaned) - length(replace(cleaned, '.', '')) + " +
            "length(cleaned) - length(replace(cleaned, '!', '')) + " +
            "length(cleaned) - length(replace(cleaned, '?', '')) " +
            "AS BIGINT) AS n_sent")
        .selectExpr("doc_id", "n_lines", "n_kept", "cleaned",
          "r_brace", "r_lorem", "n_sent",
          "r_brace AND r_lorem AND n_kept >= 1 AND n_sent >= 5 " +
            "AS keep"),
      Some("""WITH t0 AS (SELECT doc_id, text || chr(10) ||
             |'Two words.' || chr(10) ||
             |'no terminal punctuation on this line' || chr(10) ||
             |CASE WHEN doc_id % 7 = 0
             |THEN 'Please enable javascript to continue.'
             |ELSE 'Another good sentence appears right here!' END ||
             |chr(10) ||
             |CASE WHEN doc_id % 5 = 0 THEN 'var x = {a: 1};'
             |ELSE 'Is this a question with many words?' END ||
             |chr(10) ||
             |CASE WHEN doc_id % 11 = 0
             |THEN 'Lorem ipsum dolor sit amet.'
             |ELSE 'The final line concludes the page today.' END ||
             |chr(10) ||
             |'This line ends with a period and has words.' ||
             |chr(10) || 'She said the cleaner works."' AS t
             |FROM documents),
             |a AS (SELECT doc_id, t,
             |list_filter(string_split(t, chr(10)), x ->
             |(ends_with(rtrim(x), '.') OR ends_with(rtrim(x), '!') OR
             |ends_with(rtrim(x), '?') OR ends_with(rtrim(x), '"')) AND
             |len(list_filter(string_split_regex(trim(x), '\s+'),
             |y -> y != '')) >= 3 AND
             |NOT contains(lower(x), 'javascript')) AS kept FROM t0),
             |b AS (SELECT doc_id,
             |CAST(len(string_split(t, chr(10))) AS BIGINT)
             |AS n_lines,
             |CAST(len(kept) AS BIGINT) AS n_kept,
             |COALESCE(array_to_string(kept, chr(10)), '') AS cleaned,
             |NOT contains(t, '{') AS r_brace,
             |NOT contains(lower(t), 'lorem ipsum') AS r_lorem
             |FROM a),
             |c AS (SELECT doc_id, n_lines, n_kept, cleaned, r_brace,
             |r_lorem,
             |CAST(length(cleaned) - length(replace(cleaned, '.', '')) +
             |length(cleaned) - length(replace(cleaned, '!', '')) +
             |length(cleaned) - length(replace(cleaned, '?', ''))
             |AS BIGINT) AS n_sent FROM b)
             |SELECT doc_id, n_lines, n_kept, cleaned, r_brace, r_lorem,
             |n_sent, r_brace AND r_lorem AND n_kept >= 1 AND
             |n_sent >= 5 AS keep FROM c"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // SPECIAL-TOKEN LEAKAGE SCAN (t50) — the hygiene gate every
    // pretraining pipeline runs before tokenization: web text
    // containing literal control tokens ('<|endoftext|>', chat-template
    // markers, instruction tags) silently corrupts training (the model
    // learns to emit stop tokens mid-document, or the tokenizer splits
    // documents at injected boundaries). The corpus is MIXED BY
    // CONSTRUCTION (t47 discipline): doc_id%4 arms inject one family
    // each ('<|endoftext|>' twice, '[INST]…[/INST]', '<|im_start|>'),
    // %4==3 stays clean — so every counter and both flag outcomes sit
    // under the gate. Counting is the replace-trick occurrence count
    // (non-overlapping, identical cross-engine), exact integers only.
    // Scale: per-row scan-fused string arithmetic, no shuffle, no UDF.
    Q("t50_special_tokens",
      (s, d) => Tables.t(s, d, "documents")
        .selectExpr("doc_id",
          "concat(text, " +
            "CASE WHEN doc_id % 4 = 0 " +
            "THEN ' <|endoftext|> tail <|endoftext|>' " +
            "WHEN doc_id % 4 = 1 THEN ' [INST] do a thing [/INST]' " +
            "WHEN doc_id % 4 = 2 THEN ' <|im_start|>user' " +
            "ELSE '' END) AS t")
        .selectExpr("doc_id",
          "CAST((length(t) - length(replace(t, '<|endoftext|>', ''))) " +
            "DIV 13 AS BIGINT) AS n_eot",
          "CAST((length(t) - length(replace(t, '[INST]', ''))) " +
            "DIV 6 AS BIGINT) AS n_inst",
          "CAST((length(t) - length(replace(t, '<|im_start|>', ''))) " +
            "DIV 12 AS BIGINT) AS n_im")
        .selectExpr("doc_id", "n_eot", "n_inst", "n_im",
          "n_eot + n_inst + n_im > 0 AS has_special"),
      Some("""WITH a AS (SELECT doc_id, text ||
             |CASE WHEN doc_id % 4 = 0
             |THEN ' <|endoftext|> tail <|endoftext|>'
             |WHEN doc_id % 4 = 1 THEN ' [INST] do a thing [/INST]'
             |WHEN doc_id % 4 = 2 THEN ' <|im_start|>user'
             |ELSE '' END AS t FROM documents),
             |c AS (SELECT doc_id,
             |CAST((length(t) - length(replace(t, '<|endoftext|>', '')))
             |// 13 AS BIGINT) AS n_eot,
             |CAST((length(t) - length(replace(t, '[INST]', '')))
             |// 6 AS BIGINT) AS n_inst,
             |CAST((length(t) - length(replace(t, '<|im_start|>', '')))
             |// 12 AS BIGINT) AS n_im FROM a)
             |SELECT doc_id, n_eot, n_inst, n_im,
             |n_eot + n_inst + n_im > 0 AS has_special FROM c"""
        .stripMargin.replace('\n', ' ')))
  )

  /** Shared t41/p13 builder: construct the deterministic conversation
    * per document, round-trip it through to_json → from_json, and
    * derive validation stats FROM THE PARSED ARRAY (so the JSON path is
    * itself under the gate). Returns one row per doc with doc_id,
    * n_turns, n_role_repeats, n_empty, assistant_chars, valid, and
    * first_user (the turn-1 content, p13's prompt-dedup key). */
  private[graft] def chatParsed(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = tokens(col("text"))
    val nTurns = (lit(2) * (lit(1) + col("doc_id") % 3)).cast("int")
    // role/content per 1-based turn index, the constructed ground truth
    def role(i: org.apache.spark.sql.Column) =
      when(col("doc_id") % 7 === 0 && i === 2, "user")
        .when(i % 2 === 1, "user").otherwise("assistant")
    def content(i: org.apache.spark.sql.Column) =
      when(col("doc_id") % 11 === 0 && i === col("__nt"), "")
        .otherwise(array_join(
          slice(col("__toks"), ((i - 1) * 3) % 12 + 1, lit(3)), " "))
    val convo = transform(sequence(lit(1), col("__nt")),
      i => struct(role(i).as("role"), content(i).as("content")))
    val schema = org.apache.spark.sql.types.DataType.fromDDL(
      "array<struct<role:string,content:string>>")
    val parsed = from_json(to_json(convo), schema).as("__c")
    val roles = transform(col("__c"), x => x.getField("role"))
    docs
      .withColumn("__toks", toks)
      .withColumn("__nt", nTurns)
      .withColumn("__c", parsed)
      .withColumn("__roles", roles)
      .select(
        col("doc_id"),
        size(col("__c")).cast("long").as("n_turns"),
        size(filter(
          zip_with(
            slice(col("__roles"), lit(1), size(col("__roles")) - 1),
            slice(col("__roles"), lit(2), size(col("__roles")) - 1),
            (a, b) => a === b),
          x => x)).cast("long").as("n_role_repeats"),
        size(filter(col("__c"),
          x => length(x.getField("content")) === 0)).cast("long")
          .as("n_empty"),
        aggregate(col("__c"), lit(0L),
          (acc, x) => acc + when(x.getField("role") === "assistant",
            length(x.getField("content")).cast("long")).otherwise(0L))
          .as("assistant_chars"),
        element_at(col("__roles"), 1).as("__r1"),
        element_at(col("__roles"), -1).as("__rn"),
        element_at(col("__c"), 1).getField("content").as("first_user"))
      .withColumn("valid",
        col("__r1") === "user" && col("__rn") === "assistant" &&
          col("n_role_repeats") === 0 && col("n_empty") === 0)
      .drop("__r1", "__rn")
  }

  /** The conversation construction + validation restated as DuckDB CTEs
    * ending in `chat_docs` (doc_id, n_turns, n_role_repeats, n_empty,
    * assistant_chars, first_user, valid) — shared by t41 and p13 so the
    * two gates can never drift from each other. */
  private[graft] lazy val chatTurnsOracle: String =
    """WITH tok AS (SELECT doc_id,
      |string_split_regex(trim(lower(text)), '\s+') AS toks
      |FROM documents),
      |base AS (SELECT doc_id, toks, 2*(1 + doc_id % 3) AS nt FROM tok),
      |turns AS (SELECT doc_id, nt, CAST(i AS BIGINT) AS i,
      |CASE WHEN doc_id % 7 = 0 AND i = 2 THEN 'user'
      |WHEN i % 2 = 1 THEN 'user' ELSE 'assistant' END AS role,
      |CASE WHEN doc_id % 11 = 0 AND i = nt THEN ''
      |ELSE array_to_string(
      |toks[(((i-1)*3) % 12)+1 : (((i-1)*3) % 12)+3], ' ') END AS content
      |FROM base, unnest(generate_series(1, nt)) AS u(i)),
      |rep AS (SELECT a.doc_id, count(*) AS n_role_repeats
      |FROM turns a JOIN turns b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |AND a.role = b.role GROUP BY 1),
      |agg AS (SELECT doc_id, nt,
      |sum(CASE WHEN role = 'assistant' THEN length(content) ELSE 0 END)
      |AS assistant_chars,
      |sum(CASE WHEN content = '' THEN 1 ELSE 0 END) AS n_empty,
      |max(CASE WHEN i = 1 THEN role END) AS r1,
      |max(CASE WHEN i = nt THEN role END) AS rn,
      |max(CASE WHEN i = 1 THEN content END) AS first_user
      |FROM turns GROUP BY 1, 2),
      |chat_docs AS (SELECT a.doc_id, CAST(a.nt AS BIGINT) AS n_turns,
      |CAST(coalesce(r.n_role_repeats, 0) AS BIGINT) AS n_role_repeats,
      |CAST(a.n_empty AS BIGINT) AS n_empty,
      |CAST(a.assistant_chars AS BIGINT) AS assistant_chars,
      |a.first_user,
      |(a.r1 = 'user' AND a.rn = 'assistant'
      |AND coalesce(r.n_role_repeats, 0) = 0 AND a.n_empty = 0) AS valid
      |FROM agg a LEFT JOIN rep r USING (doc_id))"""
      .stripMargin.replace('\n', ' ')

  /** t38's oracle, shared verbatim by the s27 executed streaming gate
    * — one oracle, two execution modes (the t19/s11 precedent). */
  private[graft] lazy val normalizeOracle: String =
    s"""WITH m AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
       |THEN '${sqlLit(t38Pre)}' || text || '${sqlLit(t38Post)}'
       |ELSE text END AS t2 FROM documents),
       |st AS (SELECT doc_id, t2, regexp_replace(t2,
       |'[${sqlLit(TextFunctions.strippableChars)}]', '', 'g')
       |AS sp FROM m)
       |SELECT doc_id,
       |translate(sp, '${sqlLit(TextFunctions.foldedFromChars)}',
       |'${sqlLit(TextFunctions.foldedToChars)}') AS clean_text,
       |CAST(length(t2) - length(sp) AS BIGINT) AS n_stripped,
       |CAST(length(sp) - length(translate(sp,
       |'${sqlLit(TextFunctions.foldedFromChars)}', '')) AS BIGINT)
       |AS n_folded FROM st"""
      .stripMargin.replace('\n', ' ')
}
