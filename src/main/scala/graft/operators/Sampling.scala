package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and dataset splitting for training pipelines.
  *
  * Both operators key on a CONTENT hash prefix (md5 — available and
  * byte-identical in the DuckDB oracle, unlike xxhash64), compared as a
  * fixed-width lowercase hex string: lexicographic order equals numeric
  * order, so `prefix < 'cccc'` is an exact 0xcccc/0x10000 ≈ 80% cut.
  *
  * Why this beats `df.sample` / `rand()` at 100 TB:
  *  - REPRODUCIBLE: the same row lands on the same side of the cut on any
  *    cluster shape, partition layout, or rerun — `df.sample` re-draws
  *    when partitioning changes, `rand()` re-draws per execution.
  *  - LEAKAGE-FREE under duplication: keying on content (not row id) puts
  *    byte-identical duplicate documents in the SAME split, so a test set
  *    never contains a copy of a training document.
  *  - One scan, no shuffle: the split is a per-row expression; writing
  *    out splits is a partitioned write on the split column.
  */
object Sampling {

  private def hexPrefix(key: Column): Column = substring(md5(key), 1, 4)

  /** Keep rows whose content-hash prefix falls below `hexThreshold`
    * (4 lowercase hex digits; fraction kept ≈ 0x<threshold>/0x10000). */
  def deterministicSample(key: Column, hexThreshold: String): Column =
    hexPrefix(key) < lit(hexThreshold)

  /** 3-way split column: 'train' below `trainTo`, 'val' below `valTo`,
    * else 'test' (e.g. 'cccc'/'e666' ≈ 80/10/10). */
  def deterministicSplit(
      key: Column,
      trainTo: String = "cccc",
      valTo: String = "e666"): Column = {
    val p = hexPrefix(key)
    when(p < lit(trainTo), "train")
      .when(p < lit(valTo), "val")
      .otherwise("test")
  }

  /** STRATIFIED deterministic sampling — per-stratum keep rates, the
    * data-mixing primitive (downsample the dominant language / source,
    * keep the rare ones whole) every pretraining corpus build needs.
    * `rates` maps a stratum value to its 4-hex-digit threshold
    * (kept fraction ≈ 0x<threshold>/0x10000); unlisted strata use
    * `default`. To keep a stratum WHOLE pass `"fffff"` (5 chars —
    * lexicographically above every 4-hex prefix including `"ffff"`
    * itself, which `"ffff"` alone would drop ~1/65536 of). Same
    * contract as [[deterministicSample]]: content-keyed,
    * so the decision is reproducible on any cluster shape and duplicate
    * documents land on the same side of every stratum's cut — and still
    * one scan, no shuffle, per-row expression only. */
  def stratifiedSample(
      key: Column,
      stratum: Column,
      rates: Map[String, String],
      default: String = "ffff"): Column = {
    val p = hexPrefix(key)
    rates.toSeq.sortBy(_._1)
      .foldLeft(null: Column) { case (acc, (value, threshold)) =>
        val cond = stratum === lit(value)
        if (acc == null) when(cond, p < lit(threshold))
        else acc.when(cond, p < lit(threshold))
      } match {
      case null => p < lit(default)
      case chain => chain.otherwise(p < lit(default))
    }
  }

  /** Exact-N-per-stratum EVAL-SET sampling — "take exactly 50 docs per
    * language, deterministically": rank rows within each stratum by
    * content hash (layout-free, reproducible; `idCol` tie-breaks
    * byte-identical duplicates) and keep rank <= n.
    *
    * Scale: `rank <= n` over a window is exactly what Spark plans as
    * WindowGroupLimit — each map task locally keeps at most n rows per
    * stratum BEFORE the exchange (spec-asserted), so the shuffle carries
    * O(strata × n × partitions) rows, not the corpus. No pre-filter
    * needed; this is the same rank-limit pushdown shape as q25. */
  def evalSample(
      df: org.apache.spark.sql.DataFrame,
      stratum: Column,
      key: Column,
      idCol: Column,
      n: Int): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum).orderBy(md5(key), idCol)
    df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= n)
  }

  /** Token-budget SEQUENCE PACKING — assign each document to a shard of
    * ~`budgetTokens` tokens (the pretraining step that fills fixed-length
    * contexts without truncating mid-corpus). Documents hash into
    * `buckets` independent packing lanes on `idCol` (deterministic,
    * layout-free); within a lane they order by `idCol` and a running
    * token sum opens a new shard each time the budget fills: a document's
    * shard is `floor(preceding-tokens / budget)` — first-fit in arrival
    * order, never splitting a document.
    *
    * Scale: ONE shuffle on the lane key, then an O(n) incremental running
    * frame per lane (the same shape as sessionization) — no global sort,
    * no driver loop. Lanes are independent, so parallelism = `buckets`;
    * size it to the cluster (at 100 TB, thousands of lanes) and each
    * lane's window stays executor-local. Shard ids are (bucket, shard) —
    * globally unique without any cross-lane coordination. */
  def packIntoShards(
      docs: org.apache.spark.sql.DataFrame,
      tokenCount: Column,
      idCol: Column,
      budgetTokens: Long,
      buckets: Int): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    docs
      .withColumn("bucket", pmod(idCol, lit(buckets.toLong)).cast("int"))
      .withColumn("n_tokens", tokenCount)
      .withColumn("shard_id",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) /
          lit(budgetTokens)).cast("long"))
  }
}

/** Driver-facing sampling queries over `documents`. */
object SamplingQueries {

  /** row_number over a frame BOUNDED BY CONSTRUCTION (tens of rows —
    * i.e. downstream of a top-k limit): collect the frame into ONE
    * sorted array and posexplode, rank = position + 1. Window-FREE: a
    * global `row_number()` plans as an unpartitioned WindowExec, which
    * logs the "No Partition Defined" scale warning on every execution
    * (212 per bench battery from p15 alone, r13 verdict item 3) even
    * though the frame is bounded; a constant partition key does not
    * help — Catalyst folds foldable keys out of the partition spec and
    * the warning fires anyway (verified on 4.1.2). The single-row
    * collect_list pays the same one-partition pass the window paid,
    * and only ever sees the bounded frame — NEVER use this on an
    * unbounded input. Ordering = (`descCol` DESC, `idCol` ASC), the
    * exact window spec it replaces; `descCol` must be non-null (it is
    * negated for the ascending array sort), `idCol` unique in-frame. */
  private def rankBounded(
      df: DataFrame, descCol: String, idCol: String,
      rankName: String): DataFrame =
    df.agg(sort_array(collect_list(struct(
        struct(negate(col(descCol)), col(idCol)).as("_k"),
        struct(df.columns.map(col): _*).as("_r")))).as("_a"))
      .select(posexplode(col("_a")).as(Seq("_p", "_e")))
      .select(df.columns.map(c => col(s"_e._r.$c")) :+
        (col("_p") + 1).as(rankName): _*)
  val queries: Seq[Q] = Seq(

    // Reproducible 80/10/10 content-keyed split, summarized per (lang,
    // split) so the oracle hashes the full assignment.
    Q("t10_det_split",
      (s, d) =>
        Tables.t(s, d, "documents")
          .withColumn("split", Sampling.deterministicSplit(col("text")))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n"),
            min(col("doc_id")).as("min_doc")),
      Some("""SELECT lang,
             |CASE WHEN substr(md5(text), 1, 4) < 'cccc' THEN 'train'
             |WHEN substr(md5(text), 1, 4) < 'e666' THEN 'val'
             |ELSE 'test' END AS split,
             |count(*) AS n, min(doc_id) AS min_doc
             |FROM documents GROUP BY 1, 2"""
        .stripMargin.replace('\n', ' '))),

    // Data mixing: downsample dominant 'en' to ~1/4, keep 'de' whole,
    // everything else at ~3/4 — per-(lang, source) counts of the KEPT set
    // so the oracle hashes the whole stratified decision surface.
    Q("t11_stratified_sample",
      (s, d) =>
        Tables.t(s, d, "documents")
          .filter(Sampling.stratifiedSample(col("text"), col("lang"),
            Map("en" -> "4000", "de" -> "fffff"), default = "c000"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc")),
      Some("""SELECT lang, source, count(*) AS n, min(doc_id) AS min_doc
             |FROM documents
             |WHERE CASE WHEN lang = 'de' THEN substr(md5(text),1,4) < 'fffff'
             |WHEN lang = 'en' THEN substr(md5(text),1,4) < '4000'
             |ELSE substr(md5(text),1,4) < 'c000' END
             |GROUP BY 1, 2"""
        .stripMargin.replace('\n', ' '))),

    // Deterministic 50-per-language eval set; the full kept assignment
    // (incl. ranks) is hashed by the oracle.
    Q("t15_eval_sample",
      (s, d) =>
        Sampling.evalSample(Tables.t(s, d, "documents"),
          col("lang"), col("text"), col("doc_id"), n = 50)
          .select("doc_id", "lang", "rk"),
      Some("""SELECT doc_id, lang, rk FROM (SELECT doc_id, lang,
             |CAST(row_number() OVER (PARTITION BY lang
             |ORDER BY md5(text), doc_id) AS BIGINT) AS rk
             |FROM documents) WHERE rk <= 50"""
        .stripMargin.replace('\n', ' '))),

    // Sequence packing: per-document (bucket, shard) assignment at a
    // 4096-token budget across 16 lanes; the full assignment is
    // deterministic, so the oracle hashes every row of it.
    Q("t12_token_packing",
      (s, d) =>
        Sampling.packIntoShards(
          Tables.t(s, d, "documents"),
          TextFunctions.tokenCountWs(col("text")),
          col("doc_id"), budgetTokens = 4096L, buckets = 16)
          .select("doc_id", "bucket", "n_tokens", "shard_id"),
      Some("""WITH t AS (SELECT doc_id,
             |CAST(doc_id % 16 AS INTEGER) AS bucket,
             |CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
             |AS n_tokens FROM documents)
             |SELECT doc_id, bucket, n_tokens,
             |CAST(floor(COALESCE(sum(n_tokens) OVER (PARTITION BY bucket
             |ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
             |1 PRECEDING), 0) / 4096) AS BIGINT) AS shard_id
             |FROM t"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // REPRODUCIBLE EPOCH SHUFFLE — the training-order primitive every
    // large-scale run needs (MosaicML-streaming / T5-style): each epoch
    // draws its global order from md5(epoch:doc_id), a SEEDED,
    // content-independent key, so (a) every rerun/cluster shape
    // produces the SAME order (no RNG state), (b) a mid-epoch resume
    // recomputes any row's (shard, rank) from its id alone, and (c)
    // epochs decorrelate (epoch is in the key). Output is the complete
    // assignment — (doc_id, epoch, shard, rk) — so the gate hashes the
    // entire order, not a summary. Scale: ONE exchange on
    // (epoch, shard) + an in-shard sort by the 16-byte key; shards
    // sized to the reader fleet, no global sort, no driver state.
    Q("t44_epoch_shuffle",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("epoch", "shard").orderBy("k", "doc_id")
        Tables.t(s, d, "documents")
          .select(col("doc_id"),
            explode(sequence(lit(0), lit(1))).as("epoch"))
          .withColumn("k", md5(concat(col("epoch").cast("string"),
            lit(":"), col("doc_id").cast("string"))))
          .withColumn("shard",
            conv(substring(col("k"), 1, 15), 16, 10).cast("long") % 4)
          .withColumn("rk", row_number().over(w).cast("long"))
          .select("doc_id", "epoch", "shard", "rk")
      },
      Some("""WITH e AS (SELECT doc_id, unnest(range(0, 2)) AS ep
             |FROM documents),
             |k AS (SELECT doc_id, CAST(ep AS INTEGER) AS epoch,
             |md5(CAST(ep AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
             |AS k FROM e),
             |s AS (SELECT doc_id, epoch, k,
             |CAST(('0x' || substr(k, 1, 15)) AS BIGINT) % 4 AS shard
             |FROM k)
             |SELECT doc_id, epoch, shard,
             |CAST(row_number() OVER (PARTITION BY epoch, shard
             |ORDER BY k, doc_id) AS BIGINT) AS rk FROM s"""
        .stripMargin.replace('\n', ' '))),

    // p14: TRAIN-READY SHARD EXPORT — the last mile of a training-data
    // pipeline, composing three gated primitives into one physical
    // artifact: t44's seeded global order (md5(0:doc_id) → 8 shards),
    // t12's token-budget packing WITHIN each shard in that order
    // (running ws-token sum → chunk = floor(prev_cum / 4096); a chunk
    // is one training-file's worth), and io03's layout proof — the
    // assignment WRITES as shard-partitioned parquet and the gated
    // readout aggregates what was READ BACK from disk, so file
    // round-trip losslessness is inside the gate, not assumed. One
    // oracle restates order, packing, and manifest arithmetic
    // together. Scale: one (shard) exchange + per-shard sort by the
    // hash key; the write is the partitioned-layout write every
    // shard-export job does; chunk files downstream stream
    // sequentially with zero further shuffles.
    Q("p14_shard_export",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("k", "doc_id")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val assigned = Tables.t(s, d, "documents")
          .select(col("doc_id"),
            TextFunctions.tokenCountWs(col("text")).as("n_tokens"),
            md5(concat(lit("0:"), col("doc_id").cast("string"))).as("k"))
          .withColumn("shard",
            conv(substring(col("k"), 1, 15), 16, 10).cast("long") % 8)
          .withColumn("chunk",
            floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) /
              4096).cast("long"))
        val dir = Dml.work("p14_shards", d)
        Layouts.deleteDir(s, dir)
        assigned.write.partitionBy("shard").parquet(dir)
        s.read.parquet(dir)
          // the partition column comes back via directory-name
          // inference as int32; restore the written long
          .groupBy(col("shard").cast("long").as("shard"), col("chunk"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            min(col("doc_id")).as("min_doc"))
      },
      Some("""WITH a AS (SELECT doc_id,
             |CAST(len(string_split_regex(trim(lower(text)), '\s+'))
             |AS BIGINT) AS n_tokens,
             |md5('0:' || CAST(doc_id AS VARCHAR)) AS k FROM documents),
             |sh AS (SELECT doc_id, n_tokens, k,
             |CAST(('0x' || substr(k, 1, 15)) AS BIGINT) % 8 AS shard
             |FROM a),
             |ck AS (SELECT doc_id, n_tokens, shard,
             |CAST(floor(COALESCE(sum(n_tokens) OVER (PARTITION BY shard
             |ORDER BY k, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
             |1 PRECEDING), 0) / 4096) AS BIGINT) AS chunk FROM sh)
             |SELECT shard, chunk, count(*) AS n_docs,
             |CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             |min(doc_id) AS min_doc FROM ck GROUP BY 1, 2"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // t46: TRAINING-SEQUENCE MATERIALIZATION — the step after p14's
    // file packing: the per-shard token-id STREAM (doc word-ids + an
    // EOS=0 after each doc, docs in t44's seeded hash order) cut into
    // fixed 64-token sequences, each token addressed by its position
    // IN its sequence. This is the batch shape a trainer mmaps; the
    // gate hashes a position-weighted checksum per sequence —
    // Σ id·(pos_in_seq+1) — so a single token shifted by one position
    // anywhere in the corpus flips a sequence's hash. Word-ids are
    // md5-derived (mod 32000, the BPE-vocab stand-in; +1 reserves 0
    // for EOS) so both engines derive the identical stream. Scale:
    // one (shard) exchange; the running offset is a per-shard window,
    // the explode is O(tokens), and sequences never materialize as
    // arrays — only their aggregates do.
    Q("t46_sequence_pack",
      (s, d) => {
        val wOff = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("k", "doc_id")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            -1)
        Tables.t(s, d, "documents")
          .select(col("doc_id"),
            md5(concat(lit("0:"), col("doc_id").cast("string"))).as("k"),
            // r18: native codegen'd md5-vocab ids
            // (Kernels.md5_word_ids) — the filter+transform HOF
            // pair ran interpreted with a hex-string build + string
            // parse per token; bit-identical (SamplingSpec asserts)
            concat(TextExpressions.md5WordIds(
                split(lower(trim(col("text"))), "\\s+"), 32000),
              array(lit(0L))).as("ids"))
          .withColumn("shard",
            conv(substring(col("k"), 1, 15), 16, 10).cast("long") % 8)
          .withColumn("nt", size(col("ids")).cast("long"))
          .withColumn("cum",
            coalesce(sum(col("nt")).over(wOff), lit(0L)))
          .select(col("shard"), col("cum"),
            posexplode(col("ids")).as(Seq("pos", "id")))
          .withColumn("g", col("cum") + col("pos"))
          .groupBy(col("shard"), expr("g DIV 64").as("seq_id"))
          .agg(count(lit(1)).as("n_tokens"),
            count(when(col("id") === 0, 1)).as("n_eos"),
            sum(col("id") * (col("g") % 64 + 1)).as("checksum"))
      },
      Some("""WITH a AS (SELECT doc_id,
             |md5('0:' || CAST(doc_id AS VARCHAR)) AS k,
             |list_append(list_transform(list_filter(
             |string_split_regex(trim(lower(text)), '\s+'),
             |x -> x != ''), w -> CAST(('0x' || substr(md5(w), 1, 15))
             |AS BIGINT) % 32000 + 1), 0) AS ids FROM documents),
             |sh AS (SELECT doc_id, k, ids,
             |CAST(('0x' || substr(k, 1, 15)) AS BIGINT) % 8 AS shard,
             |CAST(len(ids) AS BIGINT) AS nt FROM a),
             |c AS (SELECT *, COALESCE(sum(nt) OVER (PARTITION BY shard
             |ORDER BY k, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
             |1 PRECEDING), 0) AS cum FROM sh),
             |e AS (SELECT shard,
             |CAST(cum + generate_subscripts(ids, 1) - 1 AS BIGINT) AS g,
             |unnest(ids) AS id FROM c)
             |SELECT shard, CAST(g // 64 AS BIGINT) AS seq_id,
             |count(*) AS n_tokens,
             |count(CASE WHEN id = 0 THEN 1 END) AS n_eos,
             |CAST(sum(id * (g % 64 + 1)) AS BIGINT) AS checksum
             |FROM e GROUP BY 1, 2"""
        .stripMargin.replace('\n', ' ')),
      bench = true),

    // p15: HYBRID RETRIEVAL with RECIPROCAL-RANK FUSION (Cormack et
    // al. 2009) — the RAG-serving capstone composing two already-gated
    // rankers: t25's BM25 top-20 (keyword arm) and e01's brute cosine
    // top-20 for query vector 0 (semantic arm; vec_id aligns with
    // doc_id by fixture construction). Both ranks are deterministic
    // (rounded scores, id tie-break — the t25/e01 disciplines), and
    // RRF = Σ 1/(60+rank) is two IEEE divisions of identical integers
    // plus one sum — bit-equal cross-engine, no rounding needed. The
    // FULL OUTER fusion keeps single-arm hits (absent rank contributes
    // 0), and the final ordering ties-break on doc_id. Scale: the two
    // arms are the gated operators' own plans (explode-agg; broadcast
    // query × corpus scan); fusion is a 40-row join — serving cost
    // lives entirely in the arms.
    Q("p15_hybrid_rrf",
      (s, d) => {
        // both ranks via [[rankBounded]] — the frames are the arms'
        // top-20 / fused ≤40 rows, so the single-partition pass is the
        // point, and the battery stays WindowExec-warning-free
        val text = rankBounded(
          CorpusStats.bm25TopK(Tables.t(s, d, "documents"),
              terms = Seq("spark", "join", "vector"), k = 20)
            .select(col("doc_id"), col("score")),
          "score", "doc_id", "rt").drop("score")
        val emb = Tables.t(s, d, "embeddings")
        val vec = Similarity
          .bruteForceTopK(emb.filter(col("vec_id") === 0), emb, 20)
          .select(col("neighbor_id").as("doc_id"), col("rn").as("rv"))
        val rrf = coalesce(lit(1.0) / (lit(60) + col("rt")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0))
        rankBounded(
          text.join(vec, Seq("doc_id"), "full_outer")
            .withColumn("rrf", rrf),
          "rrf", "doc_id", "final_rank")
      },
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
             |FROM tf JOIN dfq USING (w) CROSS JOIN st),
             |bs AS (SELECT doc_id, round(sum(ts), 4) AS score FROM ts
             |GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 20),
             |tr AS (SELECT doc_id, CAST(row_number() OVER
             |(ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rt
             |FROM bs),
             |vr AS (SELECT c.vec_id AS doc_id, CAST(row_number() OVER
             |(ORDER BY round(list_cosine_similarity(
             |list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
             |list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 4)
             |DESC, c.vec_id ASC) AS INTEGER) AS rv
             |FROM embeddings q, embeddings c
             |WHERE q.vec_id = 0 AND c.vec_id != 0 QUALIFY rv <= 20)
             |SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id,
             |tr.rt, vr.rv,
             |COALESCE(1.0 / (60 + tr.rt), 0.0) +
             |COALESCE(1.0 / (60 + vr.rv), 0.0) AS rrf,
             |CAST(row_number() OVER (ORDER BY
             |COALESCE(1.0 / (60 + tr.rt), 0.0) +
             |COALESCE(1.0 / (60 + vr.rv), 0.0) DESC,
             |COALESCE(tr.doc_id, vr.doc_id) ASC) AS INTEGER)
             |AS final_rank
             |FROM tr FULL JOIN vr ON tr.doc_id = vr.doc_id"""
        .stripMargin.replace('\n', ' ')),
      bench = true)
  )
}
