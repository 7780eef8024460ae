package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor from an existing fixture dir by
  * unioning key-shifted replicas — the sandbox ships fixtures up to
  * sf0.1, and the scale-evidence bench (VERDICT r11 item 3) needs ~sf1.
  *
  * `copies` replicas of every fact/dim table are written with all join
  * keys shifted by `replica * 10^9` — the SAME stride on both sides of
  * every relationship (customer↔orders, orders↔lineitem,
  * part/supplier↔lineitem, events.user_id, documents.doc_id,
  * embeddings.vec_id), so referential structure, join selectivity, and
  * group cardinalities scale linearly. `region`/`nation` stay fixed
  * (TPC-H semantics: dims of the world, not of the scale factor);
  * nationkey references therefore remain valid in every replica.
  *
  * Two fidelity rules keep the scaled corpus honest rather than
  * degenerate:
  *  - `documents.text` is letter-PERMUTED per replica (a `translate`
  *    over the 12 most frequent letters, rotation = replica index):
  *    length, token counts, and whitespace structure are preserved —
  *    text-stats workloads scale cleanly — but shingle/minhash/simhash
  *    identity across replicas is destroyed, so dedup workloads see
  *    10x corpus, NOT an artificial 10-deep duplicate of every doc
  *    (which would quadratically inflate pair output and measure a
  *    different workload than a real sf1).
  *  - name-ish columns get a replica suffix for the same reason:
  *    distinct counts scale with the data instead of collapsing.
  *
  * Embeddings keep their vectors (10x denser space = honestly harder
  * ANN); labels and all numeric/temporal distributions are untouched.
  *
  * Usage: `sbt "runMain graft.tools.ScaleUp [srcDir] [dstDir] [copies]"`
  * — defaults sf0.1 → /root/repo/target/scaledata/sf1 × 10. Output dirs
  * are named `<table>.parquet` exactly like the fixtures, so
  * `SPARK_GRAFT_SF_DIR=<dstDir>` drives Bench unchanged.
  */
object ScaleUp {
  private val Stride = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/target/scaledata/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // no Session.local: nanosAsLong would change the events types copied
    graft.Session.prepare(spark)

    def read(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }

    // fixed-world dims: copied once, never replicated
    write(read("region"), "region")
    write(read("nation"), "nation")

    def scaled(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = read(t)
      val out = (0 until copies).map(i => f(base, i)).reduce(_ union _)
      write(out, t)
    }
    def shift(c: String, i: Int): Column = col(c) + lit(i * Stride)
    def suffix(c: String, i: Int): Column =
      if (i == 0) col(c) else concat(col(c), lit(s"~$i"))

    scaled("customer")((df, i) => df.select(
      shift("c_custkey", i).as("c_custkey"), suffix("c_name", i).as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))

    scaled("supplier")((df, i) => df.select(
      shift("s_suppkey", i).as("s_suppkey"), suffix("s_name", i).as("s_name"),
      col("s_nationkey"), col("s_acctbal")))

    scaled("part")((df, i) => df.select(
      shift("p_partkey", i).as("p_partkey"), suffix("p_name", i).as("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")))

    scaled("orders")((df, i) => df.select(
      shift("o_orderkey", i).as("o_orderkey"),
      shift("o_custkey", i).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))

    scaled("lineitem")((df, i) => df.select(
      shift("l_orderkey", i).as("l_orderkey"),
      shift("l_partkey", i).as("l_partkey"),
      shift("l_suppkey", i).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")))

    scaled("events")((df, i) => df.select(
      shift("event_id", i).as("event_id"), col("ts"),
      shift("user_id", i).as("user_id"),
      col("event_type"), col("value"), col("props")))

    // per-replica letter permutation: rotate the 12 most frequent
    // letters by the replica index (replica 0 = identity)
    val letters = "etaoinshrdlu"
    def rot(i: Int): String = {
      val k = i % letters.length
      letters.substring(k) + letters.substring(0, k)
    }
    scaled("documents")((df, i) => df.select(
      shift("doc_id", i).as("doc_id"),
      (if (i == 0) col("text")
       else translate(col("text"), letters + letters.toUpperCase,
         rot(i) + rot(i).toUpperCase)).as("text"),
      col("lang"), col("source"), col("n_chars")))

    // per-replica CIRCULAR SHIFT of the vector components: an orthogonal
    // permutation, so norms and all within-replica distances are
    // preserved (ANN difficulty scales honestly with a 10x-denser
    // space), while cross-replica cosine decorrelates — without it every
    // vector gains `copies`-1 EXACT duplicates and near-dup pair output
    // grows quadratically in the replica count (the first sf1 run
    // measured exactly that: d06 at 18.6x for 10x data), the embedding
    // twin of the documents translate rule above.
    scaled("embeddings")((df, i) => df.select(
      shift("vec_id", i).as("vec_id"),
      (if (i == 0) col("embedding")
       else concat(
         slice(col("embedding"), lit(i + 1),
           size(col("embedding")) - lit(i)),
         slice(col("embedding"), lit(1), lit(i)))).as("embedding"),
      col("label")))

    spark.stop()
  }
}
