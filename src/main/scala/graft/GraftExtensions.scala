package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** The engine's SQL function surface, defined once and installed two ways:
  *  - [[ExecutionContext]] registers it on its session's registry;
  *  - [[GraftExtensions]] injects it via `SparkSessionExtensions`, the
  *    standard Spark library integration point — users who never touch
  *    `ExecutionContext` get the functions with
  *    `spark.sql.extensions=graft.GraftExtensions` (or
  *    `builder.withExtensions(new GraftExtensions)`).
  *
  * Arity (and literal int parameters) are validated in the builder so a
  * malformed call fails analysis with a real message instead of an
  * IndexOutOfBoundsException. */
object GraftFunctions {

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  /** Registry entry of a [[Kernel]]: `arrays` array arguments, then one
    * integer literal per name in `ints`. */
  private def kernel(name: String, usage: String, arrays: Int, ints: String*) =
    (name, classOf[Kernel], arrays + ints.size, usage,
      (c: Seq[Expression]) => Kernel(name, c.take(arrays),
        c.drop(arrays).zip(ints).map { case (e, arg) =>
          intLit(e, usage.split(" - ").head, arg) }))

  /** (name, implementing class, arity, DESCRIBE FUNCTION usage, builder). */
  val all: Seq[(String, Class[_], Int, String, Seq[Expression] => Expression)] =
    Seq(
      kernel("cosine_sim",
        "cosine_sim(a, b) - Cosine similarity (double; NaN when either " +
          "norm is 0) of two array<float> or array<double> vectors.", 2),
      kernel("norm_l2",
        "norm_l2(v) - L2 norm of an array<float> or array<double> vector.", 1),
      kernel("sign_bucket",
        "sign_bucket(vec, bits) - LSH sign bucket: a bigint whose bit i is " +
          "the sign of vec against deterministic random plane i.", 1, "bits"),
      kernel("simhash64",
        "simhash64(tokens) - 64-bit SimHash of an array<string> token " +
          "array (majority vote over xxhash64 token bits).", 1),
      kernel("minhash_sig",
        "minhash_sig(shingle_hashes, k) - k-permutation minhash " +
          "signature (array<bigint>) of pre-hashed shingles.", 1, "k"),
      kernel("shingle_hashes",
        "shingle_hashes(tokens, n) - DISTINCT n-gram shingle hashes " +
          "(array<bigint>, first-occurrence order) — the set form for " +
          "jaccard/minhash.", 1, "n"),
      kernel("shingle_hashes_all",
        "shingle_hashes_all(tokens, n) - EVERY n-gram window hash in " +
          "position order (multiset) — the form for frequency signals.",
        1, "n"),
      // aggregate: the analyzer wraps a registered AggregateFunction in
      // AggregateExpression itself, so the builder returns it bare
      ("topk_neighbors", classOf[TopKNeighbors], 3,
        "topk_neighbors(id, sim, k) - AGGREGATE keeping the exact top-k " +
          "(sim DESC, id ASC) per group as array<struct<neighbor_id," +
          "sim>> via a bounded k-heap with map-side partials.",
        (c: Seq[Expression]) => TopKNeighbors(
          c(0), c(1), intLit(c(2), "topk_neighbors(id, sim, k)", "k"))))

  /** One registry entry: (identifier, info, arity-checked builder). */
  def entries: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] =
    all.map { case (name, clazz, arity, usage, build) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, null, name, usage, ""),
        (children: Seq[Expression]) => {
          if (children.length != arity)
            throw new IllegalArgumentException(
              s"Invalid number of arguments for function $name: " +
                s"expected $arity, got ${children.length}")
          build(children)
        })
    }

  /** Install on an existing session registry (the ExecutionContext path). */
  def install(registry: FunctionRegistry): Unit =
    entries.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
}

/** `SparkSessionExtensions` installer — see [[GraftFunctions]]. Also
  * injects the native as-of join's planner strategy ([[AsOfJoinStrategy]])
  * so sessions built with `spark.sql.extensions=graft.GraftExtensions`
  * plan [[AsOfJoinPlan]] without touching `experimental.extraStrategies`
  * (the builder-side fallback [[AsOfJoin.asofJoinNative]] installs), and
  * the materialized-view rewrite ([[Mv.MvRewrite]]) so extension-built
  * sessions serve registered summaries without an explicit
  * [[Mv.install]] — `Mv.register` installs on ITS session's
  * experimental batch, but a second session in the same JVM shares the
  * registry and would otherwise silently never rewrite. Double
  * installation is harmless: the rule is idempotent (a rewritten
  * aggregate scans the summary, whose roots match no registered base).
  * [[SmallSortStrategy]] and [[SmallSideBroadcast]] ride along for the
  * same reason: [[Session.prepare]] adds them only to the sessions graft
  * prepares. The broadcast rule goes in as a pre-CBO rule, so it runs
  * after the operator-optimization batch that holds the MV rewrite and
  * sees the join order and pruned columns Spark settled on. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.entries.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => new AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => SmallSortStrategy)
    ext.injectOptimizerRule(_ => new AsOfJoinFilterPushdown)
    ext.injectOptimizerRule(_ => Mv.MvRewrite)
    ext.injectPreCBORule(_ => SmallSideBroadcast)
  }
}
