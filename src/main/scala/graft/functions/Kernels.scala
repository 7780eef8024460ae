package graft

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, RuntimeReplaceable, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one Catalyst binding of graft's native kernels: a call of the
  * [[Kernels]] function `name` on the array arguments `children`, with
  * the literal parameters `params` (k, n, bits, mod, a word list).
  *
  * It is `RuntimeReplaceable`: analysis sees this node, and the optimizer
  * swaps in its `replacement`, a `StaticInvoke` of `Kernels.<name>` that
  * compiles to one static call inside whole-stage codegen and runs the
  * same function through reflection in interpreted mode, so each kernel
  * has one implementation for both. A bare `StaticInvoke` at the call
  * site would not do:
  *  - the Column API builds the node over unresolved children, so the
  *    argument types (and the float flags below) are only known once the
  *    analyzer has resolved them;
  *  - `StaticInvoke`'s `inputTypes` would cast a wrongly typed argument
  *    implicitly instead of rejecting it, and for `array<float>` vectors
  *    that cast allocates a converted array per row. Here
  *    `checkInputDataTypes` rejects it at analysis with the kernel's own
  *    message, and no cast is ever inserted.
  *
  * Null propagation: a null argument array gives a null result without
  * calling the kernel. A null ELEMENT is the kernel's own business (see
  * each function in [[Kernels]]); only `cosine_sim`, `norm_l2` and
  * `long_dot` return a boxed value, because a null element (or, for
  * `long_dot`, a length mismatch) must null their result.
  *
  * Float or double: a vector argument (`array<double|float>`) gets one
  * extra boolean argument, true when the resolved child is
  * `array<float>`; the kernel widens float elements per access (exact),
  * so raw parquet embeddings go in without a conversion.
  */
case class Kernel(
    name: String, children: Seq[Expression], params: Seq[Any] = Nil)
    extends RuntimeReplaceable {
  import Kernel._

  private def sig: Sig = signatures(name)

  override def prettyName: String = name
  override def dataType: DataType = sig.out
  override def nullable: Boolean = sig.boxed || children.exists(_.nullable)
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ params.iterator

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = children.map(_.dataType)
    if (sig.inputs.zip(types).forall { case (kind, t) => accepts(kind, t) })
      sig.check(params).fold[TypeCheckResult](
        TypeCheckResult.TypeCheckSuccess)(TypeCheckResult.TypeCheckFailure(_))
    else TypeCheckResult.TypeCheckFailure(
      if (types.size == 1)
        s"$name expects ${sig.inputs.head}, got ${types.head.simpleString}"
      else s"$name expects ${sig.inputs.head} args, got " +
        types.map(_.simpleString).mkString("(", ", ", ")"))
  }

  override lazy val replacement: Expression = {
    val floatFlags = children.zip(sig.inputs).collect {
      case (c, Vec) =>
        Literal(c.dataType.asInstanceOf[ArrayType].elementType == FloatType)
    }
    StaticInvoke(Kernels.getClass, dataType, name,
      children ++ sig.args(params) ++ floatFlags, returnNullable = sig.boxed)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Kernel =
    copy(children = newChildren)
}

object Kernel {
  /** Kernel `name` over `args`, as a Column. */
  def column(name: String, args: Seq[Column], params: Any*): Column =
    GraftBridge.column(Kernel(name, args.map(GraftBridge.expression), params))

  private val Strs = "array<string>"
  private val Longs = "array<bigint>"
  private val Vec = "array<double|float>"

  private def accepts(kind: String, t: DataType): Boolean = (kind, t) match {
    case (Strs, ArrayType(StringType, _)) | (Longs, ArrayType(LongType, _)) |
        (Vec, ArrayType(DoubleType | FloatType, _)) => true
    case _ => false
  }

  /** A kernel's signature: one input kind per child, the output type,
    * whether the result is boxed, the check on the params, and the params
    * as call arguments (literals). */
  private case class Sig(
      inputs: Seq[String],
      out: DataType,
      boxed: Boolean = false,
      check: Seq[Any] => Option[String] = _ => None,
      args: Seq[Any] => Seq[Expression] = _.map(Literal(_)))

  private def positive(name: String, param: String)(p: Seq[Any]) =
    p.collect { case v: Int if v <= 0 => s"$name needs $param > 0, got $v" }
      .headOption

  private def words(p: Seq[Any]): Seq[String] =
    p.head.asInstanceOf[Seq[String]]

  private def objectLiteral(v: AnyRef): Literal =
    Literal.create(v, ObjectType(v.getClass))

  private val longs = ArrayType(LongType, containsNull = false)

  private val signatures: Map[String, Sig] = Map(
    "simhash64" -> Sig(Seq(Strs), LongType),
    "minhash_sig" -> Sig(Seq(Longs), longs,
      check = positive("minhash_sig", "k")),
    "shingle_hashes" -> Sig(Seq(Strs), longs,
      check = positive("shingle_hashes", "n")),
    "shingle_hashes_all" -> Sig(Seq(Strs), longs,
      check = positive("shingle_hashes_all", "n")),
    "stopword_count" -> Sig(Seq(Strs), LongType, args = p => {
      val set = new java.util.HashSet[UTF8String](words(p).size * 2)
      words(p).foreach(w => set.add(UTF8String.fromString(w)))
      Seq(objectLiteral(set))
    }),
    "term_counts" -> Sig(Seq(Strs), longs,
      check = p => Option.when(words(p).isEmpty)(
        "term_counts needs a non-empty word list"),
      args = p => {
        val index =
          new java.util.HashMap[UTF8String, Integer](words(p).size * 2)
        words(p).zipWithIndex.foreach { case (w, i) =>
          index.put(UTF8String.fromString(w), Integer.valueOf(i))
        }
        Seq(objectLiteral(index), Literal(words(p).size))
      }),
    "gram_stats" -> Sig(Seq(Longs), StructType(Seq("top", "n", "d")
      .map(StructField(_, LongType, nullable = false)))),
    "token_counts" -> Sig(Seq(Strs),
      MapType(StringType, LongType, valueContainsNull = false)),
    "md5_word_ids" -> Sig(Seq(Strs), longs,
      check = positive("md5_word_ids", "mod")),
    "cdc_chunks" -> Sig(Seq(Strs), ArrayType(StringType, containsNull = true)),
    "cosine_sim" -> Sig(Seq(Vec, Vec), DoubleType, boxed = true),
    "sign_bucket" -> Sig(Seq(Vec), LongType, check = p => p.collect {
      case bits: Int if bits <= 0 || bits > 63 =>
        s"sign_bucket needs 0 < bits <= 63, got $bits"
    }.headOption),
    "norm_l2" -> Sig(Seq(Vec), DoubleType, boxed = true),
    "long_dot" -> Sig(Seq(Longs, Longs), LongType, boxed = true))
}

/** graft's native kernels: pure functions over Catalyst's internal values,
  * each named after its SQL function and bound into plans by [[Kernel]]
  * (which keeps null arrays away from them). Each replaces an interpreted
  * higher-order-function (HOF) formulation with one fused loop and is
  * value- or bit-identical to it; the specs named per function assert it.
  * Hashes use Spark's own `XXH64` with seed 42, so a token hashes exactly
  * as `xxhash64(token)` does. */
object Kernels {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def tokenHash(a: ArrayData, i: Int): Long =
    if (a.isNullAt(i)) 42L else XXH64.hashUTF8String(a.getUTF8String(i), 42L)

  /** 64-bit SimHash of a token array: bit b is set iff strictly more than
    * half of the tokens' xxhash64 values have bit b set (ties → 0). Empty
    * array → 0; a null token hashes to the seed, like `xxhash64(NULL)`.
    * Bit-identical to `TextFunctions.simhash64` (DedupSpec). */
  def simhash64(a: ArrayData): Long = {
    val n = a.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = tokenHash(a, i)
      var b = 0
      while (b < 64) {
        counts(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b).toLong * 2 > n) out |= 1L << b
      b += 1
    }
    out
  }

  /** k-permutation MinHash signature of pre-hashed shingles: permutation
    * j of h is `hashInt(j, hashLong(h, 42))`, the composition Spark's
    * `xxhash64(h, j)` evaluates. A null slot hashes like
    * `xxhash64(NULL, j)`; empty array → k × Long.MaxValue, the HOF's seed.
    * Bit-identical to `TextFunctions.minhashSignature` (DedupSpec). */
  def minhash_sig(a: ArrayData, k: Int): ArrayData = {
    val n = a.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val base = if (a.isNullAt(i)) 42L else XXH64.hashLong(a.getLong(i), 42L)
      var j = 0
      while (j < k) {
        val p = XXH64.hashInt(j, base)
        if (p < mins(j)) mins(j) = p
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Distinct n-gram shingle hashes of a token array, first-occurrence
    * order: the set form the jaccard/minhash pipelines consume.
    * Bit-identical to `TextFunctions.shingleHashes` (DedupSpec). */
  def shingle_hashes(a: ArrayData, n: Int): ArrayData =
    new GenericArrayData(shingles(a, n, distinct = true))

  /** Every n-gram window hash in position order: the multiset form that
    * frequency signals (t14 repetition) consume. */
  def shingle_hashes_all(a: ArrayData, n: Int): ArrayData =
    new GenericArrayData(shingles(a, n, distinct = false))

  /** Token hashes → each n-window folded left to right the way Spark's
    * 2-argument `xxhash64(a, b)` does (`hashLong(b, hashLong(a, 42))`) →
    * optionally first-occurrence distinct. Fewer than n tokens keep the
    * single partial window, as the HOF's slice guard does. */
  private def shingles(a: ArrayData, n: Int, distinct: Boolean): Array[Long] = {
    val len = a.numElements()
    val th = Array.tabulate(len)(tokenHash(a, _))
    val m = math.max(len - (n - 1), math.min(len, 1))
    val seen = if (distinct) new java.util.HashSet[java.lang.Long](m * 2) else null
    val out = new Array[Long](m)
    var w = 0
    var outLen = 0
    while (w < m) {
      var f = th(w)
      var s = 1
      while (s < n) {
        // zip_with pads the short side with null, and xxhash64(a, null)
        // still folds the seed step: hashLong(a, 42). Only the lone
        // sub-n-token window ever takes the out-of-range branch.
        f =
          if (w + s < len) XXH64.hashLong(th(w + s), XXH64.hashLong(f, 42L))
          else XXH64.hashLong(f, 42L)
        s += 1
      }
      if (seen == null || seen.add(f)) { out(outLen) = f; outLen += 1 }
      w += 1
    }
    if (outLen == m) out else java.util.Arrays.copyOf(out, outLen)
  }

  /** Number of tokens in `words` (the stopword scorer behind t03 and the
    * per-language t04). Duplicates count; null tokens don't, as in the
    * `size(filter(toks, array_contains(words, _)))` form (TextSpec). */
  def stopword_count(a: ArrayData, words: java.util.HashSet[UTF8String]): Long = {
    val n = a.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && words.contains(a.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** Per-term occurrence counts, `k` slots in word-list order (the BM25
    * primitive of t25/p15): per-row scan work in place of an
    * explode → (doc, term) aggregate. Null tokens don't match. */
  def term_counts(a: ArrayData,
      index: java.util.HashMap[UTF8String, Integer], k: Int): ArrayData = {
    val out = new Array[Long](k)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val ix = index.get(a.getUTF8String(i))
        if (ix != null) out(ix.intValue()) += 1L
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** (top, n, d) of a gram-hash array: the highest multiplicity of one
    * value, the number of values and of distinct values (t14's per-doc
    * reduction, in place of explode → (doc, gram) exchange → join). */
  def gram_stats(a: ArrayData): InternalRow = {
    val n = a.numElements()
    val m = new java.util.HashMap[java.lang.Long, Array[Long]](n * 2)
    var top = 0L
    var i = 0
    while (i < n) {
      val h = java.lang.Long.valueOf(a.getLong(i))
      var c = m.get(h)
      if (c == null) { c = Array(0L); m.put(h, c) }
      c(0) += 1L
      if (c(0) > top) top = c(0)
      i += 1
    }
    new GenericInternalRow(Array[Any](top, n.toLong, m.size.toLong))
  }

  /** Term → occurrence count of a token array, keys in first-occurrence
    * order; `explode` of it replaces t08/t18's explode → (doc, term)
    * aggregate exchange. Null tokens are skipped. Keys are cloned: the
    * scan's strings are views into a reused buffer. */
  def token_counts(a: ArrayData): MapData = {
    val n = a.numElements()
    val m = new java.util.LinkedHashMap[UTF8String, Array[Long]](n * 2)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val tk = a.getUTF8String(i)
        val c = m.get(tk)
        if (c != null) c(0) += 1L else m.put(tk.clone(), Array(1L))
      }
      i += 1
    }
    val keys = new Array[Any](m.size())
    val vals = new Array[Any](m.size())
    var j = 0
    m.forEach { (k, v) => keys(j) = k; vals(j) = v(0); j += 1 }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  /** md5-vocab word ids of the non-empty tokens:
    * `CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) % mod + 1`
    * without the hex string (the first 15 hex digits are the digest's
    * first 60 bits). Empty and null tokens drop, as in the
    * `filter(…, x -> x != '')` chain it is bit-identical to (SamplingSpec). */
  def md5_word_ids(a: ArrayData, mod: Int): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var len = 0
    val md = md5.get()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val s = a.getUTF8String(i)
        if (s.numBytes() > 0) {
          md.reset()
          val d = md.digest(s.getBytes)
          var v = 0L
          var b = 0
          while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
          out(len) = (v >>> 4) % mod + 1
          len += 1
        }
      }
      i += 1
    }
    new GenericArrayData(if (len == n) out else java.util.Arrays.copyOf(out, len))
  }

  private val Space = UTF8String.fromString(" ")

  /** Content-defined chunk texts of a token array: a token whose md5
    * starts with hex '0' closes the running chunk and opens the next.
    * A null token is a no-op, and when no token opens a chunk the result
    * is `[null]` — both as in `Dedup.rowChunkFold`, which it equals
    * array for array (DedupSpec). */
  def cdc_chunks(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val md = md5.get()
    val done = new scala.collection.mutable.ArrayBuffer[UTF8String](4)
    val cur = new scala.collection.mutable.ArrayBuffer[UTF8String](16)
    var open = false
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val w = a.getUTF8String(i)
        md.reset()
        val boundary = (md.digest(w.getBytes)(0) & 0xF0) == 0
        if (boundary && open) {
          done += UTF8String.concatWs(Space, cur.toSeq: _*)
          cur.clear()
        }
        cur += w
        open = true
      }
      i += 1
    }
    done += (if (open) UTF8String.concatWs(Space, cur.toSeq: _*) else null)
    new GenericArrayData(done.toArray[AnyRef])
  }

  /** Cosine similarity `dot / (sqrt(na) * sqrt(nb))` over the common
    * prefix, bit-identical to the dot/l2norm HOF composition
    * (SimilaritySpec). A null element in the prefix → null (the HOF's
    * null product nulls the fold); zero norm → NaN. */
  def cosine_sim(x: ArrayData, y: ArrayData,
      xFloat: Boolean, yFloat: Boolean): java.lang.Double = {
    val n = math.min(x.numElements(), y.numElements())
    // the null scan stays apart from the arithmetic: interleaving isNullAt
    // into the fused loop cost ~30% on the e01/e03 hot path
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      i += 1
    }
    var dot = 0.0; var na = 0.0; var nb = 0.0
    i = 0
    while (i < n) {
      val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Random-hyperplane sign bucket (the LSH key of e03/d06): bit i is set
    * iff `Σ_d x_d · c(i, d) >= 0` in Spark SQL's order, where c(i, d) =
    * `(pmod(hashInt(d, hashInt(i, 42)), 2001) - 1000) / 1000.0`, summed in
    * ascending d. Empty vectors and vectors with a null element → 0, as
    * in `Similarity.signBucketHof`, which it is bit-identical to
    * (SimilaritySpec). */
  def sign_bucket(a: ArrayData, bits: Int, isFloat: Boolean): Long = {
    val n = a.numElements()
    if (n == 0) return 0L
    var d0 = 0
    while (d0 < n) {
      if (a.isNullAt(d0)) return 0L
      d0 += 1
    }
    var out = 0L
    var i = 0
    while (i < bits) {
      val planeSeed = XXH64.hashInt(i, 42L)
      var acc = 0.0
      var d = 0
      while (d < n) {
        val h = XXH64.hashInt(d, planeSeed)
        val m = ((h % 2001L) + 2001L) % 2001L
        val x = if (isFloat) a.getFloat(d).toDouble else a.getDouble(d)
        acc += x * ((m - 1000L).toDouble / 1000.0)
        d += 1
      }
      // NaN (a NaN element, or ±Inf times a zero component) sets the bit:
      // Spark SQL orders NaN above every number, so the HOF's `d >= 0` holds
      if (acc >= 0 || acc.isNaN) out |= 1L << i
      i += 1
    }
    out
  }

  /** L2 norm, `sqrt` of the ascending `acc += x*x` fold (bit-identical to
    * `Similarity.l2normHof`, SimilaritySpec). Empty → 0.0; a null element
    * → null. */
  def norm_l2(a: ArrayData, isFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      i += 1
    }
    var acc = 0.0
    i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      acc += x * x
      i += 1
    }
    math.sqrt(acc)
  }

  /** Integer dot product Σ xᵢ·yᵢ (e12's nearest centroid, the k-means
    * step). A null element or a length mismatch → null, as
    * `aggregate(zip_with(x, y, _ * _), 0L, _ + _)` gives (zip_with pads
    * the shorter side with null). */
  def long_dot(x: ArrayData, y: ArrayData): java.lang.Long = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      i += 1
    }
    var dot = 0L
    i = 0
    while (i < n) {
      dot += x.getLong(i) * y.getLong(i)
      i += 1
    }
    dot
  }
}

/** Column API of the text kernels; see the same-named [[Kernels]]
  * function for each one's semantics. */
object TextExpressions {
  /** 64-bit simhash of a token array (pass `TextFunctions.tokens(text)`). */
  def simhash64(tokens: Column): Column = Kernel.column("simhash64", Seq(tokens))

  /** k-permutation minhash signature of pre-hashed shingles (pass
    * [[shingleHashes]]). */
  def minhashSig(shingleHashes: Column, k: Int): Column =
    Kernel.column("minhash_sig", Seq(shingleHashes), k)

  /** Distinct n-gram shingle hashes of a token array. */
  def shingleHashes(tokens: Column, n: Int): Column =
    Kernel.column("shingle_hashes", Seq(tokens), n)

  /** Every n-gram window hash in position order (multiset). */
  def shingleHashesAll(tokens: Column, n: Int): Column =
    Kernel.column("shingle_hashes_all", Seq(tokens), n)

  /** Number of tokens that are in `words`. */
  def stopwordCount(tokens: Column, words: Seq[String]): Column =
    Kernel.column("stopword_count", Seq(tokens), words)

  /** Per-term occurrence counts, in `words` order. */
  def termCounts(tokens: Column, words: Seq[String]): Column =
    Kernel.column("term_counts", Seq(tokens), words)

  /** (top, n, d) multiset stats of a gram-hash array (pass
    * [[shingleHashesAll]]). */
  def gramStats(gramHashes: Column): Column =
    Kernel.column("gram_stats", Seq(gramHashes))

  /** Term → count map of a token array (explode it for the
    * (doc, term, count) stream without an aggregate exchange). */
  def tokenCounts(tokens: Column): Column =
    Kernel.column("token_counts", Seq(tokens))

  /** md5-vocab word ids of the non-empty tokens of a raw split array. */
  def md5WordIds(tokens: Column, mod: Int): Column =
    Kernel.column("md5_word_ids", Seq(tokens), mod)

  /** Content-defined chunk texts of a token array. */
  def cdcChunks(tokens: Column): Column = Kernel.column("cdc_chunks", Seq(tokens))
}

/** Column API of the vector kernels (`array<double|float>` vectors). */
object VectorExpressions {
  /** Cosine similarity of two vectors. */
  def cosineSim(a: Column, b: Column): Column =
    Kernel.column("cosine_sim", Seq(a, b))

  /** LSH sign bucket of a vector against `bits` hash-derived planes. */
  def signBucket(v: Column, bits: Int): Column =
    Kernel.column("sign_bucket", Seq(v), bits)

  /** L2 norm of a vector. */
  def normL2(v: Column): Column = Kernel.column("norm_l2", Seq(v))

  /** Σ aᵢ·bᵢ over two `array<bigint>`. */
  def longDot(a: Column, b: Column): Column =
    Kernel.column("long_dot", Seq(a, b))
}
