package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen

/** The native kernels over generated inputs (null arrays, null elements,
  * empty arrays and strings, multibyte UTF-8, NaN, -0.0 and ±Inf, float
  * and double vectors, mismatched lengths, edge values of k, n, bits and
  * mod), evaluated interpreted, through generated projections and inside
  * whole-stage codegen: every mode must give bit-identical rows, equal to
  * the HOF reference formulation (or a Scala model where no HOF exists).
  * The input is an RDD, not a local relation, so the optimizer cannot
  * evaluate the projection itself. */
class KernelSpec extends SparkSpec {
  import TextExpressions._
  import VectorExpressions._

  private val words = Seq("the", "über", "日本語", "", "a")

  private def orNull[T](g: Gen[Seq[T]]): Gen[Seq[T]] =
    Gen.frequency(1 -> Gen.const(null: Seq[T]), 12 -> g)

  private def arrayOf[T](elem: Gen[T], maxLen: Int = 30): Gen[Seq[T]] =
    orNull(Gen.choose(0, maxLen).flatMap(Gen.listOfN(_, elem)))

  /** Two arrays, usually of the same length. */
  private def pairOf[T](elem: Gen[T]): Gen[(Seq[T], Seq[T])] = for {
    n <- Gen.choose(0, 24)
    m <- Gen.frequency(3 -> Gen.const(n), 1 -> Gen.choose(0, 24))
    a <- orNull(Gen.listOfN(n, elem))
    b <- orNull(Gen.listOfN(m, elem))
  } yield (a, b)

  private def withNulls[T <: AnyRef](g: Gen[T]): Gen[T] =
    Gen.frequency(40 -> g, 1 -> Gen.const(null.asInstanceOf[T]))

  private val token: Gen[String] = withNulls(Gen.frequency(
    3 -> Gen.oneOf(words ++ Seq("dup", "ñandú", "😀")),
    4 -> Gen.alphaNumStr.map(_.take(6))))

  private val double: Gen[java.lang.Double] = withNulls(Gen.frequency(
    40 -> Gen.choose(-2.0, 2.0),
    1 -> Gen.oneOf(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity)).map(Double.box))

  private val float: Gen[java.lang.Float] = double.map(d =>
    if (d == null) null else Float.box(d.floatValue))

  private val row: Gen[Row] = for {
    toks <- arrayOf(token)
    text <- Gen.frequency(1 -> Gen.const(null: String),
      9 -> Gen.listOf(Gen.oneOf(Gen.oneOf(words), Gen.alphaStr.map(_.take(5))))
        .map(_.mkString(" ")))
    longs <- arrayOf(withNulls(Gen.long.map(Long.box)))
    grams <- arrayOf(Gen.choose(0L, 6L).map(Long.box))
    (da, db) <- pairOf(double)
    (fa, fb) <- pairOf(float)
    (la, lb) <- pairOf(withNulls(Gen.choose(-1000000L, 1000000L).map(Long.box)))
  } yield Row(toks, text, longs, grams, da, db, fa, fb, la, lb)

  private lazy val input: DataFrame = {
    val rnd = new scala.util.Random(20261017L)
    val rows = (0 until 400).map { i =>
      val r = row(Gen.Parameters.default.withSize(30),
        org.scalacheck.rng.Seed(rnd.nextLong())).get
      Row.fromSeq(i.toLong +: r.toSeq)
    }
    val arr = (t: DataType) => ArrayType(t, containsNull = true)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("toks", arr(StringType)),
      StructField("text", StringType), StructField("longs", arr(LongType)),
      StructField("grams", arr(LongType)),
      StructField("da", arr(DoubleType)), StructField("db", arr(DoubleType)),
      StructField("fa", arr(FloatType)), StructField("fb", arr(FloatType)),
      StructField("la", arr(LongType)), StructField("lb", arr(LongType))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .withColumn("fold", Dedup.rowChunkFold(col("text")))
  }

  private def l2(v: Column) = Similarity.l2normHof(v)
  private def dbl(v: Column) = Similarity.toDouble(v)
  private def cosHof(a: Column, b: Column) =
    when(size(a) === size(b) && l2(a) * l2(b) =!= 0,
      Similarity.dot(a, b) / (l2(a) * l2(b)))
  private def cosNative(a: Column, b: Column) =
    when(size(a) === size(b) && l2(dbl(a)) * l2(dbl(b)) =!= 0, cosineSim(a, b))

  /** (label, native, reference): the reference is a HOF, or the native
    * column again where a Scala model checks it instead. */
  private val cases: Seq[(String, Column, Column)] = {
    val toks = col("toks")
    val md5Hof = (mod: Int) => expr("transform(filter(toks, x -> x != ''), " +
      "w -> CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) " +
      s"% $mod + 1)")
    Seq(("simhash64", simhash64(toks),
        TextFunctions.simhash64(TextFunctions.tokenHashes(toks)))) ++
      Seq(1, 3, 64).map(k => (s"minhash_sig k=$k",
        minhashSig(col("longs"), k),
        TextFunctions.minhashSignature(col("longs"), k))) ++
      Seq(1, 2, 5, 31).flatMap(n => Seq(
        (s"shingle_hashes n=$n", shingleHashes(toks, n),
          TextFunctions.shingleHashes(toks, n)),
        (s"shingle_hashes_all n=$n distinct", array_distinct(
          shingleHashesAll(toks, n)), TextFunctions.shingleHashes(toks, n)))) ++
      Seq(("stopword_count", stopwordCount(toks, words),
        TextFunctions.stopwordHitsHof(toks, words))) ++
      Seq(1, 7, Int.MaxValue).map(mod => (s"md5_word_ids mod=$mod",
        md5WordIds(toks, mod), md5Hof(mod))) ++
      Seq(("cdc_chunks", cdcChunks(TextFunctions.tokens(col("text"))),
        Dedup.rowChunksOf(col("fold")))) ++
      // a null vector gives null natively but 0 from the HOF (SimilaritySpec)
      Seq(1, 7, 63).flatMap(bits => Seq(
        (s"sign_bucket double bits=$bits", signBucket(col("da"), bits),
          when(col("da").isNotNull, Similarity.signBucketHof(col("da"), bits))),
        (s"sign_bucket float bits=$bits", signBucket(col("fa"), bits),
          when(col("fa").isNotNull,
            Similarity.signBucketHof(dbl(col("fa")), bits))))) ++
      Seq(("norm_l2 double", normL2(col("da")), l2(col("da"))),
        ("norm_l2 float", normL2(col("fa")), l2(dbl(col("fa")))),
        ("cosine_sim double", cosNative(col("da"), col("db")),
          cosHof(col("da"), col("db"))),
        ("cosine_sim float", cosNative(col("fa"), col("fb")),
          cosHof(dbl(col("fa")), dbl(col("fb")))),
        ("cosine_sim float x double", cosNative(col("fa"), col("db")),
          cosHof(dbl(col("fa")), col("db"))),
        ("long_dot", longDot(col("la"), col("lb")), aggregate(
          zip_with(col("la"), col("lb"), (x, y) => x * y), lit(0L),
          (acc, x) => acc + x))) ++
      // checked against Scala models below
      Seq(
        ("cosine_sim any length", cosineSim(col("da"), col("db")), null),
        ("cosine_sim float any length", cosineSim(col("fa"), col("db")), null),
        ("long_dot large", longDot(col("longs"), col("longs")), null),
        ("term_counts", termCounts(toks, words), null),
        ("token_counts keys", map_keys(tokenCounts(toks)), null),
        ("token_counts values", map_values(tokenCounts(toks)), null),
        ("gram_stats", gramStats(col("grams")), null),
        ("gram_stats of shingles", gramStats(shingleHashesAll(toks, 2)), null))
  }

  /** Bit-exact comparable form: doubles and floats by their bits (NaN
    * canonical, -0.0 apart from 0.0), rows and arrays as lists. */
  private def canon(v: Any): Any = v match {
    case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
    case f: Float => ("float", java.lang.Float.floatToIntBits(f))
    case r: Row => r.toSeq.map(canon).toList
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case other => other
  }

  private val modes = Seq(
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "generated projection" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))

  /** Every case's native and reference column, plus the raw inputs, by id,
    * under the given confs. */
  private def evaluate(mode: String, confs: Seq[(String, String)]): Seq[Row] = {
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val refs = cases.map { case (_, n, r) => if (r == null) n else r }
      val df = input.select(
        (Seq(col("id"), col("toks"), col("grams"), col("da"), col("db"),
          col("fa"), col("longs")) ++ cases.map(_._2) ++ refs): _*)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*(") == (mode == "whole-stage codegen"),
        s"$mode plan:\n$plan")
      df.collect().sortBy(_.getLong(0)).toSeq
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private lazy val results: Map[String, Seq[Row]] =
    modes.map { case (mode, confs) => mode -> evaluate(mode, confs) }.toMap

  private val inputs = 7

  test("every kernel gives bit-identical rows interpreted, through " +
    "generated projections and inside whole-stage codegen") {
    val interpreted = results("interpreted").map(r => canon(r))
    for ((mode, _) <- modes.tail; (r, i) <- results(mode).zip(interpreted)) {
      val got = canon(r).asInstanceOf[List[Any]]
      val want = i.asInstanceOf[List[Any]]
      cases.indices.foreach { c =>
        assert(got(inputs + c) == want(inputs + c),
          s"${cases(c)._1} differs $mode vs interpreted at id ${r.getLong(0)}")
      }
    }
  }

  test("every kernel equals its HOF reference formulation in every " +
    "evaluation mode") {
    for ((mode, _) <- modes; r <- results(mode)) {
      val v = canon(r).asInstanceOf[List[Any]]
      cases.indices.foreach { c =>
        assert(v(inputs + c) == v(inputs + cases.size + c),
          s"${cases(c)._1} ($mode) differs from its reference at id " +
            s"${r.getLong(0)}: ${v(inputs + c)} vs ${v(inputs + cases.size + c)}")
      }
    }
  }

  test("kernels without a HOF twin equal a Scala model: term_counts, " +
    "token_counts, gram_stats, long_dot and cosine_sim over any lengths") {
    def at(r: Row, label: String) = r.get(inputs + cases.indexWhere(_._1 == label))
    def seq[T](r: Row, i: Int): Seq[T] =
      if (r.isNullAt(i)) null else r.getSeq[T](i)
    for ((mode, _) <- modes; r <- results(mode)) {
      val id = r.getLong(0)
      val toks = seq[String](r, 1)
      if (toks == null) {
        Seq("term_counts", "token_counts keys", "gram_stats of shingles")
          .foreach(l => assert(at(r, l) == null, s"$l of null ($mode)"))
      } else {
        val live = toks.filter(_ != null)
        assert(at(r, "term_counts") == words.map(w => live.count(_ == w).toLong),
          s"term_counts ($mode) id $id")
        assert(at(r, "token_counts keys") == live.distinct, s"keys ($mode) id $id")
        assert(at(r, "token_counts values") ==
          live.distinct.map(w => live.count(_ == w).toLong), s"values ($mode) id $id")
      }
      val grams = seq[Long](r, 2)
      val stats = at(r, "gram_stats")
      if (grams == null) assert(stats == null)
      else {
        val m = grams.groupBy(identity).map(_._2.size.toLong)
        assert(stats == Row(if (m.isEmpty) 0L else m.max, grams.size.toLong,
          m.size.toLong), s"gram_stats ($mode) id $id")
      }
      val longs = seq[java.lang.Long](r, 6)
      assert(at(r, "long_dot large") == (
        if (longs == null || longs.contains(null)) null
        else longs.map(x => x * x).sum), s"long_dot ($mode) id $id")
      for ((label, a, b) <- Seq(("cosine_sim any length", 3, 4),
          ("cosine_sim float any length", 5, 4))) {
        val x = seq[Any](r, a)
        val y = seq[java.lang.Double](r, b)
        val want =
          if (x == null || y == null) null
          else {
            val n = math.min(x.size, y.size)
            val xs = x.take(n).map {
              case f: java.lang.Float => Double.box(f.toDouble)
              case d => d.asInstanceOf[java.lang.Double]
            }
            val ys = y.take(n)
            if (xs.contains(null) || ys.contains(null)) null
            else {
              var dot = 0.0; var na = 0.0; var nb = 0.0
              xs.indices.foreach { i =>
                val (p, q) = (xs(i).doubleValue, ys(i).doubleValue)
                dot += p * q; na += p * p; nb += q * q
              }
              dot / (math.sqrt(na) * math.sqrt(nb))
            }
          }
        assert(canon(at(r, label)) == canon(want), s"$label ($mode) id $id")
      }
    }
  }

  test("the generated inputs reach the edge cases") {
    val rows = results("interpreted")
    def some(p: Row => Boolean, what: String) =
      assert(rows.exists(p), s"no generated row has $what")
    def arr(r: Row, i: Int) = Option(r.getSeq[Any](i)).getOrElse(Nil)
    some(_.isNullAt(1), "a null token array")
    some(r => arr(r, 1).contains(null), "a null token")
    some(r => !r.isNullAt(1) && arr(r, 1).isEmpty, "an empty token array")
    some(r => arr(r, 1).contains(""), "an empty token")
    some(r => arr(r, 1).exists(t => t != null && t.toString.exists(_ > 127)),
      "a multibyte token")
    for (i <- Seq(3, 5)) {
      val values = rows.flatMap(arr(_, i)).filter(_ != null)
        .map(_.asInstanceOf[Number].doubleValue)
      assert(values.exists(_.isNaN) && values.exists(_.isPosInfinity) &&
        values.exists(_.isNegInfinity) &&
        values.exists(v => v == 0.0 && 1 / v < 0), s"specials in column $i")
      some(r => arr(r, i).contains(null), s"a null element in column $i")
    }
    some(r => !r.isNullAt(3) && !r.isNullAt(4) &&
      arr(r, 3).size != arr(r, 4).size, "mismatched vector lengths")
  }

  /** Analysis of `df` fails, naming the function, with its own message. */
  private def rejects(df: => DataFrame, message: String): Unit = {
    val e = intercept[AnalysisException](df.queryExecution.assertAnalyzed())
    assert(e.getMessage.contains(message), e.getMessage)
  }

  test("bad arguments fail analysis with the kernel's message instead of " +
    "being cast") {
    val c = new ExecutionContext(spark)
    val sql = (q: String) => c.execute(s"SELECT $q AS x")
    rejects(sql("minhash_sig(array(1L), 0)"), "minhash_sig needs k > 0, got 0")
    rejects(sql("shingle_hashes(array('a'), 0)"),
      "shingle_hashes needs n > 0, got 0")
    rejects(sql("sign_bucket(array(1.0d), 0)"),
      "sign_bucket needs 0 < bits <= 63, got 0")
    rejects(sql("sign_bucket(array(1.0d), 64)"),
      "sign_bucket needs 0 < bits <= 63, got 64")
    rejects(sql("simhash64(array(1, 2))"),
      "simhash64 expects array<string>, got array<int>")
    rejects(sql("cosine_sim(array('a'), array('b'))"),
      "cosine_sim expects array<double|float> args, got " +
        "(array<string>, array<string>)")
    val one = spark.range(1).select(array(lit("a")).as("t"),
      array(lit(1.0)).as("v"))
    rejects(one.select(md5WordIds(col("t"), 0)),
      "md5_word_ids needs mod > 0, got 0")
    rejects(one.select(termCounts(col("t"), Nil)),
      "term_counts needs a non-empty word list")
    rejects(one.select(longDot(col("v"), col("v"))),
      "long_dot expects array<bigint> args, got (array<double>, array<double>)")
  }
}
