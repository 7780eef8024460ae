package graft.tools

/** Output-size probe for the dup-pair family (VERDICT r12 item 7).
  *
  * The pair-emitting dedup queries are OUTPUT-superlinear on the
  * ScaleUp fixtures by construction: the per-replica letter rotation
  * has period 12 (`ScaleUp.rot`), so replicas whose indices collide
  * mod 12 carry byte-identical documents — at 20 copies (sf2) every
  * doc has 8 cross-replica exact twins' worth of pair mass, at 40
  * (sf4) the residue classes reach size 3-4 and planted pair counts
  * grow ~6x while the corpus only doubles. Raw wall-time ratios
  * therefore overstate the engines' scaling; the honest metric is
  * time PER OUTPUT PAIR, which needs the pair counts this tool
  * commits. (r12's verdict accepted the argument but flagged that
  * the counts themselves were never measured — this closes that.)
  *
  * Emits ONE JSON line: {"sf":...,"rows":{"<query>":N,...}} — row
  * counts only. Wall times stay the bench's job (BENCH_r13_sf*.json,
  * same protocol, same medians); dividing those medians by these
  * counts is the output-normalized ratio SURVEY records.
  *
  * Usage: `sbt "runMain graft.tools.DupScale <sfDir>"`.
  */
object DupScale {
  /** The bench's pair/span-emitting dedup entries plus d01 as the
    * linear control (one row per surviving doc — output tracks corpus
    * size, so its normalized ratio should sit near 1). */
  private val names = Seq(
    "d01_dedup_exact",        // control: output linear in corpus
    "d03_minhash_pairs",
    "d04_simhash_pairs",
    "d06_embedding_neardup",
    "d12_duplicated_spans",
    "d19_simhash_md5_pairs",
    "d22_minhash_md5_pairs",
    "d24_prefix_jaccard")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus)
    try graft.Tables.ensureRegistered(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[dupscale] register failed: ${e.getMessage}")
    }
    val counts = names.map { n =>
      val c =
        try graft.QueryCatalog.byName(n).build(spark, sfDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[dupscale] $n failed: ${e.getMessage}")
          -1L
        }
      graft.JsonOut.str(n) + s":$c"
    }.mkString("{", ",", "}")
    val sfName = new java.io.File(sfDir).getName
    println(s"""{"sf":${graft.JsonOut.str(sfName)},"rows":$counts}""")
    spark.stop()
  }
}
