package graft.tools

import graft.{MvQueries, QueryCatalog, Session, Tables}

/** Optimization-round evidence dump: one `.explain("formatted")` file per
  * bench query under plans/<tag>/<name>_<suffix>.txt. Usage:
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [name,...]
  * e.g. runMain graft.tools.PlanDump /root/testdata/sf0.1 plans/r17 before
  * Honors each entry's explainOverride (adaptive/checkpoint plans finalize
  * on execution — same contract as Profile's _plans mode). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only: Option[Set[String]] =
      args.drop(3).headOption.map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus, logLevel = "ERROR")
    Tables.ensureRegistered(spark, sfDir)
    // same pre-registered MV fixtures as Bench so the MV queries' plans
    // show the rewrite they take in the bench
    try {
      MvQueries.ensureMv(spark, sfDir)
      MvQueries.ensureJoinMv(spark, sfDir)
    } catch { case e: Throwable =>
      System.err.println(s"[plandump] mv pre-register failed: ${e.getMessage}")
    }
    new java.io.File(outDir).mkdirs()
    QueryCatalog.all.filter(_.bench)
      .filter(q => only.forall(_.contains(q.name)))
      .foreach { qq =>
        val plan =
          try qq.explainOverride match {
            case Some(f) => f(spark, sfDir)
            case None => qq.build(spark, sfDir).queryExecution
              .explainString(org.apache.spark.sql.execution.FormattedMode)
          } catch { case e: Throwable =>
            s"PLAN DUMP FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}"
          }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${qq.name}_$suffix.txt"), plan)
        graft.ManagedCache.releaseAll()
      }
    println(s"plans written to $outDir (*_$suffix.txt)")
    spark.stop()
  }
}
