package graft
import java.nio.file.{Files, Paths}

/** JSON string escape shared by the artifact-emitting mains (Verify's
  * oracle manifest, Bench's metric line): backslash, quote, and ALL
  * control chars (<0x20) — a tab or CR in builder-authored SQL or a path
  * would otherwise make the driver's json.load fail and silently zero the
  * round's artifact. */
private[graft] object JsonOut {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated entry-name filter for fast local
    // iteration on one query (the driver always runs the full set).
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      args.drop(2).headOption.map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus)
    new java.io.File(outDir).mkdirs()
    def q(s: String): String = JsonOut.str(s)
    // Dump the oracle FIRST: even a catastrophic failure in the query loop
    // must not cost the round its oracle manifest.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // One schema line per table up front: a driver-side testdata
    // regeneration (the round-9 failure class) must be diagnosable from
    // the artifact tail in one read.
    Tables.logSchemas(spark, sfDir, "verify")
    // Best-effort view registration (q16/q17/q31/q32 need it); a broken
    // table must degrade to per-query failures, not kill the whole run.
    try Tables.ensureRegistered(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] register failed: ${e.getMessage}")
    }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A failed entry must surface in CORRECTNESS_r*.json as a RED row,
        // never as a silent omission (round 9 lost 28 entries that way) and
        // never as a vacuous 0-row success (round 10's _ERROR marker dir was
        // read by the driver as 0 rows — which hash-MATCHES the nine audit
        // twins whose oracle is the empty relation). Write a readable
        // one-row parquet whose single `graft_verify_error` column can
        // never schema-match any oracle: rows_match/schema_match both go
        // false no matter what the entry's oracle states.
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        try {
          val dir = Paths.get(s"$outDir/$name")
          org.apache.commons.io.FileUtils
            .deleteQuietly(dir.toFile) // drop any partial write
          import spark.implicits._
          Seq(msg).toDF("graft_verify_error")
            .coalesce(1).write.mode("overwrite").parquet(dir.toString)
        } catch { case _: Throwable =>
          // The parquet marker itself needs a WORKING SparkSession — if
          // the entry failed because the session is broken, fall back to
          // plain file IO so the entry still cannot vanish silently (the
          // driver's read of a parquet-less dir fails visibly).
          try {
            val dir = Paths.get(s"$outDir/$name")
            Files.createDirectories(dir)
            Files.writeString(dir.resolve("_ERROR"), msg)
          } catch { case _: Throwable => () }
        }
      }
      // release the pipeline-persisted frames (minhash/simhash/IVF prep)
      // so a 64-query session doesn't accumulate cache entries
      finally ManagedCache.releaseAll()
    }
    // Machine-readable failure summary alongside the oracle manifest,
    // mirrored into the repo so a red row's exception text is readable
    // in-tree next round (the driver's outDir isn't committed).
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    try Files.writeString(
      Paths.get("/root/repo/VERIFY_ERRORS.json"), errJson)
    catch { case _: Throwable => () }
    spark.stop()
  }
}
