package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}

/** Table registry over the driver-generated parquet star schema
  * (`/root/testdata/sf*`, see TESTDATA.md / FIXTURES.md §B).
  *
  * Plays the role of the reference's hard-coded catalog
  * (`/root/reference/src/context.rs:17-34` seeds table → column-name map at
  * construction) — but backed by real typed parquet sources instead of a
  * name-only `HashMap`. Registering as temp views lets both the DataFrame
  * API and `spark.sql` resolve the same relations, and Catalyst prunes
  * columns / pushes predicates into the parquet scan for real (the
  * reference's `projected_schema` never pruned anything,
  * `/root/reference/tmp/select.rs:357-363`).
  *
  * How a table is opened ([[openParquet]]): the schema comes from ONE
  * footer read on the driver — the file Spark's own non-merging inference
  * would pick — and the relation is `spark.read.schema(s).parquet(paths)`.
  * Plain `spark.read.parquet` infers the same schema through a Spark job
  * (`mergeSchemasInParallel`, even for a single file): one job and about
  * 0.1 s per open at local[4], against 1-4 ms for the footer read. Each
  * call still builds a fresh relation with fresh attribute ids, so two
  * loads of one table self-join correctly — which is why nothing is
  * cached. It falls back to plain `spark.read.parquet` whenever the one
  * footer might not be Spark's answer: `mergeSchema` on, a root holding
  * subdirectories (partitioned or bucketed layouts infer partition
  * columns), glob characters in a path, no data file, or any failure
  * while probing — so in those cases the schema and the errors stay
  * Spark's own.
  *
  * How a table is sized for the planner: `sizeInBytes = max(Spark's own
  * estimate, rows × EstimationUtils.getSizePerRow(output))`, carried as a
  * size-only `CatalogStatistics` on the `LogicalRelation` (no row count,
  * no column statistics: CBO is not involved). The rows come from the
  * same footer read, its row-group counts scaled by (all data-file bytes
  * ÷ that file's bytes) when the root holds several files. Spark's own
  * estimate is the compressed parquet bytes, and the planner compares
  * sizes against `autoBroadcastJoinThreshold` as if they were rows in
  * memory: at sf0.1 lineitem is 10.8 MB of parquet, and a scan pruned to
  * 4 columns is scaled down by its row width to a few MB, so a star join
  * broadcast all 600,000 lineitem rows, hashing them into one relation on
  * the driver. Sized by rows × width (600,000 × 40 bytes for those 4
  * columns) it is above the 10 MB threshold and is shuffled instead;
  * AQE still broadcasts from runtime sizes. The estimate never falls
  * below Spark's, so no relation becomes newly broadcastable. Every
  * fallback above, and a summary-file footer (it holds no count of the
  * data files beside it), keeps Spark's estimate.
  *
  * What is recorded for the join planner: when a root is one data file,
  * the same entry carries that footer's exact row count and the min/max
  * of its integer columns as table properties ([[FooterFacts]]).
  * [[SmallSideBroadcast]] sizes inner equi-joins with them: a side's
  * rows, and whether a join key's range leaves room for distinct values.
  * They come from the footer already read, so recording them costs no
  * I/O; a multi-file root records nothing, because its count is scaled.
  *
  * Scale note: at 100 TB each table is a multi-file dataset and the same
  * read distributes splits across executors. The driver still reads one
  * footer — the row estimate is scaled from it, not summed over every
  * file — lists each root one level deep (Spark's file index lists it
  * again) and materializes nothing else.
  */
object Tables {
  val starSchema: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extended: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = starSchema ++ extended

  /** Small dimension tables that are safe to broadcast at any realistic
    * scale factor (region has 5 rows, nation 25 — fixed-size in TPC-H). */
  val broadcastable: Set[String] = Set("region", "nation")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df =
      if (name == "events") loadEvents(spark, sfDir)
      else if (name == "embeddings") loadEmbeddings(spark, sfDir)
      else openParquet(spark, path(sfDir, name))
    df
  }

  /** `spark.read.parquet(paths: _*)` without the schema-inference job,
    * sized by its rows: see the object doc for which footer is read, how
    * the size is estimated and when this falls back. */
  def openParquet(spark: SparkSession, paths: String*): DataFrame =
    footer(spark, paths) match {
      case Some((schema, rows, facts)) =>
        val df = spark.read.schema(schema).parquet(paths: _*)
        rows.fold(df)(sizedByRows(df, _, facts))
      case None => spark.read.parquet(paths: _*)
    }

  /** The schema [[openParquet]] reads from the footer, or None when it
    * falls back. */
  private[graft] def footerSchema(
      spark: SparkSession, paths: Seq[String]): Option[StructType] =
    footer(spark, paths).map(_._1)

  /** The schema Spark's non-merging inference (`ParquetUtils.inferSchema`)
    * would return and the estimated rows of all data files, from one
    * footer read on the driver, or None when [[openParquet]] must fall
    * back. The leaves are the roots' visible files sorted by path; the
    * footer is `_common_metadata`, else `_metadata`, else the first data
    * file. The rows are that file's count scaled by (all data-file bytes
    * ÷ its bytes), and None when the footer is a summary file. Then the
    * [[FooterFacts]] to record, only when that file is the one data
    * file, so its count is exact. */
  private def footer(spark: SparkSession, paths: Seq[String])
      : Option[(StructType, Option[BigInt], Option[FooterFacts])] = {
    val conf = spark.sessionState.conf
    val globChars = "{}[]*?\\"
    if (paths.isEmpty || conf.isParquetSchemaMergingEnabled ||
        paths.exists(_.exists(globChars.contains(_)))) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val leaves = paths.flatMap { p =>
        val root = new Path(p)
        val fs = root.getFileSystem(hadoopConf)
        val st = fs.getFileStatus(root)
        if (st.isDirectory) fs.listStatus(root).toSeq else Seq(st)
      }.filterNot(st => hiddenName(st.getPath.getName))
        .sortBy(_.getPath.toString)
      val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      val data = leaves.filterNot(st => summaries.contains(st.getPath.getName))
      if (leaves.exists(_.isDirectory) || data.isEmpty) None
      else summaries.flatMap(n => leaves.find(_.getPath.getName == n))
        .headOption match {
        case Some(summary) =>
          Some((readFooter(spark, summary, hadoopConf)._1, None, None))
        case None =>
          val (schema, meta) = readFooter(spark, data.head, hadoopConf)
          val rows = rowCount(meta)
          val bytes = data.map(st => BigInt(st.getLen)).sum
          Some((schema, Some(BigInt(rows) * bytes / data.head.getLen),
            Option.when(data.size == 1)(
              FooterFacts(rows, integerRanges(schema, meta)))))
      }
    } catch { case NonFatal(_) => None }
  }

  /** One footer, read once: the schema through Spark's own
    * `readSchemaFromFooter` (row-metadata JSON first, else the converter
    * configured from the session: nanosAsLong, INT96, binary-as-string)
    * and the footer itself, row groups and their column statistics
    * included. No Spark job, no data page. */
  private def readFooter(spark: SparkSession, file: FileStatus,
      hadoopConf: Configuration): (StructType, ParquetMetadata) = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf),
      ParquetMetadataConverter.NO_FILTER)
    (ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)), meta)
  }

  private def rowCount(meta: ParquetMetadata): Long =
    meta.getBlocks.asScala.map(_.getRowCount).sum

  /** What [[openParquet]] records of a relation read from one data file:
    * its exact row count, and the min/max of each top-level integer column
    * that every row group has statistics for. [[SmallSideBroadcast]]
    * sizes joins with them. */
  private[graft] final case class FooterFacts(
      rows: Long, ranges: Map[String, (Long, Long)])

  private val RowsKey = "graft.footer.rows"
  private val RangeKey = "graft.footer.range."

  /** Min and max per top-level signed integer column (`byte` to `bigint`
    * in `schema`), over every row group; a column any row group has no
    * statistics for (or only nulls) is left out. */
  private def integerRanges(schema: StructType, meta: ParquetMetadata)
      : Map[String, (Long, Long)] = {
    val integral = schema.fields.collect {
      case f if Seq(ByteType, ShortType, IntegerType, LongType)
          .contains(f.dataType) => f.name
    }.toSet
    meta.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      .filter { c =>
        val name = c.getPath.toArray
        name.length == 1 && integral(name(0)) && (
          c.getPrimitiveType.getLogicalTypeAnnotation match {
            case null => true
            case i: IntLogicalTypeAnnotation => i.isSigned
            case _ => false
          })
      }
      .groupBy(_.getPath.toArray.head)
      .collect { case (name, chunks) if chunks.size == meta.getBlocks.size &&
          chunks.forall(_.getStatistics.hasNonNullValue) =>
        val stats = chunks.map(_.getStatistics)
        def num(v: Any) = v.asInstanceOf[Number].longValue
        name -> (stats.map(s => num(s.genericGetMin)).min,
          stats.map(s => num(s.genericGetMax)).max)
      }
  }

  /** The [[FooterFacts]] [[openParquet]] recorded on `l`, if it did. */
  private[graft] def footerFacts(l: LogicalRelation): Option[FooterFacts] =
    l.catalogTable.flatMap { t =>
      t.properties.get(RowsKey).map(rows => FooterFacts(rows.toLong,
        t.properties.collect { case (k, v) if k.startsWith(RangeKey) =>
          val Array(lo, hi) = v.split(',')
          k.stripPrefix(RangeKey) -> (lo.toLong, hi.toLong)
        }))
    }

  /** `df`'s relation with `sizeInBytes = max(Spark's estimate, rows ×
    * EstimationUtils.getSizePerRow(output))`, carried as a size-only
    * `CatalogStatistics` on the `LogicalRelation`, together with `facts`
    * as table properties. The entry is named after the roots, so the scan
    * shows in a plan as `Scan parquet lineitem.parquet`. It is never
    * registered in a catalog, and canonicalization drops it, so cache
    * lookups still match the same files. */
  private def sizedByRows(df: DataFrame, rows: BigInt,
      facts: Option[FooterFacts]): DataFrame =
    df.queryExecution.analyzed match {
      case l @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        val bytes = rows * EstimationUtils.getSizePerRow(l.output)
        val recorded = facts.toSeq.flatMap { f =>
          (RowsKey -> f.rows.toString) +: f.ranges.toSeq.map {
            case (c, (lo, hi)) => (RangeKey + c) -> s"$lo,$hi"
          }
        }.toMap
        if (bytes <= fs.sizeInBytes && recorded.isEmpty) df
        else GraftBridge.ofRows(df.sparkSession, l.copy(catalogTable = Some(
          CatalogTable(
            identifier = TableIdentifier(
              fs.location.rootPaths.map(_.getName).mkString(",")),
            tableType = CatalogTableType.EXTERNAL,
            storage = CatalogStorageFormat.empty,
            schema = l.schema,
            provider = Some("parquet"),
            properties = recorded,
            stats = Some(CatalogStatistics(
              sizeInBytes = bytes.max(fs.sizeInBytes)))))))
      case _ => df
    }

  /** Rows of the parquet files directly under `dirPath`: the sum of their
    * footers' row-group counts, read on the driver without a Spark job
    * and without touching a data page. */
  private[graft] def footerRowCount(
      spark: SparkSession, dirPath: String): Long = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val dir = new Path(dirPath)
    dir.getFileSystem(hadoopConf).listStatus(dir).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => rowCount(readFooter(spark, st, hadoopConf)._2)).sum
  }

  /** Spark's listing rule (`HadoopFSUtils.shouldFilterOutPathName`): names
    * starting with `_` (unless they hold `=`) or `.`, and in-flight
    * `._COPYING_` files, are not part of the table — except the summary
    * files. */
  private def hiddenName(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  /** Session conf required to read events.parquet; set it at
    * session build time ([[Session.local]] does). */
  val nanosAsLongConf: (String, String) =
    "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  /** Fallback for sessions not built through our mains — events.parquet
    * needs the legacy nanos flag before its footer can even be read. */
  def ensureNanosConf(spark: SparkSession): Unit =
    if (!spark.conf.getOption(nanosAsLongConf._1).contains("true"))
      spark.conf.set(nanosAsLongConf._1, nanosAsLongConf._2)

  /** Normalize the `ts` column of an events frame to `TimestampType`,
    * branching on the schema the parquet footer actually produced — the
    * driver has regenerated events.parquet with different physical types
    * across rounds, and the loader must absorb that:
    *
    *  - `LongType`: the file stored parquet TIMESTAMP(NANOS), read as raw
    *    nanos under the legacy flag → exact ns→µs integer division (`div`,
    *    not `/ 1000L`: the double path's 256 ns ulp at current epoch nanos
    *    corrupts ~12% of microsecond values by ±1).
    *  - `TimestampNTZType`: the file stored `timestamp[us]` with
    *    isAdjustedToUTC=false → a plain cast, which under our UTC session
    *    timezone yields bit-identical instants to the old nanos path (and
    *    to DuckDB's naive read of the same file).
    *  - `TimestampType`: already what we want — pass through.
    */
  def eventsTsFromNanos(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other - cannot normalize")
    }
  }

  /** events.parquet has historically stored `ts` as parquet
    * TIMESTAMP(NANOS) (needs the legacy nanos-as-long flag before the
    * footer can even be read) and currently stores `timestamp[us]` NTZ;
    * [[eventsTsFromNanos]] adapts either to a TimestampType column with
    * the same name/semantics. */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    ensureNanosConf(spark)
    eventsTsFromNanos(openParquet(spark, path(sfDir, "events")))
  }

  /** Normalize embeddings to the canonical schema the whole e/d06 family
    * was built against — `embedding array<float>`, `label int` — branching
    * on the parquet footer like [[eventsTsFromNanos]]. The driver has
    * regenerated every table between rounds with new physical types (the
    * round-9 failure class took 28 events entries dark); if embeddings
    * ever arrives as array<double>/bigint-label, the native vector
    * expressions (strict array<float> inputs) would otherwise fail
    * ANALYSIS for every similarity entry at once. The cast is logged
    * loudly: oracle entries that restate arithmetic over raw values can
    * drift under a lossy cast, and a handful of readable red rows beats
    * a mass-dark round. */
  // once-per-JVM guards for the cast warnings below: load() runs per
  // query build, and a regenerated-testdata round would otherwise spam
  // dozens of identical lines into the driver's ~2,000-byte tail capture
  // (the artifact-size discipline Bench fights for).
  @volatile private var warnedEmbeddingCast = false
  @volatile private var warnedLabelCast = false

  def embeddingsCanonical(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val v = df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case ArrayType(_: NumericType, _) =>
        if (!warnedEmbeddingCast) {
          warnedEmbeddingCast = true
          System.err.println("[tables] embeddings.embedding: non-float32 " +
            "physical type, casting to array<float> (regenerated testdata?)")
        }
        df.withColumn("embedding", col("embedding").cast("array<float>"))
      case other => throw new IllegalStateException(
        s"embeddings.embedding has unsupported type $other")
    }
    v.schema("label").dataType match {
      case IntegerType => v
      case LongType | ShortType | ByteType =>
        if (!warnedLabelCast) {
          warnedLabelCast = true
          System.err.println("[tables] embeddings.label: non-int32 " +
            "physical type, casting to int (regenerated testdata?)")
        }
        v.withColumn("label", col("label").cast("int"))
      case other => throw new IllegalStateException(
        s"embeddings.label has unsupported type $other")
    }
  }

  private def loadEmbeddings(spark: SparkSession, sfDir: String): DataFrame =
    embeddingsCanonical(openParquet(spark, path(sfDir, "embeddings")))

  /** Register every table of `sfDir` as a temp view (idempotent). */
  def register(spark: SparkSession, sfDir: String): Unit =
    all.foreach { name =>
      load(spark, sfDir, name).createOrReplaceTempView(name)
    }

  private val registeredFor = scala.collection.mutable.Map[Int, String]()

  /** Memoized [[register]] — query builders that need temp views call this
    * so repeated builder invocations (bench warm-ups, Verify) don't re-read
    * all ten tables inside the timed region. Memoization tracks the
    * session's CURRENT sfDir, not a seen-set: temp views are
    * session-global, so switching back to a previously-registered sfDir
    * must re-register or the views silently keep serving the OTHER
    * directory's data. */
  def ensureRegistered(spark: SparkSession, sfDir: String): Unit =
    synchronized {
      val key = System.identityHashCode(spark)
      if (!registeredFor.get(key).contains(sfDir)) {
        register(spark, sfDir)
        registeredFor(key) = sfDir
      }
    }

  /** Convenience accessor used by the query builders. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    load(spark, sfDir, name)

  /** Print every table's loaded schema to stderr (best-effort, one line
    * per table). Harness mains call this at start so a driver-side
    * testdata regeneration — the round-9 failure class: events.ts silently
    * changed physical type and took 28 entries dark — is diagnosable from
    * the artifact tail in one read. */
  def logSchemas(spark: SparkSession, sfDir: String, tag: String): Unit =
    all.foreach { name =>
      try System.err.println(
        s"[$tag] schema $name: ${load(spark, sfDir, name).schema.simpleString}")
      catch { case e: Throwable =>
        System.err.println(s"[$tag] schema $name: LOAD FAILED ${e.getMessage}")
      }
    }
}
