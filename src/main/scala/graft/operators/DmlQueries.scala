package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** DML operators — INSERT (VALUES / SELECT), UPDATE, DELETE, MERGE —
  * executed for real against a versioned parquet store (the reference
  * only prints the plans: insert `tmp/crud.txt:178-221`, update
  * `:223-279`, delete `:480-504`; nothing ever mutates state there).
  *
  * Model: a store directory holds immutable versions behind a commit
  * pointer. `v0` is a plain parquet snapshot; every statement after it
  * commits ONLY ITS CHANGE ([[commitChange]]): the new version reuses the
  * current data directory untouched (a `_ref` file), records removed
  * base rows in a `_dv` deletion-vector sidecar and carries added rows
  * in an `_append` sidecar, so a 0.01% change writes O(changed rows),
  * not O(table). Readers compose (data − vector) ∪ append and always see
  * a complete version. A full rewrite happens only where it is the
  * point: the v0 publish of an external table ([[publish]]),
  * [[optimize]], [[restore]] and compaction — sidecar auto-compaction,
  * and the folded commit of a one-shot external-base statement or of a
  * shallow clone's first change — the Delta/Iceberg deletion-vector /
  * merge-on-read shape, minus the transaction log.
  *
  * Every query returns the FINAL TABLE STATE so the DuckDB oracle can
  * express the same result purely relationally (UNION ALL for insert,
  * CASE for update, negated WHERE for delete) over the original table.
  */
object Dml {

  /** Root of every DML scratch store: `target/dmltmp` resolved against the
    * working directory, so the catalog's DML builders and SQL DML run from
    * any checkout (from the repo root it is the build's own `target/`). */
  private[graft] def scratchRoot: String =
    java.nio.file.Paths.get("target", "dmltmp").toAbsolutePath.toString

  /** Re-runnable scratch root; versions are overwritten per invocation so
    * repeated builder calls (bench warm-ups) stay idempotent. Keyed on the
    * SANITIZED sfDir string, not its hashCode — hashCode collides across
    * distinct paths (interleaved runs would overwrite each other's
    * versions) and abs(Int.MinValue) is negative. */
  private[graft] def work(name: String, sfDir: String): String = {
    val key = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"$scratchRoot/$key/$name"
  }

  // ---- minimal commit protocol ------------------------------------------
  // `<dir>/_latest` names the committed version directory. It is written
  // via temp-file + atomic rename, so a reader resolving the pointer sees
  // either the previous committed version or the new one — never a
  // half-written directory. This is the kernel of every lakehouse
  // transaction log (single-table, last-writer-wins; a real log adds
  // multi-writer conflict detection on top of the same primitive).

  private[graft] def commit(dir: String, version: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s"._latest.tmp.${Thread.currentThread.getId}")
    Files.writeString(tmp, version)
    Files.move(tmp, Paths.get(dir, "_latest"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read the committed version of the table at `dir` (ref-aware, so a
    * change commit or a freshly shallow-cloned table resolves to the data
    * directory it reuses, and sidecar-aware via [[readVersion]]). */
  def readLatest(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val v = java.nio.file.Files
      .readString(java.nio.file.Paths.get(dir, "_latest")).trim
    readVersion(spark, dir, v)
  }

  /** Publish `df` as the PLAIN version `name` — the store's only full
    * write, reached from [[publish]], [[optimize]], [[restore]] and
    * compaction ([[maybeAutoCompact]] and a folded [[commitChange]]). */
  private def snapshot(df: DataFrame, dir: String, name: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
    // a snapshot publishes a PLAIN version; work dirs are deterministic
    // per (name, sfDir) and explicitly re-runnable, so sidecars a
    // PREVIOUS incarnation left under this version name must die here
    // or readVersion would apply an orphaned vector/append to the
    // fresh data (silently dropping or resurrecting rows)
    Seq("_dv", "_append", "_ref").foreach { sfx =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name$sfx")
      val fs = p.getFileSystem(
        df.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    commit(dir, name)
    Tables.openParquet(df.sparkSession, s"$dir/$name")
  }

  /** Publish an external table as the store's plain `v0` — the O(table)
    * write a store pays once, before its change commits. `base` must not
    * read from `dir` itself (the write would overwrite its own input):
    * statements against a committed store use the chained forms. */
  private[graft] def publish(base: DataFrame, dir: String): DataFrame =
    snapshot(base, dir, "v0")

  private def nextVersion(cur: String): String =
    "v" + (cur.stripPrefix("v").toInt + 1)

  /** The origin-split read of one committed version: the base data
    * directory with its vector applied (`dataLogical`) and the append
    * sidecar, if any — the shared kernel of [[readVersion]] and
    * [[commitChange]] (one implementation of the vector semantics). */
  private def versionParts(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, version: String): (DataFrame, Option[DataFrame]) = {
    val data = Tables.openParquet(spark, versionPath(dir, version))
    val dvDir = java.nio.file.Paths.get(dir, s"${version}_dv")
    val dataLogical =
      if (!java.nio.file.Files.exists(dvDir)) data
      else {
        val dv = Tables.openParquet(spark, dvDir.toString)
        val cond = data.columns.map(c => data(c) <=> dv(c)).reduce(_ && _)
        data.join(broadcast(dv), cond, "left_anti")
      }
    val apDir = java.nio.file.Paths.get(dir, s"${version}_append")
    val append =
      if (java.nio.file.Files.exists(apDir))
        Some(Tables.openParquet(spark, apDir.toString))
      else None
    (dataLogical, append)
  }

  // ---- the one write path ------------------------------------------------

  /** The rows a statement removes, selected per origin: `(rows, false)`
    * yields the removed rows, `(rows, true)` their complement. */
  private type Removal = (DataFrame, Boolean) => DataFrame

  /** One statement's change against the committed table: the rows it
    * removes (per origin) and the rows it adds, computed from the
    * logical table. */
  private case class Change(
      removed: Option[Removal], added: DataFrame => Seq[DataFrame])

  /** WHERE semantics: a NULL predicate removes nothing. The vector, the
    * kept append rows and the images each select with the predicate, so
    * it must select the same rows every time: a non-deterministic one
    * (`rand()`, `uuid()`) could remove a row without appending its image
    * or the reverse, and a vector of full rows cannot say which of two
    * equal tuples it removed. Such a predicate is rejected (Delta rejects
    * it too); a non-deterministic join condition already fails Spark's
    * analysis. */
  private def where(pred: org.apache.spark.sql.Column): Removal =
    (rows, keep) => {
      val hit = coalesce(pred, lit(false))
      val out = rows.filter(if (keep) !hit else hit)
      require(out.queryExecution.analyzed.expressions.forall(_.deterministic),
        s"DML: the predicate must be deterministic, got $pred")
      out
    }

  /** Target rows with at least one `source` match on `cond`. */
  private def matching(
      source: DataFrame, cond: org.apache.spark.sql.Column,
      targetAlias: String, sourceAlias: String): Removal =
    (rows, keep) => rows.alias(targetAlias).join(source.alias(sourceAlias),
      cond, if (keep) "left_anti" else "left_semi")

  private val everything: Removal =
    (rows, keep) => if (keep) rows.limit(0) else rows

  /** Partition column of the one job that writes a commit's sidecars. */
  private val Side = "__graft_side"

  /** Whether `version`'s data directory lies in `dir` itself — false for
    * a shallow clone's reference into its source. */
  private def ownsData(dir: String, version: String): Boolean = {
    val p = java.nio.file.Paths.get(versionPath(dir, version))
      .toAbsolutePath.normalize
    p.getParent == java.nio.file.Paths.get(dir).toAbsolutePath.normalize
  }

  /** THE CHANGE COMMIT — every DML statement is a caller. Against the
    * committed version `cur` it publishes `next` as:
    *  - `next_ref`: `cur`'s data directory, reused untouched;
    *  - `next_dv`: `cur`'s vector plus the `removed` rows of the data
    *    side (full rows, multiplicity kept, so [[history]]'s footer
    *    arithmetic stays exact and a null-safe anti-join removes exactly
    *    the selected tuples — duplicates of a removed tuple select
    *    identically);
    *  - `next_append`: `cur`'s append minus its `removed` rows, plus the
    *    `added` rows (computed from the logical table, each column cast
    *    to the base schema — a drifted type would poison later unions).
    * One Spark job writes both sidecars (split by a partition column), so
    * the statement's selections all run in one query and share one
    * `current_timestamp()`; an empty sidecar is not written, and a read
    * without a vector plans no anti-join. The vector never addresses
    * append rows, so an added image equal to a removed pre-image (the
    * identity assignment) survives its own commit. Sidecars and ref land
    * BEFORE the pointer flips, so a reader sees the old or the new
    * version complete. Each version is self-describing — one data
    * directory plus at most one sidecar of each kind, never a chain to
    * replay.
    *
    * With `fold` — and always when `cur`'s data belongs to another store
    * (a shallow clone's first change) — the composition is published as
    * the PLAIN version `next` instead: auto-compaction's output, written
    * by one job, so the store owns the data its current version reads. */
  private def commitChange(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      change: Change,
      fold: Boolean = false): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val cur = currentVersion(dir)
    val next = nextVersion(cur)
    val (dataLogical, curAppend) = versionParts(spark, dir, cur)
    require(!dataLogical.columns.contains(Side),
      s"DML: reserved column $Side present in the table")
    val fields = dataLogical.schema.fields.toIndexedSeq
    val adds = change.added(
        curAppend.fold(dataLogical)(dataLogical.unionByName(_)))
      .map(a => a.select(
        fields.map(f => a(f.name).cast(f.dataType).as(f.name)): _*))
    val append = curAppend.map(ap => change.removed.fold(ap)(_(ap, true)))
      .toSeq ++ adds
    if (fold || !ownsData(dir, cur))
      return snapshot((change.removed.fold(dataLogical)(_(dataLogical, true))
        +: append).reduce(_.unionByName(_)), dir, next)
    val curDv = Paths.get(dir, s"${cur}_dv")
    val vector = Some(curDv).filter(Files.exists(_))
      .map(p => Tables.openParquet(spark, p.toString)).toSeq ++
      change.removed.map(_(dataLogical, false))
    val stage = s"$dir/.${next}_stage"
    (vector.map(_.withColumn(Side, lit("dv"))) ++
      append.map(_.withColumn(Side, lit("append"))))
      .reduceOption(_.unionByName(_))
      .foreach(_.write.mode(SaveMode.Overwrite).partitionBy(Side)
        .parquet(stage))
    // an absent sidecar is DELETED, not skipped: under dir reuse a
    // previous incarnation's file would otherwise apply to this commit
    // (and its plain `next` directory would shadow nothing but waste)
    Layouts.deleteDir(spark, s"$dir/$next")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("dv", "append").foreach { side =>
      val target = new org.apache.hadoop.fs.Path(s"$dir/${next}_$side")
      val part = new org.apache.hadoop.fs.Path(s"$stage/$Side=$side")
      if (fs.exists(target)) fs.delete(target, true)
      if (fs.exists(part)) fs.rename(part, target)
    }
    Layouts.deleteDir(spark, stage)
    val tmp = Paths.get(dir, s".${next}_ref.tmp.${Thread.currentThread.getId}")
    Files.writeString(tmp, versionPath(dir, cur))
    Files.move(tmp, Paths.get(dir, s"${next}_ref"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    commit(dir, next)
    maybeAutoCompact(spark, dir)
      .getOrElse(readVersion(spark, dir, next))
  }

  /** The external-base form of a statement: publish `base` as v0, then
    * commit `change` as v1, folded into a plain version — the store is
    * made for this one statement, and its caller reads `v1` as a table. */
  private def oneShot(base: DataFrame, dir: String, change: Change)
      : DataFrame = {
    publish(base, dir)
    commitChange(base.sparkSession, dir, change, fold = true)
  }

  /** Project `rows` onto `fields`: each field takes its `byName` value,
    * else typed NULL (the cast happens in [[commitChange]]). */
  private def aligned(
      rows: DataFrame,
      fields: Seq[org.apache.spark.sql.types.StructField],
      byName: Map[String, org.apache.spark.sql.Column]): DataFrame =
    rows.select(fields.map { f =>
      byName.getOrElse(f.name, lit(null).cast(f.dataType)).as(f.name)
    }: _*)

  /** Matched target rows projected through `assignments` — one image per
    * (target, source) match. */
  private def images(
      target: DataFrame, source: DataFrame,
      cond: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      targetAlias: String, sourceAlias: String): DataFrame =
    target.alias(targetAlias)
      .join(source.alias(sourceAlias), cond, "inner")
      .select(target.columns.toIndexedSeq.map { c =>
        assignments.getOrElse(c, col(s"$targetAlias.$c")).as(c)
      }: _*)

  /** INSERT INTO t [(cols)] VALUES (...) / SELECT …: publish `base` as v0,
    * then commit the rows as v1 ([[oneShot]]; [[insertLatest]] is the
    * chained form).
    *
    * `rows` may carry a SUBSET of the base columns — the explicit-column-
    * list form the reference plans (`tmp/crud.txt:186-188`); omitted
    * columns fill from `defaults` (e.g. the recorded `graft.default.*`
    * metadata) or typed NULL. Every inserted column is CAST to the base
    * schema's type. */
  def insertValues(
      base: DataFrame,
      rows: DataFrame,
      dir: String,
      defaults: Map[String, org.apache.spark.sql.Column] = Map.empty)
      : DataFrame =
    oneShot(base, dir, inserting(rows, defaults))

  /** INSERT against the committed table: the rows land in the append
    * sidecar; nothing is removed. */
  def insertLatest(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      rows: DataFrame,
      defaults: Map[String, org.apache.spark.sql.Column] = Map.empty)
      : DataFrame =
    commitChange(spark, dir, inserting(rows, defaults))

  private def inserting(
      rows: DataFrame,
      defaults: Map[String, org.apache.spark.sql.Column]): Change =
    Change(None, { logical =>
      val unknown = rows.columns.toSet -- logical.columns
      require(unknown.isEmpty,
        s"INSERT columns not in target table: ${unknown.mkString(", ")}")
      Seq(aligned(rows, logical.schema.fields.toIndexedSeq,
        defaults ++ rows.columns.map(c => c -> col(c))))
    })

  /** UPDATE t SET assignments WHERE pred: publish `base` as v0, then
    * commit the update as v1 ([[oneShot]]; [[updateLatest]] is the
    * chained form). */
  def update(
      base: DataFrame,
      dir: String,
      pred: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): DataFrame =
    oneShot(base, dir, updating(pred, assignments))

  /** UPDATE against the committed table: the matching rows are removed
    * and their images (projected through `assignments`) appended. A NULL
    * predicate leaves the row unchanged. */
  def updateLatest(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      pred: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): DataFrame =
    commitChange(spark, dir, updating(pred, assignments))

  private def updating(
      pred: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Change =
    Change(Some(where(pred)), logical =>
      Seq(where(pred)(logical, false).select(logical.columns.toIndexedSeq
        .map(c => assignments.getOrElse(c, col(c)).as(c)): _*)))

  /** UPDATE t SET assignments FROM s WHERE cond — the join-form update the
    * reference plans via its optional FROM subplan (`tmp/crud.txt:223-279`).
    * The target is aliased `t`, the source `s`; `cond` and assignment
    * values reference both (`col("t.x")`, `col("s.y")`). Rows with a
    * match get the assignments; all others pass through unchanged.
    * Publishes `base` as v0, then commits the update as v1
    * ([[oneShot]]; [[updateFromLatest]] is the chained form).
    *
    * The source must be unique per matched target row (standard
    * UPDATE…FROM contract — Postgres leaves multi-match unspecified;
    * here a duplicate match would duplicate the target row). */
  def updateFrom(
      base: DataFrame,
      dir: String,
      source: DataFrame,
      cond: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      targetAlias: String = "t",
      sourceAlias: String = "s"): DataFrame =
    oneShot(base, dir,
      updatingFrom(source, cond, assignments, targetAlias, sourceAlias))

  /** UPDATE … FROM against the committed table: the matched rows are
    * removed (a semi-join on `cond`) and their inner-join images
    * appended. */
  def updateFromLatest(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      source: DataFrame,
      cond: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      targetAlias: String = "t",
      sourceAlias: String = "s"): DataFrame =
    commitChange(spark, dir,
      updatingFrom(source, cond, assignments, targetAlias, sourceAlias))

  private def updatingFrom(
      source: DataFrame,
      cond: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      targetAlias: String, sourceAlias: String): Change =
    Change(Some(matching(source, cond, targetAlias, sourceAlias)), logical =>
      Seq(images(logical, source, cond, assignments,
        targetAlias, sourceAlias)))

  /** MERGE INTO — the lakehouse upsert: publish `base` as v0, then commit
    * the merge as v1 ([[oneShot]]; [[mergeOnRead]] is the chained form
    * and documents the semantics). */
  def merge(
      base: DataFrame,
      dir: String,
      source: DataFrame,
      cond: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      insertCols: Option[Seq[String]],
      insertVals: Option[Seq[org.apache.spark.sql.Column]],
      targetAlias: String = "t",
      sourceAlias: String = "s",
      checkCardinality: Boolean = true,
      notMatchedBySourceDelete: Boolean = false): DataFrame =
    oneShot(base, dir, merging(source, cond, assignments, insertCols,
      insertVals, targetAlias, sourceAlias, checkCardinality,
      notMatchedBySourceDelete))

  /** MERGE against the committed table — the upsert as an O(changes)
    * commit (Delta deletion-vector MERGE / Iceberg merge-on-read):
    * matched target rows are removed and their images (the UPDATE
    * assignments) appended; source rows with NO target match append as
    * inserts (each value cast to the target column's type, omitted
    * columns typed NULL — [[insertLatest]]'s alignment rule). WHEN NOT
    * MATCHED BY SOURCE THEN DELETE (`notMatchedBySourceDelete`, the
    * table-SYNC clause) removes every target row instead, so the table
    * converges to images ∪ inserts; auto-compaction folds that commit
    * like any other large change. The standard MERGE precondition — the
    * source is unique on the match keys — is ENFORCED when
    * `checkCardinality` is on (default): a target row matched by more
    * than one source row raises the ANSI cardinality violation instead
    * of silently duplicating through the join. */
  def mergeOnRead(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      source: DataFrame,
      cond: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      insertCols: Option[Seq[String]],
      insertVals: Option[Seq[org.apache.spark.sql.Column]],
      targetAlias: String = "t",
      sourceAlias: String = "s",
      checkCardinality: Boolean = true,
      notMatchedBySourceDelete: Boolean = false): DataFrame =
    commitChange(spark, dir, merging(source, cond, assignments, insertCols,
      insertVals, targetAlias, sourceAlias, checkCardinality,
      notMatchedBySourceDelete))

  private def merging(
      source: DataFrame,
      cond: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      insertCols: Option[Seq[String]],
      insertVals: Option[Seq[org.apache.spark.sql.Column]],
      targetAlias: String,
      sourceAlias: String,
      checkCardinality: Boolean,
      notMatchedBySourceDelete: Boolean): Change = {
    val removed =
      if (notMatchedBySourceDelete) everything
      else matching(source, cond, targetAlias, sourceAlias)
    Change(Some(removed), { logical =>
      if (checkCardinality) {
        // ANSI MERGE cardinality: tag each target row, re-run the matched
        // side of the join and probe for any multiplicity > 1 — limit-1
        // short-circuits
        val rowid = "__graft_rowid"
        require(!logical.columns.contains(rowid) &&
          !source.columns.contains(rowid),
          s"merge: reserved rowid column $rowid present in input")
        val multi = logical.withColumn(rowid, monotonically_increasing_id())
          .alias(targetAlias)
          .join(source.alias(sourceAlias), cond, "inner")
          .groupBy(col(rowid)).count()
          .filter(col("count") > 1)
        require(multi.isEmpty,
          "merge: MERGE cardinality violation — a target row matches " +
            "more than one source row (source must be unique on the " +
            "match keys); deduplicate the source or pre-aggregate it")
      }
      val inserts = insertVals.map { vals =>
        val cols = insertCols.getOrElse(logical.columns.toSeq.take(vals.length))
        require(cols.length == vals.length,
          s"merge: INSERT column list (${cols.length}) and VALUES " +
            s"(${vals.length}) differ in arity")
        aligned(source.alias(sourceAlias)
          .join(logical.alias(targetAlias), cond, "left_anti"),
          logical.schema.fields.toIndexedSeq, cols.zip(vals).toMap)
      }
      images(logical, source, cond, assignments, targetAlias, sourceAlias) +:
        inserts.toSeq
    })
  }

  /** DELETE FROM t WHERE pred: publish `base` as v0, then commit the
    * delete as v1 ([[oneShot]]; [[deleteLatest]] is the chained form). */
  def delete(
      base: DataFrame,
      dir: String,
      pred: org.apache.spark.sql.Column): DataFrame =
    oneShot(base, dir, deleting(pred))

  /** DELETE against the committed table, as a DELETION VECTOR (the Delta
    * deletion-vectors / Iceberg position-delete kernel): base-data rows
    * the predicate selects join the vector, applied as a null-safe
    * broadcast anti-join at read ([[readVersion]]); append-origin rows
    * drop by rewriting the O(changes) append copy. Write cost is
    * O(deleted rows); the committed data files are byte-identical before
    * and after. A NULL predicate does not delete the row. */
  def deleteLatest(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      pred: org.apache.spark.sql.Column): DataFrame =
    commitChange(spark, dir, deleting(pred))

  private def deleting(pred: org.apache.spark.sql.Column): Change =
    Change(Some(where(pred)), _ => Nil)

  /** SIDECAR AUTO-COMPACTION trigger (the Delta auto-compaction
    * analog): after a change commit, when the committed version's
    * accumulated sidecar rows (vector + append) exceed
    * `spark.graft.dv.autoCompactRatio` (default 0.5) of its
    * data-directory rows AND at least
    * `spark.graft.dv.autoCompactMinRows` (default 1000) sidecar rows
    * exist, publish ONE further PLAIN version folding the composition
    * back into data files. Without a trigger the vector and the
    * per-commit-rewritten append copy grow without bound until a
    * manual [[optimize]] — every read paying a bigger anti-join +
    * union, every commit rewriting a bigger append copy. The
    * check itself is parquet-FOOTER arithmetic (metadata reads, no
    * data); the fold costs one O(table) write exactly when the
    * amortized read/write tax already exceeds it. The floor keeps
    * small fixtures and genuinely tiny tables on the sidecar path —
    * compacting a 25-row table saves nothing. */
  private def maybeAutoCompact(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[DataFrame] = {
    val ratio = spark.conf
      .get("spark.graft.dv.autoCompactRatio", "0.5").toDouble
    val minRows = spark.conf
      .get("spark.graft.dv.autoCompactMinRows", "1000").toLong
    val cur = currentVersion(dir)
    val sidecar = sidecarRows(spark, dir, cur, "_dv") +
      sidecarRows(spark, dir, cur, "_append")
    if (sidecar < minRows) return None
    val dataRows = footerRowCount(spark, versionPath(dir, cur))
    if (dataRows == 0 || sidecar.toDouble / dataRows <= ratio) return None
    Some(snapshot(readVersion(spark, dir, cur), dir, nextVersion(cur)))
  }

  /** Footer row count of a version's sidecar (`_dv` / `_append`), 0
    * when absent — the shared probe behind the auto-compaction trigger,
    * [[history]]'s arithmetic, and the MV store anchor's composition
    * classification (one path construction, one existence rule). */
  private[graft] def sidecarRows(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, version: String, suffix: String): Long = {
    val p = java.nio.file.Paths.get(dir, s"$version$suffix")
    if (java.nio.file.Files.exists(p)) footerRowCount(spark, p.toString)
    else 0L
  }

  // ---- time travel -------------------------------------------------------
  // Every committed version is IMMUTABLE once the pointer moves past it
  // (a change commit only ever writes the NEXT version's sidecars and
  // ref), so historical reads are free: resolve a version NAME
  // instead of `_latest`. This is lakehouse time travel reduced to its
  // kernel — VERSION AS OF — on the same single-table commit protocol.

  /** The version name `_latest` currently points at (e.g. "v1"). */
  def currentVersion(dir: String): String =
    java.nio.file.Files
      .readString(java.nio.file.Paths.get(dir, "_latest")).trim

  /** Resolve a version name to its DATA directory: normally
    * `<dir>/<version>`, but a `<version>_ref` file (written by every
    * change commit and by [[shallowClone]]) redirects to an earlier
    * version's data directory — the metadata-only indirection that
    * makes a change commit and a clone zero-copy. */
  private[graft] def versionPath(dir: String, version: String): String = {
    val ref = java.nio.file.Paths.get(dir, s"${version}_ref")
    if (java.nio.file.Files.exists(ref))
      java.nio.file.Files.readString(ref).trim
    else s"$dir/$version"
  }

  /** TIME TRAVEL: read a specific committed version of the table at
    * `dir` (`VERSION AS OF` on the commit-pointer store). A version
    * carrying a `<version>_dv` sidecar ([[commitChange]]) reads as its
    * data directory MINUS the vector: a null-safe anti-join on every
    * column — plain equi-join keys would never match a deleted row
    * carrying a NULL field, silently resurrecting it. The vector is
    * broadcast (it is small by construction — a vector past the
    * broadcast budget is the signal to [[optimize]] it away). A
    * `<version>_append` sidecar unions AFTER the
    * vector is applied: the vector addresses BASE-DATA rows only, so an
    * updated image that happens to equal its pre-image (the identity
    * assignment) is never re-deleted by its own commit. */
  def readVersion(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, version: String): DataFrame = {
    val (dataLogical, append) = versionParts(spark, dir, version)
    append.fold(dataLogical)(dataLogical.unionByName(_))
  }

  /** OPTIMIZE — compact the committed version's many small files into
    * `targetFiles` by publishing the SAME ROWS as a new version (the
    * lakehouse small-file compaction statement, on the store's
    * snapshot + pointer protocol — the layout-level twin is
    * io08's [[Layouts]] compaction). Content identity is the entire
    * contract: the m23 gate hash-compares the post-OPTIMIZE table to
    * the logical state, and DmlSpec asserts the file count actually
    * dropped and the pointer moved forward (readers mid-compaction
    * see old or new, never a mix). Scale: repartition is one
    * round-robin shuffle sized by the target count; a real OPTIMIZE
    * bin-packs per partition and commits the file swap as metadata. */
  def optimize(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      targetFiles: Int = 1): DataFrame = {
    snapshot(readLatest(spark, dir).repartition(targetFiles), dir,
      nextVersion(currentVersion(dir)))
  }

  /** TABLE HISTORY (DESCRIBE HISTORY reduced to the pointer-store
    * kernel): one row per committed version — its row count, the row
    * delta vs the previous version, and whether `_latest` points at
    * it. Versions are the immutable `v<N>` directories, ordered by N;
    * the listing is a driver-side METADATA op (a handful of names —
    * the commit log, not data), and the counts come from PARQUET
    * FOOTER record counts ([[footerRowCount]]) — exactly what a real
    * lakehouse log does. r12's form unioned a full read of EVERY
    * version into one Spark plan: correct, but O(versions × table
    * size) per DESCRIBE HISTORY call — a long-lived 100 TB table with
    * hundreds of commits would re-scan the whole store to print its
    * log (ADVICE r12). Footers are a few KB per file regardless of
    * row count, so the call is now O(total files) metadata reads. */
  def history(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val cur = currentVersion(dir)
    val base = java.nio.file.Paths.get(dir)
    import scala.jdk.CollectionConverters._
    val versions = java.nio.file.Files.list(base).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.matches("v\\d+(_ref)?")) // a _ref FILE is a version too
      .map(_.stripSuffix("_ref"))        // (shallow-clone indirection)
      .toSeq.distinct.sortBy(_.drop(1).toInt)
    // a sidecar-carrying version's logical count is data minus vector
    // plus append — exact because the vector preserves multiplicity
    // (one sidecar row per deleted base row, see commitChange's origin
    // split) and the append dir holds real rows
    val counts = versions.map { v =>
      (v, footerRowCount(spark, versionPath(dir, v))
        - sidecarRows(spark, dir, v, "_dv")
        + sidecarRows(spark, dir, v, "_append"))
    }
    val ord = org.apache.spark.sql.expressions.Window
      .orderBy(expr("CAST(substring(version, 2) AS INT)")) // v10 > v9
    spark.createDataFrame(counts).toDF("version", "n_rows")
      .withColumn("delta_rows",
        col("n_rows") - lag(col("n_rows"), 1).over(ord))
      .withColumn("is_current", col("version") === lit(cur))
  }

  /** Sum of parquet footer record counts across a version directory —
    * exact by the parquet spec (row-group metadata carries row counts),
    * no data pages touched. */
  private[graft] def footerRowCount(
      spark: org.apache.spark.sql.SparkSession, dirPath: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dirPath)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).iterator
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(f.getPath, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** SHALLOW CLONE — fork a table WITHOUT copying data (the Delta
    * `CREATE TABLE … SHALLOW CLONE` kernel): the clone's v0 is a
    * REFERENCE file naming the source's committed version directory,
    * plus its own commit pointer — two metadata writes regardless of
    * table size, which is the entire point at 100 TB (a deep copy is
    * a full second table's worth of IO and storage). The fork then
    * diverges: the clone's first change is folded into a plain version
    * under the clone ([[commitChange]]), later ones commit sidecars over
    * that data, and the source's own mutations publish new versions on
    * its side — neither can touch the other's committed state because
    * committed versions are never rewritten (the store's invariant).
    *
    * The real-lakehouse caveat carries over exactly: the clone holds
    * no lease on the source's files, so a [[vacuum]] on the SOURCE
    * that drops the referenced version breaks the clone's v0 — Delta
    * documents the same hazard for shallow clones; retention windows
    * must cover clone lifetimes. */
  def shallowClone(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String,
      dstDir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val srcV = currentVersion(srcDir)
    Files.createDirectories(Paths.get(dstDir))
    val tmp = Paths.get(dstDir, s".v0_ref.tmp.${Thread.currentThread.getId}")
    // resolve through the source's own ref (a DV commit or a prior clone
    // stores no data directory under its version name — writing the raw
    // `$srcDir/$srcV` would dangle)
    Files.writeString(tmp, versionPath(srcDir, srcV))
    Files.move(tmp, Paths.get(dstDir, "v0_ref"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // a sidecar-carrying source version: copy the (small, O(changes))
    // vector and append dirs so the clone's v0 preserves the source's
    // LOGICAL view — the data stays zero-copy, which is the contract. A
    // sidecar a previous clone left in a reused dstDir dies first.
    val hconf = spark.sessionState.newHadoopConf()
    Seq("_dv", "_append").foreach { suffix =>
      val side = new org.apache.hadoop.fs.Path(s"$srcDir/$srcV$suffix")
      val fs = side.getFileSystem(hconf)
      Layouts.deleteDir(spark, s"$dstDir/v0$suffix")
      if (fs.exists(side))
        org.apache.hadoop.fs.FileUtil.copy(
          fs, side, fs,
          new org.apache.hadoop.fs.Path(s"$dstDir/v0$suffix"),
          false, true, hconf)
    }
    commit(dstDir, "v0")
    readVersion(spark, dstDir, "v0")
  }

  /** RESTORE — roll the committed table back to an earlier version by
    * PUBLISHING THE OLD SNAPSHOT AS A NEW VERSION (the Delta
    * `RESTORE TABLE … TO VERSION AS OF` semantics): the pointer never
    * moves backwards, so history stays linear and append-only — the
    * bad versions remain readable for forensics, time travel after the
    * restore behaves identically to before it, and a concurrent reader
    * mid-restore sees either the pre-restore or post-restore commit,
    * never a rewind. A pointer that silently moved BACK would also
    * break [[vacuum]]'s retain-latest logic and any downstream change
    * feed keyed on monotone version numbers. Scale note: this
    * re-publishes the old snapshot's files as a new directory; a real
    * log RESTOREs by re-adding the old version's file LIST in a new
    * commit (metadata-only, no data copy) — same pointer protocol. */
  def restore(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      version: String): DataFrame = {
    snapshot(readVersion(spark, dir, version), dir,
      nextVersion(currentVersion(dir)))
  }

  /** CONSTRAINT-ENFORCING INSERT with QUARANTINE — the acting half of
    * the m08 contract: the registry records constraints and
    * `auditConstraints` reports violations after the fact; this
    * enforces them AT INGEST, splitting incoming rows into an accepted
    * set (committed through [[insertValues]]' append commit)
    * and a reject relation tagged with the FIRST violated rule
    * (not-null → check → primary-key-dup, a deterministic order so a
    * multiply-bad row routes identically everywhere). PK dup detection
    * is a key join against the committed base — at scale a broadcast of
    * the incoming batch against the bucketed/bloom-indexed key column,
    * the io10 dead-letter pattern applied to DML. Returns (committed
    * table, rejects). */
  def insertValidated(
      base: DataFrame,
      rows: DataFrame,
      dir: String,
      notNull: Seq[String] = Seq.empty,
      checks: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty,
      pk: Seq[String] = Seq.empty): (DataFrame, DataFrame) = {
    var marked = rows
    if (pk.nonEmpty) {
      marked = marked.join(
        base.select(pk.map(col): _*).distinct()
          .withColumn("__pk_exists", lit(1)),
        pk, "left")
      // a key duplicated WITHIN the batch is ambiguous input — every
      // copy rejects (choosing one silently would be arbitrary); a NULL
      // key is a PK violation by definition (PK implies NOT NULL)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pk.map(col): _*)
      marked = marked.withColumn("__pk_batch_dup",
        count(lit(1)).over(w) > 1)
    } else marked = marked
      .withColumn("__pk_exists", lit(null))
      .withColumn("__pk_batch_dup", lit(false))
    val pkNull =
      if (pk.isEmpty) lit(false)
      else pk.map(c => col(c).isNull).reduce(_ || _)
    val reason = (
      notNull.map(c => (col(c).isNull, s"notnull($c)")) ++
      // SQL CHECK semantics (and m08's auditConstraints): a NULL
      // predicate PASSES — only a definite false violates
      checks.map { case (n, c) => (!coalesce(c, lit(true)), s"check($n)") } ++
      (if (pk.nonEmpty)
        Seq((col("__pk_exists").isNotNull || col("__pk_batch_dup") ||
          pkNull, s"primary_key(${pk.mkString(",")})"))
      else Nil))
      .foldRight(lit(null).cast("string")) { case ((cond, name), acc) =>
        when(cond, name).otherwise(acc)
      }
    val tagged = marked.withColumn("__reject", reason)
    val rejects = tagged.filter(col("__reject").isNotNull)
      .drop("__pk_exists", "__pk_batch_dup")
      .withColumnRenamed("__reject", "reject_reason")
    val accepted = tagged.filter(col("__reject").isNull)
      .drop("__pk_exists", "__pk_batch_dup", "__reject")
    (insertValues(base, accepted, dir), rejects)
  }

  /** VACUUM — retention maintenance over the committed version store:
    * physically delete all but the newest `keep` version directories;
    * the committed `_latest` target is always retained regardless of the
    * window. Returns the dropped version names (oldest first). Time
    * travel to a vacuumed version is gone afterwards — that is the
    * retention contract (Delta/Iceberg VACUUM / expire_snapshots), and
    * the reason the window is explicit. Scale: listing + directory
    * deletes only, no data scan; on an object store the deletes are the
    * dominant cost and batch per prefix exactly like this loop. */
  def vacuum(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      keep: Int): Seq[String] = {
    require(keep >= 1, s"vacuum: keep must be >= 1, got $keep")
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // LOGICAL versions: plain `vN` data directories plus `vN_ref`-only
    // commits (deletion-vector versions own no data directory of their
    // own — dropping the ref file and sidecar IS dropping the version)
    val names = fs.listStatus(base).map(_.getPath.getName)
    val versions = names.collect {
      case n if n.matches("v\\d+") => n
      case n if n.matches("v\\d+_ref") => n.stripSuffix("_ref")
    }.distinct.sortBy(_.stripPrefix("v").toInt).toSeq
    val cur = currentVersion(dir)
    val window = versions.takeRight(keep).toSet + cur
    // a retained DV version READS an earlier version's data directory
    // through its _ref — that target version must survive even when its
    // own number falls outside the window, or the retained commit
    // dangles (the within-table twin of the documented cross-table
    // shallow-clone retention hazard)
    val refTargets = window.flatMap { v =>
      val rp = java.nio.file.Paths.get(dir, s"${v}_ref")
      if (!java.nio.file.Files.exists(rp)) None
      else {
        val target = new org.apache.hadoop.fs.Path(
          java.nio.file.Files.readString(rp).trim)
        val parent = Option(target.getParent).map(_.toUri.getPath)
        if (parent.contains(base.toUri.getPath) &&
            target.getName.matches("v\\d+")) Some(target.getName)
        else None // cross-table ref: not this table's vacuum to manage
      }
    }
    val retain = window ++ refTargets
    val dropped = versions.filterNot(retain)
    dropped.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$v"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/${v}_dv"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/${v}_append"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/${v}_ref"), false)
    }
    dropped
  }

  /** SNAPSHOT DIFF — the change feed between two committed versions:
    * rows in `b` but not `a` are inserts, rows in `a` but not `b` are
    * deletes (full-row MULTISET semantics via exceptAll, so duplicate
    * cardinality changes surface too; an UPDATE appears as its
    * delete+insert pair, which is exactly the CDC form downstream
    * incremental consumers replay). Scale: exceptAll is one
    * hash-partition shuffle of each side on the full row — the same
    * class as the keyed row-hash diff a production change-feed uses,
    * with no assumption that a primary key exists. */
  def snapshotDiff(a: DataFrame, b: DataFrame): DataFrame =
    b.exceptAll(a).withColumn("op", lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("op", lit("delete")))

  /** SCHEMA DIFF between two parquet datasets — the data-contract check
    * a long-lived table runs when a new drop lands (io04 proves Spark
    * can READ mixed schema versions; this reports WHAT changed so the
    * owner can decide whether the evolution was intended). Schemas are
    * footer metadata, so the comparison is a planning-time read — no
    * data scan at any scale; one row per column across both versions
    * with the change class (unchanged / added / removed / retyped). */
  def schemaDiff(
      spark: org.apache.spark.sql.SparkSession,
      pathV1: String,
      pathV2: String): DataFrame = {
    val sa = Tables.openParquet(spark, pathV1).schema
    val sb = Tables.openParquet(spark, pathV2).schema
    val cols = (sa.map(_.name) ++ sb.map(_.name)).distinct
    val rows = cols.map { c =>
      val ta = sa.find(_.name == c).map(_.dataType.simpleString)
      val tb = sb.find(_.name == c).map(_.dataType.simpleString)
      val change = (ta, tb) match {
        case (Some(x), Some(y)) => if (x == y) "unchanged" else "retyped"
        case (None, _) => "added"
        case _ => "removed"
      }
      (c, ta.orNull, tb.orNull, change)
    }
    import spark.implicits._
    rows.toDF("column_name", "v1_type", "v2_type", "change")
  }
}

/** Driver-facing DML queries; each returns the post-statement table state.
  * Matches the reference's planned forms (`tmp/crud.txt` tests at :871-909,
  * :993-1008) but with real effects and oracle-checked results. */
object DmlQueries {

  val queries: Seq[Q] = Seq(

    Q("m01_insert_values",
      (s, d) => {
        val sq = s; import sq.implicits._
        val base = Tables.t(s, d, "nation")
        val rows = Seq((25, "LEMURIA", 2), (26, "ZEALANDIA", 3))
          .toDF("n_nationkey", "n_name", "n_regionkey")
        Dml.insertValues(base, rows, Dml.work("m01", d))
      },
      Some("""SELECT * FROM nation UNION ALL
             |SELECT * FROM (VALUES (CAST(25 AS INTEGER), 'LEMURIA', CAST(2 AS INTEGER)),
             |(26, 'ZEALANDIA', 3)) t(n_nationkey, n_name, n_regionkey)"""
        .stripMargin.replace('\n', ' '))),

    Q("m02_insert_select",
      (s, d) => {
        val base = Tables.t(s, d, "supplier")
        val src = base.filter(col("s_acctbal") > 5000).select(
          (col("s_suppkey") + 100L).as("s_suppkey"),
          concat(col("s_name"), lit("-copy")).as("s_name"),
          col("s_nationkey"),
          col("s_acctbal"))
        Dml.insertValues(base, src, Dml.work("m02", d))
      },
      Some("""SELECT * FROM supplier UNION ALL
             |SELECT s_suppkey + 100 AS s_suppkey, s_name || '-copy' AS s_name,
             |s_nationkey, s_acctbal FROM supplier WHERE s_acctbal > 5000"""
        .stripMargin.replace('\n', ' '))),

    Q("m03_update_where",
      (s, d) =>
        Dml.update(
          Tables.t(s, d, "supplier"),
          Dml.work("m03", d),
          col("s_acctbal") < 0,
          Map("s_acctbal" -> (col("s_acctbal") + 500.0))),
      Some("""SELECT s_suppkey, s_name, s_nationkey,
             |CASE WHEN s_acctbal < 0 THEN s_acctbal + 500.0
             |ELSE s_acctbal END AS s_acctbal FROM supplier"""
        .stripMargin.replace('\n', ' '))),

    Q("m04_delete_where",
      (s, d) =>
        Dml.delete(
          Tables.t(s, d, "customer"),
          Dml.work("m04", d),
          col("c_acctbal") < 0),
      // NOT coalesce(...) mirrors Dml.delete's NULL-predicate
      // semantics exactly (a NULL predicate does not delete the row)
      Some("SELECT * FROM customer WHERE NOT coalesce(c_acctbal < 0, FALSE)")),

    // UPDATE … FROM (join-form update, tmp/crud.txt:223-279): bump the
    // balance of every customer in region 2, joining through nation.
    // nation is unique on the join key, so the update is deterministic,
    // and the oracle expresses the final state as a LEFT JOIN + CASE.
    Q("m06_update_from",
      (s, d) =>
        Dml.updateFrom(
          Tables.t(s, d, "customer"),
          Dml.work("m06", d),
          Tables.t(s, d, "nation"),
          col("t.c_nationkey") === col("s.n_nationkey") &&
            col("s.n_regionkey") === 2,
          Map("c_acctbal" -> (col("t.c_acctbal") + 100.0))),
      Some("""SELECT c_custkey, c_name, c_nationkey,
             |CASE WHEN n_regionkey = 2 THEN c_acctbal + 100.0
             |ELSE c_acctbal END AS c_acctbal, c_mktsegment
             |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey"""
        .stripMargin.replace('\n', ' '))),

    // INSERT with an explicit column subset (tmp/crud.txt:186-188): the
    // omitted n_regionkey fills with typed NULL and every inserted column
    // is cast to the base schema's type.
    Q("m07_insert_subset",
      (s, d) => {
        val sq = s; import sq.implicits._
        val rows = Seq((27, "ATLANTIS")).toDF("n_nationkey", "n_name")
        Dml.insertValues(Tables.t(s, d, "nation"), rows, Dml.work("m07", d))
      },
      Some("""SELECT * FROM nation UNION ALL
             |SELECT CAST(27 AS INTEGER), 'ATLANTIS', CAST(NULL AS INTEGER)"""
        .stripMargin.replace('\n', ' '))),

    // Full DDL round trip through ExecutionContext: CREATE TABLE (typed,
    // parquet-backed) → INSERT OVERWRITE (idempotent re-runs) → CREATE
    // INDEX (metadata registry) → SELECT final state.
    Q("m05_ddl_roundtrip",
      (s, d) => {
        val ctx = new ExecutionContext(s)
        val loc = Dml.work("m05", d) + "/items"
        ctx.execute("DROP TABLE IF EXISTS g_ddl_items")
        ctx.execute(
          s"""CREATE TABLE g_ddl_items (id BIGINT, name STRING, score DOUBLE)
             |USING parquet LOCATION '$loc'""".stripMargin.replace('\n', ' '))
        ctx.execute(
          """INSERT OVERWRITE g_ddl_items
            |VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5), (3, 'gamma', 3.5)"""
            .stripMargin.replace('\n', ' '))
        ctx.execute("CREATE INDEX ON g_ddl_items (id)")
        ctx.execute("SELECT * FROM g_ddl_items")
      },
      Some("""SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'alpha', CAST(1.5 AS DOUBLE)),
             |(2, 'beta', 2.5), (3, 'gamma', 3.5)) t(id, name, score)"""
        .stripMargin.replace('\n', ' '))),

    // CONSTRAINT AUDIT — DDL with the full constraint surface through the
    // SQL rewrite path, data inserted past the unenforced constraints
    // (duplicate PK, duplicate UNIQUE name, negative CHECK qty — exactly
    // what recorded-not-enforced permits), then
    // ExecutionContext.auditConstraints turns the registry into violation
    // counts. notnull(id) = 0 is evidence the one constraint Spark DOES
    // enforce (NOT NULL in real DDL) held at write.
    Q("m08_constraint_audit",
      (s, d) => {
        val ctx = new ExecutionContext(s)
        val loc = Dml.work("m08", d) + "/audited"
        ctx.execute("DROP TABLE IF EXISTS g_audit_items")
        ctx.execute(
          s"""CREATE TABLE g_audit_items (id BIGINT PRIMARY KEY,
             |name STRING, qty INT, UNIQUE (name), CHECK (qty >= 0))
             |USING parquet LOCATION '$loc'"""
            .stripMargin.replace('\n', ' '))
        ctx.execute(
          """INSERT OVERWRITE g_audit_items VALUES
            |(1, 'a', 5), (1, 'b', -2), (2, 'a', 3), (3, 'c', 0)"""
            .stripMargin.replace('\n', ' '))
        ctx.auditConstraints("g_audit_items")
      },
      Some("""SELECT * FROM (VALUES
             |('check(qty >= 0)', CAST(1 AS BIGINT)),
             |('notnull(id)', CAST(0 AS BIGINT)),
             |('primary_key(id)', CAST(1 AS BIGINT)),
             |('unique(name)', CAST(1 AS BIGINT)))
             |t(constraint_name, n_violations)"""
        .stripMargin.replace('\n', ' '))),

    // TIME TRAVEL (VERSION AS OF) — the property the immutable-version +
    // atomic-pointer protocol buys beyond crash atomicity: committed
    // versions are never rewritten, so EVERY historical state stays
    // readable by name. The entry builds a three-version history in one
    // store (v0 = imported nation, v1 = after INSERT, v2 = after a
    // chained history-preserving DELETE) and emits all three versions
    // tagged — the oracle states each state explicitly. Re-runs are
    // idempotent: the same names are rewritten and the pointer lands
    // back on v2.
    Q("m09_time_travel",
      (s, d) => {
        val sq = s; import sq.implicits._
        val dir = Dml.work("m09", d)
        val rows = Seq((25, "LEMURIA", 2), (26, "ZEALANDIA", 3))
          .toDF("n_nationkey", "n_name", "n_regionkey")
        Dml.insertValues(Tables.t(s, d, "nation"), rows, dir) // v0, v1
        Dml.deleteLatest(s, dir, col("n_nationkey") === 25)   // v2
        Seq("v0", "v1", "v2")
          .map(v => Dml.readVersion(s, dir, v)
            .withColumn("version", lit(v)))
          .reduce(_ unionByName _)
      },
      Some("""WITH ins AS (SELECT * FROM (VALUES
             |(CAST(25 AS INTEGER), 'LEMURIA', CAST(2 AS INTEGER)),
             |(26, 'ZEALANDIA', 3)) t(n_nationkey, n_name, n_regionkey)),
             |v1 AS (SELECT * FROM nation UNION ALL SELECT * FROM ins)
             |SELECT 'v0' AS version, * FROM nation
             |UNION ALL SELECT 'v1' AS version, * FROM v1
             |UNION ALL SELECT 'v2' AS version, * FROM v1
             |WHERE n_nationkey <> 25"""
        .stripMargin.replace('\n', ' '))),

    // SQL-STATEMENT DML — the reference's actual CRUD surface is SQL text
    // (`tmp/crud.txt:203-301`), not a typed API: UPDATE…WHERE and
    // DELETE…WHERE route through ExecutionContext's statement bridge to
    // the same versioned store m03/m04 exercise directly, with the
    // result re-registered as the session view so the follow-up SELECT
    // (also SQL) reads the mutated state — a three-statement SQL session
    // under one oracle. The entry mutates its own registered view name,
    // never the shared catalog tables.
    Q("m10_sql_dml",
      (s, d) => {
        val ctx = new ExecutionContext(s)
        Tables.t(s, d, "supplier")
          .createOrReplaceTempView("g_sql_supplier")
        ctx.execute("""INSERT INTO g_sql_supplier VALUES
          (9999, 'NEWCO', 1, -100.0)""")
        ctx.execute("""UPDATE g_sql_supplier SET
          s_acctbal = s_acctbal + 500.0 WHERE s_acctbal < 0""")
        ctx.execute("DELETE FROM g_sql_supplier WHERE s_nationkey = 3")
        ctx.execute("SELECT * FROM g_sql_supplier")
      },
      Some("""WITH v1 AS (SELECT * FROM supplier UNION ALL
             |SELECT CAST(9999 AS BIGINT), 'NEWCO',
             |CAST(1 AS INTEGER), -100.0),
             |v2 AS (SELECT s_suppkey, s_name, s_nationkey,
             |CASE WHEN s_acctbal < 0 THEN s_acctbal + 500.0
             |ELSE s_acctbal END AS s_acctbal FROM v1)
             |SELECT * FROM v2 WHERE s_nationkey <> 3"""
        .stripMargin.replace('\n', ' '))),

    // MERGE INTO — the SQL-statement upsert (m10's missing sibling):
    // a source of 10 rows half-overlapping the nation keys updates the
    // 5 matched names and inserts the 5 unmatched rows, through
    // Dml.mergeOnRead's change commit; the follow-up SELECT reads the
    // re-registered session view. The oracle restates MERGE as its
    // relational definition: LEFT JOIN for the matched update, anti-join
    // for the inserts, UNION ALL.
    Q("m11_merge_into",
      (s, d) => {
        val ctx = new ExecutionContext(s)
        Tables.t(s, d, "nation").createOrReplaceTempView("g_merge_nation")
        s.sql("""SELECT n_nationkey + 20 AS nk,
          concat('NEW_', n_name) AS nm FROM g_merge_nation
          WHERE n_nationkey < 10""").createOrReplaceTempView("g_merge_src")
        ctx.execute("""MERGE INTO g_merge_nation USING g_merge_src
          ON g_merge_nation.n_nationkey = g_merge_src.nk
          WHEN MATCHED THEN UPDATE SET n_name = g_merge_src.nm
          WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name, n_regionkey)
          VALUES (g_merge_src.nk, g_merge_src.nm, 99)""")
        ctx.execute("SELECT * FROM g_merge_nation")
      },
      Some("""WITH src AS (SELECT n_nationkey + 20 AS nk,
             |'NEW_' || n_name AS nm FROM nation WHERE n_nationkey < 10),
             |upd AS (SELECT n.n_nationkey,
             |CASE WHEN s.nk IS NOT NULL THEN s.nm ELSE n.n_name END
             |AS n_name, n.n_regionkey
             |FROM nation n LEFT JOIN src s ON n.n_nationkey = s.nk),
             |ins AS (SELECT s.nk AS n_nationkey, s.nm AS n_name,
             |CAST(99 AS INTEGER) AS n_regionkey FROM src s
             |LEFT JOIN nation n ON s.nk = n.n_nationkey
             |WHERE n.n_nationkey IS NULL)
             |SELECT * FROM upd UNION ALL SELECT * FROM ins"""
        .stripMargin.replace('\n', ' '))),

    // m19: the FULL three-clause MERGE — m11 plus WHEN NOT MATCHED BY
    // SOURCE THEN DELETE, the table-SYNC statement (replicate a source
    // into a target in one MERGE: update the intersection, insert the
    // source-only rows, DELETE the target-only rows). Source keys
    // 10..29 against nation's 0..24 exercise all three fates: 10–24
    // update, 25–29 insert, 0–9 DELETE — the oracle restates each as
    // its relational definition (inner join / anti-join both ways).
    Q("m19_merge_sync",
      (s, d) => {
        val ctx = new ExecutionContext(s)
        Tables.t(s, d, "nation").createOrReplaceTempView("g_sync_nation")
        s.sql("""SELECT n_nationkey + 10 AS nk,
          concat('SYNC_', n_name) AS nm FROM g_sync_nation
          WHERE n_nationkey < 20""").createOrReplaceTempView("g_sync_src")
        ctx.execute("""MERGE INTO g_sync_nation USING g_sync_src
          ON g_sync_nation.n_nationkey = g_sync_src.nk
          WHEN MATCHED THEN UPDATE SET n_name = g_sync_src.nm
          WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name, n_regionkey)
          VALUES (g_sync_src.nk, g_sync_src.nm, 77)
          WHEN NOT MATCHED BY SOURCE THEN DELETE""")
        ctx.execute("SELECT * FROM g_sync_nation")
      },
      Some("""WITH src AS (SELECT n_nationkey + 10 AS nk,
             |'SYNC_' || n_name AS nm FROM nation WHERE n_nationkey < 20),
             |upd AS (SELECT n.n_nationkey, s.nm AS n_name, n.n_regionkey
             |FROM nation n JOIN src s ON n.n_nationkey = s.nk),
             |ins AS (SELECT s.nk AS n_nationkey, s.nm AS n_name,
             |CAST(77 AS INTEGER) AS n_regionkey FROM src s
             |LEFT JOIN nation n ON s.nk = n.n_nationkey
             |WHERE n.n_nationkey IS NULL)
             |SELECT * FROM upd UNION ALL SELECT * FROM ins"""
        .stripMargin.replace('\n', ' '))),

    // m20: ALTER TABLE column evolution — the WRITE side of io04's
    // schema-evolution read: ADD COLUMN (typed NULL for rows predating
    // the column — the lakehouse backfill contract), an UPDATE
    // populating it for a predicate class, RENAME, and DROP, each a
    // separate SQL statement against the session view, with the final
    // SELECT reading the evolved schema. The oracle restates the whole
    // five-statement session as one expression. DROP removes the money
    // column, which also keeps the gated output float-free.
    Q("m20_alter_table",
      (s, d) => {
        val ctx = new ExecutionContext(s)
        Tables.t(s, d, "supplier")
          .createOrReplaceTempView("g_alter_supplier")
        ctx.execute("ALTER TABLE g_alter_supplier ADD COLUMN tier STRING")
        ctx.execute("""UPDATE g_alter_supplier SET tier = 'premium'
          WHERE s_acctbal > 5000.0""")
        ctx.execute(
          "ALTER TABLE g_alter_supplier RENAME COLUMN tier TO band")
        ctx.execute("ALTER TABLE g_alter_supplier DROP COLUMN s_acctbal")
        ctx.execute("SELECT * FROM g_alter_supplier")
      },
      Some("""SELECT s_suppkey, s_name, s_nationkey,
             |CASE WHEN s_acctbal > 5000.0 THEN 'premium' END AS band
             |FROM supplier"""
        .stripMargin.replace('\n', ' '))),

    // m21: SHALLOW CLONE — see [[Dml.shallowClone]]. Harness: source =
    // nation + an inserted marker row (v0, v1); clone forks at v1 via
    // the zero-copy reference (the entry REQUIREs that no clone/v0
    // data directory exists — the "shallow" contract is asserted, not
    // assumed); then BOTH sides mutate independently (source deletes
    // keys < 5, clone deletes keys >= 20 except the marker) and the
    // gate reads both final states — divergence-by-change-commit with
    // neither side seeing the other's delete, stated arithmetically
    // by the oracle.
    Q("m21_shallow_clone",
      (s, d) => {
        val sq = s; import sq.implicits._
        val src = Dml.work("m21", d) + "/src"
        val dst = Dml.work("m21", d) + "/clone"
        val marker = Seq((99, "ZZZ_MARKER", 0))
          .toDF("n_nationkey", "n_name", "n_regionkey")
        Dml.insertValues(Tables.t(s, d, "nation"), marker, src) // v0,v1
        Dml.shallowClone(s, src, dst)
        require(!java.nio.file.Files.exists(
            java.nio.file.Paths.get(dst, "v0")),
          "shallow clone must not copy data")
        Dml.deleteLatest(s, src, col("n_nationkey") < 5)       // src v2
        Dml.deleteLatest(s, dst,                               // clone v1
          col("n_nationkey") >= 20 && col("n_nationkey") =!= 99)
        Dml.readLatest(s, src).withColumn("side", lit("src"))
          .unionByName(
            Dml.readLatest(s, dst).withColumn("side", lit("clone")))
      },
      Some("""WITH v1 AS (SELECT * FROM nation UNION ALL
             |SELECT CAST(99 AS INTEGER), 'ZZZ_MARKER',
             |CAST(0 AS INTEGER))
             |SELECT *, 'src' AS side FROM v1 WHERE n_nationkey >= 5
             |UNION ALL SELECT *, 'clone' FROM v1
             |WHERE n_nationkey < 20 OR n_nationkey = 99"""
        .stripMargin.replace('\n', ' '))),

    // TABLE HISTORY (DESCRIBE HISTORY) — the introspection the
    // versioned store earns from immutable version directories plus
    // the commit pointer: m09's three-version lineage (import, +2
    // insert, −1 delete) read back as a history relation with row
    // counts, per-commit deltas, and the current-pointer flag. The
    // oracle derives every count from the live nation cardinality, so
    // the gate holds the enumeration order, the lag-delta arithmetic,
    // and pointer resolution. See [[Dml.history]].
    Q("m22_history",
      (s, d) => {
        val sq = s; import sq.implicits._
        val dir = Dml.work("m22", d)
        val rows = Seq((25, "LEMURIA", 2), (26, "ZEALANDIA", 3))
          .toDF("n_nationkey", "n_name", "n_regionkey")
        Dml.insertValues(Tables.t(s, d, "nation"), rows, dir) // v0, v1
        Dml.deleteLatest(s, dir, col("n_nationkey") === 25)   // v2
        Dml.history(s, dir)
      },
      Some("""WITH n AS (SELECT count(*) AS c FROM nation)
             |SELECT 'v0' AS version, c AS n_rows,
             |CAST(NULL AS BIGINT) AS delta_rows, FALSE AS is_current
             |FROM n
             |UNION ALL SELECT 'v1', c + 2, 2, FALSE FROM n
             |UNION ALL SELECT 'v2', c + 1, -1, TRUE FROM n"""
        .stripMargin.replace('\n', ' '))),

    // OPTIMIZE (small-file compaction) — see [[Dml.optimize]]: the
    // insert's multi-file v1 rewrites into a single-file v2 holding
    // the IDENTICAL rows, and the gate hash-compares the post-compact
    // read, so any row lost/duplicated/mutated by the rewrite flips
    // the driver red. The file-count drop and pointer advance are
    // DmlSpec's runtime evidence (file layout is partition-count
    // dependent — not oracle territory).
    Q("m23_optimize",
      (s, d) => {
        val sq = s; import sq.implicits._
        val dir = Dml.work("m23", d)
        val rows = Seq((25, "LEMURIA", 2), (26, "ZEALANDIA", 3))
          .toDF("n_nationkey", "n_name", "n_regionkey")
        Dml.insertValues(Tables.t(s, d, "nation"), rows, dir) // v0, v1
        Dml.optimize(s, dir)                                  // v2
        Dml.readLatest(s, dir)
      },
      Some("""SELECT * FROM nation
             |UNION ALL SELECT * FROM (VALUES
             |(CAST(25 AS INTEGER), 'LEMURIA', CAST(2 AS INTEGER)),
             |(26, 'ZEALANDIA', 3)) t(n_nationkey, n_name, n_regionkey)"""
        .stripMargin.replace('\n', ' '))),

    // CREATE INDEX MATERIALIZED onto the bucketed layout (r12 verdict
    // item 9): §2.11 #34's registry was honest metadata because Spark
    // has no secondary index — but the thing an index BUYS on a
    // cluster, shuffle-free key access, Spark does have: a bucketed
    // copy. createIndex(materialize = true) pays the one-time build
    // shuffle ([[Layouts.writeBucketed]], 8 buckets on the leading
    // index column) and indexedScan serves the copy, so the
    // orders ⋈ lineitem key join plans as a SortMergeJoin over two
    // bucketed scans with ZERO Exchange (hint("merge") keeps the plan
    // shape deterministic across sf — PLANS.md carries the evidence;
    // BucketingSpec asserts the no-Exchange property live). Shares
    // io05's oracle VERBATIM: one oracle, two paths — the layout-level
    // write (io05) and the DDL surface (this entry) must agree row for
    // row, and indexedScan without an index would still satisfy it,
    // so the gate holds CONTENT identity while the spec holds the
    // plan property.
    Q("m24_index_bucketed_join",
      (s, d) => {
        val ctx = new ExecutionContext(s).registerTestData(d)
        // re-runs are hermetic without a drop: the registry is
        // per-context, and writeBucketed's freshManagedTable clears
        // any prior JVM's copy before the build
        ctx.createIndex(Some("ix_m24_orders"), "orders",
          Seq("o_orderkey"), materialize = true)
        ctx.createIndex(Some("ix_m24_lineitem"), "lineitem",
          Seq("l_orderkey"), materialize = true)
        ctx.indexedScan("orders", "o_orderkey").hint("merge")
          .join(ctx.indexedScan("lineitem", "l_orderkey").hint("merge"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("qty"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY 1""".stripMargin.replace('\n', ' ')),
      bench = true),

    // DELETE as a DELETION VECTOR — see [[Dml.deleteLatest]]: the
    // commit reuses v0's data directory untouched and adds an
    // O(deleted-rows) sidecar, applied as a broadcast anti-join at
    // read. The gate holds the LOGICAL result to m04's relational
    // contract (negated WHERE with the same NULL semantics); the
    // zero-rewrite property, null-field deletes, duplicate-row
    // semantics, accumulation, compaction, and vacuum's dangling-ref
    // guard are DmlSpec's runtime evidence (file layout is not
    // oracle territory).
    Q("m25_deletion_vector",
      (s, d) => {
        val dir = Dml.work("m25", d)
        Dml.publish(Tables.t(s, d, "orders"), dir)
        Dml.deleteLatest(s, dir,
          col("o_orderpriority") === "1-URGENT" &&
            col("o_totalprice") < 50000.0)
      },
      Some("""SELECT * FROM orders WHERE NOT coalesce(
             |o_orderpriority = '1-URGENT' AND o_totalprice < 50000.0,
             |FALSE)""".stripMargin.replace('\n', ' '))),

    // The SQL surface of the deletion vector: ExecutionContext's DELETE
    // statement commits through [[Dml.deleteLatest]]. Shares m04's
    // relational contract — the API and SQL forms of one commit path
    // under one oracle (the store-shape evidence is
    // ExecutionContextSpec's). The entry mutates its OWN registered view
    // name (m10's discipline), never the shared catalog tables.
    Q("m26_sql_dv_delete",
      (s, d) => {
        val ctx = new ExecutionContext(s)
        Tables.t(s, d, "customer")
          .createOrReplaceTempView("g_dv_customer")
        ctx.execute("DELETE FROM g_dv_customer WHERE c_acctbal < 0")
      },
      Some("SELECT * FROM customer WHERE NOT coalesce(c_acctbal < 0, FALSE)")),

    // MERGE as an O(changes) commit through the typed API: the same
    // upsert as m11's SQL statement, committed as the sidecar pair (data
    // dir untouched via _ref; matched pre-images in _dv; updated images
    // + inserts in _append). Shares m11's oracle VERBATIM — one
    // relational contract for the API and SQL forms; the store-shape
    // evidence (zero-rewrite, sidecar sizes, history arithmetic,
    // optimize fold) is DmlSpec's.
    Q("m27_merge_on_read",
      (s, d) => {
        val nation = Tables.t(s, d, "nation")
        val src = nation.filter(col("n_nationkey") < 10)
          .select((col("n_nationkey") + 20).as("nk"),
            concat(lit("NEW_"), col("n_name")).as("nm"))
        val dir = Dml.work("m27", d)
        Dml.publish(nation, dir)
        Dml.mergeOnRead(s, dir, src,
          cond = col("t.n_nationkey") === col("s.nk"),
          assignments = Map("n_name" -> col("s.nm")),
          insertCols = Some(Seq("n_nationkey", "n_name", "n_regionkey")),
          insertVals = Some(Seq(col("s.nk"), col("s.nm"), lit(99))))
      },
      Some("""WITH src AS (SELECT n_nationkey + 20 AS nk,
             |'NEW_' || n_name AS nm FROM nation WHERE n_nationkey < 10),
             |upd AS (SELECT n.n_nationkey,
             |CASE WHEN s.nk IS NOT NULL THEN s.nm ELSE n.n_name END
             |AS n_name, n.n_regionkey
             |FROM nation n LEFT JOIN src s ON n.n_nationkey = s.nk),
             |ins AS (SELECT s.nk AS n_nationkey, s.nm AS n_name,
             |CAST(99 AS INTEGER) AS n_regionkey FROM src s
             |LEFT JOIN nation n ON s.nk = n.n_nationkey
             |WHERE n.n_nationkey IS NULL)
             |SELECT * FROM upd UNION ALL SELECT * FROM ins"""
        .stripMargin.replace('\n', ' '))),

    // The SQL surface of merge-on-read: ExecutionContext's MERGE
    // statement commits through [[Dml.mergeOnRead]]. Shares m11's
    // relational contract (m26's discipline applied to MERGE); the
    // store-shape evidence is ExecutionContextSpec's. The entry mutates
    // its OWN registered view name.
    Q("m28_sql_mor_merge",
      (s, d) => {
        val ctx = new ExecutionContext(s)
        Tables.t(s, d, "nation").createOrReplaceTempView("g_mor_nation")
        s.sql("""SELECT n_nationkey + 20 AS nk,
          concat('NEW_', n_name) AS nm FROM g_mor_nation
          WHERE n_nationkey < 10""").createOrReplaceTempView("g_mor_src")
        ctx.execute("""MERGE INTO g_mor_nation USING g_mor_src
          ON g_mor_nation.n_nationkey = g_mor_src.nk
          WHEN MATCHED THEN UPDATE SET n_name = g_mor_src.nm
          WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name, n_regionkey)
          VALUES (g_mor_src.nk, g_mor_src.nm, 99)""")
        ctx.execute("SELECT * FROM g_mor_nation")
      },
      Some("""WITH src AS (SELECT n_nationkey + 20 AS nk,
             |'NEW_' || n_name AS nm FROM nation WHERE n_nationkey < 10),
             |upd AS (SELECT n.n_nationkey,
             |CASE WHEN s.nk IS NOT NULL THEN s.nm ELSE n.n_name END
             |AS n_name, n.n_regionkey
             |FROM nation n LEFT JOIN src s ON n.n_nationkey = s.nk),
             |ins AS (SELECT s.nk AS n_nationkey, s.nm AS n_name,
             |CAST(99 AS INTEGER) AS n_regionkey FROM src s
             |LEFT JOIN nation n ON s.nk = n.n_nationkey
             |WHERE n.n_nationkey IS NULL)
             |SELECT * FROM upd UNION ALL SELECT * FROM ins"""
        .stripMargin.replace('\n', ' '))),

    // CREATE TABLE AS SELECT — the remaining DDL statement form after
    // m05's column-list CREATE: the derived summary materializes as a
    // real parquet catalog table and the follow-up SELECT reads it
    // back through the catalog. Re-runnable: the previous run's table
    // and location drop first (external-table DROP leaves files; the
    // location must be cleared explicitly).
    Q("m12_ctas",
      (s, d) => {
        val ctx = new ExecutionContext(s).registerTestData(d)
        ctx.execute("DROP TABLE IF EXISTS g_ctas_nation_summary")
        val loc = Dml.work("m12", d) + "/ctas"
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(loc))
        ctx.execute(s"""CREATE TABLE g_ctas_nation_summary
          USING parquet LOCATION '$loc'
          AS SELECT n_regionkey, count(*) AS n_nations,
          min(n_name) AS first_name FROM nation GROUP BY n_regionkey""")
        ctx.execute("SELECT * FROM g_ctas_nation_summary")
      },
      Some("""SELECT n_regionkey, count(*) AS n_nations,
             |min(n_name) AS first_name FROM nation GROUP BY 1"""
        .stripMargin.replace('\n', ' '))),

    // NATIVE INSERT INTO <catalog table> SELECT — the reference's
    // source-plan insert (`/root/reference/tmp/crud.txt:192-200`: Insert
    // with `source: Some(plan)`) against a CATALOG table, which takes
    // Spark's native append path through the ExecutionContext dispatch
    // (m02/m10 cover the temp-view bridge; this is the other branch,
    // previously spec-only). DROP + CREATE each run keeps the append
    // deterministic; the join SELECT proves an arbitrary source plan, not
    // just VALUES, feeds the insert.
    Q("m13_insert_select_native",
      (s, d) => {
        val ctx = new ExecutionContext(s).registerTestData(d)
        val loc = Dml.work("m13", d) + "/nations_named"
        ctx.execute("DROP TABLE IF EXISTS g_ins_nations")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(loc))
        ctx.execute(s"""CREATE TABLE g_ins_nations
          (n_name STRING, r_name STRING) USING parquet LOCATION '$loc'""")
        ctx.execute("""INSERT INTO g_ins_nations
          SELECT n.n_name, r.r_name FROM nation n
          JOIN region r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name IN ('ASIA', 'EUROPE')""")
        ctx.execute("SELECT * FROM g_ins_nations")
      },
      Some("""SELECT n.n_name, r.r_name FROM nation n
             |JOIN region r ON n.n_regionkey = r.r_regionkey
             |WHERE r.r_name IN ('ASIA', 'EUROPE')"""
        .stripMargin.replace('\n', ' '))),

    // SNAPSHOT DIFF / CHANGE FEED — what m09's immutable version history
    // is FOR: an incremental consumer that last saw version k replays
    // only the delta, never rescans the table. The entry builds m09's
    // three-version history in its own store and emits
    // [[Dml.snapshotDiff]] for each adjacent pair, tagged with the step;
    // the oracle states the expected change feed literally (v0→v1: the
    // two inserted rows; v1→v2: the deleted row). Full-row multiset
    // semantics — no primary-key assumption — via exceptAll's
    // hash-partition shuffle, linear in the two snapshots.
    Q("m14_snapshot_diff",
      (s, d) => {
        val sq = s; import sq.implicits._
        val dir = Dml.work("m14", d)
        val rows = Seq((25, "LEMURIA", 2), (26, "ZEALANDIA", 3))
          .toDF("n_nationkey", "n_name", "n_regionkey")
        Dml.insertValues(Tables.t(s, d, "nation"), rows, dir) // v0, v1
        Dml.deleteLatest(s, dir, col("n_nationkey") === 25)   // v2
        def v(x: String) = Dml.readVersion(s, dir, x)
        Dml.snapshotDiff(v("v0"), v("v1"))
          .withColumn("step", lit("v0..v1"))
          .unionByName(Dml.snapshotDiff(v("v1"), v("v2"))
            .withColumn("step", lit("v1..v2")))
      },
      Some("""SELECT CAST(25 AS INTEGER) AS n_nationkey,
             |'LEMURIA' AS n_name, CAST(2 AS INTEGER) AS n_regionkey,
             |'insert' AS op, 'v0..v1' AS step
             |UNION ALL SELECT 26, 'ZEALANDIA', 3, 'insert', 'v0..v1'
             |UNION ALL SELECT 25, 'LEMURIA', 2, 'delete', 'v1..v2'"""
        .stripMargin.replace('\n', ' '))),

    // SCHEMA DIFF / data-contract report — io04 proves the engine READS
    // mixed schema versions; this reports WHAT changed between two real
    // parquet drops ([[Dml.schemaDiff]]: footer metadata only, no data
    // scan at any scale). The entry writes a v1 drop missing a column
    // and a v2 drop that restores it plus retypes another, then diffs
    // the real footers; the oracle states the expected report.
    Q("m15_schema_diff",
      (s, d) => {
        val dir = Dml.work("m15", d) + "/nation_contract"
        val base = Tables.t(s, d, "nation")
        base.select("n_nationkey", "n_name")
          .write.mode("overwrite").parquet(s"$dir/v1")
        base.select(col("n_nationkey"), col("n_name"),
            col("n_regionkey").cast("bigint").as("n_regionkey"))
          .write.mode("overwrite").parquet(s"$dir/v2")
        Dml.schemaDiff(s, s"$dir/v1", s"$dir/v2")
      },
      Some("""SELECT 'n_nationkey' AS column_name, 'int' AS v1_type,
             |'int' AS v2_type, 'unchanged' AS change
             |UNION ALL SELECT 'n_name', 'string', 'string', 'unchanged'
             |UNION ALL SELECT 'n_regionkey', CAST(NULL AS VARCHAR),
             |'bigint', 'added'"""
        .stripMargin.replace('\n', ' '))),

    // VACUUM / retention under the hash gate — the maintenance half of
    // the m09 history contract: build a four-version chain (insert →
    // delete → delete), expire everything outside a keep-2 window
    // ([[Dml.vacuum]]: directory deletes only, the committed target
    // always survives), and report per-version presence + row count of
    // what remains. The oracle restates the surviving counts from the
    // logical table and the presence flags literally — vacuumed history
    // MUST read as gone, surviving versions bit-intact. v1 survives the
    // window: its data directory is the one v2 and v3 read through their
    // `_ref` (vacuum's dangling-ref guard), so it stays readable. The
    // per-version count() readouts are metadata-scale maintenance
    // actions (m15's footer-read class), not a data path.
    Q("m16_vacuum",
      (s, d) => {
        val sq = s; import sq.implicits._
        val dir = Dml.work("m16", d)
        val rows = Seq((25, "LEMURIA", 2), (26, "ZEALANDIA", 3))
          .toDF("n_nationkey", "n_name", "n_regionkey")
        Dml.insertValues(Tables.t(s, d, "nation"), rows, dir) // v0, v1
        Dml.deleteLatest(s, dir, col("n_nationkey") === 25)   // v2
        Dml.deleteLatest(s, dir, col("n_regionkey") === 0)    // v3
        Dml.vacuum(s, dir, keep = 2)                          // - v0
        Seq("v0", "v1", "v2", "v3").map { v =>
          val p = new java.io.File(s"$dir/$v").exists ||
            new java.io.File(s"$dir/${v}_ref").exists
          (v, p, if (p) Dml.readVersion(s, dir, v).count() else 0L)
        }.toDF("version", "present", "n_rows")
      },
      Some("""SELECT 'v0' AS version, false AS present,
             |CAST(0 AS BIGINT) AS n_rows
             |UNION ALL SELECT 'v1', true, (SELECT count(*) + 2 FROM nation)
             |UNION ALL SELECT 'v2', true,
             |(SELECT count(*) + 1 FROM nation)
             |UNION ALL SELECT 'v3', true,
             |(SELECT count(*) + 1 FROM nation) -
             |(SELECT count(*) FROM nation WHERE n_regionkey = 0)"""
        .stripMargin.replace('\n', ' '))),

    // CONSTRAINT-ENFORCING INSERT under the hash gate — see
    // [[Dml.insertValidated]]: four incoming rows (one valid, one
    // NULL-name, one PK-duplicate of an existing key, one negative
    // region failing the CHECK) split into a committed set and a
    // reasoned quarantine; the oracle states the reject taxonomy
    // literally and the committed count from the logical table.
    Q("m17_validated_insert",
      (s, d) => {
        val sq = s; import sq.implicits._
        val dir = Dml.work("m17", d)
        val rows = Seq(
          (25, "ATLANTIS", 2),
          (26, null.asInstanceOf[String], 3),
          (10, "DUPLICATE", 1),
          (27, "NEGATIVE", -1))
          .toDF("n_nationkey", "n_name", "n_regionkey")
        val (committed, rejects) = Dml.insertValidated(
          Tables.t(s, d, "nation"), rows, dir,
          notNull = Seq("n_name"),
          checks = Seq("n_regionkey >= 0" -> (col("n_regionkey") >= 0)),
          pk = Seq("n_nationkey"))
        rejects.groupBy("reject_reason")
          .agg(count(lit(1)).as("n"))
          .select(col("reject_reason").as("item"), col("n"))
          .unionByName(committed.agg(count(lit(1)).as("n"))
            .select(lit("committed").as("item"), col("n")))
      },
      Some("""SELECT 'check(n_regionkey >= 0)' AS item,
             |CAST(1 AS BIGINT) AS n
             |UNION ALL SELECT 'notnull(n_name)', 1
             |UNION ALL SELECT 'primary_key(n_nationkey)', 1
             |UNION ALL SELECT 'committed', (SELECT count(*) + 1
             |FROM nation)"""
        .stripMargin.replace('\n', ' '))),

    // RESTORE TABLE … TO VERSION AS OF — the rollback statement (see
    // [[Dml.restore]]): insert two rows (v1), delete one of them (v2 —
    // the "bad" commit), restore to v1 (published as v3, pointer
    // forward). The entry reads the bad version AND the restored
    // latest, with the resolved pointer pinned as a column — so the
    // gate proves (a) the restored content equals v1 exactly, (b) the
    // bad commit stays readable after the restore, and (c) the pointer
    // landed on v3, not back on v1.
    Q("m18_restore",
      (s, d) => {
        val sq = s; import sq.implicits._
        val dir = Dml.work("m18", d)
        val rows = Seq((25, "LEMURIA", 2), (26, "ZEALANDIA", 3))
          .toDF("n_nationkey", "n_name", "n_regionkey")
        Dml.insertValues(Tables.t(s, d, "nation"), rows, dir) // v0, v1
        Dml.deleteLatest(s, dir, col("n_nationkey") === 25)   // v2 (bad)
        Dml.restore(s, dir, "v1")                             // v3 = v1
        val latest = Dml.currentVersion(dir)
        Dml.readVersion(s, dir, "v2").withColumn("version", lit("v2"))
          .unionByName(Dml.readLatest(s, dir)
            .withColumn("version", lit("latest")))
          .withColumn("pointer", lit(latest))
      },
      Some("""WITH ins AS (SELECT * FROM (VALUES
             |(CAST(25 AS INTEGER), 'LEMURIA', CAST(2 AS INTEGER)),
             |(26, 'ZEALANDIA', 3)) t(n_nationkey, n_name, n_regionkey)),
             |v1 AS (SELECT * FROM nation UNION ALL SELECT * FROM ins)
             |SELECT 'v2' AS version, 'v3' AS pointer, * FROM v1
             |WHERE n_nationkey <> 25
             |UNION ALL SELECT 'latest', 'v3', * FROM v1"""
        .stripMargin.replace('\n', ' ')))
  )
}
