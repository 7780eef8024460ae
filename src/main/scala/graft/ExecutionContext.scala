package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.types.StructType


/** Column definition with the reference's recorded per-column options —
  * nullable / DEFAULT / PRIMARY KEY (`tmp/crud.txt:388-421` converts these
  * into its IR; a primary-key column is implicitly NOT NULL there too).
  * `default` is the SQL expression text, recorded as metadata and applied
  * by [[Dml.insertValues]] when the column is omitted from an insert. */
final case class ColumnSpec(
    name: String,
    dataType: org.apache.spark.sql.types.DataType,
    nullable: Boolean = true,
    default: Option[String] = None,
    primaryKey: Boolean = false)

/** Table-level constraints (`tmp/crud.txt:439-479`) — recorded as table
  * properties, not enforced, matching both the reference (IR-only) and
  * Spark (no constraint enforcement on file-based tables). */
sealed trait TableConstraintDef
object TableConstraintDef {
  final case class PrimaryKey(columns: Seq[String]) extends TableConstraintDef
  final case class ForeignKey(
      columns: Seq[String],
      foreignTable: String,
      foreignColumns: Seq[String]) extends TableConstraintDef
  final case class Unique(columns: Seq[String]) extends TableConstraintDef
  final case class Check(expr: String) extends TableConstraintDef
}

/** The engine's public API — parity with the reference's `ExecutionContext`
  * (`/root/reference/src/context.rs:10-56`): construct with a dialect,
  * register tables, execute SQL, render plans. Differences are deliberate
  * improvements (SURVEY §7.1): `execute` returns real rows (the reference
  * prints the plan and returns `Ok(())`), the catalog is typed parquet
  * rather than a name-only map, and unknown functions fail at analysis
  * instead of being silently carried (`tmp/select.rs:583-611`).
  *
  * SQL goes straight to `spark.sql` — Catalyst is the planner/optimizer/
  * executor; only CREATE/DROP INDEX (which Spark SQL cannot parse) is
  * intercepted and routed to the metadata registry.
  */
class ExecutionContext(
    val spark: SparkSession,
    val dialect: String = "postgres") extends IndexSupport {

  require(
    ExecutionContext.dialects.contains(dialect.toLowerCase),
    s"Unsupported dialect: $dialect")

  // Engine-native function surface (the reference's scalar-function
  // passthrough accepts any name unvalidated; ours resolve against the
  // registry). Defined once in GraftFunctions, shared with the
  // SparkSessionExtensions path (graft.GraftExtensions).
  GraftFunctions.install(spark.sessionState.functionRegistry)

  // ---- catalog ----------------------------------------------------------

  /** Register a parquet dataset as a queryable table (replaces the
    * hard-coded 3-table seed at `/root/reference/src/context.rs:17-34`). */
  def registerParquet(name: String, path: String): ExecutionContext = {
    Tables.openParquet(spark, path).createOrReplaceTempView(name)
    this
  }

  /** Register a CSV dataset as a queryable table. Pass an explicit
    * `schema` at scale — inference (`schema = null`) costs one extra full
    * scan of the files before the first query can plan. */
  def registerCsv(
      name: String,
      path: String,
      schema: StructType = null,
      header: Boolean = true): ExecutionContext = {
    val r = spark.read.option("header", header.toString)
    val df =
      if (schema != null) r.schema(schema).csv(path)
      else r.option("inferSchema", "true").csv(path)
    df.createOrReplaceTempView(name)
    this
  }

  /** Register a JSON-lines dataset as a queryable table. Same schema
    * guidance as [[registerCsv]]: inference scans the data once. */
  def registerJson(
      name: String,
      path: String,
      schema: StructType = null): ExecutionContext = {
    val df =
      if (schema != null) spark.read.schema(schema).json(path)
      else spark.read.json(path)
    df.createOrReplaceTempView(name)
    this
  }

  /** Register the driver test-data star schema of `sfDir`. */
  def registerTestData(sfDir: String): ExecutionContext = {
    Tables.ensureRegistered(spark, sfDir)
    this
  }

  def tableExists(name: String): Boolean = spark.catalog.tableExists(name)

  /** Catalog lookup with the reference's exact error contract
    * (`tmp/select.rs:357-364`). */
  def table(name: String): DataFrame = {
    requireTable(name)
    spark.table(name)
  }

  private[graft] def requireTable(name: String): Unit =
    if (!tableExists(name))
      throw new IllegalArgumentException(
        s"Table: $name does not exist in database")

  // ---- execute / explain ------------------------------------------------

  /** Execute the FIRST statement of `sql` (the reference only ever plans
    * `ast[0]`, `src/context.rs:49`) and return its result. Unknown tables
    * surface the reference's error message. The statement is first
    * normalized from this context's dialect lexing to Spark's
    * ([[ExecutionContext.normalizeDialect]]) — quoted-identifier forms
    * and mssql's TOP, per the reference's 11-dialect constructor. */
  def execute(sql: String): DataFrame = {
    val stmt = ExecutionContext.normalizeDialect(
      ExecutionContext.firstStatement(sql), dialect)
    stmt match {
      case ExecutionContext.CreateMvRe(name, selectList, tbl, joinChain,
          whereText, groupList) =>
        sqlCreateMv(ExecutionContext.unquote(name),
          selectList, ExecutionContext.unquote(tbl),
          ExecutionContext.splitJoinChain(Option(joinChain).getOrElse(""))
            .map { case (t, on) => (ExecutionContext.unquote(t), on) },
          Option(whereText).map(_.trim).filter(_.nonEmpty), groupList)
      case ExecutionContext.RefreshMvRe(name) =>
        val (delta, total) =
          Mv.refreshIncremental(spark, ExecutionContext.unquote(name))
        import spark.implicits._
        Seq((delta, total)).toDF("delta_files", "total_files")
      case ExecutionContext.DropMvRe(ifExists, name) =>
        val dropped = Mv.drop(spark, ExecutionContext.unquote(name))
        require(dropped || ifExists != null,
          s"Materialized view: ${ExecutionContext.unquote(name)} " +
            "does not exist")
        spark.emptyDataFrame
      case ExecutionContext.ShowMvRe() =>
        import spark.implicits._
        Mv.status(spark).toDF()
      case ExecutionContext.AdviseMvRe(selectText) =>
        // the advisor as a statement: plan (never run) the inner SELECT
        // through this context, ask the rewrite's inverse for the summary
        // that would serve it — one row of registrable definition text,
        // or zero rows when the plan is already served / unservable
        import spark.implicits._
        Mv.adviseFor(execute(selectText)).toSeq
          .map(a => (a.dims.mkString(","), a.measures.mkString("; "),
            a.predicate.orNull, a.reason))
          .toDF("dims", "measures", "predicate", "reason")
      case ExecutionContext.CreateIndexRe(unique, ifNot, idxName, tbl, cols) =>
        createIndex(
          Option(idxName).map(ExecutionContext.unquote).filter(_.nonEmpty),
          ExecutionContext.unquote(tbl),
          ExecutionContext.splitList(cols).map(ExecutionContext.unquote)
            .filter(_.nonEmpty),
          unique = unique != null,
          ifNotExists = ifNot != null)
        spark.emptyDataFrame
      case ExecutionContext.DropIndexRe(ifExists, names, cascade) =>
        dropIndex(
          ExecutionContext.splitList(names).map(ExecutionContext.unquote)
            .filter(_.nonEmpty),
          ifExists = ifExists != null,
          cascade = cascade != null)
        spark.emptyDataFrame
      case ExecutionContext.UpdateRe(tbl, tail) =>
        val (setList, fromTbl, whereExpr) =
          ExecutionContext.splitUpdateTail(tail)
        sqlUpdate(ExecutionContext.unquote(tbl), setList,
          fromTbl.map(ExecutionContext.unquote), whereExpr)
      case ExecutionContext.DeleteRe(tbl, whereExpr) =>
        sqlDelete(ExecutionContext.unquote(tbl), Option(whereExpr))
      case ExecutionContext.MergeRe(tbl, tblAlias, src, srcAlias, onText,
          setList, insCols, insVals, bySourceDelete) =>
        sqlMerge(ExecutionContext.unquote(tbl), Option(tblAlias),
          ExecutionContext.unquote(src), Option(srcAlias), onText, setList,
          Option(insCols), Option(insVals), bySourceDelete != null)
      // INSERT INTO bridges to the Dml store ONLY for temp-view targets:
      // catalog tables (m05's CREATE TABLE … USING parquet) take Spark's
      // native INSERT path, which appends in place with its own semantics
      // (including native DEFAULT handling). Either way, a missing table
      // hits requireTable FIRST — the same reference error contract
      // ("Table: X does not exist in database") UPDATE/DELETE surface.
      case ExecutionContext.InsertValuesRe(tbl, cols, valuesText) =>
        val name = ExecutionContext.unquote(tbl)
        requireTable(name)
        if (isTempView(name))
          sqlInsert(name, Option(cols),
            spark.sql(s"SELECT * FROM (VALUES $valuesText)"))
        else spark.sql(stmt)
      case ExecutionContext.InsertSelectRe(tbl, cols, selectText) =>
        val name = ExecutionContext.unquote(tbl)
        requireTable(name)
        if (isTempView(name)) sqlInsert(name, Option(cols),
          spark.sql(selectText))
        else spark.sql(stmt)
      case ExecutionContext.AlterAddRe(tbl, rawSpecs) =>
        // `def`, not `val`: parsing must stay LAZY so a catalog table's
        // statement reaches sqlAlter's native spark.sql path even when a
        // spec uses syntax this scanner can't bind — eager parsing threw
        // on specs Spark itself handles. Backtick-quoted names accepted.
        val SpecRe = """(?s)^(?:`([^`]+)`|(\w+))\s+(.+)$""".r
        def specs = ExecutionContext.splitTopLevel(
            ExecutionContext.stripOuterParens(rawSpecs))
          .map(_.trim).filter(_.nonEmpty).map {
            case SpecRe(quoted, plain, colType) =>
              (Option(quoted).getOrElse(plain), colType.trim)
            case bad => throw new IllegalArgumentException(
              s"ALTER TABLE ADD COLUMN: cannot parse column spec '$bad'")
          }
        sqlAlter(tbl, stmt) { df =>
          specs.foldLeft(df) { case (acc, (colName, colType)) =>
            require(!acc.columns.exists(_.equalsIgnoreCase(colName)),
              s"ALTER TABLE ADD COLUMN: column '$colName' already exists")
            acc.withColumn(colName, expr(s"CAST(NULL AS $colType)"))
          }
        }
      case ExecutionContext.AlterRenameRe(tbl, from, to) =>
        sqlAlter(tbl, stmt) { df =>
          require(df.columns.exists(_.equalsIgnoreCase(from)),
            s"ALTER TABLE RENAME COLUMN: no column '$from'")
          df.withColumnRenamed(from, to)
        }
      case ExecutionContext.AlterDropRe(tbl, colName) =>
        sqlAlter(tbl, stmt) { df =>
          require(df.columns.exists(_.equalsIgnoreCase(colName)),
            s"ALTER TABLE DROP COLUMN: no column '$colName'")
          df.drop(colName)
        }
      case _ =>
        // CREATE TABLE with constraint clauses: strip them into graft.*
        // TBLPROPERTIES (the registry the typed createTable uses) so the
        // SQL path and the API path record identical metadata
        val toRun = ExecutionContext.rewriteCreateTable(stmt).getOrElse(stmt)
        try spark.sql(toRun)
        catch {
          case e: AnalysisException
              if e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") =>
            val missing = "`\\.?([^`]+)`".r.findFirstMatchIn(e.getMessage)
              .map(_.group(1)).getOrElse("?")
            throw new IllegalArgumentException(
              s"Table: $missing does not exist in database", e)
        }
    }
  }

  // ---- SQL DML bridge ----------------------------------------------------
  // The reference PLANS `INSERT`, `UPDATE … [FROM …] [WHERE …]`,
  // `DELETE FROM … [WHERE …]` and MERGE as SQL statements
  // (`tmp/crud.txt:203-301`); Spark rejects UPDATE/DELETE on file-backed
  // relations outright, so statements against a session view route
  // through a Dml versioned store instead ([[sqlCommit]]): the first
  // statement publishes the view as the store's v0, every statement
  // commits only its change as the next version, and the RESULT is
  // re-registered as the session's view of that table — SELECTs after the
  // statement see the new state, exactly the session semantics a
  // reference user has. Statement-session views SHADOW same-named catalog
  // tables by design (temp view precedence).

  // Work dirs are keyed by (JVM pid, per-JVM context id, per-context
  // sequence) on top of the table name — Dml.work's discipline: two
  // ExecutionContexts in one JVM (or two concurrent JVMs over the shared
  // target/) mutating the same table name must never overwrite each
  // other's version directories.
  private val sqlDmlCtx = ExecutionContext.nextCtxId()
  private var sqlDmlSeq = 0

  /** Per-view store continuity: (committed store dir, the exact
    * DataFrame last published to the view from it). Lets repeated DML
    * statements on one view extend one version chain instead of
    * re-publishing the table per statement. */
  private val dmlStores =
    scala.collection.mutable.Map[String, (String, DataFrame)]()
  private def sqlDmlDir(table: String): String = {
    sqlDmlSeq += 1
    val safe = table.replaceAll("[^A-Za-z0-9._-]", "_")
    val pid = ProcessHandle.current().pid()
    s"${Dml.scratchRoot}/sql/$safe/p$pid-c$sqlDmlCtx-s$sqlDmlSeq"
  }

  /** Run one DML statement against the view `table` as a change commit
    * on its store, and re-register the result as the view. The store
    * continues when the view still holds exactly what this context last
    * published to it (`sameResult`); a view re-registered elsewhere in
    * between (ALTER, a plain createOrReplaceTempView, another context)
    * is published as v0 of a fresh store — never grafted onto a chain it
    * no longer equals. */
  private def sqlCommit(table: String)(change: String => DataFrame)
      : DataFrame = {
    val view = spark.table(table)
    val dir = dmlStores.get(table).collect {
      case (d, published) if view.queryExecution.analyzed
          .sameResult(published.queryExecution.analyzed) => d
    }.getOrElse {
      val d = sqlDmlDir(table)
      Dml.publish(view, d)
      d
    }
    val out = change(dir)
    dmlStores(table) = (dir, out)
    out.createOrReplaceTempView(table)
    out
  }

  private def sqlAssignments(setList: String): Map[String, Column] =
    ExecutionContext.splitList(setList).map { a =>
      // top-level '=' only: a '=' inside a quoted name or literal on the
      // LHS cannot hijack the assignment split
      val i = ExecutionContext.topLevelIndexOf(a, '=')
      require(i > 0, s"Malformed SET assignment: $a")
      ExecutionContext.unquote(a.take(i).trim) -> expr(a.drop(i + 1).trim)
    }.toMap

  private def sqlUpdate(
      table: String,
      setList: String,
      fromTable: Option[String],
      whereExpr: Option[String]): DataFrame = {
    requireTable(table)
    val pred = whereExpr.map(expr).getOrElse(lit(true))
    fromTable.foreach(requireTable)
    sqlCommit(table) { dir =>
      fromTable match {
        case Some(src) =>
          // UPDATE t SET … FROM s WHERE …: qualify columns by the TABLE
          // NAMES (the aliases the join uses), per the reference's
          // planned join-form update
          Dml.updateFromLatest(spark, dir, spark.table(src),
            pred, sqlAssignments(setList),
            targetAlias = table, sourceAlias = src)
        case None =>
          Dml.updateLatest(spark, dir, pred, sqlAssignments(setList))
      }
    }
  }

  private def sqlDelete(
      table: String, whereExpr: Option[String]): DataFrame = {
    requireTable(table)
    val pred = whereExpr.map(expr).getOrElse(lit(true))
    sqlCommit(table)(Dml.deleteLatest(spark, _, pred))
  }

  /** MERGE INTO <t> USING <s> ON <cond>
    * WHEN MATCHED THEN UPDATE SET <assignments>
    * [WHEN NOT MATCHED THEN INSERT [(cols)] VALUES (exprs)]
    * [WHEN NOT MATCHED BY SOURCE THEN DELETE] — the supported MERGE
    * subset (one update action, one optional insert action, the
    * optional SYNC clause; no AND-guards). Commits through
    * [[Dml.mergeOnRead]] on the view's store like every SQL DML
    * statement ([[sqlCommit]]); columns in
    * the ON/SET/VALUES texts qualify by the declared aliases (or the
    * table names when no alias is given). */
  private def sqlMerge(
      table: String, tableAlias: Option[String],
      src: String, srcAlias: Option[String],
      onText: String, setList: String,
      insCols: Option[String], insVals: Option[String],
      bySourceDelete: Boolean = false): DataFrame = {
    requireTable(table)
    requireTable(src)
    val tAlias = tableAlias.getOrElse(table)
    val sAlias = srcAlias.getOrElse(src)
    // SET keys may qualify by the target alias OR the raw table name —
    // strip either; the assignment applies to the target column by name.
    // Every stripped key must BE a target column: Dml.mergeOnRead matches
    // assignments by name and would silently drop an unknown key (typo'd
    // column, source-alias qualification), yielding a silently wrong
    // MERGE instead of an error. Identifier comparison follows
    // spark.sql.caseSensitive (default false — `SET N_NAME = …` against
    // column n_name is valid SQL and must resolve, not throw); the
    // assignment key is canonicalized to the target column's declared
    // spelling so the exact-name matching downstream still hits.
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def norm(s: String): String =
      if (caseSensitive) s else s.toLowerCase(java.util.Locale.ROOT)
    val targetCols = spark.table(table).columns
    val byNorm = targetCols.map(c => norm(c) -> c).toMap
    val assignments = sqlAssignments(setList).map { case (k, v) =>
      val stripped =
        if (norm(k).startsWith(norm(tAlias) + ".")) k.drop(tAlias.length + 1)
        else if (norm(k).startsWith(norm(table) + ".")) k.drop(table.length + 1)
        else k
      val canonical = byNorm.get(norm(stripped))
      require(canonical.isDefined,
        s"MERGE SET column '$k' is not a column of target table " +
          s"'$table' (columns: ${targetCols.sorted.mkString(", ")})")
      canonical.get -> v
    }
    // Canonicalize INSERT column names the same way — and REQUIRE each to
    // be a real target column: Dml aligns them against the target
    // schema by exact name, so a case-mismatched OR typo'd column would
    // otherwise silently NULL-fill the real column and drop the value
    // (the same silent-wrong class the SET guard above rejects).
    val cols = insCols.map(ExecutionContext.splitList(_)
      .map(ExecutionContext.unquote).filter(_.nonEmpty)
      .map { c =>
        val canonical = byNorm.get(norm(c))
        require(canonical.isDefined,
          s"MERGE INSERT column '$c' is not a column of target table " +
            s"'$table' (columns: ${targetCols.sorted.mkString(", ")})")
        canonical.get
      })
    val vals = insVals.map(ExecutionContext.splitList(_)
      .map(v => expr(v.trim)))
    sqlCommit(table)(Dml.mergeOnRead(spark, _, spark.table(src),
      expr(onText), assignments, cols, vals,
      targetAlias = tAlias, sourceAlias = sAlias,
      notMatchedBySourceDelete = bySourceDelete))
  }

  /** CREATE MATERIALIZED VIEW <n> AS SELECT … FROM <t>
    * [JOIN <dim1> ON <cond1> [JOIN <dim2> ON <cond2> …]] [WHERE <pred>]
    * GROUP BY <dims> — register + materialize the rollup summary through
    * [[Mv.register]]; every subsequent matching aggregate over <t>
    * (through this context or plain DataFrame code — the rule is
    * session-global) transparently reads the summary. A WHERE clause
    * defines a PARTIAL summary: only predicate rows are aggregated and a
    * query rewrites only when its own filters restate (or range-imply)
    * the predicate. The JOIN form declares a STAR summary — a CHAIN of
    * joins declares the SNOWFLAKE form (fact ⋈ d1 ⋈ d2 …, the TPC-H Q5
    * spine the optimizer's multi-dim join rewrite serves): registration
    * stores the FACT-side spec — the summary is keyed by the fact-side
    * join keys of every level plus any fact-side GROUP BY columns — and
    * the dim side stays a live join at query time, so second-level join
    * keys (dim ⋈ dim, no fact column at all) only need to resolve
    * against the tables in scope. Measures must aggregate fact columns
    * only; a WHERE must be fact-side. The SELECT list may restate the
    * GROUP BY dims and join keys (conventional SQL); they are the
    * summary's key columns, so bare identifiers are skipped and
    * everything else must be an aliased sum/count/min/max measure
    * ([[Mv.register]] rejects the rest loudly). */
  private def sqlCreateMv(
      name: String, selectList: String,
      table: String, joins: Seq[(String, String)],
      whereText: Option[String],
      groupList: String): DataFrame = {
    requireTable(table)
    joins.foreach { case (t, _) => requireTable(t) }
    def stripQual(s0: String): String =
      ExecutionContext.unquote(s0.split('.').last.trim)
    // column references of a statement fragment, parsed via the session
    // parser — functions.expr() wraps the TEXT in a lazy SqlExpression
    // node with no tree to walk, so the guard must parse for itself.
    // Parse failures answer empty: these checks exist for ERROR QUALITY;
    // a fragment this parser can't handle still resolves (or errors
    // loudly) through the registration path below.
    def parsedRefs(text: String): Seq[String] =
      try spark.sessionState.sqlParser.parseExpression(text).collect {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          u.nameParts.last
      } catch { case _: Exception => Seq.empty }
    val groupCols = ExecutionContext.splitList(groupList)
      .map(stripQual).filter(_.nonEmpty)
    val fact = spark.table(table)
    val factCols = fact.columns.toSet
    // a WHERE predicate that fails to parse surfaces the splitter's
    // known limitation instead of a bare parser error. expr() wraps the
    // text LAZILY (a SqlExpression node — see parsedRefs above), so the
    // parse must run eagerly here for the curated diagnostic to fire;
    // the returned Column stays the expr() form the registration path
    // resolves.
    val where = whereText.map { w =>
      try {
        spark.sessionState.sqlParser.parseExpression(w)
        expr(w)
      }
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"CREATE MATERIALIZED VIEW $name: WHERE predicate '$w' failed " +
            "to parse. The statement splitter anchors the predicate " +
            "between WHERE and the LAST ' GROUP BY ' token, so a " +
            "predicate whose tail itself reads like ' GROUP BY " +
            "<identifiers>' (e.g. inside a trailing string literal) is " +
            s"not supported by this statement form: ${e.getMessage}")
      }
    }
    // the STAR/SNOWFLAKE form registers the FACT-side spec: dims =
    // fact-side join keys across ALL levels + fact-side GROUP BY
    // columns; dim-side GROUP BY columns are served by the live joins
    // at query time and only need to exist on a table in scope. dimSkip
    // is what the SELECT list may restate without being a measure.
    val (dims, dimSkip) =
      if (joins.isEmpty) (groupCols, groupCols.toSet)
      else {
        // each level resolves against the tables in scope so far (fact
        // + earlier dims + this level's dim) — a snowflake level's keys
        // may be entirely dim-side (supplier ⋈ nation), but every
        // reference must still belong to exactly ONE scoped table, or
        // the rebuilt join would be ambiguous
        var scope = Seq(table -> factCols)
        var factKeys = Seq.empty[String]
        var allOnRefs = Seq.empty[String]
        joins.foreach { case (dimT, onText) =>
          require(onText.nonEmpty, s"CREATE MATERIALIZED VIEW $name: " +
            s"JOIN $dimT requires an ON clause")
          val dimCols = spark.table(dimT).columns.toSet
          val inScope = scope :+ (dimT -> dimCols)
          val onRefs = parsedRefs(onText).map(stripQual)
          onRefs.foreach { r =>
            val owners = inScope.filter(_._2.contains(r)).map(_._1)
            require(owners.size == 1,
              s"CREATE MATERIALIZED VIEW $name: join key '$r' must " +
                s"belong to exactly one of ${inScope.map(_._1)
                  .mkString("/")}" +
                (if (owners.isEmpty) " — it is on none of them"
                 else s" — it is on ${owners.mkString(" and ")}"))
          }
          factKeys ++= onRefs.filter(factCols)
          allOnRefs ++= onRefs
          scope = inScope
        }
        require(factKeys.nonEmpty,
          s"CREATE MATERIALIZED VIEW $name: no ON clause references a " +
            s"$table column — nothing keys the fact-side summary")
        groupCols.filterNot(factCols).foreach(c =>
          require(scope.exists(_._2.contains(c)),
            s"CREATE MATERIALIZED VIEW $name: GROUP BY column '$c' is " +
              s"on none of ${scope.map(_._1).mkString("/")}"))
        whereText.foreach(w => parsedRefs(w).map(stripQual).foreach(r =>
          require(factCols.contains(r),
            s"CREATE MATERIALIZED VIEW $name: a WHERE over the star form " +
              s"may reference only fact-side columns; '$r' is not a " +
              s"column of $table")))
        ((groupCols.filter(factCols) ++ factKeys).distinct,
          (groupCols ++ allOnRefs).toSet)
      }
    val aggItems = ExecutionContext.splitList(selectList)
      .map(_.trim).filter(_.nonEmpty)
      .filterNot(item => dimSkip(stripQual(item)))
    require(aggItems.nonEmpty,
      s"CREATE MATERIALIZED VIEW $name: no measures in the SELECT list " +
        "(everything was a GROUP BY dimension)")
    if (joins.nonEmpty)
      aggItems.foreach(a => parsedRefs(a).map(stripQual).foreach(r =>
        require(factCols.contains(r),
          s"CREATE MATERIALIZED VIEW $name: measure reference '$r' is " +
            s"not a $table column — star-form measures aggregate the " +
            "fact only (dim-side aggregates are join-multiplicity-" +
            "sensitive and cannot be summarized)")))
    Mv.register(spark, name, fact, dims, aggItems.map(expr),
      sqlDmlDir(s"mv_$name"), where = where)
    spark.emptyDataFrame
  }

  /** Apply a schema-evolution transform to a session view (re-registered
    * under the same name); catalog tables keep Spark's native ALTER. */
  private def sqlAlter(tblRaw: String, stmt: String)(
      f: DataFrame => DataFrame): DataFrame = {
    val name = ExecutionContext.unquote(tblRaw)
    requireTable(name)
    if (isTempView(name)) {
      val out = f(spark.table(name))
      out.createOrReplaceTempView(name)
      out
    } else spark.sql(stmt)
  }

  private def isTempView(name: String): Boolean =
    spark.catalog.tableExists(name) &&
      (try spark.catalog.getTable(name).tableType == "TEMPORARY"
       catch { case _: Exception => false })

  /** INSERT INTO <view> [(cols)] VALUES …/SELECT … — rows bind
    * POSITIONALLY to the column list (or the table's column prefix),
    * reference semantics; omitted columns fill with typed NULL via
    * [[Dml.insertLatest]]'s alignment. */
  private def sqlInsert(
      table: String,
      colList: Option[String],
      rows: DataFrame): DataFrame = {
    requireTable(table)
    val base = spark.table(table)
    val names = colList.map(ExecutionContext.splitList(_)
        .map(ExecutionContext.unquote).filter(_.nonEmpty))
      .getOrElse(base.columns.toSeq.take(rows.columns.length))
    require(names.length == rows.columns.length,
      s"INSERT column count ${names.length} != value arity " +
        s"${rows.columns.length}")
    sqlCommit(table)(Dml.insertLatest(spark, _, rows.toDF(names: _*)))
  }

  /** Execute every statement; returns the last non-empty result — the
    * `executeAll` extension recommended in SURVEY §7.4-6. */
  def executeAll(sql: String): DataFrame =
    ExecutionContext.statements(sql).map(execute)
      .lastOption.getOrElse(spark.emptyDataFrame)

  /** Render the analyzed logical plan — parity with the reference's only
    * observable output, `format_plan` (`tmp/select.rs:625-746`). */
  def explain(sql: String): String =
    spark.sql(normalized(sql)).queryExecution.analyzed.treeString

  /** Full plan dump (parsed → analyzed → optimized → physical). */
  def explainExtended(sql: String): String =
    spark.sql(normalized(sql)).queryExecution.toString

  private def normalized(sql: String): String =
    ExecutionContext.normalizeDialect(
      ExecutionContext.firstStatement(sql), dialect)

  /** Render the analyzed plan in the reference's own `format_plan` text
    * shape: `-> Node: detail` lines, one-space indent per level.
    * [[explain]] stays the richer Catalyst `treeString`; this is the
    * byte-shape twin. Covers BOTH halves of the reference formatter:
    * queries (`tmp/select.rs:625-746`) analyze through Catalyst and
    * render node-by-node, while DML/DDL statements
    * (`tmp/crud.txt:652-857`: Insert/Update/Delete/CreateTable/
    * CreateIndex/DropTable/DropIndex) render from the parsed statement
    * WITHOUT executing — the reference's planner builds IR and prints
    * it, never runs it, and Spark would eagerly run a command handed to
    * `spark.sql`. Any other command form is rejected rather than
    * silently executed. */
  def explainReference(sql: String): String = {
    // comments stripped up front: the statement-shape regexes and the
    // query-head guard are ^-anchored, so a leading `/* tag */` or `--`
    // line would otherwise reject a statement spark.sql renders fine
    val stmt = ExecutionContext.stripComments(normalized(sql)).trim
    formatDmlReference(stmt).getOrElse {
      if (!ExecutionContext.QueryHeadRe.pattern.matcher(stmt).find())
        throw new IllegalArgumentException(
          "Unsupported statement for plan rendering: " + stmt.trim.take(40))
      graft.plans.ReferencePlanFormat.format(
        spark.sql(stmt).queryExecution.analyzed)
    }
  }

  /** The DML/DDL side of `format_plan` (`tmp/crud.txt:652-857`).
    * WHERE/SET/source expressions resolve against the session catalog
    * and print through [[graft.plans.ReferencePlanFormat]]'s vocabulary
    * — the q58 discipline: the node shape is the parity target, the
    * reference's Rust `{:?}` struct noise is not. Two reference quirks
    * deliberately not replicated (the #34 pointer-address precedent):
    * its CreateIndex line splices ` IF NOT EXISTS` twice, gluing
    * `EXISTSINDEX` (`tmp/crud.txt:772-790`) — we print one splice after
    * the index name; an unnamed index renders our deterministic
    * `idx_<table>_<cols>` instead of a pointer address. Returns None
    * for non-DML statements (the SELECT formatter path). */
  private def formatDmlReference(stmt: String): Option[String] = {
    import ExecutionContext._
    def colList(cols: String): String =
      Option(cols).map(c => " (" + splitList(c).map(unquote)
        .filter(_.nonEmpty).mkString(", ") + ")").getOrElse("")
    stmt match {
      case CreateIndexRe(unique, ifNot, idxName, tbl, cols) =>
        val t = unquote(tbl)
        val cs = splitList(cols).map(unquote).filter(_.nonEmpty)
        val name = Option(idxName).map(unquote).map(_.trim)
          .filter(_.nonEmpty).getOrElse(s"idx_${t}_${cs.mkString("_")}")
        val u = if (unique != null) "UNIQUE " else ""
        val ine = if (ifNot != null) " IF NOT EXISTS" else ""
        Some(s"-> CreateIndex: ${u}INDEX $name$ine ON $t (${cs.mkString(", ")})\n")
      case DropIndexRe(ifExists, names, cascade) =>
        val ns = splitList(names).map(unquote).filter(_.nonEmpty)
        val ie = if (ifExists != null) " IF EXISTS" else ""
        val ca = if (cascade != null) " CASCADE" else ""
        Some(s"-> DropIndex: ${ns.mkString(", ")}$ie$ca\n")
      case DropTableRe(ifExists, names, cascade) =>
        val ns = splitList(names).map(unquote).filter(_.nonEmpty)
        val ie = if (ifExists != null) " IF EXISTS" else ""
        val ca = if (cascade != null) " CASCADE" else ""
        Some(s"-> DropTable: ${ns.mkString(", ")}$ie$ca\n")
      case UpdateRe(tbl, tail) =>
        val name = unquote(tbl)
        requireTable(name)
        val (setList, fromTbl, whereExpr) = splitUpdateTail(tail)
        // resolution frame: target × FROM source, so a SET value or
        // WHERE predicate may reference either side (the reference's
        // Update IR carries `from` as a child plan)
        val frame = fromTbl.fold(spark.table(name))(f =>
          spark.table(name).crossJoin(fromDataFrame(f)))
        val sets = splitTopLevel(setList).map(_.trim).filter(_.nonEmpty)
          .map { a =>
            val eq = a.indexOf('=')
            s"${unquote(a.take(eq))} = ${refExprOn(frame, a.drop(eq + 1))}"
          }
        val sb = new StringBuilder(
          s"-> Update: $name SET [${sets.mkString(", ")}]\n")
        whereExpr.foreach(w =>
          sb ++= s"  WHERE: ${refPredicateOn(frame, w)}\n")
        fromTbl.foreach { f =>
          sb ++= "  FROM:\n"
          sb ++= refTableScanLine(f, indent = 2)
        }
        Some(sb.result())
      case DeleteRe(tbl, whereExpr) =>
        val name = unquote(tbl)
        requireTable(name)
        val sb = new StringBuilder(s"-> Delete: $name\n")
        Option(whereExpr).foreach(w =>
          sb ++= s"  WHERE: ${refPredicateOn(spark.table(name), w)}\n")
        Some(sb.result())
      case InsertValuesRe(tbl, cols, valuesText) =>
        val name = unquote(tbl)
        requireTable(name)
        val n = splitTopLevel(valuesText).count(_.trim.nonEmpty)
        Some(s"-> Insert: $name${colList(cols)}\n  Values: $n row(s)\n")
      case InsertSelectRe(tbl, cols, selectText) =>
        val name = unquote(tbl)
        requireTable(name)
        val src = graft.plans.ReferencePlanFormat.format(
          spark.sql(selectText).queryExecution.analyzed)
          .linesIterator.map("  " + _).mkString("", "\n", "\n")
        Some(s"-> Insert: $name${colList(cols)}\n  Source:\n$src")
      case _ => ExecutionContext.formatCreateTableReference(stmt)
    }
  }

  /** `name [AS] alias` → (table, alias). */
  private def fromParts(f: String): (String, Option[String]) = {
    val toks = f.trim.split("""\s+""").toSeq
    val alias =
      toks.drop(1).filterNot(_.equalsIgnoreCase("AS")).headOption
    (ExecutionContext.unquote(toks.head),
      alias.map(ExecutionContext.unquote))
  }

  private def fromDataFrame(f: String): DataFrame = {
    val (n, a) = fromParts(f)
    requireTable(n)
    a.fold(spark.table(n))(spark.table(n).as(_))
  }

  /** Resolve a scalar expression against `frame` and render it in the
    * reference vocabulary. */
  private def refExprOn(frame: DataFrame, text: String): String = {
    val an = frame.select(expr(text.trim).as("__v"))
      .queryExecution.analyzed
    val e = an.collectFirst {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.last
    }.get
    graft.plans.ReferencePlanFormat.formatExpr(e match {
      case al: org.apache.spark.sql.catalyst.expressions.Alias => al.child
      case other => other
    })
  }

  /** Resolve a predicate against `frame` and render it. */
  private def refPredicateOn(frame: DataFrame, text: String): String = {
    val an = frame.where(expr(text.trim)).queryExecution.analyzed
    val cond = an.collectFirst {
      case fl: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        fl.condition
    }.get
    graft.plans.ReferencePlanFormat.formatExpr(cond)
  }

  /** One reference `TableScan` line for an Update FROM source. */
  private def refTableScanLine(f: String, indent: Int): String = {
    val (n, a) = fromParts(f)
    requireTable(n)
    val aliasStr = a.filter(_ != n).map(x => s" AS $x").getOrElse("")
    val cols = spark.table(n).columns.mkString(", ")
    " " * indent + s"-> TableScan: $n$aliasStr projection=[$cols]\n"
  }

  // ---- DDL: tables ------------------------------------------------------

  /** CREATE TABLE with a typed schema at an explicit parquet location
    * (`tmp/crud.txt:281-310`; type mapping per SURVEY §1). Constraints are
    * recorded-not-enforced, matching both the reference and Spark. */
  def createTable(
      name: String,
      schema: StructType,
      location: String,
      ifNotExists: Boolean = false): Unit =
    createTable(
      name,
      schema.fields.toIndexedSeq
        .map(f => ColumnSpec(f.name, f.dataType, f.nullable)),
      Seq.empty,
      location,
      ifNotExists)

  /** CREATE TABLE with full column options and table constraints — the
    * reference's `convert_column_def`/`convert_table_constraint` surface
    * (`tmp/crud.txt:388-479`). NOT NULL goes into the real column DDL;
    * everything else (primary key, defaults, FK/UNIQUE/CHECK) is recorded
    * as `graft.*` table properties, round-trippable via
    * [[tableProperties]]. A primary-key column is implicitly NOT NULL. */
  def createTable(
      name: String,
      columns: Seq[ColumnSpec],
      constraints: Seq[TableConstraintDef],
      location: String,
      ifNotExists: Boolean): Unit = {
    if (tableExists(name)) {
      if (!ifNotExists)
        throw new IllegalArgumentException(s"Table: $name already exists")
    } else {
      // Backtick-quote every identifier (dotted table names quote per
      // part) and single-quote-escape string payloads — a name with a
      // quote/backtick or a path with a quote must not break the DDL.
      def bq(id: String) = "`" + id.replace("`", "``") + "`"
      def esc(s: String) = s.replace("'", "''")
      val tblDdl = name.split('.').map(bq).mkString(".")
      val colDdl = columns.map { c =>
        val nn = if (!c.nullable || c.primaryKey) " NOT NULL" else ""
        s"${bq(c.name)} ${c.dataType.sql}$nn"
      }.mkString(", ")
      val props = ExecutionContext.constraintProperties(columns, constraints)
      val propsDdl =
        if (props.isEmpty) ""
        else props.map { case (k, v) => s"'${esc(k)}'='${esc(v)}'" }
          .mkString(" TBLPROPERTIES (", ", ", ")")
      val ine = if (ifNotExists) "IF NOT EXISTS " else ""
      spark.sql(
        s"CREATE TABLE $ine$tblDdl ($colDdl) USING parquet " +
          s"LOCATION '${esc(location)}'$propsDdl")
    }
  }

  /** The table's properties (constraint/option metadata lives under
    * `graft.*` keys). */
  def tableProperties(name: String): Map[String, String] = {
    requireTable(name)
    spark.sql(s"SHOW TBLPROPERTIES $name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
  }

  /** CONSTRAINT AUDIT — the operator that makes the recorded-not-enforced
    * registry actionable: for every `graft.*` constraint on `name`,
    * count its violations in the current data. The reference (like
    * Spark) declares PK/FK/UNIQUE/CHECK without enforcing them
    * (`src/planner/common.rs:92-110`); a training-data pipeline
    * periodically runs exactly this report to catch drift the write path
    * let through. Returns (constraint_name, n_violations), one row per
    * recorded constraint, sorted by name:
    *
    *  - `primary_key(cols)` / `unique(cols)`: rows in excess of distinct
    *    key tuples (count(*) − count(distinct cols); rows with a null
    *    key column are skipped by the distinct count, SQL semantics).
    *  - `notnull(col)`: rows where the column is null (0 for columns the
    *    engine enforced at write — the audit PROVES enforcement held).
    *  - `check(expr)`: rows where the expression is definitely false
    *    (null = unknown passes, SQL standard).
    *  - `fk((a,b) REFERENCES t (x,y))`: rows whose fully-non-null key
    *    tuple has no match in the referenced table (left-anti count).
    *
    * Shape at 100 TB: each audit row is one partial-aggregate scan or
    * one anti-join — all declarative, unioned lazily into a single
    * frame; constraint cardinality is tiny, data never collects. */
  def auditConstraints(name: String): DataFrame = {
    import org.apache.spark.sql.functions._
    requireTable(name)
    val props = tableProperties(name)
    val t = spark.table(name)
    def dupViolations(label: String, cols: Seq[String]): DataFrame =
      t.agg((count(lit(1)) -
        countDistinct(cols.head, cols.tail: _*)).as("n"))
        .select(lit(label).as("constraint_name"),
          col("n").cast("long").as("n_violations"))
    def agg1(label: String,
        violated: org.apache.spark.sql.Column): DataFrame =
      t.agg(coalesce(sum(when(violated, 1L).otherwise(0L)), lit(0L))
        .as("n"))
        .select(lit(label).as("constraint_name"),
          col("n").cast("long").as("n_violations"))
    val FkRe = """\(([^)]*)\)\s+REFERENCES\s+(\S+)\s+\(([^)]*)\)""".r
    val audits: Seq[DataFrame] =
      props.get("graft.primary_key").toSeq.map { cs =>
        dupViolations(s"primary_key($cs)", cs.split(',').toSeq)
      } ++
      props.get("graft.notnull").toSeq.flatMap(_.split(',').toSeq).map { c =>
        agg1(s"notnull($c)", col(c).isNull)
      } ++
      props.collect { case (k, cs) if k.startsWith("graft.constraint.unique.") =>
        dupViolations(s"unique($cs)", cs.split(',').toSeq)
      } ++
      props.collect { case (k, e) if k.startsWith("graft.constraint.check.") =>
        agg1(s"check($e)", !coalesce(expr(e), lit(true)))
      } ++
      props.collect { case (k, v) if k.startsWith("graft.constraint.fk.") =>
        val FkRe(cols, ft, fcols) = v
        val keys = cols.split(',').map(_.trim).toSeq
        val fkeys = fcols.split(',').map(_.trim).toSeq
        requireTable(ft)
        val probe = t.filter(keys.map(col(_).isNotNull).reduce(_ && _))
        val target = spark.table(ft)
          .select(fkeys.zip(keys).map { case (f, k) => col(f).as(k) }: _*)
        probe.join(target, keys, "left_anti")
          .agg(count(lit(1)).as("n"))
          .select(lit(s"fk($v)").as("constraint_name"),
            col("n").cast("long").as("n_violations"))
      }
    audits
      .reduceOption(_.union(_))
      .getOrElse(spark.emptyDataFrame
        .select(lit("").as("constraint_name"),
          lit(0L).as("n_violations")).limit(0))
      .orderBy("constraint_name")
  }

  /** DROP TABLE [IF EXISTS] name[, ...] [CASCADE] — multi-name with
    * existence validation (`tmp/crud.txt:349-371`); CASCADE also drops the
    * table's registered indexes. */
  def dropTable(
      names: Seq[String],
      ifExists: Boolean = false,
      cascade: Boolean = false): Unit =
    names.foreach { n =>
      if (!tableExists(n)) {
        if (!ifExists) requireTable(n)
      } else {
        spark.sql(s"DROP TABLE IF EXISTS $n")
        if (cascade) indexRegistry.filterInPlace((_, ix) => ix.table != n)
      }
    }

}

object ExecutionContext {


  /** The reference's 11 accepted dialect keys (`src/lib.rs:9-23`). Spark
    * parses one dialect; the parameter is validated for API parity and
    * otherwise advisory (SURVEY §7.4-3). */
  val dialects: Set[String] = Set(
    "ansi", "bigquery", "clickhouse", "duckdb", "generic", "hive", "mssql",
    "postgres", "redshift", "sqlite", "snowflake")

  // One identifier part: bare word, `backticked`, or "double-quoted"
  // (sqlparser accepts all three, `tmp/crud.txt:312-347`); a full
  // identifier is one or more dot-separated parts (schema-qualified).
  private val IdentPart = """(?:[A-Za-z_][\w]*|`(?:[^`]|``)+`|"(?:[^"]|"")+")"""
  private val Ident = s"""$IdentPart(?:\\s*\\.\\s*$IdentPart)*"""
  private val IdentPartRe = IdentPart.r

  private[graft] val CreateIndexRe =
    (s"""(?is)^\\s*CREATE\\s+(UNIQUE\\s+)?INDEX\\s+(IF\\s+NOT\\s+EXISTS\\s+)?""" +
      s"""($Ident\\s+)?ON\\s+($Ident)\\s*\\(([^)]*)\\)\\s*$$""").r

  // CASCADE must be preceded by whitespace AND optional as a UNIT: with a
  // bare `(CASCADE)?`, the lazy name group donated its tail to the keyword
  // group, so `DROP INDEX my_cascade` parsed as name `my_` + CASCADE.
  private[graft] val DropIndexRe =
    """(?is)^\s*DROP\s+INDEX\s+(IF\s+EXISTS\s+)?([`"\w\s,.]+?)(?:\s+(CASCADE))?\s*$""".r

  // DROP TABLE for the plan FORMATTER only (`tmp/crud.txt:349-371,819-833`);
  // execute() keeps Spark's native DROP TABLE path and the multi-name API
  // lives on [[ExecutionContext.dropTable]].
  private[graft] val DropTableRe =
    """(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([`"\w\s,.]+?)(?:\s+(CASCADE))?\s*$""".r

  // CREATE MATERIALIZED VIEW <n> AS SELECT <list> FROM <t>
  // [JOIN <dim> ON <cond>]* [WHERE <pred>] GROUP BY <cols> — the
  // restricted rollup-summary form [[Mv.register]] accepts (bare dim
  // identifiers + sum/count/min/max measures); the optional WHERE
  // defines a PARTIAL summary (only predicate rows are aggregated;
  // queries rewrite only when they restate or imply the predicate). The
  // optional JOINs declare the STAR form — a CHAIN of them the
  // SNOWFLAKE form: the summary registers over the FACT table <t> keyed
  // by the fact-side join keys of every level plus any fact-side GROUP
  // BY columns, so the (multi-dim) star-join rewrite serves
  // fact ⋈ d1 ⋈ d2 … aggregates from it (every dim side stays a live
  // join; the chain is captured whole and split by splitJoinChain).
  // REFRESH folds the base's appended files in, DROP unregisters. Spark
  // has no native MATERIALIZED VIEW statement, so these route BEFORE
  // the spark.sql fallback (which would throw PARSE_SYNTAX_ERROR).
  // The WHERE group is GREEDY so the dims split anchors on the LAST
  // `GROUP BY` token — a predicate containing `group by` inside a
  // string literal no longer mis-splits (predicates whose TAIL mimics
  // ` GROUP BY <ident list>` remain out of the regex's reach and are
  // rejected by sqlCreateMv's parse check with a message naming this
  // limitation).
  private[graft] val CreateMvRe =
    (s"""(?is)^\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+($Ident)\\s+AS\\s+""" +
      s"""SELECT\\s+(.+?)\\s+FROM\\s+($Ident)""" +
      s"""((?:\\s+JOIN\\s+$Ident\\s+ON\\s+.+?)*)""" +
      s"""(?:\\s+WHERE\\s+(.+))?\\s+GROUP\\s+BY\\s+""" +
      s"""([`"\\w\\s,.]+?)\\s*$$""").r

  /** Split CreateMvRe's captured JOIN-chain text into (dim table, ON
    * condition) pairs. Token-anchored on ` JOIN <ident> ON `: an ON
    * condition whose own text reads like that token sequence (inside a
    * string literal) would mis-split — the same documented splitter
    * limitation as the WHERE/GROUP BY anchor, and sqlCreateMv's eager
    * per-condition parse keeps the failure loud rather than silent. */
  private[graft] def splitJoinChain(chain: String): Seq[(String, String)] = {
    val joinTok = s"""(?is)\\s+JOIN\\s+($Ident)\\s+ON\\s+""".r
    val ms = joinTok.findAllMatchIn(chain).toSeq
    ms.zipWithIndex.map { case (m, i) =>
      val end = if (i + 1 < ms.length) ms(i + 1).start else chain.length
      (m.group(1), chain.substring(m.end, end).trim)
    }
  }
  private[graft] val RefreshMvRe =
    s"""(?is)^\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\s+($Ident)\\s*$$""".r
  private[graft] val ShowMvRe =
    """(?is)^\s*SHOW\s+MATERIALIZED\s+VIEWS\s*$""".r
  private[graft] val AdviseMvRe =
    """(?is)^\s*ADVISE\s+MATERIALIZED\s+VIEW\s+FOR\s+(.+?)\s*$""".r
  private[graft] val DropMvRe =
    (s"""(?is)^\\s*DROP\\s+MATERIALIZED\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?""" +
      s"""($Ident)\\s*$$""").r

  // A statement explainReference may hand to spark.sql without running a
  // side effect: query heads only (commands execute eagerly in spark.sql).
  private[graft] val QueryHeadRe =
    """(?is)^\s*(?:SELECT|WITH|VALUES|TABLE|\()""".r

  // UPDATE <t> SET <tail> — the regex binds only the statement head; the
  // FROM/WHERE clause boundaries inside the tail are found by
  // [[splitUpdateTail]]'s quote/paren-aware scan (a regex alone would
  // mis-bind a bare `from`/`where` inside a string literal; the
  // reference's real sqlparser tokenizes, `tmp/crud.txt:203-301`).
  private[graft] val UpdateRe =
    (s"""(?is)^\\s*UPDATE\\s+($Ident)\\s+SET\\s+(.+?)\\s*$$""").r
  private[graft] val DeleteRe =
    (s"""(?is)^\\s*DELETE\\s+FROM\\s+($Ident)(?:\\s+WHERE\\s+(.+?))?\\s*$$""").r

  // MERGE INTO <t> [AS a] USING <s> [AS b] ON <cond>
  // WHEN MATCHED THEN UPDATE SET <assignments>
  // [WHEN NOT MATCHED THEN INSERT [(cols)] VALUES (exprs)]
  // [WHEN NOT MATCHED BY SOURCE THEN DELETE] — the alias
  // slots negative-lookahead the clause keywords so a bare `USING`/`ON`/
  // `WHEN` is never captured as an alias; the multi-word WHEN
  // [NOT] MATCHED boundaries make lazy-group mis-binding against
  // literals a non-issue (single-word FROM/WHERE needed the scanner).
  // The INSERT arm's `MATCHED\s+THEN` cannot bind the BY SOURCE clause
  // (THEN does not follow MATCHED there), and the greedy VALUES group
  // still closes at the statement's last ')' — the clause carries none.
  private[graft] val MergeRe =
    (s"""(?is)^\\s*MERGE\\s+INTO\\s+($Ident)""" +
      s"""(?:\\s+(?:AS\\s+)?(?!USING\\b)(\\w+))?\\s+USING\\s+($Ident)""" +
      s"""(?:\\s+(?:AS\\s+)?(?!ON\\b)(\\w+))?\\s+ON\\s+(.+?)""" +
      s"""\\s+WHEN\\s+MATCHED\\s+THEN\\s+UPDATE\\s+SET\\s+(.+?)""" +
      s"""(?:\\s+WHEN\\s+NOT\\s+MATCHED\\s+THEN\\s+INSERT\\s*""" +
      s"""(?:\\(([^)]*)\\)\\s*)?VALUES\\s*\\((.+)\\))?""" +
      s"""(?:\\s+WHEN\\s+NOT\\s+MATCHED\\s+BY\\s+SOURCE\\s+THEN\\s+""" +
      s"""(DELETE))?\\s*$$""").r

  // INSERT INTO only (INSERT OVERWRITE keeps Spark's native path). The
  // VALUES tail re-parses through `SELECT * FROM (VALUES …)`, so tuple
  // syntax/typing stays Catalyst's problem, not a regex's.
  // ALTER TABLE on the session-view store: the three column-evolution
  // forms a schema migration needs. ADD COLUMN(S) captures the raw spec
  // tail; the handler strips one balanced outer paren pair and splits on
  // top-level commas, so the multi-column form `ADD COLUMNS (a INT,
  // b STRING)` adds both (each new column is typed NULL via
  // CAST(NULL AS <type>) — reference semantics for rows that predate
  // the column) instead of mis-binding `INT, b STRING` as a type.
  // RENAME/DROP are pure projections. Catalog tables keep Spark's
  // native ALTER path.
  private[graft] val AlterAddRe =
    (s"""(?is)^\\s*ALTER\\s+TABLE\\s+($Ident)\\s+ADD\\s+COLUMNS?\\s*""" +
      s"""(.+?)\\s*$$$$""").r

  /** Strip ONE outer paren pair when it wraps the whole text (the
    * optional `ADD COLUMNS (…)` list form) — a trailing type paren like
    * `DECIMAL(10,2)` is left alone (its close paren does not match the
    * leading open paren). */
  private[graft] def stripOuterParens(s: String): String = {
    val t = s.trim
    if (t.startsWith("(") && findMatchingParen(t, 1) == t.length - 1)
      t.substring(1, t.length - 1).trim
    else t
  }
  private[graft] val AlterRenameRe =
    (s"""(?is)^\\s*ALTER\\s+TABLE\\s+($Ident)\\s+RENAME\\s+COLUMN\\s+""" +
      s"""(\\w+)\\s+TO\\s+(\\w+)\\s*$$$$""").r
  private[graft] val AlterDropRe =
    (s"""(?is)^\\s*ALTER\\s+TABLE\\s+($Ident)\\s+DROP\\s+COLUMNS?\\s*""" +
      s"""\\(?\\s*(\\w+)\\s*\\)?\\s*$$$$""").r

  private[graft] val InsertValuesRe =
    (s"""(?is)^\\s*INSERT\\s+INTO\\s+($Ident)\\s*""" +
      s"""(?:\\(([^)]*)\\)\\s*)?VALUES\\s+(.+?)\\s*$$""").r
  private[graft] val InsertSelectRe =
    (s"""(?is)^\\s*INSERT\\s+INTO\\s+($Ident)\\s*""" +
      s"""(?:\\(([^)]*)\\)\\s*)?(SELECT\\s+.+?)\\s*$$""").r

  private val FullIdentRe = Ident.r

  /** Normalize a possibly quoted / schema-qualified identifier to its
    * unquoted dotted form (`` `my idx` `` → `my idx`; `s."t"` → `s.t`).
    * Quoted parts keep dots intact (each quoted segment is one token).
    * Input that is NOT entirely an identifier (e.g. a column spec like
    * `a DESC`) is passed through trimmed, never fragment-rejoined. */
  private[graft] def unquote(id: String): String = {
    val t = id.trim
    if (!FullIdentRe.pattern.matcher(t).matches()) t
    else IdentPartRe.findAllIn(t).map { p =>
      if (p.startsWith("`")) p.substring(1, p.length - 1).replace("``", "`")
      else if (p.startsWith("\""))
        p.substring(1, p.length - 1).replace("\"\"", "\"")
      else p
    }.mkString(".")
  }

  /** Split on statement-separating semicolons — quote-aware (single
    * quotes, double-quoted literals, backticked identifiers; a backslash
    * inside a '/" region escapes the next character, Spark's default
    * string-literal behavior), and comments are opaque: `--` to end of
    * line, and `/* ... */` block comments, which NEST (Spark's lexer
    * accepts nested bracketed comments, SPARK-28880; sqlparser-rs strips
    * them the same way). A `;`, quote, or `--` inside a comment neither
    * splits nor changes state. */
  private[graft] def statements(sql: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0 // 0 = outside; else the active quote char
    var inLine = false // inside a -- line comment
    var block = 0 // block-comment nesting depth
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      def next = if (i + 1 < sql.length) sql.charAt(i + 1) else 0.toChar
      if (inLine) {
        cur += c
        if (c == '\n') inLine = false
      } else if (block > 0) {
        if (c == '*' && next == '/') { cur ++= "*/"; i += 1; block -= 1 }
        else if (c == '/' && next == '*') { cur ++= "/*"; i += 1; block += 1 }
        else cur += c
      } else if (quote != 0) {
        // backtick identifiers have no backslash escapes (`` is the only
        // escape there); ' and " literals honor \x
        if (c == '\\' && quote != '`' && i + 1 < sql.length) {
          cur += c; cur += sql.charAt(i + 1); i += 1
        } else {
          if (c == quote) quote = 0
          cur += c
        }
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur += c
        case '-' if next == '-' => inLine = true; cur += '-'
        case '/' if next == '*' => block = 1; cur ++= "/*"; i += 1
        case ';' =>
          if (cur.toString.trim.nonEmpty) out += cur.toString.trim
          cur.clear()
        case other => cur += other
      }
      i += 1
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.result()
  }

  /** Split a comma-separated identifier/column list on commas OUTSIDE
    * quoted segments — a backticked or double-quoted name may itself
    * contain a comma (`` `a,b` ``), which a raw `split(',')` fragments
    * into two bogus entries. Doubled escape quotes (`` `` ``/`""`)
    * close-and-reopen the quote state, which is comma-safe. */
  /** Split a comma-separated SQL list at TOP LEVEL only: commas inside
    * single-quoted literals (`SET n = 'a,b'`), double-quoted/backticked
    * identifiers, and function parens (`SET a = round(x, 2)`) do not
    * split. A doubled `''` inside a single-quoted literal toggles the
    * quote state twice — harmless for split purposes. */
  private[graft] def splitList(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0
    var depth = 0
    s.foreach { c =>
      if (quote != 0) {
        if (c == quote) quote = 0
        cur += c
      } else c match {
        case '\'' | '`' | '"' => quote = c; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth = math.max(0, depth - 1); cur += c
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case other => cur += other
      }
    }
    out += cur.toString
    out.result()
  }

  /** Offset of the first STANDALONE occurrence of word `kw`
    * (case-insensitive, word-bounded) at top level — outside quoted
    * regions (single/double/backtick) and parens; -1 if none. Used to
    * bind UPDATE's FROM/WHERE clauses without a regex mis-matching the
    * bare word inside a string literal or a subquery. */
  private[graft] def topLevelKeyword(s: String, kw: String): Int = {
    var quote: Char = 0
    var depth = 0
    var i = 0
    val n = s.length
    val k = kw.length
    def isWordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    while (i < n) {
      val c = s(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '`' | '"' => quote = c
        case '(' => depth += 1
        case ')' => depth = math.max(0, depth - 1)
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, kw, 0, k) &&
              (i == 0 || !isWordChar(s(i - 1))) &&
              (i + k >= n || !isWordChar(s(i + k))))
            return i
      }
      i += 1
    }
    -1
  }

  /** Offset of the first top-level occurrence of `target` (outside
    * quotes and parens); -1 if none. */
  private[graft] def topLevelIndexOf(s: String, target: Char): Int = {
    var quote: Char = 0
    var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '`' | '"' => quote = c
        case '(' => depth += 1
        case ')' => depth = math.max(0, depth - 1)
        case other => if (depth == 0 && other == target) return i
      }
      i += 1
    }
    -1
  }

  /** Parse the tail of `UPDATE t SET <tail>` into
    * (setList, fromTable, whereExpr). WHERE binds first (everything
    * after the first top-level WHERE), then FROM inside the remainder —
    * both found by the quote/paren-aware scan, so `SET n = 'a from b'`
    * or a parenthesized subquery cannot mis-bind a clause keyword. */
  private[graft] def splitUpdateTail(
      tail: String): (String, Option[String], Option[String]) = {
    val wp = topLevelKeyword(tail, "WHERE")
    val (beforeWhere, whereExpr) =
      if (wp >= 0) (tail.take(wp), Some(tail.drop(wp + 5).trim))
      else (tail, None)
    val fp = topLevelKeyword(beforeWhere, "FROM")
    val (setList, fromTbl) =
      if (fp >= 0)
        (beforeWhere.take(fp).trim, Some(beforeWhere.drop(fp + 4).trim))
      else (beforeWhere.trim, None)
    (setList, fromTbl.filter(_.nonEmpty), whereExpr.filter(_.nonEmpty))
  }

  private val ctxIds = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def nextCtxId(): Int = ctxIds.incrementAndGet()

  // ---- CREATE TABLE constraint rewriting --------------------------------

  private val CreateTableHeadRe =
    (s"""(?is)^\\s*CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?$Ident\\s*\\(""").r

  // Table-level constraint items (`tmp/crud.txt:439-479` — the reference's
  // convert_table_constraint surface); an optional leading CONSTRAINT name
  // is accepted and not recorded, like the reference.
  private val TcPkRe =
    (s"""(?is)^(?:CONSTRAINT\\s+$IdentPart\\s+)?PRIMARY\\s+KEY\\s*\\((.*)\\)\\s*$$""").r
  private val TcFkRe =
    (s"""(?is)^(?:CONSTRAINT\\s+$IdentPart\\s+)?FOREIGN\\s+KEY\\s*\\(([^)]*)\\)\\s*""" +
      s"""REFERENCES\\s+($Ident)\\s*\\(([^)]*)\\)\\s*$$""").r
  private val TcUqRe =
    (s"""(?is)^(?:CONSTRAINT\\s+$IdentPart\\s+)?UNIQUE\\s*\\((.*)\\)\\s*$$""").r
  private val TcCkRe =
    (s"""(?is)^(?:CONSTRAINT\\s+$IdentPart\\s+)?CHECK\\s*\\((.*)\\)\\s*$$""").r

  // CREATE TABLE head with captures for the plan FORMATTER (the rewrite
  // path's CreateTableHeadRe deliberately captures nothing).
  private val CreateTableFmtRe =
    (s"""(?is)^\\s*CREATE\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?($Ident)\\s*\\(""").r

  /** SQL type text → the reference's `DataTypeEnum` vocabulary
    * (`tmp/crud.txt:88-98,423-437`), printed readable (`Varchar(50)`)
    * rather than Rust-Debug (`Varchar(Some(50))`) per the q58 rendering
    * discipline. Spark's STRING maps to `Text` (closest reference type);
    * a type outside the reference's enum passes through uppercased —
    * the reference would bail there, we render what was written. */
  private[graft] def refTypeName(t: String): String = {
    val up = t.trim.replaceAll("\\s+", " ").toUpperCase(java.util.Locale.ROOT)
    val VarcharRe = """(?:VARCHAR|CHAR)(?:\s*\((\d+)\))?""".r
    up match {
      case VarcharRe(null) => "Varchar"
      case VarcharRe(n) => s"Varchar($n)"
      case "TEXT" | "STRING" => "Text"
      case "INT" | "INTEGER" => "Integer"
      case "BIGINT" => "BigInt"
      case "FLOAT" | "REAL" => "Float"
      case "DOUBLE" | "DOUBLE PRECISION" => "Double"
      case "BOOLEAN" => "Boolean"
      case "DATE" => "Date"
      case s if s.startsWith("TIMESTAMP") => "Timestamp"
      case other => other
    }
  }

  /** The `CreateTable` arm of the reference formatter
    * (`tmp/crud.txt:735-771`): the head line, one `  Column:` line per
    * column with the reference's `(nullable: b, pk: b)` booleans (a
    * PRIMARY KEY column is non-nullable, `tmp/crud.txt:404-409`), then
    * one `  Constraint:` line per table constraint in the
    * `convert_table_constraint` vocabulary. Reuses the execute path's
    * comment-stripping and quote/paren/angle-aware column scanner, so
    * formatter and executor agree on what a statement means. None when
    * the statement is not a CREATE TABLE with a column list (CTAS has
    * none — it renders via its SELECT side only on the execute path). */
  private[graft] def formatCreateTableReference(stmt: String): Option[String] = {
    val clean = stripComments(stmt)
    CreateTableFmtRe.findPrefixMatchOf(clean).flatMap { m =>
      val close = findMatchingParen(clean, m.end)
      if (close < 0) None
      else {
        val ifNot = if (m.group(1) != null) " IF NOT EXISTS" else ""
        val name = unquote(m.group(2))
        def names(list: String): String =
          splitList(list).map(unquote).filter(_.nonEmpty).mkString(", ")
        val sb = new StringBuilder(s"-> CreateTable: $name$ifNot\n")
        val consts = Seq.newBuilder[String]
        splitTopLevel(clean.substring(m.end, close))
          .map(_.trim).filter(_.nonEmpty).foreach {
            case TcPkRe(list) => consts += s"PrimaryKey(${names(list)})"
            case TcFkRe(cols, ft, fcols) =>
              consts += s"ForeignKey(${names(cols)} REFERENCES " +
                s"${unquote(ft)}(${names(fcols)}))"
            case TcUqRe(list) => consts += s"Unique(${names(list)})"
            case TcCkRe(ex) => consts += s"Check(${ex.trim})"
            case item => parseColumnItem(item).foreach { c =>
              val nullable = !c.notNull && !c.primaryKey
              sb ++= s"  Column: ${c.name} ${refTypeName(c.kept)} " +
                s"(nullable: $nullable, pk: ${c.primaryKey})\n"
            }
          }
        consts.result().foreach(c => sb ++= s"  Constraint: $c\n")
        Some(sb.result())
      }
    }
  }

  /** Replace SQL comments with nothing (line `--`) or a space (block
    * `/* */`, nested) — quote-aware with backslash escapes, mirroring
    * [[statements]] — so the CREATE TABLE scanners below never see
    * comment text. Applied only on the rewrite path; a passthrough
    * statement runs with its comments intact. */
  private[graft] def stripComments(sql: String): String = {
    val out = new StringBuilder
    var quote: Char = 0
    var inLine = false
    var block = 0
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      def next = if (i + 1 < sql.length) sql.charAt(i + 1) else 0.toChar
      if (inLine) { if (c == '\n') { inLine = false; out += c } }
      else if (block > 0) {
        if (c == '*' && next == '/') {
          i += 1; block -= 1; if (block == 0) out += ' '
        } else if (c == '/' && next == '*') { i += 1; block += 1 }
      } else if (quote != 0) {
        if (c == '\\' && quote != '`' && i + 1 < sql.length) {
          out += c; out += sql.charAt(i + 1); i += 1
        } else { if (c == quote) quote = 0; out += c }
      } else c match {
        case '\'' | '"' | '`' => quote = c; out += c
        case '-' if next == '-' => inLine = true
        case '/' if next == '*' => block = 1; i += 1
        case other => out += other
      }
      i += 1
    }
    out.result()
  }

  /** Index of the `)` matching the `(` just before `from` — quote-aware
    * (a paren inside a quoted identifier or string does not count; a
    * backslash inside a '/" literal escapes the next character). */
  private def findMatchingParen(s: String, from: Int): Int = {
    var depth = 1
    var quote: Char = 0
    var i = from
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\' && quote != '`' && i + 1 < s.length) i += 1
        else if (c == quote) quote = 0
      } else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Does `s(i) == '<'` open a generic type-argument list (`MAP<K,V>`,
    * `STRUCT<...>`, `ARRAY<...>`)? True when glued to an identifier char
    * and not part of `<=`/`<>`/`<<` — a spaced comparison (`a < b`) never
    * counts. (An UNspaced comparison in a DEFAULT expression would
    * miscount; Spark DEFAULTs are constant-foldable literals in practice,
    * and the oracle-gated surface never hits this.) */
  private def opensTypeArgs(s: String, i: Int): Boolean = {
    val prevOk = i > 0 && {
      val p = s.charAt(i - 1)
      Character.isLetterOrDigit(p) || p == '_'
    }
    val nextOk = i + 1 >= s.length || {
      val n = s.charAt(i + 1)
      n != '=' && n != '>' && n != '<'
    }
    prevOk && nextOk
  }

  /** Split on commas at paren/angle depth 0 outside quotes — a column
    * list item like `price DECIMAL(10,2) CHECK (x IN (1,2))` or
    * `m MAP<STRING,INT>` is ONE item. */
  private[graft] def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0
    var depth = 0
    var angle = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\' && quote != '`' && i + 1 < s.length) {
          cur += c; cur += s.charAt(i + 1); i += 1
        } else { if (c == quote) quote = 0; cur += c }
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case '<' if opensTypeArgs(s, i) => angle += 1; cur += c
        case '>' if angle > 0 => angle -= 1; cur += c
        case ',' if depth == 0 && angle == 0 =>
          out += cur.toString; cur.clear()
        case other => cur += other
      }
      i += 1
    }
    out += cur.toString
    out.result()
  }

  /** Does a top-level keyword match start at position `i` of `s`?
    * Requires a word boundary on the left (so `my_default INT` is not a
    * DEFAULT clause) — the regex itself ends with `\b`. */
  private def keywordAt(s: String, i: Int, re: scala.util.matching.Regex)
      : Option[Int] = {
    val prevOk = i == 0 || {
      val p = s.charAt(i - 1)
      !Character.isLetterOrDigit(p) && p != '_'
    }
    if (!prevOk) None
    else re.findPrefixMatchOf(s.substring(i)).map(m => i + m.end)
  }

  private val NotNullRe = "(?is)^NOT\\s+NULL\\b".r
  private val PkKwRe = "(?is)^PRIMARY\\s+KEY\\b".r
  private val DefaultKwRe = "(?is)^DEFAULT\\b".r
  private val CommentKwRe = "(?is)^COMMENT\\b".r

  /** One parsed column item: raw (as-written) name, everything kept in the
    * column DDL (type + unrecognized clauses like COMMENT, minus the
    * stripped options), and the stripped option surface. */
  private final case class ColItem(
      rawName: String,
      name: String,
      kept: String,
      notNull: Boolean,
      primaryKey: Boolean,
      default: Option[String])

  /** Parse `name TYPE [NOT NULL] [PRIMARY KEY] [DEFAULT expr] [...]` with a
    * quote/paren/angle-aware scan (DECIMAL(10,2) and MAP<STRING,INT> stay
    * in the type — a struct field named `default` inside `<...>` is NOT an
    * option keyword; a DEFAULT expression runs to the next top-level
    * option keyword or end, so `DEFAULT concat('a', 'b') NOT NULL` parses
    * both). Returns None when the item does not start with an identifier +
    * type text. */
  private def parseColumnItem(item: String): Option[ColItem] = {
    val t = item.trim
    IdentPartRe.findPrefixMatchOf(t).flatMap { m =>
      val tail = t.substring(m.end)
      val kept = new StringBuilder
      val dflt = new StringBuilder
      var inDefault = false
      var notNull = false
      var pk = false
      var sawDefault = false
      var quote: Char = 0
      var depth = 0
      var angle = 0
      var i = 0
      def sink: StringBuilder = if (inDefault) dflt else kept
      while (i < tail.length) {
        val c = tail.charAt(i)
        if (quote != 0) {
          if (c == '\\' && quote != '`' && i + 1 < tail.length) {
            sink += c; sink += tail.charAt(i + 1); i += 2
          } else { if (c == quote) quote = 0; sink += c; i += 1 }
        } else if (c == '\'' || c == '"' || c == '`') {
          quote = c; sink += c; i += 1
        } else if (c == '(') { depth += 1; sink += c; i += 1 }
        else if (c == ')') { depth -= 1; sink += c; i += 1 }
        else if (c == '<' && opensTypeArgs(tail, i)) {
          angle += 1; sink += c; i += 1
        } else if (c == '>' && angle > 0) { angle -= 1; sink += c; i += 1 }
        else if (depth == 0 && angle == 0) {
          keywordAt(tail, i, NotNullRe) match {
            case Some(end) => inDefault = false; notNull = true; i = end
            case None => keywordAt(tail, i, PkKwRe) match {
              case Some(end) => inDefault = false; pk = true; i = end
              case None => keywordAt(tail, i, DefaultKwRe) match {
                case Some(end) if !inDefault =>
                  inDefault = true; sawDefault = true; i = end
                case _ =>
                  // COMMENT ends a default expression and stays in kept
                  if (inDefault && keywordAt(tail, i, CommentKwRe).isDefined)
                    inDefault = false
                  sink += c; i += 1
              }
            }
          }
        } else { sink += c; i += 1 }
      }
      val keptText = kept.toString.trim
      if (keptText.isEmpty) None
      else Some(ColItem(m.matched, unquote(m.matched), keptText, notNull, pk,
        if (sawDefault) Some(dflt.toString.trim).filter(_.nonEmpty) else None))
    }
  }

  /** Rewrite a `CREATE TABLE name (…)` statement whose column list carries
    * constraint surface Spark SQL cannot parse — column-level PRIMARY KEY /
    * DEFAULT and table-level PRIMARY KEY / FOREIGN KEY / UNIQUE / CHECK —
    * into plain Spark DDL plus the same `graft.*` TBLPROPERTIES the typed
    * [[ExecutionContext.createTable]] records (`tmp/crud.txt:388-479`):
    * recorded-not-enforced, round-trippable via `tableProperties`, and
    * A primary-key column gains NOT NULL in the real DDL, matching the
    * typed path; NOT NULL and DEFAULT clauses (though Spark parses both
    * natively) also trigger the rewrite so `graft.notnull`/
    * `graft.default.*` register identically on both paths — DEFAULT stays
    * in the emitted DDL, so plain SQL INSERTs keep Spark's native default
    * application while [[Dml.insertValues]] reads the metadata twin.
    * Everything after the column list (USING / LOCATION / PARTITIONED
    * BY / …) passes through verbatim; an existing TBLPROPERTIES clause is
    * merged into; comments are stripped from the rewritten text. Returns
    * None — run the original statement — when no constraint/option surface
    * is present (including CTAS, which has no column list). */
  private[graft] def rewriteCreateTable(stmt: String): Option[String] = {
    val clean = stripComments(stmt)
    CreateTableHeadRe.findPrefixMatchOf(clean).flatMap { m =>
      val close = findMatchingParen(clean, m.end)
      if (close < 0) None
      else {
        val body = clean.substring(m.end, close)
        val rest = clean.substring(close + 1)
        val items = splitTopLevel(body).map(_.trim).filter(_.nonEmpty)
        val cols = Seq.newBuilder[ColumnSpec]
        val colDdl = Seq.newBuilder[String]
        val cons = Seq.newBuilder[TableConstraintDef]
        var stripped = false
        def names(list: String): Seq[String] =
          splitList(list).map(unquote).map(_.trim).filter(_.nonEmpty)
        items.foreach {
          case TcPkRe(list) =>
            cons += TableConstraintDef.PrimaryKey(names(list)); stripped = true
          case TcFkRe(fkCols, refTbl, refCols) =>
            cons += TableConstraintDef.ForeignKey(
              names(fkCols), unquote(refTbl), names(refCols))
            stripped = true
          case TcUqRe(list) =>
            cons += TableConstraintDef.Unique(names(list)); stripped = true
          case TcCkRe(expr) =>
            cons += TableConstraintDef.Check(expr.trim); stripped = true
          case item =>
            parseColumnItem(item) match {
              case Some(c) =>
                // NOT NULL parses fine in Spark DDL, but the typed API
                // records it as graft.notnull — rewrite (append-only) so
                // both paths register identical metadata
                if (c.primaryKey || c.default.isDefined || c.notNull)
                  stripped = true
                // dataType is NullType: constraintProperties only reads
                // name / nullable / default / primaryKey, and the real
                // type text stays in the passthrough DDL
                cols += ColumnSpec(c.name, org.apache.spark.sql.types.NullType,
                  nullable = !(c.notNull || c.primaryKey),
                  default = c.default, primaryKey = c.primaryKey)
                val nn = if (c.notNull || c.primaryKey) " NOT NULL" else ""
                // DEFAULT stays in the real DDL — Spark 3.4+ parses and
                // applies column defaults for plain SQL INSERTs natively;
                // the graft.default.* property is the metadata twin the
                // typed Dml.insertValues path reads
                val df = c.default.map(e => s" DEFAULT $e").getOrElse("")
                colDdl += s"${c.rawName} ${c.kept}$nn$df"
              case None => colDdl += item
            }
        }
        if (!stripped) None
        else {
          def esc(s: String) = s.replace("'", "''")
          val pairs = constraintProperties(cols.result(), cons.result())
            .map { case (k, v) => s"'${esc(k)}'='${esc(v)}'" }.mkString(", ")
          val TblPropsRe = "(?is)(TBLPROPERTIES\\s*\\()".r
          val restOut =
            if (pairs.isEmpty) rest
            else if (TblPropsRe.findFirstIn(rest).isDefined)
              TblPropsRe.replaceFirstIn(rest, java.util.regex.Matcher
                .quoteReplacement(s"TBLPROPERTIES ($pairs, "))
            else s"$rest TBLPROPERTIES ($pairs)"
          Some(clean.substring(0, m.end) +
            colDdl.result().mkString(", ") + ")" + restOut)
        }
      }
    }
  }

  private[graft] def firstStatement(sql: String): String =
    statements(sql).headOption.getOrElse(
      throw new IllegalArgumentException("Empty SQL statement"))

  // ---- dialect normalization --------------------------------------------
  // The reference parses with one of 11 sqlparser-rs dialects
  // (`/root/reference/src/lib.rs:9-23`); Spark parses exactly one grammar.
  // The visible per-dialect differences are LEXICAL — which quote
  // characters delimit an identifier, and mssql's TOP n — so a
  // quote-aware rewrite to Spark's lexing closes the gap without a
  // second parser. Grouped by the dialects' published quoting rules:
  //  - double-quoted identifiers (`"x"`): ansi, duckdb, redshift,
  //    sqlite, snowflake, clickhouse, mssql — rewritten to backticks,
  //    because Spark's DEFAULT lexing reads "x" as a STRING literal
  //    (spark.sql.ansi.doubleQuotedIdentifiers off).
  //  - bracketed identifiers (`[x]`): mssql, sqlite — rewritten to
  //    backticks when in identifier position (not `expr[i]` indexing).
  //  - TOP n / TOP (n): mssql — rewritten to a trailing LIMIT n on a
  //    top-level SELECT.
  // PASSTHROUGH dialects, deliberately untouched: `generic` and
  // `postgres` (the constructor default — every existing caller's SQL
  // keeps Spark's own lexing, SURVEY §7.4-3's compatibility stance),
  // and `hive`/`bigquery`, whose quoting already IS Spark's (backtick
  // identifiers; double-quoted strings).
  private val doubleQuoteIdentDialects: Set[String] = Set(
    "ansi", "duckdb", "redshift", "sqlite", "snowflake", "clickhouse",
    "mssql")
  private val bracketIdentDialects: Set[String] = Set("mssql", "sqlite")

  private val TopRe =
    """(?is)^(\s*SELECT\s+)TOP\s+(?:\(\s*(\d+)\s*\)|(\d+))\s+(.*)$""".r

  /** Rewrite ONE statement from `dialect`'s lexing to Spark's. Strings,
    * comments (line + nested block), and backticked identifiers are
    * opaque; `""`/`]]` escapes unescape into the backticked form with
    * inner backticks doubled. A `[` directly after an identifier, `)`,
    * or `]` is collection indexing, not a quote — `m['k']` and
    * `arr[0]` survive under the bracket dialects. */
  private[graft] def normalizeDialect(stmt: String, dialect: String)
      : String = {
    val d = dialect.toLowerCase(java.util.Locale.ROOT)
    val dq = doubleQuoteIdentDialects(d)
    val br = bracketIdentDialects(d)
    if (!dq && !br) return stmt
    val out = new StringBuilder
    def emitIdent(body: String): Unit = {
      out += '`'; out ++= body.replace("`", "``"); out += '`'
    }
    var i = 0
    val n = stmt.length
    // Indexing (`expr[i]`) vs identifier quote (`[name]`): indexing's
    // `[` ABUTS the value it indexes — `arr[0]`, `f(x)[1]`, `[a][0]` —
    // while an identifier quote follows whitespace or a structural
    // character (start, `,`, `.`, `(`). The IMMEDIATELY preceding
    // character decides; whitespace before `[` always means quote.
    def indexingContext: Boolean = i > 0 && {
      val p = stmt.charAt(i - 1)
      Character.isLetterOrDigit(p) || p == '_' || p == ')' || p == ']' ||
        p == '`' || p == '\'' || p == '"'
    }
    def nxt = if (i + 1 < n) stmt.charAt(i + 1) else 0.toChar
    while (i < n) {
      val c = stmt.charAt(i)
      c match {
        case '-' if nxt == '-' => // line comment: copy to EOL
          val e = stmt.indexOf('\n', i)
          val end = if (e < 0) n else e + 1
          out ++= stmt.substring(i, end); i = end - 1
        case '/' if nxt == '*' => // nested block comment: copy whole
          var depth = 1; var j = i + 2
          while (j < n && depth > 0) {
            if (j + 1 < n && stmt.charAt(j) == '/' &&
              stmt.charAt(j + 1) == '*') { depth += 1; j += 2 }
            else if (j + 1 < n && stmt.charAt(j) == '*' &&
              stmt.charAt(j + 1) == '/') { depth -= 1; j += 2 }
            else j += 1
          }
          out ++= stmt.substring(i, j); i = j - 1
        case '\'' => // string literal: opaque ('' and \x escapes)
          var j = i + 1
          var done = false
          while (j < n && !done) {
            val sc = stmt.charAt(j)
            if (sc == '\\' && j + 1 < n) j += 2
            else if (sc == '\'' && j + 1 < n && stmt.charAt(j + 1) == '\'')
              j += 2
            else if (sc == '\'') { done = true; j += 1 }
            else j += 1
          }
          out ++= stmt.substring(i, j); i = j - 1
        case '`' => // already-Spark identifier: opaque (`` escape)
          var j = i + 1
          var done = false
          while (j < n && !done) {
            if (stmt.charAt(j) == '`')
              if (j + 1 < n && stmt.charAt(j + 1) == '`') j += 2
              else { done = true; j += 1 }
            else j += 1
          }
          out ++= stmt.substring(i, j); i = j - 1
        case '"' if dq => // "ident" (or "a""b") -> backticks
          val b = new StringBuilder
          var j = i + 1
          var done = false
          while (j < n && !done) {
            if (stmt.charAt(j) == '"')
              if (j + 1 < n && stmt.charAt(j + 1) == '"') {
                b += '"'; j += 2
              } else { done = true; j += 1 }
            else { b += stmt.charAt(j); j += 1 }
          }
          emitIdent(b.result()); i = j - 1
        case '[' if br && !indexingContext => // [ident] -> backticks
          val b = new StringBuilder
          var j = i + 1
          var done = false
          while (j < n && !done) {
            if (stmt.charAt(j) == ']')
              if (j + 1 < n && stmt.charAt(j + 1) == ']') {
                b += ']'; j += 2
              } else { done = true; j += 1 }
            else { b += stmt.charAt(j); j += 1 }
          }
          emitIdent(b.result()); i = j - 1
        case other =>
          out += other
      }
      i += 1
    }
    val normalized = out.result()
    if (d != "mssql") normalized
    else normalized match {
      // TOP binds to the top-level SELECT only (the documented subset —
      // a subquery TOP needs a real mssql parser); (n) and bare n forms.
      case TopRe(head, paren, bare, rest) =>
        s"$head$rest LIMIT ${Option(paren).getOrElse(bare)}"
      case _ => normalized
    }
  }

  /** Flatten column options + table constraints into `graft.*` property
    * pairs (the metadata the reference keeps in its CreateTable IR,
    * `tmp/crud.txt:388-479`). Column-level PRIMARY KEY and a table-level
    * PrimaryKey constraint merge into one key list. */
  private[graft] def constraintProperties(
      columns: Seq[ColumnSpec],
      constraints: Seq[TableConstraintDef]): Seq[(String, String)] = {
    import TableConstraintDef._
    val pkCols = (columns.filter(_.primaryKey).map(_.name) ++
      constraints.collect { case PrimaryKey(cs) => cs }.flatten).distinct
    val notNull = columns.filter(c => !c.nullable || c.primaryKey).map(_.name)
    val defaults = columns.collect {
      case c if c.default.isDefined => s"graft.default.${c.name}" -> c.default.get
    }
    val numbered = constraints.collect {
      case ForeignKey(cs, ft, fcs) =>
        "fk" -> s"(${cs.mkString(",")}) REFERENCES $ft (${fcs.mkString(",")})"
      case Unique(cs) => "unique" -> cs.mkString(",")
      case Check(expr) => "check" -> expr
    }.groupBy(_._1).toSeq.flatMap { case (kind, entries) =>
      entries.map(_._2).zipWithIndex.map { case (v, i) =>
        s"graft.constraint.$kind.$i" -> v
      }
    }
    (if (pkCols.nonEmpty) Seq("graft.primary_key" -> pkCols.mkString(","))
     else Seq.empty) ++
      (if (notNull.nonEmpty) Seq("graft.notnull" -> notNull.mkString(","))
       else Seq.empty) ++
      defaults ++ numbered.sortBy(_._1)
  }
}
