package graft

/** API-contract tests for [[ExecutionContext]] — parity with the
  * reference's `src/context.rs:10-56` surface and the `tmp/crud.txt`
  * DDL/index tests. */
class ExecutionContextSpec extends SparkSpec {

  private def ctx = new ExecutionContext(spark).registerTestData(sf)

  test("SparkEntry.queries preserves catalog declaration order (Verify " +
    "executes entries in this order; hash-map order made cross-entry " +
    "state bugs like r10's io05 nondeterministic between rounds)") {
    assert(SparkEntry.queries.keys.toSeq ==
      QueryCatalog.all.map(_.name))
    assert(SparkEntry.oracleSql.keys.toSeq ==
      QueryCatalog.all.flatMap(q => q.oracle.map(_ => q.name)))
  }

  test("unknown table surfaces the reference's error contract " +
    "(tmp/select.rs:357-364)") {
    val e = intercept[IllegalArgumentException] {
      ctx.execute("SELECT * FROM no_such_table")
    }
    assert(e.getMessage == "Table: no_such_table does not exist in database")
  }

  test("table() accessor enforces the same contract") {
    val e = intercept[IllegalArgumentException](ctx.table("ghost"))
    assert(e.getMessage.contains("does not exist in database"))
  }

  test("invalid dialect rejected; all 11 reference dialect keys accepted " +
    "(src/lib.rs:9-23)") {
    intercept[IllegalArgumentException](
      new ExecutionContext(spark, "oracle9i"))
    ExecutionContext.dialects.foreach(d =>
      new ExecutionContext(spark, d))
  }

  test("execute runs only the first statement (src/context.rs:49)") {
    val df = ctx.execute(
      "SELECT 1 AS a; SELECT 2 AS b")
    assert(df.columns.toSeq == Seq("a"))
  }

  test("executeAll runs every statement, returns the last") {
    val df = ctx.executeAll("SELECT 1 AS a; SELECT 2 AS b")
    assert(df.columns.toSeq == Seq("b"))
  }

  test("statement splitter: semicolons inside quotes and -- comments do " +
    "not split; quoted quotes survive") {
    assert(ExecutionContext.statements(
      "SELECT ';' AS x; -- trailing; comment\nSELECT 2") ==
      Seq("SELECT ';' AS x", "-- trailing; comment\nSELECT 2"))
    assert(ExecutionContext.statements("SELECT 'it''s; fine' AS y") ==
      Seq("SELECT 'it''s; fine' AS y"))
    // `--` inside double-quoted literals / backticked identifiers is NOT
    // a comment; the following semicolon must still split
    assert(ExecutionContext.statements("SELECT \"--\" AS d; SELECT 2") ==
      Seq("SELECT \"--\" AS d", "SELECT 2"))
    assert(ExecutionContext.statements("SELECT `a--b` FROM t; SELECT 2") ==
      Seq("SELECT `a--b` FROM t", "SELECT 2"))
  }

  test("statement splitter: block comments are opaque (; / quotes / -- " +
    "inside do not change state) and nest, Spark-style") {
    assert(ExecutionContext.statements(
      "SELECT 1 /* not; a 'split */ AS a; SELECT 2") ==
      Seq("SELECT 1 /* not; a 'split */ AS a", "SELECT 2"))
    // nested block comment: the first */ closes only the INNER comment
    assert(ExecutionContext.statements(
      "SELECT /* outer /* inner; */ still; */ 3 AS n; SELECT 4") ==
      Seq("SELECT /* outer /* inner; */ still; */ 3 AS n", "SELECT 4"))
    // /* inside a quoted literal is NOT a comment opener
    assert(ExecutionContext.statements("SELECT '/*' AS s; SELECT 5") ==
      Seq("SELECT '/*' AS s", "SELECT 5"))
    // unterminated block comment swallows the rest (lexer behavior)
    assert(ExecutionContext.statements("SELECT 1 /* open; forever") ==
      Seq("SELECT 1 /* open; forever"))
  }

  test("statement splitter: backslash-escaped quotes inside literals do " +
    "not close the quote region (Spark default escape)") {
    assert(ExecutionContext.statements("""SELECT 'a\';b' AS x; SELECT 2""") ==
      Seq("""SELECT 'a\';b' AS x""", "SELECT 2"))
    assert(ExecutionContext.statements("SELECT \"a\\\";b\" AS x; SELECT 2") ==
      Seq("SELECT \"a\\\";b\" AS x", "SELECT 2"))
    // a lone trailing backslash must not swallow the end of input
    assert(ExecutionContext.statements("SELECT '\\") == Seq("SELECT '\\"))
  }

  test("splitList splits on commas only outside quoted segments") {
    assert(ExecutionContext.splitList("a, b ,c") == Seq("a", " b ", "c"))
    assert(ExecutionContext.splitList("`a,b`, c") == Seq("`a,b`", " c"))
    assert(ExecutionContext.splitList("\"x,y\",`p,,q`") ==
      Seq("\"x,y\"", "`p,,q`"))
  }

  test("unquote normalizes identifiers but passes non-identifier text " +
    "through trimmed (never fragment-rejoined)") {
    assert(ExecutionContext.unquote(" `my idx` ") == "my idx")
    assert(ExecutionContext.unquote("s.\"t\"") == "s.t")
    assert(ExecutionContext.unquote(" a DESC ") == "a DESC")
  }

  test("explain renders the analyzed logical plan (format_plan parity, " +
    "tmp/select.rs:625-746)") {
    val plan = ctx.explain("SELECT c_name FROM customer WHERE c_acctbal > 0")
    assert(plan.contains("Project"))
    assert(plan.contains("Filter"))
    assert(plan.contains("Relation") || plan.contains("SubqueryAlias"))
  }

  test("explainReference renders the reference's exact format_plan shape " +
    "for the main.rs:7 query (tmp/select.rs:625-746)") {
    val c = ctx
    // the reference's seeded catalog: users(id, name, email)
    // (src/context.rs:19-22); its only shipped query is main.rs:7
    val sq = spark; import sq.implicits._
    Seq((1L, "a", "a@x")).toDF("id", "name", "email")
      .createOrReplaceTempView("users")
    val plan = c.explainReference("SELECT email, name FROM users")
    assert(plan ==
      "-> Projection: [email, name]\n" +
        " -> TableScan: users projection=[id, name, email]\n")
    spark.catalog.dropTempView("users")
  }

  test("explainReference: filter + alias + sort + limit + join nodes carry " +
    "the reference node labels and one-space-per-level indent") {
    val c = ctx
    val p1 = c.explainReference(
      "SELECT c_name AS n FROM customer WHERE c_custkey > 5 " +
        "ORDER BY c_name DESC LIMIT 3")
    // Spark's analysis adds a sort-column projection + cleanup project
    // around the Sort; the node labels and indent discipline are the
    // parity target
    assert(p1.startsWith(
      "-> Limit: LIMIT 3\n -> Projection: [n]\n  -> Sort: [c_name DESC]\n"))
    assert(p1.contains("-> Projection: [c_name AS n, c_name]\n"))
    assert(p1.contains("-> Filter: c_custkey > 5\n"))
    assert(p1.contains("-> TableScan: customer projection=["))
    val p2 = c.explainReference(
      "SELECT n_name FROM nation n JOIN region r " +
        "ON n.n_regionkey = r.r_regionkey")
    assert(p2.contains("-> Join: Inner ON n_regionkey = r_regionkey\n"))
    assert(p2.contains("  -> TableScan: nation AS n projection=["))
    assert(p2.contains("  -> TableScan: region AS r projection=["))
    val p3 = c.explainReference(
      "SELECT n_regionkey, count(*) AS c, sum(n_nationkey) AS s " +
        "FROM nation GROUP BY n_regionkey")
    assert(p3.contains(
      "-> Aggregate: group=[n_regionkey] agg=[COUNT(*) AS c, " +
        "SUM(n_nationkey) AS s]\n"))
  }

  test("explainReference: SQL special forms keep surface syntax (LIKE / " +
    "IN / CASE WHEN — not pseudo-function calls), and a leading comment " +
    "does not reject the statement") {
    val c = ctx
    val p = c.explainReference(
      "SELECT CASE WHEN n_regionkey > 2 THEN 'hi' ELSE 'lo' END AS b " +
        "FROM nation WHERE n_name LIKE 'A%' AND n_regionkey IN (0, 1, 4)")
    assert(p.contains("n_name LIKE 'A%'"), p)
    assert(p.contains("n_regionkey IN (0, 1, 4)"), p)
    // a non-default ESCAPE changes pattern semantics and must survive
    // rendering (r13 advice: it was silently dropped); the default
    // backslash escape stays unspelled, matching surface syntax
    val pe = c.explainReference(
      "SELECT n_name FROM nation WHERE n_name LIKE 'A!_%' ESCAPE '!'")
    assert(pe.contains("n_name LIKE 'A!_%' ESCAPE '!'"), pe)
    assert(p.contains(
      "CASE WHEN n_regionkey > 2 THEN 'hi' ELSE 'lo' END"), p)
    assert(!p.toUpperCase.contains("CASEWHEN("), p)
    // comments are stripped before the shape dispatch: both the query
    // head and a DML head render despite a leading block/line comment
    assert(c.explainReference("/* tagged */ SELECT n_name FROM nation")
      .contains("-> TableScan: nation"))
    assert(c.explainReference("-- audit\nDELETE FROM nation WHERE n_nationkey = 1")
      .startsWith("-> Delete: nation"))
  }

  test("explainReference: CTE renders the reference's With node and the " +
    "CTE reference renders as a TableScan of the CTE name") {
    val c = ctx
    val plan = c.explainReference(
      "WITH big AS (SELECT n_name FROM nation WHERE n_regionkey = 1) " +
        "SELECT n_name FROM big LIMIT 2")
    assert(plan.startsWith("-> With: [big]\n"), s"got:\n$plan")
    assert(plan.contains("TableScan: big") ||
      plan.contains("SubqueryAlias: big"), s"got:\n$plan")
  }

  test("explainReference: DML/DDL statements render the crud formatter's " +
    "node vocabulary (tmp/crud.txt:652-857) WITHOUT executing") {
    val c = ctx
    val before = c.execute("SELECT count(*) AS n FROM nation")
      .collect().head.getLong(0)
    // Insert both arms: Values row count vs Source subplan at indent+2
    assert(c.explainReference(
      "INSERT INTO nation (n_name) VALUES ('A'), ('B'), ('C')") ==
      "-> Insert: nation (n_name)\n  Values: 3 row(s)\n")
    val ins = c.explainReference(
      "INSERT INTO nation (n_nationkey) SELECT r_regionkey FROM region")
    assert(ins.startsWith("-> Insert: nation (n_nationkey)\n  Source:\n" +
      "  -> Projection: [r_regionkey]\n"), s"got:\n$ins")
    // Update: SET list + WHERE resolved against target × FROM frame
    assert(c.explainReference(
      "UPDATE nation SET n_name = upper(r_name) FROM region " +
        "WHERE n_regionkey = r_regionkey") ==
      "-> Update: nation SET [n_name = UPPER(r_name)]\n" +
        "  WHERE: n_regionkey = r_regionkey\n  FROM:\n" +
        "  -> TableScan: region projection=[r_regionkey, r_name]\n")
    assert(c.explainReference("DELETE FROM nation WHERE n_nationkey < 2") ==
      "-> Delete: nation\n  WHERE: n_nationkey < 2\n")
    // formatting is planning, not execution — nation is untouched and no
    // table `t9` came into existence
    assert(c.explainReference(
      "CREATE TABLE t9 (a INT PRIMARY KEY, b VARCHAR(8) NOT NULL)") ==
      "-> CreateTable: t9\n" +
        "  Column: a Integer (nullable: false, pk: true)\n" +
        "  Column: b Varchar(8) (nullable: false, pk: false)\n")
    assert(!c.tableExists("t9"))
    assert(c.execute("SELECT count(*) AS n FROM nation")
      .collect().head.getLong(0) == before)
    // CreateIndex: ONE ` IF NOT EXISTS` splice after the name — the
    // reference glues it twice ("UNIQUE  IF NOT EXISTSINDEX …",
    // tmp/crud.txt:772-790), a formatting bug deliberately not
    // replicated (the #34 pointer-address precedent)
    val ci = c.explainReference(
      "CREATE UNIQUE INDEX IF NOT EXISTS ix ON nation (n_name)")
    assert(ci ==
      "-> CreateIndex: UNIQUE INDEX ix IF NOT EXISTS ON nation (n_name)\n")
    assert(!ci.contains("EXISTSINDEX"))
    assert(c.explainReference("DROP TABLE a1, b2 CASCADE") ==
      "-> DropTable: a1, b2 CASCADE\n")
    assert(c.explainReference("DROP INDEX IF EXISTS ix") ==
      "-> DropIndex: ix IF EXISTS\n")
    // a command outside both formatter halves is rejected, never handed
    // to spark.sql (which would run it eagerly)
    intercept[IllegalArgumentException](
      c.explainReference("DROP VIEW nation"))
  }

  test("scalar-function passthrough resolves arbitrary registry functions " +
    "(tmp/select.rs:583-611)") {
    val row = ctx.execute(
      "SELECT reverse('abc') AS r, pow(2, 10) AS p, bit_count(7) AS b")
      .collect().head
    assert(row.getString(0) == "cba")
    assert(row.getDouble(1) == 1024.0)
  }

  test("GraftExtensions injects the full engine function surface via " +
    "SparkSessionExtensions (the spark.sql.extensions library path)") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = FunctionRegistry.builtin.clone()
    org.apache.spark.sql.GraftBridge.applyInjectedFunctions(ext, reg)
    GraftFunctions.all.foreach { case (name, _, _, _, _) =>
      assert(reg.functionExists(FunctionIdentifier(name)), name)
    }
    // the optimizer-rule injections ride the same extension object: an
    // extension-built session must get the MV rewrite (the registry is
    // JVM-global, but rule installation is per-session — without the
    // injection a second session would silently never rewrite) and the
    // as-of filter pushdown
    val rules = org.apache.spark.sql.GraftBridge
      .injectedOptimizerRules(ext, spark)
    assert(rules.contains(Mv.MvRewrite),
      "extension sessions must carry the MV rewrite rule")
    assert(rules.exists(_.isInstanceOf[AsOfJoinFilterPushdown]))
  }

  test("DESCRIBE FUNCTION surfaces a usage line for every engine function") {
    val c = ctx
    GraftFunctions.all.foreach { case (name, _, _, usage, _) =>
      val desc = c.execute(s"DESCRIBE FUNCTION $name")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains(usage.takeWhile(_ != '\n')), name)
    }
  }

  test("csv and json sources register as queryable tables (explicit " +
    "schema: no inference scan)") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_src").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "t.csv"), "id,name\n1,ann\n2,bob\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "t.json"),
      """{"id": 3, "name": "cec"}""" + "\n" + """{"id": 4, "name": "dee"}""")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val c = ctx
      .registerCsv("src_csv", s"$dir/t.csv", schema)
      .registerJson("src_json", s"$dir/t.json", schema)
    val rows = c.execute(
      "SELECT id, name FROM src_csv UNION ALL SELECT id, name FROM src_json")
      .orderBy(org.apache.spark.sql.functions.col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq ==
      Seq((1L, "ann"), (2L, "bob"), (3L, "cec"), (4L, "dee")))
  }

  test("minhash_sig is callable from SQL with a literal k; non-literal k " +
    "fails analysis with a real message") {
    val c = ctx
    val row = c.execute(
      "SELECT minhash_sig(array(xxhash64('a'), xxhash64('b')), 4) AS s")
      .collect().head
    assert(row.getSeq[Long](0).length == 4)
    val e = intercept[Exception](
      c.execute("SELECT minhash_sig(array(1L), cast(rand()*4 as int))")
        .collect())
    assert(e.getMessage.contains("integer literal"))
  }

  test("create index: deterministic auto-name, duplicate error, " +
    "IF NOT EXISTS, unique flag (tmp/crud.txt:312-347)") {
    val c = ctx
    val ix = c.createIndex(None, "customer", Seq("c_custkey", "c_name"))
    assert(ix.name == "idx_customer_c_custkey_c_name")
    assert(!ix.unique)
    val e = intercept[IllegalArgumentException] {
      c.createIndex(None, "customer", Seq("c_custkey", "c_name"))
    }
    assert(e.getMessage.contains("already exists"))
    // IF NOT EXISTS is a no-op success
    c.createIndex(None, "customer", Seq("c_custkey", "c_name"),
      ifNotExists = true)
    val uix = c.createIndex(Some("u1"), "customer", Seq("c_custkey"),
      unique = true)
    assert(uix.unique)
    assert(c.indexes.map(_.name) == Seq("idx_customer_c_custkey_c_name", "u1"))
  }

  test("create index on missing table fails the catalog check") {
    intercept[IllegalArgumentException] {
      ctx.createIndex(None, "nope", Seq("x"))
    }
  }

  test("drop index: IF EXISTS tolerated, missing errors " +
    "(tmp/crud.txt:372-383)") {
    val c = ctx
    c.createIndex(Some("tmp_ix"), "customer", Seq("c_custkey"))
    c.dropIndex(Seq("tmp_ix"))
    assert(!c.indexes.exists(_.name == "tmp_ix"))
    intercept[IllegalArgumentException](c.dropIndex(Seq("tmp_ix")))
    c.dropIndex(Seq("tmp_ix"), ifExists = true)
  }

  test("CREATE INDEX / DROP INDEX parse through execute()") {
    val c = ctx
    c.execute("CREATE UNIQUE INDEX my_ix ON customer (c_custkey)")
    assert(c.indexes.exists(ix => ix.name == "my_ix" && ix.unique))
    c.execute("DROP INDEX my_ix")
    assert(!c.indexes.exists(_.name == "my_ix"))
  }

  test("createTable records column options + table constraints as " +
    "graft.* properties, round-tripped via tableProperties " +
    "(tmp/crud.txt:388-479)") {
    val c = ctx
    import org.apache.spark.sql.types._
    val loc = Dml.work("spec_ddl", sf) + "/t2"
    c.execute("DROP TABLE IF EXISTS spec_t2")
    c.createTable(
      "spec_t2",
      Seq(
        ColumnSpec("id", LongType, nullable = false, primaryKey = true),
        ColumnSpec("region", IntegerType, default = Some("0")),
        ColumnSpec("name", StringType)),
      Seq(
        TableConstraintDef.ForeignKey(
          Seq("region"), "region", Seq("r_regionkey")),
        TableConstraintDef.Unique(Seq("name")),
        TableConstraintDef.Check("id > 0")),
      loc,
      ifNotExists = false)
    val props = c.tableProperties("spec_t2")
    assert(props("graft.primary_key") == "id")
    assert(props("graft.notnull") == "id")
    assert(props("graft.default.region") == "0")
    assert(props("graft.constraint.fk.0") ==
      "(region) REFERENCES region (r_regionkey)")
    assert(props("graft.constraint.unique.0") == "name")
    assert(props("graft.constraint.check.0") == "id > 0")
    // (NOT NULL is emitted into the CREATE TABLE DDL, but Spark relaxes
    // file-source schemas to nullable on read — the authoritative record
    // is the graft.notnull property asserted above.)
    c.dropTable(Seq("spec_t2"))
  }

  test("execute(CREATE TABLE ...) strips constraint clauses into the same " +
    "graft.* properties as the typed API (SQL path parity)") {
    val c = ctx
    val loc = Dml.work("spec_ddl", sf) + "/t4"
    c.execute("DROP TABLE IF EXISTS spec_t4")
    c.execute(
      s"""CREATE TABLE spec_t4 (
         |  id BIGINT PRIMARY KEY,
         |  region INT DEFAULT 0,
         |  price DECIMAL(10,2) NOT NULL DEFAULT round(1.5, 1),
         |  name STRING,
         |  FOREIGN KEY (region) REFERENCES region (r_regionkey),
         |  CONSTRAINT uq_name UNIQUE (name),
         |  CHECK (id > 0 AND region IN (0, 1))
         |) USING parquet LOCATION '$loc'""".stripMargin)
    val props = c.tableProperties("spec_t4")
    assert(props("graft.primary_key") == "id")
    assert(props("graft.notnull") == "id,price")
    assert(props("graft.default.region") == "0")
    // a DEFAULT expression with nested parens/commas survives intact
    assert(props("graft.default.price") == "round(1.5, 1)")
    assert(props("graft.constraint.fk.0") ==
      "(region) REFERENCES region (r_regionkey)")
    assert(props("graft.constraint.unique.0") == "name")
    assert(props("graft.constraint.check.0") == "id > 0 AND region IN (0, 1)")
    // the real relation exists with the real types (DECIMAL survived the
    // option-stripping scan)
    assert(c.table("spec_t4").schema("price").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 2))
    // DEFAULT stays in the emitted DDL, so a plain SQL INSERT that omits
    // the column gets Spark's native default application — not just the
    // graft.* metadata twin
    c.execute(
      "INSERT INTO spec_t4 (id, price, name) VALUES (7, 2.50, 'x')")
    val row = c.table("spec_t4").collect().head
    assert(row.getInt(row.fieldIndex("region")) == 0,
      "native DEFAULT must fill the omitted column")
    c.dropTable(Seq("spec_t4"))
  }

  test("rewriteCreateTable leaves constraint-free statements alone and " +
    "is not fooled by look-alike column names") {
    import ExecutionContext.rewriteCreateTable
    // nothing to strip/record -> None (run the original text, CTAS incl.)
    assert(rewriteCreateTable(
      "CREATE TABLE t (a INT, b STRING) USING parquet").isEmpty)
    assert(rewriteCreateTable(
      "CREATE TABLE t USING parquet AS SELECT 1 AS a").isEmpty)
    assert(rewriteCreateTable("SELECT 1").isEmpty)
    // my_default / quoted names are identifiers, not DEFAULT clauses
    assert(rewriteCreateTable(
      "CREATE TABLE t (my_default INT, `default` STRING) USING parquet")
      .isEmpty)
    // NOT NULL parses natively but must register graft.notnull so the
    // SQL path's metadata equals the typed API's
    val nn = rewriteCreateTable(
      "CREATE TABLE t (a INT NOT NULL, b STRING) USING parquet").get
    assert(nn.contains("'graft.notnull'='a'"))
    // stripping keeps the rest verbatim and appends TBLPROPERTIES
    val got = rewriteCreateTable(
      "CREATE TABLE t (id BIGINT PRIMARY KEY) USING parquet " +
        "TBLPROPERTIES ('k'='v')").get
    assert(got.contains("id BIGINT  NOT NULL") || // double space: kept text
      got.contains("id BIGINT NOT NULL"))
    assert(!got.toUpperCase.contains("PRIMARY KEY"))
    assert(got.contains("'graft.primary_key'='id'") && got.contains("'k'='v'"))
  }

  test("rewriteCreateTable keeps MAP<K,V>/STRUCT<...> type arguments " +
    "intact: commas don't split, struct field names aren't keywords") {
    import ExecutionContext.rewriteCreateTable
    val got = rewriteCreateTable(
      "CREATE TABLE t (m MAP<STRING,INT> DEFAULT map('a', 1), " +
        "s STRUCT<default: INT, check: STRING>, id BIGINT PRIMARY KEY) " +
        "USING parquet").get
    assert(got.contains("m MAP<STRING,INT>"), got)
    assert(got.contains("s STRUCT<default: INT, check: STRING>"), got)
    assert(got.contains("'graft.default.m'='map('a', 1)'") ||
      got.contains("graft.default.m"), got)
    assert(got.contains("'graft.primary_key'='id'"), got)
    // no phantom metadata for the struct's inner field names
    assert(!got.contains("graft.default.s"), got)
    // spaced comparison in a parenthesized DEFAULT stays balanced
    val cmp = rewriteCreateTable(
      "CREATE TABLE t (a INT DEFAULT (1 < 2), id BIGINT PRIMARY KEY) " +
        "USING parquet").get
    assert(cmp.contains("'graft.default.a'='(1 < 2)'"), cmp)
  }

  test("recorded graft.default.* metadata drives Dml.insertValues " +
    "defaults for omitted columns") {
    val c = ctx
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{col, expr}
    val loc = Dml.work("spec_ddl", sf) + "/t3"
    c.execute("DROP TABLE IF EXISTS spec_t3")
    c.createTable(
      "spec_t3",
      Seq(
        ColumnSpec("id", LongType, nullable = false),
        ColumnSpec("region", IntegerType, default = Some("7")),
        ColumnSpec("name", StringType)),
      Seq.empty, loc, ifNotExists = false)
    c.execute("INSERT OVERWRITE spec_t3 VALUES (CAST(0 AS BIGINT), 5, 'seed')")
    val defaults = c.tableProperties("spec_t3").collect {
      case (k, v) if k.startsWith("graft.default.") =>
        k.stripPrefix("graft.default.") -> expr(v)
    }.toMap
    assert(defaults.keySet == Set("region"))
    val sq = spark; import sq.implicits._
    val out = Dml.insertValues(
      c.table("spec_t3"),
      Seq((1L, "a")).toDF("id", "name"),
      Dml.work("spec_default_meta", sf),
      defaults)
    val added = out.filter(col("id") === 1L).collect()
    assert(added.length == 1 && added.head.getInt(1) == 7)
    // the seeded row is untouched
    assert(out.filter(col("id") === 0L).collect().head.getInt(1) == 5)
    c.dropTable(Seq("spec_t3"))
  }

  test("quoted / backticked / qualified identifiers parse through " +
    "execute() index DDL (sqlparser accepts them, tmp/crud.txt:312-347)") {
    val c = ctx
    c.execute("CREATE INDEX `my idx` ON customer (`c_custkey`, c_name)")
    assert(c.indexes.exists(ix =>
      ix.name == "my idx" && ix.table == "customer" &&
        ix.columns == Seq("c_custkey", "c_name")))
    c.execute("DROP INDEX `my idx`")
    assert(!c.indexes.exists(_.name == "my idx"))
    c.execute("""CREATE UNIQUE INDEX "q ix" ON customer ("c_custkey")""")
    assert(c.indexes.exists(ix =>
      ix.name == "q ix" && ix.unique && ix.columns == Seq("c_custkey")))
    // CASCADE accepted (reference DropIndex IR carries the flag,
    // src/planner/logical_plan.rs:80-84) — no-op for metadata indexes
    c.execute("""DROP INDEX "q ix" CASCADE""")
    assert(!c.indexes.exists(_.name == "q ix"))
  }

  test("an unquoted index name ending in 'cascade' is dropped under its " +
    "own name, not truncated by the CASCADE keyword group") {
    val c = ctx
    c.execute("CREATE INDEX my_cascade ON customer (c_custkey)")
    assert(c.indexes.exists(_.name == "my_cascade"))
    c.execute("DROP INDEX my_cascade")
    assert(!c.indexes.exists(_.name == "my_cascade"))
    // and the keyword still parses when genuinely present
    c.execute("CREATE INDEX my_cascade ON customer (c_custkey)")
    c.execute("DROP INDEX my_cascade CASCADE")
    assert(!c.indexes.exists(_.name == "my_cascade"))
  }

  test("a quoted column name containing a comma stays one column through " +
    "execute() index DDL") {
    val c = ctx
    c.execute("CREATE INDEX comma_ix ON customer (`a,b`, c_name)")
    val ix = c.indexes.find(_.name == "comma_ix").get
    assert(ix.columns == Seq("a,b", "c_name"))
    c.execute("DROP INDEX comma_ix")
  }

  test("drop table cascade removes the table's indexes " +
    "(tmp/crud.txt:349-371)") {
    val c = ctx
    import org.apache.spark.sql.types._
    val loc = Dml.work("spec_ddl", sf) + "/t1"
    c.execute("DROP TABLE IF EXISTS spec_t1")
    c.createTable("spec_t1",
      StructType(Seq(StructField("id", LongType))), loc)
    c.createIndex(None, "spec_t1", Seq("id"))
    c.dropTable(Seq("spec_t1"), cascade = true)
    assert(!c.tableExists("spec_t1"))
    assert(!c.indexes.exists(_.table == "spec_t1"))
    // missing table without IF EXISTS errors; with it, tolerated
    intercept[IllegalArgumentException](c.dropTable(Seq("spec_t1")))
    c.dropTable(Seq("spec_t1"), ifExists = true)
  }

  test("auditConstraints counts FK orphans (non-null key tuples with no " +
    "match) and ignores null-keyed rows, SQL semantics") {
    import org.apache.spark.sql.types._
    val c = ctx
    val base = java.nio.file.Files
      .createTempDirectory("graft_fk_audit").toString
    c.execute("DROP TABLE IF EXISTS spec_fk_parent")
    c.execute("DROP TABLE IF EXISTS spec_fk_child")
    c.execute(s"""CREATE TABLE spec_fk_parent (pid BIGINT PRIMARY KEY)
      USING parquet LOCATION '$base/parent'""")
    c.execute("INSERT OVERWRITE spec_fk_parent VALUES (1), (2)")
    c.execute(s"""CREATE TABLE spec_fk_child (cid BIGINT, pid BIGINT,
      FOREIGN KEY (pid) REFERENCES spec_fk_parent (pid))
      USING parquet LOCATION '$base/child'""")
    // pid=7 is an orphan; pid=NULL is not audited (unknown, SQL passes)
    c.execute(
      "INSERT OVERWRITE spec_fk_child VALUES (10, 1), (11, 7), (12, NULL)")
    val audit = c.auditConstraints("spec_fk_child").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val fkRow = audit.collectFirst {
      case (k, v) if k.startsWith("fk(") => (k, v)
    }
    assert(fkRow.exists(_._2 == 1L), s"audit rows: $audit")
    // a constraint-free table audits to an EMPTY report with the same
    // schema (not an error, not a null frame)
    c.execute(s"""CREATE TABLE spec_fk_plain (x BIGINT)
      USING parquet LOCATION '$base/plain'""")
    val empty = c.auditConstraints("spec_fk_plain")
    assert(empty.columns.toSeq ==
      Seq("constraint_name", "n_violations") && empty.count() == 0)
    c.execute("DROP TABLE spec_fk_plain")
    c.execute("DROP TABLE spec_fk_child")
    c.execute("DROP TABLE spec_fk_parent")
  }

  test("SQL UPDATE/DELETE statements route through the copy-on-write " +
    "store and the session view tracks each statement's result") {
    import org.apache.spark.sql.functions._
    val c = ctx
    Tables.t(spark, sf, "nation").createOrReplaceTempView("spec_sql_nation")
    val n0 = spark.table("spec_sql_nation").count()
    // UPDATE … WHERE: only matching rows change; SELECT sees the change
    c.execute("""UPDATE spec_sql_nation SET n_name = 'PATCHED'
      WHERE n_regionkey = 2""")
    val afterUpdate = c.execute("SELECT * FROM spec_sql_nation")
    assert(afterUpdate.count() == n0)
    val patched = afterUpdate.filter(col("n_name") === "PATCHED").count()
    assert(patched > 0 &&
      patched == afterUpdate.filter(col("n_regionkey") === 2).count())
    // chained DELETE … WHERE on the mutated view
    c.execute("DELETE FROM spec_sql_nation WHERE n_name = 'PATCHED'")
    val afterDelete = spark.table("spec_sql_nation")
    assert(afterDelete.count() == n0 - patched)
    assert(afterDelete.filter(col("n_name") === "PATCHED").count() == 0)
    // the BASE table is untouched (copy-on-write, not in-place)
    assert(Tables.t(spark, sf, "nation").count() == n0)
    // WHERE-less forms: update-all then delete-all
    c.execute("UPDATE spec_sql_nation SET n_name = 'X'")
    assert(spark.table("spec_sql_nation")
      .filter(col("n_name") =!= "X").count() == 0)
    c.execute("DELETE FROM spec_sql_nation")
    assert(spark.table("spec_sql_nation").count() == 0)
    // SQL INSERT INTO the (now empty) view: full-row VALUES, then a
    // column-subset insert (omitted column fills with typed NULL), then
    // INSERT … SELECT — positional binding throughout
    c.execute("INSERT INTO spec_sql_nation VALUES (90, 'ATLANTIS', 1)")
    c.execute(
      "INSERT INTO spec_sql_nation (n_nationkey, n_name) VALUES (91, 'MU')")
    c.execute("""INSERT INTO spec_sql_nation
      SELECT n_nationkey + 100, n_name, n_regionkey
      FROM spec_sql_nation""")
    val rows = spark.table("spec_sql_nation")
      .orderBy("n_nationkey").collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2)))
    assert(rows.toSeq == Seq((90, "ATLANTIS", 1), (91, "MU", -1),
      (190, "ATLANTIS", 1), (191, "MU", -1)))
    spark.catalog.dropTempView("spec_sql_nation")
  }

  test("SQL UPDATE … FROM (join-form) qualifies columns by table name " +
    "and updates only matched rows") {
    import org.apache.spark.sql.functions._
    val c = ctx
    Tables.t(spark, sf, "customer")
      .createOrReplaceTempView("spec_sql_cust")
    Tables.t(spark, sf, "nation").createOrReplaceTempView("spec_sql_nat")
    c.execute("""UPDATE spec_sql_cust SET
      c_acctbal = spec_sql_cust.c_acctbal + 100.0
      FROM spec_sql_nat
      WHERE spec_sql_cust.c_nationkey = spec_sql_nat.n_nationkey
      AND spec_sql_nat.n_regionkey = 2""")
    val got = spark.table("spec_sql_cust")
    val base = Tables.t(spark, sf, "customer").alias("b")
      .join(Tables.t(spark, sf, "nation"),
        col("c_nationkey") === col("n_nationkey"), "left")
      .select(col("c_custkey"),
        when(col("n_regionkey") === 2, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("expected"))
    val diff = got.select(col("c_custkey"), col("c_acctbal"))
      .join(base, "c_custkey")
      .filter(col("c_acctbal") =!= col("expected"))
    assert(diff.count() == 0)
    // error contract preserved on unknown tables
    val e = intercept[IllegalArgumentException] {
      c.execute("DELETE FROM no_such_table WHERE 1 = 1")
    }
    assert(e.getMessage.contains("does not exist in database"))
    spark.catalog.dropTempView("spec_sql_cust")
    spark.catalog.dropTempView("spec_sql_nat")
  }

  test("SQL UPDATE clause binding is quote/paren-aware: commas inside " +
    "literals and function args, bare from/where inside literals") {
    import org.apache.spark.sql.functions._
    val c = ctx
    Tables.t(spark, sf, "nation").createOrReplaceTempView("spec_sql_qp")
    // comma inside a single-quoted literal must not split the SET list;
    // the literal's bare ' from ' and ' where ' words must not bind as
    // clause keywords
    c.execute("""UPDATE spec_sql_qp SET n_name = 'a, from b where c'
      WHERE n_regionkey = 0""")
    val lit0 = spark.table("spec_sql_qp")
      .filter(col("n_name") === "a, from b where c")
    assert(lit0.count() > 0 && lit0.count() ==
      spark.table("spec_sql_qp").filter(col("n_regionkey") === 0).count())
    // comma inside function parens is one assignment, and a second
    // assignment after it still parses
    c.execute("""UPDATE spec_sql_qp
      SET n_name = concat('R', cast(round(n_regionkey + 0.4, 0) as int)),
          n_nationkey = n_nationkey + 1000
      WHERE n_regionkey = 1""")
    val r1 = spark.table("spec_sql_qp").filter(col("n_regionkey") === 1)
    assert(r1.filter(col("n_name") =!= "R1").count() == 0)
    assert(r1.filter(col("n_nationkey") < 1000).count() == 0)
    spark.catalog.dropTempView("spec_sql_qp")
  }

  test("SQL INSERT INTO a missing table surfaces the same reference " +
    "error contract as UPDATE/DELETE") {
    val c = ctx
    val e1 = intercept[IllegalArgumentException] {
      c.execute("INSERT INTO no_such_table VALUES (1, 'x')")
    }
    assert(e1.getMessage == "Table: no_such_table does not exist in database")
    val e2 = intercept[IllegalArgumentException] {
      c.execute("INSERT INTO no_such_table SELECT * FROM nation")
    }
    assert(e2.getMessage == "Table: no_such_table does not exist in database")
  }

  test("two ExecutionContexts mutating the same table name use disjoint " +
    "work dirs: the first context's committed result stays readable") {
    import org.apache.spark.sql.functions._
    val c1 = ctx
    Tables.t(spark, sf, "region").createOrReplaceTempView("spec_sql_iso")
    val r1 = c1.execute("UPDATE spec_sql_iso SET r_name = 'ONE'")
    // a second context re-registers the base view and runs its own first
    // statement — same table name, same per-context sequence number s1;
    // before the pid/ctx-id keying this overwrote c1's version directory
    val c2 = new ExecutionContext(spark).registerTestData(sf)
    Tables.t(spark, sf, "region").createOrReplaceTempView("spec_sql_iso")
    c2.execute("UPDATE spec_sql_iso SET r_name = 'TWO'")
    // c1's returned frame still reads ITS parquet dir, not c2's
    assert(r1.filter(col("r_name") =!= "ONE").count() == 0)
    assert(r1.count() == Tables.t(spark, sf, "region").count())
    spark.catalog.dropTempView("spec_sql_iso")
  }

  test("ALTER TABLE guards: duplicate ADD, missing RENAME/DROP columns, " +
    "and a parenthesized decimal type all behave; missing table gets " +
    "the reference error") {
    val sq = spark; import sq.implicits._
    val ctx = new ExecutionContext(spark)
    Seq((1L, "x")).toDF("id", "name")
      .createOrReplaceTempView("spec_alter_t")
    ctx.execute("ALTER TABLE spec_alter_t ADD COLUMN score DECIMAL(18,2)")
    assert(spark.table("spec_alter_t").schema("score").dataType ==
      org.apache.spark.sql.types.DecimalType(18, 2))
    // pre-existing rows read typed NULL in the new column
    assert(spark.table("spec_alter_t").filter(org.apache.spark.sql.functions.col("score").isNull)
      .count() == 1)
    val dup = intercept[IllegalArgumentException] {
      ctx.execute("ALTER TABLE spec_alter_t ADD COLUMN score INT")
    }
    assert(dup.getMessage.contains("already exists"))
    val mis = intercept[IllegalArgumentException] {
      ctx.execute("ALTER TABLE spec_alter_t RENAME COLUMN nope TO x")
    }
    assert(mis.getMessage.contains("no column"))
    val misD = intercept[IllegalArgumentException] {
      ctx.execute("ALTER TABLE spec_alter_t DROP COLUMN nope")
    }
    assert(misD.getMessage.contains("no column"))
    val noTbl = intercept[IllegalArgumentException] {
      ctx.execute("ALTER TABLE spec_alter_missing ADD COLUMN a INT")
    }
    assert(noTbl.getMessage.contains("does not exist in database"))
    // multi-column ADD COLUMNS (a, b) adds BOTH typed-NULL columns — the
    // single-column regex used to swallow `INT, b STRING` as one type
    ctx.execute("ALTER TABLE spec_alter_t ADD COLUMNS " +
      "(tag STRING, ratio DECIMAL(10,2))")
    val sch = spark.table("spec_alter_t").schema
    assert(sch("tag").dataType == org.apache.spark.sql.types.StringType)
    assert(sch("ratio").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 2))
    spark.catalog.dropTempView("spec_alter_t")
  }

  test("SQL DELETE commits a deletion vector (broadcast anti-join in " +
    "the read plan) and agrees row for row with the relational " +
    "complement") {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val ctx = new ExecutionContext(spark)
    // private view names (m10's discipline): a SQL DELETE re-registers
    // its target view, so mutating the shared fixture views would leak
    // post-delete state into every later test in this session
    Tables.t(spark, sf, "customer")
      .createOrReplaceTempView("spec_dvmode_a")
    val expected = Tables.t(spark, sf, "customer")
      .filter(!coalesce(col("c_acctbal") < 0, lit(false)))
    try {
      val dv = ctx.execute("DELETE FROM spec_dvmode_a WHERE c_acctbal < 0")
      assert(dv.count() == expected.count())
      assert(dv.exceptAll(expected).isEmpty &&
        expected.exceptAll(dv).isEmpty)
      val plan = dv.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") &&
        plan.contains("LeftAnti"),
        s"the DELETE must plan a broadcast anti-join:\n$plan")
    } finally spark.catalog.dropTempView("spec_dvmode_a")
  }

  test("SQL MERGE commits merge-on-read (sidecar pair, no data " +
    "rewrite) and agrees row for row with the relational MERGE; the " +
    "SYNC clause commits the same way") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val ctx = new ExecutionContext(spark)
    Tables.t(spark, sf, "nation")
      .createOrReplaceTempView("spec_mormode_a")
    Tables.t(spark, sf, "nation")
      .createOrReplaceTempView("spec_mormode_c")
    spark.sql("""SELECT n_nationkey + 20 AS nk,
      concat('M_', n_name) AS nm FROM spec_mormode_a
      WHERE n_nationkey < 10""").createOrReplaceTempView("spec_mormode_src")
    def mergeSql(target: String, sync: Boolean = false): String =
      s"""MERGE INTO $target USING spec_mormode_src
         ON $target.n_nationkey = spec_mormode_src.nk
         WHEN MATCHED THEN UPDATE SET n_name = spec_mormode_src.nm
         WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name, n_regionkey)
         VALUES (spec_mormode_src.nk, spec_mormode_src.nm, 99)""" +
        (if (sync) "\nWHEN NOT MATCHED BY SOURCE THEN DELETE" else "")
    try {
      val nation = Tables.t(spark, sf, "nation")
      val src = nation.filter(col("n_nationkey") < 10)
        .select((col("n_nationkey") + 20).as("nk"),
          concat(lit("M_"), col("n_name")).as("nm"))
      val relational = nation
        .join(src, col("n_nationkey") === col("nk"), "left")
        .select(col("n_nationkey"), when(col("nk").isNotNull, col("nm"))
          .otherwise(col("n_name")).as("n_name"), col("n_regionkey"))
        .unionByName(src
          .join(nation, col("nk") === col("n_nationkey"), "left_anti")
          .select(col("nk").as("n_nationkey"), col("nm").as("n_name"),
            lit(99).as("n_regionkey")))
      val mor = ctx.execute(mergeSql("spec_mormode_a"))
      assert(mor.exceptAll(relational).isEmpty &&
        relational.exceptAll(mor).isEmpty,
        "the MERGE must equal its relational definition row for row")
      // store shape: the target's dir holds the sidecar pair and NO v1
      // data directory
      val dirA = ExecutionContextSpec.sqlDmlDirOf(spark, "spec_mormode_a")
      assert(!new java.io.File(s"$dirA/v1").exists &&
        new java.io.File(s"$dirA/v1_append").exists &&
        new java.io.File(s"$dirA/v1_ref").exists,
        s"the MERGE must commit sidecars, not data: $dirA")
      // the SYNC clause removes every target row through the vector and
      // appends the images and inserts — still no data rewrite
      val sync = ctx.execute(mergeSql("spec_mormode_c", sync = true))
      val dirC = ExecutionContextSpec.sqlDmlDirOf(spark, "spec_mormode_c")
      assert(!new java.io.File(s"$dirC/v1").exists &&
        new java.io.File(s"$dirC/v1_append").exists,
        s"the SYNC clause must commit sidecars too: $dirC")
      assert(sync.count() == 10) // 5 updates (20..24) + 5 inserts (25..29)
    } finally {
      Seq("spec_mormode_a", "spec_mormode_c", "spec_mormode_src")
        .foreach(spark.catalog.dropTempView)
    }
  }

  test("repeated SQL MERGEs against one view REUSE its committed " +
    "store: the second statement extends the version chain (v2 " +
    "sidecars in the SAME dir, no re-publish), and a view re-registered " +
    "in between safely restarts a fresh store") {
    import org.apache.spark.sql.functions.col
    val ctx = new ExecutionContext(spark)
    Tables.t(spark, sf, "nation")
      .createOrReplaceTempView("spec_dvreuse_t")
    spark.sql("""SELECT n_nationkey AS nk, concat('U1_', n_name) AS nm
      FROM spec_dvreuse_t WHERE n_nationkey < 5""")
      .createOrReplaceTempView("spec_dvreuse_s1")
    spark.sql("""SELECT n_nationkey AS nk, concat('U2_', n_name) AS nm
      FROM spec_dvreuse_t WHERE n_nationkey >= 5 AND n_nationkey < 8""")
      .createOrReplaceTempView("spec_dvreuse_s2")
    def mergeSql(srcView: String): String =
      s"""MERGE INTO spec_dvreuse_t USING $srcView
         ON spec_dvreuse_t.n_nationkey = $srcView.nk
         WHEN MATCHED THEN UPDATE SET n_name = $srcView.nm"""
    try {
      ctx.execute(mergeSql("spec_dvreuse_s1"))
      val dir1 = ExecutionContextSpec.sqlDmlDirOf(spark, "spec_dvreuse_t")
      assert(new java.io.File(s"$dir1/v1_append").exists)
      val out2 = ctx.execute(mergeSql("spec_dvreuse_s2"))
      val dir2 = ExecutionContextSpec.sqlDmlDirOf(spark, "spec_dvreuse_t")
      assert(dir1 == dir2,
        "the second merge must continue the committed store, not " +
          s"publish a new one: $dir1 vs $dir2")
      assert(new java.io.File(s"$dir1/v2_append").exists &&
        !new java.io.File(s"$dir1/v2").exists,
        s"the second commit must be v2 SIDECARS in the same store: $dir1")
      val names = out2.select("n_nationkey", "n_name").collect()
        .map(r => r.getInt(0) -> r.getString(1)).toMap
      assert((0 to 4).forall(k => names(k).startsWith("U1_")))
      assert((5 to 7).forall(k => names(k).startsWith("U2_")))
      assert(names.size ==
        Tables.t(spark, sf, "nation").count().toInt)
      // the view re-registered under a different plan: the next merge
      // must NOT graft onto the stale chain (it would resurrect the
      // filtered-out row)
      spark.table("spec_dvreuse_t").filter(col("n_nationkey") =!= 0)
        .createOrReplaceTempView("spec_dvreuse_t")
      val out3 = ctx.execute(mergeSql("spec_dvreuse_s2"))
      val dir3 = ExecutionContextSpec.sqlDmlDirOf(spark, "spec_dvreuse_t")
      assert(dir3 != dir1,
        "after the view is re-registered the chain must restart fresh")
      assert(new java.io.File(s"$dir3/v1_append").exists)
      assert(out3.filter(col("n_nationkey") === 0).isEmpty)
    } finally {
      Seq("spec_dvreuse_t", "spec_dvreuse_s1", "spec_dvreuse_s2")
        .foreach(spark.catalog.dropTempView)
    }
  }

  test("UPDATE, DELETE, INSERT and MERGE against one view chain as " +
    "v1..v4 in ONE store directory and equal a relational replay; a " +
    "createOrReplaceTempView in between restarts the store") {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val sq = spark; import sq.implicits._
    val ctx = new ExecutionContext(spark)
    val t0 = Seq((1, "a", 10), (2, "b", 20), (2, "b", 20), (3, "c", 30),
      (4, null.asInstanceOf[String], 40)).toDF("k", "v", "x")
    t0.createOrReplaceTempView("spec_chain_t")
    Seq((2, "B"), (7, "G")).toDF("sk", "sv")
      .createOrReplaceTempView("spec_chain_src")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), Option(r.getString(1)), r.getInt(2)))
      .toSeq.sortBy(_.toString)
    try {
      ctx.execute("UPDATE spec_chain_t SET x = x + 1 WHERE v <> 'c'")
      val dir = ExecutionContextSpec.sqlDmlDirOf(spark, "spec_chain_t")
      ctx.execute("DELETE FROM spec_chain_t WHERE k = 3 OR v = 'zz'")
      ctx.execute("INSERT INTO spec_chain_t VALUES (5, 'e', 50)")
      val out = ctx.execute("""MERGE INTO spec_chain_t USING spec_chain_src
        ON spec_chain_t.k = spec_chain_src.sk
        WHEN MATCHED THEN UPDATE SET v = spec_chain_src.sv
        WHEN NOT MATCHED THEN INSERT (k, v, x)
        VALUES (spec_chain_src.sk, spec_chain_src.sv, 0)""")
      assert(ExecutionContextSpec.sqlDmlDirOf(spark, "spec_chain_t") == dir,
        "all four statements must commit into one store")
      assert(Dml.currentVersion(dir) == "v4")
      (1 to 4).foreach { i =>
        assert(new java.io.File(s"$dir/v${i}_ref").exists &&
          !new java.io.File(s"$dir/v$i").exists,
          s"v$i must be a change commit in $dir")
      }
      // relational replay (a NULL `v <> 'c'` leaves key 4 unchanged; the
      // duplicate key-2 tuples update, survive and merge together)
      val v1 = t0.withColumn("x", when(col("v") =!= "c", col("x") + 1)
        .otherwise(col("x")))
      val v2 = v1.filter(!coalesce(col("k") === 3 || col("v") === "zz",
        lit(false)))
      val v3 = v2.unionByName(Seq((5, "e", 50)).toDF("k", "v", "x"))
      val v4 = v3.withColumn("v", when(col("k") === 2, lit("B"))
          .otherwise(col("v")))
        .unionByName(Seq((7, "G", 0)).toDF("k", "v", "x"))
      assert(rows(out) == rows(v4), s"${rows(out)} vs ${rows(v4)}")
      assert(rows(spark.table("spec_chain_t")) == rows(v4))
      // re-registering the view elsewhere restarts a fresh store
      t0.createOrReplaceTempView("spec_chain_t")
      ctx.execute("DELETE FROM spec_chain_t WHERE k = 1")
      val fresh = ExecutionContextSpec.sqlDmlDirOf(spark, "spec_chain_t")
      assert(fresh != dir && Dml.currentVersion(fresh) == "v1")
      assert(rows(spark.table("spec_chain_t")) ==
        rows(t0.filter(col("k") =!= 1)))
    } finally {
      Seq("spec_chain_t", "spec_chain_src")
        .foreach(spark.catalog.dropTempView)
    }
  }
}

object ExecutionContextSpec {
  /** The work dir ExecutionContext's SQL DML used for a session view:
    * sqlDmlDir is per-statement sequenced
    * (target/dmltmp/sql/<view>/p<pid>-c<ctx>-s<seq>), so take the
    * newest entry under the view's root. */
  def sqlDmlDirOf(
      spark: org.apache.spark.sql.SparkSession, table: String): String = {
    val root = new java.io.File(s"${Dml.scratchRoot}/sql/$table")
    val dirs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
    require(dirs.nonEmpty, s"no SQL DML work dirs under $root")
    dirs.maxBy(_.lastModified).getAbsolutePath
  }
}
