package graft

import org.apache.spark.sql.functions._

/** DML round-trip state tests (reference plans at
  * `/root/reference/tmp/crud.txt:178-279,480-504` never execute; these
  * assert real post-statement table state). */
class DmlSpec extends SparkSpec {

  test("insert VALUES appends exactly the new rows (m01)") {
    val out = q("m01_insert_values").build(spark, sf)
    assert(out.count() == 27L) // 25 nations + 2 inserted
    val added = out.filter(col("n_nationkey") >= 25)
      .orderBy("n_nationkey").collect()
    assert(added.map(_.getString(1)).toSeq == Seq("LEMURIA", "ZEALANDIA"))
  }

  test("insert SELECT appends the source subquery rows (m02)") {
    val base = Tables.t(spark, sf, "supplier")
    val expectedAdds = base.filter(col("s_acctbal") > 5000).count()
    val out = q("m02_insert_select").build(spark, sf)
    assert(out.count() == base.count() + expectedAdds)
    assert(out.filter(col("s_name").endsWith("-copy")).count() == expectedAdds)
  }

  test("update rewrites only matching rows (m03)") {
    val base = Tables.t(spark, sf, "supplier")
    val negBefore = base.filter(col("s_acctbal") < 0).count()
    val out = q("m03_update_where").build(spark, sf)
    assert(out.count() == base.count())
    // untouched rows identical
    val untouchedBefore = base.filter(col("s_acctbal") >= 0)
      .agg(sum(col("s_acctbal").cast("decimal(18,2)"))).collect().head.get(0)
    val untouchedAfter = out
      .join(base.filter(col("s_acctbal") >= 0).select("s_suppkey"), "s_suppkey")
      .agg(sum(col("s_acctbal").cast("decimal(18,2)"))).collect().head.get(0)
    assert(untouchedBefore == untouchedAfter)
    assert(negBefore == 0 ||
      out.filter(col("s_acctbal") < 0).count() < negBefore)
  }

  test("delete removes exactly the matching rows (m04)") {
    val base = Tables.t(spark, sf, "customer")
    val matching = base.filter(col("c_acctbal") < 0).count()
    val out = q("m04_delete_where").build(spark, sf)
    assert(out.count() == base.count() - matching)
    assert(out.filter(col("c_acctbal") < 0).count() == 0)
  }

  test("update FROM rewrites only join-matched rows (m06)") {
    val base = Tables.t(spark, sf, "customer")
    val nation = Tables.t(spark, sf, "nation")
    val inRegion = base.join(
      nation.filter(col("n_regionkey") === 2),
      col("c_nationkey") === col("n_nationkey")).count()
    val out = q("m06_update_from").build(spark, sf)
    assert(out.count() == base.count(), "no row duplication from the join")
    // exactly the matched rows changed, by exactly +100
    val changed = out.alias("o").join(base.alias("b"), Seq("c_custkey"))
      .filter(col("o.c_acctbal") =!= col("b.c_acctbal"))
    assert(changed.count() == inRegion)
    assert(changed
      .filter(col("o.c_acctbal") =!= col("b.c_acctbal") + 100.0)
      .count() == 0)
  }

  test("insert with a column subset fills omitted columns with typed " +
    "NULL or the provided default (m07)") {
    val sq = spark; import sq.implicits._
    val out = q("m07_insert_subset").build(spark, sf)
    val added = out.filter(col("n_nationkey") === 27).collect()
    assert(added.length == 1)
    assert(added.head.getString(1) == "ATLANTIS" && added.head.isNullAt(2))
    // defaults map fills instead of NULL when provided
    val withDefault = Dml.insertValues(
      Tables.t(spark, sf, "nation"),
      Seq((28, "MU")).toDF("n_nationkey", "n_name"),
      Dml.work("spec_m07_default", sf),
      defaults = Map("n_regionkey" -> lit(0)))
    val r = withDefault.filter(col("n_nationkey") === 28).collect().head
    assert(r.getInt(2) == 0)
    // unknown insert column is rejected, not silently appended
    intercept[IllegalArgumentException] {
      Dml.insertValues(
        Tables.t(spark, sf, "nation"),
        Seq((29, "YREKA")).toDF("n_nationkey", "n_ghost"),
        Dml.work("spec_m07_bad", sf))
    }
  }

  test("insert casts drifted input types to the base schema (no " +
    "mixed-schema parquet poisoning)") {
    val sq = spark; import sq.implicits._
    // nation keys are INT in the base; feed LONGs and a read-back must
    // still see one consistent schema
    val rows = Seq((30L, "HYBRASIL", 1L)).toDF(
      "n_nationkey", "n_name", "n_regionkey")
    val out = Dml.insertValues(
      Tables.t(spark, sf, "nation"), rows, Dml.work("spec_cast", sf))
    assert(out.schema("n_nationkey").dataType ==
      Tables.t(spark, sf, "nation").schema("n_nationkey").dataType)
    assert(out.filter(col("n_nationkey") === 30).count() == 1)
  }

  test("ddl roundtrip: create + insert + index + select (m05)") {
    val rows = q("m05_ddl_roundtrip").build(spark, sf)
      .orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq == Seq((1L, "alpha", 1.5), (2L, "beta", 2.5), (3L, "gamma", 3.5)))
  }

  test("DML re-runs are idempotent (copy-on-write versions overwritten)") {
    val a = q("m01_insert_values").build(spark, sf).count()
    val b = q("m01_insert_values").build(spark, sf).count()
    assert(a == b)
  }

  test("insert is copy-on-write: the committed v0 snapshot is immutable, " +
    "the inserted row lands only in v1") {
    val sq = spark; import sq.implicits._
    val dir = Dml.work("spec_cow_insert", sf)
    val base = Tables.t(spark, sf, "nation")
    val out = Dml.insertValues(
      base,
      Seq((40, "THULE", 1)).toDF("n_nationkey", "n_name", "n_regionkey"),
      dir)
    val latest = java.nio.file.Files
      .readString(java.nio.file.Paths.get(dir, "_latest")).trim
    assert(latest == "v1")
    // v0 still holds exactly the pre-insert state — no in-place append
    val v0 = spark.read.parquet(s"$dir/v0")
    assert(v0.count() == base.count())
    assert(v0.filter(col("n_nationkey") === 40).count() == 0)
    assert(out.count() == base.count() + 1)
  }

  test("commit pointer: readers resolve the committed version; the " +
    "mutation flips it atomically from v0 to v1") {
    import org.apache.spark.sql.functions._
    val dir = Dml.work("spec_commit", sf)
    val base = Tables.t(spark, sf, "supplier")
    Dml.update(base, dir, col("s_acctbal") < 0,
      Map("s_acctbal" -> (col("s_acctbal") + 500.0)))
    val latest = java.nio.file.Files
      .readString(java.nio.file.Paths.get(dir, "_latest")).trim
    assert(latest == "v1")
    assert(Dml.readLatest(spark, dir).count() == base.count())
  }

  test("time travel: a chained deleteLatest publishes v2, leaves v0/v1 " +
    "readable and unchanged, and the pointer resolves to v2") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    val dir = Dml.work("spec_timetravel", sf)
    val base = Tables.t(spark, sf, "nation")
    val rows = Seq((98, "ATLANTIS", 1), (99, "MU", 2))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    Dml.insertValues(base, rows, dir)                    // v0, v1
    Dml.deleteLatest(spark, dir, col("n_nationkey") === 98) // v2
    assert(Dml.currentVersion(dir) == "v2")
    val n = base.count()
    // history intact: each version is the exact state it was committed as
    assert(Dml.readVersion(spark, dir, "v0").count() == n)
    assert(Dml.readVersion(spark, dir, "v1").count() == n + 2)
    assert(Dml.readVersion(spark, dir, "v1")
      .filter(col("n_nationkey") === 98).count() == 1)
    val v2 = Dml.readLatest(spark, dir)
    assert(v2.count() == n + 1)
    assert(v2.filter(col("n_nationkey") === 98).count() == 0)
  }

  test("MERGE statement: update-only form (no insert clause), alias " +
    "forms, base immutability, and the missing-table error contract") {
    val c = new ExecutionContext(spark).registerTestData(sf)
    val n0 = Tables.t(spark, sf, "nation").count()
    Tables.t(spark, sf, "nation").createOrReplaceTempView("spec_merge_n")
    Tables.t(spark, sf, "region").createOrReplaceTempView("spec_merge_r")
    // update-only: matched names patched, NO rows added, aliases bound
    c.execute("""MERGE INTO spec_merge_n AS t USING spec_merge_r AS r
      ON t.n_regionkey = r.r_regionkey AND r.r_regionkey = 0
      WHEN MATCHED THEN UPDATE SET n_name = concat('R0_', t.n_name)""")
    val got = spark.table("spec_merge_n")
    assert(got.count() == n0)
    assert(got.filter(col("n_name").startsWith("R0_")).count() ==
      Tables.t(spark, sf, "nation")
        .filter(col("n_regionkey") === 0).count())
    // base parquet table untouched (copy-on-write)
    assert(Tables.t(spark, sf, "nation")
      .filter(col("n_name").startsWith("R0_")).count() == 0)
    // positional INSERT (no column list) fills the target columns in
    // order; extra columns fill with typed NULL
    c.execute("""MERGE INTO spec_merge_n USING spec_merge_r
      ON spec_merge_n.n_nationkey = spec_merge_r.r_regionkey + 1000
      WHEN MATCHED THEN UPDATE SET n_name = 'X'
      WHEN NOT MATCHED THEN INSERT VALUES
      (spec_merge_r.r_regionkey + 1000, spec_merge_r.r_name)""")
    val after = spark.table("spec_merge_n")
    assert(after.count() == n0 + 5)
    val ins = after.filter(col("n_nationkey") >= 1000)
    assert(ins.count() == 5 && ins.filter(col("n_regionkey").isNull)
      .count() == 5)
    val e = intercept[IllegalArgumentException] {
      c.execute("""MERGE INTO no_such_table USING spec_merge_r
        ON 1 = 1 WHEN MATCHED THEN UPDATE SET x = 1""")
    }
    assert(e.getMessage == "Table: no_such_table does not exist in database")
    spark.catalog.dropTempView("spec_merge_n")
    spark.catalog.dropTempView("spec_merge_r")
  }

  test("MERGE guards: table-name-qualified SET key resolves, unknown SET " +
    "column fails fast (not a silent no-op), multi-match source raises " +
    "the ANSI cardinality violation") {
    val c = new ExecutionContext(spark).registerTestData(sf)
    Tables.t(spark, sf, "nation").createOrReplaceTempView("spec_mg_n")
    Tables.t(spark, sf, "region").createOrReplaceTempView("spec_mg_r")
    // raw table-name qualification with no alias declared
    c.execute("""MERGE INTO spec_mg_n USING spec_mg_r
      ON spec_mg_n.n_regionkey = spec_mg_r.r_regionkey
      AND spec_mg_r.r_regionkey = 1
      WHEN MATCHED THEN UPDATE SET spec_mg_n.n_name = 'Q1'""")
    assert(spark.table("spec_mg_n").filter(col("n_name") === "Q1").count()
      == Tables.t(spark, sf, "nation")
        .filter(col("n_regionkey") === 1).count())
    // typo'd SET column: error names the bad key instead of dropping it
    val e = intercept[IllegalArgumentException] {
      c.execute("""MERGE INTO spec_mg_n USING spec_mg_r
        ON spec_mg_n.n_regionkey = spec_mg_r.r_regionkey
        WHEN MATCHED THEN UPDATE SET n_nmae = 'oops'""")
    }
    assert(e.getMessage.contains("n_nmae") &&
      e.getMessage.contains("not a column of target table"))
    // region ← nation merge: every region row matches 5 nations
    val e2 = intercept[IllegalArgumentException] {
      c.execute("""MERGE INTO spec_mg_r USING spec_mg_n
        ON spec_mg_r.r_regionkey = spec_mg_n.n_regionkey
        WHEN MATCHED THEN UPDATE SET r_name = 'dup'""")
    }
    assert(e2.getMessage.contains("cardinality violation"))
    spark.catalog.dropTempView("spec_mg_n")
    spark.catalog.dropTempView("spec_mg_r")
  }

  test("MERGE SET keys resolve case-insensitively (default " +
    "spark.sql.caseSensitive=false), incl. upper-cased alias prefixes") {
    val c = new ExecutionContext(spark).registerTestData(sf)
    Tables.t(spark, sf, "nation").createOrReplaceTempView("spec_mci_n")
    Tables.t(spark, sf, "region").createOrReplaceTempView("spec_mci_r")
    // Spark SQL identifier resolution is case-insensitive by default, so
    // `SET N_NAME = …` against column n_name is valid and must resolve —
    // the r10 guard threw 'not a column of target table' here.
    c.execute("""MERGE INTO spec_mci_n AS T USING spec_mci_r AS r
      ON T.n_regionkey = r.r_regionkey AND r.r_regionkey = 2
      WHEN MATCHED THEN UPDATE SET T.N_NAME = 'CI'""")
    assert(spark.table("spec_mci_n").filter(col("n_name") === "CI").count()
      == Tables.t(spark, sf, "nation")
        .filter(col("n_regionkey") === 2).count())
    // case-mismatched INSERT column list must align, not NULL-fill
    c.execute("""MERGE INTO spec_mci_r USING
      spec_mci_n ON spec_mci_r.r_regionkey = spec_mci_n.n_nationkey + 100
      WHEN MATCHED THEN UPDATE SET R_NAME = spec_mci_r.r_name
      WHEN NOT MATCHED THEN INSERT (R_REGIONKEY, R_NAME)
      VALUES (spec_mci_n.n_nationkey + 100, spec_mci_n.n_name)""")
    val ins = spark.table("spec_mci_r").filter(col("r_regionkey") >= 100)
    assert(ins.count() == Tables.t(spark, sf, "nation").count())
    assert(ins.filter(col("r_name").isNull).count() == 0,
      "case-mismatched INSERT cols must bind, not silently NULL-fill")
    // typo'd INSERT column: fail fast like the SET guard, never a silent
    // NULL-fill of the real column
    val e = intercept[IllegalArgumentException] {
      c.execute("""MERGE INTO spec_mci_r USING spec_mci_n
        ON spec_mci_r.r_regionkey = spec_mci_n.n_nationkey + 900
        WHEN MATCHED THEN UPDATE SET r_name = 'x'
        WHEN NOT MATCHED THEN INSERT (r_regionkye, r_name)
        VALUES (spec_mci_n.n_nationkey + 900, spec_mci_n.n_name)""")
    }
    assert(e.getMessage.contains("r_regionkye") &&
      e.getMessage.contains("not a column of target table"))
    spark.catalog.dropTempView("spec_mci_n")
    spark.catalog.dropTempView("spec_mci_r")
  }

  test("vacuum keeps the newest window AND the committed target (even " +
    "when the pointer lags the tip), is idempotent, and rejects keep=0") {
    val sq = spark; import sq.implicits._
    val dir = Dml.work("spec_vacuum", sf)
    // fresh chain regardless of earlier runs in this work dir
    val base = Tables.t(spark, sf, "nation").limit(10)
    Dml.insertValues(base,
      Seq((90, "ATLANTIS", 1)).toDF("n_nationkey", "n_name", "n_regionkey"),
      dir)                                                   // v0, v1
    Dml.deleteLatest(spark, dir, col("n_nationkey") === 90)  // v2
    Dml.deleteLatest(spark, dir, col("n_nationkey") === 0)   // v3
    // roll the pointer BACK to v1, then vacuum keep=1: the newest (v3)
    // is in-window, and the committed target (v1) must survive too
    Dml.commit(dir, "v1")
    assert(Dml.vacuum(spark, dir, keep = 1) == Seq("v0", "v2"))
    // a version is its data directory or, for a change commit, its ref
    def present(v: String) = new java.io.File(s"$dir/$v").exists ||
      new java.io.File(s"$dir/${v}_ref").exists
    assert(!present("v0") && present("v1") && !present("v2") &&
      present("v3"))
    assert(Dml.readLatest(spark, dir).count() == base.count() + 1)
    // idempotent second pass drops nothing further
    assert(Dml.vacuum(spark, dir, keep = 1).isEmpty)
    intercept[IllegalArgumentException](Dml.vacuum(spark, dir, 0))
  }

  test("insertValidated: a multiply-bad row takes the FIRST reason in " +
    "the fixed order (notnull > check > pk), accepted rows commit once") {
    val sq = spark; import sq.implicits._
    val dir = Dml.work("spec_validated", sf)
    val base = Tables.t(spark, sf, "nation").limit(5) // keys 0..4
    val rows = Seq(
      (90, "OK", 1),
      // violates ALL THREE rules (null name, negative region, dup key)
      (0, null.asInstanceOf[String], -1),
      // violates check AND pk -> check wins
      (1, "X", -5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val (committed, rejects) = Dml.insertValidated(base, rows, dir,
      notNull = Seq("n_name"),
      checks = Seq("n_regionkey >= 0" -> (col("n_regionkey") >= 0)),
      pk = Seq("n_nationkey"))
    val got = rejects.collect()
      .map(r => r.getInt(0) -> r.getString(3)).toMap
    assert(got == Map(0 -> "notnull(n_name)",
      1 -> "check(n_regionkey >= 0)"), got.toString)
    assert(committed.count() == base.count() + 1)
    assert(committed.filter(col("n_nationkey") === 90).count() == 1)
  }

  test("insertValidated: intra-batch duplicate keys all reject, a NULL " +
    "key is a PK violation, and a NULL CHECK predicate PASSES (SQL " +
    "semantics, matching the m08 audit)") {
    val sq = spark; import sq.implicits._
    val dir = Dml.work("spec_validated2", sf)
    val base = Tables.t(spark, sf, "nation").limit(5) // keys 0..4
    val rows = Seq(
      (Some(91), Some("DUP-A"), Some(1)),
      (Some(91), Some("DUP-B"), Some(2)), // same new key twice -> both out
      (None, Some("NULLKEY"), Some(1)),   // NULL pk -> pk violation
      (Some(92), Some("NULLREGION"), None) // NULL check operand -> PASSES
    ).toDF("n_nationkey", "n_name", "n_regionkey")
    val (committed, rejects) = Dml.insertValidated(base, rows, dir,
      notNull = Seq("n_name"),
      checks = Seq("n_regionkey >= 0" -> (col("n_regionkey") >= 0)),
      pk = Seq("n_nationkey"))
    val reasons = rejects.collect()
      .map(r => (Option(r.get(0)), r.getString(3))).toSeq
    assert(reasons.count(_._2 == "primary_key(n_nationkey)") == 3,
      reasons.toString) // both 91s + the NULL key
    assert(committed.count() == base.count() + 1)
    assert(committed.filter(col("n_nationkey") === 92).count() == 1,
      "NULL check operand must be accepted, not quarantined")
  }

  test("restore publishes the old snapshot as a NEW version: the " +
    "pointer moves forward, the bad commit stays readable, and a " +
    "second restore keeps appending history") {
    val sq = spark; import sq.implicits._
    val dir = Dml.work("m18spec", sf)
    val base = Seq((1, "a"), (2, "b")).toDF("k", "v")
    Dml.insertValues(base, Seq((3, "c")).toDF("k", "v"), dir) // v0, v1
    Dml.deleteLatest(spark, dir, col("k") === 1)              // v2 (bad)
    Dml.restore(spark, dir, "v1")                             // v3 = v1
    assert(Dml.currentVersion(dir) == "v3")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(rows(Dml.readLatest(spark, dir)) ==
      Set((1, "a"), (2, "b"), (3, "c")))
    // the rolled-back commit is still time-travelable for forensics
    assert(rows(Dml.readVersion(spark, dir, "v2")) ==
      Set((2, "b"), (3, "c")))
    // restoring the bad version itself is just another forward commit
    Dml.restore(spark, dir, "v2")
    assert(Dml.currentVersion(dir) == "v4")
    assert(rows(Dml.readLatest(spark, dir)) == Set((2, "b"), (3, "c")))
  }

  test("MERGE clause matrix: BY SOURCE DELETE works with and without " +
    "the INSERT arm, and its absence keeps unmatched target rows " +
    "(m11's contract unchanged)") {
    val sq = spark; import sq.implicits._
    val ctx = new ExecutionContext(spark)
    def freshTarget(name: String): Unit =
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
        .createOrReplaceTempView(name)
    Seq((2, "B"), (9, "I")).toDF("sk", "sv")
      .createOrReplaceTempView("g_sync_spec_src")
    def rows(name: String) = spark.table(name).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    // update + insert + by-source delete: full sync
    freshTarget("g_sync_spec_t1")
    ctx.execute("""MERGE INTO g_sync_spec_t1 USING g_sync_spec_src
      ON g_sync_spec_t1.k = g_sync_spec_src.sk
      WHEN MATCHED THEN UPDATE SET v = g_sync_spec_src.sv
      WHEN NOT MATCHED THEN INSERT (k, v)
      VALUES (g_sync_spec_src.sk, g_sync_spec_src.sv)
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(rows("g_sync_spec_t1") == Set((2, "B"), (9, "I")))
    // update + by-source delete, NO insert arm: converge to matches
    freshTarget("g_sync_spec_t2")
    ctx.execute("""MERGE INTO g_sync_spec_t2 USING g_sync_spec_src
      ON g_sync_spec_t2.k = g_sync_spec_src.sk
      WHEN MATCHED THEN UPDATE SET v = g_sync_spec_src.sv
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(rows("g_sync_spec_t2") == Set((2, "B")))
    // no by-source clause: unmatched target rows survive (m11 form)
    freshTarget("g_sync_spec_t3")
    ctx.execute("""MERGE INTO g_sync_spec_t3 USING g_sync_spec_src
      ON g_sync_spec_t3.k = g_sync_spec_src.sk
      WHEN MATCHED THEN UPDATE SET v = g_sync_spec_src.sv""")
    assert(rows("g_sync_spec_t3") == Set((1, "a"), (2, "B"), (3, "c")))
  }

  test("shallow clone: zero-copy fork reads the source's committed " +
    "version, both sides then diverge independently, and vacuuming the " +
    "source past the referenced version breaks the clone (the " +
    "documented retention hazard, surfaced loudly not silently)") {
    val sq = spark; import sq.implicits._
    import java.nio.file.{Files, Paths}
    val root = Dml.work("clone_spec", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val src = s"$root/src"; val dst = s"$root/clone"
    val base = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    Dml.insertValues(base, Seq((4, "d")).toDF("k", "v"), src) // v0, v1
    Dml.shallowClone(spark, src, dst)
    // shallow: the clone holds a ref file, no data directory
    assert(Files.exists(Paths.get(dst, "v0_ref")))
    assert(!Files.exists(Paths.get(dst, "v0")))
    def read(dir: String) = Dml.readLatest(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(read(dst) == Set((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    // divergence: source deletes k=1, clone deletes k=4; neither sees
    // the other's mutation
    Dml.deleteLatest(spark, src, col("k") === 1)
    Dml.deleteLatest(spark, dst, col("k") === 4)
    assert(read(src) == Set((2, "b"), (3, "c"), (4, "d")))
    assert(read(dst) == Set((1, "a"), (2, "b"), (3, "c")))
    // the clone's own v1 is a REAL directory (its first change folds)
    assert(Files.exists(Paths.get(dst, "v1")))
    // retention hazard: compact the source (its delete is a change
    // commit still reading v1's data), then vacuum it down to its latest
    // version — the clone's v0 ref now dangles and time travel to it
    // must fail loudly (Delta documents the same for shallow clones)
    Dml.optimize(spark, src)
    val dropped = Dml.vacuum(spark, src, keep = 1)
    assert(dropped.contains("v1"), s"source v1 should vacuum: $dropped")
    intercept[Exception] {
      Dml.readVersion(spark, dst, "v0").collect()
    }
    // the clone's OWN committed state (v1, real files) is unaffected
    assert(read(dst) == Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("history: counts/deltas/current flag track the commit log in " +
    "order; a RESTORE appends a new version (never rewinds) whose " +
    "delta undoes the delete; a shallow clone's ref version counts " +
    "the source's rows through the indirection") {
    val sq = spark; import sq.implicits._
    val root = Dml.work("hist_spec", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val src = s"$root/src"
    val base = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    Dml.insertValues(base, Seq((4, "d")).toDF("k", "v"), src) // v0:3 v1:4
    Dml.deleteLatest(spark, src, col("k") <= 2)               // v2: 2
    Dml.restore(spark, src, "v1")                             // v3: 4
    def hist(dir: String) = Dml.history(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.toString.toLong),
          r.getBoolean(3)))).toMap
    val h = hist(src)
    assert(h == Map(
      "v0" -> ((3L, None, false)),
      "v1" -> ((4L, Some(1L), false)),
      "v2" -> ((2L, Some(-2L), false)),
      "v3" -> ((4L, Some(2L), true))), h.toString) // restore = forward
    // a shallow clone's history resolves its ref version's data
    val dst = s"$root/clone"
    Dml.shallowClone(spark, src, dst)
    val hc = hist(dst)
    assert(hc == Map("v0" -> ((4L, None, true))), hc.toString)
  }

  test("optimize: compaction rewrites many small files into one, the " +
    "pointer moves FORWARD to a new version (old layout stays " +
    "readable), and the row multiset is bit-identical") {
    val sq = spark; import sq.implicits._
    import java.nio.file.{Files, Paths}
    val dir = Dml.work("opt_spec", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    // 8-partition write -> v0 lands as many small parquet files
    val base = spark.range(0, 1000).repartition(8)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
    Dml.insertValues(base,
      Seq((5000L, 1L)).toDF("k", "v"), dir)               // v0, v1
    def parquetFiles(version: String) =
      Files.list(Paths.get(Dml.versionPath(dir, version))).iterator()
    val beforeFiles = {
      import scala.jdk.CollectionConverters._
      parquetFiles("v1").asScala.count(
        _.getFileName.toString.endsWith(".parquet"))
    }
    assert(beforeFiles > 1, s"need a small-file state: $beforeFiles")
    val before = Dml.readLatest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    Dml.optimize(spark, dir)                               // v2
    assert(Dml.currentVersion(dir) == "v2", "pointer must advance")
    val afterFiles = {
      import scala.jdk.CollectionConverters._
      parquetFiles("v2").asScala.count(
        _.getFileName.toString.endsWith(".parquet"))
    }
    assert(afterFiles == 1, s"compaction target: $afterFiles")
    val after = Dml.readLatest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(after.sameElements(before), "rows must survive bit-identical")
    // the pre-compaction layout is still time-travel readable
    assert(Dml.readVersion(spark, dir, "v1").count() == 1001L)
  }

  test("deletion vector (m25): logical result equals copy-on-write " +
    "delete row for row, with ZERO data rewrite — the DV commit owns " +
    "no data directory and serves v0's files") {
    val base = Tables.t(spark, sf, "orders")
    val pred = col("o_orderpriority") === "1-URGENT" &&
      col("o_totalprice") < 50000.0
    val out = q("m25_deletion_vector").build(spark, sf)
    val dir = Dml.work("m25", sf)
    assert(out.filter(pred).count() == 0)
    assert(out.count() == base.filter(!coalesce(pred, lit(false))).count())
    // zero rewrite: no v1 data dir; the version resolves into v0's files
    assert(!new java.io.File(s"$dir/v1").exists,
      "a DV commit must not write a data directory")
    assert(Dml.versionPath(dir, "v1") == s"$dir/v0")
    assert(new java.io.File(s"$dir/v1_dv").exists, "sidecar must exist")
    // multiset identity with the relational complement
    val cow = base.filter(!coalesce(pred, lit(false)))
    assert(out.exceptAll(cow).isEmpty && cow.exceptAll(out).isEmpty,
      "DV read must equal the relational complement exactly")
    // plan-level evidence: the vector applies as a BROADCAST anti-join
    // (the read-overhead contract — no shuffle of the data side)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"DV read must plan a broadcast anti-join:\n$plan")
  }

  test("deletion vector: NULL-bearing deleted rows stay deleted (the " +
    "anti-join is null-safe), duplicates follow predicate semantics, " +
    "and successive DV commits accumulate into ONE sidecar") {
    val sq = spark; import sq.implicits._
    val dir = Dml.work("spec_dv_nulls", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val df = Seq((1, Option("a")), (2, Option.empty[String]),
      (2, Option.empty[String]), (3, Option("kill")), (3, Option("kill")))
      .toDF("id", "tag")
    // a plain equi-join would never match the NULL-tag rows
    Dml.publish(df, dir)
    val out = Dml.deleteLatest(spark, dir, col("tag").isNull)
    assert(out.count() == 3 && out.filter(col("tag").isNull).count() == 0)
    // duplicate tuples evaluate the predicate identically: both copies go
    val out2 = Dml.deleteLatest(spark, dir, col("tag") === "kill")
    assert(out2.collect().map(_.getInt(0)).toSeq == Seq(1))
    // still zero rewrite: v2 reads v0's data dir through its own ref,
    // with v1's vector folded into v2's sidecar (no chain replay)
    assert(Dml.versionPath(dir, "v2") == s"$dir/v0")
    assert(Dml.readVersion(spark, dir, "v1").count() == 3,
      "time travel to the intermediate DV version must still work")
  }

  test("deletion vector: history reports LOGICAL counts (footer minus " +
    "sidecar), time travel reads pre-delete state, and optimize folds " +
    "the vector back into plain data files") {
    val dir = Dml.work("spec_dv_hist", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val base = Tables.t(spark, sf, "nation")
    val total = base.count()
    val deleted = base.filter(col("n_regionkey") === 0).count()
    assert(deleted > 0, "fixture must exercise the delete")
    Dml.publish(base, dir)
    Dml.deleteLatest(spark, dir, col("n_regionkey") === 0)
    val h = Dml.history(spark, dir).orderBy("version").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(h == Seq(("v0", total), ("v1", total - deleted)),
      s"history must count the DV version logically: $h")
    assert(Dml.readVersion(spark, dir, "v0").count() == total)
    Dml.optimize(spark, dir) // v2: reads the logical table, writes plain
    assert(new java.io.File(s"$dir/v2").exists, "compaction must own data")
    assert(!new java.io.File(s"$dir/v2_dv").exists, "vector folded away")
    assert(Dml.readLatest(spark, dir).count() == total - deleted)
  }

  test("deletion vector: vacuum retains the data directory a retained " +
    "DV commit reads through its ref (dangling-ref guard), and a " +
    "DROPPED DV version loses its ref file and sidecar too") {
    val sq = spark; import sq.implicits._
    val dir = Dml.work("spec_dv_vacuum", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Dml.insertValues(Seq(1, 2, 3, 4, 5).toDF("id"),
      Seq(6).toDF("id"), dir)                        // v0 (5), v1 (6)
    Dml.deleteLatest(spark, dir, col("id") === 1)  // v2: ref -> v1
    val dropped = Dml.vacuum(spark, dir, keep = 1)
    assert(dropped == Seq("v0"),
      s"v1 must survive as v2's ref target: dropped $dropped")
    assert(new java.io.File(s"$dir/v1").exists)
    assert(Dml.readLatest(spark, dir).orderBy("id").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 3, 4, 5, 6))
    // roll forward to a plain version, vacuum again: the DV version and
    // its ref target both drop, sidecar and ref file included
    Dml.optimize(spark, dir)                          // v3: plain snapshot
    val dropped2 = Dml.vacuum(spark, dir, keep = 1)
    assert(dropped2 == Seq("v1", "v2"), s"got $dropped2")
    assert(!new java.io.File(s"$dir/v1").exists)
    assert(!new java.io.File(s"$dir/v2_dv").exists, "sidecar must drop")
    assert(!new java.io.File(s"$dir/v2_ref").exists, "ref file must drop")
    assert(Dml.readLatest(spark, dir).count() == 5)
  }

  test("deletion vector: shallow clone of a DV-latest source stays " +
    "zero-copy on DATA (clone resolves into the source's data dir) " +
    "while carrying the sidecar, so the clone preserves the logical " +
    "view independently of the source's later compaction") {
    val src = Dml.work("spec_dv_clone_src", sf)
    val dst = Dml.work("spec_dv_clone_dst", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dst))
    val base = Tables.t(spark, sf, "nation")
    Dml.publish(base, src)
    val kept = Dml.deleteLatest(spark, src, col("n_regionkey") === 0).count()
    val clone = Dml.shallowClone(spark, src, dst)
    assert(clone.count() == kept)
    assert(Dml.versionPath(dst, "v0") == s"$src/v0",
      "clone data must be zero-copy into the source's v0")
    assert(new java.io.File(s"$dst/v0_dv").exists, "sidecar must carry")
    // source compacts (vector folded into new files); the clone's view
    // is unaffected because it holds its own sidecar copy
    Dml.optimize(spark, src)
    assert(Dml.readLatest(spark, dst).count() == kept)
  }

  test("merge-on-read (m27): logical result equals the copy-on-write " +
    "MERGE row for row, with ZERO data rewrite — the commit is the " +
    "sidecar pair, each O(changes)") {
    val nation = Tables.t(spark, sf, "nation")
    val out = q("m27_merge_on_read").build(spark, sf)
    val dir = Dml.work("m27", sf)
    assert(!new java.io.File(s"$dir/v1").exists,
      "a merge-on-read commit must not write a data directory")
    assert(Dml.versionPath(dir, "v1") == s"$dir/v0")
    // 5 matched pre-images (keys 20..24) in the vector; 5 updated
    // images + 5 inserts (nk 25..29) in the append — O(changes), not
    // O(table)
    assert(spark.read.parquet(s"$dir/v1_dv").count() == 5)
    assert(spark.read.parquet(s"$dir/v1_append").count() == 10)
    // multiset identity with MERGE's relational form: matched rows take
    // the source name, unmatched source rows insert with region 99
    val src = nation.filter(col("n_nationkey") < 10)
      .select((col("n_nationkey") + 20).as("nk"),
        concat(lit("NEW_"), col("n_name")).as("nm"))
    val upd = nation.join(src, col("n_nationkey") === col("nk"), "left")
      .select(col("n_nationkey"), when(col("nk").isNotNull, col("nm"))
        .otherwise(col("n_name")).as("n_name"), col("n_regionkey"))
    val ins = src.join(nation, col("nk") === col("n_nationkey"), "left_anti")
      .select(col("nk").as("n_nationkey"), col("nm").as("n_name"),
        lit(99).as("n_regionkey"))
    val cow = upd.unionByName(ins)
    assert(out.exceptAll(cow).isEmpty && cow.exceptAll(out).isEmpty,
      "merge-on-read must equal the relational merge exactly")
  }

  test("merge-on-read: the identity assignment (SET x = x) loses no " +
    "rows — the vector addresses BASE data only, so the updated image " +
    "that equals its pre-image survives in the append sidecar") {
    val dir = Dml.work("spec_mor_ident", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val nation = Tables.t(spark, sf, "nation")
    val src = nation.filter(col("n_nationkey") < 5)
      .select(col("n_nationkey").as("nk"))
    Dml.publish(nation, dir)
    val out = Dml.mergeOnRead(spark, dir, src,
      col("t.n_nationkey") === col("s.nk"),
      Map("n_name" -> col("t.n_name")), // identity: image == pre-image
      None, None)
    assert(out.exceptAll(nation).isEmpty && nation.exceptAll(out).isEmpty,
      "identity merge must be a logical no-op")
  }

  test("merge-on-read interplay: a later DV delete drops an " +
    "APPEND-origin row by rewriting the O(changes) append copy and a " +
    "BASE-origin row via the vector; history's footer arithmetic stays " +
    "exact throughout") {
    val dir = Dml.work("spec_mor_chain", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val nation = Tables.t(spark, sf, "nation")
    val n = nation.count() // 25
    val src = nation.filter(col("n_nationkey") < 10)
      .select((col("n_nationkey") + 20).as("nk"),
        concat(lit("NEW_"), col("n_name")).as("nm"))
    Dml.publish(nation, dir)
    Dml.mergeOnRead(spark, dir, src,
      col("t.n_nationkey") === col("s.nk"),
      Map("n_name" -> col("s.nm")),
      Some(Seq("n_nationkey", "n_name", "n_regionkey")),
      Some(Seq(col("s.nk"), col("s.nm"), lit(99)))) // v1: 30 rows
    // append-origin delete: the updated image of key 20
    Dml.deleteLatest(spark, dir, col("n_name") === "NEW_NATION_0")
    assert(spark.read.parquet(s"$dir/v2_dv").count() == 5,
      "an append-origin delete must not grow the vector")
    assert(spark.read.parquet(s"$dir/v2_append").count() == 9,
      "the append copy must drop the deleted image")
    // base-origin delete: key 5 lives in the data directory
    Dml.deleteLatest(spark, dir, col("n_nationkey") === 5)
    assert(spark.read.parquet(s"$dir/v3_dv").count() == 6,
      "a base-origin delete must grow the vector by its multiplicity")
    assert(Dml.readLatest(spark, dir).count() == n + 5 - 2)
    val hist = Dml.history(spark, dir)
      .orderBy("version").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(hist.toSeq == Seq(
      ("v0", n), ("v1", n + 5), ("v2", n + 4), ("v3", n + 3)),
      s"history must track logical counts: ${hist.mkString(",")}")
    // optimize folds BOTH sidecars back into plain files
    Dml.optimize(spark, dir)
    assert(new java.io.File(s"$dir/v4").exists &&
      !new java.io.File(s"$dir/v4_dv").exists &&
      !new java.io.File(s"$dir/v4_append").exists)
    assert(Dml.readLatest(spark, dir).count() == n + 3)
  }

  test("merge-on-read: shallow clone of a merge-latest source carries " +
    "BOTH sidecars, so the clone's logical view survives source-side " +
    "compaction") {
    val srcDir = Dml.work("spec_mor_clone_src", sf)
    val dstDir = Dml.work("spec_mor_clone_dst", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dstDir))
    val nation = Tables.t(spark, sf, "nation")
    val src = nation.filter(col("n_nationkey") < 10)
      .select((col("n_nationkey") + 20).as("nk"),
        concat(lit("NEW_"), col("n_name")).as("nm"))
    Dml.publish(nation, srcDir)
    val merged = Dml.mergeOnRead(spark, srcDir, src,
      col("t.n_nationkey") === col("s.nk"),
      Map("n_name" -> col("s.nm")),
      Some(Seq("n_nationkey", "n_name", "n_regionkey")),
      Some(Seq(col("s.nk"), col("s.nm"), lit(99))))
    val want = merged.count()
    val clone = Dml.shallowClone(spark, srcDir, dstDir)
    assert(clone.count() == want)
    assert(new java.io.File(s"$dstDir/v0_dv").exists &&
      new java.io.File(s"$dstDir/v0_append").exists,
      "both sidecars must carry to the clone")
    Dml.optimize(spark, srcDir)
    assert(Dml.readLatest(spark, dstDir).count() == want)
  }

  test("merge-on-read: a merge with ZERO matches and no insert clause " +
    "commits an empty append sidecar that reads back cleanly (the " +
    "no-op-merge corner)") {
    val dir = Dml.work("spec_mor_noop", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val nation = Tables.t(spark, sf, "nation")
    val src = nation.filter(col("n_nationkey") < 3)
      .select((col("n_nationkey") + 1000).as("nk")) // matches nothing
    Dml.publish(nation, dir)
    val out = Dml.mergeOnRead(spark, dir, src,
      col("t.n_nationkey") === col("s.nk"),
      Map("n_name" -> col("t.n_name")), None, None)
    assert(out.exceptAll(nation).isEmpty && nation.exceptAll(out).isEmpty,
      "a no-op merge must leave the logical table unchanged")
    // and the committed version still time-travels / histories cleanly
    assert(Dml.readVersion(spark, dir, "v1").count() == nation.count())
    assert(Dml.history(spark, dir).count() == 2)
  }

  test("dir reuse leaves no orphaned sidecars: a second merge-on-read " +
    "with zero matches, and a plain rewrite after a MoR commit, both " +
    "serve exactly the fresh logical table (no stale vector drops " +
    "rows, no stale append resurrects them)") {
    val dir = Dml.work("spec_mor_reuse", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val nation = Tables.t(spark, sf, "nation")
    val matching = nation.filter(col("n_nationkey") < 10)
      .select((col("n_nationkey") + 20).as("nk"),
        concat(lit("NEW_"), col("n_name")).as("nm"))
    // run 1: real matches + inserts -> v1_dv (5 rows) + v1_append (10)
    Dml.publish(nation, dir)
    Dml.mergeOnRead(spark, dir, matching,
      col("t.n_nationkey") === col("s.nk"),
      Map("n_name" -> col("s.nm")),
      Some(Seq("n_nationkey", "n_name", "n_regionkey")),
      Some(Seq(col("s.nk"), col("s.nm"), lit(99))))
    // run 2 on the SAME dir: nothing matches, nothing inserts — run
    // 1's sidecars must not leak into run 2's v1
    val noMatch = nation.filter(col("n_nationkey") < 3)
      .select((col("n_nationkey") + 1000).as("nk"))
    Dml.publish(nation, dir)
    val out2 = Dml.mergeOnRead(spark, dir, noMatch,
      col("t.n_nationkey") === col("s.nk"),
      Map("n_name" -> col("t.n_name")), None, None)
    assert(out2.exceptAll(nation).isEmpty && nation.exceptAll(out2).isEmpty,
      "run 2 must serve the fresh table — stale sidecars leaked")
    // run 3: the external-base DELETE (a folded commit) on the same dir —
    // v1 becomes a PLAIN version; run 1/2's v1 sidecars must die
    val out3 = Dml.delete(nation, dir, lit(false))
    assert(out3.exceptAll(nation).isEmpty && nation.exceptAll(out3).isEmpty)
    assert(Dml.readLatest(spark, dir).count() == nation.count())
    assert(!new java.io.File(s"$dir/v1_append").exists &&
      !new java.io.File(s"$dir/v1_dv").exists &&
      !new java.io.File(s"$dir/v1_ref").exists,
      "a plain snapshot must clear the version's stale sidecars")
  }

  test("merge-on-read: the ANSI cardinality check rejects a source with " +
    "duplicate match keys") {
    val dir = Dml.work("spec_mor_card", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val nation = Tables.t(spark, sf, "nation")
    val dupSrc = nation.filter(col("n_nationkey") < 2)
      .select(lit(0).as("nk"), col("n_name").as("nm")) // both rows key 0
    val e = intercept[IllegalArgumentException] {
      Dml.publish(nation, dir)
      Dml.mergeOnRead(spark, dir, dupSrc,
        col("t.n_nationkey") === col("s.nk"),
        Map("n_name" -> col("s.nm")), None, None)
    }
    assert(e.getMessage.contains("cardinality"))
  }

  test("dv sidecar auto-compaction: repeated MoR commits stay " +
    "O(changes) — the data directory untouched behind a _ref — until " +
    "the sidecar/data row ratio crosses the threshold, then ONE commit " +
    "folds to a plain version; history arithmetic stays exact across " +
    "the fold") {
    val dir = Dml.work("spec_autocompact", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val base = spark.range(5000).select(col("id"),
      (col("id") % 7).as("grp"), (col("id") * 2).as("v"))
    val savedRatio = spark.conf.getOption("spark.graft.dv.autoCompactRatio")
    val savedMin = spark.conf.getOption("spark.graft.dv.autoCompactMinRows")
    spark.conf.set("spark.graft.dv.autoCompactRatio", "0.2")
    spark.conf.set("spark.graft.dv.autoCompactMinRows", "100")
    try {
      // publish a plain committed table (v0 snapshot, v1 = all rows)
      Dml.delete(base, dir, lit(false))
      val dataDirV1 = new java.io.File(s"$dir/v1")
      assert(dataDirV1.exists, "v1 must be a plain data version")
      def insertOnly(i: Int) = spark.range(5000 + i * 300L,
          5000 + (i + 1) * 300L)
        .select(col("id").as("sk"), (col("id") % 7).as("sg"),
          lit(-1L).as("sv"))
      def mor(i: Int) = Dml.mergeOnRead(spark, dir, insertOnly(i),
        col("t.id") === col("s.sk"), Map("v" -> col("t.v")),
        Some(Seq("id", "grp", "v")),
        Some(Seq(col("s.sk"), col("s.sg"), col("s.sv"))))
      // commits 1-3: 300/5000, 600/5000, 900/5000 — all under 20%;
      // each version must still point at v1's data via _ref (O(changes))
      for (i <- 0 until 3) {
        mor(i)
        val cur = Dml.currentVersion(dir)
        assert(new java.io.File(s"$dir/${cur}_ref").exists &&
          new java.io.File(s"$dir/${cur}_append").exists &&
          !new java.io.File(s"$dir/$cur").exists,
          s"commit ${i + 1} must stay a sidecar commit: $cur")
      }
      // commit 4: 1200/5000 = 24% > 20% — the trigger folds to a plain
      // version in the SAME call
      val out = mor(3)
      val cur = Dml.currentVersion(dir)
      assert(new java.io.File(s"$dir/$cur").exists &&
        !new java.io.File(s"$dir/${cur}_append").exists &&
        !new java.io.File(s"$dir/${cur}_dv").exists &&
        !new java.io.File(s"$dir/${cur}_ref").exists,
        s"the threshold-crossing commit must fold to a PLAIN version: $cur")
      assert(out.count() == 5000 + 4 * 300)
      assert(Dml.readLatest(spark, dir).count() == 6200)
      // history: 300-row deltas per MoR commit, a 0-row delta for the
      // fold, exact logical counts throughout
      val h = Dml.history(spark, dir).orderBy("version")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), Option(r.get(2)).map(_ => r.getLong(2))))
        .toMap
      assert(h(cur)._1 == 6200 && h(cur)._2.contains(0L),
        s"the fold must add zero rows: ${h(cur)}")
      val prev = "v" + (cur.stripPrefix("v").toInt - 1)
      assert(h(prev)._1 == 6200 && h(prev)._2.contains(300L),
        s"the last sidecar commit must show its 300-row delta: ${h(prev)}")
    } finally {
      def restore(k: String, v: Option[String]): Unit = v match {
        case Some(x) => spark.conf.set(k, x)
        case None => spark.conf.unset(k)
      }
      restore("spark.graft.dv.autoCompactRatio", savedRatio)
      restore("spark.graft.dv.autoCompactMinRows", savedMin)
    }
  }

  test("SQL UPDATE lands under target/dmltmp of the working directory") {
    val c = new ExecutionContext(spark)
    Tables.t(spark, sf, "nation").createOrReplaceTempView("spec_dml_root")
    try {
      c.execute(
        "UPDATE spec_dml_root SET n_name = 'MOVED' WHERE n_nationkey = 1")
      val root = java.nio.file.Paths.get(System.getProperty("user.dir"),
        "target", "dmltmp", "sql", "spec_dml_root")
      val files = spark.table("spec_dml_root").inputFiles
        .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath)
      assert(files.nonEmpty && files.forall(_.startsWith(s"$root/")),
        s"update files outside $root: ${files.mkString(", ")}")
      assert(spark.table("spec_dml_root")
        .filter(col("n_name") === "MOVED").count() == 1)
    } finally spark.catalog.dropTempView("spec_dml_root")
  }

  test("one write path: every statement kind equals its relational form " +
    "(NULL predicates and duplicate tuples included); the chained form " +
    "commits only _dv/_append/_ref entries and leaves every committed " +
    "file byte-identical, the external-base form folds into a plain v1") {
    val sq = spark; import sq.implicits._
    import org.apache.spark.sql.DataFrame
    import scala.jdk.CollectionConverters._
    type R = (Option[Int], Option[String])
    def df(rows: Seq[(Option[Int], Option[String])]): DataFrame =
      rows.toDF("k", "v")
    def rows(d: DataFrame): Seq[R] = d.collect().toSeq
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Int]),
        Option(r.getString(1))))
      .sortBy(_.toString)
    // duplicate tuples, a NULL value and a NULL key
    val base: Seq[R] = Seq((Some(1), Some("a")), (Some(2), None),
      (Some(2), None), (Some(3), Some("c")), (Some(3), Some("c")),
      (None, Some("n")))
    // the chained form first commits an INSERT, so a duplicate of a base
    // tuple lives in the append sidecar when the statement runs
    val prior: Seq[R] = Seq((Some(2), None), (Some(4), Some("d")))
    val inserted: Seq[R] = Seq((Some(7), Some("g")), (None, None))
    val source = Seq((2, "two"), (3, "three"), (9, "nine")).toDF("sk", "sv")
    val bySource = Map(2 -> "two", 3 -> "three", 9 -> "nine")
    // TRUE only for k > 1; NULL (not FALSE) for the NULL key
    val pred = col("k") > 1 || col("v") === "zz"
    def hit(r: R) = r._1.exists(_ > 1)
    val cond = col("t.k") === col("s.sk")
    val setV = Map("v" -> col("s.sv"))
    val insV = Some(Seq(col("s.sk"), col("s.sv")))
    def matched(r: R) = r._1.flatMap(bySource.get)
    def merged(t: Seq[R], sync: Boolean): Seq[R] =
      t.flatMap(r => matched(r).map(sv => (r._1, Some(sv)))
          .orElse(if (sync) None else Some(r))) ++
        bySource.toSeq.filterNot(kv => t.exists(_._1.contains(kv._1)))
          .map { case (k, v) => (Some(k), Some(v)) }
    // (kind, external form, chained form, relational form)
    val stmts: Seq[(String, (DataFrame, String) => DataFrame,
        String => DataFrame, Seq[R] => Seq[R])] = Seq(
      ("insert",
        Dml.insertValues(_, df(inserted), _),
        Dml.insertLatest(spark, _, df(inserted)),
        _ ++ inserted),
      ("update",
        Dml.update(_, _, pred, Map("v" -> concat(col("v"), lit("!")))),
        Dml.updateLatest(spark, _, pred,
          Map("v" -> concat(col("v"), lit("!")))),
        _.map(r => if (hit(r)) (r._1, r._2.map(_ + "!")) else r)),
      ("update from",
        Dml.updateFrom(_, _, source, cond, setV),
        Dml.updateFromLatest(spark, _, source, cond, setV),
        _.map(r => matched(r).fold(r)(sv => (r._1, Some(sv))))),
      ("delete",
        Dml.delete(_, _, pred),
        Dml.deleteLatest(spark, _, pred),
        _.filterNot(hit)),
      ("merge",
        Dml.merge(_, _, source, cond, setV, None, insV),
        Dml.mergeOnRead(spark, _, source, cond, setV, None, insV),
        merged(_, sync = false)),
      ("merge by-source delete",
        Dml.merge(_, _, source, cond, setV, None, insV,
          notMatchedBySourceDelete = true),
        Dml.mergeOnRead(spark, _, source, cond, setV, None, insV,
          notMatchedBySourceDelete = true),
        merged(_, sync = true)))
    def files(dir: String): Map[String, Long] = {
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p))
        .filterNot(_._1 == "_latest").toMap
      finally walk.close()
    }
    def entries(dir: String) = new java.io.File(dir).list().toSet
    def sidecarsOf(version: String, names: Set[String]) =
      names.nonEmpty && names.forall(n =>
        Seq("_dv", "_append", "_ref").map(version + _).contains(n))
    stmts.zipWithIndex.foreach { case ((kind, external, chained, rel), i) =>
      // external base: publish v0, commit the change folded as a plain
      // v1 (readers of a one-shot store take v1 as a parquet table)
      val ext = Dml.work(s"spec_onepath_${i}_ext", sf)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ext))
      val outExt = external(df(base), ext)
      assert(Dml.currentVersion(ext) == "v1", kind)
      assert(entries(ext) == Set("_latest", "v0", "v1"),
        s"$kind (external): ${entries(ext)}")
      assert(rows(spark.read.parquet(s"$ext/v1")) == rows(outExt), kind)
      assert(rows(spark.read.parquet(s"$ext/v0")) == rows(df(base)), kind)
      assert(rows(outExt) == rel(base).sortBy(_.toString),
        s"$kind (external): ${rows(outExt)}")
      // chained: the statement runs against a store whose current
      // version already carries an append sidecar
      val ch = Dml.work(s"spec_onepath_${i}_chained", sf)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ch))
      Dml.publish(df(base), ch)
      Dml.insertLatest(spark, ch, df(prior))
      val (filesBefore, entriesBefore) = (files(ch), entries(ch))
      val outCh = chained(ch)
      assert(Dml.currentVersion(ch) == "v2", kind)
      val filesAfter = files(ch)
      assert(filesBefore.forall { case (f, n) => filesAfter.get(f).contains(n) },
        s"$kind (chained): a committed file changed")
      assert(sidecarsOf("v2", entries(ch) -- entriesBefore),
        s"$kind (chained): ${entries(ch) -- entriesBefore}")
      assert(Dml.versionPath(ch, "v2") == s"$ch/v0", kind)
      assert(rows(outCh) == rel(base ++ prior).sortBy(_.toString),
        s"$kind (chained): ${rows(outCh)}")
      assert(rows(Dml.readLatest(spark, ch)) == rows(outCh), kind)
    }
  }

  test("a change commit selects its rows in one query: a time-dependent " +
    "UPDATE moves every row exactly once, and a non-deterministic " +
    "predicate is rejected before anything is written") {
    val dir = Dml.work("spec_dml_time", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    // expiries 1 ms apart across the next 30 s: the statement's clock
    // falls inside the range, so two clocks would split it differently
    val start = System.currentTimeMillis()
    val n = 30000L
    Dml.publish(spark.range(n).select(col("id"),
      expr(s"timestamp_millis($start + id)").as("expires_at"),
      lit(false).as("expired")), dir)
    val out = Dml.updateLatest(spark, dir,
      col("expires_at") < current_timestamp(), Map("expired" -> lit(true)))
    val got = out.collect()
    val (rowCount, idCount) =
      (got.length.toLong, got.map(_.getLong(0)).distinct.length.toLong)
    assert(rowCount == n && idCount == n, "every row exactly once")
    val (hit, kept) = got.partition(_.getBoolean(2))
    assert(hit.nonEmpty && kept.nonEmpty, "the clock must split the range")
    assert(hit.map(_.getLong(0)).max < kept.map(_.getLong(0)).min,
      "one clock: every expired row precedes every kept row")
    // rand() would pick different rows for the vector and the images
    val before = Dml.currentVersion(dir)
    val e = intercept[IllegalArgumentException] {
      Dml.deleteLatest(spark, dir, rand() < 0.5)
    }
    assert(e.getMessage.contains("deterministic"), e.getMessage)
    intercept[IllegalArgumentException] {
      Dml.updateLatest(spark, dir, rand() < 0.5, Map("expired" -> lit(true)))
    }
    assert(Dml.currentVersion(dir) == before)
    assert(!new java.io.File(dir).list().exists(_.startsWith(".")),
      "a rejected statement leaves no staging entry")
  }

  test("shallow clone into a reused directory drops the sidecars an " +
    "earlier clone copied there") {
    val sq = spark; import sq.implicits._
    val root = Dml.work("clone_reuse", sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val (a, b, dst) = (s"$root/a", s"$root/b", s"$root/clone")
    val base = Seq(1, 2, 3).toDF("k")
    Dml.publish(base, a)
    Dml.insertLatest(spark, a, Seq(4).toDF("k")) // a's v1 carries an append
    Dml.shallowClone(spark, a, dst)
    assert(new java.io.File(s"$dst/v0_append").exists)
    Dml.publish(base, b)                         // b's v0 is plain
    Dml.shallowClone(spark, b, dst)
    assert(Dml.readLatest(spark, dst).collect().map(_.getInt(0)).sorted
      .toSeq == Seq(1, 2, 3))
  }
}
