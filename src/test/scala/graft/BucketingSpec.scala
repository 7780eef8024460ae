package graft

import org.apache.spark.sql.functions._

/** Bucketed-layout co-located join: both fact tables bucketed on the join
  * key means the join plan has NO shuffle — the scale property the layout
  * exists to buy. */
class BucketingSpec extends SparkSpec {

  test("orders ⋈ lineitem over matching buckets runs with zero Exchange") {
    Layouts.writeBucketed(
      Tables.t(spark, sf, "orders"), "b_orders", "o_orderkey", 8)
    Layouts.writeBucketed(
      Tables.t(spark, sf, "lineitem"), "b_lineitem", "l_orderkey", 8)
    try {
      // force a real (non-broadcast) join so the shuffle question is live
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "o_totalprice", "l_quantity")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n${plan.take(800)}")
      // and it still computes the right thing
      assert(joined.count() ==
        Tables.t(spark, sf, "lineitem").count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("CREATE INDEX materialized: indexedScan serves the bucketed copy, " +
    "the key join plans with zero Exchange, and DROP INDEX removes the " +
    "physical build (m24's DDL surface)") {
    val ctx = new ExecutionContext(spark).registerTestData(sf)
    ctx.createIndex(Some("spec_ix_o"), "orders", Seq("o_orderkey"),
      materialize = true)
    ctx.createIndex(Some("spec_ix_l"), "lineitem", Seq("l_orderkey"),
      materialize = true)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = ctx.indexedScan("orders", "o_orderkey")
        .join(ctx.indexedScan("lineitem", "l_orderkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "l_quantity")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"indexed join must not shuffle:\n${plan.take(800)}")
      assert(joined.count() == Tables.t(spark, sf, "lineitem").count())
      // a non-leading or unindexed key falls back to the base table
      val base = ctx.indexedScan("orders", "o_custkey")
      assert(base.queryExecution.analyzed.toString
        == spark.table("orders").queryExecution.analyzed.toString)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      ctx.dropIndex(Seq("spec_ix_o", "spec_ix_l"))
    }
    // DROP INDEX dropped the materialized catalog tables too
    assert(!spark.catalog.tableExists("g_idx_orders_spec_ix_o"))
    assert(!spark.catalog.tableExists("g_idx_lineitem_spec_ix_l"))
  }

  test("CREATE INDEX rebuild elision: a fresh context over the SAME source " +
    "files reuses the existing bucketed copy (no rewrite — an index build " +
    "is a one-time cost, not a per-session one), and DROP INDEX " +
    "invalidates so the next build is physical again") {
    def matFiles(): Map[String, Long] = {
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), "g_idx_orders_spec_ix_reuse")
      loc.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val ctx1 = new ExecutionContext(spark).registerTestData(sf)
    ctx1.createIndex(Some("spec_ix_reuse"), "orders", Seq("o_orderkey"),
      materialize = true)
    val built = matFiles()
    assert(built.nonEmpty)
    Thread.sleep(1100) // mtime granularity can be 1s on some filesystems
    // a new context (empty per-context registry) over identical source
    // files must NOT rewrite the physical copy
    val ctx2 = new ExecutionContext(spark).registerTestData(sf)
    ctx2.createIndex(Some("spec_ix_reuse"), "orders", Seq("o_orderkey"),
      materialize = true)
    assert(matFiles() == built,
      "identical source files must elide the physical rebuild")
    // the reused copy still serves an exchange-free keyed aggregate
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val agg = ctx2.indexedScan("orders", "o_orderkey")
        .groupBy("o_orderkey").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(agg.count() == Tables.t(spark, sf, "orders").count())
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // drop invalidates: the next create is a real build again
    ctx2.dropIndex(Seq("spec_ix_reuse"))
    assert(!spark.catalog.tableExists("g_idx_orders_spec_ix_reuse"))
    val ctx3 = new ExecutionContext(spark).registerTestData(sf)
    ctx3.createIndex(Some("spec_ix_reuse"), "orders", Seq("o_orderkey"),
      materialize = true)
    assert(matFiles().nonEmpty, "post-drop create must rebuild physically")
    ctx3.dropIndex(Seq("spec_ix_reuse"))
  }

  test("indexedScan staleness guard: DML-style source replacement (new " +
    "input files under the same table name) makes the scan fall back to " +
    "the base table — never stale materialized rows; same-named indexes " +
    "on different tables get distinct physical copies") {
    val ctx = new ExecutionContext(spark).registerTestData(sf)
    ctx.createIndex(Some("spec_ix_stale"), "orders", Seq("o_orderkey"),
      materialize = true)
    val before = Tables.t(spark, sf, "orders").count()
    assert(ctx.indexedScan("orders", "o_orderkey").count() == before)
    val work = java.nio.file.Files
      .createTempDirectory("ix_stale").toString
    val fixture = spark.table("orders")
    try {
      // simulate a DML version bump: the copy-on-write store re-points
      // the view at a NEW directory — here, orders minus one key
      spark.table("orders").where(col("o_orderkey") =!= 1L)
        .write.mode("overwrite").parquet(s"$work/orders_v2")
      spark.read.parquet(s"$work/orders_v2")
        .createOrReplaceTempView("orders")
      val scanned = ctx.indexedScan("orders", "o_orderkey")
      assert(scanned.count() < before,
        "post-DML scan must serve the new version, not the stale copy")
      assert(!scanned.queryExecution.analyzed.toString
        .contains("g_idx_orders_spec_ix_stale"),
        "post-DML scan must not touch the materialized table")
      // same index NAME on a different table: distinct physical copy,
      // and the orders index still serves orders rows
      val ctx2 = new ExecutionContext(spark).registerTestData(sf)
      ctx2.createIndex(Some("spec_ix_stale"), "customer",
        Seq("c_custkey"), materialize = true)
      assert(spark.catalog.tableExists("g_idx_customer_spec_ix_stale"))
      assert(ctx2.indexedScan("customer", "c_custkey").count() ==
        Tables.t(spark, sf, "customer").count())
      ctx2.dropIndex(Seq("spec_ix_stale"))
    } finally {
      // restore the fixture view for later suites in this JVM (the
      // memoized Tables.ensureRegistered would not rebind it)
      fixture.createOrReplaceTempView("orders")
      ctx.dropIndex(Seq("spec_ix_stale"))
    }
  }

  test("writeBucketed survives a stale warehouse dir from a prior JVM") {
    // The round-10 io05 red row: `sbt test` (JVM 1) leaves
    // spark-warehouse/<t> on disk; Verify (JVM 2) starts with a fresh
    // in-memory catalog, so saveAsTable takes the CREATE path and threw
    // LOCATION_ALREADY_EXISTS. Reconstruct that exact state — no catalog
    // entry, location present with junk content — and require the write
    // to succeed and the junk to be gone.
    val table = "b_stale"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    val junk = new org.apache.hadoop.fs.Path(loc, "stale_from_prior_jvm")
    val out = fs.create(junk, true); out.writeBytes("stale"); out.close()
    try {
      Layouts.writeBucketed(
        Tables.t(spark, sf, "nation"), table, "n_nationkey", 4)
      assert(spark.table(table).count() ==
        Tables.t(spark, sf, "nation").count())
      assert(!fs.exists(junk),
        "stale prior-JVM content must not survive into the fresh table")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("io05 builder is re-runnable across simulated JVM restarts") {
    // Run the gated entry once, then wipe the catalog entries while
    // recreating their locations as leftovers (the driver's sbt-test →
    // fresh-Verify-JVM sequence), and run it again: same result both
    // times, no LOCATION_ALREADY_EXISTS.
    def run() = q("io05_bucketed_join").build(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val r1 = run()
    for (t <- Seq("g_b_orders", "g_b_lineitem")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(loc)
      val out = fs.create(
        new org.apache.hadoop.fs.Path(loc, "stale_from_prior_jvm"), true)
      out.writeBytes("stale"); out.close()
    }
    try {
      val r2 = run()
      assert(r1 == r2, s"restart changed the result: $r1 vs $r2")
      assert(r1.nonEmpty)
    } finally for (t <- Seq("g_b_orders", "g_b_lineitem"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("mismatched bucket counts fall back to a correct (shuffled) join") {
    Layouts.writeBucketed(
      Tables.t(spark, sf, "orders"), "b_orders2", "o_orderkey", 8)
    Layouts.writeBucketed(
      Tables.t(spark, sf, "lineitem"), "b_lineitem2", "l_orderkey", 4)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders2")
        .join(spark.table("b_lineitem2"),
          col("o_orderkey") === col("l_orderkey"))
      assert(joined.count() == Tables.t(spark, sf, "lineitem").count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders2")
      spark.sql("DROP TABLE IF EXISTS b_lineitem2")
    }
  }

  test("io06 sharded delivery: manifest covers every doc exactly once, " +
    "the layout is hive-partitioned on the shard key, and a shard filter " +
    "prunes to one directory at planning time") {
    val manifest = q("io06_shard_manifest").build(spark, sf).cache()
    val docs = Tables.t(spark, sf, "documents")
    assert(manifest.agg(sum("n_docs")).collect().head.getLong(0) ==
      docs.count())
    // every shard key is an 's'-prefixed hex nibble
    manifest.select("shard").collect().map(_.getString(0)).foreach { sh =>
      assert(sh.matches("s[0-9a-f]"), sh)
    }
    // the physical layout really is partitioned: shard=... directories
    val dir = new java.io.File(
      Dml.work("io06", sf) + "/docs_sharded")
    val parts = dir.listFiles().filter(_.getName.startsWith("shard="))
    assert(parts.nonEmpty, s"no shard= dirs under $dir")
    // a filter on the partition column prunes at planning time
    val one = spark.read.parquet(dir.toString)
      .filter(col("shard") === "s0")
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("shard"), scan.take(600))
    // inputFiles reports the UNPRUNED relation; ask the executed rows
    // which physical files they actually came from
    val touched = one.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(touched.nonEmpty && touched.forall(_.contains("shard=s0")),
      s"shard filter must touch only its own directory's files: " +
        touched.mkString(", "))
    manifest.unpersist()
  }

  test("incremental scan lifecycle: bootstrap reads everything, a " +
    "checkpoint quiesces it, the next drop surfaces only itself, and a " +
    "file landing between snapshot and checkpoint is NOT lost; an " +
    "in-flight producer's _temporary debris is invisible to the listing") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_incr").toString
    val land = s"$base/landing"
    val mf = s"$base/manifest"
    val docs = Tables.t(spark, sf, "documents")
    val d1 = docs.filter(col("doc_id") % 2 === 0)
    val d2 = docs.filter(col("doc_id") % 2 === 1)
    d1.write.mode("append").parquet(land)
    // an in-flight producer: a clean-basenamed parquet nested under a
    // hidden (_-prefixed) directory must be invisible (a leaf-only
    // hidden filter read uncommitted files and double-ingested them
    // after job commit). NOT named `_temporary`: that exact dir is
    // Spark's own commit staging area, and the d2 append's job commit
    // would PROMOTE a planted task-shaped subdir into the landing root
    // (observed) — which is producer interference, not the listing
    // semantics under test.
    val tmpDir = new java.io.File(s"$land/_wip/0/attempt_1")
    tmpDir.mkdirs()
    docs.limit(3).coalesce(1).write.mode("overwrite")
      .parquet(s"$base/inflight")
    val part = new java.io.File(s"$base/inflight").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(tmpDir, "part-00000.parquet").toPath)
    def scan() = Layouts.incrementalScan(spark, land, mf,
      Layouts.snapshotListing(spark, land))
    assert(Layouts.snapshotListing(spark, land)
      .forall(!_.contains("_wip")),
      "uncommitted producer files must not be listed")
    // no manifest yet -> bootstrap reads the full landing dir
    assert(scan().count() == d1.count())
    val snap1 = Layouts.snapshotListing(spark, land)
    // the check-then-act race: drop 2 lands AFTER the snapshot was
    // taken but BEFORE the checkpoint commits. Checkpointing the
    // snapshot (not a fresh listing) must leave drop 2 unprocessed.
    d2.write.mode("append").parquet(land)
    Layouts.markProcessed(spark, mf, snap1)
    val delta = scan()
    assert(delta.exceptAll(d2).isEmpty && d2.exceptAll(delta).isEmpty,
      "delta must be exactly the drop that landed mid-cycle")
    Layouts.markProcessed(spark, mf, Layouts.snapshotListing(spark, land))
    assert(scan().count() == 0)
    // replaying an old snapshot keeps the manifest monotonic
    Layouts.markProcessed(spark, mf, snap1)
    assert(scan().count() == 0)
    // the manifest is an append-only log: no file ever written to it is
    // deleted or renamed, so no crash instant can lose recorded state
    // (the round-11 delete-then-rename hole); a replayed snapshot must
    // also not have re-appended rows (anti-join delta, not raw listing)
    val mfRows = spark.read.parquet(mf).count()
    assert(mfRows == Layouts.snapshotListing(spark, land).size,
      s"manifest must hold each processed path exactly once, got $mfRows")
  }

  test("crash debris in the manifest dir is inert: a failed append's " +
    "_temporary dir and hidden files neither corrupt the processed set " +
    "nor resurrect as data") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_debris").toString
    val land = s"$base/landing"
    val mf = s"$base/manifest"
    val docs = Tables.t(spark, sf, "documents")
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(land)
    val snap = Layouts.snapshotListing(spark, land)
    Layouts.markProcessed(spark, mf, snap)
    // simulate a crashed append's IN-FLIGHT debris: a task-attempt dir
    // (nested _temporary — the pre-task-commit crash window) plus a
    // hidden CRC. NOT a committed-task dir directly under _temporary/0:
    // the next job's FileOutputCommitter legitimately SWEEPS those into
    // the destination at commitJob — in production that file is a
    // fully-written parquet of the interrupted append's delta, so the
    // sweep benignly completes it (see markProcessed's scaladoc); a
    // garbage file in that position would be a committer-contract
    // violation no reader can survive.
    val tmp = new java.io.File(s"$mf/_temporary/0/_temporary/attempt_x")
    assert(tmp.mkdirs())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      s"$mf/_temporary/0/_temporary/attempt_x/part-0.parquet"),
      "not parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$mf/.part-0.crc"), "junk")
    // the manifest still reads exactly the committed snapshot...
    assert(Layouts.incrementalScan(spark, land, mf, snap).count() == 0)
    // ...a new drop still surfaces exactly itself...
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(land)
    val delta = Layouts.incrementalScan(spark, land, mf,
      Layouts.snapshotListing(spark, land))
    assert(delta.count() == docs.filter(col("doc_id") % 2 === 1).count())
    // ...and checkpointing over the debris keeps exactly-once rows
    Layouts.markProcessed(spark, mf, Layouts.snapshotListing(spark, land))
    assert(spark.read.parquet(mf).count() ==
      Layouts.snapshotListing(spark, land).size)
  }

  test("first cycle before any producer exists: missing landing and " +
    "manifest dirs are empty listings / zero-row scans, not throws") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_incr0").toString
    val land = s"$base/landing"   // never created
    val mf = s"$base/manifest"    // never created
    assert(Layouts.snapshotListing(spark, land).isEmpty)
    assert(Layouts.incrementalScan(spark, land, mf,
      Layouts.snapshotListing(spark, land)).count() == 0)
  }

  test("io11 observed metrics ride the SAME pass as the real action: " +
    "the executed plan carries a CollectMetrics node and the observed " +
    "values equal a direct recompute") {
    val sq = spark; import sq.implicits._
    val df = Seq((1L, 10.0, 0.04), (2L, 20.0, 0.06), (3L, 30.0, 0.10))
      .toDF("id", "qty", "disc")
    val obs = new org.apache.spark.sql.Observation()
    val observed = df.observe(obs,
      count(lit(1)).as("n"),
      sum(col("qty").cast("decimal(18,2)")).as("sq"),
      count(when(col("disc") > 0.05, 1)).as("nd"))
    val job = observed.groupBy(col("id") % 2).count()
    job.collect()
    assert(job.queryExecution.executedPlan.toString
      .contains("CollectMetrics"),
      "metrics must be fused into the job's own plan")
    val m = obs.get
    assert(m("n").asInstanceOf[Long] == 3L)
    assert(m("sq").asInstanceOf[java.math.BigDecimal]
      .doubleValue() == 60.0)
    assert(m("nd").asInstanceOf[Long] == 2L)
  }

  test("p16 incremental curation: every re-dropped duplicate is " +
    "rejected by the STORED index (admissions = distinct fresh " +
    "content only), seen counts cover exactly the cycle-2 drops, and " +
    "dup accounting reconciles") {
    import org.apache.spark.sql.functions._
    val out = QueryCatalog.byName("p16_incremental_curation")
      .build(spark, sf).cache()
    try {
      val docs = Tables.t(spark, sf, "documents")
      val evenH = docs.filter(col("doc_id") % 3 === 0)
        .select(md5(col("text")).as("h")).distinct()
      val odd = docs.filter(col("doc_id") % 3 === 1)
      // admissions = distinct odd content not already in cycle 1
      val expAdmitted = odd.select(md5(col("text")).as("h")).distinct()
        .join(evenH, Seq("h"), "left_anti").count()
      val evenCnt = docs.filter(col("doc_id") % 3 === 0).count()
      val t = out.agg(sum("n_seen"), sum("n_admitted"), sum("n_dup"))
        .collect().head
      assert(t.getLong(0) == odd.count() + evenCnt, t.toString)
      assert(t.getLong(1) == expAdmitted,
        s"index must reject all re-drops: ${t.toString}")
      assert(t.getLong(2) == t.getLong(0) - t.getLong(1))
    } finally out.unpersist()
  }

  test("indexedScan never serves a copy built from a NON-FILE source: " +
    "an empty fingerprint is 'no proof of currency', not 'trivially " +
    "current' (r13 advice - \"\" == \"\" kept a stale copy serving after " +
    "the view was replaced)") {
    val sq = spark; import sq.implicits._
    val ctx = new ExecutionContext(spark)
    // a createDataFrame view has no input files -> fingerprint ""
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .createOrReplaceTempView("spec_nofile")
    try {
      ctx.createIndex(Some("spec_ix_nofile"), "spec_nofile", Seq("k"),
        materialize = true)
      // replace the view IN PLACE - the classic staleness trap: the
      // source changed but its (empty) fingerprint did not
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
        .createOrReplaceTempView("spec_nofile")
      val scanned = ctx.indexedScan("spec_nofile", "k")
      assert(scanned.count() == 3,
        "scan must serve the replaced view, never the stale copy")
      assert(!scanned.queryExecution.analyzed.toString
        .contains("g_idx_spec_nofile"),
        "a non-file source must always fall back to the base table")
    } finally {
      ctx.dropIndex(Seq("spec_ix_nofile"), ifExists = true)
      spark.catalog.dropTempView("spec_nofile")
    }
  }

  test("incremental ingestion honors PRE-qualification manifest keys: " +
    "a manifest written in the old scheme-stripped format still " +
    "suppresses its files after the key-format upgrade (r13 advice - " +
    "otherwise every previously-ingested file silently re-ingests)") {
    val sq = spark; import sq.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_legacy_mf").toString
    val land = s"$base/landing"
    val mf = s"$base/manifest"
    val docs = Tables.t(spark, sf, "documents")
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(land)
    val listing = Layouts.snapshotListing(spark, land)
    assert(listing.forall(_.startsWith("file:")),
      s"qualified listing keys expected, got ${listing.headOption}")
    // hand-write the manifest the way the PRE-upgrade code keyed it:
    // scheme stripped, authority folded into the path
    val legacy = listing.map { p =>
      val u = new org.apache.hadoop.fs.Path(p).toUri
      Option(u.getAuthority).filter(_.nonEmpty)
        .fold(u.getPath)(a => s"/$a${u.getPath}")
    }
    assert(legacy.forall(!_.startsWith("file:")))
    legacy.toDF("_file").coalesce(1).write.mode("append").parquet(mf)
    // upgrade-time read: every file is recorded (in the old format) ->
    // the delta must be EMPTY, not a full re-ingest
    assert(Layouts.incrementalScan(spark, land, mf, listing).count() == 0,
      "legacy-keyed manifest entries must still suppress their files")
    // and a genuinely new drop still surfaces
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(land)
    val listing2 = Layouts.snapshotListing(spark, land)
    assert(Layouts.incrementalScan(spark, land, mf, listing2).count() ==
      docs.filter(col("doc_id") % 2 === 1).count())
    // checkpointing the mixed state writes only the NEW paths (in the
    // qualified format) - the legacy rows keep suppressing theirs
    Layouts.markProcessed(spark, mf, listing2)
    assert(Layouts.incrementalScan(spark, land, mf, listing2).count() == 0)
    val mfRows = spark.read.parquet(mf).as[String].collect()
    assert(mfRows.length == listing2.size,
      s"each file recorded exactly once across formats, got ${mfRows.length}")
  }
}
