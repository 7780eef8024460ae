package graft

/** Per-round benchmark: runs the `bench = true` headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * Each query is forced through a `noop`-format write — unlike `.count()`,
  * which lets Catalyst prune every projection to a row-count scan, the noop
  * sink evaluates every output column (full codegen pipeline) and discards
  * rows at the sink, so the timing covers the real operator work. One
  * untimed warm-up run per query absorbs JIT/codegen compilation and file
  * listing; each query is then timed THREE times and the MEDIAN taken,
  * so one GC pause / compilation stall / external CPU-contention spike
  * cannot distort the recorded number (round-3 post-mortem: a single timed
  * iteration recorded 10.49 s for a query whose steady state is 0.89 s).
  * The whole battery then runs a SECOND time and each query reports the
  * better pass's median — the defense against SUSTAINED interference
  * windows, which inflate all iterations of several consecutive queries
  * at once and so slip past both the median and the start-of-battery
  * calibration (r13 post-mortem: a 7-query window read as a 1.35x
  * regression that an independent rerun proved was 1.00x). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus)
    Tables.logSchemas(spark, sfDir, "bench")
    // Registration failure (e.g. a driver-side testdata regeneration that
    // one loader can't absorb) must degrade to per-query -1 entries for
    // the view-dependent queries, never zero the whole round's artifact —
    // round 9's bench died here, outside any try.
    try Tables.ensureRegistered(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] register failed: ${e.getMessage}")
    }
    // Register every MV a bench query will register BEFORE pass 1's
    // first timed query (r15 verdict item 1): the fixtures memoize
    // once-per-(session, dir), so without this, queries timed before
    // q61/q65 in pass 1 optimized under a registry pass 2 no longer
    // reproduces — an asymmetric measurement arm that contaminated the
    // best-of-two comparison. Both passes now run under the identical
    // registry state. (Any future bench=true MV query must pre-register
    // its fixture here too.)
    try {
      MvQueries.ensureMv(spark, sfDir)
      MvQueries.ensureJoinMv(spark, sfDir)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] mv pre-register failed: ${e.getMessage}")
    }

    def force(name: String): Unit =
      QueryCatalog.byName(name).build(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // One measurement under the battery's isolation protocol. Cache
    // clearing: a query may rebuild its OWN cache in the warm-up — that
    // is part of its steady state — but caches persisted by EARLIER
    // operators must go. clearCache (async eviction of any frame cached
    // outside ManagedCache) goes first so the BLOCKING releaseAll —
    // which covers every engine-persisted frame — is the last cache
    // operation before timing, and the untimed warm-up absorbs any
    // async-eviction stragglers. The pre-warm-up gc drains the
    // ContextCleaner: it surfaces the accumulated broadcast/shuffle
    // references of every prior query so the cleaner's unpersist storm
    // overlaps the UNTIMED warm-up instead of detonating inside the
    // first timed run (the per-run System.gc was TRIGGERING the backlog
    // there — observed at sf2 as a 7 s median on a query whose isolated
    // warm time is 0.8 s).
    def time3(run: () => Unit): Seq[Double] = {
      spark.sharedState.cacheManager.clearCache()
      ManagedCache.releaseAll() // blocking: eviction cannot overlap timing
      System.gc()
      Thread.sleep(200) // let the async cleaner catch the weak refs
      run() // warm-up: JIT + codegen + file listing (+ own caches)
      Seq.fill(3) {
        System.gc()
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }.sorted
    }
    def guarded(name: String)(run: () => Unit): (String, Seq[Double]) =
      try name -> time3(run)
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          name -> Seq(-1.0, -1.0, -1.0)
      }

    // ---- calibration (r12 verdict item 2) ------------------------------
    // Two FIXED workloads — frozen as of round 13, never to be edited —
    // timed under the exact per-query protocol before the battery: a
    // full-width parquet scan of lineitem (IO + decode + codegen probe)
    // and one canonical broadcast join (shuffle-free join machinery
    // probe). Their summed median is the round's ENVIRONMENT UNIT:
    // r12's judging burned real effort proving a uniform 1.19× drift
    // was environmental — with cal in the artifact, environment drift
    // (cal moves, per-query med/cal ratios stable) and plan regression
    // (cal stable, one ratio moves) separate from one file. The stdout
    // line carries the two cal medians; the in-tree mirror additionally
    // records every query's cal-normalized ratio.
    import org.apache.spark.sql.functions.broadcast
    def calScan(): Unit =
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .write.format("noop").mode("overwrite").save()
    def calJoin(): Unit = {
      val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_suppkey", "l_extendedprice")
      val su = spark.read.parquet(s"$sfDir/supplier.parquet")
        .select("s_suppkey", "s_nationkey")
      l.join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
        .write.format("noop").mode("overwrite").save()
    }
    // SPARK_GRAFT_BENCH_ONLY=name,name restricts the battery for local
    // bisect reruns (cal still runs — the drift unit must come with the
    // number); unset — the driver's case — runs the full set.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = QueryCatalog.all.filter(_.bench).map(_.name)
      .filter(n => only.forall(_(n)))

    // ---- TWO-PASS BATTERY, BEST-OF-TWO PER QUERY (r13 verdict item 1) --
    // One battery is not interference-proof: r13's committed artifact
    // caught a SUSTAINED mid-battery contention window that inflated
    // seven consecutive queries 2-4x — invisible to the start-of-battery
    // cal (sampled outside the window) and to the per-query max/med
    // spread (all four iterations inflated together). The judge's
    // independent rerun proved the plans healthy (best-of-two across the
    // two batteries: 1.00x vs r12 exactly). So the battery now runs
    // TWICE end-to-end and each query records the BETTER pass's median.
    // The defense is proportional to battery length: at the graded sf0.1
    // scale a pass takes minutes, so a query's two samples are minutes
    // apart — separation a multi-minute window cannot straddle. (At
    // smoke scales a pass is ~20-30 s and a long window could still
    // cover both samples; the "passes" totals make that visible rather
    // than impossible.) Both pass totals are kept in the artifact so
    // drift between passes is itself visible.
    // SPARK_GRAFT_BENCH_PASSES=1 restores the single pass for local
    // iteration loops.
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2")
      .toInt.max(1)
    def battery(): (Seq[(String, Seq[Double])], Seq[(String, Seq[Double])]) = (
      Seq(guarded("scan")(() => calScan()),
        guarded("join")(() => calJoin())),
      names.map(name => guarded(name)(() => force(name))))
    val passes = Seq.fill(nPasses)(battery())

    // per-query best pass: the full (min, med, max) triple of whichever
    // pass had the lower median; -1s only if the query failed in EVERY
    // pass (a single-pass failure is recoverable — the other pass's
    // numbers are real)
    def bestOf(rs: Seq[Seq[Double]]): Seq[Double] = {
      val ok = rs.filter(_(1) > 0)
      if (ok.isEmpty) Seq(-1.0, -1.0, -1.0) else ok.minBy(_(1))
    }
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> bestOf(passes.map(_._2(i)._2))
    }
    val cal = Seq("scan", "join").zipWithIndex.map { case (n, i) =>
      n -> bestOf(passes.map(_._1(i)._2))
    }
    // the unit is scan+join BY DEFINITION: if either workload failed,
    // norm must read -1 everywhere rather than silently renormalizing
    // against a half-unit no other round's numbers share
    val calUnit =
      if (cal.forall(_._2(1) > 0)) cal.map(_._2(1)).sum else -1.0
    // per-pass battery totals over the queries that succeeded in EVERY
    // pass: two similar totals = quiet box; a gap = one pass caught a
    // window and the best-of-two values absorbed it. Restricting to the
    // all-pass-green set keeps both totals over the SAME query set — a
    // transient single-pass failure would otherwise shrink one total
    // and masquerade as exactly the interference gap this field exists
    // to diagnose. "pass_failed" records each pass's failure count on
    // stdout, so a recovered failure is visible there and not only as
    // a by_pass -1 buried in the mirror.
    val allGreen = names.indices.filter(i =>
      passes.forall(_._2(i)._2(1) > 0))
    val passTotals = passes.map(p => allGreen.map(i => p._2(i)._2(1)).sum)
    val passFailed = passes.map(_._2.count(_._2(1) < 0))
    // ARTIFACT-SIZE DISCIPLINE (round-5 post-mortem, re-measured round
    // 14): the driver captures only the last ~2,000 bytes of output and
    // records {tail, parsed} — BENCH_r13.json came back "parsed": null
    // because the line had quietly grown past the window (56 queries ×
    // %.4f + a spread map + the two-pass fields = 2,336 bytes at 58).
    // The stdout line is therefore the COMPACT view: queries at %.2f
    // (10 ms granularity — headline values are 0.1-5 s; cross-round
    // trend analysis reads the in-tree mirror, which keeps %.4f
    // med/min/max/by_pass/norm per query), no per-query spread map
    // (the mirror carries max; stdout "max" was unbounded under
    // interference — exactly when the window must not overflow), and
    // the "metric"/"value" headline pair LAST so it survives the tail
    // capture even if a future growth spurt truncates the head again.
    // Measured at 58 queries: ~1,650 bytes, ~350 of headroom.
    def f4(d: Double): String = if (d < 0) "-1" else f"$d%.4f"
    def f2(d: Double): String = if (d < 0) "-1" else f"$d%.2f"
    val qs = results.map { case (k, t) => JsonOut.str(k) + ":" + f2(t(1)) }
      .mkString("{", ",", "}")
    val total = results.map(_._2(1)).filter(_ >= 0).sum
    // a failed query is -1 in "queries" and EXCLUDED from "value" — the
    // top-level failed count keeps a shrunken total from reading as a
    // speedup when a heavy query errors out
    val failed = results.count(_._2(1) < 0)
    // basename only: the parent dir is always the fixture root, and the
    // full path spends capture-window bytes on no information
    val sfName = new java.io.File(sfDir).getName
    // "runs"/"stat" make the captured line self-describing (each
    // "queries" value is the median of `runs` timed iterations after one
    // warm-up) at ~25 bytes — full per-query provenance lives in the
    // in-tree mirror below, which has no capture-window budget.
    val calJson = cal.map { case (k, t) => JsonOut.str(k) + ":" + f4(t(1)) }
      .mkString("{", ",", "}")
    val passesJson = passTotals.map(f4).mkString("[", ",", "]")
    val passFailedJson = passFailed.mkString("[", ",", "]")
    val line = s"""{"sf":${JsonOut.str(sfName)},"failed":$failed,"runs":3,"stat":"best-of-$nPasses-pass median","passes":$passesJson,"pass_failed":$passFailedJson,"cal":$calJson,"queries":$qs,"unit":"sec","metric":"total","value":${f4(total)}}"""
    println(line)
    // In-tree mirror (VERIFY_ERRORS.json precedent): the driver's
    // ~2,000-byte tail capture can truncate the stdout line's head as
    // the query set grows. The mirror is the SELF-DESCRIBING artifact:
    // per-query {med,min,max} of the three timed runs — min tracks med
    // on a quiet box, max/med > 1.2 flags external interference — so a
    // judge reads one file with no cross-referencing of quiet-run
    // companions.
    // "norm" = med / (cal scan med + cal join med): the environment-
    // cancelled number a judge compares across rounds and hosts.
    // mirror: med/min/max of the WINNING pass, plus every pass's median
    // ("by_pass") so a judge sees exactly which queries one pass
    // inflated; norm uses the best-of cal unit (same statistic as the
    // query values — a polluted pass's cal must not renormalize a quiet
    // pass's numbers)
    val full = results.zipWithIndex.map { case ((k, t), i) =>
      val norm = if (t(1) > 0 && calUnit > 0) t(1) / calUnit else -1.0
      val byPass = passes.map(p => f4(p._2(i)._2(1))).mkString("[", ",", "]")
      JsonOut.str(k) +
        s""":{"med":${f4(t(1))},"min":${f4(t(0))},"max":${f4(t(2))},"by_pass":$byPass,"norm":${f4(norm)}}"""
    }.mkString("{", ",", "}")
    val calFull = cal.zipWithIndex.map { case ((k, t), i) =>
      val byPass = passes.map(p => f4(p._1(i)._2(1))).mkString("[", ",", "]")
      JsonOut.str(k) +
        s""":{"med":${f4(t(1))},"min":${f4(t(0))},"max":${f4(t(2))},"by_pass":$byPass}"""
    }.mkString("{", ",", "}")
    val fullLine = s"""{"sf":${JsonOut.str(sfName)},"failed":$failed,"runs":3,"stat":"best-of-$nPasses-pass median","passes":$passesJson,"pass_failed":$passFailedJson,"cal":$calFull,"queries":$full,"unit":"sec","metric":"total","value":${f4(total)}}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/BENCH_LAST.json"), fullLine)
    catch { case _: Throwable => () }
    spark.stop()
  }
}
