package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt,
      GraftSession.CpuDenseMaxPartitionBytes).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: session/codegen init + file-index caches, so per-query times
    // reflect steady state rather than first-query JVM startup.
    Seq("lineitem", "orders", "events", "documents", "embeddings", "customer",
        "supplier", "nation", "region", "part")
      .foreach(t => GraftSession.table(spark, sfDir, t).count())
    // optional comma-separated query filter for dev iteration; the driver
    // leaves this unset and benches the full contract
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // deterministic (sorted) execution order so per-query times are
    // comparable across rounds — Map iteration order is arbitrary
    // Warm-vs-cold: each query runs twice — the first (cold) time carries
    // per-query codegen/JIT warm-up, the second (warm) is steady state — and
    // a fingerprint of the optimized logical plan is recorded, so a
    // slower-than-floor flag with an UNCHANGED fingerprint is mechanically
    // dismissible as machine noise while a changed fingerprint marks a real
    // plan regression. SPARK_GRAFT_WARM=0 skips the second run (dev loops).
    val warm = !sys.env.get("SPARK_GRAFT_WARM").contains("0")
    // A query that throws is recorded as an ERROR (name -> message), not as
    // a fast time: a broken query must never look like the fastest query in
    // the suite. Errored queries are excluded from per-query timings and the
    // total.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      def once(): Either[String, Double] = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
        catch { case scala.util.control.NonFatal(e) =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)) }
      }
      val cold = once()
      // pre-AQE plan fingerprint: stable across runs (normalized expr
      // ids), changes exactly when the declared plan shape changes.
      // Computed AFTER the cold rep: unwrapping a deferred-frame kernel
      // executes its driver-side jobs (IRLS collects, pagerank iterations,
      // checkpoints), and hashing first would systematically pre-warm the
      // "cold" rep (shuffle files, page cache, JIT) — so cold keeps its
      // original includes-kernel-construction semantics, and the hash's
      // unwrap cost lands on an already-warm kernel, outside both timed
      // regions.
      val planHash =
        try {
          // PlanText.fingerprint: the normalized NON-canonicalized
          // optimized plan of the UNWRAPPED deferred frame — hashing the
          // leaf alone would make the heaviest queries' hashes invariant
          // to any kernel change, silently blinding the
          // slower-than-floor-with-changed-plan regression tripwire.
          // Building the inner frame pays the kernel's driver-side jobs
          // once per bench run, OUTSIDE the timed region — the cost the
          // registry deferral exists to keep out of plan-only consumers,
          // spent deliberately here because the bench runs the kernels
          // anyway.
          val stable = graft.util.PlanText.fingerprint(fn(spark, sfDir))
          f"${scala.util.hashing.MurmurHash3.stringHash(stable)}%08x"
        } catch { case _: Throwable => "err" }
      // warm = MEDIAN of N steady-state reps (default 3 since round 14 —
      // VERDICT r13 item 7: a single warm rep misread ~10 queries as
      // regressions that were box noise; the default run now IS the floor
      // series, so the per-round BENCH_rN.json headline needs no floor
      // cross-reference). SPARK_GRAFT_WARM_REPS=1 restores the quick mode
      // for dev loops.
      val warmReps = sys.env.get("SPARK_GRAFT_WARM_REPS").map(_.toInt).getOrElse(3)
      // A failed warm rep is a real signal even when siblings survive: a
      // partial failure surfaces as an error note (the median of survivors
      // is still reported, flagged), never silently shifting the median
      // toward the fast tail.
      val (warmTime, warmPartialErr) = if (warm && cold.isRight) {
        val reps = Seq.fill(warmReps)(once())
        val ts = reps.flatMap(_.toOption).sorted
        val fails = reps.collect { case Left(m) => m }
        // all-reps-failed must stay VISIBLE (a warm-only failure is a real
        // signal), not collapse into the same None as warm-disabled
        val med: Option[Either[String, Double]] =
          if (ts.isEmpty) reps.headOption
          else Some(Right(ts(ts.length / 2)))
        val note =
          if (fails.nonEmpty && ts.nonEmpty)
            Some(s"warm ${ts.length}/${reps.length} ok; first failure: ${fails.head}")
          else None
        (med, note)
      } else (None, None)
      // Bound CacheManager growth across the run: shareLazily entries
      // (rfm ranked frame, triangle core) are drained once THIS query's
      // reps are done, so a 247-query session never accretes entries that
      // compete with later queries' unified memory. Warm times are
      // unaffected (the cold rep re-materializes the query's own cache);
      // only cross-query cold freeloading (rfm_segments_dist reusing
      // rfm_segments' frame) is given up — deliberately, cold is not the
      // graded bar.
      org.apache.spark.sql.graft.Bridge.releaseShared()
      (name, cold, warmTime, warmPartialErr, planHash)
    }
    def r3(v: Double) = math.round(v * 1000) / 1000.0
    def obj(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    def jstr(s: String) =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val ok = results.collect { case (n, Right(t), w, _, h) => (n, t, w, h) }
    val errs = results.collect { case (n, Left(m), _, _, _) => (n, m) }
    val qs = obj(ok.map(r => r._1 -> r._2))
    val total = ok.map(_._2).sum
    val warmOk = ok.flatMap(r => r._3.flatMap(_.toOption).map(r._1 -> _))
    val warmTotal = warmOk.map(_._2).sum
    // warm total rides in BOTH output forms: the warm number is what the
    // 2x-of-floor bar is judged on, so the per-round snapshot (which keeps
    // only the truncated stdout line) must stay self-contained
    val warmPart =
      if (warm) s""","warm_queries":${obj(warmOk)},"warm_total":${r3(warmTotal)},"warm_count":${warmOk.length}"""
      else ""
    val hashes = results.map(r => s"\"${r._1}\":\"${r._5}\"").mkString("{", ",", "}")
    // a query whose COLD run passed but whose warm reps ALL failed is a real
    // signal (state leak, scratch exhaustion): surface it in errors rather
    // than letting it vanish from warm_queries indistinguishably from
    // warm-disabled. Partial warm-rep failures surface the same way.
    val warmErrs = ok.flatMap(r => r._3.collect { case Left(m) => (r._1 + " (warm)", m) })
    val warmPartials = results.collect { case (n, _, _, Some(note), _) => (n + " (warm partial)", note) }
    val errPart = (errs ++ warmErrs ++ warmPartials)
      .map { case (n, m) => s"${jstr(n)}:${jstr(m)}" }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs$warmPart,"plan_hashes":$hashes,"errors":$errPart,"sf":"$sfDir"}"""
    // The driver captures only the tail of stdout; with 120+ per-query
    // timings the one-line JSON can exceed that window. Persist the full
    // JSON to a file, and keep stdout parseable: print the full line when it
    // fits, otherwise a line with the slowest queries plus a file pointer.
    // relative to the working directory so the fallback also lands on
    // checkouts that aren't /root/repo; SPARK_GRAFT_BENCH_OUT overrides.
    // A filtered dev run (SPARK_GRAFT_ONLY) must never clobber the
    // canonical full-suite record — it lands in a scratch file instead.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "BENCH_partial.json" else "BENCH_full.json")
    // only advertise the file if the write actually succeeded — a stale or
    // missing file behind a "full" pointer is worse than no pointer
    val wrote =
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outFile), (full + "\n").getBytes("UTF-8"))
        true
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench: failed to write $outFile: $e"); false }
    // Print the FULL one-line JSON (round 16, VERDICT r15 item 2): the
    // truncated top-25 line was unparseable by the driver (PERF_r14/r15 both
    // recorded parsed: null), which blinded two rounds of round-over-round
    // comparison. ~20 KB on one line is fine; $outFile stays as a courtesy
    // copy. `wrote` is still computed so a failed file write is reported.
    if (!wrote) System.err.println(s"bench: $outFile not written; stdout line is canonical")
    println(full)
    spark.stop()
  }
}
