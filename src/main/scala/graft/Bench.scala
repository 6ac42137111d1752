package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR. Each query is executed once untimed (JIT/codegen
  * warm-up + file-index population — on a long-lived cluster these costs
  * amortize to zero) and then timed SPARK_GRAFT_BENCH_BEST times (default
  * 5), reporting the best run: single-JVM local mode sees multi-second
  * GC/OS stalls often enough that two samples can both be hit, and on a
  * shared box (the driver's re-run) even more are — the r5 driver artifact
  * showed 2-4× phantom regressions on queries whose committed same-code
  * times never moved. Raise the variable on noisy hosts.
  *
  * Execution order is a deterministic name-hash interleave, NOT
  * alphabetical: the r6 driver run showed a single multi-second VM stall
  * inflating an entire alphabetically contiguous etl_* stretch 6-21×
  * (executed plans identical). Hash order scatters each family across
  * the whole run, so a stall window hits a random mix of families and
  * round-over-round per-family comparisons stay meaningful. The JSON
  * output is still sorted by name.
  *
  * Between runs every persisted block (localCheckpoint RDDs from the dedup
  * family) is dropped: without this, ~100 query executions of leftover
  * blocks pile up in the block manager and mid-bench queries pay their GC
  * bill — each measurement must see the same clean executor state.
  *
  * Every timed run goes through `graft.tools.Leg.run`, and the artifact
  * carries each leg's best-sample record under `layers` (probe rows and
  * the sf1 section carry theirs): jobs, job wall, driver gap, stages,
  * tasks, shuffle bytes, and a failed leg's cause. The compact stdout line
  * keeps seconds only.
  *
  * The artifact is TIMEOUT-SURVIVABLE (r9 VERDICT #2): after every
  * completed query/probe/sf1 leg the JSON is atomically re-published
  * (write-temp + rename) with the completed prefix and `"partial":true`,
  * so a wrapper timeout or kill -9 mid-run still leaves a parseable
  * artifact; and a wall-clock budget (SPARK_GRAFT_BENCH_BUDGET_S, DEFAULT
  * 1800 s since r13 — the driver never sets it and two arbiter runs died
  * rc=124 un-budgeted) degrades the per-query sample count best-of-N→3→1
  * as the elapsed clock runs hot so a stalled VM finishes inside the
  * wrapper's window instead of recording rc=124/parsed:null.
  *
  * Sections run probes → sf1 → per-query legs (r12 VERDICT #1b): the
  * noise-immune work ratios and the second scale point carry the most
  * information per second, so they run while the budget is cold; a kill
  * can only truncate the leg tail, and the budget exists to make even
  * that not happen.
  */
object Bench {
  import graft.tools.Leg
  import graft.tools.Leg.{fmt, obj}

  private def rmTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(q => java.nio.file.Files.deleteIfExists(q): Unit)
    }

  /** Drop the staged-table trees a data dir's queries accumulate under
    * /tmp/graft_stage (V2 lifecycle tables retain every replaced prod
    * version for time travel, so 6 runs × 31 createOrReplace calls × 247
    * queries piles up GBs across a full run — the /tmp pressure behind the
    * r11 driver bench's executor heartbeat death). Every query restages its
    * own tables per invocation (31/31 are createOrReplace), so deleting
    * BETWEEN queries is free: the next run rebuilds exactly what it times
    * anyway, minus the retain-old-version step it no longer needs.
    */
  private def cleanStaging(dataDirs: String*): Unit =
    for (d <- dataDirs; hex = java.lang.Integer.toHexString(d.hashCode)) {
      rmTree(java.nio.file.Paths.get("/tmp/graft_stage/v2", "x" + hex))
      rmTree(java.nio.file.Paths.get("/tmp/graft_stage/v2", "probe" + hex))
      rmTree(java.nio.file.Paths.get("/tmp/graft_stage", hex))
    }

  /** One-time start-of-run sweep of the SHARED `sh*` fixture namespaces
    * (r12 ADVICE): they are keyed by a fingerprint of the source parquet, so
    * regenerated testdata orphans the old key's full-table copies forever —
    * and cleanStaging above deliberately never touches them mid-run (the
    * whole point of the shared fixtures is build-once/serve-many across the
    * query legs). Sweeping at START keeps the amortization AND bounds the
    * cross-run debris: each run begins from zero sh-trees and builds exactly
    * the fixtures the current testdata fingerprints to. (Probe-section
    * rebuilds under ArtifactCache.bypass no longer land here at all — they
    * route into the per-dir `x`-namespaces cleanStaging already removes;
    * see Ingest.sharedStaged.)
    */
  private def sweepSharedFixtures(): Unit = {
    val v2 = new java.io.File("/tmp/graft_stage/v2")
    Option(v2.listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("sh"))
      .foreach(f => rmTree(f.toPath))
  }

  /** Best-of-N sample count (N timed runs after one warm-up). Default 5:
    * the driver's re-run previously defaulted to 3 while the committed
    * artifact used 5, and the protocol mismatch alone read as a 1.39×
    * "regression" (r7 VERDICT #2) — both paths now sample identically.
    */
  private[graft] val bestOf: Int =
    sys.env.get("SPARK_GRAFT_BENCH_BEST").map(_.trim.toInt).filter(_ > 0).getOrElse(5)

  /** Wall-clock budget (seconds). When the elapsed clock runs hot against
    * it, the remaining queries degrade their sample count best-of-N → 3 → 1
    * so the run FINISHES inside the wrapper's timeout instead of producing
    * a rc=124 artifact (the r9 driver bench completed all 229 queries but
    * its wrapper timed out and recorded parsed:null). Degraded queries
    * trade sample-count noise immunity for completion — the right trade for
    * the cheap tail, and the artifact records how many queries ran degraded
    * so a comparison knows.
    *
    * DEFAULTS ON at 1800 s (r12 VERDICT #1): the driver's un-configured
    * runs never set SPARK_GRAFT_BENCH_BUDGET_S, so for two consecutive
    * rounds an un-budgeted best-of-5 over every section overran the
    * harness wall and the arbiter artifact came back rc=124/partial. A
    * stalled VM now sheds samples instead of time. The number is sized
    * from measured section walls, not wishes: the budget bounds SAMPLED
    * time but warm runs and the 10x sections have a floor (~35 min
    * quiet-machine wall for corpus build + capped probes + sf1 + 1-sample
    * legs), so the threshold must sit LOW enough that degradation fires
    * before the floor is spent — 1800 s lands the whole default run
    * ≈30-35 min quiet and ≈50 min on a 1.5x-slower arbiter box, inside a
    * one-hour wrapper with headroom (a 2400 s trial run measured 63 min
    * quiet: degradation fired too late). Set the variable to 0 (or
    * negative) for an explicitly unbudgeted run — every section then runs
    * at its cap (probes best-of-2, sf1 best-of-3, legs best-of-N).
    */
  private val budgetS: Option[Double] =
    sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S") match {
      case Some(v) => Some(v.trim.toDouble).filter(_ > 0)
      case None    => Some(1800.0)
    }

  /** Samples to take given elapsed seconds against the budget: full N
    * below 60% of budget, 3 to 85%, 1 beyond — monotone non-increasing so
    * a stalled run sheds load instead of compounding the stall.
    */
  private[graft] def samplesFor(n: Int, elapsedS: Double,
                                budget: Option[Double]): Int =
    budget match {
      case Some(b) if elapsedS > b * 0.85 => 1
      case Some(b) if elapsedS > b * 0.60 => math.min(3, n)
      case _                              => n
    }

  /** `num / den` to 2 dp, or -1 when either side failed. */
  private def ratio(num: Double, den: Double): Double =
    if (den > 0 && num >= 0) math.round(num / den * 100.0) / 100.0 else -1.0

  /** `"queries":{name:seconds},"layers":{name:record}` over completed legs,
    * and their total seconds (a failed leg's -1 stays visible per leg but
    * never deflates the total).
    */
  private def legsJson(done: Seq[(String, Leg.Record)]): (Double, String) = {
    val secs = done.map { case (k, r) => k -> fmt(r.seconds) }
    (fmt(secs.map(_._2).filter(_ >= 0).sum),
      s""""queries":${obj(secs)},"layers":${obj(done.map { case (k, r) => k -> r.json })}""")
  }

  /** Atomically (write-temp + rename) publish `json` to `path`: a reader —
    * or a kill -9 — at ANY instant sees either the previous complete
    * artifact or the new one, never a torn write. Called after every
    * query so a timed-out wrapper still finds the completed prefix.
    */
  private def publish(path: String, json: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The sf1 section's heavy queries, timed on the full 10x corpus;
    * `tools/sf1check.sh` hash-checks the same set (its `HEAVY`, kept equal
    * by `BenchBudgetSpec`). The heavy-12 plus the round-8/9 lifecycle
    * heavies (staged V2 write path etl_rename_replace, streaming dedup index
    * stream_dedup_index) plus the round-9 V2 READ trio (VERDICT r9 #8): the
    * read path's pruning arithmetic verified at a second scale.
    */
  private[graft] val Sf1Heavies: Seq[String] = Seq(
    "ann_nndescent", "ann_graph_search", "ann_recall_gsearch",
    "ann_recall_nnd", "graph_pagerank_raw", "graph_cosim", "graph_cc_raw",
    "dedup_minhash_lsh", "dedup_winnowing", "etl_profile",
    "etl_cdc_apply", "q18_running_total",
    "etl_rename_replace", "stream_dedup_index",
    "etl_spj_join", "etl_stats_scan", "etl_days_prune",
    // round-10 lifecycle rungs at 10x: compaction, DELETE, bucket SPJ,
    // UPDATE, streaming tail
    "etl_compact_files", "etl_delete_rows", "etl_bucket_join",
    "etl_update_rows", "stream_table_tail",
    // round-11 additions at 10x: runtime day pruning (dim-driven day
    // closure — the opened-splits == dim-days invariant needs a second
    // scale point), streaming write ingest, time travel, merge-on-read
    // deletes, and the change data feed
    "etl_days_dpp", "stream_table_ingest", "etl_time_travel",
    "etl_delete_vectors", "etl_change_feed", "etl_sort_order",
    // round-11 rungs at 10x: partition-spec evolution, the migrate
    // settle pass, and the inspection relations
    "etl_partition_evolve", "etl_layout_migrate",
    "etl_meta_partitions", "etl_meta_files", "etl_meta_history",
    "stream_table_upsert",
    // round-13: the equality-delete upsert at 10x (epoch cost must
    // stay ∝ the wave while the destination grows), then the
    // wall-clock/refs/WAP/rollback lifecycle rungs
    "stream_table_upsert_eq",
    "etl_time_travel_ts", "etl_table_tag", "etl_wap_publish",
    "etl_rollback")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local-iteration filter: run only queries whose name starts with one of
    // the comma-separated prefixes (full suite when unset — the driver's mode)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    var spark = graft.core.GraftSession.local("graft-bench")
    // crash isolation (r11 VERDICT #1): a leg that kills the SparkContext
    // (executor self-termination, fatal job error) must cost ITS row, not
    // every row after it — each loop re-checks and rebuilds the session so
    // neighbors record real numbers instead of inheriting -1.0
    def ensureAlive(): Unit =
      if (spark.sparkContext.isStopped) {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = graft.core.GraftSession.local("graft-bench")
      }
    val selected = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.exists(n.startsWith)))
      .sortBy(n => (scala.util.hashing.MurmurHash3.stringHash(n), n))

    // the artifact path is resolved BEFORE the run so every completed query
    // can be flushed into it incrementally (see publish); a wrapper timeout
    // or kill -9 then still leaves a parseable artifact with the prefix
    val outPath = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
      .getOrElse("BENCH_OUT.json")
    val startNs = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - startNs) / 1e9
    var nBest3 = 0
    var nBest1 = 0
    def nextSamples(): Int = {
      val n = samplesFor(bestOf, elapsedS, budgetS)
      if (n == 1 && bestOf > 1) nBest1 += 1
      else if (n < bestOf) nBest3 += 1
      n
    }
    def budgetJson: String = budgetS.map { b =>
      s""","budget":{"limit_s":$b,"degraded_best3":$nBest3,"degraded_best1":$nBest1}"""
    }.getOrElse("")

    // one timed leg: a query's best-of-n record at data dir d
    def leg(q: String, d: String, n: Int): Leg.Record =
      Leg.run(spark, n)(SparkEntry.queries(q)(spark, d).count())
    val resultsBuf = scala.collection.mutable.ArrayBuffer.empty[(String, Leg.Record)]
    // every flush carries the completed probe/sf1 fragments (`extra`) so a
    // partial artifact holds everything finished so far
    def flushPartial(extra: String): Unit = {
      val done = resultsBuf.sortBy(_._1).toSeq
      val (tot, legs) = legsJson(done)
      val nf = done.count(_._2.seconds < 0)
      publish(outPath,
        s"""{"metric":"total","value":$tot,"unit":"sec","failed":$nf,"partial":true,"completed":${done.length},"of":${selected.length},$legs$extra$budgetJson,"sf":"$sfDir"}""")
    }
    // SECTION ORDER (r12 VERDICT #1b): probes, then sf1, then the per-query
    // legs. The probe work-ratios and the sf1 anchor are the run's
    // highest-information rows (work counts are noise-immune; sf1 is the
    // only second scale point) and for two rounds they were exactly what a
    // wall kill blanked. Running them first means a timeout can only
    // truncate the 247-leg tail — and the legs degrade 5→3→1 under the
    // default budget precisely so that tail fits.
    sweepSharedFixtures()

    // Throughput scale probes: time a query on the bench corpus AND on a
    // synthetic 10x copy. With corpus-size-independent parameterization
    // the ratio should sit near 10 (here it reads lower still, since fixed
    // job overhead dominates these sub-2 s queries); the defect classes
    // guarded are corpus-proportional parameterization (ann_ivf — the
    // round-4 weak marks, would read ~100) and quadratic candidate
    // generation (dedup_minhash_lsh, under a CONSTANT duplicate fraction).
    // Each probe row also carries the query's dominant WORK COUNT at both
    // scales (see ProbeWork): counts are noise-immune, so work_ratio ≈
    // factor certifies linearity even when a VM stall pollutes a timing
    // leg. Reported OUTSIDE "queries" so round-over-round per-query
    // comparisons and the total stay unpolluted.
    val runProbe = only.forall(_.exists(p => "scale10x".startsWith(p)))
    val scaleDir = sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_scale10x"
    val probeJson = if (!runProbe) "" else {
      // 10x id-disjoint copies of every probed table, duplicate fraction /
      // join fan-out / vertex degree held constant (see ScaleCorpus — doc
      // copies are token-salted so they share NO shingles; the r5 rotation
      // scheme made copies a near-dup clique and polluted the lsh probe)
      graft.tools.ScaleCorpus.build(spark, sfDir, scaleDir)
      // probes measure the BUILD's scaling — a cached NND graph would
      // report a constant read and defeat the probe's purpose. The finally
      // below guarantees the flag is restored even if a probe throws
      // outside Leg.run's per-run catch, so the sf1 section (which
      // measures the cache ON) can never silently run with it off.
      graft.core.ArtifactCache.bypass = true
      val probeRows = scala.collection.mutable.ArrayBuffer.empty[String]
      def flushProbes(): Unit = flushPartial(
        s""","scale_probes":[${probeRows.mkString(",")}]""")
      try {
      // one probe row: both scales' seconds, rows and records, plus `work`
      def probeRow(q: String, base: Leg.Record, scaled: Leg.Record,
                   work: String): String = {
        val (baseSec, scaledSec) = (fmt(base.seconds), fmt(scaled.seconds))
        val row = s"""{"query":"$q","factor":10,"base_sec":$baseSec,"scaled_sec":$scaledSec,"ratio":${ratio(scaledSec, baseSec)},"base_rows":${base.rows},"scaled_rows":${scaled.rows}$work,"layers":${obj(Seq("base" -> base.json, "scaled" -> scaled.json))}}"""
        probeRows += row
        flushProbes()
        row
      }
      def probeOf(q: String): String = {
        ensureAlive()
        // probes cap at best-of-2 by design: their certified metric is the
        // WORK RATIO (exact counts, noise-immune), timing is advisory —
        // every sample shed from the heavy 10x legs buys wall back for
        // the sections whose numbers ARE the timings
        val n = math.min(2, nextSamples())
        val (base, scaled) = (leg(q, sfDir, n), leg(q, scaleDir, n))
        def workOf(m: Map[String, (String, (org.apache.spark.sql.SparkSession, String) => Long)],
                   pfx: String): String =
          m.get(q).map { case (label, f) =>
            val wb = try f(spark, sfDir) catch { case _: Throwable => -1L }
            val ws = try f(spark, scaleDir) catch { case _: Throwable => -1L }
            Leg.clearState(spark)
            s""","${pfx}metric":"$label","${pfx}base":$wb,"${pfx}scaled":$ws,"${pfx}ratio":${ratio(ws.toDouble, wb.toDouble)}"""
          }.getOrElse("")
        val row = probeRow(q, base, scaled, workOf(graft.tools.ProbeWork.counters, "work_") +
          workOf(graft.tools.ProbeWork.counters2, "work2_"))
        // each probe row's staging debris is dropped as soon as its work
        // counters have read it — r11's executor death came mid-probe with
        // the full 247-query surface's staged trees still on /tmp
        cleanStaging(sfDir, scaleDir)
        row
      }
      val ann = probeOf("ann_ivf")
      val mh = probeOf("dedup_minhash_lsh")
      // third probe class: token-proportional broadcast-model scoring
      // (dsir's weight table must stay CONSTANT-size while tokens grow 10x)
      val ds = probeOf("sample_dsir")
      // fourth: the one corpus REWRITE that shuffles text — by design
      // exactly once; a super-linear ratio here would mean a second pass
      val ld = probeOf("text_line_dedup")
      // fifth: iterative graph analytics on the RAW sf-proportional edge
      // set (not the nation-aggregated graph) — guards the degree-bounded
      // fan-out claim in Graph.scala at a scale where it actually binds
      val gr = probeOf("graph_pagerank_raw")
      // sixth: the NN-descent build — guards the composite-cell seed
      // (raw fixed-count LSH cells would make seed pairs grow N²/64: at
      // 10x vectors that reads ~25+, the linear seed stays ~O(10))
      val nd = probeOf("ann_nndescent")
      // thirteenth probe — the WRITE path (VERDICT r8 #8): every probe
      // above measures reads/compute. This one times the staged V2
      // createOrReplace of a fixed lineitem selection at both scales;
      // the work metric is BYTES WRITTEN into the committed table — like
      // the other work counts it is exact and noise-immune, so
      // work_ratio ≈ 10 certifies the write path stays linear even when
      // a VM stall pollutes a timing leg.
      val wr = {
        import org.apache.spark.sql.functions.col
        graft.sources.v2.StagedParquet.ensureCatalog(spark)
        val wrSamples = math.min(3, nextSamples())
        // the warm run makes every timed run a steady-state REPLACE; the
        // record's rows and the bytes are read back from the committed table
        def writeLeg(d: String): (Leg.Record, Long) = {
          val ns = "probe" + java.lang.Integer.toHexString(d.hashCode)
          val tbl = s"graft_staged.$ns.write_probe"
          val rec = Leg.run(spark, wrSamples) {
            graft.core.Tables.lineitem(spark, d)
              .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
              .writeTo(tbl).createOrReplace()
            -1L
          }
          var rows = -1L; var bytes = -1L
          if (rec.seconds >= 0) {
            val dir = graft.sources.v2.StagedParquet.tableDir(spark, tbl)
            val p = new org.apache.hadoop.fs.Path(dir)
            val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
            if (hfs.exists(p)) {
              bytes = 0L
              val it = hfs.listFiles(p, true)
              while (it.hasNext) {
                val f = it.next() // data files only; _schema/_SUCCESS are O(1)
                if (!f.getPath.getName.startsWith("_")) bytes += f.getLen
              }
              rows = spark.read.parquet(dir).count()
              Leg.clearState(spark)
            }
          }
          (rec.copy(rows = rows), bytes)
        }
        val (base, bb) = writeLeg(sfDir)
        val (scaled, sb) = writeLeg(scaleDir)
        probeRow("v2_staged_write", base, scaled,
          s""","work_metric":"bytes_written","work_base":$bb,"work_scaled":$sb,"work_ratio":${ratio(sb.toDouble, bb.toDouble)}""")
      }
      // relational/ETL anchors: a second scale point for the heavy core so
      // super-linear regressions surface before a real cluster would.
      // etl_days_prune is the fourteenth probe (r9 VERDICT #8): its work
      // metric counts the V2 splits the pruned read actually OPENS —
      // expected 6 at both scales (7 day dirs survive dir pruning, the ts
      // zone map cuts the boundary day-16 file; pruned scan cost constant
      // in volume, linear in the date range), ~30 if pruning regresses.
      // etl_delete_vectors / etl_change_feed carry the two newest
      // scale-INVARIANT work counts: a sparse MOR delete rewrites 0 files
      // and an untouched feed range reads 0 files at ANY scale (both
      // probes report count+1, so work_ratio pins at exactly 1.0)
      // stream_table_upsert_eq is the fifteenth probe (r12 VERDICT #3):
      // its work metric pins the eq epoch's destination writes at ZERO
      // (files touched + DVs written, +1 → ratio 1.0 at any scale) while
      // the second counter attributes wall growth to the wave's own keys
      // etl_wap_publish is the sixteenth probe (r13): its work metric
      // pins PUBLISHED-BYTES-COPIED at zero (|dst-growth − audit-bytes|
      // + 1 → ratio 1.0 at any scale — a publish is pure renames) while
      // the second counter carries the audit volume the staging write pays
      val anchors = Seq("q1_agg", "q3_topk", "q18_running_total", "asof_join",
        "etl_cdc_apply", "etl_profile", "etl_days_prune", "etl_days_dpp",
        "etl_minmax_skip", "etl_delete_vectors", "etl_change_feed",
        "etl_partition_evolve", "stream_table_upsert_eq",
        "etl_wap_publish").map(probeOf)
      val all = (Seq(ann, mh, ds, ld, gr, nd, wr) ++ anchors).mkString(",")
      s""","scale_probe":$ann,"scale_probes":[$all]"""
      } finally graft.core.ArtifactCache.bypass = false
    }

    // sf1 anchor: the heaviest queries timed on the FULL 10x corpus (at the
    // driver's sf0.1 this is a genuine sf1 star schema + corpus on disk —
    // every table replicated id-disjoint, see ScaleCorpus). Unlike the
    // probes this runs with the ArtifactCache ON: it measures the SUITE
    // semantics (amortized index builds) at a second real scale point, the
    // "2x of baseline" bar's missing anchor (VERDICT r6 next-round #3).
    val sf1Json = if (!runProbe) "" else {
      val timedBuf = scala.collection.mutable.ArrayBuffer.empty[(String, Leg.Record)]
      def sf1Fragment(): String = {
        val (tot, legs) = legsJson(timedBuf.toSeq)
        s""","sf1":{"dir":"$scaleDir","factor":10,"total_sec":$tot,$legs}"""
      }
      for (q <- Sf1Heavies) {
        ensureAlive()
        // best-of-3 cap, like the probes: the sf1 anchor's job is the
        // second scale point, not noise-immunity — two fewer samples of
        // 35 10x heavies buy back several hundred wall seconds for the
        // arbiter's budget (r12 VERDICT #1)
        timedBuf += q -> leg(q, scaleDir, math.min(3, nextSamples()))
        flushPartial(probeJson + sf1Fragment())
        // the sf1 lifecycle queries stage GENUINE 10× V2 tables (plus their
        // retained versions) per run — without per-query cleanup the tree
        // grows monotonically through the 34-query section and the r11
        // driver run died to heap/tmp pressure exactly here
        cleanStaging(scaleDir)
      }
      sf1Fragment()
    }

    // per-query legs LAST (see section-order note above): every flush below
    // carries the already-complete probe and sf1 fragments, so a kill at any
    // leg leaves an artifact whose only gap is the untimed leg suffix
    for (name <- selected) {
      ensureAlive()
      resultsBuf += name -> leg(name, sfDir, nextSamples())
      flushPartial(probeJson + sf1Json)
      cleanStaging(sfDir)
    }
    val results = resultsBuf.sortBy(_._1).toSeq
    val (total, legs) = legsJson(results)
    val nFailed = results.count(_._2.seconds < 0)

    val json = s"""{"metric":"total","value":$total,"unit":"sec","failed":$nFailed,$legs$probeJson$sf1Json$budgetJson,"sf":"$sfDir"}"""
    // The driver keeps only the last few KB of sbt stdout and parses the
    // JSON line out of that tail. With ~200 queries the full line is >6 KB,
    // so for five rounds the driver recorded "parsed": null (r5 VERDICT's
    // standing bench-handoff failure). stdout therefore gets a COMPACT line
    // — same shape, but "queries" limited to a fixed headline subset and
    // probes collapsed to their ratios — while the FULL line goes to the
    // out-file below ("value"/"failed" still cover every query in both).
    val headline = Set(
      "q1_agg", "q2_join_filter", "q3_topk", "q4_window", "q6_broadcast_join",
      "q18_running_total", "asof_join", "range_join", "skew_salted_join",
      "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "ann_bruteforce",
      "ann_ivf", "text_tokens", "text_quality", "text_langid", "sample_dsir",
      "stream_window_agg", "etl_cdc_apply", "etl_profile",
      "graph_pagerank_raw", "mm_phash_dedup")
    val qsHead = obj(results.collect { case (k, r) if headline(k) => k -> fmt(r.seconds) })
    val ratioRe = """"query":"([a-z0-9_]+)".*?"ratio":(-?[0-9.]+)""".r
    val probeHead =
      if (probeJson.isEmpty) ""
      else ratioRe.findAllMatchIn(probeJson)
        .map(m => s"\"${m.group(1)}\":${m.group(2)}").toSeq.distinct
        .mkString(""","scale_probe_ratios":{""", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$nFailed,"queries":$qsHead$probeHead,"queries_full":"BENCH_OUT.json","sf":"$sfDir"}""")
    // stdout scraping is defeated by sbt's trailing "[success] ..." lines, so
    // the metric also lands in the artifact file (see outPath above) — the
    // final publish replaces the last partial flush with the complete line
    publish(outPath, json)
    spark.stop()
  }
}
