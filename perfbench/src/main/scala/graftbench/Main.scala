package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.sources.v2.StagedParquet

/** Benchmark harness: one workload, one seed, one process.
  *
  * {{{
  * graftbench.Main --workload <etl_load|llm_iterative> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <result.json> [--spans <file>]
  *   [--corpus <dir>]
  * }}}
  *
  * Setup is the session start, input generation, fixture tables and one
  * warm-up operation of each type; it runs once, in a cold JVM, as every
  * user of the library pays it. `space_amp` is measured right after setup,
  * after a fixed number of operations, so it does not depend on how many
  * operations the timed phase holds. The timed phase is a
  * closed loop of one client: the next operation starts when the previous
  * one returns. With `--trace 1` the phase is split in two halves, the first
  * traced and the second untraced, so the tracing overhead is measured in
  * the same run. A phase ends with the cycle of operations (one of each
  * kind, see `Workload.opsPerCycle`) in flight at `--seconds`.
  * The harness writes raw figures to `--out`;
  * `run.py` turns them into metrics and runs the DuckDB compare.
  */
object Main {

  private val Workloads = Set("etl_load", "llm_iterative")

  final case class Phase(traced: Boolean, latMs: Seq[Double], keys: Seq[String],
                         ok: Seq[Boolean], rows: Long, elapsedS: Double, notes: Seq[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    require(Workloads(workload), s"unknown workload $workload")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.core.GraftSession.local("graft-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    StagedParquet.ensureCatalog(spark, work.resolve("staged").toString)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val t0 = System.nanoTime()
    val root = Files.createDirectories(work.resolve("inputs"))
    val wl: Workload =
      if (workload == "etl_load") new EtlLoad(spark, root, seed, "bench")
      else new LlmIterative(spark, Paths.get(opt("corpus")), seed)
    wl.setup()
    val setupS = (System.nanoTime() - t0) / 1e9 + sessionS
    val spaceAmp = wl.spaceAmp()

    val phases = mutable.Buffer.empty[Phase]
    var next = 0
    def phase(secs: Double, withTrace: Option[Trace]): Phase = {
      withTrace.foreach(_.attach())
      wl.trace = withTrace
      val lat = mutable.Buffer.empty[Double]
      val keys, notes = mutable.Buffer.empty[String]
      val ok = mutable.Buffer.empty[Boolean]
      var rows = 0L
      var sideNs = 0L
      val t0 = System.nanoTime()
      val deadline = t0 + (secs * 1e9).toLong
      val first = next
      // whole cycles only; the traced side measurements do not count
      // against the phase's time
      while (System.nanoTime() - sideNs < deadline || (next - first) % wl.opsPerCycle != 0) {
        withTrace.foreach(_.beginOp())
        val s = System.nanoTime()
        val r = try withTrace.fold(wl.op(next))(_.span("op")(wl.op(next))) catch {
          case e: Throwable => OpResult(s"error:${e.getClass.getSimpleName}", 0, ok = false, e.toString)
        }
        val e = System.nanoTime()
        withTrace.foreach(_.endOp())
        lat += (e - s) / 1e6
        keys += r.key
        ok += r.ok
        if (!r.ok) notes += s"op $next (${r.key}): ${r.note}"
        rows += r.rows
        if (withTrace.nonEmpty) {
          val s2 = System.nanoTime()
          wl.sideMeasure(next)
          sideNs += System.nanoTime() - s2
        }
        next += 1
      }
      val elapsed = (System.nanoTime() - t0 - sideNs) / 1e9
      withTrace.foreach { t => t.drain(); t.detach() }
      wl.trace = None
      val p = Phase(withTrace.nonEmpty, lat.toSeq, keys.toSeq, ok.toSeq, rows, elapsed, notes.toSeq)
      phases += p
      p
    }

    val artifacts = Paths.get(sys.props("java.io.tmpdir"), "graft_artifacts")
    def artifactEntries: Int = Option(artifacts.toFile.listFiles)
      .map(_.count(f => f.isDirectory && !f.getName.contains(".tmp."))).getOrElse(0)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (!traced) phase(seconds, None)
    else {
      // traced half first: it then always holds etl_load's first delete and
      // compact
      val before = artifactEntries
      val t = new Trace(spark)
      val tp = phase(seconds / 2, Some(t))
      layers("core.artifact_builds") = (artifactEntries - before).toDouble
      val plain = phase(seconds / 2, None)
      layers ++= traceLayers(t, tp)
      layers ++= wl.layerMetrics(tp.latMs.length)
      layers("streaming.overhead_ms") =
        layers.getOrElse("streaming.epoch_ms", 0.0) - layers.getOrElse("streaming.trigger_ms", 0.0)
      layers("trace.overhead_frac") = traceOverhead(tp, plain)
      opt.get("spans").foreach { f =>
        Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
        Files.write(Paths.get(f), (t.spansJson + "\n").getBytes(StandardCharsets.UTF_8))
      }
    }

    val heapMb = liveHeapMb(spark)
    val verifyErrors = wl.verify()
    val (checks, views) = wl.checks(work.resolve("results"))
    spark.stop()

    val out = new StringBuilder
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def arr[T](xs: Seq[T])(f: T => String) = xs.map(f).mkString("[", ", ", "]")
    out ++= "{"
    out ++= s""""setup_s": $setupS, """
    out ++= s""""phases": ${arr(phases.toSeq)(p =>
      s"""{"traced": ${p.traced}, "lat_ms": ${arr(p.latMs)(_.toString)}, """ +
        s""""keys": ${arr(p.keys)(js)}, "ok": ${arr(p.ok)(_.toString)}, "rows": ${p.rows}, """ +
        s""""elapsed_s": ${p.elapsedS}, "notes": ${arr(p.notes)(js)}}""")}, """
    out ++= s""""live_heap_mb": $heapMb, "space_amp": $spaceAmp, """
    out ++= s""""layers": {${layers.map { case (k, v) => s"${js(k)}: $v" }.mkString(", ")}}, """
    out ++= s""""verify_errors": ${arr(verifyErrors)(js)}, """
    out ++= s""""checks": ${arr(checks)(c =>
      s"""{"key": ${js(c.key)}, "result": ${js(c.resultDir.toString)}, "oracle": ${js(c.oracleSql)}}""")}, """
    out ++= s""""views": ${arr(views)(v => s"[${js(v._1)}, ${js(v._2)}]")}"""
    out ++= "}\n"
    Files.write(Paths.get(opt("out")), out.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Heap in use after full collections, in MB. The pauses between them let
    * Spark's context cleaner drop the blocks of unreachable RDDs (the
    * iterative queries' local checkpoints), which the next collection frees.
    */
  private def liveHeapMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    (0 until 4).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** 1 - traced `ops_per_s` / untraced `ops_per_s`, compared per kind of
    * operation (its check key), so that a costlier kind in one half does
    * not read as tracing overhead.
    */
  private def traceOverhead(traced: Phase, plain: Phase): Double = {
    def means(p: Phase) = p.keys.zip(p.latMs).groupMap(_._1)(_._2).map { case (k, v) => k -> v.sum / v.length }
    val (t, u) = (means(traced), means(plain))
    val both = traced.keys.filter(u.contains)
    if (both.isEmpty) 1.0 - (traced.latMs.length / traced.elapsedS) / (plain.latMs.length / plain.elapsedS)
    else 1.0 - both.map(u).sum / both.map(t).sum
  }

  /** Per-operation means of the span times and Spark counts of a traced phase. */
  private def traceLayers(t: Trace, p: Phase): Seq[(String, Double)] = {
    val n = math.max(1, p.latMs.length).toDouble
    def spanMs(name: String) =
      t.spans.filter(_.name == name).map(s => (s.endMs - s.startMs).toDouble).sum / n
    val cs = (0 until p.latMs.length).map(op => t.counts.getOrElse(op, new t.OpCounts))
    def per(f: t.OpCounts => Double) = cs.map(f).sum / n
    val busy = cs.map(c => t.busyMs(c).toDouble)
    val wall = t.opWindows.map { case (s, e) => (e - s).toDouble }
    Seq(
      "sources.csv_read_ms" -> spanMs("sources.CleanCsv.read"),
      "sources.csv_rows" -> t.spans.filter(_.name == "sources.CleanCsv.read")
        .map(_.counts.getOrElse("rows", 0.0)).sum / n,
      "streaming.epoch_ms" -> spanMs("streaming.epoch"),
      "sources.v2.stage_write_ms" -> spanMs("sources.v2.stage_write"),
      "sources.v2.delete_ms" -> spanMs("sources.v2.delete"),
      "sources.v2.compact_ms" -> spanMs("sources.v2.compact"),
      "spark.plan.analysis_ms" -> per(_.analysisMs.toDouble),
      "spark.plan.optimization_ms" -> per(_.optimizationMs.toDouble),
      "spark.plan.planning_ms" -> per(_.planningMs.toDouble),
      "spark.jobs.count" -> per(_.jobs.length.toDouble),
      "spark.jobs.busy_ms" -> busy.sum / n,
      "spark.driver.gap_ms" -> wall.zip(busy).map { case (w, b) => w - b }.sum / n,
      "spark.stages.count" -> per(_.stages.toDouble),
      "spark.tasks.count" -> per(_.tasks.toDouble),
      "spark.tasks.cpu_ms" -> per(_.cpuNs / 1e6),
      "spark.tasks.gc_ms" -> per(_.gcMs.toDouble),
      "spark.shuffle.read_bytes" -> per(_.shuffleRead.toDouble),
      "spark.shuffle.write_bytes" -> per(_.shuffleWrite.toDouble),
      "spark.spill.bytes" -> per(_.spill.toDouble),
      "spark.input.rows" -> per(_.inputRows.toDouble),
      "spark.input.bytes" -> per(_.inputBytes.toDouble),
      "spark.output.bytes" -> per(_.outputBytes.toDouble))
  }
}
