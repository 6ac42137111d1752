package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** The profiled run loop. Every timed run in graft goes through [[run]]
  * (`graft.Bench`'s legs, probes, sf1 heavies and write probe, and this
  * object's CLI), and every job count a spec asserts goes through
  * [[observe]]. Both read the one job listener only after the listener bus
  * has drained, so no caller sleeps or polls for event delivery.
  *
  * A leg's [[Record]] says where its wall time went: Spark jobs (the union
  * of their intervals, so AQE's concurrent stage jobs count once), the
  * driver gap around them (fixture checks, commits, stream start/stop,
  * planning), completed stages and tasks, shuffle and spill bytes, and the
  * generated classes compiled meanwhile. Stages belong to the job whose
  * `SparkListenerJobStart.stageIds` first listed them.
  *
  * Usage: runMain graft.tools.Leg <outDir> <query>[,<query>...|all]
  *   writes `<outDir>/<query>.json` (the best sample's record plus one row
  *   per job) and `<outDir>/<query>.plan.txt` (the formatted plan of the
  *   frame the query returns). The data dir comes from SPARK_GRAFT_SF_DIR
  *   (required) and the sample count from SPARK_GRAFT_BENCH_BEST, as in
  *   `graft.Bench`.
  */
object Leg {

  /** One Spark job of a sample, with the stages that completed under it. */
  final case class Job(id: Int, startMs: Long, endMs: Long = -1L,
                       stages: Int = 0, tasks: Int = 0,
                       shuffleRead: Long = 0L, shuffleWrite: Long = 0L,
                       spill: Long = 0L, desc: String = "") {
    def wallMs: Long = math.max(0L, endMs - startMs)
    def json: String = obj(Seq("id" -> id, "wall_sec" -> fmt(wallMs / 1e3),
      "stages" -> stages, "tasks" -> tasks, "shuffle_read_bytes" -> shuffleRead,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill, "desc" -> q(desc)))
  }

  /** One sample: wall seconds and the body's result (both -1 when it
    * failed, with `error` naming the cause), the jobs it ran, and the
    * generated classes Janino compiled while it ran (`codegenCompiles`, a
    * cache miss of Spark's generated-code cache each). The compile count
    * is read from this JVM's `CodegenMetrics`: it covers the driver and,
    * in local mode, the tasks, but under `local-cluster` or a real cluster
    * it misses the executors' compiles, and it also counts compiles of
    * any other work this JVM ran meanwhile.
    */
  final case class Record(seconds: Double, rows: Long, jobs: Seq[Job],
                          codegenCompiles: Long = 0L, error: Option[String] = None) {
    def stages: Int = jobs.map(_.stages).sum
    def tasks: Int = jobs.map(_.tasks).sum
    def shuffleRead: Long = jobs.map(_.shuffleRead).sum
    def shuffleWrite: Long = jobs.map(_.shuffleWrite).sum
    /** Bytes spilled, in memory and on disk, by the completed stages. */
    def spill: Long = jobs.map(_.spill).sum

    /** Seconds during which at least one job ran. */
    def jobWallS: Double = {
      var (total, from, to) = (0L, -1L, -1L)
      for (j <- jobs.filter(_.endMs >= 0).sortBy(_.startMs)) {
        if (j.startMs > to) { total += to - from; from = j.startMs }
        to = math.max(to, j.endMs)
      }
      (total + to - from) / 1e3
    }
    def driverGapS: Double = if (seconds < 0) -1.0 else seconds - jobWallS

    def fields: Seq[(String, Any)] = Seq("sec" -> fmt(seconds), "rows" -> rows,
      "jobs" -> jobs.size, "job_wall_sec" -> fmt(jobWallS),
      "driver_gap_sec" -> fmt(driverGapS), "stages" -> stages, "tasks" -> tasks,
      "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
      "spill_bytes" -> spill, "codegen_compiles" -> codegenCompiles) ++
      error.map(e => "error" -> q(e))
    def json: String = obj(fields)
  }

  /** The one job listener. A stage that completes under no job it saw start
    * (one started before it was attached) is dropped.
    */
  private final class Listener extends SparkListener {
    private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
    private val owner = scala.collection.mutable.Map.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, e.time, desc = desc)
      e.stageIds.foreach(s => if (!owner.contains(s)) owner(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      val m = Option(info.taskMetrics)
      for (id <- owner.get(info.stageId); j <- jobs.get(id))
        jobs(id) = j.copy(stages = j.stages + 1, tasks = j.tasks + info.numTasks,
          shuffleRead = j.shuffleRead + m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
          shuffleWrite = j.shuffleWrite + m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          spill = j.spill + m.fold(0L)(t => t.memoryBytesSpilled + t.diskBytesSpilled))
    }
    def seen: Seq[Job] = synchronized(jobs.values.toSeq)
  }

  /** `f`'s result and the jobs started while it ran, read once every event
    * `f` posted has been delivered.
    */
  def observe[A](spark: SparkSession)(f: => A): (A, Seq[Job]) = {
    Bridge.drainListeners(spark) // earlier work's events reach no listener of ours
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    try {
      val out = f
      Bridge.drainListeners(spark)
      (out, l.seen)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Drop cached tables and persisted blocks (the dedup family's
    * localCheckpoint RDDs), so every run starts from the same executor
    * state instead of paying earlier runs' GC bill.
    */
  private[graft] def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One untimed warm run (JIT, codegen, file index), then `samples` timed
    * runs with `clearState` after each. Returns the fastest sample's
    * record, or the first failed one: a failure poisons the leg, so a
    * stale row count never shows next to -1 seconds.
    */
  def run(spark: SparkSession, samples: Int)(body: => Long): Record = {
    try body catch { case _: Throwable => () }
    clearState(spark)
    val recs = (1 to samples).map(_ => sample(spark, body))
    recs.find(_.error.isDefined).getOrElse(recs.minBy(_.seconds))
  }

  private def sample(spark: SparkSession, body: => Long): Record = {
    var secs = -1.0
    val rec =
      try {
        val compiled = compiles
        val (rows, jobs) = observe(spark) {
          val t0 = System.nanoTime()
          try body finally secs = (System.nanoTime() - t0) / 1e9
        }
        Record(secs, rows, jobs, compiles - compiled)
      } catch { case e: Throwable => Record(-1.0, -1L, Nil, error = Some(cause(e))) }
    clearState(spark)
    rec
  }

  /** Generated classes this JVM has compiled so far. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The exception's class and the first line of its message. */
  private def cause(e: Throwable): String =
    e.getClass.getName + Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .fold("")(": " + _)

  /** 4-dp seconds: nanosecond noise doubles an artifact's size for no
    * information.
    */
  private[graft] def fmt(v: Double): Double = math.round(v * 10000.0) / 10000.0

  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped. A tab or CR in a query's oracle SQL or in an exception message
    * would otherwise make a reader's json.load fail.
    */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{"k":v,...}` over already-rendered JSON values. */
  private[graft] def obj(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("graft.tools.Leg: set SPARK_GRAFT_SF_DIR to the data dir"))
    val names =
      if (args(1) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Files.createDirectories(outDir)
    val spark = graft.core.GraftSession.local("graft-leg")
    def write(name: String, text: String): Unit =
      Files.write(outDir.resolve(name), text.getBytes(StandardCharsets.UTF_8)): Unit
    for (n <- names) {
      var df: Option[DataFrame] = None
      val rec = run(spark, graft.Bench.bestOf) {
        df = Some(graft.SparkEntry.queries(n)(spark, sfDir))
        df.get.count()
      }
      write(s"$n.json", obj(Seq("query" -> q(n), "sf" -> q(sfDir),
        "samples" -> graft.Bench.bestOf) ++ rec.fields ++
        Seq("job_rows" -> rec.jobs.map(_.json).mkString("[", ",", "]"))) + "\n")
      // side-effecting lifecycle queries ran their mutations while building
      // the frame, exactly as in a bench leg; the plan is the frame's
      val plan =
        try df.fold(s"no plan: ${rec.error.getOrElse("")}")(_.queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        catch { case e: Throwable => s"EXPLAIN FAILED: ${cause(e)}" }
      write(s"$n.plan.txt", plan)
      println(s"[leg] $n ${rec.json} -> ${outDir.resolve(n)}.{json,plan.txt}")
    }
    spark.stop()
  }
}
