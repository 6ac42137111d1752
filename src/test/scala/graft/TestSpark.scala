package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Reads `probe` until asynchronous listener delivery has settled: the
    * same value on three polls 150 ms apart.
    */
  def settled(probe: => Int): Int = {
    var last = -1
    var stable = 0
    while (stable < 2) {
      Thread.sleep(150)
      val now = probe
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
    last
  }

  /** `f`'s result and the number of Spark jobs started while it ran. */
  def jobsDuring[A](f: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    settled(0) // let earlier work's job events drain first
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      (out, settled(jobs.get()))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
