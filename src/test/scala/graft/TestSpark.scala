package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One shared local session for all suites (sbt forks one test JVM), built
  * from graft's session defaults (`GraftSession.builder`) plus the
  * test-only geometry, UI and warehouse settings.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** `f`'s result and the number of Spark jobs started while it ran. */
  def jobsDuring[A](f: => A): (A, Int) = {
    val (out, jobs) = graft.tools.Leg.observe(spark)(f)
    (out, jobs.size)
  }

  /** `f`'s result and the (action name, execution) of every query that
    * succeeded while it ran, read once the listener bus has drained.
    */
  def plansDuring[A](f: => A): (A, Seq[(String, QueryExecution)]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Bridge.drainListeners(spark) // earlier work's executions reach no one
    spark.listenerManager.register(listener)
    try {
      val out = f
      Bridge.drainListeners(spark)
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
