package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import graft.tools.Leg
import org.scalatest.funsuite.AnyFunSuite

/** One-shot hand-offs between the two overlapping jobs of the attribution
  * test (tasks run in this JVM under local[4]).
  */
object LegLatches {
  val aRunning, bRunning, aDone = new CountDownLatch(1)
  def hold(l: CountDownLatch): Unit = l.await(60, TimeUnit.SECONDS): Unit
}

/** The profiled run loop (`graft.tools.Leg`): what one leg's record holds
  * for a fixed-shape body, a body that starts no job and a failing body,
  * and that a stage is counted under the job that ran it.
  */
class LegSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a fixed-shape body records its jobs, stages, tasks and shuffle bytes") {
    val r = Leg.run(spark, 2)(spark.range(1000).repartition(4).count())
    assert(r.error.isEmpty && r.rows == 1000L && r.seconds > 0)
    // AQE runs the round-robin exchange, the partial-aggregate exchange and
    // the final aggregate as one job each: 4 + 4 + 1 tasks under local[4]
    assert(r.jobs.map(j => (j.stages, j.tasks)) == Seq((1, 4), (1, 4), (1, 1)), r.jobs)
    assert((r.stages, r.tasks) == (3, 9), r.json)
    assert(r.shuffleRead > 0 && r.shuffleWrite > 0, r.json)
    assert(r.jobWallS > 0 && r.jobWallS <= r.seconds, r.json)
    assert(math.abs(r.driverGapS - (r.seconds - r.jobWallS)) < 1e-9)
  }

  test("a body that starts no job records zeros") {
    val r = Leg.run(spark, 2)(42L)
    assert(r.error.isEmpty && r.rows == 42L && r.seconds >= 0)
    assert(r.jobs.isEmpty && r.stages == 0 && r.tasks == 0)
    assert(r.shuffleRead == 0L && r.shuffleWrite == 0L && r.jobWallS == 0.0)
  }

  test("a failing body records -1 and its cause") {
    var calls = 0
    val r = Leg.run(spark, 3) {
      calls += 1
      if (calls == 3) throw new IllegalStateException("boom \"x\"\nsecond line")
      spark.range(10).count()
    }
    // the second timed sample failed: the leg fails, with no stale rows
    assert(calls == 4 && r.seconds == -1.0 && r.rows == -1L)
    assert(r.error.contains("java.lang.IllegalStateException: boom \"x\""))
    assert(r.json.contains(""""sec":-1.0,"rows":-1,"""), r.json)
    assert(r.json.endsWith(""","error":"java.lang.IllegalStateException: boom \"x\""}"""), r.json)
  }

  test("a stage counts under the job that ran it, not the newest open job") {
    // job A's stage completes while the newer job B is still running
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val sc = spark.sparkContext
    val (_, jobs) = Leg.observe(spark) {
      val a = Future(sc.parallelize(Seq(1), 1).map { x =>
        LegLatches.aRunning.countDown(); LegLatches.hold(LegLatches.bRunning); x
      }.count()).map(n => { LegLatches.aDone.countDown(); n })
      LegLatches.hold(LegLatches.aRunning)
      sc.parallelize(Seq(1, 2), 2).map { x =>
        LegLatches.bRunning.countDown(); LegLatches.hold(LegLatches.aDone); x
      }.count()
      Await.result(a, 60.seconds)
    }
    assert(jobs.map(j => (j.stages, j.tasks)) == Seq((1, 1), (1, 2)), jobs)
  }
}
