package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Iterate

class IterateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def values(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  // one decrement towards 0 per round: range(5) is all zero after round 4
  private def floorStep(df: DataFrame, i: Int, seen: Option[Row]): DataFrame =
    df.select(greatest(col("s") - 1, lit(0L)).as("s"))

  test("a stop test that never fires adds no Spark job") {
    val base = spark.range(1000).toDF("s").localCheckpoint()
    val step = (df: DataFrame, _: Int, _: Option[Row]) =>
      df.groupBy((col("s") % 100).as("k")).agg(sum(col("s")).as("s")).select("s")
    val (plain, plainJobs) = TestSpark.jobsDuring(Iterate(base, 3)(step))
    val (observed, observedJobs) = TestSpark.jobsDuring(
      Iterate(base, 3, Seq(count(lit(1)), sum(col("s"))))(step))
    assert(!observed.fixpoint && observed.states.length == 4)
    assert(plainJobs > 0 && observedJobs == plainJobs,
      s"observed rounds ran $observedJobs jobs, plain rounds $plainJobs")
    assert(values(observed.last) == values(plain.last))
  }

  test("stops at a planted fixpoint and reports it") {
    val seen = Seq.newBuilder[Option[Row]]
    val r = Iterate(spark.range(5).toDF("s"), 10, Seq(sum(col("s")))) { (df, i, prev) =>
      seen += prev
      floorStep(df, i, prev)
    }
    // sums 6, 3, 1, 0, 0: round 5 repeats round 4 and the loop stops there
    assert(r.fixpoint && r.states.length == 6)
    assert(values(r.last) == Seq.fill(5)(0L))
    assert(seen.result().map(_.map(_.getLong(0))) ==
      Seq(None, Some(6L), Some(3L), Some(1L), Some(0L)))
  }

  test("respects the round bound and reports no fixpoint") {
    val r = Iterate(spark.range(5).toDF("s"), 3, Seq(sum(col("s"))))(floorStep)
    assert(!r.fixpoint && r.states.length == 4)
    assert(values(r.last) == Seq(0L, 0L, 0L, 0L, 1L))
  }
}
