package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.DotProduct
import graft.queries.Dedup

class DotProductSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native DotProduct is bit-identical to the sequential HOF fold") {
    val rnd = new scala.util.Random(7)
    val vecs = (1 to 200).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextDouble() * 2 - 1),
        Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = vecs.toDF("id", "a", "b")
    val out = df.select(
      DotProduct.dot(col("a"), col("b")).as("native"),
      Dedup.dotSeq(col("a"), col("b")).as("hof"))
    // bit-identical: same IEEE ops in the same order
    assert(out.filter(col("native") =!= col("hof")).isEmpty)
  }

  test("DotProduct participates in whole-stage codegen") {
    // arrays must come pre-materialized (HOFs like transform are
    // CodegenFallback and would break the projection out of codegen —
    // which is exactly why DotProduct exists)
    val path = "/tmp/graft_dot_codegen"
    Seq((Seq(1.0, 2.0), Seq(3.0, 4.0)), (Seq(0.5, 0.5), Seq(2.0, 2.0)))
      .toDF("a", "b").write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val q = df.select(DotProduct.dot(col("a"), col("b")).as("d"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") || plan.contains("WholeStageCodegen"), plan)
    assert(q.orderBy("d").as[Double].collect().toSeq == Seq(2.0, 11.0))
  }

  test("graft_dot is SQL-callable after registry injection") {
    graft.plans.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 11.0)
  }

  test("handles empty and length-mismatched arrays like the HOF zip") {
    val df = Seq(
      (Seq.empty[Double], Seq.empty[Double]),
      (Seq(1.0, 2.0, 3.0), Seq(2.0))).toDF("a", "b")
    val out = df.select(DotProduct.dot(col("a"), col("b"))).as[Double].collect()
    assert(out(0) == 0.0 && out(1) == 2.0)
  }

  // ---- DotProductLong (the SQ8 integer twin; ADVICE r13) -------------------

  test("DotProductLong equals the HOF fold in range, wraps where the ANSI HOF throws") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 200).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextInt(255).toLong - 127),
        Seq.fill(64)(rnd.nextInt(255).toLong - 127))
    } :+ ((0L, Seq(Long.MaxValue, 3L), Seq(2L, 5L))) // 2·MaxValue overflows
    val df = rows.toDF("id", "a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0L), (acc, el) => acc + el)
    val native = graft.plans.DotProductLong.dot(col("a"), col("b"))
    val inRange = df.filter(col("id") =!= 0)
    assert(inRange.select(native.as("native"), hof.as("hof"))
      .filter(col("native") =!= col("hof")).isEmpty)
    // the overflow row: the kernel wraps as Java long arithmetic does ...
    val overflow = df.filter(col("id") === 0)
    assert(overflow.select(native).as[Long].head() == Long.MaxValue * 2L + 15L)
    // ... while the HOF's ANSI arithmetic refuses it
    assert(spark.conf.get("spark.sql.ansi.enabled").toBoolean)
    val err = intercept[Exception](overflow.select(hof).collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("ARITHMETIC_OVERFLOW")), err)
  }

  test("DotProductLong participates in whole-stage codegen") {
    val path = "/tmp/graft_dotlong_codegen"
    Seq((Seq(1L, 2L), Seq(3L, 4L)), (Seq(2L, 2L), Seq(5L, 6L)))
      .toDF("a", "b").write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val q = df.select(graft.plans.DotProductLong.dot(col("a"), col("b")).as("d"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") || plan.contains("WholeStageCodegen"), plan)
    assert(q.orderBy("d").as[Long].collect().toSeq == Seq(11L, 22L))
  }

  test("graft_dot_long is SQL-callable after registry injection") {
    graft.plans.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot_long(array(1L, 2L), array(3L, 4L)) AS d")
      .collect()(0).getLong(0)
    assert(r == 11L)
  }
}
