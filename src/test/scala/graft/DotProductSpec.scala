package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.plans.ArrayKernel.{Dot, DotLong, QuantizeSq8, Scale, Sub}
import graft.queries.Dedup

/** The native array kernels ([[graft.plans.ArrayKernel]]) against their
  * higher-order-function formulations.
  */
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
      Dot(col("a"), col("b")).as("native"),
      Dedup.dotSeq(col("a"), col("b")).as("hof"))
    // bit-identical: same IEEE ops in the same order
    assert(out.filter(col("native") =!= col("hof")).isEmpty)
  }

  test("DotProduct participates in whole-stage codegen") {
    // arrays must come pre-materialized (HOFs like transform are
    // CodegenFallback and would break the projection out of codegen —
    // which is exactly why the kernel exists)
    val path = java.nio.file.Files.createTempDirectory("graft_dot_codegen").resolve("t").toString
    Seq((Seq(1.0, 2.0), Seq(3.0, 4.0)), (Seq(0.5, 0.5), Seq(2.0, 2.0)))
      .toDF("a", "b").write.parquet(path)
    val q = spark.read.parquet(path).select(Dot(col("a"), col("b")).as("d"))
    val plan = q.queryExecution.executedPlan
    assert(plan.collect { case w: WholeStageCodegenExec => w.child.treeString }
      .exists(_.contains("graft_dot(")), plan)
    assert(q.orderBy("d").as[Double].collect().toSeq == Seq(2.0, 11.0))
  }

  test("graft_dot is SQL-callable after registry injection") {
    graft.plans.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 11.0)
  }

  test("dot and sub truncate to the shorter array, where the HOF zip NULL-pads") {
    val df = Seq(
      (Seq.empty[Double], Seq.empty[Double]),
      (Seq(1.0, 2.0, 3.0), Seq(2.0))).toDF("a", "b")
    val out = df.select(Dot(col("a"), col("b"))).as[Double].collect()
    assert(out(0) == 0.0 && out(1) == 2.0)
    val diff = df.select(Sub(col("a"), col("b"))).as[Seq[Double]].collect()
    assert(diff.toSeq == Seq(Seq.empty[Double], Seq(-1.0)))
  }

  // ---- graft_dot_long (the SQ8 integer twin; ADVICE r13) ---------------------

  test("DotProductLong equals the HOF fold in range, wraps where the ANSI HOF throws") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 200).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextInt(255).toLong - 127),
        Seq.fill(64)(rnd.nextInt(255).toLong - 127))
    } :+ ((0L, Seq(Long.MaxValue, 3L), Seq(2L, 5L))) // 2·MaxValue overflows
    val df = rows.toDF("id", "a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0L), (acc, el) => acc + el)
    val native = DotLong(col("a"), col("b"))
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

  test("graft_dot_long is SQL-callable after registry injection") {
    graft.plans.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot_long(array(1L, 2L), array(3L, 4L)) AS d")
      .collect()(0).getLong(0)
    assert(r == 11L)
  }

  // ---- the five kernels, one table ------------------------------------------

  /** 200 seeded rows read back from parquet (pre-materialized arrays, so a
    * fused projection shows in the plan): two 64-dim double vectors, two
    * vectors of SQ8-range long codes, a scale factor and a quantizer range
    * (0 on every tenth row, the quantizer's guard).
    */
  private lazy val rows: DataFrame = {
    val rnd = new scala.util.Random(11)
    def vec = Seq.fill(64)(rnd.nextDouble() * 2 - 1)
    def codes = Seq.fill(64)(rnd.nextInt(255).toLong - 127)
    val path = java.nio.file.Files.createTempDirectory("graft_kernels").resolve("rows").toString
    (1 to 200).map { i =>
      (i, vec, vec, codes, codes, rnd.nextDouble() * 4 - 2,
        if (i % 10 == 0) 0.0 else rnd.nextDouble() + 0.5)
    }.toDF("id", "a", "b", "la", "lb", "f", "mx").write.parquet(path)
    spark.read.parquet(path)
  }

  /** Each kernel as (SQL name, native column, HOF formulation). */
  private val kernels: Seq[(String, Column, Column)] = Seq(
    ("graft_dot", Dot(col("a"), col("b")), Dedup.dotSeq(col("a"), col("b"))),
    ("graft_dot_long", DotLong(col("la"), col("lb")),
      aggregate(zip_with(col("la"), col("lb"), _ * _), lit(0L), _ + _)),
    ("graft_array_sub", Sub(col("a"), col("b")), zip_with(col("a"), col("b"), _ - _)),
    ("graft_array_scale", Scale(col("a"), col("f")), transform(col("a"), _ * col("f"))),
    ("graft_array_quantize_sq8", QuantizeSq8(col("a"), col("mx")),
      transform(col("a"), x => when(col("mx") === 0.0, lit(0L))
        .otherwise(floor(x * 127.0 / col("mx") + 0.5)))))

  /** Doubles as their raw bits: equal means bit-identical, -0.0 included. */
  private def exact(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(exact)
    case o => o
  }

  for ((name, native, hof) <- kernels)
    test(s"$name matches its HOF bit for bit inside WholeStageCodegen") {
      val q = rows.select(col("id"), native.as("k"))
      val plan = q.queryExecution.executedPlan
      assert(plan.collect { case w: WholeStageCodegenExec => w.child.treeString }
        .exists(_.contains(s"$name(")), plan)
      def values(df: DataFrame) = df.orderBy("id").collect().toSeq.map(r => exact(r.get(1)))
      assert(values(q) == values(rows.select(col("id"), hof.as("k"))))
    }

  test("a null element fails the kernel, naming it, interpreted and generated") {
    // without the check both paths read the null slot as 0.0 and return 3.0
    val path = java.nio.file.Files.createTempDirectory("graft_kernel_null").resolve("t").toString
    Seq((Seq(Some(1.0), None, Some(2.0)), Seq(Some(1.0), Some(5.0), Some(1.0))))
      .toDF("a", "b").write.parquet(path)
    val scan = spark.read.parquet(path)
    // read straight from the scan, and as unsafe rows off a shuffle
    for (df <- Seq(scan, scan.repartition(1));
         (name, k) <- Seq("graft_dot" -> Dot(col("a"), col("b")),
                          "graft_array_sub" -> Sub(col("b"), col("a")));
         interpreted <- Seq(false, true)) {
      spark.conf.set("spark.sql.codegen.wholeStage", (!interpreted).toString)
      spark.conf.set("spark.sql.codegen.factoryMode", if (interpreted) "NO_CODEGEN" else "FALLBACK")
      val out = try scala.util.Try(df.select(k).collect().toSeq) finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      assert(out.failed.toOption.exists(e => Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).exists(c => String.valueOf(c.getMessage).contains(s"$name: "))),
        s"$name, interpreted=$interpreted: $out")
    }
  }
}
