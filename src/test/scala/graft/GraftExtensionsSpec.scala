package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** SQL function registration: every function in
  * [[graft.plans.GraftExtensions.functions]] resolves and runs from pure
  * SQL on a session set up by `register` alone.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  // one call per registered name, each yielding one non-null row
  private val calls: Map[String, String] = Map(
    "graft_dot" -> "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))",
    "graft_dot_long" -> "SELECT graft_dot_long(array(1L, 2L), array(3L, 4L))",
    "graft_distinct_bitmap" -> "SELECT graft_distinct_bitmap(id, 100) FROM range(10)",
    "graft_bitmap_build" -> "SELECT graft_bitmap_build(id, 16) FROM range(3)",
    "graft_bitmap_test" ->
      "SELECT graft_bitmap_test(b, 2L) FROM (SELECT graft_bitmap_build(id, 16) AS b FROM range(3))",
    "graft_freq_sketch" ->
      "SELECT graft_freq_sketch(t, 2) FROM VALUES ('a'), ('a'), ('b') AS v(t)",
    "graft_array_sub" -> "SELECT graft_array_sub(array(3.0d), array(1.0d))",
    "graft_array_scale" -> "SELECT graft_array_scale(array(1.0d, 2.0d), 2.0d)",
    "graft_array_quantize_sq8" ->
      "SELECT graft_array_quantize_sq8(array(0.5d, -0.25d), 1.0d)",
    "graft_zorder" -> "SELECT graft_zorder(1L, 2L)")

  test("register resolves every function of the table through spark.sql") {
    val names = graft.plans.GraftExtensions.functions.map(_._1)
    assert(names.toSet == calls.keySet, "every registered function needs a call here")
    // a fresh session with the injected functions removed: only
    // `register` can bring them back
    val s = TestSpark.spark.newSession()
    val registry = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    names.foreach(n => registry.dropFunction(FunctionIdentifier(n)))
    assert(!names.exists(n => s.catalog.functionExists(n)))
    graft.plans.GraftExtensions.register(s)
    for (n <- names) {
      val rows = s.sql(calls(n)).collect()
      assert(rows.length == 1 && !rows.head.isNullAt(0), s"$n: ${rows.toSeq}")
    }
    assert(s.sql(calls("graft_dot")).head().getDouble(0) == 11.0)
    assert(s.sql(calls("graft_zorder")).head().getLong(0) ==
      graft.plans.ZOrder.interleave(1L, 2L))
  }
}
