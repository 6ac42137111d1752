package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Session defaults from `graft.core.GraftSession.builder`, which the test
  * session is built from too.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The iterative queries one round of the iterative benchmark runs. */
  private val Iterative = Seq("graph_cc_raw", "graph_pagerank_raw", "ann_graph_search",
    "ann_sq8", "dedup_minhash_lsh", "dedup_embedding")

  /** Generated classes compiled while the six queries ran once each. */
  private def pass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (q <- Iterative) {
      SparkEntry.queries(q)(spark, TestSpark.sf).count()
      graft.tools.Leg.clearState(spark)
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("the generated-code cache holds a round of the iterative queries") {
    val first = pass()
    val second = pass()
    info(s"compiles: first pass $first, second pass $second")
    // a cache smaller than the round's working set misses on nearly every
    // access, so the second pass recompiles about as much as the first
    assert(second * 10 < first, s"first pass compiled $first classes, second $second")
  }
}
