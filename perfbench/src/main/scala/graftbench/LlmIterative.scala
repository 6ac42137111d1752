package graftbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `llm_iterative`: graft's iterative graph, ANN and dedup queries. One
  * operation is a round of the six: a `SparkEntry.queries(name)` call plus
  * its collect for each name, in an order the seed shuffles per round. The
  * queries cost from a fifth of a second to several seconds, so a median
  * over single calls would jump between query classes with the sample's
  * make-up; a round is the unit that repeats. Each result takes tens of
  * Spark jobs; the `ArtifactCache` is on, rooted in the run's own temp dir.
  * `data` is the seeded corpus `corpus.py` wrote.
  */
final class LlmIterative(spark: SparkSession, data: Path, seed: Long)
    extends BaseWorkload(spark, data, seed) {

  val Names = Vector("graph_cc_raw", "graph_pagerank_raw", "ann_graph_search", "ann_sq8",
    "dedup_minhash_lsh", "dedup_embedding")

  private def cacheDir: Path =
    Paths.get(sys.props("java.io.tmpdir"), "graft_artifacts")

  def setup(): Unit = {
    val w = op(-1) // warm-up: each name once, which also fills the cache
    require(w.ok, s"llm_iterative warm-up failed: ${w.note}")
  }

  /** First result per query: (fingerprint, rows, schema). Later calls of the
    * same query must return the same rows; the first is compared to DuckDB.
    */
  private val firstResult = mutable.LinkedHashMap.empty[String, (Long, Array[Row], StructType)]

  /** Record `rows` under `name`; false when the name already returned
    * something else (compared by an order-independent fingerprint).
    */
  private def consistent(name: String, rows: Array[Row], schema: StructType): Boolean = {
    val fp = rows.foldLeft(0L)((acc, r) => acc + MurmurHash3.stringHash(r.toString).toLong)
    firstResult.get(name) match {
      case Some((seen, _, _)) => seen == fp
      case None => firstResult(name) = (fp, rows, schema); true
    }
  }

  private val buildMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val actionMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val calls = mutable.Map.empty[String, Int].withDefaultValue(0)

  /** One query call; returns the rows delivered and whether they match the
    * query's earlier results.
    */
  private def call(name: String): (Int, Boolean) = {
    val t0 = System.nanoTime()
    val df = span("queries.build") { SparkEntry.queries(name)(spark, data.toString) }
    val t1 = System.nanoTime()
    val rows = span("queries.action") { df.collect() }
    val t2 = System.nanoTime()
    if (trace.nonEmpty) {
      buildMs(name) += (t1 - t0) / 1e6
      actionMs(name) += (t2 - t1) / 1e6
      calls(name) += 1
    }
    (rows.length, consistent(name, rows, df.schema))
  }

  /** Round `i`: every name once, in an order shuffled by the seed. The key
    * lists the names, so a DuckDB mismatch of any of them fails the round;
    * it leaves out the order, so every round is one kind of operation.
    */
  def op(i: Int): OpResult = {
    val order = new scala.util.Random(Gen.rng(seed + i, "llm_order").nextLong()).shuffle(Names)
    val results = order.map(n => n -> call(n))
    val bad = results.collect { case (n, (_, false)) => n }
    OpResult(Names.mkString(","), results.map(_._2._1.toLong).sum, bad.isEmpty,
      if (bad.isEmpty) "" else s"results changed between calls: ${bad.mkString(", ")}")
  }

  override def layerMetrics(ops: Int): Map[String, Double] = {
    val n = math.max(1, calls.values.sum)
    Map("queries.build_ms" -> buildMs.values.sum / n, "queries.action_ms" -> actionMs.values.sum / n) ++
      Names.flatMap { q =>
        val c = math.max(1, calls(q))
        Seq(s"queries.build_ms.$q" -> buildMs(q) / c, s"queries.action_ms.$q" -> actionMs(q) / c)
      }
  }

  /** Bytes on disk the run holds (corpus plus artifact cache) over the
    * corpus bytes.
    */
  def spaceAmp(): Double =
    (FileTree.bytesUnder(data) + FileTree.bytesUnder(cacheDir)).toDouble / FileTree.bytesUnder(data)

  override def checks(outDir: Path): (Seq[Check], Seq[(String, String)]) = {
    val views = Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region",
      "documents", "embeddings", "events").map(n => n -> s"$data/$n.parquet")
    val checks = firstResult.toSeq.zipWithIndex.map { case ((name, (_, rows, schema)), n) =>
      val dir = outDir.resolve(s"r$n")
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.toString)
      Check(name, dir, SparkEntry.oracleSql(name))
    }
    (checks, views)
  }
}
