package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one operation returned: its check key (operations with the same key
  * must return the same result), the rows it delivered, and whether its own
  * inline check passed.
  */
final case class OpResult(key: String, rows: Long, ok: Boolean, note: String = "")

/** A result to compare against DuckDB after the timed phase: the rows the
  * timed operations returned (written as parquet), and the DuckDB SQL over
  * the generator's inputs that must give the same rows.
  */
final case class Check(key: String, resultDir: Path, oracleSql: String)

/** One benchmark workload. `setup` builds the fixtures and runs the warm-up
  * operations; `op(i)` is the i-th operation of the seeded sequence.
  */
trait Workload {
  var trace: Option[Trace]
  def setup(): Unit
  def op(i: Int): OpResult
  /** Operations in one repeat of the workload's mix of operation kinds. A
    * timed phase runs whole cycles, so every run holds the same mix and its
    * median and p90 do not shift with how many operations fit.
    */
  def opsPerCycle: Int = 1
  /** Extra traced-only measurements after operation `i`, outside its latency. */
  def sideMeasure(i: Int): Unit = ()
  /** End-of-phase end-to-end figures that are not latencies. */
  def spaceAmp(): Double
  /** Per-layer figures the workload measures itself, per operation. */
  def layerMetrics(ops: Int): Map[String, Double] = Map.empty
  /** Model checks made in the harness; returns the failure messages. */
  def verify(): Seq[String] = Nil
  /** Results to compare against DuckDB, and the parquet files the oracles
    * read, by view name.
    */
  def checks(outDir: Path): (Seq[Check], Seq[(String, String)]) = (Nil, Nil)
}

/** Shared plumbing: the session and the optional trace. */
abstract class BaseWorkload(val spark: SparkSession, val root: Path, val seed: Long)
    extends Workload {

  /** Set while a traced phase runs. */
  var trace: Option[Trace] = None

  protected def span[T](name: String, counts: => Map[String, Double] = Map.empty)(body: => T): T =
    trace match {
      case Some(t) => t.span(name, counts)(body)
      case None    => body
    }
}

/** Walks of a local directory tree. */
object FileTree {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def filesUnder(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
