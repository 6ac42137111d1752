package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.GeomFunctions
import graft.operators.EtlOps
import graft.sources.CleanCsv
import graft.sources.v2.StagedParquet

/** `etl_load`: the reference pipeline, one dirty CSV batch per operation.
  * The batch is read with `CleanCsv.read`, cleaned with `EtlOps` and
  * `GeomFunctions`, written to a staging table with `createOrReplace`, and
  * drained into a merge-on-read, `bucket(key)` prod table by one
  * AvailableNow `graft.upsert.key` epoch. Every `CompactEvery`-th
  * operation then deletes the stale keys of the batches since the last
  * delete (`DELETE FROM`) and compacts the table. Every operation ends by
  * verifying prod against the generator's model: its row count, one
  * upserted key by lookup (pruned to the key's bucket), and the row count
  * of the version before the operation through `VERSION AS OF`.
  */
final class EtlLoad(spark: SparkSession, root: Path, seed: Long, ns: String)
    extends BaseWorkload(spark, root, seed) {

  val SnapshotRows = 12000 // prod's starting state: keys [0, SnapshotRows)
  val BatchCount = 12
  val BatchRows = 600
  val BatchParts = 3
  val KeySpace = 16000
  val Buckets = 4
  /** Operations `j` (counted from the first warm-up) with
    * `j % CompactEvery == CompactEvery - 1` also delete and compact.
    */
  val CompactEvery = 2
  /** Warm-up operations: the first operations of a cold JVM run slower
    * while the JIT compiles. They take one delete and compact and end on
    * a plain load, so the state after setup holds deletion vectors.
    */
  val WarmUps = 3
  override def opsPerCycle: Int = CompactEvery

  private val stage = s"graft_staged.$ns.stage"
  private val prod = s"graft_staged.$ns.prod"
  private lazy val prodDir = java.nio.file.Paths.get(StagedParquet.tableDir(spark, prod))
  /** The sibling tree that holds prod's retained versions. */
  private lazy val prodMetaDir = java.nio.file.Paths.get(s"${prodDir}__meta")
  private var batches: IndexedSeq[Gen.CsvBatch] = IndexedSeq.empty
  /** The generator's model of prod: key -> batch that last wrote it. */
  private val model = mutable.Map.empty[Int, Int]

  /** The cleaning transform of one parsed batch: EWKT split, QNAN fix,
    * force_2d, POLYGON -> MULTIPOLYGON, 2272 -> 4326 / 3857 reprojection,
    * and US/Eastern localization of the naive sale timestamps.
    */
  def clean(df: DataFrame): DataFrame = {
    import GeomFunctions._
    val split = df
      .withColumn("shape_srid", coalesce(sridOf(col("shape")), lit(2272)))
      .withColumn("shape", wktOf(col("shape")))
    val geom = EtlOps.fixQnan(split, "shape")
      .withColumn("shape", promoteMulti(force2d(col("shape"))))
      .withColumn("shape_4326", reprojectVerts2272(col("shape")))
      .withColumn("shape_3857", reprojectVerts2272Merc(col("shape")))
    EtlOps.localizeTimestamps(geom, Seq("sale_date"), "US/Eastern")
  }

  private def read(b: Gen.CsvBatch): DataFrame =
    CleanCsv.read(spark, b.path.toString, Some(Gen.CsvSchemaJson))

  def setup(): Unit = {
    // the latin-1 batch is the first timed operation's
    batches = Gen.csvBatches(root.resolve("csv"), seed, BatchCount, BatchRows, BatchParts, KeySpace,
      latin1Batch = WarmUps)
    // prod starts from a loaded snapshot, so each batch's updates are a
    // small share of every bucket and the upsert deletes as vectors
    val schema = clean(read(batches(0))).schema
    spark.range(SnapshotRows).select(
        col("id").as("objectid"), format_string("%09d", col("id")).as("parcel_num"),
        lit("SNAPSHOT OWNER").as("owner_name"), (col("id") * 7 % 100000).as("market_value"),
        timestamp_seconds(lit(1420070400L) + col("id") * 3600).as("sale_date"),
        lit("POINT(2690000.00 250000.00)").as("shape"), lit(-1).as("batch_id"),
        lit(2272).as("shape_srid"), lit("POINT(-75.163600 39.952300)").as("shape_4326"),
        lit("POINT(-8367428.1 4859018.3)").as("shape_3857"))
      .select(schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
      .writeTo(prod)
      .tableProperty("delete.mode", "merge-on-read")
      .partitionedBy(bucket(Buckets, col("objectid")))
      .createOrReplace()
    (0 until SnapshotRows).foreach(k => model(k) = -1)
    for (i <- -WarmUps until 0) {
      val w = op(i)
      require(w.ok, s"etl_load warm-up failed: ${w.note}")
    }
  }

  // per-layer accumulators (traced runs)
  private var lastParsed: Option[DataFrame] = None
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var listed = Set.empty[String]

  /** Operation `i` loads batch `i + WarmUps` of the pool; the warm-up
    * operations, numbered below 0, load the first batches.
    */
  def op(i: Int): OpResult = {
    val j = i + WarmUps
    val bi = j % batches.length
    val b = batches(bi)
    val compacts = j % CompactEvery == CompactEvery - 1
    val before = model.size
    val v0 = span("check.history") {
      spark.sql(s"SELECT max(version) FROM $prod.history").head().getLong(0)
    }
    val parsed = span("sources.CleanCsv.read", Map("rows" -> b.rows.toDouble)) { read(b) }
    lastParsed = Some(parsed)
    span("sources.v2.stage_write") { clean(parsed).writeTo(stage).createOrReplace() }
    val ckpt = Files.createTempDirectory(root, "ckpt")
    try {
      val q = span("streaming.epoch") {
        val w = spark.readStream.table(stage).writeStream
          .option("checkpointLocation", ckpt.toString)
          .option("graft.upsert.key", "objectid")
          .trigger(Trigger.AvailableNow())
          .toTable(prod)
        w.awaitTermination()
        w
      }
      if (trace.nonEmpty) q.recentProgress.foreach { p =>
        acc("streaming.trigger_ms") += p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
        acc("streaming.add_batch_ms") += p.durationMs.getOrDefault("addBatch", 0L).toDouble
      }
    } finally FileTree.deleteTree(ckpt)
    b.keys.foreach(k => model(k) = bi)
    if (compacts) {
      val stale = (j - CompactEvery + 1 to j)
        .flatMap(x => batches(x % batches.length).staleKeys).distinct.sorted
      span("sources.v2.delete") {
        spark.sql(s"DELETE FROM $prod WHERE objectid IN (${stale.mkString(", ")})")
      }
      stale.foreach(model.remove)
    }
    // the deletion vectors the epoch and the delete left, before compaction
    // settles them
    if (trace.nonEmpty) acc("sources.v2.dv_files") +=
      FileTree.filesUnder(prodDir).count(_.getFileName.toString.startsWith(StagedParquet.DvPrefix))
    if (compacts) {
      val report = span("sources.v2.compact") { StagedParquet.compact(spark, prod) }
      if (trace.nonEmpty) acc("sources.v2.compact_bytes_rewritten") += report.map(_._4).sum.toDouble
    }
    val n = span("check.row_count") { spark.table(prod).count() }
    val key = b.keys.find(model.contains).get
    val lookup = spark.table(prod).filter(col("objectid") === key).select(col("batch_id"))
    val found = span("check.key_lookup") { lookup.collect().map(_.getInt(0)).toSeq }
    val past = spark.sql(s"SELECT count(*) FROM $prod VERSION AS OF $v0")
    val m = span("check.version_as_of") { past.head().getLong(0) }
    if (trace.nonEmpty) scanStats(lookup, found.length)
    val errs = Seq(
      Option.when(n != model.size)(s"prod holds $n rows, model ${model.size}"),
      Option.when(found != Seq(bi))(s"key $key reads batch $found, model $bi"),
      Option.when(m != before)(s"version $v0 holds $m rows, model $before")).flatten
    OpResult(if (compacts) "etl_load+compact" else "etl_load", b.rows, errs.isEmpty, errs.mkString("; "))
  }

  private val scanParts = mutable.ArrayBuffer.empty[Double]
  private var rowsScanned, rowsReturned = 0.0

  /** Input partitions and rows read by the staged-table scans of a read. */
  private def scanStats(df: DataFrame, returned: Int): Unit = {
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans)
    }
    val staged = scans(df.queryExecution.executedPlan)
    staged.foreach { b =>
      scanParts += b.inputRDD.getNumPartitions.toDouble
      rowsScanned += b.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
    }
    rowsReturned += returned
  }

  override def sideMeasure(i: Int): Unit = {
    // expression cost alone: the cleaning transform over the cached parsed
    // batch, into the noop sink
    lastParsed.foreach { p =>
      p.cache()
      p.count()
      val t0 = System.nanoTime()
      clean(p).write.format("noop").mode("overwrite").save()
      acc("functions.transform_ms") += (System.nanoTime() - t0) / 1e6
      p.unpersist(blocking = true)
    }
    val files = FileTree.filesUnder(prodDir)
    val names = files.map(prodDir.relativize(_).toString)
    val data = names.filter(n => n.endsWith(".parquet") && !n.split('/').last.startsWith("_") &&
      !n.startsWith("__"))
    acc("sources.v2.files_added") += data.count(n => !listed.contains(n)).toDouble
    listed = data.toSet
    acc("sources.v2.eq_files") += names.count(n => !n.contains('/') && n.startsWith(StagedParquet.EqPrefix)).toDouble
  }

  /** Bytes of prod and its retained versions when `spaceAmp` last ran. */
  private var tableBytes = 0.0

  /** Directories that hold prod's live data files: its partitions. */
  private def tablePartitions: Int =
    FileTree.filesUnder(prodDir).filter { f =>
      val rel = prodDir.relativize(f).toString
      rel.endsWith(".parquet") && !rel.split('/').exists(_.startsWith("_"))
    }.map(_.getParent).distinct.length

  override def layerMetrics(ops: Int): Map[String, Double] =
    acc.toMap.map { case (k, v) => k -> v / math.max(1, ops) } ++ Map(
      "sources.v2.scan_partitions" -> scanParts.sum / math.max(1, scanParts.length),
      "sources.v2.rows_read_per_row_returned" -> rowsScanned / math.max(1.0, rowsReturned),
      "sources.v2.table_partitions" -> tablePartitions.toDouble,
      "sources.v2.table_bytes" -> tableBytes)

  /** Bytes under prod and its version tree (retained versions, `_dv-` and
    * `_eq-` files included) over the bytes of the same live rows written
    * once.
    */
  def spaceAmp(): Double = {
    val once = root.resolve("written-once")
    spark.table(prod).write.mode("overwrite").parquet(once.toString)
    tableBytes = (FileTree.bytesUnder(prodDir) + FileTree.bytesUnder(prodMetaDir)).toDouble
    try tableBytes / FileTree.bytesUnder(once)
    finally FileTree.deleteTree(once)
  }

  override def verify(): Seq[String] = {
    val got = spark.table(prod).select(col("objectid"), col("batch_id")).collect()
      .map(r => r.getInt(0) -> r.getInt(1))
    val gotMap = got.toMap
    val errs = mutable.Buffer.empty[String]
    if (got.length != gotMap.size) errs += s"prod holds ${got.length - gotMap.size} duplicate keys"
    if (gotMap.keySet != model.keySet)
      errs += s"prod key set differs from the model: ${(gotMap.keySet -- model.keySet).size} extra, " +
        s"${(model.keySet -- gotMap.keySet).size} missing"
    val stale = model.count { case (k, b) => gotMap.get(k).exists(_ != b) }
    if (stale > 0) errs += s"$stale keys hold another batch's row than the model's last write"
    errs.toSeq
  }
}
