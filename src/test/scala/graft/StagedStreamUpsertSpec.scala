package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Streaming UPSERT into staged tables (the `graft.upsert.key`
  * writeStream option — [[graft.sources.v2.StagedParquet]]
  * StagedStreamingWrite's CDC-sink mode). Contracts under test:
  *   - epochs apply latest-per-key: each wave deletes exactly the
  *     pre-existing rows whose key it carries, then appends;
  *   - on a merge-on-read destination the delete half is DELETION
  *     VECTORS: pre-existing data files stay byte-untouched;
  *   - the epoch's OWN files are never deleted by its own key-delete;
  *   - a bucketed destination prunes the key-delete to the keys'
  *     buckets;
  *   - restart/replay idempotence: re-running a drained stream changes
  *     nothing (txn short-circuit);
  *   - identity-partitioned upsert keys are rejected at plan time;
  *   - compaction settles the accumulated vectors and the result stays
  *     latest-per-key;
  *   - a narrow epoch's keys come from its write tasks (no job re-reads
  *     the epoch's files), duplicates across tasks and null keys
  *     included, and its MOR find-positions plan shuffles once.
  */
class StagedStreamUpsertSpec extends AnyFunSuite {
  private lazy val spark = { graft.sources.v2.StagedParquet.ensureCatalog(TestSpark.spark); TestSpark.spark }
  private def tbl(t: String) = s"graft_staged.upsertspec.$t"
  import graft.sources.v2.StagedParquet

  private def dataFiles(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f)
      else Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
    walk(new java.io.File(dir))
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(f => f.getName -> (f.length, f.lastModified)).toMap
  }

  test("upsert waves apply latest-per-key; MOR leaves old files byte-untouched") {
    import spark.implicits._
    val src = tbl("src1")
    val dst = tbl("dst1")
    val dstDir = StagedParquet.tableDir(spark, dst)
    // wave size well under the DV density threshold (50/2000 = 2.5% —
    // hash skew across buckets cannot push any dir past maxFraction 0.1)
    def snap = (0L until 2000L).map(i => (i, i * 1.0)).toDF("id", "v")
    snap.filter(lit(false)).writeTo(dst)
      .tableProperty("delete.mode", "merge-on-read")
      .partitionedBy(org.apache.spark.sql.functions.bucket(4, col("id")))
      .createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("ups_ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.table(src)
        .writeStream.option("checkpointLocation", ckpt)
        .option("graft.upsert.key", "id")
        .trigger(Trigger.AvailableNow()).toTable(dst)
      q.awaitTermination()
    }
    snap.writeTo(src).createOrReplace()
    drain()
    assert(spark.table(dst).count() == 2000L)
    val afterSnap = dataFiles(dstDir)
    // wave: 100 keys move to v*10 — deletion vectors, not rewrites
    snap.filter($"id" < 50L).withColumn("v", $"v" * 10).writeTo(src).append()
    drain()
    assert(spark.table(dst).count() == 2000L, "upsert must not grow the key set")
    assert(spark.table(dst).filter($"id" < 50L && $"v" =!= $"id" * 10.0).count() == 0L)
    assert(spark.table(dst).filter($"id" >= 50L && $"v" =!= $"id" * 1.0).count() == 0L)
    // every pre-wave data file byte-identical (the delete half wrote DVs)
    val afterWave = dataFiles(dstDir)
    assert(afterSnap.forall { case (n, m) => afterWave.get(n).contains(m) },
      "a MOR upsert wave must not rewrite pre-existing files")
    // replay idempotence: draining again (nothing new) changes nothing
    drain()
    assert(spark.table(dst).count() == 2000L)
    assert(spark.table(dst).select(sum($"v")).as[Double].head() ==
      (0L until 2000L).map(i => if (i < 50) i * 10.0 else i * 1.0).sum)
    // compaction settles the vectors; latest-per-key survives
    StagedParquet.compact(spark, dst): Unit
    assert(spark.table(dst).count() == 2000L)
    assert(spark.table(dst).filter($"id" === 5L).select($"v").as[Double].head() == 50.0)
  }

  test("an epoch's own rows survive its key-delete (new keys insert cleanly)") {
    import spark.implicits._
    val src = tbl("src2")
    val dst = tbl("dst2")
    def df(ids: Range) = ids.map(i => (i.toLong, s"r$i")).toDF("id", "s")
    df(0 until 0).writeTo(dst)
      .tableProperty("delete.mode", "merge-on-read").createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("ups_ckpt2").toString
    def drain(): Unit = {
      val q = spark.readStream.table(src)
        .writeStream.option("checkpointLocation", ckpt)
        .option("graft.upsert.key", "id")
        .trigger(Trigger.AvailableNow()).toTable(dst)
      q.awaitTermination()
    }
    df(0 until 100).writeTo(src).createOrReplace()
    drain()
    // a mixed wave: 50 updates + 50 brand-new keys
    df(50 until 150).writeTo(src).append()
    drain()
    assert(spark.table(dst).count() == 150L)
    assert(spark.table(dst).select(countDistinct($"id")).as[Long].head() == 150L)
  }

  test("bucketed destination prunes the key-delete to the keys' buckets") {
    import spark.implicits._
    val src = tbl("src3")
    val dst = tbl("dst3")
    def snap = (0L until 800L).map(i => (i, i * 1.0)).toDF("id", "v")
    snap.filter(lit(false)).writeTo(dst)
      .tableProperty("delete.mode", "merge-on-read")
      .partitionedBy(org.apache.spark.sql.functions.bucket(8, col("id")))
      .createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("ups_ckpt3").toString
    def drain(): Unit = {
      val q = spark.readStream.table(src)
        .writeStream.option("checkpointLocation", ckpt)
        .option("graft.upsert.key", "id")
        .trigger(Trigger.AvailableNow()).toTable(dst)
      q.awaitTermination()
    }
    snap.writeTo(src).createOrReplace()
    drain()
    // ONE key updates: the delete half must DV exactly one bucket dir
    snap.filter($"id" === 7L).withColumn("v", lit(-1.0)).writeTo(src).append()
    drain()
    val dstDir = StagedParquet.tableDir(spark, dst)
    val dvDirs = new java.io.File(dstDir).listFiles.filter(_.isDirectory)
      .filter(_.listFiles.exists(_.getName.startsWith(StagedParquet.DvPrefix)))
    assert(dvDirs.length == 1,
      s"a single-key wave must vector exactly one bucket dir, got ${dvDirs.length}")
    assert(spark.table(dst).filter($"id" === 7L).select($"v").as[Double].head() == -1.0)
    assert(spark.table(dst).count() == 800L)
  }

  test("a wide epoch upserts without a driver-side key materialization") {
    import spark.implicits._
    val src = tbl("src5")
    val dst = tbl("dst5")
    def snap = (0L until 200000L).map(i => (i, i * 1.0)).toDF("id", "v")
    snap.filter(lit(false)).writeTo(dst)
      .tableProperty("delete.mode", "merge-on-read")
      .partitionedBy(org.apache.spark.sql.functions.bucket(8, col("id")))
      .createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("ups_ckpt5").toString
    def drain(): Unit = {
      val q = spark.readStream.table(src)
        .writeStream.option("checkpointLocation", ckpt)
        .option("graft.upsert.key", "id")
        .trigger(Trigger.AvailableNow()).toTable(dst)
      q.awaitTermination()
    }
    snap.writeTo(src).createOrReplace()
    drain()
    StagedParquet.upsertWideEpochs.set(0L)
    // wave 1: 15k scattered keys (7.5% — under the DV density cap): the
    // WIDE form with the MOR tier — vectors written, keys never collected
    snap.filter($"id" % 13L === 0L).withColumn("v", $"v" * 10)
      .writeTo(src).append() // 15385 keys > keyInMax 10000
    drain()
    assert(StagedParquet.upsertWideEpochs.get() == 1L,
      "a >10k-key epoch must take the distributed keySet form")
    assert(spark.table(dst).count() == 200000L)
    assert(spark.table(dst)
      .filter($"id" % 13L === 0L && $"v" =!= $"id" * 10.0).count() == 0L)
    assert(spark.table(dst)
      .filter($"id" % 13L =!= 0L && $"v" =!= $"id" * 1.0).count() == 0L)
    // wave 2: 120k keys (60% — DENSE): the wide form's COW anti-join
    // fallback rewrites, still with no key list through the driver
    snap.filter($"id" < 120000L).withColumn("v", lit(-5.0))
      .writeTo(src).append()
    drain()
    assert(StagedParquet.upsertWideEpochs.get() == 2L)
    assert(spark.table(dst).count() == 200000L)
    assert(spark.table(dst).filter($"id" < 120000L && $"v" =!= -5.0).count() == 0L)
    assert(spark.table(dst).filter($"id" >= 120000L &&
      $"id" % 13L === 0L && $"v" =!= $"id" * 10.0).count() == 0L)
    assert(spark.table(dst).filter($"id" >= 120000L &&
      $"id" % 13L =!= 0L && $"v" =!= $"id" * 1.0).count() == 0L)
  }

  test("time travel below a dense epoch delete never resurrects the epoch's rows") {
    import spark.implicits._
    val src = tbl("src6")
    val dst = tbl("dst6")
    def snap = (0L until 1000L).map(i => (i, i * 1.0)).toDF("id", "v")
    snap.filter(lit(false)).writeTo(dst)
      .tableProperty("delete.mode", "merge-on-read").createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("ups_ckpt6").toString
    def drain(): Unit = {
      val q = spark.readStream.table(src)
        .writeStream.option("checkpointLocation", ckpt)
        .option("graft.upsert.key", "id")
        .trigger(Trigger.AvailableNow()).toTable(dst)
      q.awaitTermination()
    }
    snap.writeTo(src).createOrReplace()
    drain()
    val dstDir = StagedParquet.tableDir(spark, dst)
    val vSnap = StagedParquet.currentVersion(dstDir)
    // a DENSE wave (60% of keys) forces the COW tier for the epoch delete:
    // the retained pre-delete root contains the epoch's files, so the
    // epoch's adds must record BELOW the delete version (ADVICE r11) or a
    // snapshot at vSnap restores them
    snap.filter($"id" < 600L).withColumn("v", lit(-9.0)).writeTo(src).append()
    drain()
    assert(spark.table(dst).count() == 1000L)
    assert(spark.table(dst).filter($"id" < 600L && $"v" =!= -9.0).count() == 0L)
    val old = spark.sql(s"SELECT * FROM $dst VERSION AS OF $vSnap")
    assert(old.count() == 1000L,
      "the pre-wave snapshot must hold exactly the original rows")
    assert(old.filter($"v" === -9.0).count() == 0L,
      "epoch rows must NOT appear at a version below their own add")
    assert(old.select(sum($"v")).as[Double].head() == (0L until 1000L).map(_.toDouble).sum)
  }

  test("a narrow MOR epoch reads none of its own files; find-positions shuffles once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, MapPartitionsExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val src = tbl("src7")
    val dst = tbl("dst7")
    val dstDir = StagedParquet.tableDir(spark, dst)
    def snap = (0L until 2000L).map(i => (i, i * 1.0)).toDF("id", "v")
    snap.filter(lit(false)).writeTo(dst)
      .tableProperty("delete.mode", "merge-on-read")
      .partitionedBy(org.apache.spark.sql.functions.bucket(4, col("id")))
      .createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("ups_ckpt7").toString
    def drain(): Unit = {
      val q = spark.readStream.table(src)
        .writeStream.option("checkpointLocation", ckpt)
        .option("graft.upsert.key", "id")
        .trigger(Trigger.AvailableNow()).toTable(dst)
      q.awaitTermination()
    }
    snap.writeTo(src).createOrReplace()
    drain()
    val before = dataFiles(dstDir).keySet
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = plans.add(qe.executedPlan): Unit
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o.children.flatMap(nodes)
    })
    // the find-positions plan: the DV writer over the (dir, file, pos) rows
    def writers: Seq[MapPartitionsExec] = plans.asScala.toSeq.flatMap(nodes)
      .collect { case m: MapPartitionsExec
        if nodes(m).exists(_.output.exists(_.name == "__pos")) => m }
    spark.listenerManager.register(listener)
    try {
      snap.filter($"id" < 50L).withColumn("v", $"v" * 10).writeTo(src).append()
      drain()
      // execution events arrive asynchronously, in order: once the
      // find-positions plan is seen, every earlier plan is too
      val deadline = System.currentTimeMillis() + 30000L
      while (writers.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
    } finally spark.listenerManager.unregister(listener)
    val epochFiles = dataFiles(dstDir).keySet -- before
    assert(epochFiles.nonEmpty)
    val readsOwn = plans.asScala.toSeq.flatMap(nodes).collect {
      case sc: FileSourceScanExec => sc.relation.location.inputFiles.toSeq
        .map(p => new org.apache.hadoop.fs.Path(p).getName)
    }.flatten.filter(epochFiles)
    assert(readsOwn.isEmpty, s"the epoch's commit re-read its own files: $readsOwn")
    assert(writers.length == 1, s"expected one find-positions plan, got ${writers.length}")
    val shuffles = nodes(writers.head).count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles == 1, s"find-positions plan has $shuffles shuffles:\n${writers.head}")
    assert(spark.table(dst).count() == 2000L)
    assert(spark.table(dst).filter($"id" < 50L && $"v" =!= $"id" * 10.0).count() == 0L)
    assert(new java.io.File(dstDir).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).count(_.getName.startsWith(StagedParquet.DvPrefix)) > 0,
      "the narrow epoch must delete by deletion vectors")
  }

  test("narrow-epoch keys: duplicates across write tasks and null keys") {
    import spark.implicits._
    val src = tbl("src8")
    val dst = tbl("dst8")
    def rows(xs: Seq[(Option[Long], String)]) = xs.toDF("id", "s")
    rows(Nil).writeTo(dst)
      .tableProperty("delete.mode", "merge-on-read").createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("ups_ckpt8").toString
    def drain(): Unit = {
      val q = spark.readStream.table(src)
        .writeStream.option("checkpointLocation", ckpt)
        .option("graft.upsert.key", "id")
        .trigger(Trigger.AvailableNow()).toTable(dst)
      q.awaitTermination()
    }
    rows((0L until 1000L).map(i => (Some(i), s"r$i"))).writeTo(src).createOrReplace()
    drain()
    val dstDir = StagedParquet.tableDir(spark, dst)
    val before = dataFiles(dstDir).keySet
    val wide0 = StagedParquet.upsertWideEpochs.get()
    // two source files, so two write tasks: key 5 and a null key in both
    rows(Seq((Some(5L), "a"), (Some(6L), "b"), (None, "n1")))
      .union(rows(Seq((Some(5L), "c"), (None, "n2"), (Some(7L), "d"))))
      .writeTo(src).append()
    drain()
    assert((dataFiles(dstDir).keySet -- before).size >= 2,
      "the wave must reach the sink through several write tasks")
    assert(StagedParquet.upsertWideEpochs.get() == wide0, "a 3-key epoch is narrow")
    val got = spark.table(dst).as[(Option[Long], String)].collect()
    assert(got.length == 1003)
    assert(got.filter(r => r._1.forall(Set(5L, 6L, 7L))).map(_._2).sorted.toSeq ==
      Seq("a", "b", "c", "d", "n1", "n2"))
    assert(got.count(_._2.startsWith("r")) == 997)
  }

  test("identity-partitioned upsert keys are rejected at plan time") {
    import spark.implicits._
    val src = tbl("src4")
    val dst = tbl("dst4")
    Seq((1L, "a")).toDF("id", "s").filter(lit(false)).writeTo(dst)
      .partitionedBy(col("id")).createOrReplace()
    Seq((1L, "a")).toDF("id", "s").writeTo(src).createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("ups_ckpt4").toString
    val e = intercept[Exception] {
      val q = spark.readStream.table(src)
        .writeStream.option("checkpointLocation", ckpt)
        .option("graft.upsert.key", "id")
        .trigger(Trigger.AvailableNow()).toTable(dst)
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ causes(t.getCause)
    assert(causes(e).exists(_.contains("bucket(n, key)")),
      s"expected the layout rejection, got: $e")
  }
}
