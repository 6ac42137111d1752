package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{StagedFilesCommit, StagedParquet, StagedStreamingWrite}

/** Streaming writes into staged tables —
  * `df.writeStream.toTable("graft_staged.ns.t")` through
  * [[graft.sources.v2.StagedStreamingWrite]]. Contracts under test: each
  * epoch appends through the two-phase file protocol and records exactly
  * ONE txn-marked adds version (a downstream tail reads each epoch's files
  * once); a checkpoint restart appends only new source data (no
  * duplicates in the destination); a crash-REPLAYED epoch commit — same
  * epoch id delivered twice — is detected via the adds version's `!txn=`
  * mark plus the per-query cursor and discarded, files deleted.
  */
class StagedStreamIngestSpec extends AnyFunSuite {
  private lazy val spark = { StagedParquet.ensureCatalog(TestSpark.spark); TestSpark.spark }
  private def tbl(t: String) = s"graft_staged.streamingest.$t"

  /** Versions since the table's REPLACE that carry a stream epoch's txn
    * mark: one per epoch with files.
    */
  private def manifestCount(table: String): Int =
    StagedParquet.sinceReplace(StagedParquet.deltaLog(StagedParquet.tableDir(spark, table)))
      .count(_.values("txn").nonEmpty)

  /** One upsert epoch's rows: keys 995..1004 at v = 1 (five updates of a
    * 1000-row v = 0 table, five inserts).
    */
  private val upsertEpoch = (995L until 1005L).map(i => (i, 1L))

  /** Write the epoch's rows as one data file named `name` in `dir`. */
  private def plantEpoch(dir: String, name: String): Unit = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ingest_epoch").toString
    upsertEpoch.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, new java.io.File(dir, name).toPath)
  }

  private def epochCommit(file: String) =
    Array[org.apache.spark.sql.connector.write.WriterCommitMessage](StagedFilesCommit(
      Seq(file), upsertEpoch.length.toLong, Some(upsertEpoch.map(_._1))))

  test("toTable appends per epoch; restart reads only new source commits, no duplicates") {
    import spark.implicits._
    val src = tbl("src1")
    val dst = tbl("dst1")
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt").toString
    (0L until 60L).map(i => (i, i * 2.0)).toDF("id", "v")
      .writeTo(src).createOrReplace()
    (0L until 60L).map(i => (i, i * 2.0)).toDF("id", "v")
      .filter(lit(false)).writeTo(dst).createOrReplace()
    def drain(): Unit = {
      val q = spark.readStream.table(src)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable(dst)
      q.awaitTermination()
    }
    drain()
    assert(spark.table(dst).count() == 60L)
    // one epoch -> exactly one destination epoch version
    assert(manifestCount(dst) == 1, s"expected 1 epoch version, got ${manifestCount(dst)}")
    // two more source commits; the restarted stream must deliver exactly
    // those (90 total, never 60+90)
    (60L until 90L).map(i => (i, i * 2.0)).toDF("id", "v").writeTo(src).append()
    drain()
    val ids = spark.table(dst).select($"id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 90L).toSeq, s"got ${ids.length} rows")
    assert(manifestCount(dst) == 2)
    // nothing new -> empty pass, nothing appended
    drain()
    assert(spark.table(dst).count() == 90L)
  }

  test("partitioned destination: streamed rows route to their partition dirs") {
    import spark.implicits._
    val src = tbl("src2")
    val dst = tbl("dst2")
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt2").toString
    (0L until 40L).map(i => (i % 4, i)).toDF("k", "id")
      .writeTo(src).createOrReplace()
    (0L until 1L).map(i => (i, i)).toDF("k", "id")
      .filter(lit(false)).writeTo(dst).partitionedBy(col("k")).createOrReplace()
    val q = spark.readStream.table(src)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).toTable(dst)
    q.awaitTermination()
    val dir = StagedParquet.tableDir(spark, dst)
    assert((0 to 3).forall(k => new java.io.File(s"$dir/k=$k").isDirectory))
    assert(spark.table(dst).filter($"k" === $"id" % 4).count() == 40L)
  }

  test("a replayed epoch commit is discarded: files deleted, no second manifest") {
    import spark.implicits._
    val dst = tbl("dst3")
    (0L until 20L).map(i => (i, i * 1.0)).toDF("id", "v")
      .writeTo(dst).createOrReplace()
    val dir = StagedParquet.tableDir(spark, dst)
    val dataFile = new java.io.File(dir).listFiles
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).head
    def plant(name: String): Unit =
      java.nio.file.Files.copy(dataFile.toPath,
        new java.io.File(dir, name).toPath)
    val schema = spark.table(dst).schema
    val before = spark.table(dst).count()
    val perFile = spark.read.parquet(dataFile.getPath).count()

    // run 1 commits epoch 0
    val w1 = new StagedStreamingWrite(dir, schema, Seq.empty, "queryA")
    plant("extra1.parquet")
    w1.commit(0L, Array(StagedFilesCommit(Seq("extra1.parquet"), perFile)))
    assert(spark.table(dst).count() == before + perFile)
    val manifestsAfterFirst = manifestCount(dst)

    // run 2 (a restart: fresh instance = fresh nonce) REPLAYS epoch 0 —
    // its files must be dropped, the table and manifest log unchanged
    val w2 = new StagedStreamingWrite(dir, schema, Seq.empty, "queryA")
    plant("extra2.parquet")
    w2.commit(0L, Array(StagedFilesCommit(Seq("extra2.parquet"), perFile)))
    assert(!new java.io.File(dir, "extra2.parquet").exists,
      "a replayed epoch's files must be deleted")
    assert(spark.table(dst).count() == before + perFile)
    assert(manifestCount(dst) == manifestsAfterFirst)

    // the same run then commits the NEXT epoch normally
    plant("extra3.parquet")
    w2.commit(1L, Array(StagedFilesCommit(Seq("extra3.parquet"), perFile)))
    assert(spark.table(dst).count() == before + 2 * perFile)
    assert(manifestCount(dst) == manifestsAfterFirst + 1)

    // crash window: the cursor file is lost after a commit — the txn
    // mark in the adds version alone must still catch the replay
    val cursorFile = new java.io.File(dir, "_stream-queryA.txt")
    cursorFile.delete()
    plant("extra4.parquet")
    val w3 = new StagedStreamingWrite(dir, schema, Seq.empty, "queryA")
    w3.commit(1L, Array(StagedFilesCommit(Seq("extra4.parquet"), perFile)))
    assert(!new java.io.File(dir, "extra4.parquet").exists,
      "txn marker must catch a replay even without the cursor file")
    assert(spark.table(dst).count() == before + 2 * perFile)

    // the plain-epoch crash state: epoch 2's adds landed, then the driver
    // died before its cursor write — the cursor still names epoch 1. The
    // restart's replay must be dropped, not appended a second time.
    val cursorAfterEpoch1 = java.nio.file.Files.readAllBytes(cursorFile.toPath)
    plant("extra5.parquet")
    w3.commit(2L, Array(StagedFilesCommit(Seq("extra5.parquet"), perFile)))
    java.nio.file.Files.write(cursorFile.toPath, cursorAfterEpoch1)
    new java.io.File(dir, "._stream-queryA.txt.crc").delete() // written around Hadoop
    plant("extra6.parquet")
    val w4 = new StagedStreamingWrite(dir, schema, Seq.empty, "queryA")
    w4.commit(2L, Array(StagedFilesCommit(Seq("extra6.parquet"), perFile)))
    assert(!new java.io.File(dir, "extra6.parquet").exists,
      "an epoch whose adds landed before the crash must not append twice")
    assert(spark.table(dst).count() == before + 3 * perFile)
    assert(manifestCount(dst) == manifestsAfterFirst + 2)
  }

  test("an upsert epoch replayed after a crash between its adds and its key delete lands once") {
    import spark.implicits._
    val dst = tbl("dst4")
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt4").toString
    // merge-on-read: the key delete writes vectors, so every file the
    // downstream tail reads stays in place
    (0L until 1000L).map(i => (i, 0L)).toDF("id", "v")
      .writeTo(dst).tableProperty("delete.mode", "merge-on-read").createOrReplace()
    val dir = StagedParquet.tableDir(spark, dst)
    val schema = spark.table(dst).schema
    val epoch = upsertEpoch
    // the crash: the key delete fails after the epoch's adds landed (an
    // unreadable schema file stops it before it touches a row), and the
    // cursor is never written
    val schemaFile = new java.io.File(dir, "_schema.json").toPath
    val schemaJson = java.nio.file.Files.readAllBytes(schemaFile)
    java.nio.file.Files.write(schemaFile, "{".getBytes("UTF-8"))
    new java.io.File(dir, "._schema.json.crc").delete() // written around Hadoop
    plantEpoch(dir, "epoch0-a.parquet")
    val w1 = new StagedStreamingWrite(dir, schema, Seq.empty, "queryU", upsertKey = Some("id"))
    intercept[Exception](w1.commit(0L, epochCommit("epoch0-a.parquet")))
    java.nio.file.Files.write(schemaFile, schemaJson)
    // the restart re-runs epoch 0 with fresh files
    plantEpoch(dir, "epoch0-b.parquet")
    val w2 = new StagedStreamingWrite(dir, schema, Seq.empty, "queryU", upsertKey = Some("id"))
    w2.commit(0L, epochCommit("epoch0-b.parquet"))
    val expect = (0L until 995L).map(i => (i, 0L)) ++ epoch
    assert(spark.table(dst).as[(Long, Long)].collect().sorted.toSeq == expect,
      "the table must hold the latest row per key")
    // a downstream tail receives the initial rows and the epoch's rows,
    // each exactly once
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = spark.readStream.table(dst).writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.as[(Long, Long)].collect().foreach(seen.add))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val tailed = seen.toArray.map(_.asInstanceOf[(Long, Long)]).sorted.toSeq
    assert(tailed == ((0L until 1000L).map(i => (i, 0L)) ++ epoch).sorted)
  }

  test("an equality-delete epoch replayed after its eq file landed writes no second one") {
    import spark.implicits._
    val dst = tbl("dst5")
    (0L until 1000L).map(i => (i, 0L)).toDF("id", "v")
      .writeTo(dst).tableProperty("delete.mode", "merge-on-read").createOrReplace()
    val dir = StagedParquet.tableDir(spark, dst)
    val schema = spark.table(dst).schema
    def eqFiles: Set[String] = new java.io.File(dir).listFiles.map(_.getName)
      .filter(n => n.startsWith(StagedParquet.EqPrefix) && n.endsWith(".parquet")).toSet
    plantEpoch(dir, "eq0-a.parquet")
    new StagedStreamingWrite(dir, schema, Seq.empty, "queryE", upsertKey = Some("id"),
      upsertEq = true).commit(0L, epochCommit("eq0-a.parquet"))
    val written = eqFiles
    assert(written.size == 1)
    // the crash: the epoch's cursor write never happened; the restart
    // replays epoch 0 with fresh files
    new java.io.File(dir, "_stream-queryE.txt").delete()
    plantEpoch(dir, "eq0-b.parquet")
    new StagedStreamingWrite(dir, schema, Seq.empty, "queryE", upsertKey = Some("id"),
      upsertEq = true).commit(0L, epochCommit("eq0-b.parquet"))
    assert(!new java.io.File(dir, "eq0-b.parquet").exists)
    assert(eqFiles == written, "the epoch's live eq file must not be written twice")
    assert(spark.table(dst).as[(Long, Long)].collect().sorted.toSeq ==
      (0L until 995L).map(i => (i, 0L)) ++ upsertEpoch)
  }
}
