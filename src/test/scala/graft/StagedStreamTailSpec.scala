package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming reads of staged tables —
  * `spark.readStream.table("graft_staged.ns.t")` through
  * [[graft.sources.v2.StagedMicroBatchStream]]. Contracts under test: an
  * AvailableNow pass drains exactly the committed files; the offset is the
  * last consumed VERSION id (O(1) in the checkpoint regardless of table
  * size), so a RESTART reads only the versions committed since (no
  * replay, no loss — driver memory holds no source state, and a trigger
  * never walks the table's file tree); identity partition values
  * reconstitute in streamed rows exactly as in batch reads; non-append
  * changes (REPLACE, a rewrite ahead of the offset) fail loudly.
  */
class StagedStreamTailSpec extends AnyFunSuite {
  private lazy val spark = { graft.sources.v2.StagedParquet.ensureCatalog(TestSpark.spark); TestSpark.spark }
  private def tbl(t: String) = s"graft_staged.streamtail.$t"

  test("availableNow drains the table; a checkpoint restart reads only new appends") {
    import spark.implicits._
    val t = tbl("s1")
    val ckpt = java.nio.file.Files.createTempDirectory("tail_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("tail_out").toString
    (0L until 100L).map(i => (i % 4, i)).toDF("k", "id")
      .writeTo(t).partitionedBy(col("k")).createOrReplace()

    // a fault-tolerant (file) sink: the same checkpoint resumes across
    // query restarts, so the OUTPUT row count discriminates resume (+new
    // rows only) from replay (+everything again)
    def drain(): Unit = {
      val q = spark.readStream.table(t)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val first = spark.read.parquet(out).collect()
    assert(first.length == 100)
    // identity partition values reconstitute from the directory names
    assert(first.forall(r => r.getLong(0) == r.getLong(1) % 4))

    // two more commits land new files; the SAME checkpoint must deliver
    // exactly those — 150 total afterwards, not 100+150
    (100L until 130L).map(i => (i % 4, i)).toDF("k", "id").writeTo(t).append()
    (130L until 150L).map(i => (i % 4, i)).toDF("k", "id").writeTo(t).append()
    drain()
    val second = spark.read.parquet(out).select("id").as[Long].collect().sorted
    assert(second.length == 150,
      s"restart must append only the 50 new rows, got ${second.length} total")
    assert(second.toSeq == (0L until 150L).toSeq)

    // nothing new -> an empty pass, not a replay
    drain()
    assert(spark.read.parquet(out).count() == 150L)

    // the checkpointed source offset is a version ID — O(1) bytes, not a
    // file list: the table holds many files but the offset log's source
    // entry is just its current version
    val offsetsDir = new java.io.File(ckpt, "offsets")
    val lastBatch = offsetsDir.listFiles.filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toInt)
    val offLines = scala.io.Source.fromFile(lastBatch)
    val srcOffset = try offLines.getLines().toSeq.last.trim finally offLines.close()
    val cur = graft.sources.v2.StagedParquet.currentVersion(
      graft.sources.v2.StagedParquet.tableDir(spark, t))
    assert(srcOffset == cur.toString,
      s"offset must be the last version id ($cur), got: $srcOffset")
  }

  test("availableNow after an uncommitted batch reads every manifest in one run") {
    import spark.implicits._
    val t = tbl("s7")
    val ckpt = java.nio.file.Files.createTempDirectory("tail_ckpt7").toString
    (0L until 10L).toDF("id").writeTo(t).createOrReplace() // m0
    (10L until 20L).toDF("id").writeTo(t).append()          // m1
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def drain(): Unit = {
      val q = spark.readStream.table(t).writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select($"id").as[Long].collect().foreach(seen.add))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(seen.size == 20)
    // batch 0 stays logged in the offset log but loses its commit, as
    // after a crash between the sink write and the commit
    new java.io.File(ckpt, "commits").listFiles.foreach(_.delete())
    (20L until 30L).toDF("id").writeTo(t).append() // m2
    seen.clear()
    drain()
    // the restart re-runs batch 0 (m0-m1) and still reads m2
    assert(seen.toArray.map(_.asInstanceOf[Long]).sorted.toSeq == (0L until 30L))
  }

  test("a third append is read at O(new manifests): only the new files open") {
    import spark.implicits._
    val t = tbl("s3")
    val ckpt = java.nio.file.Files.createTempDirectory("tail_ckpt3").toString
    (0L until 120L).map(i => (i % 6, i)).toDF("k", "id")
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    def drain(): Long = {
      val before = graft.sources.v2.StagedReaderFactory.readersCreated.get()
      val q = spark.readStream.table(t)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.sources.v2.StagedReaderFactory.readersCreated.get() - before
    }
    val full = drain()
    assert(full >= 6L, s"first drain reads the whole table, opened $full")
    // one small append -> the resumed tail opens exactly its files, not
    // the table's (version range (1, 2], never a tree walk)
    Seq((0L, 1000L)).toDF("k", "id").repartition(1).writeTo(t).append()
    val delta = drain()
    assert(delta == 1L,
      s"a 1-file append must open exactly 1 reader on resume, opened $delta")
  }

  test("REPLACE under a tail fails loudly (manifest generation regressed)") {
    import spark.implicits._
    val t = tbl("s4")
    val ckpt = java.nio.file.Files.createTempDirectory("tail_ckpt4").toString
    (0L until 50L).map(i => (i, i * 2)).toDF("id", "v")
      .writeTo(t).createOrReplace()
    (50L until 80L).map(i => (i, i * 2)).toDF("id", "v").writeTo(t).append()
    def drain(): Unit = {
      val q = spark.readStream.table(t)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain() // offset now at version 2
    // full replace: a REPLACE version past the checkpointed offset
    (0L until 10L).map(i => (i, i)).toDF("id", "v").writeTo(t).createOrReplace()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain())
    assert(e.getMessage.contains("regressed") ||
      Option(e.getCause).exists(_.getMessage.contains("regressed")), e.getMessage)
  }

  test("a rewrite ahead of the tail's offset fails loudly, never replays silently") {
    import spark.implicits._
    val t = tbl("s5")
    val ckpt = java.nio.file.Files.createTempDirectory("tail_ckpt5").toString
    (0L until 50L).map(i => (i, i * 1.0)).toDF("id", "v")
      .writeTo(t).createOrReplace()
    // the tail has consumed NOTHING yet; a COW delete renames the file
    // its first version references
    graft.sources.v2.StagedParquet.deleteWhere(spark, t,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 7L)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.table(t)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(e.getMessage.contains("no longer exists") ||
      Option(e.getCause).exists(_.getMessage.contains("no longer exists")),
      e.getMessage)
  }

  test("a tail delivers appends and overwrites, never a rewrite's files") {
    import spark.implicits._
    val t = tbl("s6")
    val ckpt = java.nio.file.Files.createTempDirectory("tail_ckpt6").toString
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, id BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def drain(): Unit = {
      val q = spark.readStream.table(t).writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select($"k", $"id").as[(Long, Long)].collect().foreach(seen.add))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val appended = (0L until 40L).map(i => (i % 4, i))
    appended.toDF("k", "id").writeTo(t).append()
    drain()
    // a dynamic overwrite of k=0 plus a fresh k=4
    val overwritten = (100L until 110L).map(i => (0L, i)) ++ (110L until 120L).map(i => (4L, i))
    overwritten.toDF("k", "id").writeTo(t).overwritePartitions()
    drain()
    // a MERGE whose insert lands in a fresh partition
    (500L until 505L).map(i => (9L, i)).toDF("k", "id").createOrReplaceTempView("s6_src")
    spark.sql(
      s"""MERGE INTO $t AS t USING s6_src AS s ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET id = s.id
          WHEN NOT MATCHED THEN INSERT (k, id) VALUES (s.k, s.id)""")
    drain()
    spark.sql(s"DELETE FROM $t WHERE id = 5")
    drain()
    graft.sources.v2.StagedParquet.compact(spark, t): Unit
    drain()
    assert(spark.table(t).count() == 30L + 10L + 10L + 5L - 1L)
    val got = seen.toArray.map(_.asInstanceOf[(Long, Long)]).sorted.toSeq
    assert(got == (appended ++ overwritten).sorted,
      s"the tail must deliver exactly the append and the overwrite, got $got")
  }

  test("streamed rows match the batch read exactly (schema and content)") {
    import spark.implicits._
    val t = tbl("s2")
    val ckpt = java.nio.file.Files.createTempDirectory("tail_ckpt2").toString
    (0L until 60L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "name", "v")
      .writeTo(t).createOrReplace()
    val q = spark.readStream.table(t)
      .writeStream.format("memory").queryName("tail_b")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("tail_b")
    assert(streamed.schema == spark.table(t).schema)
    assert(streamed.orderBy("id").collect().toSeq ==
      spark.table(t).orderBy("id").collect().toSeq)
  }
}
