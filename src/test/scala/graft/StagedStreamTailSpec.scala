package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming reads of staged tables —
  * `spark.readStream.table("graft_staged.ns.t")` through
  * [[graft.sources.v2.StagedMicroBatchStream]]. Contracts under test: an
  * AvailableNow pass drains exactly the committed files; the offset is the
  * last commit-MANIFEST id (O(1) in the checkpoint regardless of table
  * size), so a RESTART reads only the manifests appended since (no
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

    // the checkpointed source offset is a manifest ID — O(1) bytes, not a
    // file list: at 3 commits the table holds many files but the offset
    // log's source entry is just "2"
    val offsetsDir = new java.io.File(ckpt, "offsets")
    val lastBatch = offsetsDir.listFiles.filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toInt)
    val offLines = scala.io.Source.fromFile(lastBatch)
    val srcOffset = try offLines.getLines().toSeq.last.trim finally offLines.close()
    assert(srcOffset == "2",
      s"offset must be the last manifest id (3 commits -> 2), got: $srcOffset")
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
    // the table's (manifest range (0, 1], never a tree walk)
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
    drain() // offset now at manifest 1
    // full replace: fresh generation at m-0 < checkpointed 1
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
    // its first manifest references
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
