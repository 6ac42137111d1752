package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File compaction on staged tables
  * ([[graft.sources.v2.StagedParquet.compact]]): per-directory fold to
  * ceil(bytes/target) files through coalesce + the atomic swap. Contracts
  * under test: content is byte-identical across the swap, directories
  * already at target are never touched (cost ∝ small-file debt), an
  * evolved table settles to the declared width, the table root keeps its
  * catalog metadata, and swap debris (`k=v__old`) is invisible to the
  * scan and swept by vacuum.
  */
class StagedCompactSpec extends AnyFunSuite {
  private lazy val spark = { graft.sources.v2.StagedParquet.ensureCatalog(TestSpark.spark); TestSpark.spark }
  private def tbl(t: String) = s"graft_staged.compactspec.$t"
  import graft.sources.v2.StagedParquet

  private def dataFiles(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    if (!d.exists) Seq.empty
    else d.listFiles.toSeq.filter(f => f.isFile &&
      f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(_.getName).sorted
  }

  test("partitioned compaction folds every small-file dir to the target count") {
    import spark.implicits._
    val t = tbl("c1")
    (0L until 400L).map(i => (i % 4, i, i * 1.5)).toDF("k", "id", "v")
      .repartition(8) // round-robin: 8 files land in EVERY k= dir
      // the fixture needs the small files the engine's write distribution
      // prevents — opt out so compaction has debt to fold
      .writeTo(t).option("graft.write.distribute", "none")
      .partitionedBy(col("k")).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    val before = spark.table(t).orderBy("k", "id").collect()
    assert((0 to 3).forall(k => dataFiles(s"$dir/k=$k").length == 8))
    val rep = StagedParquet.compact(spark, t)
    assert(rep.map(r => (r._1, r._2, r._3)) ==
      (0 to 3).map(k => (s"k=$k", 8L, 1L)))
    assert((0 to 3).forall(k => dataFiles(s"$dir/k=$k").length == 1))
    // content byte-identical across the swap, read through the V2 scan
    assert(spark.table(t).orderBy("k", "id").collect().toSeq == before.toSeq)
    // a second compaction finds nothing to do (dirs at target untouched)
    val names = (0 to 3).map(k => dataFiles(s"$dir/k=$k"))
    assert(StagedParquet.compact(spark, t).isEmpty)
    assert((0 to 3).map(k => dataFiles(s"$dir/k=$k")) == names,
      "an already-compacted dir must not be rewritten")
  }

  test("compacting many directories runs a bounded number of Spark jobs") {
    import spark.implicits._
    val t = tbl("c6")
    (0L until 800L).map(i => (i % 8, i, i * 1.0)).toDF("k", "id", "v")
      .repartition(6) // 6 small files land in every one of the 8 dirs
      .writeTo(t).option("graft.write.distribute", "none")
      .partitionedBy(col("k")).createOrReplace()
    val (rep, jobs) = TestSpark.jobsDuring(StagedParquet.compact(spark, t))
    assert(rep.length == 8 && rep.forall(_._3 == 1L), rep.toString)
    // the batched fold is one logical query; AQE materializes its
    // broadcast + shuffle + write stages as separate JOBS, so the count
    // is a small CONSTANT (4 here) independent of directory count — the
    // old per-dir loop ran >= 8 for this fixture and O(dirs) in general
    assert(jobs <= 4, s"8-dir compaction must run a constant job count, ran $jobs")
    val dir = StagedParquet.tableDir(spark, t)
    assert((0 to 7).forall(k => dataFiles(s"$dir/k=$k").length == 1))
    assert(spark.table(t).count() == 800L)
    assert(spark.table(t).agg(sum($"v")).head.getDouble(0) == (0 until 800).map(_.toDouble).sum)
  }

  test("timestamp columns read back after compaction (INT64 micros, not INT96)") {
    import spark.implicits._
    val t = tbl("c4")
    val base = java.time.Instant.parse("2024-05-01T00:00:00Z")
    (0L until 60L).map(i =>
      (java.sql.Timestamp.from(base.plusSeconds(i * 60)), i)).toDF("ts", "n")
      .repartition(6)
      .writeTo(t).option("graft.write.distribute", "none").createOrReplace()
    val rep = StagedParquet.compact(spark, t)
    assert(rep.nonEmpty, "fixture must have small-file debt")
    // the compacted files came from Spark's parquet writer — the V2 read
    // of the timestamp column afterwards must decode (micros, not INT96)
    val got = spark.table(t).select($"ts").as[java.sql.Timestamp].collect()
      .map(_.toInstant).sorted.toSeq
    assert(got == (0L until 60L).map(i => base.plusSeconds(i * 60)))
  }

  test("root compaction of an unpartitioned table keeps the catalog metadata") {
    import spark.implicits._
    val t = tbl("c2")
    (0L until 100L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(6)
      .writeTo(t).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    assert(dataFiles(dir).length == 6)
    val rep = StagedParquet.compact(spark, t)
    assert(rep.map(r => (r._1, r._2, r._3)) == Seq((".", 6L, 1L)))
    assert(dataFiles(dir).length == 1)
    // declared-schema read still works: metadata rode the swap
    assert(spark.table(t).count() == 100L)
    assert(StagedParquet.readTable(spark, t).count() == 100L)
  }

  test("every root swap hands on the catalog and a live tail: compact, delete-all, COW and SQL UPDATE") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{AlwaysTrue, EqualTo, GreaterThanOrEqual}
    type Rows = Seq[(Long, Double)]
    def set(v: Double)(rows: Rows): Rows =
      rows.map { case (id, x) => (id, if (id >= 95L) v else x) }
    val callers: Seq[(String, String => Unit, Rows => Rows)] = Seq(
      ("compact", t => StagedParquet.compact(spark, t): Unit, rows => rows),
      ("delete all", t => StagedParquet.deleteWhere(spark, t, Seq(AlwaysTrue())): Unit,
        _ => Nil),
      ("cow update", t => StagedParquet.updateWhere(spark, t, Seq("v" -> lit(-1.0)),
        Seq(GreaterThanOrEqual("id", 95L))): Unit, set(-1.0)),
      ("sql update", t => spark.sql(s"UPDATE $t SET v = -2.0 WHERE id >= 95"): Unit,
        set(-2.0)))
    for (((name, op, expect), i) <- callers.zipWithIndex) {
      val t = tbl(s"root$i")
      // six id-ranged files, so a COW rewrite of the top ids leaves five
      // siblings (one with a deletion vector) to byte-copy
      (0L until 100L).map(id => (id, id * 1.0, s"x$id")).toDF("id", "v", "gone")
        .repartitionByRange(6, $"id")
        .writeTo(t).tableProperty("delete.mode", "merge-on-read")
        .tableProperty("graft.test.tag", "root-swap").createOrReplace()
      spark.sql(s"ALTER TABLE $t DROP COLUMN gone")
      assert(StagedParquet.deleteWhere(spark, t, Seq(EqualTo("id", 3L))).map(_._2) ==
        Seq("dv"), name)
      val ckpt = java.nio.file.Files.createTempDirectory("root_swap_ckpt").toString
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      def drain(): Seq[Long] = {
        seen.clear()
        spark.readStream.table(t).writeStream
          .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.select($"id").as[Long].collect().foreach(seen.add))
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
        seen.toArray.map(_.asInstanceOf[Long]).sorted.toSeq
      }
      assert(drain() == (0L until 100L), name) // the tail ignores vectors
      op(t)
      // a fresh session re-instantiates the catalog from the files alone
      val s2 = spark.newSession()
      StagedParquet.ensureCatalog(s2)
      val want = expect((0L until 100L).filter(_ != 3L).map(id => (id, id * 1.0)))
      assert(s2.table(t).select($"id", $"v").as[(Long, Double)].collect().sortBy(_._1)
        .toSeq == want, name)
      assert(s2.table(t).schema.fieldNames.toSeq == Seq("id", "v"), name)
      val props = s2.sql(s"SHOW TBLPROPERTIES $t").as[(String, String)].collect().toMap
      assert(props.get("graft.test.tag").contains("root-swap") &&
        props.get("delete.mode").contains("merge-on-read"), s"$name: $props")
      // the dropped name is still tombstoned
      intercept[Exception](s2.sql(s"ALTER TABLE $t ADD COLUMN gone STRING"))
      Seq((200L, 1.0), (201L, 2.0)).toDF("id", "v").writeTo(t).append()
      assert(drain() == Seq(200L, 201L), name)
    }
  }

  test("compaction settles schema evolution: pre-ALTER files come out null-filled") {
    import spark.implicits._
    val t = tbl("c3")
    (0L until 6L).map(i => (i, s"v$i")).toDF("id", "name")
      .repartition(2).writeTo(t).createOrReplace()
    spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    (6L until 12L).map(i => (i, s"v$i", i * 0.5)).toDF("id", "name", "score")
      .repartition(2).writeTo(t).append()
    StagedParquet.compact(spark, t)
    val dir = StagedParquet.tableDir(spark, t)
    assert(dataFiles(dir).length == 1)
    val rows = spark.table(t).orderBy("id").collect()
    assert(rows.length == 12)
    assert(rows.take(6).forall(_.isNullAt(2)), "pre-ALTER rows keep null score")
    assert(rows.drop(6).forall(r => r.getDouble(2) == r.getLong(0) * 0.5))
  }

  test("swap debris k=v__old is invisible to the scan and swept by vacuum") {
    import spark.implicits._
    val t = tbl("c4")
    (0L until 40L).map(i => (i % 2, i)).toDF("k", "id")
      .repartition(col("k"))
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    // plant the debris a failed best-effort old-delete would leave: a full
    // pre-swap copy of k=1
    val src = new java.io.File(s"$dir/k=1")
    val old = new java.io.File(s"$dir/k=1__old")
    old.mkdirs()
    src.listFiles.foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(old, f.getName).toPath)
    }
    // the scan must not read it as a partition (no duplicated rows)
    assert(spark.table(t).count() == 40L)
    assert(spark.table(t).filter(col("k") === 1L).count() == 20L)
    // vacuum sweeps it as stale_old
    val swept = StagedParquet.vacuum(spark, t, minAgeMs = 0L)
    assert(swept.contains(("k=1__old", "stale_old")), swept.toString)
    assert(!old.exists)
    assert(spark.table(t).count() == 40L)
  }
}
