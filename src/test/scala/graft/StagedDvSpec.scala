package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MERGE-ON-READ deletes (deletion vectors) on staged tables — the
  * `delete.mode=merge-on-read` table property
  * ([[graft.sources.v2.StagedParquet.cowWhereDir]]). Contracts under test:
  *   - a sparse DELETE writes a tiny `_dv-*` positions file and leaves
  *     every data file BYTE-UNTOUCHED (name, length, mtime);
  *   - the V2 scan skips deleted positions on both the row path and the
  *     footer count-star path; aggregate pushdown stands down while
  *     vectors live (footer stats would count deleted rows);
  *   - a DENSE delete (matched fraction above `StagedParquet`'s
  *     `DvMaxFraction`, 0.1) falls back to the COW rewrite;
  *   - later rewrites (COW UPDATE, compaction) apply the vectors — never
  *     resurrect — and compaction drops the vectors and the root flag;
  *   - `VERSION AS OF` resolves the vectors alive at each version;
  *   - readTable (the merge/upsert read) applies vectors;
  *   - the DV body is `file\tstart\tend` lines sorted by file, then
  *     start, and a statement writes ONE vector per touched directory
  *     however many files and scan splits its matches span.
  */
class StagedDvSpec extends AnyFunSuite {
  private lazy val spark = { graft.sources.v2.StagedParquet.ensureCatalog(TestSpark.spark); TestSpark.spark }
  private def tbl(t: String) = s"graft_staged.dvspec.$t"
  import graft.sources.v2.StagedParquet

  private def files(dir: String, prefix: String = ""): Map[String, (Long, Long)] = {
    val d = new java.io.File(dir)
    if (!d.exists) Map.empty
    else d.listFiles.toSeq.filter(f => f.isFile &&
        (if (prefix.isEmpty) f.getName.endsWith(".parquet") && !f.getName.startsWith("_")
         else f.getName.startsWith(prefix)))
      .map(f => f.getName -> (f.length, f.lastModified)).toMap
  }

  test("sparse DELETE writes a DV and leaves every data file byte-untouched") {
    import spark.implicits._
    val t = tbl("m1")
    (0L until 2000L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartition(3)
      .writeTo(t).tableProperty("delete.mode", "merge-on-read")
      .createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    val before = files(dir)
    assert(before.size == 3)
    val rep = StagedParquet.deleteWhere(spark, t, Seq(
      org.apache.spark.sql.sources.In("id", Array(7L, 8L, 9L, 1500L))))
    assert(rep.map(_._2) == Seq("dv"), s"expected one dv action, got $rep")
    assert(rep.head._4 == 4L, s"4 deleted rows, reported ${rep.head._4}")
    // the data files are the SAME inodes — no rewrite happened
    assert(files(dir) == before)
    assert(files(dir, StagedParquet.DvPrefix).size == 1)
    assert(new java.io.File(dir, StagedParquet.DvFlagFile).exists)
    // row path and count-star path both skip the positions
    assert(spark.table(t).count() == 1996L)
    assert(spark.table(t).filter($"id".isin(7L, 8L, 9L, 1500L)).count() == 0L)
    assert(spark.table(t).filter($"id" === 10L).select($"v").as[Double].head() == 20.0)
    // a second DELETE unions (additive DV files)
    StagedParquet.deleteWhere(spark, t, Seq(
      org.apache.spark.sql.sources.In("id", Array(10L, 9L)))): Unit
    assert(files(dir) == before)
    assert(files(dir, StagedParquet.DvPrefix).size == 2)
    assert(spark.table(t).count() == 1995L)
    // agg pushdown stood down: footer MIN would say 0, the true min is 1
    spark.sql(s"DELETE FROM $t WHERE id = 0")
    val agg = spark.sql(s"SELECT count(*) AS n, min(id) AS mn, max(id) AS mx FROM $t")
      .as[(Long, Long, Long)].head()
    assert(agg == ((1994L, 1L, 1999L)), s"got $agg")
  }

  test("dense DELETE falls back to copy-on-write; zero-match DELETE touches nothing") {
    import spark.implicits._
    val t = tbl("m2")
    (0L until 1000L).map(i => (i, s"r$i")).toDF("id", "name")
      .writeTo(t).tableProperty("delete.mode", "merge-on-read")
      .createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    val before = files(dir)
    // zero matches: no DV, no rewrite, not even a report row
    val rep0 = StagedParquet.deleteWhere(spark, t, Seq(
      org.apache.spark.sql.sources.GreaterThan("id", 5000L)))
    assert(rep0.isEmpty && files(dir) == before)
    assert(files(dir, StagedParquet.DvPrefix).isEmpty)
    // 60% of rows: far above DvMaxFraction — COW rewrites
    val rep = StagedParquet.deleteWhere(spark, t, Seq(
      org.apache.spark.sql.sources.LessThan("id", 600L)))
    assert(rep.map(_._2) == Seq("rewritten"), s"dense delete must COW, got $rep")
    assert(files(dir) != before)
    assert(files(dir, StagedParquet.DvPrefix).isEmpty)
    assert(spark.table(t).count() == 400L)
  }

  test("identity-partitioned MOR: tier-1 drop stays metadata-only, DV lands in the right dir") {
    import spark.implicits._
    val t = tbl("m3")
    (0L until 900L).map(i => (i % 3, i, i * 1.5)).toDF("k", "id", "v")
      .writeTo(t).tableProperty("delete.mode", "merge-on-read")
      .partitionedBy(col("k")).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    // all-of-partition predicate: still the metadata drop, never a DV
    val rep1 = StagedParquet.deleteWhere(spark, t, Seq(
      org.apache.spark.sql.sources.EqualTo("k", 2L)))
    assert(rep1 == Seq(("k=2", "dropped", 0L, 0L)))
    // sparse point delete inside k=0 only
    val b0 = files(s"$dir/k=0"); val b1 = files(s"$dir/k=1")
    val rep2 = StagedParquet.deleteWhere(spark, t, Seq(
      org.apache.spark.sql.sources.EqualTo("k", 0L),
      org.apache.spark.sql.sources.In("id", Array(0L, 3L, 6L))))
    assert(rep2.map(r => (r._1, r._2)) == Seq(("k=0", "dv")))
    assert(files(s"$dir/k=0") == b0 && files(s"$dir/k=1") == b1)
    assert(files(s"$dir/k=0", StagedParquet.DvPrefix).size == 1)
    assert(files(s"$dir/k=1", StagedParquet.DvPrefix).isEmpty)
    assert(spark.table(t).count() == 597L)
    assert(spark.table(t).groupBy($"k").count().orderBy($"k")
      .as[(Long, Long)].collect().toSeq == Seq((0L, 297L), (1L, 300L)))
  }

  test("COW UPDATE after a MOR delete materializes, carries, and never resurrects") {
    import spark.implicits._
    val t = tbl("m4")
    // range-clustered files so the update's zone map isolates one file
    (0L until 4000L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartitionByRange(4, $"id")
      .writeTo(t).tableProperty("delete.mode", "merge-on-read")
      .option("graft.write.distribute", "none").createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    // MOR-delete rows in TWO files' ranges: one will be rewritten by the
    // update (materialize), one stays byte-copied (carry)
    StagedParquet.deleteWhere(spark, t, Seq(
      org.apache.spark.sql.sources.In("id", Array(100L, 3500L)))): Unit
    assert(files(dir, StagedParquet.DvPrefix).size == 1)
    // update a band living in the FIRST file only
    StagedParquet.updateWhere(spark, t, Seq("v" -> lit(-1.0)), Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 0L),
      org.apache.spark.sql.sources.LessThan("id", 500L))): Unit
    // deleted rows stay gone on both the rewritten and the carried side
    assert(spark.table(t).filter($"id".isin(100L, 3500L)).count() == 0L)
    assert(spark.table(t).count() == 3998L)
    // the carried DV still guards the untouched file
    assert(files(dir, StagedParquet.DvPrefix).nonEmpty)
    assert(spark.table(t).filter($"id" === 200L).select($"v").as[Double].head() == -1.0)
    assert(spark.table(t).filter($"id" === 3600L).select($"v").as[Double].head() == 3600.0)
  }

  test("compaction materializes the vectors, drops them and the flag; time travel resolves per version") {
    import spark.implicits._
    val t = tbl("m5")
    val base = StagedParquet.currentVersion(StagedParquet.tableDir(spark, t))
    (0L until 1000L).map(i => (i, i * 3.0)).toDF("id", "v")
      .repartition(4)
      .writeTo(t).tableProperty("delete.mode", "merge-on-read")
      .createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    spark.sql(s"DELETE FROM $t WHERE id >= 10 AND id < 20")
    assert(files(dir, StagedParquet.DvPrefix).nonEmpty)
    val rep = StagedParquet.compact(spark, t)
    assert(rep.nonEmpty, "DV'd dir must compact even at target size")
    assert(files(dir, StagedParquet.DvPrefix).isEmpty)
    assert(!new java.io.File(dir, StagedParquet.DvFlagFile).exists)
    assert(spark.table(t).count() == 990L)
    // v base+1 = pre-delete (vector not yet alive), v base+2 = post-delete
    // (vector resolved from the retained tree), both after the compaction
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF ${base + 1}")
      .as[Long].head() == 1000L)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF ${base + 2}")
      .as[Long].head() == 990L)
    assert(spark.sql(
      s"SELECT count(*) FROM $t VERSION AS OF ${base + 2} WHERE id >= 10 AND id < 20")
      .as[Long].head() == 0L)
  }

  test("a wide sparse DELETE stays O(dirs) on the driver; tasks write the vectors") {
    import spark.implicits._
    val t = tbl("m7")
    val dir = StagedParquet.tableDir(spark, t)
    // 8 identity directories, scattered single-row deletions in EVERY one:
    // the GDPR shape — statement-wide run volume far above per-dir volume
    (0L until 16000L).map(i => (i, i % 8, i * 1.0)).toDF("id", "g", "v")
      .writeTo(t).partitionedBy(col("g"))
      .tableProperty("delete.mode", "merge-on-read").createOrReplace()
    // step 101 is coprime to 8, so the 159 ids scatter across ALL dirs
    val targets = (0L until 16000L by 101L).toArray // ~20 per dir, ~1% density
    val rep = StagedParquet.deleteWhere(spark, t, Seq(
      org.apache.spark.sql.sources.In("id", targets.map(Long.box))))
    assert(rep.length == 8 && rep.forall(_._2 == "dv"),
      s"every dir takes the DV tier, got $rep")
    assert(rep.map(_._4).sum == 159L)
    // the driver materialized ONE row per touched directory — not one per
    // deleted run (the pre-r12 shape: O(160) here, O(statement) at 100 TB)
    assert(StagedParquet.morDriverRows.get() == 8L,
      s"driver rows = ${StagedParquet.morDriverRows.get()}, want O(dirs) = 8")
    // each dir holds exactly the task-committed vector, no _tmp- strays
    for (g <- 0 until 8) {
      val pd = s"$dir/g=$g"
      assert(files(pd, StagedParquet.DvPrefix).size == 1, s"dv missing in g=$g")
      assert(files(pd, "_tmp-dv-").isEmpty, s"uncommitted stray in g=$g")
    }
    assert(spark.table(t).count() == 15841L)
    assert(spark.table(t).filter($"id".isin(targets.map(Long.box).toSeq: _*))
      .count() == 0L)
    assert(spark.table(t).filter($"id" === 100L).select($"v").as[Double]
      .head() == 100.0)
  }

  private def dvBodies(dir: String): Seq[String] =
    files(dir, StagedParquet.DvPrefix).keys.toSeq.sorted.map { n =>
      val src = scala.io.Source.fromFile(new java.io.File(dir, n), "UTF-8")
      try src.mkString finally src.close()
    }

  test("the DV body: file<TAB>start<TAB>end lines, sorted by file then start") {
    import spark.implicits._
    val t = tbl("m8")
    // two single-file writes: a row's position in its file is id - base
    (0L until 100L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo(t).tableProperty("delete.mode", "merge-on-read").createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    val lo = files(dir).keys.toSeq match { case Seq(n) => n }
    (100L until 200L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo(t).append()
    val hi = (files(dir).keySet - lo).toSeq match { case Seq(n) => n }
    StagedParquet.deleteWhere(spark, t, Seq(org.apache.spark.sql.sources.In("id",
      Array(199L, 3L, 150L, 4L, 10L, 5L, 151L).map(Long.box)))): Unit
    val lines = Map(lo -> Seq(s"$lo\t3\t6", s"$lo\t10\t11"),
      hi -> Seq(s"$hi\t50\t52", s"$hi\t99\t100"))
    val expected = Seq(lo, hi).sorted.flatMap(lines).mkString("\n")
    assert(dvBodies(dir) == Seq(expected))
    assert(spark.table(t).count() == 193L)
  }

  test("matches spanning several files and scan splits still write one DV per directory") {
    import spark.implicits._
    val t = tbl("m9")
    spark.conf.set("graft.staged.rowgroup.bytes", "4096")
    try {
      (0L until 12000L).map(i => (i, i % 2, s"name-$i")).toDF("id", "g", "name")
        .repartitionByRange(3, $"id")
        .writeTo(t).tableProperty("delete.mode", "merge-on-read")
        .partitionedBy(col("g")).option("graft.write.distribute", "none")
        .createOrReplace()
    } finally spark.conf.unset("graft.staged.rowgroup.bytes")
    val dir = StagedParquet.tableDir(spark, t)
    assert(files(s"$dir/g=0").size == 3 && files(s"$dir/g=1").size == 3)
    // a contiguous id band plus scattered ids: every file of both dirs
    val targets = ((3000L until 3300L) ++ (0L until 12000L by 997L)).distinct
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    val rep = try StagedParquet.deleteWhere(spark, t, Seq(
        org.apache.spark.sql.sources.In("id", targets.map(Long.box).toArray)))
      finally {
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
      }
    assert(rep.map(r => (r._1, r._2, r._3)) == Seq(("g=0", "dv", 3L), ("g=1", "dv", 3L)),
      s"one vector per directory, every file matched: $rep")
    for (g <- 0 to 1) {
      val bodies = dvBodies(s"$dir/g=$g")
      assert(bodies.length == 1, s"g=$g holds ${bodies.length} vectors")
      val runs = bodies.head.split("\n").toSeq.map(_.split("\t"))
        .map(a => (a(0), a(1).toLong, a(2).toLong))
      assert(runs == runs.sortBy(r => (r._1, r._2)), "lines sorted by file, then start")
      assert(runs.forall(r => r._2 < r._3))
      assert(runs.map(r => r._3 - r._2).sum == targets.count(_ % 2 == g).toLong)
    }
    assert(spark.table(t).count() == 12000L - targets.length)
    assert(spark.table(t).filter($"id".isin(targets.map(Long.box): _*)).count() == 0L)
  }

  test("readTable (the merge/upsert read) applies vectors; row-group splits honor rowStart") {
    import spark.implicits._
    val t = tbl("m6")
    spark.conf.set("graft.staged.rowgroup.bytes", "16384")
    spark.conf.set("graft.staged.split.bytes", "1")
    try {
      (0L until 20000L).map(i => (i, s"name-$i", i * 0.5)).toDF("id", "name", "v")
        .coalesce(1)
        .writeTo(t).tableProperty("delete.mode", "merge-on-read")
        .option("graft.write.distribute", "none").createOrReplace()
      // positions span several row groups: the per-row-group splits must
      // each apply the file-absolute ranges from their own rowStart
      StagedParquet.deleteWhere(spark, t, Seq(
        org.apache.spark.sql.sources.In("id",
          Array(5L, 7000L, 7001L, 13000L, 19999L)))): Unit
      assert(StagedParquet.readTable(spark, t).count() == 19995L)
      assert(spark.table(t).filter($"id" >= 6990L && $"id" <= 7010L).count() == 19L)
      assert(spark.table(t).filter($"id" === 13000L).count() == 0L)
      assert(spark.table(t).filter($"id" === 13001L).select($"v")
        .as[Double].head() == 6500.5)
    } finally {
      spark.conf.unset("graft.staged.rowgroup.bytes")
      spark.conf.unset("graft.staged.split.bytes")
    }
  }

  test("one read applies a vector under row-group splits to a renamed column") {
    import spark.implicits._
    val t = tbl("m7")
    spark.conf.set("graft.staged.rowgroup.bytes", "16384")
    spark.conf.set("graft.staged.split.bytes", "1")
    try {
      (0L until 20000L).map(i => (i, i * 0.5)).toDF("id", "v")
        .coalesce(1)
        .writeTo(t).tableProperty("delete.mode", "merge-on-read")
        .option("graft.write.distribute", "none").createOrReplace()
      spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO amount")
      val gone = Seq(3L, 6999L, 7000L, 14001L, 19999L)
      val rep = StagedParquet.deleteWhere(spark, t, Seq(
        org.apache.spark.sql.sources.In("id", gone.map(Long.box).toArray)))
      assert(rep.map(_._2) == Seq("dv"), s"expected one dv action, got $rep")
      val read = spark.table(t)
      assert(read.rdd.getNumPartitions > 1, "expected one split per row group")
      // the renamed column's bytes live under the old name in the only
      // file; each split applies the file-absolute positions
      val back = read.as[(Long, Double)].collect()
      val rows = back.length
      assert(rows == 19995)
      assert(back.map(_._1).toSet == (0L until 20000L).toSet -- gone)
      assert(back.forall { case (id, a) => a == id * 0.5 })
      // zone-map pruning by the old-named stats keeps the live neighbours
      assert(read.filter($"amount" >= 3499.0 && $"amount" <= 3501.0)
        .select($"id").as[Long].collect().sorted.toSeq == Seq(6998L, 7001L, 7002L))
    } finally {
      spark.conf.unset("graft.staged.rowgroup.bytes")
      spark.conf.unset("graft.staged.split.bytes")
    }
  }
}
