package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Inspection (metadata) tables on staged tables
  * ([[graft.sources.v2.StagedMetaTables]] — Iceberg's `db.table.files` /
  * `.partitions` / `.history` / `.manifests` surface as a dotted suffix
  * through the catalog). Contracts under test:
  *   - `partitions`: one row per partition directory, unescaped partition
  *     value columns named by DIRECTORY name, live row counts = footer
  *     counts minus deletion-vector positions, deleted/bytes/file counts;
  *   - `files`: one row per committed data file with footer-exact counts;
  *   - `history`: one row per version, STRUCTURAL classification
  *     (append / delete / rewrite / replace) straight from the delta log;
  *   - `manifests`: the versions a new stream tail reads (version id, file
  *     count, txn marker);
  *   - the inspection NEVER reads data pages: the flat row reader
  *     (StagedReaderFactory) is not invoked at all;
  *   - a metadata suffix on a missing table still errors.
  */
class StagedMetaSpec extends AnyFunSuite {
  private lazy val spark = { graft.sources.v2.StagedParquet.ensureCatalog(TestSpark.spark); TestSpark.spark }
  private def tbl(t: String) = s"graft_staged.metaspec.$t"
  import graft.sources.v2.StagedParquet

  test("partitions: per-dir live/deleted counts, DV-aware, footer-only reads") {
    import spark.implicits._
    val t = tbl("p1")
    (0L until 3000L).map(i => (i, s"g${i % 3}", i * 1.5)).toDF("id", "g", "v")
      .writeTo(t).tableProperty("delete.mode", "merge-on-read")
      .partitionedBy(col("g")).createOrReplace()
    // sparse MOR delete: 5 rows of g0 via a deletion vector
    StagedParquet.deleteWhere(spark, t, Seq(
      org.apache.spark.sql.sources.In("id", Array(0L, 3L, 6L, 9L, 12L)))): Unit
    graft.sources.v2.StagedReaderFactory.readersCreated.set(0L)
    val rows = spark.table(s"$t.partitions")
      .orderBy("g").collect()
    assert(graft.sources.v2.StagedReaderFactory.readersCreated.get() == 0L,
      "inspection must never open the flat row reader (footers + DVs only)")
    assert(rows.map(_.getAs[String]("g")).toSeq == Seq("g0", "g1", "g2"))
    assert(rows.map(_.getAs[Long]("row_count")).toSeq == Seq(995L, 1000L, 1000L))
    assert(rows.map(_.getAs[Long]("deleted_count")).toSeq == Seq(5L, 0L, 0L))
    assert(rows.forall(_.getAs[Long]("bytes") > 0L))
    assert(rows.forall(_.getAs[Long]("file_count") >= 1L))
    // live counts agree with the actual scan at every lifecycle point
    val scanned = spark.table(t).groupBy("g").count()
      .orderBy("g").collect().map(_.getLong(1)).toSeq
    assert(rows.map(_.getAs[Long]("row_count")).toSeq == scanned)
  }

  test("files: one row per data file, per-file footer counts sum to the table") {
    import spark.implicits._
    val t = tbl("f1")
    (0L until 1200L).map(i => (i, s"k${i % 2}", i.toDouble)).toDF("id", "k", "v")
      .repartition(3) // 3 tasks x 2 dirs, distribution off: 3 files per dir
      .writeTo(t).option("graft.write.distribute", "none")
      .partitionedBy(col("k")).createOrReplace()
    val rows = spark.table(s"$t.files").collect()
    val dataFiles = new java.io.File(StagedParquet.tableDir(spark, t))
      .listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).count(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(rows.length == dataFiles, "one inspection row per committed file")
    assert(rows.map(_.getAs[Long]("row_count")).sum == 1200L)
    assert(rows.forall(_.getAs[Long]("bytes") > 0L))
    assert(rows.forall(_.getAs[String]("file").endsWith(".parquet")))
    // partition value column carries the unescaped dir value
    assert(rows.map(_.getAs[String]("k")).toSet == Set("k0", "k1"))
  }

  test("partition value columns unescape %XX directory encoding") {
    import spark.implicits._
    val t = tbl("esc")
    Seq((1L, "a/b"), (2L, "c=d"), (3L, "plain")).toDF("id", "g")
      .writeTo(t).partitionedBy(col("g")).createOrReplace()
    val got = spark.table(s"$t.partitions")
      .select("g").as[String].collect().toSet
    assert(got == Set("a/b", "c=d", "plain"),
      s"escaped dir values must round-trip through the inspection, got $got")
  }

  test("history: structural classification across a full lifecycle") {
    import spark.implicits._
    val t = tbl("h1")
    val d = StagedParquet.tableDir(spark, t)
    def src = (0L until 2000L).map(i => (i, s"g${i % 2}", i * 1.0)).toDF("id", "g", "v")
    src.writeTo(t).tableProperty("delete.mode", "merge-on-read")
      .partitionedBy(col("g")).createOrReplace()
    val base = StagedParquet.currentVersion(d)
    src.filter($"id" % 2 === 0).writeTo(t).append()           // base+1 append
    StagedParquet.deleteWhere(spark, t, Seq(                  // base+2 delete (DV)
      org.apache.spark.sql.sources.In("id", Array(4L, 8L)))): Unit
    StagedParquet.compact(spark, t): Unit                     // base+3 rewrite
    src.writeTo(t).tableProperty("delete.mode", "merge-on-read")
      .partitionedBy(col("g")).createOrReplace()              // base+4 replace
    val hist = spark.table(s"$t.history")
      .filter(col("version") > base).orderBy("version").collect()
    assert(hist.map(_.getAs[String]("change")).toSeq ==
      Seq("append", "delete", "rewrite", "replace"))
    val append = hist(0)
    assert(append.getAs[Long]("files_added") >= 1L)
    assert(append.getAs[Long]("dvs_added") == 0L)
    val del = hist(1)
    assert(del.getAs[Long]("files_added") == 0L)
    assert(del.getAs[Long]("dvs_added") >= 1L)
    assert(hist(2).getAs[Long]("dirs_rewritten") >= 1L)
    assert(hist(3).getAs[Long]("dirs_rewritten") == 1L) // the root swap
  }

  test("manifests: the commit log with txn markers, O(commits) rows") {
    import spark.implicits._
    val t = tbl("m1")
    Seq((1L, "x")).toDF("id", "s").writeTo(t).createOrReplace()
    Seq((2L, "y")).toDF("id", "s").writeTo(t).append()
    val rows = spark.table(s"$t.manifests").orderBy("manifest_id").collect()
    assert(rows.length >= 2)
    assert(rows.map(_.getAs[Long]("manifest_id")).toSeq ==
      rows.map(_.getAs[Long]("manifest_id")).toSeq.sorted)
    assert(rows.forall(_.getAs[Long]("file_count") >= 1L))
  }

  test("inspection tables are evolution-aware (old generations report)") {
    import spark.implicits._
    val t = tbl("evo")
    (0L until 600L).map(i => (i, s"g${i % 2}", i % 3)).toDF("id", "g", "k")
      .writeTo(t).partitionedBy(col("g")).createOrReplace()
    StagedParquet.evolvePartitioning(spark, t,
      Seq(graft.sources.v2.PartField("k", "identity"))): Unit
    (600L until 900L).map(i => (i, s"g${i % 2}", i % 3)).toDF("id", "g", "k")
      .writeTo(t).append()
    val rows = spark.table(s"$t.partitions").collect()
    // 2 old-generation dirs + 3 current-layout dirs, all reporting
    assert(rows.length == 5, s"expected 5 dirs, got ${rows.length}")
    assert(rows.map(_.getAs[Long]("row_count")).sum == 900L)
    val (old, cur) = rows.partition(
      _.getAs[String]("partition").startsWith("_layouts/"))
    assert(old.length == 2 && cur.length == 3)
    // old dirs carry no value for the CURRENT spec's field (their
    // generation never had it) but stay fully described by `partition`;
    // current dirs fill it
    assert(old.forall(r => r.getAs[String]("k") == null &&
      r.getAs[String]("partition").contains("g=")))
    assert(cur.forall(r => r.getAs[String]("k") != null))
  }

  test("metadata suffix on a missing table still errors") {
    intercept[Exception] {
      spark.table(s"${tbl("nope")}.partitions").collect()
    }
  }
}
