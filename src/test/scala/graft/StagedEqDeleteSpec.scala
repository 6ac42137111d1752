package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** EQUALITY DELETES (`graft.upsert.eq` + [[graft.sources.v2.StagedParquet]]
  * writeEqFile/materializeEqDeletes — Iceberg format-v2's second delete
  * kind, r12 VERDICT #3). Contracts under test:
  *   - an eq-mode upsert epoch NEVER scans the destination: no deletion
  *     vectors, no rewrites — pre-existing files stay byte-untouched and
  *     the epoch's only destination writes are its own files + one
  *     `_eq-*` key file (cost ∝ epoch, at any destination size);
  *   - reads apply the eq filters exactly: latest-per-key, the epoch's
  *     OWN rows survive (add-version boundary), re-inserted keys
  *     reappear, projections that drop the key still filter, count(*)
  *     takes the row path (footer counts would include deleted rows);
  *   - replay idempotence: re-draining a drained stream changes nothing;
  *   - time travel: AS OF below the eq commit sees the pre-delete state,
  *     at it the latest-per-key state — and BOTH survive materialization
  *     (retired eq files resolve under __meta/eqfiles);
  *   - compaction MATERIALIZES the eq files into the physical tiers and
  *     drops the flag; results unchanged;
  *   - row-level DELETE on an eq-bearing table settles the eq files
  *     first (a COW rewrite would reset add versions and re-expose
  *     rewritten rows to older filters);
  *   - the change feed rejects ranges crossing an eq commit.
  */
class StagedEqDeleteSpec extends AnyFunSuite {
  private lazy val spark = { graft.sources.v2.StagedParquet.ensureCatalog(TestSpark.spark); TestSpark.spark }
  private def tbl(t: String) = s"graft_staged.eqspec.$t"
  import graft.sources.v2.StagedParquet

  private def dataFiles(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f)
      else Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
    walk(new java.io.File(dir))
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(f => f.getName -> (f.length, f.lastModified)).toMap
  }
  private def rootEqFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("_eq-")).map(_.getName).toSeq
  private def dvFiles(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f)
      else Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
    walk(new java.io.File(dir)).filter(_.getName.startsWith("_dv-")).map(_.getName).toSeq
  }

  private def drainEq(src: String, dst: String, ckpt: String): Unit = {
    val q = spark.readStream.table(src)
      .writeStream.option("checkpointLocation", ckpt)
      .option("graft.upsert.key", "id")
      .option("graft.upsert.eq", "true")
      .trigger(Trigger.AvailableNow()).toTable(dst)
    q.awaitTermination()
  }

  test("eq epoch applies latest-per-key with ZERO destination-file writes") {
    import spark.implicits._
    val src = tbl("src1")
    val dst = tbl("dst1")
    val dstDir = StagedParquet.tableDir(spark, dst)
    def snap = (0L until 2000L).map(i => (i, i * 1.0)).toDF("id", "v")
    snap.filter(lit(false)).writeTo(dst)
      .tableProperty("delete.mode", "merge-on-read")
      .partitionedBy(org.apache.spark.sql.functions.bucket(4, col("id")))
      .createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("eq_ckpt1").toString
    snap.writeTo(src).createOrReplace()
    drainEq(src, dst, ckpt)
    // initial load into an empty table: no pre-existing rows, so no eq
    // file — the snapshot epoch costs exactly its own writes
    assert(spark.table(dst).count() == 2000L)
    assert(rootEqFiles(dstDir).isEmpty, "initial load must not write an eq file")
    val afterSnap = dataFiles(dstDir)
    val eqEpochs0 = StagedParquet.upsertEqEpochs.get()
    snap.filter($"id" < 50L).withColumn("v", $"v" * 10).writeTo(src).append()
    drainEq(src, dst, ckpt)
    assert(StagedParquet.upsertEqEpochs.get() == eqEpochs0 + 1)
    // rows: latest-per-key, the epoch's own rows survive its eq filter
    assert(spark.table(dst).count() == 2000L, "upsert must not grow the key set")
    assert(spark.table(dst).filter($"id" < 50L && $"v" =!= $"id" * 10.0).count() == 0L)
    assert(spark.table(dst).filter($"id" >= 50L && $"v" =!= $"id" * 1.0).count() == 0L)
    // the epoch's destination footprint: own files + ONE eq file; every
    // pre-existing file byte-identical, and — unlike the position-delete
    // path — NO deletion vector was written (nothing scanned for positions)
    val afterWave = dataFiles(dstDir)
    assert(afterSnap.forall { case (n, m) => afterWave.get(n).contains(m) },
      "an eq epoch must not touch pre-existing files")
    assert(rootEqFiles(dstDir).length == 1, s"got ${rootEqFiles(dstDir)}")
    assert(dvFiles(dstDir).isEmpty, "eq mode must not write deletion vectors")
    // projection that drops the key still filters (the reader extends its
    // decode set by the key column)
    assert(spark.table(dst).select(sum($"v")).as[Double].head() ==
      (0L until 2000L).map(i => if (i < 50) i * 10.0 else i * 1.0).sum)
    // replay idempotence
    drainEq(src, dst, ckpt)
    assert(spark.table(dst).count() == 2000L)
    assert(rootEqFiles(dstDir).length == 1, "a replayed epoch must not re-write its eq file")
  }

  test("mixed waves: updates + inserts + re-touched keys across three epochs") {
    import spark.implicits._
    val src = tbl("src2")
    val dst = tbl("dst2")
    def df(ids: Range, tag: String) = ids.map(i => (i.toLong, s"$tag$i")).toDF("id", "s")
    df(0 until 0, "x").writeTo(dst).createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("eq_ckpt2").toString
    df(0 until 100, "a").writeTo(src).createOrReplace()
    drainEq(src, dst, ckpt)
    df(50 until 150, "b").writeTo(src).append() // 50 updates + 50 inserts
    drainEq(src, dst, ckpt)
    df(40 until 60, "c").writeTo(src).append()  // re-touch across both waves
    drainEq(src, dst, ckpt)
    assert(spark.table(dst).count() == 150L)
    assert(spark.table(dst).select(countDistinct($"id")).as[Long].head() == 150L)
    val got = spark.table(dst).as[(Long, String)].collect().toMap
    assert((0 until 40).forall(i => got(i.toLong) == s"a$i"))
    assert((40 until 60).forall(i => got(i.toLong) == s"c$i"))
    assert((60 until 150).forall(i => got(i.toLong) == s"b$i"))
    // count(*) on the flagged table takes the row path and stays exact
    assert(spark.sql(s"SELECT count(*) FROM $dst").as[Long].head() == 150L)
  }

  test("time travel around eq commits, before and after materialization") {
    import spark.implicits._
    val src = tbl("src3")
    val dst = tbl("dst3")
    val d = StagedParquet.tableDir(spark, dst)
    def snap = (0L until 500L).map(i => (i, i * 1.0)).toDF("id", "v")
    snap.filter(lit(false)).writeTo(dst)
      .tableProperty("delete.mode", "merge-on-read").createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("eq_ckpt3").toString
    snap.writeTo(src).createOrReplace()
    drainEq(src, dst, ckpt)
    val vSnap = StagedParquet.currentVersion(d)
    snap.filter($"id" < 30L).withColumn("v", $"v" * 10).writeTo(src).append()
    drainEq(src, dst, ckpt)
    val vEq = StagedParquet.currentVersion(d) // adds at vEq-1, eq mark at vEq
    assert(vEq == vSnap + 2)
    def checks(): Unit = {
      assert(spark.sql(s"SELECT * FROM $dst VERSION AS OF $vSnap").count() == 500L)
      assert(spark.sql(
        s"SELECT sum(v) FROM $dst VERSION AS OF $vSnap").as[Double].head() ==
        (0L until 500L).map(_ * 1.0).sum)
      // between the adds and the eq commit: the documented
      // maintenance-window state — both copies visible
      assert(spark.sql(s"SELECT * FROM $dst VERSION AS OF ${vEq - 1}").count() == 530L)
      // at the eq commit: latest-per-key
      assert(spark.sql(s"SELECT * FROM $dst VERSION AS OF $vEq").count() == 500L)
      assert(spark.sql(
        s"SELECT sum(v) FROM $dst VERSION AS OF $vEq").as[Double].head() ==
        (0L until 500L).map(i => if (i < 30) i * 10.0 else i * 1.0).sum)
    }
    checks()
    // materialize (compaction path) and re-run EVERY check: the live
    // state is unchanged, the flag drops, and the historical versions
    // resolve the retired eq file under __meta/eqfiles
    StagedParquet.compact(spark, dst): Unit
    assert(rootEqFiles(d).isEmpty)
    assert(!StagedParquet.hasEqFlag(new org.apache.hadoop.fs.Path(d)))
    // the eq file is RETIRED, never deleted: under __meta/eqfiles, or —
    // unpartitioned layout, where the group delete mutates by root swap —
    // riding a retained root tree
    val retired = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      walk(new java.io.File(s"${d}__meta")).exists(_.getName.startsWith("_eq-"))
    }
    assert(retired, "materialization must RETIRE, not delete")
    assert(spark.table(dst).count() == 500L)
    assert(spark.table(dst).select(sum($"v")).as[Double].head() ==
      (0L until 500L).map(i => if (i < 30) i * 10.0 else i * 1.0).sum)
    checks()
  }

  test("row-level DELETE settles live eq files first, result exact") {
    import spark.implicits._
    val src = tbl("src4")
    val dst = tbl("dst4")
    val d = StagedParquet.tableDir(spark, dst)
    def snap = (0L until 400L).map(i => (i, i * 1.0)).toDF("id", "v")
    snap.filter(lit(false)).writeTo(dst).createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("eq_ckpt4").toString
    snap.writeTo(src).createOrReplace()
    drainEq(src, dst, ckpt)
    snap.filter($"id" < 20L).withColumn("v", $"v" * 10).writeTo(src).append()
    drainEq(src, dst, ckpt)
    assert(rootEqFiles(d).nonEmpty)
    spark.sql(s"DELETE FROM $dst WHERE id >= 300")
    // the DELETE materialized the eq files before rewriting anything
    assert(rootEqFiles(d).isEmpty)
    assert(spark.table(dst).count() == 300L)
    assert(spark.table(dst).select(sum($"v")).as[Double].head() ==
      (0L until 300L).map(i => if (i < 20) i * 10.0 else i * 1.0).sum)
  }

  test("change feed rejects ranges crossing an eq commit") {
    import spark.implicits._
    val src = tbl("src5")
    val dst = tbl("dst5")
    val d = StagedParquet.tableDir(spark, dst)
    def snap = (0L until 200L).map(i => (i, i * 1.0)).toDF("id", "v")
    snap.filter(lit(false)).writeTo(dst).createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("eq_ckpt5").toString
    snap.writeTo(src).createOrReplace()
    drainEq(src, dst, ckpt)
    val v0 = StagedParquet.currentVersion(d)
    snap.filter($"id" < 10L).writeTo(src).append()
    drainEq(src, dst, ckpt)
    val e = intercept[Exception] {
      StagedParquet.changesBetween(spark, dst, v0, StagedParquet.currentVersion(d)).count()
    }
    assert(e.getMessage.contains("equality-delete"), s"got: $e")
  }

  test("a string-keyed eq epoch reads back through the V2 scan, latest per key") {
    import spark.implicits._
    val src = tbl("src6")
    val dst = tbl("dst6")
    val d = StagedParquet.tableDir(spark, dst)
    def df(ids: Range, tag: String) =
      ids.map(i => (f"k-$i%05d", s"$tag$i")).toDF("k", "s")
    def drain(ckpt: String): Unit = spark.readStream.table(src)
      .writeStream.option("checkpointLocation", ckpt)
      .option("graft.upsert.key", "k")
      .option("graft.upsert.eq", "true")
      .trigger(Trigger.AvailableNow()).toTable(dst).awaitTermination()
    df(0 until 0, "x").writeTo(dst).createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("eq_ckpt6").toString
    df(0 until 12000, "a").writeTo(src).createOrReplace()
    drain(ckpt)
    // 9000 updated keys span several of the reader's columnar batches
    // (4096 rows each): the key set must hold copies of the strings, not
    // views into a batch the next one overwrites
    df(1000 until 10000, "b").writeTo(src).append()
    drain(ckpt)
    assert(rootEqFiles(d).length == 1)
    val got = spark.table(dst).as[(String, String)].collect()
    val rows = got.length
    assert(rows == 12000, "every updated key must be deleted once")
    val byKey = got.toMap
    assert((0 until 12000).forall { i =>
      byKey(f"k-$i%05d") == (if (i >= 1000 && i < 10000) s"b$i" else s"a$i")
    })
    // a projection without the key still probes it
    assert(spark.table(dst).filter($"s".startsWith("a")).count() == 3000L)
  }
}
