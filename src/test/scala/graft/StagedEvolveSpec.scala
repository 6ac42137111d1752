package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Partition-spec EVOLUTION on staged tables
  * ([[graft.sources.v2.StagedParquet.evolvePartitioning]] /
  * [[graft.sources.v2.StagedParquet.migrateLayouts]] — Iceberg's flagship
  * metadata operation). Contracts under test:
  *   - evolution is METADATA-ONLY: every data file survives by rename
  *     (same length and mtime), zero bytes rewritten;
  *   - mixed-layout reads are exact — including filters on a column that
  *     was identity in the OLD spec (absent from old footers: the
  *     zone-map guard must not skip those files) and on the new
  *     partition column;
  *   - pruning still prunes: a filter on the current partition column
  *     opens only the matching current-layout dirs plus the (conservative)
  *     old generation;
  *   - DELETE / UPDATE / compaction reach every generation with its own
  *     spec and tiering; the statement stays bounded-jobs;
  *   - the streaming tail SURVIVES evolution (adds recorded before an
  *     `!evolve` mark resolve under its generation): a
  *     checkpointed stream resumes across an evolve with no replay and no
  *     loss;
  *   - time travel reconstructs pre-evolution versions at the old layout;
  *     the change feed rejects ranges crossing an evolution;
  *   - migrateLayouts settles old generations into the current layout
  *     (row-exact, generations emptied, idempotent rerun) and the
  *     footer-agg pushdown returns;
  *   - dynamic partition overwrite on an unsettled table fails loudly.
  */
class StagedEvolveSpec extends AnyFunSuite {
  private lazy val spark = { graft.sources.v2.StagedParquet.ensureCatalog(TestSpark.spark); TestSpark.spark }
  private def tbl(t: String) = s"graft_staged.evolvespec.$t"
  import graft.sources.v2.{PartField, StagedParquet}

  private def dataFiles(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f)
      else Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
    walk(new java.io.File(dir))
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(f => f.getName -> (f.length, f.lastModified)).toMap
  }

  test("evolve is metadata-only; mixed-layout reads and filters are exact") {
    import spark.implicits._
    val t = tbl("e1")
    val dir = StagedParquet.tableDir(spark, t)
    (0L until 3000L).map(i => (i, s"p${i % 3}", i % 7, i * 2.0))
      .toDF("id", "prio", "grp", "v")
      .writeTo(t).partitionedBy(col("prio")).createOrReplace()
    val before = dataFiles(dir)
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("grp", "identity"))): Unit
    // every pre-evolution file survived by RENAME: same name/len/mtime
    assert(dataFiles(dir) == before, "evolution must not rewrite a byte")
    // post-evolution rows land in the new layout
    (3000L until 4500L).map(i => (i, s"p${i % 3}", i % 7, i * 2.0))
      .toDF("id", "prio", "grp", "v").writeTo(t).append()
    assert(new java.io.File(dir, "grp=0").exists,
      "appends after evolve must use the new spec's directories")
    val df = spark.table(t)
    assert(df.count() == 4500L)
    // filter on the OLD identity column: absent from old-gen footers
    // (reconstituted from dirs) AND stored in new-gen files — both sides
    // must return exactly their rows
    assert(df.filter($"prio" === "p1").count() == 1500L)
    // filter on the NEW partition column: stored in old-gen files,
    // directory-valued in the new layout
    assert(df.filter($"grp" === 3L).count() ===
      (0L until 4500L).count(_ % 7 == 3).toLong)
    // a point lookup crossing both layouts
    assert(df.filter($"id" === 2999L).select($"prio", $"grp").as[(String, Long)]
      .head() == (("p2", 2999L % 7)))
    assert(df.filter($"id" === 3001L).select($"prio", $"grp").as[(String, Long)]
      .head() == (("p1", 3001L % 7)))
  }

  test("current-layout pruning still prunes after evolve") {
    import spark.implicits._
    val t = tbl("e2")
    (0L until 1200L).map(i => (i, s"p${i % 2}", i % 4)).toDF("id", "prio", "grp")
      .writeTo(t).partitionedBy(col("prio")).createOrReplace()
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("grp", "identity"))): Unit
    (1200L until 2400L).map(i => (i, s"p${i % 2}", i % 4)).toDF("id", "prio", "grp")
      .writeTo(t).append()
    graft.sources.v2.StagedReaderFactory.readersCreated.set(0L)
    val n = spark.table(t).filter($"grp" === 1L).count()
    val opened = graft.sources.v2.StagedReaderFactory.readersCreated.get()
    assert(n == (0L until 2400L).count(_ % 4 == 1).toLong)
    // 2 old-gen dirs (conservative: grp not in their spec) + 1 of the 4
    // new-layout dirs — the other 3 new dirs never open
    assert(opened <= 3L, s"pruned read opened $opened splits, expected <= 3")
  }

  test("DELETE and UPDATE reach every generation with its own tiering") {
    import spark.implicits._
    val t = tbl("e3")
    (0L until 2000L).map(i => (i, s"p${i % 2}", i % 4, i * 1.0))
      .toDF("id", "prio", "grp", "v")
      .writeTo(t).partitionedBy(col("prio")).createOrReplace()
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("grp", "identity"))): Unit
    (2000L until 4000L).map(i => (i, s"p${i % 2}", i % 4, i * 1.0))
      .toDF("id", "prio", "grp", "v").writeTo(t).append()
    // band delete crossing BOTH layouts
    spark.sql(s"DELETE FROM $t WHERE id >= 1500 AND id < 2500")
    assert(spark.table(t).count() == 3000L)
    assert(spark.table(t).filter($"id" >= 1500L && $"id" < 2500L).count() == 0L)
    // tier-1 on the OLD spec: an identity predicate of the old generation
    // drops its dir without reading a byte and leaves the new layout alone
    val rep = StagedParquet.deleteWhere(spark, t, Seq(
      org.apache.spark.sql.sources.EqualTo("prio", "p0"),
      org.apache.spark.sql.sources.LessThan("id", 1000L)))
    assert(rep.nonEmpty && rep.forall(_._1.startsWith("_layouts/")),
      s"old-identity delete must touch only old-generation dirs, got $rep")
    assert(spark.table(t).filter($"prio" === "p0" && $"id" < 1000L).count() == 0L)
    assert(spark.table(t).filter($"prio" === "p1" && $"id" < 1000L).count() == 500L)
    // UPDATE with a SET column that is data in every layout
    StagedParquet.updateWhere(spark, t,
      Seq("v" -> (col("v") + 100000.0)),
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 3900L))): Unit
    assert(spark.table(t).filter($"id" >= 3900L && $"v" < 100000.0).count() == 0L)
    // SET on a column ANY layout partitions by is rejected
    intercept[IllegalArgumentException] {
      StagedParquet.updateWhere(spark, t, Seq("prio" -> lit("px")),
        Seq(org.apache.spark.sql.sources.EqualTo("grp", 0L)))
    }
  }

  test("compaction folds every generation in place") {
    import spark.implicits._
    val t = tbl("e4")
    (0L until 900L).map(i => (i, s"p${i % 3}", i % 2)).toDF("id", "prio", "grp")
      .repartition(3).writeTo(t).option("graft.write.distribute", "none")
      .partitionedBy(col("prio")).createOrReplace() // 3 files per old dir
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("grp", "identity"))): Unit
    (900L until 1200L).map(i => (i, s"p${i % 3}", i % 2)).toDF("id", "prio", "grp")
      .repartition(4).writeTo(t).option("graft.write.distribute", "none")
      .append() // 4 files per new-layout dir
    val rep = StagedParquet.compact(spark, t)
    assert(rep.exists(_._1.startsWith("_layouts/")), "old gens must fold")
    assert(rep.exists(r => !r._1.startsWith("_layouts/")),
      "the current layout must fold")
    assert(rep.forall(_._3 == 1L), s"each dir folds to one file, got $rep")
    assert(spark.table(t).count() == 1200L)
    assert(spark.table(t).select(sum($"id")).as[Long].head() ==
      (0L until 1200L).sum)
  }

  test("root-swap mutations on an unpartitioned evolved table reject loudly") {
    import spark.implicits._
    val t = tbl("e4b")
    (0L until 300L).map(i => (i, s"p${i % 3}")).toDF("id", "prio")
      .repartition(2).writeTo(t).option("graft.write.distribute", "none")
      .partitionedBy(col("prio")).createOrReplace()
    StagedParquet.evolvePartitioning(spark, t, Seq.empty): Unit // unpartitioned
    (300L until 400L).map(i => (i, s"p${i % 3}")).toDF("id", "prio")
      .repartition(2).writeTo(t).option("graft.write.distribute", "none")
      .append()
    // an unpartitioned current layout mutates by ROOT swap, which would
    // strand the live generations in the retained tree — both maintenance
    // ops reject at analysis, nothing half-applies
    val e1 = intercept[IllegalArgumentException] {
      StagedParquet.compact(spark, t)
    }
    assert(e1.getMessage.contains("migrateLayouts"))
    val e2 = intercept[IllegalArgumentException] {
      StagedParquet.deleteWhere(spark, t, Seq(
        org.apache.spark.sql.sources.LessThan("id", 10L)))
    }
    assert(e2.getMessage.contains("migrateLayouts"))
    // SQL UPDATE / MERGE take the row-level path, whose root swap plus
    // runtime group filtering could close the live generations out of the
    // replacement (ADVICE r11) — gated at analysis like the others
    def deepMsg(t0: Throwable): String =
      Iterator.iterate(t0)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val e3 = intercept[Throwable] {
      spark.sql(s"UPDATE $t SET prio = 'px' WHERE id % 2 = 0")
    }
    assert(deepMsg(e3).contains("migrateLayouts"), s"got: ${deepMsg(e3)}")
    val e4 = intercept[Throwable] {
      spark.sql(s"MERGE INTO $t USING (SELECT 5L AS mid, 'pm' AS mprio) s " +
        s"ON $t.id = s.mid WHEN MATCHED THEN UPDATE SET prio = s.mprio")
    }
    assert(deepMsg(e4).contains("migrateLayouts"), s"got: ${deepMsg(e4)}")
    assert(spark.table(t).count() == 400L, "nothing may half-apply")
    // settling restores all of them
    StagedParquet.migrateLayouts(spark, t): Unit
    StagedParquet.deleteWhere(spark, t, Seq(
      org.apache.spark.sql.sources.LessThan("id", 10L))): Unit
    assert(spark.table(t).count() == 390L)
    spark.sql(s"UPDATE $t SET prio = 'px' WHERE id = 20")
    assert(spark.table(t).filter($"prio" === "px").count() == 1L)
  }

  test("a checkpointed stream tail survives evolution (manifest translation)") {
    import spark.implicits._
    val t = tbl("e5")
    val ckpt = java.nio.file.Files.createTempDirectory("evo_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("evo_out").toString
    (0L until 100L).map(i => (i % 4, i)).toDF("k", "id")
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    def drain(): Unit = {
      val q = spark.readStream.table(t)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() == 100L)
    // evolve, then append under the new spec: the SAME checkpoint must
    // deliver exactly the new rows (versions kept, paths resolved)
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("id", "bucket", 4))): Unit
    (100L until 140L).map(i => (i % 4, i)).toDF("k", "id").writeTo(t).append()
    drain()
    val ids = spark.read.parquet(out).select("id").as[Long].collect().sorted
    assert(ids.length == 140, s"resume across evolve must add only the 40 new rows, got ${ids.length}")
    assert(ids.toSeq == (0L until 140L).toSeq)
    // a FRESH stream replays the whole table, old adds resolved under g-0
    val ckpt2 = java.nio.file.Files.createTempDirectory("evo_ckpt2").toString
    val out2 = java.nio.file.Files.createTempDirectory("evo_out2").toString
    val q2 = spark.readStream.table(t)
      .writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val fresh = spark.read.parquet(out2)
    assert(fresh.count() == 140L)
    // identity values of the OLD spec reconstitute from translated paths
    assert(fresh.filter($"k" =!= $"id" % 4).count() == 0L)
  }

  test("a crash mid-evolve leaves every row readable; rerun converges") {
    import spark.implicits._
    val t = tbl("e5c")
    val d = StagedParquet.tableDir(spark, t)
    (0L until 1000L).map(i => (i, s"p${i % 4}", i % 3)).toDF("id", "prio", "grp")
      .writeTo(t).partitionedBy(col("prio")).createOrReplace()
    // replicate evolvePartitioning's state after a crash halfway through
    // the rename loop: generation dir created, its spec PINNED (the r11
    // fix — spec lands before any move), one of four prio dirs moved
    val gen = new java.io.File(d, "_layouts/g-0")
    assert(gen.mkdirs())
    java.nio.file.Files.write(gen.toPath.resolve("_partition.json"),
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(d, "_partition.json")))
    assert(new java.io.File(d, "prio=p2").renameTo(new java.io.File(gen, "prio=p2")))
    // the mid-crash table reads EXACTLY: the moved dir plans under the
    // generation with the pinned spec, the unmoved dirs at the root —
    // nothing lost, nothing doubled (this is also what a CONCURRENT
    // reader sees while a live evolve is mid-move)
    assert(spark.table(t).count() == 1000L)
    assert(spark.table(t).filter($"prio" === "p2").count() == 250L)
    assert(spark.table(t).filter($"prio" === "p1").count() == 250L)
    // rerun (the documented recovery): the stragglers move into a FRESH
    // generation and the root takes the new spec
    // (entries for files the crashed attempt moved resolve against g-0)
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("grp", "identity"))): Unit
    (1000L until 1300L).map(i => (i, s"p${i % 4}", i % 3)).toDF("id", "prio", "grp")
      .writeTo(t).append()
    assert(spark.table(t).count() == 1300L)
    assert(spark.table(t).filter($"prio" === "p2").count() ==
      (0L until 1300L).count(_ % 4 == 2).toLong)
    assert(spark.table(t).filter($"grp" === 1L).count() ==
      (0L until 1300L).count(_ % 3 == 1).toLong)
    // a fresh stream replays the whole table (every recorded add
    // resolves at its actual location)
    val ckpt = java.nio.file.Files.createTempDirectory("evoc_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("evoc_out").toString
    val q = spark.readStream.table(t)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 1300L)
  }

  test("a second evolution leaves first-generation manifest entries alone") {
    import spark.implicits._
    val t = tbl("e5d")
    val d = StagedParquet.tableDir(spark, t)
    val ckpt = java.nio.file.Files.createTempDirectory("evo2_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("evo2_out").toString
    (0L until 120L).map(i => (i % 4, i, i % 3)).toDF("k", "id", "grp")
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    def drain(): Unit = {
      val q = spark.readStream.table(t)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("id", "bucket", 4))): Unit
    (120L until 160L).map(i => (i % 4, i, i % 3)).toDF("k", "id", "grp")
      .writeTo(t).append()
    // the stream is deliberately LAGGING across the second evolve: rows
    // 120..160 are unconsumed when evolution #2 runs, so their recorded
    // adds must resolve under g-1, and no log entry may carry a doubled
    // prefix (a former bug rewrote them to `_layouts/g-1/_layouts/g-0/...`,
    // paths that never exist, and the tail failed its exists check)
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("grp", "identity"))): Unit
    val doubled = StagedParquet.deltaLog(d).flatMap(_.adds)
      .filter(l => l.sliding("_layouts/".length).count(_ == "_layouts/") > 1 ||
        l.contains("_layouts/g-1/_layouts"))
    assert(doubled.isEmpty, s"double-prefixed commit-log entries: ${doubled.toSeq}")
    (160L until 200L).map(i => (i % 4, i, i % 3)).toDF("k", "id", "grp")
      .writeTo(t).append()
    // the lagging tail resumes across BOTH evolutions: exactly the 80
    // unconsumed rows arrive, each from its correct generation
    drain()
    import spark.implicits._
    val ids = spark.read.parquet(out).select("id").as[Long].collect().sorted
    assert(ids.length == 200, s"expected 200 rows after resume, got ${ids.length}")
    assert(ids.toSeq == (0L until 200L).toSeq)
    // and a FRESH stream replays the whole table through the healed log
    val ckpt2 = java.nio.file.Files.createTempDirectory("evo2_ckpt2").toString
    val out2 = java.nio.file.Files.createTempDirectory("evo2_out2").toString
    val q2 = spark.readStream.table(t)
      .writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.read.parquet(out2).count() == 200L)
  }

  test("time travel reconstructs pre-evolution versions; CDF rejects the crossing") {
    import spark.implicits._
    val t = tbl("e6")
    val d = StagedParquet.tableDir(spark, t)
    (0L until 600L).map(i => (i, s"p${i % 2}")).toDF("id", "prio")
      .writeTo(t).partitionedBy(col("prio")).createOrReplace()
    val v1 = StagedParquet.currentVersion(d)
    StagedParquet.evolvePartitioning(spark, t, Seq.empty): Unit
    (600L until 900L).map(i => (i, s"p${i % 2}")).toDF("id", "prio")
      .writeTo(t).append()
    val vHead = StagedParquet.currentVersion(d)
    // pre-evolution version: the old layout, old partitioning, exact rows
    val old = spark.sql(s"SELECT * FROM $t VERSION AS OF $v1")
    assert(old.count() == 600L)
    assert(old.filter($"prio" === "p0").count() == 300L)
    // head version through the snapshot path: the mixed state
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF $vHead").count() == 900L)
    val e = intercept[Exception] {
      StagedParquet.changesBetween(spark, t, v1, vHead).count()
    }
    assert(e.getMessage.contains("evolution"),
      s"CDF across an evolve must reject loudly, got: ${e.getMessage}")
    // the feed still serves ranges on either side of the evolution
    assert(StagedParquet.changesBetween(spark, t, vHead - 1, vHead)
      .filter($"_change_type" === "insert").count() == 300L)
  }

  test("migrateLayouts settles generations row-exactly and is idempotent") {
    import spark.implicits._
    val t = tbl("e7")
    val d = StagedParquet.tableDir(spark, t)
    (0L until 1000L).map(i => (i, s"p${i % 2}", i % 5)).toDF("id", "prio", "grp")
      .writeTo(t).partitionedBy(col("prio")).createOrReplace()
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("grp", "identity"))): Unit
    (1000L until 1400L).map(i => (i, s"p${i % 2}", i % 5)).toDF("id", "prio", "grp")
      .writeTo(t).append()
    assert(StagedParquet.oldLayoutsHoldData(d))
    val rep = StagedParquet.migrateLayouts(spark, t)
    assert(rep.map(_._2).sum == 1000L, s"migrated row count, got $rep")
    assert(!StagedParquet.oldLayoutsHoldData(d), "generations must be empty")
    assert(spark.table(t).count() == 1400L)
    assert(spark.table(t).select(sum($"id")).as[Long].head() ==
      (0L until 1400L).sum)
    // every row now lives in the current layout: grp pruning opens 1/5
    graft.sources.v2.StagedReaderFactory.readersCreated.set(0L)
    assert(spark.table(t).filter($"grp" === 2L).count() ==
      (0L until 1400L).count(_ % 5 == 2).toLong)
    val opened = graft.sources.v2.StagedReaderFactory.readersCreated.get()
    assert(opened <= 2L, s"post-migration pruned read opened $opened")
    // rerun is a no-op
    assert(StagedParquet.migrateLayouts(spark, t).isEmpty)
    // footer-agg pushdown RETURNS once the generations are empty
    graft.sources.v2.StagedReaderFactory.readersCreated.set(0L)
    assert(spark.table(t).groupBy($"grp").count().collect().length == 5)
    assert(graft.sources.v2.StagedReaderFactory.readersCreated.get() == 0L,
      "count-by-partition must answer from footers after migration")
    // time travel to the pre-migration mixed state still works
    val vPre = StagedParquet.currentVersion(d) - 2 // before append+drop
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF $vPre").count() == 1400L)
  }

  test("migrateLayouts resumes a crash mid-swap without duplicating or losing rows") {
    import spark.implicits._
    val t = tbl("e7c")
    val d = StagedParquet.tableDir(spark, t)
    (0L until 800L).map(i => (i, s"p${i % 2}", i % 4)).toDF("id", "prio", "grp")
      .writeTo(t).partitionedBy(col("prio")).createOrReplace()
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("grp", "identity"))): Unit
    (800L until 1000L).map(i => (i, s"p${i % 2}", i % 4)).toDF("id", "prio", "grp")
      .writeTo(t).append()
    // Replicate a crash INSIDE the swap phase: run the append half by
    // hand (exactly what migrateLayouts does), pin the swapping marker,
    // rename ONE of the two generation dirs — then "crash" before the
    // second rename and before recordVersion.
    val vPreAppend = StagedParquet.currentVersion(d)
    spark.sql(s"SELECT * FROM $t").filter($"id" < 800L)
      .writeTo(t).append() // the migrate append (old-gen rows = id < 800)
    val v = StagedParquet.currentVersion(d) + 1
    val gen = new java.io.File(d, "_layouts/g-0")
    val swaps = Seq("_layouts/g-0/prio=p0", "_layouts/g-0/prio=p1")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d, "_migrate-g-0"),
      s"swapping:$v:${swaps.mkString(",")}:#".getBytes("UTF-8"))
    val keep0 = new java.io.File(s"${d}__meta/v${v - 1}/_layouts/g-0")
    assert(keep0.mkdirs())
    assert(new java.io.File(gen, "prio=p0")
      .renameTo(new java.io.File(keep0, "prio=p0")))
    // mid-crash: the table double-counts the already-appended old-gen rows
    // still sitting in prio=p1 — that's the DOCUMENTED maintenance-window
    // state, not the converged one. The rerun must converge it:
    val rep = StagedParquet.migrateLayouts(spark, t)
    assert(rep.exists(_._1 == "_layouts/g-0"),
      s"rerun must settle the crashed generation, got $rep")
    assert(spark.table(t).count() == 1000L,
      "no duplicated and no lost rows after the resumed settle")
    assert(spark.table(t).select(sum($"id")).as[Long].head() ==
      (0L until 1000L).sum)
    assert(!StagedParquet.oldLayoutsHoldData(d))
    assert(!new java.io.File(d, "_migrate-g-0").exists, "marker must drop")
    // the resumed swap recorded its version: time travel right below the
    // settle sees the pre-drop state (appended rows + retained gen)
    assert(StagedParquet.currentVersion(d) >= v)
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF $vPreAppend").count() == 1000L)
    // rerun after convergence is a no-op
    assert(StagedParquet.migrateLayouts(spark, t).isEmpty)
  }

  test("migrateLayouts rerun after a crash between append and swap pinning") {
    import spark.implicits._
    val t = tbl("e7d")
    val d = StagedParquet.tableDir(spark, t)
    (0L until 600L).map(i => (i, s"p${i % 2}", i % 3)).toDF("id", "prio", "grp")
      .writeTo(t).partitionedBy(col("prio")).createOrReplace()
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("grp", "identity"))): Unit
    // crash state: pending marker written at the PINNED version, append
    // COMMITTED, swap plan never pinned (the pre-fix in-lroot marker
    // deleted-before-rename window is gone by construction — the marker
    // now lives at the root and flips pending→swapping atomically)
    val v0 = StagedParquet.currentVersion(d)
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "_migrate-g-0"),
      s"pending:$v0:#".getBytes("UTF-8"))
    spark.sql(s"SELECT * FROM $t").writeTo(t).append() // the migrate append
    // rerun: pending + version advanced ⇒ the append is NOT redone
    val rep = StagedParquet.migrateLayouts(spark, t)
    assert(rep.map(_._2).sum == 600L, s"got $rep")
    assert(spark.table(t).count() == 600L,
      "a redone append would have duplicated every old-generation row")
    assert(!StagedParquet.oldLayoutsHoldData(d))
    assert(StagedParquet.migrateLayouts(spark, t).isEmpty)
  }

  test("migrateLayouts tolerates a torn swapping marker (falls back to swap redo)") {
    import spark.implicits._
    val t = tbl("e7e")
    val d = StagedParquet.tableDir(spark, t)
    (0L until 400L).map(i => (i, s"p${i % 2}", i % 3)).toDF("id", "prio", "grp")
      .writeTo(t).partitionedBy(col("prio")).createOrReplace()
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("grp", "identity"))): Unit
    // crash state: append COMMITTED, the marker flip tore mid-write — the
    // body is a truncated plan that parses as neither phase (the pre-fix
    // parser MatchError'd on exactly this body and wedged every later
    // migrate until the marker was removed by hand; r12 ADVICE)
    spark.sql(s"SELECT * FROM $t").writeTo(t).append()
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "_migrate-g-0"),
      "swapping:5".getBytes("UTF-8"))
    val rep = StagedParquet.migrateLayouts(spark, t)
    assert(rep.exists(_._1 == "_layouts/g-0"), s"got $rep")
    assert(spark.table(t).count() == 400L,
      "the flip comes after the append decision: redoing the append would duplicate")
    assert(spark.table(t).select(sum($"id")).as[Long].head() ==
      (0L until 400L).sum)
    assert(!StagedParquet.oldLayoutsHoldData(d))
    assert(!new java.io.File(d, "_migrate-g-0").exists, "marker must drop")
    assert(StagedParquet.migrateLayouts(spark, t).isEmpty)
  }

  test("migrateLayouts adopts a completed flip whose rename never ran") {
    import spark.implicits._
    val t = tbl("e7f")
    val d = StagedParquet.tableDir(spark, t)
    (0L until 400L).map(i => (i, s"p${i % 2}", i % 3)).toDF("id", "prio", "grp")
      .writeTo(t).partitionedBy(col("prio")).createOrReplace()
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("grp", "identity"))): Unit
    // crash window between the flip's delete and its rename: the tmp body
    // is complete (it is fully written and closed before the live marker
    // is touched) but no live marker exists. Re-pinning fresh here would
    // redo the already-committed append and duplicate every old-gen row —
    // the resume pass must ADOPT the tmp as the pinned plan instead.
    spark.sql(s"SELECT * FROM $t").writeTo(t).append()
    val v = StagedParquet.currentVersion(d) + 1
    val swaps = Seq("_layouts/g-0/prio=p0", "_layouts/g-0/prio=p1")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d, "_migrate-g-0.tmp"),
      s"swapping:$v:${swaps.mkString(",")}:#".getBytes("UTF-8"))
    val rep = StagedParquet.migrateLayouts(spark, t)
    assert(rep.exists(_._1 == "_layouts/g-0"), s"got $rep")
    assert(spark.table(t).count() == 400L)
    assert(spark.table(t).select(sum($"id")).as[Long].head() ==
      (0L until 400L).sum)
    assert(!StagedParquet.oldLayoutsHoldData(d))
    assert(!new java.io.File(d, "_migrate-g-0").exists, "marker must drop")
    assert(!new java.io.File(d, "_migrate-g-0.tmp").exists, "tmp must drop")
    assert(StagedParquet.currentVersion(d) == v,
      "the adopted plan records at its pinned version")
    assert(StagedParquet.migrateLayouts(spark, t).isEmpty)
  }

  test("resumed migrate re-records when an append claimed the pinned version") {
    import spark.implicits._
    val t = tbl("e7g")
    val d = StagedParquet.tableDir(spark, t)
    (0L until 400L).map(i => (i, s"p${i % 2}", i % 3)).toDF("id", "prio", "grp")
      .writeTo(t).partitionedBy(col("prio")).createOrReplace()
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("grp", "identity"))): Unit
    // crash state mid-swap, exactly like e7c: append committed, plan
    // pinned at v, ONE of the two generation dirs already retained
    spark.sql(s"SELECT * FROM $t").writeTo(t).append()
    val vAppend = StagedParquet.currentVersion(d)
    val v = vAppend + 1
    val gen = new java.io.File(d, "_layouts/g-0")
    val swaps = Seq("_layouts/g-0/prio=p0", "_layouts/g-0/prio=p1")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d, "_migrate-g-0"),
      s"swapping:$v:${swaps.mkString(",")}:#".getBytes("UTF-8"))
    val keep0 = new java.io.File(s"${d}__meta/v${v - 1}/_layouts/g-0")
    assert(keep0.mkdirs())
    assert(new java.io.File(gen, "prio=p0")
      .renameTo(new java.io.File(keep0, "prio=p0")))
    // crash-to-rerun gap, OUTSIDE the maintenance window: a normal append
    // claims version v for itself (r12 ADVICE, medium). The pre-fix resume
    // guarded recordVersion with currentVersion < v and silently skipped —
    // every VERSION AS OF below the settle then missed the generation.
    (1000L until 1050L).map(i => (i, s"p${i % 2}", i % 3))
      .toDF("id", "prio", "grp").writeTo(t).append()
    assert(StagedParquet.currentVersion(d) == v, "gap append must claim v")
    val rep = StagedParquet.migrateLayouts(spark, t)
    assert(rep.exists(_._1 == "_layouts/g-0"), s"got $rep")
    assert(spark.table(t).count() == 450L)
    assert(!StagedParquet.oldLayoutsHoldData(d))
    assert(!new java.io.File(d, "_migrate-g-0").exists, "marker must drop")
    // the swap delta re-recorded at a FRESH version with the retained
    // trees re-keyed to it: time travel right below the settle sees the
    // maintenance-window state (old gen in place + the appended copies +
    // the gap append), not a silently truncated one
    assert(StagedParquet.currentVersion(d) == v + 1)
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF $v").count() == 850L,
      "AS OF the gap append's version must still see the old generation")
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF $vAppend").count() == 800L)
    assert(StagedParquet.migrateLayouts(spark, t).isEmpty)
  }

  test("dynamic partition overwrite fails loudly while generations hold data") {
    import spark.implicits._
    val t = tbl("e8")
    (0L until 200L).map(i => (i, s"p${i % 2}", i % 3)).toDF("id", "prio", "grp")
      .writeTo(t).partitionedBy(col("prio")).createOrReplace()
    StagedParquet.evolvePartitioning(spark, t,
      Seq(PartField("grp", "identity"))): Unit
    val e = intercept[Exception] {
      (0L until 10L).map(i => (i, "px", i % 3)).toDF("id", "prio", "grp")
        .writeTo(t).overwritePartitions()
    }
    assert(e.getMessage != null && e.getMessage.contains("migrateLayouts"),
      s"expected the settle-first rejection, got: $e")
  }
}
