package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** sf1 lifecycle anchors (r12 VERDICT #6): the round-12 hardened
  * evolve/migrate/upsert paths exercised and SELF-CHECKED on the genuine
  * 10x corpus — the scale point where layout arithmetic actually binds.
  * Three scenarios, each row-exact against its own recomputation:
  *
  *   1. DOUBLE EVOLUTION: identity → bucket → identity across three
  *      appends, settled by migrateLayouts — counts, sums, and the
  *      emptied generations checked at 10x.
  *   2. CRASH-RESUME MIGRATE: the e7c crash window (append committed,
  *      swap plan pinned, ONE directory retained, crash) replayed at
  *      10x — the resume must converge with no duplicated and no lost
  *      rows, idempotent rerun.
  *   3. WIDE UPSERT EPOCH: a >10k-key CDC wave (the r11 #4 distributed
  *      keySet path — no key ever materializes on the driver) applied
  *      through the streaming upsert at 10x, latest-per-key checked by
  *      sum.
  *
  * Run by tools/sf1check.sh next to the DuckDB-gated heavy list; exit 0
  * iff every scenario holds.
  */
object Sf1Lifecycle {
  import graft.sources.v2.{PartField, StagedParquet}

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_scale10x")
    val spark = graft.core.GraftSession.local("graft-sf1-lifecycle")
    StagedParquet.ensureCatalog(spark)
    val ns = "sf1life"
    var failed = 0
    def check(name: String)(body: => Unit): Unit =
      try { body; println(s"[sf1life] OK   $name") }
      catch { case e: Throwable =>
        failed += 1; println(s"[sf1life] FAIL $name: $e")
      }
    def orders = graft.core.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"), col("o_totalprice"))
    import spark.implicits._

    check("double_evolution_migrate_10x") {
      val t = s"graft_staged.$ns.orders_evolve2"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val d = StagedParquet.tableDir(spark, t)
      orders.filter($"o_orderkey" % 3 === 0)
        .writeTo(t).partitionedBy(col("o_orderpriority")).createOrReplace()
      StagedParquet.evolvePartitioning(spark, t,
        Seq(PartField("o_custkey", "bucket", 8))): Unit
      orders.filter($"o_orderkey" % 3 === 1).writeTo(t).append()
      StagedParquet.evolvePartitioning(spark, t,
        Seq(PartField("o_orderpriority", "identity"))): Unit
      orders.filter($"o_orderkey" % 3 === 2).writeTo(t).append()
      val (expectN, expectSum) = {
        val r = orders.agg(count(lit(1)),
          sum(col("o_orderkey").cast("long"))).head()
        (r.getLong(0), r.getLong(1))
      }
      def live() = {
        val r = spark.table(t).agg(count(lit(1)),
          sum(col("o_orderkey").cast("long"))).head()
        (r.getLong(0), r.getLong(1))
      }
      require(live() == ((expectN, expectSum)),
        s"mixed THREE-generation read drifted: ${live()} vs ($expectN, $expectSum)")
      val settled = StagedParquet.migrateLayouts(spark, t)
      require(settled.length == 2, s"two generations must settle, got $settled")
      require(!StagedParquet.oldLayoutsHoldData(d), "generations must empty")
      require(live() == ((expectN, expectSum)),
        s"post-settle read drifted: ${live()}")
      require(StagedParquet.migrateLayouts(spark, t).isEmpty, "rerun must no-op")
      spark.sql(s"DROP TABLE $t"): Unit
    }

    check("crash_resume_migrate_10x") {
      val t = s"graft_staged.$ns.orders_crash"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val d = StagedParquet.tableDir(spark, t)
      orders.filter($"o_orderkey" % 2 === 0)
        .writeTo(t).partitionedBy(col("o_orderpriority")).createOrReplace()
      StagedParquet.evolvePartitioning(spark, t,
        Seq(PartField("o_custkey", "bucket", 8))): Unit
      orders.filter($"o_orderkey" % 2 === 1).writeTo(t).append()
      val expectN = orders.count()
      // the e7c crash window by hand: the migrate append committed, the
      // swap plan pinned, ONE generation dir already retained — crash
      spark.sql(s"SELECT * FROM $t").filter($"o_orderkey" % 2 === 0)
        .writeTo(t).append()
      val v = StagedParquet.currentVersion(d) + 1
      val gen = new java.io.File(d, "_layouts/g-0")
      val dirs = Option(gen.listFiles).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.contains("="))
        .map(_.getName).sorted
      require(dirs.nonEmpty, "generation must hold partition dirs")
      val swaps = dirs.map(n => s"_layouts/g-0/$n").toSeq
      java.nio.file.Files.write(
        java.nio.file.Paths.get(d, "_migrate-g-0"),
        s"swapping:$v:${swaps.mkString(",")}:#".getBytes("UTF-8")): Unit
      val keep = new java.io.File(s"${d}__meta/v${v - 1}/_layouts/g-0")
      require(keep.mkdirs())
      require(new java.io.File(gen, dirs.head)
        .renameTo(new java.io.File(keep, dirs.head)), "hand-retain failed")
      // resume: converge with no duplicated, no lost rows
      val rep = StagedParquet.migrateLayouts(spark, t)
      require(rep.exists(_._1 == "_layouts/g-0"), s"resume must settle, got $rep")
      require(spark.table(t).count() == expectN,
        s"resumed settle drifted: ${spark.table(t).count()} vs $expectN")
      require(!StagedParquet.oldLayoutsHoldData(d))
      require(StagedParquet.migrateLayouts(spark, t).isEmpty, "rerun must no-op")
      spark.sql(s"DROP TABLE $t"): Unit
    }

    check("wide_upsert_epoch_10x") {
      val src = s"graft_staged.$ns.upsert_wide_src"
      val dst = s"graft_staged.$ns.upsert_wide_dst"
      spark.sql(s"DROP TABLE IF EXISTS $src")
      spark.sql(s"DROP TABLE IF EXISTS $dst")
      orders.filter(lit(false)).writeTo(dst)
        .tableProperty("delete.mode", "merge-on-read")
        .partitionedBy(bucket(8, col("o_orderkey"))).createOrReplace()
      val ckpt = java.nio.file.Files.createTempDirectory("sf1_wide_ckpt").toString
      def drain(): Unit = {
        val q = spark.readStream.table(src)
          .writeStream.option("checkpointLocation", ckpt)
          .option("graft.upsert.key", "o_orderkey")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(dst)
        q.awaitTermination()
      }
      orders.writeTo(src).createOrReplace()
      drain()
      // at the genuine 10x corpus the wave is ~300k keys — wide on its
      // own; the cap is pinned down so the scenario exercises the
      // distributed-keySet path at ANY corpus this script is pointed at
      spark.conf.set("graft.staged.upsert.keyInMax", "1000")
      val wide0 = StagedParquet.upsertWideEpochs.get()
      // >10k distinct keys in one epoch: every fifth key doubles its price
      orders.filter($"o_orderkey" % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .writeTo(src).append()
      drain()
      require(StagedParquet.upsertWideEpochs.get() == wide0 + 1,
        "the wave must take the WIDE (distributed keySet) form")
      // each double is cast to decimal BEFORE summing: a double sum's last
      // cent depends on the order the partial sums merge in, and the two
      // sides read different layouts
      val expect = orders.agg(sum(when($"o_orderkey" % 5 === 0,
          col("o_totalprice") * 2).otherwise(col("o_totalprice"))
        .cast("decimal(38,10)"))).head().getDecimal(0)
      val got = spark.table(dst).agg(sum(col("o_totalprice")
        .cast("decimal(38,10)"))).head().getDecimal(0)
      require(spark.table(dst).count() == orders.count(), "key set must not grow")
      require(got.compareTo(expect) == 0, s"latest-per-key sum drifted: $got vs $expect")
      spark.conf.unset("graft.staged.upsert.keyInMax")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt)): Unit
      spark.sql(s"DROP TABLE $src"): Unit
      spark.sql(s"DROP TABLE $dst"): Unit
    }

    println(s"[sf1life] ${3 - failed}/3 lifecycle anchors hold")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
