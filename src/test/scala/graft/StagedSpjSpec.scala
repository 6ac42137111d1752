package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DataSource V2 READ path (StagedScan): round-trip fidelity, column
  * pruning, identity-partition pruning, the count-star empty projection,
  * evolution null-fill — and the property the scan exists for: two tables
  * co-partitioned on the same key STORAGE-PARTITION-JOIN without either
  * side shuffling (SPARK-37375), with the downstream partition-key
  * aggregate riding the same distribution.
  */
class StagedSpjSpec extends AnyFunSuite {
  private lazy val spark = { graft.sources.v2.StagedParquet.ensureCatalog(TestSpark.spark); TestSpark.spark }
  private val ns = "spjspec"
  private def tbl(t: String) = s"graft_staged.$ns.$t"
  import org.apache.spark.sql.DataFrame

  private def seed(): Unit = {
    import spark.implicits._
    val left = (0L until 400L).map(i => (i % 8, i, s"L$i", i * 1.5))
      .toDF("k", "id", "tag", "v")
    val right = (0L until 120L).map(i => (i % 8, i, i * 2.0))
      .toDF("k", "rid", "w")
    // repartition by k: one file per partition dir, so reader-count
    // assertions equal surviving-dir counts
    left.repartition(col("k"))
      .writeTo(tbl("spj_l")).partitionedBy(col("k")).createOrReplace()
    right.repartition(col("k"))
      .writeTo(tbl("spj_r")).partitionedBy(col("k")).createOrReplace()
  }

  private def noBroadcast[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("V2 read round-trips a partitioned table exactly (partition cols from dirs)") {
    seed()
    val back = spark.table(tbl("spj_l"))
      .select("k", "id", "tag", "v").orderBy("id").collect()
    assert(back.length == 400)
    for (r <- back) {
      val id = r.getLong(1)
      assert(r.getLong(0) == id % 8)
      assert(r.getString(2) == s"L$id")
      assert(r.getDouble(3) == id * 1.5)
    }
  }

  test("count-star over the V2 scan decodes zero columns and still counts rows") {
    seed()
    assert(spark.table(tbl("spj_l")).count() == 400L)
    // partition-columns-only projection takes the same footer-count path
    val ks = spark.table(tbl("spj_l")).groupBy("k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ks == (0L until 8L).map(k => k -> 50L).toMap)
  }

  test("identity-partition pruning drops directories at plan time, conservatively") {
    seed()
    val one = spark.table(tbl("spj_l")).filter(col("k") === 3L)
    assert(one.select(countDistinct(col("id"))).head.getLong(0) == 50L)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("partitions=1,"), plan.take(1500))
    val in = spark.table(tbl("spj_l")).filter(col("k").isin(2L, 5L))
    assert(in.count() == 100L)
    assert(in.queryExecution.executedPlan.toString.contains("partitions=2,"))
    // non-partition-column filters must not prune anything
    val res = spark.table(tbl("spj_l")).filter(col("id") < 10L)
    assert(res.count() == 10L)
    assert(res.queryExecution.executedPlan.toString.contains("partitions=8,"))
  }

  test("column pruning reaches the scan (only requested columns decoded)") {
    seed()
    val two = spark.table(tbl("spj_l")).select("k", "v")
    val plan = two.queryExecution.executedPlan.toString
    assert(plan.contains("columns=[k,v]"), plan.take(1500))
    assert(two.collect().length == 400)
  }

  test("co-partitioned tables storage-partition-join with ZERO shuffles; agg rides along") {
    seed()
    noBroadcast {
      val l = spark.table(tbl("spj_l"))
      val r = spark.table(tbl("spj_r"))
      val joined = l.join(r, "k").groupBy("k")
        .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"SPJ did not engage:\n${plan.take(2000)}")
      // ground truth from a plain (shuffling) join over raw parquet
      val expect = (0L until 8L).map { k =>
        val ls = (0L until 400L).filter(_ % 8 == k)
        val rs = (0L until 120L).filter(_ % 8 == k)
        k -> (ls.size.toLong * rs.size,
          ls.flatMap(i => rs.map(j => i * 1.5 + j * 2.0)).sum)
      }.toMap
      val got = joined.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
      assert(got.keySet == expect.keySet)
      for ((k, (n, s)) <- expect) {
        assert(got(k)._1 == n)
        assert(math.abs(got(k)._2 - s) < 1e-6)
      }
      // the mechanism, not an accident: with V2 bucketing off it shuffles
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      try {
        val off = l.join(r, "k").groupBy("k").agg(count(lit(1)).as("n"))
        assert(off.queryExecution.executedPlan.toString.contains("Exchange"))
      } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    }
  }

  test("dynamic partition pruning: a selective dim filter prunes fact partitions at runtime") {
    seed()
    import spark.implicits._
    val dimPath = "/tmp/graft_stage/spj_dim"
    (0L until 8L).map(i => (i, if (i == 2 || i == 5) "hot" else "cold"))
      .toDF("dk", "temp").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("temp") === "hot")
    val fact = spark.table(tbl("spj_l"))
    graft.sources.v2.StagedReaderFactory.readersCreated.set(0L)
    val out = fact.join(dim, fact("k") === dim("dk")).groupBy("k").count().collect()
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(2L -> 50L, 5L -> 50L))
    val opened = graft.sources.v2.StagedReaderFactory.readersCreated.get()
    assert(opened == 2L,
      s"expected the runtime filter to open exactly 2 fact partitions, opened $opened")
  }

  test("evolution null-fill: pre-ALTER files read back null through the V2 scan") {
    import spark.implicits._
    val t = tbl("spj_evolve")
    (0L until 6L).map(i => (i % 2, i)).toDF("k", "id")
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    spark.sql(s"ALTER TABLE $t ADD COLUMN extra DOUBLE")
    (6L until 9L).map(i => (i % 2, i, i * 0.5)).toDF("k", "id", "extra")
      .writeTo(t).append()
    val rows = spark.table(t).orderBy("id").collect()
    assert(rows.length == 9)
    assert(rows.take(6).forall(_.isNullAt(2)))
    assert(rows.drop(6).forall(r => r.getDouble(2) == r.getLong(1) * 0.5))
  }

  test("count/min/max answer from parquet footers (StagedAggScan), never under residuals") {
    seed()
    val df = spark.table(tbl("spj_l")).groupBy("k")
      .agg(count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("StagedAggScan"), plan.take(1500))
    val got = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    for (k <- 0L until 8L) {
      val ids = (0L until 400L).filter(_ % 8 == k)
      assert(got(k) == ((50L, ids.min * 1.5, ids.max * 1.5)))
    }
    // global (ungrouped) count + max: per-split partials, Spark merges
    val g = spark.table(tbl("spj_l")).agg(count(lit(1)).as("n"), max("id").as("m"))
    assert(g.queryExecution.executedPlan.toString.contains("StagedAggScan"))
    val gr = g.head
    assert(gr.getLong(0) == 400L && gr.getLong(1) == 399L)
    // a row filter blocks the pushdown (all filters are residual) and the
    // answer still comes out exact through the row scan
    val f = spark.table(tbl("spj_l")).filter(col("id") < 100L)
      .agg(count(lit(1)).as("n"))
    assert(!f.queryExecution.executedPlan.toString.contains("StagedAggScan"))
    assert(f.head.getLong(0) == 100L)
    // string min/max never answers from stats (truncated-bounds hazard)
    val smm = spark.table(tbl("spj_l")).agg(min("tag").as("m"))
    assert(!smm.queryExecution.executedPlan.toString.contains("StagedAggScan"))
    assert(smm.head.getString(0) == "L0")
  }

  test("MIN/MAX over a file whose footer lacks statistics fold that file exactly") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = tbl("spj_nostats")
    (0L until 100L).map(i => (i, i * 1.5)).toDF("id", "v").writeTo(t).createOrReplace()
    // a file written without column statistics joins the table
    val foreign = java.nio.file.Files.createTempDirectory("nostats").toString
    (100L until 140L).map(i => (i, -i * 1.0)).toDF("id", "v").repartition(1)
      .write.option("parquet.column.statistics.enabled", "false")
      .mode("overwrite").parquet(foreign)
    val pf = new java.io.File(foreign).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    assert(graft.sources.v2.StagedScan.withFooter(pf.getPath)(
      _.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .forall(c => c.getStatistics == null || c.getStatistics.isEmpty)))
    java.nio.file.Files.copy(pf.toPath, new java.io.File(
      graft.sources.v2.StagedParquet.tableDir(spark, t), "foreign-nostats.snappy.parquet").toPath)
    val df = spark.table(t).agg(min("v"), max("v"), min("id"), max("id"))
    assert(df.queryExecution.executedPlan.toString.contains("StagedAggScan"))
    assert(df.head == org.apache.spark.sql.Row(-139.0, 148.5, 0L, 139L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(foreign))
  }

  test("days-partition range pruning: ts bounds close day directories, conservatively") {
    import spark.implicits._
    val t = tbl("spj_days")
    val rows = (0L until 96L).map { i =>
      (i, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-03-01T00:30:00Z").plusSeconds(i * 3600)))
    }.toDF("id", "ts") // 4 days x 24 hourly events
    rows.writeTo(t).partitionedBy(days(col("ts"))).createOrReplace()
    assert(spark.table(t).count() == 96L)
    val lo = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-02T00:00:00Z"))
    val hi = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-03T12:00:00Z"))
    val ranged = spark.table(t).filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
    assert(ranged.count() == 36L) // day2 full + day3 first half
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("partitions=2,"), plan.take(1500)) // days 2+3 of 4
    // one-sided bound keeps the boundary day (conservative)
    val tail = spark.table(t).filter(col("ts") > lit(hi))
    assert(tail.count() == 36L) // day3 second half + day4
    assert(tail.queryExecution.executedPlan.toString.contains("partitions=2,"))
  }

  test("multi-level partitioning: identity + days compose, both levels prune") {
    import spark.implicits._
    val t = tbl("spj_multi")
    val rows = (0L until 48L).map { i =>
      (i % 2, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-05-01T00:30:00Z").plusSeconds((i / 2) * 7200)),
        i)
    }.toDF("region", "ts", "id") // 2 regions x 2 days (12 two-hour slots each)
    rows.writeTo(t).partitionedBy(col("region"), days(col("ts"))).createOrReplace()
    assert(spark.table(t).count() == 48L)
    // level 1 alone
    val r1 = spark.table(t).filter(col("region") === 1L)
    assert(r1.count() == 24L)
    assert(r1.queryExecution.executedPlan.toString.contains("partitions=2,"))
    // both levels: region + ts range landing in one day
    val lo = java.sql.Timestamp.from(java.time.Instant.parse("2024-05-02T00:00:00Z"))
    val both = spark.table(t).filter(col("region") === 0L && col("ts") >= lit(lo))
    assert(both.queryExecution.executedPlan.toString.contains("partitions=1,"))
    assert(both.count() == 12L) // region 0's day-2 slots
    // values reconstitute: region from dir, ts from file
    val back = both.orderBy("id").collect()
    assert(back.forall(r => r.getLong(0) == 0L && r.getLong(2) % 2 == 0))
  }

  test("string partition values round-trip through escaping") {
    import spark.implicits._
    val t = tbl("spj_esc")
    // non-Latin-1 values exercise the UTF-8 %XX-per-byte escaping: a
    // per-CHAR escape emits variable-width %XXXX above 0xFF, which the
    // fixed-width unescape would corrupt ('中' -> 'N2D') and pruning would
    // then silently drop the whole directory
    Seq(("a/b", 1L), ("c=d", 2L), ("plain", 3L), ("中文", 4L), ("héllo", 5L))
      .toDF("k", "id")
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    val back = spark.table(t).orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(back.toSeq == Seq(("a/b", 1L), ("c=d", 2L), ("plain", 3L),
      ("中文", 4L), ("héllo", 5L)))
    assert(spark.table(t).filter(col("k") === "a/b").count() == 1L)
    // identity pruning compares the RECONSTITUTED value against the
    // literal: a corrupted round-trip would return 0 rows here
    assert(spark.table(t).filter(col("k") === "中文").count() == 1L)
    assert(spark.table(t).filter(col("k") === "héllo")
      .head.getLong(1) == 5L)
  }

  test("row-group splits: one large file plans per-row-group splits; SPJ stays exchange-free") {
    import spark.implicits._
    val t = tbl("spj_rg")
    // small row groups + a 1-byte split threshold force the finest grain
    spark.conf.set("graft.staged.rowgroup.bytes", "16384")
    spark.conf.set("graft.staged.split.bytes", "1")
    try {
      // ONE partition dir (k=0), ONE file (repartition(1)): without
      // row-group splits this is the hot-partition single-task shape —
      // opt out of the engine's write distribution, whose skew-splitting
      // rebalance would break the deliberate one-big-file premise
      (0L until 40000L).map(i => (0L, i, i * 3.0)).toDF("k", "id", "v")
        .repartition(1)
        .writeTo(t).option("graft.write.distribute", "none")
        .partitionedBy(col("k")).createOrReplace()
      val scan = spark.table(t)
      val plan = scan.queryExecution.executedPlan.toString
      val splits = "splits=(\\d+)".r.findFirstMatchIn(plan).map(_.group(1).toInt)
      assert(splits.exists(_ >= 4), s"expected >=4 row-group splits: ${plan.take(800)}")
      // no row lost or duplicated across the range splits
      assert(scan.count() == 40000L)
      assert(scan.agg(sum("id")).head.getLong(0) == (0L until 40000L).sum)
      // SPJ: same-key range splits re-group under one partition key, the
      // self-join still plans ZERO exchanges
      noBroadcast {
        val j = spark.table(t).join(spark.table(t).select(col("k"), col("id").as("id2")), "k")
          .groupBy("k").count()
        assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
          j.queryExecution.executedPlan.toString.take(1500))
        assert(j.head.getLong(1) == 40000L * 40000L)
      }
    } finally {
      spark.conf.unset("graft.staged.rowgroup.bytes")
      spark.conf.unset("graft.staged.split.bytes")
    }
  }

  test("day-partitioned tables storage-partition-join on ts with ZERO exchanges") {
    import spark.implicits._
    val base = java.time.Instant.parse("2024-04-01T00:30:00Z")
    def mk(n: Int) = (0 until n).map { i =>
      (java.sql.Timestamp.from(base.plusSeconds(i.toLong * 3600)), i.toLong)
    }
    // 4 days x 24 hourly ticks on both sides, same ts domain
    mk(96).toDF("ts", "v").repartition(to_date(col("ts")))
      .writeTo(tbl("spjd_l")).partitionedBy(days(col("ts"))).createOrReplace()
    mk(96).toDF("ts", "w").repartition(to_date(col("ts")))
      .writeTo(tbl("spjd_r")).partitionedBy(days(col("ts"))).createOrReplace()
    noBroadcast {
      val l = spark.table(tbl("spjd_l"))
      val r = spark.table(tbl("spjd_r"))
      val j = l.join(r, "ts").groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      // the JOIN storage-partition-joins with no exchange on either side
      // (the to_date aggregate above it keys on a different expression, so
      // ITS shuffle is expected — assert nothing below the join shuffles)
      val plan = j.queryExecution.executedPlan.toString
      val joinDown = plan.substring(plan.indexOf("Join"))
      assert(plan.contains("Join") && !joinDown.contains("Exchange"),
        s"days-SPJ did not engage:\n${plan.take(2000)}")
      val got = j.collect().map(r0 => r0.getDate(0).toString ->
        ((r0.getLong(1), r0.getLong(2)))).toMap
      // hourly ticks join 1:1; per day 24 pairs summing 2*sum(i)
      val expect = (0 until 96).groupBy(i => (i / 24)).map { case (d, is) =>
        java.time.LocalDate.parse("2024-04-01").plusDays(d.toLong).toString ->
          ((is.size.toLong, is.map(_.toLong * 2).sum))
      }
      assert(got == expect)
    }
  }

  test("days DPP: dim timestamps runtime-prune fact day directories") {
    import spark.implicits._
    val base = java.time.Instant.parse("2024-06-01T00:30:00Z")
    val rows = (0 until 96).map { i =>
      (java.sql.Timestamp.from(base.plusSeconds(i.toLong * 3600)), i.toLong)
    }
    rows.toDF("ts", "v").repartition(to_date(col("ts")))
      .writeTo(tbl("spjd_fact")).partitionedBy(days(col("ts"))).createOrReplace()
    // dim: timestamps from days 1 and 2 only are 'hot'
    val dimPath = "/tmp/graft_stage/spjd_dim"
    rows.map { case (ts, i) =>
      (ts, if (i / 24 == 1 || i / 24 == 2) "hot" else "cold")
    }.toDF("dts", "temp").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("temp") === "hot")
    val fact = spark.table(tbl("spjd_fact"))
    graft.sources.v2.StagedReaderFactory.readersCreated.set(0L)
    val out = fact.join(dim, fact("ts") === dim("dts"))
      .agg(count(lit(1)).as("n"), sum("v").as("s")).head
    assert(out.getLong(0) == 48L)
    assert(out.getLong(1) == (24L until 72L).sum)
    val opened = graft.sources.v2.StagedReaderFactory.readersCreated.get()
    assert(opened == 2L,
      s"expected runtime day pruning to open exactly 2 of 4 day dirs, opened $opened")
  }

  test("nested types read back through the V2 scan; partition pruning intact") {
    import spark.implicits._
    val t = tbl("spj_nested")
    // array + struct + map + array-of-struct, partitioned by an identity
    // key — previously nested schemas failed the V2 read entirely
    val df = (0L until 30L).map { i =>
      (i % 3, i, Seq(i, i + 1, i + 2),
        (s"n$i", i * 1.5),
        Map(s"k$i" -> i, "c" -> (i * 2)),
        Seq((i, s"e$i"), (i + 100, s"f$i")))
    }.toDF("k", "id", "arr", "st", "mp", "aos")
    df.repartition(col("k"))
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    val scan = spark.table(t)
    // it IS the V2 scan, not a parquet fallback
    assert(scan.queryExecution.executedPlan.toString.contains("StagedScan"),
      scan.queryExecution.executedPlan.toString.take(800))
    val back = scan.orderBy("id").collect()
    assert(back.length == 30)
    for (r <- back) {
      val i = r.getLong(1)
      assert(r.getLong(0) == i % 3)
      assert(r.getSeq[Long](2) == Seq(i, i + 1, i + 2))
      val st = r.getStruct(3)
      assert(st.getString(0) == s"n$i" && st.getDouble(1) == i * 1.5)
      assert(r.getMap[String, Long](4) == Map(s"k$i" -> i, "c" -> (i * 2)))
      val aos = r.getSeq[org.apache.spark.sql.Row](5)
      assert(aos.map(e => (e.getLong(0), e.getString(1))) ==
        Seq((i, s"e$i"), (i + 100, s"f$i")))
    }
    // null/empty edges survive the 3-level round trip
    val t2 = tbl("spj_nested_edge")
    Seq((0L, Seq.empty[Long], Map.empty[String, Long], Seq[Option[Long]](None, Some(7L))),
        (1L, Seq(1L), Map("a" -> 1L), Seq[Option[Long]](Some(2L))))
      .toDF("k", "arr", "mp", "withnull")
      .writeTo(t2).partitionedBy(col("k")).createOrReplace()
    val edge = spark.table(t2).orderBy("k").collect()
    assert(edge(0).getSeq[Long](1).isEmpty)
    assert(edge(0).getMap[String, Long](2).isEmpty)
    assert(edge(0).getSeq[Any](3) == Seq(null, 7L))
    assert(edge(1).getSeq[Long](1) == Seq(1L))
    // identity pruning still drops directories for nested tables
    val one = spark.table(t).filter(col("k") === 1L)
    assert(one.queryExecution.executedPlan.toString.contains("partitions=1,"))
    assert(one.count() == 10L)
    graft.sources.v2.StagedReaderFactory.readersCreated.set(0L)
    assert(one.select(sum(element_at(col("arr"), 1))).head.getLong(0) ==
      (0L until 30L).filter(_ % 3 == 1).sum)
    assert(graft.sources.v2.StagedReaderFactory.readersCreated.get() == 1L)
  }

  test("upsert after ALTER ADD COLUMN merges against the declared schema") {
    import spark.implicits._
    val t = tbl("spj_evup")
    (0L until 6L).map(i => (i, s"v$i")).toDF("id", "name")
      .writeTo(t).createOrReplace()
    spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    // the staging batch updates ids 4-5 and inserts 6-7, carrying the
    // evolved column; prod's pre-ALTER files must null-fill `score`, not
    // win schema inference and drop/misalign it
    val staging = (4L until 8L).map(i => (i, s"u$i", i * 2.0))
      .toDF("id", "name", "score")
    graft.sources.v2.StagedParquet.upsertInto(spark, t, staging, Seq("id"))
    val back = graft.sources.v2.StagedParquet.readTable(spark, t)
      .orderBy("id").collect()
    assert(back.length == 8)
    assert(back.take(4).forall(r => r.getString(1) == s"v${r.getLong(0)}"
      && r.isNullAt(2)))
    assert(back.drop(4).forall(r => r.getString(1) == s"u${r.getLong(0)}"
      && r.getDouble(2) == r.getLong(0) * 2.0))
  }
}
