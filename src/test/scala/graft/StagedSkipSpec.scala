package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Zone-map data skipping in the V2 read path
  * ([[graft.sources.v2.StagedScan.blockSurvives]]): comparison predicates
  * on stored numeric/temporal columns cut row groups — and whole files —
  * whose footer min/max provably excludes them, at PLAN time, before any
  * reader opens. The contract under test is the same as partition
  * pruning's: skipping trims I/O only (every filter stays a residual), so
  * results must be byte-identical with and without the skip, and anything
  * the scan cannot decide (non-stat types, stats gaps) keeps the group.
  */
class StagedSkipSpec extends AnyFunSuite {
  private lazy val spark = { graft.sources.v2.StagedParquet.ensureCatalog(TestSpark.spark); TestSpark.spark }
  private def tbl(t: String) = s"graft_staged.skipspec.$t"
  private def opened = graft.sources.v2.StagedReaderFactory.readersCreated

  /** 800 rows range-clustered on v into 8 files (the etl_minmax_skip
    * layout): each file's footer min/max covers a disjoint ~100-wide band.
    */
  private def seedRange(): String = {
    import spark.implicits._
    val t = tbl("skip_range")
    (0L until 800L).map(i => (i, i.toDouble, s"tag${i % 5}"))
      .toDF("id", "v", "tag")
      .repartitionByRange(8, col("v")).sortWithinPartitions(col("v"))
      .writeTo(t).createOrReplace()
    t
  }

  test("a selective band opens only the files whose min/max overlap it") {
    val t = seedRange()
    val q = spark.table(t).filter(col("v") >= 500.0 && col("v") < 600.0)
    opened.set(0L)
    assert(q.agg(count(lit(1)), sum("id")).head() match {
      case r => r.getLong(0) == 100L && r.getLong(1) == (500L until 600L).sum
    })
    val n = opened.get()
    assert(n >= 1L && n <= 3L, s"expected a ~1-file band to open <=3 of 8 files, opened $n")

    // point lookup: exactly the one file holding the value
    opened.set(0L)
    assert(spark.table(t).filter(col("v") === 350.0).select("id").head().getLong(0) == 350L)
    assert(opened.get() == 1L, "equality should open exactly the covering file")

    // a band outside the domain plans ZERO splits — no reader at all
    opened.set(0L)
    assert(spark.table(t).filter(col("v") > 5000.0).count() == 0L)
    assert(opened.get() == 0L, "an empty band must not open any reader")
  }

  test("skipping never changes results: skipped vs exhaustive read agree") {
    val t = seedRange()
    val skipped = spark.table(t)
      .filter(col("v") >= 123.0 && col("v") < 457.0)
      .orderBy("id").collect()
    // same predicate over the raw parquet files (no V2 scan, no zone map)
    val dir = graft.sources.v2.StagedParquet.tableDir(spark, t)
    val exhaustive = spark.read.parquet(dir)
      .select("id", "v", "tag")
      .filter(col("v") >= 123.0 && col("v") < 457.0)
      .orderBy("id").collect()
    assert(skipped.toSeq == exhaustive.toSeq)
  }

  test("non-stat types stay conservative: a string predicate opens every file") {
    val t = seedRange()
    opened.set(0L)
    assert(spark.table(t).filter(col("tag") === "tag3").count() == 160L)
    assert(opened.get() == 8L,
      "string stats can be truncated bounds — never used for skipping")
  }

  test("row-group grain: a clustered single file opens only overlapping groups") {
    import spark.implicits._
    val t = tbl("skip_rg")
    spark.conf.set("graft.staged.rowgroup.bytes", "16384")
    spark.conf.set("graft.staged.split.bytes", "1")
    try {
      // ONE file, v-clustered, forced small row groups: the zone map must
      // cut at the ROW-GROUP grain inside the file, not just per file
      (0L until 40000L).map(i => (i, i * 1.0)).toDF("id", "v")
        .repartition(1).sortWithinPartitions("v")
        .writeTo(t).createOrReplace()
      val all = spark.table(t)
      val totalSplits = "splits=(\\d+)".r
        .findFirstMatchIn(all.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).getOrElse(0)
      assert(totalSplits >= 4, s"fixture needs >=4 row groups, got $totalSplits")
      val band = spark.table(t).filter(col("v") >= 1000.0 && col("v") < 2000.0)
      val bandSplits = "splits=(\\d+)".r
        .findFirstMatchIn(band.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).getOrElse(-1)
      assert(bandSplits >= 1 && bandSplits < totalSplits,
        s"expected the band to plan fewer splits: $bandSplits of $totalSplits")
      assert(band.agg(count(lit(1)), sum("id")).head() match {
        case r => r.getLong(0) == 1000L && r.getLong(1) == (1000L until 2000L).sum
      })
    } finally {
      spark.conf.unset("graft.staged.rowgroup.bytes")
      spark.conf.unset("graft.staged.split.bytes")
    }
  }

  test("a malformed graft.staged.split.bytes fails the scan, naming the key") {
    val t = seedRange()
    spark.conf.set("graft.staged.split.bytes", "abc")
    val err = try intercept[Exception](spark.table(t).select("id").collect())
              finally spark.conf.unset("graft.staged.split.bytes")
    assert(err.getMessage.contains("graft.staged.split.bytes"), err)
  }

  test("pre-evolution files skip under a comparison on the added column") {
    import spark.implicits._
    val t = tbl("skip_evolve")
    (0L until 6L).map(i => (i, s"v$i")).toDF("id", "name")
      .repartition(1).writeTo(t).createOrReplace()
    spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    (6L until 12L).map(i => (i, s"v$i", i * 0.5)).toDF("id", "name", "score")
      .repartition(1).writeTo(t).append()
    // score > 0: the pre-ALTER file stores no score column at all — its
    // rows are all-null there, so the comparison provably matches nothing
    // and the file never opens
    opened.set(0L)
    assert(spark.table(t).filter(col("score") > 0.0).count() == 6L)
    assert(opened.get() == 1L,
      "the pre-evolution (all-null score) file must be skipped")
    // and the null-filled read without the predicate still sees both
    assert(spark.table(t).count() == 12L)
  }

  test("timestamp zone map trims the boundary day of a day-range query") {
    import spark.implicits._
    val t = tbl("skip_days")
    val base = java.time.Instant.parse("2024-07-01T00:00:00Z")
    (0 until 96).map { i =>
      (java.sql.Timestamp.from(base.plusSeconds(i.toLong * 3600)), i.toLong)
    }.toDF("ts", "v").repartition(to_date(col("ts")))
      .writeTo(t).partitionedBy(days(col("ts"))).createOrReplace()
    // [day0 12:00, day2 00:00): dir pruning keeps days 0..2 (day() is
    // monotone, day-2 is the conservative boundary dir) — then the ts
    // zone map cuts BOTH boundary files day-0-morning-free? no: day-0
    // stays (its max ts ≥ lo), day-2 drops (its min ts ≥ hi exactly)
    val lo = java.sql.Timestamp.from(base.plusSeconds(12L * 3600))
    val hi = java.sql.Timestamp.from(base.plusSeconds(48L * 3600))
    opened.set(0L)
    val out = spark.table(t).filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
      .agg(count(lit(1)), sum("v")).head()
    assert(out.getLong(0) == 36L && out.getLong(1) == (12L until 48L).sum)
    assert(opened.get() == 2L,
      s"expected day-0 and day-1 files only (day-2 zone-mapped out), opened ${opened.get()}")
  }

  test("pruning-aware size statistics: a small staged dim auto-broadcasts") {
    import spark.implicits._
    val t = tbl("skip_stats")
    (0L until 200L).map(i => (i % 4, i, i * 2.0)).toDF("k", "id", "v")
      .repartition(col("k"))
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    // the probe side is too big to broadcast itself (range stats ≈ 40 MB),
    // so a BroadcastHashJoin can only mean the STAGED side reported its
    // true (tiny) size — an unknown-size V2 scan would sort-merge here
    val big = spark.range(0L, 5000000L).select(col("id").as("bid"))
    val j = big.join(spark.table(t), col("bid") === col("id"))
    assert(j.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      j.queryExecution.executedPlan.toString.take(1500))
    assert(j.count() == 200L)
    // and the estimate follows partition pruning: k=2 is one of 4 dirs
    def scanSize(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.collectLeaves().head.stats.sizeInBytes
    val full = scanSize(spark.table(t))
    val one = scanSize(spark.table(t).filter(col("k") === 2L))
    assert(one * 2 < full,
      s"one-dir estimate $one should be well under the full-table $full")
  }
}
