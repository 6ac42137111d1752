package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL `DELETE FROM` on staged tables
  * ([[graft.sources.v2.StagedParquet.deleteWhere]]). Contracts under test,
  * tier by tier: a predicate fully decided by identity partition values
  * drops/keeps whole directories without reading a byte; the zone map
  * clears files whose footer range cannot match (byte-copied, never
  * decoded); copy-on-write rewrites only the overlapping files and swaps
  * the directory atomically; SQL NULL semantics (a NULL predicate KEEPS
  * the row); unsupported predicate shapes fail loudly at analysis instead
  * of half-applying.
  */
class StagedDeleteSpec extends AnyFunSuite {
  private lazy val spark = { graft.sources.v2.StagedParquet.ensureCatalog(TestSpark.spark); TestSpark.spark }
  private def tbl(t: String) = s"graft_staged.deletespec.$t"
  import graft.sources.v2.StagedParquet

  private def dataFiles(dir: String): Map[String, Long] = {
    val d = new java.io.File(dir)
    if (!d.exists) Map.empty
    else d.listFiles.toSeq.filter(f => f.isFile &&
      f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(f => f.getName -> f.length).toMap
  }

  test("identity-partition predicate deletes metadata-only: other dirs' files untouched") {
    import spark.implicits._
    val t = tbl("d1")
    (0L until 300L).map(i => (i % 3, i, s"r$i")).toDF("k", "id", "name")
      .repartition(2)
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    val keep0 = dataFiles(s"$dir/k=0"); val keep2 = dataFiles(s"$dir/k=2")
    val rep = StagedParquet.deleteWhere(spark, t,
      Seq(org.apache.spark.sql.sources.EqualTo("k", 1L)))
    assert(rep == Seq(("k=1", "dropped", 0L, 0L)))
    assert(!new java.io.File(s"$dir/k=1").exists)
    // tier-2 proof: the surviving dirs hold the IDENTICAL file sets
    assert(dataFiles(s"$dir/k=0") == keep0 && dataFiles(s"$dir/k=2") == keep2)
    assert(spark.table(t).count() == 200L)
    assert(spark.table(t).filter($"k" === 1L).count() == 0L)
  }

  test("copy-on-write rewrites only zone-map-overlapping files; others byte-copied") {
    import spark.implicits._
    val t = tbl("d2")
    // range-clustered: 4 files with disjoint id ranges at the table root
    (0L until 4000L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(4, $"id")
      .writeTo(t).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    val before = dataFiles(dir)
    assert(before.size == 4)
    // the band lives in ONE file's range
    val rep = StagedParquet.deleteWhere(spark, t, Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 3200L),
      org.apache.spark.sql.sources.LessThan("id", 3400L)))
    assert(rep.length == 1 && rep.head._1 == "." && rep.head._2 == "rewritten")
    val (affected, copied) = (rep.head._3, rep.head._4)
    assert(affected == 1L, s"band covers one file, rewrote $affected")
    assert(copied == 3L)
    // untouched files survived the swap with identical name+length
    val after = dataFiles(dir)
    val surviving = before.filter { case (n, len) => after.get(n).contains(len) }
    assert(surviving.size == 3, s"expected 3 byte-copied originals, found ${surviving.size}")
    assert(spark.table(t).count() == 3800L)
    assert(spark.table(t).filter($"id" >= 3200L && $"id" < 3400L).count() == 0L)
    // content check on a kept row from the rewritten file's range
    assert(spark.table(t).filter($"id" === 3100L).select($"v").as[Double].head() == 6200.0)
  }

  test("SQL DELETE FROM end-to-end with NULL-keeping semantics") {
    import spark.implicits._
    val t = tbl("d3")
    (0L until 100L).map(i => (i, if (i % 10 == 0) None else Some(i * 1.0)))
      .toDF("id", "score")
      .writeTo(t).createOrReplace()
    spark.sql(s"DELETE FROM $t WHERE score > 49.5")
    val rows = spark.table(t).orderBy("id").collect()
    // deleted: scores 51..99 excluding the null multiples of 10 -> ids 51..99 minus {60,70,80,90}
    assert(rows.length == 55, s"expected 55 rows, got ${rows.length}")
    // NULL predicate rows (score null) are all KEPT
    assert((0L until 100L by 10L).forall(i => rows.exists(_.getLong(0) == i)),
      "rows with NULL score must survive a score > x delete")
  }

  test("days-partitioned range delete: full days drop metadata-only, boundary day rewrites") {
    import spark.implicits._
    val t = tbl("d4")
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    (0L until 96L).map { i =>
      (java.sql.Timestamp.from(base.plusSeconds(i * 3600)), i) // 4 days x 24h
    }.toDF("ts", "n")
      .writeTo(t).partitionedBy(days(col("ts"))).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    val day0 = dataFiles(s"$dir/ts_day=2024-03-01")
    // delete everything from 2024-03-02T12:00 on: day 3+4 drop whole, day 2 rewrites, day 1 untouched
    spark.sql(s"DELETE FROM $t WHERE ts >= TIMESTAMP '2024-03-02 12:00:00Z'")
    assert(!new java.io.File(s"$dir/ts_day=2024-03-03").exists)
    assert(!new java.io.File(s"$dir/ts_day=2024-03-04").exists)
    assert(dataFiles(s"$dir/ts_day=2024-03-01") == day0, "pre-range day must be untouched")
    assert(spark.table(t).count() == 36L) // 24 (day1) + 12 (day2 first half)
    // boundary day kept exactly its first 12 hours
    assert(spark.table(t).filter($"n" >= 24L).count() == 12L)
    assert(spark.table(t).agg(max($"n")).as[Long].head() == 35L)
  }

  test("delete-all truncates but keeps the committed schema") {
    import spark.implicits._
    val t = tbl("d5")
    (0L until 50L).map(i => (i, s"x$i")).toDF("id", "name")
      .writeTo(t).createOrReplace()
    spark.sql(s"DELETE FROM $t")
    assert(spark.table(t).count() == 0L)
    assert(spark.table(t).schema.fieldNames.toSeq == Seq("id", "name"))
    // still writable after the truncating swap
    Seq((1L, "back")).toDF("id", "name").writeTo(t).append()
    assert(spark.table(t).count() == 1L)
  }

  test("updateWhere rewrites only zone-map-overlapping files and applies SET to matching rows") {
    import spark.implicits._
    val t = tbl("u1")
    (0L until 4000L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(4, $"id")
      .writeTo(t).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    val before = dataFiles(dir)
    val rep = StagedParquet.updateWhere(spark, t,
      Seq("v" -> (col("v") * 10.0)),
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 3200L),
          org.apache.spark.sql.sources.LessThan("id", 3400L)))
    assert(rep.length == 1 && rep.head._2 == "rewritten" &&
      rep.head._3 == 1L && rep.head._4 == 3L, rep.toString)
    val after = dataFiles(dir)
    assert(before.count { case (n, len) => after.get(n).contains(len) } == 3,
      "non-overlapping files must be byte-copied, not re-encoded")
    assert(spark.table(t).count() == 4000L, "UPDATE never changes row count")
    // matching rows got v*10, everything else untouched
    assert(spark.table(t).filter($"id" === 3300L).select($"v").as[Double].head() == 66000.0)
    assert(spark.table(t).filter($"id" === 3100L).select($"v").as[Double].head() == 6200.0)
    assert(spark.table(t).filter($"id" === 100L).select($"v").as[Double].head() == 200.0)
  }

  test("updateWhere tier 1: an all-matching partition rewrites without predicate evaluation") {
    import spark.implicits._
    val t = tbl("u2")
    (0L until 300L).map(i => (i % 3, i, 1.0)).toDF("k", "id", "w")
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    val keep0 = dataFiles(s"$dir/k=0")
    val rep = StagedParquet.updateWhere(spark, t,
      Seq("w" -> lit(5.0)),
      Seq(org.apache.spark.sql.sources.EqualTo("k", 1L)))
    assert(rep.length == 1 && rep.head._1 == "k=1" && rep.head._2 == "rewritten")
    assert(dataFiles(s"$dir/k=0") == keep0, "other partitions untouched")
    assert(spark.table(t).filter($"k" === 1L && $"w" === 5.0).count() == 100L)
    assert(spark.table(t).filter($"k" =!= 1L && $"w" === 1.0).count() == 200L)
  }

  test("updateWhere rejects SET on partition-referenced columns") {
    import spark.implicits._
    val t = tbl("u3")
    (0L until 10L).map(i => (i % 2, i)).toDF("k", "id")
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    intercept[IllegalArgumentException] {
      StagedParquet.updateWhere(spark, t, Seq("k" -> lit(9L)),
        Seq(org.apache.spark.sql.sources.EqualTo("id", 1L)))
    }
    assert(spark.table(t).filter($"k" === 9L).count() == 0L)
  }

  test("OR predicates: two partition branches both drop; NOT keeps NULL rows") {
    import spark.implicits._
    val t = tbl("d7")
    (0L until 300L).map(i => (i % 3, i, if (i % 10 == 0) None else Some(i * 1.0)))
      .toDF("k", "id", "v")
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    val keep2 = dataFiles(s"$dir/k=2")
    // disjunction over two identity values: BOTH dirs drop metadata-only
    spark.sql(s"DELETE FROM $t WHERE k = 0 OR k = 1")
    assert(!new java.io.File(s"$dir/k=0").exists)
    assert(!new java.io.File(s"$dir/k=1").exists)
    assert(dataFiles(s"$dir/k=2") == keep2)
    assert(spark.table(t).count() == 100L)
    // NOT over a nullable comparison: NOT(v > 100) is NULL where v is
    // NULL - those rows MUST survive
    spark.sql(s"DELETE FROM $t WHERE NOT (v > 100.0)")
    val left = spark.table(t).orderBy("id").collect()
    // k=2 rows: ids 2,5,...,299; survivors = v>100 (id>100, v non-null) or v null
    assert(left.forall(r => r.isNullAt(2) || r.getDouble(2) > 100.0))
    assert(left.exists(_.isNullAt(2)), "NULL-v rows must survive NOT(v>100)")
  }

  test("OR mixing an identity column and a data column: tier-1 drop plus materialized-identity COW") {
    import spark.implicits._
    val t = tbl("d8")
    (0L until 300L).map(i => (i % 3, i, i * 1.0)).toDF("k", "id", "v")
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    // k=0 is all-true under the OR (tier-1 metadata drop); k=1/k=2 are
    // undecidable and rewrite with k materialized from the dir name —
    // the predicate references a column the data files do not store
    spark.sql(s"DELETE FROM $t WHERE k = 0 OR v > 250.0")
    assert(!new java.io.File(s"$dir/k=0").exists)
    val left = spark.table(t).collect()
    // survivors: i % 3 != 0 and i <= 250
    assert(left.length == 167, s"expected 167 rows, got ${left.length}")
    assert(left.forall(r => r.getLong(0) != 0L && r.getDouble(2) <= 250.0))
  }

  test("timestamp columns read back after a COW rewrite (INT64 micros, not INT96)") {
    import spark.implicits._
    val t = tbl("d9")
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    (0L until 48L).map(i =>
      (java.sql.Timestamp.from(base.plusSeconds(i * 3600)), i))
      .toDF("ts", "n")
      .writeTo(t).partitionedBy(days(col("ts"))).createOrReplace()
    // boundary-day delete rewrites both days' files through Spark's
    // parquet writer — the V2 read of ts afterwards must decode
    spark.sql(s"DELETE FROM $t WHERE ts >= TIMESTAMP '2024-03-01 12:00:00Z' " +
      s"AND ts < TIMESTAMP '2024-03-02 12:00:00Z'")
    val got = spark.table(t).select($"ts").as[java.sql.Timestamp].collect()
      .map(_.toInstant).sorted.toSeq
    val want = ((0L until 12L) ++ (36L until 48L))
      .map(i => base.plusSeconds(i * 3600)).sorted
    assert(got == want, s"ts mismatch after rewrite: ${got.take(3)}...")
  }

  test("SET expressions may reference identity partition columns") {
    import spark.implicits._
    val t = tbl("u4")
    (0L until 100L).map(i => (i % 4, i, 0.0)).toDF("k", "id", "v")
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    StagedParquet.updateWhere(spark, t,
      Seq("v" -> (col("k") * 100.0)),
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 50L)))
    val rows = spark.table(t).collect()
    assert(rows.forall { r =>
      val (k, id, v) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      if (id >= 50L) v == k * 100.0 else v == 0.0
    })
  }

  test("identity string values with path-hostile characters survive the batched COW") {
    import spark.implicits._
    val keys = Seq("a/b", "c=d", "e%f", "naïve ü")
    val t = tbl("d10")
    (0L until 80L).map(i => (keys((i % 4).toInt), i, i * 1.0))
      .toDF("k", "id", "v")
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    // 'a/b' drops tier-1; the other three dirs COW with k materialized —
    // this pins the input_file_name()/listing join across %XX-escaped
    // directory names AND the partitionBy round trip of the rel path
    spark.sql(s"DELETE FROM $t WHERE k = 'a/b' OR v >= 40.0")
    val left = spark.table(t).collect()
    assert(left.forall(r => r.getString(0) != "a/b" && r.getDouble(2) < 40.0))
    // survivors: i in 0..39 with i%4 != 0 -> 30 rows, key values intact
    assert(left.length == 30, s"expected 30 rows, got ${left.length}")
    assert(left.map(_.getString(0)).distinct.toSet == keys.drop(1).toSet)
  }

  test("a delete touching many directories runs a bounded number of Spark jobs") {
    import spark.implicits._
    val t = tbl("d11")
    (0L until 800L).map(i => (i % 8, i, i * 1.0)).toDF("k", "id", "v")
      .writeTo(t).partitionedBy(col("k")).createOrReplace()
    // v >= 10 is undecidable for every one of the 8 directories ->
    // all 8 rewrite, but through ONE batched partitioned write
    val (rep, jobs) = TestSpark.jobsDuring(StagedParquet.deleteWhere(spark, t,
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("v", 10.0))))
    assert(rep.length == 8 && rep.forall(_._2 == "rewritten"), rep.toString)
    assert(jobs <= 2, s"8-dir COW must batch into <=2 Spark jobs, ran $jobs")
    assert(spark.table(t).count() == 10L)
    assert(spark.table(t).agg(max($"v")).as[Double].head() == 9.0)
  }

  test("single-key DELETE on a bucketed table: one bucket dir, zone map cuts to the key's files") {
    import spark.implicits._
    val t = tbl("d12")
    // key-clustered within buckets: range-partitioned tasks each write
    // their key band into the bucket dirs they hit, so every bucket dir
    // holds several files with DISJOINT key ranges
    (0L until 4000L).map(i => (i, i * 1.0)).toDF("key", "v")
      .repartitionByRange(8, $"key").sortWithinPartitions($"key")
      .writeTo(t).option("graft.write.distribute", "none")
      .partitionedBy(bucket(4, col("key"))).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    val bucketDirs = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("key_bucket="))
    assert(bucketDirs.length == 4)
    val filesPerDir = bucketDirs.map(b => dataFiles(s"$dir/$b").size).toSeq
    assert(filesPerDir.forall(_ >= 4), s"fixture needs multi-file dirs: $filesPerDir")
    val rep = StagedParquet.deleteWhere(spark, t,
      Seq(org.apache.spark.sql.sources.EqualTo("key", 2024L)))
    // one bucket dir touched (the hash prunes the other 3), and within it
    // the footers clear every file whose key range excludes 2024
    assert(rep.length == 1 && rep.head._2 == "rewritten", rep.toString)
    val (affected, copied) = (rep.head._3, rep.head._4)
    assert(affected == 1L,
      s"key-clustered bucket dir must rewrite only the key's file, rewrote $affected")
    assert(copied >= 3L, s"siblings must byte-copy, copied $copied")
    assert(spark.table(t).count() == 3999L)
    assert(spark.table(t).filter($"key" === 2024L).count() == 0L)
    assert(spark.table(t).filter($"key" === 2023L).count() == 1L)
  }

  test("predicates beyond the metadata tiers are rejected by the library API, not half-applied") {
    import spark.implicits._
    val t = tbl("d6")
    (0L until 10L).map(i => (i, s"n$i")).toDF("id", "name")
      .writeTo(t).createOrReplace()
    // the tiered deleteWhere cannot bound a StringContains — it must throw
    // before touching anything (SQL DELETE with such shapes now routes
    // through the row-level COW rewrite instead — StagedRowLevelSpec)
    intercept[Exception] {
      StagedParquet.deleteWhere(spark, t,
        Seq(org.apache.spark.sql.sources.StringContains("name", "n")))
    }
    assert(spark.table(t).count() == 10L, "a rejected DELETE must not remove rows")
  }
}
