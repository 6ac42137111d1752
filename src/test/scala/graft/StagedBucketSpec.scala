package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `bucket(n, key)` partitioning on staged tables — the HIGH-CARDINALITY
  * co-location transform: identity partitioning needs a directory per
  * distinct key (useless for a join key with millions of values), bucket
  * keeps a fixed fan-out at any cardinality. Contracts under test: rows
  * route by the shared [[graft.sources.v2.BucketHash]] and read back
  * exactly; two same-bucketed tables STORAGE-PARTITION-JOIN with zero
  * exchanges (the 100 TB fact-fact shape); a point predicate on the key
  * opens only the literal's bucket directory; a runtime IN from a joined
  * dim closes every other bucket (DPP); null keys survive the round trip.
  */
class StagedBucketSpec extends AnyFunSuite {
  private lazy val spark = { graft.sources.v2.StagedParquet.ensureCatalog(TestSpark.spark); TestSpark.spark }
  private def tbl(t: String) = s"graft_staged.bucketspec.$t"
  import graft.sources.v2.{BucketHash, StagedParquet}

  private def opened = graft.sources.v2.StagedReaderFactory.readersCreated

  test("bucketed write routes by the shared hash and reads back exactly") {
    import spark.implicits._
    val t = tbl("b1")
    val df = (0L until 1000L).map(i => (i, s"name$i", i * 1.5)).toDF("id", "name", "v")
    df.repartition(4).writeTo(t).partitionedBy(bucket(8, col("id"))).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    val dirs = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .map(_.getName).sorted
    assert(dirs.forall(_.startsWith("id_bucket=")), dirs.mkString(","))
    assert(dirs.length <= 8 && dirs.length >= 6, s"8-way fan-out, got ${dirs.length}")
    // the layout IS the hash: spot-check a directory holds exactly its ids
    val d0 = spark.read.parquet(s"$dir/id_bucket=0").select("id").as[Long].collect()
    assert(d0.nonEmpty && d0.forall(i => BucketHash.id(BucketHash.ofLong(i), 8) == 0))
    // full content round-trips through the V2 scan
    assert(spark.table(t).orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("same-bucketed tables storage-partition-join with ZERO exchanges") {
    import spark.implicits._
    val l = tbl("b2l"); val r = tbl("b2r")
    (0L until 2000L).map(i => (i % 500, i, i * 2.0)).toDF("k", "lid", "lv")
      .repartition(4).writeTo(l).partitionedBy(bucket(8, col("k"))).createOrReplace()
    (0L until 1000L).map(i => (i % 500, i * 3.0)).toDF("k", "rv")
      .repartition(4).writeTo(r).partitionedBy(bucket(8, col("k"))).createOrReplace()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val lt = spark.table(l); val rt = spark.table(r)
      val j = lt.join(rt, "k").groupBy("k").agg(count(lit(1)).as("n"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucket SPJ did not engage:\n${plan.take(2500)}")
      // 500 distinct keys x (4 left rows x 2 right rows each) = 8 pairs/key
      val rows = j.collect()
      assert(rows.length == 500 && rows.forall(_.getLong(1) == 8L))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a point predicate on the bucket key opens only the literal's bucket") {
    import spark.implicits._
    val t = tbl("b3")
    (0L until 800L).map(i => (i, i.toString)).toDF("id", "s")
      .coalesce(1).writeTo(t).partitionedBy(bucket(8, col("id"))).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    val nDirs = new java.io.File(dir).listFiles
      .count(f => f.isDirectory && f.getName.contains("="))
    assert(nDirs == 8)
    opened.set(0L)
    val rows = spark.table(t).filter($"id" === 123L).collect()
    assert(rows.length == 1 && rows.head.getString(1) == "123")
    assert(opened.get() == 1L,
      s"expected exactly the key's bucket dir opened, opened ${opened.get()} of 8")
    // IN over two keys: at most two buckets
    opened.set(0L)
    assert(spark.table(t).filter($"id".isin(7L, 700L)).count() == 2L)
    assert(opened.get() <= 2L, s"IN(2 keys) opened ${opened.get()} buckets")
  }

  test("runtime IN from a joined dim closes other buckets (DPP over bucket dirs)") {
    import spark.implicits._
    val fact = tbl("b4f")
    (0L until 4000L).map(i => (i % 100, i)).toDF("k", "payload")
      .coalesce(1).writeTo(fact).partitionedBy(bucket(8, col("k"))).createOrReplace()
    // dim from parquet (a relation with real stats — the shape the runtime
    // pruning rule prices), one hot key
    val dimPath = "/tmp/graft_stage/bucketspec_dim"
    (0L until 100L).map(i => (i, if (i == 42L) "hot" else "cold"))
      .toDF("k", "tag").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"tag" === "hot")
    opened.set(0L)
    val j = spark.table(fact).join(broadcast(dim), "k")
    assert(j.count() == 40L)
    assert(opened.get() <= 2L,
      s"runtime filter should close non-matching buckets, opened ${opened.get()} of 8")
  }

  test("a single-key DELETE touches only the key's bucket directory") {
    import spark.implicits._
    val t = tbl("b6")
    (0L until 800L).map(i => (i, i * 2.0)).toDF("id", "v")
      .coalesce(1).writeTo(t).partitionedBy(bucket(8, col("id"))).createOrReplace()
    val dir = StagedParquet.tableDir(spark, t)
    def listing(k: Int): Seq[(String, Long)] = {
      val d0 = new java.io.File(s"$dir/id_bucket=$k")
      d0.listFiles.toSeq.filter(f => f.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length)).sorted
    }
    val hot = BucketHash.id(BucketHash.ofLong(123L), 8)
    val before = (0 until 8).map(listing)
    spark.sql(s"DELETE FROM $t WHERE id = 123")
    // every OTHER bucket directory is byte-identical — the delete's dir
    // verdict proved the key absent without opening a footer
    (0 until 8).filter(_ != hot).foreach(k =>
      assert(listing(k) == before(k), s"bucket $k must be untouched"))
    assert(listing(hot) != before(hot))
    assert(spark.table(t).count() == 799L)
    assert(spark.table(t).filter($"id" === 123L).count() == 0L)
  }

  test("null keys route to the null directory and survive the round trip") {
    import spark.implicits._
    val t = tbl("b5")
    (0L until 20L).map(i => (if (i % 5 == 0) None else Some(i), i))
      .toDF("id", "n")
      .writeTo(t).partitionedBy(bucket(4, col("id"))).createOrReplace()
    assert(spark.table(t).count() == 20L)
    assert(spark.table(t).filter($"id".isNull).count() == 4L)
    val dir = StagedParquet.tableDir(spark, t)
    assert(new java.io.File(s"$dir/id_bucket=__HIVE_DEFAULT_PARTITION__").exists)
  }
}
