package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DataSource V2 staged write path: atomic createOrReplace through the
  * StagingTableCatalog, truncate-load through SupportsTruncate, the
  * two-phase task file commit, and — the property the whole design exists
  * for — prod untouched when a write dies between staging and commit.
  */
class StagedSinkSpec extends AnyFunSuite {
  private lazy val spark = { graft.sources.v2.StagedParquet.ensureCatalog(TestSpark.spark); TestSpark.spark }
  private val root = "/tmp/graft_stage/v2"
  private val ns = "spec"

  private def prodDir(t: String) = s"$root/$ns/$t"
  private def listDirs(t: String): Seq[String] = {
    val parent = new java.io.File(s"$root/$ns")
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(t)).map(_.getName)
      // the version-history sibling is lifecycle metadata, not leftovers
      .filterNot(_.endsWith("__meta")).toSeq
  }
  private def listDirsIn(t: String): Seq[String] = {
    val d = new java.io.File(prodDir(t))
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSeq
  }
  private def filesIn(t: String, sub: String): Set[String] = {
    val d = new java.io.File(prodDir(t), sub)
    Option(d.listFiles()).getOrElse(Array.empty).map(_.getName).toSet
  }
  private def listFilesRec(dir: String): Set[String] =
    org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir), null, true)
      .toArray.map(_.toString).toSet
  private def dropAll(t: String): Unit = {
    val parent = new java.io.File(s"$root/$ns")
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(t))
      .foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))
  }

  test("createOrReplace writes through the staged V2 commit and reads back") {
    dropAll("t1")
    val src = spark.range(0, 1000).select(col("id"),
      concat(lit("row-"), col("id")).as("name"),
      (col("id") * 2.5).as("score"))
    src.writeTo(s"graft_staged.$ns.t1").createOrReplace()
    val back = spark.read.parquet(prodDir("t1"))
    assert(back.count() == 1000)
    assert(back.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    val r = back.filter(col("id") === 7).collect().head
    assert(r.getString(1) == "row-7" && r.getDouble(2) == 17.5)
    // replacement actually replaces
    spark.range(0, 10).select(col("id"), lit("v2").as("name"),
      lit(0.0).as("score")).writeTo(s"graft_staged.$ns.t1").createOrReplace()
    assert(spark.read.parquet(prodDir("t1")).count() == 10)
    // no staging leftovers after a successful swap
    assert(listDirs("t1") == Seq("t1"))
  }

  test("the write plans as an ATOMIC replace through our BatchWrite") {
    dropAll("t2")
    val (_, plans) = TestSpark.plansDuring(spark.range(0, 50).select(col("id"))
      .writeTo(s"graft_staged.$ns.t2").createOrReplace())
    val plan = plans.map(_._2.executedPlan.toString).mkString
    // the atomic (staged-catalog) exec node, not the drop-then-create one
    assert(plan.contains("AtomicReplaceTableAsSelect"), plan.take(1500))
  }

  test("a write that fails mid-query leaves prod untouched (staging aborted)") {
    dropAll("t3")
    // seed prod with v1
    spark.range(0, 100).select(col("id"), lit("v1").as("tag"))
      .writeTo(s"graft_staged.$ns.t3").createOrReplace()
    assert(spark.read.parquet(prodDir("t3")).count() == 100)
    // v2 write dies on row 500 — after some task files are already staged
    val poison = spark.range(0, 1000).select(col("id"),
      when(col("id") === 500, raise_error(lit("boom"))).otherwise(lit("v2")).as("tag"))
    val e = intercept[Exception] {
      poison.writeTo(s"graft_staged.$ns.t3").createOrReplace()
    }
    assert(e.getMessage != null)
    // prod still serves v1, wholly
    val back = spark.read.parquet(prodDir("t3")).collect()
    assert(back.length == 100 && back.forall(_.getString(1) == "v1"))
    // and the aborted staging dir was cleaned up
    assert(listDirs("t3") == Seq("t3"),
      s"staging leftovers: ${listDirs("t3")}")
  }

  test("truncate-load: overwrite(true) replaces contents atomically") {
    dropAll("t4")
    val tbl = s"graft_staged.$ns.t4"
    val v1 = spark.range(0, 200).select(col("id"), lit(1).as("v"))
    spark.sql(s"CREATE TABLE IF NOT EXISTS $tbl (${v1.schema.toDDL})")
    v1.writeTo(tbl).overwrite(lit(true))
    assert(spark.read.parquet(prodDir("t4")).count() == 200)
    // second load truncates the first
    spark.range(0, 30).select(col("id"), lit(2).as("v"))
      .writeTo(tbl).overwrite(lit(true))
    val back = spark.read.parquet(prodDir("t4")).collect()
    assert(back.length == 30 && back.forall(_.getInt(1) == 2))
    assert(listDirs("t4") == Seq("t4"))
    // a failed truncate-load also leaves the previous contents intact
    val poison = spark.range(0, 100).select(col("id"),
      when(col("id") === 50, raise_error(lit("boom"))).otherwise(lit(3)).as("v"))
    intercept[Exception] { poison.writeTo(tbl).overwrite(lit(true)) }
    val after = spark.read.parquet(prodDir("t4")).collect()
    assert(after.length == 30 && after.forall(_.getInt(1) == 2))
  }

  test("append adds rows without touching committed files") {
    dropAll("t5")
    val tbl = s"graft_staged.$ns.t5"
    spark.range(0, 40).select(col("id")).writeTo(tbl).createOrReplace()
    spark.range(40, 100).select(col("id")).writeTo(tbl).append()
    val back = spark.read.parquet(prodDir("t5"))
    assert(back.count() == 100)
    assert(back.agg(sum("id")).collect().head.getLong(0) == (0L until 100L).sum)
  }

  test("decimal/date/timestamp columns round-trip through the sink") {
    dropAll("t6")
    val src = spark.range(0, 25).select(col("id"),
      col("id").cast("decimal(12,2)").as("dec"),
      to_date(lit("2024-03-01")).as("d"),
      to_timestamp(lit("2024-03-01 12:30:00")).as("ts"),
      col("id").cast("int").as("i32"))
    src.writeTo(s"graft_staged.$ns.t6").createOrReplace()
    val back = spark.read.parquet(prodDir("t6"))
    assert(back.schema("dec").dataType.simpleString == "decimal(12,2)")
    assert(back.schema("ts").dataType.simpleString == "timestamp")
    assert(back.schema("d").dataType.simpleString == "date")
    val r = back.filter(col("id") === 24).collect().head
    assert(r.getDecimal(1).toPlainString == "24.00")
    assert(r.getDate(2).toString == "2024-03-01")
    assert(r.getTimestamp(3).toInstant.toString == "2024-03-01T12:30:00Z")
  }

  test("a foreign INT96-timestamp file reads through the V2 scan (legacy-writer fallback)") {
    // a file written by a legacy Spark writer (outputTimestampType=INT96)
    // dropped into a table dir must still decode — the converter's
    // addBinary Julian-day fallback, never exercised by the sink's own
    // INT64-micros files
    dropAll("t6b")
    val tbl = s"graft_staged.$ns.t6b"
    val base = java.time.Instant.parse("2024-07-01T06:30:00Z")
    val src = spark.range(0, 20).select(col("id"),
      to_timestamp(lit("2024-07-01 06:30:00")).cast("timestamp").as("ts0"))
      .withColumn("ts", expr("ts0 + make_interval(0,0,0,0,0,0,id)")).drop("ts0")
    src.writeTo(tbl).createOrReplace()
    val foreign = java.nio.file.Files.createTempDirectory("int96").toString
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try src.withColumn("id", col("id") + 100L)
      .repartition(1).write.mode("overwrite").parquet(foreign)
    finally spark.conf.set(key, prev)
    val pf = new java.io.File(foreign).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(pf.toPath,
      new java.io.File(prodDir("t6b"), "foreign-int96.snappy.parquet").toPath)
    val back = spark.table(tbl).orderBy("id").collect()
    assert(back.length == 40)
    assert(back.forall { r =>
      r.getTimestamp(1).toInstant == base.plusSeconds(r.getLong(0) % 100L) })
  }

  test("query routes: etl_rename_replace / etl_truncate_load via the V2 sink") {
    val d = TestSpark.sf
    val rr = graft.queries.Ingest.queries("etl_rename_replace")(spark, d).collect()
    val want = graft.core.Tables.customer(spark, d)
      .filter(col("c_custkey") % 4 === 1)
      .select("c_custkey", "c_name", "c_acctbal").orderBy("c_custkey").collect()
    assert(rr.sameElements(want))
    val tl = graft.queries.Ingest.queries("etl_truncate_load")(spark, d).collect()
    val wantTl = graft.core.Tables.supplier(spark, d)
      .select("s_suppkey", "s_name", "s_nationkey").orderBy("s_suppkey").collect()
    assert(tl.sameElements(wantTl))
  }

  test("identity-partitioned createOrReplace writes k=v dirs and reads back pruned") {
    dropAll("t7")
    val src = spark.range(0, 400).select(col("id"),
      (col("id") % 4).cast("int").as("k"),
      concat(lit("v-"), col("id")).as("payload"))
    src.writeTo(s"graft_staged.$ns.t7").partitionedBy(col("k")).createOrReplace()
    // the layout IS the partitioning: one k=v dir per key, no data files at root
    val sub = listDirsIn("t7")
    assert(sub.sorted == Seq("k=0", "k=1", "k=2", "k=3"), sub.toString)
    // identity column lives in the DIRECTORY, not the data files
    val raw = spark.read.parquet(s"${prodDir("t7")}/k=2")
    assert(!raw.schema.fieldNames.contains("k"))
    val back = spark.read.parquet(prodDir("t7"))
    assert(back.count() == 400)
    assert(back.filter(col("k") === 2 && col("id") === 6).collect()
      .head.getAs[String]("payload") == "v-6")
    // read-back plan PRUNES on the partition column — the assert the whole
    // feature exists for (layout planners now have a sink that can express
    // their plans)
    val plan = back.filter(col("k") === 2).queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters.*k.* = 2.*"), plan.take(2000))
    // and the catalog reports the partitioning on load
    val tbl = spark.sessionState.catalogManager.catalog("graft_staged")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(ns), "t7"))
    assert(tbl.partitioning().map(_.toString).toSeq == Seq("identity(k)"))
  }

  test("days-transform partitioning derives ts_day dirs, source column stays") {
    dropAll("t8")
    val src = spark.range(0, 100).select(col("id"),
      to_timestamp(concat(lit("2024-03-0"), (col("id") % 3 + 1).cast("string"),
        lit(" 10:00:00"))).as("ts"))
    src.writeTo(s"graft_staged.$ns.t8").partitionedBy(days(col("ts"))).createOrReplace()
    assert(listDirsIn("t8").sorted ==
      Seq("ts_day=2024-03-01", "ts_day=2024-03-02", "ts_day=2024-03-03"))
    val back = spark.read.parquet(prodDir("t8"))
    // ts is in the data files (days is a DERIVED dir), ts_day from the dirs
    assert(back.schema.fieldNames.toSet == Set("id", "ts", "ts_day"))
    assert(back.schema("ts_day").dataType.simpleString == "date")
    val plan = back.filter(col("ts_day") === "2024-03-02")
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters.*ts_day.*"), plan.take(2000))
    assert(back.filter(col("ts_day") === "2024-03-02").count() == 33)
  }

  test("overwritePartitions swaps ONLY the touched partition dirs") {
    dropAll("t9")
    val tbl = s"graft_staged.$ns.t9"
    spark.range(0, 100).select(col("id"), (col("id") % 4).cast("int").as("k"),
        lit("v1").as("tag"))
      .writeTo(tbl).partitionedBy(col("k")).createOrReplace()
    val before = filesIn("t9", "k=3")
    // dynamic overwrite touches only k=1 (and plants different row counts)
    spark.range(1000, 1010).select(col("id"), lit(1).cast("int").as("k"),
        lit("v2").as("tag"))
      .writeTo(tbl).overwritePartitions()
    val back = spark.read.parquet(prodDir("t9"))
    val k1 = back.filter(col("k") === 1).collect()
    assert(k1.length == 10 && k1.forall(_.getAs[String]("tag") == "v2"))
    // untouched partitions keep BOTH their rows and their physical files
    assert(back.filter(col("k") === 3).count() == 25)
    assert(filesIn("t9", "k=3") == before, "untouched partition was rewritten")
    assert(back.count() == 75 + 10)
    // a failed dynamic overwrite leaves everything intact
    val poison = spark.range(0, 50).select(col("id"),
      (col("id") % 4).cast("int").as("k"),
      when(col("id") === 25, raise_error(lit("boom"))).otherwise(lit("v3")).as("tag"))
    intercept[Exception] { poison.writeTo(tbl).overwritePartitions() }
    val after = spark.read.parquet(prodDir("t9"))
    assert(after.count() == 85)
    assert(after.filter(col("tag") === "v3").count() == 0)
    // abort cleanup races the async task kill; give it a moment (abort
    // itself re-deletes a resurrected staging dir for up to ~5 s, but
    // under full-suite parallel load the kill can outlast even that)
    val deadline = System.nanoTime + 20000000000L
    while (listDirs("t9") != Seq("t9") && System.nanoTime < deadline)
      Thread.sleep(100)
    assert(listDirs("t9") == Seq("t9"), s"staging leftovers: ${listDirs("t9")}")
  }

  test("two interleaved appends both survive (token-scoped sweeps)") {
    dropAll("t10")
    val tbl = s"graft_staged.$ns.t10"
    spark.range(0, 10).select(col("id")).writeTo(tbl).createOrReplace()
    // a concurrent job's in-flight temp file must NOT be swept by our commit
    val foreign = new java.io.File(prodDir("t10"), "_tmp-deadbeef0000-part-00000-0-deadbeef0000.snappy.parquet")
    java.nio.file.Files.write(foreign.toPath, Array[Byte](1, 2, 3))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    import scala.concurrent._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val writes = Seq((100, 200), (200, 300)).map { case (a, b) =>
      Future { spark.range(a, b).select(col("id")).writeTo(tbl).append() }
    }
    import scala.concurrent.duration._
    writes.foreach(Await.result(_, 120.seconds))
    pool.shutdown()
    val back = spark.read.parquet(prodDir("t10"))
    assert(back.count() == 210)
    assert(back.agg(sum("id")).collect().head.getLong(0) ==
      (0L until 10L).sum + (100L until 300L).sum)
    assert(foreign.exists(), "a concurrent job's temp file was swept")
    foreign.delete()
  }

  test("nested types (array/struct/map, array of struct) round-trip bit-identical") {
    dropAll("t11")
    val src = spark.range(0, 50).select(col("id"),
      array(col("id") * 1.5, col("id") * 2.5, lit(null).cast("double")).as("arr"),
      struct(col("id").as("a"), concat(lit("s"), col("id")).as("b"),
        array(col("id").cast("int")).as("inner")).as("st"),
      map(concat(lit("k"), col("id")), col("id") * 10).as("m"),
      array(struct(col("id").as("x"), lit("y").as("y"))).as("aos"),
      when(col("id") % 7 === 0, lit(null).cast("array<bigint>"))
        .otherwise(array(col("id"))).as("nullable_arr"))
    src.writeTo(s"graft_staged.$ns.t11").createOrReplace()
    val back = spark.read.parquet(prodDir("t11"))
    assert(back.schema("arr").dataType.simpleString == "array<double>")
    assert(back.schema("st").dataType.simpleString == "struct<a:bigint,b:string,inner:array<int>>")
    assert(back.schema("m").dataType.simpleString == "map<string,bigint>")
    assert(back.schema("aos").dataType.simpleString == "array<struct<x:bigint,y:string>>")
    val got = back.orderBy("id").collect()
    val want = src.orderBy("id").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
    // empty array/map round-trip (the 3-level encoding's edge case)
    dropAll("t12")
    val edge = spark.range(0, 3).select(col("id"),
      array().cast("array<string>").as("ea"),
      map().cast("map<string,int>").as("em"))
    edge.writeTo(s"graft_staged.$ns.t12").createOrReplace()
    val eb = spark.read.parquet(prodDir("t12")).orderBy("id").collect()
    assert(eb.forall(r => r.getSeq[String](1).isEmpty && r.getMap[String, Int](2).isEmpty))
  }

  test("one encoder: the sink's files carry the parquet schema Spark's writer gives the same rows") {
    dropAll("tenc")
    // every type the V2 scan decodes, nested types, nulls at each level,
    // and the non-nullable `id` (REQUIRED in both files)
    val src = spark.range(0, 40).select(col("id"),
      (col("id") % 2 === 0).as("b"),
      col("id").cast("int").as("i"),
      col("id").cast("float").as("f"),
      (col("id") * 0.5).as("d"),
      when(col("id") % 5 =!= 0, concat(lit("s"), col("id"))).as("s"),
      col("id").cast("string").cast("binary").as("bin"),
      col("id").cast("decimal(9,2)").as("dec9"),
      col("id").cast("decimal(18,4)").as("dec18"),
      date_add(to_date(lit("2024-01-01")), col("id").cast("int")).as("dt"),
      to_timestamp(lit("2024-01-01 00:00:00")).as("ts"),
      when(col("id") % 3 =!= 0, array(col("id"), lit(null).cast("bigint"))).as("arr"),
      when(col("id") % 4 =!= 0, struct(col("id").as("a"),
        lit(null).cast("string").as("n"), array(col("id").cast("int")).as("inner"))).as("st"),
      when(col("id") % 6 =!= 0, map(concat(lit("k"), col("id")),
        when(col("id") % 2 === 0, col("id")))).as("m"))
      .repartition(1)
    src.writeTo(s"graft_staged.$ns.tenc").createOrReplace()
    val viaSpark = java.nio.file.Files.createTempDirectory("one_encoder").toString
    graft.sources.v2.StagedParquet.withMicrosTimestamps(spark) {
      src.write.mode("overwrite").parquet(viaSpark)
    }
    def schemaOf(dir: String) = {
      val f = new java.io.File(dir).listFiles
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).head
      graft.sources.v2.StagedScan.withFooter(f.getPath)(_.getFooter.getFileMetaData.getSchema)
    }
    val sink = schemaOf(prodDir("tenc"))
    assert(sink == schemaOf(viaSpark), s"sink:\n$sink\nspark:\n${schemaOf(viaSpark)}")
    assert(sink.getType(sink.getFieldIndex("id")).isRepetition(
      org.apache.parquet.schema.Type.Repetition.REQUIRED))
    // and the V2 scan decodes it back to the rows written
    val back = spark.table(s"graft_staged.$ns.tenc").orderBy("id").collect()
    assert(back.toSeq == src.orderBy("id").collect().toSeq)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(viaSpark))
  }

  test("nested-field projections read through the V2 scan's pruned structs") {
    dropAll("tnest")
    val src = spark.range(0, 30).select(col("id"),
      when(col("id") % 4 =!= 0, struct(col("id").as("a"),
        concat(lit("s"), col("id")).as("b"), array(col("id").cast("int")).as("inner"))).as("st"),
      array(struct(col("id").as("x"), concat(lit("y"), col("id")).as("y"))).as("aos"))
    src.writeTo(s"graft_staged.$ns.tnest").createOrReplace()
    def q(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("st.b"), col("st.inner"), col("aos.y"))
    val viaScan = q(spark.table(s"graft_staged.$ns.tnest"))
    // Spark hands the scan structs pruned to the fields the query reads,
    // here not the leading ones; rows must come back in that shape
    val scanned = viaScan.queryExecution.optimizedPlan.collectLeaves().head.schema
    assert(scanned("st").dataType.simpleString == "struct<b:string,inner:array<int>>", scanned)
    assert(viaScan.orderBy("id").collect().toSeq == q(src).orderBy("id").collect().toSeq)
  }

  test("a write of a type the V2 scan cannot decode fails before any task, table untouched") {
    // a task that ran would fail on raise_error instead of the gate
    val bad = spark.range(0, 20).select(col("id"),
      when(col("id") >= 0, raise_error(lit("a write task ran")))
        .cast("tinyint").as("tiny"),
      col("id").cast("decimal(38,0)").as("wide"))
    def rejected(t: String)(write: String => Unit): Unit = {
      val tbl = s"graft_staged.$ns.$t"
      val dir = prodDir(t)
      def state = (spark.table(tbl).orderBy("id").collect().toSeq,
        listFilesRec(dir), graft.sources.v2.StagedParquet.currentVersion(dir))
      val before = state
      val e = intercept[Exception](write(tbl))
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" / ")
      assert(msg.contains("column tiny has type TINYINT"), msg)
      assert(!msg.contains("a write task ran"), msg)
      assert(state == before)
      assert(listDirs(t) == Seq(t), s"staging leftovers: ${listDirs(t)}")
    }
    // a replace of a populated table
    dropAll("tgate1")
    spark.range(0, 20).select(col("id"), lit("v1").as("tag"))
      .writeTo(s"graft_staged.$ns.tgate1").createOrReplace()
    rejected("tgate1")(bad.writeTo(_).createOrReplace())
    // an append to a table declared with those types; decimal(38,0) alone
    // is refused too
    dropAll("tgate2")
    spark.sql(s"CREATE TABLE graft_staged.$ns.tgate2 (${bad.schema.toDDL})")
    rejected("tgate2")(bad.writeTo(_).append())
    val e = intercept[Exception](bad.drop("tiny").writeTo(s"graft_staged.$ns.tgate1").createOrReplace())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("column wide has type DECIMAL(38,0)")))
  }

  test("staged MERGE upserts atomically; a crash mid-merge leaves prod pre-merge") {
    dropAll("t13")
    val tbl = s"graft_staged.$ns.t13"
    spark.range(0, 100).select(col("id"), lit("old").as("v"))
      .writeTo(tbl).createOrReplace()
    // staging: updates for half the keys + 10 new keys
    val staging = spark.range(50, 160).filter(col("id") < 100 || col("id") >= 150)
      .select(col("id"), lit("new").as("v"))
    graft.sources.v2.StagedParquet.upsertInto(spark, tbl, staging, Seq("id"))
    val back = spark.read.parquet(prodDir("t13")).collect()
    assert(back.length == 110)
    assert(back.count(_.getString(1) == "new") == 60) // 50 updated + 10 inserted
    assert(back.filter(_.getLong(0) < 50).forall(_.getString(1) == "old"))
    // poison merge: prod must keep serving the POST-FIRST-MERGE contents
    val poison = spark.range(0, 20).select(col("id"),
      when(col("id") === 10, raise_error(lit("boom"))).otherwise(lit("v3")).as("v"))
    intercept[Exception] {
      graft.sources.v2.StagedParquet.upsertInto(spark, tbl, poison, Seq("id"))
    }
    val after = spark.read.parquet(prodDir("t13")).collect()
    assert(after.length == 110)
    assert(after.count(_.getString(1) == "new") == 60)
    assert(after.count(_.getString(1) == "v3") == 0)
    // and the query route produces the oracle shape
    val d = TestSpark.sf
    val up = graft.queries.Etl.queries("etl_upsert")(spark, d).collect()
    assert(up.nonEmpty && up.map(_.getAs[Long]("o_orderkey")).distinct.length == up.length)
  }

  test("metadata-only ADD COLUMN: old files null-fill, new appends carry values") {
    dropAll("tev")
    val tbl = s"graft_staged.$ns.tev"
    spark.range(0, 30).select(col("id"), concat(lit("n"), col("id")).as("name"))
      .writeTo(tbl).createOrReplace()
    val filesBefore = filesIn("tev", "")
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN score DOUBLE")
    // the alter touched METADATA only — every data file is byte-identical
    assert(filesIn("tev", "").filterNot(_.startsWith("_")) ==
      filesBefore.filterNot(_.startsWith("_")))
    // catalog now declares the evolved schema
    assert(spark.sql(s"DESCRIBE TABLE $tbl").collect()
      .exists(r => r.getString(0) == "score" && r.getString(1) == "double"))
    spark.range(30, 50).select(col("id"),
        concat(lit("n"), col("id")).as("name"), (col("id") * 1.5).as("score"))
      .writeTo(tbl).append()
    val back = graft.sources.v2.StagedParquet.readTable(spark, tbl)
      .orderBy("id").collect()
    assert(back.length == 50)
    // pre-evolution rows read back NULL; post-evolution rows carry values
    assert(back.take(30).forall(_.isNullAt(2)))
    assert(back.drop(30).forall(r => r.getDouble(2) == r.getLong(0) * 1.5))
    // only nullable, top-level, end-position adds qualify
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $tbl ADD COLUMN flag BOOLEAN NOT NULL")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $tbl ADD COLUMN early INT FIRST")
    }
    // RENAME is metadata-only since r13 (field-id + alias mapping):
    // committed files keep their bytes under the OLD name and read back
    // through the alias — byte-identical files, values intact
    val filesPreRename = filesIn("tev", "").filterNot(_.startsWith("_"))
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN name TO nm")
    assert(filesIn("tev", "").filterNot(_.startsWith("_")) == filesPreRename)
    assert(graft.sources.v2.StagedParquet.readTable(spark, tbl)
      .schema.fieldNames.toSeq == Seq("id", "nm", "score"))
    assert(graft.sources.v2.StagedParquet.readTable(spark, tbl)
      .orderBy("id").collect()
      .forall(r => r.getString(1) == s"n${r.getLong(0)}"),
      "pre-rename bytes must read back through the alias")
    // a historical name stays RESERVED: rename-back or re-add would
    // re-bind the old files' bytes to a different column
    intercept[Exception] { spark.sql(s"ALTER TABLE $tbl RENAME COLUMN nm TO name") }
    intercept[Exception] { spark.sql(s"ALTER TABLE $tbl ADD COLUMN name DOUBLE") }

    // metadata-only DROP COLUMN: files byte-identical, readers project the
    // declared remainder, and the dropped NAME is tombstoned (a re-add
    // would resurrect pre-drop bytes as the new column's values)
    def dataOnly(ns0: Set[String]) =
      ns0.filterNot(n => n.startsWith("_") || n.startsWith("."))
    val filesPreDrop = dataOnly(filesIn("tev", ""))
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN score")
    assert(dataOnly(filesIn("tev", "")) == filesPreDrop)
    assert(spark.table(tbl).columns.toSeq == Seq("id", "nm"))
    assert(spark.table(tbl).count() == 50)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $tbl ADD COLUMN score DOUBLE") // tombstoned
    }
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN score2 DOUBLE") // fresh name ok
    assert(spark.table(tbl).columns.toSeq == Seq("id", "nm", "score2"))
    // partition-referenced columns can never be dropped
    val pt = s"graft_staged.$ns.tev_part"
    spark.range(0, 8).select((col("id") % 2).as("k"), col("id"))
      .writeTo(pt).partitionedBy(col("k")).createOrReplace()
    intercept[Exception] { spark.sql(s"ALTER TABLE $pt DROP COLUMN k") }
  }

  test("ALTER TABLE SET / UNSET TBLPROPERTIES persist, the last UNSET included") {
    dropAll("tprops")
    val tbl = s"graft_staged.$ns.tprops"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT)")
    def reloaded(): Map[String, String] = {
      // a fresh catalog instance reads the table's files, no cached state
      val c = new graft.sources.v2.StagedCatalog()
      c.initialize("graft_staged", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("root", root)))
      c.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(ns), "tprops"))
        .properties().asScala.toMap
    }
    spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES ('a' = '1', 'b' = '2')")
    assert(reloaded() == Map("a" -> "1", "b" -> "2"))
    spark.sql(s"ALTER TABLE $tbl UNSET TBLPROPERTIES ('a')")
    assert(reloaded() == Map("b" -> "2"))
    spark.sql(s"ALTER TABLE $tbl UNSET TBLPROPERTIES ('b')")
    assert(reloaded().isEmpty, s"the last UNSET must clear it: ${reloaded()}")
  }

  test("engine write distribution: partitioned writes land one file per dir, opt-out preserves shape") {
    dropAll("tdist")
    val tbl = s"graft_staged.$ns.tdist"
    val df = spark.range(0, 4000).select((col("id") % 4).as("k"), col("id"))
      .repartition(16) // deliberately mis-shaped input: 16 round-robin tasks
    // the write DECLARES clustered(identity(k)) and the engine rebalances —
    // no caller-side repartition, still one file per partition directory
    df.writeTo(tbl).partitionedBy(col("k")).createOrReplace()
    def filesPerDir: Seq[Int] = (0 to 3).map { k =>
      new java.io.File(s"${graft.sources.v2.StagedParquet.tableDir(spark, tbl)}/k=$k")
        .listFiles.count(_.getName.endsWith(".parquet"))
    }
    assert(filesPerDir == Seq(1, 1, 1, 1), filesPerDir.toString)
    // appends ride the same distribution
    df.writeTo(tbl).append()
    assert(filesPerDir == Seq(2, 2, 2, 2), filesPerDir.toString)
    // opted out, the caller's 16-task shape sprays tasks x dirs files
    df.writeTo(tbl).option("graft.write.distribute", "none")
      .partitionedBy(col("k")).createOrReplace()
    assert(filesPerDir.sum > 16, filesPerDir.toString)
    assert(spark.table(tbl).count() == 4000L)
  }

  test("vacuum removes crash debris only; retention window protects live writes") {
    dropAll("tvac")
    val tbl = s"graft_staged.$ns.tvac"
    spark.range(0, 25).select(col("id")).writeTo(tbl).createOrReplace()
    def plant(path: String): Unit = {
      val f = new java.io.File(path)
      f.getParentFile.mkdirs()
      val w = new java.io.FileWriter(f); try w.write("x") finally w.close()
    }
    plant(s"${prodDir("tvac")}/_tmp-deadbeef-f1.parquet")
    plant(s"${prodDir("tvac")}__old/part-0.parquet")
    plant(s"${prodDir("tvac")}__staging.dead/part-0.parquet")
    // DEFAULT-args vacuum carries a 1 h retention window: the just-planted
    // (possibly-live) debris survives — the safe path is the default path
    val safe = graft.sources.v2.StagedParquet.vacuum(spark, tbl)
    assert(safe.isEmpty)
    assert(new java.io.File(s"${prodDir("tvac")}/_tmp-deadbeef-f1.parquet").exists())
    // explicit zero retention sweeps exactly the three debris classes
    val rep = graft.sources.v2.StagedParquet.vacuum(spark, tbl, minAgeMs = 0L).toMap
    assert(rep == Map("_tmp-deadbeef-f1.parquet" -> "orphan_tmp",
      "tvac__old" -> "stale_old", "tvac__staging.dead" -> "dead_staging"))
    assert(!new java.io.File(s"${prodDir("tvac")}__old").exists())
    // committed data untouched, table still serves every row
    assert(spark.read.parquet(prodDir("tvac")).count() == 25)
    // idempotent: a second vacuum finds nothing
    assert(graft.sources.v2.StagedParquet.vacuum(spark, tbl, minAgeMs = 0L).isEmpty)
  }

  test("SyncCheck parses SURVEY prose counts and they match the registry") {
    // the r7 verdict found the §2 table right but the prose stale; the
    // prose is now part of the sync gate
    val prose = graft.tools.SyncCheck.surveyProseCounts()
    assert(prose.nonEmpty, "no 'N queries, N oracles' line found in SURVEY.md")
    val n = graft.SparkEntry.queries.size
    assert(prose.forall(_._2 == n),
      s"stale prose counts: ${prose.filter(_._2 != n)} vs registry $n")
    // and a deliberately wrong count IS detected by the parser
    val tmp = java.nio.file.Files.createTempFile("survey_prose", ".md")
    java.nio.file.Files.write(tmp,
      "## §2\nblah\n123 queries, 456 oracles\n".getBytes("UTF-8"))
    val parsed = graft.tools.SyncCheck.surveyProseCounts(tmp.toString)
    assert(parsed.map(_._2) == Seq(123, 456))
    assert(parsed.exists(_._2 != n))
  }
}
