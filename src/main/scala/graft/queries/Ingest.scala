package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables._
import graft.sources.{CleanCsv, PagedRecords}

/** Ingest-path driver queries: the reference's csv-cleaning read and
  * paged-API record coercions (SURVEY.md §1 items 1 and 7), oracle-gated.
  * Each query deterministically STAGES a dirty input (a CSV with BOM/NUL
  * dirt; knack-shaped JSON pages) from a testdata table, runs the
  * ingest operator, and the oracle recomputes the expected clean output
  * straight from the table — so the whole dirty round trip must cancel out
  * exactly.
  */
object Ingest {

  // ---- cleaning CSV read: BOM + '#' headers + NUL bytes + latin-1 ---------
  /** Stage the nation table as a deliberately dirty CSV: a UTF-8 BOM
    * before the first header, Oracle-style `#` header separators, a NUL byte planted in
    * every 3rd name and a multi-byte 'é' in every 5th (the cleaner must
    * strip exactly the NUL and keep the é). The latin-1 fallback read is
    * exercised separately in CleanCsvSpec — one file cannot be both
    * BOM-marked UTF-8 and latin-1. Driver-side staging only writes the
    * small fixture; the read path itself stays fully distributed.
    */
  private val BOM = "\uFEFF"

  private def stageDirtyCsv(s: SparkSession, d: String): String = {
    val rows = nation(s, d)
      .orderBy("n_nationkey")
      .collect()
      .map { r =>
        val k = r.getAs[Number](0).longValue
        val name = r.getString(1) +
          (if (k % 3 == 0) "\u0000" else "") + (if (k % 5 == 0) "é" else "")
        s"$k,$name,${r.getAs[Number](2).longValue}"
      }
    val header = BOM + "NATION#KEY,N#NAME,REGION#KEY"
    // all-null rows at the bottom of the content — the sharepoint xlsx
    // extract's trailing-blank-row shape (sharepoint.py:124-125); the
    // cleaning read must drop them (oracle-gated: the oracle recomputes
    // from nation and would see two phantom null rows otherwise)
    val content = ((header +: rows) ++ Seq(",,", ",,")).mkString("\n")
    val dir = java.nio.file.Paths.get(
      "/tmp/graft_stage", java.lang.Integer.toHexString(d.hashCode))
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve("nation_dirty.csv")
    java.nio.file.Files.write(f,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f.toString
  }

  private val nationSchemaJson =
    """[{"name": "NATION#KEY", "type": "integer"},
        {"name": "N#NAME", "type": "string"},
        {"name": "REGION#KEY", "type": "integer"}]"""

  def csvIngest(s: SparkSession, d: String): DataFrame = {
    val path = stageDirtyCsv(s, d)
    CleanCsv.read(s, path, Some(nationSchemaJson))
      .orderBy("nation_key")
  }

  // ---- paged-API record coercion (knack/airtable semantics) ---------------
  /** Stage knack-shaped JSON pages from the customer table — 100 records
    * per page, records sorted by id within a page — then explode + coerce:
    * phone `{"full": ...}`, connection `[{"id": ...}]`, date_time
    * `{"timestamp": "M/d/yyyy h:mm a"}`, plus the sequential objectid in
    * (page, in-page-index) order. The page construction is itself
    * distributed (one groupBy), so a million-page dump stages the same way.
    */
  def pagedCoerce(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val rec = struct(
      col("c_custkey").as("id"),
      col("c_name").as("name"),
      struct(concat(lit("555-"), col("c_custkey")).as("full")).as("phone"),
      struct(format_string("%d/%d/2020 %d:%02d %s",
        col("c_custkey") % 12 + 1, col("c_custkey") % 28 + 1,
        col("c_custkey") % 12 + 1, col("c_custkey") % 60,
        when(col("c_custkey") % 2 === 0, "AM").otherwise("PM"))
        .as("timestamp")).as("when"),
      array(
        struct(concat(lit("cn-"), col("c_custkey")).as("id")),
        struct(concat(lit("cn-"), col("c_custkey") + 1).as("id"))).as("conns"))
    val pages = c.groupBy(expr("c_custkey div 100").as("page"))
      .agg(to_json(struct(sort_array(collect_list(rec)).as("records")))
        .as("page_json"))
    val records = PagedRecords.explodeRecords(pages, "page_json")
    val coerced = PagedRecords.addSequentialObjectId(records, "page", "record_idx")
      .select(
        col("objectid"),
        get_json_object(col("record_json"), "$.id").cast("long").as("id"),
        PagedRecords.coerceValue(col("record_json"), "name").as("name"),
        PagedRecords.coercePhone(col("record_json"), "phone").as("phone"),
        PagedRecords.coerceConnection(col("record_json"), "conns").as("conn_ids"),
        PagedRecords.coerceDateTime(col("record_json"), "when").as("event_ts"))
    coerced.orderBy("objectid")
  }

  // ---- DSv2 paged-API connector scan --------------------------------------
  /** The paged extraction routed through the DataSource V2 connector
    * ([[graft.sources.v2.PagedApiSource]]): the customer count plays the
    * reference's `total_records` preflight (knack.py:85-95 — one REST
    * call, here one 1-row aggregate), the connector plans one partition
    * per page, and the `page >= 1 AND page <= 120` predicate is PUSHED
    * into the scan — pages outside the range are never planned, never
    * fetched, never decoded (the incremental-resume idiom as a filter).
    * Record fields are then coerced with the same [[PagedRecords]]
    * operators the JSON-staging path uses. PagedApiV2Spec asserts the
    * partition-level pruning and column pruning on the physical plan.
    */
  def pagedApiScan(s: SparkSession, d: String): DataFrame = {
    val total = customer(s, d).count()
    val scan = s.read.format("graft.sources.v2.PagedApiSource")
      .option("rows", total).option("pageSize", 100).load()
      .filter(col("page") >= 1 && col("page") <= 120)
    scan.select(col("page"), col("record_idx"),
        get_json_object(col("record_json"), "$.id").cast("long").as("id"),
        PagedRecords.coerceValue(col("record_json"), "name").as("name"),
        PagedRecords.coercePhone(col("record_json"), "phone").as("phone"))
      .orderBy("page", "record_idx")
  }

  // ---- staging→prod rename-replace lifecycle, oracle-gated ----------------
  /** V2 root for the staged-catalog tables, namespaced per sf-dir so the
    * three scale factors never collide.
    */
  private[graft] def stagedNs(s: SparkSession, d: String): String = {
    graft.sources.v2.StagedParquet.ensureCatalog(s)
    "x" + java.lang.Integer.toHexString(d.hashCode)
  }

  // ---- shared staged fixtures (r11 VERDICT #6) ----------------------------
  // Eleven lifecycle queries each re-staged their orders/customer/events
  // inputs per invocation — at sf1 most of etl_meta_history's 2 s was the
  // staging write, repeated identically by its neighbors. The staged-table
  // contract is build-once/serve-many (the same amortization ArtifactCache
  // gives the ANN/dedup index builds), so:
  //   - READ-ONLY consumers (SPJ joins, footer scans, day pruning) stage
  //     into a SHARED namespace keyed by a fingerprint of the source
  //     parquet (regenerated testdata re-stages; stale reuse impossible)
  //     and every later caller — any query, any timed run — reads it as-is;
  //   - MUTATING consumers (DELETE/UPDATE/compaction lifecycles) take a
  //     FILE-LEVEL copy into their own per-query table first
  //     (copy-on-first-mutate): byte copies through the Hadoop FileSystem
  //     (an object store serves server-side copies), no Spark job, no
  //     shuffle/encode — and the shared tree is never touched
  //     (SharedFixtureSpec pins byte-identity across the mutating suite).
  // Under ArtifactCache.bypass (Bench's scale probes measure BUILDS) the
  // fixture rebuilds on every call, exactly as before.
  private val sharedBuildLock = new Object

  /** Fingerprint + namespace key for a shared fixture. Resolved through the
    * Hadoop FileSystem API like every other staged-table path (r12 ADVICE):
    * the earlier java.io.File walk silently read `missing:<rel>` for every
    * source on any non-local catalog root, so the namespace key drifted per
    * listing nuance and build-once/serve-many degraded to
    * rebuild-per-caller — wasted work that mutableCopyOf's byte copy then
    * masked. listStatus(name+len+mtime) gives the same regen-sensitivity
    * with scheme-independent semantics.
    */
  private def sharedNs(s: SparkSession, d: String, sources: Seq[String]): String = {
    import org.apache.hadoop.fs.Path
    val conf = s.sparkContext.hadoopConfiguration
    def fp(rel: String): String = {
      def walk(p: Path): Seq[String] = {
        val fs = p.getFileSystem(conf)
        if (!fs.exists(p)) Seq(s"missing:$rel")
        else {
          val st = fs.getFileStatus(p)
          if (st.isFile)
            Seq(s"${p.getName}:${st.getLen}:${st.getModificationTime}")
          else fs.listStatus(p).sortBy(_.getPath.getName).toSeq
            .flatMap(c => walk(c.getPath))
        }
      }
      walk(new Path(d, rel)).mkString(",")
    }
    val key = d + "|" + sources.map(r => s"$r=${fp(r)}").mkString("|")
    "sh" + java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(10)
  }

  /** The shared staged fixture `name` for data dir `d`: built by the first
    * caller (atomic createOrReplace swap — a concurrent JVM either sees
    * the complete table or builds its own and loses the swap), reused
    * read-only by everyone after. Reuse keys on a `<table>.done` marker
    * written beside the table once `build` returns, not on the table's
    * `_SUCCESS` (published by the build's FIRST commit): a multi-commit
    * build killed midway is dropped with its version history and rebuilt
    * from its sources, never served half-built.
    *
    * Under ArtifactCache.bypass (Bench's scale probes measure BUILDS) the
    * fixture rebuilds per call — and routes into the per-dir `x` namespace
    * instead of the shared one (r12 ADVICE): each createOrReplace retains
    * the replaced version for time travel, so bypass rebuilds into the
    * shared tree accumulated full-table copies that nothing swept; the
    * `x` namespace is exactly what Bench.cleanStaging drops after every
    * probe row.
    */
  private[graft] def sharedStaged(s: SparkSession, d: String, name: String,
      sources: Seq[String])(build: String => Unit): String = {
    graft.sources.v2.StagedParquet.ensureCatalog(s)
    if (graft.core.ArtifactCache.bypass) {
      val tbl = s"graft_staged.${stagedNs(s, d)}.$name"
      sharedBuildLock.synchronized(build(tbl))
      return tbl
    }
    val tbl = s"graft_staged.${sharedNs(s, d, sources)}.$name"
    sharedBuildLock.synchronized {
      val dir = graft.sources.v2.StagedParquet.tableDir(s, tbl)
      val done = new org.apache.hadoop.fs.Path(dir + ".done")
      val f = done.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!f.exists(done)) {
        f.delete(new org.apache.hadoop.fs.Path(dir), true): Unit
        f.delete(new org.apache.hadoop.fs.Path(dir + "__meta"), true): Unit
        build(tbl)
        f.create(done, true).close()
      }
    }
    tbl
  }

  /** Copy-on-first-mutate: a fresh per-query table whose tree is a
    * FILE-LEVEL copy of the shared fixture — the mutating lifecycle runs
    * against its own bytes (and its own empty version history: every run
    * starts at version 0, making the query's version arithmetic
    * run-invariant by construction).
    *
    * FIXTURE-ONLY path: FileUtil.copy moves the bytes driver-side,
    * single-threaded — fine for bench fixtures (sf1 tops out at tens of
    * MB), wrong as a production clone (one process's throughput). A real
    * table clone at scale is a distributed copy (per-file tasks) or,
    * better, a metadata-only snapshot that shares data files — do not
    * reach for this from a query.
    */
  private[graft] def mutableCopyOf(s: SparkSession, d: String,
      sharedTbl: String, name: String): String = {
    val tbl = s"graft_staged.${stagedNs(s, d)}.$name"
    val conf = s.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(
      graft.sources.v2.StagedParquet.tableDir(s, sharedTbl))
    val dst = new org.apache.hadoop.fs.Path(
      graft.sources.v2.StagedParquet.tableDir(s, tbl))
    val f = src.getFileSystem(conf)
    f.delete(dst, true): Unit
    f.delete(new org.apache.hadoop.fs.Path(dst.toString + "__meta"), true): Unit
    if (!org.apache.hadoop.fs.FileUtil.copy(f, src, f, dst, false, conf))
      throw new java.io.IOException(s"cannot copy fixture $src to $dst")
    // the copy is this table's CREATED base state (version 0) — stamp its
    // instant so TIMESTAMP AS OF below the first mutation resolves it
    graft.sources.v2.StagedParquet.stampCreation(dst.toString)
    tbl
  }

  /** Load a customer selection through the DataSource V2 STAGED commit
    * protocol (reference: postgres.py:449-559 + carto_.py:443-459
    * rename-replace): `writeTo(...).createOrReplace()` plans an atomic
    * replace — Spark stages the table via the catalog's
    * stageCreateOrReplace, runs the query through the staged BatchWrite
    * (two-phase task file commit), and only a successful write reaches
    * commitStagedChanges, the O(1) directory swap. The oracle recomputes
    * the selection directly, gating the whole write→swap→read path.
    * StagedSinkSpec additionally asserts prod is untouched when the write
    * fails mid-query.
    */
  def renameReplace(s: SparkSession, d: String): DataFrame = {
    val src = customer(s, d).filter(col("c_custkey") % 4 === 1)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val ns = stagedNs(s, d)
    src.writeTo(s"graft_staged.$ns.customer_prod").createOrReplace()
    // read back through the catalog's V2 scan (StagedScan), so the oracle
    // gates the staged parquet READ path as well as the staged write
    s.table(s"graft_staged.$ns.customer_prod")
      .orderBy("c_custkey")
  }

  /** Truncate-and-load twin of [[renameReplace]] (postgres.py:948-971):
    * the table is created once, then wholesale-replaced through the V2
    * truncate write — `writeTo(...).overwrite(lit(true))` reaches the
    * WriteBuilder's SupportsTruncate.truncate(), whose BatchWrite stages
    * the replacement and swaps it over prod at driver commit.
    */
  def truncateLoad(s: SparkSession, d: String): DataFrame = {
    val src = supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    val ns = stagedNs(s, d)
    val tbl = s"graft_staged.$ns.supplier_prod"
    s.sql(s"CREATE TABLE IF NOT EXISTS $tbl (${src.schema.toDDL})")
    src.writeTo(tbl).overwrite(lit(true))
    s.table(tbl).orderBy("s_suppkey")
  }

  /** Metadata-only schema evolution on the V2 table — the capability the
    * reference reaches by wholesale table replacement (postgres.py:755
    * temp-table rename; db2.py DDL regeneration): a base batch lands with
    * the v1 schema, `ALTER TABLE .. ADD COLUMN` evolves the DECLARED
    * schema without touching a single committed file, the next append
    * carries the new column, and the read back null-fills pre-evolution
    * files at scan time. At 100 TB the alter is one `_schema.json` write —
    * evolution cost is independent of table size, which is the entire
    * point of read-time reconciliation over rewrite.
    */
  def schemaEvolve(s: SparkSession, d: String): DataFrame = {
    val ns = stagedNs(s, d)
    val tbl = s"graft_staged.$ns.customer_evolve"
    customer(s, d).filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_name"))
      .writeTo(tbl).createOrReplace()
    s.sql(s"ALTER TABLE $tbl ADD COLUMN c_acctbal DOUBLE")
    customer(s, d).filter(col("c_custkey") % 3 === 1)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .writeTo(tbl).append()
    // RENAME leg (r12 VERDICT #7): metadata-only — the %3==1 files keep
    // their bytes under the OLD name c_acctbal; the alias mapping in
    // `_schema.json` reads them back as `balance`, the %3==2 files write
    // the new name natively, and the %3==0 files still null-fill
    s.sql(s"ALTER TABLE $tbl RENAME COLUMN c_acctbal TO balance")
    customer(s, d).filter(col("c_custkey") % 3 === 2)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal").as("balance"))
      .writeTo(tbl).append()
    // V2 scan read-back: three file generations, one declared schema
    s.table(tbl).orderBy("c_custkey")
  }

  /** VACUUM over a V2 table with planted crash debris — the maintenance
    * pass the reference runs as ad-hoc `_old`-table cleanup
    * (_cleanup.py; carto_.py:445 leaves `<t>_old` behind by design): a
    * committed table is seeded, then the three debris classes a crashed
    * write can leave (dead-token `_tmp-` task files, a `__staging.` dir
    * that never swapped, a `__old` dir a promote failed to delete) are
    * planted deterministically from the nation table, and
    * [[graft.sources.v2.StagedParquet.vacuum]] must remove EXACTLY them —
    * the oracle recomputes the expected deletion report, and committed
    * data surviving is asserted by the spec. The planted fixture is
    * 25-key-derived (the stageDirtyCsv precedent); vacuum itself is pure
    * metadata work, deletes proportional to debris, never to table size.
    */
  def vacuumDebris(s: SparkSession, d: String): DataFrame = {
    import graft.sources.v2.StagedParquet
    val ns = stagedNs(s, d)
    val tbl = s"graft_staged.$ns.vacuum_demo"
    nation(s, d).select(col("n_nationkey"), col("n_name"))
      .writeTo(tbl).createOrReplace()
    val dir = StagedParquet.tableDir(s, tbl)
    val keys = nation(s, d).select(col("n_nationkey"))
      .collect().map(_.getAs[Number](0).longValue).sorted
    for (k <- keys if k % 2 == 0)
      writeFixtureFile(s"$dir/_tmp-crash$k-f$k.parquet", s"dead$k")
    writeFixtureFile(s"${dir}__old/part-0.parquet", "stale")
    writeFixtureFile(s"${dir}__staging.dead0/part-0.parquet", "dead")
    // fixture sweeps its just-planted debris: explicit zero retention (the
    // default is a conservative 1 h window that protects live writes)
    val report = StagedParquet.vacuum(s, tbl, minAgeMs = 0L)
    import s.implicits._
    report.toDF("path", "kind").orderBy("path")
  }

  /** Storage-partitioned join over the catalog's key-grouped V2 scans
    * (SPARK-37375): customer and supplier are loaded as tables IDENTITY-
    * PARTITIONED on their nation key through the staged sink, read back
    * through [[graft.sources.v2.StagedScan]] — which reports
    * KeyGroupedPartitioning with HasPartitionKey splits — and joined on
    * the partition key. With the catalog's default
    * `spark.sql.sources.v2.bucketing.enabled`, NEITHER side shuffles, and
    * the downstream per-nation aggregate rides the same distribution: the
    * whole join+agg plans with zero exchanges (StagedSpjSpec pins the
    * plan; PlanSpec pins this query). At 100 TB this is THE fact-fact
    * join strategy: co-partition once at load, join forever for free —
    * the bucketing rung the layout planners (etl_partition_plan,
    * etl_zorder_layout) feed. The oracle recomputes the join+agg from the
    * raw tables, gating write→partition→scan→SPJ end to end.
    */
  def spjJoin(s: SparkSession, d: String): DataFrame = {
    // no manual repartition: the staged write DECLARES its clustering
    // (RequiresDistributionAndOrdering) and the engine plans one
    // AQE-rebalance by the partition key — one file per dir, and a
    // skewed key still splits across writers instead of bottlenecking one.
    // Both sides are READ-ONLY here, so they stage once into the shared
    // fixture namespace and every later run reads them as-is.
    val ct = sharedStaged(s, d, "cust_by_nation", Seq("customer.parquet")) { t =>
      customer(s, d).select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        .writeTo(t).partitionedBy(col("c_nationkey")).createOrReplace()
    }
    val st = sharedStaged(s, d, "sup_by_nation", Seq("supplier.parquet")) { t =>
      supplier(s, d).select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
        .writeTo(t).partitionedBy(col("s_nationkey")).createOrReplace()
    }
    val c = s.table(ct)
    val sp = s.table(st)
    // merge hint: at test scale the scan's (pruning-aware) size stats
    // would auto-broadcast the small side; the query exists to pin the
    // fact-fact shape where BOTH sides are 100 TB-class and SPJ is the
    // only zero-exchange strategy
    c.hint("merge").join(sp, c("c_nationkey") === sp("s_nationkey"))
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_pairs"),
        graft.core.Determinism.dsum(col("c_acctbal") + col("s_acctbal"))
          .as("bal_sum"))
      .orderBy("nationkey")
  }

  /** Metadata-only statistics scan: per-partition COUNT/MIN/MAX answered
    * from parquet FOOTERS through the V2 aggregate pushdown
    * ([[graft.sources.v2.StagedScanBuilder.pushAggregation]]) — orders are
    * loaded partitioned by priority, and the profile query plans a
    * StagedAggScan that decodes ZERO data pages: record counts from file
    * footers, min/max from row-group statistics, group keys from directory
    * names. At 100 TB this is the difference between a table profile
    * costing a full scan and costing one metadata read per file — the
    * reference's row-count / extent checks (postgres.py count validation,
    * ago.py outStatistics) done the way a columnar lake does them. The
    * oracle recomputes the same profile from the raw rows, so footer
    * arithmetic must agree with data exactly; PlanSpec pins the
    * StagedAggScan plan shape.
    */
  def statsScan(s: SparkSession, d: String): DataFrame = {
    val tbl = sharedStaged(s, d, "orders_by_prio", Seq("orders.parquet")) { t =>
      orders(s, d).select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .writeTo(t) // engine-distributed: 1 file/dir
        .partitionedBy(col("o_orderpriority")).createOrReplace()
    }
    s.table(tbl)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .select(col("o_orderpriority").as("priority"), col("n_orders"),
        col("min_price"), col("max_price"), col("min_key"), col("max_key"))
      .orderBy("priority")
  }

  /** Day-partitioned time travel: events land in a `days(ts)`-partitioned
    * V2 table, and a timestamp-RANGE query prunes day directories at plan
    * time — day() is monotone in ts, so `ts >= T` can only live in dirs
    * with day ≥ day(T) ([[graft.sources.v2.StagedScanBuilder]] pushes the
    * range, planPartitions keeps days 10..16 of the 30-day corpus;
    * PlanSpec pins `partitions=7`). This is THE dominant access pattern on
    * a 100 TB event table: every incremental/backfill/audit query carries
    * a date range, and the scan cost must be proportional to the range,
    * not the table. Pruning stays conservative (boundary day kept, rows
    * after it cut by the residual filter), so the oracle's exact
    * recomputation gates that no row is ever lost to pruning.
    */
  /** The day-partitioned events table both day-pruning queries read: one
    * staged V2 write, `days(ts)`-partitioned, one file per day directory.
    */
  private def eventsByDay(s: SparkSession, d: String): String =
    sharedStaged(s, d, "events_by_day", Seq("events.parquet")) { tbl =>
      events(s, d).select(col("event_id"), col("event_type"), col("ts"), col("value"))
        .writeTo(tbl) // engine-distributed by days(ts): one file per day dir
        .partitionedBy(org.apache.spark.sql.functions.days(col("ts")))
        .createOrReplace()
    }

  def daysPrune(s: SparkSession, d: String): DataFrame = {
    val tbl = eventsByDay(s, d)
    val lo = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-10T00:00:00Z"))
    val hi = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-16T00:00:00Z"))
    s.table(tbl)
      .filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        graft.core.Determinism.dsum(col("value"), 18, 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** DYNAMIC day pruning: the fact side carries NO static ts predicate —
    * only the join against a small filtered dim (point-in-time audit
    * timestamps) narrows it, so the day directories close at RUNTIME
    * through [[graft.sources.v2.StagedScan]]'s SupportsRuntimeV2Filtering
    * (the scan maps each collected dim ts literal to its UTC day and keeps
    * only matching day dirs). This is the 100 TB dashboard/audit shape:
    * the date range lives in a dimension, not in the query text, and scan
    * cost must still be proportional to the dim's days, not the table.
    * StagedSpjSpec pins the runtime-opened split count; the oracle
    * recomputes the join from raw events, gating that runtime pruning
    * never costs a row.
    */
  def daysDpp(s: SparkSession, d: String): DataFrame = {
    val tbl = eventsByDay(s, d)
    val lo = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-10T00:00:00Z"))
    val hi = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-13T00:00:00Z"))
    // the "audit dim": purchase instants sampled by id from three days —
    // derived from raw events, NOT from the staged table, so the fact
    // scan's pruning can only come from the runtime filter
    val dim = events(s, d)
      .filter(col("event_type") === "purchase" && col("event_id") % 7 === 0
        && col("ts") >= lit(lo) && col("ts") < lit(hi))
      .select(col("ts").as("dts"))
    val fact = s.table(tbl)
    // the dim is broadcast EXPLICITLY: at 100 TB a filtered date-dim is
    // always the broadcast side, and the broadcast is what plants the
    // runtime filter on the fact scan at every test scale too
    fact.join(broadcast(dim), fact("ts") === dim("dts"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        graft.core.Determinism.dsum(col("value"), 18, 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** Zone-map data skipping on the real scan: orders are written through
    * the staged sink RANGE-CLUSTERED on o_totalprice (repartitionByRange +
    * sortWithinPartitions — the layout etl_compact_bins/etl_zorder_layout
    * plan), so each file's footer min/max covers a disjoint price band,
    * and a selective price-range query plans splits ONLY for the files the
    * band lands in ([[graft.sources.v2.StagedScan.blockSurvives]] cuts
    * excluded row groups at plan time; excluded files are never opened —
    * StagedSkipSpec pins the opened-reader count). At 100 TB this is the
    * data-skipping half of the lakehouse contract: scan cost proportional
    * to the predicate's data band, not the table. Skipping is
    * conservative (stats-gap/boundary groups kept, rows cut by the
    * residual filter), so the oracle's exact recomputation over raw
    * orders gates that no row is ever lost to a zone map.
    */
  def minmaxSkip(s: SparkSession, d: String): DataFrame = {
    val ns = stagedNs(s, d)
    val tbl = s"graft_staged.$ns.orders_by_price"
    orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .repartitionByRange(8, col("o_totalprice"))
      .sortWithinPartitions(col("o_totalprice"))
      .writeTo(tbl).createOrReplace()
    s.table(tbl)
      .filter(col("o_totalprice") >= 150000.0 && col("o_totalprice") < 250000.0)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("priority")
  }

  /** Real file compaction (the lakehouse OPTIMIZE,
    * [[graft.sources.v2.StagedParquet.compact]]): orders are written
    * partitioned by priority through a round-robin repartition(8) — the
    * streaming-ingest shape where every trigger's tasks leave a file in
    * every partition (8 files per dir) — then compacted to
    * ceil(bytes/target) = 1 file per dir via coalesce + the atomic
    * per-directory swap. This EXECUTES what etl_compact_bins plans: at
    * 100 TB compaction is the maintenance op that keeps a
    * streaming-ingested day from fragmenting into thousands of
    * per-trigger files, and its cost scales with the small-file debt,
    * never the table. The oracle recomputes the per-priority profile from
    * raw orders, gating that the rewrite+swap preserved every row and
    * value exactly; StagedCompactSpec pins the file counts and crash
    * debris classes.
    */
  def compactFiles(s: SparkSession, d: String): DataFrame = {
    import graft.sources.v2.StagedParquet
    val ns = stagedNs(s, d)
    val tbl = s"graft_staged.$ns.orders_smalls"
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .repartition(8)
      // the fixture NEEDS the tasks×dirs small files the engine's write
      // distribution exists to prevent — opt this write out of it
      .writeTo(tbl).option("graft.write.distribute", "none")
      .partitionedBy(col("o_orderpriority")).createOrReplace()
    // routed through the SQL procedure surface (r11 VERDICT #7): the
    // maintenance cycle is reachable from pure SQL, and the CALL's result
    // set is the library report
    val folded = s.sql(s"CALL graft_staged.system.compact('$tbl')").collect()
    require(folded.nonEmpty && folded.forall(_.getLong(2) == 1L),
      s"compaction should fold every 8-file dir to 1: ${folded.toSeq}")
    s.table(tbl)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"),
        min(col("o_orderkey")).as("min_key"))
      .orderBy("priority")
  }

  /** SQL `DELETE FROM` on a staged table
    * ([[graft.sources.v2.StagedParquet.deleteWhere]]): orders land
    * partitioned by priority, price-clustered within each directory, then
    * two deletes run through the real SQL surface — one decided entirely
    * by the identity partition value (the directory drops without reading
    * a byte) and one on a data column (zone-map-cleared files are
    * byte-copied, only price-overlapping files decode and rewrite, the
    * directory swaps atomically). At 100 TB this is the GDPR/retention
    * rung: delete cost ∝ matching data, never table size. The oracle
    * recomputes the remainder from raw orders, gating that both deletes
    * removed exactly their rows and nothing else; StagedDeleteSpec pins
    * the per-tier I/O (untouched files byte-identical, boundary-only
    * rewrites, NULL-keeping semantics).
    */
  def deleteRows(s: SparkSession, d: String): DataFrame = {
    val ns = stagedNs(s, d)
    val tbl = s"graft_staged.$ns.orders_del"
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .repartition(col("o_orderpriority"))
      .sortWithinPartitions(col("o_totalprice")) // cluster: zone maps discriminate
      // hand-shaped layout (price-sorted within each priority dir): the
      // engine's rebalance would destroy the sort — opt out and keep ours
      .writeTo(tbl).option("graft.write.distribute", "none")
      .partitionedBy(col("o_orderpriority")).createOrReplace()
    s.sql(s"DELETE FROM $tbl WHERE o_orderpriority = '1-URGENT'")
    s.sql(s"DELETE FROM $tbl WHERE o_totalprice >= 200000.0")
    s.table(tbl)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy("priority")
  }

  /** BUCKETED storage-partitioned join: both sides land through the staged
    * catalog `bucket(16, custkey)`-partitioned — the HIGH-CARDINALITY
    * co-location transform (identity SPJ needs a directory per distinct
    * key; bucket keeps a fixed fan-out at any cardinality, hashing with
    * the shared [[graft.sources.v2.BucketHash]] both writers route by).
    * The join then plans with ZERO exchanges on either side: at 100 TB
    * this deletes both shuffles from the canonical fact-fact join on a
    * many-million-value key — the layout Iceberg/Delta bucket tables buy,
    * here through the catalog's own FunctionCatalog `bucket` function.
    * The merge hint pins the fact-fact shape (no broadcast escape);
    * StagedBucketSpec proves the exchange-free plan and the per-bucket
    * point-lookup pruning; the oracle gates the join's content.
    */
  def bucketJoin(s: SparkSession, d: String): DataFrame = {
    // no manual repartition: the write declares clustered(bucket(16, key))
    // (RequiresDistributionAndOrdering), the engine rebalances by the
    // CATALOG's bucket function — the router hash and the shuffle can
    // never disagree, and the table lands at ~1 file per bucket instead
    // of (tasks × buckets) smalls. Read-only after staging → shared.
    val ot = sharedStaged(s, d, "orders_by_cust", Seq("orders.parquet")) { t =>
      orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .writeTo(t).partitionedBy(bucket(16, col("o_custkey"))).createOrReplace()
    }
    val ct = sharedStaged(s, d, "cust_bucketed", Seq("customer.parquet")) { t =>
      customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
        .writeTo(t).partitionedBy(bucket(16, col("c_custkey"))).createOrReplace()
    }
    val o = s.table(ot)
    val c = s.table(ct)
    o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_orders"),
        graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"))
      .orderBy("segment")
  }

  /** Copy-on-write UPDATE on a staged table
    * ([[graft.sources.v2.StagedParquet.updateWhere]], DELETE's sibling —
    * same tiers, rows rewritten with SET applied instead of dropped): a
    * surrogate-key fixup re-keys the high-value band of one priority
    * class (+10M on o_orderkey, integer-exact so the oracle hash can
    * never float-drift). The identity-partition conjunct confines the
    * rewrite to ONE directory (others never listed), the price zone map
    * confines it to the band's row groups within it; matching rows get
    * the new key, everything else — including NULL-predicate rows —
    * byte-survives. The oracle recomputes the profile with the same CASE
    * WHEN from raw orders; StagedDeleteSpec pins the per-tier I/O and the
    * partition-column SET rejection.
    */
  def updateRows(s: SparkSession, d: String): DataFrame = {
    val ns = stagedNs(s, d)
    val tbl = s"graft_staged.$ns.orders_upd"
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .repartition(col("o_orderpriority"))
      .sortWithinPartitions(col("o_totalprice")) // hand-shaped: keep our sort
      .writeTo(tbl).option("graft.write.distribute", "none")
      .partitionedBy(col("o_orderpriority")).createOrReplace()
    // SQL UPDATE plans through SupportsRowLevelOperations (group-based
    // COW, StagedRowLevelOperation): the runtime group filter closes the
    // four non-matching priority directories, so only 3-MEDIUM rewrites —
    // the library updateWhere's zone-map tier remains spec-covered
    // (StagedDeleteSpec) as the file-granular maintenance path
    s.sql(s"UPDATE $tbl SET o_orderkey = o_orderkey + 10000000 " +
      s"WHERE o_orderpriority = '3-MEDIUM' AND o_totalprice >= 150000.0")
    s.table(tbl)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("key_sum"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("priority")
  }

  /** STREAMING read of a staged table
    * ([[graft.sources.v2.StagedMicroBatchStream]]): three separate commits
    * land event slices, then `readStream.table(...)` tails the committed
    * files through a real micro-batch query (AvailableNow) into a file
    * sink, and the profile of WHAT THE STREAM DELIVERED is gated against
    * the oracle's recomputation from raw events — any file the tail
    * missed, replayed, or half-read breaks the count or the sum. The
    * offset is the last consumed VERSION id — O(1) in the checkpoint,
    * and a trigger reads only the commit log's new version deltas, never
    * the table's file tree, so tailing a million-file table costs O(new
    * commits);
    * committed files are immutable (task files rename in at commit), so
    * the tail needs no writer coordination — the CDC-tail shape on a
    * 100 TB ingest table. StagedStreamTailSpec additionally pins
    * checkpoint RESUME (a restart reads only versions committed since),
    * the O(1) offset encoding, and loud failure on non-append changes.
    */
  def streamTableTail(s: SparkSession, d: String): DataFrame = {
    val ns = stagedNs(s, d)
    val tbl = s"graft_staged.$ns.events_tail"
    val src = events(s, d).select(col("event_id"), col("event_type"), col("value"))
    src.filter(col("event_id") % 3 === 0).writeTo(tbl).createOrReplace()
    src.filter(col("event_id") % 3 === 1).writeTo(tbl).append()
    src.filter(col("event_id") % 3 === 2).writeTo(tbl).append()
    val out = java.nio.file.Files.createTempDirectory("graft_tail_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tail_ckpt").toString
    val q = s.readStream.table(tbl)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val agg = s.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.core.Determinism.dsum(col("value"), 18, 2).as("sum_value"))
      .orderBy("event_type")
    // materialize the (per-type, constant-size) profile so the run's sink
    // and checkpoint dirs can be deleted — nothing temp outlives the query
    val rows = agg.collect().toSeq
    val schema = agg.schema
    Seq(out, ckpt).foreach { p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)): Unit
    }
    s.createDataFrame(rows.asJava, schema)
  }

  /** STREAMING write into a staged table
    * ([[graft.sources.v2.StagedStreamingWrite]], `writeStream.toTable`):
    * the full 100 TB ingest LOOP — a staged source table is tailed by
    * version id, filtered and enriched in flight, and appended
    * epoch-by-epoch into a staged destination with per-epoch two-phase
    * commits and txn-marked adds versions (a crash-replayed epoch is
    * discarded, StagedStreamIngestSpec pins it; each epoch is one adds
    * version for any downstream tail). The DESTINATION's contents are
    * gated against the oracle's recomputation from raw orders, so a
    * dropped, duplicated, or half-committed epoch breaks the profile.
    */
  def streamTableIngest(s: SparkSession, d: String): DataFrame = {
    val ns = stagedNs(s, d)
    val src = s"graft_staged.$ns.ingest_src"
    val dst = s"graft_staged.$ns.ingest_dst"
    val o = orders(s, d).select(
      col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    // three commits = three source versions feeding the stream
    o.filter(col("o_orderkey") % 3 === 0).writeTo(src).createOrReplace()
    o.filter(col("o_orderkey") % 3 === 1).writeTo(src).append()
    o.filter(col("o_orderkey") % 3 === 2).writeTo(src).append()
    def enrich(df: DataFrame): DataFrame = df
      .filter(col("o_totalprice") >= 1000.0)
      .withColumn("bucket_100k",
        floor(col("o_totalprice") / 100000.0).cast("long"))
    // pre-create the (empty) destination so the stream APPENDS through
    // the V2 sink's streaming write rather than a one-off table create
    enrich(o.filter(lit(false))).writeTo(dst).createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ingest_ckpt").toString
    val q = enrich(s.readStream.table(src))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(dst)
    q.awaitTermination()
    val agg = s.table(dst)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"),
        sum(col("bucket_100k")).as("sum_bucket"))
      .orderBy("priority")
    val rows = agg.collect().toSeq
    val schema = agg.schema
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt)): Unit
    s.createDataFrame(rows.asJava, schema)
  }

  /** TIME TRAVEL (`VERSION AS OF` through the staged catalog): a
    * partitioned table is created (v1) and a band DELETE rewrites its
    * directories (v2, pre-states retained under `<table>__meta/`); the
    * query reads BOTH versions back through SQL `VERSION AS OF` and the
    * oracle recomputes each from raw orders — so reconstruction must be
    * exact at both points, not just "some old rows". Retention is rename-
    * only (no bytes copied) and reconstruction is O(changes since the
    * version); vacuum prunes expired versions (StagedTimeTravelSpec).
    */
  /** Shared orders-by-priority fixture, plain and merge-on-read variants —
    * the immutable source the four mutating lifecycle queries copy from.
    */
  private def sharedOrdersPrio(s: SparkSession, d: String): String =
    sharedStaged(s, d, "orders_prio", Seq("orders.parquet")) { t =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .writeTo(t).partitionedBy(col("o_orderpriority")).createOrReplace()
    }
  private def sharedOrdersPrioMor(s: SparkSession, d: String): String =
    sharedStaged(s, d, "orders_prio_mor", Seq("orders.parquet")) { t =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .writeTo(t).tableProperty("delete.mode", "merge-on-read")
        .partitionedBy(col("o_orderpriority")).createOrReplace()
    }

  def timeTravel(s: SparkSession, d: String): DataFrame = {
    // copy-on-first-mutate from the shared fixture: every run starts from
    // a pristine file-level copy at version 0, so the version arithmetic
    // below is run-invariant by construction (base is always 0 — kept as
    // a named value so the contract is explicit)
    val tbl = mutableCopyOf(s, d, sharedOrdersPrio(s, d), "orders_tt")
    val base = graft.sources.v2.StagedParquet.currentVersion(
      graft.sources.v2.StagedParquet.tableDir(s, tbl))
    s.sql(s"DELETE FROM $tbl WHERE o_totalprice >= 200000.0")
    def profile(tag: Int): DataFrame =
      s.sql(s"SELECT * FROM $tbl VERSION AS OF ${base + tag - 1}")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_orders"),
          graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"))
        .withColumn("version", lit(tag))
    profile(1).unionByName(profile(2))
      .select(col("version"), col("priority"), col("n_orders"), col("sum_price"))
      .orderBy("version", "priority")
  }

  /** TIMESTAMP AS OF time travel — the wall-clock twin of
    * etl_time_travel (reference: the same versioned-warehouse audit
    * posture; Iceberg/Delta's timestamp travel). Every commit stamps its
    * instant into the version delta (`!ts=` mark), resolution
    * monotonizes the instants so they agree with version order even
    * under clock skew, and the `.history` relation serves the SAME
    * monotonized timeline as `commit_at` — so an instant read from
    * history always travels back to the commit that produced it ("what
    * did the 9am job read?" needs no version numbers). The query deletes
    * a band, reads the delete commit's instant back from history, and
    * reconstructs BOTH sides of it: t-1ms = the pre-delete state (strict
    * monotonization guarantees distinct instants), t = the post-delete
    * state. O(commits) metadata resolution, zero extra data reads at any
    * table size; both states oracle-recomputed from raw orders.
    */
  def timeTravelTs(s: SparkSession, d: String): DataFrame = {
    val tbl = mutableCopyOf(s, d, sharedOrdersPrio(s, d), "orders_tts")
    s.sql(s"DELETE FROM $tbl WHERE o_totalprice >= 200000.0")
    val delMs = s.table(s"$tbl.history")
      .filter(col("version") === 1L)
      .select(col("commit_at")).head().getTimestamp(0).getTime
    // the session TZ is pinned UTC (core.Tables) — format the literal there
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
    def profile(phase: Int, ms: Long): DataFrame =
      s.sql(s"SELECT * FROM $tbl TIMESTAMP AS OF " +
          s"'${fmt.format(java.time.Instant.ofEpochMilli(ms))}'")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_orders"),
          graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"))
        .withColumn("phase", lit(phase))
    profile(1, delMs - 1).unionByName(profile(2, delMs))
      .select(col("phase"), col("priority"), col("n_orders"), col("sum_price"))
      .orderBy("phase", "priority")
  }

  /** Named TAGS + retention pinning (Iceberg tag refs): a tag is one
    * metadata file (`__meta/refs/<name>` → version id) — an immutable
    * named snapshot readable as `VERSION AS OF 'name'`, creatable
    * through SQL (`CALL graft_staged.system.create_tag`). The query tags
    * the pre-delete state, deletes a band, then runs a ZERO-retention
    * vacuum — which would prune the pre-delete retained tree and expire
    * the version, except the tag PINS it (vacuum skips every retained
    * tree at or above the lowest tagged version). The tag read after the
    * vacuum is the gate: it only reconstructs if the pin held. At 100 TB
    * "keep the pre-migration state" is this one metadata file, not a
    * data copy. Both states oracle-recomputed from raw orders.
    */
  def tableTag(s: SparkSession, d: String): DataFrame = {
    val tbl = mutableCopyOf(s, d, sharedOrdersPrio(s, d), "orders_tag")
    s.sql(s"CALL graft_staged.system.create_tag('$tbl', 'pre_delete')")
      .collect(): Unit
    s.sql(s"DELETE FROM $tbl WHERE o_totalprice >= 200000.0")
    graft.sources.v2.StagedParquet.vacuum(s, tbl, 0L, 0L): Unit
    def profile(phase: Int, df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_orders"),
          graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"))
        .withColumn("phase", lit(phase))
    profile(1, s.sql(s"SELECT * FROM $tbl VERSION AS OF 'pre_delete'"))
      .unionByName(profile(2, s.table(tbl)))
      .select(col("phase"), col("priority"), col("n_orders"), col("sum_price"))
      .orderBy("phase", "priority")
  }

  /** ROLLBACK (`CALL graft_staged.system.rollback_to_version` —
    * Iceberg's rollback verb): a bad DELETE lands, and the table is
    * restored to its pre-delete version as a NEW versioned commit — one
    * distributed REPLACE fed by the snapshot scan, the generation's
    * partition spec and table properties re-applied, nothing erased
    * (the bad version stays time-travelable below the rollback). Phase
    * 1 (materialized pre-rollback) gates the damage is real; phase 2
    * gates the restore is exact; phase 3 re-reads the BAD version
    * through time travel ABOVE the rollback — history survives. The
    * restore cost is an honest distributed rewrite of the restored
    * bytes (this engine retains history as renamed trees, so live/
    * history file sharing — what makes Iceberg's rollback metadata-only
    * — would break other versions' reconstructions). All three phases
    * oracle-recomputed from raw orders.
    */
  def rollback(s: SparkSession, d: String): DataFrame = {
    val tbl = mutableCopyOf(s, d, sharedOrdersPrio(s, d), "orders_rb")
    s.sql(s"DELETE FROM $tbl WHERE o_totalprice >= 200000.0")
    def profile(phase: Int, df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_orders"),
          graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"))
        .withColumn("phase", lit(phase))
    // phase 1 materializes BEFORE the rollback (the lazy plan must not
    // observe the restored state)
    val damagedAgg = profile(1, s.table(tbl))
    val damaged = s.createDataFrame(damagedAgg.collect().toSeq.asJava,
      damagedAgg.schema)
    s.sql(s"CALL graft_staged.system.rollback_to_version('$tbl', 0)")
      .collect(): Unit
    damaged
      .unionByName(profile(2, s.table(tbl)))
      .unionByName(profile(3, s.sql(s"SELECT * FROM $tbl VERSION AS OF 1")))
      .select(col("phase"), col("priority"), col("n_orders"), col("sum_price"))
      .orderBy("phase", "priority")
  }

  /** WRITE-AUDIT-PUBLISH (Iceberg's WAP pattern; reference semantics:
    * the staging-table rename-replace loads in postgres.py/carto_.py,
    * generalized to APPENDS): a candidate batch lands in a side AUDIT
    * table — invisible to destination readers — a quality gate
    * interrogates it with plain SQL, and `CALL
    * graft_staged.system.publish_appends` renames every audited file
    * into the destination as ONE append commit: zero bytes copied, one
    * version delta (claim-once by its `!wap=` mark), crash-resumable
    * via an intent file. At 100 TB the publish is O(files) metadata
    * renames — audit cost never doubles write cost. The query gates BOTH
    * sides: phase 1 (collected BEFORE the publish) proves isolation —
    * the destination serves only its base half; phase 2 proves the
    * published total. Oracle recomputes both from raw orders.
    */
  def wapPublish(s: SparkSession, d: String): DataFrame = {
    graft.sources.v2.StagedParquet.ensureCatalog(s)
    val ns = stagedNs(s, d)
    val dst = s"graft_staged.$ns.wap_dst"
    val audit = s"graft_staged.$ns.wap_audit"
    val o = orders(s, d).select(
      col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    o.filter(col("o_orderkey") % 2 === 1).writeTo(dst)
      .partitionedBy(col("o_orderpriority")).createOrReplace()
    o.filter(col("o_orderkey") % 2 === 0).writeTo(audit)
      .partitionedBy(col("o_orderpriority")).createOrReplace()
    // the audit gate: contract checks run against the SIDE table only
    val bad = s.table(audit).filter(col("o_orderkey").isNull ||
      col("o_orderpriority").isNull || col("o_totalprice") < 0).count()
    require(bad == 0, s"wap: audit gate failed — $bad contract-violating rows")
    def profile(phase: Int): DataFrame = s.table(dst)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"))
      .withColumn("phase", lit(phase))
    // phase 1 materializes BEFORE the publish so the lazy plan cannot
    // observe the published state — this is the isolation gate
    val stagedAgg = profile(1)
    val staged = s.createDataFrame(stagedAgg.collect().toSeq.asJava,
      stagedAgg.schema)
    s.sql(s"CALL graft_staged.system.publish_appends('$audit', '$dst')")
      .collect(): Unit
    staged.unionByName(profile(2))
      .select(col("phase"), col("priority"), col("n_orders"), col("sum_price"))
      .orderBy("phase", "priority")
  }

  /** MERGE-ON-READ deletes (deletion vectors) — the sparse-delete rung of
    * the staged lifecycle (Iceberg's `write.delete.mode=merge-on-read`
    * contract, via the table property `delete.mode`): two narrow price
    * bands are deleted from a MOR table, and instead of rewriting the
    * touched files each statement writes one tiny `_dv-*` positions file
    * per directory ([[graft.sources.v2.StagedParquet]] PASS 1.5) — at
    * 100 TB a point delete costs a metadata write, not a 1 GB rewrite.
    * Three oracle-gated phases prove all three read paths:
    *   - `live`: the V2 scan applying the vectors (positions skipped at
    *     read; the 5-row panel is collected pre-compaction so the lazy
    *     plan cannot observe the later state);
    *   - `asof`: `VERSION AS OF` the post-delete version AFTER compaction
    *     — the snapshot reconstruction resolves the DV files alive at
    *     that version from the retained trees;
    *   - `compacted`: compaction MATERIALIZES the vectors (rewritten
    *     files shed the deleted rows, the `_dvflag` drops, footer-stats
    *     agg pushdown returns).
    * StagedDvSpec pins the mechanics: data files byte-identical after a
    * MOR delete, dense deletes falling back to COW, count-star and agg
    * pushdown exactness, update-after-delete non-resurrection.
    */
  def deleteVectors(s: SparkSession, d: String): DataFrame = {
    val tbl = mutableCopyOf(s, d, sharedOrdersPrioMor(s, d), "orders_mor")
    val base = graft.sources.v2.StagedParquet.currentVersion(
      graft.sources.v2.StagedParquet.tableDir(s, tbl))
    s.sql(s"DELETE FROM $tbl WHERE o_totalprice >= 100000.0 AND o_totalprice < 101000.0")
    s.sql(s"DELETE FROM $tbl WHERE o_totalprice >= 250000.0 AND o_totalprice < 251000.0")
    def profile(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_orders"),
          graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"),
          max(col("o_totalprice")).as("max_price"))
    val liveAgg = profile(s.table(tbl))
    // one row per priority — a constant-size panel, materialized so the
    // compaction below cannot leak into the 'live' phase's lazy plan
    val live = s.createDataFrame(liveAgg.collect().toSeq.asJava, liveAgg.schema)
      .withColumn("phase", lit("live"))
    graft.sources.v2.StagedParquet.compact(s, tbl): Unit
    val asof = profile(s.sql(s"SELECT * FROM $tbl VERSION AS OF ${base + 2}"))
      .withColumn("phase", lit("asof"))
    val compacted = profile(s.table(tbl)).withColumn("phase", lit("compacted"))
    live.unionByName(asof).unionByName(compacted)
      .select(col("phase"), col("priority"), col("n_orders"),
        col("sum_price"), col("max_price"))
      .orderBy("phase", "priority")
  }

  /** CHANGE DATA FEED — net row-level changes between two versions
    * ([[graft.sources.v2.StagedParquet.changesBetween]], Delta's
    * readChangeFeed shape net across the range): the table is created with
    * the EVEN order keys, high-value ODD keys append (v+2), then a
    * merge-on-read DELETE cuts a price band (v+3). The feed from the
    * create version to head must report exactly:
    *   - inserts: the appended odds OUTSIDE the band (an append deleted
    *     within the range nets out — those rows were never visible at
    *     either endpoint);
    *   - deletes: the evens INSIDE the band (present at the start, gone
    *     at the end).
    * Cost ∝ changed directories: untouched dirs read zero bytes, appended
    * files read alone, DV-deleted positions read through the vector's
    * COMPLEMENT (only the deleted rows decode) — at 100 TB the feed never
    * re-reads the table. The oracle recomputes both sides from raw
    * orders; StagedCdfSpec pins the zero-read classification.
    */
  def changeFeed(s: SparkSession, d: String): DataFrame = {
    // the DECLARED operation is the FEED READ (changesBetween never
    // re-reads the table — that is the claim under test). The created
    // table is a read-only shared fixture; the append and the
    // merge-on-read DELETE run on a per-invocation copy of it, so the
    // delete's vectors never land in the shared tree. The feed range is
    // head-relative, so the query is insensitive to the copy's base
    // version.
    def src = orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val evens = sharedStaged(s, d, "orders_cdf", Seq("orders.parquet")) { t =>
      src.filter(col("o_orderkey") % 2 === 0)
        .writeTo(t).tableProperty("delete.mode", "merge-on-read")
        .partitionedBy(col("o_orderpriority")).createOrReplace()
    }
    val tbl = mutableCopyOf(s, d, evens, "orders_cdf_live")
    src.filter(col("o_orderkey") % 2 === 1 && col("o_totalprice") >= 50000.0)
      .writeTo(tbl).append()
    s.sql(s"DELETE FROM $tbl WHERE o_totalprice >= 150000.0 AND o_totalprice < 160000.0")
      .collect(): Unit
    val head = graft.sources.v2.StagedParquet.currentVersion(
      graft.sources.v2.StagedParquet.tableDir(s, tbl))
    graft.sources.v2.StagedParquet.changesBetween(s, tbl, head - 2, head)
      .groupBy(col("_change_type").as("change_type"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).cast("long").as("key_sum"))
      .orderBy("change_type", "priority")
  }

  /** DECLARED SORT ORDER (`sort.order` table property — Iceberg's
    * write.sort-order contract): the ENGINE sorts every write into the
    * table (RequiresDistributionAndOrdering: partition transforms, then
    * the sort columns), rewrites and compaction re-sort, and the scan
    * reports the order back to Catalyst (SupportsReportOrdering). Both
    * sides here land bucket(8, custkey) + sorted-by-custkey, so the
    * fact-dim merge join plans with ZERO exchanges (storage-partitioned
    * join) and ZERO Sort nodes — the write paid the sort once; at 100 TB
    * every subsequent merge join and sorted read rides it for free.
    * StagedSortSpec pins the sort-free exchange-free plan, the
    * honesty gate (an append breaks 1-file-per-bucket and the claim
    * silently withdraws until compaction restores it), and the
    * files' physical order; the oracle gates the join's content.
    */
  def sortOrder(s: SparkSession, d: String): DataFrame = {
    // read-only after staging → shared (the declared sort is paid ONCE,
    // which is the write-side sort contract's whole point)
    val ot = sharedStaged(s, d, "orders_sorted", Seq("orders.parquet")) { t =>
      orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .writeTo(t).tableProperty("sort.order", "o_custkey")
        .partitionedBy(bucket(8, col("o_custkey"))).createOrReplace()
    }
    val ct = sharedStaged(s, d, "cust_sorted", Seq("customer.parquet")) { t =>
      customer(s, d).select(col("c_custkey"), col("c_acctbal"))
        .writeTo(t).tableProperty("sort.order", "c_custkey")
        .partitionedBy(bucket(8, col("c_custkey"))).createOrReplace()
    }
    val o = s.table(ot)
    val c = s.table(ct)
    o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .groupBy((col("o_custkey") % 10).as("cust_mod"))
      .agg(count(lit(1)).as("n_orders"),
        graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"),
        graft.core.Determinism.dsum(col("c_acctbal"), 18, 2).as("sum_bal"))
      .orderBy("cust_mod")
  }

  /** INSPECTION tables, rung 1 — `<table>.partitions`
    * ([[graft.sources.v2.StagedMetaTables]], Iceberg's `db.table.partitions`
    * surface; reference semantics: postgres.py's post-load
    * `get_row_count` verification, re-expressed as a catalog relation): a
    * merge-on-read table takes a sparse band DELETE, then the partitions
    * metadata relation must report LIVE and DELETED counts per partition
    * — footer record counts minus deletion-vector positions — matching
    * the oracle's exact recomputation from raw orders. The inspection
    * never reads a data page: one split per directory, parquet FOOTERS
    * plus the tiny `_dv-*` files only (StagedMetaSpec pins that the flat
    * reader is never invoked), so a 100 TB table answers from metadata.
    */
  def metaPartitions(s: SparkSession, d: String): DataFrame = {
    val tbl = mutableCopyOf(s, d, sharedOrdersPrioMor(s, d), "orders_meta_parts")
    s.sql(s"DELETE FROM $tbl WHERE o_totalprice >= 100000.0 AND o_totalprice < 101000.0")
    s.table(s"$tbl.partitions")
      .select(col("o_orderpriority").as("priority"),
        col("row_count").as("n_live"), col("deleted_count").as("n_deleted"))
      .orderBy("priority")
  }

  /** INSPECTION tables, rung 2 — `<table>.files`: per-FILE row counts of
    * the day-partitioned events table, re-aggregated by day directory,
    * must reproduce the oracle's per-day counts from raw events — so
    * every file's footer count and its day-directory placement are both
    * exact. One split per directory, footer metadata only; the per-file
    * inventory (path, bytes, live/deleted rows) is what a 100 TB
    * compaction planner reads instead of listing+opening the table.
    */
  def metaFiles(s: SparkSession, d: String): DataFrame = {
    val tbl = eventsByDay(s, d)
    s.table(s"$tbl.files")
      .groupBy(col("ts_day").as("day"))
      .agg(sum(col("row_count")).as("n_events"))
      .orderBy("day")
  }

  /** INSPECTION tables, rung 3 — `<table>.history`: the structural change
    * log (one row per committed version, classified from the version
    * delta alone: root swap = replace, directory swap = rewrite, pure
    * DV additions = delete, file additions = append). The query drives a
    * fresh lifecycle — append → sparse MOR delete → compaction — and the
    * history relation must report exactly those kinds in version order
    * (VALUES oracle; versions are RELATIVE to the table's pre-existing
    * history, same contract as etl_time_travel). O(versions) metadata
    * reads — no data listing at any table size.
    */
  def metaHistory(s: SparkSession, d: String): DataFrame = {
    // the copy starts at version 0 (its own empty history), so the
    // append/delete/rewrite rungs below land at 1/2/3 every run
    val tbl = mutableCopyOf(s, d, sharedOrdersPrioMor(s, d), "orders_meta_hist")
    val base = graft.sources.v2.StagedParquet.currentVersion(
      graft.sources.v2.StagedParquet.tableDir(s, tbl))
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .filter(col("o_orderkey") % 2 === 0)
      .writeTo(tbl).append()                                  // base+1: append
    s.sql(s"DELETE FROM $tbl WHERE o_totalprice >= 100000.0 AND o_totalprice < 101000.0")
    graft.sources.v2.StagedParquet.compact(s, tbl): Unit      // base+3: rewrite
    s.table(s"$tbl.history")
      .filter(col("version") > base)
      .select((col("version") - base).as("v"), col("change"))
      .orderBy("v")
  }

  /** STREAMING UPSERT into a staged table (`graft.upsert.key` write
    * option on writeStream — the CDC-sink rung, Flink/Iceberg
    * upsert-stream semantics; reference: postgres.py:1092-1180 ON
    * CONFLICT upsert, now as a continuous stream): a snapshot epoch and
    * two update waves tail in from a staged source, and before each
    * epoch's adds land the engine DELETES the pre-existing rows the
    * epoch replaces — through the tiered COW core with the epoch's own
    * files excluded, so on this merge-on-read bucket(8, key) destination
    * each wave costs one tiny deletion vector per touched bucket plus
    * the appended files. The final table must equal latest-per-key,
    * recomputed exactly by the oracle: a doubled key (delete half
    * failed) or a lost key (delete half overreached) breaks the count or
    * the sum. At 100 TB this is the CDC-ingest shape: epoch cost ∝
    * epoch keys (bucket dirs pruned by the shared hash, files by zone
    * map), never table size. StagedStreamUpsertSpec pins the DV
    * mechanics, replay idempotence, and the layout guard.
    */
  /** The three CDC source epochs, pre-staged as READ-ONLY shared fixtures
    * (optimization round r14, guide §1.4/§6 + r13 VERDICT #1: the DECLARED
    * operation of both streaming-upsert queries is the upsert stream
    * itself — tailing a staged source into the destination — not the
    * production of the source epochs, which a real CDC pipeline's
    * upstream writer pays. One source table per epoch, each carrying
    * exactly its wave's single REPLACE version, so each drain consumes exactly
    * one epoch — identical epoch boundaries, key sets, and destination
    * state to the old interleaved staging; only the 3 per-run source
    * writes leave the timed region). Epoch 1: the full snapshot; epochs
    * 2-3: SPARSE update waves (2% / 1% of keys — the realistic CDC epoch
    * shape, and the shape the DV tier exists for; key-unique per epoch,
    * the standard upsert-stream contract).
    */
  private def upsertSrcEpochs(s: SparkSession, d: String,
      o: DataFrame, pfx: String): Seq[String] = Seq(
    sharedStaged(s, d, s"${pfx}_snap", Seq("orders.parquet")) { t =>
      o.writeTo(t).createOrReplace() },
    sharedStaged(s, d, s"${pfx}_w2", Seq("orders.parquet")) { t =>
      o.filter(col("o_orderkey") % 50 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .writeTo(t).createOrReplace() },
    sharedStaged(s, d, s"${pfx}_w3", Seq("orders.parquet")) { t =>
      o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 3)
        .writeTo(t).createOrReplace() })

  /** Tail each pre-staged epoch source into `dst` through the streaming
    * upsert sink — one AvailableNow query per epoch on its own fresh
    * checkpoint (each source holds exactly one REPLACE version, so each query
    * processes exactly one micro-batch; the per-wave epoch boundaries are
    * unchanged from the interleaved-append formulation).
    */
  private def drainUpsertEpochs(s: SparkSession, dst: String,
      srcs: Seq[String], eq: Boolean): Unit =
    for (src <- srcs) {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_upsert_ckpt")
      try {
        val w = s.readStream.table(src)
          .writeStream
          .option("checkpointLocation", ckpt.toString)
          .option("graft.upsert.key", "o_orderkey")
        (if (eq) w.option("graft.upsert.eq", "true") else w)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(dst)
          .awaitTermination()
      } finally org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile): Unit
    }

  def streamTableUpsert(s: SparkSession, d: String): DataFrame = {
    val ns = stagedNs(s, d)
    val dst = s"graft_staged.$ns.upsert_cdc_dst"
    val o = orders(s, d).select(
      col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val srcs = upsertSrcEpochs(s, d, o, "upsert_cdc_src")
    // the CDC target: merge-on-read + bucket(key) — the upsert-friendly
    // layout (key deletes prune to the keys' buckets)
    o.filter(lit(false)).writeTo(dst)
      .tableProperty("delete.mode", "merge-on-read")
      .partitionedBy(bucket(8, col("o_orderkey"))).createOrReplace()
    // epoch waves apply in order; dense waves — where a rewrite reads
    // cheaper than vectors — take the COW fallback automatically
    // (StagedStreamUpsertSpec covers the tiering)
    drainUpsertEpochs(s, dst, srcs, eq = false)
    val agg = s.table(dst)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy("priority")
    s.createDataFrame(agg.collect().toSeq.asJava, agg.schema)
  }

  /** STREAMING UPSERT via EQUALITY DELETES (`graft.upsert.eq` — Iceberg
    * format-v2's second delete kind; r12 VERDICT #3): the same
    * snapshot + two sparse CDC waves as stream_table_upsert, but each
    * wave's replace half writes ONE `_eq-` key file instead of running
    * the find-positions scan — the epoch never reads a destination data
    * file, so epoch cost is O(written bytes) at ANY destination size
    * (the position-delete path pays a bucket-pruned scan per epoch; at a
    * 100 TB CDC target with wide key ranges that scan IS the epoch).
    * Reads anti-probe the key sets per row until maintenance
    * materializes them into the physical tiers
    * ([[graft.sources.v2.StagedParquet.materializeEqDeletes]] — run here
    * through compact, with BOTH read shapes verified against the same
    * aggregate). Reference behavior: postgres.py upsert (delete
    * keys-in-batch, then insert) — re-expressed as the Flink/Iceberg
    * upsert-stream + equality-delete-file contract. StagedEqDeleteSpec
    * pins the zero-destination-write epoch, boundary semantics, replay
    * idempotence, time travel across materialization, and the
    * maintenance guards.
    */
  def streamTableUpsertEq(s: SparkSession, d: String): DataFrame = {
    val ns = stagedNs(s, d)
    val dst = s"graft_staged.$ns.upsert_eq_dst"
    // the EVEN half of orders: the query deliberately pays a full
    // materialization pass on top of three streaming queries to gate BOTH
    // read shapes — half the volume keeps the leg comparable to its
    // position-delete twin while exercising every code path
    val o = orders(s, d).select(
      col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .filter(col("o_orderkey") % 2 === 0)
    val srcs = upsertSrcEpochs(s, d, o, "upsert_eq_src")
    o.filter(lit(false)).writeTo(dst)
      .tableProperty("delete.mode", "merge-on-read")
      .partitionedBy(bucket(8, col("o_orderkey"))).createOrReplace()
    drainUpsertEpochs(s, dst, srcs, eq = true)
    def agg = s.table(dst)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy("priority")
    // read 1: LIVE eq filters (per-row anti-probe against the key sets)
    val live = agg.collect().toSeq
    // materialize through compaction, then read 2: the settled tiers must
    // answer identically — the engine's own cross-check, ahead of the
    // external oracle
    graft.sources.v2.StagedParquet.compact(s, dst): Unit
    val settled = agg.collect().toSeq
    require(live == settled,
      "equality-delete read and materialized read disagree")
    s.createDataFrame(settled.asJava, agg.schema)
  }

  /** PROBE scenario for the equality-delete upsert (Bench scale probe):
    * destination ∝ corpus, ONE sparse eq wave. Returns
    * (pre-existing destination files TOUCHED by the wave + deletion
    * vectors it wrote, eq key values it published):
    *   - the first count is structurally 0 — the eq epoch's whole
    *     contract is that it never reads, rewrites, or vectors a
    *     destination file (reported +1 by the probe, so work_ratio pins
    *     at 1.0 at any scale; a fallback to the position-delete path
    *     writes DVs and the count jumps with the touched buckets);
    *   - the second grows ∝ the wave (≈10 at 10×) and attributes the
    *     wall-clock growth to the epoch's own volume.
    * Measured from the FILE TREE (names + length + mtime before/after),
    * not from the code path's own accounting — any regression that
    * touches destination bytes is caught regardless of which code does.
    */
  private val eqProbeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private[graft] def eqUpsertProbe(s: SparkSession, d: String): (Long, Long) = {
    // both Bench work counters read this scenario — run it once per data
    // dir per JVM (the streaming snapshot load dominates its wall)
    val memo = eqProbeMemo.get(d)
    if (memo != null) return memo
    val ns = stagedNs(s, d)
    val src = s"graft_staged.$ns.upsert_eqprobe_src"
    val dst = s"graft_staged.$ns.upsert_eqprobe_dst"
    // a fixed QUARTER of orders: still ∝ the corpus (the probe's
    // destination-independence claim binds at any slice), 4x less wall
    val o = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      .filter(col("o_orderkey") % 4 === 0)
    o.filter(lit(false)).writeTo(dst)
      .tableProperty("delete.mode", "merge-on-read")
      .partitionedBy(bucket(8, col("o_orderkey"))).createOrReplace()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_eqprobe_ckpt").toString
    def drain(): Unit = {
      val q = s.readStream.table(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .option("graft.upsert.key", "o_orderkey")
        .option("graft.upsert.eq", "true")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(dst)
      q.awaitTermination()
    }
    o.writeTo(src).createOrReplace()
    drain()
    val dir = graft.sources.v2.StagedParquet.tableDir(s, dst)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f)
      else Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
    def tree() = walk(new java.io.File(dir))
    val before = tree().filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_"))
      .map(f => f.getPath -> (f.length, f.lastModified)).toMap
    o.filter(col("o_orderkey") % 50 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .writeTo(src).append()
    drain()
    val afterFiles = tree()
    val after = afterFiles.filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_"))
      .map(f => f.getPath -> (f.length, f.lastModified)).toMap
    val touched = before.count { case (p, m) => !after.get(p).contains(m) } +
      afterFiles.count(_.getName.startsWith("_dv-"))
    val keys = afterFiles
      .filter(f => f.getName.startsWith("_eq-") && f.getName.endsWith(".parquet"))
      .map(f => graft.sources.v2.StagedScan.withFooter(f.getPath)(_.getRecordCount))
      .sum
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt)): Unit
    val res = (touched.toLong, keys)
    eqProbeMemo.put(d, res): Unit
    res
  }

  /** WAP ZERO-COPY probe: |dataBytes(dst after) − dataBytes(dst before)
    * − dataBytes(audit)| and the audit volume itself. A publish is pure
    * renames, and a rename preserves sizes, so the identity holds
    * EXACTLY at any scale — any copy or rewrite during publish breaks
    * it by the copied volume. Measured from the file tree, not the code
    * path's own accounting (the same black-box posture as the other
    * lifecycle probes). Memoized per data dir: both Bench counters read
    * one scenario.
    */
  private val wapProbeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private[graft] def wapProbe(s: SparkSession, d: String): (Long, Long) = {
    val memo = wapProbeMemo.get(d)
    if (memo != null) return memo
    graft.sources.v2.StagedParquet.ensureCatalog(s)
    val ns = stagedNs(s, d)
    val dst = s"graft_staged.$ns.wapprobe_dst"
    val audit = s"graft_staged.$ns.wapprobe_aud"
    val o = orders(s, d).select(
      col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    o.filter(col("o_orderkey") % 4 === 1).writeTo(dst)
      .partitionedBy(col("o_orderpriority")).createOrReplace()
    o.filter(col("o_orderkey") % 4 === 2).writeTo(audit)
      .partitionedBy(col("o_orderpriority")).createOrReplace()
    def dataBytes(tbl: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) {
          if (f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
            f.length else 0L
        } else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(graft.sources.v2.StagedParquet.tableDir(s, tbl)))
    }
    val before = dataBytes(dst)
    val auditBytes = dataBytes(audit)
    s.sql(s"CALL graft_staged.system.publish_appends('$audit', '$dst')")
      .collect(): Unit
    val res = (math.abs(dataBytes(dst) - before - auditBytes), auditBytes)
    wapProbeMemo.put(d, res): Unit
    res
  }

  /** PARTITION-SPEC EVOLUTION
    * ([[graft.sources.v2.StagedParquet.evolvePartitioning]] — Iceberg's
    * flagship metadata operation): the EVEN order keys land under
    * `identity(o_orderpriority)`, the spec evolves to
    * `bucket(8, o_custkey)` in ONE metadata commit (directories renamed
    * under `_layouts/g-0/`, zero data bytes — at 100 TB this turns "we
    * should have bucketed by customer" from a month-long rewrite into
    * one commit), the ODD keys append under the NEW layout, and a band
    * DELETE crosses BOTH generations (each classified under its own
    * spec). The mixed-layout profile must equal the oracle's exact
    * recomputation from raw orders — old-generation identity columns
    * reconstituted from dir names, new-generation buckets pruned by
    * hash, nothing lost or doubled at any seam. StagedEvolveSpec pins
    * the metadata-only move, pruning, honesty gates, stream survival,
    * and time travel across the evolution.
    */
  /** Shared pre-evolution base for [[partitionEvolve]] / [[layoutMigrate]]:
    * the EVEN order keys under `identity(o_orderpriority)` (optimization
    * round r14, r13 VERDICT #6 — both queries re-staged this identical
    * table per invocation; the DECLARED operations are the evolve /
    * append-under-new-layout / delete / migrate steps, which stay fully
    * timed against a pristine mutableCopyOf).
    */
  private def sharedOrdersEvenCustPrio(s: SparkSession, d: String): String =
    sharedStaged(s, d, "orders_even_cust_prio", Seq("orders.parquet")) { t =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"), col("o_totalprice"))
        .filter(col("o_orderkey") % 2 === 0)
        .writeTo(t).partitionedBy(col("o_orderpriority")).createOrReplace()
    }

  def partitionEvolve(s: SparkSession, d: String): DataFrame = {
    val tbl = mutableCopyOf(s, d, sharedOrdersEvenCustPrio(s, d), "orders_evolved")
    def slice(even: Boolean) = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"), col("o_totalprice"))
      .filter(col("o_orderkey") % 2 === (if (even) 0 else 1))
    // the evolution itself runs through SQL (r11 VERDICT #7): one CALL,
    // one metadata commit
    s.sql(s"CALL graft_staged.system.evolve_partitioning('$tbl', 'bucket(8,o_custkey)')")
      .collect(): Unit
    slice(even = false).writeTo(tbl).append()
    s.sql(s"DELETE FROM $tbl WHERE o_totalprice >= 200000.0")
    s.table(tbl)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("priority")
  }

  /** LAYOUT MIGRATION — the settle pass after an evolution
    * ([[graft.sources.v2.StagedParquet.migrateLayouts]], Iceberg's
    * rewrite-to-current-spec): half of orders lands under the old
    * identity layout, the spec evolves to `bucket(8, o_custkey)`, the
    * other half appends, then migration rewrites EXACTLY the
    * old-generation bytes into the current layout (cost ∝ stragglers,
    * never the table; crash-idempotent via the pinned-version marker).
    * The post-migration profile must equal the oracle over all of
    * orders, and the generations must be empty — which is what lets the
    * SPJ / footer-agg / sort-order claims return.
    */
  def layoutMigrate(s: SparkSession, d: String): DataFrame = {
    val tbl = mutableCopyOf(s, d, sharedOrdersEvenCustPrio(s, d), "orders_migrated")
    def slice(even: Boolean) = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"), col("o_totalprice"))
      .filter(col("o_orderkey") % 2 === (if (even) 0 else 1))
    s.sql(s"CALL graft_staged.system.evolve_partitioning('$tbl', 'bucket(8,o_custkey)')")
      .collect(): Unit
    slice(even = false).writeTo(tbl).append()
    s.sql(s"CALL graft_staged.system.migrate_layouts('$tbl')").collect(): Unit
    require(!graft.sources.v2.StagedParquet.oldLayoutsHoldData(
      graft.sources.v2.StagedParquet.tableDir(s, tbl)),
      "layout migration must empty every old generation")
    s.table(tbl)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        graft.core.Determinism.dsum(col("o_totalprice"), 18, 2).as("sum_price"),
        min(col("o_orderkey")).as("min_key"))
      .orderBy("priority")
  }

  /** Probe relation (ProbeWork): data files whose (name, length) CHANGED
    * across evolvePartitioning, plus 1 — the metadata-only contract
    * measured: expected 0 changed at EVERY scale (work_ratio 1.0), since
    * evolution renames directories and rewrites nothing.
    */
  private[graft] def evolveRewrittenFiles(s: SparkSession, d: String): Long = {
    val ns = stagedNs(s, d)
    val tbl = s"graft_staged.$ns.orders_evolve_probe"
    orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"), col("o_totalprice"))
      .writeTo(tbl).partitionedBy(col("o_orderpriority")).createOrReplace()
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      walk(new java.io.File(graft.sources.v2.StagedParquet.tableDir(s, tbl)))
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .map(f => f.getName -> f.length).toMap
    }
    val before = files()
    graft.sources.v2.StagedParquet.evolvePartitioning(s, tbl,
      Seq(graft.sources.v2.PartField("o_custkey", "bucket", 8))): Unit
    val after = files()
    ((before.toSet diff after.toSet).size + (after.toSet diff before.toSet).size).toLong
  }

  /** Probe relations (ProbeWork): one sparse merge-on-read DELETE, two
    * counters. `rewritten` is the SCALE-INVARIANT one — expected 0 at
    * every scale (the DV tier writes one positions file instead of
    * rewriting; a MOR regression rewrites the band). `matched` is the
    * LINEAR one — the positions the find-positions scan flagged, ∝ the
    * band's rows, so the probe's wall growth at 10× is attributed to the
    * position scan (expected, linear) and not inferred (r11 VERDICT #5:
    * the wall ratio read 4.75 against work_ratio 1.0 with nothing pinning
    * why). Memoized per data dir: both Bench counters read the same
    * statement instead of staging the fixture twice.
    */
  private val morProbeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private[graft] def morProbe(s: SparkSession, d: String): (Long, Long) =
    morProbeMemo.computeIfAbsent(d, _ => {
      val ns = stagedNs(s, d)
      val tbl = s"graft_staged.$ns.orders_mor_probe"
      orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .writeTo(tbl).tableProperty("delete.mode", "merge-on-read")
        .partitionedBy(col("o_orderpriority")).createOrReplace()
      val rep = graft.sources.v2.StagedParquet.deleteWhere(s, tbl, Seq(
        org.apache.spark.sql.sources.GreaterThanOrEqual("o_totalprice", 100000.0),
        org.apache.spark.sql.sources.LessThan("o_totalprice", 101000.0)))
      (rep.count(_._2 == "rewritten").toLong,
        rep.filter(_._2 == "dv").map(_._4).sum)
    })
  private[graft] def morRewrittenFiles(s: SparkSession, d: String): Long =
    morProbe(s, d)._1

  /** Probe relation (ProbeWork): files OPENED by a change feed over an
    * UNTOUCHED version range — expected 0 at every scale (the version
    * deltas name no changes, so the feed plans zero reads); a
    * classification regression diffs — and opens — the whole table.
    */
  private[graft] def cdfUntouchedReads(s: SparkSession, d: String): Long = {
    val ns = stagedNs(s, d)
    val tbl = s"graft_staged.$ns.orders_cdf_probe"
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .writeTo(tbl).partitionedBy(col("o_orderpriority")).createOrReplace()
    val v = graft.sources.v2.StagedParquet.currentVersion(
      graft.sources.v2.StagedParquet.tableDir(s, tbl))
    graft.sources.v2.StagedReaderFactory.readersCreated.set(0L)
    graft.sources.v2.StagedParquet.changesBetween(s, tbl, v, v).count(): Unit
    graft.sources.v2.StagedReaderFactory.readersCreated.get()
  }

  private def writeFixtureFile(path: String, content: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.FileWriter(f)
    try w.write(content) finally w.close()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_csv_ingest"     -> (csvIngest _),
    "etl_paged_coerce"   -> (pagedCoerce _),
    "etl_paged_api_scan" -> (pagedApiScan _),
    "etl_rename_replace" -> (renameReplace _),
    "etl_truncate_load"  -> (truncateLoad _),
    "etl_schema_evolve"  -> (schemaEvolve _),
    "etl_vacuum"         -> (vacuumDebris _),
    "etl_spj_join"       -> (spjJoin _),
    "etl_stats_scan"     -> (statsScan _),
    "etl_days_prune"     -> (daysPrune _),
    "etl_days_dpp"       -> (daysDpp _),
    "etl_minmax_skip"    -> (minmaxSkip _),
    "etl_compact_files"  -> (compactFiles _),
    "etl_delete_rows"    -> (deleteRows _),
    "etl_bucket_join"    -> (bucketJoin _),
    "etl_update_rows"    -> (updateRows _),
    "stream_table_tail"  -> (streamTableTail _),
    "stream_table_ingest" -> (streamTableIngest _),
    "etl_time_travel"    -> (timeTravel _),
    "etl_delete_vectors" -> (deleteVectors _),
    "etl_change_feed"    -> (changeFeed _),
    "etl_sort_order"     -> (sortOrder _),
    "etl_meta_partitions" -> (metaPartitions _),
    "etl_meta_files"     -> (metaFiles _),
    "etl_meta_history"   -> (metaHistory _),
    "etl_partition_evolve" -> (partitionEvolve _),
    "etl_layout_migrate" -> (layoutMigrate _),
    "stream_table_upsert" -> (streamTableUpsert _),
    "stream_table_upsert_eq" -> (streamTableUpsertEq _),
    "etl_time_travel_ts" -> (timeTravelTs _),
    "etl_table_tag"      -> (tableTag _),
    "etl_wap_publish"    -> (wapPublish _),
    "etl_rollback"       -> (rollback _)
  )

  val oracles: Map[String, String] = Map(
    // the NUL planted in every 3rd name must be scrubbed (no trace here);
    // the latin-1 é must survive the fallback read byte-exactly
    "etl_csv_ingest" ->
      """SELECT CAST(n_nationkey AS INTEGER) AS nation_key,
         n_name || CASE WHEN n_nationkey % 5 = 0 THEN 'é' ELSE '' END AS n_name,
         CAST(n_regionkey AS INTEGER) AS region_key
         FROM nation ORDER BY nation_key""",
    "etl_rename_replace" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_custkey % 4 = 1 ORDER BY c_custkey""",
    "etl_truncate_load" ->
      """SELECT s_suppkey, s_name, s_nationkey FROM supplier
         ORDER BY s_suppkey""",
    // the pruned range recomputed over the raw events — day-directory
    // pruning must never cost a row (boundary days cut by residual only)
    "etl_days_prune" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events
         WHERE epoch(ts) >= 1704844800 AND epoch(ts) < 1705363200
         GROUP BY 1 ORDER BY 1""",
    // the runtime-pruned join recomputed as a plain join over raw events —
    // dynamic day pruning must never cost a row (the dim's ts values land
    // in 3 of 30 days; only those day dirs open at runtime)
    "etl_days_dpp" ->
      """SELECT f.event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(f.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events f
         JOIN (SELECT ts FROM events
               WHERE event_type = 'purchase' AND event_id % 7 = 0
                 AND epoch(ts) >= 1704844800 AND epoch(ts) < 1705104000) d
           ON f.ts = d.ts
         GROUP BY 1 ORDER BY 1""",
    // the footer-answered profile recomputed from the raw rows — footer
    // record counts and row-group min/max stats must agree with the data
    "etl_stats_scan" ->
      """SELECT o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_orders,
         min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
         CAST(min(o_orderkey) AS BIGINT) AS min_key,
         CAST(max(o_orderkey) AS BIGINT) AS max_key
         FROM orders GROUP BY 1 ORDER BY 1""",
    // the storage-partitioned join+agg recomputed straight from the raw
    // tables — write→partition→V2 scan→SPJ must cancel out exactly
    "etl_spj_join" ->
      """SELECT c.c_nationkey AS nationkey,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CAST(c.c_acctbal + s.s_acctbal AS DECIMAL(28,6)))
           AS DOUBLE) AS bal_sum
         FROM customer c JOIN supplier s ON s.s_nationkey = c.c_nationkey
         GROUP BY 1 ORDER BY 1""",
    // the deletion report recomputed from first principles: one orphan per
    // even nation key, plus the two constant sibling-dir leftovers
    "etl_vacuum" ->
      """SELECT '_tmp-crash' || n_nationkey || '-f' || n_nationkey
           || '.parquet' AS path, 'orphan_tmp' AS kind
         FROM nation WHERE n_nationkey % 2 = 0
         UNION ALL SELECT 'vacuum_demo__old', 'stale_old'
         UNION ALL SELECT 'vacuum_demo__staging.dead0', 'dead_staging'
         ORDER BY path""",
    // pre-evolution rows carry NULL in the added column, pre-RENAME rows
    // read their old-named bytes back through the alias mapping,
    // post-rename rows are native — all recomputed from first principles
    "etl_schema_evolve" ->
      """SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS balance
         FROM customer WHERE c_custkey % 3 = 0
         UNION ALL
         SELECT c_custkey, c_name, c_acctbal AS balance
         FROM customer WHERE c_custkey % 3 = 1
         UNION ALL
         SELECT c_custkey, c_name, c_acctbal AS balance
         FROM customer WHERE c_custkey % 3 = 2
         ORDER BY c_custkey""",
    // the connector's synthesized page stream recomputed from first
    // principles: ids 0..total-1, 100 per page, pages 1..120 kept
    "etl_paged_api_scan" ->
      """WITH ids AS (SELECT row_number() OVER (ORDER BY c_custkey) - 1 AS i
           FROM customer)
         SELECT i // 100 AS page, CAST(i % 100 AS INTEGER) AS record_idx,
           i AS id, 'cust-' || i AS name, '555-' || i AS phone
         FROM ids WHERE i // 100 BETWEEN 1 AND 120
         ORDER BY page, record_idx""",
    "etl_paged_coerce" ->
      """SELECT row_number() OVER (ORDER BY c_custkey) AS objectid,
         c_custkey AS id, c_name AS name,
         '555-' || c_custkey AS phone,
         '["cn-' || c_custkey || '","cn-' || (c_custkey + 1) || '"]' AS conn_ids,
         printf('2020-%02d-%02dT%02d:%02d:00Z',
           c_custkey % 12 + 1, c_custkey % 28 + 1,
           CASE WHEN c_custkey % 2 = 0
                THEN (c_custkey % 12 + 1) % 12
                ELSE (c_custkey % 12 + 1) % 12 + 12 END,
           c_custkey % 60) AS event_ts
         FROM customer ORDER BY objectid""",
    // the zone-map-skipped band recomputed exactly over raw orders —
    // row-group skipping must never cost a row (boundary groups kept,
    // their out-of-band rows cut by the residual filter only)
    "etl_minmax_skip" ->
      """SELECT o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         FROM orders
         WHERE o_totalprice >= 150000 AND o_totalprice < 250000
         GROUP BY 1 ORDER BY 1""",
    // the post-compaction profile recomputed from raw orders — the
    // rewrite + atomic dir swap must preserve every row and value exactly
    "etl_compact_files" ->
      """SELECT o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         min(o_orderkey) AS min_key
         FROM orders GROUP BY 1 ORDER BY 1""",
    // the post-DELETE profile recomputed from raw orders: the partition
    // drop and the copy-on-write band delete must remove exactly their
    // rows — nothing more (lost rows), nothing less (survivors)
    "etl_delete_rows" ->
      """SELECT o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         max(o_totalprice) AS max_price
         FROM orders
         WHERE o_orderpriority <> '1-URGENT' AND o_totalprice < 200000.0
         GROUP BY 1 ORDER BY 1""",
    // the bucketed SPJ must produce exactly the plain join's result — the
    // bucket routing is layout, never semantics
    "etl_bucket_join" ->
      """SELECT c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    // the copy-on-write UPDATE's profile recomputed with the same CASE
    // WHEN from raw orders — integer-exact, so any misapplied SET (wrong
    // rows, wrong band, double-applied) breaks the key sum
    "etl_update_rows" ->
      """SELECT o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' AND o_totalprice >= 150000.0
                       THEN o_orderkey + 10000000 ELSE o_orderkey END) AS BIGINT) AS key_sum,
         CAST(max(CASE WHEN o_orderpriority = '3-MEDIUM' AND o_totalprice >= 150000.0
                       THEN o_orderkey + 10000000 ELSE o_orderkey END) AS BIGINT) AS max_key
         FROM orders GROUP BY 1 ORDER BY 1""",
    // what the streaming tail DELIVERED, recomputed from raw events: a
    // missed, replayed, or half-read file breaks the count or the sum
    "stream_table_tail" ->
      """SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY 1""",
    // what the streaming INGEST delivered into the destination table,
    // recomputed from raw orders: a dropped, duplicated, or
    // half-committed epoch breaks count, sum, or bucket total (FLOOR, not
    // CAST: DuckDB's double->int cast rounds, Spark's truncates)
    "stream_table_ingest" ->
      """SELECT o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(sum(CAST(FLOOR(o_totalprice / 100000.0) AS BIGINT)) AS BIGINT) AS sum_bucket
         FROM orders WHERE o_totalprice >= 1000.0
         GROUP BY 1 ORDER BY 1""",
    // both reconstructed versions recomputed from raw orders: v1 = the
    // full table, v2 = after the band delete — an inexact reconstruction
    // (missed retained dir, leaked new file) breaks a count or a sum
    "etl_time_travel" ->
      """SELECT * FROM (
           SELECT 1 AS version, o_orderpriority AS priority,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM orders GROUP BY 2
           UNION ALL
           SELECT 2 AS version, o_orderpriority AS priority,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM orders WHERE o_totalprice < 200000.0 GROUP BY 2
         ) ORDER BY version, priority""",
    // the wall-clock twin: phase 1 = TIMESTAMP AS OF just before the
    // delete commit (all orders), phase 2 = AS OF the commit instant
    "etl_time_travel_ts" ->
      """SELECT * FROM (
           SELECT 1 AS phase, o_orderpriority AS priority,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM orders GROUP BY 2
           UNION ALL
           SELECT 2 AS phase, o_orderpriority AS priority,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM orders WHERE o_totalprice < 200000.0 GROUP BY 2
         ) ORDER BY phase, priority""",
    // phase 1 = the tagged pre-delete state read back through the tag
    // AFTER a zero-retention vacuum (the pin is the gate), phase 2 = live
    "etl_table_tag" ->
      """SELECT * FROM (
           SELECT 1 AS phase, o_orderpriority AS priority,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM orders GROUP BY 2
           UNION ALL
           SELECT 2 AS phase, o_orderpriority AS priority,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM orders WHERE o_totalprice < 200000.0 GROUP BY 2
         ) ORDER BY phase, priority""",
    // phase 1 = the damaged (post-delete) state, phase 2 = the restored
    // table after rollback_to_version (all orders), phase 3 = the bad
    // version read back THROUGH the rollback via time travel
    "etl_rollback" ->
      """SELECT * FROM (
           SELECT 1 AS phase, o_orderpriority AS priority,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM orders WHERE o_totalprice < 200000.0 GROUP BY 2
           UNION ALL
           SELECT 2 AS phase, o_orderpriority AS priority,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM orders GROUP BY 2
           UNION ALL
           SELECT 3 AS phase, o_orderpriority AS priority,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM orders WHERE o_totalprice < 200000.0 GROUP BY 2
         ) ORDER BY phase, priority""",
    // phase 1 = destination BEFORE publish (odd half only — the audit
    // table is invisible), phase 2 = after the zero-copy publish (all)
    "etl_wap_publish" ->
      """SELECT * FROM (
           SELECT 1 AS phase, o_orderpriority AS priority,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 2
           UNION ALL
           SELECT 2 AS phase, o_orderpriority AS priority,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM orders GROUP BY 2
         ) ORDER BY phase, priority""",
    // all three merge-on-read phases recomputed from raw orders with the
    // two deleted bands cut: the DV-applying scan, the DV-aware snapshot
    // reconstruction, and the compaction that materialized the vectors
    // must all serve the identical survivors
    "etl_delete_vectors" ->
      """WITH agg AS (
           SELECT o_orderpriority AS priority,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                  max(o_totalprice) AS max_price
           FROM orders
           WHERE NOT (o_totalprice >= 100000.0 AND o_totalprice < 101000.0)
             AND NOT (o_totalprice >= 250000.0 AND o_totalprice < 251000.0)
           GROUP BY 1)
         SELECT p.phase, a.priority, a.n_orders, a.sum_price, a.max_price
         FROM (SELECT 'live' AS phase UNION ALL SELECT 'asof'
               UNION ALL SELECT 'compacted') p
         CROSS JOIN agg a
         ORDER BY 1, 2""",
    // the net change feed recomputed from raw orders: inserts = appended
    // odds outside the deleted band (append-then-delete nets out),
    // deletes = the evens inside it (visible at the start, gone at head)
    "etl_change_feed" ->
      """SELECT 'insert' AS change_type, o_orderpriority AS priority,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM orders
         WHERE o_orderkey % 2 = 1 AND o_totalprice >= 50000.0
           AND NOT (o_totalprice >= 150000.0 AND o_totalprice < 160000.0)
         GROUP BY 2
         UNION ALL
         SELECT 'delete', o_orderpriority,
                CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
         FROM orders
         WHERE o_orderkey % 2 = 0
           AND o_totalprice >= 150000.0 AND o_totalprice < 160000.0
         GROUP BY 2
         ORDER BY 1, 2""",
    // the sorted bucket-SPJ merge join must produce exactly the plain
    // join's result — sort order and bucketing are layout, never semantics
    "etl_sort_order" ->
      """SELECT CAST(o_custkey % 10 AS BIGINT) AS cust_mod,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    // the partitions inspection relation recomputed from raw orders: live
    // counts (footer minus DV positions) and deleted counts per partition
    // must agree exactly with the band the MOR delete cut
    "etl_meta_partitions" ->
      """SELECT o_orderpriority AS priority,
         CAST(count(*) FILTER (WHERE NOT (o_totalprice >= 100000.0
           AND o_totalprice < 101000.0)) AS BIGINT) AS n_live,
         CAST(count(*) FILTER (WHERE o_totalprice >= 100000.0
           AND o_totalprice < 101000.0) AS BIGINT) AS n_deleted
         FROM orders GROUP BY 1 ORDER BY 1""",
    // the per-file inventory re-aggregated by day directory must reproduce
    // the per-day counts from raw events — footer counts and day placement
    // both exact
    "etl_meta_files" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY 1 ORDER BY 1""",
    // the structural change log is fully determined by the query's own
    // lifecycle: append, then a sparse merge-on-read delete, then
    // compaction — in that version order
    "etl_meta_history" ->
      """SELECT CAST(v AS BIGINT) AS v, change
         FROM (VALUES (1, 'append'), (2, 'delete'), (3, 'rewrite'))
         AS t(v, change) ORDER BY v""",
    // the mixed-layout profile recomputed from raw orders: the evolution
    // seam (old identity layout + new bucket layout + a band DELETE
    // crossing both) must cost zero rows and double none
    "etl_partition_evolve" ->
      """SELECT o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(max(o_orderkey) AS BIGINT) AS max_key
         FROM orders WHERE o_totalprice < 200000.0
         GROUP BY 1 ORDER BY 1""",
    // the post-migration profile recomputed from raw orders: settling the
    // old generation into the current layout must preserve every row
    "etl_layout_migrate" ->
      """SELECT o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(min(o_orderkey) AS BIGINT) AS min_key
         FROM orders GROUP BY 1 ORDER BY 1""",
    // latest-per-key recomputed from raw orders: after the snapshot and
    // two update waves, every key appears ONCE at its final value — a
    // doubled key (delete half failed) breaks n_orders, a lost or
    // stale-valued key breaks the sum
    "stream_table_upsert" ->
      """SELECT o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 3
                            WHEN o_orderkey % 50 = 0 THEN o_totalprice * 2
                            ELSE o_totalprice END AS DECIMAL(18,2)))
           AS DOUBLE) AS sum_price,
         max(CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 3
                  WHEN o_orderkey % 50 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END) AS max_price
         FROM orders GROUP BY 1 ORDER BY 1""",
    // identical latest-per-key recomputation — the eq-delete path must be
    // observationally indistinguishable from the position-delete path,
    // in BOTH of its read shapes (live anti-probe and materialized; the
    // query requires them equal before returning)
    "stream_table_upsert_eq" ->
      """SELECT o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 3
                            WHEN o_orderkey % 50 = 0 THEN o_totalprice * 2
                            ELSE o_totalprice END AS DECIMAL(18,2)))
           AS DOUBLE) AS sum_price,
         max(CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 3
                  WHEN o_orderkey % 50 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END) AS max_price
         FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1 ORDER BY 1"""
  )
}
