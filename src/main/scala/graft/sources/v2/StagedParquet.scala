package graft.sources.v2

import java.util
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type => PType, Types => PTypes}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 WRITE path — the staging→prod table lifecycle
  * (reference: postgres.py:948-1180 truncate-and-load, postgres.py:449-559
  * and carto_.py:443-459 rename-replace) as a real V2 commit protocol
  * instead of driver-side helper calls. This is the SINK rung of the
  * extension ladder (expression → aggregate → plan+strategy → optimizer
  * rule → source connector → sink).
  *
  * Shape: [[StagedCatalog]] is a [[StagingTableCatalog]] over a directory
  * tree of parquet tables. `df.writeTo("graft_staged.ns.t").createOrReplace()`
  * plans an ATOMIC replace: Spark asks the catalog to stage the new table
  * ([[StagedCatalog.stageCreateOrReplace]]), runs the query through the
  * staged table's [[BatchWrite]], and only then calls
  * [[StagedTable.commitStagedChanges]] — which promotes the staging
  * directory with the same prod→old / staging→prod rename dance the
  * reference performs with `ALTER TABLE RENAME`. Any failure before that
  * point aborts ([[StagedTable.abortStagedChanges]] deletes staging) and
  * prod is never observed half-written.
  *
  * The task-level protocol is the classic two-phase file commit:
  *  - each [[StagedParquetDataWriter]] writes its partition to
  *    `_tmp-<token>-` prefixed parquet files (via a hand-rolled
  *    [[InternalRowWriteSupport]] — public parquet-hadoop API, no Spark
  *    internals) and renames them to their final names only in task
  *    commit(); `token` is the write's queryId, embedded in BOTH the temp
  *    prefix and the final file name, so two applications appending to the
  *    same table can never clobber each other's files (their task-id
  *    counters both start at 0 — without the token `part-0-0` collides)
  *    and commit/abort sweeps stay scoped to the job's OWN leftovers;
  *  - the returned [[StagedFilesCommit]] names the files, and the driver's
  *    [[StagedParquetBatchWrite.commit]] keeps exactly the files named by
  *    the commit messages — stray files from speculative or failed
  *    attempts are deleted — then publishes `_schema.json` + `_SUCCESS`.
  *
  * PARTITIONED tables: the catalog accepts identity and days transforms
  * (`df.writeTo(t).partitionedBy(col("k"))` / `partitionedBy(days(col("ts")))`)
  * and writers route each row to its `k=value` subdirectory — identity
  * columns are carried by the directory (dropped from the data files, the
  * layout spark.read.parquet partition discovery prunes on); `days(ts)`
  * derives a `ts_day=yyyy-MM-dd` directory column while the source column
  * stays in the data. The spec is pinned in `_partition.json` so the table
  * reports its partitioning on load. `overwritePartitions()` stages the
  * incoming data and swaps ONLY the touched partition directories at
  * commit (per-partition promote — atomic per partition, the standard
  * dynamic-overwrite contract).
  *
  * At 100 TB this is precisely the object-store pattern: writers upload
  * under a staging prefix, the commit manifest lists the surviving files,
  * and the swap is a metadata operation whose cost is independent of
  * table size (full-table swap: one rename; dynamic overwrite: one rename
  * per TOUCHED partition, independent of the untouched ones).
  */
object StagedParquet {
  val CatalogName = "graft_staged"
  val SchemaFile = "_schema.json"
  val SuccessFile = "_SUCCESS"
  val PartitionFile = "_partition.json"
  /** Tombstoned (dropped) column names — see alterTable's re-add guard. */
  val DroppedFile = "_dropped.txt"
  /** Commit manifests — see [[appendManifest]]. */
  val ManifestDir = "_manifests"
  /** Persisted table properties (`key=value` per line) — TBLPROPERTIES /
    * `tableProperty(...)`, surviving through staged replaces. The engine
    * reads `delete.mode` here (copy-on-write | merge-on-read).
    */
  val PropertiesFile = "_properties.txt"
  /** Deletion-vector files — see [[writeDv]]/[[readDvs]]. */
  val DvPrefix = "_dv-"
  /** Declared table sort order (comma-separated columns, ASC NULLS FIRST)
    * — Iceberg's write.sort-order contract: the ENGINE sorts every write
    * (requiredOrdering), rewrites re-sort, and the scan reports the order
    * back to Catalyst so merge joins and ORDER BYs plan without Sort
    * nodes when the layout allows ([[StagedScan.outputOrdering]]).
    */
  val SortOrderProp = "sort.order"
  private[graft] def sortColsOf(props: Map[String, String]): Seq[String] =
    props.get(SortOrderProp)
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
  /** Root marker: at least one deletion vector was ever written. Lets
    * every non-DV table skip per-directory DV lookups and keep the
    * footer-stats aggregate pushdown with ZERO listing overhead; on a
    * flagged table the scan pays one extra `listStatus` per surviving
    * directory and the agg pushdown stands down (footer MIN/MAX/COUNT
    * would count deleted rows). Conservative: the flag may outlive the
    * last DV (it only disables an optimization, never correctness); a
    * root-swapping rewrite that leaves no DVs behind drops it.
    */
  val DvFlagFile = "_dvflag"
  /** Equality-delete files (Iceberg format-v2's SECOND delete kind, next
    * to position deletes/DVs): `_eq-<boundary>-<nonce>.parquet` at the
    * table root — a one-column parquet of deleted KEY VALUES whose column
    * name IS the key column. Applies at read time to every data file
    * added at a version STRICTLY BELOW the boundary (the writing epoch's
    * own adds sit exactly AT it). The streaming upsert's reason to exist:
    * an epoch writes its keys once — O(epoch bytes) — instead of scanning
    * a 100 TB destination for positions; the scan pays a hash-set probe
    * per row until maintenance MATERIALIZES the files into the physical
    * tiers ([[materializeEqDeletes]]). See [[writeEqFile]]/[[liveEqFiles]].
    */
  val EqPrefix = "_eq-"
  /** Root marker twin of [[DvFlagFile]]: at least one equality delete is
    * live. Non-eq tables skip every per-scan eq lookup at zero cost;
    * materialization drops it.
    */
  val EqFlagFile = "_eqflag"
  /** Retired (materialized) equality-delete files move under
    * `__meta/eqfiles/` — VERSION AS OF below the materialization still
    * resolves them there; vacuum's retention applies as for retained
    * trees.
    */
  val EqRetireDir = "eqfiles"
  /** Column-level schema-evolution metadata, carried INSIDE
    * `_schema.json` as StructField metadata (it rides every schemaJson a
    * split, a footer-pruning call, or a reader already receives):
    * [[FieldIdKey]] pins a stable per-column id, [[AliasesKey]] lists the
    * historical physical names a RENAMED column's bytes still live under
    * in committed files. Readers resolve declared name → aliases against
    * each file's physical schema (the Iceberg field-ID/name-mapping
    * answer), so RENAME COLUMN is one metadata commit at any table size.
    */
  val FieldIdKey = "graft.id"
  val AliasesKey = "graft.aliases"

  private[graft] def aliasesOf(f: StructField): Seq[String] =
    if (f.metadata.contains(AliasesKey))
      f.metadata.getStringArray(AliasesKey).toSeq
    else Nil

  private[graft] def columnAliases(schema: StructType, name: String): Seq[String] =
    schema.fields.find(_.name == name).map(aliasesOf).getOrElse(Nil)

  /** RENAME-aware raw parquet reads, the pair every rewrite path uses:
    * [[widenForAliases]] extends the declared data schema by each renamed
    * column's historical names (nullable, same type), and
    * [[coalesceAliases]] folds them back — a field with aliases becomes
    * coalesce(current, aliases…), so a mixed batch of pre- and
    * post-rename files reconstitutes every row (Spark's by-name parquet
    * resolution alone would null the renamed column in pre-rename files;
    * compaction and COW rewrites run through this pair so a rewrite can
    * never null history). Split in two because the rewrite sites attach
    * `_metadata.row_index` / input_file_name() between the scan and the
    * fold. Alias collisions are rejected at rename time, so the widened
    * schema is unambiguous; on tables never renamed both are identity.
    */
  private[v2] def widenForAliases(dataSchema: StructType): StructType =
    if (!dataSchema.fields.exists(f => aliasesOf(f).nonEmpty)) dataSchema
    else StructType(dataSchema.fields.flatMap { f =>
      f +: aliasesOf(f).map(a => StructField(a, f.dataType, nullable = true))
    })

  private[v2] def coalesceAliases(df: org.apache.spark.sql.DataFrame,
                                  dataSchema: StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col}
    dataSchema.fields.filter(f => aliasesOf(f).nonEmpty).foldLeft(df) {
      (d2, f) =>
        val als = aliasesOf(f)
        d2.withColumn(f.name, coalesce((f.name +: als).map(col): _*))
          .drop(als: _*)
    }
  }

  /** Partition-spec evolution — layout generations. See
    * [[evolvePartitioning]]: old generations live under
    * `_layouts/g-<n>/` (each with its own `_partition.json`), the CURRENT
    * spec's data at the table root.
    */
  val LayoutsDir = "_layouts"

  /** Idempotently register the catalog on the session. Setting the same
    * values again is a no-op; the confs only matter before the catalog's
    * first instantiation.
    */
  def ensureCatalog(s: SparkSession,
                    root: String = "/tmp/graft_stage/v2"): Unit = {
    s.conf.set(s"spark.sql.catalog.$CatalogName",
      "graft.sources.v2.StagedCatalog")
    s.conf.set(s"spark.sql.catalog.$CatalogName.root", root)
    // storage-partitioned joins over the catalog's key-grouped scans
    // (SPARK-37375): co-partitioned tables join without either side
    // shuffling — default-on for this catalog's sessions
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // when the two sides' partition VALUE sets differ (a day present on
    // one side only), push the union of values instead of falling back to
    // a shuffle — required for day-partitioned SPJ over unaligned ranges
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    // Spark's parquet writer defaults to INT96 timestamps (Impala-era
    // compat); the staged sink writes INT64 micros, and the V2 reader's
    // converters expect them — every Spark-writer rewrite in this
    // catalog's orbit (COW, compaction) must match the sink's encoding
    s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
  }

  /** Run `body` with the Spark parquet writer emitting INT64-micros
    * timestamps (the staged sink's own encoding), restoring the session
    * conf after. COW/compaction rewrites go through Spark's writer, whose
    * INT96 default the V2 reader deliberately does not decode on the hot
    * path — without this a rewritten table's timestamp columns would
    * throw on the next V2 read ([[FlatRowReadSupport]] keeps an INT96
    * fallback for externally-written files, but the engine's own
    * rewrites must produce canonical files, not rely on it).
    */
  private[v2] def withMicrosTimestamps[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = try Some(s.conf.get(key)) catch { case _: Throwable => None }
    s.conf.set(key, "TIMESTAMP_MICROS")
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** Prod directory of a `graft_staged.<ns...>.<name>` table, resolved from
    * the catalog's root conf.
    */
  def tableDir(s: SparkSession, table: String): String = {
    val parts = table.split('.')
    require(parts.head == CatalogName, s"not a $CatalogName table: $table")
    val root = try s.conf.get(s"spark.sql.catalog.$CatalogName.root")
               catch { case _: Throwable => "/tmp/graft_stage/v2" }
    (root +: parts.tail.toSeq).mkString("/")
  }

  /** VACUUM — the table-maintenance rung: removes the debris only CRASHED
    * writes leave behind, without touching a single committed byte.
    * Three debris classes, all structurally identifiable:
    *   - `_tmp-<token>-*` task files inside the table (a write whose driver
    *     never ran commit/abort — commit/abort sweep only their OWN token,
    *     by design, so a dead job's temp files persist until vacuumed);
    *   - `<table>__staging.*` sibling dirs (a staged replace that died
    *     between write and swap);
    *   - `<table>__old` (the pre-swap prod a promote failed to delete).
    * `minAgeMs` is the concurrency guard: a LIVE write's temp files are
    * younger than it, so the DEFAULT is a conservative one-hour retention
    * window (comfortably above the longest write — the same contract as
    * any object-store lifecycle sweep); pass 0 explicitly to sweep
    * everything regardless of age (tests, known-quiet tables). Pure
    * metadata work — one recursive listing, deletes proportional to
    * debris, never to table size.
    * Returns (relative path, kind) per deleted entry, sorted.
    */
  def vacuum(s: SparkSession, table: String,
             minAgeMs: Long = 3600000L,
             versionRetainMs: Long = 7L * 24 * 3600 * 1000): Seq[(String, String)] = {
    val d = tableDir(s, table)
    val p = new Path(d)
    val f = fs(p)
    val cutoff = System.currentTimeMillis() - minAgeMs
    // EXPIRED VERSION retention trees: time travel reaches back only to
    // the retention window; pruning is oldest-first by age, the delta log
    // (tiny s-<v> files) stays, and a reconstruction that needs a pruned
    // tree fails loudly. Live data is never touched — retained trees hold
    // only swapped-OUT states.
    val vcutoff = System.currentTimeMillis() - versionRetainMs
    val versionDebris = mutable.Buffer[(String, String)]()
    val md = metaDir(d)
    // tags PIN retention: reconstructing tagged version t undoes deltas
    // t+1..cur, whose swaps read retained trees v<t>..v<cur-1> — nothing
    // at or above the LOWEST tag may prune, whatever its age
    val minTagged = listTags(d).map(_._2).minOption
    if (f.exists(md)) f.listStatus(md).foreach { st =>
      val pinned = minTagged.exists(t =>
        st.getPath.getName.stripPrefix("v").toLongOption.exists(_ >= t))
      if (st.isDirectory && st.getPath.getName.startsWith("v") &&
          !pinned && st.getModificationTime <= vcutoff) {
        f.delete(st.getPath, true): Unit
        versionDebris += ((s"__meta/${st.getPath.getName}", "expired_version"))
      }
    }
    val deleted = mutable.Buffer[(String, String)]()
    if (f.exists(p)) {
      val it = f.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (name.startsWith("_tmp-") && st.getModificationTime <= cutoff) {
          f.delete(st.getPath, false): Unit
          val rel = st.getPath.toUri.getPath.stripPrefix(
            new Path(d).toUri.getPath).stripPrefix("/")
          deleted += ((rel, "orphan_tmp"))
        }
      }
    }
    // partition-level `<dir>__old` leftovers INSIDE the table (a dynamic
    // overwrite or compaction swap whose best-effort old-delete failed):
    // without this sweep the scan must — and does — skip them by name,
    // but the bytes stay forever
    def innerOld(dir: Path): Unit = if (f.exists(dir))
      f.listStatus(dir).foreach { st =>
        if (st.isDirectory) {
          if (st.getPath.getName.endsWith("__old") &&
              st.getModificationTime <= cutoff) {
            f.delete(st.getPath, true): Unit
            val rel = st.getPath.toUri.getPath.stripPrefix(
              new Path(d).toUri.getPath).stripPrefix("/")
            deleted += ((rel, "stale_old"))
          } else innerOld(st.getPath)
        }
      }
    innerOld(p)
    val parent = p.getParent
    val base = p.getName
    if (f.exists(parent)) f.listStatus(parent).foreach { st =>
      val n = st.getPath.getName
      val stale = n == base + "__old"
      val dead = n.startsWith(base + "__staging.")
      if ((stale || dead) && st.getModificationTime <= cutoff) {
        f.delete(st.getPath, true): Unit
        deleted += ((n, if (stale) "stale_old" else "dead_staging"))
      }
    }
    (versionDebris ++ deleted).sortBy(_._1).toSeq
  }

  /** COMPACT — the small-file maintenance rung (the lakehouse OPTIMIZE):
    * per partition directory, folds the committed data files into
    * `ceil(bytes / targetBytes)` files and swaps the directory atomically
    * (same checked-rename dance as the dynamic overwrite, so a crash at
    * any point leaves either the old file set or the new one, never a
    * mix; an abandoned staging sibling is vacuum's dead_staging class).
    * Directories already at or under the target file count are never
    * read, rewritten, or touched — compaction cost scales with the
    * SMALL-FILE DEBT, not the table. The rewrite goes through
    * `coalesce` (no shuffle) with the DECLARED data schema, so
    * pre-evolution files come out null-filled at the evolved width —
    * compaction is also schema-evolution settlement. At 100 TB this is
    * the operation that keeps a streaming-ingested day from fragmenting
    * into thousands of per-trigger files (the layout etl_compact_bins
    * PLANS; this executes it on the real table). Concurrent appends to a
    * directory being swapped can be lost — run per-table in the
    * maintenance window, like any dir-swap OPTIMIZE.
    * Returns (partition dir or "." for the root, files before, files
    * after, bytes) per compacted directory, sorted.
    */
  def compact(s: SparkSession, table: String,
              targetBytes: Long = 128L * 1024 * 1024,
              minFiles: Int = 2): Seq[(String, Long, Long, Long)] = {
    val d = tableDir(s, table)
    val root = new Path(d)
    val f = fs(root)
    // compaction doubles as the EQUALITY-delete settling pass, exactly as
    // it does for deletion vectors below — and it must run first: the
    // rewrite resets file add versions, which parameterize eq
    // applicability
    materializeEqDeletes(s, d)
    val sj = readString(new Path(root, SchemaFile)).getOrElse(
      throw new IllegalArgumentException(s"no committed table at $d"))
    val schema = DataType.fromJson(sj).asInstanceOf[StructType]
    val partSpec: Seq[PartField] = readString(new Path(root, PartitionFile))
      .map(PartSpec.deserialize).getOrElse(Seq.empty)
    // every layout generation folds its own small-file debt IN PLACE
    // (compaction is layout-preserving; migrateLayouts is the
    // cross-layout rewrite)
    val layouts = layoutRoots(d)
    // same root-swap hazard as DELETE/UPDATE: an unpartitioned current
    // layout compacts by root swap, which would strand live generations
    // in the retained tree — settle first
    require(partSpec.nonEmpty || layouts.length == 1 || !oldLayoutsHoldData(d),
      s"compact on $d: the current layout is unpartitioned and " +
        "pre-evolution generations still hold data — a root swap would " +
        "strand them; run StagedParquet.migrateLayouts first")
    def walk(dir: Path, depth: Int, rel: String): Seq[(String, Path)] =
      if (depth == 0) Seq((rel, dir))
      else f.listStatus(dir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("=") &&
          !st.getPath.getName.endsWith("__old"))
        .flatMap(st => walk(st.getPath, depth - 1,
          if (rel.isEmpty) st.getPath.getName else rel + "/" + st.getPath.getName))
    val staging = d + "__staging.compact-" +
      java.util.UUID.randomUUID().toString.take(8)
    val report = mutable.Buffer[(String, Long, Long, Long)]()
    val v = currentVersion(d) + 1
    val versionSwaps = mutable.Buffer[String]()
    // PASS 1 (driver metadata only): which dirs carry small-file debt, and
    // each file's output BIN (first-fit-decreasing into ceil(bytes/target)
    // bins per dir). Dirs at target are never read, listed into the job,
    // or touched.
    case class DirWork(rel: String, dir: Path, bins: Seq[(String, String, Int)],
                       nFiles: Long, nOut: Long, bytes: Long,
                       spec: Seq[PartField])
    val work = mutable.Buffer[DirWork]()
    // compaction MATERIALIZES deletion vectors: a dir carrying any DV is
    // rewritten even at target size (its files shed the deleted rows and
    // the vector), so OPTIMIZE doubles as the delete-settling pass
    val tableHasDvs = hasDvFlag(root)
    val dvByDir = mutable.Map.empty[String, Map[String, Seq[(Long, Long)]]]
    def dirDvs(p: Path): Map[String, Seq[(Long, Long)]] =
      if (!tableHasDvs) Map.empty
      else dvByDir.getOrElseUpdate(p.toString, readDvs(p))
    for ((lroot, lprefix, lspec) <- layouts;
         (rel0, dir) <- walk(lroot, lspec.length, "")) {
      val rel = Seq(lprefix, rel0).filter(_.nonEmpty).mkString("/")
      val files = f.listStatus(dir).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.getName.startsWith("_"))
      val bytes = files.map(_.getLen).sum
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
      val hasDv = files.exists(st => dirDvs(dir).contains(st.getPath.getName))
      if ((files.length >= minFiles && nOut < files.length) ||
          (hasDv && files.nonEmpty)) {
        val fill = Array.fill(nOut.toInt)(0L)
        val bins = files.sortBy(-_.getLen).map { st =>
          val b = fill.indices.minBy(fill)
          fill(b) += st.getLen
          (st.getPath.toUri.getRawPath, st.getPath.toString, b)
        }
        work += DirWork(if (rel.isEmpty) "." else rel, dir, bins,
          files.length.toLong, nOut, bytes, spec = lspec)
      }
    }
    // PASS 2: ONE Spark job folds every debt-carrying directory — each
    // scanned row joins (broadcast) its file's (dir, bin), rows
    // repartition by (dir, bin) so each bin becomes (at most) one output
    // file, and `partitionBy` routes them back to their directory in the
    // staging tree. Compacting 3,000 fragmented day dirs schedules ONE
    // job, not 3,000 (wall-clock ∝ debt bytes, not dir count).
    if (work.nonEmpty) {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.functions.{broadcast, col, input_file_name, regexp_replace}
      // one fold job PER LAYOUT GENERATION with debt (stored column
      // subsets differ per generation) — bounded by the evolution
      // history, never the directory count
      for (((gspec, gwork), gi) <- work.toSeq.groupBy(_.spec).toSeq.zipWithIndex) {
      val gIdentity = gspec.filter(_.kind == "identity").map(_.name).toSet
      val gDataSchema =
        StructType(schema.fields.filterNot(fd => gIdentity(fd.name)))
      val gStaging = s"$staging/w$gi"
      val infoSchema = StructType(Seq(
        StructField("__src", StringType, nullable = false),
        StructField("__dir", StringType, nullable = false),
        StructField("__bin", IntegerType, nullable = false)))
      val info = s.createDataFrame(
        gwork.flatMap(w => w.bins.map { case (raw, _, b) =>
          Row(raw, w.rel, b) }).asJava, infoSchema)
      val allFiles = gwork.flatMap(_.bins.map(_._2))
      val totalBins = math.max(1, gwork.map(_.nOut).sum.toInt)
      var scan = s.read.schema(widenForAliases(gDataSchema))
        .parquet(allFiles: _*)
        .withColumn("__src",
          regexp_replace(input_file_name(), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))
      // deletion vectors materialize here: DV'd positions are dropped and
      // the compacted files carry no vectors
      val priorDv = gwork.flatMap { w =>
        val dvs = dirDvs(w.dir)
        w.bins.flatMap { case (raw, full, _) =>
          dvs.getOrElse(new Path(full).getName, Nil).map { case (s0, e0) =>
            Row(raw, Long.box(s0), Long.box(e0)) } }
      }
      if (priorDv.nonEmpty) {
        val dvDf = s.createDataFrame(priorDv.asJava, StructType(Seq(
          StructField("__dvsrc", StringType, nullable = false),
          StructField("__dvs", LongType, nullable = false),
          StructField("__dve", LongType, nullable = false))))
        val withPos = scan.withColumn("__pos",
          col("_metadata.row_index"))
        scan = withPos.join(broadcast(dvDf),
          withPos("__src") === dvDf("__dvsrc") &&
            col("__pos") >= col("__dvs") && col("__pos") < col("__dve"),
          "left_anti").drop("__pos")
      }
      // RENAMED columns reconstitute here (compaction settles the bytes
      // to the current name — post-compaction files need no aliases)
      scan = coalesceAliases(scan, gDataSchema)
      // OPTIMIZE re-sorts a sorted table's bins (merging two sorted files
      // would otherwise break the declared order and silently withdraw
      // the scan's sort-free plans)
      val binSort = sortColsOf(tableProperties(root))
        .filter(gDataSchema.fieldNames.contains)
      withMicrosTimestamps(s) {
        val binned = scan.join(broadcast(info), Seq("__src"))
          .repartition(totalBins, col("__dir"), col("__bin"))
        val sorted =
          if (binSort.isEmpty) binned
          else binned.sortWithinPartitions(
            (col("__dir") +: col("__bin") +: binSort.map(col)): _*)
        sorted.select((gDataSchema.fieldNames.map(col) :+ col("__dir")).toSeq: _*)
          .write.partitionBy("__dir").mode("overwrite").parquet(gStaging)
      }
      for (w <- gwork) {
        val escaped = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.escapePathName(w.rel)
        val stagePart = new Path(s"$gStaging/__dir=$escaped")
        // the swap replaces the whole directory — for an unpartitioned
        // table's ROOT the catalog metadata (manifest log included: a
        // caught-up tail survives a compaction; a behind one fails loudly
        // on the renamed files) must ride along
        if (w.rel == ".") {
          writeString(stagePart, SchemaFile, schema.json)
          writeString(stagePart, SuccessFile, "")
          readString(new Path(root, DroppedFile)).foreach(
            writeString(stagePart, DroppedFile, _))
          readString(new Path(root, PropertiesFile)).foreach(
            writeString(stagePart, PropertiesFile, _))
          copyManifests(root, stagePart)
        } else if (!w.rel.contains("="))
          // an unpartitioned GENERATION root: its pinned spec rides the swap
          writeString(stagePart, PartitionFile, PartSpec.serialize(w.spec))
        swapDirs(stagePart.toString, w.dir.toString,
          Some(retainedPath(d, v, w.rel))): Unit
        versionSwaps += w.rel
        report += ((w.rel, w.nFiles, w.nOut, w.bytes))
      }
      }
    }
    if (versionSwaps.nonEmpty) recordVersion(d, v, Nil, versionSwaps.toSeq): Unit
    f.delete(new Path(staging), true): Unit
    // every DV'd dir was force-included above, so post-compaction the LIVE
    // table holds no vectors — drop the flag and the agg pushdown returns
    // (retained version trees keep theirs for time travel)
    if (tableHasDvs) f.delete(new Path(root, DvFlagFile), false): Unit
    report.sortBy(_._1).toSeq
  }

  // ---- partition-spec evolution (layout generations) ----------------------
  // Iceberg's flagship metadata operation, re-expressed on the staged
  // format: `evolvePartitioning` changes a table's partition spec WITHOUT
  // rewriting a byte — the current layout's partition directories are
  // RENAMED under `_layouts/g-<n>/` (which keeps the old spec in its own
  // `_partition.json`), the root `_partition.json` becomes the new spec,
  // and new writes land at the root in the new layout. Reads plan every
  // generation with its own spec ([[StagedScan.planLayoutDirs]]); pruning
  // is per-generation and conservative; SPJ / footer-agg / sort-order
  // claims withdraw while old generations hold data (honesty gates) and
  // return after [[migrateLayouts]] rewrites the stragglers into the
  // current layout. At 100 TB this is the operation that turns
  // "we should have bucketed by customer" from a month-long table rewrite
  // into one metadata commit.

  /** Every layout generation holding this table's data: old generations
    * under `_layouts/g-<n>/` (oldest first, each with its own spec), the
    * CURRENT layout at the table root LAST. One `exists` probe on tables
    * that never evolved.
    */
  private[graft] def layoutRoots(d: String): Seq[(Path, String, Seq[PartField])] = {
    val root = new Path(d)
    val f = fs(root)
    val ld = new Path(root, LayoutsDir)
    val gens: Seq[(Path, String, Seq[PartField])] =
      if (!f.exists(ld)) Seq.empty
      else f.listStatus(ld).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("g-"))
        .sortBy(_.getPath.getName.stripPrefix("g-").toLong)
        .map { st =>
          val spec = readString(new Path(st.getPath, PartitionFile))
            .map(PartSpec.deserialize).getOrElse(Seq.empty)
          (st.getPath, s"$LayoutsDir/${st.getPath.getName}", spec)
        }
    val cur = readString(new Path(root, PartitionFile))
      .map(PartSpec.deserialize).getOrElse(Seq.empty)
    gens :+ ((root, "", cur))
  }

  /** Does the table carry pre-evolution layout generations? (One probe —
    * the gate every layout-sensitive claim checks first.)
    */
  private[graft] def hasOldLayouts(d: String): Boolean =
    fs(new Path(d)).exists(new Path(new Path(d), LayoutsDir))

  /** Do any old generations still hold DATA? One shallow listing per
    * generation (no recursion): migrated-empty generations keep their
    * `_partition.json` for time travel, and this probe is what lets the
    * footer-agg pushdown return after [[migrateLayouts]] settles them.
    * Conservative: an empty `k=v` shell counts as data.
    */
  private[graft] def oldLayoutsHoldData(d: String): Boolean = {
    val f = fs(new Path(d))
    layoutRoots(d).dropRight(1).exists { case (lroot, _, _) =>
      f.listStatus(lroot).exists { st =>
        (st.isDirectory && st.getPath.getName.contains("=") &&
          !st.getPath.getName.endsWith("__old")) ||
        (st.isFile && st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.getName.startsWith("_"))
      }
    }
  }

  /** MIGRATE every old layout generation's rows into the CURRENT layout —
    * the settle pass that follows [[evolvePartitioning]] (Iceberg's
    * rewrite-data-files-to-current-spec): each generation's rows are read
    * with ITS spec (identity columns reconstituted from dir names),
    * appended through the table's own engine write (current-layout
    * routing, distribution, declared sort, manifest, version delta), and
    * the generation's data directories then swap to retained trees in one
    * version. Cost ∝ old-generation bytes, never the table. After it the
    * generations are empty shells (their `_partition.json` stays for time
    * travel) and every withdrawn claim — SPJ, footer aggregation, sort
    * order — returns.
    *
    * Crash-idempotent under the single-writer maintenance contract, via a
    * TABLE-ROOT phase marker per generation (`_migrate-g-<n>` — at the
    * root, not inside the generation, so the unpartitioned branch's
    * whole-root retention rename can never carry it away; ADVICE r11):
    *   - `pending:<v0>` pins the pre-append version BEFORE the append, so
    *     a rerun after any crash knows whether the append committed
    *     (version advanced ⇒ skip it; unchanged ⇒ redo it, the crashed
    *     attempt's two-phase commit left only vacuumable `_tmp-` debris);
    *   - `swapping:<v>:<rels>` pins the planned retention swaps BEFORE
    *     any rename, so a crash mid-swap resumes exactly: unfinished
    *     renames complete, the version delta records (if the crash beat
    *     recordVersion — time travel never silently misses the
    *     generation), and only then does the marker drop.
    * Like all multi-directory maintenance, readers BETWEEN the append
    * commit and the drops can observe a migrated row twice — run it in
    * the maintenance window. Returns (generation rel, rows migrated) per
    * settled generation; a crash-RESUMED generation reports -1 rows (its
    * files moved before they could be counted).
    */
  def migrateLayouts(s: SparkSession, table: String): Seq[(String, Long)] = {
    val d = tableDir(s, table)
    val root = new Path(d)
    val f = fs(root)
    val sj = readString(new Path(root, SchemaFile)).getOrElse(
      throw new IllegalArgumentException(s"no committed table at $d"))
    val schema = DataType.fromJson(sj).asInstanceOf[StructType]
    val out = mutable.Buffer[(String, Long)]()
    // RESUME pass: any generation a prior run left mid-swap finishes first
    // — even one whose directory vanished between the whole-root rename
    // and its shell recreation (layoutRoots would not list it below).
    // Marker bodies are parsed TOLERANTLY (r12 ADVICE): both formats end
    // in a `:#` terminator and the swapping flip goes through tmp+rename,
    // so this pass can always tell a complete plan from a torn one — a
    // torn body falls back to the correct phase (see below) instead of
    // wedging every later migrate behind a MatchError.
    val allMarkers = f.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(MigrateMarkerPrefix))
    // adopt a completed flip whose rename never ran: the tmp body is fully
    // written and closed BEFORE the live marker is deleted, so a parseable
    // tmp alongside a missing/torn live marker IS the pinned plan; next to
    // an intact pending marker it is redundant (the redo path recomputes
    // the same plan) and is dropped
    allMarkers.filter(_.getPath.getName.endsWith(".tmp")).foreach { st =>
      val live = new Path(root, st.getPath.getName.stripSuffix(".tmp"))
      val liveBody = readString(live)
      val adopt = readString(st.getPath).flatMap(parseSwapping).nonEmpty &&
        liveBody.flatMap(parseSwapping).isEmpty &&
        liveBody.flatMap(parsePending).isEmpty
      if (adopt) {
        f.delete(live, false): Unit
        if (!f.rename(st.getPath, live))
          throw new java.io.IOException(
            s"migrateLayouts: cannot adopt pinned plan ${st.getPath}")
      } else f.delete(st.getPath, false): Unit
    }
    f.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(MigrateMarkerPrefix) &&
        !st.getPath.getName.endsWith(".tmp"))
      .foreach { st =>
        val body = readString(st.getPath)
        parseSwapping(body.getOrElse("")) match {
          case Some((v, swaps)) =>
            val prefix = s"$LayoutsDir/${st.getPath.getName.stripPrefix(MigrateMarkerPrefix)}"
            finishMigrateSwaps(d, root, prefix, v, swaps)
            recordMigrateSwaps(d, v, swaps): Unit
            f.delete(st.getPath, false): Unit
            out += ((prefix, -1L))
          case None if body.exists(b => parsePending(b).isEmpty) =>
            // torn/unparsable body that is not an intact pending pin. A
            // flip is only attempted after the append decision completed,
            // so the generation is in its swap phase: re-pin a version no
            // live table ever holds (-1) — the settle loop below then
            // skips the append and recomputes the swap plan from the
            // current listing. (A torn PENDING body can only mean a crash
            // during the initial pin, i.e. before any append — parsePending
            // fails, the loop below re-pins fresh, and redoing the append
            // is exactly right.)
            if (body.exists(b => b.startsWith("swapping:")))
              writeString(root, st.getPath.getName, "pending:-1:#")
          case None => () // intact pending pin: the settle loop handles it
        }
      }
    val gens = layoutRoots(d).dropRight(1)
    for ((lroot, prefix, lspec) <- gens) {
      val dvFlagged = hasDvFlag(root)
      val dirs = StagedScan.planPartitions(lroot.toString, schema, lspec, Nil)
        .map { case (vals, files) =>
          val dirPath = new Path(files.head._1).getParent
          val dvs = if (dvFlagged) readDvs(dirPath) else Map.empty[String, Seq[(Long, Long)]]
          val dirRel = lspec.map(_.dirName).zip(vals)
            .map { case (n, v0) => s"$n=$v0" }.mkString("/")
          SnapDir(Seq(prefix, dirRel).filter(_.nonEmpty).mkString("/"), vals,
            files.map(_._1), dvs.filter { case (n, _) =>
              files.exists(fp => new Path(fp._1).getName == n) }, lspec)
        }
      if (dirs.nonEmpty) {
        val marker = new Path(root, MigrateMarkerPrefix + lroot.getName)
        val pinned = readString(marker).flatMap(parsePending)
        val v0 = pinned.getOrElse(currentVersion(d))
        if (pinned.isEmpty) writeString(root, marker.getName, s"pending:$v0:#")
        // rows migrated, from footer counts minus live DV positions —
        // metadata only, no second data pass
        val migrated = dirs.map { sd =>
          sd.files.map(fp => StagedScan
            .blockRanges(fp, f.getFileStatus(new Path(fp)).getLen)
            .map(_._3.getRowCount).sum).sum -
            sd.deleted.values.flatten.map(r => r._2 - r._1).sum
        }.sum
        if (currentVersion(d) == v0) {
          // the append: one job, rows re-routed through the current layout
          val k = registerSnapshot(Snapshot(schema, lspec, dirs))
          val df = s.sql(s"SELECT * FROM $table VERSION AS OF 'snap:$k'")
          df.writeTo(table).append()
          snapshotRegistry.remove(k): Unit
        }
        // the drop: every generation data dir swaps to retained, ONE
        // version — the swap plan is PINNED in the marker before any
        // rename so a crash at any point resumes instead of re-appending
        val v = currentVersion(d) + 1
        val swaps: Seq[String] =
          if (lspec.isEmpty) Seq(prefix)
          else f.listStatus(lroot).toSeq
            .filter(st => st.isDirectory && st.getPath.getName.contains("=") &&
              !st.getPath.getName.endsWith("__old"))
            .map(st => s"$prefix/${st.getPath.getName}")
        flipMigrateMarker(root, marker, s"swapping:$v:${swaps.mkString(",")}:#")
        finishMigrateSwaps(d, root, prefix, v, swaps)
        recordVersion(d, v, Nil, swaps): Unit
        f.delete(marker, false): Unit
        out += ((prefix, migrated))
      }
    }
    out.toSeq
  }

  private[v2] val MigrateMarkerPrefix = "_migrate-"

  /** Parse an intact pending pin `pending:<v0>:#`. The trailing terminator
    * proves the body is complete: a torn create can truncate anywhere, and
    * a truncated v0 ("pending:1" torn from "pending:12:#") would make the
    * resume skip an append that never ran — silently stranding the
    * generation's rows in the retained tree. A torn pending can only mean
    * a crash during the initial pin (before any append), so rejecting it
    * and re-pinning fresh is exactly right.
    */
  private def parsePending(m: String): Option[Long] =
    if (m.startsWith("pending:") && m.endsWith(":#"))
      m.stripPrefix("pending:").stripSuffix(":#").toLongOption
    else None

  /** Parse an intact swap plan `swapping:<v>:<rels>:#` → (v, rels). Torn
    * bodies (missing terminator, truncated rels) return None and the
    * resume pass falls back to recomputing the plan (r12 ADVICE — the old
    * `split(":", 3)` MatchError'd on "swapping:5" and IOException'd on a
    * truncated rel, wedging every later migrate).
    */
  private def parseSwapping(m: String): Option[(Long, Seq[String])] =
    if (m.startsWith("swapping:") && m.endsWith(":#"))
      m.stripPrefix("swapping:").stripSuffix(":#").split(":", 2) match {
        case Array(vs, rels) if vs.nonEmpty && vs.forall(_.isDigit) =>
          Some((vs.toLong, rels.split(",").filter(_.nonEmpty).toSeq))
        case _ => None
      }
    else None

  /** Flip a migrate marker pending→swapping via tmp-file + rename (r12
    * ADVICE): a create-overwrite can tear mid-write and leave a body that
    * parses as neither phase. The tmp is fully written and closed BEFORE
    * the live marker is touched, so every crash window leaves one of: the
    * intact pending body (redo recomputes the plan), the complete tmp next
    * to no live marker (the resume pass adopts it), or the complete new
    * body.
    */
  private def flipMigrateMarker(root: Path, marker: Path, body: String): Unit = {
    val f = fs(root)
    val tmp = new Path(root, marker.getName + ".tmp")
    val o = f.create(tmp, true)
    try o.write(body.getBytes("UTF-8")) finally o.close()
    f.delete(marker, false): Unit
    if (!f.rename(tmp, marker))
      throw new java.io.IOException(s"migrateLayouts: cannot publish $marker")
  }

  /** Newest retained tree for swap `rel` keyed at or above `minKey`.
    * Retained trees are keyed by the version BEFORE the recording swap
    * (retainedPath v-1), so a swap pinned at v searches from key v-1
    * upward: re-keyed trees from crashed resumes land higher, while lower
    * keys belong to earlier, already-recorded swaps of the same rel.
    */
  private def newestRetained(d: String, minKey: Long, rel: String): Option[Path] = {
    val md = metaDir(d)
    val f = fs(md)
    if (!f.exists(md)) return None
    val relPath = if (rel == ".") "__root" else rel
    f.listStatus(md).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+") &&
        st.getPath.getName.stripPrefix("v").toLong >= minKey)
      .sortBy(-_.getPath.getName.stripPrefix("v").toLong)
      .map(st => new Path(st.getPath, relPath))
      .find(f.exists)
  }

  /** Record a RESUMED migrate's swap delta. The happy path claims the
    * pinned version `v`; the guarded path (r12 ADVICE, medium) covers the
    * crash-to-rerun gap: if a normal append claimed `v` in between, `s-v`
    * holds an unrelated delta — the previous `currentVersion < v` guard
    * silently skipped the record, so VERSION AS OF below the settle missed
    * the migrated generation, the exact silent-miss the contract forbids.
    * Now the delta is re-recorded at a fresh version and the retained
    * trees are RE-KEYED to match (retainedPath keys on version-1), so time
    * travel stays complete. Idempotent across repeated crashes: any
    * `s-*` at or above v holding exactly this swap body is ours.
    */
  private def recordMigrateSwaps(d: String, v: Long, swaps: Seq[String]): Long = {
    if (currentVersion(d) < v) return recordVersion(d, v, Nil, swaps)
    val expected = swaps.sorted.map("~" + _).mkString("\n")
    val md = metaDir(d)
    val f = fs(md)
    val mine = f.listStatus(md).toSeq.filter(_.isFile)
      .map(_.getPath).filter(_.getName.startsWith("s-"))
      .filter(_.getName.stripPrefix("s-").toLong >= v)
      .filter(p => readString(p).contains(expected))
      .map(_.getName.stripPrefix("s-").toLong).maxOption
    mine.getOrElse {
      val v2 = currentVersion(d) + 1
      for (rel <- swaps) {
        val to = retainedPath(d, v2, rel)
        if (!f.exists(to)) {
          // the tree sits wherever the last attempt left it: the original
          // v-1 key or a prior crashed resume's re-key
          val from = newestRetained(d, v - 1, rel).getOrElse(
            throw new java.io.IOException(
              s"migrateLayouts: resumed swap $rel has no retained tree at or above v${v - 1} under $md"))
          f.mkdirs(to.getParent): Unit
          if (!f.rename(from, to))
            throw new java.io.IOException(
              s"migrateLayouts: cannot re-key $from to $to")
        }
      }
      recordVersion(d, v2, Nil, swaps)
    }
  }

  /** Execute (or RESUME) a migrate's pinned retention swaps: each rel not
    * yet retained renames to its version-`v` retained path; a whole-root
    * rel (the unpartitioned-generation case — no `k=v` segment) then gets
    * its empty shell recreated with the generation's spec re-pinned (read
    * back from the retained tree, where the original `_partition.json`
    * rode the rename). Every step is individually idempotent, so a crash
    * anywhere re-runs to the same final state.
    */
  private def finishMigrateSwaps(d: String, root: Path, prefix: String,
                                 v: Long, swaps: Seq[String]): Unit = {
    val f = fs(root)
    for (rel <- swaps) {
      val src = new Path(root, rel)
      val keep = retainedPath(d, v, rel)
      if (!f.exists(keep)) {
        if (f.exists(src)) {
          f.mkdirs(keep.getParent): Unit
          if (!f.rename(src, keep))
            throw new java.io.IOException(
              s"migrateLayouts: cannot retain $src at $keep")
        } else if (newestRetained(d, v - 1, rel).isEmpty)
          // a crashed resume may have RE-KEYED the tree to a fresher
          // version (recordMigrateSwaps) — only neither-source-nor-any-
          // retained-key is a genuine loss
          throw new java.io.IOException(
            s"migrateLayouts: planned swap $rel exists at neither $src nor $keep")
      }
      if (!rel.split('/').last.contains("=")) {
        // whole-generation swap: recreate the empty shell (snapshot
        // lookups need its spec) unless a prior attempt already did; the
        // spec rides the retained tree, wherever re-keying left it
        val shellSpec = new Path(src, PartitionFile)
        if (!f.exists(shellSpec)) {
          f.mkdirs(src): Unit
          writeString(src, PartitionFile,
            newestRetained(d, v - 1, rel)
              .flatMap(k => readString(new Path(k, PartitionFile)))
              .getOrElse(PartSpec.serialize(Seq.empty)))
        }
      }
    }
  }

  /** EVOLVE the table's partition spec — metadata-only (O(directories)
    * renames, zero data bytes): the current layout moves whole under
    * `_layouts/g-<n>/` with its spec pinned beside it, the root takes the
    * new spec, the commit-manifest log is TRANSLATED 1:1 to the moved
    * paths (a lagging or fresh stream tail keeps reading — every consumed
    * offset stays consumed, every unconsumed entry resolves at its new
    * path), and the version delta records one `!evolve=g-<n>` line so
    * time travel reconstructs pre-evolution versions at the old layout.
    * Returns the new generation's id.
    */
  def evolvePartitioning(s: SparkSession, table: String,
                         newSpec: Seq[PartField]): Long = {
    val d = tableDir(s, table)
    val root = new Path(d)
    val f = fs(root)
    // the layout move renames every data file under the generation —
    // add-version bookkeeping (what parameterizes equality-delete
    // applicability) doesn't survive the move, so settle eq files first
    materializeEqDeletes(s, d)
    val sj = readString(new Path(root, SchemaFile)).getOrElse(
      throw new IllegalArgumentException(s"no committed table at $d"))
    val schema = DataType.fromJson(sj).asInstanceOf[StructType]
    val curSpec: Seq[PartField] = readString(new Path(root, PartitionFile))
      .map(PartSpec.deserialize).getOrElse(Seq.empty)
    require(newSpec != curSpec,
      s"evolvePartitioning: the new spec equals the current one ($curSpec)")
    newSpec.foreach { pf =>
      require(schema.fieldNames.contains(pf.name),
        s"evolvePartitioning: unknown column ${pf.name}")
      require(pf.kind == "identity" || pf.kind == "days" || pf.kind == "bucket",
        s"evolvePartitioning: unsupported transform ${pf.kind}")
      if (pf.kind == "bucket") require(pf.buckets > 0,
        s"evolvePartitioning: bucket(${pf.buckets}) on ${pf.name}")
    }
    val ld = new Path(root, LayoutsDir)
    f.mkdirs(ld): Unit
    val gid = f.listStatus(ld).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("g-"))
      .map(_.getPath.getName.stripPrefix("g-").toLong)
      .maxOption.map(_ + 1).getOrElse(0L)
    val gen = new Path(ld, s"g-$gid")
    f.mkdirs(gen): Unit
    // Pin the generation's spec BEFORE any data moves (r11 VERDICT #2): a
    // missing `_partition.json` deserializes as "unpartitioned", so a
    // crash — or a concurrent reader — between the renames and a
    // spec-written-last ordering would see the moved `k=v` dirs under an
    // unpartitioned generation and silently lose every moved row. With
    // the spec written first, BOTH roots carry the same spec at every
    // intermediate state: a mid-move reader plans each dir wherever it
    // currently lives, and a crash leaves a fully readable table (rerun
    // converges — the next evolve call moves the stragglers into a fresh
    // generation; StagedEvolveSpec pins the mid-move read).
    writeString(gen, PartitionFile, PartSpec.serialize(curSpec))
    // move the current layout's data into the generation — renames only
    if (curSpec.isEmpty) {
      // unpartitioned: loose root data files (and their deletion vectors)
      f.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && ((n.endsWith(".parquet") && !n.startsWith("_")) ||
            n.startsWith(DvPrefix))) {
          if (!f.rename(st.getPath, new Path(gen, n)))
            throw new java.io.IOException(
              s"evolvePartitioning: cannot move $n under $gen")
        }
      }
    } else {
      f.listStatus(root).foreach { st =>
        if (st.isDirectory && st.getPath.getName.contains("=") &&
            !st.getPath.getName.endsWith("__old")) {
          if (!f.rename(st.getPath, new Path(gen, st.getPath.getName)))
            throw new java.io.IOException(
              s"evolvePartitioning: cannot move ${st.getPath.getName} under $gen")
        }
      }
    }
    if (newSpec.nonEmpty)
      writeString(root, PartitionFile, PartSpec.serialize(newSpec))
    else f.delete(new Path(root, PartitionFile), false): Unit
    translateManifests(root, gid)
    recordVersion(d, currentVersion(d) + 1, Nil, Nil,
      marks = Seq(s"!evolve=g-$gid")): Unit
    gid
  }

  /** Rewrite every manifest's entries to their post-evolution paths.
    * Per-manifest atomic: write the translated body to a `_tmp-` sibling,
    * then rename over — a crash mid-log leaves each manifest either fully
    * old or fully new, and an old entry's path either still resolves (not
    * yet moved) or fails LOUDLY, never silently skips.
    *
    * Entries already under [[LayoutsDir]] are LEFT ALONE (ADVICE r11): a
    * second evolution does not move `_layouts/g-0/...` data, so blindly
    * prefixing every line would durably rewrite those entries to
    * `_layouts/g-1/_layouts/g-0/...` — paths that never exist — failing a
    * lagging stream tail and confusing the stream's per-generation spec
    * resolution. Root-relative entries prefix into the NEW generation;
    * an entry whose file is under neither (a prior evolve crashed after
    * its renames but before translating) resolves against the existing
    * generations so the rerun heals the log instead of compounding it.
    */
  private def translateManifests(root: Path, gid: Long): Unit = {
    val f = fs(root)
    val newPrefix = s"$LayoutsDir/g-$gid/"
    val olderGens = layoutRoots(root.toString).dropRight(1).reverse
      .collect { case (_, rel, _) if rel.nonEmpty && rel != s"$LayoutsDir/g-$gid" => rel }
    def translate(l: String): String = {
      val preferred = newPrefix + l
      if (f.exists(new Path(root, preferred))) preferred
      else olderGens.collectFirst {
        case rel if f.exists(new Path(root, s"$rel/$l")) => s"$rel/$l"
      }.getOrElse(preferred)
    }
    manifestIds(root).foreach { id =>
      val p = manifestPath(root, id)
      val content = readString(p).getOrElse("")
      val out = content.split("\n").map { l =>
        if (l.isEmpty || l.startsWith("#") || l.startsWith(LayoutsDir + "/")) l
        else translate(l)
      }.mkString("\n")
      val tmp = new Path(p.getParent, s"_tmp-${p.getName}")
      val o = f.create(tmp, true)
      try o.write(out.getBytes("UTF-8")) finally o.close()
      f.delete(p, false): Unit
      if (!f.rename(tmp, p))
        throw new java.io.IOException(s"evolvePartitioning: cannot publish $p")
    }
  }

  /** DELETE WHERE — the row-removal rung of the lake-table contract,
    * behind SQL `DELETE FROM graft_staged.ns.t WHERE ...`
    * ([[StagedParquetTable]] implements `SupportsDelete`). Three cost
    * tiers, decided per partition directory, so at 100 TB the delete
    * bills for the data it touches and nothing else:
    *   1. METADATA-ONLY DROP: every conjunct is provably true for every
    *      row of the directory (identity partition values are constants;
    *      a days directory strictly inside a timestamp range is all-in)
    *      — the directory is deleted without reading a byte;
    *   2. UNTOUCHED: some conjunct is provably false for the directory
    *      (identity value fails it, the day range is disjoint), or — per
    *      file — no row group's footer min/max overlaps the predicate
    *      ([[StagedScan.blockSurvives]], the same zone map the scan
    *      skips with) — the file is never opened, never rewritten;
    *   3. COPY-ON-WRITE: only files that MAY hold matching rows are
    *      decoded and rewritten (rows kept where the predicate is not
    *      TRUE — SQL semantics: a NULL predicate keeps the row);
    *      unaffected sibling files are byte-copied (no decode, an
    *      object store serves it as a server-side copy), and the
    *      directory swaps atomically — a crash leaves the old rows or
    *      the new ones, never a half-deleted directory.
    * Conservative in the safe direction everywhere: a file the zone map
    * cannot clear is rewritten (identical content — wasted work, never a
    * lost or resurrected row). Returns (dir, action, affected files,
    * copied files) per touched directory; `action` ∈ dropped|rewritten.
    */
  def deleteWhere(s: SparkSession, table: String,
                  filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[(String, String, Long, Long)] =
    cowWhereDir(s, tableDir(s, table), filters, None)

  /** UPDATE WHERE — [[deleteWhere]]'s sibling with the same tiered cost,
    * applied through the library API (Spark routes SQL UPDATE only to
    * row-level-operation tables; this is the same copy-on-write those
    * implement, minus the planner round trip): rows matching the
    * predicate get each `set` column replaced (expressions may reference
    * other columns — `price -> col("price") * 0.9`), everything else is
    * untouched. Directory/zone-map tiers are identical to DELETE: a dir
    * the predicate provably misses is never listed into the rewrite, a
    * file whose footer range cannot match is byte-copied, and a dir whose
    * every row provably matches rewrites all files WITHOUT the predicate
    * evaluation. SET targets must not be partition-referenced columns
    * (identity, days/bucket sources) — an update that moved rows across
    * directories would be a reshuffle, not an update; rejected loudly.
    * NULL predicate leaves the row unchanged (SQL semantics).
    */
  def updateWhere(s: SparkSession, table: String,
                  set: Seq[(String, org.apache.spark.sql.Column)],
                  filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[(String, String, Long, Long)] =
    cowWhereDir(s, tableDir(s, table), filters, Some(set))

  /** The shared copy-on-write core of [[deleteWhere]] / [[updateWhere]]
    * against a resolved prod directory — the entry point
    * [[StagedParquetTable]] uses (the V2 table knows its dir, not its
    * catalog-qualified name). `update` None = delete rows matching the
    * predicate; Some(set) = rewrite them with the SET columns applied.
    */
  /** @param excludeNames data-file NAMES the statement must not touch —
    *        the streaming upsert's just-committed epoch files (visible in
    *        the tree before their manifest lands, but semantically the
    *        NEW rows the delete half must not see)
    * @param keySet WIDE-EPOCH delete form (DELETE only): the effective
    *        predicate becomes AND(filters) && key IN (keyDf) with the key
    *        relation staying DISTRIBUTED — row matching is a semi/anti
    *        join against it, never a collected literal list. Directory
    *        pruning still works from metadata alone: a bucket(key) layout
    *        prunes to the keys' bucket-id set (one tiny per-spec job,
    *        O(buckets) driver memory) and the caller's range conjuncts
    *        drive the day/zone-map tiers — so a million-key CDC epoch
    *        against a 100 TB bucketed target touches the keys' buckets
    *        and materializes no key on the driver. Metadata-only drops
    *        are disabled (membership of EVERY row is never provable from
    *        a dir name).
    */
  private[v2] def cowWhereDir(s: SparkSession, d: String,
                  filters: Seq[org.apache.spark.sql.sources.Filter],
                  update: Option[Seq[(String, org.apache.spark.sql.Column)]],
                  excludeNames: Set[String] = Set.empty,
                  keySet: Option[(String, org.apache.spark.sql.DataFrame)] = None,
                  skipEqSettle: Boolean = false): Seq[(String, String, Long, Long)] = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    // live equality deletes settle FIRST (skipEqSettle = the settle's own
    // group deletes): a COW rewrite copies raw rows into fresh files, and
    // a fresh file's add version would wrongly re-expose it to every
    // older eq filter — materialize, then mutate
    if (!skipEqSettle) materializeEqDeletes(s, d)
    val root = new Path(d)
    val f = fs(root)
    val sj = readString(new Path(root, SchemaFile)).getOrElse(
      throw new IllegalArgumentException(s"no committed table at $d"))
    val schema = DataType.fromJson(sj).asInstanceOf[StructType]
    val partSpec: Seq[PartField] = readString(new Path(root, PartitionFile))
      .map(PartSpec.deserialize).getOrElse(Seq.empty)
    val dataSchema = StructType(PartSpec.dataFields(schema, partSpec).map(_._1))
    val conjuncts = flattenAnd(filters)
    require(canDelete(conjuncts), s"unsupported DELETE/UPDATE predicate: $filters")
    require(keySet.isEmpty || update.isEmpty,
      "keySet form is DELETE-only (the upsert epoch's replace half)")
    // distinct bucket ids of the key set, per bucket count — the metadata
    // dir-prune for bucket(key) layouts, computed executor-side (the ids
    // collected are ≤ n, never the keys)
    val bucketIdCache = mutable.Map.empty[Int, Set[Int]]
    def keyBucketIds(kc: String, kdf: org.apache.spark.sql.DataFrame,
                     n: Int): Set[Int] =
      bucketIdCache.getOrElseUpdate(n, {
        import s.implicits._
        val one = kdf.select(org.apache.spark.sql.functions.col(kc))
        schema(kc).dataType match {
          case IntegerType => one.as[Int]
            .map(v => BucketHash.id(BucketHash.ofLong(v.toLong), n))
            .distinct().collect().toSet
          case LongType => one.as[Long]
            .map(v => BucketHash.id(BucketHash.ofLong(v), n))
            .distinct().collect().toSet
          case StringType => one.as[String]
            .map(v => BucketHash.id(BucketHash.ofBytes(v.getBytes("UTF-8")), n))
            .distinct().collect().toSet
          case _ => (0 until n).toSet // unbucketable type: keep every dir
        }
      })
    // every layout generation participates (partition-spec evolution):
    // rows matching the predicate must go whether they live in the
    // current layout or a pre-evolution one
    val layouts = layoutRoots(d)
    // an UNPARTITIONED current layout mutates by ROOT swap, and a root
    // swap would carry the live generations into the retained tree —
    // rejected at analysis (never half-applied): settle the generations
    // first, then the root swap is safe again
    require(partSpec.nonEmpty || layouts.length == 1 || !oldLayoutsHoldData(d),
      s"DELETE/UPDATE on $d: the current layout is unpartitioned and " +
        "pre-evolution generations still hold data — a root swap would " +
        "strand them; run StagedParquet.migrateLayouts first")
    update.foreach { set =>
      // a SET target must be a stored data column in EVERY generation —
      // a column any layout keeps in its directory names cannot change
      // without moving rows across directories
      val partRefs = layouts.flatMap(_._3).map(_.name).toSet
      val bad = set.map(_._1).filter(partRefs)
      require(bad.isEmpty,
        s"updateWhere: SET on partition-referenced columns $bad would move " +
          "rows across directories — rewrite the table instead")
      set.foreach { case (c, _) => require(
        schema.fieldNames.contains(c) && !partRefs(c),
        s"updateWhere: unknown column $c") }
    }

    def canonCmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: Int, y: Int)       => Some(x.compareTo(y))
      case (x: Long, y: Long)     => Some(x.compareTo(y))
      case (x: String, y: String) => Some(x.compareTo(y))
      case _                      => None
    }
    def canon(v: Any): Any = v match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case d0: java.sql.Date       => d0.toLocalDate.toEpochDay.toInt
      case d0: java.time.LocalDate => d0.toEpochDay.toInt
      case other                   => other
    }
    def dayOf(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp  => Some(Math.floorDiv(t.getTime, 86400000L))
      case i: java.time.Instant   => Some(Math.floorDiv(i.getEpochSecond, 86400L))
      case d0: java.sql.Date       => Some(d0.toLocalDate.toEpochDay)
      case d0: java.time.LocalDate => Some(d0.toEpochDay)
      case _                      => None
    }
    // verdict of one conjunct against one directory's partition values
    // UNDER THAT DIRECTORY'S SPEC (generations differ after evolution):
    // Some(true) = true for EVERY row in the dir, Some(false) = false for
    // every row, None = undecidable from the dir name (goes to tier 3)
    def dirVerdict(c: Filter, vals: Seq[String],
                   spec: Seq[PartField]): Option[Boolean] = {
      def identVal(a: String): Option[Any] = {
        val i = spec.indexWhere(pf => pf.kind == "identity" && pf.name == a)
        if (i < 0) None
        else Some(canon(StagedScan.partValue(schema(a).dataType, vals(i))))
      }
      def dirDay(a: String): Option[Option[Long]] = {
        val i = spec.indexWhere(pf => pf.kind == "days" && pf.name == a)
        if (i < 0) None
        else Some(if (vals(i) == "__HIVE_DEFAULT_PARTITION__") None
                  else Some(java.time.LocalDate.parse(vals(i)).toEpochDay))
      }
      // bucket-partition verdicts: a literal hashing to a DIFFERENT bucket
      // is provably absent from this dir (a single-key DELETE on a
      // bucketed 100 TB table touches 1/n of the directories); the SAME
      // bucket proves nothing (other keys share it) → undecided
      def dirBucket(a: String): Option[(String, Int)] = {
        val i = spec.indexWhere(pf => pf.kind == "bucket" && pf.name == a)
        if (i < 0) None else Some((vals(i), spec(i).buckets))
      }
      def bucketVerdictEq(a: String, v: Any): Option[Boolean] =
        dirBucket(a).flatMap { case (raw, n) =>
          if (raw == "__HIVE_DEFAULT_PARTITION__") Some(false) // `=` never matches null
          else BucketHash.idFor(schema(a).dataType, v, n) match {
            case Some(id) if id != raw.toInt => Some(false)
            case _                           => None
          }
        }
      def bucketVerdictIn(a: String, vs: Seq[Any]): Option[Boolean] =
        dirBucket(a).flatMap { case (raw, n) =>
          if (raw == "__HIVE_DEFAULT_PARTITION__") Some(false)
          else {
            val ids = vs.map(v => BucketHash.idFor(schema(a).dataType, v, n))
            if (ids.forall(_.isDefined) && !ids.flatten.contains(raw.toInt)) Some(false)
            else None
          }
        }
      def onIdent(a: String)(eval: Any => Option[Boolean]): Option[Option[Boolean]] =
        identVal(a).map(eval)
      c match {
        case AlwaysTrue()  => Some(true)
        case AlwaysFalse() => Some(false)
        case EqualTo(a, v) =>
          onIdent(a)(t => Some(t != null && t == canon(v))).getOrElse(
            dirDay(a) match {
              // same-day equality is undecidable (sub-day rows differ);
              // different-day is provably false
              case Some(Some(dd)) => dayOf(v) match {
                case Some(dv) if dv != dd => Some(false)
                case _                    => None
              }
              case Some(None) => Some(false) // null dir: = never matches
              case None       => bucketVerdictEq(a, v)
            })
        case In(a, vs) =>
          onIdent(a)(t => Some(t != null && vs.map(canon).contains(t))).getOrElse(
            dirDay(a) match {
              case Some(Some(dd)) =>
                val days = vs.toSeq.map(dayOf)
                if (days.forall(_.isDefined) && !days.flatten.contains(dd)) Some(false)
                else None
              case Some(None) => Some(false)
              case None       => bucketVerdictIn(a, vs.toSeq)
            })
        case GreaterThan(a, v) =>
          onIdent(a)(t => canonCmp(t, canon(v)).map(_ > 0)).getOrElse(
            dirDay(a) match {
              case Some(Some(dd)) => dayOf(v) match {
                case Some(dv) if dd > dv => Some(true)  // whole dir after v's day
                case Some(dv) if dd < dv => Some(false) // whole dir before
                case _                   => None        // boundary day
              }
              case Some(None) => Some(false) // null ts: comparison never true
              case None       => None
            })
        case GreaterThanOrEqual(a, v) =>
          onIdent(a)(t => canonCmp(t, canon(v)).map(_ >= 0)).getOrElse(
            dirDay(a) match {
              case Some(Some(dd)) => dayOf(v) match {
                case Some(dv) if dd > dv => Some(true)
                case Some(dv) if dd < dv => Some(false)
                case _                   => None
              }
              case Some(None) => Some(false)
              case None       => None
            })
        case LessThan(a, v) =>
          onIdent(a)(t => canonCmp(t, canon(v)).map(_ < 0)).getOrElse(
            dirDay(a) match {
              case Some(Some(dd)) => dayOf(v) match {
                case Some(dv) if dd < dv => Some(true)
                case Some(dv) if dd > dv => Some(false)
                case _                   => None
              }
              case Some(None) => Some(false)
              case None       => None
            })
        case LessThanOrEqual(a, v) =>
          onIdent(a)(t => canonCmp(t, canon(v)).map(_ <= 0)).getOrElse(
            dirDay(a) match {
              case Some(Some(dd)) => dayOf(v) match {
                case Some(dv) if dd < dv => Some(true)
                case Some(dv) if dd > dv => Some(false)
                case _                   => None
              }
              case Some(None) => Some(false)
              case None       => None
            })
        case IsNull(a) =>
          onIdent(a)(t => Some(t == null)).getOrElse(
            dirDay(a) match { case Some(od) => Some(od.isEmpty); case None => None })
        case IsNotNull(a) =>
          onIdent(a)(t => Some(t != null)).getOrElse(
            dirDay(a) match { case Some(od) => Some(od.nonEmpty); case None => None })
        // Some(false) means "no row SATISFIES the predicate" (it is false
        // or NULL everywhere), so disjunction/negation fold carefully:
        // Or is true-for-all if EITHER side is, unsatisfiable if both
        // are; Not(f) is unsatisfiable where f is true-for-all, but an
        // unsatisfiable f proves NOTHING for Not(f) — f may be NULL, and
        // NOT(NULL) is NULL, which DELETE must keep
        case And(l, r) => // nested under Or/Not (top-level Ands are flattened)
          (dirVerdict(l, vals, spec), dirVerdict(r, vals, spec)) match {
            case (Some(true), Some(true))            => Some(true)
            case (Some(false), _) | (_, Some(false)) => Some(false)
            case _                                   => None
          }
        case Or(l, r) =>
          (dirVerdict(l, vals, spec), dirVerdict(r, vals, spec)) match {
            case (Some(true), _) | (_, Some(true))   => Some(true)
            case (Some(false), Some(false))          => Some(false)
            case _                                   => None
          }
        case Not(f0) =>
          dirVerdict(f0, vals, spec) match {
            case Some(true) => Some(false)
            case _          => None
          }
        case _ => None
      }
    }
    def toCol(c: Filter): org.apache.spark.sql.Column = c match {
      case AlwaysTrue()             => lit(true)
      case AlwaysFalse()            => lit(false)
      case EqualTo(a, v)            => col(a) === lit(v)
      case In(a, vs)                => col(a).isin(vs.toSeq: _*)
      case GreaterThan(a, v)        => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v)           => col(a) < lit(v)
      case LessThanOrEqual(a, v)    => col(a) <= lit(v)
      case IsNull(a)                => col(a).isNull
      case IsNotNull(a)             => col(a).isNotNull
      case And(l, r)                => toCol(l) && toCol(r)
      case Or(l, r)                 => toCol(l) || toCol(r)
      case Not(f0)                  => !toCol(f0)
      case other => throw new UnsupportedOperationException(s"DELETE: $other")
    }
    // one footer read per file per statement: the zone-map tier and the
    // MOR dense-dir live-row count both consult it
    val footers = mutable.Map.empty[Path,
      Seq[(Long, Long, org.apache.parquet.hadoop.metadata.BlockMetaData)]]
    def blocksOf(st: org.apache.hadoop.fs.FileStatus) =
      footers.getOrElseUpdate(st.getPath,
        StagedScan.blockRanges(st.getPath.toString, st.getLen))
    // may this FILE hold a matching row? — the scan's zone map, pointed at
    // the delete predicate; any block the footer cannot clear keeps it
    def fileMayMatch(st: org.apache.hadoop.fs.FileStatus, rem: Seq[Filter]): Boolean =
      blocksOf(st).exists { case (_, _, b) =>
        StagedScan.blockSurvives(b, schema, rem) }

    def walk(dir: Path, depth: Int, rel: String): Seq[(String, Path, Seq[String])] =
      if (depth == 0) Seq((rel, dir, rel.split("/").toSeq.filter(_.nonEmpty)
        .map(_.split("=", 2)(1))))
      else f.listStatus(dir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("=") &&
          !st.getPath.getName.endsWith("__old"))
        .flatMap(st => walk(st.getPath, depth - 1,
          if (rel.isEmpty) st.getPath.getName else rel + "/" + st.getPath.getName))

    val staging = d + "__staging.cow-" +
      java.util.UUID.randomUUID().toString.take(8)
    val report = mutable.Buffer[(String, String, Long, Long)]()
    // one VERSION for the whole statement: every swapped/dropped dir
    // retains its pre-state under the version tree (time travel)
    val cowVersion = currentVersion(d) + 1
    val versionSwaps = mutable.Buffer[String]()
    // one listing per directory: (data files the statement may touch,
    // excluded epoch files). The excluded files must ride every swap as
    // byte-copied siblings — a dir swap replaces the WHOLE directory, and
    // a file in neither the rewrite nor the copy list would vanish
    def filesOf(dir: Path): (Seq[org.apache.hadoop.fs.FileStatus],
                             Seq[org.apache.hadoop.fs.FileStatus]) =
      f.listStatus(dir).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.getName.startsWith("_"))
        .partition(st => !excludeNames(st.getPath.getName))

    // PASS 1 (driver metadata only): classify every directory. Tier-1
    // DELETE dirs drop immediately (no byte read); dirs needing a rewrite
    // — tier-1 UPDATE (unconditional SET) and tier-3 (predicate COW) —
    // are collected into one work list for a SINGLE batched Spark job,
    // so a retention DELETE touching thousands of day directories
    // schedules ONE rewrite, not one job per directory (wall-clock ∝
    // matching data, not ∝ affected-dir count).
    case class DirWork(rel: String, dir: Path, vals: Seq[String],
                       affected: Seq[org.apache.hadoop.fs.FileStatus],
                       untouched: Seq[org.apache.hadoop.fs.FileStatus],
                       unconditional: Boolean, spec: Seq[PartField])
    val work = mutable.Buffer[DirWork]()
    for ((lroot, lprefix, lspec) <- layouts;
         (rel0, dir, vals) <- walk(lroot, lspec.length, "")) {
      // rel is TABLE-relative (generation prefix included) — version
      // deltas, retained trees, and swap targets all key on it
      val rel = Seq(lprefix, rel0).filter(_.nonEmpty).mkString("/")
      val verdicts = conjuncts.map(c => dirVerdict(c, vals, lspec))
      // key-set dir prune: a bucket(key) dir whose id is outside the key
      // set's bucket ids — or a null-key dir (IN never matches null) —
      // provably holds no matching row
      val keyPruned = keySet.exists { case (kc, kdf) =>
        lspec.zipWithIndex.exists { case (pf, i) =>
          pf.kind == "bucket" && pf.name == kc && {
            vals(i) == "__HIVE_DEFAULT_PARTITION__" ||
              !keyBucketIds(kc, kdf, pf.buckets).contains(vals(i).toInt)
          }
        }
      }
      if (!keyPruned && !verdicts.contains(Some(false))) {
        val remaining = conjuncts.zip(verdicts).collect { case (c, None) => c }
        // listed on first use: a tier-1 metadata drop never lists
        lazy val (files, epochFiles) = filesOf(dir)
        if (remaining.isEmpty && keySet.isDefined) {
          // all conjuncts hold for the dir, but key MEMBERSHIP of every
          // row is never provable from metadata — the row tiers decide
          if (files.nonEmpty)
            work += DirWork(rel, dir, vals, files, epochFiles,
              unconditional = false, spec = lspec)
        } else if (remaining.isEmpty) {
          // tier 1: every conjunct all-true. DELETE drops the directory
          // without reading a byte (root of an unpartitioned table: swap
          // in an empty committed table); UPDATE rewrites every file with
          // the SET applied UNCONDITIONALLY
          update match {
            case Some(_) =>
              if (files.nonEmpty)
                work += DirWork(rel, dir, vals, files, epochFiles,
                  unconditional = true, spec = lspec)
            case None if excludeNames.nonEmpty && epochFiles.nonEmpty =>
              // the dir holds just-committed epoch files the statement
              // must not touch — no metadata drop; rewrite the OLD files
              // to nothing and carry the epoch files as copied siblings
              if (files.nonEmpty)
                work += DirWork(rel, dir, vals, files, epochFiles,
                  unconditional = false, spec = lspec)
            case None if rel.isEmpty =>
              val st = new Path(staging)
              f.mkdirs(st): Unit
              writeString(st, SchemaFile, schema.json)
              writeString(st, SuccessFile, "")
              if (f.exists(new Path(root, PartitionFile)))
                writeString(st, PartitionFile, PartSpec.serialize(partSpec))
              readString(new Path(root, DroppedFile)).foreach(
                writeString(st, DroppedFile, _))
              readString(new Path(root, PropertiesFile)).foreach(
                writeString(st, PropertiesFile, _))
              copyManifests(root, st)
              swapDirs(staging, d, Some(retainedPath(d, cowVersion, "."))): Unit
              versionSwaps += "."
              report += ((".", "dropped", 0L, 0L))
            case None if rel0.isEmpty =>
              // an UNPARTITIONED generation root: retain it wholesale and
              // re-pin its spec in place (snapshot lookups need it)
              val keep = retainedPath(d, cowVersion, rel)
              f.mkdirs(keep.getParent): Unit
              if (!f.rename(dir, keep))
                throw new java.io.IOException(
                  s"DELETE: cannot retain dropped generation $dir at $keep")
              f.mkdirs(dir): Unit
              writeString(dir, PartitionFile, PartSpec.serialize(lspec))
              versionSwaps += rel
              report += ((rel, "dropped", 0L, 0L))
            case None =>
              val keep = retainedPath(d, cowVersion, rel)
              f.mkdirs(keep.getParent): Unit
              if (!f.rename(dir, keep))
                throw new java.io.IOException(
                  s"DELETE: cannot retain dropped dir $dir at $keep")
              versionSwaps += rel
              report += ((rel, "dropped", 0L, 0L))
          }
        } else {
          // tier 3: only files the zone map cannot clear are rewritten;
          // cleared siblings — and any excluded epoch files — are
          // byte-copied at swap time (tier 2: the zone map cleared every
          // file — the dir is never touched)
          val (affected, untouched) =
            files.partition(st => fileMayMatch(st, remaining))
          if (affected.nonEmpty)
            work += DirWork(rel, dir, vals, affected, untouched ++ epochFiles,
              unconditional = false, spec = lspec)
        }
      } // tier 2: a conjunct is provably false for the dir — untouched
    }

    // Per-dir DV lookups, memoized and guarded by the root flag: a table
    // that never had a deletion vector pays ZERO extra listings here.
    val tableHasDvs = hasDvFlag(root)
    val dvCache = mutable.Map.empty[String, Map[String, Seq[(Long, Long)]]]
    def dirDvs(p: Path): Map[String, Seq[(Long, Long)]] =
      if (!tableHasDvs) Map.empty
      else dvCache.getOrElseUpdate(p.toString, readDvs(p))
    val versionAdds = mutable.Buffer[String]()

    // PASS 1.5 — MERGE-ON-READ tier (DELETE on a table with
    // `delete.mode=merge-on-read`): instead of rewriting tier-3 files,
    // ONE plan with ONE shuffle finds the matching ROW POSITIONS per file
    // (`_metadata.row_index`) and writes each directory's deletion vector
    // executor-side — a point delete on a 1 GB file costs a metadata
    // write, not a rewrite. The driver only commits (renames) the vectors
    // of sparse directories. DENSE directories (matched fraction above
    // `graft.staged.dv.maxFraction`, default 0.1) fall through to the COW
    // rewrite: once most rows go, a clean rewrite reads cheaper than a
    // scan that skips most positions. Directories with ZERO matches drop
    // out entirely (COW would have rewritten them identically).
    val morMode = update.isEmpty &&
      tableProperties(root).get("delete.mode").contains("merge-on-read")
    if (morMode && work.nonEmpty) morDriverRows.set(0L)
    if (morMode && work.nonEmpty) {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.functions.{broadcast, input_file_name, regexp_replace}
      import s.implicits._
      val maxFraction =
        try s.conf.get("graft.staged.dv.maxFraction").toDouble
        catch { case _: Throwable => 0.1 }
      def sentinel(rel: String): String = if (rel.isEmpty) "." else rel
      val dense = mutable.Set.empty[String]
      var flagged = tableHasDvs
      // one find-positions job PER LAYOUT GENERATION with affected files
      // (each generation stores a different column subset in its files);
      // generations are few, so the job count stays bounded by the
      // evolution history, never the directory count
      for ((gspec, gwork) <- work.toSeq.groupBy(_.spec)) {
      val gDataSchema = StructType(PartSpec.dataFields(schema, gspec).map(_._1))
      val identIdx = gspec.zipWithIndex.filter(_._1.kind == "identity")
      val identFields = identIdx.map { case (pf, _) =>
        schema(pf.name).copy(nullable = true) }
      def identExternal(vals: Seq[String]): Seq[Any] =
        identIdx.map { case (pf, i) =>
          val raw = vals(i)
          if (raw == "__HIVE_DEFAULT_PARTITION__") null
          else schema(pf.name).dataType match {
            case StringType  => PartSpec.unescape(raw)
            case IntegerType => Int.box(raw.toInt)
            case LongType    => Long.box(raw.toLong)
            case DateType    => java.sql.Date.valueOf(raw)
            case t => throw new UnsupportedOperationException(
              s"staged COW: unsupported identity partition type $t")
          }
        }
      val infoSchema = StructType(
        StructField("__src", StringType, nullable = false) +:
        StructField("__dir", StringType, nullable = false) +: identFields)
      val info = s.createDataFrame(gwork.flatMap { w =>
        val iv = identExternal(w.vals)
        w.affected.map(st => Row.fromSeq(
          st.getPath.toUri.getRawPath +: sentinel(w.rel) +: iv))
      }.asJava, infoSchema)
      val allAffected = gwork.flatMap(_.affected).map(_.getPath.toString)
      var scan = s.read.schema(widenForAliases(gDataSchema))
        .parquet(allAffected: _*)
        .withColumn("__src",
          regexp_replace(input_file_name(), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))
        .withColumn("__pos", col("_metadata.row_index"))
      scan = coalesceAliases(scan, gDataSchema)
      // rows an earlier DV already deleted must not match (or count) again
      val priorDv = gwork.flatMap { w =>
        val dvs = dirDvs(w.dir)
        w.affected.flatMap(st => dvs.getOrElse(st.getPath.getName, Nil)
          .map { case (s0, e0) =>
            Row(st.getPath.toUri.getRawPath, Long.box(s0), Long.box(e0)) })
      }
      if (priorDv.nonEmpty) {
        val dvDf = s.createDataFrame(priorDv.asJava, StructType(Seq(
          StructField("__dvsrc", StringType, nullable = false),
          StructField("__dvs", LongType, nullable = false),
          StructField("__dve", LongType, nullable = false))))
        scan = scan.join(broadcast(dvDf),
          scan("__src") === dvDf("__dvsrc") &&
            col("__pos") >= col("__dvs") && col("__pos") < col("__dve"),
          "left_anti")
      }
      val fullPred = conjuncts.map(toCol).reduce(_ && _)
      // The matched (dir, file, position) triples shuffle ONCE, by
      // directory, and sort within each partition by (dir, file,
      // position); the task then streams each directory's run of rows,
      // coalescing positions to [start, end) runs as they pass, into ONE
      // `_tmp-dv-*` file per directory (r11 VERDICT #3). Only (dirRel,
      // tmpName, matched, fileCount) comes back — the driver materializes
      // O(touched dirs), never O(deleted runs), and the statement-wide
      // write fan-out is the cluster's, not one process's. A GDPR-shaped
      // sparse DELETE over thousands of directories costs the driver one
      // short name list. Tmp files from failed/speculative attempts are
      // `_tmp-` debris (invisible to readers, vacuumable); only the names
      // the successful tasks return get COMMITTED below by rename to
      // `_dv-*` — the same two-phase shape as the data writes.
      val dirAbsByRel: Map[String, String] = gwork.map(w =>
        sentinel(w.rel) -> w.dir.toString).toMap
      val serConf = new SerializableHadoopConf(hadoopConf)
      val morMatched0 = scan.join(broadcast(info), Seq("__src"))
        .filter(coalesce(fullPred, lit(false)))
      // wide-epoch form: key membership is a DISTRIBUTED semi-join (AQE
      // broadcasts a small key relation on its own) — no literal list
      val morMatched = keySet.fold(morMatched0) { case (kc, kdf) =>
        morMatched0.join(kdf.select(col(kc)).distinct(), Seq(kc), "left_semi")
      }
      val morRows: Seq[(String, String, Long, Long)] =
        morMatched.select(col("__dir"), col("__src"), col("__pos"))
          .repartition(col("__dir"))
          .sortWithinPartitions(col("__dir"), col("__src"), col("__pos"))
          .as[(String, String, Long)]
          .mapPartitions(rows => writeDvRuns(rows, dirAbsByRel, serConf.value))
          .collect().toSeq
      morDriverRows.addAndGet(morRows.length.toLong): Unit
      val byDir: Map[String, (String, Long, Long)] = morRows
        .map { case (rel, tmp, matched, nf) => (rel, (tmp, matched, nf)) }.toMap
      for (w <- gwork) {
        val rel = sentinel(w.rel)
        byDir.get(rel) match {
          case None => // zero matches: neither a DV nor a rewrite
          case Some((tmpName, matched, nFiles)) =>
            val dvs = dirDvs(w.dir)
            val live = w.affected.map { st =>
              val rows = blocksOf(st).map(_._3.getRowCount).sum
              rows - deletedWithin(dvs.getOrElse(st.getPath.getName, Nil),
                0L, rows)
            }.sum
            if (live > 0 && matched.toDouble / live > maxFraction) {
              dense += rel
              f.delete(new Path(w.dir, tmpName), false): Unit
            } else {
              // COMMIT the task-written vector: rename into the `_dv-*`
              // namespace readers union (O(1) metadata per dir)
              val dvName = DvPrefix + tmpName.stripPrefix("_tmp-dv-")
              if (!f.rename(new Path(w.dir, tmpName), new Path(w.dir, dvName)))
                throw new java.io.IOException(
                  s"MOR DELETE: cannot commit deletion vector $tmpName in ${w.dir}")
              if (!flagged) { writeString(root, DvFlagFile, ""); flagged = true }
              dvCache.remove(w.dir.toString): Unit
              versionAdds += (if (w.rel.isEmpty) dvName else s"${w.rel}/$dvName")
              report += ((rel, "dv", nFiles, matched))
            }
        }
      }
      }
      // only DENSE dirs proceed to the COW rewrite
      val kept = work.filter(w => dense.contains(sentinel(w.rel)))
      work.clear()
      work ++= kept
    }

    // PASS 2: ONE partitioned rewrite job over every affected file of
    // every directory. Each scanned row joins (broadcast, constant-size)
    // its file's metadata — target directory and the dir's IDENTITY
    // partition values, materialized as real columns so predicates and
    // SET expressions may reference identity-partitioned columns (they
    // are not stored in the data files) — then the predicate applies
    // per-row and the output routes back to its source directory via
    // `partitionBy`. Rows never move across directories (partition-
    // referenced SET targets are rejected above), so the source file's
    // directory IS the destination.
    if (work.nonEmpty) {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.functions.{broadcast, input_file_name, regexp_replace, when}
      // rel "" (unpartitioned root) needs a non-empty partition value —
      // "." can never collide with a real `k=v/...` rel path
      def sentinel(rel: String): String = if (rel.isEmpty) "." else rel
      // one rewrite job PER LAYOUT GENERATION with affected files (the
      // stored column subset differs per generation); bounded by the
      // evolution history, never the directory count
      for (((gspec, gwork), gi) <- work.toSeq.groupBy(_.spec).toSeq.zipWithIndex) {
      val gDataSchema = StructType(PartSpec.dataFields(schema, gspec).map(_._1))
      val gStaging = s"$staging/w$gi"
      val identIdx = gspec.zipWithIndex.filter(_._1.kind == "identity")
      val identFields = identIdx.map { case (pf, _) =>
        schema(pf.name).copy(nullable = true) }
      def identExternal(vals: Seq[String]): Seq[Any] =
        identIdx.map { case (pf, i) =>
          val raw = vals(i)
          if (raw == "__HIVE_DEFAULT_PARTITION__") null
          else schema(pf.name).dataType match {
            case StringType  => PartSpec.unescape(raw)
            case IntegerType => Int.box(raw.toInt)
            case LongType    => Long.box(raw.toLong)
            case DateType    => java.sql.Date.valueOf(raw)
            case t => throw new UnsupportedOperationException(
              s"staged COW: unsupported identity partition type $t")
          }
        }
      // join key: the file path in its URI-RAW form — input_file_name()
      // reports the Hadoop Path's URI encoding (a `%` in an escaped
      // partition dir name arrives as `%25`), and getRawPath is that same
      // encoding minus the scheme, so both sides match byte-for-byte
      val infoSchema = StructType(
        StructField("__src", StringType, nullable = false) +:
        StructField("__dir", StringType, nullable = false) +:
        StructField("__uncond", BooleanType, nullable = false) +:
        identFields)
      val infoRows: Seq[Row] = gwork.flatMap { w =>
        val iv = identExternal(w.vals)
        w.affected.map(st => Row.fromSeq(
          st.getPath.toUri.getRawPath +: sentinel(w.rel) +:
            Boolean.box(w.unconditional) +: iv))
      }
      val info = s.createDataFrame(infoRows.asJava, infoSchema)
      val allAffected = gwork.flatMap(_.affected).map(_.getPath.toString)
      var scan = s.read.schema(widenForAliases(gDataSchema))
        .parquet(allAffected: _*)
        .withColumn("__src",
          regexp_replace(input_file_name(), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))
      // rows a deletion vector already removed must not survive the
      // rewrite (the raw file read would resurrect them); the rewrite
      // MATERIALIZES the deletes — rewritten files carry no DV entries
      val priorDv = gwork.flatMap { w =>
        val dvs = dirDvs(w.dir)
        w.affected.flatMap(st => dvs.getOrElse(st.getPath.getName, Nil)
          .map { case (s0, e0) =>
            Row(st.getPath.toUri.getRawPath, Long.box(s0), Long.box(e0)) })
      }
      if (priorDv.nonEmpty) {
        val dvDf = s.createDataFrame(priorDv.asJava, StructType(Seq(
          StructField("__dvsrc", StringType, nullable = false),
          StructField("__dvs", LongType, nullable = false),
          StructField("__dve", LongType, nullable = false))))
        val withPos = scan.withColumn("__pos",
          col("_metadata.row_index"))
        scan = withPos.join(broadcast(dvDf),
          withPos("__src") === dvDf("__dvsrc") &&
            col("__pos") >= col("__dvs") && col("__pos") < col("__dve"),
          "left_anti").drop("__pos")
      }
      // RENAMED columns reconstitute before predicates/updates touch them
      // (the rewrite writes current names — it settles the aliases)
      scan = coalesceAliases(scan, gDataSchema)
      // LEFT join + loud per-row guard: a scanned row that matched no
      // metadata row (an encoding mismatch between input_file_name() and
      // the listing) must FAIL the job, never silently drop the row —
      // a dropped row here would be an unintended delete
      val joined = scan.join(broadcast(info), Seq("__src"), "left")
        .withColumn("__dir", when(col("__dir").isNull,
          org.apache.spark.sql.functions.raise_error(
            org.apache.spark.sql.functions.concat(
              lit("staged COW: unmatched source file "), col("__src"))))
          .otherwise(col("__dir")))
      // the FULL conjunction evaluates correctly on every rewritten row
      // (per-dir all-true conjuncts are simply true there; identity
      // references resolve through the materialized columns)
      val fullPred = conjuncts.map(toCol).reduce(_ && _)
      val out = update match {
        case None if keySet.isDefined =>
          // keep rows where NOT (conjuncts AND key ∈ set): a left join
          // against the distinct keys marks membership without ever
          // collecting them (the dense-dir fallback of the wide epoch)
          val (kc, kdf) = keySet.get
          val marked = kdf.select(col(kc)).distinct()
            .withColumn("__khit", lit(true))
          joined.join(marked, Seq(kc), "left")
            .filter(not(coalesce(fullPred, lit(false)) &&
              coalesce(col("__khit"), lit(false))))
            .drop("__khit")
        case None => joined.filter(not(coalesce(fullPred, lit(false))))
        case Some(set) =>
          val cond = coalesce(col("__uncond"), lit(false)) ||
            coalesce(fullPred, lit(false))
          set.foldLeft(joined) { case (df0, (c, v)) =>
            df0.withColumn(c,
              when(cond, v.cast(gDataSchema(c).dataType)).otherwise(col(c)))
          }
      }
      // a sorted table's rewrite re-sorts (the declared order is a table
      // invariant); identity columns live in the dir name, so only data
      // columns participate
      val cowSort = sortColsOf(tableProperties(root))
        .filter(gDataSchema.fieldNames.contains)
      val outSorted =
        if (cowSort.isEmpty) out
        else out.sortWithinPartitions((col("__dir") +: cowSort.map(col)): _*)
      withMicrosTimestamps(s) {
        outSorted.select((gDataSchema.fieldNames.map(col) :+ col("__dir")).toSeq: _*)
          .write.partitionBy("__dir").mode("overwrite").parquet(gStaging)
      }
      // per-dir promotion (driver metadata only, never a Spark job):
      // byte-copy the zone-map-cleared siblings beside the rewritten
      // files and swap each directory atomically — a crash leaves the
      // old rows or the new ones, never a half-deleted directory
      for (w <- gwork) {
        val escaped = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.escapePathName(sentinel(w.rel))
        val stagePart = new Path(s"$gStaging/__dir=$escaped")
        if (!f.exists(stagePart)) f.mkdirs(stagePart): Unit // all rows deleted
        w.untouched.foreach { st =>
          FileUtil.copy(f, st.getPath, f,
            new Path(stagePart, st.getPath.getName), false, hadoopConf): Unit
        }
        // byte-copied siblings keep their deletion vectors — one carried
        // DV file scoped to exactly the untouched names (rewritten files
        // materialized theirs); on a ROOT swap the flag must ride the
        // staging dir (the old root — flag included — is retained away)
        val carried = dirDvs(w.dir).filter { case (n, _) =>
          w.untouched.exists(_.getPath.getName == n) }
        if (carried.nonEmpty)
          writeDv(if (w.rel.isEmpty) stagePart else root, stagePart, carried): Unit
        if (w.rel.isEmpty) {
          writeString(stagePart, SchemaFile, schema.json)
          writeString(stagePart, SuccessFile, "")
          if (f.exists(new Path(root, PartitionFile)))
            writeString(stagePart, PartitionFile, PartSpec.serialize(partSpec))
          readString(new Path(root, DroppedFile)).foreach(
            writeString(stagePart, DroppedFile, _))
          readString(new Path(root, PropertiesFile)).foreach(
            writeString(stagePart, PropertiesFile, _))
          copyManifests(root, stagePart)
        } else if (!w.rel.contains("="))
          // an unpartitioned GENERATION root: its pinned spec rides the swap
          writeString(stagePart, PartitionFile, PartSpec.serialize(w.spec))
        swapDirs(stagePart.toString, w.dir.toString,
          Some(retainedPath(d, cowVersion, sentinel(w.rel)))): Unit
        versionSwaps += sentinel(w.rel)
        report += ((sentinel(w.rel), "rewritten",
          w.affected.length.toLong, w.untouched.length.toLong))
      }
      }
    }
    if (versionSwaps.nonEmpty || versionAdds.nonEmpty)
      recordVersion(d, cowVersion, versionAdds.toSeq, versionSwaps.toSeq): Unit
    f.delete(new Path(staging), true): Unit
    report.sortBy(_._1).toSeq
  }

  /** Conjunct shapes [[deleteWhere]] supports — everything it can BOTH
    * evaluate as a rewrite predicate and bound conservatively at the dir/
    * zone-map tiers. `canDeleteWhere` gates on this, so an unsupported
    * DELETE fails loudly at analysis instead of deleting the wrong rows.
    */
  private[v2] def canDelete(filters: Seq[org.apache.spark.sql.sources.Filter]): Boolean = {
    import org.apache.spark.sql.sources._
    def ok(f: Filter): Boolean = f match {
      case EqualTo(_, v)            => v != null
      case In(_, vs)                => vs != null && !vs.contains(null)
      case GreaterThan(_, v)        => v != null
      case GreaterThanOrEqual(_, v) => v != null
      case LessThan(_, v)           => v != null
      case LessThanOrEqual(_, v)    => v != null
      case IsNull(_) | IsNotNull(_) => true
      case AlwaysTrue() | AlwaysFalse() => true
      case And(l, r)                => ok(l) && ok(r)
      case Or(l, r)                 => ok(l) && ok(r)
      case Not(f0)                  => ok(f0)
      case _                        => false
    }
    flattenAnd(filters).forall(ok)
  }

  private def flattenAnd(filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources.And
    filters.flatMap {
      case And(l, r) => flattenAnd(Seq(l, r))
      case other     => Seq(other)
    }
  }

  /** Read a committed table WITH its declared schema: files written before
    * an ADD COLUMN lack the newer columns, and passing the declared schema
    * to the parquet scan null-fills them — the read half of the
    * metadata-only evolution contract ([[StagedCatalog.alterTable]]).
    * Partition columns in the declared schema resolve from the `key=value`
    * directory names as usual.
    */
  def readTable(s: SparkSession, table: String): org.apache.spark.sql.DataFrame = {
    val d = tableDir(s, table)
    val sj = readString(new Path(d, SchemaFile)).getOrElse(
      throw new IllegalArgumentException(s"no committed table at $d"))
    // a table with deletion vectors must read through the V2 scan (the
    // only reader that applies them); the built-in parquet source would
    // resurrect deleted rows. An EVOLVED table must too: its
    // pre-evolution generations live under `_layouts/` — an
    // underscore-prefixed dir the built-in source treats as hidden and
    // silently drops. So must a table with live EQUALITY deletes, or one
    // with RENAMED columns (the built-in by-name resolution would null a
    // renamed column's pre-rename files; the V2 reader resolves aliases).
    // Un-flagged, un-evolved tables keep the built-in path (identical
    // results, zero behavior change).
    val declared = DataType.fromJson(sj).asInstanceOf[StructType]
    if (hasDvFlag(new Path(d)) || hasEqFlag(new Path(d)) ||
        declared.fields.exists(f => aliasesOf(f).nonEmpty) ||
        (hasOldLayouts(d) && oldLayoutsHoldData(d))) s.table(table)
    else s.read.schema(declared).parquet(d)
  }

  /** Staged MERGE — the sink's upsert rung (reference: postgres.py:1092-1180
    * `INSERT .. ON CONFLICT (pk) DO UPDATE`): the merged relation (staging
    * wins on key conflict, unmatched prod rows survive — exactly
    * [[graft.operators]] EtlOps.upsert set algebra, inlined here to keep
    * the package dependency one-way) is STAGED through the catalog's atomic
    * replace and swapped over prod in one metadata operation. A crash
    * anywhere before the swap leaves prod serving its pre-merge contents —
    * the same guarantee the replace path has, which the reference's
    * transactional ON CONFLICT upsert gets from postgres. The prod scan
    * happens inside the staged write's job, strictly before the swap
    * renames anything, so the read never observes its own output.
    *
    * At 100 TB: one hash anti-join of prod against the (small) staging key
    * set + one staged rewrite — the merge cost is the rewrite, the swap is
    * O(1). For partitioned tables combine with `overwritePartitions()` to
    * confine the rewrite to touched partitions.
    */
  def upsertInto(s: SparkSession, table: String,
                 staging: org.apache.spark.sql.DataFrame,
                 keys: Seq[String]): Unit = {
    // REPLACE defines the new table fully — carry the live properties
    // (delete.mode, sort.order, ...) so an upsert never silently strips
    // the table's declared contracts
    val props = tableProperties(new Path(tableDir(s, table)))
    val writer = mergedRelation(s, table, staging, keys).writeTo(table)
    props.foldLeft(writer) { case (w, (k, v)) => w.tableProperty(k, v) }
      .createOrReplace()
  }

  /** The relation [[upsertInto]] stages: prod anti-joined against the
    * staging keys, unioned with staging. Exposed so PlanSpec can pin the
    * merge's plan shape (hash anti-join + union, never a cartesian) — the
    * staged write hides it from the query the oracle gates.
    */
  private[graft] def mergedRelation(s: SparkSession, table: String,
      staging: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    // prod reads through readTable — the DECLARED schema — so on an evolved
    // table the pre-ALTER files null-fill instead of whichever file's
    // inferred schema winning and dropping/misaligning the evolved column
    readTable(s, table)
      .join(staging.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(staging)
  }

  // ---- commit manifests -------------------------------------------------
  // Every commit that ADDS visible data files appends `_manifests/m-<id>`
  // (monotonic id, zero-padded for lexical order) listing the relative
  // paths it added, one per line; `#`-prefixed lines carry metadata (the
  // streaming sink's `#txn=` epoch marker). The manifest log is what
  // makes tailing a 100 TB table O(new data) instead of O(table): the
  // streaming offset is just the last manifest id, a trigger lists ONLY
  // the manifest directory, and a batch reads only the manifests in its
  // (start, end] range — never the table's file tree. Rewrites (COW,
  // compaction) do not append manifests: they change no logical rows, and
  // a tail that has not yet consumed a rewritten file fails LOUDLY when
  // the manifest's path vanishes (run maintenance behind the stream's
  // committed offset, or restart the stream — the documented
  // no-concurrent-rewrite contract). A full-table REPLACE resets the
  // manifest generation to m-0; a running tail sees the id regress and
  // fails loudly rather than replaying the table as duplicates.

  private[v2] def manifestPath(root: Path, id: Long): Path =
    new Path(new Path(root, ManifestDir), f"m-$id%010d")

  private[graft] def manifestIds(root: Path): Seq[Long] = {
    val f = fs(root)
    val md = new Path(root, ManifestDir)
    if (!f.exists(md)) Seq.empty
    else f.listStatus(md).toSeq.filter(_.isFile)
      .map(_.getPath.getName).filter(_.startsWith("m-"))
      .map(_.stripPrefix("m-").toLong).sorted
  }

  /** (txn marker, relative data-file paths) of one manifest; a MISSING
    * manifest in a stream's range is a hard error (the table was replaced
    * or its manifest log vacuumed past the stream's offset).
    */
  private[graft] def readManifest(root: Path, id: Long): (Option[String], Seq[String]) = {
    val content = readString(manifestPath(root, id)).getOrElse(
      throw new IllegalStateException(
        s"staged stream: manifest m-$id missing under $root/$ManifestDir — " +
          "the table was replaced or rewritten past this stream's offset; " +
          "restart the stream from a fresh checkpoint"))
    val lines = content.split("\n").toSeq.filter(_.nonEmpty)
    (lines.find(_.startsWith("#txn=")).map(_.stripPrefix("#txn=")),
      lines.filterNot(_.startsWith("#")))
  }

  /** Append the next manifest atomically (create-no-overwrite claims the
    * id; a concurrent committer's collision just moves to the next id) and
    * return the id it landed on.
    */
  // ---- snapshot versioning / time travel ---------------------------------
  // Every visible-data commit claims the table's next VERSION and records
  // a delta in the sibling `<table>__meta/` tree (`s-<v>`, one line per
  // change): `+<rel>` for an added file, `~<dirRel>` ("." = the root) for
  // a directory swap whose pre-state was RETAINED at
  // `<table>__meta/v<v-1>/<dirRel>` instead of deleted. `VERSION AS OF x`
  // reconstructs the version-x file set by walking the current tree and
  // undoing deltas v..x+1 — O(changes since x) metadata work, zero data
  // copies (retention is a rename; an object store serves it as a
  // metadata move). The meta tree lives OUTSIDE the table directory, so
  // every existing read path (scans, partition discovery, readTable) is
  // untouched, and a full-table REPLACE — which swaps the root — cannot
  // destroy its own history. VACUUM prunes retained trees past the
  // retention window (the delta files are tiny and kept; a reconstruction
  // that needs a pruned tree fails loudly as "version expired").
  // CONCURRENCY (optimistic, CAS on the version file): the s-<v> claim is
  // a create-no-overwrite — the commit lock IS the version file.
  //   - APPENDS are fully multi-writer: disjoint files never conflict; a
  //     claim loser retries the next id, manifests claim ids the same way
  //     (StagedConcurrencySpec: N racing appenders all land, versions
  //     linearize, every file recorded exactly once).
  //   - REPLACE re-keys its retained root and linearizes AFTER any append
  //     that stole its id (promote's retry loop) — last-writer-wins at
  //     the root swap, the stolen-id appends stay reachable via time
  //     travel.
  //   - row-level MUTATIONS and maintenance verbs (DELETE/UPDATE/compact/
  //     evolve/migrate) remain single-writer per table: their claims pass
  //     exact=true and FAIL LOUDLY on collision (two interleaved
  //     mutations would interleave retained trees).

  private[v2] def metaDir(prodDir: String): Path = new Path(prodDir + "__meta")

  private[graft] def currentVersion(prodDir: String): Long = {
    val md = metaDir(prodDir)
    val f = fs(md)
    if (!f.exists(md)) 0L
    else f.listStatus(md).toSeq.filter(_.isFile)
      .map(_.getPath.getName).filter(_.startsWith("s-"))
      .map(_.stripPrefix("s-").toLong).maxOption.getOrElse(0L)
  }

  /** The retained pre-state of `dirRel` ("." = root) for the swap recorded
    * at version `v` (the state AS OF version v-1).
    */
  private[v2] def retainedPath(prodDir: String, v: Long, dirRel: String): Path =
    new Path(metaDir(prodDir),
      f"v${v - 1}%d/" + (if (dirRel == ".") "__root" else dirRel))

  /** Claim version id `v` by writing its delta (create-no-overwrite).
    * Appends retry on collision (concurrent appenders each get an id);
    * mutations pass `exact = true` and fail loudly instead — a collision
    * there means two concurrent mutations, which the maintenance contract
    * forbids (their retained trees would interleave).
    */
  private[v2] def recordVersion(prodDir: String, v: Long,
                                adds: Seq[String], swaps: Seq[String],
                                exact: Boolean = true,
                                marks: Seq[String] = Nil): Long = {
    val md = metaDir(prodDir)
    val f = fs(md)
    f.mkdirs(md): Unit
    // every delta carries its commit instant (`!ts=` mark) — TIMESTAMP AS
    // OF resolves from these (monotonized at read, see commitTimeline)
    val body = ((s"!ts=${System.currentTimeMillis()}" +: marks) ++
      swaps.sorted.map("~" + _) ++ adds.sorted.map("+" + _)).mkString("\n")
    var id = v
    var done = false
    while (!done) {
      try {
        val out = f.create(new Path(md, s"s-$id"), false)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        done = true
      } catch {
        case e: java.io.IOException =>
          if (exact) throw new IllegalStateException(
            s"staged versioning: version $id already claimed on $prodDir — " +
              "two concurrent mutations? (mutations are single-writer)", e)
          id += 1
      }
    }
    id
  }

  // ---- commit timestamps / TIMESTAMP AS OF --------------------------------
  // Every version delta carries a `!ts=<epoch-millis>` mark (recordVersion
  // stamps it; pre-existing deltas fall back to the delta file's mtime).
  // Timestamp resolution MONOTONIZES the raw instants with a strictly
  // increasing running max — wall clocks stall and step backwards between
  // commits, but `TIMESTAMP AS OF` must agree with the version order
  // (Delta Lake's commit-timestamp adjustment, applied at READ so
  // already-written logs never need a rewrite). The same monotonized
  // timeline serves the `.history` table's commit_at column, so an
  // instant read from history always resolves back to the version that
  // produced it.

  /** The table-creation marker: `s-0` holding `!create` + the creation
    * instant. currentVersion already treats "no higher delta" as version
    * 0, so commit ids are unchanged; the marker exists so `TIMESTAMP AS
    * OF` an instant before the first COMMIT can resolve the created base
    * state instead of failing. No-op if any delta (s-0 included) exists.
    */
  private[graft] def stampCreation(prodDir: String): Unit = {
    val md = metaDir(prodDir)
    val f = fs(md)
    val has = f.exists(md) && f.listStatus(md).exists(st =>
      st.isFile && st.getPath.getName.startsWith("s-"))
    if (!has) {
      f.mkdirs(md): Unit
      try {
        val out = f.create(new Path(md, "s-0"), false)
        try out.write(s"!create\n!ts=${System.currentTimeMillis()}"
          .getBytes("UTF-8")) finally out.close()
      } catch { case _: java.io.IOException => () } // a racer stamped it
    }
  }

  /** (version, monotonized commit millis) ascending — the table's commit
    * timeline. O(versions) tiny-file metadata reads, never O(data).
    */
  private[graft] def commitTimeline(prodDir: String): Seq[(Long, Long)] = {
    val md = metaDir(prodDir)
    val f = fs(md)
    if (!f.exists(md)) return Seq.empty
    val raw = f.listStatus(md).toSeq.filter(_.isFile)
      .map(_.getPath).filter(_.getName.startsWith("s-"))
      .map { p =>
        val v = p.getName.stripPrefix("s-").toLong
        val ts = readString(p).getOrElse("").split("\n")
          .find(_.startsWith("!ts=")).map(_.stripPrefix("!ts=").toLong)
          .getOrElse(f.getFileStatus(p).getModificationTime)
        (v, ts)
      }.sortBy(_._1)
    var prev = Long.MinValue
    raw.map { case (v, t) =>
      val m = if (prev == Long.MinValue) t else math.max(t, prev + 1)
      prev = m
      (v, m)
    }
  }

  /** The latest version whose monotonized commit instant is <= tsMillis.
    * Throws if the table has no state that old — Iceberg's "no snapshot
    * older than" contract (resolving to an empty table no reader could
    * ever have observed would be silently wrong).
    */
  private[graft] def versionAt(prodDir: String, tsMillis: Long): Long =
    commitTimeline(prodDir).filter(_._2 <= tsMillis).map(_._1).maxOption
      .getOrElse(throw new IllegalArgumentException(
        s"$prodDir has no version at or before timestamp $tsMillis ms — " +
          "the table's first recorded commit is newer"))

  // ---- named refs (tags) --------------------------------------------------
  // `__meta/refs/<name>` holds a version id. A tag is an IMMUTABLE named
  // snapshot (Iceberg's tag refs): readable as `VERSION AS OF '<name>'`,
  // and it PINS retention — vacuum never prunes a retained tree a tagged
  // version still needs — so "keep the pre-migration state around" is
  // one metadata file, not a data copy, at any table size.

  private[v2] val RefsDir = "refs"

  private[graft] def refPath(prodDir: String, name: String): Path =
    new Path(new Path(metaDir(prodDir), RefsDir), name)

  private[graft] def createTag(s: SparkSession, table: String, name: String,
                               version: Option[Long] = None): Long = {
    val d = tableDir(s, table)
    require(name.matches("[A-Za-z_][A-Za-z0-9_.-]*"),
      s"staged refs: invalid tag name '$name' (must be identifier-like)")
    val cur = currentVersion(d)
    val v = version.getOrElse(cur)
    require(v >= 0 && v <= cur, s"$table has no version $v (current: $cur)")
    val p = refPath(d, name)
    val f = fs(p)
    f.mkdirs(p.getParent): Unit
    val out = try f.create(p, false) catch {
      case e: java.io.IOException => throw new IllegalStateException(
        s"staged refs: tag '$name' already exists on $table — tags are " +
          "immutable; drop it first", e)
    }
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    v
  }

  private[graft] def dropTag(s: SparkSession, table: String,
                             name: String): Boolean = {
    val p = refPath(tableDir(s, table), name)
    fs(p).delete(p, false)
  }

  private[graft] def listTags(prodDir: String): Seq[(String, Long)] = {
    val rd = new Path(metaDir(prodDir), RefsDir)
    val f = fs(rd)
    if (!f.exists(rd)) Seq.empty
    else f.listStatus(rd).toSeq.filter(_.isFile).map(st =>
      (st.getPath.getName,
        readString(st.getPath).getOrElse("0").trim.toLong)).sortBy(_._1)
  }

  // ---- write-audit-publish ------------------------------------------------
  /** Publish every data file of `srcTable` into `dstTable` as ONE append
    * commit, by RENAME — zero bytes copied, so staging a batch in a side
    * table, auditing it, and publishing is a metadata operation at any
    * batch size (Iceberg's write-audit-publish pattern: the audit table
    * is the WAP branch, publish is the fast-forward). Two-phase: an
    * intent file (`__meta/_wapintent` on dst, tmp+rename) records the
    * full rename map BEFORE any file moves; the version delta carries a
    * `!wap=` mark and the commit manifest a `#txn=wap:` marker, both
    * claim-once — a crash at ANY point resumes by re-calling publish
    * (renames skip-if-done, recorded markers short-circuit). The audit
    * table is dropped last (its files now belong to dst), then the
    * intent, so every crash window leaves a resumable state.
    *
    * Checked loudly: identical partition spec, src schema fields present
    * in dst's declared schema with identical types, no DVs / equality
    * deletes / layout generations on src (an audit table is written
    * fresh), and dst must not declare a sort order src lacks.
    *
    * @return (files published, bytes published)
    */
  private[graft] def publishAppends(s: SparkSession, srcTable: String,
                                    dstTable: String): (Long, Long) = {
    val sd = tableDir(s, srcTable)
    val dd = tableDir(s, dstTable)
    val sp = new Path(sd)
    val dp = new Path(dd)
    val f = fs(dp)
    val intent = new Path(metaDir(dd), "_wapintent")
    val resuming = f.exists(intent)
    require(resuming || f.exists(new Path(sp, SuccessFile)),
      s"publish_appends: source $srcTable is not a committed table")
    require(f.exists(new Path(dp, SuccessFile)),
      s"publish_appends: destination $dstTable is not a committed table")
    val srcName = sp.getName

    val mapping: Seq[(String, String)] =
      if (resuming) {
        val lines = readString(intent).getOrElse("")
          .split("\n").toSeq.filter(_.nonEmpty)
        require(lines.headOption.contains(s"src=$srcName"),
          "publish_appends: an unfinished publish from a DIFFERENT " +
            s"source is pending on $dstTable " +
            s"(${lines.headOption.getOrElse("?")}) — finish it first")
        lines.tail.map { l => val kv = l.split("\t", 2); (kv(0), kv(1)) }
      } else {
        val srcSpec = readString(new Path(sp, PartitionFile)).getOrElse("")
        val dstSpec = readString(new Path(dp, PartitionFile)).getOrElse("")
        require(srcSpec == dstSpec,
          s"publish_appends: partition specs differ ($srcTable: " +
            s"'$srcSpec' vs $dstTable: '$dstSpec') — publish renames 1:1 " +
            "by partition path and requires identical specs")
        require(!hasDvFlag(sp),
          s"publish_appends: $srcTable has merge-on-read deletes — an " +
            "audit table must be written fresh")
        require(!f.exists(new Path(sp, LayoutsDir)),
          s"publish_appends: $srcTable has layout generations")
        require(!f.listStatus(sp).exists(st => st.isFile &&
            st.getPath.getName.startsWith(EqPrefix)),
          s"publish_appends: $srcTable has equality-delete files")
        val srcSchema = readString(new Path(sp, SchemaFile))
          .map(DataType.fromJson(_).asInstanceOf[StructType])
          .getOrElse(StructType(Nil))
        val dstSchema = readString(new Path(dp, SchemaFile))
          .map(DataType.fromJson(_).asInstanceOf[StructType])
          .getOrElse(StructType(Nil))
        srcSchema.fields.foreach { sf0 =>
          require(dstSchema.fields.exists(df0 =>
            df0.name == sf0.name && df0.dataType == sf0.dataType),
            s"publish_appends: column ${sf0.name}:" +
              s"${sf0.dataType.simpleString} of $srcTable is not in " +
              s"$dstTable's schema with that type")
        }
        require(tableProperties(dp).get(SortOrderProp).forall(so =>
          tableProperties(sp).get(SortOrderProp).contains(so)),
          s"publish_appends: $dstTable declares a sort order the audit " +
            "table does not share")
        val rels = listRelative(sp).filter { rel =>
          val n = rel.split('/').last
          n.endsWith(".parquet") && !n.startsWith("_")
        }
        require(rels.nonEmpty, s"publish_appends: $srcTable has no data files")
        val m = rels.map { rel =>
          val tgt = if (!f.exists(new Path(dp, rel))) rel
          else { // same-name collision (unique write tokens make this rare)
            val segs = rel.split('/')
            (segs.dropRight(1) :+ s"wap-${segs.last}").mkString("/")
          }
          (rel, tgt)
        }
        val tmp = new Path(metaDir(dd), "_tmp-wapintent")
        f.mkdirs(metaDir(dd)): Unit
        val out = f.create(tmp, true)
        try out.write((s"src=$srcName" +: m.map { case (a, b) => s"$a\t$b" })
          .mkString("\n").getBytes("UTF-8")) finally out.close()
        if (!f.rename(tmp, intent)) throw new java.io.IOException(
          s"publish_appends: cannot record intent at $intent")
        m
      }

    // phase 2: the renames, skip-if-done (source gone AND target present)
    var bytes = 0L
    mapping.foreach { case (srcRel, dstRel) =>
      val from = new Path(sp, srcRel)
      val to = new Path(dp, dstRel)
      if (f.exists(from)) {
        f.mkdirs(to.getParent): Unit
        bytes += f.getFileStatus(from).getLen
        if (!f.rename(from, to)) throw new java.io.IOException(
          s"publish_appends: cannot move $from to $to")
      } else {
        require(f.exists(to),
          s"publish_appends: $srcRel is at neither source nor " +
            "destination — the intent does not match the tables on disk")
        bytes += f.getFileStatus(to).getLen
      }
    }

    // phase 3: ONE version delta (claim-once by its !wap mark) + ONE
    // commit manifest (claim-once by its #txn marker)
    val adds = mapping.map(_._2)
    val mark = s"!wap=$srcName"
    val md = metaDir(dd)
    val recorded = f.exists(md) && f.listStatus(md).exists(st =>
      st.isFile && st.getPath.getName.startsWith("s-") &&
        readString(st.getPath).exists(_.split("\n").contains(mark)))
    if (!recorded)
      recordVersion(dd, currentVersion(dd) + 1, adds, Nil, exact = false,
        marks = Seq(mark)): Unit
    val txn = s"wap:$srcName"
    if (!manifestIds(dp).exists(id => readManifest(dp, id)._1.contains(txn)))
      appendManifest(dp, adds, Some(txn)): Unit

    // phase 4: the audit table's files belong to dst now — drop it, THEN
    // the intent (a crash between leaves intent + no src: fully resumable)
    f.delete(sp, true): Unit
    f.delete(new Path(sd + "__meta"), true): Unit
    f.delete(intent, false): Unit
    (mapping.size.toLong, bytes)
  }

  /** A reconstructed historical state: the schema and partition spec of
    * that version's GENERATION (a replace may have changed both) and, per
    * partition dir, its values and absolute file paths.
    */
  /** One reconstructed partition directory: its table-relative path
    * (including any `_layouts/g-<n>/` generation prefix), dir values,
    * absolute parquet paths, the deletion vectors alive AT the
    * reconstructed version (by file name), and the SPEC its values parse
    * under — per-dir because a snapshot of an evolved table mixes layout
    * generations.
    */
  /** @param eq file name -> EQUALITY-delete files (absolute paths) active
    *        at the reconstructed version and applicable to it (add
    *        version below the eq boundary); empty on never-eq tables.
    */
  private[graft] case class SnapDir(rel: String, vals: Seq[String],
      files: Seq[String], deleted: Map[String, Seq[(Long, Long)]],
      spec: Seq[PartField], eq: Map[String, Seq[String]] = Map.empty)

  private[graft] case class Snapshot(schema: StructType, partSpec: Seq[PartField],
      dirs: Seq[SnapDir])

  /** `table` AS OF `version`: walks the current tree, then undoes deltas
    * newest-first down to version+1 — an added file is dropped, a swapped
    * directory's state is replaced wholesale by its retained tree, and a
    * root swap (`~.` from a REPLACE / delete-all) re-bases the whole walk
    * on the retained generation (whose own schema/partition metadata rides
    * with it). O(changes since version) metadata work. Throws if the
    * version never existed or its retained trees were vacuumed away.
    */
  private[graft] def snapshotAsOf(s: SparkSession, table: String,
                                  version: Long): Snapshot =
    snapshotOfDir(tableDir(s, table), version)

  private[v2] def snapshotOfDir(d: String, version: Long): Snapshot = {
    val f = fs(new Path(d))
    val cur = currentVersion(d)
    require(version >= 0 && version <= cur,
      s"$d has no version $version (current: $cur)")
    def specOf(dir: String): Seq[PartField] =
      readString(new Path(dir, PartitionFile))
        .map(PartSpec.deserialize).getOrElse(Seq.empty)
    def sentinel(rel: String) = if (rel.isEmpty) "." else rel
    var baseRoot = d
    var baseSpec = specOf(d)
    // full rel (any `_layouts/g-<n>/` prefix included) ->
    //   (physical dir path, file names, the dir's spec)
    val state = mutable.Map.empty[String, (Path, mutable.Set[String], Seq[PartField])]
    // equality-delete files ACTIVE at the reconstructed version, by name:
    // seeded from the base root's live set (re-seeded on a root-swap
    // rebase — a REPLACE's retained root carries ITS eq files), then the
    // walk undoes `!eqdel` (created above the target → inactive) and
    // `!eqmat` (materialized above the target → still active at it)
    val eqActive = mutable.Set.empty[String]
    def reseedEq(): Unit = {
      eqActive.clear()
      val br = new Path(baseRoot)
      if (f.exists(br)) f.listStatus(br).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && n.startsWith(EqPrefix) && n.endsWith(".parquet"))
          eqActive += n
      }
    }
    def rebase(): Unit = {
      state.clear()
      reseedEq()
      baseSpec = specOf(baseRoot)
      val dvFlagged = hasDvFlag(new Path(baseRoot))
      // every layout generation, each under its own spec — a snapshot of
      // an evolved table is a MIXED-layout state
      for ((lroot, prefix, lspec) <- layoutRoots(baseRoot))
        StagedScan.planPartitions(lroot.toString, StructType(Nil), lspec, Nil)
          .foreach { case (vals, files) =>
            val dirRel = lspec.map(_.dirName).zip(vals)
              .map { case (n, v0) => s"$n=$v0" }.mkString("/")
            val rel = sentinel(
              Seq(prefix, dirRel).filter(_.nonEmpty).mkString("/"))
            val dirPath = files.headOption
              .map(fp => new Path(fp._1).getParent).getOrElse(lroot)
            val names = mutable.Set(files.map(fp => new Path(fp._1).getName): _*)
            // live deletion vectors join the tracked name set — the same
            // `+` undo that drops an added parquet file drops an added DV,
            // so a version BEFORE the delete reads the rows back
            if (dvFlagged)
              f.listStatus(dirPath).foreach { st =>
                if (st.isFile && st.getPath.getName.startsWith(DvPrefix))
                  names += st.getPath.getName
              }
            state(rel) = (dirPath, names, lspec)
          }
    }
    // spec a swapped-in dir parses under: its generation's pinned spec if
    // layout-prefixed, else the base root's current spec
    def specFor(dirRel: String): Seq[PartField] =
      if (dirRel == LayoutsDir || dirRel.startsWith(LayoutsDir + "/")) {
        val segs = dirRel.split('/')
        specOf(new Path(new Path(baseRoot), segs.take(2).mkString("/")).toString)
      } else baseSpec
    rebase()
    for (v <- cur to (version + 1) by -1) {
      val sv = readString(new Path(metaDir(d), s"s-$v")).getOrElse("")
      val lines = sv.split("\n").toSeq.filter(_.nonEmpty)
      lines.filter(_.startsWith("+")).foreach { l =>
        val rel = l.stripPrefix("+")
        val dirRel = sentinel(rel.split('/').dropRight(1).mkString("/"))
        state.get(dirRel).foreach(_._2 -= rel.split('/').last)
      }
      lines.filter(_.startsWith("~")).foreach { l =>
        val dirRel = l.stripPrefix("~")
        val retained = retainedPath(d, v, dirRel)
        if (!f.exists(retained)) throw new IllegalStateException(
          s"$d version ${v - 1} expired: retained state $retained was " +
            "vacuumed — time travel reaches back only to the retention window")
        if (dirRel == ".") {
          // a whole-generation swap: everything before it lives under the
          // retained root, with ITS schema and partitioning
          baseRoot = retained.toString
          rebase()
        } else {
          // the retained tree rode a RENAME, deletion vectors included
          val names = f.listStatus(retained).toSeq.filter(st => st.isFile &&
            ((st.getPath.getName.endsWith(".parquet") &&
              !st.getPath.getName.startsWith("_")) ||
             st.getPath.getName.startsWith(DvPrefix))).map(_.getPath.getName)
          state(dirRel) = (retained, mutable.Set(names: _*), specFor(dirRel))
        }
      }
      // "!evolve=g-<n>": undo the evolution — the generation's entries
      // WERE the root layout. Keys re-root (strip the prefix) and the
      // base spec reverts to the generation's pinned spec; entry specs
      // already carry it.
      lines.filter(_.startsWith("!evolve=")).foreach { l =>
        val prefix = s"$LayoutsDir/${l.stripPrefix("!evolve=")}"
        val moved = state.keys
          .filter(k => k == prefix || k.startsWith(prefix + "/")).toSeq
        for (k <- moved) {
          val nk = sentinel(k.stripPrefix(prefix).stripPrefix("/"))
          state(nk) = state.remove(k).get
        }
        baseSpec = specOf(new Path(new Path(baseRoot), prefix).toString)
      }
      // equality-delete lifecycle, undone in version order: an eq created
      // above the target wasn't active yet; one materialized above the
      // target still was
      lines.filter(_.startsWith("!eqdel=")).foreach(l =>
        eqActive -= l.stripPrefix("!eqdel="))
      lines.filter(_.startsWith("!eqmat=")).foreach(l =>
        eqActive += l.stripPrefix("!eqmat="))
    }
    val schema = readString(new Path(baseRoot, SchemaFile))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"$d version $version: no schema at $baseRoot"))
    // resolve the active eq names: live at the reconstructed root, else
    // retired under __meta/eqfiles (materialized after the target; the
    // retire renames are recorded-then-moved, so a name past its !eqmat
    // mark always resolves one of the two)
    val eqResolved: Seq[(String, Long)] = eqActive.toSeq.sorted.flatMap { n =>
      val atRoot = new Path(baseRoot, n)
      val retired = new Path(new Path(metaDir(d), EqRetireDir), n)
      val p0 = if (f.exists(atRoot)) Some(atRoot)
      else if (f.exists(retired)) Some(retired)
      else None
      p0.map(p1 => (p1.toString, eqBoundary(n)))
    }
    val eqAddV: Map[String, Long] =
      if (eqResolved.isEmpty) Map.empty
      else addVersionsSince(d, eqResolved.map(_._2).min - 1, version)
    Snapshot(schema, baseSpec,
      state.toSeq.sortBy(_._1).flatMap { case (dirRel, (base, names, spec)) =>
        val (dvNames, dataNames) =
          names.toSeq.sorted.partition(_.startsWith(DvPrefix))
        if (dataNames.isEmpty) None
        else {
          // generation-prefix segments carry no '=', dir values do
          val vals = dirRel.split('/').toSeq
            .filter(_.contains("=")).map(_.split("=", 2)(1))
          // the deletion vectors alive AT this version (exactly the DV
          // files the undo walk left in the set), scoped to files present
          val dataSet = dataNames.toSet
          val deleted = mergeDvEntries(dvNames
            .flatMap(n => dvLines(new Path(base, n)))
            .filter { case (fn, _) => dataSet(fn) })
          val eqByFile: Map[String, Seq[String]] =
            if (eqResolved.isEmpty) Map.empty
            else dataNames.flatMap { n =>
              val rel = if (dirRel == ".") n else s"$dirRel/$n"
              val av = eqAddV.getOrElse(rel, -1L)
              val app = eqResolved.filter(_._2 > av).map(_._1)
              if (app.isEmpty) None else Some(n -> app)
            }.toMap
          Some(SnapDir(dirRel, vals,
            dataNames.map(n => new Path(base, n).toString), deleted, spec,
            eqByFile))
        }
      })
  }

  // ---- change data feed ---------------------------------------------------

  /** Driver-side registry of ad-hoc snapshots served through
    * `VERSION AS OF 'snap:<key>'` — how [[changesBetween]] reads a
    * RESTRICTED reconstruction (its changed dirs only) through the normal
    * SQL surface. Entries are tiny (paths + ranges) and scoped to the
    * driver's lifetime.
    */
  private[graft] val snapshotRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, Snapshot]()
  private[graft] def registerSnapshot(snap: Snapshot): String = {
    val k = java.util.UUID.randomUUID().toString.take(12)
    snapshotRegistry.put(k, snap): Unit
    k
  }

  /** NET row-level changes between two versions — the change-data-feed
    * rung (Delta's `readChangeFeed` shape, net across the range): every
    * output row is `_change_type` 'insert' (present at `toV`, absent at
    * `fromV`) or 'delete' (the reverse). Cost ∝ CHANGED DIRECTORIES, never
    * table size — the version deltas already name what moved:
    *   - an untouched dir (same file names, same vectors) reads ZERO bytes;
    *   - a pure APPEND reads only the added files;
    *   - a pure DV delete reads only the newly-deleted positions (the
    *     reader is handed the vector's COMPLEMENT, so it returns exactly
    *     the deleted rows);
    *   - only a genuinely rewritten dir (swap) pays a two-sided
    *     `exceptAll` diff of that dir's pre and post states.
    * Appends later deleted within the range cancel out (net semantics).
    * Rejects ranges crossing a REPLACE that changed schema/partitioning.
    */
  /** ROLLBACK: restore version `v` as the table's NEW current state —
    * one distributed REPLACE fed by the snapshot scan (`VERSION AS OF
    * v`), with the target generation's partition spec and the table's
    * user properties re-applied, so the restored table writes/reads
    * exactly like the original did. The rollback itself is a normal
    * versioned commit: nothing is erased, every pre-rollback version
    * stays reachable through time travel, and rolling the rollback back
    * is just another call.
    *
    * COST IS A DISTRIBUTED REWRITE of the restored bytes (executor
    * tasks, scales with cluster width) — NOT metadata-only. This engine
    * retains swapped-out states as renamed trees; sharing files between
    * the live tree and history (what makes Iceberg's rollback free)
    * would break the other versions' reconstructions, so the restore
    * honestly re-materializes. Returns the new current version.
    */
  private[graft] def rollbackToVersion(s: SparkSession, table: String,
                                       v: Long): Long = {
    import org.apache.spark.sql.functions.{bucket, col, days}
    val d = tableDir(s, table)
    val snap = snapshotOfDir(d, v) // throws if v never existed / expired
    val props = tableProperties(new Path(d))
    val df = s.sql(s"SELECT * FROM $table VERSION AS OF $v")
    var w = df.writeTo(table)
    props.foreach { case (k, pv) => w = w.tableProperty(k, pv) }
    val cols = snap.partSpec.map {
      case PartField(n, "bucket", b) => bucket(b, col(n))
      case PartField(n, "days", _)   => days(col(n))
      case PartField(n, _, _)        => col(n)
    }
    if (cols.nonEmpty) w.partitionedBy(cols.head, cols.tail: _*).createOrReplace()
    else w.createOrReplace()
    currentVersion(d)
  }

  /** The change feed over a WALL-CLOCK window: both instants resolve
    * through the monotonized commit timeline ([[versionAt]]) and the
    * range delegates to the version form — "what changed since the 9am
    * sync?" without version bookkeeping in the caller.
    */
  def changesBetweenInstants(s: SparkSession, table: String,
      fromMs: Long, toMs: Long): org.apache.spark.sql.DataFrame = {
    val d = tableDir(s, table)
    changesBetween(s, table, versionAt(d, fromMs), versionAt(d, toMs))
  }

  def changesBetween(s: SparkSession, table: String,
                     fromV: Long, toV: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromV <= toV, s"changesBetween: fromV $fromV > toV $toV")
    val d = tableDir(s, table)
    val a = snapshotOfDir(d, fromV)
    val b = snapshotOfDir(d, toV)
    // a partition-spec EVOLUTION inside the range renames every committed
    // file (layout move): the per-dir diff below would misread it as a
    // full rewrite of every directory — reject loudly instead (checked
    // FIRST: an evolution also changes the spec, and this message names
    // the actual cause)
    require(!((fromV + 1) to toV).exists(v =>
      readString(new Path(metaDir(d), s"s-$v"))
        .exists(_.split("\n").exists(_.startsWith("!evolve=")))),
      "changesBetween: the range crosses a partition-spec evolution — " +
        "diff up to the evolution version and from it separately")
    // an equality-delete commit (or its materialization) changes rows with
    // no per-dir file diff to read them from — the feed would misreport
    // the eq-deleted rows as unchanged. Materialize, then diff across the
    // materialization from its retained trees.
    require(!((fromV + 1) to toV).exists(v =>
      readString(new Path(metaDir(d), s"s-$v"))
        .exists(_.split("\n").exists(l =>
          l.startsWith("!eqdel=") || l.startsWith("!eqmat=")))),
      "changesBetween: the range crosses an equality-delete commit — " +
        "materialize (compact) first, or diff around the eq versions")
    require(a.schema.json == b.schema.json && a.partSpec == b.partSpec,
      "changesBetween: the range crosses a REPLACE that changed the " +
        "schema or partitioning — diff the generations separately")
    type Dir = SnapDir
    val am = a.dirs.map(t => (t.rel, t)).toMap
    val bm = b.dirs.map(t => (t.rel, t)).toMap
    def byName(paths: Seq[String]): Map[String, String] =
      paths.map(p => new Path(p).getName -> p).toMap
    val insertDirs = mutable.Buffer.empty[Dir]
    val deleteDirs = mutable.Buffer.empty[Dir]
    val fullA = mutable.Buffer.empty[Dir]
    val fullB = mutable.Buffer.empty[Dir]
    for (key <- (am.keySet ++ bm.keySet).toSeq.sorted) {
      (am.get(key), bm.get(key)) match {
        case (None, Some(bd)) => insertDirs += bd  // new dir: all inserts
        case (Some(ad), None) => deleteDirs += ad  // dropped dir: all deletes
        case (Some(ad), Some(bd)) =>
          val an = byName(ad.files); val bn = byName(bd.files)
          val added = (bn.keySet -- an.keySet).toSeq.sorted
          val removed = an.keySet -- bn.keySet
          val common = (an.keySet intersect bn.keySet).toSeq.sorted
          val dvGrewOnly = common.forall { n =>
            val da = ad.deleted.getOrElse(n, Nil)
            val db = bd.deleted.getOrElse(n, Nil)
            rangeSubtract(da, db).isEmpty // every old deletion still holds
          }
          if (removed.nonEmpty || !dvGrewOnly) {
            // a rewrite/swap: pay the two-sided diff for THIS dir only
            fullA += ad; fullB += bd
          } else {
            if (added.nonEmpty)
              insertDirs += bd.copy(files = added.map(bn),
                deleted = bd.deleted.filter { case (n, _) => added.contains(n) })
            val dvDiff = common.flatMap { n =>
              val diff = rangeSubtract(bd.deleted.getOrElse(n, Nil),
                ad.deleted.getOrElse(n, Nil))
              if (diff.isEmpty) None
              else Some((n, rangeComplement(diff))) // read ONLY the deleted
            }.toMap
            if (dvDiff.nonEmpty)
              deleteDirs += bd.copy(
                files = common.filter(dvDiff.contains).map(bn),
                deleted = dvDiff)
          }
      }
    }
    def readSnap(dirs: Seq[Dir]): org.apache.spark.sql.DataFrame =
      if (dirs.isEmpty) s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), b.schema)
      else {
        val k = registerSnapshot(Snapshot(b.schema, b.partSpec, dirs))
        s.sql(s"SELECT * FROM $table VERSION AS OF 'snap:$k'")
      }
    readSnap(insertDirs.toSeq)
      .unionByName(readSnap(fullB.toSeq).exceptAll(readSnap(fullA.toSeq)))
      .withColumn("_change_type", lit("insert"))
      .unionByName(
        readSnap(deleteDirs.toSeq)
          .unionByName(readSnap(fullA.toSeq).exceptAll(readSnap(fullB.toSeq)))
          .withColumn("_change_type", lit("delete")))
  }

  /** Carry the manifest log across a ROOT swap (compaction / COW on an
    * unpartitioned table): the log is table metadata like the schema —
    * losing it would regress every tail's offset.
    */
  private[v2] def copyManifests(root: Path, stagePart: Path): Unit = {
    val f = fs(root)
    val md = new Path(root, ManifestDir)
    if (f.exists(md))
      FileUtil.copy(f, md, f, new Path(stagePart, ManifestDir),
        false, hadoopConf): Unit
  }

  private[v2] def appendManifest(root: Path, files: Seq[String],
                                 txn: Option[String] = None): Long = {
    val f = fs(root)
    f.mkdirs(new Path(root, ManifestDir)): Unit
    val body = (txn.map("#txn=" + _).toSeq ++ files.sorted).mkString("\n")
    var id = manifestIds(root).lastOption.map(_ + 1).getOrElse(0L)
    var done = false
    while (!done) {
      try {
        val out = f.create(manifestPath(root, id), false)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        done = true
      } catch { case _: java.io.IOException => id += 1 }
    }
    id
  }

  // ---- table properties ---------------------------------------------------

  private[graft] def tableProperties(root: Path): Map[String, String] =
    readString(new Path(root, PropertiesFile)).map(_.split("\n").toSeq
      .filter(_.contains("=")).map { l =>
        val kv = l.split("=", 2); (kv(0), kv(1)) }.toMap).getOrElse(Map.empty)

  private[v2] def writeProperties(root: Path, props: Map[String, String]): Unit =
    if (props.nonEmpty)
      writeString(root, PropertiesFile,
        props.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\n"))

  /** Keys Spark injects on CREATE/REPLACE that are catalog bookkeeping,
    * not user table properties.
    */
  private val ReservedProps: Set[String] =
    Set("provider", "location", "owner", "comment", "external")
  private[v2] def userProps(properties: util.Map[String, String]): Map[String, String] =
    properties.asScala.toMap.filter { case (k, _) =>
      !ReservedProps.contains(k) && !k.startsWith("option.") }

  // ---- deletion vectors ---------------------------------------------------
  // MERGE-ON-READ deletes (table property `delete.mode=merge-on-read`,
  // Iceberg's write.delete.mode contract): instead of rewriting every
  // file a sparse DELETE touches, the statement writes one `_dv-*` file
  // per affected directory listing DELETED ROW POSITIONS (file name +
  // coalesced [start,end) runs — O(deleted runs) bytes). The scan unions
  // a directory's DV files and skips those positions at read time; the
  // next compaction (or any copy-on-write rewrite of the file) MATERIALIZES
  // the deletes and drops the vector. At 100 TB this is the difference
  // between a point delete costing one tiny metadata write and costing a
  // 1 GB file rewrite — while dense deletes still take the COW tier, whose
  // full-file rewrite reads cheaper than a scan that skips most rows.

  /** Union of every `_dv-*` file in `dir`: data-file name -> sorted,
    * coalesced deleted row-position ranges [start, end), positions
    * FILE-absolute. Additive: each DELETE statement appends its own DV
    * file; overlapping runs coalesce at read.
    */
  private[graft] def readDvs(dir: Path): Map[String, Seq[(Long, Long)]] = {
    val f = fs(dir)
    if (!f.exists(dir)) Map.empty
    else mergeDvEntries(f.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(DvPrefix))
      .flatMap(st => dvLines(st.getPath)))
  }

  /** One DV file's entries (un-merged) — time travel reads exactly the DV
    * files alive AT a version, not a directory's whole current set.
    */
  /** One deletion-vector line: `file\tstart\tend`, positions [start, end). */
  private def dvLine(file: String, start: Long, end: Long): String =
    s"$file\t$start\t$end"

  private[graft] def dvLines(p: Path): Seq[(String, (Long, Long))] =
    readString(p).toSeq.flatMap(_.split("\n")).filter(_.nonEmpty)
      .map { l => val q = l.split("\t"); (q(0), (q(1).toLong, q(2).toLong)) }

  private[graft] def mergeDvEntries(
      entries: Seq[(String, (Long, Long))]): Map[String, Seq[(Long, Long)]] =
    entries.groupBy(_._1).map { case (name, rs) =>
      (name, mergeRanges(rs.map(_._2))) }

  private[graft] def mergeRanges(rs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    rs.sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: tail, (s1, e1)) if s1 <= e0 =>
        (s0, math.max(e0, e1)) :: tail
      case (acc, r) => r :: acc
    }.reverse

  /** Write one deletion-vector file into `dir` (returns its name) and
    * raise the table-root [[DvFlagFile]].
    */
  private[v2] def writeDv(tableRoot: Path, dir: Path,
                          entries: Map[String, Seq[(Long, Long)]]): String = {
    val name = DvPrefix + java.util.UUID.randomUUID().toString.take(12) + ".txt"
    val body = entries.toSeq.sortBy(_._1).flatMap { case (fn, rs) =>
      rs.map { case (s0, e0) => dvLine(fn, s0, e0) } }.mkString("\n")
    writeString(dir, name, body)
    writeString(tableRoot, DvFlagFile, "")
    name
  }

  /** Executor half of the MOR find-positions plan ([[cowWhereDir]] PASS
    * 1.5): `rows` are one task's matched (dirRel, file, position) triples,
    * sorted by all three, so every directory is one contiguous run and
    * each file one contiguous run inside it. Streams each directory into
    * ONE `_tmp-dv-*` file in that directory — the [[writeDv]] body, lines
    * sorted by file, then runs ascending — and returns
    * (dirRel, tmpName, matched rows, files with a match) per directory.
    */
  private[v2] def writeDvRuns(rows: Iterator[(String, String, Long)],
                              dirAbsByRel: Map[String, String],
                              conf: Configuration): Iterator[(String, String, Long, Long)] = {
    val it = rows.buffered
    val out = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
    while (it.hasNext) {
      val dirRel = it.head._1
      val dirPath = new Path(dirAbsByRel(dirRel))
      val tmpName = "_tmp-dv-" +
        java.util.UUID.randomUUID().toString.take(12) + ".txt"
      val o = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        dirPath.getFileSystem(conf).create(new Path(dirPath, tmpName), true),
        java.nio.charset.StandardCharsets.UTF_8))
      var matched, nFiles = 0L
      try {
        while (it.hasNext && it.head._1 == dirRel) {
          val src = it.head._2
          val name = new Path(src).getName
          nFiles += 1
          while (it.hasNext && it.head._1 == dirRel && it.head._2 == src) {
            val start = it.next()._3
            var end = start + 1
            while (it.hasNext && it.head._1 == dirRel && it.head._2 == src &&
                   it.head._3 <= end)
              end = math.max(end, it.next()._3 + 1)
            if (matched > 0) o.write('\n')
            o.write(dvLine(name, start, end))
            matched += end - start
          }
        }
      } finally o.close()
      out += ((dirRel, tmpName, matched, nFiles))
    }
    out.iterator
  }

  private[graft] def hasDvFlag(root: Path): Boolean =
    fs(root).exists(new Path(root, DvFlagFile))

  // ---- equality deletes ---------------------------------------------------

  private[graft] def hasEqFlag(root: Path): Boolean =
    fs(root).exists(new Path(root, EqFlagFile))

  /** Live equality-delete files at the table root: (absolute path, add
    * boundary), boundary-ascending.
    */
  private[graft] def liveEqFiles(d: String): Seq[(String, Long)] = {
    val root = new Path(d)
    val f = fs(root)
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(EqPrefix) &&
        st.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.toString, eqBoundary(st.getPath.getName)))
      .sortBy(_._2)
  }

  private[graft] def eqBoundary(name: String): Long =
    name.stripPrefix(EqPrefix).split("-")(0).toLong

  /** rel data-file path -> the version whose delta ADDED it, for adds
    * recorded in (fromV, toV] — O(toV-fromV) tiny metadata reads, done
    * once per scan plan. Files absent from the map were added at or below
    * fromV, or entered by a swap (COW rewrites copy RAW rows, so a
    * rewritten file legitimately re-needs every eq filter): both classes
    * are conservatively OLD, and every equality delete with a boundary
    * above fromV applies to them.
    */
  private[graft] def addVersionsSince(d: String, fromV: Long,
                                      toV: Long): Map[String, Long] = {
    val md = metaDir(d)
    val m = mutable.Map.empty[String, Long]
    for (v <- (fromV + 1) to toV;
         sv <- readString(new Path(md, s"s-$v")).toSeq;
         l <- sv.split("\n") if l.startsWith("+"))
      m(l.stripPrefix("+")) = v
    m.toMap
  }

  /** Write one equality-delete file at the table root: the incoming
    * (already-distinct, non-null) key values in `keyDf`, single column
    * named the key. ONE narrow job over the epoch's own files — cost ∝
    * epoch bytes, independent of destination size, the whole point.
    * Returns the published name.
    */
  private[v2] def writeEqFile(s: SparkSession, d: String,
                              keyDf: org.apache.spark.sql.DataFrame,
                              boundary: Long): String = {
    val root = new Path(d)
    val f = fs(root)
    val tmp = new Path(
      d + "__staging.eq-" + java.util.UUID.randomUUID().toString.take(8))
    keyDf.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = f.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
      .getOrElse(throw new IllegalStateException(
        s"equality-delete write produced no parquet under $tmp"))
    val name = EqPrefix + boundary + "-" +
      java.util.UUID.randomUUID().toString.take(8) + ".parquet"
    if (!f.rename(part, new Path(root, name)))
      throw new java.io.IOException(s"cannot publish equality delete $name")
    f.delete(tmp, true): Unit
    writeString(root, EqFlagFile, "")
    name
  }

  /** MATERIALIZE every live equality delete into the physical tiers (the
    * same tiered DV/COW core a position delete uses) and RETIRE the eq
    * files under `__meta/eqfiles/`. This is the deferred price the
    * per-epoch eq write avoided — one destination scan, paid at
    * maintenance (compaction, row-level COW, dynamic overwrite,
    * partition-spec evolution), never on the CDC hot path. Those verbs
    * call this FIRST: they rewrite or move data files, which would reset
    * a file's add-version and wrongly re-expose it to older eq filters.
    *
    * Applicability is NESTED in the add version (an eq applies to every
    * file added below its boundary), so files group by how many
    * boundaries they sit above; each group takes ONE tiered delete with
    * the union of its applicable keys, excludeNames masking the rest.
    * Crash-safe: group deletes are physically idempotent (a re-run
    * matches no surviving row), the `!eqmat` marks record BEFORE the
    * retire renames, and the flag drops last — a rerun at any window
    * converges.
    */
  private[v2] def materializeEqDeletes(s: SparkSession, d: String): Unit = {
    import org.apache.spark.sql.functions.{col, max, min}
    val root = new Path(d)
    val f = fs(root)
    if (!hasEqFlag(root)) return
    val eqs = liveEqFiles(d)
    if (eqs.isEmpty) { f.delete(new Path(root, EqFlagFile), false): Unit; return }
    val addV = addVersionsSince(d, eqs.map(_._2).min - 1, currentVersion(d))
    val boundaries = eqs.map(_._2)
    val rels = listRelative(root).filter { rel =>
      val n = rel.split('/').last
      n.endsWith(".parquet") && !n.startsWith("_")
    }
    val allNames = rels.map(_.split('/').last).toSet
    // group index = how many boundaries the file's add version has passed;
    // eq files at indices >= that apply to it
    val groups = rels.groupBy { rel =>
      val av = addV.getOrElse(rel, -1L)
      boundaries.count(_ <= av)
    }
    // Spark's file index hides `_`-prefixed paths, so the eq files stage
    // as visible-name copies for the distributed key read (small files;
    // the copy is the price of data files and delete files sharing one
    // directory tree)
    val stage = new Path(
      d + "__staging.eqmat-" + java.util.UUID.randomUUID().toString.take(8))
    f.mkdirs(stage): Unit
    val staged: Map[String, String] = eqs.zipWithIndex.map { case (e, i) =>
      val to = new Path(stage, s"eq-$i.parquet")
      if (!org.apache.hadoop.fs.FileUtil.copy(f, new Path(e._1), f, to,
          false, s.sparkContext.hadoopConfiguration))
        throw new java.io.IOException(s"cannot stage eq file ${e._1}")
      e._1 -> to.toString
    }.toMap
    try {
    for ((gi, files) <- groups.toSeq.sortBy(_._1) if gi < eqs.length) {
      val applicable = eqs.drop(gi)
      val byKey = applicable.map(e => s.read.parquet(staged(e._1)))
        .groupBy(_.schema.fieldNames.head)
      for ((kc, dfs) <- byKey) {
        val union = dfs.reduce(_ unionByName _).distinct()
        val mm = union.agg(min(col(kc)), max(col(kc))).head()
        if (!mm.isNullAt(0))
          cowWhereDir(s, d,
            Seq(org.apache.spark.sql.sources.GreaterThanOrEqual(kc, mm.get(0)),
              org.apache.spark.sql.sources.LessThanOrEqual(kc, mm.get(1))),
            None, excludeNames = allNames -- files.map(_.split('/').last),
            keySet = Some((kc, union)), skipEqSettle = true): Unit
      }
    }
    } finally f.delete(stage, true): Unit
    // retire: marks FIRST (a crash between renames then loses no history
    // — a root-resident file past its mark double-deletes already-deleted
    // rows, a no-op), renames second, flag last
    val names = eqs.map(e => new Path(e._1).getName)
    recordVersion(d, currentVersion(d) + 1, Nil, Nil,
      marks = names.map(n => s"!eqmat=$n")): Unit
    val rd = new Path(metaDir(d), EqRetireDir)
    f.mkdirs(rd): Unit
    for (n <- names) {
      val from = new Path(root, n)
      val to = new Path(rd, n)
      if (f.exists(to)) f.delete(from, false): Unit
      else if (f.exists(from)) {
        if (!f.rename(from, to))
          throw new java.io.IOException(s"cannot retire equality delete $n")
      }
      // else: a group delete on an UNPARTITIONED layout mutates by root
      // swap, and the eq file rode the retention rename — history is
      // intact (the snapshot walk reseeds its eq set from the rebased
      // retained root), there is just nothing left to move
    }
    f.delete(new Path(root, EqFlagFile), false): Unit
  }

  /** Scan-plan view of the live equality deletes: Nil on unflagged tables
    * (one O(1) probe); else each live eq file with its boundary plus the
    * add-version map the per-file applicability test needs.
    */
  private[graft] def eqPlanState(d: String): (Seq[(String, Long)], Map[String, Long]) = {
    if (!hasEqFlag(new Path(d))) (Nil, Map.empty)
    else {
      val eqs = liveEqFiles(d)
      if (eqs.isEmpty) (Nil, Map.empty)
      else (eqs, addVersionsSince(d, eqs.map(_._2).min - 1, currentVersion(d)))
    }
  }

  /** Rows the DRIVER materialized in the last merge-on-read DELETE's
    * position pass — one per touched directory with the executor-side DV
    * write (StagedDvSpec pins ≤ O(dirs); before r12 this was O(deleted
    * runs), the 100 TB sparse-delete bottleneck). -1 = no MOR pass ran.
    */
  private[graft] val morDriverRows = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Epochs whose replace half took the EQUALITY-DELETE form (`graft.
    * upsert.eq`) — spec/probe observability.
    */
  private[graft] val upsertEqEpochs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Epoch deletes that took the WIDE (distributed keySet) form — spec
    * visibility that a ≥keyInMax epoch never collected its keys.
    */
  private[graft] val upsertWideEpochs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Deleted-row count within the FILE-absolute row span [rowStart,
    * rowEnd) under sorted coalesced `ranges`.
    */
  private[graft] def deletedWithin(ranges: Seq[(Long, Long)],
                                   rowStart: Long, rowEnd: Long): Long =
    ranges.map { case (s0, e0) =>
      math.max(0L, math.min(e0, rowEnd) - math.max(s0, rowStart)) }.sum

  /** `from` minus `minus` over sorted coalesced ranges — the positions
    * deleted in a LATER vector but not an earlier one (the change feed's
    * per-file delete set).
    */
  private[graft] def rangeSubtract(from: Seq[(Long, Long)],
                                   minus: Seq[(Long, Long)]): Seq[(Long, Long)] =
    from.flatMap { case (s0, e0) =>
      var cur = s0
      val out = mutable.Buffer.empty[(Long, Long)]
      minus.filter { case (ms, me) => me > s0 && ms < e0 }.foreach {
        case (ms, me) =>
          if (ms > cur) out += ((cur, math.min(ms, e0)))
          cur = math.max(cur, me)
      }
      if (cur < e0) out += ((cur, e0))
      out.toSeq
    }

  /** Complement of sorted coalesced ranges over [0, Long.MaxValue). Used
    * to read ONLY a vector's deleted positions: handing the reader the
    * complement as its skip set returns exactly the deleted rows.
    */
  private[graft] def rangeComplement(rs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = mutable.Buffer.empty[(Long, Long)]
    var cur = 0L
    rs.foreach { case (s0, e0) =>
      if (s0 > cur) out += ((cur, s0))
      cur = math.max(cur, e0)
    }
    if (cur < Long.MaxValue) out += ((cur, Long.MaxValue))
    out.toSeq
  }

  /** Java-serializable Hadoop Configuration carrier for closures that do
    * filesystem work in TASKS (the executor-side deletion-vector write):
    * Configuration itself is Writable but not Serializable, and Spark's
    * own wrapper is private[spark].
    */
  private[v2] class SerializableHadoopConf(@transient private var c: Configuration)
      extends Serializable {
    def value: Configuration = c
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      c.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      c = new Configuration(false)
      c.readFields(in)
    }
  }

  private[v2] def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  private[v2] def hadoopConf: Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** Atomic-swap promotion of a fully-written staging dir over prod —
    * same checked-rename contract as TableLifecycle.renameReplace
    * (FileSystem.rename/delete signal failure by returning FALSE; every
    * step is checked so a failed swap can never delete the only copy of
    * prod).
    */
  private[v2] def promote(stagingDir: String, prodDir: String): Unit = {
    if (!fs(new Path(stagingDir)).exists(new Path(stagingDir, SuccessFile)))
      throw new IllegalStateException(
        s"promote: staging $stagingDir has no $SuccessFile — write not committed")
    // a full-table replace is one version: the old root retains wholesale
    // (`~.`); a first-ever promote (no prod yet) records the new files
    val v = currentVersion(prodDir) + 1
    val hadProd = swapDirs(stagingDir, prodDir,
      Some(retainedPath(prodDir, v, ".")))
    // OPTIMISTIC version claim (r12 VERDICT #4): concurrent APPENDS may
    // have taken v between the read above and this record — their claims
    // CAS-retry past each other by design. Throwing here (the exact=true
    // default) would leave the table swapped but its version UNRECORDED —
    // an irreversible half-commit. Instead the replace re-keys its
    // retained root to a fresh id and linearizes AFTER the appends.
    // (An append whose files landed in the pre-swap root rode the
    // retention rename — last-writer-wins is the REPLACE contract; the
    // rows stay reachable through time travel at the re-keyed version.)
    val adds: Seq[String] =
      if (hadProd) Nil
      else listRelative(new Path(prodDir)).filter(rel =>
        rel.endsWith(".parquet") && !rel.split('/').last.startsWith("_"))
    var id = v
    var done = false
    while (!done) {
      try {
        recordVersion(prodDir, id,
          if (hadProd) Nil else adds, if (hadProd) Seq(".") else Nil): Unit
        done = true
      } catch {
        case _: IllegalStateException =>
          val id2 = currentVersion(prodDir) + 1
          if (hadProd) {
            val f = fs(new Path(prodDir))
            val from = retainedPath(prodDir, id, ".")
            val to = retainedPath(prodDir, id2, ".")
            if (f.exists(from)) {
              f.mkdirs(to.getParent): Unit
              if (!f.rename(from, to)) throw new java.io.IOException(
                s"promote: cannot re-key retained root $from to $to")
            }
          }
          id = id2
      }
    }
  }

  /** The checked prod→old / staging→prod / drop-old rename dance, shared by
    * the full-table promote and the per-partition dynamic-overwrite swap.
    * With `retainTo`, the swapped-out state is RENAMED into the version
    * tree instead of deleted (time travel's data retention — a metadata
    * move, no bytes copied); returns whether a pre-state existed (callers
    * record `~dir` only for real swaps, `+file`s for fresh dirs).
    */
  private[v2] def swapDirs(stagingDir: String, prodDir: String,
                           retainTo: Option[Path] = None): Boolean = {
    val staging = new Path(stagingDir)
    val prod = new Path(prodDir)
    val old = new Path(prodDir + "__old")
    val f = fs(prod)
    if (f.exists(old) && !f.delete(old, true))
      throw new java.io.IOException(s"promote: cannot clear $old")
    val hadProd = f.exists(prod)
    if (hadProd && !f.rename(prod, old))
      throw new java.io.IOException(
        s"promote: cannot move prod aside ($prodDir); prod untouched")
    if (!f.rename(staging, prod)) {
      if (hadProd) f.rename(old, prod): Unit // restore before failing
      throw new java.io.IOException(
        s"promote: cannot publish staging ($stagingDir); prod restored")
    }
    retainTo match {
      case Some(keep) if hadProd =>
        f.mkdirs(keep.getParent): Unit
        if (!f.rename(old, keep))
          throw new java.io.IOException(
            s"promote: cannot retain pre-state at $keep (prod is live)")
      case _ =>
        f.delete(old, true): Unit // best-effort; prod is already live
    }
    hadProd
  }

  /** Abort-side staging delete with bounded retries: task kill is
    * asynchronous, so a dying task's in-flight file create can race the
    * driver's delete and resurrect the staging dir — re-checking a few
    * times closes the window (the task side also deletes files whose
    * creation was interrupted, see [[StagedParquetDataWriter.openWriter]]).
    */
  private[v2] def deleteStaging(dir: String): Unit = {
    val p = new Path(dir)
    val f = fs(p)
    var attempts = 0
    f.delete(p, true): Unit
    while (f.exists(p) && attempts < 5) {
      Thread.sleep(200)
      f.delete(p, true): Unit
      attempts += 1
    }
  }

  private[v2] def writeString(dir: Path, name: String, content: String): Unit = {
    val f = fs(dir)
    val out = f.create(new Path(dir, name), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private[v2] def readString(p: Path): Option[String] = {
    val f = fs(p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** Recursive data-file listing as paths RELATIVE to `dir` — the commit
    * sweep's view of a (possibly partitioned) table directory. Metadata
    * files at the root are excluded; goes through the Hadoop FileSystem
    * API so the table can live on object storage.
    *
    * Tolerates CONCURRENT-WRITER churn: a racing appender's task commit
    * renames `_tmp-*` files while this walks, and a file vanishing
    * between the directory read and its stat throws (RawLocalFileSystem
    * even shells out for permissions and surfaces a RuntimeException).
    * Those transients belong to the OTHER writer's in-flight state — the
    * sweep never touches foreign tokens anyway — so the walk retries a
    * few times and only then rethrows (a persistent failure is a real
    * I/O problem, not a race).
    */
  private[v2] def listRelative(dir: Path): Seq[String] = {
    val f = fs(dir)
    var attempt = 0
    while (true) {
      try {
        if (!f.exists(dir)) return Seq.empty
        val base = dir.toUri.getPath
        val it = f.listFiles(dir, true)
        val out = mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          val rel = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
          out += rel
        }
        return out.toSeq
      } catch {
        case _: java.io.FileNotFoundException | _: RuntimeException
            if attempt < 4 =>
          attempt += 1
          Thread.sleep(50L * attempt)
      }
    }
    Seq.empty // unreachable (the loop returns or rethrows)
  }
}

// ---------------------------------------------------------------------------
// Partition spec: identity + days + bucket transforms
// ---------------------------------------------------------------------------

/** One partition field: `kind` is `identity` (column value becomes the
  * directory, column leaves the data files), `days` (a derived
  * `<name>_day=yyyy-MM-dd` directory from a timestamp/date column, which
  * stays in the data files), or `bucket` (a derived
  * `<name>_bucket=<hash(value) mod buckets>` directory — the
  * HIGH-CARDINALITY co-location transform: identity partitioning needs a
  * directory per distinct key, bucket keeps a fixed fan-out at any key
  * cardinality, so two 100 TB facts bucketed the same way
  * storage-partition-join with zero exchanges).
  */
case class PartField(name: String, kind: String, buckets: Int = 0) {
  def dirName: String = kind match {
    case "days"   => s"${name}_day"
    case "bucket" => s"${name}_bucket"
    case _        => name
  }
}

/** The bucket hash both the writer and the scan's pruning share — the
  * function IS the table layout, so it is pinned here once: 64-bit
  * SplitMix64 finalizer for integers (Steele et al., JDK SplittableRandom),
  * FNV-1a 64 over UTF-8 bytes for strings, bucket id = floorMod(h, n).
  * Deterministic and dependency-free; both join sides route through the
  * same function, which is all storage-partitioned joins require.
  */
object BucketHash {
  def ofLong(v: Long): Long = {
    var z = v + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def ofBytes(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }
  def id(h: Long, n: Int): Int = java.lang.Math.floorMod(h, n.toLong).toInt

  /** Bucket id of an external/internal literal AS the column's type; None =
    * a value this cannot canonicalize with certainty (callers keep the
    * partition — pruning only skips I/O).
    */
  def idFor(dt: DataType, v: Any, n: Int): Option[Int] = (dt, v) match {
    case (IntegerType, i: Int)    => Some(id(ofLong(i.toLong), n))
    case (IntegerType, l: Long) if l >= Int.MinValue && l <= Int.MaxValue =>
      Some(id(ofLong(l), n))
    case (LongType, l: Long)      => Some(id(ofLong(l), n))
    case (LongType, i: Int)       => Some(id(ofLong(i.toLong), n))
    case (StringType, s: String)  => Some(id(ofBytes(s.getBytes("UTF-8")), n))
    case (StringType, u: org.apache.spark.unsafe.types.UTF8String) =>
      Some(id(ofBytes(u.getBytes), n))
    case _                        => None
  }
}

object PartSpec {
  /** Parse the V2 transforms; anything beyond identity/days/bucket is
    * rejected loudly (a silently ignored transform would write an
    * unpartitioned table the caller believes is partitioned).
    */
  def fromTransforms(partitions: Array[Transform]): Seq[PartField] =
    partitions.toSeq.map { t =>
      val refs = t.references()
      require(refs.length == 1 && refs.head.fieldNames().length == 1,
        s"staged catalog: unsupported partition reference in $t")
      val col = refs.head.fieldNames().head
      t.name() match {
        case "identity" => PartField(col, "identity")
        case "days"     => PartField(col, "days")
        case "bucket" =>
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.dataType() == IntegerType => l.value().asInstanceOf[Int]
          }.getOrElse(throw new UnsupportedOperationException(
            s"staged catalog: bucket transform without a bucket count: $t"))
          require(n > 0, s"staged catalog: bucket count must be positive: $n")
          PartField(col, "bucket", n)
        case other => throw new UnsupportedOperationException(
          s"staged catalog: unsupported partition transform '$other' (identity/days/bucket only)")
      }
    }

  def toTransforms(spec: Seq[PartField]): Array[Transform] =
    spec.map {
      case PartField(n, "identity", _) => Expressions.identity(n)
      case PartField(n, "days", _)     => Expressions.days(n)
      case PartField(n, "bucket", b)   => Expressions.bucket(b, n)
      case PartField(n, k, _) =>
        throw new IllegalStateException(s"bad partition kind $k for $n")
    }.toArray

  def serialize(spec: Seq[PartField]): String =
    spec.map(p =>
      if (p.kind == "bucket") s"${p.name}:${p.kind}:${p.buckets}"
      else s"${p.name}:${p.kind}").mkString("\n")

  def deserialize(s: String): Seq[PartField] =
    s.split("\n").toSeq.filter(_.nonEmpty).map { line =>
      line.split(":") match {
        case Array(n, k)    => PartField(n, k)
        case Array(n, k, b) => PartField(n, k, b.toInt)
        case _ => throw new IllegalStateException(s"bad partition line: $line")
      }
    }

  /** Identity-partition columns ride in the directory name; everything else
    * (including days-transform SOURCE columns) stays in the data files.
    * Returns (field, ordinal-in-full-row) for the data-file schema.
    */
  def dataFields(schema: StructType, spec: Seq[PartField]): Seq[(StructField, Int)] = {
    val identity = spec.filter(_.kind == "identity").map(_.name).toSet
    schema.fields.toSeq.zipWithIndex.filterNot { case (f, _) => identity(f.name) }
  }

  /** Hive-convention escaping of a partition VALUE, applied to its UTF-8
    * BYTES: anything outside the ASCII-safe set becomes a fixed-width %XX
    * per byte, so `=`, `/`, `:` and friends can never corrupt the
    * directory structure and multi-byte characters reconstitute exactly
    * (a per-CHAR escape emits variable-width %XXXX above 0xFF, which the
    * two-hex-digit unescape would corrupt — lost rows through pruning).
    */
  def escape(v: String): String = {
    val sb = new StringBuilder
    v.getBytes("UTF-8").foreach { b =>
      val c = (b & 0xff).toChar
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == '.' || c == '-' || c == '_') sb.append(c)
      else f"%%${b & 0xff}%02X".foreach(sb.append)
    }
    sb.toString
  }

  /** Inverse of [[escape]]: %XX byte sequences back through UTF-8. */
  def unescape(v: String): String = {
    val out = new java.io.ByteArrayOutputStream(v.length)
    var i = 0
    while (i < v.length) {
      if (v.charAt(i) == '%' && i + 3 <= v.length) {
        out.write(Integer.parseInt(v.substring(i + 1, i + 3), 16))
        i += 3
      } else { out.write(v.charAt(i).toInt); i += 1 }
    }
    new String(out.toByteArray, "UTF-8")
  }

  /** Per-row partition directory (e.g. `k=3/ts_day=2024-03-01`), empty for
    * an unpartitioned table. Resolved ordinals/types are precomputed in
    * [[partEvaluators]]; this just runs them.
    */
  def partEvaluators(schema: StructType, spec: Seq[PartField]): Seq[InternalRow => String] =
    spec.map { pf =>
      val ord = schema.fieldIndex(pf.name)
      val dt = schema.fields(ord).dataType
      val render: InternalRow => String = (pf.kind, dt) match {
        case ("identity", StringType)  => r => escape(r.getUTF8String(ord).toString)
        case ("identity", IntegerType) => r => r.getInt(ord).toString
        case ("identity", LongType)    => r => r.getLong(ord).toString
        case ("identity", DateType) =>
          r => java.time.LocalDate.ofEpochDay(r.getInt(ord).toLong).toString
        case ("days", TimestampType) =>
          r => java.time.LocalDate.ofEpochDay(
            Math.floorDiv(r.getLong(ord), 86400000000L)).toString
        case ("days", DateType) =>
          r => java.time.LocalDate.ofEpochDay(r.getInt(ord).toLong).toString
        case ("bucket", IntegerType) =>
          r => BucketHash.id(BucketHash.ofLong(r.getInt(ord).toLong), pf.buckets).toString
        case ("bucket", LongType) =>
          r => BucketHash.id(BucketHash.ofLong(r.getLong(ord)), pf.buckets).toString
        case ("bucket", StringType) =>
          r => BucketHash.id(BucketHash.ofBytes(r.getUTF8String(ord).getBytes), pf.buckets).toString
        case (k, t) => throw new UnsupportedOperationException(
          s"staged catalog: cannot $k-partition on ${pf.name}: $t")
      }
      (r: InternalRow) =>
        s"${pf.dirName}=${if (r.isNullAt(ord)) "__HIVE_DEFAULT_PARTITION__" else render(r)}"
    }
}

// ---------------------------------------------------------------------------
// Catalog
// ---------------------------------------------------------------------------

/** Directory-tree table catalog with atomic staged replacement. Tables are
  * parquet directories under `root/<namespace...>/<name>`; the committed
  * schema is pinned in `_schema.json` so an empty table (truncate target
  * before first load) still loads with its declared schema, and the
  * partition spec in `_partition.json`.
  */
class StagedCatalog extends TableCatalog with StagingTableCatalog
    with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  import StagedParquet._

  // ---- ProcedureCatalog: CALL graft_staged.system.<verb>(...) ------------
  // The maintenance verbs (compact / evolve_partitioning / migrate_layouts
  // / vacuum) exposed to pure SQL — see [[StagedProcedures]].
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    (if (ident.namespace.sameElements(Array("system")))
       StagedProcedures.load(ident.name) else None)
      .getOrElse(throw new RuntimeException(
        s"no such procedure: ${ident.namespace.mkString(".")}.${ident.name} " +
          s"(have: system.{${StagedProcedures.names.mkString(", ")}})"))
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      StagedProcedures.names.map(Identifier.of(namespace, _)).toArray
    else Array.empty

  // ---- FunctionCatalog: the `days` transform, resolvable for SPJ --------
  // Spark's key-grouped planner can only use a KeyGroupedPartitioning
  // whose transforms it can EVALUATE; a non-identity transform resolves
  // through the table's catalog as a V2 bound function. Exposing days()
  // here is what lets two day-partitioned tables storage-partition-join
  // on their timestamp without either side shuffling.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "days"), Identifier.of(namespace, "bucket"))
  override def loadFunction(ident: Identifier): functions.UnboundFunction =
    if (ident.name == "days") DaysFunction
    else if (ident.name == "bucket") BucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
  override def functionExists(ident: Identifier): Boolean =
    ident.name == "days" || ident.name == "bucket"

  private var catalogName: String = CatalogName
  private var root: String = "/tmp/graft_stage/v2"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(root)
  }
  override def name(): String = catalogName

  private def dir(ident: Identifier): String =
    (root +: ident.namespace.toSeq :+ ident.name).mkString("/")

  /** `t__staging.xxx` (mid-commit, gains _SUCCESS before the swap) and
    * `t__old` (left behind only if the best-effort delete after a promote
    * failed) are lifecycle scaffolding, never committed tables.
    */
  private def isInternalName(n: String): Boolean =
    n.contains("__staging.") || n.endsWith("__old") || n.endsWith("__meta")

  private def isCommitted(d: String): Boolean =
    !isInternalName(d.split('/').last) &&
      fs(new Path(d)).exists(new Path(d, SuccessFile))

  private def loadSchema(d: String): StructType =
    readString(new Path(d, SchemaFile)) match {
      case Some(json) => DataType.fromJson(json).asInstanceOf[StructType]
      case None => SparkSession.active.read.parquet(d).schema
    }

  private def loadPartSpec(d: String): Seq[PartField] =
    readString(new Path(d, PartitionFile))
      .map(PartSpec.deserialize).getOrElse(Seq.empty)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = new Path((root +: namespace.toSeq).mkString("/"))
    val f = fs(nsDir)
    if (!f.exists(nsDir)) Array.empty
    else f.listStatus(nsDir)
      .filter(s => s.isDirectory && !isInternalName(s.getPath.getName))
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val d = dir(ident)
    if (!isCommitted(d)) {
      // inspection tables ride a dotted suffix on a committed table's
      // identifier (Iceberg's `db.table.files` surface): the suffix
      // resolves here as Identifier(ns :+ table, suffix)
      if (ident.namespace.nonEmpty && StagedMetaTables.Kinds(ident.name)) {
        val parent = Identifier.of(ident.namespace.init, ident.namespace.last)
        val pd = dir(parent)
        if (isCommitted(pd))
          return StagedMetaTables.forKind(ident.name, parent.name, pd,
            loadSchema(pd), loadPartSpec(pd))
      }
      throw new NoSuchTableException(ident)
    }
    new StagedParquetTable(ident.name, d, loadSchema(d), loadPartSpec(d),
      StagedParquet.tableProperties(new Path(d)))
  }

  /** `SELECT ... FROM t VERSION AS OF n` — a read-only table over the
    * reconstructed version-n file set ([[StagedParquet.snapshotAsOf]]),
    * served with that version's GENERATION schema and partitioning.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val d = dir(ident)
    if (!isCommitted(d)) throw new NoSuchTableException(ident)
    // 'snap:<key>' resolves a registered ad-hoc snapshot (the change
    // feed's restricted reconstructions — see StagedParquet.changesBetween)
    if (version.startsWith("snap:")) {
      val snap = StagedParquet.snapshotRegistry.get(version.stripPrefix("snap:"))
      if (snap == null) throw new IllegalArgumentException(
        s"staged catalog: unknown snapshot handle '$version'")
      return new StagedSnapshotTable(s"${ident.name}@$version", snap)
    }
    // a non-numeric version is a TAG name (__meta/refs/<name>) — an
    // immutable named snapshot, resolved to its pinned version id
    val v = version.trim.toLongOption.getOrElse {
      StagedParquet.readString(StagedParquet.refPath(d, version.trim))
        .map(_.trim.toLong).getOrElse(throw new IllegalArgumentException(
          s"staged catalog: VERSION AS OF takes a numeric version or a " +
            s"tag name, and '$version' is neither (no such tag)"))
    }
    val snap = StagedParquet.snapshotOfDir(d, v)
    new StagedSnapshotTable(s"${ident.name}@v$v", snap)
  }

  /** `SELECT ... FROM t TIMESTAMP AS OF ts` — resolves the latest version
    * whose monotonized commit instant is <= ts
    * ([[StagedParquet.versionAt]]) and serves that snapshot, so "what did
    * the 9am job read?" needs no version numbers. Spark hands micros
    * since the epoch.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val d = dir(ident)
    if (!isCommitted(d)) throw new NoSuchTableException(ident)
    val v = StagedParquet.versionAt(d, timestamp / 1000L)
    new StagedSnapshotTable(s"${ident.name}@t$v",
      StagedParquet.snapshotOfDir(d, v))
  }

  override def tableExists(ident: Identifier): Boolean = isCommitted(dir(ident))

  private def doCreate(ident: Identifier, schema: StructType,
                       spec: Seq[PartField],
                       props: Map[String, String]): Table = {
    val d = dir(ident)
    if (isCommitted(d)) throw new TableAlreadyExistsException(ident)
    StagedParquet.sortColsOf(props).foreach(c =>
      require(schema.fieldNames.contains(c),
        s"staged catalog: ${StagedParquet.SortOrderProp} column $c is " +
          "not in the table schema"))
    val p = new Path(d)
    fs(p).mkdirs(p)
    writeString(p, SchemaFile, schema.json)
    if (spec.nonEmpty) writeString(p, PartitionFile, PartSpec.serialize(spec))
    StagedParquet.writeProperties(p, props)
    writeString(p, SuccessFile, "")
    // the created-empty base state gets a creation instant (s-0), so
    // TIMESTAMP AS OF before the first commit resolves version 0
    StagedParquet.stampCreation(d)
    new StagedParquetTable(ident.name, d, schema, spec, props)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    doCreate(ident, schema, PartSpec.fromTransforms(partitions),
      StagedParquet.userProps(properties))
  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    doCreate(ident, StagedCatalog.toStruct(columns),
      PartSpec.fromTransforms(partitions), StagedParquet.userProps(properties))
  override def createTable(ident: Identifier, info: TableInfo): Table =
    doCreate(ident, info.schema(), PartSpec.fromTransforms(info.partitions()),
      StagedParquet.userProps(info.properties()))

  /** Schema evolution — the append path's metadata rung: ADD COLUMN
    * rewrites the declared schema (`_schema.json`) only; committed files
    * keep their original physical schema and
    * [[StagedParquet.readTable]] null-fills the missing columns at scan
    * time. That is the standard lakehouse read-time reconciliation — no
    * data rewrite at any table size, so evolving a 100 TB table is one
    * metadata write. Only top-level nullable end-position AddColumn
    * qualifies (the only change the null-fill read can serve without
    * rewriting files); anything else still says "replace the table".
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val d = dir(ident)
    if (!isCommitted(d)) throw new NoSuchTableException(ident)
    var schema = loadSchema(d)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "staged catalog: only top-level ADD COLUMN is supported")
        require(add.isNullable,
          "staged catalog: added columns must be nullable (existing files null-fill)")
        require(add.position() == null,
          "staged catalog: added columns land at the end (no FIRST/AFTER)")
        val name = add.fieldNames()(0)
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"staged catalog: column $name already exists")
        // a DROPPED name is tombstoned: pre-drop files still hold bytes
        // under it, and a name-based re-add would RESURRECT that stale
        // history as the new column's values (the failure mode field-ID
        // formats exist to prevent) — pick a fresh name instead
        require(!readString(new Path(d, DroppedFile)).exists(
            _.split("\n").contains(name)),
          s"staged catalog: column $name was previously dropped; old files " +
            "still hold its bytes — use a new name")
        // ... and the same for a RENAMED column's historical names
        require(!schema.fields.flatMap(StagedParquet.aliasesOf)
            .exists(_.equalsIgnoreCase(name)),
          s"staged catalog: $name is a renamed column's historical name; " +
            "old files still hold its bytes — use a new name")
        schema = schema.add(StructField(name, add.dataType(), nullable = true))
      case del: TableChange.DeleteColumn =>
        // metadata-only DROP: the declared schema shrinks, data files keep
        // the column's bytes (readers project only declared columns; the
        // next compaction settles the files to the narrowed width)
        require(del.fieldNames().length == 1,
          "staged catalog: only top-level DROP COLUMN is supported")
        val name = del.fieldNames()(0)
        require(schema.fieldNames.contains(name),
          s"staged catalog: no such column $name")
        val partCols = loadPartSpec(d).map(_.name).toSet
        require(!partCols.contains(name),
          s"staged catalog: cannot drop partition-referenced column $name")
        require(schema.fields.length > 1,
          "staged catalog: cannot drop the last column")
        // tombstone the name AND its pre-rename aliases — files hold
        // bytes under every one of them
        val dropped = name +: StagedParquet.aliasesOf(schema(name))
        schema = StructType(schema.fields.filterNot(_.name == name))
        val prior = readString(new Path(d, DroppedFile))
          .map(_.split("\n").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
        writeString(new Path(d), DroppedFile, (prior ++ dropped).mkString("\n"))
      case ren: TableChange.RenameColumn =>
        // metadata-only RENAME (r12 VERDICT #7 — the last ALTER TABLE
        // gap): committed files keep the column's bytes under the OLD
        // physical name; the declared field takes the new name, keeps a
        // stable field id, and records the old name as an ALIAS in its
        // StructField metadata (carried inside `_schema.json`). Readers
        // resolve declared name → aliases against each file's physical
        // schema, footer pruning consults the same alias list, and
        // rewrite paths read coalesce(current, aliases) — the
        // name-mapping mechanics field-ID formats standardize. Committed
        // files settle to the current name at the next compaction.
        require(ren.fieldNames().length == 1,
          "staged catalog: only top-level RENAME COLUMN is supported")
        val from = ren.fieldNames()(0)
        val to = ren.newName()
        require(schema.fieldNames.contains(from),
          s"staged catalog: no such column $from")
        val rPartCols = loadPartSpec(d).map(_.name).toSet
        require(!rPartCols.contains(from),
          s"staged catalog: cannot rename partition-referenced column " +
            s"$from — directory names encode it; evolve the spec first")
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"staged catalog: column $to already exists")
        require(!schema.fields.flatMap(StagedParquet.aliasesOf)
            .exists(_.equalsIgnoreCase(to)),
          s"staged catalog: $to is a renamed column's historical name")
        require(!readString(new Path(d, DroppedFile)).exists(
            _.split("\n").exists(_.equalsIgnoreCase(to))),
          s"staged catalog: column $to was previously dropped; old files " +
            "still hold its bytes — use a new name")
        require(!StagedParquet.hasEqFlag(new Path(d)),
          "staged catalog: live equality deletes reference column names " +
            "— materialize (compact) first, then rename")
        // assign stable field ids on first rename (pinned forever after)
        var nextId = schema.fields
          .flatMap(f => if (f.metadata.contains(StagedParquet.FieldIdKey))
            Some(f.metadata.getLong(StagedParquet.FieldIdKey)) else None)
          .maxOption.map(_ + 1).getOrElse(0L)
        schema = StructType(schema.fields.map { f =>
          val mb = new MetadataBuilder().withMetadata(f.metadata)
          if (!f.metadata.contains(StagedParquet.FieldIdKey)) {
            mb.putLong(StagedParquet.FieldIdKey, nextId)
            nextId += 1
          }
          if (f.name == from) {
            mb.putStringArray(StagedParquet.AliasesKey,
              (StagedParquet.aliasesOf(f) :+ from).toArray)
            StructField(to, f.dataType, f.nullable, mb.build())
          } else StructField(f.name, f.dataType, f.nullable, mb.build())
        })
        // a declared sort order names columns — it follows the rename
        val rProps = StagedParquet.tableProperties(new Path(d))
        rProps.get(StagedParquet.SortOrderProp).foreach { so =>
          val cols = so.split(",").map(_.trim)
          if (cols.contains(from))
            writeString(new Path(d), PropertiesFile,
              (rProps + (StagedParquet.SortOrderProp ->
                cols.map(c => if (c == from) to else c).mkString(","))).toSeq
                .sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\n"))
        }
      case set: TableChange.SetProperty =>
        val cur = StagedParquet.tableProperties(new Path(d))
        writeString(new Path(d), PropertiesFile,
          (cur + (set.property() -> set.value())).toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString("\n"))
      case rm: TableChange.RemoveProperty =>
        val cur = StagedParquet.tableProperties(new Path(d))
        writeString(new Path(d), PropertiesFile,
          (cur - rm.property()).toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString("\n"))
      case c => throw new UnsupportedOperationException(
        s"staged catalog: unsupported table change $c; replace the table")
    }
    writeString(new Path(d), SchemaFile, schema.json)
    new StagedParquetTable(ident.name, d, schema, loadPartSpec(d),
      StagedParquet.tableProperties(new Path(d)))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(dir(ident))
    val f = fs(p)
    f.delete(new Path(dir(ident) + "__meta"), true): Unit // version history
    f.exists(p) && f.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val to = new Path(dir(newIdent))
    val f = fs(to)
    f.mkdirs(to.getParent)
    if (!f.rename(new Path(dir(oldIdent)), to))
      throw new java.io.IOException(s"renameTable $oldIdent -> $newIdent failed")
    // version history rides along (retained-tree paths are re-derived from
    // the table dir, so they stay valid after the move)
    val oldMeta = new Path(dir(oldIdent) + "__meta")
    if (f.exists(oldMeta))
      f.rename(oldMeta, new Path(dir(newIdent) + "__meta")): Unit
  }

  private def doStage(ident: Identifier, schema: StructType,
                      spec: Seq[PartField],
                      props: Map[String, String]): StagedTable = {
    val prod = dir(ident)
    val staging = prod + "__staging." +
      java.util.UUID.randomUUID.toString.take(8)
    val parent = new Path(prod).getParent
    fs(parent).mkdirs(parent)
    // properties ride the staging dir through the promote (the commit
    // sweep only deletes uncommitted .parquet strays, never metadata)
    if (props.nonEmpty) {
      StagedParquet.sortColsOf(props).foreach(c =>
        require(schema.fieldNames.contains(c),
          s"staged catalog: ${StagedParquet.SortOrderProp} column $c is " +
            "not in the table schema"))
      val sp = new Path(staging)
      fs(sp).mkdirs(sp)
      StagedParquet.writeProperties(sp, props)
    }
    new StagedReplaceTable(ident.name, prod, staging, schema, spec, props)
  }

  // all three signature families funnel into doStage — overridden
  // explicitly so the interface defaults' delegation direction is moot
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    doStage(ident, schema, PartSpec.fromTransforms(partitions),
      StagedParquet.userProps(properties))
  override def stageCreate(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    doStage(ident, StagedCatalog.toStruct(columns),
      PartSpec.fromTransforms(partitions), StagedParquet.userProps(properties))
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    doStage(ident, info.schema(), PartSpec.fromTransforms(info.partitions()),
      StagedParquet.userProps(info.properties()))
  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    doStage(ident, schema, PartSpec.fromTransforms(partitions),
      StagedParquet.userProps(properties))
  override def stageReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    doStage(ident, StagedCatalog.toStruct(columns),
      PartSpec.fromTransforms(partitions), StagedParquet.userProps(properties))
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    doStage(ident, info.schema(), PartSpec.fromTransforms(info.partitions()),
      StagedParquet.userProps(info.properties()))
  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    doStage(ident, schema, PartSpec.fromTransforms(partitions),
      StagedParquet.userProps(properties))
  override def stageCreateOrReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    doStage(ident, StagedCatalog.toStruct(columns),
      PartSpec.fromTransforms(partitions), StagedParquet.userProps(properties))
  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    doStage(ident, info.schema(), PartSpec.fromTransforms(info.partitions()),
      StagedParquet.userProps(info.properties()))
}

object StagedCatalog {
  private[v2] def toStruct(columns: Array[Column]): StructType =
    StructType(columns.map(c => StructField(c.name, c.dataType, c.nullable)))
}

/** The `days` partition transform as a V2 function: UTC epoch-day bucket
  * of a timestamp/date — the SAME floorDiv arithmetic the writer's
  * partition evaluator applies, so the function Spark evaluates for SPJ
  * grouping and the directory layout can never disagree.
  */
object DaysFunction extends functions.UnboundFunction {
  override def name(): String = "days"
  override def description(): String =
    "days(ts): UTC epoch-day bucket of a timestamp/date"
  override def bind(inputType: StructType): functions.BoundFunction = {
    require(inputType.fields.length == 1,
      s"days() takes one argument, got ${inputType.fields.length}")
    inputType.fields(0).dataType match {
      case TimestampType => DaysFromTimestamp
      case DateType      => DaysFromDate
      case t => throw new UnsupportedOperationException(
        s"days() over $t (timestamp/date only)")
    }
  }
}

/** days(timestamp): internal micros -> epoch-day int (DateType). */
object DaysFromTimestamp extends functions.ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(TimestampType)
  override def resultType(): DataType = DateType
  override def name(): String = "days"
  override def canonicalName(): String = "graft.staged.days"
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(0)) null
    else Int.box(Math.floorDiv(input.getLong(0), 86400000000L).toInt)
}

/** days(date): identity on the epoch-day int. */
object DaysFromDate extends functions.ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(DateType)
  override def resultType(): DataType = DateType
  override def name(): String = "days"
  override def canonicalName(): String = "graft.staged.days"
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(0)) null else Int.box(input.getInt(0))
}

/** The `bucket` partition transform as a V2 function: [[BucketHash]] of
  * the key mod the bucket count — the SAME hash the writer's partition
  * evaluator routes rows with, so SPJ grouping and the directory layout
  * can never disagree. Bound form takes (numBuckets INT, key) exactly as
  * Spark passes a bucket transform's arguments.
  */
object BucketFunction extends functions.UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): BucketHash(key) mod n"
  override def bind(inputType: StructType): functions.BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket() takes (numBuckets, key), got ${inputType.fields.length} args")
    require(inputType.fields(0).dataType == IntegerType,
      s"bucket(): numBuckets must be INT, got ${inputType.fields(0).dataType}")
    inputType.fields(1).dataType match {
      case t @ (IntegerType | LongType | StringType) => BoundBucket(t)
      case t => throw new UnsupportedOperationException(
        s"bucket() over $t (int/long/string only)")
    }
  }
}

/** bucket(n, key): the catalog's shared [[BucketHash]], bound per key type. */
case class BoundBucket(keyType: DataType) extends functions.ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.staged.bucket"
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(1)) null
    else {
      val n = input.getInt(0)
      val h = keyType match {
        case IntegerType => BucketHash.ofLong(input.getInt(1).toLong)
        case LongType    => BucketHash.ofLong(input.getLong(1))
        case StringType  => BucketHash.ofBytes(input.getUTF8String(1).getBytes)
        case t => throw new IllegalStateException(s"unbindable bucket type $t")
      }
      Int.box(BucketHash.id(h, n))
    }
}

// ---------------------------------------------------------------------------
// Tables
// ---------------------------------------------------------------------------

/** ENGINE-SIDE write distribution (RequiresDistributionAndOrdering): a
  * partitioned staged write asks Spark to cluster incoming rows by the
  * table's partition transforms — identity, days, bucket all resolve
  * through the catalog's FunctionCatalog — so each partition directory is
  * written by (about) one task regardless of how the caller's query was
  * partitioned. Without this, a T-task query writing a P-dir table sprays
  * up to T×P small files; with it the engine bounds the fan-in the way
  * Iceberg/Delta write-distribution does, and callers stop hand-placing
  * `repartition(...)` before every write. NON-strict: Spark plans an
  * AQE-rebalance rather than a hard repartition, so a skewed partition
  * value still splits across tasks instead of bottlenecking one writer —
  * at 100 TB that skew-split is the difference between a hot day
  * finishing with the job or hours after it. Opt out per write with
  * `.option("graft.write.distribute", "none")` (fixtures that NEED
  * many small files — e.g. compaction tests — and callers that already
  * shaped their output).
  */
private[v2] trait StagedWriteDistribution extends RequiresDistributionAndOrdering {
  protected def distSpec: Seq[PartField]
  protected def distEnabled: Boolean
  /** Declared table sort order (`sort.order` property): non-empty makes
    * the write REQUIRE within-task ordering by (partition transforms,
    * sort columns) — Spark plans the sort, so every file the engine
    * commits into a sorted table is genuinely sorted, and the scan's
    * [[StagedScan.outputOrdering]] claim stays honest. Orthogonal to the
    * distribution opt-out: a hand-shaped layout may skip the rebalance
    * but never the declared order.
    */
  protected def sortCols: Seq[String] = Nil
  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    if (distEnabled && distSpec.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        PartSpec.toTransforms(distSpec)
          .map(t => t: org.apache.spark.sql.connector.expressions.Expression))
    else org.apache.spark.sql.connector.distributions.Distributions.unspecified()
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (sortCols.isEmpty) Array.empty
    else (PartSpec.toTransforms(distSpec)
        .map(t => Expressions.sort(t,
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)) ++
      sortCols.map(c => Expressions.sort(Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))).toArray
  override def distributionStrictlyRequired(): Boolean = false
}

private[v2] object StagedWriteDistribution {
  def enabled(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("graft.write.distribute")).forall(_ != "none")
}

/** A committed table: append lands files in-place (two-phase, stray-safe,
  * token-scoped so concurrent appends never interfere); truncate() stages a
  * full replacement and swaps at batch commit — the reference's TRUNCATE +
  * bulk COPY as one atomic V2 write; overwritePartitions() stages and swaps
  * only the touched partition directories.
  */
class StagedParquetTable(tableName: String, prodDir: String, tableSchema: StructType,
                         partSpec: Seq[PartField],
                         props: Map[String, String] = Map.empty)
    extends Table with SupportsWrite with SupportsRead with SupportsDelete
    with SupportsRowLevelOperations {

  override def properties(): util.Map[String, String] = props.asJava

  /** SQL UPDATE / MERGE INTO / non-metadata DELETE — the group-based
    * copy-on-write rewrite ([[StagedRowLevelOperation]]). DELETE with
    * metadata-expressible predicates still folds back to the tiered
    * [[deleteWhere]] via OptimizeMetadataOnlyDeleteFromTable.
    */
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = {
        // An UNPARTITIONED current layout replaces groups by ROOT swap, and
        // runtime group filtering can close pre-evolution `_layouts/g-n`
        // directories out of the scan — their rows would be absent from the
        // replacement files while the root swap carried their LIVE dirs
        // into the retained tree: silent row loss. Same analysis-time gate
        // as cowWhereDir / compact / dynamic overwrite (ADVICE r11) —
        // settle the generations first, then the root swap is safe again.
        require(partSpec.nonEmpty || !StagedParquet.hasOldLayouts(prodDir) ||
            !StagedParquet.oldLayoutsHoldData(prodDir),
          s"UPDATE/MERGE on $prodDir: the current layout is unpartitioned " +
            "and pre-evolution generations still hold data — a root swap " +
            "would strand them; run StagedParquet.migrateLayouts first")
        new StagedRowLevelOperation(prodDir, tableSchema, partSpec, info.command())
      }
    }
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] = PartSpec.toTransforms(partSpec)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  /** SQL `DELETE FROM` ([[StagedParquet.deleteWhere]]): metadata-only
    * partition drops, zone-map-cleared files untouched, copy-on-write for
    * the rest — delete cost ∝ matching data, never table size. Unsupported
    * predicate shapes are rejected at analysis (canDeleteWhere), never
    * half-applied.
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    StagedParquet.canDelete(filters.toSeq)
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    StagedParquet.cowWhereDir(SparkSession.active, prodDir, filters.toSeq, None): Unit

  /** The V2 read path ([[StagedScan]]): key-grouped partitioning for
    * storage-partitioned joins, column pruning, identity-partition
    * pruning, evolution-aware null-fill.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
    new StagedScanBuilder(tableName, prodDir, tableSchema, partSpec)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate with SupportsDynamicOverwrite {
      private var mode = "append"
      override def truncate(): WriteBuilder = { mode = "truncate"; this }
      override def overwriteDynamicPartitions(): WriteBuilder = { mode = "dynamic"; this }
      override def build(): Write = new Write with StagedWriteDistribution {
        override protected def distSpec: Seq[PartField] = partSpec
        override protected def distEnabled: Boolean =
          StagedWriteDistribution.enabled(info.options())
        override protected def sortCols: Seq[String] =
          StagedParquet.sortColsOf(props)
        override def toBatch: BatchWrite = mode match {
          case "truncate" =>
            new StagedParquetBatchWrite(
              prodDir + "__staging." + info.queryId().take(8),
              Some(prodDir), info.schema(), partSpec, info.queryId())
          case "dynamic" =>
            // a dynamic overwrite replaces CURRENT-layout directories; an
            // old generation may hold rows of the same logical partitions
            // under a different dir shape — they would silently survive
            // as stale duplicates. Fail at plan time; settle first.
            if (StagedParquet.hasOldLayouts(prodDir) &&
                StagedParquet.oldLayoutsHoldData(prodDir))
              throw new UnsupportedOperationException(
                s"$tableName holds pre-evolution layout generations; run " +
                  "StagedParquet.migrateLayouts before a dynamic partition " +
                  "overwrite (old-generation rows of an overwritten " +
                  "partition would survive as stale duplicates)")
            new DynamicOverwriteBatchWrite(
              prodDir + "__staging." + info.queryId().take(8),
              prodDir, info.schema(), partSpec, info.queryId())
          case _ =>
            new StagedParquetBatchWrite(prodDir, None, info.schema(),
              partSpec, info.queryId())
        }
        /** `writeStream.toTable(...)` — per-epoch appends with the same
          * two-phase file protocol; Append output mode only (Complete
          * would re-truncate prod every trigger — stage a batch replace
          * instead). Sorted tables reject streaming appends: a micro-batch
          * cannot guarantee the declared file order, and a silently
          * unsorted file would poison the scan's ordering claim.
          */
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          mode match {
            case "append" =>
              if (StagedParquet.sortColsOf(props).nonEmpty)
                throw new UnsupportedOperationException(
                  s"table $tableName declares ${StagedParquet.SortOrderProp}; " +
                    "streaming appends cannot guarantee it — remove the " +
                    "property or batch-ingest")
              val upsertKey = Option(info.options().get("graft.upsert.key"))
              upsertKey.foreach { k =>
                require(tableSchema.fieldNames.contains(k),
                  s"graft.upsert.key: unknown column $k")
                // the key must be a stored DATA column in every layout:
                // an identity-partitioned key would tier the epoch's
                // key-delete to whole-directory drops (wrong rows), and
                // a days-source key is not an identity at all
                val bad = StagedParquet.layoutRoots(prodDir).flatMap(_._3)
                  .exists(pf => pf.name == k && pf.kind != "bucket")
                require(!bad,
                  s"graft.upsert.key: $k is identity/days-partitioned — " +
                    "bucket(n, key) is the upsert-friendly layout")
              }
              val upsertEq =
                Option(info.options().get("graft.upsert.eq")).exists(_.toBoolean)
              require(!upsertEq || upsertKey.nonEmpty,
                "graft.upsert.eq requires graft.upsert.key")
              new StagedStreamingWrite(prodDir, info.schema(),
                partSpec, info.queryId(), upsertKey, upsertEq)
            case m => throw new UnsupportedOperationException(
              s"staged streaming write supports Append output mode only (got $m)")
          }
        override def description(): String =
          s"StagedParquetWrite(table=$tableName, mode=$mode)"
      }
    }
}

/** The staging side of an atomic REPLACE: Spark writes the query through
  * this table's BatchWrite into the staging dir, then commitStagedChanges
  * performs the swap — or abortStagedChanges deletes staging with prod
  * never touched.
  */
class StagedReplaceTable(tableName: String, prodDir: String, stagingDir: String,
                         tableSchema: StructType, partSpec: Seq[PartField],
                         props: Map[String, String] = Map.empty)
    extends StagedTable with SupportsWrite {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] = PartSpec.toTransforms(partSpec)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // staging dir starts empty
      override def build(): Write = new Write with StagedWriteDistribution {
        override protected def distSpec: Seq[PartField] = partSpec
        override protected def distEnabled: Boolean =
          StagedWriteDistribution.enabled(info.options())
        override protected def sortCols: Seq[String] =
          StagedParquet.sortColsOf(props)
        override def toBatch: BatchWrite =
          new StagedParquetBatchWrite(stagingDir, None, info.schema(),
            partSpec, info.queryId())
        override def description(): String =
          s"StagedParquetWrite(table=$tableName, mode=replace-staged)"
      }
    }

  override def commitStagedChanges(): Unit =
    StagedParquet.promote(stagingDir, prodDir)

  override def abortStagedChanges(): Unit =
    StagedParquet.deleteStaging(stagingDir)
}

// ---------------------------------------------------------------------------
// Batch write: two-phase file commit
// ---------------------------------------------------------------------------

/** `files` are paths RELATIVE to the write's target dir (partition
  * subdirectories included). `keys`: an upsert-mode writer's distinct
  * non-null key values, in Catalyst's internal form; None when the writer
  * collected none — not an upsert write, or more keys than its share of
  * `graft.staged.upsert.keyInMax` (overflow).
  */
case class StagedFilesCommit(files: Seq[String], rows: Long,
                             keys: Option[Seq[Any]] = None) extends WriterCommitMessage

/** @param targetDir  where task files land (staging dir, or prod for append)
  * @param promoteTo  Some(prod) when driver commit should also swap
  *                   targetDir over prod (the truncate-load path);
  *                   None when the swap belongs to commitStagedChanges
  *                   (staged replace) or no swap is wanted (append).
  * @param queryId    the write's unique token: embedded in every file name
  *                   and temp prefix this job creates, and the ONLY prefix
  *                   its commit/abort sweeps touch.
  */
class StagedParquetBatchWrite(targetDir: String, promoteTo: Option[String],
                              schema: StructType, partSpec: Seq[PartField],
                              queryId: String) extends BatchWrite {
  import StagedParquet._

  protected val token: String = StagedParquetWriterFactory.sanitize(queryId)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // the write root is created ONCE, driver-side, before any task launches;
    // task writers treat a missing root as "this write was aborted" instead
    // of mkdirs-ing it back into existence (the resurrection race a driver
    // abort would otherwise lose against dying tasks)
    val p = new Path(targetDir)
    fs(p).mkdirs(p): Unit
    // row-group size resolved DRIVER-side (task threads may not see an
    // active session) and shipped in the factory; parquet default when
    // unset. Smaller groups = finer row-group splits on read, at footer
    // metadata cost — a tuning knob, not a correctness one.
    val rowGroupBytes: Option[Long] =
      try Some(SparkSession.active.conf.get("graft.staged.rowgroup.bytes").toLong)
      catch { case _: Throwable => None }
    StagedParquetWriterFactory(targetDir, schema, partSpec, token, rowGroupBytes)
  }

  private def isStagingTarget: Boolean =
    promoteTo.isDefined || targetDir.contains("__staging")

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(targetDir)
    val f = fs(p)
    val committed = messages.flatMap(_.asInstanceOf[StagedFilesCommit].files).toSet
    // Staging dirs started empty AND belong to this write alone, so they
    // must end holding exactly the committed files — losers of speculative
    // races are deleted before publication. In append mode the dir also
    // holds the table's PRIOR files and possibly a CONCURRENT job's
    // in-flight files, which must both survive: only THIS job's unrenamed
    // _tmp-<token>- leftovers are swept (a task file gets its committed
    // name only via the task commit rename, so a stray can never wear one,
    // and another job's files never carry this token).
    listRelative(p).foreach { rel =>
      val n = rel.split('/').last
      val stray =
        if (isStagingTarget) n.endsWith(".parquet") && !committed(rel)
        else n.startsWith(s"_tmp-$token-")
      if (stray) f.delete(new Path(p, rel), true)
    }
    committed.foreach { n =>
      if (!f.exists(new Path(p, n)))
        throw new IllegalStateException(s"commit: committed file $n missing in $targetDir")
    }
    // staging dirs publish the write's schema; an APPEND must never clobber
    // the catalog-DECLARED schema (an evolved table's nullable ADD COLUMN
    // would be overwritten by the incoming query's non-nullable variant,
    // and the V2 scan would then skip null checks on pre-evolution files)
    if (isStagingTarget || !f.exists(new Path(p, SchemaFile)))
      writeString(p, SchemaFile, schema.json)
    if (partSpec.nonEmpty) writeString(p, PartitionFile, PartSpec.serialize(partSpec))
    writeString(p, SuccessFile, "")
    // the commit manifest: in a fresh staging dir this lands at m-0 (a
    // promoted REPLACE starts a new manifest generation); an append claims
    // the table's next id. Row-level rewrites opt out — they change rows
    // in place, they don't append them.
    if (writeCommitManifest && committed.nonEmpty)
      appendManifest(p, committed.toSeq): Unit
    // version delta: a direct append records its adds (staging targets
    // don't — their version is claimed by the promote/swap on PROD)
    if (writeCommitManifest && !isStagingTarget && committed.nonEmpty)
      recordVersion(targetDir, currentVersion(targetDir) + 1,
        committed.toSeq, Nil, exact = false): Unit
    promoteTo.foreach(prod => promote(targetDir, prod))
  }

  protected def writeCommitManifest: Boolean = true

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(targetDir)
    val f = fs(p)
    if (promoteTo.isEmpty && !targetDir.contains("__staging")) {
      // append mode aborted: remove this job's temp files AND any files
      // already task-committed under their final (token-carrying) names;
      // the committed table contents — and a concurrent job's files,
      // which carry a different token — stay intact
      listRelative(p).foreach { rel =>
        val n = rel.split('/').last
        if (n.startsWith(s"_tmp-$token-") || n.endsWith(s"-$token.snappy.parquet"))
          f.delete(new Path(p, rel), true)
      }
    } else {
      // staging dir: drop wholesale, prod untouched. A KILLED task can
      // still be mid-close, and its file create() re-creates the just-
      // deleted directory — re-delete briefly until it stays gone, so the
      // common abort leaves no debris (anything that still escapes is
      // vacuum's dead-staging class)
      deleteStaging(targetDir)
      val dir = new Path(targetDir)
      var tries = 0
      while (tries < 20 && { Thread.sleep(250); fs(dir).exists(dir) }) {
        deleteStaging(targetDir); tries += 1
      }
    }
  }
}

/** STREAMING write into a staged table — `writeStream.toTable(...)` — the
  * 100 TB ingest path: each micro-batch epoch appends files with the SAME
  * two-phase protocol as a batch append (task files under
  * `_tmp-<epoch-token>-`, renamed to final names only at task commit;
  * driver commit sweeps only its own epoch's strays) and lands ONE commit
  * manifest per epoch, so a downstream [[StagedMicroBatchStream]] tail
  * sees exactly one offset increment per upstream trigger.
  *
  * EXACTLY-ONCE across crashes, the two halves:
  *   - REPLAYED EPOCH (the sink committed but the engine's own commit log
  *     didn't — restart re-runs the epoch): the epoch's manifest carries a
  *     `#txn=<queryId>:e<epoch>` marker and a `_stream-<qid>.txt` cursor
  *     at the table root records (last epoch, last manifest id); a commit
  *     for an epoch at or below the cursor — or whose txn already appears
  *     in a manifest above the cursor (the cursor-write crash window) —
  *     DELETES its freshly written files instead of manifesting them.
  *   - NAME COLLISIONS on replay: a restarted run's task ids restart, so
  *     final names could collide with the first attempt's; every run
  *     salts its token with a per-run nonce, making replayed files
  *     fresh-named (the replay then discards them wholesale).
  * The residual window every listing-backed table has — a crash after
  * task renames but before driver commit leaves final-named orphans until
  * the epoch replays or vacuum's age gate passes — is the batch append
  * path's documented contract, unchanged here.
  */
/** @param upsertKey STREAMING UPSERT mode (`graft.upsert.key` write
  *        option — the CDC sink shape, Flink/Iceberg upsert-stream
  *        semantics): before each epoch's manifest lands, rows whose key
  *        matches an epoch row are DELETED through the tiered COW core
  *        (merge-on-read tables pay one tiny deletion vector per touched
  *        directory; a bucket(key) layout prunes the match to the keys'
  *        buckets, the zone map to overlapping files — a 100 TB CDC
  *        target absorbs an epoch at cost ∝ touched keys). The epoch's
  *        own files are excluded from the delete, and the whole pair is
  *        replay-idempotent: a replayed epoch short-circuits on the txn
  *        marker, and a crash between the delete and the manifest redoes
  *        a delete that matches nothing new (prior deletions anti-join).
  *        The INPUT must be key-unique per micro-batch (the standard
  *        upsert-stream contract — pre-aggregate latest-per-key).
  *        The epoch's keys come from its WRITE TASKS: each data writer
  *        returns the distinct non-null keys it wrote in its commit
  *        message, up to its share of `graft.staged.upsert.keyInMax`
  *        (keyInMax / the epoch's write partitions, rounded up), so a
  *        narrow epoch's replace half never re-reads its own files and
  *        the driver holds O(keyInMax) keys at most. On a merge-on-read
  *        table that half is then one find-positions plan with one
  *        shuffle ([[StagedParquet.cowWhereDir]] PASS 1.5).
  */
/** @param upsertEq with [[upsertKey]]: the epoch's replace half writes an
  *        EQUALITY-DELETE file instead of running the find-positions scan
  *        (`graft.upsert.eq` write option) — see the commit body and
  *        [[StagedParquet.materializeEqDeletes]].
  */
class StagedStreamingWrite(prodDir: String, schema: StructType,
                           partSpec: Seq[PartField], queryId: String,
                           upsertKey: Option[String] = None,
                           upsertEq: Boolean = false)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import StagedParquet._

  private val qid = StagedParquetWriterFactory.sanitize(queryId)
  private val runNonce =
    java.util.UUID.randomUUID.toString.replace("-", "").take(6)
  private def epochToken(epochId: Long): String = s"${qid.take(8)}${runNonce}e$epochId"
  private def txnOf(epochId: Long): String = s"$qid:e$epochId"
  private def cursorPath(p: Path): Path = new Path(p, s"_stream-$qid.txt")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val p = new Path(prodDir)
    fs(p).mkdirs(p): Unit
    val rowGroupBytes: Option[Long] =
      try Some(SparkSession.active.conf.get("graft.staged.rowgroup.bytes").toLong)
      catch { case _: Throwable => None }
    // narrow-epoch key collection: (ordinal, type, per-task share)
    val keyShare = upsertKey.filterNot(_ => upsertEq).map { k =>
      val parts = math.max(1, info.numPartitions)
      (schema.fieldIndex(k), schema(k).dataType,
        ((keyInMax(SparkSession.active) + parts - 1) / parts).max(1))
    }
    StagedStreamingWriterFactory(prodDir, schema, partSpec,
      s"${qid.take(8)}$runNonce", rowGroupBytes, keyShare)
  }

  private def keyInMax(s: SparkSession): Int =
    try s.conf.get("graft.staged.upsert.keyInMax").toInt
    catch { case _: Throwable => 10000 }

  /** The epoch's distinct keys, unioned from its write tasks and
    * converted to external values; None when a task overflowed its share
    * or the union exceeds `maxIn` (the epoch is WIDE).
    */
  private def epochKeys(messages: Array[WriterCommitMessage], key: String,
                        maxIn: Int): Option[Seq[Any]] = {
    val perTask = messages.map(_.asInstanceOf[StagedFilesCommit].keys)
    if (perTask.exists(_.isEmpty)) None
    else {
      val all = mutable.HashSet.empty[Any]
      perTask.foreach(all ++= _.get)
      if (all.size > maxIn) None
      else {
        val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(schema(key).dataType)
        Some(all.toSeq.map(toScala))
      }
    }
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(prodDir)
    val f = fs(p)
    val committed = messages.flatMap(_.asInstanceOf[StagedFilesCommit].files).toSet
    val cursor = readString(cursorPath(p)).map { s0 =>
      val Array(e, m) = s0.trim.split(":")
      (e.toLong, m.toLong)
    }.getOrElse((-1L, -1L))
    val replayed = epochId <= cursor._1 ||
      manifestIds(p).filter(_ > cursor._2)
        .exists(id => readManifest(p, id)._1.contains(txnOf(epochId)))
    if (replayed) {
      // this epoch's rows are already in the table — discard the re-run's
      // freshly written (nonce-named, collision-free) files
      committed.foreach(rel => f.delete(new Path(p, rel), false): Unit)
      return
    }
    val token = epochToken(epochId)
    val allRel = listRelative(p)
    allRel.foreach { rel =>
      if (rel.split('/').last.startsWith(s"_tmp-$token-"))
        f.delete(new Path(p, rel), true): Unit
    }
    // does the table hold any PRE-EXISTING data file (one not written by
    // this epoch)? The initial CDC snapshot load lands in an empty table —
    // its key-delete would match nothing, so skip the whole upsert half
    // (reusing the listing the tmp sweep already paid for): the 100 TB
    // initial load must never scan itself for keys it cannot find.
    val hasPreexisting = {
      val epochNames = committed.map(_.split('/').last)
      allRel.exists { rel =>
        val n = rel.split('/').last
        n.endsWith(".parquet") && !n.startsWith("_") && !epochNames(n)
      }
    }
    committed.foreach { rel =>
      if (!f.exists(new Path(p, rel)))
        throw new IllegalStateException(
          s"stream commit: committed file $rel missing in $prodDir")
    }
    if (!f.exists(new Path(p, SchemaFile))) writeString(p, SchemaFile, schema.json)
    if (partSpec.nonEmpty && !f.exists(new Path(p, PartitionFile)))
      writeString(p, PartitionFile, PartSpec.serialize(partSpec))
    writeString(p, SuccessFile, "")
    // The epoch's file adds record BEFORE the key-delete (ADVICE r11): the
    // delete's version then sits ABOVE the adds, so time travel to any
    // version at or below the delete undoes the adds and restores the
    // retained pre-delete trees in the right order — with the old
    // delete-first ordering a COW-dense epoch delete retained directories
    // that already contained the epoch's files at a version BELOW their
    // own add, and snapshots at that version resurrected them. The
    // manifest append stays AFTER the delete (replay semantics: a crash
    // between the delete and the manifest redoes a delete that matches
    // nothing new).
    val vAdd: Long =
      if (committed.nonEmpty)
        recordVersion(prodDir, currentVersion(prodDir) + 1,
          committed.toSeq, Nil, exact = false)
      else -1L
    // UPSERT half: delete the PRE-EXISTING rows this epoch replaces, the
    // delete tiered as usual with the epoch files excluded. NARROW epochs
    // (every write task reported its keys and they union to at most
    // graft.staged.upsert.keyInMax, default 10k) delete by one In-list
    // built from the commit messages — maximal pruning for the common
    // CDC trickle, and no job re-reads the epoch's files; on a
    // merge-on-read table the find-positions plan is the only Spark work
    // left. WIDE epochs (a task overflowed its share) never materialize a
    // key on the driver: min/max range conjuncts drive the day/zone-map
    // tiers and the distributed keySet form handles bucket pruning + row
    // matching (r11 VERDICT #4 — a million-key epoch was a
    // million-literal predicate through the driver's heap).
    for (key <- upsertKey if committed.nonEmpty && hasPreexisting) {
      val s = SparkSession.active
      lazy val keyDf = s.read
        .schema(StructType(Seq(schema(key))))
        .parquet(committed.toSeq.map(rel => new Path(p, rel).toString): _*)
        .filter(org.apache.spark.sql.functions.col(key).isNotNull)
        .distinct()
      val excl = committed.map(_.split('/').last)
      if (upsertEq) {
        // EQUALITY-DELETE epoch (`graft.upsert.eq`, r12 VERDICT #3): the
        // epoch's keys publish as one `_eq-` file with boundary = the
        // adds' version (the epoch's own rows sit AT the boundary, every
        // pre-existing file strictly below — the find-positions scan the
        // position-delete path pays per epoch never runs). Epoch cost is
        // O(written bytes) at ANY destination size; the scan-side
        // anti-probe and the maintenance-time materialization carry the
        // deferred work. Replay stays idempotent one level up (the txn
        // marker short-circuits before this half); a crash between the eq
        // write and the manifest redoes the epoch, and the redo's eq file
        // covers the first attempt's orphaned adds exactly like the redone
        // position delete used to.
        StagedParquet.upsertEqEpochs.incrementAndGet(): Unit
        val name = writeEqFile(s, prodDir, keyDf, vAdd)
        recordVersion(prodDir, currentVersion(prodDir) + 1, Nil, Nil,
          exact = false, marks = Seq(s"!eqdel=$name")): Unit
      } else epochKeys(messages, key, keyInMax(s)) match {
        case Some(vals) =>
          if (vals.nonEmpty)
            cowWhereDir(s, prodDir,
              Seq(org.apache.spark.sql.sources.In(key, vals.toArray)), None,
              excludeNames = excl): Unit
        case None =>
          StagedParquet.upsertWideEpochs.incrementAndGet(): Unit
          val mm = keyDf.agg(org.apache.spark.sql.functions.min(
              org.apache.spark.sql.functions.col(key)),
            org.apache.spark.sql.functions.max(
              org.apache.spark.sql.functions.col(key))).head()
          cowWhereDir(s, prodDir,
            Seq(org.apache.spark.sql.sources.GreaterThanOrEqual(key, mm.get(0)),
              org.apache.spark.sql.sources.LessThanOrEqual(key, mm.get(1))),
            None, excludeNames = excl, keySet = Some((key, keyDf))): Unit
      }
    }
    val mid =
      if (committed.nonEmpty) appendManifest(p, committed.toSeq, Some(txnOf(epochId)))
      else cursor._2
    writeString(p, cursorPath(p).getName, s"$epochId:$mid")
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(prodDir)
    val f = fs(p)
    val token = epochToken(epochId)
    listRelative(p).foreach { rel =>
      val n = rel.split('/').last
      if (n.startsWith(s"_tmp-$token-") || n.endsWith(s"-$token.snappy.parquet"))
        f.delete(new Path(p, rel), true): Unit
    }
  }
}

/** @param keyShare upsert mode: (key ordinal, key type, per-task share of
  *        keyInMax) — each writer reports its distinct keys up to the share
  */
case class StagedStreamingWriterFactory(targetDir: String, schema: StructType,
                                        partSpec: Seq[PartField],
                                        tokenBase: String,
                                        rowGroupBytes: Option[Long],
                                        keyShare: Option[(Int, DataType, Int)] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new StagedParquetDataWriter(targetDir, partitionId, taskId, schema,
      partSpec, s"${tokenBase}e$epochId", rowGroupBytes, keyShare)
}

/** Dynamic partition overwrite: data stages under `stagingDir`, and commit
  * swaps ONLY the partition directories that received rows (per-partition
  * [[StagedParquet.swapDirs]] — each swap is an atomic rename pair;
  * partitions the write never touched are never read, listed, or moved, so
  * commit cost scales with touched partitions, not table size). On an
  * unpartitioned table this degrades to the full-table promote.
  */
class DynamicOverwriteBatchWrite(stagingDir: String, prodDir: String,
                                 schema: StructType, partSpec: Seq[PartField],
                                 queryId: String)
    extends StagedParquetBatchWrite(stagingDir, None, schema, partSpec, queryId) {
  import StagedParquet._

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    super.commit(messages) // staging dir now holds exactly the committed files
    val prod = new Path(prodDir)
    val f = fs(prod)
    // a swapped-in partition's files carry no add-version record, so a
    // live equality delete would wrongly apply to the OVERWRITTEN rows —
    // settle first (full-root promote below swaps the eq files away with
    // the rest of the old root, which is already the right semantics)
    if (partSpec.nonEmpty) materializeEqDeletes(SparkSession.active, prodDir)
    if (partSpec.isEmpty) { promote(stagingDir, prodDir); return }
    val committed = messages.flatMap(_.asInstanceOf[StagedFilesCommit].files)
    val parts = committed.map { rel =>
      val segs = rel.split('/')
      segs.dropRight(1).mkString("/")
    }.distinct.filter(_.nonEmpty)
    // one version for the whole overwrite: swapped dirs retain (`~dir`),
    // files landing in FRESH dirs record as adds
    val v = currentVersion(prodDir) + 1
    val swapped = parts.filter { part =>
      swapDirs(s"$stagingDir/$part", s"$prodDir/$part",
        Some(retainedPath(prodDir, v, part)))
    }
    val freshAdds = committed.toSeq.filterNot(rel =>
      swapped.contains(rel.split('/').dropRight(1).mkString("/")))
    recordVersion(prodDir, v, freshAdds, swapped.toSeq): Unit
    // metadata refresh on prod (schema/spec unchanged by an overwrite, but
    // a first-ever dynamic write onto a created-empty table publishes them)
    writeString(prod, SchemaFile, schema.json)
    writeString(prod, PartitionFile, PartSpec.serialize(partSpec))
    writeString(prod, SuccessFile, "")
    // an overwritten partition's OLD rows vanished in the swap — a tail
    // that already consumed them will see these as fresh rows (the
    // standard ignore-changes caveat); the manifest records the adds
    if (committed.nonEmpty) appendManifest(prod, committed.toSeq): Unit
    f.delete(new Path(stagingDir), true): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    deleteStaging(stagingDir) // staging only; prod untouched
}

case class StagedParquetWriterFactory(targetDir: String, schema: StructType,
                                      partSpec: Seq[PartField], token: String,
                                      rowGroupBytes: Option[Long] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new StagedParquetDataWriter(targetDir, partitionId, taskId, schema,
      partSpec, token, rowGroupBytes)
}

object StagedParquetWriterFactory {
  /** queryId → filesystem-safe token (Spark's queryIds are UUIDs; keep it
    * bounded but unique enough that two applications' concurrent writes
    * cannot collide — 12 hex chars of UUID).
    */
  def sanitize(queryId: String): String =
    queryId.filter(c => c.isLetterOrDigit).take(12) match {
      case "" => java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      case t  => t
    }
}

/** One task's writer: parquet rows stream to `<part-dir>/_tmp-<token>-<file>`;
  * task commit renames to the final name (so a file is visible under its
  * committed name only if the task committed) and reports the relative
  * paths to the driver. Partitioned tables keep one open parquet writer per
  * partition directory seen by this task — the standard dynamic-partition
  * writer shape (repartition by the partition columns before writing to
  * bound the per-task writer count). With `keyShare` (a streaming upsert
  * epoch) the commit message also carries the distinct non-null keys
  * written, or None once they exceed the share.
  */
class StagedParquetDataWriter(targetDir: String, partitionId: Int, taskId: Long,
                              schema: StructType, partSpec: Seq[PartField],
                              token: String,
                              rowGroupBytes: Option[Long] = None,
                              keyShare: Option[(Int, DataType, Int)] = None)
    extends DataWriter[InternalRow] {
  private val fileName = f"part-$partitionId%05d-$taskId-$token.snappy.parquet"
  private val conf = new Configuration()
  private val dataFields = PartSpec.dataFields(schema, partSpec)
  private val partEvals = PartSpec.partEvaluators(schema, partSpec)
  // partition rel-dir ("" when unpartitioned) -> open writer on its tmp file
  private val writers = mutable.LinkedHashMap.empty[String, ParquetWriter[InternalRow]]
  private var rows = 0L
  private var closed = false
  // None once the distinct keys exceed the share
  private var keys: Option[mutable.HashSet[Any]] =
    keyShare.map(_ => mutable.HashSet.empty[Any])

  private def relDir(row: InternalRow): String =
    if (partEvals.isEmpty) "" else partEvals.map(_(row)).mkString("/")

  private def tmpPath(dir: String): Path =
    new Path(if (dir.isEmpty) targetDir else s"$targetDir/$dir", s"_tmp-$token-$fileName")

  private def openWriter(dir: String): ParquetWriter[InternalRow] = {
    val tmp = tmpPath(dir)
    val f = tmp.getFileSystem(conf)
    // the root was created driver-side before task launch; if it is GONE
    // the write has been aborted — die rather than resurrect the dir
    if (!f.exists(new Path(targetDir)))
      throw new java.io.IOException(
        s"write root $targetDir vanished — write aborted")
    f.mkdirs(tmp.getParent): Unit
    f.delete(tmp, false): Unit // stale attempt leftovers
    try {
      val b = new InternalRowParquetBuilder(tmp, dataFields)
        .withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
      rowGroupBytes.foreach(n => b.withRowGroupSize(n): Unit)
      b.build()
    }
    catch { case e: Throwable =>
      // a kill-interrupted create must not strand a file the task's abort
      // doesn't know about (the writer never reached the map)
      try f.delete(tmp, false): Unit catch { case _: Throwable => () }
      throw e
    }
  }

  override def write(row: InternalRow): Unit = {
    val dir = relDir(row)
    writers.getOrElseUpdate(dir, openWriter(dir)).write(row)
    rows += 1
    for (ks <- keys; (ord, dt, share) <- keyShare if !row.isNullAt(ord)) {
      val k = row.get(ord, dt)
      if (!ks.contains(k)) {
        ks += InternalRow.copyValue(k)
        if (ks.size > share) keys = None
      }
    }
  }

  override def commit(): WriterCommitMessage = {
    val dirs = writers.keys.toSeq
    close()
    val rels = dirs.map { dir =>
      val tmp = tmpPath(dir)
      val rel = if (dir.isEmpty) fileName else s"$dir/$fileName"
      val f = tmp.getFileSystem(conf)
      if (!f.rename(tmp, new Path(targetDir, rel)))
        throw new java.io.IOException(s"task commit: cannot rename $tmp")
      rel
    }
    StagedFilesCommit(rels, rows, keys.map(_.toSeq))
  }

  override def abort(): Unit = {
    val dirs = writers.keys.toSeq
    try close() catch { case _: Throwable => () }
    dirs.foreach { dir =>
      val tmp = tmpPath(dir)
      tmp.getFileSystem(conf).delete(tmp, false): Unit
    }
    // a kill-interrupted staging write can RESURRECT the staging dir the
    // driver's abort already deleted (this task's flush re-created it);
    // if nothing is left under it after our own cleanup, the last task
    // out removes the tree (best effort — vacuum backstops)
    if (targetDir.contains("__staging."))
      try {
        val root = new Path(targetDir)
        val f = root.getFileSystem(conf)
        if (f.exists(root) && !f.listFiles(root, true).hasNext)
          f.delete(root, true): Unit
      } catch { case _: Throwable => () }
  }

  override def close(): Unit =
    if (!closed) { closed = true; writers.values.foreach(_.close()) }
}

// ---------------------------------------------------------------------------
// InternalRow -> parquet, via public parquet-hadoop API only
// ---------------------------------------------------------------------------

private[v2] class InternalRowParquetBuilder(path: Path,
                                            fields: Seq[(StructField, Int)])
    extends ParquetWriter.Builder[InternalRow, InternalRowParquetBuilder](path) {
  override def self(): InternalRowParquetBuilder = this
  override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
    new InternalRowWriteSupport(fields)
}

/** WriteSupport over the engine's scalar types plus arrays, structs and
  * maps. The physical encodings mirror Spark's own non-legacy writer so a
  * read-back through spark.read.parquet reproduces the logical types
  * bit-for-bit: strings as UTF8 binary, decimals ≤9/≤18 digits as
  * annotated INT32/INT64 unscaled values, timestamps as UTC-adjusted
  * INT64 micros, dates as INT32 days, arrays as 3-level LIST groups
  * (`list` repetition wrapper, `element` field), structs as plain groups,
  * maps as MAP `key_value` groups with required keys.
  *
  * `fields` carries (field, ordinal-in-incoming-row) so identity-partition
  * columns can be dropped from the file while the writer still reads them
  * from the unprojected row.
  */
private[v2] class InternalRowWriteSupport(fields: Seq[(StructField, Int)])
    extends WriteSupport[InternalRow] {

  private var consumer: RecordConsumer = _

  private def toParquet(name: String, dt: DataType,
                        rep: PType.Repetition = PType.Repetition.OPTIONAL): PType = {
    def prim(t: PrimitiveTypeName, ann: LogicalTypeAnnotation = null): PType = {
      val b = PTypes.primitive(t, rep)
      (if (ann == null) b else b.as(ann)).named(name)
    }
    dt match {
      case BooleanType => prim(PrimitiveTypeName.BOOLEAN)
      case IntegerType => prim(PrimitiveTypeName.INT32)
      case LongType    => prim(PrimitiveTypeName.INT64)
      case FloatType   => prim(PrimitiveTypeName.FLOAT)
      case DoubleType  => prim(PrimitiveTypeName.DOUBLE)
      case StringType  => prim(PrimitiveTypeName.BINARY, LogicalTypeAnnotation.stringType())
      case BinaryType  => prim(PrimitiveTypeName.BINARY)
      case d: DecimalType if d.precision <= 9 =>
        prim(PrimitiveTypeName.INT32, LogicalTypeAnnotation.decimalType(d.scale, d.precision))
      case d: DecimalType if d.precision <= 18 =>
        prim(PrimitiveTypeName.INT64, LogicalTypeAnnotation.decimalType(d.scale, d.precision))
      case DateType => prim(PrimitiveTypeName.INT32, LogicalTypeAnnotation.dateType())
      case TimestampType => prim(PrimitiveTypeName.INT64,
        LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
      case ArrayType(el, _) =>
        PTypes.buildGroup(rep).as(LogicalTypeAnnotation.listType())
          .addField(PTypes.repeatedGroup()
            .addField(toParquet("element", el)).named("list"))
          .named(name)
      case StructType(fs) =>
        fs.foldLeft(PTypes.buildGroup(rep)) { (g, f) =>
          g.addField(toParquet(f.name, f.dataType))
        }.named(name)
      case MapType(kt, vt, _) =>
        PTypes.buildGroup(rep).as(LogicalTypeAnnotation.mapType())
          .addField(PTypes.repeatedGroup()
            // keys are REQUIRED in the parquet MAP spec
            .addField(toParquet("key", kt, PType.Repetition.REQUIRED))
            .addField(toParquet("value", vt)).named("key_value"))
          .named(name)
      case other => throw new UnsupportedOperationException(
        s"StagedParquet sink: unsupported column type $other for $name")
    }
  }

  private val parquetType: MessageType = {
    val b = PTypes.buildMessage()
    fields.foreach { case (f, _) => b.addField(toParquet(f.name, f.dataType)) }
    b.named("spark_schema")
  }

  /** Emitter for a VALUE of type `dt` read from getters at ordinal i —
    * resolved once per schema, recursive for nested types.
    */
  private def emitterOf(dt: DataType): (SpecializedGetters, Int) => Unit = dt match {
    case BooleanType => (r, i) => consumer.addBoolean(r.getBoolean(i))
    case IntegerType | DateType => (r, i) => consumer.addInteger(r.getInt(i))
    case LongType | TimestampType => (r, i) => consumer.addLong(r.getLong(i))
    case FloatType => (r, i) => consumer.addFloat(r.getFloat(i))
    case DoubleType => (r, i) => consumer.addDouble(r.getDouble(i))
    case StringType => (r, i) =>
      consumer.addBinary(Binary.fromReusedByteArray(r.getUTF8String(i).getBytes))
    case BinaryType => (r, i) =>
      consumer.addBinary(Binary.fromReusedByteArray(r.getBinary(i)))
    case d: DecimalType if d.precision <= 9 => (r, i) =>
      consumer.addInteger(r.getDecimal(i, d.precision, d.scale).toUnscaledLong.toInt)
    case d: DecimalType if d.precision <= 18 => (r, i) =>
      consumer.addLong(r.getDecimal(i, d.precision, d.scale).toUnscaledLong)
    case ArrayType(el, _) =>
      val elEmit = emitterOf(el)
      (r, i) => {
        val arr = r.getArray(i)
        consumer.startGroup()
        if (arr.numElements() > 0) {
          consumer.startField("list", 0)
          var j = 0
          while (j < arr.numElements()) {
            consumer.startGroup()
            if (!arr.isNullAt(j)) {
              consumer.startField("element", 0)
              elEmit(arr, j)
              consumer.endField("element", 0)
            }
            consumer.endGroup()
            j += 1
          }
          consumer.endField("list", 0)
        }
        consumer.endGroup()
      }
    case st: StructType =>
      val fs = st.fields
      val emits = fs.map(f => emitterOf(f.dataType))
      (r, i) => {
        val row = r.getStruct(i, fs.length)
        consumer.startGroup()
        var j = 0
        while (j < fs.length) {
          if (!row.isNullAt(j)) {
            consumer.startField(fs(j).name, j)
            emits(j)(row, j)
            consumer.endField(fs(j).name, j)
          }
          j += 1
        }
        consumer.endGroup()
      }
    case MapType(kt, vt, _) =>
      val kEmit = emitterOf(kt)
      val vEmit = emitterOf(vt)
      (r, i) => {
        val m = r.getMap(i)
        consumer.startGroup()
        if (m.numElements() > 0) {
          consumer.startField("key_value", 0)
          val ks = m.keyArray(); val vs = m.valueArray()
          var j = 0
          while (j < m.numElements()) {
            consumer.startGroup()
            consumer.startField("key", 0)
            kEmit(ks, j)
            consumer.endField("key", 0)
            if (!vs.isNullAt(j)) {
              consumer.startField("value", 1)
              vEmit(vs, j)
              consumer.endField("value", 1)
            }
            consumer.endGroup()
            j += 1
          }
          consumer.endField("key_value", 0)
        }
        consumer.endGroup()
      }
    case other => throw new UnsupportedOperationException(other.toString)
  }

  // per-field (emitter, row-ordinal) resolved once, not per row
  private val emitters: Array[((SpecializedGetters, Int) => Unit, Int)] =
    fields.map { case (f, ord) => (emitterOf(f.dataType), ord) }.toArray

  override def init(conf: Configuration): WriteSupport.WriteContext =
    new WriteSupport.WriteContext(parquetType,
      Map.empty[String, String].asJava)

  override def prepareForWrite(rc: RecordConsumer): Unit = consumer = rc

  override def write(row: InternalRow): Unit = {
    consumer.startMessage()
    var i = 0
    while (i < emitters.length) {
      val (emit, ord) = emitters(i)
      if (!row.isNullAt(ord)) {
        val n = fields(i)._1.name
        consumer.startField(n, i)
        emit(row, ord)
        consumer.endField(n, i)
      }
      i += 1
    }
    consumer.endMessage()
  }
}
