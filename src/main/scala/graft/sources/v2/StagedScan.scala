package graft.sources.v2

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.MessageType

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 READ path for the staged catalog — the scan-side twin of
  * the staged write, built so the catalog's partitioned tables participate
  * in Spark's STORAGE-PARTITIONED JOINS (SPARK-37375): the scan reports
  * [[KeyGroupedPartitioning]] over its identity transforms and every input
  * split carries [[HasPartitionKey]], so with
  * `spark.sql.sources.v2.bucketing.enabled` two tables partitioned on the
  * same key join WITHOUT EITHER SIDE SHUFFLING — at 100 TB that deletes
  * the single largest cost of a fact-fact join (both exchanges), the same
  * mechanism Iceberg/Delta use for bucket-co-located joins. A downstream
  * aggregate on the partition key rides the same distribution (no
  * exchange either).
  *
  * The scan also does the two prunings a V2 source owes the optimizer:
  *   - COLUMN pruning ([[SupportsPushDownRequiredColumns]]): only
  *     requested data columns are decoded — the parquet projection is the
  *     requested subset of the file schema, and files predating an ADD
  *     COLUMN null-fill absent fields at materialization (the read half of
  *     metadata-only schema evolution);
  *   - PARTITION pruning ([[SupportsPushDownFilters]]): every filter
  *     [[PartitionDir.verdict]] can decide for a column of the spec drops
  *     the directories it proves hold no matching row, at plan time,
  *     before any file is opened — the same evaluator the DELETE/UPDATE
  *     directory tiers use. All filters are returned as residuals — Spark
  *     re-checks rows, the scan only skips I/O, so a miscast literal can
  *     never produce wrong rows, only wasted reads.
  *
  * Below the partition grain the scan keeps a ZONE MAP: comparison
  * predicates on stored numeric/temporal data columns are checked against
  * each row group's footer min/max ([[StagedScan.blockSurvives]]), and
  * excluded groups — or whole files — plan no split at all. On a table
  * whose writer clustered the column (range layout, Z-order, time-ordered
  * appends) a selective range predicate reads only the files it lands in;
  * at 100 TB this is the data-skipping half of the lakehouse contract
  * (what etl_zorder_layout/etl_compact_bins lay files out FOR), same
  * conservative rule as above: only a provably-empty group is skipped.
  *
  * Decoding goes through a hand-rolled parquet-hadoop [[ReadSupport]]
  * (public API only) that decodes Spark's own non-legacy parquet encoding,
  * the one every staged-table file is written in — scalars plus the nested
  * encodings (3-level LIST, struct groups, MAP key_value groups), so every
  * table the sink writes reads back through the scan with SPJ/pruning/DPP
  * intact. It stays hand-rolled because the scan needs each row's file
  * position (deletion vectors, equality-delete probes). One input
  * split per FILE with the partition values attached — and per ROW GROUP
  * within large files — so an unpartitioned or hot-partition table reads
  * with real parallelism, and Spark's key-grouped planner re-groups
  * same-key splits for SPJ, so the finer grain costs co-partitioned
  * joins nothing.
  */
class StagedScanBuilder(tableName: String, prodDir: String,
                        tableSchema: StructType, partSpec: Seq[PartField])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {

  private var required: StructType = tableSchema
  private var partPruning: Array[Filter] = Array.empty
  private var dataSkip: Array[Filter] = Array.empty
  private var pushedAgg: Option[(Seq[String], Seq[StagedAggScan.Func])] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    partPruning = filters.filter(PartitionDir.decides(_, partSpec))
    // ZONE-MAP data skipping: comparison predicates on stored DATA columns
    // whose parquet statistics are trustworthy bounds (the same numeric/
    // temporal set the aggregate pushdown trusts — binary/decimal stats
    // can be truncated in the format, never used). These prune ROW GROUPS
    // at plan time from footer min/max ([[StagedScan.blockSurvives]]);
    // identity columns are excluded (not stored in files — they prune
    // directories above), days SOURCE columns participate in both (the
    // dir prunes whole days, the zone map cuts row groups of boundary
    // days when the write was time-ordered)
    val statTypes: Set[DataType] =
      Set(IntegerType, LongType, FloatType, DoubleType, DateType, TimestampType)
    val statCols: Set[String] = tableSchema.fields
      .filter(f => statTypes(f.dataType)).map(_.name).toSet --
      partSpec.filter(_.kind == "identity").map(_.name)
    dataSkip = filters.filter {
      case EqualTo(a, v)            => statCols(a) && v != null
      case In(a, _)                 => statCols(a)
      case GreaterThan(a, v)        => statCols(a) && v != null
      case GreaterThanOrEqual(a, v) => statCols(a) && v != null
      case LessThan(a, v)           => statCols(a) && v != null
      case LessThanOrEqual(a, v)    => statCols(a) && v != null
      case IsNotNull(a)             => statCols(a)
      case _                        => false
    }
    filters // everything stays a residual: pruning only skips I/O
  }

  override def pushedFilters(): Array[Filter] = partPruning ++ dataSkip

  /** METADATA-ONLY aggregation (SupportsPushDownAggregates, partial mode):
    * COUNT(*) answers from parquet footer record counts, MIN/MAX of
    * numeric data columns from footer row-group statistics — a 100 TB
    * table's count is O(files) metadata reads, zero data decoded. Pushed
    * only when every piece is footer-answerable: group-by restricted to
    * identity partition columns (each group is then a set of whole
    * directories), aggregates restricted to CountStar and numeric-typed
    * Min/Max (binary/decimal stats can be TRUNCATED bounds in the parquet
    * format — never answered from metadata here). Partial mode: Spark
    * plans the final agg over per-split partials, so multi-file
    * partitions and residual filters stay exact.
    */
  override def pushAggregation(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    // (Spark only offers an Aggregation when no residual filter sits
    // between the Aggregate and this scan — and every filter here is
    // residual by contract — so a pushed aggregation is always exact)
    // ... unless deletion vectors exist: footer COUNT/MIN/MAX would count
    // deleted rows, so a flagged table takes the row-scan path (which
    // applies the vectors). One O(1) flag probe; compaction restores the
    // pushdown by materializing the deletes and dropping the flag.
    if (StagedParquet.hasDvFlag(new org.apache.hadoop.fs.Path(prodDir)))
      return false
    // ... and the same for live EQUALITY deletes: footer stats count
    // eq-deleted rows; materialization drops the flag and the pushdown
    // returns
    if (StagedParquet.hasEqFlag(new org.apache.hadoop.fs.Path(prodDir)))
      return false
    // partition-spec evolution: old-generation files group by DIRECTORY
    // values of a different spec and may lack today's grouped column in
    // their footers — footer answers would be wrong, so the pushdown
    // stands down while old layouts hold data (migrateLayouts empties
    // them and the pushdown returns; the probe is one shallow listing
    // per generation, zero on never-evolved tables)
    if (StagedParquet.hasOldLayouts(prodDir) &&
        StagedParquet.oldLayoutsHoldData(prodDir)) return false
    val identityCols = partSpec.filter(_.kind == "identity").map(_.name)
    val statTypes: Set[DataType] =
      Set(IntegerType, LongType, FloatType, DoubleType, DateType, TimestampType)
    def dataCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: NamedReference if f.fieldNames().length == 1 &&
            !identityCols.contains(f.fieldNames()(0)) &&
            tableSchema.fieldNames.contains(f.fieldNames()(0)) &&
            statTypes(tableSchema(f.fieldNames()(0)).dataType) &&
            // a RENAMED column's pre-rename files keep stats under the
            // old physical name — the footer-agg reader resolves by
            // current name only, so the pushdown stands down for it
            StagedParquet.aliasesOf(tableSchema(f.fieldNames()(0))).isEmpty =>
          Some(f.fieldNames()(0))
        case _ => None
      }
    val groups = aggregation.groupByExpressions().toSeq.map {
      case f: NamedReference if f.fieldNames().length == 1 &&
          identityCols.contains(f.fieldNames()(0)) => f.fieldNames()(0)
      case _ => return false
    }
    val funcs = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => StagedAggScan.Cnt
      case m: Min => dataCol(m.column()) match {
        case Some(c) => StagedAggScan.Mn(c); case None => return false
      }
      case m: Max => dataCol(m.column()) match {
        case Some(c) => StagedAggScan.Mx(c); case None => return false
      }
      case _ => return false
    }
    if (funcs.isEmpty) return false
    pushedAgg = Some((groups, funcs))
    true
  }

  override def build(): Scan = pushedAgg match {
    case Some((groups, funcs)) =>
      new StagedAggScan(tableName, prodDir, tableSchema, partSpec,
        partPruning.toSeq, groups, funcs)
    case None =>
      new StagedScan(tableName, prodDir, tableSchema, required, partSpec,
        partPruning.toSeq, dataSkip.toSeq)
  }
}

class StagedScan(tableName: String, prodDir: String, tableSchema: StructType,
                 required: StructType, partSpec: Seq[PartField],
                 pruning: Seq[Filter], dataSkip: Seq[Filter] = Nil)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsRuntimeV2Filtering with SupportsReportStatistics
    with SupportsReportOrdering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** The declared `sort.order` reported back to Catalyst
    * (SupportsReportOrdering): with key-grouped partitioning this plans
    * merge joins and sorted reads with ZERO Sort nodes — the write paid
    * the sort once, every read reuses it. HONESTY GATE: the claim holds
    * per input partition, and Spark concatenates same-key splits in
    * whatever order it groups them — so ordering is reported only when
    * every key group planned AT MOST ONE split (the engine's write
    * distribution lands ~1 file per partition; appends break the gate
    * until the next compaction restores it — plans silently regain their
    * Sort nodes, results never change). Withdrawn too when a sort column
    * was pruned from the projection (nothing to resolve it against).
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val cols = StagedParquet.sortColsOf(
      StagedParquet.tableProperties(new Path(prodDir)))
    if (cols.isEmpty || !cols.forall(required.fieldNames.contains))
      return Array.empty
    val multiSplitGroup =
      planned.groupBy(_.rawValues.toList).values.exists(_.length > 1)
    // mixed layout generations also withdraw the claim (their splits
    // interleave in key-value order only within a generation)
    if (multiSplitGroup || plannedDirs.exists(_._3 != partSpec)) Array.empty
    else cols.map(c => Expressions.sort(Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }

  /** PRUNING-AWARE size statistics: the bytes the scan will actually read
    * (surviving splits only — after static partition pruning and the zone
    * map), scaled by the same `spark.sql.sources.fileCompressionFactor`
    * the built-in file scans apply. Without this a V2 table reports
    * UNKNOWN size, Catalyst assumes worst-case, and a small staged dim —
    * or a big table cut to one partition by a pushed predicate — can
    * never auto-broadcast: every join pays two shuffles that built-in
    * parquet wouldn't. At 100 TB the pruning-awareness is the point: the
    * full table is petabyte-class, but `k = 7` reads one directory, and
    * the join strategy should price THAT.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong = {
      val factor = StagedParquet.confValue(org.apache.spark.sql.SparkSession.active,
        "spark.sql.sources.fileCompressionFactor", 1.0)(_.toDouble)
      java.util.OptionalLong.of(math.max(1L, (plannedBytes * factor).toLong))
    }
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  /** One split per FILE, and within files larger than
    * `graft.staged.split.bytes` (default 128 MB) one split per ROW GROUP
    * (byte ranges from the footer's block starting positions — the same
    * public metadata the stats pushdown reads): a hot partition holding
    * one large file reads with row-group parallelism, never through one
    * task. Every split keeps HasPartitionKey with its directory's values,
    * so Spark's key-grouped planner re-groups same-key splits and SPJ
    * still plans zero exchanges — finer granularity costs co-partitioned
    * joins nothing. Small files skip the footer read at plan time (no
    * metadata pass unless a file can actually split).
    */
  private lazy val plannedDirs: Seq[(Seq[String], Seq[(String, Long)], Seq[PartField])] =
    StagedScan.planLayoutDirs(prodDir, tableSchema, partSpec, pruning)

  private lazy val splitBytes: Long = StagedParquet.confValue(
    org.apache.spark.sql.SparkSession.active, "graft.staged.split.bytes", 128L * 1024 * 1024)(_.toLong)

  private def planned: Array[StagedInputPartition] = plannedPair._1
  private def plannedBytes: Long = plannedPair._2
  // one flag probe per scan: tables that never had a deletion vector skip
  // every per-dir DV listing below
  private lazy val tableHasDvs: Boolean =
    StagedParquet.hasDvFlag(new org.apache.hadoop.fs.Path(prodDir))
  // equality deletes: (live eq files with boundaries, rel-path -> add
  // version) — (Nil, empty) at one O(1) probe on tables never upserted in
  // eq mode. A file's applicable eq set = every eq whose boundary exceeds
  // the version that added the file (absent = old = all apply).
  private lazy val tableEqState: (Seq[(String, Long)], Map[String, Long]) =
    StagedParquet.eqPlanState(prodDir)
  private def eqOf(absFile: String): Seq[String] = {
    val (eqs, addV) = tableEqState
    if (eqs.isEmpty) Nil
    else {
      // listings return scheme-qualified URIs while prodDir may be bare —
      // compare URI path components, the form the add deltas record
      val rel = new Path(absFile).toUri.getPath
        .stripPrefix(new Path(prodDir).toUri.getPath).stripPrefix("/")
      val av = addV.getOrElse(rel, -1L)
      eqs.filter(_._2 > av).map(_._1)
    }
  }
  private lazy val plannedPair: (Array[StagedInputPartition], Long) = {
    var bytes = 0L
    val splits = plannedDirs.flatMap { case (vals, files, spec) =>
      val dirDv: Map[String, Seq[(Long, Long)]] =
        if (!tableHasDvs || files.isEmpty) Map.empty
        else StagedParquet.readDvs(new Path(files.head._1).getParent)
      // EVOLUTION GUARD: a skip filter on a column this generation's spec
      // stores in the DIRECTORY NAME must never reach the zone map — the
      // column is absent from the generation's footers, and blockSurvives
      // would read "absent = all null" and skip live rows
      val dirIdentity = spec.filter(_.kind == "identity").map(_.name).toSet
      val dirSkip =
        if (dirIdentity.isEmpty) dataSkip
        else dataSkip.filterNot(_.references.exists(dirIdentity))
      files.flatMap { case (f, len) =>
        val dv = dirDv.getOrElse(new Path(f).getName, Nil)
        val eqf = eqOf(f)
        def whole = { bytes += len
          StagedInputPartition(vals, Seq(f), tableSchema.json,
            spec, required.fieldNames.toSeq, None, dv, 0L, eqf) }
        def ranged(r: (Long, Long), row0: Long) = { bytes += r._2 - r._1
          StagedInputPartition(vals, Seq(f),
            tableSchema.json, spec, required.fieldNames.toSeq,
            Some(r), dv, row0, eqf) }
        if (len <= splitBytes && dirSkip.isEmpty) Seq(whole)
        else {
          // one footer read decides both row-group splitting and the
          // zone-map cut; a file whose every row group is excluded plans
          // ZERO splits — never listed, never opened. Each block carries
          // its cumulative ROW offset: DV positions are file-absolute, so
          // a range split must know the row index it starts at.
          val blocks = StagedScan.blockRanges(f, len)
          val rowOffsets = blocks.scanLeft(0L)(_ + _._3.getRowCount)
          val withRow = blocks.zip(rowOffsets)
            .map { case ((s0, e0, b), row0) => (s0, e0, b, row0) }
          val kept = withRow.filter { case (_, _, b, _) =>
            StagedScan.blockSurvives(b, tableSchema, dirSkip) }
          if (kept.isEmpty) Seq.empty
          else if (kept.length == blocks.length &&
            (len <= splitBytes || blocks.length == 1)) Seq(whole)
          else if (len <= splitBytes)
            // small file, some groups cut: adjacent survivors merge into
            // one range split (skipping trims I/O, not parallelism here)
            kept.foldLeft(List.empty[(Long, Long, Long)]) {
              case ((ps, pe, pr) :: tail, (s0, e0, _, _)) if pe == s0 =>
                (ps, e0, pr) :: tail
              case (acc, (s0, e0, _, r0)) => (s0, e0, r0) :: acc
            }.reverse.map { case (s0, e0, r0) => ranged((s0, e0), r0) }
          else kept.map { case (s0, e0, _, r0) => ranged((s0, e0), r0) }
        }
      }
    }.toArray
    (splits, bytes)
  }

  // ---- DYNAMIC partition pruning (SupportsRuntimeV2Filtering) ------------
  // Spark's DPP rule plants a subquery on the build side of a join whose
  // key is one of filterAttributes(); at execution it calls filter() with
  // the collected build-side values, and planInputPartitions is re-planned
  // against them — fact partitions a selective dim filter eliminated are
  // never opened. Each predicate converts to its V1 form through Spark's
  // own converter and is judged by the static pruning's evaluator
  // ([[PartitionDir.verdict]]), so identity, days and bucket directories
  // close exactly as they would for the same literal in the query text;
  // a predicate without a V1 form prunes NOTHING.
  private var runtime: Seq[Filter] = Nil

  // only columns present in the scan OUTPUT: Spark's PartitionPruning rule
  // resolves these against the (column-pruned) scan relation and THROWS on
  // a miss — a partition column pruned from the projection can't carry a
  // runtime filter anyway
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    partSpec.filter(p => required.fieldNames.contains(p.name))
      .map(p => Expressions.column(QuotingUtils.quoteIfNeeded(p.name))).toArray

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    runtime = predicates.toSeq.flatMap(org.apache.spark.sql.graftbridge.Bridge.toV1)

  // judged under the SPLIT's own spec, not the scan's: under partition-
  // spec evolution an old-generation split stores today's partition column
  // in its data files, so no predicate on it decides and the split survives
  override def planInputPartitions(): Array[InputPartition] =
    planned.filter(p => PartitionDir.mayMatch(runtime, p.rawValues,
      p.partSpec, tableSchema)).toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    StagedReaderFactory(tableSchema.json, partSpec, required.fieldNames.toSeq)

  /** Key-grouped over ALL transforms — identity AND days — the SPJ
    * contract. Spark resolves the days transform through the catalog's
    * [[DaysFunction]] (FunctionCatalog), so two tables day-partitioned on
    * their timestamp storage-partition-join on it without either side
    * shuffling: the 100 TB fact-fact shape (events⋈events by day) joins
    * for free exactly like the identity-bucketed one. Unpartitioned
    * tables report unknown partitioning.
    */
  override def outputPartitioning(): Partitioning =
    // EVOLUTION HONESTY GATE: the key-grouped claim holds only when every
    // PLANNED split carries the current spec — a surviving old-generation
    // split has no directory value for today's transforms, so the claim
    // must withdraw (plans regain their Exchanges, results never change).
    // Empty or fully-pruned old generations cost the claim nothing, and a
    // round-trip evolution (A→B→A) keeps it: same spec, same keys.
    if (partSpec.nonEmpty && plannedDirs.forall(_._3 == partSpec))
      new KeyGroupedPartitioning(
        PartSpec.toTransforms(partSpec)
          .map(t => t: org.apache.spark.sql.connector.expressions.Expression),
        planned.length)
    else new UnknownPartitioning(planned.length)

  override def description(): String =
    s"StagedScan(table=$tableName, partitions=${plannedDirs.length}, " +
      s"splits=${planned.length}, " +
      s"columns=[${required.fieldNames.mkString(",")}], " +
      s"pruning=[${pruning.mkString(",")}], " +
      s"zonemap=[${dataSkip.mkString(",")}])"

  /** STREAMING read — `spark.readStream.table("graft_staged.ns.t")` tails
    * the table's commit MANIFESTS ([[StagedMicroBatchStream]]): each
    * micro-batch reads exactly the files the manifests in its (start,
    * end] id range added. Committed files are immutable (the sink renames
    * task files to final names only at commit), so the tail is consistent
    * without any coordination with appenders — the CDC-tail shape on the
    * 100 TB ingest table, at O(new data) cost per trigger.
    */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new StagedMicroBatchStream(tableName, prodDir, tableSchema, partSpec, required)
}

/** Offset = the last consumed commit-manifest id (-1 before the first).
  * O(1) in the offset log regardless of table size; every (start, end]
  * range replays from the manifest files alone, so a checkpoint restart
  * needs no driver-memory source state.
  */
case class StagedManifestOffset(last: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = last.toString
}

/** Manifest-tail micro-batch stream over a staged table: `latestOffset`
  * lists ONLY the `_manifests` directory (never the table's file tree —
  * on a million-file table a trigger stays a one-directory listing), and
  * `planInputPartitions` reads the files named by manifests (start, end]
  * — one split per new file with its partition-directory values parsed
  * from the relative path, through the same [[StagedReaderFactory]] as
  * the batch path, so identity columns reconstitute and evolution
  * null-fills identically in both.
  *
  * Non-append changes fail LOUDLY instead of corrupting the tail: a
  * full-table REPLACE resets the manifest generation, so the id regresses
  * below the checkpoint and the next batch throws; a rewrite (COW,
  * compaction) that renamed a not-yet-consumed file throws when the
  * manifest's path is missing. Run maintenance behind the stream's
  * committed offset — the same contract Delta's `readChangeFeed`-less
  * stream documents as ignoreChanges/failOnDataLoss.
  *
  * Merge-on-read DELETEs are the one mutation the tail deliberately does
  * NOT observe: a `_dv-*` write renames no data file, so the stream keeps
  * its append-feed semantics (rows as committed; deletes never retract a
  * delivered row — standard CDC-append behavior). Tail partitions carry
  * `dv = Nil` by construction; a consumer that needs deletes reads the
  * change feed ([[StagedParquet.changesBetween]]) instead.
  */
class StagedMicroBatchStream(tableName: String, prodDir: String,
                             tableSchema: StructType, partSpec: Seq[PartField],
                             required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private val root = new Path(prodDir)
  // Trigger.AvailableNow: the last manifest at query start bounds every
  // batch of the run, so a restart re-runs an uncommitted batch and then
  // still reads every manifest committed before the query started
  @volatile private var availableNowEnd = Long.MaxValue

  private def lastManifest: Long =
    StagedParquet.manifestIds(root).lastOption.getOrElse(-1L)
  override def prepareForTriggerAvailableNow(): Unit = availableNowEnd = lastManifest
  override def latestOffset(): Offset =
    StagedManifestOffset(math.min(lastManifest, availableNowEnd))
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = latestOffset()
  override def initialOffset(): Offset = StagedManifestOffset(-1L)
  override def deserializeOffset(json: String): Offset =
    StagedManifestOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[StagedManifestOffset].last
    val b = end.asInstanceOf[StagedManifestOffset].last
    if (b < a) throw new IllegalStateException(
      s"staged stream: manifest id regressed from $a to $b on $tableName — " +
        "the table was replaced or truncated under this stream; restart " +
        "from a fresh checkpoint")
    val f = StagedParquet.fs(root)
    // partition-spec evolution moved committed files under
    // `_layouts/g-<n>/` and TRANSLATED the manifest log 1:1, so a lagging
    // or fresh tail keeps reading — each translated entry resolves its
    // GENERATION's spec (one tiny read per generation per batch) and its
    // dir values from the k=v segments only
    val genSpecs = scala.collection.mutable.Map.empty[String, Seq[PartField]]
    def specOfGen(genRel: String): Seq[PartField] =
      genSpecs.getOrElseUpdate(genRel,
        StagedParquet.readString(
          new Path(new Path(root, genRel), StagedParquet.PartitionFile))
          .map(PartSpec.deserialize).getOrElse(Seq.empty))
    ((a + 1) to b).flatMap { id =>
      StagedParquet.readManifest(root, id)._2.map { rel =>
        val p = new Path(root, rel)
        if (!f.exists(p)) throw new IllegalStateException(
          s"staged stream: $rel (manifest m-$id) no longer exists in " +
            s"$tableName — a rewrite (DELETE/UPDATE/compact) ran ahead of " +
            "this stream's offset; rewrites must stay behind the tail")
        val segs = rel.split('/').toSeq
        val (entrySpec, dirSegs) =
          if (segs.length >= 2 && segs.head == StagedParquet.LayoutsDir)
            (specOfGen(segs.take(2).mkString("/")), segs.drop(2).dropRight(1))
          else (partSpec, segs.dropRight(1))
        val vals = dirSegs.map(_.split("=", 2)(1))
        StagedInputPartition(vals, Seq(p.toString),
          tableSchema.json, entrySpec, required.fieldNames.toSeq)
      }
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    StagedReaderFactory(tableSchema.json, partSpec, required.fieldNames.toSeq)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object StagedScan {
  /** Hadoop defaults parsed ONCE per JVM: every `new Configuration()` walks
    * the core-default/core-site XML (several ms of driver or task time),
    * and the scan paths were allocating one per footer open / per file —
    * the profiled XML-parse frames in the lifecycle queries (optimization
    * round r13). The copy constructor clones the property map without
    * re-parsing, so per-reader isolation stays (parquet read-supports may
    * set keys on their conf).
    */
  private[graft] lazy val baseHadoopConf = new Configuration()
  private[graft] def freshConf(): Configuration = new Configuration(baseHadoopConf)

  /** `f` over an open footer reader of the parquet file at `path`,
    * closed after.
    */
  private[graft] def withFooter[T](path: String, conf: Configuration = freshConf())(
      f: ParquetFileReader => T): T = {
    val fr = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try f(fr) finally fr.close()
  }

  /** Byte ranges covering each row group of `file` (footer starting
    * positions; last range closes at the file length) with the group's
    * footer metadata: one range per row group, chosen so each group's
    * midpoint — the criterion parquet-hadoop's own range filter applies —
    * falls in exactly one range.
    */
  private[graft] def blockRanges(file: String, len: Long): Seq[(Long, Long, org.apache.parquet.hadoop.metadata.BlockMetaData)] = {
    val blocks = withFooter(file)(_.getFooter.getBlocks.asScala.toSeq)
    val starts = blocks.map(_.getStartingPos)
    starts.zip(starts.drop(1) :+ len).zip(blocks)
      .map { case ((s, e), b) => (s, e, b) }
  }

  /** Can any row of this row group satisfy every pushed data-column
    * comparison? Decided from footer min/max statistics, CONSERVATIVELY —
    * the mirror of partition pruning's contract: every filter stays a
    * residual Spark re-checks, so a `false` here only skips I/O that
    * provably holds no matching row, and anything this code cannot decide
    * with certainty (missing/empty statistics, a literal it cannot
    * canonicalize, an incomparable stats type) KEEPS the group. A column
    * absent from the file (pre-evolution) is all-null, and an all-null
    * group (`!hasNonNullValue`) cannot satisfy a comparison with a
    * non-null literal — both skip. Only the numeric/temporal types whose
    * parquet statistics are exact bounds ever reach here
    * ([[StagedScanBuilder.pushFilters]]); binary/decimal stats can be
    * truncated in the format and are never consulted.
    */
  private[graft] def blockSurvives(b: org.apache.parquet.hadoop.metadata.BlockMetaData,
      schema: StructType, filters: Seq[Filter]): Boolean = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    // pushed-literal -> the column's parquet-stats domain (Int epoch days,
    // Long UTC micros, the numeric primitive); None = unrecognized (keep)
    def litVal(dt: DataType, v: Any): Option[Any] = (dt, v) match {
      case (IntegerType, i: java.lang.Integer)     => Some(i)
      case (LongType, l: java.lang.Long)           => Some(l)
      case (FloatType, f: java.lang.Float)         => Some(f)
      case (DoubleType, x: java.lang.Double)       => Some(x)
      case (DateType, d: java.sql.Date)            =>
        Some(Int.box(d.toLocalDate.toEpochDay.toInt))
      case (DateType, d: java.time.LocalDate)      =>
        Some(Int.box(d.toEpochDay.toInt))
      case (TimestampType, t: java.sql.Timestamp)  =>
        Some(Long.box(DateTimeUtils.fromJavaTimestamp(t)))
      case (TimestampType, i: java.time.Instant)   =>
        Some(Long.box(DateTimeUtils.instantToMicros(i)))
      case _                                       => None
    }
    // None = incomparable; Option.forall keeps the group on None
    def cmp(a: Any, bb: Any): Option[Int] = (a, bb) match {
      case (x: java.lang.Integer, y: java.lang.Integer) => Some(x.compareTo(y))
      case (x: java.lang.Long, y: java.lang.Long)       => Some(x.compareTo(y))
      case (x: java.lang.Float, y: java.lang.Float)     => Some(x.compareTo(y))
      case (x: java.lang.Double, y: java.lang.Double)   => Some(x.compareTo(y))
      case _                                            => None
    }
    def overlaps(mn: Any, mx: Any, lv: Any): Boolean =
      cmp(mn, lv).forall(_ <= 0) && cmp(mx, lv).forall(_ >= 0)
    filters.forall { flt =>
      val name = flt match {
        case EqualTo(a, _) => a; case In(a, _) => a; case IsNotNull(a) => a
        case GreaterThan(a, _) => a; case GreaterThanOrEqual(a, _) => a
        case LessThan(a, _) => a; case LessThanOrEqual(a, _) => a
        case _ => return true // unreachable: pushFilters only admits these
      }
      // stats may live under a historical (pre-RENAME) physical name —
      // the bytes are the column's, so its bounds are equally valid
      val physNames = name +: StagedParquet.columnAliases(schema, name)
      b.getColumns.asScala.find(c => physNames.contains(c.getPath.toDotString)) match {
        case None => false // pre-evolution file: all null, comparison can't match
        case Some(cc) =>
          val st = cc.getStatistics
          if (st == null || st.isEmpty) true // stats gap: keep
          else if (!st.hasNonNullValue) flt match {
            case IsNotNull(_) => false // all-null group
            case _            => false // null never satisfies a comparison
          }
          else {
            val dt = schema(name).dataType
            val (mn, mx) = (st.genericGetMin, st.genericGetMax)
            flt match {
              case IsNotNull(_)   => true
              case EqualTo(_, v)  => litVal(dt, v).forall(overlaps(mn, mx, _))
              case In(_, vs)      => vs.exists(v =>
                v == null || litVal(dt, v).forall(overlaps(mn, mx, _)))
              case GreaterThan(_, v)        =>
                litVal(dt, v).forall(lv => cmp(mx, lv).forall(_ > 0))
              case GreaterThanOrEqual(_, v) =>
                litVal(dt, v).forall(lv => cmp(mx, lv).forall(_ >= 0))
              case LessThan(_, v)           =>
                litVal(dt, v).forall(lv => cmp(mn, lv).forall(_ < 0))
              case LessThanOrEqual(_, v)    =>
                litVal(dt, v).forall(lv => cmp(mn, lv).forall(_ <= 0))
              case _ => true
            }
          }
      }
    }
  }

  /** Layout-aware partition planning across SPEC GENERATIONS
    * ([[StagedParquet.layoutRoots]] — partition-spec evolution): every
    * generation root is planned with ITS OWN spec, the current layout
    * last. Pruning stays evolution-conservative for free: a filter on a
    * column a generation does not partition by simply never prunes that
    * generation's directories (its rows carry the column in the data
    * files and the residual filter cuts them).
    */
  private[v2] def planLayoutDirs(prodDir: String, tableSchema: StructType,
      curSpec: Seq[PartField], pruning: Seq[Filter])
      : Seq[(Seq[String], Seq[(String, Long)], Seq[PartField])] =
    StagedParquet.layoutRoots(prodDir).flatMap { case (lroot, _, spec) =>
      planPartitions(lroot.toString, tableSchema, spec, pruning)
        .map { case (_, vals, files) => (vals, files, spec) }
    }

  /** Committed (relative dir path, dir values, (file, length) pairs) under
    * `prodDir`, keeping each directory some row of which may satisfy every
    * `pruning` filter ([[PartitionDir.mayMatch]]) — a residual filter
    * cannot resurrect skipped I/O, so anything the evaluator cannot decide
    * keeps the partition (a wasted read, never a lost row). Lengths come
    * free from the directory listing and gate the row-group split decision
    * without a footer read. Shared by the row scan and the
    * aggregate-pushdown scan.
    */
  private[v2] def planPartitions(prodDir: String, tableSchema: StructType,
      partSpec: Seq[PartField], pruning: Seq[Filter])
      : Seq[(String, Seq[String], Seq[(String, Long)])] = {
    val root = new Path(prodDir)
    val f = StagedParquet.fs(root)
    if (!f.exists(root)) Seq.empty
    else PartitionDir.walk(root, partSpec.length)
      .filter { case (_, _, vals) =>
        PartitionDir.mayMatch(pruning, vals, partSpec, tableSchema) }
      .map { case (rel, dir, vals) =>
        val files = StagedParquet.dataFilesOf(dir)
          .map(st => (st.getPath.toString, st.getLen)).sortBy(_._1)
        (rel, vals, files)
      }
      .filter(_._3.nonEmpty).sortBy(_._2.mkString("/"))
  }
}

/** The metadata-only aggregate scan ([[StagedScanBuilder.pushAggregation]]):
  * one output row per partition directory — group columns from the dir
  * name, COUNT(*) from footer record counts, MIN/MAX from footer row-group
  * statistics folded across the partition's files. Partial-mode contract:
  * Spark's final aggregate merges these per-split rows (sums the counts,
  * re-mins the mins), so correctness never depends on one-split-per-group.
  * Statistics gaps fall back to scanning JUST that column through the flat
  * reader — slower, never wrong.
  */
class StagedAggScan(tableName: String, prodDir: String,
                    tableSchema: StructType, partSpec: Seq[PartField],
                    pruning: Seq[Filter], groups: Seq[String],
                    funcs: Seq[StagedAggScan.Func])
    extends Scan with Batch {

  override def readSchema(): StructType = StructType(
    groups.map(g => tableSchema(g).copy(nullable = true)) ++
      funcs.zipWithIndex.map {
        case (StagedAggScan.Cnt, i)   => StructField(s"count_$i", LongType, nullable = false)
        case (StagedAggScan.Mn(c), i) => StructField(s"min_$i", tableSchema(c).dataType)
        case (StagedAggScan.Mx(c), i) => StructField(s"max_$i", tableSchema(c).dataType)
      })

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    StagedScan.planPartitions(prodDir, tableSchema, partSpec, pruning)
      .flatMap { case (_, vals, files) =>
        // per-file splits: footer reads parallelize; partial mode merges
        files.map { case (f, _) => StagedInputPartition(vals, Seq(f),
          tableSchema.json, partSpec, groups) }
      }.toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    StagedAggReaderFactory(tableSchema.json, partSpec, groups, funcs)

  override def description(): String =
    s"StagedAggScan(table=$tableName, pushed=[${funcs.mkString(",")}], " +
      s"groups=[${groups.mkString(",")}], pruning=[${pruning.mkString(",")}])"
}

object StagedAggScan {
  sealed trait Func extends Serializable
  case object Cnt extends Func { override def toString = "COUNT(*)" }
  case class Mn(col: String) extends Func { override def toString = s"MIN($col)" }
  case class Mx(col: String) extends Func { override def toString = s"MAX($col)" }
}

case class StagedAggReaderFactory(schemaJson: String, partSpec: Seq[PartField],
                                  groups: Seq[String], funcs: Seq[StagedAggScan.Func])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[StagedInputPartition]
    new PartitionReader[InternalRow] {
      private val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      private var done = false

      private def footerStats(): InternalRow = {
        val conf = StagedScan.freshConf()
        var count = 0L
        // per Mn/Mx func: folded (value, sawAnyNonNull)
        val acc = new Array[Any](funcs.length)
        val needStats = funcs.exists(_ != StagedAggScan.Cnt)
        for (file <- p.files) {
          StagedScan.withFooter(file, conf) { fr =>
            count += fr.getRecordCount
            if (needStats) {
              val blocks = fr.getFooter.getBlocks.asScala
              funcs.zipWithIndex.foreach {
                case (StagedAggScan.Cnt, _) => ()
                case (f, i) =>
                  val (col, isMin) = f match {
                    case StagedAggScan.Mn(c) => (c, true)
                    case StagedAggScan.Mx(c) => (c, false)
                    case StagedAggScan.Cnt   => throw new IllegalStateException
                  }
                  for (b <- blocks if b.getRowCount > 0) {
                    b.getColumns.asScala.find(_.getPath.toDotString == col) match {
                      case Some(cc) =>
                        val st = cc.getStatistics
                        if (st == null || st.isEmpty)
                          acc(i) = fallbackScan(col, isMin) // stats gap: exact fallback
                        else if (st.hasNonNullValue) {
                          val v = if (isMin) st.genericGetMin else st.genericGetMax
                          acc(i) = merge(acc(i), v, isMin)
                        } // all-null row group contributes nothing
                      case None => () // pre-evolution file: column absent, all null
                    }
                  }
              }
            }
          }
        }
        val groupVals = groups.map { g =>
          val gi = partSpec.indexWhere(_.name == g)
          PartitionDir.partValue(schema(g).dataType, p.rawValues(gi))
        }
        val aggVals = funcs.zipWithIndex.map {
          case (StagedAggScan.Cnt, _) => count
          case (_, i)                 => acc(i)
        }
        new GenericInternalRow((groupVals ++ aggVals).toArray[Any])
      }

      private def merge(cur: Any, v: Any, isMin: Boolean): Any =
        if (cur == null) v
        else {
          val c = (cur, v) match {
            case (a: java.lang.Integer, b: java.lang.Integer) => a.compareTo(b)
            case (a: java.lang.Long, b: java.lang.Long)       => a.compareTo(b)
            case (a: java.lang.Float, b: java.lang.Float)     => a.compareTo(b)
            case (a: java.lang.Double, b: java.lang.Double)   => a.compareTo(b)
            case _ => throw new UnsupportedOperationException(
              s"staged agg scan: cannot merge ${cur.getClass} stats")
          }
          if ((isMin && c <= 0) || (!isMin && c >= 0)) cur else v
        }

      /** Exact per-column fold for a file whose footer lacks statistics —
        * never answer MIN/MAX from incomplete metadata.
        */
      private def fallbackScan(col: String, isMin: Boolean): Any = {
        var best: Any = null
        for (file <- p.files) {
          val r = ParquetReader.builder(
            new FlatRowReadSupport(Seq(schema(col))), new Path(file))
            .withConf(StagedScan.freshConf()).build()
          try {
            var rec = r.read()
            while (rec != null) {
              if (rec(0) != null) best = merge(best, rec(0), isMin)
              rec = r.read()
            }
          } finally r.close()
        }
        best
      }

      private lazy val row = footerStats() // one metadata pass per split
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** @param rawValues    identity partition dir values, partSpec order
  * @param files        absolute paths of this partition's committed files
  * @param schemaJson   full DECLARED table schema (evolution-aware)
  * @param requiredCols scan output columns, output order
  * @param range        optional byte range restricting the (single) file to
  *                     the row groups whose midpoint falls inside it — the
  *                     row-group split; None reads whole files
  */
/** @param dv       sorted coalesced DELETED row-position ranges of the
  *                  split's (single) file — [[StagedParquet.readDvs]];
  *                  empty on tables without deletion vectors
  * @param rowStart  FILE-absolute row index where this split begins (0 for
  *                  whole-file splits; a range split's first block offset)
  * @param eq       absolute paths of the EQUALITY-DELETE files whose
  *                  boundary covers this split's file (planner-side
  *                  applicability test — see StagedParquet.eqPlanState);
  *                  the reader hash-probes each row's key against their
  *                  loaded (executor-cached) key sets. Empty on tables
  *                  without live equality deletes.
  */
case class StagedInputPartition(rawValues: Seq[String], files: Seq[String],
                                schemaJson: String, partSpec: Seq[PartField],
                                requiredCols: Seq[String],
                                range: Option[(Long, Long)] = None,
                                dv: Seq[(Long, Long)] = Nil,
                                rowStart: Long = 0L,
                                eq: Seq[String] = Nil)
    extends InputPartition with HasPartitionKey {

  /** The split's partition-key row: typed TRANSFORM RESULTS in transform
    * order — identity values as their column type, days values as the
    * transform's DateType epoch-day int — what Spark's key-grouped
    * planner groups and co-locates on. Parsed once per split (the planner
    * calls this during grouping; with many files per partition that is
    * one call per FILE).
    */
  @transient private lazy val key: InternalRow = {
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    new GenericInternalRow(partSpec.zip(rawValues).map { case (pf, raw) =>
      pf.kind match {
        case "days"   => PartitionDir.day(raw).map(d => Int.box(d.toInt)).orNull
        case "bucket" => PartitionDir.bucket(raw).map(Int.box).orNull
        case _ => PartitionDir.partValue(schema(pf.name).dataType, raw)
      }
    }.toArray[Any])
  }

  override def partitionKey(): InternalRow = key
}

case class StagedReaderFactory(schemaJson: String, partSpec: Seq[PartField],
                               requiredCols: Seq[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    StagedReaderFactory.readersCreated.incrementAndGet(): Unit
    val p = partition.asInstanceOf[StagedInputPartition]
    // the SPLIT's spec, not the factory's: under partition-spec evolution
    // each generation's identity columns reconstitute from ITS dir values
    new StagedPartitionReader(p, schemaJson, p.partSpec, requiredCols)
  }
}

object StagedReaderFactory {
  /** Test observability: partitions actually OPENED (post static + runtime
    * pruning). Meaningful in local mode only — the same JVM runs the
    * executors — which is exactly where the specs read it.
    */
  val readersCreated = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** Executor-local cache of equality-delete key sets: eq-file path ->
  * (key column name, key values as Spark internal reps). An eq file is
  * immutable once published (nonce-named; retirement MOVES it, so the
  * path is never re-pointed at new bytes) — load once per executor, share
  * across every split of every query in the JVM. The key column name is
  * read from the eq parquet itself (self-describing schema); values load
  * through the same FlatRowReadSupport the data path uses, so set probes
  * compare identical representations (UTF8String vs UTF8String, boxed
  * primitives vs boxed primitives).
  */
object StagedEqSets {
  /** Eq-set loads that hit parquet (cache misses) — spec observability:
    * N live eq files cost N loads per executor, not N per split.
    */
  val loads = new java.util.concurrent.atomic.AtomicLong(0L)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, java.util.HashSet[Any])]()

  def load(path: String, tableSchema: StructType): (String, java.util.HashSet[Any]) = {
    val got = cache.get(path)
    if (got != null) return got
    loads.incrementAndGet(): Unit
    val p = new Path(path)
    val conf = StagedScan.freshConf()
    val key = StagedScan.withFooter(path, conf)(
      _.getFooter.getFileMetaData.getSchema.getFields.get(0).getName)
    val field = tableSchema(key)
    val set = new java.util.HashSet[Any]()
    val reader = ParquetReader
      .builder(new FlatRowReadSupport(Seq(field)), p).withConf(conf).build()
    try {
      var rec = reader.read()
      while (rec != null) {
        if (rec(0) != null) set.add(rec(0)): Unit
        rec = reader.read()
      }
    } finally reader.close()
    // live eq files are bounded by epochs-between-maintenance; the crude
    // cap only guards a JVM that outlives many maintenance cycles
    if (cache.size > 256) cache.clear()
    val v = (key, set)
    cache.putIfAbsent(path, v)
    v
  }
}

/** Streams this partition's files through the hand-rolled parquet
  * [[ReadSupport]]; identity partition columns are reconstituted from the
  * directory values as per-partition constants (they are not stored in the
  * files — same contract as the writer).
  */
class StagedPartitionReader(p: StagedInputPartition, schemaJson: String,
                            partSpec: Seq[PartField], requiredCols: Seq[String])
    extends PartitionReader[InternalRow] {

  private val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  private val identity = partSpec.filter(_.kind == "identity").map(_.name)
  // equality deletes applying to this split's file: (key column, key set)
  // per eq file, loaded once per executor (StagedEqSets)
  private val eqLoaded: Seq[(String, java.util.HashSet[Any])] =
    p.eq.map(StagedEqSets.load(_, schema))
  // requested DATA fields (everything not reconstituted from the dir
  // name), EXTENDED by any eq key column the projection didn't ask for —
  // the probe needs the value; the slots below never expose the extras
  private val dataFields: Seq[StructField] = {
    val base = requiredCols.filterNot(identity.contains)
    val extra = eqLoaded.map(_._1).distinct
      .filterNot(base.contains).filterNot(identity.contains)
    (base ++ extra).map(n => schema(n))
  }
  // output ordinal -> Left(constant) | Right(index into the data array)
  private val slots: Array[Either[Any, Int]] = requiredCols.map { n =>
    val pi = partSpec.indexWhere(pf => pf.kind == "identity" && pf.name == n)
    if (pi >= 0) Left(PartitionDir.partValue(schema(n).dataType, p.rawValues(pi)))
    else Right(dataFields.indexWhere(_.name == n))
  }.toArray

  private val fileIter = p.files.iterator
  private var reader: ParquetReader[Array[Any]] = _
  private var current: Array[Any] = _
  // count-star / partition-columns-only scans project ZERO data columns;
  // parquet cannot decode an empty projection, so emit footer row counts
  private var pendingRows: Long = 0L
  // deletion-vector skip state: `pos` is the FILE-absolute row index of
  // the NEXT record the reader will return; ranges are sorted and pos is
  // monotonic, so one forward pointer suffices. A split carrying a DV is
  // single-file by construction (batch splits are per-file; multi-file
  // stream partitions always pass dv = Nil — the tail is an append feed).
  private val dvRanges: Array[(Long, Long)] = p.dv.toArray
  private var pos: Long = 0L
  private var dvIdx: Int = 0

  private def dvDeleted(x: Long): Boolean = {
    while (dvIdx < dvRanges.length && dvRanges(dvIdx)._2 <= x) dvIdx += 1
    dvIdx < dvRanges.length && dvRanges(dvIdx)._1 <= x
  }

  // equality-delete probes: key set + accessor (identity keys are
  // per-split constants — the write guard keeps upsert keys data-stored,
  // but the reader stays general)
  private val eqProbes: Array[(java.util.HashSet[Any], Either[Any, Int])] =
    eqLoaded.map { case (k, set) =>
      val pi = partSpec.indexWhere(pf => pf.kind == "identity" && pf.name == k)
      val acc: Either[Any, Int] =
        if (pi >= 0) Left(PartitionDir.partValue(schema(k).dataType, p.rawValues(pi)))
        else Right(dataFields.indexWhere(_.name == k))
      (set, acc)
    }.toArray
  // a constant-key probe that matches deletes the WHOLE split — also the
  // only correct answer for the footer-count (zero-data-column) path
  private val eqWholeSplitDeleted: Boolean = eqProbes.exists {
    case (set, Left(c)) => c != null && set.contains(c)
    case _              => false
  }
  private def eqDeleted(rec: Array[Any]): Boolean = {
    var i = 0
    while (i < eqProbes.length) {
      val v = eqProbes(i)._2 match {
        case Left(c)   => c
        case Right(ix) => rec(ix)
      }
      if (v != null && eqProbes(i)._1.contains(v)) return true
      i += 1
    }
    false
  }

  private def openNext(): Boolean = {
    if (reader != null) { reader.close(); reader = null }
    if (!fileIter.hasNext) false
    else if (dataFields.isEmpty) {
      // a range split counts only its own row groups (midpoint rule —
      // the same criterion parquet-hadoop's range filter applies); DV'd
      // positions subtract per block so footer counts stay exact
      StagedScan.withFooter(fileIter.next())(f => p.range match {
        case None =>
          val n = f.getRecordCount
          pendingRows += n - StagedParquet.deletedWithin(p.dv, 0L, n)
        case Some((s0, e0)) =>
          var off = 0L
          f.getFooter.getBlocks.asScala.foreach { b =>
            val mid = b.getStartingPos + b.getCompressedSize / 2
            if (mid >= s0 && mid < e0)
              pendingRows += b.getRowCount -
                StagedParquet.deletedWithin(p.dv, off, off + b.getRowCount)
            off += b.getRowCount
          }
      })
      true
    } else {
      val builder = ParquetReader
        .builder(new FlatRowReadSupport(dataFields), new Path(fileIter.next()))
        .withConf(StagedScan.freshConf())
      reader = p.range
        .map { case (s0, e0) => builder.withFileRange(s0, e0) }
        .getOrElse(builder)
        .build()
      pos = p.rowStart
      dvIdx = 0
      true
    }
  }

  override def next(): Boolean = {
    if (eqWholeSplitDeleted) return false
    if (dataFields.isEmpty) {
      while (pendingRows == 0L && fileIter.hasNext) openNext(): Unit
      if (pendingRows == 0L) return false
      pendingRows -= 1
      return true
    }
    while (true) {
      if (reader == null && !openNext()) return false
      val rec = reader.read()
      if (rec != null) {
        val x = pos; pos += 1
        if ((dvRanges.isEmpty || !dvDeleted(x)) &&
            (eqProbes.isEmpty || !eqDeleted(rec))) { current = rec; return true }
      } else { reader.close(); reader = null }
    }
    false
  }

  override def get(): InternalRow =
    new GenericInternalRow(slots.map {
      case Left(const) => const
      case Right(i)    => current(i)
    })

  override def close(): Unit = if (reader != null) reader.close()
}

// ---------------------------------------------------------------------------
// parquet -> values, via public parquet-hadoop API only
// ---------------------------------------------------------------------------

/** Materializes each record as an Array[Any] in `requested` order using
  * Spark internal value representations (UTF8String, epoch-day ints, UTC
  * micros, Decimal, GenericArrayData / GenericInternalRow /
  * ArrayBasedMapData for nested types). Fields absent from the file
  * (pre-evolution files) stay null. The nested converters decode Spark's
  * non-legacy writer encodings: 3-level LIST groups (`list` repetition
  * wrapper, `element` field), plain struct groups, MAP `key_value` groups
  * with required keys — so every table the staged sink can write reads
  * back through the V2 scan (and keeps SPJ / pruning / DPP / agg
  * pushdown), not just flat-scalar ones. The types [[converterFor]]
  * accepts are also the only ones a staged write accepts
  * ([[StagedParquetWriterFactory.prepare]]).
  */
private[v2] class FlatRowReadSupport(requested: Seq[StructField])
    extends ReadSupport[Array[Any]] {

  // a requested field resolves to its declared name, or — files written
  // before a RENAME COLUMN — to a historical alias present in the file
  // (StructField metadata rides in through `requested`); validation at
  // rename time keeps names and aliases disjoint, so the reverse lookup
  // below is unambiguous
  private def ordinalOf(physical: String): Int =
    requested.indexWhere(f => f.name == physical ||
      StagedParquet.aliasesOf(f).contains(physical))

  override def init(ctx: InitContext): ReadSupport.ReadContext = {
    val fileSchema = ctx.getFileSchema
    val tps: java.util.List[org.apache.parquet.schema.Type] =
      requested.flatMap { f =>
        (f.name +: StagedParquet.aliasesOf(f))
          .find(fileSchema.containsField)
          .map(n => fileSchema.getType(Seq(n): _*))
      }.asJava
    new ReadSupport.ReadContext(new MessageType("spark_schema", tps))
  }

  override def prepareForRead(conf: Configuration,
                              keyValueMetaData: java.util.Map[String, String],
                              fileSchema: MessageType,
                              readContext: ReadSupport.ReadContext): RecordMaterializer[Array[Any]] = {
    val projected = readContext.getRequestedSchema
    // projected field i -> ordinal in the requested (output) array
    val target: Array[Int] = projected.getFields.asScala.toArray
      .map(t => ordinalOf(t.getName))
    val types: Array[DataType] = projected.getFields.asScala.toArray
      .map(t => requested(ordinalOf(t.getName)).dataType)
    new RecordMaterializer[Array[Any]] {
      private val row = new Array[Any](requested.length)

      // ONE stable converter tree: parquet binds column readers to the
      // tree returned here and drives assembly through the same instance,
      // so this must be a val (a fresh tree per call would receive values
      // in one instance and assemble records from another)
      private val root: GroupConverter = new GroupConverter {
        private val convs: Array[Converter] = types.indices.map { i =>
          val out = target(i)
          FlatRowReadSupport.converterFor(types(i), v => row(out) = v)
        }.toArray
        override def getConverter(i: Int): Converter = convs(i)
        override def start(): Unit = java.util.Arrays.fill(
          row.asInstanceOf[Array[AnyRef]], null)
        override def end(): Unit = ()
      }

      override def getCurrentRecord: Array[Any] = row.clone()
      override def getRootConverter: GroupConverter = root
    }
  }
}

private[v2] object FlatRowReadSupport {
  import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}

  /** Converter for a VALUE of type `dt` delivering through `update` —
    * recursive for nested types. Parquet calls converters only on
    * NON-NULL values; absent optional fields keep whatever the enclosing
    * start() reset their slot to (null), which is exactly parquet's
    * encoding of nulls.
    */
  private[v2] def converterFor(dt: DataType, update: Any => Unit): Converter = dt match {
    case BooleanType => new PrimitiveConverter {
      override def addBoolean(v: Boolean): Unit = update(v) }
    case IntegerType | DateType => new PrimitiveConverter {
      override def addInt(v: Int): Unit = update(v) }
    case LongType => new PrimitiveConverter {
      override def addLong(v: Long): Unit = update(v) }
    case TimestampType => new PrimitiveConverter {
      // staged tables store INT64 UTC micros; addBinary is the INT96 fallback
      // for files a legacy Spark writer produced (12 bytes little-endian:
      // 8-byte nanos-of-day + 4-byte Julian day; 2440588 = epoch day 0)
      override def addLong(v: Long): Unit = update(v)
      override def addBinary(v: Binary): Unit = {
        val bb = java.nio.ByteBuffer.wrap(v.getBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanos = bb.getLong
        val julianDay = bb.getInt
        update((julianDay - 2440588L) * 86400000000L + nanos / 1000L)
      }
    }
    case FloatType => new PrimitiveConverter {
      override def addFloat(v: Float): Unit = update(v) }
    case DoubleType => new PrimitiveConverter {
      override def addDouble(v: Double): Unit = update(v) }
    case StringType => new PrimitiveConverter {
      override def addBinary(v: Binary): Unit =
        update(UTF8String.fromBytes(v.getBytes)) }
    case BinaryType => new PrimitiveConverter {
      override def addBinary(v: Binary): Unit = update(v.getBytes) }
    case d: DecimalType if d.precision <= 9 => new PrimitiveConverter {
      override def addInt(v: Int): Unit =
        update(Decimal(v.toLong, d.precision, d.scale)) }
    case d: DecimalType if d.precision <= 18 => new PrimitiveConverter {
      override def addLong(v: Long): Unit =
        update(Decimal(v, d.precision, d.scale)) }

    // 3-level LIST group: outer group -> repeated "list" group -> "element"
    case ArrayType(el, _) => new GroupConverter {
      private val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
      private val repeated: GroupConverter = new GroupConverter {
        private var pending: Any = null
        private val elConv = converterFor(el, v => pending = v)
        override def getConverter(i: Int): Converter = elConv
        override def start(): Unit = pending = null
        override def end(): Unit = buf += pending
      }
      override def getConverter(i: Int): Converter = repeated
      override def start(): Unit = buf.clear()
      override def end(): Unit = update(new GenericArrayData(buf.toArray))
    }

    // plain struct group: one child converter per field, slots reset per row
    case st: StructType => new GroupConverter {
      private val n = st.fields.length
      private val slots = new Array[Any](n)
      private val convs: Array[Converter] = st.fields.zipWithIndex.map {
        case (f, i) => converterFor(f.dataType, v => slots(i) = v)
      }
      override def getConverter(i: Int): Converter = convs(i)
      override def start(): Unit = java.util.Arrays.fill(
        slots.asInstanceOf[Array[AnyRef]], null)
      override def end(): Unit =
        update(new GenericInternalRow(slots.clone()))
    }

    // MAP group: outer group -> repeated "key_value" group -> key, value
    case MapType(kt, vt, _) => new GroupConverter {
      private val keys = scala.collection.mutable.ArrayBuffer.empty[Any]
      private val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
      private val repeated: GroupConverter = new GroupConverter {
        private var k: Any = null
        private var v: Any = null
        private val kConv = converterFor(kt, x => k = x)
        private val vConv = converterFor(vt, x => v = x)
        override def getConverter(i: Int): Converter =
          if (i == 0) kConv else vConv
        override def start(): Unit = { k = null; v = null }
        override def end(): Unit = { keys += k; vals += v }
      }
      override def getConverter(i: Int): Converter = repeated
      override def start(): Unit = { keys.clear(); vals.clear() }
      override def end(): Unit = update(new ArrayBasedMapData(
        new GenericArrayData(keys.toArray), new GenericArrayData(vals.toArray)))
    }

    case other => throw new UnsupportedOperationException(
      s"staged scan: unsupported column type $other")
  }
}

/** Read-only table over a reconstructed historical version
  * ([[StagedParquet.snapshotOfDir]]) — what `VERSION AS OF n` resolves to.
  * Serves the version's generation schema/partitioning and plans one split
  * per retained file through the same reader as live scans (identity
  * columns reconstitute from the recorded directory values, evolution
  * null-fills). Column pruning works; partition pruning deliberately
  * doesn't — time travel is a forensic read, not a hot path.
  */
class StagedSnapshotTable(tableName: String,
                          snap: StagedParquet.Snapshot)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability

  override def name(): String = tableName
  override def schema(): StructType = snap.schema
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    PartSpec.toTransforms(snap.partSpec)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = snap.schema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = required
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          snap.dirs.flatMap { sd =>
            sd.files.map { f =>
              val n = new Path(f).getName
              StagedInputPartition(sd.vals, Seq(f),
                snap.schema.json, sd.spec, required.fieldNames.toSeq,
                None, sd.deleted.getOrElse(n, Nil), 0L,
                sd.eq.getOrElse(n, Nil))
            }
          }.toArray[InputPartition]
        override def createReaderFactory(): PartitionReaderFactory =
          StagedReaderFactory(snap.schema.json, snap.partSpec,
            required.fieldNames.toSeq)
        override def description(): String =
          s"StagedSnapshotScan(table=$tableName, files=${snap.dirs.map(_.files.length).sum})"
      }
    }
}
