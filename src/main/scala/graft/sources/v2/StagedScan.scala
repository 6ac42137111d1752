package graft.sources.v2

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Coalesce, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._

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
  * Decoding goes through Spark's own parquet reader ([[StagedRead]]), the
  * decoder of the writer every staged-table file comes from, so every
  * table the sink writes reads back through the scan with SPJ/pruning/DPP
  * intact; it also supplies each row's file-absolute position, which
  * deletion vectors are keyed by. One input
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
    // whose parquet statistics are trustworthy bounds. These prune ROW
    // GROUPS at plan time from footer min/max ([[StagedScan.blockSurvives]]);
    // identity columns are excluded (not stored in files — they prune
    // directories above), days SOURCE columns participate in both (the
    // dir prunes whole days, the zone map cuts row groups of boundary
    // days when the write was time-ordered)
    val statCols: Set[String] = tableSchema.fields
      .filter(f => StagedScan.StatTypes(f.dataType)).map(_.name).toSet --
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
    def dataCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: NamedReference if f.fieldNames().length == 1 &&
            !identityCols.contains(f.fieldNames()(0)) &&
            tableSchema.fieldNames.contains(f.fieldNames()(0)) &&
            StagedScan.StatTypes(tableSchema(f.fieldNames()(0)).dataType) &&
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
        def split(range: Option[(Long, Long)]) = {
          bytes += range.fold(len)(r => r._2 - r._1)
          StagedInputPartition(vals, f, tableSchema.json, spec, range,
            dirDv.getOrElse(new Path(f).getName, Nil), eqOf(f))
        }
        if (len <= splitBytes && dirSkip.isEmpty) Seq(split(None))
        else {
          // one footer read decides both row-group splitting and the
          // zone-map cut; a file whose every row group is excluded plans
          // ZERO splits — never listed, never opened. DV positions need no
          // per-split offset: the reader reports file-absolute row indexes
          // under a range split too.
          val blocks = StagedScan.blockRanges(f, len)
          val kept = blocks.filter { case (_, _, b) =>
            StagedScan.blockSurvives(b, tableSchema, dirSkip) }
          if (kept.isEmpty) Seq.empty
          else if (kept.length == blocks.length &&
            (len <= splitBytes || blocks.length == 1)) Seq(split(None))
          else if (len <= splitBytes)
            // small file, some groups cut: adjacent survivors merge into
            // one range split (skipping trims I/O, not parallelism here)
            kept.foldLeft(List.empty[(Long, Long)]) {
              case ((ps, pe) :: tail, (s0, e0, _)) if pe == s0 => (ps, e0) :: tail
              case (acc, (s0, e0, _)) => (s0, e0) :: acc
            }.reverse.map(r => split(Some(r)))
          else kept.map { case (s0, e0, _) => split(Some((s0, e0))) }
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

  // one reader per scan: Spark asks for the factory more than once per
  // query, and each StagedRead broadcasts the Hadoop conf
  private lazy val read = new StagedRead(tableSchema, required,
    StagedEqSets.keysOf(tableEqState._1.map(_._1)))
  override def createReaderFactory(): PartitionReaderFactory = StagedReaderFactory(read)

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
    * the table's commit log ([[StagedMicroBatchStream]]): each micro-batch
    * reads exactly the data files the version deltas in its (start, end]
    * range added. Committed files are immutable (the sink renames
    * task files to final names only at commit), so the tail is consistent
    * without any coordination with appenders — the CDC-tail shape on the
    * 100 TB ingest table, at O(new data) cost per trigger.
    */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new StagedMicroBatchStream(tableName, prodDir, tableSchema, partSpec, required)
}

/** Offset = the last consumed version id (-1 before the first).
  * O(1) in the offset log regardless of table size; every (start, end]
  * range replays from the version deltas alone, so a checkpoint restart
  * needs no driver-memory source state.
  */
case class StagedVersionOffset(last: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = last.toString
}

/** Commit-log tail micro-batch stream over a staged table: `latestOffset`
  * lists ONLY the table's version deltas (never its file tree — on a
  * million-file table a trigger stays a one-directory listing), and
  * `planInputPartitions` reads the data-file adds of the deltas in
  * (start, end] ([[StagedParquet.Delta.tailFiles]]) — one split per new
  * file with its partition-directory values parsed from the relative
  * path, through the same [[StagedReaderFactory]] as the batch path, so
  * identity columns reconstitute and evolution null-fills identically in
  * both. A new stream starts at the table's newest REPLACE.
  *
  * Non-append changes fail LOUDLY instead of corrupting the tail: a
  * full-table REPLACE past the checkpoint throws at the next batch; a
  * rewrite (COW, compaction) that renamed a not-yet-consumed file throws
  * when the file's path is missing. Run maintenance behind the stream's
  * committed offset — the same contract Delta's `readChangeFeed`-less
  * stream documents as ignoreChanges/failOnDataLoss.
  *
  * Rewrites are the mutations the tail deliberately does NOT observe: a
  * rewrite's delta carries [[StagedParquet.RewriteMark]], so the stream
  * keeps its append-feed semantics (rows as committed; deletes never
  * retract a delivered row, and a MERGE's or UPDATE's rewritten rows are
  * not re-delivered — standard CDC-append behavior). Tail partitions
  * carry `dv = Nil` by construction; a consumer that needs deletes reads
  * the change feed ([[StagedParquet.changesBetween]]) instead.
  */
class StagedMicroBatchStream(tableName: String, prodDir: String,
                             tableSchema: StructType, partSpec: Seq[PartField],
                             required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private val root = new Path(prodDir)
  // Trigger.AvailableNow: the newest version at query start bounds every
  // batch of the run, so a restart re-runs an uncommitted batch and then
  // still reads every version committed before the query started
  @volatile private var availableNowEnd = Long.MaxValue

  private def lastVersion: Long =
    StagedParquet.deltaLog(prodDir).lastOption.map(_.v).getOrElse(-1L)
  override def prepareForTriggerAvailableNow(): Unit = availableNowEnd = lastVersion
  override def latestOffset(): Offset =
    StagedVersionOffset(math.min(lastVersion, availableNowEnd))
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = latestOffset()
  override def initialOffset(): Offset = StagedVersionOffset(-1L)
  override def deserializeOffset(json: String): Offset =
    StagedVersionOffset(json.trim.toLong)

  // Spark asks for a micro-batch's splits once per copy of its physical
  // plan (about a dozen per batch): the last range's splits are kept
  @volatile private var planned: ((Long, Long), Array[InputPartition]) = ((-2L, -2L), Array.empty)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val range = (start.asInstanceOf[StagedVersionOffset].last,
      end.asInstanceOf[StagedVersionOffset].last)
    if (planned._1 != range) planned = (range, plan(range._1, range._2))
    planned._2
  }

  private def plan(a: Long, b: Long): Array[InputPartition] = {
    if (b < a) throw new IllegalStateException(
      s"staged stream: version regressed from $a to $b on $tableName — " +
        "the table was dropped or recreated under this stream; restart " +
        "from a fresh checkpoint")
    val f = StagedParquet.fs(root)
    val log = StagedParquet.deltaLog(prodDir)
    val range = StagedParquet.tailRange(log, a, b, tableName)
    // partition-spec evolution moves committed files under
    // `_layouts/g-<n>/` and leaves the log alone: an add recorded before
    // an `!evolve=g-<n>` mark resolves under the first such generation. A
    // crashed evolve's moves carry no mark, so a file found at neither
    // place is looked up in every generation. A generation entry parses
    // under ITS spec (one tiny read per generation per batch) and its dir
    // values from the k=v segments only.
    val evolves = range.headOption.toSeq
      .flatMap(first => log.filter(_.v > first.v))
      .flatMap(dl => dl.values("evolve").map(g => (dl.v, s"${StagedParquet.LayoutsDir}/$g")))
    lazy val gens = StagedParquet.layoutRoots(prodDir).dropRight(1).map(_._2)
    def resolve(v: Long, rel: String): String =
      (evolves.find(_._1 > v).map(e => s"${e._2}/$rel").iterator ++
        Iterator(rel) ++ gens.iterator.map(g => s"$g/$rel"))
        .find(r => f.exists(new Path(root, r)))
        .getOrElse(throw new IllegalStateException(
          s"staged stream: $rel (version $v) no longer exists in " +
            s"$tableName — a rewrite (DELETE/UPDATE/compact) ran ahead of " +
            "this stream's offset; rewrites must stay behind the tail"))
    val genSpecs = scala.collection.mutable.Map.empty[String, Seq[PartField]]
    range.flatMap { dl =>
      dl.tailFiles.map { added =>
        val rel = resolve(dl.v, added)
        val segs = rel.split('/').toSeq
        val (entrySpec, dirSegs) =
          if (segs.length >= 2 && segs.head == StagedParquet.LayoutsDir) {
            val genRel = segs.take(2).mkString("/")
            (genSpecs.getOrElseUpdate(genRel, StagedParquet.specOf(new Path(root, genRel))),
              segs.drop(2).dropRight(1))
          } else (partSpec, segs.dropRight(1))
        val vals = dirSegs.map(_.split("=", 2)(1))
        StagedInputPartition(vals, new Path(root, rel).toString, tableSchema.json, entrySpec)
      }
    }.toArray[InputPartition]
  }

  // one reader for the query's every micro-batch (see StagedScan.read)
  private lazy val read = new StagedRead(tableSchema, required, Map.empty)
  override def createReaderFactory(): PartitionReaderFactory = StagedReaderFactory(read)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object StagedScan {
  /** Stored column types whose parquet footer statistics are exact bounds,
    * the only ones the zone map ([[blockSurvives]]) and the footer
    * aggregate pushdown consult: binary/decimal statistics can be
    * truncated in the format and are never used.
    */
  private[v2] val StatTypes: Set[DataType] =
    Set(IntegerType, LongType, FloatType, DoubleType, DateType, TimestampType)

  /** Hadoop defaults parsed ONCE per JVM: every `new Configuration()` walks
    * the core-default/core-site XML (several ms of driver or task time),
    * and the scan paths were allocating one per footer open / per file —
    * the profiled XML-parse frames in the lifecycle queries (optimization
    * round r13). The copy constructor clones the property map without
    * re-parsing, so each footer read gets its own conf.
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
      val physNames = StagedParquet.readNames(schema(name))
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
  * Statistics gaps fall back to scanning the file's MIN/MAX columns
  * through the scan's reader ([[StagedRead]]) — slower, never wrong.
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
        files.map { case (f, _) =>
          StagedInputPartition(vals, f, tableSchema.json, partSpec) }
      }.toArray[InputPartition]

  // a COUNT(*)-only scan reads no column, so builds no reader
  private lazy val read = {
    val cols = funcs.collect { case StagedAggScan.Mn(c) => c; case StagedAggScan.Mx(c) => c }
    Option.when(cols.nonEmpty)(
      new StagedRead(tableSchema, StructType(cols.distinct.map(tableSchema(_))), Map.empty))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    StagedAggReaderFactory(tableSchema.json, partSpec, groups, funcs, read)

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

/** @param read the MIN/MAX columns (None without any), for a file whose
  *             footer lacks their statistics
  */
case class StagedAggReaderFactory(schemaJson: String, partSpec: Seq[PartField],
                                  groups: Seq[String], funcs: Seq[StagedAggScan.Func],
                                  read: Option[StagedRead])
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
        StagedScan.withFooter(p.file, conf) { fr =>
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
        val value = read.get.column(col)
        var best: Any = null
        read.get.foreach(p.file) { r =>
          val v = value.eval(r)
          if (v != null) best = merge(best, v, isMin)
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

/** One input split: a committed file, whole or one row-group byte range.
  * @param rawValues  the file's directory values, `partSpec` order
  * @param file       absolute path of the file
  * @param schemaJson full DECLARED table schema (evolution-aware)
  * @param partSpec   the spec of the file's layout generation
  * @param range      optional byte range restricting the file to the row
  *                   groups whose midpoint falls inside it — the row-group
  *                   split; None reads the whole file
  * @param dv         sorted coalesced DELETED row-position ranges of the
  *                   file, file-absolute ([[StagedParquet.readDvs]]);
  *                   empty on tables without deletion vectors
  * @param eq         absolute paths of the EQUALITY-DELETE files whose
  *                   boundary covers this split's file (planner-side
  *                   applicability test — see StagedParquet.eqPlanState);
  *                   the reader hash-probes each row's key against their
  *                   loaded (executor-cached) key sets. Empty on tables
  *                   without live equality deletes.
  */
case class StagedInputPartition(rawValues: Seq[String], file: String,
                                schemaJson: String, partSpec: Seq[PartField],
                                range: Option[(Long, Long)] = None,
                                dv: Seq[(Long, Long)] = Nil,
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

/** One staged scan's parquet read, built on the driver and shipped to its
  * tasks: Spark's own reader ([[ParquetFileFormat]] in row mode, the
  * session's Hadoop conf broadcast once per scan) over ONE read schema
  * for every split —
  *   - each of [[cols]] under its declared name and its pre-RENAME
  *     aliases ([[StagedParquet.widenForAliases]]), all nullable: a
  *     column a file lacks (added later, renamed, or stored in the
  *     directory name) reads null;
  *   - the file row index, file-absolute under a row-group range split
  *     too — what deletion vectors are keyed by;
  *   - as Spark partition values, each of [[cols]] whose type a directory
  *     name can carry ([[PartitionDir.dirValueType]]), set per split from
  *     the split's own spec and null where that spec stores the column in
  *     the file.
  * Each column is then one coalesce(name, aliases…, partition value)
  * over the raw row ([[column]]), whatever rename, layout generation or
  * spec the file comes from.
  *
  * @param schema the declared table schema
  * @param out    the scan's output schema: its columns, with the types the
  *               scan reports (Spark may have pruned nested fields)
  * @param eqKeys live equality-delete file → its key column
  */
final class StagedRead(schema: StructType, out: StructType,
                       val eqKeys: Map[String, String]) extends Serializable {
  /** The output columns, then the eq key columns the output lacks. */
  private val cols: Seq[String] =
    (out.fieldNames.toSeq ++ eqKeys.values.toSeq.sorted).distinct
  private def typeOf(c: String): DataType =
    if (out.fieldNames.contains(c)) out(c).dataType else schema(c).dataType
  private val data = StructType(StagedParquet.widenForAliases(StructType(
    cols.map(c => schema(c).copy(dataType = typeOf(c))))).map(_.copy(nullable = true)))
  private val partCols = cols.filter(c => PartitionDir.dirValueType(typeOf(c)))
  /** Ordinal of the file row index in a raw row. */
  val rowIndex: Int = data.length

  private val fn: PartitionedFile => Iterator[InternalRow] = {
    val read = data.add(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)
    val part = StructType(partCols.map(c => StructField(c, typeOf(c))))
    val s = SparkSession.active
    new ParquetFileFormat().buildReaderWithPartitionValues(s, read, part, read, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), s.sessionState.newHadoopConf())
  }

  /** The raw rows of `file` (of its row groups whose midpoint falls in
    * `range`, when set), with `spec`'s identity values `vals` as partition
    * values. Rows are reused: copy what outlives the next row. The
    * caller closes the iterator ([[close]]).
    */
  def rows(file: String, range: Option[(Long, Long)],
           spec: Seq[PartField] = Nil, vals: Seq[String] = Nil): Iterator[InternalRow] = {
    val part = new GenericInternalRow(partCols.map { c =>
      val pi = spec.indexWhere(pf => pf.kind == "identity" && pf.name == c)
      if (pi < 0) null else PartitionDir.partValue(typeOf(c), vals(pi))
    }.toArray[Any])
    // a whole file: every row group's midpoint lies in [0, Long.MaxValue)
    val (start, len) = range.fold((0L, Long.MaxValue))(r => (r._1, r._2 - r._1))
    fn(PartitionedFile(part, SparkPath.fromPathString(file), start, len))
  }

  def close(rows: Iterator[InternalRow]): Unit = rows match {
    case c: java.io.Closeable => c.close()
    case _                    => ()
  }

  /** `f` over every raw row of the whole `file`. */
  def foreach(file: String)(f: InternalRow => Unit): Unit = {
    val it = rows(file, None)
    try it.foreach(f) finally close(it)
  }

  /** The output columns over a raw row. */
  def output: Seq[Expression] = out.fieldNames.toSeq.map(column)

  /** Column `c` over a raw row: coalesce(name, aliases…, partition value). */
  def column(c: String): Expression = {
    val dt = typeOf(c)
    val pi = partCols.indexOf(c)
    Coalesce(StagedParquet.readNames(schema(c))
      .map(n => BoundReference(data.fieldIndex(n), dt, nullable = true)) ++
      Option.when(pi >= 0)(BoundReference(rowIndex + 1 + pi, dt, nullable = true)))
  }
}

case class StagedReaderFactory(read: StagedRead) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    StagedReaderFactory.readersCreated.incrementAndGet(): Unit
    new StagedPartitionReader(partition.asInstanceOf[StagedInputPartition], read)
  }
}

object StagedReaderFactory {
  /** Test observability: partitions actually OPENED (post static + runtime
    * pruning). Meaningful in local mode only — the same JVM runs the
    * executors — which is exactly where the specs read it.
    */
  val readersCreated = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** Equality-delete key sets. An eq file is immutable once published
  * (nonce-named; retirement MOVES it, so the path is never re-pointed at
  * new bytes). Its one column IS the key: [[keysOf]] reads the name from
  * each file's footer on the driver, and [[load]] reads the values once
  * per executor through the scan's own [[StagedRead]], shared across every
  * split of every query in the JVM. Values keep Spark's internal
  * representation (UTF8String, boxed primitives), copied out of the
  * reader's reused rows, so set probes compare like with like.
  */
object StagedEqSets {
  /** Eq-set loads that hit parquet (cache misses) — spec observability:
    * N live eq files cost N loads per executor, not N per split.
    */
  val loads = new java.util.concurrent.atomic.AtomicLong(0L)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.HashSet[Any]]()

  def keysOf(paths: Seq[String]): Map[String, String] =
    paths.map(p => p -> StagedScan.withFooter(p)(
      _.getFooter.getFileMetaData.getSchema.getFields.get(0).getName)).toMap

  def load(path: String, read: StagedRead): java.util.HashSet[Any] = {
    val got = cache.get(path)
    if (got != null) return got
    loads.incrementAndGet(): Unit
    val key = read.column(read.eqKeys(path))
    val set = new java.util.HashSet[Any]()
    read.foreach(path) { r =>
      val v = key.eval(r)
      if (v != null) set.add(InternalRow.copyValue(v)): Unit
    }
    // live eq files are bounded by epochs-between-maintenance; the crude
    // cap only guards a JVM that outlives many maintenance cycles
    if (cache.size > 256) cache.clear()
    cache.putIfAbsent(path, set)
    set
  }
}

/** Streams this split's file through the scan's [[StagedRead]], dropping
  * the rows its deletion vector or a live equality delete removes; each
  * output column is its [[StagedRead.column]] coalesce, so identity
  * partition columns reconstitute from the directory values (they are
  * not stored in the files — same contract as the writer).
  */
class StagedPartitionReader(p: StagedInputPartition, read: StagedRead)
    extends PartitionReader[InternalRow] {

  // equality deletes applying to this split's file: (key set, key column)
  // per eq file, the sets loaded once per executor (StagedEqSets)
  private val eqProbes: Array[(java.util.HashSet[Any], Expression)] =
    p.eq.map(e => (StagedEqSets.load(e, read), read.column(read.eqKeys(e)))).toArray
  private val project = UnsafeProjection.create(read.output)
  private val rows = read.rows(p.file, p.range, p.partSpec, p.rawValues)
  private var current: InternalRow = _
  // deletion-vector skip state: ranges are sorted and the row index is
  // monotonic, so one forward pointer suffices
  private val dvRanges: Array[(Long, Long)] = p.dv.toArray
  private var dvIdx: Int = 0

  private def dvDeleted(x: Long): Boolean = {
    while (dvIdx < dvRanges.length && dvRanges(dvIdx)._2 <= x) dvIdx += 1
    dvIdx < dvRanges.length && dvRanges(dvIdx)._1 <= x
  }

  private def eqDeleted(r: InternalRow): Boolean = {
    var i = 0
    while (i < eqProbes.length) {
      val v = eqProbes(i)._2.eval(r)
      if (v != null && eqProbes(i)._1.contains(v)) return true
      i += 1
    }
    false
  }

  override def next(): Boolean = {
    while (rows.hasNext) {
      val r = rows.next()
      if ((dvRanges.isEmpty || !dvDeleted(r.getLong(read.rowIndex))) &&
          (eqProbes.isEmpty || !eqDeleted(r))) { current = r; return true }
    }
    false
  }

  override def get(): InternalRow = project(current)

  override def close(): Unit = read.close(rows)
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
        private lazy val read = new StagedRead(snap.schema, required,
          StagedEqSets.keysOf(snap.dirs.flatMap(_.eq.values.flatten).distinct))
        override def readSchema(): StructType = required
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          snap.dirs.flatMap { sd =>
            sd.files.map { f =>
              val n = new Path(f).getName
              StagedInputPartition(sd.vals, f, snap.schema.json, sd.spec,
                None, sd.deleted.getOrElse(n, Nil), sd.eq.getOrElse(n, Nil))
            }
          }.toArray[InputPartition]
        override def createReaderFactory(): PartitionReaderFactory =
          StagedReaderFactory(read)
        override def description(): String =
          s"StagedSnapshotScan(table=$tableName, files=${snap.dirs.map(_.files.length).sum})"
      }
    }
}
