package graft.sources.v2

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style INSPECTION tables, served through the staged catalog as
  * a dotted suffix on the table identifier (the exact surface Iceberg
  * exposes as `db.table.files` / `db.table.history`):
  *
  *   SELECT * FROM graft_staged.<ns>.<table>.partitions
  *   SELECT * FROM graft_staged.<ns>.<table>.files
  *   SELECT * FROM graft_staged.<ns>.<table>.history
  *   SELECT * FROM graft_staged.<ns>.<table>.manifests
  *   SELECT * FROM graft_staged.<ns>.<table>.refs
  *
  * Reference semantics: the reference CLI's post-load checks interrogate
  * the warehouse for row counts and table state (postgres.py's
  * `get_row_count` verification and ago.py's index/manifest listings);
  * these tables are that interrogation surface re-expressed as catalog
  * metadata relations, so a pipeline can assert on its own tables with
  * plain SQL instead of a side channel.
  *
  * Scale design — the whole point of inspection tables at 100 TB is that
  * they never read data bytes:
  *   - `partitions` / `files` plan ONE split per partition directory and
  *     each reader opens only parquet FOOTERS (record counts) plus the
  *     directory's deletion vectors — distributed metadata reads, no row
  *     scans, no driver materialization. `row_count` is live rows
  *     (footer count minus DV-deleted positions), so it agrees with
  *     `SELECT count(*)` at any point of the mutation lifecycle.
  *   - `history` / `manifests` read the O(versions) commit log only
  *     (`manifests`: the versions a new stream tail reads) — a
  *     million-file table answers them without listing a single data
  *     directory.
  */
object StagedMetaTables {
  val Kinds: Set[String] =
    Set("partitions", "files", "history", "manifests", "refs")

  def forKind(kind: String, tableName: String, prodDir: String,
              tableSchema: StructType, partSpec: Seq[PartField]): Table =
    new StagedMetaTable(kind, tableName, prodDir, tableSchema, partSpec)

  /** Unescaped, null-normalized partition value columns — one STRING
    * column per CURRENT-spec partition field, named by its DIRECTORY
    * name (`o_orderpriority`, `ts_day`, `custkey_bucket`), so the
    * relation is self-describing about the transform that produced each
    * level. A leading `partition` column carries the table-relative
    * directory path verbatim — on an EVOLVED table a pre-evolution
    * directory (`_layouts/g-<n>/...`, a different spec) fills only the
    * fields its own spec shares with the current one and stays fully
    * described by `partition`.
    */
  private[v2] def partCols(spec: Seq[PartField]): Seq[StructField] =
    StructField("partition", StringType, nullable = false) +:
      spec.map(pf => StructField(pf.dirName, StringType, nullable = true))

  private[v2] def schemaFor(kind: String, spec: Seq[PartField]): StructType =
    kind match {
      case "partitions" => StructType(partCols(spec) ++ Seq(
        StructField("file_count", LongType, nullable = false),
        StructField("row_count", LongType, nullable = false),
        StructField("deleted_count", LongType, nullable = false),
        StructField("bytes", LongType, nullable = false)))
      case "files" => StructType(partCols(spec) ++ Seq(
        StructField("file", StringType, nullable = false),
        StructField("bytes", LongType, nullable = false),
        StructField("row_count", LongType, nullable = false),
        StructField("deleted_count", LongType, nullable = false)))
      case "history" => StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("change", StringType, nullable = false),
        StructField("files_added", LongType, nullable = false),
        StructField("dvs_added", LongType, nullable = false),
        StructField("dirs_rewritten", LongType, nullable = false),
        // the commit's MONOTONIZED instant (StagedParquet.commitTimeline)
        // — the exact timeline TIMESTAMP AS OF resolves against, so an
        // instant read from this column always travels back to this row
        StructField("commit_at", TimestampType, nullable = false)))
      case "manifests" => StructType(Seq(
        StructField("manifest_id", LongType, nullable = false),
        StructField("file_count", LongType, nullable = false),
        StructField("txn", StringType, nullable = true)))
      case "refs" => StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("version", LongType, nullable = false),
        // the pinned version's commit instant (null for a version the
        // timeline does not know, e.g. a pre-upgrade table's v0)
        StructField("commit_at", TimestampType, nullable = true)))
      case other => throw new IllegalArgumentException(
        s"staged catalog: unknown metadata table '$other'")
    }

  /** Structural change classification of one version delta (`s-<v>`):
    * a root swap is a REPLACE, any directory swap a REWRITE (copy-on-write
    * DELETE/UPDATE, compaction), additions that are all deletion vectors a
    * merge-on-read DELETE, anything else an APPEND.
    */
  private[v2] def classify(adds: Seq[String], swaps: Seq[String],
                           marks: Seq[String] = Nil): String =
    if (swaps.contains(".")) "replace"
    else if (swaps.nonEmpty) "rewrite"
    else if (adds.nonEmpty && adds.forall(
      _.split('/').last.startsWith(StagedParquet.DvPrefix))) "delete"
    // marks-only metadata commits get their own kinds (previously they
    // read as zero-add "append"s): a partition-spec evolution, an
    // equality-delete epoch commit, an eq materialization record
    else if (marks.exists(_.startsWith("!evolve="))) "evolve"
    else if (marks.exists(_.startsWith("!eqdel="))) "eqdelete"
    else if (marks.exists(_.startsWith("!eqmat="))) "eqmaterialize"
    else if (marks.exists(_.startsWith("!wap="))) "publish"
    else if (marks.exists(_.startsWith("!create"))) "create"
    else "append"
}

private[v2] class StagedMetaTable(kind: String, tableName: String,
                                  prodDir: String, tableSchema: StructType,
                                  partSpec: Seq[PartField])
    extends Table with SupportsRead {

  override def name(): String = s"$tableName.$kind"
  override def schema(): StructType = StagedMetaTables.schemaFor(kind, partSpec)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new StagedMetaScan(
        kind, tableName, prodDir, tableSchema, partSpec)
    }
}

private[v2] class StagedMetaScan(kind: String, tableName: String,
                                 prodDir: String, tableSchema: StructType,
                                 partSpec: Seq[PartField])
    extends Scan with Batch {

  override def readSchema(): StructType = StagedMetaTables.schemaFor(kind, partSpec)
  override def toBatch: Batch = this
  override def description(): String = s"StagedMetaScan($tableName.$kind)"

  override def planInputPartitions(): Array[InputPartition] = kind match {
    case "partitions" | "files" =>
      // one split per partition directory ACROSS LAYOUT GENERATIONS
      // (evolution-aware: pre-evolution dirs report under their own
      // spec); footer+DV reads happen in the EXECUTOR readers, so a wide
      // table inspects in parallel
      val dvFlagged = StagedParquet.hasDvFlag(new Path(prodDir))
      StagedParquet.layoutRoots(prodDir).flatMap { case (lroot, prefix, lspec) =>
        StagedScan.planPartitions(lroot.toString, tableSchema, lspec, Nil)
          .map { case (dirRel, vals, files) =>
            val rel = Seq(prefix, dirRel).filter(_.nonEmpty).mkString("/")
            MetaDirPartition(if (rel.isEmpty) "." else rel, vals, files,
              dvFlagged, lspec): InputPartition
          }
      }.toArray
    case "history" =>
      val log = StagedParquet.deltaLog(prodDir)
      val times = StagedParquet.timeline(log).toMap
      val rows: Seq[Seq[Any]] = log.map { dl =>
        val (dvAdds, fileAdds) =
          dl.adds.partition(_.split('/').last.startsWith(StagedParquet.DvPrefix))
        Seq[Any](dl.v, StagedMetaTables.classify(dl.adds, dl.swaps, dl.marks),
          fileAdds.length.toLong, dvAdds.length.toLong,
          dl.swaps.length.toLong,
          times.getOrElse(dl.v, 0L) * 1000L) // TimestampType micros
      }
      Array(MetaRowsPartition(rows))
    case "manifests" =>
      // the versions a new stream tail reads, with the files each delivers
      // and its writer's marker (a stream epoch's txn, a publish's source)
      val rows: Seq[Seq[Any]] = StagedParquet
        .tailRange(StagedParquet.deltaLog(prodDir), -1L, Long.MaxValue, tableName)
        .filter(_.tailFiles.nonEmpty).map { dl =>
          val txn = dl.values("txn").headOption
            .orElse(dl.values("wap").headOption.map("wap:" + _))
          Seq[Any](dl.v, dl.tailFiles.length.toLong, txn.orNull)
        }
      Array(MetaRowsPartition(rows))
    case "refs" =>
      val times = StagedParquet.commitTimeline(prodDir).toMap
      val rows: Seq[Seq[Any]] = StagedParquet.listTags(prodDir).map {
        case (n, v) =>
          Seq[Any](n, v, times.get(v).map(_ * 1000L).orNull) // micros
      }
      Array(MetaRowsPartition(rows))
    case other => throw new IllegalArgumentException(
      s"staged catalog: unknown metadata table '$other'")
  }

  override def createReaderFactory(): PartitionReaderFactory =
    MetaReaderFactory(kind, partSpec)
}

/** @param rel       table-relative dir path (generation prefix included;
  *                   "." = an unpartitioned root)
  * @param rawValues partition dir values (the DIR's spec order, escaped)
  * @param files     (absolute path, length) of the dir's committed files
  * @param dvFlagged whether the table ever wrote deletion vectors (skips
  *                  the per-dir DV listing on tables that never did)
  * @param dirSpec   the spec the dir's values parse under (≠ the current
  *                  spec for pre-evolution generations)
  */
private[v2] case class MetaDirPartition(rel: String,
                                        rawValues: Seq[String],
                                        files: Seq[(String, Long)],
                                        dvFlagged: Boolean,
                                        dirSpec: Seq[PartField])
    extends InputPartition

/** Driver-computed metadata rows (history/manifests — O(log) entries),
  * shipped inside the split. Values are Long / String / null only.
  */
private[v2] case class MetaRowsPartition(rows: Seq[Seq[Any]])
    extends InputPartition

private[v2] case class MetaReaderFactory(kind: String, partSpec: Seq[PartField])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case MetaRowsPartition(rows) => new PartitionReader[InternalRow] {
        private val it = rows.iterator
        private var cur: Seq[Any] = _
        override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
        override def get(): InternalRow = new GenericInternalRow(
          cur.map {
            case s: String => UTF8String.fromString(s)
            case other     => other
          }.toArray[Any])
        override def close(): Unit = ()
      }
      case p: MetaDirPartition => new PartitionReader[InternalRow] {
        // each CURRENT-spec column fills from the dir's OWN spec by
        // directory name (null where the dir's generation lacks the
        // field); the `partition` path column describes every dir fully
        private val byDirName: Map[String, String] =
          p.dirSpec.map(_.dirName).zip(p.rawValues).toMap
        private val partVals: Seq[Any] =
          UTF8String.fromString(p.rel) +: partSpec.map { pf =>
            byDirName.get(pf.dirName) match {
              case Some(raw) if raw != PartitionDir.Null =>
                UTF8String.fromString(PartSpec.unescape(raw))
              case _ => null
            }
          }
        // footer record counts + live DV-deleted positions, one metadata
        // pass per file — no data pages are ever read
        private lazy val fileRows: Seq[(String, Long, Long, Long)] = {
          val dvs: Map[String, Seq[(Long, Long)]] =
            if (!p.dvFlagged || p.files.isEmpty) Map.empty
            else StagedParquet.readDvs(new Path(p.files.head._1).getParent)
          val conf = StagedScan.freshConf()
          p.files.map { case (path, len) =>
            val rows = StagedScan.withFooter(path, conf)(_.getRecordCount)
            val name = new Path(path).getName
            val deleted = dvs.getOrElse(name, Nil).map(r => r._2 - r._1).sum
            (name, len, rows - deleted, deleted)
          }
        }
        private val out: Iterator[InternalRow] = kind match {
          case "files" => fileRows.iterator.map { case (name, len, live, del) =>
            new GenericInternalRow((partVals ++ Seq[Any](
              UTF8String.fromString(name), len, live, del)).toArray[Any])
          }
          case _ => Iterator.single {
            val live = fileRows.map(_._3).sum
            val del = fileRows.map(_._4).sum
            val bytes = fileRows.map(_._2).sum
            new GenericInternalRow((partVals ++ Seq[Any](
              p.files.length.toLong, live, del, bytes)).toArray[Any])
          }
        }
        private var cur: InternalRow = _
        override def next(): Boolean = { val h = out.hasNext; if (h) cur = out.next(); h }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
      case other => throw new IllegalArgumentException(
        s"unexpected metadata split $other")
    }
}
