package graft.sources.v2

import org.apache.hadoop.fs.{FileUtil, Path}

import org.apache.spark.sql.connector.read.{InputPartition, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** GROUP-BASED row-level operations (SupportsRowLevelOperations) — the
  * planner surface that routes SQL `UPDATE`, `MERGE INTO`, and
  * non-metadata-expressible `DELETE FROM` through the staged engine
  * (reference: postgres.py:1092-1180 ON CONFLICT upsert semantics, now as
  * a real MERGE). Spark's rewrite rules turn each statement into
  * ReplaceData(scan, query): the scan reads the AFFECTED GROUPS, the
  * query computes their full replacement rows, and the write swaps the
  * groups for the new files.
  *
  * The group here is a PARTITION DIRECTORY — the same atomic-swap unit
  * every other staged mutation uses:
  *   - [[StagedRowLevelScan]] reads whole directories (no zone-map
  *     skipping, no pushdown: a copy-on-write scan that skipped a row
  *     would silently DELETE it when the group swaps) and records, at
  *     execution time, exactly the directory set it planned — AFTER
  *     Spark's runtime group filtering (RowLevelOperationRuntimeGroupFiltering
  *     plants a dim-style subquery on the operation condition, and the
  *     scan's SupportsRuntimeV2Filtering closes every directory the
  *     condition provably misses, so an UPDATE touching one day rewrites
  *     one day, not the table);
  *   - [[RowLevelReplaceBatchWrite]] stages the replacement rows through
  *     the normal two-phase file commit, then swaps each SCANNED
  *     directory for its staged twin — and for a MERGE-inserted row
  *     landing in a directory the scan never read, byte-copies that
  *     directory's existing files beside the inserts first (insert-only
  *     groups must not lose their history). A crash anywhere before the
  *     swaps leaves prod serving its pre-statement contents.
  *
  * Tier interplay: `DELETE FROM` with metadata-expressible predicates
  * still takes the tiered [[StagedParquet.deleteWhere]] path — Spark's
  * OptimizeMetadataOnlyDeleteFromTable folds the rewrite back into
  * `SupportsDelete` when `canDeleteWhere` accepts — so the row-level
  * machinery only pays for statements the cheap tiers cannot express.
  * The commit is a [[DirCommit]] rewrite (rows change in place, they are
  * not appended): a stream tail delivers none of its files, inserts into
  * fresh directories included, and a tail behind the offset fails loudly
  * rather than replaying — the same maintenance contract as
  * COW/compaction.
  */
class StagedRowLevelOperation(prodDir: String, tableSchema: StructType,
                              partSpec: Seq[PartField],
                              cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  /** Relative partition dirs the COW scan planned (post runtime group
    * filtering) — set at execution by [[StagedRowLevelScan]], read at
    * write commit. Same-JVM driver state, the standard group-based
    * scan→write handshake.
    */
  private[v2] val scannedDirs =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](null)

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new StagedRowLevelScan(prodDir, tableSchema, partSpec,
          StagedRowLevelOperation.this)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    new WriteBuilder {
      override def build(): Write = new Write with StagedWriteDistribution {
        override protected def distSpec: Seq[PartField] = partSpec
        override protected def distEnabled: Boolean =
          StagedWriteDistribution.enabled(info.options())
        // a sorted table's row-level rewrite re-sorts its replacement
        // files (the declared order is a table invariant, not a write
        // option)
        override protected def sortCols: Seq[String] =
          StagedParquet.sortColsOf(StagedParquet.tableProperties(
            new Path(prodDir)))
        override def toBatch: BatchWrite =
          new RowLevelReplaceBatchWrite(
            prodDir + "__staging.rowlevel-" +
              StagedParquetWriterFactory.sanitize(info.queryId()),
            prodDir, info.schema(), partSpec, info.queryId(),
            () => Option(scannedDirs.get).getOrElse(
              throw new IllegalStateException(
                "staged row-level write committed before its scan planned")))
        override def description(): String =
          s"StagedRowLevelWrite(command=$cmd)"
      }
    }
  }

  override def description(): String = s"StagedRowLevelOperation($cmd)"
}

/** The copy-on-write scan: a whole-directory read (pruning and zone maps
  * deliberately OFF — any skipped row would vanish at the group swap)
  * that records its planned directory set for the write. Runtime group
  * filtering still narrows directories through the inherited
  * SupportsRuntimeV2Filtering — conservative, so a kept-but-unaffected
  * directory is rewritten identically, never a lost row.
  */
class StagedRowLevelScan(prodDir: String, tableSchema: StructType,
                         partSpec: Seq[PartField],
                         op: StagedRowLevelOperation)
    extends StagedScan("rowlevel", prodDir, tableSchema, tableSchema,
      partSpec, Nil, Nil) {

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = super.planInputPartitions()
    // table-relative dir of each split FROM ITS FILE PATH — spec-agnostic,
    // so pre-evolution generations (`_layouts/g-<n>/...` splits, whose
    // specs differ) record correctly. Their replacement rows re-route
    // through the CURRENT layout's write, so a row-level statement also
    // MIGRATES every directory it touches out of the old generation (the
    // old dir swaps empty; unscanned old dirs stay put).
    val rootPath = new Path(prodDir).toUri.getPath
    val dirs = parts.map { ip =>
      val p = ip.asInstanceOf[StagedInputPartition]
      new Path(p.file).getParent.toUri.getPath
        .stripPrefix(rootPath).stripPrefix("/")
    }.filter(_.nonEmpty).distinct.toSeq
    op.scannedDirs.set(dirs)
    parts
  }
}

/** The group-replacing write: replacement rows stage through the normal
  * two-phase commit (engine write distribution included), then each
  * affected directory swaps atomically. `scanned` resolves lazily — the
  * scan plans (and runtime-filters) before any task runs, the commit runs
  * after all of them.
  */
class RowLevelReplaceBatchWrite(staging: String, prodDir: String,
                                schema: StructType, partSpec: Seq[PartField],
                                queryId: String, scanned: () => Seq[String])
    extends StagedParquetBatchWrite(staging, None, schema, partSpec, queryId) {
  import StagedParquet._

  /** UPDATE/MERGE rewrites prepend a `__row_operation` column to every
    * physical row (RowDeltaUtils.OPERATION_COLUMN); Spark only strips it
    * through ReplaceDataProjections when the operation declares metadata
    * attributes (this one declares none — group identity is the
    * directory, not a per-row column), so the writers see `[op, data...]`
    * and must project it off. DELETE rewrites carry no such column —
    * the width check keeps both shapes working.
    */
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    RowLevelWriterFactory(super.createBatchWriterFactory(info), schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    super.commit(messages) // staging now holds exactly the replacement files
    val f = fs(new Path(prodDir))
    val commit = new DirCommit(prodDir)
    if (partSpec.isEmpty)
      // unpartitioned: the root is the single group
      commit.promote(new Path(staging), ".", new Path(prodDir)): Unit
    else {
      val committed = messages.flatMap(_.asInstanceOf[StagedFilesCommit].files)
      val stagingDirs = committed
        .map(rel => rel.split('/').dropRight(1).mkString("/"))
        .filter(_.nonEmpty).distinct
      val scannedSet = scanned().toSet
      for (rel <- (scannedSet ++ stagingDirs).toSeq.sorted) {
        val stagePart = new Path(s"$staging/$rel")
        val prodPart = new Path(s"$prodDir/$rel")
        if (!scannedSet.contains(rel) && f.exists(prodPart)) {
          // insert-only group (MERGE insert, or an UPDATE that moved rows
          // across partitions): its existing rows were never scanned —
          // byte-copy them beside the inserts before the swap. Deletion
          // vectors ride along: the copied files keep their deleted
          // positions, so a vector left behind would RESURRECT those rows
          f.mkdirs(stagePart): Unit
          f.listStatus(prodPart).foreach { st =>
            val n = st.getPath.getName
            if (st.isFile && (isDataFile(n) || n.startsWith(StagedParquet.DvPrefix)))
              FileUtil.copy(f, st.getPath, f,
                new Path(stagePart, n), false, hadoopConf): Unit
          }
        }
        // a fresh dir (no pre-state) records its files as version adds
        if (!commit.promote(stagePart, rel, prodPart))
          committed.filter(c => c.split('/').dropRight(1).mkString("/") == rel)
            .foreach(commit.add)
      }
      f.delete(new Path(staging), true): Unit
    }
    commit.record()
  }
}

/** Strips the leading `__row_operation` column off row-level-rewrite rows
  * before they reach the parquet writers (see
  * [[RowLevelReplaceBatchWrite.createBatchWriterFactory]]). A row already
  * at the declared width passes through untouched.
  */
case class RowLevelWriterFactory(inner: org.apache.spark.sql.connector.write.DataWriterFactory,
                                 schema: StructType)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private val w = inner.createWriter(partitionId, taskId)
      private val proj = new org.apache.spark.sql.catalyst.ProjectingInternalRow(
        schema, (1 to schema.length).toIndexedSeq)
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (row.numFields == schema.length) w.write(row)
        else if (row.numFields == schema.length + 1) {
          proj.project(row)
          w.write(proj)
        } else throw new IllegalStateException(
          s"row-level write: row has ${row.numFields} fields, " +
            s"declared schema has ${schema.length}")
      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
}
