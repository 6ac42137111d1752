package graft.sources.v2

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The two halves every staged directory rewrite shares — compaction,
  * DELETE/UPDATE in both copy-on-write and merge-on-read mode
  * ([[StagedParquet.cowWhereDir]]) and the SQL row-level write
  * ([[RowLevelReplaceBatchWrite]]): [[StagedRewrite.scan]] reads a layout
  * generation's files with every row tied to its source file and
  * directory, and [[DirCommit]] swaps a rewritten directory in with
  * everything the old one must hand on.
  */
object StagedRewrite {
  import StagedParquet._

  /** One data file a rewrite job reads: `rel` is its directory,
    * table-relative ([[sentinel]] form), `dvs` the positions earlier
    * deletion vectors removed from it, and `info` the caller's per-file
    * values, one per `infoFields` entry of [[scan]].
    */
  final case class RewriteFile(st: FileStatus, rel: String,
                               dvs: Seq[(Long, Long)], info: Seq[Any])

  /** The live rows of `files` (all of one layout generation, `spec`),
    * read at the declared width with `__src` (the source file) and joined
    * to their file's `__dir` and info columns; `__pos`
    * (`_metadata.row_index`) stays when `withPos`.
    *   - `__src` is the file path in its URI-RAW form: input_file_name()
    *     reports the Hadoop Path's URI encoding (a `%` in an escaped
    *     partition dir name arrives as `%25`), and `getRawPath` is that
    *     same encoding minus the scheme, so both join sides match
    *     byte-for-byte.
    *   - Positions an earlier deletion vector removed are anti-joined
    *     away (row indexes are read only when a vector or `withPos` needs
    *     them), so a rewrite materializes the deletes and a position
    *     search never matches a row twice.
    *   - RENAMED columns reconstitute under their current names (the
    *     rewrite settles the aliases).
    *   - The info join is a broadcast LEFT join with a per-row guard: a
    *     row whose file matched no info row (an encoding mismatch between
    *     the scan and the listing) fails the job — it must never vanish
    *     from a compaction, escape a delete or drop out of a rewrite.
    */
  def scan(s: SparkSession, schema: StructType, spec: Seq[PartField],
           files: Seq[RewriteFile], infoFields: Seq[StructField],
           withPos: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, concat, input_file_name,
      lit, raise_error, regexp_replace, when}
    val dataSchema = StructType(PartSpec.dataFields(schema, spec).map(_._1))
    def raw(st: FileStatus): String = st.getPath.toUri.getRawPath
    val info = s.createDataFrame(
      files.map(rf => Row.fromSeq(raw(rf.st) +: rf.rel +: rf.info)).asJava,
      StructType(StructField("__src", StringType, nullable = false) +:
        StructField("__dir", StringType, nullable = false) +: infoFields))
    val priorDv = files.flatMap(rf => rf.dvs.map { case (s0, e0) =>
      Row(raw(rf.st), Long.box(s0), Long.box(e0)) })
    val read = s.read.schema(widenForAliases(dataSchema))
      .parquet(files.map(_.st.getPath.toString): _*)
      .withColumn("__src",
        regexp_replace(input_file_name(), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))
    val positioned =
      if (withPos || priorDv.nonEmpty) read.withColumn("__pos", col("_metadata.row_index"))
      else read
    val live =
      if (priorDv.isEmpty) positioned
      else {
        val dvDf = s.createDataFrame(priorDv.asJava, StructType(Seq(
          StructField("__dvsrc", StringType, nullable = false),
          StructField("__dvs", LongType, nullable = false),
          StructField("__dve", LongType, nullable = false))))
        val kept = positioned.join(broadcast(dvDf),
          positioned("__src") === dvDf("__dvsrc") &&
            col("__pos") >= col("__dvs") && col("__pos") < col("__dve"),
          "left_anti")
        if (withPos) kept else kept.drop("__pos")
      }
    coalesceAliases(live, dataSchema).join(broadcast(info), Seq("__src"), "left")
      .withColumn("__dir", when(col("__dir").isNull,
        raise_error(concat(lit("staged rewrite: unmatched source file "), col("__src"))))
        .otherwise(col("__dir")))
  }

  /** One statement's deletion-vector lookups per directory, memoized and
    * guarded by the root flag: a table that never had a vector pays no
    * listing.
    */
  final class DirDvs(root: Path) {
    val flagged: Boolean = hasDvFlag(root)
    private val memo = mutable.Map.empty[String, Map[String, Seq[(Long, Long)]]]
    def apply(dir: Path): Map[String, Seq[(Long, Long)]] =
      if (!flagged) Map.empty else memo.getOrElseUpdate(dir.toString, readDvs(dir))
    def forget(dir: Path): Unit = memo.remove(dir.toString): Unit
  }
}

/** One statement's directory commit on the table at `d`: every directory
  * it rewrites or drops swaps under ONE version, the pre-state retained in
  * the version tree for time travel, and [[record]] claims that version.
  * Swaps are driver metadata only (renames), and each is atomic: a crash
  * leaves a directory's old rows or its new ones, never a mix (an
  * abandoned staging sibling is vacuum's dead_staging class).
  */
final class DirCommit(d: String) {
  import StagedParquet._

  private val root = new Path(d)
  private val f = fs(root)
  private val version: Long = currentVersion(d) + 1
  private val swaps = mutable.Buffer[String]()
  private val adds = mutable.Buffer[String]()

  /** Swap `stage` in for `dir`, whose table-relative [[sentinel]] rel is
    * `rel`:
    *   - `copied` are the siblings the statement left alone — byte-copied
    *     beside the rewritten files, since a swap replaces the WHOLE
    *     directory — and they keep their entries of `dvs` (the directory's
    *     deletion vectors) in one carried vector; rewritten files
    *     materialized theirs;
    *   - the ROOT of an unpartitioned table hands on the table's catalog
    *     files, and the vector flag rides the staged root;
    *   - an unpartitioned GENERATION root (the only generation dir a rel
    *     without `=` names) re-pins its empty spec.
    * Returns whether `dir` existed (a fresh one records no swap).
    */
  def promote(stage: Path, rel: String, dir: Path,
              copied: Seq[FileStatus] = Nil,
              dvs: Map[String, Seq[(Long, Long)]] = Map.empty): Boolean = {
    if (!f.exists(stage)) f.mkdirs(stage): Unit // every row went
    copied.foreach { st =>
      FileUtil.copy(f, st.getPath, f,
        new Path(stage, st.getPath.getName), false, hadoopConf): Unit
    }
    val names = copied.map(_.getPath.getName).toSet
    val carried = dvs.filter { case (n, _) => names(n) }
    if (carried.nonEmpty) writeDv(if (rel == ".") stage else root, stage, carried): Unit
    if (rel == ".") {
      for (n <- Seq(SchemaFile, PartitionFile, DroppedFile, PropertiesFile);
           body <- readString(new Path(root, n))) writeString(stage, n, body)
      writeString(stage, SuccessFile, "")
    } else if (!rel.contains("=")) writeString(stage, PartitionFile, PartSpec.serialize(Nil))
    val existed = swapDirs(stage.toString, dir.toString,
      Some(retainedPath(d, version, rel)))
    if (existed) swaps += rel
    existed
  }

  /** Retain the partition directory `dir` whole — a metadata-only drop.
    * An unpartitioned generation root comes back empty with its spec
    * re-pinned (snapshot lookups need it). The table root drops through
    * [[promote]] of an empty stage instead: it must keep its catalog.
    */
  def retain(rel: String, dir: Path): Unit = {
    val keep = retainedPath(d, version, rel)
    f.mkdirs(keep.getParent): Unit
    if (!f.rename(dir, keep))
      throw new java.io.IOException(s"cannot retain dropped dir $dir at $keep")
    if (!rel.contains("=")) {
      f.mkdirs(dir): Unit
      writeString(dir, PartitionFile, PartSpec.serialize(Nil))
    }
    swaps += rel
  }

  /** A file the statement added in place (a committed deletion vector, or
    * a data file in a directory that did not exist before).
    */
  def add(rel: String): Unit = adds += rel

  def isEmpty: Boolean = swaps.isEmpty && adds.isEmpty

  /** One version for the statement, under the rewrite mark: a stream
    * tail delivers none of its files (a caught-up tail survives the swap;
    * a lagging one fails loudly on the renamed files).
    */
  def record(): Unit =
    recordVersion(d, version, adds.toSeq, swaps.toSeq, marks = Seq(RewriteMark)): Unit
}
