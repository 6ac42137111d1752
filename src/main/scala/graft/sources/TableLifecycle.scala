package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Staging→prod table lifecycle (SURVEY.md §1 item 5), re-expressed over
  * parquet table directories:
  *  - truncate-and-load       (postgres.py:948-971)
  *  - rename-replace swap     (postgres.py:449-559, carto_.py:443-459):
  *    write the full new table to `<table>__staging`, verify, then swap
  *    directories so readers never observe a half-written table.
  *
  * Directory renames are single filesystem metadata ops (atomic on HDFS;
  * near-atomic on object stores with a manifest layer), so the swap cost is
  * O(1) regardless of table size — same contract as the reference's
  * `ALTER TABLE RENAME` dance.
  */
object TableLifecycle {

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Truncate-and-load: replace the table contents wholesale. */
  def truncateAndLoad(df: DataFrame, tablePath: String): Unit =
    df.write.mode("overwrite").parquet(tablePath)

  /** Rename-replace: land into a staging dir, row-count verify, swap.
    * Returns the loaded row count. On verification failure the staging dir
    * is removed and prod is untouched.
    */
  def renameReplace(df: DataFrame, tablePath: String,
                    expectRows: Option[Long] = None): Long = {
    val spark = df.sparkSession
    val staging = tablePath + "__staging"
    df.write.mode("overwrite").parquet(staging)
    // reference asserts staged count == source count before swapping
    val staged = spark.read.parquet(staging).count()
    if (expectRows.exists(_ != staged)) {
      fs(spark, staging).delete(new Path(staging), true)
      throw new IllegalStateException(
        s"rename-replace aborted: staged $staged rows, expected ${expectRows.get}")
    }
    // the checked prod -> old -> staging -> prod rename sequence: a failed
    // swap restores prod and never deletes its only copy
    graft.sources.v2.StagedParquet.swapDirs(staging, tablePath, retainTo = None): Unit
    staged
  }
}
