package graft.sources.v2

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** OPTIMISTIC multi-writer commits on staged tables (r12 VERDICT #4).
  * The commit lock is the version file itself: `s-<v>` is claimed
  * create-no-overwrite, appends CAS-retry past collisions, versions
  * claim their ids the same way, and a REPLACE whose id is stolen
  * re-keys its retained root and linearizes after the thief. Contracts
  * under test:
  *   - N racing appenders ALL land: row-exact union, every version id
  *     contiguous, every data file recorded in exactly one version
  *     delta, so a new stream tail reads each exactly once (no loss);
  *   - a replace whose version id a concurrent append claimed does NOT
  *     half-commit (the pre-fix exact=true record threw AFTER the
  *     irreversible root swap): it re-records at a fresh id with the
  *     retained root re-keyed, and time travel below it still resolves;
  *   - row-level mutations stay single-writer: a stolen id fails LOUDLY
  *     (recordVersion exact=true), never silently interleaves.
  *
  * (In this single-JVM harness the racers are threads; the protocol is
  * filesystem-atomic — create-exclusive + rename — so separate JVMs
  * follow the identical paths.)
  */
class StagedConcurrencySpec extends AnyFunSuite {
  private lazy val spark = { StagedParquet.ensureCatalog(graft.TestSpark.spark); graft.TestSpark.spark }
  private def tbl(t: String) = s"graft_staged.concspec.$t"

  private def deltaLines(d: String, v: Long): Seq[String] =
    scala.io.Source.fromFile(s"${d}__meta/s-$v").getLines().toSeq

  test("racing appenders all land; versions linearize; manifests lossless") {
    import spark.implicits._
    val t = tbl("c1")
    // a REPLACE retains version history by design — start from zero
    spark.sql(s"DROP TABLE IF EXISTS $t")
    (0L until 100L).map(i => (i, "seed")).toDF("id", "tag")
      .writeTo(t).createOrReplace()
    val d = StagedParquet.tableDir(spark, t)
    val nThreads = 4
    val rounds = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val latch = new java.util.concurrent.CountDownLatch(nThreads)
    for (w <- 0 until nThreads) pool.submit(new Runnable {
      def run(): Unit =
        try {
          for (r <- 0 until rounds) {
            val base = 1000L + (w * rounds + r) * 100L
            (base until base + 100L).map(i => (i, s"w$w-r$r")).toDF("id", "tag")
              .writeTo(t).append()
          }
        } catch { case e: Throwable => errs.add(e): Unit }
        finally latch.countDown()
    })
    assert(latch.await(300, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(errs.isEmpty, s"concurrent appends must not conflict: ${errs.peek()}")
    val expect = 100L + nThreads.toLong * rounds * 100L
    assert(spark.table(t).count() == expect)
    assert(spark.table(t).select(countDistinct($"id")).as[Long].head() == expect)
    // versions linearize: contiguous ids, each committed file in exactly
    // one delta, the union exactly the files on disk
    val cur = StagedParquet.currentVersion(d)
    assert(cur == 1L + nThreads * rounds, s"currentVersion $cur")
    val recorded = (1L to cur).flatMap(v => deltaLines(d, v))
      .filter(_.startsWith("+")).map(_.stripPrefix("+"))
    assert(recorded.distinct.size == recorded.size,
      "a data file must be recorded in exactly one version delta")
    def onDisk: Set[String] = {
      def walk(f: java.io.File, rel: String): Seq[String] =
        if (f.isFile) Seq(rel)
        else Option(f.listFiles).map(_.toSeq.flatMap(c =>
          walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}")))
          .getOrElse(Nil)
      walk(new java.io.File(d), "").filter { r =>
        val n = r.split('/').last
        n.endsWith(".parquet") && !n.startsWith("_")
      }.toSet
    }
    assert(recorded.toSet == onDisk,
      "version deltas must record exactly the committed files")
    // a new stream tail's view: no loss, each file in exactly one version
    val tailed = StagedParquet.tailRange(StagedParquet.deltaLog(d), -1L,
      Long.MaxValue, t).flatMap(_.tailFiles)
    assert(tailed.distinct.size == tailed.size)
    assert(tailed.toSet == onDisk,
      "the tail's versions must cover exactly the committed files")
  }

  test("a replace whose id an append stole re-keys and linearizes after it") {
    import spark.implicits._
    val t = tbl("c2")
    (0L until 50L).map(i => (i, i * 2.0)).toDF("id", "v")
      .writeTo(t).createOrReplace()
    val d = StagedParquet.tableDir(spark, t)
    // stage a replacement by hand — byte-for-byte what commitStagedChanges
    // hands to promote
    val staging = d + "__staging.test-rekey"
    val conf = spark.sparkContext.hadoopConfiguration
    val f = new org.apache.hadoop.fs.Path(d).getFileSystem(conf)
    assert(org.apache.hadoop.fs.FileUtil.copy(f,
      new org.apache.hadoop.fs.Path(d),
      f, new org.apache.hadoop.fs.Path(staging), false, conf))
    // the steal: a concurrent append claims the exact id the replace is
    // about to record (its delta names a file the replace never touches)
    val vSteal = StagedParquet.currentVersion(d) + 1
    StagedParquet.recordVersion(d, vSteal,
      Seq("phantom-append.parquet"), Nil, exact = false): Unit
    // pre-fix behavior: promote swapped the root, then recordVersion
    // exact=true threw "two concurrent mutations" — table swapped, version
    // unrecorded. Now: it must succeed, one id later.
    StagedParquet.promote(staging, d)
    val cur = StagedParquet.currentVersion(d)
    assert(cur == vSteal + 1, s"replace must linearize after the steal, got $cur")
    val replaced = deltaLines(d, cur)
    assert(replaced.contains("~.") && replaced.contains("!replace"),
      "the replace's delta records the root swap")
    assert(new java.io.File(s"${d}__meta/v${cur - 1}/__root").isDirectory,
      "the retained root must be RE-KEYED to the recorded version")
    assert(spark.table(t).count() == 50L)
    // time travel below the replace resolves from the re-keyed root
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF ${vSteal - 1}").count() == 50L)
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF $vSteal").count() == 50L)
  }

  test("row-level mutations stay single-writer: a stolen id fails loudly") {
    import spark.implicits._
    val t = tbl("c3")
    (0L until 40L).map(i => (i, i * 1.0)).toDF("id", "v")
      .writeTo(t).createOrReplace()
    val d = StagedParquet.tableDir(spark, t)
    // a mutation computed its version, and a concurrent claim took the id
    // first: the exact=true record must fail loudly, never retry past it
    // (silently interleaved retained trees would corrupt time travel)
    val v = StagedParquet.currentVersion(d) + 1
    StagedParquet.recordVersion(d, v,
      Seq("phantom-append.parquet"), Nil, exact = false): Unit
    val e = intercept[IllegalStateException] {
      StagedParquet.recordVersion(d, v, Nil, Seq("some-dir"), exact = true): Unit
    }
    assert(e.getMessage.contains("single-writer"), s"got: $e")
  }
}
