package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Eviction hardening (r7 VERDICT #8 / ADVICE #1): the publish-time
  * eviction scan must never delete an entry another process could be
  * mid-read on — entries younger than the age floor are immune, and a
  * cache-hit read refreshes the entry's mtime so eviction approximates
  * least-recently-USED rather than oldest-published.
  */
class ArtifactCacheEvictSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val root = new File(
    sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_artifacts")

  private def fakeEntry(name: String, ageMs: Long): File = {
    val d = new File(root, name)
    d.mkdirs()
    val s = new File(d, "_SUCCESS"); s.createNewFile()
    d.setLastModified(System.currentTimeMillis - ageMs)
    d
  }

  test("eviction skips young entries; old surplus beyond the cap is pruned") {
    import org.apache.spark.sql.functions._
    root.mkdirs()
    val twoHours = 7200000L
    // 70 stale entries older than the age floor (cap is 64) + 3 young ones
    val olds = (0 until 70).map(i => fakeEntry(f"specold$i%02d", twoHours + i * 1000L))
    val youngs = (0 until 3).map(i => fakeEntry(s"specyoung$i", 0L))
    // a fresh build triggers the publish-time eviction scan
    val df = graft.core.ArtifactCache.getOrBuild(spark, "evict_spec_probe",
      "v" + System.nanoTime, Seq("/root/testdata/sf0.001/nation.parquet")) {
      spark.range(0, 5).select(col("id"))
    }
    assert(df.count() == 5)
    // young entries survive regardless of the cap
    assert(youngs.forall(_.exists), "young entry evicted inside the age floor")
    // the oldest stale surplus was pruned down to the cap
    val oldLeft = olds.count(_.exists)
    assert(oldLeft < 70, "no stale entry was evicted past the cap")
    // cleanup our fixtures so later suites see a normal cache
    (olds ++ youngs).filter(_.exists)
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  test("a cache hit refreshes the entry mtime (LRU approximation)") {
    import org.apache.spark.sql.functions._
    val inputs = Seq("/root/testdata/sf0.001/region.parquet")
    def build() = graft.core.ArtifactCache.getOrBuild(spark, "evict_spec_lru",
      "v1", inputs) { spark.range(0, 3).select(col("id")) }
    assert(build().count() == 3)
    // locate the published entry and age it artificially
    val entries = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && new File(f, "_SUCCESS").exists)
    val before = entries.map(f => f -> f.lastModified).toMap
    entries.foreach(_.setLastModified(System.currentTimeMillis - 7200000L))
    assert(build().count() == 3) // hit
    // exactly the hit entry is young again
    val refreshed = entries.filter(
      _.lastModified > System.currentTimeMillis - 3600000L)
    assert(refreshed.nonEmpty, "cache hit did not refresh any entry mtime")
    // restore the others' mtimes to keep the shared cache realistic
    entries.diff(refreshed).foreach(f => f.setLastModified(before(f)): Unit)
  }

  test("an artifact published under one code fingerprint is rebuilt under another") {
    import org.apache.spark.sql.functions._
    var builds = 0
    def get(code: String) = graft.core.ArtifactCache.getOrBuildAs(code, spark,
      "evict_spec_code", "v1", Nil) { builds += 1; spark.range(0, 4).select(col("id")) }
    val run = System.nanoTime
    assert(get(s"code-a-$run").count() == 4)
    assert(get(s"code-a-$run").count() == 4) // hit: same code
    assert(builds == 1)
    assert(get(s"code-b-$run").count() == 4) // changed code: rebuilt
    assert(builds == 2)
  }
}
