package graft.core

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession entry point for graft workloads.
  *
  * Encodes the §3 scale defaults: AQE on (runtime re-plan + skew-join
  * splitting + partition coalescing), shuffle partitions from the
  * environment (a library must never hardcode cluster geometry), UTC
  * session time, and graft's SQL extensions (graft_dot etc.). On a real
  * cluster the same builder is used without `master` — spark-submit
  * supplies it. Every graft session comes from [[builder]]: the mains
  * through [[local]], the test suite's shared session directly.
  *
  * Generated-code cache: `spark.sql.codegen.cache.maxEntries` is 1000
  * (Spark's default is 100). One round of the iterative queries (graph
  * CC and PageRank, ANN graph search and SQ8, MinHash and embedding dedup)
  * visits about 430 cache entries in the same order every round: about
  * 230 distinct generated sources, each held twice because the key pairs
  * the source with a class loader and in local mode the driver and the
  * executor tasks load through different ones, and AQE numbers codegen
  * stages in the order it re-plans, so one pipeline shows up under
  * several `GeneratedIteratorForCodegenStage<N>` class names. An LRU
  * cache smaller than a cyclic working set misses on almost every access:
  * at 100 entries (Guava splits `maximumSize` across its segments, so it
  * held about 66) each steady round recompiled about 270 classes with
  * Janino, on the driver and again in the first task of each stage. At
  * 1000, with more than 2x slack over the working set for the segment
  * split, a steady round compiles 0-14. The cost is the retained classes:
  * about +15% live heap on the iterative benchmark, +3% on the ETL one.
  * The conf is static: it is read once, when the JVM's first session
  * creates the cache, so a session that already exists keeps its own
  * value and [[local]] cannot re-apply it.
  */
object GraftSession {

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  /** Local session sized by SPARK_GRAFT_CPUS, defaulting to every core the
    * machine has (the driver benches on a 32-core box — a "4" default left
    * 28 cores idle in any environment that didn't set the variable).
    */
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val s = builder(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // Single-JVM resilience: local[n] runs driver + executor in one heap,
      // so a multi-second full GC stalls BOTH sides of the heartbeat RPC at
      // once. At the 10s default a 45-minute bench accumulated 60 failed
      // heartbeats and the executor self-terminated mid-run (r11 driver
      // bench, rc=1). 60s intervals with a 600s network timeout tolerate
      // the worst observed stall with a 10× margin and cost nothing when
      // healthy; on a real cluster spark-submit overrides apply as usual.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    // getOrCreate returns any PRE-EXISTING session, silently ignoring every
    // builder config — re-apply the runtime-settable ones so graft behaves
    // identically either way (extensions can't be injected post-hoc, but
    // the function registry can).
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    if (!s.conf.getOption("spark.sql.extensions").exists(_.contains("GraftExtensions")))
      graft.plans.GraftExtensions.register(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
