package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables._
import graft.functions.HashFunctions._
import graft.plans.ArrayKernel.{Dot, Scale}

/** LLM-pipeline deduplication family (SURVEY.md §2).
  *
  * The synthetic corpus has no natural duplicates, so every query "plants"
  * them deterministically (exact copies, prefix-perturbed copies, scaled
  * embedding copies) in both engines, then runs the dedup operator.
  *
  * Scale design (§3): nothing here ever shuffles full text — exact dedup
  * shuffles a 60-bit hash; MinHash/LSH shuffles (band, bucket) keys; SimHash
  * shuffles 15-bit chunk keys; candidate pair generation is always bucket-
  * scoped (shared shingle / band bucket / simhash chunk), so candidate pairs
  * — not N² — cross the network.
  */
object Dedup {

  /** Planted-id offsets, far above any real id a 100 TB corpus could hold
    * (ids are bigint; offsets at 1e12 leave no collision window).
    */
  val ExactOffset: Long = 1000000000000L
  val NearOffset: Long  = 2000000000000L

  /** documents ∪ planted exact dups (id+ExactOffset, every 5th) ∪ planted
    * near-dups ("dup "-prefixed, id+NearOffset, every 7th). Lowercased once.
    */
  private[queries] def corpus(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), lower(col("text")).as("text"))
    val exact = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + ExactOffset).as("doc_id"), col("text"))
    val near = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + NearOffset).as("doc_id"),
        concat(lit("dup "), col("text")).as("text"))
    // spread BEFORE the expensive downstream work (shingle/token hashing):
    // the single-row-group source reads as one partition otherwise
    spread(base.unionByName(exact).unionByName(near))
  }

  private[queries] val corpusSql =
    """corpus AS (
         SELECT doc_id, lower(text) AS text FROM documents
         UNION ALL
         SELECT doc_id + 1000000000000, lower(text) FROM documents WHERE doc_id % 5 = 0
         UNION ALL
         SELECT doc_id + 2000000000000, 'dup ' || lower(text) FROM documents WHERE doc_id % 7 = 0)"""

  // ---- exact dedup: group by 60-bit content hash, keep lowest id ----------
  def exact(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .groupBy(md5Long(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy("keep_id")

  // ---- 3-gram exact Jaccard pairs ≥ 0.5 ----------------------------------
  /** (doc_id, 60-bit shingle hash) pairs — tokens materialized before the
    * shingle HOF (interpreted lambdas re-evaluate inline expressions), and
    * hashes — not shingle strings — cross every shuffle (§3).
    */
  private def shingleHashes(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shinglesFromTokens(col("toks"), 3)).as("sh0"))
      .select(col("doc_id"), md5Long(col("sh0")).as("sh"))

  /** Document-frequency cap for the shared-shingle self-join. Without it one
    * boilerplate shingle present in 10⁶ docs creates C(10⁶,2) candidate
    * pairs inside a single bucket — the cap bounds every bucket at
    * C(MaxShingleDf,2) pairs, the property that makes the join shape safe at
    * 100 TB. Shingles above the cap carry ~no signal (standard stop-shingle
    * practice), so they are removed from BOTH the intersection and the
    * per-doc sizes: similarity is computed over the informative-shingle
    * space, identically in Spark and the DuckDB oracle.
    */
  val MaxShingleDf = 100

  /** Remove shingles whose document frequency exceeds `cap` from a
    * (doc_id, sh) relation. PRECONDITION: rows are unique per (doc_id, sh)
    * — true by construction for shingle relations (shinglesFromTokens emits
    * per-doc distinct shingles), and what makes a plain count(*) the exact
    * document frequency WITHOUT countDistinct's two-phase distinct-expand
    * (measured ~0.7 s/query at sf0.1). The over-frequent set is tiny by
    * construction (only shingles in >cap docs), so it broadcasts; the df
    * computation itself is one hash-shuffle of 60-bit keys with map-side
    * partial aggregation. After this filter every shared-shingle bucket
    * holds at most `cap` docs → at most C(cap,2) candidate pairs.
    */
  def dfCapShingles(sh: DataFrame, cap: Int): DataFrame = {
    val stop = sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select(col("sh"))
    // the USING join moves `sh` to the first position; downstream positional
    // renames (toDF("a_id","sh")) require (doc_id, sh) order — pin it
    sh.join(broadcast(stop), Seq("sh"), "left_anti")
      .select(col("doc_id"), col("sh"))
  }

  /** Both shingle relations publish through the ArtifactCache like the
    * banding: the uncapped hashes feed minhashVerified's exact scoring,
    * the df-capped set feeds both n-gram pair queries — three consumers
    * that otherwise re-run the explode+hash pipeline per query. Ids +
    * 60-bit hash longs, parquet-exact.
    */
  private def shingleHashesCached(s: SparkSession, d: String): DataFrame =
    graft.core.ArtifactCache.getOrBuild(s, "shingle_hashes", "v1 n=3",
      Seq(s"$d/documents.parquet")) { shingleHashes(s, d) }

  private def cappedShingles(s: SparkSession, d: String): DataFrame =
    graft.core.ArtifactCache.getOrBuild(s, "capped_shingles",
      s"v1 n=3 df=$MaxShingleDf", Seq(s"$d/documents.parquet")) {
      // localCheckpoint: feeds the stop-set aggregation AND the anti-join side
      dfCapShingles(shingleHashes(s, d).localCheckpoint(), MaxShingleDf)
    }

  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    // the shingle relation feeds three plan branches (both join sides + the
    // per-doc counts); materialize it once instead of recomputing the
    // explode+hash pipeline three times
    val sh = cappedShingles(s, d).localCheckpoint()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.toDF("a_id", "sh"); val b = sh.toDF("b_id", "sh")
    val inter = a.join(b, a("sh") === b("sh") && a("a_id") < b("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    val ca = cnt.toDF("a_id", "na"); val cb = cnt.toDF("b_id", "nb")
    inter.join(ca, "a_id").join(cb, "b_id")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("a_id"), col("b_id"),
        graft.core.Determinism.r4(col("jaccard")).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** Containment similarity (|A∩B| / min(|A|,|B|)) ≥ 0.8 — catches
    * quote/subset duplication that symmetric Jaccard misses (a short doc
    * fully contained in a long one has low Jaccard but containment 1.0).
    * Same bucket-scoped, df-capped shingle join as [[ngramJaccard]].
    */
  def ngramContainment(s: SparkSession, d: String): DataFrame = {
    val sh = cappedShingles(s, d).localCheckpoint()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.toDF("a_id", "sh"); val b = sh.toDF("b_id", "sh")
    val inter = a.join(b, a("sh") === b("sh") && a("a_id") < b("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    val ca = cnt.toDF("a_id", "na"); val cb = cnt.toDF("b_id", "nb")
    inter.join(ca, "a_id").join(cb, "b_id")
      .withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= 0.8)
      .select(col("a_id"), col("b_id"),
        graft.core.Determinism.r4(col("containment")).as("containment"))
      .orderBy("a_id", "b_id")
  }

  // ---- paragraph-level dedup report (CCNet/RefinedWeb boilerplate shape) --
  /** Tokens per "paragraph" chunk. The corpus has no newlines, so the
    * paragraph stand-in is consecutive fixed-size token windows; a real
    * corpus would split on blank lines first — the hash/report pipeline
    * downstream of the splitter is identical either way.
    */
  private val ParaTokens = 12

  /** Per-document boilerplate report: how much of each doc is made of
    * paragraphs seen in OTHER docs, and a ≥50% flag — the
    * drop-mostly-duplicated-documents gate every crawl pipeline runs.
    * Scale shape: only 60-bit paragraph hashes shuffle (never text), one
    * hash-groupBy for global paragraph frequency + one doc-groupBy for the
    * report — both with map-side partial aggregation. Planted exact copies
    * share every chunk (dup_frac 1.0, flagged); the "dup "-prefixed
    * near-dups shift tokens by one, so FIXED-window chunks never align —
    * the documented blind spot of window chunking that the shingle-based
    * family (ngram/minhash) exists to cover.
    */
  def paragraphReport(s: SparkSession, d: String): DataFrame = {
    val toked = corpus(s, d).select(col("doc_id"), tokens(col("text")).as("toks"))
    val nChunks = ceil(size(col("toks")).cast("double") / ParaTokens).cast("int")
    val chunks = when(size(col("toks")) > 0,
      transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(col("toks"), i * ParaTokens + 1, lit(ParaTokens)))))
      .otherwise(array().cast("array<string>"))
    // distinct: within-doc repeats count once — and make count(*) the exact
    // document frequency downstream (no countDistinct pass)
    val paras = toked.select(col("doc_id"), explode(chunks).as("para"))
      .select(col("doc_id"), md5Long(col("para")).as("ph"))
      .distinct()
      .localCheckpoint() // feeds the frequency agg AND the per-doc join
    val dfreq = paras.groupBy(col("ph")).agg(count(lit(1)).as("df"))
    paras.join(dfreq, "ph")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_paras"), col("n_dup"),
        graft.core.Determinism.r4(
          col("n_dup").cast("double") / col("n_paras")).as("dup_frac"),
        (col("n_dup").cast("double") / col("n_paras") >= 0.5)
          .cast("int").as("flagged"))
      .orderBy("doc_id")
  }

  /** Exact-substring duplication report at SubN-token sliding-window
    * granularity (the hashed approximation of Lee et al. 2021's
    * suffix-array ExactSubstr): a window duplicated ANYWHERE in another
    * doc is caught regardless of token alignment — the "dup "-prefixed
    * near-dups that [[paragraphReport]]'s fixed windows provably miss are
    * flagged here (asserted side by side in DedupSpec).
    *
    * Scale shape: strictly linear — windows hash to 60 bits, df is one
    * hash-keyed agg (map-side partial), the per-doc report one hash join
    * back; there is NO pair join anywhere, so no df cap is needed. The
    * explode factor (≈ tokens per doc) prices the operator honestly: at
    * 100 TB this runs as one shuffle of ~N_tokens longs.
    */
  val SubN = 10

  def substringReport(s: SparkSession, d: String): DataFrame = {
    val toked = corpus(s, d).select(col("doc_id"), tokens(col("text")).as("toks"))
    // shinglesFromTokens is already per-doc DISTINCT → count(*) is exact df
    val wins = toked.select(col("doc_id"),
        explode(shinglesFromTokens(col("toks"), SubN)).as("w"))
      .select(col("doc_id"), md5Long(col("w")).as("h"))
      .localCheckpoint() // feeds the df agg AND the per-doc join
    val dfreq = wins.groupBy(col("h")).agg(count(lit(1)).as("df"))
    wins.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        graft.core.Determinism.r4(
          col("n_dup").cast("double") / col("n_windows")).as("dup_frac"),
        (col("n_dup").cast("double") / col("n_windows") >= 0.5)
          .cast("int").as("flagged"))
      .orderBy("doc_id")
  }

  /** The ExactSubstr REMOVAL pass (Lee et al. 2022) that
    * [[substringReport]] only reports: every token covered by a duplicated
    * [[SubN]]-token window (duplicated = the window text occurs ≥2 times
    * anywhere in the corpus, including within one doc) is cut, and the doc
    * is rebuilt from the survivors — emitted as (kept count, md5 of the
    * rebuilt text) so the full text never leaves the executors. Windows
    * here are POSITIONAL (not the report's per-doc-distinct set): removal
    * needs every occurrence. Scale shape: window hashes shuffle once for
    * the frequency count, covered positions are (doc, pos) pairs bounded
    * by dup coverage, and the rebuild is one per-doc aggregation — no
    * pair join anywhere, same linearity as the report.
    */
  def substringScrub(s: SparkSession, d: String): DataFrame = {
    val toked = corpus(s, d).select(col("doc_id"), tokens(col("text")).as("ws"))
    val nWins = size(col("ws")) - (SubN - 1)
    val wins = toked.select(col("doc_id"),
        explode(when(nWins > 0, transform(sequence(lit(0), nWins - 1),
          i => struct(i.as("i"), md5Long(concat_ws(" ",
            (0 until SubN).map(j => element_at(col("ws"), i + j + 1)): _*)).as("h"))))
          .otherwise(array().cast("array<struct<i:int,h:bigint>>"))).as("w"))
      .select(col("doc_id"), col("w.i").as("i"), col("w.h").as("h"))
      .localCheckpoint() // feeds the frequency agg AND the coverage join
    val dups = wins.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("h")
    val covered = wins.join(dups, "h")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (SubN - 1))).as("pos"))
      .distinct()
      .groupBy(col("doc_id")).agg(sort_array(collect_list(col("pos"))).as("cov"))
    toked.join(covered, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), array().cast("array<int>")))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        (size(col("ws")) - size(col("cov"))).cast("long").as("n_kept"),
        md5(array_join(
          filter(col("ws"), (_, i) => !array_contains(col("cov"), i)), " "))
          .as("clean_md5"))
      .orderBy("doc_id")
  }

  private def substringSqlFor: String =
    s"""WITH $corpusSql,
       sh0 AS (${shinglesSql(SubN, "doc_id", "text", "corpus")}),
       wins AS (SELECT doc_id, ${md5LongSql("sh")} AS h FROM sh0),
       dfreq AS (SELECT h, count(*) AS df FROM wins GROUP BY h),
       rep AS (SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         FROM wins w JOIN dfreq f ON f.h = w.h GROUP BY w.doc_id)
       SELECT doc_id, n_windows, n_dup,
         ${graft.core.Determinism.r4Sql(
           "CAST(n_dup AS DOUBLE) / CAST(n_windows AS DOUBLE)")} AS dup_frac,
         CAST(CAST(n_dup AS DOUBLE) / CAST(n_windows AS DOUBLE) >= 0.5
           AS INTEGER) AS flagged
       FROM rep ORDER BY doc_id"""

  private def paragraphSqlFor: String = {
    val chunk = s"array_to_string(array_slice(ws, 1 + $ParaTokens * i, $ParaTokens * i + $ParaTokens), ' ')"
    s"""WITH $corpusSql,
       toked AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
       paras AS (SELECT DISTINCT doc_id, ${md5LongSql(chunk)} AS ph
         FROM toked,
              UNNEST(range(0, CAST(ceil(len(ws) / ${ParaTokens}.0) AS BIGINT))) AS t(i)),
       dfreq AS (SELECT ph, count(*) AS df FROM paras GROUP BY ph),
       rep AS (SELECT doc_id, count(*) AS n_paras,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         FROM paras JOIN dfreq USING (ph) GROUP BY doc_id)
       SELECT doc_id, n_paras, n_dup,
         ${graft.core.Determinism.r4Sql("CAST(n_dup AS DOUBLE) / n_paras")} AS dup_frac,
         CAST(CAST(n_dup AS DOUBLE) / n_paras >= 0.5 AS INTEGER) AS flagged
       FROM rep ORDER BY doc_id"""
  }

  // ---- MinHash (k=12) + LSH (4 bands × 3 rows) candidate pairs ------------
  private val K = 12; private val BANDS = 4; private val ROWS = K / BANDS

  /** (doc_id, band, bucket) LSH banding of a (doc_id, text) relation — the
    * stored minhash INDEX of a corpus. Factored out so the pair query and
    * the incremental new-batch check share one definition.
    */
  /** (doc_id, s0..s{K-1}) minhash signatures of a (doc_id, text) relation
    * — factored from [[bandedFrom]] so the calibration query can compare
    * slot agreement without re-deriving the signature definition.
    */
  private[queries] def sigsFrom(docs: DataFrame): DataFrame = {
    // one md5 per shingle; K signature slots via linear permutations
    val sh = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shinglesFromTokens(col("toks"), 3)).as("sh0"))
      .select(col("doc_id"), h30(md5Long(col("sh0"))).as("h"))
    val pp = permParams(K)
    sh.groupBy(col("doc_id")).agg(
      min(minhashPerm(col("h"), pp(0)._1, pp(0)._2)).as("s0"),
      (1 until K).map(i =>
        min(minhashPerm(col("h"), pp(i)._1, pp(i)._2)).as(s"s$i")): _*)
  }

  private[queries] def bandedFrom(docs: DataFrame): DataFrame = {
    val sig = sigsFrom(docs)
    val bandStructs = (0 until BANDS).map { b =>
      val key = md5(concat_ws(",",
        (0 until ROWS).map(r => col(s"s${b * ROWS + r}").cast("string")): _*))
      struct(lit(b).as("band"), key.as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** The corpus's banded LSH index published through the ArtifactCache —
    * the dedup mirror of the stored ANN index: six consumers (lsh,
    * calibration, verified + edit-distance via lsh, bbit, the incremental
    * check's index side) otherwise EACH re-run the full shingle →
    * signature → banding pipeline on identical input. The relation is ids
    * + band + bucket strings, so the parquet round trip is trivially
    * exact; bench scale probes bypass the cache (they measure the build).
    */
  private def bandedCorpus(s: SparkSession, d: String): DataFrame =
    graft.core.ArtifactCache.getOrBuild(s, "minhash_banding",
      s"v1 k=$K bands=$BANDS rows=$ROWS", Seq(s"$d/documents.parquet")) {
      bandedFrom(corpus(s, d))
    }

  /** The corpus's minhash signature relation, cached like [[bandedCorpus]]
    * (two consumers: calibration's slot-agreement pass, bbit truncation).
    */
  private def sigsCorpus(s: SparkSession, d: String): DataFrame =
    graft.core.ArtifactCache.getOrBuild(s, "minhash_sigs",
      s"v1 k=$K", Seq(s"$d/documents.parquet")) {
      sigsFrom(corpus(s, d))
    }

  def minhashLsh(s: SparkSession, d: String): DataFrame =
    graft.core.ArtifactCache.getOrBuild(s, "minhash_pairs",
      s"v1 k=$K bands=$BANDS", Seq(s"$d/documents.parquet")) {
      // materialized once: both self-join sides would otherwise recompute
      // the full shingle → signature → banding pipeline
      val banded = bandedCorpus(s, d).localCheckpoint()
      val a = banded.toDF("a_id", "band", "bucket")
      val b = banded.toDF("b_id", "band", "bucket")
      a.join(b, Seq("band", "bucket")).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id")).distinct()
    }.orderBy("a_id", "b_id")

  /** Sketch calibration: for every LSH candidate pair, the signature-slot
    * agreement estimate (fraction of the K minhash slots that agree — the
    * statistic whose expectation IS the Jaccard similarity) next to the
    * exact shingle Jaccard and the absolute error. This is the measurement
    * that justifies a (K, bands, rows) configuration before trusting it on
    * 100 TB: estimator bias/variance over REAL candidates, not theory.
    * Cost is bounded by the candidate count like minhashVerified — exact
    * scoring touches only candidate docs' shingles.
    */
  def minhashCalibration(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    // one banding materialization feeds BOTH self-join sides (same shape
    // as minhashLsh — a second bandedFrom would re-run the full pipeline)
    val banded = bandedCorpus(s, d).localCheckpoint()
    val pairs = banded.toDF("a_id", "band", "bucket")
      .join(banded.toDF("b_id", "band", "bucket"), Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val sig = sigsCorpus(s, d).localCheckpoint()
    val eq = (0 until K).map(i =>
      when(col(s"a_s$i") === col(s"b_s$i"), 1).otherwise(0)).reduce(_ + _)
    val est = pairs
      .join(sig.toDF("a_id" +: (0 until K).map(i => s"a_s$i"): _*), "a_id")
      .join(sig.toDF("b_id" +: (0 until K).map(i => s"b_s$i"): _*), "b_id")
      .select(col("a_id"), col("b_id"),
        graft.core.Determinism.r4(eq.cast("double") / K).as("est_sim"))
    val shall = c
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shinglesFromTokens(col("toks"), 3)).as("sh0"))
      .select(col("doc_id"), md5Long(col("sh0")).as("fh"))
      .localCheckpoint()
    val cnt = shall.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = est.select(col("a_id"), col("b_id"))
      .join(shall.toDF("a_id", "fh"), "a_id")
      .join(shall.toDF("b_id", "fh"), Seq("b_id", "fh"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("i"))
    est
      .join(inter, Seq("a_id", "b_id"), "left")
      .join(cnt.toDF("a_id", "na"), "a_id")
      .join(cnt.toDF("b_id", "nb"), "b_id")
      .withColumn("true_jaccard", graft.core.Determinism.r4(
        coalesce(col("i"), lit(0L)).cast("double")
          / (col("na") + col("nb") - coalesce(col("i"), lit(0L)))))
      .select(col("a_id"), col("b_id"), col("est_sim"), col("true_jaccard"),
        graft.core.Determinism.r4(abs(col("est_sim") - col("true_jaccard")))
          .as("abs_err"))
      .orderBy("a_id", "b_id")
  }

  /** Signature bits kept per slot in [[minhashBbit]]. */
  private val BBits = 2
  private val BMask = (1 << BBits) - 1

  /** b-bit minhash (public: Li & König, "b-Bit Minwise Hashing", WWW'10):
    * keep only the lowest [[BBits]] bits of each of the K minhash slots and
    * estimate Jaccard from b-bit slot agreement, debiased for accidental
    * low-bit collisions — E[agree_b] = C + (1−C)·J with C ≈ 1/2^b, so
    * Ĵ = (agree_b − C)/(1 − C), clamped at 0.
    *
    * Why it matters at 100 TB: the stored signature index shrinks from
    * 30 bits/slot to b bits/slot (15× at b=2) — the difference between a
    * minhash index that fits executor memory and one that doesn't — for a
    * variance increase the output quantifies pair-by-pair against the
    * full-width estimate. Candidates come from the SAME df-capped banded
    * LSH join as minhashLsh, so cost stays bounded by the candidate count;
    * the b-bit truncation touches only candidate signatures.
    */
  def minhashBbit(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val banded = bandedCorpus(s, d).localCheckpoint()
    val pairs = banded.toDF("a_id", "band", "bucket")
      .join(banded.toDF("b_id", "band", "bucket"), Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val sig = sigsCorpus(s, d).localCheckpoint()
    val eqFull = (0 until K).map(i =>
      when(col(s"a_s$i") === col(s"b_s$i"), 1).otherwise(0)).reduce(_ + _)
    val eqB = (0 until K).map(i =>
      when(col(s"a_s$i").bitwiseAND(BMask) === col(s"b_s$i").bitwiseAND(BMask),
        1).otherwise(0)).reduce(_ + _)
    val cB = 1.0 / (1 << BBits)
    pairs
      .join(sig.toDF("a_id" +: (0 until K).map(i => s"a_s$i"): _*), "a_id")
      .join(sig.toDF("b_id" +: (0 until K).map(i => s"b_s$i"): _*), "b_id")
      .select(col("a_id"), col("b_id"),
        graft.core.Determinism.r4(eqFull.cast("double") / K).as("agree_full"),
        graft.core.Determinism.r4(eqB.cast("double") / K).as("agree_b"),
        graft.core.Determinism.r4(greatest(
          (eqB.cast("double") / K - cB) / (1.0 - cB), lit(0.0))).as("jhat_b"))
      .orderBy("a_id", "b_id")
  }

  // ---- incremental dedup: new batch vs the stored corpus index ------------
  /** Planted-id offset for the incoming batch. */
  val NewOffset: Long = 3000000000000L

  /** Check an INCOMING batch against the existing corpus WITHOUT re-pairing
    * the corpus — the shape incremental ingestion takes at 100 TB: the
    * corpus banding is a stored index (computed once, here recomputed for
    * the oracle's sake), the new batch is tiny, its banded buckets
    * BROADCAST against the index, and no corpus self-join ever runs.
    * Planted batch: every 4th doc arrives again verbatim (must match its
    * original), every 4th+1 arrives word-reversed (novel text — reversed
    * word order shares no 3-gram shingles).
    */
  def incremental(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), lower(col("text")).as("text"))
    val again = base.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + NewOffset).as("doc_id"), col("text"))
    val novel = base.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") + NewOffset).as("doc_id"),
        array_join(reverse(tokens(col("text"))), " ").as("text"))
    val newB = spread(again.unionByName(novel)).localCheckpoint()
    // the incremental check READS the stored banding index (the cache IS
    // the stored index) and bands only the new batch fresh
    val index = bandedCorpus(s, d)
      .toDF("idx_id", "band", "bucket")
    val nb = bandedFrom(newB).toDF("new_id", "band", "bucket")
    val m = index.join(broadcast(nb), Seq("band", "bucket"))
      .groupBy(col("new_id")).agg(min(col("idx_id")).as("match_id"))
    newB.select(col("doc_id").as("new_id"))
      .join(m, Seq("new_id"), "left")
      .select(col("new_id"),
        col("match_id").isNotNull.cast("int").as("matched"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"))
      .orderBy("new_id")
  }

  /** SQL twin of [[bandedFrom]]: CTE chain `{p}_sh0 … {p}_banded` over a
    * (doc_id, text) CTE named `table`.
    */
  private def bandedSqlCtes(p: String, table: String): String = {
    val pp = permParams(K)
    val mins = (0 until K).map(i =>
      s"min(${minhashPermSql("h", pp(i)._1, pp(i)._2)}) AS s$i").mkString(", ")
    val bands = (0 until BANDS).map { b =>
      val key = (0 until ROWS).map(r => s"CAST(s${b * ROWS + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($key) AS bucket FROM ${p}_sigs"
    }.mkString(" UNION ALL ")
    s"""${p}_sh0 AS (${shinglesSql(3, "doc_id", "text", table)}),
       ${p}_sh AS (SELECT doc_id, ${md5LongSql("sh")} % ${MinhashP} AS h FROM ${p}_sh0),
       ${p}_sigs AS (SELECT doc_id, $mins FROM ${p}_sh GROUP BY doc_id),
       ${p}_banded AS ($bands)"""
  }

  private def minhashLshSqlFor: String =
    s"""WITH $corpusSql,
       ${bandedSqlCtes("mh", "corpus")}
       SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       FROM mh_banded a JOIN mh_banded b
         ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       ORDER BY a_id, b_id"""

  private def incrementalSqlFor: String =
    s"""WITH $corpusSql,
       newb AS (
         SELECT doc_id + $NewOffset AS doc_id, lower(text) AS text
         FROM documents WHERE doc_id % 4 = 0
         UNION ALL
         SELECT doc_id + $NewOffset,
           array_to_string(list_reverse(string_split(lower(text), ' ')), ' ')
         FROM documents WHERE doc_id % 4 = 1),
       ${bandedSqlCtes("idx", "corpus")},
       ${bandedSqlCtes("nb", "newb")},
       m AS (SELECT n.doc_id AS new_id, min(i.doc_id) AS match_id
         FROM nb_banded n JOIN idx_banded i
           ON i.band = n.band AND i.bucket = n.bucket
         GROUP BY 1)
       SELECT nb.doc_id AS new_id,
         CAST(m.match_id IS NOT NULL AS INTEGER) AS matched,
         coalesce(m.match_id, -1) AS match_id
       FROM newb nb LEFT JOIN m ON m.new_id = nb.doc_id
       ORDER BY new_id"""

  // ---- crawl-time streaming dedup against the stored banding index --------
  /** Id offsets for the streaming arrival set: B-group novel docs land at
    * +CrawlOffset, their C-group in-stream repeats at +CrawlOffset+
    * CrawlDupOffset (so every repeat has a LARGER id than its first
    * appearance — arrival order is id order).
    */
  val CrawlOffset: Long = 4000000000000L
  val CrawlDupOffset: Long = 1000000000000L

  /** The planted arrival stream: every 4th doc re-arrives verbatim (must
    * match the ARCHIVE), every 4th+1 arrives word-reversed (novel — shares
    * no 3-gram shingles with forward text) and then arrives word-reversed
    * AGAIN at a later id (must match the STREAM — its own earlier
    * arrival, which exists nowhere in the archive).
    */
  private[graft] def crawlDocs(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), lower(col("text")).as("text"))
    val again = base.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + CrawlOffset).as("doc_id"), col("text"))
    val novel = base.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") + CrawlOffset).as("doc_id"),
        array_join(reverse(tokens(col("text"))), " ").as("text"))
    val repeat = novel.select((col("doc_id") + CrawlDupOffset).as("doc_id"),
      col("text"))
    spread(again.unionByName(novel).unionByName(repeat))
  }

  /** Match one banded arrival set against the stored corpus index AND all
    * earlier arrivals, archive priority — the per-micro-batch kernel of
    * crawl-time dedup. `nb` is (new_id, band, bucket) for the arrivals
    * under test; `seenBands` is (seen_id, band, bucket) for everything
    * that arrived before them (it may include `nb` itself — the
    * seen_id < new_id guard enforces arrival order, which also makes the
    * kernel handle intra-batch duplicates with no special case). Cost per
    * batch: banding the batch + one broadcast of the batch's bands
    * against the column-pruned ids-only index scan + the seen join —
    * arrival-proportional work; the archive is never self-paired.
    */
  /** Public banding of an arbitrary (doc_id, text) relation as
    * (new_id, band, bucket) — the spec-facing door into the LSH pipeline.
    */
  def bandDocs(docs: DataFrame): DataFrame =
    bandedFrom(docs).toDF("new_id", "band", "bucket")

  /** The stored corpus banding index in match-side naming. */
  def bandingIndex(s: SparkSession, d: String): DataFrame =
    bandedCorpus(s, d).toDF("idx_id", "band", "bucket")

  def dedupIndexMatch(index: DataFrame, seenBands: DataFrame, nb: DataFrame,
                      ids: DataFrame): DataFrame = {
    val arch = index.join(broadcast(nb), Seq("band", "bucket"))
      .groupBy(col("new_id")).agg(min(col("idx_id")).as("archive_id"))
    val inStream = seenBands.join(broadcast(nb), Seq("band", "bucket"))
      .filter(col("seen_id") < col("new_id"))
      .groupBy(col("new_id")).agg(min(col("seen_id")).as("stream_id"))
    ids.join(arch, Seq("new_id"), "left").join(inStream, Seq("new_id"), "left")
      .select(col("new_id"),
        when(col("archive_id").isNotNull, "archive")
          .when(col("stream_id").isNotNull, "stream")
          .otherwise("none").as("source"),
        coalesce(col("archive_id"), col("stream_id"), lit(-1L)).as("match_id"))
  }

  /** Batch twin of the streaming crawl dedup (the oracle-gated entry):
    * the whole arrival set processed as one batch — identical semantics
    * to the micro-batched run because [[dedupIndexMatch]]'s id-order
    * guard is batch-boundary-free (StreamDedupIndexSpec proves readStream
    * parity including a checkpoint-resume split).
    */
  def streamDedupIndex(s: SparkSession, d: String): DataFrame = {
    val newB = crawlDocs(s, d).localCheckpoint()
    val nb = bandedFrom(newB).toDF("new_id", "band", "bucket").localCheckpoint()
    val index = bandedCorpus(s, d).toDF("idx_id", "band", "bucket")
    dedupIndexMatch(index, nb.toDF("seen_id", "band", "bucket"), nb,
      newB.select(col("doc_id").as("new_id")))
      .orderBy("new_id")
  }

  /** The production shape: arrivals as a STREAM, each micro-batch banded
    * and matched against the stored index plus the persisted bands of all
    * earlier batches, then its own bands appended to the seen-state dir.
    * All writes are per-batchId overwrites — idempotent under checkpoint
    * replay (exactly-once results without a transactional sink) — and the
    * seen-state read takes only batches strictly OLDER than the current
    * batchId, so a replayed batch never observes its own partial state.
    * At warehouse scale the seen dir is the growing banding index itself:
    * committing a batch's bands IS the index maintenance step — and every
    * [[StreamDedupCompactEvery]] batches the committed `batch=` band dirs
    * FOLD into one `compacted=<uptoBatchId>` artifact, so the per-trigger
    * seen read is bounded at one compacted dir + at most
    * [[StreamDedupCompactEvery]] recent batch dirs regardless of how many
    * triggers have ever run (without this the read is linear in trigger
    * history — quadratic cumulative I/O over a crawl's lifetime). The fold
    * is itself replay-safe: `compacted=<b>` names the batches it covers
    * (all `< b`), a replayed batch rewrites it idempotently, and a crash
    * between the fold and the pruning of folded dirs cannot double-count —
    * the seen read takes only `batch=` dirs `>=` the newest compaction
    * point. All state listing goes through the Hadoop FileSystem API, so
    * the state dir can live on object storage.
    */
  val StreamDedupCompactEvery: Int = 4

  private def stateFs(s: SparkSession,
                      stateDir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Fully-committed (_SUCCESS-marked) state dirs only: a fold or band
    * write that crashed mid-flight must read as absent, not as state.
    */
  private def listStateIds(s: SparkSession, stateDir: String,
                           prefix: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(stateDir)
    val fs = stateFs(s, stateDir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix) &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix(prefix).toLong)
  }

  /** The bounded seen-state read: newest compaction point `<= batchId`
    * plus the batch dirs after it and before `batchId`.
    */
  private def seenStatePaths(s: SparkSession, stateDir: String,
                             batchId: Long): Seq[String] = {
    val k = listStateIds(s, stateDir, "compacted=").filter(_ <= batchId)
      .sorted.lastOption.getOrElse(0L)
    val recent = listStateIds(s, stateDir, "batch=")
      .filter(b => b >= k && b < batchId).sorted
    (if (k > 0) Seq(s"$stateDir/compacted=$k") else Seq.empty) ++
      recent.map(b => s"$stateDir/batch=$b")
  }

  def streamDedupIndexStart(s: SparkSession, newDocs: DataFrame,
      index: DataFrame, stateDir: String, outDir: String, ckpt: String,
      compactEvery: Int = StreamDedupCompactEvery)
      : org.apache.spark.sql.streaming.StreamingQuery =
    newDocs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // index-maintenance step: fold everything older than this batch
        // into one compacted artifact, then prune the superseded dirs
        // (prune failures are harmless — the >= k filter below excludes
        // leftovers, and the next compaction prunes them again). Replay of
        // a compaction batch skips the fold — compacted=<batchId> already
        // exists committed, and re-folding would read and overwrite the
        // same path in one job.
        if (batchId > 0 && batchId % compactEvery == 0) {
          val alreadyFolded =
            listStateIds(s, stateDir, "compacted=").contains(batchId)
          val fold = seenStatePaths(s, stateDir, batchId)
          if (!alreadyFolded && fold.nonEmpty)
            s.read.parquet(fold: _*).select("new_id", "band", "bucket")
              .write.mode("overwrite").parquet(s"$stateDir/compacted=$batchId")
          val fs = stateFs(s, stateDir)
          def prune(prefix: String): Unit =
            listStateIds(s, stateDir, prefix).filter(_ < batchId).foreach(b =>
              fs.delete(new org.apache.hadoop.fs.Path(
                s"$stateDir/$prefix$b"), true): Unit)
          if (alreadyFolded || fold.nonEmpty) { prune("batch="); prune("compacted=") }
        }
        val nb = bandedFrom(batch).toDF("new_id", "band", "bucket")
          .localCheckpoint()
        val older = seenStatePaths(s, stateDir, batchId)
        val seen =
          if (older.isEmpty) nb.limit(0).toDF("seen_id", "band", "bucket")
          else s.read.parquet(older: _*)
            .select(col("new_id").as("seen_id"), col("band"), col("bucket"))
        val res = dedupIndexMatch(index, seen, nb,
          batch.select(col("doc_id").as("new_id")))
        res.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        nb.write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
        (): Unit
      }
      .option("checkpointLocation", ckpt)
      .start()

  private def streamDedupIndexSqlFor: String =
    s"""WITH $corpusSql,
       newb AS (
         SELECT doc_id + $CrawlOffset AS doc_id, lower(text) AS text
         FROM documents WHERE doc_id % 4 = 0
         UNION ALL
         SELECT doc_id + $CrawlOffset,
           array_to_string(list_reverse(string_split(lower(text), ' ')), ' ')
         FROM documents WHERE doc_id % 4 = 1
         UNION ALL
         SELECT doc_id + ${CrawlOffset + CrawlDupOffset},
           array_to_string(list_reverse(string_split(lower(text), ' ')), ' ')
         FROM documents WHERE doc_id % 4 = 1),
       ${bandedSqlCtes("sdx", "corpus")},
       ${bandedSqlCtes("sdn", "newb")},
       arch AS (SELECT n.doc_id AS new_id, min(i.doc_id) AS archive_id
         FROM sdn_banded n JOIN sdx_banded i
           ON i.band = n.band AND i.bucket = n.bucket
         GROUP BY 1),
       instream AS (SELECT n.doc_id AS new_id, min(p.doc_id) AS stream_id
         FROM sdn_banded n JOIN sdn_banded p
           ON p.band = n.band AND p.bucket = n.bucket AND p.doc_id < n.doc_id
         GROUP BY 1)
       SELECT nb.doc_id AS new_id,
         CASE WHEN a.archive_id IS NOT NULL THEN 'archive'
              WHEN st.stream_id IS NOT NULL THEN 'stream'
              ELSE 'none' END AS source,
         coalesce(a.archive_id, st.stream_id, -1) AS match_id
       FROM newb nb
       LEFT JOIN arch a ON a.new_id = nb.doc_id
       LEFT JOIN instream st ON st.new_id = nb.doc_id
       ORDER BY new_id"""

  // ---- SimHash (60-bit) + hamming ≤ 3 via 4×15-bit chunk pigeonhole -------
  private val SIMBITS = 60; private val CHUNKS = 4; private val CB = SIMBITS / CHUNKS

  /** Chunk-bucket document-frequency cap — the [[MaxShingleDf]] pattern
    * applied to the 15-bit pigeonhole join: a degenerate chunk value shared
    * by k docs (think: millions of near-empty docs hashing to chunk 0)
    * creates C(k,2) pairs inside one bucket. Buckets above the cap are
    * dropped from BOTH join sides (identical HAVING in the oracle), bounding
    * every bucket at C(cap,2) pairs — closing the last documented quadratic
    * in the dedup family. Over-frequent chunk buckets carry ~no signal for
    * hamming≤3 matching (they pair everything with everything).
    */
  val MaxChunkDf = 100

  def simhash(s: SparkSession, d: String): DataFrame = {
    val tok = corpus(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .withColumn("h", md5Long(col("w")))
    val sums = tok.groupBy(col("doc_id")).agg(
      sum(when(shiftright(col("h"), 0).bitwiseAND(1) === 1, 1).otherwise(-1)).as("b0"),
      (1 until SIMBITS).map(j =>
        sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1))
          .as(s"b$j")): _*)
    val simCol = (0 until SIMBITS).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)): Column).reduce(_ + _)
    // materialized once: the 60-sum SimHash aggregation feeds both join
    // sides — without this the whole token pipeline runs twice
    val sim = sums.select(col("doc_id"), simCol.as("sim")).localCheckpoint()
    val chunkStructs = (0 until CHUNKS).map(ci =>
      struct(lit(ci).as("ci"),
        shiftright(col("sim"), ci * CB).bitwiseAND((1L << CB) - 1).as("cv")))
    // materialized once: feeds the bucket-df aggregation AND both join sides
    val chunked = sim.select(col("doc_id"), col("sim"),
        explode(array(chunkStructs: _*)).as("ch"))
      .select(col("doc_id"), col("sim"), col("ch.ci").as("ci"), col("ch.cv").as("cv"))
      .localCheckpoint()
    // each doc emits exactly one row per chunk index, so count(*) per
    // (ci, cv) IS the bucket's document frequency (no countDistinct pass)
    val stop = chunked.groupBy(col("ci"), col("cv"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxChunkDf)
      .select(col("ci"), col("cv"))
    // USING join moves (ci, cv) first; positional toDF below needs
    // (doc_id, sim, ci, cv) — pin the order
    val capped = chunked.join(broadcast(stop), Seq("ci", "cv"), "left_anti")
      .select(col("doc_id"), col("sim"), col("ci"), col("cv"))
    val a = capped.toDF("a_id", "a_sim", "ci", "cv")
    val b = capped.toDF("b_id", "b_sim", "ci", "cv")
    a.join(b, Seq("ci", "cv")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("a_id", "b_id")
  }

  private def simhashSqlFor: String = {
    val h = md5LongSql("w")
    val sums = (0 until SIMBITS).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val simExpr = (0 until SIMBITS).map(j =>
      s"CASE WHEN b$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END").mkString(" + ")
    val chunks = (0 until CHUNKS).map(ci =>
      s"SELECT doc_id, sim, $ci AS ci, (sim >> ${ci * CB}) & ${(1L << CB) - 1} AS cv FROM sims")
      .mkString(" UNION ALL ")
    s"""WITH $corpusSql,
       tok AS (SELECT doc_id, $h AS h
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)),
       sums AS (SELECT doc_id, $sums FROM tok GROUP BY doc_id),
       sims AS (SELECT doc_id, $simExpr AS sim FROM sums),
       chunked AS ($chunks),
       stop_buckets AS (SELECT ci, cv FROM chunked
         GROUP BY ci, cv HAVING count(*) > $MaxChunkDf),
       capped AS (SELECT * FROM chunked c WHERE NOT EXISTS
         (SELECT 1 FROM stop_buckets s WHERE s.ci = c.ci AND s.cv = c.cv))
       SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
       FROM capped a JOIN capped b
         ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
       WHERE bit_count(xor(a.sim, b.sim)) <= 3
       ORDER BY a_id, b_id"""
  }

  // ---- embedding cosine near-dup pairs ≥ 0.99 -----------------------------
  /** Sequential double dot product: Spark's `aggregate` HOF and DuckDB's
    * `list_reduce` both fold strictly left-to-right, so the result is
    * bit-identical across engines without decimal cost. ~5× faster than
    * a decimal-accumulator formulation (no BigDecimal boxing in the
    * interpreted lambda).
    * SQL twin: `list_reduce(list_transform(a,(x,i)->x*b[i]),(acc,x)->acc+x)`.
    */
  def dotSeq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, el) => acc + el)

  /** SQL twin of [[dotSeq]]. */
  def dotSeqSql(aExpr: String, bExpr: String): String =
    s"list_reduce(list_transform($aExpr, (x,i) -> x * ($bExpr)[i]), (acc,x) -> acc + x)"

  private def vecCorpus(s: SparkSession, d: String): DataFrame = {
    // codegen cast + codegen scale instead of the two transform(...) HOFs
    // (round r14, guide §4 / r13 VERDICT #5: the lambdas were breaking the
    // scan projection out of whole-stage codegen on every dedup_embedding
    // and semantic-resolve plan); bit-identical — the cast is the same
    // element-wise float→double widening, the scale the same IEEE multiply
    val base = embeddings(s, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val planted = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + ExactOffset).as("vec_id"),
        Scale(col("v"), lit(0.5)).as("v"))
    spread(base.unionByName(planted))
  }

  private val vecCorpusSql =
    """vecs AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         UNION ALL
         SELECT vec_id + 1000000000000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.5)
         FROM embeddings WHERE vec_id % 10 = 0)"""

  /** LSH-blocked near-dup pass: candidate pairs come only from matching
    * hyperplane-sign buckets (Ann.bucketsOf), then get deterministic
    * sequential-double cosine scoring (ArrayKernel.Dot). At cos ≥ 0.99 true near-dups are virtually
    * sign-identical (a positively-scaled copy is *exactly* sign-identical),
    * so recall is preserved while candidate volume drops from N²/2 to
    * Σ_bucket C(n_b, 2) — the shape that survives a 100 TB corpus.
    */
  def embeddingDedup(s: SparkSession, d: String): DataFrame = {
    val vecs = vecCorpus(s, d)
    // materialized once: both self-join sides would otherwise recompute the
    // hyperplane-bucket pipeline (vecs itself is a cheap scan — not worth one)
    val withB = vecs.join(Ann.bucketsOf(vecs), "vec_id").localCheckpoint()
    val norms = vecs.select(col("vec_id"),
      Dot(col("v"), col("v")).as("nrm"))
    val a = withB.toDF("a_id", "va", "bucket")
    val b = withB.toDF("b_id", "vb", "bucket")
    val pairs = a.join(b, Seq("bucket")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        Dot(col("va"), col("vb")).as("dot"))
    // zero-norm guard: cos would be 0/0 = NaN, and both engines order NaN
    // ABOVE every double, so it would pass >= τ — exclude degenerate vectors
    val na = norms.filter(col("nrm") > 0).toDF("a_id", "na")
    val nb = norms.filter(col("nrm") > 0).toDF("b_id", "nb")
    pairs.join(na, "a_id").join(nb, "b_id")
      .withColumn("cos", col("dot") / sqrt(col("na") * col("nb")))
      .filter(col("cos") >= 0.99)
      .select(col("a_id"), col("b_id"),
        graft.core.Determinism.r4(col("cos")).as("cos"))
      .orderBy("a_id", "b_id")
  }

  private def embeddingDedupSql =
    s"""WITH $vecCorpusSql,
       elems AS (SELECT vec_id, unnest(v) AS x,
                        generate_subscripts(v, 1) AS i FROM vecs),
       ${Ann.bucketsSqlFragment},
       norms AS (SELECT vec_id, ${dotSeqSql("v", "v")} AS nrm FROM vecs),
       dots AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                  ${dotSeqSql("av.v", "bv.v")} AS dot
                FROM buckets a
                JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
                JOIN vecs av ON av.vec_id = a.vec_id
                JOIN vecs bv ON bv.vec_id = b.vec_id)
       SELECT a_id, b_id, ${graft.core.Determinism.r4Sql("dot / sqrt(na.nrm * nb.nrm)")} AS cos
       FROM dots
       JOIN norms na ON na.vec_id = a_id AND na.nrm > 0
       JOIN norms nb ON nb.vec_id = b_id AND nb.nrm > 0
       WHERE dot / sqrt(na.nrm * nb.nrm) >= 0.99
       ORDER BY a_id, b_id"""

  // ---- pair → keep/drop resolution ---------------------------------------
  val ResolveMaxPasses = 50

  /** Connected-components-style keep-min-id resolution (§3): iterative
    * min-label propagation over the near-dup pair graph, run to a fixed
    * point. Convergence is detected by the label-sum: labels only ever
    * decrease under min-propagation (and label(x) <= x always holds), so an
    * unchanged sum means no label moved anywhere. Each pass is one edge join
    * + one min-aggregation + one POINTER-DOUBLING self-join (labels jump to
    * their label's label), so a chain of length L converges in O(log L)
    * passes — one-hop propagation alone would need diameter passes and a
    * long dup chain would exhaust the bound. The sum rides each pass's own
    * checkpoint job ([[graft.core.Iterate]]). [[ResolveMaxPasses]] is a
    * runaway bound: hitting it without convergence throws rather than
    * silently returning partial labels.
    */
  def resolveKeepMin(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint()
    val labels0 = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    val passes = graft.core.Iterate(labels0, ResolveMaxPasses,
        Seq(sum(col("label").cast("decimal(38,0)")))) { (labels, _, _) =>
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("label"))
      val hop = labels.unionByName(prop)
        .groupBy("id").agg(min("label").as("label"))
      // pointer doubling: replace each label by its label's label. Labels
      // are always ids present in the label set (mins of ids), so the join
      // hits; coalesce only guards the theoretical miss. label2 <= label,
      // so monotone decrease — and the sum-based convergence test — hold.
      val jump = hop.select(col("id").as("jid"), col("label").as("jlabel"))
      hop.join(jump, hop("label") === jump("jid"), "left")
        .select(hop("id"), coalesce(col("jlabel"), hop("label")).as("label"))
    }
    require(passes.fixpoint,
      s"resolveKeepMin did not converge within $ResolveMaxPasses iterations")
    passes.last
  }

  /** Candidate→verify: LSH candidate pairs re-scored with TRUE shingle
    * Jaccard, keeping only pairs ≥ 0.5 — the production MinHash shape
    * (banding for recall, exact verification for precision; banding alone
    * admits false positives by design). Verification cost is bounded by the
    * candidate count, which banding bounds — the full N² never gets exact
    * scoring. Shingle sets join the (small) candidate relation by doc id,
    * so only candidate docs' shingles are compared.
    */
  def minhashVerified(s: SparkSession, d: String): DataFrame = {
    val cand = minhashLsh(s, d)
    val sh = shingleHashesCached(s, d).localCheckpoint()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.toDF("a_id", "sh")
    val b = sh.toDF("b_id", "sh")
    val inter = cand.join(a, "a_id").join(b, Seq("b_id", "sh"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    val ca = cnt.toDF("a_id", "na"); val cb = cnt.toDF("b_id", "nb")
    inter.join(ca, "a_id").join(cb, "b_id")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("a_id"), col("b_id"),
        graft.core.Determinism.r4(col("jaccard")).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** Edit-distance verification of the LSH candidate set — the token-ORDER-
    * sensitive near-dup metric the shingle family cannot express: Jaccard
    * sees bags of shingles, so a paragraph-shuffled copy keeps its score
    * while its edit distance explodes; conversely "dup "-prefixed plants
    * stay near-identical under BOTH. Per pair: Levenshtein distance, the
    * longer length, the relative distance (dist / max_len, 4-dp-floored),
    * and the ≤ [[EditDupMaxRel]] duplicate verdict.
    *
    * Scale shape: the O(len²) DP per pair is the expensive step, so it
    * runs ONLY on the bucket-scoped LSH candidate set (never N²), and
    * full text crosses the network only for candidate docs — two hash
    * joins of the candidate list onto the corpus by id.
    */
  val EditDupMaxRel = 0.25

  def editDistance(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val cand = minhashLsh(s, d).select(col("a_id"), col("b_id"))
    cand.join(c.toDF("a_id", "a_text"), "a_id")
      .join(c.toDF("b_id", "b_text"), "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_text"), col("b_text")).cast("long").as("edit_dist"),
        greatest(length(col("a_text")), length(col("b_text"))).cast("long")
          .as("max_len"))
      .withColumn("rel_edit", graft.core.Determinism.r4(
        col("edit_dist").cast("double") / col("max_len")))
      .withColumn("is_dup", (col("rel_edit") <= EditDupMaxRel).cast("int"))
      .orderBy("a_id", "b_id")
  }

  /** Driver query: the drop-list a dedup pipeline feeds downstream — every
    * doc that lost at least one pairing (appears as the higher id). The
    * richer component resolution is [[resolveKeepMin]] / [[resolve]].
    */
  def dropList(s: SparkSession, d: String): DataFrame =
    minhashLsh(s, d).select(col("b_id").as("drop_id")).distinct()
      .orderBy("drop_id")

  /** Driver query: full connected-component resolution of the minhash pair
    * graph — every paired doc labeled with its component's minimum id
    * (keep-min policy). Oracle: a DuckDB recursive CTE computing the same
    * transitive min-label closure.
    */
  /** The converged keep-min component labels of the minhash pair graph,
    * published through the ArtifactCache: resolve, clusterStats and
    * keepBest each re-ran the full iterative CC otherwise. Ids only.
    */
  private def resolvedLabels(s: SparkSession, d: String): DataFrame =
    graft.core.ArtifactCache.getOrBuild(s, "minhash_cc_labels",
      s"v1 keepmin k=$K bands=$BANDS", Seq(s"$d/documents.parquet")) {
      resolveKeepMin(minhashLsh(s, d))
    }

  def resolve(s: SparkSession, d: String): DataFrame =
    resolvedLabels(s, d).orderBy("id")

  /** Cluster-size histogram of the resolved duplicate components — the
    * report a dedup pass actually ships (how much of the corpus is
    * duplicated, and in how large groups). Two cheap aggregations over the
    * (already converged) label relation.
    */
  /** Soft deduplication (down-weight, don't drop): every corpus doc gets a
    * training weight 1/cluster_size from its resolved near-dup component —
    * duplicated content contributes ONE doc's worth of gradient in total
    * while unique docs keep weight 1.0. The modern alternative to hard
    * removal (repetition hurts, but near-dups often carry complementary
    * spans); pairs with [[Sampling]]'s epoch planning, which consumes
    * exactly this kind of per-doc weight.
    *
    * Cost: the cluster labels are the CACHED [[resolvedLabels]] artifact,
    * so this is one catalog-sized size-agg + two hash joins — the corpus
    * text is never touched.
    */
  def softWeight(s: SparkSession, d: String): DataFrame = {
    val labels = resolvedLabels(s, d)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val mem = labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("n"))
    corpus(s, d).select(col("doc_id"))
      .join(mem, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(1L)).as("cluster_size"),
        graft.core.Determinism.r4(
          lit(1.0) / coalesce(col("n"), lit(1L))).as("weight"))
      .orderBy("doc_id")
  }

  /** The soft-weight oracle's CTE chain up to the per-doc weight relation
    * `doc_w (doc_id, text, cluster_size, weight)` — shared with
    * sample_dedup_budget's oracle (which aggregates the weights against
    * token counts). Callers prepend WITH RECURSIVE (the `walk` CTE).
    * corpusSql is re-declared at the outer level: the copy inside `pairs`
    * is scoped to that subquery.
    */
  private[queries] def softWeightSqlCtes: String = {
    val pairs = minhashLshSqlFor
    s"""$corpusSql,
       pairs AS ($pairs),
       edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                 UNION ALL SELECT b_id, a_id FROM pairs),
       walk(id, label) AS (
         SELECT DISTINCT src, src FROM edges
         UNION
         SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst),
       labels AS (SELECT id, min(label) AS label FROM walk GROUP BY id),
       sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS n
                 FROM labels GROUP BY label),
       mem AS (SELECT l.id AS doc_id, s.n FROM labels l
               JOIN sizes s ON s.label = l.label),
       doc_w AS (SELECT c.doc_id, c.text,
           COALESCE(m.n, CAST(1 AS BIGINT)) AS cluster_size,
           ${graft.core.Determinism.r4Sql(
             "1.0 / COALESCE(m.n, CAST(1 AS BIGINT))")} AS weight
         FROM corpus c LEFT JOIN mem m ON m.doc_id = c.doc_id)"""
  }

  def clusterStats(s: SparkSession, d: String): DataFrame =
    resolvedLabels(s, d)
      .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** SEMANTIC clustering: the same connected-component resolution run over
    * the embedding near-dup graph instead of the lexical MinHash one — the
    * "semantic dedup" pass (SemDeDup-style) that collapses paraphrases and
    * re-encodes sharing no n-grams. Pure composition: LSH-blocked cosine
    * pairs (dedup_embedding) feed the pointer-doubling resolver; every
    * scale property of both pieces carries over unchanged.
    */
  def semanticResolve(s: SparkSession, d: String): DataFrame =
    resolveKeepMin(embeddingDedup(s, d)).orderBy("id")

  /** URL-keyed keep-first dedup — the cheapest web-corpus dedup pass (one
    * crawl of a page per normalized URL survives, regardless of text
    * drift between fetches). URLs are planted deterministically so the
    * normalizer does the real work: even docs carry the canonical form,
    * odd docs the same page behind scheme-case/WWW/query-string/trailing-
    * slash noise; the shared key is doc_id % 111, so ~n/111 docs collapse
    * per URL. Normalization chain ≡ text_urls (lower → strip scheme →
    * strip www. → strip query → strip trailing slash).
    * Scale: shuffles only (normalized-url, doc_id) — one groupBy on the
    * url key, never text; skewed hot URLs are bounded by crawl dedup
    * upstream, and the agg is partial (map-side combine) regardless.
    */
  def urlDedup(s: SparkSession, d: String): DataFrame = {
    val k = col("doc_id")
    val raw = when(k % 2 === 0,
        concat(lit("https://site"), k % 37, lit(".example.com/page/"), k % 111))
      .otherwise(concat(lit("HTTPS://WWW.Site"), k % 37, lit(".Example.com/page/"),
        k % 111, lit("/?utm_source="), k))
    val nurl = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      lower(raw),
      "^https?://", ""), "^www\\.", ""), "\\?.*$", ""), "/$", "")
    documents(s, d).select(k.as("doc_id"), nurl.as("nurl"))
      .groupBy(col("nurl"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .orderBy("nurl")
  }

  /** Policy-grade dedup resolution: within each near-dup component keep the
    * BEST member, not the arbitrary lowest id — here "best" is longest text
    * (most content preserved), doc_id ascending as the tie-break, the usual
    * production keep policy (quality scores slot into the same window).
    * Pure composition: the pointer-doubling component labels join the
    * corpus lengths, and one row_number window per component picks the
    * keeper. Adds exactly one (label)-keyed shuffle on the (tiny) resolved
    * membership relation — the corpus-sized inputs were already reduced by
    * the LSH candidate stage.
    */
  def keepBest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = resolvedLabels(s, d)
    val lens = corpus(s, d)
      .select(col("doc_id").as("id"), length(col("text")).cast("long").as("n_chars"))
    val members = labels.join(lens, "id")
    val w = Window.partitionBy(col("label"))
      .orderBy(col("n_chars").desc, col("id"))
    members.withColumn("rk", row_number().over(w))
      .groupBy(col("label"))
      .agg(max(when(col("rk") === 1, col("id"))).as("keep_id"),
        max(when(col("rk") === 1, col("n_chars"))).as("keep_chars"),
        count(lit(1)).as("n_docs"))
      .orderBy("label")
  }

  // ---- Bloom-filter membership against a banned-content list --------------
  /** Bloom geometry: m bits, k hash probes. At production scale m is sized
    * ~10 bits/key for ~1% FP; the k probe positions per key are md5-derived
    * so both engines compute identical filters.
    */
  val BloomM = 65536L
  val BloomK = 3

  private def bloomPos(h: Column, i: Int): Column =
    md5Long(concat(lit(s"bloom$i:"), h)) % BloomM

  /** Bloom-filter drop-list screening — the constant-space membership
    * primitive for "is this document's content hash on the banned list"
    * when the list is too big to hash-join per batch. The banned set
    * (planted: every doc_id % 7 == 0, keyed by CONTENT hash so renamed
    * copies still match) sets k=3 md5-derived bit positions; every corpus
    * doc probes its own 3 positions and is a bloom member iff all are set.
    * Emits the per-doc probe count plus the exact verdict, making false
    * positives (bloom=1, exact=0) auditable — false NEGATIVES are
    * structurally impossible, which BloomSpec pins.
    *
    * Scale shape: the filter here is a DISTINCT (bit) relation (≤ k·|list|
    * rows, ≤ m distinct) broadcast to the probe side — semantically
    * identical to broadcasting the m/8-byte bitmap a production build
    * would use (`spark.util.sketch.BloomFilter`), but replayable in SQL
    * for the oracle gate. The corpus side is map-side probe generation +
    * one groupBy on doc_id; the corpus text itself never shuffles.
    */
  def bloomFilter(s: SparkSession, d: String): DataFrame = {
    val doc = documents(s, d).select(col("doc_id"), md5Long(col("text")).as("h"))
    val drop = doc.filter(col("doc_id") % 7 === 0)
    val bits = (0 until BloomK).map(i => drop.select(bloomPos(col("h"), i).as("bit")))
      .reduce(_ unionAll _).distinct()
    val probes = doc.select(col("doc_id"),
      explode(array((0 until BloomK).map(i => bloomPos(col("h"), i)): _*)).as("bit"))
    val hits = probes.join(broadcast(bits), Seq("bit"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bits_hit"))
    val dropHashes = drop.select(col("h")).distinct().withColumn("exact", lit(1))
    doc.join(hits, Seq("doc_id"), "left")
      .join(broadcast(dropHashes), Seq("h"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bits_hit"), lit(0L)).as("n_bits_hit"),
        (coalesce(col("n_bits_hit"), lit(0L)) === BloomK).cast("int").as("bloom_member"),
        coalesce(col("exact"), lit(0)).as("exact_member"))
      .orderBy("doc_id")
  }

  /** Production twin of [[bloomFilter]]: identical verdicts, but the filter
    * is a REAL m-bit bitmap — built distributed by the graft_bitmap_build
    * custom aggregate (partials OR-merge; m/8 bytes cross the exchange
    * regardless of list size) and probed by the graft_bitmap_test codegen
    * expression inside the corpus scan's whole-stage loop after a 1-row
    * broadcast. This is the constant-space artifact a 100 TB screening
    * pass ships; the relation-join formulation above exists for SQL-oracle
    * replay, and both run against the SAME DuckDB oracle, so their
    * equivalence is itself oracle-checked every round.
    */
  def bloomFilterBitmap(s: SparkSession, d: String): DataFrame = {
    import graft.plans.{BitmapBuild, BitmapTest}
    val doc = documents(s, d).select(col("doc_id"), md5Long(col("text")).as("h"))
    val drop = doc.filter(col("doc_id") % 7 === 0)
    val bitmap = drop
      .select(explode(array((0 until BloomK).map(i => bloomPos(col("h"), i)): _*)).as("bit"))
      .agg(BitmapBuild.bitmap(col("bit"), BloomM.toInt).as("bmp"))
    val dropHashes = drop.select(col("h")).distinct().withColumn("exact", lit(1))
    doc.crossJoin(broadcast(bitmap))
      .select(col("doc_id"), col("h"),
        (0 until BloomK).map(i =>
          BitmapTest.test(col("bmp"), bloomPos(col("h"), i)).cast("long"))
          .reduce(_ + _).as("n_bits_hit"))
      .join(broadcast(dropHashes), Seq("h"), "left")
      .select(col("doc_id"), col("n_bits_hit"),
        (col("n_bits_hit") === BloomK).cast("int").as("bloom_member"),
        coalesce(col("exact"), lit(0)).as("exact_member"))
      .orderBy("doc_id")
  }

  // ---- winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
  //      algorithm): window-local minima of positional k-gram hashes -------
  /** Winnowing k-gram size (tokens per gram). */
  val WinnowK = 3

  /** Winnowing window: every [[WinnowW]] consecutive gram hashes contribute
    * at least one fingerprint, so any shared run of ≥ WinnowK+WinnowW−1
    * tokens is GUARANTEED to share a fingerprint — the positional coverage
    * guarantee minhash (a global, position-blind sketch) cannot give.
    */
  val WinnowW = 4

  /** Fingerprint document-frequency cap — the [[MaxShingleDf]] pattern: a
    * fingerprint shared by more docs than this is boilerplate and never
    * generates pairs, bounding every bucket's fan-out.
    */
  val WinnowMaxDf = 100

  /** Minimum shared fingerprints for a candidate pair. */
  val WinnowMinShared = 5

  /** Winnowing near-dup candidates: positional k-gram hashes per doc, one
    * fingerprint per sliding window of [[WinnowW]] grams (the window MIN —
    * order-free, so engine-deterministic), distinct fingerprints per doc,
    * then df-capped bucket pair generation with a shared-count floor.
    * Output: (a, b, shared, containment_ppm) where containment is
    * shared/min(|fpA|,|fpB|) in ppm.
    *
    * Scale shapes: text never shuffles — grams are hashed map-side in the
    * scan stage and only (doc_id, pos, 8-byte hash) rows reach the ONE
    * doc_id-keyed exchange the window min needs; pair generation joins
    * hashes-only relations bucket-scoped by fingerprint with df ≤
    * [[WinnowMaxDf]], so candidates — never N² — cross the network. The
    * window min runs in one pass per doc partition (rows-between frame).
    */
  def winnowing(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus(s, d).withColumn("toks", tokens(col("text")))
    val n = size(col("toks")) - (WinnowK - 1)
    val grams = c.select(col("doc_id"),
        posexplode(when(n > 0, transform(sequence(lit(0), n - 1),
            i => concat_ws(" ",
              (0 until WinnowK).map(j => element_at(col("toks"), i + j + 1)): _*)))
          .otherwise(array().cast("array<string>"))))
      .select(col("doc_id"), col("pos"), md5Long(col("col")).as("h"))
    val wMin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, WinnowW - 1)
    val wAll = Window.partitionBy(col("doc_id"))
    // full windows only (pos ≤ ng−W, 0-based); a doc shorter than one
    // window keeps its single truncated window at pos 0
    val fps = grams
      .withColumn("mh", min(col("h")).over(wMin))
      .withColumn("ng", count(lit(1)).over(wAll))
      .filter(col("pos") <= greatest(lit(0), col("ng") - WinnowW))
      .select(col("doc_id"), col("mh")).distinct()
      .localCheckpoint()
    val nfp = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    val keep = fps.groupBy(col("mh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowMaxDf).select(col("mh"))
    val capped = fps.join(keep, Seq("mh"), "left_semi")
    val pairs = capped.select(col("mh"), col("doc_id").as("a"))
      .join(capped.select(col("mh"), col("doc_id").as("b")), "mh")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinnowMinShared)
    pairs
      .join(nfp.select(col("doc_id").as("a"), col("nfp").as("na")), "a")
      .join(nfp.select(col("doc_id").as("b"), col("nfp").as("nb")), "b")
      .select(col("a"), col("b"), col("shared"),
        expr("shared * 1000000 div least(na, nb)").as("containment_ppm"))
      .orderBy("a", "b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_winnowing"     -> (winnowing _),
    "dedup_bloom_bitmap"  -> (bloomFilterBitmap _),
    "dedup_substring_scrub" -> (substringScrub _),
    "dedup_minhash_calibration" -> (minhashCalibration _),
    "dedup_minhash_bbit"  -> (minhashBbit _),
    "dedup_keep_best"     -> (keepBest _),
    "dedup_bloom_filter"  -> (bloomFilter _),
    "dedup_url"           -> (urlDedup _),
    "dedup_cluster_stats" -> (clusterStats _),
    "dedup_drop_list"     -> (dropList _),
    "dedup_minhash_verified" -> (minhashVerified _),
    "dedup_edit_distance" -> (editDistance _),
    "dedup_resolve"       -> (resolve _),
    "dedup_exact"         -> (exact _),
    "dedup_ngram_containment" -> (ngramContainment _),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_minhash_lsh"   -> (minhashLsh _),
    "dedup_simhash"       -> (simhash _),
    "dedup_embedding"     -> (embeddingDedup _),
    "dedup_paragraph"     -> (paragraphReport _),
    "dedup_substring"     -> (substringReport _),
    "dedup_semantic_resolve" -> (semanticResolve _),
    "dedup_incremental"   -> (incremental _),
    "stream_dedup_index"  -> (streamDedupIndex _),
    "dedup_soft_weight"   -> (softWeight _)
  )

  val oracles: Map[String, String] = Map(
    "dedup_winnowing" ->
      s"""WITH $corpusSql,
         grams AS (SELECT doc_id, i AS pos,
             ${md5LongSql("ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]")} AS h
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
                UNNEST(range(1, len(ws) - 1)) AS t(i)),
         wm AS (SELECT doc_id, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS mh,
             count(*) OVER (PARTITION BY doc_id) AS ng
           FROM grams),
         fps AS (SELECT DISTINCT doc_id, mh FROM wm
           WHERE pos <= greatest(1, ng - ${WinnowW - 1})),
         nfp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
           FROM fps GROUP BY doc_id),
         keepfp AS (SELECT mh FROM fps GROUP BY mh
           HAVING count(*) <= $WinnowMaxDf),
         capped AS (SELECT f.doc_id, f.mh FROM fps f
           JOIN keepfp k ON k.mh = f.mh),
         pairs AS (SELECT a.doc_id AS a, b.doc_id AS b,
             CAST(count(*) AS BIGINT) AS shared
           FROM capped a JOIN capped b ON b.mh = a.mh AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared)
         SELECT p.a, p.b, p.shared,
           p.shared * 1000000 // least(na.nfp, nb.nfp) AS containment_ppm
         FROM pairs p
         JOIN nfp na ON na.doc_id = p.a
         JOIN nfp nb ON nb.doc_id = p.b
         ORDER BY a, b""",
    "dedup_keep_best" ->
      s"""WITH RECURSIVE pairs AS ($minhashLshSqlFor),
         $corpusSql,
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                   UNION ALL SELECT b_id, a_id FROM pairs),
         walk(id, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst),
         labels AS (SELECT id, min(label) AS label FROM walk GROUP BY id),
         members AS (SELECT l.id, l.label, CAST(len(c.text) AS BIGINT) AS n_chars
           FROM labels l JOIN corpus c ON c.doc_id = l.id),
         ranked AS (SELECT id, label, n_chars,
             row_number() OVER (PARTITION BY label
                                ORDER BY n_chars DESC, id) AS rk
           FROM members)
         SELECT label,
           max(CASE WHEN rk = 1 THEN id END) AS keep_id,
           max(CASE WHEN rk = 1 THEN n_chars END) AS keep_chars,
           CAST(count(*) AS BIGINT) AS n_docs
         FROM ranked GROUP BY label ORDER BY label""",
    "dedup_minhash_bbit" -> {
      val eqFull = (0 until K)
        .map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      val eqB = (0 until K)
        .map(i => s"CASE WHEN (sa.s$i & $BMask) = (sb.s$i & $BMask) THEN 1 ELSE 0 END")
        .mkString(" + ")
      val cB = 1.0 / (1 << BBits)
      s"""WITH $corpusSql,
         ${bandedSqlCtes("mh", "corpus")},
         pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM mh_banded a JOIN mh_banded b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
         SELECT p.a_id, p.b_id,
           ${graft.core.Determinism.r4Sql(s"CAST($eqFull AS DOUBLE) / $K")}
             AS agree_full,
           ${graft.core.Determinism.r4Sql(s"CAST($eqB AS DOUBLE) / $K")}
             AS agree_b,
           ${graft.core.Determinism.r4Sql(
             s"greatest((CAST($eqB AS DOUBLE) / $K - $cB) / ${1.0 - cB}, 0.0)")}
             AS jhat_b
         FROM pairs p
         JOIN mh_sigs sa ON sa.doc_id = p.a_id
         JOIN mh_sigs sb ON sb.doc_id = p.b_id
         ORDER BY a_id, b_id"""
    },
    "dedup_minhash_calibration" -> {
      val eqSum = (0 until K)
        .map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $corpusSql,
         ${bandedSqlCtes("mh", "corpus")},
         pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM mh_banded a JOIN mh_banded b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         est AS (SELECT p.a_id, p.b_id,
             ${graft.core.Determinism.r4Sql(s"CAST($eqSum AS DOUBLE) / $K")} AS est_sim
           FROM pairs p
           JOIN mh_sigs sa ON sa.doc_id = p.a_id
           JOIN mh_sigs sb ON sb.doc_id = p.b_id),
         shall AS (SELECT DISTINCT doc_id, ${md5LongSql("sh")} AS fh FROM mh_sh0),
         cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shall GROUP BY doc_id),
         inter AS (SELECT p.a_id, p.b_id, CAST(count(*) AS BIGINT) AS i
           FROM pairs p
           JOIN shall a ON a.doc_id = p.a_id
           JOIN shall b ON b.doc_id = p.b_id AND b.fh = a.fh
           GROUP BY p.a_id, p.b_id),
         scored AS (SELECT e.a_id, e.b_id, e.est_sim,
             ${graft.core.Determinism.r4Sql(
               "CAST(COALESCE(i.i, 0) AS DOUBLE) / (ca.n + cb.n - COALESCE(i.i, 0))")}
               AS true_jaccard
           FROM est e
           LEFT JOIN inter i ON i.a_id = e.a_id AND i.b_id = e.b_id
           JOIN cnt ca ON ca.doc_id = e.a_id
           JOIN cnt cb ON cb.doc_id = e.b_id)
         SELECT a_id, b_id, est_sim, true_jaccard,
           ${graft.core.Determinism.r4Sql("abs(est_sim - true_jaccard)")} AS abs_err
         FROM scored ORDER BY a_id, b_id"""
    },
    "dedup_substring_scrub" ->
      s"""WITH $corpusSql,
         toked AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
         wins AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
             ${md5LongSql(s"array_to_string(array_slice(ws, i, i + ${SubN - 1}), ' ')")} AS h
           FROM toked, UNNEST(range(1, len(ws) - ${SubN - 2})) t(i)),
         dups AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
         covered AS (SELECT DISTINCT w.doc_id, w.i - 1 + CAST(u AS INTEGER) AS pos
           FROM wins w JOIN dups USING (h), UNNEST(range(0, $SubN)) t(u)),
         toks AS (SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos,
             unnest(ws) AS tok FROM toked),
         kept AS (SELECT t.doc_id, t.pos, t.tok
           FROM toks t LEFT JOIN covered c
             ON c.doc_id = t.doc_id AND c.pos = t.pos
           WHERE c.pos IS NULL),
         reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean,
             CAST(count(*) AS BIGINT) AS n_kept
           FROM kept GROUP BY doc_id)
         SELECT tk.doc_id, CAST(len(tk.ws) AS BIGINT) AS n_tokens,
           COALESCE(reb.n_kept, 0) AS n_kept,
           md5(COALESCE(reb.clean, '')) AS clean_md5
         FROM toked tk LEFT JOIN reb USING (doc_id) ORDER BY tk.doc_id""",
    // the bitmap-aggregate twin answers the SAME question — one oracle
    // gates both formulations (their equivalence is thereby oracle-checked)
    "dedup_bloom_bitmap" -> {
      def pos(i: Int) = md5LongSql(s"concat('bloom$i:', h)") + s" % $BloomM"
      val bitUnion = (0 until BloomK)
        .map(i => s"SELECT ${pos(i)} AS bit FROM drop_h").mkString(" UNION ALL ")
      val probeUnion = (0 until BloomK)
        .map(i => s"SELECT doc_id, ${pos(i)} AS bit FROM doc").mkString(" UNION ALL ")
      s"""WITH doc AS (SELECT doc_id, ${md5LongSql("text")} AS h FROM documents),
         drop_h AS (SELECT DISTINCT h FROM doc WHERE doc_id % 7 = 0),
         bits AS (SELECT DISTINCT bit FROM ($bitUnion)),
         probes AS ($probeUnion),
         hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb
           FROM probes WHERE bit IN (SELECT bit FROM bits) GROUP BY doc_id)
         SELECT d.doc_id,
           COALESCE(nb, 0) AS n_bits_hit,
           CAST(COALESCE(nb, 0) = $BloomK AS INTEGER) AS bloom_member,
           CAST(d.h IN (SELECT h FROM drop_h) AS INTEGER) AS exact_member
         FROM doc d LEFT JOIN hits ON hits.doc_id = d.doc_id
         ORDER BY d.doc_id"""
    },
    "dedup_bloom_filter" -> {
      def pos(i: Int) = md5LongSql(s"concat('bloom$i:', h)") + s" % $BloomM"
      val bitUnion = (0 until BloomK)
        .map(i => s"SELECT ${pos(i)} AS bit FROM drop_h").mkString(" UNION ALL ")
      val probeUnion = (0 until BloomK)
        .map(i => s"SELECT doc_id, ${pos(i)} AS bit FROM doc").mkString(" UNION ALL ")
      s"""WITH doc AS (SELECT doc_id, ${md5LongSql("text")} AS h FROM documents),
         drop_h AS (SELECT DISTINCT h FROM doc WHERE doc_id % 7 = 0),
         bits AS (SELECT DISTINCT bit FROM ($bitUnion)),
         probes AS ($probeUnion),
         hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb
           FROM probes WHERE bit IN (SELECT bit FROM bits) GROUP BY doc_id)
         SELECT d.doc_id,
           COALESCE(nb, 0) AS n_bits_hit,
           CAST(COALESCE(nb, 0) = $BloomK AS INTEGER) AS bloom_member,
           CAST(d.h IN (SELECT h FROM drop_h) AS INTEGER) AS exact_member
         FROM doc d LEFT JOIN hits ON hits.doc_id = d.doc_id
         ORDER BY d.doc_id"""
    },
    "dedup_url" ->
      """WITH planted AS (SELECT doc_id,
           CASE WHEN doc_id % 2 = 0
             THEN 'https://site' || (doc_id % 37) || '.example.com/page/' || (doc_id % 111)
             ELSE 'HTTPS://WWW.Site' || (doc_id % 37) || '.Example.com/page/'
                  || (doc_id % 111) || '/?utm_source=' || doc_id
           END AS raw
           FROM documents),
         norm AS (SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               lower(raw),
               '^https?://', ''), '^www\.', ''), '\?.*$', ''), '/$', '') AS nurl
           FROM planted)
         SELECT nurl, min(doc_id) AS keep_id, count(*) AS n_docs
         FROM norm GROUP BY nurl ORDER BY nurl""",
    "dedup_paragraph" -> paragraphSqlFor,
    "dedup_substring" -> substringSqlFor,
    "dedup_incremental" -> incrementalSqlFor,
    "stream_dedup_index" -> streamDedupIndexSqlFor,
    "dedup_drop_list" -> {
      // the minhash pair query, reduced to its distinct higher ids
      val pairs = minhashLshSqlFor
      s"""SELECT DISTINCT b_id AS drop_id FROM ($pairs) ORDER BY drop_id"""
    },
    "dedup_cluster_stats" -> {
      val pairs = minhashLshSqlFor
      s"""WITH RECURSIVE pairs AS ($pairs),
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                   UNION ALL SELECT b_id, a_id FROM pairs),
         walk(id, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst),
         labels AS (SELECT id, min(label) AS label FROM walk GROUP BY id),
         sizes AS (SELECT label, count(*) AS cluster_size FROM labels GROUP BY 1)
         SELECT cluster_size, count(*) AS n_clusters
         FROM sizes GROUP BY 1 ORDER BY 1"""
    },
    "dedup_edit_distance" -> {
      val rel = graft.core.Determinism.r4Sql("CAST(edit_dist AS DOUBLE) / max_len")
      s"""WITH cand AS ($minhashLshSqlFor),
         $corpusSql,
         j AS (SELECT c.a_id, c.b_id,
             CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
             CAST(greatest(length(a.text), length(b.text)) AS BIGINT) AS max_len
           FROM cand c
           JOIN corpus a ON a.doc_id = c.a_id
           JOIN corpus b ON b.doc_id = c.b_id)
         SELECT a_id, b_id, edit_dist, max_len, $rel AS rel_edit,
           CAST($rel <= $EditDupMaxRel AS INTEGER) AS is_dup
         FROM j ORDER BY a_id, b_id"""
    },
    "dedup_minhash_verified" -> {
      val pairs = minhashLshSqlFor
      s"""WITH cand AS ($pairs),
         $corpusSql,
         sh0 AS (${shinglesSql(3, "doc_id", "text", "corpus")}),
         sh AS (SELECT doc_id, ${md5LongSql("sh")} AS sh FROM sh0),
         cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (SELECT c.a_id, c.b_id, count(*) AS inter
                   FROM cand c
                   JOIN sh a ON a.doc_id = c.a_id
                   JOIN sh b ON b.doc_id = c.b_id AND b.sh = a.sh
                   GROUP BY 1, 2)
         SELECT a_id, b_id,
           ${graft.core.Determinism.r4Sql("CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter)")} AS jaccard
         FROM inter
         JOIN cnt ca ON ca.doc_id = a_id
         JOIN cnt cb ON cb.doc_id = b_id
         WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5
         ORDER BY a_id, b_id"""
    },
    "dedup_semantic_resolve" -> {
      val pairs = embeddingDedupSql
      s"""WITH RECURSIVE pairs AS ($pairs),
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                   UNION ALL SELECT b_id, a_id FROM pairs),
         walk(id, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst)
         SELECT id, min(label) AS label FROM walk GROUP BY id ORDER BY id"""
    },
    "dedup_resolve" -> {
      val pairs = minhashLshSqlFor
      s"""WITH RECURSIVE pairs AS ($pairs),
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                   UNION ALL SELECT b_id, a_id FROM pairs),
         walk(id, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst)
         SELECT id, min(label) AS label FROM walk GROUP BY id ORDER BY id"""
    },
    "dedup_soft_weight" ->
      s"""WITH RECURSIVE $softWeightSqlCtes
         SELECT doc_id, cluster_size, weight FROM doc_w ORDER BY doc_id""",
    "dedup_exact" ->
      s"""WITH $corpusSql
         SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         FROM corpus GROUP BY ${md5LongSql("text")} ORDER BY keep_id""",
    "dedup_ngram_jaccard" ->
      s"""WITH $corpusSql,
         sh0 AS (${shinglesSql(3, "doc_id", "text", "corpus")}),
         shall AS (SELECT doc_id, ${md5LongSql("sh")} AS sh FROM sh0),
         keepsh AS (SELECT sh FROM shall
                    GROUP BY sh HAVING count(DISTINCT doc_id) <= $MaxShingleDf),
         sh AS (SELECT s.doc_id, s.sh FROM shall s JOIN keepsh USING (sh)),
         cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
                   FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT a_id, b_id,
           ${graft.core.Determinism.r4Sql("CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter)")} AS jaccard
         FROM inter
         JOIN cnt ca ON ca.doc_id = a_id
         JOIN cnt cb ON cb.doc_id = b_id
         WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5
         ORDER BY a_id, b_id""",
    "dedup_ngram_containment" ->
      s"""WITH $corpusSql,
         sh0 AS (${shinglesSql(3, "doc_id", "text", "corpus")}),
         shall AS (SELECT doc_id, ${md5LongSql("sh")} AS sh FROM sh0),
         keepsh AS (SELECT sh FROM shall
                    GROUP BY sh HAVING count(DISTINCT doc_id) <= $MaxShingleDf),
         sh AS (SELECT s.doc_id, s.sh FROM shall s JOIN keepsh USING (sh)),
         cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
                   FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT a_id, b_id,
           ${graft.core.Determinism.r4Sql("CAST(inter AS DOUBLE) / least(ca.n_sh, cb.n_sh)")} AS containment
         FROM inter
         JOIN cnt ca ON ca.doc_id = a_id
         JOIN cnt cb ON cb.doc_id = b_id
         WHERE CAST(inter AS DOUBLE) / least(ca.n_sh, cb.n_sh) >= 0.8
         ORDER BY a_id, b_id""",
    "dedup_minhash_lsh" -> minhashLshSqlFor,
    "dedup_simhash"     -> simhashSqlFor,
    "dedup_embedding"   -> embeddingDedupSql
  )
}
