package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.Dedup
import graft.functions.HashFunctions._

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf
  import spark.implicits._

  test("shingles: distinct word 3-grams in order") {
    val out = spark.sql("SELECT 1").select(shingles(lit("a b a b a b"), 3))
      .as[Seq[String]].head()
    assert(out == Seq("a b a", "b a b"))
  }

  test("shingles: docs shorter than n yield an empty set, not a crash") {
    // regression: sequence(0,-1) counts DOWN and element_at(_,0) throws
    for (txt <- Seq("", "one", "one two")) {
      val out = spark.sql("SELECT 1").select(shingles(lit(txt), 3))
        .as[Seq[String]].head()
      assert(out.isEmpty, s"'$txt' should have no 3-grams")
    }
    assert(spark.sql("SELECT 1").select(shingles(lit("a b c"), 3))
      .as[Seq[String]].head() == Seq("a b c"))
  }

  test("md5Long is stable and 60-bit positive") {
    val h = spark.range(1).select(md5Long(lit("a"))).as[Long].head()
    assert(h == 57446577476672362L) // cross-checked against DuckDB
    val hs = spark.range(100)
      .select(md5Long(concat(lit("x"), col("id"))).as("h"))
      .as[Long].collect()
    assert(hs.forall(v => v >= 0 && v < (1L << 60)))
  }

  test("exact dedup: every planted copy collapses to its original") {
    val rows = Dedup.queries("dedup_exact")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val dups = rows.filter(_._2 > 1)
    assert(dups.nonEmpty && dups.forall { case (id, n) => id % 5 == 0 && n == 2 })
    // kept id is the lowest of each group: originals for exact-dup groups;
    // the "dup "-prefixed texts are their own (singleton) groups at id+2M.
    assert(rows.forall(r => r._1 < Dedup.ExactOffset || r._1 >= Dedup.NearOffset))
  }

  test("ngram jaccard finds all planted near-dup pairs with high score") {
    val pairs = Dedup.queries("dedup_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nearPlanted = pairs.filter { case (a, b, _) => b == a + Dedup.NearOffset }
    // shortest docs (~10 words) give 8/9 ≈ 0.889; everything else ≥0.9
    assert(nearPlanted.nonEmpty && nearPlanted.forall(_._3 > 0.8))
    val exactPlanted = pairs.filter { case (a, b, _) =>
      a < Dedup.ExactOffset && b == a + Dedup.ExactOffset }
    assert(exactPlanted.forall(_._3 == 1.0))
  }

  test("minhash LSH recalls every exact-dup pair (identical signatures)") {
    val found = Dedup.queries("dedup_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedExact = graft.core.Tables.documents(spark, sf)
      .filter(col("doc_id") % 5 === 0).select("doc_id").as[Long].collect()
      .map(id => (id, id + Dedup.ExactOffset)).toSet
    assert(expectedExact.subsetOf(found))
  }

  test("simhash: exact dups have hamming 0; all pairs within threshold") {
    val rows = Dedup.queries("dedup_simhash")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exactPlanted = rows.filter { case (a, b, _) =>
      a < Dedup.ExactOffset && b == a + Dedup.ExactOffset }
    assert(exactPlanted.nonEmpty && exactPlanted.forall(_._3 == 0))
    assert(rows.forall(_._3 <= 3))
  }

  test("embedding dedup finds exactly the planted scaled copies") {
    val rows = Dedup.queries("dedup_embedding")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (a, b, c) => b == a + Dedup.ExactOffset && a % 10 == 0 && c >= 0.999 })
  }

  test("resolveKeepMin: chain components collapse to the min id") {
    // 9-node chain (needs >3 propagation hops — the fixed-point loop must
    // keep going until labels stop moving) plus isolated pair 100-101
    val chain = (1L until 9L).map(i => (i, i + 1))
    val pairs = (chain :+ (100L, 101L)).toDF("a_id", "b_id")
    val (resolved, jobs) = TestSpark.jobsDuring(Dedup.resolveKeepMin(pairs))
    val labels = resolved.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the convergence sum rides each pass's checkpoint job: no separate
    // aggregate per pass
    assert(jobs == 18, s"resolveKeepMin ran $jobs Spark jobs")
    val expected = (1L to 9L).map(_ -> 1L).toMap ++ Map(100L -> 100L, 101L -> 100L)
    assert(labels == expected)
  }

  test("drop list contains exactly the planted duplicate ids from minhash") {
    val drops = Dedup.queries("dedup_drop_list")(spark, sf)
      .as[Long].collect().toSet
    // every planted exact copy (id+1M) must be dropped
    val planted = graft.core.Tables.documents(spark, sf)
      .filter(col("doc_id") % 5 === 0).select("doc_id").as[Long].collect()
      .map(_ + Dedup.ExactOffset).toSet
    assert(planted.subsetOf(drops))
    // LSH banding also yields false-positive candidate pairs between
    // originals (by design — the verify stage downstream filters them), so
    // some original-range drop ids are expected; all planted copies must be there.
  }

  test("soft weight: weight is 1/cluster_size, planted copies clustered, singletons full") {
    val rows = graft.queries.Dedup.queries("dedup_soft_weight")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    // weight is exactly the 4-dp-floored reciprocal of the cluster size
    for ((_, n, w) <- rows)
      assert(w == math.floor(10000.0 / n + 0.5) / 10000.0, s"n=$n w=$w")
    // every planted exact copy (doc_id + 1e12 of doc_id % 5 == 0) resolved
    // into a cluster, so its weight is strictly below 1
    val planted = rows.filter(_._1 >= 1000000000000L)
    assert(planted.nonEmpty && planted.forall(_._2 >= 2))
    // unique docs exist and keep full weight
    val singles = rows.filter(_._2 == 1)
    assert(singles.nonEmpty && singles.forall(_._3 == 1.0))
  }

  test("minhash verify: verified pairs are a subset of candidates with true jaccard") {
    val cand = Dedup.queries("dedup_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.queries("dedup_minhash_verified")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(verified.nonEmpty)
    // precision stage: every surviving pair was a candidate and scores >= τ
    assert(verified.forall { case (a, b, _) => cand.contains((a, b)) })
    assert(verified.forall(_._3 >= 0.5))
    // every planted exact copy still survives with jaccard 1.0 (a must be an
    // original id — exact-copy/near-copy pairs also differ by ExactOffset)
    val exact = verified.filter { case (a, b, _) =>
      a < Dedup.ExactOffset && b == a + Dedup.ExactOffset }
    assert(exact.nonEmpty && exact.forall(_._3 == 1.0))
    // banding admits false positives by design; the corpus must be large
    // enough to contain some before the verify stage visibly filters — at
    // sf0.1 it does (sf0.001/sf0.01 happen to band cleanly)
    val d1 = "/root/testdata/sf0.1"
    val cand1 = Dedup.queries("dedup_minhash_lsh")(spark, d1).count()
    val ver1 = Dedup.queries("dedup_minhash_verified")(spark, d1).count()
    assert(ver1 < cand1,
      s"expected verification to drop candidates at sf0.1: $ver1 vs $cand1")
  }

  test("edit distance: exact plants read 0, near-dup plants pass, verdict splits") {
    val rows = graft.queries.Dedup.queries("dedup_edit_distance")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(5)))
    val exactOff = graft.queries.Dedup.ExactOffset
    val nearOff = graft.queries.Dedup.NearOffset
    // planted exact copies (base, base+ExactOffset): Levenshtein 0, is_dup.
    // a must be a BASE id — (src+ExactOffset, src+NearOffset) pairs also
    // differ by exactly 1e12 but are prefix near-dups, not exact copies
    val exactPairs = rows.filter { case (a, b, _, _) => a < exactOff && b == a + exactOff }
    assert(exactPairs.nonEmpty && exactPairs.forall(p => p._3 == 0L && p._4 == 1))
    // planted "dup "-prefix near-dups: distance exactly 4, is_dup
    val nearPairs = rows.filter { case (a, b, _, _) => a < exactOff && b == a + nearOff }
    assert(nearPairs.nonEmpty && nearPairs.forall(p => p._3 == 4L && p._4 == 1))
    // every pair got a sane measurement (no negative distances, distance
    // never exceeds the longer text). NOTE: no "some pair is not a dup"
    // claim — at sf0.001 the 31-word-vocabulary fixture makes every LSH
    // candidate a genuine edit-dup (at sf0.01+ the verdict splits; the
    // sf0.01 oracle run shows both classes)
    assert(rows.forall { case (_, _, dist, flag) =>
      dist >= 0L && (flag == 0 || flag == 1) })
  }

  test("paragraph report: exact copies fully duplicated, shifted docs invisible") {
    val rows = Dedup.queries("dedup_paragraph")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toMap
    val exactIds = rows.keys.filter(id =>
      id >= Dedup.ExactOffset && id < Dedup.NearOffset)
    assert(exactIds.nonEmpty)
    for (id <- exactIds) {
      val (n, dup, frac, fl) = rows(id)
      assert(dup == n && frac == 1.0 && fl == 1, s"copy $id not fully dup")
      assert(rows(id - Dedup.ExactOffset)._4 == 1, s"base of $id not flagged")
    }
    // the "dup "-prefix shifts every token by one: FULL windows never align
    // (the documented blind spot the shingle family covers). Short tail
    // chunks (1-2 tokens of a ~30-word vocab) can still collide across
    // docs, so tiny 2-chunk docs may trip the 50% flag — but a near-dup is
    // never FULLY duplicated, and no multi-chunk near-dup gets flagged.
    val nearIds = rows.keys.filter(_ >= Dedup.NearOffset)
    assert(nearIds.nonEmpty)
    assert(nearIds.forall(id => rows(id)._2 < rows(id)._1),
      "a shifted doc reported fully duplicated")
    assert(nearIds.filter(id => rows(id)._1 > 2).forall(id => rows(id)._4 == 0),
      "a multi-chunk shifted doc was flagged")
    // the corpus carries natural near-dup pairs sharing long word spans
    // (e.g. two docs with 7 of 8 identical 12-token windows at sf0.001) —
    // the report must surface those too, not only the planted copies
    val naturalFlagged = rows.keys.filter(id =>
      id < Dedup.ExactOffset && id % 5 != 0 && rows(id)._1 > 2 && rows(id)._4 == 1)
    assert(naturalFlagged.nonEmpty,
      "no naturally-duplicated doc surfaced — report too weak")
  }

  test("incremental: re-arrived docs match their original, reversed docs are novel") {
    val rows = Dedup.queries("dedup_incremental")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val (again, novel) = rows.partition(r => (r._1 - Dedup.NewOffset) % 4 == 0)
    assert(again.nonEmpty && novel.nonEmpty)
    // verbatim re-arrivals: identical text => identical signature => same
    // buckets; min matched id is the original (or a smaller exact dup of it)
    assert(again.forall { case (id, m, mid) =>
      m == 1 && mid <= id - Dedup.NewOffset })
    assert(again.exists { case (id, _, mid) => mid == id - Dedup.NewOffset })
    // word-reversal destroys every 3-gram: novel docs overwhelmingly miss
    val novelMatched = novel.count(_._2 == 1)
    assert(novelMatched.toDouble / novel.size < 0.1,
      s"$novelMatched of ${novel.size} reversed docs matched the index")
  }

  test("df-cap drops boilerplate shingles, keeps informative ones") {
    // shingle 999 is "boilerplate": present in 6 docs (> cap 5); shingle 1
    // is informative (2 docs). After the cap the boilerplate bucket must be
    // gone entirely — the property that bounds candidate pairs at C(cap,2).
    val sh = ((1L to 6L).map(d => (d, 999L)) ++ Seq((1L, 1L), (2L, 1L)))
      .toDF("doc_id", "sh")
    val kept = Dedup.dfCapShingles(sh, cap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set((1L, 1L), (2L, 1L)))
    // at cap >= 6 nothing is dropped
    assert(Dedup.dfCapShingles(sh, cap = 6).count() == 8)
  }

  test("url dedup: normalizer collapses scheme/www/query/slash variants") {
    val rows = Dedup.queries("dedup_url")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the planted key is doc_id % 111 → exactly 111 canonical URLs
    assert(rows.length == 111)
    // normalized form carries no scheme, www, query, or trailing slash
    assert(rows.forall { case (u, _, _) =>
      !u.contains("://") && !u.startsWith("www.") && !u.contains("?") &&
        !u.endsWith("/") && u == u.toLowerCase })
    // every doc lands in exactly one group
    val total = graft.core.Tables.documents(spark, sf).count()
    assert(rows.map(_._3).sum == total)
    // keep-first: the survivor is the smallest doc_id of its group, and
    // groups mix both planted variants (even: canonical, odd: noisy), so
    // the collapse is the normalizer's doing, not string equality
    assert(rows.forall { case (_, keep, n) => n >= 1 && keep >= 0 })
    assert(rows.exists(_._3 >= 2))
  }

  test("semantic resolve: scaled-copy vectors collapse into their original's cluster") {
    val labels = Dedup.queries("dedup_semantic_resolve")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.nonEmpty)
    // labels are cluster minima: label(x) <= x and label is itself in the map
    assert(labels.forall { case (id, l) => l <= id && labels(l) == l })
    // the planted scaled copies (vec_id % 10 == 0, +ExactOffset) are
    // cosine-1 to their originals: both ends must share a label
    val planted = labels.keySet.filter(_ >= Dedup.ExactOffset)
    assert(planted.nonEmpty)
    for (p <- planted; orig = p - Dedup.ExactOffset if labels.contains(orig))
      assert(labels(p) == labels(orig), s"copy $p split from $orig")
  }

  test("substring windows catch the shifted near-dups fixed chunks miss") {
    def byId(name: String) = Dedup.queries(name)(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val para = byId("dedup_paragraph")
    val sub = byId("dedup_substring")
    val nearIds = sub.keySet.filter(_ >= Dedup.NearOffset)
    assert(nearIds.nonEmpty)
    // every original 10-gram survives verbatim inside its near-dup, so the
    // sliding report flags every single one...
    for (id <- nearIds)
      assert(sub(id) >= 0.5, s"substring missed near-dup $id (${sub(id)})")
    // ...while the "dup "-prefix shifts every token so fixed windows only
    // match by boundary coincidence (short tail chunks like a trailing
    // one-token "a" DO collide — that noise is exactly why the sliding
    // variant exists). The separation holds in aggregate:
    val paraMean = nearIds.toSeq.map(para).sum / nearIds.size
    val subMean = nearIds.toSeq.map(sub).sum / nearIds.size
    assert(paraMean < 0.1 && subMean > 0.8,
      s"separation collapsed: para=$paraMean sub=$subMean")
    val paraFlagged = nearIds.count(id => para(id) >= 0.5)
    assert(paraFlagged <= nearIds.size / 5,
      s"fixed windows flagged $paraFlagged of ${nearIds.size} shifted near-dups")
    // exact copies are fully duplicated under both reports
    val exactIds = sub.keySet.filter(k => k >= Dedup.ExactOffset && k < Dedup.NearOffset)
    assert(exactIds.nonEmpty)
    assert(exactIds.forall(id => sub(id) == 1.0 && para(id) == 1.0))
  }

  test("dedup shuffles hashes/buckets, never full text (plan check)") {
    val plan = Dedup.queries("dedup_exact")(spark, sf)
      .queryExecution.optimizedPlan.toString
    // the aggregate key is the 60-bit hash; text is pruned before exchange
    assert(plan.contains("conv"), plan.take(1500))
  }
  test("bloom filter: zero false negatives; planted list fully flagged") {
    val rows = graft.queries.Dedup.queries("dedup_bloom_filter")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(rows.nonEmpty)
    // a Bloom filter can never miss a true member
    assert(rows.forall { case (_, _, bloom, exact) => exact == 0 || bloom == 1 })
    // every planted banned doc is an exact member
    assert(rows.filter(_._1 % 7 == 0).forall(_._4 == 1))
    // probe counts are within [0, k]
    assert(rows.forall { case (_, nb, _, _) => nb >= 0 && nb <= graft.queries.Dedup.BloomK })
    // members hit exactly k bits
    assert(rows.forall { case (_, nb, bloom, _) => (bloom == 1) == (nb == graft.queries.Dedup.BloomK) })
  }
  test("keep best: longest member wins, ties fall back to lowest id") {
    val rows = graft.queries.Dedup.queries("dedup_keep_best")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // label is the component minimum, so the keeper can never be below it
    assert(rows.forall { case (label, keep, _, _) => keep >= label })
    // every cluster that resolve produces has >= 2 members
    assert(rows.forall(_._4 >= 2))
    // exact-copy pairs tie on length -> lowest id keeps; near-dup pairs
    // ("dup " prefix, 4 chars longer) -> the planted copy keeps. Both
    // policies must be exercised by the fixture.
    val near = graft.queries.Dedup.NearOffset
    assert(rows.exists { case (label, keep, _, n) => n == 2 && keep == label })
    assert(rows.exists { case (label, keep, _, n) => n == 2 && keep == label + near })
    // keeper length is the cluster max -> strictly positive
    assert(rows.forall(_._3 > 0))
  }
  test("substring scrub: planted exact copies are fully cut; clean docs intact") {
    val rows = graft.queries.Dedup.queries("dedup_substring_scrub")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, n, kept, _) => kept >= 0 && kept <= n })
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.emptyByteArray).map("%02x".format(_)).mkString
    val byId = rows.map(r => r._1 -> r).toMap
    val exact = graft.queries.Dedup.ExactOffset
    for ((id, n, kept, md5) <- rows if id >= exact && id < graft.queries.Dedup.NearOffset) {
      // a planted exact copy duplicates EVERY window with its original:
      // docs longer than one window lose everything
      if (n >= graft.queries.Dedup.SubN) {
        assert(kept == 0, s"copy $id kept $kept of $n")
        assert(md5 == emptyMd5)
        // and the original is equally scrubbed
        val orig = byId(id - exact)
        assert(orig._3 == 0, s"original ${id - exact} kept ${orig._3}")
      }
    }
    // docs with no duplicated window keep every token (md5 differs from empty)
    assert(rows.exists { case (id, n, kept, _) => kept == n && n > 0 })
  }
  test("minhash calibration: estimator is unbiased-ish and errors bounded") {
    val rows = graft.queries.Dedup.queries("dedup_minhash_calibration")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, _, e, t, _) =>
      e >= 0 && e <= 1 && t >= 0 && t <= 1 })
    // planted exact copies must score 1.0 on BOTH estimator and truth
    // originals paired with THEIR verbatim copy (a < offset keeps out the
    // exact-copy-vs-near-copy pairs whose ids also differ by ExactOffset)
    val exact = rows.filter(r => r._1 < graft.queries.Dedup.ExactOffset
      && r._2 == r._1 + graft.queries.Dedup.ExactOffset)
    assert(exact.nonEmpty)
    assert(exact.forall(r => r._3 == 1.0 && r._4 == 1.0 && r._5 == 0.0))
    // the K=12 estimator quantizes to 1/12 steps: mean |err| over real
    // candidates stays under two slots' width
    val meanErr = rows.map(_._5).sum / rows.length
    assert(meanErr < 2.0 / 12.0, s"mean abs err $meanErr")
  }

  test("winnowing: planted exact copies at full containment; prefix near-dups recalled") {
    import graft.queries.Dedup
    val rows = Dedup.queries("dedup_winnowing")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val pairSet = rows.map(r => (r._1, r._2)).toSet
    // exact copies (id, id+ExactOffset) share every fingerprint →
    // containment exactly 1.0 for every recalled pair
    val exact = rows.filter(r => r._1 < Dedup.ExactOffset
      && r._2 == r._1 + Dedup.ExactOffset)
    assert(exact.nonEmpty)
    assert(exact.forall(_._4 == 1000000L), "exact copies must contain fully")
    // the positional coverage guarantee: a "dup "-prefixed copy shares the
    // whole suffix, so near-dup pairs (id, id+NearOffset) are recalled for
    // the overwhelming majority of planted docs (short docs below the
    // fingerprint floor may drop out)
    val nearPlanted = rows.filter(r => r._1 < Dedup.ExactOffset).map(_._1)
      .distinct.count(id => pairSet.contains((id, id + Dedup.NearOffset)))
    val nearTotal = graft.core.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 0).count()
    assert(nearPlanted >= nearTotal * 8 / 10,
      s"winnowing recalled $nearPlanted of $nearTotal planted near-dups")
  }

  test("winnowing guarantee on a fixture: any shared run of K+W-1 tokens shares a fingerprint") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.HashFunctions._
    import org.apache.spark.sql.expressions.Window
    // two docs: disjoint prefixes, then an identical 6-token run
    // (= WinnowK + WinnowW - 1 = 6): winnowing MUST fingerprint inside it
    val run = "alpha beta gamma delta epsilon zeta"
    val docs = Seq((1L, s"one two three four five $run"),
      (2L, s"six seven eight nine ten eleven twelve $run")).toDF("doc_id", "text")
    val c = docs.withColumn("toks", tokens(col("text")))
    val n = size(col("toks")) - (graft.queries.Dedup.WinnowK - 1)
    val grams = c.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), n - 1),
          i => concat_ws(" ", element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2), element_at(col("toks"), i + 3)))))
      .select(col("doc_id"), col("pos"), md5Long(col("col")).as("h"))
    val wMin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, graft.queries.Dedup.WinnowW - 1)
    val wAll = Window.partitionBy(col("doc_id"))
    val fps = grams.withColumn("mh", min(col("h")).over(wMin))
      .withColumn("ng", count(lit(1)).over(wAll))
      .filter(col("pos") <= greatest(lit(0), col("ng") - graft.queries.Dedup.WinnowW))
      .select(col("doc_id"), col("mh")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val f1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._2).toSet
    assert((f1 & f2).nonEmpty, "shared K+W-1 run must share a fingerprint")
  }

  test("b-bit minhash: truncation only adds agreement; debias clamps at 0") {
    val rows = graft.queries.Dedup.minhashBbit(spark, sf).collect()
    assert(rows.nonEmpty, "LSH fixture must yield candidate pairs")
    for (r <- rows) {
      val (full, b, jhat) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      // dropping bits can only turn disagreements into (accidental)
      // agreements, never the reverse
      assert(b >= full, s"agree_b $b < agree_full $full")
      assert(jhat >= 0.0 && jhat <= 1.0)
      // a fully-agreeing signature stays fully-agreeing after truncation
      if (full == 1.0) assert(b == 1.0 && jhat == 1.0)
    }
  }
}
