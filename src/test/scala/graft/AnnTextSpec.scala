package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Ann, Text}

class AnnTextSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("text_bpe_train matches a driver-side sequential greedy BPE on the same vocab") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lower
    val rows = Text.queries("text_bpe_train")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == (1 to Text.BpeMerges))
    assert(rows.forall(r => r._4 == r._2 + r._3 && r._4.length >= 2))
    // max pair mass is non-increasing: a merge's offspring pairs inherit at
    // most its occurrence count, existing pairs only lose mass
    val cs = rows.sortBy(_._1).map(_._5)
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    // ground truth: the textbook SEQUENTIAL left-to-right greedy loop over
    // the identical (freq desc, word)-capped vocabulary
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(lower($"text").as("t")).as[String].collect()
    val freq = docs.flatMap("[a-z]+".r.findAllIn(_)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    var seqs: Seq[(Vector[String], Long)] = freq.toSeq
      .sortBy { case (w, f) => (-f, w) }.take(Text.BpeVocab)
      .map { case (w, f) => (w.map(_.toString).toVector, f) }
    for (step <- 1 to Text.BpeMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((ss, f) <- seqs; i <- 0 until ss.length - 1)
        counts((ss(i), ss(i + 1))) = counts.getOrElse((ss(i), ss(i + 1)), 0L) + f
      val ((l, r), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      val got = rows.find(_._1 == step).get
      assert((got._2, got._3, got._5) == (l, r, c), s"merge step $step")
      seqs = seqs.map { case (ss, f) =>
        val buf = Vector.newBuilder[String]; var i = 0
        while (i < ss.length) {
          if (i < ss.length - 1 && ss(i) == l && ss(i + 1) == r) { buf += (l + r); i += 2 }
          else { buf += ss(i); i += 1 }
        }
        (buf.result(), f)
      }
    }
    // train->apply closure: per-doc encode counts match the final seqs
    val tokOf = seqs.map { case (ss, _) => (ss.mkString, ss.length.toLong) }.toMap
    val enc = Text.queries("text_bpe_encode")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(enc.nonEmpty)
    // a token is at least a char and at most a word
    for ((doc, (nw, nt, nc)) <- enc)
      assert(nw <= nt && nt <= nc, s"doc $doc: $nw <= $nt <= $nc")
    // exact: recompute ONE doc's encode from the ground-truth seqs
    import org.apache.spark.sql.functions.{col => c}
    val d0 = spark.read.parquet(s"$sf/documents.parquet")
      .select(c("doc_id"), lower(c("text")).as("t"))
      .as[(Long, String)].collect().toMap
    for ((doc, (nw, nt, nc)) <- enc.take(10)) {
      val ws = "[a-z]+".r.findAllIn(d0(doc)).toSeq
      assert(nw == ws.length)
      assert(nc == ws.map(_.length).sum)
      assert(nt == ws.map(w => tokOf.getOrElse(w, w.length.toLong)).sum)
    }
  }

  test("ann_bruteforce: exactly top-5 per probe, ranked by cosine desc") {
    val rows = Ann.queries("ann_bruteforce")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val byProbe = rows.groupBy(_._1)
    assert(byProbe.nonEmpty)
    val panel = Ann.probePanelIds(spark, sf).toSet
    assert(byProbe.keySet == panel)
    for ((_, rs) <- byProbe) {
      assert(rs.map(_._2).sorted.sameElements(1 to rs.length))
      assert(rs.length == 5)
      val cs = rs.sortBy(_._2).map(_._4)
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y }, "cos not descending")
      assert(cs.forall(c => c >= -1.0001 && c <= 1.0001))
    }
  }

  test("ann_lsh: candidates only, never better than brute-force top-1") {
    val bf = Ann.queries("ann_bruteforce")(spark, sf).collect()
      .filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val lsh = Ann.queries("ann_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
    assert(lsh.forall { case (p, _, c) => c <= bf(p) + 1e-9 })
    assert(lsh.forall(_._2 <= 3))
  }

  test("ann_ivf: cell-scoped candidates, never beats brute-force top-1") {
    val bf = Ann.queries("ann_bruteforce")(spark, sf).collect()
      .filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val ivf = Ann.queries("ann_ivf")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(ivf.nonEmpty)
    assert(ivf.forall { case (p, _, _, c) => c <= bf(p) + 1e-9 })
    assert(ivf.forall(_._2 <= 3))
    // cell scoping: every returned neighbor must live in one of its
    // probe's probed cells (a full-corpus scan would violate this)
    val (assignment, probeCells) = Ann.ivfCells(spark, sf)
    val cellOf = assignment.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probed = probeCells.collect().groupBy(_.getLong(0))
      .map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    assert(ivf.forall { case (p, _, n, _) => probed(p).contains(cellOf(n)) })
  }

  test("ann_lsh multiprobe: strictly better recall than single-probe") {
    // hamming-1 multiprobe must recover at least every single-probe match
    // (own bucket is always probed) and strictly more overall — measured at
    // sf0.01, where bucket boundaries actually split neighbors (at sf0.001
    // the corpus is too small for boundary cases to be guaranteed)
    val d = "/root/testdata/sf0.01"
    def matches(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val single = matches(Ann.recallEvalSingleProbe(spark, d))
    val multi  = matches(Ann.recallEval(spark, d))
    assert(single.keySet == multi.keySet)
    assert(single.keySet.forall(p => multi(p) >= single(p)),
      "multiprobe lost a single-probe match")
    assert(multi.values.sum > single.values.sum,
      s"recall did not strictly improve: ${single.values.sum} -> ${multi.values.sum}")
  }

  test("ann_pq: ADC scores approximate exact inner products with useful recall") {
    // ground truth: exact inner-product top-3 per probe, computed
    // driver-side from the raw vectors (PQ approximates MIPS, so the gate
    // is against exact dot — not cosine — ground truth)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val probes = Ann.probePanelIds(spark, sf)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(i => a(i) * b(i)).sum
    val truth = probes.map { p =>
      p -> vecs.toSeq.filter(_._1 != p)
        .map { case (id, v) => (id, dot(vecs(p), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSet
    }.toMap
    val got = Ann.queries("ann_pq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val byProbe = got.groupBy(_._1)
    assert(byProbe.keySet == probes.toSet)
    assert(got.forall(_._2 >= 0)) // every probe produced ranked neighbors
    // quantization only has to land true neighbors in the ADC shortlist —
    // the exact rerank then orders them correctly. The gate: well above
    // random (random top-3-of-500 recall is ~0.6%)
    val hits = byProbe.map { case (p, rs) =>
      rs.map(_._2).count(truth(p).contains) }.sum
    val recall = hits.toDouble / (probes.size * 3)
    assert(recall >= 0.3, s"PQ+rerank recall@3 too low: $recall")
    // reranked scores ARE exact dots (4-dp rounded)
    for ((p, n, score) <- got) {
      val exact = dot(vecs(p), vecs(n))
      assert(math.abs(score - exact) < 1e-3,
        s"probe $p neighbor $n reranked=$score exact=$exact")
    }
  }

  test("ann panels are corpus-size-independent (same count at sf0.001 and sf0.1)") {
    // the 100 TB premise: probe set and IVF codebook are CONSTANT-size
    // broadcasts. sf0.1's corpus is 4x sf0.001's (2000 vs 500 vectors) —
    // the panels must not grow with it (the old vec_id % MOD selection did).
    val small = "/root/testdata/sf0.001"
    val large = "/root/testdata/sf0.1"
    val pS = Ann.probePanelIds(spark, small)
    val pL = Ann.probePanelIds(spark, large)
    val cS = Ann.centPanelIds(spark, small)
    val cL = Ann.centPanelIds(spark, large)
    assert(pS.size == pL.size, s"probe panel grew: ${pS.size} -> ${pL.size}")
    assert(cS.size == cL.size, s"codebook grew: ${cS.size} -> ${cL.size}")
    assert(pS.distinct.size == pS.size && cS.distinct.size == cS.size)
    assert((pS.toSet & cS.toSet) != pS.toSet || pS.size != cS.size,
      "probe and centroid panels must be independently salted")
  }

  test("entropy char split is codepoint-safe (non-BMP parity with DuckDB)") {
    // "(?s)(?<=.)" must yield code points: an emoji stays one element, not
    // two surrogate halves — the semantics DuckDB's string_split(text, '')
    // uses, so n_chars/entropy agree cross-engine beyond ASCII
    import org.apache.spark.sql.functions.{col, explode, split, lit}
    import spark.implicits._
    val out = spark.range(1)
      .select(explode(split(lit("a😀b\nc"), "(?s)(?<=.)")).as("ch"))
      .filter(col("ch") =!= "").as[String].collect().toSeq
    assert(out == Seq("a", "😀", "b", "\n", "c"))
  }

  test("text_urls: hosts normalized, repeats count as urls not docs") {
    val rows = Text.queries("text_urls")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // normalization: all lowercase, no scheme, no www., no query strings
    assert(rows.forall { case (h, _, _) =>
      h == h.toLowerCase && !h.contains("://") && !h.startsWith("www.") &&
        !h.contains("?") })
    val (ex, mirror) = rows.partition(_._1.endsWith(".example.org"))
    assert(ex.nonEmpty && mirror.nonEmpty)
    assert(mirror.forall(_._1.matches("mirror\\d+\\.net")))
    // every 7th doc repeats its url: instances strictly exceed docs overall
    assert(ex.map(_._2).sum > ex.map(_._3).sum)
    // a host never has more docs than url instances
    assert(rows.forall { case (_, u, d) => u >= d })
  }

  test("text_langid: vocabulary only contains english markers") {
    val rows = Text.queries("text_langid")(spark, sf).collect()
    assert(rows.nonEmpty)
    // docs with any marker ('the'/'a') → en; markerless docs → und
    assert(rows.forall(r =>
      if (r.getInt(1) > 0) r.getString(5) == "en" else r.getString(5) == "und"))
    assert(rows.exists(_.getString(5) == "en"))
  }

  test("text_quality: ratios in [0,1], quality in [0,1]") {
    val rows = Text.queries("text_quality")(spark, sf).collect()
    assert(rows.forall { r =>
      val dr = r.getDouble(5); val sr = r.getDouble(6); val q = r.getDouble(7)
      dr >= 0 && dr <= 1 && sr >= 0 && sr <= 1 && q >= 0 && q <= 1
    })
  }

  test("text_tokens: bpe tokens >= ws tokens (sub-word splitting)") {
    val rows = Text.queries("text_tokens")(spark, sf).collect()
    assert(rows.forall(r => r.getInt(2) >= r.getInt(1) - 1))
  }

  test("text_pii_scrub: no raw PII survives; redaction counts match planting") {
    val rows = Text.queries("text_pii_scrub")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows.forall { case (_, t, _) =>
      !t.contains("@example.com") && !t.contains("215-555-") })
    assert(rows.forall { case (id, _, n) => n == (if (id % 3 == 0) 3 else 2) })
  }

  test("text_fingerprint: content fp unique per distinct doc, stable head fp") {
    val rows = Text.queries("text_fingerprint")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).distinct.length == rows.length) // no natural dups
    val again = Text.queries("text_fingerprint")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sameElements(again))
  }

  test("text_entropy matches a driver-side Shannon computation per doc") {
    val got = Text.queries("text_entropy")(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(docs.nonEmpty && got.size == docs.length)
    for ((id, text) <- docs.take(25)) {
      val counts = text.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val n = text.length.toLong
      // same rounded-term formulation as the query (the policy under test
      // is "deterministic H within 1e-4 of true H", not bit-equality here)
      val h = (math.log(n.toDouble) / math.log(2.0)) -
        counts.values.map(c => c * math.log(c.toDouble) / math.log(2.0)).sum / n
      val (gn, gd, gh) = got(id)
      assert(gn == n && gd == counts.size, s"doc $id counts")
      assert(math.abs(gh - h) < 1e-3, s"doc $id entropy $gh vs $h")
      assert(gh >= 0.0 && gh <= math.log(gd.toDouble) / math.log(2.0) + 1e-9)
    }
  }

  test("text_repetition matches a driver-side bigram computation per doc") {
    val got = Text.queries("text_repetition")(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    for ((id, text) <- docs.take(25)) {
      val toks = text.toLowerCase.split(" ", -1)
      val bis = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      if (bis.nonEmpty) {
        val (gn, gd, gdup, gtop) = got(id)
        assert(gn == bis.length && gd == bis.distinct.length, s"doc $id counts")
        val cnts = bis.groupBy(identity).map(_._2.length)
        assert(math.abs(gdup - (1.0 - bis.distinct.length.toDouble / bis.length)) < 1e-4)
        assert(math.abs(gtop - cnts.max.toDouble / bis.length) < 1e-4)
      } else assert(!got.contains(id))
    }
  }

  test("clustered fixture: NND and IVF-PQ recall gates hit the 0.8 floor and discriminate") {
    def avgRecall(q: String): Double = {
      val rows = graft.queries.Ann.queries(q)(spark, sf).collect()
      rows.map(_.getAs[Double]("recall")).sum / rows.length
    }
    // on the two-level clustered corpus a CORRECT index must recover the
    // sub-cluster siblings — the floor is 0.8, not the hard corpus's 0.05
    val nndCl = avgRecall("ann_recall_nnd_clustered")
    val ipqCl = avgRecall("ann_recall_ivfpq_clustered")
    assert(nndCl >= 0.8, s"clustered NND recall collapsed: $nndCl")
    assert(ipqCl >= 0.8, s"clustered IVF-PQ recall collapsed: $ipqCl")
    // and the gate DISCRIMINATES: the same index on the near-random stress
    // corpus reads far lower, so a pass here is structure recovered, not
    // a permissive floor
    val nndHard = avgRecall("ann_recall_nnd")
    val ipqHard = avgRecall("ann_recall_ivfpq")
    assert(nndCl > nndHard + 0.3, s"no separation: clustered $nndCl vs hard $nndHard")
    assert(ipqCl > ipqHard + 0.3, s"no separation: clustered $ipqCl vs hard $ipqHard")
  }

  test("clustered NND floor BINDS at sf0.1 (5120 vectors): recall >= 0.8") {
    // r9 VERDICT #1: the fixed seed's sub-ring island closure ceilinged
    // sf0.1 clustered recall at 0.43 — a floor that only binds at <=512
    // vectors gates nothing at bench scale. Per-round re-seeding (fresh
    // salt per descent round bridges the islands) lifts it to 0.87
    // measured; the spec pins the 0.8 floor AT THE SCALE THE BENCH RUNS.
    val rows = graft.queries.Ann
      .queries("ann_recall_nnd_clustered")(spark, "/root/testdata/sf0.1").collect()
    val avg = rows.map(_.getAs[Double]("recall")).sum / rows.length
    assert(avg >= 0.8, s"sf0.1 clustered NND recall below the floor: $avg")
  }

  test("ann_recall_pq: the PQ index ships a per-probe recall gate") {
    val rows = graft.queries.Ann.queries("ann_recall_pq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 10) // one row per probe-panel member
    assert(rows.forall { case (_, n, rec) => n >= 0 && n <= 3 && rec >= 0 && rec <= 1 })
    val avg = rows.map(_._3).sum / rows.length
    assert(avg >= 0.15, s"PQ recall@3 collapsed: $avg")
  }

  test("ann_ivfpq: neighbors come from probed cells; recall ~ composed losses") {
    val rows = graft.queries.Ann.queries("ann_ivfpq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // ranks contiguous per probe
    for ((_, grp) <- rows.groupBy(_._1))
      assert(grp.map(_._2).sorted.toSeq == (1 to grp.length).toSeq)
    // every neighbor's cell is one the probe actually probed — the IVF
    // pruning contract survives the PQ stage
    val (assignment, probeCells) = graft.queries.Ann.ivfCells(spark, sf)
    val cellOf = assignment.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probed = probeCells.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((p, _, n) <- rows)
      assert(probed.contains((p, cellOf(n))), s"probe $p neighbor $n outside probed cells")
    // recall floor: the composed index loses roughly the PRODUCT of the
    // coarse-pruning and residual-quantization losses (ivf 0.27 × pq 0.40
    // ≈ 0.11 measured at sf0.01) — a collapse to ~0 would mean the ADC or
    // coarse term broke, not just quantization noise
    val rec = graft.queries.Ann.queries("ann_recall_ivfpq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rec.length == 10)
    assert(rec.forall { case (_, n, r) => n >= 0 && n <= 3 && r >= 0 && r <= 1 })
    val avg = rec.map(_._3).sum / rec.length
    assert(avg >= 0.05, s"IVF-PQ recall@3 collapsed: $avg")
  }

  test("ann_sq8: symmetric int8 codes preserve inner-product order (high recall)") {
    val rows = graft.queries.Ann.queries("ann_recall_sq8")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 10) // one row per probe-panel member
    assert(rows.forall { case (_, n, rec) => n >= 0 && n <= 3 && rec >= 0 && rec <= 1 })
    // the whole point of the symmetric scale: near-exact ordering. The
    // per-dim affine variant measured 0.03 here — a 0.8 floor would catch
    // any regression to offset-polluted scoring
    val avg = rows.map(_._3).sum / rows.length
    assert(avg >= 0.8, s"SQ8 recall@3 collapsed: $avg")
  }

  test("line dedup: universal footer always removed, promo header only on 3rd docs") {
    val rows = Text.queries("text_line_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    // 3 planted lines per doc; the footer (df = N) is removed everywhere;
    // the shared promo header (df = N/3 > cap) additionally on 3rd docs
    assert(rows.forall(_._2 == 3L))
    assert(rows.forall { case (id, _, removed, _) =>
      removed == (if (id % 3 == 0) 2L else 1L) })
    // non-3rd docs keep their unique "intro <id>" line, so their cleaned
    // text is globally unique; 3rd docs keep only the 80-char body, which
    // CAN collide across docs — assert exactly that split
    val (third, rest) = rows.partition(_._1 % 3 == 0)
    assert(rest.map(_._4).distinct.length == rest.length)
    assert(third.map(_._4).distinct.length >= third.length * 9 / 10)
  }

  test("lm score: planted singleton tokens raise surprisal; scores are sane") {
    val rows = Text.queries("text_lm_score")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    // bits/token of a unigram model is bounded by log2(total tokens)
    val maxBits = math.log(rows.map(_._2).sum.toDouble * 4) / math.log(2)
    assert(rows.forall { case (_, n, b) => n > 0 && b > 0 && b < maxBits })
    // a frequency-1 token carries ~log2(N) bits: docs carrying one must
    // average higher surprisal than the rest of the corpus
    val (planted, rest) = rows.partition(_._1 % 9 == 0)
    assert(planted.nonEmpty && rest.nonEmpty)
    val pm = planted.map(_._3).sum / planted.length
    val rm = rest.map(_._3).sum / rest.length
    assert(pm > rm, s"planted mean $pm not above rest mean $rm")
  }

  test("c4 filter: each rule fires exactly on its planted subset") {
    val rows = Text.queries("text_c4_filter")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
    assert(rows.nonEmpty)
    for ((id, brace, js, lorem, short, keep) <- rows) {
      assert(brace == (if (id % 11 == 0) 1 else 0), s"doc $id brace")
      assert(js == (if (id % 13 == 0) 1 else 0), s"doc $id js")
      assert(lorem == (if (id % 17 == 0) 1 else 0), s"doc $id lorem")
      assert(keep == (if (brace + js + lorem + short == 0) 1 else 0))
    }
    assert(rows.exists(_._6 == 1) && rows.exists(_._6 == 0))
  }
  test("kmeans step: sufficient statistics reconcile with the corpus") {
    val rows = graft.queries.Ann.queries("ann_kmeans_step")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // constant output size: K cells x 64 dims, every cell non-empty
    val cells = rows.map(_._1).distinct
    assert(rows.length == cells.length * 64)
    assert(rows.forall(_._3 > 0))
    // within a cell the member count is the same at every dim
    for ((_, grp) <- rows.groupBy(_._1))
      assert(grp.map(_._3).distinct.length == 1)
    // total membership at any one dim equals the corpus size
    val n = graft.core.Tables.embeddings(spark, TestSpark.sf).count()
    assert(rows.filter(_._2 == 0).map(_._3).sum == n)
    // centroid coordinates (sum/n) stay in the data range [-1, 1]
    assert(rows.forall { case (_, _, cnt, sv) => math.abs(sv / cnt) <= 1.0 + 1e-6 })
  }
  test("collocations: PMI-ranked, count-thresholded, matches brute force") {
    val rows = graft.queries.Text.queries("text_collocations")(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._3 >= graft.queries.Text.CollocMinCount))
    // descending PMI with the declared tie-break
    val key = rows.map(t => (-t._4, t._1, t._2)).toSeq
    assert(key == key.sorted, "output not in (pmi desc, w1, w2) order")
    // brute-force PMI on the driver reproduces the exact top rows
    val docs = graft.core.Tables.documents(spark, TestSpark.sf)
      .select("text").collect().map(_.getString(0))
    val toks = docs.map(_.toLowerCase.split(" ", -1).filter(_.nonEmpty).toSeq)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = uni.values.sum
    val bi = toks.flatMap(ws => ws.zip(ws.drop(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .filter(_._2 >= graft.queries.Text.CollocMinCount)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expect = bi.toSeq.map { case ((a, b), c) =>
      (a, b, c, r6(math.log(n.toDouble * c / (uni(a).toDouble * uni(b))) / math.log(2.0)))
    }.sortBy(t => (-t._4, t._1, t._2)).take(graft.queries.Text.CollocTopK)
    assert(rows.toSeq == expect)
  }
  test("zipf fit: natural corpus slopes negative; regression matches driver") {
    val row = graft.queries.Text.queries("text_zipf_fit")(spark, TestSpark.sf)
      .collect().head
    val (n, slope, intercept) = (row.getLong(0), row.getDouble(1), row.getDouble(2))
    // the synthetic sf0.001 corpus has a ~31-word vocabulary; the fit just
    // needs enough points for a meaningful slope
    assert(n > 10, s"vocabulary too small: $n")
    assert(slope < 0, s"zipf slope must be negative, got $slope")
    // driver-side recomputation with the same r6/decimal recipe
    val docs = graft.core.Tables.documents(spark, TestSpark.sf)
      .select("text").collect().map(_.getString(0))
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val cnt = docs.flatMap(_.toLowerCase.split(" ", -1).filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(graft.queries.Text.ZipfTopTerms)
    val xy = cnt.zipWithIndex.map { case ((_, c), i) =>
      (r6(math.log(i + 1.0) / math.log(2.0)), r6(math.log(c.toDouble) / math.log(2.0)))
    }
    val nn = xy.length.toDouble
    def s6(vs: Seq[Double]) = vs.map(v => BigDecimal(r6(v))).sum.toDouble
    val sx = s6(xy.map(_._1)); val sy = s6(xy.map(_._2))
    val sxy = s6(xy.map(t => t._1 * t._2)); val sxx = s6(xy.map(t => t._1 * t._1))
    val refSlope = r6((nn * sxy - sx * sy) / (nn * sxx - sx * sx))
    assert(n == xy.length.toLong)
    assert(math.abs(slope - refSlope) < 1e-5, s"$slope vs $refSlope")
    assert(intercept > 0) // top rank carries the max frequency
  }
  test("kl drift: nonnegative, totals partition the corpus, matches independent recompute") {
    import org.apache.spark.sql.functions.{col, explode, lower, split}
    val rows = Text.queries("text_kl_drift")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), explode(split(lower(col("text")), " ", -1)).as("tok"))
      .filter(col("tok") =!= "").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = toks.length.toDouble
    val corpus = toks.groupBy(_._2).view.mapValues(_.length).toMap
    for ((src, nt, terms, kl) <- rows) {
      val st = toks.filter(_._1 == src).map(_._2)
      assert(nt == st.length.toLong, s"$src token total")
      val cnts = st.groupBy(identity).view.mapValues(_.length).toMap
      assert(terms == cnts.size.toLong, s"$src vocab size")
      val ref = cnts.map { case (t, c) =>
        c * (math.log(c * n / (corpus(t).toDouble * st.length)) / math.log(2.0))
      }.sum / st.length
      // KL >= 0 up to the 6-dp per-term rounding the determinism recipe pays
      assert(kl >= -1e-3, s"$src negative KL $kl")
      assert(math.abs(kl - ref) < 1e-3, s"$src: $kl vs recomputed $ref")
    }
    // per-source totals partition the corpus (every source is present)
    assert(rows.map(_._2).sum == toks.length.toLong)
  }
  test("range search: exactly the above-threshold slice of exact scoring") {
    val rows = graft.queries.Ann.queries("ann_range_search")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._3 >= graft.queries.Ann.RangeTau))
    assert(rows.forall(t => t._1 != t._2))
    // when both endpoints are probes the pair appears in both directions
    val probes = rows.map(_._1).toSet
    val asSet = rows.map(t => (t._1, t._2)).toSet
    for ((p, n, _) <- rows if probes.contains(n))
      assert(asSet.contains((n, p)), s"missing reverse of ($p,$n)")
    // every bruteforce top-k hit above the threshold must be found
    val bf = graft.queries.Ann.queries("ann_bruteforce")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    for ((p, n, c) <- bf if c >= graft.queries.Ann.RangeTau)
      assert(asSet.contains((p, n)), s"bruteforce hit ($p,$n,$c) missing")
  }
  test("filter search: neighbors share the probe's label; subset of unfiltered scoring") {
    val rows = Ann.queries("ann_filter_search")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(label AS INT) AS label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the predicate held: probe and every neighbor share the label
    assert(rows.forall { case (p, l, _, n, _) => labels(p) == l && labels(n) == l })
    // pre-filtering can never return a neighbor that beats the unfiltered
    // top-1 (it scores a subset of the same corpus)
    val bf1 = Ann.queries("ann_bruteforce")(spark, sf).collect()
      .filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rows.forall { case (p, _, _, _, c) => c <= bf1(p) + 1e-9 })
    // ranks contiguous per probe
    for ((_, grp) <- rows.groupBy(_._1))
      assert(grp.map(_._3).sorted.toSeq == (1 to grp.length).toSeq)
  }

  test("nndescent: quality climbs every measured round; descent escapes the seed") {
    def quality(iters: Int): (Double, Set[(Long, Long)]) = {
      val rows = Ann.nndGraph(spark, sf, iters).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      (rows.map(_._3).sum / rows.length, rows.map(t => (t._1, t._2)).toSet)
    }
    val (q0, g0) = quality(0)
    val (q1, g1) = quality(1)
    val (q3, g3) = quality(Ann.NND_ITERS)
    // the closure pitfall: a single-bucketing seed moves ZERO edges in round
    // one — the dual seed must actually move some and improve the average
    assert(g1 != g0, "round 1 did not change the graph (seed closure)")
    assert(q1 > q0, s"round 1 did not improve quality: $q0 -> $q1")
    assert(q3 > q1, s"rounds 2..${Ann.NND_ITERS} did not keep improving: $q1 -> $q3")
    // the shipped query is exactly the top-k cut of the final WORKING graph
    // (the descent keeps NND_WORKK neighbors per vertex; consumers cut to 3)
    val top3 = Ann.nndGraph(spark, sf, Ann.NND_ITERS).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).values.flatMap(
        _.sortBy(t => (-t._3, t._2)).take(3).map(t => (t._1, t._2)))
      .toSet
    val out = Ann.queries("ann_nndescent")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(out == top3)
  }

  test("chunk windows: spans tile every doc with the declared stride/overlap") {
    val rows = Text.queries("text_chunk_windows")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val nTokens = graft.queries.Text.queries("text_tokens")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    var sawMulti = false
    for ((doc, grp0) <- rows.groupBy(_._1)) {
      val grp = grp0.sortBy(_._2)
      val n = nTokens(doc)
      // contiguous chunk indices from 0; starts advance by the stride
      assert(grp.map(_._2).toSeq == (0L until grp.length).toSeq)
      for ((_, idx, start, end, len) <- grp) {
        assert(start == idx * 24)
        assert(end == math.min(start + 32, n))
        assert(len == end - start)
      }
      // full coverage: last window reaches exactly the doc's token count,
      // and (stride < window) ⇒ no token between windows is ever skipped
      assert(grp.last._4 == n, s"doc $doc: last chunk ends ${grp.last._4} != $n")
      // minimality: one more stride step would start at/after the end
      assert(grp.length == 1 || (grp.length - 1) * 24 < n - 8)
      if (grp.length > 1) sawMulti = true
    }
    assert(sawMulti, "fixture never exercised the multi-chunk overlap path")
  }

  test("classifier score: exact integer sums, threshold label, both classes") {
    val rows = Text.queries("text_classifier_score")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4)))
    assert(rows.nonEmpty)
    // label is exactly the sign of the integer sum; score is its scaled form
    for ((_, nFeat, wSum, score, label) <- rows) {
      assert(label == (if (wSum > 0) "keep" else "drop"))
      val expect = math.floor(wSum.toDouble / (nFeat * 1000.0) * 1e4 + 0.5) / 1e4
      assert(score == expect, s"score $score != $expect")
      assert(math.abs(score) <= 1.0001) // weights in [-1000,1000] bound the mean
    }
    // a hash-derived weight table splits a natural corpus: both classes occur
    val byLabel = rows.groupBy(_._5).view.mapValues(_.length).toMap
    assert(byLabel.getOrElse("keep", 0) > 0 && byLabel.getOrElse("drop", 0) > 0)
    // n_feat = nonempty unigrams + bigrams-with-multiplicity, checked per doc
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "lower(text) AS text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val nf = rows.map(t => t._1 -> t._2).toMap
    for ((id, text) <- docs.take(50)) {
      val toks = text.split(" ", -1)
      val expect = toks.count(_.nonEmpty) + math.max(toks.length - 1, 0)
      assert(nf(id) == expect, s"doc $id n_feat ${nf(id)} != $expect")
    }
  }

  test("graph search: hop-bounded reachability from the entry panel; the walk descends") {
    val rows = Ann.queries("ann_graph_search")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val probes = Ann.probePanelIds(spark, sf).toSet
    assert(rows.map(_._1).toSet == probes)
    for ((_, grp) <- rows.groupBy(_._1)) {
      assert(grp.map(_._2).sorted.toSeq == (1 to grp.length).toSeq)
      val cs = grp.sortBy(_._2).map(_._4)
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y }, "cos not descending")
    }
    // subset-of-corpus scoring can never beat the exact top-1
    val bf1 = Ann.queries("ann_bruteforce")(spark, sf).collect()
      .filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rows.forall { case (p, _, _, c) => c <= bf1(p) + 1e-9 })
    // structural guarantee of the visited set: every returned neighbor lies
    // within GS_HOPS hops of the fixed entry panel on the symmetrized graph
    val edges = Ann.nndGraph(spark, sf, Ann.NND_ITERS).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    var ball = Ann.entryPanelIds(spark, sf).toSet
    for (_ <- 1 to Ann.GS_HOPS)
      ball = ball ++ ball.flatMap(v => adj.getOrElse(v, Set.empty[Long]))
    assert(rows.forall { case (_, _, n, _) => ball.contains(n) },
      "search returned a vertex outside the hop-bounded ball")
    // the walk actually descends: some probe's top-1 beats every raw entry
    // score (else the hops added nothing over the constant entry panel)
    val entrySet = Ann.entryPanelIds(spark, sf).toSet
    val top1 = rows.filter(_._2 == 1).map(t => t._1 -> (t._3, t._4))
    assert(top1.exists { case (_, (n, _)) => !entrySet.contains(n) },
      "every top-1 is an entry vertex — the walk never moved")
  }

  test("graph search: the visited anti-join broadcasts only within the session threshold") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    def hopPlans(): (Seq[(Long, Int, Long, Double)], Seq[String]) = {
      val (rows, plans) = TestSpark.plansDuring(Ann.queries("ann_graph_search")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sortBy(r => (r._1, r._2)))
      (rows, plans.collect { case ("localCheckpoint", qe) => qe.executedPlan.toString }
        .filter(_.contains("LeftAnti")))
    }
    def broadcastsVisited(p: String) =
      p.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))
    val (wide, widePlans) = hopPlans()
    assert(widePlans.nonEmpty && widePlans.forall(broadcastsVisited),
      widePlans.headOption.getOrElse("no hop plan").take(3000))
    spark.conf.set(key, "100")
    val (narrow, narrowPlans) = try hopPlans() finally spark.conf.unset(key)
    assert(narrowPlans.nonEmpty && !narrowPlans.exists(broadcastsVisited),
      narrowPlans.find(broadcastsVisited).getOrElse("").take(3000))
    assert(narrow == wide)
  }

  test("incremental ivf: frozen old-corpus codebook, old cells byte-identical, batch merged") {
    val out = Ann.queries("ann_incremental")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    val (old, batch, cents) = Ann.incrementalParts(spark, sf)
    val centIds = cents.select("cent_id").collect().map(_.getLong(0)).toSet
    val oldIds = old.select("vec_id").collect().map(_.getLong(0)).toSet
    val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    // the fixture actually has arrivals to merge
    assert(batchIds.nonEmpty && oldIds.nonEmpty)
    // every vector assigned exactly once, provenance correct
    assert(out.length == oldIds.size + batchIds.size)
    assert(out.map(_._1).toSet == oldIds ++ batchIds)
    assert(out.forall { case (id, _, _, src) =>
      src == (if (batchIds(id)) "new" else "old") })
    // the codebook is FROZEN at build time: drawn from the old corpus only,
    // so no arrival can become a centroid, and every cell is a centroid
    assert(centIds.subsetOf(oldIds))
    assert(batchIds.intersect(centIds).isEmpty)
    assert(out.map(_._2).toSet.subsetOf(centIds))
    // old vectors keep their index rows bit-for-bit: the merged relation's
    // old slice equals an old-only assignment against the same codebook
    val oldOnly = Ann.incrementalAssign(old, cents, "old").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSet
    assert(out.filter(_._4 == "old").toSet == oldOnly)
  }

  test("ann_recall_gsearch: 10 probes, recall in [0,1], some probe recovers a true neighbor") {
    val rows = Ann.queries("ann_recall_gsearch")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(rows.length == 10)
    assert(rows.forall { case (_, r) => r >= 0.0 && r <= 1.0 })
    assert(rows.exists(_._2 > 0.0), "graph search recovered nothing anywhere")
  }

  test("normalize: every planted defect repaired; audit counts add up") {
    val rows = graft.queries.Text.queries("text_normalize")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    for ((src, nDocs, nChanged, nRestored, charsRemoved) <- rows) {
      // every doc was dirtied, so normalization must touch every doc
      assert(nChanged == nDocs, s"$src: $nChanged of $nDocs changed")
      // %3∈{0,1} cases restore byte-identically; %3=2 (mid-text tab→space)
      // restores only when the tab landed next to an existing space —
      // restored is therefore at least the two-thirds floor
      assert(nRestored >= nDocs * 3 / 5, s"$src restored $nRestored/$nDocs")
      assert(charsRemoved > 0)
    }
    // unit checks on the expression itself
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      ("  a  b  ", "a b"),
      ("a\t\nb", "a b"),
      ("x", "x"),
      ("clean text", "clean text")).toDF("in", "want")
    val got = cases.select(col("want"),
      graft.queries.Text.normalizeText(col("in")).as("got")).collect()
    assert(got.forall(r => r.getString(0) == r.getString(1)))
  }

  test("incremental recall gate: merged-index search scores against ground truth") {
    val rows = graft.queries.Ann.queries("ann_recall_incremental")(spark, sf)
      .collect()
    assert(rows.length == 10) // one row per probe-panel member
    val recalls = rows.map(_.getDouble(2))
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    // a dead merged index (wrong cells, empty scan) would read all-zero
    assert(recalls.sum > 0, "merged-index search found no true neighbors")
  }

  test("gopher rules: planted symbol/alpha taints fire their rules, keep = AND") {
    val rows = graft.queries.Text.queries("text_gopher_rules")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(5), r.getInt(6), r.getInt(7), r.getInt(8), r.getInt(9)))
      .toMap
    assert(rows.nonEmpty)
    for ((k, (pw, pl, pa, ps, keep)) <- rows) {
      // 30 planted '#' words on ≥50-word docs put symbol_ratio way past 0.1
      if (k % 7 == 0) assert(ps == 0, s"doc $k should fail the symbol rule")
      // keep is exactly the conjunction of the four rules
      assert(keep == (if (pw + pl + pa + ps == 4) 1 else 0))
    }
    // the alpha plant (40 numeric words) fails the alpha rule on docs
    // whose natural alpha margin is thin; at minimum SOME doc fails it,
    // and docs with neither plant pass both planted-rule columns
    assert(rows.exists { case (k, v) => k % 19 == 0 && v._3 == 0 })
    assert(rows.exists { case (k, v) => k % 7 != 0 && k % 19 != 0 &&
      v._3 == 1 && v._4 == 1 })
    assert(rows.values.exists(_._5 == 1) && rows.values.exists(_._5 == 0))
  }

  test("ccnet buckets: tercile counts balanced, bucket order matches score order") {
    val rows = graft.queries.Text.queries("text_ccnet_bucket")(spark, sf)
      .collect().map(r => (r.getDouble(1), r.getString(2)))
    val byBucket = rows.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // terciles: balanced up to boundary TIES — equal 4-dp scores classify
    // together (the CCNet semantics), so the skew bound is the largest
    // tie class, not 1
    val sizes = byBucket.values.map(_.length)
    val tieMax = rows.groupBy(_._1).values.map(_.size).max
    assert(sizes.max - sizes.min <= tieMax,
      s"terciles skewed past the largest tie class ($tieMax): ${sizes.toSeq}")
    // ordering: every head score <= every middle score <= every tail score
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
  }

  test("cell drift: occupancy reconciles with the merged assignment; flag is exact") {
    val merged = Ann.queries("ann_incremental")(spark, sf).collect()
    val drift = Ann.queries("ann_cell_drift")(spark, sf).collect()
    assert(drift.nonEmpty && drift.length <= Ann.CENT_COUNT)
    assert(drift.map(r => r.getLong(1) + r.getLong(2)).sum == merged.length)
    val occ = merged.groupBy(_.getLong(1)).view
      .mapValues(rs => (rs.count(_.getString(3) == "old").toLong,
                        rs.count(_.getString(3) == "new").toLong)).toMap
    drift.foreach { r =>
      val (o, n) = occ(r.getLong(0))
      assert(r.getLong(1) == o && r.getLong(2) == n)
      val flag = if (2 * (o + n) >= 3 * math.max(o, 1L)) 1 else 0
      assert(r.getInt(4) == flag, s"cell ${r.getLong(0)}: flag ${r.getInt(4)} != $flag")
      assert(math.abs(r.getDouble(3) - (o + n).toDouble / math.max(o, 1L)) < 1e-3)
    }
  }
}
