package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Graph

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("pagerank: every nation scored, ranks bounded, mass conserved-ish") {
    val rows = Graph.queries("graph_pagerank")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(rows.length == 25)
    // floor: a node with zero in-edges holds exactly the teleport mass
    assert(rows.forall(_._3 >= Graph.Scale * 15 / 100))
    // no node can exceed total teleport + all damped mass (25 units)
    assert(rows.forall(_._3 <= 25L * Graph.Scale))
    // total mass never exceeds 25 units (integer div only LOSES mass, and
    // this graph has no dangling redistribution)
    assert(rows.map(_._3).sum <= 25L * Graph.Scale)
    // deterministic across runs (the integer-arithmetic guarantee)
    val again = Graph.queries("graph_pagerank")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(rows.sameElements(again))
  }

  test("capOutDegree: hubs keep exactly cap lowest-dst edges, others untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, collect_list, sort_array}
    // hub 0 has 7 out-edges, vertex 1 has 2 — cap at 3
    val edges = ((1L to 7L).map(d => (0L, d)) ++ Seq((1L, 5L), (1L, 9L)))
      .toDF("src", "dst")
    val capped = Graph.capOutDegree(edges, 3)
      .groupBy("src").agg(sort_array(collect_list(col("dst"))).as("ds"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(capped(0L) == Seq(1L, 2L, 3L)) // the cap keeps the LOWEST dst ids
    assert(capped(1L) == Seq(5L, 9L))     // under-cap vertices keep everything
  }

  test("pagerank_raw: every customer+supplier vertex scored, ranks bounded") {
    val rows = Graph.queries("graph_pagerank_raw")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val nc = graft.core.Tables.customer(spark, sf).count()
    val ns = graft.core.Tables.supplier(spark, sf).count()
    assert(rows.length == nc + ns)
    assert(rows.count(_._2 == "c") == nc && rows.count(_._2 == "s") == ns)
    // vertex-id parity encodes the kind
    assert(rows.forall(r => (r._1 % 2 == 0) == (r._2 == "c")))
    // teleport floor and total-mass ceiling, as in the aggregate variant
    assert(rows.forall(_._3 >= Graph.Scale * 15 / 100))
    assert(rows.map(_._3).sum <= (nc + ns) * Graph.Scale)
    // suppliers aggregate many customers' mass: the max supplier rank must
    // exceed the max customer rank on this bipartite fixture
    assert(rows.filter(_._2 == "s").map(_._3).max >
      rows.filter(_._2 == "c").map(_._3).max)
  }

  test("pagerank: rank concentrates where in-edges do") {
    val rows = Graph.queries("graph_pagerank")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    // in-degree per nation from the same edge derivation
    val indeg = graft.core.Tables.lineitem(spark, sf)
      .join(graft.core.Tables.orders(spark, sf),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .join(graft.core.Tables.customer(spark, sf),
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      .join(graft.core.Tables.supplier(spark, sf),
        org.apache.spark.sql.functions.col("l_suppkey") ===
          org.apache.spark.sql.functions.col("s_suppkey"))
      .select(org.apache.spark.sql.functions.col("c_nationkey").as("src"),
        org.apache.spark.sql.functions.col("s_nationkey").as("dst"))
      .distinct()
      .groupBy("dst").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    // aggregate correlation, not per-node absolutes: the top-indegree third
    // outranks the bottom third on average
    val sorted = indeg.toSeq.sortBy(-_._2)
    val (hi, lo) = (sorted.take(8).map(_._1), sorted.takeRight(8).map(_._1))
    val hiAvg = hi.map(rows).sum / hi.length
    val loAvg = lo.map(rows).sum / lo.length
    assert(hiAvg >= loAvg, s"hi-indegree avg rank $hiAvg < lo $loAvg")
  }

  test("cc_raw: labels equal an independent union-find; sizes consistent") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val rows = Graph.queries("graph_cc_raw")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // rebuild the thresholded edge list independently
    val li = spark.read.parquet(s"$sf/lineitem.parquet").select("l_orderkey", "l_suppkey")
    val oo = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey", "o_custkey")
    val edges = li.join(oo, col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= Graph.CcMinTrades)
      .select("c", "s").collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(v => v -> find(v)).toMap
    assert(rows.length == truth.size, "one row per engaged vertex")
    for ((id, kind, comp, _) <- rows) {
      assert(truth(id) == comp, s"vertex $id: label $comp vs union-find ${truth(id)}")
      assert(kind == (if (id % 2 == 0) "c" else "s"))
    }
    // comp_size is consistent with the label partition and labels are roots
    val byComp = rows.groupBy(_._3)
    for ((comp, grp) <- byComp) {
      assert(grp.forall(_._4 == grp.length.toLong), s"component $comp size")
      assert(grp.map(_._1).min == comp, "label is the component minimum")
    }
  }

  test("triangles: triple-credit invariant and determinism") {
    val rows = Graph.queries("graph_triangles")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(rows.length == 25)
    assert(rows.forall(_._2 >= 0L))
    // each triangle is credited to exactly 3 corners
    assert(rows.map(_._2).sum % 3 == 0)
    // the sf0.001 trade graph is dense (250 directed edges over 25 nodes)
    // — triangles must exist
    assert(rows.map(_._2).sum > 0)
  }

  test("plan shape: dims broadcast in the edge derivation; no cartesian") {
    val plan = Graph.queries("graph_pagerank")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "customer/supplier should broadcast")
    assert(!plan.contains("CartesianProduct"))
    val triPlan = Graph.queries("graph_triangles")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!triPlan.contains("CartesianProduct"))
  }
  test("shortest path: source at 0, triangle inequality over edges, -1 beyond horizon") {
    val rows = graft.queries.Graph.queries("graph_shortest_path")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(rows.length == 25)
    val dist = rows.toMap
    assert(dist(graft.queries.Graph.BfsSource) == 0L)
    assert(rows.forall { case (_, h) => h == -1L || (h >= 0 && h <= graft.queries.Graph.BfsHops) })
    // the dense sf0.001 trade graph reaches everything within 3 hops
    assert(rows.count(_._2 >= 1) > 0)
    // relaxation invariant: adjacent reached nodes differ by at most 1 hop
    val edges = graft.core.Tables.lineitem(spark, sf)
      .join(graft.core.Tables.orders(spark, sf),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .join(graft.core.Tables.customer(spark, sf),
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      .join(graft.core.Tables.supplier(spark, sf),
        org.apache.spark.sql.functions.col("l_suppkey") ===
          org.apache.spark.sql.functions.col("s_suppkey"))
      .select(org.apache.spark.sql.functions.col("c_nationkey").as("src"),
        org.apache.spark.sql.functions.col("s_nationkey").as("dst"))
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1)))
      .filter(e => e._1 != e._2)
    for ((a, b) <- edges; (x, y) = (dist(a), dist(b)))
      if (x >= 0 && y >= 0) assert(math.abs(x - y) <= 1, s"edge ($a,$b): $x vs $y")
  }

  test("kcorePeel: cascading removal eats a pendant path, keeps the cycle") {
    import spark.implicits._
    // cycle 1-2-3-4-1 plus a path 4-5-6-7 hanging off it
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L)).toDF("u", "v")
    val peeled = (1 to 3).foldLeft(e)((x, _) => Graph.kcorePeel(x, 2))
    val kept = peeled.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set(1L, 2L, 3L, 4L), s"2-core should be the cycle, got $kept")
    // one round only removes the degree-1 frontier (7), not the whole path:
    // the cascade is what the iteration is for
    val once = Graph.kcorePeel(e, 2)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(once.contains(5L) && !once.contains(7L))
  }

  test("kcore: min-degree property holds and the round count is a fixpoint") {
    val rows = Graph.queries("graph_kcore")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // every surviving vertex meets the core threshold — the defining property
    assert(rows.forall(_._3 >= Graph.KcoreK))
    assert(rows.forall(r => (r._1 % 2 == 0) == (r._2 == "c")))
    // the loop stops at the true fixpoint, before the runaway bound: one
    // further peel is a no-op, and the edges equal a fixed-count fold's
    val rounds = Graph.kcoreEdges(spark, sf)
    val eN = rounds.last
    assert(rounds.fixpoint && rounds.states.length - 1 < Graph.KcoreRounds,
      s"stopped after ${rounds.states.length - 1} rounds")
    assert(Graph.kcorePeel(eN, Graph.KcoreK).count() == eN.count())
    val fixed = (1 to Graph.KcoreRounds).foldLeft(rounds.states.head)(
      (e, _) => Graph.kcorePeel(e, Graph.KcoreK).localCheckpoint())
    def edgeSet(e: org.apache.spark.sql.DataFrame) = e.collect().map(_.toSeq).toSet
    assert(edgeSet(eN) == edgeSet(fixed))
    val again = Graph.queries("graph_kcore")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.sameElements(again)) // determinism
  }

  test("cosim: ranks contiguous per src, jaccard bounded, symmetric commons") {
    val rows = Graph.queries("graph_cosim")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._5 >= 0 && r._5 <= 1000000L))
    assert(rows.forall(r => r._4 >= Graph.CosimMinCommon))
    val bySrc = rows.groupBy(_._1)
    for ((_, rs) <- bySrc) {
      assert(rs.length <= Graph.CosimTopK)
      assert(rs.map(_._2).sorted.sameElements(1L to rs.length))
      // ranking is by jaccard desc (ties by dst asc)
      val sorted = rs.sortBy(_._2)
      assert(sorted.toSeq.sliding(2).forall {
        case Seq(a, b) => a._5 > b._5 || (a._5 == b._5 && a._3 < b._3)
        case _ => true
      })
    }
    // common count is a property of the PAIR: both orientations that survive
    // their top-k must agree on it
    val common = rows.map(r => (Set(r._1, r._3), r._4)).groupBy(_._1)
    assert(common.values.forall(_.map(_._2).distinct.length == 1))
  }

  test("modularity: exact sufficient statistics, Q bounds, totals partition the graph") {
    val rows = Graph.queries("graph_modularity")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val labels = Graph.queries("graph_label_prop")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // communities and membership counts are exactly the label-prop output
    assert(rows.map(r => r._1 -> r._2).toMap ==
      labels.groupBy(_._2).view.mapValues(_.size.toLong).toMap)
    // degree sums partition the directed edge total (Σ d_c = 2m), internal
    // edges never exceed the community's share, Q_c within Newman bounds
    val twoM = rows.map(_._4).sum
    assert(twoM > 0 && twoM % 2 == 0)
    for ((_, n, e, dsum, q) <- rows) {
      assert(e >= 0 && 2 * e <= dsum) // internal stubs are a subset of stubs
      assert(e <= n * (n - 1) / 2)    // at most the complete graph inside
      assert(q > -0.5 - 1e-9 && q < 1.0 + 1e-9)
      // the r4 score is exactly the published formula over the exact counts
      val expect = 2.0 * e / twoM -
        (dsum.toDouble / twoM) * (dsum.toDouble / twoM)
      assert(math.abs(q - expect) <= 5e-5, s"q $q != $expect")
    }
  }

  test("label propagation: labels never escape their component; communities form") {
    val lpa = graft.queries.Graph.queries("graph_label_prop")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = graft.queries.Graph.queries("graph_cc_raw")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(lpa.nonEmpty)
    // same vertex domain as CC (both derive from the CcMinTrades graph)
    assert(lpa.keySet == cc.keySet)
    // labels travel only along edges, so a vertex's final label must be a
    // member of its own connected component
    for ((v, l) <- lpa)
      assert(cc(l) == cc(v), s"label $l escaped the component of vertex $v")
    // and propagation actually formed communities: labels shared by >1
    // vertex, but more labels than components (LPA refines CC structure
    // at this round count, not merely reproduces it)
    val commSizes = lpa.values.groupBy(identity).view.mapValues(_.size)
    assert(commSizes.values.exists(_ > 1))
    assert(commSizes.size >= cc.values.toSet.size)
  }
}
