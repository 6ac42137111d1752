package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.GeomFunctions._

class GeomSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): String =
    spark.range(1).select(c.cast("string")).as[String].head()

  test("force2d strips Z label and z values") {
    val w = lit("LINESTRING Z (1 2 3, 4 5 6)")
    assert(one(force2d(w)) == "LINESTRING(1 2, 4 5)")
  }

  test("force2d strips ZM label and z+m values, keeps 2d untouched") {
    assert(one(force2d(lit("POINT ZM (1 2 3 4)"))) == "POINT(1 2)")
    assert(one(force2d(lit("POINT (7 8)"))) == "POINT(7 8)")
    assert(one(force2d(lit("POINT Z (1 2 NaN)"))) == "POINT(1 2)")
    // signed coordinates (southern hemisphere / depths)
    assert(one(force2d(lit("POINT Z (10 -20 -5)"))) == "POINT(10 -20)")
    assert(one(force2d(lit("LINESTRING Z (-1.5 -2.5 3, -4 5 -6)")))
      == "LINESTRING(-1.5 -2.5, -4 5)")
  }

  test("promoteMulti wraps POLYGON and LINESTRING, leaves MULTI alone") {
    assert(one(promoteMulti(lit("POLYGON ((1 2, 3 4, 1 2))")))
      == "MULTIPOLYGON ( ((1 2, 3 4, 1 2)))")
    // Z/M label travels with the type token (reference replaces "POLYGON Z")
    assert(one(promoteMulti(lit("POLYGON Z ((1 2 9, 3 4 9, 1 2 9))")))
      == "MULTIPOLYGON Z ( ((1 2 9, 3 4 9, 1 2 9)))")
    assert(one(promoteMulti(lit("MULTIPOLYGON (((1 2, 3 4, 1 2)))")))
      == "MULTIPOLYGON (((1 2, 3 4, 1 2)))")
    assert(one(promoteMulti(lit("POINT (1 2)"))) == "POINT (1 2)")
  }

  test("srid strip + point extraction") {
    val e = lit("SRID=2272;POINT (2693760 235970)")
    assert(one(sridOf(e)) == "2272")
    assert(one(wktOf(e)) == "POINT (2693760 235970)")
    assert(one(pointX(wktOf(e))) == "2693760.0")
    assert(one(pointY(wktOf(e))) == "235970.0")
  }

  test("web mercator matches known anchors") {
    // (0,0) → (0,0); lon 180 → 20037508.342789244
    assert(math.abs(one(mercX(lit(180.0))).toDouble - 20037508.342789244) < 1e-6)
    assert(math.abs(one(mercX(lit(0.0))).toDouble) < 1e-9)
    assert(math.abs(one(mercY(lit(0.0))).toDouble) < 1e-9)
    // one degree of longitude = 111319.49079327358 m at the equator
    assert(math.abs(one(mercX(lit(1.0))).toDouble - 111319.49079327358) < 1e-6)
    // lat 45° → R * ln(tan(67.5°)) ≈ 5621521.486 m (classic anchor)
    assert(math.abs(one(mercY(lit(45.0))).toDouble - 5621521.486192) < 1e-3)
  }

  test("LCC 2272 inverse: projection origin maps back to lat0/lon0 exactly") {
    // FE=600000 m expressed in US survey feet; FN=0. Inverse must return
    // the projection origin 39°20'N 77°45'W.
    val feFt = 600000.0 / (1200.0 / 3937.0)
    val (lon, lat) = lccInverse2272(lit(feFt), lit(0.0))
    assert(math.abs(one(lon).toDouble - -77.75) < 1e-9)
    assert(math.abs(one(lat).toDouble - (39.0 + 20.0 / 60.0)) < 1e-9)
  }

  test("LCC 2272 inverse round-trips an independent forward projection") {
    // Forward LCC 2SP (Snyder 1987 eqs 15-1..4) implemented here in plain
    // Scala as an independent check of the column-math inverse.
    val a = 6378137.0; val f = 1.0 / 298.257222101
    val e2 = 2 * f - f * f; val e = math.sqrt(e2)
    val ftUS = 1200.0 / 3937.0
    val lat1 = math.toRadians(40.0 + 58.0 / 60.0)
    val lat2 = math.toRadians(39.0 + 56.0 / 60.0)
    val lat0 = math.toRadians(39.0 + 20.0 / 60.0)
    val lon0 = math.toRadians(-(77.0 + 45.0 / 60.0))
    def m(phi: Double) = math.cos(phi) / math.sqrt(1 - e2 * math.pow(math.sin(phi), 2))
    def t(phi: Double) = math.tan(math.Pi / 4 - phi / 2) /
      math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2)
    val n = (math.log(m(lat1)) - math.log(m(lat2))) / (math.log(t(lat1)) - math.log(t(lat2)))
    val bigF = m(lat1) / (n * math.pow(t(lat1), n))
    val rho0 = a * bigF * math.pow(t(lat0), n)
    def fwd(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg); val lam = math.toRadians(lonDeg)
      val rho = a * bigF * math.pow(t(phi), n)
      val th = n * (lam - lon0)
      val x = rho * math.sin(th) + 600000.0
      val y = rho0 - rho * math.cos(th)
      (x / ftUS, y / ftUS)
    }
    // Philadelphia-ish and zone-corner points
    for ((lonD, latD) <- Seq((-75.1635, 39.9526), (-80.0, 39.75), (-76.5, 40.5))) {
      val (xf, yf) = fwd(lonD, latD)
      val (lonC, latC) = lccInverse2272(lit(xf), lit(yf))
      assert(math.abs(one(lonC).toDouble - lonD) < 1e-9, s"lon for ($lonD,$latD)")
      assert(math.abs(one(latC).toDouble - latD) < 1e-9, s"lat for ($lonD,$latD)")
    }
  }

  test("bad srid remap: known bads map, unknown srids pass through") {
    assert(one(remapBadSrid(lit(300001))) == "2272")
    assert(one(remapBadSrid(lit(300084))) == "3857")
    assert(one(remapBadSrid(lit(300090))) == "4269")
    assert(one(remapBadSrid(lit(4326))) == "4326")
  }

  test("esriJson: every WKT class maps to its Esri geometry object") {
    def j(w: String) = one(esriJson(lit(w), 3857, "esriGeometryPoint"))
    assert(j("SRID=2272;POINT (10 20)") ==
      """{"x":10.0,"y":20.0,"spatialReference":{"wkid":3857}}""")
    assert(j("POLYGON ((1 2, 3 2, 1 4, 1 2))") ==
      """{"rings":[[[1,2],[3,2],[1,4],[1,2]]],"spatialReference":{"wkid":3857}}""")
    assert(j("MULTIPOLYGON (((1 2, 3 2, 1 4, 1 2)), ((5 6, 7 6, 5 8, 5 6)))") ==
      """{"rings":[[[1,2],[3,2],[1,4],[1,2]],[[5,6],[7,6],[5,8],[5,6]]],"spatialReference":{"wkid":3857}}""")
    assert(j("LINESTRING (1 2, 3 4)") ==
      """{"paths":[[[1,2],[3,4]]],"spatialReference":{"wkid":3857}}""")
    // the reference's wkid+latestWkid quirk on the multiline branch
    assert(j("MULTILINESTRING ((1 2, 3 4), (5 6, 7 8))") ==
      """{"paths":[[[1,2],[3,4]],[[5,6],[7,8]]],"spatialReference":{"wkid":3857,"latestWkid":3857}}""")
    assert(j("POINT EMPTY") ==
      """{"x":"NaN","y":"NaN","spatialReference":{"wkid":3857}}""")
    assert(one(esriJson(lit(" "), 3857, "esriGeometryPolygon")) ==
      """{"rings":[],"spatialReference":{"wkid":3857}}""")
    assert(one(esriJson(lit(" "), 3857, "esriGeometryPolyline")) ==
      """{"paths":[],"spatialReference":{"wkid":3857}}""")
    // unrecognized type → null poison, not a throw
    assert(spark.range(1)
      .select(esriJson(lit("CIRCLE (1 2, 3)"), 3857, "esriGeometryPoint"))
      .head().isNullAt(0))
  }

  test("wkt structural validity: defects are flagged, good shapes pass") {
    def v(w: String) = one(wktStructurallyValid(lit(w))) == "true"
    assert(v("POINT (1 2)"))
    assert(v("POLYGON ((1 2, 3 2, 1 4, 1 2))"))
    assert(v("MULTIPOLYGON (((1 2, 3 2, 1 4, 1 2)), ((5 6, 7 6, 5 8, 5 6)))"))
    assert(v("LINESTRING (1 2, 3 4)"))
    assert(!v("POLYGON ((1 2, 3 2, 1 4, 9 9))"))   // unclosed ring
    assert(!v("POLYGON ((1 2, 3 2, 1 2))"))        // 3-point ring
    assert(!v("POLYGON ((1 2, 3 2, 1 4, 1 2)"))    // unbalanced parens
    assert(!v("TRIANGLE ((1 2, 3 2, 1 4, 1 2))"))  // unknown type token
    // a multipolygon with ONE bad ring among good ones must fail
    assert(!v("MULTIPOLYGON (((1 2, 3 2, 1 4, 1 2)), ((5 6, 7 6, 5 8, 9 9)))"))
  }

  test("csvQuote implements QUOTE_MINIMAL: only risky fields quoted, quotes doubled") {
    assert(one(csvQuote(lit("plain"))) == "plain")
    assert(one(csvQuote(lit("has,comma"))) == "\"has,comma\"")
    assert(one(csvQuote(lit("has \"quote\""))) == "\"has \"\"quote\"\"\"")
    assert(one(csvQuote(lit("line\nbreak"))) == "\"line\nbreak\"")
    assert(one(csvQuote(lit("semicolon;ok"))) == "semicolon;ok")
  }

  test("composed 2272→3857 equals lcc-inverse → mercator + arcgis nudge") {
    // anchor: City Hall-ish state-plane coords; composed query legs must
    // agree with running the two published legs by hand
    val (lonC, latC) = lccInverse2272(lit(2694444.0), lit(235902.0))
    val lon = one(graft.core.Determinism.r6(lonC)).toDouble
    val lat = one(graft.core.Determinism.r6(latC)).toDouble
    val mx = one(round(mercX(lit(lon)) + lit(-0.20), 1)).toDouble
    val my = one(round(mercY(lit(lat)) + lit(1.18), 1)).toDouble
    // Philadelphia is near lon -75.16, lat 39.95 → web-merc ≈ (-8.37e6, 4.86e6)
    assert(math.abs(mx + 8.367e6) < 2e4, s"mx=$mx")
    assert(math.abs(my - 4.859e6) < 2e4, s"my=$my")
  }

  test("vertex-wise reprojection preserves structure, transforms every vertex") {
    // every shape class: structure (parens/commas/type token) must survive,
    // and every vertex must equal the single-point transform of its input
    val (lonC, latC) = lccInverse2272(lit(2694444.0), lit(235902.0))
    val lon = one(graft.core.Determinism.r6(lonC))
    val lat = one(graft.core.Determinism.r6(latC))
    val pt = f"${lon.toDouble}%.6f ${lat.toDouble}%.6f"
    def rp(w: String) = one(reprojectVerts2272(lit(w)))
    assert(rp("POLYGON ((2694444 235902, 2694444 235902, 2694444 235902, 2694444 235902))")
      == s"POLYGON (($pt, $pt, $pt, $pt))")
    assert(rp("MULTIPOLYGON (((2694444 235902, 2694444 235902, 2694444 235902, 2694444 235902)), ((2694444 235902, 2694444 235902, 2694444 235902, 2694444 235902)))")
      == s"MULTIPOLYGON ((($pt, $pt, $pt, $pt)), (($pt, $pt, $pt, $pt)))")
    assert(rp("LINESTRING (2694444 235902, 2694444 235902)")
      == s"LINESTRING ($pt, $pt)")
    assert(rp("MULTILINESTRING ((2694444 235902, 2694444 235902), (2694444 235902, 2694444 235902))")
      == s"MULTILINESTRING (($pt, $pt), ($pt, $pt))")
    // distinct vertices stay distinct (no accidental first-vertex reuse)
    val two = rp("LINESTRING (2694444 235902, 2704444 245902)")
    val parts = two.stripPrefix("LINESTRING (").stripSuffix(")").split(", ")
    assert(parts.length == 2 && parts(0) != parts(1))
    // merc variant: same structure, 0.1 m grid rendering
    val m = one(reprojectVerts2272Merc(lit("LINESTRING (2694444 235902, 2704444 245902)")))
    assert(m.matches("LINESTRING \\(-?\\d+\\.\\d -?\\d+\\.\\d, -?\\d+\\.\\d -?\\d+\\.\\d\\)"), m)
  }

  test("vertex-wise reprojection: pinned output strings, both projections") {
    // literal strings: a rewrite of the fixed point or the tokenizer must
    // reproduce them bit for bit. A dimension label or a missing space
    // before '(' costs the opening paren (the first token then starts with
    // a letter, so its paren prefix is empty) — pinned as is.
    val golden = Seq(
      "POINT (2694444.25 235902.5)" ->
        ("POINT (-75.160296 39.951686)", "POINT (-8366806.1 4858925.1)"),
      "POINT Z (2694444 235902 12.5)" ->
        ("POINT -75.160297 39.951685)", "POINT -8366806.2 4858924.9)"),
      "POINT(2690000.00 250000.00)" ->
        ("POINT -75.174675 39.990726)", "POINT -8368406.7 4864595.9)"),
      "POLYGON ((2694444 235902, 2704444 235902, 2704444 245902, 2694444 235902))" ->
        ("POLYGON ((-75.160297 39.951685, -75.124644 39.950875, -75.123584 39.978314, -75.160297 39.951685))",
         "POLYGON ((-8366806.2 4858924.9, -8362837.3 4858807.3, -8362719.3 4862792.6, -8366806.2 4858924.9))"),
      "POLYGON Z ((2694444 235902 1, 2704444 235902 2, 2704444 245902 3, 2694444 235902 1))" ->
        ("POLYGON -75.160297 39.951685, -75.124644 39.950875, -75.123584 39.978314, -75.160297 39.951685))",
         "POLYGON -8366806.2 4858924.9, -8362837.3 4858807.3, -8362719.3 4862792.6, -8366806.2 4858924.9))"),
      "MULTIPOLYGON (((2694444 235902, 2704444 235902, 2704444 245902, 2694444 235902)), " +
        "((2660000.5 220000.75, 2670000 220000, 2670000 230000, 2660000.5 220000.75)))" ->
        ("MULTIPOLYGON (((-75.160297 39.951685, -75.124644 39.950875, -75.123584 39.978314, -75.160297 39.951685)), " +
           "((-75.284687 39.910758, -75.249056 39.909984, -75.248046 39.937424, -75.284687 39.910758)))",
         "MULTIPOLYGON (((-8366806.2 4858924.9, -8362837.3 4858807.3, -8362719.3 4862792.6, -8366806.2 4858924.9)), " +
           "((-8380653.2 4852983.5, -8376686.8 4852871.2, -8376574.4 4856854.2, -8380653.2 4852983.5)))"),
      "LINESTRING M (2694444 235902 1, 2704444 245902 2)" ->
        ("LINESTRING -75.160297 39.951685, -75.123584 39.978314)",
         "LINESTRING -8366806.2 4858924.9, -8362719.3 4862792.6)"),
      "POINT (-2694444.5 -235902.25)" ->
        ("POINT (-93.895564 37.513016)", "POINT (-10452406.6 4510859.1)"))
    val got = golden.map(_._1).toDF("w")
      .select(col("w"), reprojectVerts2272(col("w")), reprojectVerts2272Merc(col("w")))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    for ((w, want) <- golden) assert(got(w) == want, w)
  }

  test("vertex-wise reprojection: EMPTY passes through, blank/NULL/non-numeric give null") {
    val empty = Seq("POINT EMPTY", "POLYGON EMPTY", "POINT Z EMPTY")
    val bad = Seq(Some(""), Some("  "), None, Some("POINT (NaN NaN)"),
      Some("POLYGON ((2694444 235902, NaN NaN, 2704444 245902, 2694444 235902))"),
      Some("LINESTRING (2694444 235902, )"))
    val good = "POINT (2694444 235902)"
    // one job over every row: a bad row must neither abort it nor leak a
    // made-up coordinate (format_string renders null as "null"; r6's floor
    // turns NaN into 0). fixQnan turns a 2-D QNAN point into POINT (NaN NaN).
    val in = (empty.map(Some(_)) ++ bad :+ Some(good)).toDF("w")
      .withColumn("qnan", lit("POINT (1.#QNAN000 1.#QNAN000)"))
    val rows = graft.operators.EtlOps.fixQnan(in, "qnan")
      .select(col("w"), reprojectVerts2272(col("w")), reprojectVerts2272Merc(col("w")),
        reprojectVerts2272(col("qnan")), reprojectVerts2272Merc(col("qnan")))
      .collect()
    val byIn = rows.map(r =>
      Option(r.getString(0)) -> (Option(r.getString(1)), Option(r.getString(2)))).toMap
    for (w <- empty) assert(byIn(Some(w)) == (Some(w), Some(w)), w)
    for (w <- bad) assert(byIn(w) == (None, None), s"$w")
    assert(rows.forall(r => r.isNullAt(3) && r.isNullAt(4)))
    assert(byIn(Some(good))._1.contains("POINT (-75.160297 39.951685)"))
  }

  test("vertex-wise reprojection: expression tree stays linear in the fixed-point steps") {
    // an unrolled fixed point holds 2^5 copies of phi0 (~7,900 nodes for the pair)
    val plan = Seq("POINT (1 2)").toDF("c")
      .select(reprojectVerts2272(col("c")), reprojectVerts2272Merc(col("c")))
      .queryExecution.analyzed
    val nodes = plan.expressions.map(_.collect { case e => e }.size).sum
    assert(nodes < 1000, s"$nodes expression nodes")
  }

  test("grid join: zone counts equal a brute-force containment recomputation") {
    val got = graft.queries.Geom.queries("geom_grid_join")(spark, TestSpark.sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pts = graft.core.Tables.customer(spark, TestSpark.sf)
      .select("c_custkey").collect().map(_.getLong(0))
      .map(k => ((k * 7919) % 1000000 + 2400000, (k * 104729) % 300000 + 200000))
    val expected = (0 until 24).map { j =>
      val (xmin, xmax) = (2400000L + j * 37000L, 2400000L + j * 37000L + 50000L)
      val (ymin, ymax) = (200000L + (j % 6) * 45000L, 200000L + (j % 6) * 45000L + 60000L)
      j.toLong -> pts.count(p =>
        p._1 >= xmin && p._1 < xmax && p._2 >= ymin && p._2 < ymax).toLong
    }.filter(_._2 > 0).toMap
    assert(got == expected)
    // the grid turns containment into an EQUI join: broadcast hash, never
    // a nested loop over |points|x|zones|
    val plan = graft.queries.Geom.queries("geom_grid_join")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("extent: one box per shape class, bounded by the fixture's coordinate field") {
    val rows = graft.queries.Geom.queries("geom_extent")(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).sorted.toSeq ==
      Seq("LINESTRING", "MULTILINESTRING", "MULTIPOLYGON", "POLYGON"))
    // every geometry counted exactly once across the four classes
    val total = graft.core.Tables.customer(spark, TestSpark.sf).count()
    assert(rows.map(_._2).sum == total)
    // xi ∈ [2.4e6, 3.4e6), yi ∈ [2e5, 5e5); shape offsets add ≤ 1200
    for ((t, _, xmin, ymin, xmax, ymax) <- rows) {
      assert(xmin >= 2400000 && xmax < 3400000 + 1201, s"$t x [$xmin,$xmax]")
      assert(ymin >= 200000 && ymax < 500000 + 1201, s"$t y [$ymin,$ymax]")
      assert(xmin <= xmax && ymin <= ymax)
    }
  }
  test("quadkey: base-4 keys, prefix = parent tile, counts reconcile") {
    val rows = graft.queries.Geom.queries("geom_quadkey")(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val z = graft.queries.Geom.QuadZoom
    assert(rows.forall(_._1.length == z))
    assert(rows.forall(_._1.forall(c => c >= '0' && c <= '3')))
    // tile indices in range and the key decodes back to (tx, ty)
    for ((qk, tx, ty, _) <- rows) {
      assert(tx >= 0 && tx < (1L << z) && ty >= 0 && ty < (1L << z))
      var (dx, dy) = (0L, 0L)
      for (c <- qk) { val d = c - '0'; dx = dx * 2 + (d & 1); dy = dy * 2 + (d >> 1) }
      assert(dx == tx && dy == ty, s"$qk decodes to ($dx,$dy) not ($tx,$ty)")
    }
    // every customer lands in exactly one tile
    assert(rows.map(_._4).sum == graft.core.Tables.customer(spark, TestSpark.sf).count())
    // prefix aggregation = tiling at zoom-2 coarser (the pyramid property)
    val byPrefix = rows.groupBy(_._1.take(z - 2)).view
      .mapValues(_.map(_._4).sum).toMap
    val byShift = rows.groupBy(t => (t._2 >> 2, t._3 >> 2)).view
      .mapValues(_.map(_._4).sum).toMap
    assert(byPrefix.values.toSeq.sorted == byShift.values.toSeq.sorted)
  }
  test("knn join: ranked, distance-sorted, matches in-window brute force") {
    val rows = graft.queries.Geom.queries("geom_knn_join")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    for ((probe, grp0) <- rows.groupBy(_._1)) {
      val grp = grp0.sortBy(_._2)
      // ranks are 1..n contiguous, distances non-decreasing
      assert(grp.map(_._2).toSeq == (1 to grp.length).toSeq, s"probe $probe ranks")
      assert(grp.map(_._4).toSeq == grp.map(_._4).sorted.toSeq)
      assert(grp.map(_._3).distinct.length == grp.length)
      assert(grp.length <= graft.queries.Geom.KnnK)
    }
    // brute-force one probe inside its 3x3 10-degree window
    val pts = graft.core.Tables.customer(spark, TestSpark.sf)
      .select(org.apache.spark.sql.functions.col("c_custkey")).collect()
      .map(_.getLong(0))
      .map { k =>
        val lon = (k * 7919L % 3600000L).toDouble / 10000.0 - 180.0
        val lat = (k * 104729L % 1600000L).toDouble / 10000.0 - 80.0
        (k, lon, lat, math.floor(lon / 10.0).toInt, math.floor(lat / 10.0).toInt)
      }
    val probe = rows.head._1
    val p = pts.find(_._1 == probe).get
    val expected = pts
      .filter(q => q._1 != probe && math.abs(q._4 - p._4) <= 1 && math.abs(q._5 - p._5) <= 1)
      .map(q => (q._1, (q._2 - p._2) * (q._2 - p._2) + (q._3 - p._3) * (q._3 - p._3)))
      .sortBy(t => (t._2, t._1)).take(graft.queries.Geom.KnnK).map(_._1).toSeq
    assert(rows.filter(_._1 == probe).sortBy(_._2).map(_._3).toSeq == expected)
  }
  test("polygon area: shoelace reproduces closed-form rectangle/triangle measures") {
    val rows = graft.queries.Geom.queries("geom_polygon_area")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.forall(_._2 == "POLYGON"))
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    for ((id, _, area, perim) <- rows) {
      val w = (id % 50 + 1).toDouble; val h = (id % 37 + 2).toDouble
      if (id % 2 == 0) {
        assert(area == w * h, s"rect $id area $area != ${w * h}")
        assert(perim == r4(2 * (r6(w) + r6(h))), s"rect $id perimeter $perim")
      } else {
        assert(area == w * h / 2.0, s"tri $id area $area != ${w * h / 2}")
        val expect = r4(BigDecimal(r6(w)).toDouble + BigDecimal(r6(h)).toDouble
          + r6(math.sqrt(w * w + h * h)))
        assert(math.abs(perim - expect) < 1e-9, s"tri $id perimeter $perim vs $expect")
      }
    }
  }
  test("centroid: shoelace moments reproduce closed-form rectangle/triangle centroids") {
    val rows = graft.queries.Geom.queries("geom_centroid")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.forall(_._2 == "POLYGON"))
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    for ((id, _, cx, cy) <- rows) {
      val x0 = (id * 7919L % 1000000L + 2400000L).toDouble
      val y0 = (id * 104729L % 300000L + 200000L).toDouble
      val w = (id % 50 + 1).toDouble; val h = (id % 37 + 2).toDouble
      val (ex, ey) =
        if (id % 2 == 0) (x0 + w / 2.0, y0 + h / 2.0)
        else (x0 + w / 3.0, y0 + h / 3.0)
      assert(math.abs(cx - r6(ex)) < 1e-6, s"$id cx $cx vs ${r6(ex)}")
      assert(math.abs(cy - r6(ey)) < 1e-6, s"$id cy $cy vs ${r6(ey)}")
    }
  }
}
