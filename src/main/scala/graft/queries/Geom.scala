package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables._
import graft.functions.GeomFunctions._

/** Geometry (WKT) operator queries (SURVEY.md §2 "Geometry").
  *
  * The testdata has no geometry column, so each query synthesizes WKT
  * deterministically from integer keys — integer coordinates only, so the
  * Spark and DuckDB string renderings are identical and the oracle compare
  * is exact. All geometry logic is `GeomFunctions` column math (no UDFs).
  */
object Geom {

  // Deterministic integer "coordinates" derived from the customer key.
  private def xi(c: Column): Column = (c * 7919L)   % 1000000L + 2400000L
  private def yi(c: Column): Column = (c * 104729L) % 300000L  + 200000L
  private def zi(c: Column): Column = c % 100L

  private def str(c: Column): Column = c.cast("string")

  // LINESTRING Z with two points → force_2d strips the Z label + values.
  def forceTwoD(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val wkt = concat(lit("LINESTRING Z ("),
      str(xi(k)), lit(" "), str(yi(k)), lit(" "), str(zi(k)), lit(", "),
      str(xi(k) + 10L), lit(" "), str(yi(k) + 10L), lit(" "), str(zi(k)), lit(")"))
    c.select(k.as("id"), force2d(wkt).as("wkt_2d")).orderBy("id")
  }

  // Even keys get POLYGON (promoted), odd keys are already MULTIPOLYGON.
  def promoteMultiQ(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val ring = concat(str(xi(k)), lit(" "), str(yi(k)), lit(", "),
      str(xi(k) + 20L), lit(" "), str(yi(k)), lit(", "),
      str(xi(k)), lit(" "), str(yi(k) + 20L), lit(", "),
      str(xi(k)), lit(" "), str(yi(k)))
    val wkt = when(k % 2 === 0, concat(lit("POLYGON (("), ring, lit("))")))
      .otherwise(concat(lit("MULTIPOLYGON ((("), ring, lit(")))")))
    c.select(k.as("id"), promoteMulti(wkt).as("wkt_multi"),
        geomTypeOf(promoteMulti(wkt)).as("geom_type"))
      .orderBy("id")
  }

  // `SRID=n;WKT` split: srid, type, bare wkt.
  def stripSrid(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val ewkt = concat(lit("SRID="), str((k % 2) * 2054L + 2272L), lit(";POINT ("),
      str(xi(k)), lit(" "), str(yi(k)), lit(")"))
    c.select(k.as("id"), sridOf(ewkt).as("srid"),
        geomTypeOf(wktOf(ewkt)).as("geom_type"), wktOf(ewkt).as("wkt"))
      .orderBy("id")
  }

  // POINT lon/lat extraction (scaled-integer coords → exact doubles).
  def pointLatLng(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val lonI = (k * 7919L)   % 3600000L  // 0..3599999 → -180..180 by /1e4
    val latI = (k * 104729L) % 1600000L  // 0..1599999 → -80..80
    val wkt = concat(lit("POINT ("),
      str(lonI), lit(" "), str(latI), lit(")"))
    c.select(k.as("id"),
        (pointX(wkt) / 10000.0 - 180.0).as("lng"),
        (pointY(wkt) / 10000.0 - 80.0).as("lat"))
      .orderBy("id")
  }

  // 4326 → 3857 web-mercator projection, rounded to 0.1 m for libm parity.
  /** Bing-maps quadkey tiling at zoom [[QuadZoom]] — the standard spatial
    * bucketing key for map-reduce geo work (one string key per tile whose
    * PREFIX is the parent tile at every coarser zoom, so a groupBy on
    * substr(quadkey, 1, z) re-aggregates to any zoom without re-tiling).
    * Points project to Web-Mercator via the same mercX/mercY legs as
    * geom_reproject_merc (rounded to 0.1 m first — the proven cross-engine
    * anchor), then tile indices interleave bit-wise into the base-4 key.
    * Pure map-side column math + one aggregation on the tile key.
    */
  val QuadZoom = 10

  // ---- grid-bucketed k-nearest-neighbor join --------------------------------
  val KnnK = 3
  val KnnProbes = 20

  /** Bounded-window kNN join: for a FIXED panel of probe points, the k
    * nearest other points searching the probe's 3×3 block of 10° grid cells
    * — the "k nearest within radius" spatial primitive (geocoder reverse
    * lookup, nearest-station assignment). The window bound is part of the
    * semantics: unbounded exact kNN needs expanding re-search for isolated
    * probes, which is a driver loop, not a plan — production pipelines
    * bound the radius for exactly this reason.
    *
    * Scale shape: the probe panel is constant-size (like the ANN family's
    * — corpus-independent), fans out ×9 cells, and BROADCASTS onto the
    * cell-bucketed corpus: an equi join on the cell key, exact distance +
    * per-probe row_number after. The corpus is scanned once and never
    * self-joins.
    */
  def knnJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = customer(s, d)
    val k = c("c_custkey")
    val pts = c.select(k.as("id"),
        (((k * 7919L)   % 3600000L).cast("double") / 10000.0 - 180.0).as("lon"),
        (((k * 104729L) % 1600000L).cast("double") / 10000.0 - 80.0).as("lat"))
      .withColumn("cx", floor(col("lon") / 10.0).cast("int"))
      .withColumn("cy", floor(col("lat") / 10.0).cast("int"))
    val probeIds = pts.select(col("id"))
      .orderBy(graft.functions.HashFunctions.md5Long(
        concat(lit("knn:"), col("id"))), col("id"))
      .limit(KnnProbes)
    val off = Seq(-1, 0, 1)
    val probeCells = pts.join(probeIds, "id")
      .select(col("id").as("probe_id"), col("lon").as("plon"),
        col("lat").as("plat"),
        explode(array(off.flatMap(dx => off.map(dy =>
          struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy")))): _*))
          .as("cell"))
      .select(col("probe_id"), col("plon"), col("plat"),
        col("cell.cx").as("cx"), col("cell.cy").as("cy"))
    val cand = pts.join(broadcast(probeCells), Seq("cx", "cy"))
      .filter(col("id") =!= col("probe_id"))
      .withColumn("d2",
        (col("lon") - col("plon")) * (col("lon") - col("plon"))
          + (col("lat") - col("plat")) * (col("lat") - col("plat")))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("d2"), col("id"))
    cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= KnnK)
      .select(col("probe_id"), col("rk"), col("id").as("neighbor_id"),
        graft.core.Determinism.r6(col("d2")).as("d2"))
      .orderBy("probe_id", "rk")
  }

  /** Shoelace area + perimeter of parsed WKT polygon rings — the measure
    * pass a geo pipeline runs after reprojection (zoning acreage, parcel
    * stats). Vertices come out of the WKT by the same regexp walk the
    * extent/esri ops use; the shoelace terms are exact integers (integer
    * test coords) summed as DECIMAL so partition order can never flip a
    * bit, and perimeter accumulates 6-dp-floored edge lengths the same
    * exact way. Mixed fixture: even keys are axis-parallel rectangles
    * (integer edges), odd keys right triangles (irrational hypotenuse —
    * the sqrt path is genuinely exercised).
    *
    * Scale shape: explode is per-ring-vertex (bounded by ring size), the
    * one shuffle is the per-id re-aggregation; geom_extent shows the
    * in-row alternative — this op explodes because edges need ADJACENT
    * vertex pairs, which the in-row form expresses less clearly.
    */
  def polygonArea(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val (x0, y0) = (xi(k), yi(k))
    val (w0, h0) = (k % 50L + 1L, k % 37L + 2L)
    def pt(x: Column, y: Column) = concat(str(x), lit(" "), str(y))
    val rect = concat(lit("POLYGON (("), pt(x0, y0), lit(", "),
      pt(x0 + w0, y0), lit(", "), pt(x0 + w0, y0 + h0), lit(", "),
      pt(x0, y0 + h0), lit(", "), pt(x0, y0), lit("))"))
    val tri = concat(lit("POLYGON (("), pt(x0, y0), lit(", "),
      pt(x0 + w0, y0), lit(", "), pt(x0, y0 + h0), lit(", "),
      pt(x0, y0), lit("))"))
    val wkt = when(k % 2 === 0, rect).otherwise(tri)
    val nums = transform(
      regexp_extract_all(wkt, lit("-?\\d+\\.?\\d*"), lit(0)), _.cast("double"))
    val verts = c.select(k.as("id"), geomTypeOf(wkt).as("geom_type"),
        // size/2 via Column./ is a DOUBLE divide — cast back for sequence()
        nums.as("ns"),
        explode(sequence(lit(0), (size(nums) / 2).cast("int") - 2)).as("i"))
      .select(col("id"), col("geom_type"),
        element_at(col("ns"), col("i") * 2 + 1).as("x1"),
        element_at(col("ns"), col("i") * 2 + 2).as("y1"),
        element_at(col("ns"), col("i") * 2 + 3).as("x2"),
        element_at(col("ns"), col("i") * 2 + 4).as("y2"))
    val term = (col("x1") * col("y2") - col("x2") * col("y1"))
      .cast("decimal(38,0)")
    val edge = sqrt((col("x2") - col("x1")) * (col("x2") - col("x1"))
      + (col("y2") - col("y1")) * (col("y2") - col("y1")))
    verts.groupBy(col("id"), col("geom_type"))
      .agg(
        (abs(sum(term).cast("double")) / 2.0).as("area"),
        graft.core.Determinism.r4(graft.core.Determinism.dsum(
          graft.core.Determinism.r6(edge))).as("perimeter"))
      .orderBy("id")
  }

  /** Polygon centroid via the shoelace first moments: Cx = Σ(x᷈ᵢ+x᷈ᵢ₊₁)·crossᵢ
    * / (3·Σcross), on [[polygonArea]]'s WKT fixture. The moment terms reach
    * ~1e19 — beyond double's 2⁵³ exact-integer range — so each factor is
    * cast to DECIMAL(18,0) and multiplied/summed in exact decimal (the only
    * float ops are the final casts and one division, identical IEEE in any
    * engine). Signed area keeps the formula orientation-proof. Same scale
    * shape as the area pass: per-vertex explode, one per-id re-aggregation.
    */
  def centroid(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val (x0, y0) = (xi(k), yi(k))
    val (w0, h0) = (k % 50L + 1L, k % 37L + 2L)
    def pt(x: Column, y: Column) = concat(str(x), lit(" "), str(y))
    val rect = concat(lit("POLYGON (("), pt(x0, y0), lit(", "),
      pt(x0 + w0, y0), lit(", "), pt(x0 + w0, y0 + h0), lit(", "),
      pt(x0, y0 + h0), lit(", "), pt(x0, y0), lit("))"))
    val tri = concat(lit("POLYGON (("), pt(x0, y0), lit(", "),
      pt(x0 + w0, y0), lit(", "), pt(x0, y0 + h0), lit(", "),
      pt(x0, y0), lit("))"))
    val wkt = when(k % 2 === 0, rect).otherwise(tri)
    val nums = transform(
      regexp_extract_all(wkt, lit("-?\\d+\\.?\\d*"), lit(0)), _.cast("double"))
    val verts = c.select(k.as("id"), geomTypeOf(wkt).as("geom_type"),
        nums.as("ns"),
        explode(sequence(lit(0), (size(nums) / 2).cast("int") - 2)).as("i"))
      .select(col("id"), col("geom_type"),
        element_at(col("ns"), col("i") * 2 + 1).as("x1"),
        element_at(col("ns"), col("i") * 2 + 2).as("y1"),
        element_at(col("ns"), col("i") * 2 + 3).as("x2"),
        element_at(col("ns"), col("i") * 2 + 4).as("y2"))
    val cross = (col("x1") * col("y2") - col("x2") * col("y1"))
      .cast("decimal(18,0)")
    val mx = (col("x1") + col("x2")).cast("decimal(18,0)") * cross
    val my = (col("y1") + col("y2")).cast("decimal(18,0)") * cross
    val r6 = graft.core.Determinism.r6 _
    verts.groupBy(col("id"), col("geom_type"))
      .agg(sum(cross).as("a2"), sum(mx).as("sx"), sum(my).as("sy"))
      .select(col("id"), col("geom_type"),
        r6(col("sx").cast("double") / (lit(3.0) * col("a2").cast("double")))
          .as("cx"),
        r6(col("sy").cast("double") / (lit(3.0) * col("a2").cast("double")))
          .as("cy"))
      .orderBy("id")
  }

  def quadkey(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val lon = ((k * 7919L)   % 3600000L).cast("double") / 10000.0 - 180.0
    val lat = ((k * 104729L) % 1600000L).cast("double") / 10000.0 - 80.0
    val L = math.Pi * 6378137.0 // half the Web-Mercator world extent, meters
    val n = 1 << QuadZoom
    val base = c.select(
      floor((round(mercX(lon), 1) + L) / (2 * L) * n).cast("long").as("tx"),
      floor((lit(L) - round(mercY(lat), 1)) / (2 * L) * n).cast("long").as("ty"))
    val digits = (1 to QuadZoom).map { level =>
      val sh = QuadZoom - level
      (shiftright(col("ty"), sh).bitwiseAND(lit(1L)) * 2L +
        shiftright(col("tx"), sh).bitwiseAND(lit(1L))).cast("string")
    }
    base.withColumn("quadkey", concat(digits: _*))
      .groupBy(col("quadkey"), col("tx"), col("ty"))
      .agg(count(lit(1)).as("n_points"))
      .orderBy("quadkey")
  }

  def reprojectMerc(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val lon = ((k * 7919L)   % 3600000L).cast("double") / 10000.0 - 180.0
    val lat = ((k * 104729L) % 1600000L).cast("double") / 10000.0 - 80.0
    c.select(k.as("id"),
        round(mercX(lon), 1).as("merc_x"),
        round(mercY(lat), 1).as("merc_y"))
      .orderBy("id")
  }

  // EPSG:2272 state-plane (ftUS) → lon/lat. Oracle: the same LCC 2SP
  // inverse arithmetic mirrored as a DuckDB CTE chain (GeomSpec additionally
  // anchors the math itself via the origin identity + forward round-trip).
  def reprojectStatePlane(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val (lon, lat) = lccInverse2272(xi(k).cast("double"), yi(k).cast("double"))
    c.select(k.as("id"),
        graft.core.Determinism.r6(lon).as("lng"),
        graft.core.Determinism.r6(lat).as("lat"))
      .orderBy("id")
  }

  // EPSG:2272 → 3857, the reference's composed production path
  // (db2.py:731-819 build_reprojector: 2272→4269 LCC inverse, →4326 datum
  // step, →3857 mercator, then the ArcGIS-alignment affine nudge
  // xshift=-0.20/yshift=+1.18, db2_commands.py:29-30). The 4269→4326 datum
  // op is sub-meter and modeled as identity (as in geom_reproject_sp); the
  // geographic intermediate is 6-dp-rounded on BOTH engines so the final
  // 0.1 m rounding is deterministic across libm/JVM.
  def reproject2272Merc(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val (lon0, lat0) = lccInverse2272(xi(k).cast("double"), yi(k).cast("double"))
    val lon = graft.core.Determinism.r6(lon0)
    val lat = graft.core.Determinism.r6(lat0)
    c.select(k.as("id"),
        round(mercX(lon) + lit(-0.20), 1).as("merc_x"),
        round(mercY(lat) + lit(1.18), 1).as("merc_y"))
      .orderBy("id")
  }

  // Vertex-wise reprojection of NON-POINT geometries — the production
  // transformation every polygon/line dataset takes (db2.py:768-819
  // reproj_vec maps the composed 2272→4326→3857 pipeline over EVERY vertex
  // of any shape; db2.py:821-880 copy_rows_transformed streams whole tables
  // through it). One of each non-point shape class per key; both the
  // geographic (4326) and the nudged web-mercator (3857) renderings ship.
  /** One-of-each-shape-class WKT fixture (shared by reprojectPoly and
    * extentQ): POLYGON / MULTIPOLYGON / LINESTRING / MULTILINESTRING per
    * key mod 4, all in EPSG:2272 feet.
    */
  private def shapeWkt(k: Column): Column = {
    val x = xi(k); val y = yi(k)
    def p(cx: Column, cy: Column) = concat(str(cx), lit(" "), str(cy))
    val ringA = concat(p(x, y), lit(", "), p(x + 200L, y), lit(", "),
      p(x, y + 200L), lit(", "), p(x, y))
    val ringB = concat(p(x + 1000L, y + 1000L), lit(", "),
      p(x + 1200L, y + 1000L), lit(", "),
      p(x + 1000L, y + 1200L), lit(", "), p(x + 1000L, y + 1000L))
    val seg1 = concat(p(x, y), lit(", "), p(x + 150L, y + 150L), lit(", "),
      p(x + 300L, y + 100L))
    val seg2 = concat(p(x, y + 50L), lit(", "), p(x + 150L, y + 200L))
    when(k % 4 === 0, concat(lit("POLYGON (("), ringA, lit("))")))
      .when(k % 4 === 1, concat(lit("MULTIPOLYGON ((("), ringA, lit(")), (("),
        ringB, lit(")))")))
      .when(k % 4 === 2, concat(lit("LINESTRING ("), seg1, lit(")")))
      .otherwise(concat(lit("MULTILINESTRING (("), seg1, lit("), ("), seg2,
        lit("))")))
  }

  def reprojectPoly(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val wkt = shapeWkt(k)
    c.select(k.as("id"), geomTypeOf(wkt).as("geom_type"),
        reprojectVerts2272(wkt).as("wkt_4326"),
        reprojectVerts2272Merc(wkt).as("wkt_3857"))
      .orderBy("id")
  }

  // Layer extent: the per-shape-class bounding box AGO publishes with a
  // feature layer (the service's `extent`/`fullExtent` property every
  // layer create/overwrite recomputes). Per-row min/max stay IN-ROW over
  // the vertex array (no explode — array_min/array_max on the parsed
  // coordinate list), then one tiny groupBy on the shape class: at any
  // corpus size only 4×(4 doubles) cross the shuffle.
  def extentQ(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val wkt = shapeWkt(k)
    val nums = transform(
      regexp_extract_all(wkt, lit("-?\\d+\\.?\\d*"), lit(0)), _.cast("double"))
    val xs = filter(nums, (_, i) => i % 2 === 0)
    val ys = filter(nums, (_, i) => i % 2 === 1)
    c.select(geomTypeOf(wkt).as("geom_type"),
        array_min(xs).as("rxmin"), array_max(xs).as("rxmax"),
        array_min(ys).as("rymin"), array_max(ys).as("rymax"))
      .groupBy(col("geom_type"))
      .agg(count(lit(1)).as("n_geoms"),
        min(col("rxmin")).as("xmin"), min(col("rymin")).as("ymin"),
        max(col("rxmax")).as("xmax"), max(col("rymax")).as("ymax"))
      .orderBy("geom_type")
  }

  /** Grid-bucketed spatial containment join: points → zone bboxes via a
    * 50 000 ft grid. Each zone expands to the grid cells it covers (tiny
    * broadcast), each point computes its cell ONCE (two integer divs), and
    * the join is EQUI on (cx, cy) with an exact bbox residual — the
    * scalable alternative to a non-equi range join, whose candidate set is
    * bounded by cell occupancy instead of |points|×|zones|. Zones are 24
    * deterministic bboxes wider (50 000) than their stride (37 000), so
    * they overlap and points legitimately land in multiple zones.
    */
  val GridCell = 50000L

  def gridJoin(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val pts = c.select(k.as("id"),
      xi(k).cast("long").as("x"), yi(k).cast("long").as("y"))
    val zones = s.range(24).select(col("id").as("zone_id"),
      (lit(2400000L) + col("id") * 37000L).as("xmin"),
      (lit(2400000L) + col("id") * 37000L + 50000L).as("xmax"),
      (lit(200000L) + (col("id") % 6) * 45000L).as("ymin"),
      (lit(200000L) + (col("id") % 6) * 45000L + 60000L).as("ymax"))
    val zcells = zones
      .withColumn("cx", explode(sequence(
        expr(s"xmin div $GridCell"), expr(s"xmax div $GridCell"))))
      .withColumn("cy", explode(sequence(
        expr(s"ymin div $GridCell"), expr(s"ymax div $GridCell"))))
    pts.withColumn("cx", expr(s"x div $GridCell"))
      .withColumn("cy", expr(s"y div $GridCell"))
      .join(broadcast(zcells), Seq("cx", "cy"))
      .filter(col("x") >= col("xmin") && col("x") < col("xmax") &&
        col("y") >= col("ymin") && col("y") < col("ymax"))
      .groupBy(col("zone_id"))
      .agg(count(lit(1)).as("n_points"))
      .orderBy("zone_id")
  }

  // WKT → Esri-JSON geometry objects for AGO upsert (ago.py:361-430,
  // 674-758): one of each shape class per key, with planted EMPTY points.
  def esriRings(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val x = xi(k); val y = yi(k)
    def p(cx: Column, cy: Column) = concat(str(cx), lit(" "), str(cy))
    val ringA = concat(p(x, y), lit(", "), p(x + 20L, y), lit(", "),
      p(x, y + 20L), lit(", "), p(x, y))
    val ringB = concat(p(x + 100L, y + 100L), lit(", "), p(x + 120L, y + 100L),
      lit(", "), p(x + 100L, y + 120L), lit(", "), p(x + 100L, y + 100L))
    val seg1 = concat(p(x, y), lit(", "), p(x + 10L, y + 10L))
    val seg2 = concat(p(x, y + 5L), lit(", "), p(x + 10L, y + 15L))
    val wkt = when(k % 20 === 0, lit("POINT EMPTY"))
      .when(k % 5 === 0, concat(lit("POINT ("), p(x, y), lit(")")))
      .when(k % 5 === 1, concat(lit("POLYGON (("), ringA, lit("))")))
      .when(k % 5 === 2, concat(lit("MULTIPOLYGON ((("), ringA, lit(")), (("),
        ringB, lit(")))")))
      .when(k % 5 === 3, concat(lit("LINESTRING ("), seg1, lit(")")))
      .otherwise(concat(lit("MULTILINESTRING (("), seg1, lit("), ("), seg2, lit("))")))
    val ewkt = concat(lit("SRID=2272;"), wkt)
    c.select(k.as("id"),
        esriJson(ewkt, 3857, "esriGeometryPoint").as("esri_json"))
      .orderBy("id")
  }

  // Structural WKT validity gate before an AGO upload (ago.py:398-406):
  // planted defects — unclosed ring, 3-point ring, unbalanced parens,
  // unknown type token — must be flagged; everything else passes.
  def validityCheck(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val x = xi(k); val y = yi(k)
    def p(cx: Column, cy: Column) = concat(str(cx), lit(" "), str(cy))
    val ringOk = concat(p(x, y), lit(", "), p(x + 20L, y), lit(", "),
      p(x, y + 20L), lit(", "), p(x, y))
    val ringOpen = concat(p(x, y), lit(", "), p(x + 20L, y), lit(", "),
      p(x, y + 20L), lit(", "), p(x + 1L, y))
    val ringSmall = concat(p(x, y), lit(", "), p(x + 20L, y), lit(", "), p(x, y))
    val wkt = when(k % 11 === 0, concat(lit("POLYGON (("), ringOpen, lit("))")))
      .when(k % 13 === 0, concat(lit("POLYGON (("), ringSmall, lit("))")))
      .when(k % 17 === 0, concat(lit("POLYGON (("), ringOk, lit(")")))
      .when(k % 19 === 0, concat(lit("TRIANGLE (("), ringOk, lit("))")))
      .when(k % 5 === 0, concat(lit("MULTIPOLYGON ((("), ringOk, lit(")), (("),
        ringOk, lit(")))")))
      .when(k % 5 === 1, concat(lit("POINT ("), p(x, y), lit(")")))
      .when(k % 5 === 2, concat(lit("LINESTRING ("), p(x, y), lit(", "),
        p(x + 10L, y + 10L), lit(")")))
      .otherwise(concat(lit("POLYGON (("), ringOk, lit("))")))
    c.select(k.as("id"), geomTypeOf(wkt).as("geom_type"),
        parensBalanced(wkt).cast("int").as("paren_ok"),
        when(geomTypeOf(wkt).isin("POLYGON", "MULTIPOLYGON"),
          ringsClosed(wkt).cast("int")).otherwise(lit(1)).as("rings_closed"),
        when(geomTypeOf(wkt).isin("POLYGON", "MULTIPOLYGON"),
          ringsMinPoints(wkt).cast("int")).otherwise(lit(1)).as("rings_minpts"),
        wktStructurallyValid(wkt).cast("int").as("is_valid"))
      .orderBy("id")
  }

  // The opendata CSV export pipeline end-to-end (opendata.py:92-345):
  // lowercase header names, bad-SRID remap (300001→2272), SRID= strip,
  // point reprojection to 4326 (the "always to 4326 for opendata" rule via
  // the LCC inverse), lat/lng extracted as their own fields, shape dropped,
  // and each row rendered as a QUOTE_MINIMAL csv line (petl tocsv) — names
  // with planted commas/quotes must come out quoted-and-doubled. Lat/lng in
  // the csv line are %.6f-formatted (printf of a 6-dp-floored double is
  // identical across engines); the standalone columns stay r6 doubles.
  def opendataExport(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val ewkt = concat(lit("SRID=300001;POINT ("),
      str(xi(k)), lit(" "), str(yi(k)), lit(")"))
    val name = when(k % 7 === 0, concat(c("c_name"), lit(", \"vip\"")))
      .otherwise(c("c_name"))
    val (lon0, lat0) = lccInverse2272(pointX(wktOf(ewkt)), pointY(wktOf(ewkt)))
    val lng = graft.core.Determinism.r6(lon0)
    val lat = graft.core.Determinism.r6(lat0)
    c.select(k.as("id"),
        remapBadSrid(sridOf(ewkt)).as("from_srid"),
        lng.as("lng"), lat.as("lat"),
        concat_ws(",", k.cast("string"), csvQuote(name),
          format_string("%.6f", lng), format_string("%.6f", lat))
          .as("csv_line"))
      .orderBy("id")
  }

  // Bad-SRID lookup remap over the reference's correction table.
  private val bads = badSridMap.keys.toSeq.sorted
  def badSridRemapQ(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey")
    val srid = bads.zipWithIndex.foldLeft(lit(bads.head): Column) {
      case (acc, (v, i)) => when(k % bads.size === i, lit(v)).otherwise(acc)
    }
    c.select(k.as("id"), srid.as("src_srid"), remapBadSrid(srid).as("srid"))
      .orderBy("id")
  }

  /** Grid cell size for the point-in-polygon join (polygon bboxes are at
    * most 51×39, so a polygon spans at most 2×2 cells).
    */
  private val PipCell = 64L

  /** Point-in-polygon spatial join, grid-blocked: polygons (the
    * [[polygonArea]] rects/triangles anchored at the customer grid) emit
    * every 64×64 cell their bbox overlaps (≤4 — bounded by shape size, the
    * spatial analog of MaxShingleDf); points (one per order, jittered
    * around its customer's anchor) emit exactly one cell. The equi-join on
    * cell co-locates candidates — at 100 TB both sides shuffle ONCE by
    * cell and per-cell density is bounded by the synthetic layout, the
    * standard PIP-at-scale shape (vs an unbounded bbox theta-join). The
    * bbox containment check rides in the join condition, so a pair
    * survives only via the point's unique cell — no post-join dedup.
    *
    * The exact test is the even-odd crossing rule (PNPOLY, public
    * W. Randolph Franklin formulation) integerized by cross-multiplying
    * the ray-intersection comparison — pure BIGINT arithmetic, so Spark
    * and DuckDB agree bit-for-bit, boundary conventions included.
    * Output: per polygon, how many points landed inside (polygons with
    * none drop out), with min/max point id as the identity check.
    */
  def pipJoin(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val k = c("c_custkey").cast("long")
    val (x0, y0) = (xi(k), yi(k))
    val (w0, h0) = (k % 50L + 1L, k % 37L + 2L)
    def e(a: Column, b: Column, p: Column, q: Column) =
      struct(a.as("x1"), b.as("y1"), p.as("x2"), q.as("y2"))
    val rectE = array(
      e(x0, y0, x0 + w0, y0), e(x0 + w0, y0, x0 + w0, y0 + h0),
      e(x0 + w0, y0 + h0, x0, y0 + h0), e(x0, y0 + h0, x0, y0))
    val triE = array(
      e(x0, y0, x0 + w0, y0), e(x0 + w0, y0, x0, y0 + h0),
      e(x0, y0 + h0, x0, y0))
    val polys = c.select(k.as("id"), x0.as("bx0"), y0.as("by0"),
        (x0 + w0).as("bx1"), (y0 + h0).as("by1"),
        when(k % 2L === 0L, rectE).otherwise(triE).as("edges"))
      .withColumn("cx", explode(sequence(
        expr(s"bx0 div $PipCell"), expr(s"bx1 div $PipCell"))))
      .withColumn("cy", explode(sequence(
        expr(s"by0 div $PipCell"), expr(s"by1 div $PipCell"))))
    val o = orders(s, d)
    val ok = o("o_orderkey").cast("long")
    val ck = o("o_custkey").cast("long")
    val pts = o.select(ok.as("pid"),
        (xi(ck) + ok % 97L - 23L).as("px"), (yi(ck) + ok % 61L - 12L).as("py"))
      .withColumn("pcx", expr(s"px div $PipCell"))
      .withColumn("pcy", expr(s"py div $PipCell"))
    val cand = polys.join(pts,
      col("cx") === col("pcx") && col("cy") === col("pcy") &&
        col("px") >= col("bx0") && col("px") <= col("bx1") &&
        col("py") >= col("by0") && col("py") <= col("by1"))
    val ed = cand.select(col("id"), col("pid"), col("px"), col("py"),
        explode(col("edges")).as("e"))
      .select(col("id"), col("pid"), col("px"), col("py"),
        col("e.x1").as("x1"), col("e.y1").as("y1"),
        col("e.x2").as("x2"), col("e.y2").as("y2"))
    val spans = (col("y1") > col("py")) =!= (col("y2") > col("py"))
    val lhs = (col("px") - col("x1")) * (col("y2") - col("y1"))
    val rhs = (col("py") - col("y1")) * (col("x2") - col("x1"))
    val crossing = spans &&
      when(col("y2") > col("y1"), lhs < rhs).otherwise(lhs > rhs)
    ed.groupBy("id", "pid")
      .agg(sum(when(crossing, 1L).otherwise(0L)).as("nc"))
      .filter(col("nc") % 2L === 1L)
      .groupBy(col("id").as("poly_id"))
      .agg(count(lit(1)).as("n_inside"),
        min("pid").as("min_pt"), max("pid").as("max_pt"))
      .orderBy("poly_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "geom_pip_join"       -> (pipJoin _),
    "geom_force_2d"       -> (forceTwoD _),
    "geom_promote_multi"  -> (promoteMultiQ _),
    "geom_strip_srid"     -> (stripSrid _),
    "geom_point_latlng"   -> (pointLatLng _),
    "geom_quadkey"        -> (quadkey _),
    "geom_knn_join"       -> (knnJoin _),
    "geom_polygon_area"   -> (polygonArea _),
    "geom_centroid"       -> (centroid _),
    "geom_reproject_merc" -> (reprojectMerc _),
    "geom_reproject_sp"   -> (reprojectStatePlane _),
    "geom_reproject_2272_merc" -> (reproject2272Merc _),
    "geom_extent"         -> (extentQ _),
    "geom_grid_join"      -> (gridJoin _),
    "geom_reproject_poly" -> (reprojectPoly _),
    "geom_esri_rings"     -> (esriRings _),
    "geom_validity_check" -> (validityCheck _),
    "geom_bad_srid_remap" -> (badSridRemapQ _),
    "opendata_csv_export" -> (opendataExport _)
  )

  private val xiSql = "((c_custkey * 7919) % 1000000 + 2400000)"
  private val yiSql = "((c_custkey * 104729) % 300000 + 200000)"
  private val ziSql = "(c_custkey % 100)"

  val oracles: Map[String, String] = Map(
    "geom_pip_join" -> {
      val x0 = "((CAST(c_custkey AS BIGINT) * 7919) % 1000000 + 2400000)"
      val y0 = "((CAST(c_custkey AS BIGINT) * 104729) % 300000 + 200000)"
      val w0 = "(CAST(c_custkey AS BIGINT) % 50 + 1)"
      val h0 = "(CAST(c_custkey AS BIGINT) % 37 + 2)"
      s"""WITH poly AS (SELECT CAST(c_custkey AS BIGINT) AS id,
             $x0 AS x0, $y0 AS y0, $x0 + $w0 AS x1b, $y0 + $h0 AS y1b,
             c_custkey % 2 = 0 AS is_rect FROM customer),
         edges AS (
           SELECT id, x0 AS x1, y0 AS y1, x1b AS x2, y0 AS y2 FROM poly
           UNION ALL SELECT id, x1b, y0, x1b, y1b FROM poly WHERE is_rect
           UNION ALL SELECT id, x1b, y1b, x0, y1b FROM poly WHERE is_rect
           UNION ALL SELECT id, x0, y1b, x0, y0 FROM poly
           UNION ALL SELECT id, x1b, y0, x0, y1b FROM poly WHERE NOT is_rect),
         pts AS (SELECT CAST(o_orderkey AS BIGINT) AS pid,
             ((CAST(o_custkey AS BIGINT) * 7919) % 1000000 + 2400000)
               + CAST(o_orderkey AS BIGINT) % 97 - 23 AS px,
             ((CAST(o_custkey AS BIGINT) * 104729) % 300000 + 200000)
               + CAST(o_orderkey AS BIGINT) % 61 - 12 AS py
           FROM orders),
         cand AS (SELECT p.pid, p.px, p.py, b.id
           FROM pts p JOIN poly b
             ON p.px >= b.x0 AND p.px <= b.x1b
            AND p.py >= b.y0 AND p.py <= b.y1b),
         cr AS (SELECT c.id, c.pid,
             sum(CASE WHEN (e.y1 > c.py) <> (e.y2 > c.py)
                   AND (CASE WHEN e.y2 > e.y1
                        THEN (c.px - e.x1) * (e.y2 - e.y1)
                           < (c.py - e.y1) * (e.x2 - e.x1)
                        ELSE (c.px - e.x1) * (e.y2 - e.y1)
                           > (c.py - e.y1) * (e.x2 - e.x1) END)
                 THEN 1 ELSE 0 END) AS nc
           FROM cand c JOIN edges e USING (id) GROUP BY c.id, c.pid)
         SELECT id AS poly_id, CAST(count(*) AS BIGINT) AS n_inside,
           min(pid) AS min_pt, max(pid) AS max_pt
         FROM cr WHERE nc % 2 = 1 GROUP BY id ORDER BY poly_id"""
    },
    "geom_force_2d" ->
      s"""WITH src AS (SELECT c_custkey AS id,
           'LINESTRING Z (' || $xiSql || ' ' || $yiSql || ' ' || $ziSql || ', '
             || ($xiSql + 10) || ' ' || ($yiSql + 10) || ' ' || $ziSql || ')' AS wkt
         FROM customer)
         SELECT id, regexp_replace(
           regexp_replace(wkt, '(\\w+)( ZM?| Z| M)?\\s*\\(', '\\1(', 'g'),
           '(-?\\d+\\.?\\d*)\\s+(-?\\d+\\.?\\d*)(\\s+(-?\\d+\\.?\\d*|NaN)(\\s+(-?\\d+\\.?\\d*|NaN)?)?)?',
           '\\1 \\2', 'g') AS wkt_2d
         FROM src ORDER BY id""",
    "geom_promote_multi" ->
      s"""WITH src AS (SELECT c_custkey AS id,
           $xiSql || ' ' || $yiSql || ', ' || ($xiSql + 20) || ' ' || $yiSql || ', '
             || $xiSql || ' ' || ($yiSql + 20) || ', ' || $xiSql || ' ' || $yiSql AS ring,
           c_custkey % 2 = 0 AS is_poly
         FROM customer),
         built AS (SELECT id,
           CASE WHEN is_poly THEN 'POLYGON ((' || ring || '))'
                ELSE 'MULTIPOLYGON (((' || ring || ')))' END AS wkt FROM src),
         promoted AS (SELECT id,
           CASE WHEN regexp_matches(wkt, '^(POLYGON|LINESTRING)\\b')
                THEN regexp_replace(wkt, '^(POLYGON|LINESTRING)( ZM| Z| M)?',
                                    'MULTI\\1\\2 (') || ')'
                ELSE wkt END AS wkt_multi FROM built)
         SELECT id, wkt_multi,
           trim(regexp_extract(wkt_multi, '^\\s*([A-Z]+)', 1)) AS geom_type
         FROM promoted ORDER BY id""",
    "geom_strip_srid" ->
      s"""WITH src AS (SELECT c_custkey AS id,
           'SRID=' || ((c_custkey % 2) * 2054 + 2272) || ';POINT ('
             || $xiSql || ' ' || $yiSql || ')' AS ewkt
         FROM customer)
         SELECT id,
           CAST(nullif(regexp_extract(ewkt, '^SRID=(\\d+);', 1), '') AS INTEGER) AS srid,
           trim(regexp_extract(regexp_replace(ewkt, '^SRID=\\d+;', ''), '^\\s*([A-Z]+)', 1)) AS geom_type,
           regexp_replace(ewkt, '^SRID=\\d+;', '') AS wkt
         FROM src ORDER BY id""",
    "geom_point_latlng" ->
      """WITH src AS (SELECT c_custkey AS id,
           'POINT (' || ((c_custkey * 7919) % 3600000) || ' '
             || ((c_custkey * 104729) % 1600000) || ')' AS wkt
         FROM customer)
         SELECT id,
           CAST(regexp_extract(wkt, 'POINT\s*\(\s*(-?\d+\.?\d*)\s+(-?\d+\.?\d*)', 1) AS DOUBLE) / 10000.0 - 180.0 AS lng,
           CAST(regexp_extract(wkt, 'POINT\s*\(\s*(-?\d+\.?\d*)\s+(-?\d+\.?\d*)', 2) AS DOUBLE) / 10000.0 - 80.0 AS lat
         FROM src ORDER BY id""",
    "geom_centroid" -> {
      val x0 = "((c_custkey * 7919) % 1000000 + 2400000)"
      val y0 = "((c_custkey * 104729) % 300000 + 200000)"
      val w0 = "(c_custkey % 50 + 1)"
      val h0 = "(c_custkey % 37 + 2)"
      val r6 = graft.core.Determinism.r6Sql _
      s"""WITH shapes AS (SELECT c_custkey AS id,
           CASE WHEN c_custkey % 2 = 0 THEN
             'POLYGON ((' || $x0 || ' ' || $y0 || ', '
               || ($x0 + $w0) || ' ' || $y0 || ', '
               || ($x0 + $w0) || ' ' || ($y0 + $h0) || ', '
               || $x0 || ' ' || ($y0 + $h0) || ', '
               || $x0 || ' ' || $y0 || '))'
           ELSE
             'POLYGON ((' || $x0 || ' ' || $y0 || ', '
               || ($x0 + $w0) || ' ' || $y0 || ', '
               || $x0 || ' ' || ($y0 + $h0) || ', '
               || $x0 || ' ' || $y0 || '))'
           END AS wkt FROM customer),
         nums AS (SELECT id, 'POLYGON' AS geom_type,
             list_transform(regexp_extract_all(wkt, '-?\\d+\\.?\\d*'),
               t -> CAST(t AS DOUBLE)) AS ns
           FROM shapes),
         edges AS (SELECT id, geom_type,
             ns[i * 2 + 1] AS x1, ns[i * 2 + 2] AS y1,
             ns[i * 2 + 3] AS x2, ns[i * 2 + 4] AS y2
           FROM nums, UNNEST(range(0, len(ns) // 2 - 1)) t(i)),
         moments AS (SELECT id, geom_type,
             sum(CAST(x1 * y2 - x2 * y1 AS DECIMAL(18,0))) AS a2,
             sum(CAST(x1 + x2 AS DECIMAL(18,0))
               * CAST(x1 * y2 - x2 * y1 AS DECIMAL(18,0))) AS sx,
             sum(CAST(y1 + y2 AS DECIMAL(18,0))
               * CAST(x1 * y2 - x2 * y1 AS DECIMAL(18,0))) AS sy
           FROM edges GROUP BY id, geom_type)
         SELECT id, geom_type,
           ${r6("CAST(sx AS DOUBLE) / (3.0 * CAST(a2 AS DOUBLE))")} AS cx,
           ${r6("CAST(sy AS DOUBLE) / (3.0 * CAST(a2 AS DOUBLE))")} AS cy
         FROM moments ORDER BY id"""
    },
    "geom_polygon_area" -> {
      val x0 = "((c_custkey * 7919) % 1000000 + 2400000)"
      val y0 = "((c_custkey * 104729) % 300000 + 200000)"
      val w0 = "(c_custkey % 50 + 1)"
      val h0 = "(c_custkey % 37 + 2)"
      s"""WITH shapes AS (SELECT c_custkey AS id,
           CASE WHEN c_custkey % 2 = 0 THEN
             'POLYGON ((' || $x0 || ' ' || $y0 || ', '
               || ($x0 + $w0) || ' ' || $y0 || ', '
               || ($x0 + $w0) || ' ' || ($y0 + $h0) || ', '
               || $x0 || ' ' || ($y0 + $h0) || ', '
               || $x0 || ' ' || $y0 || '))'
           ELSE
             'POLYGON ((' || $x0 || ' ' || $y0 || ', '
               || ($x0 + $w0) || ' ' || $y0 || ', '
               || $x0 || ' ' || ($y0 + $h0) || ', '
               || $x0 || ' ' || $y0 || '))'
           END AS wkt FROM customer),
         nums AS (SELECT id, 'POLYGON' AS geom_type,
             list_transform(regexp_extract_all(wkt, '-?\\d+\\.?\\d*'),
               t -> CAST(t AS DOUBLE)) AS ns
           FROM shapes),
         edges AS (SELECT id, geom_type,
             ns[i * 2 + 1] AS x1, ns[i * 2 + 2] AS y1,
             ns[i * 2 + 3] AS x2, ns[i * 2 + 4] AS y2
           FROM nums, UNNEST(range(0, len(ns) // 2 - 1)) t(i))
         SELECT id, geom_type,
           abs(CAST(sum(CAST(x1 * y2 - x2 * y1 AS DECIMAL(38,0))) AS DOUBLE)) / 2.0
             AS area,
           ${graft.core.Determinism.r4Sql(
             "CAST(sum(CAST(floor(sqrt((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1)) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(28,6))) AS DOUBLE)")}
             AS perimeter
         FROM edges GROUP BY id, geom_type ORDER BY id"""
    },
    "geom_knn_join" ->
      s"""WITH pts AS (SELECT c_custkey AS id,
             ((c_custkey * 7919) % 3600000) / 10000.0 - 180.0 AS lon,
             ((c_custkey * 104729) % 1600000) / 10000.0 - 80.0 AS lat
           FROM customer),
         cells AS (SELECT id, lon, lat,
             CAST(floor(lon / 10.0) AS INTEGER) AS cx,
             CAST(floor(lat / 10.0) AS INTEGER) AS cy FROM pts),
         probe_ids AS (SELECT id FROM pts
           ORDER BY ${graft.functions.HashFunctions.md5LongSql("'knn:' || id")}, id
           LIMIT $KnnProbes),
         probe_cells AS (SELECT p.id AS probe_id, p.lon AS plon, p.lat AS plat,
             p.cx + dx.d AS cx, p.cy + dy.d AS cy
           FROM cells p,
                (VALUES (-1), (0), (1)) dx(d),
                (VALUES (-1), (0), (1)) dy(d)
           WHERE p.id IN (SELECT id FROM probe_ids)),
         cand AS (SELECT pc.probe_id, c.id AS neighbor_id,
             (c.lon - pc.plon) * (c.lon - pc.plon)
               + (c.lat - pc.plat) * (c.lat - pc.plat) AS d2
           FROM probe_cells pc
           JOIN cells c ON c.cx = pc.cx AND c.cy = pc.cy AND c.id <> pc.probe_id),
         ranked AS (SELECT probe_id, neighbor_id, d2,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY d2, neighbor_id) AS rk
           FROM cand)
         SELECT probe_id, rk, neighbor_id,
           ${graft.core.Determinism.r6Sql("d2")} AS d2
         FROM ranked WHERE rk <= $KnnK ORDER BY probe_id, rk""",
    "geom_quadkey" -> {
      val mx = """round((((c_custkey * 7919) % 3600000) / 10000.0 - 180.0)
               * pi() * 6378137.0 / 180.0, 1)"""
      val my = """round(ln(tan((90.0 + (((c_custkey * 104729) % 1600000) / 10000.0 - 80.0))
               * pi() / 360.0)) * 6378137.0, 1)"""
      val n = 1 << QuadZoom
      val digits = (1 to QuadZoom).map { level =>
        val sh = QuadZoom - level
        s"CAST(((ty >> $sh) & 1) * 2 + ((tx >> $sh) & 1) AS VARCHAR)"
      }.mkString(" || ")
      s"""WITH tiles AS (SELECT
           CAST(floor(($mx + pi() * 6378137.0) / (2 * pi() * 6378137.0) * $n) AS BIGINT) AS tx,
           CAST(floor((pi() * 6378137.0 - $my) / (2 * pi() * 6378137.0) * $n) AS BIGINT) AS ty
         FROM customer)
         SELECT $digits AS quadkey, tx, ty, CAST(count(*) AS BIGINT) AS n_points
         FROM tiles GROUP BY quadkey, tx, ty ORDER BY quadkey"""
    },
    "geom_reproject_merc" ->
      """SELECT c_custkey AS id,
         round((((c_custkey * 7919) % 3600000) / 10000.0 - 180.0)
               * pi() * 6378137.0 / 180.0, 1) AS merc_x,
         round(ln(tan((90.0 + (((c_custkey * 104729) % 1600000) / 10000.0 - 80.0))
               * pi() / 360.0)) * 6378137.0, 1) AS merc_y
         FROM customer ORDER BY id""",
    "geom_reproject_sp" -> {
      val r6 = graft.core.Determinism.r6Sql _
      s"""WITH pts AS (SELECT c_custkey AS id,
            CAST($xiSql AS DOUBLE) AS xft, CAST($yiSql AS DOUBLE) AS yft
          FROM customer),
          ${graft.functions.GeomFunctions.lccInverse2272SqlCtes}
          SELECT id, ${r6("lng")} AS lng, ${r6("lat")} AS lat
          FROM lcc ORDER BY id"""
    },
    "geom_reproject_2272_merc" -> {
      val r6 = graft.core.Determinism.r6Sql _
      s"""WITH pts AS (SELECT c_custkey AS id,
            CAST($xiSql AS DOUBLE) AS xft, CAST($yiSql AS DOUBLE) AS yft
          FROM customer),
          ${graft.functions.GeomFunctions.lccInverse2272SqlCtes},
          deg AS (SELECT id, ${r6("lng")} AS lng, ${r6("lat")} AS lat FROM lcc)
          SELECT id,
            round(lng * pi() * 6378137.0 / 180.0 + (-0.20), 1) AS merc_x,
            round(ln(tan((90.0 + lat) * pi() / 360.0)) * 6378137.0 + 1.18, 1) AS merc_y
          FROM deg ORDER BY id"""
    },
    "geom_grid_join" ->
      s"""WITH pts AS (SELECT c_custkey AS id,
             CAST($xiSql AS BIGINT) AS x, CAST($yiSql AS BIGINT) AS y
           FROM customer),
         zones AS (SELECT j AS zone_id,
             2400000 + j * 37000 AS xmin, 2400000 + j * 37000 + 50000 AS xmax,
             200000 + (j % 6) * 45000 AS ymin,
             200000 + (j % 6) * 45000 + 60000 AS ymax
           FROM range(0, 24) t(j)),
         zcells AS (SELECT zone_id, xmin, xmax, ymin, ymax,
             unnest(range(xmin // $GridCell, xmax // $GridCell + 1)) AS cx
           FROM zones),
         zcells2 AS (SELECT zone_id, xmin, xmax, ymin, ymax, cx,
             unnest(range(ymin // $GridCell, ymax // $GridCell + 1)) AS cy
           FROM zcells)
         SELECT z.zone_id, CAST(count(*) AS BIGINT) AS n_points
         FROM pts p JOIN zcells2 z
           ON p.x // $GridCell = z.cx AND p.y // $GridCell = z.cy
         WHERE p.x >= z.xmin AND p.x < z.xmax AND p.y >= z.ymin AND p.y < z.ymax
         GROUP BY z.zone_id ORDER BY z.zone_id""",
    "geom_extent" -> {
      val pSql = (cx: String, cy: String) => s"$cx || ' ' || $cy"
      val ringA = s"${pSql(xiSql, yiSql)} || ', ' || ${pSql(s"($xiSql + 200)", yiSql)} || ', ' || ${pSql(xiSql, s"($yiSql + 200)")} || ', ' || ${pSql(xiSql, yiSql)}"
      val ringB = s"${pSql(s"($xiSql + 1000)", s"($yiSql + 1000)")} || ', ' || ${pSql(s"($xiSql + 1200)", s"($yiSql + 1000)")} || ', ' || ${pSql(s"($xiSql + 1000)", s"($yiSql + 1200)")} || ', ' || ${pSql(s"($xiSql + 1000)", s"($yiSql + 1000)")}"
      val seg1 = s"${pSql(xiSql, yiSql)} || ', ' || ${pSql(s"($xiSql + 150)", s"($yiSql + 150)")} || ', ' || ${pSql(s"($xiSql + 300)", s"($yiSql + 100)")}"
      val seg2 = s"${pSql(xiSql, s"($yiSql + 50)")} || ', ' || ${pSql(s"($xiSql + 150)", s"($yiSql + 200)")}"
      s"""WITH src AS (SELECT c_custkey AS id, CASE
             WHEN c_custkey % 4 = 0 THEN 'POLYGON ((' || $ringA || '))'
             WHEN c_custkey % 4 = 1 THEN 'MULTIPOLYGON (((' || $ringA || ')), ((' || $ringB || ')))'
             WHEN c_custkey % 4 = 2 THEN 'LINESTRING (' || $seg1 || ')'
             ELSE 'MULTILINESTRING ((' || $seg1 || '), (' || $seg2 || '))'
           END AS wkt
         FROM customer),
         nums AS (SELECT id,
             trim(regexp_extract(wkt, '^\\s*([A-Z]+)', 1)) AS geom_type,
             generate_subscripts(arr, 1) AS i, CAST(unnest(arr) AS DOUBLE) AS v
           FROM (SELECT id, wkt,
             regexp_extract_all(wkt, '-?\\d+\\.?\\d*') AS arr FROM src))
         SELECT geom_type, CAST(count(DISTINCT id) AS BIGINT) AS n_geoms,
           min(CASE WHEN i % 2 = 1 THEN v END) AS xmin,
           min(CASE WHEN i % 2 = 0 THEN v END) AS ymin,
           max(CASE WHEN i % 2 = 1 THEN v END) AS xmax,
           max(CASE WHEN i % 2 = 0 THEN v END) AS ymax
         FROM nums GROUP BY geom_type ORDER BY geom_type"""
    },
    "geom_reproject_poly" -> {
      val r6 = graft.core.Determinism.r6Sql _
      val pSql = (cx: String, cy: String) => s"$cx || ' ' || $cy"
      val ringA = s"${pSql(xiSql, yiSql)} || ', ' || ${pSql(s"($xiSql + 200)", yiSql)} || ', ' || ${pSql(xiSql, s"($yiSql + 200)")} || ', ' || ${pSql(xiSql, yiSql)}"
      val ringB = s"${pSql(s"($xiSql + 1000)", s"($yiSql + 1000)")} || ', ' || ${pSql(s"($xiSql + 1200)", s"($yiSql + 1000)")} || ', ' || ${pSql(s"($xiSql + 1000)", s"($yiSql + 1200)")} || ', ' || ${pSql(s"($xiSql + 1000)", s"($yiSql + 1000)")}"
      val seg1 = s"${pSql(xiSql, yiSql)} || ', ' || ${pSql(s"($xiSql + 150)", s"($yiSql + 150)")} || ', ' || ${pSql(s"($xiSql + 300)", s"($yiSql + 100)")}"
      val seg2 = s"${pSql(xiSql, s"($yiSql + 50)")} || ', ' || ${pSql(s"($xiSql + 150)", s"($yiSql + 200)")}"
      val mercXSql = "lng * pi() * 6378137.0 / 180.0 + (-0.20)"
      val mercYSql = "ln(tan((90.0 + lat) * pi() / 360.0)) * 6378137.0 + 1.18"
      s"""WITH src AS (SELECT c_custkey AS id, CASE
             WHEN c_custkey % 4 = 0 THEN 'POLYGON ((' || $ringA || '))'
             WHEN c_custkey % 4 = 1 THEN 'MULTIPOLYGON (((' || $ringA || ')), ((' || $ringB || ')))'
             WHEN c_custkey % 4 = 2 THEN 'LINESTRING (' || $seg1 || ')'
             ELSE 'MULTILINESTRING ((' || $seg1 || '), (' || $seg2 || '))'
           END AS wkt
         FROM customer),
         toks AS (SELECT id,
             trim(regexp_extract(wkt, '^\\s*([A-Z]+)', 1)) AS typ,
             generate_subscripts(arr, 1) AS i, unnest(arr) AS tok
           FROM (SELECT id, wkt,
             string_split_regex(regexp_replace(wkt, '^\\s*[A-Z]+\\s+', ''), ',\\s*') AS arr
           FROM src)),
         verts AS (SELECT id * 4096 + i AS pid, id AS doc_id, i, typ,
             regexp_extract(tok, '^([\\s(]*)', 1) AS pre,
             regexp_extract(tok, '([\\s)]*)$$', 1) AS suf,
             CAST(regexp_extract(tok, '(-?\\d+\\.?\\d*)\\s+(-?\\d+\\.?\\d*)', 1) AS DOUBLE) AS xft,
             CAST(regexp_extract(tok, '(-?\\d+\\.?\\d*)\\s+(-?\\d+\\.?\\d*)', 2) AS DOUBLE) AS yft
           FROM toks),
         pts AS (SELECT pid AS id, xft, yft FROM verts),
         ${graft.functions.GeomFunctions.lccInverse2272SqlCtes},
         deg AS (SELECT id AS pid, ${r6("lng")} AS lng, ${r6("lat")} AS lat FROM lcc),
         parts AS (SELECT v.doc_id, v.typ,
             string_agg(v.pre || printf('%.6f', d.lng) || ' ' || printf('%.6f', d.lat) || v.suf,
                        ', ' ORDER BY v.i) AS body4326,
             string_agg(v.pre || printf('%.1f', round($mercXSql, 1)) || ' ' || printf('%.1f', round($mercYSql, 1)) || v.suf,
                        ', ' ORDER BY v.i) AS body3857
           FROM verts v JOIN deg d ON d.pid = v.pid
           GROUP BY v.doc_id, v.typ)
         SELECT doc_id AS id, typ AS geom_type,
           typ || ' ' || body4326 AS wkt_4326,
           typ || ' ' || body3857 AS wkt_3857
         FROM parts ORDER BY id"""
    },
    "geom_esri_rings" -> {
      val pSql = (cx: String, cy: String) => s"$cx || ' ' || $cy"
      val ringA = s"${pSql(xiSql, yiSql)} || ', ' || ${pSql(s"($xiSql + 20)", yiSql)} || ', ' || ${pSql(xiSql, s"($yiSql + 20)")} || ', ' || ${pSql(xiSql, yiSql)}"
      val ringB = s"${pSql(s"($xiSql + 100)", s"($yiSql + 100)")} || ', ' || ${pSql(s"($xiSql + 120)", s"($yiSql + 100)")} || ', ' || ${pSql(s"($xiSql + 100)", s"($yiSql + 120)")} || ', ' || ${pSql(s"($xiSql + 100)", s"($yiSql + 100)")}"
      val seg1 = s"${pSql(xiSql, yiSql)} || ', ' || ${pSql(s"($xiSql + 10)", s"($yiSql + 10)")}"
      val seg2 = s"${pSql(xiSql, s"($yiSql + 5)")} || ', ' || ${pSql(s"($xiSql + 10)", s"($yiSql + 15)")}"
      s"""WITH src AS (SELECT c_custkey AS id,
           'SRID=2272;' || CASE
             WHEN c_custkey % 20 = 0 THEN 'POINT EMPTY'
             WHEN c_custkey % 5 = 0 THEN 'POINT (' || ${pSql(xiSql, yiSql)} || ')'
             WHEN c_custkey % 5 = 1 THEN 'POLYGON ((' || $ringA || '))'
             WHEN c_custkey % 5 = 2 THEN 'MULTIPOLYGON (((' || $ringA || ')), ((' || $ringB || ')))'
             WHEN c_custkey % 5 = 3 THEN 'LINESTRING (' || $seg1 || ')'
             ELSE 'MULTILINESTRING ((' || $seg1 || '), (' || $seg2 || '))'
           END AS ewkt
         FROM customer)
         SELECT id, ${graft.functions.GeomFunctions.esriJsonSql("ewkt", 3857, "esriGeometryPoint")} AS esri_json
         FROM src ORDER BY id"""
    },
    "geom_validity_check" -> {
      val pSql = (cx: String, cy: String) => s"$cx || ' ' || $cy"
      val ringOk = s"${pSql(xiSql, yiSql)} || ', ' || ${pSql(s"($xiSql + 20)", yiSql)} || ', ' || ${pSql(xiSql, s"($yiSql + 20)")} || ', ' || ${pSql(xiSql, yiSql)}"
      val ringOpen = s"${pSql(xiSql, yiSql)} || ', ' || ${pSql(s"($xiSql + 20)", yiSql)} || ', ' || ${pSql(xiSql, s"($yiSql + 20)")} || ', ' || ${pSql(s"($xiSql + 1)", yiSql)}"
      val ringSmall = s"${pSql(xiSql, yiSql)} || ', ' || ${pSql(s"($xiSql + 20)", yiSql)} || ', ' || ${pSql(xiSql, yiSql)}"
      val rings = """string_split_regex(regexp_replace(regexp_replace(wkt,
           '^\s*(MULTI)?POLYGON\s*\(+', ''), '\)+\s*$', ''), '\)+\s*,\s*\(+')"""
      val closed = s"""list_aggregate(list_transform($rings,
           r -> trim(string_split_regex(r, '\\s*,\\s*')[1]) = trim(string_split_regex(r, '\\s*,\\s*')[-1])), 'bool_and')"""
      val minpts = s"""list_aggregate(list_transform($rings,
           r -> len(string_split(r, ',')) >= 4), 'bool_and')"""
      val typ = """trim(regexp_extract(wkt, '^\s*([A-Z]+)', 1))"""
      val paren = "length(wkt) - length(replace(wkt, '(', '')) = length(wkt) - length(replace(wkt, ')', ''))"
      val isPoly = s"$typ IN ('POLYGON', 'MULTIPOLYGON')"
      val known = s"$typ IN ('POINT', 'LINESTRING', 'POLYGON', 'MULTIPOLYGON', 'MULTILINESTRING', 'MULTIPOINT')"
      s"""WITH src AS (SELECT c_custkey AS id, CASE
             WHEN c_custkey % 11 = 0 THEN 'POLYGON ((' || $ringOpen || '))'
             WHEN c_custkey % 13 = 0 THEN 'POLYGON ((' || $ringSmall || '))'
             WHEN c_custkey % 17 = 0 THEN 'POLYGON ((' || $ringOk || ')'
             WHEN c_custkey % 19 = 0 THEN 'TRIANGLE ((' || $ringOk || '))'
             WHEN c_custkey % 5 = 0 THEN 'MULTIPOLYGON (((' || $ringOk || ')), ((' || $ringOk || ')))'
             WHEN c_custkey % 5 = 1 THEN 'POINT (' || ${pSql(xiSql, yiSql)} || ')'
             WHEN c_custkey % 5 = 2 THEN 'LINESTRING (' || ${pSql(xiSql, yiSql)} || ', ' || ${pSql(s"($xiSql + 10)", s"($yiSql + 10)")} || ')'
             ELSE 'POLYGON ((' || $ringOk || '))'
           END AS wkt
         FROM customer)
         SELECT id, $typ AS geom_type,
           CAST($paren AS INTEGER) AS paren_ok,
           CASE WHEN $isPoly THEN CAST($closed AS INTEGER) ELSE 1 END AS rings_closed,
           CASE WHEN $isPoly THEN CAST($minpts AS INTEGER) ELSE 1 END AS rings_minpts,
           CAST(($known AND $paren AND
                 (NOT $isPoly OR ($closed AND $minpts))) AS INTEGER) AS is_valid
         FROM src ORDER BY id"""
    },
    "opendata_csv_export" -> {
      val r6 = graft.core.Determinism.r6Sql _
      val nameSql = """CASE WHEN c_custkey % 7 = 0 THEN c_name || ', "vip"'
                       ELSE c_name END"""
      s"""WITH pts AS (SELECT c_custkey AS id,
            CAST($xiSql AS DOUBLE) AS xft, CAST($yiSql AS DOUBLE) AS yft
          FROM customer),
          ${graft.functions.GeomFunctions.lccInverse2272SqlCtes},
          deg AS (SELECT id, ${r6("lng")} AS lng, ${r6("lat")} AS lat FROM lcc),
          names AS (SELECT c_custkey AS id, $nameSql AS name FROM customer)
          SELECT n.id, 2272 AS from_srid, d.lng, d.lat,
            CAST(n.id AS VARCHAR) || ',' ||
            ${graft.functions.GeomFunctions.csvQuoteSql("n.name")} || ',' ||
            printf('%.6f', d.lng) || ',' || printf('%.6f', d.lat) AS csv_line
          FROM names n JOIN deg d ON d.id = n.id ORDER BY n.id"""
    },
    "geom_bad_srid_remap" -> {
      val cases = bads.zipWithIndex
        .map { case (v, i) => s"WHEN c_custkey % ${bads.size} = $i THEN $v" }
        .mkString(" ")
      val remap = badSridMap.toSeq.sorted
        .map { case (b, g) => s"WHEN src_srid = $b THEN $g" }.mkString(" ")
      s"""WITH src AS (SELECT c_custkey AS id,
            CASE $cases ELSE ${bads.head} END AS src_srid FROM customer)
          SELECT id, src_srid, CASE $remap ELSE src_srid END AS srid
          FROM src ORDER BY id"""
    }
  )
}
