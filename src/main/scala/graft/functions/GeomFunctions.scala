package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** WKT-string geometry functions re-expressing the reference's geopetl-era
  * row lambdas as pure Catalyst `Column` trees (regexp/trig over
  * `functions._`) — pushdown-transparent, no UDFs. The plain column math
  * runs inside whole-stage codegen. The per-vertex and per-ring functions
  * (`mapVertices` and its reprojections, `lccInverse2272`'s fixed point,
  * `ringsClosed`, `ringsMinPoints`) use `transform`, `aggregate` and
  * `forall`, which are `CodegenFallback`: their lambda bodies are
  * interpreted per element and get no subexpression elimination. So a
  * lambda body reads its bound variables and never re-derives them — a
  * value used twice is computed once into a struct (or the fold's
  * accumulator) and read back by field.
  *
  * References (semantics only, no code reuse — the reference is Python/petl):
  *  - force2d:        databridge-etl-tools utils.py:10-26
  *  - promoteMulti:   postgres/postgres.py:300-359
  *  - strip/srid:     opendata/opendata.py:273-275
  *  - point lat/lng:  opendata/opendata.py:300-327
  *  - web mercator:   db2/db2.py:798-815 (4326→3857 single-step)
  *  - LCC inverse:    db2/db2.py:752-796 (EPSG:2272→geographic; the
  *                    reference shells out to pyproj — here the Lambert
  *                    Conformal Conic 2SP inverse (Snyder 1987, eqs 15-1..9)
  *                    is inlined as column math on GRS80)
  *  - bad-SRID remap: opendata/opendata.py:243-266
  */
object GeomFunctions {

  /** Shape-type token: leading word(s) before the first '('. */
  def geomTypeOf(wkt: Column): Column =
    trim(regexp_extract(wkt, "^\\s*([A-Z]+)", 1))

  /** Strip Z/M dimension label and per-point Z/M coordinate values.
    * Signed coordinates supported (the reference's regex assumed positive
    * state-plane values; this function is exposed generally).
    */
  def force2d(wkt: Column): Column = {
    val noLabel = regexp_replace(wkt, "(\\w+)( ZM?| Z| M)?\\s*\\(", "$1(")
    regexp_replace(noLabel,
      "(-?\\d+\\.?\\d*)\\s+(-?\\d+\\.?\\d*)(\\s+(-?\\d+\\.?\\d*|NaN)(\\s+(-?\\d+\\.?\\d*|NaN)?)?)?",
      "$1 $2")
  }

  /** POLYGON/LINESTRING → MULTI* wrap (ESRI stores polygon classes as
    * multipolygons; reference wraps the body in one more paren level).
    * The Z/M dimension label travels with the type token — reference
    * replaces the whole "POLYGON Z" token (postgres.py:338-358).
    */
  def promoteMulti(wkt: Column): Column =
    when(wkt.rlike("^(POLYGON|LINESTRING)\\b"),
      concat(regexp_replace(wkt,
        "^(POLYGON|LINESTRING)( ZM| Z| M)?", "MULTI$1$2 ("), lit(")")))
      .otherwise(wkt)

  /** `SRID=n;WKT` → the numeric SRID (null when absent). */
  def sridOf(ewkt: Column): Column =
    nullif(regexp_extract(ewkt, "^SRID=(\\d+);", 1), lit("")).cast("int")

  /** `SRID=n;WKT` → the bare WKT part. */
  def wktOf(ewkt: Column): Column =
    regexp_replace(ewkt, "^SRID=\\d+;", "")

  /** POINT x/y extraction (reference splits the string by hand). */
  def pointX(wkt: Column): Column =
    regexp_extract(wkt, "POINT\\s*\\(\\s*(-?\\d+\\.?\\d*)\\s+(-?\\d+\\.?\\d*)", 1)
      .cast("double")
  def pointY(wkt: Column): Column =
    regexp_extract(wkt, "POINT\\s*\\(\\s*(-?\\d+\\.?\\d*)\\s+(-?\\d+\\.?\\d*)", 2)
      .cast("double")

  private val R = 6378137.0 // WGS84/GRS80 semi-major axis (also 3857 sphere radius)

  /** EPSG:4326 lon → EPSG:3857 x (meters). */
  def mercX(lon: Column): Column = lon * lit(math.Pi * R / 180.0)

  /** EPSG:4326 lat → EPSG:3857 y (meters). */
  def mercY(lat: Column): Column =
    log(tan((lit(90.0) + lat) * lit(math.Pi / 360.0))) * lit(R)

  // --- EPSG:2272 (NAD83 / Pennsylvania South, ftUS) LCC 2SP constants ---
  private val ftUS  = 1200.0 / 3937.0           // US survey foot in meters
  private val a     = 6378137.0                 // GRS80
  private val f     = 1.0 / 298.257222101
  private val e2    = 2 * f - f * f
  private val e     = math.sqrt(e2)
  private val lat1  = math.toRadians(40.0 + 58.0 / 60.0)        // 40°58'N
  private val lat2  = math.toRadians(39.0 + 56.0 / 60.0)        // 39°56'N
  private val lat0  = math.toRadians(39.0 + 20.0 / 60.0)        // 39°20'N
  private val lon0  = math.toRadians(-(77.0 + 45.0 / 60.0))     // 77°45'W
  private val FE    = 600000.0                  // false easting (m)
  private val FN    = 0.0

  private def mOf(phi: Double) =
    math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) * math.sin(phi))
  private def tOf(phi: Double) =
    math.tan(math.Pi / 4 - phi / 2) /
      math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2)
  private val n  = (math.log(mOf(lat1)) - math.log(mOf(lat2))) /
                   (math.log(tOf(lat1)) - math.log(tOf(lat2)))
  private val bigF = mOf(lat1) / (n * math.pow(tOf(lat1), n))
  private val rho0 = a * bigF * math.pow(tOf(lat0), n)

  /** EPSG:2272 easting/northing (US survey feet) → (lon, lat) degrees on
    * NAD83 — the LCC 2SP inverse, fully vectorized column math. NAD83≈WGS84
    * at the reference's published precision (the reference's extra
    * NAD83→WGS84 step is a sub-meter datum nudge).
    */
  def lccInverse2272(xFt: Column, yFt: Column): (Column, Column) = {
    val x    = xFt * lit(ftUS) - lit(FE)
    val y    = yFt * lit(ftUS) - lit(FN)
    val rho  = sqrt(x * x + (lit(rho0) - y) * (lit(rho0) - y)) *
               lit(if (n >= 0) 1.0 else -1.0)
    val t    = pow(rho / lit(a * bigF), lit(1.0 / n))
    val theta = atan2(x, lit(rho0) - y)
    val lon  = (theta / lit(n) + lit(lon0)) * lit(180.0 / math.Pi)
    // iterative phi: phi0 = pi/2 - 2*atan(t), then five steps of
    // phi = pi/2 - 2*atan(t * ((1-e sin phi)/(1+e sin phi))^(e/2)), folded
    // over a carried (t, phi): unrolled, each step would hold two copies
    // of the previous one (2^5 copies of phi0 and of t's inputs)
    val phi = aggregate(array((0 to 5).map(lit): _*),
      struct(t.as("t"), lit(null).cast("double").as("phi")),
      (acc, i) => {
        val es = lit(e) * sin(acc("phi"))
        val arg = when(i === 0, acc("t"))
          .otherwise(acc("t") * pow((lit(1.0) - es) / (lit(1.0) + es), lit(e / 2)))
        struct(acc("t").as("t"), (lit(math.Pi / 2) - lit(2.0) * atan(arg)).as("phi"))
      },
      _("phi"))
    (lon, phi * lit(180.0 / math.Pi))
  }

  /** SQL twin of [[lccInverse2272]] for the DuckDB oracle: the same
    * closed-form LCC 2SP inverse with the same projection constants
    * interpolated as full-precision (round-trip) double literals, the
    * fixed-point iteration laid out as a linear CTE chain. sqrt is
    * correctly rounded everywhere (IEEE); pow/atan/sin may differ by ulps
    * between libm and the JVM — absorbed by the caller's 6-dp
    * floor-rounding on both sides.
    *
    * Input: a CTE named `pts(id, xft, yft)` (easting/northing, ftUS).
    * Output: CTE chain body ending in `lcc(id, lng, lat)` (degrees,
    * unrounded) — append to the caller's WITH list and select from `lcc`.
    */
  def lccInverse2272SqlCtes: String = {
    val sign = if (n >= 0) 1.0 else -1.0
    val deg = 180.0 / math.Pi
    val steps = (1 to 5).map { i =>
      s"""p$i AS (SELECT id, t, theta,
            pi()/2 - 2*atan(t * pow((1.0 - $e*sin(phi))/(1.0 + $e*sin(phi)), ${e / 2})) AS phi
          FROM p${i - 1})"""
    }.mkString(",\n       ")
    s"""base AS (SELECT id, xft * $ftUS - $FE AS x, yft * $ftUS - $FN AS y FROM pts),
       polar AS (SELECT id,
           sqrt(x*x + ($rho0 - y)*($rho0 - y)) * $sign AS rho,
           atan2(x, $rho0 - y) AS theta FROM base),
       tt AS (SELECT id, pow(rho / ${a * bigF}, ${1.0 / n}) AS t, theta FROM polar),
       p0 AS (SELECT id, t, theta, pi()/2 - 2*atan(t) AS phi FROM tt),
       $steps,
       lcc AS (SELECT id, (theta / $n + $lon0) * $deg AS lng, phi * $deg AS lat FROM p5)"""
  }

  // --- vertex-wise reprojection (db2/db2.py:768-819 reproj_vec applies the
  // --- composed transform to EVERY vertex of ANY shape via shapely
  // --- transform(); db2.py:821-880 copy_rows_transformed streams whole
  // --- tables through it) --------------------------------------------------

  /** Apply a coordinate rewrite to every "x y" vertex of a WKT value,
    * preserving ring/path structure. The body is tokenized on vertex commas
    * (each token = optional leading parens + "x y" + optional trailing
    * parens); one `transform` parses each token once into
    * (prefix, suffix, x, y) and a second rewrites the pair in place — one
    * in-row projection, no explode, no shuffle, so whole-table
    * reprojection stays embarrassingly parallel at any scale (the
    * reference's shapely `transform` is the same per-row shape, just
    * single-node). `<TYPE> EMPTY` passes through unchanged; a blank value,
    * or one with any vertex lacking a numeric "x y" pair, gives null, so
    * `f` never sees a missing coordinate.
    */
  private def mapVertices(wkt: Column)(f: (Column, Column) => Column): Column = {
    val pair = "(-?\\d+\\.?\\d*)\\s+(-?\\d+\\.?\\d*)"
    // the type token, an optional dimension label and the space after
    // them — `POINT(`, `POINT Z (` and `POINT (` all leave `(x y …)`
    val body = regexp_replace(wkt, "^\\s*[A-Z]+(\\s+(ZM|Z|M))?\\s*", "")
    val verts = transform(split(body, ",\\s*", -1), tok => struct(
      regexp_extract(tok, "^([\\s(]*)", 1).as("prefix"),
      regexp_extract(tok, "([\\s)]*)$", 1).as("suffix"),
      regexp_extract(tok, pair, 1).try_cast("double").as("x"),
      regexp_extract(tok, pair, 2).try_cast("double").as("y")))
    val out = transform(verts, v => concat(v("prefix"), f(v("x"), v("y")), v("suffix")))
    // a comma-separated token holds `pair` iff it holds \d\.?\s+-?\d
    when(wkt.rlike("^\\s*[A-Z]+(\\s+(ZM|Z|M))?\\s+EMPTY\\s*$"), wkt)
      .when(!wkt.rlike("(^|,)(?![^,]*\\d\\.?\\s+-?\\d)"),
        concat(geomTypeOf(wkt), lit(" "), array_join(out, ", ")))
  }

  /** EPSG:2272 WKT of any shape class → 4326 WKT, every vertex through the
    * LCC inverse, coordinates rendered %.6f on a 6-dp-floored double (the
    * cross-engine-stable string form).
    */
  def reprojectVerts2272(wkt: Column): Column =
    mapVertices(wkt) { (x, y) =>
      val (lon0, lat0) = lccInverse2272(x, y)
      concat(format_string("%.6f", graft.core.Determinism.r6(lon0)), lit(" "),
        format_string("%.6f", graft.core.Determinism.r6(lat0)))
    }

  /** EPSG:2272 WKT of any shape class → 3857 WKT: the reference's composed
    * production pipeline (LCC inverse → mercator → the ArcGIS-alignment
    * −0.20/+1.18 m nudge, db2_commands.py:29-30) over every vertex,
    * rendered %.1f at the 0.1 m grid.
    */
  def reprojectVerts2272Merc(wkt: Column): Column =
    mapVertices(wkt) { (x, y) =>
      val (lon0, lat0) = lccInverse2272(x, y)
      val lng = graft.core.Determinism.r6(lon0)
      val lat = graft.core.Determinism.r6(lat0)
      concat(format_string("%.1f", round(mercX(lng) + lit(-0.20), 1)), lit(" "),
        format_string("%.1f", round(mercY(lat) + lit(1.18), 1)))
    }

  // --- WKT → Esri-JSON geometry (ago.py:361-430 project_and_format_shape,
  // --- ago.py:674-758 convert_geometry) ------------------------------------

  /** Coordinate text "x y, x y" → compact JSON pair list "[x,y],[x,y]".
    * Ring/path separators "), (" collapse to "),(" via the same
    * space-after-comma strip, so downstream paren→bracket rewrites produce
    * compact JSON.
    */
  private def coordPairsJson(body: Column): Column =
    regexp_replace(
      regexp_replace(body, "(-?\\d+\\.?\\d*)\\s+(-?\\d+\\.?\\d*)", "[$1,$2]"),
      ",\\s+", ",")

  /** WKT (optionally `SRID=n;`-prefixed) → the Esri REST geometry object the
    * reference builds per row before an AGO addFeatures/updateFeatures POST
    * (ago.py:674-758):
    *  - POINT (x y)        → {"x":x,"y":y,"spatialReference":{"wkid":W}}
    *  - POLYGON ((r))      → {"rings":[[[x,y],…]],…}
    *  - MULTIPOLYGON       → {"rings":[ring per polygon,…],…}
    *  - LINESTRING (p)     → {"paths":[[[x,y],…]],…}
    *  - MULTILINESTRING    → {"paths":[path per line,…],…} with the
    *    reference's wkid+latestWkid spatialReference quirk (ago.py:741-748)
    *  - blank / `… EMPTY`  → NaN point / empty rings/paths per `layerType`
    *    (the AGO layer's geometryType — blank WKT carries no type of its own)
    *  - unrecognized       → null (the reference raises; a null column is the
    *    distributed-friendly poison value a caller can filter + alert on)
    * Pure Column regexp/string math — codegen, no UDF. Coordinates pass
    * through as their source text (the reference round-trips them through
    * float; exact only because our fixtures use integer coordinates —
    * projection-rounding belongs to the upstream reprojection ops).
    * Holes: WKT interior rings become additional entries in "rings"; the
    * reference's shapely path keeps only `poly.exterior` (drops holes
    * silently, ago.py:364-375) — fixtures are hole-free so both agree.
    */
  def esriJson(ewkt: Column, wkid: Int, layerType: String): Column = {
    val wkt = wktOf(ewkt)
    val sr = s""","spatialReference":{"wkid":$wkid}}"""
    val srMulti = s""","spatialReference":{"wkid":$wkid,"latestWkid":$wkid}}"""
    val empty = layerType match {
      case "esriGeometryPoint"    => s"""{"x":"NaN","y":"NaN"$sr"""
      case "esriGeometryPolyline" => s"""{"paths":[]$sr"""
      case _                      => s"""{"rings":[]$sr"""
    }
    val t = geomTypeOf(wkt)
    val point = concat(lit("{\"x\":"), pointX(wkt).cast("string"),
      lit(",\"y\":"), pointY(wkt).cast("string"), lit(sr))
    val polygon = concat(lit("{\"rings\":[["),
      coordPairsJson(regexp_extract(wkt, "^POLYGON\\s*\\(\\((.*)\\)\\)\\s*$", 1)),
      lit("]]" + sr))
    val mpRings = regexp_replace(regexp_replace(
      coordPairsJson(regexp_extract(wkt, "^MULTIPOLYGON\\s*\\((.*)\\)\\s*$", 1)),
      "\\(\\(", "["), "\\)\\)", "]")
    val multipolygon = concat(lit("{\"rings\":["), mpRings, lit("]" + sr))
    val linestring = concat(lit("{\"paths\":[["),
      coordPairsJson(regexp_extract(wkt, "^LINESTRING\\s*\\((.*)\\)\\s*$", 1)),
      lit("]]" + sr))
    val mlPaths = regexp_replace(regexp_replace(
      coordPairsJson(regexp_extract(wkt, "^MULTILINESTRING\\s*\\((.*)\\)\\s*$", 1)),
      "\\(", "["), "\\)", "]")
    val multilinestring = concat(lit("{\"paths\":["), mlPaths, lit("]" + srMulti))
    when(wkt.isNull || trim(wkt) === "" || instr(wkt, "EMPTY") > 0, lit(empty))
      .when(t === "POINT", point)
      .when(t === "MULTIPOLYGON", multipolygon)
      .when(t === "POLYGON", polygon)
      .when(t === "MULTILINESTRING", multilinestring)
      .when(t === "LINESTRING", linestring)
      .otherwise(lit(null).cast("string"))
  }

  /** SQL twin of [[esriJson]] for the DuckDB oracle: the same regexp
    * composition over an input WKT expression. Emits a CASE over the type
    * token. `pointXSql`-style extraction uses DOUBLE casts to match Spark's
    * double-rendered point coordinates.
    */
  def esriJsonSql(ewktExpr: String, wkid: Int, layerType: String): String = {
    val w = s"regexp_replace($ewktExpr, '^SRID=\\d+;', '')"
    val sr = s""","spatialReference":{"wkid":$wkid}}"""
    val srMulti = s""","spatialReference":{"wkid":$wkid,"latestWkid":$wkid}}"""
    val empty = layerType match {
      case "esriGeometryPoint"    => s"""{"x":"NaN","y":"NaN"$sr"""
      case "esriGeometryPolyline" => s"""{"paths":[]$sr"""
      case _                      => s"""{"rings":[]$sr"""
    }
    def pairs(e: String) =
      s"""regexp_replace(regexp_replace($e,
            '(-?\\d+\\.?\\d*)\\s+(-?\\d+\\.?\\d*)', '[\\1,\\2]', 'g'),
            ',\\s+', ',', 'g')"""
    val px = s"CAST(CAST(regexp_extract($w, 'POINT\\s*\\(\\s*(-?\\d+\\.?\\d*)\\s+(-?\\d+\\.?\\d*)', 1) AS DOUBLE) AS VARCHAR)"
    val py = s"CAST(CAST(regexp_extract($w, 'POINT\\s*\\(\\s*(-?\\d+\\.?\\d*)\\s+(-?\\d+\\.?\\d*)', 2) AS DOUBLE) AS VARCHAR)"
    val polyBody = pairs(s"regexp_extract($w, '^POLYGON\\s*\\(\\((.*)\\)\\)\\s*$$', 1)")
    val mpBody =
      s"""regexp_replace(regexp_replace(
            ${pairs(s"regexp_extract($w, '^MULTIPOLYGON\\s*\\((.*)\\)\\s*$$', 1)")},
            '\\(\\(', '[', 'g'), '\\)\\)', ']', 'g')"""
    val lineBody = pairs(s"regexp_extract($w, '^LINESTRING\\s*\\((.*)\\)\\s*$$', 1)")
    val mlBody =
      s"""regexp_replace(regexp_replace(
            ${pairs(s"regexp_extract($w, '^MULTILINESTRING\\s*\\((.*)\\)\\s*$$', 1)")},
            '\\(', '[', 'g'), '\\)', ']', 'g')"""
    s"""CASE
        WHEN $w IS NULL OR trim($w) = '' OR $w LIKE '%EMPTY%' THEN '${empty.replace("'", "''")}'
        WHEN trim(regexp_extract($w, '^\\s*([A-Z]+)', 1)) = 'POINT'
          THEN '{"x":' || $px || ',"y":' || $py || '$sr'
        WHEN trim(regexp_extract($w, '^\\s*([A-Z]+)', 1)) = 'MULTIPOLYGON'
          THEN '{"rings":[' || $mpBody || ']$sr'
        WHEN trim(regexp_extract($w, '^\\s*([A-Z]+)', 1)) = 'POLYGON'
          THEN '{"rings":[[' || $polyBody || ']]$sr'
        WHEN trim(regexp_extract($w, '^\\s*([A-Z]+)', 1)) = 'MULTILINESTRING'
          THEN '{"paths":[' || $mlBody || ']$srMulti'
        WHEN trim(regexp_extract($w, '^\\s*([A-Z]+)', 1)) = 'LINESTRING'
          THEN '{"paths":[[' || $lineBody || ']]$sr'
        ELSE NULL END"""
  }

  // --- structural WKT validity (ago.py:398-406 warns via shapely.is_valid;
  // --- here the cheap structural subset as column math) --------------------

  /** Balanced '(' / ')' counts. */
  def parensBalanced(wkt: Column): Column =
    length(wkt) - length(regexp_replace(wkt, "\\(", "")) ===
      length(wkt) - length(regexp_replace(wkt, "\\)", ""))

  /** Ring texts of a POLYGON/MULTIPOLYGON: innermost "x y, x y, …" runs. */
  private def ringTexts(wkt: Column): Column =
    split(
      regexp_replace(regexp_replace(wkt,
        "^\\s*(MULTI)?POLYGON\\s*\\(+", ""), "\\)+\\s*$", ""),
      "\\)+\\s*,\\s*\\(+")

  /** Every polygon ring is closed (first point == last point). */
  def ringsClosed(wkt: Column): Column =
    forall(ringTexts(wkt), r => {
      val pts = split(r, "\\s*,\\s*")
      trim(element_at(pts, 1)) === trim(element_at(pts, -1))
    })

  /** Every polygon ring has >= 4 points (triangle + closure) — the minimum
    * a linear ring needs to bound area.
    */
  def ringsMinPoints(wkt: Column): Column =
    forall(ringTexts(wkt), r => size(split(r, ",")) >= 4)

  /** Structural validity of a WKT value: recognized type token, balanced
    * parens, and (for polygon classes) closed >=4-point rings. Cheap column
    * math applied before an AGO upload — the distributed stand-in for the
    * reference's per-row shapely `is_valid` warning (full
    * self-intersection testing needs a real geometry kernel).
    */
  def wktStructurallyValid(wkt: Column): Column = {
    val t = geomTypeOf(wkt)
    val known = t.isin("POINT", "LINESTRING", "POLYGON",
      "MULTIPOLYGON", "MULTILINESTRING", "MULTIPOINT")
    val polyOk = when(t.isin("POLYGON", "MULTIPOLYGON"),
      ringsClosed(wkt) && ringsMinPoints(wkt)).otherwise(lit(true))
    known && parensBalanced(wkt) && polyOk
  }

  // --- CSV field quoting (opendata.py:336 tocsv / carto_.py:79 gzip path:
  // --- petl writes csv.QUOTE_MINIMAL — only fields containing a comma,
  // --- quote, or newline get quoted, with embedded quotes doubled) --------

  /** QUOTE_MINIMAL rendering of one field. */
  def csvQuote(field: Column): Column =
    when(field.rlike("[\",\n\r]"),
      concat(lit("\""), regexp_replace(field, "\"", "\"\""), lit("\"")))
      .otherwise(field)

  /** SQL twin of [[csvQuote]]. */
  def csvQuoteSql(e: String): String =
    s"""CASE WHEN regexp_matches($e, '[",\n\r]')
        THEN '"' || replace($e, '"', '""') || '"' ELSE $e END"""

  /** Bad-SRID remap table (opendata.py:243-266) as a literal CASE chain —
    * constant-folded by Catalyst, broadcast-free.
    */
  val badSridMap: Map[Int, Int] = Map(
    300001 -> 2272, 300003 -> 2272, 300046 -> 2272, 300006 -> 2272,
    300010 -> 2272, 300008 -> 2272, 300004 -> 2272, 300007 -> 2272,
    300067 -> 2272, 300100 -> 2272, 300101 -> 2272, 300084 -> 3857,
    300073 -> 4326, 300042 -> 4326, 300090 -> 4269, 300091 -> 4326,
    300092 -> 4326, 300086 -> 6565, 300087 -> 6565, 300093 -> 2272)

  def remapBadSrid(srid: Column): Column =
    badSridMap.foldLeft(srid) { case (acc, (bad, good)) =>
      when(srid === lit(bad), lit(good)).otherwise(acc)
    }
}
