package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TimeSeries.quantize

/** Point CRS reprojection — the coordinate math behind the
  * reference's station ingest (`ingestor_aemet_stations_process.py:
  * 157-165`: AEMET station exports arrive in EPSG:25830 = ETRS89 /
  * UTM zone 30N map coordinates and are reprojected to EPSG:4326
  * lon/lat via `gdf.to_crs(epsg=4326)` before publishing).
  *
  * Implemented as the closed-form transverse-Mercator series
  * (Snyder, *Map Projections — A Working Manual*, USGS PP 1395,
  * eqs. 8-9..8-25 — public-domain formulas), NOT a geodesy library:
  * the whole transform is a fixed per-row expression tree of
  * +,*,sin,cos,tan,sqrt on doubles, so it stays inside whole-stage
  * codegen and needs no UDF, no driver round-trip, and no
  * per-partition state — the ideal 100 TB shape (a pure map).
  *
  * Every series coefficient is computed ONCE here on the driver and
  * rendered as a LITERAL into both the Spark plan and the DuckDB
  * oracle, so both engines fold the identical double bits and the
  * only cross-engine surface is libm sin/cos/tan/sqrt (which agree
  * to ≤ 1 ulp — far inside the 1e-6-degree output quantization).
  * ETRS89→WGS84 is identity at this precision.
  */
object Geo {

  /** GRS80 ellipsoid + UTM parameters (zone 30N for EPSG:25830). */
  val A = 6378137.0
  val F = 1.0 / 298.257222101
  val E2 = F * (2.0 - F)
  val Ep2 = E2 / (1.0 - E2)
  val K0 = 0.9996
  val FalseEasting = 500000.0
  val Lon0Deg = -3.0 // zone 30N central meridian
  val Rad2Deg = 180.0 / math.Pi
  val Deg2Rad = math.Pi / 180.0

  /** Rectifying-sphere coefficient: M = a·M0·µ. */
  val M0 = 1.0 - E2 / 4.0 - 3.0 * E2 * E2 / 64.0 - 5.0 * E2 * E2 * E2 / 256.0
  private val sqrt1mE2 = math.sqrt(1.0 - E2)
  val E1 = (1.0 - sqrt1mE2) / (1.0 + sqrt1mE2)
  /** Footpoint-latitude series (Snyder eq. 3-26). */
  val J1 = 3.0 * E1 / 2.0 - 27.0 * E1 * E1 * E1 / 32.0
  val J2 = 21.0 * E1 * E1 / 16.0 - 55.0 * E1 * E1 * E1 * E1 / 32.0
  val J3 = 151.0 * E1 * E1 * E1 / 96.0
  val J4 = 1097.0 * E1 * E1 * E1 * E1 / 512.0
  /** Meridian-arc series for the FORWARD direction (Snyder eq. 3-21). */
  val P1 = 3.0 * E2 / 8.0 + 3.0 * E2 * E2 / 32.0 + 45.0 * E2 * E2 * E2 / 1024.0
  val P2 = 15.0 * E2 * E2 / 256.0 + 45.0 * E2 * E2 * E2 / 1024.0
  val P3 = 35.0 * E2 * E2 * E2 / 3072.0

  /** Inverse TM: (easting, northing) → (lon_deg, lat_deg), northern
    * hemisphere. Pure Column math; mirror of [[inverseSqlExprs]]. */
  def utmToLonLat(easting: Column, northing: Column): (Column, Column) = {
    val mu = northing / lit(K0) / lit(A * M0)
    val phi1 = mu + lit(J1) * sin(mu * 2.0) + lit(J2) * sin(mu * 4.0) +
      lit(J3) * sin(mu * 6.0) + lit(J4) * sin(mu * 8.0)
    val sinPhi1 = sin(phi1)
    val cosPhi1 = cos(phi1)
    val tanPhi1 = tan(phi1)
    val c1 = lit(Ep2) * cosPhi1 * cosPhi1
    val t1 = tanPhi1 * tanPhi1
    val oneMinus = lit(1.0) - lit(E2) * sinPhi1 * sinPhi1
    val n1 = lit(A) / sqrt(oneMinus)
    val r1 = lit(A * (1.0 - E2)) / (oneMinus * sqrt(oneMinus))
    val d = (easting - lit(FalseEasting)) / (n1 * lit(K0))
    val d2 = d * d
    val lat = (phi1 - (n1 * tanPhi1 / r1) * (d2 / 2.0 -
      (lit(5.0) + lit(3.0) * t1 + lit(10.0) * c1 - lit(4.0) * c1 * c1 -
        lit(9.0 * Ep2)) * d2 * d2 / 24.0 +
      (lit(61.0) + lit(90.0) * t1 + lit(298.0) * c1 + lit(45.0) * t1 * t1 -
        lit(252.0 * Ep2) - lit(3.0) * c1 * c1) * d2 * d2 * d2 / 720.0)) *
      lit(Rad2Deg)
    val lon = lit(Lon0Deg) + (d - (lit(1.0) + lit(2.0) * t1 + c1) * d2 * d / 6.0 +
      (lit(5.0) - lit(2.0) * c1 + lit(28.0) * t1 - lit(3.0) * c1 * c1 +
        lit(8.0 * Ep2) + lit(24.0) * t1 * t1) * d2 * d2 * d / 120.0) /
      cosPhi1 * lit(Rad2Deg)
    (lon, lat)
  }

  /** Forward TM: (lon_deg, lat_deg) → (easting, northing) — the spec's
    * round-trip check and the publish-to-map direction. */
  def lonLatToUtm(lonDeg: Column, latDeg: Column): (Column, Column) = {
    val phi = latDeg * lit(Deg2Rad)
    val sinPhi = sin(phi)
    val cosPhi = cos(phi)
    val tanPhi = tan(phi)
    val n = lit(A) / sqrt(lit(1.0) - lit(E2) * sinPhi * sinPhi)
    val t = tanPhi * tanPhi
    val c = lit(Ep2) * cosPhi * cosPhi
    val aa = (lonDeg - lit(Lon0Deg)) * lit(Deg2Rad) * cosPhi
    val m = lit(A) * (lit(M0) * phi - lit(P1) * sin(phi * 2.0) +
      lit(P2) * sin(phi * 4.0) - lit(P3) * sin(phi * 6.0))
    val a2 = aa * aa
    val easting = lit(FalseEasting) + lit(K0) * n * (aa +
      (lit(1.0) - t + c) * a2 * aa / 6.0 +
      (lit(5.0) - lit(18.0) * t + t * t + lit(72.0) * c - lit(58.0 * Ep2)) *
        a2 * a2 * aa / 120.0)
    val northing = lit(K0) * (m + n * tanPhi * (a2 / 2.0 +
      (lit(5.0) - t + lit(9.0) * c + lit(4.0) * c * c) * a2 * a2 / 24.0 +
      (lit(61.0) - lit(58.0) * t + t * t + lit(600.0) * c - lit(330.0 * Ep2)) *
        a2 * a2 * a2 / 720.0))
    (easting, northing)
  }

  /** Deterministic synthetic station map coordinates (both engines
    * derive the same integers from user_id): zone-30 eastings
    * 300–700 km, northings 4000–4600 km — the Guadalquivir/Iberia
    * envelope of the reference's station set. */
  val EastingExpr = "300000 + (user_id * 7919) % 400000"
  val NorthingExpr = "4000000 + (user_id * 104729) % 600000"

  /** The registered query: one row per station, map coordinates →
    * 6dp lon/lat (≈ 0.1 m, the reference's `np.round(..., 6)`
    * convention for published coordinates). Shape: distinct on the
    * station key (one exchange over O(stations)), then the pure
    * per-row expression — nothing here scales with event volume
    * except the cheap distinct. */
  def stationsReproject(spark: SparkSession, dir: String): DataFrame = {
    val st = graft.Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .withColumn("easting", expr(EastingExpr).cast("double"))
      .withColumn("northing", expr(NorthingExpr).cast("double"))
    val (lon, lat) = utmToLonLat(col("easting"), col("northing"))
    st.select(col("user_id").as("station"),
      col("easting"), col("northing"),
      quantize(lon, 6).as("lon"),
      quantize(lat, 6).as("lat"))
  }

  /** DuckDB rendering of the inverse transform over columns named
    * `easting`/`northing` — SAME operation order as [[utmToLonLat]],
    * coefficients rendered from the same driver doubles. Returns
    * (lon_expr, lat_expr). */
  def inverseSqlExprs: (String, String) = {
    val mu = s"(northing / $K0 / ${A * M0})"
    val phi1 = s"($mu + $J1 * sin($mu * 2.0) + $J2 * sin($mu * 4.0) + " +
      s"$J3 * sin($mu * 6.0) + $J4 * sin($mu * 8.0))"
    val c1 = s"($Ep2 * cos($phi1) * cos($phi1))"
    val t1 = s"(tan($phi1) * tan($phi1))"
    val om = s"(1.0 - $E2 * sin($phi1) * sin($phi1))"
    val n1 = s"($A / sqrt($om))"
    val r1 = s"(${A * (1.0 - E2)} / ($om * sqrt($om)))"
    val d = s"((easting - $FalseEasting) / ($n1 * $K0))"
    val d2 = s"($d * $d)"
    val lat = s"(($phi1 - ($n1 * tan($phi1) / $r1) * ($d2 / 2.0 - " +
      s"(5.0 + 3.0 * $t1 + 10.0 * $c1 - 4.0 * $c1 * $c1 - ${9.0 * Ep2}) " +
      s"* $d2 * $d2 / 24.0 + " +
      s"(61.0 + 90.0 * $t1 + 298.0 * $c1 + 45.0 * $t1 * $t1 - " +
      s"${252.0 * Ep2} - 3.0 * $c1 * $c1) * $d2 * $d2 * $d2 / 720.0)) " +
      s"* $Rad2Deg)"
    val lon = s"($Lon0Deg + ($d - (1.0 + 2.0 * $t1 + $c1) * $d2 * $d / 6.0 + " +
      s"(5.0 - 2.0 * $c1 + 28.0 * $t1 - 3.0 * $c1 * $c1 + ${8.0 * Ep2} + " +
      s"24.0 * $t1 * $t1) * $d2 * $d2 * $d / 120.0) / cos($phi1) * $Rad2Deg)"
    (lon, lat)
  }
}
