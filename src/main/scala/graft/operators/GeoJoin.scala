package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions

/** Geohash-cell blocked radius join — SURVEY §2.6 J6 (reference:
  * `lib/MyGPS.py:320-373` FindNeighbours, default area 5 km, and the
  * prefix-length→distance table `lib/MyGPS.py:58-79`: a shared 5-char
  * prefix bounds distance to ~3.8 km).
  *
  * The reference scans all kits and haversine-filters — O(n²). This
  * operator turns the radius predicate into an equi-join: every point is
  * assigned its geohash cell at a radius-derived precision; one side
  * additionally explodes to the neighbor cells within reach, so any pair
  * within the radius shares at least one (cell, cell) key. Candidates are
  * then refined with the exact haversine. Spark plans the candidate step
  * as a shuffled equi-join on the cell string — no nested-loop, no
  * all-pairs, per-cell cost bounded by cell population.
  *
  * Soundness at any latitude: a geohash cell's east-west extent in metres
  * shrinks by cos(lat), so the classic "own cell + 8 neighbors" is only
  * complete while the radius fits one cell width *at the highest latitude
  * in the data*. Instead of assuming that, the reach is computed per axis:
  *  - north-south: great-circle distance ≥ R·Δlat, so
  *    `maxΔlat = radius/R` exactly;
  *  - east-west: for two points within ±maxAbsLat the longitude delta of
  *    a radius-length arc is largest with both points at ±maxAbsLat,
  *    where haversine inverts to `maxΔlon = 2·asin(min(1,
  *    sin(radius/2R)/cos(maxAbsLat)))`.
  * Crossing `k = ceil(maxΔ/cellExtent)` cell boundaries per axis then
  * covers every reachable cell. At the reference's 5 km the precision
  * auto-picks so kx = ky = 1 (the classic 3×3 block); at planetary radii
  * it degrades gracefully to coarse cells with a wider reach instead of
  * silently dropping pairs.
  */
object GeoJoin {

  /** (widthDeg, heightDeg) of a geohash cell at `precision` characters:
    * 5 bits per char, longitude gets the odd bit. */
  def cellDims(precision: Int): (Double, Double) = {
    val bits = 5 * precision
    val lonBits = (bits + 1) / 2
    val latBits = bits / 2
    (360.0 / (1L << lonBits), 180.0 / (1L << latBits))
  }

  /** Max |Δlat| (degrees) between two points within `radiusM` metres. */
  def maxDLatDeg(radiusM: Double): Double =
    math.toDegrees(radiusM / GeoFunctions.EarthRadiusM)

  /** Max |Δlon| (degrees) between two points within `radiusM` metres,
    * given both latitudes are within ±maxAbsLat. */
  def maxDLonDeg(radiusM: Double, maxAbsLat: Double): Double = {
    val s = math.sin(radiusM / (2 * GeoFunctions.EarthRadiusM)) /
      math.cos(math.toRadians(maxAbsLat))
    math.toDegrees(2 * math.asin(math.min(1.0, s)))
  }

  /** Finest precision (most selective cells) that still keeps the 3×3
    * neighbor block complete for this radius/latitude bound; precision 1
    * (45° cells) with a wider reach when even that is too small. */
  def pickPrecision(radiusM: Double, maxAbsLat: Double): Int =
    (12 to 1 by -1).find { p =>
      val (w, h) = cellDims(p)
      maxDLatDeg(radiusM) <= h && maxDLonDeg(radiusM, maxAbsLat) <= w
    }.getOrElse(1)

  /** The cell keys of a radius join: cells at [[pickPrecision]]'s
    * precision, and a reach of `k = ceil(maxΔ/cellExtent)` cells per
    * axis (see the object doc). Shared by [[pairsWithinRadius]] and
    * [[ReverseGeocode.nearestWithinRadius]]. */
  private[operators] final class CellReach(radiusM: Double, maxAbsLat: Double) {
    private val p = pickPrecision(radiusM, maxAbsLat)
    private val (w, h) = cellDims(p)
    private val kx = math.ceil(maxDLonDeg(radiusM, maxAbsLat) / w).toInt
    private val ky = math.ceil(maxDLatDeg(radiusM) / h).toInt

    /** The geohash cell of a point. */
    def cellOf(la: Column, lo: Column): Column =
      call_function("geohash_encode", la, lo, lit(p))

    /** One row per distinct cell within reach of a point, its own cell
      * included — latitude clamped at the poles, longitude wrapped;
      * duplicates from clamp/wrap removed so each candidate pair arises
      * exactly once against a side that carries a single cell per point. */
    def reachCells(la: Column, lo: Column): Column = {
      val cells = for { dy <- -ky to ky; dx <- -kx to kx } yield
        cellOf(least(greatest(la + lit(dy * h), lit(-89.9999999)), lit(89.9999999)),
          (lo + lit(dx * w + 540.0)) % 360.0 - 180.0)
      explode(array_distinct(array(cells: _*)))
    }
  }

  /** All unordered pairs of `points` within `radiusM` metres.
    *
    * @param points    (key, lat, lon) rows; lat must lie in ±maxAbsLat
    * @param maxAbsLat highest |latitude| in the data (drives the east-west
    *                  reach; pass a loose bound like 66 if unknown)
    * @return (a_key, b_key, dist_m) with a_key < b_key
    */
  def pairsWithinRadius(points: DataFrame, key: Column, lat: Column,
                        lon: Column, radiusM: Double,
                        maxAbsLat: Double = 66.0): DataFrame = {
    val reach = new CellReach(radiusM, maxAbsLat)
    val base = points.select(key.as("k"), lat.as("la"), lon.as("lo"))
    // Probe side: every cell within reach; the build side carries a
    // single cell per point.
    val probe = base
      .withColumn("cell", reach.reachCells(col("la"), col("lo")))
      .select(col("k").as("a_key"), col("la").as("a_lat"),
        col("lo").as("a_lon"), col("cell"))
    val build = base
      .select(col("k").as("b_key"), col("la").as("b_lat"),
        col("lo").as("b_lon"), reach.cellOf(col("la"), col("lo")).as("cell"))

    probe.join(build, Seq("cell"))
      .where(col("a_key") < col("b_key"))
      .withColumn("dist_m", GeoFunctions.haversineM(
        col("a_lat"), col("a_lon"), col("b_lat"), col("b_lon")))
      .where(col("dist_m") <= radiusM)
      .select(col("a_key"), col("b_key"), col("dist_m"))
  }
}
