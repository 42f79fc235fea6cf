package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions

/** Offline reverse geocoding — the in-sandbox twin of the reference's
  * Nominatim lookup on kit relocation (`MyDatacollector/MyDatacollector.py:
  * 1041-1078` UpdateNewHome → `lib/MyGPS.py:155-176` GPS2Address:
  * `reverse?…&zoom=18&lat=…&lon=…`). The reference ships each moved kit's
  * coordinates to openstreetmap.org one HTTP call at a time; at engine
  * scale the same semantics are a nearest-neighbour join against a place
  * gazetteer dimension, which is exactly how an offline Nominatim resolves
  * a reverse query: find the closest known address point within the zoom
  * level's search radius, or nothing.
  *
  * Spark-first shape: the gazetteer is a dimension (city/street/address
  * points — small next to the fact side even planet-scale), so the
  * candidate step is a geohash-cell **broadcast** equi-join, not a shuffle:
  * each point probes its own cell plus the cells within radius reach (the
  * per-axis reach math shared with [[GeoJoin]] — complete at any latitude),
  * the gazetteer carries one cell per place, and the exact-haversine argmin
  * per point picks the winner. Points with nothing inside `radiusM` keep a
  * NULL place, like the reference's `{}` on a failed lookup. Cost:
  * one broadcast + one partial-aggregated argmin on the point key —
  * no shuffle of the fact side at all when the input is already keyed.
  */
object ReverseGeocode {

  /** Per point: the nearest place within `radiusM` metres (exact — the
    * cell block provably contains every place in reach), or NULL columns
    * when none is in range.
    *
    * @param points    fact side; one row per point to geocode
    * @param places    gazetteer dimension (broadcast — keep it dim-sized)
    * @param maxAbsLat highest |latitude| in either input (east-west reach)
    * @return one row per input point: (key, place_key, dist_m); ties on
    *         distance break towards the lowest place key (deterministic)
    */
  def nearestWithinRadius(points: DataFrame, key: Column, lat: Column,
                          lon: Column, places: DataFrame, placeKey: Column,
                          placeLat: Column, placeLon: Column, radiusM: Double,
                          maxAbsLat: Double = 66.0): DataFrame = {
    val reach = new GeoJoin.CellReach(radiusM, maxAbsLat)
    val base = points.select(key.as("k"), lat.as("la"), lon.as("lo"))
    // Probe side: every cell within reach — the GeoJoin.pairsWithinRadius
    // completeness argument. The gazetteer carries a single cell per
    // place, so each (point, place) candidate arises exactly once.
    val probe = base.withColumn("cell", reach.reachCells(col("la"), col("lo")))
    val gaz = places.select(placeKey.as("place_key"), placeLat.as("p_la"),
      placeLon.as("p_lo"))
    val build = gaz.select(col("place_key"), col("p_la"), col("p_lo"),
      reach.cellOf(col("p_la"), col("p_lo")).as("cell"))

    val best = probe.join(broadcast(build), Seq("cell"))
      .withColumn("dist_m", GeoFunctions.haversineM(
        col("la"), col("lo"), col("p_la"), col("p_lo")))
      .where(col("dist_m") <= radiusM)
      .groupBy(col("k"))
      // struct min = (dist, place_key) lexicographic — exact argmin with
      // a deterministic tie-break, computed map-side before the exchange
      .agg(min(struct(col("dist_m"), col("place_key"))).as("best"))
      .select(col("k"), col("best.place_key").as("place_key"),
        col("best.dist_m").as("dist_m"))

    base.select(col("k")).join(best, Seq("k"), "left")
      .select(col("k").as("key"), col("place_key"), col("dist_m"))
  }
}
