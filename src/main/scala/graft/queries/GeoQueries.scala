package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions
import graft.operators._

import Shared._

/** Geo: the geohash-blocked range join, native geohash codes and prefix
  * distances, neighbour search, geofence segments, reverse geocoding and
  * the station map document. */
object GeoQueries {

  val all: Seq[Query] = Seq(
    // Q20 — geo range join (J6/F5): pairs within 3000 km haversine.
    // Geohash-cell blocked (GeoJoin): candidates from a cell equi-join
    // with radius-derived neighbor reach, exact haversine refine — no
    // nested-loop; same rows as the all-pairs oracle. Synthetic lat stays
    // within ±60, which bounds the east-west reach.
    Query("q20_geo_join", (s, d) => {
      val sup = Tables.supplier(s, d).select(col("s_suppkey"),
        ((col("s_suppkey") * 7 % 120) - 60 + 0.25).as("lat"),
        ((col("s_suppkey") * 13 % 360) - 180 + 0.5).as("lon"))
      GeoJoin.pairsWithinRadius(sup, col("s_suppkey"), col("lat"), col("lon"),
          radiusM = 3000000.0, maxAbsLat = 60.0)
        .select(col("a_key"), col("b_key"),
          round(col("dist_m") / 1000.0, 2).as("dist_km"))
    }, oracle =
      """WITH s AS (SELECT s_suppkey,
                (s_suppkey*7 % 120) - 60 + 0.25 AS lat,
                (s_suppkey*13 % 360) - 180 + 0.5 AS lon FROM supplier)
         SELECT a.s_suppkey AS a_key, b.s_suppkey AS b_key,
                round(2*6371000*asin(sqrt(
                  pow(sin(radians(b.lat-a.lat)/2),2) +
                  cos(radians(a.lat))*cos(radians(b.lat))
                    *pow(sin(radians(b.lon-a.lon)/2),2)))/1000.0, 2) AS dist_km
         FROM s a JOIN s b ON a.s_suppkey < b.s_suppkey
         WHERE 2*6371000*asin(sqrt(
                  pow(sin(radians(b.lat-a.lat)/2),2) +
                  cos(radians(a.lat))*cos(radians(b.lat))
                    *pow(sin(radians(b.lon-a.lon)/2),2)))/1000.0 <= 3000.0"""),

    // Q49 — native geohash Expression round-trip (F4 as a codegen'd
    // Catalyst expression, registered via SparkSessionExtensions):
    // decode(encode(lat,lon,12)) ≈ identity within 1e-7 ≪ the 1e-4
    // output rounding, so the oracle is the plain projection.
    Query("q49_geohash_native", (s, d) => {
      Tables.supplier(s, d).select(col("s_suppkey"),
          ((col("s_suppkey") * 7 % 120) - 60 + 0.25).as("lat"),
          ((col("s_suppkey") * 13 % 360) - 180 + 0.5).as("lon"))
        .withColumn("gh", call_function("geohash_encode",
          col("lat"), col("lon"), lit(12)))
        .select(col("s_suppkey"),
          round(call_function("geohash_decode_lat", col("gh")), 4).as("lat_rt"),
          round(call_function("geohash_decode_lon", col("gh")), 4).as("lon_rt"))
    }, oracle =
      """SELECT s_suppkey,
                round((s_suppkey*7 % 120) - 60 + 0.25, 4) AS lat_rt,
                round((s_suppkey*13 % 360) - 180 + 0.5, 4) AS lon_rt
         FROM supplier"""),

    // Q59 — the reference's FindNeighbours proper (J6, MyGPS.py:320-373):
    // kits within the DEFAULT 5 km radius over a dense NL-latitude point
    // cloud. At this radius GeoJoin auto-picks precision 4 and the classic
    // own-cell + 8-neighbor block (kx = ky = 1).
    Query("q59_geo_neighbours", (s, d) => {
      val kits = Tables.supplier(s, d).select(col("s_suppkey"),
        (lit(51.0) + (col("s_suppkey") % 200) * 0.004).as("lat"),
        (lit(5.0) + (col("s_suppkey") * 3 % 200) * 0.006).as("lon"))
      GeoJoin.pairsWithinRadius(kits, col("s_suppkey"), col("lat"), col("lon"),
          radiusM = 5000.0, maxAbsLat = 52.0)
        .select(col("a_key"), col("b_key"),
          round(col("dist_m"), 2).as("dist_m"))
    }, oracle =
      """WITH s AS (SELECT s_suppkey,
                51.0 + (s_suppkey % 200) * 0.004 AS lat,
                5.0 + (s_suppkey*3 % 200) * 0.006 AS lon FROM supplier)
         SELECT a.s_suppkey AS a_key, b.s_suppkey AS b_key,
                round(2*6371000*asin(sqrt(
                  pow(sin(radians(b.lat-a.lat)/2),2) +
                  cos(radians(a.lat))*cos(radians(b.lat))
                    *pow(sin(radians(b.lon-a.lon)/2),2))), 2) AS dist_m
         FROM s a JOIN s b ON a.s_suppkey < b.s_suppkey
         WHERE 2*6371000*asin(sqrt(
                  pow(sin(radians(b.lat-a.lat)/2),2) +
                  cos(radians(a.lat))*cos(radians(b.lat))
                    *pow(sin(radians(b.lon-a.lon)/2),2))) <= 5000.0"""),

    // Q62 — batch geofence segmentation (W7): contiguous "kit not at
    // home" periods from haversine home-distance > 118 m, the batch twin
    // of the streaming geofence (UpdateValidity.sh awk state machine).
    Query("q62_geofence_segments", (s, d) => {
      val lat0 = lit(51.4) + (col("user_id") % 100).cast("double") * 0.001
      val lon0 = lit(6.08) + (col("user_id") % 50).cast("double") * 0.002
      val lat = lat0 + when(col("event_id") % 17 < 3, 0.01).otherwise(0.0)
      val dist = GeoFunctions.haversineM(lat0, lon0, lat, lon0)
      WindowOps.geofenceSegments(Tables.events(s, d), Seq(col("user_id")),
          Seq(col("ts"), col("event_id")), dist, 118.0)
        .select(col("user_id"), eS(col("seg_start")).as("seg_start"),
          eS(col("seg_end")).as("seg_end"), col("n_rows"),
          round(col("max_dist_m"), 2).as("max_dist_m"))
    }, oracle =
      """WITH t AS (SELECT user_id, ts, event_id,
              51.4 + CAST(user_id % 100 AS DOUBLE) * 0.001 AS lat0,
              6.08 + CAST(user_id % 50 AS DOUBLE) * 0.002 AS lon0,
              CASE WHEN event_id % 17 < 3 THEN 0.01 ELSE 0.0 END AS dlat
              FROM events),
          dd AS (SELECT user_id, ts, event_id,
              2*6371000*asin(least(sqrt(
                pow(sin(radians((lat0 + dlat) - lat0)/2),2) +
                cos(radians(lat0))*cos(radians(lat0 + dlat))
                  *pow(sin(radians(lon0 - lon0)/2),2)), 1.0)) AS dist_m
              FROM t),
          f AS (SELECT *, dist_m > 118.0 AS away,
              row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            - row_number() OVER (PARTITION BY user_id, dist_m > 118.0
                                 ORDER BY ts, event_id) AS grp
              FROM dd)
          SELECT user_id, epoch_us(min(ts))//1000000 AS seg_start,
                 epoch_us(max(ts))//1000000 AS seg_end,
                 count(*) AS n_rows, round(max(dist_m), 2) AS max_dist_m
          FROM f WHERE away GROUP BY user_id, grp"""),

    // Q78 — geohash prefix-length distance (F6, MyGPS.py:58-79): the
    // Column-side common-prefix scan + meters lookup over string pairs
    // with a KNOWN prefix length k = s_suppkey % 13 (clamp branch
    // included at k ≥ 10); the oracle states the lookup closed-form.
    Query("q78_prefix_distance", (s, d) => {
      val k = (col("s_suppkey") % 13).cast("int")
      val a = lit("u" * 12)
      val b = concat(a.substr(lit(1), k), lit("7" * 12).substr(lit(1), lit(12) - k))
      Tables.supplier(s, d).select(col("s_suppkey"),
        graft.functions.GeoFunctions.geohashCommonPrefixLen(a, b).as("prefix_len"),
        graft.functions.GeoFunctions.geohashPrefixDistanceMCol(a, b).as("approx_m"))
    }, oracle =
      s"""SELECT s_suppkey,
                 CAST(s_suppkey % 13 AS INT) AS prefix_len,
                 ${GeoFunctions.prefixDistanceSqlCase(
                   "least(s_suppkey % 13, 10)")} AS approx_m
          FROM supplier"""),

    // Q88 — offline reverse geocode on kit relocation (MyDatacollector.py
    // :1041-1078 UpdateNewHome + lib/MyGPS.py:155-176 GPS2Address): kits
    // whose current fix moved >= 119 m from home (the reference's gate —
    // `GPSdistance(...) < 119: return False`) resolve the nearest
    // gazetteer place within the lookup radius via a geohash-cell
    // BROADCAST join + exact-haversine argmin; kits with nothing in range
    // keep NULL address columns (the reference's `{}` on a failed lookup).
    // Customers play the gazetteer dimension; suppliers play the kits.
    Query("q88_reverse_geocode", (s, d) => {
      val kits = Tables.supplier(s, d).select(col("s_suppkey"),
          (lit(51.0) + (col("s_suppkey") % 200) * 0.004).as("home_lat"),
          (lit(5.0) + (col("s_suppkey") * 3 % 200) * 0.006).as("home_lon"))
        .withColumn("cur_lat", col("home_lat") +
          when(col("s_suppkey") % 7 === 0, 0.01)
            .when(col("s_suppkey") % 7 === 1, 0.0008).otherwise(0.0))
        .withColumn("cur_lon", col("home_lon") +
          when(col("s_suppkey") % 5 === 0, 0.012).otherwise(0.0))
        .withColumn("moved_m", GeoFunctions.haversineM(
          col("home_lat"), col("home_lon"), col("cur_lat"), col("cur_lon")))
        .where(col("moved_m") >= 119.0)
      val places = Tables.customer(s, d).select(
        col("c_custkey").as("place_key"), col("c_name").as("place_name"),
        (lit(51.0) + (col("c_custkey") % 220) * 0.0037).as("p_lat"),
        (lit(5.0) + (col("c_custkey") * 7 % 220) * 0.0055).as("p_lon"))
      ReverseGeocode.nearestWithinRadius(kits,
          col("s_suppkey"), col("cur_lat"), col("cur_lon"),
          places, col("place_key"), col("p_lat"), col("p_lon"),
          radiusM = 1500.0, maxAbsLat = 52.2)
        .join(kits.select(col("s_suppkey").as("key"), col("moved_m")), Seq("key"))
        .join(broadcast(places.select(col("place_key"), col("place_name"))),
          Seq("place_key"), "left")
        .select(col("key").as("s_suppkey"), round(col("moved_m"), 2).as("moved_m"),
          col("place_key"), col("place_name"), round(col("dist_m"), 2).as("dist_m"))
    }, oracle =
      // Brute-force twin of the blocked nearest-place join: every moved kit
      // against every place, argmin by (dist, place_key), LEFT join keeps
      // out-of-range kits with NULL address columns.
      """WITH kits AS (
            SELECT s_suppkey,
                   51.0 + (s_suppkey % 200) * 0.004 AS home_lat,
                   5.0 + (s_suppkey*3 % 200) * 0.006 AS home_lon
            FROM supplier),
          cur AS (
            SELECT s_suppkey, home_lat, home_lon,
                   home_lat + CASE WHEN s_suppkey % 7 = 0 THEN 0.01
                                   WHEN s_suppkey % 7 = 1 THEN 0.0008
                                   ELSE 0.0 END AS cur_lat,
                   home_lon + CASE WHEN s_suppkey % 5 = 0 THEN 0.012
                                   ELSE 0.0 END AS cur_lon
            FROM kits),
          moved AS (
            SELECT s_suppkey, cur_lat, cur_lon,
                   2*6371000*asin(sqrt(
                     pow(sin(radians(cur_lat-home_lat)/2),2) +
                     cos(radians(home_lat))*cos(radians(cur_lat))
                       *pow(sin(radians(cur_lon-home_lon)/2),2))) AS moved_m
            FROM cur
            WHERE 2*6371000*asin(sqrt(
                     pow(sin(radians(cur_lat-home_lat)/2),2) +
                     cos(radians(home_lat))*cos(radians(cur_lat))
                       *pow(sin(radians(cur_lon-home_lon)/2),2))) >= 119.0),
          places AS (
            SELECT c_custkey AS place_key, c_name AS place_name,
                   51.0 + (c_custkey % 220) * 0.0037 AS p_lat,
                   5.0 + (c_custkey*7 % 220) * 0.0055 AS p_lon
            FROM customer),
          nearest AS (
            SELECT m.s_suppkey, p.place_key, p.place_name,
                   2*6371000*asin(sqrt(
                     pow(sin(radians(p.p_lat-m.cur_lat)/2),2) +
                     cos(radians(m.cur_lat))*cos(radians(p.p_lat))
                       *pow(sin(radians(p.p_lon-m.cur_lon)/2),2))) AS dist_m
            FROM moved m JOIN places p
              ON 2*6371000*asin(sqrt(
                     pow(sin(radians(p.p_lat-m.cur_lat)/2),2) +
                     cos(radians(m.cur_lat))*cos(radians(p.p_lat))
                       *pow(sin(radians(p.p_lon-m.cur_lon)/2),2))) <= 1500.0
            QUALIFY row_number() OVER (PARTITION BY m.s_suppkey
                                       ORDER BY dist_m, p.place_key) = 1)
         SELECT m.s_suppkey, round(m.moved_m, 2) AS moved_m,
                n.place_key, n.place_name, round(n.dist_m, 2) AS dist_m
         FROM moved m LEFT JOIN nearest n USING (s_suppkey)"""),

    // Q90 — Leaflet station-map round trip (SamenMetenTools/
    // Things2HTML.py:223-252 InitOverlays, :296-358 GetMarkerAttr,
    // :502-585 Data2Map): stations on every year overlay a sensor was
    // active, marker attrs from the regex cascade over the sorted sensor
    // set (incl. the pm1-at-end and pm1+pm10→"PM₂.₅, PM₁₀" reference
    // quirks), a "Geen metingen" circle for stations lacking a union
    // sensor, rendered as a Leaflet document and parsed back. Synthetic
    // station/sensor/year spread over events: st = user_id%40, sensor by
    // a deterministic hash of (st, event_type), years fanned by
    // event_id%4 so overlay ranges genuinely span multiple years.
    Query("q90_map_doc", (s, d) => {
      val e = Tables.events(s, d)
      val st = (col("user_id") % 40).cast("int")
      val idx = (st * 3 + length(col("event_type")) * 7 +
        ascii(substring(col("event_type"), 1, 1))) % 10
      val sensor = element_at(array(lit("pm1"), lit("pm25"), lit("pm10"),
        lit("co2"), lit("no2"), lit("o3"), lit("nh3"), lit("palmes"),
        lit("temperatuur"), lit("RH")), idx + 1)
      val markers = MapDoc.stationYearMarkers(e, st, sensor,
        eS(col("ts")) + (col("event_id") % 4) * 31536000L,
        lit(51.0) + (st % 37) * 0.011, lit(5.0) + (st * 5 % 41) * 0.013)
      val f = graft.Scratch.tempDir("q90")
        .resolve("map.html")
      java.nio.file.Files.writeString(f, MapDoc.document(markers))
      MapDoc.parseMarkers(s, f.toString)
    }, oracle =
      // Closed form of the Things2HTML map: per-sensor first/last, year
      // fan-out, the GetMarkerAttr cascade on the sorted comma-joined
      // lowered sensor set, and a no-measurements circle per station
      // missing a union sensor. e0 literals keep the location arithmetic
      // DOUBLE (decimal scale would render trailing zeros differently).
      """WITH base AS (
            SELECT CAST(user_id % 40 AS INT) AS st,
                   CASE (CAST(user_id % 40 AS INT)*3 + length(event_type)*7
                         + ascii(substr(event_type, 1, 1))) % 10
                     WHEN 0 THEN 'pm1' WHEN 1 THEN 'pm25' WHEN 2 THEN 'pm10'
                     WHEN 3 THEN 'co2' WHEN 4 THEN 'no2' WHEN 5 THEN 'o3'
                     WHEN 6 THEN 'nh3' WHEN 7 THEN 'palmes'
                     WHEN 8 THEN 'temperatuur' ELSE 'RH' END AS sensor,
                   epoch_us(ts)//1000000 + (event_id % 4) * 31536000 AS t
            FROM events),
          ps AS (SELECT st, sensor, min(t) AS tf, max(t) AS tl
                 FROM base GROUP BY 1, 2),
          sl AS (SELECT st, min(tf) AS t0, max(tl) AS t1, count(*) AS nsens,
                        round(51.0e0 + (st % 37) * 0.011e0, 3) AS lat,
                        round(5.0e0 + (st*5 % 41) * 0.013e0, 3) AS lon,
                        strftime(to_timestamp(min(tf)), '%Y-%m-%d') AS first_d,
                        strftime(to_timestamp(max(tl)), '%Y-%m-%d') AS last_d
                 FROM ps GROUP BY st),
          un AS (SELECT count(DISTINCT sensor) AS total FROM base),
          sy AS (SELECT DISTINCT st, sensor,
                        unnest(range(year(to_timestamp(tf)),
                                     year(to_timestamp(tl)) + 1)) AS yr
                 FROM ps),
          py AS (SELECT st, yr,
                        string_agg(sensor, ',' ORDER BY sensor) AS pols,
                        lower(string_agg(sensor, ',' ORDER BY sensor)) AS m
                 FROM sy GROUP BY 1, 2),
          at AS (SELECT st, yr, pols, m,
                        (length(m) - length(replace(m, 'pm', '')))//2 AS pmc
                 FROM py),
          yr_rows AS (
            SELECT a.st, CAST(a.yr AS INT) AS yr, s.lat, s.lon,
                   CASE WHEN pmc >= 3 THEN 'cadetblue'
                        WHEN pmc = 2 AND regexp_matches(m, 'pm(10|₁₀)') THEN 'cadetblue'
                        WHEN pmc = 2 AND regexp_matches(m, 'pm(2[.,]?5|₂.₅)') THEN 'cadetblue'
                        WHEN pmc >= 1 AND regexp_matches(m, 'pm(1|₁)[^0-9]') THEN 'lightblue'
                        WHEN pmc >= 1 AND regexp_matches(m, 'pm(2[.,]?5|₂.₅)') THEN 'cadetblue'
                        WHEN pmc >= 1 AND regexp_matches(m, 'pm(10|₁₀)') THEN 'blue'
                        ELSE 'lightgray' END AS color,
                   CASE WHEN pmc >= 3 THEN 'spinner'
                        WHEN pmc = 2 THEN 'cogs'
                        WHEN pmc = 1 THEN 'cog'
                        WHEN regexp_matches(m, 'co[0-9]') THEN 'cloud'
                        WHEN regexp_matches(m, 'no[0-9]') THEN 'cloud'
                        WHEN regexp_matches(m, 'o[0-9]') THEN 'cloud'
                        WHEN regexp_matches(m, 'nh[0-9]') THEN 'cloud'
                        WHEN regexp_matches(m, 'palmes') THEN 'cloud-downloud'
                        WHEN regexp_matches(m, 'temperatuur|rh') THEN 'thermometer-3'
                        ELSE 'guestion' END AS icon,
                   'fa' AS prefix, 'white' AS icon_color,
                   CASE WHEN pmc >= 3 THEN 'PM₁, PM₂.₅, PM₁₀'
                        WHEN pmc = 2 AND regexp_matches(m, 'pm(10|₁₀)') THEN 'PM₂.₅, PM₁₀'
                        WHEN pmc = 2 AND regexp_matches(m, 'pm(2[.,]?5|₂.₅)') THEN 'PM₁, PM₂.₅'
                        WHEN pmc >= 1 AND regexp_matches(m, 'pm(1|₁)[^0-9]') THEN 'PM₁'
                        WHEN pmc >= 1 AND regexp_matches(m, 'pm(2[.,]?5|₂.₅)') THEN 'PM₂.₅'
                        WHEN pmc >= 1 AND regexp_matches(m, 'pm(10|₁₀)') THEN 'PM₁₀'
                        WHEN pmc >= 1 THEN NULL
                        WHEN regexp_matches(m, 'co[0-9]') THEN 'CO₂'
                        WHEN regexp_matches(m, 'no[0-9]') THEN 'stikstof'
                        WHEN regexp_matches(m, 'o[0-9]') THEN 'ozon'
                        WHEN regexp_matches(m, 'nh[0-9]') THEN 'ammoniak'
                        WHEN regexp_matches(m, 'palmes') THEN 'gas (Palmes)'
                        WHEN regexp_matches(m, 'temperatuur|rh') THEN '°C en RH%'
                        ELSE NULL END AS description,
                   a.pols, s.first_d, s.last_d
            FROM at a JOIN sl s USING (st)),
          circles AS (
            SELECT s.st, CAST(NULL AS INT) AS yr, s.lat, s.lon,
                   'cadetblue' AS color, CAST(NULL AS VARCHAR) AS icon,
                   CAST(NULL AS VARCHAR) AS prefix,
                   CAST(NULL AS VARCHAR) AS icon_color,
                   CAST(NULL AS VARCHAR) AS description,
                   CAST(NULL AS VARCHAR) AS pols, s.first_d, s.last_d
            FROM sl s, un u WHERE s.nsens < u.total)
         SELECT st, yr, lat, lon, color, icon, prefix, icon_color,
                description, pols, first_d, last_d
         FROM (SELECT * FROM yr_rows UNION ALL SELECT * FROM circles)""")
  )
}
