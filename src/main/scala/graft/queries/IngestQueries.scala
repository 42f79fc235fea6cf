package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{Calibration, SensorTypes}
import graft.operators._

import Shared._

/** Ingest, streaming and forwarding: device payload codecs and parsers,
  * the TTN envelope import, the replayed Structured Streaming queries
  * (archive parity, kit state, enrichment, watermarks, dedup, sessions)
  * and the telegrams and statements the forwarders emit. */
object IngestQueries {

  val all: Seq[Query] = Seq(
    // Q36 — batch/stream parity (SURVEY §2.10 Q25): file-replayed
    // Structured Streaming ingest through the upsert archive must equal
    // the batch hourly aggregate (same oracle as q02).
    Query("q36_stream_parity", (s, d) => {
      val archived = graft.streaming.Replay.replayEventsToArchive(s, d)
      Resample.hourlyAvg(archived, col("ts"), col("value"))
    }, oracle = hourlyAggSql),

    // Q38 — LoRa rule-codec round-trip (D2): encode events as port-12
    // weerDIY1 frames, decode back; the result equals the firmware
    // quantization trunc(v·scale+0.5)/scale, which the oracle states in
    // plain SQL. Proves encoder and decoder agree byte-for-byte.
    Query("q38_lora_roundtrip", (s, d) => {
      val temp = least(greatest(col("value"), lit(-3276.0)), lit(3276.0))
      val rv = (col("user_id") % 101).cast("double")
      val press = (col("event_id") % 1100).cast("double")
      val rt = graft.ingest.LoRaPipeline.roundTripBme280(temp, rv, press)
      Tables.events(s, d).select(col("event_id"),
        rt.getField("_1").as("rt_temp"),
        rt.getField("_2").as("rt_rv"),
        rt.getField("_3").as("rt_press"))
    }, oracle =
      // trunc(): Scala's .toLong and the reference's int() truncate toward
      // zero; DuckDB CAST would round — trunc matches.
      """SELECT event_id,
                trunc(least(greatest(value, -3276.0), 3276.0) * 10 + 0.5) / 10
                  AS rt_temp,
                CAST(user_id % 101 AS DOUBLE) AS rt_rv,
                CAST(trunc((event_id % 1100) + 0.5) AS DOUBLE) AS rt_press
         FROM events"""),

    // Q55 — DREF flatten (D3): nested data map {sensorType → [(field,
    // value)…]} exploded to long measurement rows, exactly the decode
    // path's record shape (MyDatacollector.py:1373-1464 ConvertValue).
    Query("q55_dref_flatten", (s, d) => {
      val dref = Tables.events(s, d).select(col("event_id"),
        map(
          lit("BME280"), array(
            struct(lit("temp").as("field"), (col("value") / 10).as("value")),
            struct(lit("rv").as("field"),
              (col("user_id") % 101).cast("double").as("value"))),
          lit("SDS011"), array(
            struct(lit("pm25").as("field"), (col("value") / 4).as("value")),
            struct(lit("pm10").as("field"), (col("value") / 2).as("value"))))
          .as("data"))
      dref.select(col("event_id"), explode(col("data")).as(Seq("sensor", "ms")))
        .select(col("event_id"), col("sensor"), explode(col("ms")).as("m"))
        .select(col("event_id"), col("sensor"),
          col("m.field").as("field"), col("m.value").as("value"))
    }, oracle =
      """SELECT event_id, 'BME280' AS sensor, 'temp' AS field, value/10 AS value FROM events
         UNION ALL SELECT event_id, 'BME280', 'rv', CAST(user_id % 101 AS DOUBLE) FROM events
         UNION ALL SELECT event_id, 'SDS011', 'pm25', value/4 FROM events
         UNION ALL SELECT event_id, 'SDS011', 'pm10', value/2 FROM events"""),

    // Q60 — SensorTypes packed-fields parser + CalRefs resolution (F2
    // proper): the reference's one-varchar-per-product catalogue
    // (`name,unit[,cal];…`, cal = `REF/a0/a1|…`) parsed with pure Column
    // string algebra, coefficients resolved against the CalRefs priority
    // list (SDS011 first, BAM1020 fallback), broadcast-joined into the
    // Taylor apply. Products without a resolvable ref calibrate with the
    // identity [0,1] (ref='none').
    Query("q60_sensor_fields", (s, d) => {
      val refs = Seq("SDS011", "BAM1020")
      val dim = SensorTypes.fieldDim(s, refs).where(col("field") === "pm25")
      val products = SensorTypes.CatalogRows.map(_._1)
      val e = Tables.events(s, d).withColumn("product",
        element_at(typedLit(products),
          (col("user_id") % products.size).cast("int") + 1))
      e.join(broadcast(dim), Seq("product"))
        .groupBy(col("product"), col("unit"), col("ref"), col("a0"), col("a1"))
        .agg(count(lit(1)).as("n"),
          round(sum(Calibration.taylorCols(col("value") / 5,
            col("a0"), col("a1"))), 2).as("cal_sum"))
        .select(col("product"), col("unit"), col("ref"),
          round(col("a0"), 4).as("a0"), round(col("a1"), 4).as("a1"),
          col("n"), col("cal_sum"))
    }, oracle = {
      val refs = Seq("SDS011", "BAM1020")
      val products = SensorTypes.CatalogRows
        .map(p => s"'${p._1}'").mkString("[", ", ", "]")
      s"""WITH ${SensorTypes.fieldDimSqlCtes(refs)},
          pm AS (SELECT * FROM sensor_fields WHERE field = 'pm25'),
          e AS (SELECT $products[CAST(user_id % ${SensorTypes.CatalogRows.size} AS INT) + 1]
                         AS product, value FROM events)
          SELECT product, unit, ref, round(pm.a0, 4) AS a0, round(pm.a1, 4) AS a1,
                 count(*) AS n,
                 round(sum(pm.a0 * 1.0 + pm.a1 * (value / 5)), 2) AS cal_sum
          FROM e JOIN pm USING (product)
          GROUP BY product, unit, ref, pm.a0, pm.a1"""
    }),

    // Q63 — Sensors.Community forwarding projection (K2): sensor type
    // and field synthesized per event, broadcast-joined to the pin/
    // translate/Taylor dimension (MyCOMMUNITY.py sense_table), with the
    // dust positive clamp, pressure hPa→Pa truncation, 2-decimal API
    // rounding; untranslatable fields ('grain') drop on the inner join.
    Query("q63_community_pins", (s, d) => {
      val e = Tables.events(s, d)
      val stype = element_at(typedLit(CommunityProducts),
        (col("user_id") % CommunityProducts.size).cast("int") + 1)
      val field = when(col("user_id") % CommunityProducts.size < 2,
          element_at(typedLit(CommunityDustFields),
            (col("event_id") % CommunityDustFields.size).cast("int") + 1))
        .otherwise(element_at(typedLit(CommunityMeteoFields),
          (col("event_id") % CommunityMeteoFields.size).cast("int") + 1))
      Community.rows(s, e, col("user_id").cast("string"), stype, field,
          col("value"), extra = Seq("event_id" -> col("event_id")))
        .select(col("event_id"), col("kit"), col("pin"),
          col("value_type"), col("value"))
    }, oracle = {
      val products = CommunityProducts.map(p => s"'$p'").mkString("[", ",", "]")
      val dustF = CommunityDustFields.map(f => s"'$f'").mkString("[", ",", "]")
      val meteoF = CommunityMeteoFields.map(f => s"'$f'").mkString("[", ",", "]")
      s"""WITH dim(sensor_type, field, category, pin, value_type, a0, a1, has_cal)
            AS (VALUES ${Community.dimSql}),
          src AS (SELECT event_id, CAST(user_id AS VARCHAR) AS kit,
              $products[CAST(user_id % ${CommunityProducts.size} AS INT) + 1] AS sensor_type,
              CASE WHEN user_id % ${CommunityProducts.size} < 2
                THEN $dustF[CAST(event_id % ${CommunityDustFields.size} AS INT) + 1]
                ELSE $meteoF[CAST(event_id % ${CommunityMeteoFields.size} AS INT) + 1]
              END AS field, value FROM events)
          SELECT event_id, kit, pin, value_type,
            CASE WHEN value_type = 'pressure' THEN CAST(trunc(value*100) AS DOUBLE)
                 WHEN has_cal AND a0 + a1*value <= 0.0 THEN 0.01
                 WHEN has_cal THEN round(a0 + a1*value, 2)
                 ELSE round(value, 2) END AS value
          FROM src JOIN dim USING (sensor_type, field)"""
    }),

    // Q64 — per-kit 4-h notice throttle (K7) run in BATCH through the
    // REAL streaming operator (flatMapGroupsWithState works on a static
    // Dataset); oracle is a DuckDB recursive CTE stepping the same
    // next-allowed state per kit.
    Query("q64_notice_throttle", (s, d) => {
      import s.implicits._
      val n = Tables.events(s, d).select(
          col("user_id").cast("string").as("kit"),
          eS(col("ts")).as("ts"), col("event_type").as("message"))
        .as[graft.streaming.Forwarding.Notice]
      graft.streaming.Forwarding.throttleNotices(n.groupByKey(_.kit))
        .toDF().select(col("kit"), col("ts"), col("message"), col("sent"))
    }, oracle =
      """WITH RECURSIVE ev AS (
            SELECT CAST(user_id AS VARCHAR) AS kit,
                   epoch_us(ts)//1000000 AS ts, event_type AS message,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts)//1000000, event_type) AS rn
            FROM events),
          step AS (
            SELECT kit, ts, message, rn, ts + 14400 AS next_allowed,
                   TRUE AS sent
            FROM ev WHERE rn = 1
            UNION ALL
            SELECT e.kit, e.ts, e.message, e.rn,
                   CASE WHEN e.ts >= s.next_allowed THEN e.ts + 14400
                        ELSE s.next_allowed END,
                   e.ts >= s.next_allowed
            FROM ev e JOIN step s ON e.kit = s.kit AND e.rn = s.rn + 1)
          SELECT kit, ts, message, sent FROM step"""),

    // Q76 — TTN envelope import end-to-end (D1/D4/D5,
    // MyMQTTclient.py:312-418 + MyDatacollector.py:1466-1553): events
    // rows are rendered as REAL V2/V3 envelope JSON (alternating by
    // event_id, exercising both envelope branches), parsed back through
    // TtnEnvelope.parseBest, timestamps resolved ISO→epoch, payload
    // base64-round-tripped, and the best gateway argmax'd over a
    // per-event synthetic gateway list. The oracle states the closed
    // form of every output directly from events.
    Query("q76_ttn_envelope", (s, d) => SparkEntry.q76Pipeline(
      SparkEntry.ttnFixtureLines(Tables.events(s, d))), oracle =
      // Closed form of the envelope round trip: every output field is a
      // direct function of the events row the engine rendered into JSON.
      // Gateway scores reproduce GTWstrength = 10·snr + 0.2·rssi on the
      // same integral-double inputs, so the argmax and round(…, 2) agree
      // bit-for-bit across engines.
      """WITH g AS (
           SELECT event_id, user_id, 1 + event_id % 3 AS n,
                  10.0 * ((event_id +  0) % 20 - 10) + 0.2 * (-(50 + (event_id +  0) % 70)) AS s0,
                  10.0 * ((event_id +  7) % 20 - 10) + 0.2 * (-(50 + (event_id + 13) % 70)) AS s1,
                  10.0 * ((event_id + 14) % 20 - 10) + 0.2 * (-(50 + (event_id + 26) % 70)) AS s2,
                  epoch_us(ts)//1000000 AS rts
           FROM events)
         SELECT concat('devices/', CAST(event_id AS VARCHAR)) AS topic,
                'app1' AS app_id,
                concat('kit', CAST(user_id AS VARCHAR)) AS dev_id,
                CAST(2 + event_id % 3 AS INT) AS port,
                CAST(event_id % 1000 AS BIGINT) AS counter,
                concat('kit', CAST(user_id AS VARCHAR)) AS payload_str,
                CAST(rts AS BIGINT) AS resolved_ts,
                CAST(n AS INT) AS n_gateways,
                CASE WHEN n = 1 THEN 'gw0'
                     WHEN n = 2 THEN (CASE WHEN s0 > s1 THEN 'gw0' ELSE 'gw1' END)
                     ELSE (CASE WHEN s0 > s1 AND s0 > s2 THEN 'gw0'
                                WHEN s1 > s2 THEN 'gw1' ELSE 'gw2' END) END
                  AS best_gateway,
                round(CASE WHEN n = 1 THEN s0
                           WHEN n = 2 THEN greatest(s0, s1)
                           ELSE greatest(s0, s1, s2) END, 2) AS best_score
         FROM g"""),

    // Q79 — the per-kit streaming state machine (P4 statics / A13
    // throttle / J8 geofence, MyDatacollector.py:813-968,1041-1204) run
    // as a REAL two-micro-batch file replay: state crosses the batch
    // boundary, every telegram gets an accept/reject verdict. The oracle
    // replays the identical transition function as a DuckDB recursive
    // CTE in per-kit lockstep — all three state branches hash-checked.
    Query("q79_kit_state", (s, d) =>
      graft.streaming.Replay.replayKitState(s, d), oracle =
      // The KitState transition function as a recursive CTE: all kits
      // advance in lockstep, one telegram per iteration, carrying
      // (interval estimate, throttle anchor, static run, home cell,
      // moved latch). Constants mirror replayKitState's defaults:
      // rate 3600, cap 1800, reset 14400 s, static threshold 3, prefix 6.
      // est1 (the capped running-mean interval) is inlined everywhere it
      // appears — the engine computes it once, but the arithmetic is
      // identical so the doubles agree bit-for-bit.
      """WITH RECURSIVE ord AS (
           SELECT *, row_number() OVER (PARTITION BY kit ORDER BY t, v) AS r
           FROM (SELECT concat('k', CAST(user_id AS VARCHAR)) AS kit,
                        epoch_us(ts)//1000000 AS t,
                        CAST(floor(value / 15) AS DOUBLE) AS v,
                        CASE WHEN event_id % 23 = 0 THEN 'v9gzzz'
                             ELSE 'u1hu9z' END AS gh
                 FROM events)),
         step AS (
           SELECT kit, r, t, v, gh AS home, FALSE AS moved,
                  CAST(0.0 AS DOUBLE) AS est, CAST(0 AS BIGINT) AS thr,
                  CAST(1 AS INT) AS run, TRUE AS accepted, 'ok' AS reason
           FROM ord WHERE r = 1
           UNION ALL
           SELECT s.kit, s.r, s.t, s.v, p.home,
                  p.moved OR substr(s.gh, 1, 6) <> substr(p.home, 1, 6),
                  CASE WHEN least((p.est * p.r + (s.t - p.t)) / (p.r + 1), 1800.0) < 3600.0
                            AND p.thr <> 0 AND s.t - p.thr > 14400
                       THEN 3600.0
                       ELSE least((p.est * p.r + (s.t - p.t)) / (p.r + 1), 1800.0) END,
                  CASE WHEN least((p.est * p.r + (s.t - p.t)) / (p.r + 1), 1800.0) < 3600.0
                       THEN CASE WHEN p.thr = 0 THEN s.t
                                 WHEN s.t - p.thr > 14400 THEN 0
                                 ELSE p.thr END
                       ELSE 0 END,
                  CAST(CASE WHEN s.v = p.v THEN p.run + 1 ELSE 1 END AS INT),
                  (CASE WHEN least((p.est * p.r + (s.t - p.t)) / (p.r + 1), 1800.0) < 3600.0
                        THEN CASE WHEN p.thr = 0 THEN s.t
                                  WHEN s.t - p.thr > 14400 THEN 0
                                  ELSE p.thr END
                        ELSE 0 END) = 0
                    AND (CASE WHEN s.v = p.v THEN p.run + 1 ELSE 1 END) < 3,
                  CASE WHEN (CASE WHEN least((p.est * p.r + (s.t - p.t)) / (p.r + 1), 1800.0) < 3600.0
                                  THEN CASE WHEN p.thr = 0 THEN s.t
                                            WHEN s.t - p.thr > 14400 THEN 0
                                            ELSE p.thr END
                                  ELSE 0 END) <> 0 THEN 'throttle'
                       WHEN (CASE WHEN s.v = p.v THEN p.run + 1 ELSE 1 END) >= 3
                         THEN 'static'
                       ELSE 'ok' END
           FROM step p JOIN ord s ON s.kit = p.kit AND s.r = p.r + 1)
         SELECT kit, t AS ts, v AS value, accepted, reason,
                est AS interval_est, run AS static_run, moved
         FROM step"""),

    // Q83 — InfluxDB line-protocol telegrams behind the channel gate
    // (K5 formatter, RPi/MyINFLUXPUB.py:120-156 + P9 gate,
    // MyDatacollector.py output channel patterns): the gate's anchored
    // regex picks even-serial kits, then each event renders as one
    // line-protocol string — tag escaping, quoted string field with
    // embedded quotes (props JSON), epoch-seconds timestamp — all as a
    // single codegen'd Column chain.
    Query("q83_influx_lines", (s, d) => {
      val e = Tables.events(s, d)
      val project = lit("SAN")
      val serial = concat(lit("d"), col("user_id"))
      val gated = e.where(graft.streaming.Forwarding.channelGate(
        project, serial, Some("SAN_d[0-9]*[02468]$")))
      val line = graft.streaming.Forwarding.influxLine(
        gated, lit("data"),
        Seq("project" -> project, "serial" -> serial,
          "type" -> col("event_type")),
        Seq("temp" -> col("value"), "cnt" -> (col("event_id") % 997),
          "note" -> col("props")),
        Some(eS(col("ts"))))
      gated.select(col("event_id"), line.as("line"))
    }, oracle =
      // Closed form of the line-protocol telegram: the gate is stated as
      // its semantics (serial's last digit even ⇔ user_id even), tags are
      // escape-clean by construction, the quoted note field escapes the
      // props JSON's quotes, and numeric renderings agree via
      // shortest-repr casts on both engines.
      """SELECT event_id,
                concat('data,project=SAN,serial=d', CAST(user_id AS VARCHAR),
                       ',type=', event_type,
                       ' temp=', CAST(value AS VARCHAR),
                       ',cnt=', CAST(event_id % 997 AS VARCHAR),
                       ',note="', replace(replace(props, '\', '\\'), '"', '\"'),
                       '" ', CAST(epoch_us(ts)//1000000 AS VARCHAR)) AS line
         FROM events
         WHERE user_id % 2 = 0"""),

    // Q84 — bidirectional sync statement emission (J7 diff →
    // MyDBsyncWebDB.py:852-1000): the q21 full-outer metadata diff
    // projected through [[SyncStatements.emit]] — INSERT/DELETE/UPDATE
    // per divergent row, remote side wins.
    Query("q84_sync_statements", (s, d) => {
      val c = Tables.customer(s, d)
      val a = c.where(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_acctbal").as("bal_a"))
      val b = c.where(col("c_custkey") % 5 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 5)
            .otherwise(col("c_acctbal")).as("bal_b"))
      a.join(b, Seq("c_custkey"), "full_outer")
        .where(!(col("bal_a") <=> col("bal_b")))
        .select(col("c_custkey"),
          SyncStatements.emit("kits", "custkey", "bal",
            col("c_custkey"), col("bal_a"), col("bal_b")).as("stmt"))
    }, oracle =
      """WITH a AS (SELECT c_custkey, c_acctbal AS bal_a FROM customer
                    WHERE c_custkey % 3 != 0),
              b AS (SELECT c_custkey,
                      CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 5
                           ELSE c_acctbal END AS bal_b
                    FROM customer WHERE c_custkey % 5 != 0),
              diff AS (SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
                              bal_a, bal_b
                       FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey
                       WHERE bal_a IS DISTINCT FROM bal_b)
         SELECT c_custkey,
                CASE WHEN bal_a IS NULL THEN
                       concat('INSERT INTO kits (custkey, bal) VALUES (',
                              CAST(c_custkey AS VARCHAR), ', ',
                              CAST(bal_b AS VARCHAR), ');')
                     WHEN bal_b IS NULL THEN
                       concat('DELETE FROM kits WHERE custkey = ',
                              CAST(c_custkey AS VARCHAR), ';')
                     ELSE
                       concat('UPDATE kits SET bal = ', CAST(bal_b AS VARCHAR),
                              ' WHERE custkey = ', CAST(c_custkey AS VARCHAR), ';')
                END AS stmt
         FROM diff"""),

    // Q85 — the paged REST source end-to-end (S5, DataSource V2 with one
    // InputPartition per page, SamenMetenThings.py:1409-1470): the
    // deterministic transport stub synthesizes each page from
    // (datastream, page, index), so the oracle can state every row in
    // closed form — schema, option parsing, partition planning and row
    // encoding are all on the hash path.
    Query("q85_paged_source", (s, _) =>
      s.read.format("graft.sources.PagedThingsSource")
        .option("datastreams", "101,102,103")
        .option("pages", "3")
        .option("pageSize", "40")
        .load(), oracle =
      // The transport stub's page payload in closed form — every row of
      // every (datastream, page) cell.
      """SELECT ds AS datastream_id,
                CAST(1700000000 + (page * 40 + i) * 60 AS BIGINT) AS phenomenon_time,
                ((ds * 31 + page * 40 + i) % 1000) / 10.0 AS result,
                CAST(page AS INT) AS page
         FROM (VALUES (101), (102), (103)) d(ds),
              (SELECT unnest(range(3)) AS page),
              (SELECT unnest(range(40)) AS i)"""),

    // Q86 — field-name synonym translation (P1,
    // MyDatacollector.py:332-348): raw NL/EN/punctuation variants
    // normalized through the literal synonym map; unknown names pass
    // through lowercased.
    Query("q86_field_translate", (s, d) => {
      val raws = array(Seq("temperature", "Hum", "pm_10", "pres", "RH",
        "windspeed", "unknown_x", "Temperatuur").map(lit): _*)
      Tables.events(s, d)
        .select(col("event_id"),
          element_at(raws, (col("event_id") % 8 + 1).cast("int")).as("raw"))
        .select(col("event_id"), col("raw"),
          graft.ingest.LoRaPipeline.normalizeFieldName(col("raw")).as("norm"))
    }, oracle =
      // The synonym map stated as a CASE over the lowered raw name;
      // unknown names pass through lowercased.
      """WITH r AS (SELECT event_id,
                      list_value('temperature','Hum','pm_10','pres','RH',
                                 'windspeed','unknown_x','Temperatuur')
                        [CAST(event_id % 8 + 1 AS INT)] AS raw
                    FROM events)
         SELECT event_id, raw,
                CASE lower(raw)
                  WHEN 'temperature' THEN 'temp'
                  WHEN 'temperatuur' THEN 'temp'
                  WHEN 'hum' THEN 'rv'
                  WHEN 'rh' THEN 'rv'
                  WHEN 'pm_10' THEN 'pm10'
                  WHEN 'pres' THEN 'luchtdruk'
                  WHEN 'windspeed' THEN 'ws'
                  ELSE lower(raw)
                END AS norm
         FROM r"""),

    // Q87 — MQTT republish telegram (K6, RPi/MyMQTTPUB.py:197-206):
    // topic base/project/serial, payload {"metadata","data"} JSON with
    // declared-but-missing fields KEPT as null (the reference emits
    // None for fields the kit declares but this telegram lacks — the
    // encoder must not drop them).
    Query("q87_mqtt_republish", (s, d) => {
      val rv = when(col("event_id") % 3 =!= 0, col("event_id") % 100)
      val out = graft.streaming.Forwarding.republish("IoS",
        lit("SAN"), concat(lit("d"), col("user_id")),
        struct(lit("SAN").as("project"),
          concat(lit("d"), col("user_id")).as("serial")),
        struct(col("value").as("temp"), rv.as("rv")))
      Tables.events(s, d).select(col("event_id"),
        out.getField("topic").as("topic"),
        out.getField("telegram").as("telegram"))
    }, oracle =
      // The republish telegram in closed form: field order is the struct
      // order, nulls render as JSON null, doubles via shortest-repr casts.
      """SELECT event_id,
                concat('IoS/SAN/d', CAST(user_id AS VARCHAR)) AS topic,
                concat('{"metadata":{"project":"SAN","serial":"d',
                       CAST(user_id AS VARCHAR), '"},"data":{"temp":',
                       CAST(value AS VARCHAR), ',"rv":',
                       CASE WHEN event_id % 3 = 0 THEN 'null'
                            ELSE CAST(event_id % 100 AS VARCHAR) END,
                       '}}') AS telegram
         FROM events"""),

    // Q92 — J2 stream-static enrichment across a REAL micro-batch
    // boundary (KitCache metadata lookup, MyMQTTclient.py:606-827): the
    // telegram stream broadcast-joins the kit registry per micro-batch;
    // the join is stateless so the streamed output must equal the batch
    // join the oracle states.
    Query("q92_stream_enrich", (s, d) =>
      graft.streaming.Replay.replayStreamEnrich(s, d), oracle =
      // q92: the stream-static join is stateless, so the oracle is the
      // plain batch join — equality proves the two-micro-batch replay
      // changed nothing.
      """SELECT e.event_id, e.user_id % 100 AS kit_key,
                'p' || CAST(s.s_nationkey AS VARCHAR) AS project, e.value
         FROM events e
         JOIN supplier s ON (e.user_id % 100) = s.s_suppkey
         WHERE s.s_suppkey % 3 <> 0"""),

    // Q93 — D7 event extraction (HasEvent, MyDatacollector.py:1019-1035):
    // port-3 meta event telegrams are byte-encoded, decoded back through
    // the real LoRa meta decoder, and the event number translated to its
    // notice/artifact; numbers outside the {13,14,15} table drop (the
    // reference's KeyError → empty-artifact path).
    Query("q93_event_extract", (s, d) => {
      import graft.ingest.LoRaPipeline
      val e = Tables.events(s, d)
      val version = (col("event_id") % 25 + 10).cast("int")
      val eventNum = (col("event_id") % 17).cast("int")
      val dec = LoRaPipeline.decodeMetaEvent(
        LoRaPipeline.encodeMetaEvent(version, eventNum))
      val ev = LoRaPipeline.extractEvent(
        concat(lit("k"), col("user_id")), dec.getField("_2"))
      e.select(col("event_id"),
          dec.getField("_1").as("fw_version"),
          dec.getField("_2").as("event_num"),
          ev.getField("event_name").as("event_name"),
          ev.getField("notice").as("notice"),
          ev.getField("artifact").as("artifact"))
        .where(col("event_name").isNotNull)
    }, oracle =
      // q93: closed form of the port-3 meta event round trip + HasEvent
      // name table; events outside {13,14,15} drop.
      """WITH src AS (SELECT event_id, user_id,
                             CAST(event_id % 25 + 10 AS INT) AS vb,
                             CAST(event_id % 17 AS INT) AS en
                      FROM events)
         SELECT event_id, vb / 10.0 AS fw_version, en AS event_num,
                CASE en WHEN 13 THEN 'Accu level' WHEN 14 THEN 'Watch Dog'
                        WHEN 15 THEN 'Controller Reset' END AS event_name,
                'Measurement kit with id k' || CAST(user_id AS VARCHAR) ||
                  ' raised event ' ||
                  CASE en WHEN 13 THEN 'Accu level' WHEN 14 THEN 'Watch Dog'
                          WHEN 15 THEN 'Controller Reset' END ||
                  ', value ' || CAST(en AS VARCHAR) AS notice,
                'Raised event: ' ||
                  CASE en WHEN 13 THEN 'Accu level' WHEN 14 THEN 'Watch Dog'
                          WHEN 15 THEN 'Controller Reset' END || '.' AS artifact
         FROM src WHERE en IN (13, 14, 15)"""),

    // Q94 — event-time watermark windowed aggregation across a REAL
    // micro-batch boundary (§2.8): batch 2 carries genuinely late rows
    // (parity split, not time split); closed-window drops, open-window
    // merges and the terminal flush are all deterministic closed forms
    // of the data — see Replay.replayWatermarkAgg.
    Query("q94_watermark_agg", (s, d) =>
      graft.streaming.Replay.replayWatermarkAgg(s, d), oracle =
      // q94: the watermark state machine in closed form — W1 after the
      // even-id batch gates which odd rows are fresh; the late file drops
      // entirely; output only windows the terminal watermark (W2) passed.
      """WITH src AS (SELECT event_id, user_id % 20 AS kit, ts, value
                      FROM events),
          w1 AS (SELECT max(ts) - INTERVAL 37 MINUTE AS wm FROM src
                 WHERE event_id % 2 = 0),
          kept AS (SELECT * FROM src WHERE event_id % 2 = 0
                   UNION ALL
                   SELECT s.* FROM src s, w1
                   WHERE s.event_id % 2 = 1 AND s.ts > w1.wm),
          w2 AS (SELECT max(ts) - INTERVAL 37 MINUTE AS wm FROM kept),
          agg AS (SELECT date_trunc('hour', ts) AS ws, kit,
                         count(*) AS n,
                         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s
                  FROM kept GROUP BY 1, 2)
          SELECT epoch_us(ws)//1000000 AS w_start, kit, n, s
          FROM agg, w2 WHERE ws + INTERVAL 1 HOUR <= w2.wm"""),

    // Q97 — streaming dedup with BOUNDED state (§2.9 U1's streaming
    // variant): dropDuplicatesWithinWatermark replayed over three staged
    // micro-batches; id-class pairing (adjacent / 512-id-lagged /
    // partnerless keys) makes every fate (emit / duplicate-drop /
    // expired-state re-emit / late-drop) a closed form of the data — see
    // Replay.replayDedupWithinWatermark.
    Query("q97_stream_dedup", (s, d) =>
      graft.streaming.Replay.replayDedupWithinWatermark(s, d), oracle =
      // q97: the bounded-state dedup state machine in closed form — every
      // even row emits (batch 0, empty state); batch 1 (class-1 fresh)
      // drops entirely against still-present state (eviction is
      // end-of-batch, the measured finding in Replay's scaladoc) and its
      // cleanup evicts even keys with ts + delay < W1; a batch-2 row
      // (class-3/5/7, ts > W2) emits iff its partner was evicted or never
      // existed; batch 3 is entirely late. delay = 41 min; tie conditions
      // are guarded driver-side (replay fails loudly).
      """WITH src AS (SELECT event_id,
                 CASE WHEN event_id % 2 = 0 THEN event_id // 2
                      WHEN event_id % 8 = 1 THEN event_id // 2
                      WHEN event_id % 8 = 5 THEN event_id // 2 - 256
                      ELSE -(event_id // 2) - 257 END AS key,
                 ts, value FROM events),
          ev AS (SELECT * FROM src WHERE event_id % 2 = 0),
          w1 AS (SELECT max(ts) - INTERVAL 41 MINUTE AS wm FROM ev),
          f1 AS (SELECT s.* FROM src s, w1
                 WHERE s.event_id % 8 = 1 AND s.ts > w1.wm),
          w2 AS (SELECT max(ts) - INTERVAL 41 MINUTE AS wm FROM
                   (SELECT ts FROM ev UNION ALL SELECT ts FROM f1)),
          f2 AS (SELECT s.* FROM src s, w2
                 WHERE s.event_id % 2 = 1 AND s.event_id % 8 <> 1
                   AND s.ts > w2.wm),
          evicted AS (SELECT e.key FROM ev e, w1
                      WHERE e.ts + INTERVAL 41 MINUTE < w1.wm),
          outp AS (SELECT event_id, key, ts, value FROM ev
                   UNION ALL
                   SELECT f.event_id, f.key, f.ts, f.value FROM f2 f
                   WHERE f.key IN (SELECT key FROM evicted)
                      OR f.key NOT IN (SELECT key FROM ev))
          SELECT event_id, key, epoch_us(ts)//1000000 AS ts, value
          FROM outp"""),

    // Q99 — gap-based sessionization (W-family): native session_window,
    // maximal per-key runs with silence ≤ 12347 s (sized between the
    // sf0.01 and sf0.1 per-user cadences so both corpora mix singleton
    // and multi-row sessions); exact-gap diffs MERGE (measured boundary
    // semantics, locked in WindowOpsSpec) — unlike the watermark
    // replays, the edge needs no driver-side guard because BOTH engines
    // encode the same `diff > gap` break. Oracle = gaps-and-islands.
    // Sessions key on whole seconds, as the oracle does and as the
    // reference archive's MySQL `datetime` stores them: on sub-second
    // ts a gap a fraction of a second over 12347 s would split here only.
    Query("q99_session_windows", (s, d) =>
      WindowOps.sessionize(Tables.events(s, d), col("user_id"),
          date_trunc("second", col("ts").cast("timestamp")), 12347, col("value"))
        .withColumnRenamed("key", "user_id"), oracle =
      // q99: gaps-and-islands with the measured `diff > gap` break (an
      // exact-gap diff merges on both engines); session_end = last ts +
      // gap, the half-open window bound session_window reports. The break
      // scan runs over the DISTINCT (user, t) spine so duplicate
      // timestamps can't split a session on window-order nondeterminism
      // (equal ts always merge — diff 0 — so the spine loses nothing).
      """WITH s AS (SELECT user_id, epoch_us(ts)//1000000 AS t, value
                    FROM events),
          d AS (SELECT DISTINCT user_id, t FROM s),
          m AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
                               OR t - lag(t) OVER w > 12347
                          THEN 1 ELSE 0 END AS brk
                FROM d WINDOW w AS (PARTITION BY user_id ORDER BY t)),
          g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t
                  ROWS UNBOUNDED PRECEDING) AS sid FROM m)
          SELECT s.user_id, min(s.t) AS session_start,
                 max(s.t) + 12347 AS session_end, count(*) AS n,
                 CAST(sum(CAST(s.value AS DECIMAL(18,6))) AS DOUBLE) AS s
          FROM s JOIN g ON s.user_id = g.user_id AND s.t = g.t
          GROUP BY s.user_id, g.sid"""),

    // Q101 — q99's sessionization run as a REAL five-micro-batch replay
    // (W5 streaming leg): cross-batch session merge, late-row backward
    // extension, watermark-advance flush, and hard-late drop each forced
    // by a dedicated file (see Replay.replaySessionWindows scaladoc for
    // the closed form and why no tie guard is needed). The oracle is
    // q99's gaps-and-islands over the accepted row set: evens ∪ planted
    // seeds ∪ fresh odds ∪ anchors ∪ extenders — far-future keys and
    // hard-late rows never surface.
    Query("q101_session_replay", (s, d) =>
      graft.streaming.Replay.replaySessionWindows(s, d), oracle =
      // q101: gaps-and-islands (the q99 oracle shape) over the replay's
      // accepted row set. W1 = max(file-0 time) − 600 where file 0 holds
      // the evens plus the newest planted seed at a − 1700; fresh odds,
      // both anchor families, and the extenders join the union; hard-late
      // odds (≤ W1) and the far-future watermark-driver keys never emit.
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts)//1000000 AS t, value
                     FROM events),
          mx AS (SELECT max(t) AS a,
                        greatest(max(CASE WHEN event_id % 2 = 0 THEN t END),
                                 max(t) - 1700) - 600 AS w1,
                        max(user_id) + 1 AS kb
                 FROM ev),
          u AS (SELECT DISTINCT user_id FROM ev),
          acc AS (
            SELECT user_id AS skey, t, CAST(value AS DECIMAL(18,6)) AS v
            FROM ev WHERE event_id % 2 = 0
            UNION ALL
            SELECT user_id, t, CAST(value AS DECIMAL(18,6))
            FROM ev, mx WHERE event_id % 2 = 1 AND t > w1
            UNION ALL
            SELECT user_id + kb, a - (user_id % 50) - 1700,
                   CAST((user_id % 83) * 0.125 AS DECIMAL(18,6))
            FROM u, mx
            UNION ALL
            SELECT user_id + kb, a - (user_id % 50),
                   CAST((user_id % 97) * 0.5 AS DECIMAL(18,6))
            FROM u, mx
            UNION ALL
            SELECT user_id + 2 * kb, a - (user_id % 50),
                   CAST((user_id % 97) * 0.5 AS DECIMAL(18,6))
            FROM u, mx
            UNION ALL
            SELECT user_id + 2 * kb, a - (user_id % 50) - 950,
                   CAST((user_id % 89) * 0.25 AS DECIMAL(18,6))
            FROM u, mx),
          d AS (SELECT DISTINCT skey, t FROM acc),
          m AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
                               OR t - lag(t) OVER w > 1800
                          THEN 1 ELSE 0 END AS brk
                FROM d WINDOW w AS (PARTITION BY skey ORDER BY t)),
          g AS (SELECT *, sum(brk) OVER (PARTITION BY skey ORDER BY t
                  ROWS UNBOUNDED PRECEDING) AS sid FROM m)
          SELECT acc.skey, min(acc.t) AS session_start,
                 max(acc.t) + 1800 AS session_end, count(*) AS n,
                 CAST(sum(acc.v) AS DOUBLE) AS s
          FROM acc JOIN g ON acc.skey = g.skey AND acc.t = g.t
          GROUP BY acc.skey, g.sid""")
  )
}
