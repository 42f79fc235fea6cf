package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries._

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2 (query ids follow §2.10), plus the training-data-pipeline
  * extension operators. Each query is one [[graft.queries.Query]] record
  * in `graft.queries`, its Spark build beside its DuckDB oracle with
  * *identical column names*; scalar-heavy oracles are generated from the
  * same table definitions as the Spark plan (see
  * [[graft.functions.AirQuality.PiecewiseTable]]). `queries` and
  * [[oracleSql]] are views of that one registry.
  *
  * Convention: timestamps never leave a query raw — they are exported as
  * epoch seconds (`unix_timestamp`) or epoch microseconds (`unix_micros`)
  * so Spark-parquet vs DuckDB timestamp rendering can never skew the
  * driver's hash compare.
  */
object SparkEntry {

  /** The q76 envelope fixture: events rows rendered as real V2/V3 TTN
    * JSON lines (alternating by event_id). Rendered as pure `concat`
    * string building, NOT to_json(struct(...)): the struct/HOF form put
    * the whole render Project on the CodegenFallback path (ArrayTransform
    * and slice-of-struct-array are interpreted) and made q76 the slowest
    * query of the sf1 sweep (20.7 s); the concat chain is whole-stage-
    * codegen'd. from_json parses JSON numbers to the same doubles either
    * way — only parsed VALUES are on the hash path. Gateway i: integral
    * snr/rssi derived from event_id; score gaps are ≥ 60 − 13.8 so the
    * argmax is tie-free by construction. Shared with Bench, which
    * renders the fixture once per run outside the timed loop. */
  private[graft] def ttnFixtureLines(e: DataFrame): DataFrame = {
    val devId = concat(lit("kit"), col("user_id"))
    val port = (col("event_id") % 3 + 2).cast("int")
    val counter = col("event_id") % 1000
    val iso = date_format(date_trunc("second", col("ts")),
      "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val payloadB64 = base64(devId.cast("binary"))
    def rssi(i: Int) = -(lit(50) + (col("event_id") + lit(13 * i)) % 70)
    def snr(i: Int) = (col("event_id") + lit(7 * i)) % 20 - 10
    def gwV2(i: Int) = concat(
      lit(s"""{"gtw_id":"gw$i","rssi":"""), rssi(i),
      lit(""","snr":"""), snr(i), lit("}"))
    def gwV3(i: Int) = concat(
      lit(s"""{"gateway_ids":{"gateway_id":"gw$i"},"rssi":"""), rssi(i),
      lit(""","snr":"""), snr(i), lit("}"))
    // nGw = event_id % 3 + 1 ∈ {1,2,3}; concat_ws drops the null
    // branches so the array literal holds exactly the first nGw entries
    def gwList(gw: Int => Column) = concat_ws(",", gw(0),
      when(col("event_id") % 3 >= 1, gw(1)),
      when(col("event_id") % 3 === 2, gw(2)))
    val v2 = concat(
      lit("""{"app_id":"app1","dev_id":""""), devId,
      lit("""","port":"""), port,
      lit(""","counter":"""), counter,
      lit(""","payload_raw":""""), payloadB64,
      lit("""","metadata":{"time":""""), iso,
      lit("""","gateways":["""), gwList(gwV2), lit("]}}"))
    val v3 = concat(
      lit("""{"end_device_ids":{"device_id":""""), devId,
      lit("""","application_ids":{"application_id":"app1"}},"received_at":""""), iso,
      lit("""","uplink_message":{"f_port":"""), port,
      lit(""","f_cnt":"""), counter,
      lit(""","frm_payload":""""), payloadB64,
      lit("""","rx_metadata":["""), gwList(gwV3), lit("]}}"))
    e.select(concat(
      lit("devices/"), col("event_id"), lit(" "),
      when(col("event_id") % 2 === 0, v2).otherwise(v3)).as("line"))
  }
  /** The q76 operator proper — envelope parse → timestamp resolution →
    * payload round-trip → best-gateway argmax — over an already-rendered
    * line column. Split from the fixture render so Bench can persist the
    * rendered lines once per corpus and time the OPERATOR, not the
    * fixture manufacture (r9's DiagQ76 split: 2.4 s of the 7.2 s sf1
    * artifact number was render — VERDICT r9 item 3). The oracle
    * contract is untouched: `queries` still renders inline. */
  private[graft] def q76Pipeline(lines: DataFrame): DataFrame =
    // r12: parseBest fuses the D5 argmax + gateway count into the parse
    // itself (VERDICT r11 item 2) — the gateway array never materializes
    graft.ingest.TtnEnvelope.parseBest(lines, col("line"))
      .select(col("topic"), col("app_id"), col("dev_id"),
        col("port"), col("counter"),
        col("payload").cast("string").as("payload_str"),
        unix_timestamp(to_timestamp(col("event_time"),
          "yyyy-MM-dd'T'HH:mm:ss'Z'")).as("resolved_ts"),
        col("n_gateways"), col("best_gateway"), col("best_score"))

  /** Flagship query on sf=0.001: revenue per nation over broadcast dims
    * (J1). Chosen timestamp-free so it runs under any driver session
    * config; the richer time-series flagships are q02/q03. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_dim_join_revenue")(spark, "/root/testdata/sf0.001")

  /** Every query, built once: the records live in `graft.queries`, one
    * file per domain, each query's build beside its oracle. */
  private lazy val registry = Registry(ReportQueries.all ++ GeoQueries.all ++
    IngestQueries.all ++ TextQueries.all ++ SimilarityQueries.all)

  /** Each query's Spark build by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = registry.builds

  /** Each query's DuckDB oracle by name, with column names identical to
    * its build's. */
  def oracleSql: Map[String, String] = registry.oracles
}
