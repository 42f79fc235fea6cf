package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{AirQuality, Calibration, GeoFunctions, PiiFunctions, SensorTypes, TextFunctions}
import graft.operators._

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2 (query ids follow §2.10), plus the training-data-pipeline
  * extension operators. Each SQL-expressible query has a DuckDB oracle in
  * [[oracleSql]] with *identical column names*; scalar-heavy oracles are
  * generated from the same table definitions as the Spark plan (see
  * [[graft.functions.AirQuality.PiecewiseTable]]).
  *
  * Convention: timestamps never leave a query raw — they are exported as
  * epoch seconds (`unix_timestamp`) or epoch microseconds (`unix_micros`)
  * so Spark-parquet vs DuckDB timestamp rendering can never skew the
  * driver's hash compare.
  */
object SparkEntry {

  /** Epoch seconds (floor) of a (possibly NTZ) timestamp column. */
  private def eS(c: Column): Column = unix_timestamp(c.cast("timestamp"))

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

  /** Epoch microseconds of a (possibly NTZ) timestamp column. */
  private def eUs(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** The planted-twin embedding corpus of q91, q102, q111 and q113:
    * every embedding as `(id, v array<double>)` plus a perturbed twin of
    * every 10th vector — integer-rational deltas, bit-identical in both
    * engines — giving true near-dups spread around cos 0.9 (the raw
    * embeddings are near-orthogonal, max pair cos 0.51). Twin ids sit
    * above the data-derived stride max(id)+1, one eager job per input
    * version ([[StatsCatalog]]) (r13: the
    * old fixed +10000 COLLIDED with base ids once the corpus passed 10k
    * vectors, and the sketch-prune mirror joins band codes BY ID, which
    * double-counts hamming sums under id duplication — caught by the
    * r13 sf1 gate). `isBench` adds q111's `is_bench` column, true on the
    * twins. Oracle twin: [[plantedTwinCorpusSql]]. */
  private def plantedTwinCorpus(s: SparkSession, d: String,
                                isBench: Boolean = false): DataFrame = {
    val base = Tables.embeddings(s, d).select(
      col("vec_id").cast("long").as("id"), col("embedding").as("v"))
    val stride =
      StatsCatalog.collect(base.agg(max(col("id")))).head.getLong(0) + 1
    def flag(twin: Boolean): Seq[Column] =
      if (isBench) Seq(lit(twin).as("is_bench")) else Nil
    val twins = base.where(col("id") % 10 === 0)
      .withColumn("v2", transform(col("v"), (x, i) =>
        x.cast("double") +
          (((col("id") * 31 + i.cast("long") * 17) % 7) - 3).cast("double") *
            (lit(0.02) + (col("id") % 4).cast("double") * lit(0.01))))
      .select(Seq((col("id") + stride).as("id"), col("v2").as("v")) ++
        flag(true): _*)
    base.select(Seq(col("id"),
        transform(col("v"), x => x.cast("double")).as("v")) ++ flag(false): _*)
      .unionByName(twins)
  }

  /** Flagship query on sf=0.001: revenue per nation over broadcast dims
    * (J1). Chosen timestamp-free so it runs under any driver session
    * config; the richer time-series flagships are q02/q03. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_dim_join_revenue")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q1 — scan + filter + project (P2/P8): predicate and projection push
    // down to the parquet scan.
    "q01_filter_project" -> ((s, d) => {
      Tables.lineitem(s, d)
        .where(col("l_quantity").between(10, 40) && col("l_returnflag") === "N")
        .select(col("l_orderkey"), col("l_quantity"))
    }),

    // Q2 — hourly bucket aggregation (A1).
    "q02_hourly_agg" -> ((s, d) => {
      val e = Tables.events(s, d)
      Resample.hourlyAvg(e, col("ts"), col("value"))
    }),

    // Q3 — gap-filled resample (A2): spine left-join, null rows for empty
    // buckets.
    "q03_gapfill" -> ((s, d) => {
      val e = Tables.events(s, d)
      Resample.gapFill(e, col("ts"), 3600,
        Resample.hourlyAvg(e, col("ts"), col("value")))
    }),

    // Q4 — summary statistics per device (A3).
    "q04_summary_stats" -> ((s, d) => {
      Tables.events(s, d).groupBy(col("user_id")).agg(
        count(col("value")).as("n"),
        Resample.roundStable(avg(col("value")), 4).as("avg_v"),
        Resample.roundStable(stddev_samp(col("value")), 4).as("sd_v"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
    }),

    // Q5 — dimension equi-joins (J1): fact ⋈ broadcast dims, grouped.
    "q05_dim_join_revenue" -> ((s, d) => {
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    // Q6 — broadcast calibration-dimension join + Taylor apply (J9/F1).
    "q06_broadcast_calibrate" -> ((s, d) => {
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .withColumn("cal", Calibration.taylorCols(col("l_extendedprice"),
          col("p_retailprice") * 0.01, lit(1.05)))
        .groupBy(col("p_brand"))
        // decimal-typed sum (the q94 oracle pattern): these totals are
        // ~1e10 with 2-decimal rounding, where double summation ORDER
        // decides the last digit — r12's multi-split scans changed the
        // partial-sum order and flipped two brands at the .005 boundary.
        // Exact decimal accumulation is order-free in both engines.
        .agg(round(sum(col("cal").cast("decimal(18,6)")).cast("double"), 2)
          .as("cal_total"), count(lit(1)).as("n"))
    }),

    // Q7 — as-of alignment of two series to a common grid (J3).
    "q07_asof_align" -> ((s, d) => {
      val e = Tables.events(s, d)
      AsOfAlign.bucketAlign(
        e.where(col("event_type") === "click"), col("ts"), col("value"),
        e.where(col("event_type") === "purchase"), col("ts"), col("value"),
        900)
    }),

    // Q8 — latest row per key (W1).
    "q08_latest_per_key" -> ((s, d) => {
      WindowOps.latestPerKey(Tables.events(s, d), Seq(col("user_id")),
          Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), eUs(col("ts")).as("ts_us"),
          col("event_id"), col("value"))
    }),

    // Q9 — run-length static-value detection (P5/W3).
    "q09_run_length" -> ((s, d) => {
      WindowOps.runLengths(Tables.events(s, d), Seq(col("user_id")),
          Seq(col("ts"), col("event_id")), col("event_type"), 3)
        .select(col("user_id"), col("event_type"), col("run_len"),
          eS(col("run_start")).as("run_start"))
    }),

    // Q10 — last-non-null forward fill (W2).
    "q10_backfill" -> ((s, d) => {
      val masked = Tables.events(s, d).withColumn("masked",
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
      WindowOps.backfill(masked, Seq(col("user_id")),
          Seq(col("ts"), col("event_id")), col("masked"), "filled")
        .select(col("user_id"), col("event_id"), col("filled"))
    }),

    // Q11 — cadence/interval estimation (A11/W4).
    "q11_interval_estimate" -> ((s, d) => {
      WindowOps.intervalEstimate(Tables.events(s, d), col("user_id"),
        col("ts"), 1, 86400, Seq(col("event_id")))
    }),

    // Q12 — half-overlapping sliding windows (A5/W5). SUM not mean: a
    // window of 2^k two-decimal values averages onto an exact 5th-decimal
    // half where engine summation order decides the rounding (failed at
    // sf0.001 with n=8); the sum stays on the value grid.
    "q12_sliding_windows" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"), window(col("ts"), "1 day", "12 hours"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
        .select(col("user_id"), eS(col("window.start")).as("win_start"),
          col("n"), col("sum_v"))
    }),

    // Q13 — mode / top-1 by frequency (P6): stuck-sensor report needs a
    // discretized value (raw doubles are all-distinct).
    "q13_mode_top1" -> ((s, d) => {
      val e = Tables.events(s, d)
        .withColumn("v", floor(col("value")).cast("long"))
      WindowOps.modeTop1(e, Seq(col("user_id")), col("v"), 2)
        .select(col("user_id"), col("v"), col("cnt"))
    }),

    // Q14 — dead-key gap detection (A12).
    "q14_dead_keys" -> ((s, d) => {
      WindowOps.deadKeys(Tables.events(s, d), col("user_id"), col("ts"), 3600)
    }),

    // Q15 — dedup on key (U1): deterministic first-by-(ts,id) per key.
    "q15_dedup_keys" -> ((s, d) => {
      WindowOps.latestPerKey(Tables.events(s, d),
          Seq(col("user_id"), col("event_type")),
          Seq(col("ts").asc, col("event_id").asc))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    }),

    // Q16 — union + distinct (U2/U3).
    "q16_union_distinct" -> ((s, d) => {
      val e = Tables.events(s, d)
      e.where(col("event_type") === "click").select(col("user_id"), col("event_type"))
        .unionByName(e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_type")))
        .distinct()
    }),

    // Q17 — long→wide pivot (V1), fixed vocabulary.
    "q17_pivot" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(eS(date_trunc("day", col("ts"))).as("day_ts"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum(col("value")), 2))
    }),

    // Q18 — wide→long melt (V2) via Dataset.unpivot.
    "q18_melt" -> ((s, d) => {
      Tables.lineitem(s, d).unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "field", "val")
    }),

    // Q19 — top-N with deterministic ties (W6).
    "q19_topn" -> ((s, d) => {
      Tables.events(s, d).orderBy(col("value").desc, col("event_id").asc)
        .limit(100).select(col("event_id"), col("user_id"), col("value"))
    }),

    // Q20 — geo range join (J6/F5): pairs within 3000 km haversine.
    // Geohash-cell blocked (GeoJoin): candidates from a cell equi-join
    // with radius-derived neighbor reach, exact haversine refine — no
    // nested-loop; same rows as the all-pairs oracle. Synthetic lat stays
    // within ±60, which bounds the east-west reach.
    "q20_geo_join" -> ((s, d) => {
      val sup = Tables.supplier(s, d).select(col("s_suppkey"),
        ((col("s_suppkey") * 7 % 120) - 60 + 0.25).as("lat"),
        ((col("s_suppkey") * 13 % 360) - 180 + 0.5).as("lon"))
      GeoJoin.pairsWithinRadius(sup, col("s_suppkey"), col("lat"), col("lon"),
          radiusM = 3000000.0, maxAbsLat = 60.0)
        .select(col("a_key"), col("b_key"),
          round(col("dist_m") / 1000.0, 2).as("dist_km"))
    }),

    // Q21 — full-outer metadata diff (J7).
    "q21_outer_diff" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val a = c.where(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_acctbal").as("bal_a"))
      val b = c.where(col("c_custkey") % 5 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 5)
            .otherwise(col("c_acctbal")).as("bal_b"))
      a.join(b, Seq("c_custkey"), "full_outer")
        .where(!(col("bal_a") <=> col("bal_b")))
    }),

    // Q22 — per-key linear fit, closed form (A8 order 1).
    "q22_linear_fit" -> ((s, d) => {
      val e = Tables.events(s, d)
        .withColumn("x", eUs(col("ts")) / 1e6 - 1704067200L)
      RegressionOps.linearFit(e, col("user_id"), col("x"), col("value"), 86400)
    }),

    // Q23 — z-score outliers (A4 single pass).
    "q23_zscore_outliers" -> ((s, d) => {
      Outliers.zscoreOutliers(Tables.events(s, d), col("user_id"),
          col("value"), 2.5)
        .select(col("user_id"), col("event_id"), round(col("z"), 4).as("z"))
    }),

    // Q24 — scalar function library (F5 haversine, F7 AQI, F8 LKI, F10
    // AQHI, F12 dew point) as one wide projection.
    "q24_scalar_functions" -> ((s, d) => {
      // __rh staged as an attribute: dewPoint references rh 3× and the
      // regexp_extract would be inlined (and re-run) per reference
      val k = regexp_extract(col("props"), "([0-9]+)", 1).cast("int")
      val temp = col("value") / 10
      Tables.events(s, d)
        .withColumn("__rh", least(greatest(k, lit(1)), lit(99)).cast("double"))
        .select(
        col("event_id"),
        round(Calibration.dewPoint(temp, col("__rh")), 4).as("dewp"),
        round(AirQuality.aqiPm25.column(col("value")), 4).as("aqi"),
        round(AirQuality.lkiPm25.column(col("value")), 4).as("lki"),
        AirQuality.aqhi(col("value"), col("value") / 2, col("value") / 4).as("aqhi_v"),
        round(GeoFunctions.haversineKm(
          lit(52.0) + (col("user_id") % 10).cast("double") * 0.5,
          lit(4.0) + (col("user_id") % 20).cast("double") * 0.5,
          lit(52.37), lit(4.89)), 4).as("dist_km"))
    }),

    // ---- training-data-pipeline extension operators (SURVEY §7 step 8) ----

    // Q25 — exact dedup by normalized content hash (U1 generalized). The
    // corpus has no exact dups, so we union a mirrored copy to exercise
    // group-size > 1 semantics.
    "q25_dedup_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val all = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.exact(all, col("doc_id"), col("text"))
    }),

    // Q26 — exact word-3-gram Jaccard near-dup pairs (inverted-index join)
    // with the hot-shingle df-cap active: shingles in >100 docs are
    // dropped from candidate generation (bounded per-key fan-out — the
    // 100 TB config), Jaccard verified exactly on the full shingle sets.
    // The oracle states the SAME cap, so equivalence is by construction.
    "q26_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d),
        col("doc_id"), col("text"), 3, 0.5, maxShingleDf = Some(100))),

    // Q27 — MinHash(16) + LSH(4 bands × 4 rows) candidates, exact verify.
    "q27_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshPairs(Tables.documents(s, d),
        col("doc_id"), col("text"), 3, 16, 4, 0.5)),

    // Q28 — SimHash near-dup pairs, Hamming ≤ 3 via 4×8-bit block join.
    "q28_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), col("doc_id"), col("text"), 3)),

    // Q29 — brute-force cosine top-k over embeddings (ANN baseline).
    "q29_knn_cosine" -> ((s, d) =>
      Similarity.knnBruteForce(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), 32, 5)),

    // Q30 — signed-random-projection LSH ANN (planes = first 4 vectors).
    "q30_ann_lsh" -> ((s, d) =>
      Similarity.annLsh(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), 4, 32, 3)),

    // Q31 — language-ID heuristic: argmax stopword-hit score across langs
    // (struct-greatest; ties break by language code descending). Staged
    // selects so the tokenizer runs ONCE per row (not once per language
    // per struct field) and the greatest-tree once (not per getField):
    // CollapseProject leaves multiply-referenced non-cheap aliases alone.
    "q31_lang_id" -> ((s, d) => {
      val langs = TextFunctions.stopwords.keys.toSeq.sorted
      val best = greatest(langs.map(l => struct(
        TextFunctions.langScoreOfTokens(col("tk"), l).as("s"), lit(l).as("l"))): _*)
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
        .select(col("doc_id"), best.as("best"))
        .select(col("doc_id"),
          col("best").getField("l").as("pred_lang"),
          col("best").getField("s").as("score"))
    }),

    // Q32 — pretraining-data quality score (length/stopword/alpha mix).
    "q32_quality_score" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))),

    // Q33 — token statistics: whitespace + BPE-ish regex token counts.
    "q33_token_stats" -> ((s, d) => {
      val tk = TextFunctions.tokens(col("text"))
      Tables.documents(s, d).select(col("doc_id"),
        size(tk).as("n_ws"),
        TextFunctions.bpeishCount(col("text")).as("n_bpe"),
        length(col("text")).as("n_chars_m"),
        round(length(concat_ws("", tk)).cast("double") / size(tk), 4)
          .as("avg_tok_len"))
    }),

    // Q34 — bottom-k shingle-hash fingerprint (winnowing-style sketch).
    "q34_fingerprint" -> ((s, d) =>
      Dedup.fingerprint(Tables.documents(s, d), col("doc_id"), col("text"), 3, 8)),

    // Q35 — multimodal binary-column plumbing: blob + typed metadata,
    // strided byte sampling ("frame sample") as codegen expressions.
    "q35_multimodal" -> ((s, d) =>
      Multimodal.byteFeatures(
        Multimodal.asMediaTable(Tables.documents(s, d),
          col("doc_id"), col("text"), col("source")), 16)),

    // Q36 — batch/stream parity (SURVEY §2.10 Q25): file-replayed
    // Structured Streaming ingest through the upsert archive must equal
    // the batch hourly aggregate (same oracle as q02).
    "q36_stream_parity" -> ((s, d) => {
      val archived = graft.streaming.Replay.replayEventsToArchive(s, d)
      Resample.hourlyAvg(archived, col("ts"), col("value"))
    }),

    // Q37 — recursive Grubbs envelope per key (A4): oracle is a DuckDB
    // recursive CTE (see oracleSql) with the Student-t critical table
    // interpolated from the same Stats.grubbsCritical the engine runs;
    // exactness also covered by GrubbsSpec against published t-tables.
    "q37_grubbs" -> ((s, d) =>
      Tables.events(s, d).groupBy(col("user_id"))
        .agg(Grubbs.grubbs(col("value")).as("g"))
        .select(col("user_id"), round(col("g.lo"), 4).as("lo"),
          round(col("g.hi"), 4).as("hi"),
          col("g.nKept").as("n_kept"), col("g.nRemoved").as("n_removed"))),

    // Q38 — LoRa rule-codec round-trip (D2): encode events as port-12
    // weerDIY1 frames, decode back; the result equals the firmware
    // quantization trunc(v·scale+0.5)/scale, which the oracle states in
    // plain SQL. Proves encoder and decoder agree byte-for-byte.
    "q38_lora_roundtrip" -> ((s, d) => {
      val temp = least(greatest(col("value"), lit(-3276.0)), lit(3276.0))
      val rv = (col("user_id") % 101).cast("double")
      val press = (col("event_id") % 1100).cast("double")
      val rt = graft.ingest.LoRaPipeline.roundTripBme280(temp, rv, press)
      Tables.events(s, d).select(col("event_id"),
        rt.getField("_1").as("rt_temp"),
        rt.getField("_2").as("rt_rv"),
        rt.getField("_3").as("rt_press"))
    }),

    // Q39 — borrow-from-neighbour gap fill (J5, Get_data.pl:1117-1159
    // findElsewhere): a primary station's missing hour is taken from the
    // first neighbour (priority order) that has the hour.
    "q39_borrow_neighbour" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("user_id"), eS(date_trunc("hour", col("ts"))).as("hour_ts"))
        .agg(Resample.roundStable(avg(col("value")), 4).as("v"))
      val p = hourly.where(col("user_id") < 50)
        .withColumn("v_self", // deterministic gap injection
          when((col("user_id") + col("hour_ts") / 3600) % 5 === 0, lit(null))
            .otherwise(col("v")))
      val n1 = hourly.select((col("user_id") - 50).as("u1"),
        col("hour_ts").as("h1"), col("v").as("v_n1"))
      val n2 = hourly.select((col("user_id") - 100).as("u2"),
        col("hour_ts").as("h2"), col("v").as("v_n2"))
      p.join(n1, col("user_id") === col("u1") && col("hour_ts") === col("h1"), "left")
        .join(n2, col("user_id") === col("u2") && col("hour_ts") === col("h2"), "left")
        .select(col("user_id"), col("hour_ts"),
          coalesce(col("v_self"), col("v_n1"), col("v_n2")).as("filled"),
          when(col("v_self").isNotNull, "self")
            .when(col("v_n1").isNotNull, "n1")
            .when(col("v_n2").isNotNull, "n2").as("src"))
    }),

    // Q40 — IQR-trimmed mean per key (A7, RPi/MyThreading.py:122-175:
    // keep [Q1−1.5·IQR, Q1+1.5·IQR] — the reference's asymmetric upper
    // bound uses Q1, not Q3).
    "q40_iqr_trimmed" -> ((s, d) => {
      val e = Tables.events(s, d)
      val q = e.groupBy(col("user_id").as("__k")).agg(
        expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
      // Bounds widened by 1e-6: source values sit on a 0.01 grid and the
      // interpolated bounds on a 0.0025 grid, so a value can lie EXACTLY
      // on a bound — where a 1-ulp engine difference in the quantile
      // flips membership. The epsilon is >> ulp noise and << the grid.
      e.join(q, col("user_id") === col("__k"))
        .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5 - 1e-6)
        .withColumn("hi", col("q1") + (col("q3") - col("q1")) * 1.5 + 1e-6)
        .groupBy(col("user_id"))
        // SUM, not mean: the mean of 2-decimal values lands on exact
        // 4-decimal halves (e.g. 2148.37/56 = 38.36375) where engine
        // summation order decides the rounding — irreducibly unstable.
        // The sum of 2-decimal values never sits on a 4-decimal half;
        // consumers derive the mean as trimmed_sum / n_kept.
        .agg(sum(when(col("value").between(col("lo"), col("hi")),
          col("value"))).as("trimmed_sum"),
          count(when(col("value").between(col("lo"), col("hi")), 1)).as("n_kept"),
          count(lit(1)).as("n_total"))
    }),

    // Q41 — Gaussian-kernel weighted moving average (A14,
    // grubbs.py:1039-1075): ±2-row kernel, edge-normalized.
    "q41_kernel_smooth" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val weights = Seq(-2, -1, 0, 1, 2)
        .map(i => i -> math.exp(-i * i / 2.0))
      val num = weights.map { case (i, wt) =>
        when(lag(col("value"), i).over(w).isNotNull,
          lag(col("value"), i).over(w) * wt).otherwise(0.0) }.reduce(_ + _)
      val den = weights.map { case (i, wt) =>
        when(lag(col("value"), i).over(w).isNotNull, wt).otherwise(0.0) }.reduce(_ + _)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), (num / den).as("smoothed"))
    }),

    // Q42 — scalar library II: Taylor/Horner calibration + PM clamp (F1),
    // Joost and RIVM humidity corrections (F13/F14), µg/m³→ppb (F3),
    // Pa→hPa, the +1 h pre-epoch-1515547638 tz repair (F16), lossy
    // address normalization (F17), per-field rounding (F18).
    "q42_scalar_lib2" -> ((s, d) => {
      val temp = col("value") / 10
      val rh = (col("user_id") % 101).cast("double")
      val pm = col("value") / 5
      Tables.events(s, d).select(
        col("event_id"),
        round(Calibration.taylor(pm, Seq(-2.163, 1.308)), 4).as("cal_lin"),
        round(Calibration.taylorPm(pm, Seq(-20.0, 0.5)), 4).as("cal_pm_clamped"),
        round(Calibration.joostPm25(pm, rh / 100), 4).as("joost25"),
        round(Calibration.rivmRhCorrection(pm, rh), 4).as("rivm_pm"),
        round(Calibration.ugm3ToPpb(pm, "no2", temp, lit(1013.25)), 4).as("no2_ppb"),
        Calibration.paToHPa(col("value") * 100).as("hpa"),
        Calibration.tzRepair(eS(col("ts"))).as("ts_repaired"),
        lower(regexp_replace(regexp_replace(col("props"), "\\s+", " "),
          "straat", "str")).as("addr_norm"),
        // F18 per-field decimals: Spark round() needs a foldable scale, so
        // the dimension lookup becomes a branch per distinct scale.
        when(col("event_type") === "click", round(col("value"), 1))
          .otherwise(round(col("value"), 3)).as("v_rounded"))
    }),

    // Q43 — field-presence census (A15, ReportFailingSensors.sh:527-539):
    // non-null count per column, melted to (field, n_nonnull).
    "q43_presence_census" -> ((s, d) => {
      val e = Tables.events(s, d).withColumn("masked_props",
        when(col("event_id") % 3 === 0, lit(null)).otherwise(col("props")))
      val cols = Seq("event_id", "user_id", "value", "masked_props")
      e.agg(count(col(cols.head)).as(cols.head),
          cols.tail.map(c => count(col(c)).as(c)): _*)
        .unpivot(Array.empty[Column],
          cols.map(col).toArray, "field", "n_nonnull")
    }),

    // Q44 — per-year normalisation factor (F15, Get_data.pl:953-1020):
    // factor dimension keyed by year, multiply-through, re-aggregate.
    "q44_year_norm" -> ((s, d) => {
      val o = Tables.orders(s, d).withColumn("y", year(col("o_orderdate")))
      val factors = o.select(col("y")).distinct()
        .withColumn("f", lit(1.0) + (col("y") % 3) * 0.05)
      o.join(broadcast(factors), "y")
        .groupBy(col("y"))
        // decimal-typed sum — same order-sensitivity fix as q06
        .agg(round(sum((col("o_totalprice") * col("f"))
            .cast("decimal(18,6)")).cast("double"), 2).as("norm_revenue"),
          count(lit(1)).as("n"))
    }),

    // Q45 — in-repair invalidation + PM-zero repair (P10
    // FilterShow.py:400-415, D6 MyDatacollector.py:845-852): tri-state
    // _valid (true/false/null-in-repair) and the 0.013 NaN-compression
    // repair for masked PM with a positive particle count.
    "q45_repair_invalidate" -> ((s, d) => {
      val e = Tables.events(s, d)
        .withColumn("pm", when(col("event_id") % 11 === 0, lit(null))
          .otherwise(col("value")))
        .withColumn("cnt", (col("event_id") % 3).cast("int"))
      val inRepair = (col("user_id") % 4 === 0) &&
        dayofmonth(col("ts")).between(10, 12)
      e.select(col("event_id"),
        when(inRepair, lit(null).cast("boolean"))
          .otherwise(col("pm").isNotNull && col("pm") > 0).as("pm_valid"),
        when(col("pm").isNull && col("cnt") > 0, 0.013)
          .otherwise(col("pm")).as("pm_repaired"))
    }),

    // Q46 — embedding-cosine near-dup pairs, blocked by label (the
    // cluster id stands in for an LSH block): exact cosine within
    // blocks, through the r13 SELF-PROTECTING operator — the largest
    // block is counted (planning statistic) and the O(B²) plan refuses
    // to launch past the documented bound, so the exactness baseline
    // can no longer run unscoped by accident (VERDICT r12 item 6).
    "q46_cosine_neardup" -> ((s, d) =>
      Similarity.cosineNearDupPairsBlocked(Tables.embeddings(s, d),
        col("label"), col("vec_id"), col("embedding"), threshold = 0.3)),

    // Q47 — two-feature OLS summary per event_type (A9): params, R² and
    // t-values via the covariance normal equations, one aggregate pass.
    "q47_multi_ols" -> ((s, d) => {
      val e = Tables.events(s, d)
        .withColumn("x1", (eUs(col("ts")) / 1e6 - 1704067200L) / 86400)
        .withColumn("x2", (col("user_id") % 101).cast("double") / 10)
      RegressionOps.multiOls(e, col("event_type"), col("x1"), col("x2"),
        col("value"))
    }),

    // Q48 — salted two-stage aggregation (skew handling): identical
    // result to the direct groupBy, verified by the unsalted oracle.
    // event_type is low-cardinality (5 keys over 32 reducers = the skew
    // shape); the salt spreads each key over 16 buckets.
    "q48_salted_agg" -> ((s, d) =>
      Skew.saltedSumCount(Tables.events(s, d), col("event_type"),
          col("event_id"), col("value"), 16)
        .select(col("k"), round(col("sum_v"), 2).as("sum_v"), col("n"))),

    // Q49 — native geohash Expression round-trip (F4 as a codegen'd
    // Catalyst expression, registered via SparkSessionExtensions):
    // decode(encode(lat,lon,12)) ≈ identity within 1e-7 ≪ the 1e-4
    // output rounding, so the oracle is the plain projection.
    "q49_geohash_native" -> ((s, d) => {
      Tables.supplier(s, d).select(col("s_suppkey"),
          ((col("s_suppkey") * 7 % 120) - 60 + 0.25).as("lat"),
          ((col("s_suppkey") * 13 % 360) - 180 + 0.5).as("lon"))
        .withColumn("gh", call_function("geohash_encode",
          col("lat"), col("lon"), lit(12)))
        .select(col("s_suppkey"),
          round(call_function("geohash_decode_lat", col("gh")), 4).as("lat_rt"),
          round(call_function("geohash_decode_lon", col("gh")), 4).as("lon_rt"))
    }),

    // Q50 — archive long/wide model round-trip (SURVEY §1.4): a wide
    // frame with tri-state _valid companions → long (field,value,valid)
    // rows → pivoted back must equal the original wide frame. The
    // oracle is the direct wide projection (identity).
    "q50_archive_model" -> ((s, d) => {
      val wide = Tables.events(s, d).select(
        col("user_id"), col("event_id"),
        (col("value") / 10).as("temp"),
        when(col("event_id") % 13 === 0, lit(null).cast("boolean"))
          .otherwise(col("event_id") % 7 =!= 0).as("temp_valid"),
        (col("user_id") % 101).cast("double").as("rv"),
        lit(true).as("rv_valid"))
      val long = ArchiveModel.toLong(wide,
        Seq(col("user_id")), col("event_id"), Seq("temp", "rv"))
      ArchiveModel.toWide(long, Seq(col("user_id")), Seq("temp", "rv"))
        .select(col("user_id"), col("datum").as("event_id"),
          col("temp"), col("temp_valid"), col("rv"), col("rv_valid"))
    }),

    // Q51 — CAQI family + combined indices (F9/F11): per-pollutant CAQI,
    // the maxCAQI +50 bump, and the AQI cumulative-effect max-index.
    "q51_aqi_combined" -> ((s, d) => {
      // Staged selects (the q31 tokenize-once pattern): each piecewise
      // chain is a large when-tree that maxCaqi/maxIndex reference
      // several times — materialize them as attributes first so
      // CollapseProject doesn't inline each chain per reference.
      val pm25 = col("value") / 4
      val pm10 = col("value") / 2
      Tables.events(s, d).select(col("event_id"),
          AirQuality.caqiPm25.column(pm25).as("caqi_pm25"),
          AirQuality.caqiPm10.column(pm10).as("caqi_pm10"),
          AirQuality.aqiPm25.column(pm25).as("__a25"),
          AirQuality.aqiPm10.column(pm10).as("__a10"))
        .select(col("event_id"), col("caqi_pm25"), col("caqi_pm10"),
          AirQuality.maxCaqi(col("caqi_pm25"), col("caqi_pm10")).as("caqi_max"),
          AirQuality.maxIndex(col("__a25"), col("__a10")).as("aqi_max"))
    }),

    // Q52 — min-max and z-score normalisation per key (A10), raw doubles.
    "q52_normalize" -> ((s, d) => {
      val e = Tables.events(s, d)
      val mm = RegressionOps.minMaxNorm(e, col("user_id"), col("value"), "mm")
      RegressionOps.zNorm(mm, col("user_id"), col("value"), "z")
        .select(col("event_id"), col("mm"), col("z"))
    }),

    // Q53 — exact ±tol as-of alignment (J3's literal pickValue
    // semantics) via a banded range join on integer microseconds.
    "q53_tolerance_align" -> ((s, d) => {
      val e = Tables.events(s, d)
      AsOfAlign.toleranceAlign(
        e.where(col("event_type") === "click"), col("event_id"), col("ts"),
        col("value"),
        e.where(col("event_type") === "purchase"), col("ts"), col("value"),
        450)
    }),

    // Q54 — the SAME alignment written as a naive abs(Δt) ≤ tol theta-
    // join: BandedIntervalJoinRule rewrites the nested-loop plan into
    // the banded equi-join at optimization time. Same oracle as q53 —
    // the rewrite must be invisible in the results.
    "q54_banded_rule_align" -> ((s, d) => {
      // defensively ensure the rule on driver-foreign sessions; append,
      // never clobber pre-existing extra optimizations (idempotent)
      if (!s.experimental.extraOptimizations.contains(graft.plans.BandedIntervalJoinRule))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ graft.plans.BandedIntervalJoinRule
      val e = Tables.events(s, d)
      val l = e.where(col("event_type") === "click").select(
        col("event_id").as("l_id"),
        unix_micros(col("ts").cast("timestamp")).as("l_us"),
        col("value").as("l_v"))
      val r = e.where(col("event_type") === "purchase").select(
        unix_micros(col("ts").cast("timestamp")).as("r_us"),
        col("value").as("r_v"))
      l.join(r, abs(col("l_us") - col("r_us")) <= lit(450000000L))
        .groupBy(col("l_id"), col("l_us"), col("l_v"))
        .agg(Resample.roundStable(avg(col("r_v")), 4).as("avg_r"),
          count(lit(1)).as("n_match"))
    }),

    // Q55 — DREF flatten (D3): nested data map {sensorType → [(field,
    // value)…]} exploded to long measurement rows, exactly the decode
    // path's record shape (MyDatacollector.py:1373-1464 ConvertValue).
    "q55_dref_flatten" -> ((s, d) => {
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
    }),

    // Q56 — IVF ANN (nprobe=1): centroid cells (first 8 vectors as the
    // deterministic training stub), exact cosine top-3 within the cell.
    // Completes the ANN family: brute force (q29), LSH (q30), IVF (q56).
    "q56_ann_ivf" -> ((s, d) =>
      Similarity.annIvf(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), 8, 32, 3)),

    // Q57 — JSON series serialization (F19): the HighCharts-style
    // [[epoch, value], …] per-key series string
    // (visualisation/ChartsPM.pl:1171-1238). Lexicographic [t, v] pair
    // sort keeps the aggregation order-deterministic; both engines
    // render compact JSON.
    "q57_json_series" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(array(
          eS(col("ts")), floor(col("value")).cast("long")))).as("series"))
        .select(col("user_id"), to_json(col("series")).as("series_json"))),

    // Q58 — sliding-window Grubbs sweep (A5): half-overlapping windows,
    // recursive test per (key, window). Oracle: same recursive CTE as
    // q37 seeded per (key, window); exactness also via GrubbsSpec.
    "q58_grubbs_sweep" -> ((s, d) =>
      Outliers.grubbsSweep(Tables.events(s, d), col("user_id"),
          col("ts"), col("value"), 7 * 86400)
        .select(col("user_id"), col("win_start"),
          round(col("keep_lo"), 4).as("keep_lo"),
          round(col("keep_hi"), 4).as("keep_hi"))),

    // Q59 — the reference's FindNeighbours proper (J6, MyGPS.py:320-373):
    // kits within the DEFAULT 5 km radius over a dense NL-latitude point
    // cloud. At this radius GeoJoin auto-picks precision 4 and the classic
    // own-cell + 8-neighbor block (kx = ky = 1).
    "q59_geo_neighbours" -> ((s, d) => {
      val kits = Tables.supplier(s, d).select(col("s_suppkey"),
        (lit(51.0) + (col("s_suppkey") % 200) * 0.004).as("lat"),
        (lit(5.0) + (col("s_suppkey") * 3 % 200) * 0.006).as("lon"))
      GeoJoin.pairsWithinRadius(kits, col("s_suppkey"), col("lat"), col("lon"),
          radiusM = 5000.0, maxAbsLat = 52.0)
        .select(col("a_key"), col("b_key"),
          round(col("dist_m"), 2).as("dist_m"))
    }),

    // Q60 — SensorTypes packed-fields parser + CalRefs resolution (F2
    // proper): the reference's one-varchar-per-product catalogue
    // (`name,unit[,cal];…`, cal = `REF/a0/a1|…`) parsed with pure Column
    // string algebra, coefficients resolved against the CalRefs priority
    // list (SDS011 first, BAM1020 fallback), broadcast-joined into the
    // Taylor apply. Products without a resolvable ref calibrate with the
    // identity [0,1] (ref='none').
    "q60_sensor_fields" -> ((s, d) => {
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
    }),

    // Q61 — order-3 polynomial fit per key (A8 full): the general
    // np.polyfit(x, y, order) via power-sum aggregation + Cramer solve,
    // one aggregate pass. x scaled to [-1,1] (30-day window mid-point)
    // for a well-conditioned moment matrix — the same scaling any
    // production fit over epoch time needs.
    "q61_polyfit" -> ((s, d) => {
      val e = Tables.events(s, d)
        .withColumn("x", (eUs(col("ts")) / 1e6 - 1705363200L) / 1296000.0)
      RegressionOps.polyFit(e, col("event_type"), col("x"), col("value"), 3)
    }),

    // Q62 — batch geofence segmentation (W7): contiguous "kit not at
    // home" periods from haversine home-distance > 118 m, the batch twin
    // of the streaming geofence (UpdateValidity.sh awk state machine).
    "q62_geofence_segments" -> ((s, d) => {
      val lat0 = lit(51.4) + (col("user_id") % 100).cast("double") * 0.001
      val lon0 = lit(6.08) + (col("user_id") % 50).cast("double") * 0.002
      val lat = lat0 + when(col("event_id") % 17 < 3, 0.01).otherwise(0.0)
      val dist = GeoFunctions.haversineM(lat0, lon0, lat, lon0)
      WindowOps.geofenceSegments(Tables.events(s, d), Seq(col("user_id")),
          Seq(col("ts"), col("event_id")), dist, 118.0)
        .select(col("user_id"), eS(col("seg_start")).as("seg_start"),
          eS(col("seg_end")).as("seg_end"), col("n_rows"),
          round(col("max_dist_m"), 2).as("max_dist_m"))
    }),

    // Q63 — Sensors.Community forwarding projection (K2): sensor type
    // and field synthesized per event, broadcast-joined to the pin/
    // translate/Taylor dimension (MyCOMMUNITY.py sense_table), with the
    // dust positive clamp, pressure hPa→Pa truncation, 2-decimal API
    // rounding; untranslatable fields ('grain') drop on the inner join.
    "q63_community_pins" -> ((s, d) => {
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
    }),

    // Q64 — per-kit 4-h notice throttle (K7) run in BATCH through the
    // REAL streaming operator (flatMapGroupsWithState works on a static
    // Dataset); oracle is a DuckDB recursive CTE stepping the same
    // next-allowed state per kit.
    "q64_notice_throttle" -> ((s, d) => {
      import s.implicits._
      val n = Tables.events(s, d).select(
          col("user_id").cast("string").as("kit"),
          eS(col("ts")).as("ts"), col("event_type").as("message"))
        .as[graft.streaming.Forwarding.Notice]
      graft.streaming.Forwarding.throttleNotices(n.groupByKey(_.kit))
        .toDF().select(col("kit"), col("ts"), col("message"), col("sent"))
    }),

    // Q65 — REAL image decode (javax.imageio): encode a deterministic PNG
    // per doc_id, decode the actual bytes back, report width/height/mean
    // luminance from decoded pixels. The oracle computes the same values
    // closed-form from the generation rule (PNG is lossless), so a hash
    // match proves the encode→decode round-trip, not stub arithmetic.
    "q65_image_decode" -> ((s, d) =>
      Multimodal.decodeImages(
          Multimodal.syntheticPngTable(Tables.documents(s, d), col("doc_id")))
        .toDF().select(col("media_id"), col("width"), col("height"),
          Resample.roundStable(col("brightness"), 4).as("brightness")))
  ,

    // Q66 — multi-band LSH ANN (the recall knob over q30's single band):
    // 4 bands × 4 planes, candidates = any-band bucket collision, exact
    // cosine top-3 over the union. See docs/SCALING.md recall table.
    "q66_ann_lsh_banded" -> ((s, d) =>
      Similarity.annLshBanded(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), 4, 4, 32, 3)),

    // Q67 — the forecast.pl assembly (scripts/forecast.pl): hourly AQI
    // forecast per location, zero-filled gaps, closed-form AQI→PM2.5
    // inverse, LKI presentation index (1-dec half-up) + colour/quality
    // classes, emitted as per-location JSON series arrays. user_id % 5
    // plays the location key.
    "q67_forecast_series" -> ((s, d) =>
      Forecast.assemble(Tables.events(s, d),
        col("user_id") % 5, col("ts"), col("value"))),

    // Q68 — REAL audio decode (javax.sound.sampled): encode a
    // deterministic PCM WAV per doc_id, decode the actual container
    // bytes back, report rate/samples/duration/RMS/peak from decoded
    // frames. Oracle computes the same closed-form (PCM is lossless; the
    // Σs² integer is exact in both engines).
    "q68_audio_decode" -> ((s, d) =>
      Multimodal.decodeAudio(
          Multimodal.syntheticWavTable(Tables.documents(s, d), col("doc_id")))
        .toDF().select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("duration_s"), Resample.roundStable(col("rms"), 4).as("rms"),
          col("peak"))),

    // Q69 — RRD round-robin archive consolidation (K8, Get_data.pl
    // :498-549): AVERAGE/MIN/MAX × six spans, 785-row retention, xff 0.5.
    // The six archive branches reuse one hourly-PDP exchange.
    "q69_rrd_retention" -> ((s, d) =>
      RrdArchive.consolidate(Tables.events(s, d), col("ts"), col("value"))),

    // Q70 — REAL multi-frame sampling: encode a deterministic animated
    // GIF per doc_id, enumerate container frames, decode every 2nd frame
    // only. Oracle computes the same closed-form (GIF palette encodes
    // grayscale losslessly).
    "q70_video_frames" -> ((s, d) =>
      Multimodal.sampleVideoFrames(
          Multimodal.syntheticGifTable(Tables.documents(s, d), col("doc_id")),
          stride = 2)
        .toDF().select(col("media_id"), col("width"), col("height"),
          col("n_frames"), col("sampled_frames"),
          Resample.roundStable(col("sampled_brightness"), 4)
            .as("sampled_brightness"))),

    // Q71 — sensor-plugin sliding buffer (S8, MyThreading.py:97-205):
    // last-5-polls buffer per sensor, numpy-interpolated quartiles,
    // asymmetric Q1-based IQR filter, 3-decimal mean, mid-range stamp.
    "q71_sensor_buffer" -> ((s, d) =>
      SensorBuffer.slidingAverage(Tables.events(s, d),
          Seq(col("user_id")), Seq(col("ts"), col("event_id")),
          eS(col("ts")), col("value"), bufSize = 5)
        .select(col("user_id"), col("event_id"), col("mid_ts"),
          col("n_buf"), col("n_kept"), col("buf_avg"))),

    // Q72 — duplicate-cluster resolution: hash-min connected components
    // over q27's MinHash pair graph, min-id survivor per cluster — the
    // step a dedup pipeline runs AFTER pair generation to actually drop
    // rows. Oracle: recursive-CTE transitive closure over the SAME pair
    // SQL.
    "q72_dup_clusters" -> ((s, d) =>
      Dedup.dupClusters(
        Dedup.minhashLshPairs(Tables.documents(s, d),
          col("doc_id"), col("text"), 3, 16, 4, 0.5),
        col("d1"), col("d2"))),

    // Q73 — the weather half of forecast.pl (Get_weather_forecast
    // :557-660): a REAL yr.no-document encode→nested-from_json→explode
    // round-trip; start epoch = earliest timeseries time, hour count,
    // per-variable hourly arrays. Oracle computes the same closed-form
    // from events — a hash match proves the JSON leg.
    "q73_weather_series" -> ((s, d) =>
      Forecast.weatherSeries(Tables.events(s, d),
        col("user_id") % 5, col("ts"), col("value"))),

    // Q74 — rule-attributed quality filtering (the C4/Gopher gate with
    // per-rule audit trail): which rule dropped each document.
    "q74_quality_filter" -> ((s, d) =>
      CorpusFilter.withAttribution(Tables.documents(s, d),
        col("doc_id"), col("text"))),

    // Q75 — deterministic stratified sampling: per-lang keep fractions
    // via pure hash of (stratum, id) — reproducible, shuffle-free.
    "q75_stratified_sample" -> ((s, d) =>
      CorpusFilter.sampleStratified(Tables.documents(s, d),
          col("doc_id"), col("lang"),
          Map("en" -> 0.8, "de" -> 0.5, "es" -> 0.25), 0.1)
        .select(col("doc_id"), col("lang"), col("source"))),

    // Q76 — TTN envelope import end-to-end (D1/D4/D5,
    // MyMQTTclient.py:312-418 + MyDatacollector.py:1466-1553): events
    // rows are rendered as REAL V2/V3 envelope JSON (alternating by
    // event_id, exercising both envelope branches), parsed back through
    // TtnEnvelope.parseBest, timestamps resolved ISO→epoch, payload
    // base64-round-tripped, and the best gateway argmax'd over a
    // per-event synthetic gateway list. The oracle states the closed
    // form of every output directly from events.
    "q76_ttn_envelope" -> ((s, d) =>
      q76Pipeline(ttnFixtureLines(Tables.events(s, d)))),

    // Q77 — modified z-score (median/MAD) outliers (A6,
    // grubbs.py:745-756): |x−med| / median(|x−med|) ≥ 3.5 per device.
    // Both engines interpolate medians with the same lo+(hi−lo)·frac
    // formula, so the filtered row set hashes identically.
    "q77_mad_outliers" -> ((s, d) =>
      Outliers.madOutliers(Tables.events(s, d), col("user_id"),
          col("value"), 3.5)
        .select(col("user_id"), col("event_id"), col("value"))),

    // Q78 — geohash prefix-length distance (F6, MyGPS.py:58-79): the
    // Column-side common-prefix scan + meters lookup over string pairs
    // with a KNOWN prefix length k = s_suppkey % 13 (clamp branch
    // included at k ≥ 10); the oracle states the lookup closed-form.
    "q78_prefix_distance" -> ((s, d) => {
      val k = (col("s_suppkey") % 13).cast("int")
      val a = lit("u" * 12)
      val b = concat(a.substr(lit(1), k), lit("7" * 12).substr(lit(1), lit(12) - k))
      Tables.supplier(s, d).select(col("s_suppkey"),
        graft.functions.GeoFunctions.geohashCommonPrefixLen(a, b).as("prefix_len"),
        graft.functions.GeoFunctions.geohashPrefixDistanceMCol(a, b).as("approx_m"))
    }),

    // Q79 — the per-kit streaming state machine (P4 statics / A13
    // throttle / J8 geofence, MyDatacollector.py:813-968,1041-1204) run
    // as a REAL two-micro-batch file replay: state crosses the batch
    // boundary, every telegram gets an accept/reject verdict. The oracle
    // replays the identical transition function as a DuckDB recursive
    // CTE in per-kit lockstep — all three state branches hash-checked.
    "q79_kit_state" -> ((s, d) =>
      graft.streaming.Replay.replayKitState(s, d)),

    // Q80 — XLSX writer→reader round trip (K9 report writer + S6 XLSX
    // source, Things2XLSX.py / MyDB2XLSX): a per-nation customer report
    // is written as a real OOXML workbook and read back through the
    // distributed binaryFile reader. Sums go through DECIMAL(18,2) so
    // both engines add exact decimals — the workbook's number cells then
    // round-trip bit-for-bit via shortest-repr doubles.
    "q80_xlsx_roundtrip" -> ((s, d) => {
      val rpt = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)"))
            .cast("double").as("total_bal"))
      val f = graft.Scratch.tempDir("q80")
        .resolve("report.xlsx").toString
      graft.sources.XlsxWriter.write(rpt, f)
      graft.sources.XlsxSource.read(s, f)
    }),

    // Q81 — HTML table round trip (S7 scrape): a supplier listing is
    // rendered as an HTML document (driver-side fixture, dim-bounded)
    // and scraped back through the distributed parser — header from
    // <th>, numeric columns typed via the sanitizer. Column choice is
    // sanitizer-safe by construction: the nation label is digit-free
    // (digits would be sanitizer-coerced to numbers — that's the
    // scraper's documented contract), acctbal keeps its leading minus.
    "q81_html_roundtrip" -> ((s, d) => {
      val rows = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"),
          translate(col("n_name"), "0123456789", "abcdefghij").as("nation"),
          col("s_acctbal"))
        .collect() // dim-bounded (supplier is an unreplicated dim)
      val sb = new StringBuilder(
        "<html><body><h1>suppliers</h1><table>" +
          "<tr><th>s_suppkey</th><th>nation</th><th>s_acctbal</th></tr>")
      rows.foreach { r =>
        sb.append(s"<tr><td>${r.getLong(0)}</td><td>${r.getString(1)}" +
          s"</td><td>${r.getDouble(2)}</td></tr>")
      }
      sb.append("</table></body></html>")
      val f = graft.Scratch.tempDir("q81")
        .resolve("suppliers.html")
      java.nio.file.Files.writeString(f, sb.toString)
      graft.sources.HtmlTableSource.read(s, f.toString)
    }),

    // Q82 — the hourly CSV export round trip (K3 sink + A1 job,
    // MySQL2CSV.sh:349-412): gap-filled per-kit hourly frame written as
    // header'd CSV partitioned by kit (the reference's file-per-kit
    // layout), then read back through Spark's CSV source. Gap rows
    // round-trip as empty fields → NULLs, like the reference's awk.
    "q82_csv_roundtrip" -> ((s, d) => {
      val fromS = 1704067200L // 2024-01-01T00Z
      val toS = 1704240000L   // 2024-01-03T00Z, 49 hourly buckets
      val frame = HourlyExport.hourlyFrame(Tables.events(s, d),
        pmod(col("user_id"), lit(50)), col("ts"), col("value"), fromS, toS)
      val dir = graft.Scratch.tempDir("q82").toString
      HourlyExport.writeCsv(frame, dir)
      // Explicit read schema (r13 opt, guide §6): inferSchema is a FULL
      // extra pass over every file, and the select below casts every
      // column to a fixed type anyway — so inference only ever produced
      // an intermediate type the cast then normalized. Parsing straight
      // into the final types is value-identical (same CSV parser, same
      // null-on-empty gap semantics; hash-checked) and skips the pass.
      // The reference reader (awk over MySQL2CSV exports) is likewise
      // fixed-schema — inference was never part of the modeled contract.
      s.read.option("header", "true")
        .schema("bucket_ts LONG, avg_value DOUBLE, n LONG")
        .csv(dir)
        .select(col("k").cast("long").as("k"),
          col("bucket_ts").cast("long").as("bucket_ts"),
          col("avg_value").cast("double").as("avg_value"),
          col("n").cast("long").as("n"))
    }),

    // Q83 — InfluxDB line-protocol telegrams behind the channel gate
    // (K5 formatter, RPi/MyINFLUXPUB.py:120-156 + P9 gate,
    // MyDatacollector.py output channel patterns): the gate's anchored
    // regex picks even-serial kits, then each event renders as one
    // line-protocol string — tag escaping, quoted string field with
    // embedded quotes (props JSON), epoch-seconds timestamp — all as a
    // single codegen'd Column chain.
    "q83_influx_lines" -> ((s, d) => {
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
    }),

    // Q84 — bidirectional sync statement emission (J7 diff →
    // MyDBsyncWebDB.py:852-1000): the q21 full-outer metadata diff
    // projected through [[SyncStatements.emit]] — INSERT/DELETE/UPDATE
    // per divergent row, remote side wins.
    "q84_sync_statements" -> ((s, d) => {
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
    }),

    // Q85 — the paged REST source end-to-end (S5, DataSource V2 with one
    // InputPartition per page, SamenMetenThings.py:1409-1470): the
    // deterministic transport stub synthesizes each page from
    // (datastream, page, index), so the oracle can state every row in
    // closed form — schema, option parsing, partition planning and row
    // encoding are all on the hash path.
    "q85_paged_source" -> ((s, _) =>
      s.read.format("graft.sources.PagedThingsSource")
        .option("datastreams", "101,102,103")
        .option("pages", "3")
        .option("pageSize", "40")
        .load()),

    // Q86 — field-name synonym translation (P1,
    // MyDatacollector.py:332-348): raw NL/EN/punctuation variants
    // normalized through the literal synonym map; unknown names pass
    // through lowercased.
    "q86_field_translate" -> ((s, d) => {
      val raws = array(Seq("temperature", "Hum", "pm_10", "pres", "RH",
        "windspeed", "unknown_x", "Temperatuur").map(lit): _*)
      Tables.events(s, d)
        .select(col("event_id"),
          element_at(raws, (col("event_id") % 8 + 1).cast("int")).as("raw"))
        .select(col("event_id"), col("raw"),
          graft.ingest.LoRaPipeline.normalizeFieldName(col("raw")).as("norm"))
    }),

    // Q87 — MQTT republish telegram (K6, RPi/MyMQTTPUB.py:197-206):
    // topic base/project/serial, payload {"metadata","data"} JSON with
    // declared-but-missing fields KEPT as null (the reference emits
    // None for fields the kit declares but this telegram lacks — the
    // encoder must not drop them).
    "q87_mqtt_republish" -> ((s, d) => {
      val rv = when(col("event_id") % 3 =!= 0, col("event_id") % 100)
      val out = graft.streaming.Forwarding.republish("IoS",
        lit("SAN"), concat(lit("d"), col("user_id")),
        struct(lit("SAN").as("project"),
          concat(lit("d"), col("user_id")).as("serial")),
        struct(col("value").as("temp"), rv.as("rv")))
      Tables.events(s, d).select(col("event_id"),
        out.getField("topic").as("topic"),
        out.getField("telegram").as("telegram"))
    }),

    // Q88 — offline reverse geocode on kit relocation (MyDatacollector.py
    // :1041-1078 UpdateNewHome + lib/MyGPS.py:155-176 GPS2Address): kits
    // whose current fix moved >= 119 m from home (the reference's gate —
    // `GPSdistance(...) < 119: return False`) resolve the nearest
    // gazetteer place within the lookup radius via a geohash-cell
    // BROADCAST join + exact-haversine argmin; kits with nothing in range
    // keep NULL address columns (the reference's `{}` on a failed lookup).
    // Customers play the gazetteer dimension; suppliers play the kits.
    "q88_reverse_geocode" -> ((s, d) => {
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
    }),

    // Q89 — HighCharts chart-document round trip (visualisation/
    // ChartsPM.pl:553-615 Array2Units, :1659-1669 JS var emission):
    // per-station×pollutant series regridded from the FIRST reading
    // (values[0] raw, bucket k≥1 means, empty/sub-0.1 buckets → JS null,
    // the Perl's int(x*10+0.4)/10 rounding, MINHOURS gate), emitted as a
    // chart document and parsed back distributively. 'error' events are
    // throttled to 1-in-149 so the MINHOURS gate provably fires.
    "q89_chart_doc" -> ((s, d) => {
      val e = Tables.events(s, d)
        .where(col("event_type") =!= "error" || col("event_id") % 149 === 0)
      val blocks = ChartDoc.seriesBlocks(e,
        (col("user_id") % 12).cast("int"), col("event_type"),
        eS(col("ts")), col("event_id"), col("value"))
      val f = graft.Scratch.tempDir("q89")
        .resolve("charts.html")
      java.nio.file.Files.writeString(f, ChartDoc.document(blocks))
      ChartDoc.parseSeries(s, f.toString)
    }),

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
    "q90_map_doc" -> ((s, d) => {
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
    }),

    // Q91 — LSH-banded near-dup PAIRS: the scale path for q46's exact
    // all-pairs cosine (the one quadratic in the contract). Candidates =
    // pairs colliding in ≥1 SRP band (4 bands × 8 planes, planes = first
    // corpus vectors), bucket-capped, then exact-cosine verified at 0.9,
    // over the planted-twin corpus (see plantedTwinCorpus).
    "q91_lsh_neardup_pairs" -> ((s, d) =>
      Similarity.cosineNearDupPairsLsh(plantedTwinCorpus(s, d), col("id"),
        col("v"), threshold = 0.9, planesPerBand = 8, bands = 4)),

    // Q92 — J2 stream-static enrichment across a REAL micro-batch
    // boundary (KitCache metadata lookup, MyMQTTclient.py:606-827): the
    // telegram stream broadcast-joins the kit registry per micro-batch;
    // the join is stateless so the streamed output must equal the batch
    // join the oracle states.
    "q92_stream_enrich" -> ((s, d) =>
      graft.streaming.Replay.replayStreamEnrich(s, d)),

    // Q93 — D7 event extraction (HasEvent, MyDatacollector.py:1019-1035):
    // port-3 meta event telegrams are byte-encoded, decoded back through
    // the real LoRa meta decoder, and the event number translated to its
    // notice/artifact; numbers outside the {13,14,15} table drop (the
    // reference's KeyError → empty-artifact path).
    "q93_event_extract" -> ((s, d) => {
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
    }),

    // Q94 — event-time watermark windowed aggregation across a REAL
    // micro-batch boundary (§2.8): batch 2 carries genuinely late rows
    // (parity split, not time split); closed-window drops, open-window
    // merges and the terminal flush are all deterministic closed forms
    // of the data — see Replay.replayWatermarkAgg.
    "q94_watermark_agg" -> ((s, d) =>
      graft.streaming.Replay.replayWatermarkAgg(s, d)),

    // Q95 — product-quantization ADC top-k: the compression half of the
    // ANN family (8×8-dim subspaces, 16 codes each → 64-dim floats in 8
    // bytes, the footprint that lets a 10⁹-vector corpus sit in executor
    // memory). First-16 codebooks keep it oracle-shareable (same stance
    // as q56's first-K IVF centroids; kmeans-trained codebooks are the
    // production path, probed in docs/SCALING.md).
    "q95_pq_adc" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cb = Similarity.pqCodebookFirstK(e,
        col("vec_id").cast("long"), col("embedding"), 8, 8, 16)
      Similarity.pqAdcTopK(e, col("vec_id").cast("long"), col("embedding"),
        8, 8, cb, nQueries = 5, k = 10)
    }),

    // Q96 — ADC + exact rerank, the standard PQ serving recipe: the
    // 8-byte-code scan shortlists 4·k candidates, only those pay a
    // raw-vector fetch + exact distance. Same first-16 codebooks as q95
    // so the whole two-stage pipeline is oracle-shared.
    "q96_pq_rerank" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cb = Similarity.pqCodebookFirstK(e,
        col("vec_id").cast("long"), col("embedding"), 8, 8, 16)
      Similarity.pqAdcRerankTopK(e, col("vec_id").cast("long"),
        col("embedding"), 8, 8, cb, nQueries = 5, k = 10, rerank = 4)
    }),

    // Q97 — streaming dedup with BOUNDED state (§2.9 U1's streaming
    // variant): dropDuplicatesWithinWatermark replayed over three staged
    // micro-batches; id-class pairing (adjacent / 512-id-lagged /
    // partnerless keys) makes every fate (emit / duplicate-drop /
    // expired-state re-emit / late-drop) a closed form of the data — see
    // Replay.replayDedupWithinWatermark.
    "q97_stream_dedup" -> ((s, d) =>
      graft.streaming.Replay.replayDedupWithinWatermark(s, d)),

    // Q98 — IVF-PQ (IVFADC): coarse cells shard the corpus (a probe
    // touches nprobe/kCoarse of it), PQ codes quantize the RESIDUAL
    // v − centroid so the 8-byte budget spends itself near 0, and each
    // (query, probed cell) builds its own residual LUT — the composed
    // billion-vector serving shape. First-8 centroids + first-16
    // residual codebooks keep the whole pipeline oracle-shareable
    // (q56/q95 stance).
    "q98_ivfpq_adc" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfPqAdcTopK(e, col("vec_id").cast("long"),
        col("embedding"), kCoarse = 8, nprobe = 2, m = 8, dsub = 8,
        ksub = 16, nQueries = 5, k = 10)
    }),

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
    "q99_session_windows" -> ((s, d) =>
      WindowOps.sessionize(Tables.events(s, d), col("user_id"),
          date_trunc("second", col("ts").cast("timestamp")), 12347, col("value"))
        .withColumnRenamed("key", "user_id")),

    // Q100 — console monitor row (K4, MyDatacollector.py:2110-2117
    // layout + :418-427 colors): every printf quirk exercised — %-92.91s
    // truncate-then-pad (the long sensor list crosses 91 chars), %4.d /
    // %2.d space-justify with the zero→empty precision-dot case
    // (event_id % 19999 = 0), tri-state validity, geo suffix, gateway
    // count presence, and the ≤1h interval suffix. Pure Column algebra
    // (Forwarding.monitorLine); the oracle restates the layout in SQL.
    "q100_console_monitor" -> ((s, d) => {
      val sensors = when(col("event_id") % 4 === 0, lit(""))
        .when(col("event_id") % 4 === 1, lit("temp"))
        .when(col("event_id") % 4 === 2, lit("temp,rv"))
        .otherwise(lit("pm10,pm25,rh0,temp,rv,pres,grain,aerosol," +
          "windspeed,winddir,luchtdruk"))
      val valid = when(col("event_id") % 5 === 0, lit(null).cast("boolean"))
        .when(col("event_id") % 5 === 1, lit(false)).otherwise(lit(true))
      val kitLoc = when(col("event_id") % 7 === 0, lit("u1hc230"))
        .otherwise(lit(null).cast("string"))
      val nGtws = when(col("event_id") % 11 === 0, lit(null).cast("int"))
        .otherwise((col("event_id") % 13 + 1).cast("int"))
      val out = graft.streaming.Forwarding.monitorLine(
        col("ts").cast("timestamp"),
        concat(lit("TTN/kit"), col("user_id")),
        concat(lit("SAN_d"), col("user_id")),
        sensors, valid, kitLoc, nGtws,
        (col("event_id") % 19999).cast("int"),
        (col("event_id") % 7200).cast("int"))
      Tables.events(s, d).select(col("event_id"),
        out.getField("line").as("line"), out.getField("color").as("color"))
    }),

    // Q101 — q99's sessionization run as a REAL five-micro-batch replay
    // (W5 streaming leg): cross-batch session merge, late-row backward
    // extension, watermark-advance flush, and hard-late drop each forced
    // by a dedicated file (see Replay.replaySessionWindows scaladoc for
    // the closed form and why no tie guard is needed). The oracle is
    // q99's gaps-and-islands over the accepted row set: evens ∪ planted
    // seeds ∪ fresh odds ∪ anchors ∪ extenders — far-future keys and
    // hard-late rows never surface.
    "q101_session_replay" -> ((s, d) =>
      graft.streaming.Replay.replaySessionWindows(s, d)),

    // Q102 — the AUTO-KNOB LSH near-dup path as a driver-checked oracle
    // row (VERDICT r9 item 6): q91 pins 8 planes × 4 bands for a simple
    // shared oracle, but production calls cosineNearDupPairsLshAuto,
    // which sizes planes/bands from the corpus count (the fixed-knob
    // shape is the documented quadratic at 10× corpus — 143 s vs 57 s
    // at sf10). Same twin-augmented corpus as q91; the oracle recomputes
    // lshPairKnobs IN SQL from count(*) so it tracks any SF.
    "q102_lsh_neardup_auto" -> ((s, d) =>
      Similarity.cosineNearDupPairsLshAuto(plantedTwinCorpus(s, d),
        col("id"), col("v"), threshold = 0.9)),

    // Q103 — benchmark decontamination: training docs sharing a word
    // 4-gram with the held-out benchmark partition (source 'src19').
    "q103_decontaminate" -> ((s, d) =>
      Decontaminate.overlap(Tables.documents(s, d), col("doc_id"),
        col("text"), col("source") === "src19", n = 4)),

    // Q104 — PII scan + redaction counts over deterministically
    // PII-augmented text (the synthetic corpus is PII-free, so both
    // engines append the same doc_id-derived email/IP/phone fixtures —
    // the scrubber itself is what's under test).
    "q104_pii_redact" -> ((s, d) => {
      val withPii = concat(col("text"),
        when(col("doc_id") % 3 === 0, concat(lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com now")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(lit(" host 10."),
          (col("doc_id") % 256).cast("string"), lit(".0."),
          (col("doc_id") % 100).cast("string"), lit(" up")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, concat(lit(" call +31-555-"),
          (col("doc_id") % 10000).cast("string"), lit(" today")))
          .otherwise(lit("")),
        // r12 (VERDICT r11 item 8): one fixture branch per scanner
        // shape the %3/%5/%7 trio misses — a local dashed phone (the
        // alternation's no-plus branch), a parenthesized area code, a
        // dotted digit run that is a PHONE not an IP (the ADVICE r11
        // overlap class: 3 dotted groups vs ipv4's 4), and a bare '@@'
        // that must NOT count as an email.
        when(col("doc_id") % 11 === 0, concat(lit(" fax 555-12"),
          (col("doc_id") % 100).cast("string"), lit("-4567 now")))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0, concat(lit(" desk (020) 1234 "),
          (col("doc_id") % 9000 + 1000).cast("string"), lit(" ext")))
          .otherwise(lit("")),
        when(col("doc_id") % 17 === 0, concat(lit(" build 20.300."),
          (col("doc_id") % 9000 + 1000).cast("string"), lit(" and @@ ok")))
          .otherwise(lit("")))
      // r12: one native pii_scan (linear byte scanners, PiiScanSpec-pinned
      // to the regex chain) replaces six backtracking-regex passes; the
      // DuckDB oracle still states the declarative regex definition
      val p = PiiFunctions.scan(withPii)
      Tables.documents(s, d)
        .select(col("doc_id"),
          p.getField("n_email").as("n_email"),
          p.getField("n_ipv4").as("n_ipv4"),
          p.getField("n_phone").as("n_phone"),
          md5(p.getField("redacted")).as("redacted_md5"))
    }),

    // Q105 — training-sequence offset packing: 256-token sequences over
    // 8 independent hash shards.
    "q105_seq_pack" -> ((s, d) =>
      SeqPack.pack(Tables.documents(s, d), col("doc_id"), col("text"),
        seqLen = 256, nShards = 8)),

    // Q106 — within-document repetition profile (Gopher dup-token /
    // top-bigram signals).
    "q106_repetition" -> ((s, d) =>
      CorpusFilter.repetitionProfile(Tables.documents(s, d),
        col("doc_id"), col("text"))),

    // Q107 — language-mix resampling to a uniform 5-way target: the
    // corpus is ~41 % en, so en is down-sampled to the water-filling
    // maximum the rarest language supports.
    "q107_lang_mix" -> ((s, d) =>
      CorpusFilter.mixToTarget(Tables.documents(s, d), col("doc_id"),
        col("lang"), MixTargets)),

    // Q108 — tokenizer training: the corpus-wide BPE merge-selection
    // aggregate (top-50 adjacent token pairs with multiplicity; one
    // map-side-combined hash aggregate + TakeOrdered, never a global
    // sort).
    "q108_bpe_merges" -> ((s, d) =>
      TokenizerOps.topMergePairs(Tables.documents(s, d), col("text"), k = 50)),

    // Q109 — embedding-space decontamination: training vectors whose
    // cosine to any benchmark vector (label 9 stands in for the held-out
    // eval suite) reaches 0.3 — exact, benchmark side broadcast.
    "q109_embed_decon" -> ((s, d) =>
      Decontaminate.embedOverlap(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), col("label") === 9, threshold = 0.3)),

    // Q110 — iterative BPE training: 8 alternating select→apply merge
    // rounds (the real tokenizer loop; q108 is one selection round).
    // Each round is one map-side-combined pair-count aggregate + a
    // map-only literal replace; merge selection is sequential by
    // definition.
    "q110_bpe_train" -> ((s, d) =>
      TokenizerOps.trainMerges(Tables.documents(s, d), col("text"), k = 8)),

    // Q111 — the ABOVE-broadcast branch of q109's gate, exercised
    // unconditionally (q109 covers the exact path; this is its q102:
    // the production fallback driver-checked, knobs recomputed in SQL).
    // The "benchmark" is q102's planted perturbed twins — the actual
    // contamination scenario (eval items near-identical to training
    // docs); twin ids live above a data-derived stride so they never
    // collide with corpus ids at any SF.
    "q111_embed_decon_lsh" -> ((s, d) =>
      Decontaminate.embedOverlapLsh(plantedTwinCorpus(s, d, isBench = true),
        col("id"), col("v"), col("is_bench"), threshold = 0.9)),

    // Q112 — DSIR importance resampling: weight every training doc by
    // hashed-unigram likelihood ratio toward the held-out 'src19'
    // target partition; kept ⟺ more target-like than source-like.
    // Knobs sized to the corpus (α·B must not swamp the target token
    // stream — grid-measured at the gate SF: 4096/0.5 pushed every
    // logw < −9; 256/0.1 centers the distribution and keeps ~8 %).
    "q112_dsir_sample" -> ((s, d) =>
      CorpusFilter.dsirWeights(Tables.documents(s, d), col("doc_id"),
        col("text"), col("source") === "src19", buckets = 256, alpha = 0.1)),

    // Q113 — SemDeDup: cluster-scoped semantic dedup (cells auto-sized
    // to the corpus, within-cell cos ≥ 0.9, smaller-id anchor keeps).
    // The synthetic embeddings have no natural near-dups (max pairwise
    // cos ≈ 0.51), so the corpus is the q102/q111 planted-twin one —
    // every twin's anchor is its smaller-id source, provided the
    // perturbation leaves it in the same cell (cell-boundary misses are
    // SemDeDup's documented recall limitation, identically mirrored in
    // the oracle).
    "q113_semdedup" -> ((s, d) =>
      Dedup.semDedup(plantedTwinCorpus(s, d), col("id"), col("v"),
        threshold = 0.9))
  )

  /** q107 target language shares (uniform over the corpus' 5 langs). */
  private val MixTargets: Map[String, Double] =
    Seq("en", "de", "fr", "es", "zh").map(_ -> 0.2).toMap

  // q63 synthetic reading shape (shared with the oracle renderer)
  private val CommunityProducts =
    Seq("PMS7003", "SDS011", "BME280", "SHT31", "DS18B20")
  private val CommunityDustFields =
    Seq("pm25", "pm10", "pm1", "pm10_cnt", "grain")
  private val CommunityMeteoFields = Seq("temp", "rv", "luchtdruk")

  // ------------------------------------------------------------ oracle SQL

  /** Shared SQL fragments so scalar oracles are generated from the same
    * definitions as the Spark plans. */
  private val epochS = "epoch_us(%s)//1000000"
  private def eSq(c: String) = s"epoch_us($c)//1000000"

  private val hourlyAggSql =
    "SELECT epoch_us(date_trunc('hour', ts))//1000000 AS bucket_ts, " +
      "CAST(round(CAST(avg(value) AS DECIMAL(18,6)),2) AS DOUBLE) AS avg_value, " +
      "count(*) AS n FROM events GROUP BY 1"

  /** Grubbs oracle support (A4/A5): the recursive max-removal IS
    * SQL-expressible as a DuckDB recursive CTE over a sorted value list —
    * the reference removes the largest *signed* z-score
    * (statistics/grubbs.py:230 `Z.argmax()`), and dev = v − mean is
    * monotone in v, so every pass removes one instance of the current
    * maximum: each iteration drops the sorted list's last element. The
    * Student-t critical values are not SQL-expressible; the lookup table
    * is interpolated from the SAME Scala implementation the engine uses
    * ([[graft.functions.Stats.grubbsCritical]]) via `Double.toString`
    * (shortest-repr round-trips through DuckDB's parser exactly), so both
    * sides compare against identical doubles. n ≤ 1024 bounds the table:
    * a group beyond it would silently END the oracle's recursion (the
    * crit join finds no row) while the engine kept iterating — max group
    * size is 99 at sf0.1, so 1024 is a 10× safety margin, and the VALUES
    * list stays trivially small. */
  private def grubbsCritTable: String =
    (15 to 1024).map(n =>
      s"($n, ${graft.functions.Stats.grubbsCritical(n, 0.05)})").mkString(", ")

  /** MinHash(16) + LSH(4×4) verified pair SQL — q27's oracle, and the
    * pair definition q72's transitive closure builds on (one rendering,
    * two queries: the cluster oracle can't drift from the pair oracle). */
  private lazy val minhashPairsSql: String = {
    val sh = TextFunctions.shinglesSql("text", 3)
    val mins = (0 until 16).map(j =>
      s"min(${TextFunctions.minhashPermSql("h", j)}) AS m$j").mkString(", ")
    val bandCase = (0 until 4).map(b =>
      s"WHEN $b THEN concat_ws(',', m${4 * b}, m${4 * b + 1}, m${4 * b + 2}, m${4 * b + 3})")
      .mkString("CASE band ", " ", " END")
    s"""WITH sh AS (SELECT doc_id AS id, unnest($sh) AS s FROM documents),
        h AS (SELECT id, ${TextFunctions.hash32Sql("s")} AS h FROM sh),
        sig AS (SELECT id, $mins FROM h GROUP BY id),
        banded AS (SELECT id, band, $bandCase AS bkey
                   FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band)),
        -- bucket cap mirrored from Dedup.DefaultLshBucketCap: oversized
        -- (degenerate) buckets contribute no candidates on either engine
        bucket AS (SELECT band, bkey FROM banded GROUP BY band, bkey
                   HAVING count(*) BETWEEN 2 AND ${graft.operators.Dedup.DefaultLshBucketCap}),
        cand AS (SELECT DISTINCT x.id AS d1, y.id AS d2
                 FROM banded x
                 JOIN bucket USING (band, bkey)
                 JOIN banded y ON y.band = x.band AND y.bkey = x.bkey
                              AND x.id < y.id),
        sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
        inter AS (SELECT c.d1, c.d2, count(*) AS n_inter FROM cand c
                  JOIN sh a ON a.id = c.d1 JOIN sh b ON b.id = c.d2 AND b.s = a.s
                  GROUP BY 1, 2),
        j AS (SELECT d1, d2,
                round(n_inter / CAST(n1.n_sh + n2.n_sh - n_inter AS DOUBLE), 4) AS jac
              FROM inter JOIN sizes n1 ON n1.id = d1 JOIN sizes n2 ON n2.id = d2)
        SELECT d1, d2, jac FROM j WHERE jac >= 0.5"""
  }

  /** The shared recursive skeleton: seed must yield (keys…, vals, n0)
    * with vals sorted ascending; the final row per key group is the one
    * with the shortest list (lengths strictly decrease). */
  private def grubbsIterSql(keys: String, seedSql: String): String =
    s"""WITH RECURSIVE crit(n, c) AS (VALUES $grubbsCritTable),
        seed0 AS ($seedSql),
        -- LOUD guard: past the crit table the recursion would silently
        -- stop while the engine kept iterating — fail the oracle instead
        seed AS (SELECT $keys,
                   CASE WHEN len(vals) > 1024
                        THEN error('grubbs oracle: group exceeds crit table (n > 1024)')
                        ELSE vals END AS vals, n0
                 FROM seed0),
        iter($keys, vals, n0) AS (
          SELECT $keys, vals, n0 FROM seed
          UNION ALL
          SELECT $keys, vals[1:t.n-1], n0
          FROM (SELECT $keys, vals, n0, CAST(len(vals) AS INT) AS n,
                       list_sum(vals)/len(vals) AS mu
                FROM iter WHERE len(vals) >= 15) t
          JOIN crit ON crit.n = t.n
          WHERE sqrt(list_sum(list_transform(vals, v -> (v-mu)*(v-mu)))/(t.n-1)) > 0
            AND (vals[t.n] - mu)
              / sqrt(list_sum(list_transform(vals, v -> (v-mu)*(v-mu)))/(t.n-1))
              > crit.c)"""

  /** DuckDB twin of [[plantedTwinCorpus]]: one SELECT yielding
    * `(id, v[, is_bench])`, stride = max id + 1 recomputed in SQL; the
    * e0 literals keep the twin deltas DOUBLE. */
  private def plantedTwinCorpusSql(isBench: Boolean = false): String = {
    def flag(twin: Boolean) =
      if (isBench) s", ${twin.toString.toUpperCase} AS is_bench" else ""
    s"""SELECT id, list_transform(v, x -> CAST(x AS DOUBLE)) AS v${flag(false)}
        FROM (SELECT CAST(vec_id AS BIGINT) AS id, embedding AS v
              FROM embeddings)
        UNION ALL
        SELECT id + (SELECT max(CAST(vec_id AS BIGINT)) + 1
                     FROM embeddings) AS id,
               list(CAST(x AS DOUBLE) +
                    ((id*31 + (ord-1)*17) % 7 - 3) *
                    (0.02e0 + (id % 4) * 0.01e0) ORDER BY ord) AS v${flag(true)}
        FROM (SELECT id, unnest(v) AS x, generate_subscripts(v, 1) AS ord
              FROM (SELECT CAST(vec_id AS BIGINT) AS id, embedding AS v
                    FROM embeddings)
              WHERE id % 10 = 0)
        GROUP BY id"""
  }

  def oracleSql: Map[String, String] = Map(
    "q01_filter_project" ->
      """SELECT l_orderkey, l_quantity FROM lineitem
         WHERE l_quantity BETWEEN 10 AND 40 AND l_returnflag = 'N'""",

    "q02_hourly_agg" -> hourlyAggSql,

    "q03_gapfill" ->
      s"""WITH agg AS ($hourlyAggSql),
          bounds AS (SELECT min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM agg),
          spine AS (SELECT unnest(range(lo, hi + 3600, 3600)) AS bucket_ts FROM bounds)
          SELECT s.bucket_ts, a.avg_value, a.n
          FROM spine s LEFT JOIN agg a USING (bucket_ts)""",

    "q04_summary_stats" ->
      """SELECT user_id, count(value) AS n,
                CAST(round(CAST(avg(value) AS DECIMAL(18,6)),4) AS DOUBLE) AS avg_v,
                CAST(round(CAST(stddev_samp(value) AS DECIMAL(18,6)),4) AS DOUBLE) AS sd_v,
                min(value) AS min_v, max(value) AS max_v
         FROM events GROUP BY user_id""",

    "q05_dim_join_revenue" ->
      """SELECT n_name, round(sum(o_totalprice),2) AS revenue,
                count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",

    "q06_broadcast_calibrate" ->
      """SELECT p_brand,
                round(CAST(sum(CAST(p_retailprice*0.01 + 1.05*l_extendedprice
                  AS DECIMAL(18,6))) AS DOUBLE),2) AS cal_total,
                count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",

    "q07_asof_align" ->
      s"""WITH a AS (SELECT (${eSq("ts")})//900*900 AS bucket_ts,
                 CAST(round(CAST(avg(value) AS DECIMAL(18,6)),4) AS DOUBLE) AS avg_a, count(*) AS n_a
                 FROM events WHERE event_type = 'click' GROUP BY 1),
          b AS (SELECT (${eSq("ts")})//900*900 AS bucket_ts,
                 CAST(round(CAST(avg(value) AS DECIMAL(18,6)),4) AS DOUBLE) AS avg_b, count(*) AS n_b
                 FROM events WHERE event_type = 'purchase' GROUP BY 1)
          SELECT bucket_ts, avg_a, n_a, avg_b, n_b FROM a JOIN b USING (bucket_ts)""",

    "q08_latest_per_key" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) = 1""",

    "q09_run_length" ->
      s"""WITH t AS (SELECT user_id, event_type, ts,
            row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
          - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS grp
          FROM events)
          SELECT user_id, event_type, count(*) AS run_len,
                 ${eSq("min(ts)")} AS run_start
          FROM t GROUP BY user_id, event_type, grp HAVING count(*) >= 3""",

    "q10_backfill" ->
      """SELECT user_id, event_id,
                last_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END
                           IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         FROM events""",

    "q11_interval_estimate" ->
      """WITH dd AS (SELECT user_id,
            (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id))/1e6 AS diff_s
          FROM events)
         SELECT user_id,
                CAST(round(CAST(avg(diff_s) AS DECIMAL(28,12)),4) AS DOUBLE) AS mean_interval,
                CAST(round(CAST(avg(diff_s) + 2*stddev_samp(diff_s) AS DECIMAL(28,12)),4) AS DOUBLE) AS interval_2sig,
                count(*) AS n_diffs
         FROM dd WHERE diff_s BETWEEN 1 AND 86400 GROUP BY user_id""",

    "q12_sliding_windows" ->
      """SELECT user_id, (epoch_us(ts)//43200000000 - o) * 43200 AS win_start,
                count(*) AS n, round(sum(value),2) AS sum_v
         FROM events CROSS JOIN (SELECT unnest([0,1]) AS o)
         GROUP BY user_id, win_start""",

    "q13_mode_top1" ->
      """SELECT user_id, v, cnt FROM (
           SELECT user_id, CAST(floor(value) AS BIGINT) AS v, count(*) AS cnt
           FROM events GROUP BY user_id, v HAVING count(*) > 2)
         QUALIFY row_number() OVER (PARTITION BY user_id
                                    ORDER BY cnt DESC, v ASC) = 1""",

    "q14_dead_keys" ->
      s"""WITH ls AS (SELECT user_id, max(${eSq("ts")}) AS last_seen
          FROM events GROUP BY user_id)
          SELECT user_id, last_seen,
                 (SELECT max(last_seen) FROM ls) - last_seen AS gap_s
          FROM ls WHERE (SELECT max(last_seen) FROM ls) - last_seen > 3600""",

    "q15_dedup_keys" ->
      """SELECT user_id, event_type, event_id, value FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts ASC, event_id ASC) = 1""",

    "q16_union_distinct" ->
      """SELECT DISTINCT user_id, event_type FROM (
           SELECT user_id, event_type FROM events WHERE event_type = 'click'
           UNION ALL
           SELECT user_id, event_type FROM events WHERE event_type = 'purchase')""",

    "q17_pivot" ->
      """SELECT epoch_us(date_trunc('day', ts))//1000000 AS day_ts,
                round(sum(value) FILTER (WHERE event_type='click'),2) AS click,
                round(sum(value) FILTER (WHERE event_type='error'),2) AS error,
                round(sum(value) FILTER (WHERE event_type='purchase'),2) AS purchase,
                round(sum(value) FILTER (WHERE event_type='signup'),2) AS signup,
                round(sum(value) FILTER (WHERE event_type='view'),2) AS view
         FROM events GROUP BY 1""",

    "q18_melt" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS field, l_quantity AS val FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""",

    "q19_topn" ->
      """SELECT event_id, user_id, value FROM events
         ORDER BY value DESC, event_id ASC LIMIT 100""",

    "q20_geo_join" ->
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
                    *pow(sin(radians(b.lon-a.lon)/2),2)))/1000.0 <= 3000.0""",

    "q21_outer_diff" ->
      """WITH a AS (SELECT c_custkey, c_acctbal AS bal_a FROM customer
                    WHERE c_custkey % 3 != 0),
              b AS (SELECT c_custkey,
                      CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 5
                           ELSE c_acctbal END AS bal_b
                    FROM customer WHERE c_custkey % 5 != 0)
         SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey, bal_a, bal_b
         FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey
         WHERE bal_a IS DISTINCT FROM bal_b""",

    "q22_linear_fit" ->
      """WITH t AS (SELECT user_id, epoch_us(ts)/1e6 - 1704067200 AS x,
                           value AS y FROM events)
         SELECT user_id, count(*) AS n,
                round(covar_samp(x,y)/var_samp(x)*86400,4) AS slope,
                round(avg(y) - covar_samp(x,y)/var_samp(x)*avg(x),4) AS intercept,
                round(pow(corr(x,y),2),4) AS r2
         FROM t GROUP BY user_id""",

    "q23_zscore_outliers" ->
      """WITH s AS (SELECT user_id AS k, avg(value) AS mu,
                           stddev_samp(value) AS sigma
                    FROM events GROUP BY user_id)
         SELECT user_id, event_id, round((value-mu)/sigma,4) AS z
         FROM events JOIN s ON user_id = k
         WHERE abs((value-mu)/sigma) > 2.5""",

    "q24_scalar_functions" -> {
      // TRY_CAST: Spark's cast-to-int yields null on a non-numeric extract;
      // DuckDB's CAST would error instead (ADVICE r1) — TRY_CAST agrees.
      val rh = "least(greatest(TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS INT), 1), 99)::DOUBLE"
      val temp = "(value/10)"
      val lat1 = s"(52.0 + (user_id % 10)::DOUBLE * 0.5)"
      val lon1 = s"(4.0 + (user_id % 20)::DOUBLE * 0.5)"
      val hav = s"2*6371000*asin(sqrt(pow(sin(radians(52.37-$lat1)/2),2) + " +
        s"cos(radians($lat1))*cos(radians(52.37))*pow(sin(radians(4.89-$lon1)/2),2)))/1000.0"
      s"""SELECT event_id,
             round(${Calibration.dewPointSql(temp, rh)}, 4) AS dewp,
             round(${AirQuality.aqiPm25.sqlCase("value")}, 4) AS aqi,
             round(${AirQuality.lkiPm25.sqlCase("value")}, 4) AS lki,
             ${AirQuality.aqhiSql("value", "(value/2)", "(value/4)")} AS aqhi_v,
             round($hav, 4) AS dist_km
          FROM events"""
    },

    "q25_dedup_exact" ->
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text FROM documents)
         SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS text_md5,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM all_docs GROUP BY 1""",

    "q26_ngram_jaccard" -> {
      val sh = TextFunctions.shinglesSql("text", 3)
      // The df cap (shingles shared by >100 docs generate no candidates)
      // is part of the operator's 100 TB contract, so the oracle states
      // it too — engine/oracle equivalence is by construction, not
      // data-dependent (ADVICE r4: an uncapped all-pairs oracle would
      // diverge on a duplicate cluster larger than the cap). Candidates
      // then get exact Jaccard on the full shingle sets, like the engine.
      s"""WITH sh AS (SELECT doc_id AS id, unnest($sh) AS s FROM documents),
          dfc AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
          cand AS (SELECT DISTINCT a.id AS d1, b.id AS d2
                   FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
                   JOIN dfc ON dfc.s = a.s WHERE dfc.c <= 100),
          sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
          inter AS (SELECT c.d1, c.d2, count(*) AS n_inter FROM cand c
                    JOIN sh a ON a.id = c.d1 JOIN sh b ON b.id = c.d2 AND b.s = a.s
                    GROUP BY 1, 2),
          j AS (SELECT d1, d2,
                  round(n_inter / CAST(n1.n_sh + n2.n_sh - n_inter AS DOUBLE), 4) AS jac
                FROM inter JOIN sizes n1 ON n1.id = d1 JOIN sizes n2 ON n2.id = d2)
          SELECT d1, d2, jac FROM j WHERE jac >= 0.5"""
    },

    "q27_minhash_lsh" -> minhashPairsSql,

    "q28_simhash" -> {
      val tk = TextFunctions.tokensSql("text")
      s"""WITH tok AS (SELECT doc_id AS id, unnest($tk) AS t FROM documents),
          tc AS (SELECT id, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
          th AS (SELECT id, cnt, ${TextFunctions.hash60Sql("t")} AS h FROM tc),
          bits AS (SELECT id, b,
                     sum(CASE WHEN (h >> b) % 2 = 1 THEN cnt ELSE -cnt END) AS vote
                   FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) GROUP BY 1, 2),
          sig AS (SELECT id, CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << b)
                                           ELSE 0 END) AS BIGINT) AS simhash
                  FROM bits GROUP BY 1)
          SELECT a.id AS d1, b.id AS d2,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM sig a JOIN sig b ON a.id < b.id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""
    },

    "q29_knn_cosine" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_v FROM embeddings
                     WHERE vec_id < 32),
          scored AS (SELECT q_id, c.vec_id AS n_id,
                       ${Similarity.cosineSql("q_v", "c.embedding")} AS cos
                     FROM embeddings c CROSS JOIN q WHERE c.vec_id != q_id)
          SELECT q_id, rank, n_id, round(cos, 4) AS cos FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
          WHERE rank <= 5""",

    "q30_ann_lsh" ->
      s"""WITH pl AS (SELECT vec_id AS p, embedding AS p_v FROM embeddings
                      WHERE vec_id < 4),
          bk AS (SELECT e.vec_id AS id, e.embedding AS v,
                   CAST(sum(CASE WHEN ${Similarity.dotSql("e.embedding", "p_v")} >= 0
                            THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
                 FROM embeddings e CROSS JOIN pl GROUP BY 1, 2),
          q AS (SELECT id AS q_id, v AS q_v, bucket AS q_bucket FROM bk
                WHERE id < 32),
          scored AS (SELECT q_id, c.id AS n_id,
                       ${Similarity.cosineSql("q_v", "c.v")} AS cos
                     FROM bk c JOIN q ON q_bucket = c.bucket AND q_id != c.id)
          SELECT q_id, rank, n_id, round(cos, 4) AS cos FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
          WHERE rank <= 3""",

    "q31_lang_id" -> {
      val branches = TextFunctions.stopwords.keys.toSeq.sorted.map(l =>
        s"SELECT doc_id, '$l' AS l, ${TextFunctions.langScoreSql("text", l)} AS s FROM documents")
        .mkString(" UNION ALL ")
      s"""WITH sc AS ($branches)
          SELECT doc_id, l AS pred_lang, s AS score FROM sc
          QUALIFY row_number() OVER (PARTITION BY doc_id
                                     ORDER BY s DESC, l DESC) = 1"""
    },

    "q32_quality_score" ->
      s"""SELECT doc_id, ${TextFunctions.qualityScoreSql("text")} AS quality
          FROM documents""",

    "q33_token_stats" -> {
      val tk = TextFunctions.tokensSql("text")
      s"""SELECT doc_id, len($tk) AS n_ws,
                 ${TextFunctions.bpeishCountSql("text")} AS n_bpe,
                 length(text) AS n_chars_m,
                 round(length(array_to_string($tk, '')) / CAST(len($tk) AS DOUBLE), 4)
                   AS avg_tok_len
          FROM documents"""
    },

    "q34_fingerprint" -> {
      val sh = TextFunctions.shinglesSql("text", 3)
      s"""WITH sh AS (SELECT doc_id AS id, unnest($sh) AS s FROM documents),
          h AS (SELECT id, ${TextFunctions.hash60Sql("s")} AS h FROM sh)
          SELECT id, row_number() OVER (PARTITION BY id ORDER BY h ASC) AS fp_rank,
                 h AS fp_hash FROM h
          QUALIFY fp_rank <= 8"""
    },

    "q35_multimodal" ->
      """SELECT doc_id AS media_id, 'application/x-' || source AS mime,
                octet_length(encode(text)) AS n_bytes,
                CAST(list_sum(list_transform(range(1, length(text) + 1, 16),
                  i -> ascii(substr(text, CAST(i AS INT), 1)))) AS BIGINT)
                  AS sample_checksum,
                (octet_length(encode(text)) // 64) + 1 AS n_frames
         FROM documents""",

    "q36_stream_parity" -> hourlyAggSql,

    "q37_grubbs" ->
      (grubbsIterSql("user_id",
        """SELECT user_id, list_sort(list(value)) AS vals, count(*) AS n0
           FROM events GROUP BY user_id""") +
        """
        SELECT user_id, round(vals[1], 4) AS lo,
               round(vals[len(vals)], 4) AS hi,
               len(vals) AS n_kept, n0 - len(vals) AS n_removed
        FROM iter
        QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY len(vals)) = 1"""),

    "q38_lora_roundtrip" ->
      // trunc(): Scala's .toLong and the reference's int() truncate toward
      // zero; DuckDB CAST would round — trunc matches.
      """SELECT event_id,
                trunc(least(greatest(value, -3276.0), 3276.0) * 10 + 0.5) / 10
                  AS rt_temp,
                CAST(user_id % 101 AS DOUBLE) AS rt_rv,
                CAST(trunc((event_id % 1100) + 0.5) AS DOUBLE) AS rt_press
         FROM events""",

    "q39_borrow_neighbour" ->
      """WITH hourly AS (SELECT user_id,
              epoch_us(date_trunc('hour', ts))//1000000 AS hour_ts,
              CAST(round(CAST(avg(value) AS DECIMAL(18,6)),4) AS DOUBLE) AS v
              FROM events GROUP BY 1, 2),
          p AS (SELECT user_id, hour_ts,
              CASE WHEN (user_id + hour_ts/3600) % 5 = 0 THEN NULL ELSE v END AS v_self
              FROM hourly WHERE user_id < 50)
          SELECT p.user_id, p.hour_ts,
                 coalesce(p.v_self, n1.v, n2.v) AS filled,
                 CASE WHEN p.v_self IS NOT NULL THEN 'self'
                      WHEN n1.v IS NOT NULL THEN 'n1'
                      WHEN n2.v IS NOT NULL THEN 'n2' END AS src
          FROM p
          LEFT JOIN hourly n1 ON n1.user_id = p.user_id + 50 AND n1.hour_ts = p.hour_ts
          LEFT JOIN hourly n2 ON n2.user_id = p.user_id + 100 AND n2.hour_ts = p.hour_ts""",

    "q40_iqr_trimmed" ->
      """WITH q AS (SELECT user_id AS k,
              quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
              FROM events GROUP BY 1),
          j AS (SELECT user_id, value,
              q1 - (q3 - q1) * 1.5 - 1e-6 AS lo, q1 + (q3 - q1) * 1.5 + 1e-6 AS hi
              FROM events JOIN q ON user_id = k)
          SELECT user_id,
                 sum(CASE WHEN value BETWEEN lo AND hi THEN value END)
                   AS trimmed_sum,
                 count(CASE WHEN value BETWEEN lo AND hi THEN 1 END) AS n_kept,
                 count(*) AS n_total
          FROM j GROUP BY user_id""",

    "q41_kernel_smooth" -> {
      // Weights emitted from the SAME Scala doubles as the Spark plan —
      // a SQL-side exp() could differ in the last ulp.
      val weights = Seq(-2, -1, 0, 1, 2).map(i => i -> math.exp(-i * i / 2.0))
      def lagSql(i: Int) =
        if (i < 0) s"lead(value, ${-i}) OVER w"
        else if (i > 0) s"lag(value, $i) OVER w"
        else "value"
      val num = weights.map { case (i, wt) =>
        s"(CASE WHEN ${lagSql(i)} IS NOT NULL THEN ${lagSql(i)} * $wt ELSE 0.0 END)"
      }.mkString(" + ")
      val den = weights.map { case (i, wt) =>
        s"(CASE WHEN ${lagSql(i)} IS NOT NULL THEN $wt ELSE 0.0 END)"
      }.mkString(" + ")
      s"""SELECT user_id, event_id, ($num) / ($den) AS smoothed
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""
    },

    "q42_scalar_lib2" -> {
      val temp = "(value/10)"
      val rh = "CAST(user_id % 101 AS DOUBLE)"
      val pm = "(value/5)"
      // Horner order mirrors Calibration.taylor: ((0·x + a_n)·x + …) + a0
      val lin = s"((0.0 * $pm + 1.308) * $pm + -2.163)"
      val pmClamped = s"greatest(((0.0 * $pm + 0.5) * $pm + -20.0), 0.01)"
      val rhJ = s"least(greatest($rh/100, 0.0), 100.0)"
      val fJ = s"(3.9 * pow($rhJ, -0.409))"
      val rhC = s"least(greatest($rh, 1.0), 99.0)"
      s"""SELECT event_id,
             round($lin, 4) AS cal_lin,
             round($pmClamped, 4) AS cal_pm_clamped,
             round(CASE WHEN $fJ BETWEEN 0.0 AND 1.0 THEN $pm * $fJ END, 4) AS joost25,
             round($pm * 4.65 * pow(100.0 - $rhC, -0.65), 4) AS rivm_pm,
             round($pm * ((273.15 + $temp) / 12.187) * (1013.25/1013.25) / 46.0055, 4)
               AS no2_ppb,
             (value * 100) * 0.01 AS hpa,
             CASE WHEN epoch_us(ts)//1000000 <= 1515547638
                  THEN epoch_us(ts)//1000000 + 3600
                  ELSE epoch_us(ts)//1000000 END AS ts_repaired,
             lower(regexp_replace(regexp_replace(props, '\\s+', ' ', 'g'),
               'straat', 'str', 'g')) AS addr_norm,
             round(value, CASE WHEN event_type = 'click' THEN 1 ELSE 3 END)
               AS v_rounded
          FROM events"""
    },

    "q43_presence_census" ->
      """SELECT 'event_id' AS field, count(event_id) AS n_nonnull FROM events
         UNION ALL SELECT 'user_id', count(user_id) FROM events
         UNION ALL SELECT 'value', count(value) FROM events
         UNION ALL SELECT 'masked_props',
           count(CASE WHEN event_id % 3 = 0 THEN NULL ELSE props END) FROM events""",

    "q44_year_norm" ->
      """WITH o AS (SELECT year(o_orderdate) AS y, o_totalprice FROM orders),
          f AS (SELECT DISTINCT y, 1.0 + (y % 3) * 0.05 AS f FROM o)
          SELECT y, round(CAST(sum(CAST(o_totalprice * f AS DECIMAL(18,6)))
                   AS DOUBLE),2) AS norm_revenue,
                 count(*) AS n
          FROM o JOIN f USING (y) GROUP BY y""",

    "q45_repair_invalidate" ->
      """WITH t AS (SELECT event_id, user_id, ts,
              CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS pm,
              CAST(event_id % 3 AS INT) AS cnt FROM events)
         SELECT event_id,
                CASE WHEN user_id % 4 = 0 AND day(ts) BETWEEN 10 AND 12 THEN NULL
                     ELSE (pm IS NOT NULL AND pm > 0) END AS pm_valid,
                CASE WHEN pm IS NULL AND cnt > 0 THEN 0.013 ELSE pm END AS pm_repaired
         FROM t""",

    "q46_cosine_neardup" ->
      s"""WITH base AS (SELECT label, vec_id AS id, embedding AS v,
              ${Similarity.dotSql("embedding", "embedding")} AS n2
              FROM embeddings),
          p AS (SELECT a.id AS d1, b.id AS d2,
              ${Similarity.dotSql("a.v", "b.v")} / sqrt(a.n2 * b.n2) AS cos
              FROM base a JOIN base b ON a.label = b.label AND a.id < b.id)
          SELECT d1, d2, round(cos, 4) AS cos FROM p WHERE cos >= 0.3""",

    "q47_multi_ols" ->
      """WITH t AS (SELECT event_type,
              (epoch_us(ts)/1e6 - 1704067200) / 86400 AS x1,
              CAST(user_id % 101 AS DOUBLE) / 10 AS x2,
              value AS y FROM events),
          a AS (SELECT event_type, count(*) AS n,
              avg(y) AS my, avg(x1) AS m1, avg(x2) AS m2,
              var_samp(x1) AS s11, var_samp(x2) AS s22,
              covar_samp(x1, x2) AS s12,
              covar_samp(x1, y) AS sy1, covar_samp(x2, y) AS sy2,
              var_samp(y) AS syy
              FROM t GROUP BY event_type),
          b AS (SELECT *,
              (sy1*s22 - sy2*s12) / (s11*s22 - s12*s12) AS b1,
              (sy2*s11 - sy1*s12) / (s11*s22 - s12*s12) AS b2
              FROM a),
          c AS (SELECT *,
              (b1*sy1 + b2*sy2) / syy AS r2,
              s12*s12 / (s11*s22) AS r12sq
              FROM b),
          d AS (SELECT *,
              syy * (1.0 - r2) * (n - 1) / (n - 3) AS sigma2
              FROM c)
          SELECT event_type, n,
                 round(my - b1*m1 - b2*m2, 4) AS b0,
                 round(b1, 4) AS b1, round(b2, 4) AS b2,
                 round(r2, 4) AS r2,
                 round(b1 / sqrt(sigma2 / ((n-1) * s11 * (1.0 - r12sq))), 4) AS t1,
                 round(b2 / sqrt(sigma2 / ((n-1) * s22 * (1.0 - r12sq))), 4) AS t2
          FROM d""",

    "q48_salted_agg" ->
      // The oracle is deliberately UNSALTED — the salted two-stage plan
      // must be observationally identical to the direct group-by.
      """SELECT event_type AS k, round(sum(value), 2) AS sum_v,
                count(value) AS n
         FROM events GROUP BY event_type""",

    "q49_geohash_native" ->
      """SELECT s_suppkey,
                round((s_suppkey*7 % 120) - 60 + 0.25, 4) AS lat_rt,
                round((s_suppkey*13 % 360) - 180 + 0.5, 4) AS lon_rt
         FROM supplier""",

    "q50_archive_model" ->
      // identity: long→wide must reproduce the original wide projection
      """SELECT user_id, event_id, value/10 AS temp,
                CASE WHEN event_id % 13 = 0 THEN NULL
                     ELSE event_id % 7 != 0 END AS temp_valid,
                CAST(user_id % 101 AS DOUBLE) AS rv,
                true AS rv_valid
         FROM events""",

    "q51_aqi_combined" -> {
      val c25 = AirQuality.caqiPm25.sqlCase("(value/4)")
      val c10 = AirQuality.caqiPm10.sqlCase("(value/2)")
      val a25 = AirQuality.aqiPm25.sqlCase("(value/4)")
      val a10 = AirQuality.aqiPm10.sqlCase("(value/2)")
      s"""SELECT event_id,
             $c25 AS caqi_pm25, $c10 AS caqi_pm10,
             ${AirQuality.maxCaqiSql(Seq(c25, c10))} AS caqi_max,
             ${AirQuality.maxIndexSql(Seq(a25, a10))} AS aqi_max
          FROM events"""
    },

    "q52_normalize" ->
      """SELECT event_id,
                (value - min(value) OVER w) / (max(value) OVER w - min(value) OVER w)
                  AS mm,
                (value - avg(value) OVER w) / stddev_samp(value) OVER w AS z
         FROM events
         WINDOW w AS (PARTITION BY user_id)""",

    "q53_tolerance_align" ->
      """SELECT l.event_id AS l_id, epoch_us(l.ts) AS l_us, l.value AS l_v,
                CAST(round(CAST(avg(r.value) AS DECIMAL(18,6)),4) AS DOUBLE) AS avg_r, count(*) AS n_match
         FROM events l JOIN events r
           ON l.event_type = 'click' AND r.event_type = 'purchase'
          AND abs(epoch_us(l.ts) - epoch_us(r.ts)) <= 450000000
         GROUP BY 1, 2, 3""",

    "q54_banded_rule_align" ->
      """SELECT l.event_id AS l_id, epoch_us(l.ts) AS l_us, l.value AS l_v,
                CAST(round(CAST(avg(r.value) AS DECIMAL(18,6)),4) AS DOUBLE) AS avg_r, count(*) AS n_match
         FROM events l JOIN events r
           ON l.event_type = 'click' AND r.event_type = 'purchase'
          AND abs(epoch_us(l.ts) - epoch_us(r.ts)) <= 450000000
         GROUP BY 1, 2, 3""",

    "q55_dref_flatten" ->
      """SELECT event_id, 'BME280' AS sensor, 'temp' AS field, value/10 AS value FROM events
         UNION ALL SELECT event_id, 'BME280', 'rv', CAST(user_id % 101 AS DOUBLE) FROM events
         UNION ALL SELECT event_id, 'SDS011', 'pm25', value/4 FROM events
         UNION ALL SELECT event_id, 'SDS011', 'pm10', value/2 FROM events""",

    "q56_ann_ivf" ->
      s"""WITH base AS (SELECT vec_id AS id, embedding AS v,
              ${Similarity.dotSql("embedding", "embedding")} AS n2
              FROM embeddings),
          c AS (SELECT id AS c_id, v AS c_v, n2 AS cn2 FROM base WHERE id < 8),
          a AS (SELECT base.id, base.v, base.n2, c_id,
              (cn2 - 2.0 * ${Similarity.dotSql("base.v", "c_v")}) AS s
              FROM base CROSS JOIN c),
          cell AS (SELECT id, v, n2, c_id AS cell FROM a
              QUALIFY row_number() OVER (PARTITION BY id ORDER BY s, c_id) = 1),
          q AS (SELECT id AS q_id, v AS q_v, n2 AS q_n2, cell AS q_cell
              FROM cell WHERE id < 32),
          scored AS (SELECT q_id, c.id AS n_id,
              ${Similarity.dotSql("q_v", "c.v")} / sqrt(q_n2 * c.n2) AS cos
              FROM cell c JOIN q ON q_cell = c.cell AND q_id != c.id)
          SELECT q_id, rank, n_id, round(cos, 4) AS cos FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
          WHERE rank <= 3""",

    "q57_json_series" ->
      """SELECT user_id,
                to_json(list(
                  ARRAY[epoch_us(ts)//1000000, CAST(floor(value) AS BIGINT)]
                  ORDER BY epoch_us(ts)//1000000, CAST(floor(value) AS BIGINT)))
                  AS series_json
         FROM events GROUP BY user_id""",

    "q58_grubbs_sweep" ->
      // Half-overlapping epoch-aligned windows (width 7 d, stride 3.5 d):
      // every event lands in exactly the two windows starting at
      // (floor(epoch/stride) − k)·stride, k ∈ {0,1} — the same assignment
      // Spark's window(ts, w, w/2) makes (nested-floor property makes the
      // seconds-level floor equal the microsecond-level one).
      (grubbsIterSql("user_id, win_start",
        """SELECT user_id, win_start, list_sort(list(value)) AS vals,
                  count(*) AS n0
           FROM (SELECT user_id, value,
                   (epoch_us(ts)//1000000 // 302400 - k.k) * 302400
                     AS win_start
                 FROM events, (VALUES (0), (1)) k(k))
           GROUP BY user_id, win_start""") +
        """
        SELECT user_id, win_start, round(vals[1], 4) AS keep_lo,
               round(vals[len(vals)], 4) AS keep_hi
        FROM iter
        QUALIFY row_number() OVER (PARTITION BY user_id, win_start
                                   ORDER BY len(vals)) = 1"""),

    "q59_geo_neighbours" ->
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
                    *pow(sin(radians(b.lon-a.lon)/2),2))) <= 5000.0""",

    "q60_sensor_fields" -> {
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
    },

    "q61_polyfit" -> RegressionOps.polyFitSql(
      """SELECT event_type AS k,
                (epoch_us(ts)/1e6 - 1705363200) / 1296000.0 AS x,
                value AS y FROM events""", 3),

    "q62_geofence_segments" ->
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
          FROM f WHERE away GROUP BY user_id, grp""",

    "q63_community_pins" -> {
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
    },

    "q64_notice_throttle" ->
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
          SELECT kit, ts, message, sent FROM step""",

    // Expected decode output computed closed-form from the PNG generation
    // rule (Multimodal.syntheticPng): w = 8 + id%9, h = 8 + (id*7)%9,
    // gray(x,y) = (id + 3x + 5y) % 256; brightness = mean gray. The engine
    // instead round-trips real PNG bytes through javax.imageio.
    "q65_image_decode" ->
      """WITH m AS (SELECT doc_id,
                 8 + CAST(doc_id % 9 AS INT) AS w,
                 8 + CAST((doc_id * 7) % 9 AS INT) AS h
            FROM documents),
          px AS (SELECT doc_id, w, h,
                   CAST((doc_id + 3*x.i + 5*y.i) % 256 AS DOUBLE) AS v
                 FROM m, range(0, 16) x(i), range(0, 16) y(i)
                 WHERE x.i < w AND y.i < h)
          SELECT doc_id AS media_id, w AS width, h AS height,
                 CAST(round(CAST(sum(v) / count(*) AS DECIMAL(18,6)), 4)
                   AS DOUBLE) AS brightness
          FROM px GROUP BY 1, 2, 3""",

    "q66_ann_lsh_banded" ->
      s"""WITH pl AS (SELECT CAST(vec_id // 4 AS INT) AS band,
                        CAST(vec_id % 4 AS INT) AS p, embedding AS p_v
                      FROM embeddings WHERE vec_id < 16),
          bk AS (SELECT e.vec_id AS id, band,
                   CAST(sum(CASE WHEN ${Similarity.dotSql("e.embedding", "p_v")} >= 0
                            THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
                 FROM embeddings e CROSS JOIN pl GROUP BY 1, 2),
          q AS (SELECT id AS q_id, band AS q_band, bucket AS q_bucket FROM bk
                WHERE id < 32),
          cand AS (SELECT DISTINCT q_id, c.id AS n_id
                   FROM bk c JOIN q ON q_band = c.band AND q_bucket = c.bucket
                     AND q_id != c.id),
          scored AS (SELECT q_id, n_id,
                       ${Similarity.cosineSql("qe.embedding", "ne.embedding")} AS cos
                     FROM cand
                     JOIN embeddings qe ON qe.vec_id = q_id
                     JOIN embeddings ne ON ne.vec_id = n_id)
          SELECT q_id, rank, n_id, round(cos, 4) AS cos FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
          WHERE rank <= 3""",

    // Staged CTEs mirror Forecast.assemble stage by stage; every scalar is
    // rendered from the same PiecewiseTable / classify definitions as the
    // Spark plan (inverseSql / sqlCase / classifySql twins).
    "q67_forecast_series" ->
      s"""WITH hourly AS (
            SELECT user_id % 5 AS loc,
                   (epoch_us(ts)//1000000)//3600*3600 AS hr,
                   floor(CAST(round(CAST(avg(value) AS DECIMAL(18,6)),4)
                     AS DOUBLE)) AS aqi
            FROM events GROUP BY 1, 2),
          bounds AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hourly),
          spine AS (SELECT loc, hr
                    FROM (SELECT DISTINCT loc FROM hourly),
                         (SELECT unnest(range(lo, hi + 3600, 3600)) AS hr
                          FROM bounds)),
          filled AS (SELECT s.loc, s.hr, coalesce(h.aqi, 0) AS aqi
                     FROM spine s LEFT JOIN hourly h USING (loc, hr)),
          conv AS (SELECT loc, hr,
                     ${AirQuality.aqiPm25.inverseSql("aqi")} AS pm25
                   FROM filled),
          idx AS (SELECT loc, hr, pm25,
                    floor((${AirQuality.lkiPm25.sqlCase("pm25")}) * 10 + 0.5)
                      / 10.0 AS lki
                  FROM conv),
          cls AS (SELECT loc, hr, pm25, lki,
                    ${AirQuality.classifySql("lki",
                      AirQuality.lkiColorIndex, AirQuality.lkiColors)} AS color,
                    ${AirQuality.classifySql("lki",
                      AirQuality.lkiQualityIndex, AirQuality.lkiQuality)} AS qual
                  FROM idx)
          SELECT loc, min(hr) AS start_s, count(*) AS hours,
                 to_json(list(pm25 ORDER BY hr)) AS pm25_json,
                 to_json(list(lki ORDER BY hr)) AS lki_json,
                 to_json(list(color ORDER BY hr)) AS colors_json,
                 to_json(list(qual ORDER BY hr)) AS qual_json,
                 CAST(round(CAST(${Forecast.pm10ToPm25Sql("avg(pm25) * 2")}
                   AS DECIMAL(18,6)), 1) AS DOUBLE) AS pm25_from_pm10
          FROM cls GROUP BY loc""",

    // Expected decode output computed closed-form from the WAV generation
    // rule (Multimodal.syntheticWav): n = 64 + id%65, s(i) =
    // (id*31 + i*17) % 65536 - 32768, rate 8000. The engine instead
    // round-trips real RIFF/WAVE bytes through javax.sound.sampled.
    // Σs² stays integer (exact) until the final normalization.
    "q68_audio_decode" ->
      """WITH m AS (SELECT doc_id, 64 + CAST(doc_id % 65 AS INT) AS n
            FROM documents),
          s AS (SELECT doc_id, n,
                  ((doc_id * 31 + i.i * 17) % 65536) - 32768 AS v
                FROM m, range(0, 129) i(i) WHERE i.i < n)
          SELECT doc_id AS media_id, CAST(8000 AS INT) AS sample_rate,
                 CAST(n AS BIGINT) AS n_samples,
                 CAST(n AS DOUBLE) / 8000 AS duration_s,
                 CAST(round(CAST(sqrt(CAST(sum(v*v) AS DOUBLE)
                     / (CAST(n AS DOUBLE) * 32768.0 * 32768.0))
                   AS DECIMAL(18,6)), 4) AS DOUBLE) AS rms,
                 CAST(max(abs(v)) AS DOUBLE) / 32768 AS peak
          FROM s GROUP BY doc_id, n""",

    // The RRA grid (span_hours, pdp_per_row) mirrors RrdArchive
    // .referenceRras: pdp_per_row = (span_h + 785) // 785, W = 785 rows.
    "q69_rrd_retention" ->
      """WITH pdp AS (SELECT (epoch_us(ts)//1000000)//3600*3600 AS pdp_ts,
                 CAST(round(CAST(avg(value) AS DECIMAL(18,6)),4) AS DOUBLE)
                   AS pdp_v
            FROM events GROUP BY 1),
          mx AS (SELECT max(pdp_ts) AS max_ts FROM pdp),
          rra(span_h, ppr) AS (VALUES (24, 1), (168, 1), (720, 1),
            (8760, 12), (26280, 34), (52560, 67)),
          cdp AS (SELECT span_h, ppr,
                    (pdp_ts // (ppr*3600)) * (ppr*3600) AS row_ts,
                    CAST(round(CAST(avg(pdp_v) AS DECIMAL(18,6)),4) AS DOUBLE)
                      AS avg_v,
                    min(pdp_v) AS min_v, max(pdp_v) AS max_v,
                    count(*) AS n_pdp
                  FROM pdp, rra, mx
                  WHERE pdp_ts >= ((max_ts // (ppr*3600)) - 784) * (ppr*3600)
                  GROUP BY 1, 2, 3)
          SELECT span_h, cf, row_ts,
                 CASE WHEN n_pdp*2 >= ppr THEN v END AS value, n_pdp
          FROM (SELECT span_h, ppr, row_ts, 'AVERAGE' AS cf, avg_v AS v,
                       n_pdp FROM cdp
                UNION ALL SELECT span_h, ppr, row_ts, 'MIN', min_v, n_pdp
                          FROM cdp
                UNION ALL SELECT span_h, ppr, row_ts, 'MAX', max_v, n_pdp
                          FROM cdp)""",

    // Expected sampling output computed closed-form from the GIF
    // generation rule (Multimodal.syntheticGif): frames = 1 + id%7,
    // w = 8 + id%5, h = 8 + (id*3)%5, gray(f,x,y) = (id+11f+3x+5y)%256;
    // stride 2 samples frames 0,2,4,6. The engine instead round-trips
    // real animated-GIF bytes through the ImageIO reader.
    "q70_video_frames" ->
      """WITH m AS (SELECT doc_id, 1 + CAST(doc_id % 7 AS INT) AS n,
                 8 + CAST(doc_id % 5 AS INT) AS w,
                 8 + CAST((doc_id * 3) % 5 AS INT) AS h
            FROM documents),
          px AS (SELECT doc_id, n, w, h,
                   CAST((doc_id + 11*f.i + 3*x.i + 5*y.i) % 256 AS DOUBLE)
                     AS v
                 FROM m, range(0, 7) f(i), range(0, 13) x(i), range(0, 13) y(i)
                 WHERE f.i < n AND f.i % 2 = 0 AND x.i < w AND y.i < h)
          SELECT doc_id AS media_id, w AS width, h AS height, n AS n_frames,
                 CAST((n + 1) // 2 AS INT) AS sampled_frames,
                 CAST(round(CAST(sum(v) / count(*) AS DECIMAL(18,6)), 4)
                   AS DOUBLE) AS sampled_brightness
          FROM px GROUP BY 1, 2, 3, 4, 5""",

    // Frame list → sorted → the shared quartile/filter/mean rendering
    // (SensorBuffer.slidingAverageSql) — one definition, two engines.
    "q71_sensor_buffer" -> {
      val (_, nKept, avg) = SensorBuffer.slidingAverageSql("vals")
      s"""WITH f AS (SELECT user_id, event_id,
                 epoch_us(ts)//1000000 AS t,
                 list_sort(list_filter(list(value) OVER w,
                                       v -> v IS NOT NULL)) AS vals,
                 min(epoch_us(ts)//1000000) OVER w AS t0
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
          SELECT user_id, event_id,
                 CAST(t0 + t AS DOUBLE) / 2 AS mid_ts,
                 CAST(len(vals) AS INT) AS n_buf,
                 CAST($nKept AS INT) AS n_kept,
                 $avg AS buf_avg
          FROM f"""
    },

    // Transitive closure over the SHARED pair SQL: reach(n, m) saturates
    // each component (near-dup clusters are tiny, the closure is cheap),
    // min reachable id = the engine's hash-min fixpoint label.
    "q72_dup_clusters" ->
      s"""WITH RECURSIVE
          pairs AS ($minhashPairsSql),
          edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                    UNION SELECT d2, d1 FROM pairs),
          reach(n, m) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges)
            UNION
            SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m),
          comp AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n)
          SELECT n AS doc_id, cluster_id,
                 count(*) OVER (PARTITION BY cluster_id) AS n_docs,
                 (n = cluster_id) AS is_survivor
          FROM comp""",

    // Closed-form twin of the weather assembly (the engine path goes
    // through a real yr.no JSON encode→parse; the oracle computes the
    // same hourly variables directly).
    "q73_weather_series" ->
      """WITH hourly AS (
            SELECT user_id % 5 AS loc,
                   (epoch_us(ts)//1000000)//3600*3600 AS hr,
                   CAST(round(CAST(avg(value)/10 AS DECIMAL(18,6)),1)
                     AS DOUBLE) AS temp,
                   CAST(round(CAST(990.0 + avg(value)/20 AS DECIMAL(18,6)),1)
                     AS DOUBLE) AS pres,
                   CAST(round(CAST(least(avg(value)/5, 100.0)
                     AS DECIMAL(18,6)),1) AS DOUBLE) AS cloud
            FROM events GROUP BY 1, 2)
          SELECT loc, min(hr) AS start_s, count(*) AS hours,
                 to_json(list(temp ORDER BY hr)) AS temp_json,
                 to_json(list(pres ORDER BY hr)) AS pressure_json,
                 to_json(list(cloud ORDER BY hr)) AS cloud_json
          FROM hourly GROUP BY loc""",

    "q74_quality_filter" -> {
      val rs = CorpusFilter.rulesSql("text")
      val flags = rs.map { case (n, p) => s"$p AS r_$n" }.mkString(", ")
      val keep = rs.map { case (n, _) => s"r_$n" }.mkString(" AND ")
      val reasons = rs.map { case (n, _) =>
        s"CASE WHEN NOT r_$n THEN '$n' END" }.mkString("concat_ws(',', ", ", ", ")")
      s"""WITH f AS (SELECT doc_id, $flags FROM documents)
          SELECT doc_id, r_${rs.map(_._1).mkString(", r_")},
                 ($keep) AS keep, $reasons AS fail_reasons
          FROM f"""
    },

    "q75_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
          WHERE ${CorpusFilter.sampleStratifiedSql("doc_id", "lang",
            Map("en" -> 0.8, "de" -> 0.5, "es" -> 0.25), 0.1)}""",

    // Closed form of the envelope round trip: every output field is a
    // direct function of the events row the engine rendered into JSON.
    // Gateway scores reproduce GTWstrength = 10·snr + 0.2·rssi on the
    // same integral-double inputs, so the argmax and round(…, 2) agree
    // bit-for-bit across engines.
    "q76_ttn_envelope" ->
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
         FROM g""",

    // median/quantile_cont interpolate with the same lo+(hi−lo)·frac
    // formula as Spark's percentile, so both engines derive identical
    // med/MAD doubles from the same parquet values.
    "q77_mad_outliers" ->
      """WITH med AS (SELECT user_id AS k, median(value) AS med
                      FROM events GROUP BY 1),
          dev AS (SELECT user_id, event_id, value, abs(value - med) AS adev
                  FROM events JOIN med ON user_id = k),
          mad AS (SELECT user_id AS k2, median(adev) AS mad
                  FROM dev GROUP BY 1)
          SELECT user_id, event_id, value FROM dev JOIN mad ON user_id = k2
          WHERE adev / mad >= 3.5""",

    "q78_prefix_distance" ->
      s"""SELECT s_suppkey,
                 CAST(s_suppkey % 13 AS INT) AS prefix_len,
                 ${GeoFunctions.prefixDistanceSqlCase(
                   "least(s_suppkey % 13, 10)")} AS approx_m
          FROM supplier""",

    // The KitState transition function as a recursive CTE: all kits
    // advance in lockstep, one telegram per iteration, carrying
    // (interval estimate, throttle anchor, static run, home cell,
    // moved latch). Constants mirror replayKitState's defaults:
    // rate 3600, cap 1800, reset 14400 s, static threshold 3, prefix 6.
    // est1 (the capped running-mean interval) is inlined everywhere it
    // appears — the engine computes it once, but the arithmetic is
    // identical so the doubles agree bit-for-bit.
    "q79_kit_state" ->
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
         FROM step""",

    // The workbook round trip must reproduce the report frame exactly:
    // DECIMAL(18,2) sums are exact on both engines, and the OOXML number
    // cells round-trip doubles via shortest-repr text.
    "q80_xlsx_roundtrip" ->
      """SELECT n_name AS nation, count(*) AS n_cust,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1""",

    "q81_html_roundtrip" ->
      """SELECT s_suppkey,
                translate(n_name, '0123456789', 'abcdefghij') AS nation,
                s_acctbal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey""",

    // Same bucket/rounding contract as q02 (DECIMAL-stable round), plus
    // the gap spine: every hour in [from, to] per key present in the
    // window — gap rows carry NULL avg/n (the CSV's empty fields).
    "q82_csv_roundtrip" ->
      """WITH f AS (SELECT user_id % 50 AS k,
                           epoch_us(date_trunc('hour', ts))//1000000 AS bucket_ts,
                           value
                    FROM events
                    WHERE epoch_us(ts)//1000000 BETWEEN 1704067200 AND 1704240000),
              agg AS (SELECT k, bucket_ts,
                             CAST(round(CAST(avg(value) AS DECIMAL(18,6)),2) AS DOUBLE) AS avg_value,
                             count(*) AS n
                      FROM f GROUP BY 1, 2),
              spine AS (SELECT DISTINCT k FROM agg),
              grid AS (SELECT k, unnest(range(1704067200, 1704240001, 3600)) AS bucket_ts
                       FROM spine)
         SELECT k, bucket_ts, avg_value, n
         FROM grid LEFT JOIN agg USING (k, bucket_ts)""",

    // Closed form of the line-protocol telegram: the gate is stated as
    // its semantics (serial's last digit even ⇔ user_id even), tags are
    // escape-clean by construction, the quoted note field escapes the
    // props JSON's quotes, and numeric renderings agree via
    // shortest-repr casts on both engines.
    "q83_influx_lines" ->
      """SELECT event_id,
                concat('data,project=SAN,serial=d', CAST(user_id AS VARCHAR),
                       ',type=', event_type,
                       ' temp=', CAST(value AS VARCHAR),
                       ',cnt=', CAST(event_id % 997 AS VARCHAR),
                       ',note="', replace(replace(props, '\', '\\'), '"', '\"'),
                       '" ', CAST(epoch_us(ts)//1000000 AS VARCHAR)) AS line
         FROM events
         WHERE user_id % 2 = 0""",

    "q84_sync_statements" ->
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
         FROM diff""",

    // The transport stub's page payload in closed form — every row of
    // every (datastream, page) cell.
    "q85_paged_source" ->
      """SELECT ds AS datastream_id,
                CAST(1700000000 + (page * 40 + i) * 60 AS BIGINT) AS phenomenon_time,
                ((ds * 31 + page * 40 + i) % 1000) / 10.0 AS result,
                CAST(page AS INT) AS page
         FROM (VALUES (101), (102), (103)) d(ds),
              (SELECT unnest(range(3)) AS page),
              (SELECT unnest(range(40)) AS i)""",

    // The synonym map stated as a CASE over the lowered raw name;
    // unknown names pass through lowercased.
    "q86_field_translate" ->
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
         FROM r""",

    // The republish telegram in closed form: field order is the struct
    // order, nulls render as JSON null, doubles via shortest-repr casts.
    "q87_mqtt_republish" ->
      """SELECT event_id,
                concat('IoS/SAN/d', CAST(user_id AS VARCHAR)) AS topic,
                concat('{"metadata":{"project":"SAN","serial":"d',
                       CAST(user_id AS VARCHAR), '"},"data":{"temp":',
                       CAST(value AS VARCHAR), ',"rv":',
                       CASE WHEN event_id % 3 = 0 THEN 'null'
                            ELSE CAST(event_id % 100 AS VARCHAR) END,
                       '}}') AS telegram
         FROM events""",

    // Brute-force twin of the blocked nearest-place join: every moved kit
    // against every place, argmin by (dist, place_key), LEFT join keeps
    // out-of-range kits with NULL address columns.
    "q88_reverse_geocode" ->
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
         FROM moved m LEFT JOIN nearest n USING (s_suppkey)""",

    // Closed form of the ChartsPM regrid: bucket 0 = raw first reading,
    // bucket k≥1 = mean over [t0+(k-1)u, t0+ku), empty or sub-0.1 buckets
    // NULL, floor(m*10+0.4)/10 rounding on the 6-decimal-stable DECIMAL,
    // MINHOURS(12)+1 admission, spine out to each series' last bucket.
    "q89_chart_doc" ->
      """WITH base AS (
            SELECT CAST(user_id % 12 AS INT) AS st, event_type AS pol,
                   epoch_us(ts)//1000000 AS t, event_id AS o, value AS v
            FROM events
            WHERE event_type != 'error' OR event_id % 149 = 0),
          srs AS (
            SELECT *, row_number() OVER (PARTITION BY st, pol
                                         ORDER BY t, o) AS rn,
                   min(t) OVER (PARTITION BY st, pol) AS t0,
                   count(*) OVER (PARTITION BY st, pol) AS n
            FROM base),
          bk AS (
            SELECT st, pol, t0,
                   CASE WHEN rn = 1 THEN 0 ELSE (t - t0)//3600 + 1 END AS k,
                   avg(v) AS m, max(CASE WHEN rn = 1 THEN v END) AS raw
            FROM srs WHERE n >= 13 GROUP BY 1, 2, 3, 4),
          r AS (
            SELECT st, pol, t0, k,
                   CASE WHEN k = 0 THEN raw
                        WHEN CAST(m AS DECIMAL(18,6)) < 0.1 THEN NULL
                        ELSE CAST(floor(CAST(m AS DECIMAL(18,6))*10 + 0.4)
                                  AS DOUBLE)/10
                   END AS value
            FROM bk),
          spine AS (
            SELECT st, pol, t0, unnest(range(0, kmax + 1)) AS k
            FROM (SELECT st, pol, t0, max(k) AS kmax
                  FROM r GROUP BY 1, 2, 3))
         SELECT s.st, s.pol, s.k, s.t0 + s.k*3600 AS ts_s, r.value
         FROM spine s LEFT JOIN r USING (st, pol, t0, k)""",

    // Closed form of the Things2HTML map: per-sensor first/last, year
    // fan-out, the GetMarkerAttr cascade on the sorted comma-joined
    // lowered sensor set, and a no-measurements circle per station
    // missing a union sensor. e0 literals keep the location arithmetic
    // DOUBLE (decimal scale would render trailing zeros differently).
    "q90_map_doc" ->
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
         FROM (SELECT * FROM yr_rows UNION ALL SELECT * FROM circles)""",

    // Mirrors the banded-SRP candidate scheme exactly (q66 pattern), incl.
    // the bucket cap AND the r13 sketch-hamming prune (prn: candidate
    // pairs whose first-S band codes differ in more than hammingCut bits
    // never reach the exact verify — identical cut in both engines, see
    // Similarity.hammingCut).
    "q91_lsh_neardup_pairs" ->
      s"""WITH corpus AS (${plantedTwinCorpusSql()}),
          pl AS (SELECT CAST(id // 8 AS INT) AS band, CAST(id % 8 AS INT) AS p,
                        v AS p_v
                 FROM corpus WHERE id < 32),
          coded AS (SELECT c.id, band,
                      CAST(sum(CASE WHEN ${Similarity.dotSql("c.v", "p_v")} >= 0
                               THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
                    FROM corpus c CROSS JOIN pl GROUP BY 1, 2),
          ok AS (SELECT band, bucket FROM coded GROUP BY 1, 2
                 HAVING count(*) BETWEEN 2 AND 1000),
          cand AS (SELECT DISTINCT a.id AS d1, b.id AS d2
                   FROM coded a
                   JOIN ok USING (band, bucket)
                   JOIN coded b ON a.band = b.band AND a.bucket = b.bucket
                     AND a.id < b.id),
          prn AS (SELECT c.d1, c.d2
                  FROM cand c
                  JOIN coded ca ON ca.id = c.d1
                    AND ca.band < ${Similarity.sketchBands(8, 4)}
                  JOIN coded cb ON cb.id = c.d2 AND cb.band = ca.band
                  GROUP BY c.d1, c.d2
                  HAVING sum(bit_count(xor(ca.bucket, cb.bucket)))
                    <= ${Similarity.hammingCut(Similarity.sketchBands(8, 4) * 8, 0.9)}),
          scored AS (SELECT d1, d2,
                       ${Similarity.cosineSql("e1.v", "e2.v")} AS cos
                     FROM prn
                     JOIN corpus e1 ON e1.id = d1
                     JOIN corpus e2 ON e2.id = d2)
          SELECT d1, d2, round(cos, 4) AS cos FROM scored WHERE cos >= 0.9""",

    // q92: the stream-static join is stateless, so the oracle is the
    // plain batch join — equality proves the two-micro-batch replay
    // changed nothing.
    "q92_stream_enrich" ->
      """SELECT e.event_id, e.user_id % 100 AS kit_key,
                'p' || CAST(s.s_nationkey AS VARCHAR) AS project, e.value
         FROM events e
         JOIN supplier s ON (e.user_id % 100) = s.s_suppkey
         WHERE s.s_suppkey % 3 <> 0""",

    // q93: closed form of the port-3 meta event round trip + HasEvent
    // name table; events outside {13,14,15} drop.
    "q93_event_extract" ->
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
         FROM src WHERE en IN (13, 14, 15)""",

    // q94: the watermark state machine in closed form — W1 after the
    // even-id batch gates which odd rows are fresh; the late file drops
    // entirely; output only windows the terminal watermark (W2) passed.
    "q94_watermark_agg" ->
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
          FROM agg, w2 WHERE ws + INTERVAL 1 HOUR <= w2.wm""",

    // q95: the PQ pipeline in closed form — first-16 codebooks per
    // subspace, argmin encode (reduced distance, lowest-code ties), LUT
    // build, decimal-exact ADC sum, top-10 ascending.
    "q95_pq_adc" ->
      s"""WITH corpus AS (SELECT CAST(vec_id AS BIGINT) AS id,
                                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                          FROM embeddings),
          subs AS (SELECT CAST(range AS INT) AS sub FROM range(8)),
          slices AS (SELECT c.id, s.sub,
                            list_slice(c.v, s.sub*8 + 1, s.sub*8 + 8) AS sv
                     FROM corpus c, subs s),
          cb AS (SELECT sub, CAST(id AS INT) AS code, sv AS c_v,
                        ${Similarity.dotSql("sv", "sv")} AS cn2
                 FROM slices WHERE id < 16),
          encd AS (SELECT sl.id, sl.sub, cb.code,
                          (cb.cn2 - 2.0 * ${Similarity.dotSql("sl.sv", "cb.c_v")}) AS d
                   FROM slices sl JOIN cb USING (sub)),
          bestd AS (SELECT id, sub, min(d) AS md FROM encd GROUP BY 1, 2),
          codes AS (SELECT e.id, e.sub, min(e.code) AS code
                    FROM encd e JOIN bestd b
                      ON e.id = b.id AND e.sub = b.sub AND e.d = b.md
                    GROUP BY 1, 2),
          lut AS (SELECT sl.id AS q_id, sl.sub, cb.code,
                         CAST(${Similarity.dotSql("sl.sv", "sl.sv")} + cb.cn2 -
                              2.0 * ${Similarity.dotSql("sl.sv", "cb.c_v")}
                              AS DECIMAL(27,10)) AS pd
                  FROM slices sl JOIN cb USING (sub)
                  WHERE sl.id < 5),
          scored AS (SELECT l.q_id, c.id AS n_id,
                            CAST(sum(l.pd) AS DOUBLE) AS est
                     FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
                     WHERE c.id <> l.q_id GROUP BY 1, 2),
          ranked AS (SELECT q_id, n_id, est,
                            row_number() OVER (PARTITION BY q_id
                              ORDER BY est ASC, n_id ASC) AS rank
                     FROM scored)
          SELECT q_id, rank, n_id, round(est, 4) AS est
          FROM ranked WHERE rank <= 10""",

    // q96: q95's shortlist (rank ≤ 40) rejoined to the raw vectors for
    // the exact distance, re-ranked top-10.
    "q96_pq_rerank" ->
      s"""WITH corpus AS (SELECT CAST(vec_id AS BIGINT) AS id,
                                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                          FROM embeddings),
          subs AS (SELECT CAST(range AS INT) AS sub FROM range(8)),
          slices AS (SELECT c.id, s.sub,
                            list_slice(c.v, s.sub*8 + 1, s.sub*8 + 8) AS sv
                     FROM corpus c, subs s),
          cb AS (SELECT sub, CAST(id AS INT) AS code, sv AS c_v,
                        ${Similarity.dotSql("sv", "sv")} AS cn2
                 FROM slices WHERE id < 16),
          encd AS (SELECT sl.id, sl.sub, cb.code,
                          (cb.cn2 - 2.0 * ${Similarity.dotSql("sl.sv", "cb.c_v")}) AS d
                   FROM slices sl JOIN cb USING (sub)),
          bestd AS (SELECT id, sub, min(d) AS md FROM encd GROUP BY 1, 2),
          codes AS (SELECT e.id, e.sub, min(e.code) AS code
                    FROM encd e JOIN bestd b
                      ON e.id = b.id AND e.sub = b.sub AND e.d = b.md
                    GROUP BY 1, 2),
          lut AS (SELECT sl.id AS q_id, sl.sub, cb.code,
                         CAST(${Similarity.dotSql("sl.sv", "sl.sv")} + cb.cn2 -
                              2.0 * ${Similarity.dotSql("sl.sv", "cb.c_v")}
                              AS DECIMAL(27,10)) AS pd
                  FROM slices sl JOIN cb USING (sub)
                  WHERE sl.id < 5),
          adc AS (SELECT l.q_id, c.id AS n_id,
                         CAST(sum(l.pd) AS DOUBLE) AS est
                  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
                  WHERE c.id <> l.q_id GROUP BY 1, 2),
          short AS (SELECT q_id, n_id FROM (
                      SELECT q_id, n_id,
                             row_number() OVER (PARTITION BY q_id
                               ORDER BY est ASC, n_id ASC) AS rank
                      FROM adc) WHERE rank <= 40),
          n2s AS (SELECT id, ${Similarity.dotSql("v", "v")} AS n2 FROM corpus),
          rr AS (SELECT s.q_id, s.n_id,
                        (qn.n2 + cn.n2 - 2.0 * ${Similarity.dotSql("qc.v", "cc.v")}) AS d2
                 FROM short s
                 JOIN corpus qc ON qc.id = s.q_id
                 JOIN corpus cc ON cc.id = s.n_id
                 JOIN n2s qn ON qn.id = s.q_id
                 JOIN n2s cn ON cn.id = s.n_id),
          rranked AS (SELECT q_id, n_id, d2,
                             row_number() OVER (PARTITION BY q_id
                               ORDER BY d2 ASC, n_id ASC) AS rank
                      FROM rr)
          SELECT q_id, rank, n_id, round(d2, 4) AS d2
          FROM rranked WHERE rank <= 10""",

    // q97: the bounded-state dedup state machine in closed form — every
    // even row emits (batch 0, empty state); batch 1 (class-1 fresh)
    // drops entirely against still-present state (eviction is
    // end-of-batch, the measured finding in Replay's scaladoc) and its
    // cleanup evicts even keys with ts + delay < W1; a batch-2 row
    // (class-3/5/7, ts > W2) emits iff its partner was evicted or never
    // existed; batch 3 is entirely late. delay = 41 min; tie conditions
    // are guarded driver-side (replay fails loudly).
    "q97_stream_dedup" ->
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
          FROM outp""",

    // q98: the IVF-PQ pipeline in closed form — first-8 coarse argmin
    // assign (q56 pattern), element-wise double residuals, first-16
    // residual codebooks + argmin encode (q95 pattern), per-(query,
    // probed-cell) residual LUTs, decimal-exact ADC sums, top-10
    // ascending.
    "q98_ivfpq_adc" ->
      s"""WITH corpus AS (SELECT CAST(vec_id AS BIGINT) AS id, embedding AS v
                          FROM embeddings),
          cents AS (SELECT id AS c_id, v AS c_v,
                           ${Similarity.dotSql("v", "v")} AS c_n2
                    FROM corpus WHERE id < 8),
          asgn AS (SELECT c.id, c.v, ct.c_id AS cell, ct.c_v AS cell_v
                   FROM corpus c CROSS JOIN cents ct
                   QUALIFY row_number() OVER (PARTITION BY c.id ORDER BY
                     ct.c_n2 - 2.0 * ${Similarity.dotSql("c.v", "ct.c_v")},
                     ct.c_id) = 1),
          resid AS (SELECT id, cell,
                           list_transform(range(1, 65), i ->
                             CAST(v[i] AS DOUBLE) - CAST(cell_v[i] AS DOUBLE))
                             AS res
                    FROM asgn),
          subs AS (SELECT CAST(range AS INT) AS sub FROM range(8)),
          rslices AS (SELECT r.id, r.cell, s.sub,
                             list_slice(r.res, s.sub*8 + 1, s.sub*8 + 8) AS sv
                      FROM resid r, subs s),
          cb AS (SELECT sub, CAST(id AS INT) AS code, sv AS cb_v,
                        ${Similarity.dotSql("sv", "sv")} AS cn2
                 FROM rslices WHERE id < 16),
          encd AS (SELECT sl.id, sl.cell, sl.sub, cb.code,
                          (cb.cn2 - 2.0 * ${Similarity.dotSql("sl.sv", "cb.cb_v")}) AS d
                   FROM rslices sl JOIN cb USING (sub)),
          bestd AS (SELECT id, sub, min(d) AS md FROM encd GROUP BY 1, 2),
          codes AS (SELECT e.id, any_value(e.cell) AS cell, e.sub,
                           min(e.code) AS code
                    FROM encd e JOIN bestd b
                      ON e.id = b.id AND e.sub = b.sub AND e.d = b.md
                    GROUP BY e.id, e.sub),
          qprobe AS (SELECT q.id AS q_id, q.v AS q_v, ct.c_id AS q_cell,
                            ct.c_v AS probe_v
                     FROM corpus q CROSS JOIN cents ct
                     WHERE q.id < 5
                     QUALIFY row_number() OVER (PARTITION BY q.id ORDER BY
                       ct.c_n2 - 2.0 * ${Similarity.dotSql("q.v", "ct.c_v")},
                       ct.c_id) <= 2),
          qres AS (SELECT q_id, q_cell,
                          list_transform(range(1, 65), i ->
                            CAST(q_v[i] AS DOUBLE) - CAST(probe_v[i] AS DOUBLE))
                            AS res
                   FROM qprobe),
          qslices AS (SELECT r.q_id, r.q_cell, s.sub,
                             list_slice(r.res, s.sub*8 + 1, s.sub*8 + 8) AS sv
                      FROM qres r, subs s),
          lut AS (SELECT sl.q_id, sl.q_cell, sl.sub, cb.code,
                         CAST(${Similarity.dotSql("sl.sv", "sl.sv")} + cb.cn2 -
                              2.0 * ${Similarity.dotSql("sl.sv", "cb.cb_v")}
                              AS DECIMAL(27,10)) AS pd
                  FROM qslices sl JOIN cb USING (sub)),
          adc AS (SELECT l.q_id, c.id AS n_id,
                         CAST(sum(l.pd) AS DOUBLE) AS est
                  FROM codes c JOIN lut l
                    ON c.cell = l.q_cell AND c.sub = l.sub AND c.code = l.code
                  WHERE c.id <> l.q_id GROUP BY 1, 2)
          SELECT q_id, rank, n_id, round(est, 4) AS est FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY est ASC, n_id ASC) AS rank FROM adc)
          WHERE rank <= 10""",

    // q99: gaps-and-islands with the measured `diff > gap` break (an
    // exact-gap diff merges on both engines); session_end = last ts +
    // gap, the half-open window bound session_window reports. The break
    // scan runs over the DISTINCT (user, t) spine so duplicate
    // timestamps can't split a session on window-order nondeterminism
    // (equal ts always merge — diff 0 — so the spine loses nothing).
    "q99_session_windows" ->
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
          GROUP BY s.user_id, g.sid""",

    // q100: the monitor printf layout restated in SQL — rpad(substr(,91),92)
    // is %-92.91s, the CASE'd lpad is %4.d (no truncation of wider counts,
    // zero renders empty per the precision dot), iv//60 matches %d of the
    // float division (non-negative → floor).
    "q100_console_monitor" ->
      """WITH b AS (
           SELECT event_id, user_id,
                  strftime(ts, '%Y-%m-%d %H:%M') AS dt,
                  CASE WHEN event_id % 4 = 0 THEN ''
                       WHEN event_id % 4 = 1 THEN 'temp'
                       WHEN event_id % 4 = 2 THEN 'temp,rv'
                       ELSE 'pm10,pm25,rh0,temp,rv,pres,grain,aerosol,windspeed,winddir,luchtdruk'
                  END AS sensors,
                  CASE WHEN event_id % 5 = 0 THEN ' mobile'
                       WHEN event_id % 5 = 1 THEN ' invalid' ELSE '' END
                    || CASE WHEN event_id % 7 = 0 THEN ' geo ''u1hc230''' ELSE '' END
                    AS validity,
                  CASE WHEN event_id % 11 = 0 THEN ''
                       ELSE ' #gtws:' || lpad(CAST(event_id % 13 + 1 AS VARCHAR), 2, ' ')
                  END AS gtws,
                  CASE WHEN event_id % 19999 = 0 THEN ''
                       ELSE CAST(event_id % 19999 AS VARCHAR) END AS cnt,
                  event_id % 7200 AS iv
           FROM events),
          i AS (
           SELECT event_id, sensors, cnt, iv,
                  dt || ' TTN/kit' || CAST(user_id AS VARCHAR)
                     || ' (SAN_d' || CAST(user_id AS VARCHAR)
                     || CASE WHEN sensors = '' THEN ' meta/event info'
                             ELSE '[' || sensors || ']' END
                     || validity || ')' || gtws AS innr
           FROM b)
          SELECT event_id,
                 rpad(substr(innr, 1, 91), 92, ' ') || ' #'
                   || CASE WHEN length(cnt) >= 4 THEN cnt
                           ELSE lpad(cnt, 4, ' ') END
                   || CASE WHEN iv <= 3600
                           THEN ' at ' || CAST(iv // 60 AS VARCHAR) || 'm'
                                || CAST(iv % 60 AS VARCHAR) || 's'
                           ELSE '' END AS line,
                 CASE WHEN sensors = '' THEN 33 ELSE 21 END AS color
          FROM i""",

    // q101: gaps-and-islands (the q99 oracle shape) over the replay's
    // accepted row set. W1 = max(file-0 time) − 600 where file 0 holds
    // the evens plus the newest planted seed at a − 1700; fresh odds,
    // both anchor families, and the extenders join the union; hard-late
    // odds (≤ W1) and the far-future watermark-driver keys never emit.
    "q101_session_replay" ->
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
          GROUP BY acc.skey, g.sid""",

    // q102: q91's banded-SRP mirror with the knobs recomputed IN SQL
    // from the corpus count — the same formulas as
    // Similarity.lshPairKnobs (p = max(4, ceil(log2(n/8))), bands from
    // the SRP collision curve at cos 0.9 targeting recall 0.9), plus the
    // r13 sketch-prune knobs (hs: S = min(bands, max(1, 128 // p)) and
    // hammingCut — Similarity.sketchBands/hammingCut verbatim). Both
    // engines evaluate the same IEEE-double expressions; ceil() could
    // in principle flip on a last-ulp difference, but only when the
    // ratio sits exactly on an integer, which no testdata SF's count
    // approaches. Both sides drop any band bucket larger than 1000.
    "q102_lsh_neardup_auto" ->
      s"""WITH corpus AS (${plantedTwinCorpusSql()}),
          kp AS (SELECT GREATEST(4, CAST(ceil(
                          ln(GREATEST(1.0, count(*) / 8.0)) / ln(2)) AS INT))
                          AS p
                 FROM corpus),
          kb AS (SELECT p, GREATEST(2, CAST(ceil(
                          ln(1 - 0.9) /
                          ln(1 - pow(1 - acos(0.9) / pi(), p))) AS INT))
                          AS bands
                 FROM kp),
          hs AS (SELECT p, bands,
                        LEAST(bands, GREATEST(1, 128 // p)) AS s,
                        CAST(ceil(LEAST(bands, GREATEST(1, 128 // p)) * p
                               * (acos(0.9) / pi()) +
                             4 * sqrt(CAST(LEAST(bands,
                                 GREATEST(1, 128 // p)) * p AS DOUBLE)
                               * (acos(0.9) / pi())
                               * (1 - acos(0.9) / pi())))
                          AS INT) AS hmax
                 FROM kb),
          pl AS (SELECT CAST(id // (SELECT p FROM kp) AS INT) AS band,
                        CAST(id % (SELECT p FROM kp) AS INT) AS px,
                        v AS p_v
                 FROM corpus
                 WHERE id < (SELECT p FROM kp) * (SELECT bands FROM kb)),
          coded AS (SELECT c.id, band,
                      CAST(sum(CASE WHEN ${Similarity.dotSql("c.v", "p_v")} >= 0
                               THEN (1::BIGINT << px) ELSE 0 END) AS BIGINT) AS bucket
                    FROM corpus c CROSS JOIN pl GROUP BY 1, 2),
          ok AS (SELECT band, bucket FROM coded GROUP BY 1, 2
                 HAVING count(*) BETWEEN 2 AND 1000),
          cand AS (SELECT DISTINCT a.id AS d1, b.id AS d2
                   FROM coded a
                   JOIN ok USING (band, bucket)
                   JOIN coded b ON a.band = b.band AND a.bucket = b.bucket
                     AND a.id < b.id),
          prn AS (SELECT c.d1, c.d2
                  FROM cand c
                  JOIN coded ca ON ca.id = c.d1
                    AND ca.band < (SELECT s FROM hs)
                  JOIN coded cb ON cb.id = c.d2 AND cb.band = ca.band
                  GROUP BY c.d1, c.d2
                  HAVING sum(bit_count(xor(ca.bucket, cb.bucket)))
                    <= (SELECT hmax FROM hs)),
          scored AS (SELECT d1, d2,
                       ${Similarity.cosineSql("e1.v", "e2.v")} AS cos
                     FROM prn
                     JOIN corpus e1 ON e1.id = d1
                     JOIN corpus e2 ON e2.id = d2)
          SELECT d1, d2, round(cos, 4) AS cos FROM scored WHERE cos >= 0.9""",

    "q103_decontaminate" ->
      Decontaminate.overlapSql("doc_id", "text", "source = 'src19'", n = 4),

    "q104_pii_redact" -> {
      // the same doc_id-derived PII fixtures the Spark side appends
      val withPii =
        """(text ||
            (CASE WHEN doc_id % 3 = 0
             THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
             ELSE '' END) ||
            (CASE WHEN doc_id % 5 = 0
             THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
                  CAST(doc_id % 100 AS VARCHAR) || ' up'
             ELSE '' END) ||
            (CASE WHEN doc_id % 7 = 0
             THEN ' call +31-555-' || CAST(doc_id % 10000 AS VARCHAR) || ' today'
             ELSE '' END) ||
            (CASE WHEN doc_id % 11 = 0
             THEN ' fax 555-12' || CAST(doc_id % 100 AS VARCHAR) || '-4567 now'
             ELSE '' END) ||
            (CASE WHEN doc_id % 13 = 0
             THEN ' desk (020) 1234 ' || CAST(doc_id % 9000 + 1000 AS VARCHAR) || ' ext'
             ELSE '' END) ||
            (CASE WHEN doc_id % 17 = 0
             THEN ' build 20.300.' || CAST(doc_id % 9000 + 1000 AS VARCHAR) || ' and @@ ok'
             ELSE '' END))"""
      val cnts = PiiFunctions.countsSql(withPii)
        .map { case (alias, e) => s"$e AS $alias" }.mkString(", ")
      s"""SELECT doc_id, $cnts,
                 md5(${PiiFunctions.redactSql(withPii)}) AS redacted_md5
          FROM documents"""
    },

    "q105_seq_pack" ->
      SeqPack.packSql("doc_id", "text", seqLen = 256, nShards = 8),

    "q106_repetition" ->
      CorpusFilter.repetitionProfileSql("doc_id", "text"),

    "q107_lang_mix" ->
      CorpusFilter.mixToTargetSql("doc_id", "lang", MixTargets),

    "q108_bpe_merges" ->
      TokenizerOps.topMergePairsSql("text", k = 50),

    "q109_embed_decon" ->
      Decontaminate.embedOverlapSql("vec_id", "embedding", "label = 9",
        threshold = 0.3),

    "q110_bpe_train" ->
      TokenizerOps.trainMergesSql("text", k = 8),

    "q111_embed_decon_lsh" ->
      Decontaminate.embedOverlapLshSql("id", "v", "is_bench",
        threshold = 0.9, sourceSql = plantedTwinCorpusSql(isBench = true)),

    "q112_dsir_sample" ->
      CorpusFilter.dsirWeightsSql("doc_id", "text", "source = 'src19'",
        buckets = 256, alpha = 0.1),

    "q113_semdedup" ->
      Dedup.semDedupSql("id", "v", threshold = 0.9,
        sourceSql = plantedTwinCorpusSql())
  )
}
