package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** HighCharts chart-document emission — the reference's per-region graphs
  * page (`visualisation/ChartsPM.pl`). The Perl walks one DB cursor per
  * station×pollutant, regrids rows to fixed intervals (`Array2Units`
  * :553-615), serializes each series as JS vars (`var CjdataI = [...]`,
  * :1659-1669) and splices them into a Highcharts config
  * (`InsertHighChartGraph`/`ChartSerie` :970-1238). Semantics kept
  * bit-for-bit where they are data (the part an oracle can check):
  *
  *  - the grid starts at the series' FIRST measurement, not on the hour:
  *    values[0] is that first reading raw; bucket k≥1 averages readings in
  *    [t0+(k-1)·u, t0+k·u) after it (ChartsPM.pl:581-601);
  *  - empty buckets render the JS literal `null` (:587-588);
  *  - a bucket mean below 0.1 renders `null` too (:597-598 `$sum < 0.1`);
  *  - means round to one decimal via the Perl's `int($sum*10+0.4)/10.0`
  *    (:600) — floor after a +0.4 offset, NOT half-up; replicated on a
  *    6-decimal-stable DECIMAL so both engines floor the same value;
  *  - series with fewer than MINHOURS(12)+1 readings are dropped
  *    (:636 `$#{$data} < MINHOURS*(60*60/$secs)`);
  *  - `var CjstartI = t0*1000 + (shift*1000)`, `var CjunitI = u*1000`,
  *    `var CjtitleI = 'pol (label)'` exactly as :1659-1669.
  *
  * Spark-first shape: the regrid is ONE window pass (row_number + per-
  * series min/count share the (station, pol) exchange; the bucket groupBy
  * clusters on a superset of those keys so Catalyst plans no second
  * shuffle) and the array assembly is map_from_entries + a sequence()
  * spine — all codegen'd Column algebra. Only the final document splice
  * collects, bounded by stations×pollutants (a report artifact, same
  * contract as XlsxWriter). The rendering stays lossless: parseSeries
  * reads the emitted vars back distributively, so render→parse is an
  * oracle-checkable round trip (q89).
  */
object ChartDoc {

  val MinHours = 12
  val UnitS = 3600L

  /** Per-series JS payloads: one row per surviving (station, pol) with
    * `series_idx` (stable per-station index by pol name), `start_s`,
    * `data_js` (the bracketed value array) and `title`. Distributed end
    * to end; `label` names the kit in the title like the Perl's table id. */
  def seriesBlocks(events: DataFrame, station: Column, pol: Column,
                   tsS: Column, order: Column, value: Column,
                   minCount: Int = MinHours + 1): DataFrame = {
    val base = events.select(station.as("st"), pol.as("pol"),
      tsS.as("t"), order.as("o"), value.as("v"))
    // r14 prototyped, MEASURED at two scales, REJECTED (guide §1.1):
    // computing the per-series stats (first reading, min(t), count) via
    // an aggregate + broadcast join — so event rows are never exchanged
    // or sorted and the heavy stage is not capped at the series
    // cardinality — ran FLAT at sf0.1 (2.46 vs 2.38 s min-of-3,
    // DiagChart interleaved A/B, outputs asserted identical) and 2.7×
    // SLOWER at sf1 (1.09 → 2.96 s against a ~1.05 tide): the form
    // needs TWO full scans (broadcast build + probe) and through sf1
    // the single scan + one exchange + sort below stays cheaper —
    // sorting n rows by (t, o) within 60 series partitions is simply
    // fast relative to a second parquet scan. The window form stays;
    // the rejected form's plans are kept in plans/r14/q89_* for the day
    // a deploy's series count or row volume moves the crossover.
    val series = Window.partitionBy(col("st"), col("pol"))
    val rows = base
      .withColumn("rn", row_number().over(series.orderBy(col("t"), col("o"))))
      .withColumn("t0", min(col("t")).over(series))
      .withColumn("n", count(lit(1)).over(series))
      .where(col("n") >= minCount)
      // bucket 0 = the raw first reading; bucket k≥1 = [t0+(k-1)u, t0+ku)
      .withColumn("k", when(col("rn") === 1, lit(0L))
        .otherwise(floor((col("t") - col("t0")) / lit(UnitS)) + 1))
    val buckets = rows.groupBy(col("st"), col("pol"), col("t0"), col("k"))
      .agg(avg(col("v")).as("m"),
        max(when(col("rn") === 1, col("v"))).as("raw"))
      .withColumn("mdec", col("m").cast("decimal(18,6)"))
      .withColumn("val_js",
        when(col("k") === 0, col("raw").cast("string"))
          .when(col("mdec") < 0.1, lit("null"))
          .otherwise((floor(col("mdec") * 10 + lit(BigDecimal("0.4")))
            .cast("double") / 10).cast("string")))
    val blocks = buckets.groupBy(col("st"), col("pol"), col("t0"))
      .agg(map_from_entries(collect_list(struct(col("k"), col("val_js"))))
        .as("mp"), max(col("k")).as("kmax"))
      .withColumn("data_js", concat(lit("["),
        array_join(transform(sequence(lit(0L), col("kmax")),
          k => coalesce(element_at(col("mp"), k), lit("null"))), ","),
        lit("]")))
    blocks
      .withColumn("series_idx", row_number().over(
        Window.partitionBy(col("st")).orderBy(col("pol"))) - 1)
      .select(col("st"), col("series_idx"), col("pol"),
        col("t0").as("start_s"), lit(UnitS).as("unit_s"),
        concat(col("pol"), lit(" (S"), col("st"), lit(")")).as("title"),
        col("data_js"))
  }

  /** Splice the blocks into one HighCharts document: per chart `Cj` a
    * container div, the JS data vars, and the chart config whose series
    * entries reference them (ChartsPM.pl ChartSerie :1211-1228). Driver-
    * side and bounded by the block count — a report artifact. */
  def document(blocks: DataFrame, timeShiftS: Long = 0L): String = {
    val rows = blocks.select(col("st"), col("series_idx"), col("start_s"),
        col("unit_s"), col("title"), col("data_js"))
      .collect() // bounded: one row per station×pollutant series
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
      .sortBy { case (st, i, _, _, _, _) => (st, i) }
    val sb = new StringBuilder
    sb.append("<html><head><script src=\"highcharts.js\"></script></head><body>\n")
    rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (st, ss) =>
      val id = s"C$st"
      sb.append(s"<div id=\"$id\"></div>\n<script>\n")
      ss.sortBy(_._2).foreach { case (_, i, start, unit, title, data) =>
        sb.append(s"var $id" + s"start$i = $start*1000 + ($timeShiftS*1000);\n")
        sb.append(s"var $id" + s"unit$i = $unit*1000;\n")
        sb.append(s"var $id" + s"data$i = $data;\n")
        sb.append(s"var $id" + s"title$i = '$title';\n")
      }
      val series = ss.sortBy(_._2).map { case (_, i, _, _, _, _) =>
        s"""            { type: 'spline',
           |              pointStart: ${id}start$i, pointInterval: ${id}unit$i,
           |              name: ${id}title$i,
           |              data: ${id}data$i,
           |              lineWidth: 2, visible: true, zIndex: 2,
           |              pointPlacement: 'between', marker:{ radius: 1 }
           |            }""".stripMargin
      }.mkString(",\n")
      sb.append(s"$$('#$id').highcharts({\n")
      sb.append("        chart: { type: 'spline' },\n")
      sb.append("        xAxis: { type: 'datetime', crosshair: { dashStyle: 'dot' } },\n")
      sb.append("        credits: { enabled: false },\n")
      sb.append("        series: [\n").append(series).append("\n        ]\n")
      sb.append("});\n</script>\n")
    }
    sb.append("</body></html>\n")
    sb.toString
  }

  private val VarRe = "^var C(\\d+)(start|unit|data|title)(\\d+) = (.+);$"

  /** Distributed parse-back of an emitted document: one row per series
    * grid slot `(st, pol, k, ts_s, value)` — gap and below-0.1 buckets
    * come back as NULL values, exactly what the chart plots. */
  def parseSeries(spark: SparkSession, path: String): DataFrame = {
    val vars = spark.read.text(path)
      .select(regexp_extract(col("value"), VarRe, 1).cast("int").as("st"),
        regexp_extract(col("value"), VarRe, 2).as("kind"),
        regexp_extract(col("value"), VarRe, 3).cast("int").as("i"),
        regexp_extract(col("value"), VarRe, 4).as("payload"))
      .where(col("kind") =!= "")
    val bySeries = vars.groupBy(col("st"), col("i"))
      .agg(
        max(when(col("kind") === "start", regexp_extract(col("payload"),
          "^(\\d+)\\*1000", 1).cast("long"))).as("start_s"),
        max(when(col("kind") === "unit", regexp_extract(col("payload"),
          "^(\\d+)\\*1000", 1).cast("long"))).as("unit_s"),
        max(when(col("kind") === "title", regexp_extract(col("payload"),
          "^'(.+) \\(S\\d+\\)'$", 1))).as("pol"),
        max(when(col("kind") === "data", col("payload"))).as("data"))
    bySeries
      .select(col("st"), col("pol"), col("start_s"), col("unit_s"),
        posexplode(split(regexp_replace(col("data"), "^\\[|\\]$", ""), ",")))
      .select(col("st"), col("pol"), col("pos").cast("long").as("k"),
        (col("start_s") + col("pos") * col("unit_s")).as("ts_s"),
        when(col("col") === "null", lit(null).cast("double"))
          .otherwise(col("col").cast("double")).as("value"))
  }
}
