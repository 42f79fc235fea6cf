package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Training-corpus admission control: rule-attributed quality filtering
  * and deterministic stratified sampling — the two steps between "scored"
  * (q31-q33) and "training set".
  *
  * Quality RULES (the C4/Gopher-style recipe, same signals as
  * [[TextFunctions.qualityScore]] but as hard gates): a production
  * pipeline must report WHICH rule dropped a document (rule attribution
  * drives threshold tuning and corpus audits), not just a composite
  * score. Every rule is a pure Column predicate over integer-derived
  * doubles — both engines compute bit-identical values, so the
  * pass/fail booleans are oracle-exact without rounding guards.
  *
  * Stratified SAMPLING: `pmod(hash32(stratum:id), 1e6) < frac·1e6` —
  * decision is a pure function of (stratum, id), so the sample is
  * exactly reproducible across runs/clusters/engines, needs no shuffle,
  * no state, and composes with any upstream filter. This (not `rand()`)
  * is how a 100 TB pipeline samples: re-runs and backfills pick the
  * SAME documents.
  */
object CorpusFilter {

  /** Gate-only thresholds; the length/mean-length bounds are
    * [[TextFunctions]]' shared quality constants — the SAME values the
    * soft qualityScore weighs, as hard gates. */
  private val MinAlpha = 0.6
  private val MinStop = 0.08

  /** (rule name, pass predicate) in report order. Signal expressions are
    * TextFunctions' shared definitions (meanTokenLen/alphaRatio) — one
    * rendering for score and gate, both engines. */
  def rules(text: Column): Seq[(String, Column)] = {
    import TextFunctions._
    val tk = tokens(text)
    Seq(
      "len" -> size(tk).cast("double").between(QualityMinTok, QualityMaxTok),
      "mean_token_len" ->
        meanTokenLen(tk).between(QualityMeanLenLo, QualityMeanLenHi),
      "alpha_ratio" -> (alphaRatio(text) >= MinAlpha),
      "stopwords" -> (langScore(text, "en") >= MinStop))
  }

  /** SQL twins of [[rules]], same names and order. */
  def rulesSql(e: String): Seq[(String, String)] = {
    import TextFunctions._
    val tk = tokensSql(e)
    Seq(
      "len" ->
        s"(CAST(len($tk) AS DOUBLE) BETWEEN $QualityMinTok AND $QualityMaxTok)",
      "mean_token_len" ->
        s"(${meanTokenLenSql(tk)} BETWEEN $QualityMeanLenLo AND $QualityMeanLenHi)",
      "alpha_ratio" -> s"(${alphaRatioSql(e)} >= $MinAlpha)",
      "stopwords" -> s"(${langScoreSql(e, "en")} >= $MinStop)")
  }

  /** Per-document verdicts: one boolean column per rule, the combined
    * `keep`, and `fail_reasons` (comma-joined names of failed rules —
    * empty string for kept docs), the audit column a filtering report
    * aggregates. */
  def withAttribution(df: DataFrame, id: Column, text: Column): DataFrame = {
    val rs = rules(text)
    df.select(id.as("doc_id") +: rs.map { case (n, p) => p.as(s"r_$n") }: _*)
      .withColumn("keep", rs.map(r => col(s"r_${r._1}")).reduce(_ && _))
      .withColumn("fail_reasons", concat_ws(",",
        rs.map { case (n, _) => when(!col(s"r_$n"), lit(n)) }: _*))
  }

  /** The integer keep-threshold in millionths, computed ONCE in Scala
    * and inlined as a literal into both the Column predicate and the SQL
    * twin. Computing `floor(frac·1e6)` inside each engine is NOT
    * engine-stable: Spark floors the binary double while DuckDB parses
    * the rendered fraction as an exact DECIMAL and multiplies exactly —
    * ~1.2% of millionth-resolution fractions land one bucket apart
    * (e.g. 0.001001). One driver-side floor, two identical literals. */
  private def thresholdMillionths(f: Double): Long = {
    require(f >= 0 && f <= 1, s"fraction out of [0,1]: $f")
    math.floor(f * 1000000L).toLong
  }

  /** Deterministic per-stratum hash sampling. `fractions` maps stratum
    * values to keep-fractions (millionths resolution); missing strata
    * use `defaultFraction`. Kept ⟺
    * `pmod(hash32(stratum || ':' || id), 1e6) < floor(frac·1e6)` — no
    * RNG, no shuffle, reproducible anywhere the hash is. */
  def sampleStratified(df: DataFrame, id: Column, stratum: Column,
                       fractions: Map[String, Double],
                       defaultFraction: Double): DataFrame = {
    val thr = fractions.foldRight(lit(thresholdMillionths(defaultFraction))) {
      case ((s, f), els) =>
        when(stratum === s, lit(thresholdMillionths(f))).otherwise(els)
    }
    val bucket = pmod(
      TextFunctions.hash32(concat(stratum, lit(":"), id.cast("string"))),
      lit(1000000L))
    df.where(bucket < thr)
  }

  /** SQL twin of [[sampleStratified]]'s predicate — same pre-floored
    * integer thresholds. */
  def sampleStratifiedSql(idE: String, stratumE: String,
                          fractions: Map[String, Double],
                          defaultFraction: Double): String = {
    val thr = fractions.foldRight(thresholdMillionths(defaultFraction).toString) {
      case ((s, f), els) =>
        s"CASE WHEN $stratumE = '$s' THEN ${thresholdMillionths(f)} ELSE $els END"
    }
    val h = TextFunctions.hash32Sql(s"($stratumE || ':' || CAST($idE AS VARCHAR))")
    // hash32 is in [0, 2^32) — plain % equals pmod for non-negative input
    s"(($h % 1000000) < ($thr))"
  }

  // --------------------------------------------- importance resampling

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): weight every
    * training document by how much more likely its tokens are under a
    * TARGET domain (here: a held-out partition of the corpus) than
    * under the raw source distribution, using hashed unigram counts —
    * the standard recipe for steering a pretraining mix toward a
    * domain without a trained classifier.
    *
    * Per hashed bucket `b`: lr[b] = ln(ct[b]+α) − ln(cs[b]+α) over the
    * target/source token streams; per document:
    * `logw = Σ_tokens lr[bucket] + n_tok·(ln(Ns+αB) − ln(Nt+αB))`
    * (the additive-smoothing normalizers). `kept` admits documents
    * whose ROUNDED logw exceeds `keepThreshold` (> 0 ⇔ "more
    * target-like than source-like"); rounding first keeps the
    * admission decision inside the gate's 4-decimal float-parity
    * contract. Deterministic end-to-end — no RNG, no trained state.
    *
    * Scale shape: the bucket stats are one tiny aggregate (≤ `buckets`
    * rows, broadcast back), the normalizers a 1-row broadcast, and the
    * per-document sum ONE map-side-combined aggregate keyed by doc id
    * (exploded tokens stay row-local, so partials arrive ~1 row per
    * doc) — the q103 shape. The corpus is scanned twice (stats, score);
    * at 100 TB the stats pass can run on a sample without changing the
    * plan. */
  def dsirWeights(df: DataFrame, id: Column, text: Column,
                  isTarget: Column, buckets: Int = 4096,
                  alpha: Double = 0.5,
                  keepThreshold: Double = 0.0): DataFrame = {
    require(buckets > 0 && alpha > 0, s"buckets=$buckets alpha=$alpha")
    val toks = df.select(id.as("doc_id"), isTarget.as("is_t"),
        explode(TextFunctions.tokens(text)).as("tok"))
      .withColumn("b",
        pmod(TextFunctions.hash32(col("tok")), lit(buckets.toLong)))
    val lr = toks.groupBy(col("b")).agg(
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("is_t"), 1L).otherwise(0L)).as("cs"))
      .select(col("b"), (log(col("ct") + alpha) - log(col("cs") + alpha))
        .as("lr"))
    val c0 = toks.agg(
        sum(when(col("is_t"), 1L).otherwise(0L)).as("nt"),
        sum(when(!col("is_t"), 1L).otherwise(0L)).as("ns"))
      .select((log(col("ns") + alpha * buckets) -
        log(col("nt") + alpha * buckets)).as("c0"))
    val logw = round(col("s") + col("n_tok") * col("c0"), 4)
    toks.where(!col("is_t"))
      .join(broadcast(lr), Seq("b"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(coalesce(col("lr"), lit(0.0))).as("s"))
      .crossJoin(broadcast(c0))
      .select(col("doc_id"), col("n_tok"), logw.as("logw"),
        (logw > keepThreshold).as("kept"))
  }

  /** SQL twin of [[dsirWeights]] — same hash buckets, same smoothing,
    * same rounded-threshold admission. */
  def dsirWeightsSql(idE: String, textE: String, targetPred: String,
                     buckets: Int = 4096, alpha: Double = 0.5,
                     keepThreshold: Double = 0.0): String = {
    val h = TextFunctions.hash32Sql("tok")
    s"""WITH tk AS (SELECT $idE AS doc_id, ($targetPred) AS is_t,
                           unnest(${TextFunctions.tokensSql(textE)}) AS tok
                    FROM documents),
        toks AS (SELECT doc_id, is_t, ($h % $buckets) AS b FROM tk),
        lr AS (SELECT b,
                 ln(sum(CASE WHEN is_t THEN 1 ELSE 0 END) + $alpha) -
                 ln(sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END) + $alpha) AS lr
               FROM toks GROUP BY 1),
        c0 AS (SELECT
                 ln(sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END)
                    + $alpha * $buckets) -
                 ln(sum(CASE WHEN is_t THEN 1 ELSE 0 END)
                    + $alpha * $buckets) AS c0
               FROM toks),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                       sum(coalesce(lr, 0)) AS s
                FROM toks LEFT JOIN lr USING (b)
                WHERE NOT is_t GROUP BY 1)
        SELECT doc_id, n_tok, round(s + n_tok * c0, 4) AS logw,
               (round(s + n_tok * c0, 4) > $keepThreshold) AS kept
        FROM agg CROSS JOIN c0"""
  }

  // ------------------------------------------------- repetition profile

  /** Gopher-style within-document repetition signals: the fraction of
    * duplicate tokens (`1 − distinct/total`) and the share of the most
    * frequent word bigram — the two cheap detectors for boilerplate /
    * degenerate-generation text that slips past length and stopword
    * gates.
    *
    * Scale shape: a MAP-ONLY projection — all three counters (token
    * count, distinct-token count, top-bigram multiplicity) come from the
    * native one-pass `repetition_stats` scan
    * ([[graft.plans.RepetitionStats]]), so the profile shuffles nothing
    * at any corpus size. (The first cut exploded tokens−1 bigram rows
    * per document through two shuffled hash aggregates just to take a
    * per-document max — a corpus-sized shuffle for a row-local
    * statistic; 2.0 s → map-only at sf0.1; the declarative chain is
    * `RepetitionStatsSpec`'s equivalence baseline.) Documents shorter
    * than two tokens report `top_bigram_frac` 0.0. */
  def repetitionProfile(df: DataFrame, id: Column, text: Column): DataFrame = {
    df.select(id.as("doc_id"),
        call_function("repetition_stats", text).as("rs"))
      .select(col("doc_id"), col("rs.n_tok").as("n_tok"),
        round(lit(1.0) -
          col("rs.n_distinct").cast("double") / col("rs.n_tok"),
          4).as("dup_frac"),
        when(col("rs.n_tok") >= 2,
          round(col("rs.top_bigram") / (col("rs.n_tok") - 1).cast("double"), 4))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
  }

  /** DuckDB twin of [[repetitionProfile]]. */
  def repetitionProfileSql(idE: String, textE: String): String = {
    val tk = tokensCte(textE)
    s"""WITH t AS (SELECT $idE AS doc_id, $tk AS tk FROM documents),
        base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
                   round(1.0 - len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE), 4)
                     AS dup_frac,
                   (CASE WHEN len(tk) >= 2
                    THEN list_transform(range(len(tk) - 1),
                           i -> tk[i+1] || ' ' || tk[i+2])
                    ELSE [] END) AS bigrams FROM t),
        ex AS (SELECT doc_id, n_tok, dup_frac, unnest(bigrams) AS g
               FROM base
               UNION ALL
               SELECT doc_id, n_tok, dup_frac, NULL
               FROM base WHERE len(bigrams) = 0),
        cnt AS (SELECT doc_id, n_tok, dup_frac, g, count(g) AS c
                FROM ex GROUP BY 1, 2, 3, 4),
        top AS (SELECT doc_id, n_tok, dup_frac, max(c) AS top_c
                FROM cnt GROUP BY 1, 2, 3)
        SELECT doc_id, n_tok, dup_frac,
               (CASE WHEN n_tok >= 2
                THEN round(top_c / CAST(n_tok - 1 AS DOUBLE), 4)
                ELSE 0.0 END) AS top_bigram_frac FROM top"""
  }

  private def tokensCte(e: String): String = TextFunctions.tokensSql(e)

  // ------------------------------------------------ target-mix sampling

  /** Resample a corpus to a TARGET stratum mixture (e.g. language
    * rebalancing before training): given target shares per stratum, find
    * the largest total `N` the corpus can serve without any stratum
    * exceeding its available count (water-filling with keep-rate ≤ 1),
    * then admit `floor(N·tₛ)` docs per stratum via the same
    * deterministic hash threshold as [[sampleStratified]]. Integer
    * millionths arithmetic end-to-end — both engines compute identical
    * admit sets. Strata absent from `targets` get rate 0; a TARGET
    * stratum absent from the corpus has avail 0, so N = 0 and nothing
    * is admitted anywhere — asking for 50 % of a language the corpus
    * does not hold is unservable, and silently over-admitting the rest
    * would invert the contract (the r10 advice bug).
    *
    * Returns the per-stratum audit frame (stratum, n_avail, n_kept) —
    * the mix report a pipeline run logs. Scale shape: one tiny
    * aggregate (|strata| rows) → scalar min → broadcast rate join →
    * map-side filter → one re-aggregate; the corpus is never shuffled.
    */
  def mixToTarget(df: DataFrame, id: Column, stratum: Column,
                  targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(f => f > 0 && f <= 1),
      s"target shares must be in (0,1]: $targets")
    val tM: Map[String, Long] = // shares in millionths, pre-floored
      targets.map { case (s, f) => s -> thresholdMillionths(f) }
    val avail = df.groupBy(stratum.as("stratum"))
      .agg(count(lit(1)).as("n_avail"))
    val tCol = tM.foldRight(lit(null).cast("long")) { case ((s, t), els) =>
      when(col("stratum") === s, lit(t)).otherwise(els)
    }
    // N = min over ALL target strata of floor(avail·1e6 / tₛ), with a
    // target stratum missing from the corpus contributing avail = 0
    // (⇒ N = 0): the target list drives the min, not the corpus, so an
    // unservable mix reports 0 kept everywhere instead of silently
    // filling the gap with the strata that do exist. The target frame
    // is |targets| literal rows — driver-built by design.
    val spark = df.sparkSession
    val tgtRows = tM.toSeq.sortBy(_._1).map { case (s, t) =>
      org.apache.spark.sql.Row(s, t)
    }
    val tgtDf = spark.createDataFrame(
      spark.sparkContext.parallelize(tgtRows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("t_stratum",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("t_m",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val n = tgtDf
      .join(avail, tgtDf("t_stratum") === avail("stratum"), "left")
      .select(min(floor(coalesce(col("n_avail"), lit(0L)) * lit(1000000L)
          / col("t_m")).cast("long"))
        .as("n_total"))
    // rate in millionths: floor(kₛ·1e6 / avail), kₛ = floor(N·tₛ/1e6).
    // The ·1e6 products go through Spark's double Divide: exact while
    // the numerator stays under 2^53, i.e. up to ~9·10^9 docs per
    // stratum — beyond that switch the two floors to integer `div`.
    val rates = avail.crossJoin(broadcast(n))
      .withColumn("k", floor(col("n_total") * tCol / lit(1000000L)).cast("long"))
      .withColumn("rate_m",
        coalesce(floor(col("k") * lit(1000000L) / col("n_avail")).cast("long"),
          lit(0L)))
      .select(col("stratum"), col("n_avail"), col("rate_m"))
    val bucket = pmod(
      TextFunctions.hash32(concat(lit("mix:"), stratum, lit(":"),
        id.cast("string"))),
      lit(1000000L))
    df.select(stratum.as("stratum"), bucket.as("bucket"))
      .join(broadcast(rates), "stratum")
      .groupBy(col("stratum"), col("n_avail"))
      .agg(sum(when(col("bucket") < col("rate_m"), 1L).otherwise(0L))
        .as("n_kept"))
      .select(col("stratum"), col("n_avail"), col("n_kept"))
  }

  /** SQL twin of [[mixToTarget]] — same millionths thresholds, same
    * hash admit, same target-driven N (a target stratum missing from
    * the corpus ⇒ avail 0 ⇒ N = 0). */
  def mixToTargetSql(idE: String, stratumE: String,
                     targets: Map[String, Double]): String = {
    val tM = targets.map { case (s, f) => s -> thresholdMillionths(f) }
    // stratum keys are data values, not identifiers — escape quotes so a
    // key like "it's" can't break or alter the oracle query
    def q(s: String): String = s.replace("'", "''")
    val tgtValues = tM.toSeq.sortBy(_._1)
      .map { case (s, t) => s"('${q(s)}', CAST($t AS BIGINT))" }.mkString(", ")
    val tCase = tM.foldRight("CAST(NULL AS BIGINT)") { case ((s, t), els) =>
      s"CASE WHEN stratum = '${q(s)}' THEN $t ELSE $els END"
    }
    val h = TextFunctions.hash32Sql(
      s"('mix:' || stratum || ':' || CAST(doc_id AS VARCHAR))")
    s"""WITH avail AS (SELECT $stratumE AS stratum, count(*) AS n_avail
                       FROM documents GROUP BY 1),
        tgts AS (SELECT * FROM (VALUES $tgtValues) AS v(stratum, t)),
        tgt AS (SELECT stratum, n_avail, ($tCase) AS t FROM avail),
        n AS (SELECT min(CAST(floor(coalesce(a.n_avail, 0) * 1000000 / v.t)
                    AS BIGINT)) AS n_total
              FROM tgts v LEFT JOIN avail a USING (stratum)),
        rates AS (SELECT stratum, n_avail,
                    coalesce(CAST(floor(CAST(floor(n_total * t / 1000000)
                        AS BIGINT) * 1000000 / n_avail) AS BIGINT), 0)
                      AS rate_m
                  FROM tgt CROSS JOIN n),
        docs AS (SELECT $stratumE AS stratum, ($h % 1000000) AS bucket
                 FROM documents)
        SELECT d.stratum AS stratum, r.n_avail AS n_avail,
               CAST(sum(CASE WHEN d.bucket < r.rate_m THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_kept
        FROM docs d JOIN rates r ON d.stratum = r.stratum
        GROUP BY 1, 2"""
  }
}
