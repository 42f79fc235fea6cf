package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.StatsCatalog
import graft.functions.TextFunctions

/** Benchmark decontamination: flag training documents that share word
  * n-grams with a held-out evaluation/benchmark set — the standard
  * pretraining-hygiene step (e.g. GPT-3 §C / PaLM-style 13-gram overlap,
  * scaled here to the corpus' short synthetic docs).
  *
  * Shape at 100 TB: both sides are shingled by the native one-pass
  * `ngram_shingles` scan, grams are reduced to a 60-bit portable hash
  * (one BIGINT shuffle key instead of a string), the benchmark side is
  * deduplicated BEFORE the join (its distinct-gram set is the small
  * side — a benchmark corpus is orders of magnitude smaller than the
  * training corpus), and the hit count per training doc is a single
  * hash aggregate keyed by doc id. Two shuffles total, both keyed and
  * capped by data actually matching; AQE broadcasts the benchmark side
  * whenever it fits. No all-pairs anywhere.
  */
object Decontaminate {

  /** (doc_id, n_overlap) for every NON-benchmark document sharing at
    * least one distinct word `n`-gram with the benchmark partition
    * (`isBenchmark` selects the held-out rows). `n_overlap` counts the
    * training doc's distinct grams that occur anywhere in the benchmark
    * set, where gram identity is its 60-bit md5 prefix
    * ([[TextFunctions.hash60]]) — the same contract the DuckDB oracle
    * states, so engine/oracle equivalence is by construction. */
  def overlap(df: DataFrame, id: Column, text: Column,
              isBenchmark: Column, n: Int): DataFrame = {
    val grams = df.select(
        id.as("doc_id"), isBenchmark.as("is_bench"),
        explode(call_function("ngram_shingles", text, lit(n))).as("g"))
      .select(col("doc_id"), col("is_bench"),
        TextFunctions.hash60(col("g")).as("hg"))
    // distinct BEFORE the join: the benchmark gram set is the unit the
    // join fans out on, so its dedup must happen on the build side, not
    // after the fact (post-join distinct would carry the full fan-out).
    val bench = grams.where(col("is_bench")).select(col("hg")).distinct()
    grams.where(!col("is_bench"))
      .join(bench, "hg") // per-doc grams are distinct ⇒ one row per hit
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Embedding-space decontamination: flag training vectors whose
    * cosine to ANY benchmark vector reaches `threshold` — the semantic
    * sibling of [[overlap]] for contamination that survives paraphrase
    * (n-gram overlap misses reworded benchmark items; embedding
    * proximity does not).
    *
    * Returns (vec_id, n_hits, max_cos) for flagged training vectors.
    *
    * Shape at 100 TB: the benchmark side is SMALL by nature (an eval
    * suite, not a corpus) — when it fits broadcast
    * (`count ≤ maxBenchBroadcast`, one cheap planning aggregate) it is
    * broadcast once and every training partition scores against it
    * map-side (`vec_dot` is a codegen'd native), so the only shuffle is
    * the final per-vector aggregate, sized by the flagged set. Exact by
    * construction — no recall knob — which is what a contamination
    * audit wants. Above the gate the audit routes to the SRP-banded
    * cross-set path ([[embedOverlapLsh]]): candidates from (band,
    * bucket) equi-joins, exact cosine verify on candidates only — no
    * false positives, recall governed by the band count. The gate is
    * real, not documentation: the r10 advice pattern (count-gate the
    * broadcast the way q26 gates `broadcast(oc)`). */
  def embedOverlap(emb: DataFrame, id: Column, vec: Column,
                   isBenchmark: Column, threshold: Double,
                   maxBenchBroadcast: Long = 2000000L): DataFrame = {
    val base = baseFrame(emb, id, vec, isBenchmark)
    // planning statistic (bounded: one aggregate row), same contract as
    // cosineNearDupPairsLshAuto's corpus count
    val nBench = StatsCatalog.count(base.where(col("is_bench")))
    // Surface the branch: an exact-audit caller must be able to see
    // when the gate routed to the probabilistic-recall path (ADVICE
    // r11) — the oracle twin mirrors this gate with a hard error().
    val branch = if (nBench <= maxBenchBroadcast) "exact" else "lsh"
    Console.err.println(
      s"[graft] embedOverlap gate: nBench=$nBench max=$maxBenchBroadcast -> $branch")
    if (nBench <= maxBenchBroadcast) embedOverlapExact(base, threshold)
    else embedOverlapLshFromBase(base, threshold)
  }

  private def baseFrame(emb: DataFrame, id: Column, vec: Column,
                        isBenchmark: Column): DataFrame =
    emb.select(id.as("id"), vec.as("v"), isBenchmark.as("is_bench"),
      Similarity.norm2(vec).as("n2"))

  private def embedOverlapExact(base: DataFrame,
                                threshold: Double): DataFrame = {
    val bench = base.where(col("is_bench"))
      .select(col("v").as("b_v"), col("n2").as("b_n2"))
    base.where(!col("is_bench"))
      .crossJoin(broadcast(bench))
      .select(col("id"),
        (Similarity.dot(col("v"), col("b_v")) /
          sqrt(col("n2") * col("b_n2"))).as("cos"))
      .where(col("cos") >= threshold)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"), round(max(col("cos")), 4).as("max_cos"))
      .select(col("id").as("vec_id"), col("n_hits"), col("max_cos"))
  }

  /** The above-broadcast path: SRP-banded cross-set candidate join.
    * Both sides are coded with the SAME plane set (the first p·bands
    * TRAINING-side vectors by id — deterministic, the [[Similarity]]
    * convention; bench vectors are excluded so the hash family is never
    * derived from the benchmark set),
    * training and benchmark codes meet in a (band, bucket) equi-join,
    * candidate (train, bench) pairs are distinct'd and exact-verified
    * with codegen'd `vec_dot` — so hits are exact, only recall is
    * probabilistic (knobs from [[Similarity.lshPairKnobs]] at the
    * training-corpus density; extra bands buy recall linearly).
    * Degenerate hot buckets on the BENCH side past `bucketCap` are
    * dropped — the posting-list-cap contract. Shuffles: one per side
    * into (band, bucket), the candidate distinct, two verify joins —
    * all keyed, never all-pairs. */
  def embedOverlapLsh(emb: DataFrame, id: Column, vec: Column,
                      isBenchmark: Column, threshold: Double,
                      targetRecall: Double = 0.9,
                      bucketCap: Int = 10000): DataFrame = {
    embedOverlapLshFromBase(baseFrame(emb, id, vec, isBenchmark),
      threshold, targetRecall, bucketCap)
  }

  private def embedOverlapLshFromBase(base: DataFrame, threshold: Double,
                                      targetRecall: Double = 0.9,
                                      bucketCap: Int = 10000): DataFrame = {
    // planning statistic
    val nTrain = StatsCatalog.count(base.where(!col("is_bench")))
    val (p, bands) = Similarity.lshPairKnobs(nTrain, threshold, targetRecall)
    val nPlanes = p * bands
    // Planes come from the TRAINING side only (ADVICE r11: never derive
    // the hash family from the benchmark set), selected by RANK over id
    // (ADVICE r12, medium): the previous `id < p·bands` window silently
    // yielded a partial — or, with bench ids blanketing the low range,
    // EMPTY — plane set, degrading band bit-width and recall with no
    // trace (zero planes → zero contamination hits). Rank selection is
    // a bounded global top-k + driver collect (p·bands ≈ log² n rows —
    // the planning-statistic stance); shortfall fails loudly.
    val planeRows = StatsCatalog.collect(base.where(!col("is_bench"))
      .orderBy(col("id").asc).limit(nPlanes)
      .select(col("id"), col("v")))
    require(planeRows.length == nPlanes,
      s"embedOverlapLsh: training side has only ${planeRows.length} " +
        s"vectors for $nPlanes SRP planes (p=$p bands=$bands)")
    val planes = planeRows.map(Similarity.planeVector(_))
    // Map-only coding of BOTH sides against the training planes (r13):
    // srp_codes computes every band code in one compiled pass — the
    // broadcast-join + partial-agg form it replaces fanned out
    // n×(p·bands) rows carrying both vectors (see graft.plans.SrpCodes).
    val coded = base.select(col("id"), col("is_bench"),
      posexplode(call_function("srp_codes", col("v"),
        typedLit(planes.map(_.toSeq).toSeq), lit(p)))
        .as(Seq("band", "bucket")))
    val train = coded.where(!col("is_bench"))
      .select(col("id").as("t_id"), col("band"), col("bucket"))
    val benchAll = coded.where(col("is_bench"))
      .select(col("id").as("b_id"), col("band"), col("bucket"))
    val hot = benchAll.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("nb")).where(col("nb") > bucketCap)
      .select(col("band"), col("bucket"))
    val bench = benchAll.join(hot, Seq("band", "bucket"), "left_anti")
    val cand = train.join(bench, Seq("band", "bucket"))
      .select(col("t_id"), col("b_id")).distinct()
    // merge hints for the same reason as cosineNearDupPairsLsh: the
    // candidate side's size is misestimated from the pre-join children
    cand.hint("merge")
      .join(base.where(!col("is_bench")).select(col("id").as("t_id"),
        col("v").as("t_v"), col("n2").as("t_n2")), Seq("t_id"))
      .hint("merge")
      .join(base.where(col("is_bench")).select(col("id").as("b_id"),
        col("v").as("b_v"), col("n2").as("b_n2")), Seq("b_id"))
      .select(col("t_id").as("id"),
        (Similarity.dot(col("t_v"), col("b_v")) /
          sqrt(col("t_n2") * col("b_n2"))).as("cos"))
      .where(col("cos") >= threshold)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"), round(max(col("cos")), 4).as("max_cos"))
      .select(col("id").as("vec_id"), col("n_hits"), col("max_cos"))
  }

  /** DuckDB twin of [[embedOverlap]]'s EXACT branch, with the engine's
    * count gate mirrored as a hard `error()` (ADVICE r11): the engine
    * silently routes to the LSH branch above `maxBenchBroadcast`, and
    * an exact-only oracle would then diverge without a trace — so the
    * oracle refuses loudly instead of lying quietly. `error()` sits in
    * a lazily-evaluated CASE branch (verified against DuckDB), so an
    * under-gate bench side never evaluates it. */
  def embedOverlapSql(idE: String, vecE: String, benchPred: String,
                      threshold: Double,
                      maxBenchBroadcast: Long = 2000000L): String =
    s"""WITH base AS (SELECT $idE AS id, $vecE AS v, ($benchPred) AS is_bench,
                        ${Similarity.dotSql(vecE, vecE)} AS n2 FROM embeddings),
        gate AS (SELECT CASE WHEN count(*) <= $maxBenchBroadcast THEN 1
                   ELSE error('embedOverlap oracle is exact-only but bench > '
                              || '$maxBenchBroadcast: engine takes LSH branch')
                 END AS ok FROM base WHERE is_bench),
        b AS (SELECT v AS b_v, n2 AS b_n2 FROM base WHERE is_bench),
        s AS (SELECT t.id, ${Similarity.dotSql("t.v", "b.b_v")} /
                sqrt(t.n2 * b.b_n2) AS cos
              FROM base t CROSS JOIN b
              WHERE NOT t.is_bench AND (SELECT ok FROM gate) = 1)
        SELECT id AS vec_id, count(*) AS n_hits, round(max(cos), 4) AS max_cos
        FROM s WHERE cos >= $threshold GROUP BY 1"""

  /** DuckDB twin of [[embedOverlapLsh]] — the above-broadcast branch of
    * the gate, driver-checkable like q102: the knobs are RECOMPUTED in
    * SQL from the training-side count, planes/coding/hot-bucket-cap/
    * candidate-join/exact-verify all mirror the Spark path from the
    * same deterministic definitions, so engine/oracle parity is by
    * construction (recall is probabilistic only against the FULL truth;
    * the two engines compute the identical candidate set). */
  def embedOverlapLshSql(idE: String, vecE: String, benchPred: String,
                         threshold: Double, targetRecall: Double = 0.9,
                         bucketCap: Int = 10000,
                         sourceSql: String = "SELECT * FROM embeddings"): String =
    s"""WITH base AS (SELECT $idE AS id, $vecE AS v, ($benchPred) AS is_bench,
                        ${Similarity.dotSql(vecE, vecE)} AS n2
                      FROM ($sourceSql) src),
        kp AS (SELECT GREATEST(4, CAST(ceil(
                 ln(GREATEST(1.0, count(*) / 8.0)) / ln(2)) AS INT)) AS p
               FROM base WHERE NOT is_bench),
        kb AS (SELECT p, GREATEST(2, CAST(ceil(
                 ln(1 - $targetRecall) /
                 ln(1 - pow(1 - acos($threshold) / pi(), p))) AS INT)) AS bands
               FROM kp),
        tr AS (SELECT v, row_number() OVER (ORDER BY id) - 1 AS rk
               FROM base WHERE NOT is_bench),
        pl AS (SELECT CAST(rk // (SELECT p FROM kp) AS INT) AS band,
                      CAST(rk % (SELECT p FROM kp) AS INT) AS px, v AS p_v
               FROM tr
               WHERE rk < (SELECT p FROM kp) * (SELECT bands FROM kb)),
        coded AS (SELECT c.id, c.is_bench, band,
                    CAST(sum(CASE WHEN ${Similarity.dotSql("c.v", "p_v")} >= 0
                             THEN (1::BIGINT << px) ELSE 0 END) AS BIGINT)
                      AS bucket
                  FROM base c CROSS JOIN pl GROUP BY 1, 2, 3),
        hot AS (SELECT band, bucket FROM coded WHERE is_bench
                GROUP BY 1, 2 HAVING count(*) > $bucketCap),
        bok AS (SELECT c.id AS b_id, c.band, c.bucket
                FROM coded c LEFT JOIN hot h
                  ON c.band = h.band AND c.bucket = h.bucket
                WHERE c.is_bench AND h.band IS NULL),
        cand AS (SELECT DISTINCT t.id AS t_id, b.b_id
                 FROM coded t JOIN bok b
                   ON t.band = b.band AND t.bucket = b.bucket
                 WHERE NOT t.is_bench),
        scored AS (SELECT c.t_id,
                     ${Similarity.dotSql("t.v", "b.v")} / sqrt(t.n2 * b.n2)
                       AS cos
                   FROM cand c
                   JOIN base t ON t.id = c.t_id
                   JOIN base b ON b.id = c.b_id)
        SELECT t_id AS vec_id, count(*) AS n_hits,
               round(max(cos), 4) AS max_cos
        FROM scored WHERE cos >= $threshold GROUP BY 1"""

  /** DuckDB twin of [[overlap]] — same shingling, same 60-bit gram
    * hash, same benchmark-side dedup. */
  def overlapSql(idE: String, textE: String, benchPred: String,
                 n: Int): String = {
    val sh = TextFunctions.shinglesSql(textE, n)
    val hg = TextFunctions.hash60Sql("g")
    s"""WITH grams AS (SELECT $idE AS doc_id, ($benchPred) AS is_bench,
                              $hg AS hg
                       FROM (SELECT *, unnest($sh) AS g FROM documents)),
        bench AS (SELECT DISTINCT hg FROM grams WHERE is_bench)
        SELECT doc_id, count(*) AS n_overlap
        FROM grams JOIN bench USING (hg)
        WHERE NOT is_bench GROUP BY doc_id"""
  }
}
