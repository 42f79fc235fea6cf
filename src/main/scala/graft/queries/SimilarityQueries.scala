package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._

import Shared._

/** Similarity search over the embeddings: brute-force and blocked
  * cosine, LSH, IVF and product-quantization ANN, the planted-twin
  * near-duplicate pairs, embedding decontamination and SemDeDup. */
object SimilarityQueries {

  val all: Seq[Query] = Seq(
    // Q29 — brute-force cosine top-k over embeddings (ANN baseline).
    Query("q29_knn_cosine", (s, d) =>
      Similarity.knnBruteForce(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), 32, 5), oracle =
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_v FROM embeddings
                     WHERE vec_id < 32),
          scored AS (SELECT q_id, c.vec_id AS n_id,
                       ${Similarity.cosineSql("q_v", "c.embedding")} AS cos
                     FROM embeddings c CROSS JOIN q WHERE c.vec_id != q_id)
          SELECT q_id, rank, n_id, round(cos, 4) AS cos FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
          WHERE rank <= 5"""),

    // Q30 — signed-random-projection LSH ANN (planes = first 4 vectors).
    Query("q30_ann_lsh", (s, d) =>
      Similarity.annLsh(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), 4, 32, 3), oracle =
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
          WHERE rank <= 3"""),

    // Q46 — embedding-cosine near-dup pairs, blocked by label (the
    // cluster id stands in for an LSH block): exact cosine within
    // blocks, through the r13 SELF-PROTECTING operator — the largest
    // block is counted (planning statistic) and the O(B²) plan refuses
    // to launch past the documented bound, so the exactness baseline
    // can no longer run unscoped by accident (VERDICT r12 item 6).
    Query("q46_cosine_neardup", (s, d) =>
      Similarity.cosineNearDupPairsBlocked(Tables.embeddings(s, d),
        col("label"), col("vec_id"), col("embedding"), threshold = 0.3), oracle =
      s"""WITH base AS (SELECT label, vec_id AS id, embedding AS v,
              ${Similarity.dotSql("embedding", "embedding")} AS n2
              FROM embeddings),
          p AS (SELECT a.id AS d1, b.id AS d2,
              ${Similarity.dotSql("a.v", "b.v")} / sqrt(a.n2 * b.n2) AS cos
              FROM base a JOIN base b ON a.label = b.label AND a.id < b.id)
          SELECT d1, d2, round(cos, 4) AS cos FROM p WHERE cos >= 0.3"""),

    // Q56 — IVF ANN (nprobe=1): centroid cells (first 8 vectors as the
    // deterministic training stub), exact cosine top-3 within the cell.
    // Completes the ANN family: brute force (q29), LSH (q30), IVF (q56).
    Query("q56_ann_ivf", (s, d) =>
      Similarity.annIvf(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), 8, 32, 3), oracle =
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
          WHERE rank <= 3"""),

    // Q66 — multi-band LSH ANN (the recall knob over q30's single band):
    // 4 bands × 4 planes, candidates = any-band bucket collision, exact
    // cosine top-3 over the union. See docs/SCALING.md recall table.
    Query("q66_ann_lsh_banded", (s, d) =>
      Similarity.annLshBanded(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), 4, 4, 32, 3), oracle =
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
          WHERE rank <= 3"""),

    // Q91 — LSH-banded near-dup PAIRS: the scale path for q46's exact
    // all-pairs cosine (the one quadratic in the contract). Candidates =
    // pairs colliding in ≥1 SRP band (4 bands × 8 planes, planes = first
    // corpus vectors), bucket-capped, then exact-cosine verified at 0.9,
    // over the planted-twin corpus (see plantedTwinCorpus).
    Query("q91_lsh_neardup_pairs", (s, d) =>
      Similarity.cosineNearDupPairsLsh(plantedTwinCorpus(s, d), col("id"),
        col("v"), threshold = 0.9, planesPerBand = 8, bands = 4), oracle =
      // Mirrors the banded-SRP candidate scheme exactly (q66 pattern), incl.
      // the bucket cap AND the r13 sketch-hamming prune (prn: candidate
      // pairs whose first-S band codes differ in more than hammingCut bits
      // never reach the exact verify — identical cut in both engines, see
      // Similarity.hammingCut).
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
          SELECT d1, d2, round(cos, 4) AS cos FROM scored WHERE cos >= 0.9"""),

    // Q95 — product-quantization ADC top-k: the compression half of the
    // ANN family (8×8-dim subspaces, 16 codes each → 64-dim floats in 8
    // bytes, the footprint that lets a 10⁹-vector corpus sit in executor
    // memory). First-16 codebooks keep it oracle-shareable (same stance
    // as q56's first-K IVF centroids; kmeans-trained codebooks are the
    // production path, probed in docs/SCALING.md).
    Query("q95_pq_adc", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cb = Similarity.pqCodebookFirstK(e,
        col("vec_id").cast("long"), col("embedding"), 8, 8, 16)
      Similarity.pqAdcTopK(e, col("vec_id").cast("long"), col("embedding"),
        8, 8, cb, nQueries = 5, k = 10)
    }, oracle =
      // q95: the PQ pipeline in closed form — first-16 codebooks per
      // subspace, argmin encode (reduced distance, lowest-code ties), LUT
      // build, decimal-exact ADC sum, top-10 ascending.
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
          FROM ranked WHERE rank <= 10"""),

    // Q96 — ADC + exact rerank, the standard PQ serving recipe: the
    // 8-byte-code scan shortlists 4·k candidates, only those pay a
    // raw-vector fetch + exact distance. Same first-16 codebooks as q95
    // so the whole two-stage pipeline is oracle-shared.
    Query("q96_pq_rerank", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cb = Similarity.pqCodebookFirstK(e,
        col("vec_id").cast("long"), col("embedding"), 8, 8, 16)
      Similarity.pqAdcRerankTopK(e, col("vec_id").cast("long"),
        col("embedding"), 8, 8, cb, nQueries = 5, k = 10, rerank = 4)
    }, oracle =
      // q96: q95's shortlist (rank ≤ 40) rejoined to the raw vectors for
      // the exact distance, re-ranked top-10.
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
          FROM rranked WHERE rank <= 10"""),

    // Q98 — IVF-PQ (IVFADC): coarse cells shard the corpus (a probe
    // touches nprobe/kCoarse of it), PQ codes quantize the RESIDUAL
    // v − centroid so the 8-byte budget spends itself near 0, and each
    // (query, probed cell) builds its own residual LUT — the composed
    // billion-vector serving shape. First-8 centroids + first-16
    // residual codebooks keep the whole pipeline oracle-shareable
    // (q56/q95 stance).
    Query("q98_ivfpq_adc", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfPqAdcTopK(e, col("vec_id").cast("long"),
        col("embedding"), kCoarse = 8, nprobe = 2, m = 8, dsub = 8,
        ksub = 16, nQueries = 5, k = 10)
    }, oracle =
      // q98: the IVF-PQ pipeline in closed form — first-8 coarse argmin
      // assign (q56 pattern), element-wise double residuals, first-16
      // residual codebooks + argmin encode (q95 pattern), per-(query,
      // probed-cell) residual LUTs, decimal-exact ADC sums, top-10
      // ascending.
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
          WHERE rank <= 10"""),

    // Q102 — the AUTO-KNOB LSH near-dup path as a driver-checked oracle
    // row (VERDICT r9 item 6): q91 pins 8 planes × 4 bands for a simple
    // shared oracle, but production calls cosineNearDupPairsLshAuto,
    // which sizes planes/bands from the corpus count (the fixed-knob
    // shape is the documented quadratic at 10× corpus — 143 s vs 57 s
    // at sf10). Same twin-augmented corpus as q91; the oracle recomputes
    // lshPairKnobs IN SQL from count(*) so it tracks any SF.
    Query("q102_lsh_neardup_auto", (s, d) =>
      Similarity.cosineNearDupPairsLshAuto(plantedTwinCorpus(s, d),
        col("id"), col("v"), threshold = 0.9), oracle =
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
          SELECT d1, d2, round(cos, 4) AS cos FROM scored WHERE cos >= 0.9"""),

    // Q109 — embedding-space decontamination: training vectors whose
    // cosine to any benchmark vector (label 9 stands in for the held-out
    // eval suite) reaches 0.3 — exact, benchmark side broadcast.
    Query("q109_embed_decon", (s, d) =>
      Decontaminate.embedOverlap(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), col("label") === 9, threshold = 0.3), oracle =
      Decontaminate.embedOverlapSql("vec_id", "embedding", "label = 9",
        threshold = 0.3)),

    // Q111 — the ABOVE-broadcast branch of q109's gate, exercised
    // unconditionally (q109 covers the exact path; this is its q102:
    // the production fallback driver-checked, knobs recomputed in SQL).
    // The "benchmark" is q102's planted perturbed twins — the actual
    // contamination scenario (eval items near-identical to training
    // docs); twin ids live above a data-derived stride so they never
    // collide with corpus ids at any SF.
    Query("q111_embed_decon_lsh", (s, d) =>
      Decontaminate.embedOverlapLsh(plantedTwinCorpus(s, d, isBench = true),
        col("id"), col("v"), col("is_bench"), threshold = 0.9), oracle =
      Decontaminate.embedOverlapLshSql("id", "v", "is_bench",
        threshold = 0.9, sourceSql = plantedTwinCorpusSql(isBench = true))),

    // Q113 — SemDeDup: cluster-scoped semantic dedup (cells auto-sized
    // to the corpus, within-cell cos ≥ 0.9, smaller-id anchor keeps).
    // The synthetic embeddings have no natural near-dups (max pairwise
    // cos ≈ 0.51), so the corpus is the q102/q111 planted-twin one —
    // every twin's anchor is its smaller-id source, provided the
    // perturbation leaves it in the same cell (cell-boundary misses are
    // SemDeDup's documented recall limitation, identically mirrored in
    // the oracle).
    Query("q113_semdedup", (s, d) =>
      Dedup.semDedup(plantedTwinCorpus(s, d), col("id"), col("v"),
        threshold = 0.9), oracle =
      Dedup.semDedupSql("id", "v", threshold = 0.9,
        sourceSql = plantedTwinCorpusSql()))
  )
}
