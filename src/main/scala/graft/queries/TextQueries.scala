package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.{PiiFunctions, TextFunctions}
import graft.operators._

import Shared._

/** Text and curation: the training-data-pipeline operators (SURVEY §7
  * step 8) — exact and near-duplicate detection over documents, language
  * id, quality and token statistics, multimodal decode, filtering,
  * sampling, decontamination, PII redaction, sequence packing and BPE. */
object TextQueries {

  val all: Seq[Query] = Seq(
    // Q25 — exact dedup by normalized content hash (U1 generalized). The
    // corpus has no exact dups, so we union a mirrored copy to exercise
    // group-size > 1 semantics.
    Query("q25_dedup_exact", (s, d) => {
      val docs = Tables.documents(s, d)
      val all = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.exact(all, col("doc_id"), col("text"))
    }, oracle =
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text FROM documents)
         SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS text_md5,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM all_docs GROUP BY 1"""),

    // Q26 — exact word-3-gram Jaccard near-dup pairs (inverted-index join)
    // with the hot-shingle df-cap active: shingles in >100 docs are
    // dropped from candidate generation (bounded per-key fan-out — the
    // 100 TB config), Jaccard verified exactly on the full shingle sets.
    // The oracle states the SAME cap, so equivalence is by construction.
    Query("q26_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d),
        col("doc_id"), col("text"), 3, 0.5, maxShingleDf = Some(100)), oracle = {
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
    }),

    // Q27 — MinHash(16) + LSH(4 bands × 4 rows) candidates, exact verify.
    Query("q27_minhash_lsh", (s, d) =>
      Dedup.minhashLshPairs(Tables.documents(s, d),
        col("doc_id"), col("text"), 3, 16, 4, 0.5), oracle = minhashPairsSql),

    // Q28 — SimHash near-dup pairs, Hamming ≤ 3 via 4×8-bit block join.
    Query("q28_simhash", (s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), col("doc_id"), col("text"), 3),
    oracle = {
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
    }),

    // Q31 — language-ID heuristic: argmax stopword-hit score across langs
    // (struct-greatest; ties break by language code descending). Staged
    // selects so the tokenizer runs ONCE per row (not once per language
    // per struct field) and the greatest-tree once (not per getField):
    // CollapseProject leaves multiply-referenced non-cheap aliases alone.
    Query("q31_lang_id", (s, d) => {
      val langs = TextFunctions.stopwords.keys.toSeq.sorted
      val best = greatest(langs.map(l => struct(
        TextFunctions.langScoreOfTokens(col("tk"), l).as("s"), lit(l).as("l"))): _*)
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
        .select(col("doc_id"), best.as("best"))
        .select(col("doc_id"),
          col("best").getField("l").as("pred_lang"),
          col("best").getField("s").as("score"))
    }, oracle = {
      val branches = TextFunctions.stopwords.keys.toSeq.sorted.map(l =>
        s"SELECT doc_id, '$l' AS l, ${TextFunctions.langScoreSql("text", l)} AS s FROM documents")
        .mkString(" UNION ALL ")
      s"""WITH sc AS ($branches)
          SELECT doc_id, l AS pred_lang, s AS score FROM sc
          QUALIFY row_number() OVER (PARTITION BY doc_id
                                     ORDER BY s DESC, l DESC) = 1"""
    }),

    // Q32 — pretraining-data quality score (length/stopword/alpha mix).
    Query("q32_quality_score", (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality")), oracle =
      s"""SELECT doc_id, ${TextFunctions.qualityScoreSql("text")} AS quality
          FROM documents"""),

    // Q33 — token statistics: whitespace + BPE-ish regex token counts.
    Query("q33_token_stats", (s, d) => {
      val tk = TextFunctions.tokens(col("text"))
      Tables.documents(s, d).select(col("doc_id"),
        size(tk).as("n_ws"),
        TextFunctions.bpeishCount(col("text")).as("n_bpe"),
        length(col("text")).as("n_chars_m"),
        round(length(concat_ws("", tk)).cast("double") / size(tk), 4)
          .as("avg_tok_len"))
    }, oracle = {
      val tk = TextFunctions.tokensSql("text")
      s"""SELECT doc_id, len($tk) AS n_ws,
                 ${TextFunctions.bpeishCountSql("text")} AS n_bpe,
                 length(text) AS n_chars_m,
                 round(length(array_to_string($tk, '')) / CAST(len($tk) AS DOUBLE), 4)
                   AS avg_tok_len
          FROM documents"""
    }),

    // Q34 — bottom-k shingle-hash fingerprint (winnowing-style sketch).
    Query("q34_fingerprint", (s, d) =>
      Dedup.fingerprint(Tables.documents(s, d), col("doc_id"), col("text"), 3, 8),
    oracle = {
      val sh = TextFunctions.shinglesSql("text", 3)
      s"""WITH sh AS (SELECT doc_id AS id, unnest($sh) AS s FROM documents),
          h AS (SELECT id, ${TextFunctions.hash60Sql("s")} AS h FROM sh)
          SELECT id, row_number() OVER (PARTITION BY id ORDER BY h ASC) AS fp_rank,
                 h AS fp_hash FROM h
          QUALIFY fp_rank <= 8"""
    }),

    // Q35 — multimodal binary-column plumbing: blob + typed metadata,
    // strided byte sampling ("frame sample") as codegen expressions.
    Query("q35_multimodal", (s, d) =>
      Multimodal.byteFeatures(
        Multimodal.asMediaTable(Tables.documents(s, d),
          col("doc_id"), col("text"), col("source")), 16), oracle =
      """SELECT doc_id AS media_id, 'application/x-' || source AS mime,
                octet_length(encode(text)) AS n_bytes,
                CAST(list_sum(list_transform(range(1, length(text) + 1, 16),
                  i -> ascii(substr(text, CAST(i AS INT), 1)))) AS BIGINT)
                  AS sample_checksum,
                (octet_length(encode(text)) // 64) + 1 AS n_frames
         FROM documents"""),

    // Q65 — REAL image decode (javax.imageio): encode a deterministic PNG
    // per doc_id, decode the actual bytes back, report width/height/mean
    // luminance from decoded pixels. The oracle computes the same values
    // closed-form from the generation rule (PNG is lossless), so a hash
    // match proves the encode→decode round-trip, not stub arithmetic.
    Query("q65_image_decode", (s, d) =>
      Multimodal.decodeImages(
          Multimodal.syntheticPngTable(Tables.documents(s, d), col("doc_id")))
        .toDF().select(col("media_id"), col("width"), col("height"),
          Resample.roundStable(col("brightness"), 4).as("brightness")), oracle =
      // Expected decode output computed closed-form from the PNG generation
      // rule (Multimodal.syntheticPng): w = 8 + id%9, h = 8 + (id*7)%9,
      // gray(x,y) = (id + 3x + 5y) % 256; brightness = mean gray. The engine
      // instead round-trips real PNG bytes through javax.imageio.
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
          FROM px GROUP BY 1, 2, 3"""),

    // Q68 — REAL audio decode (javax.sound.sampled): encode a
    // deterministic PCM WAV per doc_id, decode the actual container
    // bytes back, report rate/samples/duration/RMS/peak from decoded
    // frames. Oracle computes the same closed-form (PCM is lossless; the
    // Σs² integer is exact in both engines).
    Query("q68_audio_decode", (s, d) =>
      Multimodal.decodeAudio(
          Multimodal.syntheticWavTable(Tables.documents(s, d), col("doc_id")))
        .toDF().select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("duration_s"), Resample.roundStable(col("rms"), 4).as("rms"),
          col("peak")), oracle =
      // Expected decode output computed closed-form from the WAV generation
      // rule (Multimodal.syntheticWav): n = 64 + id%65, s(i) =
      // (id*31 + i*17) % 65536 - 32768, rate 8000. The engine instead
      // round-trips real RIFF/WAVE bytes through javax.sound.sampled.
      // Σs² stays integer (exact) until the final normalization.
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
          FROM s GROUP BY doc_id, n"""),

    // Q70 — REAL multi-frame sampling: encode a deterministic animated
    // GIF per doc_id, enumerate container frames, decode every 2nd frame
    // only. Oracle computes the same closed-form (GIF palette encodes
    // grayscale losslessly).
    Query("q70_video_frames", (s, d) =>
      Multimodal.sampleVideoFrames(
          Multimodal.syntheticGifTable(Tables.documents(s, d), col("doc_id")),
          stride = 2)
        .toDF().select(col("media_id"), col("width"), col("height"),
          col("n_frames"), col("sampled_frames"),
          Resample.roundStable(col("sampled_brightness"), 4)
            .as("sampled_brightness")), oracle =
      // Expected sampling output computed closed-form from the GIF
      // generation rule (Multimodal.syntheticGif): frames = 1 + id%7,
      // w = 8 + id%5, h = 8 + (id*3)%5, gray(f,x,y) = (id+11f+3x+5y)%256;
      // stride 2 samples frames 0,2,4,6. The engine instead round-trips
      // real animated-GIF bytes through the ImageIO reader.
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
          FROM px GROUP BY 1, 2, 3, 4, 5"""),

    // Q72 — duplicate-cluster resolution: hash-min connected components
    // over q27's MinHash pair graph, min-id survivor per cluster — the
    // step a dedup pipeline runs AFTER pair generation to actually drop
    // rows. Oracle: recursive-CTE transitive closure over the SAME pair
    // SQL.
    Query("q72_dup_clusters", (s, d) =>
      Dedup.dupClusters(
        Dedup.minhashLshPairs(Tables.documents(s, d),
          col("doc_id"), col("text"), 3, 16, 4, 0.5),
        col("d1"), col("d2")), oracle =
      // Transitive closure over the SHARED pair SQL: reach(n, m) saturates
      // each component (near-dup clusters are tiny, the closure is cheap),
      // min reachable id = the engine's hash-min fixpoint label.
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
          FROM comp"""),

    // Q74 — rule-attributed quality filtering (the C4/Gopher gate with
    // per-rule audit trail): which rule dropped each document.
    Query("q74_quality_filter", (s, d) =>
      CorpusFilter.withAttribution(Tables.documents(s, d),
        col("doc_id"), col("text")), oracle = {
      val rs = CorpusFilter.rulesSql("text")
      val flags = rs.map { case (n, p) => s"$p AS r_$n" }.mkString(", ")
      val keep = rs.map { case (n, _) => s"r_$n" }.mkString(" AND ")
      val reasons = rs.map { case (n, _) =>
        s"CASE WHEN NOT r_$n THEN '$n' END" }.mkString("concat_ws(',', ", ", ", ")")
      s"""WITH f AS (SELECT doc_id, $flags FROM documents)
          SELECT doc_id, r_${rs.map(_._1).mkString(", r_")},
                 ($keep) AS keep, $reasons AS fail_reasons
          FROM f"""
    }),

    // Q75 — deterministic stratified sampling: per-lang keep fractions
    // via pure hash of (stratum, id) — reproducible, shuffle-free.
    Query("q75_stratified_sample", (s, d) =>
      CorpusFilter.sampleStratified(Tables.documents(s, d),
          col("doc_id"), col("lang"),
          Map("en" -> 0.8, "de" -> 0.5, "es" -> 0.25), 0.1)
        .select(col("doc_id"), col("lang"), col("source")), oracle =
      s"""SELECT doc_id, lang, source FROM documents
          WHERE ${CorpusFilter.sampleStratifiedSql("doc_id", "lang",
            Map("en" -> 0.8, "de" -> 0.5, "es" -> 0.25), 0.1)}"""),

    // Q103 — benchmark decontamination: training docs sharing a word
    // 4-gram with the held-out benchmark partition (source 'src19').
    Query("q103_decontaminate", (s, d) =>
      Decontaminate.overlap(Tables.documents(s, d), col("doc_id"),
        col("text"), col("source") === "src19", n = 4), oracle =
      Decontaminate.overlapSql("doc_id", "text", "source = 'src19'", n = 4)),

    // Q104 — PII scan + redaction counts over deterministically
    // PII-augmented text (the synthetic corpus is PII-free, so both
    // engines append the same doc_id-derived email/IP/phone fixtures —
    // the scrubber itself is what's under test).
    Query("q104_pii_redact", (s, d) => {
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
    }, oracle = {
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
    }),

    // Q105 — training-sequence offset packing: 256-token sequences over
    // 8 independent hash shards.
    Query("q105_seq_pack", (s, d) =>
      SeqPack.pack(Tables.documents(s, d), col("doc_id"), col("text"),
        seqLen = 256, nShards = 8), oracle =
      SeqPack.packSql("doc_id", "text", seqLen = 256, nShards = 8)),

    // Q106 — within-document repetition profile (Gopher dup-token /
    // top-bigram signals).
    Query("q106_repetition", (s, d) =>
      CorpusFilter.repetitionProfile(Tables.documents(s, d),
        col("doc_id"), col("text")), oracle =
      CorpusFilter.repetitionProfileSql("doc_id", "text")),

    // Q107 — language-mix resampling to a uniform 5-way target: the
    // corpus is ~41 % en, so en is down-sampled to the water-filling
    // maximum the rarest language supports.
    Query("q107_lang_mix", (s, d) =>
      CorpusFilter.mixToTarget(Tables.documents(s, d), col("doc_id"),
        col("lang"), MixTargets), oracle =
      CorpusFilter.mixToTargetSql("doc_id", "lang", MixTargets)),

    // Q108 — tokenizer training: the corpus-wide BPE merge-selection
    // aggregate (top-50 adjacent token pairs with multiplicity; one
    // map-side-combined hash aggregate + TakeOrdered, never a global
    // sort).
    Query("q108_bpe_merges", (s, d) =>
      TokenizerOps.topMergePairs(Tables.documents(s, d), col("text"), k = 50),
    oracle =
      TokenizerOps.topMergePairsSql("text", k = 50)),

    // Q110 — iterative BPE training: 8 alternating select→apply merge
    // rounds (the real tokenizer loop; q108 is one selection round).
    // Each round is one map-side-combined pair-count aggregate + a
    // map-only literal replace; merge selection is sequential by
    // definition.
    Query("q110_bpe_train", (s, d) =>
      TokenizerOps.trainMerges(Tables.documents(s, d), col("text"), k = 8),
    oracle =
      TokenizerOps.trainMergesSql("text", k = 8)),

    // Q112 — DSIR importance resampling: weight every training doc by
    // hashed-unigram likelihood ratio toward the held-out 'src19'
    // target partition; kept ⟺ more target-like than source-like.
    // Knobs sized to the corpus (α·B must not swamp the target token
    // stream — grid-measured at the gate SF: 4096/0.5 pushed every
    // logw < −9; 256/0.1 centers the distribution and keeps ~8 %).
    Query("q112_dsir_sample", (s, d) =>
      CorpusFilter.dsirWeights(Tables.documents(s, d), col("doc_id"),
        col("text"), col("source") === "src19", buckets = 256, alpha = 0.1),
    oracle =
      CorpusFilter.dsirWeightsSql("doc_id", "text", "source = 'src19'",
        buckets = 256, alpha = 0.1))
  )
}
