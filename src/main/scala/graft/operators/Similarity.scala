package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.StatsCatalog

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exactness baseline,
  * plus a signed-random-projection LSH bucketed variant as the scale path.
  *
  * Precision contract: all dot products fold left over the array in
  * element order with each float cast to double — the DuckDB oracle uses
  * positional `unnest` with the same casts, which is bit-identical (the
  * builtin `list_cosine_similarity` accumulates in float32 and drifts at
  * 1e-8; we never use it).
  *
  * Scale notes (100 TB): brute force is O(Q·N) — kept for small query
  * sets (broadcast the queries, scan the corpus once, per-partition
  * top-k via window). The LSH path shuffles once on the bucket id; with
  * P hyperplanes the expected bucket fan-out is N/2^P, so candidate
  * verification is linear-ish. Hyperplanes are data-derived (the first P
  * corpus vectors) so engine and oracle need no shared random state.
  */
object Similarity {

  /** exact dot(a, b) with per-element double cast, left-to-right fold —
    * the native codegen'd [[graft.plans.DotProduct]] (IEEE-identical to
    * the `aggregate(zip_with(...))` HOF it replaced; the interpreted
    * per-element lambdas cost ~4× on the pair-join benches), resolved by
    * name from the functions [[graft.plans.GraftExtensions]] injects into
    * every session. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm2(a: Column): Column = dot(a, a)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(norm2(a) * norm2(b))

  /** DuckDB twin of [[dot]]: positional unnest of both lists, double
    * products, ordered sum. */
  def dotSql(a: String, b: String): String =
    s"(SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest($a) AS x, unnest($b) AS y))"

  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / sqrt(${dotSql(a, a)} * ${dotSql(b, b)}))"

  /** The first `k` rows per `q_id` under `order`, numbered in `rank`
    * (row_number: ties fall to the order's last key, deterministically). */
  private def rankPerQuery(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(order: _*)))
      .where(col("rank") <= k)

  /** The top-k tail every search operator ends in: per query the `k`
    * best `n_id`s by `score` (descending for similarities, ascending for
    * distances), ties to the lower id, as `(q_id, rank, n_id, score)`
    * with the score rounded to 4 decimals. */
  private def topK(scored: DataFrame, score: String, descending: Boolean,
                   k: Int): DataFrame =
    rankPerQuery(scored, k,
        if (descending) col(score).desc else col(score).asc, col("n_id").asc)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col(score), 4).as(score))

  /** Brute-force cosine top-k: for each query vector (id < nQueries),
    * the k nearest corpus vectors (excluding itself), rank-ordered,
    * cosine rounded to 4 decimals.
    *
    * Norms are aggregated once per vector *before* the pair join (cuts
    * the higher-order-function work per pair from 3 folds to 1 — the
    * norm recompute per pair tripled the bench cost). */
  def knnBruteForce(emb: DataFrame, id: Column, vec: Column,
                    nQueries: Int, k: Int): DataFrame = {
    val base = emb.select(id.as("id"), vec.as("v"), norm2(vec).as("n2"))
    val q = base.where(col("id") < nQueries)
      .select(col("id").as("q_id"), col("v").as("q_v"), col("n2").as("q_n2"))
    val scored = base.as("c").join(broadcast(q), col("q_id") =!= col("id"))
      .select(col("q_id"), col("id").as("n_id"),
        (dot(col("q_v"), col("v")) / sqrt(col("q_n2") * col("n2"))).as("cos"))
    topK(scored, "cos", descending = true, k)
  }

  /** All pairs with cosine ≥ threshold — embedding near-dup detection.
    * Exact (quadratic) by CONTRACT: this is the exactness baseline the
    * LSH scale path ([[cosineNearDupPairsLsh]]) is recall-audited
    * against, never the production path.
    *
    * Self-protecting (r13, VERDICT r12 item 6): the O(n²) plan is
    * guarded by `maxExactRows` — one planning-statistic count, once per
    * input version ([[graft.StatsCatalog]]), checked on every call; above
    * the bound the call FAILS with a message naming
    * [[cosineNearDupPairsLshAuto]] rather than silently launching a
    * quadratic that cannot survive scale. An error (not an auto-route)
    * because the operator's contract is exactness — silently swapping
    * in a recall<1 path would change results without a trace. The
    * default bound (65 536 rows ≈ 2.1 G pair evaluations) is the
    * practical single-audit ceiling; callers who mean it can raise it
    * explicitly. */
  def cosineNearDupPairs(emb: DataFrame, id: Column, vec: Column,
                         threshold: Double,
                         maxExactRows: Long = 65536): DataFrame = {
    val base = emb.select(id.as("id"), vec.as("v"))
    val n = StatsCatalog.count(base)
    require(n <= maxExactRows,
      s"cosineNearDupPairs: $n rows exceed the exact-quadratic bound " +
        s"$maxExactRows (~${n * n / 2} pair evaluations). Use " +
        "cosineNearDupPairsLshAuto (recall-targeted scale path) or pass " +
        "a higher maxExactRows explicitly to insist on the O(n²) baseline.")
    base.as("a").join(base.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("d1"), col("b.id").as("d2"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("d1"), col("d2"), round(col("cos"), 4).as("cos"))
  }

  /** Block-local exact near-dup pairs (the q46 shape): exact cosine over
    * pairs sharing a blocking key — O(Σ B²) where B is the block size,
    * the standard "exact within buckets" compromise when a natural
    * blocking key exists. Guarded like [[cosineNearDupPairs]] but on the
    * LARGEST BLOCK (one planning aggregate): the plan is safe exactly
    * when every block is small, regardless of corpus size. */
  def cosineNearDupPairsBlocked(emb: DataFrame, block: Column, id: Column,
                                vec: Column, threshold: Double,
                                maxBlockRows: Long = 65536): DataFrame = {
    val base = emb.select(block.as("label"), id.as("id"), vec.as("v"),
      norm2(vec).as("n2"))
    val biggest = StatsCatalog.collect(base.groupBy(col("label"))
      .agg(count(lit(1)).as("n")).agg(max(col("n")))).head
    val maxB = if (biggest.isNullAt(0)) 0L else biggest.getLong(0)
    require(maxB <= maxBlockRows,
      s"cosineNearDupPairsBlocked: largest block has $maxB rows, over the " +
        s"exact-quadratic block bound $maxBlockRows. Re-block finer, use " +
        "cosineNearDupPairsLshAuto, or raise maxBlockRows explicitly.")
    base.as("a").join(base.as("b"),
        col("a.label") === col("b.label") && col("a.id") < col("b.id"))
      .select(col("a.id").as("d1"), col("b.id").as("d2"),
        (dot(col("a.v"), col("b.v")) /
          sqrt(col("a.n2") * col("b.n2"))).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("d1"), col("d2"), round(col("cos"), 4).as("cos"))
  }

  /** LSH-banded near-dup PAIRS — the scale path for [[cosineNearDupPairs]]
    * when no blocking key exists: candidates are pairs colliding in at
    * least one signed-random-projection band (bands × planesPerBand
    * hyperplanes = the first corpus vectors, deterministic), verified
    * with the exact cosine so every emitted pair is a true ≥ threshold
    * match. Recall is the banded-SRP curve: a pair at angle θ collides
    * per band with prob (1−θ/π)^p, OR'd over bands — sized for HIGH
    * thresholds (≥0.8), where all-pairs would be the only exact
    * alternative and is quadratic.
    *
    * Scale shape (r13 rebuild — VERDICT r12 item 1): coding is MAP-ONLY
    * (the native [[graft.plans.SrpCodes]] computes all band codes in one
    * compiled pass per row; the broadcast-join + partial-agg form it
    * replaces fanned out n×(p·bands) rows carrying both 64-dim vectors —
    * 1.46 G rows at the 2.2 M-vector probe leg). One shuffle into
    * (band, bucket) posting lists whose entries carry an S-band bit
    * SKETCH (S·p ≤ 128 bits — a prefix of the codes already computed);
    * pair generation and a hamming prune run fused in one codegen'd
    * Generator ([[graft.plans.HammingPrunedPairs]]), so sub-threshold
    * candidates die at generation time and the distinct + exact-verify
    * vector joins are sized by the ~linear-in-n survivors — the ×100
    * probe leg's verify join carried a ~550 B vector per candidate pair
    * (~75 GB spill, died twice on disk; SCALING.md r12). The prune cut
    * ([[hammingCut]]) is deterministic and mirrored verbatim in the
    * DuckDB oracle, so both engines verify the identical candidate set;
    * buckets past `bucketCap` are degenerate collision clusters and
    * contribute no pairs (the posting-list-cap contract, mirrored in
    * the oracle). No all-pairs anywhere; planes shortfall fails loudly
    * (a corpus must carry ids 0..p·bands−1). */
  def cosineNearDupPairsLsh(emb: DataFrame, id: Column, vec: Column,
                            threshold: Double, planesPerBand: Int,
                            bands: Int, bucketCap: Int = 1000): DataFrame = {
    val base = emb.select(id.cast("long").as("id"), vec.as("v"),
      norm2(vec).as("n2"))
    val planes = collectPlanes(base, planesPerBand * bands)
    val s = sketchBands(planesPerBand, bands)
    val hMax = hammingCut(s * planesPerBand, threshold)
    val nWords = (s * planesPerBand + 63) / 64
    // cw = [band codes..., packed sketch words...] — the sketch tail is
    // the first S band codes bit-packed into ≤ ceil(128/64) longs, so
    // each posting ENTRY carries 2 words, not S boxed longs (the
    // unpacked form's posting shuffle measured ~50 GB at the 2.2 M
    // probe leg; packed it is ~n·bands·48 B). Hamming over the packed
    // words equals the oracle's per-band bit_count(xor) sum exactly
    // (packing is a bit-position bijection).
    val coded = base.select(col("id"),
      call_function("srp_codes", col("v"),
        typedLit(planes.map(_.toSeq).toSeq), lit(planesPerBand), lit(s))
        .as("cw"))
    val entries = coded.select(col("id"),
      slice(col("cw"), bands + 1, nWords).as("sk"),
      posexplode(slice(col("cw"), 1, bands)).as(Seq("band", "bucket")))
    // Native flat posting aggregate (r13 opt round): each posting list is
    // one primitive long buffer of [id, sk words] records — no struct
    // boxing per entry, no comparator array_sort at eval (the flat pair
    // generator emits (least, greatest), so list order is unobservable).
    // The ×100 probe leg measured the boxed collect_list+array_sort form
    // as the pipeline's largest constant (~45 s of 62.6 s; SCALING.md).
    // The bucket-cap filter counts ENTRIES = size/width — bounds scale by
    // the width, an exact rewrite since size is always width-aligned.
    val w = nWords + 1
    val posting = entries.groupBy(col("band"), col("bucket"))
      .agg(call_function("posting_flat_agg",
        col("id"), col("sk"), lit(w)).as("es"))
      .where(size(col("es")).between(2 * w, bucketCap * w))
    // r14 measured-and-REJECTED (guide §1 discipline): repartitioning
    // the candidate stream by d1 before the distinct merges the dedup
    // exchange with the verify join's (2 exchanges → 1 in the plan) —
    // but the ×10-probe interleaved A/B ran it SLOWER (this shipped
    // shape 2.79 s vs the rejected 1-exchange form 3.18 s, min-of-3;
    // plan dump plans/r14/q91_lsh_neardup_pairs_1ex_rejected.txt): the
    // removed exchange carries only ~16 B × survivors (~3 MB at 200 k
    // candidates), the 1-exchange form gives up the Generate→partial-agg
    // codegen fusion, and hashing on d1 alone spreads worse than
    // (d1, d2) — a hub doc concentrates its pairs on one partition, the
    // §2.5 skew mode the two-key exchange is immune to. The (d1, d2)
    // distinct stays.
    val cand = posting.select(
        call_function("hamming_pruned_pairs_flat", col("es"), lit(w),
          lit(hMax)).as(Seq("d1", "d2")))
      .distinct()
    // Explicit merge hints on the verify joins: the candidate-pair side
    // sits above a Generate → aggregate chain whose size Catalyst
    // estimates from the PRE-explosion child, so a session can
    // catastrophically misjudge it as broadcastable — measured at sf10
    // (512 M candidate pairs ≈ 8 GiB) where the default-config Verify
    // session's runtime re-planning attempted to broadcast it and died
    // on the 8 GiB broadcast hard cap; the bench session already
    // sort-merge-joins here, so the hint changes nothing there. At any
    // scale both sides of these joins are data-dependent and large —
    // never broadcast on an estimate.
    cand.hint("merge")
      .join(base.select(col("id").as("d1"), col("v").as("v1"),
        col("n2").as("nn1")), Seq("d1"))
      .hint("merge")
      .join(base.select(col("id").as("d2"), col("v").as("v2"),
        col("n2").as("nn2")), Seq("d2"))
      .select(col("d1"), col("d2"), (dot(col("v1"), col("v2")) /
        sqrt(col("nn1") * col("nn2"))).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("d1"), col("d2"), round(col("cos"), 4).as("cos"))
  }

  /** Knob sizing for [[cosineNearDupPairsLsh]] at a given corpus size —
    * the scale math, kept pure so it is testable and auditable:
    *
    *  - planes per band `p = max(4, ceil(log2(n / targetBucket)))` keeps
    *    the expected bucket size ≈ targetBucket, so per-band candidate
    *    fan-out stays ~n·targetBucket (LINEAR in n). A fixed p is a
    *    silent quadratic: at 100× the corpus, 2^p buckets hold n/2^p
    *    vectors each and pair counts grow n²/2^p — and once density
    *    passes the bucket cap, every bucket is dropped and recall
    *    collapses to 0 (the same failure mode the SimHash fingerprints
    *    were widened for). The default targetBucket is SMALL (8): total
    *    verify work scales ∝ n^(1+ρ)·targetBucket^(1−ρ) with
    *    ρ = −log2(1−θ/π) ≈ 0.22 at cos 0.9, so fat buckets only inflate
    *    the candidate set (a 256 default measured 25× slower at 30×
    *    corpus in the scale probe) — extra bands are the cheap currency
    *    (one bucket shuffle each), bucket width is not.
    *  - bands `B = ceil(ln(1−targetRecall) / ln(1−(1−θ/π)^p))` from the
    *    SRP collision curve at the threshold angle θ: each band is an
    *    independent trial, so B bands give recall 1−(1−(1−θ/π)^p)^B for
    *    a pair exactly at the threshold (better-than-threshold pairs do
    *    better). Bands cost one bucket shuffle each, never all-pairs. */
  def lshPairKnobs(n: Long, threshold: Double, targetRecall: Double = 0.9,
                   targetBucket: Int = 8): (Int, Int) = {
    require(threshold > 0 && threshold < 1 && targetRecall > 0 && targetRecall < 1)
    val p = math.max(4, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2)).toInt)
    val perBand = math.pow(1 - math.acos(threshold) / math.Pi, p)
    val bands = math.max(2, math.ceil(
      math.log(1 - targetRecall) / math.log(1 - perBand)).toInt)
    (p, bands)
  }

  /** Sketch width for the hamming prune: the first S band codes, sized
    * so S·p ≤ 128 bits (two longs' worth of sign bits — enough to
    * separate threshold-angle pairs from random pairs by many σ). A
    * prefix of codes the coding pass already computed: zero extra dot
    * products. */
  def sketchBands(planesPerBand: Int, bands: Int): Int =
    math.min(bands, math.max(1, 128 / planesPerBand))

  /** Hamming cut for the sketch prune at `bits` sketch bits. The
    * per-plane disagreement probability of a pair at angle θ is f = θ/π
    * (the SRP collision curve), so a pair exactly at the threshold
    * angle has hamming ~ Binomial(bits, f): mean bits·f, σ =
    * √(bits·f·(1−f)). The cut is mean + 4σ — a true ≥-threshold pair
    * fails the prune with probability ~3e-5 (and identically in BOTH
    * engines: the cut is deterministic and the oracle mirrors it with
    * bit_count(xor(...)) over the same band codes, so the pruned set is
    * equal by construction), while pairs at wider angles die fast: at
    * 114 bits and threshold 0.9 the cut sits at cos ≈ 0.63, so random
    * pairs (θ ≈ π/2) pass with ~1e-9 and only genuinely-near pairs
    * reach the vector fetch. (An earlier 2.5·√bits margin was ~7σ and
    * admitted everything down to cos ≈ 0.37 — at the ×100 probe leg
    * that let all 135 M intra-cluster candidates through to the exact
    * verify; the 4σ form is the same recall bar with an honest width.)
    * When the cut reaches `bits` the prune degrades to a no-op (tiny
    * corpora), never below the banding's own recall. */
  def hammingCut(bits: Int, threshold: Double): Int = {
    val f = math.acos(threshold) / math.Pi
    math.ceil(bits * f + 4.0 * math.sqrt(bits * f * (1.0 - f))).toInt
  }

  /** The first `nPlanes` corpus vectors by id (ids 0..nPlanes−1 — the
    * deterministic SRP plane contract), collected as bounded driver
    * state (p·bands ≈ log²(n) rows under the auto knobs — a planning
    * statistic, the ivfAssign-centroid stance). Shortfall or null
    * planes fail LOUDLY (ADVICE r12): a partial plane set silently
    * zeroes code bits and collapses recall with no trace. */
  private def collectPlanes(base: DataFrame,
                            nPlanes: Int): Array[Array[Double]] = {
    val rows = StatsCatalog.collect(base.where(col("id") < nPlanes)
      .select(col("id").cast("long"), col("v")))
    require(rows.length == nPlanes,
      s"SRP planes: expected the first $nPlanes corpus vectors " +
        s"(ids 0..${nPlanes - 1}), found ${rows.length} — a partial plane " +
        "set silently degrades band bit-width and recall")
    rows.sortBy(_.getLong(0)).map(planeVector(_))
  }

  /** One `(id, vector)` plane or centroid row → dense double vector;
    * null vectors/elements are rejected with a message naming the row
    * (`what` and its id): a null plane would silently zero a code bit
    * for every corpus vector, a null centroid leaves no usable
    * quantizer. */
  private[graft] def planeVector(r: org.apache.spark.sql.Row,
                                 what: String = "SRP plane"): Array[Double] = {
    val s = r.getSeq[Any](1)
    require(s != null, s"$what ${r.get(0)}: null vector")
    s.map {
      case f: Float => f.toDouble
      case d: Double => d
      case other => throw new IllegalArgumentException(
        s"$what ${r.get(0)}: null or non-numeric element ($other)")
    }.toArray
  }

  /** [[cosineNearDupPairsLsh]] with knobs auto-sized from the corpus
    * count via [[lshPairKnobs]] — the form a production near-dup pass
    * uses (the count is one cheap aggregate; a planning statistic). */
  def cosineNearDupPairsLshAuto(emb: DataFrame, id: Column, vec: Column,
                                threshold: Double, targetRecall: Double = 0.9,
                                targetBucket: Int = 8,
                                bucketCap: Int = 1000): DataFrame = {
    val (p, bands) = lshPairKnobs(StatsCatalog.count(emb), threshold,
      targetRecall, targetBucket)
    cosineNearDupPairsLsh(emb, id, vec, threshold, p, bands, bucketCap)
  }

  /** Signed-random-projection bucket id per vector: bit p = sign of the
    * dot product against plane p, planes = the first P corpus vectors
    * (deterministic, no shared RNG with the oracle). r13: coding is the
    * map-only [[graft.plans.SrpCodes]] (one band of P bits) — the
    * broadcast-join + partial-agg form it replaces materialized both
    * vectors on every one of the n×P fan-out rows. */
  def lshBuckets(emb: DataFrame, id: Column, vec: Column,
                 planes: Int): DataFrame = {
    val base = emb.select(id.as("id"), vec.as("v"))
    val pl = collectPlanes(base, planes)
    base.select(col("id"),
      element_at(call_function("srp_codes", col("v"),
        typedLit(pl.map(_.toSeq).toSeq), lit(planes)), 1).as("bucket"))
  }

  /** The first-K centroid stand-in: the corpus vectors with id < `k`,
    * by id — a deterministic substitute for the k-means training step,
    * so engine and oracle share no trained state. One bounded collect
    * (K rows by contract; a trained IVF collects the same K×d matrix per
    * round). Null centroids fail LOUDLY (ADVICE r12): the contract (a
    * usable quantizer) requires dense centroids. */
  def firstKCentroids(emb: DataFrame, id: Column, vec: Column,
                      k: Int): Seq[(Int, Seq[Double])] =
    StatsCatalog.collect(emb.select(id.cast("long").as("id"), vec.as("v"))
        .where(col("id") < k))
      .map(r => (Math.toIntExact(r.getLong(0)),
        planeVector(r, "IVF centroid").toSeq))
      .sortBy(_._1).toSeq

  /** IVF cell assignment: `(id, v, n2, cell)` with `cell` the nearest of
    * `cents` by squared euclidean distance (argmin over `‖c‖² − 2·v·c`;
    * ‖v‖² is constant per vector and drops out), ties broken by centroid
    * id. The one assignment kernel: first-K ([[firstKCentroids]]),
    * trained centroids and the [[kmeansCentroids]] Lloyd step all run it.
    *
    * ONE map-only projection: the codegen'd `nearest_centroid` argmin
    * loops the K×d matrix per row — the lexicographic (s, c_id) minimum
    * of the `min(struct(s, c_id))` broadcast-join form it replaced, with
    * bit-equal dots, zero shuffle. r12: that join's n×K fan-out
    * materialized both vectors on every joined row before the argmin
    * aggregate — 274.9 s at 220 k vectors × 860 cells. A null `v` on a
    * data row gets the lowest centroid id (the join form's nulls-first
    * struct-min — see graft.plans.NearestCentroid); an empty centroid
    * list assigns no rows, as the join form's empty inner join did. */
  def ivfAssign(emb: DataFrame, id: Column, vec: Column,
                cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val base = emb.select(id.as("id"), vec.as("v"), norm2(vec).as("n2"))
    if (cents.isEmpty)
      return base.withColumn("cell", lit(null).cast("long")).where(lit(false))
    base.select(col("id"), col("v"), col("n2"),
      call_function("nearest_centroid", col("v"),
        typedLit(cents.map(_._1.toLong)),
        typedLit(cents.map { case (_, cv) => sqNorm(cv) }),
        typedLit(cents.map(_._2))).as("cell"))
  }

  /** ‖c‖² as [[dot]] computes it: left-to-right double fold. */
  private def sqNorm(cv: Seq[Double]): Double =
    cv.foldLeft(0.0)((acc, x) => acc + x * x)

  /** IVF ANN (nprobe = 1) over the first-K centroid stand-in: exact
    * cosine top-k within the query's own cell — the oracle-shareable
    * q56 form of [[annIvfWith]]. */
  def annIvf(emb: DataFrame, id: Column, vec: Column,
             kCentroids: Int, nQueries: Int, k: Int): DataFrame =
    annIvfWith(emb, id, vec, firstKCentroids(emb, id, vec, kCentroids),
      nprobe = 1, nQueries, k)

  /** Distributed Lloyd's k-means — the IVF training step the first-K
    * stand-in ([[firstKCentroids]], q56) skips. Init = deterministic
    * farthest-point ([[farthestPointInit]]); each iteration: (1) assign
    * every vector to the nearest of the K current centroids
    * ([[ivfAssign]]), (2) recompute element-wise means with one
    * `posexplode` + (cell, dim) hash aggregate — map-side combined, K·d
    * result rows. Empty cells keep their previous centroid so K never
    * shrinks.
    *
    * Scale stance: per iteration one map-only assignment + one aggregate
    * over N·d exploded rows — linear, no pairwise anything. The K×d centroid
    * state collected per round is bounded DRIVER state by contract (the
    * assignment ships the centroid set to every task anyway), not a data
    * collect. `iters` is small (Lloyd's converges fast on IVF-grade
    * quantization; FAISS defaults to 10-25).
    */
  def kmeansCentroids(emb: DataFrame, id: Column, vec: Column,
                      k: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(id.as("id"),
        transform(vec, x => x.cast("double")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cents = farthestPointInit(base, k)
      for (_ <- 1 to iters) {
        val means = ivfAssign(base, col("id"), col("v"), cents)
          .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy(col("cell"), col("dim"))
          .agg(avg(col("x")).as("mx"))
          .groupBy(col("cell"))
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("mx")))),
            s => s.getField("mx")).as("c_v"))
          .select(col("cell").cast("int"), col("c_v"))
          .as[(Int, Seq[Double])].collect().toMap
        cents = cents.map { case (cid, cv) => (cid, means.getOrElse(cid, cv)) }
      }
      cents
    } finally { base.unpersist(); () }
  }

  /** Deterministic farthest-point init (the greedy max-min k-means++
    * analogue): start at the lowest-id vector, then repeatedly add the
    * vector farthest from its nearest chosen centroid (ties → lowest
    * id). Immune to the first-K degenerate case where the head of the
    * table sits inside ONE true cluster — first-K init there leaves
    * Lloyd's in a local optimum that splits that cluster and merges the
    * rest. K−1 bounded scan-aggregate passes; at TB scale the trainer
    * runs on a sample (training is offline — the assignment join is the
    * scale path). `base` must carry (id, v array<double>, n2). */
  private def farthestPointInit(base: DataFrame,
                                k: Int): Seq[(Int, Seq[Double])] = {
    val spark = base.sparkSession
    import spark.implicits._
    val seed = base.orderBy(col("id").asc).limit(1)
      .select(col("v")).as[Seq[Double]].head()
    var chosen = Vector(seed)
    while (chosen.length < k) {
      val cdf = broadcast(centroidFrame(spark,
        chosen.zipWithIndex.map { case (cv, i) => (i, cv) }))
      val next = base.join(cdf)
        .groupBy(col("id"))
        .agg(min(col("n2") + col("cn2") - lit(2.0) * dot(col("v"), col("c_v")))
          .as("d"), first(col("v")).as("v"))
        .orderBy(col("d").desc, col("id").asc).limit(1)
        .select(col("v")).as[Seq[Double]].head()
      chosen = chosen :+ next
    }
    chosen.zipWithIndex.map { case (cv, i) => (i, cv) }
  }

  /** Broadcastable centroid frame `(c_id, c_v, cn2)` from an explicit
    * centroid list (trained or hand-picked). */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
                            cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cents.map { case (cid, cv) => (cid, cv, sqNorm(cv)) }
      .toDF("c_id", "c_v", "cn2")
  }

  /** IVF ANN against an explicit centroid list with multi-cell probing:
    * the corpus is assigned to its single nearest cell; each query
    * probes its `nprobe` nearest cells (FAISS's recall knob). The probe
    * is one equi-join on the cell id — fan-out ~`nprobe/K` of the corpus
    * per query, no all-pairs path. Output shape = [[knnBruteForce]].
    */
  def annIvfWith(emb: DataFrame, id: Column, vec: Column,
                 cents: Seq[(Int, Seq[Double])], nprobe: Int,
                 nQueries: Int, k: Int): DataFrame = {
    val cdf = broadcast(centroidFrame(emb.sparkSession, cents))
    val corpus = ivfAssign(emb, id, vec, cents)
    val q = rankPerQuery(corpus.where(col("id") < nQueries).join(cdf)
        .select(col("id").as("q_id"), col("v").as("q_v"), col("n2").as("q_n2"),
          (col("cn2") - lit(2.0) * dot(col("v"), col("c_v"))).as("s"),
          col("c_id")),
        nprobe, col("s").asc, col("c_id").asc)
      .select(col("q_id"), col("q_v"), col("q_n2"), col("c_id").as("q_cell"))
    // no distinct needed: the corpus side has ONE cell per id and the
    // probed cells are distinct per query, so a pair appears at most once
    val scored = corpus.as("c")
      .join(broadcast(q),
        col("q_cell") === col("cell") && col("q_id") =!= col("id"))
      .select(col("q_id"), col("id").as("n_id"),
        (dot(col("q_v"), col("v")) / sqrt(col("q_n2") * col("n2"))).as("cos"))
    topK(scored, "cos", descending = true, k)
  }

  /** Trained IVF ANN: k-means centroids ([[kmeansCentroids]]) + nprobe
    * probing. The first-K variant ([[annIvf]]) stays as the oracle query
    * (q56) because it shares no trained state with DuckDB. */
  def annIvfTrained(emb: DataFrame, id: Column, vec: Column,
                    kCentroids: Int, iters: Int, nprobe: Int,
                    nQueries: Int, k: Int): DataFrame =
    annIvfWith(emb, id, vec,
      kmeansCentroids(emb, id, vec, kCentroids, iters), nprobe, nQueries, k)

  /** Multi-band LSH ANN: `bands` independent signed-random-projection
    * codes of `planesPerBand` bits each (band b uses corpus vectors
    * [b·P, (b+1)·P) as its planes); a corpus vector is a candidate for a
    * query when they share ANY band's bucket. Exact cosine top-k over the
    * unioned candidates.
    *
    * This is the recall knob the single-band [[annLsh]] lacks: measured on
    * the sf0.1 embeddings (random vectors — the hard case, see
    * docs/SCALING.md), recall@10 rises from 0.15 (1 band) towards 1 with
    * added bands while each band's bucket stays small. Scale shape: one
    * bucket-equi-join per band (B small, e.g. 4-8) + a distinct on
    * (q_id, n_id) + one top-k window — no all-pairs path; per-band
    * fan-out is still N/2^P. */
  def annLshBanded(emb: DataFrame, id: Column, vec: Column,
                   planesPerBand: Int, bands: Int, nQueries: Int,
                   k: Int): DataFrame = {
    val base = emb.select(id.as("id"), vec.as("v"), norm2(vec).as("n2"))
    // (id, band) -> bucket code within that band; map-only srp_codes
    // (r13) — same values as the broadcast-plane join + bit-sum form,
    // without the n×(p·bands) fan-out carrying both vectors
    val pl = collectPlanes(base, planesPerBand * bands)
    val coded = base.select(col("id"),
        posexplode(call_function("srp_codes", col("v"),
          typedLit(pl.map(_.toSeq).toSeq), lit(planesPerBand)))
          .as(Seq("band", "bucket")))
    val q = coded.where(col("id") < nQueries)
      .select(col("id").as("q_id"), col("band").as("q_band"),
        col("bucket").as("q_bucket"))
    val cand = coded.join(broadcast(q),
        col("q_band") === col("band") && col("q_bucket") === col("bucket") &&
          col("q_id") =!= col("id"))
      .select(col("q_id"), col("id").as("n_id")).distinct()
    val scored = cand
      .join(base.select(col("id"), col("v"), col("n2")), cand("n_id") === col("id"))
      .join(broadcast(base.where(col("id") < nQueries)
        .select(col("id").as("qq"), col("v").as("q_v"), col("n2").as("q_n2"))),
        col("q_id") === col("qq"))
      .select(col("q_id"), col("n_id"),
        (dot(col("q_v"), col("v")) / sqrt(col("q_n2") * col("n2"))).as("cos"))
    topK(scored, "cos", descending = true, k)
  }

  /** Recall@k of an ANN result against the brute-force ground truth:
    * per query, |ANN top-k ∩ exact top-k| / k (the standard ANN quality
    * metric). Both inputs are the `(q_id, rank, n_id, cos)` shape the ANN
    * operators emit. Distributed: one equi-join on (q_id, n_id) + one
    * aggregation — usable at full corpus scale as a shadow-quality job.
    * Queries the ANN missed entirely (empty bucket/cell) still count:
    * the right-join keeps every exact-side query at recall 0. */
  def recallAtK(ann: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val a = ann.where(col("rank") <= k)
      .select(col("q_id"), col("n_id"), lit(1).as("hit"))
    val e = exact.where(col("rank") <= k).select(col("q_id"), col("n_id"))
    e.join(a, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg((sum(coalesce(col("hit"), lit(0))) / lit(k)).as("recall"))
  }

  /** LSH-bucketed ANN: exact cosine top-k *within the query's bucket*.
    * Same output shape as [[knnBruteForce]]; recall < 1 by design. */
  def annLsh(emb: DataFrame, id: Column, vec: Column,
             planes: Int, nQueries: Int, k: Int): DataFrame = {
    val base = emb.select(id.as("id"), vec.as("v"), norm2(vec).as("n2"))
    val bucketed = base.join(lshBuckets(emb, id, vec, planes), "id")
    val q = bucketed.where(col("id") < nQueries)
      .select(col("id").as("q_id"), col("v").as("q_v"),
        col("n2").as("q_n2"), col("bucket").as("q_bucket"))
    val scored = bucketed.as("c")
      .join(broadcast(q),
        col("q_bucket") === col("bucket") && col("q_id") =!= col("id"))
      .select(col("q_id"), col("id").as("n_id"),
        (dot(col("q_v"), col("v")) / sqrt(col("q_n2") * col("n2"))).as("cos"))
    topK(scored, "cos", descending = true, k)
  }

  // ---------------------------------------------- product quantization

  /** Per-vector subspace slices `(id, sub, sv)` — the common first step
    * of every PQ stage. `dsub` = dims per subspace; slicing is a literal
    * explode of `m` struct entries, no shuffle. */
  private def pqSlices(emb: DataFrame, id: Column, vec: Column,
                       m: Int, dsub: Int): DataFrame =
    emb.select(id.as("id"), explode(array((0 until m).map { j =>
      struct(lit(j).as("sub"),
        slice(transform(vec, x => x.cast("double")),
          j * dsub + 1, dsub).as("sv"))
    }: _*)).as("e"))
      .select(col("id"), col("e.sub").as("sub"), col("e.sv").as("sv"))

  /** Deterministic first-K PQ codebooks AS A FRAME `(sub, code, c_v,
    * cn2)`: subspace `j`'s codebook = the slices of the first `ksub`
    * corpus vectors (id order) — the oracle-shareable stand-in, same
    * stance as [[ivfAssign]]'s first-K centroids. All arithmetic stays
    * in Spark expressions so the DuckDB twin is bit-identical. */
  def pqCodebookFirstK(emb: DataFrame, id: Column, vec: Column,
                       m: Int, dsub: Int, ksub: Int): DataFrame = {
    pqSlices(emb.where(id < ksub), id, vec, m, dsub)
      .select(col("sub"), col("id").cast("int").as("code"),
        col("sv").as("c_v"), dot(col("sv"), col("sv")).as("cn2"))
  }

  /** Trained PQ codebooks: an independent [[kmeansCentroids]] per
    * subspace (classic PQ training — subspaces quantize independently,
    * which is what makes the M small codebooks equivalent to one
    * `ksub^M`-cell quantizer). Returns the same frame shape as
    * [[pqCodebookFirstK]]. */
  def pqCodebooksTrained(emb: DataFrame, id: Column, vec: Column,
                         m: Int, dsub: Int, ksub: Int,
                         iters: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = (0 until m).flatMap { j =>
      kmeansCentroids(emb, id,
        slice(transform(vec, x => x.cast("double")), j * dsub + 1, dsub),
        ksub, iters)
        .map { case (code, cv) => (j, code, cv) }
    }
    cents.toDF("sub", "code", "c_v")
      .select(col("sub"), col("code"), col("c_v"),
        dot(col("c_v"), col("c_v")).as("cn2"))
  }

  /** PQ encode: each vector → `m` codebook indices (one byte each at
    * ksub ≤ 256 — a 64-dim float vector compresses 64×, which is what
    * lets a 10⁹-vector corpus live in executor memory for the ADC scan).
    * Argmin per subspace over the broadcast codebook with the reduced
    * distance `‖c‖² − 2·v·c` (the `‖v‖²` term is constant per argmin);
    * ties break to the lowest code via struct-min. Shape: one broadcast
    * join (m·ksub rows) + two key-local aggregations — corpus-linear,
    * no pairwise stage. */
  def pqEncode(emb: DataFrame, id: Column, vec: Column,
               m: Int, dsub: Int, codebook: DataFrame): DataFrame = {
    pqSlices(emb, id, vec, m, dsub)
      .join(broadcast(codebook), Seq("sub"))
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(
        (col("cn2") - lit(2.0) * dot(col("sv"), col("c_v"))).as("d"),
        col("code").as("code"))).as("best"))
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("best.code").as("code")))),
        s => s.getField("code")).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: queries stay RAW,
    * the corpus is scanned as codes only. Per query a lookup table
    * `pd(sub, code) = ‖q_sub‖² + ‖c‖² − 2·q_sub·c` (m·ksub entries) is
    * built once and broadcast; each encoded vector's distance estimate
    * is the sub-wise LUT sum — m lookups per (query, vector), never a
    * full d-dim dot. Sums go through DECIMAL so the hash is addition-
    * order-independent. Output mirrors [[knnBruteForce]]'s shape with
    * `est` = estimated squared euclidean distance (ascending). */
  def pqAdcTopK(emb: DataFrame, id: Column, vec: Column,
                m: Int, dsub: Int, codebook: DataFrame,
                nQueries: Int, k: Int): DataFrame = {
    val enc = pqEncode(emb, id, vec, m, dsub, codebook)
    val lut = pqSlices(emb.where(id < nQueries), id, vec, m, dsub)
      .join(broadcast(codebook), Seq("sub"))
      .select(col("id").as("q_id"), col("sub"), col("code"),
        (dot(col("sv"), col("sv")) + col("cn2") -
          lit(2.0) * dot(col("sv"), col("c_v")))
          .cast("decimal(27,10)").as("pd"))
    val scored = enc
      .select(col("id").as("n_id"), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(lut), Seq("sub", "code"))
      .where(col("q_id") =!= col("n_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("pd")).cast("double").as("est"))
    topK(scored, "est", descending = false, k)
  }

  /** IVF-PQ (IVFADC, Jégou/Douze/Schmid 2011 §IV): the composed
    * billion-vector serving shape — a coarse quantizer shards the corpus
    * into `kCoarse` cells (a probe touches `nprobe/kCoarse` of the
    * data), and within each cell vectors are PQ codes of their RESIDUAL
    * `v − centroid(cell)` (residuals concentrate near 0, so the same
    * codebook budget quantizes far finer than raw-vector PQ). A query
    * probes its `nprobe` nearest cells; per probed cell it builds the
    * ADC LUT from its OWN residual `q − centroid(cell)`, so the coarse
    * term needs no separate correction: `‖q − c − r̂‖² = Σ_sub
    * ‖q_res,sub − r̂_sub‖²`.
    *
    * Scale shape: assignment + encode are corpus-linear broadcast joins
    * (index build, offline); serving is one equi-join of byte codes
    * against a broadcast `(q, probed-cell, sub, code)` LUT — never a
    * full-dim dot against the corpus, never an all-pairs stage. The
    * `zip_with` residual subtraction is interpreted (HOF) but sits in
    * the offline encode path, off the per-query hot loop.
    *
    * First-`kCoarse` centroids + first-`ksub` residual codebooks keep
    * every stage oracle-shareable (q98; same stance as q56/q95 — the
    * trained path composes [[kmeansCentroids]] / [[pqCodebooksTrained]]
    * on the same frames). Output mirrors [[pqAdcTopK]]: estimated
    * squared euclidean distance, ascending, DECIMAL-summed so the hash
    * is addition-order-independent. */
  def ivfPqAdcTopK(emb: DataFrame, id: Column, vec: Column,
                   kCoarse: Int, nprobe: Int, m: Int, dsub: Int, ksub: Int,
                   nQueries: Int, k: Int): DataFrame =
    ivfPqAdc(emb, id, vec, firstKCentroids(emb, id, vec, kCoarse),
      resid => pqCodebookFirstK(resid, col("id"), col("res"), m, dsub, ksub),
      nprobe, m, dsub, nQueries, k)

  /** [[ivfPqAdcTopK]] with TRAINED quantizers at both levels: coarse
    * cells from [[kmeansCentroids]] (farthest-point init, Lloyd's) and
    * residual codebooks from [[pqCodebooksTrained]] (independent k-means
    * per subspace over the residuals). Same serving shape; only the
    * offline index-build stages change — this is the production
    * composition the first-K q98 oracle stands in for (trained state
    * can't be shared with DuckDB). */
  def ivfPqAdcTopKTrained(emb: DataFrame, id: Column, vec: Column,
                          kCoarse: Int, coarseIters: Int, pqIters: Int,
                          nprobe: Int, m: Int, dsub: Int, ksub: Int,
                          nQueries: Int, k: Int): DataFrame =
    ivfPqAdc(emb, id, vec, kmeansCentroids(emb, id, vec, kCoarse, coarseIters),
      resid => pqCodebooksTrained(resid, col("id"), col("res"),
        m, dsub, ksub, pqIters),
      nprobe, m, dsub, nQueries, k)

  /** The IVF-PQ body over a coarse centroid list: cell assignment,
    * residuals, residual-codebook build (`mkCodebook` over the
    * `(id, cell, res)` frame), PQ encode, per-(query, probed-cell)
    * residual LUTs, byte-code equi-join scan, top-k. */
  private def ivfPqAdc(emb: DataFrame, id: Column, vec: Column,
                       coarse: Seq[(Int, Seq[Double])],
                       mkCodebook: DataFrame => DataFrame,
                       nprobe: Int, m: Int, dsub: Int,
                       nQueries: Int, k: Int): DataFrame = {
    val cents = centroidFrame(emb.sparkSession, coarse) // (c_id, c_v, cn2)
    val cells = ivfAssign(emb, id, vec, coarse) // (id, v, n2, cell)
    val resid = cells.join(broadcast(cents), col("cell") === col("c_id"))
      .select(col("id"), col("cell"),
        zip_with(transform(col("v"), x => x.cast("double")), col("c_v"),
          (a, b) => a - b).as("res"))
    val cb = mkCodebook(resid)
    val enc = pqEncode(resid, col("id"), col("res"), m, dsub, cb)
      .join(cells.select(col("id"), col("cell")), Seq("id"))
    // query side: nprobe nearest coarse cells, one residual LUT per
    // (query, probed cell)
    val qprobe = rankPerQuery(emb.where(id < nQueries)
        .select(id.as("q_id"), transform(vec, x => x.cast("double")).as("q_v"))
        .join(broadcast(cents)),
        nprobe, (col("cn2") - lit(2.0) * dot(col("q_v"), col("c_v"))).asc,
        col("c_id").asc)
      .select(col("q_id"), col("c_id").as("q_cell"),
        zip_with(col("q_v"), col("c_v"), (a, b) => a - b).as("q_res"))
    val lut = qprobe.select(col("q_id"), col("q_cell"),
        explode(array((0 until m).map { j =>
          struct(lit(j).as("sub"),
            slice(col("q_res"), j * dsub + 1, dsub).as("sv"))
        }: _*)).as("e"))
      .select(col("q_id"), col("q_cell"),
        col("e.sub").as("sub"), col("e.sv").as("sv"))
      .join(broadcast(cb), Seq("sub"))
      .select(col("q_id"), col("q_cell"), col("sub").as("l_sub"),
        col("code").as("l_code"),
        (dot(col("sv"), col("sv")) + col("cn2") -
          lit(2.0) * dot(col("sv"), col("c_v")))
          .cast("decimal(27,10)").as("pd"))
    val scored = enc
      .select(col("id").as("n_id"), col("cell"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(lut),
        col("cell") === col("q_cell") && col("sub") === col("l_sub") &&
          col("code") === col("l_code"))
      .where(col("q_id") =!= col("n_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("pd")).cast("double").as("est"))
    topK(scored, "est", descending = false, k)
  }

  /** ADC + exact rerank — the standard PQ serving recipe: the compressed
    * scan shortlists `rerank·k` candidates per query (8 LUT lookups per
    * corpus vector), then ONLY the shortlist pays a raw-vector fetch +
    * exact distance. At 10⁹ vectors that is 10⁹ byte-code lookups plus
    * `rerank·k·nQueries` full dots — the raw vectors can stay on disk
    * (parquet column) because the join touches `rerank·k` rows per
    * query, not the corpus. Output: exact squared euclidean distance,
    * ascending. */
  def pqAdcRerankTopK(emb: DataFrame, id: Column, vec: Column,
                      m: Int, dsub: Int, codebook: DataFrame,
                      nQueries: Int, k: Int, rerank: Int): DataFrame = {
    val shortlist = pqAdcTopK(emb, id, vec, m, dsub, codebook,
        nQueries, k * rerank)
      .select(col("q_id"), col("n_id"))
    val base = emb.select(id.as("id"),
      transform(vec, x => x.cast("double")).as("v"))
      .withColumn("n2", norm2(col("v")))
    val q = base.where(col("id") < nQueries)
      .select(col("id").as("q_id"), col("v").as("q_v"), col("n2").as("q_n2"))
    val scored = shortlist
      .join(base, shortlist("n_id") === base("id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        (col("q_n2") + col("n2") - lit(2.0) * dot(col("q_v"), col("v")))
          .as("d2"))
    topK(scored, "d2", descending = false, k)
  }
}
