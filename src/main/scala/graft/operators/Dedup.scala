package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.StatsCatalog
import graft.functions.TextFunctions._

/** Document deduplication for training-data pipelines: exact (hash
  * group-by), n-gram Jaccard, MinHash+LSH banding, and SimHash with
  * block-blocked Hamming search.
  *
  * Scale notes (100 TB): every method here is a pure shuffle-on-key plan —
  * no driver-side collection, no broadcast of per-document state.
  *   - exact: one shuffle on the 60-bit content hash.
  *   - n-gram Jaccard: the shingle inverted index explodes ~|doc| rows per
  *     document; the self-join shuffles on the shingle string. Hot
  *     shingles (stopword trigrams) are the skew risk: one ubiquitous
  *     shingle fans out quadratically within its join key. The
  *     `maxShingleDf` cap drops shingles with document frequency above
  *     the cap from CANDIDATE GENERATION only (statistically sound —
  *     ubiquitous shingles carry no signal), bounding per-shingle
  *     fan-out at cap²; the Jaccard itself is then verified exactly on
  *     the FULL shingle sets of the surviving candidate pairs, so the
  *     reported similarity is unchanged. AQE skew-join handles the
  *     remainder.
  *   - MinHash/LSH replaces the quadratic verify set with banded
  *     signatures: k min-hashes per doc (one shuffle), band keys, and a
  *     bucket self-join whose fan-out is bounded by band collision rate.
  *   - SimHash: one 64→32-bit signature per doc; candidate pairs come
  *     from 4×8-bit block equality (pigeonhole: complete for Hamming ≤ 3),
  *     so the join key is (block index, block value) — never a cross join.
  */
object Dedup {

  /** Exact dedup on normalized content hash: keeps the lowest id per
    * group, reports the group size. Reference analogue: REPLACE INTO
    * upsert on the UNIQUE datum key (MySQLdbSetup.sql:171) generalized to
    * content identity. */
  def exact(df: DataFrame, id: Column, text: Column): DataFrame = {
    val norm = trim(regexp_replace(lower(text), " +", " "))
    df.select(id.as("id"), md5(norm).as("text_md5"))
      .groupBy(col("text_md5"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Native one-pass shingling (r10): `ngram_shingles(text, n)` replaces
    * the tokenize→HOF-shingle two-step — the declarative chain's regexp
    * squeeze + split + interpreted per-shingle `concat_ws` lambda was the
    * single widest cost in every shingle pipeline (30.8 s of the q26
    * sf10 budget, docs/SCALING.md r9). Semantics pinned equal to the old
    * chain (and the DuckDB oracle twin) by ShinglePairSpec. */
  private def shingleCol(text: Column, n: Int): Column =
    call_function("ngram_shingles", text, lit(n))

  /** One row per document with its DISTINCT shingle array — a narrow
    * scan projection, no shuffle (ngram_shingles already dedups). */
  private def shingleSets(df: DataFrame, id: Column, text: Column,
                          n: Int): DataFrame =
    df.select(id.as("id"), shingleCol(text, n).as("hs"))

  /** One (id, shingle) row per distinct shingle — the inverted-index
    * view. Explodes the (native, single-expression) shingle column
    * directly inside the Generate node. */
  private def shingleRows(df: DataFrame, id: Column, text: Column,
                          n: Int): DataFrame =
    df.select(id.as("id"), explode(shingleCol(text, n)).as("s"))

  /** Exact Jaccard over a (d1, d2) candidate pair set: aggregate each
    * document's FULL (already-distinct) shingle set into ONE array row,
    * join the pairs to the two array columns, and count the intersection
    * with `array_intersect` — two narrow hash joins (one row per doc per
    * side) instead of re-exploding |doc| shingle rows per pair, which
    * cost a 3.5× bench regression in an earlier formulation. Array size
    * is bounded by document length, so rows stay small at any corpus
    * scale. Shared verify stage of the capped inverted-index path and
    * the LSH path — candidates only, never all pairs. `sets` is the
    * [[shingleSets]] frame: (id, hs) straight from the scan projection,
    * no aggregation needed. */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame,
                            threshold: Double): DataFrame = {
    cand
      .join(sets.select(col("id").as("d1"), col("hs").as("h1")), "d1")
      .join(sets.select(col("id").as("d2"), col("hs").as("h2")), "d2")
      .withColumn("n_inter", size(array_intersect(col("h1"), col("h2"))))
      .withColumn("jac", round(col("n_inter") /
        (size(col("h1")) + size(col("h2")) - col("n_inter")).cast("double"), 4))
      .where(col("jac") >= threshold)
      .select(col("d1"), col("d2"), col("jac"))
  }

  /** All document pairs with word n-gram Jaccard ≥ threshold, via a
    * shingle inverted-index self-join. With `maxShingleDf = Some(cap)`,
    * shingles present in more than `cap` documents are excluded from
    * candidate generation (bounded fan-out — the 100 TB configuration);
    * the Jaccard of each surviving candidate is still computed exactly
    * on the full shingle sets. A true pair is missed only if EVERY
    * shared shingle exceeds the cap. Two ways that happens: (a) a
    * document made entirely of ubiquitous boilerplate — content a dedup
    * pass should not key on anyway; (b) a duplicate CLUSTER larger than
    * the cap (k near-identical docs push every shared shingle's df to
    * ≥ k). So the cap must exceed the largest expected duplicate-cluster
    * size — and the standard pipeline order handles the rest: run
    * [[exact]] dedup first so identical copies collapse to one
    * representative before near-dup detection. */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
                        n: Int, threshold: Double,
                        maxShingleDf: Option[Int] = None): DataFrame = {
    val sh = shingleRows(df, id, text, n)
    maxShingleDf match {
      case None =>
        val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
        val inter = sh.as("a").join(sh.as("b"),
            col("a.s") === col("b.s") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("d1"), col("b.id").as("d2"))
          .agg(count(lit(1)).as("n_inter"))
        inter
          .join(sizes.select(col("id").as("d1"), col("n_sh").as("n1")), "d1")
          .join(sizes.select(col("id").as("d2"), col("n_sh").as("n2")), "d2")
          .withColumn("jac", round(col("n_inter") /
            (col("n1") + col("n2") - col("n_inter")).cast("double"), 4))
          .where(col("jac") >= threshold)
          .select(col("d1"), col("d2"), col("jac"))
      case Some(cap) =>
        // Posting-list candidate generation: group each under-cap
        // shingle's (distinct, sorted) doc-id list; ordered pairs explode
        // in-place from the array — ≤ cap·(cap−1)/2 per shingle, no
        // self-join. Alternatives measured at sf0.1 (min-of-5, same
        // oracle): broadcast-anti-join of the (tiny) hot-shingle set +
        // s-keyed self-join 8.5 s and one more wide shuffle at scale;
        // low-df semi-join 11.5 s; window df-count 17.8 s (forces a full
        // sort). r5: pre-hashing shingles to 60-bit longs (md5-prefix,
        // the portable cross-engine hash) to shrink the shuffle payload
        // measured 10.8 s — the per-shingle md5 chain costs far more than
        // the string bytes save; with a cheap non-portable hash
        // (xxhash64) the oracle twin is lost (a collision MERGES two
        // posting lists: the shared-shingle count inflates and a real
        // shingle can be pushed over the cap — exactness becomes
        // "w.h.p."). Strings stay. r9 also measured (DfProbe stages,
        // sf10) a df-count-then-Bloom-prefilter variant of this build —
        // a net LOSS on this corpus shape (q26 sf10 91 s → 158 s): 99%
        // of shingle hash groups here have df ≥ 2, so the prefilter
        // dropped ~nothing and its extra tokenize+count pass (~44 s at
        // sf10) was pure overhead. Kept out; the df-1-dominated web-
        // corpus case it targets is served by the cap semantics anyway.
        //
        // r8 scale fix. The r1-r7 shape piped DISTINCT candidate pairs
        // into [[verifyJaccard]]; profiled at sf10 (DfProbe) that join
        // was the superlinear stage — 133 M candidate pairs (for 75 k
        // true pairs), each join row carrying TWO ~50-element shingle
        // arrays (~3 KB/row ≈ 380 GB of join payload → spill), +173 s of
        // the 273 s total, where sf1 paid +11 s. The fix computes the
        // intersection WITHOUT arrays:
        //  - i_uc  = # shared shingles with df ∈ [2, cap]: the pair
        //    explode feeds a fixed-width (d1,d2) count aggregate — the
        //    same shuffle volume the old `.distinct()` already paid, now
        //    yielding the intersection for free. df = 1 shingles cannot
        //    be shared, so i_uc misses only OVER-cap shared shingles.
        //  - oc    = per-doc count of over-cap shingles (explode of the
        //    few dropped hot lists). A pair's full intersection i lies in
        //    [i_uc, i_uc + min(oc1, oc2)].
        //  - min(oc1, oc2) = 0 (the overwhelming case): i = i_uc EXACTLY
        //    — Jaccard from counts, no array verify at all.
        //  - else: upper-bound prune (jac is monotone in i), then exact
        //    [[verifyJaccard]] on the survivors — whose docs all have
        //    oc ≥ 1, so the verify-side shingle projection is computed
        //    AFTER a semi-join on that tiny id set.
        //
        // r9 payload fix on top (VERDICT r7 item 1): the r8 tail joined
        // the (huge — ~cap²/2 per shingle) candidate-count aggregate
        // against the per-doc size frame TWICE to fetch n1/n2 before the
        // threshold filter could run — two shuffle joins sized by the
        // CANDIDATE space, plus a separate tokenize pass to build the
        // size frame. Now each posting-list element PACKS (id, n_sh)
        // into one long (`id << 21 | n_sh`): sizes ride the
        // already-paid posting shuffle at zero widening (lists stay
        // primitive long arrays), the pair generator emits packed
        // values, and the Jaccard filter applies DIRECTLY on the count
        // aggregate's output after bit-unpacking — no joins sized by
        // the candidate space anywhere (the remaining oc joins are
        // against the over-cap doc set). One tokenize pass total for the
        // build; only the exact-verify leg re-tokenizes, for the oc-doc
        // subset alone. Packed values sort identically to ids (id in the
        // high bits), which the ordered pair generator requires.
        //
        // r10 native rebuild (VERDICT r9 item 1 + ADVICE r9): all three
        // hot stages go native — ngram_shingles (one byte-level pass,
        // replaces the regexp/split/interpreted-HOF chain that was
        // 30.8 s of the sf10 budget), sorted_longs_agg (primitive long
        // buffer, replaces boxed collect_list + array_sort), and the
        // pairs_of_sorted Generator (codegen'd streaming pair emitter,
        // replaces the interpreted transform/slice/flatten explode).
        // Packing preconditions are now ENFORCED (see packOk below).
        val nshBits = 21
        def packId(p: Column) = shiftright(p, nshBits)
        def packN(p: Column) = p.bitwiseAND(lit((1L << nshBits) - 1))
        // Packing preconditions (ADVICE r9: they were claimed, not
        // enforced). Analysis-time: the id must be an integral column —
        // a string id would silently cast to null and corrupt pair
        // identities. Runtime (one codegen'd branch per DOCUMENT, not
        // per shingle): n_sh < 2²¹ (a doc with ≥2M distinct shingles
        // would overflow into the id bits) and 0 ≤ id < 2⁴².
        val idField = df.select(id.as("id")).schema.head
        require(Seq(org.apache.spark.sql.types.ByteType,
            org.apache.spark.sql.types.ShortType,
            org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.LongType).contains(idField.dataType),
          s"ngramJaccardPairs: id must be an integral column for (id, n_sh) " +
            s"packing, got ${idField.dataType.catalogString}")
        val packOk = size(col("hs")) < lit(1 << nshBits) &&
          col("id") >= 0 && col("id") < lit(1L << (63 - nshBits))
        val packExpr = coalesce(
          when(packOk, shiftleft(col("id").cast("long"), nshBits)
            .bitwiseOR(size(col("hs")).cast("long"))),
          raise_error(concat(lit("ngramJaccardPairs: doc id out of [0, 2^42) " +
            "or shingle count >= 2^21 for id "), col("id").cast("string"))))
        // hs is materialized as a real attribute in its own projection
        // (referenced twice: size() inside the pack + the explode), so
        // CollapseProject cannot re-inline the shingle expression and
        // InferFiltersFromGenerate's size(hs)>0 filter lands on the
        // ATTRIBUTE — the r9 sibling-size pathology (24.4 s vs 0.55 s at
        // sf0.1) cannot reappear. Spec-pinned by DedupSpec + the oracle.
        val shP = df.select(id.as("id"), shingleCol(text, n).as("hs"))
          .select(col("id"), col("hs"), packExpr.as("p"))
          .select(col("p"), explode(col("hs")).as("s"))
        val posting = shP.groupBy(col("s"))
          // sorted_longs_agg = array_sort(collect_list(...)) as ONE
          // native aggregate over a primitive long buffer (r10): no
          // per-entry boxing in the ObjectHashAggregate buffer, no boxed
          // partial/merge traversal, no separate array_sort pass — the
          // sort happens once at eval on the final primitive array.
          // (collect_list-not-collect_set rationale unchanged: (id, s)
          // rows are already distinct via ngram_shingles.)
          .agg(call_function("sorted_longs_agg", col("p")).as("ids"))
        val uc = posting.where(size(col("ids")).between(2, cap))
        // Ordered pairs via the custom codegen'd Generator (r10, the
        // r9 VERDICT's tier-b item): one Generate node streaming
        // (p1, p2) from the sorted primitive array with a reused
        // two-long row — no interpreted HOF chain (transform/flatten
        // are CodegenFallback), no nested array materialization, and
        // no carried `ids` column (the two-Generate rewrite's failure
        // mode: sf10 113.6 → 141 s).
        // r14 (guide §2.3): the size-compatibility cut rides inside the
        // generator — a pair with round4(min(n1,n2)/max(n1,n2)) below
        // the threshold can never pass either downstream leg (i ≤
        // min(n1,n2) and jac/round are monotone), so it is skipped
        // before the count aggregate pays for it. Exact rewrite; the
        // 5.1e-5 epsilon is the HALF_UP round-at-4-decimals boundary
        // plus a conservative double-representation guard (see
        // SortedPairsSizeCut). Measured at sf0.1: 1.27 M → 0.97 M
        // generated pairs (−24%).
        val pairGen = call_function("pairs_of_sorted_sizecut", col("ids"),
          lit(nshBits), lit(threshold - 5.1e-5))
        val iUc = uc.select(pairGen.as(Seq("p1", "p2")))
          .groupBy(col("p1"), col("p2"))
          .agg(count(lit(1)).as("i_uc"))
          // (p1, p2) groups ARE (d1, d2) groups: n_sh is a function of
          // the id, so unpacking after the aggregate is free.
          .select(packId(col("p1")).as("d1"), packN(col("p1")).as("n1"),
            packId(col("p2")).as("d2"), packN(col("p2")).as("n2"),
            col("i_uc"))
        // Per-doc over-cap shingle count: explode of the few dropped
        // hot lists. oc is small only while boilerplate stays under the
        // df cap; on a boilerplate-heavy corpus it approaches all docs,
        // so its two joins carry no broadcast hint — AQE sizes them from
        // real map output (a forced broadcast is the driver-kill class
        // the q91 merge hints fixed).
        val oc = posting.where(size(col("ids")) > cap)
          .select(explode(col("ids")).as("e"))
          .groupBy(packId(col("e")).as("id")).agg(count(lit(1)).as("oc"))
        def ocSide(d: String, as: String) = oc.select(col("id").as(d), col("oc").as(as))
        val enriched = iUc
          .join(ocSide("d1", "oc1"), Seq("d1"), "left")
          .join(ocSide("d2", "oc2"), Seq("d2"), "left")
          .withColumn("oc_min",
            least(coalesce(col("oc1"), lit(0L)), coalesce(col("oc2"), lit(0L))))
        val exact = enriched.where(col("oc_min") === 0)
          .withColumn("jac", round(col("i_uc") /
            (col("n1") + col("n2") - col("i_uc")).cast("double"), 4))
          .where(col("jac") >= threshold)
          .select(col("d1"), col("d2"), col("jac"))
        val iMax = least(col("i_uc") + col("oc_min"), least(col("n1"), col("n2")))
        val maybe = enriched.where(col("oc_min") > 0)
          .where(round(iMax / (col("n1") + col("n2") - iMax).cast("double"), 4)
            >= threshold)
          .select(col("d1"), col("d2"))
        val vSets = df.select(id.as("id"), text.as("__txt"))
          .join(oc.select(col("id")), Seq("id"), "left_semi")
          .select(col("id"), shingleCol(col("__txt"), n).as("hs"))
        exact.unionByName(verifyJaccard(maybe, vSets, threshold))
    }
  }

  /** MinHash signatures: k column-wise minima of permuted shingle
    * hashes. One row per doc, columns m0..m{k-1}. */
  def minhashSignatures(df: DataFrame, id: Column, text: Column,
                        n: Int, k: Int): DataFrame = {
    val sh = shingleRows(df, id, text, n)
      .withColumn("h", hash32(col("s")))
    sh.groupBy(col("id"))
      .agg(min(minhashPerm(col("h"), 0)).as("m0"),
        (1 until k).map(j => min(minhashPerm(col("h"), j)).as(s"m$j")): _*)
  }

  /** Bucket-size guard for [[minhashLshPairs]]: a band bucket larger
    * than this is a degenerate cluster (boilerplate/empty/templated
    * docs — every web-scale corpus has them), and its self-join would
    * cost bucket² pairs while telling us nothing exact dedup (U1/q25)
    * doesn't already say about near-identical content. Same principle
    * as the n-gram posting-list df cap. Organic bucket sizes at bench
    * SFs are ≤ ~20, so the default changes nothing there; what it
    * bounds is the 100-TB failure mode (measured: a corpus artifact
    * that inflated max bucket 17 → 1543 turned the bucket join 249×
    * more expensive — see docs/SCALING.md r6). */
  val DefaultLshBucketCap = 256

  /** LSH-banded near-dup pairs: band the k signatures into `bands`
    * groups of k/bands rows, bucket the docs on (band, concatenated
    * band signature), emit each bucket's pairs, then verify candidates
    * with the exact n-gram Jaccard. Candidate generation is
    * O(Σ min(|bucket|, cap)²), not O(n²): buckets beyond `bucketCap`
    * are dropped ([[DefaultLshBucketCap]]), the same posting-list
    * shape as the n-gram candidate path. */
  def minhashLshPairs(df: DataFrame, id: Column, text: Column,
                      n: Int, k: Int, bands: Int, threshold: Double,
                      bucketCap: Int = DefaultLshBucketCap): DataFrame = {
    val rows = k / bands
    val sig = minhashSignatures(df, id, text, n, k)
    val banded = sig.select(col("id"), posexplode(array(
      (0 until bands).map(b => concat_ws(",",
        (0 until rows).map(r => col(s"m${b * rows + r}")): _*)): _*))
      .as(Seq("band", "bkey")))
    val posting = banded.groupBy(col("band"), col("bkey"))
      .agg(array_sort(collect_list(col("id"))).as("ids"))
      .where(size(col("ids")).between(2, bucketCap))
    val cand = posting.select(explode(flatten(
        transform(col("ids"), (x, i) =>
          transform(slice(col("ids"), i + lit(2), size(col("ids"))),
            y => struct(x.as("d1"), y.as("d2")))))).as("p"))
      .select(col("p.d1"), col("p.d2")).distinct()
    // Exact verify on the candidate set only.
    verifyJaccard(cand, shingleSets(df, id, text, n), threshold)
  }

  /** 32-bit token-frequency-weighted SimHash per document.
    *
    * The 60 bit-votes are 60 aggregate columns over the (id, token)
    * frame — map-side combined, no 60× row explosion (an earlier explode
    * formulation amplified the shuffle per-bit and dominated the bench).
    *
    * 60-bit fingerprints (hash60, the portable md5 prefix), not 32: the
    * pair join blocks on fingerprint quarters, and 8-bit quarters give
    * only 256 bucket values — at 500 k docs EVERY doc collides into the
    * same 256 buckets per block and the candidate join materializes
    * ~n²/256 intermediate rows per block (measured: a >79 GB spill at
    * the 100× scale probe before this was widened). 15-bit quarters
    * (32 768 values) are the Manku et al. (WWW'07) wide-fingerprint
    * design at the scale this engine targets.
    */
  def simhash(df: DataFrame, id: Column, text: Column): DataFrame = {
    val tok = df.select(id.as("id"), explode(tokens(text)).as("t"))
      .groupBy(col("id"), col("t")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", hash60(col("t")))
    def vote(b: Int): Column =
      sum(when(call_function("shiftright", col("h"), lit(b)) % 2 === 1,
        col("cnt")).otherwise(-col("cnt")))
    val votes = tok.groupBy(col("id"))
      .agg(vote(0).as("v0"), (1 until 60).map(b => vote(b).as(s"v$b")): _*)
    votes.select(col("id"),
      (0 until 60).map(b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
        .reduce(_ + _).as("simhash"))
  }

  /** Near-dup pairs with SimHash Hamming distance ≤ maxHam (≤ 3 for
    * completeness under 4-block blocking). Join key is (block index,
    * 15-bit block value) — linear candidate generation while per-block
    * bucket density stays ~n/32768. */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
                   maxHam: Int): DataFrame = {
    require(maxHam <= 3, "4-block pigeonhole blocking is complete only for Hamming <= 3")
    val sig = simhash(df, id, text)
    val blocked = sig.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), 15 * i) % 32768): _*)).as(Seq("blk", "bval")))
    blocked.as("x").join(blocked.as("y"),
        col("x.blk") === col("y.blk") && col("x.bval") === col("y.bval") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("d1"), col("y.id").as("d2"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHam)
  }

  /** Bottom-k shingle-hash document fingerprint (a winnowing-style
    * sketch): the k smallest 60-bit shingle hashes per doc, one row per
    * (doc, rank). Equal sketches ⇒ near-identical content. */
  def fingerprint(df: DataFrame, id: Column, text: Column,
                  n: Int, k: Int): DataFrame = {
    val sh = shingleRows(df, id, text, n)
      .withColumn("h", hash60(col("s")))
    val w = Window.partitionBy(col("id")).orderBy(col("h").asc)
    sh.withColumn("fp_rank", row_number().over(w))
      .where(col("fp_rank") <= k)
      .select(col("id"), col("fp_rank"), col("h").as("fp_hash"))
  }

  /** Connected components over a near-dup pair graph by hash-min label
    * propagation: every node starts labelled with its own id; each round
    * every node takes the min of its label and its neighbours' labels;
    * fixpoint labels are the component minima. Deterministic (min is
    * order-free), so the result is oracle-comparable bit-for-bit.
    *
    * This is the step a dedup pipeline runs AFTER pair generation
    * (q26-q28/q46 emit pairs; production must then pick one survivor per
    * duplicate cluster). Scale shape: rounds = O(component diameter) —
    * near-dup clusters are shallow (pairs are mutual near-copies), so a
    * handful of rounds; each round is one equi-join + one hash aggregate
    * on the EDGE table (2|pairs| rows), never on the corpus. Convergence
    * is detected by the label-sum invariant: labels only ever decrease,
    * so an unchanged sum ⇒ fixpoint (one cheap agg per round, no
    * row-by-row diff). At 100 TB you would checkpoint `labels` every few
    * rounds to truncate lineage — noted here, pointless at test scale.
    *
    * @return one row per node that appears in a pair:
    *         `(n, label)` = (doc id, component id = min doc id reachable)
    */
  /** NOTE: the returned frame is left persisted (its lineage references
    * intermediate rounds that are already unpersisted — recomputation
    * would be O(rounds²)); callers that invoke this repeatedly in one
    * session may `.unpersist()` the result once consumed. `maxIter`
    * must be ≥ component diameter + 1 (the fixpoint is only OBSERVED one
    * round after the last label change); the default 64 covers any
    * realistic near-dup cluster — rounds on an already-converged graph
    * cost one tiny join each. */
  def connectedComponents(pairs: DataFrame, a: Column, b: Column,
                          maxIter: Int = 64): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(a.as("src"), b.as("dst"))
      .union(pairs.select(b.as("src"), a.as("dst")))
      .distinct().cache()
    // Loop partition sizing from the EDGE volume (r13 opt round, guide
    // §2.2): each round is 2 joins + an agg over node/edge-sized frames,
    // and CACHED plans keep their shuffle partitioning (AQE does not
    // re-coalesce a cached relation's output by default) — so at the
    // session default every tiny round paid full-width task scheduling:
    // q72's sf0.1 graph is ~25 edges yet the loop cost ~3 s of the 4.7 s
    // row. One partition per ~2 M edges (≈32 MB of (src,dst) longs),
    // clamped to [1, 512]: the count is an action on the already-cached
    // edge frame (the init `distinct` needed it materialized anyway).
    val nEdges = edges.count()
    val loopParts = math.min(512L, math.max(1L, nEdges / 2000000L)).toString
    try graft.Session.withConfs(spark, Seq("spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum").map(_ -> loopParts)) {
      propagateLabels(edges, maxIter)
    } finally edges.unpersist()
  }

  /** [[connectedComponents]]' rounds over the cached `edges` (src, dst):
    * returns the persisted (n, label) frame of the last round. */
  private def propagateLabels(edges: DataFrame, maxIter: Int): DataFrame = {
    var labels = edges.select(col("src").as("n")).distinct()
      .withColumn("label", col("n")).cache()
    // the DF that actually holds this round's cache (labels may be a
    // projection of it — unpersist must hit the cached plan itself)
    var labelsCache = labels
    try {
      if (labels.isEmpty) return labels // no pairs
      var iter = 0
      var fixed = false
      while (!fixed && iter < maxIter) {
        val nbrMin = edges.join(labels, col("dst") === col("n"))
          .groupBy(col("src")).agg(min(col("label")).as("nbr"))
        // persist each round and drop the previous one: without this the
        // lineage deepens by one join per round and every convergence
        // check re-executes ALL prior rounds — O(rounds²) work. (At real
        // scale this persist would be a checkpoint to also truncate the
        // lineage for fault recovery.)
        // r13 opt round, measured and REJECTED: a pointer-jumping step
        // (label(n) ← min(label(n), label(label(n))), the O(log d)
        // round bound) was prototyped here — on q72's real near-dup
        // graph the loop converges in 2 ROUNDS at sf0.001 AND sf0.01
        // (DiagCc measurement, OPTIMIZATION_r13.md), so the jump's
        // extra node-table self-join per round bought nothing and cost
        // one more shuffle per round. Near-dup clusters are mutual
        // near-copies — diameter stays tiny by construction; the jump
        // only pays off on chain-shaped graphs this operator never
        // sees. Kept O(diameter) neighbour-min.
        // The OLD label rides along so the convergence check is a
        // filter over this round's cache, not a separate next⋈labels
        // join (one fewer shuffle per round, r13 opt).
        val nextRaw = labels.join(nbrMin, col("n") === col("src"), "left")
          .select(col("n"), col("label").as("prev"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
          .cache()
        // convergence = zero CHANGED labels this round — type-agnostic
        // (ids may be any orderable type) and overflow-free, unlike a
        // label-sum invariant over near-2⁶³ ids
        val changed = nextRaw.where(col("label") =!= col("prev"))
          .limit(1).count()
        labelsCache.unpersist()
        labelsCache = nextRaw
        labels = nextRaw.select(col("n"), col("label"))
        fixed = changed == 0
        iter += 1
      }
      require(fixed, s"label propagation did not converge in $maxIter rounds")
      // scale diagnostic (the embedOverlap-gate precedent): rounds are
      // the unit this operator's cost scales in; a deploy seeing this
      // climb past a handful should checkpoint between rounds
      println(s"[graft] connectedComponents: converged in $iter rounds")
      labels
    } catch { case e: Throwable => labelsCache.unpersist(); throw e }
  }

  /** Survivor selection over [[connectedComponents]]: per duplicate
    * cluster keep the min-id doc (the reference keep-first policy); every
    * clustered doc gets its cluster id, size, and survivor flag — the
    * drop set is `!is_survivor`. */
  def dupClusters(pairs: DataFrame, a: Column, b: Column): DataFrame = {
    val comp = connectedComponents(pairs, a, b)
    val w = Window.partitionBy(col("label"))
    comp.select(col("n").as("doc_id"), col("label").as("cluster_id"),
      count(lit(1)).over(w).as("n_docs"),
      (col("n") === col("label")).as("is_survivor"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-space dedup
    * that only ever compares vectors WITHIN a k-means cell — the
    * cluster scoping is what makes semantic dedup tractable at corpus
    * scale (within-cell pair work is Σ|cell|², bounded by the cell
    * size, never n²). Cells come from [[Similarity.ivfAssign]] over
    * [[Similarity.firstKCentroids]] (the q56 contract); K auto-sizes to
    * `max(8, ceil(√n))` (r12): with K cells the assignment costs n·K
    * dots and the within-cell pair stage ≈ n²/K dots, so K = √n
    * equalizes both legs at n^1.5 — the r11 n/targetCell rule pinned
    * the PAIR leg linear but let the ASSIGNMENT grow n²/targetCell,
    * which the 220 k-vector probe caught (274.9 s; 14.3 s after this
    * re-size + the map-only assign). A fixed K is the same silent
    * quadratic the LSH knobs guard against.
    *
    * Keep rule (deterministic, RNG-free): a vector is dropped iff some
    * SAME-CELL neighbor with a smaller id has cosine ≥ `threshold` —
    * the pairwise-anchored greedy contract (the exact cluster-resolved
    * alternative is [[dupClusters]] over the pair set). Returns
    * (vec_id, cell, kept) for every vector.
    *
    * Scale shape: one count (planning statistic), the cell assignment's
    * broadcast-centroid argmin, ONE shuffle on cell for the self-join,
    * an id-keyed distinct of the drop set, and a left-anti-style flag
    * join. */
  def semDedupK(n: Long): Int = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)

  def semDedup(emb: DataFrame, id: Column, vec: Column,
               threshold: Double): DataFrame = {
    val n = StatsCatalog.count(emb)
    val k = semDedupK(n)
    val cells = Similarity.ivfAssign(emb, id, vec,
      Similarity.firstKCentroids(emb, id, vec, k))
    val anchors = cells.select(col("cell"), col("id").as("a_id"),
      col("v").as("a_v"), col("n2").as("a_n2"))
    val dropped = cells.join(anchors, Seq("cell"))
      .where(col("a_id") < col("id") &&
        Similarity.dot(col("v"), col("a_v")) /
          sqrt(col("n2") * col("a_n2")) >= threshold)
      .select(col("id")).distinct()
      .withColumn("dropped", lit(true))
    cells.join(dropped, Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cell"),
        coalesce(!col("dropped"), lit(true)).as("kept"))
  }

  /** DuckDB twin of [[semDedup]] — same auto-K, same first-K centroids
    * and (s, c_id) argmin tie-break as the q56 oracle, same smaller-id
    * anchor rule. */
  def semDedupSql(idE: String, vecE: String, threshold: Double,
                  sourceSql: String = "SELECT * FROM embeddings"): String =
    s"""WITH base AS (SELECT $idE AS id, $vecE AS v,
                        ${Similarity.dotSql(vecE, vecE)} AS n2
                      FROM ($sourceSql) src),
        kk AS (SELECT GREATEST(8, CAST(ceil(sqrt(count(*)))
                 AS INT)) AS k FROM base),
        c AS (SELECT id AS c_id, v AS c_v, n2 AS cn2 FROM base
              WHERE id < (SELECT k FROM kk)),
        a AS (SELECT base.id, base.v, base.n2, c_id,
                (cn2 - 2.0 * ${Similarity.dotSql("base.v", "c_v")}) AS s
              FROM base CROSS JOIN c),
        cell AS (SELECT id, v, n2, c_id AS cell FROM a
                 QUALIFY row_number() OVER (PARTITION BY id
                   ORDER BY s, c_id) = 1),
        dup AS (SELECT DISTINCT b.id
                FROM cell b JOIN cell a2
                  ON a2.cell = b.cell AND a2.id < b.id
                WHERE ${Similarity.dotSql("a2.v", "b.v")} /
                      sqrt(a2.n2 * b.n2) >= $threshold)
        SELECT cell.id AS vec_id, cell.cell AS cell,
               (dup.id IS NULL) AS kept
        FROM cell LEFT JOIN dup ON cell.id = dup.id"""
}
