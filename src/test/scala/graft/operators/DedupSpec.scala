package graft.operators

import org.apache.spark.TestAccess
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "THE  quick brown fox jumps over the lazy dog"), // exact dup of 1 (norm)
    (4L, "completely different words appear here and nothing matches at all"),
    (5L, "short doc")
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates, keeps lowest id") {
    val out = Dedup.exact(docs, col("doc_id"), col("text"))
      .orderBy("keep_id").collect()
    assert(out.length == 4) // 1&3 merge
    val grp = out.find(_.getAs[Long]("keep_id") == 1L).get
    assert(grp.getAs[Long]("n_copies") == 2L)
  }

  test("ngram jaccard finds the near-dup pair and only it") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5)
      .collect()
    // (1,2) share 6 of 7+7 distinct trigrams → jac 6/8 = 0.75; (1,3) are
    // identical after norm → jac 1.0.
    val keys = pairs.map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(keys == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val j13 = pairs.find(r => r.getAs[Long]("d1") == 1L && r.getAs[Long]("d2") == 3L).get
    assert(j13.getAs[Double]("jac") == 1.0)
  }

  test("hot-shingle df-cap: same pairs, bounded fan-out, hot shingles excluded") {
    import graft.functions.TextFunctions
    // 40 docs sharing a ubiquitous boilerplate header (the hot-shingle
    // skew shape: without a cap, each boilerplate trigram fans out 40²
    // within its join key) + one genuinely near-dup pair of distinctive
    // docs. Boilerplate-only overlap stays under the 0.5 threshold.
    val boiler = "subscribe to our newsletter for daily updates today"
    val corpus = ((1 to 40).map(i =>
      (i.toLong, s"$boiler unique document number ${i * 3} content ${i * 7} distinct tail ${i * 13}")) ++
      Seq((100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101L, "alpha beta gamma delta epsilon zeta eta theta iota lambda")))
      .toDF("doc_id", "text")

    // the hot shingles really exceed the cap in this corpus
    val sh = corpus.select(col("doc_id").as("id"),
        TextFunctions.tokens(col("text")).as("tk"))
      .select(col("id"), explode(TextFunctions.shinglesOfTokens(col("tk"), 3)).as("s"))
    val maxDf = sh.groupBy("s").count().agg(max("count")).head.getLong(0)
    assert(maxDf == 40, s"expected a df-40 hot shingle, got $maxDf")

    val uncapped = Dedup.ngramJaccardPairs(corpus, col("doc_id"), col("text"), 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = Dedup.ngramJaccardPairs(corpus, col("doc_id"), col("text"), 3, 0.5,
        maxShingleDf = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(uncapped.keySet == Set((100L, 101L)))
    assert(capped == uncapped) // identical pairs AND identical exact jaccard
  }

  test("df-cap verify leg: over-cap docs sharing under-cap shingles get the " +
    "exact full-set jaccard; upper-bound survivors that fail exactly are dropped") {
    // The r8 count-based capped path splits pairs into an exact-from-counts
    // leg (neither doc has over-cap shingles) and an array-verify leg (both
    // do). This corpus forces the verify leg BOTH ways. cap = 5.
    //  - B-boilerplate (docs 1-10 + 100,101,400): its 5 trigrams reach
    //    df 13 > 5, so docs carrying B have oc > 0.
    //  - C-boilerplate (docs 11-20 + 401): df 11 > 5.
    //  - (100,101): share B (over-cap) AND 4 distinctive trigrams
    //    (df = 2, under-cap) -> candidates via i_uc = 4, verified on FULL
    //    sets: inter = 5 + 4 = 9, n = 10 each, jac = 9/11 = 0.8182. EMIT.
    //  - (400,401): different boilerplates (shared over-cap = 0) + ONE
    //    shared under-cap trigram. i_uc = 1, oc_min = 5 -> upper bound
    //    min(1+5, 8)/(8+8-6) = 0.6 >= 0.5 passes the prune, but the exact
    //    jaccard is 1/15 = 0.0667 -> the verify must REJECT it.
    //  - boiler-only pairs (i,j in 1-10): share ONLY over-cap shingles ->
    //    not candidates (the documented cap contract), even though their
    //    full jaccard 5/9 would pass uncapped.
    val bB = "b1 b2 b3 b4 b5 b6 b7"
    val bC = "c1 c2 c3 c4 c5 c6 c7"
    val corpus = (
      (1 to 10).map(i => (i.toLong, s"$bB f${i}a f${i}b")) ++
      (11 to 20).map(i => (i.toLong, s"$bC f${i}a f${i}b")) ++
      Seq((100L, s"$bB x1 x2 x3 x4 x5"),
          (101L, s"$bB x1 x2 x3 x4 x6"),
          (400L, s"$bB w1 w2 w3"),
          (401L, s"$bC w1 w2 w3"))).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(corpus, col("doc_id"), col("text"),
        3, 0.5, maxShingleDf = Some(5))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out == Map((100L, 101L) -> 0.8182))
  }

  test("df-cap build over a parquet corpus runs no job; both legs emit the frozen rows") {
    // (100,101) share an over-cap boilerplate, so they come through the
    // verify leg; (500,501) have no over-cap shingle, so they come
    // through the exact-from-counts leg. cap = 5, the boilerplate's df 12.
    val bB = "b1 b2 b3 b4 b5 b6 b7"
    val dir = java.nio.file.Files.createTempDirectory("graft_test_dedup_").toString
    ((1 to 10).map(i => (i.toLong, s"$bB f${i}a f${i}b")) ++
      Seq((100L, s"$bB x1 x2 x3 x4 x5"),
          (101L, s"$bB x1 x2 x3 x4 x6"),
          (500L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
          (501L, "alpha beta gamma delta epsilon zeta eta theta iota lambda")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    graft.Tables.documents(spark, dir) // the first read memoises the schema
    def build() = Dedup.ngramJaccardPairs(graft.Tables.documents(spark, dir),
      col("doc_id"), col("text"), 3, 0.5, maxShingleDf = Some(5))
    assert(TestAccess.jobsDuring(spark.sparkContext)(build()) == 0)
    val rows = build().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(rows == Map((100L, 101L) -> 0.8182, (500L, 501L) -> 0.7778))
  }

  test("df-cap on the planted-near-dup corpus reproduces the uncapped pairs") {
    val docs001 = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def pairs(cap: Option[Int]) =
      Dedup.ngramJaccardPairs(docs001, col("doc_id"), col("text"), 3, 0.5, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val uncapped = pairs(None)
    assert(uncapped.nonEmpty)
    assert(pairs(Some(100)) == uncapped)
  }

  test("minhash LSH pairs are a subset of exact pairs, same jaccard") {
    val exact = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"), 3, 16, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.foreach { case (k, j) => assert(exact(k) == j) }
    // identical docs always collide in every band
    assert(lsh.contains((1L, 3L)))
  }

  test("LSH bucket cap drops degenerate mega-buckets, keeps organic pairs") {
    import spark.implicits._
    // 30 identical boilerplate docs (a degenerate cluster: every band
    // bucket holds all 30) + one organic near-dup pair
    val boiler = (200L until 230L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val pairDocs = Seq(
      (500L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (501L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val corpus = (boiler ++ pairDocs).toDF("doc_id", "text")
    def keys(cap: Int) =
      Dedup.minhashLshPairs(corpus, col("doc_id"), col("text"), 3, 16, 4,
          0.5, bucketCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = keys(10)
    // the mega-cluster contributes nothing past the cap; exact dedup
    // (q25) owns near-identical content — the organic pair survives
    assert(capped == Set((500L, 501L)))
    // a cap above every bucket reproduces the full pair set
    assert(keys(Dedup.DefaultLshBucketCap) ==
      (200L until 230L).flatMap(a => (a + 1 until 230L).map(a -> _)).toSet
        + ((500L, 501L)))
  }

  test("simhash is deterministic and identical docs get identical hashes") {
    val sig = Dedup.simhash(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(3L))
    assert(sig.values.forall(v => v >= 0 && v < (1L << 60)))
    val again = Dedup.simhash(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig == again)
  }

  test("simhash pairs include the identical pair at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, col("doc_id"), col("text"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Int]("hamming")).toMap
    assert(pairs((1L, 3L)) == 0)
  }

  test("fingerprint: k smallest distinct shingle hashes, ranked") {
    val fp = Dedup.fingerprint(docs, col("doc_id"), col("text"), 3, 4)
      .where(col("id") === 1L).orderBy("fp_rank").collect()
    assert(fp.length == 4)
    val hs = fp.map(_.getAs[Long]("fp_hash"))
    assert(hs.sorted.sameElements(hs) && hs.distinct.length == 4)
  }

  test("connected components: chain, triangle+tail, pair — min-id labels") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3 forces multiple propagation rounds),
    // triangle 10-11-12 with tail 13, isolated pair 20-21
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (12L, 13L),
      (21L, 20L)).toDF("d1", "d2")
    val comp = Dedup.connectedComponents(pairs, $"d1", $"d2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("dupClusters: min-id survivor, cluster sizes; empty pairs OK") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val pairs = Seq((5L, 7L), (7L, 6L)).toDF("d1", "d2")
    val cl = Dedup.dupClusters(pairs, $"d1", $"d2")
      .orderBy("doc_id").collect()
    assert(cl.map(_.getLong(0)).toSeq == Seq(5L, 6L, 7L))
    assert(cl.forall(_.getLong(1) == 5L))
    assert(cl.forall(_.getLong(2) == 3L))
    assert(cl.map(_.getBoolean(3)).toSeq == Seq(true, false, false))
    // no pairs → no clustered docs, not a crash
    val none = Dedup.dupClusters(
      Seq.empty[(Long, Long)].toDF("d1", "d2"), $"d1", $"d2")
    assert(none.count() == 0)
  }

  test("semDedup: within-cell anchors drop, cross-cell near-dups survive") {
    // centroids = ids < k present (here {0, 1}): two directions.
    // cell 0 holds {0, 10, 11}: both 10 and 11 are ≥0.9-cos to anchor 0
    // → dropped. cell 1 holds {1, 12, 13}: 12 is ≥0.9 to anchor 1 →
    // dropped; 13 (diagonal) is <0.9 to everything in its cell → kept
    // even though cells are what SCOPE the comparisons.
    val vecs = Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(0.0, 1.0)),
      (10L, Array(0.99, 0.1)),
      (11L, Array(0.995, 0.09)),
      (12L, Array(-0.1, 0.995)),
      (13L, Array(0.7, 0.72)))
      .toDF("vec_id", "v")
    val out = Dedup.semDedup(vecs, $"vec_id", $"v", threshold = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(out.view.mapValues(_._2).toMap ===
      Map(0L -> true, 1L -> true, 10L -> false, 11L -> false,
        12L -> false, 13L -> true))
    // cell scoping is real: 10/11 share 0's cell, 12/13 share 1's
    assert(out(10L)._1 === out(0L)._1 && out(11L)._1 === out(0L)._1)
    assert(out(12L)._1 === out(1L)._1 && out(13L)._1 === out(1L)._1)
  }
}
