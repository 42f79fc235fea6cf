package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Mean recall@k over all queries (one double). */
  private def meanRecallAtK(ann: org.apache.spark.sql.DataFrame,
      exact: org.apache.spark.sql.DataFrame, k: Int): Double =
    Similarity.recallAtK(ann, exact, k).agg(avg(col("recall"))).head().getDouble(0)

  private def emb = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f)),
    (2L, Array(1.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f)),
    (4L, Array(2.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine: identical direction = 1, orthogonal = 0, opposite = -1") {
    val out = emb.as("a").join(emb.as("b"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(out((0L, 4L)) - 1.0) < 1e-12)
    assert(math.abs(out((0L, 1L))) < 1e-12)
    assert(math.abs(out((0L, 3L)) + 1.0) < 1e-12)
    assert(math.abs(out((0L, 2L)) - math.sqrt(0.5)) < 1e-12)
  }

  test("vec_dot is bit-identical to the aggregate(zip_with) HOF fold") {
    // the oracle contract rests on this: same left-to-right double
    // accumulation → exact equality, not epsilon
    val rnd = new scala.util.Random(42)
    val vecs = Seq.fill(200)((rnd.nextLong().abs,
      Array.fill(64)((rnd.nextGaussian() * 10).toFloat)))
    val df = vecs.toDF("i", "v")
    val hof = aggregate(
      zip_with(col("a.v"), col("b.v"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val mismatches = df.as("a").join(df.as("b"), col("a.i") < col("b.i"))
      .select(Similarity.dot(col("a.v"), col("b.v")).as("fast"), hof.as("ref"))
      .where(not(col("fast") === col("ref")))
      .count()
    assert(mismatches == 0L, s"$mismatches pairs differ between vec_dot and the HOF")
  }

  test("vec_dot: null element nulls the result; non-numeric arrays rejected at analysis") {
    val withNull = Seq((Seq(Some(1.0f), None, Some(3.0f)), Seq(Some(1.0f), Some(2.0f), Some(3.0f))))
      .toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("d"))
    assert(withNull.head().isNullAt(0), "null element → null dot (HOF parity)")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq("x"), Seq("y"))).toDF("a", "b")
        .select(Similarity.dot(col("a"), col("b"))).collect()
    }
    assert(err.getMessage.contains("vec_dot"))
  }

  test("knn brute force: self excluded, ranked by cosine desc then id") {
    val out = Similarity.knnBruteForce(emb, col("vec_id"), col("embedding"), 1, 4)
      .orderBy("rank").collect()
    // cos ordering from query 0: 4 (1.0), 2 (0.7071), 1 (0.0), 3 (-1.0)
    assert(out.map(_.getAs[Long]("n_id")).toSeq == Seq(4L, 2L, 1L, 3L))
    assert(out.head.getAs[Double]("cos") == 1.0)
  }

  test("lsh buckets: same-direction vectors share a bucket") {
    val b = Similarity.lshBuckets(emb, col("vec_id"), col("embedding"), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) == b(4L)) // colinear
    assert(b.values.forall(v => v >= 0 && v < 4))
  }

  test("ivf: every vector lands in exactly one cell, centroids in their own") {
    val cells = Similarity.ivfAssign(emb, col("vec_id"), col("embedding"),
        Similarity.firstKCentroids(emb, col("vec_id"), col("embedding"), 2))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cell")).toMap
    assert(cells.size == 5)
    assert(cells(0L) == 0L && cells(1L) == 1L) // centroids own their cells
    assert(cells(4L) == 0L) // colinear with centroid 0
    assert(cells(3L) == 1L) // (-1,0,0): dist² to c0=(1,0,0) is 4, to c1=(0,1,0) is 2
  }

  test("ivfAssign's nearest_centroid kernel equals the broadcast-join " +
      "struct-min it replaced") {
    // the replaced form, kept here as the reference: every vector fans
    // out against every centroid, argmin = min(struct(s, c_id)) with s
    // ordered nulls-first
    def viaJoin(df: org.apache.spark.sql.DataFrame,
                cents: Seq[(Int, Seq[Double])]): Map[Long, Long] = {
      val cdf = cents.map { case (c, v) => (c, v, v.map(x => x * x).sum) }
        .toDF("c_id", "c_v", "cn2")
      df.select(col("vec_id").as("id"), col("embedding").as("v"))
        .join(broadcast(cdf))
        .groupBy(col("id"))
        .agg(min(struct(
          (col("cn2") - lit(2.0) * Similarity.dot(col("v"), col("c_v"))).as("s"),
          col("c_id").as("c"))).as("m"))
        .select(col("id"), col("m.c").cast("long"))
        .as[(Long, Long)].collect().toMap
    }
    def viaKernel(df: org.apache.spark.sql.DataFrame,
                  cents: Seq[(Int, Seq[Double])]): Map[Long, Long] =
      Similarity.ivfAssign(df, col("vec_id"), col("embedding"), cents)
        .select("id", "cell").as[(Long, Long)].collect().toMap
    def f(xs: Float*): Option[Seq[Option[Float]]] = Some(xs.map(Option(_)))
    val data = Seq[(Long, Option[Seq[Option[Float]]])](
      (0L, f(1.0f, 0.0f, 0.0f)),
      (1L, f(0.0f, 1.0f, 0.0f)),
      (2L, f(1.0f, 1.0f, 0.0f)),  // ties centroids 1 and 3 on s = -1
      (3L, f(-1.0f, 0.5f, 0.0f)),
      (4L, f(2.0f, 0.0f, 0.25f)),
      (5L, None),                  // null vector
      (6L, Some(Seq(Some(1.0f), None, Some(0.0f))))  // null element
    ).toDF("vec_id", "embedding")
    // explicit centroids, deliberately out of id order
    val cents = Seq(3 -> Seq(1.0, 0.0, 0.0), 1 -> Seq(0.0, 1.0, 0.0),
      2 -> Seq(-1.0, 0.0, 0.0))
    val ref = viaJoin(data, cents)
    assert(ref.size == 7 && ref(2L) == 1L && ref(5L) == 1L && ref(6L) == 1L)
    assert(viaKernel(data, cents) === ref)
    // empty centroid list: the inner join assigned no rows, nor does the kernel
    assert(viaJoin(data, Nil).isEmpty)
    assert(viaKernel(data, Nil) === viaJoin(data, Nil))
  }

  test("annIvf cosines agree with brute force on shared candidates") {
    val ivf = Similarity.annIvf(emb, col("vec_id"), col("embedding"), 2, 5, 4)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")) -> r.getAs[Double]("cos")).toMap
    val bf = Similarity.knnBruteForce(emb, col("vec_id"), col("embedding"), 5, 4)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")) -> r.getAs[Double]("cos")).toMap
    assert(ivf.nonEmpty)
    ivf.foreach { case (k, c) => assert(bf(k) == c) }
  }

  test("annLsh output is consistent with brute force on shared candidates") {
    val ann = Similarity.annLsh(emb, col("vec_id"), col("embedding"), 2, 5, 4)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")) -> r.getAs[Double]("cos")).toMap
    val bf = Similarity.knnBruteForce(emb, col("vec_id"), col("embedding"), 5, 4)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")) -> r.getAs[Double]("cos")).toMap
    ann.foreach { case (k, c) => assert(bf(k) == c) }
  }

  test("banded LSH: superset of each band's candidates, cosines exact, recall ≥ single band") {
    val bf = Similarity.knnBruteForce(emb, col("vec_id"), col("embedding"), 5, 4)
    val banded = Similarity.annLshBanded(emb, col("vec_id"), col("embedding"), 2, 2, 5, 4)
    val single = Similarity.annLsh(emb, col("vec_id"), col("embedding"), 2, 5, 4)
    val bfMap = bf.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")) -> r.getAs[Double]("cos")).toMap
    banded.collect().foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))
      assert(bfMap(key) == r.getAs[Double]("cos"), s"cosine mismatch at $key")
    }
    // band 0 of the banded variant uses the same planes as annLsh(2):
    // adding a band can only add candidates, so recall must not drop
    assert(meanRecallAtK(banded, bf, 4) >=
      meanRecallAtK(single, bf, 4))
  }



  test("lshPairKnobs: bucket-density-linear planes, recall-curve bands") {
    // planes track log2(n/targetBucket): fixed p would be an n^2/2^p
    // quadratic and a recall cliff once density passes the bucket cap
    val (p1, b1) = Similarity.lshPairKnobs(5500L, 0.9)
    val (p2, b2) = Similarity.lshPairKnobs(55000L, 0.9)
    val (p3, b3) = Similarity.lshPairKnobs(5500000L, 0.9)
    assert(p1 < p2 && p2 < p3)
    assert(math.abs(p3 - math.log(5500000.0 / 8) / math.log(2)) <= 1)
    // more planes per band -> need more bands for the same recall
    assert(b1 <= b2 && b2 <= b3)
    // at fixed n: lower threshold (wider angle) or higher recall -> more bands
    assert(Similarity.lshPairKnobs(55000L, 0.8)._2 >
      Similarity.lshPairKnobs(55000L, 0.95)._2)
    assert(Similarity.lshPairKnobs(55000L, 0.9, targetRecall = 0.99)._2 >
      Similarity.lshPairKnobs(55000L, 0.9, targetRecall = 0.5)._2)
    // the banded recall formula actually clears the target at threshold
    val (p, b) = Similarity.lshPairKnobs(55000L, 0.9, targetRecall = 0.9)
    val perBand = math.pow(1 - math.acos(0.9) / math.Pi, p)
    assert(1 - math.pow(1 - perBand, b) >= 0.9)
  }


  test("LSH near-dup pairs: precision exact, twins found, cap kills degenerate buckets") {
    import spark.implicits._
    // 40 base vectors in 8 dims spread over directions (first 16 double as
    // the 2x8 planes), plus near-duplicate twins of every 4th vector
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map { i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val twins = base.collect { case (i, v) if i % 4 == 0 =>
      (i + 1000L, v.map(x => x + 0.02f * (i % 3 + 1)))
    }
    val corpus = (base ++ twins).toDF("vec_id", "embedding")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("embedding"))
    val got = Similarity.cosineNearDupPairsLsh(corpus, col("vec_id"),
      col("embedding"), 0.95, 8, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // precision: every emitted pair is a true >= 0.95 pair (vs brute force)
    val all = (base ++ twins).map { case (i, v) => (i, v.map(_.toDouble)) }
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val truth = (for {
      (i, vi) <- all; (j, vj) <- all if i < j
      c = cos(vi, vj) if c >= 0.95
    } yield (i, j)).toSet
    assert(got.nonEmpty)
    got.foreach { case (d1, d2, c) =>
      assert(truth((d1, d2)), s"false positive ($d1,$d2)")
      assert(c >= 0.95)
    }
    // recall on the planted twins: SRP collides highly-similar pairs in
    // at least one of the two bands for most twins
    val found = got.map(p => (p._1, p._2)).toSet
    val twinPairs = twins.map(t => (t._1 - 1000L, t._1)).filter(truth)
    assert(twinPairs.count(found) >= twinPairs.size / 2,
      s"recall collapse: ${twinPairs.count(found)}/${twinPairs.size}")
    // bucket cap: capping at 1 admits no bucket (every pair needs a
    // bucket with >= 2 members) so no pairs survive
    assert(Similarity.cosineNearDupPairsLsh(corpus, col("vec_id"),
      col("embedding"), 0.95, 8, 2, bucketCap = 1).count() == 0)
  }


  test("LSH near-dup verify joins stay sort-merge under AQE (merge-hint pin)") {
    // Regression pin for the r9 sf10 scale bug (VERDICT r9 item 4): the
    // candidate-pair side of the exact-cosine verify joins sits above a
    // Generate → distinct chain whose size Catalyst estimates from the
    // PRE-explosion child, and AQE runtime re-planning once converted
    // the join to broadcast on that estimate — 8 GiB broadcast kill at
    // sf10 (executor OOM class on a real cluster). The merge hints in
    // cosineNearDupPairsLsh pin SMJ; this test runs the EXACT condition
    // that re-planned (tiny corpus, AQE on, both sides far under the
    // broadcast threshold) and must go red if the hints are dropped.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 60).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextDouble() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val df = Similarity.cosineNearDupPairsLsh(corpus, col("vec_id"),
      col("embedding"), 0.9, 8, 2)
    df.count() // drive AQE to its FINAL plan — re-planning happens here
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case q: QueryStageExec => all(q.plan)
      case o => o.children.flatMap(all)
    })
    val nodes = all(df.queryExecution.executedPlan)
    val smj = nodes.collect { case j: SortMergeJoinExec => j }
    val equiOther = nodes.collect {
      case j: BroadcastHashJoinExec => j
      case j: ShuffledHashJoinExec => j
    }
    // the two verify joins are the only equi-joins in the plan (the
    // plane join is a broadcast nested-loop by construction)
    assert(smj.size == 2,
      s"expected 2 sort-merge verify joins, got ${smj.size} " +
        s"(other equi-joins: ${equiOther.map(_.nodeName)})")
    assert(equiOther.isEmpty,
      s"verify join re-planned away from SMJ: ${equiOther.map(_.nodeName)}")
  }

  test("kmeans: recovers planted cluster centers; empty cells keep previous centroid") {
    import spark.implicits._
    // two tight planted clusters far apart; init = first 2 vectors, which
    // both sit in cluster A — training must move one centroid to cluster B
    val data = Seq(
      (0L, Array(10.0f, 0.0f)), (1L, Array(10.2f, 0.0f)),
      (2L, Array(9.8f, 0.1f)), (3L, Array(10.1f, -0.1f)),
      (4L, Array(-10.0f, 0.0f)), (5L, Array(-10.2f, 0.1f)),
      (6L, Array(-9.9f, -0.1f)), (7L, Array(-10.1f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(data, col("vec_id"),
      col("embedding"), 2, 10)
    assert(cents.map(_._1).sorted == Seq(0, 1))
    val xs = cents.map(_._2.head).sorted
    assert(xs.head < -9.0 && xs.last > 9.0,
      s"one centroid per planted cluster, got $cents")
    // assignment under trained centroids = the planted split
    val cells = Similarity.ivfAssign(data, col("vec_id"),
        col("embedding"), cents)
      .select("id", "cell").as[(Long, Long)].collect().toMap
    assert((0L to 3L).map(cells).toSet.size == 1)
    assert((4L to 7L).map(cells).toSet.size == 1)
    assert(cells(0L) != cells(4L))
  }

  test("trained IVF beats the first-K stub on clustered data with skew-free cells") {
    import spark.implicits._
    // 4 planted clusters of 8, separated in ANGLE (1.5 rad apart, tiny
    // in-cluster jitter) so cosine-top-k and euclidean k-means agree on
    // the grouping; ids are cluster-blocked, so the first-4 init lands
    // entirely in cluster 0
    val data = (for (c <- 0 until 4; i <- 0 until 8) yield {
      val id = (c * 8 + i).toLong
      val th = c * 1.5 + i * 0.002
      val r = 10.0 + i * 0.01
      (id, Array((r * math.cos(th)).toFloat, (r * math.sin(th)).toFloat))
    }).toDF("vec_id", "embedding")
    val exact = Similarity.knnBruteForce(data, col("vec_id"),
      col("embedding"), 32, 3)
    val stub = Similarity.annIvf(data, col("vec_id"), col("embedding"),
      4, 32, 3)
    val trained = Similarity.annIvfTrained(data, col("vec_id"),
      col("embedding"), 4, 10, 1, 32, 3)
    val rStub = meanRecallAtK(stub, exact, 3)
    val rTrained = meanRecallAtK(trained, exact, 3)
    assert(rTrained >= rStub)
    assert(rTrained == 1.0,
      s"trained IVF must fully recover planted-cluster neighbours, got $rTrained")
    // trained cells are balanced: 8 per cell
    val counts = Similarity.ivfAssign(data, col("vec_id"), col("embedding"),
        Similarity.kmeansCentroids(data, col("vec_id"), col("embedding"), 4, 10))
      .groupBy("cell").count().as[(Long, Long)].collect().map(_._2)
    assert(counts.length == 4 && counts.forall(_ == 8L))
  }

  test("pq: codes well-formed, codebook vectors encode to themselves") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val data = (0L until 64L).map(i =>
      (i, Array.fill(16)((rnd.nextGaussian() * 5).toFloat))).toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebookFirstK(data, col("vec_id"), col("embedding"), 4, 4, 8)
    assert(cb.count() == 4 * 8)
    val codes = Similarity.pqEncode(data, col("vec_id"), col("embedding"), 4, 4, cb)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.size == 64)
    assert(codes.values.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 8)))
    // a vector IN the codebook quantizes to itself in every subspace
    (0L until 8L).foreach(i =>
      assert(codes(i) == Seq.fill(4)(i.toInt), s"codebook vector $i: ${codes(i)}"))
  }

  test("pq ADC: estimates match exact distances on codebook members; trained beats first-K") {
    import spark.implicits._
    // same angular 4-cluster corpus as the IVF test — cluster-blocked
    // ids make the first-K codebooks degenerate (all codes from cluster
    // 0) while trained per-subspace k-means spreads them
    val data = (for (c <- 0 until 4; i <- 0 until 8) yield {
      val id = (c * 8 + i).toLong
      val th = c * 1.5 + i * 0.002
      val r = 10.0 + i * 0.01
      (id, Array((r * math.cos(th)).toFloat, (r * math.sin(th)).toFloat,
        (r * math.cos(th + 0.7)).toFloat, (r * math.sin(th + 0.7)).toFloat))
    }).toDF("vec_id", "embedding")
    def meanQErr(cb: org.apache.spark.sql.DataFrame): Double = {
      // mean over vectors of the summed per-subspace reduced distance
      // floor: reconstruct est dist to OWN code = quantization error
      val enc = Similarity.pqEncode(data, col("vec_id"), col("embedding"), 2, 2, cb)
      enc.select(col("id").as("n_id"), posexplode(col("codes")).as(Seq("sub", "code")))
        .join(cb, Seq("sub", "code"))
        .join(data.select(col("vec_id").as("n_id"), col("embedding")), Seq("n_id"))
        .select((Similarity.dot(col("c_v"), col("c_v")) -
          lit(2.0) * Similarity.dot(
            slice(transform(col("embedding"), x => x.cast("double")),
              col("sub") * 2 + 1, lit(2)), col("c_v"))).as("d"))
        .agg(avg(col("d"))).head().getDouble(0)
    }
    val firstK = Similarity.pqCodebookFirstK(data, col("vec_id"), col("embedding"), 2, 2, 4)
    val trained = Similarity.pqCodebooksTrained(data, col("vec_id"), col("embedding"), 2, 2, 4, 8)
    assert(meanQErr(trained) < meanQErr(firstK),
      "per-subspace k-means must cut quantization error on clustered data")
    // ADC with trained codebooks ranks the planted cluster first
    val adc = Similarity.pqAdcTopK(data, col("vec_id"), col("embedding"),
      2, 2, trained, nQueries = 4, k = 7)
    val exact = Similarity.knnBruteForce(data, col("vec_id"), col("embedding"), 4, 7)
    // euclidean ADC vs cosine exact agree on these planted clusters
    assert(meanRecallAtK(adc, exact, 7) >= 0.85,
      "ADC must recover planted-cluster neighbours")
    // exact rerank of the ADC shortlist can only improve recall
    val rr = Similarity.pqAdcRerankTopK(data, col("vec_id"), col("embedding"),
      2, 2, trained, nQueries = 4, k = 7, rerank = 3)
    assert(meanRecallAtK(rr, exact, 7) >=
      meanRecallAtK(adc, exact, 7),
      "rerank must not lose recall vs the raw ADC ranking")
  }

  test("ivf-pq: cells align with planted clusters, results stay in-cluster, " +
      "codebook-member estimates are exact") {
    import spark.implicits._
    // 8 orthogonal planted clusters (center c: 10.0 at dims 2c, 2c+1),
    // cluster = id % 8 so the first-8 coarse centroids hit every cluster
    // and the first-16 residual codebook carries one real residual per
    // cluster (ids 0-7 are the centroids themselves — zero residuals).
    val dim = 16
    val data = (0L until 96L).map { i =>
      val c = (i % 8).toInt
      val v = Array.tabulate(dim) { j =>
        val center = if (j == 2 * c || j == 2 * c + 1) 10.0 else 0.0
        (center + ((i * 7 + j * 13) % 5 - 2) * 0.01).toFloat
      }
      (i, v)
    }.toDF("vec_id", "embedding")
    val res = Similarity.ivfPqAdcTopK(data, col("vec_id"), col("embedding"),
        kCoarse = 8, nprobe = 1, m = 4, dsub = 4, ksub = 16,
        nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // shape: 10 queries × 5 ranks, est ascending, no self-pairs
    assert(res.length == 50)
    res.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to 5), s"ranks for q=$q")
      val ests = rows.sortBy(_._2).map(_._4)
      assert(ests.zip(ests.tail).forall { case (a, b) => a <= b },
        s"est not ascending for q=$q")
      assert(rows.forall(_._3 != q), s"self-pair for q=$q")
      // nprobe=1 probes the query's own cluster cell: every neighbour
      // shares the query's planted cluster
      assert(rows.forall(_._3 % 8 == q % 8),
        s"cross-cluster neighbour for q=$q: ${rows.mkString(",")}")
    }
    // ids 0-15 quantize losslessly (zero residual or their own codebook
    // entry), so their ADC estimate IS the exact squared distance
    val vecs = (0L until 96L).map { i =>
      val c = (i % 8).toInt
      i -> Array.tabulate(dim) { j =>
        val center = if (j == 2 * c || j == 2 * c + 1) 10.0 else 0.0
        (center + ((i * 7 + j * 13) % 5 - 2) * 0.01).toFloat.toDouble
      }
    }.toMap
    val exactPairs = res.filter(_._3 < 16)
    assert(exactPairs.nonEmpty, "no codebook-member pairs surfaced")
    exactPairs.foreach { case (q, _, n, est) =>
      val d2 = vecs(q).zip(vecs(n)).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(est - d2) < 5e-4,
        s"codebook-member estimate not exact: q=$q n=$n est=$est d2=$d2")
    }
  }

  test("trained ivf-pq stays in-cluster where first-K coarse fails (head-cluster init)") {
    import spark.implicits._
    // 8 orthogonal clusters but cluster = id / 12 — ids 0-7 (the first-K
    // coarse centroids AND the residual codebook seeds) all sit in
    // cluster 0, the degenerate-init case the trained path must survive.
    val dim = 16
    val data = (0L until 96L).map { i =>
      val c = (i / 12).toInt
      val v = Array.tabulate(dim) { j =>
        val center = if (j == 2 * c || j == 2 * c + 1) 10.0 else 0.0
        (center + ((i * 7 + j * 13) % 5 - 2) * 0.01).toFloat
      }
      (i, v)
    }.toDF("vec_id", "embedding")
    val res = Similarity.ivfPqAdcTopKTrained(data, col("vec_id"),
        col("embedding"), kCoarse = 8, coarseIters = 3, pqIters = 2,
        nprobe = 1, m = 4, dsub = 4, ksub = 8, nQueries = 6, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(res.length == 30)
    res.foreach { case (q, _, n) =>
      assert(n != q)
      assert(n / 12 == q / 12,
        s"trained ivf-pq returned cross-cluster neighbour: q=$q n=$n")
    }
    // cells must be balanced: trained coarse aligns with the 8 planted
    // clusters (12 vectors each), no mega-cell
    val cents = Similarity.kmeansCentroids(data, col("vec_id"),
      col("embedding"), 8, 3)
    val sizes = Similarity.ivfAssign(data, col("vec_id"),
        col("embedding"), cents)
      .groupBy("cell").count().collect().map(_.getLong(1))
    assert(sizes.length == 8 && sizes.max == 12,
      s"trained coarse cells must match planted clusters: ${sizes.mkString(",")}")
  }

  test("recall@k: exact vs itself = 1; missing queries count as 0") {
    import spark.implicits._
    val bf = Similarity.knnBruteForce(emb, col("vec_id"), col("embedding"), 5, 4)
    assert(meanRecallAtK(bf, bf, 4) == 1.0)
    // ANN that only answered query 0, and only got 2 of its 4 right:
    // the other 4 queries must drag the mean down, not vanish.
    val partial = bf.where(col("q_id") === 0 && col("rank") <= 2)
    val perQ = Similarity.recallAtK(partial, bf, 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(perQ.size == 5, "every ground-truth query appears")
    assert(perQ(0L) == 0.5 && (1L to 4L).forall(perQ(_) == 0.0))
    assert(meanRecallAtK(partial, bf, 4) == 0.1)
  }

  test("exact near-dup guards refuse unscoped quadratics (r13 fence)") {
    import spark.implicits._
    val corpus = (0L until 20L).map(i =>
        (i, i % 4, Array(math.cos(i * 0.3), math.sin(i * 0.3), 0.5)))
      .toDF("vec_id", "label", "v")
    // over the bound: refuse at CALL time, message routes to the LSH path
    val e1 = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(corpus, col("vec_id"), col("v"),
        0.9, maxExactRows = 10)
    }
    assert(e1.getMessage.contains("cosineNearDupPairsLshAuto"))
    // under the bound: runs, exact (adjacent fixture vectors sit at
    // cos ≈ 0.964)
    assert(Similarity.cosineNearDupPairs(corpus, col("vec_id"), col("v"),
      0.9, maxExactRows = 20).count() > 0)
    // blocked guard keys on the LARGEST BLOCK, not the corpus size
    val e2 = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairsBlocked(corpus, col("label"),
        col("vec_id"), col("v"), 0.9, maxBlockRows = 3)
    }
    assert(e2.getMessage.contains("largest block has 5 rows"))
    // blocked result == the inline blocked join it replaces (q46 shape)
    val viaOp = Similarity.cosineNearDupPairsBlocked(corpus, col("label"),
        col("vec_id"), col("v"), 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = corpus.select(col("label"), col("vec_id").as("id"),
      col("v"), Similarity.norm2(col("v")).as("n2"))
    val inline = base.as("a").join(base.as("b"),
        col("a.label") === col("b.label") && col("a.id") < col("b.id"))
      .select(col("a.id").as("d1"), col("b.id").as("d2"),
        (Similarity.dot(col("a.v"), col("b.v")) /
          sqrt(col("a.n2") * col("b.n2"))).as("cos"))
      .where(col("cos") >= 0.3)
      .select(col("d1"), col("d2"), round(col("cos"), 4).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaOp === inline)
  }

  test("exact and blocked guards still refuse at call time when the statistic is memoised") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_test_guards")
      .toString + "/corpus"
    (0L until 20L).map(i =>
        (i, i % 4, Array(math.cos(i * 0.3), math.sin(i * 0.3), 0.5)))
      .toDF("vec_id", "label", "v").write.parquet(dir)
    val corpus = spark.read.parquet(dir)
    def refusals(): (String, String) = (
      intercept[IllegalArgumentException] {
        Similarity.cosineNearDupPairs(corpus, col("vec_id"), col("v"),
          0.9, maxExactRows = 10)
      }.getMessage,
      intercept[IllegalArgumentException] {
        Similarity.cosineNearDupPairsBlocked(corpus, col("label"),
          col("vec_id"), col("v"), 0.9, maxBlockRows = 3)
      }.getMessage)
    val first = refusals()
    // the second call's statistics come from graft.StatsCatalog: no job
    var second = ("", "")
    assert(org.apache.spark.TestAccess.jobsDuring(spark.sparkContext) {
      second = refusals()
    } == 0)
    assert(second == first)
    assert(second._1.contains("20 rows exceed"))
    assert(second._2.contains("largest block has 5 rows"))
    // a raised bound on the memoised statistic lets the same call run
    assert(Similarity.cosineNearDupPairs(corpus, col("vec_id"), col("v"),
      0.9, maxExactRows = 20).count() > 0)
  }
}
