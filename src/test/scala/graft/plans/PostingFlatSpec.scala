package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.spark
import spark.implicits._

/** Pins the r13-opt flat posting pipeline (posting_flat_agg →
  * hamming_pruned_pairs_flat) to the struct form it replaced
  * (array_sort(collect_list(struct)) → hamming_pruned_pairs): identical
  * candidate-pair SET on randomized posting lists at every cut, so the
  * de-boxing cannot change what q91/q102 verify. */
class PostingFlatSpec extends AnyFunSuite {
  private val w = 3 // id + 2 sketch words, the production nWords=2 shape

  /** (band, bucket, id, sk) rows — several buckets, skewed sizes, ids
    * deliberately NOT in arrival order (the flat agg never sorts). */
  private lazy val rows = {
    val rnd = new scala.util.Random(41)
    val rs = for {
      band <- 0 until 4
      bucket <- 0 until 6
      i <- 0 until (1 + rnd.nextInt(9))
    } yield (band, bucket.toLong,
      rnd.nextLong().abs % 1000,
      Seq(rnd.nextLong(), rnd.nextLong()))
    rnd.shuffle(rs).toDF("band", "bucket", "id", "sk")
      // collect_list arrival order differs run-to-run; distinct ids per
      // bucket keep the struct form's array_sort canonical
      .dropDuplicates("band", "bucket", "id")
  }

  private def structPairs(hMax: Int, cap: Int): Set[(Long, Long)] =
    rows.groupBy(col("band"), col("bucket"))
      .agg(array_sort(collect_list(struct(col("id"), col("sk")))).as("es"))
      .where(size(col("es")).between(2, cap))
      .select(call_function("hamming_pruned_pairs", col("es"), lit(hMax))
        .as(Seq("p1", "p2")))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def flatPairs(hMax: Int, cap: Int): Set[(Long, Long)] =
    rows.groupBy(col("band"), col("bucket"))
      .agg(call_function("posting_flat_agg", col("id"), col("sk"), lit(w))
        .as("es"))
      .where(size(col("es")).between(2 * w, cap * w))
      .select(call_function("hamming_pruned_pairs_flat", col("es"), lit(w),
        lit(hMax)).as(Seq("p1", "p2")))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("flat pipeline == struct pipeline across cuts and caps") {
    for (hMax <- Seq(0, 7, 23, 64, 128); cap <- Seq(3, 1000)) {
      val s = structPairs(hMax, cap)
      val f = flatPairs(hMax, cap)
      assert(f === s, s"divergence at hMax=$hMax cap=$cap")
      if (hMax == 128 && cap == 1000) assert(s.nonEmpty) // non-vacuous
    }
  }

  test("flat pairs come out (least, greatest) from UNSORTED lists") {
    flatPairs(128, 1000).foreach { case (a, b) => assert(a < b) }
  }

  test("posting_flat_agg: sketch width mismatch fails loudly") {
    val bad = Seq((1L, Seq(1L, 2L, 3L))).toDF("id", "sk")
    val e = intercept[Exception] {
      bad.agg(call_function("posting_flat_agg", col("id"), col("sk"),
        lit(w)).as("es")).collect()
    }
    assert(e.getMessage != null)
  }

  test("single-entry buckets are filtered before the generator") {
    val one = Seq((0, 0L, 5L, Seq(0L, 0L))).toDF("band", "bucket", "id", "sk")
    val got = one.groupBy(col("band"), col("bucket"))
      .agg(call_function("posting_flat_agg", col("id"), col("sk"), lit(w))
        .as("es"))
      .where(size(col("es")).between(2 * w, 1000 * w))
    assert(got.count() === 0)
  }
}
