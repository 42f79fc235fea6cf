package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.TextFunctions

/** Semantics pins for the r10 q26 natives: [[NgramShingles]] must equal
  * the declarative tokenize→shingle chain (the oracle-SQL twin's
  * definition) byte for byte including order; [[SortedLongsAggregate]]
  * must equal `array_sort(collect_list(...))` across partition
  * boundaries (partial/merge exercised); [[SortedPairs]] must equal the
  * interpreted HOF pair explode, in BOTH whole-stage-codegen and
  * interpreted execution. */
class ShinglePairSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val edgeTexts = Seq(
    null,
    "",
    "   ",
    "one",
    "one two",
    "one two three",
    "one two three four five",
    "  leading and   multiple   spaces  trailing   ",
    "UPPER Case MiXeD lower case upper case MIXED",
    "repeat repeat repeat repeat repeat repeat",
    "a b c a b c a b c d",                    // duplicate shingles
    "tab\tinside token stays one token here",  // \t is NOT a separator
    "newline\ninside token also stays intact okay",
    "unicode café straße Жук café straße Жук tail",
    "ÉLÉPHANT Éléphant CAFÉ café mix again",
    "x " * 2000 + "tail of a long doc")

  private def textDf = edgeTexts.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  test("ngram_shingles equals the declarative chain on edge texts, n=1..4") {
    for (n <- 1 to 4) {
      val got = textDf.select(col("id"),
        call_function("ngram_shingles", col("text"), lit(n)).as("hs"))
      val want = textDf.select(col("id"),
        TextFunctions.shingles(col("text"), n).as("hs"))
      // exact equality including element ORDER (array_distinct keeps
      // first occurrence) and the null→empty-array mapping
      val diff = got.as("g").join(want.as("w"), Seq("id"))
        .where(not(col("g.hs") <=> col("w.hs")))
      assert(diff.count() === 0, s"n=$n mismatch")
    }
  }

  test("ngram_shingles output is non-nullable and empty for null/short docs") {
    val r = textDf.select(call_function("ngram_shingles", col("text"), lit(3)).as("hs"))
    assert(!r.schema("hs").nullable)
    val shortOnes = textDf.where(col("id") <= 3)
      .select(call_function("ngram_shingles", col("text"), lit(3)).as("hs"))
      .collect()
    assert(shortOnes.forall(_.getSeq[String](0).isEmpty))
  }

  test("ngram_shingles rejects a non-constant n at analysis time") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      textDf.select(call_function("ngram_shingles", col("text"),
        col("id").cast("int"))).collect()
    }
    assert(e.getMessage.contains("foldable"))
  }

  test("sorted_longs_agg equals array_sort(collect_list) incl. partial/merge") {
    val rows = (0 until 5000).map { i =>
      (i % 37L, if (i % 11 == 0) null else java.lang.Long.valueOf(i * 2654435761L % 1000003))
    }
    val df = spark.createDataFrame(rows).toDF("k", "v")
      .repartition(8) // force multiple partials + a real merge per group
    val got = df.groupBy(col("k"))
      .agg(call_function("sorted_longs_agg", col("v")).as("xs"))
    val want = df.groupBy(col("k"))
      .agg(array_sort(collect_list(col("v"))).as("xs"))
    val diff = got.as("g").join(want.as("w"), Seq("k"))
      .where(not(col("g.xs") <=> col("w.xs")))
    assert(diff.count() === 0)
  }

  test("pairs_of_sorted equals the HOF pair explode (codegen + interpreted)") {
    val arrays = Seq(
      Array.empty[Long],
      Array(7L),
      Array(1L, 2L),
      Array(1L, 2L, 3L),
      (1L to 40L).toArray,
      Array(5L, 5L, 9L), // duplicates preserved positionally
      (0 until 128).map(i => i * 104729L % 999983).sorted.map(_.toLong).toArray)
    val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("k", "ids")
    def viaGen = df.select(col("k"),
      call_function("pairs_of_sorted", col("ids")).as(Seq("p1", "p2")))
    def viaHof = df.select(col("k"), explode(flatten(
        transform(col("ids"), (x, i) =>
          transform(slice(col("ids"), i + lit(2), size(col("ids"))),
            y => struct(x.as("p1"), y.as("p2")))))).as("pr"))
      .select(col("k"), col("pr.p1"), col("pr.p2"))
    def diffCount: Long = {
      val g = viaGen.groupBy("k", "p1", "p2").count()
      val w = viaHof.groupBy("k", "p1", "p2").count()
      g.as("g").join(w.as("w"), Seq("k", "p1", "p2"), "full")
        .where(not(col("g.count") <=> col("w.count"))).count()
    }
    assert(diffCount === 0, "codegen path")
    // pair counts: n*(n-1)/2 per input row
    val total = viaGen.count()
    assert(total === arrays.map(a => a.length.toLong * (a.length - 1) / 2).sum)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(diffCount === 0, "interpreted path")
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("pairs_of_sorted plans inside WholeStageCodegen (not CodegenFallback)") {
    val df = Seq((1L, Array(1L, 2L, 3L))).toDF("k", "ids")
    val plan = df.select(call_function("pairs_of_sorted", col("ids"))
      .as(Seq("p1", "p2"))).queryExecution.executedPlan
    val formatted = plan.toString
    assert(formatted.contains("Generate pairs_of_sorted"))
    // the Generate node must report codegen support (GenerateExec
    // consults generator.supportCodegen)
    val gen = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }.head
    assert(gen.supportCodegen)
  }

  test("pairs_of_sorted_sizecut equals pairs_of_sorted + post-filter") {
    // packed (id << b | n_sh) arrays like the q26 posting lists: random
    // sizes so the cut genuinely drops some pairs and keeps others
    val b = 21
    val rnd = new scala.util.Random(42)
    val arrays = Seq(
      Array.empty[Long],
      Array((3L << b) | 50L),
      (0 until 60).map { i =>
        (i.toLong << b) | (1L + rnd.nextInt(400)) }.toArray,
      (0 until 99).map { i =>
        (i.toLong * 7 << b) | (100L + rnd.nextInt(5)) }.toArray) // near-equal sizes
    val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("k", "ids")
    val mask = (1L << b) - 1
    for (ratio <- Seq(0.0, 0.499949, 0.97, 1.0)) {
      def viaCut = df.select(col("k"),
        call_function("pairs_of_sorted_sizecut", col("ids"), lit(b),
          lit(ratio)).as(Seq("p1", "p2")))
      def viaFilter = df.select(col("k"),
        call_function("pairs_of_sorted", col("ids")).as(Seq("p1", "p2")))
        .where(least(col("p1").bitwiseAND(mask), col("p2").bitwiseAND(mask))
          >= lit(ratio) * greatest(col("p1").bitwiseAND(mask),
            col("p2").bitwiseAND(mask)))
      def diffCount: Long = {
        val g = viaCut.groupBy("k", "p1", "p2").count()
        val w = viaFilter.groupBy("k", "p1", "p2").count()
        g.as("g").join(w.as("w"), Seq("k", "p1", "p2"), "full")
          .where(not(col("g.count") <=> col("w.count"))).count()
      }
      assert(diffCount === 0, s"codegen path, ratio=$ratio")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      try assert(diffCount === 0, s"interpreted path, ratio=$ratio")
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // ratio 0 keeps every pair — same totals as the uncut generator
    val total = df.select(call_function("pairs_of_sorted_sizecut",
      col("ids"), lit(b), lit(0.0)).as(Seq("p1", "p2"))).count()
    assert(total === arrays.map(a => a.length.toLong * (a.length - 1) / 2).sum)
  }

  test("size cut epsilon: no pair it drops can round to the threshold " +
      "(every 1 <= n1 <= n2 <= 2000, off-grid thresholds)") {
    // i = n1 is the largest intersection a pair of sizes (n1, n2) can
    // have, so jac = i/(n1+n2−i) = n1/n2 is its best case. Whenever that
    // rounds (HALF_UP, 4 decimals, as Spark's `round` on a double) to
    // ≥ t, the generator's test `lo >= minRatio * hi` with q26's
    // minRatio = t − 5.1e-5 must keep the pair. The case above feeds the
    // generator the ratio it filters on, so only this sweep can catch an
    // epsilon that is unsafe for some t or size.
    val dropped = for {
      t <- Seq(0.3333, 0.33335, 0.5, 0.8571, 0.9)
      minRatio = t - 5.1e-5
      n2 <- 1 to 2000
      n1 <- 1 to n2
      if !(n1 >= minRatio * n2)
      i = n1
      jac = i.toDouble / (n1 + n2 - i)
      if BigDecimal(jac).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble >= t
    } yield (t, n1, n2)
    assert(dropped.isEmpty,
      s"cut drops pairs that reach t: ${dropped.take(5).mkString(", ")}")
  }
}
