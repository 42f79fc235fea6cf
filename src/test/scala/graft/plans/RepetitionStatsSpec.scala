package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.TextFunctions
import graft.operators.CorpusFilter

/** Semantics pins for the r10 q106 native: [[RepetitionStats]] (the
  * one-pass map-only scan) must produce exactly the rows of the
  * declarative explode-and-aggregate chain — the definition the DuckDB
  * oracle twin states — on edge texts, random token soups, and in both
  * codegen and interpreted execution. */
class RepetitionStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val edgeTexts = Seq(
    "",                                        // split("", " ") = [""]
    "   ",                                     // all-space = one empty token
    "one",
    "one two",
    "one one",
    "repeat repeat repeat repeat repeat repeat",
    "a b a b a b a b c",                       // top bigram across overlaps
    "  leading and   multiple   spaces  trailing   ",
    "UPPER upper UPPER upper case CASE",
    "tab\tstays one\ttoken",
    "unicode café straße Жук café straße Жук tail",
    "x " * 2000 + "tail")

  /** The declarative explode-and-aggregate form of
    * [[CorpusFilter.repetitionProfile]]: the semantic spec the native scan
    * is property-tested against. */
  private def repetitionProfileDeclarative(
      df: DataFrame, id: Column, text: Column): DataFrame = {
    val tk = TextFunctions.tokens(text)
    val bigrams = when(size(col("tk")) >= 2,
        transform(sequence(lit(0), size(col("tk")) - 2),
          i => concat_ws(" ", element_at(col("tk"), (i + 1).cast("int")),
            element_at(col("tk"), (i + 2).cast("int")))))
      .otherwise(array().cast("array<string>"))
    df.select(id.as("doc_id"), tk.as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"),
        round(lit(1.0) -
          size(array_distinct(col("tk"))).cast("double") / size(col("tk")),
          4).as("dup_frac"),
        explode_outer(bigrams).as("g"))
      .groupBy(col("doc_id"), col("n_tok"), col("dup_frac"), col("g"))
      .agg(count(col("g")).as("c")) // count(g): 0 for the null outer row
      .groupBy(col("doc_id"), col("n_tok"), col("dup_frac"))
      .agg(max(col("c")).as("top_c"))
      .select(col("doc_id"), col("n_tok"), col("dup_frac"),
        when(col("n_tok") >= 2,
          round(col("top_c") / (col("n_tok") - 1).cast("double"), 4))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
  }

  private def profiles(df: DataFrame) = {
    val native = CorpusFilter.repetitionProfile(df, col("id"), col("text"))
    val spec = repetitionProfileDeclarative(df, col("id"), col("text"))
    (native, spec)
  }

  private def assertSame(df: DataFrame): Unit = {
    val (native, spec) = profiles(df)
    val n = native.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val s = spec.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(n === s)
  }

  test("repetition_stats equals the declarative chain on edge texts") {
    assertSame(edgeTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text"))
  }

  test("repetition_stats equals the declarative chain on random token soups") {
    val rnd = new scala.util.Random(20260815L)
    val vocab = Array("alpha", "beta", "Gamma", "δ", "x", "yy", "zzz", "CAFÉ")
    val docs = (0 until 300).map { i =>
      val n = rnd.nextInt(40)
      val toks = Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
      (i.toLong, toks.mkString(sep = if (rnd.nextBoolean()) " " else "  "))
    }
    assertSame(docs.toDF("id", "text"))
  }

  test("repetition_stats matches in interpreted (non-codegen) execution") {
    val df = edgeTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assertSame(df)
    }
  }

  test("null text yields a null struct (downstream nulls, frac 0.0)") {
    val df = Seq((1L, null: String), (2L, "a a")).toDF("id", "text")
    val out = CorpusFilter.repetitionProfile(df, col("id"), col("text"))
      .orderBy("doc_id").collect()
    assert(out(0).isNullAt(1) && out(0).isNullAt(2))
    assert(out(0).getDouble(3) === 0.0) // when(null >= 2) → otherwise
    assert(out(1).getLong(1) === 2L && out(1).getDouble(2) === 0.5)
  }

  private def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
