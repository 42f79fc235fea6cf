package graft.plans

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}

/** The one place that attaches the engine's native functions to a
  * session. Named in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's session builder loads it into every session it creates
  * (and `newSession()` inherits it): operators call the functions by
  * name and never register them. Do not also name it in
  * `spark.sql.extensions`, which would inject every function twice.
  *
  * Functions only: [[BandedIntervalJoinRule]] is installed by
  * [[graft.Session.build]] through `extraOptimizations`, because an
  * injected optimizer rule runs in a batch of its own and changes plans. */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.injections.foreach(ext.injectFunction)
}

object GraftExtensions {
  private type Injection = (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression)

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GeohashEncode].getName, null, name, usage, "")

  /** Scalar parameters that fold into the expression at resolution time
    * (grubbs_agg's alpha/minN, ngram_shingles' n) must BE foldable — a
    * non-foldable column would hit an unbound-attribute `eval()` crash
    * deep in Catalyst (ADVICE r9). Reject with the standard
    * NON_FOLDABLE_INPUT analysis error instead. */
  private def requireFoldable(fn: String, arg: String, e: Expression): Unit =
    if (!e.foldable)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
        messageParameters = Map(
          "sqlExpr" -> fn,
          "inputName" -> s"`$arg`",
          "inputType" -> "constant",
          "inputExpr" -> e.sql),
        cause = None)

  private val injections: Seq[Injection] = Seq(
    (FunctionIdentifier("geohash_encode"),
      info("geohash_encode", "geohash_encode(lat, lon, precision)"),
      (es: Seq[Expression]) => GeohashEncode(Cast(es(0), DoubleType), Cast(es(1), DoubleType), Cast(es(2), IntegerType))),
    (FunctionIdentifier("geohash_decode_lat"),
      info("geohash_decode_lat", "geohash_decode_lat(geohash)"),
      (es: Seq[Expression]) => GeohashDecodeLat(Cast(es.head, StringType))),
    (FunctionIdentifier("geohash_decode_lon"),
      info("geohash_decode_lon", "geohash_decode_lon(geohash)"),
      (es: Seq[Expression]) => GeohashDecodeLon(Cast(es.head, StringType))),
    (FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(array<float|double>, array<float|double>)"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    (FunctionIdentifier("nearest_centroid"),
      info("nearest_centroid",
        "nearest_centroid(vec, cids, cn2s, cents) — map-only IVF argmin cell"),
      // the centroid matrix arrives as foldable literals (typedLit) and
      // folds into expression state at resolution — same contract as
      // grubbs_agg's parameters
      (es: Seq[Expression]) => {
        Seq(("cids", 1), ("cn2s", 2), ("cents", 3)).foreach { case (nm, i) =>
          requireFoldable("nearest_centroid", nm, es(i))
        }
        import org.apache.spark.sql.catalyst.util.ArrayData
        val cids = es(1).eval().asInstanceOf[ArrayData].toLongArray()
        val cn2s = Cast(es(2), ArrayType(DoubleType))
          .eval().asInstanceOf[ArrayData].toDoubleArray()
        val cents = es(3).eval().asInstanceOf[ArrayData]
          .toObjectArray(ArrayType(DoubleType))
          .map(_.asInstanceOf[ArrayData].toDoubleArray())
        NearestCentroid(Cast(es(0), ArrayType(DoubleType)), cids, cn2s, cents)
      }),
    (FunctionIdentifier("ttn_parse_best"),
      info("ttn_parse_best",
        "ttn_parse_best(envelope_json) — best-gateway argmax fused in"),
      (es: Seq[Expression]) => TtnParseBest(Cast(es.head, StringType))),
    (FunctionIdentifier("grubbs_agg"),
      info("grubbs_agg", "grubbs_agg(value, alpha, minN)"),
      // alpha/minN are per-query constants (foldable literals at call
      // sites) — evaluated once at resolution into the aggregate's
      // parameters, keeping the per-row path a bare double append. A
      // non-foldable argument would hit an unbound-attribute eval crash
      // deep in Catalyst (ADVICE r9) — reject it with a readable
      // analysis-time error instead.
      (es: Seq[Expression]) => {
        requireFoldable("grubbs_agg", "alpha", es(1))
        requireFoldable("grubbs_agg", "minN", es(2))
        GrubbsAggregate(Cast(es(0), DoubleType),
          Cast(es(1), DoubleType).eval().asInstanceOf[Double],
          Cast(es(2), IntegerType).eval().asInstanceOf[Int])
      }),
    (FunctionIdentifier("ngram_shingles"),
      info("ngram_shingles", "ngram_shingles(text, n)"),
      // n is a per-query constant — same foldable contract as grubbs_agg.
      (es: Seq[Expression]) => {
        requireFoldable("ngram_shingles", "n", es(1))
        NgramShingles(Cast(es(0), StringType),
          Cast(es(1), IntegerType).eval().asInstanceOf[Int])
      }),
    (FunctionIdentifier("ngram_list"),
      info("ngram_list", "ngram_list(text, n) — every occurrence, in order"),
      (es: Seq[Expression]) => {
        requireFoldable("ngram_list", "n", es(1))
        NgramShingles(Cast(es(0), StringType),
          Cast(es(1), IntegerType).eval().asInstanceOf[Int], distinct = false)
      }),
    (FunctionIdentifier("bpeish_count"),
      info("bpeish_count", "bpeish_count(text) — BPE-ish subword count"),
      (es: Seq[Expression]) => BpeishCount(Cast(es.head, StringType))),
    (FunctionIdentifier("repetition_stats"),
      info("repetition_stats", "repetition_stats(text)"),
      (es: Seq[Expression]) => RepetitionStats(Cast(es.head, StringType))),
    (FunctionIdentifier("pii_scan"),
      info("pii_scan",
        "pii_scan(text) — struct<n_email,n_ipv4,n_phone,redacted>"),
      (es: Seq[Expression]) => PiiScan(Cast(es.head, StringType))),
    (FunctionIdentifier("sorted_longs_agg"),
      info("sorted_longs_agg", "sorted_longs_agg(value)"),
      (es: Seq[Expression]) => SortedLongsAggregate(Cast(es.head, LongType))),
    (FunctionIdentifier("pairs_of_sorted"),
      info("pairs_of_sorted", "pairs_of_sorted(array<bigint>) — generator"),
      (es: Seq[Expression]) => SortedPairs(es.head)),
    (FunctionIdentifier("pairs_of_sorted_sizecut"),
      info("pairs_of_sorted_sizecut",
        "pairs_of_sorted_sizecut(array<bigint>, nshBits, minRatio) — " +
          "generator with the Jaccard size-compatibility cut"),
      (es: Seq[Expression]) => {
        requireFoldable("pairs_of_sorted_sizecut", "nshBits", es(1))
        requireFoldable("pairs_of_sorted_sizecut", "minRatio", es(2))
        SortedPairsSizeCut(es.head,
          Cast(es(1), IntegerType).eval().asInstanceOf[Int],
          Cast(es(2), DoubleType).eval().asInstanceOf[Double])
      }),
    (FunctionIdentifier("srp_codes"),
      info("srp_codes",
        "srp_codes(vec, planes, p[, sketchBands]) — map-only SRP band codes" +
          " (+ packed sketch tail)"),
      // the plane matrix arrives as foldable literals (typedLit) and
      // folds into expression state at resolution — same contract as
      // nearest_centroid's centroid matrix
      (es: Seq[Expression]) => {
        Seq(("planes", 1), ("p", 2)).foreach { case (nm, i) =>
          requireFoldable("srp_codes", nm, es(i))
        }
        import org.apache.spark.sql.catalyst.util.ArrayData
        val planes = es(1).eval().asInstanceOf[ArrayData]
          .toObjectArray(ArrayType(DoubleType))
          .map(_.asInstanceOf[ArrayData].toDoubleArray())
        val p = Cast(es(2), IntegerType).eval().asInstanceOf[Int]
        val sb = if (es.length > 3) {
          requireFoldable("srp_codes", "sketchBands", es(3))
          Cast(es(3), IntegerType).eval().asInstanceOf[Int]
        } else 0
        SrpCodes(Cast(es(0), ArrayType(DoubleType)), planes, p, sb)
      }),
    (FunctionIdentifier("hamming_pruned_pairs"),
      info("hamming_pruned_pairs",
        "hamming_pruned_pairs(array<struct<pk,sk>>, hMax) — generator"),
      (es: Seq[Expression]) => {
        requireFoldable("hamming_pruned_pairs", "hMax", es(1))
        HammingPrunedPairs(es.head,
          Cast(es(1), IntegerType).eval().asInstanceOf[Int])
      }),
    (FunctionIdentifier("posting_flat_agg"),
      info("posting_flat_agg",
        "posting_flat_agg(id, sk, width) — flat [id, sk...] posting list"),
      (es: Seq[Expression]) => {
        requireFoldable("posting_flat_agg", "width", es(2))
        FlatPostingAggregate(Cast(es(0), LongType),
          Cast(es(1), ArrayType(LongType)),
          Cast(es(2), IntegerType).eval().asInstanceOf[Int])
      }),
    (FunctionIdentifier("hamming_pruned_pairs_flat"),
      info("hamming_pruned_pairs_flat",
        "hamming_pruned_pairs_flat(array<bigint>, w, hMax) — generator"),
      (es: Seq[Expression]) => {
        requireFoldable("hamming_pruned_pairs_flat", "w", es(1))
        requireFoldable("hamming_pruned_pairs_flat", "hMax", es(2))
        HammingPairsFlat(es.head,
          Cast(es(1), IntegerType).eval().asInstanceOf[Int],
          Cast(es(2), IntegerType).eval().asInstanceOf[Int])
      }))
}
