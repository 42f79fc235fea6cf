package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Stats

/** Recursive Grubbs outlier test as a typed Spark [[Aggregator]] —
  * SURVEY §2.5 A4/A5 (reference: statistics/grubbs.py:760-827 driver
  * `Zscore :459-490`): per window, iteratively remove the most extreme
  * value while its Grubbs statistic exceeds the critical threshold, then
  * report the kept [min, max] envelope (the reference then invalidates
  * rows outside it).
  *
  * The aggregate buffers the window's values (windows are bounded — a few
  * thousand rows per kit-period — per SURVEY §4 note), so the iteration
  * runs once per group on the reduced buffer: one shuffle, no driver
  * loop, no recomputation per pass.
  */
object Grubbs {

  case class Result(lo: Double, hi: Double, nKept: Int, nRemoved: Int)

  /** Run the recursive test on a window's values. Windows of >= minN
    * samples are tested (reference skips only `len(data) < threshold`,
    * grubbs.py:466); removal can leave minN−1 values, matching the
    * reference loop (and the round-1 `grubbsRange` it replaced). */
  def test(values: Array[Double], alpha: Double, minN: Int): Result = {
    // Sorted ascending: the aggregation buffer arrives in partition/merge
    // order, but the DuckDB oracle sums a list_sort'ed list — summing in
    // the SAME order keeps mean/sd bit-identical, so a G statistic within
    // one ulp of the critical value can't flip the remove/stop decision
    // differently in the two engines. (Also makes `worst` = last index.)
    val buf = scala.collection.mutable.ArrayBuffer(values.sorted.toSeq: _*)
    var removed = 0
    var continue = buf.length >= minN
    while (continue) {
      val n = buf.length
      val mean = buf.sum / n
      val sd = math.sqrt(buf.map(v => (v - mean) * (v - mean)).sum / (n - 1))
      if (sd == 0.0) continue = false
      else {
        // The reference driver runs grubbs(test='max') (grubbs.py:230):
        // extreme_ix = Z.argmax() — the largest SIGNED z-score, i.e. only
        // high-side outliers are ever removed — paired with the one-sided
        // alpha/N critical value (t.isf(alpha/N, N-2), grubbs.py:794).
        var worst = 0
        var worstDev = Double.NegativeInfinity
        var i = 0
        while (i < n) {
          val dev = buf(i) - mean
          if (dev > worstDev) { worstDev = dev; worst = i }
          i += 1
        }
        val g = worstDev / sd
        if (g > Stats.grubbsCritical(n, alpha)) {
          buf.remove(worst)
          removed += 1
          continue = buf.length >= minN
        } else continue = false
      }
    }
    if (buf.isEmpty) Result(Double.NaN, Double.NaN, 0, removed)
    else Result(buf.min, buf.max, buf.length, removed)
  }

  /** Column form: `grubbs(valueCol)` usable in `groupBy().agg(...)`.
    * α=0.05 and min window 15 are the reference defaults
    * (grubbs.py:229-232, FilterShow.py:450). r9: backed by the native
    * [[graft.plans.GrubbsAggregate]] (primitive-double-array buffer)
    * instead of a typed `Aggregator` whose `List[Double]` buffer paid a
    * boxed encoder round trip per partial/merge hand-off. Output struct
    * field names are unchanged (lo/hi/nKept/nRemoved). */
  def grubbs(value: Column, alpha: Double = 0.05, minN: Int = 15): Column =
    call_function("grubbs_agg", value, lit(alpha), lit(minN))

  /** Per-key Grubbs envelope + invalidation flags (the reference's
    * `UPDATE … SET _valid=0 WHERE v < lo OR v > hi` step): returns the
    * input rows with a `v_valid` tri-state — false outside the envelope,
    * true inside, null when the group was too small to test. */
  def invalidate(df: DataFrame, key: Column, value: Column,
                 alpha: Double = 0.05, minN: Int = 15): DataFrame = {
    val env = df.groupBy(key.as("__grubbs_key"))
      .agg(grubbs(value, alpha, minN).as("g"))
      .select(col("__grubbs_key"), col("g.lo").as("lo"), col("g.hi").as("hi"),
        col("g.nKept").as("n_kept"), col("g.nRemoved").as("n_removed"))
    df.join(env, key === col("__grubbs_key"))
      .withColumn("v_valid",
        when(col("n_kept") === 0, lit(null).cast("boolean"))
          .otherwise(value.between(col("lo"), col("hi"))))
      .drop("__grubbs_key")
  }
}
