package graft

import org.apache.spark.sql.SparkSession

/** The one engine session: every main (Bench, Verify, Explain, MakeScale,
  * PlantedCheck) and the test suite open it here, so the correctness gate
  * checks the physical plans the bench times.
  *
  * Each setting is derived from the core count and the corpus volume.
  * A key already set as a `spark.*` JVM system property (`-Dspark.sql.…`)
  * is left alone — SparkConf loads those — so a deploy or an A/B run
  * overrides any setting without a knob of its own. */
object Session {

  /** Cores for `local[cpus]`: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** On-disk bytes under `path` (0 when it does not exist). */
  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(path))
  }

  /** The settings for `corpusBytes` of input on `cpus` cores, less those
    * a `spark.*` system property already sets. */
  def settings(corpusBytes: Long, cpus: Int): Seq[(String, String)] = {
    // Shuffle-partition sizing: at sf10 (100 M events / 5 M documents)
    // the cpus-count default leaves >3 M rows per shuffle partition and
    // the wide dedup aggregations spill — partitions must track DATA
    // VOLUME, not core count. r8 set a flat AQE initialPartitionNum=512
    // and let coalescing shrink it, but that taxed every multi-shuffle
    // sf0.1 query ~1.35× (judge's paired A/B: q72 1.55×, q41 1.33×,
    // q89 1.28× at 512 vs 32 — AQE coalescing does NOT recover the
    // 512-task launch/coalesce overhead when map output is tiny). r9:
    // derive the initial count from the INPUT volume instead — one
    // initial partition per 4 MiB of on-disk parquet, clamped to
    // [cpus, 512]. 4 MiB of compressed columnar input ≈ the 64 MiB AQE
    // advisory partition size at the ~16× decompress+explode expansion
    // of the widest shuffles here (shingle posting lists), so AQE only
    // ever coalesces DOWN from this start, never needs more. Resulting
    // defaults: sf0.1 (17 MB) → 32 = cpus (r7-equivalent config, no
    // small-scale tax), sf1 (154 MB) → 38, sf10 (1.5 GB) → 369
    // (measured r8: q27 93.7 s @32 static, 61.9 s @≥256). The static
    // spark.sql.shuffle.partitions stays at core count: it is what the
    // non-AQE paths (stateful streaming disables AQE) fall back to.
    val initialParts = math.min(512L, math.max(cpus.toLong, corpusBytes / (4L << 20)))
    // Scan-side split sizing (r12): the MakeScale corpora are ONE
    // heavily-compressed file per table (events sf1 = 15.7 MB for 1 M
    // rows), so the stock 128 MiB maxPartitionBytes put every fact scan
    // in a single task — 1 core parsing while 31 idle (q76's whole
    // residual). Size splits from the corpus volume instead: aim at
    // ~4 tasks per core over the whole directory, floored at 1 MiB
    // (= MakeScale's row-group size — smaller splits can't win: a split
    // without a row-group midpoint does no work) and capped at the
    // 128 MiB default for big corpora.
    val maxPartBytes = math.min(128L << 20, math.max(1L << 20, corpusBytes / (4L * cpus)))
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> initialParts.toString,
      "spark.sql.files.maxPartitionBytes" -> maxPartBytes.toString,
      // collect_list/collect_set aggregations (posting lists, RRD spans,
      // JSON series) hold millions of distinct keys per partition; the
      // stock 128-key ObjectHashAggregate fallback degrades every one of
      // them to sort-based aggregation (measured: q26's posting agg
      // -20 s at sf10 with the raised threshold). Memory caveat for
      // deploys: the MAP-SIDE partial aggregate's hash map is bounded by
      // this threshold itself, not by AQE's advisory size (which only
      // bounds reduce-side partition input), so per-task map-side memory
      // grows with the threshold on large input splits — a smaller-heap
      // box should lower it accordingly (a system property, see above).
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "262144",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // Size-based (NOT forced) broadcast ceiling sized for the deploy
      // box (128 GiB): mid-size build sides (the shingle inverted index
      // at bench SF) broadcast deterministically instead of AQE flapping
      // between SMJ and BHJ run-to-run; oversized sides still shuffle.
      // "-1" as a system property forces shuffle joins, to test whether
      // an AQE broadcast→SMJ runtime transition is what a query pays at
      // the next decade.
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      // Generated-class cache (a static conf; Spark's default is 100
      // entries). Spark 4.1's `CodeGenerator` cache is keyed by (context
      // class loader, source), so local mode compiles each whole-stage
      // class twice: once for the driver's stage thread and once for an
      // executor task thread. A warm pass of the ten corpus-curation
      // queries needs 128 keys (80 distinct sources), so at 100 entries
      // every warm pass recompiled 103–128 classes, about 1.35 s of
      // summed compile time; at 1000 it recompiled none, and a warm pass
      // fell from 3.7–4.5 s to 2.5–3.3 s (4 cores, sf0.01 ×3).
      "spark.sql.codegen.cache.maxEntries" -> "1000")
      .filterNot { case (k, _) => sys.props.contains(k) }
  }

  /** The session sized for the corpus under `corpusDir`. */
  def build(corpusDir: String, cpus: Int): SparkSession =
    build(dirBytes(corpusDir), cpus)

  def build(corpusBytes: Long, cpus: Int): SparkSession = {
    val spark = settings(corpusBytes, cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one optimizer config for every query (q54 relies on the rule;
    // registering here keeps plans consistent across the whole run).
    // extraOptimizations, not injectOptimizerRule: an injected rule runs
    // in another optimizer batch and would change the plans.
    spark.experimental.extraOptimizations = Seq(graft.plans.BandedIntervalJoinRule)
    spark
  }

  /** Runs `body` with the session confs `pairs` set, then puts each key
    * back as it was — its old value, or unset when it had none, so an
    * unset key is not pinned to its default — also when `body` throws.
    * Session-global: safe because declared queries run serially on one
    * session (the bench/verify contract). */
  def withConfs[T](spark: SparkSession, pairs: Seq[(String, String)])(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** JVM/codegen warmup outside any timing (measure the engine, not
    * first-call class loading): runs the whole-stage codegen + shuffle
    * machinery once on a small synthetic job. */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    spark.range(1000).toDF("id").groupBy("id").count().count()
  }
}
