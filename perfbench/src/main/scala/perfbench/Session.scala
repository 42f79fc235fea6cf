package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Builds the engine session the way `graft.Bench` does: `local[cpus]`,
  * volume-derived shuffle and scan sizing, the raised object-hash
  * aggregate fallback, the 64m broadcast ceiling and the
  * `BandedIntervalJoinRule`, then the same two warm-up jobs. The heap is
  * pinned by the launcher (`-Xms` = `-Xmx`). */
object Session {

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def build(corpusDir: String, cpus: Int): SparkSession = {
    val bytes = dirBytes(new File(corpusDir))
    val initialParts = math.min(512L, math.max(cpus.toLong, bytes / (4L << 20)))
    val maxPartBytes =
      math.min(128L << 20, math.max(1L << 20, bytes / (4L * cpus)))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialParts.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", maxPartBytes.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.experimental.extraOptimizations = Seq(graft.plans.BandedIntervalJoinRule)
    spark
  }

  def warmup(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    spark.range(1000).toDF("id").groupBy("id").count().count()
  }

  /** The effective `spark.sql.*` settings, printed with every run so a
    * drift between this session and the engine's own mains shows. */
  def sqlConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter(_._1.startsWith("spark.sql.")).sortBy(_._1)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Times one session build plus warm-up. The harness calls it first
    * thing in a fresh JVM, so this is the cold set-up a user pays (class
    * loading, rule registration, first-job compilation). Returns the
    * session and (build_s, warmup_s). */
  def setUp(corpusDir: String, cpus: Int): (SparkSession, (Double, Double)) = {
    val t0 = System.nanoTime()
    val spark = build(corpusDir, cpus)
    val t1 = System.nanoTime()
    warmup(spark)
    val t2 = System.nanoTime()
    (spark, ((t1 - t0) / 1e9, (t2 - t1) / 1e9))
  }

  def setupJson(setup: (Double, Double)): String =
    Json.obj(Seq("build_s" -> Json.num(setup._1), "warmup_s" -> Json.num(setup._2)))
}
