package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Dev-only streaming state-growth probe (VERDICT r11 item 3): the
  * batch operators have 5k→500k-doc probe tables, but the stateful
  * streaming trio (KitState q79, watermark agg q94, session windows
  * q101, bounded-state dedup q97) had correctness replays only — no
  * measurement that state stays O(keys) and per-batch time stays linear
  * when the kit fleet grows 10×/100×.
  *
  * For each leg × key-cardinality × state-store provider (the default
  * HDFS-backed store and RocksDB — the store a 100-TB deploy would run
  * so state spills to disk instead of executor heap), replays a
  * synthetic two-file corpus with a FIXED events-per-key density (so
  * data volume grows with keys, the fleet-growth shape) and reads the
  * engine's own `StreamingQueryProgress.stateOperators` metrics:
  * state rows, state bytes, per-batch wall-clock.
  *
  * Run: SPARK_GRAFT_CPUS=32 runMain graft.StreamProbe [legs...]
  * Results are recorded in docs/SCALING.md (r12 section).
  */
object StreamProbe {

  private val EventsPerKey = 20

  def main(args: Array[String]): Unit = {
    val legs = if (args.isEmpty) Seq("kit", "dedup", "wmagg", "session")
               else args.toSeq
    // the corpus is synthesized per leg: size the session for none
    val spark = Session.build(0L, Session.cpus(8))

    println(f"${"leg"}%-8s ${"store"}%-8s ${"keys"}%9s ${"rows"}%9s " +
      f"${"stateRows"}%10s ${"stateMB"}%8s ${"batches"}%8s ${"maxBatchS"}%9s ${"totalS"}%7s")
    val mults = sys.env.getOrElse("SPARK_GRAFT_PROBE_MULTS", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    // store filter (r13): the 2 M-key decade leg runs RocksDB ONLY —
    // the HDFS-backed store keeps all state on-heap and that leg exists
    // precisely because heap no longer bounds RocksDB
    val stores = sys.env.getOrElse("SPARK_GRAFT_PROBE_STORES", "hdfs,rocksdb")
      .split(",").map(_.trim).toSeq
    for (leg <- legs; store <- stores; mult <- mults) {
      val keys = 2000 * mult
      runLeg(spark, leg, store, keys)
    }
    spark.stop()
  }

  /** Synthetic kit-event corpus: `keys` kits × EventsPerKey events on a
    * per-kit time grid, split into two replay files by time half (the
    * replayKitState staging shape). Returns the input dir. */
  private def stage(spark: SparkSession, name: String, keys: Int): (String, DataFrame) = {
    val n = keys.toLong * EventsPerKey
    val t0 = 1700000000L
    val corpus = spark.range(n).select(
      concat(lit("k"), (col("id") % keys)).as("kit"),
      // event j of a kit lands at t0 + j·900s, kit-staggered by ≤ 60s
      (lit(t0) + floor(col("id") / keys).cast("long") * 900L +
        (col("id") % keys) % 60L).as("ts"),
      (col("id") % 37).cast("double").as("value"),
      when(col("id") % 23 === 0, lit("v9gzzz")).otherwise(lit("u1hu9z")).as("geohash"))
    val tMid = t0 + (EventsPerKey / 2) * 900L
    val dir = java.nio.file.Files.createTempDirectory(s"graft_sprobe_$name")
    def writeHalf(fname: String, pred: org.apache.spark.sql.Column, mtime: Long): Unit = {
      val stageDir = dir.resolve(s".stage_$fname")
      corpus.where(pred).coalesce(1).write.mode("overwrite").parquet(stageDir.toString)
      val part = java.nio.file.Files.list(stageDir)
        .filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val dest = dir.resolve(fname)
      java.nio.file.Files.move(part, dest)
      dest.toFile.setLastModified(mtime)
      java.nio.file.Files.list(stageDir).forEach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.delete(stageDir)
    }
    writeHalf("replay-0.parquet", col("ts") <= tMid, 1000000L)
    writeHalf("replay-1.parquet", col("ts") > tMid, 2000000L)
    (dir.toString, corpus)
  }

  private def runLeg(spark: SparkSession, leg: String, store: String,
                     keys: Int): Unit = {
    import spark.implicits._
    val provider =
      if (store == "rocksdb")
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      else
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    val (inDir, corpus) = stage(spark, leg, keys)
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft_sprobe_ck_$leg").toString
    val outDir = java.nio.file.Files.createTempDirectory(s"graft_sprobe_out_$leg").toString
    val src = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)

    val stream = leg match {
      case "kit" =>
        streaming.KitState(
          src.as[streaming.KitState.KitEvent].groupByKey(_.kit),
          rateS = 3600L, staticThreshold = 3, geoPrefix = 6)
      case "dedup" =>
        // the q97 shape: event-time bounded dedup on (kit, value-bucket)
        src.select(col("kit"), col("value"),
            col("ts").cast("timestamp").as("ets"))
          .withWatermark("ets", "1800 seconds")
          .dropDuplicatesWithinWatermark("kit", "value")
      case "wmagg" =>
        // the q94 shape: watermarked hourly aggregate per kit
        src.select(col("kit"), col("value"),
            col("ts").cast("timestamp").as("ets"))
          .withWatermark("ets", "600 seconds")
          .groupBy(window(col("ets"), "3600 seconds"), col("kit"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
          .select(col("kit"), col("n"), col("s"))
      case "session" =>
        // the q101 shape: session windows with a 30-min gap
        src.select(col("kit"), col("value"),
            col("ts").cast("timestamp").as("ets"))
          .withWatermark("ets", "600 seconds")
          .groupBy(session_window(col("ets"), "1800 seconds"), col("kit"))
          .agg(count(lit(1)).as("n"))
          .select(col("kit"), col("n"))
      case other => sys.error(s"unknown leg $other")
    }
    val t0 = System.nanoTime()
    val q = stream.writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir)
      .outputMode("append")
      .start()
    q.awaitTermination()
    val totalS = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    val batchS = progress.map(_.batchDuration / 1e3)
    val stateRows = progress.flatMap(_.stateOperators.map(_.numRowsTotal))
      .lastOption.getOrElse(0L)
    val stateBytes = progress.flatMap(_.stateOperators.map(_.memoryUsedBytes))
      .lastOption.getOrElse(0L)
    println(f"$leg%-8s $store%-8s $keys%9d ${keys.toLong * EventsPerKey}%9d " +
      f"$stateRows%10d ${stateBytes / 1e6}%8.2f ${batchS.length}%8d " +
      f"${if (batchS.nonEmpty) batchS.max else 0.0}%9.2f $totalS%7.1f")
    Seq(inDir, ckpt, outDir).foreach { d =>
      try deleteRec(java.nio.file.Paths.get(d)) catch { case _: Throwable => }
    }
  }

  private def deleteRec(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p))
      java.nio.file.Files.list(p).forEach(deleteRec)
    java.nio.file.Files.deleteIfExists(p)
  }
}
