package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parquet archive with MERGE/upsert semantics — the Spark analogue of
  * the reference's `REPLACE INTO <kit> … UNIQUE KEY datum` archive sink
  * (reference: MyDatacollector/lib/MyARCHIVE.py:360-456, key at
  * MySQLdbSetup.sql:171): last-write-wins per key.
  *
  * Layout: the archive directory is hash-partitioned on the merge key
  * (`__part=N/` subdirs, N = xxhash64(keys) mod numBuckets) — the plain-
  * parquet analogue of the reference's per-kit tables, which is what lets
  * MySQL's REPLACE INTO touch only the rows it must. An upsert
  *
  *   1. buckets the incoming batch and collects its distinct bucket ids
  *      (bounded by `numBuckets`, never by data volume — driver-safe);
  *   2. reads ONLY those buckets of the existing archive (partition
  *      pruning at the file-index level: untouched buckets contribute
  *      zero I/O);
  *   3. merges (window on the key, highest `version` wins, ties to the
  *      incoming batch) and writes the merged buckets to a staging dir;
  *   4. swaps just the touched `__part=N` dirs into place.
  *
  * Untouched partition files are never read, rewritten, or moved — an
  * upsert costs O(batch + touched buckets), not O(archive) as a naive
  * read-union-rewrite would. On a real deployment this maps 1:1 to a
  * Delta/Iceberg MERGE with partition pruning; the layout here keeps the
  * same observable semantics with plain parquet. The merge itself is a
  * shuffle on the key columns only — no driver-side state.
  */
object ArchiveSink {

  /** Partition column added to the stored layout (stripped by [[read]]). */
  val PartCol = "__part"

  /** Marker file recording the bucket count the directory was laid out
    * with. The layout is fixed at creation: a later upsert hashing the
    * same key into a DIFFERENT bucket count would prune to the wrong
    * partition and silently duplicate keys, so `numBuckets` is a
    * creation-time parameter only — existing archives always use their
    * stored count. */
  private val BucketsMarker = "_graft_buckets"

  /** Read the archive back without the internal partition column. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).drop(PartCol)

  /** Test seam: when ≥ 0, the swap loop throws after PARKING the Nth
    * touched bucket and before renaming its replacement in — the exact
    * crash window the `.bak` recovery protocol exists for. Production
    * value is −1 (never fires). */
  private[streaming] var testCrashAfterPark: Int = -1

  /** Upsert `batch` into the partitioned parquet dir: for duplicate keys
    * the row with the highest `version` wins (ties: incoming batch wins).
    * `numBuckets` applies only when the archive is first created; an
    * existing archive's stored bucket count always wins (see
    * [[BucketsMarker]]). */
  def upsert(batch: DataFrame, dir: String, keys: Seq[String],
             version: String, numBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(dir)
    val marker = new Path(cur, BucketsMarker)
    val buckets =
      if (fs.exists(marker)) {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in).mkString.trim.toInt
        finally in.close()
      } else {
        if (fs.exists(cur)) {
          val entries = fs.listStatus(cur)
          // A partitioned dir WITHOUT a marker is a layout of unknown
          // bucket count (pre-marker archive): guessing would prune to the
          // wrong partitions and silently duplicate keys — refuse instead.
          if (entries.exists(_.getPath.getName.startsWith(s"$PartCol=")))
            throw new IllegalStateException(
              s"$dir has $PartCol= partitions but no $BucketsMarker marker; " +
                "its bucket count is unknown. Re-create the archive (or write " +
                "the marker with the count it was laid out with) before upserting.")
          // A non-empty dir with data files but no __part= layout is a
          // legacy FLAT archive (pre-partitioned sink): proceeding would
          // only fail later with an obscure unresolved-`__part` error —
          // refuse with a migration hint instead (ADVICE r4).
          if (entries.exists(st => !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith(".")))
            throw new IllegalStateException(
              s"$dir exists but has no $PartCol= partition layout — it looks " +
                "like a flat (unpartitioned) archive from an earlier sink. " +
                "Read it and upsert its rows into a fresh archive dir to " +
                "migrate before upserting here.")
        }
        numBuckets
      }
    // Recover from a crashed previous swap: any bucket parked in `.bak`
    // whose live dir is missing was mid-replacement when the process
    // died — move it back before this upsert reads the archive, so no
    // intermediate state ever loses a bucket's prior rows (ADVICE r4).
    val bak = new Path(dir + ".bak")
    if (fs.exists(bak)) {
      fs.listStatus(bak).foreach { st =>
        val live = new Path(cur, st.getPath.getName)
        if (!fs.exists(live)) fs.rename(st.getPath, live)
      }
      fs.delete(bak, true)
    }
    val bucket = pmod(xxhash64(keys.map(col): _*), lit(buckets)).cast("int")
    val incoming = batch.withColumn(PartCol, bucket).withColumn("__new", lit(1))
    val touched = incoming.select(col(PartCol)).distinct()
      .collect().map(_.getInt(0)).sorted
    // An empty batch changes nothing: writing the marker and an empty dir
    // for it would leave a new archive no later upsert can read.
    if (touched.isEmpty) return
    val all =
      if (fs.exists(cur))
        spark.read.parquet(dir)
          .where(col(PartCol).isin(touched.map(Integer.valueOf): _*))
          .withColumn("__new", lit(0))
          .unionByName(incoming)
      else incoming
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(version).desc, col("__new").desc)
    val merged = all.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn", "__new")
    val staging = new Path(dir + ".staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    // Cluster rows by bucket before the partitioned write: without this,
    // EVERY task opens a writer per touched bucket (tasks × buckets tiny
    // files per upsert — measured 3× on the replay bench via the
    // read-back of thousands of small files). One extra shuffle of the
    // touched data buys one file per bucket — also the layout a real
    // archive wants.
    merged.repartition(col(PartCol))
      .write.partitionBy(PartCol).mode("overwrite").parquet(staging.toString)
    if (!fs.exists(cur)) fs.mkdirs(cur)
    if (!fs.exists(marker)) {
      val out = fs.create(marker, true)
      try out.write(buckets.toString.getBytes("UTF-8")) finally out.close()
    }
    // Swap each touched bucket via a `.bak` parking dir so the old rows
    // survive every intermediate state: park old → rename new into place
    // → drop the parking dir. A crash mid-loop leaves either the old dir
    // live, or the old dir parked (recovered by the next upsert, above) —
    // never a destructive delete-before-replace window.
    fs.mkdirs(bak)
    touched.zipWithIndex.foreach { case (p, i) =>
      val dst = new Path(cur, s"$PartCol=$p")
      val src = new Path(staging, s"$PartCol=$p")
      if (fs.exists(src)) {
        if (fs.exists(dst)) fs.rename(dst, new Path(bak, s"$PartCol=$p"))
        if (testCrashAfterPark == i)
          throw new java.io.IOException(
            s"injected test crash after parking bucket $p")
        fs.rename(src, dst)
      }
    }
    fs.delete(bak, true)
    fs.delete(staging, true)
  }
}
