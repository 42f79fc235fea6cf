package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet archive with MERGE/upsert semantics — the Spark analogue of
  * the reference's `REPLACE INTO <kit> … UNIQUE KEY datum` archive sink
  * (reference: MyDatacollector/lib/MyARCHIVE.py:360-456, key at
  * MySQLdbSetup.sql:171): last-write-wins per key.
  *
  * Layout: the archive directory is hash-partitioned on the merge key
  * (`__part=N/` subdirs, N = xxhash64(keys) mod numBuckets) — the plain-
  * parquet analogue of the reference's per-kit tables, which is what lets
  * MySQL's REPLACE INTO touch only the rows it must. The layout marker
  * holds the bucket count and the archive's schema, both fixed at
  * creation like the reference's table definition, so neither a read nor
  * an upsert infers the schema from parquet footers (a Spark job each).
  * An upsert
  *
  *   1. checks the batch's columns against the stored schema;
  *   2. buckets the incoming batch and collects its distinct bucket ids
  *      (bounded by `numBuckets`, never by data volume — driver-safe);
  *   3. reads ONLY those buckets of the existing archive (partition
  *      pruning at the file-index level: untouched buckets contribute
  *      zero I/O);
  *   4. merges (window on bucket and key, highest `version` wins, ties to
  *      the incoming batch) and writes the merged buckets to a staging dir;
  *   5. swaps just the touched `__part=N` dirs into place.
  *
  * Untouched partition files are never read, rewritten, or moved — an
  * upsert costs O(batch + touched buckets), not O(archive) as a naive
  * read-union-rewrite would. On a real deployment this maps 1:1 to a
  * Delta/Iceberg MERGE with partition pruning; the layout here keeps the
  * same observable semantics with plain parquet. The merge is one
  * shuffle on the bucket column — the bucket is a function of the key,
  * so equal keys meet in one task — with no driver-side state.
  */
object ArchiveSink {

  /** Partition column added to the stored layout (stripped by [[read]]). */
  val PartCol = "__part"

  /** Marker file recording the layout the directory was created with:
    * the bucket count on its first line and, on its second, the stored
    * schema as `StructType` JSON (the batch's columns, all nullable as a
    * file read returns them, then `__part int`). The layout is fixed at
    * creation: a later upsert hashing the same key into a DIFFERENT
    * bucket count would prune to the wrong partition and silently
    * duplicate keys, so `numBuckets` is a creation-time parameter only —
    * existing archives always use their stored count. Archives created
    * before the schema line carry the count alone and are read with
    * schema inference. */
  private val BucketsMarker = "_graft_buckets"

  private case class Layout(buckets: Int, schema: Option[StructType])

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readLayout(fs: FileSystem, marker: Path): Option[Layout] =
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      Some(Layout(lines.head.trim.toInt,
        lines.lift(1).map(DataType.fromJson(_).asInstanceOf[StructType])))
    }

  /** The archive's files, with the stored schema when the marker has one. */
  private def scan(spark: SparkSession, dir: String, schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(dir)

  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** Refuses a batch whose columns differ from the stored ones by name or
    * type (order and nullability aside): `unionByName` would fail on a
    * missing column but silently widen a retyped one into a bucket of
    * mixed types. */
  private def checkColumns(batch: StructType, stored: StructType, dir: String): Unit = {
    val want = stored.fields.collect {
      case f if f.name != PartCol => f.name -> f.dataType }.toMap
    val got = batch.fields.map(f => f.name -> asNullable(f.dataType)).toMap
    (want.keySet ++ got.keySet).toSeq.sorted.foreach { c =>
      val problem = (got.get(c), want.get(c)) match {
        case (None, _) => Some("is missing")
        case (_, None) => Some("is not in the archive")
        case (Some(g), Some(t)) if g != t =>
          Some(s"is ${g.simpleString}, the archive stores ${t.simpleString}")
        case _ => None
      }
      problem.foreach(p => throw new IllegalArgumentException(
        s"batch does not match the schema of archive $dir: column $c $p"))
    }
  }

  /** Read the archive back without the internal partition column.
    *
    * An archive whose bytes fit in one split
    * (`spark.sql.files.maxPartitionBytes`) is read as one partition: the
    * scan would otherwise run a task per bucket file (a small split floor
    * sits below the per-file open cost, so files are not packed) and
    * report unknown partitioning, so every aggregate over it would add an
    * exchange and a second job. One partition reports `SinglePartition`,
    * which satisfies any aggregate's distribution. The byte count is the
    * scan's own file listing, so this adds no filesystem walk and no job.
    * A larger archive keeps the scan's splits and plan unchanged. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val df = scan(spark, dir, readLayout(fileSystem(spark, dir), new Path(dir, BucketsMarker))
      .flatMap(_.schema)).drop(PartCol)
    val bytes = df.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation => r.relation.sizeInBytes }
    if (bytes.exists(_ <= spark.sessionState.conf.filesMaxPartitionBytes)) df.coalesce(1)
    else df
  }

  /** Test seam: when ≥ 0, the swap loop throws after PARKING the Nth
    * touched bucket and before renaming its replacement in — the exact
    * crash window the `.bak` recovery protocol exists for. Production
    * value is −1 (never fires). */
  private[streaming] var testCrashAfterPark: Int = -1

  /** Upsert `batch` into the partitioned parquet dir: for duplicate keys
    * the row with the highest `version` wins (ties: incoming batch wins).
    * `numBuckets` applies only when the archive is first created; an
    * existing archive's stored bucket count always wins (see
    * [[BucketsMarker]]). A batch whose columns differ from the archive's
    * stored schema is refused with an `IllegalArgumentException`. */
  def upsert(batch: DataFrame, dir: String, keys: Seq[String],
             version: String, numBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val fs = fileSystem(spark, dir)
    val cur = new Path(dir)
    val marker = new Path(cur, BucketsMarker)
    val layout = readLayout(fs, marker)
    layout.flatMap(_.schema).foreach(checkColumns(batch.schema, _, dir))
    val buckets = layout.map(_.buckets).getOrElse {
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
        scan(spark, dir, layout.flatMap(_.schema))
          .where(col(PartCol).isin(touched.map(Integer.valueOf): _*))
          .withColumn("__new", lit(0))
          .unionByName(incoming)
      else incoming
    // One shuffle, on the bucket: it clusters the rows for the partitioned
    // write (one task and one file per touched bucket, not a writer per
    // task and bucket) and, as equal keys share a bucket, it also serves
    // the window on (bucket, key).
    val w = Window.partitionBy((PartCol +: keys).map(col): _*)
      .orderBy(col(version).desc, col("__new").desc)
    val merged = all.repartition(col(PartCol))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn", "__new")
    val staging = new Path(dir + ".staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    merged.write.partitionBy(PartCol).mode("overwrite").parquet(staging.toString)
    if (!fs.exists(cur)) fs.mkdirs(cur)
    if (layout.isEmpty) {
      // Written whole or not at all: a temp file renamed into place.
      val schema = asNullable(batch.schema).asInstanceOf[StructType].add(PartCol, IntegerType)
      val tmp = new Path(cur, s"$BucketsMarker.tmp")
      val out = fs.create(tmp, true)
      try out.write(s"$buckets\n${schema.json}\n".getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, marker))
        throw new java.io.IOException(s"could not rename $tmp to $marker")
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
