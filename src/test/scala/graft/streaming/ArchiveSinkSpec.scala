package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.TestAccess
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.{Session, TestSpark}
import graft.operators.Resample

/** The archive's layout marker pins its schema: reads and upserts use it
  * instead of inferring parquet footers, batches must match it, and the
  * merge shuffles once. An archive within one split reads as one
  * partition. */
class ArchiveSinkSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_test_archive_$tag").toString + "/t"

  private def marker(dir: String): Path = Paths.get(dir, "_graft_buckets")

  /** Every parquet file under `dir`. */
  private def parquetFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  /** md5 of every parquet file under `dir`, by relative path. */
  private def checksums(dir: String): Map[String, String] =
    parquetFiles(dir).map { p =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Paths.get(dir).relativize(p).toString ->
        md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toMap

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().sortBy(_.getAs[Long]("id")).toSeq

  private def inferred(dir: String): DataFrame =
    spark.read.parquet(dir).drop(ArchiveSink.PartCol)

  /** Non-nullable primitives, a nested struct and an array with
    * non-null elements: the stored schema must turn all of them
    * nullable, as a file read does. */
  private def wide(ids: Range, v: Long): DataFrame =
    ids.map(i => (i.toLong, v, i * 0.5, s"k$i", i % 2 == 0, (i, s"p$i"),
      Seq(i, i + 1), new Timestamp(1700000000000L + i * 1000L)))
      .toDF("id", "v", "x", "tag", "ok", "pos", "xs", "at")

  private def jobsDuring(f: => Unit): Int = TestAccess.jobsDuring(spark.sparkContext)(f)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("the pinned read equals the inferred read: schema, order, nullability, rows") {
    val dir = newDir("pinned_")
    ArchiveSink.upsert(wide(0 until 40, 10L), dir, Seq("id"), "v", numBuckets = 8)
    // the same columns in another order, overwriting some keys
    val b2 = wide(30 until 60, 20L)
    ArchiveSink.upsert(b2.select(b2.columns.reverse.map(col): _*), dir, Seq("id"), "v")
    ArchiveSink.upsert(wide(55 until 70, 30L), dir, Seq("id"), "v")

    val lines = Files.readAllLines(marker(dir)).asScala
    assert(lines.head == "8")
    assert(DataType.fromJson(lines(1)) == spark.read.parquet(dir).schema,
      "the stored schema is the one a file read infers, __part included")
    val pinned = ArchiveSink.read(spark, dir)
    assert(pinned.schema == inferred(dir).schema)
    assert(pinned.schema.fieldNames.toSeq == Seq("id", "v", "x", "tag", "ok", "pos", "xs", "at"))
    assert(sortedRows(pinned) == sortedRows(inferred(dir)))
    val vs = sortedRows(pinned).map(r => r.getAs[Long]("id") -> r.getAs[Long]("v")).toMap
    assert(vs.size == 70 && vs(0L) == 10L && vs(40L) == 20L && vs(60L) == 30L)
  }

  test("an archive with a count-only marker reads and upserts by inference") {
    val dir = newDir("countonly_")
    ArchiveSink.upsert(Seq((1L, 10L, 1.0), (2L, 10L, 2.0)).toDF("id", "v", "x"),
      dir, Seq("id"), "v")
    // an archive written before the marker carried the schema, as that
    // sink wrote its marker (through Hadoop, with a checksum sidecar)
    val hm = new HPath(marker(dir).toString)
    val w = hm.getFileSystem(spark.sparkContext.hadoopConfiguration).create(hm, true)
    try w.write("64".getBytes("UTF-8")) finally w.close()
    assert(sortedRows(ArchiveSink.read(spark, dir)) == sortedRows(inferred(dir)))
    ArchiveSink.upsert(Seq((2L, 20L, 2.5), (3L, 10L, 3.0)).toDF("id", "v", "x"),
      dir, Seq("id"), "v")
    val out = sortedRows(ArchiveSink.read(spark, dir))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out == Seq((1L, 10L, 1.0), (2L, 20L, 2.5), (3L, 10L, 3.0)))
    assert(new String(Files.readAllBytes(marker(dir)), "UTF-8") == "64",
      "old markers are not migrated")
  }

  test("a batch that does not match the stored schema is refused before staging") {
    val dir = newDir("mismatch_")
    ArchiveSink.upsert((0 until 50).map(i => (i.toLong, 10L, i * 1.0)).toDF("id", "v", "x"),
      dir, Seq("id"), "v")
    val before = checksums(dir)
    val bad = Seq(
      "x" -> Seq((5L, 20L, "9.9")).toDF("id", "v", "x"),
      "x" -> Seq((5L, 20L)).toDF("id", "v"),
      "y" -> Seq((5L, 20L, 9.9, 1)).toDF("id", "v", "x", "y"))
    bad.foreach { case (column, batch) =>
      val e = intercept[IllegalArgumentException] {
        ArchiveSink.upsert(batch, dir, Seq("id"), "v")
      }
      assert(e.getMessage.contains(s"column $column "), e.getMessage)
      assert(!Files.exists(Paths.get(dir + ".staging")), "nothing staged")
      assert(checksums(dir) == before, s"files changed after refusing ${batch.schema.simpleString}")
    }
    // column order and nullability are not part of the match
    ArchiveSink.upsert(Seq((Option(9.9), 20L, 5L)).toDF("x", "v", "id"), dir, Seq("id"), "v")
    assert(ArchiveSink.read(spark, dir).where(col("id") === 5L).head().getAs[Double]("x") == 9.9)
  }

  test("the merge shuffles once and a marked read runs no inference job") {
    val dir = newDir("shuffle_")
    ArchiveSink.upsert((0 until 100).map(i => (i.toLong, 10L, i * 1.0)).toDF("id", "v", "x"),
      dir, Seq("id"), "v", numBuckets = 8)
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined) writes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ArchiveSink.upsert((50 until 150).map(i => (i.toLong, 20L, -1.0 * i)).toDF("id", "v", "x"),
        dir, Seq("id"), "v")
      TestAccess.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1, "one partitioned write per upsert")
    val shuffles = collect(writes.peek().executedPlan) { case s: ShuffleExchangeLike => s }
    assert(shuffles.size == 1, writes.peek().executedPlan.treeString)
    val rows = ArchiveSink.read(spark, dir)
    assert(rows.count() == 150 && rows.where(col("x") < 0).count() == 100)

    // building the pinned read runs no job; an inferred read runs one
    assert(jobsDuring(noop(ArchiveSink.read(spark, dir))) ==
      jobsDuring(noop(rows)), "read + noop write runs only the noop write's jobs")
    assert(jobsDuring(ArchiveSink.read(spark, dir)) == 0)
    assert(jobsDuring(inferred(dir)) >= 1, "the inference job the marker saves")
  }

  /** A telegram-shaped archive: 60 kits, 90 minutes of readings, 4
    * bucket files of a few KB each. */
  private def telegramArchive(): String = {
    val dir = newDir("telegram_")
    val rows = for (k <- 0 until 60; m <- 0 until 90 by 5)
      yield (s"kit$k", 1700000000L + m * 60L, k + m * 0.1)
    ArchiveSink.upsert(rows.toDF("kit", "ts", "value"), dir, Seq("kit", "ts"), "ts",
      numBuckets = 4)
    dir
  }

  /** q02's hourly mean over the archive's epoch-second `ts`. */
  private def hourly(df: DataFrame): DataFrame =
    Resample.hourlyAvg(df.withColumn("t", timestamp_seconds(col("ts"))), col("t"), col("value"))

  private def exchanges(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeLike => s }.size

  private def sameAsInferred(read: DataFrame, dir: String): Unit = {
    assert(read.schema == inferred(dir).schema)
    assert(read.collect().map(_.toString).sorted.toSeq ==
      inferred(dir).collect().map(_.toString).sorted.toSeq)
  }

  test("an archive within one split reads as one partition; its hourly aggregate runs one job") {
    val dir = telegramArchive()
    val sizes = parquetFiles(dir).map(Files.size)
    assert(sizes.size == 4 && sizes.sum <= spark.conf.get("spark.sql.files.maxPartitionBytes").toLong)
    assert(jobsDuring(ArchiveSink.read(spark, dir)) == 0, "building the read runs no job")
    val read = ArchiveSink.read(spark, dir)
    assert(read.queryExecution.executedPlan.outputPartitioning == SinglePartition)
    assert(read.queryExecution.toRdd.getNumPartitions == 1)
    sameAsInferred(read, dir)
    val agg = hourly(ArchiveSink.read(spark, dir))
    assert(exchanges(agg) == 0, agg.queryExecution.executedPlan.treeString)
    assert(jobsDuring(noop(agg)) == 1)
    assert(agg.count() == 2 && agg.agg(sum("n")).head().getLong(0) == 60 * 18)
  }

  test("an archive larger than one split keeps a partition per bucket file and the exchange") {
    val dir = telegramArchive()
    val sizes = parquetFiles(dir).map(Files.size)
    assert(sizes.max < sizes.sum)
    Session.withConfs(spark, Seq("spark.sql.files.maxPartitionBytes" -> sizes.max.toString)) {
      assert(jobsDuring(ArchiveSink.read(spark, dir)) == 0, "building the read runs no job")
      val read = ArchiveSink.read(spark, dir)
      assert(!read.queryExecution.optimizedPlan.exists(_.isInstanceOf[Repartition]))
      assert(read.queryExecution.executedPlan.outputPartitioning != SinglePartition)
      assert(read.queryExecution.toRdd.getNumPartitions == sizes.size)
      sameAsInferred(read, dir)
      val agg = hourly(ArchiveSink.read(spark, dir))
      assert(exchanges(agg) == 1, agg.queryExecution.executedPlan.treeString)
      assert(jobsDuring(noop(agg)) >= 2)
    }
  }

  test("q36 archive buckets: unchanged to sf10, files of at most 1 GiB at 100 TB") {
    // corpus sizes as Session.dirBytes measures them
    assert(Replay.archiveBuckets(17508506L, 32) == 4) // sf0.1
    assert(Replay.archiveBuckets(154L << 20, 32) == 19) // sf1
    assert(Replay.archiveBuckets(1536L << 20, 32) == 32) // sf10
    assert(Replay.archiveBuckets(200L << 30, 32) == 512) // the 512 cap still holds
    for (bytes <- Seq(100L * 1000 * 1000 * 1000 * 1000, 100L << 40, (100L << 40) + 1)) {
      val b = Replay.archiveBuckets(bytes, 32)
      assert((bytes + b - 1) / b <= (1L << 30), s"$bytes bytes in $b buckets")
    }
  }
}
