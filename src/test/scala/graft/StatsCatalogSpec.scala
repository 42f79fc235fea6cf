package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestAccess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Table schemas and eager planning statistics are computed once per
  * input version: a repeated build runs no job, while a rewritten input,
  * a changed `spark.sql.*` setting, a nondeterministic plan or an
  * in-memory leaf recompute. */
class StatsCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** An sf directory holding only `embeddings.parquet`: ids 0 until `n`,
    * 8-dim vectors, 4 labels. */
  private def corpus(dir: String, n: Int): Unit =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 1.7 + j * 0.9).toFloat), i % 4)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  private def newCorpus(tag: String, n: Int): String = {
    val dir = Files.createTempDirectory(s"graft_test_stats_$tag").toString
    corpus(dir, n)
    dir
  }

  private def jobsDuring(f: => Unit): Int = TestAccess.jobsDuring(spark.sparkContext)(f)

  private def stride(dir: String): Long =
    StatsCatalog.collect(Tables.embeddings(spark, dir).agg(max(col("vec_id"))))
      .head.getLong(0) + 1

  // the curation queries whose builds read a table and compute statistics:
  // stride, counts, the largest block, SRP planes and first-K centroids
  private val statQueries =
    Seq("q46_cosine_neardup", "q102_lsh_neardup_auto", "q113_semdedup")

  private def build(dir: String): Seq[DataFrame] =
    statQueries.map(q => SparkEntry.queries(q)(spark, dir))

  test("a second identical build runs no job") {
    val dir = newCorpus("repeat", 40)
    val first = jobsDuring(build(dir))
    assert(first > 0, "the first build infers the schema and computes statistics")
    assert(jobsDuring(build(dir)) == 0)
    assert(jobsDuring(stride(dir)) > 0)
    assert(jobsDuring(stride(dir)) == 0)
    // the memoised statistics give the plan the uncached build gave
    val again = build(dir).map(_.collect().toSet)
    assert(again == statQueries.map(q => SparkEntry.queries(q)(spark, dir).collect().toSet))
  }

  test("rewriting the table with a larger vec_id gives a new stride") {
    val dir = newCorpus("rewrite", 40)
    assert(stride(dir) == 40)
    corpus(dir, 60)
    assert(stride(dir) == 60)
    assert(Tables.embeddings(spark, dir).count() == 60)
  }

  test("a changed spark.sql setting, a nondeterministic plan and an in-memory leaf recompute") {
    val dir = newCorpus("recompute", 40)
    val maxId = Tables.embeddings(spark, dir).agg(max(col("vec_id")))
    StatsCatalog.collect(maxId)
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, (old.toInt + 1).toString)
    try {
      assert(jobsDuring(StatsCatalog.collect(maxId)) > 0)
      assert(jobsDuring(Tables.embeddings(spark, dir)) > 0, "the schema is inferred again")
    } finally spark.conf.set(key, old)
    assert(jobsDuring(StatsCatalog.collect(maxId)) == 0,
      "the earlier setting's entry is still held")

    val noisy = Tables.embeddings(spark, dir).where(rand(7) < 2.0)
    StatsCatalog.count(noisy)
    assert(jobsDuring(StatsCatalog.count(noisy)) > 0)

    val local = Seq(1L, 2L, 3L).toDF("vec_id")
    assert(StatsCatalog.count(local) == 3)
    assert(jobsDuring(StatsCatalog.count(local)) > 0)
  }

  test("the catalog holds at most MaxEntries entries, least recently used out first") {
    val dir = Files.createTempDirectory("graft_test_stats_lru")
    val paths = (0 to StatsCatalog.MaxEntries).map { i =>
      Files.write(dir.resolve(s"f$i"), Array[Byte](1)).toString
    }
    val inferred = new AtomicInteger()
    def schemaOf(p: String): StructType =
      StatsCatalog.schema(spark, p) { inferred.incrementAndGet(); new StructType() }
    paths.foreach(schemaOf)
    assert(inferred.get == paths.size)
    assert(StatsCatalog.size == StatsCatalog.MaxEntries)
    schemaOf(paths.last)
    assert(inferred.get == paths.size, "the newest entry is kept")
    schemaOf(paths.head)
    assert(inferred.get == paths.size + 1, "the eldest entry was evicted")
    assert(StatsCatalog.size == StatsCatalog.MaxEntries)
  }
}
