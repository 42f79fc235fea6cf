package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's synthetic star-schema tables (TESTDATA.md).
  *
  * At cluster scale the archive would be a partitioned parquet/Delta table;
  * here each table is one parquet file. Filters and projections applied by
  * callers push down to the scan (verify with `.explain`: `PushedFilters`).
  * A table's schema is inferred from its parquet footers (one Spark job)
  * on the first read of each version of its files only; later reads pin
  * it from [[StatsCatalog]].
  */
object Tables {
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The driver's events table stores TIMESTAMP(NANOS) parquet, which
    * Spark only reads via the nanosAsLong legacy conf (as LongType ns);
    * it must be set before schema inference. A session that refuses the
    * runtime set reads without it. */
  private[graft] def readNanosAsLong(spark: SparkSession): Unit =
    if (!spark.conf.getOption(NanosAsLong).contains("true"))
      try spark.conf.set(NanosAsLong, "true")
      catch { case NonFatal(_) => }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    readNanosAsLong(spark)
    val path = s"$sfDir/$name.parquet"
    var inferred: Option[DataFrame] = None
    val schema = StatsCatalog.schema(spark, path) {
      val d = spark.read.parquet(path)
      inferred = Some(d)
      d.schema
    }
    val df = inferred.getOrElse(spark.read.schema(schema).parquet(path))
    // Normalize any ns-long "ts" back to a microsecond TIMESTAMP (integer
    // DIV: int64 ns exceeds double's exact range, a / 1000 would skew).
    df.schema.find(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case None => df
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame     = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
