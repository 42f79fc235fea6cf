package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its Spark plan over a corpus directory, beside the
  * DuckDB SQL that must give the same rows under the same column names
  * (the driver sorts columns by name before hashing). */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

/** The query inventory, with each query's build and its oracle keyed by
  * name. A name given twice fails here rather than dropping a query. */
final case class Registry(all: Seq[Query]) {
  private val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
  require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")

  val builds: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap
  val oracles: Map[String, String] = all.map(q => q.name -> q.oracle).toMap
}
