package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (session startup dominates
  * test wall-clock otherwise): the engine's own, sized for an empty
  * corpus — the suites read in-memory frames and the tiny fixtures. */
object TestSpark {
  lazy val spark: SparkSession = Session.build(0L, 4)
}
