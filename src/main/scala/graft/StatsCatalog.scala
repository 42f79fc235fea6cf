package graft

import java.io.FileNotFoundException
import java.util.{LinkedHashMap => JLinkedHashMap, Map => JMap}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Driver-side memo of planning statistics: table schemas and the small
  * eager results (counts, max ids, plane and centroid collects) that
  * operators compute while a query's DataFrame is built. None of them
  * changes while the input files stay the same, so each is computed once
  * per input version instead of once per query.
  *
  * An entry's key is the canonicalised analysed plan (a table's path,
  * for a schema), the input version — the sorted (path, length,
  * modification time) of every file read — and the session's
  * `spark.sql.*` settings: a rewritten input or a changed setting
  * recomputes. Only a deterministic plan whose every leaf is a file scan
  * is memoised; anything else (in-memory, RDD or streaming leaves,
  * nondeterministic expressions) is computed directly. Guards stay with
  * the callers: a `require` over a memoised statistic still runs on
  * every call. Entries are LRU-bounded; a result over `MaxRows` rows is
  * returned but not kept.
  */
object StatsCatalog {
  val MaxEntries = 256
  val MaxRows = 1 << 16

  private type Files = Seq[(String, Long, Long)]
  private final case class Key(what: AnyRef, files: Files, confs: Map[String, String])

  private val entries = new JLinkedHashMap[Key, AnyRef](64, 0.75f, true) {
    override def removeEldestEntry(e: JMap.Entry[Key, AnyRef]): Boolean =
      this.size > MaxEntries
  }

  /** `df.collect()`, memoised when `df`'s plan qualifies. */
  def collect(df: DataFrame): Array[Row] = {
    val plan = df.queryExecution.analyzed
    fileInputs(plan).filter(_ => plan.deterministic) match {
      case Some(files) =>
        memo(Key(plan.canonicalized, files, sqlConfs(df.sparkSession)))(df.collect())(
          _.length <= MaxRows)
      case None => df.collect()
    }
  }

  /** `df.count()`, memoised when `df`'s plan qualifies. */
  def count(df: DataFrame): Long = collect(df.groupBy().count()).head.getLong(0)

  /** The schema of the file table at `path`: `infer` runs on the first
    * read of each version of its files. A path that does not exist is
    * left to `infer` and its error. */
  def schema(spark: SparkSession, path: String)(infer: => StructType): StructType = {
    val p = new Path(path)
    val files = try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) b += version(it.next())
      Some(b.result().sorted)
    } catch { case _: FileNotFoundException => None }
    files match {
      case Some(fs) => memo(Key(p.toString, fs, sqlConfs(spark)))(infer)(_ => true)
      case None => infer
    }
  }

  /** Number of entries held. */
  private[graft] def size: Int = entries.synchronized(entries.size)

  /** Sorted files of every leaf when all leaves are file scans. */
  private def fileInputs(plan: LogicalPlan): Option[Files] = {
    val leaves = plan.collectWithSubqueries { case l if l.children.isEmpty => l }
    val files = leaves.map {
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case HadoopFsRelation(i: PartitioningAwareFileIndex, _, _, _, _, _) =>
          Some(i.allFiles().map(version))
        case _ => None
      }
      case _ => None
    }
    if (leaves.nonEmpty && files.forall(_.isDefined)) Some(files.flatten.flatten.distinct.sorted)
    else None
  }

  private def version(f: FileStatus): (String, Long, Long) =
    (f.getPath.toString, f.getLen, f.getModificationTime)

  private def sqlConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter(_._1.startsWith("spark.sql."))

  private def memo[T <: AnyRef](key: Key)(compute: => T)(keep: T => Boolean): T =
    entries.synchronized(Option(entries.get(key))) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val v = compute
        if (keep(v)) entries.synchronized(entries.put(key, v))
        v
    }
}
