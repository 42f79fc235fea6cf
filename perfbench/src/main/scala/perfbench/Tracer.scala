package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: `end` is NaN while it is open. */
final class Span(val id: Long, val parent: Long, val kind: String,
                 val name: String, val start: Double) {
  @volatile var end: Double = Double.NaN
  val attrs: mutable.Map[String, Double] = mutable.Map()
  def add(k: String, v: Double): Unit =
    attrs.synchronized { attrs(k) = attrs.getOrElse(k, 0.0) + v }
  def set(k: String, v: Double): Unit = attrs.synchronized { attrs(k) = v }
}

/** In-memory span recorder for the traced run.
  *
  * A span has an id, a parent, a kind (workload, pass, query, build,
  * exec, batch, upsert, forward, reader, read, job, stage, ...), a name,
  * start and end (epoch seconds) and numeric attributes. Harness spans
  * are opened and closed by the harness; job and stage spans come from a
  * `SparkListener` and hang under the span whose id was the job group
  * when the job started. Task metrics are summed into their stage span.
  * Events are received only between `attach()` and `detach()`. */
final class Tracer(spark: SparkSession, runId: String) {

  private val ids = new AtomicLong()
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  private val taskRuns = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Double]]()
  /** Executed write commands, in completion order, for the harness to
    * pick up after each exec span. */
  val executions = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()

  private def now(): Double = System.currentTimeMillis() / 1000.0

  def open(kind: String, name: String, parent: Long): Span = {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, now())
    spans.put(s.id, s)
    s
  }

  def close(s: Span): Unit = s.end = now()

  /** Runs `f` inside a span whose id is the Spark job group, so every job
    * `f` starts is attributed to it. */
  def within[T](kind: String, name: String, parent: Long)(f: Span => T): T = {
    val s = open(kind, name, parent)
    val sc = spark.sparkContext
    val keys = Seq(Tracer.JobGroup,
      "spark.job.description", "spark.job.interruptOnCancel")
    val saved = keys.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(s.id.toString, s"$kind $name", interruptOnCancel = false)
    try f(s)
    finally { saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }; close(s) }
  }

  /** Waits until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.JobGroup)))
      val parent = group.flatMap(g => scala.util.Try(g.toLong).toOption).getOrElse(0L)
      val s = new Span(ids.incrementAndGet(), parent, "job", s"job ${e.jobId}",
        e.time / 1000.0)
      spans.put(s.id, s)
      jobSpan.put(e.jobId, s)
      e.stageIds.foreach(st => stageJob.putIfAbsent(st, s))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach(_.end = e.time / 1000.0)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      val parent = Option(stageJob.get(info.stageId)).map(_.id).getOrElse(0L)
      val start = info.submissionTime.map(_ / 1000.0).getOrElse(now())
      val s = new Span(ids.incrementAndGet(), parent, "stage",
        s"stage ${info.stageId}.${info.attemptNumber()}", start)
      spans.put(s.id, s)
      stageSpan.put(info.stageId, s)
      taskRuns.put(info.stageId, mutable.ArrayBuffer())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageSpan.remove(info.stageId)).foreach { s =>
        s.end = info.completionTime.map(_ / 1000.0).getOrElse(now())
        val runs = Option(taskRuns.remove(info.stageId)).getOrElse(mutable.ArrayBuffer())
        if (runs.nonEmpty) {
          val sorted = runs.sorted
          s.set("task_run_max_s", sorted.last)
          s.set("task_run_median_s", sorted(sorted.size / 2))
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        val info = e.taskInfo
        val run = m.executorRunTime / 1000.0
        s.add("tasks", 1)
        s.add("task_run_s", run)
        s.add("task_cpu_s", m.executorCpuTime / 1e9)
        s.add("gc_s", m.jvmGCTime / 1000.0)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_bytes",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        val wall = (info.finishTime - info.launchTime) / 1000.0
        val delay = wall - run - m.executorDeserializeTime / 1000.0 -
          m.resultSerializationTime / 1000.0 - info.gettingResultTime / 1000.0
        s.add("scheduler_delay_s", math.max(0.0, delay))
        Option(taskRuns.get(e.stageId)).foreach(b => b.synchronized(b += run))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executions.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Starts receiving job, stage, task and query events. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Stops receiving events, once every event posted so far is handled. */
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Every recorded span as one JSON array. */
  def json(): String = {
    val all = spans.values().toArray(Array.empty[Span]).sortBy(_.id)
    all.map { s =>
      val attrs = s.attrs.synchronized(s.attrs.toSeq.sortBy(_._1))
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start":${Json.num(s.start)},""" +
        s""""end":${Json.num(s.end)},"run":${Json.str(runId)},"attrs":{$attrs}}"""
    }.mkString("[", ",\n", "]")
  }
}

/** Minimal JSON rendering for the harness's output files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}

object Tracer {
  /** Spark's job-group local property. */
  val JobGroup = "spark.jobGroup.id"
}
