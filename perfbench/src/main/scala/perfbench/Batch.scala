package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The closed-loop batch workload (`corpus_curation`): one client runs
  * the query list pass after pass.
  *
  * 1. Set up the session once, cold (timed).
  * 2. Check pass, untimed: every query's result is written as parquet
  *    next to `oracle_sql.json`, for the launcher's DuckDB comparison.
  * 3. Timed passes until `seconds` have elapsed. Each execution is the
  *    query function call (build, including any eager jobs) plus a noop
  *    write of the returned frame (plan and exec). An execution that
  *    throws is recorded as failed with its error, never as a time.
  *    Untraced passes continue past the window until `minSamples`
  *    executions are timed, so tail percentiles have enough samples.
  *
  * With `trace`, untraced and traced passes alternate through the window
  * (at least two of each), so the tracing overhead is measured in the
  * same run. */
object Batch {

  final case class Sample(pass: Int, query: String, buildS: Double,
                          execS: Double, error: Option[String])

  def run(a: Args): Unit = {
    val (spark, setup) = Session.setUp(a.corpus, a.cpus)
    val confs = Session.sqlConfs(spark)
    val queries = a.queries.map { n =>
      n -> graft.SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query $n"))
    }

    val checkDir = s"${a.out}/check"
    val checkErrors = mutable.LinkedHashMap[String, String]()
    queries.foreach { case (n, fn) =>
      try fn(spark, a.corpus).write.mode("overwrite").parquet(s"$checkDir/$n")
      catch { case e: Throwable => checkErrors(n) = errorText(e) }
    }
    val oracle = a.queries.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> Json.str(_)))
    write(s"$checkDir/oracle_sql.json", Json.obj(oracle))

    val samples = mutable.ArrayBuffer[Sample]()
    val passes = mutable.ArrayBuffer[(Int, Double, Boolean)]()
    def onePass(tracer: Option[Tracer]): Unit = {
      val p = passes.size
      val t0 = System.nanoTime()
      val passSpan = tracer.map(t => t.open("pass", s"pass $p", 0L))
      queries.foreach { case (n, fn) =>
        samples += (tracer match {
          case None => timeOne(spark, a.corpus, p, n, fn)
          case Some(t) => traceOne(t, spark, a.corpus, p, n, fn, passSpan.get.id)
        })
      }
      passSpan.foreach(s => tracer.get.close(s))
      passes += ((p, (System.nanoTime() - t0) / 1e9, tracer.isDefined))
    }

    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    if (!a.trace)
      while (System.nanoTime() < deadline || samples.size < a.minSamples) onePass(None)
    else {
      // untraced and traced passes alternate in ABBA order, so both see
      // the same JIT and host state on average and their difference is
      // the tracing overhead
      val tracer = new Tracer(spark, s"${a.workload}-${a.seed}")
      while (System.nanoTime() < deadline || passes.size < 4) {
        val traced = passes.size % 4 == 1 || passes.size % 4 == 2
        if (traced) tracer.attach()
        onePass(if (traced) Some(tracer) else None)
        if (traced) tracer.detach()
      }
      write(s"${a.out}/spans.json", tracer.json())
    }

    val result = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "setup" -> Session.setupJson(setup),
      "confs" -> Json.obj(confs.map { case (k, v) => k -> Json.str(v) }),
      "check_errors" -> Json.obj(checkErrors.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "passes" -> Json.arr(passes.toSeq.map { case (p, s, t) =>
        Json.obj(Seq("pass" -> p.toString, "s" -> Json.num(s), "traced" -> t.toString)) }),
      "samples" -> Json.arr(samples.toSeq.map { s =>
        Json.obj(Seq("pass" -> s.pass.toString, "query" -> Json.str(s.query),
          "build_s" -> Json.num(s.buildS), "exec_s" -> Json.num(s.execS),
          "error" -> s.error.map(Json.str).getOrElse("null"))) }),
      "cpus" -> a.cpus.toString,
      "peak_rss_mb" -> Json.num(Session.peakRssMb())))
    write(s"${a.out}/result.json", result)
    spark.stop()
  }

  private def timeOne(spark: SparkSession, corpus: String, pass: Int, name: String,
                      fn: (SparkSession, String) => DataFrame): Sample = {
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, corpus)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      Sample(pass, name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, None)
    } catch { case e: Throwable => Sample(pass, name, Double.NaN, Double.NaN, Some(errorText(e))) }
  }

  private def traceOne(t: Tracer, spark: SparkSession, corpus: String, pass: Int,
                       name: String, fn: (SparkSession, String) => DataFrame,
                       parent: Long): Sample =
    t.within("query", name, parent) { q =>
      try {
        val t0 = System.nanoTime()
        val df = t.within("build", name, q.id) { b =>
          val d = fn(spark, corpus)
          b.set("analysis_s", phaseS(d, "analysis"))
          d
        }
        val t1 = System.nanoTime()
        t.executions.clear()
        t.within("exec", name, q.id) { _ =>
          df.write.format("noop").mode("overwrite").save()
        }
        val t2 = System.nanoTime()
        t.drain()
        Option(t.executions.poll()).foreach { qe =>
          val phases = qe.tracker.phases
          q.set("optimization_s", phases.get("optimization").map(_.durationMs / 1000.0).getOrElse(0.0))
          q.set("planning_s", phases.get("planning").map(_.durationMs / 1000.0).getOrElse(0.0))
          val (candidates, emitted) = pairCounts(qe.executedPlan)
          q.set("pair_candidates", candidates)
          q.set("pair_emitted", emitted)
        }
        Sample(pass, name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, None)
      } catch { case e: Throwable => Sample(pass, name, Double.NaN, Double.NaN, Some(errorText(e))) }
    }

  private def phaseS(df: DataFrame, phase: String): Double =
    df.queryExecution.tracker.phases.get(phase).map(_.durationMs / 1000.0).getOrElse(0.0)

  /** Candidate pairs (rows out of the pair-generating `Generate` nodes) and
    * emitted rows (rows out of the topmost node that counts them) of an
    * executed plan, adaptive stages included. */
  def pairCounts(plan: SparkPlan): (Double, Double) = {
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children ++ other.subqueries
    }
    def rows(p: SparkPlan): Double =
      p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
    def candidates(p: SparkPlan): Double = {
      val own = p match {
        case g: GenerateExec if g.generator.getClass.getSimpleName.contains("Pairs") => rows(g)
        case _ => 0.0
      }
      own + children(p).map(candidates).sum
    }
    def emitted(p: SparkPlan): Double =
      if (p.metrics.contains("numOutputRows")) rows(p)
      else children(p).headOption.map(emitted).getOrElse(0.0)
    val c = candidates(plan)
    (c, if (c > 0) emitted(plan) else 0.0)
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .replaceAll("\\s+", " ").take(500)

  def write(path: String, text: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, text)
  }
}
