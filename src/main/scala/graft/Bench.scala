package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** The session Bench times under (Verify checks under the same). */
  def session(sfDir: String): SparkSession = Session.build(sfDir, Session.cpus(4))

  /** Min-of-`runs` wall time of building `query` and writing it to the
    * noop sink, or the first error a run threw — a query that throws
    * never gets a time. The noop sink forces full evaluation of every
    * output column (a count() would let Catalyst prune the projections
    * being measured). */
  def time(runs: Int)(query: () => DataFrame): Either[Throwable, Double] =
    try Right((1 to runs).map { _ =>
      val t0 = System.nanoTime()
      query().write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }.min)
    catch { case e: Throwable => Left(e) }

  private def failedField(failed: Seq[String]): String =
    failed.map("\"" + _ + "\"").mkString("\"failed\":[", ",", "]")

  /** The compact last stdout line: the total plus, under "q", each timed
    * query's time keyed by the number in its name, to 3 decimals —
    * under 1.8 KB for all 113 queries, so the driver's ~2000-char tail
    * capture (which truncates the ~6 KB full line) keeps it whole. */
  def summaryLine(total: Double, method: String, failed: Seq[String],
                  sfDir: String, timed: Seq[(String, Double)]): String = {
    val q = timed.map { case (name, t) =>
      "\"" + name.drop(1).takeWhile(_.isDigit).toInt + "\":" +
        "%.3f".formatLocal(java.util.Locale.ROOT, t)
    }.mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","method":"$method",${failedField(failed)},"sf":"$sfDir","q":$q}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(sfDir)
    Session.warmUp(spark)
    // Dev A/B support (driver contract unchanged — it passes no args):
    // optional args = query-name subset; SPARK_GRAFT_BENCH_RUNS = repeat
    // count (min-of-N). More repeats help isolate this host's multi-
    // minute CPU bursts, which poison any single timing.
    val names = args.toSet
    // A typo'd name would otherwise silently select nothing and print a
    // too-good-to-be-true {"value":0.0} line (ADVICE r4) — fail loudly.
    val unknown = names.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    // min-of-3 default: r4's "regression cluster" and r5's q71 blip were
    // both first-run codegen / CPU bursts leaking through min-of-2 — the
    // third run costs ~40% more bench wall-clock and removes that mode.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => names.isEmpty || names.contains(q._1))
    // q76 fixture-render persistence (VERDICT r9 item 3): ~1/3 of the
    // q76 artifact number was the bench manufacturing its own input JSON
    // (render alone 2.4 s of 7.2 s at sf1 in r9), so the rendered
    // lines are written ONCE per bench run and the timed loop measures
    // the OPERATOR (parse → resolve → argmax) reading them back. The
    // render cost is reported separately in the JSON. The q76 oracle
    // contract is unchanged — Verify still renders inline.
    // Fixture lives in a per-run Scratch.tempDir (ADVICE r13: a raw path
    // under Scratch.root had no exit cleanup and accumulated across runs
    // on RAM-backed /dev/shm).
    val q76Path: Option[String] =
      if (selected.exists(_._1 == "q76_ttn_envelope"))
        Some(graft.Scratch.tempDir("graft_bench_q76_").toString + "/fixture")
      else None
    val q76Render: Option[Double] = q76Path.map { path =>
      val t0 = System.nanoTime()
      SparkEntry.ttnFixtureLines(Tables.events(spark, sfDir))
        .write.mode("overwrite").parquet(path)
      (System.nanoTime() - t0) / 1e9
    }
    val results = selected.map { case (name, fn) =>
      name -> time(runs) {
        if (name == "q76_ttn_envelope") { () =>
          SparkEntry.q76Pipeline(spark.read.parquet(q76Path.get))
        } else { () => fn(spark, sfDir) }
      }
    }
    val timed = results.collect { case (name, Right(t)) => name -> t }
    val failed = results.collect { case (name, Left(e)) =>
      System.err.println(s"[bench] $name failed: $e")
      name
    }
    val qs = timed.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = timed.map(_._2).sum
    val method = s"min-of-$runs runs per query"
    val renderField = q76Render
      .map(r => s""","q76_fixture_render_sec":$r""").getOrElse("")
    // metric stays "total" — the driver selects the bench line by that
    // key (SKILL.md contract); the methodology rides in its own field.
    // Failed queries are listed and left out of the total.
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","method":"$method",${failedField(failed)}$renderField,"queries":$qs,"sf":"$sfDir"}"""
    println(fullLine)
    // The full line is ~6 KB (113 per-query fields) and the driver's
    // bounded tail capture truncates it mid-line (VERDICT r13 item 2:
    // PERF per_query empty). Mitigation, not a contract change: the
    // full line above stays and is ALSO written to a file in the
    // working dir, and the compact summary line — per-query times
    // included — is printed as the very last stdout line after
    // spark.stop() (so no engine output can follow it).
    val w = new java.io.PrintWriter("bench_queries.json", "UTF-8")
    try w.println(fullLine) finally w.close()
    spark.stop()
    println(summaryLine(total, method, failed, sfDir, timed))
    if (failed.nonEmpty) sys.exit(1)
  }
}
