package perfbench

/** Harness entry point. The launcher (`perfbench/run.py`) generates the
  * inputs, starts this JVM with a pinned heap, and turns the files it
  * writes into `out` into the benchmark's metrics.
  *
  * {{{
  * perfbench.Main --workload <name> --corpus <dir> --out <dir>
  *   --seconds <s> --trace <0|1> --seed <n>
  *   [--queries q01_a,q02_b,...] [--min-samples <n>]
  *   [--telegrams <file>] [--rate <per s>] [--history <file>]
  * }}} */
final case class Args(workload: String, corpus: String, out: String,
                      seconds: Double, trace: Boolean, seed: Long, cpus: Int,
                      queries: Seq[String], minSamples: Int,
                      telegrams: String, rate: Double, history: String)

object Main {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(
      workload = need("workload"),
      corpus = m.getOrElse("corpus", ""),
      out = need("out"),
      seconds = need("seconds").toDouble,
      trace = m.get("trace").contains("1"),
      seed = m.getOrElse("seed", "0").toLong,
      cpus = Runtime.getRuntime.availableProcessors(),
      queries = m.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      minSamples = m.get("min-samples").map(_.toInt).getOrElse(0),
      telegrams = m.getOrElse("telegrams", ""),
      rate = m.get("rate").map(_.toDouble).getOrElse(0.0),
      history = m.getOrElse("history", ""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.workload match {
      case "corpus_curation" => Batch.run(a)
      case "telegram_ingest" => Ingest.run(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}
