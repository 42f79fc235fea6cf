package graft

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one engine session: its volume-derived sizing, the
  * `-Dspark.*` override rule, that the gate (Verify) and the bench run
  * under the same SQL confs, and that no second session builder exists. */
class SessionSpec extends AnyFunSuite {

  private def sizing(bytes: Long, cpus: Int): (Long, Long) = {
    val m = Session.settings(bytes, cpus).toMap
    (m("spark.sql.adaptive.coalescePartitions.initialPartitionNum").toLong,
      m("spark.sql.files.maxPartitionBytes").toLong)
  }

  test("sizing at 32 cores: sf0.1, sf1 and sf10 corpus volumes") {
    assert(sizing(17000000L, 32) === ((32L, 1L << 20)))
    assert(sizing(154L << 20, 32) === ((38L, 1261568L)))
    assert(sizing(1476L << 20, 32) === ((369L, 12091392L)))
  }

  test("sizing clamps: empty corpus at the floors, huge corpus at the caps") {
    assert(sizing(0L, 4) === ((4L, 1L << 20)))
    assert(sizing(1L << 50, 4) === ((512L, 128L << 20)))
  }

  /** Runs `main` (bench | verify) in a child JVM — one SparkContext per
    * JVM — and returns the spark.sql.* confs its session carries. */
  private def childConfs(main: String, corpus: String,
                         props: Seq[String] = Nil): Map[String, String] = {
    // the parent's --add-opens and -Dspark.* flags, not its heap size
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val opens = jvmArgs.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" => Seq(a, jvmArgs(i + 1))
      case (a, _) if a.startsWith("--add-opens=") || a.startsWith("-Dspark.") => Seq(a)
      case _ => Nil
    }
    val javaBin = new File(System.getProperty("java.home"), "bin/java").getPath
    val cmd = Seq(javaBin, "-Xmx1g") ++ opens ++ props ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.SessionConfDump", main, corpus)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8")
    val lines = try out.getLines().toList finally out.close()
    assert(p.waitFor() === 0, s"$main child JVM failed")
    lines.collect { case l if l.startsWith("spark.sql.") =>
      val Array(k, v) = l.split("=", 2); k -> v }.toMap
  }

  /** A corpus directory of `bytes` on-disk length (a sparse file). */
  private def corpus(bytes: Long): String = {
    val dir = Files.createTempDirectory("graft_session_spec_")
    val f = new java.io.RandomAccessFile(dir.resolve("events.parquet").toFile, "rw")
    try f.setLength(bytes) finally f.close()
    dir.toFile.deleteOnExit(); dir.resolve("events.parquet").toFile.deleteOnExit()
    dir.toString
  }

  test("Verify and Bench run under identical spark.sql confs") {
    val dir = corpus(154L << 20)
    val bench = childConfs("bench", dir)
    assert(bench("spark.sql.adaptive.coalescePartitions.initialPartitionNum") === "38")
    assert(bench("spark.sql.autoBroadcastJoinThreshold") === "64m")
    assert(childConfs("verify", dir) === bench)
  }

  test("a spark.* system property wins over the derived value") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val confs = childConfs("bench", corpus(1L << 20), Seq(s"-D$key=-1"))
    assert(confs(key) === "-1")
    assert(confs("spark.sql.shuffle.partitions") === "2")
  }

  /** The `.scala` files under `root` (relative to the repository root). */
  private def sources(root: String): Seq[File] = {
    def files(d: File): Seq[File] =
      Option(d.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val d = new File(root)
    assert(d.isDirectory, "run from the repository root")
    files(d).filter(_.getName.endsWith(".scala"))
  }

  private def text(f: File): String = new String(Files.readAllBytes(f.toPath), "UTF-8")

  test("no session builder outside graft/Session.scala") {
    val needle = "SparkSession" + ".builder"
    val offenders = (sources("src/main/scala") ++ sources("src/test/scala"))
      .filterNot(_.getPath.endsWith("graft/Session.scala"))
      .filter(text(_).contains(needle))
    assert(offenders.isEmpty, s"build the session with graft.Session: ${offenders.mkString(", ")}")
  }

  test("the only mains in src/main are Bench, Verify, Explain, MakeScale and PlantedCheck") {
    // an investigation goes through perfbench/run.py, not a new main
    val objectDecl = """\bobject\s+(\w+)""".r
    val mainDecl = """\bdef\s+main\s*\(""".r
    val mains = sources("src/main/scala").flatMap { f =>
      val src = text(f)
      val objects = objectDecl.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
      mainDecl.findAllMatchIn(src).map { m =>
        objects.takeWhile(_._1 < m.start).lastOption.fold(f.getName)(_._2)
      }
    }
    assert(mains.sorted === Seq("Bench", "Explain", "MakeScale", "PlantedCheck", "Verify"))
  }
}

/** Opens the session `bench` or `verify` runs under and prints its
  * spark.sql.* confs, one `key=value` a line (SessionSpec's child JVM). */
object SessionConfDump {
  def main(args: Array[String]): Unit = {
    val spark = args(0) match {
      case "bench"  => Bench.session(args(1))
      case "verify" => Verify.session(args(1))
    }
    spark.conf.getAll.toSeq.sorted
      .collect { case (k, v) if k.startsWith("spark.sql.") => println(s"$k=$v") }
    spark.stop()
  }
}
