package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class WindowOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("geofenceSegments: away runs segmented per kit, at-home rows dropped") {
    // kit A: home(2) away(3) home(1) away(2); kit B: never away
    val rows = Seq(
      ("A", 1L, 10.0), ("A", 2L, 50.0),
      ("A", 3L, 500.0), ("A", 4L, 200.0), ("A", 5L, 119.0),
      ("A", 6L, 118.0),
      ("A", 7L, 300.0), ("A", 8L, 400.0),
      ("B", 1L, 0.0), ("B", 2L, 118.0))
      .toDF("kit", "t", "d")
    val out = WindowOps.geofenceSegments(rows, Seq(col("kit")),
        Seq(col("t")), col("d"), 118.0)
      .orderBy("kit", "seg_start").collect()
    assert(out.map(_.getString(0)).forall(_ == "A") && out.length == 2)
    val s1 = out(0)
    assert(s1.getAs[Long]("seg_start") == 3L && s1.getAs[Long]("seg_end") == 5L &&
      s1.getAs[Long]("n_rows") == 3L && s1.getAs[Double]("max_dist_m") == 500.0)
    val s2 = out(1)
    assert(s2.getAs[Long]("seg_start") == 7L && s2.getAs[Long]("seg_end") == 8L &&
      s2.getAs[Long]("n_rows") == 2L && s2.getAs[Double]("max_dist_m") == 400.0)
  }

  test("geofenceSegments: null distance rows drop (reference filters them)") {
    // away(2) null away(2): the reference's feed has NOT ISNULL(geohash),
    // so the null row vanishes and the away run stays CONTIGUOUS — one
    // segment spanning all four located rows. (A null row must also not
    // corrupt the gaps-and-islands group ids, which an unfiltered null
    // flag partition would.)
    val rows = Seq(
      ("A", 1L, Some(500.0)), ("A", 2L, Some(400.0)),
      ("A", 3L, None: Option[Double]),
      ("A", 4L, Some(300.0)), ("A", 5L, Some(200.0)),
      ("A", 6L, Some(10.0)), ("A", 7L, Some(600.0)))
      .toDF("kit", "t", "d")
    val out = WindowOps.geofenceSegments(rows, Seq(col("kit")),
        Seq(col("t")), col("d"), 118.0)
      .orderBy("seg_start").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("seg_start") == 1L && out(0).getAs[Long]("seg_end") == 5L &&
      out(0).getAs[Long]("n_rows") == 4L, "null row neither splits nor counts")
    assert(out(1).getAs[Long]("seg_start") == 7L && out(1).getAs[Long]("seg_end") == 7L)
  }

  test("sessionize: exact-gap diff merges, larger breaks — the q99 oracle contract") {
    import spark.implicits._
    // gap = 100 s: t=0→100 (diff == gap) must MERGE, t=100→201
    // (diff = 101 > gap) must break; duplicate timestamps share a
    // session; session_end = last ts + gap.
    val rows = Seq(
      ("A", 0L, 1.0), ("A", 100L, 2.0), ("A", 100L, 3.0), ("A", 201L, 4.0),
      ("B", 50L, 5.0))
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = WindowOps.sessionize(rows, col("k"), col("ts"), 100, col("v"))
      .orderBy(col("key"), col("session_start"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("A", 0L, 200L, 3L, 6.0),    // exact-gap merge + duplicate ts
      ("A", 201L, 301L, 1L, 4.0),  // diff 101 breaks
      ("B", 50L, 150L, 1L, 5.0)),
      s"session boundary semantics drifted: ${out.mkString(", ")}")
  }

  test("q99: sub-second gap over the limit merges on whole seconds") {
    // 13347.5 - 1000.2 = 12347.3 s is over q99's 12347 s gap, but in the
    // oracle's whole seconds (epoch_us(ts)//1000000) it is 13347 - 1000 =
    // 12347, which merges: one session, bounds in whole seconds.
    val base = 1700000000L
    val dir = graft.Scratch.tempDir("graft_q99_spec_")
    Seq((7L, base + 1000, 200000L, 1.5), (7L, base + 13347, 500000L, 2.5))
      .toDF("user_id", "sec", "us", "value")
      .select(col("user_id"),
        timestamp_micros(col("sec") * 1000000L + col("us")).as("ts"), col("value"))
      .write.parquet(dir.resolve("events.parquet").toString)
    val out = graft.SparkEntry.queries("q99_session_windows")(spark, dir.toString)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start"),
        r.getAs[Long]("session_end"), r.getAs[Long]("n"), r.getAs[Double]("s")))
    assert(out.toSeq == Seq((7L, base + 1000, base + 13347 + 12347, 2L, 4.0)),
      s"q99 split a whole-second session: ${out.mkString(", ")}")
  }
}
