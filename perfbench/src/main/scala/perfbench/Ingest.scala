package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.ingest.{LoRaDecode, TtnEnvelope}
import graft.functions.GeoFunctions
import graft.operators.Resample
import graft.streaming.{ArchiveSink, Forwarding, HttpWire, KitState, Mqtt, Transport}

/** The open-loop live-ingest workload (`telegram_ingest`).
  *
  * A generator thread publishes the generated TTN telegrams at a fixed
  * rate to the in-process MQTT broker. The stream is
  * `Transport.lines(Mqtt)` → `TtnEnvelope.parseBest` → `LoRaDecode.decodeFlat`
  * → `KitState` → `foreachBatch { ArchiveSink.upsert; Forwarding.influxLine
  * → HttpWire.influxWriteBatch }`, with the Influx writes going to an
  * in-process `HttpWire.CollectingServer`. Only keys the archive has not
  * seen before are forwarded. The archive already holds the kits' earlier
  * readings (the generated history) when the stream starts. Meanwhile one
  * closed-loop reader thread runs q02's hourly aggregate over
  * `ArchiveSink.read` of the live archive, pausing a seeded random
  * `ReaderThinkMs` between reports. `ArchiveSink` gives a reader no
  * isolation from an upsert's bucket swap, so reads and micro-batches take
  * turns on one lock: a report reads the archive as the last batch left
  * it. A read is timed from when it holds the lock, and its wait for the
  * lock is recorded apart. A read that throws is a failure, never timed
  * and never retried.
  *
  * After a warm-up at the nominal rate, per telegram, latency is measured
  * from its scheduled send time to the return of the upsert and forward
  * of the micro-batch that first carried it. After the window the stream
  * is drained; the archive and every received line are dumped for the
  * launcher's checks. */
object Ingest {

  final case class Telegram(kit: String, ts: Long, topic: String, payload: String)

  val Buckets = 4
  /** Micro-batch trigger interval. A fixed interval keeps batch boundaries
    * at the same phase in every run, so a telegram's wait for its batch
    * does not swing with how long the previous batch took. */
  val TriggerMs = 2000L
  /** The generator runs this long at the nominal rate before the measured
    * window opens; warm-up telegrams are archived, forwarded and checked
    * but not timed. */
  val WarmupS = 6.0
  /** Rates (telegrams/s) a traced run climbs after the window, each held
    * for `LadderRungS`; `ingest.max_eps` is the highest rung the stream
    * sustains. */
  val LadderRates = Seq(80.0, 320.0, 1280.0)
  val LadderRungS = 12.0
  /** Range of the reader's pause between two reports, drawn per report.
    * A fixed pause can lock the reader's phase to the trigger's, so that
    * reads collide with batches in one run and miss them in the next. */
  val ReaderThinkMs = (100, 300)

  /** The generated history: `(kit, ts, pm25)` rows. */
  def readHistory(path: String): Seq[(String, Long, Double)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map { l =>
      val Array(kit, ts, value) = l.split("\t", 3)
      (kit, ts.toLong, value.toDouble)
    }.toList
    finally src.close()
  }

  def readTelegrams(path: String): IndexedSeq[Telegram] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map { l =>
      val Array(kit, ts, topic, payload) = l.split("\t", 4)
      Telegram(kit, ts.toLong, topic, payload)
    }.toIndexedSeq
    finally src.close()
  }

  /** Decoded telegram → `KitState` event; `value` is PM2.5, `geohash` the
    * 7-character cell of the GPS fix. Telegrams that do not decode to a
    * PM2.5 value are dropped here. */
  def events(spark: SparkSession, lines: DataFrame): Dataset[KitState.KitEvent] = {
    import spark.implicits._
    val decode = udf { (payload: Array[Byte], port: Int) =>
      val m = LoRaDecode.decodeFlat(payload, port)
      val gh = for (lat <- m.get("latitude"); lon <- m.get("longitude"))
        yield GeoFunctions.geohashEncode(lat, lon, 7)
      (m.get("pm25"), gh.getOrElse(""))
    }
    TtnEnvelope.parseBest(lines, col("value"))
      .select(col("dev_id").as("kit"),
        unix_timestamp(to_timestamp(col("event_time"), "yyyy-MM-dd'T'HH:mm:ss'Z'")).as("ts"),
        decode(col("payload"), col("port")).as("d"))
      .where(col("d._1").isNotNull && col("ts").isNotNull)
      .select(col("kit"), col("ts"), col("d._1").as("value"), col("d._2").as("geohash"))
      .as[KitState.KitEvent]
  }

  /** Influx line per archived row: measurement `pm`, tag `kit`, field
    * `pm25`, epoch-second timestamp. */
  def lines(rows: DataFrame): DataFrame =
    rows.select(Forwarding.influxLine(rows, lit("pm"), Seq("kit" -> col("kit")),
      Seq("pm25" -> col("value")), Some(col("ts"))).as("line"))

  def run(a: Args): Unit = {
    val telegrams = readTelegrams(a.telegrams)
    val (spark, setup) = Session.setUp(a.corpus, a.cpus)
    import spark.implicits._
    val confs = Session.sqlConfs(spark)
    val archiveDir = s"${a.out}/archive"
    val archiveCols = Seq("kit", "ts", "value", "accepted", "reason", "staticRun", "moved")
    def upsert(rows: DataFrame): Unit =
      ArchiveSink.upsert(rows.select(archiveCols.map(col): _*), archiveDir,
        keys = Seq("kit", "ts"), version = "ts", numBuckets = Buckets)
    // the live archive already holds the kits' earlier readings
    upsert(readHistory(a.history).map { case (kit, ts, v) =>
      KitState.Output(kit, ts, v, true, null, 0.0, 0, false)
    }.toDF())
    // fair, so that neither the reader nor the stream waits more than one turn
    val archiveLock = new java.util.concurrent.locks.ReentrantLock(true)
    def locked[T](f: => T): T = {
      archiveLock.lock()
      try f finally archiveLock.unlock()
    }
    val tracer = if (a.trace) Some(new Tracer(spark, s"${a.workload}-${a.seed}")) else None
    tracer.foreach(_.attach())
    val progress = new ConcurrentLinkedQueue[String]()
    val progressListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    if (a.trace) spark.streams.addListener(progressListener)

    val http = new HttpWire.CollectingServer()
    val broker = new Mqtt.MqttBroker()
    val transport = Transport.Mqtt(broker.host, broker.port, "+/devices/+/up")
    val publisher = new Mqtt.MqttPublisher(broker.host, broker.port)

    // key → (scheduled send time in nanoTime, schedule phase) of its first send
    val scheduled = new ConcurrentHashMap[(String, Long), (Long, Int)]()
    val forwarded = mutable.HashSet[(String, Long)]()
    // (schedule phase, latency in seconds)
    val latencies = new ConcurrentLinkedQueue[(Int, Double)]()
    val batchStats = new ConcurrentLinkedQueue[String]()
    val firstCommit = new CountDownLatch(1)
    val batchErrors = new ConcurrentLinkedQueue[String]()
    // (nanoTime at the end of a batch, distinct keys committed so far)
    val commits = new ConcurrentLinkedQueue[(Long, Int)]()
    // telegrams scheduled, and reads started, before this are warm-up;
    // reads started after measuredUntil belong to the rate ladder
    val measuredFrom = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    val measuredUntil = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)

    def handle(batch: Dataset[KitState.Output], id: Long): Unit = locked {
      val span = tracer.map(_.open("batch", s"batch $id", 0L))
      val b = batch.toDF().persist()
      try {
        val keys = b.select("kit", "ts").distinct().as[(String, Long)].collect()
        val before = tracer.map(_ => ArchiveFiles.scan(archiveDir))
        def inSpan[T](kind: String)(f: => T): T = tracer match {
          case Some(t) => t.within(kind, s"batch $id", span.get.id)(_ => f)
          case None => f
        }
        val t0 = System.nanoTime()
        // every batch is upserted, empty ones too, as a pipeline would
        inSpan("upsert")(upsert(b))
        val t1 = System.nanoTime()
        val fresh = forwarded.synchronized(keys.filterNot(forwarded.contains))
        if (fresh.nonEmpty) inSpan("forward") {
          val freshDf = fresh.toSeq.toDF("kit", "ts")
          val rows = b.join(broadcast(freshDf), Seq("kit", "ts")).dropDuplicates("kit", "ts")
          HttpWire.influxWriteBatch(lines(rows), http.url, "perfbench")
        }
        val t2 = System.nanoTime()
        commits.add((System.nanoTime(), forwarded.synchronized { forwarded ++= fresh; forwarded.size }))
        fresh.foreach { k =>
          val s = scheduled.get(k)
          if (s != null && s._1 >= measuredFrom.get) latencies.add((s._2, (t2 - s._1) / 1e9))
        }
        tracer.foreach { _ =>
          val after = ArchiveFiles.scan(archiveDir)
          val accepted = b.where(col("accepted")).count()
          val rows = b.count()
          batchStats.add(Json.obj(Seq(
            "batch" -> id.toString, "rows" -> rows.toString,
            "accepted" -> accepted.toString, "fresh" -> fresh.length.toString,
            "upsert_s" -> Json.num((t1 - t0) / 1e9),
            "forward_s" -> Json.num((t2 - t1) / 1e9),
            "buckets_touched" -> ArchiveFiles.touched(before.get, after).toString,
            "bytes_written" -> ArchiveFiles.written(before.get, after).toString,
            "bytes_growth" -> (after.values.map(_._2).sum - before.get.values.map(_._2).sum).toString)))
        }
      } catch { case e: Throwable => batchErrors.add(Batch.errorText(e)); throw e }
      finally {
        b.unpersist()
        span.foreach(s => tracer.get.close(s))
        if (forwarded.synchronized(forwarded.nonEmpty)) firstCommit.countDown()
      }
    }

    val startMs = System.currentTimeMillis()
    val query = KitState(events(spark, Transport.lines(spark, Seq(transport)))
        .groupByKey(_.kit), rateS = 60L)
      .writeStream
      .option("checkpointLocation", s"${a.out}/checkpoint")
      .foreachBatch(handle _)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    // Priming telegram: the first generated telegram, sent before the
    // window opens; its committed batch ends the set-up. Trigger ticks are
    // aligned to the wall clock, so the wait for the tick that carries it
    // is a random share of TriggerMs. It is published after the first
    // (empty) tick, and the stream start is that tick's end plus the
    // duration of the batch that carried the telegram: the set-up's cost
    // without the wait.
    val firstDeadline = System.nanoTime() + 60L * 1000000000L
    def await(what: String)(done: => Boolean): Unit =
      while (!done) {
        require(query.isActive, s"the stream stopped before $what: ${query.exception}")
        require(System.nanoTime() < firstDeadline, s"no $what within 60 s")
        Thread.sleep(10)
      }
    await("first tick")(query.recentProgress.nonEmpty)
    val first = telegrams.head
    scheduled.putIfAbsent((first.kit, first.ts), (System.nanoTime(), 0))
    publisher.publish(first.topic, first.payload)
    await("first commit")(firstCommit.getCount == 0)
    await("first batch progress")(query.recentProgress.exists(_.numInputRows > 0))
    val streamStartS = {
      val ps = query.recentProgress
      def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        p.durationMs.get("triggerExecution").longValue
      val tick = ps.head
      val tickEndMs = java.time.Instant.parse(tick.timestamp).toEpochMilli + ms(tick)
      (tickEndMs - startMs + ms(ps.find(_.numInputRows > 0).get)) / 1e3
    }

    // closed-loop reader over the live archive
    val stop = new AtomicBoolean(false)
    // a read's own time, and its wait for the archive lock before it
    val reads = new ConcurrentLinkedQueue[java.lang.Double]()
    val readWaits = new ConcurrentLinkedQueue[java.lang.Double]()
    val readErrors = new ConcurrentLinkedQueue[String]()
    val readsStarted = new java.util.concurrent.atomic.AtomicInteger()
    val think = new scala.util.Random(a.seed)
    val reader = new Thread(() => {
      val readerSpan = tracer.map(_.open("reader", "reader", 0L))
      var i = 0
      while (!stop.get()) {
        val r0 = System.nanoTime()
        readsStarted.incrementAndGet()
        def read(): Unit = {
          val arch = ArchiveSink.read(spark, archiveDir)
            .withColumn("t", timestamp_seconds(col("ts")))
          Resample.hourlyAvg(arch, col("t"), col("value"))
            .write.format("noop").mode("overwrite").save()
        }
        try {
          val (r1, r2) = locked {
            val r1 = System.nanoTime()
            tracer match {
              case Some(t) => t.within("read", s"read $i", readerSpan.get.id)(_ => read())
              case None => read()
            }
            (r1, System.nanoTime())
          }
          if (r0 >= measuredFrom.get && r0 < measuredUntil.get) {
            reads.add((r2 - r1) / 1e9)
            readWaits.add((r1 - r0) / 1e9)
          }
        } catch { case e: Throwable => readErrors.add(Batch.errorText(e)) }
        i += 1
        if (!stop.get())
          Thread.sleep(ReaderThinkMs._1 + think.nextInt(ReaderThinkMs._2 - ReaderThinkMs._1))
      }
      readerSpan.foreach(s => tracer.get.close(s))
    }, "perfbench-reader")
    reader.start()

    // open-loop generator: phase 0 is warm-up plus window at the nominal
    // rate; a traced run then climbs the rate ladder, one rung per phase
    val rest = telegrams.tail
    val phases = Seq((a.rate, WarmupS + a.seconds)) ++
      (if (a.trace) LadderRates.map(r => (r, LadderRungS)) else Nil)
    val schedule = phases.scanLeft(0.0)(_ + _._2).zip(phases).map {
      case (start, (rate, dur)) => (start, rate, math.max(1, (rate * dur).toInt))
    }
    val dueS = schedule.zipWithIndex.flatMap { case ((start, rate, count), phase) =>
      (0 until count).map(i => (start + i / rate, phase))
    }.take(rest.length)
    val n = dueS.length
    val lags = new Array[Double](n)
    val g0 = System.nanoTime()
    measuredFrom.set(g0 + (WarmupS * 1e9).toLong)
    measuredUntil.set(g0 + ((WarmupS + a.seconds) * 1e9).toLong)
    for (((offsetS, phase), i) <- dueS.zipWithIndex) {
      val due = g0 + (offsetS * 1e9).toLong
      var now = System.nanoTime()
      while (now < due) {
        val ms = (due - now) / 1000000L
        if (ms > 0) Thread.sleep(ms) else Thread.onSpinWait()
        now = System.nanoTime()
      }
      val tg = rest(i)
      scheduled.putIfAbsent((tg.kit, tg.ts), (due, phase))
      publisher.publish(tg.topic, tg.payload)
      lags(i) = (System.nanoTime() - due) / 1e9
    }
    val sentKeys = (first +: rest.take(n)).map(t => (t.kit, t.ts)).toSet

    // drain: every distinct key sent has been upserted and forwarded
    val drainDeadline = System.nanoTime() + 120L * 1000000000L
    def drained = forwarded.synchronized(sentKeys.forall(forwarded.contains))
    while (!drained && System.nanoTime() < drainDeadline && query.isActive)
      Thread.sleep(50)
    val drainedOk = drained
    // late duplicates may still be in flight: let the stream go idle so
    // stopping it interrupts no batch
    if (query.isActive) query.processAllAvailable()
    stop.set(true)
    reader.join()
    query.stop()
    publisher.close()
    broker.close()
    Transport.closeMqtt(transport)

    val received = http.take(Int.MaxValue, 500)
    http.close()
    Batch.write(s"${a.out}/wire.txt", received.map(_.body.trim).mkString("", "\n", "\n"))
    ArchiveSink.read(spark, archiveDir).coalesce(1).write.mode("overwrite")
      .parquet(s"${a.out}/archive_dump")
    val archiveFiles = ArchiveFiles.scan(archiveDir)

    // traced extras: static parse and decode of every generated line
    val static = tracer.map { t =>
      t.detach()
      val all = (first +: rest.take(n)).map(tg => s"${tg.topic} ${tg.payload}").toDF("value").persist()
      all.count()
      def timed(df: DataFrame): Double = {
        val s0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - s0) / 1e9
      }
      val parseS = Seq.fill(3)(timed(TtnEnvelope.parseBest(all, col("value")))).min
      val fullS = Seq.fill(3)(timed(events(spark, all).toDF())).min
      val decoded = events(spark, all).count()
      val lineCount = all.count()
      all.unpersist()
      Batch.write(s"${a.out}/spans.json", t.json())
      Seq("parse_s" -> Json.num(parseS), "decode_s" -> Json.num(math.max(0.0, fullS - parseS)),
        "lines" -> lineCount.toString, "decoded" -> decoded.toString)
    }

    val result = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "setup" -> Session.setupJson(setup),
      "stream_start_s" -> Json.num(streamStartS),
      "confs" -> Json.obj(confs.map { case (k, v) => k -> Json.str(v) }),
      "rate" -> Json.num(a.rate),
      "warmup_s" -> Json.num(WarmupS),
      "window_s" -> Json.num(WarmupS + a.seconds),
      "schedule" -> Json.arr(schedule.map { case (start, rate, count) =>
        Json.arr(Seq(Json.num(start), Json.num(rate), count.toString)) }),
      "sent" -> (n + 1).toString,
      "drained" -> drainedOk.toString,
      "commits" -> Json.arr(commits.asScala.toSeq.map { case (t, c) =>
        Json.arr(Seq(Json.num((t - g0) / 1e9), c.toString)) }),
      "cpus" -> a.cpus.toString,
      "latencies" -> Json.arr(latencies.asScala.toSeq.collect { case (0, d) => Json.num(d) }),
      "ladder_latencies" -> Json.arr(latencies.asScala.toSeq.collect { case (p, d) if p > 0 =>
        Json.arr(Seq(p.toString, Json.num(d))) }),
      "gen_lag_max_s" -> Json.num(if (n > 0) lags.max else 0.0),
      "reads" -> Json.arr(reads.asScala.toSeq.map(d => Json.num(d))),
      "read_waits" -> Json.arr(readWaits.asScala.toSeq.map(d => Json.num(d))),
      "reads_started" -> readsStarted.get.toString,
      "read_errors" -> Json.arr(readErrors.asScala.toSeq.map(Json.str)),
      "batch_errors" -> Json.arr(batchErrors.asScala.toSeq.map(Json.str)),
      "posts" -> received.size.toString,
      "archive_files" -> archiveFiles.size.toString,
      "archive_bytes" -> archiveFiles.values.map(_._2).sum.toString,
      "batches" -> Json.arr(batchStats.asScala.toSeq),
      "progress" -> Json.arr(progress.asScala.toSeq),
      "static" -> static.map(Json.obj).getOrElse("null"),
      "peak_rss_mb" -> Json.num(Session.peakRssMb())))
    Batch.write(s"${a.out}/result.json", result)
    spark.stop()
  }
}

/** Data files of the archive directory: path → (bucket dir, bytes). */
object ArchiveFiles {
  def scan(dir: String): Map[String, (String, Long)] = {
    val root = new java.io.File(dir)
    Option(root.listFiles).toSeq.flatten.filter(_.getName.startsWith(ArchiveSink.PartCol))
      .flatMap(b => Option(b.listFiles).toSeq.flatten
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (b.getName, f.length)))
      .toMap
  }
  /** Buckets whose set of data files changed. */
  def touched(before: Map[String, (String, Long)], after: Map[String, (String, Long)]): Int = {
    def byBucket(m: Map[String, (String, Long)]) = m.groupBy(_._2._1).map { case (k, v) => k -> v.keySet }
    val (b, a) = (byBucket(before), byBucket(after))
    (b.keySet ++ a.keySet).count(k => b.get(k) != a.get(k))
  }
  /** Bytes of the data files that were not there before. */
  def written(before: Map[String, (String, Long)], after: Map[String, (String, Long)]): Long =
    after.collect { case (p, (_, n)) if !before.contains(p) => n }.sum
}
