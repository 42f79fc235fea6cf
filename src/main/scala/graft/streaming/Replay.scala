package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables

/** File-replay Structured Streaming ingest (reference: the datacollector's
  * first-class file-replay mode, MyDatacollector/MyDatacollector.py:464-467
  * and lib/MyMQTTclient.py:1022-1096): the same transform pipeline runs
  * identically over a live stream and a replayed dump, and the archived
  * result must equal the batch computation — SURVEY §2.10 Q25
  * batch/stream parity.
  *
  * Shape: `readStream(parquet) → foreachBatch { ArchiveSink.upsert }` with
  * `Trigger.AvailableNow` so the run terminates after draining the input.
  * `maxFilesPerTrigger=1` forces at least one real micro-batch boundary
  * per input file; the upsert keeps batch boundaries invisible in the
  * archive (late/duplicate rows collapse on the key, as the reference's
  * REPLACE INTO does).
  */
object Replay {

  /** One tmp root per JVM: every replay reuses the same archive/input/
    * checkpoint subdirs (cleared at call start), so repeated runs leave
    * no orphan dirs; the root itself is removed at JVM exit. Placed via
    * [[graft.Scratch]] (r13 opt): the per-micro-batch offset/commit/
    * state-delta fsync chain is pure constant overhead on disk-backed
    * /tmp — tmpfs removes it (A/B in OPTIMIZATION_r13.md). Exit-time
    * deletion is owned by Scratch's single hook — a second hook here
    * raced it (VERDICT r13 item 1: NoSuchFileException on stderr after
    * the bench JSON line). */
  private lazy val tmpRoot: java.nio.file.Path =
    graft.Scratch.tempDir("graft_replay_session_")

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.forEach(c => deleteRecursively(c)) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  /** The volume-derived state-partition count for the STATEFUL replays
    * (r13 opt round, guide §2.2/§6): every micro-batch commits one state
    * file per shuffle partition per stateful operator, so with the
    * session default (core count) a tiny-state replay pays 32 commits ×
    * batches × stores of pure constant — measured 0.47×/0.62×/0.77×/
    * 0.81× on q101/q79/q97/q94 at 4 vs 32 partitions, while the
    * stateless replays (q36/q92) are flat. The count tracks DATA VOLUME
    * (one partition per 4 MiB of input parquet — Bench's
    * initialPartitionNum derivation), NOT core count: sf0.1 → 4, sf1 →
    * 38, sf10 → 369, a 100 TB ingest → the 512 clamp (raise it with the
    * deploy's key volume; state partition count is fixed by the FIRST
    * batch's checkpoint, so a production stream sizes it for its
    * lifetime peak, not its first hour). Output values are partition-
    * invariant (keyed state, decimal-exact sums) — oracle-checked. The
    * conf is read at stream PLANNING time, so a stream built and started
    * inside `Session.withConfs(spark, stateConfs(sfDir))` alone sees it. */
  private def stateConfs(sfDir: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" ->
      math.min(512L, math.max(4L, graft.Session.dirBytes(sfDir) / (4L << 20))).toString)

  /** Replays an events-derived telegram corpus through the [[KitState]]
    * state machine over a REAL micro-batch boundary: the corpus is
    * time-split into two parquet files with increasing modification
    * times, so `maxFilesPerTrigger=1` + `AvailableNow` processes the
    * early half and the late half as separate micro-batches and the
    * per-kit state (throttle estimate, static run, geofence home) must
    * survive the batch crossing. Output = every telegram's accept/reject
    * verdict — the oracle replays the identical state machine as a
    * DuckDB recursive CTE (q79).
    *
    * Corpus derivation (closed-form so the oracle can re-derive it):
    * kit = "k"+user_id, ts = floor epoch seconds, value quantized to
    * 15-wide buckets (so static runs actually occur), geohash flips to a
    * far cell on event_id % 23 == 0 (so the geofence latches). rateS
    * defaults above the 1800 s interval cap so the throttle branch (and
    * its 4 h auto-reset) is exercised on the testdata's sparse cadence. */
  def replayKitState(spark: SparkSession, sfDir: String,
                     rateS: Long = 3600L, staticThreshold: Int = 3,
                     geoPrefix: Int = 6): DataFrame = {
    import spark.implicits._
    val corpus = Tables.events(spark, sfDir).select(
      concat(lit("k"), col("user_id")).as("kit"),
      unix_timestamp(col("ts")).as("ts"),
      floor(col("value") / 15).cast("double").as("value"),
      when(col("event_id") % 23 === 0, lit("v9gzzz"))
        .otherwise(lit("u1hu9z")).as("geohash"))
    val corpusP = corpus.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = corpusP.agg(min(col("ts")), max(col("ts"))).head()
    val tMid = (bounds.getLong(0) + bounds.getLong(1)) / 2
    // stage each half as ONE parquet file with a controlled mtime so the
    // file source's oldest-first ordering replays them in event time
    val inDir = stageReplayFiles("kit", corpusP,
      Seq(("replay-0.parquet", col("ts") <= tMid, 1000000L),
          ("replay-1.parquet", col("ts") > tMid, 2000000L)))
    corpusP.unpersist()
    val outDir = tmpRoot.resolve("kit_out").toString
    graft.Session.withConfs(spark, stateConfs(sfDir)) {
      val q = KitState(
          spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
            .as[KitState.KitEvent].groupByKey(_.kit),
          rateS, staticThreshold, geoPrefix)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpRoot.resolve("kit_ckpt").toString)
        .format("parquet").option("path", outDir)
        .outputMode("append")
        .start()
      q.awaitTermination()
    }
    spark.read.parquet(outDir).select(col("kit"), col("ts"), col("value"),
      col("accepted"), col("reason"),
      col("intervalEst").as("interval_est"),
      col("staticRun").as("static_run"), col("moved"))
  }

  /** Bucket count of the q36 replay archive for a corpus of `bytes` on
    * `cores` (r14, VERDICT r13 item 6; guide §6 file sizing): target
    * 256 MiB per bucket file, PLUS a write-parallelism floor — the
    * upsert's staged write is one task per touched bucket (ArchiveSink
    * clusters by bucket), so too few buckets serialize the write on a
    * many-core box: min(cores, one bucket per 8 MiB), inactive once
    * volume/256 MiB exceeds the core count. Both r14 mis-derivations were
    * CAUGHT BY MEASUREMENT and corrected: the stateConfs 4-MiB divisor
    * gave 38 buckets at sf1 (1.77× slower — per-file constants), a pure
    * 256-MiB divisor gave 4 (7.12 vs 5.92 s against 16 — write
    * serialized). This form: sf0.1 → 4 (A/B: 4 beats 16, 2.63 vs 2.85),
    * sf1 → 19 (≈ the 16 that beats 4, 5.92 vs 7.12), sf10 → 32. The cap,
    * max(512, one bucket per GiB), bounds the bucket count on small
    * corpora without letting bucket files outgrow 1 GiB: a fixed 512 cap
    * made them about 195 GB each at 100 TB. */
  def archiveBuckets(bytes: Long, cores: Int): Int = {
    val want = math.max(4L,
      math.max(bytes / (256L << 20), math.min(cores.toLong, bytes / (8L << 20))))
    val cap = math.max(512L, (bytes + (1L << 30) - 1) / (1L << 30))
    math.min(cap, want).toInt
  }

  /** Replays the events table through a streaming upsert archive, then
    * returns the archived rows (ts normalized like Tables does). */
  def replayEventsToArchive(spark: SparkSession, sfDir: String): DataFrame = {
    // events.parquet is TIMESTAMP(NANOS); same legacy conf as Tables.apply
    Tables.readNanosAsLong(spark)
    val batchSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // Fresh run: clear the previous run's dirs (also resets the stream
    // checkpoint — reusing it would make the source skip the input files).
    Seq("archive", "in", "ckpt").foreach(n => deleteRecursively(tmpRoot.resolve(n)))
    val archiveDir = tmpRoot.resolve("archive").toString + "/events"
    // The file source wants a directory; stage the dump as TWO links so
    // two micro-batches replay the same telegrams — the archive upsert
    // must collapse the duplicates (REPLACE INTO semantics), which makes
    // the parity check cover dedup, not just pass-through.
    val inDir = Files.createDirectories(tmpRoot.resolve("in"))
    val src = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    Files.createSymbolicLink(inDir.resolve("replay-0.parquet"), src)
    Files.createSymbolicLink(inDir.resolve("replay-1.parquet"), src)
    // Creation-time only: an EXISTING archive's stored marker count
    // always wins inside upsert, so layouts never shift under a reader
    // (the replay's archive dir is fresh per run). Derived once per
    // replay, not per micro-batch: the corpus does not change under it.
    val buckets = archiveBuckets(graft.Session.dirBytes(sfDir),
      spark.sparkContext.defaultParallelism)
    val stream = spark.readStream
      .schema(batchSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpRoot.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ArchiveSink.upsert(batch, archiveDir,
          keys = Seq("event_id"), version = "ts", numBuckets = buckets)
      }
      .start()
    q.awaitTermination()
    // Same ns→timestamp normalization as the batch path.
    val raw = ArchiveSink.read(spark, archiveDir)
    raw.schema.find(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case None    => raw
    }
  }

  /** J2 stream-static enrichment replayed over a REAL micro-batch
    * boundary (reference: KitCache metadata lookup per telegram,
    * lib/MyMQTTclient.py:606-827 — AccessInfo `:724` resolves each
    * telegram's kit against the DB-backed cache, unregistered/inactive
    * kits drop, `:1694-1700`). Spark-first shape: the telegram stream
    * broadcast-joins the metadata dimension; Structured Streaming
    * re-evaluates the static side per micro-batch, which is exactly the
    * reference's TTL'd cache re-read.
    *
    * The join is stateless, so stream output must equal the batch join —
    * that equality is the oracle (q92): supplier plays the kit registry,
    * kit_key = user_id % 100 (events kits fold onto the registry domain
    * at any MakeScale multiplier — replicas are new kits with the same
    * registry rows), active = s_suppkey % 3 ≠ 0. */
  /** Stages `files` (name, row predicate, mtime) as single parquet files
    * under `<prefix>_in`, mtime-ordered for the file source's
    * oldest-first replay. Shared by every replay entry point; `corpus`
    * is persisted for the duration so the N staged writes (+ any
    * caller-side bounds action) scan the input once, not N+1 times —
    * these replays are timed contract queries. */
  private def stageReplayFiles(prefix: String, corpus: DataFrame,
      files: Seq[(String, Column, Long)]): java.nio.file.Path = {
    Seq(s"${prefix}_in", s"${prefix}_ckpt", s"${prefix}_out", s"${prefix}_stage")
      .foreach(n => deleteRecursively(tmpRoot.resolve(n)))
    val inDir = Files.createDirectories(tmpRoot.resolve(s"${prefix}_in"))
    // The N staged writes are independent tiny jobs over the persisted
    // corpus — submit them concurrently so each job's tail back-fills
    // the others' idle cores (guide §2.6; q101 stages SIX files, and
    // sequentially each paid its own full scheduling latency). Replay
    // ordering comes from the mtimes set below, never from write order.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val staged = files.map { case (name, pred, mtime) => Future {
      val stage = tmpRoot.resolve(s"${prefix}_stage").toString + "/" + name
      corpus.where(pred).coalesce(1).write.mode("overwrite").parquet(stage)
      val ls = Files.list(java.nio.file.Paths.get(stage))
      val part = try ls.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      finally ls.close()
      val dest = inDir.resolve(name)
      Files.move(part, dest)
      dest.toFile.setLastModified(mtime)
    }}
    // fail-fast: the first staging failure surfaces as soon as it
    // completes instead of waiting behind earlier Awaits (ADVICE r13)
    Await.result(Future.sequence(staged), Duration.Inf)
    inDir
  }

  def replayStreamEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.events(spark, sfDir).select(
      col("event_id"), (col("user_id") % 100).as("kit_key"),
      unix_timestamp(col("ts")).as("ts"), col("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dim = broadcast(Tables.supplier(spark, sfDir).select(
      col("s_suppkey").as("kit_key"),
      concat(lit("p"), col("s_nationkey")).as("project"),
      (col("s_suppkey") % 3 =!= 0).as("active")))
    val bounds = corpus.agg(min(col("ts")), max(col("ts"))).head()
    val tMid = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val inDir = stageReplayFiles("enrich", corpus,
      Seq(("replay-0.parquet", col("ts") <= tMid, 1000000L),
          ("replay-1.parquet", col("ts") > tMid, 2000000L)))
    corpus.unpersist()
    val outDir = tmpRoot.resolve("enrich_out").toString
    val q = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
      .join(dim, Seq("kit_key"), "left")
      .where(col("active")) // inactive/unregistered kits drop
      .select(col("event_id"), col("kit_key"), col("project"), col("value"))
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpRoot.resolve("enrich_ckpt").toString)
      .format("parquet").option("path", outDir)
      .outputMode("append")
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** §2.8 event-time watermark semantics replayed over REAL micro-batch
    * boundaries, oracle-checkable in closed form (q94).
    *
    * Three staged files force every row fate the watermark state machine
    * has (measured on this engine — a naive two-file split exercises
    * NONE of them: aggregation state is only evicted once the watermark
    * passes a window's end, and a "late" row is only dropped when its
    * window has already been finalized, so late rows arriving in the
    * same batch that would finalize their window still merge):
    *
    *   file 0: even ids (full time range)   — builds state, wm still 0
    *   file 1: odd ids with ts > W1 (fresh) — runs at wm = W1, merges,
    *           and its commit evicts+emits every window ending ≤ W1
    *   file 2: odd ids with ts ≤ W1 (late)  — runs at wm = W2; every row
    *           whose window closed under the watermark MUST drop
    *
    * with W1 = max(even ts) − delta, W2 = max(even ∪ fresh ts) − delta.
    * The output is then a pure function of the data:
    *   emitted = {windows over even ∪ fresh | window_end ≤ W2}
    * (a file-2 row with window_end > W2 may merge, but its window is
    * never emitted — the terminal flush stops at W2 — so the closed form
    * is exact either way). `delta` sits off the hour grid (37 min), and
    * because a watermark could still tie a window boundary on adversarial
    * data (max even ts at exactly hh:37:00.000000), both watermarks are
    * checked driver-side and the replay FAILS LOUDLY on a tie — Spark's
    * ≤-vs-< edge choice would otherwise diverge from the oracle's `≤`
    * silently (one window of hash mismatch on measure-zero data beats an
    * unexplainable red gate). */
  /** §2.9 U1's STREAMING variant — `dropDuplicatesWithinWatermark` over
    * REAL micro-batch boundaries, every row fate deterministic in closed
    * form (q97). This is the dedup shape a 100 TB ingest actually runs:
    * bounded state (entries expire `delay` past their event time), not
    * the unbounded `dropDuplicates` map.
    *
    * State-machine finding baked into the design (measured on this
    * engine, first replay attempt): during batch N the dedup lookup
    * drops a duplicate against ANY state entry present — including one
    * whose expiry already passed batch N's watermark. Eviction is an
    * end-of-batch cleanup using that batch's own watermark, so a key
    * only re-emits when it re-arrives a full batch AFTER the batch whose
    * watermark passed its expiry. A three-file split therefore cannot
    * exercise re-emit at all; this replay stages FOUR files.
    *
    * Corpus trick: every even row keys its own pair cell
    * (key = event_id DIV 2); odd rows pair into even cells by id class,
    * so no key ever has two rows in one file and within-batch dedup
    * order can never pick different winners:
    *
    *   id % 8 == 1 → key = id DIV 2        (adjacent even partner)
    *   id % 8 == 5 → key = id DIV 2 − 256  (partner 512 ids older)
    *   id % 8 ∈ {3,7} → key = −(id DIV 2) − 257  (no partner)
    *
    * The classes are collision-free by residue arithmetic: a lagged key
    * equals an adjacent key only at id distance 512 ≡ 0 (mod 8), which
    * maps class 5 onto class 5, never onto class 1; negative keys sit
    * below −257 while lagged keys stay above −256. The four files:
    *
    *   file 0: even rows            — state empty, wm 0: all EMIT
    *   file 1: class-1, ts > W1     — at wm W1: state present → DROP
    *                                  (even the logically-expired
    *                                  entries — the finding above);
    *                                  end-of-batch cleanup then evicts
    *                                  every even key with
    *                                  ts + delay < W1
    *   file 2: class-3/5/7, ts > W2 — at wm W2: evicted partner →
    *                                  RE-EMIT, surviving young partner
    *                                  → DROP, no partner → EMIT
    *   file 3: all remaining odd    — at wm W3 ≥ W2 ≥ W1: every row is
    *                                  LATE → dropped before dedup
    *
    * with W1 = max(even ts) − delay, W2 = max(even ∪ f1 ts) − delay,
    * W3 = max(even ∪ f1 ∪ f2 ts) − delay. Output is then a pure
    * function of the data: all evens, plus file-2 rows whose partner
    * was evicted or never existed. (Which fate each class lands in
    * shifts with corpus cadence — at very dense cadence the 512-id lag
    * sits inside the dedup horizon and the lagged class drops — but the
    * closed form prices each row by its partner's actual event time, so
    * the oracle is exact at every scale; all-fates coverage at the
    * driver's sf0.01/sf0.1 is asserted in StreamingSpec.)
    * Exactly two occurrences per key ever arrive, so whether a duplicate
    * extends its key's expiry is unobservable — the closed form needs no
    * answer to that engine-internal question. Ties between a watermark
    * and an expiry/event instant WOULD be engine-defined (≤ vs <), so
    * the two measure-zero tie conditions are checked driver-side and the
    * replay fails loudly (q94 stance): no even ts == max_even − 2·delay
    * (expiry-vs-W1) and no odd ts == W3 (late-vs-W3 — file-3 rows are
    * late-checked against the final watermark W3). */
  def replayDedupWithinWatermark(spark: SparkSession, sfDir: String,
                                 delayMin: Int = 41): DataFrame = {
    val corpus = Tables.events(spark, sfDir).select(
      col("event_id"),
      when(col("event_id") % 2 === 0, expr("event_id DIV 2"))
        .when(col("event_id") % 8 === 1, expr("event_id DIV 2"))
        .when(col("event_id") % 8 === 5, expr("event_id DIV 2") - 256)
        .otherwise(-expr("event_id DIV 2") - 257).as("key"),
      col("ts").cast("timestamp").as("ts"), col("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val even = col("event_id") % 2 === 0
    val class1 = col("event_id") % 8 === 1
    val delayS = delayMin * 60L
    def minusDelay(t: java.sql.Timestamp, n: Long) =
      java.sql.Timestamp.from(t.toInstant.minusSeconds(n))
    def later(a: java.sql.Timestamp, b: java.sql.Timestamp) =
      if (b != null && b.after(a)) b else a
    val maxEven = corpus.agg(max(when(even, col("ts")))).head()
      .getAs[java.sql.Timestamp](0)
    val w1 = minusDelay(maxEven, delayS)
    val f1Pred = !even && class1 && col("ts") > lit(w1)
    val maxF1 = corpus.agg(max(when(f1Pred, col("ts")))).head()
      .getAs[java.sql.Timestamp](0)
    val base2 = later(maxEven, maxF1)
    val w2 = minusDelay(base2, delayS)
    val f2Pred = !even && !class1 && col("ts") > lit(w2)
    val maxF2 = corpus.agg(max(when(f2Pred, col("ts")))).head()
      .getAs[java.sql.Timestamp](0)
    val w3 = minusDelay(later(base2, maxF2), delayS)
    val evictTie = minusDelay(maxEven, 2 * delayS)
    val ties = corpus.agg(
      sum(when(even && col("ts") === lit(evictTie), 1L)).as("t1"),
      sum(when(!even && col("ts") === lit(w3), 1L)).as("t2")).head()
    require(ties.isNullAt(0) || ties.getLong(0) == 0L,
      s"even event time at max_even - 2*delay ($evictTie): expiry would tie W1 — " +
        "pick another delayMin, edge semantics would be engine-defined")
    require(ties.isNullAt(1) || ties.getLong(1) == 0L,
      s"odd event time at W3 ($w3): late-drop would tie the watermark — " +
        "pick another delayMin, edge semantics would be engine-defined")
    val inDir = stageReplayFiles("dedup", corpus,
      Seq(("replay-0.parquet", even, 1000000L),
          ("replay-1.parquet", f1Pred, 2000000L),
          ("replay-2.parquet", f2Pred, 3000000L),
          ("replay-3.parquet", !even && !f1Pred && !f2Pred, 4000000L)))
    corpus.unpersist()
    val outDir = tmpRoot.resolve("dedup_out").toString
    graft.Session.withConfs(spark, stateConfs(sfDir)) {
      val q = spark.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
        .withWatermark("ts", s"$delayMin minutes")
        .dropDuplicatesWithinWatermark("key")
        .select(col("event_id"), col("key"),
          unix_timestamp(col("ts")).as("ts"), col("value"))
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpRoot.resolve("dedup_ckpt").toString)
        .format("parquet").option("path", outDir)
        .outputMode("append")
        .start()
      q.awaitTermination()
    }
    spark.read.parquet(outDir)
  }

  /** §2.8 W5's STREAMING leg — native `session_window` sessionization
    * replayed over REAL micro-batch boundaries (q101), proving the q99
    * batch operator streaming-capable with every session fate forced by
    * a dedicated file (the q94/q97 method):
    *
    *   file 0: even rows, plus one SEED row per merge-family key
    *            (key = user + keyBase where keyBase = max(user)+1,
    *            ts = anchor − 1700) — builds state
    *   file 1: odd rows ts > W1, plus one ANCHOR row per planted key of
    *            BOTH families (merge family user+keyBase and extension
    *            family user+2·keyBase, ts = A − user%50): the merge-family
    *            anchor lands 1700 s ≤ gap after its batch-0 seed and
    *            MUST merge that session ACROSS the batch boundary
    *            (planted, not left to the corpus cadence — at sf0.01 a
    *            user emits ~once per 10 h, so a natural cross-batch
    *            merge inside the 10-min fresh tail is a coin flip);
    *            the commit emits every untouched session ending ≤ W1
    *   file 2: one EXTENDER per extension-family key at anchor − 950 s
    *            — LATE vs the watermark (ts < W2 by ≥ 350 s) yet alive
    *            (window end ≥ A+752 > W2), so it must extend the
    *            still-open anchor session BACKWARD (session_start moves
    *            to the extender's ts)
    *   file 3: far-future rows on disjoint negative keys at
    *            A + delay + gap + 3600 — advances the watermark to
    *            W3 > every accepted session end; the far sessions
    *            themselves end past every later watermark and are
    *            never emitted
    *   file 4: a second far-future handful (keys −11..−15, +5 s) — a
    *            BUFFER batch: its eviction pass runs at wm W3 and
    *            flushes ALL remaining sessions (incl. the extended
    *            ones), and it pushes file 5's late-filter bound to W3
    *   file 5: odd rows ts ≤ W1    — every row's window end
    *            (≤ A + 1200 < W3 by the 3600 margin) is hard-late →
    *            dropped before the session operator
    *
    * MEASURED two-watermark semantics this file order encodes (found by
    * the first four-file cut of this replay, which leaked its late rows
    * into the output): Spark filters a batch's LATE INPUT with the
    * watermark of the batch BEFORE the previous one (the value the
    * previous batch filtered with), while EVICTING with the watermark
    * derived from all data through the previous batch — one batch of
    * lag between the two. A late file placed directly after the
    * watermark-driver file is therefore filtered against the OLD
    * watermark and partially accepted; the buffer batch absorbs that
    * lag so file 5 is filtered against W3 as intended.
    *
    * with A = max event ts, W1 = max(even ts ∪ seed ts) − delay,
    * W2 = A − delay, W3 = A + gap + 3600. Output is then a pure
    * function of the data: ALL maximal sessions over (evens ∪ seeds ∪
    * odds > W1 ∪ anchors ∪ extenders) — the oracle restates it as
    * q99's gaps-and-islands over that union.
    *
    * Why the closed form needs NO tie guards (unlike q94/q97): the only
    * divergence channel is a row touching an already-emitted session
    * (streaming would open a second overlapping session the batch oracle
    * merges away). Emitted sessions end ≤ the current watermark; file-1
    * rows have ts > W1 and merging needs ts ≤ session end ≤ W1 — a
    * contradiction under EITHER ≤/< emission edge, so the boundary case
    * is unreachable rather than engine-defined. Planted keys carry no
    * earlier sessions, far keys are disjoint, and file-4 rows clear W3
    * by the structural 3600 s margin, never a data-dependent tie.
    *
    * Planted-key interference is impossible by key arithmetic
    * (data-derived keyBase strides, the q97/MakeScale rule), and the
    * extender's 950 s offset keeps every inequality structural:
    * late by ≥ 950 − delay ≥ 350 s, alive by ≥ gap − 950 − 49 ≥ 801 s,
    * merges the anchor at diff 950 < gap. */
  def replaySessionWindows(spark: SparkSession, sfDir: String,
                           gapSec: Int = 1800, delaySec: Int = 600): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(
      col("event_id"), col("user_id"),
      unix_timestamp(col("ts")).as("t"), col("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val even = col("event_id") % 2 === 0
    val b = ev.agg(max(col("t")), max(when(even, col("t"))), max(col("user_id"))).head()
    val (a, maxEven, maxUser) = (b.getLong(0), b.getLong(1), b.getLong(2))
    // data-derived planted-key bases (the q97/MakeScale stride rule —
    // hard-coded offsets silently collide on bigger corpora: sf1's
    // replicated user ids reach 15k): merge family at keyBase + user,
    // extension family at 2·keyBase + user, both disjoint from naturals
    val keyBase = maxUser + 1
    require(keyBase > 0, s"non-positive user key space (max=$maxUser)")
    // W1 = max(file-0 event time) − delay; file 0 = evens ∪ seeds, and the
    // newest seed sits at A − 1700 (offset 0)
    val w1 = math.max(maxEven, a - 1700) - delaySec
    def rows(key: Column, t: Column, v: Column) = Seq(
      key.cast("long").as("skey"),
      t.cast("long").cast("timestamp").as("ts"),
      v.cast("double").as("value"))
    val natural = ev.select(rows(col("user_id"), col("t"), col("value")) :+
      when(even, lit("f0")).when(col("t") > w1, lit("f1"))
        .otherwise(lit("f4")).as("cls"): _*)
    val users = ev.select(col("user_id")).distinct()
    val anchorT = lit(a) - col("user_id") % 50
    val seeds = users.select(rows(col("user_id") + keyBase,
      anchorT - 1700, (col("user_id") % 83) * 0.125): _*)
    val mergeAnchors = users.select(rows(col("user_id") + keyBase,
      anchorT, (col("user_id") % 97) * 0.5): _*)
    val extAnchors = users.select(rows(col("user_id") + 2 * keyBase,
      anchorT, (col("user_id") % 97) * 0.5): _*)
    val extenders = users.select(rows(col("user_id") + 2 * keyBase,
      anchorT - 950, (col("user_id") % 89) * 0.25): _*)
    val far = spark.range(5).select(rows(-col("id") - 1,
      lit(a + delaySec + gapSec + 3600) + col("id"), lit(0.0)): _*)
    val far2 = spark.range(5).select(rows(-col("id") - 11,
      lit(a + delaySec + gapSec + 3600 + 5) + col("id"), lit(0.0)): _*)
    val corpus = natural
      .unionByName(seeds.withColumn("cls", lit("f0")))
      .unionByName(mergeAnchors.withColumn("cls", lit("f1")))
      .unionByName(extAnchors.withColumn("cls", lit("f1")))
      .unionByName(extenders.withColumn("cls", lit("f2")))
      .unionByName(far.withColumn("cls", lit("f3")))
      .unionByName(far2.withColumn("cls", lit("fb")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inDir = stageReplayFiles("sess", corpus,
      Seq(("replay-0.parquet", col("cls") === "f0", 1000000L),
          ("replay-1.parquet", col("cls") === "f1", 2000000L),
          ("replay-2.parquet", col("cls") === "f2", 3000000L),
          ("replay-3.parquet", col("cls") === "f3", 4000000L),
          ("replay-4.parquet", col("cls") === "fb", 5000000L),
          ("replay-5.parquet", col("cls") === "f4", 6000000L)))
    corpus.unpersist(); ev.unpersist()
    val outDir = tmpRoot.resolve("sess_out").toString
    graft.Session.withConfs(spark, stateConfs(sfDir)) {
      val q = spark.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
        .withWatermark("ts", s"$delaySec seconds")
        .groupBy(session_window(col("ts"), s"$gapSec seconds"), col("skey"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("s"))
        .select(col("skey"),
          unix_timestamp(col("session_window.start")).as("session_start"),
          unix_timestamp(col("session_window.end")).as("session_end"),
          col("n"), col("s"))
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpRoot.resolve("sess_ckpt").toString)
        .format("parquet").option("path", outDir)
        .outputMode("append")
        .start()
      q.awaitTermination()
    }
    spark.read.parquet(outDir)
  }

  def replayWatermarkAgg(spark: SparkSession, sfDir: String,
                         deltaMin: Int = 37, windowMin: Int = 60): DataFrame = {
    val corpus = Tables.events(spark, sfDir).select(
      col("event_id"), (col("user_id") % 20).as("kit"),
      col("ts").cast("timestamp").as("ts"), col("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val even = col("event_id") % 2 === 0
    val maxes = corpus.agg(
      max(when(even, col("ts"))).as("max_even"),
      max(when(!even, col("ts"))).as("max_odd")).head()
    val (maxEven, maxOdd) =
      (maxes.getAs[java.sql.Timestamp](0), maxes.getAs[java.sql.Timestamp](1))
    def minusDelta(t: java.sql.Timestamp): java.time.Instant =
      t.toInstant.minusSeconds(deltaMin * 60L)
    val w1Inst = minusDelta(maxEven)
    val w1 = java.sql.Timestamp.from(w1Inst)
    // W2 = max(even ∪ fresh odd) − delta; an odd max ≤ W1 is in the late
    // file and cannot move the terminal watermark
    val w2Inst = minusDelta(
      if (maxOdd != null && maxOdd.toInstant.isAfter(w1Inst)
          && maxOdd.after(maxEven)) maxOdd else maxEven)
    def onGrid(i: java.time.Instant): Boolean =
      (i.getEpochSecond * 1000000L + i.getNano / 1000L) %
        (windowMin * 60L * 1000000L) == 0L
    require(!onGrid(w1Inst) && !onGrid(w2Inst),
      s"watermark ties the $windowMin-min window grid (W1=$w1Inst, W2=$w2Inst): " +
        "pick another deltaMin — edge semantics would be engine-defined")
    val inDir = stageReplayFiles("wm", corpus,
      Seq(("replay-0.parquet", even, 1000000L),
          ("replay-1.parquet", !even && col("ts") > lit(w1), 2000000L),
          ("replay-2.parquet", !even && col("ts") <= lit(w1), 3000000L)))
    corpus.unpersist()
    val outDir = tmpRoot.resolve("wm_out").toString
    graft.Session.withConfs(spark, stateConfs(sfDir)) {
      val q = spark.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
        .withWatermark("ts", s"$deltaMin minutes")
        .groupBy(window(col("ts"), s"$windowMin minutes"), col("kit"))
        // decimal-exact sum: addition order differs between engines (and
        // across Spark shuffles), doubles would hash-flap at the 15th digit
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("s"))
        .select(unix_timestamp(col("window.start")).as("w_start"),
          col("kit"), col("n"), col("s"))
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpRoot.resolve("wm_ckpt").toString)
        .format("parquet").option("path", outDir)
        .outputMode("append")
        .start()
      q.awaitTermination()
    }
    spark.read.parquet(outDir)
  }
}
