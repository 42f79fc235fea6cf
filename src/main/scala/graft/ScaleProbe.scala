package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Scaling probe: replicate the events table N× (disjoint key/id ranges,
  * so cardinalities scale with N) and time representative operator
  * shapes — evidence that the plans scale ~linearly rather than
  * quadratically when the data grows, which is the question the bench's
  * fixed SF cannot answer.
  *
  * `runMain graft.ScaleProbe <sfDir> <mult1,mult2,...> [dedup]` → one
  * JSON line per multiplier. Replicas land under /tmp. The optional
  * third arg `dedup` probes the documents-table near-dup shapes,
  * `hygiene` the corpus-hygiene shapes (decontaminate / seq-pack /
  * mix / iterative BPE), instead of the events shapes.
  */
object ScaleProbe {
  /** Bench's session sized for `dir`, warmed up. */
  private def session(dir: String): SparkSession = {
    val s = Session.build(dir, Session.cpus(32))
    Session.warmUp(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val annMode = args.lift(2).contains("ann")
    val mults =
      if (annMode) Array(1)
      else args.lift(1).getOrElse("1,3,10").split(",").map(_.toInt)
    val dedupMode = args.lift(2).contains("dedup")
    // Long probe sessions run many heavyweight shuffles back to back;
    // shuffle files are only deleted when the JVM garbage-collects the
    // dereferenced ShuffleDependency (ContextCleaner), and with a big
    // heap a GC may never happen — the 100× dedup point accumulated
    // >79 GB of dead shuffle/spill files and died on disk while every
    // op ran fine in isolation. Aggressive periodic GC keeps dead
    // shuffles bounded to one op's footprint. Set as a system property
    // so every session below (Session.build) picks it up.
    sys.props.getOrElseUpdate("spark.cleaner.periodicGC.interval", "30s")
    val spark = session(sfDir)

    if (dedupMode) { probeDedup(spark, sfDir, mults); spark.stop(); return }
    if (annMode) { probeAnn(spark, sfDir); spark.stop(); return }
    if (args.lift(2).contains("lshpairs")) {
      probeLshPairs(spark, sfDir, mults); return
    }
    if (args.lift(2).contains("lshstage")) {
      probeLshStages(spark, sfDir); spark.stop(); return
    }
    if (args.lift(2).contains("hygiene")) {
      probeHygiene(spark, sfDir, mults); return
    }
    if (args.lift(2).contains("q40")) {
      probeQ40(spark, sfDir, mults); return
    }

    val base = Tables.events(spark, sfDir)
    // offsets derived from the data so replicas stay disjoint at ANY sf
    // (hardcoded strides would silently collide on bigger inputs and
    // fake sublinear scaling)
    val bounds = base.agg(max(col("user_id")), max(col("event_id"))).head()
    val userStride = bounds.getLong(0) + 1
    val idStride = bounds.getLong(1) + 1

    def replicate(n: Int): DataFrame =
      (0 until n).map { i =>
        base.select(
          (col("event_id") + lit(i * idStride)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(i * userStride)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)

    mults.foreach { m =>
      val dir = s"/tmp/graft_scale_${m}x"
      replicate(m).write.mode("overwrite").parquet(dir)
      val e = spark.read.parquet(dir)
      def time(f: => Unit): Double = {
        val best = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }.min
        math.rint(best * 1000) / 1000
      }
      val tAgg = time {
        e.groupBy(col("user_id"), date_trunc("hour", col("ts")))
          .agg(sum(col("value")), count(lit(1)))
          .write.mode("overwrite").format("noop").save()
      }
      val tWin = time {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        e.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .write.mode("overwrite").format("noop").save()
      }
      val tJoin = time {
        val l = e.where(col("event_type") === "click")
        val r = e.where(col("event_type") === "purchase")
        operators.AsOfAlign.bucketAlign(l, col("ts"), col("value"),
            r, col("ts"), col("value"), 900)
          .write.mode("overwrite").format("noop").save()
      }
      val tZ = time {
        operators.Outliers.zscoreOutliers(e, col("user_id"), col("value"), 2.5)
          .write.mode("overwrite").format("noop").save()
      }
      // r5 shapes: RRD multi-resolution consolidation (six branches over
      // ONE reused PDP exchange — must track the single-agg cost, not 6×)
      // and the sensor sliding buffer (window + HOF chain).
      val tRrd = time {
        operators.RrdArchive.consolidate(e, col("ts"), col("value"))
          .write.mode("overwrite").format("noop").save()
      }
      val tBuf = time {
        operators.SensorBuffer.slidingAverage(e, Seq(col("user_id")),
            Seq(col("ts"), col("event_id")),
            unix_timestamp(col("ts")), col("value"), 5)
          .write.mode("overwrite").format("noop").save()
      }
      val rows = e.count()
      println(s"""{"mult":$m,"rows":$rows,"agg_s":$tAgg,"window_s":$tWin,"asof_join_s":$tJoin,"zscore_s":$tZ,"rrd_s":$tRrd,"sensor_buf_s":$tBuf}""")
    }
    spark.stop()
  }

  /** ANN quality probe: recall@k of the LSH and IVF paths against the
    * brute-force ground truth on the real embeddings table, across the
    * bucketing parameter. Guards against silently-empty buckets/cells at
    * scale — a bucketed ANN that returns *something* can still have
    * drifted to recall≈0, which no row-count check catches. One JSON line
    * per configuration. `runMain graft.ScaleProbe <sfDir> - ann` */
  private def probeAnn(spark: SparkSession, sfDir: String): Unit = {
    val emb = Tables.embeddings(spark, sfDir).cache()
    val n = emb.count()
    val (nQ, k) = (64, 10)
    val exact = operators.Similarity.knnBruteForce(
      emb, col("vec_id"), col("embedding"), nQ, k).cache()
    exact.count()
    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, math.rint((System.nanoTime() - t0) / 1e6) / 1e3)
    }
    for (planes <- Seq(4, 6, 8)) {
      val (rec, s) = time(operators.Similarity.meanRecallAtK(
        operators.Similarity.annLsh(emb, col("vec_id"), col("embedding"),
          planes, nQ, k), exact, k))
      println(s"""{"probe":"ann","method":"lsh","planes":$planes,"n":$n,"n_queries":$nQ,"k":$k,"recall":${math.rint(rec * 10000) / 10000},"s":$s}""")
    }
    for (bands <- Seq(2, 4, 8)) {
      val (rec, s) = time(operators.Similarity.meanRecallAtK(
        operators.Similarity.annLshBanded(emb, col("vec_id"), col("embedding"),
          4, bands, nQ, k), exact, k))
      println(s"""{"probe":"ann","method":"lsh_banded","planes_per_band":4,"bands":$bands,"n":$n,"n_queries":$nQ,"k":$k,"recall":${math.rint(rec * 10000) / 10000},"s":$s}""")
    }
    for (cents <- Seq(8, 16, 32)) {
      val (rec, s) = time(operators.Similarity.meanRecallAtK(
        operators.Similarity.annIvf(emb, col("vec_id"), col("embedding"),
          cents, nQ, k), exact, k))
      println(s"""{"probe":"ann","method":"ivf","centroids":$cents,"n":$n,"n_queries":$nQ,"k":$k,"recall":${math.rint(rec * 10000) / 10000},"s":$s}""")
    }

    // Trained-vs-stub IVF on CLUSTERED synthetic vectors: 16 true
    // clusters (centers spread ±2, jitter ±0.1), cluster id =
    // (vec_id/4) % 16, so the first-K=16 stub centroids land in clusters
    // 0-3 only while queries span all 16. On clustered data the stub's
    // failure mode is CELL IMBALANCE (mega-cells → probe fan-out), with
    // recall staying deceptively high because a whole true cluster
    // co-locates in whichever stub cell it falls into — max_cell makes
    // the imbalance visible where recall can't. The uniform-random runs
    // above are the recall floor case (r5 finding).
    val dim = 32
    val clustered = spark.range(0, 8192).toDF("vec_id")
      .withColumn("c", pmod((col("vec_id") / 4).cast("long"), lit(16L)))
      .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)), j =>
        (pmod(col("c") * 2654435761L + j.cast("long") * 40503L, lit(1000L)) / 250.0 - 2.0) +
          (pmod(col("vec_id") * 31L + j.cast("long") * 7L, lit(100L)) / 500.0 - 0.1)))
      .select(col("vec_id"), col("embedding")).cache()
    clustered.count()
    val exactC = operators.Similarity.knnBruteForce(
      clustered, col("vec_id"), col("embedding"), nQ, k).cache()
    exactC.count()
    def cellStats(cells: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val counts = cells.groupBy("cell").count().collect().map(_.getLong(1))
      (counts.max, counts.length.toLong)
    }
    // stub (first-K) baseline
    {
      val (rec, s) = time(operators.Similarity.meanRecallAtK(
        operators.Similarity.annIvf(clustered, col("vec_id"), col("embedding"),
          16, nQ, k), exactC, k))
      val (mx, nc) = cellStats(operators.Similarity.ivfAssign(
        clustered, col("vec_id"), col("embedding"), 16))
      println(s"""{"probe":"ann","method":"ivf_stub_clustered","centroids":16,"nprobe":1,"n":8192,"n_queries":$nQ,"k":$k,"recall":${math.rint(rec * 10000) / 10000},"max_cell":$mx,"used_cells":$nc,"s":$s}""")
    }
    // trained centroids, nprobe sweep
    val trained = operators.Similarity.kmeansCentroids(
      clustered, col("vec_id"), col("embedding"), 16, 5)
    val (mxT, ncT) = cellStats(operators.Similarity.ivfAssignWith(
      clustered, col("vec_id"), col("embedding"), trained))
    for (nprobe <- Seq(1, 2, 4)) {
      val (rec, s) = time(operators.Similarity.meanRecallAtK(
        operators.Similarity.annIvfWith(clustered, col("vec_id"),
          col("embedding"), trained, nprobe, nQ, k), exactC, k))
      println(s"""{"probe":"ann","method":"ivf_trained_clustered","centroids":16,"iters":5,"nprobe":$nprobe,"n":8192,"n_queries":$nQ,"k":$k,"recall":${math.rint(rec * 10000) / 10000},"max_cell":$mxT,"used_cells":$ncT,"s":$s}""")
    }
    // trained centroids on the uniform-random real embeddings: shows
    // training is no silver bullet without cluster structure
    for (nprobe <- Seq(1, 4)) {
      val (rec, s) = time(operators.Similarity.meanRecallAtK(
        operators.Similarity.annIvfTrained(emb, col("vec_id"),
          col("embedding"), 16, 5, nprobe, nQ, k), exact, k))
      println(s"""{"probe":"ann","method":"ivf_trained_uniform","centroids":16,"iters":5,"nprobe":$nprobe,"n":$n,"n_queries":$nQ,"k":$k,"recall":${math.rint(rec * 10000) / 10000},"s":$s}""")
    }

    // PQ quality: ADC ranks by estimated EUCLIDEAN distance, so the
    // ground truth here is exact L2 top-k (recall vs the cosine truth
    // would conflate metric mismatch with quantization loss). The real
    // embeddings are the uniform floor case; the clustered corpus is
    // where codebook TRAINING must pay off (first-K codebooks only see
    // cluster 0's slices).
    def exactL2(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val base = df.select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("n2", operators.Similarity.norm2(col("v")))
      val q = base.where(col("id") < nQ)
        .select(col("id").as("q_id"), col("v").as("q_v"), col("n2").as("q_n2"))
      val scored = base.join(broadcast(q), col("q_id") =!= col("id"))
        .select(col("q_id"), col("id").as("n_id"),
          (col("q_n2") + col("n2") - lit(2.0) *
            operators.Similarity.dot(col("q_v"), col("v"))).as("est"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("est").asc, col("n_id").asc)
      scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .select(col("q_id"), col("rank"), col("n_id"), col("est"))
    }
    val exactL2Real = exactL2(emb).cache(); exactL2Real.count()
    for ((cbName, cb) <- Seq(
        "first16" -> operators.Similarity.pqCodebookFirstK(
          emb, col("vec_id").cast("long"), col("embedding"), 8, 8, 16),
        "trained" -> operators.Similarity.pqCodebooksTrained(
          emb, col("vec_id").cast("long"), col("embedding"), 8, 8, 16, 8))) {
      val (rec, s) = time(operators.Similarity.meanRecallAtK(
        operators.Similarity.pqAdcTopK(emb, col("vec_id").cast("long"),
          col("embedding"), 8, 8, cb, nQ, k), exactL2Real, k))
      println(s"""{"probe":"ann","method":"pq_adc_uniform","codebook":"$cbName","m":8,"ksub":16,"n":$n,"n_queries":$nQ,"k":$k,"recall":${math.rint(rec * 10000) / 10000},"s":$s}""")
      // the serving recipe: exact rerank of the R·k ADC shortlist —
      // recall is bounded by the shortlist's coverage, bought at R·k
      // exact dots per query instead of N
      for (r <- Seq(4, 16)) {
        val (recR, sR) = time(operators.Similarity.meanRecallAtK(
          operators.Similarity.pqAdcRerankTopK(emb, col("vec_id").cast("long"),
            col("embedding"), 8, 8, cb, nQ, k, r), exactL2Real, k))
        println(s"""{"probe":"ann","method":"pq_adc_rerank_uniform","codebook":"$cbName","rerank":$r,"m":8,"ksub":16,"n":$n,"n_queries":$nQ,"k":$k,"recall":${math.rint(recR * 10000) / 10000},"s":$sR}""")
      }
    }
    // On TIGHT clusters recall@k is the WRONG PQ metric by construction:
    // a good codebook quantizes every member of a 512-vector cluster to
    // the SAME codes, all ADC distances tie, top-k degenerates to id
    // order and recall collapses to ~k/cluster_size — the better the
    // codebook, the worse the number (measured: trained 0.04 vs first-K
    // 0.19, both meaningless). The honest clustered-corpus metric is
    // QUANTIZATION ERROR (mean ‖v − q(v)‖²), where training must win;
    // ADC top-k recall belongs on corpora with in-cluster structure
    // (the real-embeddings leg above).
    def meanQErr(df: org.apache.spark.sql.DataFrame, m: Int, dsub: Int,
                 cb: org.apache.spark.sql.DataFrame): Double = {
      val enc = operators.Similarity.pqEncode(df, col("vec_id"),
        col("embedding"), m, dsub, cb)
      val slices = df.select(col("vec_id").as("id"), explode(array(
          (0 until m).map { j => struct(lit(j).as("sub"),
            slice(transform(col("embedding"), x => x.cast("double")),
              j * dsub + 1, dsub).as("sv")) }: _*)).as("e"))
        .select(col("id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
      enc.select(col("id"), posexplode(col("codes")).as(Seq("sub", "code")))
        .join(broadcast(cb), Seq("sub", "code"))
        .join(slices, Seq("id", "sub"))
        .select((operators.Similarity.norm2(col("sv")) + col("cn2") -
          lit(2.0) * operators.Similarity.dot(col("sv"), col("c_v"))).as("d"))
        // rows = nVectors·m, so per-vector error = sum(d)·m / rows
        .agg((sum(col("d")) * lit(m) / count(lit(1))).as("e"))
        .head().getDouble(0)
    }
    for ((cbName, cb) <- Seq(
        "first16" -> operators.Similarity.pqCodebookFirstK(
          clustered, col("vec_id"), col("embedding"), 8, 4, 16),
        "trained" -> operators.Similarity.pqCodebooksTrained(
          clustered, col("vec_id"), col("embedding"), 8, 4, 16, 8))) {
      val (err, s) = time(meanQErr(clustered, 8, 4, cb))
      println(s"""{"probe":"ann","method":"pq_qerr_clustered","codebook":"$cbName","m":8,"ksub":16,"n":8192,"mean_qerr":${math.rint(err * 100) / 100},"s":$s}""")
    }

    // Composed IVF-PQ, trained vs first-K at BOTH levels, on the
    // clustered corpus (VERDICT r6 item 4): the trained coarse quantizer
    // aligns cells with the 16 true clusters (max_cell ≈ n/16) while the
    // first-K coarse centroids all land inside clusters 0-3 and build
    // mega-cells; the residual codebooks then quantize what's left. The
    // ground truth is exact L2 top-k; recall carries the tight-cluster
    // tie caveat measured above, so the decisive pair is
    // (recall, max_cell) TOGETHER — the serving cost of a probe is
    // bounded by its cell size.
    val exactL2C = exactL2(clustered).cache(); exactL2C.count()
    // One coarse-quantizer training for BOTH trained legs below (serving
    // recall + cell-balance audit): retraining per leg doubles the
    // offline cost and silently assumes the trainer is deterministic —
    // the audit must describe the SAME centroids the serving path used.
    val trainedCents = operators.Similarity.kmeansCentroids(
      clustered, col("vec_id"), col("embedding"), 16, 5)
    for (nprobe <- Seq(1, 2)) {
      val (recF, sF) = time(operators.Similarity.meanRecallAtK(
        operators.Similarity.ivfPqAdcTopK(clustered, col("vec_id"),
          col("embedding"), 16, nprobe, 8, 4, 16, nQ, k), exactL2C, k))
      val (mxF, ncF) = cellStats(operators.Similarity.ivfAssign(
        clustered, col("vec_id"), col("embedding"), 16))
      println(s"""{"probe":"ann","method":"ivfpq_firstk_clustered","coarse":16,"nprobe":$nprobe,"m":8,"ksub":16,"n":8192,"n_queries":$nQ,"k":$k,"recall":${math.rint(recF * 10000) / 10000},"max_cell":$mxF,"used_cells":$ncF,"s":$sF}""")
      val (recT, sT) = time(operators.Similarity.meanRecallAtK(
        operators.Similarity.ivfPqAdcTopKTrainedWith(clustered, col("vec_id"),
          col("embedding"), trainedCents, 8, nprobe, 8, 4, 16, nQ, k),
        exactL2C, k))
      val (mxT2, ncT2) = cellStats(operators.Similarity.ivfAssignWith(
        clustered, col("vec_id"), col("embedding"), trainedCents))
      println(s"""{"probe":"ann","method":"ivfpq_trained_clustered","coarse":16,"coarse_iters":5,"pq_iters":8,"nprobe":$nprobe,"m":8,"ksub":16,"n":8192,"n_queries":$nQ,"k":$k,"recall":${math.rint(recT * 10000) / 10000},"max_cell":$mxT2,"used_cells":$ncT2,"s":$sT}""")
    }
  }

  /** Near-dup shapes over replicated documents. Each replica's text is
    * token-salted by SUFFIXING every token (`word` → `word_r<i>`, the
    * same bijective shingle map MakeScale uses) so replicas share NO
    * shingles with each other — without the salt, N exact copies of each
    * doc are all mutual near-dups and the OUTPUT itself is quadratic in
    * N, which would measure the answer's size, not the operator. With
    * the salt, pair counts scale linearly (one planted set per replica)
    * and the probe isolates the candidate-generation shape. The suffix
    * form matters: the first cut inserted ` r<i> ` BETWEEN words, which
    * degrades trigram shingles to bigram-equivalent overlap and inflated
    * LSH band-bucket density 249× at 10× — the probe then measures the
    * corpus artifact, not the operator (see SCALING.md r6).
    *
    * Each op runs in its OWN SparkContext, stopped right after: a
    * stopped context deletes its local dirs, so dead shuffle/spill
    * files from one op never stack onto the next. In a single shared
    * session the 100× point accumulated >79 GB of shuffle files across
    * the 4 ops × min-of-2 runs and died on disk, while every op ran
    * fine in isolation — shuffle files are freed only when the JVM GCs
    * the dereferenced ShuffleDependency, and a big-heap driver between
    * collections holds them indefinitely (SCALING.md r6). */
  /** LSH near-dup pairs (the q91 shape) over a growing embedding corpus:
    * replicas are sign-flip-decorrelated (the MakeScale rule) so
    * cross-replica cosines ≈ 0 and the true-pair count stays linear in
    * the multiplier (every 10th vector gets a perturbed twin). Timed in
    * own sessions like the dedup legs; pair count printed so output
    * linearity is auditable, wall-clock should track the corpus, never
    * its square. */
  /** Stage-cost decomposition of the r13 LSH near-dup pipeline over a
    * PRE-REPLICATED probe corpus dir (the /tmp/graft_scale_emb_* output
    * of [[probeLshPairs]]): attributes the ×100 wall-clock to the
    * map-only coding, the (band, bucket) posting aggregate, the pruned
    * pair generation + distinct, or the exact-verify tail — each leg a
    * noop write of the pipeline PREFIX (stage expressions mirror
    * cosineNearDupPairsLsh verbatim; the `full` leg runs the real
    * operator). The rejected 1-exchange form's evidence is the plan
    * dump plans/r14/q91_lsh_neardup_pairs_1ex_rejected.txt.
    * `runMain graft.ScaleProbe /tmp/graft_scale_emb_100x 1 lshstage` */
  private def probeLshStages(spark: SparkSession, dir: String): Unit = {
    val d = spark.read.parquet(dir)
    val n = d.count()
    val (p, bands) = operators.Similarity.lshPairKnobs(n, 0.9)
    val s = operators.Similarity.sketchBands(p, bands)
    val hMax = operators.Similarity.hammingCut(s * p, 0.9)
    val nWords = (s * p + 63) / 64
    println(s"LSHSTAGE knobs: n=$n p=$p bands=$bands s=$s hMax=$hMax")
    val base = d.select(col("id"), col("v"),
      call_function("vec_dot", col("v"), col("v")).as("n2"))
    val planes = operators.Similarity.collectPlanes(base, p * bands)
    // min-of-3 per leg (r13 opt): single-shot legs are unusable on this
    // host — a CPU burst during one leg made a pipeline PREFIX measure
    // 2× its own superset (posting 154.7 s vs posting+generation 71.5 s
    // in one session). Same rationale as Bench's min-of-3.
    def leg(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val t = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"LSHSTAGE $name%-12s $t%8.2f s (min-of-3)")
    }
    def coded = base.select(col("id"),
      call_function("srp_codes", col("v"),
        typedLit(planes.map(_.toSeq).toSeq), lit(p), lit(s)).as("cw"))
    def entries = coded.select(col("id"),
      slice(col("cw"), bands + 1, nWords).as("sk"),
      posexplode(slice(col("cw"), 1, bands)).as(Seq("band", "bucket")))
    // flat native posting aggregate — mirrors cosineNearDupPairsLsh's
    // r13-opt shape (records of w longs, entry count = size/w)
    val w = nWords + 1
    def posting = entries.groupBy(col("band"), col("bucket"))
      .agg(call_function("posting_flat_agg",
        col("id"), col("sk"), lit(w)).as("es"))
      .where(size(col("es")).between(2 * w, 1000 * w))
    def cand = posting.select(
        call_function("hamming_pruned_pairs_flat", col("es"), lit(w),
          lit(hMax)).as(Seq("d1", "d2")))
      .distinct()
    leg("coding")(coded)
    leg("entries")(entries)
    leg("posting")(posting)
    leg("cand_pruned")(cand)
    // pruned-survivor count — the row count the exact-verify tail pays a
    // vector fetch for (near-threshold pairs the sketch CANNOT drop:
    // they are genuinely close, the verify exists for exactly them)
    println(s"LSHSTAGE cand_rows    ${cand.count()}")
    leg("full")(operators.Similarity.cosineNearDupPairsLsh(
      d, col("id"), col("v"), 0.9, p, bands))
  }

  private def probeLshPairs(spark: SparkSession, sfDir: String,
                            mults: Array[Int]): Unit = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long").as("id"), col("embedding"))
    val vStride = emb.agg(max(col("id"))).head().getLong(0) + 1
    def replicate(n: Int) =
      // vStride-salted flip key — composes decorrelated over corpora that
      // are themselves MakeScale replicas (see MakeScale.scala embeddings)
      (0 until n).map { i =>
        emb.select((col("id") + lit(i * vStride)).as("id"),
          (if (i == 0) col("embedding")
           else transform(col("embedding"), (x, j) =>
             when(pmod(xxhash64(j * 41 + lit(i * 977) + lit(vStride * 7919)),
               lit(2)) === 0, x).otherwise(-x))).as("embedding"))
      }.reduce(_ unionByName _)
    val dirs = mults.map { m =>
      val dir = s"/tmp/graft_scale_emb_${m}x"
      val base = replicate(m).select(col("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val twins = base.where(col("id") % 10 === 0)
        .withColumn("v2", transform(col("v"), (x, j) =>
          x + (((col("id") * 31 + j.cast("long") * 17) % 7) - 3).cast("double") *
            (lit(0.02) + (col("id") % 4).cast("double") * lit(0.01))))
        .select((col("id") + lit(vStride * m)).as("id"), col("v2").as("v"))
      base.unionByName(twins).write.mode("overwrite").parquet(dir)
      // the probe's own twins are (id, id + vStride·m) for id % 10 == 0 —
      // a KNOWN planted pair set, so recall over it is an exact
      // assertion, not an estimate (r9, VERDICT item 3)
      (m, dir, vStride * m)
    }
    spark.stop()
    dirs.foreach { case (m, dir, twinCut) =>
      // dead-shuffle GC (see main): the 2.2M-vector leg's min-of-2 runs
      // spill tens of GB each — without periodic GC run 1's dead files
      // survive into run 2 and the disk dies
      val s = session(dir)
      val d = s.read.parquet(dir)
      val nVec = d.count()
      val (p, bands) = operators.Similarity.lshPairKnobs(nVec, 0.9)
      // SPARK_GRAFT_SEM_ONLY=1 skips the LSH-pair legs (r12): the
      // 2.2 M-vector LSH candidate shuffle spills past this single
      // box's free disk (measured twice, ~75 GB); semDedup's pair work
      // is cell-bounded and streams, so the q113 decade row can still
      // be earned standalone.
      val semOnly = sys.env.get("SPARK_GRAFT_SEM_ONLY").contains("1")
      var pairs = 0L
      // the LAST run's result is persisted (a ~true-pair-count frame,
      // tiny) so the recall check below reuses it instead of a THIRD
      // full pipeline execution — at the 2.2 M leg each execution's
      // shuffle files are tens of GB and dead files from run k stack
      // onto run k+1 until the periodic GC catches up (r13)
      var got: org.apache.spark.sql.DataFrame = null
      val best = if (semOnly) -1.0 else (1 to 2).map { i =>
        if (i > 1) { System.gc(); Thread.sleep(2000) }
        if (got != null) { got.unpersist(true); () }
        val t0 = System.nanoTime()
        got = operators.Similarity.cosineNearDupPairsLsh(d, col("id"),
            col("v"), 0.9, p, bands)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pairs = got.count()
        (System.nanoTime() - t0) / 1e9
      }.min
      // Planted-pair recall (untimed): the found pairs must contain the
      // probe's own ≥-THRESHOLD twins at ≥ the knob's target recall —
      // guards against an auto-knob drift to recall≈0 that no
      // pair-count check catches. The denominator is the twins whose
      // exact cosine clears the threshold, NOT all twins: the
      // perturbation leaves ~half the planted twins below 0.9 by
      // construction (measured at the 220 k corpus: 10 013 of 20 000
      // eligible; an all-twins denominator misreads a 0.996-recall run
      // as 0.50 — exactly the r7 "at SRP recall" misread).
      val twins = d.where(col("id") >= twinCut)
        .select((col("id") - twinCut).as("d1"), col("id").as("d2"),
          col("v").as("tv"))
      val plantedPairs = twins
        .join(d.select(col("id").as("d1"), col("v").as("bv")), Seq("d1"))
        .where(operators.Similarity.dot(col("bv"), col("tv")) /
          sqrt(operators.Similarity.norm2(col("bv")) *
            operators.Similarity.norm2(col("tv"))) >= 0.9)
        .select(col("d1"), col("d2"))
      val nPlanted = plantedPairs.count()
      val recall = if (semOnly) -1.0 else {
        val hit = got.join(plantedPairs, Seq("d1", "d2"), "left_semi").count()
        got.unpersist(true)
        val r = if (nPlanted == 0) 1.0 else hit.toDouble / nPlanted
        assert(r >= 0.85,
          s"planted-pair recall $r below 0.85 at mult=$m ($hit/$nPlanted)")
        r
      }
      // SemDeDup on the same corpus: time + twin-drop recall (a planted
      // twin above threshold whose source shares its cell MUST be
      // dropped — cell-boundary misses are the operator's documented
      // recall limitation, so the denominator is same-cell eligible
      // twins, mirroring the LSH leg's eligible-denominator lesson).
      var dropped = 0L
      val tSem = (1 to 2).map { i =>
        if (i > 1) { System.gc(); Thread.sleep(2000) }
        val t0 = System.nanoTime()
        dropped = operators.Dedup.semDedup(d, col("id"), col("v"), 0.9)
          .where(!col("kept")).count()
        (System.nanoTime() - t0) / 1e9
      }.min
      val cells = operators.Similarity.ivfAssign(d, col("id"), col("v"),
          operators.Dedup.semDedupK(nVec))
        .select(col("id"), col("cell"))
      val eligible = plantedPairs
        .join(cells.select(col("id").as("d1"), col("cell").as("c1")), Seq("d1"))
        .join(cells.select(col("id").as("d2"), col("cell").as("c2")), Seq("d2"))
        .where(col("c1") === col("c2"))
      val nEligible = eligible.count()
      val semHit = operators.Dedup.semDedup(d, col("id"), col("v"), 0.9)
        .where(!col("kept")).select(col("vec_id").as("d2"))
        .join(eligible, Seq("d2"), "left_semi").count()
      val semRecall = if (nEligible == 0) 1.0 else semHit.toDouble / nEligible
      assert(semRecall == 1.0,
        s"same-cell twin not dropped at mult=$m ($semHit/$nEligible)")
      s.stop()
      println(s"""{"mult":$m,"vectors":$nVec,"planes":$p,"bands":$bands,"lsh_neardup_pairs_s":${math.rint(best * 1000) / 1000},"pairs":$pairs,"planted":$nPlanted,"planted_recall":${math.rint(recall * 10000) / 10000},"semdedup_s":${math.rint(tSem * 1000) / 1000},"sem_dropped":$dropped,"sem_eligible":$nEligible}""")
    }
  }

  /** min-of-2 timing of `f` over `dir`'s parquet in a FRESH session —
    * isolates each op's shuffle/spill footprint (between runs the
    * ContextCleaner is nudged so run 1's dead shuffle files are deleted;
    * one 500 k-doc jaccard run spills ~dozens of GB, so two runs' worth
    * in one session can exceed the disk). */
  private def inOwnSession(dir: String)(f: DataFrame => Unit): Double = {
    val s = session(dir)
    val d = s.read.parquet(dir)
    val best = (1 to 2).map { i =>
      if (i > 1) { System.gc(); Thread.sleep(3000) }
      val t0 = System.nanoTime(); f(d); (System.nanoTime() - t0) / 1e9
    }.min
    s.stop()
    math.rint(best * 1000) / 1000
  }

  /** Corpus-hygiene shapes at 1×→N× (VERDICT r10 item 4): benchmark
    * decontamination (two keyed shuffles, broadcast bench grams),
    * sequence packing (one shard shuffle + window), target-mix
    * resampling (corpus never shuffled, broadcast rates) and the
    * iterative BPE loop (k pair-count aggregates). Documents are
    * replicated with disjoint id strides and per-replica token salting
    * so shingle/pair vocabularies grow with the corpus instead of
    * collapsing onto the base corpus' distinct sets; lang/source are
    * copied unchanged so strata and the benchmark partition scale
    * proportionally. `runMain graft.ScaleProbe <sfDir> 1,3,10,30 hygiene` */
  private def probeHygiene(spark: SparkSession, sfDir: String,
                           mults: Array[Int]): Unit = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val idStride = base.agg(max(col("doc_id"))).head().getLong(0) + 1
    def replicate(n: Int): DataFrame =
      (0 until n).map { i =>
        base.select((col("doc_id") + lit(i * idStride)).as("doc_id"),
          (if (i == 0) col("text")
           else regexp_replace(col("text"), "(\\S+)", s"$$1_r$i")).as("text"),
          col("lang"), col("source"))
      }.reduce(_ unionByName _)
    val dirs = mults.map { m =>
      val dir = s"/tmp/graft_scale_hyg_${m}x"
      replicate(m).write.mode("overwrite").parquet(dir)
      m -> dir
    }
    val counts = dirs.map { case (m, dir) =>
      m -> spark.read.parquet(dir).count()
    }.toMap
    spark.stop()

    val mixTargets =
      Seq("en", "de", "fr", "es", "zh").map(_ -> 0.2).toMap
    // op subset for the big-decade legs (r12: the 5M-doc dsir run need
    // not pay for a 5M-doc decontaminate too): comma list, default all
    val ops = sys.env.getOrElse("SPARK_GRAFT_HYGIENE_OPS",
      "decon,pack,mix,bpe,dsir").split(",").map(_.trim).toSet
    dirs.foreach { case (m, dir) =>
      var flagged = 0L
      val tDecon = if (!ops("decon")) -1.0 else inOwnSession(dir) { d =>
        flagged = operators.Decontaminate.overlap(d, col("doc_id"),
          col("text"), col("source") === "src19", n = 4).count()
      }
      val tPack = if (!ops("pack")) -1.0 else inOwnSession(dir) { d =>
        operators.SeqPack.pack(d, col("doc_id"), col("text"), 256, 8)
          .write.mode("overwrite").format("noop").save()
      }
      val tMix = if (!ops("mix")) -1.0 else inOwnSession(dir) { d =>
        operators.CorpusFilter.mixToTarget(d, col("doc_id"), col("lang"),
            mixTargets)
          .write.mode("overwrite").format("noop").save()
      }
      val tBpe = if (!ops("bpe")) -1.0 else inOwnSession(dir) { d =>
        // result is a k-row LocalRelation; the work is the k rounds
        operators.TokenizerOps.trainMerges(d, col("text"), k = 4)
      }
      val tDsir = if (!ops("dsir")) -1.0 else inOwnSession(dir) { d =>
        operators.CorpusFilter.dsirWeights(d, col("doc_id"), col("text"),
            col("source") === "src19", buckets = 256, alpha = 0.1)
          .write.mode("overwrite").format("noop").save()
      }
      println(s"""{"mult":$m,"docs":${counts(m)},"decontaminate_s":$tDecon,"decon_flagged":$flagged,"seq_pack_s":$tPack,"mix_s":$tMix,"bpe_train4_s":$tBpe,"dsir_s":$tDsir}""")
    }
  }

  private def probeDedup(spark: SparkSession, sfDir: String,
                         mults: Array[Int]): Unit = {
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val idStride = base.agg(max(col("doc_id"))).head().getLong(0) + 1
    def replicate(n: Int): DataFrame =
      (0 until n).map { i =>
        base.select((col("doc_id") + lit(i * idStride)).as("doc_id"),
          (if (i == 0) col("text")
           else regexp_replace(col("text"), "(\\S+)", s"$$1_r$i")).as("text"))
      }.reduce(_ unionByName _)
    val dirs = mults.map { m =>
      val dir = s"/tmp/graft_scale_docs_${m}x"
      replicate(m).write.mode("overwrite").parquet(dir)
      m -> dir
    }
    val counts = dirs.map { case (m, dir) =>
      m -> spark.read.parquet(dir).count()
    }.toMap
    spark.stop() // replica writer's shuffle files released before timing

    dirs.foreach { case (m, dir) =>
      var pairs = 0L
      val tJac = inOwnSession(dir) { d =>
        pairs = operators.Dedup.ngramJaccardPairs(d, col("doc_id"),
          col("text"), 3, 0.5, maxShingleDf = Some(100)).count()
      }
      val tLsh = inOwnSession(dir) { d =>
        operators.Dedup.minhashLshPairs(d, col("doc_id"), col("text"),
          3, 16, 4, 0.5).write.mode("overwrite").format("noop").save()
      }
      val tSim = inOwnSession(dir) { d =>
        operators.Dedup.simhashPairs(d, col("doc_id"), col("text"), 3)
          .write.mode("overwrite").format("noop").save()
      }
      // cluster resolution over the LSH pairs (the q72 shape): label
      // propagation rounds grow with cluster DIAMETER, not corpus size,
      // so wall-clock should track the pair count linearly
      val tCc = inOwnSession(dir) { d =>
        operators.Dedup.dupClusters(
            operators.Dedup.minhashLshPairs(d, col("doc_id"), col("text"),
              3, 16, 4, 0.5), col("d1"), col("d2"))
          .write.mode("overwrite").format("noop").save()
      }
      println(s"""{"mult":$m,"docs":${counts(m)},"jaccard_df_cap_s":$tJac,"jaccard_pairs":$pairs,"minhash_lsh_s":$tLsh,"simhash_s":$tSim,"dup_clusters_s":$tCc}""")
    }
  }

  /** q40/A7 per-GROUP growth probe (VERDICT r11 item 4): exact
    * `percentile` is a TypedImperativeAggregate that buffers every group
    * value, so at FIXED key cardinality the per-group buffer grows
    * linearly with data — the one q40 shape the disjoint-key replication
    * above cannot exercise. Replicates events n× KEEPING user_id (event
    * ids offset so rows stay distinct), times the full q40 pipeline
    * (exact percentile → bounds join → trim aggregate) and the
    * fixed-size-sketch alternative (`approx_percentile`, accuracy 1e4 —
    * the documented 100-TB fallback when a group outgrows task memory:
    * its buffer is O(accuracy), not O(rows)). Reports rows/group so the
    * buffer size is explicit. The reference's own A7 is a BOUNDED
    * sliding buffer (RPi/MyThreading.py:122-175 keeps last-N per
    * sensor), so the unbounded exact form is already stricter than the
    * reference semantics it models.
    * `runMain graft.ScaleProbe <sfDir> 1,10,100 q40` */
  private def probeQ40(spark: SparkSession, sfDir: String,
                       mults: Array[Int]): Unit = {
    val base = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    // nBase, not idStride, sizes the diagnostics (ADVICE r12): with
    // sparse event ids, m·idStride OVERSTATES the replicated row count
    // and rows_per_group — the very number this probe exists to report
    val b = base.agg(max(col("event_id")), countDistinct(col("user_id")),
      count(lit(1))).head()
    val (idStride, nKeys, nBase) = (b.getLong(0) + 1, b.getLong(1), b.getLong(2))
    def replicate(n: Int): DataFrame =
      (0 until n).map { i =>
        base.select((col("event_id") + lit(i * idStride)).as("event_id"),
          col("user_id"), col("value"))
      }.reduce(_ unionByName _)
    def q40(e: DataFrame, approx: Boolean): DataFrame = {
      val q =
        if (approx)
          e.groupBy(col("user_id").as("__k")).agg(
            expr("approx_percentile(value, 0.25, 10000)").as("q1"),
            expr("approx_percentile(value, 0.75, 10000)").as("q3"))
        else
          e.groupBy(col("user_id").as("__k")).agg(
            expr("percentile(value, 0.25)").as("q1"),
            expr("percentile(value, 0.75)").as("q3"))
      e.join(q, col("user_id") === col("__k"))
        .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5 - 1e-6)
        .withColumn("hi", col("q1") + (col("q3") - col("q1")) * 1.5 + 1e-6)
        .groupBy(col("user_id"))
        .agg(sum(when(col("value").between(col("lo"), col("hi")),
          col("value"))).as("trimmed_sum"),
          count(when(col("value").between(col("lo"), col("hi")), 1)).as("n_kept"),
          count(lit(1)).as("n_total"))
    }
    // write all corpora BEFORE the timed own-session legs (inOwnSession
    // stops the active session — the probeHygiene staging pattern)
    val dirs = mults.map { m =>
      val dir = s"/tmp/graft_scale_q40_${m}x"
      replicate(m).write.mode("overwrite").parquet(dir)
      (m, dir)
    }
    spark.stop()
    dirs.foreach { case (m, dir) =>
      val rows = m.toLong * nBase
      val tExact = inOwnSession(dir) { d =>
        q40(d, approx = false).write.mode("overwrite").format("noop").save()
      }
      val tApprox = inOwnSession(dir) { d =>
        q40(d, approx = true).write.mode("overwrite").format("noop").save()
      }
      println(s"""{"mult":$m,"rows":$rows,"keys":$nKeys,"rows_per_group":${rows / math.max(1, nKeys)},"exact_s":$tExact,"approx_sketch_s":$tApprox}""")
    }
  }
}
