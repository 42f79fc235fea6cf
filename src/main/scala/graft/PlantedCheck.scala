package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Closed-form planted-pair adjudication of the scaled-corpus dedup
  * queries whose DuckDB oracles are infeasible at sf10 (>45 min / 70 GB
  * spill — VERDICT r9 item 2). MakeScale's document replication is a
  * BIJECTIVE shingle map per replica with disjoint token namespaces
  * (the dStride-salted suffix), so the scaled corpus's true near-dup
  * structure is exactly `mult` disjoint offset copies of the base
  * corpus's — a closed form an sf0.1-oracle-green base run plants:
  *
  *  - q26 (exact df-capped Jaccard): the sf10 result must EQUAL
  *    {(d1 + k·dStride, d2 + k·dStride, jac) : (d1,d2,jac) ∈ base,
  *    k < mult} — Jaccard values and the df-cap semantics are invariant
  *    under the bijection, so this is full-set equality, the same
  *    strength as a hash row.
  *  - q27 (MinHash+LSH): signatures are NOT bijection-invariant (the
  *    salt changes shingle hashes, so each replica's band collisions
  *    differ), so per-replica output legitimately varies. Adjudicated
  *    structurally: every emitted pair must (a) stay inside one replica
  *    block (cross-block pairs were exactly the r7 corpus-replication
  *    bug), (b) appear in the q26 closed-form truth with the SAME jac
  *    (LSH emits a subset of the true ≥-threshold set, never a
  *    superset), and (c) clear a recall floor against the planted truth.
  *  - q72 (dup clusters over the q27 graph): recomputed independently —
  *    the q27 pair set is collected (bounded, asserted) and labeled by
  *    driver-side union-find, then compared field-for-field
  *    (cluster_id, n_docs, is_survivor) with the engine's hash-min
  *    label propagation. Different algorithm, same answer = adjudicated.
  *
  * `runMain graft.PlantedCheck <baseDir> <scaledDir> <mult> [checks...]`
  * — base must be an oracle-green SF (the driver gate covers sf0.01 and
  * r5-r9 sweeps covered sf0.1); mult is the TOTAL factor (100 for
  * sf0.1→sf10). Prints one JSON line per check; exit 1 on any failure.
  */
object PlantedCheck {

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val scaledDir = args(1)
    val mult = args(2).toInt
    val checks = { val c = args.drop(3).toSet; if (c.isEmpty) Set("q26", "q27", "q72") else c }
    val spark = Session.build(scaledDir, Session.cpus(32))
    var failed = false
    def report(check: String, pass: Boolean, stats: (String, Any)*): Unit = {
      val s = stats.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      println(s"""{"check":"$check","pass":$pass${if (s.nonEmpty) "," + s else ""}}""")
      if (!pass) failed = true
    }

    val dStride = Tables.documents(spark, baseDir)
      .agg(max(col("doc_id"))).head().getLong(0) + 1

    // q26 closed-form truth: base result replicated mult× with offsets.
    // (base pairs are few thousand rows — the crossJoin is a driver-size
    // frame, not a corpus-size one.)
    lazy val q26Expected = {
      val base = SparkEntry.queries("q26_ngram_jaccard")(spark, baseDir)
        .collect() // small; freezes the base truth for both consumers
      val baseDf = spark.createDataFrame(
        spark.sparkContext.parallelize(base.toIndexedSeq),
        SparkEntry.queries("q26_ngram_jaccard")(spark, baseDir).schema)
      baseDf.crossJoin(spark.range(mult).select(col("id").as("k")))
        .select((col("d1") + col("k") * dStride).as("d1"),
          (col("d2") + col("k") * dStride).as("d2"), col("jac"))
        .cache()
    }

    if (checks("q26")) {
      val scaled = SparkEntry.queries("q26_ngram_jaccard")(spark, scaledDir)
      val joined = scaled.as("s").join(q26Expected.as("e"), Seq("d1", "d2"), "full")
      val missing = joined.where(col("s.jac").isNull).count()
      val extra = joined.where(col("e.jac").isNull).count()
      val wrongJac = joined.where(col("s.jac") =!= col("e.jac")).count()
      val n = q26Expected.count()
      report("q26_planted_equality",
        missing == 0 && extra == 0 && wrongJac == 0 && n > 0,
        "expected_pairs" -> n, "missing" -> missing, "extra" -> extra,
        "wrong_jac" -> wrongJac)
    }

    if (checks("q27") || checks("q72")) {
      val scaled27 = SparkEntry.queries("q27_minhash_lsh")(spark, scaledDir)
        .cache()
      if (checks("q27")) {
        val crossBlock = scaled27
          .where(floor(col("d1") / dStride) =!= floor(col("d2") / dStride))
          .count()
        // q27's truth must be UNCAPPED (ADVICE r10): q26 runs with
        // maxShingleDf=100 as its scale contract, which legitimately
        // drops true pairs whose shared shingles are all hot; MinHash
        // banding has no df cap, so on a boilerplate-heavy corpus a
        // correct q27 pair could be absent from the capped truth and
        // fail not_in_truth spuriously. The uncapped base run is
        // base-corpus-sized — a checker cost, not an operator path.
        val q27Truth = {
          val base = operators.Dedup.ngramJaccardPairs(
              Tables.documents(spark, baseDir), col("doc_id"), col("text"),
              3, 0.5, maxShingleDf = None)
            .collect()
          val baseDf = spark.createDataFrame(
            spark.sparkContext.parallelize(base.toIndexedSeq),
            q26Expected.schema)
          baseDf.crossJoin(spark.range(mult).select(col("id").as("k")))
            .select((col("d1") + col("k") * dStride).as("d1"),
              (col("d2") + col("k") * dStride).as("d2"), col("jac"))
        }
        val joined = scaled27.as("s")
          .join(q27Truth.as("e"), Seq("d1", "d2"), "left")
        val notInTruth = joined.where(col("e.jac").isNull).count()
        val wrongJac = joined.where(col("s.jac") =!= col("e.jac")).count()
        val got = scaled27.count()
        val baseN = SparkEntry.queries("q27_minhash_lsh")(spark, baseDir).count()
        val recall = got.toDouble / math.max(1L, baseN * mult)
        // Floor 0.5: per-replica signatures differ, and band buckets are
        // shared across the whole scaled corpus (caps can drop a few) —
        // but losing half the planted pairs would mean the candidate
        // path broke, which is what this check exists to catch.
        report("q27_planted_structure",
          crossBlock == 0 && notInTruth == 0 && wrongJac == 0 &&
            got > 0 && recall >= 0.5,
          "pairs" -> got, "cross_block" -> crossBlock,
          "not_in_truth" -> notInTruth, "wrong_jac" -> wrongJac,
          "recall_vs_base_x_mult" -> f"$recall%.4f")
      }
      if (checks("q72")) {
        // Independent reference labeling: union-find over the collected
        // pair graph (a CHECKER, deliberately driver-side — bounded and
        // asserted, never an operator path).
        val pairs = scaled27.select(col("d1"), col("d2")).collect()
        require(pairs.length < 5000000,
          s"pair graph too large to adjudicate driver-side: ${pairs.length}")
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        def union(a: Long, b: Long): Unit = {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        pairs.foreach { r => val (a, b) = (r.getLong(0), r.getLong(1))
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b); union(a, b) }
        val label = parent.keys.map(n => n -> find(n)).toMap
        val sizes = label.values.groupBy(identity).map { case (l, xs) => l -> xs.size }
        val got = SparkEntry.queries("q72_dup_clusters")(spark, scaledDir)
          .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
          .toMap
        val nodeSetOk = got.keySet == label.keySet
        var wrong = 0L
        if (nodeSetOk) label.foreach { case (n, l) =>
          val (cid, nd, surv) = got(n)
          if (cid != l || nd != sizes(l).toLong || surv != (n == l)) wrong += 1
        }
        report("q72_unionfind_equality", nodeSetOk && wrong == 0,
          "nodes" -> label.size, "clusters" -> sizes.size,
          "node_set_match" -> nodeSetOk, "wrong_rows" -> wrong)
      }
      scaled27.unpersist()
    }

    spark.stop()
    if (failed) sys.exit(1)
  }
}
