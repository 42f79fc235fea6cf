package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds a scaled-up replica of a testdata SF directory for the
  * whole-contract sweep (VERDICT r5 item 1): fact tables replicated
  * `mult`× with DISJOINT key ranges, dimension tables copied unchanged
  * (they are the broadcast sides — growing them would distort the join
  * shapes away from the production star schema).
  *
  * `runMain graft.MakeScale <srcDir> <dstDir> <mult>` — writes one
  * single-file `<table>.parquet` per table so DuckDB's `'.../t.parquet'`
  * view (tools/check.py, tools/duck_bench.py) reads the SAME bytes the
  * engine does.
  *
  * Replication rules (each chosen so per-query OUTPUT stays linear in
  * `mult` — replicating verbatim would make every near-dup/self-join
  * output quadratic and the sweep would measure the answer's size, not
  * the operators):
  *  - events: `event_id`/`user_id` offset by data-derived strides
  *    (hardcoded strides would silently collide on bigger inputs); replicas behave as new kits with identical series.
  *  - documents: `doc_id` offset; text token-salted by SUFFIXING every
  *    token (`word` → `word_r<i>`) so replicas share NO shingles —
  *    near-dup pair counts scale linearly, one planted set per replica.
  *    The suffix form is a BIJECTIVE shingle map: replica i's shingle
  *    (a_r<i>, b_r<i>, c_r<i>) exists iff the original had (a, b, c),
  *    so within-replica overlap statistics are exactly the original
  *    corpus's. (The first cut inserted ` r<i> ` between words instead;
  *    that turns trigram shingles into bigram-equivalent overlap and
  *    inflated LSH band-bucket density 249× at mult=10 — the probe was
  *    measuring the corpus artifact, not the operator.)
  *  - embeddings: `vec_id` offset; replica i ≠ 0 gets a deterministic
  *    per-(replica, dim) sign-flip pattern, which decorrelates replicas
  *    (E[cos] ≈ 0) without touching norms — cosine near-dup output stays
  *    linear, and replica 0 keeps the original vectors so id-anchored
  *    queries/planes/centroids see the same data.
  *  - lineitem/orders: `l_orderkey`/`o_orderkey` offset; all attribute
  *    and FK columns unchanged (dims are not replicated).
  */
object MakeScale {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.build(src, Session.cpus(32))

    val dstPath = java.nio.file.Paths.get(dst)
    java.nio.file.Files.createDirectories(dstPath)

    /** One parquet FILE per table: stage a coalesce(1) dir, move the part
      * file to `<dst>/<name>.parquet` (DuckDB's plain-path view needs a
      * file, not a Spark directory). */
    def writeOne(df: DataFrame, name: String): Unit = {
      val stage = s"$dst/.stage_$name"
      // Small row groups (1 MiB vs the 128 MiB default) so the ONE file
      // is still scan-parallel: both Spark (splits pick row groups by
      // midpoint) and DuckDB parallelize a parquet file BY ROW GROUP —
      // r12 found every fact table was a single-row-group file, which
      // serialized every sf1/sf10 scan onto one core in both engines
      // (q76's "6.8 s parse" was 2 of 32 cores busy). At production
      // scale input arrives as thousands of files/groups; this keeps
      // the single-file DuckDB-parity contract while restoring that
      // shape. Readers must size spark.sql.files.maxPartitionBytes to
      // match (Bench/Verify derive it from corpus volume).
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (1L << 20).toString)
        .parquet(stage)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = dstPath.resolve(s"$name.parquet")
      java.nio.file.Files.deleteIfExists(dest)
      java.nio.file.Files.move(part, dest)
      // drop the staging dir
      val s = java.nio.file.Paths.get(stage)
      java.nio.file.Files.list(s).forEach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.delete(s)
      println(s"wrote $dest")
    }

    def copyDim(name: String): Unit = {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$name.parquet"),
        dstPath.resolve(s"$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      println(s"copied $name.parquet")
    }

    Seq("region", "nation", "customer", "supplier", "part").foreach(copyDim)

    // ---- events
    val ev = Tables.events(spark, src)
    val evB = ev.agg(max(col("user_id")), max(col("event_id"))).head()
    val (uStride, eStride) = (evB.getLong(0) + 1, evB.getLong(1) + 1)
    writeOne((0 until mult).map { i =>
      ev.select((col("event_id") + lit(i * eStride)).as("event_id"), col("ts"),
        (col("user_id") + lit(i * uStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _), "events")

    // ---- documents
    val docs = Tables.documents(spark, src)
    val dStride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val docCols = docs.columns.toSeq
    // The token-salt suffix carries the corpus-derived dStride — the
    // same nesting rule the embeddings sign-flip uses (vStride salt):
    // with a bare `_r<i>`, NESTED replication (sf0.1→sf1→sf10) collides
    // level-1 replica i copied verbatim at level 2 (suffix `_r<i>`) with
    // level-1 base salted at level 2 replica i (also `_r<i>`) — the two
    // blocks are BIT-IDENTICAL documents, so the "linear planted pairs"
    // contract silently breaks with |docs| extra exact twins plus
    // cross-block near-dups per colliding pair of blocks. dStride
    // differs at every nesting level (it is the max id of the level's
    // input), so suffix namespaces compose decorrelated and the level-2
    // corpus's true pair set is EXACTLY mult² disjoint copies of the
    // base pair set — the closed form graft.PlantedCheck asserts.
    writeOne((0 until mult).map { i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * dStride))
        .withColumn("text",
          if (i == 0) col("text")
          else regexp_replace(col("text"), "(\\S+)", s"$$1_r${i}x$dStride"))
        .select(docCols.map(col): _*)
    }.reduce(_ unionByName _), "documents")

    // ---- embeddings
    val emb = Tables.embeddings(spark, src)
    val vStride = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val embCols = emb.columns.toSeq
    // The sign-flip pattern is salted with the corpus-derived vStride so
    // NESTED replication (sf0.1→sf1→sf10) composes decorrelated: with an
    // unsalted per-replica key, run 2's pattern F_j equals run 1's F_j,
    // so replica pairs (i,j)/(j,i) of the same base vector carry the
    // SAME combined flip F_i⊕F_j and are bit-identical — measured at
    // sf10 as ~10× the planted near-dup pair count (211,806 pairs for
    // 220k vectors in the lshpairs probe; the corpus, not the operator).
    // Distinct strides at each nesting level make cross-run patterns
    // independent hashes, collision probability 2^-dim.
    writeOne((0 until mult).map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * vStride))
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else transform(col("embedding"), (x, j) =>
            when(pmod(xxhash64(j * 41 + lit(i * 977) + lit(vStride * 7919)),
              lit(2)) === 0, x).otherwise(-x)))
        .select(embCols.map(col): _*)
    }.reduce(_ unionByName _), "embeddings")

    // ---- lineitem / orders
    val li = Tables.lineitem(spark, src)
    val lStride = li.agg(max(col("l_orderkey"))).head().getLong(0) + 1
    val liCols = li.columns.toSeq
    writeOne((0 until mult).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * lStride))
        .select(liCols.map(col): _*)
    }.reduce(_ unionByName _), "lineitem")

    val ord = Tables.orders(spark, src)
    val oStride = ord.agg(max(col("o_orderkey"))).head().getLong(0) + 1
    val ordCols = ord.columns.toSeq
    writeOne((0 until mult).map { i =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * oStride))
        .select(ordCols.map(col): _*)
    }.reduce(_ unionByName _), "orders")

    spark.stop()
  }
}
