package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Training-sequence packing: assign every document a (shard, seq_id,
  * seq_off) slot in a stream of fixed token-budget training sequences —
  * the batch-layout step between a filtered corpus and a trainer.
  *
  * The packing contract is offset packing: documents are laid out
  * back-to-back in a deterministic per-shard order and a document
  * belongs to the sequence its FIRST token lands in (`floor(start/L)`).
  * That is the streaming-friendly packing real pipelines use at scale
  * (one pass, no bin-state): exact first-fit packing is inherently
  * sequential per bin, while the offset layout is one window cumsum.
  *
  * Scale shape: one shuffle keyed by shard (`hash(id) % nShards` —
  * uniform by construction, no skew), then a per-shard sort for the
  * running-sum window. Shard count scales with the cluster; each shard's
  * window is independent. Token counts come from the codegen'd
  * [[TextFunctions.bpeishCount]] — no UDF in the scan.
  */
object SeqPack {

  /** (doc_id, shard, n_tok, seq_id, seq_off) for every document.
    * `seqLen` is the token budget per training sequence; `nShards`
    * fixes the number of independent packing streams. Deterministic:
    * shard = 32-bit md5 hash of the id (portable, engine-exact), order
    * within a shard = doc id. */
  def pack(df: DataFrame, id: Column, text: Column,
           seqLen: Int, nShards: Int): DataFrame = {
    require(seqLen > 0 && nShards > 0, s"seqLen=$seqLen nShards=$nShards")
    val shard = pmod(
      TextFunctions.hash32(concat(lit("shard:"), id.cast("string"))),
      lit(nShards.toLong))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(id.as("doc_id"), shard.as("shard"),
        TextFunctions.bpeishCount(text).cast("long").as("n_tok"))
      .withColumn("start", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tok"),
        floor(col("start") / seqLen).as("seq_id"),
        (col("start") % seqLen).as("seq_off"))
  }

  /** DuckDB twin of [[pack]] — same hash shard, same exclusive-cumsum
    * window. */
  def packSql(idE: String, textE: String, seqLen: Int, nShards: Int): String = {
    val h = TextFunctions.hash32Sql(s"('shard:' || CAST($idE AS VARCHAR))")
    val nTok = TextFunctions.bpeishCountSql(textE)
    s"""WITH base AS (SELECT $idE AS doc_id, ($h % $nShards) AS shard,
                             CAST($nTok AS BIGINT) AS n_tok FROM documents),
        run AS (SELECT *, coalesce(sum(n_tok) OVER (
                    PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS start FROM base)
        SELECT doc_id, shard, n_tok,
               CAST(floor(start / $seqLen) AS BIGINT) AS seq_id,
               CAST((start % $seqLen) AS BIGINT) AS seq_off FROM run"""
  }
}
