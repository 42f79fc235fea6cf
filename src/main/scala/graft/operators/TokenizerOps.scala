package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Tokenizer-training support: the corpus-wide merge-selection aggregate
  * of BPE training — count every adjacent token pair across the corpus
  * (WITH multiplicity) and take the top-K candidates. BPE proper runs
  * this over character/byte symbols and re-runs it after each merge;
  * the aggregate — a corpus-sized pair count feeding an ordered top-K —
  * is identical at every iteration and at every symbol granularity, so
  * it is computed here once over word tokens (the corpus' tokens
  * contract, [[TextFunctions.tokens]]); swapping the tokenizer to
  * byte/char symbols changes only the scan expression, not the plan.
  *
  * Scale shape: the pair fan-out comes from the native one-pass
  * `ngram_list` scan (the multiplicity sibling of `ngram_shingles` —
  * no regexp pass, no interpreted HOF), the count is ONE hash aggregate
  * keyed by pair (combines map-side: per-partition pair counts travel,
  * not pair occurrences), and the top-K is `TakeOrderedAndProject` —
  * per-partition heaps of K rows to the driver, never a global sort.
  * One shuffle total, sized by the distinct-pair vocabulary, not the
  * corpus.
  */
object TokenizerOps {

  /** Top-`k` adjacent token pairs by corpus frequency: (pair, n), ties
    * broken by pair text ascending — a total order, so the cut at K is
    * deterministic in both engines. */
  def topMergePairs(df: DataFrame, text: Column, k: Int): DataFrame = {
    require(k > 0, s"k=$k")
    df.select(explode(call_function("ngram_list", text, lit(2))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /** DuckDB twin of [[topMergePairs]] — same tokens contract, same
    * multiplicity, same (n DESC, pair ASC) cut. */
  def topMergePairsSql(textE: String, k: Int): String = {
    val tk = TextFunctions.tokensSql(textE)
    s"""WITH t AS (SELECT $tk AS tk FROM documents),
        g AS (SELECT unnest(CASE WHEN len(tk) >= 2
                THEN list_transform(range(len(tk) - 1),
                       i -> tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS pair FROM t)
        SELECT pair, count(*) AS n FROM g GROUP BY 1
        ORDER BY n DESC, pair ASC LIMIT $k"""
  }

  /** Iterative BPE training: `k` alternating select→apply merge rounds
    * — the real tokenizer-training loop, not just one selection round.
    * Returns the merge table (step, pair, n): at each step the corpus-
    * frequency-max adjacent pair (ties by pair text ascending — a total
    * order) is selected, recorded with its pre-merge count, and applied
    * greedily left-to-right non-overlapping (the BPE apply contract);
    * the merged symbol is the pair joined with `_`.
    *
    * Canonical corpus layout: tokens joined with DOUBLE spaces and
    * single-space edges, so the apply step is a literal string
    * `replace(" a  b ", " a_b ")` — non-overlapping left-to-right in
    * both engines, and the boundary invariant (internal gaps exactly
    * two spaces, edges one) is preserved by every replacement, which
    * makes round `i+1`'s pattern well-defined. Greedy semantics fall
    * out of left-to-right replace: in `x x x` the first `x x` merges
    * and the remainder `x` does not (the match consumes the shared
    * boundary space).
    *
    * Scale shape: each round is ONE map-side-combined pair-count
    * aggregate (shuffle sized by pair vocabulary) + a 1-row driver
    * fetch + a map-only literal replace — merge selection is globally
    * sequential BY DEFINITION (round i+1's counts depend on round i's
    * apply), so k driver round-trips of one row each is the
    * distributed-BPE minimum, not a driver-side loop smell. Every
    * intermediate corpus is cached so round i+1 rescans round i's
    * strings, not a k-deep replace lineage. */
  def trainMerges(df: DataFrame, text: Column, k: Int): DataFrame = {
    require(k > 0, s"k=$k")
    val spark = df.sparkSession
    // The canonical layout IS the tokens() contract (lowercase, space-
    // squeeze, space-split — merged symbols are single '_'-joined
    // tokens), so the native one-pass `ngram_list` scan extracts each
    // round's pairs directly; the interpreted split+zip_with chain it
    // replaces measured 4.2× slower over the whole loop at sf1
    // (36.6 → 8.7 s, min-of-3).
    def pairsOf(s: Column): Column = call_function("ngram_list", s, lit(2))
    // Sliding two-generation cache: round i's winner aggregate is the
    // action that materializes cur_i (reading cur_{i-1}'s cache), after
    // which cur_{i-1} is dead — holding all k generations would pin k
    // corpus copies in storage memory for no reader.
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var cur = df.select(concat(lit(" "),
      array_join(TextFunctions.tokens(text), "  "), lit(" ")).as("s")).cache()
    cached += cur
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    var step = 0
    var dry = false // empty winner ⇒ pairless corpus ⇒ no later round can win
    while (step < k && !dry) {
      val w = cur.select(explode(pairsOf(col("s"))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc).limit(1).collect()
      while (cached.size > 1) cached.remove(0).unpersist() // cur is hot now
      if (w.isEmpty) dry = true // stop, don't rescan an unchanged corpus
      else {
        val pair = w(0).getString(0)
        merges += ((step, pair, w(0).getLong(1)))
        val Array(a, b) = pair.split(" ", 2) // tokens never contain ' '
        cur = cur.select(replace(col("s"),
          lit(s" $a  $b "), lit(s" ${a}_$b ")).as("s")).cache()
        cached += cur
      }
      step += 1
    }
    cached.foreach(_.unpersist()) // result is a driver-built LocalRelation
    spark.createDataFrame(merges.toSeq).toDF("step", "pair", "n")
  }

  /** DuckDB twin of [[trainMerges]] — the k rounds unrolled as CTE
    * stages from the same canonical layout / replace / tie-break
    * definitions. */
  def trainMergesSql(textE: String, k: Int): String = {
    val tk = TextFunctions.tokensSql(textE)
    val sb = new StringBuilder
    sb ++= s"""WITH s0 AS (SELECT (' ' || array_to_string($tk, '  ') || ' ')
                 AS s FROM documents)"""
    for (i <- 0 until k) {
      sb ++= s""",
        t$i AS (SELECT string_split_regex(trim(s), ' +') AS tk FROM s$i),
        p$i AS (SELECT unnest(CASE WHEN len(tk) >= 2
                  THEN list_transform(range(len(tk) - 1),
                         j -> tk[j+1] || ' ' || tk[j+2])
                  ELSE [] END) AS pair FROM t$i),
        w$i AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p$i
                GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 1),
        s${i + 1} AS (SELECT replace(s.s,
                        ' ' || split_part(w.pair, ' ', 1) || '  ' ||
                          split_part(w.pair, ' ', 2) || ' ',
                        ' ' || split_part(w.pair, ' ', 1) || '_' ||
                          split_part(w.pair, ' ', 2) || ' ') AS s
                      FROM s$i s CROSS JOIN w$i w)"""
    }
    sb ++= "\n        "
    sb ++= (0 until k)
      .map(i => s"SELECT $i AS step, pair, n FROM w$i").mkString(" UNION ALL ")
    sb.toString
  }
}
