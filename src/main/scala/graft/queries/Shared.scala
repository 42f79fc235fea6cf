package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** What several queries share, or a query's build shares with its
  * oracle: the timestamp exports, the planted-twin corpus and its SQL
  * twin, the q63/q107 constants both engines render, and the oracle SQL
  * fragments (hourly aggregate, Grubbs recursion, MinHash pairs). */
private[queries] object Shared {

  /** Epoch seconds (floor) of a (possibly NTZ) timestamp column. */
  def eS(c: Column): Column = unix_timestamp(c.cast("timestamp"))

  /** Epoch microseconds of a (possibly NTZ) timestamp column. */
  def eUs(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** The planted-twin embedding corpus of q91, q102, q111 and q113:
    * every embedding as `(id, v array<double>)` plus a perturbed twin of
    * every 10th vector — integer-rational deltas, bit-identical in both
    * engines — giving true near-dups spread around cos 0.9 (the raw
    * embeddings are near-orthogonal, max pair cos 0.51). Twin ids sit
    * above the data-derived stride max(id)+1, one eager job per input
    * version ([[StatsCatalog]]) (r13: the
    * old fixed +10000 COLLIDED with base ids once the corpus passed 10k
    * vectors, and the sketch-prune mirror joins band codes BY ID, which
    * double-counts hamming sums under id duplication — caught by the
    * r13 sf1 gate). `isBench` adds q111's `is_bench` column, true on the
    * twins. Oracle twin: [[plantedTwinCorpusSql]]. */
  def plantedTwinCorpus(s: SparkSession, d: String,
                        isBench: Boolean = false): DataFrame = {
    val base = Tables.embeddings(s, d).select(
      col("vec_id").cast("long").as("id"), col("embedding").as("v"))
    val stride =
      StatsCatalog.collect(base.agg(max(col("id")))).head.getLong(0) + 1
    def flag(twin: Boolean): Seq[Column] =
      if (isBench) Seq(lit(twin).as("is_bench")) else Nil
    val twins = base.where(col("id") % 10 === 0)
      .withColumn("v2", transform(col("v"), (x, i) =>
        x.cast("double") +
          (((col("id") * 31 + i.cast("long") * 17) % 7) - 3).cast("double") *
            (lit(0.02) + (col("id") % 4).cast("double") * lit(0.01))))
      .select(Seq((col("id") + stride).as("id"), col("v2").as("v")) ++
        flag(true): _*)
    base.select(Seq(col("id"),
        transform(col("v"), x => x.cast("double")).as("v")) ++ flag(false): _*)
      .unionByName(twins)
  }

  /** q107 target language shares (uniform over the corpus' 5 langs). */
  val MixTargets: Map[String, Double] =
    Seq("en", "de", "fr", "es", "zh").map(_ -> 0.2).toMap

  // q63 synthetic reading shape (its build and its oracle both render it)
  val CommunityProducts =
    Seq("PMS7003", "SDS011", "BME280", "SHT31", "DS18B20")
  val CommunityDustFields =
    Seq("pm25", "pm10", "pm1", "pm10_cnt", "grain")
  val CommunityMeteoFields = Seq("temp", "rv", "luchtdruk")

  // ------------------------------------------------------------ oracle SQL

  /** Shared SQL fragments so scalar oracles are generated from the same
    * definitions as the Spark plans. */
  def eSq(c: String) = s"epoch_us($c)//1000000"

  val hourlyAggSql =
    "SELECT epoch_us(date_trunc('hour', ts))//1000000 AS bucket_ts, " +
      "CAST(round(CAST(avg(value) AS DECIMAL(18,6)),2) AS DOUBLE) AS avg_value, " +
      "count(*) AS n FROM events GROUP BY 1"

  /** Grubbs oracle support (A4/A5): the recursive max-removal IS
    * SQL-expressible as a DuckDB recursive CTE over a sorted value list —
    * the reference removes the largest *signed* z-score
    * (statistics/grubbs.py:230 `Z.argmax()`), and dev = v − mean is
    * monotone in v, so every pass removes one instance of the current
    * maximum: each iteration drops the sorted list's last element. The
    * Student-t critical values are not SQL-expressible; the lookup table
    * is interpolated from the SAME Scala implementation the engine uses
    * ([[graft.functions.Stats.grubbsCritical]]) via `Double.toString`
    * (shortest-repr round-trips through DuckDB's parser exactly), so both
    * sides compare against identical doubles. n ≤ 1024 bounds the table:
    * a group beyond it would silently END the oracle's recursion (the
    * crit join finds no row) while the engine kept iterating — max group
    * size is 99 at sf0.1, so 1024 is a 10× safety margin, and the VALUES
    * list stays trivially small. */
  lazy val grubbsCritTable: String =
    (15 to 1024).map(n =>
      s"($n, ${graft.functions.Stats.grubbsCritical(n, 0.05)})").mkString(", ")

  /** MinHash(16) + LSH(4×4) verified pair SQL — q27's oracle, and the
    * pair definition q72's transitive closure builds on (one rendering,
    * two queries: the cluster oracle can't drift from the pair oracle). */
  lazy val minhashPairsSql: String = {
    val sh = TextFunctions.shinglesSql("text", 3)
    val mins = (0 until 16).map(j =>
      s"min(${TextFunctions.minhashPermSql("h", j)}) AS m$j").mkString(", ")
    val bandCase = (0 until 4).map(b =>
      s"WHEN $b THEN concat_ws(',', m${4 * b}, m${4 * b + 1}, m${4 * b + 2}, m${4 * b + 3})")
      .mkString("CASE band ", " ", " END")
    s"""WITH sh AS (SELECT doc_id AS id, unnest($sh) AS s FROM documents),
        h AS (SELECT id, ${TextFunctions.hash32Sql("s")} AS h FROM sh),
        sig AS (SELECT id, $mins FROM h GROUP BY id),
        banded AS (SELECT id, band, $bandCase AS bkey
                   FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band)),
        -- bucket cap mirrored from Dedup.DefaultLshBucketCap: oversized
        -- (degenerate) buckets contribute no candidates on either engine
        bucket AS (SELECT band, bkey FROM banded GROUP BY band, bkey
                   HAVING count(*) BETWEEN 2 AND ${graft.operators.Dedup.DefaultLshBucketCap}),
        cand AS (SELECT DISTINCT x.id AS d1, y.id AS d2
                 FROM banded x
                 JOIN bucket USING (band, bkey)
                 JOIN banded y ON y.band = x.band AND y.bkey = x.bkey
                              AND x.id < y.id),
        sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
        inter AS (SELECT c.d1, c.d2, count(*) AS n_inter FROM cand c
                  JOIN sh a ON a.id = c.d1 JOIN sh b ON b.id = c.d2 AND b.s = a.s
                  GROUP BY 1, 2),
        j AS (SELECT d1, d2,
                round(n_inter / CAST(n1.n_sh + n2.n_sh - n_inter AS DOUBLE), 4) AS jac
              FROM inter JOIN sizes n1 ON n1.id = d1 JOIN sizes n2 ON n2.id = d2)
        SELECT d1, d2, jac FROM j WHERE jac >= 0.5"""
  }

  /** The shared recursive skeleton: seed must yield (keys…, vals, n0)
    * with vals sorted ascending; the final row per key group is the one
    * with the shortest list (lengths strictly decrease). */
  def grubbsIterSql(keys: String, seedSql: String): String =
    s"""WITH RECURSIVE crit(n, c) AS (VALUES $grubbsCritTable),
        seed0 AS ($seedSql),
        -- LOUD guard: past the crit table the recursion would silently
        -- stop while the engine kept iterating — fail the oracle instead
        seed AS (SELECT $keys,
                   CASE WHEN len(vals) > 1024
                        THEN error('grubbs oracle: group exceeds crit table (n > 1024)')
                        ELSE vals END AS vals, n0
                 FROM seed0),
        iter($keys, vals, n0) AS (
          SELECT $keys, vals, n0 FROM seed
          UNION ALL
          SELECT $keys, vals[1:t.n-1], n0
          FROM (SELECT $keys, vals, n0, CAST(len(vals) AS INT) AS n,
                       list_sum(vals)/len(vals) AS mu
                FROM iter WHERE len(vals) >= 15) t
          JOIN crit ON crit.n = t.n
          WHERE sqrt(list_sum(list_transform(vals, v -> (v-mu)*(v-mu)))/(t.n-1)) > 0
            AND (vals[t.n] - mu)
              / sqrt(list_sum(list_transform(vals, v -> (v-mu)*(v-mu)))/(t.n-1))
              > crit.c)"""

  /** DuckDB twin of [[plantedTwinCorpus]]: one SELECT yielding
    * `(id, v[, is_bench])`, stride = max id + 1 recomputed in SQL; the
    * e0 literals keep the twin deltas DOUBLE. */
  def plantedTwinCorpusSql(isBench: Boolean = false): String = {
    def flag(twin: Boolean) =
      if (isBench) s", ${twin.toString.toUpperCase} AS is_bench" else ""
    s"""SELECT id, list_transform(v, x -> CAST(x AS DOUBLE)) AS v${flag(false)}
        FROM (SELECT CAST(vec_id AS BIGINT) AS id, embedding AS v
              FROM embeddings)
        UNION ALL
        SELECT id + (SELECT max(CAST(vec_id AS BIGINT)) + 1
                     FROM embeddings) AS id,
               list(CAST(x AS DOUBLE) +
                    ((id*31 + (ord-1)*17) % 7 - 3) *
                    (0.02e0 + (id % 4) * 0.01e0) ORDER BY ord) AS v${flag(true)}
        FROM (SELECT id, unnest(v) AS x, generate_subscripts(v, 1) AS ord
              FROM (SELECT CAST(vec_id AS BIGINT) AS id, embedding AS v
                    FROM embeddings)
              WHERE id % 10 = 0)
        GROUP BY id"""
  }
}
