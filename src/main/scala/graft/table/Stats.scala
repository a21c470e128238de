package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Timing.timed
import graft.codec.{Hashing, IntBlocks}

/** Sampled per-column statistics that drive codec auto-selection (SURVEY.md
  * E6–E7) plus the input fingerprint that anchors resume lineage.
  *
  * Two passes, both distributed with map-side partial aggregation:
  *   1. full pass — O(1)-state aggregates only (counts, min/max, HLL++
  *      cardinality, xxhash64 bit_xor fingerprint). One scan, no shuffle of
  *      data rows, tiny result.
  *   2. seeded-sample pass — the expensive token-level stats (exploded
  *      distinct, adjacent-run fraction) over ≤ `sampleRows` rows.
  *
  * Everything is deterministic: fixed sample seed, commutative bit_xor
  * fingerprint (partition-order independent).
  */
final case class ColumnStats(
    rows: Long,
    tokensTotal: Long,
    keyNulls: Long,
    keyMin: Long,
    keyMax: Long,
    tokMin: Int,
    tokMax: Int,
    tokDistinct: Long,
    adjRepeatFrac: Double,
    nTokMin: Int,
    nTokMax: Int,
    sourceDistinct: Long,
    fingerprint: String) {

  /** Candidate gating for the tokens column (E7): dict/FSST trials are only
    * worth attempting when the sampled cardinality fits the dictionary cap.
    */
  def allowDict: Boolean = tokDistinct <= IntBlocks.DictCap
  def allowFsst: Boolean = allowDict

  def asJsonFields: Seq[(String, String)] = Seq(
    "rows" -> rows.toString,
    "tokens_total" -> tokensTotal.toString,
    "key_nulls" -> keyNulls.toString,
    "key_min" -> keyMin.toString,
    "key_max" -> keyMax.toString,
    "tok_min" -> tokMin.toString,
    "tok_max" -> tokMax.toString,
    "tok_distinct" -> tokDistinct.toString,
    "adj_repeat_frac" -> f"$adjRepeatFrac%.6f",
    "n_tok_min" -> nTokMin.toString,
    "n_tok_max" -> nTokMax.toString,
    "source_distinct" -> sourceDistinct.toString)
}

object Stats {

  val SampleSeed = 42L

  /** `tokens` must be the input-shaped table (doc_id, tokens, n_tok, source)
    * with a `_graft_key` bigint column already attached.
    */
  def collect(keyed: DataFrame, sampleRows: Long = 1L << 20): ColumnStats = {
    // fingerprint hashes the cheap scalar fields only: hashing every token
    // would tax the hot path (~15 ns/token measured at local[8]) for a
    // rare event, and row count + token sum + value min/max already pin
    // down adds/removes/length changes. The blind spot (token VALUES
    // permuted under identical scalars) is closed at resume time by
    // GraftTable.resumeValuesMatch — a decode-and-compare confirm paid
    // only when a snapshot is about to be trusted as current.
    val full = timed("stats-full")(keyed.agg(
      count(lit(1)).as("rows"),
      sum(col("n_tok").cast("long")).as("tokens_total"),
      sum(when(col("_graft_key").isNull, 1L).otherwise(0L)).as("key_nulls"),
      min(col("_graft_key")).as("key_min"),
      max(col("_graft_key")).as("key_max"),
      min(array_min(col("tokens"))).as("tok_min"),
      max(array_max(col("tokens"))).as("tok_max"),
      min(col("n_tok")).as("n_tok_min"),
      max(col("n_tok")).as("n_tok_max"),
      approx_count_distinct(col("source")).as("source_distinct"),
      expr("bit_xor(xxhash64(doc_id, n_tok, source))").as("fp_xor"))
      .head())

    val rows = full.getLong(0)
    // sample budget counts TOKENS, not rows: the sampled stats iterate every
    // token, so a million 50k-token rows must not slip through a row cap.
    // Row selection is hash-strided on doc_id (a pure function of the data,
    // NOT df.sample whose per-partition seeding changes with input layout):
    // the sampled stats gate codec candidates, so they must be identical at
    // any parallelism for payloads to be identical.
    val tokensTotal0 = if (full.isNullAt(1)) 0L else full.getLong(1)
    val avgTok = if (rows == 0) 1.0 else math.max(1.0, tokensTotal0.toDouble / rows)
    val rowBudget = math.max(1L, (sampleRows.toDouble / avgTok).toLong)
    val stride = math.max(1L, rows / rowBudget)
    val sample =
      if (stride <= 1L) keyed
      else keyed.where(pmod(xxhash64(col("doc_id")), lit(stride)) === 0)

    // adjacent-repeat pairs per row: zip tokens with its own 1-shift
    val adjPairs = aggregate(
      zip_with(
        slice(col("tokens"), lit(1), greatest(col("n_tok") - 1, lit(0))),
        slice(col("tokens"), lit(2), greatest(col("n_tok") - 1, lit(0))),
        (a, b) => when(a === b, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)

    // Both sampled stats in ONE job and one scan: posexplode feeds the
    // token-distinct sketch, and the adjacency sums ride the pos==0 row
    // of each document (rows with empty token arrays are dropped by the
    // explode but contribute 0 pairs by definition). The adjacency
    // expressions are evaluated in the projection BELOW the generator —
    // once per document — so only two longs (not the tokens array)
    // cross the explode into the aggregate's row buffer. Aggregation
    // values are order-independent (HLL merge, sums), so the result is
    // identical to the former two-job formulation at any layout — and
    // with a single consumer the sample no longer needs a persist.
    // rsd 0.05 (HLL default): the only consumer is the dict-cap gate
    // (65536), where ±5% is ample — rsd 0.01 costs ~3× per update.
    val srow = timed("stats-sample")(sample
      .select(adjPairs.as("ap"),
        greatest(col("n_tok").cast("long") - 1L, lit(0L)).as("pr"),
        posexplode(col("tokens")))
      .select(col("pos"), col("col"), col("ap"), col("pr"))
      .agg(
        approx_count_distinct(col("col"), 0.05).as("td"),
        sum(when(col("pos") === 0, col("ap")).otherwise(lit(0L))).as("adj"),
        sum(when(col("pos") === 0, col("pr")).otherwise(lit(0L))).as("pairs"))
      .head())
    val tokDistinct = srow.getLong(0)
    val adjFrac =
      if (srow.isNullAt(2) || srow.getLong(2) == 0L) 0.0
      else srow.getLong(1).toDouble / srow.getLong(2)

    val fpXor = if (full.isNullAt(10)) 0L else full.getLong(10)
    val fingerprint = Hashing.sha256Hex(
      s"rows=$rows;tokens=$tokensTotal0;" +
        s"tmin=${if (full.isNullAt(5)) 0 else full.getInt(5)};" +
        s"tmax=${if (full.isNullAt(6)) 0 else full.getInt(6)};xor=$fpXor")

    ColumnStats(
      rows = rows,
      tokensTotal = if (full.isNullAt(1)) 0L else full.getLong(1),
      keyNulls = if (full.isNullAt(2)) 0L else full.getLong(2),
      keyMin = if (full.isNullAt(3)) 0L else full.getLong(3),
      keyMax = if (full.isNullAt(4)) 0L else full.getLong(4),
      tokMin = if (full.isNullAt(5)) 0 else full.getInt(5),
      tokMax = if (full.isNullAt(6)) 0 else full.getInt(6),
      tokDistinct = tokDistinct,
      adjRepeatFrac = adjFrac,
      nTokMin = if (full.isNullAt(7)) 0 else full.getInt(7),
      nTokMax = if (full.isNullAt(8)) 0 else full.getInt(8),
      sourceDistinct = full.getLong(9),
      fingerprint = fingerprint)
  }
}
