package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Concat-and-chunk sequence packing — the pretraining shard builder:
  * documents are laid end-to-end in a deterministic order and cut into
  * fixed token-budget packs; each document is assigned to the pack its
  * FIRST token lands in (`pack = floor(tokens_before / budget)`).
  * Downstream, one pack ≈ one training shard/sequence group, and the
  * assignment is reproducible from the data alone.
  *
  * The scale problem is the prefix sum: `sum(tokens) OVER (ORDER BY id)`
  * is a single-task global window — fine at sf0.01, fatal at 100 TB.
  * This uses the [[ExactRank]] shard-edge pattern, generalized from
  * counts to token sums, all-parallel:
  *
  *  1. approx_percentile picks `shards-1` id edges (approximation only
  *     affects shard BALANCE, never the result — shard assignment is a
  *     deterministic pure function of the id);
  *  2. one tiny aggregate sums tokens per shard (`shards` rows) → each
  *     shard's exact global token offset, computed as a lazy window
  *     over the aggregate;
  *  3. a PARTITIONED window accumulates within each shard in id order;
  *     a document's global "tokens before" = shard offset + local
  *     running sum − its own tokens.
  *
  * Reference concept: fixed-context batch packing in LLM data loaders
  * (GPT-style "concatenate then split at context boundaries"), done as
  * a declarative plan instead of a sequential loader loop. */
object Packing {

  private val ShardCol = "_graft_pack_shard"

  /** Per-document pack assignment: adds `pack` (0-based pack id) and
    * `doc_tokens` for each input row. `idCol` must be unique (it makes
    * the concatenation order total). */
  def withPackId(docs: DataFrame, idCol: String, tokens: Column,
                 budget: Long, shards: Int = 32): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val base = docs.withColumn("doc_tokens", tokens.cast("long"))
    val qs = (1 until shards).map(_.toDouble / shards)
    // the operator's ONE driver action: shards-1 approximate id edges,
    // re-inlined as literals so every branch shards identically (see
    // ExactRank on why a lazy sketch subtree would not be safe)
    // try_cast (not cast): a non-numeric id must not throw under ANSI —
    // it yields NULL, and percentile_approx returns NULL (not an empty
    // array) over zero input rows or an all-null cast; treat both as
    // "no edges": a single shard, an empty/zero result (the window
    // below still orders by the raw id, so string ids pack correctly)
    val idNum: Column = col(idCol).try_cast("double")
    val edgeRow = Option(base.agg(
      percentile_approx(idNum, typedlit(qs), lit(1000)))
      .head().getSeq[Double](0)).getOrElse(Seq.empty)
    val shardOf: Column = edgeRow.foldLeft(lit(0)) { (acc, e) =>
      acc + when(idNum > lit(e), 1).otherwise(0)
    }
    val sharded = base.withColumn(ShardCol, shardOf)
    // exact per-shard token totals → global offsets: ≤ `shards` rows to
    // the driver, re-inlined as a literal map (ExactRank's pattern — no
    // unpartitioned window anywhere, bounded driver state)
    val totals = sharded.groupBy(col(ShardCol))
      .agg(sum(col("doc_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ids = totals.keys.toSeq.sorted
    val offsets: Map[Int, Long] =
      ids.zip(ids.scanLeft(0L)((a, s) => a + totals(s)).init).toMap
    val offsetExpr =
      if (offsets.isEmpty) lit(0L)
      else element_at(typedlit(offsets), col(ShardCol))
    // within-shard running sum in id order — parallel across shards
    val wRun = Window.partitionBy(col(ShardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    sharded
      .withColumn("_graft_before",
        offsetExpr + coalesce(sum(col("doc_tokens")).over(wRun), lit(0L)))
      .withColumn("pack",
        floor(col("_graft_before") / lit(budget.toDouble)).cast("long"))
      .drop(ShardCol, "_graft_before")
  }

  /** Pack-level summary: one row per pack — document count, total
    * tokens, and the id span [first_doc, last_doc] it covers. */
  def packShards(docs: DataFrame, idCol: String, tokens: Column,
                 budget: Long, shards: Int = 32): DataFrame =
    withPackId(docs, idCol, tokens, budget, shards)
      .groupBy(col("pack"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_tokens")).as("pack_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))
}
