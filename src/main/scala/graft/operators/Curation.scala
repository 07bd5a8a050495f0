package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Corpus curation operators for LLM-data pipelines (SURVEY.md §2
  * #30l/#30m): selecting WHICH documents make the training mixture
  * once the per-doc signals exist. Deterministic by construction —
  * rankings order by (rounded score, id), so every engine and every
  * re-run picks the same sample.
  */
object Curation {

  /** #30ai deterministic stratified reservoir: exactly `min(k, |stratum|)`
    * rows per stratum, chosen by SMALLEST md5-derived hash of the id
    * (ties by id). Sampling is a pure function of the id — re-runs and
    * backfills keep identical samples, and the md5-hex-prefix hash is
    * engine-portable (the DuckDB oracle replays it bit-for-bit).
    * Scale: the per-group bounded heap ([[Knn.topKByScore]]'s
    * CollectTopK) map-side-combines, so the exchange carries ≤ k rows
    * per stratum per task — never a full window sort of the corpus.
    * The classic alternative (rand() + row_number window) is neither
    * reproducible nor bounded; this is. */
  def stratifiedReservoir(df: DataFrame, stratumCol: String, idCol: String,
                          k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val h = conv(substring(md5(concat(lit("strat:"),
      col(idCol).cast("string"))), 1, 8), 16, 10).cast("long").as("h")
    graft.operators.Knn.topKByScore(
      df.select(col(stratumCol) +: col(idCol) +: Seq(h): _*),
      groupCols = Seq(stratumCol), scoreCol = "h", tieCol = idCol,
      k = k, ascending = true)
  }

  /** #30l token-budget curation: per source, keep the highest-quality
    * docs until a token budget fills — "give me the best N tokens of
    * each source", the selection step between scoring and mixing.
    * Ranking is (quality score rounded to 4 decimals desc, id asc);
    * a doc is kept while the running token total INCLUDING it fits the
    * budget. Returns kept rows (id, source, n_tokens, quality,
    * cum_tokens).
    *
    * Sources are FEW AND LARGE, so a window partitioned by source
    * alone is the textbook serialization case. The prefix sum is
    * computed two-phase instead (the ExactRank sharding recipe applied
    * to sums): per-source approximate quality edges shard each source
    * into ~equal slices monotone in the (quality DESC, id) order;
    * exact per-(source, shard) token totals — a bounded driver table —
    * give each shard its within-source starting offset; a window
    * partitioned by (source, shard) computes the local running sum.
    * `cum_tokens = shard offset + local running sum` is EXACT (the
    * approximate edges only shard), and every stage is parallel across
    * sources × shards. */
  def budgetSample(docs: DataFrame, idCol: String, textCol: String,
                   sourceCol: String, budgetTokens: Long,
                   shards: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    // The (id, source, n_tokens, quality) base is read by THREE actions
    // (edge sketch, shard token sums, the returned frame); left lazy,
    // the text-scoring pipeline upstream re-runs per action — the bulk
    // of this operator's measured cost (sf1: 6.9 s → 3 passes of the
    // composite quality score). localCheckpoint materializes it once —
    // a few narrow columns per doc, the working set any budget
    // selection needs — and the ContextCleaner reclaims it with the
    // frame (the connectedComponents pattern; a persist here would leak
    // for the session since the caller only sees the lazy result).
    val base = docs.select(col(idCol).as("id"), col(sourceCol).as("source"),
      nTokens(col(textCol)).cast("long").as("n_tokens"),
      graft.functions.Rounding.portableRound(
        qualityScore(col(textCol)), 4).as("quality"))
      .localCheckpoint()
    val qs = (1 until shards).map(_.toDouble / shards)
    // accuracy 1000, the ExactRank precedent: the edges only SHARD the
    // data — the output is edge-INDEPENDENT (cum_tokens is the exact
    // global (quality desc, id) prefix sum whatever monotone cut
    // points the sketch returns; ties share a shard either way), so
    // sketch error costs balance, never a row
    val edges = base.groupBy(col("source")).agg(
      percentile_approx(col("quality"), typedlit(qs), lit(1000)).as("_edges"))
    // shard 0 = highest quality: count of edges strictly above the value
    // is monotone non-decreasing as quality falls (ties share a shard)
    val withShard = base.join(broadcast(edges), Seq("source"))
      .withColumn("_shard", graft.functions.expr.ArrayCountCompare.of(
        col("_edges"), col("quality"), countGreater = true))
      .drop("_edges")
    val sums = withShard.groupBy(col("source"), col("_shard"))
      .agg(sum(col("n_tokens")).as("t")).collect()
    require(sums.length <= 65536,
      s"${sums.length} (source, shard) slices — raise shards granularity limits")
    val offRows: Seq[org.apache.spark.sql.Row] =
      sums.groupBy(_.get(0)).toSeq.flatMap { case (g, rows) =>
        val sorted = rows.sortBy(_.getInt(1))
        sorted.map(_.getInt(1))
          .zip(sorted.map(_.getLong(2)).scanLeft(0L)(_ + _).init)
          .map { case (s, off) => org.apache.spark.sql.Row(g, s, off) }
      }
    val offSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source", base.schema("source").dataType),
      org.apache.spark.sql.types.StructField("_shard",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("_off",
        org.apache.spark.sql.types.LongType)))
    val offs = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1), offSchema))
    val wLocal = Window.partitionBy(col("source"), col("_shard"))
      .orderBy(col("quality").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withShard.join(offs, Seq("source", "_shard"))
      .withColumn("cum_tokens", col("_off") + sum(col("n_tokens")).over(wLocal))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("id"), col("source"), col("n_tokens"), col("quality"), col("cum_tokens"))
  }

  /** #30o inverse-size balanced sampling: per-source acceptance rate
    * `min_count / count` flattens the source distribution to ~min_count
    * docs each — the data-DEPENDENT cousin of the fixed-rate
    * corpus_mix, for when the mixture spec is "equal representation"
    * rather than hand-picked rates. Acceptance stays a pure md5
    * hash-bucket function of the id (reproducible across runs,
    * engines, backfills); the per-source counts are a tiny broadcast.
    * One count agg + one narrow filtered scan — no shuffle of the
    * corpus itself. */
  def balancedSample(docs: DataFrame, idCol: String, sourceCol: String): DataFrame = {
    val counts = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("cnt"))
    val minCnt = counts.agg(min(col("cnt")).as("min_cnt"))
    val bucket = (conv(substring(md5(concat(lit("bal:"), col(idCol).cast("string"))), 1, 8), 16, 10)
      .cast("long") % 10000L).as("mix_bucket")
    docs.select(col(idCol).as("id"), col(sourceCol).as("source"), bucket)
      .join(broadcast(counts.withColumnRenamed(sourceCol, "source")), "source")
      .crossJoin(broadcast(minCnt))
      .filter(col("mix_bucket") < col("min_cnt") / col("cnt") * 10000)
      .select(col("id"), col("source"))
  }

  /** #30p deterministic per-group k-sample: the k docs with the
    * smallest md5 rank per group — a uniform-at-random-looking sample
    * that is a pure function of the ids, so every engine, run, and
    * backfill draws the SAME sample (the inspection/eyeball set a
    * pipeline attaches to each source).
    *
    * Two-phase bottom-k (the [[graft.operators.Sketch.kmvQuantiles]]
    * shape): group columns are low-cardinality (sources), so a window
    * partitioned by the group alone would serialize each source's FULL
    * row set into one task. Instead a window over (group, input
    * partition) prunes every task to its local bottom-k — safe under
    * any partitioning, since a globally-bottom-k row is bottom-k
    * wherever it lands — and only groups × partitions × k rows reach
    * the final, bounded per-group rank. */
  def groupSample(docs: DataFrame, idCol: String, groupCol: String,
                  k: Int): DataFrame = {
    val hashed = docs.select(col(idCol).as("id"), col(groupCol).as("grp"),
      md5(concat(lit("samp:"), col(idCol).cast("string"))).as("smp_rank"))
    val wLocal = Window.partitionBy(col("grp"), spark_partition_id())
      .orderBy(col("smp_rank"), col("id"))
    val pruned = hashed.withColumn("_lr", row_number().over(wLocal))
      .filter(col("_lr") <= k).drop("_lr")
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("smp_rank"), col("id"))
    pruned.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id"), col("grp"), col("rank"))
  }

  /** #30m n-gram novelty score: the fraction of a doc's distinct
    * shingles that appear in NO other document — high novelty marks
    * unique content worth keeping, near-zero novelty marks docs that
    * are entirely assembled from corpus-common text (templates, spam,
    * near-dups that slipped band thresholds). Exact integer counts +
    * one final double division, so the score is engine-portable.
    *
    * Scale shape: shingle document frequency rides a count window over
    * the shingle (one exchange, same fusion as the ngram-jaccard df
    * cut — shingle arrays are distinct per doc so count(*) == df),
    * then one groupBy(id) aggregates the flags; only (id, shingle)
    * rows ever shuffle. Returns (id, n_shingles, n_novel, novelty).
    */
  def noveltyScores(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 5): DataFrame = {
    val inv = docs.select(col(idCol).as("id"),
      explode(wordShingles(col(textCol), n)).as("s"))
    inv
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", graft.functions.Rounding.portableRound(
        col("n_novel") / col("n_shingles"), 4))
  }

  /** #30v sliding context windows: per doc, token windows of `win`
    * tokens every `stride` tokens (overlap = win − stride) — the
    * chunking step that turns documents into model context windows
    * with cross-boundary continuity (RAG indexing, long-doc training).
    * Pure narrow fanout: token count → window count → explode →
    * per-window offsets and an md5 digest of the window's text (the
    * digest proves the token slicing is byte-identical cross-engine).
    * No shuffle at all; short docs yield one partial window. Returns
    * (doc_id, n_tokens, win_id, start_tok, win_tokens, win_hash). */
  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
                   win: Int = 128, stride: Int = 96): DataFrame = {
    require(win > 0 && stride > 0 && stride <= win,
      s"need 0 < stride <= win, got win=$win stride=$stride")
    import graft.functions.TextFunctions.tokens
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_win", when(col("n_tokens") <= win, 1L)
        .otherwise(lit(1L) +
          ceil((col("n_tokens") - win).cast("double") / stride).cast("long")))
      .select(col("doc_id"), col("n_tokens"), col("toks"),
        explode(sequence(lit(0L), col("n_win") - 1)).as("win_id"))
      .withColumn("start_tok", col("win_id") * stride)
      .withColumn("win_tokens",
        least(col("start_tok") + win, col("n_tokens")) - col("start_tok"))
      .withColumn("win_hash", md5(concat_ws(" ",
        slice(col("toks"), col("start_tok") + 1, col("win_tokens")))))
      .select(col("doc_id"), col("n_tokens"), col("win_id"),
        col("start_tok"), col("win_tokens"), col("win_hash"))
  }

  /** #30x collocation mining by lift — the phrase-discovery signal a
    * tokenizer/phrase-vocab pipeline runs over the whole corpus. For
    * each adjacent token bigram (a,b): lift = P(a,b)/(P(a)·P(b)) =
    * (n_ab·N)/(n_a·n_b) — the PMI ratio WITHOUT the log, so the score
    * is one double multiply/divide over exact integer counts (no libm
    * call whose low bits differ across engines; ranking by lift is
    * ranking by PMI since log is monotone).
    *
    * Plan: one pass builds unigram counts (total N = their sum — no
    * second scan), one pass builds bigram counts; both collapse
    * map-side. Candidates join unigram counts on the token keys (a
    * shuffle join over the VOCABULARY, not the corpus) and the
    * `minCount` support filter prunes the hapax tail before the join.
    * Top-k is two-phase: per-partition prune to topK, then a global
    * rank over the ≤ partitions×topK survivors (bounded —
    * see [[graft.PlanAudit.bounded]]).
    * Returns (tok_a, tok_b, n_ab, lift, rank), rank <= topK. */
  def tokenLift(docs: DataFrame, textCol: String,
                minCount: Int = 5, topK: Int = 20): DataFrame = {
    val toks = docs.select(tokens(col(textCol)).as("t"))
    val uni = toks.select(explode(col("t")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val tot = uni.agg(sum(col("n")).as("nt"))
    // size >= 2 guard: sequence(0, -1) is a DESCENDING 2-element list,
    // not empty — a 1-token doc would fabricate a phantom bigram
    val bgc = toks.filter(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("t")) - 2),
        i => struct(element_at(col("t"), i + 1).as("a"),
                    element_at(col("t"), i + 2).as("b")))).as("p"))
      .groupBy(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val lifted = bgc
      .join(uni.withColumnsRenamed(Map("tok" -> "tok_a", "n" -> "n_a")), "tok_a")
      .join(uni.withColumnsRenamed(Map("tok" -> "tok_b", "n" -> "n_b")), "tok_b")
      .crossJoin(broadcast(tot))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        graft.functions.Rounding.portableRound(
          (col("n_ab").cast("double") * col("nt").cast("double"))
            / (col("n_a").cast("double") * col("n_b").cast("double")), 4)
          .as("lift"))
    val wLocal = Window.partitionBy(spark_partition_id())
      .orderBy(col("lift").desc, col("tok_a"), col("tok_b"))
    val pruned = lifted.withColumn("_lr", row_number().over(wLocal))
      .filter(col("_lr") <= topK).drop("_lr")
    val w = Window.orderBy(col("lift").desc, col("tok_a"), col("tok_b"))
    pruned.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** #30u BPE merge-pair statistics — the counting step every BPE
    * tokenizer-training iteration repeats, at the scale where it
    * dominates (each merge recounts pairs over the whole corpus).
    * Classic corpus compression first: aggregate to UNIQUE words with
    * frequencies (one groupBy — the corpus shrinks from tokens to
    * vocabulary), then explode each unique word's adjacent character
    * pairs and sum word frequencies per pair. Pair counts collapse
    * map-side (partial agg over a charset² vocabulary), and the final
    * top-k rank runs over that bounded aggregate — all exact integers,
    * deterministic tie-break (count desc, pair asc).
    *
    * This is iteration 1 of BPE (symbols = characters). Later
    * iterations re-run the same plan over re-segmented words — the
    * plan shape is identical, so the gated single iteration is the
    * scale proof. Returns (pair, n_pairs, rank), rank <= topK. */
  def bpePairs(docs: DataFrame, textCol: String, topK: Int = 50): DataFrame = {
    val wc = docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wn"))
    val pairs = wc.select(col("wn"),
      explode(transform(sequence(lit(0), length(col("word")) - 2),
        i => col("word").substr(i + 1, lit(2)))).as("pair"))
    val agg = pairs.groupBy(col("pair")).agg(sum(col("wn")).as("n_pairs"))
    // bounded global window: input is the aggregated pair vocabulary
    // (<= charset^2 rows), not raw data — see PlanAudit.bounded
    val w = Window.orderBy(col("n_pairs").desc, col("pair"))
    agg.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }
}
