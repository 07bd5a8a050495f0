package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.{Curation, Dedup, InvertedIndex, Knn, Sketch}

/** LLM-data-pipeline correctness queries (SURVEY.md §2 #21-32): text
  * analysis, dedup family, ANN. Every query has a DuckDB oracle that
  * replays the same deterministic algorithm in SQL — md5-based hashing
  * (simhash token hashes, hyperplane LSH weights, minhash base hashes)
  * keeps them engine-portable.
  */
object LlmQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def embs(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** #29 — marker stats materialized as their own projection so the
    * argmax when-chain reads array elements; the text is scanned once
    * per row (CollapseProject won't inline a non-cheap expression
    * referenced by every branch of the chain). */
  def textLangid(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), langMarkerStats(col("text")).as("_stats"))
      .select(col("doc_id"), langIdFromStats(col("_stats")).as("lang_pred"))

  /** #30 */
  def textQuality(s: SparkSession, d: String): DataFrame = {
    // portableRound, not round: these are float-derived scores, and
    // round() diverges across engines at decimal ties (see Rounding)
    import graft.functions.Rounding.portableRound
    docs(s, d).select(
      col("doc_id"),
      nTokens(col("text")).as("n_tokens"),
      portableRound(meanTokenLen(col("text")), 4).as("mean_token_len"),
      portableRound(alphaRatio(col("text")), 4).as("alpha_ratio"),
      portableRound(punctRatio(col("text")), 4).as("punct_ratio"),
      portableRound(stopwordRatio(col("text")), 4).as("stopword_ratio"),
      portableRound(qualityScore(col("text")), 4).as("quality"))
  }

  /** #30w Flesch-style readability: all inputs are exact integer
    * counts (words, vowel-group syllables, sentence segments), the
    * score is ONE fixed-shape float expression over them —
    * 206.835 − 1.015·(W/S) − 84.6·(Syl/W) — so both engines compute
    * the same IEEE double and the rounded score gates exactly. */
  def textReadability(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.{nSentences, nSyllables}
    docs(s, d).select(
      col("doc_id"),
      nTokens(col("text")).cast("long").as("n_words"),
      nSentences(col("text")).as("n_sentences"),
      nSyllables(col("text")).as("n_syllables"))
      .withColumn("flesch", graft.functions.Rounding.portableRound(
        lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")),
        4))
  }

  /** #30q unicode normalization pass ([[graft.functions.expr
    * .NormalizeText]], one codegen'd call per row): accent strip + NFC
    * + lowercase + control/whitespace collapse — the pre-dedup cleanup
    * every corpus runs first. The oracle composes DuckDB's
    * strip_accents/nfc_normalize/lower/regexp_replace; the unicode
    * edges where engine libs could disagree are spec-gated on the
    * expression itself (the corpus here is ASCII, where the engines
    * provably agree). */
  def textNormalize(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id"),
      normalizeText(col("text")).as("norm_text"),
      length(normalizeText(col("text"))).as("n_norm_chars"))

  /** #30r vocabulary growth (Heaps-law curve): tokens first seen per
    * ingestion batch + the running vocabulary size — the curve that
    * budgets tokenizer vocab and predicts dedup headroom as a corpus
    * grows. All-integer: batch = doc_id (arrival order; the synthetic
    * corpus' vocabulary saturates within a handful of docs, so finer
    * batches would all be empty), per-token min-batch, count per
    * batch, running sum. The per-token min is the only wide pass; the
    * running sum runs over ≤ #batches rows. */
  def vocabGrowth(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstSeen = docs(s, d)
      .select(col("doc_id").as("batch"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(min(col("batch")).as("batch"))
    firstSeen.groupBy(col("batch")).agg(count(lit(1)).as("new_tokens"))
      .withColumn("vocab_size",
        sum(col("new_tokens")).over(Window.orderBy(col("batch"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** #30s per-source top-k tokens (grouped heavy hitters): one explode
    * + grouped count + two-phase per-group rank. The rank input is
    * already aggregated (source, token) counts, but one source's FULL
    * vocabulary in a single window task is still millions of rows at
    * 100 TB — so a first window over (source, input partition) prunes
    * each task to its local top-k (a globally-top-k token is top-k in
    * whichever partition holds its count row), and the final rank sees
    * ≤ k rows per upstream partition per source. Deterministic
    * tie-break (count desc, token asc) keeps the pick engine-portable. */
  def sourceTopTokens(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
    val wLocal = Window.partitionBy(col("source"), spark_partition_id())
      .orderBy(col("n").desc, col("tok"))
    val pruned = counts.withColumn("_lr", row_number().over(wLocal))
      .filter(col("_lr") <= 3).drop("_lr")
    val w = Window.partitionBy(col("source")).orderBy(col("n").desc, col("tok"))
    pruned.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
  }

  /** #31 */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id"),
      tokenCountWs(col("text")).as("ws_tokens"),
      tokenCountBpe(col("text")).as("bpe_tokens"),
      tokenCountEstimate(col("text")).as("est_tokens"))

  /** #30ah GLOBAL concat-and-chunk packing: unlike #30k's 8 independent
    * pack-group streams, this lays the WHOLE corpus end-to-end in one
    * deterministic doc_id stream and cuts fixed 2048-token packs —
    * exactly via [[graft.operators.Packing]]'s shard-edge distributed
    * prefix sum (no single-task global window; the per-shard offsets
    * are ≤ shards driver rows). */
  def packGlobal(s: SparkSession, d: String): DataFrame =
    graft.operators.Packing.packShards(docs(s, d), "doc_id",
      tokenCountEstimate(col("text")), budget = 2048L)

  /** #32 */
  def docFingerprintQ(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id"),
      docFingerprint(col("text")).as("fingerprint"),
      size(wordShingles(col("text"), 5)).as("n_shingles"))

  /** #30b Gopher-style repetition signals, derived from the integer
    * counts of one RepetitionStats pass (own projection → single text
    * scan per row, like langid). */
  def textRepetition(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), repetitionStats(col("text")).as("_r"))
      .select(col("doc_id"),
        element_at(col("_r"), 1).as("n_tokens"),
        graft.functions.Rounding.portableRound(lit(1.0) - element_at(col("_r"), 2).cast("double") / element_at(col("_r"), 1), 4)
          .as("dup_token_frac"),
        graft.functions.Rounding.portableRound(element_at(col("_r"), 3).cast("double") / element_at(col("_r"), 1), 4)
          .as("top_token_frac"),
        graft.functions.Rounding.portableRound(when(element_at(col("_r"), 4) === 0, lit(0.0))
          .otherwise(element_at(col("_r"), 6).cast("double") / element_at(col("_r"), 4)), 4)
          .as("top_bigram_frac"))

  /** #30c PII masking. The corpus has no natural PII, so deterministic
    * synthetic contact strings are appended per doc (in the oracle too)
    * and then detected + masked — exercising the regexes on real text. */
  def textPii(s: SparkSession, d: String): DataFrame = {
    val aug = concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or +1-555-0"), (col("doc_id") % 100).cast("string"),
      lit(" ip 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
    docs(s, d).select(col("doc_id"),
      regexp_count(aug, lit(EmailRe)).as("n_emails"),
      regexp_count(aug, lit(PhoneRe)).as("n_phones"),
      regexp_count(aug, lit(Ipv4Re)).as("n_ips"),
      maskPii(aug).as("masked"))
  }

  /** #30d deterministic train/val/test split: hash-bucket the doc id
    * into 1000 bins (md5-based so any engine replays the assignment);
    * 98/1/1 split. Narrow, no shuffle — at 100 TB the split is a free
    * column on the scan, stable across runs/engines/backfills. */
  /** #30ai deterministic stratified reservoir: exactly 25 docs per
    * source, chosen by smallest md5-derived hash — reproducible
    * sampling as a pure function of the id, per-group bounded heap
    * (≤ k rows per stratum cross the exchange, never a corpus-wide
    * window sort). The inspection/eval-set sampler a 100 TB corpus
    * needs: stable across runs, engines, and backfills. */
  def sampleStratified(s: SparkSession, d: String): DataFrame =
    graft.operators.Curation.stratifiedReservoir(
      docs(s, d).select(col("doc_id"), col("source")),
      stratumCol = "source", idCol = "doc_id", k = 25)
      .withColumn("rank", col("rank").cast("long"))

  def sampleSplit(s: SparkSession, d: String): DataFrame = {
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 1000L).as("bucket")
    docs(s, d).select(col("doc_id"), bucket)
      .withColumn("split",
        when(col("bucket") < 980, "train")
          .when(col("bucket") < 990, "val")
          .otherwise("test"))
  }

  /** #30g deterministic corpus mixing: per-source acceptance rates (in
    * basis points of 10000) applied via the same md5 hash-bucket trick
    * as [[sampleSplit]] — a narrow filter on the scan, no shuffle, no
    * RNG state, stable across runs/engines/backfills. This is how a
    * training mixture ("50% of src1, 25% of src2, 10% of the tail")
    * is hit reproducibly at 100 TB: acceptance is a pure function of
    * (doc_id), so backfills and re-runs keep identical samples. */
  def corpusMix(s: SparkSession, d: String): DataFrame = {
    val ratesBp: Seq[(String, Int)] = Seq("src0" -> 10000, "src1" -> 5000, "src2" -> 2500)
    val defaultBp = 1000
    val bucket = (conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 10000L).as("mix_bucket")
    val rateBp = ratesBp.foldRight(lit(defaultBp)) { case ((src, bp), acc) =>
      when(col("source") === src, lit(bp)).otherwise(acc)
    }
    docs(s, d).select(col("doc_id"), col("source"), bucket, rateBp.as("rate_bp"))
      .filter(col("mix_bucket") < col("rate_bp"))
  }

  /** #30h corpus-frequency rarity score: mean corpus frequency of a
    * doc's tokens — low means rare/unusual text, a corpus-STATISTICAL
    * quality signal (the other text signals are per-doc local). Two
    * integer aggregates (token occurrence counts; per-doc sum of its
    * tokens' counts) and ONE double division at the end:
    * `(Σ_t cnt_t) / (n_tokens · N_total)`. Integer sums are exact and
    * merge-order-independent, and IEEE division is exactly rounded, so
    * any engine reproduces the score bit-for-bit — no
    * float-accumulation ordering hazard. Shuffles: explode→count by
    * token, join back on token, aggregate by doc. */
  def textRarity(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d).select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total_tokens"))
    tok.join(freq, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cnt")).as("sum_token_cnt"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"), col("sum_token_cnt"),
        graft.functions.Rounding.portableRound(col("sum_token_cnt") / (col("n_tokens") * col("total_tokens")), 8)
          .as("mean_token_freq"))
  }

  /** #30i TF-IDF keyword extraction: top-3 tokens per doc by
    * `tf · N_docs / df` (the log-free tf-idf variant, so the score is
    * one exactly-rounded double division of exact integers —
    * engine-portable), ties broken lexicographically. Shuffle shape:
    * tf agg by (doc, token), df agg by token, join on token, window
    * top-k by doc — the corpus-wide vocabulary never sorts globally. */
  def textKeywords(s: SparkSession, d: String): DataFrame = {
    val nd = docs(s, d).agg(count(lit(1)).as("n_docs"))
    val tok = docs(s, d).select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tok.groupBy(col("token")).agg(count_distinct(col("doc_id")).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(df, "token")
      .crossJoin(broadcast(nd))
      .withColumn("score", graft.functions.Rounding.portableRound((col("tf") * col("n_docs")) / col("df"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"), col("score"))
  }

  /** #30j sequence-length bucketing: assign each doc to a power-of-2
    * token-length bucket and report per-bucket doc/token totals — the
    * histogram a training pipeline uses to pick packing/batching
    * geometry (and to spot truncation loss at a given context length).
    * Narrow per-doc math + one tiny agg. The bucket floor-power-of-2
    * is integer-exact via the binary-string length (`bin`), NOT
    * floor(log2(n)) — float log2 at exact powers of two rounds
    * differently across engines. */
  def lengthBuckets(s: SparkSession, d: String): DataFrame = {
    val n = nTokens(col("text"))
    docs(s, d)
      .select(n.as("n"),
        // 2^k via pow: exact for k ≤ 52 (the double represents it)
        pow(lit(2.0), (length(bin(n)) - 1).cast("double")).cast("long")
          .as("bucket_min_tokens"))
      .groupBy(col("bucket_min_tokens"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"))
      .orderBy(col("bucket_min_tokens"))
  }

  /** #30k concat-and-chunk packing assignment: docs are sharded into
    * deterministic pack groups, concatenated in doc_id order within
    * each group, and chunked at a fixed token budget — each doc learns
    * its training-sequence id, its offset in the concatenated stream,
    * and whether it straddles a chunk boundary (truncation-loss
    * accounting). This is the GPT-style packing layout computed as
    * metadata only: one window cumsum of exact integers per group (the
    * shards are the unit of parallelism at 100 TB — each group's
    * stream is independent). */
  def packChunks(s: SparkSession, d: String, budget: Long = 2048L,
                 shards: Int = 32): DataFrame = {
    // the per-group prefix sum runs two-phase (the ExactRank sharding
    // recipe, as in Curation.budgetSample): pack groups are few and
    // large, so a window partitioned by the group alone would
    // serialize each group's stream into one task. Approximate doc_id
    // edges shard each group monotonically; exact per-(group, shard)
    // token totals give shard offsets; the local window is
    // (group, shard)-partitioned. start_offset stays exact.
    val base = docs(s, d)
      .select(col("doc_id"), (col("doc_id") % 8).as("pack_group"),
        nTokens(col("text")).as("n_tokens"))
    val qs = (1 until shards).map(_.toDouble / shards)
    val edges = base.groupBy(col("pack_group")).agg(
      // double edges for the codegen shard probe; long→double is
      // monotone and edges only shard, so offsets stay exact
      percentile_approx(col("doc_id").cast("double"), typedLit(qs), lit(1000))
        .as("_edges"))
    val withShard = base.join(broadcast(edges), Seq("pack_group"))
      .withColumn("_shard", graft.functions.expr.ArrayCountCompare.of(
        col("_edges"), col("doc_id").cast("double"), countGreater = false))
      .drop("_edges")
    val sums = withShard.groupBy(col("pack_group"), col("_shard"))
      .agg(sum(col("n_tokens")).as("t")).collect()
    val offRows: Seq[org.apache.spark.sql.Row] =
      sums.groupBy(_.get(0)).toSeq.flatMap { case (g, rows) =>
        val sorted = rows.sortBy(_.getInt(1))
        sorted.map(_.getInt(1))
          .zip(sorted.map(_.getLong(2)).scanLeft(0L)(_ + _).init)
          .map { case (sh, off) => org.apache.spark.sql.Row(g, sh, off) }
      }
    val offSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pack_group",
        base.schema("pack_group").dataType),
      org.apache.spark.sql.types.StructField("_shard",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("_off",
        org.apache.spark.sql.types.LongType)))
    val offs = broadcast(s.createDataFrame(
      s.sparkContext.parallelize(offRows, 1), offSchema))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pack_group"), col("_shard")).orderBy(col("doc_id"))
      .rowsBetween(Long.MinValue, -1)
    withShard.join(offs, Seq("pack_group", "_shard"))
      .withColumn("start_offset",
        col("_off") + coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
      .withColumn("seq_id", floor(col("start_offset") / budget).cast("long"))
      .withColumn("crosses_boundary",
        col("start_offset") % budget + col("n_tokens") > budget)
      .select(col("doc_id"), col("pack_group"), col("n_tokens"),
        col("start_offset"), col("seq_id"), col("crosses_boundary"))
  }

  /** #30n exact token-length percentiles (p25/50/75/90/99) by rank
    * selection — `value at row ceil(q·N)` in (length, doc_id) order —
    * NOT an interpolating percentile, so any engine reproduces it
    * bit-for-bit. The corpus-geometry summary behind context-length
    * and packing-budget decisions.
    *
    * Rank selection runs through
    * [[graft.operators.ExactRank.globalRankSelect]]: the five ceil(q·N)
    * target positions are driver arithmetic on the exact total, and
    * only the shards holding a target rank are sorted at all — five
    * probes cost five shard-sorts, not a table-wide ranking. */
  def lengthPercentiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = docs(s, d)
      .select(col("doc_id"), nTokens(col("text")).cast("long").as("n_tokens"))
    val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
    val (sel, n) = graft.operators.ExactRank.globalRankSelect(
      base, "n_tokens", "doc_id", "rn",
      targetsOf = n => qs.map(q => math.ceil(q * n).toLong))
    val targets = qs.map(q => (q, math.ceil(q * n).toLong)).toDF("quantile", "pos")
    targets.join(sel, col("rn") === col("pos"))
      .select(col("quantile"), col("n_tokens"))
      .orderBy(col("quantile"))
  }

  /** #30e corpus token statistics: top-20 tokens by occurrence with
    * document frequency — explode → two-level aggregate (map-side
    * partial agg on the token, then a top-k TakeOrdered; the full
    * vocabulary never sorts globally). */
  def corpusStats(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(20)

  /** #30f composite quality filter: language + length + cleanliness +
    * repetition rules fused into keep/drop with a first-failing-rule
    * reason — the end-to-end training-data filter, one narrow pass. */
  def qualityFilter(s: SparkSession, d: String): DataFrame = {
    val withStats = docs(s, d).select(col("doc_id"),
      langMarkerStats(col("text")).as("_l"),
      repetitionStats(col("text")).as("_r"),
      graft.functions.Rounding.portableRound(alphaRatio(col("text")), 4).as("_alpha"))
    withStats.select(col("doc_id"),
        langIdFromStats(col("_l")).as("lang_pred"),
        element_at(col("_r"), 1).as("n_tokens"),
        graft.functions.Rounding.portableRound(lit(1.0) - element_at(col("_r"), 2).cast("double") / element_at(col("_r"), 1), 4)
          .as("dup_frac"),
        col("_alpha").as("alpha_ratio"))
      .withColumn("reason",
        when(col("lang_pred") =!= "en", "lang")
          .when(col("n_tokens") < 10 || col("n_tokens") > 1000, "length")
          .when(col("alpha_ratio") < 0.45, "alpha")
          .when(col("dup_frac") > 0.3, "repetition")
          .otherwise("ok"))
      .withColumn("keep", col("reason") === "ok")
  }

  /** #35 the end-to-end corpus cleaning pipeline: a document survives
    * iff it (a) passes the composite quality filter, (b) is the
    * canonical copy of its exact-content group, and (c) is not a
    * non-canonical member of a MinHash-LSH near-dup cluster. This is
    * the query a training-data pipeline actually ships: three dedup/
    * filter stages composed as joins against the raw corpus, each
    * stage's intermediate being tiny relative to the corpus. */
  def corpusClean(s: SparkSession, d: String): DataFrame = {
    val docs0 = docs(s, d)
    val qualityPass = qualityFilter(s, d).filter(col("keep")).select("doc_id")
    val exactCanonical = Dedup.exact(docs0, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val clusterDrop = dedupCluster(s, d)
      .filter(!col("is_canonical")).select("doc_id")
    docs0
      .join(qualityPass, "doc_id")
      .join(exactCanonical, "doc_id")
      .join(clusterDrop, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** #35b the FULL curation pipeline — what a training-data team ships
    * end-to-end: a doc makes the mixture iff it (a) passes the quality
    * filter, (b) is its exact-content group's canonical, (c) is not a
    * non-canonical near-dup cluster member, (d) is not an eval doc and
    * shares no 5-gram with the eval set (decontamination), and then
    * (e) wins per-source token-budget selection over the survivors.
    * Five stages, each an operator proven green on its own gate,
    * composed as corpus joins whose intermediates are id-only. */
  def corpusCurate(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val eval = all.filter(col("doc_id") % 17 === 3)
    val train = all.filter(col("doc_id") % 17 =!= 3)
    val decontamKeep = Dedup.decontaminate(train, eval, "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
    val qualityPass = qualityFilter(s, d).filter(col("keep")).select("doc_id")
    val exactCanonical = Dedup.exact(all, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val clusterDrop = dedupCluster(s, d)
      .filter(!col("is_canonical")).select("doc_id")
    // the four filter stages (near-dup clustering and exact dedup are
    // the two most expensive) feed budgetSample, which drives one
    // internal shard-offset action PLUS the returned frame — without a
    // persist the whole four-join lineage recomputes per action.
    // Projected to the 3 columns budgetSample reads; the final mixture
    // is budget-bounded (≤ budget/source), so it computes EAGERLY and
    // the cache drops here instead of leaking for the session lifetime.
    val surviving = all
      .join(qualityPass, "doc_id")
      .join(exactCanonical, "doc_id")
      .join(decontamKeep, "doc_id")
      .join(clusterDrop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"), col("source"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val out = Curation.budgetSample(surviving, "doc_id", "text", "source",
          budgetTokens = 800L)
        .withColumnRenamed("id", "doc_id")
      // eager driver materialization is safe ONLY because the mixture
      // is budget-bounded (≤ budgetTokens rows per source at ≥1
      // token/doc; 800 here). The guard makes that bound load-bearing:
      // a caller cloning this pattern with a cluster-sized token budget
      // fails loudly instead of OOMing the driver.
      val maxEager = 1 << 20
      val rows = out.limit(maxEager + 1).collect()
      if (rows.length > maxEager) throw new IllegalStateException(
        s"corpusCurate: budget mixture exceeds $maxEager rows — too " +
        "large for eager driver materialization; keep the result " +
        "distributed (skip the collect) at this budget")
      s.createDataFrame(
        s.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
    } finally surviving.unpersist(false)
  }

  /** #35c the curation FUNNEL report — per-stage attrition counts for
    * the exact pipeline #35b ships (quality → exact dedup →
    * decontaminate → near-dup clusters → token budget), each stage
    * measured on the previous stage's survivors. This is the
    * observability artifact a data team reviews before committing a
    * mixture: where the documents went, stage by stage, as exact
    * integers. Six global counts (map-side partial aggregates over
    * id-only frames) + one 6-row self-join — the report costs the same
    * operators the pipeline already runs, plus nothing. */
  def corpusFunnel(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val eval = all.filter(col("doc_id") % 17 === 3)
    val train = all.filter(col("doc_id") % 17 =!= 3)
    val qualityPass = qualityFilter(s, d).filter(col("keep")).select("doc_id")
    val exactCanonical = Dedup.exact(all, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val decontamKeep = Dedup.decontaminate(train, eval, "doc_id", "text")
      .withColumnRenamed("id", "doc_id").select("doc_id")
    val clusterDrop = dedupCluster(s, d)
      .filter(!col("is_canonical")).select("doc_id")
    // each stage frame is id-only and feeds BOTH its own count and the
    // next stage's input: persisted, the expensive stage operators
    // (near-dup clustering, exact dedup, decontamination) compute once
    // across the six counting branches instead of once per chained
    // lineage. The report is 5 rows — computed eagerly so every cache
    // drops here (the caller never sees the stage frames, so it could
    // never unpersist them), same pattern as eventsMadOf.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val s1 = all.select("doc_id").join(qualityPass, "doc_id").persist(lvl)
    val s2 = s1.join(exactCanonical, "doc_id").persist(lvl)
    val s3 = s2.join(decontamKeep, "doc_id").persist(lvl)
    val s4 = s3.join(clusterDrop, Seq("doc_id"), "left_anti").persist(lvl)
    try {
      val s5 = Curation.budgetSample(all.join(s4, "doc_id"),
          "doc_id", "text", "source", budgetTokens = 800L)
        .select(col("id").as("doc_id"))
      val stages = Seq("input" -> all.select("doc_id"), "quality" -> s1,
        "exact" -> s2, "decontaminate" -> s3, "near_dup" -> s4, "budget" -> s5)
      val counts = stages.zipWithIndex.map { case ((nm, df0), i) =>
          df0.agg(count(lit(1)).as("n"))
            .select(lit(i.toLong).as("stage_no"), lit(nm).as("stage"), col("n"))
        }.reduce(_ union _)
      val prev = counts.select((col("stage_no") + 1).as("stage_no"),
        col("n").as("n_in"))
      val out = counts.join(prev, "stage_no")
        .select(col("stage_no"), col("stage"), col("n_in"),
          (col("n_in") - col("n")).as("n_removed"), col("n").as("n_out"))
      s.createDataFrame(
        s.sparkContext.parallelize(out.collect().toIndexedSeq, 1), out.schema)
    } finally Seq(s4, s3, s2, s1).foreach(_.unpersist(false))
  }

  /** #36 JSONL ingestion, gate-tested as a roundtrip: the parquet
    * corpus is written out as JSON-lines (the corpus interchange
    * format) and read back through [[graft.sources.Ingest.jsonl]] with
    * an explicit schema + corrupt-line quarantine; the oracle is the
    * identity SELECT, so any parse/type drift in the reader fails the
    * hash. */
  def ingestJsonl(s: SparkSession, d: String): DataFrame = {
    val dir = graft.TempDirs.tempDir("graft-jsonl")
    val src = docs(s, d)
    src.write.mode("overwrite").json(dir)
    graft.sources.Ingest.split(graft.sources.Ingest.jsonl(s, dir, src.schema))._1
  }

  /** #36b CSV ingestion roundtrip, same contract as [[ingestJsonl]]. */
  def ingestCsv(s: SparkSession, d: String): DataFrame = {
    val dir = graft.TempDirs.tempDir("graft-csv")
    val src = docs(s, d)
    src.write.mode("overwrite").option("header", "true").csv(dir)
    graft.sources.Ingest.split(graft.sources.Ingest.csv(s, dir, src.schema))._1
  }

  /** #21 */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(docs(s, d), "doc_id", "text")

  /** #21b incremental (new-batch-vs-seen-corpus) exact dedup. The
    * synthetic corpus has no natural exact dups, so the "incoming
    * batch" is doc_id % 5 == 0 PLUS re-ingested copies of seen docs
    * (doc_id % 7 == 1, re-keyed +1000000) — the latter must all flag
    * is_dup. */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val seen = all.filter(col("doc_id") % 5 =!= 0)
    val reingested = seen.filter(col("doc_id") % 7 === 1)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val incoming = all.filter(col("doc_id") % 5 === 0).unionByName(reingested)
    Dedup.incrementalExact(incoming, seen, "doc_id", "text")
  }

  /** #21f bloom-prefiltered incremental dedup, same cohorts as
    * [[dedupIncremental]] — every re-ingested copy must flag both
    * maybe_seen and is_dup; every definitively-new doc skips the
    * exact join (maybe_seen = false ⇒ is_dup = false). */
  def dedupBloom(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val seen = all.filter(col("doc_id") % 5 =!= 0)
    val reingested = seen.filter(col("doc_id") % 7 === 1)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val incoming = all.filter(col("doc_id") % 5 === 0).unionByName(reingested)
    Dedup.bloomPrefilter(incoming, seen, "doc_id", "text", m = 1 << 16, k = 4)
  }

  /** #37b count-min token-frequency sketch over the corpus: 4 rows ×
    * 1024 columns of occurrence counts — bounded state whatever the
    * vocabulary size. The oracle compares every cell exactly; the
    * point-estimator contract (never underestimates) is spec-gated. */
  def countminSketch(s: SparkSession, d: String): DataFrame =
    operators.Sketch.countMin(
      docs(s, d).select(explode(split(col("text"), " ")).as("tok")),
      "tok", w = 1024, d = 4)

  /** #24 — df cut active (maxDf = 100): at sf0.01 that is any shingle
    * in >20% of the 500 docs; the gated run exercises the same plan
    * shape a web corpus needs (df agg + semi-join before the
    * inverted-index self-join). */
  def dedupNgramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text", n = 5, threshold = 0.5,
      maxDf = 100)

  /** #24c winnowing (MOSS) fingerprint pairs, same df-cut. */
  def dedupWinnow(s: SparkSession, d: String): DataFrame =
    Dedup.winnowPairs(docs(s, d), "doc_id", "text", n = 5, window = 4,
      minShared = 2, maxDf = 100)

  /** #24d incremental winnow: docs with doc_id % 5 == 0 arrive as the
    * delta, the rest are the seen corpus. */
  def dedupIncrementalWinnow(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    Dedup.incrementalWinnow(
      all.filter(col("doc_id") % 5 === 0), all.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", n = 5, window = 4, minShared = 2)
  }

  /** #24b near-subset (containment) pairs, same df-cut, plus the
    * 64-pair output budget the embedding emitters carry (replayed by
    * the oracle; never binds on the gate corpora, but bounds the sf1+
    * replication blowup — the true pair count grows quadratically in a
    * doc's copy count, and an uncapped emitter is output-bound however
    * well the df-cut tames the candidate side). */
  def dedupContainment(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(docs(s, d), "doc_id", "text", n = 5,
      threshold = 0.9, maxDf = 100, maxPairsPerId = 64)

  /** #22c LSH recall report: how much of the EXACT near-dup pair set
    * (inverted-index n-gram Jaccard, no df-cut — the recall
    * cross-check tier) does the banded MinHash-LSH path find? The
    * quality dial of a dedup stack: band geometry trades candidate
    * volume against missed pairs, and this query measures the miss
    * side with exact integer counts (one final division for the
    * recall ratio). LSH pairs post-verify with exact Jaccard, so
    * precision is 1.0 by construction — recall is the open number.
    *
    * Both tiers run on the FIXED AUDIT SAMPLE [[LshRecallAuditPred]]
    * (the [[dedupEmbedding]] pattern): the exact tier is a no-df-cut
    * inverted-index self-join — genuinely quadratic under shingle skew
    * at corpus scale — so past gate scales (where the sample is the
    * whole corpus and the audit is exact) it runs on the bounded,
    * replication-covering sub-corpus. Recall semantics are unchanged
    * on the sample: both tiers see the same docs, and the LSH tier is
    * deliberately UNBUDGETED here — this row measures band geometry's
    * miss rate, not the production output cap. */
  def dedupLshRecall(s: SparkSession, d: String): DataFrame = {
    val sample = docs(s, d).filter(expr(LshRecallAuditPred))
    val exact = Dedup.ngramJaccardPairs(sample, "doc_id", "text",
      n = 5, threshold = 0.5)
    val lsh = Dedup.minhashLshPairs(sample, "doc_id", "text",
      n = 5, numHashes = 16, bands = 4, threshold = 0.5)
    val missed = exact.join(lsh, Seq("id_a", "id_b"), "left_anti")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(lsh.agg(count(lit(1)).as("n_lsh"))))
      .crossJoin(broadcast(missed.agg(count(lit(1)).as("n_missed"))))
      .select(col("n_exact"), col("n_lsh"), col("n_missed"),
        graft.functions.Rounding.portableRound((col("n_exact") - col("n_missed")) / col("n_exact"), 4).as("recall"))
  }

  /** #21c eval decontamination: the "eval set" is doc_id % 17 == 3;
    * training candidates are the rest. A near-dup of an eval doc (and
    * nothing else) must drop. */
  def corpusDecontaminate(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val eval = all.filter(col("doc_id") % 17 === 3)
    val train = all.filter(col("doc_id") % 17 =!= 3)
    Dedup.decontaminate(train, eval, "doc_id", "text", n = 5, minHits = 1)
  }

  /** #21h contamination report over the same train/eval split. */
  def corpusContamination(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val eval = all.filter(col("doc_id") % 17 === 3)
    val train = all.filter(col("doc_id") % 17 =!= 3)
    Dedup.contaminationReport(train, eval, "doc_id", "text", n = 5)
  }

  /** #22b incremental near-dup: incoming batch is doc_id % 5 == 0, the
    * seen corpus is everything else — near-dup pairs in the synthetic
    * corpus are random, so ~2/5 of the pair mass crosses the cohorts
    * and must flag. */
  def dedupIncrementalLsh(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    Dedup.incrementalMinhashLsh(
      all.filter(col("doc_id") % 5 === 0), all.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", n = 5, numHashes = 16, bands = 4, threshold = 0.5)
  }

  /** #22d the store-backed form of #22b: the seen corpus' LSH index
    * (band keys + shingle rows, [[Dedup.lshIndexTables]]) is PERSISTED
    * as two keyed tables, read back, and probed by the delta — the real
    * incremental-ingestion loop, where signatures are computed once per
    * corpus, stored, and reused by every future batch. Output is
    * identical to dedup_incremental_lsh; the gate runs it against the
    * same oracle, so the store round-trip is hash-proven lossless. */
  def dedupIncrementalStore(s: SparkSession, d: String): DataFrame = {
    val wh = graft.TempDirs.tempDir("graft-lshidx-")
    val all = docs(s, d)
    val incoming = all.filter(col("doc_id") % 5 === 0)
    val seen = all.filter(col("doc_id") % 5 =!= 0)
    val (bandRows, shingleRows) = Dedup.lshIndexTables(seen, "doc_id", "text")
    // the two index tables are independent (different dirs, different
    // locks) and both read the checkpointed shingle frame — their
    // creates overlap, so one table's commit tail backfills with the
    // other's write tasks; inParallel joins both, and a failure in one
    // cancels the other
    graft.store.KeyedTable.inParallel(s)(
      graft.store.KeyedTable.toSql(
        bandRows.withColumn("band", col("band").cast("long")),
        wh, "lsh_bands", pk = Seq("id", "band")),
      graft.store.KeyedTable.toSql(shingleRows, wh, "lsh_shingles",
        pk = Seq("id", "shingle")))
    Dedup.incrementalMinhashLshFromIndex(incoming,
      graft.store.KeyedTable.readSql(s, wh, "lsh_bands")
        .withColumn("band", col("band").cast("int")),
      graft.store.KeyedTable.readSql(s, wh, "lsh_shingles"),
      "doc_id", "text")
  }

  /** #22 — both skew dials pinned (and replayed by the oracle):
    * (band,key) bucket cap 64 on the candidate side, plus the 64-pair
    * OUTPUT budget per doc the embedding/containment emitters carry.
    * Neither binds on the gate corpora (25 verified pairs at sf0.01),
    * but under crawl duplication the true pair count grows
    * quadratically in a doc's copy count however well the bucket cap
    * tames candidates — the budget keeps each id_a's strongest pairs
    * (jaccard desc, id_b asc) and bounds the sf1+ replication blowup
    * to a linear slope. */
  def dedupMinhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(docs(s, d), "doc_id", "text",
      n = 5, numHashes = 16, bands = 4, threshold = 0.5,
      maxPairsPerId = 64)

  /** #23 */
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(docs(s, d), "doc_id", "text", bands = 4, maxHamming = 3)

  /** #25 exact (O(n²) broadcast product) — kept as the recall
    * cross-check for the LSH path; the scale path is
    * [[dedupEmbeddingLsh]]. The gate runs it on the FIXED audit sample
    * [[EmbAuditPred]] (the whole corpus at every gate scale, where the
    * bound never binds; at sweep scales the `% 16` arm samples across
    * the full — including replicated — id range): a recall audit is an
    * all-pairs join by definition, so at sweep scales it runs on a
    * bounded sample — the uncapped product over a replicated corpus is
    * exactly the plan the LSH twin exists to avoid. The oracle
    * interpolates the SAME predicate constant, so the two sides cannot
    * drift. */
  def dedupEmbedding(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingPairs(embs(s, d).filter(expr(EmbAuditPred)),
      "vec_id", "embedding", threshold = 0.35, exact = true)

  /** #25 scale path: hyperplane-LSH bucketed candidates (4 seeded
    * tables of 8-bit sign signatures, hamming-1 multi-probe), so the
    * all-pairs product never materializes — the variant that survives
    * 100 TB. The exact twin above doubles as its recall cross-check
    * (OperatorsSpec). */
  def dedupEmbeddingLsh(s: SparkSession, d: String): DataFrame =
    // both skew dials pinned (and replayed by the oracle): bucket cap
    // 32 (core×probe join linear under duplicate skew; overflow star
    // edges keep cliques connected) + a 64-pair output budget per doc
    // (bounded-heap top-k by cos) — the caps never bind on the gate
    // corpora (max bucket 29, max pairs/doc 7 at sf0.1) but bound the
    // sf1+ replication blowup to a linear slope
    Dedup.embeddingPairs(embs(s, d), "vec_id", "embedding",
      threshold = 0.35, exact = false, planes = 8, tables = 4,
      maxBucket = 32, maxPairsPerId = 64)

  /** #25c near-dup clusters: MinHash-LSH pairs → connected components →
    * canonical member per cluster. */
  def dedupCluster(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashLshPairs(docs(s, d), "doc_id", "text",
      n = 5, numHashes = 16, bands = 4, threshold = 0.5)
    Dedup.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"),
        (col("id") === col("cluster_id")).as("is_canonical"))
  }

  /** #25d quality-aware canonical selection: the near-dup clusters of
    * #25c keep their best member instead of their lowest id — join the
    * connected components with the composite quality score and pick,
    * per cluster, argmax (quality desc, doc_id asc) through one
    * min(struct) aggregate (map-side partial, ≤1 candidate per cluster
    * per task — no window, no per-cluster sort serialization). This is
    * the decision a curation pipeline actually wants out of clustering:
    * drop the duplicates, keep the highest-quality copy — "first seen
    * wins" throws away the clean copy whenever the boilerplate-laden
    * one has the lower id. */
  def dedupClusterBest(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Rounding.portableRound
    val comp = Dedup.connectedComponents(
      Dedup.minhashLshPairs(docs(s, d), "doc_id", "text",
        n = 5, numHashes = 16, bands = 4, threshold = 0.5))
    val q = docs(s, d).select(col("doc_id").as("id"),
      portableRound(qualityScore(col("text")), 4).as("quality"))
    val scored = comp.join(q, "id")
    val best = scored.groupBy(col("cluster_id"))
      .agg(min(struct((-col("quality")).as("nq"), col("id").as("i"))).as("_b"))
      .select(col("cluster_id"), col("_b.i").as("canonical_id"))
    scored.join(best, "cluster_id")
      .select(col("id").as("doc_id"), col("cluster_id"), col("quality"),
        col("canonical_id"), (col("id") === col("canonical_id")).as("keep"))
  }

  /** #21i exact repeated-substring spans (W=40 chars, stride 1): the
    * byte ranges a substring-dedup cleaning pass would cut —
    * [[Dedup.duplicateSpans]], the suffix-array-free distributed form
    * of Lee et al. 2021. */
  def dedupSpans(s: SparkSession, d: String): DataFrame =
    Dedup.duplicateSpans(docs(s, d), "doc_id", "text", w = 40)
      .withColumnRenamed("id", "doc_id")

  /** #21j keep-first substring cut: the per-doc removal ledger for
    * corpus-wide duplicated 40-char windows ([[Dedup.duplicateSpansCut]]
    * — canonical occurrence survives, the rest are cut; exact island
    * byte totals + surviving fraction). */
  def dedupSpansCut(s: SparkSession, d: String): DataFrame =
    Dedup.duplicateSpansCut(docs(s, d), "doc_id", "text", w = 40)
      .withColumnRenamed("id", "doc_id")

  /** #25e near-dup cluster-size histogram: sizes of the connected
    * components in log₂ bins (the same integer bin()-length trick as
    * the skew profiler) — the shape check a dedup run reports before
    * anyone trusts it: a healthy corpus shows pairs/triangles, a
    * heavy tail says boilerplate or a broken shingle rule. Two
    * bounded aggregates over the component labels. */
  def dedupClusterSizes(s: SparkSession, d: String): DataFrame =
    Dedup.connectedComponents(
        Dedup.minhashLshPairs(docs(s, d), "doc_id", "text",
          n = 5, numHashes = 16, bands = 4, threshold = 0.5))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(length(bin(col("sz"))).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
        min(col("sz")).as("min_size"), max(col("sz")).as("max_size"))

  /** #21d segment-level corpus dedup: 8-token segments, drop any
    * segment shared by ≥2 docs (maxDf = 1 — the strictest CCNet-style
    * boilerplate rule; at sf0.01 that removes ~9% of segments, all of
    * them near-dup payload). */
  def dedupSegments(s: SparkSession, d: String): DataFrame =
    Dedup.segmentDedupCorpus(docs(s, d), "doc_id", "text", segTokens = 8, maxDf = 1)
      .withColumnRenamed("id", "doc_id")

  /** #21e intra-doc segment dedup at 2-token granularity (the corpus's
    * word-soup docs repeat short spans, not long ones — ~180 of 500
    * docs at sf0.01 have a repeated 2-token segment). */
  def dedupIntradoc(s: SparkSession, d: String): DataFrame =
    Dedup.segmentDedupIntra(docs(s, d), "doc_id", "text", segTokens = 2)
      .withColumnRenamed("id", "doc_id")

  /** #30l token-budget curation: best-quality docs per source until
    * 1000 tokens fill (the corpus carries ~2500 tokens/source at
    * sf0.01, so the budget genuinely selects). */
  def budgetSampleQ(s: SparkSession, d: String): DataFrame =
    Curation.budgetSample(docs(s, d), "doc_id", "text", "source", budgetTokens = 1000L)
      .withColumnRenamed("id", "doc_id")

  /** #30o inverse-size balanced source sampling. The synthetic corpus
    * is perfectly source-balanced, so the gate runs over a
    * deliberately imbalanced subset (src0 keeps all docs, other
    * sources only even ids) — the acceptance rates must then flatten
    * src0 down to the others' size. */
  def corpusBalance(s: SparkSession, d: String): DataFrame =
    Curation.balancedSample(
      docs(s, d).filter(col("source") === "src0" || col("doc_id") % 2 === 0),
      "doc_id", "source")
      .withColumnRenamed("id", "doc_id")

  /** #30p deterministic 5-doc inspection sample per source. */
  def groupSampleQ(s: SparkSession, d: String): DataFrame =
    Curation.groupSample(docs(s, d), "doc_id", "source", k = 5)
      .withColumnsRenamed(Map("id" -> "doc_id", "grp" -> "source"))

  /** #30m per-doc n-gram novelty. */
  def textNovelty(s: SparkSession, d: String): DataFrame =
    Curation.noveltyScores(docs(s, d), "doc_id", "text", n = 5)
      .withColumnRenamed("id", "doc_id")

  /** #30u BPE merge-pair statistics (top adjacent character pairs,
    * unique-word weighted — tokenizer training's hot loop). */
  def bpePairs(s: SparkSession, d: String): DataFrame =
    Curation.bpePairs(docs(s, d), "text", topK = 50)

  /** #30z unigram surprisal scoring — the LM-perplexity proxy with
    * ZERO float logs: each token scores floor(log2(N/c))+1 "bit units"
    * (rare token → high surprise), computed as the BINARY DIGIT COUNT
    * of the integer N div c — the same bin()-length trick the HLL uses
    * for ρ, so the only float op in the query is the final rounded
    * mean. Ranks docs like mean −log₂ p(token) quantized to integers:
    * boilerplate scores low, rare-vocabulary docs high. Corpus counts
    * join on the token (vocabulary-sized shuffle, like tf-idf). */
  def textSurprisal(s: SparkSession, d: String): DataFrame =
    surprisalOf(docs(s, d))

  /** #30aa bigram (conditional) surprisal — the second-order
    * LM-perplexity proxy, float-log-free like #30z: each bigram
    * (w1,w2) scores length(bin(c1 div c12)) "bit units", where c12
    * counts the bigram corpus-wide and c1 counts w1 in bigram-FIRST
    * position — i.e. −log₂ p(w2|w1) quantized to integers. Repetitive
    * boilerplate ("click here to") scores ~1 bit; novel continuations
    * score high — ranking by conditional predictability separates
    * template text from genuine prose where unigram surprisal (#30z)
    * can't (a rare word repeated in a template is unigram-surprising
    * but bigram-predictable). Bigram pairs are built NARROW: the token
    * array zipped against its own tail with array ops — no positional
    * self-join, no per-token window shuffle; the only shuffles are the
    * two count aggregations (vocabulary-bounded, df-style) and the
    * score join back. Docs with <2 tokens report n_bigrams=0 and a
    * NULL mean. */
  def textBigramSurprisal(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), split(col("text"), " ").as("t"))
    val pairs = base.filter(size(col("t")) > 1)
      .withColumn("w1s", slice(col("t"), lit(1), size(col("t")) - 1))
      .withColumn("w2s", slice(col("t"), lit(2), size(col("t")) - 1))
      .select(col("doc_id"), explode(arrays_zip(col("w1s"), col("w2s"))).as("pr"))
      .select(col("doc_id"), col("pr.w1s").as("w1"), col("pr.w2s").as("w2"))
    val c12 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    // floor(double div) == exact integer div while counts < 2^53
    val sur = c12.join(c1, "w1")
      .select(col("w1"), col("w2"),
        length(bin(floor(col("c1") / col("c12")).cast("long"))).cast("long")
          .as("surprise"))
    val perDoc = pairs.join(sur, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("surprise")).as("sum_surprise"))
    base.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_surprise"), lit(0L)).as("sum_surprise"))
      .withColumn("mean_surprise", when(col("n_bigrams") > 0,
        graft.functions.Rounding.portableRound(
          col("sum_surprise").cast("double") / col("n_bigrams").cast("double"), 4)))
  }

  /** #30ab DSIR-lite importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document by how target-like its unigrams read —
    * log p_target(doc) − log p_source(doc) — with the target
    * distribution estimated from the English subset and the source
    * (background) distribution from the whole corpus. Float-log-free
    * like #30z: a token's weight is bits_source − bits_target where
    * bits(tot, c) = length(bin((tot + V) div (c + 1))) — Laplace-
    * smoothed −log₂ p quantized to integer "bit units" — so per-doc
    * sums are exact integers, associative under any partitioning, and
    * the oracle compare is bit-for-bit. Positive weight ⇒ more
    * target-like than background; `keep` is the resampling gate.
    * Plan shape (the [[surprisalOf]] df-skeleton, nothing quadratic):
    * one token explode, two vocabulary-bounded count aggs (target
    * counts LEFT-join the source vocabulary — a token absent from the
    * target smooths to c=0 rather than dropping), one single-row
    * totals cross-join broadcast, one score join back on the token,
    * one per-doc agg. At 100 TB the vocabulary agg is the df-style
    * bounded state; the target-subset scan piggybacks on the same
    * explode (a filter, not a second read). */
  def dsirWeights(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d)
      .select(col("doc_id"), (col("lang") === "en").as("is_tgt"),
        explode(split(col("text"), " ")).as("tok"))
    val counts = tok.groupBy(col("tok")).agg(
      count(lit(1)).as("cs"),
      sum(when(col("is_tgt"), 1L).otherwise(0L)).as("ct"))
    val tots = counts.agg(sum(col("cs")).as("ts"), sum(col("ct")).as("tt"),
      count(lit(1)).as("v"))
    // floor(double div) == exact integer div while counts < 2^53
    def bits(tot: Column, c: Column): Column =
      length(bin(floor((tot + col("v")) / (c + lit(1L))).cast("long"))).cast("long")
    val w = counts.crossJoin(broadcast(tots))
      .select(col("tok"), (bits(col("ts"), col("cs")) - bits(col("tt"), col("ct"))).as("w"))
    tok.join(w, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("weight_bits"))
      .select(col("doc_id"), col("n_tokens"), col("weight_bits"),
        graft.functions.Rounding.portableRound(
          col("weight_bits").cast("double") / col("n_tokens").cast("double"), 4)
          .as("mean_weight"),
        (col("weight_bits") > 0).as("keep"))
  }

  /** #30ac DSIR selection, the resampling half of #30ab: per source,
    * the top-10 most target-like documents by (mean_weight desc,
    * doc_id) — "re-balance every source toward the target
    * distribution", the step DSIR actually ships (score → rank →
    * keep). Selection runs through the bounded-heap top-k aggregate
    * ([[graft.operators.Knn.topKByScore]]), so each source's winners
    * are found map-side — no per-source sort serialization even when
    * one source owns most of the corpus. */
  def corpusDsirSample(s: SparkSession, d: String): DataFrame = {
    val w = dsirWeights(s, d).select(col("doc_id"), col("n_tokens"), col("mean_weight"))
    val scored = w.join(docs(s, d).select(col("doc_id"), col("source")), "doc_id")
    Knn.topKByScore(scored, Seq("source"), "mean_weight", "doc_id", 10)
      .select(col("source"), col("doc_id"), col("rank"),
        col("mean_weight"), col("n_tokens"))
  }

  /** #26b hard-negative mining over the embeddings table: nearest
    * cross-label neighbors for the first 20 vectors (see
    * [[graft.operators.Knn.hardNegatives]]). */
  def annHardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Knn.hardNegatives(e, e.filter(col("vec_id") < 20),
      "vec_id", "embedding", "label", k = 5)
  }

  /** [[textSurprisal]]'s core on an arbitrary (doc_id, text) frame. */
  def surprisalOf(documents: DataFrame): DataFrame = {
    val tok = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val uc = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = uc.agg(sum(col("c")).as("nt"))
    // floor(double div) == exact integer div while counts < 2^53
    val sur = uc.crossJoin(broadcast(tot))
      .select(col("tok"),
        length(bin(floor(col("nt") / col("c")).cast("long"))).cast("long")
          .as("surprise"))
    tok.join(sur, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("surprise")).as("sum_surprise"))
      .withColumn("mean_surprise", graft.functions.Rounding.portableRound(
        col("sum_surprise").cast("double") / col("n_tokens").cast("double"), 4))
      .select("doc_id", "n_tokens", "sum_surprise", "mean_surprise")
  }

  /** #29b windowed language ID / code-switching detection: language-ID
    * each 32-token window (stride 24 — same geometry as
    * `chunk_windows`) and aggregate per doc. Mixed-language documents
    * (translations glued by a crawler, quoted foreign passages) pass a
    * WHOLE-DOC langid yet poison monolingual training mixes — the
    * windowed vote sees them. All narrow until the tiny per-doc
    * aggregate: slicing is array ops, per-window langid is the same
    * native marker-count expression the doc-level query uses.
    * Dominant lang = most windows, ties to the lexicographically
    * smallest (min over (-count, lang) structs — no window needed). */
  def chunkLangid(s: SparkSession, d: String): DataFrame = {
    val win = 32
    val stride = 24
    val wl = docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_win", when(col("n_tokens") <= win, 1L)
        .otherwise(lit(1L) +
          ceil((col("n_tokens") - win).cast("double") / stride).cast("long")))
      .select(col("doc_id"), col("toks"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_win") - 1)).as("win_id"))
      .withColumn("start_tok", col("win_id") * stride)
      .withColumn("win_tokens",
        least(col("start_tok") + win, col("n_tokens")) - col("start_tok"))
      .select(col("doc_id"),
        langId(concat_ws(" ", slice(col("toks"),
          (col("start_tok") + 1).cast("int"), col("win_tokens").cast("int"))))
          .as("lang_pred"))
    val pc = wl.groupBy(col("doc_id"), col("lang_pred"))
      .agg(count(lit(1)).as("c"))
    pc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_windows"),
        count(lit(1)).as("n_langs"),
        min(struct((-col("c")).as("nc"), col("lang_pred").as("l"))).as("_d"))
      .select(col("doc_id"), col("n_windows"), col("n_langs"),
        col("_d.l").as("dominant_lang"),
        (col("n_langs") > 1).as("code_switched"))
  }

  /** #30aa per-doc feature matrix — the "export features for the
    * quality classifier" step that ends a signal pipeline: every
    * narrow per-doc signal (token count, alpha ratio, composite
    * quality, dup-token fraction, language) comes out of ONE text
    * scan/projection; the two corpus-level signals (unigram surprisal,
    * shingle novelty) join on doc_id. One wide row per doc, ready to
    * train on. */
  def docFeatures(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Rounding.portableRound
    val base = docs(s, d).select(col("doc_id"),
        nTokens(col("text")).as("n_tokens"),
        portableRound(alphaRatio(col("text")), 4).as("alpha_ratio"),
        portableRound(qualityScore(col("text")), 4).as("quality"),
        repetitionStats(col("text")).as("_r"),
        langId(col("text")).as("lang_pred"))
      .select(col("doc_id"), col("n_tokens"), col("alpha_ratio"),
        col("quality"),
        portableRound(lit(1.0) -
          element_at(col("_r"), 2).cast("double") / element_at(col("_r"), 1), 4)
          .as("dup_token_frac"),
        col("lang_pred"))
    val sur = surprisalOf(docs(s, d)).select(col("doc_id"), col("mean_surprise"))
    val nov = Curation.noveltyScores(docs(s, d), "doc_id", "text")
      .select(col("id").as("doc_id"), col("novelty"))
    base.join(sur, "doc_id").join(nov, "doc_id")
  }

  /** #30ae greedy maximum-match tokenizer inference: segment every doc
    * against a vocabulary of the corpus' top-50 words plus the 26 ASCII
    * letters ([[graft.functions.TextFunctions.maxMatchTokens]], a
    * native expression running the classic longest-prefix-wins loop
    * per row). Vocabulary selection is one bounded 50-row collect
    * (count desc, word asc — deterministic); the gate pins per-doc
    * token/unk counts and fertility (tokens per word — the tokenizer
    * quality metric a data team actually tracks). Non-letter characters
    * outside the vocab emit `<unk>`, exercising all three match paths
    * (full word, letter fallback, unknown). */
  def textMaxmatch(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Rounding.portableRound
    val topWords = docs(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      // '' (from a run of spaces) must never enter the vocab: a
      // zero-length match would not advance the greedy loop — the
      // oracle's recursive CTE would never terminate on it
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(50)
      .collect().map(_.getString(0)).toSeq // bounded: exactly 50 rows
    val vocab = (topWords ++ ('a' to 'z').map(_.toString)).distinct
    docs(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        maxMatchTokens(col("text"), vocab).as("_t"))
      .select(col("doc_id"), col("n_words"),
        size(col("_t")).cast("long").as("n_tokens"),
        size(filter(col("_t"), t => t === lit("<unk>"))).cast("long").as("n_unk"))
      .withColumn("fertility", portableRound(
        col("n_tokens").cast("double") / col("n_words").cast("double"), 4))
  }

  /** #30ag per-source quality matrix — the "which sources are worth
    * their bytes" governance table: per source, exact doc/kept counts
    * and the keep rate, plus the mean composite quality computed the
    * exact way (per-doc 4-dp quality values cast to DECIMAL, summed
    * order-free, ONE division rounded once — a plain double avg would
    * hash differently per merge order). One pass for the quality
    * projection, one for the filter verdicts, one source-keyed
    * aggregate. */
  def sourceQuality(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Rounding.portableRound
    val dec = org.apache.spark.sql.types.DecimalType(8, 4)
    val q = docs(s, d).select(col("doc_id"), col("source"),
      portableRound(qualityScore(col("text")), 4).cast(dec).as("q"))
    val keep = qualityFilter(s, d).select(col("doc_id"),
      col("keep").cast("int").as("k"))
    q.join(keep, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("k")).cast("long").as("n_kept"),
        sum(col("q")).as("_sq"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        portableRound(col("n_kept").cast("double") / col("n_docs").cast("double"), 4)
          .as("keep_rate"),
        portableRound(col("_sq").cast("double") / col("n_docs").cast("double"), 4)
          .as("mean_quality"))
  }

  /** #30af temperature-scaled source mixture at T = 0.5: allocate a
    * fixed document budget across sources ∝ √n_s — the standard
    * up-weight-the-tail multisource reweighting, at the one
    * temperature whose weight function (sqrt) is a single
    * correctly-rounded IEEE op, keeping the whole plan engine-exact
    * (pow/exp temperatures are libm, not portable). The 6-dp weights
    * sum EXACTLY as decimals, so every share/allocation is one
    * division on identical inputs. One narrow aggregate + a broadcast
    * scalar — nothing scales past the first map-side partial. */
  def corpusTemperature(s: SparkSession, d: String,
                        budgetDocs: Long = 1000L): DataFrame = {
    import graft.functions.Rounding.portableRound
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val n = docs(s, d).groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w", portableRound(sqrt(col("n_docs").cast("double")), 6).cast(dec))
    val tot = n.agg(sum(col("w")).as("tw"))
    n.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        col("w").cast("double").as("weight"),
        portableRound(col("w").cast("double") / col("tw").cast("double"), 6)
          .as("share"),
        portableRound(lit(budgetDocs.toDouble) * col("w").cast("double")
          / col("tw").cast("double"), 2).as("expected_docs"))
  }

  /** #30x bigram collocation mining by lift (support >= 5, top 20). */
  def tokenLift(s: SparkSession, d: String): DataFrame =
    Curation.tokenLift(docs(s, d), "text", minCount = 5, topK = 20)

  /** #21g cross-source duplication matrix (5-gram shingle Jaccard). */
  def sourceOverlap(s: SparkSession, d: String): DataFrame =
    Dedup.sourceOverlap(docs(s, d), "source", "text", n = 5)

  /** #37f theta-sketch source overlap: bounded-state union /
    * intersection / Jaccard estimates per source pair
    * ([[graft.operators.Sketch.thetaOverlap]]) — the k-rows-per-source
    * sketch twin of #21g. Gated oracle-EXACT (the estimator is a pure
    * function of md5 hashes); estimator accuracy against the exact
    * operator is spec-bounded instead (OperatorsSpec). */
  def sketchSetops(s: SparkSession, d: String): DataFrame =
    Sketch.thetaOverlap(docs(s, d), "source", "text", n = 5, k = 128)

  /** #30y exact phrase search over the positional inverted index. The
    * gated phrase is two distinct common corpus tokens, so both the
    * hit set and the position list are non-trivial at every SF. */
  def phraseSearch(s: SparkSession, d: String): DataFrame =
    InvertedIndex.phraseSearch(docs(s, d), "doc_id", "text",
      Seq("merge", "join"))

  /** #30v sliding context windows (32-token windows, stride 24 — sized
    * so the synthetic corpus actually exercises the multi-window
    * stride path; production would use model-context-sized wins). */
  def chunkWindows(s: SparkSession, d: String): DataFrame =
    Curation.chunkWindows(docs(s, d), "doc_id", "text",
      win = 32, stride = 24)

  /** #27c per-label embedding centroids. */
  def embeddingCentroids(s: SparkSession, d: String): DataFrame =
    Knn.centroids(embs(s, d), "label", "embedding")

  /** #27d int8 scalar quantization of the embeddings table. */
  def embeddingQuantize(s: SparkSession, d: String): DataFrame =
    Knn.quantizeInt8(embs(s, d), "vec_id", "embedding")

  /** #27f per-dimension whitening (z-score normalization) of the
    * embedding table — the standard preprocessing before cosine/PQ
    * indexing when dimensions carry unequal variance. Engine-exact:
    * per-dim Σx and Σx² are exact decimal sums (order-free), the
    * variance numerator n·Σx² − (Σx)² stays exact decimal, and each
    * output is three IEEE ops (subtract, sqrt, divide) on identical
    * doubles, portable-rounded once. One narrow explode + one dim-keyed
    * aggregate; the stats frame is dim rows, broadcast back onto the
    * fanout. */
  def embeddingWhiten(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Rounding.portableRound
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val el = embs(s, d).select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("xf").cast("double").cast(dec).as("x"))
    val stats = el.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("dim"),
        (col("sx").cast("double") / col("n").cast("double")).as("mu"),
        (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          / col("n").cast("double")).as("sigma"))
    el.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        portableRound((col("x").cast("double") - col("mu")) / col("sigma"), 4)
          .as("z"))
  }

  /** #27e top singular direction via distributed exact-decimal Gram +
    * 40 rounds of driver power iteration ([[Knn.topSingularVector]]) —
    * every loading and the eigenvalue estimate hash engine-exact. 40
    * rounds because the synthetic embeddings are near-isotropic (top
    * eigenvalues 14.4 vs 13.5); each round is an O(dim²) driver matvec,
    * independent of corpus size. */
  def embeddingPowerIteration(s: SparkSession, d: String): DataFrame =
    Knn.topSingularVector(embs(s, d), "embedding", dim = 64, iters = 40)

  /** #26 */
  def annBruteforce(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Knn.bruteForce(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
  }

  /** #27 */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Knn.lsh(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
  }

  /** #27b */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Knn.ivf(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, cells = 16, nprobe = 4)
  }

  /** #27j persisted IVF index (the ANN twin of #22d's persisted LSH
    * index): the cell assignment AND the centroids round-trip the
    * keyed store — built once per corpus (one narrow argmax pass + two
    * bucketed writes), read back, probed by the query batch. Gated on
    * the SAME oracle as `ann_ivf`: the store round-trip is hash-proven
    * lossless. */
  def annIvfPersisted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wh = graft.TempDirs.tempDir("graft-ivfidx-")
    val e = embs(s, d)
    val cents = Knn.seedCentroids(e, "vec_id", "embedding", 16)
    val assigned = e.select(col("vec_id").as("id"), col("embedding").as("vec"),
      element_at(Knn.nearestCells(cents, col("embedding"), 1), 1).as("cell"))
    graft.store.KeyedTable.toSql(assigned, wh, "ivf_index", pk = Seq("id"))
    graft.store.KeyedTable.toSql(
      cents.toSeq.map { case (cid, v) => (cid, v) }.toDF("cell", "vec"),
      wh, "ivf_centroids", pk = Seq("cell"))
    // read BOTH halves back: queries never touch the in-memory build
    val backCents = graft.store.KeyedTable.readSql(s, wh, "ivf_centroids")
      .select("cell", "vec").collect() // bounded: exactly `cells` rows
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    Knn.ivfProbe(graft.store.KeyedTable.readSql(s, wh, "ivf_index"),
      backCents, e.filter(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, nprobe = 4)
  }

  /** #30t BM25 retrieval over the corpus — the keyword-search half of
    * a data-curation stack (find documents about X at 100 TB). Inverted
    * index shape: tf per (doc, token), df per query term, document
    * lengths — all EXACT integer aggregates; per-term scores use the
    * log-free BM25 idf `(N-df+0.5)/(df+0.5)` (same family as the
    * repo's log-free tf-idf, #30i) with identical IEEE expression shape
    * on both engines, then each term score is pinned to DECIMAL(28,10)
    * so the per-document SUM is exact and merge-order-independent —
    * the float-accumulation hazard never reaches a hash. Ranking sorts
    * the exact decimal, ties by doc_id. Shuffles: tf agg, dl agg, one
    * doc_id join; query terms and df ride as broadcasts. */
  def bm25Search(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    import s.implicits._
    val qs = Seq((1L, "spark"), (1L, "join"), (1L, "merge"),
                 (2L, "window"), (2L, "hash"), (2L, "scan"),
                 (3L, "stream"), (3L, "batch")).toDF("query_id", "term")
    val tok = docs(s, d).select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tot = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val terms = qs.select(col("term")).distinct()
    val dft = tf.join(broadcast(terms), col("token") === col("term")).drop("term")
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val avgdl = col("total_tokens").cast("double") / col("n_docs")
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val tfn = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / avgdl))
    val perTerm = tf.join(broadcast(qs), col("token") === col("term"))
      .join(broadcast(dft), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .select(col("query_id"), col("doc_id"),
        (idf * tfn).cast("decimal(28,10)").as("s"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("s_exact").desc, col("doc_id"))
    perTerm.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s")).as("s_exact"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        round(col("s_exact"), 4).cast("double").as("score"), col("rank"))
  }

  /** #21g document STITCH detection: pairs where one doc's last K
    * chars equal another's first K — the signature of a crawl shard
    * splitting one page into two "documents". The affixes hash to
    * 16-byte keys and the detection is one equi-join on the digest
    * (digest-only shuffle, no text movement, nothing all-pairs) — the
    * same scale shape as exact dedup, aimed at a different defect.
    * The synthetic corpus has no natural splits, so deterministic
    * continuation docs are fabricated from every 10th doc's tail (in
    * the oracle too), exercising the join on real text. */
  def docStitch(s: SparkSession, d: String, k: Int = 64): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= k)
    val tailExpr = col("text").substr(length(col("text")) - (k - 1), lit(k))
    val cont = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(tailExpr, lit(" continued "), md5(col("text"))).as("text"))
    val corpus = base.unionByName(cont)
    val tails = corpus.select(col("doc_id").as("src_doc"),
      md5(col("text").substr(length(col("text")) - (k - 1), lit(k))).as("affix"))
    val heads = corpus.select(col("doc_id").as("cont_doc"),
      md5(col("text").substr(lit(1), lit(k))).as("affix"))
    tails.join(heads, "affix")
      .filter(col("src_doc") =!= col("cont_doc"))
      .select(col("src_doc"), col("cont_doc"), col("affix"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_stitch" -> ((s: SparkSession, d: String) => docStitch(s, d)),
    "bm25_search" -> ((s: SparkSession, d: String) => bm25Search(s, d)),
    "text_langid" -> textLangid,
    "text_quality" -> textQuality,
    "text_normalize" -> textNormalize,
    "vocab_growth" -> vocabGrowth,
    "source_top_tokens" -> sourceTopTokens,
    "text_repetition" -> textRepetition,
    "text_pii" -> textPii,
    "sample_split" -> sampleSplit,
    "sample_stratified" -> sampleStratified,
    "text_rarity" -> textRarity,
    "text_keywords" -> textKeywords,
    "length_buckets" -> lengthBuckets,
    "length_percentiles" -> lengthPercentiles,
    "pack_chunks" -> ((s: SparkSession, d: String) => packChunks(s, d)),
    "pack_global" -> packGlobal,
    "corpus_stats" -> corpusStats,
    "quality_filter" -> qualityFilter,
    "token_count" -> tokenCount,
    "doc_fingerprint" -> docFingerprintQ,
    "dedup_exact" -> dedupExact,
    "dedup_incremental" -> dedupIncremental,
    "dedup_bloom" -> dedupBloom,
    "countmin_sketch" -> countminSketch,
    "corpus_decontaminate" -> corpusDecontaminate,
    "corpus_contamination" -> corpusContamination,
    "corpus_mix" -> corpusMix,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_containment" -> dedupContainment,
    "dedup_winnow" -> dedupWinnow,
    "dedup_incremental_winnow" -> dedupIncrementalWinnow,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_lsh_recall" -> dedupLshRecall,
    "dedup_incremental_lsh" -> dedupIncrementalLsh,
    "dedup_incremental_store" -> dedupIncrementalStore,
    "dedup_simhash" -> dedupSimhash,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_embedding_lsh" -> dedupEmbeddingLsh,
    "dedup_embedding_incremental" -> ((s: SparkSession, d: String) => {
      val e = embs(s, d)
      Dedup.incrementalEmbeddingLsh(
        e.filter(col("vec_id") % 5 === 0), e.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", threshold = 0.35, maxBucket = 32)
    }),
    "dedup_cluster" -> dedupCluster,
    "dedup_cluster_best" -> dedupClusterBest,
    "dedup_cluster_sizes" -> dedupClusterSizes,
    "dedup_spans" -> dedupSpans,
    "dedup_spans_cut" -> dedupSpansCut,
    "dedup_semantic" -> ((s: SparkSession, d: String) =>
      Dedup.semanticAuto(embs(s, d), "vec_id", "embedding",
        targetClusterSize = 64, threshold = 0.35)),
    "embedding_outliers" -> ((s: SparkSession, d: String) =>
      Knn.centroidOutliers(embs(s, d), "vec_id", "embedding",
        cells = 16, threshold = 0.12)),
    "embedding_kmeans" -> ((s: SparkSession, d: String) =>
      Knn.kmeansRefine(embs(s, d), "vec_id", "embedding", cells = 16)),
    "dedup_segments" -> dedupSegments,
    "dedup_intradoc" -> dedupIntradoc,
    "budget_sample" -> budgetSampleQ,
    "text_novelty" -> textNovelty,
    "bpe_pairs" -> bpePairs,
    "token_lift" -> tokenLift,
    "text_maxmatch" -> textMaxmatch,
    "corpus_temperature" -> ((s: SparkSession, d: String) =>
      corpusTemperature(s, d)),
    "source_quality" -> sourceQuality,
    "text_surprisal" -> textSurprisal,
    "text_bigram_surprisal" -> textBigramSurprisal,
    "dsir_weights" -> dsirWeights,
    "corpus_dsir_sample" -> corpusDsirSample,
    "ann_hard_negatives" -> annHardNegatives,
    "chunk_langid" -> chunkLangid,
    "doc_features" -> docFeatures,
    "source_overlap" -> sourceOverlap,
    "sketch_setops" -> sketchSetops,
    "phrase_search" -> phraseSearch,
    "chunk_windows" -> chunkWindows,
    "text_readability" -> textReadability,
    "corpus_balance" -> corpusBalance,
    "group_sample" -> groupSampleQ,
    "ann_bruteforce" -> annBruteforce,
    "embedding_centroids" -> embeddingCentroids,
    "embedding_quantize" -> embeddingQuantize,
    "embedding_power_iteration" -> embeddingPowerIteration,
    "embedding_whiten" -> embeddingWhiten,
    "embedding_project" -> ((s: SparkSession, d: String) =>
      Knn.projectTopComponent(embs(s, d), "vec_id", "embedding",
        dim = 64, iters = 40)),
    "embedding_pq" -> ((s: SparkSession, d: String) =>
      Knn.pqEncode(embs(s, d), "vec_id", "embedding")),
    "ann_pq" -> ((s: SparkSession, d: String) => {
      val e = embs(s, d)
      Knn.pqSearch(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
    }),
    "ann_ivfadc" -> ((s: SparkSession, d: String) => {
      val e = embs(s, d)
      Knn.ivfAdcSearch(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
    }),
    "ann_lsh" -> annLsh,
    "ann_ivf" -> annIvf,
    "ann_ivf_persisted" -> annIvfPersisted,
    // the trained-index composition: one Lloyd step refines the coarse
    // quantizer, then the SAME ivf machinery probes the refined cells
    "ann_ivf_refined" -> ((s: SparkSession, d: String) => {
      val e = embs(s, d)
      val cents = Knn.kmeansCentroids(e, "vec_id", "embedding",
        cells = 16, iters = 1)
      Knn.ivf(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
        k = 5, cells = 16, nprobe = 4, centroids = Some(cents))
    }),
    "corpus_clean" -> corpusClean,
    "corpus_curate" -> corpusCurate,
    "corpus_funnel" -> corpusFunnel,
    "ingest_jsonl" -> ingestJsonl,
    "ingest_csv" -> ingestCsv,
  )

  /** Fixed audit-sample predicates, shared VERBATIM by the Spark query
    * (via `expr(...)`) and the DuckDB oracle (string-interpolated) so
    * the two can never drift. A recall/exact audit is an all-pairs (or
    * no-df-cut inverted-index) join by definition, so at sweep scales
    * it must run on a bounded sub-corpus; the predicate's two arms keep
    * it honest at both ends: the `< N` arm covers the ENTIRE corpus at
    * gate scales (ids 0..499 at sf0.001/sf0.01; the audit is exact
    * there), and the `% K` arm samples uniformly across the FULL id
    * range at sweep scales, so the key-shifted replicated region —
    * exactly where LSH recall under duplication is most at risk — is
    * exercised rather than silently excluded. */
  private[graft] val EmbAuditPred = "vec_id < 2000 OR vec_id % 16 = 0"
  private[graft] val LshRecallAuditPred = "doc_id < 1000 OR doc_id % 8 = 0"

  // Shared oracle fragments (DuckDB dialect). `where` restricts the
  // document sub-corpus (audit sampling); "TRUE" = whole corpus.
  private def shingleCteFor(where: String) = s"""
    d AS (SELECT doc_id, string_split(text, ' ') w FROM documents WHERE $where),
    sh AS (SELECT doc_id,
      list_distinct(CASE WHEN len(w) >= 5
        THEN list_transform(range(len(w)-4), i -> array_to_string(w[i+1:i+5], ' '))
        ELSE [array_to_string(w, ' ')] END) AS sset
      FROM d)"""
  private val shingleCte = shingleCteFor("TRUE")

  private val cosCte = """
    e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)"""

  /** MinHash-LSH verified-pair CTE chain (shared by dedup_minhash_lsh
    * and dedup_cluster): same hash family as
    * TextFunctions.minhashFromBase — base 32-bit hash from the md5-hex
    * prefix, then h_i(x) = ((2i+3)x + 7919i) % p. */
  private def minhashCtesFor(where: String) = s"""${shingleCteFor(where)},
      sig AS (SELECT doc_id, sset,
        list_transform(range(16), i -> list_min(list_transform(sset,
          s -> ((2*i+3) * ('0x' || substr(md5(s), 1, 8))::BIGINT + 7919*i) % 1000000007))) mh
        FROM sh),
      bandkeys AS (SELECT doc_id, t.b band,
        array_to_string(mh[t.b*4+1 : t.b*4+4], '|') bkey
        FROM sig, (SELECT unnest(range(4)) b) t),
      cand AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
        FROM bandkeys a JOIN bandkeys b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      j AS (SELECT id_a, id_b,
        floor((len(list_intersect(sa.sset, sb.sset)) /
              (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)))) * 10000 + 0.5) / 10000 jaccard
        FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)"""
  private lazy val minhashCtes = minhashCtesFor("TRUE")

  private def cos(a: String, b: String) =
    s"list_dot_product($a,$b)/(sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b)))"

  /** Oracle for [[graft.operators.Knn.topSingularVector]] with `iters`
    * unrolled rounds: exact-decimal Gram, then per round wNx (exact
    * matvec) → wN (portable 6-dp round) → nN (sqrt of exact sum of
    * squares) → vN (portable-rounded normalize). Mirrors the driver
    * loop step for step. */
  private def powerIterationSql(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      // MATERIALIZED stops DuckDB's CTE inlining: without it each round
      // inlines the previous one several times over and the plan (and
      // file-open count) grows exponentially with the round count
      val wx =
        if (t == 1)
          s"w${t}x AS (SELECT i, sum(gv * CAST(1 AS DECIMAL(8,6))) AS wx FROM g GROUP BY i)"
        else
          s"w${t}x AS (SELECT g.i, sum(g.gv * v${t - 1}.v) AS wx FROM g JOIN v${t - 1} ON v${t - 1}.i = g.j GROUP BY 1)"
      val w = s"w$t AS MATERIALIZED (SELECT i, CAST(floor(wx::DOUBLE * 1000000 + 0.5) / 1000000 AS DECIMAL(12,6)) AS w FROM w${t}x)"
      val n = s"n$t AS (SELECT sqrt(sum(w * w)::DOUBLE) AS lam FROM w$t)"
      val v =
        if (t < iters)
          s"v$t AS MATERIALIZED (SELECT i, CAST(floor((w::DOUBLE / (SELECT lam FROM n$t)) * 1000000 + 0.5) / 1000000 AS DECIMAL(8,6)) AS v FROM w$t)"
        else
          s"v$t AS (SELECT i, floor((w::DOUBLE / (SELECT lam FROM n$t)) * 1000000 + 0.5) / 1000000 AS v FROM w$t)"
      Seq(wx, w, n, v).mkString(",\n      ")
    }.mkString(",\n      ")
    s"""
      WITH $powerIterationPrefix,
      $rounds
      SELECT i::BIGINT AS dim, v AS loading,
             (SELECT floor(lam * 10000 + 0.5) / 10000 FROM n$iters) AS lambda
      FROM v$iters""".trim
  }

  /** Shared el/g0/g prologue for the power-iteration oracles. */
  private val powerIterationPrefix: String = """el AS MATERIALIZED (SELECT vec_id, t.i,
                    CAST(embedding[t.i + 1]::DOUBLE AS DECIMAL(18,6)) x
                  FROM embeddings, (SELECT unnest(range(64)) i) t),
      g0 AS (SELECT a.i, b.i AS j, sum(a.x * b.x) AS gs
             FROM el a JOIN el b ON a.vec_id = b.vec_id
             GROUP BY 1, 2),
      g AS MATERIALIZED (SELECT i, j, CAST(gs AS DECIMAL(20,12)) AS gv FROM g0)"""

  /** The projection oracle: the same 40 rounds, then every vector's
    * exact-decimal dot with the final direction. */
  private def powerProjectionSql(iters: Int): String = {
    val body = powerIterationSql(iters)
    // reuse the full query's CTE chain by swapping the final SELECT
    val marker = s"SELECT i::BIGINT AS dim"
    val prefix = body.substring(0, body.lastIndexOf(marker)).trim
    s"""$prefix,
      proj AS (SELECT e.vec_id, sum(e.x * CAST(vv.v AS DECIMAL(8,6))) s
               FROM el e JOIN v$iters vv ON vv.i = e.i GROUP BY 1)
      SELECT vec_id, floor(s::DOUBLE * 10000 + 0.5) / 10000 AS score
      FROM proj""".trim
  }

  private val enList = LangMarkers.head._2.map(w => s"'$w'").mkString(", ")

  /** Per-language marker-count projections over a `toks` list column. */
  private val langScoresSql = LangMarkers.map { case (l, m) =>
    s"len(list_filter(toks, x -> x IN (${m.map(w => s"'$w'").mkString(", ")}))) AS s_$l"
  }.mkString(",\n        ")

  /** argmax CASE over s_en/s_es/s_fr/s_de + cjk, mirroring langIdDecide. */
  private val langCaseSql = """
        CASE WHEN cjk THEN 'zh'
             WHEN s_en + s_es + s_fr + s_de = 0 THEN 'und'
             WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
             WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
             WHEN s_fr >= s_de THEN 'fr'
             ELSE 'de' END"""

  /** Quality-filter CTE chain ending in `qr` (doc_id, lang_pred,
    * n_tokens, dup_frac, alpha_ratio, reason) — shared by
    * quality_filter and corpus_clean. */
  private lazy val qualityCtes = s"""qt AS (SELECT doc_id, text, string_split(text, ' ') toks,
                   length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 AS cjk
                 FROM documents),
      qs AS (SELECT doc_id, cjk, $langScoresSql,
              len(toks) nt, len(list_distinct(toks)) nd,
              floor((length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text)) * 10000 + 0.5) / 10000 alpha
            FROM qt),
      qm AS (SELECT doc_id, $langCaseSql AS lang_pred,
              nt AS n_tokens, floor((1.0 - nd::DOUBLE / nt) * 10000 + 0.5) / 10000 AS dup_frac,
              alpha AS alpha_ratio
            FROM qs),
      qr AS (SELECT *,
              CASE WHEN lang_pred != 'en' THEN 'lang'
                   WHEN n_tokens < 10 OR n_tokens > 1000 THEN 'length'
                   WHEN alpha_ratio < 0.45 THEN 'alpha'
                   WHEN dup_frac > 0.3 THEN 'repetition'
                   ELSE 'ok' END AS reason
            FROM qm)"""

  lazy val oracles: Map[String, String] = {
    val base = oraclesHead ++ oraclesTail
    // #27j gates on the identical SQL as the rebuild-every-time form:
    // the persisted index's store round-trip must be lossless
    base + ("ann_ivf_persisted" -> base("ann_ivf"))
  }

  private lazy val oraclesHead: Map[String, String] = Map(
    // PQ codes: same codebook (16 lowest-id vectors), same per-subspace
    // squared distance rounded to 6 before the argmin, ties → lowest code
    "embedding_pq" -> """
      WITH cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
                         embedding AS cv
                  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
      j AS (SELECT unnest(range(8)) AS subspace),
      d AS (SELECT e.vec_id, j.subspace, cb.code,
              floor((list_sum(list_transform(range(1, 9), i ->
                (CAST(e.embedding[j.subspace*8 + i] AS DOUBLE)
                   - CAST(cb.cv[j.subspace*8 + i] AS DOUBLE))
                * (CAST(e.embedding[j.subspace*8 + i] AS DOUBLE)
                   - CAST(cb.cv[j.subspace*8 + i] AS DOUBLE))))) * 1000000 + 0.5) / 1000000 AS dist
            FROM embeddings e CROSS JOIN j CROSS JOIN cb),
      r AS (SELECT vec_id, subspace, code,
              row_number() OVER (PARTITION BY vec_id, subspace
                                 ORDER BY dist, code) AS rn
            FROM d)
      SELECT vec_id, CAST(subspace AS BIGINT) AS subspace,
             CAST(code AS INT) AS code
      FROM r WHERE rn = 1""".trim,
    // ADC over the PQ codes: same codebook + distance math as
    // embedding_pq; table entries pinned to DECIMAL(20,6) so the
    // per-candidate sum is exact on both engines
    "ann_pq" -> """
      WITH cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
                         embedding AS cv
                  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
      j AS (SELECT unnest(range(8)) AS subspace),
      d0 AS (SELECT e.vec_id, j.subspace, cb.code,
               floor((list_sum(list_transform(range(1, 9), i ->
                 (CAST(e.embedding[j.subspace*8 + i] AS DOUBLE)
                    - CAST(cb.cv[j.subspace*8 + i] AS DOUBLE))
                 * (CAST(e.embedding[j.subspace*8 + i] AS DOUBLE)
                    - CAST(cb.cv[j.subspace*8 + i] AS DOUBLE))))) * 1000000 + 0.5) / 1000000 AS dist
             FROM embeddings e CROSS JOIN j CROSS JOIN cb),
      codes AS (SELECT vec_id, subspace, code FROM (
                  SELECT vec_id, subspace, code,
                         row_number() OVER (PARTITION BY vec_id, subspace
                                            ORDER BY dist, code) AS rn
                  FROM d0) WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id < 20),
      dtab AS (SELECT q.query_id, j.subspace, cb.code,
                 CAST(floor((list_sum(list_transform(range(1, 9), i ->
                   (CAST(q.qv[j.subspace*8 + i] AS DOUBLE)
                      - CAST(cb.cv[j.subspace*8 + i] AS DOUBLE))
                   * (CAST(q.qv[j.subspace*8 + i] AS DOUBLE)
                      - CAST(cb.cv[j.subspace*8 + i] AS DOUBLE))))) * 1000000 + 0.5) / 1000000
                   AS DECIMAL(20,6)) AS d2
               FROM q CROSS JOIN j CROSS JOIN cb),
      sc AS (SELECT d.query_id, c.vec_id AS neighbor_id, sum(d.d2) AS adc
             FROM codes c JOIN dtab d
               ON d.subspace = c.subspace AND d.code = c.code
             WHERE d.query_id <> c.vec_id
             GROUP BY 1, 2),
      r AS (SELECT query_id, neighbor_id, adc,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc, neighbor_id) AS rank
            FROM sc)
      SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
             round(adc, 6)::DOUBLE AS adc_dist
      FROM r WHERE rank <= 5""".trim,
    // IVFADC: the ann_ivf cell-assignment chain + residuals + the PQ
    // argmin/ADC chains over residual codebooks; same determinism kit
    "ann_ivfadc" -> s"""
      WITH $cosCte,
      cents AS (SELECT vec_id cid, v cv FROM e ORDER BY vec_id LIMIT 16),
      sims AS (SELECT e.vec_id, c.cid, ${cos("e.v", "c.cv")} sim FROM e CROSS JOIN cents c),
      assign AS (SELECT vec_id, cid FROM
                   (SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) rn
                    FROM sims) WHERE rn = 1),
      probes AS (SELECT vec_id query_id, cid FROM
                   (SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) rn
                    FROM sims WHERE vec_id < 20) WHERE rn <= 4),
      resid AS (SELECT e.vec_id, a.cid,
                  list_transform(range(1, 65), i -> e.v[i] - c.cv[i]) r
                FROM e JOIN assign a ON a.vec_id = e.vec_id
                       JOIN cents c ON c.cid = a.cid),
      rcb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, r AS cb
              FROM (SELECT vec_id, r FROM resid ORDER BY vec_id LIMIT 128)),
      j AS (SELECT unnest(range(32)) AS subspace),
      cd AS (SELECT resid.vec_id, resid.cid, j.subspace, rcb.code,
               floor((list_sum(list_transform(range(1, 3), i ->
                 (resid.r[j.subspace*2 + i] - rcb.cb[j.subspace*2 + i])
                 * (resid.r[j.subspace*2 + i] - rcb.cb[j.subspace*2 + i])))) * 1000000 + 0.5) / 1000000 AS dist
             FROM resid CROSS JOIN j CROSS JOIN rcb),
      codes AS (SELECT vec_id, cid, subspace, code FROM (
                  SELECT vec_id, cid, subspace, code,
                         row_number() OVER (PARTITION BY vec_id, subspace
                                            ORDER BY dist, code) rn
                  FROM cd) WHERE rn = 1),
      qres AS (SELECT p.query_id, p.cid,
                 list_transform(range(1, 65), i -> e.v[i] - c.cv[i]) qr
               FROM probes p JOIN e ON e.vec_id = p.query_id
                      JOIN cents c ON c.cid = p.cid),
      dtab AS (SELECT q.query_id, q.cid, j.subspace, rcb.code,
                 CAST(floor((list_sum(list_transform(range(1, 3), i ->
                   (q.qr[j.subspace*2 + i] - rcb.cb[j.subspace*2 + i])
                   * (q.qr[j.subspace*2 + i] - rcb.cb[j.subspace*2 + i])))) * 1000000 + 0.5) / 1000000
                   AS DECIMAL(20,6)) AS d2
               FROM qres q CROSS JOIN j CROSS JOIN rcb),
      sc AS (SELECT d.query_id, c.vec_id AS neighbor_id, sum(d.d2) AS adc
             FROM codes c JOIN dtab d
               ON d.cid = c.cid AND d.subspace = c.subspace AND d.code = c.code
             WHERE d.query_id <> c.vec_id
             GROUP BY 1, 2),
      rk AS (SELECT query_id, neighbor_id, adc,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc, neighbor_id) AS rank
             FROM sc)
      SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
             round(adc, 6)::DOUBLE AS adc_dist
      FROM rk WHERE rank <= 5""".trim,
    // same float expression SHAPE as the Spark side (idf and tf-norm
    // each one IEEE chain), each term score pinned to DECIMAL(28,10)
    // before the sum so accumulation order cannot flip the hash
    "bm25_search" -> """
      WITH q(query_id, term) AS (VALUES
        (1,'spark'),(1,'join'),(1,'merge'),
        (2,'window'),(2,'hash'),(2,'scan'),
        (3,'stream'),(3,'batch')),
      tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      tot AS (SELECT count(*) AS n_docs, sum(dl) AS total_tokens FROM dl),
      dft AS (SELECT token, count(*) AS df FROM tf
              WHERE token IN (SELECT DISTINCT term FROM q) GROUP BY 1),
      sc AS (SELECT q.query_id, tf.doc_id,
               CAST(((t.n_docs - d.df + 0.5) / (d.df + 0.5)) *
                    (tf.tf * 2.2 /
                     (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl /
                        (CAST(t.total_tokens AS DOUBLE) / t.n_docs))))
                 AS DECIMAL(28,10)) AS s
             FROM tf JOIN q ON tf.token = q.term
                     JOIN dft d ON d.token = tf.token
                     JOIN dl ON dl.doc_id = tf.doc_id
                     CROSS JOIN tot t),
      agg AS (SELECT query_id, doc_id, sum(s) AS s_exact
              FROM sc GROUP BY 1, 2),
      r AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
                   round(s_exact, 4)::DOUBLE AS score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY s_exact DESC, doc_id) AS rank
            FROM agg)
      SELECT query_id, doc_id, score, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 10""".trim,
    "doc_stitch" -> """
      WITH base AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
      cont AS (SELECT doc_id + 100000 AS doc_id,
                      substr(text, length(text) - 63, 64) || ' continued ' || md5(text) AS text
               FROM base WHERE doc_id % 10 = 0),
      corpus AS (SELECT * FROM base UNION ALL SELECT * FROM cont),
      tails AS (SELECT doc_id AS src_doc,
                       md5(substr(text, length(text) - 63, 64)) AS affix FROM corpus),
      heads AS (SELECT doc_id AS cont_doc,
                       md5(substr(text, 1, 64)) AS affix FROM corpus)
      SELECT t.src_doc, h.cont_doc, t.affix
      FROM tails t JOIN heads h USING (affix)
      WHERE t.src_doc <> h.cont_doc""".trim,
    "text_langid" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') toks,
                   length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 AS cjk
                 FROM documents),
      s AS (SELECT doc_id, cjk, $langScoresSql FROM t)
      SELECT doc_id, $langCaseSql AS lang_pred
      FROM s""".trim,
    // deterministic stratified reservoir: smallest-hash 25 per source
    "sample_stratified" -> """
      SELECT source, doc_id, h, rank FROM (
        SELECT source, doc_id, h,
               row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rank
        FROM (SELECT source, doc_id,
                ('0x' || substr(md5('strat:' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
              FROM documents))
      WHERE rank <= 25""".trim,
    "sample_split" -> """
      SELECT doc_id, bucket,
             CASE WHEN bucket < 980 THEN 'train'
                  WHEN bucket < 990 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
              ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 AS bucket
            FROM documents)""".trim,
    "corpus_stats" -> """
      SELECT w AS token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents)
      GROUP BY 1
      ORDER BY n_occurrences DESC, token
      LIMIT 20""".trim,
    // window cumsum of exact integers; budget 2048
    "pack_chunks" -> """
      WITH t AS (SELECT doc_id, doc_id % 8 AS pack_group,
                   len(string_split(text, ' ')) AS n_tokens
                 FROM documents),
      o AS (SELECT *,
              coalesce(sum(n_tokens) OVER
                (PARTITION BY pack_group ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                AS start_offset
            FROM t)
      SELECT doc_id, pack_group, n_tokens, start_offset,
             (start_offset // 2048)::BIGINT AS seq_id,
             start_offset % 2048 + n_tokens > 2048 AS crosses_boundary
      FROM o""".trim,
    "pack_global" -> """
      WITH t AS (SELECT doc_id, CAST(ceil(length(text)/4.0) AS BIGINT) AS toks
                 FROM documents),
      c AS (SELECT doc_id, toks,
              coalesce(sum(toks) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                AS before
            FROM t)
      SELECT (before // 2048)::BIGINT AS pack, count(*)::BIGINT AS n_docs,
             sum(toks)::BIGINT AS pack_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY 1""".trim,
    "corpus_balance" -> """
      WITH t AS (SELECT doc_id, source FROM documents
                 WHERE source = 'src0' OR doc_id % 2 = 0),
      c AS (SELECT source, count(*) cnt FROM t GROUP BY 1),
      mn AS (SELECT min(cnt) min_cnt FROM c)
      SELECT doc_id, d.source
      FROM t d JOIN c ON d.source = c.source, mn
      WHERE ('0x' || substr(md5('bal:' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000
            < min_cnt / cnt * 10000""".trim,
    "group_sample" -> """
      SELECT doc_id, source, rank
      FROM (SELECT doc_id, source,
              row_number() OVER (PARTITION BY source
                ORDER BY md5('samp:' || doc_id::VARCHAR), doc_id)::BIGINT AS rank
            FROM documents)
      WHERE rank <= 5""".trim,
    "length_percentiles" -> """
      WITH t AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
                 FROM documents),
      r AS (SELECT n_tokens,
              row_number() OVER (ORDER BY n_tokens, doc_id)::BIGINT AS rn
            FROM t),
      n AS (SELECT count(*) AS n_docs FROM t),
      q AS (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS quantile)
      SELECT quantile, n_tokens
      FROM q, n JOIN r ON r.rn = CAST(ceil(quantile * n_docs) AS BIGINT)
      ORDER BY quantile""".trim,
    // bin()-length floor-power-of-2, integer sums — fully exact
    "length_buckets" -> """
      WITH t AS (SELECT len(string_split(text, ' ')) n FROM documents)
      SELECT (1::BIGINT << (length(bin(n)) - 1)) AS bucket_min_tokens,
             count(*) AS n_docs, sum(n)::BIGINT AS sum_tokens
      FROM t GROUP BY 1 ORDER BY 1""".trim,
    // integer sums + one exactly-rounded double division (see textRarity)
    "text_rarity" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) token FROM documents),
      freq AS (SELECT token, count(*) cnt FROM tok GROUP BY 1),
      tot AS (SELECT sum(cnt) total_tokens FROM freq)
      SELECT t.doc_id, count(*) AS n_tokens, sum(f.cnt)::BIGINT AS sum_token_cnt,
             floor((sum(f.cnt) / (count(*) * (SELECT total_tokens FROM tot))) * 100000000 + 0.5) / 100000000
               AS mean_token_freq
      FROM tok t JOIN freq f ON f.token = t.token
      GROUP BY t.doc_id""".trim,
    "text_keywords" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) token FROM documents),
      tf AS (SELECT doc_id, token, count(*) tf FROM tok GROUP BY 1, 2),
      df AS (SELECT token, count(DISTINCT doc_id) df FROM tok GROUP BY 1),
      nd AS (SELECT count(*) n_docs FROM documents),
      scored AS (SELECT tf.doc_id, tf.token,
                   floor(((tf.tf * (SELECT n_docs FROM nd)) / df.df) * 1000000 + 0.5) / 1000000 score
                 FROM tf JOIN df ON df.token = tf.token),
      ranked AS (SELECT *, row_number() OVER
                   (PARTITION BY doc_id ORDER BY score DESC, token) rank
                 FROM scored)
      SELECT doc_id, rank, token, score FROM ranked WHERE rank <= 3""".trim,
    "quality_filter" -> s"""
      WITH $qualityCtes
      SELECT doc_id, lang_pred, n_tokens, dup_frac, alpha_ratio, reason,
             reason = 'ok' AS keep
      FROM qr""".trim,
    // all three cleaning stages composed: quality pass AND canonical of
    // the exact-hash group AND not a non-canonical near-dup cluster member
    "corpus_clean" -> s"""
      WITH RECURSIVE $minhashCtes,
      pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
      edges AS (SELECT id_a s, id_b d FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
      reach(id, lbl) AS (
        SELECT DISTINCT s, s FROM edges
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
      comp AS (SELECT id, min(lbl) cluster_id FROM reach GROUP BY id),
      $qualityCtes,
      ek AS (SELECT md5(text) h, min(doc_id) keep FROM documents GROUP BY 1)
      SELECT doc.doc_id, doc.lang, doc.source, doc.n_chars
      FROM documents doc
      JOIN (SELECT doc_id FROM qr WHERE reason = 'ok') q ON q.doc_id = doc.doc_id
      JOIN ek ON ek.keep = doc.doc_id
      WHERE doc.doc_id NOT IN (SELECT id FROM comp WHERE id != cluster_id)""".trim,
    // corpus_clean's stages + decontamination + per-source 800-token
    // budget selection over the survivors (budget_sample's formula)
    "corpus_curate" -> s"""
      WITH RECURSIVE $minhashCtes,
      pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
      edges AS (SELECT id_a s, id_b d FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
      reach(id, lbl) AS (
        SELECT DISTINCT s, s FROM edges
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
      comp AS (SELECT id, min(lbl) cluster_id FROM reach GROUP BY id),
      $qualityCtes,
      ek AS (SELECT md5(text) h, min(doc_id) keep FROM documents GROUP BY 1),
      ev AS (SELECT DISTINCT unnest(sset) s FROM sh WHERE doc_id % 17 = 3),
      tr AS (SELECT doc_id, unnest(sset) s FROM sh WHERE doc_id % 17 != 3),
      bad AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev ON ev.s = tr.s),
      surv AS (SELECT doc.doc_id, doc.source, doc.text
        FROM documents doc
        JOIN (SELECT doc_id FROM qr WHERE reason = 'ok') q ON q.doc_id = doc.doc_id
        JOIN ek ON ek.keep = doc.doc_id
        WHERE doc.doc_id % 17 != 3
          AND doc.doc_id NOT IN (SELECT doc_id FROM bad)
          AND doc.doc_id NOT IN (SELECT id FROM comp WHERE id != cluster_id)),
      sm AS (SELECT doc_id, source, text, string_split(text, ' ') toks FROM surv),
      sq AS (SELECT doc_id, source, len(toks)::BIGINT AS n_tokens,
              floor((least(len(toks)/100.0, 1.0)*0.4 +
                     least(len(list_filter(toks, x -> x IN ($enList)))/len(toks)*4.0, 1.0)*0.3 +
                     length(regexp_replace(text, '[^a-z]', '', 'g'))/length(text)*0.3)
                    * 10000 + 0.5) / 10000
                AS quality
            FROM sm),
      so AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
              ORDER BY quality DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
            FROM sq)
      SELECT doc_id, source, n_tokens, quality, cum_tokens
      FROM so WHERE cum_tokens <= 800""".trim,
    // corpus_curate's stage sets replayed cumulatively; per-stage counts
    // + a self-join on stage_no for the in/removed/out triple
    "corpus_funnel" -> s"""
      WITH RECURSIVE $minhashCtes,
      pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
      edges AS (SELECT id_a s, id_b d FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
      reach(id, lbl) AS (
        SELECT DISTINCT s, s FROM edges
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
      comp AS (SELECT id, min(lbl) cluster_id FROM reach GROUP BY id),
      $qualityCtes,
      ek AS (SELECT md5(text) h, min(doc_id) keep FROM documents GROUP BY 1),
      ev AS (SELECT DISTINCT unnest(sset) s FROM sh WHERE doc_id % 17 = 3),
      tr AS (SELECT doc_id, unnest(sset) s FROM sh WHERE doc_id % 17 != 3),
      bad AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev ON ev.s = tr.s),
      f1 AS (SELECT doc_id FROM qr WHERE reason = 'ok'),
      f2 AS (SELECT f1.doc_id FROM f1 JOIN ek ON ek.keep = f1.doc_id),
      f3 AS (SELECT doc_id FROM f2 WHERE doc_id % 17 != 3
               AND doc_id NOT IN (SELECT doc_id FROM bad)),
      f4 AS (SELECT doc_id FROM f3
             WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != cluster_id)),
      fm AS (SELECT d.doc_id, d.source, string_split(d.text, ' ') toks, d.text
             FROM documents d JOIN f4 USING (doc_id)),
      fq AS (SELECT doc_id, source, len(toks)::BIGINT AS n_tokens,
              floor((least(len(toks)/100.0, 1.0)*0.4 +
                     least(len(list_filter(toks, x -> x IN ($enList)))/len(toks)*4.0, 1.0)*0.3 +
                     length(regexp_replace(text, '[^a-z]', '', 'g'))/length(text)*0.3)
                    * 10000 + 0.5) / 10000 AS quality
            FROM fm),
      fo AS (SELECT doc_id, sum(n_tokens) OVER (PARTITION BY source
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
             FROM fq),
      f5 AS (SELECT doc_id FROM fo WHERE cum <= 800),
      c AS (
        SELECT 0 AS stage_no, 'input' AS stage, count(*) AS n FROM documents
        UNION ALL SELECT 1, 'quality', count(*) FROM f1
        UNION ALL SELECT 2, 'exact', count(*) FROM f2
        UNION ALL SELECT 3, 'decontaminate', count(*) FROM f3
        UNION ALL SELECT 4, 'near_dup', count(*) FROM f4
        UNION ALL SELECT 5, 'budget', count(*) FROM f5)
      SELECT cur.stage_no::BIGINT AS stage_no, cur.stage,
             prev.n::BIGINT AS n_in, (prev.n - cur.n)::BIGINT AS n_removed,
             cur.n::BIGINT AS n_out
      FROM c cur JOIN c prev ON prev.stage_no = cur.stage_no - 1""".trim,
    "text_quality" -> s"""
      WITH t AS (SELECT doc_id, text, string_split(text, ' ') toks FROM documents),
      m AS (SELECT doc_id,
        len(toks) AS n_tokens,
        list_sum(list_transform(toks, x -> length(x))) / len(toks) AS mtl,
        length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text) AS alpha,
        length(regexp_replace(text, '[^.,;:!?''"-]', '', 'g')) / length(text) AS punct,
        len(list_filter(toks, x -> x IN ($enList))) / len(toks) AS stop
        FROM t)
      SELECT doc_id, n_tokens,
        floor(mtl * 10000 + 0.5) / 10000 AS mean_token_len,
        floor(alpha * 10000 + 0.5) / 10000 AS alpha_ratio,
        floor(punct * 10000 + 0.5) / 10000 AS punct_ratio,
        floor(stop * 10000 + 0.5) / 10000 AS stopword_ratio,
        floor((least(n_tokens/100.0, 1.0)*0.4 + least(stop*4.0, 1.0)*0.3 + alpha*0.3)
              * 10000 + 0.5) / 10000 AS quality
      FROM m""".trim,
    "token_count" -> """
      SELECT doc_id,
        len(string_split(text, ' ')) AS ws_tokens,
        len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens,
        CAST(ceil(length(text)/4.0) AS BIGINT) AS est_tokens
      FROM documents""".trim,
    "doc_fingerprint" -> s"""
      WITH $shingleCte
      SELECT doc_id, list_min(list_transform(sset, s -> md5(s))) AS fingerprint,
             len(sset) AS n_shingles
      FROM sh""".trim,
    "dedup_exact" -> """
      SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY 1""".trim,
    // roundtrip identities: the Spark side re-reads its own JSONL/CSV
    // export of `documents`; parse or type drift breaks the hash
    "ingest_jsonl" -> """
      SELECT doc_id, text, lang, source, n_chars FROM documents""".trim,
    "ingest_csv" -> """
      SELECT doc_id, text, lang, source, n_chars FROM documents""".trim,
    // 8-token segments; drop df>1 (count DISTINCT docs — a segment
    // repeated within one doc is not boilerplate); reassemble in order
    "dedup_segments" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      s AS (SELECT doc_id, unnest(range(CAST(ceil(len(w)/8.0) AS BIGINT))) AS i, w FROM t),
      seg AS (SELECT doc_id, i, array_to_string(w[i*8+1:(i+1)*8], ' ') AS seg FROM s),
      df AS (SELECT seg, count(DISTINCT doc_id) seg_df FROM seg GROUP BY 1),
      kept AS (SELECT g.doc_id, g.i, g.seg FROM seg g JOIN df USING(seg) WHERE seg_df <= 1),
      reb AS (SELECT doc_id, count(*)::BIGINT n_kept,
                     string_agg(seg, ' ' ORDER BY i) clean_text
              FROM kept GROUP BY doc_id),
      tot AS (SELECT doc_id, count(*)::BIGINT n_segs FROM seg GROUP BY doc_id)
      SELECT t.doc_id, t.n_segs, coalesce(r.n_kept, 0)::BIGINT AS n_kept,
             coalesce(r.clean_text, '') AS clean_text
      FROM tot t LEFT JOIN reb r USING(doc_id)""".trim,
    // 2-token segments; keep each segment's FIRST occurrence per doc
    "dedup_intradoc" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      s AS (SELECT doc_id, unnest(range(CAST(ceil(len(w)/2.0) AS BIGINT))) AS i, w FROM t),
      seg AS (SELECT doc_id, i, array_to_string(w[i*2+1:(i+1)*2], ' ') AS seg FROM s),
      f AS (SELECT doc_id, i, seg,
              row_number() OVER (PARTITION BY doc_id, seg ORDER BY i) rn FROM seg)
      SELECT doc_id, count(*)::BIGINT AS n_segs,
             count(*) FILTER (WHERE rn = 1)::BIGINT AS n_unique,
             string_agg(seg, ' ' ORDER BY i) FILTER (WHERE rn = 1) AS clean_text
      FROM f GROUP BY doc_id""".trim,
    // quality formula mirrors text_quality; rank (quality DESC, doc_id),
    // keep while the running token total fits the 1000-token budget
    "budget_sample" -> s"""
      WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') toks FROM documents),
      m AS (SELECT doc_id, source, len(toks)::BIGINT AS n_tokens,
              floor((least(len(toks)/100.0, 1.0)*0.4 +
                     least(len(list_filter(toks, x -> x IN ($enList)))/len(toks)*4.0, 1.0)*0.3 +
                     length(regexp_replace(text, '[^a-z]', '', 'g'))/length(text)*0.3)
                    * 10000 + 0.5) / 10000
                AS quality
            FROM t),
      o AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
              ORDER BY quality DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
            FROM m)
      SELECT doc_id, source, n_tokens, quality, cum_tokens
      FROM o WHERE cum_tokens <= 1000""".trim,
    "text_novelty" -> s"""
      WITH $shingleCte,
      inv AS (SELECT doc_id, unnest(sset) s FROM sh),
      d2 AS (SELECT doc_id, count(*) OVER (PARTITION BY s) df FROM inv)
      SELECT doc_id, count(*)::BIGINT AS n_shingles,
             sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel,
             floor((sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) / count(*)) * 10000 + 0.5) / 10000 AS novelty
      FROM d2 GROUP BY doc_id""".trim,
    // identical integer counts and the same fixed-shape float formula
    "text_readability" -> """
      WITH x AS (SELECT doc_id,
                   len(string_split(text, ' '))::BIGINT n_words,
                   greatest(len(list_filter(regexp_split_to_array(text, '[.!?]'),
                     s -> len(trim(s)) > 0)), 1)::BIGINT n_sentences,
                   len(regexp_extract_all(text, '[aeiouy]+'))::BIGINT n_syllables
                 FROM documents)
      SELECT doc_id, n_words, n_sentences, n_syllables,
             floor((206.835 - 1.015 * (n_words::DOUBLE / n_sentences)
                           - 84.6 * (n_syllables::DOUBLE / n_words)) * 10000 + 0.5) / 10000 AS flesch
      FROM x""".trim,
    // same ceil window-count formula; token slices replayed with list
    // slicing and the md5 digest proves byte-identical window text
    "chunk_windows" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      base AS (SELECT doc_id, w, len(w)::BIGINT n,
                 CASE WHEN len(w) <= 32 THEN 1
                      ELSE 1 + CAST(ceil((len(w) - 32) / 24.0) AS BIGINT)
                 END n_win FROM t),
      x AS (SELECT doc_id, n, w, unnest(range(n_win)) win_id FROM base),
      y AS (SELECT doc_id, n n_tokens, win_id, win_id * 24 start_tok,
              least(win_id * 24 + 32, n) - win_id * 24 win_tokens, w
            FROM x)
      SELECT doc_id, n_tokens, win_id, start_tok, win_tokens,
             md5(array_to_string(w[start_tok + 1 : start_tok + win_tokens], ' ')) AS win_hash
      FROM y""".trim,
    // unique-word frequencies first (the BPE corpus compression), then
    // adjacent char pairs weighted by word frequency; ties by pair asc
    "bpe_pairs" -> """
      WITH wc AS (SELECT word, count(*) wn
                  FROM (SELECT unnest(string_split(text, ' ')) word FROM documents)
                  WHERE len(word) >= 2 GROUP BY 1),
      p AS (SELECT wn,
              unnest(list_transform(range(len(word) - 1), i -> substr(word, i + 1, 2))) pair
            FROM wc),
      agg AS (SELECT pair, sum(wn)::BIGINT n_pairs FROM p GROUP BY 1)
      SELECT pair, n_pairs,
             row_number() OVER (ORDER BY n_pairs DESC, pair) AS rank
      FROM agg QUALIFY rank <= 50""".trim,
    // chunk_windows' slicing geometry + the doc-level langid fragments
    // per window; dominant = row_number pick (count desc, lang asc)
    "chunk_langid" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      base AS (SELECT doc_id, w, len(w)::BIGINT n,
                 CASE WHEN len(w) <= 32 THEN 1
                      ELSE 1 + CAST(ceil((len(w) - 32) / 24.0) AS BIGINT)
                 END n_win FROM t),
      x AS (SELECT doc_id, n, w, unnest(range(n_win)) win_id FROM base),
      y AS (SELECT doc_id, win_id,
              w[win_id*24 + 1 : win_id*24 + (least(win_id*24 + 32, n) - win_id*24)] toks
            FROM x),
      ws AS (SELECT doc_id, win_id, $langScoresSql,
              length(regexp_replace(array_to_string(toks, ' '),
                '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 AS cjk
             FROM y),
      wl AS (SELECT doc_id, $langCaseSql AS lang_pred FROM ws),
      pc AS (SELECT doc_id, lang_pred, count(*) c FROM wl GROUP BY 1, 2),
      dom AS (SELECT doc_id, lang_pred dominant_lang FROM (
        SELECT doc_id, lang_pred,
               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lang_pred) rn
        FROM pc) WHERE rn = 1),
      agg AS (SELECT doc_id, sum(c)::BIGINT n_windows, count(*)::BIGINT n_langs
              FROM pc GROUP BY 1)
      SELECT a.doc_id, n_windows, n_langs, dominant_lang,
             n_langs > 1 AS code_switched
      FROM agg a JOIN dom d ON d.doc_id = a.doc_id""".trim,
    // composes the text_quality / text_repetition / text_langid /
    // text_surprisal / text_novelty fragments into one wide row per doc
    "doc_features" -> s"""
      WITH t AS (SELECT doc_id, text, string_split(text, ' ') toks,
              length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 AS cjk
            FROM documents),
      m AS (SELECT doc_id, len(toks) nt, len(list_distinct(toks)) nd,
              length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text) alpha,
              len(list_filter(toks, x -> x IN ($enList))) / len(toks) stop
            FROM t),
      l AS (SELECT doc_id, $langScoresSql, cjk FROM t),
      lp AS (SELECT doc_id, $langCaseSql AS lang_pred FROM l),
      tok AS (SELECT doc_id, unnest(toks) tok FROM t),
      uc AS (SELECT tok, count(*) c FROM tok GROUP BY 1),
      tot AS (SELECT count(*) snt FROM tok),
      su AS (SELECT tok, len(bin((SELECT snt FROM tot) // c))::BIGINT surprise FROM uc),
      sur AS (SELECT t2.doc_id,
                floor((CAST(sum(su.surprise) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                      * 10000 + 0.5) / 10000 mean_surprise
              FROM tok t2 JOIN su ON su.tok = t2.tok GROUP BY 1),
      shs AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 5
                THEN list_transform(range(len(toks)-4), i -> array_to_string(toks[i+1:i+5], ' '))
                ELSE [array_to_string(toks, ' ')] END) sset FROM t),
      invn AS (SELECT doc_id, unnest(sset) s FROM shs),
      d2 AS (SELECT doc_id, count(*) OVER (PARTITION BY s) df FROM invn),
      nov AS (SELECT doc_id,
                floor((sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) / count(*)) * 10000 + 0.5) / 10000 novelty
              FROM d2 GROUP BY 1)
      SELECT m.doc_id, m.nt::BIGINT n_tokens,
             floor(m.alpha * 10000 + 0.5) / 10000 alpha_ratio,
             floor((least(m.nt/100.0, 1.0)*0.4 + least(m.stop*4.0, 1.0)*0.3 + m.alpha*0.3)
                   * 10000 + 0.5) / 10000 quality,
             floor((1.0 - m.nd::DOUBLE / m.nt) * 10000 + 0.5) / 10000 dup_token_frac,
             lp.lang_pred, sur.mean_surprise, nov.novelty
      FROM m JOIN lp USING (doc_id) JOIN sur USING (doc_id) JOIN nov USING (doc_id)""".trim,
    // surprisal in integer bit units: len(bin(N div c)) — no float log
    "text_surprisal" -> """
      WITH d AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
      tok AS (SELECT doc_id, unnest(t) tok FROM d),
      uc AS (SELECT tok, count(*) c FROM tok GROUP BY 1),
      tot AS (SELECT count(*) nt FROM tok),
      s AS (SELECT tok, len(bin((SELECT nt FROM tot) // c))::BIGINT surprise FROM uc)
      SELECT t.doc_id, count(*)::BIGINT n_tokens, sum(s.surprise)::BIGINT sum_surprise,
             floor((CAST(sum(s.surprise) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                   * 10000 + 0.5) / 10000 mean_surprise
      FROM tok t JOIN s ON s.tok = t.tok GROUP BY 1""".trim,
    // bigram conditional surprisal: same bin()-length bit units as
    // text_surprisal, counts conditioned on the bigram-first position
    "text_bigram_surprisal" -> """
      WITH d AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
      pr AS (SELECT doc_id, p.w1 w1, p.w2 w2 FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(t)),
          i -> struct_pack(w1 := t[i], w2 := t[i+1]))) p
        FROM d WHERE len(t) > 1)),
      c12 AS (SELECT w1, w2, count(*) c12 FROM pr GROUP BY 1, 2),
      c1 AS (SELECT w1, count(*) c1 FROM pr GROUP BY 1),
      s AS (SELECT c12.w1, c12.w2, len(bin(c1.c1 // c12.c12))::BIGINT surprise
            FROM c12 JOIN c1 USING (w1)),
      pd AS (SELECT pr.doc_id, count(*)::BIGINT n_bigrams,
               sum(s.surprise)::BIGINT sum_surprise
             FROM pr JOIN s ON s.w1 = pr.w1 AND s.w2 = pr.w2 GROUP BY 1)
      SELECT d.doc_id, coalesce(pd.n_bigrams, 0)::BIGINT n_bigrams,
             coalesce(pd.sum_surprise, 0)::BIGINT sum_surprise,
             CASE WHEN pd.n_bigrams > 0 THEN
               floor((CAST(pd.sum_surprise AS DOUBLE) / CAST(pd.n_bigrams AS DOUBLE))
                     * 10000 + 0.5) / 10000
             END mean_surprise
      FROM d LEFT JOIN pd USING (doc_id)""".trim,
    // DSIR-lite: Laplace-smoothed bit units, bits(tot,c) =
    // len(bin((tot+V) // (c+1))); weight = bits_source - bits_target
    "dsir_weights" -> """
      WITH d AS (SELECT doc_id, lang = 'en' is_tgt, string_split(text, ' ') t FROM documents),
      tok AS (SELECT doc_id, is_tgt, unnest(t) tok FROM d),
      c AS (SELECT tok, count(*) cs,
              sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) ct
            FROM tok GROUP BY 1),
      tots AS (SELECT sum(cs) ts, sum(ct) tt, count(*) v FROM c),
      w AS (SELECT c.tok,
              (len(bin((tots.ts + tots.v) // (c.cs + 1)))::BIGINT
               - len(bin((tots.tt + tots.v) // (c.ct + 1)))::BIGINT) w
            FROM c, tots)
      SELECT t.doc_id, count(*)::BIGINT n_tokens, sum(w.w)::BIGINT weight_bits,
             floor((CAST(sum(w.w) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                   * 10000 + 0.5) / 10000 mean_weight,
             (sum(w.w) > 0) keep
      FROM tok t JOIN w ON w.tok = t.tok GROUP BY 1""".trim,
    // DSIR resampling: top-10 per source by (mean_weight desc, doc_id)
    "corpus_dsir_sample" -> """
      WITH d AS (SELECT doc_id, lang = 'en' is_tgt, string_split(text, ' ') t FROM documents),
      tok AS (SELECT doc_id, is_tgt, unnest(t) tok FROM d),
      c AS (SELECT tok, count(*) cs,
              sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) ct
            FROM tok GROUP BY 1),
      tots AS (SELECT sum(cs) ts, sum(ct) tt, count(*) v FROM c),
      w AS (SELECT c.tok,
              (len(bin((tots.ts + tots.v) // (c.cs + 1)))::BIGINT
               - len(bin((tots.tt + tots.v) // (c.ct + 1)))::BIGINT) w
            FROM c, tots),
      pd AS (SELECT t.doc_id, count(*)::BIGINT n_tokens,
               floor((CAST(sum(w.w) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                     * 10000 + 0.5) / 10000 mean_weight
             FROM tok t JOIN w ON w.tok = t.tok GROUP BY 1),
      r AS (SELECT s.source, pd.doc_id, pd.mean_weight, pd.n_tokens,
              row_number() OVER (PARTITION BY s.source
                                 ORDER BY pd.mean_weight DESC, pd.doc_id) AS rank
            FROM pd JOIN documents s USING (doc_id))
      SELECT source, doc_id, rank::INT AS rank, mean_weight, n_tokens
      FROM r WHERE rank <= 10""".trim,
    // lift = (n_ab·N)/(n_a·n_b): PMI without the log — exact integer
    // counts, one double multiply/divide mirroring the Spark shape
    "token_lift" -> """
      WITH d AS (SELECT string_split(text, ' ') t FROM documents),
      uni AS (SELECT unnest(t) tok FROM d),
      uc AS (SELECT tok, count(*) n FROM uni GROUP BY 1),
      tot AS (SELECT count(*) nt FROM uni),
      bg AS (SELECT unnest(list_transform(range(1, len(t)),
               i -> struct_pack(a := t[i], b := t[i+1]))) p FROM d),
      bgc AS (SELECT p.a a, p.b b, count(*) n_ab FROM bg GROUP BY 1, 2),
      lifted AS (SELECT a tok_a, b tok_b, n_ab,
        floor(((CAST(n_ab AS DOUBLE) * CAST((SELECT nt FROM tot) AS DOUBLE))
          / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE))) * 10000 + 0.5) / 10000 AS lift
        FROM bgc JOIN uc ua ON ua.tok = bgc.a JOIN uc ub ON ub.tok = bgc.b
        WHERE n_ab >= 5)
      SELECT tok_a, tok_b, n_ab, lift,
             row_number() OVER (ORDER BY lift DESC, tok_a, tok_b)::BIGINT rank
      FROM lifted QUALIFY rank <= 20""".trim,
    // same per-doc-distinct 5-gram shingles as shingleCte, then
    // distinct per SOURCE; pair overlap via self-join on the shingle
    "source_overlap" -> """
      WITH d AS (SELECT source, string_split(text, ' ') w FROM documents),
      sh AS (SELECT DISTINCT source, sg FROM (
        SELECT source, unnest(CASE WHEN len(w) >= 5
          THEN list_transform(range(len(w)-4), i -> array_to_string(w[i+1:i+5], ' '))
          ELSE [array_to_string(w, ' ')] END) sg FROM d)),
      sz AS (SELECT source, count(*) n FROM sh GROUP BY 1),
      pr AS (SELECT a.source sa, b.source sb, count(*) n_common
             FROM sh a JOIN sh b ON a.sg = b.sg AND a.source < b.source
             GROUP BY 1, 2)
      SELECT sa AS source_a, sb AS source_b, za.n AS n_a, zb.n AS n_b, n_common,
             floor((CAST(n_common AS DOUBLE) / CAST(za.n + zb.n - n_common AS DOUBLE))
                   * 10000 + 0.5) / 10000 AS jaccard
      FROM pr JOIN sz za ON za.source = sa JOIN sz zb ON zb.source = sb""".trim,
    // KMV/theta replication: same 52-bit md5 hashes, bottom-128 per
    // source via row_number, union ranked per pair; θ = 128th value,
    // estimates from exact integer counts + one double division each
    // (M = 2^52 = 4503599627370496; products ≤ 2^59 with ≤7 significant
    // bits — exact in double on both engines)
    "sketch_setops" -> """
      WITH d AS (SELECT source, string_split(text, ' ') w FROM documents),
      sh AS (SELECT DISTINCT source AS grp,
              ('0x' || substr(md5('theta:' || sg), 1, 13))::BIGINT AS h
             FROM (SELECT source, unnest(CASE WHEN len(w) >= 5
                THEN list_transform(range(len(w)-4), i -> array_to_string(w[i+1:i+5], ' '))
                ELSE [array_to_string(w, ' ')] END) sg FROM d)),
      samp AS (SELECT grp, h FROM
                (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) rn FROM sh)
               WHERE rn <= 128),
      g AS (SELECT DISTINCT grp FROM samp),
      pairs AS (SELECT a.grp ga, b.grp gb FROM g a JOIN g b ON a.grp < b.grp),
      u AS (SELECT ga, gb, h, count(*) n_side FROM (
              SELECT p.ga, p.gb, s.h FROM pairs p JOIN samp s ON s.grp = p.ga
              UNION ALL
              SELECT p.ga, p.gb, s.h FROM pairs p JOIN samp s ON s.grp = p.gb) t
            GROUP BY 1, 2, 3),
      r AS (SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) rn FROM u),
      st AS (SELECT ga, gb, count(*) n_samp,
               max(CASE WHEN rn = 128 THEN h END) theta,
               sum(CASE WHEN rn < 128 AND n_side = 2 THEN 1 ELSE 0 END) c_below,
               sum(CASE WHEN n_side = 2 THEN 1 ELSE 0 END) c_all
             FROM r GROUP BY 1, 2)
      SELECT ga AS source_a, gb AS source_b, n_samp::BIGINT AS n_samp,
             coalesce(theta, 4503599627370496)::BIGINT AS theta,
             CASE WHEN theta IS NULL THEN n_samp::DOUBLE
                  ELSE floor(((127::BIGINT * 4503599627370496)::DOUBLE / theta::DOUBLE)
                             * 10000 + 0.5) / 10000 END AS est_union,
             CASE WHEN theta IS NULL THEN c_all::DOUBLE
                  ELSE floor(((c_below * 4503599627370496)::DOUBLE / theta::DOUBLE)
                             * 10000 + 0.5) / 10000 END AS est_intersection,
             CASE WHEN theta IS NULL
                  THEN floor((c_all::DOUBLE / n_samp::DOUBLE) * 10000 + 0.5) / 10000
                  ELSE floor((c_below::DOUBLE / 127.0) * 10000 + 0.5) / 10000
             END AS est_jaccard
      FROM st""".trim,
    // positional semantics on both sides (list comprehension over the
    // token array), so overlapping occurrences count identically
    "phrase_search" -> """
      WITH d AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
      m AS (SELECT doc_id,
              [i FOR i IN range(1, len(t)) IF t[i] = 'merge' AND t[i+1] = 'join'] pos
            FROM d)
      SELECT doc_id, len(pos)::BIGINT n_matches, (pos[1] - 1)::BIGINT first_pos
      FROM m WHERE len(pos) > 0""".trim,
    // same 5-gram shingle definition as shingleCte (wordShingles is
    // per-doc distinct); minHits=1 → contamination is join existence
    "corpus_decontaminate" -> s"""
      WITH $shingleCte,
      ev AS (SELECT DISTINCT unnest(sset) s FROM sh WHERE doc_id % 17 = 3),
      tr AS (SELECT doc_id, unnest(sset) s FROM sh WHERE doc_id % 17 != 3),
      bad AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev ON ev.s = tr.s)
      SELECT doc_id AS id FROM documents
      WHERE doc_id % 17 != 3 AND doc_id NOT IN (SELECT doc_id FROM bad)""".trim,
    // the report twin of corpus_decontaminate: same split, same
    // per-doc-distinct shingles, counts + fraction instead of a filter
    "corpus_contamination" -> s"""
      WITH $shingleCte,
      ev AS (SELECT DISTINCT unnest(sset) s FROM sh WHERE doc_id % 17 = 3),
      tr AS (SELECT doc_id, unnest(sset) s FROM sh WHERE doc_id % 17 != 3),
      j AS (SELECT tr.doc_id, CASE WHEN ev.s IS NULL THEN 0 ELSE 1 END hit
            FROM tr LEFT JOIN ev ON ev.s = tr.s)
      SELECT doc_id AS id, count(*)::BIGINT AS n_shingles,
             sum(hit)::BIGINT AS n_contaminated,
             floor((sum(hit) / count(*)) * 10000 + 0.5) / 10000 AS contamination
      FROM j GROUP BY 1""".trim,
    "dedup_incremental" -> """
      WITH seen AS (SELECT DISTINCT md5(text) h FROM documents WHERE doc_id % 5 != 0),
      incoming AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents
        WHERE doc_id % 5 != 0 AND doc_id % 7 = 1)
      SELECT i.doc_id AS id, md5(i.text) AS content_hash,
             md5(i.text) IN (SELECT h FROM seen) AS is_dup
      FROM incoming i""".trim,
    // bloom positions replayed: k=4 md5 hashes of each digest mod
    // 2^16, deduped per doc; maybe_seen = ALL positions present in
    // the seen set; is_dup settles at the exact digest membership
    "dedup_bloom" -> """
      WITH seen AS (SELECT DISTINCT md5(text) h FROM documents WHERE doc_id % 5 != 0),
      incoming AS (
        SELECT doc_id, md5(text) h FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 1000000, md5(text) FROM documents
        WHERE doc_id % 5 != 0 AND doc_id % 7 = 1),
      sj AS (SELECT h, unnest(range(4)) j FROM seen),
      spos AS (SELECT DISTINCT
                 ('0x' || substr(md5('bloom:' || j::VARCHAR || ':' || h), 1, 8))::BIGINT % 65536 AS pos
               FROM sj),
      ij AS (SELECT doc_id, h, unnest(range(4)) j FROM incoming),
      ipos AS (SELECT DISTINCT doc_id, h,
                 ('0x' || substr(md5('bloom:' || j::VARCHAR || ':' || h), 1, 8))::BIGINT % 65536 AS pos
               FROM ij),
      v AS (SELECT doc_id, h,
              count(*) = count(*) FILTER (WHERE pos IN (SELECT pos FROM spos)) AS maybe_seen
            FROM ipos GROUP BY doc_id, h)
      SELECT doc_id AS id, maybe_seen,
             maybe_seen AND h IN (SELECT h FROM seen) AS is_dup
      FROM v""".trim,
    "countmin_sketch" -> """
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      r AS (SELECT tok, unnest(range(4)) AS j FROM toks)
      SELECT j AS sketch_row,
             ('0x' || substr(md5('cm:' || j::VARCHAR || ':' || tok), 1, 8))::BIGINT % 1024 AS sketch_col,
             count(*) AS cnt
      FROM r GROUP BY 1, 2""".trim,
    "corpus_mix" -> """
      WITH m AS (SELECT doc_id, source,
                   ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS mix_bucket,
                   CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                               WHEN 'src2' THEN 2500 ELSE 1000 END AS rate_bp
                 FROM documents)
      SELECT doc_id, source, mix_bucket, rate_bp FROM m
      WHERE mix_bucket < rate_bp""".trim,
    // df cut mirrored: shingles in >100 docs leave the inverted index
    // before the self-join; denominators keep full set sizes
    "dedup_ngram_jaccard" -> s"""
      WITH $shingleCte,
      inv0 AS (SELECT doc_id, unnest(sset) s FROM sh),
      inv AS (SELECT doc_id, s FROM inv0
              WHERE s IN (SELECT s FROM inv0 GROUP BY s HAVING count(*) <= 100)),
      common AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_common
                 FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
      sz AS (SELECT doc_id, len(sset) n FROM sh),
      j AS (SELECT id_a, id_b, floor((n_common / (sa.n + sb.n - n_common)) * 10000 + 0.5) / 10000 jaccard
            FROM common JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b)
      SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5""".trim,
    // containment = n_common / min(n_a, n_b): catches short-doc-quoted-
    // in-long-doc subset duplication that symmetric jaccard misses
    "dedup_containment" -> s"""
      WITH $shingleCte,
      inv0 AS (SELECT doc_id, unnest(sset) s FROM sh),
      inv AS (SELECT doc_id, s FROM inv0
              WHERE s IN (SELECT s FROM inv0 GROUP BY s HAVING count(*) <= 100)),
      common AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_common
                 FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
      sz AS (SELECT doc_id, len(sset) n FROM sh),
      c AS (SELECT id_a, id_b, n_common,
              floor((CAST(n_common AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE))
                    * 10000 + 0.5) / 10000 containment
            FROM common JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b),
      kept AS (SELECT id_a, id_b, n_common, containment,
                 row_number() OVER (PARTITION BY id_a ORDER BY containment DESC, id_b) rn
               FROM c WHERE containment >= 0.9)
      SELECT id_a, id_b, n_common, containment FROM kept WHERE rn <= 64""".trim,
    // winnowing: positional 5-gram hash stream (NOT the distinct set),
    // each 4-window's min hash, distinct selected values = fingerprints
    "dedup_winnow" -> """
      WITH d AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
      g AS (SELECT doc_id, CASE WHEN len(t) < 5
              THEN [('0x' || substr(md5(array_to_string(t, ' ')), 1, 8))::BIGINT]
              ELSE list_transform(range(len(t)-4), i ->
                ('0x' || substr(md5(array_to_string(t[i+1:i+5], ' ')), 1, 8))::BIGINT) END h
            FROM d),
      f AS (SELECT doc_id, CASE WHEN len(h) < 4 THEN [list_min(h)]
              ELSE list_distinct(list_transform(range(len(h)-3), i -> list_min(h[i+1:i+4]))) END fp
            FROM g),
      inv0 AS (SELECT doc_id, unnest(fp) f FROM f),
      inv AS (SELECT doc_id, f FROM inv0
              WHERE f IN (SELECT f FROM inv0 GROUP BY f HAVING count(*) <= 100))
      SELECT a.doc_id id_a, b.doc_id id_b, count(*)::BIGINT n_shared
      FROM inv a JOIN inv b ON a.f = b.f AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2""".trim,
    // delta (doc_id % 5 = 0) fingerprints vs the seen corpus's distinct set
    "dedup_incremental_winnow" -> """
      WITH d AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
      g AS (SELECT doc_id, CASE WHEN len(t) < 5
              THEN [('0x' || substr(md5(array_to_string(t, ' ')), 1, 8))::BIGINT]
              ELSE list_transform(range(len(t)-4), i ->
                ('0x' || substr(md5(array_to_string(t[i+1:i+5], ' ')), 1, 8))::BIGINT) END h
            FROM d),
      f AS (SELECT doc_id, CASE WHEN len(h) < 4 THEN [list_min(h)]
              ELSE list_distinct(list_transform(range(len(h)-3), i -> list_min(h[i+1:i+4]))) END fp
            FROM g),
      inv AS (SELECT doc_id, unnest(fp) f FROM f),
      seen AS (SELECT DISTINCT f FROM inv WHERE doc_id % 5 != 0),
      delta AS (SELECT doc_id, f FROM inv WHERE doc_id % 5 = 0)
      SELECT delta.doc_id AS id, count(*)::BIGINT n_fp,
             sum(CASE WHEN seen.f IS NULL THEN 0 ELSE 1 END)::BIGINT n_hit,
             sum(CASE WHEN seen.f IS NULL THEN 0 ELSE 1 END) >= 2 AS is_dup
      FROM delta LEFT JOIN seen ON seen.f = delta.f
      GROUP BY 1""".trim,
    // replays the 64-pair output budget: each id_a keeps its strongest
    // verified pairs (jaccard DESC, id_b ASC) — same rank-cut recipe
    // as dedup_containment / dedup_embedding_lsh
    "dedup_minhash_lsh" -> s"""
      WITH $minhashCtes,
      kept AS (SELECT id_a, id_b, jaccard,
                 row_number() OVER (PARTITION BY id_a ORDER BY jaccard DESC, id_b) rn
               FROM j WHERE jaccard >= 0.5)
      SELECT id_a, id_b, jaccard FROM kept WHERE rn <= 64""".trim,
    // exact ground truth (no df-cut) vs the banded LSH pair set;
    // integer counts + one final division. Both tiers replay the fixed
    // audit-sample predicate (whole corpus at gate scales).
    "dedup_lsh_recall" -> s"""
      WITH ${minhashCtesFor(s"($LshRecallAuditPred)")},
      lsh AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
      inv AS (SELECT doc_id, unnest(sset) s FROM sh),
      common AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_common
                 FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
      sz AS (SELECT doc_id, len(sset) n FROM sh),
      ex AS (SELECT id_a, id_b FROM (
               SELECT id_a, id_b,
                      floor((n_common / (sa.n + sb.n - n_common)) * 10000 + 0.5) / 10000 jaccard
               FROM common JOIN sz sa ON sa.doc_id = id_a
                           JOIN sz sb ON sb.doc_id = id_b)
             WHERE jaccard >= 0.5),
      miss AS (SELECT count(*) c FROM ex
               WHERE NOT EXISTS (SELECT 1 FROM lsh
                                 WHERE lsh.id_a = ex.id_a
                                   AND lsh.id_b = ex.id_b))
      SELECT (SELECT count(*) FROM ex) AS n_exact,
             (SELECT count(*) FROM lsh) AS n_lsh,
             (SELECT c FROM miss) AS n_missed,
             floor((((SELECT count(*) FROM ex) - (SELECT c FROM miss))
                   / (SELECT count(*) FROM ex)) * 10000 + 0.5) / 10000 AS recall""".trim,
    // same signature/band chain, cohorts split across the candidate
    // join; best match = (jaccard DESC, id_seen ASC) per incoming doc
    "dedup_incremental_lsh" -> incrementalLshOracle,
    // the persisted-index twin produces the identical frame: the index
    // tables are a pure re-layout of the seen corpus' signatures, so
    // one oracle serves both
    "dedup_incremental_store" -> incrementalLshOracle,
  )

  /** Shared by dedup_incremental_lsh and dedup_incremental_store. */
  private lazy val incrementalLshOracle: String = s"""
      WITH $shingleCte,
      sig AS (SELECT doc_id, sset,
        list_transform(range(16), i -> list_min(list_transform(sset,
          s -> ((2*i+3) * ('0x' || substr(md5(s), 1, 8))::BIGINT + 7919*i) % 1000000007))) mh
        FROM sh),
      bandkeys AS (SELECT doc_id, t.b band,
        array_to_string(mh[t.b*4+1 : t.b*4+4], '|') bkey
        FROM sig, (SELECT unnest(range(4)) b) t),
      cand AS (SELECT DISTINCT a.doc_id id_new, b.doc_id id_seen
        FROM bandkeys a JOIN bandkeys b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0),
      v AS (SELECT id_new, id_seen,
        floor((len(list_intersect(sa.sset, sb.sset)) /
              (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)))) * 10000 + 0.5) / 10000 jaccard
        FROM cand JOIN sh sa ON sa.doc_id = id_new JOIN sh sb ON sb.doc_id = id_seen),
      best AS (SELECT id_new, id_seen AS matched_id, jaccard,
        row_number() OVER (PARTITION BY id_new ORDER BY jaccard DESC, id_seen) rn
        FROM v WHERE jaccard >= 0.5)
      SELECT d.doc_id AS id, b.id_new IS NOT NULL AS is_dup, b.matched_id, b.jaccard
      FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
      LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.id_new""".trim

  private val oraclesTail: Map[String, String] = Map(
    // explicit FLOAT→DOUBLE→DECIMAL widening mirrors the Spark casts
    "embedding_centroids" -> """
      WITH x AS (SELECT label, t.i AS dim,
                   CAST(embedding[t.i + 1]::DOUBLE AS DECIMAL(18,6)) AS v
                 FROM embeddings, (SELECT unnest(range(64)) i) t)
      SELECT label, dim, count(*) AS n_vectors,
             floor((sum(v)::DOUBLE / count(*)) * 1000000 + 0.5) / 1000000 AS centroid
      FROM x GROUP BY 1, 2""".trim,
    // same affine map, identical parenthesization so floor() sees the
    // same IEEE double on both engines; constant dims -> code -128
    "embedding_quantize" -> """
      WITH x AS (SELECT vec_id, t.i AS dim, embedding[t.i + 1]::DOUBLE AS v
                 FROM embeddings, (SELECT unnest(range(64)) i) t),
      s AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM x GROUP BY 1)
      SELECT vec_id, dim,
             (CASE WHEN mx = mn THEN 0
                   ELSE least(255, greatest(0, floor((v - mn) / (mx - mn) * 256)))
              END - 128)::INT AS q
      FROM x JOIN s USING (dim)""".trim,
    // the audit-sample predicate is interpolated from the same constant
    // the Spark query filters with (EmbAuditPred) — no hand-sync
    "dedup_embedding" -> s"""
      WITH $cosCte,
      es AS (SELECT * FROM e WHERE $EmbAuditPred),
      p AS (SELECT a.vec_id id_a, b.vec_id id_b, floor((${cos("a.v", "b.v")}) * 10000 + 0.5) / 10000 cos
            FROM es a JOIN es b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b, cos FROM p WHERE cos >= 0.35""".trim,
    // hyperplane weights replayed for 4 seeded tables × 8 planes
    // (HyperplaneLsh.weights, sp = t·100003 + p); candidates agree
    // within hamming ≤ 1 in any table (the masks are the multi-probe)
    // replays BOTH skew dials: (1) per-(table,signature) bucket cap 32 —
    // probes join only the 32 lowest-id core members, overflow members
    // star-edge to the bucket's min-id hub; (2) the 64-pair output
    // budget per id_a (strongest by cos desc, id_b asc)
    "dedup_embedding_lsh" -> s"""
      WITH $cosCte,
      w AS (SELECT t.t, p.p,
              list_transform(range(64), i ->
                ((('0x' || substr(md5((t.t*100003+p.p)::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT % 2000001)
                 / 1000000.0 - 1.0)) wv
            FROM (SELECT unnest(range(4)) t) t, (SELECT unnest(range(8)) p) p),
      sigs AS (SELECT e.vec_id, t,
                 sum(CASE WHEN list_dot_product(e.v, w.wv) > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT sig
               FROM e CROSS JOIN w GROUP BY e.vec_id, t),
      ranked AS (SELECT vec_id, t, sig,
                   row_number() OVER (PARTITION BY t, sig ORDER BY vec_id) r
                 FROM sigs),
      cand AS (SELECT DISTINCT id_a, id_b FROM (
                 SELECT a.vec_id id_a, b.vec_id id_b
                 FROM sigs a JOIN ranked b
                   ON b.t = a.t AND a.vec_id < b.vec_id AND b.r <= 32,
                   (VALUES (0),(1),(2),(4),(8),(16),(32),(64),(128)) m(m)
                 WHERE b.sig = xor(a.sig, m.m::BIGINT)
                 UNION ALL
                 SELECT h.vec_id id_a, o.vec_id id_b
                 FROM ranked o JOIN ranked h
                   ON h.t = o.t AND h.sig = o.sig AND h.r = 1
                 WHERE o.r > 32)),
      pr AS (SELECT id_a, id_b, floor((${cos("ea.v", "eb.v")}) * 10000 + 0.5) / 10000 cos
             FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b),
      kept AS (SELECT id_a, id_b, cos,
                 row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) rn
               FROM pr WHERE cos >= 0.35)
      SELECT id_a, id_b, cos FROM kept WHERE rn <= 64""".trim,
    // cohorts split across the signature join; best match per incoming
    "dedup_embedding_incremental" -> s"""
      WITH $cosCte,
      w AS (SELECT t.t, p.p,
              list_transform(range(64), i ->
                ((('0x' || substr(md5((t.t*100003+p.p)::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT % 2000001)
                 / 1000000.0 - 1.0)) wv
            FROM (SELECT unnest(range(4)) t) t, (SELECT unnest(range(8)) p) p),
      sigs AS (SELECT e.vec_id, t,
                 sum(CASE WHEN list_dot_product(e.v, w.wv) > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT sig
               FROM e CROSS JOIN w GROUP BY e.vec_id, t),
      sranked AS (SELECT vec_id, t, sig,
                    row_number() OVER (PARTITION BY t, sig ORDER BY vec_id) r
                  FROM sigs WHERE vec_id % 5 != 0),
      cand AS (SELECT DISTINCT a.vec_id id_new, b.vec_id id_seen
               FROM sigs a JOIN sranked b ON b.t = a.t AND b.r <= 32,
                 (VALUES (0),(1),(2),(4),(8),(16),(32),(64),(128)) m(m)
               WHERE b.sig = xor(a.sig, m.m::BIGINT)
                 AND a.vec_id % 5 = 0),
      v2 AS (SELECT id_new, id_seen, floor((${cos("ea.v", "eb.v")}) * 10000 + 0.5) / 10000 cos
             FROM cand JOIN e ea ON ea.vec_id = id_new
                       JOIN e eb ON eb.vec_id = id_seen),
      best AS (SELECT id_new, id_seen AS matched_id, cos,
                 row_number() OVER (PARTITION BY id_new ORDER BY cos DESC, id_seen) rn
               FROM v2 WHERE cos >= 0.35)
      SELECT d.vec_id AS id, b.id_new IS NOT NULL AS is_dup, b.matched_id, b.cos
      FROM (SELECT vec_id FROM embeddings WHERE vec_id % 5 = 0) d
      LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.vec_id = b.id_new""".trim,
    // SemDeDup: the data-dependent cell count (max(1, n/64), mirroring
    // Dedup.semanticAuto) of lowest-id seed centroids replayed, argmax
    // assignment (sim DESC, cid tie-break = IvfCells' first-wins),
    // then the keep-first pairwise verify restricted to each cell
    "dedup_semantic" -> s"""
      WITH $cosCte,
      cents AS (SELECT cid, cv FROM
                  (SELECT vec_id cid, v cv,
                          row_number() OVER (ORDER BY vec_id) rn,
                          count(*) OVER () n
                   FROM e) WHERE rn <= greatest(1, n // 64)),
      sims AS (SELECT e.vec_id, c.cid, ${cos("e.v", "c.cv")} sim FROM e CROSS JOIN cents c),
      a AS (SELECT vec_id, cid cell FROM
              (SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) rn
               FROM sims) WHERE rn = 1),
      nrm AS (SELECT vec_id, sqrt(list_dot_product(v, v)) n, v FROM e),
      dups AS (SELECT DISTINCT y.vec_id id
               FROM a x JOIN a y ON y.cell = x.cell AND x.vec_id < y.vec_id
               JOIN nrm na ON na.vec_id = x.vec_id JOIN nrm nb ON nb.vec_id = y.vec_id
               WHERE floor((list_dot_product(na.v, nb.v) / (na.n * nb.n)) * 10000 + 0.5) / 10000 >= 0.35)
      SELECT a.vec_id AS id, a.cell, (d.id IS NOT NULL) AS is_dup
      FROM a LEFT JOIN dups d ON d.id = a.vec_id""".trim,
    // assigned-centroid cosine kept from the argmax CTE; outlier =
    // rounded cos below threshold (same boundary on both engines)
    "embedding_outliers" -> s"""
      WITH $cosCte,
      cents AS (SELECT vec_id cid, v cv FROM e ORDER BY vec_id LIMIT 16),
      sims AS (SELECT e.vec_id, c.cid, ${cos("e.v", "c.cv")} sim FROM e CROSS JOIN cents c),
      a AS (SELECT vec_id, cid cell, sim FROM
              (SELECT vec_id, cid, sim,
                      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) rn
               FROM sims) WHERE rn = 1)
      SELECT vec_id AS id, cell, floor((sim) * 10000 + 0.5) / 10000 AS cos_centroid,
             (floor((sim) * 10000 + 0.5) / 10000 < 0.12) AS is_outlier
      FROM a""".trim,
    // one Lloyd step: refined centroids rebuilt with the SAME
    // decimal-pinned means (embedding_centroids recipe), lists
    // reassembled in dim order, argmax replayed against them
    "embedding_kmeans" -> s"""
      WITH $cosCte,
      cents AS (SELECT vec_id cid, v cv FROM e ORDER BY vec_id LIMIT 16),
      s0 AS (SELECT e.vec_id, c.cid, ${cos("e.v", "c.cv")} sim FROM e CROSS JOIN cents c),
      a0 AS (SELECT vec_id, cid cell FROM
              (SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) rn
               FROM s0) WHERE rn = 1),
      x AS (SELECT a0.cell, t.i dim, CAST(em.embedding[t.i + 1]::DOUBLE AS DECIMAL(18,6)) v
            FROM a0 JOIN embeddings em ON em.vec_id = a0.vec_id,
                 (SELECT unnest(range(64)) i) t),
      m AS (SELECT cell, dim,
              floor((sum(v)::DOUBLE / count(*)) * 1000000 + 0.5) / 1000000 mv
            FROM x GROUP BY 1, 2),
      newc AS (SELECT cell cid, list(mv ORDER BY dim) cv FROM m GROUP BY cell),
      s1 AS (SELECT e.vec_id, n.cid, ${cos("e.v", "n.cv")} sim FROM e CROSS JOIN newc n),
      a1 AS (SELECT vec_id, cid cell FROM
              (SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) rn
               FROM s1) WHERE rn = 1),
      n0 AS (SELECT cell, count(*) c FROM a0 GROUP BY 1),
      n1 AS (SELECT cell, count(*) c FROM a1 GROUP BY 1),
      st AS (SELECT a0.cell, count(*) c FROM a0 JOIN a1 USING (vec_id)
             WHERE a0.cell = a1.cell GROUP BY 1)
      SELECT n0.cell, n0.c AS n_seed, coalesce(n1.c, 0) AS n_refined,
             coalesce(st.c, 0) AS n_stay
      FROM n0 LEFT JOIN n1 ON n1.cell = n0.cell LEFT JOIN st ON st.cell = n0.cell""".trim,
    "ann_bruteforce" -> s"""
      WITH $cosCte,
      q AS (SELECT * FROM e WHERE vec_id < 20),
      scored AS (SELECT q.vec_id query_id, c.vec_id neighbor_id, floor((${cos("q.v", "c.v")}) * 10000 + 0.5) / 10000 cos
                 FROM q JOIN e c ON c.vec_id != q.vec_id),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
                 FROM scored)
      SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 5""".trim,
    // brute-force with the cross-label predicate inside the join
    "ann_hard_negatives" -> s"""
      WITH el AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
      q AS (SELECT * FROM el WHERE vec_id < 20),
      scored AS (SELECT q.vec_id query_id, q.label query_label,
                   c.vec_id neighbor_id, c.label neighbor_label,
                   floor((${cos("q.v", "c.v")}) * 10000 + 0.5) / 10000 cos
                 FROM q JOIN el c
                 ON c.vec_id != q.vec_id AND c.label != q.label),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
                 FROM scored)
      SELECT query_id, query_label, neighbor_id, neighbor_label, rank, cos
      FROM ranked WHERE rank <= 5""".trim,
    // same pipeline composed from DuckDB's unicode functions; the
    // corpus is ASCII (both engines provably agree there) — non-ASCII
    // parity is spec-gated on the NormalizeText expression directly
    "text_normalize" -> """
      WITH n AS (SELECT doc_id,
                   trim(regexp_replace(regexp_replace(
                     lower(strip_accents(nfc_normalize(text))),
                     '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
                 FROM documents)
      SELECT doc_id, norm_text, length(norm_text)::INT AS n_norm_chars
      FROM n""".trim,
    // deterministic tie-break: count desc, token asc
    "source_top_tokens" -> """
      WITH c AS (SELECT source, u.tok, count(*) AS n
                 FROM documents, LATERAL (SELECT unnest(string_split(text, ' ')) AS tok) u
                 GROUP BY 1, 2),
      r AS (SELECT source, tok, n,
              row_number() OVER (PARTITION BY source ORDER BY n DESC, tok) AS rank
            FROM c)
      SELECT source, tok, n, rank::INT AS rank FROM r WHERE rank <= 3""".trim,
    // all-integer Heaps curve: per-token min batch, counts, running sum
    "vocab_growth" -> """
      WITH f AS (SELECT doc_id AS b, string_split(text, ' ') AS toks
                 FROM documents),
      t AS (SELECT u.tok, min(b) AS batch
            FROM f, LATERAL (SELECT unnest(toks) AS tok) u
            GROUP BY 1),
      g AS (SELECT batch, count(*) AS new_tokens FROM t GROUP BY 1)
      SELECT batch, new_tokens,
             (sum(new_tokens) OVER (ORDER BY batch
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS vocab_size
      FROM g""".trim,
    "text_repetition" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
      c AS (SELECT doc_id, toks, len(toks) nt, len(list_distinct(toks)) nd,
              list_max(list_transform(list_distinct(toks),
                u -> len(list_filter(toks, x -> x = u)))) tt,
              greatest(len(toks) - 1, 0) nb,
              CASE WHEN len(toks) > 1
                   THEN list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2])
                   ELSE []::VARCHAR[] END bgs
            FROM t),
      c2 AS (SELECT doc_id, nt, nd, tt, nb,
               CASE WHEN nb = 0 THEN 0
                    ELSE list_max(list_transform(list_distinct(bgs),
                           u -> len(list_filter(bgs, x -> x = u)))) END tb
             FROM c)
      SELECT doc_id, nt AS n_tokens,
             floor((1.0 - nd::DOUBLE / nt) * 10000 + 0.5) / 10000 AS dup_token_frac,
             floor((tt::DOUBLE / nt) * 10000 + 0.5) / 10000 AS top_token_frac,
             floor((CASE WHEN nb = 0 THEN 0.0 ELSE tb::DOUBLE / nb END) * 10000 + 0.5) / 10000 AS top_bigram_frac
      FROM c2""".trim,
    "text_pii" -> {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "\\+[0-9]+-[0-9]+-[0-9]+"
      val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      s"""
      WITH a AS (SELECT doc_id,
        text || ' contact user' || doc_id || '@mail.example.com or +1-555-0' ||
          (doc_id % 100) || ' ip 10.0.' || (doc_id % 256) || '.7' aug
        FROM documents)
      SELECT doc_id,
        len(regexp_extract_all(aug, '$email')) AS n_emails,
        len(regexp_extract_all(aug, '$phone')) AS n_phones,
        len(regexp_extract_all(aug, '$ip')) AS n_ips,
        regexp_replace(regexp_replace(regexp_replace(aug,
          '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g') AS masked
      FROM a""".trim
    },
    // connected components over the verified LSH pairs: min reachable
    // label per node via a recursive label-spread, same fixpoint the
    // Spark min-label propagation converges to
    "dedup_cluster" -> s"""
      WITH RECURSIVE $minhashCtes,
      pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
      edges AS (SELECT id_a s, id_b d FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
      reach(id, lbl) AS (
        SELECT DISTINCT s, s FROM edges
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
      comp AS (SELECT id, min(lbl) cluster_id FROM reach GROUP BY id)
      SELECT id AS doc_id, cluster_id, id = cluster_id AS is_canonical FROM comp""".trim,
    // same decimal pin as the centroid family; variance numerator
    // n·Σx² − (Σx)² exact decimal, then subtract/sqrt/divide as the
    // only float ops
    "embedding_whiten" -> """
      WITH el AS (SELECT vec_id, t.i AS dim,
                    CAST(embedding[t.i + 1]::DOUBLE AS DECIMAL(18,6)) x
                  FROM embeddings, (SELECT unnest(range(64)) i) t),
      st AS (SELECT dim, count(*) n, sum(x) sx, sum(x * x) sxx
             FROM el GROUP BY 1),
      mu AS (SELECT dim, sx::DOUBLE / n::DOUBLE AS mu,
               sqrt((n * sxx - sx * sx)::DOUBLE) / n::DOUBLE AS sigma
             FROM st)
      SELECT el.vec_id, el.dim::BIGINT AS dim,
             floor(((el.x::DOUBLE - mu.mu) / mu.sigma) * 10000 + 0.5) / 10000 AS z
      FROM el JOIN mu USING (dim)""".trim,
    // 4-dp quality values as DECIMAL sum order-free; keep verdicts from
    // the shared quality-filter chain; one division per output float
    "source_quality" -> s"""
      WITH $qualityCtes,
      qv AS (SELECT d.doc_id, d.source,
               CAST(floor((least(len(string_split(d.text, ' '))/100.0, 1.0)*0.4 +
                      least(len(list_filter(string_split(d.text, ' '), x -> x IN ($enList)))
                        /len(string_split(d.text, ' '))*4.0, 1.0)*0.3 +
                      length(regexp_replace(d.text, '[^a-z]', '', 'g'))/length(d.text)*0.3)
                     * 10000 + 0.5) / 10000 AS DECIMAL(8,4)) AS q
             FROM documents d),
      j AS (SELECT qv.source, qv.q,
              CASE WHEN qr.reason = 'ok' THEN 1 ELSE 0 END k
            FROM qv JOIN qr ON qr.doc_id = qv.doc_id)
      SELECT source, count(*)::BIGINT AS n_docs, sum(k)::BIGINT AS n_kept,
             floor((sum(k)::DOUBLE / count(*)::DOUBLE) * 10000 + 0.5) / 10000
               AS keep_rate,
             floor((sum(q)::DOUBLE / count(*)::DOUBLE) * 10000 + 0.5) / 10000
               AS mean_quality
      FROM j GROUP BY 1""".trim,
    // sqrt is correctly-rounded IEEE on both engines; 6-dp weights sum
    // exactly as decimals, shares are single divisions
    "corpus_temperature" -> """
      WITH n AS (SELECT source, count(*) n_docs,
                   CAST(floor(sqrt(count(*)::DOUBLE) * 1000000 + 0.5) / 1000000
                        AS DECIMAL(18,6)) AS w
                 FROM documents GROUP BY 1),
      t AS (SELECT sum(w) tw FROM n)
      SELECT source, n_docs::BIGINT AS n_docs, w::DOUBLE AS weight,
             floor((w::DOUBLE / (SELECT tw FROM t)::DOUBLE) * 1000000 + 0.5)
               / 1000000 AS share,
             floor((1000.0 * w::DOUBLE / (SELECT tw FROM t)::DOUBLE) * 100 + 0.5)
               / 100 AS expected_docs
      FROM n""".trim,
    // the greedy longest-prefix loop as a recursive CTE over DISTINCT
    // words (each occurrence segments identically), correlated LIMIT 1
    // subquery = the argmax match, then per-doc sums over occurrences
    "text_maxmatch" -> s"""
      WITH RECURSIVE wfreq AS (
        SELECT w, count(*) c FROM (
          SELECT unnest(string_split(text, ' ')) w FROM documents)
        WHERE w != '' GROUP BY w),
      topw AS (SELECT w FROM wfreq ORDER BY c DESC, w LIMIT 50),
      vocab AS (SELECT DISTINCT v FROM (
        SELECT w AS v FROM topw
        UNION ALL
        SELECT unnest([${('a' to 'z').map(c => s"'$c'").mkString(",")}]) AS v)),
      words AS (SELECT DISTINCT w FROM (
        SELECT unnest(string_split(text, ' ')) w FROM documents) WHERE w != ''),
      seg(w, pos, n_toks, n_unk) AS (
        SELECT w, 1, 0, 0 FROM words
        UNION ALL
        SELECT w, pos + CASE WHEN best IS NULL THEN 1 ELSE length(best) END,
               n_toks + 1,
               n_unk + CASE WHEN best IS NULL THEN 1 ELSE 0 END
        FROM (SELECT s.w, s.pos, s.n_toks, s.n_unk,
                (SELECT v FROM vocab
                 WHERE substr(s.w, s.pos, length(v)) = v
                 ORDER BY length(v) DESC, v LIMIT 1) AS best
              FROM seg s WHERE s.pos <= length(s.w)) t),
      done AS (SELECT w, n_toks, n_unk FROM seg WHERE pos > length(w)),
      ex AS (SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents),
      nw AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT n_words FROM documents),
      agg AS (SELECT e.doc_id,
                sum(d.n_toks)::BIGINT n_tokens, sum(d.n_unk)::BIGINT n_unk
              FROM ex e JOIN done d ON d.w = e.w GROUP BY e.doc_id)
      SELECT nw.doc_id, nw.n_words,
             coalesce(agg.n_tokens, 0) AS n_tokens,
             coalesce(agg.n_unk, 0) AS n_unk,
             floor((coalesce(agg.n_tokens, 0)::DOUBLE / nw.n_words::DOUBLE)
                   * 10000 + 0.5) / 10000 AS fertility
      FROM nw LEFT JOIN agg USING (doc_id)""".trim,
    // the power iteration unrolled: exact-decimal Gram (same DECIMAL(18,6)
    // element pin as embedding_kmeans), then per round one exact-decimal
    // matvec + portable 6-dp round + one sqrt + one division — every
    // float op a single correctly-rounded IEEE step (CTEs generated)
    "embedding_power_iteration" -> powerIterationSql(40),
    // the same 40 oracle rounds, then each vector's exact-decimal dot
    // with the final direction
    "embedding_project" -> powerProjectionSql(40),
    // same stride-1 window hashing (substr is 1-based on both engines),
    // dup = hash count >= 2 corpus-wide, islands via pos - row_number
    "dedup_spans" -> """
      WITH w AS (
        SELECT doc_id, t.i AS pos, md5(substr(text, t.i + 1, 40)) AS h
        FROM documents,
             LATERAL (SELECT unnest(range(length(text) - 40 + 1)) AS i) t
        WHERE length(text) >= 40),
      dup AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
      dp AS (SELECT doc_id, pos FROM w JOIN dup USING (h)),
      isl AS (SELECT doc_id, pos,
                pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              FROM dp)
      SELECT doc_id, min(pos)::BIGINT AS span_start,
             (max(pos) + 40)::BIGINT AS span_end,
             count(*)::BIGINT AS n_windows
      FROM isl GROUP BY doc_id, grp""".trim,
    // rank-1 occurrence per hash survives; the rest island-merge per
    // doc into exact removed-byte totals
    "dedup_spans_cut" -> """
      WITH w AS (
        SELECT doc_id, t.i AS pos, md5(substr(text, t.i + 1, 40)) AS h
        FROM documents,
             LATERAL (SELECT unnest(range(length(text) - 40 + 1)) AS i) t
        WHERE length(text) >= 40),
      cut AS (SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) rn
                FROM w) WHERE rn > 1),
      isl AS (SELECT doc_id, pos,
                pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              FROM cut),
      sp AS (SELECT doc_id, max(pos) - min(pos) + 40 AS len
             FROM isl GROUP BY doc_id, grp),
      pd AS (SELECT doc_id, sum(len) cut, count(*) ns FROM sp GROUP BY 1)
      SELECT d.doc_id, length(d.text)::BIGINT AS n_chars,
             coalesce(pd.cut, 0)::BIGINT AS n_cut_chars,
             coalesce(pd.ns, 0)::BIGINT AS n_spans,
             floor((1.0 - coalesce(pd.cut, 0)::DOUBLE / length(d.text)::DOUBLE)
                   * 10000 + 0.5) / 10000 AS kept_frac
      FROM documents d LEFT JOIN pd USING (doc_id)""".trim,
    // component sizes into len(bin()) log2 buckets — skew_profile's
    // integer binning over the cluster cardinalities
    "dedup_cluster_sizes" -> s"""
      WITH RECURSIVE $minhashCtes,
      pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
      edges AS (SELECT id_a s, id_b d FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
      reach(id, lbl) AS (
        SELECT DISTINCT s, s FROM edges
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
      comp AS (SELECT id, min(lbl) cluster_id FROM reach GROUP BY id),
      sz AS (SELECT cluster_id, count(*) sz FROM comp GROUP BY 1)
      SELECT len(bin(sz))::INT AS bucket, count(*)::BIGINT AS n_clusters,
             sum(sz)::BIGINT AS n_docs, min(sz)::BIGINT AS min_size,
             max(sz)::BIGINT AS max_size
      FROM sz GROUP BY 1""".trim,
    // dedup_cluster's components joined with budget_sample's composite
    // quality replication; canonical = argmax (quality DESC, id) per
    // cluster via row_number — the same order min(struct(-q, id)) picks
    "dedup_cluster_best" -> s"""
      WITH RECURSIVE $minhashCtes,
      pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
      edges AS (SELECT id_a s, id_b d FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
      reach(id, lbl) AS (
        SELECT DISTINCT s, s FROM edges
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
      comp AS (SELECT id, min(lbl) cluster_id FROM reach GROUP BY id),
      qt AS (SELECT doc_id, text, string_split(text, ' ') toks FROM documents),
      q AS (SELECT doc_id,
              floor((least(len(toks)/100.0, 1.0)*0.4 +
                     least(len(list_filter(toks, x -> x IN ($enList)))/len(toks)*4.0, 1.0)*0.3 +
                     length(regexp_replace(text, '[^a-z]', '', 'g'))/length(text)*0.3)
                    * 10000 + 0.5) / 10000 AS quality
            FROM qt),
      sc AS (SELECT c.id, c.cluster_id, q.quality FROM comp c JOIN q ON q.doc_id = c.id),
      best AS (SELECT cluster_id, id AS canonical_id FROM
                (SELECT cluster_id, id,
                        row_number() OVER (PARTITION BY cluster_id
                                           ORDER BY quality DESC, id) rn
                 FROM sc) WHERE rn = 1)
      SELECT sc.id AS doc_id, sc.cluster_id, sc.quality, b.canonical_id,
             sc.id = b.canonical_id AS keep
      FROM sc JOIN best b USING (cluster_id)""".trim,
    // IVF: centroids = 16 lowest-id vectors; assignment/probing replay
    // the same cosine argmax with (sim DESC, cid) tie-break; the
    // persisted-index form (#27j) gates on the SAME SQL - the store
    // round-trip must be lossless
    "ann_ivf" -> s"""
      WITH $cosCte,
      cents AS (SELECT vec_id cid, v cv FROM e ORDER BY vec_id LIMIT 16),
      sims AS (SELECT e.vec_id, c.cid, ${cos("e.v", "c.cv")} sim FROM e CROSS JOIN cents c),
      assign AS (SELECT vec_id, cid FROM
                   (SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) rn
                    FROM sims) WHERE rn = 1),
      probes AS (SELECT vec_id query_id, cid FROM
                   (SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) rn
                    FROM sims WHERE vec_id < 20) WHERE rn <= 4),
      nrm AS (SELECT vec_id, sqrt(list_dot_product(v, v)) n, v FROM e),
      cand AS (SELECT p.query_id, a.vec_id neighbor_id
               FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id != p.query_id),
      scored AS (SELECT query_id, neighbor_id,
                   floor((list_dot_product(q.v, c.v) / (q.n * c.n)) * 10000 + 0.5) / 10000 cos
                 FROM cand JOIN nrm q ON q.vec_id = query_id JOIN nrm c ON c.vec_id = neighbor_id),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
                 FROM scored)
      SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 5""".trim,
    // embedding_kmeans' refined-centroid CTEs + ann_ivf's probe/score
    // structure, quantizing against the Lloyd-refined cells
    "ann_ivf_refined" -> s"""
      WITH $cosCte,
      cents AS (SELECT vec_id cid, v cv FROM e ORDER BY vec_id LIMIT 16),
      s0 AS (SELECT e.vec_id, c.cid, ${cos("e.v", "c.cv")} sim FROM e CROSS JOIN cents c),
      a0 AS (SELECT vec_id, cid cell FROM
              (SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) rn
               FROM s0) WHERE rn = 1),
      x AS (SELECT a0.cell, t.i dim, CAST(em.embedding[t.i + 1]::DOUBLE AS DECIMAL(18,6)) v
            FROM a0 JOIN embeddings em ON em.vec_id = a0.vec_id,
                 (SELECT unnest(range(64)) i) t),
      m AS (SELECT cell, dim,
              floor((sum(v)::DOUBLE / count(*)) * 1000000 + 0.5) / 1000000 mv
            FROM x GROUP BY 1, 2),
      newc AS (SELECT cell cid, list(mv ORDER BY dim) cv FROM m GROUP BY cell),
      sims AS (SELECT e.vec_id, n.cid, ${cos("e.v", "n.cv")} sim FROM e CROSS JOIN newc n),
      assign AS (SELECT vec_id, cid FROM
                   (SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) rn
                    FROM sims) WHERE rn = 1),
      probes AS (SELECT vec_id query_id, cid FROM
                   (SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) rn
                    FROM sims WHERE vec_id < 20) WHERE rn <= 4),
      nrm AS (SELECT vec_id, sqrt(list_dot_product(v, v)) n, v FROM e),
      cand AS (SELECT p.query_id, a.vec_id neighbor_id
               FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id != p.query_id),
      scored AS (SELECT query_id, neighbor_id,
                   floor((list_dot_product(q.v, c.v) / (q.n * c.n)) * 10000 + 0.5) / 10000 cos
                 FROM cand JOIN nrm q ON q.vec_id = query_id JOIN nrm c ON c.vec_id = neighbor_id),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
                 FROM scored)
      SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 5""".trim,
    // portable simhash: token hash = first 8 md5 bytes (Md5Prefix64);
    // voting, 16-bit bands and hamming verify replayed bit-for-bit
    "dedup_simhash" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
      h AS (SELECT doc_id, list_transform(toks, s -> ('0x' || substr(md5(s), 1, 16))::UBIGINT) hs FROM t),
      sig AS (SELECT doc_id,
        list_sum(list_transform(range(64), j ->
          CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
               THEN (1::UBIGINT << j) ELSE 0::UBIGINT END))::UBIGINT s
        FROM h),
      banded AS (SELECT doc_id, s, t.b band, (s >> (t.b * 16)) & 65535 bkey
                 FROM sig, (SELECT unnest(range(4)) b) t),
      pairs AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b,
                       bit_count(xor(a.s, b.s)) hamming
                FROM banded a JOIN banded b
                ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, CAST(hamming AS INT) hamming FROM pairs WHERE hamming <= 3""".trim,
    // hyperplane weights are md5-derived (HyperplaneLsh.weights), so the
    // 4 hash tables, hamming-1 multi-probe and top-k replay exactly
    "ann_lsh" -> s"""
      WITH $cosCte,
      w AS (SELECT t.t, p.p,
              list_transform(range(64), i ->
                ((('0x' || substr(md5((t.t*100003+p.p)::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT % 2000001)
                 / 1000000.0 - 1.0)) wv
            FROM (SELECT unnest(range(4)) t) t, (SELECT unnest(range(6)) p) p),
      sigs AS (SELECT e.vec_id, t,
                 sum(CASE WHEN list_dot_product(e.v, w.wv) > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT sig
               FROM e CROSS JOIN w GROUP BY e.vec_id, t),
      nrm AS (SELECT vec_id, sqrt(list_dot_product(v, v)) n, v FROM e),
      probes AS (SELECT DISTINCT s.vec_id query_id, s.t, xor(s.sig, m.m) qsig
                 FROM sigs s, (VALUES (0),(1),(2),(4),(8),(16),(32)) m(m)
                 WHERE s.vec_id < 20),
      cand AS (SELECT DISTINCT p.query_id, c.vec_id neighbor_id
               FROM probes p JOIN sigs c ON c.t = p.t AND c.sig = p.qsig AND c.vec_id != p.query_id),
      scored AS (SELECT query_id, neighbor_id,
                   floor((list_dot_product(q.v, c.v) / (q.n * c.n)) * 10000 + 0.5) / 10000 cos
                 FROM cand JOIN nrm q ON q.vec_id = query_id JOIN nrm c ON c.vec_id = neighbor_id),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
                 FROM scored)
      SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 5""".trim,
  )
}
