package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for LLM-data pipelines (SURVEY.md §2 #21-25).
  * All are DataFrame→DataFrame, shuffle only on hash/bucket keys, and
  * never materialize an all-pairs product — candidate generation is
  * hash-bucketed (exact hash, LSH bands, simhash bands), so cost scales
  * with Σ bucket² over near-dup buckets, not n².
  */
object Dedup {

  /** #21 Exact dedup: group identical content by md5, keep the lowest
    * id as canonical. One shuffle on the 128-bit content hash —
    * at 100 TB this is the standard "hash-partition by digest" pass;
    * no row content moves, only (hash, id). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(md5(col(textCol)).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** #21b incremental exact dedup: flag which `incoming` docs' content
    * already exists in a `seen` reference corpus — the batch-over-batch
    * form of exact dedup a continuously-ingesting pipeline runs (new
    * crawl vs everything ingested so far). Both sides collapse to
    * 16-byte digests before the join, so only (hash, id) shuffles,
    * never text; the seen side additionally dedups its hashes first,
    * bounding the join build by |distinct seen|. At 100 TB the next
    * rung is a bloom filter over seen hashes broadcast into the
    * incoming scan as a prefilter — the exact join below stays the
    * source of truth either way (bloom false positives settle here).
    * Returns (id, content_hash, is_dup). */
  def incrementalExact(incoming: DataFrame, seen: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val seenHashes = seen.select(md5(col(textCol)).as("content_hash"))
      .distinct().withColumn("_seen", lit(true))
    incoming.select(col(idCol).as("id"), md5(col(textCol)).as("content_hash"))
      .join(seenHashes, Seq("content_hash"), "left")
      .select(col("id"), col("content_hash"),
        coalesce(col("_seen"), lit(false)).as("is_dup"))
  }

  /** #21f bloom prefilter for incremental exact dedup — the "next
    * rung" [[incrementalExact]]'s doc names. The seen corpus collapses
    * to the SET of its md5-derived bloom bit positions: at most `m`
    * distinct ints REGARDLESS of corpus size, so the broadcast into
    * the incoming scan is bounded by filter geometry, not |seen| — at
    * 100 TB the daily delta never joins the full corpus, only the
    * ≤m-row position set. `maybe_seen = false` is definitive (bloom
    * filters have no false negatives — those docs skip the exact
    * digest join entirely); only `maybe_seen = true` docs reach the
    * exact join, whose verdict rides along as `is_dup` (false
    * positives settle there). Positions are md5-derived, so the
    * filter is deterministic across engines, runs, and partitionings.
    * Returns (id, maybe_seen, is_dup). */
  def bloomPrefilter(incoming: DataFrame, seen: DataFrame,
                     idCol: String, textCol: String,
                     m: Int = 1 << 16, k: Int = 4): DataFrame = {
    // k md5 positions of a digest, deduped (two hash functions of one
    // digest may collide on a position; each position counts once)
    def positions(h: Column): Column =
      array_distinct(transform(sequence(lit(0L), lit(k - 1L)), j =>
        conv(substring(md5(concat(lit("bloom:"), j.cast("string"), lit(":"), h)),
          1, 8), 16, 10).cast("long") % m))
    val seenPos = seen.select(explode(positions(md5(col(textCol)))).as("pos"))
      .distinct().withColumn("_hit", lit(true))
    val inc = incoming
      .select(col(idCol).as("id"), md5(col(textCol)).as("content_hash"),
        positions(md5(col(textCol))).as("ps"))
    val verdict = inc
      .select(col("id"), size(col("ps")).as("n_pos"), explode(col("ps")).as("pos"))
      .join(broadcast(seenPos), Seq("pos"), "left")
      .groupBy(col("id"), col("n_pos"))
      .agg(sum(when(col("_hit"), 1L).otherwise(0L)).as("n_hit"))
      .select(col("id"), (col("n_hit") === col("n_pos")).as("maybe_seen"))
    val flagged = inc.select(col("id"), col("content_hash")).join(verdict, "id")
    // only the maybe-seen slice pays the digest join; the rest is new
    // by construction
    val seenHashes = seen.select(md5(col(textCol)).as("content_hash"))
      .distinct().withColumn("_seen", lit(true))
    val checked = flagged.filter(col("maybe_seen"))
      .join(seenHashes, Seq("content_hash"), "left")
      .select(col("id"), col("maybe_seen"),
        coalesce(col("_seen"), lit(false)).as("is_dup"))
    val fresh = flagged.filter(!col("maybe_seen"))
      .select(col("id"), col("maybe_seen"), lit(false).as("is_dup"))
    checked.unionByName(fresh)
  }

  /** #21c eval-set decontamination: drop training docs sharing ≥
    * `minHits` word n-gram(s) with an evaluation corpus — the GPT-3
    * style n-gram overlap rule that keeps benchmark text out of
    * training data. Eval shingles collapse to a DISTINCT set first
    * (eval corpora are small — typically broadcast), the training side
    * explodes to an inverted index and left-anti joins survivors, so
    * the shuffle carries only (id, shingle) rows that actually match.
    * Returns the KEPT training rows (id column only). */
  def decontaminate(docs: DataFrame, eval: DataFrame,
                    idCol: String, textCol: String,
                    n: Int = 5, minHits: Int = 1): DataFrame = {
    val evalShingles = eval
      .select(explode(wordShingles(col(textCol), n)).as("s")).distinct()
    val inv = docs.select(col(idCol).as("id"),
      explode(wordShingles(col(textCol), n)).as("s"))
    val contaminated = inv.join(evalShingles, "s")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
      .select(col("id"))
    docs.select(col(idCol).as("id"))
      .join(contaminated, Seq("id"), "left_anti")
  }

  /** #21h contamination REPORT — the audit half of [[decontaminate]]:
    * instead of silently dropping flagged docs, report per doc how
    * MUCH of it overlaps the eval set (n-gram count and fraction), the
    * evidence an eval-hygiene review needs to pick a threshold and to
    * attribute leakage to sources. Same plan shape as the filter: the
    * eval side reduces to distinct shingles, the inverted index joins
    * on the shingle, exact integer counts + one final division.
    * Returns (id, n_shingles, n_contaminated, contamination). */
  def contaminationReport(docs: DataFrame, eval: DataFrame,
                          idCol: String, textCol: String,
                          n: Int = 5): DataFrame = {
    val evalShingles = eval
      .select(explode(wordShingles(col(textCol), n)).as("s")).distinct()
      .withColumn("_hit", lit(1L))
    val inv = docs.select(col(idCol).as("id"),
      explode(wordShingles(col(textCol), n)).as("s"))
    inv.join(evalShingles, Seq("s"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination",
        graft.functions.Rounding.portableRound(col("n_contaminated") / col("n_shingles"), 4))
  }

  /** Distinct-shingle prep: (id, shingles). */
  private[operators] def shingled(docs: DataFrame, idCol: String, textCol: String, n: Int) =
    docs.select(col(idCol).as("id"), wordShingles(col(textCol), n).as("shingles"))

  /** Packed banded rows (id, band, k1, k2) over a [[shingled]] frame —
    * the numeric-key banding every batch LSH path shares
    * ([[graft.functions.TextFunctions.lshBandKeysPacked]]).
    *
    * The signature MUST be materialized as its own column first: the
    * packing lambda reads it through `element_at` 2·bands times, and a
    * non-attribute child would be INLINED into every read — 16
    * recomputations of the full minhash fold per row (measured 11.6 s
    * vs 1.9 s at sf1; the same quadratic-by-reevaluation trap
    * documented at [[graft.functions.expr.WinnowFingerprints]]).
    * CollapseProject keeps the split: a multi-referenced non-trivial
    * alias is never collapsed into its consumers. */
  private def bandedPacked(sh: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sh.select(col("id"), minhashSignature(col("shingles"), numHashes).as("sig"))
      .select(col("id"),
        posexplode(lshBandKeysPacked(col("sig"), bands, numHashes / bands))
          .as(Seq("band", "k")))
      .select(col("id"), col("band"),
        col("k.k1").as("k1"), col("k.k2").as("k2"))

  /** #24 n-gram Jaccard near-dup pairs: candidate pairs share ≥1
    * shingle (inverted-index join — the only shuffle is on the shingle
    * string); pairs are then verified with exact Jaccard ≥ `threshold`.
    * Returns (id_a, id_b, jaccard).
    *
    * `maxDf` is the document-frequency cut that makes this survive a
    * real corpus: a shingle appearing in d documents fans out to d²/2
    * candidate rows, so one piece of boilerplate ("all rights reserved
    * …") in a web crawl turns the self-join quadratic. Shingles with
    * df > maxDf are dropped from the inverted index BEFORE the join,
    * via a count window over the shingle: ONE exchange, and the
    * filtered index comes out hash-partitioned on exactly the
    * self-join key, so the join adds no further shuffle of the index
    * (counting a hot shingle's d rows is O(d) in one task — the very
    * fan-out the cut then removes would have been O(d²)). Every
    * surviving shingle's fan-out is bounded by maxDf²/2. Denominators
    * keep the FULL set sizes, so the cut only ever lowers a pair's
    * jaccard (common boilerplate stops counting as similarity — it
    * never invents a near-dup, and true near-dups still share their
    * rare shingles).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, threshold: Double = 0.5,
                        maxDf: Int = Int.MaxValue): DataFrame = {
    val sh = shingled(docs, idCol, textCol, n)
    val invAll = sh.select(col("id"), explode(col("shingles")).as("s"))
    val inv =
      if (maxDf == Int.MaxValue) invAll
      else
        // shingle arrays are distinct per doc, so count(*) == doc freq
        invAll
          .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
          .filter(col("df") <= maxDf)
          .drop("df")
    val common = inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    val sizes = sh.select(col("id"), size(col("shingles")).as("n_sh"))
    common
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "n_sh" -> "n_a")), "id_a")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "n_sh" -> "n_b")), "id_b")
      .withColumn("jaccard",
        graft.functions.Rounding.portableRound(col("n_common") / (col("n_a") + col("n_b") - col("n_common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      // uniqueness guard against duplicate input ids fanning out the
      // size joins (same contract as minhashLshPairs)
      .dropDuplicates("id_a", "id_b")
  }

  /** #24b shingle containment near-subset pairs: containment =
    * n_common / min(n_a, n_b) — the asymmetric-duplication signal
    * symmetric Jaccard MISSES (a short doc quoted wholesale inside a
    * long one has tiny Jaccard but containment 1.0; such quote-dups
    * leak eval data and over-weight content exactly like full dups).
    * Same inverted-index + df-cut candidate machinery as
    * [[ngramJaccardPairs]] — shuffle on the shingle, fanout bounded by
    * maxDf²/2 — only the verify formula changes. Full set sizes stay
    * in the denominator, so the cut only lowers scores.
    * Returns (id_a, id_b, n_common, containment) ≥ `threshold`.
    *
    * `maxPairsPerId` is the per-doc OUTPUT budget the embedding
    * emitters carry ([[embeddingPairs]]): under real crawl duplication
    * the TRUE pair count grows quadratically in a document's copy
    * count, so an uncapped emitter is output-bound however well the
    * df-cut tames the candidate side. Each id_a keeps its strongest
    * `maxPairsPerId` pairs (containment desc, id_b asc) through the
    * bounded-heap top-k aggregate — ≤ budget rows per id cross the
    * exchange, map-side partials, never a global sort. For dedup
    * decisions the strongest near-subsets are the answer. Opt-in
    * (Int.MaxValue = uncapped, the default).
    *
    * The budget is ONE-SIDED: it bounds TOTAL output to O(n · budget)
    * (each id_a emits ≤ budget rows), not per-document participation —
    * a heavily duplicated doc with a large id still appears as id_b
    * inside other ids' budgets, so its appearance count is O(copies).
    * That is the intended contract (total output volume is what goes
    * quadratic); apply a second top-k pass on id_b downstream if a
    * true per-document cap is wanted. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 5, threshold: Double = 0.9,
                       maxDf: Int = Int.MaxValue,
                       maxPairsPerId: Int = Int.MaxValue): DataFrame = {
    val sh = shingled(docs, idCol, textCol, n)
    val invAll = sh.select(col("id"), explode(col("shingles")).as("s"))
    val inv =
      if (maxDf == Int.MaxValue) invAll
      else invAll
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
        .filter(col("df") <= maxDf)
        .drop("df")
    val common = inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    val sizes = sh.select(col("id"), size(col("shingles")).as("n_sh"))
    val verified = common
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "n_sh" -> "n_a")), "id_a")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "n_sh" -> "n_b")), "id_b")
      .withColumn("containment",
        graft.functions.Rounding.portableRound(
          col("n_common").cast("double")
            / least(col("n_a"), col("n_b")).cast("double"), 4))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("containment"))
      .dropDuplicates("id_a", "id_b")
    if (maxPairsPerId == Int.MaxValue) verified
    else Knn.topKByScore(verified, Seq("id_a"), "containment", "id_b",
        maxPairsPerId)
      .select(col("id_a"), col("id_b"), col("n_common"), col("containment"))
  }

  /** #24c winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): over the POSITIONAL k-gram hash stream (not the
    * distinct set — order matters), select each w-window's minimum
    * hash; the distinct selected values are the doc's fingerprints.
    * Guarantee: any shared run of ≥ w+k−1 tokens shares ≥1
    * fingerprint — so unlike MinHash (whole-doc similarity) this finds
    * LOCAL overlap, and keeps ~1/w of the grams (here w=4: 4× smaller
    * index than full inverted-shingle).
    *
    * Everything up to the fingerprint set is narrow codegen'd array
    * ops; then the same df-cut + inverted self-join shape as
    * [[ngramJaccardPairs]], but over the winnowed (smaller) index.
    * The tie rule (which POSITION holds a repeated window min) doesn't
    * matter here: only selected VALUES are kept, and those are
    * tie-invariant. Returns (id_a, id_b, n_shared) ≥ `minShared`. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 5, window: Int = 4, minShared: Int = 2,
                  maxDf: Int = Int.MaxValue): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, n, window)
    val inv =
      if (maxDf == Int.MaxValue) fps
      else fps
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("f"))))
        .filter(col("df") <= maxDf)
        .drop("df")
    inv.as("a").join(inv.as("b"),
        col("a.f") === col("b.f") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** #24d incremental winnowing: flag which `incoming` docs share ≥
    * `minShared` winnow fingerprints with a `seen` corpus — the
    * delta-over-corpus form of [[winnowPairs]] (local-overlap / quote
    * detection against everything already ingested). The seen side
    * collapses to its DISTINCT fingerprint set (in production: a
    * maintained keyed table bucketed by fingerprint, appended per
    * batch); the delta fingerprints join it, so cost scales with the
    * DELTA and the fingerprint index is ~1/w of an inverted-shingle
    * one. Returns (id, n_fp, n_hit, is_dup). */
  def incrementalWinnow(incoming: DataFrame, seen: DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 5, window: Int = 4,
                        minShared: Int = 2): DataFrame = {
    val seenFp = winnowFingerprints(seen, idCol, textCol, n, window)
      .select(col("f")).distinct().withColumn("_hit", lit(1L))
    winnowFingerprints(incoming, idCol, textCol, n, window)
      .join(seenFp, Seq("f"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_fp"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
      .select(col("id"), col("n_fp"), col("n_hit"),
        (col("n_hit") >= minShared).as("is_dup"))
  }

  /** Winnow fingerprint relation (id, f) — shared by [[winnowPairs]]
    * and [[incrementalWinnow]]. One native call per row
    * ([[graft.functions.expr.WinnowFingerprints]]) — the composed
    * array-lambda form re-evaluates the gram-hash array inside every
    * window lambda (tokens × windows md5s per row), which took the
    * sf0.1 gate from sub-second to 90 s. */
  private def winnowFingerprints(docs: DataFrame, idCol: String,
                                 textCol: String, n: Int,
                                 window: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(org.apache.spark.sql.GraftBridge.column(
        graft.functions.expr.WinnowFingerprints(
          org.apache.spark.sql.GraftBridge.expression(col(textCol)), n, window)))
        .as("f"))

  /** Bound a band-bucket self-join: rows within each (band, key) bucket
    * rank by id; the first `maxBucket` ("core") members pair with each
    * other (≤ maxBucket²/2 candidate edges per bucket), and every
    * OVERFLOW member emits exactly one "star" edge to the bucket's
    * min-id hub instead of pairing with everyone — O(bucket) edges.
    *
    * CONTRACT — the cap is an approximation, stated precisely: under
    * DUPLICATE-SKEW overflow (the bucket exceeds `maxBucket` because
    * one near-identical document repeats — viral boilerplate, crawl
    * duplicates) every member is a near-dup of the hub, the verify
    * keeps the star edges, and connected components equal the uncapped
    * self-join's. But a bucket can also overflow on CHANCE collisions
    * (short documents with tiny shingle sets sharing one band key
    * without high similarity); there, a genuine near-dup pair BETWEEN
    * two overflow members is dropped when neither verifies against the
    * hub — capped recall is exact for core×core and core×overflow
    * pairs, best-effort for overflow×overflow. Callers needing the
    * uncapped exact join (small corpora, oracle checks) pass
    * `maxBucket = Int.MaxValue`; the default stays capped because the
    * uncapped form is the first plan to fall over under crawl-duplicate
    * skew at 100 TB. This is the batch twin of the streaming cap at
    * [[graft.streaming.StreamingNearDup]] (maxBucket there bounds the
    * flatMapGroupsWithState bucket state with the same argument), and
    * the same dial as the inverted-index df-cut: without it one document
    * duplicated k times produces k²/2 candidate pairs in a single band
    * bucket — the first plan to fall over under crawl-duplicate skew at
    * 100 TB. Input must carry (id, band, key) plus any extra columns;
    * returns one row per candidate edge with BOTH sides' extra columns
    * under `a.`/`b.` prefixes and id_a < id_b.
    * The per-bucket window is partitioned by (band, key): a pathological
    * bucket of k members costs one O(k log k) sort task and emits O(k)
    * rows — linear where the join was quadratic. */
  private[operators] def cappedBandPairs(banded: DataFrame, maxBucket: Int,
                              extra: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = banded.withColumn("_r",
      row_number().over(
        Window.partitionBy(col("band"), col("k1"), col("k2")).orderBy(col("id"))))
    val core = ranked.filter(col("_r") <= maxBucket)
    val corePairs = core.as("a").join(core.as("b"),
        col("a.band") === col("b.band") && col("a.k1") === col("b.k1") &&
          col("a.k2") === col("b.k2") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a") +: col("b.id").as("id_b") +:
        extra.flatMap(c => Seq(col(s"a.$c").as(s"a_$c"), col(s"b.$c").as(s"b_$c"))): _*)
    // overflow → exactly one star edge to the bucket's min-id hub (the
    // rank-1 row; hub id < member id by the rank ordering), carrying the
    // hub's extras via a one-row-per-bucket equi-join
    val hubRows = ranked.filter(col("_r") === 1)
      .select(col("band") +: col("k1") +: col("k2") +: col("id").as("id_a") +:
        extra.map(c => col(c).as(s"a_$c")): _*)
    val starPairs = ranked.filter(col("_r") > maxBucket)
      .select(col("band") +: col("k1") +: col("k2") +: col("id").as("id_b") +:
        extra.map(c => col(c).as(s"b_$c")): _*)
      .join(hubRows, Seq("band", "k1", "k2"))
      .select(col("id_a") +: col("id_b") +:
        extra.flatMap(c => Seq(col(s"a_$c"), col(s"b_$c"))): _*)
    corePairs.unionByName(starPairs)
  }

  /** Probe-side bucket cap for the incremental LSH forms: keep only the
    * `maxBucket` lowest-id SEEN members of each (band, key) bucket, so
    * one incoming doc probing a viral-boilerplate bucket meets at most
    * `maxBucket` reference rows per band instead of the whole bucket —
    * the candidate join is O(|delta| · bands · maxBucket) worst case.
    * Same transitivity argument as [[cappedBandPairs]]: a bucket only
    * overflows when one near-identical document repeats, and then the
    * kept members represent it for the verify step. The incoming side
    * is never capped — every delta row must get its own answer. */
  private def capSeenBuckets(seenBanded: DataFrame, idAs: String,
                             maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    seenBanded.withColumn("_r", row_number().over(
        Window.partitionBy(col("band"), col("k1"), col("k2")).orderBy(col(idAs))))
      .filter(col("_r") <= maxBucket).drop("_r")
  }

  /** #22 MinHash+LSH near-dup pairs: shingle → k-hash minhash signature
    * (narrow) → `bands` band keys (narrow) → explode band keys and
    * self-join on (band, key) for candidates (the only wide op; shuffle
    * keys are 16-byte digests) → exact-Jaccard verify on candidates
    * only. Returns (id_a, id_b, jaccard) for verified pairs.
    * At 100 TB: signatures are 16 md5s/doc; candidate volume is
    * controlled by band geometry (b=4, r=4 ⇒ collision prob j⁴ per
    * band) AND by the `maxBucket` bucket cap ([[cappedBandPairs]]): an
    * adversarially duplicated document cannot go quadratic — beyond the
    * cap it contributes one star edge per copy. The cap's recall
    * contract (exact under duplicate-skew overflow; best-effort for
    * pairs between overflow members of a chance-collision bucket) is
    * stated at [[cappedBandPairs]]; `maxBucket = Int.MaxValue` restores
    * the exact uncapped join.
    *
    * Verify-strategy MEASUREMENT (committed before any swap, per the
    * measure-first discipline): the per-pair `array_intersect` verify
    * vs an inverted-index `n_common` count over the same capped
    * candidates ([[graft.operators]] MinhashVerifyProbeSpec,
    * `SPARK_GRAFT_MEASURE=1`) — documents @ sf0.1: 1.38 s vs 1.08 s;
    * @ sf1: 7.64 s vs 6.82 s (medians of 3; the box carries ±40%
    * timing noise). Identical verified pairs both ways. NOT material,
    * so the per-pair intersect stays: it ships each shingle set once
    * into the candidate join instead of exploding every (id, shingle)
    * row through two extra exchanges, and its advantage grows with
    * candidate selectivity. `maxPairsPerId` (opt-in,
    * Int.MaxValue = uncapped) additionally budgets the verified OUTPUT
    * per id_a — under crawl duplication the true pair count grows
    * quadratically in a document's copy count even when candidates are
    * capped, and for dedup decisions the strongest matches are the
    * answer (same dial as [[embeddingPairs]]/[[containmentPairs]];
    * same one-sided contract — see [[containmentPairs]]).
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 5, numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5,
                      maxBucket: Int = 64,
                      maxPairsPerId: Int = Int.MaxValue): DataFrame = {
    val sh = shingled(docs, idCol, textCol, n)
    // band keys travel WITHOUT the shingle arrays: the candidate join
    // shuffles only (id, band, k1, k2) — at 100 TB the shingle sets are
    // the bulk of the row, and re-deriving them from the (narrow,
    // codegen'd) scan for the verify join is far cheaper than pushing
    // bands×|set| copies through the exchange. Keys are the PACKED
    // numeric form ([[lshBandKeysPacked]] — injective, so buckets and
    // pairs are identical to the string-keyed banding the oracle
    // replays): the exchange/rank/self-join compare fixed-width longs.
    val banded = bandedPacked(sh, numHashes, bands)
    val cand = cappedBandPairs(banded, maxBucket, Nil)
      .dropDuplicates("id_a", "id_b")
    // MEASURED AND REJECTED (r21, evidence in OPTIMIZATION_r21.md §4):
    // checkpointing the candidate pairs and shingling only CANDIDATE
    // docs for the verify joins (semi-join prefilter of the two sh
    // reads) is regime-fragile — under crawl-style replication (the
    // sf1 sweep corpus; every doc has copies) the candidate id set IS
    // the corpus, so the prefilter saves nothing and its checkpoint +
    // semi-join overhead REGRESSES every family row (sf1 medians:
    // dedup_minhash_lsh 6.18→6.90, corpus_clean 8.45→10.66,
    // dedup_cluster_best 6.97→8.46). The two full-corpus shingle
    // recomputes below stay: recompute-from-the-narrow-scan is the
    // regime-robust form (same verdict as the spans pre-filter, r20).
    val verified = cand
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("jaccard", graft.functions.Rounding.portableRound(jaccard(col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      // final uniqueness guard: if `docs` carried duplicate ids the two
      // verify joins above fan out; this dedup runs on the (tiny)
      // verified-pair set, so the extra exchange is negligible
      .dropDuplicates("id_a", "id_b")
    // per-doc OUTPUT budget (opt-in, the embedding emitters' dial): a
    // document duplicated k times verifies ~k²/2 true pairs however
    // well the bucket cap bounds CANDIDATES — each id_a keeps its
    // strongest pairs (jaccard desc, id_b asc) through the bounded-heap
    // top-k, ≤ budget rows per id across the exchange
    if (maxPairsPerId == Int.MaxValue) verified
    else Knn.topKByScore(verified, Seq("id_a"), "jaccard", "id_b",
        maxPairsPerId)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** #22b incremental MinHash-LSH near-dup: flag which `incoming` docs
    * are near-dups of a `seen` reference corpus — the LSH twin of
    * [[incrementalExact]], for continuous ingestion where yesterday's
    * corpus is the reference and today's crawl is the delta. Band keys
    * for both cohorts join across (the only wide op; no id ordering
    * constraint since the cohorts are disjoint), candidates verify
    * with exact Jaccard, and each incoming doc reports its BEST match
    * (highest jaccard, lowest seen id on ties — deterministic).
    * Returns one row per incoming doc: (id, is_dup, matched_id,
    * jaccard) with NULL match columns for clean docs.
    *
    * At 100 TB the seen side's band keys are computed once and stored
    * (they are 16-byte digests per band — a tiny index table); each
    * daily delta joins its own bands against that index, so
    * incremental cost scales with |delta|, not |corpus|. The seen-side
    * bucket cap shares [[cappedBandPairs]]'s recall contract: an
    * incoming true duplicate of a member capped OUT of a
    * chance-collision bucket can be reported clean — pass
    * `maxBucket = Int.MaxValue` for the exact uncapped probe. */
  def incrementalMinhashLsh(incoming: DataFrame, seen: DataFrame,
                            idCol: String, textCol: String,
                            n: Int = 5, numHashes: Int = 16, bands: Int = 4,
                            threshold: Double = 0.5,
                            maxBucket: Int = 64): DataFrame = {
    def banded(df: DataFrame, as: String) =
      bandedPacked(shingled(df, idCol, textCol, n), numHashes, bands)
        .withColumnRenamed("id", as)
    val shNew = shingled(incoming, idCol, textCol, n)
    val shSeen = shingled(seen, idCol, textCol, n)
    val cand = banded(incoming, "id_new")
      .join(capSeenBuckets(banded(seen, "id_seen"), "id_seen", maxBucket),
        Seq("band", "k1", "k2"))
      .select(col("id_new"), col("id_seen"))
      .dropDuplicates("id_new", "id_seen")
    val verified = cand
      .join(shNew.select(col("id").as("id_new"), col("shingles").as("sh_n")), "id_new")
      .join(shSeen.select(col("id").as("id_seen"), col("shingles").as("sh_s")), "id_seen")
      .withColumn("jaccard", graft.functions.Rounding.portableRound(jaccard(col("sh_n"), col("sh_s")), 4))
      .filter(col("jaccard") >= threshold)
    // best match per incoming doc: struct max orders by (jaccard, -id)
    // so ties resolve to the LOWEST seen id
    val best = verified
      .groupBy(col("id_new"))
      .agg(max(struct(col("jaccard"), (-col("id_seen")).as("neg_id"))).as("b"))
      .select(col("id_new"),
        (-col("b.neg_id")).as("matched_id"), col("b.jaccard").as("jaccard"))
    incoming.select(col(idCol).as("id"))
      .join(best, col("id") === col("id_new"), "left")
      .select(col("id"), col("id_new").isNotNull.as("is_dup"),
        col("matched_id"), col("jaccard"))
  }

  /** #22d the two index tables that make #22b's "computed once and
    * stored" promise concrete: per-doc LSH band keys (4 rows/doc) and
    * the per-doc distinct shingle rows — both in long format with
    * composite unique keys, i.e. exactly the shape
    * [[graft.store.KeyedTable]] persists. Build once per corpus;
    * every future delta probes these instead of recomputing the
    * reference corpus' signatures.
    *
    * EAGER: the shared shingle frame is `localCheckpoint`ed, which runs
    * a Spark job (tokenize, slide, distinct over all of `seen`) inside
    * this call, before either returned frame is used. */
  def lshIndexTables(seen: DataFrame, idCol: String, textCol: String,
                     n: Int = 5, numHashes: Int = 16,
                     bands: Int = 4): (DataFrame, DataFrame) = {
    // both index frames read the shingling of the FULL seen corpus —
    // checkpoint it so tokenize+slide+distinct runs once, not once per
    // downstream table write (§5 reuse; the ContextCleaner reclaims the
    // blocks with the frames)
    val sh = shingled(seen, idCol, textCol, n).localCheckpoint()
    val bandRows = bandedPacked(sh, numHashes, bands)
    val shingleRows = sh.select(col("id"), explode(col("shingles")).as("shingle"))
    (bandRows, shingleRows)
  }

  /** #22d incremental MinHash-LSH against a PERSISTED index: same
    * contract and output as [[incrementalMinhashLsh]], but the seen
    * corpus arrives as the two [[lshIndexTables]] frames (read back
    * from the store) instead of raw text — the incremental-ingestion
    * shape at 100 TB, where yesterday's corpus is an index table and
    * only the delta's signatures are ever computed. Verification
    * replays exact Jaccard from the long-format shingle rows: common
    * counts via one (id, shingle) equi-join restricted to candidates,
    * set sizes via one count per side, and the SAME double-division
    * shape as [[graft.functions.TextFunctions.jaccard]] so the result
    * hashes identically to the recompute-everything form. */
  def incrementalMinhashLshFromIndex(incoming: DataFrame,
                                     seenBands: DataFrame,
                                     seenShingles: DataFrame,
                                     idCol: String, textCol: String,
                                     n: Int = 5, numHashes: Int = 16,
                                     bands: Int = 4,
                                     threshold: Double = 0.5,
                                     maxBucket: Int = 64): DataFrame = {
    import graft.functions.Rounding.portableRound
    val shNew = shingled(incoming, idCol, textCol, n)
    val newBands = bandedPacked(shNew, numHashes, bands)
      .withColumnRenamed("id", "id_new")
    val cand = newBands
      .join(capSeenBuckets(
          seenBands.select(col("id").as("id_seen"), col("band"),
            col("k1"), col("k2")),
          "id_seen", maxBucket),
        Seq("band", "k1", "k2"))
      .select(col("id_new"), col("id_seen"))
      .dropDuplicates("id_new", "id_seen")
    val newEx = shNew.select(col("id").as("id_new"),
      explode(col("shingles")).as("shingle"))
    val common = cand.join(newEx, "id_new")
      .join(seenShingles.select(col("id").as("id_seen"), col("shingle")),
        Seq("id_seen", "shingle"))
      .groupBy(col("id_new"), col("id_seen"))
      .agg(count(lit(1)).as("n_common"))
    val sizesNew = shNew.select(col("id").as("id_new"),
      size(col("shingles")).as("n_a"))
    val sizesSeen = seenShingles.groupBy(col("id").as("id_seen"))
      .agg(count(lit(1)).cast("int").as("n_s"))
    // same double shape as TextFunctions.jaccard: inter cast first,
    // integer sizes subtract the double — bit-identical to the
    // array_intersect form on the same counts
    val interD = col("n_common").cast("double")
    val verified = common
      .join(sizesNew, "id_new").join(sizesSeen, "id_seen")
      .withColumn("jaccard",
        portableRound(interD / (col("n_a") + col("n_s") - interD), 4))
      .filter(col("jaccard") >= threshold)
    val best = verified
      .groupBy(col("id_new"))
      .agg(max(struct(col("jaccard"), (-col("id_seen")).as("neg_id"))).as("b"))
      .select(col("id_new"),
        (-col("b.neg_id")).as("matched_id"), col("b.jaccard").as("jaccard"))
    incoming.select(col(idCol).as("id"))
      .join(best, col("id") === col("id_new"), "left")
      .select(col("id"), col("id_new").isNotNull.as("is_dup"),
        col("matched_id"), col("jaccard"))
  }

  /** #23 SimHash near-dup pairs: 64-bit simhash per doc (narrow), band
    * the bits into `bands` slices, candidates share an exact slice
    * (pigeonhole: hamming < bands ⇒ ≥1 equal slice), verify
    * hamming ≤ maxHamming. Returns (id_a, id_b, hamming).
    * Uses the md5-based portable signature so the DuckDB oracle can
    * replay it; pass `portable = false` for the xxhash64 fast path.
    * `maxBucket` recall contract as stated at [[cappedBandPairs]];
    * `Int.MaxValue` restores the exact uncapped join. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bands: Int = 4, maxHamming: Int = 3,
                   portable: Boolean = true,
                   maxBucket: Int = 64): DataFrame = {
    val sigFn: Column => Column = if (portable) simhash64Portable else simhash64
    val sigs = docs.select(col(idCol).as("id"), sigFn(col(textCol)).as("sig"))
    val banded = sigs.select(col("id"), col("sig"),
      explode(simhashBands(col("sig"), bands)).as("b"))
      // cappedBandPairs keys on two longs (the minhash family's packed
      // form); simhash slices are single longs — k2 pads constant
      .select(col("id"), col("sig"), col("b.band").as("band"),
        col("b.key").as("k1"), lit(-1L).as("k2"))
    // same bucket cap as the MinHash family: a slice shared by k
    // near-identical docs emits star edges beyond `maxBucket` instead of
    // k²/2 pairs; the hamming verify sees both sides' signatures either way
    cappedBandPairs(banded, maxBucket, Seq("sig"))
      .select(col("id_a"), col("id_b"),
        hamming64(col("a_sig"), col("b_sig")).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** #21i exact repeated-substring spans — the distributed re-expression
    * of suffix-array substring dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better": any ≥w-char substring
    * that appears twice anywhere in the corpus is training-data
    * duplication, even when the documents as wholes are unique).
    * Every w-char window of every document is hashed (stride 1); a
    * window is duplicated iff its hash occurs ≥ `minOccurrences` times
    * corpus-wide (intra- OR cross-document); per document, runs of
    * consecutive duplicated positions merge into MAXIMAL spans
    * [start, end) — the byte ranges a cleaning pass would cut.
    *
    * Scale shape: the fanout is one narrow (id, pos, hash) triple per
    * character — the same O(total bytes) a suffix array costs, shipped
    * as rows instead of an in-memory array, so it partitions freely.
    * Duplicate detection is one hash-keyed aggregate + a semi-join
    * (map-side partial count; no doc text ever shuffles — hashes
    * only). The span merge is a per-document gaps-and-islands window,
    * bounded by document length; a corpus of book-length docs would
    * chunk-salt it exactly like the gap-repair family
    * ([[AsOf.ffillSalted]]) — islands can't cross a chunk boundary
    * that duplicated windows don't span. */
  /** The stride-1 window-hash fanout shared by [[duplicateSpans]] and
    * [[duplicateSpansCut]]: (id, pos, h1, h2) — one row per w-char
    * window, keyed by the 128-bit content hash pair
    * ([[graft.functions.expr.WindowHashPairs]]). */
  private def spanWindowHashes(docs: DataFrame, idCol: String,
                               textCol: String, w: Int): DataFrame =
    docs.filter(length(col(textCol)) >= w)
      .select(col(idCol).as("id"),
        posexplode(org.apache.spark.sql.GraftBridge.column(
          graft.functions.expr.WindowHashPairs(
            org.apache.spark.sql.GraftBridge.expression(col(textCol)), w)))
          .as(Seq("pos", "h")))
      .select(col("id"), col("pos"),
        col("h.h1").as("h1"), col("h.h2").as("h2"))

  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     w: Int = 40, minOccurrences: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // 128-bit numeric window hashes (one codegen'd pass per doc) in
    // place of md5-hex strings: the fanout's exchange keys drop from
    // 32-byte strings to two longs, and no interpreted HOF lambda runs
    // per window. Hash VALUES never reach the output — only equality
    // classes — so spans are unchanged (the oracle replays md5).
    val wins = spanWindowHashes(docs, idCol, textCol, w)
    // corpus-wide occurrence count as a window over the hash pair: ONE
    // computation of the fanout and one exchange. The measured
    // alternative (hash-aggregate the dup classes, join the fanout
    // against them) wins only when duplication is rare — under heavy
    // replication (the sf1 sweep corpus is 10× copied text; a crawl
    // looks the same) the dup set is EVERY distinct window, the join
    // side outgrows broadcast, and the fallback sort-merge join pays
    // the same full-fanout sort PLUS a second fanout computation
    // (sf1: 51.9 s vs 12 s for this form). The sort's keys are two
    // longs, not 32-byte md5 strings — that swap alone is the win
    // (sf1 fanout: 27.3 s md5 → 2.4 s).
    // occurrence test as STREAMING window functions: count() over an
    // unordered partition buffers every partition's rows (measured
    // 17.6 s vs 7.2 s at sf1 against the running-frame rank the _cut
    // twin uses); fixed-offset lag/lead probes run in one streaming
    // pass over the same sort. General k: a row's class has >= k
    // members iff for SOME split i + (k-1-i) of its k-1 required
    // neighbors, lag(pos, i) and lead(pos, k-1-i) both exist — k
    // offset probes over ONE ordered pass, no counting window for any
    // minOccurrences (k = 2 reduces to "has a predecessor or a
    // successor", the prior fast path; cross-checked against the
    // brute-force counter for k = 2 and 3 in DuplicateSpansSpec).
    val byClass = Window.partitionBy(col("h1"), col("h2"))
      .orderBy(col("id"), col("pos"))
    val k = minOccurrences.max(1)
    val hasClassOfK = (0 until k).map { i =>
      val before =
        if (i == 0) lit(true)
        else lag(col("pos"), i).over(byClass).isNotNull
      val after =
        if (k - 1 - i == 0) lit(true)
        else lead(col("pos"), k - 1 - i).over(byClass).isNotNull
      before && after
    }.reduce(_ || _)
    val dupPos = wins.withColumn("_dup", hasClassOfK)
      .filter(col("_dup")).select(col("id"), col("pos"))
    // consecutive duplicated positions share (pos - rank): one island
    // per maximal run, merged by a bounded per-doc aggregate
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    dupPos.withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + w).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id"), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** #21j the CUT that [[duplicateSpans]] reports: every duplicated
    * window keeps exactly its FIRST occurrence corpus-wide (minimum
    * (doc, pos) — deterministic, engine-portable) and every other
    * occurrence's position is marked for removal; marked positions
    * merge into maximal islands per doc and the per-doc removed-byte
    * total and surviving fraction come out. This is the substring-dedup
    * decision a cleaning pass applies (Lee et al. 2021 keep-one-copy),
    * as a frame of exact integers — the text itself is cut downstream
    * with one substring projection per span.
    *
    * Same scale shape as the detector: one stride-1 hash fanout, ONE
    * window pass over the hash (rank + nothing else), bounded per-doc
    * island merge. */
  def duplicateSpansCut(docs: DataFrame, idCol: String, textCol: String,
                        w: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // same numeric-hash fanout as [[duplicateSpans]] (and the same
    // measured rejection of the aggregate+join pre-filter — see the
    // comment there): ONE fanout, one exchange, rank window keyed by
    // two longs instead of a 32-byte md5 string
    val wins = spanWindowHashes(docs, idCol, textCol, w)
    // rank occurrences of each window corpus-wide; rank 1 = canonical
    val cut = wins.withColumn("rn", row_number().over(
        Window.partitionBy(col("h1"), col("h2")).orderBy(col("id"), col("pos"))))
      .filter(col("rn") > 1)
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    val spans = cut.withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("id"), col("grp"))
      .agg((max(col("pos")) - min(col("pos")) + w).cast("long").as("len"))
    val perDoc = spans.groupBy(col("id"))
      .agg(sum(col("len")).as("cut"), count(lit(1)).as("ns"))
    docs.select(col(idCol).as("id"),
        length(col(textCol)).cast("long").as("n_chars"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_chars"),
        coalesce(col("cut"), lit(0L)).as("n_cut_chars"),
        coalesce(col("ns"), lit(0L)).as("n_spans"),
        graft.functions.Rounding.portableRound(
          lit(1.0) - coalesce(col("cut"), lit(0L)).cast("double")
            / col("n_chars").cast("double"), 4).as("kept_frac"))
  }

  /** #25b Connected components over an undirected near-dup pair list —
    * turns pairwise matches into dedup CLUSTERS so a pipeline can keep
    * one canonical doc per group (the member with the minimum id).
    * Returns (id, cluster_id) for every id appearing in `pairs`.
    *
    * Min-label propagation: each round every node takes the minimum of
    * its own label and its neighbors' labels; converges in
    * O(component diameter) rounds. Near-dup clusters are shallow (most
    * are pairs/triangles), so this is 2-4 rounds in practice; `maxIter`
    * caps pathological chains. Each round is one shuffle join on the
    * (tiny, pairs-only) edge list — the full corpus is never touched,
    * which is what makes clustering viable at 100 TB: |pairs| ≪ |docs|.
    * The per-round convergence check is a `limit(1)` probe, not a full
    * count. Labels are localCheckpointed every few rounds to keep the
    * lineage from growing with the iteration count.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 20): DataFrame = {
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    var iter = 0
    var converged = false
    try {
      while (iter < maxIter && !converged) {
        val nbrMin = edges.join(labels, edges("dst") === labels("id"))
          .groupBy(col("src")).agg(min(col("lbl")).as("nbr_lbl"))
        // carry the previous label so materialization + convergence
        // check are ONE action on the checkpointed frame per round
        val next = labels.as("l")
          .join(nbrMin, col("l.id") === nbrMin("src"), "left")
          .select(col("l.id").as("id"),
            least(col("l.lbl"), coalesce(col("nbr_lbl"), col("l.lbl"))).as("lbl"),
            col("l.lbl").as("prev"))
          .localCheckpoint() // materializes + truncates lineage per round
        converged = next.filter(col("lbl") =!= col("prev")).limit(1).isEmpty
        labels = next.select(col("id"), col("lbl"))
        iter += 1
      }
    } finally edges.unpersist()
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** Fixed-size token segments of a document: consecutive `segTokens`
    * word windows (last one possibly shorter). The unit of sub-document
    * dedup — the Spark twin of CCNet/Gopher paragraph hashing, adapted
    * to the corpus's single-line documents. Narrow, and native
    * ([[graft.functions.expr.Segments]] — one JVM pass; the composed
    * transform/slice/array_join form is interpreted, HOFs never enter
    * whole-stage codegen). */
  private[graft] def segmentArray(text: Column, segTokens: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.expr.Segments(
        org.apache.spark.sql.GraftBridge.expression(text), segTokens))

  /** #21d segment-level corpus dedup (CCNet-style boilerplate removal):
    * split every doc into `segTokens`-token segments, drop segments
    * whose document frequency exceeds `maxDf` (shared boilerplate /
    * near-dup payload), reassemble the survivors in order. Returns
    * (id, n_segs, n_kept, clean_text) for EVERY input doc (docs whose
    * segments are all boilerplate come back with an empty clean_text).
    *
    * Scale shape: the df count runs on 16-byte md5 digests — only
    * (id, digest) rows shuffle for counting, never segment text — and
    * the drop-set it produces (df > maxDf) is the boilerplate
    * vocabulary, tiny relative to the corpus, so AQE turns the
    * anti-join into a broadcast at runtime. Segment text itself moves
    * through exactly one exchange: the per-doc reassembly groupBy,
    * which any doc-rewriting operator pays. */
  def segmentDedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                         segTokens: Int = 8, maxDf: Int = 1): DataFrame = {
    val segs = docs
      .select(col(idCol).as("id"), posexplode(segmentArray(col(textCol), segTokens))
        .as(Seq("seg_idx", "seg")))
      .withColumn("h", md5(col("seg")))
    val dropSet = segs.select(col("id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("seg_df"))
      .filter(col("seg_df") > maxDf)
      .select(col("h"))
    val rebuilt = segs.join(dropSet, Seq("h"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            s => s.getField("seg")), " ").as("clean_text"))
    docs.select(col(idCol).as("id"),
        size(segmentArray(col(textCol), segTokens)).cast("long").as("n_segs"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** #21e intra-document segment dedup: drop repeated segments WITHIN a
    * doc, keeping each segment's first occurrence (self-plagiarism /
    * generation-loop cleanup). Completely narrow — zero shuffles; the
    * first-occurrence selection is ONE native hash-set pass per row
    * ([[graft.functions.expr.SegmentsDistinct]] — the composed
    * HOF-filter + array_position form was interpreted and O(segs²);
    * the native swap cut the sf0.1 query ~4×). n_segs stays pure
    * integer math on the token count (codegen). Returns
    * (id, n_segs, n_unique, clean_text). */
  def segmentDedupIntra(docs: DataFrame, idCol: String, textCol: String,
                        segTokens: Int = 8): DataFrame =
    docs
      .select(col(idCol).as("id"),
        floor((size(split(col(textCol), " ")) + lit(segTokens - 1))
          / lit(segTokens.toDouble)).cast("long").as("n_segs"),
        segmentsDistinct(col(textCol), segTokens).as("uniq"))
      .select(col("id"), col("n_segs"),
        size(col("uniq")).cast("long").as("n_unique"),
        array_join(col("uniq"), " ").as("clean_text"))

  /** #25 Embedding cosine near-dup pairs above `threshold`.
    * `exact=true` scores all n²/2 pairs (broadcast nested-loop — only
    * for modest n or recall verification); default is hyperplane-LSH:
    * `tables` independent `planes`-bit sign signatures per vector
    * (seeded hyperplane sets), candidates are pairs whose signatures
    * agree within hamming ≤ 1 in ANY table (hamming-1 multi-probe —
    * the probe side explodes each signature into planes+1 bit-flip
    * variants). Same recipe as [[Knn.lsh]], so recall at moderate
    * angles comes from table/probe union while per-bucket candidate
    * cost stays bounded by bucket geometry — the all-pairs product
    * never materializes. Only (id, table, signature) rows move through
    * the candidate shuffle; vectors are re-joined narrowly for the
    * verify scoring. At larger corpus sizes raise `planes`
    * (bucket occupancy ~ n/2^planes per table).
    *
    * Two skew dials bound the LSH path (the [[cappedBandPairs]] move,
    * extended to multi-probe; both off on the exact path):
    *  - `maxBucket`: within each (table, signature) bucket only the
    *    `maxBucket` lowest-id "core" members join as the build side —
    *    a probe meets ≤ maxBucket rows per bucket, so candidate volume
    *    is O(n · tables · probes · maxBucket), LINEAR however hard a
    *    crawl duplicates one document — and every overflow member
    *    still emits one star edge to its bucket's min-id hub, so a
    *    duplicate-skew clique stays one connected component (exact
    *    under duplicate-skew overflow; best-effort for pairs between
    *    overflow members of a chance-collision bucket — the
    *    cappedBandPairs contract). OPT-IN (Int.MaxValue = uncapped,
    *    the default): capping is a recall trade — a multi-probe match
    *    landing on an overflow member is kept only via its star edge —
    *    so callers choose it explicitly, like `maxPairsPerId`.
    *  - `maxPairsPerId`: a per-doc OUTPUT budget — each id_a keeps its
    *    `maxPairsPerId` strongest pairs (cos desc, id_b asc) through
    *    the bounded-heap top-k aggregate (≤ budget rows per id cross
    *    the exchange, map-side partials — never a global sort). For
    *    dedup decisions the strongest matches are the answer; a doc
    *    with 10⁴ near-copies does not need 10⁴ listed pairs. Requires
    *    a numeric id column. Int.MaxValue = uncapped. One-sided: see
    *    [[containmentPairs]] — total output is O(n · budget), but a
    *    doc's id_b-side participation is not capped. */
  def embeddingPairs(embs: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, exact: Boolean = false,
                     planes: Int = 8, tables: Int = 4,
                     maxBucket: Int = Int.MaxValue,
                     maxPairsPerId: Int = Int.MaxValue): DataFrame = {
    import graft.functions.VectorFunctions._
    // norm precomputed once per ROW, not once per PAIR — the pair-level
    // work is a single dot-product fold (3× less lambda work in the join)
    val v = embs.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm2(col(vecCol)).as("nrm"))
    def score(pairs: DataFrame): DataFrame =
      pairs.select(col("id_a"), col("id_b"),
          graft.functions.Rounding.portableRound(dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")), 4)
            .as("cos"))
        .filter(col("cos") >= threshold)
    if (exact) {
      // the corpus often arrives as one parquet file = one partition;
      // spread the streamed side so the broadcast nested-loop join
      // parallelizes across all cores instead of one task
      val spread = v.repartition(v.sparkSession.sparkContext.defaultParallelism)
      score(spread.as("a").join(broadcast(v).as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.vec").as("vec_a"), col("b.vec").as("vec_b"),
          col("a.nrm").as("nrm_a"), col("b.nrm").as("nrm_b")))
    } else {
      import org.apache.spark.sql.expressions.Window
      val sigs = v.select(col("id"),
        posexplode(array((0 until tables).map(t =>
          hyperplaneLshSignature(col("vec"), planes, t)): _*)).as(Seq("t", "sig")))
      val masks = 0L +: (0 until planes).map(p => 1L << p)
      val probes = sigs.select(col("id"), col("t"),
        explode(array(masks.map(m => col("sig").bitwiseXOR(lit(m))): _*)).as("psig"))
      def probeJoin(build: DataFrame): DataFrame =
        probes.as("a").join(build.as("b"),
            col("a.t") === col("b.t") && col("a.psig") === col("b.sig") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      val cand =
        if (maxBucket == Int.MaxValue) // uncapped: no rank window at all
          probeJoin(sigs).dropDuplicates("id_a", "id_b")
        else {
          // bucket cap: rank members per (table, signature); probes join
          // only the CORE (lowest maxBucket ids), overflow members emit
          // one star edge to the bucket hub — candidate volume stays
          // linear under duplicate skew (contract in the scaladoc above)
          val ranked = sigs.withColumn("_r", row_number().over(
            Window.partitionBy(col("t"), col("sig")).orderBy(col("id"))))
          val core = ranked.filter(col("_r") <= maxBucket).drop("_r")
          val stars = ranked.filter(col("_r") > maxBucket)
            .select(col("t"), col("sig"), col("id").as("id_b"))
            .join(ranked.filter(col("_r") === 1)
              .select(col("t"), col("sig"), col("id").as("id_a")), Seq("t", "sig"))
            .select(col("id_a"), col("id_b")) // hub id < member id by rank
          probeJoin(core).unionByName(stars).dropDuplicates("id_a", "id_b")
        }
      val scored = score(cand
        .join(v.select(col("id").as("id_a"), col("vec").as("vec_a"), col("nrm").as("nrm_a")), "id_a")
        .join(v.select(col("id").as("id_b"), col("vec").as("vec_b"), col("nrm").as("nrm_b")), "id_b"))
      if (maxPairsPerId == Int.MaxValue) scored
      else Knn.topKByScore(scored, Seq("id_a"), "cos", "id_b", maxPairsPerId)
        .select(col("id_a"), col("id_b"), col("cos"))
    }
  }

  /** #25c incremental embedding near-dup: flag which `incoming` vectors
    * are near-dups (cosine ≥ threshold) of a `seen` reference corpus —
    * the embedding twin of [[incrementalMinhashLsh]] for continuous
    * ingestion. Incoming-side signatures probe at hamming distance ≤ 1
    * against the seen side's hyperplane signatures (the only wide op —
    * 8-byte keys, no vectors), candidates verify with the exact
    * cosine, and each incoming vector reports its BEST match (highest
    * cos, lowest seen id on ties). Returns one row per incoming
    * vector: (id, is_dup, matched_id, cos) — NULL match for clean.
    *
    * At 100 TB the seen side's signatures are a stored index (tables ×
    * 8 bytes per vector); a daily delta joins its probes against that
    * index, so incremental cost scales with |delta|, not |corpus|.
    *
    * `maxBucket` caps the SEEN side per (table, signature) bucket at
    * its lowest-id members (the [[capSeenBuckets]] move): one incoming
    * vector probing a viral-duplicate bucket meets ≤ maxBucket
    * reference rows per probe instead of every copy — candidate volume
    * O(|delta| · tables · probes · maxBucket). A bucket only overflows
    * under duplicate skew, and then its kept members represent the
    * duplicate for the verify; the incoming side is never capped.
    * Opt-in (Int.MaxValue = uncapped, the default) — capping trades
    * recall on matches to dropped bucket members, so callers choose it. The
    * best-match fold is the bounded-heap top-1 aggregate (map-side
    * partials, ≤ 1 row per incoming id through the exchange — never a
    * global window sort over the candidate product). */
  def incrementalEmbeddingLsh(incoming: DataFrame, seen: DataFrame,
                              idCol: String, vecCol: String,
                              threshold: Double,
                              planes: Int = 8, tables: Int = 4,
                              maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.functions.VectorFunctions._
    def prep(df: DataFrame) = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm2(col(vecCol)).as("nrm"))
    val in = prep(incoming)
    val sn = prep(seen)
    def sigsOf(v: DataFrame) = v.select(col("id"),
      posexplode(array((0 until tables).map(t =>
        hyperplaneLshSignature(col("vec"), planes, t)): _*)).as(Seq("t", "sig")))
    val masks = 0L +: (0 until planes).map(p => 1L << p)
    val probes = sigsOf(in).select(col("id"), col("t"),
      explode(array(masks.map(m => col("sig").bitwiseXOR(lit(m))): _*)).as("psig"))
    val seenSigs = sigsOf(sn)
      .withColumnsRenamed(Map("id" -> "id_seen", "t" -> "st", "sig" -> "ssig"))
    // seen-side bucket cap: lowest-id members represent a duplicate-
    // skew bucket (contract in the scaladoc); opt-in — uncapped skips
    // the rank window entirely
    val cappedSeen =
      if (maxBucket == Int.MaxValue) seenSigs
      else seenSigs.withColumn("_r", row_number().over(
          Window.partitionBy(col("st"), col("ssig")).orderBy(col("id_seen"))))
        .filter(col("_r") <= maxBucket).drop("_r")
    val cand = probes.join(cappedSeen,
        col("t") === col("st") && col("psig") === col("ssig"))
      .select(col("id").as("id_new"), col("id_seen"))
      .dropDuplicates("id_new", "id_seen")
    val scored = cand
      .join(in.select(col("id").as("id_new"), col("vec").as("vec_a"),
        col("nrm").as("nrm_a")), "id_new")
      .join(sn.select(col("id").as("id_seen"), col("vec").as("vec_b"),
        col("nrm").as("nrm_b")), "id_seen")
      .select(col("id_new"), col("id_seen"),
        graft.functions.Rounding.portableRound(dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")), 4)
          .as("cos"))
      .filter(col("cos") >= threshold)
    // best match per incoming via the bounded-heap top-1 (cos desc,
    // id_seen asc) — the window-sort-free form of row_number = 1
    val best = Knn.topKByScore(scored, Seq("id_new"), "cos", "id_seen", 1)
    in.select(col("id"))
      .join(best.select(col("id_new"), col("id_seen").as("matched_id"), col("cos")),
        col("id") === col("id_new"), "left")
      .select(col("id"), col("id_new").isNotNull.as("is_dup"),
        col("matched_id"), col("cos"))
  }

  /** [[semantic]] with the scaladoc's scale rule AS CODE: `cells` is
    * derived from the corpus size as `max(1, n / targetClusterSize)`
    * (one cheap count — parquet footers answer it), so per-cell work
    * Σ|cell|² stays bounded by ~targetClusterSize² per cell as the
    * corpus grows instead of going quadratic under a fixed cell count.
    * At web scale (the SemDeDup paper's ~100k clusters) this is the
    * form to call; the fixed-cells overload remains for pinned
    * geometries (index reuse, oracle replay). */
  def semanticAuto(embs: DataFrame, idCol: String, vecCol: String,
                   targetClusterSize: Int = 64,
                   threshold: Double = 0.35): DataFrame = {
    val cells = math.max(1L, embs.count() / targetClusterSize).toInt
    semantic(embs, idCol, vecCol, cells, threshold)
  }

  /** #25d semantic dedup (the SemDeDup recipe, Abbas et al. 2023):
    * cluster the embedding space with a coarse k-means quantizer, then
    * search for near-duplicates ONLY within each cluster — the
    * quadratic verify is bounded by cluster size instead of corpus
    * size, which is what makes cosine dedup tractable on a 100 TB
    * corpus where even LSH bucket occupancy gets expensive.
    *
    * Cluster assignment reuses the IVF coarse quantizer
    * ([[graft.operators.Knn.seedCentroids]] /
    * [[graft.operators.Knn.nearestCells]]): a NARROW codegen'd argmax
    * per row, no shuffle. The within-cluster pairwise pass shuffles
    * both sides by cell once and verifies with the exact cosine
    * (rounded to 4, same boundary as [[embeddingPairs]]); a row is a
    * duplicate when an earlier (lower-id) row of the same cell is
    * within `threshold` — the deterministic keep-first rule the exact
    * dedup family uses. Parallelism = #cells, so size `cells` ~
    * n/targetClusterSize as the corpus grows (the SemDeDup paper runs
    * ~100k clusters at web scale; the per-cell work is Σ|cell|²).
    * Returns one row per vector: (id, cell, is_dup). */
  def semantic(embs: DataFrame, idCol: String, vecCol: String,
               cells: Int = 16, threshold: Double = 0.35): DataFrame = {
    import graft.functions.VectorFunctions._
    val cents = graft.operators.Knn.seedCentroids(embs, idCol, vecCol, cells)
    val assigned = embs.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm2(col(vecCol)).as("nrm"),
      element_at(graft.operators.Knn.nearestCells(cents, col(vecCol), 1), 1)
        .as("cell"))
    val dups = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("b.id").as("id"),
        graft.functions.Rounding.portableRound(dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")), 4)
          .as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id")).distinct()
    assigned.join(dups.withColumn("_dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("_dup"), lit(false)).as("is_dup"))
  }

  /** #21g cross-source duplication matrix: pairwise shingle-set
    * Jaccard between corpus SOURCES — the corpus-audit view ("how much
    * of src_a is also in src_b?") that decides which sources to
    * downweight before any per-doc dedup runs.
    *
    * Plan: distinct (source, shingle) pairs — the corpus collapses to
    * its per-source shingle vocabulary in one map-side-combined
    * groupBy — then a self-join ON THE SHINGLE joins each shingle's
    * source list against itself (source_a < source_b). Per-shingle
    * fanout is bounded by C(|sources|, 2) — sources are a handful of
    * corpus labels, not data — so the join output is ≤ pairs×shingles,
    * never n². The join key is the md5 digest, so only 16-byte hashes
    * shuffle, not shingle text. Per-source set sizes broadcast back
    * (|sources| rows). Returns one row per source pair with any
    * overlap: (source_a, source_b, n_a, n_b, n_common, jaccard). */
  def sourceOverlap(docs: DataFrame, groupCol: String, textCol: String,
                    n: Int = 5): DataFrame = {
    val sh = docs.select(col(groupCol).as("source"),
        explode(wordShingles(col(textCol), n)).as("sg"))
      .select(col("source"), md5(col("sg")).as("dg")).distinct()
    val sz = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.dg") === col("b.dg") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sz.withColumnsRenamed(Map("source" -> "source_a", "n" -> "n_a"))), "source_a")
      .join(broadcast(sz.withColumnsRenamed(Map("source" -> "source_b", "n" -> "n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"),
        graft.functions.Rounding.portableRound(
          col("n_common").cast("double")
            / (col("n_a") + col("n_b") - col("n_common")).cast("double"), 4)
          .as("jaccard"))
  }
}
