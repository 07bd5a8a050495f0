package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2 #26-27).
  */
object Knn {

  /** Top-k rows per group by (`scoreCol`, `tieCol`) — descending score
    * by default (cosine similarity), ascending with `ascending = true`
    * (ADC distance) — as an AGGREGATE (Spark's bounded-priority-queue
    * CollectTopK via [[org.apache.spark.sql.catalyst.expressions.aggregate.GraftTopK]]),
    * not a window. The difference at scale: the window form shuffles
    * EVERY scored candidate to its query's partition and sorts there —
    * for brute-force kNN that is the entire |Q|×|C| scored product
    * through one exchange. The aggregate's partial step keeps at most
    * k candidates per query per map partition, so the exchange carries
    * ≤ k·|partitions| rows per query — the answer, not the product —
    * and a query whose candidates are spread over the whole corpus
    * never concentrates into one sort task. Ordering: the collected
    * element is struct(score, ±tie, payload…); lexicographic struct
    * comparison reproduces the window's (score desc, tie asc) /
    * (score asc, tie asc) orderings exactly, and the emitted array is
    * already rank-ordered, so rank = position + 1. */
  private[graft] def topKByScore(scored: DataFrame, groupCols: Seq[String],
      scoreCol: String, tieCol: String, k: Int,
      ascending: Boolean = false): DataFrame = {
    val payload = scored.columns.filterNot(groupCols.contains).toSeq
    // ordering prefix: (score, tie) with tie negated in the descending
    // case so "largest struct" = (max score, min tie); the prefix is
    // unique per row, so payload fields never decide a comparison
    val ordPrefix =
      if (ascending) Seq(col(scoreCol).as("_ord"), col(tieCol).as("_tie"))
      else Seq(col(scoreCol).as("_ord"), (-col(tieCol)).as("_tie"))
    val elem = struct(ordPrefix ++ payload.map(col): _*)
    val topk = org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.aggregate.GraftTopK.collectTopK(
        org.apache.spark.sql.GraftBridge.expression(elem), k,
        reverse = ascending))
    scored.groupBy(groupCols.map(col): _*)
      .agg(topk.as("_top"))
      .select(groupCols.map(col) :+ posexplode(col("_top")).as(Seq("_pos", "_e")): _*)
      .select(groupCols.map(col) ++
        payload.map(c => col(s"_e.`$c`").as(c)) :+
        (col("_pos") + 1).as("rank"): _*)
  }

  /** Deterministic seed centroids shared by the IVF/k-means family:
    * the `cells` lowest-id vectors, cast element-wise to double. The
    * SQL oracle replays them (`ORDER BY vec_id LIMIT cells`); at 100 TB
    * you'd sample + Lloyd-refine ([[kmeansRefine]] is that step) — the
    * assignment machinery is identical either way. Driver cost =
    * cells × dims doubles. Ascending-cid order makes IvfCells'
    * first-wins tie-break equal to ORDER BY sim DESC, cid. */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    cells: Int): Array[(Long, Seq[Double])] = {
    val cents: Array[(Long, Seq[Double])] = corpus
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"))
      .orderBy("cid").limit(cells).collect()
      .map { r =>
        val v = r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
          case x => x.toString.toDouble
        }
        (r.getLong(0), v)
      }
    require(cents.nonEmpty, "corpus is empty")
    cents
  }

  /** The ids of the `n` nearest centroids to `vec` by cosine (first-
    * wins tie-break), as ONE native codegen'd call per row
    * (graft.functions.expr.IvfCells; centroids ride as a codegen
    * reference object, so the generated code stays tiny and cheap to
    * recompile). Narrow — no shuffle, no join; scales with the scan. */
  def nearestCells(cents: Array[(Long, Seq[Double])], vec: Column,
                   n: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.expr.IvfCells(
        org.apache.spark.sql.GraftBridge.expression(vec),
        cents.map(_._1).toSeq, cents.map(_._2).toSeq, n))

  /** #26 Brute-force cosine top-k: every query row scored against every
    * corpus row. The corpus↔query product is realized as a broadcast
    * nested-loop join (queries are the small side — broadcast them),
    * then a per-query top-k AGGREGATE ([[topKByScore]]). Exact baseline; cost O(|Q|·|C|·d).
    * At 100 TB the corpus stays partition-local — only the small query
    * set moves — so this parallelizes perfectly; use [[lsh]] when |Q|
    * is also huge. Returns (query_id, neighbor_id, rank, cos).
    */
  def bruteForce(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    // norms once per row; per-pair work inside the join is one dot fold
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm2(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm2(col(vecCol)).as("cn"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", graft.functions.Rounding.portableRound(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
    // prune to (ids, score) BEFORE the aggregate: payload fields ride
    // inside the collected struct buffers, so vectors/norms (and the
    // join's duplicate probe columns) must not reach it
    topKByScore(scored.select("query_id", "neighbor_id", "cos"),
        Seq("query_id"), "cos", "neighbor_id", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** #26b hard-negative mining for contrastive training: for each query
    * vector, the top-k most-similar corpus vectors carrying a DIFFERENT
    * label — the "close but wrong" examples that make metric-learning /
    * embedding-model batches informative (random negatives are easy and
    * carry no gradient; the hardest negatives are exactly the nearest
    * cross-label neighbors). Same exact-cosine scaffold as [[bruteForce]]
    * — queries broadcast, corpus partition-local, the label predicate
    * rides INSIDE the join condition so wrong-label pairs never
    * materialize past the build side. At 100 TB swap the scored side to
    * [[ivf]]/[[lsh]] candidates exactly like the positive-pair path.
    * Returns (query_id, query_label, neighbor_id, neighbor_label, rank,
    * cos) with the usual (cos desc, id) deterministic tie-break. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, labelCol: String,
                    k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(labelCol).as("query_label"), col(vecCol).as("qv"),
      norm2(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"), col(vecCol).as("cv"),
      norm2(col(vecCol)).as("cn"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id") &&
        col("query_label") =!= col("neighbor_label"))
      .withColumn("cos", graft.functions.Rounding.portableRound(
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
    topKByScore(
        scored.select("query_id", "query_label", "neighbor_id",
          "neighbor_label", "cos"),
        Seq("query_id"), "cos", "neighbor_id", k)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("rank"), col("cos"))
  }

  /** #27b IVF (inverted-file) ANN: a coarse quantizer of `cells`
    * centroids partitions the corpus into cells; a query probes only
    * its `nprobe` nearest cells and ranks candidates there — the
    * classic FAISS-style scale path where scored candidates are
    * ~`nprobe/cells` of the corpus.
    *
    * Centroids here are the `cells` lowest-id vectors (deterministic,
    * so the SQL oracle replays them; at 100 TB you'd sample + Lloyd-
    * refine — the assignment/probe machinery is identical). They are
    * collected to the driver (cells × dims doubles — tiny) and inlined
    * as literals, so corpus cell assignment is a NARROW argmax over
    * `cells` codegen'd dot products: no shuffle, no join, scales with
    * the scan. Returns (query_id, neighbor_id, rank, cos).
    */
  def ivf(corpus: DataFrame, queries: DataFrame,
          idCol: String, vecCol: String, k: Int,
          cells: Int = 16, nprobe: Int = 4,
          centroids: Option[Array[(Long, Seq[Double])]] = None): DataFrame = {
    // default quantizer = the deterministic seeds; pass Lloyd-refined
    // centroids ([[kmeansCentroids]]) for the trained-index variant
    val cents = centroids.getOrElse(seedCentroids(corpus, idCol, vecCol, cells))
    val assigned = corpus
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        element_at(nearestCells(cents, col(vecCol), 1), 1).as("cell"))
    ivfProbe(assigned, cents, queries, idCol, vecCol, k, nprobe)
  }

  /** #27j probe a PREBUILT IVF index: `index` is the (id, cell, vec)
    * assignment relation — typically read back from two keyed tables
    * written at index-build time ([[graft.store.KeyedTable]]), so the
    * corpus' cell assignment is computed ONCE per corpus and every
    * query batch probes the stored relation. This is the index
    * lifecycle at 100 TB (the ANN twin of the persisted-LSH-index dedup,
    * #22d): build = one narrow assignment pass + one bucketed store
    * write; search = broadcast probes against ~nprobe/cells of the
    * stored rows, identical output to the rebuild-every-time [[ivf]]. */
  def ivfProbe(index: DataFrame, cents: Array[(Long, Seq[Double])],
               queries: DataFrame, idCol: String, vecCol: String,
               k: Int, nprobe: Int): DataFrame = {
    val c = index
      .select(col("id").as("neighbor_id"), col("vec").as("cv"),
        norm2(col("vec")).as("cn"), col("cell"))
    // queries probe their nprobe nearest cells (tiny side, broadcast)
    val probes = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
          norm2(col(vecCol)).as("qn"),
          explode(nearestCells(cents, col(vecCol), nprobe)).as("cell")))
    val scored = c.join(probes,
        c("cell") === probes("cell") && col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", graft.functions.Rounding.portableRound(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
    // prune to (ids, score) BEFORE the aggregate: payload fields ride
    // inside the collected struct buffers, so vectors/norms (and the
    // join's duplicate probe columns) must not reach it
    topKByScore(scored.select("query_id", "neighbor_id", "cos"),
        Seq("query_id"), "cos", "neighbor_id", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** #27 LSH-bucketed ANN: `tables` independent random-hyperplane hash
    * tables of `planes` sign bits each; a corpus row is a candidate if
    * it shares a (table, signature) bucket with the query — plus
    * multi-probe at hamming distance 1 on the query side. Top-k among
    * candidates only, so the corpus↔query product never materializes:
    * work is Σ|bucket| over probed buckets, the 1-executor-per-bucket
    * shape IVF/LSH indexes use at scale (tune planes↑ as |corpus|
    * grows to keep buckets O(1/2^planes) of the data).
    * Returns (query_id, neighbor_id, rank, cos).
    */
  def lsh(corpus: DataFrame, queries: DataFrame,
          idCol: String, vecCol: String, k: Int,
          planes: Int = 6, tables: Int = 4): DataFrame = {
    def sigs(vec: Column) = array((0 until tables).map(t =>
      struct(lit(t).as("tbl"), hyperplaneLshSignature(vec, planes, t).as("sig"))): _*)
    val c = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        norm2(col(vecCol)).as("cn"), explode(sigs(col(vecCol))).as("s"))
      .select(col("neighbor_id"), col("cv"), col("cn"),
        col("s.tbl").as("ctbl"), col("s.sig").as("csig"))
    // multi-probe: each query also probes every signature at hamming
    // distance 1 (flip one bit) — tables*(planes+1) probe keys per query
    val probes = array((lit(0L) +: (0 until planes).map(p => lit(1L << p))): _*)
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
          norm2(col(vecCol)).as("qn"), explode(sigs(col(vecCol))).as("s"))
        .select(col("query_id"), col("qv"), col("qn"), col("s.tbl").as("qtbl"),
          explode(transform(probes, m => col("s.sig").bitwiseXOR(m))).as("qsig"))
        .dropDuplicates("query_id", "qtbl", "qsig"))
    val scored = c.join(q,
        col("ctbl") === col("qtbl") && col("csig") === col("qsig") &&
          col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos", graft.functions.Rounding.portableRound(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
    // prune to (ids, score) BEFORE the aggregate: payload fields ride
    // inside the collected struct buffers, so vectors/norms (and the
    // join's duplicate probe columns) must not reach it
    topKByScore(scored.select("query_id", "neighbor_id", "cos"),
        Seq("query_id"), "cos", "neighbor_id", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** #27c per-label centroids in long format (label, dim, n_vectors,
    * centroid) — the training half of IVF/k-means-style indexing and
    * the summary a dedup/clustering pass reports per group. Element
    * sums go through DECIMAL(18,6) (after an explicit double widening,
    * mirrored by the oracle) so the mean is independent of Spark's
    * partial-aggregate merge order; ONE double division at the end.
    * The dim explode fans rows ×dims but map-side partial aggregation
    * collapses them to labels×dims per partition before the (only)
    * shuffle. */
  def centroids(embs: DataFrame, labelCol: String, vecCol: String): DataFrame =
    embs
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vectors"),
        graft.functions.Rounding.portableRound(
          sum(col("v").cast("double")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double")
          / count(lit(1)), 6).as("centroid"))

  /** #27d int8 scalar quantization (the FAISS SQ8 recipe): affine-map
    * each dimension's values onto [-128, 127] using that dimension's
    * global min/max — 4× less memory per vector, which at 100 TB is
    * the difference between an in-memory ANN index and a spilling one.
    * Two passes: a narrow per-dim min/max aggregate (64 rows — rides a
    * broadcast join back), then the quantize map. Per-dim (not global)
    * ranges preserve resolution when dimensions have different scales.
    * Returns long format (vec_id, dim, q); the reconstruction error is
    * bounded by (mx−mn)/256 per dimension — spec-gated, while the
    * integer codes hash exactly against the oracle. Degenerate
    * constant dimensions (mx = mn) map to code −128. */
  /** #27e product quantization (FAISS PQ / IVFADC's fine quantizer):
    * split each d-dim vector into `m` subvectors and encode every
    * subvector as the index of its nearest codebook centroid — m bytes
    * per vector instead of 4d, the compression that makes a 100 TB
    * corpus's ANN index fit a cluster's memory (int8 SQ is 4×; PQ here
    * is 32× at m=8 over 64 float dims). Search-side ADC then scores
    * candidates with per-subspace lookup tables instead of full dots.
    *
    * Codebook: the `k` lowest-id vectors' subvectors (deterministic,
    * oracle-replayable — the production path would Lloyd-refine a
    * sample; encode/assignment machinery is identical). Codebooks ride
    * as literals, so encoding is a NARROW per-row argmin of `k`
    * codegen'd squared distances per subspace — no shuffle, no join,
    * scales with the scan. Distances are rounded to 6 decimals before
    * the argmin (first-wins = lowest code on both engines), keeping the
    * integer codes engine-exact. Returns (vec_id, subspace, code). */
  def pqEncode(embs: DataFrame, idCol: String, vecCol: String,
               m: Int = 8, k: Int = 16): DataFrame = {
    val cb: Array[Seq[Double]] = embs
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"))
      .orderBy("cid").limit(k).collect()
      .map(_.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case x => x.toString.toDouble
      })
    require(cb.nonEmpty, "corpus is empty")
    val dims = cb(0).size
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    // one native codegen'd call per row (graft.functions.expr.PqCodes;
    // the codebook rides as a reference object) — the composed
    // aggregate/zip_with form evaluates m×k interpreted HOF folds per
    // row outside whole-stage codegen
    val codesCol = org.apache.spark.sql.GraftBridge.column(
      graft.functions.expr.PqCodes(
        org.apache.spark.sql.GraftBridge.expression(col("v")), m, cb.toSeq))
    embs.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .select(col("vec_id"), posexplode(codesCol).as(Seq("subspace", "code")))
      .select(col("vec_id"), col("subspace").cast("long").as("subspace"), col("code"))
  }

  /** #27f ADC search over PQ codes (FAISS's asymmetric distance
    * computation): each query precomputes one small distance TABLE —
    * its squared distance to every sub-codebook centroid, m×k entries —
    * and every corpus vector is then scored by summing m table lookups
    * over its CODES. The corpus' floats are never touched at query
    * time: the scan reads m bytes per vector, the join key is
    * (subspace, code), and the tables ride as a broadcast — the query
    * cost that makes PQ indexes searchable at 100 TB.
    *
    * Per-entry distances use pqEncode's exact arithmetic (rounded to 6)
    * and are pinned to DECIMAL(20,6), so the per-candidate SUM over
    * subspaces is exact and merge-order-independent; ranking sorts the
    * exact decimal ascending with neighbor_id tie-breaks. Returns
    * (query_id, neighbor_id, rank, adc_dist). */
  def pqSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, k: Int, m: Int = 8, kcb: Int = 16): DataFrame = {
    val cb: Array[Seq[Double]] = corpus
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"))
      .orderBy("cid").limit(kcb).collect()
      .map(_.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case x => x.toString.toDouble
      })
    require(cb.nonEmpty, "corpus is empty")
    val dims = cb(0).size
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val sub = dims / m
    val entries = (0 until m).flatMap { j =>
      val qslice = transform(slice(col("qv"), j * sub + 1, sub), _.cast("double"))
      (0 until cb.length).map { c =>
        val cs = cb(c).slice(j * sub, (j + 1) * sub)
        struct(lit(j.toLong).as("subspace"), lit(c).as("code"),
          graft.functions.Rounding.portableRound(aggregate(
            zip_with(qslice, typedlit(cs), (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x), 6)
            .cast("decimal(20,6)").as("d2"))
      }
    }
    val dtab = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .select(col("query_id"), explode(array(entries: _*)).as("e"))
        .select(col("query_id"), col("e.subspace").as("subspace"),
          col("e.code").as("code"), col("e.d2").as("d2")))
    val codes = pqEncode(corpus, idCol, vecCol, m, cb.length)
      .withColumnRenamed("vec_id", "neighbor_id")
    val scored = codes.join(dtab, Seq("subspace", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d2")).as("adc"))
    topKByScore(scored, Seq("query_id"), "adc", "neighbor_id", k, ascending = true)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        round(col("adc"), 6).cast("double").as("adc_dist"))
  }

  /** Driver replica of IvfCells' nearest-centroid fold — SAME operation
    * order (sequential dots/norms, strict first-wins argmax), so the
    * codebook rows' cell assignments always agree with the scan's. */
  private def nearestCentroidIdx(x: Seq[Double],
                                 cents: Array[(Long, Seq[Double])]): Int = {
    var vv = 0.0
    var i = 0
    while (i < x.length) { vv += x(i) * x(i); i += 1 }
    val nv = math.sqrt(vv)
    var best = -1
    var bestSim = 0.0
    var ci = 0
    while (ci < cents.length) {
      val cv = cents(ci)._2
      var dot = 0.0
      i = 0
      val n = math.min(x.length, cv.length)
      while (i < n) { dot += x(i) * cv(i); i += 1 }
      val sim = dot / (nv * math.sqrt(cv.map(t => t * t).sum))
      if (best < 0 || sim > bestSim) { best = ci; bestSim = sim }
      ci += 1
    }
    best
  }

  /** #27g IVFADC — the composed FAISS index for billion-vector search:
    * a coarse quantizer routes every vector to its nearest cell, PQ
    * encodes the RESIDUAL (vector − cell centroid; residuals are
    * smaller than raw vectors, so the same code budget quantizes
    * finer), and queries probe `nprobe` cells scoring candidates by
    * ADC over the residual codes. Corpus cost per row: one narrow cell
    * argmax + one narrow code call; query cost: nprobe residuals ×
    * (m×kcb) table entries — broadcast ONLY while that product stays
    * under `dtabBroadcastMaxRows` (the table grows linearly with the
    * query batch: |queries| × nprobe × m × kcb rows ≈ 16M at 1k
    * queries with defaults, a driver/executor-memory wall). Above the
    * bound the hint is dropped and AQE picks the join strategy — the
    * (cell, subspace, code) equi-join shuffles both sides: same
    * arithmetic, same output. The corpus' floats are read only
    * at index-build time — search touches m bytes/vector. Defaults
    * (m=32 two-dim subquantizers, kcb=128 codes) are sized for the
    * spec-gated recall floor with the UNTRAINED lowest-id codebook;
    * a deployment training the codebook (per-subspace Lloyd) can
    * shrink m back toward 8 for the same recall.
    *
    * Same determinism toolkit as the rest of the family: centroids and
    * residual codebooks are the lowest-id vectors (driver math mirrors
    * the scan's fold exactly), distances round to 6 before
    * DECIMAL(20,6) pinning, sums are exact, ranks tie-break by id.
    * Returns (query_id, neighbor_id, rank, adc_dist). */
  def ivfAdcSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, cells: Int = 16, nprobe: Int = 4,
                   m: Int = 32, kcb: Int = 128,
                   dtabBroadcastMaxRows: Long = 8L << 20): DataFrame = {
    def collectVecs(df: DataFrame, n: Int): Array[(Long, Seq[Double])] = df
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"))
      .orderBy("cid").limit(n).collect()
      .map { r =>
        (r.getLong(0), r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
          case x => x.toString.toDouble
        })
      }
    val cents = collectVecs(corpus, cells)
    require(cents.nonEmpty, "corpus is empty")
    val centById: Map[Long, Seq[Double]] = cents.toMap
    def topCells(vec: Column, n: Int): Column =
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.expr.IvfCells(
          org.apache.spark.sql.GraftBridge.expression(vec),
          cents.map(_._1).toSeq, cents.map(_._2).toSeq, n))
    // residual codebook: the kcb lowest-id vectors' residuals w.r.t.
    // their own cells (driver math, same folds as the scan)
    val residCb: Seq[Seq[Double]] = collectVecs(corpus, kcb).map { case (_, v) =>
      val c = cents(nearestCentroidIdx(v, cents))._2
      v.zip(c).map { case (a, b) => a - b }
    }
    val dims = residCb.head.size
    // The default m=32 requires dims ≡ 0 (mod 32); callers with e.g.
    // 24- or 40-dim embeddings must pass an m that divides their dims
    // (any divisor works — recall/size trade off via m×log2(kcb) bits).
    require(dims % m == 0,
      s"dims=$dims not divisible by m=$m — pass m as a divisor of the embedding dims")
    val sub = dims / m
    val centLit = typedlit(centById)

    def residOf(vec: Column, cell: Column): Column =
      zip_with(transform(vec, _.cast("double")), element_at(centLit, cell),
        (a, b) => a - b)

    // corpus: cell + residual codes, both narrow
    val codesCol = org.apache.spark.sql.GraftBridge.column(
      graft.functions.expr.PqCodes(
        org.apache.spark.sql.GraftBridge.expression(col("_res")), m, residCb))
    val corpusCodes = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cell", element_at(topCells(col("cv"), 1), 1))
      .withColumn("_res", residOf(col("cv"), col("cell")))
      .select(col("neighbor_id"), col("cell"),
        posexplode(codesCol).as(Seq("subspace", "code")))

    // queries: per probed cell, residual + m×kcb distance-table rows.
    // The table comes from JOINING an exploded codebook frame (one row
    // per (subspace, code) — m×kcb tiny broadcast rows) rather than
    // inlining m×kcb struct literals into one projection: at m=32,
    // kcb=128 the inline form is 4096 interpreted-lambda expressions in
    // a single Project — past whole-stage-codegen limits, and planning
    // alone grows with the expression count. The join form is ONE
    // lambda expression evaluated per (query, cell, subspace, code)
    // row; identical arithmetic, identical rounding, identical output.
    import corpus.sparkSession.implicits._
    val cbRows = for { j <- 0 until m; c <- residCb.indices }
      yield (j, c, residCb(c).slice(j * sub, (j + 1) * sub))
    val cbFrame = broadcast(cbRows.toDF("subspace", "code", "cvec"))
    val dtabRaw =
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .withColumn("cell", explode(topCells(col("qv"), nprobe)))
        .withColumn("_qres", residOf(col("qv"), col("cell")))
        .crossJoin(cbFrame) // broadcast nested-loop fanout, never CartesianProduct
        .select(col("query_id"), col("cell"), col("subspace"), col("code"),
          graft.functions.Rounding.portableRound(aggregate(
            zip_with(slice(col("_qres"), col("subspace") * lit(sub) + lit(1), lit(sub)),
              col("cvec"), (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x), 6)
            .cast("decimal(20,6)").as("d2"))
    // The distance table is |queries| × nprobe × m × kcb rows — fine to
    // broadcast for point lookups, a memory wall for batch search. The
    // bound needs |queries| at CONSTRUCTION time: prefer the optimizer's
    // exact row count when statistics carry one (free, no job); else run
    // one count() — i.e. this function eagerly evaluates the query batch,
    // and a nondeterministic `queries` plan should be persisted by the
    // caller so the sizing pass and the join see the same rows.
    val queryRows = {
      val st = queries.queryExecution.optimizedPlan.stats
      st.rowCount.map(_.toLong).getOrElse(queries.count())
    }
    val dtabRows = queryRows * nprobe.toLong * m.toLong * kcb.toLong
    val dtab = if (dtabRows <= dtabBroadcastMaxRows) broadcast(dtabRaw) else dtabRaw

    val scored = corpusCodes.join(dtab, Seq("cell", "subspace", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d2")).as("adc"))
    topKByScore(scored, Seq("query_id"), "adc", "neighbor_id", k, ascending = true)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        round(col("adc"), 6).cast("double").as("adc_dist"))
  }

  /** #27h one distributed Lloyd refinement step (spherical k-means) —
    * the "sample + Lloyd-refine" production path the seed-centroid
    * docstrings defer. Exactly the shape Lloyd's takes on a cluster:
    *
    *  1. assign every vector to its nearest seed centroid — a NARROW
    *     codegen'd argmax ([[nearestCells]]), no shuffle;
    *  2. reduce to new centroids: per-(cell, dim) means through the
    *     decimal-pinned recipe of [[centroids]] (#27c) — element sums
    *     in DECIMAL(18,6) so the mean is independent of partial-
    *     aggregate merge order, rounded to 6 — collected to the driver
    *     (cells × dims rows, the only driver state; this IS the
    *     per-iteration reduce of distributed k-means);
    *  3. re-assign against the refined centroids (narrow again) and
    *     report per-cell movement, all exact integers: seed-assignment
    *     size, refined-assignment size, and how many stayed.
    *
    * Cosine against an unnormalized mean equals cosine against the
    * normalized mean (scale invariance), so the means need no extra
    * normalization. Rounding means to 6 decimals before re-assignment
    * keeps the refined centroids bit-identical across engines — the
    * SQL oracle rebuilds them with the same decimal sums and replays
    * the argmax. `iters` repeats steps 1-2 (each further iteration has
    * identical plan shape — one narrow assign + one mean reduce); the
    * gated query runs ONE step so the oracle stays replayable, and the
    * movement report always compares the LAST refinement against the
    * seed assignment. Returns (cell, n_seed, n_refined, n_stay). */
  def kmeansRefine(embs: DataFrame, idCol: String, vecCol: String,
                   cells: Int = 16, iters: Int = 1): DataFrame = {
    val seeds = seedCentroids(embs, idCol, vecCol, cells)
    val base = embs.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val a0 = base.withColumn("cell",
      element_at(nearestCells(seeds, col("vec"), 1), 1))
    val refined = kmeansCentroids(embs, idCol, vecCol, cells, iters)
    val a1 = a0.withColumn("cell1",
      element_at(nearestCells(refined, col("vec"), 1), 1))
    val n0 = a0.groupBy(col("cell")).agg(count(lit(1)).as("n_seed"))
    val n1 = a1.groupBy(col("cell1").as("cell"))
      .agg(count(lit(1)).as("n_refined"))
    val stay = a1.filter(col("cell") === col("cell1"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_stay"))
    // every seed cell holds at least its seed vector, so n0 already
    // covers all cells; outer joins only fill refined/stay gaps
    n0.join(n1, Seq("cell"), "full").join(stay, Seq("cell"), "full")
      .select(col("cell"),
        coalesce(col("n_seed"), lit(0L)).as("n_seed"),
        coalesce(col("n_refined"), lit(0L)).as("n_refined"),
        coalesce(col("n_stay"), lit(0L)).as("n_stay"))
  }

  /** The trained coarse quantizer [[kmeansRefine]] reports on: seed
    * centroids Lloyd-refined `iters` times (each round: narrow assign
    * + decimal-pinned mean reduce through the driver — cells × dims
    * state per round). Feed the result to [[ivf]]'s `centroids` for a
    * trained IVF index. Cell labels stay the seed cids throughout. */
  def kmeansCentroids(embs: DataFrame, idCol: String, vecCol: String,
                      cells: Int = 16,
                      iters: Int = 1): Array[(Long, Seq[Double])] = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val seeds = seedCentroids(embs, idCol, vecCol, cells)
    val base = embs.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    def assign(cents: Array[(Long, Seq[Double])]): DataFrame =
      base.withColumn("cell",
        element_at(nearestCells(cents, col("vec"), 1), 1))
    def refineOnce(assigned: DataFrame): Array[(Long, Seq[Double])] = {
      val meanRows = assigned
        .select(col("cell"), posexplode(col("vec")).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim"))
        .agg(graft.functions.Rounding.portableRound(
          sum(col("v").cast("double")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double")
          / count(lit(1)), 6).as("m"))
        .collect()
      meanRows.groupBy(_.getLong(0)).toArray.sortBy(_._1)
        .map { case (cell, rows) =>
          (cell, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
        }
    }
    // a Lloyd iteration can empty a cell (no vector nearest the refined
    // centroid); its mean is then undefined and the centroid simply
    // drops out of the next argmax — the standard empty-cluster policy
    (1 to iters).foldLeft((seeds, assign(seeds))) { case ((_, assigned), _) =>
      val cents = refineOnce(assigned)
      (cents, assign(cents))
    }._1
  }

  /** #25e embedding-space outlier detection — the quality-filter
    * cousin of SemDeDup: where dedup prunes points too CLOSE to an
    * earlier one, this prunes points too FAR from every cluster
    * (noise, encoding failures, out-of-domain junk that survives text
    * filters). Each vector joins its assigned centroid back (16-row
    * broadcast) and reports the rounded cosine; below `threshold` is
    * an outlier. The assignment is the usual narrow argmax, the join
    * is broadcast — nothing wide anywhere, scales with the scan.
    * Returns (id, cell, cos_centroid, is_outlier). */
  /** #27e top singular direction of the embedding matrix by distributed
    * Gram accumulation + driver-side power iteration, engine-EXACT on
    * both ends (the whole result hashes against the oracle — no "close
    * enough" tolerance in the gate):
    *
    *  - the distributed half: G = XᵀX accumulated as one aggregation.
    *    Each vector's dim² outer-product contributions are generated
    *    inside whole-stage codegen and partially aggregated MAP-SIDE in
    *    the same stage, so the exchange carries at most dim² rows per
    *    task, never the corpus. Elements are pinned to DECIMAL(18,6)
    *    before multiplying, so every G cell is an exact decimal sum —
    *    independent of partitioning and merge order.
    *  - the driver half: `iters` rounds of v ← Gv/‖Gv‖ over the dim²
    *    Gram (bounded collect — dim², never data-sized). Each matvec is
    *    exact decimal arithmetic (order-free); the only float ops per
    *    round are one portable 6-dp rounding of w, one sqrt, one
    *    division — all correctly-rounded IEEE, replayed step-for-step
    *    by the oracle's unrolled CTEs.
    *
    * Uncentered (top singular vector of X, not covariance PCA) — the
    * standard first factor for embedding diagnostics; centering adds
    * one exact mean pass if needed. Returns (dim, loading, lambda):
    * loading = the unit direction after `iters` rounds, lambda = ‖Gv‖
    * of the final round (the Rayleigh-quotient estimate of the top
    * eigenvalue of G). */
  def topSingularVector(embs: DataFrame, vecCol: String, dim: Int = 64,
                        iters: Int = 2): DataFrame = {
    import graft.functions.Rounding.portableRoundDouble
    val spark = embs.sparkSession
    // The whole upper-triangle Gram as ONE native aggregate
    // ([[graft.functions.expr.GramUpperTriangle]] — numerically
    // identical to the old decimal-pin + double-posexplode + per-cell
    // decimal `sum`, proven in its scaladoc): per vector a tight
    // long-arithmetic loop replaces 2·dim²/2 generated rows and dim²/2
    // BigDecimal multiplies, and the exchange carries one ~33 KB state
    // blob per task instead of dim² grouped Decimal cells.
    val gramRow = embs.select(
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.expr.GramUpperTriangle(
          org.apache.spark.sql.GraftBridge.expression(col(vecCol)), dim)
          .toAggregateExpression()).as("g"))
      .head() // bounded by dim² — never data-sized
    val flat = gramRow.getSeq[java.math.BigDecimal](0)
    if (flat.contains(null))
      throw new ArithmeticException(
        s"topSingularVector: a Gram cell of $vecCol overflows DECIMAL(38,12) " +
        "(the sum of products of 6-dp-pinned elements exceeds 10^26); " +
        "rescale the vectors")
    val G = Array.fill(dim, dim)(java.math.BigDecimal.ZERO)
    var fi = 0
    var fk = 0
    while (fi < dim) {
      var fj = fi
      while (fj < dim) {
        G(fi)(fj) = flat(fk)
        G(fj)(fi) = flat(fk) // Gram is symmetric; mirror the triangle
        fj += 1
        fk += 1
      }
      fi += 1
    }
    var v = Array.fill(dim)(java.math.BigDecimal.ONE)
    var lambda = 0.0
    (0 until iters).foreach { _ =>
      // exact decimal matvec: order-free, so the oracle's SUM matches
      val wExact = Array.tabulate(dim) { i =>
        (0 until dim).foldLeft(java.math.BigDecimal.ZERO) { (acc, j) =>
          acc.add(G(i)(j).multiply(v(j)))
        }
      }
      val wr = wExact.map(w => portableRoundDouble(w.doubleValue, 6))
      val n2 = wr.map(java.math.BigDecimal.valueOf)
        .foldLeft(java.math.BigDecimal.ZERO)((acc, b) => acc.add(b.multiply(b)))
      lambda = math.sqrt(n2.doubleValue)
      // zero-norm guard (empty input or an all-zero Gram): loadings
      // stay zero with lambda 0 instead of dividing into NaNs
      v =
        if (lambda == 0.0) Array.fill(dim)(java.math.BigDecimal.ZERO)
        else wr.map(w => java.math.BigDecimal.valueOf(
          portableRoundDouble(w / lambda, 6)))
    }
    val out = (0 until dim).map(i =>
      (i.toLong, v(i).doubleValue, portableRoundDouble(lambda, 4)))
    import spark.implicits._
    out.toDF("dim", "loading", "lambda")
  }

  /** #27g apply the learned factor: every vector's projection onto the
    * [[topSingularVector]] direction — the train→apply composition
    * (same pattern as the trained-IVF search): the direction comes out
    * of the driver iteration as 6-dp values, is broadcast as a dim-row
    * frame, and each score is one exact-decimal dot product
    * (merge-order-free) rounded once. The factor scores are what a
    * curation pipeline actually consumes (rank by dominant-direction
    * loading, prune the extremes, or use as a 1-D embedding). */
  def projectTopComponent(embs: DataFrame, idCol: String, vecCol: String,
                          dim: Int = 64, iters: Int = 40): DataFrame = {
    import graft.functions.Rounding.portableRound
    // The learned direction is a dim-length driver-side vector (the
    // loadings frame topSingularVector returns IS a local relation), so
    // the apply side is one narrow codegen'd exact-decimal dot per row
    // ([[graft.functions.expr.DecimalDotFixed]] — numerically identical
    // to the old posexplode + broadcast-join + decimal sum, proven in
    // its scaladoc) instead of a 64×-row fanout through an exchange.
    val loadings = topSingularVector(embs, vecCol, dim, iters)
      .select(col("dim"), col("loading")).collect()
      .map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
    val weights = Array.tabulate(dim) { i =>
      val v = java.math.BigDecimal.valueOf(loadings.getOrElse(i, 0.0))
        .setScale(6, java.math.RoundingMode.HALF_UP)
      if (v.precision > 8) Long.MinValue // the (8,6) cast's null
      else v.unscaledValue().longValue()
    }
    embs.select(col(idCol),
      portableRound(
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.expr.DecimalDotFixed(
            org.apache.spark.sql.GraftBridge.expression(col(vecCol)), weights))
          .cast("double"), 4).as("score"))
  }

  def centroidOutliers(embs: DataFrame, idCol: String, vecCol: String,
                       cells: Int = 16, threshold: Double = 0.12): DataFrame = {
    import graft.functions.VectorFunctions._
    val cents = seedCentroids(embs, idCol, vecCol, cells)
    val spark = embs.sparkSession
    import spark.implicits._
    val centDf = broadcast(
      cents.toSeq.map { case (cid, cv) =>
        (cid, cv, math.sqrt(cv.map(t => t * t).sum))
      }.toDF("cell", "cv", "cn"))
    embs.select(col(idCol).as("id"), col(vecCol).as("vec"),
        norm2(col(vecCol)).as("nrm"),
        element_at(nearestCells(cents, col(vecCol), 1), 1).as("cell"))
      .join(centDf, Seq("cell"))
      .withColumn("cos_centroid",
        graft.functions.Rounding.portableRound(dot(col("vec"), col("cv")) / (col("nrm") * col("cn")), 4))
      .select(col("id"), col("cell"), col("cos_centroid"),
        (col("cos_centroid") < threshold).as("is_outlier"))
  }

  def quantizeInt8(embs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val long = embs.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
    val stats = long.groupBy(col("dim"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    long.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        (when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(255L), greatest(lit(0L),
            floor((col("v") - col("mn")) / (col("mx") - col("mn")) * 256))))
          - 128L).cast("int").as("q"))
  }
}
