package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join and latest-row-per-key (SURVEY.md §2 #19-20).
  *
  * The as-of join uses the union+window formulation: tag both sides, union,
  * then one window pass per key ordered by event time carries the most
  * recent right-side row forward onto each left row. ONE shuffle (on the
  * join key), no range cross-product, no per-key collect — at 100 TB this
  * is a single sort-merge-shaped pass, vs. the O(|L|·|R|) range join a
  * naive `l.t >= r.t` join would plan.
  *
  * Skew note: one window task holds one key's full (left ∪ right)
  * timeline and AQE does not split window skew; per-task input is
  * bounded by the hottest key. For unbounded-key workloads use the
  * salted two-phase recipe described at
  * [[graft.Analytics.eventsSessionized]]: window over (key, time-chunk)
  * then patch chunk boundaries by carrying each chunk's last right row
  * into the next chunk (one extra pairs-only pass).
  */
object AsOf {

  /** One row per (key, time): keep the max-`tieBreak` row. The
    * aggregate form of a (key, time)-partitioned row_number()=1 —
    * `max_by(struct(values), tieBreak)` dedups map-side in the partial
    * aggregation, so the exchange carries at most one row per
    * (key, time) per map partition instead of every duplicate (see
    * [[latestPerKey]] for the full argument). Used to canonicalize the
    * right side of every as-of join variant. */
  private def dedupByTieBreak(df: DataFrame, key: String, time: String,
                              tieBreak: String): DataFrame = {
    val others = df.columns.filterNot(c => c == key || c == time).toSeq
    df.groupBy(col(key), col(time))
      .agg(max_by(struct(others.map(col): _*), col(tieBreak)).as("_r"))
      .select(df.columns.toIndexedSeq.map { c =>
        if (c == key || c == time) col(c) else col(s"_r.`$c`").as(c)
      }: _*)
  }

  /** For each left row, attach the latest right row with
    * `right.timeCol <= left.timeCol`, matching on `keyCol` (inclusive,
    * left-outer: unmatched left rows keep null right columns).
    *
    * Right-side ties on (key, time) are broken deterministically by
    * `rightTieBreak` descending (e.g. the PK) before the join.
    *
    * @param rightCols the right columns to carry onto the left (must not
    *                  collide with left column names)
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String,
      rightTime: String,
      rightCols: Seq[String],
      rightTieBreak: String): DataFrame = {

    val rightDedup = dedupByTieBreak(right, rightKey, rightTime, rightTieBreak)

    val leftCols = left.columns.toSeq
    // tag=0 sorts right-side rows before a left row with the same
    // timestamp → inclusive (right.t <= left.t) semantics.
    val rTagged = rightDedup.select(
      Seq(col(rightKey).as("_k"), col(rightTime).as("_t"), lit(0).as("_tag")) ++
        rightCols.map(col) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val lTagged = left.select(
      Seq(col(leftKey).as("_k"), col(leftTime).as("_t"), lit(1).as("_tag")) ++
        rightCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)) ++
        leftCols.map(col): _*)

    val carryW = Window
      .partitionBy(col("_k"))
      .orderBy(col("_t"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val carried = rTagged.unionByName(lTagged)
      .select(
        col("*") +: rightCols.map(c =>
          last(col(c), ignoreNulls = true).over(carryW).as(s"_asof_$c")): _*)

    carried
      .filter(col("_tag") === 1)
      .select(leftCols.map(col) ++
        rightCols.map(c => col(s"_asof_$c").as(c)): _*)
  }

  /** #19e skew-proof two-phase variant of [[asofJoin]] — IDENTICAL
    * output, bounded per-task input under a pathological hot key.
    *
    * [[asofJoin]]'s one window puts a key's whole (left ∪ right)
    * timeline in one task. Here the window is salted with a time chunk
    * (`floor(epoch / chunkSeconds)`), the same recipe as
    * [[Sessionize.gapSessionsSalted]]:
    *
    *  - phase 1 carries within each (key, chunk) — task input is one
    *    chunk's slice, not the key's history;
    *  - phase 2 patches chunk boundaries: per (key, chunk) keep only
    *    the LAST right row (≤1 summary row per chunk), window-carry
    *    those summaries across chunks per key (rows per key = chunk
    *    count, bounded by the time range — independent of event skew),
    *    and join the carry-in back on (key, chunk). A left row whose
    *    chunk held no earlier right row takes the carry-in.
    *
    * Chunk assignment is monotone in time and the carry-in uses only
    * STRICTLY EARLIER chunks (equal times share a chunk), so the
    * result matches the unsalted form row-for-row — the gate query
    * asserts oracle equality with [[asofJoin]]'s oracle. Right-side
    * null VALUES in `rightCols` interact with the ignoreNulls carry
    * the same way in both forms (carried past), with the one edge that
    * a null-valued latest row at a chunk boundary could expose an
    * older non-null — pass non-null carry columns (e.g. PKs). */
  def asofJoinSalted(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String,
      rightTime: String,
      rightCols: Seq[String],
      rightTieBreak: String,
      chunkSeconds: Long): DataFrame = {
    require(chunkSeconds > 0, s"chunkSeconds must be positive, got $chunkSeconds")

    val rightDedup = dedupByTieBreak(right, rightKey, rightTime, rightTieBreak)

    val leftCols = left.columns.toSeq
    val rTagged = rightDedup.select(
      Seq(col(rightKey).as("_k"), col(rightTime).as("_t"), lit(0).as("_tag")) ++
        rightCols.map(col) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val lTagged = left.select(
      Seq(col(leftKey).as("_k"), col(leftTime).as("_t"), lit(1).as("_tag")) ++
        rightCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)) ++
        leftCols.map(col): _*)

    // NTZ → instant first (session TZ is UTC, wall-clock preserved);
    // numeric time columns pass through the double cast unchanged
    def chunkOf = floor(col("_t").cast("timestamp").cast("long") / chunkSeconds)

    // phase 1: carry within (key, chunk) — the salted window
    val unioned = rTagged.unionByName(lTagged).withColumn("_chunk", chunkOf)
    val wc = Window.partitionBy(col("_k"), col("_chunk"))
      .orderBy(col("_t"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localCarried = unioned
      .select(col("*") +: rightCols.map(c =>
        last(col(c), ignoreNulls = true).over(wc).as(s"_loc_$c")): _*)
      .filter(col("_tag") === 1)

    // phase 2a: one summary row per (key, chunk) — the chunk's last
    // right row ((key, time) already deduped, so time alone orders it)
    val sumW = Window.partitionBy(col("_k"), col("_chunk")).orderBy(col("_t").desc)
    val summaries = rTagged.withColumn("_chunk", chunkOf)
      .withColumn("_rn", row_number().over(sumW))
      .filter(col("_rn") === 1)
      .select(Seq(col("_k"), col("_chunk")) ++ rightCols.map(col): _*)

    // phase 2b: carry-in per (key, chunk) = last summary of any
    // STRICTLY earlier chunk, built over every chunk present on either
    // side so left-only chunks still receive their carry
    val chunks = unioned.select(col("_k"), col("_chunk")).distinct()
    val wk = Window.partitionBy(col("_k")).orderBy(col("_chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryIn = chunks.join(summaries, Seq("_k", "_chunk"), "left")
      .select(Seq(col("_k"), col("_chunk")) ++ rightCols.map(c =>
        last(col(c), ignoreNulls = true).over(wk).as(s"_in_$c")): _*)

    localCarried.join(carryIn, Seq("_k", "_chunk"), "left")
      .select(leftCols.map(col) ++
        rightCols.map(c => coalesce(col(s"_loc_$c"), col(s"_in_$c")).as(c)): _*)
  }

  /** #19c pandas merge_asof direction parity: 'backward' (latest right
    * at-or-before), 'forward' (earliest right at-or-after) and
    * 'nearest' (closer of the two; exact ties prefer backward, like
    * pandas) — all as ONE union+window pass, the same single-shuffle
    * shape as [[asofJoin]].
    *
    * The trick that keeps it one sort: each right row enters the union
    * TWICE, tagged to sort before (-1) and after (2) the left rows (1)
    * of the same timestamp. The backward carry (`last ignoreNulls` over
    * the preceding frame) can only see the before-copy at equal times —
    * inclusive backward; the forward carry (`first ignoreNulls` over
    * the following frame) can only see the after-copy — inclusive
    * forward. Copies of strictly earlier/later rows are visible to both
    * carries, harmlessly (identical values).
    *
    * `timeCol`s must be numeric (epoch seconds/µs) — the gap arithmetic
    * needs subtraction. The matched right time lands in `asof_t` so
    * callers can emit gaps. Right-side (key, time) ties dedup by max
    * `rightTieBreak` first, as in [[asofJoin]]. */
  def asofJoinDirected(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String,
      rightTime: String,
      rightCols: Seq[String],
      rightTieBreak: String,
      direction: String): DataFrame = {
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be backward/forward/nearest, got $direction")

    val rightDedup = dedupByTieBreak(right, rightKey, rightTime, rightTieBreak)

    val leftCols = left.columns.toSeq
    val carried = rightCols :+ "_rt"
    def rTagged(tag: Int) = rightDedup
      .withColumn("_rt", col(rightTime).cast("long"))
      .select(
        Seq(col(rightKey).as("_k"), col(rightTime).cast("long").as("_t"),
          lit(tag).as("_tag")) ++
          carried.map(col) ++
          leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val lTagged = left.select(
      Seq(col(leftKey).as("_k"), col(leftTime).cast("long").as("_t"),
        lit(1).as("_tag")) ++
        carried.map(c => lit(null).cast(
          if (c == "_rt") org.apache.spark.sql.types.LongType
          else right.schema(c).dataType).as(c)) ++
        leftCols.map(col): _*)

    val back = Window.partitionBy(col("_k")).orderBy(col("_t"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("_k")).orderBy(col("_t"), col("_tag"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)

    val unioned = rTagged(-1).unionByName(rTagged(2)).unionByName(lTagged)
    val both = unioned.select(
      col("*") +:
        (carried.map(c => last(col(c), ignoreNulls = true).over(back).as(s"_b_$c")) ++
         carried.map(c => first(col(c), ignoreNulls = true).over(fwd).as(s"_f_$c"))): _*)
      .filter(col("_tag") === 1)

    val picked = direction match {
      case "backward" => carried.map(c => col(s"_b_$c").as(c))
      case "forward"  => carried.map(c => col(s"_f_$c").as(c))
      case "nearest"  =>
        // prefer backward on exact-distance ties (pandas semantics)
        val useB = col("_f__rt").isNull ||
          (col("_b__rt").isNotNull &&
            (col("_t") - col("_b__rt")) <= (col("_f__rt") - col("_t")))
        carried.map(c => when(useB, col(s"_b_$c")).otherwise(col(s"_f_$c")).as(c))
    }
    both.select(leftCols.map(col) ++ picked: _*)
      .withColumnRenamed("_rt", "asof_t")
  }

  /** Latest row per key: dedup-by-recency. Ties on the time column break
    * by `tieBreak` descending so the result is deterministic.
    *
    * Implemented as `max_by(struct(values), struct(time, tieBreak))` —
    * an AGGREGATE, not a window: partial aggregation keeps at most one
    * row per key per map partition BEFORE the shuffle, so the exchange
    * carries ~|keys| rows instead of every row, and no per-key sort
    * ever happens. At 100 TB that's the difference between shuffling
    * the table and shuffling the answer. (The previous window
    * row_number form shipped all rows and sorted each key's partition;
    * a hot key also serialized into one task — the aggregate form's
    * partial step absorbs hot keys on the map side.) Struct ordering is
    * lexicographic (time, then tieBreak), matching the window form's
    * `orderBy(time.desc, tieBreak.desc)` row-for-row; a NULL time sorts
    * below any non-null in both forms. */
  def latestPerKey(df: DataFrame, key: Seq[String], time: String,
                   tieBreak: String): DataFrame = {
    val others = df.columns.filterNot(key.contains).toSeq
    df.groupBy(key.map(col): _*)
      .agg(max_by(struct(others.map(col): _*),
        struct(col(time), col(tieBreak))).as("_r"))
      .select(df.columns.toIndexedSeq.map { c =>
        if (key.contains(c)) col(c) else col(s"_r.`$c`").as(c)
      }: _*)
  }

  /** #20b pandas ffill(): forward-fill NULLs in `cols` per key in
    * (time, tieBreak) order — gap repair for sensor/event streams
    * before aggregation. One shuffle (the key window); each filled
    * column is `last(ignoreNulls)` over the unbounded-preceding frame,
    * all columns share the single sort. Skew note as for
    * sessionization: a hot key serializes into one task — the salted
    * two-phase recipe (operators.Sessionize) applies when keys are
    * unbounded. */
  def ffill(df: DataFrame, key: Seq[String], time: String,
            tieBreak: String, cols: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(key.map(col): _*)
      .orderBy(col(time), col(tieBreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** #20d pandas interpolate(method='index'/'values'): fill NULL gaps
    * in `valueCol` per key by linear interpolation WEIGHTED BY the
    * position column `timeCol` (numeric — pass epoch µs/seconds, not a
    * timestamp, so both the ordering and the arithmetic are
    * integer-exact across engines). Note this is pandas' 'index'
    * method, not its default 'linear', which treats points as equally
    * spaced and ignores the index; the time-weighted form is the one a
    * sensor/event stream wants, and the oracle implements the same
    * formula.
    *
    * Matches pandas' default (limit_direction='forward'): interior
    * gaps interpolate, trailing NULLs carry the last value forward,
    * leading NULLs stay NULL.
    *
    * One window shuffle on the key, four ignoreNulls carries over the
    * shared sort (prev/next value and their times); the arithmetic is
    * one subtraction-ratio-multiply-add in IEEE double — identical
    * operation order on any engine evaluating the same formula. Skew
    * caveat as for any key-partitioned window. */
  def interpolate(df: DataFrame, key: Seq[String], timeCol: String,
                  tieBreak: String, valueCol: String): DataFrame = {
    val back = Window.partitionBy(key.map(col): _*)
      .orderBy(col(timeCol), col(tieBreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(key.map(col): _*)
      .orderBy(col(timeCol), col(tieBreak))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val v = col(valueCol)
    val obsT = when(v.isNotNull, col(timeCol))
    val prevV = last(v, ignoreNulls = true).over(back)
    val nextV = first(v, ignoreNulls = true).over(fwd)
    val prevT = last(obsT, ignoreNulls = true).over(back)
    val nextT = first(obsT, ignoreNulls = true).over(fwd)
    df.withColumn(s"${valueCol}_interp",
      when(v.isNotNull, v)
        .when(prevV.isNull, lit(null).cast("double"))
        .when(nextV.isNull, prevV)
        .otherwise(prevV + (nextV - prevV) *
          ((col(timeCol) - prevT).cast("double") / (nextT - prevT).cast("double"))))
  }

  /** #20f pandas ewm(alpha).mean() (adjust=true) per key in time
    * order: y_t = Σᵢ(1−α)^i·x_{t−i} / Σᵢ(1−α)^i. The recursion
    * (num_t = x_t + (1−α)·num_{t−1}) is inherently sequential per key
    * — no window frame expresses it without an O(n²) pow() fan-out —
    * so this is the one place the engine drops to the secondary-sort
    * pattern: repartition by key, sortWithinPartitions by (key, time,
    * tie), then a single mapPartitions pass carrying O(1) state that
    * resets at each key boundary. Still fully distributed (keys spread
    * across partitions, one streaming pass, nothing collected); the
    * float recursion isn't engine-portable, so the gate is rows-only +
    * spec (closed-form comparison), not an oracle hash.
    *
    * Input contract: (key: Long, t: Long, id: Long, v: Double) rows.
    * Returns (id, key, ewm). */
  def ewmMean(df: DataFrame, keyCol: String, timeCol: String,
              tieCol: String, valueCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val spark = df.sparkSession
    import spark.implicits._
    val decay = 1.0 - alpha
    df.select(col(keyCol).cast("long"), col(timeCol).cast("long"),
        col(tieCol).cast("long"), col(valueCol).cast("double"))
      .repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col(timeCol), col(tieCol))
      .as[(Long, Long, Long, Double)]
      .mapPartitions { it =>
        var curKey = 0L
        var started = false
        var num = 0.0
        var den = 0.0
        it.map { case (k, _, id, v) =>
          if (!started || k != curKey) { curKey = k; started = true; num = 0.0; den = 0.0 }
          num = v + decay * num
          den = 1.0 + decay * den
          (id, k, num / den)
        }
      }
      .toDF("id", "key", "ewm")
  }

  /** #20c pandas shift()/diff(): each row gains `prev_<col>` (the
    * previous row's value per key in time order) and `delta_<col>`
    * (row minus previous). One window shuffle on the key; the first
    * row per key gets NULLs, matching pandas. Same skew caveat as any
    * key-partitioned window (see Analytics.eventsSessionized). Pass
    * exact-typed columns (integers / decimals) when deltas must hash
    * identically across engines. */
  def shiftDiff(df: DataFrame, key: Seq[String], time: String,
                tieBreak: String, cols: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(key.map(col): _*)
      .orderBy(col(time), col(tieBreak))
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(s"prev_$c", lag(col(c), 1).over(w))
        .withColumn(s"delta_$c", col(c) - lag(col(c), 1).over(w))
    }
  }

  // ── Skew-safe (salted) gap-repair family ──────────────────────────
  //
  // ffill / interpolate / shiftDiff above window by the raw key: a hot
  // key's whole timeline lands in ONE task, and AQE does not split
  // window skew. The three variants below apply the same chunk-carry
  // recipe as [[asofJoinSalted]]: phase 1 runs the operator within
  // (key, time-chunk) — per-task input is one chunk slice — and phase
  // 2 repairs chunk boundaries with ≤1 summary row per (key, chunk)
  // (rows per key = chunk count, bounded by the time range, never by
  // event skew). Chunk assignment `floor(t / chunkSize)` is monotone
  // in time and equal times share a chunk, so each variant's output is
  // row-for-row IDENTICAL to the plain form — the gate queries assert
  // oracle equality against the PLAIN forms' SQL.

  /** Skew-proof [[ffill]] — identical output, bounded per-task input.
    *
    * Phase 1 forward-fills within each (key, chunk). Phase 2 keeps the
    * LAST locally-filled row per (key, chunk) (its filled value IS the
    * chunk's last-known value per column), window-carries those
    * summaries across strictly earlier chunks per key, and joins the
    * carry-in back: a row whose chunk held no earlier non-null takes
    * the carry-in. `coalesce(local, carryIn)` equals the global
    * `last(ignoreNulls)` exactly — the within-chunk fill already
    * prefers the nearest non-null. */
  def ffillSalted(df: DataFrame, key: Seq[String], time: String,
                  tieBreak: String, cols: Seq[String],
                  chunkSeconds: Long): DataFrame = {
    require(chunkSeconds > 0, s"chunkSeconds must be positive, got $chunkSeconds")
    // NTZ → instant (session TZ UTC); numeric seconds pass through
    val withChunk = df.withColumn("_chunk",
      floor(col(time).cast("timestamp").cast("long") / chunkSeconds))
    val kc = key.map(col) :+ col("_chunk")
    val wc = Window.partitionBy(kc: _*)
      .orderBy(col(time), col(tieBreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = cols.foldLeft(withChunk) { (acc, c) =>
      acc.withColumn(s"_loc_$c", last(col(c), ignoreNulls = true).over(wc))
    }
    val sumW = Window.partitionBy(kc: _*)
      .orderBy(col(time).desc, col(tieBreak).desc)
    val summaries = local
      .withColumn("_srn", row_number().over(sumW))
      .filter(col("_srn") === 1)
      .select(kc ++ cols.map(c => col(s"_loc_$c").as(s"_sum_$c")): _*)
    // carry-in = last non-null summary over STRICTLY earlier chunks
    val wk = Window.partitionBy(key.map(col): _*).orderBy(col("_chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryIn = summaries.select(
      kc ++ cols.map(c =>
        last(col(s"_sum_$c"), ignoreNulls = true).over(wk).as(s"_in_$c")): _*)
    local.join(carryIn, key :+ "_chunk", "left")
      .select(df.columns.toSeq.map { c =>
        if (cols.contains(c)) coalesce(col(s"_loc_$c"), col(s"_in_$c")).as(c)
        else col(c)
      }: _*)
  }

  /** Skew-proof [[shiftDiff]] — identical output, bounded per-task
    * input.
    *
    * Phase 1 lags within each (key, chunk). Phase 2's summary is each
    * chunk's LAST row's RAW values; `lag(1)` over the per-key
    * chunk-ordered summaries is exactly the nearest earlier non-empty
    * chunk's last row. Only each chunk's FIRST row (local row_number
    * 1) takes the carry-in — later rows keep the local lag even when
    * its value is genuinely NULL, matching pandas shift() on NULL
    * values (a coalesce would wrongly skip them). */
  def shiftDiffSalted(df: DataFrame, key: Seq[String], time: String,
                      tieBreak: String, cols: Seq[String],
                      chunkSeconds: Long): DataFrame = {
    require(chunkSeconds > 0, s"chunkSeconds must be positive, got $chunkSeconds")
    val withChunk = df.withColumn("_chunk",
      floor(col(time).cast("timestamp").cast("long") / chunkSeconds))
    val kc = key.map(col) :+ col("_chunk")
    val wc = Window.partitionBy(kc: _*).orderBy(col(time), col(tieBreak))
    val local = cols.foldLeft(withChunk.withColumn("_rn", row_number().over(wc))) {
      (acc, c) => acc.withColumn(s"_lag_$c", lag(col(c), 1).over(wc))
    }
    val sumW = Window.partitionBy(kc: _*)
      .orderBy(col(time).desc, col(tieBreak).desc)
    val summaries = withChunk
      .withColumn("_srn", row_number().over(sumW))
      .filter(col("_srn") === 1)
      .select(kc ++ cols.map(c => col(c).as(s"_sum_$c")): _*)
    // ≤1 summary row per (key, chunk) → lag(1) over chunk order IS the
    // nearest earlier chunk's last row (NULL for the first chunk)
    val wk = Window.partitionBy(key.map(col): _*).orderBy(col("_chunk"))
    val carryIn = summaries.select(
      kc ++ cols.map(c => lag(col(s"_sum_$c"), 1).over(wk).as(s"_in_$c")): _*)
    val joined = local.join(carryIn, key :+ "_chunk", "left")
    val out = cols.foldLeft(joined) { (acc, c) =>
      val prev = when(col("_rn") === 1, col(s"_in_$c")).otherwise(col(s"_lag_$c"))
      acc.withColumn(s"prev_$c", prev)
        .withColumn(s"delta_$c", col(c) - prev)
    }
    out.select(df.columns.toSeq.map(col) ++
      cols.flatMap(c => Seq(col(s"prev_$c"), col(s"delta_$c"))): _*)
  }

  /** Skew-proof [[interpolate]] — identical output, bounded per-task
    * input. `chunkSize` is in `timeCol`'s own (numeric) units.
    *
    * Phase 1 finds prev/next observations within each (key, chunk),
    * packed as (t, v) structs so both halves always come from the same
    * row. Phase 2 summarizes each (key, chunk)'s first and last
    * observation, then over EVERY chunk present in the data (all-null
    * chunks still need their carry) window-carries the last earlier
    * observation forward and the first later observation backward.
    * `coalesce(local, carried)` feeds the SAME single-division IEEE
    * formula as the plain form — identical prev/next rows, identical
    * arithmetic, identical bits. */
  def interpolateSalted(df: DataFrame, key: Seq[String], timeCol: String,
                        tieBreak: String, valueCol: String,
                        chunkSize: Long): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    val withChunk = df.withColumn("_chunk", floor(col(timeCol) / chunkSize))
    val kc = key.map(col) :+ col("_chunk")
    val back = Window.partitionBy(kc: _*)
      .orderBy(col(timeCol), col(tieBreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(kc: _*)
      .orderBy(col(timeCol), col(tieBreak))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val v = col(valueCol)
    val obs = when(v.isNotNull, struct(col(timeCol).as("t"), v.as("v")))
    val local = withChunk
      .withColumn("_p", last(obs, ignoreNulls = true).over(back))
      .withColumn("_n", first(obs, ignoreNulls = true).over(fwd))
    val summaries = withChunk.filter(v.isNotNull)
      .groupBy(kc: _*)
      .agg(
        max_by(struct(col(timeCol).as("t"), v.as("v")),
          struct(col(timeCol), col(tieBreak))).as("_last"),
        min_by(struct(col(timeCol).as("t"), v.as("v")),
          struct(col(timeCol), col(tieBreak))).as("_first"))
    val chunks = withChunk.select(kc: _*).distinct()
    val wIn = Window.partitionBy(key.map(col): _*).orderBy(col("_chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOut = Window.partitionBy(key.map(col): _*).orderBy(col("_chunk"))
      .rowsBetween(1, Window.unboundedFollowing)
    val carry = chunks.join(summaries, key :+ "_chunk", "left")
      .select(kc ++ Seq(
        last(col("_last"), ignoreNulls = true).over(wIn).as("_cin"),
        first(col("_first"), ignoreNulls = true).over(wOut).as("_cout")): _*)
    val j = local.join(carry, key :+ "_chunk", "left")
    val eP = coalesce(col("_p"), col("_cin"))
    val eN = coalesce(col("_n"), col("_cout"))
    j.withColumn(s"${valueCol}_interp",
      when(v.isNotNull, v)
        .when(eP.isNull, lit(null).cast("double"))
        .when(eN.isNull, eP("v"))
        .otherwise(eP("v") + (eN("v") - eP("v")) *
          ((col(timeCol) - eP("t")).cast("double") / (eN("t") - eP("t")).cast("double"))))
      .select(df.columns.toSeq.map(col) :+ col(s"${valueCol}_interp"): _*)
  }
}
