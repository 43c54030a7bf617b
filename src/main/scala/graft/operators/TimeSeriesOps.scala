package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators over sensor streams (SURVEY §2.C).
  *
  * All operators are single-shuffle where the semantics allow:
  * window/rolling/session ops shuffle once on the sensor key;
  * aggregation buckets are epoch-aligned so they parallelize without
  * coordination. Event time is always carried as epoch µs/ms longs
  * internally — exact integer arithmetic, no float time math.
  */
object TimeSeriesOps {

  // Unique observe() query names per pointInIntervalJoin call site
  // (Spark requires observed-metric names to be distinct per query).
  private val rjSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Tumbling/hopping windows via Spark's native `window()`;
    * epoch-aligned so the bucket of a row is a pure function of its
    * timestamp (map-side partial aggregation works).
    */
  def windowed(df: DataFrame, ts: Column, width: String, slide: Option[String],
      keys: Column*): org.apache.spark.sql.RelationalGroupedDataset = {
    val win = slide.fold(window(ts, width))(sl => window(ts, width, sl))
    df.groupBy((win +: keys): _*)
  }

  /** Session windows: events within `gapMinutes` of the previous
    * event of the same key merge into one session. One shuffle on
    * the key; the island assignment is a running sum over the
    * ordered partition.
    */
  def sessionize(df: DataFrame, key: Column, tsUs: Column, gapMinutes: Int): DataFrame =
    sessionizeUs(df, key, tsUs, gapMinutes * 60L * 1000000L)

  def sessionizeUs(df: DataFrame, key: Column, tsUs: Column, gapUs: Long): DataFrame = {
    val w = Window.partitionBy(key).orderBy(tsUs)
    val flagged = df.withColumn("__new_session",
      when(tsUs - lag(tsUs, 1).over(w) >= gapUs || lag(tsUs, 1).over(w).isNull, 1)
        .otherwise(0))
    flagged.withColumn("__session_id",
      sum(col("__new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Rolling statistics over the last `nRows` readings per key. */
  def rollingFrame(key: Column, order: Seq[Column], nRows: Int)
      : org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(key).orderBy(order: _*)
      .rowsBetween(-(nRows - 1), Window.currentRow)

  /** Forward-fill: latest non-null value up to the current row. */
  def forwardFill(df: DataFrame, value: Column, key: Column, order: Seq[Column],
      as: String): DataFrame =
    df.withColumn(as,
      last(value, ignoreNulls = true).over(
        Window.partitionBy(key).orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** As-of join: for each left row, the latest right row of the same
    * key with right.time <= left.time.
    *
    * Composed as union + ordered forward-fill (one shuffle + one
    * sort, O(n log n)) rather than an inequality join (O(n·m) nested
    * loop) — the shape that survives 100 TB. At equal times the
    * right row sorts first, so it is visible to the left row
    * (inclusive as-of), with `rightId` as the deterministic
    * tie-breaker among equal-time right rows.
    *
    * @param left   rows to annotate; must contain `key`, `timeUs`, `leftId`
    * @param right  lookup stream; must contain `key`, `timeUs`, `rightId`
    *               plus `carry` columns to bring along
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, timeUs: String,
      leftId: String, rightId: String, carry: Seq[String]): DataFrame = {
    val l = left.select(col(key), col(timeUs), col(leftId), lit(1).as("__is_q"))
    val r = right.select((col(key) +: col(timeUs) +: lit(0).as("__is_q") +:
      col(rightId) +: carry.map(col)): _*)
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col(timeUs), col("__is_q"), col(rightId))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned
      .withColumn("__m_id", last(col(rightId), ignoreNulls = true).over(w))
      .withColumn("__m_time", last(when(col("__is_q") === 0, col(timeUs)),
        ignoreNulls = true).over(w))
    val carried = carry.foldLeft(filled) { (d, c) =>
      d.withColumn(s"__m_$c", last(when(col("__is_q") === 0, col(c)),
        ignoreNulls = true).over(w))
    }
    carried.filter(col("__is_q") === 1)
      .select((col(key) +: col(timeUs) +: col(leftId) +:
        col("__m_id").as(s"matched_$rightId") +:
        col("__m_time").as("matched_time_us") +:
        carry.map(c => col(s"__m_$c").as(s"matched_$c"))): _*)
  }

  /** Linear interpolation across value gaps: null readings take
    * prev + (next − prev)·(t − t_prev)/(t_next − t_prev) between
    * the nearest non-null neighbors; leading/trailing gaps fall
    * back to the single available neighbor. One shuffle on the key,
    * two window passes (backward and forward fill of value+time).
    */
  def interpolateLinear(df: DataFrame, value: Column, key: Column,
      tUs: Column, as: String): DataFrame = {
    val back = Window.partitionBy(key).orderBy(tUs)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(key).orderBy(tUs)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prevV = last(value, ignoreNulls = true).over(back)
    val prevT = last(when(value.isNotNull, tUs), ignoreNulls = true).over(back)
    val nextV = first(value, ignoreNulls = true).over(fwd)
    val nextT = first(when(value.isNotNull, tUs), ignoreNulls = true).over(fwd)
    df.withColumn(as,
      when(value.isNotNull, value)
        .when(prevV.isNotNull && nextV.isNotNull,
          prevV + (nextV - prevV) * (tUs - prevT) / (nextT - prevT))
        .when(prevV.isNotNull, prevV)
        .otherwise(nextV))
  }

  /** [[asOfJoin]] with a match-age bound: matches further than
    * `toleranceUs` before the left time are nulled out (pandas
    * merge_asof `tolerance` semantics). Same single-shuffle shape —
    * the tolerance is a post-fill predicate.
    */
  def asOfJoinTolerance(left: DataFrame, right: DataFrame, key: String,
      timeUs: String, leftId: String, rightId: String, carry: Seq[String],
      toleranceUs: Long): DataFrame = {
    val joined = asOfJoin(left, right, key, timeUs, leftId, rightId, carry)
    val inRange = col(timeUs) - col("matched_time_us") <= toleranceUs
    val cleared = (s"matched_$rightId" +: "matched_time_us" +:
      carry.map(c => s"matched_$c"))
      .foldLeft(joined)((d, c) => d.withColumn(c, when(inRange, col(c))))
    cleared
  }

  /** Forward as-of join: the EARLIEST right row of the same key with
    * right.time >= left.time (direction="forward" in pandas terms).
    * Same union + ordered-fill composition, run in reverse time
    * order; ties at equal time still see the right row, and the
    * smallest `rightId` wins among equal-time right rows.
    */
  def asOfJoinForward(left: DataFrame, right: DataFrame, key: String,
      timeUs: String, leftId: String, rightId: String, carry: Seq[String]): DataFrame = {
    val l = left.select(col(key), col(timeUs), col(leftId), lit(1).as("__is_q"))
    val r = right.select((col(key) +: col(timeUs) +: lit(0).as("__is_q") +:
      col(rightId) +: carry.map(col)): _*)
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col(timeUs).desc, col("__is_q"), col(rightId).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned
      .withColumn("__m_id", last(col(rightId), ignoreNulls = true).over(w))
      .withColumn("__m_time", last(when(col("__is_q") === 0, col(timeUs)),
        ignoreNulls = true).over(w))
    val carried = carry.foldLeft(filled) { (d, c) =>
      d.withColumn(s"__m_$c", last(when(col("__is_q") === 0, col(c)),
        ignoreNulls = true).over(w))
    }
    carried.filter(col("__is_q") === 1)
      .select((col(key) +: col(timeUs) +: col(leftId) +:
        col("__m_id").as(s"matched_$rightId") +:
        col("__m_time").as("matched_time_us") +:
        carry.map(c => col(s"__m_$c").as(s"matched_$c"))): _*)
  }

  /** Resample to a fixed per-key time grid: one row per
    * `intervalUs` bucket from the key's first to last reading, with
    * bucket aggregates where data exists and (optionally)
    * forward-filled values across empty buckets — the
    * "regularize an irregular sensor series" operator.
    *
    * Grid generation is per-key sequence/explode (no driver loop);
    * everything downstream is the usual single-shuffle window.
    */
  def resample(df: DataFrame, key: Column, tsUs: Column, value: Column,
      intervalUs: Long, fillForward: Boolean): DataFrame = {
    val bucketed = df.select(key.as("k"),
      (floor(tsUs / intervalUs) * intervalUs).cast("long").as("bucket"),
      value.as("v"))
    val agg = bucketed.groupBy("k", "bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).cast("double").as("sum_v"))
    val grid = bucketed.groupBy("k")
      .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
      .select(col("k"), explode(sequence(col("lo"), col("hi"),
        lit(intervalUs))).as("bucket"))
    val joined = grid.join(agg, Seq("k", "bucket"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    if (!fillForward) joined
    else joined.withColumn("sum_v_filled",
      last(col("sum_v"), ignoreNulls = true).over(
        Window.partitionBy(col("k")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-key z-score anomaly flags, with exact-decimal mean and
    * sum-of-squares so the derived stats are reproducible
    * bit-for-bit on any engine (no float summation-order drift).
    * Stats join back broadcast: two scans, zero extra shuffles of
    * the fact.
    */
  /** Scalable point-in-interval (range) join: each interval explodes
    * to the fixed-width time buckets it overlaps and each point
    * carries its single bucket, so the range predicate evaluates only
    * within (key, bucket) equi-groups — a hash-partitioned equi-join,
    * never a theta/nested-loop join. Pick `bucketUs` on the order of
    * the typical interval length: an interval explodes to
    * O(length/bucket + 1) rows and a point probes exactly one bucket,
    * so the join stays linear in inputs at any scale.
    */
  def pointInIntervalJoin(points: DataFrame, intervals: DataFrame,
      key: String, tUs: String, sUs: String, eUs: String,
      bucketUs: Long, maxBuckets: Int = 1 << 14): DataFrame = {
    // Data-quality guard: a corrupt interval (wrong time unit,
    // sentinel far-future end) would explode to millions of bucket
    // rows and kill the task; empty and over-long intervals are
    // dropped rather than letting one bad row take down the job.
    // The drop is NOT silent: an observed metric
    // `dropped_intervals` (query name `graft.pointInIntervalJoin.N`)
    // reports the count to every QueryExecutionListener on each
    // action over this plan, so a caller whose intervals are
    // legitimately longer than maxBuckets·bucketUs sees a non-zero
    // counter instead of quietly missing join rows. (observe() is a
    // plan-level agg — free at scale, no extra job or shuffle.)
    val ok = col(eUs) >= col(sUs) &&
      expr(s"$eUs div $bucketUs") - expr(s"$sUs div $bucketUs") <= maxBuckets
    val bIv = intervals
      .observe(s"graft.pointInIntervalJoin.${rjSeq.incrementAndGet()}",
        sum(when(ok, 0L).otherwise(1L)).as("dropped_intervals"))
      .filter(ok)
      .withColumn("__bk", explode(sequence(
        expr(s"$sUs div $bucketUs"), expr(s"$eUs div $bucketUs"))))
    val bPt = points.withColumn("__bk", expr(s"$tUs div $bucketUs"))
    bPt.join(bIv, Seq(key, "__bk"))
      .filter(col(tUs).between(col(sUs), col(eUs)))
      .drop("__bk")
  }

  /** Interval × interval overlap join: pairs of same-key intervals
    * with a non-empty intersection, as a hash equi-join — the
    * interval twin of [[pointInIntervalJoin]]. Both sides explode to
    * the fixed-width buckets they cover; a pair is admitted ONLY in
    * the first bucket the two intervals share
    * (`bucket == max(ls, rs) div bucketUs`), so every overlapping
    * pair emerges exactly once with no dedup/distinct pass and no
    * theta join anywhere in the plan. Corrupt (empty / over-long)
    * intervals are dropped with the count reported via the same
    * observed-metric channel as [[pointInIntervalJoin]].
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame, key: String,
      lsUs: String, leUs: String, rsUs: String, reUs: String,
      bucketUs: Long, maxBuckets: Int = 1 << 14): DataFrame = {
    def buckets(df: DataFrame, s: String, e: String): DataFrame = {
      val ok = col(e) >= col(s) &&
        expr(s"$e div $bucketUs") - expr(s"$s div $bucketUs") <= maxBuckets
      df.observe(s"graft.intervalOverlapJoin.${rjSeq.incrementAndGet()}",
          sum(when(ok, 0L).otherwise(1L)).as("dropped_intervals"))
        .filter(ok)
        .withColumn("__bk", explode(sequence(
          expr(s"$s div $bucketUs"), expr(s"$e div $bucketUs"))))
    }
    buckets(left, lsUs, leUs)
      .join(buckets(right, rsUs, reUs), Seq(key, "__bk"))
      .filter(col(lsUs) <= col(reUs) && col(rsUs) <= col(leUs) &&
        col("__bk") === expr(s"greatest($lsUs, $rsUs) div $bucketUs"))
      .drop("__bk")
  }

  /** Shared level-1 shape of the chunked folds: per (key, time
    * chunk), the chunk's values as a (t, tie)-ordered array. State
    * per aggregation group is bounded by the rows inside one
    * `chunkUs` window — pick the width so a key's densest chunk fits
    * comfortably in a task (e.g. 1 day of 1 Hz readings = 86 400
    * values); a billion-row key then spans many chunks instead of
    * materializing in one task.
    */
  private def timeChunks(df: DataFrame, key: Column, tUs: Column, tie: Column,
      value: Column, chunkUs: Long): DataFrame =
    df.select(key.as("key"), tUs.cast("long").as("__t"), tie.as("__tie"),
        value.as("__v"))
      .withColumn("__chunk", expr(s"__t div $chunkUs"))
      .groupBy(col("key"), col("__chunk"))
      .agg(sort_array(collect_list(struct(col("__t"), col("__tie"),
        col("__v")))).as("xs"), count(lit(1)).as("n"))
      .select(col("key"), col("__chunk"), col("n"),
        transform(col("xs"), x => x("__v")).as("vals"))

  /** Scale-safe per-key EWMA: s_0 = x_0, s_t = α·x_t + (1−α)·s_{t−1}
    * over the (t, tie)-ordered series, computed as a TWO-LEVEL fold
    * so no task ever materializes a whole key's history:
    *
    *  1. per (key, time chunk of `chunkUs`): the chunk's sequential
    *     fold both zero-seeded (`b₀`) and x_0-seeded (`bₓ`), plus the
    *     decay product a = (1−α)^n computed as a fold (not `pow`, so
    *     every engine performs the identical multiplications);
    *  2. per key, over chunks in time order: EWMA segments are affine
    *     maps y ↦ a·y + b, which compose associatively — the running
    *     value folds through `acc·a_c + b₀_c`, seeded with the first
    *     chunk's x_0-seeded fold.
    *
    * Empty chunks simply don't exist as groups (an absent chunk is
    * the identity map). Both levels are deterministic folds, so the
    * doubles are reproducible bit-for-bit by any engine that mirrors
    * the same two-level op order — which is how the oracle checks
    * this without rounding. Level-1 state is bounded by the densest
    * chunk; level-2 state by the number of non-empty chunks per key
    * (for multi-year 100 TB histories, recurse with a coarser outer
    * chunk). [[ewma]] is the single-level form for series known to
    * be sensor-scale.
    */
  def ewmaChunked(df: DataFrame, key: Column, tUs: Column, tie: Column,
      value: Column, alpha: Double, chunkUs: Long): DataFrame = {
    val a = lit(alpha)
    val b = lit(1 - alpha)
    val chunks = timeChunks(df, key, tUs, tie, value, chunkUs)
      .select(col("key"), col("__chunk"), col("n"),
        aggregate(col("vals"), lit(1.0), (acc, _) => acc * b).as("ca"),
        aggregate(slice(col("vals"), lit(2), size(col("vals")) - 1),
          element_at(col("vals"), 1), (acc, x) => x * a + acc * b).as("cbseed"),
        aggregate(col("vals"), lit(0.0), (acc, x) => x * a + acc * b).as("cbzero"))
    chunks
      .groupBy(col("key"))
      .agg(sort_array(collect_list(struct(col("__chunk"), col("ca"),
        col("cbseed"), col("cbzero")))).as("cs"), sum(col("n")).as("n"))
      .select(col("key"), col("n"),
        aggregate(slice(col("cs"), lit(2), size(col("cs")) - 1),
          element_at(col("cs"), 1)("cbseed"),
          (acc, s) => acc * s("ca") + s("cbzero")).as("ewma"))
  }

  /** Scale-safe per-key one-sided CUSUM (final accumulators), the
    * [[ewmaChunked]] twin for the recurrences
    * pos_t = max(0, pos_{t−1} + (x_t − target − slack)) and
    * neg_t = min(0, neg_{t−1} + (x_t − target + slack)), both from 0.
    *
    * A CUSUM segment is the max-plus map s ↦ max(m, s + t): one
    * element is (m=0, t=d); composition is
    * (m₂, t₂)∘(m₁, t₁) = (max(m₂, m₁+t₂), t₁+t₂), so chunks fold per
    * (key, time chunk) with the SAME per-element op as the plain
    * recurrence (seeded m=−∞, the identity), then compose per key in
    * chunk order; the final statistic is the map applied to 0, i.e.
    * max(m, t). The negative side is symmetric with min/+∞. Both
    * levels are deterministic folds — bit-reproducible doubles, same
    * mirroring contract as [[ewmaChunked]].
    */
  def cusumChunked(df: DataFrame, key: Column, tUs: Column, tie: Column,
      value: Column, target: Double, slack: Double, chunkUs: Long): DataFrame = {
    val up = lit(target + slack)
    val dn = lit(target - slack)
    val nInf = lit(Double.NegativeInfinity)
    val pInf = lit(Double.PositiveInfinity)
    val chunks = timeChunks(df, key, tUs, tie, value, chunkUs)
      .select(col("key"), col("__chunk"), col("n"),
        aggregate(col("vals"), nInf,
          (acc, x) => greatest(lit(0.0), acc + (x - up))).as("mpos"),
        aggregate(col("vals"), lit(0.0), (acc, x) => acc + (x - up)).as("tpos"),
        aggregate(col("vals"), pInf,
          (acc, x) => least(lit(0.0), acc + (x - dn))).as("mneg"),
        aggregate(col("vals"), lit(0.0), (acc, x) => acc + (x - dn)).as("tneg"))
    chunks
      .groupBy(col("key"))
      .agg(sort_array(collect_list(struct(col("__chunk"), col("mpos"),
        col("tpos"), col("mneg"), col("tneg")))).as("cs"),
        sum(col("n")).as("n"))
      .select(col("key"), col("n"),
        aggregate(col("cs"), struct(nInf.as("m"), lit(0.0).as("t")),
          (acc, s) => struct(greatest(s("mpos"), acc("m") + s("tpos")).as("m"),
            (acc("t") + s("tpos")).as("t")),
          acc => greatest(acc("m"), acc("t"))).as("cusum_pos"),
        aggregate(col("cs"), struct(pInf.as("m"), lit(0.0).as("t")),
          (acc, s) => struct(least(s("mneg"), acc("m") + s("tneg")).as("m"),
            (acc("t") + s("tneg")).as("t")),
          acc => least(acc("m"), acc("t"))).as("cusum_neg"))
  }

  /** Per-key one-sided CUSUM drift statistics over the time-ordered
    * series: pos_t = max(0, pos_{t−1} + (x_t − target − slack)),
    * neg_t = min(0, neg_{t−1} + (x_t − target + slack)), both from 0.
    * Same sequential-fold shape as [[ewma]] (one groupBy shuffle,
    * deterministic order ⇒ bit-reproducible doubles); the per-key
    * array bounds this form to sensor-scale series — unbounded keys
    * go through [[cusumChunked]] (the C21 entry point) or the
    * streaming twin's keyed state. Returns the FINAL accumulator per
    * key.
    */
  def cusum(df: DataFrame, key: Column, order: Seq[Column], value: Column,
      target: Double, slack: Double): DataFrame = {
    val up = lit(target + slack)
    val dn = lit(target - slack)
    df.groupBy(key.as("key"))
      .agg(
        sort_array(collect_list(struct(order :+ value.as("v"): _*))).as("xs"),
        count(lit(1)).as("n"))
      .select(col("key"), col("n"),
        transform(col("xs"), x => x("v")).as("vals"))
      .select(col("key"), col("n"),
        aggregate(col("vals"), lit(0.0),
          (acc, x) => greatest(lit(0.0), acc + (x - up))).as("cusum_pos"),
        aggregate(col("vals"), lit(0.0),
          (acc, x) => least(lit(0.0), acc + (x - dn))).as("cusum_neg"))
  }

  /** Final exponentially-weighted moving average per key over the
    * time-ordered series: s_0 = x_0, s_t = α·x_t + (1−α)·s_{t−1}.
    * One groupBy shuffle; the recurrence runs as a sequential array
    * fold (deterministic order), so results are bit-reproducible on
    * any engine that folds the same order — which is what lets the
    * oracle check it without rounding. `order` must be a total order
    * (include a unique id as tie-break). The per-key array bounds
    * this form to series known to fit one task (sensor-scale);
    * unbounded keys go through [[ewmaChunked]] (the C16 entry point)
    * or the incremental keyed state of
    * [[graft.streaming.StatefulEwma]].
    */
  def ewma(df: DataFrame, key: Column, order: Seq[Column], value: Column,
      alpha: Double): DataFrame = {
    val a = lit(alpha)
    val b = lit(1 - alpha)
    df.groupBy(key.as("key"))
      .agg(
        sort_array(collect_list(struct(order :+ value.as("v"): _*))).as("xs"),
        count(lit(1)).as("n"))
      // project the ordered value array once — Catalyst does not CSE
      // higher-order-function calls
      .select(col("key"), col("n"),
        transform(col("xs"), x => x("v")).as("vals"))
      .select(col("key"), col("n"),
        aggregate(
          slice(col("vals"), lit(2), size(col("vals")) - 1),
          element_at(col("vals"), 1),
          (acc, x) => x * a + acc * b).as("ewma"))
  }

  /** Per-key z-score `(value - mean) / sd` with the sample standard
    * deviation. `z` is NULL where it is undefined: a key with one
    * reading (`n - 1 = 0`) or a constant key (`sd = 0`). Under ANSI
    * mode a bare `/ 0` raises DIVIDE_BY_ZERO; SQL engines without
    * ANSI (DuckDB, the c8 oracle) return NULL, which this matches.
    */
  def zscore(df: DataFrame, key: Column, value: Column): DataFrame = {
    val stats = df.groupBy(key.as("__k")).agg(
      count(lit(1)).as("__n"),
      sum(value.cast("decimal(18,2)")).cast("double").as("__sum"),
      sum((value * value).cast("decimal(22,4)")).cast("double").as("__sumsq"))
      .select(col("__k"), (col("__sum") / col("__n")).as("__mean"),
        when(col("__n") > 1,
          sqrt((col("__sumsq") - col("__sum") * col("__sum") / col("__n")) /
            (col("__n") - 1))).as("__sd"))
    df.join(broadcast(stats), key === col("__k"))
      .withColumn("z",
        when(col("__sd") =!= 0, (value - col("__mean")) / col("__sd")))
  }
}
