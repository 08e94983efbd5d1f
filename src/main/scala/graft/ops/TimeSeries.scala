package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ExactSum

/** Regular-grid resampling with forward fill — "one row per (key, step)
  * from each key's first event to its last, carrying the latest observed
  * value across the gaps". The batch complement to the streaming window
  * aggregates: dashboards and feature pipelines want dense, regular
  * series; event streams are sparse and bursty.
  *
  * Plan shape, in order:
  *  1. one hash aggregate to (key, bucket) keeping the LAST observation
  *     per bucket (`max_by` over the (ts, tiebreak) struct — deterministic
  *     under event-time ties);
  *  2. a per-key min/max aggregate (one row per key) exploded through
  *     `sequence()` into the dense bucket grid — rows ∝ keys × steps,
  *     independent of event volume;
  *  3. a left join of grid onto observations (both sides already keyed and
  *     bucketed — one shuffle each, co-partitioned);
  *  4. forward fill = `last(value, ignoreNulls)` over a per-key window
  *     ordered by bucket. Partitioned by key — the rankBy scale shape,
  *     never a global window.
  *
  * Buckets are integer epoch-microsecond steps (`floor(unix_micros/step)`)
  * — the same portability decision as retentionCohorts: integer bucket
  * arithmetic is engine-invariant where calendar truncation is not.
  */
object TimeSeries {

  /** Output: one row per (key, bucket) with `bucket_ts` (the bucket's
    * start as microsecond epoch), `<out>` (last observed value at or
    * before the bucket, forward-filled) and `filled` (true when the bucket
    * had no observation of its own). Leading buckets before a key's first
    * observation cannot occur (the grid starts at the first event). */
  /** Event-time TOLERANCE dedup: drop events that repeat the same key
    * within `toleranceUs` of the previous KEPT occurrence — the telemetry
    * intake rule ("double-click suppression": a retransmitted heartbeat
    * is noise, a new one after the gap is signal). Chain semantics: each
    * kept event restarts the window, so a burst longer than the tolerance
    * keeps its first event only — which needs a per-key ORDERED scan, not
    * a lag comparison (lag-to-previous-RAW-event would re-admit the third
    * event of a tight burst). One hash exchange on the key, a per-key
    * sort, and a bounded per-group iterator pass (flatMapGroups streams
    * the group; only the last-kept timestamp is held). Ties on (ts,
    * tiebreak) keep the earliest. */
  def dedupByTolerance(df: DataFrame, keyCols: Seq[String], tsCol: String,
                       toleranceUs: Long, tieBreak: String): DataFrame = {
    require(toleranceUs >= 0, s"toleranceUs must be >= 0, got $toleranceUs")
    require(keyCols.nonEmpty, "dedupByTolerance needs key columns")
    val spark = df.sparkSession
    val us = unix_micros(col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
    val withUs = df.withColumn("__us", us)
    val fields = withUs.schema
    import org.apache.spark.sql.Row
    val keyIdx = keyCols.map(fields.fieldIndex)
    val usIdx = fields.fieldIndex("__us")
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(fields)
    val deduped = withUs
      .repartition(keyCols.map(c => col(s"`$c`")): _*)
      .sortWithinPartitions(
        keyCols.map(c => col(s"`$c`")) ++ Seq(col("__us"), col(s"`$tieBreak`")): _*)
      .mapPartitions { it =>
        // partition is sorted by (key..., us, tie): track last kept per key run
        var lastKey: Seq[Any] = null
        var lastKept = Long.MinValue
        it.filter { r =>
          val k = keyIdx.map(r.get)
          val t = r.getLong(usIdx)
          val keep = lastKey == null || k != lastKey || t - lastKept > toleranceUs
          if (keep) { lastKey = k; lastKept = t }
          keep
        }
      }(enc)
    deduped.drop("__us")
  }

  /** [[resampleFill]] with LINEAR INTERPOLATION across the gaps instead of
    * carrying the last value: each synthesized bucket gets
    * `prev + (next − prev) · (b − bPrev)/(bNext − bPrev)` between its
    * neighboring observations. Same grid construction and per-key window
    * shape; two extra ignore-nulls window passes (previous and next
    * observation and their buckets). The grid runs first-to-last observed
    * bucket per key, so every synthesized row has both neighbors. */
  def resampleInterp(df: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, stepUs: Long, tieBreak: String,
                     out: String = "value"): DataFrame = {
    val (grid, obs) = gridAndObs(df, keyCol, tsCol, valueCol, stepUs, tieBreak)
    val base = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__b"))
    val back = base.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val fwd = base.rowsBetween(
      0, org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val obsB = when(col("__obs").isNotNull, col("__b"))
    grid.join(obs, Seq(keyCol, "__b"), "left")
      .withColumn("__pv", last(col("__obs"), ignoreNulls = true).over(back))
      .withColumn("__pb", last(obsB, ignoreNulls = true).over(back))
      .withColumn("__nv", first(col("__obs"), ignoreNulls = true).over(fwd))
      .withColumn("__nb", first(obsB, ignoreNulls = true).over(fwd))
      .withColumn(out,
        when(col("__obs").isNotNull, col("__obs"))
          .when(col("__pv").isNull, col("__nv"))
          .when(col("__nv").isNull, col("__pv"))
          .otherwise(col("__pv") + (col("__nv") - col("__pv")) *
            ((col("__b") - col("__pb")).cast("double") /
             (col("__nb") - col("__pb")).cast("double"))))
      .withColumn("filled", col("__obs").isNull)
      .select(col(keyCol), (col("__b") * stepUs).as("bucket_ts"),
        col(out), col("filled"))
  }

  /** Inner-sequence bound for the dense grid: the per-key range explodes
    * in two levels — coarse 64Ki-step blocks, then a bounded sequence
    * inside each block — so NO single materialized array exceeds 64Ki
    * elements. The naive `sequence(lo, hi)` builds the whole per-key
    * range as ONE in-memory array row: a multi-year key at a fine step is
    * hundreds of millions of elements, and Spark's `sequence` hard-fails
    * near 2³¹. Power of two, so `lo / CHUNK` is exact in double math and
    * `floor` never misrounds a block boundary. */
  private val GridChunk = 1L << 16

  /** Hard per-key ceiling (outer blocks × inner chunk = 2³² steps). A grid
    * past this is itself the bug — the OUTPUT is one row per step — so the
    * plan raises with the offending key instead of grinding. */
  private val MaxGridStepsPerKey = GridChunk * GridChunk

  private def gridAndObs(df: DataFrame, keyCol: String, tsCol: String,
                         valueCol: String, stepUs: Long,
                         tieBreak: String): (DataFrame, DataFrame) = {
    require(stepUs > 0, s"stepUs must be > 0, got $stepUs")
    val bucket = floor(unix_micros(
      col(tsCol).cast(org.apache.spark.sql.types.TimestampType)) / lit(stepUs)).as("__b")
    val obs = df.select(col(keyCol), bucket, col(tsCol), col(valueCol), col(tieBreak))
      .groupBy(col(keyCol), col("__b"))
      .agg(max_by(col(valueCol), struct(col(tsCol), col(tieBreak))).as("__obs"))
    // the guard rides the __lo expression so column pruning can't drop it
    val loGuarded = when(col("__hi") - col("__lo") >= lit(MaxGridStepsPerKey),
      raise_error(format_string(
        "resample grid for key %s spans %d steps (max %d): coarsen stepUs",
        col(keyCol).cast("string"), col("__hi") - col("__lo") + lit(1L),
        lit(MaxGridStepsPerKey)))).otherwise(col("__lo"))
    val ranges = df.select(col(keyCol), bucket)
      .groupBy(col(keyCol))
      .agg(min(col("__b")).as("__lo"), max(col("__b")).as("__hi"))
      .select(col(keyCol), loGuarded.as("__lo"), col("__hi"))
    val blocks = ranges.select(col(keyCol), col("__lo"), col("__hi"),
      explode(sequence(floor(col("__lo") / GridChunk),
        floor(col("__hi") / GridChunk))).as("__blk"))
    val grid = blocks.select(col(keyCol),
      explode(sequence(
        greatest(col("__lo"), col("__blk") * GridChunk),
        least(col("__hi"), col("__blk") * GridChunk + lit(GridChunk - 1L))))
        .as("__b"))
    (grid, obs)
  }

  /** Time-weighted average per (key, bucket) — the TWAP/telemetry-gauge
    * aggregate: each observation's value holds until the NEXT observation
    * in the same bucket, and the average weights values by their holding
    * time (an arithmetic mean over bursty samples overweights the bursts).
    *
    * Emits `n_events`, `span_us` (last − first observation), and `twap` =
    * Σ vᵢ·(tᵢ₊₁ − tᵢ) / span — null when the span is zero (single
    * observation). Weighted mass accumulates in EXACT decimals
    * (value at 6 dp × integer microseconds, widths chosen so no Spark
    * 38-precision cap engages); the only float op is the final division
    * of two exact terms, so the value reproduces bit-for-bit externally.
    *
    * Scale shape: the lead() window is partitioned by (key, bucket) —
    * group-bounded, never global — then one hash aggregate. */
  def twa(df: DataFrame, keyCol: Column, tsCol: Column, valCol: Column,
          bucketUs: Long, tieCol: Column): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be > 0, got $bucketUs")
    // the segment-length factor rides DECIMAL(12,0): spans are bounded by
    // the bucket width, so the bucket may not exceed 1e12 µs (~11.5 days)
    require(bucketUs <= 999999999999L,
      s"bucketUs must fit DECIMAL(12,0) (<= 999999999999), got $bucketUs")
    val us = unix_micros(tsCol)
    val base = df.select(keyCol.as("key"),
      (floor(us / bucketUs) * bucketUs).cast("long").as("w"),
      us.as("__us"), valCol.as("__v"), tieCol.as("__tie"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("key", "w").orderBy(col("__us"), col("__tie"))
    val seg = base.withColumn("__nxt", lead(col("__us"), 1).over(win))
    // INTEGER mass: value at 6 dp lifted to an exact integer of
    // micro-units, × integer microseconds -> a (31,0) decimal. The final
    // division is then (exact int -> double) / (exact int -> double) —
    // both single correctly-rounded conversions in any engine. A
    // fractional-scaled decimal here would NOT replay externally:
    // engines convert wide scaled decimals to double as
    // (int128 -> double) * 10^-scale, two roundings, which drifts a ulp
    // from the BigDecimal single-rounding path once the unscaled value
    // passes 2^53 (observed live vs DuckDB 1.0.0).
    // widths: value DECIMAL(24,6) (18 integer digits — a 1e4 bound here
    // would silently null-out larger observations in non-ANSI mode),
    // micro-units DECIMAL(25,0), × span DECIMAL(12,0) -> 25+12+1 = 38:
    // exactly at Spark's precision cap without engaging it
    val D = org.apache.spark.sql.types.DecimalType
    val valMicro = (col("__v").cast(D(24, 6)) * lit(1000000)).cast(D(25, 0))
    val mass = valMicro *
      coalesce(col("__nxt") - col("__us"), lit(0L)).cast(D(12, 0))
    seg.groupBy("key", "w")
      .agg(count(lit(1)).as("n_events"),
        (max(col("__us")) - min(col("__us"))).as("span_us"),
        ExactSum(mass, 0).as("__num"))
      .withColumn("twap",
        when(col("span_us") > 0,
          col("__num").cast("double")
            / (col("span_us") * lit(1000000L)).cast("double")))
      .select(col("key"), col("w"), col("n_events"), col("span_us"),
        col("twap"))
  }

  /** DAU / trailing-WAU stickiness per day — the engagement-ratio report.
    * `dau` = distinct actives that day; `wau` = distinct actives over the
    * trailing 7-day window ending that day; `stickiness` = dau/wau (one
    * double division of exact counts). Day domain = days with activity.
    *
    * Scale shape: ONE distinct pass to (day, user) — the only
    * event-volume shuffle — then a 7-fan day-range self-join on the
    * day-deduped frame (each (day, user) row lands in ≤ 7 windows; the
    * join key space is days, bounded by the calendar, and the fan factor
    * is the window length, not the data). No count-distinct window
    * function needed — which Spark does not support over ranges anyway. */
  def stickiness(df: DataFrame, userCol: Column, tsCol: Column,
                 windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val dayUs = 86400000000L
    val du = df.select(floor(unix_micros(tsCol) / dayUs).cast("long").as("d"),
      userCol.as("u")).distinct()
    val dau = du.groupBy("d").agg(count(lit(1)).as("dau"))
    val wau = dau.select(col("d"))
      .join(du.select(col("d").as("d2"), col("u")),
        col("d2") >= col("d") - (windowDays - 1) && col("d2") <= col("d"))
      .groupBy("d").agg(countDistinct(col("u")).as("wau"))
    dau.join(wau, "d")
      .withColumn("stickiness",
        col("dau").cast("double") / col("wau").cast("double"))
      .select(col("d"), col("dau"), col("wau"), col("stickiness"))
  }

  def resampleFill(df: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, stepUs: Long, tieBreak: String,
                   out: String = "value"): DataFrame = {
    // NTZ -> LTZ cast before unix_micros (inside gridAndObs): the engine
    // runs sessions in UTC, so the instant is unchanged (the
    // q_sessionize/q_rolling recipe)
    val (grid, obs) = gridAndObs(df, keyCol, tsCol, valueCol, stepUs, tieBreak)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(obs, Seq(keyCol, "__b"), "left")
      .withColumn(out, last(col("__obs"), ignoreNulls = true).over(w))
      .withColumn("filled", col("__obs").isNull)
      .select(col(keyCol), (col("__b") * stepUs).as("bucket_ts"), col(out), col("filled"))
  }
}
