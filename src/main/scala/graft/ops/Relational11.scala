package graft.ops

import graft.Tables
import graft.functions.PortableHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Eleventh batch: pre-flight join economics and audience
  * segmentation — the two remaining "operate the engine" reports: a
  * key-frequency histogram that PREDICTS a join's output size and
  * skew before paying for it, and the bitmap-style segment-overlap
  * count behind every "users who did A and B but not C" question.
  */
object Relational11 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** q95: join-key frequency profile — the histogram a planner (or an
    * engineer about to launch a self-join) reads to predict cost: for
    * the events.user_id key, each row says "n_keys keys appear cnt
    * times"; `selfjoin_rows = n_keys·cnt²` is that stratum's exact
    * contribution to a user_id self-join's output (sessionization,
    * co-occurrence mining), and the histogram's tail is the skew
    * verdict — a single key with cnt ≈ 10⁶ predicts a 10¹²-row
    * straggler partition, the signal to salt (q76) or pre-aggregate
    * BEFORE the shuffle burns a day. Σ selfjoin_rows is the exact
    * |A ⋈ A| cardinality; the same arithmetic with two tables' per-key
    * counts gives |A ⋈ B| — computed from counts, never by joining.
    *
    * Shape at scale: one dense groupBy(user_id), then a ~log-sized
    * groupBy(cnt) — the profile costs one aggregation pass over key
    * counts, vs the join's quadratic blowup it predicts.
    */
  private val joinKeyProfile: Q = (s, dir) => {
    Tables(s, dir).events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("cnt"))
      .agg(count(lit(1)).as("n_keys"))
      .select(
        col("cnt"),
        col("n_keys"),
        (col("cnt") * col("n_keys")).as("n_rows"),
        (col("cnt") * col("cnt") * col("n_keys")).as("selfjoin_rows")
      )
      .orderBy("cnt")
  }

  /** q96: segment-overlap counts — the audience/bitmap-index shape:
    * every user gets three membership flags (did they ever click /
    * purchase / error), and the output is the 2³-cell overlap table
    * ("clicked AND purchased but never errored" = the
    * (true,true,false) cell). The flags are per-user bool_or
    * aggregates — the row-store phrasing of a roaring-bitmap AND/OR —
    * and the result is the input to funnel triage, cohort sizing and
    * ad-audience estimation.
    *
    * Shape at scale: conditional flags fold into ONE dense
    * groupBy(user_id) (map-side partials, no distinct), then an
    * 8-key aggregate. The flags never materialize per event, and no
    * per-segment pass re-reads the table.
    */
  private val segmentOverlap: Q = (s, dir) => {
    Tables(s, dir).events
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "click", true).otherwise(false))
          .as("did_click"),
        max(when(col("event_type") === "purchase", true).otherwise(false))
          .as("did_purchase"),
        max(when(col("event_type") === "error", true).otherwise(false))
          .as("did_error")
      )
      .groupBy(col("did_click"), col("did_purchase"), col("did_error"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("did_click", "did_purchase", "did_error")
  }

  /** q97: event-type co-occurrence with lift — the association-rule /
    * PMI shape behind "users who do A also do B": for every unordered
    * type pair, how many users did both, and the lift
    * n_ab·N / (n_a·n_b) (>1 = positively associated). Lift rather
    * than log-PMI keeps the arithmetic libm-free: exact BIGINT counts
    * and ONE closing IEEE division per row, bit-identical across
    * engines.
    *
    * Shape at scale: the per-user distinct collapses events to
    * ≤ |type domain| rows per user (ONE dense shuffle); the pair
    * self-join fans out ≤ C(types,2) per user — bounded by the
    * DOMAIN, not activity; marginals and the pair counts are
    * tiny-key aggregates, and N rides a one-row broadcast.
    */
  private val cooccurrence: Q = (s, dir) => {
    val u = Tables(s, dir).events
      .select(col("user_id"), col("event_type"))
      .distinct()
    val n = u.select(col("user_id")).distinct().agg(count(lit(1)).as("__n"))
    val singles = u
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("__cnt"))
    val pairs = u
      .select(col("user_id"), col("event_type").as("type_a"))
      .join(
        u.select(col("user_id"), col("event_type").as("type_b")),
        "user_id"
      )
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(
        broadcast(singles.select(col("event_type").as("type_a"), col("__cnt").as("n_a"))),
        "type_a"
      )
      .join(
        broadcast(singles.select(col("event_type").as("type_b"), col("__cnt").as("n_b"))),
        "type_b"
      )
      .crossJoin(broadcast(n))
      .select(
        col("type_a"),
        col("type_b"),
        col("n_a"),
        col("n_b"),
        col("n_ab"),
        ((col("n_ab") * col("__n")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift")
      )
      .orderBy("type_a", "type_b")
  }

  /** Sketch accuracy for q98 — far above every fixture's row count
    * (customer: 15K at sf0.1), so the Greenwald-Khanna summary never
    * compresses and the cuts are EXACT order statistics: that is what
    * makes the oracle reconstructible in SQL (the CountMin/HLL
    * pattern — mirror the sketch's read rule, here degenerate-exact).
    * At 100 TB the same knob simply stays a constant and the cuts
    * become ±1/accuracy-rank approximate; q37's spec-pinned ±1-tile
    * contract is the semantics statement for that regime.
    */
  private[ops] val NTILE_ACCURACY = 1000000

  /** q98: approximate ntile — q37's scale companion as a GATED query
    * (not only the ApproxNtileSpec contract). Same per-tile report as
    * q37 (count, min, max, decimal-exact sum per tile) but the tiles
    * come from [[ApproxNtile.bucketed]]: n−1 percentile_approx
    * cut-points (one aggregate pass, mergeable sketch), broadcast,
    * tile assigned map-side as 1 + |{cuts < v}| — no global-sort
    * window anywhere.
    *
    * Oracle parity: percentile_approx's exact-mode read returns the
    * sample at 1-based rank ⌈p·n⌉ (QuantileSummaries.query's
    * rank = ceil(quantile·count); verified empirically at n = 149,
    * 151, 997, 1499, 1500, 15000), and with NTILE_ACCURACY ≫ n the
    * summary holds every sample, so the DuckDB mirror reads the same
    * order statistic by row_number. p = i/4 is exact in binary, so
    * ⌈p·n⌉ has no float hazard at fixture sizes.
    */
  private val approxNtile: Q = (s, dir) => {
    import graft.ops.Qx.dsum
    ApproxNtile
      .bucketed(
        Tables(s, dir).customer.select(col("c_custkey"), col("c_acctbal")),
        col("c_acctbal"),
        4,
        NTILE_ACCURACY
      )
      .groupBy(col("tile"))
      .agg(
        count(lit(1)).as("n"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        dsum(col("c_acctbal")).as("sum_bal")
      )
      .orderBy("tile")
  }

  /** q99: the exact↔approx ntile DISAGREEMENT, gated — q37's exact
    * tile next to q98's sketch tile per row, aggregated to the
    * (exact_tile, approx_tile) confusion cells. ApproxNtileSpec pins
    * the ±1-tile contract as a test; this row pins the measured
    * disagreement itself under the oracle gate, so a sketch
    * regression shows up as a changed confusion table, not only a
    * failed inequality. Off-diagonal cells are exactly the cut-
    * boundary ties the ApproxNtile scaladoc predicts (ntile splits
    * equal values by row order; a value-based cut cannot).
    *
    * The exact side is q37's global-sort window — sanctioned here for
    * the same reason as q37 itself: this query EXISTS to compare
    * against the exact anchor. The approx side and the join are
    * map-side + one dense key join.
    */
  private val ntileDisagreement: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val base = Tables(s, dir).customer.select(col("c_custkey"), col("c_acctbal"))
    val w = Window.orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    val exact = base.select(
      col("c_custkey"),
      ntile(4).over(w).as("exact_tile")
    )
    val approx = ApproxNtile
      .bucketed(base, col("c_acctbal"), 4, NTILE_ACCURACY)
      .select(col("c_custkey"), col("tile").as("approx_tile"))
    exact
      .join(approx, "c_custkey")
      .groupBy(col("exact_tile"), col("approx_tile"))
      .agg(count(lit(1)).as("n"))
      .orderBy("exact_tile", "approx_tile")
  }

  /** q100: OHLC downsampling bars — the telemetry/market-data
    * compaction every time-series store runs (candlesticks, metric
    * rollups): per (event_type, hour), the bucket's OPEN and CLOSE
    * values (earliest/latest under the total (ts, event_id) order —
    * the A4 argmin/argmax, no window, no second scan), HIGH/LOW
    * extremes, row count, and the decimal-exact value sum
    * ([[Qx.dsum]]).
    *
    * The (ts, event_id) tiebreak is PACKED into one BIGINT —
    * within-bucket micros (< 2³²) · 2³¹ + event_id — because
    * min_by/max_by over a primitive key keeps the whole aggregation
    * in HashAggregate with map-side partials, where a struct ordering
    * key falls back to SortAggregate (a per-partition sort of the raw
    * ticks). Domain: event_id < 2³¹ rides the pack; a wider id space
    * packs into DECIMAL(38) the same way. The pack is order-isomorphic
    * to (ts, event_id), so the oracle's `first(value ORDER BY ts,
    * event_id)` states the same spec.
    *
    * Scale: one hash aggregation on (type, bucket) — downsampling
    * 100 TB of raw ticks to bars is exactly one shuffle of the
    * partially-aggregated bar table.
    */
  private val ohlcBars: Q = (s, dir) => {
    graft.Tables(s, dir).events
      .filter(col("value").isNotNull)
      .select(
        col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("bucket_us"),
        (
          (unix_micros(col("ts")) -
            unix_micros(date_trunc("hour", col("ts")))) *
            lit(2147483648L) + col("event_id")
        ).as("ord"),
        col("value")
      )
      .groupBy(col("event_type"), col("bucket_us"))
      .agg(
        min_by(col("value"), col("ord")).as("open"),
        max_by(col("value"), col("ord")).as("close"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("n"),
        Qx.dsum(col("value")).as("sum_value")
      )
      .orderBy("event_type", "bucket_us")
  }

  /** Bits per dimension for q101's Z-order curve (z spans 24 bits).
    * Keys wider than 12 bits simply don't contribute their high bits
    * — mod-4096 tiling, identical arithmetic in both engines, so the
    * gate is exact at every SF; aliased keys merely SHARE buckets
    * (zone-map soundness never depends on the curve), which degrades
    * pruning exactly the way an undersized ZORDER column budget does
    * in production — sizing Z_BITS to the real domain is the
    * deployment knob.
    */
  private val Z_BITS = 12

  /** Bucket width for both layouts: keys shift right by this, so a
    * bucket covers 2^18 consecutive key values — 64 buckets over the
    * z-curve's 24-bit space; the linear key (x·2^12 + y) is as wide
    * as x demands, so its bucket COUNT floats with the x domain
    * (~x_max/64) while the per-bucket width stays identical. Buckets
    * stand in for "files" whose min/max footers are the zone maps.
    */
  private val Z_BUCKET_SHIFT = 2 * Z_BITS - 6

  /** Morton interleave — [[graft.functions.Morton]] holds the shared
    * arithmetic (q101 report + ZorderStore writer, one definition).
    */
  private def zInterleave(x: Column, y: Column): Column =
    graft.functions.Morton.zValue(x, y, Z_BITS)

  private def sqlZInterleave(x: String, y: String): String =
    graft.functions.Morton.sqlZValue(x, y, Z_BITS)

  /** q101's probe boxes: an x-selective band (the case linear
    * layouts win), a y-selective band (the case they catastrophically
    * lose — every file must be read), and a 2-D box (the Z-order
    * sweet spot). Bounds chosen on bucket-width (64) boundaries so
    * both engines face identical edge cases.
    */
  private val zProbes: Seq[(String, Long, Long, Long, Long)] = Seq(
    ("x_band", 512L, 575L, 0L, 4095L),
    ("y_band", 0L, 4095L, 512L, 575L),
    ("xy_box", 512L, 767L, 512L, 767L)
  )

  /** q101: Z-order (Morton) clustering vs linear sort order, measured
    * by the zone maps it produces — the data-layout decision behind
    * Delta/Iceberg `OPTIMIZE ZORDER BY`: interleaving the bits of
    * (custkey, order-day) gives every file a bounded box in BOTH
    * dimensions, so a min/max footer check prunes 2-D probes, while
    * the linear (custkey, day) sort gives tight custkey ranges but
    * every file spans all days — a day-selective query reads 100% of
    * a 100 TB table. Each row of the report is one (layout, probe)
    * pair: bucket count, buckets whose zone map intersects the probe,
    * rows inside those buckets (what a reader would SCAN), and the
    * true match count (what it actually WANTS) — scan/match is the
    * read amplification the layout choice controls.
    *
    * One corpus pass (the dedup39 tagged fan-out): each row computes
    * its z-value map-side and fans out to its (layout, bucket) pair;
    * per-probe match flags ride the same aggregation as the zone
    * bounds, so the exact answer costs no second scan. The zone-map
    * table is 64 rows/layout — the probe evaluation is driver-trivial
    * but stays a relational rollup.
    */
  private val zorderLayout: Q = (s, dir) => {
    val base = Tables(s, dir).orders.select(
      col("o_custkey").cast("long").as("x"),
      datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
        .cast("long")
        .as("y")
    )
    val keyed = base.select(
      col("x"),
      col("y"),
      explode(
        array(
          struct(
            lit("zorder").as("layout"),
            (zInterleave(col("x"), col("y")) / lit(1L << Z_BUCKET_SHIFT))
              .cast("long")
              .as("bucket")
          ),
          struct(
            lit("linear").as("layout"),
            ((col("x") * lit(1L << Z_BITS) + col("y")) /
              lit(1L << Z_BUCKET_SHIFT)).cast("long").as("bucket")
          )
        )
      ).as("t")
    )
    val probeCols = zProbes.map { case (nm, x0, x1, y0, y1) =>
      sum(
        when(
          col("x").between(x0, x1) && col("y").between(y0, y1),
          1L
        ).otherwise(0L)
      ).as(s"m_$nm")
    }
    val zoneAggs = Seq(
      min(col("x")).as("min_x"),
      max(col("x")).as("max_x"),
      min(col("y")).as("min_y"),
      max(col("y")).as("max_y"),
      count(lit(1)).as("n")
    ) ++ probeCols
    val zones = keyed
      .groupBy(col("t.layout").as("layout"), col("t.bucket").as("bucket"))
      .agg(zoneAggs.head, zoneAggs.tail: _*)
    // one broadcast cross join against the 3-row probe table instead
    // of one groupBy per probe — the zone-map pipeline exists ONCE in
    // the plan, not once per probe
    val probes = {
      import s.implicits._
      zProbes.toDF("probe", "px0", "px1", "py0", "py1")
    }
    val hit = col("min_x") <= col("px1") && col("max_x") >= col("px0") &&
      col("min_y") <= col("py1") && col("max_y") >= col("py0")
    val matched = coalesce(zProbes.map { case (nm, _, _, _, _) =>
      when(col("probe") === nm, col(s"m_$nm"))
    }: _*)
    zones
      .crossJoin(broadcast(probes))
      .groupBy(col("layout"), col("probe"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(when(hit, 1L).otherwise(0L)).as("buckets_hit"),
        sum(when(hit, col("n")).otherwise(0L)).as("rows_scanned"),
        sum(matched).as("rows_matched")
      )
      .orderBy("layout", "probe")
  }

  /** q102's curve parameters: 14 bits per dimension covers the key
    * domain at every fixture SF (o_custkey < 16384, order-day < 4096)
    * — ZorderStore.write fails loudly rather than alias, so the store
    * query must size the curve to the REAL domain, unlike q101's
    * report which may tile.
    */
  private val ZS_BITS = 14
  private val ZS_BUCKET_BITS = 6

  /** q102: the Z-order store round-trip, gated — q101 reports WHY the
    * layout wins; this query performs the ACTION and proves the
    * pruned read is sound: build a [[graft.sources.ZorderStore]] from
    * orders (one z_bucket-clustered partitioned write, the cdc15
    * scratch-store pattern), run each q101 probe through
    * `readBox` — partition-filter directory pruning + exact residual
    * — and emit (probe, buckets the driver selected, rows the pruned
    * read returned). The oracle re-derives the bucket selection with
    * the same tile arithmetic over `range(0, 2^bucketBits)` and counts
    * the box rows with a plain filter: a pruning bug that drops a
    * directory shows up as a row-count mismatch, not a silent miss.
    *
    * Scale: the write is one hash shuffle on z_bucket; each probe
    * read lists only the surviving directories (PartitionFilters —
    * pinned in ZorderStoreSpec); the driver holds 2^bucketBits bucket
    * ids and K probe counts, nothing data-sized.
    */
  private val zorderStore: Q = (s, dir) => {
    val base = Tables(s, dir).orders.select(
      col("o_custkey").cast("long").as("x"),
      datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
        .cast("long")
        .as("y")
    )
    graft.sources.Scratch.withTempDir("graft-zorder") { path =>
      graft.sources.ZorderStore
        .write(base, path, "x", "y", ZS_BITS, ZS_BUCKET_BITS)
      val rows = zProbes.map { case (nm, x0, x1, y0, y1) =>
        val selected = graft.functions.Morton
          .selectBuckets(ZS_BITS, ZS_BUCKET_BITS, x0, x1, y0, y1)
        val n = graft.sources.ZorderStore
          .readBox(s, path, "x", "y", ZS_BITS, ZS_BUCKET_BITS, x0, x1, y0, y1)
          .count()
        (nm, selected.size.toLong, n)
      }
      import s.implicits._
      rows.toDF("probe", "n_buckets_selected", "n_rows").orderBy("probe")
    }
  }

  /** q104's attribution lookback window, in microseconds (7 days). */
  private val ATTR_WINDOW_US = 7L * 24 * 3600 * 1000000L

  /** q104: last-touch purchase attribution — the marketing/causal
    * report every event pipeline ships (which touchpoint gets credit
    * for a conversion): each purchase is attributed to the user's
    * LATEST preceding click/view within a 7-day lookback, else
    * "none". The preceding touch comes from ignore-nulls `last()`
    * over the per-user (ts, event_id) order — two aligned columns
    * (touch type + touch time) picked by the same frame, so they
    * cannot desynchronize — and the lookback check is integer micros.
    * Per attributed channel: conversion count and decimal-exact
    * revenue ([[Qx.dsum]]).
    *
    * Shape at scale: one hash shuffle on user_id for the window
    * (frames are per-user event history, never global), then a
    * channel-sized aggregation with map-side partials. The as-of-join
    * formulation (touch stream ⟕ purchase stream) shards further if
    * one user's history is itself too long.
    */
  private val lastTouch: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(s, dir).events.select(
      col("user_id"),
      col("event_type"),
      unix_micros(col("ts")).as("ts_us"),
      col("event_id"),
      col("value")
    )
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isin("click", "view")
    val attributed = ev
      .withColumn(
        "touch_type",
        last(when(isTouch, col("event_type")), ignoreNulls = true).over(w)
      )
      .withColumn(
        "touch_ts_us",
        last(when(isTouch, col("ts_us")), ignoreNulls = true).over(w)
      )
      .filter(col("event_type") === "purchase")
      .select(
        when(
          col("touch_ts_us").isNotNull &&
            col("touch_ts_us") >= col("ts_us") - ATTR_WINDOW_US,
          col("touch_type")
        ).otherwise(lit("none")).as("channel"),
        col("value")
      )
    attributed
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_purchases"),
        Qx.dsum(col("value")).as("revenue")
      )
      .orderBy("channel")
  }

  /** q105's clip fractions, in basis points (p1 / p99). */
  private val WINSOR_LO_BP = 100L
  private val WINSOR_HI_BP = 9900L

  /** q105: percentile winsorization audit — the outlier-clipping pass
    * a feature pipeline runs before statistics that outliers would
    * dominate (sensor spikes, price fat tails): per event_type, the
    * exact p1/p99 cut values as order statistics (value at 1-based
    * rank ⌈f·n⌉ under the total (value, event_id) order — the q98
    * exact-mode sketch read, reused), every value clamped into
    * [lo, hi], and the audit row per series: cuts, rows clipped on
    * each side, and the exact cent sums before/after (the clipping
    * BIAS, stated as integers, not summarized away).
    *
    * Exactness: centi-unit BIGINTs end-to-end; rank ties collapse to
    * the same VALUE so row_number's order among equal values is
    * immaterial (q98's argument). Shape at scale: one per-series sort
    * for ranks (same shuffle the clip itself needs), the K cut rows
    * broadcast back, one aggregation; at petabyte scale the q85 HDR
    * sketch replaces the exact ranks — q90/q98 document that swap.
    */
  /** The ONE definition of q105/q106's exact anchor: the centi-unit
    * projection and the per-series order-statistic cuts at rank
    * ⌈f·n⌉ under the total (cents, event_id) order. q106's zero-bias
    * audit depends on both queries computing the identical anchor.
    */
  private[graft] def winsorCents(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events
      .filter(col("value").isNotNull)
      .select(
        col("event_type"),
        col("event_id"),
        round(col("value") * 100).cast("long").as("cents")
      )

  /** Exact p1/p99 cut values per series: (event_type, lo_cents,
    * hi_cents).
    */
  private def winsorExactCuts(v: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("event_type"))
      .orderBy(col("cents"), col("event_id"))
    v.withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(
        col("rk") === ceil(col("n") * WINSOR_LO_BP / 10000.0).cast("long") ||
          col("rk") === ceil(col("n") * WINSOR_HI_BP / 10000.0).cast("long")
      )
      .groupBy(col("event_type"))
      .agg(min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"))
  }

  private val winsorize: Q = (s, dir) => {
    val v = winsorCents(s, dir)
    val cuts = winsorExactCuts(v)
    v.join(broadcast(cuts), "event_type")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("lo_cents")).as("lo_cents"),
        min(col("hi_cents")).as("hi_cents"),
        sum(when(col("cents") < col("lo_cents"), 1L).otherwise(0L))
          .as("n_clipped_low"),
        sum(when(col("cents") > col("hi_cents"), 1L).otherwise(0L))
          .as("n_clipped_high"),
        sum(col("cents")).as("sum_cents_raw"),
        sum(greatest(least(col("cents"), col("hi_cents")), col("lo_cents")))
          .as("sum_cents_clipped")
      )
      .orderBy("event_type")
  }

  /** q106: winsorization cuts from the q85/q88 HDR sketch — q105's
    * documented petabyte swap-in, gated as a DISAGREEMENT AUDIT (the
    * q98/q99 exact↔approx discipline applied to clipping). The
    * sketch path locates each series' p1/p99 rank in the bounded
    * per-(series, bucket) count sketch, then selects the exact cut
    * value from ONE bucket-pruned pass (only rows landing in the two
    * target buckets are ranked — [[Relational10.hdrReport]]'s
    * selection, rank within bucket = global rank − cum-below); the
    * exact path is q105's global per-series sort. The audit row per
    * series carries both cut pairs, their match booleans, and the
    * clipped-sum BIAS — zero by construction, because the
    * sketch-guided selection returns the true order statistic (both
    * paths pick the VALUE at rank ⌈f·n⌉, and rank ties collapse to
    * the same value — q98's argument), and the gate proves it on
    * every series rather than asserting it in prose.
    *
    * Shape at scale: the sketch is one hash aggregation (bounded
    * mergeable state — the streaming form exists as
    * StreamHdrQuantiles); the cut selection sorts only the two
    * target buckets per series (~n/2^HDR_S rows); the exact anchor's
    * full per-series sort is the thing being REPLACED — it rides
    * along here only because an audit needs its anchor, exactly as
    * q99 carries q37's exact ntile.
    */
  private val winsorizeSketch: Q = (s, dir) => {
    val v = winsorCents(s, dir)
    winsorSketchAudit(
      s,
      v,
      Relational10.hdrBucketCounts(
        v.select(col("event_type"), col("cents").as("v")),
        Seq("event_type")
      )
    )
  }

  /** q106's audit body with the SKETCH passed in — the one definition
    * the batch row (counts derived inline) and stream22's serving
    * read (counts accumulated as sink state across micro-batches)
    * share, so the streaming face is structurally replay ≡ batch.
    */
  private[graft] def winsorSketchAudit(
      s: SparkSession,
      v: DataFrame,
      counts: DataFrame
  ): DataFrame = {
    val sk = Relational10
      .hdrReportFromCounts(
        s,
        v.select(col("event_type"), col("cents").as("v")),
        counts,
        Seq("event_type"),
        Seq((WINSOR_LO_BP / 100).toInt, (WINSOR_HI_BP / 100).toInt)
      )
      .groupBy(col("event_type"))
      .agg(
        min(when(col("p") === (WINSOR_LO_BP / 100).toInt, col("exact_cents")))
          .as("sk_lo"),
        min(when(col("p") === (WINSOR_HI_BP / 100).toInt, col("exact_cents")))
          .as("sk_hi")
      )
    val ex = winsorExactCuts(v)
      .select(
        col("event_type"),
        col("lo_cents").as("ex_lo"),
        col("hi_cents").as("ex_hi")
      )
    val cuts = sk.join(ex, "event_type")
    v.join(broadcast(cuts), "event_type")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("sk_lo")).as("sk_lo"),
        min(col("sk_hi")).as("sk_hi"),
        min(col("ex_lo")).as("ex_lo"),
        min(col("ex_hi")).as("ex_hi"),
        (sum(greatest(least(col("cents"), col("sk_hi")), col("sk_lo"))) -
          sum(greatest(least(col("cents"), col("ex_hi")), col("ex_lo"))))
          .as("bias_cents")
      )
      .select(
        col("event_type"),
        col("n"),
        col("sk_lo"),
        col("sk_hi"),
        col("ex_lo"),
        col("ex_hi"),
        (col("sk_lo") === col("ex_lo")).as("lo_match"),
        (col("sk_hi") === col("ex_hi")).as("hi_match"),
        col("bias_cents")
      )
      .orderBy("event_type")
  }

  /** q107's per-domain distinct-URL quota. */
  private[graft] val URL_QUOTA = 20L

  /** The Public Suffix List rules the registrable-domain join
    * consults — parsed from a bundled fixture file IN THE PUBLISHED
    * FORMAT (comments, wildcard `*.ck`, exception `!www.ck`) by
    * [[Psl]]. Multi-label suffixes (`co.uk`-style) are here precisely
    * because the last-2-labels heuristic mis-buckets them: every host
    * under `*.co.uk` would collapse into ONE `co.uk` quota bucket
    * without the PSL. A production build swaps the fixture file for
    * the full published list (~9k rules — still a broadcast dim); the
    * parser and the join are shape-identical.
    */
  private[graft] lazy val PSL_RULES: Seq[Psl.Rule] = Psl.fixtureRules

  /** q107: URL normalization + per-domain crawl quota — the web-
    * curation front door: raw crawl URLs normalize (lowercase scheme
    * and host, strip the fragment, drop `www.` and scheme-default
    * ports) so re-crawls of one resource collapse to one key; the
    * registrable domain (longest [[PSL_SUFFIXES]] match + one label
    * via three broadcast left joins, last-2-labels when no suffix
    * matches — so `a.shop.co.uk` buckets as `shop.co.uk`, not
    * `co.uk`) buckets them; and each domain keeps at most
    * [[URL_QUOTA]] distinct normalized URLs, selected by a
    * deterministic hash order (the anti-bias trick: hash order is a
    * uniform shuffle, so the quota samples a domain's URL space
    * instead of preferring lexicographically-early paths). The
    * planted URL table exercises every normalization arm (mixed-case
    * scheme/host, www and bare, :80/:8080/bare ports, fragments) —
    * the dedup39/mm10 planting discipline.
    *
    * Shape at scale: normalization is one map-side string pipeline
    * (no regex); the only shuffles are the per-(domain, nurl) count
    * aggregation and the per-domain quota window — both on dense
    * keys, never a global sort. All counts BIGINT.
    */
  /** The shared URL planting + normalization pipeline (q107 batch
    * quota and stream21 streaming admission read the same stream):
    * (event_id, nurl, domain), entirely map-side.
    */
  private[graft] def normalizedUrls(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables(s, dir).events.select(
      col("event_id"),
      concat(
        when(pmod(col("event_id"), lit(4)) === 0, lit("HTTP://WWW."))
          .when(pmod(col("event_id"), lit(4)) === 1, lit("http://"))
          .when(pmod(col("event_id"), lit(4)) === 2, lit("https://www."))
          .otherwise(lit("https://")),
        lit("Site"),
        pmod(col("event_id"), lit(7)).cast("string"),
        when(pmod(col("event_id"), lit(5)) === 0, lit(".Example.COM"))
          .when(pmod(col("event_id"), lit(5)) === 1, lit(".org"))
          // the multi-label public suffix arm: last-2-labels would
          // bucket EVERY such host as "co.uk"; the PSL join must not
          .when(pmod(col("event_id"), lit(5)) === 2, lit(".Shop.CO.UK"))
          // the wildcard arm (*.ck): foo.ck is itself a public
          // suffix, so siteN.foo.ck is the registrable domain
          .when(pmod(col("event_id"), lit(5)) === 3, lit(".Foo.CK"))
          // the exception arm (!www.ck): www.ck is registrable, so
          // EVERY siteN.www.ck host buckets into the ONE www.ck quota
          .otherwise(lit(".WWW.CK")),
        when(pmod(col("event_id"), lit(5)) === 0, lit(":80"))
          .when(pmod(col("event_id"), lit(5)) === 1, lit(":8080"))
          .otherwise(lit("")),
        lit("/page/"),
        pmod(col("event_id"), lit(50)).cast("string"),
        when(
          pmod(col("event_id"), lit(2)) === 0,
          concat(lit("#sec"), pmod(col("event_id"), lit(9)).cast("string"))
        ).otherwise(lit(""))
      ).as("url")
    )
    val parsed = raw
      .select(
        col("event_id"),
        lower(substring_index(substring_index(col("url"), "#", 1), "://", 1))
          .as("scheme"),
        substring_index(substring_index(col("url"), "#", 1), "://", -1)
          .as("rest")
      )
      .select(
        col("event_id"),
        col("scheme"),
        substring_index(col("rest"), "/", 1).as("hostport"),
        expr("substring(rest, length(substring_index(rest, '/', 1)) + 1)")
          .as("path")
      )
      .select(
        col("event_id"),
        col("scheme"),
        col("path"),
        when(
          lower(substring_index(col("hostport"), ":", 1)).startsWith("www."),
          expr("substring(lower(substring_index(hostport, ':', 1)), 5)")
        ).otherwise(lower(substring_index(col("hostport"), ":", 1)))
          .as("host"),
        when(
          col("hostport").contains(":"),
          substring_index(col("hostport"), ":", -1)
        ).otherwise(lit("")).as("port")
      )
    val nurls = parsed.select(
      col("event_id"),
      col("host"),
      concat(
        col("scheme"),
        lit("://"),
        col("host"),
        when(
          col("port") === "" ||
            (col("scheme") === "http" && col("port") === "80") ||
            (col("scheme") === "https" && col("port") === "443"),
          lit("")
        ).otherwise(concat(lit(":"), col("port"))),
        col("path")
      ).as("nurl")
    )
    // registrable domain via the PSL broadcast dim: candidate
    // suffixes are the host's last 1/2/3 labels, each joined against
    // the [[PSL_RULES]] at its depth (rule key = literal labels;
    // wildcard rules keyed by their base). The PREVAILING rule per
    // the PSL algorithm: exceptions beat everything (deepest first),
    // then the largest public suffix — a normal rule at depth k
    // assigns ps = k labels, a wildcard at depth k assigns ps = k+1
    // (the `*` consumes one real host label, so it only applies when
    // the host has one), an exception at depth k assigns ps = k−1.
    // Registrable domain = ps + 1 labels; no match falls back to the
    // implicit `*` rule (ps = last label → last-2 labels). Three
    // broadcast left joins on a dim of a few (thousand, in
    // production) rows — map-side, no shuffle of the URL stream.
    import s.implicits._
    val psl = PSL_RULES.toDF("suffix", "key_labels", "kind")
    def dimAt(k: Int, m: String, kc: String) =
      broadcast(
        psl
          .filter(col("key_labels") === k)
          .select(col("suffix").as(m), col("kind").as(kc))
      )
    def lastK(k: Int) =
      array_join(slice(col("labels"), -k, k), ".")
    // registrable domain for a PS of `ps` labels: ps + 1 labels,
    // capped at the host (a host that IS a public suffix degenerates
    // to itself — the PSL's "no registrable domain" case)
    def reg(ps: Int) = {
      val take = least(col("nl"), lit(ps + 1))
      array_join(slice(col("labels"), -take, take), ".")
    }
    nurls
      .withColumn("labels", split(col("host"), "[.]"))
      .withColumn("nl", size(col("labels")))
      .withColumn("s1", lastK(1))
      .withColumn("s2", when(col("nl") >= 2, lastK(2)))
      .withColumn("s3", when(col("nl") >= 3, lastK(3)))
      .join(dimAt(3, "m3", "k3"), col("s3") === col("m3"), "left")
      .join(dimAt(2, "m2", "k2"), col("s2") === col("m2"), "left")
      .join(dimAt(1, "m1", "k1"), col("s1") === col("m1"), "left")
      .select(
        col("event_id"),
        col("nurl"),
        when(col("k3") === "exc", reg(2))
          .when(col("k2") === "exc", reg(1))
          .when(col("k3") === "wild" && col("nl") >= 4, reg(4))
          .when(col("k3") === "norm", reg(3))
          .when(col("k2") === "wild" && col("nl") >= 3, reg(3))
          .when(col("k2") === "norm", reg(2))
          .when(col("k1") === "wild" && col("nl") >= 2, reg(2))
          .when(col("k1") === "norm", reg(1))
          // the implicit `*` rule: last-2 labels
          .otherwise(reg(1))
          .as("domain")
      )
  }

  private val urlQuota: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d = normalizedUrls(s, dir)
      .groupBy(col("domain"), col("nurl"))
      .agg(count(lit(1)).as("n_refs"))
    val w = Window
      .partitionBy(col("domain"))
      .orderBy(PortableHash.h32(col("nurl")), col("nurl"))
    // REPORT form: the rn <= Q verdict rides inside a conditional SUM
    // because this row also reports full distinct counts, so the
    // per-domain window sorts ALL of a domain's distinct URLs. The
    // ADMISSION form a 100 TB crawl runs is q108: rn <= Q as a FILTER
    // (WindowGroupLimit rank pushdown — per-partition top-Q state,
    // never a full per-domain sort) with the counts from a separate
    // dense aggregate.
    d.withColumn("rn", row_number().over(w))
      .groupBy(col("domain"))
      .agg(
        sum(col("n_refs")).as("n_urls"),
        count(lit(1)).as("n_distinct_norm"),
        sum(when(col("rn") <= URL_QUOTA, 1L).otherwise(0L)).as("n_kept")
      )
      .orderBy("domain")
  }

  /** q108: the ADMISSION form of q107 — the two-aggregate shape a
    * production crawl runs. The kept set comes from `row_number() <=
    * Q` applied as a FILTER, which Spark rewrites to WindowGroupLimit
    * (each map task keeps at most Q rows per domain before the
    * window's shuffle and the sort never ranks past Q — rank
    * pushdown, the q55 pattern); the full-domain counts come from a
    * separate dense aggregate over the SAME (domain, nurl) frame
    * (one exchange, reused by both consumers). Emits what the
    * admission path needs downstream: the kept-set size, the raw
    * reference mass it covers, and an order-free fingerprint of the
    * kept set (Σ h32(nurl) — the stream21 convention) so the batch
    * and streaming admission faces can be diffed without shipping
    * URL lists. Same oracle semantics as q107's conditional-SUM
    * verdicts, gated independently; the plan pin asserts
    * WindowGroupLimit actually appears.
    */
  /** The dense (domain, nurl, n_refs) frame both admission consumers
    * read. */
  private[graft] def urlDense(s: SparkSession, dir: String): DataFrame =
    normalizedUrls(s, dir)
      .groupBy(col("domain"), col("nurl"))
      .agg(count(lit(1)).as("n_refs"))

  /** q108's kept set: `row_number() <= Q` as a FILTER — the shape
    * Spark rewrites to WindowGroupLimit (rank pushdown). Exposed so
    * the plan pin asserts on the SAME definition the gated row
    * executes (the row's returned frame is checkpoint-materialized).
    */
  private[graft] def admissionKept(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("domain"))
      .orderBy(PortableHash.h32(col("nurl")), col("nurl"))
    d.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= URL_QUOTA)
  }

  private val urlQuotaAdmission: Q = (s, dir) => {
    // materialized ONCE: two consumers (kept window + full counts)
    // would otherwise each recompute the whole normalization + PSL
    // pipeline — runtime ReusedExchange never fired on this shape
    // (pre- or post-PSL; probed r8 and r9), and the frame is dense
    // (distinct (domain, nurl)), so eager materialization is the
    // dedup17 single-execution-by-construction pattern
    val d = urlDense(s, dir).localCheckpoint(true)
    val kept = admissionKept(d)
    val counts = d
      .groupBy(col("domain"))
      .agg(
        sum(col("n_refs")).as("n_urls"),
        count(lit(1)).as("n_distinct_norm")
      )
    val out = kept
      .groupBy(col("domain"))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("n_refs")).as("kept_refs"),
        sum(PortableHash.h32(col("nurl")).cast("long")).as("kept_fp")
      )
      // every domain admits >= 1 URL (rn = 1 <= Q), so inner is total
      .join(counts, Seq("domain"))
      .select(
        col("domain"),
        col("n_urls"),
        col("n_distinct_norm"),
        col("n_kept"),
        col("kept_refs"),
        col("kept_fp")
      )
      .orderBy("domain")
      .localCheckpoint(true)
    org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(d)
    out
  }

  val queries: Map[String, Q] = named(
    "q107_url_quota" -> urlQuota,
    "q108_url_admission_form" -> urlQuotaAdmission,
    "q106_winsorize_sketch" -> winsorizeSketch,
    "q105_winsorize" -> winsorize,
    "q104_last_touch" -> lastTouch,
    "q95_join_key_profile" -> joinKeyProfile,
    "q96_segment_overlap" -> segmentOverlap,
    "q97_cooccurrence_lift" -> cooccurrence,
    "q98_approx_ntile" -> approxNtile,
    "q99_ntile_disagreement" -> ntileDisagreement,
    "q100_ohlc_bars" -> ohlcBars,
    "q101_zorder_layout" -> zorderLayout,
    "q102_zorder_store" -> zorderStore
  )

  /** DuckDB mirror of [[normalizedUrls]] (CTE list, no WITH):
    * `norm` exposes (event_id, nurl, domain). Shared by the q107 and
    * stream21 oracles.
    */
  private[ops] def urlNormCtes: String =
    s"""raw AS (
       |  SELECT event_id,
       |    concat(
       |      CASE WHEN event_id % 4 = 0 THEN 'HTTP://WWW.'
       |           WHEN event_id % 4 = 1 THEN 'http://'
       |           WHEN event_id % 4 = 2 THEN 'https://www.'
       |           ELSE 'https://' END,
       |      'Site', CAST(event_id % 7 AS VARCHAR),
       |      CASE WHEN event_id % 5 = 0 THEN '.Example.COM'
       |           WHEN event_id % 5 = 1 THEN '.org'
       |           WHEN event_id % 5 = 2 THEN '.Shop.CO.UK'
       |           WHEN event_id % 5 = 3 THEN '.Foo.CK'
       |           ELSE '.WWW.CK' END,
       |      CASE WHEN event_id % 5 = 0 THEN ':80'
       |           WHEN event_id % 5 = 1 THEN ':8080' ELSE '' END,
       |      '/page/', CAST(event_id % 50 AS VARCHAR),
       |      CASE WHEN event_id % 2 = 0
       |        THEN concat('#sec', CAST(event_id % 9 AS VARCHAR))
       |        ELSE '' END
       |    ) AS url
       |  FROM events),
       |parsed AS (
       |  SELECT event_id,
       |    lower(split_part(split_part(url, '#', 1), '://', 1)) AS scheme,
       |    split_part(split_part(url, '#', 1), '://', 2) AS rest
       |  FROM raw),
       |hp AS (
       |  SELECT event_id, scheme,
       |    split_part(rest, '/', 1) AS hostport,
       |    substring(rest, length(split_part(rest, '/', 1)) + 1) AS path
       |  FROM parsed),
       |hn AS (
       |  SELECT event_id, scheme, path,
       |    CASE WHEN starts_with(lower(split_part(hostport, ':', 1)), 'www.')
       |      THEN substring(lower(split_part(hostport, ':', 1)), 5)
       |      ELSE lower(split_part(hostport, ':', 1)) END AS host,
       |    CASE WHEN contains(hostport, ':')
       |      THEN split_part(hostport, ':', 2) ELSE '' END AS port
       |  FROM hp),
       |psl AS (SELECT * FROM (VALUES ${PSL_RULES
        .map(r => s"('${r.key}', ${r.keyLabels}, '${r.kind}')")
        .mkString(", ")}) p(suffix, klab, kind)),
       |lab AS (
       |  SELECT event_id, scheme, path, host, port,
       |    string_split(host, '.') AS labels,
       |    len(string_split(host, '.')) AS nl
       |  FROM hn),
       |cand AS (
       |  SELECT *, array_to_string(list_slice(labels, nl, nl), '.') AS s1,
       |    CASE WHEN nl >= 2
       |      THEN array_to_string(list_slice(labels, nl - 1, nl), '.') END AS s2,
       |    CASE WHEN nl >= 3
       |      THEN array_to_string(list_slice(labels, nl - 2, nl), '.') END AS s3
       |  FROM lab),
       |mt AS (
       |  SELECT c.*, p3.kind AS k3, p2.kind AS k2, p1.kind AS k1
       |  FROM cand c
       |  LEFT JOIN psl p3 ON c.s3 = p3.suffix AND p3.klab = 3
       |  LEFT JOIN psl p2 ON c.s2 = p2.suffix AND p2.klab = 2
       |  LEFT JOIN psl p1 ON c.s1 = p1.suffix AND p1.klab = 1),
       |norm AS (
       |  SELECT event_id, host,
       |    concat(scheme, '://', host,
       |      CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
       |             OR (scheme = 'https' AND port = '443')
       |        THEN '' ELSE concat(':', port) END,
       |      path) AS nurl,
       |    CASE
       |      WHEN k3 = 'exc' THEN array_to_string(
       |        list_slice(labels, nl - LEAST(nl, 3) + 1, nl), '.')
       |      WHEN k2 = 'exc' THEN array_to_string(
       |        list_slice(labels, nl - LEAST(nl, 2) + 1, nl), '.')
       |      WHEN k3 = 'wild' AND nl >= 4 THEN array_to_string(
       |        list_slice(labels, nl - LEAST(nl, 5) + 1, nl), '.')
       |      WHEN k3 = 'norm' THEN array_to_string(
       |        list_slice(labels, nl - LEAST(nl, 4) + 1, nl), '.')
       |      WHEN k2 = 'wild' AND nl >= 3 THEN array_to_string(
       |        list_slice(labels, nl - LEAST(nl, 4) + 1, nl), '.')
       |      WHEN k2 = 'norm' THEN array_to_string(
       |        list_slice(labels, nl - LEAST(nl, 3) + 1, nl), '.')
       |      WHEN k1 = 'wild' AND nl >= 2 THEN array_to_string(
       |        list_slice(labels, nl - LEAST(nl, 3) + 1, nl), '.')
       |      WHEN k1 = 'norm' THEN array_to_string(
       |        list_slice(labels, nl - LEAST(nl, 2) + 1, nl), '.')
       |      ELSE array_to_string(
       |        list_slice(labels, nl - LEAST(nl, 2) + 1, nl), '.')
       |    END AS domain
       |  FROM mt)""".stripMargin

  val oracle: Map[String, String] = named(
    "q95_join_key_profile" ->
      """WITH k AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        |           FROM events GROUP BY user_id)
        |SELECT cnt, CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(cnt * COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(cnt * cnt * COUNT(*) AS BIGINT) AS selfjoin_rows
        |FROM k GROUP BY cnt ORDER BY cnt""".stripMargin,
    "q96_segment_overlap" ->
      """WITH u AS (SELECT user_id,
        |    bool_or(event_type = 'click') AS did_click,
        |    bool_or(event_type = 'purchase') AS did_purchase,
        |    bool_or(event_type = 'error') AS did_error
        |  FROM events GROUP BY user_id)
        |SELECT did_click, did_purchase, did_error,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM u GROUP BY 1, 2, 3
        |ORDER BY did_click, did_purchase, did_error""".stripMargin,
    "q97_cooccurrence_lift" ->
      """WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
        |      FROM u),
        |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM u GROUP BY event_type),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        CAST(COUNT(*) AS BIGINT) AS n_ab
        |      FROM u a JOIN u b
        |        ON a.user_id = b.user_id AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, sa.cnt AS n_a, sb.cnt AS n_b, p.n_ab,
        |  CAST(p.n_ab * n.n AS DOUBLE) / CAST(sa.cnt * sb.cnt AS DOUBLE)
        |    AS lift
        |FROM p
        |JOIN s sa ON sa.event_type = p.type_a
        |JOIN s sb ON sb.event_type = p.type_b
        |CROSS JOIN n
        |ORDER BY type_a, type_b""".stripMargin,
    "q98_approx_ntile" ->
      s"""$ntileSketchCtes
         |SELECT tile, CAST(COUNT(*) AS BIGINT) AS n,
         |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
         |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
         |FROM ap GROUP BY tile ORDER BY tile""".stripMargin,
    "q99_ntile_disagreement" ->
      s"""$ntileSketchCtes,
         |ex AS (SELECT c_custkey,
         |    CAST(ntile(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC)
         |      AS INTEGER) AS exact_tile
         |  FROM v)
         |SELECT ex.exact_tile, ap.tile AS approx_tile,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM ex JOIN ap USING (c_custkey)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // open/close via DuckDB's ordered-aggregate first/last under the
    // same total (ts, event_id) order as the Spark struct-extremes;
    // bucket rendered in epoch-µs (the stream01/cdc07 convention)
    "q100_ohlc_bars" ->
      s"""SELECT event_type,
         |  CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 * 1000000
         |    AS bucket_us,
         |  first(value ORDER BY ts, event_id) AS open,
         |  last(value ORDER BY ts, event_id) AS close,
         |  MAX(value) AS high, MIN(value) AS low,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  ${Qx.sqlDsum("value")} AS sum_value
         |FROM events WHERE value IS NOT NULL
         |GROUP BY 1, 2 ORDER BY event_type, bucket_us""".stripMargin,
    // the same planted URL table, the same split-first normalization
    // (fragment, then scheme/host/port casefold+strip), last-2-label
    // domains via list slicing, and the identical h32 quota order
    "q107_url_quota" -> {
      val h = PortableHash.sqlH32("nurl")
      s"""WITH $urlNormCtes,
         |d AS (SELECT domain, nurl, CAST(COUNT(*) AS BIGINT) AS n_refs
         |      FROM norm GROUP BY 1, 2),
         |rk AS (SELECT domain, nurl, n_refs,
         |        ROW_NUMBER() OVER (PARTITION BY domain
         |          ORDER BY $h, nurl) AS rn
         |      FROM d)
         |SELECT domain,
         |  CAST(SUM(n_refs) AS BIGINT) AS n_urls,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct_norm,
         |  CAST(SUM(CASE WHEN rn <= $URL_QUOTA THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept
         |FROM rk GROUP BY 1 ORDER BY domain""".stripMargin
    },
    // the admission form re-specified from first principles: kept set
    // as a rank FILTER, counts from an independent aggregate, the
    // order-free h32 fingerprint of the kept set
    "q108_url_admission_form" -> {
      val h = PortableHash.sqlH32("nurl")
      s"""WITH $urlNormCtes,
         |d AS (SELECT domain, nurl, CAST(COUNT(*) AS BIGINT) AS n_refs
         |      FROM norm GROUP BY 1, 2),
         |kept AS (SELECT domain, nurl, n_refs FROM (
         |    SELECT domain, nurl, n_refs,
         |      ROW_NUMBER() OVER (PARTITION BY domain
         |        ORDER BY $h, nurl) AS rn
         |    FROM d)
         |  WHERE rn <= $URL_QUOTA),
         |k AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |        CAST(SUM(n_refs) AS BIGINT) AS kept_refs,
         |        CAST(SUM($h) AS BIGINT) AS kept_fp
         |      FROM kept GROUP BY 1),
         |c AS (SELECT domain, CAST(SUM(n_refs) AS BIGINT) AS n_urls,
         |        CAST(COUNT(*) AS BIGINT) AS n_distinct_norm
         |      FROM d GROUP BY 1)
         |SELECT c.domain, c.n_urls, c.n_distinct_norm,
         |  k.n_kept, k.kept_refs, k.kept_fp
         |FROM c JOIN k USING (domain) ORDER BY domain""".stripMargin
    },

    // both paths replayed from first principles: the q88 sketch CTEs
    // (bucket counts, (n·p+99)//100 rank read, in-bucket selection)
    // against q105's global order statistics, joined into one audit
    "q106_winsorize_sketch" -> {
      val pw =
        s"(CAST(1 AS BIGINT) << GREATEST(length(bin(cents)) - 1 - ${Relational10.HDR_S}, 0))"
      s"""WITH v AS (
         |  SELECT event_type, event_id,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE value IS NOT NULL),
         |rows_b AS (SELECT event_type, cents AS v,
         |    cents - cents % $pw AS bucket, $pw AS pw
         |  FROM v),
         |c AS (SELECT event_type, bucket, pw,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM rows_b GROUP BY 1, 2, 3),
         |cum AS (SELECT event_type, bucket, pw, cnt,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket)
         |      AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket)
         |      - cnt AS BIGINT) AS cb
         |  FROM c),
         |n AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
         |  FROM c GROUP BY 1),
         |p(p) AS (VALUES (${WINSOR_LO_BP / 100}), (${WINSOR_HI_BP / 100})),
         |r AS (SELECT n.event_type, p.p,
         |    CAST((n.n * p.p + 99) // 100 AS BIGINT) AS r
         |  FROM p, n),
         |tgt AS (SELECT r.event_type, r.p, r.r,
         |    MIN(cum.bucket) AS est,
         |    arg_min(cum.cb, cum.bucket) AS cb
         |  FROM r JOIN cum ON cum.event_type = r.event_type
         |    AND cum.cum >= r.r
         |  GROUP BY 1, 2, 3),
         |sel AS (SELECT t.event_type, t.p, rows_b.v, t.cb, t.r,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY t.event_type, t.p
         |      ORDER BY rows_b.v) AS BIGINT) AS rn
         |  FROM tgt t JOIN rows_b ON rows_b.event_type = t.event_type
         |    AND rows_b.bucket = t.est),
         |sk AS (SELECT event_type,
         |    MIN(CASE WHEN p = ${WINSOR_LO_BP / 100} THEN v END) AS sk_lo,
         |    MIN(CASE WHEN p = ${WINSOR_HI_BP / 100} THEN v END) AS sk_hi
         |  FROM sel WHERE cb + rn = r GROUP BY 1),
         |rq AS (SELECT event_type, cents,
         |    ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY cents, event_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY event_type) AS nn
         |  FROM v),
         |ex AS (SELECT event_type,
         |    CAST(MIN(cents) AS BIGINT) AS ex_lo,
         |    CAST(MAX(cents) AS BIGINT) AS ex_hi
         |  FROM rq
         |  WHERE rk = CAST(ceil(nn * $WINSOR_LO_BP / 10000.0) AS BIGINT)
         |     OR rk = CAST(ceil(nn * $WINSOR_HI_BP / 10000.0) AS BIGINT)
         |  GROUP BY 1),
         |cuts AS (SELECT * FROM sk JOIN ex USING (event_type))
         |SELECT v.event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  MIN(sk_lo) AS sk_lo, MIN(sk_hi) AS sk_hi,
         |  MIN(ex_lo) AS ex_lo, MIN(ex_hi) AS ex_hi,
         |  MIN(sk_lo) = MIN(ex_lo) AS lo_match,
         |  MIN(sk_hi) = MIN(ex_hi) AS hi_match,
         |  CAST(SUM(greatest(least(cents, sk_hi), sk_lo)) AS BIGINT)
         |    - CAST(SUM(greatest(least(cents, ex_hi), ex_lo)) AS BIGINT)
         |    AS bias_cents
         |FROM v JOIN cuts USING (event_type)
         |GROUP BY 1 ORDER BY event_type""".stripMargin
    },
    // same order statistics (rank ⌈f·n⌉ under (cents, event_id)),
    // same clamp, BIGINT cent sums; HUGEINT sums cast down
    "q105_winsorize" ->
      s"""WITH v AS (
         |  SELECT event_type, event_id,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE value IS NOT NULL),
         |r AS (
         |  SELECT event_type, cents,
         |    ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY cents, event_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY event_type) AS n
         |  FROM v),
         |cuts AS (
         |  SELECT event_type,
         |    CAST(MIN(cents) AS BIGINT) AS lo_cents,
         |    CAST(MAX(cents) AS BIGINT) AS hi_cents
         |  FROM r
         |  WHERE rk = CAST(ceil(n * $WINSOR_LO_BP / 10000.0) AS BIGINT)
         |     OR rk = CAST(ceil(n * $WINSOR_HI_BP / 10000.0) AS BIGINT)
         |  GROUP BY 1)
         |SELECT v.event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  MIN(lo_cents) AS lo_cents, MIN(hi_cents) AS hi_cents,
         |  CAST(SUM(CASE WHEN cents < lo_cents THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_clipped_low,
         |  CAST(SUM(CASE WHEN cents > hi_cents THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_clipped_high,
         |  CAST(SUM(cents) AS BIGINT) AS sum_cents_raw,
         |  CAST(SUM(greatest(least(cents, hi_cents), lo_cents))
         |    AS BIGINT) AS sum_cents_clipped
         |FROM v JOIN cuts USING (event_type)
         |GROUP BY 1 ORDER BY event_type""".stripMargin,
    // ignore-nulls last_value over the same per-user frame, micros
    // arithmetic for the lookback, dsum for revenue
    "q104_last_touch" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
         |    event_id, value
         |  FROM events),
         |t AS (
         |  SELECT user_id, event_type, ts_us, value,
         |    last_value(CASE WHEN event_type IN ('click', 'view')
         |      THEN event_type END IGNORE NULLS) OVER w AS touch_type,
         |    last_value(CASE WHEN event_type IN ('click', 'view')
         |      THEN ts_us END IGNORE NULLS) OVER w AS touch_ts_us
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |a AS (
         |  SELECT CASE WHEN touch_ts_us IS NOT NULL
         |      AND touch_ts_us >= ts_us - $ATTR_WINDOW_US
         |    THEN touch_type ELSE 'none' END AS channel, value
         |  FROM t WHERE event_type = 'purchase')
         |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
         |  ${Qx.sqlDsum("value")} AS revenue
         |FROM a GROUP BY 1 ORDER BY channel""".stripMargin,
    // same Morton arithmetic (integer // and %, no bit builtins), the
    // layout fan-out as UNION ALL, probes as a VALUES table; every
    // SUM cast to BIGINT (DuckDB sums integers into HUGEINT)
    "q101_zorder_layout" -> {
      val probeValues = zProbes
        .map { case (nm, x0, x1, y0, y1) => s"('$nm', $x0, $x1, $y0, $y1)" }
        .mkString(", ")
      val mCols = zProbes
        .map { case (nm, x0, x1, y0, y1) =>
          s"""CAST(SUM(CASE WHEN x BETWEEN $x0 AND $x1
             |      AND y BETWEEN $y0 AND $y1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS m_$nm""".stripMargin
        }
        .mkString(",\n    ")
      val mPick = zProbes
        .map { case (nm, _, _, _, _) => s"WHEN '$nm' THEN m_$nm" }
        .mkString(" ")
      s"""WITH base AS (
         |  SELECT CAST(o_custkey AS BIGINT) AS x,
         |    CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01'
         |      AS BIGINT) AS y
         |  FROM orders),
         |k AS (
         |  SELECT x, y, 'zorder' AS layout,
         |    (${sqlZInterleave("x", "y")}) // ${1L << Z_BUCKET_SHIFT}
         |      AS bucket
         |  FROM base
         |  UNION ALL
         |  SELECT x, y, 'linear' AS layout,
         |    (x * ${1L << Z_BITS} + y) // ${1L << Z_BUCKET_SHIFT}
         |      AS bucket
         |  FROM base),
         |zones AS (
         |  SELECT layout, bucket,
         |    MIN(x) AS min_x, MAX(x) AS max_x,
         |    MIN(y) AS min_y, MAX(y) AS max_y,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    $mCols
         |  FROM k GROUP BY 1, 2),
         |p(probe, px0, px1, py0, py1) AS (VALUES $probeValues)
         |SELECT layout, probe,
         |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(SUM(CASE WHEN min_x <= px1 AND max_x >= px0
         |    AND min_y <= py1 AND max_y >= py0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS buckets_hit,
         |  CAST(SUM(CASE WHEN min_x <= px1 AND max_x >= px0
         |    AND min_y <= py1 AND max_y >= py0 THEN n ELSE 0 END)
         |    AS BIGINT) AS rows_scanned,
         |  CAST(SUM(CASE probe $mPick END) AS BIGINT) AS rows_matched
         |FROM zones CROSS JOIN p
         |GROUP BY 1, 2 ORDER BY layout, probe""".stripMargin
    },
    // the pruning decision re-derived from first principles: every
    // bucket id's tile corners via the same //-and-% deinterleave,
    // intersected with each probe box; row counts from a plain filter
    // — if readBox's partition pruning dropped a live directory, the
    // n_rows columns would disagree
    "q102_zorder_store" -> {
      import graft.functions.Morton
      val probeValues = zProbes
        .map { case (nm, x0, x1, y0, y1) => s"('$nm', $x0, $x1, $y0, $y1)" }
        .mkString(", ")
      s"""WITH base AS (
         |  SELECT CAST(o_custkey AS BIGINT) AS x,
         |    CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01'
         |      AS BIGINT) AS y
         |  FROM orders),
         |p(probe, px0, px1, py0, py1) AS (VALUES $probeValues),
         |tiles AS (
         |  SELECT g.b AS b,
         |    ${Morton.sqlTileXmin("g.b", ZS_BITS, ZS_BUCKET_BITS)} AS xmin,
         |    ${Morton.sqlTileYmin("g.b", ZS_BITS, ZS_BUCKET_BITS)} AS ymin
         |  FROM range(0, ${1L << ZS_BUCKET_BITS}) g(b)),
         |sel AS (
         |  SELECT probe, CAST(COUNT(*) AS BIGINT) AS n_buckets_selected
         |  FROM p JOIN tiles
         |    ON xmin <= px1
         |    AND xmin + ${Morton.tileXSpan(ZS_BITS, ZS_BUCKET_BITS)} >= px0
         |    AND ymin <= py1
         |    AND ymin + ${Morton.tileYSpan(ZS_BITS, ZS_BUCKET_BITS)} >= py0
         |  GROUP BY 1),
         |hits AS (
         |  SELECT probe, CAST(COUNT(base.x) AS BIGINT) AS n_rows
         |  FROM p LEFT JOIN base
         |    ON x BETWEEN px0 AND px1 AND y BETWEEN py0 AND py1
         |  GROUP BY 1)
         |SELECT probe, n_buckets_selected, n_rows
         |FROM sel JOIN hits USING (probe)
         |ORDER BY probe""".stripMargin
    }
  )

  /** The ONE SQL mirror of the exact-mode sketch read, shared by q98
    * and q99 (the clusterCtes pattern — a drift between the two gates
    * would make them disagree about the same operator): cut(p) =
    * order statistic at 1-based rank ceil(p·n/4); ties collapse to
    * the same VALUE, so row_number's order among equal c_acctbal rows
    * is immaterial; tile = 1 + count(cuts strictly below the value).
    */
  private def ntileSketchCtes: String =
    """WITH v AS (SELECT c_custkey, c_acctbal FROM customer),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
      |ranked AS (SELECT c_acctbal,
      |    CAST(row_number() OVER (ORDER BY c_acctbal) AS BIGINT) AS rk
      |  FROM v),
      |p(i) AS (VALUES (1), (2), (3)),
      |cuts AS (SELECT p.i, r.c_acctbal AS c
      |  FROM p CROSS JOIN n
      |  JOIN ranked r ON r.rk = CAST(ceil(p.i * n.n / 4.0) AS BIGINT)),
      |ap AS (SELECT v.c_custkey, v.c_acctbal,
      |    CAST(1 + SUM(CASE WHEN v.c_acctbal > cuts.c THEN 1 ELSE 0 END)
      |      AS INTEGER) AS tile
      |  FROM v CROSS JOIN cuts
      |  GROUP BY v.c_custkey, v.c_acctbal)""".stripMargin
}
