package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Shuffle budgets for the round-5 operators: each query's physical
  * plan may not exceed the Exchange count its design promises — a
  * regression that re-introduces a recompute or an extra shuffle
  * fails here, not in a benchmark diff three rounds later. Counts are
  * UPPER bounds on the pre-AQE plan (runtime exchange reuse only
  * lowers the real number).
  */
class PlanBudgetSpec extends SparkSpec {

  // Counting must happen with AQE OFF: under AQE the executedPlan is
  // an AdaptiveSparkPlanExec whose TreeNode children are empty, so a
  // `plan.foreach` sees NO exchanges and every budget holds vacuously
  // (found in round 5 — the round-4 budgets asserted 0 ≤ N). The
  // pre-AQE plan is also the honest upper bound: AQE only removes or
  // reuses exchanges at runtime, never adds.
  private def exchanges(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan
    assert(
      !plan.getClass.getSimpleName.contains("Adaptive"),
      "exchange counting ran under AQE — counts would be vacuous"
    )
    var shuffle = 0
    var bcast = 0
    plan.foreach {
      case _: ShuffleExchangeLike   => shuffle += 1
      case _: BroadcastExchangeLike => bcast += 1
      case _                        => ()
    }
    (shuffle, bcast)
  }

  private def run(name: String): DataFrame = {
    val conf = spark.conf
    val orig = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.executedPlan // force planning while AQE is off
      df
    } finally conf.set("spark.sql.adaptive.enabled", orig)
  }

  test("stream13 enrichment joins broadcast; shuffles only agg + sort") {
    val (s, b) = exchanges(run("stream13_static_enrich"))
    assert(s <= 2, s"stream13 shuffles=$s")
    assert(b >= 1, "stream13 dim join must broadcast")
  }

  test("sim22 projection is map-side: one pair-join shuffle + sort at most") {
    val (s, _) = exchanges(run("sim22_jl_project"))
    assert(s <= 2, s"sim22 shuffles=$s")
  }

  test("mm06 banded pairs: one bucket agg + pair distinct + sort") {
    val (s, _) = exchanges(run("mm06_phash_pairs"))
    assert(s <= 3, s"mm06 shuffles=$s")
  }

  test("q86 compaction plan: file agg + source window + bin agg/sort") {
    val (s, _) = exchanges(run("q86_compaction_plan"))
    assert(s <= 3, s"q86 shuffles=$s")
  }

  test("q85 sketch + guided selection stays within its budget") {
    // counts agg, bucket-cum window (sketch-sized), total agg, target
    // agg, per-quantile selection window + sort — never a global
    // data-sized sort
    val (s, _) = exchanges(run("q85_hdr_quantiles"))
    assert(s <= 6, s"q85 shuffles=$s")
  }

  test("text14 chunking shuffles only for the presentation sort") {
    val (s, _) = exchanges(run("text14_chunk_overlap"))
    assert(s <= 1, s"text14 shuffles=$s")
  }

  test("q59 mixture explode shuffles only for the presentation sort") {
    val (s, _) = exchanges(run("q59_mixture_epochs"))
    assert(s <= 1, s"q59 shuffles=$s")
  }

  test("q58 shuffle-shard pays one window partition plus the sort") {
    val (s, _) = exchanges(run("q58_corpus_shuffle"))
    assert(s <= 2, s"q58 shuffles=$s")
  }

  test("cdc08 retract aggregation: key window + group agg + sort") {
    val (s, _) = exchanges(run("cdc08_agg_maintain"))
    assert(s <= 3, s"cdc08 shuffles=$s")
  }

  test("dedup14 bloom probe side adds NO shuffle beyond the sort") {
    val (s, _) = exchanges(run("dedup14_bloom_decontaminate"))
    // probe plan only (the filter build ran at plan-construction time
    // through its own aggregate): repartition is inherited from
    // docs(); the probe itself is map-side
    assert(s <= 2, s"dedup14 shuffles=$s")
  }

  test("dedup12 single-pass posting lists: index agg + pair agg + sizes agg + join + sort") {
    val (s, _) = exchanges(run("dedup12_containment"))
    assert(s <= 7, s"dedup12 shuffles=$s")
  }

  test("q62 histogram: one hash agg plus the presentation sort") {
    val (s, _) = exchanges(run("q62_histogram"))
    assert(s <= 2, s"q62 shuffles=$s")
  }

  test("q63 regression: one moments agg plus the presentation sort") {
    val (s, _) = exchanges(run("q63_regression"))
    assert(s <= 2, s"q63 shuffles=$s")
  }

  test("q64 funnel: three stage aggs + stage joins, nothing rescans") {
    val (s, _) = exchanges(run("q64_funnel"))
    assert(s <= 8, s"q64 shuffles=$s")
  }

  test("q65 retention: first-event agg + join + cell distinct/agg") {
    val (s, _) = exchanges(run("q65_retention"))
    assert(s <= 4, s"q65 shuffles=$s")
  }

  test("text17 pack spans: the two prefix-scan levels + span agg + sort") {
    val (s, _) = exchanges(run("text17_pack_spans"))
    assert(s <= 5, s"text17 shuffles=$s")
  }

  test("sim14 kNN vote: one query_id window partition, vote agg reuses it") {
    val (s, _) = exchanges(run("sim14_label_knn"))
    assert(s <= 2, s"sim14 shuffles=$s")
  }

  test("dedup16 cross-source: dedup04 discipline + two source joins + cell agg") {
    val (s, _) = exchanges(run("dedup16_cross_source"))
    assert(s <= 9, s"dedup16 shuffles=$s")
  }

  test("q66 deep star join: no nested loop, date slice reaches the scan") {
    val df = run("q66_local_supplier")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"nested loop in plan:\n$plan")
    assert(
      plan.contains("GreaterThanOrEqual(o_orderdate"),
      "date filter not pushed to the orders scan"
    )
  }

  test("text18 heaps curve: two vocab-keyed aggs + slice aggs + join") {
    val (s, _) = exchanges(run("text18_heaps"))
    assert(s <= 5, s"text18 shuffles=$s")
  }

  test("text19 LM score: bigram agg + prefix agg + count join + doc agg + sort") {
    val (s, _) = exchanges(run("text19_lm_score"))
    assert(s <= 5, s"text19 shuffles=$s")
  }

  test("text20 bm25: term filter before any shuffle; tf agg + dl join + doc agg + sort") {
    val (s, _) = exchanges(run("text20_bm25"))
    assert(s <= 6, s"text20 shuffles=$s")
  }

  test("text21 divergence: (source,tok) agg + corpus agg + tok join + source agg + sort") {
    val (s, _) = exchanges(run("text21_divergence"))
    assert(s <= 7, s"text21 shuffles=$s")
  }

  test("q69 hash median: group windows + join + sort only") {
    val (s, _) = exchanges(run("q69_hash_median"))
    assert(s <= 3, s"q69 shuffles=$s")
  }

  test("q70 z-order key is map-side: only the presentation sort shuffles") {
    val (s, _) = exchanges(run("q70_zorder_key"))
    assert(s <= 1, s"q70 shuffles=$s")
  }

  test("q71 MAD: two selection-median windows + broadcast flags + agg + sort") {
    val (s, b) = exchanges(run("q71_mad_outliers"))
    assert(s <= 4, s"q71 shuffles=$s")
    assert(b >= 2, s"q71 (m, MAD) must broadcast back, bcasts=$b")
  }

  test("sim16 semdedup: cell join + verdict attach, one shuffle beyond broadcasts") {
    val (s, _) = exchanges(run("sim16_semdedup"))
    assert(s <= 3, s"sim16 shuffles=$s")
  }

  test("sim17 hard negatives: broadcast scoring runs ONCE (no pos/neg self-join)") {
    val (s, b) = exchanges(run("sim17_hardneg"))
    assert(s <= 3, s"sim17 shuffles=$s")
    assert(b <= 1, s"sim17 must broadcast the anchor set exactly once, bcasts=$b")
  }

  test("stream10 replay surfaces only the presentation sort") {
    val (s, _) = exchanges(run("stream10_exact_dedup"))
    assert(s <= 1, s"stream10 shuffles=$s")
  }

  test("q72 rank family: one window shuffle + the presentation sort") {
    val (s, _) = exchanges(run("q72_rank_dist"))
    assert(s <= 2, s"q72 shuffles=$s")
  }

  test("q73 interval lookup: bucket-expansion equi-join, never a nested loop") {
    val df = run("q73_interval_lookup")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"nested loop in plan:\n$plan")
    assert(
      plan.contains("BroadcastHashJoin"),
      s"expanded bands must broadcast-HASH-join:\n$plan"
    )
    val (s, _) = exchanges(df)
    assert(s <= 2, s"q73 shuffles=$s")
  }

  test("text22 DSIR: bucket histogram broadcasts back; two dense aggs + sort") {
    val (s, b) = exchanges(run("text22_dsir"))
    assert(s <= 3, s"text22 shuffles=$s")
    assert(b >= 1, s"text22 histogram must broadcast, bcasts=$b")
  }

  test("text23 OOV: staged (source,tok) agg feeds vocab/totals/anti-join") {
    val (s, b) = exchanges(run("text23_oov"))
    assert(s <= 7, s"text23 shuffles=$s")
    assert(b >= 1, s"text23 vocab must broadcast into the anti-join, bcasts=$b")
  }

  test("sim18 k-means step: seeds broadcast once; argmin + stats aggs") {
    val (s, b) = exchanges(run("sim18_kmeans"))
    assert(s <= 5, s"sim18 shuffles=$s")
    assert(b == 1, s"sim18 must broadcast the seed centroids exactly once, bcasts=$b")
  }

  test("q74 interpolated median: ranked window + group agg + sort") {
    val (s, _) = exchanges(run("q74_median_cont"))
    assert(s <= 3, s"q74 shuffles=$s")
  }

  test("text24 zipf fit: one token agg, V-row top-k cut, single reduce") {
    val (s, _) = exchanges(run("text24_zipf"))
    assert(s <= 4, s"text24 shuffles=$s")
  }

  test("q75 stddev flags: moments broadcast back, map-side flag pass") {
    val (s, b) = exchanges(run("q75_stddev_outliers"))
    assert(s <= 3, s"q75 shuffles=$s")
    assert(b >= 1, s"q75 (mean, sd) must broadcast back, bcasts=$b")
  }

  test("dedup19 clustering coeff: triangle legs + degree on one verified pipeline") {
    val df = run("dedup19_clustering_coeff")
    val (s, _) = exchanges(df)
    assert(s <= 10, s"dedup19 shuffles=$s")
    // single-execution pin (the dedup17 invariant, extended to the
    // fourth consumer): the plan reads ONLY the checkpointed oriented
    // edges — the MinHash-verify pipeline ran once, inside the
    // checkpoint, so no file scan of `documents` may appear here
    val plan = df.queryExecution.executedPlan.toString
    assert(
      !plan.contains("FileScan") && !plan.contains("Scan parquet"),
      s"dedup19 plan re-reads the corpus (pipeline not single-executed):\n$plan"
    )
    assert(plan.contains("Scan ExistingRDD"), plan)
  }

  test("q76 salted join: shuffle join (no broadcast), bounded exchanges") {
    val df = run("q76_salted_join")
    val (s, b) = exchanges(df)
    assert(b == 0, s"q76 must NOT broadcast (salting would be moot), bcasts=$b")
    assert(s <= 4, s"q76 shuffles=$s")
    val plan = df.queryExecution.executedPlan.toString
    assert(
      plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      "q76 must join via a shuffle join"
    )
  }

  test("q77 sessionize: windows + session rollup share ONE user_id exchange") {
    val (s, _) = exchanges(run("q77_sessionize"))
    // user_id hash partitioning + the presentation sort's range exchange;
    // the (user_id, session_idx) groupBy must NOT add a third
    assert(s <= 2, s"q77 shuffles=$s")
  }

  test("q82 interval overlap: equi-join on cells, never a nested loop") {
    val df = run("q82_interval_overlap")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"nested loop in plan:\n$plan")
    // session exchange (user_id) + cell-join exchanges + display sort
    val (s, _) = exchanges(df)
    assert(s <= 4, s"q82 shuffles=$s")
  }

  test("q83 interpolate: join-free, one user partitioning reused") {
    val df = run("q83_interpolate")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"q83 must be join-free:\n$plan")
    // (user,us) dedup window + user window passes + display sort;
    // the grid/obs branches both re-sort but hash-partition on user
    val (s, _) = exchanges(df)
    assert(s <= 3, s"q83 shuffles=$s")
  }

  test("dedup21 substring spans: hash-only wire, bounded exchanges") {
    val (s, _) = exchanges(run("dedup21_substring_spans"))
    assert(s <= 5, s"dedup21 shuffles=$s")
  }

  test("text25 novelty: one shingle-hash aggregation + doc rollup") {
    val (s, _) = exchanges(run("text25_novelty"))
    assert(s <= 5, s"text25 shuffles=$s")
  }

  test("pipe04 corpus report: one distinct-aggregate pass") {
    val (s, _) = exchanges(run("pipe04_corpus_report"))
    // two-phase distinct agg + presentation sort
    assert(s <= 3, s"pipe04 shuffles=$s")
  }

  test("sim19 PQ/ADC: codebook and distance tables broadcast, codes scan map-side") {
    val (s, b) = exchanges(run("sim19_pq_adc"))
    assert(b >= 2, s"sim19 codebook + ADC tables must broadcast, bcasts=$b")
    assert(s <= 8, s"sim19 shuffles=$s")
  }

  test("q78 rolling active: expansion multiplies the REDUCED table, bounded aggs") {
    val (s, _) = exchanges(run("q78_rolling_active"))
    // (day,user) distinct + dau agg + wau distinct-agg (2 phases)
    // + days semi-join + final sort
    assert(s <= 7, s"q78 shuffles=$s")
  }

  test("dedup22 pagerank: per-round join + dense agg, edges never recomputed") {
    val (s, _) = exchanges(run("dedup22_pagerank"))
    // the returned frame plans AFTER the checkpointed iteration: deg
    // re-derives from the checkpointed edge list, joins the final
    // rank table, sorts — the MinHash pipeline and the per-round
    // work are behind the lineage cuts
    assert(s <= 6, s"dedup22 shuffles=$s")
  }

  test("sim20 IVF-PQ: coarse routing, probes, and ADC tables all broadcast") {
    val (s, b) = exchanges(run("sim20_ivf_pq"))
    assert(b >= 4, s"sim20 coarse+codebook+probes+tables must broadcast, bcasts=$b")
    assert(s <= 10, s"sim20 shuffles=$s")
  }

  test("dedup23 LSH curve: map-side stack over the verified-pairs pipeline") {
    val (s, _) = exchanges(run("dedup23_lsh_curve"))
    // the dedup04 candidate pipeline + the 4-key config aggregate + sort
    assert(s <= 8, s"dedup23 shuffles=$s")
  }

  test("dedup24 simhash64: one bucketedPairs shuffle, sketch carried as struct") {
    val (s, _) = exchanges(run("dedup24_simhash64"))
    // docs() fan-out repartition + band groupBy + pair distinct +
    // presentation sort — the dedup07 shape
    assert(s <= 4, s"dedup24 shuffles=$s")
  }

  test("sim21 residual PQ: per-(query,list) ADC tables broadcast") {
    val (s, b) = exchanges(run("sim21_residual_pq"))
    assert(b >= 4, s"sim21 coarse+codebook+probes+tables must broadcast, bcasts=$b")
    assert(s <= 12, s"sim21 shuffles=$s")
  }

  test("text26 gopher rules are map-side: only the presentation sort shuffles") {
    val (s, _) = exchanges(run("text26_gopher_rules"))
    assert(s <= 1, s"text26 shuffles=$s")
  }

  test("text27 ccnet buckets: per-source window, no global sort before the cut") {
    val (s, _) = exchanges(run("text27_ccnet_buckets"))
    // text19 scoring shuffles + doc-source join + ONE per-source window
    // partition + presentation sort; the tercile cut itself adds nothing
    assert(s <= 8, s"text27 shuffles=$s")
  }

  test("text28 quality classifier is map-side: only the presentation sort shuffles") {
    val (s, _) = exchanges(run("text28_quality_classifier"))
    assert(s <= 1, s"text28 shuffles=$s")
  }

  test("q79 HLL: register build + per-type rollup + exact-distinct, nothing more") {
    val (s, _) = exchanges(run("q79_hll_distinct"))
    // (type,bucket) partial-max agg + per-type rollup + countDistinct's
    // two-phase agg + the type join/sort — all on ≤ m·|types| rows
    assert(s <= 6, s"q79 shuffles=$s")
  }

  test("dedup30 winnowing: one scan, five budgeted shuffles, no broadcast re-derivation") {
    val df = run("dedup30_winnowing")
    val (s, _) = exchanges(df)
    // deliberate repartition + winnow window + fingerprint-bucket agg
    // + pair-count agg + output sort; the nfp-in-struct design means
    // NO counts-table joins (each would re-run the gram pipeline)
    assert(s <= 5, s"dedup30 shuffles=$s")
    val scans = df.queryExecution.executedPlan.collectLeaves().size
    assert(scans == 1, s"dedup30 must scan documents exactly once, saw $scans leaves")
  }

  test("dedup31 semantic decontamination: broadcast eval side, one dense argmax shuffle") {
    val (s, b) = exchanges(run("dedup31_semantic_decontaminate"))
    assert(s <= 2, s"dedup31 shuffles=$s")
    assert(b >= 1, "dedup31 eval set must broadcast")
  }

  test("q91 k-anonymity: one aggregation chain on the bounded QI key") {
    val (s, _) = exchanges(run("q91_kanonymity"))
    // distinct-band two-phase + presentation sort
    assert(s <= 3, s"q91 shuffles=$s")
  }

  test("q92 generalization ladder: level tables broadcast, records never shuffle") {
    val (s, b) = exchanges(run("q92_generalize"))
    // g0 agg + g1 rollup-from-g0 + presentation sort
    assert(s <= 3, s"q92 shuffles=$s")
    assert(b >= 2, "q92 level-size tables must broadcast")
  }

  test("q93 drift: one per-series window partition + presentation sort") {
    val (s, _) = exchanges(run("q93_drift"))
    assert(s <= 2, s"q93 shuffles=$s")
  }

  test("q94 autocorr: lead window + moment aggregation share the series key") {
    val (s, _) = exchanges(run("q94_autocorr"))
    // event_type window + (possibly unelided) agg + presentation sort
    assert(s <= 3, s"q94 shuffles=$s")
  }

  test("sim24 binary top-k: skinny shortlist shuffles only; vectors ride broadcasts") {
    val (s, b) = exchanges(run("sim24_binary_topk"))
    // sig materialization barrier + Hamming shortlist window + rerank
    // window + presentation sort (the barrier stops the fused BNLJ
    // from re-deriving the signature per pair — the dedup36 lesson)
    assert(s <= 4, s"sim24 shuffles=$s")
    assert(b >= 3, s"sim24 query/shortlist sides must broadcast, saw $b")
  }

  test("dedup33 delete propagation: touched-cluster set rides broadcasts") {
    // the whole point of the incremental path: the delete-batch-sized
    // touched set broadcasts (anti-join for pass-through, semi for the
    // recompute sliver); the corpus-wide membership table never
    // re-shuffles to find out whether a cluster was touched
    // (the recompute arm's broadcast executes inside the eagerly
    // checkpointed liveTouched sub-plan, so the returned plan shows
    // only the pass-through arm's anti-join broadcast)
    val df = run("dedup33_delete_propagation")
    val (_, b) = exchanges(df)
    assert(b >= 1, s"dedup33 touched set must broadcast, saw $b")
  }

  // ---- round-6/7/8/9 surface (the whole-surface audit catches the
  // scale-killer CLASSES; these pins catch a lost pushdown or an
  // accidental extra exchange per query). sim26 / cdc15-16 / the
  // stream* replays (incl. stream22 and stream23) — and the
  // store-action rows q109 / q110 / q111 / q112 / q113 / q114 /
  // stream24 / cdc20 / stream25 / q115 (driver-built literal rows) /
  // cdc18 / cdc19 / sim27 / sim28 / sim29 / pipe06 / mm17 / mm18 —
  // return checkpoint-materialized frames, so an
  // exchange count on their OUTPUT is vacuous — their plan shapes
  // are pinned where they execute (IvfServeSpec's one-pruned-scan +
  // broadcast-routes pin, IvfMaintainSpec's touched-files pins,
  // CompactionExecuteSpec/CompactionMaintainSpec's manifest file
  // counts, IvfRetrainSpec's touched-cell identity,
  // ManifestStoreSpec's commit isolation, time-travel retention,
  // change-feed delta-file-set, and kept-file range pruning,
  // DriftRecoverySpec and
  // FilteredAnnSpec's serving shapes, SchemaEvolutionSpec's
  // round-trips, StreamWinsorClipSpec's and
  // StreamBottomKSpec's bounded state, MediaNearDupSpec's banded
  // candidate counts, the replay specs' O(1)-state equivalences).

  test("q100 OHLC bars: one packed-key hash agg + presentation sort") {
    val (s, _) = exchanges(run("q100_ohlc_bars"))
    assert(s <= 2, s"q100 shuffles=$s")
  }

  test("q101 zorder layout: zone-map aggs + probe sort; probe table broadcasts") {
    val (s, b) = exchanges(run("q101_zorder_layout"))
    assert(s <= 3, s"q101 shuffles=$s")
    assert(b >= 1, "q101 probe table must broadcast")
  }

  test("q102 zorder store round-trip: pruned read pays only the presentation sort") {
    val (s, _) = exchanges(run("q102_zorder_store"))
    assert(s <= 1, s"q102 shuffles=$s")
  }

  test("q103 seasonal MASE: per-series windows on one partitioning + agg + sort") {
    val (s, _) = exchanges(run("q103_seasonal_error"))
    assert(s <= 3, s"q103 shuffles=$s")
  }

  test("q104 last-touch: per-user as-of window + channel agg + sort") {
    val (s, _) = exchanges(run("q104_last_touch"))
    assert(s <= 3, s"q104 shuffles=$s")
  }

  test("q105 winsorize: percentile agg + clip agg + sort; cuts broadcast back") {
    val (s, b) = exchanges(run("q105_winsorize"))
    assert(s <= 3, s"q105 shuffles=$s")
    assert(b >= 1, "q105 per-series cuts must broadcast")
  }

  test("text41 boilerplate: line agg + doc reassembly + rollup + sort") {
    val (s, b) = exchanges(run("text41_line_boilerplate"))
    assert(s <= 4, s"text41 shuffles=$s")
    assert(b >= 1, "text41 boilerplate line set must broadcast")
  }

  test("text42 PR sweep: one scored agg + threshold-grid agg + sort") {
    val (s, _) = exchanges(run("text42_pr_sweep"))
    assert(s <= 3, s"text42 shuffles=$s")
  }

  test("text43 boolean retrieval: postings pruned pre-shuffle, no N-way self-join") {
    val (s, b) = exchanges(run("text43_bool_retrieval"))
    assert(s <= 5, s"text43 shuffles=$s")
    assert(b >= 1, "text43 query-term set must broadcast")
  }

  test("mm07 media clusters: banded pairs + CC + dense rollup within budget") {
    val (s, b) = exchanges(run("mm07_phash_clusters"))
    assert(s <= 5, s"mm07 shuffles=$s")
    assert(b >= 1, "mm07 survivor/edge set must broadcast")
  }

  test("mm08 shot boundaries: per-media frame window + boundary agg + sort") {
    val (s, _) = exchanges(run("mm08_shot_bounds"))
    assert(s <= 2, s"mm08 shuffles=$s")
  }

  test("mm09 aspect buckets: one bucket agg + presentation sort") {
    val (s, _) = exchanges(run("mm09_aspect_buckets"))
    assert(s <= 2, s"mm09 shuffles=$s")
  }

  test("mm10 raster decode: one map-side codec chain + presentation sort only") {
    // generate → unhex → hex → slice is one expression chain per row;
    // an extra exchange here means the hex transcode was re-derived
    // or the codec grew a join
    val (s, b) = exchanges(run("mm10_raster_decode"))
    assert(s <= 1, s"mm10 shuffles=$s")
    assert(b === 0, s"mm10 broadcasts=$b")
  }

  test("mm11 raster resize: decode + downsample + re-encode stay map-side") {
    val (s, b) = exchanges(run("mm11_raster_resize"))
    assert(s <= 1, s"mm11 shuffles=$s")
    assert(b === 0, s"mm11 broadcasts=$b")
  }

  test("mm12-mm16 audio/video codecs: map-side chains + presentation sort only") {
    Seq("mm12_audio_decode", "mm13_audio_segments", "mm14_video_decode",
      "mm15_video_shots", "mm16_frame_sample").foreach { q =>
      val (s, b) = exchanges(run(q))
      assert(s <= 1, s"$q shuffles=$s")
      assert(b === 0, s"$q broadcasts=$b")
    }
  }

  test("dedup37 weighted HDR median: CC weights + ONE sketch agg, bucket-sized windows") {
    val (s, _) = exchanges(run("dedup37_weighted_hdr_median"))
    assert(s <= 3, s"dedup37 shuffles=$s")
  }

  test("dedup38 cluster transitivity: CC + degree/wedge/triangle rollups within budget") {
    // the triangle and CC legs read eager checkpoints (the dedup17
    // discipline); 10 exchanges is the honest cost of the three
    // keyed rollups + joins over them — the pin is against growth
    val (s, _) = exchanges(run("dedup38_cluster_transitivity"))
    assert(s <= 10, s"dedup38 shuffles=$s")
  }

  test("dedup39 CDC chunking: ONE corpus pass fans out to both chunkers") {
    // per-doc windows + one chunk-assembly shuffle + rollup + docs
    // agg + sort — re-deriving the scan per chunker would double it
    val (s, _) = exchanges(run("dedup39_cdc_chunks"))
    assert(s <= 5, s"dedup39 shuffles=$s")
  }

  test("dedup40 curve: the returned frame is the collected curve, not live arms") {
    // the 5 arms (4 banded + exhaustive baseline) run EAGERLY inside
    // the builder — each arm's checkpoints are unpersisted as soon as
    // its counts land, so the returned frame must reduce to the
    // driver-built curve (a local relation + presentation sort) with
    // no residual scan of corpus/eval. A scan here means an arm's
    // lineage escaped the builder and its checkpoints leak again.
    val df = run("dedup40_banded_decon_curve")
    val planStr = df.queryExecution.executedPlan.toString
    assert(!planStr.contains("FileScan") && !planStr.contains("Scan parquet"),
      s"dedup40 result should carry no live table scan:\n$planStr")
    val (s, b) = exchanges(df)
    assert(s <= 1, s"dedup40 shuffles=$s")
    assert(b === 0, s"dedup40 broadcasts=$b")
  }

  test("dedup36 sweep form: signature barrier + rerank join + sort only") {
    // the r7 A/B receipt kept the broadcast sweep (the banded form
    // measured 1.9x slower at this regime — see dedup36's scaladoc);
    // eval signatures and vectors must both ride broadcasts
    val (s, b) = exchanges(run("dedup36_semantic_decon_sketch"))
    assert(s <= 3, s"dedup36 shuffles=$s")
    assert(b >= 2, "dedup36 eval signatures and vectors must broadcast")
  }

  test("sim25 nprobe curve: one scored pass swept by the broadcast budget grid") {
    val (s, b) = exchanges(run("sim25_nprobe_curve"))
    assert(s <= 4, s"sim25 shuffles=$s")
    assert(b >= 1, "sim25 budget grid must broadcast")
  }

  test("cdc17 hash chain: per-key chain window + verdict agg only") {
    val (s, _) = exchanges(run("cdc17_hash_chain"))
    assert(s <= 2, s"cdc17 shuffles=$s")
  }

  // ---- round-7 additions

  test("text44 BM25: one corpus pass via the slim checkpoint, postings aggs only") {
    // totals agg + postings agg live inside the checkpointed slim
    // pipeline; the returned plan pays df agg + (query,doc) agg +
    // window + sort over LogicalRDD leaves
    val df = run("text44_bm25_topk")
    val (s, b) = exchanges(df)
    assert(s <= 5, s"text44 shuffles=$s")
    assert(b >= 2, "text44 term map and df/totals must broadcast")
  }

  test("text45 PII scrub is map-side: detection/Luhn/redact pay no shuffle beyond docs+sort") {
    val (s, _) = exchanges(run("text45_pii_redact"))
    assert(s <= 2, s"text45 shuffles=$s")
  }

  test("dedup41 leakage audit: split rides dense-key joins on the edge checkpoint") {
    val (s, b) = exchanges(run("dedup41_split_leakage"))
    assert(s <= 4, s"dedup41 shuffles=$s")
    assert(b >= 1, "dedup41 cross-split val set must broadcast")
  }

  test("dedup42 cluster split stays within the CC-pass budget") {
    val (s, _) = exchanges(run("dedup42_cluster_split"))
    assert(s <= 9, s"dedup42 shuffles=$s")
  }

  test("q106 sketch-winsorize audit: bounded sketch aggs + the exact anchor only") {
    val (s, _) = exchanges(run("q106_winsorize_sketch"))
    assert(s <= 8, s"q106 shuffles=$s")
  }

  test("q108 admission form: the rank filter runs as WindowGroupLimit") {
    // the two-aggregate shape's whole point: rn <= Q as a FILTER gets
    // rank pushdown (per-task top-Q before the window shuffle), which
    // the report-form q107's conditional SUM structurally cannot.
    // Pinned on the SAME admissionKept definition the gated row
    // executes (the row's returned frame — and its dense input — are
    // checkpoint-materialized, so the registry output's plan is a
    // LogicalRDD leaf)
    val conf = spark.conf
    val orig = conf.get("spark.sql.adaptive.enabled")
    val df =
      try {
        conf.set("spark.sql.adaptive.enabled", "false")
        val d = Relational11.admissionKept(Relational11.urlDense(spark, sfDir))
        d.queryExecution.executedPlan
        d
      } finally conf.set("spark.sql.adaptive.enabled", orig)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"q108 rank filter lost WindowGroupLimit pushdown:\n$plan")
    val (s, _) = exchanges(df)
    assert(s <= 3, s"q108 kept-set shuffles=$s")
  }

  test("q107 URL quota: normalization map-side, (domain,nurl) agg + quota window + sort") {
    val (s, _) = exchanges(run("q107_url_quota"))
    assert(s <= 3, s"q107 shuffles=$s")
  }

  test("dedup17 triangle legs read one checkpointed pipeline (no corpus re-scan)") {
    // r5 replaced the runtime-ReusedExchange reliance (pre-AQE plans
    // showed the MinHash pipeline triplicated; reuse only appeared in
    // the AQE final plan) with single execution BY CONSTRUCTION: the
    // verified edges and their oriented form are eager checkpoints,
    // so the triangle plan's only leaves are RDD scans.
    val df = run("dedup17_triangles")
    val (s, _) = exchanges(df)
    assert(s <= 8, s"dedup17 shuffles=$s")
    val plan = df.queryExecution.executedPlan.toString
    assert(
      !plan.contains("FileScan") && !plan.contains("Scan parquet"),
      s"dedup17 plan re-reads the corpus (pipeline not single-executed):\n$plan"
    )
    assert(plan.contains("Scan ExistingRDD"), plan)
  }
}
