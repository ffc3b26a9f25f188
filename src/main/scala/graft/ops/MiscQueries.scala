package graft.ops

import graft.Tables
import graft.info.EngineInfo
import graft.metrics.MetricsDoc
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Diagnostics, metrics-document, and multimodal-plumbing queries. */
object MiscQueries extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  private val allTables = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings"
  )

  /** `/db-info` recordCounts analogue over every fixture table. */
  private val tableCounts: Q = (s, dir) =>
    EngineInfo.tableCounts(s, dir, allTables)

  /** The reference's metrics document derived from event aggregates:
    * sum(value) plays startup-ms, count plays used-bytes — the
    * formatters and nested-JSON shape are what is under test.
    *
    * Formatted values are quantized to their rendered precision with
    * integer division FIRST (`ms div 1` → whole ms, percent → integer
    * tenths): `%.3f`/`%.1f` of a raw division can land on binary
    * rounding ties where Java (HALF_UP) and C-family (half-even)
    * formatters disagree (observed at sf0.1).
    */
  private val metricsDoc: Q = (s, dir) => {
    val per = Tables(s, dir).events
      .groupBy(col("event_type"))
      .agg(
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("ms"),
        count(lit(1)).as("n")
      )
    val startupS =
      format_string("%.3f", floor(col("ms")).cast(DoubleType) / 1000.0)
    val usagePctTenths = expr("(n * 1000) div 20000")
    val jsonPctTenths = expr("(n * 1024 * 512 * 1000) div 1073741824")
    val jsonDoc = concat(
      lit("""{"startupTimeSeconds":""""),
      startupS,
      lit("""","memory":{"usedMB":""""),
      MetricsDoc.bytesToMb(col("n") * 1024L * 512L),
      lit("""","maxMB":""""),
      MetricsDoc.bytesToMb(lit(1073741824L)),
      lit("""","usagePercent":""""),
      format_string("%.1f", jsonPctTenths.cast(DoubleType) / 10.0),
      lit("""%"},"jvm":{"imageType":""""),
      MetricsDoc.imageType(col("event_type") === "signup"),
      lit(""""}}""")
    )
    per
      .select(
        col("event_type"),
        startupS.as("startup_s"),
        MetricsDoc.bytesToMb(col("n") * 1024L * 512L).as("mem_mb"),
        concat(
          format_string("%.1f", usagePctTenths.cast(DoubleType) / 10.0),
          lit("%")
        ).as("usage_pct"),
        MetricsDoc.imageType(col("event_type") === "signup").as("image_type"),
        jsonDoc.as("doc")
      )
      .orderBy("event_type")
  }

  /** Multimodal metadata surface: binary payload + typed metadata
    * (the decode stub itself is unit-tested; this checks the
    * schema/derivation plumbing).
    */
  private val mediaMeta: Q = (s, dir) =>
    Multimodal
      .asMediaTable(Tables(s, dir).documents)
      .select(
        col("media_id"),
        col("format"),
        col("width"),
        col("height"),
        octet_length(col("payload")).as("n_bytes"),
        // ceil(len/256), consistent with frameOffsets/decodeFeatures
        ((octet_length(col("payload")).cast("long") + 255L) / lit(256L))
          .cast("long")
          .as("n_chunks")
      )
      .orderBy("media_id")

  /** The mapPartitions decode boundary itself under the oracle gate:
    * per-media byte stats from the stubbed codec (integer outputs
    * only — the float feature vector is unit-tested, not hashed, as
    * float formatting is engine-specific). The DuckDB mirror folds
    * over hex pairs of the utf-8 payload to reproduce the byte sum.
    */
  private val decodeStats: Q = (s, dir) => {
    import s.implicits._
    val media = Multimodal
      .asMediaTable(Tables(s, dir).documents)
      .as[Multimodal.MediaRow]
    Multimodal
      .decodeFeatures(media)
      .select(
        col("media_id"),
        col("n_bytes"),
        col("checksum"),
        col("n_frames")
      )
      .orderBy("media_id")
  }

  /** The `spark.sql` entrypoint itself under the gate: temp views +
    * ANSI text with a correlated EXISTS and a NOT EXISTS — the
    * library's SQL surface (not just the DataFrame DSL). Catalyst
    * rewrites the subqueries to left-semi/anti joins — the same
    * physical plans as q09/q10, from SQL text.
    */
  private val sqlExists: Q = (s, dir) => {
    Tables(s, dir).customer.createOrReplaceTempView("customer_v")
    Tables(s, dir).orders.createOrReplaceTempView("orders_v")
    s.sql("""
      SELECT c.c_custkey, c.c_name,
             EXISTS (SELECT 1 FROM orders_v o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_totalprice > 300000) AS has_big_order
      FROM customer_v c
      WHERE EXISTS (SELECT 1 FROM orders_v o
                    WHERE o.o_custkey = c.c_custkey)
        AND NOT EXISTS (SELECT 1 FROM orders_v o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderstatus = 'F'
                          AND o.o_totalprice < 1000)
      ORDER BY c.c_custkey
    """)
  }

  /** Deterministic train/eval split by portable hash — the
    * reproducible-sampling primitive a training pipeline needs
    * instead of `sample()` (whose RNG is partition-order dependent
    * and not reproducible across engines or re-partitions): split =
    * hash(id) mod 100 against a 90/10 cut. Per-(source, split)
    * counts + token mass verify the assignment end-to-end. Map-side
    * assignment, one aggregation shuffle.
    */
  private val hashSplit: Q = (s, dir) => {
    val bucket = pmod(
      graft.functions.PortableHash.h32(col("doc_id").cast("string")),
      lit(100L)
    )
    Tables(s, dir).documents
      .select(
        col("source"),
        when(bucket < 90, lit("train")).otherwise(lit("eval")).as("split"),
        col("text")
      )
      .groupBy(col("source"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
          .as("n_tokens")
      )
      .orderBy("source", "split")
  }

  /** Deterministic per-stratum sampling: the first 20 docs of each
    * source in portable-hash order — the balanced-subset primitive a
    * data-mixing pipeline uses to draw a fixed quota per domain,
    * reproducible across engines and re-partitionings (same property
    * as q54's split, extended from a rate to a quota).
    *
    * Scale note: `row_number <= k` over a partition is NOT a full
    * per-stratum sort at execution time — Catalyst's
    * InferWindowGroupLimit inserts WindowGroupLimit (per-partition
    * top-k heaps) both before and after the shuffle, so each stratum
    * moves only O(k) rows per map partition. Asserted in
    * StratifiedSampleSpec.
    */
  /** q84's total sample budget. */
  private[ops] val NEY_N = 100L

  /** q84: Neyman-allocated stratified sample — the variance-optimal
    * split of a fixed budget n across strata (n_h ∝ N_h·σ_h), the
    * statistically right way to draw an eval/audit set from a skewed
    * corpus (big noisy strata get more; small uniform ones less).
    *
    * Determinism discipline (why this hash-matches DuckDB):
    *  - N_h·σ_h = sqrt(N_h·Σy² − (Σy)²) — INTEGER inside the sqrt
    *    (no two-pass float variance whose accumulation order differs
    *    by engine; at 100 TB the products need DECIMAL(38) but the
    *    identity is unchanged), and IEEE sqrt is correctly rounded;
    *  - weights are quantized to DECIMAL(18,6) so the total W is an
    *    EXACT order-independent sum (a double Σwt would depend on
    *    each engine's fold order);
    *  - integer allocations by largest-remainder apportionment
    *    (floor + top-r fractional parts), so Σ n_h = n exactly with
    *    no round-half ambiguity; n_h capped at N_h.
    *
    * Shape: one groupBy shuffle for stratum moments, K-row windows
    * for the apportionment, then q55's per-stratum hash-rank pick
    * with rk ≤ NEY_N as a LITERAL prefilter — the rank pushes down as
    * WindowGroupLimit (per-partition bounded heaps) and the dynamic
    * n_h cut is applied on the ≤ n·K surviving rows after a broadcast
    * join with the allocation table.
    */
  private val neymanSample: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir).documents
    val st = docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("nh"),
        sum(col("n_chars")).as("sy"),
        sum(col("n_chars") * col("n_chars")).as("syy")
      )
      .withColumn(
        "__wt",
        sqrt((col("nh") * col("syy") - col("sy") * col("sy")).cast("double"))
          .cast(DecimalType(18, 6))
      )
    val byFrac = Window.orderBy(col("__frac").desc, col("source"))
    val alloc = st
      .withColumn("__w", expr("sum(__wt) OVER ()"))
      .withColumn(
        "__share",
        (lit(NEY_N.toDouble) * col("__wt").cast("double")) /
          col("__w").cast("double")
      )
      .withColumn("__base", floor(col("__share")).cast("long"))
      .withColumn("__frac", col("__share") - floor(col("__share")))
      .withColumn("__rnk", row_number().over(byFrac))
      .withColumn("__rem", lit(NEY_N) - expr("sum(__base) OVER ()"))
      .withColumn(
        "n_h",
        least(
          col("__base") +
            when(col("__rnk") <= col("__rem"), lit(1L)).otherwise(lit(0L)),
          col("nh")
        )
      )
      .select(col("source"), col("n_h"))
    docs
      .select(
        col("source"),
        col("doc_id"),
        graft.functions.PortableHash.h32(col("doc_id").cast("string")).as("__h")
      )
      .withColumn(
        "rk",
        row_number().over(
          Window.partitionBy(col("source")).orderBy(col("__h"), col("doc_id"))
        )
      )
      .filter(col("rk") <= NEY_N)
      .join(broadcast(alloc), Seq("source"))
      .filter(col("rk") <= col("n_h"))
      .select(col("source"), col("n_h"), col("doc_id"), col("rk"))
      .orderBy("source", "rk")
  }

  private val stratifiedSample: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    Tables(s, dir).documents
      .select(
        col("source"),
        col("doc_id"),
        graft.functions.PortableHash.h32(col("doc_id").cast("string")).as("__h")
      )
      .withColumn(
        "rk",
        row_number().over(
          Window.partitionBy(col("source")).orderBy(col("__h"), col("doc_id"))
        )
      )
      .filter(col("rk") <= 20)
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy("source", "rk")
  }

  /** Deterministic WEIGHTED sampling per stratum (priority sampling):
    * each doc draws priority = u / w where u is its portable-hash
    * uniform and w its weight (n_chars — longer docs more likely
    * kept); the 15 smallest priorities per source win. Inclusion odds
    * scale with weight, yet the draw is a pure function of doc_id —
    * reproducible across engines, partitionings and reruns, unlike
    * `sample()`. The emitted priority is ONE IEEE division of two
    * exactly-representable integers, so it hashes bit-identically on
    * both engines. Same WindowGroupLimit top-k shape as q55: O(k)
    * rows move per stratum.
    */
  private val weightedSample: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val h = graft.functions.PortableHash.h32(col("doc_id").cast("string"))
    Tables(s, dir).documents
      .filter(col("n_chars") > 0)
      .select(
        col("source"),
        col("doc_id"),
        col("n_chars"),
        (h.cast("double") / col("n_chars").cast("double")).as("priority")
      )
      .withColumn(
        "rk",
        row_number().over(
          Window.partitionBy(col("source")).orderBy(col("priority"), col("doc_id"))
        )
      )
      .filter(col("rk") <= 15)
      .orderBy("source", "rk")
  }

  /** Mergeable HyperLogLog distinct-count sketch (M=64 registers)
    * next to the exact count it approximates: distinct users per
    * event type. The typed Aggregator's merge is elementwise register
    * max, so the sketch combines map-side like any partial aggregate
    * — the O(1)-state substitute for `COUNT(DISTINCT)` when key
    * cardinality itself is shuffle-prohibitive (the exact column here
    * is the checkable companion, same discipline as q37/ApproxNtile).
    * Register math is portable-hash-derived and libm-free, so the
    * DuckDB oracle reconstructs the ESTIMATE bit-for-bit — the sketch
    * is oracle-exact, not just property-tested (see
    * [[graft.sim.HllAggregator]]).
    */
  private val hllDistinct: Q = (s, dir) => {
    val hllEst = udaf(
      graft.sim.HllAggregator.distinctEstimate,
      org.apache.spark.sql.Encoders.scalaLong
    )
    Tables(s, dir).events
      .filter(col("user_id").isNotNull)
      .select(
        col("event_type"),
        col("user_id"),
        graft.functions.PortableHash.h32(col("user_id").cast("string"))
          .as("__h")
      )
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        hllEst(col("__h")).as("hll_est")
      )
      .orderBy("event_type")
  }

  /** Deterministic global corpus shuffle + sharding (the training-
    * order pass before tokenizer export): shard by one seeded hash,
    * order within each shard by an INDEPENDENT seeded hash — the
    * standard "shuffle then shard" that decorrelates training order
    * from ingest order, as a pure function of doc_id (reproducible
    * across engines, partitionings, and reruns, unlike
    * `orderBy(rand())`). Shard assignment is map-side; the only
    * shuffle is the per-shard window, bounded by corpus/NSHARDS rows
    * per partition — no global sort anywhere.
    */
  private val nShards = 16
  private val corpusShuffle: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hShard =
      graft.functions.PortableHash.h32(col("doc_id").cast("string"), 5801)
    val hPos =
      graft.functions.PortableHash.h32(col("doc_id").cast("string"), 5802)
    Tables(s, dir).documents
      .select(
        col("doc_id"),
        pmod(hShard, lit(nShards.toLong)).as("shard"),
        hPos.as("__pos_key")
      )
      .withColumn(
        "pos",
        row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("__pos_key"), col("doc_id"))
        )
      )
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  /** Mixture oversampling (epoch weighting): repeat each source's
    * docs according to a per-source mixture weight with one decimal
    * digit (1.0–2.9, derived here from a hash so no config table is
    * needed; a real pipeline joins a broadcast weights table). A doc
    * repeats floor(w) times plus one more with probability frac(w),
    * decided by its own hash — expected emitted mass per source is
    * exactly w × docs while the draw stays a pure function of doc_id.
    * The tenths digit makes the fractional draw EXACT integer
    * arithmetic (h mod 10 < tenths), so the oracle reproduces it
    * bit-for-bit. Map-side only: explode of a per-row index sequence,
    * no shuffle at any scale.
    */
  private val mixtureEpochs: Q = (s, dir) => {
    val hSrc = graft.functions.PortableHash.h32(col("source"), 5803)
    val hDoc =
      graft.functions.PortableHash.h32(col("doc_id").cast("string"), 5804)
    Tables(s, dir).documents
      .select(
        col("doc_id"),
        col("source"),
        (pmod(hSrc, lit(20L)) / 10L).cast("long").as("__w_int"),
        pmod(hSrc, lit(10L)).as("__tenths"),
        pmod(hDoc, lit(10L)).as("__u")
      )
      .select(
        col("doc_id"),
        col("source"),
        (lit(1L) + col("__w_int") +
          when(col("__u") < col("__tenths"), 1L).otherwise(0L))
          .as("n_epochs")
      )
      .select(
        col("doc_id"),
        col("source"),
        col("n_epochs"),
        explode(sequence(lit(1L), col("n_epochs"))).as("epoch")
      )
      .orderBy("doc_id", "epoch")
  }

  /** Sharded training-data EXPORT (the write path the other queries
    * stop short of): hash-shard the corpus, `partitionBy(shard)` with
    * `maxRecordsPerFile` so every shard splits into bounded files,
    * read the directory back and report per-shard file/row counts.
    * The repartition on shard puts each shard's rows in ONE task, so
    * the file count is deterministically ceil(rows/maxRecords) — which
    * is what the oracle recomputes from the source table (the parquet
    * roundtrip itself is what's under test; a mismatch means rows were
    * lost, duplicated, or mis-sharded in the sink).
    *
    * At scale this is the real recipe: partitioned columnar write,
    * file sizes bounded for downstream loader parallelism, shard
    * count chosen so shard ≫ executor count.
    */
  private val wShards = 8
  private val maxPerFile = 32
  private val shardWrite: Q = (s, dir) => {
    val h = graft.functions.PortableHash.h32(col("doc_id").cast("string"), 5805)
    val out = java.nio.file.Files
      .createTempDirectory("graft_pipe02_")
      .toFile
    val target = out.getAbsolutePath
    Tables(s, dir).documents
      .select(col("doc_id"), col("source"), col("text"),
        pmod(h, lit(wShards.toLong)).as("shard"))
      .repartition(wShards, col("shard"))
      .write
      .option("maxRecordsPerFile", maxPerFile)
      .partitionBy("shard")
      .mode("overwrite")
      .parquet(target)
    // partition-column inference types `shard=` as INT — pin to long
    val back = s.read.parquet(target)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("shard")
    val files = out.listFiles((d: java.io.File) => d.getName.startsWith("shard="))
    val actualFiles = files.map { d =>
      val shard = d.getName.stripPrefix("shard=").toLong
      shard -> d.listFiles((f: java.io.File) => f.getName.endsWith(".parquet")).length.toLong
    }.toMap
    // materialize before deleting the roundtrip directory: the
    // returned frame must stay evaluable after cleanup
    val rows = back.collect().map { r =>
      val shard = r.getLong(0)
      (shard, r.getLong(1), actualFiles.getOrElse(shard, 0L))
    }
    def delete(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(delete))
      f.delete(): Unit
    }
    delete(out)
    import s.implicits._
    rows.toSeq.toDF("shard", "n_docs", "n_files").orderBy("shard")
  }

  /** Modality-pairing coverage: per source, how many docs have a
    * matching embedding row (doc_id = vec_id) — the dataset-hygiene
    * join a multimodal trainer runs before pairing text with vectors
    * (a silently unpaired slice becomes a silently text-only model).
    * Dense-long equi-join; at scale both sides are large → sort-merge
    * on the id, with the aggregate on the tiny source domain.
    */
  private val mmPairing: Q = (s, dir) => {
    val d = Tables(s, dir).documents.select(col("doc_id"), col("source"))
    val e = Tables(s, dir).embeddings
      .select(col("vec_id").as("doc_id"), lit(1).as("__has"))
    d.join(e, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("__has")).as("n_paired"),
        (count(col("__has")).cast("double") / count(lit(1)))
          .as("coverage")
      )
      .orderBy("source")
  }

  /** mm05: perceptual-hash (dHash) sketch of every media payload plus
    * its 4×16-bit Hamming band keys — the image near-dup net, built
    * exactly like the text one (dedup24's 64-bit sketch → band keys →
    * `PairJoins.bucketedPairs`): two re-encodes/resizes of one image
    * land within a few bits and collide on a band; unrelated images
    * sit at Hamming ~32. The decode stub and the expression form are
    * documented on [[Multimodal.dHash64]]; the pair-generation step on
    * planted near-identical payloads is exercised in MediaPhashSpec
    * (the fixture's random-token payloads contain no true image
    * near-dups, so the sketch table itself is the oracle surface).
    *
    * Shape at scale: the sketch is one codegen'd map-side pass over
    * the payload (zero shuffles in this query — the output IS the
    * banded index a downstream near-dup join consumes); band keys are
    * 16-bit ints, so the join that follows is dedup24's single
    * bucketed shuffle, never an all-pairs comparison.
    */
  private def mediaSketch(s: SparkSession, dir: String): DataFrame = {
    val m = Multimodal
      .asMediaTable(Tables(s, dir).documents)
      .select(
        col("media_id"),
        col("format"),
        Multimodal.dHash64(decode(col("payload"), "UTF-8")).as("phash")
      )
    m.select(
      Seq(col("media_id"), col("format"), col("phash")) ++
        (0 until 4).map(b =>
          shiftright(col("phash"), 16 * b)
            .bitwiseAND(lit(65535L))
            .as(s"band$b")
        ): _*
    )
  }

  private val mediaPhash: Q = (s, dir) => mediaSketch(s, dir).orderBy("media_id")

  /** Hamming threshold for an mm06 near-dup verdict: ≤6 of 64 bits —
    * the usual dHash re-encode tolerance.
    */
  private[ops] val PHASH_HAM_T = 6

  /** mm06: banded near-dup pair generation over the mm05 sketch — the
    * join mm05's docstring promises, realized: each medium's 4×16-bit
    * band keys go through `PairJoins.bucketedPairs` (one shuffle on
    * (band, key), pairs only within buckets — never an all-pairs
    * scan), the 8-byte phash rides INSIDE the id struct (dedup07's
    * zero-re-attach trick), and each candidate gets its exact Hamming
    * distance (`bit_count(xor)`) and a ≤${PHASH_HAM_T}-bit verdict.
    * The fixture's random payloads produce only chance band
    * collisions (Hamming ~32, is_near = false) — the VOLUME check;
    * planted near-identical payloads driving true positives through
    * this exact path are MediaPhashSpec's job.
    *
    * Scale: candidate count is governed by band width (16-bit keys →
    * expected n²/2¹⁶ chance pairs per band); verification touches
    * candidates only, and the verdict is one integer instruction per
    * pair. The pigeonhole guarantee: any pair within 6 bits differs
    * in ≤6 of 64 bits, so among 4 disjoint 16-bit bands at least one
    * band is untouched — recall 1.0 for the threshold, by
    * construction.
    */
  private val mediaPhashPairs: Q = (s, dir) => {
    val sk = mediaSketch(s, dir)
    val long = sk.select(
      struct(col("media_id"), col("phash")).as("m"),
      posexplode(array(col("band0"), col("band1"), col("band2"), col("band3")))
        .as(Seq("b", "key"))
    )
    PairJoins
      .bucketedPairs(long, Seq("b", "key"), "m")
      .select(
        col("id_a.media_id").as("id_a"),
        col("id_b.media_id").as("id_b"),
        bit_count(col("id_a.phash").bitwiseXOR(col("id_b.phash")))
          .cast("int")
          .as("hamming")
      )
      .withColumn("is_near", col("hamming") <= PHASH_HAM_T)
      .orderBy("id_a", "id_b")
  }

  /** mm07: media near-dup CLUSTERING + survivor selection — the
    * image-dedup decision mm05/mm06 build toward, closed out: banded
    * dHash candidates → Hamming-verified edges → connected components
    * ([[graft.dedup.Clusters]], the dedup06 propagation) → one report
    * row per cluster with member/format counts and the kept copy
    * (most bytes wins — "keep the highest-resolution copy" — ties to
    * the smaller id, the A4 argmin pattern in one struct-min).
    *
    * Unlike mm06 (whose fixture yields only chance candidates, all
    * is_near = false), the input plants a deterministic re-encode
    * wave so the gate exercises REAL multi-member clusters: every
    * doc_id ≡ 0 (mod 5) re-enters under id + 10⁹ with its first
    * character replaced — same length, so only the one dHash sample
    * anchored at position 1 can flip → Hamming ≤ 1 ≤ ${PHASH_HAM_T},
    * and each planted copy lands in its original's cluster (survivor
    * = the original: equal bytes, smaller id). Formats may differ
    * across the pair ((id + 10⁹) mod 3 ≠ id mod 3 in general) —
    * exactly the re-encoded-copy shape, surfaced by n_formats.
    *
    * Scale: the sketch is map-side; candidates are banded
    * (never all-pairs); components propagate over edge-incident nodes
    * only; the report is one dense groupBy on cluster_id.
    */
  private val mediaPhashClusters: Q = (s, dir) => {
    val base = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    val dup = base
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(
        (col("doc_id") + lit(1000000000L)).as("doc_id"),
        concat(lit("A"), substring(col("text"), 2, Int.MaxValue)).as("text")
      )
    val media = Multimodal.asMediaTable(base.unionByName(dup))
    val sk = media
      .select(
        col("media_id"),
        col("format"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        Multimodal.dHash64(decode(col("payload"), "UTF-8")).as("phash")
      )
      .select(
        Seq(col("media_id"), col("format"), col("n_bytes"), col("phash")) ++
          (0 until 4).map(b =>
            shiftright(col("phash"), 16 * b)
              .bitwiseAND(lit(65535L))
              .as(s"band$b")
          ): _*
      )
    val long = sk.select(
      struct(col("media_id"), col("phash")).as("m"),
      posexplode(array(col("band0"), col("band1"), col("band2"), col("band3")))
        .as(Seq("b", "key"))
    )
    val near = PairJoins
      .bucketedPairs(long, Seq("b", "key"), "m")
      .filter(
        bit_count(col("id_a.phash").bitwiseXOR(col("id_b.phash")))
          <= PHASH_HAM_T
      )
      .select(col("id_a.media_id").as("id_a"), col("id_b.media_id").as("id_b"))
    val cc = graft.dedup.Clusters
      .connectedComponents(sk.select(col("media_id").as("id")), near)
    cc.join(sk, col("id") === col("media_id"))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        countDistinct(col("format")).as("n_formats"),
        min(struct((-col("n_bytes")).as("nb"), col("media_id").as("mid")))
          .as("__s")
      )
      .select(
        col("cluster_id"),
        col("n_members"),
        col("n_formats"),
        col("__s.mid").as("survivor_id")
      )
      .orderBy("cluster_id")
  }

  /** q80: the UDTF surface (SURVEY.md §2.10) under the oracle gate —
    * per-document shingle profile computed entirely through the native
    * Generator [[graft.plans.ShingleExplode]] on the SQL surface
    * (`LATERAL VIEW graft_shingle_explode(text)`): hashes stream from
    * the tokenizer into `Generate` without materializing the array the
    * `explode(graft_shingle_hashes(...))` form would allocate. The
    * aggregate keys on the dense doc_id — one shuffle, no text on the
    * wire.
    */
  private val udtfShingles: Q = (s, dir) => {
    graft.plans.ShingleExplode.register(s)
    Tables(s, dir).documents.createOrReplaceTempView("documents_tf")
    s.sql(s"""
      SELECT doc_id, COUNT(DISTINCT h) AS n_shingles,
             MIN(h) AS min_h, MAX(h) AS max_h
      FROM documents_tf
      LATERAL VIEW ${graft.plans.ShingleExplode.FUNC_NAME}(text) t AS h
      GROUP BY doc_id ORDER BY doc_id
    """)
  }

  /** LATERAL correlated subquery through `spark.sql` — per driving
    * row, a dependent top-k subquery (each January-1995 order's two
    * priciest line items). Catalyst decorrelates the lateral into a
    * ranked join (no per-row re-execution), which is exactly why the
    * SQL surface can afford the form at scale; the q53 EXISTS family
    * plus this close out the correlated-subquery feature set.
    */
  private val sqlLateral: Q = (s, dir) => {
    Tables(s, dir).orders.createOrReplaceTempView("orders_lv")
    Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_lv")
    s.sql("""
      SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
      FROM orders_lv o,
      LATERAL (
        SELECT l_linenumber, l_extendedprice
        FROM lineitem_lv
        WHERE l_orderkey = o.o_orderkey
        ORDER BY l_extendedprice DESC, l_linenumber
        LIMIT 2
      ) l
      WHERE o.o_orderdate >= DATE '1995-01-01'
        AND o.o_orderdate < DATE '1995-02-01'
      ORDER BY o.o_orderkey, l.l_extendedprice DESC, l.l_linenumber
    """)
  }

  /** Value-range window frame: per user, the trailing-7-day sum of
    * `value` — RANGE frames bound by an INTERVAL over event time, the
    * window feature the ROWS-frame family (q15/q39) cannot express
    * (a frame defined by the ORDER value, not a row count; ties are
    * peers, so the result is reorder-proof by construction). Decimal-
    * exact sum per [[Qx]]; epoch-µs output like cdc07.
    */
  private val rangeFrame: Q = (s, dir) => {
    Tables(s, dir).events.createOrReplaceTempView("events_rf")
    s.sql("""
      SELECT user_id, unix_micros(ts) AS ts_us, event_id,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
          PARTITION BY user_id ORDER BY ts
          RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
        ) AS DOUBLE) AS sum_7d
      FROM events_rf
      ORDER BY user_id, ts_us, event_id
    """)
  }

  /** The star schema's FK edges for pipe05 — (edge label, child
    * table, fk column, parent table, parent key column).
    */
  private val fkEdges: Seq[(String, String, String, String, String)] = Seq(
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("embeddings.vec_id->documents", "embeddings", "vec_id", "documents", "doc_id"),
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey")
  )

  /** pipe05: referential-integrity audit — the data-quality gate a
    * pipeline runs before trusting joins (the reference's analogue:
    * `/db-info/test`'s per-table SUCCESS probe, generalized to the
    * relationships). One row per FK edge: non-null child rows, null
    * FKs, and orphans (non-null FKs with no parent key).
    *
    * Scale: each edge is one left-anti join on its key — Catalyst
    * broadcasts dimension-sized parents and shuffle-antis fact-sized
    * ones (orders ⋈ lineitem at 100 TB); the per-edge outputs are
    * 1-row aggregates unioned into an edges-sized report. Null FKs
    * are excluded from the anti-join input (a NULL key would never
    * match and would misreport as an orphan).
    */
  private val integrityAudit: Q = (s, dir) => {
    val t = Tables(s, dir)
    def table(n: String): DataFrame = if (n == "events") t.events else t.t(n)
    val reports = fkEdges.map { case (edge, child, fk, parent, key) =>
      val c = table(child)
      val totals = c.agg(
        count(col(fk)).as("n_rows"),
        sum(when(col(fk).isNull, 1L).otherwise(0L)).as("n_null_fk")
      )
      val orphans = c
        .filter(col(fk).isNotNull)
        .select(col(fk))
        .join(table(parent).select(col(key)), col(fk) === col(key), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      totals
        .crossJoin(orphans)
        .select(
          lit(edge).as("edge"),
          col("n_rows"),
          coalesce(col("n_null_fk"), lit(0L)).as("n_null_fk"),
          col("n_orphans")
        )
    }
    reports.reduce(_ unionByName _).orderBy("edge")
  }

  /** Shared mm05/mm06/mm07 oracle CTEs: the dHash sketch + band keys
    * reconstructed in SQL over an arbitrary `(doc_id, text)` source
    * (keep in lockstep with [[Multimodal.dHash64]] and
    * [[mediaSketch]]); `n_bytes` rides along for mm07's survivor
    * rule.
    */
  private def mmSketchSql(src: String): String = {
    val bit = (0 until 64)
      .map { i =>
        s"""(CASE WHEN ascii(substr(text, 1 + ($i*(L-1))//64, 1))
           |  < ascii(substr(text, 1 + (${i + 1}*(L-1))//64, 1))
           |  THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)""".stripMargin
      }
      .mkString("(", " + ", ")")
    s"""WITH t AS (SELECT doc_id, text, length(text) AS L
       |           FROM ($src)),
       |p AS (SELECT doc_id AS media_id,
       |        ['jpeg','png','webp'][CAST(doc_id % 3 AS INT) + 1] AS format,
       |        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |        $bit AS phash
       |      FROM t),
       |sk AS (SELECT media_id, format, n_bytes, phash,
       |  (phash >> 0) & 65535 AS band0,
       |  (phash >> 16) & 65535 AS band1,
       |  (phash >> 32) & 65535 AS band2,
       |  (phash >> 48) & 65535 AS band3
       |FROM p)""".stripMargin
  }

  private def mm05SketchSql: String =
    mmSketchSql("SELECT doc_id, text FROM documents")

  /** mm07's corpus: documents plus a deterministic "re-encode wave" —
    * every doc_id ≡ 0 (mod 5) re-enters under id + 10⁹ with its first
    * character replaced (same length, so the dHash grid shifts by at
    * most the one sample touching position 1 → Hamming ≤ 1).
    */
  private def mm07CorpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000000, 'A' || substr(text, 2)
      |FROM documents WHERE doc_id % 5 = 0""".stripMargin

  private def integrityOracleSql: String =
    fkEdges
      .map { case (edge, child, fk, parent, key) =>
        s"""SELECT '$edge' AS edge,
           |  (SELECT CAST(COUNT($fk) AS BIGINT) FROM $child) AS n_rows,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $child
           |     WHERE $fk IS NULL) AS n_null_fk,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $child c
           |     WHERE c.$fk IS NOT NULL AND NOT EXISTS
           |       (SELECT 1 FROM $parent p WHERE p.$key = c.$fk))
           |    AS n_orphans""".stripMargin
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY edge")

  val queries: Map[String, Q] = named(
    "pipe05_integrity" -> integrityAudit,
    "q61_range_frame" -> rangeFrame,
    "q60_sql_lateral" -> sqlLateral,
    "mm04_pairing" -> mmPairing,
    "pipe02_shard_write" -> shardWrite,
    "q58_corpus_shuffle" -> corpusShuffle,
    "q59_mixture_epochs" -> mixtureEpochs,
    "q57_hll_distinct" -> hllDistinct,
    "q56_weighted_sample" -> weightedSample,
    "q55_stratified_sample" -> stratifiedSample,
    "q84_neyman_sample" -> neymanSample,
    "info01_table_counts" -> tableCounts,
    "metrics01_doc" -> metricsDoc,
    "mm01_media_meta" -> mediaMeta,
    "mm03_decode_stats" -> decodeStats,
    "mm05_media_phash" -> mediaPhash,
    "mm06_phash_pairs" -> mediaPhashPairs,
    "mm07_phash_clusters" -> mediaPhashClusters,
    "q80_udtf_shingles" -> udtfShingles,
    "q53_sql_exists" -> sqlExists,
    "q54_hash_split" -> hashSplit
  )

  val oracle: Map[String, String] = named(
    "pipe05_integrity" -> integrityOracleSql,
    "q61_range_frame" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
        |  ) AS DOUBLE) AS sum_7d
        |FROM events
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
    "q60_sql_lateral" ->
      """SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
        |FROM orders o,
        |LATERAL (
        |  SELECT l_linenumber, l_extendedprice
        |  FROM lineitem
        |  WHERE l_orderkey = o.o_orderkey
        |  ORDER BY l_extendedprice DESC, l_linenumber
        |  LIMIT 2
        |) l
        |WHERE o.o_orderdate >= DATE '1995-01-01'
        |  AND o.o_orderdate < DATE '1995-02-01'
        |ORDER BY o.o_orderkey, l.l_extendedprice DESC, l.l_linenumber""".stripMargin,
    "mm04_pairing" ->
      """SELECT d.source, COUNT(*) AS n_docs,
        |  COUNT(e.vec_id) AS n_paired,
        |  CAST(COUNT(e.vec_id) AS DOUBLE) / COUNT(*) AS coverage
        |FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q58_corpus_shuffle" -> {
      val hShard = graft.functions.PortableHash
        .sqlH32("CAST(doc_id AS VARCHAR)", 5801)
      val hPos = graft.functions.PortableHash
        .sqlH32("CAST(doc_id AS VARCHAR)", 5802)
      s"""WITH t AS (SELECT doc_id, $hShard % $nShards AS shard,
         |             $hPos AS pos_key FROM documents)
         |SELECT doc_id, shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
         |    ORDER BY pos_key, doc_id) AS INT) AS pos
         |FROM t ORDER BY shard, pos""".stripMargin
    },
    "q59_mixture_epochs" -> {
      val hSrc = graft.functions.PortableHash.sqlH32("source", 5803)
      val hDoc = graft.functions.PortableHash
        .sqlH32("CAST(doc_id AS VARCHAR)", 5804)
      s"""WITH t AS (SELECT doc_id, source,
         |             ($hSrc % 20) // 10 AS w_int,
         |             $hSrc % 10 AS tenths,
         |             $hDoc % 10 AS u
         |           FROM documents),
         |n AS (SELECT doc_id, source,
         |        1 + w_int + CASE WHEN u < tenths THEN 1 ELSE 0 END
         |          AS n_epochs
         |      FROM t)
         |SELECT doc_id, source, CAST(n_epochs AS BIGINT) AS n_epochs,
         |  CAST(epoch AS BIGINT) AS epoch
         |FROM n, unnest(generate_series(1, n_epochs)) AS e(epoch)
         |ORDER BY doc_id, epoch""".stripMargin
    },
    // recomputes the per-shard row counts AND the file counts the
    // bounded writer must have produced (ceil(rows / maxRecordsPerFile))
    "pipe02_shard_write" -> {
      val h = graft.functions.PortableHash
        .sqlH32("CAST(doc_id AS VARCHAR)", 5805)
      s"""SELECT $h % $wShards AS shard, COUNT(*) AS n_docs,
         |  (COUNT(*) + ${maxPerFile - 1}) // $maxPerFile AS n_files
         |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin
    },
    // reconstructs the HLL registers AND estimate from the same md5
    // hashes — decimal literals forced ::DOUBLE so the arithmetic is
    // the identical IEEE expression Spark evaluates (all register
    // terms are powers of two, so the sums are exact on both engines)
    "q57_hll_distinct" -> {
      val h = graft.functions.PortableHash.sqlH32("CAST(user_id AS VARCHAR)")
      """WITH hh AS (SELECT event_type, user_id, HEXPR AS h
        |            FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT event_type, h % 64 AS idx,
        |        MAX(CASE WHEN h // 64 = 0 THEN 27
        |             ELSE bit_count(((h // 64) & -(h // 64)) - 1) + 1
        |            END) AS mx
        |      FROM hh GROUP BY 1, 2),
        |s AS (SELECT event_type,
        |        SUM(1.0::DOUBLE / (1::BIGINT << mx))
        |          + (64 - COUNT(*)) * 1.0::DOUBLE AS ssum
        |      FROM r GROUP BY 1),
        |e AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
        |      FROM hh GROUP BY 1)
        |SELECT e.event_type, e.n_exact,
        |  (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 64.0::DOUBLE)
        |    * 64.0::DOUBLE * 64.0::DOUBLE) / s.ssum AS hll_est
        |FROM e JOIN s USING (event_type)
        |ORDER BY event_type""".stripMargin.replace("HEXPR", h)
    },
    "info01_table_counts" ->
      allTables
        .map(t => s"SELECT '$t' AS table_name, COUNT(*) AS n_rows FROM $t")
        .mkString("", "\nUNION ALL\n", "\nORDER BY table_name"),
    "metrics01_doc" ->
      s"""WITH per AS (
         |  SELECT event_type,
         |    ${Qx.sqlDsum("value")} AS ms, COUNT(*) AS n
         |  FROM events GROUP BY event_type)
         |SELECT event_type,
         |  printf('%.3f', CAST(floor(ms) AS DOUBLE) / 1000.0) AS startup_s,
         |  printf('%.2f', CAST(n * 1024 * 512 AS DOUBLE) / (1024.0 * 1024.0)) AS mem_mb,
         |  printf('%.1f', CAST((n * 1000) // 20000 AS DOUBLE) / 10.0) || '%' AS usage_pct,
         |  CASE WHEN event_type = 'signup' THEN 'Native (GraalVM)' ELSE 'JVM' END
         |    AS image_type,
         |  concat('{"startupTimeSeconds":"',
         |    printf('%.3f', CAST(floor(ms) AS DOUBLE) / 1000.0),
         |    '","memory":{"usedMB":"',
         |    printf('%.2f', CAST(n * 1024 * 512 AS DOUBLE) / (1024.0 * 1024.0)),
         |    '","maxMB":"', printf('%.2f', 1073741824 / (1024.0 * 1024.0)),
         |    '","usagePercent":"',
         |    printf('%.1f', CAST((n * 1024 * 512 * 1000) // 1073741824 AS DOUBLE) / 10.0),
         |    '%"},"jvm":{"imageType":"',
         |    CASE WHEN event_type = 'signup' THEN 'Native (GraalVM)' ELSE 'JVM' END,
         |    '"}}') AS doc
         |FROM per ORDER BY event_type""".stripMargin,
    "mm01_media_meta" ->
      """SELECT doc_id AS media_id,
        |  ['jpeg','png','webp'][CAST(doc_id % 3 AS INT) + 1] AS format,
        |  CAST(64 + (doc_id * 7) % 448 AS INT) AS width,
        |  CAST(64 + (doc_id * 13) % 448 AS INT) AS height,
        |  octet_length(encode(text)) AS n_bytes,
        |  (octet_length(encode(text)) + 255) // 256 AS n_chunks
        |FROM documents ORDER BY media_id""".stripMargin,
    "q80_udtf_shingles" ->
      s"""WITH prep AS (SELECT doc_id,
         |        ${TextQueriesSqlFragments.normSql} AS norm,
         |        string_split(${TextQueriesSqlFragments.normSql}, ' ') AS toks
         |      FROM documents),
         |sh AS (SELECT doc_id,
         |         unnest(${TextQueriesSqlFragments.shinglesSql}) AS sh
         |       FROM prep),
         |i AS (SELECT doc_id,
         |        ${graft.functions.PortableHash.sqlH32("sh")} AS h FROM sh)
         |SELECT doc_id, COUNT(DISTINCT h) AS n_shingles,
         |  MIN(h) AS min_h, MAX(h) AS max_h
         |FROM i GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm05_media_phash" -> s"""$mm05SketchSql
         |SELECT media_id, format, phash, band0, band1, band2, band3
         |FROM sk ORDER BY media_id""".stripMargin,
    "mm06_phash_pairs" ->
      s"""$mm05SketchSql,
         |pairs AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         |    a.phash AS pa, b.phash AS pb
         |  FROM sk a JOIN sk b ON a.media_id < b.media_id
         |   AND (a.band0 = b.band0 OR a.band1 = b.band1
         |     OR a.band2 = b.band2 OR a.band3 = b.band3))
         |SELECT id_a, id_b,
         |  CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming,
         |  bit_count(xor(pa, pb)) <= $PHASH_HAM_T AS is_near
         |FROM pairs ORDER BY id_a, id_b""".stripMargin,
    // the sketch over the planted-copy corpus, near edges, recursive
    // reachability (the dedup06 oracle pattern), and the max-bytes/
    // min-id survivor via a per-cluster row_number
    "mm07_phash_clusters" ->
      s"""${mmSketchSql(mm07CorpusSql).replaceFirst("WITH ", "WITH RECURSIVE ")},
         |near AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
         |  FROM sk a JOIN sk b ON a.media_id < b.media_id
         |   AND (a.band0 = b.band0 OR a.band1 = b.band1
         |     OR a.band2 = b.band2 OR a.band3 = b.band3)
         |  WHERE bit_count(xor(a.phash, b.phash)) <= $PHASH_HAM_T),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM near
         |          UNION ALL SELECT id_b, id_a FROM near),
         |reach(id, lbl) AS (
         |  SELECT media_id, media_id FROM sk
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
         |cl AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
         |rk AS (SELECT cl.cluster_id, cl.id, sk.format, sk.n_bytes,
         |         row_number() OVER (PARTITION BY cl.cluster_id
         |           ORDER BY sk.n_bytes DESC, cl.id) AS rn
         |       FROM cl JOIN sk ON sk.media_id = cl.id)
         |SELECT cluster_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_members,
         |  CAST(COUNT(DISTINCT format) AS BIGINT) AS n_formats,
         |  MIN(CASE WHEN rn = 1 THEN id END) AS survivor_id
         |FROM rk GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "mm03_decode_stats" ->
      """WITH h AS (SELECT doc_id AS media_id,
        |             CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |             hex(encode(text)) AS hx
        |           FROM documents)
        |SELECT media_id, n_bytes,
        |  CAST(COALESCE(list_aggregate(
        |    list_transform(range(0, n_bytes),
        |      i -> CAST(('0x' || substring(hx, i*2 + 1, 2)) AS BIGINT)),
        |    'sum'), 0) AS BIGINT) AS checksum,
        |  CAST((n_bytes + 255) // 256 AS INT) AS n_frames
        |FROM h ORDER BY media_id""".stripMargin,
    "q53_sql_exists" ->
      """SELECT c.c_custkey, c.c_name,
        |       EXISTS (SELECT 1 FROM orders o
        |               WHERE o.o_custkey = c.c_custkey
        |                 AND o.o_totalprice > 300000) AS has_big_order
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F'
        |                    AND o.o_totalprice < 1000)
        |ORDER BY c.c_custkey""".stripMargin,
    "q84_neyman_sample" -> {
      val hSql =
        graft.functions.PortableHash.sqlH32("CAST(doc_id AS VARCHAR)")
      s"""WITH st AS (
         |  SELECT source, COUNT(*) AS nh,
         |    CAST(SUM(n_chars) AS BIGINT) AS sy,
         |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS syy
         |  FROM documents GROUP BY source),
         |w AS (SELECT source, nh,
         |        CAST(sqrt(CAST(nh * syy - sy * sy AS DOUBLE))
         |          AS DECIMAL(18,6)) AS wt
         |      FROM st),
         |sh AS (SELECT source, nh,
         |         (${NEY_N}.0 * CAST(wt AS DOUBLE))
         |           / CAST(SUM(wt) OVER () AS DOUBLE) AS share
         |       FROM w),
         |b AS (SELECT source, nh,
         |        CAST(floor(share) AS BIGINT) AS base,
         |        share - floor(share) AS frac
         |      FROM sh),
         |a AS (SELECT source, nh, base, frac,
         |        ROW_NUMBER() OVER (ORDER BY frac DESC, source) AS rnk,
         |        $NEY_N - CAST(SUM(base) OVER () AS BIGINT) AS rem
         |      FROM b),
         |alloc AS (SELECT source,
         |            least(base + CASE WHEN rnk <= rem THEN 1 ELSE 0 END,
         |                  nh) AS n_h
         |          FROM a),
         |r AS (SELECT source, doc_id,
         |        ROW_NUMBER() OVER (PARTITION BY source
         |          ORDER BY $hSql, doc_id) AS rk
         |      FROM documents)
         |SELECT r.source, alloc.n_h, r.doc_id, CAST(r.rk AS INT) AS rk
         |FROM r JOIN alloc ON alloc.source = r.source
         |WHERE r.rk <= alloc.n_h
         |ORDER BY r.source, rk""".stripMargin
    },
    "q55_stratified_sample" -> {
      val hSql =
        graft.functions.PortableHash.sqlH32("CAST(doc_id AS VARCHAR)")
      s"""WITH r AS (
         |  SELECT source, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY $hSql, doc_id) AS rk
         |  FROM documents)
         |SELECT source, doc_id, CAST(rk AS INT) AS rk FROM r
         |WHERE rk <= 20 ORDER BY source, rk""".stripMargin
    },
    "q56_weighted_sample" -> {
      val hSql =
        graft.functions.PortableHash.sqlH32("CAST(doc_id AS VARCHAR)")
      s"""WITH r AS (
         |  SELECT source, doc_id, n_chars,
         |    CAST($hSql AS DOUBLE) / CAST(n_chars AS DOUBLE) AS priority,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY CAST($hSql AS DOUBLE) / CAST(n_chars AS DOUBLE),
         |               doc_id) AS rk
         |  FROM documents WHERE n_chars > 0)
         |SELECT source, doc_id, n_chars, priority, CAST(rk AS INT) AS rk
         |FROM r WHERE rk <= 15 ORDER BY source, rk""".stripMargin
    },
    "q54_hash_split" -> {
      val bucketSql =
        s"${graft.functions.PortableHash.sqlH32("CAST(doc_id AS VARCHAR)")} % 100"
      s"""SELECT source,
         |  CASE WHEN $bucketSql < 90 THEN 'train' ELSE 'eval' END AS split,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
         |    AS n_tokens
         |FROM documents GROUP BY 1, 2 ORDER BY source, split""".stripMargin
    }
  )
}
