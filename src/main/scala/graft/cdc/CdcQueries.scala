package graft.cdc

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC surface wired to the driver's `events` fixture, so the
  * materializer semantics are oracle-checked at every round.
  *
  * Event mapping (deterministic reinterpretation of the fixture as a
  * change log over keys = user_id): `signup` ⇒ I, `click|view|purchase`
  * ⇒ U, `error` ⇒ D; payload = (event_type, value); ordering =
  * (ts, event_id).
  */
object CdcQueries extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** events fixture → ChangeEvent-shaped log. */
  def changeLog(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events.select(
      when(col("event_type") === "signup", lit("I"))
        .when(col("event_type") === "error", lit("D"))
        .otherwise(lit("U"))
        .as("op"),
      col("user_id").as("id"),
      col("event_type").as("content"),
      col("value"),
      col("ts"),
      col("event_id").as("seq")
    )

  private val materializeState: Q = (s, dir) =>
    Materializer
      .materialize(changeLog(s, dir))
      .orderBy("id")

  private val stateCount: Q = (s, dir) =>
    Materializer
      .materialize(changeLog(s, dir))
      .agg(count(lit(1)).as("n_live_keys"))

  /** P1 point lookup against materialized state (0-or-1 contract). */
  private val statePointLookup: Q = (s, dir) =>
    Materializer
      .materialize(changeLog(s, dir))
      .filter(col("id") === 7L)

  /** Replay of the reference's import.sql seed through MessageStore
    * (ignores sfDir — the fixture is the reference's own seed data). */
  private val seedReplay: Q = (s, _) => {
    val store = MessageStore.fromSeed(s)
    store.state.orderBy("id").toDF()
  }

  /** CRUD sequence through the typed API: save, update, update-absent
    * (no-op), delete, delete-absent (idempotent) — final state. */
  private val crudReplay: Q = (s, _) => {
    val store = MessageStore
      .fromSeed(s)
      .save(graft.Schemas.Message(6L, "new row"))
      .update(2L, "updated content")
      .update(99L, "ghost")
      .delete(4L)
      .delete(99L)
    store.state.orderBy("id").toDF()
  }

  /** Batch key assignment (SURVEY §7.4.1): replay the fixture's
    * signup events as keyless INSERTs against the seeded state —
    * each gets the dense id a DB sequence would have issued
    * (max(existing) + rank under (ts, event_id)).
    */
  private val keyAssign: Q = (s, dir) => {
    val store = MessageStore.fromSeed(s)
    val inserts = Tables(s, dir).events
      .filter(col("event_type") === "signup")
      .select(
        concat(lit("signup:"), col("user_id")).as("content"),
        col("ts"),
        col("event_id").as("seq")
      )
    val assigned =
      Materializer.assignIds(inserts, store.state.toDF(), "id", "ts", "seq")
    store.state
      .toDF()
      .select("id", "content")
      .unionByName(assigned.select("id", "content"))
      .orderBy("id")
  }

  /** SCD2 history from the change log: each I/U event opens a
    * validity interval [ts, next event's ts) for its key — the
    * standard type-2 dimension a warehouse derives from CDC; a D
    * event closes the previous interval and opens none (the key has
    * no live row until the next I/U). `is_current` marks rows whose
    * interval is open AND not terminated by a delete. One window
    * pass per key — the same single-shuffle shape as materialize.
    */
  private val scd2: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("id"))
      .orderBy(col("from_us"), col("seq"))
    // to_us is computed over ALL events (deletes included) so a D
    // event closes its predecessor's interval, then D rows drop out
    val log = changeLog(s, dir)
      .select(
        col("id"),
        col("op"),
        col("content"),
        col("value"),
        unix_micros(col("ts")).as("from_us"),
        col("seq")
      )
      .withColumn("to_us", lead(col("from_us"), 1).over(w))
    log
      .filter(col("op") =!= "D")
      .select(
        col("id"),
        col("content"),
        col("value"),
        col("from_us").as("valid_from_us"),
        col("to_us").as("valid_to_us"),
        col("to_us").isNull.as("is_current"),
        col("seq").as("version_seq")
      )
      .orderBy("id", "valid_from_us", "version_seq")
  }

  /** Incremental materialized-aggregate maintenance (retract-stream
    * algebra): maintain `GROUP BY content → (count, sum(value))` over
    * the LIVE state purely from change-event deltas, never touching
    * the materialized table. Each event retracts the key's previously
    * visible row (−1, −value) and adds its new visible row (+1,
    * +value); a D adds nothing, an event after a D retracts nothing.
    * The maintained view is then just SUM over deltas per group —
    * the standard incremental-view-maintenance / changelog-to-agg
    * shape (what a streaming sink would apply batch-by-batch).
    *
    * Exactness: deltas sum in DECIMAL(18,2) (per [[Qx.dsum]]) so every
    * retraction cancels its addition bit-for-bit regardless of
    * aggregation order — a double sum of +x/−x terms would drift.
    * Shape at scale: ONE keyed window shuffle (same as materialize)
    * + one dense-key hash aggregate with map-side partials; group
    * cardinality = distinct `content`, so the final agg is tiny.
    */
  private val aggMaintain: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id")).orderBy(col("ts"), col("seq"))
    val dec = (c: org.apache.spark.sql.Column) =>
      c.cast(org.apache.spark.sql.types.DecimalType(18, 2))
    val deltas = changeLog(s, dir)
      .select(col("id"), col("op"), col("content"), col("value"),
        col("ts"), col("seq"))
      .withColumn("prev_op", lag(col("op"), 1).over(w))
      .withColumn("prev_content", lag(col("content"), 1).over(w))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .select(
        explode(
          array(
            when(
              col("prev_op").isNotNull && col("prev_op") =!= "D",
              struct(
                col("prev_content").as("g"),
                lit(-1L).as("dn"),
                (-dec(col("prev_value"))).as("dv")
              )
            ),
            when(
              col("op") =!= "D",
              struct(
                col("content").as("g"),
                lit(1L).as("dn"),
                dec(col("value")).as("dv")
              )
            )
          )
        ).as("d")
      )
      .filter(col("d").isNotNull)
    deltas
      .groupBy(col("d.g").as("content"))
      .agg(
        sum(col("d.dn")).as("n_rows"),
        sum(col("d.dv")).cast("double").as("sum_value")
      )
      .filter(col("n_rows") > 0)
      .orderBy("content")
  }

  /** Point-in-time cutoffs for cdc09/cdc10 — inside the fixture's
    * event window (Jan 2024) at every SF, so both queries bind.
    */
  private val asOfT = "2024-01-15 00:00:00"
  private val diffT1 = "2024-01-10 00:00:00"
  private val diffT2 = "2024-01-20 00:00:00"

  /** Materialized state AS OF a cutoff: latest-wins over only the
    * events at or before it — time travel over the change log (what a
    * warehouse answers with AS OF T, recovered here from raw CDC
    * without any snapshot having been taken). Same single keyed
    * window shuffle as materialize; the cutoff filter is pushed into
    * the scan.
    */
  private def stateAsOf(s: SparkSession, dir: String, cutoff: String) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("id"))
      .orderBy(col("ts").desc, col("seq").desc)
    changeLog(s, dir)
      .filter(col("ts") <= lit(cutoff).cast("timestamp"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op") =!= "D")
      .select(col("id"), col("content"), col("value"))
  }

  private val timeTravel: Q = (s, dir) =>
    stateAsOf(s, dir, asOfT).orderBy("id")

  /** State DIFF between two points in time: which keys appeared,
    * changed, or vanished between T1 and T2 — the audit query a CDC
    * store answers without any snapshots, built from two as-of
    * states full-outer-joined on the key. `change_op` classifies:
    * I (absent → present), U (present both sides, payload differs),
    * D (present → absent); unchanged keys drop out. Null-safe
    * comparison (`<=>`) so a NULL payload change still classifies.
    */
  private val stateDiff: Q = (s, dir) => {
    val s1 = stateAsOf(s, dir, diffT1)
      .select(col("id"), col("content").as("old_content"),
        col("value").as("old_value"))
    val s2 = stateAsOf(s, dir, diffT2)
      .select(col("id"), col("content").as("new_content"),
        col("value").as("new_value"))
    s1.join(s2, Seq("id"), "full_outer")
      .withColumn(
        "change_op",
        when(col("old_content").isNull && col("new_content").isNotNull, "I")
          .when(col("old_content").isNotNull && col("new_content").isNull, "D")
          .when(
            !(col("old_content") <=> col("new_content")) ||
              !(col("old_value") <=> col("new_value")),
            "U"
          )
      )
      .filter(col("change_op").isNotNull)
      .select(col("id"), col("change_op"), col("old_content"),
        col("old_value"), col("new_content"), col("new_value"))
      .orderBy("id")
  }

  /** cdc11: log compaction behind a retention watermark — the
    * Kafka-compacted-topic / snapshot-plus-tail maintenance a CDC
    * store runs so the log doesn't grow with history. Events at or
    * before the watermark collapse to ONE latest-wins row per key
    * (the same keyed window as materialize, cutoff filter pushed to
    * the scan); a key whose prefix winner is a tombstone vanishes
    * entirely — by the watermark contract nothing older can still
    * arrive, so no replayer needs the D row to suppress anything.
    * Events after the watermark are retained raw. Replaying the
    * compacted log therefore lands on exactly the full log's
    * materialized state (pinned in CompactionSpec), while storage
    * drops from O(history) to O(live keys at watermark + tail).
    */
  private val compactW = asOfT
  private val compaction: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val log = changeLog(s, dir)
    val cut = lit(compactW).cast("timestamp")
    val w = Window
      .partitionBy(col("id"))
      .orderBy(col("ts").desc, col("seq").desc)
    val compactedPrefix = log
      .filter(col("ts") <= cut)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op") =!= "D")
      .drop("__rn")
    compactedPrefix
      .unionByName(log.filter(col("ts") > cut))
      .orderBy("seq")
  }

  /** cdc14: Debezium-envelope JSON decode → materialized state. The
    * wire format a real CDC pipeline ingests is not a typed change
    * log but a Kafka topic of JSON envelopes
    * (`{"op":"c|u|d","before":…,"after":…,"source":{…},"ts_us":…}` —
    * Debezium's event shape); this operator exercises the full
    * decode contract: ENCODE the fixture log into envelope strings
    * (deletes carry only `before` with the key, creates/updates only
    * `after` — `to_json` omits the null side, as Debezium does),
    * DECODE with an explicit schema (`from_json` — schema-on-read,
    * no inference pass), map c/u/d back to I/U/D, recover the key
    * from whichever side is present, and run latest-wins
    * materialization on the envelope's own (ts_us, lsn) ordering.
    * Result ≡ cdc01 on the same fixture by construction — which is
    * exactly the property a decode stage must preserve.
    *
    * Scale shape: encode+decode are map-side row expressions (one
    * Jackson parse per row against a fixed schema — no sampling/
    * inference job); the only shuffle is the materializer's hash
    * partition on the key. ts_us (micros), not Debezium's classic
    * ts_ms: the fixture carries sub-millisecond event times and
    * truncation would re-order same-ms ties differently than the
    * typed path.
    */
  private val envelopeDecode: Q = (s, dir) => {
    val log = changeLog(s, dir)
    val env = log.select(
      to_json(
        struct(
          when(col("op") === "I", lit("c"))
            .when(col("op") === "D", lit("d"))
            .otherwise(lit("u"))
            .as("op"),
          when(col("op") === "D", struct(col("id"))).as("before"),
          when(
            col("op") =!= "D",
            struct(col("id"), col("content"), col("value"))
          ).as("after"),
          struct(lit("events").as("table"), col("seq").as("lsn"))
            .as("source"),
          unix_micros(col("ts")).as("ts_us")
        )
      ).as("payload")
    )
    val envSchema =
      "op STRING, before STRUCT<id: BIGINT>, " +
        "after STRUCT<id: BIGINT, content: STRING, value: DOUBLE>, " +
        "source STRUCT<table: STRING, lsn: BIGINT>, ts_us BIGINT"
    val dec = env
      .select(
        from_json(
          col("payload"),
          org.apache.spark.sql.types.StructType.fromDDL(envSchema)
        ).as("e")
      )
      .select(
        when(col("e.op") === "c", lit("I"))
          .when(col("e.op") === "d", lit("D"))
          .otherwise(lit("U"))
          .as("op"),
        coalesce(col("e.after.id"), col("e.before.id")).as("id"),
        col("e.after.content").as("content"),
        col("e.after.value").as("value"),
        col("e.ts_us").as("ts_us"),
        col("e.source.lsn").as("seq")
      )
    Materializer
      .materialize(dec, tsCol = "ts_us")
      .orderBy("id")
  }

  /** cdc17: per-key hash chain over the change log — the tamper-
    * evidence a replicated CDC pipeline carries so a replica can prove
    * it applied exactly the source's op sequence (a blockchain-shaped
    * fold, Debezium-to-audit-log shape): for each key, fold
    * [[graft.functions.PortableHash]] over the (ts, seq)-ordered ops —
    * chain = h32(...h32(r₁ ‖ r₂) ‖ r₃...) where rᵢ renders
    * (op, content, seq) — so any dropped, duplicated, reordered, or
    * altered op changes the key's final chain value. The gate compares
    * chains computed by two INDEPENDENT engines from the same log: the
    * strongest possible replay-integrity statement the harness can
    * make. `value` stays out of the render (float formatting is not
    * cross-engine stable); `ts` orders but does not render (timestamp
    * formatting likewise).
    *
    * Shape at scale: one hash shuffle on the key; each key's fold is a
    * bounded array HOF (ops-per-key, the materializer's own bound) —
    * no iteration, no driver state. Verifying a replica = running the
    * same one-aggregation query there and diffing two chain columns.
    */
  /** The ONE definition of cdc17's chain pieces, shared with the
    * streaming face ([[graft.streaming.StreamHashChain]]) so the
    * advertised replay ≡ batch invariant is structural, not a
    * hand-synced copy: the render (value/ts excluded — their
    * formatting is not cross-engine stable; NULL content skipped by
    * concat_ws on both engines), the left fold over renders with a
    * caller-supplied accumulator seed (the batch face seeds "", the
    * streaming face seeds the carried tail), and the closing seal.
    */
  private[graft] def chainRender(x: Column): Column =
    concat_ws(
      "|",
      x.getField("op"),
      x.getField("content"),
      x.getField("seq").cast("string")
    )

  private[graft] def chainFold(ops: Column, seed: Column): Column =
    aggregate(
      transform(ops, chainRender(_)),
      seed,
      (acc, x) =>
        when(acc === "", x).otherwise(
          graft.functions.PortableHash
            .h32(concat(acc, lit(" "), x))
            .cast("string")
        )
    )

  private[graft] def chainSeal(tail: Column): Column =
    graft.functions.PortableHash.h32(tail)

  private val hashChain: Q = (s, dir) => {
    val log = changeLog(s, dir)
    val rendered = log.select(
      col("id"),
      struct(col("ts"), col("seq"), col("op"), col("content")).as("r")
    )
    rendered
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_ops"),
        sort_array(collect_list(col("r"))).as("ops")
      )
      .select(
        col("id"),
        col("n_ops"),
        chainFold(col("ops"), lit("")).as("tail")
      )
      .select(col("id"), col("n_ops"), chainSeal(col("tail")).as("chain"))
      .orderBy("id")
  }

  val queries: Map[String, Q] = named(
    "cdc17_hash_chain" -> hashChain,
    "cdc14_envelope" -> envelopeDecode,
    "cdc11_compaction" -> compaction,
    "cdc09_time_travel" -> timeTravel,
    "cdc10_state_diff" -> stateDiff,
    "cdc01_materialize" -> materializeState,
    "cdc02_state_count" -> stateCount,
    "cdc03_point_lookup" -> statePointLookup,
    "cdc04_seed_replay" -> seedReplay,
    "cdc05_crud_replay" -> crudReplay,
    "cdc06_key_assign" -> keyAssign,
    "cdc07_scd2" -> scd2,
    "cdc08_agg_maintain" -> aggMaintain
  )

  private[graft] val latestSql =
    """SELECT user_id AS id, event_type AS content, value
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      |WHERE rn = 1 AND event_type <> 'error'""".stripMargin

  /** [[latestSql]] restricted to events at or before a cutoff. */
  private def latestAtSql(cutoff: String) =
    s"""SELECT user_id AS id, event_type AS content, value
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |        ORDER BY ts DESC, event_id DESC) AS rn FROM events
       |      WHERE ts <= TIMESTAMP '$cutoff')
       |WHERE rn = 1 AND event_type <> 'error'""".stripMargin

  private val logSql =
    """SELECT CASE WHEN event_type = 'signup' THEN 'I'
      |         WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |  user_id AS id, event_type AS content, value, ts,
      |  event_id AS seq
      |FROM events""".stripMargin

  val oracle: Map[String, String] = named(
    // the same fold from first principles: structs sort by (ts, seq)
    // in both engines, renders drop ts/value (format-unstable), the
    // chain folds left with the first render as the seed
    "cdc17_hash_chain" -> {
      val h = (e: String) => graft.functions.PortableHash.sqlH32(e)
      s"""WITH log AS ($logSql),
         |g AS (
         |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_ops,
         |    list_transform(
         |      list_sort(list(struct_pack(ts := ts, seq := seq,
         |                                 op := op, content := content))),
         |      x -> concat_ws('|', x.op, x.content,
         |                     CAST(x.seq AS VARCHAR))) AS rs
         |  FROM log GROUP BY id),
         |t AS (
         |  SELECT id, n_ops,
         |    list_reduce(rs, (acc, x) ->
         |      CAST(${h("concat(acc, ' ', x)")} AS VARCHAR)) AS tail
         |  FROM g)
         |SELECT id, n_ops, ${h("tail")} AS chain
         |FROM t ORDER BY id""".stripMargin
    },
    // the oracle builds and parses ITS OWN envelopes (DuckDB json_*):
    // each engine must round-trip the payload through real JSON —
    // string-identical wire bytes are not required (key order/number
    // repr differ), value-identical decode is
    "cdc14_envelope" ->
      s"""WITH log AS ($logSql),
         |env AS (SELECT json_object(
         |    'op', CASE op WHEN 'I' THEN 'c' WHEN 'D' THEN 'd'
         |                  ELSE 'u' END,
         |    'before', CASE WHEN op = 'D'
         |      THEN json_object('id', id) END,
         |    'after', CASE WHEN op <> 'D'
         |      THEN json_object('id', id, 'content', content,
         |                       'value', value) END,
         |    'source', json_object('table', 'events', 'lsn', seq),
         |    'ts_us', epoch_us(ts)) AS p
         |  FROM log),
         |dec AS (SELECT
         |    CASE json_extract_string(p, '$$.op')
         |      WHEN 'c' THEN 'I' WHEN 'd' THEN 'D' ELSE 'U' END AS op,
         |    COALESCE(CAST(json_extract(p, '$$.after.id') AS BIGINT),
         |             CAST(json_extract(p, '$$.before.id') AS BIGINT))
         |      AS id,
         |    json_extract_string(p, '$$.after.content') AS content,
         |    CAST(json_extract(p, '$$.after.value') AS DOUBLE) AS value,
         |    CAST(json_extract(p, '$$.ts_us') AS BIGINT) AS ts_us,
         |    CAST(json_extract(p, '$$.source.lsn') AS BIGINT) AS seq
         |  FROM env)
         |SELECT id, content, value
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
         |        ORDER BY ts_us DESC, seq DESC) AS rn FROM dec)
         |WHERE rn = 1 AND op <> 'D'
         |ORDER BY id""".stripMargin,
    "cdc11_compaction" ->
      s"""WITH log AS ($logSql),
         |pre AS (SELECT op, id, content, value, ts, seq
         |        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
         |                ORDER BY ts DESC, seq DESC) AS rn
         |              FROM log WHERE ts <= TIMESTAMP '$compactW')
         |        WHERE rn = 1 AND op <> 'D')
         |SELECT * FROM pre
         |UNION ALL
         |SELECT op, id, content, value, ts, seq FROM log
         |WHERE ts > TIMESTAMP '$compactW'
         |ORDER BY seq""".stripMargin,
    "cdc01_materialize" -> (latestSql + "\nORDER BY id"),
    "cdc02_state_count" ->
      s"SELECT COUNT(*) AS n_live_keys FROM ($latestSql)",
    "cdc03_point_lookup" ->
      s"SELECT * FROM ($latestSql) WHERE id = 7",
    "cdc04_seed_replay" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'Hello from Quarkus Cloud Run!'),
        |  (CAST(2 AS BIGINT), 'Testing JVM vs Native performance'),
        |  (CAST(3 AS BIGINT), 'Direct connection to Cloud SQL'),
        |  (CAST(4 AS BIGINT), 'Using PgBouncer for connection pooling'),
        |  (CAST(5 AS BIGINT), 'Jib makes container builds easy!')
        |) AS t(id, content) ORDER BY id""".stripMargin,
    "cdc05_crud_replay" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'Hello from Quarkus Cloud Run!'),
        |  (CAST(2 AS BIGINT), 'updated content'),
        |  (CAST(3 AS BIGINT), 'Direct connection to Cloud SQL'),
        |  (CAST(5 AS BIGINT), 'Jib makes container builds easy!'),
        |  (CAST(6 AS BIGINT), 'new row')
        |) AS t(id, content) ORDER BY id""".stripMargin,
    "cdc06_key_assign" ->
      """SELECT id, content FROM (
        |  SELECT * FROM (VALUES
        |    (CAST(1 AS BIGINT), 'Hello from Quarkus Cloud Run!'),
        |    (CAST(2 AS BIGINT), 'Testing JVM vs Native performance'),
        |    (CAST(3 AS BIGINT), 'Direct connection to Cloud SQL'),
        |    (CAST(4 AS BIGINT), 'Using PgBouncer for connection pooling'),
        |    (CAST(5 AS BIGINT), 'Jib makes container builds easy!')
        |  ) AS t(id, content)
        |  UNION ALL
        |  SELECT CAST(5 AS BIGINT) + ROW_NUMBER() OVER (ORDER BY ts, event_id) AS id,
        |         concat('signup:', CAST(user_id AS VARCHAR)) AS content
        |  FROM events WHERE event_type = 'signup'
        |) ORDER BY id""".stripMargin,
    "cdc07_scd2" ->
      """WITH log AS (
        |  SELECT user_id AS id,
        |    CASE WHEN event_type = 'signup' THEN 'I'
        |         WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    event_type AS content, value,
        |    epoch_us(ts) AS from_us, event_id AS seq
        |  FROM events),
        |iv AS (
        |  SELECT *, lead(from_us) OVER (PARTITION BY id
        |    ORDER BY from_us, seq) AS to_us
        |  FROM log)
        |SELECT id, content, value,
        |  from_us AS valid_from_us, to_us AS valid_to_us,
        |  (to_us IS NULL) AS is_current, seq AS version_seq
        |FROM iv WHERE op <> 'D'
        |ORDER BY id, valid_from_us, version_seq""".stripMargin,
    // the oracle RECOMPUTES the aggregate from the materialized state —
    // passing means incremental maintenance ≡ full recompute
    "cdc08_agg_maintain" ->
      s"""SELECT content, COUNT(*) AS n_rows,
         |  ${graft.ops.Qx.sqlDsum("value")} AS sum_value
         |FROM ($latestSql)
         |GROUP BY content ORDER BY content""".stripMargin,
    "cdc09_time_travel" ->
      s"SELECT * FROM (${latestAtSql(asOfT)})\nORDER BY id",
    "cdc10_state_diff" ->
      s"""SELECT * FROM (
         |  SELECT COALESCE(s1.id, s2.id) AS id,
         |    CASE WHEN s1.content IS NULL AND s2.content IS NOT NULL THEN 'I'
         |         WHEN s1.content IS NOT NULL AND s2.content IS NULL THEN 'D'
         |         WHEN s1.content IS DISTINCT FROM s2.content
         |           OR s1.value IS DISTINCT FROM s2.value THEN 'U'
         |    END AS change_op,
         |    s1.content AS old_content, s1.value AS old_value,
         |    s2.content AS new_content, s2.value AS new_value
         |  FROM (${latestAtSql(diffT1)}) s1
         |  FULL JOIN (${latestAtSql(diffT2)}) s2 ON s1.id = s2.id)
         |WHERE change_op IS NOT NULL
         |ORDER BY id""".stripMargin
  )
}
