package graft

/** DuckDB oracle SQL for the §2a event-streaming queries.
  * "partition"/"offset" are quoted — both are DuckDB keywords. */
object OraclesStreams {

  private val part = """user_id % 8"""
  private val dsumVal = "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)"

  /** Count-capped chunk formulation, shared VERBATIM by the v1
    * (flatMapGroupsWithState) and v2 (transformWithState + ListState)
    * gate rows — one constant so the cross-API-equivalence claim
    * can't silently drift. */
  private val chunkSql =
    """WITH o AS (SELECT user_id, ts, event_id,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) - 1 AS rn
      |  FROM events)
      |SELECT user_id, rn // 5 AS chunk_idx, COUNT(*) AS n_events,
      |  MIN(ts) AS start_ts, MAX(ts) AS end_ts,
      |  CAST(SUM(k) AS BIGINT) AS sum_k
      |FROM o GROUP BY user_id, rn // 5 HAVING COUNT(*) = 5
      |ORDER BY user_id, chunk_idx""".stripMargin

  val streams: Map[String, String] = Map(
    // This table is Broker.WireApis — the catalog claims exactly what
    // the wire decodes, no more (the engine derives it from
    // WireServer.Apis; this literal is the independent restatement).
    "broker_api_versions" ->
      """SELECT * FROM (VALUES
        |  (0,'Produce',0,9),(1,'Fetch',0,16),(2,'ListOffsets',0,9),
        |  (3,'Metadata',0,12),(8,'OffsetCommit',0,8),(9,'OffsetFetch',0,9),
        |  (10,'FindCoordinator',0,4),
        |  (11,'JoinGroup',0,9),(12,'Heartbeat',0,4),(13,'LeaveGroup',0,5),
        |  (14,'SyncGroup',0,5),(15,'DescribeGroups',0,5),(16,'ListGroups',0,5),
        |  (17,'SaslHandshake',0,1),
        |  (18,'ApiVersions',0,3),(19,'CreateTopics',0,7),(20,'DeleteTopics',0,6),
        |  (21,'DeleteRecords',0,2),(22,'InitProducerId',0,4),
        |  (23,'OffsetForLeaderEpoch',0,4),
        |  (24,'AddPartitionsToTxn',0,3),(25,'AddOffsetsToTxn',0,3),(26,'EndTxn',0,3),
        |  (28,'TxnOffsetCommit',0,3),(29,'DescribeAcls',0,3),
        |  (30,'CreateAcls',0,3),(31,'DeleteAcls',0,3),
        |  (32,'DescribeConfigs',0,4),
        |  (33,'AlterConfigs',0,2),(35,'DescribeLogDirs',0,0),
        |  (36,'SaslAuthenticate',0,2),(37,'CreatePartitions',0,3),
        |  (38,'CreateDelegationToken',0,3),(39,'RenewDelegationToken',0,2),
        |  (40,'ExpireDelegationToken',0,2),(41,'DescribeDelegationToken',0,3),
        |  (42,'DeleteGroups',0,2),(43,'ElectLeaders',0,0),
        |  (44,'IncrementalAlterConfigs',0,1),
        |  (45,'AlterPartitionReassignments',0,0),
        |  (46,'ListPartitionReassignments',0,0),(47,'OffsetDelete',0,0),
        |  (48,'DescribeClientQuotas',0,1),(49,'AlterClientQuotas',0,1),
        |  (50,'DescribeUserScramCredentials',0,0),
        |  (51,'AlterUserScramCredentials',0,0),
        |  (55,'DescribeQuorum',0,1),(57,'UpdateFeatures',0,1),
        |  (60,'DescribeCluster',0,0),(61,'DescribeProducers',0,0),
        |  (65,'DescribeTransactions',0,0),(66,'ListTransactions',0,0),
        |  (68,'ConsumerGroupHeartbeat',0,1),(69,'ConsumerGroupDescribe',0,0),
        |  (71,'GetTelemetrySubscriptions',0,0),(72,'PushTelemetry',0,0),
        |  (74,'ListClientMetricsResources',0,0),
        |  (75,'DescribeTopicPartitions',0,0),
        |  (76,'ShareGroupHeartbeat',0,0),(77,'ShareGroupDescribe',0,0),
        |  (78,'ShareFetch',0,1),(79,'ShareAcknowledge',0,1),
        |  (90,'DescribeShareGroupOffsets',0,0),
        |  (91,'AlterShareGroupOffsets',0,0),
        |  (92,'DeleteShareGroupOffsets',0,0))
        |  AS t(api_key, api_name, min_version, max_version)
        |ORDER BY api_key""".stripMargin,

    "topic_metadata" ->
      s"""SELECT 'events' AS topic, $part AS "partition",
         |  COUNT(*) AS record_count, COUNT(*) AS log_end_offset
         |FROM events GROUP BY 2 ORDER BY 2""".stripMargin,

    "produce_offsets" ->
      s"""SELECT event_id, $part AS "partition",
         |  CAST(ROW_NUMBER() OVER (PARTITION BY $part ORDER BY event_id) - 1 AS BIGINT) AS "offset"
         |FROM events ORDER BY "partition", "offset"""".stripMargin,

    "consume_fetch" ->
      s"""SELECT "partition", "offset", event_id, event_type, value FROM (
         |  SELECT event_id, event_type, value, $part AS "partition",
         |    CAST(ROW_NUMBER() OVER (PARTITION BY $part ORDER BY event_id) - 1 AS BIGINT) AS "offset"
         |  FROM events) t
         |WHERE "partition" = 3 AND "offset" >= 100 AND "offset" < 200
         |ORDER BY "offset"""".stripMargin,

    // the DSv2 fetch: same log coordinates as consume_fetch, payload
    // decoded from the record model (key=event_id, value=props JSON,
    // headers['event_type'])
    "topic_fetch_pushdown" ->
      s"""SELECT "partition", "offset", event_id, event_type, k FROM (
         |  SELECT event_id, event_type,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
         |    CAST($part AS INTEGER) AS "partition",
         |    CAST(ROW_NUMBER() OVER (PARTITION BY $part ORDER BY event_id) - 1 AS BIGINT) AS "offset"
         |  FROM events) t
         |WHERE "partition" = 3 AND "offset" >= 100 AND "offset" < 200
         |ORDER BY "offset"""".stripMargin,

    "topic_partition_stats" ->
      s"""SELECT "partition", COUNT(*) AS n_records,
         |  MIN("offset") AS first_offset, MAX("offset") AS last_offset
         |FROM (
         |  SELECT CAST($part AS INTEGER) AS "partition",
         |    CAST(ROW_NUMBER() OVER (PARTITION BY $part ORDER BY event_id) - 1 AS BIGINT) AS "offset"
         |  FROM events) t
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "consumer_group_lag" ->
      s"""SELECT $part AS "partition",
         |  COUNT(*) AS log_end_offset,
         |  COUNT(CASE WHEN ts <= cutoff THEN 1 END) AS committed_offset,
         |  COUNT(*) - COUNT(CASE WHEN ts <= cutoff THEN 1 END) AS lag
         |FROM events CROSS JOIN (SELECT MAX(ts) - INTERVAL 3 DAY AS cutoff FROM events) c
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "log_compaction" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |  value AS last_value
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "retention_expiry" ->
      s"""SELECT $part AS "partition",
         |  COUNT(CASE WHEN ts >= cutoff THEN 1 END) AS surviving,
         |  COUNT(CASE WHEN ts < cutoff THEN 1 END) AS expired
         |FROM events CROSS JOIN (SELECT MAX(ts) - INTERVAL 7 DAY AS cutoff FROM events) c
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "stream_tumbling_agg" ->
      s"""SELECT date_trunc('hour', ts) AS ws, event_type,
         |  COUNT(*) AS n, $dsumVal AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    // executed as a REAL stream on the Spark side (AvailableNow drain
    // of the topic); event-time windows + counts are micro-batch-
    // boundary independent, so the drained result must equal this
    // batch GROUP BY — streaming/batch parity as a tested claim
    "stream_exec_tumbling" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    // streaming dropDuplicates (stateful, append mode) must emit each
    // key exactly once across micro-batch boundaries = batch DISTINCT
    "stream_exec_dedup" ->
      """SELECT DISTINCT date_trunc('hour', ts) AS hour, event_type
        |FROM events ORDER BY hour, event_type""".stripMargin,

    // the stream-stream inner join's drained output = the batch
    // self-join (inner-join state holds both sides until matched)
    "stream_exec_join" ->
      """WITH e AS (SELECT event_id, date_trunc('hour', ts) AS hour,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |    event_type
        |  FROM events)
        |SELECT v.hour AS hour, v.k AS k,
        |  v.event_id AS v_id, p.event_id AS p_id
        |FROM e v JOIN e p ON v.hour = p.hour AND v.k = p.k
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |ORDER BY hour, k, v_id, p_id""".stripMargin,

    // dropDuplicatesWithinWatermark: a (hour, type) key's duplicates
    // all sit inside one hour of event time ≪ the 1-day delay, so
    // each key emits exactly once even though its state is EVICTED
    // once the watermark passes — batch DISTINCT with bounded state
    "stream_exec_dedup_watermarked" ->
      """SELECT DISTINCT date_trunc('hour', ts) AS hour, event_type
        |FROM events ORDER BY hour, event_type""".stripMargin,

    // the WATERMARKED interval join (bounded state, the production
    // form): arrival is event-time-ordered per partition and the
    // 1-day delay dwarfs the cross-partition frontier skew, so the
    // watermark admits every row and evicts only un-matchable state —
    // the drained result is exactly the batch interval join
    "stream_exec_join_watermarked" ->
      """WITH e AS (SELECT event_id, ts,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |    event_type
        |  FROM events)
        |SELECT v.k AS k, v.event_id AS v_id, p.event_id AS p_id,
        |  v.ts AS v_ts, p.ts AS p_ts
        |FROM e v JOIN e p ON v.k = p.k
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |ORDER BY k, v_id, p_id""".stripMargin,

    // state API v2 gap detection: the batch lag window — each event
    // arriving > 6 h after the user's previous event is one gap row
    "stream_exec_tws_gaps" ->
      """WITH ev AS (SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us
        |            FROM events),
        |l AS (SELECT user_id, event_id, ts, ts_us,
        |    lag(event_id) OVER w AS prev_id,
        |    lag(ts) OVER w AS prev_ts,
        |    lag(ts_us) OVER w AS prev_us
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT user_id, prev_id, event_id, prev_ts, ts,
        |  ts_us - prev_us AS gap_us
        |FROM l WHERE prev_us IS NOT NULL AND ts_us - prev_us > 21600000000
        |ORDER BY user_id, event_id""".stripMargin,

    // event-time timers: batch 6 h sessionization; every non-final
    // session of a user emits (the input path catches it at the
    // latest), the final one iff its timer expiry
    // (⌊end_µs/1000⌋ + 6 h) is INSIDE-OR-AT the final no-data
    // batch's watermark W_ms = ⌊max_ts_µs/1000⌋ − 1 day — Spark
    // fires timers with expiry ≤ W (inclusive; W + 1 ms holds),
    // empirically bracketed at ±1 ms and re-pinned by
    // StreamExecParitySpec's planted probes. This is a pinned Spark
    // INTERNAL, not a documented contract: re-bracket via those
    // probes on ANY Spark version bump (SURVEY §5.1 checklist)
    // before trusting a gate run
    "stream_exec_tws_timers" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |wm AS (SELECT (SELECT max(us) // 1000 FROM ev) - 86400000 AS wms),
        |b AS (SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w > 21600000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, us,
        |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS session_idx
        |  FROM b),
        |sess AS (SELECT user_id, session_idx,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    MIN(us) AS start_us, MAX(us) AS end_us
        |  FROM s GROUP BY 1, 2),
        |mx AS (SELECT user_id, MAX(session_idx) AS last_idx
        |  FROM sess GROUP BY 1)
        |SELECT sess.user_id, sess.session_idx, sess.n_events,
        |  make_timestamp(start_us) AS start_ts,
        |  make_timestamp(end_us) AS end_ts
        |FROM sess JOIN mx USING (user_id)
        |WHERE session_idx < last_idx
        |   OR end_us // 1000 + 21600000 <= (SELECT wms FROM wm)
        |ORDER BY user_id, session_idx""".stripMargin,

    // the LEFT OUTER watermarked join: matched pairs = the batch
    // interval join; null-padded views = unmatched views whose join
    // horizon (v_ts + 1 h) sits STRICTLY more than 1 ms inside the
    // final watermark W = min(ms-floored per-side max ts) − 1 day —
    // Spark's emission boundary, empirically bracketed at ±1 ms /
    // ±500 µs / ±1 µs / equality and re-pinned by the parity spec
    "stream_exec_outer_join_watermarked" ->
      """WITH e AS (SELECT event_id, ts,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |    event_type
        |  FROM events),
        |v AS (SELECT * FROM e WHERE event_type = 'view'),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |wm AS (SELECT least(
        |    (SELECT epoch_us(MAX(ts)) // 1000 FROM v),
        |    (SELECT epoch_us(MAX(ts)) // 1000 FROM p)) * 1000
        |    - 86400000000 AS w_us),
        |m AS (SELECT v.k, v.event_id AS v_id, p.event_id AS p_id,
        |    v.ts AS v_ts, p.ts AS p_ts
        |  FROM v JOIN p ON v.k = p.k
        |    AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR),
        |um AS (SELECT v.k, v.event_id AS v_id,
        |    CAST(NULL AS BIGINT) AS p_id, v.ts AS v_ts,
        |    CAST(NULL AS TIMESTAMP) AS p_ts
        |  FROM v CROSS JOIN wm
        |  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.k = v.k
        |      AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
        |    AND epoch_us(v.ts) + 3600000000 <= w_us - 1000)
        |SELECT k, v_id, p_id, v_ts, p_ts, p_id IS NOT NULL AS converted
        |FROM (SELECT * FROM m UNION ALL SELECT * FROM um)
        |ORDER BY k, v_id, p_id""".stripMargin,

    // the LEFT SEMI watermarked join: each view emits at most once,
    // on match, with no purchase columns; unmatched views are
    // evicted SILENTLY — so unlike the outer forms there is NO
    // watermark term at all: the drained result is exactly the
    // batch semi interval join
    "stream_exec_semi_join_watermarked" ->
      """WITH e AS (SELECT event_id, ts,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |    event_type
        |  FROM events)
        |SELECT v.k AS k, v.event_id AS v_id, v.ts AS v_ts
        |FROM e v
        |WHERE v.event_type = 'view'
        |  AND EXISTS (SELECT 1 FROM e p WHERE p.event_type = 'purchase'
        |    AND p.k = v.k AND p.ts >= v.ts
        |    AND p.ts <= v.ts + INTERVAL 1 HOUR)
        |ORDER BY k, v_id""".stripMargin,

    // the FULL OUTER watermarked join: matched pairs = the batch
    // interval join; null-padded VIEWS gate on the left-outer
    // boundary (v_ts + 1 h strictly more than 1 ms inside W);
    // null-padded PURCHASES gate on their own state horizon — the
    // last matchable view satisfies v_ts ≤ p_ts, so the horizon is
    // p_ts itself, same strict-ms rounding (planted-probe-pinned in
    // StreamExecParitySpec, round 15)
    "stream_exec_full_outer_join_watermarked" ->
      """WITH e AS (SELECT event_id, ts,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |    event_type
        |  FROM events),
        |v AS (SELECT * FROM e WHERE event_type = 'view'),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |wm AS (SELECT least(
        |    (SELECT epoch_us(MAX(ts)) // 1000 FROM v),
        |    (SELECT epoch_us(MAX(ts)) // 1000 FROM p)) * 1000
        |    - 86400000000 AS w_us),
        |m AS (SELECT v.k, v.event_id AS v_id, p.event_id AS p_id,
        |    v.ts AS v_ts, p.ts AS p_ts
        |  FROM v JOIN p ON v.k = p.k
        |    AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR),
        |uv AS (SELECT v.k, v.event_id AS v_id,
        |    CAST(NULL AS BIGINT) AS p_id, v.ts AS v_ts,
        |    CAST(NULL AS TIMESTAMP) AS p_ts
        |  FROM v CROSS JOIN wm
        |  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.k = v.k
        |      AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
        |    AND epoch_us(v.ts) + 3600000000 <= w_us - 1000),
        |up AS (SELECT p.k, CAST(NULL AS BIGINT) AS v_id,
        |    p.event_id AS p_id, CAST(NULL AS TIMESTAMP) AS v_ts,
        |    p.ts AS p_ts
        |  FROM p CROSS JOIN wm
        |  WHERE NOT EXISTS (SELECT 1 FROM v WHERE v.k = p.k
        |      AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
        |    AND epoch_us(p.ts) <= w_us - 1000)
        |SELECT k, v_id, p_id, v_ts, p_ts, p_id IS NOT NULL AS converted
        |FROM (SELECT * FROM m UNION ALL SELECT * FROM uv
        |      UNION ALL SELECT * FROM up)
        |ORDER BY k, v_id, p_id""".stripMargin,

    // sliding windows as a real drain: each record in TWO windows,
    // reconciled by the state store across batches = the batch
    // double-bucketing; integer k-sums cross engines exactly
    "stream_exec_sliding" ->
      """SELECT ws, event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM (
        |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - g * INTERVAL 30 MINUTE AS ws,
        |         event_type,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events CROSS JOIN (VALUES (0),(1)) AS gg(g)) t
        |GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,

    // watermark-gated session emission, modeled exactly: batch
    // gaps-and-islands sessions (gap of exactly 30 min starts a new
    // session; end = last event + gap), restricted to sessions the
    // FINAL watermark closed — (ms-truncated max event time − 1 day),
    // the value Spark's event-time watermark lands on
    "stream_exec_session_watermarked" ->
      s"""WITH e AS (SELECT user_id % 8 AS "partition",
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k, ts,
         |    event_id
         |  FROM events),
         |-- (ts, event_id): a TOTAL order — the 10× replicas collide at
         |-- identical µs, and a running SUM whose tie order differs from
         |-- the lag window's would split sessions nondeterministically
         |o AS (SELECT "partition", k, ts, event_id,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY "partition", k ORDER BY ts, event_id)),
         |s AS (SELECT "partition", k, ts,
         |    SUM(brk) OVER (PARTITION BY "partition", k ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM o),
         |g AS (SELECT "partition", k, MIN(ts) AS session_start,
         |    MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         |    COUNT(*) AS n_events
         |  FROM s GROUP BY "partition", k, sid),
         |wm AS (SELECT (epoch_us(MAX(ts)) // 1000 - 86400000) * 1000 AS wm_us
         |  FROM events)
         |SELECT "partition", k, session_start, session_end, n_events
         |FROM g, wm WHERE epoch_us(session_end) <= wm_us
         |ORDER BY "partition", k, session_start""".stripMargin,

    // flatMapGroupsWithState custom keyed state (count-capped chunks):
    // the fold replays each user's events in (ts, event_id) order
    // whatever the micro-batch boundaries (one partition per user,
    // prefix admission, in-batch sort), so the drained chunks equal
    // the batch formulation — rank per user, group by rank DIV cap,
    // keep only COMPLETED chunks (the trailing partial stays in state,
    // correctly withheld)
    "stream_exec_custom_state" -> chunkSql,

    // the SAME formulation (one shared constant — divergence is
    // structurally impossible, review catch) gates the ListState
    // re-implementation: the v1 (flatMapGroupsWithState) and v2
    // (transformWithState + ListState buffer) engines must hash to
    // the same chunks, which pins cross-API equivalence on the real
    // corpus
    "stream_exec_tws_chunks" -> chunkSql,

    // MapState running counts: per-(user, type) ordinal in
    // (ts, event_id) order — the batch window formulation of the
    // keyed sub-map fold
    "stream_exec_tws_running" ->
      """SELECT user_id, event_id, event_type,
        |  CAST(row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) AS BIGINT) AS running_n
        |FROM events
        |ORDER BY user_id, event_id""".stripMargin,

    "stream_sliding_agg" ->
      s"""SELECT ws, event_type, COUNT(*) AS n, $dsumVal AS sum_value
         |FROM (
         |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - g * INTERVAL 30 MINUTE AS ws,
         |         event_type, value
         |  FROM events CROSS JOIN (VALUES (0),(1)) AS gg(g)) t
         |GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,

    "list_offsets_for_times" ->
      s"""SELECT $part AS "partition",
         |  COALESCE(MIN(CASE WHEN ts >= target_ts THEN "offset" END), -1) AS offset_for_time,
         |  COUNT(*) AS log_end_offset
         |FROM (
         |  SELECT user_id, ts,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY $part ORDER BY event_id) - 1 AS BIGINT) AS "offset"
         |  FROM events) e
         |CROSS JOIN (SELECT MAX(ts) - INTERVAL 5 DAY AS target_ts FROM events) c
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // merge_asof tolerance: a match older than 1 h is NULLed, the
    // row flagged — exact integer µs post-condition on the same
    // window pass as asof_join
    "asof_join_tolerance" ->
      """SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
        |  CASE WHEN fresh THEN pv_id END AS prev_view_id,
        |  CASE WHEN fresh THEN pv_ts END AS prev_view_ts,
        |  fresh AS matched
        |FROM (
        |  SELECT *, pv_ts IS NOT NULL
        |      AND epoch_us(ts) - epoch_us(pv_ts) <= 3600000000 AS fresh
        |  FROM (
        |    SELECT event_id, user_id, ts, event_type,
        |      last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |        OVER w AS pv_id,
        |      last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
        |        OVER w AS pv_ts
        |    FROM events
        |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) t) u
        |WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,

    "asof_join" ->
      """SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
        |  prev_view_id, prev_view_ts
        |FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |      OVER w AS prev_view_id,
        |    last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
        |      OVER w AS prev_view_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) t
        |WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,

    "asof_join_exec" ->
      """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        |  (SELECT v.event_id FROM events v
        |   WHERE v.user_id = p.user_id AND v.event_type = 'view' AND v.ts < p.ts
        |   ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS prev_view_id,
        |  (SELECT v.ts FROM events v
        |   WHERE v.user_id = p.user_id AND v.event_type = 'view' AND v.ts < p.ts
        |   ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS prev_view_ts
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,

    // forward direction: first purchase AT-OR-AFTER each view
    // (ties: min ts, then min event_id — the exec's sorted-head pick)
    "asof_join_forward" ->
      """SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts,
        |  (SELECT p.event_id FROM events p
        |   WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
        |     AND p.ts >= v.ts
        |   ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS next_purchase_id,
        |  (SELECT p.ts FROM events p
        |   WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
        |     AND p.ts >= v.ts
        |   ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS next_purchase_ts,
        |  (SELECT epoch_us(p.ts) - epoch_us(v.ts) FROM events p
        |   WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
        |     AND p.ts >= v.ts
        |   ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS gap_us
        |FROM events v WHERE v.event_type = 'view'
        |ORDER BY view_id""".stripMargin,

    // nearest as-of: both direction candidates off ONE (ts, event_id)
    // ordered window per user (the exact Spark formulation — NOT the
    // ts-only correlated form, so same-microsecond rows resolve by
    // the identical total order); equal distances prefer backward
    "asof_join_nearest" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, ts,
        |    epoch_us(ts) AS ts_us FROM events),
        |w AS (SELECT *,
        |    last_value(CASE WHEN event_type = 'view' THEN event_id END
        |      IGNORE NULLS) OVER pw AS pv_id,
        |    last_value(CASE WHEN event_type = 'view' THEN ts_us END
        |      IGNORE NULLS) OVER pw AS pv_us,
        |    first_value(CASE WHEN event_type = 'view' THEN event_id END
        |      IGNORE NULLS) OVER nw AS nv_id,
        |    first_value(CASE WHEN event_type = 'view' THEN ts_us END
        |      IGNORE NULLS) OVER nw AS nv_us
        |  FROM ev
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |  nw AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
        |c AS (SELECT *, (pv_us IS NOT NULL AND (nv_us IS NULL
        |      OR ts_us - pv_us <= nv_us - ts_us)) AS tp
        |  FROM w WHERE event_type = 'purchase')
        |SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
        |  CASE WHEN tp THEN pv_id
        |       WHEN nv_us IS NOT NULL THEN nv_id END AS view_id,
        |  CASE WHEN tp THEN pv_us - ts_us
        |       WHEN nv_us IS NOT NULL THEN nv_us - ts_us END AS gap_us,
        |  CASE WHEN tp THEN 'backward'
        |       WHEN nv_us IS NOT NULL THEN 'forward'
        |       ELSE 'none' END AS direction
        |FROM c ORDER BY purchase_id""".stripMargin,

    "json_props_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k,
        |  COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50 THEN 1 END) AS n_high
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "share_group_drain" ->
      """SELECT CAST(user_id % 8 AS BIGINT) AS partition,
        |  COUNT(*) AS spso, CAST(0 AS BIGINT) AS in_flight
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,

    // the describe surface after a full drain: SPSO = the partition's
    // record count, nothing in flight, nothing redeliverable, nothing
    // terminal-unpassed, zero lag — restated as a plain partition
    // count (the engine side must DISCOVER the group from its durable
    // _share dir through a cold Broker registry to serve this)
    "share_group_describe" ->
      """SELECT CAST(user_id % 8 AS BIGINT) AS partition,
        |  COUNT(*) AS spso, CAST(0 AS BIGINT) AS acquired,
        |  CAST(0 AS BIGINT) AS available, CAST(0 AS BIGINT) AS terminal,
        |  CAST(0 AS BIGINT) AS lag
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,

    "materialized_view_agg" ->
      """SELECT event_type, COUNT(*) AS n_records,
        |  CAST(SUM(CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS sum_k,
        |  CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS DOUBLE) AS min_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS DOUBLE) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stream_session_windows" ->
      s"""WITH lagged AS (
         |  SELECT user_id, ts, event_id, value,
         |    CASE WHEN LAG(ts) OVER w IS NULL
         |           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
         |         THEN 1 ELSE 0 END AS is_start
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sess AS (
         |  SELECT user_id, ts, value,
         |    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                        ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM lagged)
         |SELECT user_id, MIN(ts) AS session_start,
         |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         |  COUNT(*) AS n_events, $dsumVal AS sum_value
         |FROM sess GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin,

    // chained stateful operators (hourly agg → daily rollup): the
    // batch two-level GROUP BY under the append-mode emission cutoff
    // — a day window emits iff its end ≤ the final watermark
    // (ms-floored max event time − 1 day; the session-window rule,
    // re-pinned for chained aggs by StreamExecParitySpec's planted
    // boundary probes). Every emitted day contains ALL its hours
    // (hour ends ≤ day end ≤ W), so the inner emission gate is
    // invisible in the output
    "stream_exec_chained_agg" ->
      """WITH wm AS (SELECT epoch_us(MAX(ts)) // 1000 - 86400000 AS wms
        |  FROM events),
        |h AS (SELECT date_trunc('hour', ts) AS hs, event_type,
        |    COUNT(*) AS n_hour
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT date_trunc('day', hs) AS ds, event_type,
        |    SUM(n_hour) AS n_day, MAX(n_hour) AS peak_hour_n,
        |    COUNT(*) AS n_active_hours
        |  FROM h GROUP BY 1, 2)
        |SELECT ds, event_type, CAST(n_day AS BIGINT) AS n_day,
        |  CAST(peak_hour_n AS BIGINT) AS peak_hour_n,
        |  CAST(n_active_hours AS BIGINT) AS n_active_hours
        |FROM d, wm WHERE epoch_us(ds + INTERVAL 1 DAY) // 1000 <= wms
        |ORDER BY ds, event_type""".stripMargin,

    // foreachBatch upsert: update-mode emissions replace on key, so
    // the FINAL serving table is the plain batch GROUP BY — a key
    // that double-applied or failed to replace across the ~8 forced
    // micro-batches breaks this hash
    "stream_exec_foreach_upsert" ->
      """SELECT date_trunc('day', ts) AS ws, event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    // stream-static enrichment: the static cohort dimension (per-user
    // first-seen day) joined batch-side, daily windows under the same
    // emission cutoff as the chained-agg gate
    "stream_exec_static_enrich" ->
      """WITH wm AS (SELECT epoch_us(MAX(ts)) // 1000 - 86400000 AS wms
        |  FROM events),
        |c AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
        |  FROM events GROUP BY 1),
        |d AS (SELECT date_trunc('day', e.ts) AS ws, c.cohort_day,
        |    COUNT(*) AS n_events
        |  FROM events e JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT ws, cohort_day, CAST(n_events AS BIGINT) AS n_events
        |FROM d, wm WHERE epoch_us(ws + INTERVAL 1 DAY) // 1000 <= wms
        |ORDER BY ws, cohort_day""".stripMargin,

    // time travel: the pinned batch-A snapshot is exactly the even
    // event_ids; head is everything - both recomputed from the source
    "topic_time_travel" ->
      s"""WITH ev AS (SELECT event_id, $part AS "partition" FROM events)
         |SELECT '1_asof_batch1' AS snapshot, "partition",
         |       COUNT(*) AS n_records
         |FROM ev WHERE event_id % 2 = 0 GROUP BY 2
         |UNION ALL
         |SELECT '2_head', "partition", COUNT(*) FROM ev GROUP BY 2
         |ORDER BY snapshot, "partition"""".stripMargin
  )
}
