package graft.streaming

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Broker facade: topic management + discovery metadata.
  *
  * The Spark-native analog of the reference's request-dispatch surface
  * (ref: pkg/kafka/kafka_api.go:85, pkg/server/server.go accept loop):
  * instead of wire-protocol handlers there are catalog DataFrames and
  * topic-management methods.
  */
class Broker(spark: SparkSession, root: String) {

  /** The log root — durable per-broker state (topics, _txn, _scram,
    * _acls) lives under it. */
  private[streaming] def logRoot: String = root

  /** The authorizer — None (the default) keeps the historical
    * no-authorizer behavior: every request allowed, the ACL admin
    * keys answering SECURITY_DISABLED. [[enableAuthorizer]] loads the
    * durable ACL set and turns on request authorization at every
    * enforcement point (per-handler checks, in-band per-resource
    * errors — the standard broker authorization matrix). */
  @volatile private[streaming] var authorizerOpt: Option[Acls.Authorizer] = None

  /** Turn on authorization: load `_acls` (durable CAS snapshots in a
    * [[VersionedDir]]) and enforce on every subsequent request.
    * `superUsers` entries (e.g. "User:admin") bypass every check —
    * Kafka's super.users, and the practical bootstrap: SOMEONE must
    * be able to create the first ACL on a deny-by-default broker.
    * Returns the live authorizer (keys 29/30/31 administer the same
    * instance). */
  def enableAuthorizer(superUsers: Set[String] = Set.empty): Acls.Authorizer = {
    val a = new Acls.Authorizer(Paths.get(root, "_acls"), superUsers)
    authorizerOpt = Some(a)
    a
  }

  /** Per-request (principal, host), bound by the wire server before
    * each dispatch — thread-per-connection means the handler runs
    * synchronously on the connection's thread, so a ThreadLocal IS
    * the request context. Library callers never set it and run as
    * User:ANONYMOUS from the empty host; with no authorizer enabled
    * every check passes regardless. */
  private[streaming] val authCtx = new ThreadLocal[(String, String)] {
    override def initialValue(): (String, String) =
      (Broker.AnonymousPrincipal, "")
  }

  /** One authorization decision for the current request's principal.
    * True when no authorizer is enabled (the open broker). */
  private[streaming] def authz(operation: Int, resourceType: Int,
      resourceName: String): Boolean =
    authorizerOpt.forall { a =>
      val (principal, host) = authCtx.get()
      a.authorize(principal, host, operation, resourceType, resourceName)
    }

  /** Client quotas (keys 48/49, KIP-546) — byte-rate metering +
    * cooperative throttling on the produce/fetch paths. Lazy: a
    * broker that never serves quota admin and has no `_quotas` store
    * pays one empty-map lookup per data request. */
  lazy val quotas = new Quotas.Manager(Paths.get(root, "_quotas"))

  /** The authenticated user name (the principal less its type), the
    * quota entity's user axis — ANONYMOUS on open listeners. */
  private def currentUser: String = {
    val p = authCtx.get()._1
    if (p.startsWith("User:")) p.substring(5) else p
  }

  /** Record `bytes` against the governing quota and return the
    * throttle to serve in throttle_time_ms (0 when no quota binds). */
  private def quotaThrottle(key: String, clientId: String,
      bytes: Long): Int = {
    val t = quotas.recordAndThrottle(currentUser,
      Option(clientId).getOrElse(""), key, bytes,
      System.currentTimeMillis())
    math.min(t, Int.MaxValue.toLong).toInt
  }

  /** Milliseconds this request spent PARKED in a long-poll wait
    * (KIP-74) — subtracted from the request_percentage meter, because
    * a parked thread holds no handler resource (Kafka's request
    * quota meters io-thread time, which excludes purgatory waits —
    * without this an idle max_wait_ms consumer would throttle itself
    * by waiting). Reset per request by the wire server. */
  private[streaming] val parkedMsCtx = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }

  /** Milliseconds this request already spent SLEEPING in a byte-rate
    * quota hold inside its handler — excluded from the
    * request_percentage meter (a throttle sleep holds no handler
    * resource; counting it would let a byte-quota hold record ~100%
    * of a thread-second and drive the request quota into a
    * self-amplifying over-throttle), and credited against the
    * request-time hold so the two quotas mute for the MAX of their
    * throttles (Kafka's rule), never the sum. Reset per request. */
  private[streaming] val heldMsCtx = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }

  /** `request_percentage` enforcement (KIP-546): the wire server
    * reports each request's handler wall time here AFTER dispatch;
    * when a percentage quota binds the governing entity, the response
    * is held like the byte-rate throttles (channel muting — Kafka's
    * enforcement). Thread-per-connection makes per-request wall-time
    * metering one clock read on each side of the handler; long-poll
    * park time is excluded via [[parkedMsCtx]]. */
  private[streaming] def requestTimeHold(clientId: String,
      elapsedMs: Long): Unit = {
    val held = heldMsCtx.get()
    val active = math.max(0L, elapsedMs - parkedMsCtx.get() - held)
    val t = quotas.recordRequestTime(currentUser,
      Option(clientId).getOrElse(""), active,
      System.currentTimeMillis())
    // mute for max(byteThrottle, requestThrottle), not the sum: the
    // byte-rate hold already slept `held` ms inside the handler, so
    // only the request-time throttle's EXCESS over that sleeps here
    val extra = math.min(math.min(t, Int.MaxValue.toLong),
      Quotas.MaxHoldMs) - held
    if (extra > 0) quotaHold(extra.toInt)
  }

  /** Hold the response like a throttling broker mutes its channel —
    * bounded by [[Quotas.MaxHoldMs]]; the response carries the FULL
    * computed throttle for the client's own cooperative backoff. The
    * actual sleep is accumulated in [[heldMsCtx]] so downstream
    * metering can exclude and credit it. */
  private def quotaHold(throttleMs: Int): Unit =
    if (throttleMs > 0) {
      val ms = math.min(throttleMs.toLong, Quotas.MaxHoldMs)
      try { Thread.sleep(ms); heldMsCtx.set(heldMsCtx.get() + ms) }
      catch { case _: InterruptedException =>
        Thread.currentThread().interrupt() }
    }

  /** Delegation tokens (keys 38–41, KIP-48) — lazy like the quota
    * manager; only touched by token admin or a token SASL login. */
  lazy val delegationTokens =
    new DelegationTokens.Manager(Paths.get(root, "_tokens"))

  /** KIP-584 feature levels (ApiVersions tags + UpdateFeatures 57) —
    * lazy; bootstrap-finalized until an admin alters a level. */
  lazy val features = new Features.Manager(Paths.get(root, "_features"))

  /** How the current request's connection authenticated: 0 = not
    * (open listener), 1 = SASL credentials, 2 = delegation token.
    * Token operations are fenced on kinds 0 and 2 (Kafka's
    * DELEGATION_TOKEN_REQUEST_NOT_ALLOWED rule — no minting fresh
    * tokens from a token, none at all from an unauthenticated
    * channel). */
  private[streaming] val authKindCtx = new ThreadLocal[Int] {
    override def initialValue(): Int = 0
  }

  /** SCRAM credentials for a live token id — the wire server's SASL
    * fallback when a username matches no configured user. */
  private[streaming] def tokenScramLookup(tokenId: String,
      mechanismCode: Int): Option[Scram.StoredCreds] =
    delegationTokens.scramLookup(tokenId, mechanismCode,
      System.currentTimeMillis())

  /** The principal a token-authenticated connection acts as. */
  private[streaming] def tokenPrincipal(tokenId: String): Option[String] =
    delegationTokens.byId(tokenId).map(_.owner)

  /** Membership coordination for wire consumers (JoinGroup/SyncGroup/
    * Heartbeat/LeaveGroup) — pure metadata, one per broker. */
  val coordinator = new GroupCoordinator()
  /** KIP-848 coordinator (keys 68/69) — the kafka-clients 4.x default
    * group path; the classic JoinGroup/SyncGroup path stays served
    * beside it for 2.x/3.x clients. */
  val coordinator848 = new Group848Coordinator(
    name => topicOpt(name).map(_.numPartitions),
    () => listTopics())
  /** KIP-932 share-group membership (keys 76/77) — broker-generated
    * member ids + the SimpleAssignor shape over hosted topics; the
    * data path (78/79) runs on [[ShareGroup]] locks either way.
    * Session/heartbeat timing reads the group's dynamic config on
    * every access, so `kafka-configs --entity-type groups --alter`
    * applies at the next heartbeat. */
  val shareCoordinator = new ShareCoordinator(
    name => topicOpt(name).map(_.numPartitions),
    groupConfig = groupConfigOverrides)

  /** Per-group dynamic config (ConfigResource type GROUP = 32, the
    * AK 4.0 surface kafka-configs --entity-type groups drives):
    * overrides live under `_groupcfg/<b64(group)>/_config.json`, the
    * topic `_config.json` machinery reused — atomic replacement,
    * same quoting rules, same read regex. Configs exist by NAME
    * independent of any group's liveness, as in Kafka. */
  private def groupCfgKey(group: String): String = "_groupcfg/" +
    java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(group.getBytes("UTF-8"))

  def groupConfigOverrides(group: String): Map[String, String] =
    TopicLog.configOverrides(root, groupCfgKey(group))

  private def writeGroupConfigOverrides(group: String,
      overrides: Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(root, groupCfgKey(group)))
    TopicLog.writeConfigOverrides(root, groupCfgKey(group), overrides)
  }

  /** CreateTopics analog. */
  def createTopic(name: String, numPartitions: Int): TopicLog =
    TopicLog.create(spark, root, name, numPartitions)

  /** DeleteTopics analog. Also forgets the topic's transactional
    * metadata — a recreated topic must not inherit a dead namesake's
    * aborted ranges or LSO floors (a hazard that became durable once
    * the coordinator store started persisting them). */
  def deleteTopic(name: String): Unit = {
    TopicLog.drop(root, name)
    commitQueues.remove(name)
    val changed = txnLock.synchronized {
      val keys = (abortedRanges.keys ++ openTxnFirsts.keys)
        .filter(_._1 == name).toSet
      keys.foreach { k => abortedRanges.remove(k); openTxnFirsts.remove(k) }
      var any = keys.nonEmpty
      txns.values.foreach { st =>
        val mine = st.firstOffsets.keys.filter(_._1 == name).toSeq
        mine.foreach { k => st.firstOffsets.remove(k); st.lastOffsets.remove(k) }
        val parts = st.partitions.filter(_._1 == name).toSeq
        parts.foreach(st.partitions.remove)
        any ||= mine.nonEmpty || parts.nonEmpty
      }
      any
    }
    if (changed) persistTxnState()
  }

  def topic(name: String): TopicLog = TopicLog.open(spark, root, name)

  def topicExists(name: String): Boolean = TopicLog.exists(root, name)

  /** The TopicLog if the topic opens: the one way a handler reaches a
    * log. One `_meta.json` read whose failure means absent, so a
    * racing deleteTopic answers the handler's unknown-topic code
    * instead of killing the connection. */
  def topicOpt(name: String): Option[TopicLog] =
    try Some(topic(name))
    catch { case scala.util.control.NonFatal(_) => None }

  def listTopics(): Seq[String] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Seq.empty
    else TopicLog.listDir(p)
      .filter(d => Files.exists(d.resolve("_meta.json")))
      .map(_.getFileName.toString).sorted
  }

  /** ApiVersions analog (ref: pkg/kafka/kafka_api.go:99 — the
    * prototype serves key 18 only; graft serves the full core set). */
  def apiVersions: DataFrame = {
    import spark.implicits._
    Broker.WireApis.toDF("api_key", "api_name", "min_version", "max_version")
  }

  /** Export a topic to a text-format sink (Kafka-Connect file-sink
    * analog). Binary key/value travel base64-encoded and headers as a
    * JSON object of base64 values, so csv/json stay LOSSLESS for the
    * full record model; `format` ∈ {parquet, json, csv}. */
  def exportTopic(name: String, path: String, format: String): Unit = {
    val log = topic(name)
    val df = log.read()
    val out = format match {
      case "parquet" => df
      case "json" | "csv" => df
        .withColumn("key", base64(col("key")))
        .withColumn("value", base64(col("value")))
        .withColumn("headers",
          to_json(transform_values(col("headers"), (_, v) => base64(v))))
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
    out.write.mode("overwrite").format(format)
      .option("header", "true").save(path)
  }

  /** Import records exported by [[exportTopic]] back into a (new)
    * topic — the file-source analog. Headers decode back to
    * map<string,binary>, so the round-trip preserves the full model. */
  def importTopic(name: String, path: String, format: String, numPartitions: Int): TopicLog = {
    val log = createTopic(name, numPartitions)
    val raw = format match {
      case "parquet" => spark.read.parquet(path)
      case "json" => spark.read.json(path)
      case "csv" => spark.read.option("header", "true")
        .option("inferSchema", "true").csv(path)
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
    val records = format match {
      case "parquet" => raw.select("key", "value", "headers", "ts")
      case _ => raw.select(
        unbase64(col("key")).as("key"),
        unbase64(col("value")).as("value"),
        transform_values(
          from_json(col("headers"),
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.StringType)),
          (_, v) => unbase64(v)).as("headers"),
        col("ts").cast("timestamp").as("ts"))
    }
    log.produce(records)
    log
  }

  /** Export every consumer group's committed offsets for a topic —
    * the companion to [[exportTopic]]: data + headers + GROUP
    * PROGRESS together migrate a topic losslessly. */
  def exportGroups(name: String, path: String): Unit = {
    import spark.implicits._
    val log = topic(name)
    log.listGroups()
      .flatMap(g => log.committed(g).toSeq.map { case (p, o) => (g, p, o) })
      .toDF("group", "partition", "offset")
      .coalesce(1).write.mode("overwrite").json(path)
  }

  /** Import group offsets exported by [[exportGroups]] — lands through
    * the CAS group commit, so it merges with (rather than clobbers)
    * any progress committed since the export. */
  def importGroups(name: String, path: String): Unit = {
    val log = topic(name)
    val df = spark.read.json(path)
    if (!df.columns.contains("group")) return // export of a group-less topic
    df.select(col("group"), col("partition").cast("int"), col("offset").cast("long"))
      .collect()
      .groupBy(_.getString(0))
      .foreach { case (g, rows) =>
        log.commit(g, rows.map(r => r.getInt(1) -> r.getLong(2)).toMap)
      }
  }

  /** Metadata analog: every topic-partition with its log-end offset. */
  def topicMetadata: DataFrame = {
    import spark.implicits._
    listTopics().flatMap { t =>
      val log = topic(t)
      val ends = log.logEndOffsets()
      (0 until log.numPartitions).map(p => (t, p, ends.getOrElse(p, 0L)))
    }.toDF("topic", "partition", "log_end_offset")
  }

  /** ListGroups analog: every consumer group across topics. */
  def listGroups(): Seq[(String, String)] =
    listTopics().flatMap(t => topic(t).listGroups().map(g => (g, t))).sorted

  /** DescribeGroups analog: a group's committed offsets + lag per
    * topic-partition. */
  def describeGroup(group: String): DataFrame = {
    import spark.implicits._
    listTopics().flatMap { t =>
      val log = topic(t)
      if (!log.listGroups().contains(group)) Seq.empty
      else {
        val committed = log.committed(group)
        val ends = log.logEndOffsets()
        (0 until log.numPartitions).map { p =>
          val c = committed.getOrElse(p, 0L)
          val e = ends.getOrElse(p, 0L)
          (group, t, p, c, e, e - c)
        }
      }
    }.toDF("group", "topic", "partition", "committed_offset", "log_end_offset", "lag")
  }

  // --- wire-level Produce/Fetch: framed Kafka bytes in, framed bytes
  // out, with the Spark-native TopicLog as the storage engine — the
  // full producer/consumer path a client would drive. Produce speaks
  // v0–v9 and Fetch v0–v16: v3+/v4+ bodies carry RecordBatch v2
  // (magic 2), so HEADERS, client timestamps, and producer
  // idempotence coordinates survive the socket — the graft record
  // model round-trips losslessly at those versions.

  /** Produce exchange (v0–v9): records land through the real manifest
    * produce (explicit partition routing, per-partition contiguous
    * offsets); the response carries each partition's base offset,
    * exactly as a broker acks. v2+ records keep their CreateTime
    * timestamps and v3+ their headers (records without a timestamp
    * get append time). Headers are stored in the engine's
    * map<string,binary> record model: unique keys (duplicates: last
    * wins, as in a compacted header view) in canonical key order —
    * Kafka's ordered multi-map is wider than the model on purpose
    * (SURVEY §4). acks=0 answers NOTHING per the protocol — writing
    * a response a fire-and-forget producer never reads would desync
    * the connection's correlation stream. Unknown topics /
    * out-of-range partitions answer error 3
    * (UNKNOWN_TOPIC_OR_PARTITION) without losing the rest of the
    * request. */
  /** Serializes log REWRITES (retention expiry, compaction, record
    * deletion — which replace a topic's whole data dir) against wire
    * produces: produces hold the read side, rewrites the write side.
    * Without it a produce staging files while a rewrite swaps the dir
    * loses the staged data — the reason retention/compaction carried
    * an explicit-invocation-only contract before the WireServer grew
    * its maintenance tick. Non-wire writers (the DSv2 sink, INSERT)
    * stay under the documented operator contract: schedule rewrites
    * when no Spark writer runs. */
  val maintenanceLock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  def handleProduce(requestBytes: Array[Byte]): Array[Byte] = {
    val rl = maintenanceLock.readLock()
    rl.lock()
    val (resp, throttleMs) =
      try handleProduceLocked(requestBytes) finally rl.unlock()
    // the quota hold happens OUTSIDE the maintenance read lock — a
    // throttled producer must not delay retention's write lock
    quotaHold(throttleMs)
    resp
  }

  private def handleProduceLocked(requestBytes: Array[Byte])
      : (Array[Byte], Int) = {
    import KafkaWire._
    val req = decodeProduceRequest(requestBytes)
    val appendTime = new java.sql.Timestamp(System.currentTimeMillis())
    val results = req.topics.map { case (name, parts) =>
      // authorization precedes existence: an unauthorized producer
      // learns 29, not whether the topic exists
      if (!authz(Acls.OpWrite, Acls.ResTopic, name))
        (name, parts.map { case (p, _) => (p, 29, -1L) })
      else topicOpt(name) match {
        case None => (name, parts.map { case (p, _) => (p, 3, -1L) })
        case Some(log) =>
          // Phase −1 — the size gate: `max.message.bytes` (dynamic
          // topic config) bounds each partition entry's ON-WIRE payload
          // — the same quantity Kafka's broker checks, measured before
          // decompression. An oversized entry is emptied (nothing must
          // reach the idempotence gate) and answers MESSAGE_TOO_LARGE
          // (10) below.
          val maxMsgBytes = TopicLog.configOverrides(root, name)
            .get("max.message.bytes")
            .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
            .getOrElse(Broker.DefaultMaxMessageBytes.toLong)
          def oversized(idx: Int): Boolean =
            req.payloadSizes.getOrElse((name, idx), 0) > maxMsgBytes
          val sized = parts.zipWithIndex.map { case ((p, batches), idx) =>
            if (oversized(idx)) (p, Seq.empty[KafkaWire.ProducedBatch])
            else (p, batches)
          }
          // Phase 0 — the transaction gate: a TRANSACTIONAL batch must
          // come from a known transactional pid at the current epoch
          // with its partition registered via AddPartitionsToTxn. A
          // failing entry is emptied here (it must not advance the
          // idempotence gate's provisional sequences) and answers its
          // error below — same pattern as payload decode errors.
          val txnErrs: Seq[Option[Int]] = sized.map { case (p, batches) =>
            batches.iterator.filter(_.transactional)
              .map(b => txnProduceError(name, p, b))
              .collectFirst { case Some(err) => err }
          }
          val gated = sized.zip(txnErrs).map { case ((p, batches), err) =>
            if (err.isDefined) (p, Seq.empty[KafkaWire.ProducedBatch])
            else (p, batches)
          }
          // Phase 1 — the idempotence gate: pure in-memory metadata, so
          // every partition entry resolves to Append / Duplicate /
          // Reject BEFORE any row lands. A rejected or duplicate entry
          // writes nothing; the rest of the request proceeds. Entries
          // validate in ONE pass sharing provisional sequence state, so
          // a request listing a partition twice with chained sequences
          // (entry B continuing where entry A ends) is accepted — the
          // same contract the base-offset accounting below supports.
          val decisions: Seq[Broker.ProduceDecision] =
            validateProducerEntries(name, log.numPartitions, gated)
          val appending = gated.zip(decisions).collect {
            case ((p, batches), Broker.Append) => (p, batches)
          }
          val rows = appending.flatMap { case (p, batches) =>
            batches.flatMap(_.records).map { r =>
              val hdrs = if (r.headers.isEmpty) null else r.headers.toMap
              val ts = if (r.timestampMs >= 0) new java.sql.Timestamp(r.timestampMs)
                else appendTime
              (r.key, r.value, hdrs, ts, p)
            }
          }
          // Phase 1.5 — reserve the LSO floor BEFORE any row lands: the
          // append (TopicLog.produceDirect, no Spark job) commits its
          // manifest before the exact range registration below, and a
          // concurrent read_committed fetch landing in between must not
          // see this transaction's records.
          // The floor (the pre-produce log end) is ≤ the eventual base
          // offset, so the reservation is conservative; recordTxnAppend
          // replaces it with the exact first offset, and reservations
          // that never materialize (timeout, fence) release at the end
          // of the request.
          val txnPids: Seq[(Int, Long)] = appending.flatMap { case (p, batches) =>
            batches.filter(b => b.transactional && b.records.nonEmpty)
              .map(b => (p, b.producerId))
          }.distinct
          if (txnPids.nonEmpty) {
            val floors = log.logEndOffsets()
            txnPids.foreach { case (p, pid) =>
              txnReserve(name, p, pid, floors.getOrElse(p, 0L))
            }
          }
          // The manifest CAS can lose to a concurrent producer on an
          // overlapping partition; produce()'s contract is that the
          // CALLER retries (offsets re-derive from the fresh manifest).
          // A Kafka broker serializes appends internally — a wire client
          // never sees the storage-layer race — so the broker IS that
          // caller: retry with capped backoff until the request's own
          // timeout, then answer REQUEST_TIMED_OUT (7) per partition
          // instead of failing the connection. Any other append failure
          // answers KAFKA_STORAGE_ERROR (56), as Kafka does for a log
          // directory it cannot write.
          def produceWithRetry(): Either[Int, Map[Int, Long]] = {
            val deadline = System.nanoTime() +
              math.max(req.timeoutMs, 1000).toLong * 1000000L
            val direct = rows.map { case (k, v, h, ts, p) => (p, k, v, h, ts.getTime) }
            var attempt = 0
            var result: Either[Int, Map[Int, Long]] = Left(7)
            var retrying = true
            while (retrying)
              try {
                // driver-direct append (no Spark job), committed together
                // with the topic's other in-flight wire produces — see
                // appendGrouped
                result = Right(appendGrouped(name, log, direct))
                retrying = false
              } catch {
                case _: TopicLog.ConcurrentProduceException =>
                  if (System.nanoTime() > deadline) retrying = false
                  else {
                    Thread.sleep(math.min(200L, 2L << math.min(attempt, 6)))
                    attempt += 1
                  }
                case scala.util.control.NonFatal(e) =>
                  Broker.log.warn(
                    "produce failed, answering KAFKA_STORAGE_ERROR topic={} api_key={} version={} correlation_id={} error={}",
                    Array[AnyRef](name, Int.box(KafkaWire.Produce.key), Int.box(req.version),
                      Int.box(req.correlationId), e.toString): _*)
                  result = Left(56)
                  retrying = false
              }
            result
          }
          val appended: Either[Int, Map[Int, Long]] =
            if (rows.isEmpty) Right(log.logEndOffsets())
            else produceWithRetry()
          val after: Map[Int, Long] = appended.getOrElse(Map.empty)
          // Base offsets derive from the COMMITTED ends the produce
          // returned, not a pre-produce snapshot: a snapshot is stale
          // under concurrent producers and wrong when one request lists
          // a partition twice. Appended entries are scanned in request
          // order, each claiming its records' range below the next.
          val written = scala.collection.mutable.Map.empty[Int, Long]
          appending.foreach { case (p, batches) =>
            written(p) = written.getOrElse(p, 0L) +
              batches.iterator.map(_.records.length.toLong).sum
          }
          val consumedSoFar = scala.collection.mutable.Map.empty[Int, Long]
          val answers =
            (name, gated.zip(decisions).zip(txnErrs).zipWithIndex.map {
              // an oversized payload answers first: the entry was
              // emptied before any gate saw it, and nothing appended
              case ((((p, _), _), _), idx) if oversized(idx) => (p, 10, -1L)
              // a transaction-gate failure (49/47/48) answers next —
              // the entry was emptied above, so nothing downstream saw it
              case ((((p, _), _), Some(err)), _) => (p, err, -1L)
              // a payload that failed decode (76 = unsupported codec,
              // 2 = corrupt) answers its error and appended nothing —
              // the key is the ENTRY index, so a valid entry for the
              // same partition id in the same request still acks
              case ((((p, _), _), _), idx)
                  if req.decodeErrors.contains((name, idx)) =>
                (p, req.decodeErrors((name, idx)), -1L)
              case ((((p, _), Broker.Reject(err)), _), _) => (p, err, -1L)
              case ((((p, _), Broker.Duplicate(base)), _), _) => (p, 0, base)
              // the append never landed (7: the CAS never won within the
              // request timeout; 56: storage error): nothing appended,
              // no sequence state advanced — the client's retry (same
              // sequences) is exactly a fresh attempt
              case ((((p, _), Broker.Append), _), _) if appended.isLeft =>
                (p, appended.swap.getOrElse(7), -1L)
              case ((((p, batches), Broker.Append), _), _) =>
                val nRecs = batches.iterator.map(_.records.length.toLong).sum
                val firstBase = after.getOrElse(p, 0L) - written.getOrElse(p, 0L)
                val base = firstBase + consumedSoFar.getOrElse(p, 0L)
                consumedSoFar(p) = consumedSoFar.getOrElse(p, 0L) + nRecs
                // Phase 2 — the append committed; remember each batch's
                // sequence span + base offset for duplicate detection,
                // and a transactional batch's range under its open txn.
                recordProducerBatches(name, p, batches, base)
                recordTxnAppend(name, p, batches, base)
                (p, 0, base)
            })
          // release LSO reservations the append never turned into exact
          // ranges (timed out, failed, or the txn was fenced mid-request)
          txnPids.foreach { case (p, pid) =>
            txnReleaseUnmaterialized(name, p, pid)
          }
          answers
      }
    }
    // wake long-polling fetches: something may now satisfy min_bytes
    if (results.exists(_._2.exists(_._2 == 0)))
      dataArrived.synchronized { dataArrived.notifyAll() }
    // quota metering covers the request's on-wire payload whether or
    // not a response is owed (acks=0 producers consume budget too);
    // the HOLD happens in handleProduce, after the lock releases
    val throttleMs = quotaThrottle(Quotas.ProducerByteRate, req.clientId,
      req.payloadSizes.valuesIterator.map(_.toLong).sum)
    if (req.acks == 0) (Array.empty[Byte], throttleMs)
    else (encodeProduceResponse(req.version, req.correlationId, results,
      throttleMs), throttleMs)
  }

  /** Per-topic queues of wire produces waiting to commit. */
  private val commitQueues =
    new java.util.concurrent.ConcurrentHashMap[String, Broker.CommitQueue]()

  /** Group commit (DeWitt et al., SIGMOD 1984) of one wire produce's
    * rows to topic `name`: the rows join the topic's queue; a request
    * that finds no commit in flight takes every queued request and
    * commits them as ONE [[TopicLog.produceDirect]] (one file per
    * partition, one manifest version), the others wait for its answer.
    * Rows keep queue order, so each request's records of a partition
    * are contiguous, and each request gets the per-partition log ends
    * its own rows reached — exactly what committing it alone at that
    * point would return. A group of one is the plain produce. A lost
    * CAS fails every member with
    * [[TopicLog.ConcurrentProduceException]], for each to retry; any
    * other failure of a group retries each member alone, through its
    * own handle, so only the request at fault fails. */
  private[streaming] def appendGrouped(name: String, log: TopicLog,
      rows: Seq[Broker.DirectRow]): Map[Int, Long] = {
    val me = new Broker.GroupMember(log, rows)
    val q = commitQueues.computeIfAbsent(name, _ => new Broker.CommitQueue)
    var interrupted = false
    val group = q.synchronized {
      q.pending += me
      // uninterruptible: once queued, a leader may commit these rows,
      // so the request must stay to hear the outcome
      while (me.outcome == null && q.committing)
        try q.wait() catch { case _: InterruptedException => interrupted = true }
      if (me.outcome != null) Nil
      else {
        q.committing = true
        val g = q.pending.toList
        q.pending.clear()
        g
      }
    }
    if (group.nonEmpty)
      try commitGroup(group)
      finally q.synchronized { q.committing = false; q.notifyAll() }
    if (interrupted) Thread.currentThread().interrupt()
    me.outcome.get
  }

  /** Wire produces of topic `name` queued behind an in-flight commit. */
  private[streaming] def queuedProduces(name: String): Int =
    Option(commitQueues.get(name)).fold(0)(q => q.synchronized(q.pending.size))

  /** Commit `group` and give every member its outcome, whatever is
    * thrown: a member left without one would wait forever. */
  private def commitGroup(group: List[Broker.GroupMember]): Unit = {
    import scala.util.{Failure, Success, Try}
    def alone(m: Broker.GroupMember) = m.outcome = Try(m.log.produceDirect(m.rows))
    try group match {
      case only :: Nil => alone(only)
      case leader :: _ =>
        val all = group.flatMap(_.rows)
        Try(leader.log.produceDirect(all)) match {
          case Success(ends) =>
            // the group's rows of partition p hold offsets
            // [ends(p) − total(p), ends(p)), in queue order
            val total = all.groupMapReduce(_._1)(_ => 1L)(_ + _)
            val through = scala.collection.mutable.Map.empty[Int, Long]
            group.foreach { m =>
              m.rows.foreach(r => through(r._1) = through.getOrElse(r._1, 0L) + 1)
              val own = m.rows.iterator.map(_._1).toSet
              m.outcome = Success(ends ++ own.iterator.map { p =>
                p -> (ends(p) - total(p) + through(p))
              })
            }
          case Failure(e: TopicLog.ConcurrentProduceException) =>
            group.foreach(_.outcome = Failure(e))
          case Failure(_) => group.foreach(alone)
        }
      case Nil => ()
    } catch {
      case t: Throwable =>
        group.foreach(m => if (m.outcome == null) m.outcome = Failure(t))
    }
  }

  // --- idempotent producer (InitProducerId, key 22): the broker
  // remembers, per (producer_id, topic, partition), the producer's
  // epoch, last appended sequence, and the last
  // MaxRecentBatchesPerProducer appended batches. A retried batch
  // (same epoch + baseSequence + count as a remembered append) acks
  // the ORIGINAL base offset without writing — the exactly-once
  // produce guarantee; a sequence gap answers
  // OUT_OF_ORDER_SEQUENCE_NUMBER (45) and a stale epoch
  // INVALID_PRODUCER_EPOCH (47), both protocol-visible retry/fail
  // signals. State is metadata-only and bounded: MaxProducerStates
  // entries, oldest-first eviction (an evicted producer's retry is
  // indistinguishable from a fresh non-zero start → 45 → the client
  // re-initializes, the protocol's own recovery path). Validation and
  // bookkeeping both run under one in-memory lock; a single producer
  // drives one connection (the serve loop is request-response), so
  // same-pid requests never interleave between the two phases. ---

  private val nextProducerId = new java.util.concurrent.atomic.AtomicLong(0L)

  private val producerStates = scala.collection.mutable.LinkedHashMap
    .empty[(Long, String, Int), Broker.ProducerPartitionState]

  /** Sequence arithmetic wraps at Int.MaxValue per the protocol
    * (sequences live in [0, Int.MaxValue]). */
  private[streaming] def seqAdd(seq: Int, n: Int): Int =
    ((seq.toLong + n) % 0x80000000L).toInt

  /** Resolve a topic's partition entries against producer state, in
    * request order under ONE lock hold, sharing provisional sequence
    * positions across entries keyed (partition, pid) — so a request
    * that lists a partition twice with chained sequences validates
    * like the equivalent multi-batch payload. Within one entry,
    * batches chain too; an entry is all-or-nothing (a mid-entry
    * reject leaves no provisional trace). The Duplicate fast-path
    * applies to a single-batch entry — the only shape a real producer
    * sends — and a replay buried in a multi-batch payload answers
    * DUPLICATE_SEQUENCE_NUMBER (46) since its mixed append would be
    * ambiguous. */
  private[streaming] def validateProducerEntries(topicName: String,
      numPartitions: Int, entries: Seq[(Int, Seq[KafkaWire.ProducedBatch])])
      : Seq[Broker.ProduceDecision] = producerStates.synchronized {
    // (partition, pid) → sequence position after prior APPENDING
    // entries/batches of THIS request
    val provisional = scala.collection.mutable.Map.empty[(Int, Long), Int]
    entries.map { case (p, batches) =>
      if (!TopicLog.hasPartition(p, numPartitions)) Broker.Reject(3)
      else {
        val entryUpdates = scala.collection.mutable.Map.empty[(Int, Long), Int]
        var verdict: Broker.ProduceDecision = Broker.Append
        val it = batches.iterator
        while (verdict == Broker.Append && it.hasNext) {
          val b = it.next()
          if (b.producerId >= 0 && b.records.nonEmpty) {
            // read-only lookup: a rejected request must NOT
            // materialize state (a phantom entry would let bad pids
            // evict real ones from the bounded map) — only the record
            // phase inserts
            val st = producerStates.get((b.producerId, topicName, p))
            val dup = st.filter(_.epoch == b.producerEpoch)
              .flatMap(_.recent.find { case (seq, n, _) =>
                seq == b.baseSequence && n == b.records.length
              })
            if (b.producerEpoch < st.map(_.epoch).getOrElse(-1))
              verdict = Broker.Reject(47)
            else if (dup.isDefined)
              verdict =
                if (batches.length == 1) Broker.Duplicate(dup.get._3)
                else Broker.Reject(46)
            else {
              // a new epoch (or an unknown producer) must start at 0
              val key = (p, b.producerId)
              val last = entryUpdates.get(key)
                .orElse(provisional.get(key))
                .orElse(st.filter(s =>
                  s.epoch == b.producerEpoch && s.lastSeq >= 0).map(_.lastSeq))
              val expected = last.map(seqAdd(_, 1)).getOrElse(0)
              if (b.baseSequence != expected) verdict = Broker.Reject(45)
              else entryUpdates(key) =
                seqAdd(b.baseSequence, b.records.length - 1)
            }
          }
        }
        // only an APPENDING entry advances the shared positions — a
        // rejected or duplicate entry writes nothing
        if (verdict == Broker.Append) provisional ++= entryUpdates
        verdict
      }
    }
  }

  /** Single-entry form of [[validateProducerEntries]]. */
  private[streaming] def validateProducerBatches(topicName: String, p: Int,
      batches: Seq[KafkaWire.ProducedBatch]): Broker.ProduceDecision =
    validateProducerEntries(topicName, p + 1, Seq((p, batches))).head

  /** After a committed append: advance each idempotent batch's
    * sequence state and remember its (baseSequence, count,
    * baseOffset) for duplicate detection. */
  private[streaming] def recordProducerBatches(topicName: String, p: Int,
      batches: Seq[KafkaWire.ProducedBatch], baseOffset: Long): Unit = {
    var off = baseOffset
    producerStates.synchronized {
      batches.foreach { b =>
        if (b.producerId >= 0 && b.records.nonEmpty) {
          val key = (b.producerId, topicName, p)
          // remove + reinsert so insertion order IS recency order —
          // eviction below then drops the least-recently-active state
          val st = producerStates.remove(key)
            .getOrElse(new Broker.ProducerPartitionState)
          producerStates.put(key, st)
          if (b.producerEpoch > st.epoch) {
            st.epoch = b.producerEpoch
            st.recent.clear()
          }
          st.lastSeq = seqAdd(b.baseSequence, b.records.length - 1)
          st.recent.append((b.baseSequence, b.records.length, off))
          while (st.recent.length > Broker.MaxRecentBatchesPerProducer)
            st.recent.removeHead()
        }
        off += b.records.length
      }
      while (producerStates.size > Broker.MaxProducerStates)
        producerStates.remove(producerStates.head._1)
    }
  }

  // --- transactions (classic EOS; keys 24/26/28 + transactional
  // batches + read_committed fetch). The coordinator is metadata-only,
  // like the group coordinator and the idempotence gate: per
  // transactional id it tracks (pid, epoch, open partitions, first/
  // last produced offsets, offsets pending a commit); per partition
  // it tracks the first offsets of OPEN transactions (whose min is
  // the LSO) and the offset ranges of ABORTED transactions. Design
  // decision (documented in SURVEY §4): no control records land in
  // the log — read_committed filtering is BROKER-side, aborted
  // records are simply omitted from responses as offset gaps (the
  // same shape compaction produces, legal since v4+ batches carry
  // explicit offset deltas), and the aborted_transactions response
  // field stays empty because clients then have nothing to filter.
  // State is in-memory and bounded (MaxTxnStates transactions,
  // MaxAbortedRangesPerPartition remembered ranges — ranges wholly
  // below the log start are pruned first; beyond that, oldest-first
  // eviction is the documented horizon, the moral equivalent of a
  // .txnindex file retention limit). ---

  private val txnLock = new Object
  private val txns = scala.collection.mutable.LinkedHashMap
    .empty[String, Broker.TxnState]
  private val txnIdByPid = scala.collection.mutable.Map.empty[Long, String]
  /** (topic, partition) → pid → first offset of that pid's OPEN txn */
  private val openTxnFirsts = scala.collection.mutable.Map
    .empty[(String, Int), scala.collection.mutable.Map[Long, Long]]
  /** (topic, partition) → aborted (first, last) offset ranges */
  private val abortedRanges = scala.collection.mutable.Map
    .empty[(String, Int), scala.collection.mutable.ArrayBuffer[(Long, Long)]]

  // --- coordinator durability (TxnStore): every mutation below
  // write-throughs a full-state snapshot via the manifest-style
  // hard-link CAS, and a restarted broker reloads it — aborted ranges
  // keep filtering, open-txn first offsets keep capping the LSO,
  // epochs keep fencing, pids are never re-issued. The in-memory maps
  // stay the only read side (the produce-gate / fetch hot paths never
  // touch disk). NOT persisted: [[txnReserve]] floors — they guard an
  // in-process append-visibility race and die with the process; the
  // residual window this leaves is a hard kill BETWEEN a transactional
  // produce's manifest link and [[recordTxnAppend]]'s store link
  // (microseconds, disclosed in SURVEY §4 — Kafka closes the same
  // window by rebuilding producer state from pid-stamped log segments,
  // which a parquet log does not carry). ---

  private val txnStore = new VersionedDir(Paths.get(root, "_txn"))
  /** Guarded by txnLock; assigned at render time so version order is
    * render order even though links land outside the lock. */
  private var txnStoreVersion = 0L

  loadTxnStore()

  private def loadTxnStore(): Unit = txnLock.synchronized {
    txnStore.readLatest(TxnStore.parse).foreach { case (v, st) =>
      txnStoreVersion = v
      // never re-issue a pid from before the restart
      var cur = nextProducerId.get()
      while (cur < st.nextPid && !nextProducerId.compareAndSet(cur, st.nextPid))
        cur = nextProducerId.get()
      st.txns.foreach { pt =>
        val t = new Broker.TxnState(pt.pid)
        t.epoch = pt.epoch
        t.open = pt.open
        t.partitions ++= pt.partitions
        t.firstOffsets ++= pt.firstOffsets
        t.lastOffsets ++= pt.lastOffsets
        pt.pendingOffsets.foreach { case (g, m) => t.pendingOffsets(g) = m }
        txns.put(pt.id, t)
        txnIdByPid(t.pid) = pt.id
        if (pt.open)
          pt.firstOffsets.foreach { case (key, first) =>
            openTxnFirsts.getOrElseUpdate(key,
              scala.collection.mutable.Map.empty)(pt.pid) = first
          }
      }
      st.aborted.foreach { case (key, ranges) =>
        if (ranges.nonEmpty)
          abortedRanges(key) =
            scala.collection.mutable.ArrayBuffer(ranges: _*)
      }
    }
  }

  /** Consistent snapshot, caller holds txnLock. */
  private def txnSnapshotLocked(): TxnStore.State =
    TxnStore.State(nextProducerId.get(),
      txns.toSeq.map { case (id, t) =>
        TxnStore.PersistedTxn(id, t.pid, t.epoch, t.open,
          t.partitions.toSeq.sorted, t.firstOffsets.toMap,
          t.lastOffsets.toMap,
          t.pendingOffsets.toMap)
      },
      abortedRanges.toMap.map { case (k, v) => k -> v.toSeq })

  /** Render under txnLock (ordered versions, consistent state), link
    * outside it (no file I/O on the produce-gate/fetch lock). A link
    * collision means another broker process shares this root — legal
    * only transiently; re-read, re-render, latest state wins. */
  private def persistTxnState(): Unit = {
    var done = false
    while (!done) {
      val (v, body) = txnLock.synchronized {
        txnStoreVersion += 1
        (txnStoreVersion, TxnStore.render(txnStoreVersion, txnSnapshotLocked()))
      }
      try {
        txnStore.link(v, body)
        txnStore.prune(v - 8)
        done = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          txnLock.synchronized {
            txnStoreVersion = math.max(txnStoreVersion, txnStore.latest.getOrElse(0L))
          }
      }
    }
  }

  /** Last stable offset: the first offset of any open transaction on
    * the partition (nothing at or past it is decided), else the log
    * end. */
  private[streaming] def lastStableOffset(topicName: String, p: Int,
      logEnd: Long): Long = txnLock.synchronized {
    openTxnFirsts.get((topicName, p)).filter(_.nonEmpty)
      .map(_.values.min).map(math.min(_, logEnd)).getOrElse(logEnd)
  }

  /** One lock hold per partition per fetch — the row loop then probes
    * an immutable snapshot instead of re-locking per record. */
  private[streaming] def abortedSnapshot(topicName: String,
      p: Int): Seq[(Long, Long)] = txnLock.synchronized {
    abortedRanges.get((topicName, p)).map(_.toSeq).getOrElse(Seq.empty)
  }

  /** Pre-append LSO reservation: caps the partition's LSO at the
    * pre-produce log end (≤ the eventual base offset) so the append's
    * records can never be served to read_committed before
    * [[recordTxnAppend]] registers the exact range. No-op if the txn
    * already holds an exact range here or isn't open. */
  private def txnReserve(topicName: String, p: Int, pid: Long,
      floor: Long): Unit = txnLock.synchronized {
    txnIdByPid.get(pid).flatMap(txns.get).foreach { st =>
      if (st.open && !st.firstOffsets.contains((topicName, p))) {
        val m = openTxnFirsts.getOrElseUpdate((topicName, p),
          scala.collection.mutable.Map.empty)
        m(pid) = math.min(m.getOrElse(pid, Long.MaxValue), floor)
      }
    }
  }

  /** Test hook: drives [[recordTxnAppend]] directly to exercise the
    * fenced-mid-append race deterministically (the real interleaving
    * needs a fence landing inside the produce Spark job). */
  private[streaming] def recordTxnAppendForTest(topicName: String, p: Int,
      batches: Seq[KafkaWire.ProducedBatch], baseOffset: Long): Unit =
    recordTxnAppend(topicName, p, batches, baseOffset)

  /** Drop a reservation that never became an exact range (the append
    * timed out, appended nothing, or the txn was fenced mid-request) —
    * otherwise the LSO would stay pinned at the floor forever. */
  private def txnReleaseUnmaterialized(topicName: String, p: Int,
      pid: Long): Unit = txnLock.synchronized {
    val key = (topicName, p)
    val exact = txnIdByPid.get(pid).flatMap(txns.get)
      .exists(_.firstOffsets.contains(key))
    if (!exact)
      openTxnFirsts.get(key).foreach { m =>
        m.remove(pid)
        if (m.isEmpty) openTxnFirsts.remove(key)
      }
  }

  /** Produce-time gate for a TRANSACTIONAL batch: the pid must map to
    * this broker's transaction for an epoch that matches, and the
    * partition must have been added via AddPartitionsToTxn. 49 =
    * INVALID_PRODUCER_ID_MAPPING, 47 = INVALID_PRODUCER_EPOCH, 48 =
    * INVALID_TXN_STATE. */
  private def txnProduceError(topicName: String, p: Int,
      b: KafkaWire.ProducedBatch): Option[Int] = txnLock.synchronized {
    txnIdByPid.get(b.producerId).flatMap(txns.get) match {
      case None => Some(49)
      case Some(st) if b.producerEpoch != st.epoch => Some(47)
      case Some(st) if !st.open || !st.partitions((topicName, p)) => Some(48)
      case _ => None
    }
  }

  /** After a committed transactional append: remember the produced
    * range under the open transaction (first offset feeds the LSO —
    * replacing the conservative [[txnReserve]] floor with the exact
    * base; the range becomes an aborted range if the txn aborts). A
    * batch whose transaction was FENCED OR CLOSED while the append
    * was in flight registers its range as aborted immediately: those
    * records belong to a transaction that can never commit, and
    * without the guard they would pin a stale LSO entry on a closed
    * TxnState forever and eventually surface as committed data. */
  private def recordTxnAppend(topicName: String, p: Int,
      batches: Seq[KafkaWire.ProducedBatch], baseOffset: Long): Unit = {
    var off = baseOffset
    var changed = false
    txnLock.synchronized {
      batches.foreach { b =>
        if (b.transactional && b.records.nonEmpty) {
          val key = (topicName, p)
          val last = off + b.records.length - 1
          changed = true
          txnIdByPid.get(b.producerId).flatMap(txns.get) match {
            case Some(st) if st.open && st.epoch == b.producerEpoch =>
              if (!st.firstOffsets.contains(key)) {
                st.firstOffsets(key) = off
                // exact base replaces the reservation floor (floor ≤
                // base by construction; offsets in between belong to
                // OTHER producers and must not stay hidden)
                openTxnFirsts.getOrElseUpdate(key,
                  scala.collection.mutable.Map.empty)(b.producerId) = off
              }
              st.lastOffsets(key) = last
            case _ =>
              abortedRanges.getOrElseUpdate(key,
                scala.collection.mutable.ArrayBuffer.empty).append((off, last))
          }
        }
        off += b.records.length
      }
    }
    // durable before the produce acks: once the client may EndTxn, the
    // range this append registered must survive a restart
    if (changed) persistTxnState()
  }

  /** Close a transaction under the lock: clear its open ranges AND
    * any [[txnReserve]] floors (an abort remembers produced ranges as
    * aborted), apply or drop its pending group offsets. Returns the
    * actions to run OUTSIDE the lock — group commits run Spark jobs,
    * and overflow pruning reads log-start offsets — because txnLock
    * sits on the produce-gate and fetch hot paths. */
  private def endTxnLocked(st: Broker.TxnState,
      commit: Boolean): Seq[() => Unit] = {
    // scan ALL partitions for this pid's entries — st.firstOffsets
    // only knows exact ranges, while an in-flight produce may hold a
    // reservation floor on a partition with no exact range yet
    openTxnFirsts.keys.toSeq.foreach { key =>
      openTxnFirsts.get(key).foreach { m =>
        m.remove(st.pid)
        if (m.isEmpty) openTxnFirsts.remove(key)
      }
    }
    val overflowed = Seq.newBuilder[(String, Int)]
    if (!commit)
      st.firstOffsets.foreach { case (key, first) =>
        val buf = abortedRanges.getOrElseUpdate(key,
          scala.collection.mutable.ArrayBuffer.empty)
        buf.append((first, st.lastOffsets(key)))
        if (buf.length > Broker.MaxAbortedRangesPerPartition)
          overflowed += key
      }
    val commits: Seq[() => Unit] =
      if (commit)
        st.pendingOffsets.toSeq.map { case (group, offs) =>
          val byTopic = offs.groupBy(_._1._1)
          () => byTopic.foreach { case (t, m) =>
            topicOpt(t).foreach(_.commit(group,
              m.map { case ((_, p), (off, _)) => p -> off }.toMap))
          }
        }
      else Seq.empty
    val prunes: Seq[() => Unit] =
      overflowed.result().map(key => () => pruneAbortedRanges(key))
    st.firstOffsets.clear()
    st.lastOffsets.clear()
    st.pendingOffsets.clear()
    st.partitions.clear()
    st.open = false
    commits ++ prunes
  }

  /** Bound a partition's remembered aborted ranges: drop ranges the
    * log has already truncated away (one manifest read, taken OUTSIDE
    * txnLock), then fall back to the documented oldest-first horizon. */
  private def pruneAbortedRanges(key: (String, Int)): Unit = {
    val start = try topic(key._1).logStartOffsets().getOrElse(key._2, 0L)
      catch { case _: Exception => 0L }
    txnLock.synchronized {
      abortedRanges.get(key).foreach { buf =>
        val kept = buf.filter(_._2 >= start)
        buf.clear(); buf ++= kept
        if (buf.length > Broker.MaxAbortedRangesPerPartition)
          buf.remove(0, buf.length - Broker.MaxAbortedRangesPerPartition)
      }
    }
    persistTxnState()
  }

  /** InitProducerId exchange (v0–v4). The idempotent path (null
    * transactional_id — what a default-config kafka-clients 3.x
    * producer sends) allocates a fresh (producer_id, epoch 0). A
    * transactional id binds a stable pid whose EPOCH BUMPS on every
    * re-init — the previous incarnation is fenced (its produces
    * answer 47) and any transaction it left open is aborted, per the
    * protocol's producer-recovery contract. */
  def handleInitProducerId(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeInitProducerIdRequest(requestBytes)
    if (req.transactionalId == null) {
      // the idempotent path: IDEMPOTENT_WRITE on the cluster, or (the
      // KIP-447-era relaxation) WRITE on any topic the caller could
      // produce to anyway
      val idempotentOk =
        authz(Acls.OpIdempotentWrite, Acls.ResCluster,
          Acls.ClusterResourceName) ||
        (authorizerOpt.isDefined &&
          listTopics().exists(t => authz(Acls.OpWrite, Acls.ResTopic, t)))
      if (!idempotentOk)
        return encodeInitProducerIdResponse(req.version, req.correlationId,
          31, -1L, -1)
      val pid = nextProducerId.getAndIncrement()
      persistTxnState() // the pid high-water mark must survive restart
      return encodeInitProducerIdResponse(req.version, req.correlationId, 0,
        pid, 0)
    }
    if (!authz(Acls.OpWrite, Acls.ResTransactionalId, req.transactionalId))
      return encodeInitProducerIdResponse(req.version, req.correlationId,
        53, -1L, -1)
    val (pid, epoch, actions) = txnLock.synchronized {
      val st = txns.remove(req.transactionalId)
        .getOrElse(new Broker.TxnState(nextProducerId.getAndIncrement()))
      txns.put(req.transactionalId, st) // re-insert: LRU recency order
      val acts = if (st.open) endTxnLocked(st, commit = false) else Seq.empty
      st.epoch += 1
      txnIdByPid(st.pid) = req.transactionalId
      while (txns.size > Broker.MaxTxnStates) {
        val (oldId, old) = txns.head
        if (old.open) endTxnLocked(old, commit = false)
        txnIdByPid.remove(old.pid)
        txns.remove(oldId)
      }
      (st.pid, st.epoch, acts)
    }
    persistTxnState() // epoch bump + any auto-abort are durable before the ack
    actions.foreach(_.apply())
    encodeInitProducerIdResponse(req.version, req.correlationId, 0, pid, epoch)
  }

  /** AddPartitionsToTxn (key 24, v0–v3): registers the partitions the
    * next produces will touch and opens the transaction. */
  def handleAddPartitionsToTxn(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeAddPartitionsToTxnRequest(requestBytes)
    if (!authz(Acls.OpWrite, Acls.ResTransactionalId, req.transactionalId))
      return encodeAddPartitionsToTxnResponse(req.version, req.correlationId,
        req.topics.map { case (name, parts) =>
          (name, parts.map(p => (p, 53)))
        })
    // topic existence / partition counts resolve OUTSIDE txnLock —
    // manifest reads must not stall the produce gate, LSO lookups,
    // and read_committed fetches that share the lock
    val validated: Seq[(String, Seq[(Int, Boolean)])] =
      req.topics.map { case (name, parts) =>
        val log = topicOpt(name)
        (name, parts.map(p => (p, log.exists(_.hasPartition(p)))))
      }
    val topicDenied: Set[String] = req.topics.map(_._1)
      .filterNot(t => authz(Acls.OpWrite, Acls.ResTopic, t)).toSet
    val results = txnLock.synchronized {
      validated.map { case (name, parts) =>
        if (topicDenied(name)) (name, parts.map { case (p, _) => (p, 29) })
        else
        (name, parts.map { case (p, partitionOk) =>
          txns.get(req.transactionalId) match {
            case None => (p, 49)
            case Some(st) if st.pid != req.producerId => (p, 49)
            case Some(st) if st.epoch != req.producerEpoch => (p, 47)
            case Some(_) if !partitionOk => (p, 3)
            case Some(st) =>
              st.open = true
              st.partitions.add((name, p))
              (p, 0)
          }
        })
      }
    }
    if (results.exists(_._2.exists(_._2 == 0)))
      persistTxnState() // newly registered partitions / txn now open
    encodeAddPartitionsToTxnResponse(req.version, req.correlationId, results)
  }

  /** AddOffsetsToTxn (key 25, v0–v3): the first half of
    * `sendOffsetsToTransaction` — registers that this transaction
    * will commit offsets for a consumer group (in Kafka: adds the
    * group's __consumer_offsets partition to the transaction), so
    * the TxnOffsetCommit that follows rides the same commit/abort
    * decision. Opens the transaction like AddPartitionsToTxn; the
    * group's registration lands as an (initially empty) pending-
    * offsets entry that the following TxnOffsetCommit fills. An
    * empty registration is deliberately NOT persisted on its own
    * (a restart loses only the marker; the client's TxnOffsetCommit
    * re-registers, and EndTxn never needs it). */
  def handleAddOffsetsToTxn(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeAddOffsetsToTxnRequest(requestBytes)
    if (!authz(Acls.OpWrite, Acls.ResTransactionalId, req.transactionalId))
      return encodeAddOffsetsToTxnResponse(req.version, req.correlationId, 53)
    if (!authz(Acls.OpRead, Acls.ResGroup, req.groupId))
      return encodeAddOffsetsToTxnResponse(req.version, req.correlationId, 30)
    val err = txnLock.synchronized {
      txns.get(req.transactionalId) match {
        case None => 49
        case Some(st) if st.pid != req.producerId => 49
        case Some(st) if st.epoch != req.producerEpoch => 47
        case Some(st) =>
          st.open = true
          if (!st.pendingOffsets.contains(req.groupId))
            st.pendingOffsets(req.groupId) = Map.empty
          0
      }
    }
    if (err == 0) persistTxnState() // the txn is now durably open
    encodeAddOffsetsToTxnResponse(req.version, req.correlationId, err)
  }

  /** EndTxn (key 26, v0–v3): commit makes the transaction's records
    * visible to read_committed consumers (the LSO advances past them)
    * and applies its pending group offsets; abort remembers their
    * ranges so read_committed fetches skip them forever. */
  def handleEndTxn(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeEndTxnRequest(requestBytes)
    if (!authz(Acls.OpWrite, Acls.ResTransactionalId, req.transactionalId))
      return encodeEndTxnResponse(req.version, req.correlationId, 53)
    val (err, actions) = txnLock.synchronized {
      txns.get(req.transactionalId) match {
        case None => (49, Seq.empty[() => Unit])
        case Some(st) if st.pid != req.producerId => (49, Seq.empty[() => Unit])
        case Some(st) if st.epoch != req.producerEpoch =>
          (47, Seq.empty[() => Unit])
        case Some(st) if !st.open => (48, Seq.empty[() => Unit])
        case Some(st) => (0, endTxnLocked(st, req.committed))
      }
    }
    // persist BEFORE the commit actions run: a crash in between leaves
    // the decision durable (a committed txn's data stays visible; only
    // the idempotent group-offset application may need the consumer to
    // replay) — the reverse order could re-abort data whose commit was
    // already acked
    if (err == 0) persistTxnState()
    actions.foreach(_.apply())
    encodeEndTxnResponse(req.version, req.correlationId, err)
  }

  /** TxnOffsetCommit (key 28, v0–v3): group offsets produced WITHIN a
    * transaction — buffered here, applied only if the transaction
    * commits (the consume-transform-produce exactly-once loop). */
  def handleTxnOffsetCommit(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeTxnOffsetCommitRequest(requestBytes)
    val txnCommitErr =
      if (!authz(Acls.OpWrite, Acls.ResTransactionalId, req.transactionalId))
        53
      else if (!authz(Acls.OpRead, Acls.ResGroup, req.groupId)) 30
      else 0
    if (txnCommitErr != 0)
      return encodeTxnOffsetCommitResponse(req.version, req.correlationId,
        req.topics.map { case (name, parts) =>
          (name, parts.map { case (ptn, _, _) => (ptn, txnCommitErr) })
        })
    // topic checks outside txnLock, as in handleAddPartitionsToTxn
    val validated: Seq[(String, Seq[(Int, Long, String, Boolean)])] =
      req.topics.map { case (name, parts) =>
        val log = topicOpt(name)
        (name, parts.map { case (p, off, meta) =>
          (p, off, meta, log.exists(_.hasPartition(p)))
        })
      }
    val txnTopicDenied: Set[String] = req.topics.map(_._1)
      .filterNot(t => authz(Acls.OpRead, Acls.ResTopic, t)).toSet
    val results = txnLock.synchronized {
      validated.map { case (name, parts) =>
        if (txnTopicDenied(name))
          (name, parts.map { case (p, _, _, _) => (p, 29) })
        else
        (name, parts.map { case (p, off, meta, partitionOk) =>
          txns.get(req.transactionalId) match {
            case None => (p, 49)
            case Some(st) if st.pid != req.producerId => (p, 49)
            case Some(st) if st.epoch != req.producerEpoch => (p, 47)
            case Some(st) if !st.open => (p, 48)
            case Some(_) if !partitionOk => (p, 3)
            case Some(st) =>
              st.pendingOffsets(req.groupId) =
                st.pendingOffsets.getOrElse(req.groupId, Map.empty) +
                  (((name, p)) -> ((off, Option(meta).getOrElse(""))))
              (p, 0)
          }
        })
      }
    }
    if (results.exists(_._2.exists(_._2 == 0)))
      persistTxnState() // buffered offsets ride the snapshot
    encodeTxnOffsetCommitResponse(req.version, req.correlationId, results)
  }

  /** DescribeProducers (key 61, v0): the idempotence gate's
    * bookkeeping made protocol-visible — per requested partition, the
    * (pid, epoch, last sequence) states the broker remembers, plus
    * the pid's open-transaction start offset when one exists (what
    * `kafka-transactions.sh describe-producers` prints when hunting
    * hanging transactions). Timestamps answer −1: the sequence store
    * deliberately keeps no clock (SURVEY §4 — recency is structural
    * in the LRU order, not a tracked quantity). */
  def handleDescribeProducers(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (correlationId, topics) = decodeDescribeProducersRequest(requestBytes)
    val results = topics.map { case (name, parts) =>
      val log = topicOpt(name)
      val denied = !authz(Acls.OpRead, Acls.ResTopic, name)
      (name, parts.map { p =>
        if (denied) (p, 29, Seq.empty[ActiveProducer])
        else if (!log.exists(_.hasPartition(p))) (p, 3, Seq.empty[ActiveProducer])
        else {
          // sequence states first, then txn starts — the two locks
          // never nest anywhere, keep it that way
          val seqs = producerStates.synchronized {
            producerStates.collect {
              case ((pid, t, part), st) if t == name && part == p =>
                (pid, st.epoch, st.lastSeq)
            }.toSeq
          }
          val producers = txnLock.synchronized {
            val opens = openTxnFirsts.getOrElse((name, p),
              scala.collection.mutable.Map.empty[Long, Long])
            val seqPids = seqs.map(_._1).toSet
            // a transactional pid mid-produce may hold an open range
            // before its first sequence state lands — surface it too
            val txnOnly = opens.keys.filterNot(seqPids).map { pid =>
              val epoch = txnIdByPid.get(pid).flatMap(txns.get)
                .map(_.epoch).getOrElse(-1)
              (pid, epoch, -1)
            }.toSeq
            (seqs ++ txnOnly).map { case (pid, epoch, lastSeq) =>
              val coordBound = txnIdByPid.contains(pid)
              ActiveProducer(pid, epoch, lastSeq, lastTimestamp = -1L,
                coordinatorEpoch = if (coordBound) 0 else -1,
                currentTxnStartOffset = opens.getOrElse(pid, -1L))
            }
          }
          (p, 0, producers.sortBy(_.producerId))
        }
      })
    }
    encodeDescribeProducersResponse(correlationId, results)
  }

  /** The coordinator states this broker distinguishes, in Kafka's
    * vocabulary: an initialized id with no open transaction is Empty,
    * an open one Ongoing. The prepare/complete phases are atomic
    * under txnLock here (no markers to write), so they are never
    * observable — exactly like a coordinator between state flushes. */
  private def txnStateName(st: Broker.TxnState): String =
    if (st.open) "Ongoing" else "Empty"

  /** DescribeTransactions (key 65, v0): named transactional ids →
    * (state, pid, epoch, registered partitions). Unknown ids answer
    * TRANSACTIONAL_ID_NOT_FOUND (105) per entry. The timeout echoes
    * the protocol default — the coordinator accepts but does not
    * enforce client timeouts (no background threads by design, §4);
    * start time answers −1 (untracked, same clocklessness as above). */
  def handleDescribeTransactions(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (correlationId, ids) = decodeDescribeTransactionsRequest(requestBytes)
    val idDenied: Set[String] = ids
      .filterNot(id => authz(Acls.OpDescribe, Acls.ResTransactionalId, id))
      .toSet
    val states = txnLock.synchronized {
      ids.map { id =>
        if (idDenied(id))
          DescribedTxn(53, id, "", 0, -1L, -1L, -1, Seq.empty)
        else txns.get(id) match {
          case Some(st) =>
            val topics = st.partitions.toSeq.groupBy(_._1).toSeq
              .map { case (t, ps) => (t, ps.map(_._2).sorted) }
              .sortBy(_._1)
            DescribedTxn(0, id, txnStateName(st), timeoutMs = 60000,
              startTimeMs = -1L, producerId = st.pid,
              producerEpoch = st.epoch, topics = topics)
          case None =>
            DescribedTxn(105, id, "", 0, -1L, -1L, -1, Seq.empty)
        }
      }
    }
    encodeDescribeTransactionsResponse(correlationId, states)
  }

  /** DescribeLogDirs (key 35, v0): per-partition on-disk bytes by log
    * directory — `kafka-log-dirs.sh`'s RPC. One log dir (the broker
    * root); sizes are manifest-listed bytes (what readers can reach);
    * offset_lag 0 (a leader-only broker has no replica lag) and
    * is_future false (no reassignment machinery). A null topics array
    * describes every hosted partition; named unknown topics are
    * omitted, matching the broker's hosted-partitions-only answer. */
  def handleDescribeLogDirs(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (correlationId, asked) = decodeDescribeLogDirsRequest(requestBytes)
    if (!authz(Acls.OpDescribe, Acls.ResCluster, Acls.ClusterResourceName))
      return encodeDescribeLogDirsResponse(correlationId,
        Seq((31, root, Seq.empty)))
    val wanted: Seq[(String, Seq[Int])] =
      if (asked == null) listTopics().sorted.map(t => (t, null))
      else asked
    // topicOpt (not exists-then-open): a racing delete omits the topic,
    // matching the hosted-partitions-only answer, instead of throwing
    val topics = wanted.flatMap { case (name, parts) =>
      topicOpt(name).map(tl => (name, parts, tl))
    }.map { case (name, parts, tl) =>
      val asked =
        if (parts == null) None
        else Some(parts.filter(tl.hasPartition).toSet)
      val sizes = tl.partitionSizes(asked)
      (name, sizes.keys.toSeq.sorted
        .map(p => (p, sizes.getOrElse(p, 0L), 0L, false)))
    }
    encodeDescribeLogDirsResponse(correlationId, Seq((0, root, topics)))
  }

  /** ListTransactions (key 66, v0): enumerate the coordinator,
    * optionally filtered by state name and producer id. Filter names
    * outside Kafka's state vocabulary are echoed back in
    * unknown_state_filters (matching nothing), per the protocol. */
  def handleListTransactions(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (correlationId, stateFilters, pidFilters) =
      decodeListTransactionsRequest(requestBytes)
    val known = Set("Empty", "Ongoing", "PrepareCommit", "PrepareAbort",
      "CompleteCommit", "CompleteAbort", "Dead", "PrepareEpochFence")
    val unknown = stateFilters.filterNot(known)
    val wanted = stateFilters.filter(known).toSet
    val all = txnLock.synchronized {
      txns.toSeq.map { case (id, st) => (id, st.pid, txnStateName(st)) }
    }.filter { case (id, _, _) =>
      // the listing hides ids the caller cannot DESCRIBE, the
      // Metadata rule for transactional ids
      authz(Acls.OpDescribe, Acls.ResTransactionalId, id)
    }
    // a PROVIDED filter restricts even when every name is unknown —
    // all-unknown filters match NOTHING (the unknown names are echoed
    // back), they do not fall through to "no filter"
    val filtered = all
      .filter { case (_, _, s) => stateFilters.isEmpty || wanted(s) }
      .filter { case (_, pid, _) =>
        pidFilters.isEmpty || pidFilters.contains(pid) }
      .sortBy(_._1)
    encodeListTransactionsResponse(correlationId, unknown, filtered)
  }

  /** ACL surface (keys 29/30/31, v0–v3). Without an authorizer every
    * request answers SECURITY_DISABLED (54) with the message a
    * vanilla no-authorizer Kafka broker gives — `kafka-acls.sh` gets
    * a clean protocol answer where a dropped connection used to be.
    * With [[enableAuthorizer]] on, this IS kafka-acls.sh's admin
    * plane: describing requires DESCRIBE CLUSTER, mutating requires
    * ALTER CLUSTER (31 otherwise), creations validate per Kafka's
    * rules (42 in-band per creation), and every acknowledged mutation
    * is CAS-persisted before the response leaves. */
  def handleDescribeAcls(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (version, correlationId, filter) =
      decodeDescribeAclsRequest(requestBytes)
    authorizerOpt match {
      case None => encodeDescribeAclsResponse(version, correlationId, 54,
        NoAuthorizerMessage, Seq.empty)
      case Some(auth) =>
        if (!authz(Acls.OpDescribe, Acls.ResCluster, Acls.ClusterResourceName))
          encodeDescribeAclsResponse(version, correlationId, 31,
            "principal is not authorized to describe ACLs", Seq.empty)
        else encodeDescribeAclsResponse(version, correlationId, 0, null,
          auth.describe(filter))
    }
  }

  def handleCreateAcls(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (version, correlationId, creations) =
      decodeCreateAclsRequest(requestBytes)
    authorizerOpt match {
      case None => encodeCreateAclsResponse(version, correlationId,
        Seq.fill(creations.length)((54, NoAuthorizerMessage)))
      case Some(auth) =>
        if (!authz(Acls.OpAlter, Acls.ResCluster, Acls.ClusterResourceName))
          encodeCreateAclsResponse(version, correlationId,
            Seq.fill(creations.length)(
              (31, "principal is not authorized to alter ACLs")))
        else {
          val results = creations.map { b =>
            Acls.creationError(b) match {
              case null => (0, null: String)
              case msg => (42, msg)
            }
          }
          auth.add(creations.zip(results).collect {
            case (b, (0, _)) => b
          })
          encodeCreateAclsResponse(version, correlationId, results)
        }
    }
  }

  def handleDeleteAcls(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (version, correlationId, filters) =
      decodeDeleteAclsRequest(requestBytes)
    authorizerOpt match {
      case None => encodeDeleteAclsResponse(version, correlationId,
        filters.map(_ => (54, NoAuthorizerMessage,
          Seq.empty[Acls.AclBinding])))
      case Some(auth) =>
        if (!authz(Acls.OpAlter, Acls.ResCluster, Acls.ClusterResourceName))
          encodeDeleteAclsResponse(version, correlationId,
            filters.map(_ => (31,
              "principal is not authorized to alter ACLs",
              Seq.empty[Acls.AclBinding])))
        else
          encodeDeleteAclsResponse(version, correlationId,
            auth.delete(filters).map(matched => (0, null: String, matched)))
    }
  }

  /** ElectLeaders (key 43, v0): on a single-broker cluster every
    * partition's leader is already this broker — named partitions
    * answer ELECTION_NOT_NEEDED (84), unknown ones 3, and the null
    * "wherever needed" form answers the empty set (nothing needs an
    * election, Kafka's own shape for a no-op run). */
  def handleElectLeaders(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (correlationId, topics) = decodeElectLeadersRequest(requestBytes)
    val clusterAlter =
      authz(Acls.OpAlter, Acls.ResCluster, Acls.ClusterResourceName)
    val results =
      if (topics == null) Seq.empty
      else topics.map { case (name, parts) =>
        val log = topicOpt(name)
        (name, parts.map { p =>
          if (!clusterAlter)
            (p, 31, "principal is not authorized to elect leaders")
          else if (!log.exists(_.hasPartition(p)))
            (p, 3, "unknown topic or partition")
          else (p, 84, "Leader election not needed")
        })
      }
    encodeElectLeadersResponse(correlationId, results)
  }

  /** AlterPartitionReassignments (key 45, v0): a reassignment to
    * exactly [0] is vacuously complete (0 — the replica already
    * lives here), any other target names brokers that don't exist
    * (INVALID_REPLICA_ASSIGNMENT 39), and cancellations find nothing
    * in progress (85). Unknown topics/partitions answer 3. */
  def handleAlterPartitionReassignments(requestBytes: Array[Byte])
      : Array[Byte] = {
    import KafkaWire._
    val (correlationId, topics) =
      decodeAlterPartitionReassignmentsRequest(requestBytes)
    val reassignAllowed =
      authz(Acls.OpAlter, Acls.ResCluster, Acls.ClusterResourceName)
    val results = topics.map { case (name, parts) =>
      val log = topicOpt(name)
      (name, parts.map { case (p, replicas) =>
        if (!reassignAllowed)
          (p, 31, "principal is not authorized to reassign partitions")
        else if (!log.exists(_.hasPartition(p)))
          (p, 3, "unknown topic or partition")
        else if (replicas == null)
          (p, 85, "No reassignment is in progress")
        else if (replicas == Seq(0)) (p, 0, null: String)
        else {
          // name the actual defect: unknown brokers when any are
          // named, else an empty/duplicated list of the real one
          val strangers = replicas.filter(_ != 0).distinct
          val msg =
            if (strangers.nonEmpty) s"unknown brokers: ${strangers.mkString(",")}"
            else if (replicas.isEmpty) "empty replica list"
            else "duplicate replicas"
          (p, 39, msg)
        }
      })
    }
    encodeAlterPartitionReassignmentsResponse(correlationId, results)
  }

  /** ListPartitionReassignments (key 46, v0): always empty — nothing
    * is ever in flight on a broker with nowhere to move replicas. */
  def handleListPartitionReassignments(requestBytes: Array[Byte])
      : Array[Byte] = {
    import KafkaWire._
    val corr = decodeListPartitionReassignmentsRequest(requestBytes)
    if (!authz(Acls.OpDescribe, Acls.ResCluster, Acls.ClusterResourceName))
      encodeListPartitionReassignmentsResponse(corr, 31,
        "principal is not authorized to describe reassignments")
    else encodeListPartitionReassignmentsResponse(corr)
  }

  // --- KIP-227 incremental fetch sessions (Fetch v7+): a
  // many-partition consumer registers its fetch state once (epoch 0
  // full fetch) and then sends only CHANGED partitions; the broker
  // serves the whole remembered set and omits partitions with
  // nothing new. Sessions are pure per-connection metadata (offsets
  // + byte caps + last-reported watermarks), capped at
  // MaxFetchSessions with least-recently-used eviction — an evicted
  // client sees FETCH_SESSION_ID_NOT_FOUND and re-sends a full
  // fetch, exactly the protocol's recovery path. ---

  private val fetchSessions =
    scala.collection.mutable.Map.empty[Int, Broker.FetchSession]
  private var nextFetchSessionId = 0

  /** Resolve the request through the session layer: returns
    * (sessionId, errorCode, effectiveTopics, session). errorCode 70 =
    * FETCH_SESSION_ID_NOT_FOUND, 71 = INVALID_FETCH_SESSION_EPOCH. */
  private def resolveFetchSession(req: KafkaWire.FetchRequest)
      : (Int, Int, Seq[(String, Seq[(Int, Long, Int)])], Option[Broker.FetchSession]) =
    fetchSessions.synchronized {
      if (req.version < 7 || (req.sessionId == 0 && req.sessionEpoch < 0))
        (0, 0, req.topics, None) // sessionless full fetch
      else if (req.sessionEpoch < 0) {
        // FINAL_EPOCH: close the session, serve this one as full
        fetchSessions.remove(req.sessionId)
        (0, 0, req.topics, None)
      } else if (req.sessionEpoch == 0) {
        // full fetch opening a NEW session seeded with its partitions
        if (fetchSessions.size >= Broker.MaxFetchSessions)
          fetchSessions.remove(fetchSessions.minBy(_._2.lastUsedMs)._1)
        nextFetchSessionId += 1
        val s = new Broker.FetchSession
        req.topics.foreach { case (t, ps) =>
          ps.foreach { case (p, off, mb) => s.partitions.put((t, p), (off, mb)) }
        }
        // the opening full fetch serves from position 0, so the first
        // incremental starts one step in — every fetch advances the
        // rotation (see the incremental branch)
        s.servePos = 1
        fetchSessions.put(nextFetchSessionId, s)
        (nextFetchSessionId, 0, req.topics, Some(s))
      } else fetchSessions.get(req.sessionId) match {
        case None => (0, 70, Seq.empty, None)
        case Some(s) if req.sessionEpoch != s.epoch + 1 =>
          (req.sessionId, 71, Seq.empty, None)
        case Some(s) =>
          s.epoch = req.sessionEpoch
          s.lastUsedMs = System.currentTimeMillis()
          // request entries add/update; forgotten entries remove
          req.topics.foreach { case (t, ps) =>
            ps.foreach { case (p, off, mb) => s.partitions.put((t, p), (off, mb)) }
          }
          req.forgotten.foreach { case (t, ps) =>
            ps.foreach { p => s.partitions.remove((t, p)); s.lastHw.remove((t, p)) }
          }
          // the broker serves the session's WHOLE set, ROTATED by a
          // per-session cursor: under a request-level byte budget a
          // fixed order would let early partitions starve late ones
          // indefinitely (the budget exhausts on the same prefix every
          // fetch). Rotating one step per fetch bounds the wait — any
          // partition reaches the front within |session| fetches. A
          // topic may appear as two groups when the rotation splits
          // its run; the response array has no uniqueness constraint
          // and clients merge by (topic, partition).
          val flat = s.partitions.toSeq
          val start = if (flat.isEmpty) 0 else s.servePos % flat.length
          s.servePos = start + 1
          val rotated = flat.drop(start) ++ flat.take(start)
          val effective = rotated
            .foldLeft(Vector.empty[(String, Vector[(Int, Long, Int)])]) {
              case (acc, ((t, p), (off, mb))) =>
                if (acc.nonEmpty && acc.last._1 == t)
                  acc.init :+ ((t, acc.last._2 :+ ((p, off, mb))))
                else acc :+ ((t, Vector((p, off, mb))))
            }
            .map { case (t, ps) => (t, ps: Seq[(Int, Long, Int)]) }
          (req.sessionId, 0, effective, Some(s))
      }
    }

  /** Fetch exchange (v0–v16; flexible from v12): bounded reads from
    * (partition, offset) with BOTH byte limits honored — the
    * per-partition max_bytes and, at v3+, the request-level max_bytes
    * as one running budget across every partition of the response
    * (first record of the response exempt, per the contract, so a
    * large record can't stall the consumer). High watermark = log
    * end, error 1 (OFFSET_OUT_OF_RANGE) past the end, error 3 for
    * unknown topics/partitions. v4+ responses carry magic-2 batches,
    * so stored headers and timestamps reach the consumer; v0–v3 fall
    * back to the headerless message-set format those versions define.
    * v7+ requests route through the KIP-227 session layer; an
    * INCREMENTAL response omits partitions with no records, no error,
    * and an unchanged high watermark since last reported. */
  def handleFetch(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    // v13 (topic-id keying): ids resolve against the hosted topic set;
    // the resolver is lazy, so pre-v13 requests never list the root
    val req0 = decodeFetchRequest(requestBytes,
      topicIdResolverFor(listTopics()))
    val (sessionId, sessionError, effectiveTopics, session) =
      resolveFetchSession(req0)
    if (sessionError != 0)
      return encodeFetchResponse(req0.version, req0.correlationId, Seq.empty,
        sessionError, sessionId)
    val req = req0.copy(topics = effectiveTopics)
    // KIP-74 long-poll: hold the fetch until min_bytes of records
    // accumulate or max_wait_ms expires — what keeps a caught-up
    // consumer from busy-polling empty responses. The wait happens
    // with NO lock held (retention ticks and produces proceed);
    // each wakeup (a wire produce landed, or the 200 ms tick) re-
    // serves, and the caught-up case short-circuits to a manifest
    // read with no Spark job. Session bookkeeping is wakeup-safe:
    // the epoch advanced ONCE above, and re-serving only refreshes
    // lastHw with unchanged values until data actually arrives.
    val deadline = System.currentTimeMillis() +
      math.min(math.max(req.maxWaitMs, 0), Broker.MaxFetchWaitMs).toLong
    var serve = serveFetchPass(req, req0.sessionEpoch, session)
    // an error answer completes the delayed fetch IMMEDIATELY (the
    // DelayedFetch rule) — parking an unknown-topic or unauthorized
    // fetch for max_wait_ms would just delay the client's recovery
    def anyError = serve._2.exists(_._2.exists(_._2 != 0))
    while (serve._1 < req.minBytes && !anyError &&
        System.currentTimeMillis() < deadline) {
      val remaining = deadline - System.currentTimeMillis()
      if (remaining > 0) {
        val w0 = System.currentTimeMillis()
        dataArrived.synchronized { dataArrived.wait(math.min(remaining, 200L)) }
        parkedMsCtx.set(parkedMsCtx.get() + (System.currentTimeMillis() - w0))
      }
      serve = serveFetchPass(req, req0.sessionEpoch, session)
    }
    val (servedBytes, out, lsoMap, codecByTopic) = serve
    // consumer byte-rate quota: meter what this response serves
    // (record payload + per-record framing) and throttle in-band
    val throttleMs = quotaThrottle(Quotas.ConsumerByteRate, req.clientId,
      servedBytes)
    quotaHold(throttleMs)
    encodeFetchResponse(req.version, req.correlationId, out,
      sessionId = sessionId, lso = lsoMap, compressionByTopic = codecByTopic,
      throttleTimeMs = throttleMs)
  }

  /** Signaled after every wire produce that appended records — the
    * long-poll wakeup. Library-side produces (DataFrame writes) don't
    * signal; a waiting fetch still re-serves on its 200 ms tick. */
  private val dataArrived = new Object

  /** One serving pass of a (session-resolved) fetch: everything
    * except decode, session resolution, and the encode — so the
    * long-poll loop can re-run it per wakeup. Returns (served record
    * bytes, response topics, lsoMap, per-topic codec). Runs under the
    * maintenance read lock: it scans data files. */
  private def serveFetchPass(req: KafkaWire.FetchRequest, sessionEpoch: Int,
      session: Option[Broker.FetchSession])
      : (Long, Seq[(String, Seq[(Int, Int, Long, Seq[(Long, KafkaWire.WireRecordV2)])])],
         Map[(String, Int), Long], Map[String, Int]) = {
    val rl = maintenanceLock.readLock()
    rl.lock()
    try serveFetchPassLocked(req, sessionEpoch, session) finally rl.unlock()
  }

  private def serveFetchPassLocked(req: KafkaWire.FetchRequest,
      sessionEpoch: Int, session: Option[Broker.FetchSession])
      : (Long, Seq[(String, Seq[(Int, Int, Long, Seq[(Long, KafkaWire.WireRecordV2)])])],
         Map[(String, Int), Long], Map[String, Int]) = {
    import KafkaWire._
    // request-level byte budget (Fetch v3+): without it a
    // many-partition fetch returns up to nPartitions × partition
    // max_bytes, far past the client's stated response ceiling
    val respBudget: Long =
      if (req.version >= 3 && req.maxBytes > 0) req.maxBytes.toLong
      else Long.MaxValue
    var respUsed = 0L
    var respTaken = 0
    val topicsOut = req.topics.map { case (name, parts) =>
      if (isUnknownIdName(name))
        // v13 sent a topic_id no hosted topic hashes to
        (name, parts.map { case (p, _, _) =>
          (p, 100, -1L, Seq.empty[(Long, WireRecordV2)]) })
      else if (!authz(Acls.OpRead, Acls.ResTopic, name))
        // before the existence check: unauthorized consumers learn 29
        (name, parts.map { case (p, _, _) =>
          (p, 29, -1L, Seq.empty[(Long, WireRecordV2)]) })
      else topicOpt(name) match {
        case None => (name, parts.map { case (p, _, _) =>
          (p, 3, -1L, Seq.empty[(Long, WireRecordV2)]) })
        case Some(log) =>
          val manifest = log.currentManifest()
          val ends = manifest.map(_.ends).getOrElse(log.logEndOffsets())
          (name, parts.map { case (p, off, maxBytes) =>
            val end = ends.getOrElse(p, 0L)
            // read_committed (isolation 1, v4+): nothing at or past the
            // LSO is decided yet, and aborted records are filtered out
            // of the response below (offset gaps, the compaction shape —
            // SURVEY §4 documents the no-control-records design)
            val readCommitted = req.version >= 4 && req.isolationLevel == 1
            val lsoCap = if (readCommitted) lastStableOffset(name, p, end) else end
            val aborted: Seq[(Long, Long)] =
              if (readCommitted) abortedSnapshot(name, p) else Seq.empty
            if (!log.hasPartition(p))
              (p, 3, -1L, Seq.empty[(Long, WireRecordV2)])
            else if (off > end) (p, 1, end, Seq.empty[(Long, WireRecordV2)])
            else if (off == end || off >= lsoCap)
              // caught up (or at the undecided region): provably no
              // rows to serve — no Spark job, which keeps the long-poll
              // wakeup loop at manifest-read cost
              (p, 0, end, Seq.empty[(Long, WireRecordV2)])
            else {
              // bound the collect: per-record wire overhead is ≥ 12
              // bytes + key + value, so limit/12 over-covers the count;
              // the remaining request budget tightens the bound further
              val collectCap =
                math.min(maxBytes.toLong, math.max(respBudget - respUsed, 1L))
              // size model per the SHIPPED format: v0–v3 message sets
              // cost 26 B/record + payload; v4+ magic-2 batches cost a
              // 61 B batch header ONCE plus ~10 B of varints per record
              // + payload + ~2 B per header entry — so the encoded
              // response respects max_bytes beyond the first record
              // (only the first may exceed it, per the Kafka contract)
              val batchOverhead = if (req.version >= 4) 61 else 0
              val perRecordOverhead = if (req.version >= 4) 10 else 26
              var used = batchOverhead
              val picked = Seq.newBuilder[(Long, WireRecordV2)]
              var taken = 0
              var full = false
              // The collect WINDOW advances while everything in it was
              // filtered (an aborted range wider than one window would
              // otherwise return an empty response at an unmoved
              // position — a permanent read_committed stall, unlike
              // compaction, which physically removes rows). Each pass
              // strictly advances fromOff, so the loop terminates at
              // the first kept record, the LSO, or the log end.
              var fromOff = off
              var morePasses = true
              while (!full && taken == 0 && morePasses) {
              // direct parquet range read — no Spark job per fetch
              // (manifest file ranges prune; legacy topics fall back)
              val rows = log.consumeForWireIn(manifest, p, fromOff,
                (collectCap / 12 + 1).toInt, Long.MaxValue)
              morePasses = rows.nonEmpty
              if (rows.nonEmpty)
                fromOff = rows.last.offset + 1
              // STOP at the first record that doesn't fit — including a
              // later smaller one would leave an offset GAP the consumer
              // silently skips past (permanent message loss). The first
              // record always ships so one large record can't stall.
              rows.iterator.takeWhile(_ => !full).foreach { r =>
                val recOffset = r.offset
                if (recOffset >= lsoCap) full = true // undecided region
                else if (aborted.exists { case (lo, hi) =>
                  recOffset >= lo && recOffset <= hi }) {
                  () // aborted record: omitted, an offset gap
                } else {
                  val k = r.key
                  val v = r.value
                  val hdrs = r.headers
                  val ts = r.timestampMs
                  val sz = perRecordOverhead + (if (k == null) 0 else k.length) +
                    (if (v == null) 0 else v.length) +
                    hdrs.map { case (hk, hv) =>
                      hk.length + (if (hv == null) 0 else hv.length) + 2
                    }.sum
                  val fitsPartition = taken == 0 || used + sz <= maxBytes
                  // first record of the whole RESPONSE is exempt from the
                  // request budget, per the contract
                  val fitsRequest = respTaken == 0 || respUsed + sz <= respBudget
                  if (fitsPartition && fitsRequest) {
                    picked += ((recOffset, WireRecordV2(ts, k, v, hdrs)))
                    used += sz
                    taken += 1
                    if (taken == 1) respUsed += batchOverhead
                    respUsed += sz
                    respTaken += 1
                  } else full = true
                }
              }
              } // advancing-window loop
              (p, 0, end, picked.result())
            }
          })
      }
    }
    // session bookkeeping + the KIP-227 response-side omission: an
    // incremental response carries only partitions with something new
    val incremental = session.isDefined && sessionEpoch > 0
    val out = session match {
      case None => topicsOut
      case Some(s) => fetchSessions.synchronized {
        val filtered = topicsOut.map { case (name, parts) =>
          val kept = parts.filter { case (p, err, hw, records) =>
            val key = (name, p)
            val changed = err != 0 || records.nonEmpty ||
              !s.lastHw.get(key).contains(hw)
            s.lastHw.put(key, hw)
            !incremental || changed
          }
          (name, kept)
        }.filter { case (_, parts) => parts.nonEmpty || !incremental }
        filtered
      }
    }
    // v4+ reports the true last_stable_offset (trails the high
    // watermark while transactions are open) — informational at
    // read_uncommitted, the consumer's ceiling at read_committed
    val lsoMap: Map[(String, Int), Long] =
      if (req.version < 4) Map.empty
      else out.flatMap { case (name, parts) =>
        parts.collect { case (p, 0, hw, _) =>
          ((name, p), lastStableOffset(name, p, hw))
        }
      }.toMap
    // a topic's `compression.type` override picks its serving codec
    // (v4+ magic-2 only); "producer", the default, serves uncompressed
    // (graft re-encodes from the columnar log at fetch time). Byte
    // accounting above sizes the uncompressed form, which a codec only
    // shrinks, so max_bytes holds.
    val codecByTopic: Map[String, Int] =
      if (req.version < 4) Map.empty
      else out.flatMap { case (name, _) =>
        TopicLog.configOverrides(root, name).get("compression.type")
          .flatMap(Broker.CompressionTypes.get).filter(_ >= 0)
          .map(name -> _)
      }.toMap
    val servedBytes = out.iterator.flatMap(_._2.iterator)
      .map { case (_, _, _, recs) =>
        recs.iterator.map { case (_, r) =>
          12L + (if (r.key == null) 0 else r.key.length) +
            (if (r.value == null) 0 else r.value.length)
        }.sum
      }.sum
    (servedBytes, out, lsoMap, codecByTopic)
  }

  // --- wire-level group membership (JoinGroup/SyncGroup/Heartbeat/
  // LeaveGroup v0) over the metadata-only [[GroupCoordinator]]: the
  // broker brokers opaque subscription/assignment bytes; the leader
  // MEMBER computes assignments (graft's Assignors), per the protocol.

  /** JoinGroup v0–v9. At v4+ an EMPTY member id triggers the
    * protocol's two-step: the coordinator reserves an id and answers
    * MEMBER_ID_REQUIRED (79); the client's rejoin with that id is
    * then admitted from the pending set. Static membership
    * (group_instance_id) is decoded but not tracked — every member
    * is dynamic, so the response echoes null instance ids. */
  def handleJoinGroup(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeJoinGroupRequest(requestBytes)
    if (!authz(Acls.OpRead, Acls.ResGroup, req.group))
      return encodeJoinGroupResponse(req.version, req.correlationId, 30,
        -1, null, "", "", Option(req.memberId).getOrElse(""), Seq.empty)
    val clientId = Option(req.clientId).getOrElse("client")
    val memberId = Option(req.memberId).getOrElse("")
    val static = req.groupInstanceId != null && req.groupInstanceId.nonEmpty
    // static members skip the MEMBER_ID_REQUIRED two-step: their
    // instance id already identifies them across restarts (KIP-345)
    if (req.version >= 4 && memberId.isEmpty && !static) {
      val id = coordinator.reserveMemberId(req.group, clientId, req.sessionTimeoutMs)
      encodeJoinGroupResponse(req.version, req.correlationId,
        GroupCoordinator.MemberIdRequired, -1, req.protocolType, "", "", id,
        Seq.empty)
    } else {
      val r = coordinator.join(req.group, memberId, clientId, "",
        req.sessionTimeoutMs, req.protocolType, req.protocols,
        req.groupInstanceId)
      encodeJoinGroupResponse(req.version, req.correlationId, r.errorCode,
        r.generationId, if (r.errorCode == 0) req.protocolType else null,
        r.protocol, r.leaderId, r.memberId,
        r.members.map { case (id, meta) =>
          (id, coordinator.memberInstanceIds(req.group).get(id).orNull, meta)
        }, r.skipAssignment)
    }
  }

  def handleSyncGroup(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeSyncGroupRequest(requestBytes)
    if (!authz(Acls.OpRead, Acls.ResGroup, req.group))
      return encodeSyncGroupResponse(req.version, req.correlationId, 30,
        req.protocolType, req.protocolName, null)
    val (err, assignment) =
      coordinator.sync(req.group, req.generationId, req.memberId,
        req.assignments, req.groupInstanceId)
    encodeSyncGroupResponse(req.version, req.correlationId, err,
      req.protocolType, req.protocolName,
      if (assignment.isEmpty) null else assignment)
  }

  def handleHeartbeat(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeHeartbeatRequest(requestBytes)
    encodeHeartbeatResponse(req.version, req.correlationId,
      if (!authz(Acls.OpRead, Acls.ResGroup, req.group)) 30
      else coordinator.heartbeat(req.group, req.generationId, req.memberId,
        req.groupInstanceId))
  }

  /** LeaveGroup v0–v5; v3+ leaves a batch of members with per-member
    * error codes (top-level error 0 — per-member results carry the
    * detail, matching the protocol's shape). */
  def handleLeaveGroup(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeLeaveGroupRequest(requestBytes)
    if (!authz(Acls.OpRead, Acls.ResGroup, req.group))
      return encodeLeaveGroupResponse(req.version, req.correlationId, 30,
        req.members.map { case (id, gii, _) => (id, gii, 30) })
    val results = req.members.map { case (id, gii, _) =>
      (id, gii, coordinator.leave(req.group, id, gii))
    }
    if (req.version <= 2)
      encodeLeaveGroupResponse(req.version, req.correlationId,
        results.head._3, Seq.empty)
    else
      encodeLeaveGroupResponse(req.version, req.correlationId, 0, results)
  }

  /** FindCoordinator v0–v4: a single-broker graft is every key's
    * coordinator (group or transaction alike). */
  def handleFindCoordinator(requestBytes: Array[Byte], host: String,
      port: Int): Array[Byte] = {
    import KafkaWire._
    val req = decodeFindCoordinatorRequest(requestBytes)
    encodeFindCoordinatorResponse(req.version, req.correlationId,
      req.keys.map { k =>
        // DESCRIBE on the keyed resource: group keys need the GROUP,
        // transaction keys the TRANSACTIONAL_ID (30/53 otherwise)
        val err =
          if (req.keyType == 1) {
            if (authz(Acls.OpDescribe, Acls.ResTransactionalId, k)) 0 else 53
          } else if (authz(Acls.OpDescribe, Acls.ResGroup, k)) 0 else 30
        (k, err, 0, host, port)
      })
  }

  // --- wire-level admin (CreateTopics/DeleteTopics/DeleteRecords/
  // ListGroups/DescribeGroups v0) over the engine primitives that
  // already served the library surface.

  /** CreateTopics v0: 36 TOPIC_ALREADY_EXISTS, 37 INVALID_PARTITIONS. */
  /** CreateTopics v0–v7. −1 partitions / replication take the broker
    * defaults (1 each — what `NewTopic(name)` with empty optionals
    * sends); explicit replication beyond this broker answers 38;
    * manual assignments are honored when they describe exactly this
    * broker (contiguous partitions, every replica list [0]) and 39
    * otherwise; request configs validate like AlterConfigs (40/42)
    * and land in `_config.json` with the create. validate_only (v1+)
    * runs every check and creates nothing. v5+ responses echo the
    * created topic's partition count and effective config set
    * (source 1 = the override the request itself set, 5 = default);
    * v7 adds the topic_id. */
  def handleCreateTopics(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeCreateTopicsRequest(requestBytes)
    // CREATE on the cluster authorizes every creation; else per-topic
    // CREATE (the standard two-level rule)
    val clusterCreate =
      authz(Acls.OpCreate, Acls.ResCluster, Acls.ClusterResourceName)
    val results = req.topics.map { t =>
      if (!clusterCreate && !authz(Acls.OpCreate, Acls.ResTopic, t.name))
        CreatedTopic(t.name, 29, "principal is not authorized to create",
          -1, -1, null)
      else {
      val assignedParts =
        if (t.assignments.isEmpty) -1 else t.assignments.length
      val numPartitions =
        if (assignedParts > 0) assignedParts
        else if (t.numPartitions == -1) 1
        else t.numPartitions
      val alreadyExists = (36, s"topic '${t.name}' already exists")
      val checked: (Int, String) =
        if (topicExists(t.name)) alreadyExists
        else if (t.assignments.nonEmpty && t.numPartitions > 0)
          (42, "num_partitions and replica assignments are exclusive")
        else if (t.assignments.nonEmpty &&
            (t.assignments.map(_._1).sorted != (0 until assignedParts) ||
             t.assignments.exists(_._2 != Seq(0))))
          (39, "assignments must cover partitions 0..n-1 on broker 0")
        else if (numPartitions <= 0) (37, s"invalid partitions $numPartitions")
        else if (t.replicationFactor != -1 && t.replicationFactor != 1)
          (38, "single-broker cluster: replication factor must be 1")
        else Option(topicConfigError(t.configs)) match {
          case Some(msg) if msg.startsWith("unknown") ||
              msg.startsWith("invalid value") => (40, msg)
          case Some(msg) => (42, msg)
          case None => (0, null)
        }
      val overrides = t.configs.filter(_._2 != null).toMap
      // a rival CreateTopics can win between the check above and the
      // create: its `_meta.json` link stands, this one answers 36
      val err =
        if (checked._1 != 0 || req.validateOnly) checked
        else try {
          createTopic(t.name, numPartitions)
          if (overrides.nonEmpty)
            TopicLog.writeConfigOverrides(root, t.name, overrides)
          checked
        } catch { case _: FileAlreadyExistsException => alreadyExists }
      val configs =
        if (err._1 != 0) null
        else Broker.TopicConfigDefaults.map { case (n, d) =>
          overrides.get(n) match {
            case Some(v) => (n, v, 1) // dynamic topic config
            case None => (n, d, 5) // default
          }
        }
      CreatedTopic(t.name, err._1, err._2,
        if (err._1 == 0) numPartitions else -1,
        if (err._1 == 0) 1 else -1, configs)
      }
    }
    encodeCreateTopicsResponse(req.version, req.correlationId, results)
  }

  /** DeleteTopics v0–v6: 3 UNKNOWN_TOPIC_OR_PARTITION for absent
    * names; v6 requests may address topics by id — an unresolvable
    * id answers UNKNOWN_TOPIC_ID (100) with the id echoed and a null
    * name, per KIP-516. */
  def handleDeleteTopics(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeDeleteTopicsRequest(requestBytes)
    val resolve = topicIdResolverFor(listTopics())
    val zero = Seq.fill(16)(0: Byte)
    val results = req.topics.map { case (nameIn, id) =>
      val name =
        if (nameIn != null || id == null || id.toSeq == zero) nameIn
        else resolve(id).orNull
      if (name == null && nameIn == null)
        (null: String, id, 100, "unknown topic id")
      else if (name != null && !authz(Acls.OpDelete, Acls.ResTopic, name))
        (name, id, 29, "principal is not authorized to delete")
      else if (name == null || !topicExists(name))
        (name, id, 3, s"topic '$name' not found")
      else {
        deleteTopic(name)
        (name, if (id != null && id.toSeq != zero) id else topicUuid(name),
          0, null: String)
      }
    }
    encodeDeleteTopicsResponse(req.version, req.correlationId, results)
  }

  /** DeleteRecords v0–v2 over [[TopicLog.truncateBefore]]: offset −1
    * means "to the log end" per the protocol; the response reports
    * each partition's new low watermark. */
  def handleDeleteRecords(requestBytes: Array[Byte]): Array[Byte] = {
    // truncateBefore is a data-dir rewrite — same exclusion against
    // in-flight wire produces as retention/compaction
    val wl = maintenanceLock.writeLock()
    wl.lock()
    try handleDeleteRecordsLocked(requestBytes) finally wl.unlock()
  }

  private def handleDeleteRecordsLocked(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeDeleteRecordsRequest(requestBytes)
    val results = req.topics.map { case (name, parts) =>
      if (!authz(Acls.OpDelete, Acls.ResTopic, name))
        (name, parts.map { case (p, _) => (p, -1L, 29) })
      else topicOpt(name) match {
        case None => (name, parts.map { case (p, _) => (p, -1L, 3) })
        case Some(log) =>
          val ends = log.logEndOffsets() // one manifest read per topic
          (name, parts.map { case (p, off) =>
            if (!log.hasPartition(p)) (p, -1L, 3)
            else {
              val end = ends.getOrElse(p, 0L)
              val target = if (off == -1L) end else off
              if (target > end) (p, -1L, 1) // OFFSET_OUT_OF_RANGE
              else {
                log.truncateBefore(p, target)
                // re-read: the truncate just advanced this partition's
                // start, and earlier iterations may have advanced others
                (p, log.logStartOffsets().getOrElse(p, 0L), 0)
              }
            }
          })
      }
    }
    encodeDeleteRecordsResponse(req.version, req.correlationId, results)
  }

  /** DescribeConfigs v0–v4: a static read-only config echo — the
    * first RPC admin tooling sends after Metadata. A topic resource
    * answers the operational contract graft actually provides
    * (delete+compact cleanup via expire()/compact(), producer-chosen
    * compression, unlimited retention until expire() is invoked);
    * the broker resource echoes its identity and serving knobs.
    * Unknown topics answer 3 per resource; resource types graft has
    * no configs for answer INVALID_REQUEST (42). An optional
    * configuration_keys filter projects the echo. */
  def handleDescribeConfigs(requestBytes: Array[Byte],
      advertisedHost: String, port: Int): Array[Byte] = {
    import KafkaWire._
    val req = decodeDescribeConfigsRequest(requestBytes)
    val results = req.resources.map { case (rType, rName, keys) =>
      def project(configs: Seq[(String, String, Boolean)]) = keys match {
        case None => configs
        case Some(ks) => configs.filter { case (n, _, _) => ks.contains(n) }
      }
      // DESCRIBE_CONFIGS on the named resource (broker configs sit
      // under the cluster resource); denied resources answer 29/31
      // in-band like any other per-resource failure
      val authOk = rType match {
        case ConfigResourceTopic =>
          authz(Acls.OpDescribeConfigs, Acls.ResTopic, rName)
        case ConfigResourceGroup =>
          authz(Acls.OpDescribeConfigs, Acls.ResGroup, rName)
        case ConfigResourceBroker =>
          authz(Acls.OpDescribeConfigs, Acls.ResCluster,
            Acls.ClusterResourceName)
        case _ => true // unsupported types answer 42 below regardless
      }
      if (!authOk)
        (if (rType == ConfigResourceBroker) 31 else 29,
          "principal is not authorized to describe configs", rType, rName,
          Seq.empty[(String, String, Boolean)])
      else rType match {
        case ConfigResourceBroker =>
          (0, null: String, rType, rName, project(Seq(
            "broker.id" -> "0",
            "advertised.listeners" -> s"PLAINTEXT://$advertisedHost:$port",
            "log.dirs" -> root,
            "compression.type" -> "producer",
            "message.max.bytes" -> (64 * 1024 * 1024).toString,
            "auto.create.topics.enable" -> "false")
            .map { case (n, v) => (n, v, false) }))
        case ConfigResourceTopic if topicExists(rName) =>
          val overrides = TopicLog.configOverrides(root, rName)
          (0, null: String, rType, rName, project(
            Broker.TopicConfigDefaults.map { case (n, dflt) =>
              overrides.get(n) match {
                case Some(v) => (n, v, true)
                case None => (n, dflt, false)
              }
            }))
        case ConfigResourceGroup =>
          // group configs exist by name (no liveness precondition)
          val overrides = groupConfigOverrides(rName)
          (0, null: String, rType, rName, project(
            Broker.GroupConfigDefaults.map { case (n, dflt) =>
              overrides.get(n) match {
                case Some(v) => (n, v, true)
                case None => (n, dflt, false)
              }
            }))
        case ConfigResourceTopic =>
          (3, s"topic '$rName' not found", rType, rName,
            Seq.empty[(String, String, Boolean)])
        case other =>
          (42, s"unsupported resource type $other", rType, rName,
            Seq.empty[(String, String, Boolean)])
      }
    }
    encodeDescribeConfigsResponse(req.version, req.correlationId, results)
  }

  /** Validates one override set against [[Broker.TopicConfigDefaults]]:
    * unknown keys and non-numeric values for numeric configs answer
    * INVALID_CONFIG (40) — the enforcement hooks (retention, size
    * gate) must never meet an unparseable stored value; values
    * carrying quotes/backslashes/control chars answer 42 (keeps the
    * flat `_config.json` read regex exact). Returns null when valid.
    * Public on the instance's behalf via [[Broker.topicConfigError]]
    * — the SQL catalog's ALTER TABLE path validates with the same
    * rules the wire config APIs apply. */
  private def topicConfigError(configs: Seq[(String, String)]): String =
    Broker.topicConfigError(configs)

  /** AlterConfigs v0–v2: the pre-KIP-339 API — the request's config
    * set REPLACES the topic's whole override set (the legacy
    * semantics kafka-configs.sh had before --alter went incremental;
    * served faithfully, footgun included). Unknown topics answer 3,
    * unknown config keys 40, broker resources 42 (static on a single
    * broker), validate_only checks without applying. */
  def handleAlterConfigs(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeAlterConfigsRequest(requestBytes)
    val responses = req.resources.map { case (rType, rName, configs) =>
      if (rType != ConfigResourceTopic)
        (42, "only topic configs are alterable on a single broker", rType, rName)
      else if (!authz(Acls.OpAlterConfigs, Acls.ResTopic, rName))
        (29, "principal is not authorized to alter configs", rType, rName)
      else if (!topicExists(rName))
        (3, s"topic '$rName' not found", rType, rName)
      else topicConfigError(configs) match {
        case null =>
          if (!req.validateOnly)
            TopicLog.writeConfigOverrides(root, rName,
              configs.filter(_._2 != null).toMap)
          (0, null: String, rType, rName)
        case msg if msg.startsWith("unknown") ||
            msg.startsWith("invalid value") => (40, msg, rType, rName)
        case msg => (42, msg, rType, rName)
      }
    }
    encodeAlterConfigsResponse(req.version, req.correlationId, responses)
  }

  /** IncrementalAlterConfigs v0–v1: the KIP-339 API current admin
    * tooling sends — per-key SET/DELETE against the stored override
    * set (APPEND/SUBTRACT answer 42: no list-typed config exists in
    * the allowed set). Validation as [[handleAlterConfigs]]; the
    * merged set replaces `_config.json` atomically. */
  def handleIncrementalAlterConfigs(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeIncrementalAlterConfigsRequest(requestBytes)
    val responses = req.resources.map { case (rType, rName, configs) =>
      if (rType == ConfigResourceGroup) {
        // group configs (KIP-848/932): exist by NAME, no liveness
        // precondition — exactly kafka-configs --entity-type groups
        if (!authz(Acls.OpAlterConfigs, Acls.ResGroup, rName))
          (30, "principal is not authorized to alter group configs",
            rType, rName)
        else if (configs.exists(c => c._2 != 0 && c._2 != 1))
          (42, "APPEND/SUBTRACT need a list-typed config; none exists here",
            rType, rName)
        else if (configs.map(_._1).distinct.size != configs.size)
          (42, "duplicate config key in one request", rType, rName)
        else if (rName == null || rName.isEmpty)
          (42, "empty group name", rType, rName)
        else Broker.groupConfigError(
          configs.collect { case (n, 0, v) => (n, v) }) match {
          case null =>
            if (!req.validateOnly) {
              val cur = groupConfigOverrides(rName)
              val sets = configs.collect { case (n, 0, v) if v != null => n -> v }
              val dels = configs.collect { case (n, 1, _) => n }
              writeGroupConfigOverrides(rName, cur ++ sets -- dels)
            }
            (0, null: String, rType, rName)
          case msg if msg.startsWith("unknown") ||
              msg.startsWith("invalid value") => (40, msg, rType, rName)
          case msg => (42, msg, rType, rName)
        }
      }
      else if (rType != ConfigResourceTopic)
        (42, "only topic and group configs are alterable on a single broker",
          rType, rName)
      else if (!authz(Acls.OpAlterConfigs, Acls.ResTopic, rName))
        (29, "principal is not authorized to alter configs", rType, rName)
      else if (!topicExists(rName))
        (3, s"topic '$rName' not found", rType, rName)
      else if (configs.exists(c => c._2 != 0 && c._2 != 1))
        (42, "APPEND/SUBTRACT need a list-typed config; none exists here",
          rType, rName)
      else if (configs.map(_._1).distinct.size != configs.size)
        // Kafka rejects duplicate keys in one incremental request —
        // op order would otherwise decide SET-then-DELETE races
        (42, "duplicate config key in one request", rType, rName)
      else topicConfigError(configs.collect { case (n, 0, v) => (n, v) }) match {
        case null =>
          if (!req.validateOnly) {
            val cur = TopicLog.configOverrides(root, rName)
            val sets = configs.collect { case (n, 0, v) if v != null => n -> v }
            val dels = configs.collect { case (n, 1, _) => n }
            TopicLog.writeConfigOverrides(root, rName, cur ++ sets -- dels)
          }
          (0, null: String, rType, rName)
        case msg if msg.startsWith("unknown") ||
            msg.startsWith("invalid value") => (40, msg, rType, rName)
        case msg => (42, msg, rType, rName)
      }
    }
    encodeIncrementalAlterConfigsResponse(req.version, req.correlationId,
      responses)
  }

  /** Applies each topic's stored `retention.ms` override (when set
    * and positive) by expiring records older than now − retention —
    * the enforcement half of the dynamic-config loop, explicit by
    * design: the engine has no background threads (SURVEY §4), so a
    * caller (or an operator's maintenance job) invokes this the way
    * compaction is invoked. Returns (topic, retentionMs) applied. */
  def applyRetention(nowMs: Long = System.currentTimeMillis()): Seq[(String, Long)] = {
    val wl = maintenanceLock.writeLock()
    wl.lock()
    try listTopics().flatMap { name =>
      val conf = TopicLog.configOverrides(root, name)
      val timeApplied = conf.get("retention.ms")
        .flatMap(v => scala.util.Try(v.toLong).toOption).filter(_ > 0)
        .map { ret =>
          topic(name).expire(new java.sql.Timestamp(nowMs - ret))
          (name, ret)
        }
      // size-based retention runs AFTER time-based (Kafka applies
      // both; time may already have shed enough bytes): oldest files
      // dropped per partition until the remainder fits
      conf.get("retention.bytes")
        .flatMap(v => scala.util.Try(v.trim.toLong).toOption).filter(_ > 0)
        .foreach(cap => topic(name).enforceSizeRetention(cap))
      timeApplied
    } finally wl.unlock()
  }

  /** Enforce `cleanup.policy`: compact topics whose policy names
    * "compact" — the log-cleaner behavior. `minDirtyRatio` gates the
    * whole-topic rewrite the way Kafka's min.cleanable.dirty.ratio
    * gates its cleaner: a topic compacts only when the fraction of
    * its bytes accumulated since the last compaction reaches the
    * threshold (per-topic `min.cleanable.dirty.ratio` override wins
    * over the argument; the default 0 preserves the explicit
    * compact-everything call). Runs under the maintenance write lock
    * like [[applyRetention]]. Returns the compacted topics. */
  def applyCompaction(minDirtyRatio: Double = 0.0): Seq[String] = {
    val wl = maintenanceLock.writeLock()
    wl.lock()
    try listTopics().filter { name =>
      val conf = TopicLog.configOverrides(root, name)
      conf.get("cleanup.policy")
        .exists(_.split(",").map(_.trim).contains("compact")) && {
        val threshold = conf.get("min.cleanable.dirty.ratio")
          .flatMap(v => scala.util.Try(v.trim.toDouble).toOption)
          .getOrElse(minDirtyRatio)
        threshold <= 0.0 || topic(name).dirtyRatio >= threshold
      }
    }.map { name => topic(name).compact(); name }
    finally wl.unlock()
  }

  /** Retire every topic's manifest history with
    * [[TopicLog.retireHistory]] (keeping its default newest versions).
    * Without it a topic's `_manifests` grows by one version per
    * produce for its whole life and every resolve lists them all. It
    * deletes no data files — orphan cleanup stays with an explicit
    * [[TopicLog.vacuum]] — so it needs no maintenance lock. A topic
    * that fails (say, deleted meanwhile) is reported and skipped; the
    * rest still run. Returns the topics retired. */
  def retireManifestHistory(): Seq[String] =
    listTopics().filter { name =>
      try { topic(name).retireHistory(); true }
      catch {
        case e: Exception =>
          Broker.log.warn("manifest retirement failed topic={} error={}", name, e.toString)
          false
      }
    }

  /** CreatePartitions v0–v3: grow a topic's partition count — what
    * kafka-topics.sh --alter --partitions N sends. Kafka semantics
    * preserved: count only increases (≤ current answers
    * INVALID_PARTITIONS 37 with the current count named), unknown
    * topics answer 3, manual broker assignments answer
    * INVALID_REQUEST 42 (meaningless on a single broker),
    * validate_only checks without applying. Expansion is an atomic
    * _meta.json rewrite; new partitions start empty at offset 0.
    * Expansions serialize, so a racing smaller count answers 37. */
  def handleCreatePartitions(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeCreatePartitionsRequest(requestBytes)
    val results = req.topics.map { case (name, count, manualAssign) =>
      if (!authz(Acls.OpAlter, Acls.ResTopic, name))
        (name, 29, "principal is not authorized to alter")
      else expansionLock.synchronized {
        topicOpt(name) match {
          case None => (name, 3, s"topic '$name' not found")
          case Some(_) if manualAssign =>
            (name, 42, "manual assignments are not supported on a single broker")
          case Some(log) if count <= log.numPartitions =>
            (name, 37, s"topic '$name' already has ${log.numPartitions} partitions")
          case Some(_) =>
            // a DeleteTopics can still land after the lookup
            try {
              if (!req.validateOnly) TopicLog.expandPartitions(root, name, count)
              (name, 0, null: String)
            } catch { case _: NoSuchFileException => (name, 3, s"topic '$name' not found") }
        }
      }
    }
    encodeCreatePartitionsResponse(req.version, req.correlationId, results)
  }

  /** Serializes CreatePartitions' read-compare-rewrite of `_meta.json`. */
  private val expansionLock = new Object

  /** OffsetDelete v0: drop a group's committed offsets for named
    * partitions — kafka-consumer-groups.sh --delete-offsets. A group
    * with LIVE members answers GROUP_SUBSCRIBED_TO_TOPIC (86) per
    * partition (single-broker simplification: membership is not
    * parsed for per-topic subscriptions, so any live group protects
    * all its offsets); a group with no committed offsets anywhere
    * and no coordinator state answers GROUP_ID_NOT_FOUND (69);
    * otherwise offsets delete via the same CAS-versioned files that
    * committed them, unknown topics answering 3 per partition. */
  def handleOffsetDelete(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeOffsetDeleteRequest(requestBytes)
    if (!authz(Acls.OpDelete, Acls.ResGroup, req.group))
      return encodeOffsetDeleteResponse(req.correlationId, 30,
        req.topics.map { case (t, ps) => (t, ps.map(p => (p, 30))) })
    val live = coordinator.describe(req.group).exists(_._4.nonEmpty)
    val known = live || listGroups().exists(_._1 == req.group)
    if (!known)
      return encodeOffsetDeleteResponse(req.correlationId, 69,
        req.topics.map { case (t, ps) => (t, ps.map(p => (p, 69))) })
    val topicsOut = req.topics.map { case (tName, parts) =>
      if (!authz(Acls.OpRead, Acls.ResTopic, tName))
        (tName, parts.map(p => (p, 29)))
      else topicOpt(tName) match {
        case None => (tName, parts.map(p => (p, 3)))
        case Some(_) if live => (tName, parts.map(p => (p, 86)))
        case Some(log) =>
          log.deleteOffsets(req.group, parts)
          (tName, parts.map(p => (p, 0)))
      }
    }
    encodeOffsetDeleteResponse(req.correlationId, 0, topicsOut)
  }

  /** DeleteGroups v0–v2: drop a consumer group entirely —
    * coordinator state AND committed offsets on every topic
    * (kafka-consumer-groups.sh --delete). A group with live members
    * answers NON_EMPTY_GROUP (68); one known to neither the
    * coordinator nor any topic's offset store answers
    * GROUP_ID_NOT_FOUND (69). Unlike OffsetDelete this removes the
    * group's identity, not named partitions — re-joining later
    * starts from a blank slate. */
  def handleDeleteGroups(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (version, correlationId, groupIds) =
      decodeDeleteGroupsRequest(requestBytes)
    val results = groupIds.map { g =>
      if (!authz(Acls.OpDelete, Acls.ResGroup, g)) (g, 30)
      else {
      val offsetLogs = listTopics().flatMap(topicOpt).filter(_.listGroups().contains(g))
      if (offsetLogs.isEmpty && coordinator.describe(g).isEmpty) (g, 69)
      else if (!coordinator.removeGroup(g)) (g, 68)
      else {
        offsetLogs.foreach(_.deleteGroup(g))
        (g, 0)
      }
      }
    }
    encodeDeleteGroupsResponse(version, correlationId, results)
  }

  /** OffsetForLeaderEpoch v0–v4: the truncation-detection probe
    * (KIP-101/279). On a single broker every partition's whole
    * history is leader epoch 0, so: requested epoch 0 answers
    * (epoch 0, log end offset) — "nothing you hold is truncated";
    * any other requested epoch answers Kafka's undefined shape
    * (error 0, epoch -1, offset -1); a current_leader_epoch ahead
    * of ours (v2+, > 0) answers UNKNOWN_LEADER_EPOCH (75) — a
    * FENCED (74) case cannot arise at a permanent epoch 0. Unknown
    * topics/partitions answer 3 per partition. */
  def handleOffsetForLeaderEpoch(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeOffsetForLeaderEpochRequest(requestBytes)
    val topicsOut = req.topics.map { case (name, parts) =>
      if (!authz(Acls.OpDescribe, Acls.ResTopic, name))
        (name, parts.map { case (p, _, _) => (29, p, -1, -1L) })
      else topicOpt(name) match {
        case None => (name, parts.map { case (p, _, _) => (3, p, -1, -1L) })
        case Some(log) =>
          val ends = log.logEndOffsets()
          (name, parts.map { case (p, curEpoch, epoch) =>
            if (!log.hasPartition(p)) (3, p, -1, -1L)
            else if (curEpoch > 0) (75, p, -1, -1L)
            else if (epoch == 0) (0, p, 0, ends.getOrElse(p, 0L))
            else (0, p, -1, -1L)
          })
      }
    }
    encodeOffsetForLeaderEpochResponse(req.version, req.correlationId,
      topicsOut)
  }

  /** DescribeCluster v0: this broker, which is also the controller. */
  def handleDescribeCluster(requestBytes: Array[Byte],
      advertisedHost: String, port: Int): Array[Byte] = {
    import KafkaWire._
    val (correlationId, _) = decodeDescribeClusterRequest(requestBytes)
    encodeDescribeClusterResponse(correlationId, clusterId = "graft",
      controllerId = 0, brokers = Seq((0, advertisedHost, port, null)))
  }

  /** CreateDelegationToken (key 38, v0–v3): mint a token for the
    * authenticated principal (or, at v3, another owner — which needs
    * CREATE_TOKENS on that User resource when the authorizer is on).
    * Fenced on unauthenticated and token-authenticated channels (64,
    * Kafka's escalation-loop rule); non-User principals answer 67. */
  def handleCreateDelegationToken(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (version, corr, ownerOverride, renewers, maxLifetimeMs) =
      decodeCreateDelegationTokenRequest(requestBytes)
    def fail(err: Int) = encodeCreateDelegationTokenResponse(version, corr,
      err, "", "", -1L, -1L, -1L, "", Array.emptyByteArray)
    val kind = authKindCtx.get()
    if (kind != 1) return fail(64) // DELEGATION_TOKEN_REQUEST_NOT_ALLOWED
    val principal = authCtx.get()._1
    val owner = if (ownerOverride == null) principal else ownerOverride
    if ((renewers :+ owner).exists(p => p == null || !p.startsWith("User:")))
      return fail(67) // INVALID_PRINCIPAL_TYPE
    if (owner != principal &&
        !authz(Acls.OpCreateTokens, Acls.ResUser, Acls.principalName(owner)))
      return fail(65) // DELEGATION_TOKEN_AUTHORIZATION_FAILED
    delegationTokens.create(owner, principal, renewers, maxLifetimeMs,
      System.currentTimeMillis()) match {
      case None => fail(42) // token population at the MaxTokens cap
      case Some(t) =>
        encodeCreateDelegationTokenResponse(version, corr, 0, t.owner,
          t.requester, t.issueTs, t.expiryTs, t.maxTs, t.tokenId, t.hmac)
    }
  }

  /** RenewDelegationToken (key 39, v0–v2): owner or a named renewer,
    * holding the HMAC; 62/63/66 per the lifecycle. */
  def handleRenewDelegationToken(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (version, corr, hmac, periodMs) =
      decodeRenewDelegationTokenRequest(requestBytes)
    if (authKindCtx.get() != 1)
      return encodeTokenExpiryResponse(version, corr, 64, -1L)
    delegationTokens.renew(hmac, authCtx.get()._1, periodMs,
      System.currentTimeMillis()) match {
      case Left(err) => encodeTokenExpiryResponse(version, corr, err, -1L)
      case Right(expiry) => encodeTokenExpiryResponse(version, corr, 0, expiry)
    }
  }

  /** ExpireDelegationToken (key 40, v0–v2): −1 deletes outright. */
  def handleExpireDelegationToken(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (version, corr, hmac, periodMs) =
      decodeExpireDelegationTokenRequest(requestBytes)
    def answer(err: Int, expiry: Long) =
      encodeTokenExpiryResponse(version, corr, err, expiry, ExpireDelegationToken)
    if (authKindCtx.get() != 1) return answer(64, -1L)
    delegationTokens.expire(hmac, authCtx.get()._1, periodMs,
      System.currentTimeMillis()) match {
      case Left(err) => answer(err, -1L)
      case Right(expiry) => answer(0, expiry)
    }
  }

  /** DescribeDelegationToken (key 41, v0–v3): null owners = every
    * token the caller may see — their own (owner, requester, or
    * renewer) plus, under the authorizer, owners they hold
    * DESCRIBE_TOKENS on; an open broker shows all. Allowed on
    * token-authenticated channels (only the mutations are fenced),
    * not on unauthenticated ones. */
  def handleDescribeDelegationToken(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (version, corr, owners) =
      decodeDescribeDelegationTokenRequest(requestBytes)
    if (authKindCtx.get() == 0)
      return encodeDescribeDelegationTokenResponse(version, corr, 64,
        Seq.empty)
    val principal = authCtx.get()._1
    val visible: DelegationTokens.Token => Boolean = t =>
      authorizerOpt.isEmpty || t.owner == principal ||
        t.requester == principal || t.renewers.contains(principal) ||
        authz(Acls.OpDescribeTokens, Acls.ResUser,
          Acls.principalName(t.owner))
    val described = delegationTokens.describe(owners, visible).map { t =>
      DescribedToken(t.owner, t.requester, t.issueTs, t.expiryTs, t.maxTs,
        t.tokenId, t.hmac, t.renewers)
    }
    encodeDescribeDelegationTokenResponse(version, corr, 0, described)
  }

  /** DescribeClientQuotas (key 48, v0–v1): the stored quota entities
    * matching the request's components — `kafka-configs --describe
    * --entity-type clients|users`. Requires DESCRIBE_CONFIGS on the
    * cluster when the authorizer is on (31); malformed components
    * answer 42. */
  def handleDescribeClientQuotas(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (version, corr, components, strict) =
      decodeDescribeClientQuotasRequest(requestBytes)
    if (!authz(Acls.OpDescribeConfigs, Acls.ResCluster,
        Acls.ClusterResourceName))
      return encodeDescribeClientQuotasResponse(version, corr, 31,
        "principal is not authorized to describe client quotas", Seq.empty)
    val bad: Option[String] = components.collectFirst {
      case (t, _, _) if t != Quotas.EntityUser && t != Quotas.EntityClientId =>
        s"unknown quota entity type '$t'"
      case (_, mt, _) if mt < 0 || mt > 2 => s"unknown match type $mt"
      case (_, 0, null) => "an exact-match component needs a name"
    }
    bad match {
      case Some(msg) =>
        encodeDescribeClientQuotasResponse(version, corr, 42, msg, Seq.empty)
      case None =>
        encodeDescribeClientQuotasResponse(version, corr, 0, null,
          quotas.describe(components, strict)
            .map { case (e, kvs) => (e, kvs.toSeq.sorted) })
    }
  }

  /** AlterClientQuotas (key 49, v0–v1): per-entity upserts/removes —
    * `kafka-configs --alter --add-config producer_byte_rate=...`.
    * Served keys are producer_byte_rate / consumer_byte_rate (both
    * enforced on the data path) and request_percentage (stored and
    * described, not enforced — no request-thread pool to meter;
    * disclosed in SURVEY). Values must be positive and finite (42);
    * an entity must name a user and/or client-id (42); every
    * acknowledged alteration is CAS-persisted before the response. */
  def handleAlterClientQuotas(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (version, corr, entries, validateOnly) =
      decodeAlterClientQuotasRequest(requestBytes)
    val authed = authz(Acls.OpAlterConfigs, Acls.ResCluster,
      Acls.ClusterResourceName)
    val results = entries.map { case (entity, ops) =>
      val err: (Int, String) =
        if (!authed)
          (31, "principal is not authorized to alter client quotas")
        else if (entity.isEmpty)
          (42, "a quota entity must name a user and/or client-id")
        else ops.collectFirst {
          case (k, _, _) if !Quotas.ServedKeys(k) =>
            (42, s"unknown quota key '$k'")
          case (k, v, false) if v.isNaN || v.isInfinite || v <= 0 =>
            (42, s"quota '$k' must be a positive finite number")
        }.getOrElse((0, null: String))
      if (err._1 == 0 && !validateOnly)
        quotas.alter(entity,
          ops.collect { case (k, v, false) => (k, v) },
          ops.collect { case (k, _, true) => k })
      (err._1, err._2, entity)
    }
    encodeAlterClientQuotasResponse(version, corr, results)
  }

  // --- KIP-714 client telemetry (keys 71/72/74). The broker serves
  // the full subscription handshake with an EMPTY metric subscription
  // (no metrics backend — the honest single-broker answer, and what a
  // Kafka broker with no client-metrics resources configured serves):
  // a 3.7+ client's default-on telemetry path completes cleanly and
  // then pushes nothing. The subscription id is a pure function of
  // the client instance id (CRC32 — Kafka derives its id from the
  // subscription-set hash the same way), so push validation is
  // stateless and survives restart for free.

  private val telemetryInstanceCounter =
    new java.util.concurrent.atomic.AtomicLong(0L)
  val TelemetryPushIntervalMs = 300000
  val TelemetryMaxBytes = 1048576

  def telemetrySubscriptionId(instanceId: Array[Byte]): Int = {
    val crc = new java.util.zip.CRC32()
    crc.update(instanceId)
    crc.getValue.toInt
  }

  def handleGetTelemetrySubscriptions(requestBytes: Array[Byte])
      : Array[Byte] = {
    import KafkaWire._
    val (correlationId, instanceId) =
      decodeGetTelemetrySubscriptionsRequest(requestBytes)
    // all-zero uuid = "assign me one" (a client's first contact)
    val assigned =
      if (instanceId.forall(_ == 0))
        topicUuid(s"graft-telemetry-${telemetryInstanceCounter.incrementAndGet()}")
      else instanceId
    encodeGetTelemetrySubscriptionsResponse(correlationId, errorCode = 0,
      clientInstanceId = assigned,
      subscriptionId = telemetrySubscriptionId(assigned),
      // empty = clients push uncompressed (we discard the payload
      // anyway; advertising codecs we'd never inflate would be noise)
      acceptedCompression = Seq.empty,
      pushIntervalMs = TelemetryPushIntervalMs,
      telemetryMaxBytes = TelemetryMaxBytes,
      deltaTemporality = true,
      requestedMetrics = Seq.empty)
  }

  def handlePushTelemetry(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (correlationId, instanceId, subId, _, _, metrics) =
      decodePushTelemetryRequest(requestBytes)
    val err =
      if (subId != telemetrySubscriptionId(instanceId)) 117 // UNKNOWN_SUBSCRIPTION_ID
      else if (metrics != null && metrics.length > TelemetryMaxBytes) 118 // TELEMETRY_TOO_LARGE
      else 0
    encodePushTelemetryResponse(correlationId, err)
  }

  def handleListClientMetricsResources(requestBytes: Array[Byte])
      : Array[Byte] = {
    import KafkaWire._
    val correlationId =
      decodeListClientMetricsResourcesRequest(requestBytes)
    if (!authz(Acls.OpDescribeConfigs, Acls.ResCluster,
        Acls.ClusterResourceName))
      return encodeListClientMetricsResourcesResponse(correlationId, 31,
        Seq.empty)
    // no client-metrics config resources exist (nothing to subscribe)
    encodeListClientMetricsResourcesResponse(correlationId, 0, Seq.empty)
  }

  /** DescribeTopicPartitions (key 75, v0) — cursor-paginated topic
    * describe. Topics are served in name order; the partition budget
    * (`response_partition_limit`, Kafka's default 2000) counts data
    * partitions only, and when it runs out mid-walk the next_cursor
    * names the first (topic, partition) NOT served — resuming from it
    * walks the remainder, each partition exactly once. Explicitly
    * requested unknown names answer UNKNOWN_TOPIC_OR_PARTITION (3)
    * with a zero topic_id and don't consume budget; a describe-all
    * (empty topics array) only ever sees hosted topics. */
  def handleDescribeTopicPartitions(requestBytes: Array[Byte])
      : Array[Byte] = {
    import KafkaWire._
    val (correlationId, reqTopics, limit, cursor) =
      decodeDescribeTopicPartitionsRequest(requestBytes)
    val names =
      (if (reqTopics.isEmpty)
        listTopics().filter(t => authz(Acls.OpDescribe, Acls.ResTopic, t))
      else reqTopics.distinct).sorted
    val authDenied: Set[String] =
      if (reqTopics.isEmpty) Set.empty
      else names.filterNot(t => authz(Acls.OpDescribe, Acls.ResTopic, t)).toSet
    val budget0 = if (limit <= 0) 2000 else limit
    var budget = budget0
    var next: Option[DtpCursor] = None
    val served = Seq.newBuilder[DtpTopic]
    def partition(i: Int) = DtpPartition(errorCode = 0, index = i,
      leaderId = 0, leaderEpoch = 0, replicas = Seq(0), isr = Seq(0),
      eligibleLeaderReplicas = None, lastKnownElr = None,
      offline = Seq.empty)
    for (name <- names if next.isEmpty) {
      val startPart = cursor match {
        case Some(c) if name < c.topicName => -1 // already served in full
        case Some(c) if name == c.topicName =>
          math.max(0, c.partitionIndex) // a malformed negative index
                                        // resumes at 0, never skips
        case _ => 0
      }
      if (startPart >= 0 && authDenied(name))
        served += DtpTopic(29, name, new Array[Byte](16),
          isInternal = false, Seq.empty, Int.MinValue)
      else if (startPart >= 0) topicOpt(name) match {
        case None =>
          if (reqTopics.nonEmpty)
            served += DtpTopic(3, name, new Array[Byte](16),
              isInternal = false, Seq.empty, Int.MinValue)
        case Some(log) =>
          val nParts = log.numPartitions
          if (startPart >= nParts) () // cursor already past this topic
          else if (budget == 0)
            next = Some(DtpCursor(name, startPart))
          else {
            val end = math.min(nParts, startPart + budget)
            served += DtpTopic(0, name, topicUuid(name),
              isInternal = false,
              (startPart until end).map(partition), Int.MinValue)
            budget -= end - startPart
            if (end < nParts) next = Some(DtpCursor(name, end))
          }
      }
    }
    encodeDescribeTopicPartitionsResponse(correlationId, served.result(),
      next)
  }

  /** ListGroups v0: active coordinator groups plus groups that exist
    * only as committed offsets (protocol_type "" — Kafka's shape for
    * offsets-only groups). */
  /** ListGroups v0–v5: classic coordinator groups, 848 groups, and
    * offsets-only groups (known solely by committed offsets, listed
    * as Empty with no protocol type — Kafka's convention). v4+
    * filters by state, v5+ by group type; both case-insensitively,
    * matching Kafka's enum parses. Empty filters mean "all". */
  def handleListGroups(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeListGroupsRequest(requestBytes)
    val classic = coordinator.listGroups().map { case (g, pt) =>
      (g, pt, coordinator.describe(g).map(_._1).getOrElse("Empty"), "classic")
    }
    val modern = coordinator848.listGroups(System.currentTimeMillis())
      .map { case (g, state) => (g, "consumer", state, "consumer") }
    val active = classic ++ modern
    // share groups list beside the consumer groups, as type "share"
    // (ListGroups v5's group_type field — how kafka-share-groups.sh
    // finds them): live coordinator membership first, then groups
    // known only by durable _share state on disk
    val shareLive = shareCoordinator.listGroups(System.currentTimeMillis())
      .map { case (g, state) => (g, "share", state, "share") }
    val share = shareLive ++ listShareGroups().map(_._1).distinct
      .filterNot(g => active.exists(_._1 == g) || shareLive.exists(_._1 == g))
      .map(g => (g, "share", "Stable", "share"))
    val offsetsOnly = listGroups().map(_._1).distinct
      .filterNot(g => active.exists(_._1 == g) || share.exists(_._1 == g))
      .map(g => (g, "", "Empty", "classic"))
    val states = req.statesFilter.map(_.toLowerCase).toSet
    val types = req.typesFilter.map(_.toLowerCase).toSet
    val rows = (active ++ share ++ offsetsOnly).sortBy(_._1)
      // the listing hides groups the caller cannot DESCRIBE (the
      // Metadata rule applied to groups)
      .filter(r => authz(Acls.OpDescribe, Acls.ResGroup, r._1))
      .filter(r => states.isEmpty || states(r._3.toLowerCase))
      .filter(r => types.isEmpty || types(r._4.toLowerCase))
    encodeListGroupsResponse(req.version, req.correlationId, 0, rows)
  }

  /** ConsumerGroupHeartbeat (key 68, v0) — the KIP-848 membership
    * RPC: join/rejoin at epoch 0, leave at −1, everything else is a
    * reconciliation step (see [[Group848Coordinator]]). Owned
    * partitions arrive topic-id-keyed and resolve like Fetch v13. */
  def handleConsumerGroupHeartbeat(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeConsumerGroupHeartbeatRequest(requestBytes,
      topicIdResolverFor(listTopics()))
    if (!authz(Acls.OpRead, Acls.ResGroup, req.groupId))
      return encodeConsumerGroupHeartbeatResponse(req.correlationId, 30,
        "principal is not authorized to read this group", req.memberId,
        req.memberEpoch, coordinator848.heartbeatIntervalMs, null)
    // an owned partition whose id resolves to no hosted topic cannot
    // be granted or tracked — it would poison set comparisons with a
    // marker name; drop it (the member's next target won't carry it)
    val owned =
      if (req.topicPartitions == null) null
      else req.topicPartitions.filterNot(tp => isUnknownIdName(tp._1))
    val res = coordinator848.heartbeat(req.groupId, req.memberId,
      req.memberEpoch, req.instanceId, req.rackId, req.rebalanceTimeoutMs,
      req.subscribedTopicNames, req.subscribedTopicRegex,
      req.serverAssignor, owned, req.clientId,
      System.currentTimeMillis())
    encodeConsumerGroupHeartbeatResponse(req.correlationId, res.error,
      res.errorMessage, res.memberId, res.memberEpoch,
      coordinator848.heartbeatIntervalMs, res.assignment)
  }

  /** ConsumerGroupDescribe (key 69, v0): the 848 groups only — a
    * classic group queried here answers GROUP_ID_NOT_FOUND (69), as
    * in Kafka (admin tooling then falls back to DescribeGroups). */
  def handleConsumerGroupDescribe(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (correlationId, groupIds, _) =
      decodeConsumerGroupDescribeRequest(requestBytes)
    val now = System.currentTimeMillis()
    val described = groupIds.map { g =>
      if (!authz(Acls.OpDescribe, Acls.ResGroup, g))
        CGDescribedGroup(30, "principal is not authorized to describe " +
          "this group", g, "", 0, 0, "", Seq.empty)
      else coordinator848.describe(g, now).getOrElse(
        CGDescribedGroup(69, s"group $g not found", g, "Dead", 0, 0, "",
          Seq.empty))
    }
    encodeConsumerGroupDescribeResponse(correlationId, described)
  }

  // --- KIP-932 share groups over the wire (ShareFetch 78 /
  // ShareAcknowledge 79): the [[ShareGroup]] state machine, reachable
  // by a Kafka 4.x share consumer. One ShareGroup instance per
  // (topic, group) — the instance IS the single writer its CAS
  // snapshot store requires, so every wire request for that pair must
  // route through this registry. ---

  private val shareGroupsReg =
    scala.collection.mutable.Map.empty[(String, String), ShareGroup]

  /** The share-group state machine for (topic, group) — reopened from
    * its durable snapshot on first touch, with the group's dynamic
    * config (delivery budget, lock duration) applied at instantiation
    * (Kafka's share configs similarly bind to the share-partition
    * lifecycle — an alteration applies when the state machine is next
    * opened, not retroactively to live locks). */
  def shareGroup(topicName: String, groupId: String): ShareGroup =
    shareGroupsReg.synchronized {
      shareGroupsReg.getOrElseUpdate((topicName, groupId), {
        val cfg = groupConfigOverrides(groupId)
        new ShareGroup(topic(topicName), groupId,
          maxDeliveryAttempts = cfg.get("share.delivery.attempt.limit")
            .flatMap(_.toIntOption).filter(_ > 0).getOrElse(5),
          acquisitionLockMs = cfg.get("share.record.lock.duration.ms")
            .flatMap(_.toLongOption).filter(_ > 0).getOrElse(30000L),
          startAtLatest =
            cfg.get("share.auto.offset.reset").map(_.trim).contains("latest"))
      })
    }

  /** Install a pre-configured ShareGroup (custom delivery budget /
    * lock timeout) for the wire path to serve — the kafka-configs
    * group-config analog, and the specs' way to tighten budgets. */
  private[graft] def shareGroupsRegPut(topicName: String,
      groupId: String, sg: ShareGroup): Unit =
    shareGroupsReg.synchronized { shareGroupsReg((topicName, groupId)) = sg }

  /** (groupId, topic) pairs with share state: live registry ∪ the
    * durable `_share/` dirs under each hosted topic — a restarted
    * broker lists groups it has not touched yet. */
  def listShareGroups(): Seq[(String, String)] = {
    val disk = listTopics().flatMap { t =>
      val dir = Paths.get(root, t, "_share")
      if (!Files.isDirectory(dir)) Seq.empty
      else TopicLog.listDir(dir).flatMap { d =>
        if (!Files.isDirectory(d)) None
        else scala.util.Try(new String(java.util.Base64.getUrlDecoder
          .decode(d.getFileName.toString), "UTF-8")).toOption.map(_ -> t)
      }
    }
    val live = shareGroupsReg.synchronized {
      shareGroupsReg.keys.map { case (t, g) => (g, t) }.toSeq
    }
    (disk ++ live).distinct.sorted
  }

  /** Per-(group, partition) share-group stats — the
    * `kafka-share-groups.sh --describe` analog as a DataFrame beside
    * [[consumer_group_lag]]: SPSO, in-flight acquisitions,
    * redeliverable records, unpassed terminal records, and lag (log
    * end − SPSO). Driver-side metadata render: the state maps are
    * bounded by maxInFlightRecords per partition by construction. */
  def shareGroupStats(now: Long = System.currentTimeMillis()): DataFrame = {
    import spark.implicits._
    listShareGroups().flatMap { case (g, t) =>
      val sg = shareGroup(t, g)
      val ends = topic(t).logEndOffsets()
      (0 until topic(t).numPartitions).map { p =>
        val (spso, acq, avail, term) = sg.stats(p, now)
        (g, t, p, spso, acq.toLong, avail.toLong, term.toLong,
          math.max(0L, ends.getOrElse(p, 0L) - spso))
      }
    }.toDF("group_id", "topic", "partition", "spso", "acquired",
      "available", "terminal", "lag")
  }

  /** ShareGroupHeartbeat (key 76, v0): broker-assigned share
    * membership — join at epoch 0 (empty member id → the coordinator
    * GENERATES one, the share-consumer contract), leave at −1,
    * otherwise advance to the group epoch; the assignment (every
    * partition of the subscribed topics — record locks arbitrate, so
    * overlap is the design) rides the response when it changed, null
    * when not. Subscribing to a topic this broker doesn't host is not
    * an error — the name resolves lazily and joins the assignment
    * when the topic appears, like the 848 regex path. */
  def handleShareGroupHeartbeat(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (corr, groupId, memberId, memberEpoch, rackId, subscribed,
      clientId) = decodeShareGroupHeartbeatRequest(requestBytes)
    if (!authz(Acls.OpRead, Acls.ResGroup, groupId))
      return encodeShareGroupHeartbeatResponse(corr, 30,
        "principal is not authorized to read this share group", memberId,
        memberEpoch, shareCoordinator.heartbeatIntervalFor(groupId), null)
    val res = shareCoordinator.heartbeat(groupId, memberId, memberEpoch,
      rackId, subscribed, clientId, System.currentTimeMillis())
    encodeShareGroupHeartbeatResponse(corr, res.error, res.errorMessage,
      res.memberId, res.memberEpoch,
      shareCoordinator.heartbeatIntervalFor(groupId), res.assignment)
  }

  /** ShareGroupDescribe (key 77, v0): membership from the share
    * coordinator; a share group known only by durable `_share` state
    * (drained by an embedded ShareGroup, never heartbeated) describes
    * as Empty with its topics visible through [[shareGroupStats]];
    * anything else answers GROUP_ID_NOT_FOUND 69, as the consumer
    * describe APIs do for foreign group types. */
  def handleShareGroupDescribe(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (corr, groupIds, _) = decodeShareGroupDescribeRequest(requestBytes)
    val now = System.currentTimeMillis()
    val described = groupIds.map { g =>
      if (!authz(Acls.OpDescribe, Acls.ResGroup, g))
        SGDescribedGroup(30,
          "principal is not authorized to describe this share group", g,
          "", 0, 0, "", Seq.empty)
      else shareCoordinator.describe(g, now) match {
        case Some((state, gEpoch, aEpoch, members)) =>
          SGDescribedGroup(0, null, g, state, gEpoch, aEpoch, "simple",
            members.map { case (mid, rack, mEpoch, cid, subs, asg) =>
              SGDescribedMember(mid, rack, mEpoch, cid, "", subs, asg)
            })
        case None if listShareGroups().exists(_._1 == g) =>
          SGDescribedGroup(0, null, g, "Empty", 0, 0, "simple", Seq.empty)
        case None =>
          SGDescribedGroup(69, s"share group '$g' not found", g, "Dead",
            0, 0, "", Seq.empty)
      }
    }
    encodeShareGroupDescribeResponse(corr, described)
  }

  /** Share sessions: (group, member) → next expected epoch. KIP-932's
    * session model is Fetch's KIP-227 shape — epoch 0 (re)opens, each
    * request increments, −1 closes — but keyed by the member instead
    * of a broker-assigned session id. Pure per-broker metadata. */
  private val shareSessions =
    scala.collection.mutable.LinkedHashMap.empty[(String, String), Int]

  /** A member that vanishes without closing (crash, coordinator
    * expiry) would otherwise leak its session entry forever; bound
    * the map like fetch sessions — oldest-first eviction, and an
    * evicted client recovers with an epoch-0 reopen on 122. */
  private def boundShareSessions(): Unit =
    while (shareSessions.size > Broker.MaxShareSessions)
      shareSessions.remove(shareSessions.head._1)

  /** Validate + advance a share session. Returns 0, 122
    * (SHARE_SESSION_NOT_FOUND) or 123 (INVALID_SHARE_SESSION_EPOCH).
    * `allowOpen=false` (ShareAcknowledge) rejects epoch 0: an
    * acknowledgement can only ride an existing session. */
  private def shareSessionCheck(group: String, member: String,
      epoch: Int, allowOpen: Boolean): Int = shareSessions.synchronized {
    val key = (group, member)
    epoch match {
      case 0 =>
        if (!allowOpen) 123
        else { shareSessions(key) = 1; boundShareSessions(); 0 }
      case -1 =>
        if (shareSessions.remove(key).isDefined) 0 else 122
      case e if e > 0 =>
        shareSessions.get(key) match {
          case None => 122
          case Some(exp) if exp != e => 123
          case Some(_) => shareSessions(key) = e + 1; 0
        }
      case _ => 123
    }
  }

  /** Expand + apply one partition's acknowledgement batches. Returns
    * (errorCode, errorMessage): 42 for a malformed batch (inverted
    * range, oversized range, type count neither 1 nor range-sized,
    * unknown type), 121 (INVALID_RECORD_STATE) when any offset was
    * not acquired by THIS member, else 0. */
  private def applyShareAcks(sg: ShareGroup, partition: Int,
      acks: Seq[KafkaWire.ShareAckBatch], now: Long,
      memberId: String): (Int, String) = {
    if (acks.isEmpty) return (0, null)
    // the per-batch range cap alone still lets MANY batches expand
    // without bound (a 64 MiB frame holds millions of batch entries)
    if (acks.map(b => math.max(0L, b.lastOffset - b.firstOffset + 1)).sum >
        Broker.MaxShareAckRange)
      return (42, s"acknowledgement batches expand past " +
        s"${Broker.MaxShareAckRange} offsets in one partition entry")
    acks.foreach { b =>
      val n = b.lastOffset - b.firstOffset + 1
      if (b.firstOffset < 0 || n <= 0 || n > Broker.MaxShareAckRange)
        return (42, s"bad acknowledgement range [${b.firstOffset}, ${b.lastOffset}]")
      if (b.ackTypes.isEmpty ||
          (b.ackTypes.length != 1 && b.ackTypes.length != n))
        return (42, "acknowledge_types must carry one entry or one per offset")
      if (b.ackTypes.exists(t => t < 0 || t > 3))
        return (42, s"unknown acknowledge type ${b.ackTypes.find(t => t < 0 || t > 3).get}")
    }
    // 0 = gap (client confirming an undeliverable hole) and 3 = reject
    // both land terminal-archived; 1 accepts, 2 releases
    def ackOf(t: Int): ShareGroup.AckType = t match {
      case 1 => ShareGroup.Accept
      case 2 => ShareGroup.Release
      case _ => ShareGroup.Reject
    }
    val ranges = acks.map { b =>
      val ackAt: Long => ShareGroup.AckType =
        if (b.ackTypes.length == 1) { val t = ackOf(b.ackTypes.head); _ => t }
        else {
          val ts = b.ackTypes.map(ackOf).toArray
          o => ts((o - b.firstOffset).toInt)
        }
      (b.firstOffset, b.lastOffset, ackAt)
    }
    val failed = sg.acknowledgeRanges(partition, ranges, now, memberId)
    if (failed == 0) (0, null)
    else (121, s"$failed offset(s) not in an " +
      "acquirable-by-you state (never acquired, lock lapsed, or terminal)")
  }

  /** ShareFetch (key 78, v0): acknowledgements ride in, then up to
    * partition_max_bytes of the earliest Available records are
    * acquired under locks and served as one magic-2 batch, with the
    * acquired (offset, delivery-count) runs beside the records.
    * Offsets the log cannot serve (compaction/retention holes inside
    * the in-flight window) are archived broker-side so the SPSO
    * advances past them — the broker-written gap KIP-932 expects.
    * Session epochs: 0 opens, +1 each request, −1 closes (acks still
    * apply on the close, nothing new is acquired). */
  def handleShareFetch(requestBytes: Array[Byte],
      advertisedHost: String, advertisedPort: Int): Array[Byte] = {
    import KafkaWire._
    val req = decodeShareFetchRequest(requestBytes,
      topicIdResolverFor(listTopics()))
    // KIP-932 long-poll, the handleFetch discipline: when the first
    // pass acquires NOTHING, park (no lock held) until a produce
    // lands or max_wait_ms expires, then re-acquire. Retries strip
    // the request's acknowledgements (they applied on pass one) and
    // skip the session-epoch advance (it advanced on pass one); any
    // pass that acquires records ships immediately — their delivery
    // counts already advanced, holding them would burn lock time.
    val deadline = System.currentTimeMillis() +
      math.min(math.max(req.maxWaitMs, 0), Broker.MaxFetchWaitMs).toLong
    var pass = shareFetchPass(req, advertisedHost, advertisedPort,
      firstPass = true)
    val retryReq = req.copy(topics = req.topics.map { case (n, ps) =>
      (n, ps.map(p => p.copy(acks = Seq.empty)))
    })
    // maxRecords == 0 is an ack-only piggyback (acquire nothing) —
    // answering empty IS its success, so it must not park in long-poll
    while (pass._2 == 0 && req.minBytes > 0 && req.maxRecords != 0 &&
        req.sessionEpoch != -1 &&
        System.currentTimeMillis() < deadline) {
      val remaining = deadline - System.currentTimeMillis()
      if (remaining > 0) {
        val w0 = System.currentTimeMillis()
        dataArrived.synchronized { dataArrived.wait(math.min(remaining, 200L)) }
        parkedMsCtx.set(parkedMsCtx.get() + (System.currentTimeMillis() - w0))
      }
      pass = shareFetchPass(retryReq, advertisedHost, advertisedPort,
        firstPass = false)
    }
    pass._1
  }

  /** One serving pass of a decoded ShareFetch: returns (response,
    * records acquired this pass; −1 on a top-level error so the
    * long-poll loop stops retrying). */
  private def shareFetchPass(req: KafkaWire.ShareFetchRequest,
      advertisedHost: String, advertisedPort: Int,
      firstPass: Boolean): (Array[Byte], Int) = {
    val rl = maintenanceLock.readLock()
    rl.lock()
    try shareFetchPassLocked(req, advertisedHost, advertisedPort, firstPass)
    finally rl.unlock()
  }

  private def shareFetchPassLocked(req: KafkaWire.ShareFetchRequest,
      advertisedHost: String, advertisedPort: Int,
      firstPass: Boolean): (Array[Byte], Int) = {
    import KafkaWire._
    val now = System.currentTimeMillis()
    val member = if (req.memberId == null) "" else req.memberId
    val group = if (req.groupId == null) "" else req.groupId
    val closing = req.sessionEpoch == -1
    // v1 responses advertise the group's share.record.lock.duration.ms
    // (acquisition_lock_timeout_ms) — read from group config here, not
    // a ShareGroup instance, so top-level error answers carry it too
    val lockMs: Int = math.min(
      groupConfigOverrides(group).get("share.record.lock.duration.ms")
        .flatMap(_.toLongOption).filter(_ > 0).getOrElse(30000L),
      Int.MaxValue.toLong).toInt
    // a group under coordinator-managed membership fences unknown or
    // expired member ids (the real-broker contract); groups that
    // never heartbeated stay un-fenced for embedded ShareGroup use
    if (!authz(Acls.OpRead, Acls.ResGroup, group))
      return (encodeShareFetchResponse(req.correlationId, 30,
        s"principal is not authorized to read share group '$group'",
        Seq.empty, 0, advertisedHost, advertisedPort,
        version = req.version, acquisitionLockTimeoutMs = lockMs), -1)
    if (shareCoordinator.managesGroup(group) &&
        !shareCoordinator.isLiveMember(group, member, now))
      return (encodeShareFetchResponse(req.correlationId, 25,
        s"member '$member' is not a live member of share group '$group'",
        Seq.empty, 0, advertisedHost, advertisedPort,
        version = req.version, acquisitionLockTimeoutMs = lockMs), -1)
    // the session epoch advances exactly once per wire request — a
    // long-poll retry is the SAME request, so it skips the check
    val sessErr =
      if (!firstPass) 0
      else shareSessionCheck(group, member, req.sessionEpoch,
        allowOpen = true)
    if (sessErr != 0)
      return (encodeShareFetchResponse(req.correlationId, sessErr,
        if (sessErr == 122) "share session not found"
        else s"invalid share session epoch ${req.sessionEpoch}",
        Seq.empty, 0, advertisedHost, advertisedPort,
        version = req.version, acquisitionLockTimeoutMs = lockMs), -1)
    // v1 flow control (KIP-932 GA): max_records caps the WHOLE
    // response, batch_size each partition's acquisition; v0 keeps the
    // per-partition byte cap
    var recordBudget = if (req.version >= 1) req.maxRecords else Int.MaxValue
    val results = req.topics.map { case (name, parts) =>
      (if (isUnknownIdName(name)) None else topicOpt(name)) match {
        case None =>
          (name, parts.map(p => ShareFetchPartResp(p.partition, 100,
            "unknown topic id", 0, null, Seq.empty, Seq.empty)))
        case Some(_) if !authz(Acls.OpRead, Acls.ResTopic, name) =>
          (name, parts.map(p => ShareFetchPartResp(p.partition, 29,
            "principal is not authorized to read this topic", 0, null,
            Seq.empty, Seq.empty)))
        case Some(log) =>
          val sg = shareGroup(name, group)
          // one manifest resolve serves the pass: every partition's
          // acquisition window and range reads come from it. Both must:
          // an offset acquired past this manifest's end would read as a
          // hole and be archived undelivered
          val manifest = log.currentManifest()
          val ends = manifest.map(_.ends).getOrElse(log.logEndOffsets())
          // phase 1 — METADATA: every partition's acknowledgements and
          // acquisitions land as ONE durability unit (a single CAS
          // snapshot per request, the per-request share-state write a
          // broker does), with the group's monitor held only here
          val phase1: Seq[Either[ShareFetchPartResp,
              (Int, Int, String, Seq[ShareGroup.AcquiredRecord])]] =
            sg.batched {
              parts.map { p =>
                if (!log.hasPartition(p.partition))
                  Left(ShareFetchPartResp(p.partition, 3,
                    s"partition ${p.partition} not found", 0, null,
                    Seq.empty, Seq.empty))
                else {
                  val (ackErr, ackMsg) =
                    applyShareAcks(sg, p.partition, p.acks, now, member)
                  if (closing)
                    Left(ShareFetchPartResp(p.partition, 0, null, ackErr,
                      ackMsg, Seq.empty, Seq.empty))
                  else if (recordBudget <= 0)
                    // v1 request budget spent: acks still applied above,
                    // nothing more acquires this pass
                    Left(ShareFetchPartResp(p.partition, 0, null, ackErr,
                      ackMsg, Seq.empty, Seq.empty))
                  else {
                    // records cost ≥ ~12 wire bytes each; the cap
                    // over-covers the byte budget like handleFetch's
                    val maxRecs =
                      if (req.version >= 1)
                        math.max(1, math.min(sg.maxInFlightRecords,
                          math.min(req.batchSize, recordBudget)))
                      else math.max(1, math.min(
                        sg.maxInFlightRecords, p.partitionMaxBytes / 12))
                    val acq = sg.acquireBelow(p.partition,
                      ends.getOrElse(p.partition, 0L), maxRecs, now, member)
                    if (req.version >= 1) recordBudget -= acq.size
                    Right((p.partition, ackErr, ackMsg, acq))
                  }
                }
              }
            }
          // phase 2 — DATA: read the acquired records outside the
          // monitor; holes the log can no longer serve (compaction /
          // retention inside the in-flight window) archive so the SPSO
          // advances instead of redelivering a gap
          (name, phase1.map {
            case Left(resp) => resp
            case Right((partition, ackErr, ackMsg, acq)) =>
              val (records, runs, gaps) =
                readAcquired(log, manifest, partition, acq.toArray)
              if (gaps.nonEmpty)
                sg.acknowledge(partition,
                  gaps.map(_ -> (ShareGroup.Reject: ShareGroup.AckType)),
                  now, member)
              ShareFetchPartResp(partition, 0, null, ackErr, ackMsg,
                records, runs)
          })
      }
    }
    // any partition-level error (unknown topic/partition, authz,
    // a failed acknowledgement) completes the delayed fetch
    // immediately — the retry loop must not sit on an error answer
    val anyErr = results.iterator.flatMap(_._2.iterator)
      .exists(p => p.errorCode != 0 || p.ackErrorCode != 0)
    val acquiredCount =
      if (anyErr) -1
      else results.iterator.flatMap(_._2.iterator).map(_.records.length).sum
    (encodeShareFetchResponse(req.correlationId, 0, null, results,
      0, advertisedHost, advertisedPort,
      version = req.version, acquisitionLockTimeoutMs = lockMs),
      acquiredCount)
  }

  /** The records of one partition's acquisitions (ascending by
    * offset, as [[ShareGroup.acquire]] hands them out): each run of
    * consecutive offsets is one direct range read — no Spark job per
    * (partition × window), and the span is bounded by
    * maxInFlightRecords. Walking each run against the records it
    * returned yields the response's records, its (first, last,
    * delivery count) runs over the offsets served, and the offsets the
    * log could not serve. */
  private def readAcquired(log: TopicLog, manifest: Option[TopicLog.Manifest],
      partition: Int, acq: Array[ShareGroup.AcquiredRecord])
      : (Seq[(Long, KafkaWire.WireRecordV2)], Seq[KafkaWire.ShareAcquired],
         Seq[Long]) = {
    val records = Vector.newBuilder[(Long, KafkaWire.WireRecordV2)]
    val runs = Vector.newBuilder[KafkaWire.ShareAcquired]
    val gaps = List.newBuilder[Long]
    var run: KafkaWire.ShareAcquired = null
    var i = 0
    while (i < acq.length) {
      var j = i
      while (j + 1 < acq.length && acq(j + 1).offset == acq(j).offset + 1) j += 1
      val lo = acq(i).offset
      val hi = acq(j).offset
      val rows = log.consumeForWireIn(manifest, partition, lo, j - i + 1, hi)
        .iterator.buffered
      while (i <= j) {
        val a = acq(i)
        while (rows.hasNext && rows.head.offset < a.offset) rows.next()
        if (rows.hasNext && rows.head.offset == a.offset) {
          val r = rows.next()
          records += ((r.offset, KafkaWire.WireRecordV2(r.timestampMs, r.key,
            r.value, r.headers)))
          if (run != null && a.offset == run.lastOffset + 1 &&
              a.deliveryCount == run.deliveryCount)
            run = run.copy(lastOffset = a.offset)
          else {
            if (run != null) runs += run
            run = KafkaWire.ShareAcquired(a.offset, a.offset, a.deliveryCount)
          }
        } else gaps += a.offset
        i += 1
      }
    }
    if (run != null) runs += run
    (records.result(), runs.result(), gaps.result())
  }

  /** ShareAcknowledge (key 79, v0): acknowledge without fetching.
    * Epoch 0 is rejected (123) — an acknowledgement can only ride a
    * session ShareFetch opened; −1 closes the session with the acks. */
  def handleShareAcknowledge(requestBytes: Array[Byte],
      advertisedHost: String, advertisedPort: Int): Array[Byte] = {
    import KafkaWire._
    val req = decodeShareAcknowledgeRequest(requestBytes,
      topicIdResolverFor(listTopics()))
    val now = System.currentTimeMillis()
    val member = if (req.memberId == null) "" else req.memberId
    val group = if (req.groupId == null) "" else req.groupId
    if (!authz(Acls.OpRead, Acls.ResGroup, group))
      return encodeShareAcknowledgeResponse(req.correlationId, 30,
        s"principal is not authorized to read share group '$group'",
        Seq.empty, 0, advertisedHost, advertisedPort)
    if (shareCoordinator.managesGroup(group) &&
        !shareCoordinator.isLiveMember(group, member, now))
      return encodeShareAcknowledgeResponse(req.correlationId, 25,
        s"member '$member' is not a live member of share group '$group'",
        Seq.empty, 0, advertisedHost, advertisedPort)
    val sessErr = shareSessionCheck(group, member, req.sessionEpoch,
      allowOpen = false)
    if (sessErr != 0)
      return encodeShareAcknowledgeResponse(req.correlationId, sessErr,
        if (sessErr == 122) "share session not found"
        else s"invalid share session epoch ${req.sessionEpoch}",
        Seq.empty, 0, advertisedHost, advertisedPort)
    val results = req.topics.map { case (name, parts) =>
      (if (isUnknownIdName(name)) None else topicOpt(name)) match {
        case None =>
          (name, parts.map { case (p, _) => (p, 100, "unknown topic id") })
        case Some(_) if !authz(Acls.OpRead, Acls.ResTopic, name) =>
          (name, parts.map { case (p, _) =>
            (p, 29, "principal is not authorized to read this topic") })
        case Some(log) =>
          val sg = shareGroup(name, group)
          // all partitions' acks land as one durability unit, as in
          // handleShareFetch's phase 1
          (name, sg.batched {
            parts.map { case (p, acks) =>
              if (!log.hasPartition(p))
                (p, 3, s"partition $p not found")
              else {
                val (err, msg) = applyShareAcks(sg, p, acks, now, member)
                (p, err, msg)
              }
            }
          })
      }
    }
    encodeShareAcknowledgeResponse(req.correlationId, 0, null, results,
      0, advertisedHost, advertisedPort)
  }

  // --- Share-group offset admin (keys 90/91/92, KIP-932): the
  // `kafka-share-groups.sh` offset surface over the SAME durable
  // ShareGroup snapshots the data path mutates. Round 7's ShareFetch
  // finding one layer up: the state existed, admin tooling couldn't
  // reach it. ---

  /** Any open share session (data-path consumer mid-drain) for the
    * group? Alter/delete protect against these exactly as they
    * protect against coordinator-live members — yanking the SPSO
    * under an active drain would corrupt its delivery view. */
  private def hasOpenShareSession(group: String): Boolean =
    shareSessions.synchronized { shareSessions.keys.exists(_._1 == group) }

  /** A share group the broker knows: heartbeating members, an open
    * registry instance, or durable `_share` state on disk. */
  private def shareGroupKnown(g: String): Boolean =
    shareCoordinator.managesGroup(g) || listShareGroups().exists(_._1 == g)

  /** The group may be offset-administered only while EMPTY — no
    * coordinator-live members and no open share sessions (Kafka's
    * NON_EMPTY_GROUP rule for share-group offset mutation). */
  private def shareGroupBusy(g: String): Boolean =
    shareCoordinator.describe(g, System.currentTimeMillis())
      .exists(_._4.nonEmpty) || hasOpenShareSession(g)

  /** DescribeShareGroupOffsets (key 90, v0): per-partition SPSOs from
    * the durable share state — `kafka-share-groups.sh --describe
    * --offsets`. `topics = null` lists every topic the group has
    * share state on (unauthorized topics HIDDEN, the Metadata rule);
    * named topics answer 29/3 per partition when unauthorized or
    * unknown. An unknown group answers GROUP_ID_NOT_FOUND 69 at the
    * group level. */
  def handleDescribeShareGroupOffsets(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (corr, groups) = decodeDescribeShareGroupOffsetsRequest(requestBytes)
    val out = groups.map { case (g, topicsOpt) =>
      if (!authz(Acls.OpDescribe, Acls.ResGroup, g))
        (g, 30, s"principal is not authorized to describe group '$g'",
          Seq.empty[(String, Seq[ShareOffsetRow])])
      else if (!shareGroupKnown(g))
        (g, 69, s"share group '$g' not found",
          Seq.empty[(String, Seq[ShareOffsetRow])])
      else {
        val topics: Seq[(String, Option[Seq[Int]])] = topicsOpt match {
          case Some(ts) => ts
          case None =>
            // every topic this group has share state on, visible ones only
            listShareGroups().collect {
              case (grp, t) if grp == g &&
                authz(Acls.OpDescribe, Acls.ResTopic, t) => (t, None)
            }
        }
        val rows = topics.map { case (tName, partsOpt) =>
          if (!authz(Acls.OpDescribe, Acls.ResTopic, tName))
            (tName, partsOpt.getOrElse(Seq(-1)).map(p =>
              ShareOffsetRow(p, -1L, -1, 29,
                "principal is not authorized to describe this topic")))
          else topicOpt(tName) match {
            case None => (tName, partsOpt.getOrElse(Seq(-1)).map(p =>
              ShareOffsetRow(p, -1L, -1, 3, s"unknown topic '$tName'")))
            case Some(log) =>
              val sg = shareGroup(tName, g)
              val parts = partsOpt.getOrElse(0 until log.numPartitions)
              (tName, parts.map { p =>
                if (!log.hasPartition(p))
                  ShareOffsetRow(p, -1L, -1, 3, s"partition $p not found")
                else ShareOffsetRow(p, sg.startOffset(p), 0, 0, null)
              })
          }
        }
        (g, 0, null: String, rows)
      }
    }
    encodeDescribeShareGroupOffsetsResponse(corr, out)
  }

  /** AlterShareGroupOffsets (key 91, v0): reset SPSOs —
    * `kafka-share-groups.sh --reset-offsets`. READ-group gated (an
    * offset reset is a commit, OffsetCommit's operation); the group
    * must be EMPTY (no live members, no open share sessions) else
    * NON_EMPTY_GROUP 68; the reset lands through
    * [[ShareGroup.resetStartOffset]] — delivery state behind the new
    * position is discarded and the CAS snapshot makes it durable.
    * Offsets clamp to [0, log end]; negative offsets answer 42. */
  def handleAlterShareGroupOffsets(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (corr, g, topics) = decodeAlterShareGroupOffsetsRequest(requestBytes)
    if (!authz(Acls.OpRead, Acls.ResGroup, g))
      return encodeAlterShareGroupOffsetsResponse(corr, 30,
        s"principal is not authorized to read group '$g'",
        topics.map { case (t, ps) => (t, ps.map(p => (p._1, 30, null: String))) })
    if (shareGroupBusy(g))
      return encodeAlterShareGroupOffsetsResponse(corr, 68,
        s"share group '$g' has live members or open share sessions",
        topics.map { case (t, ps) => (t, ps.map(p => (p._1, 68, null: String))) })
    val out = topics.map { case (tName, parts) =>
      if (!authz(Acls.OpRead, Acls.ResTopic, tName))
        (tName, parts.map { case (p, _) =>
          (p, 29, "principal is not authorized to read this topic") })
      else topicOpt(tName) match {
        case None =>
          (tName, parts.map { case (p, _) => (p, 3, s"unknown topic '$tName'") })
        case Some(log) =>
          val sg = shareGroup(tName, g)
          (tName, sg.batched {
            parts.map { case (p, off) =>
              if (!log.hasPartition(p))
                (p, 3, s"partition $p not found")
              else if (off < 0)
                (p, 42, s"start offset $off is negative")
              else { sg.resetStartOffset(p, off); (p, 0, null: String) }
            }
          })
      }
    }
    encodeAlterShareGroupOffsetsResponse(corr, 0, null, out)
  }

  /** `kafka-share-groups.sh --reset-offsets --to-datetime` — the
    * timestamp flow of key 91, broker-side: resolve the timestamp to
    * each partition's first-offset-at-or-after through the SAME
    * grouped scan the ListOffsets for-times path uses (ONE job
    * answers every partition; reader-exclusion lock held like
    * ListOffsets), partitions with nothing at/after the timestamp
    * reset to the log END (nothing left to redeliver — the tool's
    * semantics), and the reset lands through the SAME gates as the
    * offset flow: READ-group ACL, EMPTY-group protection, the
    * [0, log end] clamp inside [[ShareGroup.resetStartOffset]], one
    * CAS snapshot for the whole topic. Returns per-partition
    * (partition, errorCode, resolvedOffset). */
  def resetShareGroupOffsetsToTimestamp(g: String, tName: String,
      tsMs: Long): Seq[(Int, Int, Long)] = {
    if (!authz(Acls.OpRead, Acls.ResGroup, g)) return Seq((-1, 30, -1L))
    if (shareGroupBusy(g)) return Seq((-1, 68, -1L))
    val log = topicOpt(tName) match {
      case None => return Seq((-1, 3, -1L))
      case Some(l) => l
    }
    if (tsMs < 0 || tsMs > Long.MaxValue / 1000) return Seq((-1, 42, -1L))
    val rl = maintenanceLock.readLock()
    rl.lock()
    try {
      val ends = log.logEndOffsets()
      val byPart = log.read()
        .filter(col("ts") >= new java.sql.Timestamp(tsMs))
        .groupBy("partition").agg(min("offset").as("o"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val sg = shareGroup(tName, g)
      sg.batched {
        (0 until log.numPartitions).map { p =>
          val off = byPart.getOrElse(p, ends.getOrElse(p, 0L))
          sg.resetStartOffset(p, off)
          (p, 0, off)
        }
      }
    } finally rl.unlock()
  }

  /** DeleteShareGroupOffsets (key 92, v0): drop the group's share
    * state for named topics entirely — `kafka-share-groups.sh
    * --delete-offsets`. DELETE-group gated (OffsetDelete's
    * operation); EMPTY-group protected like alter; deletion removes
    * the registry instance AND the durable `_share/<group>` dir under
    * the topic, so a later consumer starts from a blank slate. */
  def handleDeleteShareGroupOffsets(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (corr, g, topics) = decodeDeleteShareGroupOffsetsRequest(requestBytes)
    if (!authz(Acls.OpDelete, Acls.ResGroup, g))
      return encodeDeleteShareGroupOffsetsResponse(corr, 30,
        s"principal is not authorized to delete group '$g'",
        topics.map(t => (t, 30, null: String)))
    if (!shareGroupKnown(g))
      return encodeDeleteShareGroupOffsetsResponse(corr, 69,
        s"share group '$g' not found", topics.map(t => (t, 69, null: String)))
    if (shareGroupBusy(g))
      return encodeDeleteShareGroupOffsetsResponse(corr, 68,
        s"share group '$g' has live members or open share sessions",
        topics.map(t => (t, 68, null: String)))
    val out = topics.map { tName =>
      if (!authz(Acls.OpRead, Acls.ResTopic, tName))
        (tName, 29, "principal is not authorized to read this topic")
      else if (!topicExists(tName))
        (tName, 3, s"unknown topic '$tName'")
      else {
        shareGroupsReg.synchronized { shareGroupsReg.remove((tName, g)) }
        val dir = Paths.get(root, tName, "_share",
          java.util.Base64.getUrlEncoder.withoutPadding
            .encodeToString(g.getBytes("UTF-8")))
        if (Files.isDirectory(dir)) {
          TopicLog.listDir(dir).foreach(Files.deleteIfExists)
          Files.deleteIfExists(dir)
        }
        (tName, 0, null: String)
      }
    }
    encodeDeleteShareGroupOffsetsResponse(corr, 0, null, out)
  }

  /** DescribeGroups v0–v5: live membership from the coordinator; a
    * group known only by committed offsets describes as Empty; an
    * unknown group as Dead (Kafka's convention — not an error code).
    * v4+ members carry their group.instance.id (null for dynamic
    * members); v3+ authorized_operations answers, when requested,
    * the full group operation set on an open broker and the
    * per-group set the caller actually holds under an authorizer —
    * Kafka's Int.MinValue "omitted" sentinel when not requested. */
  def handleDescribeGroups(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeDescribeGroupsRequest(requestBytes)
    def opsFor(g: String): Int =
      if (!req.includeAuthorizedOperations) Int.MinValue
      else if (authorizerOpt.isEmpty) Broker.GroupAuthorizedOperations
      else Seq(Acls.OpRead, Acls.OpDelete, Acls.OpDescribe)
        .filter(op => authz(op, Acls.ResGroup, g))
        .foldLeft(0)((acc, op) => acc | (1 << op))
    val described = req.groups.map { g =>
      val base =
        if (!authz(Acls.OpDescribe, Acls.ResGroup, g))
          DescribedGroup(30, g, "", "", "", Seq.empty)
        else coordinator.describe(g) match {
        case Some((state, pt, proto, members)) =>
          DescribedGroup(0, g, state, pt, proto, members)
        case None if listGroups().exists(_._1 == g) =>
          DescribedGroup(0, g, "Empty", "", "", Seq.empty)
        case None =>
          DescribedGroup(0, g, "Dead", "", "", Seq.empty)
      }
      val instances = coordinator.memberInstanceIds(g)
      DescribedGroupModern(base,
        base.members.map(m => instances.get(m._1).orNull), opsFor(g))
    }
    encodeDescribeGroupsResponse(req.version, req.correlationId, described)
  }

  /** ListOffsets v0–v9 exchange: timestamp -1 → log end, -2 →
    * earliest-existing, -3 (v7+) → max-timestamp offset, -4 (v8+) →
    * earliest-LOCAL (= earliest here: nothing is tiered), -5 (v9+) →
    * latest-tiered (always the no-data pair here); a concrete
    * timestamp answers the FIRST offset whose record timestamp is ≥ it
    * (the lookup modern ListOffsets versions standardized on — graft's
    * log has no segment files to report bases of), or none if no
    * record is that recent. v0 ships the offsets array, v1+ the
    * (timestamp, offset) pair. */
  def handleListOffsets(requestBytes: Array[Byte]): Array[Byte] = {
    // timestamp lookups scan data files — same reader exclusion
    // against rewrites as handleFetch
    val rl = maintenanceLock.readLock()
    rl.lock()
    try handleListOffsetsLocked(requestBytes) finally rl.unlock()
  }

  private def handleListOffsetsLocked(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeListOffsetsRequest(requestBytes)
    val none = (-1L, -1L) // v1+ "no such offset": timestamp −1, offset −1
    val results = req.topics.map { case (name, parts) =>
      if (!authz(Acls.OpDescribe, Acls.ResTopic, name))
        (name, parts.map { case (p, _, _) =>
          (p, 29, -1L, -1L, Seq.empty[Long]) })
      else topicOpt(name) match {
        case None => (name, parts.map { case (p, _, _) =>
          (p, 3, -1L, -1L, Seq.empty[Long]) })
        case Some(log) =>
          val ends = log.logEndOffsets()
          val starts = log.logStartOffsets()
          // concrete timestamps: ONE grouped Spark job per distinct
          // timestamp answers every partition asking for it (a per-
          // partition query would re-plan the whole scan O(partitions)
          // times). Clamped at BOTH Long extremes: Spark timestamps are
          // microsecond longs, and either overflow direction previously
          // killed the connection instead of answering. min_by rides
          // along so v1+ can report the located record's timestamp.
          val maxMs = Long.MaxValue / 1000
          val concreteTs = parts.collect {
            case (p, t, maxN) if maxN > 0 && t >= 0 && t <= maxMs &&
              log.hasPartition(p) => t
          }.distinct
          val byTs: Map[Long, Map[Int, (Long, Long)]] = concreteTs.map { t =>
            t -> log.read()
              .filter(col("ts") >= new java.sql.Timestamp(t))
              .groupBy("partition")
              .agg(min("offset").as("o"), expr("min_by(ts, offset)").as("t"))
              .collect()
              .map(r => r.getInt(0) ->
                (r.getLong(1), r.getTimestamp(2).getTime)).toMap
          }.toMap
          // MAX_TIMESTAMP (-3, the v7 addition): the offset OF the
          // record with the largest timestamp — ties break to the
          // earliest such offset, per the protocol. One bounded agg for
          // the whole topic, computed only when some partition asks.
          lazy val byMaxTs: Map[Int, (Long, Long)] =
            if (!parts.exists { case (p, t, maxN) =>
              t == -3L && maxN > 0 && log.hasPartition(p) })
              Map.empty
            else log.read()
              .groupBy("partition")
              .agg(expr("min_by(offset, struct(unix_micros(ts) * -1, offset))").as("o"),
                max("ts").as("t"))
              .collect()
              .map(r => r.getInt(0) ->
                (r.getLong(1), r.getTimestamp(2).getTime)).toMap
          (name, parts.map { case (p, ts, maxN) =>
            def v1(tsOff: (Long, Long), v0: Seq[Long]) =
              (p, 0, tsOff._1, tsOff._2, v0)
            if (!log.hasPartition(p)) (p, 3, -1L, -1L, Seq.empty[Long])
            else if (maxN <= 0) (p, 0, -1L, -1L, Seq.empty[Long])
            else ts match {
              // LATEST under read_committed (isolation 1, v2+) answers
              // the LSO — a transactional consumer seeking to "the end"
              // must not land inside an open transaction
              case -1L =>
                val end = ends.getOrElse(p, 0L)
                val off =
                  if (req.version >= 2 && req.isolationLevel == 1)
                    lastStableOffset(name, p, end)
                  else end
                (p, 0, -1L, off, Seq(off))
              case -3L => byMaxTs.get(p) match {
                case Some((off, recTs)) => (p, 0, recTs, off, Seq(off))
                case None => v1(none, Seq.empty[Long]) // empty partition
              }
              // LATEST_TIERED (-5, v9 / KIP-1005): the last offset in
              // REMOTE storage — graft tiers nothing, so the answer is
              // the protocol's "no tiered data" pair (-1, -1)
              case -5L if req.version >= 9 => v1(none, Seq.empty[Long])
              // EARLIEST_LOCAL (-4, v8 / KIP-405): first offset still in
              // LOCAL storage — with no tiering that IS the log start,
              // so it intentionally falls through to the earliest arm
              // EARLIEST = first offset that still EXISTS (retention may
              // have truncated the front — 0 would name a removed record)
              case t if t == -2L || t < 0L =>
                val off = starts.getOrElse(p, 0L)
                (p, 0, -1L, off, Seq(off))
              case t if t > maxMs => v1(none, Seq.empty[Long]) // beyond any record
              case t => byTs(t).get(p) match {
                case Some((off, recTs)) => (p, 0, recTs, off, Seq(off))
                case None => v1(none, Seq.empty[Long])
              }
            }
          })
      }
    }
    encodeListOffsetsResponse(req.version, req.correlationId, results)
  }

  /** OffsetCommit v0–v8 exchange: group offsets land through the
    * CAS-versioned group commit (concurrent members on disjoint
    * partitions both land). Unknown topics / out-of-range partitions
    * answer error 3 without failing the rest. v1+ commits carrying a
    * generation are fenced against the live group (22/25 per
    * partition when the member or generation is stale). */
  def handleOffsetCommit(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeOffsetCommitRequest(requestBytes)
    val groupDenied = !authz(Acls.OpRead, Acls.ResGroup, req.group)
    val fence = coordinator.validateCommit(req.group, req.generationId,
      req.memberId, req.groupInstanceId)
    val results =
      if (groupDenied)
        req.topics.map { case (name, parts) =>
          (name, parts.map { case (p, _, _) => (p, 30) })
        }
      else if (fence != 0)
        req.topics.map { case (name, parts) =>
          (name, parts.map { case (p, _, _) => (p, fence) })
        }
      else req.topics.map { case (name, parts) =>
        if (!authz(Acls.OpRead, Acls.ResTopic, name))
          (name, parts.map { case (p, _, _) => (p, 29) })
        else topicOpt(name) match {
          case None => (name, parts.map { case (p, _, _) => (p, 3) })
          case Some(log) =>
            val valid = parts.collect {
              case (p, off, _) if log.hasPartition(p) => p -> off
            }.toMap
            if (valid.nonEmpty) log.commit(req.group, valid)
            (name, parts.map { case (p, _, _) =>
              (p, if (valid.contains(p)) 0 else 3)
            })
        }
      }
    encodeOffsetCommitResponse(req.version, req.correlationId, results)
  }

  /** OffsetFetch v0–v8 exchange: committed offsets for the requested
    * topic-partitions; -1 with no metadata where the group has never
    * committed (Kafka's "no offset" answer), error 3 for unknown
    * topics/partitions. A null topics array (v2+) answers every
    * partition the group ever committed; v8 serves a BATCH of groups
    * in one request. */
  /** DescribeQuorum (key 55, v0–v1): the single-node quorum picture
    * `kafka-metadata-quorum.sh describe --status` renders. This engine
    * IS its own metadata authority (voter 0, no followers), so the
    * leader is node 0 at epoch 1 and the metadata "log" position is
    * the broker-wide CAS metadata sequence — the finalized-features
    * epoch, the one monotonic metadata counter graft maintains
    * (per-topic manifests version independently). Asking about any
    * log but __cluster_metadata/0 answers UNKNOWN_TOPIC_OR_PARTITION
    * per partition, the raft manager's rule. */
  def handleDescribeQuorum(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val (version, corr, topics) = decodeDescribeQuorumRequest(requestBytes)
    if (!authz(Acls.OpDescribe, Acls.ResCluster, Acls.ClusterResourceName))
      return encodeDescribeQuorumResponse(version, corr, 31, Seq.empty)
    val now = System.currentTimeMillis()
    val hw = features.current._1
    val self = QuorumReplica(0, hw, now, now)
    val out = topics.map { case (name, parts) =>
      (name, parts.map { p =>
        if (name == ClusterMetadataTopic && p == 0)
          (p, 0, 0, 1, hw, Seq(self), Seq.empty[QuorumReplica])
        else (p, 3, -1, -1, -1L,
          Seq.empty[QuorumReplica], Seq.empty[QuorumReplica])
      })
    }
    encodeDescribeQuorumResponse(version, corr, 0, out)
  }

  /** UpdateFeatures (key 57, v0–v1, KIP-584): finalized-level
    * transitions behind cluster ALTER, transactional per batch (one
    * invalid member fails every update; valid members answer
    * OPERATION_NOT_ATTEMPTED 55), validate_only dry-runs. The landed
    * levels surface immediately in ApiVersions' finalized tags. */
  def handleUpdateFeatures(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeUpdateFeaturesRequest(requestBytes)
    if (!authz(Acls.OpAlter, Acls.ResCluster, Acls.ClusterResourceName))
      encodeUpdateFeaturesResponse(req.version, req.correlationId, 31,
        "principal is not authorized to alter features", Seq.empty)
    else {
      val results = features.update(req.updates, req.validateOnly)
      encodeUpdateFeaturesResponse(req.version, req.correlationId, 0, null,
        results)
    }
  }

  def handleOffsetFetch(requestBytes: Array[Byte]): Array[Byte] = {
    import KafkaWire._
    val req = decodeOffsetFetchRequest(requestBytes)
    val groupsOut = req.groups.zipWithIndex.map { case ((group, topicsOpt), gi) =>
      // v9 (KIP-848) member fencing: a fenced/stale member gets the
      // group-level error BEFORE any offsets leak to it
      val (memberId, memberEpoch) =
        req.members.lift(gi).getOrElse((null: String, -1))
      val fence = coordinator848.validateMember(group, memberId, memberEpoch)
      if (!authz(Acls.OpDescribe, Acls.ResGroup, group))
        (group, 30,
          Seq.empty[(String, Seq[(Int, Long, String, Int)])])
      else if (fence != 0)
        (group, fence,
          Seq.empty[(String, Seq[(Int, Long, String, Int)])])
      else {
      // the all-committed (null topics) path carries each topic's
      // offsets map through from the enumeration pass — one committed
      // store read per topic, not two
      val wanted: Seq[(String, Seq[Int], Option[Map[Int, Long]])] = topicsOpt match {
        case Some(ts) => ts.map { case (name, parts) => (name, parts, None) }
        case None =>
          // the listing path hides unauthorized topics, the Metadata
          // rule; named topics answer 29 below
          listTopics()
            .filter(t => authz(Acls.OpDescribe, Acls.ResTopic, t))
            .flatMap { t =>
            val committed = topicOpt(t).map(_.committed(group)).getOrElse(Map.empty)
            if (committed.isEmpty) None
            else Some((t, committed.keys.toSeq.sorted, Some(committed)))
          }
      }
      val results = wanted.map { case (name, parts, preRead) =>
        if (!authz(Acls.OpDescribe, Acls.ResTopic, name))
          (name, parts.map(p => (p, -1L, null: String, 29)))
        else topicOpt(name) match {
          case None => (name, parts.map(p => (p, -1L, null: String, 3)))
          case Some(log) =>
            val committed = preRead.getOrElse(log.committed(group))
            (name, parts.map { p =>
              if (!log.hasPartition(p)) (p, -1L, null: String, 3)
              else committed.get(p) match {
                case Some(off) => (p, off, "", 0)
                case None => (p, -1L, null: String, 0)
              }
            })
        }
      }
      (group, 0, results)
      }
    }
    encodeOffsetFetchResponse(req.version, req.correlationId, groupsOut)
  }
}

object Broker {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Broker])

  /** The principal an unauthenticated (plaintext-listener) or library
    * caller acts as — Kafka's ANONYMOUS. */
  val AnonymousPrincipal = "User:ANONYMOUS"

  /** Longest a fetch long-polls before answering empty — bounds
    * hostile max_wait_ms values (Kafka's own default wait is 500 ms;
    * admin tools send up to 30 s). */
  val MaxFetchWaitMs = 30000

  /** Cap on concurrently remembered fetch sessions; beyond it the
    * least-recently-used session is evicted (the evicted client
    * recovers via FETCH_SESSION_ID_NOT_FOUND → full fetch). */
  val MaxFetchSessions = 64

  /** Widest acknowledgement span one ShareFetch/ShareAcknowledge
    * PARTITION ENTRY may cover, per batch AND summed across batches —
    * far above any real in-flight window (which bounds what can
    * legitimately be acknowledged) while keeping hostile ranges from
    * expanding in memory. */
  val MaxShareAckRange = 10000L

  /** Cap on concurrently remembered share sessions (the
    * MaxFetchSessions discipline): oldest-first eviction; an evicted
    * client sees SHARE_SESSION_NOT_FOUND and reopens at epoch 0. */
  val MaxShareSessions = 256

  /** Cap on remembered (producer_id, topic, partition) sequence
    * states — oldest-first eviction; an evicted producer's next send
    * looks like a non-zero fresh start → OUT_OF_ORDER (45) → the
    * client re-initializes. */
  val MaxProducerStates = 4096

  /** Appended batches remembered per producer-partition for duplicate
    * detection — mirrors the protocol's 5-deep in-flight window
    * (max.in.flight.requests.per.connection ≤ 5 is what keeps
    * idempotent ordering). */
  val MaxRecentBatchesPerProducer = 5

  /** One wire-produce row as [[TopicLog.produceDirect]] takes it:
    * (partition, key, value, headers, timestampMs). */
  private[streaming] type DirectRow =
    (Int, Array[Byte], Array[Byte], Map[String, Array[Byte]], Long)

  /** One request's rows in a topic's group commit; `outcome` is set
    * once, by the request that commits the group, before it notifies
    * the queue's monitor (the waiters read it under that monitor). */
  private[streaming] final class GroupMember(val log: TopicLog,
      val rows: Seq[DirectRow]) {
    var outcome: scala.util.Try[Map[Int, Long]] = null
  }

  /** A topic's wire produces waiting to commit, and whether a commit
    * is in flight; guarded by its own monitor. */
  private[streaming] final class CommitQueue {
    val pending = scala.collection.mutable.ArrayBuffer.empty[GroupMember]
    var committing = false
  }

  /** Outcome of the produce idempotence gate for one partition entry. */
  private[streaming] sealed trait ProduceDecision
  private[streaming] case object Append extends ProduceDecision
  /** A retried batch the broker already appended: ack the original
    * base offset, write nothing. */
  private[streaming] final case class Duplicate(baseOffset: Long)
    extends ProduceDecision
  private[streaming] final case class Reject(errorCode: Int)
    extends ProduceDecision

  /** Per (producer_id, topic, partition) idempotence state: the
    * producer's epoch, last appended sequence, and the recent appended
    * batches as (baseSequence, recordCount, baseOffset). */
  private[streaming] final class ProducerPartitionState {
    var epoch: Int = -1
    var lastSeq: Int = -1
    val recent = scala.collection.mutable.ArrayDeque.empty[(Int, Int, Long)]
  }

  /** KIP-227 fetch-session state: the remembered partition set (its
    * fetch offsets and byte caps, in insertion order) plus the last
    * high watermark reported per partition — the omission signal. */
  private[streaming] final class FetchSession {
    var epoch: Int = 0
    var lastUsedMs: Long = System.currentTimeMillis()
    /** rotation cursor for the serve order — see resolveFetchSession */
    var servePos: Int = 0
    val partitions: scala.collection.mutable.LinkedHashMap[(String, Int), (Long, Int)] =
      scala.collection.mutable.LinkedHashMap.empty
    val lastHw: scala.collection.mutable.Map[(String, Int), Long] =
      scala.collection.mutable.Map.empty
  }

  /** Per-transactional-id coordinator state: a stable pid, the
    * current (fencing) epoch, and — while a transaction is open — the
    * partitions it registered, the offset ranges it produced, and the
    * group offsets awaiting its commit. */
  private[streaming] final class TxnState(val pid: Long) {
    var epoch: Int = -1 // first InitProducerId bumps to 0
    var open: Boolean = false
    val partitions: scala.collection.mutable.Set[(String, Int)] =
      scala.collection.mutable.Set.empty
    val firstOffsets: scala.collection.mutable.Map[(String, Int), Long] =
      scala.collection.mutable.Map.empty
    val lastOffsets: scala.collection.mutable.Map[(String, Int), Long] =
      scala.collection.mutable.Map.empty
    /** group id → (topic, partition) → (offset, metadata) */
    val pendingOffsets: scala.collection.mutable.Map[String,
      Map[(String, Int), (Long, String)]] = scala.collection.mutable.Map.empty
  }

  val MaxTxnStates = 1024
  val MaxAbortedRangesPerPartition = 1024

  /** DescribeGroups v3+ authorized_operations: the bitfield of ACL
    * operation codes a consumer group supports — READ (3), DELETE (6),
    * DESCRIBE (8), each contributing `1 << code`. With no authorizer
    * every supported operation is authorized. */
  val GroupAuthorizedOperations: Int = (1 << 3) | (1 << 6) | (1 << 8)

  val DefaultMaxMessageBytes: Int = 64 * 1024 * 1024

  /** The `compression.type` value set, mapped to wire codec ids;
    * "producer" (−1) serves fetches uncompressed. */
  val CompressionTypes: Map[String, Int] = Map(
    "producer" -> -1,
    "uncompressed" -> KafkaWire.CompressionNone,
    "gzip" -> KafkaWire.CompressionGzip,
    "snappy" -> KafkaWire.CompressionSnappy,
    "lz4" -> KafkaWire.CompressionLz4,
    "zstd" -> KafkaWire.CompressionZstd)

  /** The topic config surface DescribeConfigs serves and the alter
    * APIs accept: (name, default). Overrides live in `_config.json`;
    * `retention.ms` (expiry horizon, [[Broker.applyRetention]]) and
    * `max.message.bytes` (produce size gate, MESSAGE_TOO_LARGE) have
    * enforcement hooks. */
  val TopicConfigDefaults: Seq[(String, String)] = Seq(
    "cleanup.policy" -> "delete",
    "retention.ms" -> "-1",
    "retention.bytes" -> "-1",
    "compression.type" -> "producer",
    "max.message.bytes" -> DefaultMaxMessageBytes.toString,
    "min.cleanable.dirty.ratio" -> "0.5",
    "min.insync.replicas" -> "1")

  /** The GROUP-resource config surface (KIP-848/932 group configs,
    * kafka-configs --entity-type groups): every key has an
    * enforcement hook — the share pair binds at ShareGroup
    * instantiation, the timing pair is re-read by the coordinator on
    * every access. */
  val GroupConfigDefaults: Seq[(String, String)] = Seq(
    "share.auto.offset.reset" -> "earliest",
    "share.delivery.attempt.limit" -> "5",
    "share.record.lock.duration.ms" -> "30000",
    "share.session.timeout.ms" -> "45000",
    "share.heartbeat.interval.ms" -> "3000")

  /** Group-config validator (the topicConfigError discipline): the
    * numeric keys are positive integers, the reset policy an enum;
    * unknown keys answer 40. */
  def groupConfigError(configs: Seq[(String, String)]): String = {
    val allowed = GroupConfigDefaults.map(_._1).toSet
    configs.collectFirst {
      case (n, _) if !allowed.contains(n) => s"unknown group config '$n'"
      case ("share.auto.offset.reset", v) if v != null &&
          v.trim != "earliest" && v.trim != "latest" =>
        s"invalid value '$v' for config 'share.auto.offset.reset'"
      case (n, v) if n != "share.auto.offset.reset" && v != null &&
          !scala.util.Try(v.trim.toLong).toOption.exists(_ > 0) =>
        s"invalid value '$v' for numeric config '$n'"
      case (n, v) if v != null && v.exists(c => c == '"' || c == '\\' || c < ' ') =>
        s"unsupported characters in value of '$n'"
    }.orNull
  }

  /** One validator for every door into the config store — the wire
    * APIs (keys 19/33/44) and the SQL catalog's ALTER TABLE ... SET
    * TBLPROPERTIES path. Returns null when valid, else the message. */
  def topicConfigError(configs: Seq[(String, String)]): String = {
    val allowed = TopicConfigDefaults.map(_._1).toSet
    val numeric = Set("retention.ms", "retention.bytes", "max.message.bytes",
      "min.insync.replicas")
    configs.collectFirst {
      case (n, _) if !allowed.contains(n) => s"unknown topic config '$n'"
      case (n, v) if numeric.contains(n) && v != null &&
          scala.util.Try(v.trim.toLong).isFailure =>
        s"invalid value '$v' for numeric config '$n'"
      case ("compression.type", v)
          if v != null && !CompressionTypes.contains(v.trim) =>
        s"invalid value '$v' for config 'compression.type'"
      case ("cleanup.policy", v) if v != null &&
          v.split(",", -1).map(_.trim).exists(p => p != "delete" && p != "compact") =>
        s"invalid value '$v' for config 'cleanup.policy'"
      case ("min.cleanable.dirty.ratio", v) if v != null &&
          !scala.util.Try(v.trim.toDouble).toOption.exists(d =>
            d >= 0.0 && d <= 1.0) =>
        s"invalid value '$v' for config 'min.cleanable.dirty.ratio'"
      case (n, v) if v != null && v.exists(c => c == '"' || c == '\\' || c < ' ') =>
        s"unsupported characters in value of '$n'"
    }.orNull
  }

  /** The (api_key, name, min_version, max_version) view of
    * [[WireServer.Apis]]: what ApiVersions advertises and the
    * oracle-checked `broker_api_versions` query serves. */
  val WireApis: Seq[(Int, String, Int, Int)] =
    WireServer.Apis.map(a => (a.key, a.name, WireServer.MinVersion, a.maxVersion))
}
