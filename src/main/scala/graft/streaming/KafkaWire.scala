package graft.streaming

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** Kafka wire-protocol codecs for the ApiVersions exchange — the one
  * API the reference broker actually implements — plus Metadata v0,
  * the next API on its dispatch table (ref:
  * pkg/kafka/kafka_api.go:99 HandleApiVersions, framing in
  * pkg/kafka/kafka_connectian_handler.go). Byte layout follows the
  * PUBLIC Kafka protocol spec (flexible versions, KIP-482):
  *
  *  - frame: INT32 big-endian size prefix (size excludes itself);
  *  - request header v2: api_key INT16, api_version INT16,
  *    correlation_id INT32, client_id NULLABLE_STRING (INT16-length),
  *    tagged-field count UVARINT;
  *  - ApiVersions v3 request body: client_software_name and
  *    client_software_version as COMPACT_STRINGs (UVARINT length+1),
  *    tagged fields;
  *  - ApiVersions v3 response: header v0 (correlation_id only — the
  *    protocol special-cases ApiVersions responses so old clients can
  *    parse errors), then error_code INT16, api_keys COMPACT_ARRAY of
  *    (api_key INT16, min INT16, max INT16, tags), throttle_time_ms
  *    INT32, tags.
  */
object KafkaWire {

  /** One served Kafka API, declared once: its key, its name, the newest
    * version this listener speaks, and the first flexible (KIP-482)
    * version — where the request header gains its tag buffer (header
    * v2), the response header its own (header v1), and the body goes
    * compact. `flexibleFrom` is Kafka's published `flexibleVersions`;
    * 0 = flexible at every version, [[NeverFlexible]] = "none". Every
    * codec's header, version check and flexible switch derive from
    * this declaration ([[readRequest]], [[writeRequest]],
    * [[writeResponse]], [[readResponse]]); [[WireServer.Apis]] lists
    * the served ones. */
  final case class Api(key: Int, name: String, maxVersion: Int, flexibleFrom: Int) {
    def flexible(version: Int): Boolean = version >= flexibleFrom
  }

  val NeverFlexible = Int.MaxValue

  val Produce = Api(0, "Produce", 9, 9)
  /** v13 = KIP-516 topic-id keying: request/response address topics by
    * the 16-byte topic_id (graft's deterministic [[topicUuid]]) instead
    * of name; unknown ids answer UNKNOWN_TOPIC_ID (100) per partition.
    * v14 = KIP-405 (adds only the tiered-storage error code; no tiered
    * reads here, so the code is never answered); v15 = KIP-903: the
    * top-level replica_id field is REMOVED — followers identify via
    * the tagged ReplicaState (consumers, graft's only callers, carry
    * neither); v16 = KIP-951: the response MAY carry tagged
    * NodeEndpoints / CurrentLeader redirects — optional, and a
    * single-broker engine never redirects, so they are simply not
    * emitted. */
  val Fetch = Api(1, "Fetch", 16, 12)
  /** v7 = KIP-734 MAX_TIMESTAMP (-3); v8/v9 = KIP-405/KIP-1005
    * EARLIEST_LOCAL (-4) / LATEST_TIERED (-5) sentinel timestamps —
    * no schema change at either. */
  val ListOffsets = Api(2, "ListOffsets", 9, 6)
  val Metadata = Api(3, "Metadata", 12, 9)
  val OffsetCommit = Api(8, "OffsetCommit", 8, 8)
  val OffsetFetch = Api(9, "OffsetFetch", 9, 6)
  val FindCoordinator = Api(10, "FindCoordinator", 4, 3)
  val JoinGroup = Api(11, "JoinGroup", 9, 6)
  val Heartbeat = Api(12, "Heartbeat", 4, 4)
  val LeaveGroup = Api(13, "LeaveGroup", 5, 4)
  val SyncGroup = Api(14, "SyncGroup", 5, 4)
  val DescribeGroups = Api(15, "DescribeGroups", 5, 5)
  val ListGroups = Api(16, "ListGroups", 5, 3)
  val SaslHandshake = Api(17, "SaslHandshake", 1, NeverFlexible)
  val ApiVersions = Api(18, "ApiVersions", 3, 3)
  val CreateTopics = Api(19, "CreateTopics", 7, 5)
  val DeleteTopics = Api(20, "DeleteTopics", 6, 4)
  val DeleteRecords = Api(21, "DeleteRecords", 2, 2)
  val InitProducerId = Api(22, "InitProducerId", 4, 2)
  val OffsetForLeaderEpoch = Api(23, "OffsetForLeaderEpoch", 4, 4)
  val AddPartitionsToTxn = Api(24, "AddPartitionsToTxn", 3, 3)
  val AddOffsetsToTxn = Api(25, "AddOffsetsToTxn", 3, 3)
  val EndTxn = Api(26, "EndTxn", 3, 3)
  val TxnOffsetCommit = Api(28, "TxnOffsetCommit", 3, 3)
  val DescribeAcls = Api(29, "DescribeAcls", 3, 2)
  val CreateAcls = Api(30, "CreateAcls", 3, 2)
  val DeleteAcls = Api(31, "DeleteAcls", 3, 2)
  val DescribeConfigs = Api(32, "DescribeConfigs", 4, 4)
  val AlterConfigs = Api(33, "AlterConfigs", 2, 2)
  val DescribeLogDirs = Api(35, "DescribeLogDirs", 0, 2)
  val SaslAuthenticate = Api(36, "SaslAuthenticate", 2, 2)
  val CreatePartitions = Api(37, "CreatePartitions", 3, 2)
  val CreateDelegationToken = Api(38, "CreateDelegationToken", 3, 2)
  val RenewDelegationToken = Api(39, "RenewDelegationToken", 2, 2)
  val ExpireDelegationToken = Api(40, "ExpireDelegationToken", 2, 2)
  val DescribeDelegationToken = Api(41, "DescribeDelegationToken", 3, 2)
  val DeleteGroups = Api(42, "DeleteGroups", 2, 2)
  val ElectLeaders = Api(43, "ElectLeaders", 0, 2)
  val IncrementalAlterConfigs = Api(44, "IncrementalAlterConfigs", 1, 1)
  val AlterPartitionReassignments = Api(45, "AlterPartitionReassignments", 0, 0)
  val ListPartitionReassignments = Api(46, "ListPartitionReassignments", 0, 0)
  val OffsetDelete = Api(47, "OffsetDelete", 0, NeverFlexible)
  val DescribeClientQuotas = Api(48, "DescribeClientQuotas", 1, 1)
  val AlterClientQuotas = Api(49, "AlterClientQuotas", 1, 1)
  val DescribeUserScramCredentials = Api(50, "DescribeUserScramCredentials", 0, 0)
  val AlterUserScramCredentials = Api(51, "AlterUserScramCredentials", 0, 0)
  val DescribeQuorum = Api(55, "DescribeQuorum", 1, 0)
  val UpdateFeatures = Api(57, "UpdateFeatures", 1, 0)
  val DescribeCluster = Api(60, "DescribeCluster", 0, 0)
  val DescribeProducers = Api(61, "DescribeProducers", 0, 0)
  val DescribeTransactions = Api(65, "DescribeTransactions", 0, 0)
  val ListTransactions = Api(66, "ListTransactions", 0, 0)
  /** v1 (AK 4.0): SubscribedTopicRegex — the broker-side regex
    * subscription KIP-848 completes the consumer API with. Max held
    * at 1: a v2 existed only as an unverified wire-identical-to-v1
    * assumption (Kafka's schema JSON for v2 was not checked), and a
    * broker advertising max=2 GUARANTEES clients pick v2 — if v2
    * added any non-tagged field, every modern client would misparse.
    * Advertising the verified maximum is the safe contract; raise
    * only after checking Apache Kafka's ConsumerGroupHeartbeat.json. */
  val ConsumerGroupHeartbeat = Api(68, "ConsumerGroupHeartbeat", 1, 0)
  val ConsumerGroupDescribe = Api(69, "ConsumerGroupDescribe", 0, 0)
  val GetTelemetrySubscriptions = Api(71, "GetTelemetrySubscriptions", 0, 0)
  val PushTelemetry = Api(72, "PushTelemetry", 0, 0)
  val ListClientMetricsResources = Api(74, "ListClientMetricsResources", 0, 0)
  val DescribeTopicPartitions = Api(75, "DescribeTopicPartitions", 0, 0)
  val ShareGroupHeartbeat = Api(76, "ShareGroupHeartbeat", 0, 0)
  val ShareGroupDescribe = Api(77, "ShareGroupDescribe", 0, 0)
  val ShareFetch = Api(78, "ShareFetch", 1, 0)
  val ShareAcknowledge = Api(79, "ShareAcknowledge", 1, 0)
  val DescribeShareGroupOffsets = Api(90, "DescribeShareGroupOffsets", 0, 0)
  val AlterShareGroupOffsets = Api(91, "AlterShareGroupOffsets", 0, 0)
  val DeleteShareGroupOffsets = Api(92, "DeleteShareGroupOffsets", 0, 0)

  case class ApiVersionsRequest(apiVersion: Int, correlationId: Int,
      clientId: String, softwareName: String, softwareVersion: String)

  /** Feature triples are (name, a, b): (min, max) supported version
    * for `supportedFeatures`; (maxLevel, minLevel) — the KIP-584
    * field order — for `finalizedFeatures`. */
  case class ApiVersionsResponse(correlationId: Int, errorCode: Int,
      apiKeys: Seq[(Int, Int, Int)], throttleTimeMs: Int,
      supportedFeatures: Seq[(String, Int, Int)] = Seq.empty,
      finalizedEpoch: Long = -1L,
      finalizedFeatures: Seq[(String, Int, Int)] = Seq.empty)

  // --- primitives ---

  private def writeUVarInt(out: ByteArrayOutputStream, value: Int): Unit = {
    var v = value
    while ((v & ~0x7f) != 0) {
      out.write((v & 0x7f) | 0x80)
      v >>>= 7
    }
    out.write(v)
  }

  private def readUVarInt(buf: ByteBuffer): Int = {
    var value = 0
    var shift = 0
    var b = 0
    do {
      b = buf.get() & 0xff
      value |= (b & 0x7f) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    value
  }

  private def writeInt16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >>> 8) & 0xff); out.write(v & 0xff)
  }

  private def writeInt32(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
    out.write((v >>> 8) & 0xff); out.write(v & 0xff)
  }

  /** INT16-length-prefixed string (-1 = null) — request-header form. */
  private def writeNullableString(out: ByteArrayOutputStream, s: String): Unit =
    if (s == null) writeInt16(out, -1)
    else {
      val b = s.getBytes(UTF_8)
      writeInt16(out, b.length); out.write(b, 0, b.length)
    }

  private def readNullableString(buf: ByteBuffer): String = {
    val n = buf.getShort.toInt
    if (n < 0) null
    else {
      val b = new Array[Byte](n); buf.get(b); new String(b, UTF_8)
    }
  }

  /** UVARINT(length+1)-prefixed string — flexible-version form. */
  private def writeCompactString(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    writeUVarInt(out, b.length + 1); out.write(b, 0, b.length)
  }

  private def readCompactString(buf: ByteBuffer): String = {
    val n = readUVarInt(buf) - 1
    val b = new Array[Byte](n); buf.get(b); new String(b, UTF_8)
  }

  /** Skip a tagged-fields block (we emit none; tolerate any). */
  private def readTags(buf: ByteBuffer): Unit = {
    val n = readUVarInt(buf)
    var i = 0
    while (i < n) {
      readUVarInt(buf) // tag
      val size = readUVarInt(buf)
      buf.position(buf.position() + size)
      i += 1
    }
  }

  private def frame(payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(payload.length + 4)
    writeInt32(out, payload.length)
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  /** A response buffer size for per-partition record payloads (null =
    * none) plus their partitions' fixed fields: the record-carrying
    * responses write their batches into it once, so a fetch's records
    * are not copied again as the buffer grows. */
  private def frameCapacity(payloads: Seq[Seq[Array[Byte]]]): Int = {
    val hint = 128L + payloads.iterator.flatMap(_.iterator)
      .map(b => 64L + (if (b == null) 0 else b.length)).sum
    math.min(hint, Int.MaxValue - 64L).toInt
  }

  private def closeFrame(out: ByteArrayOutputStream): Array[Byte] = {
    val b = out.toByteArray
    ByteBuffer.wrap(b).putInt(0, b.length - 4)
    b
  }

  private def unframe(bytes: Array[Byte]): ByteBuffer = {
    val buf = ByteBuffer.wrap(bytes)
    val size = buf.getInt
    require(size == bytes.length - 4,
      s"bad frame: size prefix $size vs ${bytes.length - 4} payload bytes")
    buf
  }

  // --- ApiVersions v0–v3 ---

  /** Client-side encode at any v0–v3: v0–v2 carry header v1 and an
    * EMPTY body (the pre-KIP-511 probe every older client opens
    * with); v3 is flexible and adds client_software_name/version. */
  def encodeApiVersionsRequest(version: Int, correlationId: Int,
      clientId: String, softwareName: String = "graft",
      softwareVersion: String = "0"): Array[Byte] =
    if (version == 3)
      encodeApiVersionsRequestV3(correlationId, clientId, softwareName,
        softwareVersion)
    else // v0–v2 body is empty
      writeRequest(ApiVersions, version, correlationId, clientId)(_ => ())

  /** Client-side encode (what a Kafka client puts on the wire). */
  def encodeApiVersionsRequestV3(correlationId: Int, clientId: String,
      softwareName: String, softwareVersion: String): Array[Byte] =
    writeRequest(ApiVersions, 3, correlationId, clientId) { w =>
      writeCompactString(w.out, softwareName)
      writeCompactString(w.out, softwareVersion)
      w.tags()
    }

  /** Server-side decode at ANY client version. api_key, api_version,
    * and correlation_id lead every request header version, so an
    * UNRECOGNIZED version still yields the coordinates the KIP-511
    * error answer needs — the one request a broker must never answer
    * by dropping the connection, because version probing starts here. */
  def decodeApiVersionsRequest(bytes: Array[Byte]): ApiVersionsRequest = {
    val buf = unframe(bytes)
    val apiKey = buf.getShort.toInt
    require(apiKey == ApiVersions.key, s"api key $apiKey is not ApiVersions")
    val apiVersion = buf.getShort.toInt
    if (apiVersion < 0 || apiVersion > ApiVersions.maxVersion)
      // future version: body shape unknown, coordinates suffice
      return ApiVersionsRequest(apiVersion, buf.getInt, null, null, null)
    val (RequestHeader(_, correlationId, clientId), r) =
      readRequest(bytes, ApiVersions)
    if (apiVersion < 3)
      ApiVersionsRequest(apiVersion, correlationId, clientId, null, null)
    else {
      val name = readCompactString(r.buf)
      val version = readCompactString(r.buf)
      r.tags()
      ApiVersionsRequest(apiVersion, correlationId, clientId, name, version)
    }
  }

  /** Server-side decode of a framed ApiVersions v3 request. */
  def decodeApiVersionsRequestV3(bytes: Array[Byte]): ApiVersionsRequest = {
    val req = decodeApiVersionsRequest(bytes)
    require(req.apiVersion == 3,
      s"unsupported ApiVersions version ${req.apiVersion}")
    req
  }

  /** Server-side encode at any v0–v3. The response header is ALWAYS
    * v0 (correlation only — the protocol special-cases ApiVersions so
    * a client can parse ANY broker's answer). v0: error + array of
    * (key, min, max) INT16 triplets; v1–v2 add trailing throttle;
    * v3 goes compact with tag buffers. */
  def encodeApiVersionsResponse(version: Int, correlationId: Int,
      apiKeys: Seq[(Int, Int, Int)], errorCode: Int = 0): Array[Byte] =
    if (version == 3)
      encodeApiVersionsResponseV3(correlationId, apiKeys, errorCode)
    else writeResponse(ApiVersions, version, correlationId) { w =>
      w.i16(errorCode)
      w.count(apiKeys.length)
      apiKeys.foreach { case (key, min, max) => w.i16(key); w.i16(min); w.i16(max) }
      if (version >= 1) w.i32(0) // throttle_time_ms
    }

  /** Client-side decode of a v0–v2 (non-flexible) response. */
  def decodeApiVersionsResponsePreV3(version: Int,
      bytes: Array[Byte]): ApiVersionsResponse = {
    val (correlationId, r) = readResponse(ApiVersions, version, bytes)
    val errorCode = r.buf.getShort.toInt
    val keys = (0 until r.buf.getInt).map { _ =>
      (r.buf.getShort.toInt, r.buf.getShort.toInt, r.buf.getShort.toInt)
    }
    val throttle = if (version >= 1) r.buf.getInt else 0
    ApiVersionsResponse(correlationId, errorCode, keys, throttle)
  }

  /** Server-side encode of the framed ApiVersions v3 response. The
    * KIP-584 feature catalog rides the body's TAGGED fields (tag 0
    * supported_features, tag 1 finalized_features_epoch, tag 2
    * finalized_features) — absent features emit zero tags, the exact
    * pre-feature frame, so a tag-blind client reads the same bytes it
    * always did. */
  def encodeApiVersionsResponseV3(correlationId: Int,
      apiKeys: Seq[(Int, Int, Int)], errorCode: Int = 0,
      throttleTimeMs: Int = 0,
      supportedFeatures: Seq[(String, Int, Int)] = Seq.empty,
      finalizedEpoch: Long = -1L,
      finalizedFeatures: Seq[(String, Int, Int)] = Seq.empty): Array[Byte] =
    writeResponse(ApiVersions, 3, correlationId) { w =>
      val out = w.out
      writeInt16(out, errorCode)
      writeUVarInt(out, apiKeys.length + 1) // compact array
      apiKeys.foreach { case (key, min, max) =>
        writeInt16(out, key); writeInt16(out, min); writeInt16(out, max)
        writeUVarInt(out, 0) // entry tags
      }
      writeInt32(out, throttleTimeMs)
      def featureArray(fs: Seq[(String, Int, Int)]): Array[Byte] = {
        val b = new ByteArrayOutputStream()
        writeUVarInt(b, fs.length + 1)
        fs.foreach { case (name, a, c) =>
          writeCompactString(b, name)
          writeInt16(b, a); writeInt16(b, c)
          writeUVarInt(b, 0) // entry tags
        }
        b.toByteArray
      }
      val tags = Seq.newBuilder[(Int, Array[Byte])]
      if (supportedFeatures.nonEmpty) tags += 0 -> featureArray(supportedFeatures)
      if (finalizedEpoch >= 0) {
        val e = new ByteArrayOutputStream()
        writeInt64(e, finalizedEpoch)
        tags += 1 -> e.toByteArray
        tags += 2 -> featureArray(finalizedFeatures)
      }
      val built = tags.result()
      writeUVarInt(out, built.length) // body tags
      built.foreach { case (tag, payload) =>
        writeUVarInt(out, tag)
        writeUVarInt(out, payload.length)
        out.write(payload, 0, payload.length)
      }
    }

  /** Client-side decode (round-trip check). */
  def decodeApiVersionsResponseV3(bytes: Array[Byte]): ApiVersionsResponse = {
    val (correlationId, r) = readResponse(ApiVersions, 3, bytes)
    val errorCode = r.buf.getShort.toInt
    val n = readUVarInt(r.buf) - 1
    val keys = (0 until n).map { _ =>
      val k = (r.buf.getShort.toInt, r.buf.getShort.toInt, r.buf.getShort.toInt)
      readTags(r.buf)
      k
    }
    val throttle = r.buf.getInt
    // the KIP-584 feature tags; unknown tags skip per the tag protocol
    var supported = Seq.empty[(String, Int, Int)]
    var finalizedEpoch = -1L
    var finalized = Seq.empty[(String, Int, Int)]
    def readFeatureArray(): Seq[(String, Int, Int)] =
      (0 until readUVarInt(r.buf) - 1).map { _ =>
        val f = (readCompactString(r.buf), r.buf.getShort.toInt, r.buf.getShort.toInt)
        readTags(r.buf)
        f
      }
    val tagCount = readUVarInt(r.buf)
    (0 until tagCount).foreach { _ =>
      val tag = readUVarInt(r.buf)
      val size = readUVarInt(r.buf)
      tag match {
        case 0 => supported = readFeatureArray()
        case 1 => finalizedEpoch = r.buf.getLong
        case 2 => finalized = readFeatureArray()
        case _ => r.buf.position(r.buf.position() + size)
      }
    }
    ApiVersionsResponse(correlationId, errorCode, keys, throttle,
      supported, finalizedEpoch, finalized)
  }

  /** The full server exchange: framed request bytes in, framed
    * response bytes (for the given catalog) out — the Spark-native
    * analog of the reference's connection handler dispatch. A
    * request at a version this broker doesn't know answers the
    * KIP-511 fallback: a v0-SHAPED response with UNSUPPORTED_VERSION
    * (35) carrying ApiVersions' own supported range, so the client
    * re-probes at a version both sides speak instead of reading a
    * dead socket. */
  def handleApiVersions(requestBytes: Array[Byte],
      catalog: Seq[(Int, String, Int, Int)],
      supportedFeatures: Seq[(String, Int, Int)] = Seq.empty,
      finalizedEpoch: Long = -1L,
      finalizedFeatures: Seq[(String, Int, Int)] = Seq.empty): Array[Byte] = {
    val req = decodeApiVersionsRequest(requestBytes)
    if (req.apiVersion == 3)
      encodeApiVersionsResponseV3(req.correlationId,
        catalog.map(t => (t._1, t._3, t._4)),
        supportedFeatures = supportedFeatures,
        finalizedEpoch = finalizedEpoch,
        finalizedFeatures = finalizedFeatures)
    else if (req.apiVersion >= 0 && req.apiVersion <= ApiVersions.maxVersion)
      encodeApiVersionsResponse(req.apiVersion, req.correlationId,
        catalog.map(t => (t._1, t._3, t._4)))
    else
      encodeApiVersionsResponse(0, req.correlationId,
        catalog.collect { case (ApiVersions.key, _, min, max) =>
          (ApiVersions.key, min, max) },
        errorCode = 35)
  }

  // --- Metadata v0 (api_key 3, pre-flexible encoding) ---
  // Request header v1 (api_key, api_version, correlation_id,
  // client_id NULLABLE_STRING), response header v0 (correlation_id).
  // Body layouts per the public Kafka protocol spec:
  //   request:  topics ARRAY<STRING> (count -1 = null = all topics)
  //   response: brokers ARRAY<node_id INT32, host STRING, port INT32>,
  //             topics ARRAY<error INT16, name STRING,
  //               partitions ARRAY<error INT16, index INT32,
  //                 leader INT32, replicas ARRAY<INT32>,
  //                 isr ARRAY<INT32>>>

  case class MetadataRequest(correlationId: Int, clientId: String,
      topics: Option[Seq[String]])

  case class PartitionMetadata(errorCode: Int, index: Int, leader: Int,
      replicas: Seq[Int], isr: Seq[Int])

  case class TopicMetadata(errorCode: Int, name: String,
      partitions: Seq[PartitionMetadata])

  case class MetadataResponse(correlationId: Int,
      brokers: Seq[(Int, String, Int)], topics: Seq[TopicMetadata])

  private def writeInt32Array(out: ByteArrayOutputStream, xs: Seq[Int]): Unit = {
    writeInt32(out, xs.length)
    xs.foreach(writeInt32(out, _))
  }

  private def readInt32Array(buf: ByteBuffer): Seq[Int] = {
    val n = buf.getInt
    (0 until n).map(_ => buf.getInt)
  }

  /** Client-side encode of a framed Metadata v0 request. */
  def encodeMetadataRequestV0(correlationId: Int, clientId: String,
      topics: Option[Seq[String]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, Metadata.key) // header v1
    writeInt16(out, 0)
    writeInt32(out, correlationId)
    writeNullableString(out, clientId)
    topics match {
      case None => writeInt32(out, -1) // null array = all topics
      case Some(ts) =>
        writeInt32(out, ts.length)
        ts.foreach(writeNullableString(out, _))
    }
    frame(out.toByteArray)
  }

  /** Server-side decode of a framed Metadata v0 request. */
  def decodeMetadataRequestV0(bytes: Array[Byte]): MetadataRequest = {
    val buf = unframe(bytes)
    val apiKey = buf.getShort.toInt
    require(apiKey == Metadata.key, s"api key $apiKey is not Metadata")
    require(buf.getShort.toInt == 0, "only Metadata v0 supported")
    val correlationId = buf.getInt
    val clientId = readNullableString(buf)
    val n = buf.getInt
    val topics = if (n < 0) None
      else Some((0 until n).map(_ => readNullableString(buf)).toSeq)
    MetadataRequest(correlationId, clientId, topics)
  }

  /** Server-side encode of the framed Metadata v0 response. */
  def encodeMetadataResponseV0(correlationId: Int,
      brokers: Seq[(Int, String, Int)], topics: Seq[TopicMetadata]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt32(out, correlationId) // response header v0
    writeInt32(out, brokers.length)
    brokers.foreach { case (id, host, port) =>
      writeInt32(out, id); writeNullableString(out, host); writeInt32(out, port)
    }
    writeInt32(out, topics.length)
    topics.foreach { t =>
      writeInt16(out, t.errorCode)
      writeNullableString(out, t.name)
      writeInt32(out, t.partitions.length)
      t.partitions.foreach { p =>
        writeInt16(out, p.errorCode)
        writeInt32(out, p.index)
        writeInt32(out, p.leader)
        writeInt32Array(out, p.replicas)
        writeInt32Array(out, p.isr)
      }
    }
    frame(out.toByteArray)
  }

  /** Client-side decode (round-trip check). */
  def decodeMetadataResponseV0(bytes: Array[Byte]): MetadataResponse = {
    val buf = unframe(bytes)
    val correlationId = buf.getInt
    val brokers = (0 until buf.getInt).map { _ =>
      (buf.getInt, readNullableString(buf), buf.getInt)
    }
    val topics = (0 until buf.getInt).map { _ =>
      val err = buf.getShort.toInt
      val name = readNullableString(buf)
      val parts = (0 until buf.getInt).map { _ =>
        PartitionMetadata(buf.getShort.toInt, buf.getInt, buf.getInt,
          readInt32Array(buf), readInt32Array(buf))
      }
      TopicMetadata(err, name, parts)
    }
    MetadataResponse(correlationId, brokers, topics)
  }

  // --- Metadata v1–v12 (flexible/KIP-482 at v9+) ---
  // Version deltas per the public spec:
  //   request:  v0 treats an EMPTY topics array as "all topics"; v1+
  //     moves "all" to the NULL array (-1) and empty means "none";
  //     v4 adds allow_auto_topic_creation BOOLEAN; v8 adds
  //     include_cluster_/include_topic_authorized_operations (the
  //     cluster flag retired at v11); v9 re-encodes compact; v10 keys
  //     each topic entry as (topic_id UUID, nullable name).
  //   response: v3+ prepends throttle_time_ms; brokers gain rack
  //     (v1+, nullable); cluster_id (v2+, nullable) then
  //     controller_id (v1+) precede the topics; topics gain
  //     is_internal (v1+), topic_id (v10+), authorized_operations
  //     (v8+, INT32_MIN = not requested) and a nullable name (v12+);
  //     partitions gain leader_epoch (v7+) and offline_replicas
  //     (v5+); cluster_authorized_operations rides v8–v10 only.

  /** Deterministic per-topic UUID (the v10+ topic_id): graft topics
    * are name-addressed, so the id is a stable digest of the name —
    * never the zero UUID, which the protocol reserves for "unknown". */
  def topicUuid(name: String): Array[Byte] = {
    val u = java.util.UUID.nameUUIDFromBytes(("graft-topic:" + name).getBytes(UTF_8))
    val bb = ByteBuffer.allocate(16)
    bb.putLong(u.getMostSignificantBits); bb.putLong(u.getLeastSignificantBits)
    bb.array()
  }

  def encodeMetadataRequest(version: Int, correlationId: Int, clientId: String,
      topics: Option[Seq[String]]): Array[Byte] =
    writeRequest(Metadata, version, correlationId, clientId) { w =>
      topics match {
        case None => w.count(if (version == 0) 0 else -1) // v0: empty = all; v1+: null = all
        case Some(ts) =>
          w.count(ts.length)
          ts.foreach { t =>
            if (version >= 10) w.uuid(new Array[Byte](16))
            w.str(t)
            w.tags() // per-entry tagged fields at EVERY flexible version (v9+)
          }
      }
      if (version >= 4) w.bool(false) // allow_auto_topic_creation
      if (version >= 8 && version <= 10) w.bool(false) // include_cluster_authorized_operations
      if (version >= 8) w.bool(false) // include_topic_authorized_operations
      w.tags()
    }

  def decodeMetadataRequest(bytes: Array[Byte]): (Int, MetadataRequest) = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, Metadata)
    val n = r.count()
    // v0 has no null array: empty means ALL. v1+ makes null=all so
    // empty can mean "no topics, brokers/controller only". A v10+
    // id-only entry (null name) surfaces as null — the handler
    // answers it UNKNOWN_TOPIC_ID.
    val topics =
      if (n < 0 || (version == 0 && n == 0)) None
      else Some((0 until n).map { _ =>
        if (version >= 10) r.uuid()
        val nm = r.str()
        r.tags() // per-entry tagged fields at EVERY flexible version (v9+)
        nm
      }.toSeq)
    if (version >= 4) r.bool() // allow_auto_topic_creation
    if (version >= 8 && version <= 10) r.bool() // include_cluster_authorized_operations
    if (version >= 8) r.bool() // include_topic_authorized_operations
    r.tags()
    (version, MetadataRequest(correlationId, clientId, topics))
  }

  def encodeMetadataResponse(version: Int, correlationId: Int,
      brokers: Seq[(Int, String, Int)], clusterId: String,
      topics: Seq[TopicMetadata]): Array[Byte] =
    writeResponse(Metadata, version, correlationId) { w =>
      if (version >= 3) w.i32(0) // throttle_time_ms
      w.count(brokers.length)
      brokers.foreach { case (id, host, port) =>
        w.i32(id); w.str(host); w.i32(port)
        if (version >= 1) w.str(null) // rack
        w.tags()
      }
      if (version >= 2) w.str(clusterId)
      if (version >= 1) w.i32(brokers.headOption.map(_._1).getOrElse(-1)) // controller
      w.count(topics.length)
      topics.foreach { t =>
        w.i16(t.errorCode)
        // Name is nullable only at v12+ per the protocol; the v10/v11
        // UNKNOWN_TOPIC_ID answer carries an EMPTY name (the zero UUID
        // already signals "unknown") so a conformant decoder can read it
        w.str(if (t.name == null && version < 12) "" else t.name)
        if (version >= 10)
          w.uuid(if (t.name == null) new Array[Byte](16) else topicUuid(t.name))
        if (version >= 1) w.bool(false) // is_internal
        w.count(t.partitions.length)
        t.partitions.foreach { p =>
          w.i16(p.errorCode)
          w.i32(p.index)
          w.i32(p.leader)
          if (version >= 7) w.i32(0) // leader_epoch
          w.count(p.replicas.length); p.replicas.foreach(w.i32)
          w.count(p.isr.length); p.isr.foreach(w.i32)
          if (version >= 5) w.count(0) // offline_replicas
          w.tags()
        }
        if (version >= 8) w.i32(Int.MinValue) // topic_authorized_operations: not requested
        w.tags()
      }
      if (version >= 8 && version <= 10) w.i32(Int.MinValue) // cluster_authorized_operations
      w.tags()
    }

  def decodeMetadataResponse(version: Int, bytes: Array[Byte]): MetadataResponse = {
    val (correlationId, r) = readResponse(Metadata, version, bytes)
    if (version >= 3) r.i32() // throttle_time_ms
    val brokers = (0 until r.count()).map { _ =>
      val b = (r.i32(), r.str(), r.i32())
      if (version >= 1) r.str() // rack
      r.tags()
      b
    }
    if (version >= 2) r.str() // cluster_id
    if (version >= 1) r.i32() // controller_id
    val topics = (0 until r.count()).map { _ =>
      val err = r.i16()
      val name = r.str()
      if (version >= 10) r.uuid() // topic_id
      if (version >= 1) r.bool() // is_internal
      val parts = (0 until r.count()).map { _ =>
        val perr = r.i16()
        val idx = r.i32()
        val leader = r.i32()
        if (version >= 7) r.i32() // leader_epoch
        val replicas = (0 until r.count()).map(_ => r.i32())
        val isr = (0 until r.count()).map(_ => r.i32())
        if (version >= 5) (0 until r.count()).foreach(_ => r.i32()) // offline_replicas
        r.tags()
        PartitionMetadata(perr, idx, leader, replicas.toSeq, isr.toSeq)
      }
      if (version >= 8) r.i32() // topic_authorized_operations
      r.tags()
      TopicMetadata(err, name, parts)
    }
    if (version >= 8 && version <= 10) r.i32() // cluster_authorized_operations
    r.tags()
    MetadataResponse(correlationId, brokers, topics)
  }

  /** Full server exchange for Metadata v0–v12: the single-broker
    * answer a graft deployment gives — this process is broker 0 /
    * controller / leader of every partition, replicas = isr = [0]
    * (the reference is a single-broker prototype too). An id-only
    * v10+ topic entry answers 100 UNKNOWN_TOPIC_ID (graft topics are
    * name-addressed). */
  def handleMetadata(requestBytes: Array[Byte], host: String, port: Int,
      topicPartitions: Map[String, Int],
      /** DESCRIBE-topic authorization: a full listing HIDES
        * unauthorized topics, a named request answers 29
        * (TOPIC_AUTHORIZATION_FAILED) for them — the standard broker
        * rule. Default allows everything (no authorizer). */
      describeAuth: String => Boolean = _ => true): Array[Byte] = {
    val (version, req) = decodeMetadataRequest(requestBytes)
    val names = req.topics match {
      case None => topicPartitions.keys.toSeq.sorted.filter(describeAuth)
      case Some(ts) => ts
    }
    val topics = names.map {
      case null => TopicMetadata(100, null, Seq.empty) // UNKNOWN_TOPIC_ID
      case name if !describeAuth(name) => TopicMetadata(29, name, Seq.empty)
      case name => topicPartitions.get(name) match {
        case Some(n) =>
          TopicMetadata(0, name, (0 until n).map(i =>
            PartitionMetadata(0, i, 0, Seq(0), Seq(0))))
        case None =>
          TopicMetadata(3, name, Seq.empty) // UNKNOWN_TOPIC_OR_PARTITION
      }
    }
    encodeMetadataResponse(version, req.correlationId,
      Seq((0, host, port)), "graft", topics)
  }

  // --- Produce v0 / Fetch v0 (api_keys 0/1, message format v0) ---
  // MessageSet v0 (no element count — a byte-bounded concatenation):
  //   [offset INT64, message_size INT32, message]*
  // Message v0: crc INT32 (CRC32 over magic..value), magic INT8 = 0,
  //   attributes INT8 = 0, key BYTES, value BYTES
  //   (BYTES = INT32 length, -1 = null).
  // ProduceRequest v0:  acks INT16, timeout INT32, topics ARRAY<
  //   name STRING, partitions ARRAY<partition INT32,
  //   message_set_size INT32, message_set>>
  // ProduceResponse v0: topics ARRAY<name STRING, partitions ARRAY<
  //   partition INT32, error INT16, base_offset INT64>>
  // FetchRequest v0:    replica_id INT32, max_wait_ms INT32,
  //   min_bytes INT32, topics ARRAY<name STRING, partitions ARRAY<
  //   partition INT32, fetch_offset INT64, max_bytes INT32>>
  // FetchResponse v0:   topics ARRAY<name STRING, partitions ARRAY<
  //   partition INT32, error INT16, high_watermark INT64,
  //   message_set_size INT32, message_set>>

  case class WireRecord(key: Array[Byte], value: Array[Byte])

  private def writeInt64(out: ByteArrayOutputStream, v: Long): Unit = {
    var i = 56
    while (i >= 0) { out.write(((v >>> i) & 0xff).toInt); i -= 8 }
  }

  private def writeBytesField(out: ByteArrayOutputStream, b: Array[Byte]): Unit =
    if (b == null) writeInt32(out, -1)
    else { writeInt32(out, b.length); out.write(b, 0, b.length) }

  private def readBytesField(buf: ByteBuffer): Array[Byte] = {
    val n = buf.getInt
    if (n < 0) null
    else { val b = new Array[Byte](n); buf.get(b); b }
  }

  /** One v0 message: CRC32 covers magic..value, per the spec. */
  private def encodeMessageV0(r: WireRecord): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    body.write(0) // magic
    body.write(0) // attributes
    writeBytesField(body, r.key)
    writeBytesField(body, r.value)
    val bodyBytes = body.toByteArray
    val crc = new java.util.zip.CRC32()
    crc.update(bodyBytes)
    val out = new ByteArrayOutputStream()
    writeInt32(out, crc.getValue.toInt)
    out.write(bodyBytes, 0, bodyBytes.length)
    out.toByteArray
  }

  /** MessageSet v0: offset + size + message, concatenated. */
  private[streaming] def encodeMessageSetV0(
      records: Seq[(Long, WireRecord)]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { case (offset, r) =>
      val m = encodeMessageV0(r)
      writeInt64(out, offset)
      writeInt32(out, m.length)
      out.write(m, 0, m.length)
    }
    out.toByteArray
  }

  /** Decode a size-bounded MessageSet v0, verifying each CRC. A
    * partial trailing message is DISCARDED, not an error — v0 sets
    * are byte-bounded, so a broker honoring max_bytes legitimately
    * truncates the last message mid-bytes and clients skip the tail. */
  private[streaming] def decodeMessageSetV0(
      bytes: Array[Byte]): Seq[(Long, WireRecord)] =
    decodeMessageSetV0Ts(bytes).map { case (off, _, r) => (off, r) }

  /** As [[decodeMessageSetV0]] but keeps each message's timestamp:
    * −1 for magic 0 (the format has none); the CreateTime INT64 for
    * magic 1 (a Produce v2 client's stamps must survive, matching
    * Kafka's log.message.timestamp.type=CreateTime default and the
    * v3+ RecordBatch path). */
  private[streaming] def decodeMessageSetV0Ts(
      bytes: Array[Byte]): Seq[(Long, Long, WireRecord)] = {
    val buf = ByteBuffer.wrap(bytes)
    val out = Seq.newBuilder[(Long, Long, WireRecord)]
    while (buf.remaining() >= 12) {
      val offset = buf.getLong
      val size = buf.getInt
      if (size < 14 || size > buf.remaining())
        return out.result() // truncated or corrupt tail: stop cleanly
      val m = new Array[Byte](size); buf.get(m)
      val mb = ByteBuffer.wrap(m)
      val crc = mb.getInt
      val check = new java.util.zip.CRC32()
      check.update(m, 4, m.length - 4)
      require(crc == check.getValue.toInt, s"message CRC mismatch at offset $offset")
      val magic = mb.get()
      require(magic == 0 || magic == 1,
        "only message formats v0/v1 (magic 0/1) supported in message sets")
      // Legacy-format compression nests a whole message set inside a
      // wrapper message's value — a shape only pre-0.11 clients
      // produce. Served as a clean per-partition error 76, not a
      // garbage parse (modern compressing producers use RecordBatch
      // v2, where all four public codecs ARE implemented).
      val att = mb.get() // attributes
      if ((att & CompressionCodecMask) != 0)
        throw UnsupportedCompressionException(att & CompressionCodecMask)
      val ts = if (magic == 1) mb.getLong else -1L
      val key = readBytesField(mb)
      val value = readBytesField(mb)
      out += ((offset, ts, WireRecord(key, value)))
    }
    out.result()
  }

  def encodeProduceRequestV0(correlationId: Int, clientId: String, acks: Int,
      timeoutMs: Int,
      topics: Seq[(String, Seq[(Int, Seq[WireRecord])])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, Produce.key) // header v1
    writeInt16(out, 0)
    writeInt32(out, correlationId)
    writeNullableString(out, clientId)
    writeInt16(out, acks)
    writeInt32(out, timeoutMs)
    writeInt32(out, topics.length)
    topics.foreach { case (name, parts) =>
      writeNullableString(out, name)
      writeInt32(out, parts.length)
      parts.foreach { case (p, records) =>
        writeInt32(out, p)
        // producers stamp offset 0 — the broker assigns real offsets
        val ms = encodeMessageSetV0(records.map(r => (0L, r)))
        writeInt32(out, ms.length)
        out.write(ms, 0, ms.length)
      }
    }
    frame(out.toByteArray)
  }

  def decodeProduceResponseV0(
      bytes: Array[Byte]): (Int, Seq[(String, Seq[(Int, Int, Long)])]) = {
    val buf = unframe(bytes)
    val correlationId = buf.getInt
    val topics = (0 until buf.getInt).map { _ =>
      val name = readNullableString(buf)
      val parts = (0 until buf.getInt).map { _ =>
        (buf.getInt, buf.getShort.toInt, buf.getLong)
      }
      (name, parts.toSeq)
    }
    (correlationId, topics.toSeq)
  }

  def encodeFetchRequestV0(correlationId: Int, clientId: String,
      maxWaitMs: Int, minBytes: Int,
      topics: Seq[(String, Seq[(Int, Long, Int)])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, Fetch.key) // header v1
    writeInt16(out, 0)
    writeInt32(out, correlationId)
    writeNullableString(out, clientId)
    writeInt32(out, -1) // replica_id: -1 = consumer
    writeInt32(out, maxWaitMs)
    writeInt32(out, minBytes)
    writeInt32(out, topics.length)
    topics.foreach { case (name, parts) =>
      writeNullableString(out, name)
      writeInt32(out, parts.length)
      parts.foreach { case (p, off, maxBytes) =>
        writeInt32(out, p); writeInt64(out, off); writeInt32(out, maxBytes)
      }
    }
    frame(out.toByteArray)
  }

  def decodeFetchResponseV0(bytes: Array[Byte])
      : (Int, Seq[(String, Seq[(Int, Int, Long, Seq[(Long, WireRecord)])])]) = {
    val buf = unframe(bytes)
    val correlationId = buf.getInt
    val topics = (0 until buf.getInt).map { _ =>
      val name = readNullableString(buf)
      val parts = (0 until buf.getInt).map { _ =>
        val p = buf.getInt
        val err = buf.getShort.toInt
        val hw = buf.getLong
        val size = buf.getInt
        val ms = new Array[Byte](size); buf.get(ms)
        (p, err, hw, decodeMessageSetV0(ms))
      }
      (name, parts.toSeq)
    }
    (correlationId, topics.toSeq)
  }

  // --- OffsetCommit v0 / OffsetFetch v0 (api_keys 8/9) ---
  // OffsetCommit v0 request: group STRING, topics ARRAY<name STRING,
  //   partitions ARRAY<partition INT32, offset INT64,
  //   metadata NULLABLE_STRING>>; response: topics ARRAY<name,
  //   partitions ARRAY<partition INT32, error INT16>>.
  // OffsetFetch v0 request: group STRING, topics ARRAY<name,
  //   partitions ARRAY<INT32>>; response: topics ARRAY<name,
  //   partitions ARRAY<partition INT32, offset INT64,
  //   metadata NULLABLE_STRING, error INT16>> (offset -1 = none).

  def encodeOffsetCommitRequestV0(correlationId: Int, clientId: String,
      group: String, topics: Seq[(String, Seq[(Int, Long, String)])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, OffsetCommit.key) // header v1
    writeInt16(out, 0)
    writeInt32(out, correlationId)
    writeNullableString(out, clientId)
    writeNullableString(out, group)
    writeInt32(out, topics.length)
    topics.foreach { case (name, parts) =>
      writeNullableString(out, name)
      writeInt32(out, parts.length)
      parts.foreach { case (p, off, meta) =>
        writeInt32(out, p); writeInt64(out, off); writeNullableString(out, meta)
      }
    }
    frame(out.toByteArray)
  }

  def decodeOffsetCommitResponseV0(
      bytes: Array[Byte]): (Int, Seq[(String, Seq[(Int, Int)])]) = {
    val buf = unframe(bytes)
    val correlationId = buf.getInt
    val topics = (0 until buf.getInt).map { _ =>
      val name = readNullableString(buf)
      val parts = (0 until buf.getInt).map(_ => (buf.getInt, buf.getShort.toInt))
      (name, parts.toSeq)
    }
    (correlationId, topics.toSeq)
  }

  def encodeOffsetFetchRequestV0(correlationId: Int, clientId: String,
      group: String, topics: Seq[(String, Seq[Int])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, OffsetFetch.key) // header v1
    writeInt16(out, 0)
    writeInt32(out, correlationId)
    writeNullableString(out, clientId)
    writeNullableString(out, group)
    writeInt32(out, topics.length)
    topics.foreach { case (name, parts) =>
      writeNullableString(out, name)
      writeInt32Array(out, parts)
    }
    frame(out.toByteArray)
  }

  def decodeOffsetFetchResponseV0(
      bytes: Array[Byte]): (Int, Seq[(String, Seq[(Int, Long, String, Int)])]) = {
    val buf = unframe(bytes)
    val correlationId = buf.getInt
    val topics = (0 until buf.getInt).map { _ =>
      val name = readNullableString(buf)
      val parts = (0 until buf.getInt).map { _ =>
        (buf.getInt, buf.getLong, readNullableString(buf), buf.getShort.toInt)
      }
      (name, parts.toSeq)
    }
    (correlationId, topics.toSeq)
  }

  // --- ListOffsets v0 (api_key 2) ---
  // Request (header v1): replica_id INT32, topics ARRAY<name STRING,
  //   partitions ARRAY<partition INT32, timestamp INT64,
  //   max_num_offsets INT32>>; timestamp -1 = LATEST, -2 = EARLIEST.
  // Response: topics ARRAY<name, partitions ARRAY<partition INT32,
  //   error INT16, offsets ARRAY<INT64>>>.

  def encodeListOffsetsRequestV0(correlationId: Int, clientId: String,
      topics: Seq[(String, Seq[(Int, Long, Int)])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, ListOffsets.key) // header v1
    writeInt16(out, 0)
    writeInt32(out, correlationId)
    writeNullableString(out, clientId)
    writeInt32(out, -1) // replica_id: consumer
    writeInt32(out, topics.length)
    topics.foreach { case (name, parts) =>
      writeNullableString(out, name)
      writeInt32(out, parts.length)
      parts.foreach { case (p, ts, maxN) =>
        writeInt32(out, p); writeInt64(out, ts); writeInt32(out, maxN)
      }
    }
    frame(out.toByteArray)
  }

  def decodeListOffsetsResponseV0(
      bytes: Array[Byte]): (Int, Seq[(String, Seq[(Int, Int, Seq[Long])])]) = {
    val buf = unframe(bytes)
    val correlationId = buf.getInt
    val topics = (0 until buf.getInt).map { _ =>
      val name = readNullableString(buf)
      val parts = (0 until buf.getInt).map { _ =>
        val p = buf.getInt
        val err = buf.getShort.toInt
        val offs = (0 until buf.getInt).map(_ => buf.getLong)
        (p, err, offs.toSeq)
      }
      (name, parts.toSeq)
    }
    (correlationId, topics.toSeq)
  }

  // --- Produce v1–v9 / Fetch v1–v12 (versioned bodies, flexible
  // encodings at v9/v12 per KIP-482) ---
  // Version deltas per the public spec:
  //   Produce request:  v3 prepends transactional_id; the partition
  //     payload is a MessageSet (v0–v2, magic 0/1) or a RECORDS block
  //     of magic-2 batches (v3+) — v3 is where HEADERS first fit on
  //     the wire; v3–v8 bodies are byte-identical; v9 re-encodes the
  //     same fields with compact strings/arrays/bytes + tag buffers.
  //   Produce response: v1+ appends throttle_time_ms; v2+ adds
  //     log_append_time; v5+ log_start_offset; v8+ record_errors +
  //     error_message; v9 flexible.
  //   Fetch request:    v3 max_bytes; v4 isolation_level; v5 per-
  //     partition log_start_offset; v7 session_id/epoch + forgotten
  //     topics (KIP-227 — served by Broker's fetch-session layer);
  //     v9 current_leader_epoch; v11 rack_id; v12 flexible +
  //     per-partition last_fetched_epoch; v13 topic_id keying
  //     (KIP-516 — names replaced by UUIDs both directions).
  //   Fetch response:   v1+ throttle; v4 last_stable_offset + aborted
  //     transactions + RECORDS (magic-2) instead of a MessageSet;
  //     v5 log_start_offset; v7 error_code + session_id; v11
  //     preferred_read_replica; v12 flexible.

  /** An id the v13 decoder could not resolve becomes this reserved
    * name (illegal in Kafka's topic charset, so it can never collide):
    * the hex suffix lets the response encoder echo the ORIGINAL id
    * back, per the protocol, without a parallel field anywhere. */
  private[streaming] val UnknownTopicIdMarker = "!unknown-id:"
  private[streaming] def unknownIdName(id: Array[Byte]): String =
    UnknownTopicIdMarker + id.map("%02x".format(_)).mkString
  private[streaming] def isUnknownIdName(name: String): Boolean =
    name.startsWith(UnknownTopicIdMarker)
  private def idOfName(name: String): Array[Byte] =
    if (isUnknownIdName(name))
      name.stripPrefix(UnknownTopicIdMarker).grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
    else topicUuid(name)

  /** Resolver over a known topic set, for v13 decode (broker side:
    * the hosted topics; tests: the names they expect back). */
  def topicIdResolverFor(names: => Seq[String]): Array[Byte] => Option[String] = {
    lazy val byId: Map[Seq[Byte], String] =
      names.map(n => topicUuid(n).toSeq -> n).toMap
    id => byId.get(id.toSeq)
  }

  private def writeCompactNullableString(out: ByteArrayOutputStream, s: String): Unit =
    if (s == null) writeUVarInt(out, 0) else writeCompactString(out, s)

  private def readCompactNullableString(buf: ByteBuffer): String = {
    val n = readUVarInt(buf) - 1
    if (n < 0) null
    else { val b = new Array[Byte](n); buf.get(b); new String(b, UTF_8) }
  }

  private def writeCompactBytes(out: ByteArrayOutputStream, b: Array[Byte]): Unit =
    if (b == null) writeUVarInt(out, 0)
    else { writeUVarInt(out, b.length + 1); out.write(b, 0, b.length) }

  private def readCompactBytes(buf: ByteBuffer): Array[Byte] = {
    val n = readUVarInt(buf) - 1
    if (n < 0) null
    else { val b = new Array[Byte](n); buf.get(b); b }
  }

  /** Field codec pair abstracting legacy vs flexible (compact)
    * encodings, so one body walk serves every version of an API. */
  private final class WR(val out: ByteArrayOutputStream, val flexible: Boolean) {
    def i8(v: Int): Unit = out.write(v & 0xff)
    def bool(v: Boolean): Unit = out.write(if (v) 1 else 0)
    def i16(v: Int): Unit = writeInt16(out, v)
    def i32(v: Int): Unit = writeInt32(out, v)
    def i64(v: Long): Unit = writeInt64(out, v)
    def uuid(b: Array[Byte]): Unit = out.write(b, 0, 16) // raw, never prefixed
    def str(s: String): Unit =
      if (flexible) writeCompactNullableString(out, s) else writeNullableString(out, s)
    // count(-1) is the NULL array in both regimes (legacy -1 / compact 0)
    def count(n: Int): Unit =
      if (flexible) writeUVarInt(out, n + 1) else writeInt32(out, n)
    def bytes(b: Array[Byte]): Unit =
      if (flexible) writeCompactBytes(out, b) else writeBytesField(out, b)
    def f64(v: Double): Unit = writeInt64(out, java.lang.Double.doubleToLongBits(v))
    def tags(): Unit = if (flexible) writeUVarInt(out, 0)
  }

  private final class RD(val buf: ByteBuffer, val flexible: Boolean) {
    def i8(): Int = buf.get().toInt
    def bool(): Boolean = buf.get() != 0
    def i16(): Int = buf.getShort.toInt
    def i32(): Int = buf.getInt
    def i64(): Long = buf.getLong
    def uuid(): Array[Byte] = { val b = new Array[Byte](16); buf.get(b); b }
    def str(): String =
      if (flexible) readCompactNullableString(buf) else readNullableString(buf)
    def count(): Int = if (flexible) readUVarInt(buf) - 1 else buf.getInt
    def bytes(): Array[Byte] =
      if (flexible) readCompactBytes(buf) else readBytesField(buf)
    def f64(): Double = java.lang.Double.longBitsToDouble(buf.getLong)
    def tags(): Unit = if (flexible) readTags(buf)
  }

  /** Request header v1/v2 past its api_key: api_version,
    * correlation_id and client_id (NULLABLE_STRING in both). */
  private[streaming] final case class RequestHeader(version: Int,
      correlationId: Int, clientId: String)

  private def readHeaderFields(buf: ByteBuffer): RequestHeader =
    RequestHeader(buf.getShort.toInt, buf.getInt, readNullableString(buf))

  /** The header of a framed request of any api, unchecked — for the
    * listener's quota attribution and failure logs, which read it
    * before (or instead of) a codec. */
  private[streaming] def peekRequestHeader(framed: Array[Byte]): RequestHeader = {
    val buf = unframe(framed)
    buf.getShort // api_key
    readHeaderFields(buf)
  }

  /** Server-side header read: the frame must carry `api`'s key at a
    * version in [0, maxVersion] (anything else fails the decode, which
    * closes the connection); a flexible version's header tag buffer is
    * skipped, and the returned reader sits at the body. */
  private def readRequest(bytes: Array[Byte], api: Api): (RequestHeader, RD) = {
    val buf = unframe(bytes)
    require(buf.getShort.toInt == api.key, s"not a ${api.name} request")
    val header = readHeaderFields(buf)
    require(header.version >= 0 && header.version <= api.maxVersion,
      s"unsupported ${api.name} version ${header.version}")
    val flexible = api.flexible(header.version)
    if (flexible) readTags(buf) // header v2 tag buffer
    (header, new RD(buf, flexible))
  }

  /** Client-side encode: size prefix, request header v1/v2, then
    * `body` through a writer in the version's encoding. The version is
    * the caller's to choose (the server's [[readRequest]] is what
    * enforces `maxVersion`). */
  private def writeRequest(api: Api, version: Int, correlationId: Int,
      clientId: String)(body: WR => Unit): Array[Byte] = {
    val flexible = api.flexible(version)
    val out = new ByteArrayOutputStream(64)
    writeInt32(out, 0) // size prefix, filled in by closeFrame
    writeInt16(out, api.key)
    writeInt16(out, version)
    writeInt32(out, correlationId)
    writeNullableString(out, clientId) // header v1/v2: legacy string either way
    if (flexible) writeUVarInt(out, 0) // header v2 tag buffer
    body(new WR(out, flexible))
    closeFrame(out)
  }

  /** Response header v1 (correlation id + tag buffer) at every flexible
    * version but one: ApiVersions answers with header v0 at ALL
    * versions, so a client can parse any broker's reply (KIP-511). */
  private def taggedResponseHeader(api: Api, version: Int): Boolean =
    api.flexible(version) && api.key != ApiVersions.key

  /** Server-side encode: size prefix, response header, then `body`,
    * at the version the request was decoded at. `capacity` pre-sizes
    * the buffer for record-carrying responses. */
  private def writeResponse(api: Api, version: Int, correlationId: Int,
      capacity: Int = 64)(body: WR => Unit): Array[Byte] = {
    val out = new ByteArrayOutputStream(capacity)
    writeInt32(out, 0) // size prefix, filled in by closeFrame
    writeInt32(out, correlationId)
    if (taggedResponseHeader(api, version)) writeUVarInt(out, 0)
    body(new WR(out, api.flexible(version)))
    closeFrame(out)
  }

  /** Client-side decode: the correlation id, and a reader at the body
    * (past a flexible response header's tag buffer). */
  private def readResponse(api: Api, version: Int,
      bytes: Array[Byte]): (Int, RD) = {
    val buf = unframe(bytes)
    val correlationId = buf.getInt
    if (taggedResponseHeader(api, version)) readTags(buf)
    (correlationId, new RD(buf, api.flexible(version)))
  }

  /** All-version produce request: each partition payload decodes to
    * its constituent [[ProducedBatch]]es — the batch is the
    * idempotence unit, so its producerId/epoch/baseSequence must
    * survive decode for the broker's sequence bookkeeping. v0–v2
    * message-set payloads surface as ONE non-idempotent batch
    * (coordinates −1/−1/−1, timestampMs −1, no headers — exactly what
    * those formats can carry). */
  case class ProduceRequest(version: Int, correlationId: Int, clientId: String,
      transactionalId: String, acks: Int, timeoutMs: Int,
      topics: Seq[(String, Seq[(Int, Seq[ProducedBatch])])],
      /** Partition ENTRIES whose payload failed to decode, keyed
        * (topic, entry index within that topic's array) — 76 for an
        * unsupported codec, 2 (CORRUPT_MESSAGE) for anything else.
        * Keyed by position, not by partition id: a request may list
        * the same partition twice (one valid entry, one corrupt), and
        * the valid entry's append must still ack. The errored entry
        * still appears in `topics` (with no batches) so response
        * ordering survives; the broker answers the error and appends
        * nothing. One bad entry no longer kills the connection. */
      decodeErrors: Map[(String, Int), Int] = Map.empty,
      /** Each partition entry's wire payload size in bytes, keyed
        * like [[decodeErrors]] — the quantity `max.message.bytes`
        * bounds (the broker cannot recover it from decoded records:
        * batch framing and compression change the on-wire size). */
      payloadSizes: Map[(String, Int), Int] = Map.empty)

  /** sessionId/sessionEpoch are the KIP-227 fetch-session fields
    * (v7+; epoch −1 = sessionless, 0 = open a new session, >0 =
    * incremental); forgotten lists the partitions an incremental
    * fetch removes from its session. */
  case class FetchRequest(version: Int, correlationId: Int, clientId: String,
      maxWaitMs: Int, minBytes: Int, maxBytes: Int,
      sessionId: Int, sessionEpoch: Int,
      topics: Seq[(String, Seq[(Int, Long, Int)])],
      forgotten: Seq[(String, Seq[Int])],
      /** 0 = read_uncommitted; 1 = read_committed (v4+) — the broker
        * then caps at the LSO and filters aborted records out. */
      isolationLevel: Int = 0)

  private def produceRecordsPayload(version: Int,
      batch: ProducedBatch, compression: Int = CompressionNone): Array[Byte] =
    if (version >= 3) {
      if (batch.records.isEmpty) Array.empty[Byte]
      else encodeRecordBatchV2(RecordBatchV2(0L,
        batch.records.headOption.map(_.timestampMs).getOrElse(-1L),
        batch.records, batch.producerId, batch.producerEpoch,
        batch.baseSequence, batch.transactional), compression)
    } else {
      require(batch.producerId < 0,
        s"message-set produce (v$version) cannot carry a producer id — use v3+")
      require(batch.records.forall(_.headers.isEmpty),
        s"message-set produce (v$version) cannot carry headers — use v3+")
      encodeMessageSetV0(batch.records.map(r => (0L, WireRecord(r.key, r.value))))
    }

  /** Client-side encode of a produce request at any supported version
    * (0–9), non-idempotent form (producer coordinates −1/−1/−1). For
    * v0–v2 the records' headers are NOT encodable and must be empty. */
  def encodeProduceRequest(version: Int, correlationId: Int, clientId: String,
      transactionalId: String, acks: Int, timeoutMs: Int,
      topics: Seq[(String, Seq[(Int, Seq[WireRecordV2])])]): Array[Byte] =
    encodeProduceRequestBatches(version, correlationId, clientId,
      transactionalId, acks, timeoutMs,
      topics.map { case (t, parts) =>
        (t, parts.map { case (p, rs) => (p, ProducedBatch(-1L, -1, -1, rs)) })
      })

  /** Client-side encode with explicit per-partition batch coordinates
    * — what an idempotent producer sends (one batch per partition,
    * each carrying its own producerId/epoch/baseSequence). v3+ only
    * for idempotent batches. */
  def encodeProduceRequestBatches(version: Int, correlationId: Int,
      clientId: String, transactionalId: String, acks: Int, timeoutMs: Int,
      topics: Seq[(String, Seq[(Int, ProducedBatch)])],
      compression: Int = CompressionNone): Array[Byte] = {
    require(compression == CompressionNone || version >= 3,
      "compressed produce needs the RecordBatch v2 payload (v3+)")
    writeRequest(Produce, version, correlationId, clientId) { w =>
      if (version >= 3) w.str(transactionalId)
      w.i16(acks)
      w.i32(timeoutMs)
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, batch) =>
          w.i32(p)
          w.bytes(produceRecordsPayload(version, batch, compression))
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }
  }

  /** Server-side decode of a framed produce request, any version 0–9. */
  def decodeProduceRequest(bytes: Array[Byte]): ProduceRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, Produce)
    val txnId = if (version >= 3) r.str() else null
    val acks = r.i16()
    val timeout = r.i32()
    val decodeErrors = Map.newBuilder[(String, Int), Int]
    val payloadSizes = Map.newBuilder[(String, Int), Int]
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { idx =>
        val p = r.i32()
        // the payload is a length-prefixed BYTES field, so it is fully
        // consumed here regardless of what its decode does — a bad
        // payload surfaces as a per-entry error, never as a desynced
        // outer buffer
        val payload = Option(r.bytes()).getOrElse(Array.empty[Byte])
        payloadSizes += ((name, idx) -> payload.length)
        val batches =
          try {
            if (version >= 3) decodeProduceBatches(payload)
            else {
              val recs = decodeMessageSetV0Ts(payload)
                .map { case (_, ts, rec) => WireRecordV2(ts, rec.key, rec.value) }
              if (recs.isEmpty) Seq.empty
              else Seq(ProducedBatch(-1L, -1, -1, recs))
            }
          } catch {
            case UnsupportedCompressionException(codec) =>
              decodeErrors += ((name, idx) -> 76); Seq.empty
            case scala.util.control.NonFatal(_) =>
              decodeErrors += ((name, idx) -> 2); Seq.empty // CORRUPT_MESSAGE
          }
        r.tags()
        (p, batches)
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    ProduceRequest(version, correlationId, clientId, txnId, acks, timeout,
      topics.toSeq, decodeErrors.result(), payloadSizes.result())
  }

  /** Encode a produce response at any version 0–9;
    * results = (topic, (partition, error, baseOffset)*)*. */
  def encodeProduceResponse(version: Int, correlationId: Int,
      results: Seq[(String, Seq[(Int, Int, Long)])],
      throttleTimeMs: Int = 0): Array[Byte] =
    writeResponse(Produce, version, correlationId) { w =>
      w.count(results.length)
      results.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, err, base) =>
          w.i32(p); w.i16(err); w.i64(base)
          if (version >= 2) w.i64(-1L) // log_append_time: create-time
          if (version >= 5) w.i64(-1L) // log_start_offset: not reported
          if (version >= 8) { w.count(0); w.str(null) } // record_errors, error_message
          w.tags()
        }
        w.tags()
      }
      if (version >= 1) w.i32(throttleTimeMs)
      w.tags()
    }

  def decodeProduceResponse(version: Int,
      bytes: Array[Byte]): (Int, Seq[(String, Seq[(Int, Int, Long)])]) = {
    val full = decodeProduceResponseFull(version, bytes)
    (full._1, full._2)
  }

  /** Like [[decodeProduceResponse]] but surfacing the v1+
    * throttle_time_ms (0 at v0). */
  def decodeProduceResponseFull(version: Int, bytes: Array[Byte])
      : (Int, Seq[(String, Seq[(Int, Int, Long)])], Int) = {
    val (correlationId, r) = readResponse(Produce, version, bytes)
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val t = (r.i32(), r.i16(), r.i64())
        if (version >= 2) r.i64() // log_append_time
        if (version >= 5) r.i64() // log_start_offset
        if (version >= 8) {
          (0 until r.count()).foreach { _ => r.i32(); r.str(); r.tags() }
          r.str() // error_message
        }
        r.tags()
        t
      }
      r.tags()
      (name, parts.toSeq)
    }
    val throttle = if (version >= 1) r.i32() else 0
    r.tags()
    (correlationId, topics.toSeq, throttle)
  }

  def encodeFetchRequest(version: Int, correlationId: Int, clientId: String,
      maxWaitMs: Int, minBytes: Int, maxBytes: Int,
      topics: Seq[(String, Seq[(Int, Long, Int)])],
      sessionId: Int = 0, sessionEpoch: Int = -1,
      forgotten: Seq[(String, Seq[Int])] = Seq.empty,
      isolationLevel: Int = 0,
      /** v13: per-name topic_id override (for unknown-id test legs);
        * absent names use the deterministic [[topicUuid]]. */
      idOverrides: Map[String, Array[Byte]] = Map.empty): Array[Byte] = {
    val byId = version >= 13
    writeRequest(Fetch, version, correlationId, clientId) { w =>
      if (version <= 14) w.i32(-1) // replica_id: -1 = consumer (gone v15+)
      w.i32(maxWaitMs)
      w.i32(minBytes)
      if (version >= 3) w.i32(maxBytes)
      if (version >= 4) w.out.write(isolationLevel)
      if (version >= 7) { w.i32(sessionId); w.i32(sessionEpoch) }
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        if (byId) w.uuid(idOverrides.getOrElse(name, idOfName(name)))
        else w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, off, partMaxBytes) =>
          w.i32(p)
          if (version >= 9) w.i32(-1) // current_leader_epoch: unknown
          w.i64(off)
          if (version >= 12) w.i32(-1) // last_fetched_epoch
          if (version >= 5) w.i64(-1L) // log_start_offset (follower-only)
          w.i32(partMaxBytes)
          w.tags()
        }
        w.tags()
      }
      if (version >= 7) {
        w.count(forgotten.length)
        forgotten.foreach { case (name, parts) =>
          if (byId) w.uuid(idOverrides.getOrElse(name, idOfName(name)))
          else w.str(name)
          w.count(parts.length); parts.foreach(w.i32)
          w.tags()
        }
      }
      if (version >= 11) w.str("") // rack_id
      w.tags()
    }
  }

  def decodeFetchRequest(bytes: Array[Byte],
      /** v13: resolves a topic_id to its name; None (or the default)
        * maps the entry to the unknown-id marker name, which the
        * broker answers with UNKNOWN_TOPIC_ID (100). */
      topicIdResolver: Array[Byte] => Option[String] = _ => None)
      : FetchRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, Fetch)
    val byId = version >= 13
    if (version <= 14) r.i32() // replica_id (tagged ReplicaState v15+)
    val maxWait = r.i32()
    val minBytes = r.i32()
    val maxBytes = if (version >= 3) r.i32() else Int.MaxValue
    val isolationLevel = if (version >= 4) r.buf.get().toInt else 0
    val (sessionId, sessionEpoch) =
      if (version >= 7) (r.i32(), r.i32()) else (0, -1)
    def readTopicKey(): String =
      if (byId) {
        val id = r.uuid()
        topicIdResolver(id).getOrElse(unknownIdName(id))
      } else r.str()
    val topics = (0 until r.count()).map { _ =>
      val name = readTopicKey()
      val parts = (0 until r.count()).map { _ =>
        val p = r.i32()
        if (version >= 9) r.i32() // current_leader_epoch
        val off = r.i64()
        if (version >= 12) r.i32() // last_fetched_epoch
        if (version >= 5) r.i64() // log_start_offset
        val pmb = r.i32()
        r.tags()
        (p, off, pmb)
      }
      r.tags()
      (name, parts.toSeq)
    }
    val forgotten =
      if (version >= 7) (0 until r.count()).map { _ =>
        val name = readTopicKey()
        val parts = (0 until r.count()).map(_ => r.i32())
        r.tags()
        (name, parts.toSeq)
      }.toSeq
      else Seq.empty[(String, Seq[Int])]
    if (version >= 11) r.str() // rack_id
    r.tags()
    FetchRequest(version, correlationId, clientId, maxWait, minBytes, maxBytes,
      sessionId, sessionEpoch, topics.toSeq, forgotten, isolationLevel)
  }

  /** Encode a fetch response at any version 0–16; records are
    * (absoluteOffset, record) pairs. v4+ ships them as ONE magic-2
    * batch per partition (headers survive); v0–v3 fall back to a
    * MessageSet v0, which by construction drops headers and
    * timestamps — the fidelity loss is the FORMAT's, so v4+ is what
    * a header-carrying client negotiates. */
  def encodeFetchResponse(version: Int, correlationId: Int,
      topics: Seq[(String, Seq[(Int, Int, Long, Seq[(Long, WireRecordV2)])])],
      errorCode: Int = 0, sessionId: Int = 0,
      compression: Int = CompressionNone,
      /** Per-partition last stable offset where it trails the high
        * watermark (open transactions); defaults to hw. */
      lso: Map[(String, Int), Long] = Map.empty,
      /** Per-topic codec override (a topic's `compression.type`
        * config); topics absent here serve at `compression`. */
      compressionByTopic: Map[String, Int] = Map.empty,
      throttleTimeMs: Int = 0): Array[Byte] = {
    val byId = version >= 13
    val payloads = topics.map { case (name, parts) =>
      parts.map { case (_, _, _, records) =>
        if (records.isEmpty) Array.empty[Byte]
        else if (version >= 4)
          // compression applies only to the magic-2 path — legacy
          // message sets would need the nested-wrapper form no
          // modern client expects back
          encodeRecordBatchV2WithOffsets(records.head._2.timestampMs,
            records, compressionByTopic.getOrElse(name, compression))
        else encodeMessageSetV0(
          records.map { case (off, rec) => (off, WireRecord(rec.key, rec.value)) })
      }
    }
    writeResponse(Fetch, version, correlationId, frameCapacity(payloads)) { w =>
      if (version >= 1) w.i32(throttleTimeMs)
      if (version >= 7) { w.i16(errorCode); w.i32(sessionId) }
      w.count(topics.length)
      topics.iterator.zip(payloads.iterator).foreach { case ((name, parts), tPayloads) =>
        // v13: the id — for an unresolved marker name this recovers and
        // echoes the REQUEST's original topic_id, per the protocol
        if (byId) w.uuid(idOfName(name)) else w.str(name)
        w.count(parts.length)
        parts.iterator.zip(tPayloads.iterator).foreach { case ((p, err, hw, _), payload) =>
          w.i32(p); w.i16(err); w.i64(hw)
          if (version >= 4) {
            w.i64(lso.getOrElse((name, p), hw)) // last_stable_offset
            if (version >= 5) w.i64(0L) // log_start_offset
            // aborted_transactions stays empty BY DESIGN: graft's
            // read_committed filtering is broker-side (aborted records
            // are omitted from the response as offset gaps, the same
            // shape compaction produces), so clients have nothing to
            // filter and no control batches exist to delimit
            w.count(0)
            if (version >= 11) w.i32(-1) // preferred_read_replica
          }
          w.bytes(payload)
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }
  }

  def decodeFetchResponse(version: Int, bytes: Array[Byte],
      topicIdResolver: Array[Byte] => Option[String] = _ => None)
      : (Int, Seq[(String, Seq[(Int, Int, Long, Seq[(Long, WireRecordV2)])])]) = {
    val full = decodeFetchResponseFull(version, bytes, topicIdResolver)
    (full._1, full._4)
  }

  /** Like [[decodeFetchResponse]] but surfacing the v7+ session
    * fields: (correlationId, errorCode, sessionId, topics). At v13
    * the resolver maps response topic_ids back to names (unresolved
    * ids surface as the unknown-id marker name). */
  def decodeFetchResponseFull(version: Int, bytes: Array[Byte],
      topicIdResolver: Array[Byte] => Option[String] = _ => None)
      : (Int, Int, Int, Seq[(String, Seq[(Int, Int, Long, Seq[(Long, WireRecordV2)])])]) = {
    val byId = version >= 13
    val (correlationId, r) = readResponse(Fetch, version, bytes)
    if (version >= 1) r.i32() // throttle_time_ms
    val (errorCode, sessionId) =
      if (version >= 7) (r.i16(), r.i32()) else (0, 0)
    val topics = (0 until r.count()).map { _ =>
      val name =
        if (byId) {
          val id = r.uuid()
          topicIdResolver(id).getOrElse(unknownIdName(id))
        } else r.str()
      val parts = (0 until r.count()).map { _ =>
        val p = r.i32()
        val err = r.i16()
        val hw = r.i64()
        if (version >= 4) {
          r.i64() // last_stable_offset
          if (version >= 5) r.i64() // log_start_offset
          (0 until r.count()).foreach { _ => r.i64(); r.i64(); r.tags() }
          if (version >= 11) r.i32() // preferred_read_replica
        }
        val payload = Option(r.bytes()).getOrElse(Array.empty[Byte])
        val records =
          if (version >= 4) decodeRecordsBlock(payload)
          else decodeMessageSetV0(payload)
            .map { case (off, rec) => (off, WireRecordV2(-1L, rec.key, rec.value)) }
        r.tags()
        (p, err, hw, records)
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    (correlationId, errorCode, sessionId, topics.toSeq)
  }

  // --- Group membership v0 (JoinGroup 11, Heartbeat 12, LeaveGroup
  // 13, SyncGroup 14) — the classic consumer-group protocol. The
  // BROKER only brokers metadata: members ship opaque protocol
  // metadata at join, the elected LEADER member computes assignments
  // (graft's Assignors) and ships them back via SyncGroup, everyone
  // else receives theirs — per the public spec.

  case class JoinGroupResponseV0(correlationId: Int, errorCode: Int,
      generationId: Int, protocol: String, leaderId: String,
      memberId: String, members: Seq[(String, Array[Byte])])

  def encodeJoinGroupRequestV0(correlationId: Int, clientId: String,
      group: String, sessionTimeoutMs: Int, memberId: String,
      protocolType: String, protocols: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, JoinGroup.key); writeInt16(out, 0)
    writeInt32(out, correlationId); writeNullableString(out, clientId)
    writeNullableString(out, group)
    writeInt32(out, sessionTimeoutMs)
    writeNullableString(out, memberId)
    writeNullableString(out, protocolType)
    writeInt32(out, protocols.length)
    protocols.foreach { case (n, m) =>
      writeNullableString(out, n); writeBytesField(out, m)
    }
    frame(out.toByteArray)
  }

  def decodeJoinGroupResponseV0(bytes: Array[Byte]): JoinGroupResponseV0 = {
    val buf = unframe(bytes)
    val correlationId = buf.getInt
    val err = buf.getShort.toInt
    val gen = buf.getInt
    val protocol = readNullableString(buf)
    val leader = readNullableString(buf)
    val member = readNullableString(buf)
    val members = (0 until buf.getInt).map { _ =>
      (readNullableString(buf), readBytesField(buf))
    }
    JoinGroupResponseV0(correlationId, err, gen, protocol, leader, member,
      members.toSeq)
  }

  def encodeSyncGroupRequestV0(correlationId: Int, clientId: String,
      group: String, generationId: Int, memberId: String,
      assignments: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, SyncGroup.key); writeInt16(out, 0)
    writeInt32(out, correlationId); writeNullableString(out, clientId)
    writeNullableString(out, group)
    writeInt32(out, generationId)
    writeNullableString(out, memberId)
    writeInt32(out, assignments.length)
    assignments.foreach { case (id, a) =>
      writeNullableString(out, id); writeBytesField(out, a)
    }
    frame(out.toByteArray)
  }

  def decodeSyncGroupResponseV0(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val buf = unframe(bytes)
    (buf.getInt, buf.getShort.toInt, readBytesField(buf))
  }

  /** Heartbeat v0 and LeaveGroup v0 requests share a tiny shape; the
    * response to both is correlation_id + error_code. */
  def encodeHeartbeatRequestV0(correlationId: Int, clientId: String,
      group: String, generationId: Int, memberId: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, Heartbeat.key); writeInt16(out, 0)
    writeInt32(out, correlationId); writeNullableString(out, clientId)
    writeNullableString(out, group)
    writeInt32(out, generationId)
    writeNullableString(out, memberId)
    frame(out.toByteArray)
  }

  def encodeLeaveGroupRequestV0(correlationId: Int, clientId: String,
      group: String, memberId: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, LeaveGroup.key); writeInt16(out, 0)
    writeInt32(out, correlationId); writeNullableString(out, clientId)
    writeNullableString(out, group)
    writeNullableString(out, memberId)
    frame(out.toByteArray)
  }

  def decodeErrorResponse(bytes: Array[Byte]): (Int, Int) = {
    val buf = unframe(bytes)
    (buf.getInt, buf.getShort.toInt)
  }

  // --- FindCoordinator v0 (api_key 10) — the lookup every real
  // client performs before ANY group RPC (offsets or membership);
  // a single-broker graft always answers itself. ---

  def encodeFindCoordinatorRequestV0(correlationId: Int, clientId: String,
      group: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, FindCoordinator.key); writeInt16(out, 0)
    writeInt32(out, correlationId); writeNullableString(out, clientId)
    writeNullableString(out, group)
    frame(out.toByteArray)
  }

  def decodeFindCoordinatorResponseV0(
      bytes: Array[Byte]): (Int, Int, Int, String, Int) = {
    val buf = unframe(bytes)
    (buf.getInt, buf.getShort.toInt, buf.getInt, readNullableString(buf), buf.getInt)
  }

  // --- Modern versions of the coordinator / group / offset APIs ---
  // The version families a current off-the-shelf client (Java
  // kafka-clients 3.x, sarama) actually negotiates once the broker
  // advertises them. Field deltas per the public protocol spec;
  // flexible (KIP-482) floors: ListOffsets v6, OffsetCommit v8,
  // OffsetFetch v6, FindCoordinator v3, JoinGroup v6, Heartbeat v4,
  // LeaveGroup v4, SyncGroup v4.

  // -- ListOffsets (key 2) v0–v9: v1 drops max_num_offsets and moves
  // the response to ONE (timestamp, offset) pair; v2 isolation_level
  // + response throttle; v4 leader epochs; v6 flexible; v7 admits
  // timestamp -3 (MAX_TIMESTAMP) with unchanged wire shape. --

  case class ListOffsetsRequest(version: Int, correlationId: Int, clientId: String,
      isolationLevel: Int, topics: Seq[(String, Seq[(Int, Long, Int)])])

  /** maxNumOffsets in each (partition, timestamp, maxNumOffsets) is
    * meaningful at v0 only; v1+ ignores it on encode and decodes it
    * as 1. */
  def encodeListOffsetsRequest(version: Int, correlationId: Int, clientId: String,
      topics: Seq[(String, Seq[(Int, Long, Int)])],
      isolationLevel: Int = 0): Array[Byte] =
    writeRequest(ListOffsets, version, correlationId, clientId) { w =>
      w.i32(-1) // replica_id: consumer
      if (version >= 2) w.i8(isolationLevel)
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, ts, maxN) =>
          w.i32(p)
          if (version >= 4) w.i32(-1) // current_leader_epoch
          w.i64(ts)
          if (version == 0) w.i32(maxN)
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  def decodeListOffsetsRequest(bytes: Array[Byte]): ListOffsetsRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, ListOffsets)
    r.i32() // replica_id
    val isolation = if (version >= 2) r.i8() else 0
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val p = r.i32()
        if (version >= 4) r.i32() // current_leader_epoch
        val ts = r.i64()
        val maxN = if (version == 0) r.i32() else 1
        r.tags()
        (p, ts, maxN)
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    ListOffsetsRequest(version, correlationId, clientId, isolation, topics.toSeq)
  }

  /** Per partition: (partition, error, timestamp, offset, v0Offsets).
    * v0 encodes the offsets ARRAY; v1+ the single (timestamp, offset)
    * pair — offset −1 / timestamp −1 mean "no such offset". */
  def encodeListOffsetsResponse(version: Int, correlationId: Int,
      topics: Seq[(String, Seq[(Int, Int, Long, Long, Seq[Long])])]): Array[Byte] =
    writeResponse(ListOffsets, version, correlationId) { w =>
      if (version >= 2) w.i32(0) // throttle_time_ms
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, err, ts, off, v0Offs) =>
          w.i32(p)
          w.i16(err)
          if (version == 0) { w.count(v0Offs.length); v0Offs.foreach(w.i64) }
          else {
            w.i64(ts)
            w.i64(off)
            if (version >= 4) w.i32(-1) // leader_epoch
          }
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  def decodeListOffsetsResponse(version: Int, bytes: Array[Byte])
      : (Int, Seq[(String, Seq[(Int, Int, Long, Long, Seq[Long])])]) = {
    val (correlationId, r) = readResponse(ListOffsets, version, bytes)
    if (version >= 2) r.i32() // throttle_time_ms
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val p = r.i32()
        val err = r.i16()
        val (ts, off, v0Offs) =
          if (version == 0) (-1L, -1L, (0 until r.count()).map(_ => r.i64()).toSeq)
          else {
            val t = r.i64(); val o = r.i64()
            if (version >= 4) r.i32() // leader_epoch
            (t, o, Seq.empty[Long])
          }
        r.tags()
        (p, err, ts, off, v0Offs)
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    (correlationId, topics.toSeq)
  }

  // -- OffsetCommit (key 8) v0–v8: v1 adds generation/member (+ a
  // per-partition commit_timestamp it alone carries); v2–v4 carry
  // retention_time_ms; v6 leader epochs; v7 group_instance_id; v8
  // flexible. --

  case class OffsetCommitRequest(version: Int, correlationId: Int, clientId: String,
      group: String, generationId: Int, memberId: String, groupInstanceId: String,
      topics: Seq[(String, Seq[(Int, Long, String)])])

  def encodeOffsetCommitRequest(version: Int, correlationId: Int, clientId: String,
      group: String, generationId: Int, memberId: String, groupInstanceId: String,
      topics: Seq[(String, Seq[(Int, Long, String)])]): Array[Byte] =
    writeRequest(OffsetCommit, version, correlationId, clientId) { w =>
      w.str(group)
      if (version >= 1) { w.i32(generationId); w.str(memberId) }
      if (version >= 7) w.str(groupInstanceId)
      if (version >= 2 && version <= 4) w.i64(-1L) // retention_time_ms: broker default
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, off, meta) =>
          w.i32(p)
          w.i64(off)
          if (version >= 6) w.i32(-1) // committed_leader_epoch
          if (version == 1) w.i64(-1L) // commit_timestamp
          w.str(meta)
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  def decodeOffsetCommitRequest(bytes: Array[Byte]): OffsetCommitRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, OffsetCommit)
    val group = r.str()
    val (gen, member) = if (version >= 1) (r.i32(), r.str()) else (-1, "")
    val gii = if (version >= 7) r.str() else null
    if (version >= 2 && version <= 4) r.i64() // retention_time_ms
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val p = r.i32()
        val off = r.i64()
        if (version >= 6) r.i32() // committed_leader_epoch
        if (version == 1) r.i64() // commit_timestamp
        val meta = r.str()
        r.tags()
        (p, off, meta)
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    OffsetCommitRequest(version, correlationId, clientId, group, gen, member,
      gii, topics.toSeq)
  }

  def encodeOffsetCommitResponse(version: Int, correlationId: Int,
      topics: Seq[(String, Seq[(Int, Int)])]): Array[Byte] =
    writeResponse(OffsetCommit, version, correlationId) { w =>
      if (version >= 3) w.i32(0) // throttle_time_ms
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, err) => w.i32(p); w.i16(err); w.tags() }
        w.tags()
      }
      w.tags()
    }

  def decodeOffsetCommitResponse(version: Int, bytes: Array[Byte])
      : (Int, Seq[(String, Seq[(Int, Int)])]) = {
    val (correlationId, r) = readResponse(OffsetCommit, version, bytes)
    if (version >= 3) r.i32() // throttle_time_ms
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val t = (r.i32(), r.i16()); r.tags(); t
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    (correlationId, topics.toSeq)
  }

  // -- OffsetFetch (key 9) v0–v9: v2 admits the NULL topics array
  // ("every partition the group committed") + a group-level error;
  // v3 throttle; v5 leader epochs; v6 flexible; v7 require_stable;
  // v8 batches multiple GROUPS per request; v9 (KIP-848) adds
  // member_id + member_epoch per group so the new-protocol consumer's
  // fetches are fenced against stale members. --

  /** Groups: (group_id, topics) with topics None = all committed.
    * `members` aligns by index with `groups`: (member_id, member_epoch),
    * (null, -1) when the v9 fields were absent or pre-v9. */
  case class OffsetFetchRequest(version: Int, correlationId: Int, clientId: String,
      groups: Seq[(String, Option[Seq[(String, Seq[Int])]])], requireStable: Boolean,
      members: Seq[(String, Int)] = Seq.empty)

  def encodeOffsetFetchRequest(version: Int, correlationId: Int, clientId: String,
      groups: Seq[(String, Option[Seq[(String, Seq[Int])]])],
      requireStable: Boolean = false,
      members: Seq[(String, Int)] = Seq.empty): Array[Byte] = {
    require(version >= 8 || groups.length == 1,
      s"OffsetFetch v$version carries exactly one group")
    require(version >= 9 || members.isEmpty,
      s"OffsetFetch v$version has no member_id/member_epoch fields")
    writeRequest(OffsetFetch, version, correlationId, clientId) { w =>
      def writeTopics(topics: Option[Seq[(String, Seq[Int])]]): Unit = topics match {
        case None =>
          require(version >= 2, s"OffsetFetch v$version has no null topics array")
          w.count(-1)
        case Some(ts) =>
          w.count(ts.length)
          ts.foreach { case (name, parts) =>
            w.str(name)
            w.count(parts.length); parts.foreach(w.i32)
            w.tags()
          }
      }
      if (version <= 7) {
        val (group, topics) = groups.head
        w.str(group)
        writeTopics(topics)
        if (version == 7) w.bool(requireStable)
      } else {
        w.count(groups.length)
        groups.zipWithIndex.foreach { case ((group, topics), i) =>
          w.str(group)
          if (version >= 9) {
            val (mid, epoch) = members.lift(i).getOrElse((null: String, -1))
            w.str(mid)
            w.i32(epoch)
          }
          writeTopics(topics)
          w.tags()
        }
        w.bool(requireStable)
      }
      w.tags()
    }
  }

  def decodeOffsetFetchRequest(bytes: Array[Byte]): OffsetFetchRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, OffsetFetch)
    def readTopics(): Option[Seq[(String, Seq[Int])]] = {
      val n = r.count()
      if (n < 0) None
      else Some((0 until n).map { _ =>
        val name = r.str()
        val parts = (0 until r.count()).map(_ => r.i32())
        r.tags()
        (name, parts.toSeq)
      }.toSeq)
    }
    val (groups, requireStable, members) =
      if (version <= 7) {
        val group = r.str()
        val topics = readTopics()
        val rs = if (version == 7) r.bool() else false
        (Seq((group, topics)), rs, Seq.empty[(String, Int)])
      } else {
        val gs = (0 until r.count()).map { _ =>
          val group = r.str()
          val member =
            if (version >= 9) (r.str(), r.i32()) else (null: String, -1)
          val topics = readTopics()
          r.tags()
          ((group, topics), member)
        }
        (gs.map(_._1).toSeq, r.bool(),
          if (version >= 9) gs.map(_._2).toSeq else Seq.empty[(String, Int)])
      }
    r.tags()
    OffsetFetchRequest(version, correlationId, clientId, groups, requireStable,
      members)
  }

  /** Per group: (group_id, group_error, topics(name, partitions
    * (partition, offset, metadata, error))). */
  def encodeOffsetFetchResponse(version: Int, correlationId: Int,
      groups: Seq[(String, Int, Seq[(String, Seq[(Int, Long, String, Int)])])]): Array[Byte] =
    writeResponse(OffsetFetch, version, correlationId) { w =>
      if (version >= 3) w.i32(0) // throttle_time_ms
      def writeTopics(topics: Seq[(String, Seq[(Int, Long, String, Int)])]): Unit = {
        w.count(topics.length)
        topics.foreach { case (name, parts) =>
          w.str(name)
          w.count(parts.length)
          parts.foreach { case (p, off, meta, err) =>
            w.i32(p)
            w.i64(off)
            if (version >= 5) w.i32(-1) // committed_leader_epoch
            w.str(meta)
            w.i16(err)
            w.tags()
          }
          w.tags()
        }
      }
      if (version <= 7) {
        val (_, gerr, topics) = groups.head
        writeTopics(topics)
        if (version >= 2) w.i16(gerr)
      } else {
        w.count(groups.length)
        groups.foreach { case (gid, gerr, topics) =>
          w.str(gid)
          writeTopics(topics)
          w.i16(gerr)
          w.tags()
        }
      }
      w.tags()
    }

  def decodeOffsetFetchResponse(version: Int, bytes: Array[Byte])
      : (Int, Seq[(String, Int, Seq[(String, Seq[(Int, Long, String, Int)])])]) = {
    val (correlationId, r) = readResponse(OffsetFetch, version, bytes)
    if (version >= 3) r.i32() // throttle_time_ms
    def readTopics(): Seq[(String, Seq[(Int, Long, String, Int)])] =
      (0 until r.count()).map { _ =>
        val name = r.str()
        val parts = (0 until r.count()).map { _ =>
          val p = r.i32()
          val off = r.i64()
          if (version >= 5) r.i32() // committed_leader_epoch
          val meta = r.str()
          val err = r.i16()
          r.tags()
          (p, off, meta, err)
        }
        r.tags()
        (name, parts.toSeq)
      }.toSeq
    val groups =
      if (version <= 7) {
        val topics = readTopics()
        val gerr = if (version >= 2) r.i16() else 0
        Seq(("", gerr, topics))
      } else
        (0 until r.count()).map { _ =>
          val gid = r.str()
          val topics = readTopics()
          val gerr = r.i16()
          r.tags()
          (gid, gerr, topics)
        }.toSeq
    r.tags()
    (correlationId, groups)
  }

  // -- FindCoordinator (key 10) v0–v4: v1 key_type + error_message;
  // v3 flexible; v4 batches coordinator_keys and moves the node
  // fields into a per-key coordinators array. --

  case class FindCoordinatorRequest(version: Int, correlationId: Int,
      clientId: String, keyType: Int, keys: Seq[String])

  def encodeFindCoordinatorRequest(version: Int, correlationId: Int,
      clientId: String, keyType: Int, keys: Seq[String]): Array[Byte] = {
    require(version >= 4 || keys.length == 1,
      s"FindCoordinator v$version carries exactly one key")
    writeRequest(FindCoordinator, version, correlationId, clientId) { w =>
      if (version <= 3) {
        w.str(keys.head)
        if (version >= 1) w.i8(keyType)
      } else {
        w.i8(keyType)
        w.count(keys.length)
        keys.foreach(w.str)
      }
      w.tags()
    }
  }

  def decodeFindCoordinatorRequest(bytes: Array[Byte]): FindCoordinatorRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, FindCoordinator)
    val (keyType, keys) =
      if (version <= 3) {
        val key = r.str()
        val kt = if (version >= 1) r.i8() else 0
        (kt, Seq(key))
      } else {
        val kt = r.i8()
        (kt, (0 until r.count()).map(_ => r.str()).toSeq)
      }
    r.tags()
    FindCoordinatorRequest(version, correlationId, clientId, keyType, keys)
  }

  /** Coordinators: (key, error, node_id, host, port). */
  def encodeFindCoordinatorResponse(version: Int, correlationId: Int,
      coordinators: Seq[(String, Int, Int, String, Int)]): Array[Byte] =
    writeResponse(FindCoordinator, version, correlationId) { w =>
      if (version >= 1) w.i32(0) // throttle_time_ms
      if (version <= 3) {
        val (_, err, node, host, port) = coordinators.head
        w.i16(err)
        if (version >= 1) w.str(null) // error_message
        w.i32(node); w.str(host); w.i32(port)
      } else {
        w.count(coordinators.length)
        coordinators.foreach { case (key, err, node, host, port) =>
          w.str(key)
          w.i32(node); w.str(host); w.i32(port)
          w.i16(err)
          w.str(null) // error_message
          w.tags()
        }
      }
      w.tags()
    }

  def decodeFindCoordinatorResponse(version: Int, bytes: Array[Byte])
      : (Int, Seq[(String, Int, Int, String, Int)]) = {
    val (correlationId, r) = readResponse(FindCoordinator, version, bytes)
    if (version >= 1) r.i32() // throttle_time_ms
    val coordinators =
      if (version <= 3) {
        val err = r.i16()
        if (version >= 1) r.str() // error_message
        Seq(("", err, r.i32(), r.str(), r.i32()))
      } else
        (0 until r.count()).map { _ =>
          val key = r.str()
          val node = r.i32(); val host = r.str(); val port = r.i32()
          val err = r.i16()
          r.str() // error_message
          r.tags()
          (key, err, node, host, port)
        }.toSeq
    r.tags()
    (correlationId, coordinators)
  }

  // -- JoinGroup (key 11) v0–v9: v1 rebalance_timeout; v4 opens the
  // MEMBER_ID_REQUIRED (79) two-step for empty member ids; v5
  // group_instance_id; v6 flexible; v7 nullable protocol names +
  // response protocol_type; v8 reason; v9 response skip_assignment. --

  case class JoinGroupRequest(version: Int, correlationId: Int, clientId: String,
      group: String, sessionTimeoutMs: Int, rebalanceTimeoutMs: Int,
      memberId: String, groupInstanceId: String, protocolType: String,
      protocols: Seq[(String, Array[Byte])], reason: String)

  case class JoinGroupResponse(correlationId: Int, errorCode: Int,
      generationId: Int, protocolType: String, protocol: String, leaderId: String,
      memberId: String, members: Seq[(String, String, Array[Byte])],
      skipAssignment: Boolean)

  def encodeJoinGroupRequest(version: Int, correlationId: Int, clientId: String,
      group: String, sessionTimeoutMs: Int, rebalanceTimeoutMs: Int,
      memberId: String, groupInstanceId: String, protocolType: String,
      protocols: Seq[(String, Array[Byte])], reason: String = null): Array[Byte] =
    writeRequest(JoinGroup, version, correlationId, clientId) { w =>
      w.str(group)
      w.i32(sessionTimeoutMs)
      if (version >= 1) w.i32(rebalanceTimeoutMs)
      w.str(memberId)
      if (version >= 5) w.str(groupInstanceId)
      w.str(protocolType)
      w.count(protocols.length)
      protocols.foreach { case (n, m) => w.str(n); w.bytes(m); w.tags() }
      if (version >= 8) w.str(reason)
      w.tags()
    }

  def decodeJoinGroupRequest(bytes: Array[Byte]): JoinGroupRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, JoinGroup)
    val group = r.str()
    val sessionTimeout = r.i32()
    val rebalanceTimeout = if (version >= 1) r.i32() else sessionTimeout
    val memberId = r.str()
    val gii = if (version >= 5) r.str() else null
    val protocolType = r.str()
    val protocols = (0 until r.count()).map { _ =>
      val t = (r.str(), r.bytes()); r.tags(); t
    }
    val reason = if (version >= 8) r.str() else null
    r.tags()
    JoinGroupRequest(version, correlationId, clientId, group, sessionTimeout,
      rebalanceTimeout, memberId, gii, protocolType, protocols.toSeq, reason)
  }

  /** Members: (member_id, group_instance_id, metadata). */
  def encodeJoinGroupResponse(version: Int, correlationId: Int, errorCode: Int,
      generationId: Int, protocolType: String, protocol: String, leaderId: String,
      memberId: String, members: Seq[(String, String, Array[Byte])],
      skipAssignment: Boolean = false): Array[Byte] =
    writeResponse(JoinGroup, version, correlationId) { w =>
      if (version >= 2) w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.i32(generationId)
      if (version >= 7) w.str(protocolType)
      w.str(protocol)
      w.str(leaderId)
      if (version >= 9) w.bool(skipAssignment)
      w.str(memberId)
      w.count(members.length)
      members.foreach { case (id, gii, meta) =>
        w.str(id)
        if (version >= 5) w.str(gii)
        w.bytes(meta)
        w.tags()
      }
      w.tags()
    }

  def decodeJoinGroupResponse(version: Int, bytes: Array[Byte]): JoinGroupResponse = {
    val (correlationId, r) = readResponse(JoinGroup, version, bytes)
    if (version >= 2) r.i32() // throttle_time_ms
    val err = r.i16()
    val gen = r.i32()
    val protocolType = if (version >= 7) r.str() else null
    val protocol = r.str()
    val leader = r.str()
    val skip = if (version >= 9) r.bool() else false
    val member = r.str()
    val members = (0 until r.count()).map { _ =>
      val id = r.str()
      val gii = if (version >= 5) r.str() else null
      val meta = r.bytes()
      r.tags()
      (id, gii, meta)
    }
    r.tags()
    JoinGroupResponse(correlationId, err, gen, protocolType, protocol, leader,
      member, members.toSeq, skip)
  }

  // -- SyncGroup (key 14) v0–v5: v3 group_instance_id; v4 flexible;
  // v5 protocol_type/protocol_name echoed in request and response. --

  case class SyncGroupRequest(version: Int, correlationId: Int, clientId: String,
      group: String, generationId: Int, memberId: String, groupInstanceId: String,
      protocolType: String, protocolName: String,
      assignments: Seq[(String, Array[Byte])])

  def encodeSyncGroupRequest(version: Int, correlationId: Int, clientId: String,
      group: String, generationId: Int, memberId: String, groupInstanceId: String,
      protocolType: String, protocolName: String,
      assignments: Seq[(String, Array[Byte])]): Array[Byte] =
    writeRequest(SyncGroup, version, correlationId, clientId) { w =>
      w.str(group)
      w.i32(generationId)
      w.str(memberId)
      if (version >= 3) w.str(groupInstanceId)
      if (version >= 5) { w.str(protocolType); w.str(protocolName) }
      w.count(assignments.length)
      assignments.foreach { case (id, a) => w.str(id); w.bytes(a); w.tags() }
      w.tags()
    }

  def decodeSyncGroupRequest(bytes: Array[Byte]): SyncGroupRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, SyncGroup)
    val group = r.str()
    val gen = r.i32()
    val member = r.str()
    val gii = if (version >= 3) r.str() else null
    val (pt, pn) = if (version >= 5) (r.str(), r.str()) else (null, null)
    val assignments = (0 until r.count()).map { _ =>
      val t = (r.str(), r.bytes()); r.tags(); t
    }
    r.tags()
    SyncGroupRequest(version, correlationId, clientId, group, gen, member, gii,
      pt, pn, assignments.toSeq)
  }

  def encodeSyncGroupResponse(version: Int, correlationId: Int, errorCode: Int,
      protocolType: String, protocolName: String,
      assignment: Array[Byte]): Array[Byte] =
    writeResponse(SyncGroup, version, correlationId) { w =>
      if (version >= 1) w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      if (version >= 5) { w.str(protocolType); w.str(protocolName) }
      w.bytes(assignment)
      w.tags()
    }

  def decodeSyncGroupResponse(version: Int, bytes: Array[Byte])
      : (Int, Int, String, String, Array[Byte]) = {
    val (correlationId, r) = readResponse(SyncGroup, version, bytes)
    if (version >= 1) r.i32() // throttle_time_ms
    val err = r.i16()
    val (pt, pn) = if (version >= 5) (r.str(), r.str()) else (null, null)
    val assignment = r.bytes()
    r.tags()
    (correlationId, err, pt, pn, assignment)
  }

  // -- Heartbeat (key 12) v0–v4: v3 group_instance_id; v4 flexible. --

  case class HeartbeatRequest(version: Int, correlationId: Int, clientId: String,
      group: String, generationId: Int, memberId: String, groupInstanceId: String)

  def encodeHeartbeatRequest(version: Int, correlationId: Int, clientId: String,
      group: String, generationId: Int, memberId: String,
      groupInstanceId: String = null): Array[Byte] =
    writeRequest(Heartbeat, version, correlationId, clientId) { w =>
      w.str(group)
      w.i32(generationId)
      w.str(memberId)
      if (version >= 3) w.str(groupInstanceId)
      w.tags()
    }

  def decodeHeartbeatRequest(bytes: Array[Byte]): HeartbeatRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, Heartbeat)
    val group = r.str()
    val gen = r.i32()
    val member = r.str()
    val gii = if (version >= 3) r.str() else null
    r.tags()
    HeartbeatRequest(version, correlationId, clientId, group, gen, member, gii)
  }

  /** Heartbeat response at any version (v1+ throttle, v4 flexible). */
  def encodeHeartbeatResponse(version: Int, correlationId: Int,
      errorCode: Int): Array[Byte] =
    writeResponse(Heartbeat, version, correlationId) { w =>
      if (version >= 1) w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.tags()
    }

  def decodeHeartbeatResponse(version: Int, bytes: Array[Byte]): (Int, Int) = {
    val (correlationId, r) = readResponse(Heartbeat, version, bytes)
    if (version >= 1) r.i32() // throttle_time_ms
    val err = r.i16()
    r.tags()
    (correlationId, err)
  }

  // -- LeaveGroup (key 13) v0–v5: v3 moves to a MEMBERS array (batch
  // leave, per-member response errors); v4 flexible; v5 per-member
  // reason. --

  /** Members: (member_id, group_instance_id, reason). */
  case class LeaveGroupRequest(version: Int, correlationId: Int, clientId: String,
      group: String, members: Seq[(String, String, String)])

  def encodeLeaveGroupRequest(version: Int, correlationId: Int, clientId: String,
      group: String, members: Seq[(String, String, String)]): Array[Byte] = {
    require(version >= 3 || members.length == 1,
      s"LeaveGroup v$version carries exactly one member")
    writeRequest(LeaveGroup, version, correlationId, clientId) { w =>
      w.str(group)
      if (version <= 2) w.str(members.head._1)
      else {
        w.count(members.length)
        members.foreach { case (id, gii, reason) =>
          w.str(id)
          w.str(gii)
          if (version >= 5) w.str(reason)
          w.tags()
        }
      }
      w.tags()
    }
  }

  def decodeLeaveGroupRequest(bytes: Array[Byte]): LeaveGroupRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, LeaveGroup)
    val group = r.str()
    val members =
      if (version <= 2) Seq((r.str(), null: String, null: String))
      else (0 until r.count()).map { _ =>
        val id = r.str()
        val gii = r.str()
        val reason = if (version >= 5) r.str() else null
        r.tags()
        (id, gii, reason)
      }.toSeq
    r.tags()
    LeaveGroupRequest(version, correlationId, clientId, group, members)
  }

  /** Members: (member_id, group_instance_id, error). */
  def encodeLeaveGroupResponse(version: Int, correlationId: Int, errorCode: Int,
      members: Seq[(String, String, Int)]): Array[Byte] =
    writeResponse(LeaveGroup, version, correlationId) { w =>
      if (version >= 1) w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      if (version >= 3) {
        w.count(members.length)
        members.foreach { case (id, gii, err) =>
          w.str(id); w.str(gii); w.i16(err); w.tags()
        }
      }
      w.tags()
    }

  def decodeLeaveGroupResponse(version: Int, bytes: Array[Byte])
      : (Int, Int, Seq[(String, String, Int)]) = {
    val (correlationId, r) = readResponse(LeaveGroup, version, bytes)
    if (version >= 1) r.i32() // throttle_time_ms
    val err = r.i16()
    val members =
      if (version >= 3) (0 until r.count()).map { _ =>
        val t = (r.str(), r.str(), r.i16()); r.tags(); t
      }.toSeq
      else Seq.empty
    r.tags()
    (correlationId, err, members)
  }

  // --- Group/topic admin v0 (DescribeGroups 15, ListGroups 16,
  // CreateTopics 19, DeleteTopics 20, DeleteRecords 21) ---

  def encodeListGroupsRequestV0(correlationId: Int, clientId: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, ListGroups.key); writeInt16(out, 0)
    writeInt32(out, correlationId); writeNullableString(out, clientId)
    frame(out.toByteArray)
  }

  def decodeListGroupsResponseV0(bytes: Array[Byte]): (Int, Int, Seq[(String, String)]) = {
    val buf = unframe(bytes)
    val correlationId = buf.getInt
    val err = buf.getShort.toInt
    val groups = (0 until buf.getInt).map { _ =>
      (readNullableString(buf), readNullableString(buf))
    }
    (correlationId, err, groups.toSeq)
  }

  case class DescribedGroup(errorCode: Int, group: String, state: String,
      protocolType: String, protocol: String,
      members: Seq[(String, String, String, Array[Byte], Array[Byte])])

  def encodeDescribeGroupsRequestV0(correlationId: Int, clientId: String,
      groups: Seq[String]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, DescribeGroups.key); writeInt16(out, 0)
    writeInt32(out, correlationId); writeNullableString(out, clientId)
    writeInt32(out, groups.length)
    groups.foreach(writeNullableString(out, _))
    frame(out.toByteArray)
  }

  def decodeDescribeGroupsResponseV0(bytes: Array[Byte]): (Int, Seq[DescribedGroup]) = {
    val buf = unframe(bytes)
    val correlationId = buf.getInt
    val groups = (0 until buf.getInt).map { _ =>
      val err = buf.getShort.toInt
      val g = readNullableString(buf)
      val state = readNullableString(buf)
      val pt = readNullableString(buf)
      val proto = readNullableString(buf)
      val members = (0 until buf.getInt).map { _ =>
        (readNullableString(buf), readNullableString(buf), readNullableString(buf),
          readBytesField(buf), readBytesField(buf))
      }
      DescribedGroup(err, g, state, pt, proto, members.toSeq)
    }
    (correlationId, groups.toSeq)
  }

  // --- ListGroups v0–v5 (KIP-518 states filter at v4, KIP-848 group
  // types at v5; flexible v3+) and DescribeGroups v0–v5 (throttle v1+,
  // authorized_operations v3+, group_instance_id v4+, flexible v5) —
  // the versions kafka-clients 3.x/4.x AdminClient actually sends.
  // These serve v0 too; the *V0 client codecs above drive the
  // golden-frame specs. ---

  case class ListGroupsRequest(version: Int, correlationId: Int,
      clientId: String, statesFilter: Seq[String], typesFilter: Seq[String])

  def encodeListGroupsRequest(version: Int, correlationId: Int,
      clientId: String, statesFilter: Seq[String] = Seq.empty,
      typesFilter: Seq[String] = Seq.empty): Array[Byte] =
    writeRequest(ListGroups, version, correlationId, clientId) { w =>
      if (version >= 4) {
        w.count(statesFilter.length); statesFilter.foreach(w.str)
      }
      if (version >= 5) {
        w.count(typesFilter.length); typesFilter.foreach(w.str)
      }
      w.tags()
    }

  def decodeListGroupsRequest(bytes: Array[Byte]): ListGroupsRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, ListGroups)
    val states =
      if (version >= 4) (0 until r.count()).map(_ => r.str()).toSeq
      else Seq.empty
    val types =
      if (version >= 5) (0 until r.count()).map(_ => r.str()).toSeq
      else Seq.empty
    r.tags()
    ListGroupsRequest(version, correlationId, clientId, states, types)
  }

  /** groups = (group_id, protocol_type, group_state, group_type)*;
    * state ships at v4+, type at v5+ — lower versions drop them. */
  def encodeListGroupsResponse(version: Int, correlationId: Int,
      errorCode: Int,
      groups: Seq[(String, String, String, String)]): Array[Byte] =
    writeResponse(ListGroups, version, correlationId) { w =>
      if (version >= 1) w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.count(groups.length)
      groups.foreach { case (g, pt, state, gtype) =>
        w.str(g); w.str(pt)
        if (version >= 4) w.str(state)
        if (version >= 5) w.str(gtype)
        w.tags()
      }
      w.tags()
    }

  /** (correlationId, errorCode, (group, protocolType, state, type)*) —
    * fields a version doesn't carry come back "". */
  def decodeListGroupsResponse(version: Int, bytes: Array[Byte])
      : (Int, Int, Seq[(String, String, String, String)]) = {
    val (correlationId, r) = readResponse(ListGroups, version, bytes)
    if (version >= 1) r.i32() // throttle_time_ms
    val err = r.i16()
    val groups = (0 until r.count()).map { _ =>
      val g = r.str(); val pt = r.str()
      val state = if (version >= 4) r.str() else ""
      val gtype = if (version >= 5) r.str() else ""
      r.tags()
      (g, pt, state, gtype)
    }
    r.tags()
    (correlationId, err, groups.toSeq)
  }

  case class DescribeGroupsRequest(version: Int, correlationId: Int,
      clientId: String, groups: Seq[String],
      includeAuthorizedOperations: Boolean)

  def encodeDescribeGroupsRequest(version: Int, correlationId: Int,
      clientId: String, groups: Seq[String],
      includeAuthorizedOperations: Boolean = false): Array[Byte] =
    writeRequest(DescribeGroups, version, correlationId, clientId) { w =>
      w.count(groups.length); groups.foreach(w.str)
      if (version >= 3) w.bool(includeAuthorizedOperations)
      w.tags()
    }

  def decodeDescribeGroupsRequest(bytes: Array[Byte]): DescribeGroupsRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, DescribeGroups)
    val groups = (0 until r.count()).map(_ => r.str()).toSeq
    val iao = if (version >= 3) r.bool() else false
    r.tags()
    DescribeGroupsRequest(version, correlationId, clientId, groups, iao)
  }

  /** [[DescribedGroup]] plus the v4+ member instance ids (parallel to
    * `members`, null = none) and the v3+ authorized_operations word
    * (Int.MinValue = omitted, Kafka's sentinel). */
  case class DescribedGroupModern(group: DescribedGroup,
      instanceIds: Seq[String], authorizedOperations: Int)

  def encodeDescribeGroupsResponse(version: Int, correlationId: Int,
      groups: Seq[DescribedGroupModern]): Array[Byte] =
    writeResponse(DescribeGroups, version, correlationId) { w =>
      if (version >= 1) w.i32(0) // throttle_time_ms
      w.count(groups.length)
      groups.foreach { gm =>
        val g = gm.group
        w.i16(g.errorCode)
        w.str(g.group); w.str(g.state); w.str(g.protocolType); w.str(g.protocol)
        w.count(g.members.length)
        g.members.zipWithIndex.foreach {
          case ((id, clientId, host, meta, assignment), i) =>
            w.str(id)
            if (version >= 4) w.str(gm.instanceIds.lift(i).orNull)
            w.str(clientId); w.str(host)
            w.bytes(meta); w.bytes(assignment)
            w.tags()
        }
        if (version >= 3) w.i32(gm.authorizedOperations)
        w.tags()
      }
      w.tags()
    }

  def decodeDescribeGroupsResponse(version: Int, bytes: Array[Byte])
      : (Int, Seq[DescribedGroupModern]) = {
    val (correlationId, r) = readResponse(DescribeGroups, version, bytes)
    if (version >= 1) r.i32() // throttle_time_ms
    val groups = (0 until r.count()).map { _ =>
      val err = r.i16()
      val g = r.str(); val state = r.str(); val pt = r.str()
      val proto = r.str()
      val members = (0 until r.count()).map { _ =>
        val id = r.str()
        val inst = if (version >= 4) r.str() else null
        val cid = r.str(); val host = r.str()
        val meta = r.bytes(); val assignment = r.bytes()
        r.tags()
        ((id, cid, host, meta, assignment), inst)
      }
      val ops = if (version >= 3) r.i32() else Int.MinValue
      r.tags()
      DescribedGroupModern(
        DescribedGroup(err, g, state, pt, proto, members.map(_._1).toSeq),
        members.map(_._2).toSeq, ops)
    }
    r.tags()
    (correlationId, groups.toSeq)
  }

  // --- CreateTopics v0–v7 / DeleteTopics v0–v6 / DeleteRecords v0–v2
  // — the versions AdminClient and kafka-topics.sh actually send
  // (CreateTopics flexible v5+ with response configs, topic_id v7;
  // DeleteTopics flexible v4+, topic-id keying v6; DeleteRecords
  // flexible v2). These serve v0 too; the *V0 client codecs above
  // drive the golden specs. ---

  case class CreatableTopic(name: String, numPartitions: Int,
      replicationFactor: Int, assignments: Seq[(Int, Seq[Int])],
      configs: Seq[(String, String)])

  case class CreateTopicsRequest(version: Int, correlationId: Int,
      clientId: String, topics: Seq[CreatableTopic], timeoutMs: Int,
      validateOnly: Boolean)

  def encodeCreateTopicsRequest(version: Int, correlationId: Int,
      clientId: String, topics: Seq[CreatableTopic], timeoutMs: Int,
      validateOnly: Boolean = false): Array[Byte] =
    writeRequest(CreateTopics, version, correlationId, clientId) { w =>
      w.count(topics.length)
      topics.foreach { t =>
        w.str(t.name)
        w.i32(t.numPartitions)
        w.i16(t.replicationFactor)
        w.count(t.assignments.length)
        t.assignments.foreach { case (p, brokers) =>
          w.i32(p); w.count(brokers.length); brokers.foreach(w.i32); w.tags()
        }
        w.count(t.configs.length)
        t.configs.foreach { case (n, v) => w.str(n); w.str(v); w.tags() }
        w.tags()
      }
      w.i32(timeoutMs)
      if (version >= 1) w.bool(validateOnly)
      w.tags()
    }

  def decodeCreateTopicsRequest(bytes: Array[Byte]): CreateTopicsRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, CreateTopics)
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = r.i32()
      val repl = r.i16()
      val assignments = (0 until r.count()).map { _ =>
        val p = r.i32()
        val brokers = (0 until r.count()).map(_ => r.i32()).toSeq
        r.tags()
        (p, brokers)
      }.toSeq
      val configs = (0 until r.count()).map { _ =>
        val t = (r.str(), r.str()); r.tags(); t
      }.toSeq
      r.tags()
      CreatableTopic(name, parts, repl, assignments, configs)
    }.toSeq
    val timeoutMs = r.i32()
    val validateOnly = if (version >= 1) r.bool() else false
    r.tags()
    CreateTopicsRequest(version, correlationId, clientId, topics, timeoutMs,
      validateOnly)
  }

  /** One CreateTopics response entry. `configs` = (name, value,
    * config_source) with Kafka's source codes (1 = dynamic topic
    * config, 5 = default); ships at v5+ only. num_partitions /
    * replication_factor ship at v5+ (−1 below). topic_id (v7) is
    * derived in the encoder: [[topicUuid]] on success, zeros on
    * error — a failed create has no topic to identify. */
  case class CreatedTopic(name: String, errorCode: Int, errorMessage: String,
      numPartitions: Int, replicationFactor: Int,
      configs: Seq[(String, String, Int)], topicId: Array[Byte] = null)

  def encodeCreateTopicsResponse(version: Int, correlationId: Int,
      topics: Seq[CreatedTopic]): Array[Byte] =
    writeResponse(CreateTopics, version, correlationId) { w =>
      if (version >= 2) w.i32(0) // throttle_time_ms
      w.count(topics.length)
      topics.foreach { t =>
        w.str(t.name)
        if (version >= 7)
          w.uuid(if (t.errorCode == 0) topicUuid(t.name) else new Array[Byte](16))
        w.i16(t.errorCode)
        if (version >= 1) w.str(t.errorMessage)
        if (version >= 5) {
          w.i32(t.numPartitions)
          w.i16(t.replicationFactor)
          w.count(if (t.configs == null) -1 else t.configs.length)
          if (t.configs != null) t.configs.foreach { case (n, v, src) =>
            w.str(n); w.str(v)
            w.bool(false) // read_only
            w.i8(src)
            w.bool(false) // is_sensitive
            w.tags()
          }
        }
        w.tags()
      }
      w.tags()
    }

  def decodeCreateTopicsResponse(version: Int,
      bytes: Array[Byte]): (Int, Seq[CreatedTopic]) = {
    val (correlationId, r) = readResponse(CreateTopics, version, bytes)
    if (version >= 2) r.i32() // throttle_time_ms
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val id = if (version >= 7) r.uuid() else null
      val err = r.i16()
      val msg = if (version >= 1) r.str() else null
      val (parts, repl, configs) =
        if (version >= 5) {
          val p = r.i32(); val rf = r.i16()
          val n = r.count()
          val cs = if (n < 0) null else (0 until n).map { _ =>
            val cn = r.str(); val cv = r.str()
            r.bool(); val src = r.i8(); r.bool(); r.tags()
            (cn, cv, src)
          }.toSeq
          (p, rf, cs)
        } else (-1, -1, null)
      r.tags()
      CreatedTopic(name, err, msg, parts, repl, configs, id)
    }.toSeq
    r.tags()
    (correlationId, topics)
  }

  /** topics = (name, topic_id) — name null means id-keyed (v6);
    * a zero/null id with a name is the pre-v6 shape. */
  case class DeleteTopicsRequest(version: Int, correlationId: Int,
      clientId: String, topics: Seq[(String, Array[Byte])], timeoutMs: Int)

  def encodeDeleteTopicsRequest(version: Int, correlationId: Int,
      clientId: String, topics: Seq[(String, Array[Byte])],
      timeoutMs: Int): Array[Byte] =
    writeRequest(DeleteTopics, version, correlationId, clientId) { w =>
      w.count(topics.length)
      topics.foreach { case (name, id) =>
        if (version >= 6) {
          w.str(name)
          w.uuid(if (id == null) new Array[Byte](16) else id)
          w.tags()
        } else w.str(name)
      }
      w.i32(timeoutMs)
      w.tags()
    }

  def decodeDeleteTopicsRequest(bytes: Array[Byte]): DeleteTopicsRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, DeleteTopics)
    val topics = (0 until r.count()).map { _ =>
      if (version >= 6) {
        val name = r.str(); val id = r.uuid(); r.tags()
        (name, id)
      } else (r.str(), null: Array[Byte])
    }.toSeq
    val timeoutMs = r.i32()
    r.tags()
    DeleteTopicsRequest(version, correlationId, clientId, topics, timeoutMs)
  }

  /** responses = (name, topic_id, error_code, error_message);
    * topic_id ships at v6, error_message at v5+. */
  def encodeDeleteTopicsResponse(version: Int, correlationId: Int,
      responses: Seq[(String, Array[Byte], Int, String)]): Array[Byte] =
    writeResponse(DeleteTopics, version, correlationId) { w =>
      if (version >= 1) w.i32(0) // throttle_time_ms
      w.count(responses.length)
      responses.foreach { case (name, id, err, msg) =>
        w.str(name)
        if (version >= 6) w.uuid(if (id == null) new Array[Byte](16) else id)
        w.i16(err)
        if (version >= 5) w.str(msg)
        w.tags()
      }
      w.tags()
    }

  def decodeDeleteTopicsResponse(version: Int, bytes: Array[Byte])
      : (Int, Seq[(String, Array[Byte], Int, String)]) = {
    val (correlationId, r) = readResponse(DeleteTopics, version, bytes)
    if (version >= 1) r.i32() // throttle_time_ms
    val responses = (0 until r.count()).map { _ =>
      val name = r.str()
      val id = if (version >= 6) r.uuid() else null
      val err = r.i16()
      val msg = if (version >= 5) r.str() else null
      r.tags()
      (name, id, err, msg)
    }.toSeq
    r.tags()
    (correlationId, responses)
  }

  case class DeleteRecordsRequest(version: Int, correlationId: Int,
      clientId: String, topics: Seq[(String, Seq[(Int, Long)])],
      timeoutMs: Int)

  def encodeDeleteRecordsRequest(version: Int, correlationId: Int,
      clientId: String, topics: Seq[(String, Seq[(Int, Long)])],
      timeoutMs: Int): Array[Byte] =
    writeRequest(DeleteRecords, version, correlationId, clientId) { w =>
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, off) => w.i32(p); w.i64(off); w.tags() }
        w.tags()
      }
      w.i32(timeoutMs)
      w.tags()
    }

  def decodeDeleteRecordsRequest(bytes: Array[Byte]): DeleteRecordsRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, DeleteRecords)
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val t = (r.i32(), r.i64()); r.tags(); t
      }.toSeq
      r.tags()
      (name, parts)
    }.toSeq
    val timeoutMs = r.i32()
    r.tags()
    DeleteRecordsRequest(version, correlationId, clientId, topics, timeoutMs)
  }

  def encodeDeleteRecordsResponse(version: Int, correlationId: Int,
      topics: Seq[(String, Seq[(Int, Long, Int)])]): Array[Byte] =
    writeResponse(DeleteRecords, version, correlationId) { w =>
      w.i32(0) // throttle_time_ms (v0+ — DeleteRecords shipped with it)
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, lowWatermark, err) =>
          w.i32(p); w.i64(lowWatermark); w.i16(err); w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  def decodeDeleteRecordsResponse(version: Int, bytes: Array[Byte])
      : (Int, Seq[(String, Seq[(Int, Long, Int)])]) = {
    val (correlationId, r) = readResponse(DeleteRecords, version, bytes)
    r.i32() // throttle_time_ms
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val t = (r.i32(), r.i64(), r.i16()); r.tags(); t
      }.toSeq
      r.tags()
      (name, parts)
    }.toSeq
    r.tags()
    (correlationId, topics)
  }

  def encodeCreateTopicsRequestV0(correlationId: Int, clientId: String,
      topics: Seq[(String, Int, Int)], timeoutMs: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, CreateTopics.key); writeInt16(out, 0)
    writeInt32(out, correlationId); writeNullableString(out, clientId)
    writeInt32(out, topics.length)
    topics.foreach { case (name, numPartitions, replication) =>
      writeNullableString(out, name)
      writeInt32(out, numPartitions)
      writeInt16(out, replication)
      writeInt32(out, 0) // replica_assignment: none (auto)
      writeInt32(out, 0) // config_entries: none
    }
    writeInt32(out, timeoutMs)
    frame(out.toByteArray)
  }

  def decodeTopicErrorsResponseV0(bytes: Array[Byte]): (Int, Seq[(String, Int)]) = {
    val buf = unframe(bytes)
    val correlationId = buf.getInt
    val topics = (0 until buf.getInt).map { _ =>
      (readNullableString(buf), buf.getShort.toInt)
    }
    (correlationId, topics.toSeq)
  }

  def encodeDeleteTopicsRequestV0(correlationId: Int, clientId: String,
      topics: Seq[String], timeoutMs: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, DeleteTopics.key); writeInt16(out, 0)
    writeInt32(out, correlationId); writeNullableString(out, clientId)
    writeInt32(out, topics.length)
    topics.foreach(writeNullableString(out, _))
    writeInt32(out, timeoutMs)
    frame(out.toByteArray)
  }

  def encodeDeleteRecordsRequestV0(correlationId: Int, clientId: String,
      topics: Seq[(String, Seq[(Int, Long)])], timeoutMs: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt16(out, DeleteRecords.key); writeInt16(out, 0)
    writeInt32(out, correlationId); writeNullableString(out, clientId)
    writeInt32(out, topics.length)
    topics.foreach { case (name, parts) =>
      writeNullableString(out, name)
      writeInt32(out, parts.length)
      parts.foreach { case (p, off) => writeInt32(out, p); writeInt64(out, off) }
    }
    writeInt32(out, timeoutMs)
    frame(out.toByteArray)
  }

  def decodeDeleteRecordsResponseV0(bytes: Array[Byte])
      : (Int, Seq[(String, Seq[(Int, Long, Int)])]) = {
    val buf = unframe(bytes)
    val correlationId = buf.getInt
    buf.getInt // throttle_time_ms
    val topics = (0 until buf.getInt).map { _ =>
      val name = readNullableString(buf)
      val parts = (0 until buf.getInt).map { _ =>
        (buf.getInt, buf.getLong, buf.getShort.toInt)
      }
      (name, parts.toSeq)
    }
    (correlationId, topics.toSeq)
  }

  // --- InitProducerId (api_key 22) v0–v4 — the FIRST request a
  // default-config kafka-clients 3.x producer sends (idempotence is
  // on by default since Kafka 3.0): it trades its (optional)
  // transactional id for a (producer_id, producer_epoch) pair that
  // every subsequent record batch carries, giving the broker the
  // coordinates for duplicate detection. Field deltas per the public
  // protocol spec: flexible (KIP-482) at v2+; v3+ adds the KIP-360
  // current (producer_id, producer_epoch) the client holds, for epoch
  // bumps after an unclean shutdown. ---

  case class InitProducerIdRequest(version: Int, correlationId: Int,
      clientId: String, transactionalId: String, transactionTimeoutMs: Int,
      currentProducerId: Long, currentProducerEpoch: Int)

  def encodeInitProducerIdRequest(version: Int, correlationId: Int,
      clientId: String, transactionalId: String, transactionTimeoutMs: Int,
      currentProducerId: Long = -1L, currentProducerEpoch: Int = -1)
      : Array[Byte] =
    writeRequest(InitProducerId, version, correlationId, clientId) { w =>
      w.str(transactionalId)
      w.i32(transactionTimeoutMs)
      if (version >= 3) { w.i64(currentProducerId); w.i16(currentProducerEpoch) }
      w.tags()
    }

  def decodeInitProducerIdRequest(bytes: Array[Byte]): InitProducerIdRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, InitProducerId)
    val txnId = r.str()
    val timeoutMs = r.i32()
    val (pid, epoch) =
      if (version >= 3) (r.i64(), r.i16()) else (-1L, -1)
    r.tags()
    InitProducerIdRequest(version, correlationId, clientId, txnId, timeoutMs,
      pid, epoch)
  }

  def encodeInitProducerIdResponse(version: Int, correlationId: Int,
      errorCode: Int, producerId: Long, producerEpoch: Int): Array[Byte] =
    writeResponse(InitProducerId, version, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.i64(producerId)
      w.i16(producerEpoch)
      w.tags()
    }

  /** (correlationId, errorCode, producerId, producerEpoch) */
  def decodeInitProducerIdResponse(version: Int,
      bytes: Array[Byte]): (Int, Int, Long, Int) = {
    val (correlationId, r) = readResponse(InitProducerId, version, bytes)
    r.i32() // throttle_time_ms
    val t = (correlationId, r.i16(), r.i64(), r.i16())
    r.tags()
    t
  }

  // --- DescribeConfigs (key 32, v0–v4; flexible v4+) — the first
  // RPC most admin tooling (kafka-topics.sh --describe, UIs) sends
  // right after Metadata. Request: resources ARRAY<[resource_type
  // INT8, resource_name STRING, configuration_keys NULLABLE
  // ARRAY<STRING>]>, include_synonyms BOOL (v1+),
  // include_documentation BOOL (v3+). Response: throttle, results
  // ARRAY<[error INT16, error_message NSTRING, type INT8, name
  // STRING, configs ARRAY<[name, value NSTRING, read_only BOOL,
  // v0: is_default BOOL / v1+: config_source INT8, is_sensitive
  // BOOL, v1+: synonyms ARRAY (always empty here), v3+: config_type
  // INT8 + documentation NSTRING]>]>. Graft serves a static config
  // echo (everything DEFAULT_CONFIG/read-only): the broker's knobs
  // live in code, not a mutable config store, and tooling just needs
  // an honest answer instead of a dropped connection. ---

  /** Resource types from the public spec. */
  val ConfigResourceTopic = 2
  val ConfigResourceBroker = 4
  /** ConfigResource.Type.GROUP (AK 4.0, KIP-848/932 group configs —
    * what kafka-configs --entity-type groups sends). */
  val ConfigResourceGroup = 32

  case class DescribeConfigsRequest(version: Int, correlationId: Int,
      clientId: String,
      /** (resource_type, resource_name, requested keys — None = all) */
      resources: Seq[(Int, String, Option[Seq[String]])],
      includeSynonyms: Boolean, includeDocumentation: Boolean)

  def encodeDescribeConfigsRequest(version: Int, correlationId: Int,
      clientId: String, resources: Seq[(Int, String, Option[Seq[String]])],
      includeSynonyms: Boolean = false,
      includeDocumentation: Boolean = false): Array[Byte] =
    writeRequest(DescribeConfigs, version, correlationId, clientId) { w =>
      w.count(resources.length)
      resources.foreach { case (rType, rName, keys) =>
        w.i8(rType)
        w.str(rName)
        keys match {
          case None => w.count(-1)
          case Some(ks) => w.count(ks.length); ks.foreach(w.str)
        }
        w.tags()
      }
      if (version >= 1) w.bool(includeSynonyms)
      if (version >= 3) w.bool(includeDocumentation)
      w.tags()
    }

  def decodeDescribeConfigsRequest(bytes: Array[Byte]): DescribeConfigsRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, DescribeConfigs)
    val resources = (0 until r.count()).map { _ =>
      val rType = r.i8()
      val rName = r.str()
      val nKeys = r.count()
      val keys =
        if (nKeys < 0) None
        else Some((0 until nKeys).map(_ => r.str()).toSeq)
      r.tags()
      (rType, rName, keys)
    }
    val includeSynonyms = if (version >= 1) r.bool() else false
    val includeDocumentation = if (version >= 3) r.bool() else false
    r.tags()
    DescribeConfigsRequest(version, correlationId, clientId, resources.toSeq,
      includeSynonyms, includeDocumentation)
  }

  /** One result per requested resource:
    * (errorCode, errorMessage, resourceType, resourceName,
    * configs as (name, value)). All configs serve as read-only
    * DEFAULT_CONFIG (source 5), never sensitive, no synonyms. */
  /** configs per resource: (name, value, dynamic) — a dynamic entry
    * is a stored override (read_only=false, source
    * DYNAMIC_TOPIC_CONFIG); everything else is a default echo. */
  def encodeDescribeConfigsResponse(version: Int, correlationId: Int,
      results: Seq[(Int, String, Int, String, Seq[(String, String, Boolean)])])
      : Array[Byte] =
    writeResponse(DescribeConfigs, version, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.count(results.length)
      results.foreach { case (err, errMsg, rType, rName, configs) =>
        w.i16(err)
        w.str(errMsg)
        w.i8(rType)
        w.str(rName)
        w.count(configs.length)
        configs.foreach { case (name, value, dynamic) =>
          w.str(name)
          w.str(value)
          w.bool(!dynamic) // read_only
          if (version == 0) w.bool(!dynamic) // is_default
          else w.i8(if (dynamic) 1 else 5) // DYNAMIC_TOPIC_CONFIG / DEFAULT
          w.bool(false) // is_sensitive
          if (version >= 1) w.count(0) // synonyms: none
          if (version >= 3) {
            w.i8(0) // config_type: UNKNOWN (static echo)
            w.str(null) // documentation
          }
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  /** (correlationId, results as in [[encodeDescribeConfigsResponse]]). */
  def decodeDescribeConfigsResponse(version: Int, bytes: Array[Byte])
      : (Int, Seq[(Int, String, Int, String, Seq[(String, String, Boolean)])]) = {
    val (correlationId, r) = readResponse(DescribeConfigs, version, bytes)
    r.i32() // throttle_time_ms
    val results = (0 until r.count()).map { _ =>
      val err = r.i16()
      val errMsg = r.str()
      val rType = r.i8()
      val rName = r.str()
      val configs = (0 until r.count()).map { _ =>
        val name = r.str()
        val value = r.str()
        r.bool() // read_only
        val dynamic =
          if (version == 0) !r.bool() // is_default
          else r.i8() == 1 // config_source DYNAMIC_TOPIC_CONFIG
        r.bool() // is_sensitive
        if (version >= 1)
          (0 until r.count()).foreach { _ => r.str(); r.str(); r.i8(); r.tags() }
        if (version >= 3) { r.i8(); r.str() }
        r.tags()
        (name, value, dynamic)
      }
      r.tags()
      (err, errMsg, rType, rName, configs.toSeq)
    }
    r.tags()
    (correlationId, results.toSeq)
  }

  // --- CreatePartitions (key 37, v0–v3; flexible v2+) — what
  // kafka-topics.sh --alter --partitions N sends. Request: topics
  // ARRAY<[name STRING, count INT32 (the NEW total), assignments
  // NULLABLE ARRAY<[broker_ids ARRAY<INT32>]>]>, timeout_ms INT32,
  // validate_only BOOL. Response: throttle, results ARRAY<[name,
  // error INT16, error_message NSTRING]>. Manual assignments are
  // meaningless on a single broker and answer INVALID_REQUEST. ---

  case class CreatePartitionsRequest(version: Int, correlationId: Int,
      clientId: String,
      /** (topic, new total count, manual assignments present?) */
      topics: Seq[(String, Int, Boolean)],
      timeoutMs: Int, validateOnly: Boolean)

  def encodeCreatePartitionsRequest(version: Int, correlationId: Int,
      clientId: String, topics: Seq[(String, Int)], timeoutMs: Int = 30000,
      validateOnly: Boolean = false): Array[Byte] =
    writeRequest(CreatePartitions, version, correlationId, clientId) { w =>
      w.count(topics.length)
      topics.foreach { case (name, count) =>
        w.str(name)
        w.i32(count)
        w.count(-1) // assignments: null (broker-chosen)
        w.tags()
      }
      w.i32(timeoutMs)
      w.bool(validateOnly)
      w.tags()
    }

  def decodeCreatePartitionsRequest(bytes: Array[Byte]): CreatePartitionsRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, CreatePartitions)
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val count = r.i32()
      val nAssign = r.count()
      if (nAssign > 0) (0 until nAssign).foreach { _ =>
        (0 until r.count()).foreach(_ => r.i32())
        r.tags()
      }
      r.tags()
      (name, count, nAssign > 0)
    }
    val timeoutMs = r.i32()
    val validateOnly = r.bool()
    r.tags()
    CreatePartitionsRequest(version, correlationId, clientId, topics.toSeq,
      timeoutMs, validateOnly)
  }

  /** results: (topic, errorCode, errorMessage). */
  def encodeCreatePartitionsResponse(version: Int, correlationId: Int,
      results: Seq[(String, Int, String)]): Array[Byte] =
    writeResponse(CreatePartitions, version, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.count(results.length)
      results.foreach { case (name, err, msg) =>
        w.str(name); w.i16(err); w.str(msg); w.tags()
      }
      w.tags()
    }

  /** (correlationId, (topic, errorCode, errorMessage)*). */
  def decodeCreatePartitionsResponse(version: Int, bytes: Array[Byte])
      : (Int, Seq[(String, Int, String)]) = {
    val (correlationId, r) = readResponse(CreatePartitions, version, bytes)
    r.i32() // throttle
    val results = (0 until r.count()).map { _ =>
      val t = (r.str(), r.i16(), r.str()); r.tags(); t
    }
    r.tags()
    (correlationId, results.toSeq)
  }

  // --- OffsetDelete (key 47, v0 only — the key is non-flexible by
  // spec) — kafka-consumer-groups.sh --delete-offsets. Request:
  // group_id STRING, topics ARRAY<[name, partitions
  // ARRAY<[partition_index INT32]>]>. Response: error INT16
  // (group-level), throttle, topics ARRAY<[name, partitions
  // ARRAY<[partition INT32, error INT16]>]>. ---

  case class OffsetDeleteRequest(correlationId: Int, clientId: String,
      group: String, topics: Seq[(String, Seq[Int])])

  def encodeOffsetDeleteRequest(correlationId: Int, clientId: String,
      group: String, topics: Seq[(String, Seq[Int])]): Array[Byte] =
    writeRequest(OffsetDelete, 0, correlationId, clientId) { w =>
      w.str(group)
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach(w.i32)
      }
    }

  def decodeOffsetDeleteRequest(bytes: Array[Byte]): OffsetDeleteRequest = {
    val (RequestHeader(_, correlationId, clientId), r) =
      readRequest(bytes, OffsetDelete)
    val group = r.str()
    val topics = (0 until r.count()).map { _ =>
      (r.str(), (0 until r.count()).map(_ => r.i32()).toSeq)
    }
    OffsetDeleteRequest(correlationId, clientId, group, topics.toSeq)
  }

  /** topics: (name, (partition, errorCode)*). */
  def encodeOffsetDeleteResponse(correlationId: Int, groupError: Int,
      topics: Seq[(String, Seq[(Int, Int)])]): Array[Byte] =
    writeResponse(OffsetDelete, 0, correlationId) { w =>
      w.i16(groupError)
      w.i32(0) // throttle_time_ms
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, err) => w.i32(p); w.i16(err) }
      }
    }

  /** (correlationId, groupError, topics as encoded). */
  def decodeOffsetDeleteResponse(bytes: Array[Byte])
      : (Int, Int, Seq[(String, Seq[(Int, Int)])]) = {
    val (correlationId, r) = readResponse(OffsetDelete, 0, bytes)
    val groupError = r.i16()
    r.i32() // throttle
    val topics = (0 until r.count()).map { _ =>
      (r.str(), (0 until r.count()).map(_ => (r.i32(), r.i16())).toSeq)
    }
    (correlationId, groupError, topics.toSeq)
  }

  // --- DeleteGroups (key 42, v0–v2; flexible v2+) — what
  // kafka-consumer-groups.sh --delete and AdminClient.deleteGroups
  // send. Request: groups_names ARRAY<STRING>. Response: throttle,
  // results ARRAY<[group_id STRING, error_code INT16]>. ---

  def encodeDeleteGroupsRequest(version: Int, correlationId: Int,
      clientId: String, groups: Seq[String]): Array[Byte] =
    writeRequest(DeleteGroups, version, correlationId, clientId) { w =>
      w.count(groups.length)
      groups.foreach(w.str)
      w.tags()
    }

  /** (version, correlationId, groupIds). */
  def decodeDeleteGroupsRequest(bytes: Array[Byte]): (Int, Int, Seq[String]) = {
    val (RequestHeader(version, correlationId, _), r) =
      readRequest(bytes, DeleteGroups)
    val groups = (0 until r.count()).map(_ => r.str())
    r.tags()
    (version, correlationId, groups.toSeq)
  }

  /** results: (groupId, errorCode)*. */
  def encodeDeleteGroupsResponse(version: Int, correlationId: Int,
      results: Seq[(String, Int)]): Array[Byte] =
    writeResponse(DeleteGroups, version, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.count(results.length)
      results.foreach { case (g, err) => w.str(g); w.i16(err); w.tags() }
      w.tags()
    }

  /** (correlationId, results as (groupId, errorCode)). */
  def decodeDeleteGroupsResponse(version: Int, bytes: Array[Byte])
      : (Int, Seq[(String, Int)]) = {
    val (correlationId, r) = readResponse(DeleteGroups, version, bytes)
    r.i32() // throttle_time_ms
    val results = (0 until r.count()).map { _ =>
      val g = r.str(); val e = r.i16(); r.tags(); (g, e)
    }
    r.tags()
    (correlationId, results.toSeq)
  }

  // --- DescribeCluster (key 60, v0; flexible from v0) — what
  // AdminClient.describeCluster and kafka-cluster.sh send. Request:
  // include_cluster_authorized_operations BOOL. Response: throttle,
  // error INT16, error_message NSTRING, cluster_id STRING,
  // controller_id INT32, brokers ARRAY<[broker_id INT32, host
  // STRING, port INT32, rack NSTRING]>,
  // cluster_authorized_operations INT32 (-2147483648 = not
  // requested). ---

  def encodeDescribeClusterRequest(correlationId: Int, clientId: String,
      includeAuthorizedOps: Boolean = false): Array[Byte] =
    writeRequest(DescribeCluster, 0, correlationId, clientId) { w =>
      w.bool(includeAuthorizedOps)
      w.tags()
    }

  /** (correlationId, includeAuthorizedOps). */
  def decodeDescribeClusterRequest(bytes: Array[Byte]): (Int, Boolean) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, DescribeCluster)
    val includeOps = r.bool()
    r.tags()
    (correlationId, includeOps)
  }

  def encodeDescribeClusterResponse(correlationId: Int, clusterId: String,
      controllerId: Int, brokers: Seq[(Int, String, Int, String)])
      : Array[Byte] =
    writeResponse(DescribeCluster, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(0) // error_code
      w.str(null) // error_message
      w.str(clusterId)
      w.i32(controllerId)
      w.count(brokers.length)
      brokers.foreach { case (id, host, port, rack) =>
        w.i32(id); w.str(host); w.i32(port); w.str(rack); w.tags()
      }
      w.i32(Int.MinValue) // cluster_authorized_operations: not requested
      w.tags()
    }

  /** (correlationId, clusterId, controllerId, brokers). */
  def decodeDescribeClusterResponse(bytes: Array[Byte])
      : (Int, String, Int, Seq[(Int, String, Int, String)]) = {
    val (correlationId, r) = readResponse(DescribeCluster, 0, bytes)
    r.i32() // throttle
    val err = r.i16()
    require(err == 0, s"DescribeCluster error $err")
    r.str() // error_message
    val clusterId = r.str()
    val controllerId = r.i32()
    val brokers = (0 until r.count()).map { _ =>
      val b = (r.i32(), r.str(), r.i32(), r.str()); r.tags(); b
    }
    r.i32() // cluster_authorized_operations
    r.tags()
    (correlationId, clusterId, controllerId, brokers.toSeq)
  }

  // --- AlterConfigs (key 33, v0–v2; flexible v2) — what
  // kafka-configs.sh --alter sent before KIP-339: the request's
  // config set REPLACES the resource's whole dynamic-override set
  // (the legacy footgun that motivated the incremental API).
  // Request: resources ARRAY<[resource_type INT8, resource_name
  // STRING, configs ARRAY<[name STRING, value NSTRING]>]>,
  // validate_only BOOL. Response: throttle, responses ARRAY<[error
  // INT16, error_message NSTRING, resource_type INT8, resource_name
  // STRING]>. ---

  case class AlterConfigsRequest(version: Int, correlationId: Int,
      clientId: String,
      /** (resourceType, resourceName, (configName, value)*) */
      resources: Seq[(Int, String, Seq[(String, String)])],
      validateOnly: Boolean)

  def encodeAlterConfigsRequest(version: Int, correlationId: Int,
      clientId: String, resources: Seq[(Int, String, Seq[(String, String)])],
      validateOnly: Boolean = false): Array[Byte] =
    writeRequest(AlterConfigs, version, correlationId, clientId) { w =>
      w.count(resources.length)
      resources.foreach { case (rType, rName, configs) =>
        w.i8(rType)
        w.str(rName)
        w.count(configs.length)
        configs.foreach { case (n, v) => w.str(n); w.str(v); w.tags() }
        w.tags()
      }
      w.bool(validateOnly)
      w.tags()
    }

  def decodeAlterConfigsRequest(bytes: Array[Byte]): AlterConfigsRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, AlterConfigs)
    val resources = (0 until r.count()).map { _ =>
      val rType = r.i8()
      val rName = r.str()
      val configs = (0 until r.count()).map { _ =>
        val c = (r.str(), r.str()); r.tags(); c
      }
      r.tags()
      (rType, rName, configs.toSeq)
    }
    val validateOnly = r.bool()
    r.tags()
    AlterConfigsRequest(version, correlationId, clientId, resources.toSeq,
      validateOnly)
  }

  /** responses: (error, errorMessage, resourceType, resourceName)*. */
  def encodeAlterConfigsResponse(version: Int, correlationId: Int,
      responses: Seq[(Int, String, Int, String)],
      api: Api = AlterConfigs): Array[Byte] =
    writeResponse(api, version, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.count(responses.length)
      responses.foreach { case (err, msg, rType, rName) =>
        w.i16(err); w.str(msg); w.i8(rType); w.str(rName); w.tags()
      }
      w.tags()
    }

  /** (correlationId, responses as encoded). */
  def decodeAlterConfigsResponse(version: Int, bytes: Array[Byte],
      api: Api = AlterConfigs): (Int, Seq[(Int, String, Int, String)]) = {
    val (correlationId, r) = readResponse(api, version, bytes)
    r.i32() // throttle
    val responses = (0 until r.count()).map { _ =>
      val t = (r.i16(), r.str(), r.i8(), r.str()); r.tags(); t
    }
    r.tags()
    (correlationId, responses.toSeq)
  }

  // --- IncrementalAlterConfigs (key 44, v0–v1; flexible v1) — the
  // KIP-339 replacement kafka-configs.sh sends today: per-key
  // SET(0)/DELETE(1)/APPEND(2)/SUBTRACT(3) operations against the
  // override set instead of wholesale replacement. Request:
  // resources ARRAY<[resource_type INT8, resource_name STRING,
  // configs ARRAY<[name STRING, config_operation INT8, value
  // NSTRING]>]>, validate_only BOOL. Response: same shape as
  // AlterConfigs. ---

  case class IncrementalAlterConfigsRequest(version: Int, correlationId: Int,
      clientId: String,
      /** (resourceType, resourceName, (configName, op, value)*) */
      resources: Seq[(Int, String, Seq[(String, Int, String)])],
      validateOnly: Boolean)

  def encodeIncrementalAlterConfigsRequest(version: Int, correlationId: Int,
      clientId: String,
      resources: Seq[(Int, String, Seq[(String, Int, String)])],
      validateOnly: Boolean = false): Array[Byte] =
    writeRequest(IncrementalAlterConfigs, version, correlationId, clientId) { w =>
      w.count(resources.length)
      resources.foreach { case (rType, rName, configs) =>
        w.i8(rType)
        w.str(rName)
        w.count(configs.length)
        configs.foreach { case (n, op, v) =>
          w.str(n); w.i8(op); w.str(v); w.tags()
        }
        w.tags()
      }
      w.bool(validateOnly)
      w.tags()
    }

  def decodeIncrementalAlterConfigsRequest(bytes: Array[Byte])
      : IncrementalAlterConfigsRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, IncrementalAlterConfigs)
    val resources = (0 until r.count()).map { _ =>
      val rType = r.i8()
      val rName = r.str()
      val configs = (0 until r.count()).map { _ =>
        val c = (r.str(), r.i8(), r.str()); r.tags(); c
      }
      r.tags()
      (rType, rName, configs.toSeq)
    }
    val validateOnly = r.bool()
    r.tags()
    IncrementalAlterConfigsRequest(version, correlationId, clientId,
      resources.toSeq, validateOnly)
  }

  def encodeIncrementalAlterConfigsResponse(version: Int, correlationId: Int,
      responses: Seq[(Int, String, Int, String)]): Array[Byte] =
    encodeAlterConfigsResponse(version, correlationId, responses,
      IncrementalAlterConfigs)

  def decodeIncrementalAlterConfigsResponse(version: Int, bytes: Array[Byte])
      : (Int, Seq[(Int, String, Int, String)]) =
    decodeAlterConfigsResponse(version, bytes, IncrementalAlterConfigs)

  // --- OffsetForLeaderEpoch (key 23, v0–v4; flexible v4) — the
  // truncation-detection RPC a modern consumer/follower sends when
  // metadata carries leader epochs (KIP-101/279): "what is the end
  // offset of epoch E?". Request: replica_id INT32 (v3+; -2 =
  // consumer), topics ARRAY<[name, partitions ARRAY<[partition
  // INT32, current_leader_epoch INT32 (v2+; -1 = none),
  // leader_epoch INT32]>]>. Response: throttle (v2+), topics
  // ARRAY<[name, partitions ARRAY<[error INT16, partition INT32,
  // leader_epoch INT32 (v1+), end_offset INT64]>]>. ---

  case class OffsetForLeaderEpochRequest(version: Int, correlationId: Int,
      clientId: String, replicaId: Int,
      /** (topic, (partition, currentLeaderEpoch, leaderEpoch)*) */
      topics: Seq[(String, Seq[(Int, Int, Int)])])

  def encodeOffsetForLeaderEpochRequest(version: Int, correlationId: Int,
      clientId: String, topics: Seq[(String, Seq[(Int, Int, Int)])],
      replicaId: Int = -2): Array[Byte] =
    writeRequest(OffsetForLeaderEpoch, version, correlationId, clientId) { w =>
      if (version >= 3) w.i32(replicaId)
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, curEpoch, epoch) =>
          w.i32(p)
          if (version >= 2) w.i32(curEpoch)
          w.i32(epoch)
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  def decodeOffsetForLeaderEpochRequest(bytes: Array[Byte])
      : OffsetForLeaderEpochRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, OffsetForLeaderEpoch)
    val replicaId = if (version >= 3) r.i32() else -2
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val p = r.i32()
        val cur = if (version >= 2) r.i32() else -1
        val epoch = r.i32()
        r.tags()
        (p, cur, epoch)
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    OffsetForLeaderEpochRequest(version, correlationId, clientId, replicaId,
      topics.toSeq)
  }

  /** topics: (name, (error, partition, leaderEpoch, endOffset)*). */
  def encodeOffsetForLeaderEpochResponse(version: Int, correlationId: Int,
      topics: Seq[(String, Seq[(Int, Int, Int, Long)])]): Array[Byte] =
    writeResponse(OffsetForLeaderEpoch, version, correlationId) { w =>
      if (version >= 2) w.i32(0) // throttle_time_ms
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (err, p, epoch, end) =>
          w.i16(err)
          w.i32(p)
          if (version >= 1) w.i32(epoch)
          w.i64(end)
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  /** (correlationId, topics as encoded). */
  def decodeOffsetForLeaderEpochResponse(version: Int, bytes: Array[Byte])
      : (Int, Seq[(String, Seq[(Int, Int, Int, Long)])]) = {
    val (correlationId, r) = readResponse(OffsetForLeaderEpoch, version, bytes)
    if (version >= 2) r.i32() // throttle
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val err = r.i16()
        val p = r.i32()
        val epoch = if (version >= 1) r.i32() else -1
        val end = r.i64()
        r.tags()
        (err, p, epoch, end)
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    (correlationId, topics.toSeq)
  }

  // --- Transactions (AddPartitionsToTxn 24, AddOffsetsToTxn 25,
  // EndTxn 26, TxnOffsetCommit 28) — the classic (pre-KIP-890) shapes
  // every transactional client through Kafka 3.x speaks. Flexible at
  // v3+ for all four. AddPartitionsToTxn is capped at v3: v4 rewrote
  // the schema around batched broker-to-broker calls a single-broker
  // engine never receives. ---

  case class AddPartitionsToTxnRequest(version: Int, correlationId: Int,
      clientId: String, transactionalId: String, producerId: Long,
      producerEpoch: Int, topics: Seq[(String, Seq[Int])])

  def encodeAddPartitionsToTxnRequest(version: Int, correlationId: Int,
      clientId: String, transactionalId: String, producerId: Long,
      producerEpoch: Int, topics: Seq[(String, Seq[Int])]): Array[Byte] =
    writeRequest(AddPartitionsToTxn, version, correlationId, clientId) { w =>
      w.str(transactionalId)
      w.i64(producerId)
      w.i16(producerEpoch)
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length); parts.foreach(w.i32)
        w.tags()
      }
      w.tags()
    }

  def decodeAddPartitionsToTxnRequest(
      bytes: Array[Byte]): AddPartitionsToTxnRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, AddPartitionsToTxn)
    val txnId = r.str()
    val pid = r.i64()
    val epoch = r.i16()
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map(_ => r.i32())
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    AddPartitionsToTxnRequest(version, correlationId, clientId, txnId, pid,
      epoch, topics.toSeq)
  }

  /** results = (topic, (partition, errorCode)*)*. */
  def encodeAddPartitionsToTxnResponse(version: Int, correlationId: Int,
      results: Seq[(String, Seq[(Int, Int)])]): Array[Byte] =
    writeResponse(AddPartitionsToTxn, version, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.count(results.length)
      results.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, err) => w.i32(p); w.i16(err); w.tags() }
        w.tags()
      }
      w.tags()
    }

  def decodeAddPartitionsToTxnResponse(version: Int, bytes: Array[Byte])
      : (Int, Seq[(String, Seq[(Int, Int)])]) = {
    val (correlationId, r) = readResponse(AddPartitionsToTxn, version, bytes)
    r.i32() // throttle_time_ms
    val results = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val t = (r.i32(), r.i16()); r.tags(); t
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    (correlationId, results.toSeq)
  }

  case class AddOffsetsToTxnRequest(version: Int, correlationId: Int,
      clientId: String, transactionalId: String, producerId: Long,
      producerEpoch: Int, groupId: String)

  def encodeAddOffsetsToTxnRequest(version: Int, correlationId: Int,
      clientId: String, transactionalId: String, producerId: Long,
      producerEpoch: Int, groupId: String): Array[Byte] =
    writeRequest(AddOffsetsToTxn, version, correlationId, clientId) { w =>
      w.str(transactionalId)
      w.i64(producerId)
      w.i16(producerEpoch)
      w.str(groupId)
      w.tags()
    }

  def decodeAddOffsetsToTxnRequest(
      bytes: Array[Byte]): AddOffsetsToTxnRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, AddOffsetsToTxn)
    val req = AddOffsetsToTxnRequest(version, correlationId, clientId,
      r.str(), r.i64(), r.i16(), r.str())
    r.tags()
    req
  }

  def encodeAddOffsetsToTxnResponse(version: Int, correlationId: Int,
      errorCode: Int): Array[Byte] =
    writeResponse(AddOffsetsToTxn, version, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.tags()
    }

  /** (correlationId, errorCode). */
  def decodeAddOffsetsToTxnResponse(version: Int,
      bytes: Array[Byte]): (Int, Int) = {
    val (correlationId, r) = readResponse(AddOffsetsToTxn, version, bytes)
    r.i32() // throttle_time_ms
    val t = (correlationId, r.i16())
    r.tags()
    t
  }

  case class EndTxnRequest(version: Int, correlationId: Int, clientId: String,
      transactionalId: String, producerId: Long, producerEpoch: Int,
      committed: Boolean)

  def encodeEndTxnRequest(version: Int, correlationId: Int, clientId: String,
      transactionalId: String, producerId: Long, producerEpoch: Int,
      committed: Boolean): Array[Byte] =
    writeRequest(EndTxn, version, correlationId, clientId) { w =>
      w.str(transactionalId)
      w.i64(producerId)
      w.i16(producerEpoch)
      w.bool(committed)
      w.tags()
    }

  def decodeEndTxnRequest(bytes: Array[Byte]): EndTxnRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, EndTxn)
    val req = EndTxnRequest(version, correlationId, clientId,
      r.str(), r.i64(), r.i16(), r.bool())
    r.tags()
    req
  }

  def encodeEndTxnResponse(version: Int, correlationId: Int,
      errorCode: Int): Array[Byte] =
    writeResponse(EndTxn, version, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.tags()
    }

  /** (correlationId, errorCode). */
  def decodeEndTxnResponse(version: Int, bytes: Array[Byte]): (Int, Int) = {
    val (correlationId, r) = readResponse(EndTxn, version, bytes)
    r.i32() // throttle_time_ms
    val t = (correlationId, r.i16())
    r.tags()
    t
  }

  case class TxnOffsetCommitRequest(version: Int, correlationId: Int,
      clientId: String, transactionalId: String, groupId: String,
      producerId: Long, producerEpoch: Int,
      topics: Seq[(String, Seq[(Int, Long, String)])])

  def encodeTxnOffsetCommitRequest(version: Int, correlationId: Int,
      clientId: String, transactionalId: String, groupId: String,
      producerId: Long, producerEpoch: Int,
      topics: Seq[(String, Seq[(Int, Long, String)])]): Array[Byte] =
    writeRequest(TxnOffsetCommit, version, correlationId, clientId) { w =>
      w.str(transactionalId)
      w.str(groupId)
      w.i64(producerId)
      w.i16(producerEpoch)
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, off, meta) =>
          w.i32(p)
          w.i64(off)
          if (version >= 2) w.i32(-1) // committed_leader_epoch
          w.str(meta)
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  def decodeTxnOffsetCommitRequest(
      bytes: Array[Byte]): TxnOffsetCommitRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, TxnOffsetCommit)
    val txnId = r.str()
    val groupId = r.str()
    val pid = r.i64()
    val epoch = r.i16()
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val p = r.i32()
        val off = r.i64()
        if (version >= 2) r.i32() // committed_leader_epoch
        val meta = r.str()
        r.tags()
        (p, off, meta)
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    TxnOffsetCommitRequest(version, correlationId, clientId, txnId, groupId,
      pid, epoch, topics.toSeq)
  }

  /** results = (topic, (partition, errorCode)*)*. */
  def encodeTxnOffsetCommitResponse(version: Int, correlationId: Int,
      results: Seq[(String, Seq[(Int, Int)])]): Array[Byte] =
    writeResponse(TxnOffsetCommit, version, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.count(results.length)
      results.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, err) => w.i32(p); w.i16(err); w.tags() }
        w.tags()
      }
      w.tags()
    }

  def decodeTxnOffsetCommitResponse(version: Int, bytes: Array[Byte])
      : (Int, Seq[(String, Seq[(Int, Int)])]) =
    decodeAddPartitionsToTxnResponse(version, bytes) // identical layout

  // --- Transaction/producer admin (DescribeProducers 61,
  // DescribeTransactions 65, ListTransactions 66; all flexible from
  // v0) — what `kafka-transactions.sh` and AdminClient's
  // describeProducers/describeTransactions/listTransactions send to
  // inspect idempotent-producer and transaction-coordinator state.
  // DescribeProducers asks per (topic, partition) for the active
  // producer states the partition remembers (the broker's sequence
  // bookkeeping made visible); DescribeTransactions asks the
  // coordinator for named transactional ids; ListTransactions
  // enumerates the coordinator with optional state/pid filters. ---

  def encodeDescribeProducersRequest(correlationId: Int, clientId: String,
      topics: Seq[(String, Seq[Int])]): Array[Byte] =
    writeRequest(DescribeProducers, 0, correlationId, clientId) { w =>
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach(w.i32)
        w.tags()
      }
      w.tags()
    }

  /** (correlationId, (topic, partitions)*). */
  def decodeDescribeProducersRequest(bytes: Array[Byte])
      : (Int, Seq[(String, Seq[Int])]) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, DescribeProducers)
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map(_ => r.i32())
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    (correlationId, topics.toSeq)
  }

  /** One remembered producer on one partition: (producerId, epoch,
    * lastSequence, lastTimestamp, coordinatorEpoch,
    * currentTxnStartOffset) — −1 for the quantities a field's source
    * doesn't track, per the protocol's unknown sentinel. */
  case class ActiveProducer(producerId: Long, epoch: Int, lastSequence: Int,
    lastTimestamp: Long, coordinatorEpoch: Int, currentTxnStartOffset: Long)

  /** topics = (name, (partition, errorCode, producers)*)*. */
  def encodeDescribeProducersResponse(correlationId: Int,
      topics: Seq[(String, Seq[(Int, Int, Seq[ActiveProducer])])])
      : Array[Byte] =
    writeResponse(DescribeProducers, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, err, producers) =>
          w.i32(p); w.i16(err); w.str(null) // error_message
          w.count(producers.length)
          producers.foreach { a =>
            w.i64(a.producerId); w.i32(a.epoch); w.i32(a.lastSequence)
            w.i64(a.lastTimestamp); w.i32(a.coordinatorEpoch)
            w.i64(a.currentTxnStartOffset); w.tags()
          }
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  /** (correlationId, (topic, (partition, errorCode, producers)*)*). */
  def decodeDescribeProducersResponse(bytes: Array[Byte])
      : (Int, Seq[(String, Seq[(Int, Int, Seq[ActiveProducer])])]) = {
    val (correlationId, r) = readResponse(DescribeProducers, 0, bytes)
    r.i32() // throttle
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val p = r.i32(); val err = r.i16(); r.str() // error_message
        val producers = (0 until r.count()).map { _ =>
          val a = ActiveProducer(r.i64(), r.i32(), r.i32(), r.i64(), r.i32(),
            r.i64())
          r.tags(); a
        }
        r.tags()
        (p, err, producers.toSeq)
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    (correlationId, topics.toSeq)
  }

  def encodeDescribeTransactionsRequest(correlationId: Int, clientId: String,
      transactionalIds: Seq[String]): Array[Byte] =
    writeRequest(DescribeTransactions, 0, correlationId, clientId) { w =>
      w.count(transactionalIds.length)
      transactionalIds.foreach(w.str)
      w.tags()
    }

  /** (correlationId, transactionalIds). */
  def decodeDescribeTransactionsRequest(bytes: Array[Byte])
      : (Int, Seq[String]) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, DescribeTransactions)
    val ids = (0 until r.count()).map(_ => r.str())
    r.tags()
    (correlationId, ids.toSeq)
  }

  /** One coordinator answer: (errorCode, transactionalId, state,
    * timeoutMs, startTimeMs, producerId, producerEpoch,
    * (topic, partitions)*). */
  case class DescribedTxn(errorCode: Int, transactionalId: String,
    state: String, timeoutMs: Int, startTimeMs: Long, producerId: Long,
    producerEpoch: Int, topics: Seq[(String, Seq[Int])])

  def encodeDescribeTransactionsResponse(correlationId: Int,
      states: Seq[DescribedTxn]): Array[Byte] =
    writeResponse(DescribeTransactions, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.count(states.length)
      states.foreach { s =>
        w.i16(s.errorCode); w.str(s.transactionalId); w.str(s.state)
        w.i32(s.timeoutMs); w.i64(s.startTimeMs); w.i64(s.producerId)
        w.i16(s.producerEpoch)
        w.count(s.topics.length)
        s.topics.foreach { case (name, parts) =>
          w.str(name)
          w.count(parts.length)
          parts.foreach(w.i32)
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  /** (correlationId, states). */
  def decodeDescribeTransactionsResponse(bytes: Array[Byte])
      : (Int, Seq[DescribedTxn]) = {
    val (correlationId, r) = readResponse(DescribeTransactions, 0, bytes)
    r.i32() // throttle
    val states = (0 until r.count()).map { _ =>
      val err = r.i16(); val id = r.str(); val state = r.str()
      val timeout = r.i32(); val start = r.i64(); val pid = r.i64()
      val epoch = r.i16()
      val topics = (0 until r.count()).map { _ =>
        val name = r.str()
        val parts = (0 until r.count()).map(_ => r.i32())
        r.tags()
        (name, parts.toSeq)
      }
      r.tags()
      DescribedTxn(err, id, state, timeout, start, pid, epoch, topics.toSeq)
    }
    r.tags()
    (correlationId, states.toSeq)
  }

  def encodeListTransactionsRequest(correlationId: Int, clientId: String,
      stateFilters: Seq[String] = Seq.empty,
      producerIdFilters: Seq[Long] = Seq.empty): Array[Byte] =
    writeRequest(ListTransactions, 0, correlationId, clientId) { w =>
      w.count(stateFilters.length)
      stateFilters.foreach(w.str)
      w.count(producerIdFilters.length)
      producerIdFilters.foreach(w.i64)
      w.tags()
    }

  /** (correlationId, stateFilters, producerIdFilters). */
  def decodeListTransactionsRequest(bytes: Array[Byte])
      : (Int, Seq[String], Seq[Long]) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, ListTransactions)
    val stateFilters = (0 until r.count()).map(_ => r.str())
    val pidFilters = (0 until r.count()).map(_ => r.i64())
    r.tags()
    (correlationId, stateFilters.toSeq, pidFilters.toSeq)
  }

  /** states = (transactionalId, producerId, state)*. */
  def encodeListTransactionsResponse(correlationId: Int,
      unknownStateFilters: Seq[String],
      states: Seq[(String, Long, String)]): Array[Byte] =
    writeResponse(ListTransactions, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(0) // error_code
      w.count(unknownStateFilters.length)
      unknownStateFilters.foreach(w.str)
      w.count(states.length)
      states.foreach { case (id, pid, state) =>
        w.str(id); w.i64(pid); w.str(state); w.tags()
      }
      w.tags()
    }

  /** (correlationId, unknownStateFilters, states). */
  def decodeListTransactionsResponse(bytes: Array[Byte])
      : (Int, Seq[String], Seq[(String, Long, String)]) = {
    val (correlationId, r) = readResponse(ListTransactions, 0, bytes)
    r.i32() // throttle
    val err = r.i16()
    require(err == 0, s"ListTransactions error $err")
    val unknown = (0 until r.count()).map(_ => r.str())
    val states = (0 until r.count()).map { _ =>
      val s = (r.str(), r.i64(), r.str()); r.tags(); s
    }
    r.tags()
    (correlationId, unknown.toSeq, states.toSeq)
  }

  // --- SASL authentication (SaslHandshake 17 v0–v1, SaslAuthenticate
  // 36 v0–v2; handshake is non-flexible at every version, authenticate
  // flexible at v2) — the first exchange on a SASL_PLAINTEXT listener.
  // v0 handshake switches the connection to RAW length-framed SASL
  // tokens (no Kafka headers — pre-KIP-152 clients); v1 carries
  // tokens inside SaslAuthenticate requests, which is what every
  // kafka-clients ≥ 1.0 sends. graft serves the PLAIN mechanism
  // (RFC 4616: [authzid] NUL authcid NUL passwd) against a static
  // credential map. ---

  def encodeSaslHandshakeRequest(version: Int, correlationId: Int,
      clientId: String, mechanism: String): Array[Byte] =
    writeRequest(SaslHandshake, version, correlationId, clientId) { w =>
      writeNullableString(w.out, mechanism)
    }

  /** (version, correlationId, mechanism). */
  def decodeSaslHandshakeRequest(bytes: Array[Byte]): (Int, Int, String) = {
    val (RequestHeader(version, correlationId, _), r) =
      readRequest(bytes, SaslHandshake)
    (version, correlationId, readNullableString(r.buf))
  }

  def encodeSaslHandshakeResponse(correlationId: Int, errorCode: Int,
      mechanisms: Seq[String]): Array[Byte] =
    writeResponse(SaslHandshake, 0, correlationId) { w =>
      writeInt16(w.out, errorCode)
      writeInt32(w.out, mechanisms.length)
      mechanisms.foreach(writeNullableString(w.out, _))
    }

  /** (correlationId, errorCode, mechanisms). */
  def decodeSaslHandshakeResponse(bytes: Array[Byte])
      : (Int, Int, Seq[String]) = {
    val (correlationId, r) = readResponse(SaslHandshake, 0, bytes)
    val err = r.buf.getShort.toInt
    val mechanisms = (0 until r.buf.getInt).map(_ => readNullableString(r.buf))
    (correlationId, err, mechanisms.toSeq)
  }

  def encodeSaslAuthenticateRequest(version: Int, correlationId: Int,
      clientId: String, authBytes: Array[Byte]): Array[Byte] =
    writeRequest(SaslAuthenticate, version, correlationId, clientId) { w =>
      w.bytes(authBytes)
      w.tags()
    }

  /** (version, correlationId, authBytes). */
  def decodeSaslAuthenticateRequest(bytes: Array[Byte])
      : (Int, Int, Array[Byte]) = {
    val (RequestHeader(version, correlationId, _), r) =
      readRequest(bytes, SaslAuthenticate)
    val auth = r.bytes()
    r.tags()
    (version, correlationId, auth)
  }

  def encodeSaslAuthenticateResponse(version: Int, correlationId: Int,
      errorCode: Int, errorMessage: String, authBytes: Array[Byte],
      sessionLifetimeMs: Long = 0L): Array[Byte] =
    writeResponse(SaslAuthenticate, version, correlationId) { w =>
      w.i16(errorCode)
      w.str(errorMessage)
      w.bytes(authBytes)
      if (version >= 1) w.i64(sessionLifetimeMs)
      w.tags()
    }

  /** (correlationId, errorCode, errorMessage, sessionLifetimeMs). */
  /** (correlationId, errorCode, errorMessage, auth_bytes) — the auth
    * bytes carry the server's SASL token (SCRAM server-first /
    * server-final; empty for PLAIN). */
  def decodeSaslAuthenticateResponse(version: Int, bytes: Array[Byte])
      : (Int, Int, String, Array[Byte]) = {
    val (correlationId, r) = readResponse(SaslAuthenticate, version, bytes)
    val err = r.i16()
    val msg = r.str()
    val authBytes = r.bytes()
    if (version >= 1) r.i64() // session_lifetime_ms
    r.tags()
    (correlationId, err, msg, authBytes)
  }

  // --- User SCRAM credential admin (KIP-554): Describe 50 / Alter 51,
  // both v0 and born flexible — what kafka-configs.sh --alter
  // --add-config 'SCRAM-SHA-256=[...]' sends since Kafka 2.7. The
  // upsertion carries (salt, salted_password): the server derives and
  // stores the StoredKey/ServerKey quartet, never the password. ---

  /** users == null means "all users" (the null array in the request). */
  def encodeDescribeUserScramCredentialsRequest(correlationId: Int,
      clientId: String, users: Seq[String]): Array[Byte] =
    writeRequest(DescribeUserScramCredentials, 0, correlationId, clientId) { w =>
      w.count(if (users == null) -1 else users.length)
      if (users != null) users.foreach { u => w.str(u); w.tags() }
      w.tags()
    }

  /** (correlationId, users-or-null). */
  def decodeDescribeUserScramCredentialsRequest(
      bytes: Array[Byte]): (Int, Seq[String]) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, DescribeUserScramCredentials)
    val n = r.count()
    val users =
      if (n < 0) null
      else (0 until n).map { _ => val u = r.str(); r.tags(); u }.toSeq
    r.tags()
    (correlationId, users)
  }

  /** results = (user, error_code, error_message,
    * (mechanism_code, iterations)*)*. */
  def encodeDescribeUserScramCredentialsResponse(correlationId: Int,
      errorCode: Int, errorMessage: String,
      results: Seq[(String, Int, String, Seq[(Int, Int)])]): Array[Byte] =
    writeResponse(DescribeUserScramCredentials, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.str(errorMessage)
      w.count(results.length)
      results.foreach { case (user, err, msg, infos) =>
        w.str(user); w.i16(err); w.str(msg)
        w.count(infos.length)
        infos.foreach { case (mech, iters) => w.i8(mech); w.i32(iters); w.tags() }
        w.tags()
      }
      w.tags()
    }

  def decodeDescribeUserScramCredentialsResponse(bytes: Array[Byte])
      : (Int, Int, String, Seq[(String, Int, String, Seq[(Int, Int)])]) = {
    val (correlationId, r) = readResponse(DescribeUserScramCredentials, 0, bytes)
    r.i32() // throttle_time_ms
    val err = r.i16()
    val msg = r.str()
    val results = (0 until r.count()).map { _ =>
      val user = r.str(); val ue = r.i16(); val um = r.str()
      val infos = (0 until r.count()).map { _ =>
        val t = (r.i8(), r.i32()); r.tags(); t
      }.toSeq
      r.tags()
      (user, ue, um, infos)
    }.toSeq
    r.tags()
    (correlationId, err, msg, results)
  }

  /** deletions = (user, mechanism_code)*; upsertions = (user,
    * mechanism_code, iterations, salt, salted_password)*. */
  def encodeAlterUserScramCredentialsRequest(correlationId: Int,
      clientId: String, deletions: Seq[(String, Int)],
      upsertions: Seq[(String, Int, Int, Array[Byte], Array[Byte])])
      : Array[Byte] =
    writeRequest(AlterUserScramCredentials, 0, correlationId, clientId) { w =>
      w.count(deletions.length)
      deletions.foreach { case (u, m) => w.str(u); w.i8(m); w.tags() }
      w.count(upsertions.length)
      upsertions.foreach { case (u, m, iters, salt, sp) =>
        w.str(u); w.i8(m); w.i32(iters); w.bytes(salt); w.bytes(sp); w.tags()
      }
      w.tags()
    }

  def decodeAlterUserScramCredentialsRequest(bytes: Array[Byte])
      : (Int, Seq[(String, Int)],
         Seq[(String, Int, Int, Array[Byte], Array[Byte])]) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, AlterUserScramCredentials)
    val deletions = (0 until r.count()).map { _ =>
      val t = (r.str(), r.i8()); r.tags(); t
    }.toSeq
    val upsertions = (0 until r.count()).map { _ =>
      val t = (r.str(), r.i8(), r.i32(), r.bytes(), r.bytes()); r.tags(); t
    }.toSeq
    r.tags()
    (correlationId, deletions, upsertions)
  }

  /** results = (user, error_code, error_message)*. */
  def encodeAlterUserScramCredentialsResponse(correlationId: Int,
      results: Seq[(String, Int, String)]): Array[Byte] =
    writeResponse(AlterUserScramCredentials, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.count(results.length)
      results.foreach { case (u, err, msg) =>
        w.str(u); w.i16(err); w.str(msg); w.tags()
      }
      w.tags()
    }

  def decodeAlterUserScramCredentialsResponse(
      bytes: Array[Byte]): (Int, Seq[(String, Int, String)]) = {
    val (correlationId, r) = readResponse(AlterUserScramCredentials, 0, bytes)
    r.i32() // throttle_time_ms
    val results = (0 until r.count()).map { _ =>
      val t = (r.str(), r.i16(), r.str()); r.tags(); t
    }.toSeq
    r.tags()
    (correlationId, results)
  }

  /** Parse an RFC 4616 PLAIN token: [authzid] NUL authcid NUL passwd →
    * Some((authcid, passwd)), or None for a malformed token. A
    * non-empty authzid DIFFERENT from the authcid is rejected, as
    * Kafka's PlainSaslServer rejects it — silently binding a
    * requested authorization identity the server never checked would
    * hand a future authorization layer the wrong principal. */
  def parsePlainToken(token: Array[Byte]): Option[(String, String)] = {
    val s = new String(token, "UTF-8")
    s.split("\u0000", -1) match {
      case Array(authzid, user, pass)
          if user.nonEmpty && (authzid.isEmpty || authzid == user) =>
        Some((user, pass))
      case _ => None
    }
  }

  // --- DescribeLogDirs (key 35, v0) — what `kafka-log-dirs.sh`
  // sends: per-partition on-disk byte sizes by log directory.
  // Request: topics NULLABLE_ARRAY<[topic STRING, partitions
  // ARRAY<INT32>]> (null = every hosted partition). Response:
  // throttle, results ARRAY<[error INT16, log_dir STRING, topics
  // ARRAY<[name STRING, partitions ARRAY<[partition INT32,
  // size INT64, offset_lag INT64, is_future BOOL]>]>]>. ---

  def encodeDescribeLogDirsRequest(correlationId: Int, clientId: String,
      topics: Seq[(String, Seq[Int])]): Array[Byte] =
    writeRequest(DescribeLogDirs, 0, correlationId, clientId) { w =>
      if (topics == null) writeInt32(w.out, -1)
      else {
        writeInt32(w.out, topics.length)
        topics.foreach { case (name, parts) =>
          writeNullableString(w.out, name)
          writeInt32(w.out, parts.length)
          parts.foreach(writeInt32(w.out, _))
        }
      }
    }

  /** (correlationId, topics) — topics null = all. */
  def decodeDescribeLogDirsRequest(bytes: Array[Byte])
      : (Int, Seq[(String, Seq[Int])]) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, DescribeLogDirs)
    val n = r.buf.getInt
    val topics =
      if (n < 0) null
      else (0 until n).map { _ =>
        val name = readNullableString(r.buf)
        val parts = (0 until r.buf.getInt).map(_ => r.buf.getInt)
        (name, parts.toSeq)
      }.toSeq
    (correlationId, topics)
  }

  /** dirs = (errorCode, logDir, (topic, (partition, size, offsetLag,
    * isFuture)*)*)*. */
  def encodeDescribeLogDirsResponse(correlationId: Int,
      dirs: Seq[(Int, String, Seq[(String, Seq[(Int, Long, Long, Boolean)])])])
      : Array[Byte] =
    writeResponse(DescribeLogDirs, 0, correlationId) { w =>
      writeInt32(w.out, 0) // throttle_time_ms
      writeInt32(w.out, dirs.length)
      dirs.foreach { case (err, logDir, topics) =>
        writeInt16(w.out, err)
        writeNullableString(w.out, logDir)
        writeInt32(w.out, topics.length)
        topics.foreach { case (name, parts) =>
          writeNullableString(w.out, name)
          writeInt32(w.out, parts.length)
          parts.foreach { case (p, size, lag, future) =>
            writeInt32(w.out, p); writeInt64(w.out, size); writeInt64(w.out, lag)
            w.out.write(if (future) 1 else 0)
          }
        }
      }
    }

  /** (correlationId, dirs). */
  def decodeDescribeLogDirsResponse(bytes: Array[Byte])
      : (Int, Seq[(Int, String, Seq[(String, Seq[(Int, Long, Long, Boolean)])])]) = {
    val (correlationId, r) = readResponse(DescribeLogDirs, 0, bytes)
    r.buf.getInt // throttle
    val dirs = (0 until r.buf.getInt).map { _ =>
      val err = r.buf.getShort.toInt
      val logDir = readNullableString(r.buf)
      val topics = (0 until r.buf.getInt).map { _ =>
        val name = readNullableString(r.buf)
        val parts = (0 until r.buf.getInt).map { _ =>
          (r.buf.getInt, r.buf.getLong, r.buf.getLong, r.buf.get() != 0)
        }
        (name, parts.toSeq)
      }
      (err, logDir, topics.toSeq)
    }
    (correlationId, dirs.toSeq)
  }

  // --- ACL surface (DescribeAcls 29, CreateAcls 30, DeleteAcls 31;
  // v0-v3: v1 adds resource pattern types (KIP-290 prefixed ACLs),
  // v2+ flexible) --- what kafka-acls.sh sends. With no authorizer
  // configured every request answers SECURITY_DISABLED (54), the
  // vanilla no-authorizer broker's message; `Broker.enableAuthorizer`
  // turns the surface into the real, durably-stored ACL admin plane
  // (Acls.scala) and switches on request authorization broker-wide. ---

  val NoAuthorizerMessage = "No Authorizer is configured on the broker"

  private def writeAclString(out: ByteArrayOutputStream, s: String,
      flexible: Boolean): Unit =
    if (flexible) writeCompactNullableString(out, s)
    else writeNullableString(out, s)
  private def readAclString(buf: ByteBuffer, flexible: Boolean): String =
    if (flexible) readCompactNullableString(buf) else readNullableString(buf)
  private def writeAclArrayLen(out: ByteArrayOutputStream, n: Int,
      flexible: Boolean): Unit =
    if (flexible) writeUVarInt(out, n + 1) else writeInt32(out, n)
  private def readAclArrayLen(buf: ByteBuffer, flexible: Boolean): Int =
    if (flexible) readUVarInt(buf) - 1 else buf.getInt
  private def aclTags(out: ByteArrayOutputStream, flexible: Boolean): Unit =
    if (flexible) writeUVarInt(out, 0)

  /** DescribeAcls request v0-v3: resource_type INT8, resource_name
    * filter, (v1+) pattern_type INT8, principal filter, host filter,
    * operation INT8, permission INT8. Null strings mean "any". */
  def encodeDescribeAclsRequest(version: Int, correlationId: Int,
      clientId: String, filter: Acls.AclFilter): Array[Byte] =
    writeRequest(DescribeAcls, version, correlationId, clientId) { w =>
      w.out.write(filter.resourceType)
      writeAclString(w.out, filter.resourceName, w.flexible)
      if (version >= 1) w.out.write(filter.patternType)
      writeAclString(w.out, filter.principal, w.flexible)
      writeAclString(w.out, filter.host, w.flexible)
      w.out.write(filter.operation)
      w.out.write(filter.permissionType)
      aclTags(w.out, w.flexible)
    }

  /** (version, correlationId, filter). A v0 filter carries no pattern
    * type and decodes as LITERAL - KIP-290's compatibility mapping,
    * so a pre-pattern client never touches prefixed ACLs. */
  def decodeDescribeAclsRequest(bytes: Array[Byte])
      : (Int, Int, Acls.AclFilter) = {
    val (RequestHeader(version, correlationId, _), r) =
      readRequest(bytes, DescribeAcls)
    val resourceType = r.buf.get().toInt
    val resourceName = readAclString(r.buf, r.flexible)
    val patternType = if (version >= 1) r.buf.get().toInt else Acls.PatLiteral
    val principal = readAclString(r.buf, r.flexible)
    val host = readAclString(r.buf, r.flexible)
    val operation = r.buf.get().toInt
    val permission = r.buf.get().toInt
    if (r.flexible) readTags(r.buf)
    (version, correlationId, Acls.AclFilter(resourceType, resourceName,
      patternType, principal, host, operation, permission))
  }

  /** DescribeAcls response: throttle, error, error_message, then the
    * matched bindings GROUPED by resource pattern (type, name, (v1+)
    * pattern_type), each carrying its (principal, host, operation,
    * permission) ACL entries - the protocol's nesting. */
  def encodeDescribeAclsResponse(version: Int, correlationId: Int,
      errorCode: Int, errorMessage: String,
      acls: Seq[Acls.AclBinding]): Array[Byte] =
    writeResponse(DescribeAcls, version, correlationId) { w =>
      writeInt32(w.out, 0) // throttle_time_ms
      writeInt16(w.out, errorCode)
      writeAclString(w.out, errorMessage, w.flexible)
      // v0 cannot express a non-literal pattern: prefixed bindings are
      // withheld from v0 describes (KIP-290's downgrade rule)
      val served =
        if (version >= 1) acls else acls.filter(_.patternType == Acls.PatLiteral)
      val grouped = served
        .groupBy(b => (b.resourceType, b.resourceName, b.patternType))
        .toSeq.sortBy { case ((t, n, p), _) => (t, n, p) }
      writeAclArrayLen(w.out, grouped.length, w.flexible)
      grouped.foreach { case ((resType, resName, patType), entries) =>
        w.out.write(resType)
        writeAclString(w.out, resName, w.flexible)
        if (version >= 1) w.out.write(patType)
        writeAclArrayLen(w.out, entries.length, w.flexible)
        entries.foreach { b =>
          writeAclString(w.out, b.principal, w.flexible)
          writeAclString(w.out, b.host, w.flexible)
          w.out.write(b.operation)
          w.out.write(b.permissionType)
          aclTags(w.out, w.flexible)
        }
        aclTags(w.out, w.flexible)
      }
      aclTags(w.out, w.flexible)
    }

  /** (correlationId, errorCode, errorMessage, flattened bindings). */
  def decodeDescribeAclsResponse(bytes: Array[Byte], version: Int)
      : (Int, Int, String, Seq[Acls.AclBinding]) = {
    val (correlationId, r) = readResponse(DescribeAcls, version, bytes)
    r.buf.getInt // throttle
    val err = r.buf.getShort.toInt
    val msg = readAclString(r.buf, r.flexible)
    val resources = (0 until readAclArrayLen(r.buf, r.flexible)).flatMap { _ =>
      val resType = r.buf.get().toInt
      val resName = readAclString(r.buf, r.flexible)
      val patType = if (version >= 1) r.buf.get().toInt else Acls.PatLiteral
      val entries = (0 until readAclArrayLen(r.buf, r.flexible)).map { _ =>
        val principal = readAclString(r.buf, r.flexible)
        val host = readAclString(r.buf, r.flexible)
        val op = r.buf.get().toInt
        val perm = r.buf.get().toInt
        if (r.flexible) readTags(r.buf)
        Acls.AclBinding(resType, resName, patType, principal, host, op, perm)
      }
      if (r.flexible) readTags(r.buf)
      entries
    }
    if (r.flexible) readTags(r.buf)
    (correlationId, err, msg, resources.toSeq)
  }

  /** CreateAcls request v0-v3: creations as full bindings
    * (resource_type INT8, resource_name STRING, (v1+) pattern_type
    * INT8, principal STRING, host STRING, operation INT8, permission
    * INT8). */
  def encodeCreateAclsRequest(version: Int, correlationId: Int,
      clientId: String, creations: Seq[Acls.AclBinding]): Array[Byte] =
    writeRequest(CreateAcls, version, correlationId, clientId) { w =>
      writeAclArrayLen(w.out, creations.length, w.flexible)
      creations.foreach { b =>
        w.out.write(b.resourceType)
        writeAclString(w.out, b.resourceName, w.flexible)
        if (version >= 1) w.out.write(b.patternType)
        writeAclString(w.out, b.principal, w.flexible)
        writeAclString(w.out, b.host, w.flexible)
        w.out.write(b.operation)
        w.out.write(b.permissionType)
        aclTags(w.out, w.flexible)
      }
      aclTags(w.out, w.flexible)
    }

  /** (version, correlationId, creations). v0 creations decode as
    * LITERAL (the only pattern the pre-KIP-290 schema could say). */
  def decodeCreateAclsRequest(bytes: Array[Byte])
      : (Int, Int, Seq[Acls.AclBinding]) = {
    val (RequestHeader(version, correlationId, _), r) =
      readRequest(bytes, CreateAcls)
    val creations = (0 until readAclArrayLen(r.buf, r.flexible)).map { _ =>
      val resType = r.buf.get().toInt
      val resName = readAclString(r.buf, r.flexible)
      val patType = if (version >= 1) r.buf.get().toInt else Acls.PatLiteral
      val principal = readAclString(r.buf, r.flexible)
      val host = readAclString(r.buf, r.flexible)
      val op = r.buf.get().toInt
      val perm = r.buf.get().toInt
      if (r.flexible) readTags(r.buf)
      Acls.AclBinding(resType, resName, patType, principal, host, op, perm)
    }
    if (r.flexible) readTags(r.buf)
    (version, correlationId, creations.toSeq)
  }

  /** CreateAcls response: throttle, results (error, error_message)
    * per creation, in request order. */
  def encodeCreateAclsResponse(version: Int, correlationId: Int,
      results: Seq[(Int, String)]): Array[Byte] =
    writeResponse(CreateAcls, version, correlationId) { w =>
      writeInt32(w.out, 0)
      writeAclArrayLen(w.out, results.length, w.flexible)
      results.foreach { case (err, msg) =>
        writeInt16(w.out, err)
        writeAclString(w.out, msg, w.flexible)
        aclTags(w.out, w.flexible)
      }
      aclTags(w.out, w.flexible)
    }

  /** (correlationId, (error, message)*). */
  def decodeCreateAclsResponse(bytes: Array[Byte], version: Int)
      : (Int, Seq[(Int, String)]) = {
    val (correlationId, r) = readResponse(CreateAcls, version, bytes)
    r.buf.getInt // throttle
    val results = (0 until readAclArrayLen(r.buf, r.flexible)).map { _ =>
      val e = (r.buf.getShort.toInt, readAclString(r.buf, r.flexible))
      if (r.flexible) readTags(r.buf)
      e
    }
    if (r.flexible) readTags(r.buf)
    (correlationId, results.toSeq)
  }

  /** DeleteAcls request v0-v3: filters with the DescribeAcls filter
    * shape. */
  def encodeDeleteAclsRequest(version: Int, correlationId: Int,
      clientId: String, filters: Seq[Acls.AclFilter]): Array[Byte] =
    writeRequest(DeleteAcls, version, correlationId, clientId) { w =>
      writeAclArrayLen(w.out, filters.length, w.flexible)
      filters.foreach { f =>
        w.out.write(f.resourceType)
        writeAclString(w.out, f.resourceName, w.flexible)
        if (version >= 1) w.out.write(f.patternType)
        writeAclString(w.out, f.principal, w.flexible)
        writeAclString(w.out, f.host, w.flexible)
        w.out.write(f.operation)
        w.out.write(f.permissionType)
        aclTags(w.out, w.flexible)
      }
      aclTags(w.out, w.flexible)
    }

  /** (version, correlationId, filters). v0 filters decode as LITERAL
    * (KIP-290's mapping - see decodeDescribeAclsRequest). */
  def decodeDeleteAclsRequest(bytes: Array[Byte])
      : (Int, Int, Seq[Acls.AclFilter]) = {
    val (RequestHeader(version, correlationId, _), r) =
      readRequest(bytes, DeleteAcls)
    val filters = (0 until readAclArrayLen(r.buf, r.flexible)).map { _ =>
      val resType = r.buf.get().toInt
      val resName = readAclString(r.buf, r.flexible)
      val patType = if (version >= 1) r.buf.get().toInt else Acls.PatLiteral
      val principal = readAclString(r.buf, r.flexible)
      val host = readAclString(r.buf, r.flexible)
      val op = r.buf.get().toInt
      val perm = r.buf.get().toInt
      if (r.flexible) readTags(r.buf)
      Acls.AclFilter(resType, resName, patType, principal, host, op, perm)
    }
    if (r.flexible) readTags(r.buf)
    (version, correlationId, filters.toSeq)
  }

  /** DeleteAcls response: throttle, filter_results per filter (error,
    * error_message, matching_acls: the DELETED bindings, each with its
    * own (error, error_message) slot - 0 here, deletion is atomic
    * under the authorizer's monitor). */
  def encodeDeleteAclsResponse(version: Int, correlationId: Int,
      results: Seq[(Int, String, Seq[Acls.AclBinding])]): Array[Byte] =
    writeResponse(DeleteAcls, version, correlationId) { w =>
      writeInt32(w.out, 0)
      writeAclArrayLen(w.out, results.length, w.flexible)
      results.foreach { case (err, msg, matched) =>
        writeInt16(w.out, err)
        writeAclString(w.out, msg, w.flexible)
        writeAclArrayLen(w.out, matched.length, w.flexible)
        matched.foreach { b =>
          writeInt16(w.out, 0) // per-binding error
          writeAclString(w.out, null, w.flexible)
          w.out.write(b.resourceType)
          writeAclString(w.out, b.resourceName, w.flexible)
          if (version >= 1) w.out.write(b.patternType)
          writeAclString(w.out, b.principal, w.flexible)
          writeAclString(w.out, b.host, w.flexible)
          w.out.write(b.operation)
          w.out.write(b.permissionType)
          aclTags(w.out, w.flexible)
        }
        aclTags(w.out, w.flexible)
      }
      aclTags(w.out, w.flexible)
    }

  /** (correlationId, (error, message, deleted bindings)*). */
  def decodeDeleteAclsResponse(bytes: Array[Byte], version: Int)
      : (Int, Seq[(Int, String, Seq[Acls.AclBinding])]) = {
    val (correlationId, r) = readResponse(DeleteAcls, version, bytes)
    r.buf.getInt // throttle
    val results = (0 until readAclArrayLen(r.buf, r.flexible)).map { _ =>
      val err = r.buf.getShort.toInt
      val msg = readAclString(r.buf, r.flexible)
      val matched = (0 until readAclArrayLen(r.buf, r.flexible)).map { _ =>
        r.buf.getShort // per-binding error
        readAclString(r.buf, r.flexible) // per-binding message
        val resType = r.buf.get().toInt
        val resName = readAclString(r.buf, r.flexible)
        val patType = if (version >= 1) r.buf.get().toInt else Acls.PatLiteral
        val principal = readAclString(r.buf, r.flexible)
        val host = readAclString(r.buf, r.flexible)
        val op = r.buf.get().toInt
        val perm = r.buf.get().toInt
        if (r.flexible) readTags(r.buf)
        Acls.AclBinding(resType, resName, patType, principal, host, op, perm)
      }
      if (r.flexible) readTags(r.buf)
      (err, msg, matched.toSeq)
    }
    if (r.flexible) readTags(r.buf)
    (correlationId, results.toSeq)
  }

  // --- Leadership / reassignment admin (ElectLeaders 43 v0;
  // AlterPartitionReassignments 45 v0, ListPartitionReassignments 46
  // v0 — the latter two flexible from v0) — what
  // kafka-leader-election.sh and kafka-reassign-partitions.sh send.
  // On a single-broker cluster every partition's leader is already
  // broker 0 and there is nowhere to move a replica: elections answer
  // ELECTION_NOT_NEEDED (84), reassignments to [0] are vacuously
  // complete (0), any other target answers
  // INVALID_REPLICA_ASSIGNMENT (39), cancellations
  // NO_REASSIGNMENT_IN_PROGRESS (85), and the in-progress list is
  // always empty. ---

  /** v0: topic_partitions NULLABLE_ARRAY<[topic, partitions]>,
    * timeout_ms. null = elect wherever needed (nowhere, here). */
  def encodeElectLeadersRequest(correlationId: Int, clientId: String,
      topics: Seq[(String, Seq[Int])]): Array[Byte] =
    writeRequest(ElectLeaders, 0, correlationId, clientId) { w =>
      if (topics == null) writeInt32(w.out, -1)
      else {
        writeInt32(w.out, topics.length)
        topics.foreach { case (name, parts) =>
          writeNullableString(w.out, name)
          writeInt32(w.out, parts.length)
          parts.foreach(writeInt32(w.out, _))
        }
      }
      writeInt32(w.out, 30000) // timeout_ms
    }

  /** (correlationId, topics) — topics null = all needing election. */
  def decodeElectLeadersRequest(bytes: Array[Byte])
      : (Int, Seq[(String, Seq[Int])]) = {
    val (RequestHeader(_, correlationId, _), r) = readRequest(bytes, ElectLeaders)
    val n = r.buf.getInt
    val topics =
      if (n < 0) null
      else (0 until n).map { _ =>
        val name = readNullableString(r.buf)
        val parts = (0 until r.buf.getInt).map(_ => r.buf.getInt)
        (name, parts.toSeq)
      }.toSeq
    r.buf.getInt // timeout_ms
    (correlationId, topics)
  }

  /** v0: throttle, results ARRAY<[topic, partition_results
    * ARRAY<[partition, error, error_message]>]>. */
  def encodeElectLeadersResponse(correlationId: Int,
      results: Seq[(String, Seq[(Int, Int, String)])]): Array[Byte] =
    writeResponse(ElectLeaders, 0, correlationId) { w =>
      writeInt32(w.out, 0)
      writeInt32(w.out, results.length)
      results.foreach { case (name, parts) =>
        writeNullableString(w.out, name)
        writeInt32(w.out, parts.length)
        parts.foreach { case (p, err, msg) =>
          writeInt32(w.out, p); writeInt16(w.out, err); writeNullableString(w.out, msg)
        }
      }
    }

  /** (correlationId, results). */
  def decodeElectLeadersResponse(bytes: Array[Byte])
      : (Int, Seq[(String, Seq[(Int, Int, String)])]) = {
    val (correlationId, r) = readResponse(ElectLeaders, 0, bytes)
    r.buf.getInt // throttle
    val results = (0 until r.buf.getInt).map { _ =>
      val name = readNullableString(r.buf)
      val parts = (0 until r.buf.getInt).map { _ =>
        (r.buf.getInt, r.buf.getShort.toInt, readNullableString(r.buf))
      }
      (name, parts.toSeq)
    }
    (correlationId, results.toSeq)
  }

  /** v0 (flexible): timeout_ms, topics ARRAY<[name, partitions
    * ARRAY<[partition_index, replicas NULLABLE_ARRAY<INT32>]>]> —
    * null replicas = cancel that partition's reassignment. */
  def encodeAlterPartitionReassignmentsRequest(correlationId: Int,
      clientId: String, topics: Seq[(String, Seq[(Int, Seq[Int])])])
      : Array[Byte] =
    writeRequest(AlterPartitionReassignments, 0, correlationId, clientId) { w =>
      w.i32(30000) // timeout_ms
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, replicas) =>
          w.i32(p)
          if (replicas == null) w.count(-1)
          else { w.count(replicas.length); replicas.foreach(w.i32) }
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  /** (correlationId, (topic, (partition, replicas-or-null)*)*). */
  def decodeAlterPartitionReassignmentsRequest(bytes: Array[Byte])
      : (Int, Seq[(String, Seq[(Int, Seq[Int])])]) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, AlterPartitionReassignments)
    r.i32() // timeout_ms
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val p = r.i32()
        val nr = r.count()
        val replicas =
          if (nr < 0) null else (0 until nr).map(_ => r.i32()).toSeq
        r.tags()
        (p, replicas)
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    (correlationId, topics.toSeq)
  }

  /** v0: throttle, error, error_message, responses ARRAY<[topic,
    * partitions ARRAY<[partition, error, error_message]>]>. */
  def encodeAlterPartitionReassignmentsResponse(correlationId: Int,
      results: Seq[(String, Seq[(Int, Int, String)])]): Array[Byte] =
    writeResponse(AlterPartitionReassignments, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(0) // top-level error
      w.str(null)
      w.count(results.length)
      results.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, err, msg) =>
          w.i32(p); w.i16(err); w.str(msg); w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  /** (correlationId, results). */
  def decodeAlterPartitionReassignmentsResponse(bytes: Array[Byte])
      : (Int, Seq[(String, Seq[(Int, Int, String)])]) = {
    val (correlationId, r) = readResponse(AlterPartitionReassignments, 0, bytes)
    r.i32() // throttle
    val err = r.i16()
    require(err == 0, s"AlterPartitionReassignments error $err")
    r.str()
    val results = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val t = (r.i32(), r.i16(), r.str()); r.tags(); t
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    (correlationId, results.toSeq)
  }

  /** v0 (flexible): timeout_ms, topics NULLABLE_ARRAY<[name,
    * partition_indexes ARRAY<INT32>]> — null = list everything. */
  def encodeListPartitionReassignmentsRequest(correlationId: Int,
      clientId: String): Array[Byte] =
    writeRequest(ListPartitionReassignments, 0, correlationId, clientId) { w =>
      w.i32(30000)
      w.count(-1) // all
      w.tags()
    }

  /** correlationId (the filter is irrelevant — the list is empty). */
  def decodeListPartitionReassignmentsRequest(bytes: Array[Byte]): Int = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, ListPartitionReassignments)
    r.i32() // timeout_ms
    val n = r.count()
    (0 until math.max(n, 0)).foreach { _ =>
      r.str()
      (0 until r.count()).foreach(_ => r.i32())
      r.tags()
    }
    r.tags()
    correlationId
  }

  /** v0: throttle, error, error_message, topics (always empty here). */
  def encodeListPartitionReassignmentsResponse(correlationId: Int,
      errorCode: Int = 0, errorMessage: String = null): Array[Byte] =
    writeResponse(ListPartitionReassignments, 0, correlationId) { w =>
      w.i32(0)
      w.i16(errorCode)
      w.str(errorMessage)
      w.count(0)
      w.tags()
    }

  /** (correlationId, topic count — 0 on this broker). */
  def decodeListPartitionReassignmentsResponse(bytes: Array[Byte])
      : (Int, Int) = {
    val (correlationId, r) = readResponse(ListPartitionReassignments, 0, bytes)
    r.i32()
    val err = r.i16()
    require(err == 0, s"ListPartitionReassignments error $err")
    r.str()
    val n = r.count()
    r.tags()
    (correlationId, n)
  }

  // --- RecordBatch v2 (magic 2) — the modern record format ---
  // Layout per the public spec: baseOffset INT64, batchLength INT32
  // (bytes after itself), partitionLeaderEpoch INT32, magic INT8=2,
  // crc INT32 (CRC32C over attributes..end), attributes INT16,
  // lastOffsetDelta INT32, baseTimestamp INT64, maxTimestamp INT64,
  // producerId INT64, producerEpoch INT16, baseSequence INT32,
  // recordCount INT32, then records. Record fields are ZIGZAG
  // VARINTs: length, attributes INT8, timestampDelta, offsetDelta,
  // keyLen(-1=null)+key, valueLen+value, headerCount, then headers
  // (keyLen+utf8 key, valueLen(-1=null)+bytes). Unlike message v0,
  // v2 records CARRY HEADERS — the full graft record model fits.

  // Compression: attributes bits 0–2 name the batch codec — 0 none,
  // 1 gzip, 2 snappy, 3 lz4, 4 zstd (public protocol). The records
  // section AFTER the 61-byte batch header compresses as one block;
  // the header (and the CRC, which covers the compressed form) stay
  // plain. All four public codecs round-trip via the SAME libraries
  // the Kafka broker itself links (java.util.zip gzip, xerial
  // snappy-java's framed stream, lz4-java's standard LZ4 frame,
  // zstd-jni — every one already on the Spark classpath); the
  // reserved codec ids (5–7) answer UNSUPPORTED_COMPRESSION_TYPE
  // (76) cleanly instead of garbage-parsing the payload and killing
  // the connection.
  val CompressionNone = 0
  val CompressionGzip = 1
  val CompressionSnappy = 2
  val CompressionLz4 = 3
  val CompressionZstd = 4
  private val CompressionCodecMask = 0x07

  /** A batch names a codec this broker can't decode (the reserved
    * attribute values 5–7). Maps to error 76 per partition. */
  final case class UnsupportedCompressionException(codec: Int)
    extends RuntimeException(s"unsupported compression codec $codec")

  private def compress(codec: Int, bytes: Array[Byte], off: Int,
      len: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val cs: java.io.OutputStream = codec match {
      case CompressionGzip   => new java.util.zip.GZIPOutputStream(out)
      case CompressionSnappy => new org.xerial.snappy.SnappyOutputStream(out)
      case CompressionLz4    => new net.jpountz.lz4.LZ4FrameOutputStream(out)
      case CompressionZstd   => new com.github.luben.zstd.ZstdOutputStream(out)
      case other             => throw UnsupportedCompressionException(other)
    }
    cs.write(bytes, off, len); cs.close()
    out.toByteArray
  }

  private def decompress(codec: Int, buf: ByteBuffer): Array[Byte] = {
    val in = new Array[Byte](buf.remaining()); buf.get(in)
    val bis = new java.io.ByteArrayInputStream(in)
    val ds: java.io.InputStream = codec match {
      case CompressionGzip   => new java.util.zip.GZIPInputStream(bis)
      case CompressionSnappy => new org.xerial.snappy.SnappyInputStream(bis)
      case CompressionLz4    => new net.jpountz.lz4.LZ4FrameInputStream(bis)
      case CompressionZstd   => new com.github.luben.zstd.ZstdInputStream(bis)
      case other             => throw UnsupportedCompressionException(other)
    }
    val out = new ByteArrayOutputStream()
    val chunk = new Array[Byte](8192)
    var n = ds.read(chunk)
    while (n >= 0) { out.write(chunk, 0, n); n = ds.read(chunk) }
    ds.close()
    out.toByteArray
  }

  case class WireRecordV2(timestampMs: Long, key: Array[Byte],
      value: Array[Byte], headers: Seq[(String, Array[Byte])] = Seq.empty)

  case class RecordBatchV2(baseOffset: Long, baseTimestampMs: Long,
      records: Seq[WireRecordV2], producerId: Long = -1L,
      producerEpoch: Int = -1, baseSequence: Int = -1,
      /** attributes bit 4: this batch is part of an open transaction */
      transactional: Boolean = false)

  /** One decoded produce batch with its idempotence coordinates —
    * what the broker's sequence bookkeeping consumes. A non-idempotent
    * batch carries (-1, -1, -1). */
  case class ProducedBatch(producerId: Long, producerEpoch: Int,
      baseSequence: Int, records: Seq[WireRecordV2],
      transactional: Boolean = false)

  private def readZigZagVarLong(buf: ByteBuffer): Long = {
    var value = 0L
    var shift = 0
    var b = 0
    do {
      b = buf.get() & 0xff
      value |= (b & 0x7fL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    (value >>> 1) ^ -(value & 1)
  }

  private def readVarBytes(buf: ByteBuffer): Array[Byte] = {
    val n = readZigZagVarLong(buf).toInt
    if (n < 0) null
    else { val b = new Array[Byte](n); buf.get(b); b }
  }

  /** Bytes of `value` as a zigzag varint. */
  private def zigZagSize(value: Long): Int = {
    var v = (value << 1) ^ (value >> 63)
    var n = 1
    while ((v & ~0x7fL) != 0L) { n += 1; v >>>= 7 }
    n
  }

  /** Bytes of a varint-length-prefixed byte field (−1 = null). */
  private def varBytesSize(b: Array[Byte]): Int =
    if (b == null) 1 else zigZagSize(b.length) + b.length

  /** A write cursor over an exact-size array: the record encoder's
    * only sink, so each record byte is copied once, into place. */
  private final class Cursor(val buf: Array[Byte], var pos: Int) {
    def byte(v: Int): Unit = { buf(pos) = v.toByte; pos += 1 }
    def zigZag(value: Long): Unit = {
      var v = (value << 1) ^ (value >> 63)
      while ((v & ~0x7fL) != 0L) {
        buf(pos) = ((v & 0x7f) | 0x80).toByte
        pos += 1
        v >>>= 7
      }
      buf(pos) = v.toByte
      pos += 1
    }
    def varBytes(b: Array[Byte]): Unit =
      if (b == null) zigZag(-1)
      else {
        zigZag(b.length)
        System.arraycopy(b, 0, buf, pos, b.length)
        pos += b.length
      }
  }

  /** Bytes before the first record of a magic-2 batch. */
  private val BatchHeaderSize = 61

  /** Batch encoder core over EXPLICIT offset deltas — a fetch of a
    * compacted log legitimately carries gaps, so deltas are data, not
    * indexes. One pass sizes every record from its varint lengths,
    * a second writes the records into an exact-size array after the
    * 61-byte header, and the header and its CRC32C are written in
    * place last. A compressed batch compresses that same records
    * section and copies it once behind the header. */
  private def encodeBatchV2Core(baseOffset: Long, baseTimestampMs: Long,
      n: Int, offsetDelta: Int => Int, record: Int => WireRecordV2,
      producerId: Long = -1L, producerEpoch: Int = -1, baseSequence: Int = -1,
      compression: Int = CompressionNone,
      transactional: Boolean = false): Array[Byte] = {
    require(compression >= CompressionNone && compression <= CompressionZstd,
      s"encoder supports codecs none/gzip/snappy/lz4/zstd, not $compression")
    // pass 1: each record's body size; header names are UTF-8 encoded
    // once here and written from this list, in record order, below
    val bodySizes = new Array[Int](n)
    var headerNames: scala.collection.mutable.ArrayBuffer[Array[Byte]] = null
    var recordsLen = 0L
    // spec: maxTimestamp is the max RECORD timestamp (-1 if none) —
    // seeding from the base would name a timestamp no record carries
    // whenever every record predates the base
    var maxTs = -1L
    var i = 0
    while (i < n) {
      val r = record(i)
      maxTs = math.max(maxTs, r.timestampMs)
      var body = 1 + zigZagSize(r.timestampMs - baseTimestampMs) +
        zigZagSize(offsetDelta(i)) + varBytesSize(r.key) + varBytesSize(r.value)
      if (r.headers.isEmpty) body += 1
      else {
        if (headerNames == null) headerNames = scala.collection.mutable.ArrayBuffer.empty
        body += zigZagSize(r.headers.length)
        r.headers.foreach { case (k, v) =>
          val kb = k.getBytes(UTF_8)
          headerNames += kb
          body += varBytesSize(kb) + varBytesSize(v)
        }
      }
      bodySizes(i) = body
      recordsLen += zigZagSize(body) + body
      i += 1
    }
    require(BatchHeaderSize + recordsLen <= Int.MaxValue,
      s"record batch of $recordsLen bytes exceeds the array limit")
    // pass 2: the records, straight into place
    val plain = new Array[Byte](BatchHeaderSize + recordsLen.toInt)
    val c = new Cursor(plain, BatchHeaderSize)
    var h = 0
    i = 0
    while (i < n) {
      val r = record(i)
      c.zigZag(bodySizes(i))
      c.byte(0) // record attributes
      c.zigZag(r.timestampMs - baseTimestampMs)
      c.zigZag(offsetDelta(i))
      c.varBytes(r.key)
      c.varBytes(r.value)
      c.zigZag(r.headers.length)
      r.headers.foreach { case (_, v) =>
        c.varBytes(headerNames(h)); h += 1
        c.varBytes(v)
      }
      i += 1
    }
    val out =
      if (compression == CompressionNone) plain
      else {
        val packed = compress(compression, plain, BatchHeaderSize,
          recordsLen.toInt)
        val o = new Array[Byte](BatchHeaderSize + packed.length)
        System.arraycopy(packed, 0, o, BatchHeaderSize, packed.length)
        o
      }
    val bb = ByteBuffer.wrap(out)
    bb.putLong(0, baseOffset)
    bb.putInt(8, out.length - 12) // batchLength: the bytes after itself
    bb.putInt(12, -1) // partitionLeaderEpoch
    bb.put(16, 2.toByte) // magic
    // attributes: codec bits 0–2, create time, bit 4 = transactional
    bb.putShort(21, (compression | (if (transactional) 0x10 else 0)).toShort)
    bb.putInt(23, if (n == 0) -1 else offsetDelta(n - 1)) // lastOffsetDelta
    bb.putLong(27, baseTimestampMs)
    bb.putLong(35, maxTs)
    bb.putLong(43, producerId)
    bb.putShort(51, producerEpoch.toShort)
    bb.putInt(53, baseSequence)
    bb.putInt(57, n)
    // the CRC covers attributes through the end of the records
    val crc = new java.util.zip.CRC32C()
    crc.update(out, 21, out.length - 21)
    bb.putInt(17, crc.getValue.toInt)
    out
  }

  /** Encode one record batch (offsets contiguous from baseOffset;
    * any of the four public codecs, or none). An idempotent
    * producer's batch carries its producerId/epoch/baseSequence; the
    * default (-1,-1,-1) is the non-idempotent form. */
  def encodeRecordBatchV2(batch: RecordBatchV2,
      compression: Int = CompressionNone): Array[Byte] = {
    val recs = batch.records.toArray
    encodeBatchV2Core(batch.baseOffset, batch.baseTimestampMs,
      recs.length, i => i, recs(_),
      batch.producerId, batch.producerEpoch, batch.baseSequence, compression,
      batch.transactional)
  }

  /** Encode one batch of (absoluteOffset, record) pairs — the
    * broker-side fetch form, where compaction gaps survive as
    * non-contiguous offset deltas. Offsets must be ascending. */
  def encodeRecordBatchV2WithOffsets(baseTimestampMs: Long,
      records: Seq[(Long, WireRecordV2)],
      compression: Int = CompressionNone): Array[Byte] = {
    require(records.nonEmpty, "empty batch has no base offset")
    val recs = records.toArray
    val base = recs(0)._1
    encodeBatchV2Core(base, baseTimestampMs, recs.length,
      i => (recs(i)._1 - base).toInt, recs(_)._2, compression = compression)
  }

  private def decodeBatchV2Core(bytes: Array[Byte])
      : (Long, Long, Seq[(Int, WireRecordV2)], Long, Int, Int, Boolean) = {
    val buf = ByteBuffer.wrap(bytes)
    val baseOffset = buf.getLong
    val batchLength = buf.getInt
    require(batchLength == buf.remaining(),
      s"batch length $batchLength vs ${buf.remaining()} remaining")
    buf.getInt // partitionLeaderEpoch
    require(buf.get() == 2, "not a magic-2 record batch")
    val crc = buf.getInt
    val check = new java.util.zip.CRC32C()
    check.update(bytes, bytes.length - buf.remaining(), buf.remaining())
    require(crc == check.getValue.toInt, "record batch CRC32C mismatch")
    val attributes = buf.getShort
    buf.getInt // lastOffsetDelta
    val baseTs = buf.getLong
    buf.getLong // maxTimestamp
    val producerId = buf.getLong
    val producerEpoch = buf.getShort.toInt
    val baseSequence = buf.getInt
    val n = buf.getInt
    // codec bits: the records section after the header compresses as
    // one block (the CRC above already verified the stored form)
    val rb = (attributes & CompressionCodecMask) match {
      case CompressionNone => buf
      case c if c <= CompressionZstd => ByteBuffer.wrap(decompress(c, buf))
      case other => throw UnsupportedCompressionException(other)
    }
    val records = (0 until n).map { _ =>
      val len = readZigZagVarLong(rb).toInt
      val end = rb.position() + len
      rb.get() // record attributes
      val tsDelta = readZigZagVarLong(rb)
      val offsetDelta = readZigZagVarLong(rb).toInt
      val key = readVarBytes(rb)
      val value = readVarBytes(rb)
      val nh = readZigZagVarLong(rb).toInt
      val headers = (0 until nh).map { _ =>
        (new String(readVarBytes(rb), UTF_8), readVarBytes(rb))
      }
      require(rb.position() == end, "record length mismatch")
      (offsetDelta, WireRecordV2(baseTs + tsDelta, key, value, headers.toSeq))
    }
    (baseOffset, baseTs, records.toSeq, producerId, producerEpoch, baseSequence,
      (attributes & 0x10) != 0)
  }

  /** Decode + CRC32C-verify one record batch. */
  def decodeRecordBatchV2(bytes: Array[Byte]): RecordBatchV2 = {
    val (baseOffset, baseTs, recs, pid, pEpoch, baseSeq, txn) =
      decodeBatchV2Core(bytes)
    RecordBatchV2(baseOffset, baseTs, recs.map(_._2), pid, pEpoch, baseSeq, txn)
  }

  /** Decode one batch to (absoluteOffset, record) pairs. */
  def decodeRecordBatchV2WithOffsets(
      bytes: Array[Byte]): Seq[(Long, WireRecordV2)] = {
    val (baseOffset, _, recs, _, _, _, _) = decodeBatchV2Core(bytes)
    recs.map { case (d, r) => (baseOffset + d, r) }
  }

  /** Decode a RECORDS block: zero or more CONCATENATED record batches
    * (what a v3+ produce partition or a v4+ fetch partition carries).
    * A partial trailing batch is discarded, mirroring the v0
    * message-set rule — byte-bounded responses truncate mid-batch. */
  def decodeRecordsBlock(bytes: Array[Byte]): Seq[(Long, WireRecordV2)] = {
    val out = Seq.newBuilder[(Long, WireRecordV2)]
    var pos = 0
    while (bytes.length - pos >= 12) {
      val len = ((bytes(pos + 8) & 0xff) << 24) | ((bytes(pos + 9) & 0xff) << 16) |
        ((bytes(pos + 10) & 0xff) << 8) | (bytes(pos + 11) & 0xff)
      if (len < 0 || pos + 12 + len > bytes.length) pos = bytes.length // truncated tail
      else {
        out ++= decodeRecordBatchV2WithOffsets(
          java.util.Arrays.copyOfRange(bytes, pos, pos + 12 + len))
        pos += 12 + len
      }
    }
    out.result()
  }

  /** Decode a produce RECORDS block into its constituent batches,
    * keeping each batch's producer coordinates — the idempotence unit
    * is the BATCH, so the broker's sequence bookkeeping needs the
    * grouping [[decodeRecordsBlock]] flattens away. */
  def decodeProduceBatches(bytes: Array[Byte]): Seq[ProducedBatch] = {
    val out = Seq.newBuilder[ProducedBatch]
    var pos = 0
    while (bytes.length - pos >= 12) {
      val len = ((bytes(pos + 8) & 0xff) << 24) | ((bytes(pos + 9) & 0xff) << 16) |
        ((bytes(pos + 10) & 0xff) << 8) | (bytes(pos + 11) & 0xff)
      if (len < 0 || pos + 12 + len > bytes.length) pos = bytes.length // truncated tail
      else {
        val b = decodeRecordBatchV2(
          java.util.Arrays.copyOfRange(bytes, pos, pos + 12 + len))
        out += ProducedBatch(b.producerId, b.producerEpoch, b.baseSequence,
          b.records, b.transactional)
        pos += 12 + len
      }
    }
    out.result()
  }

  // --- KIP-848 next-generation consumer protocol (the DEFAULT group
  // membership path of kafka-clients 4.x): ConsumerGroupHeartbeat
  // (key 68) replaces the classic JoinGroup/SyncGroup two-step with
  // ONE heartbeat-driven reconciliation RPC — the coordinator owns
  // the assignor, epochs replace generations, and partition ownership
  // moves incrementally (a partition is granted only after its
  // previous owner reports it revoked). ConsumerGroupDescribe (key
  // 69) is its admin/introspection companion. Both v0, flexible.
  // Topic addressing is by topic_id (KIP-516 UUIDs), resolved the
  // same way Fetch v13 resolves them. ---

  case class CGHeartbeatRequest(correlationId: Int, clientId: String,
      groupId: String, memberId: String, memberEpoch: Int,
      instanceId: String, rackId: String, rebalanceTimeoutMs: Int,
      /** null = unchanged since the last heartbeat */
      subscribedTopicNames: Seq[String],
      /** v1+: null = unchanged, "" = clear, else a pattern the broker
        * resolves against hosted topics (KIP-848 regex subscription) */
      subscribedTopicRegex: String,
      serverAssignor: String,
      /** currently OWNED partitions; null = unchanged */
      topicPartitions: Seq[(String, Seq[Int])])

  def encodeConsumerGroupHeartbeatRequest(correlationId: Int,
      clientId: String, groupId: String, memberId: String, memberEpoch: Int,
      subscribedTopicNames: Seq[String] = null,
      topicPartitions: Seq[(String, Seq[Int])] = null,
      serverAssignor: String = null, instanceId: String = null,
      rackId: String = null, rebalanceTimeoutMs: Int = -1,
      subscribedTopicRegex: String = null, version: Int = 0): Array[Byte] = {
    // the regex field only exists at v1+: silently encoding a frame
    // that drops what the caller asked for would be a lossy lie
    require(subscribedTopicRegex == null || version >= 1,
      "subscribedTopicRegex requires ConsumerGroupHeartbeat v1+")
    writeRequest(ConsumerGroupHeartbeat, version, correlationId, clientId) { w =>
      w.str(groupId)
      w.str(memberId)
      w.i32(memberEpoch)
      w.str(instanceId)
      w.str(rackId)
      w.i32(rebalanceTimeoutMs)
      if (subscribedTopicNames == null) w.count(-1)
      else { w.count(subscribedTopicNames.length); subscribedTopicNames.foreach(w.str) }
      if (version >= 1) w.str(subscribedTopicRegex)
      w.str(serverAssignor)
      if (topicPartitions == null) w.count(-1)
      else {
        w.count(topicPartitions.length)
        topicPartitions.foreach { case (name, parts) =>
          w.uuid(topicUuid(name))
          w.count(parts.length); parts.foreach(w.i32)
          w.tags()
        }
      }
      w.tags()
    }
  }

  def decodeConsumerGroupHeartbeatRequest(bytes: Array[Byte],
      topicIdResolver: Array[Byte] => Option[String] = _ => None)
      : CGHeartbeatRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, ConsumerGroupHeartbeat)
    val groupId = r.str()
    val memberId = r.str()
    val memberEpoch = r.i32()
    val instanceId = r.str()
    val rackId = r.str()
    val rebalanceTimeoutMs = r.i32()
    val nSubs = r.count()
    val subs = if (nSubs < 0) null else (0 until nSubs).map(_ => r.str()).toSeq
    val regex = if (version >= 1) r.str() else null
    val assignor = r.str()
    val nTp = r.count()
    val tps = if (nTp < 0) null else (0 until nTp).map { _ =>
      val id = r.uuid()
      val parts = (0 until r.count()).map(_ => r.i32()).toSeq
      r.tags()
      (topicIdResolver(id).getOrElse(unknownIdName(id)), parts)
    }.toSeq
    r.tags()
    CGHeartbeatRequest(correlationId, clientId, groupId, memberId,
      memberEpoch, instanceId, rackId, rebalanceTimeoutMs, subs, regex,
      assignor, tps)
  }

  /** Assignment None = null (unchanged on the wire); Some(tps) writes
    * the nullable struct with topic_id-keyed partition sets. */
  def encodeConsumerGroupHeartbeatResponse(correlationId: Int,
      errorCode: Int, errorMessage: String, memberId: String,
      memberEpoch: Int, heartbeatIntervalMs: Int,
      assignment: Option[Seq[(String, Seq[Int])]]): Array[Byte] =
    writeResponse(ConsumerGroupHeartbeat, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.str(errorMessage)
      w.str(memberId)
      w.i32(memberEpoch)
      w.i32(heartbeatIntervalMs)
      assignment match {
        case None => w.i8(-1) // nullable struct: absent
        case Some(tps) =>
          w.i8(1)
          w.count(tps.length)
          tps.foreach { case (name, parts) =>
            w.uuid(idOfName(name))
            w.count(parts.length); parts.foreach(w.i32)
            w.tags()
          }
          w.tags()
      }
      w.tags()
    }

  /** (correlationId, errorCode, errorMessage, memberId, memberEpoch,
    * heartbeatIntervalMs, assignment). */
  def decodeConsumerGroupHeartbeatResponse(bytes: Array[Byte],
      topicIdResolver: Array[Byte] => Option[String] = _ => None)
      : (Int, Int, String, String, Int, Int,
         Option[Seq[(String, Seq[Int])]]) = {
    val (correlationId, r) = readResponse(ConsumerGroupHeartbeat, 0, bytes)
    r.i32() // throttle_time_ms
    val err = r.i16()
    val errMsg = r.str()
    val memberId = r.str()
    val memberEpoch = r.i32()
    val interval = r.i32()
    val assignment = r.i8() match {
      case -1 => None
      case _ =>
        val tps = (0 until r.count()).map { _ =>
          val id = r.uuid()
          val parts = (0 until r.count()).map(_ => r.i32()).toSeq
          r.tags()
          (topicIdResolver(id).getOrElse(unknownIdName(id)), parts)
        }.toSeq
        r.tags()
        Some(tps)
    }
    r.tags()
    (correlationId, err, errMsg, memberId, memberEpoch, interval, assignment)
  }

  /** One member's view in a ConsumerGroupDescribe response. */
  case class CGDescribedMember(memberId: String, instanceId: String,
      rackId: String, memberEpoch: Int, clientId: String, clientHost: String,
      subscribedTopicNames: Seq[String], subscribedTopicRegex: String,
      assignment: Seq[(String, Seq[Int])],
      targetAssignment: Seq[(String, Seq[Int])])

  case class CGDescribedGroup(errorCode: Int, errorMessage: String,
      groupId: String, groupState: String, groupEpoch: Int,
      assignmentEpoch: Int, assignorName: String,
      members: Seq[CGDescribedMember])

  def encodeConsumerGroupDescribeRequest(correlationId: Int,
      clientId: String, groupIds: Seq[String],
      includeAuthorizedOps: Boolean = false): Array[Byte] =
    writeRequest(ConsumerGroupDescribe, 0, correlationId, clientId) { w =>
      w.count(groupIds.length); groupIds.foreach(w.str)
      w.bool(includeAuthorizedOps)
      w.tags()
    }

  /** (correlationId, groupIds, includeAuthorizedOps). */
  def decodeConsumerGroupDescribeRequest(bytes: Array[Byte])
      : (Int, Seq[String], Boolean) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, ConsumerGroupDescribe)
    val ids = (0 until r.count()).map(_ => r.str()).toSeq
    val includeOps = r.bool()
    r.tags()
    (correlationId, ids, includeOps)
  }

  def encodeConsumerGroupDescribeResponse(correlationId: Int,
      groups: Seq[CGDescribedGroup]): Array[Byte] =
    writeResponse(ConsumerGroupDescribe, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.count(groups.length)
      groups.foreach { g =>
        w.i16(g.errorCode)
        w.str(g.errorMessage)
        w.str(g.groupId)
        w.str(g.groupState)
        w.i32(g.groupEpoch)
        w.i32(g.assignmentEpoch)
        w.str(g.assignorName)
        w.count(g.members.length)
        g.members.foreach { m =>
          w.str(m.memberId)
          w.str(m.instanceId)
          w.str(m.rackId)
          w.i32(m.memberEpoch)
          w.str(m.clientId)
          w.str(m.clientHost)
          w.count(m.subscribedTopicNames.length)
          m.subscribedTopicNames.foreach(w.str)
          w.str(m.subscribedTopicRegex)
          // assignment structs are NOT nullable here; describe entries
          // carry BOTH topic_id and topic_name, unlike the heartbeat
          def assignment(tps: Seq[(String, Seq[Int])]): Unit = {
            w.count(tps.length)
            tps.foreach { case (name, parts) =>
              w.uuid(idOfName(name))
              w.str(name)
              w.count(parts.length); parts.foreach(w.i32)
              w.tags()
            }
            w.tags()
          }
          assignment(m.assignment)
          assignment(m.targetAssignment)
          w.tags()
        }
        w.i32(Int.MinValue) // authorized_operations: not computed
        w.tags()
      }
      w.tags()
    }

  /** (correlationId, groups). */
  def decodeConsumerGroupDescribeResponse(bytes: Array[Byte])
      : (Int, Seq[CGDescribedGroup]) = {
    val (correlationId, r) = readResponse(ConsumerGroupDescribe, 0, bytes)
    r.i32() // throttle_time_ms
    val groups = (0 until r.count()).map { _ =>
      val err = r.i16()
      val errMsg = r.str()
      val groupId = r.str()
      val state = r.str()
      val gEpoch = r.i32()
      val aEpoch = r.i32()
      val assignor = r.str()
      val members = (0 until r.count()).map { _ =>
        val memberId = r.str()
        val instanceId = r.str()
        val rackId = r.str()
        val mEpoch = r.i32()
        val cid = r.str()
        val chost = r.str()
        val subs = (0 until r.count()).map(_ => r.str()).toSeq
        val regex = r.str()
        def assignment(): Seq[(String, Seq[Int])] = {
          val tps = (0 until r.count()).map { _ =>
            r.uuid()
            val name = r.str()
            val parts = (0 until r.count()).map(_ => r.i32()).toSeq
            r.tags()
            (name, parts)
          }.toSeq
          r.tags()
          tps
        }
        val cur = assignment()
        val tgt = assignment()
        r.tags()
        CGDescribedMember(memberId, instanceId, rackId, mEpoch, cid, chost,
          subs, regex, cur, tgt)
      }.toSeq
      r.i32() // authorized_operations
      r.tags()
      CGDescribedGroup(err, errMsg, groupId, state, gEpoch, aEpoch,
        assignor, members)
    }.toSeq
    r.tags()
    (correlationId, groups)
  }

  // --- KIP-714 client telemetry (GetTelemetrySubscriptions key 71,
  // PushTelemetry key 72; AK 3.7+, flexible-only v0). The java
  // client DEFAULTS to enable.metrics.push=true since 3.7, so key 71
  // is part of a modern client's first contact — a broker that kills
  // the connection on it breaks the client, not just the metrics.
  // GetTelemetrySubscriptions request: client_instance_id UUID
  // (all-zero = "assign me one"). Response: throttle INT32, error
  // INT16, client_instance_id UUID, subscription_id INT32,
  // accepted_compression_types ARRAY<INT8>, push_interval_ms INT32,
  // telemetry_max_bytes INT32, delta_temporality BOOL,
  // requested_metrics ARRAY<COMPACT_STRING> (EMPTY = nothing
  // subscribed — the client then pushes nothing; NULL would mean
  // "all metrics"). ---

  def encodeGetTelemetrySubscriptionsRequest(correlationId: Int,
      clientId: String, clientInstanceId: Array[Byte]): Array[Byte] =
    writeRequest(GetTelemetrySubscriptions, 0, correlationId, clientId) { w =>
      w.uuid(clientInstanceId)
      w.tags()
    }

  /** (correlationId, clientInstanceId). */
  def decodeGetTelemetrySubscriptionsRequest(bytes: Array[Byte])
      : (Int, Array[Byte]) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, GetTelemetrySubscriptions)
    val instanceId = r.uuid()
    r.tags()
    (correlationId, instanceId)
  }

  def encodeGetTelemetrySubscriptionsResponse(correlationId: Int,
      errorCode: Int, clientInstanceId: Array[Byte], subscriptionId: Int,
      acceptedCompression: Seq[Int], pushIntervalMs: Int,
      telemetryMaxBytes: Int, deltaTemporality: Boolean,
      requestedMetrics: Seq[String]): Array[Byte] =
    writeResponse(GetTelemetrySubscriptions, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.uuid(clientInstanceId)
      w.i32(subscriptionId)
      w.count(acceptedCompression.length)
      acceptedCompression.foreach(w.i8)
      w.i32(pushIntervalMs)
      w.i32(telemetryMaxBytes)
      w.bool(deltaTemporality)
      w.count(requestedMetrics.length)
      requestedMetrics.foreach(w.str)
      w.tags()
    }

  /** (correlationId, errorCode, clientInstanceId, subscriptionId,
    * acceptedCompression, pushIntervalMs, telemetryMaxBytes,
    * deltaTemporality, requestedMetrics). */
  def decodeGetTelemetrySubscriptionsResponse(bytes: Array[Byte])
      : (Int, Int, Array[Byte], Int, Seq[Int], Int, Int, Boolean,
         Seq[String]) = {
    val (correlationId, r) = readResponse(GetTelemetrySubscriptions, 0, bytes)
    r.i32() // throttle
    val err = r.i16()
    val instanceId = r.uuid()
    val subId = r.i32()
    val comp = (0 until r.count()).map(_ => r.i8()).toSeq
    val interval = r.i32()
    val maxBytes = r.i32()
    val delta = r.bool()
    val metrics = (0 until r.count()).map(_ => r.str()).toSeq
    r.tags()
    (correlationId, err, instanceId, subId, comp, interval, maxBytes,
      delta, metrics)
  }

  // PushTelemetry request: client_instance_id UUID, subscription_id
  // INT32, terminating BOOL, compression_type INT8, metrics
  // COMPACT_BYTES. Response: throttle INT32, error INT16.
  // UNKNOWN_SUBSCRIPTION_ID = 117, TELEMETRY_TOO_LARGE = 118.

  def encodePushTelemetryRequest(correlationId: Int, clientId: String,
      clientInstanceId: Array[Byte], subscriptionId: Int,
      terminating: Boolean, compressionType: Int,
      metrics: Array[Byte]): Array[Byte] =
    writeRequest(PushTelemetry, 0, correlationId, clientId) { w =>
      w.uuid(clientInstanceId)
      w.i32(subscriptionId)
      w.bool(terminating)
      w.i8(compressionType)
      w.bytes(metrics)
      w.tags()
    }

  /** (correlationId, clientInstanceId, subscriptionId, terminating,
    * compressionType, metrics). */
  def decodePushTelemetryRequest(bytes: Array[Byte])
      : (Int, Array[Byte], Int, Boolean, Int, Array[Byte]) = {
    val (RequestHeader(_, correlationId, _), r) = readRequest(bytes, PushTelemetry)
    val instanceId = r.uuid()
    val subId = r.i32()
    val terminating = r.bool()
    val compression = r.i8()
    val metrics = r.bytes()
    r.tags()
    (correlationId, instanceId, subId, terminating, compression, metrics)
  }

  def encodePushTelemetryResponse(correlationId: Int,
      errorCode: Int): Array[Byte] =
    writeResponse(PushTelemetry, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.tags()
    }

  /** (correlationId, errorCode). */
  def decodePushTelemetryResponse(bytes: Array[Byte]): (Int, Int) = {
    val (correlationId, r) = readResponse(PushTelemetry, 0, bytes)
    r.i32() // throttle
    val err = r.i16()
    r.tags()
    (correlationId, err)
  }

  // ListClientMetricsResources (key 74, v0 flexible; what
  // kafka-client-metrics.sh --list sends): request has no fields;
  // response: throttle INT32, error INT16, client_metrics_resources
  // ARRAY<[name COMPACT_STRING]>.

  def encodeListClientMetricsResourcesRequest(correlationId: Int,
      clientId: String): Array[Byte] =
    writeRequest(ListClientMetricsResources, 0, correlationId, clientId) { w =>
      w.tags()
    }

  /** correlationId. */
  def decodeListClientMetricsResourcesRequest(bytes: Array[Byte]): Int = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, ListClientMetricsResources)
    r.tags()
    correlationId
  }

  def encodeListClientMetricsResourcesResponse(correlationId: Int,
      errorCode: Int, names: Seq[String]): Array[Byte] =
    writeResponse(ListClientMetricsResources, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.count(names.length)
      names.foreach { n => w.str(n); w.tags() }
      w.tags()
    }

  /** (correlationId, errorCode, names). */
  def decodeListClientMetricsResourcesResponse(bytes: Array[Byte])
      : (Int, Int, Seq[String]) = {
    val (correlationId, r) = readResponse(ListClientMetricsResources, 0, bytes)
    r.i32() // throttle
    val err = r.i16()
    val names = (0 until r.count()).map { _ =>
      val n = r.str(); r.tags(); n
    }.toSeq
    r.tags()
    (correlationId, err, names)
  }

  // --- DescribeTopicPartitions (key 75, v0 flexible; AK 3.8+) — the
  // cursor-paginated topic-describe path modern AdminClients use
  // instead of Metadata for `describeTopics`. Request: topics
  // ARRAY<[name COMPACT_STRING]>, response_partition_limit INT32,
  // cursor NULLABLE_STRUCT<[topic_name COMPACT_STRING,
  // partition_index INT32]> (nullable structs serialize as one INT8:
  // -1 = null, 1 = present followed by the fields — the encoding
  // this API introduced). Response: throttle INT32, topics
  // ARRAY<[error INT16, name COMPACT_NSTRING, topic_id UUID,
  // is_internal BOOL, partitions ARRAY<[error INT16, index INT32,
  // leader_id INT32, leader_epoch INT32, replicas ARRAY<INT32>, isr
  // ARRAY<INT32>, eligible_leader_replicas NULLABLE_ARRAY<INT32>,
  // last_known_elr NULLABLE_ARRAY<INT32>, offline ARRAY<INT32>]>,
  // topic_authorized_operations INT32]>, next_cursor NULLABLE_STRUCT.

  /** Pagination cursor: the first (topic, partition) NOT yet served. */
  final case class DtpCursor(topicName: String, partitionIndex: Int)

  final case class DtpPartition(errorCode: Int, index: Int, leaderId: Int,
      leaderEpoch: Int, replicas: Seq[Int], isr: Seq[Int],
      eligibleLeaderReplicas: Option[Seq[Int]],
      lastKnownElr: Option[Seq[Int]], offline: Seq[Int])

  final case class DtpTopic(errorCode: Int, name: String,
      topicId: Array[Byte], isInternal: Boolean,
      partitions: Seq[DtpPartition], authorizedOperations: Int)

  private def writeDtpCursor(w: WR, cursor: Option[DtpCursor]): Unit =
    cursor match {
      case None => w.i8(-1)
      case Some(c) =>
        w.i8(1); w.str(c.topicName); w.i32(c.partitionIndex); w.tags()
    }

  private def readDtpCursor(r: RD): Option[DtpCursor] =
    r.i8() match {
      case -1 => None
      case _ =>
        val name = r.str(); val idx = r.i32(); r.tags()
        Some(DtpCursor(name, idx))
    }

  def encodeDescribeTopicPartitionsRequest(correlationId: Int,
      clientId: String, topics: Seq[String], responsePartitionLimit: Int,
      cursor: Option[DtpCursor]): Array[Byte] =
    writeRequest(DescribeTopicPartitions, 0, correlationId, clientId) { w =>
      w.count(topics.length)
      topics.foreach { t => w.str(t); w.tags() }
      w.i32(responsePartitionLimit)
      writeDtpCursor(w, cursor)
      w.tags()
    }

  /** (correlationId, topics, responsePartitionLimit, cursor). */
  def decodeDescribeTopicPartitionsRequest(bytes: Array[Byte])
      : (Int, Seq[String], Int, Option[DtpCursor]) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, DescribeTopicPartitions)
    val topics = (0 until r.count()).map { _ =>
      val n = r.str(); r.tags(); n
    }.toSeq
    val limit = r.i32()
    val cursor = readDtpCursor(r)
    r.tags()
    (correlationId, topics, limit, cursor)
  }

  def encodeDescribeTopicPartitionsResponse(correlationId: Int,
      topics: Seq[DtpTopic], nextCursor: Option[DtpCursor]): Array[Byte] =
    writeResponse(DescribeTopicPartitions, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.count(topics.length)
      topics.foreach { t =>
        w.i16(t.errorCode)
        w.str(t.name)
        w.uuid(t.topicId)
        w.bool(t.isInternal)
        w.count(t.partitions.length)
        t.partitions.foreach { p =>
          w.i16(p.errorCode)
          w.i32(p.index)
          w.i32(p.leaderId)
          w.i32(p.leaderEpoch)
          w.count(p.replicas.length); p.replicas.foreach(w.i32)
          w.count(p.isr.length); p.isr.foreach(w.i32)
          p.eligibleLeaderReplicas match {
            case None => w.count(-1)
            case Some(xs) => w.count(xs.length); xs.foreach(w.i32)
          }
          p.lastKnownElr match {
            case None => w.count(-1)
            case Some(xs) => w.count(xs.length); xs.foreach(w.i32)
          }
          w.count(p.offline.length); p.offline.foreach(w.i32)
          w.tags()
        }
        w.i32(t.authorizedOperations)
        w.tags()
      }
      writeDtpCursor(w, nextCursor)
      w.tags()
    }

  /** (correlationId, topics, nextCursor). */
  def decodeDescribeTopicPartitionsResponse(bytes: Array[Byte])
      : (Int, Seq[DtpTopic], Option[DtpCursor]) = {
    val (correlationId, r) = readResponse(DescribeTopicPartitions, 0, bytes)
    r.i32() // throttle
    def intArray(): Seq[Int] = (0 until r.count()).map(_ => r.i32()).toSeq
    def nullableIntArray(): Option[Seq[Int]] = {
      val n = r.count()
      if (n < 0) None else Some((0 until n).map(_ => r.i32()).toSeq)
    }
    val topics = (0 until r.count()).map { _ =>
      val err = r.i16()
      val name = r.str()
      val id = r.uuid()
      val internal = r.bool()
      val parts = (0 until r.count()).map { _ =>
        val p = DtpPartition(r.i16(), r.i32(), r.i32(), r.i32(),
          intArray(), intArray(), nullableIntArray(), nullableIntArray(),
          intArray())
        r.tags()
        p
      }.toSeq
      val ops = r.i32()
      r.tags()
      DtpTopic(err, name, id, internal, parts, ops)
    }.toSeq
    val next = readDtpCursor(r)
    r.tags()
    (correlationId, topics, next)
  }

  // --- ShareGroupHeartbeat (key 76) / ShareGroupDescribe (key 77)
  // v0 — KIP-932's membership + admin RPCs (flexible from v0). Share
  // membership carries no instance id, no regex, no client assignor,
  // and no owned-partitions report: record locks do the real
  // coordination, so the heartbeat is subscription + epoch only. ---

  def encodeShareGroupHeartbeatRequest(correlationId: Int,
      clientId: String, groupId: String, memberId: String,
      memberEpoch: Int, subscribedTopicNames: Seq[String] = null,
      rackId: String = null): Array[Byte] =
    writeRequest(ShareGroupHeartbeat, 0, correlationId, clientId) { w =>
      w.str(groupId)
      w.str(memberId)
      w.i32(memberEpoch)
      w.str(rackId)
      if (subscribedTopicNames == null) w.count(-1)
      else {
        w.count(subscribedTopicNames.length)
        subscribedTopicNames.foreach(w.str)
      }
      w.tags()
    }

  /** (correlationId, groupId, memberId, memberEpoch, rackId,
    * subscribedTopicNames (null = unchanged), clientId). */
  def decodeShareGroupHeartbeatRequest(bytes: Array[Byte])
      : (Int, String, String, Int, String, Seq[String], String) = {
    val (RequestHeader(_, correlationId, clientId), r) =
      readRequest(bytes, ShareGroupHeartbeat)
    val groupId = r.str()
    val memberId = r.str()
    val memberEpoch = r.i32()
    val rackId = r.str()
    val n = r.count()
    val subscribed =
      if (n < 0) null else (0 until n).map(_ => r.str()).toSeq
    r.tags()
    (correlationId, groupId, memberId, memberEpoch, rackId, subscribed,
      clientId)
  }

  def encodeShareGroupHeartbeatResponse(correlationId: Int,
      errorCode: Int, errorMessage: String, memberId: String,
      memberEpoch: Int, heartbeatIntervalMs: Int,
      assignment: Option[Seq[(String, Seq[Int])]]): Array[Byte] =
    writeResponse(ShareGroupHeartbeat, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.str(errorMessage)
      w.str(memberId)
      w.i32(memberEpoch)
      w.i32(heartbeatIntervalMs)
      assignment match {
        case None => w.i8(-1) // nullable struct: absent (= unchanged)
        case Some(tps) =>
          w.i8(1)
          w.count(tps.length)
          tps.foreach { case (name, parts) =>
            w.uuid(idOfName(name))
            w.count(parts.length); parts.foreach(w.i32)
            w.tags()
          }
          w.tags()
      }
      w.tags()
    }

  /** (correlationId, errorCode, errorMessage, memberId, memberEpoch,
    * heartbeatIntervalMs, assignment). */
  def decodeShareGroupHeartbeatResponse(bytes: Array[Byte],
      topicIdResolver: Array[Byte] => Option[String] = _ => None)
      : (Int, Int, String, String, Int, Int,
         Option[Seq[(String, Seq[Int])]]) = {
    val (correlationId, r) = readResponse(ShareGroupHeartbeat, 0, bytes)
    r.i32() // throttle_time_ms
    val err = r.i16()
    val errMsg = r.str()
    val memberId = r.str()
    val memberEpoch = r.i32()
    val interval = r.i32()
    val assignment = r.i8() match {
      case -1 => None
      case _ =>
        val tps = (0 until r.count()).map { _ =>
          val id = r.uuid()
          val parts = (0 until r.count()).map(_ => r.i32()).toSeq
          r.tags()
          (topicIdResolver(id).getOrElse(unknownIdName(id)), parts)
        }.toSeq
        r.tags()
        Some(tps)
    }
    r.tags()
    (correlationId, err, errMsg, memberId, memberEpoch, interval, assignment)
  }

  /** One member's view in a ShareGroupDescribe response. */
  case class SGDescribedMember(memberId: String, rackId: String,
      memberEpoch: Int, clientId: String, clientHost: String,
      subscribed: Seq[String], assignment: Seq[(String, Seq[Int])])

  case class SGDescribedGroup(errorCode: Int, errorMessage: String,
      groupId: String, groupState: String, groupEpoch: Int,
      assignmentEpoch: Int, assignorName: String,
      members: Seq[SGDescribedMember])

  def encodeShareGroupDescribeRequest(correlationId: Int,
      clientId: String, groupIds: Seq[String],
      includeAuthorizedOperations: Boolean = false): Array[Byte] =
    writeRequest(ShareGroupDescribe, 0, correlationId, clientId) { w =>
      w.count(groupIds.length); groupIds.foreach(w.str)
      w.bool(includeAuthorizedOperations)
      w.tags()
    }

  /** (correlationId, groupIds, includeAuthorizedOperations). */
  def decodeShareGroupDescribeRequest(bytes: Array[Byte])
      : (Int, Seq[String], Boolean) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, ShareGroupDescribe)
    val groups = (0 until r.count()).map(_ => r.str()).toSeq
    val includeOps = r.bool()
    r.tags()
    (correlationId, groups, includeOps)
  }

  def encodeShareGroupDescribeResponse(correlationId: Int,
      groups: Seq[SGDescribedGroup],
      authorizedOperations: Int = Int.MinValue): Array[Byte] =
    writeResponse(ShareGroupDescribe, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.count(groups.length)
      groups.foreach { g =>
        w.i16(g.errorCode)
        w.str(g.errorMessage)
        w.str(g.groupId)
        w.str(g.groupState)
        w.i32(g.groupEpoch)
        w.i32(g.assignmentEpoch)
        w.str(g.assignorName)
        w.count(g.members.length)
        g.members.foreach { m =>
          w.str(m.memberId)
          w.str(m.rackId)
          w.i32(m.memberEpoch)
          w.str(m.clientId)
          w.str(m.clientHost)
          w.count(m.subscribed.length); m.subscribed.foreach(w.str)
          // assignment struct — NOT nullable here, and its entries
          // carry BOTH topic_id and topic_name (the key-69 describe
          // shape, unlike the heartbeat's id-only entries)
          w.count(m.assignment.length)
          m.assignment.foreach { case (name, parts) =>
            w.uuid(idOfName(name))
            w.str(name)
            w.count(parts.length); parts.foreach(w.i32)
            w.tags()
          }
          w.tags()
          w.tags()
        }
        w.i32(authorizedOperations)
        w.tags()
      }
      w.tags()
    }

  /** (correlationId, groups). */
  def decodeShareGroupDescribeResponse(bytes: Array[Byte],
      topicIdResolver: Array[Byte] => Option[String] = _ => None)
      : (Int, Seq[SGDescribedGroup]) = {
    val (correlationId, r) = readResponse(ShareGroupDescribe, 0, bytes)
    r.i32() // throttle_time_ms
    val groups = (0 until r.count()).map { _ =>
      val err = r.i16()
      val errMsg = r.str()
      val gid = r.str()
      val state = r.str()
      val gEpoch = r.i32()
      val aEpoch = r.i32()
      val assignor = r.str()
      val members = (0 until r.count()).map { _ =>
        val mid = r.str()
        val rack = r.str()
        val mEpoch = r.i32()
        val cid = r.str()
        val chost = r.str()
        val subs = (0 until r.count()).map(_ => r.str()).toSeq
        val asg = (0 until r.count()).map { _ =>
          val id = r.uuid()
          val name = r.str()
          val parts = (0 until r.count()).map(_ => r.i32()).toSeq
          r.tags()
          (if (name != null && name.nonEmpty) name
           else topicIdResolver(id).getOrElse(unknownIdName(id)), parts)
        }.toSeq
        r.tags()
        r.tags()
        SGDescribedMember(mid, rack, mEpoch, cid, chost, subs, asg)
      }.toSeq
      r.i32() // authorized_operations
      r.tags()
      SGDescribedGroup(err, errMsg, gid, state, gEpoch, aEpoch, assignor,
        members)
    }.toSeq
    r.tags()
    (correlationId, groups)
  }

  // --- ShareFetch (key 78) / ShareAcknowledge (key 79) v0 — the
  // KIP-932 data path a Kafka 4.x share consumer speaks (flexible
  // from v0, topic-id keyed like Fetch v13). The state machine
  // behind them is [[graft.streaming.ShareGroup]]; these codecs are
  // the wire shape only. ---

  // v1 (AK 4.1, KIP-932 GA — hand-derived from the public spec like
  // the v0 codecs): ShareFetch gains top-level max_records +
  // batch_size and DROPS the per-partition partition_max_bytes (flow
  // control moved from bytes-per-partition to records-per-request);
  // ShareAcknowledge v1 is schema-identical to v0 (the stable-version
  // alignment bump, so a 4.1 client sees matching maxima on both
  // share RPCs).

  /** One acknowledgement batch over offsets [first, last]: either ONE
    * acknowledge type applying to the whole range, or one per offset.
    * Types (KIP-932): 0 gap, 1 accept, 2 release, 3 reject. */
  final case class ShareAckBatch(firstOffset: Long, lastOffset: Long,
      ackTypes: Seq[Int])

  final case class ShareFetchPartition(partition: Int,
      partitionMaxBytes: Int, acks: Seq[ShareAckBatch])

  final case class ShareFetchRequest(correlationId: Int, clientId: String,
      groupId: String, memberId: String, sessionEpoch: Int,
      maxWaitMs: Int, minBytes: Int, maxBytes: Int,
      topics: Seq[(String, Seq[ShareFetchPartition])],
      forgotten: Seq[(String, Seq[Int])],
      /** wire version the request arrived at (v1+ flow-controls by
        * records; v0 by partition_max_bytes) */
      version: Int = 0,
      /** v1+: cap on records acquired across the whole response */
      maxRecords: Int = Int.MaxValue,
      /** v1+: preferred per-partition acquisition batch size */
      batchSize: Int = Int.MaxValue)

  private def writeShareAckBatches(w: WR, acks: Seq[ShareAckBatch]): Unit = {
    w.count(acks.length)
    acks.foreach { b =>
      w.i64(b.firstOffset); w.i64(b.lastOffset)
      w.count(b.ackTypes.length); b.ackTypes.foreach(w.i8)
      w.tags()
    }
  }

  private def readShareAckBatches(r: RD): Seq[ShareAckBatch] =
    (0 until r.count()).map { _ =>
      val first = r.i64(); val last = r.i64()
      val types = (0 until r.count()).map(_ => r.i8()).toSeq
      r.tags()
      ShareAckBatch(first, last, types)
    }.toSeq

  def encodeShareFetchRequest(correlationId: Int, clientId: String,
      groupId: String, memberId: String, sessionEpoch: Int,
      topics: Seq[(String, Seq[ShareFetchPartition])],
      forgotten: Seq[(String, Seq[Int])] = Seq.empty,
      maxWaitMs: Int = 500, minBytes: Int = 1,
      maxBytes: Int = 64 * 1024 * 1024, version: Int = 0,
      maxRecords: Int = Int.MaxValue,
      batchSize: Int = Int.MaxValue): Array[Byte] =
    writeRequest(ShareFetch, version, correlationId, clientId) { w =>
      w.str(groupId)
      w.str(memberId)
      w.i32(sessionEpoch)
      w.i32(maxWaitMs)
      w.i32(minBytes)
      w.i32(maxBytes)
      if (version >= 1) { w.i32(maxRecords); w.i32(batchSize) }
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.uuid(topicUuid(name))
        w.count(parts.length)
        parts.foreach { p =>
          w.i32(p.partition)
          if (version == 0) w.i32(p.partitionMaxBytes)
          writeShareAckBatches(w, p.acks)
          w.tags()
        }
        w.tags()
      }
      w.count(forgotten.length)
      forgotten.foreach { case (name, parts) =>
        w.uuid(topicUuid(name))
        w.count(parts.length); parts.foreach(w.i32)
        w.tags()
      }
      w.tags()
    }

  def decodeShareFetchRequest(bytes: Array[Byte],
      topicIdResolver: Array[Byte] => Option[String] = _ => None)
      : ShareFetchRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, ShareFetch)
    val groupId = r.str()
    val memberId = r.str()
    val sessionEpoch = r.i32()
    val maxWaitMs = r.i32()
    val minBytes = r.i32()
    val maxBytes = r.i32()
    val maxRecords = if (version >= 1) r.i32() else Int.MaxValue
    val batchSize = if (version >= 1) r.i32() else Int.MaxValue
    def resolve(id: Array[Byte]): String =
      topicIdResolver(id).getOrElse(unknownIdName(id))
    val topics = (0 until r.count()).map { _ =>
      val name = resolve(r.uuid())
      val parts = (0 until r.count()).map { _ =>
        val p = r.i32()
        val pmb = if (version == 0) r.i32() else Int.MaxValue
        val acks = readShareAckBatches(r)
        r.tags()
        ShareFetchPartition(p, pmb, acks)
      }.toSeq
      r.tags()
      (name, parts)
    }.toSeq
    val forgotten = (0 until r.count()).map { _ =>
      val name = resolve(r.uuid())
      val parts = (0 until r.count()).map(_ => r.i32()).toSeq
      r.tags()
      (name, parts)
    }.toSeq
    r.tags()
    // max_records == 0 means "acquire NOTHING" (a client piggybacking
    // acknowledgements without fetching) — only negative/absent remaps
    // to unlimited; remapping 0 would hand out an unbounded
    // acquisition, burning locks and delivery counts on records the
    // client never asked for
    ShareFetchRequest(correlationId, clientId, groupId, memberId,
      sessionEpoch, maxWaitMs, minBytes, maxBytes, topics, forgotten,
      version, if (maxRecords < 0) Int.MaxValue else maxRecords,
      if (batchSize <= 0) Int.MaxValue else batchSize)
  }

  /** One acquired-records run in a ShareFetch response: offsets
    * [first, last] handed out at this delivery count. */
  final case class ShareAcquired(firstOffset: Long, lastOffset: Long,
      deliveryCount: Int)

  final case class ShareFetchPartResp(partition: Int, errorCode: Int,
      errorMessage: String, ackErrorCode: Int, ackErrorMessage: String,
      records: Seq[(Long, WireRecordV2)], acquired: Seq[ShareAcquired])

  def encodeShareFetchResponse(correlationId: Int, errorCode: Int,
      errorMessage: String,
      topics: Seq[(String, Seq[ShareFetchPartResp])],
      nodeId: Int = 0, host: String = null, port: Int = 0,
      compression: Int = CompressionNone, version: Int = 0,
      acquisitionLockTimeoutMs: Int = 0): Array[Byte] = {
    val payloads = topics.map { case (_, parts) =>
      parts.map { p =>
        if (p.records.isEmpty) null
        else encodeRecordBatchV2WithOffsets(p.records.head._2.timestampMs,
          p.records, compression)
      }
    }
    writeResponse(ShareFetch, version, correlationId, frameCapacity(payloads)) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.str(errorMessage)
      // v1 (KIP-932 GA): the group's share.record.lock.duration.ms, so
      // the client knows how long its acquisitions stay locked — sits
      // between error_message and the responses array in the public
      // ShareFetchResponse schema
      if (version >= 1) w.i32(acquisitionLockTimeoutMs)
      w.count(topics.length)
      topics.iterator.zip(payloads.iterator).foreach { case ((name, parts), ps) =>
        w.uuid(idOfName(name))
        w.count(parts.length)
        parts.iterator.zip(ps.iterator).foreach { case (p, payload) =>
          w.i32(p.partition)
          w.i16(p.errorCode)
          w.str(p.errorMessage)
          w.i16(p.ackErrorCode)
          w.str(p.ackErrorMessage)
          w.i32(nodeId); w.i32(0); w.tags() // current_leader (epoch 0)
          w.bytes(payload)
          w.count(p.acquired.length)
          p.acquired.foreach { a =>
            w.i64(a.firstOffset); w.i64(a.lastOffset); w.i16(a.deliveryCount)
            w.tags()
          }
          w.tags()
        }
        w.tags()
      }
      // node_endpoints: this broker, when the caller names it
      if (host == null) w.count(0)
      else {
        w.count(1)
        w.i32(nodeId); w.str(host); w.i32(port); w.str(null); w.tags()
      }
      w.tags()
    }
  }

  /** The v1 response's top-level acquisition_lock_timeout_ms, for
    * spec assertions — parses only the prefix (header, throttle,
    * error_code, error_message) then reads the int32. Valid ONLY on a
    * v1+ frame; a v0 frame has the responses array there. */
  def shareFetchAcquisitionLockMs(bytes: Array[Byte]): Int = {
    val (_, r) = readResponse(ShareFetch, 1, bytes)
    r.i32(); r.i16(); r.str() // throttle, error_code, error_message
    r.i32()
  }

  /** (correlationId, errorCode, errorMessage, topics). Pass the
    * request's negotiated version: v1+ responses carry an extra
    * top-level acquisition_lock_timeout_ms this decode must skip. */
  def decodeShareFetchResponse(bytes: Array[Byte],
      topicIdResolver: Array[Byte] => Option[String] = _ => None,
      version: Int = 0)
      : (Int, Int, String, Seq[(String, Seq[ShareFetchPartResp])]) = {
    val (correlationId, r) = readResponse(ShareFetch, version, bytes)
    r.i32() // throttle
    val err = r.i16()
    val errMsg = r.str()
    if (version >= 1) r.i32() // acquisition_lock_timeout_ms
    val topics = (0 until r.count()).map { _ =>
      val id = r.uuid()
      val name = topicIdResolver(id).getOrElse(unknownIdName(id))
      val parts = (0 until r.count()).map { _ =>
        val p = r.i32(); val pe = r.i16(); val pm = r.str()
        val ae = r.i16(); val am = r.str()
        r.i32(); r.i32(); r.tags() // current_leader
        val payload = r.bytes()
        val records =
          if (payload == null || payload.isEmpty) Seq.empty[(Long, WireRecordV2)]
          else decodeRecordsBlock(payload)
        val acquired = (0 until r.count()).map { _ =>
          val a = ShareAcquired(r.i64(), r.i64(), r.i16())
          r.tags()
          a
        }.toSeq
        r.tags()
        ShareFetchPartResp(p, pe, pm, ae, am, records, acquired)
      }.toSeq
      r.tags()
      (name, parts)
    }.toSeq
    // node_endpoints
    (0 until r.count()).foreach { _ =>
      r.i32(); r.str(); r.i32(); r.str(); r.tags()
    }
    r.tags()
    (correlationId, err, errMsg, topics)
  }

  final case class ShareAcknowledgeRequest(correlationId: Int,
      clientId: String, groupId: String, memberId: String,
      sessionEpoch: Int,
      topics: Seq[(String, Seq[(Int, Seq[ShareAckBatch])])])

  def encodeShareAcknowledgeRequest(correlationId: Int, clientId: String,
      groupId: String, memberId: String, sessionEpoch: Int,
      topics: Seq[(String, Seq[(Int, Seq[ShareAckBatch])])],
      version: Int = 0): Array[Byte] =
    writeRequest(ShareAcknowledge, version, correlationId, clientId) { w =>
      w.str(groupId)
      w.str(memberId)
      w.i32(sessionEpoch)
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.uuid(topicUuid(name))
        w.count(parts.length)
        parts.foreach { case (p, acks) =>
          w.i32(p)
          writeShareAckBatches(w, acks)
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  def decodeShareAcknowledgeRequest(bytes: Array[Byte],
      topicIdResolver: Array[Byte] => Option[String] = _ => None)
      : ShareAcknowledgeRequest = {
    val (RequestHeader(ackVersion, correlationId, clientId), r) =
      readRequest(bytes, ShareAcknowledge)
    val groupId = r.str()
    val memberId = r.str()
    val sessionEpoch = r.i32()
    val topics = (0 until r.count()).map { _ =>
      val id = r.uuid()
      val name = topicIdResolver(id).getOrElse(unknownIdName(id))
      val parts = (0 until r.count()).map { _ =>
        val p = r.i32()
        val acks = readShareAckBatches(r)
        r.tags()
        (p, acks)
      }.toSeq
      r.tags()
      (name, parts)
    }.toSeq
    r.tags()
    ShareAcknowledgeRequest(correlationId, clientId, groupId, memberId,
      sessionEpoch, topics)
  }

  def encodeShareAcknowledgeResponse(correlationId: Int, errorCode: Int,
      errorMessage: String,
      topics: Seq[(String, Seq[(Int, Int, String)])],
      nodeId: Int = 0, host: String = null, port: Int = 0): Array[Byte] =
    writeResponse(ShareAcknowledge, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.str(errorMessage)
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.uuid(idOfName(name))
        w.count(parts.length)
        parts.foreach { case (p, err, msg) =>
          w.i32(p)
          w.i16(err)
          w.str(msg)
          w.i32(nodeId); w.i32(0); w.tags() // current_leader (epoch 0)
          w.tags()
        }
        w.tags()
      }
      if (host == null) w.count(0)
      else {
        w.count(1)
        w.i32(nodeId); w.str(host); w.i32(port); w.str(null); w.tags()
      }
      w.tags()
    }

  /** (correlationId, errorCode, errorMessage,
    * (topic, (partition, errorCode, errorMessage)*)*). */
  def decodeShareAcknowledgeResponse(bytes: Array[Byte],
      topicIdResolver: Array[Byte] => Option[String] = _ => None)
      : (Int, Int, String, Seq[(String, Seq[(Int, Int, String)])]) = {
    val (correlationId, r) = readResponse(ShareAcknowledge, 0, bytes)
    r.i32() // throttle
    val err = r.i16()
    val errMsg = r.str()
    val topics = (0 until r.count()).map { _ =>
      val id = r.uuid()
      val name = topicIdResolver(id).getOrElse(unknownIdName(id))
      val parts = (0 until r.count()).map { _ =>
        val p = r.i32(); val pe = r.i16(); val pm = r.str()
        r.i32(); r.i32(); r.tags() // current_leader
        r.tags()
        (p, pe, pm)
      }.toSeq
      r.tags()
      (name, parts)
    }.toSeq
    (0 until r.count()).foreach { _ =>
      r.i32(); r.str(); r.i32(); r.str(); r.tags()
    }
    r.tags()
    (correlationId, err, errMsg, topics)
  }

  // --- Client quotas (DescribeClientQuotas 48, AlterClientQuotas 49;
  // v0 non-flexible, v1 flexible — KIP-546) — what `kafka-configs
  // --entity-type clients|users` drives for producer_byte_rate /
  // consumer_byte_rate. Entities are arrays of (entity_type,
  // entity_name) pairs with null names meaning the DEFAULT sentinel;
  // the broker's quota model lives in Quotas.scala. ---

  private def writeQuotaEntity(w: WR, e: Quotas.Entity): Unit = {
    val parts = Seq(
      e.user.map(n => (Quotas.EntityUser, n.orNull)),
      e.clientId.map(n => (Quotas.EntityClientId, n.orNull))).flatten
    w.count(parts.length)
    parts.foreach { case (t, n) => w.str(t); w.str(n); w.tags() }
  }

  private def readQuotaEntity(r: RD): Quotas.Entity = {
    var user: Option[Option[String]] = None
    var client: Option[Option[String]] = None
    (0 until r.count()).foreach { _ =>
      val t = r.str(); val n = r.str(); r.tags()
      t match {
        case Quotas.EntityUser => user = Some(Option(n))
        case Quotas.EntityClientId => client = Some(Option(n))
        case _ => () // unknown entity types are carried by neither —
                     // the handler answers them per entry
      }
    }
    Quotas.Entity(user, client)
  }

  /** DescribeClientQuotas request: components (entity_type,
    * match_type 0 exact/1 default/2 any, match name), strict. */
  def encodeDescribeClientQuotasRequest(version: Int, correlationId: Int,
      clientId: String, components: Seq[(String, Int, String)],
      strict: Boolean): Array[Byte] =
    writeRequest(DescribeClientQuotas, version, correlationId, clientId) { w =>
      w.count(components.length)
      components.foreach { case (t, mt, n) =>
        w.str(t); w.i8(mt); w.str(n); w.tags()
      }
      w.bool(strict)
      w.tags()
    }

  /** (version, correlationId, components, strict). */
  def decodeDescribeClientQuotasRequest(bytes: Array[Byte])
      : (Int, Int, Seq[(String, Int, String)], Boolean) = {
    val (RequestHeader(version, correlationId, _), r) =
      readRequest(bytes, DescribeClientQuotas)
    val components = (0 until r.count()).map { _ =>
      val c = (r.str(), r.i8(), r.str()); r.tags(); c
    }
    val strict = r.bool()
    r.tags()
    (version, correlationId, components.toSeq, strict)
  }

  /** DescribeClientQuotas response: error, message, entries of
    * (entity, (key, value) doubles). */
  def encodeDescribeClientQuotasResponse(version: Int, correlationId: Int,
      errorCode: Int, errorMessage: String,
      entries: Seq[(Quotas.Entity, Seq[(String, Double)])]): Array[Byte] =
    writeResponse(DescribeClientQuotas, version, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.str(errorMessage)
      w.count(entries.length)
      entries.foreach { case (e, values) =>
        writeQuotaEntity(w, e)
        w.count(values.length)
        values.foreach { case (k, v) => w.str(k); w.f64(v); w.tags() }
        w.tags()
      }
      w.tags()
    }

  /** (correlationId, errorCode, errorMessage, entries). */
  def decodeDescribeClientQuotasResponse(bytes: Array[Byte], version: Int)
      : (Int, Int, String, Seq[(Quotas.Entity, Seq[(String, Double)])]) = {
    val (correlationId, r) = readResponse(DescribeClientQuotas, version, bytes)
    r.i32()
    val err = r.i16()
    val msg = r.str()
    val entries = (0 until r.count()).map { _ =>
      val e = readQuotaEntity(r)
      val values = (0 until r.count()).map { _ =>
        val kv = (r.str(), r.f64()); r.tags(); kv
      }
      r.tags()
      (e, values.toSeq)
    }
    r.tags()
    (correlationId, err, msg, entries.toSeq)
  }

  /** AlterClientQuotas request: entries of (entity, ops (key, value,
    * remove)), validate_only. */
  def encodeAlterClientQuotasRequest(version: Int, correlationId: Int,
      clientId: String,
      entries: Seq[(Quotas.Entity, Seq[(String, Double, Boolean)])],
      validateOnly: Boolean): Array[Byte] =
    writeRequest(AlterClientQuotas, version, correlationId, clientId) { w =>
      w.count(entries.length)
      entries.foreach { case (e, ops) =>
        writeQuotaEntity(w, e)
        w.count(ops.length)
        ops.foreach { case (k, v, rm) => w.str(k); w.f64(v); w.bool(rm); w.tags() }
        w.tags()
      }
      w.bool(validateOnly)
      w.tags()
    }

  /** (version, correlationId, entries, validateOnly). */
  def decodeAlterClientQuotasRequest(bytes: Array[Byte])
      : (Int, Int, Seq[(Quotas.Entity, Seq[(String, Double, Boolean)])], Boolean) = {
    val (RequestHeader(version, correlationId, _), r) =
      readRequest(bytes, AlterClientQuotas)
    val entries = (0 until r.count()).map { _ =>
      val e = readQuotaEntity(r)
      val ops = (0 until r.count()).map { _ =>
        val op = (r.str(), r.f64(), r.bool()); r.tags(); op
      }
      r.tags()
      (e, ops.toSeq)
    }
    val validateOnly = r.bool()
    r.tags()
    (version, correlationId, entries.toSeq, validateOnly)
  }

  /** AlterClientQuotas response: per-entry (error, message, entity),
    * request order. */
  def encodeAlterClientQuotasResponse(version: Int, correlationId: Int,
      results: Seq[(Int, String, Quotas.Entity)]): Array[Byte] =
    writeResponse(AlterClientQuotas, version, correlationId) { w =>
      w.i32(0)
      w.count(results.length)
      results.foreach { case (err, msg, e) =>
        w.i16(err); w.str(msg); writeQuotaEntity(w, e); w.tags()
      }
      w.tags()
    }

  /** (correlationId, (error, message, entity)*). */
  def decodeAlterClientQuotasResponse(bytes: Array[Byte], version: Int)
      : (Int, Seq[(Int, String, Quotas.Entity)]) = {
    val (correlationId, r) = readResponse(AlterClientQuotas, version, bytes)
    r.i32()
    val results = (0 until r.count()).map { _ =>
      val err = r.i16(); val msg = r.str(); val e = readQuotaEntity(r)
      r.tags()
      (err, msg, e)
    }
    r.tags()
    (correlationId, results.toSeq)
  }

  // --- Delegation tokens (CreateDelegationToken 38, RenewDelegationToken
  // 39, ExpireDelegationToken 40, DescribeDelegationToken 41; KIP-48;
  // flexible v2+) — what kafka-delegation-tokens.sh sends. Principals
  // cross the wire as (type, name) pairs; graft composes/splits the
  // "Type:name" principal string at the codec edge. The token model
  // lives in DelegationTokens.scala. ---

  private def splitPrincipal(p: String): (String, String) = {
    val i = if (p == null) -1 else p.indexOf(':')
    if (i < 0) ("User", if (p == null) "" else p)
    else (p.substring(0, i), p.substring(i + 1))
  }
  private def joinPrincipal(tpe: String, name: String): String =
    s"$tpe:$name"

  /** CreateDelegationToken request: (v3+) owner principal override,
    * renewers, max_lifetime_ms. A null `owner` encodes the v3 null
    * pair (mint for self). */
  def encodeCreateDelegationTokenRequest(version: Int, correlationId: Int,
      clientId: String, owner: String, renewers: Seq[String],
      maxLifetimeMs: Long): Array[Byte] =
    writeRequest(CreateDelegationToken, version, correlationId, clientId) { w =>
      if (version >= 3) {
        if (owner == null) { w.str(null); w.str(null) }
        else { val (t, n) = splitPrincipal(owner); w.str(t); w.str(n) }
      }
      w.count(renewers.length)
      renewers.foreach { r =>
        val (t, n) = splitPrincipal(r)
        w.str(t); w.str(n); w.tags()
      }
      w.i64(maxLifetimeMs)
      w.tags()
    }

  /** (version, correlationId, ownerOrNull, renewers, maxLifetimeMs). */
  def decodeCreateDelegationTokenRequest(bytes: Array[Byte])
      : (Int, Int, String, Seq[String], Long) = {
    val (RequestHeader(version, correlationId, _), r) =
      readRequest(bytes, CreateDelegationToken)
    val owner =
      if (version < 3) null
      else {
        val t = r.str(); val n = r.str()
        if (t == null || n == null) null else joinPrincipal(t, n)
      }
    val renewers = (0 until r.count()).map { _ =>
      val p = joinPrincipal(r.str(), r.str()); r.tags(); p
    }
    val maxLifetimeMs = r.i64()
    r.tags()
    (version, correlationId, owner, renewers.toSeq, maxLifetimeMs)
  }

  /** CreateDelegationToken response. */
  def encodeCreateDelegationTokenResponse(version: Int, correlationId: Int,
      errorCode: Int, owner: String, requester: String, issueTs: Long,
      expiryTs: Long, maxTs: Long, tokenId: String,
      hmac: Array[Byte]): Array[Byte] =
    writeResponse(CreateDelegationToken, version, correlationId) { w =>
      w.i16(errorCode)
      val (ot, on) = splitPrincipal(if (owner == null) "" else owner)
      w.str(ot); w.str(on)
      if (version >= 3) {
        val (rt, rn) = splitPrincipal(if (requester == null) "" else requester)
        w.str(rt); w.str(rn)
      }
      w.i64(issueTs); w.i64(expiryTs); w.i64(maxTs)
      w.str(if (tokenId == null) "" else tokenId)
      w.bytes(if (hmac == null) Array.emptyByteArray else hmac)
      w.i32(0) // throttle_time_ms (trailing in the token APIs)
      w.tags()
    }

  /** (correlationId, errorCode, owner, issueTs, expiryTs, maxTs,
    * tokenId, hmac). */
  def decodeCreateDelegationTokenResponse(bytes: Array[Byte], version: Int)
      : (Int, Int, String, Long, Long, Long, String, Array[Byte]) = {
    val (correlationId, r) = readResponse(CreateDelegationToken, version, bytes)
    val err = r.i16()
    val owner = joinPrincipal(r.str(), r.str())
    if (version >= 3) { r.str(); r.str() } // requester
    val issue = r.i64(); val expiry = r.i64(); val max = r.i64()
    val tokenId = r.str()
    val hmac = r.bytes()
    r.i32() // throttle
    r.tags()
    (correlationId, err, owner, issue, expiry, max, tokenId, hmac)
  }

  /** Renew/Expire requests share one shape: hmac + a period. */
  private def encodeTokenPeriodRequest(api: Api, version: Int,
      correlationId: Int, clientId: String, hmac: Array[Byte],
      periodMs: Long): Array[Byte] =
    writeRequest(api, version, correlationId, clientId) { w =>
      w.bytes(hmac)
      w.i64(periodMs)
      w.tags()
    }

  private def decodeTokenPeriodRequest(bytes: Array[Byte],
      api: Api): (Int, Int, Array[Byte], Long) = {
    val (RequestHeader(version, correlationId, _), r) = readRequest(bytes, api)
    val hmac = r.bytes()
    val period = r.i64()
    r.tags()
    (version, correlationId, hmac, period)
  }

  def encodeRenewDelegationTokenRequest(version: Int, correlationId: Int,
      clientId: String, hmac: Array[Byte], renewPeriodMs: Long): Array[Byte] =
    encodeTokenPeriodRequest(RenewDelegationToken, version, correlationId,
      clientId, hmac, renewPeriodMs)

  def decodeRenewDelegationTokenRequest(bytes: Array[Byte])
      : (Int, Int, Array[Byte], Long) =
    decodeTokenPeriodRequest(bytes, RenewDelegationToken)

  def encodeExpireDelegationTokenRequest(version: Int, correlationId: Int,
      clientId: String, hmac: Array[Byte],
      expiryTimePeriodMs: Long): Array[Byte] =
    encodeTokenPeriodRequest(ExpireDelegationToken, version, correlationId,
      clientId, hmac, expiryTimePeriodMs)

  def decodeExpireDelegationTokenRequest(bytes: Array[Byte])
      : (Int, Int, Array[Byte], Long) =
    decodeTokenPeriodRequest(bytes, ExpireDelegationToken)

  /** Renew/Expire responses: error, expiry_timestamp, throttle. */
  def encodeTokenExpiryResponse(version: Int, correlationId: Int,
      errorCode: Int, expiryTs: Long,
      api: Api = RenewDelegationToken): Array[Byte] =
    writeResponse(api, version, correlationId) { w =>
      w.i16(errorCode)
      w.i64(expiryTs)
      w.i32(0)
      w.tags()
    }

  /** (correlationId, errorCode, expiryTs). */
  def decodeTokenExpiryResponse(bytes: Array[Byte], version: Int,
      api: Api = RenewDelegationToken): (Int, Int, Long) = {
    val (correlationId, r) = readResponse(api, version, bytes)
    val err = r.i16()
    val expiry = r.i64()
    r.i32()
    r.tags()
    (correlationId, err, expiry)
  }

  /** DescribeDelegationToken request: owners (null = all). */
  def encodeDescribeDelegationTokenRequest(version: Int, correlationId: Int,
      clientId: String, owners: Option[Seq[String]]): Array[Byte] =
    writeRequest(DescribeDelegationToken, version, correlationId, clientId) { w =>
      owners match {
        case None => w.count(-1)
        case Some(os) =>
          w.count(os.length)
          os.foreach { o =>
            val (t, n) = splitPrincipal(o)
            w.str(t); w.str(n); w.tags()
          }
      }
      w.tags()
    }

  /** (version, correlationId, owners). */
  def decodeDescribeDelegationTokenRequest(bytes: Array[Byte])
      : (Int, Int, Option[Seq[String]]) = {
    val (RequestHeader(version, correlationId, _), r) =
      readRequest(bytes, DescribeDelegationToken)
    val n = r.count()
    val owners =
      if (n < 0) None
      else Some((0 until n).map { _ =>
        val p = joinPrincipal(r.str(), r.str()); r.tags(); p
      }.toSeq)
    r.tags()
    (version, correlationId, owners)
  }

  /** One described token: (owner, requester, issue, expiry, max,
    * tokenId, hmac, renewers). */
  case class DescribedToken(owner: String, requester: String, issueTs: Long,
      expiryTs: Long, maxTs: Long, tokenId: String, hmac: Array[Byte],
      renewers: Seq[String])

  def encodeDescribeDelegationTokenResponse(version: Int, correlationId: Int,
      errorCode: Int, tokens: Seq[DescribedToken]): Array[Byte] =
    writeResponse(DescribeDelegationToken, version, correlationId) { w =>
      w.i16(errorCode)
      w.count(tokens.length)
      tokens.foreach { t =>
        val (ot, on) = splitPrincipal(t.owner)
        w.str(ot); w.str(on)
        if (version >= 3) {
          val (rt, rn) = splitPrincipal(t.requester)
          w.str(rt); w.str(rn)
        }
        w.i64(t.issueTs); w.i64(t.expiryTs); w.i64(t.maxTs)
        w.str(t.tokenId)
        w.bytes(t.hmac)
        w.count(t.renewers.length)
        t.renewers.foreach { rr =>
          val (rt, rn) = splitPrincipal(rr)
          w.str(rt); w.str(rn); w.tags()
        }
        w.tags()
      }
      w.i32(0)
      w.tags()
    }

  /** (correlationId, errorCode, tokens). */
  def decodeDescribeDelegationTokenResponse(bytes: Array[Byte], version: Int)
      : (Int, Int, Seq[DescribedToken]) = {
    val (correlationId, r) = readResponse(DescribeDelegationToken, version, bytes)
    val err = r.i16()
    val tokens = (0 until r.count()).map { _ =>
      val owner = joinPrincipal(r.str(), r.str())
      val requester =
        if (version >= 3) joinPrincipal(r.str(), r.str()) else null
      val issue = r.i64(); val expiry = r.i64(); val max = r.i64()
      val tokenId = r.str()
      val hmac = r.bytes()
      val renewers = (0 until r.count()).map { _ =>
        val p = joinPrincipal(r.str(), r.str()); r.tags(); p
      }
      r.tags()
      DescribedToken(owner, requester, issue, expiry, max, tokenId, hmac,
        renewers.toSeq)
    }
    r.i32()
    r.tags()
    (correlationId, err, tokens.toSeq)
  }

  // -- DescribeQuorum (key 55) v0–v1, KIP-595/KIP-642: what
  // `kafka-metadata-quorum.sh describe` asks the controller. Flexible
  // at every version; v1 adds the per-replica fetch/caught-up
  // timestamps. --

  /** The KRaft metadata log's singleton coordinate. */
  val ClusterMetadataTopic = "__cluster_metadata"

  def encodeDescribeQuorumRequest(version: Int, correlationId: Int,
      clientId: String,
      topics: Seq[(String, Seq[Int])] = Seq((ClusterMetadataTopic, Seq(0))))
      : Array[Byte] =
    writeRequest(DescribeQuorum, version, correlationId, clientId) { w =>
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { p => w.i32(p); w.tags() }
        w.tags()
      }
      w.tags()
    }

  def decodeDescribeQuorumRequest(bytes: Array[Byte])
      : (Int, Int, Seq[(String, Seq[Int])]) = {
    val (RequestHeader(version, correlationId, _), r) =
      readRequest(bytes, DescribeQuorum)
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val p = r.i32(); r.tags(); p
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    (version, correlationId, topics.toSeq)
  }

  /** One voter/observer row: (replicaId, logEndOffset,
    * lastFetchTimestamp, lastCaughtUpTimestamp) — the timestamps ride
    * only at v1+. */
  case class QuorumReplica(replicaId: Int, logEndOffset: Long,
      lastFetchTimestamp: Long = -1L, lastCaughtUpTimestamp: Long = -1L)

  /** Partitions: (partitionIndex, errorCode, leaderId, leaderEpoch,
    * highWatermark, voters, observers). */
  def encodeDescribeQuorumResponse(version: Int, correlationId: Int,
      errorCode: Int,
      topics: Seq[(String, Seq[(Int, Int, Int, Int, Long,
        Seq[QuorumReplica], Seq[QuorumReplica])])]): Array[Byte] =
    writeResponse(DescribeQuorum, version, correlationId) { w =>
      w.i16(errorCode)
      def writeReplicas(rs: Seq[QuorumReplica]): Unit = {
        w.count(rs.length)
        rs.foreach { rep =>
          w.i32(rep.replicaId)
          w.i64(rep.logEndOffset)
          if (version >= 1) {
            w.i64(rep.lastFetchTimestamp)
            w.i64(rep.lastCaughtUpTimestamp)
          }
          w.tags()
        }
      }
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, err, leaderId, leaderEpoch, hw, voters, obs) =>
          w.i32(p)
          w.i16(err)
          w.i32(leaderId)
          w.i32(leaderEpoch)
          w.i64(hw)
          writeReplicas(voters)
          writeReplicas(obs)
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  def decodeDescribeQuorumResponse(version: Int, bytes: Array[Byte])
      : (Int, Int, Seq[(String, Seq[(Int, Int, Int, Int, Long,
        Seq[QuorumReplica], Seq[QuorumReplica])])]) = {
    val (correlationId, r) = readResponse(DescribeQuorum, version, bytes)
    val err = r.i16()
    def readReplicas(): Seq[QuorumReplica] =
      (0 until r.count()).map { _ =>
        val id = r.i32()
        val leo = r.i64()
        val (lf, lc) = if (version >= 1) (r.i64(), r.i64()) else (-1L, -1L)
        r.tags()
        QuorumReplica(id, leo, lf, lc)
      }.toSeq
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val row = (r.i32(), r.i16(), r.i32(), r.i32(), r.i64(),
          readReplicas(), readReplicas())
        r.tags()
        row
      }
      r.tags()
      (name, parts.toSeq)
    }
    r.tags()
    (correlationId, err, topics.toSeq)
  }

  // -- UpdateFeatures (key 57) v0–v1, KIP-584: `kafka-features.sh
  // upgrade|downgrade|disable`. Flexible at every version; v0 carries
  // allow_downgrade per update, v1 replaces it with upgrade_type and
  // adds validate_only. --

  /** Updates: (feature, maxVersionLevel, upgradeType) — v0's
    * allow_downgrade=true arrives as [[Features.SafeDowngrade]]. */
  case class UpdateFeaturesRequest(version: Int, correlationId: Int,
      clientId: String, timeoutMs: Int,
      updates: Seq[(String, Int, Int)], validateOnly: Boolean)

  def encodeUpdateFeaturesRequest(version: Int, correlationId: Int,
      clientId: String, timeoutMs: Int,
      updates: Seq[(String, Int, Int)],
      validateOnly: Boolean = false): Array[Byte] = {
    require(version >= 1 || !validateOnly,
      "UpdateFeatures v0 has no validate_only field")
    writeRequest(UpdateFeatures, version, correlationId, clientId) { w =>
      w.i32(timeoutMs)
      w.count(updates.length)
      updates.foreach { case (feature, level, upgradeType) =>
        w.str(feature)
        w.i16(level)
        if (version == 0) w.bool(upgradeType != Features.Upgrade)
        else w.i8(upgradeType)
        w.tags()
      }
      if (version >= 1) w.bool(validateOnly)
      w.tags()
    }
  }

  def decodeUpdateFeaturesRequest(bytes: Array[Byte]): UpdateFeaturesRequest = {
    val (RequestHeader(version, correlationId, clientId), r) =
      readRequest(bytes, UpdateFeatures)
    val timeoutMs = r.i32()
    val updates = (0 until r.count()).map { _ =>
      val feature = r.str()
      val level = r.i16()
      val upgradeType =
        if (version == 0) { if (r.bool()) Features.SafeDowngrade
          else Features.Upgrade }
        else r.i8()
      r.tags()
      (feature, level, upgradeType)
    }
    val validateOnly = if (version >= 1) r.bool() else false
    r.tags()
    UpdateFeaturesRequest(version, correlationId, clientId, timeoutMs,
      updates.toSeq, validateOnly)
  }

  /** results: (feature, errorCode, errorMessage|null). */
  def encodeUpdateFeaturesResponse(version: Int, correlationId: Int,
      errorCode: Int, errorMessage: String,
      results: Seq[(String, Int, String)]): Array[Byte] =
    writeResponse(UpdateFeatures, version, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.str(errorMessage)
      w.count(results.length)
      results.foreach { case (feature, err, msg) =>
        w.str(feature); w.i16(err); w.str(msg); w.tags()
      }
      w.tags()
    }

  def decodeUpdateFeaturesResponse(bytes: Array[Byte])
      : (Int, Int, String, Seq[(String, Int, String)]) = {
    val (correlationId, r) = readResponse(UpdateFeatures, 0, bytes)
    r.i32() // throttle
    val err = r.i16()
    val msg = r.str()
    val results = (0 until r.count()).map { _ =>
      val row = (r.str(), r.i16(), r.str())
      r.tags()
      row
    }
    r.tags()
    (correlationId, err, msg, results.toSeq)
  }

  // -- Share-group offset admin (KIP-932, AK 4.0/4.1): the
  // `kafka-share-groups.sh --describe --offsets / --reset-offsets /
  // --delete-offsets` surface. DescribeShareGroupOffsets key 90 /
  // AlterShareGroupOffsets key 91 / DeleteShareGroupOffsets key 92,
  // all v0, flexible from v0, schemas hand-derived from the public
  // protocol spec (no client library or schema JSON exists in this
  // container — same derivation discipline as ShareFetch's). Topics
  // travel by NAME in requests (the admin names what it wants) and
  // by name + topic_id in responses, mirroring the share data path's
  // id discipline. --

  /** Request: per group, the topics to describe — `topics = null`
    * asks for EVERY topic the group has share state on; within a
    * topic, `partitions = null` asks for every partition. */
  def encodeDescribeShareGroupOffsetsRequest(correlationId: Int,
      clientId: String,
      groups: Seq[(String, Option[Seq[(String, Option[Seq[Int]])]])])
      : Array[Byte] =
    writeRequest(DescribeShareGroupOffsets, 0, correlationId, clientId) { w =>
      w.count(groups.length)
      groups.foreach { case (group, topicsOpt) =>
        w.str(group)
        topicsOpt match {
          case None => w.count(-1)
          case Some(topics) =>
            w.count(topics.length)
            topics.foreach { case (name, partsOpt) =>
              w.str(name)
              partsOpt match {
                case None => w.count(-1)
                case Some(ps) => w.count(ps.length); ps.foreach(w.i32)
              }
              w.tags()
            }
        }
        w.tags()
      }
      w.tags()
    }

  def decodeDescribeShareGroupOffsetsRequest(bytes: Array[Byte])
      : (Int, Seq[(String, Option[Seq[(String, Option[Seq[Int]])]])]) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, DescribeShareGroupOffsets)
    val groups = (0 until r.count()).map { _ =>
      val group = r.str()
      val nt = r.count()
      val topics =
        if (nt < 0) None
        else Some((0 until nt).map { _ =>
          val name = r.str()
          val np = r.count()
          val parts =
            if (np < 0) None else Some((0 until np).map(_ => r.i32()).toSeq)
          r.tags()
          (name, parts)
        }.toSeq)
      r.tags()
      (group, topics)
    }
    r.tags()
    (correlationId, groups.toSeq)
  }

  /** One described share partition: (partition, startOffset,
    * leaderEpoch, errorCode, errorMessage). */
  case class ShareOffsetRow(partition: Int, startOffset: Long,
      leaderEpoch: Int, errorCode: Int, errorMessage: String)

  /** Groups: (groupId, groupErrorCode, groupErrorMessage, topics);
    * topics carry (name, partitions). */
  def encodeDescribeShareGroupOffsetsResponse(correlationId: Int,
      groups: Seq[(String, Int, String, Seq[(String, Seq[ShareOffsetRow])])])
      : Array[Byte] =
    writeResponse(DescribeShareGroupOffsets, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.count(groups.length)
      groups.foreach { case (group, gErr, gMsg, topics) =>
        w.str(group)
        w.i16(gErr)
        w.str(gMsg)
        w.count(topics.length)
        topics.foreach { case (name, parts) =>
          w.str(name)
          w.uuid(idOfName(name))
          w.count(parts.length)
          parts.foreach { p =>
            w.i32(p.partition)
            w.i64(p.startOffset)
            w.i32(p.leaderEpoch)
            w.i16(p.errorCode)
            w.str(p.errorMessage)
            w.tags()
          }
          w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  def decodeDescribeShareGroupOffsetsResponse(bytes: Array[Byte])
      : (Int, Seq[(String, Int, String, Seq[(String, Seq[ShareOffsetRow])])]) = {
    val (correlationId, r) = readResponse(DescribeShareGroupOffsets, 0, bytes)
    r.i32() // throttle
    val groups = (0 until r.count()).map { _ =>
      val group = r.str()
      val gErr = r.i16()
      val gMsg = r.str()
      val topics = (0 until r.count()).map { _ =>
        val name = r.str()
        r.uuid()
        val parts = (0 until r.count()).map { _ =>
          val row = ShareOffsetRow(r.i32(), r.i64(), r.i32(), r.i16(), r.str())
          r.tags()
          row
        }.toSeq
        r.tags()
        (name, parts)
      }.toSeq
      r.tags()
      (group, gErr, gMsg, topics)
    }
    r.tags()
    (correlationId, groups.toSeq)
  }

  /** Topics: (name, Seq((partition, startOffset))). */
  def encodeAlterShareGroupOffsetsRequest(correlationId: Int,
      clientId: String, groupId: String,
      topics: Seq[(String, Seq[(Int, Long)])]): Array[Byte] =
    writeRequest(AlterShareGroupOffsets, 0, correlationId, clientId) { w =>
      w.str(groupId)
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.count(parts.length)
        parts.foreach { case (p, off) => w.i32(p); w.i64(off); w.tags() }
        w.tags()
      }
      w.tags()
    }

  def decodeAlterShareGroupOffsetsRequest(bytes: Array[Byte])
      : (Int, String, Seq[(String, Seq[(Int, Long)])]) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, AlterShareGroupOffsets)
    val groupId = r.str()
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      val parts = (0 until r.count()).map { _ =>
        val row = (r.i32(), r.i64()); r.tags(); row
      }.toSeq
      r.tags()
      (name, parts)
    }
    r.tags()
    (correlationId, groupId, topics.toSeq)
  }

  /** Topics: (name, Seq((partition, errorCode, errorMessage))). */
  def encodeAlterShareGroupOffsetsResponse(correlationId: Int,
      errorCode: Int, errorMessage: String,
      topics: Seq[(String, Seq[(Int, Int, String)])]): Array[Byte] =
    writeResponse(AlterShareGroupOffsets, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.str(errorMessage)
      w.count(topics.length)
      topics.foreach { case (name, parts) =>
        w.str(name)
        w.uuid(idOfName(name))
        w.count(parts.length)
        parts.foreach { case (p, err, msg) =>
          w.i32(p); w.i16(err); w.str(msg); w.tags()
        }
        w.tags()
      }
      w.tags()
    }

  def decodeAlterShareGroupOffsetsResponse(bytes: Array[Byte])
      : (Int, Int, String, Seq[(String, Seq[(Int, Int, String)])]) = {
    val (correlationId, r) = readResponse(AlterShareGroupOffsets, 0, bytes)
    r.i32() // throttle
    val err = r.i16()
    val msg = r.str()
    val topics = (0 until r.count()).map { _ =>
      val name = r.str()
      r.uuid()
      val parts = (0 until r.count()).map { _ =>
        val row = (r.i32(), r.i16(), r.str()); r.tags(); row
      }.toSeq
      r.tags()
      (name, parts)
    }
    r.tags()
    (correlationId, err, msg, topics.toSeq)
  }

  /** Deletion is TOPIC-granular (the whole group×topic share state),
    * matching the admin tool — there is no per-partition delete. */
  def encodeDeleteShareGroupOffsetsRequest(correlationId: Int,
      clientId: String, groupId: String, topics: Seq[String]): Array[Byte] =
    writeRequest(DeleteShareGroupOffsets, 0, correlationId, clientId) { w =>
      w.str(groupId)
      w.count(topics.length)
      topics.foreach { name => w.str(name); w.tags() }
      w.tags()
    }

  def decodeDeleteShareGroupOffsetsRequest(bytes: Array[Byte])
      : (Int, String, Seq[String]) = {
    val (RequestHeader(_, correlationId, _), r) =
      readRequest(bytes, DeleteShareGroupOffsets)
    val groupId = r.str()
    val topics = (0 until r.count()).map { _ =>
      val name = r.str(); r.tags(); name
    }
    r.tags()
    (correlationId, groupId, topics.toSeq)
  }

  /** Topics: (name, errorCode, errorMessage). */
  def encodeDeleteShareGroupOffsetsResponse(correlationId: Int,
      errorCode: Int, errorMessage: String,
      topics: Seq[(String, Int, String)]): Array[Byte] =
    writeResponse(DeleteShareGroupOffsets, 0, correlationId) { w =>
      w.i32(0) // throttle_time_ms
      w.i16(errorCode)
      w.str(errorMessage)
      w.count(topics.length)
      topics.foreach { case (name, err, msg) =>
        w.str(name)
        w.uuid(idOfName(name))
        w.i16(err)
        w.str(msg)
        w.tags()
      }
      w.tags()
    }

  def decodeDeleteShareGroupOffsetsResponse(bytes: Array[Byte])
      : (Int, Int, String, Seq[(String, Int, String)]) = {
    val (correlationId, r) = readResponse(DeleteShareGroupOffsets, 0, bytes)
    r.i32() // throttle
    val err = r.i16()
    val msg = r.str()
    val topics = (0 until r.count()).map { _ =>
      val row = (r.str(), { r.uuid(); r.i16() }, r.str())
      r.tags()
      row
    }
    r.tags()
    (correlationId, err, msg, topics.toSeq)
  }
}
