package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Byte-level conformance for the ApiVersions v3 exchange — the
  * reference broker's one implemented API (its test drives the same
  * exchange through a Kafka client library; here the golden bytes are
  * derived by hand from the public protocol spec, so encoder and
  * expectation are independent). */
class KafkaWireSpec extends AnyFunSuite {
  import KafkaWire._

  /** Golden request frame: correlationId=1, clientId="sarama",
    * software name "sarama" / version "1.27.0" — the same exchange the
    * reference's conformance test performs. Laid out by hand:
    * header v2 (18, 3, 1, "sarama", no tags) + v3 body (compact
    * strings, no tags). */
  private val goldenRequest: Array[Byte] = {
    val sarama = "sarama".getBytes("UTF-8")
    val ver = "1.27.0".getBytes("UTF-8")
    val payload =
      Array[Byte](0, 18, 0, 3, 0, 0, 0, 1) ++ // api_key, api_version, correlation_id
        Array[Byte](0, 6) ++ sarama ++ // client_id NULLABLE_STRING
        Array[Byte](0) ++ // header tagged fields
        Array[Byte](7) ++ sarama ++ // client_software_name COMPACT_STRING (len+1)
        Array[Byte](7) ++ ver ++ // client_software_version
        Array[Byte](0) // body tagged fields
    Array[Byte](0, 0, 0, payload.length.toByte) ++ payload
  }

  /** Golden response frame for the reference's single-key catalog
    * (ApiVersions 18, min=max=3): header v0 + error 0 + compact array
    * of one entry + throttle 0. */
  private val goldenSingleKeyResponse: Array[Byte] = {
    val payload =
      Array[Byte](0, 0, 0, 1) ++ // correlation_id (response header v0)
        Array[Byte](0, 0) ++ // error_code
        Array[Byte](2) ++ // compact array length+1 = 2 → 1 entry
        Array[Byte](0, 18, 0, 3, 0, 3, 0) ++ // key 18, min 3, max 3, tags
        Array[Byte](0, 0, 0, 0) ++ // throttle_time_ms
        Array[Byte](0) // body tagged fields
    Array[Byte](0, 0, 0, payload.length.toByte) ++ payload
  }

  test("request decode matches the hand-built golden frame") {
    val req = decodeApiVersionsRequestV3(goldenRequest)
    assert(req === ApiVersionsRequest(3, 1, "sarama", "sarama", "1.27.0"))
  }

  test("request encode emits exactly the golden bytes") {
    val bytes = encodeApiVersionsRequestV3(1, "sarama", "sarama", "1.27.0")
    assert(bytes.toSeq === goldenRequest.toSeq)
  }

  test("response encode emits exactly the golden bytes for the single-key catalog") {
    val bytes = encodeApiVersionsResponseV3(1, Seq((18, 3, 3)))
    assert(bytes.toSeq === goldenSingleKeyResponse.toSeq)
  }

  test("full exchange: request in, catalog response out, round-trips") {
    val respBytes = handleApiVersions(goldenRequest, Broker.WireApis)
    val resp = decodeApiVersionsResponseV3(respBytes)
    assert(resp.correlationId === 1, "response echoes the request correlation id")
    assert(resp.errorCode === 0)
    assert(resp.throttleTimeMs === 0)
    assert(resp.apiKeys === Broker.WireApis.map(t => (t._1, t._3, t._4)))
    // the catalog includes ApiVersions itself (the reference's one key)
    assert(resp.apiKeys.exists(_._1 === 18))
  }

  test("non-canonical input survives: null client id, tagged fields present") {
    // a frame with a null client_id and one unknown tagged field in the
    // header must still decode (tag tolerance is part of KIP-482)
    val sarama = "s".getBytes("UTF-8")
    val payload =
      Array[Byte](0, 18, 0, 3, 0, 0, 0, 42) ++
        Array[Byte](-1, -1) ++ // client_id = null (INT16 -1)
        Array[Byte](1, 0, 1, 9) ++ // one tagged field: tag 0, size 1, payload 0x09
        Array[Byte](2) ++ sarama ++
        Array[Byte](2) ++ sarama ++
        Array[Byte](0)
    val frame = Array[Byte](0, 0, 0, payload.length.toByte) ++ payload
    val req = decodeApiVersionsRequestV3(frame)
    assert(req === ApiVersionsRequest(3, 42, null, "s", "s"))
  }

  test("varint boundaries: catalogs larger than 127 entries encode correctly") {
    val keys = (0 until 200).map(i => (i, 0, 9))
    val resp = decodeApiVersionsResponseV3(encodeApiVersionsResponseV3(7, keys))
    assert(resp.apiKeys === keys)
  }

  test("ApiVersions v0-v2: the pre-KIP-511 empty-body probe round-trips") {
    for (v <- 0 to 2) {
      val resp = decodeApiVersionsResponsePreV3(v, handleApiVersions(
        encodeApiVersionsRequest(v, 11 + v, "old-cli"), Broker.WireApis))
      assert(resp.correlationId === 11 + v)
      assert(resp.errorCode === 0)
      assert(resp.apiKeys === Broker.WireApis.map(t => (t._1, t._3, t._4)))
    }
  }

  test("an unknown future version answers the KIP-511 v0-shaped error 35") {
    // hand-built v9 request: only the leading (key, version,
    // correlation) coordinates matter — the body shape is unknowable
    val payload = Array[Byte](0, 18, 0, 9, 0, 0, 0, 99, -1, -1, 7, 7)
    val frame = Array[Byte](0, 0, 0, payload.length.toByte) ++ payload
    val resp =
      decodeApiVersionsResponsePreV3(0, handleApiVersions(frame, Broker.WireApis))
    assert(resp.correlationId === 99)
    assert(resp.errorCode === 35)
    // the answer carries ApiVersions' own supported range for re-probe
    assert(resp.apiKeys === Seq((18, 0, 3)))
  }

  // --- Metadata v0 ---

  /** Golden Metadata v0 request: correlationId=7, clientId="cli",
    * topics=["t"]. Header v1 + ARRAY<STRING> body, laid out by hand. */
  private val goldenMetadataRequest: Array[Byte] = {
    val payload =
      Array[Byte](0, 3, 0, 0, 0, 0, 0, 7) ++ // api_key 3, version 0, correlation 7
        Array[Byte](0, 3) ++ "cli".getBytes("UTF-8") ++ // client_id
        Array[Byte](0, 0, 0, 1) ++ // topics array count
        Array[Byte](0, 1) ++ "t".getBytes("UTF-8") // topic name STRING
    Array[Byte](0, 0, 0, payload.length.toByte) ++ payload
  }

  /** Golden Metadata v0 response: broker (0, "h", 9092); topic "t"
    * with one partition led by broker 0, replicas = isr = [0]. */
  private val goldenMetadataResponse: Array[Byte] = {
    val payload =
      Array[Byte](0, 0, 0, 7) ++ // correlation_id (response header v0)
        Array[Byte](0, 0, 0, 1) ++ // brokers count
        Array[Byte](0, 0, 0, 0) ++ // broker node_id
        Array[Byte](0, 1) ++ "h".getBytes("UTF-8") ++ // broker host STRING
        Array[Byte](0, 0, 0x23, 0x84.toByte) ++ // broker port 9092
        Array[Byte](0, 0, 0, 1) ++ // topics count
        Array[Byte](0, 0) ++ // topic error_code
        Array[Byte](0, 1) ++ "t".getBytes("UTF-8") ++
        Array[Byte](0, 0, 0, 1) ++ // partitions count
        Array[Byte](0, 0) ++ // partition error_code
        Array[Byte](0, 0, 0, 0) ++ // partition index
        Array[Byte](0, 0, 0, 0) ++ // leader
        Array[Byte](0, 0, 0, 1, 0, 0, 0, 0) ++ // replicas [0]
        Array[Byte](0, 0, 0, 1, 0, 0, 0, 0) // isr [0]
    Array[Byte](0, 0, 0, payload.length.toByte) ++ payload
  }

  test("metadata request encode/decode match the golden frame") {
    assert(encodeMetadataRequestV0(7, "cli", Some(Seq("t")))
      .sameElements(goldenMetadataRequest))
    val req = decodeMetadataRequestV0(goldenMetadataRequest)
    assert(req === MetadataRequest(7, "cli", Some(Seq("t"))))
  }

  test("metadata response encode emits exactly the golden bytes") {
    val resp = encodeMetadataResponseV0(7, Seq((0, "h", 9092)),
      Seq(TopicMetadata(0, "t", Seq(PartitionMetadata(0, 0, 0, Seq(0), Seq(0))))))
    assert(resp.sameElements(goldenMetadataResponse),
      s"\n got: ${resp.map("%02x".format(_)).mkString(" ")}" +
        s"\nwant: ${goldenMetadataResponse.map("%02x".format(_)).mkString(" ")}")
  }

  test("metadata full exchange: known topic described, unknown topic errors, null = all") {
    val catalog = Map("alpha" -> 2, "beta" -> 1)
    val known = decodeMetadataResponseV0(handleMetadata(
      encodeMetadataRequestV0(1, "c", Some(Seq("alpha", "ghost"))), "h", 9092, catalog))
    assert(known.brokers === Seq((0, "h", 9092)))
    assert(known.topics.map(t => (t.name, t.errorCode, t.partitions.length)) ===
      Seq(("alpha", 0, 2), ("ghost", 3, 0))) // 3 = UNKNOWN_TOPIC_OR_PARTITION
    known.topics.head.partitions.zipWithIndex.foreach { case (p, i) =>
      assert(p === PartitionMetadata(0, i, 0, Seq(0), Seq(0)))
    }
    val all = decodeMetadataResponseV0(handleMetadata(
      encodeMetadataRequestV0(2, "c", None), "h", 9092, catalog))
    assert(all.topics.map(_.name) === Seq("alpha", "beta"))
  }

  // --- Flexible-boundary goldens (KIP-482) ---
  // One (api, version) pair on each side of a flexible boundary, request
  // and response, hex-captured from the codecs and pinned here so a
  // change to the header or the flexible switch shows as a byte diff.
  // Below the boundary: header v1 / response header v0, INT32 arrays,
  // INT16 strings; at it: header v2 / response header v1 (a trailing
  // tag buffer), compact arrays and strings, per-entry tag buffers.

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def assertFrame(got: Array[Byte], want: Array[Byte]): Unit =
    assert(got.sameElements(want),
      s"\n got: ${got.map("%02x".format(_)).mkString}" +
        s"\nwant: ${want.map("%02x".format(_)).mkString}")

  private val deleteRecordsTopics = Seq("t" -> Seq((0, 5L), (1, -1L)))
  private val deleteRecordsResults = Seq("t" -> Seq((0, 5L, 0), (1, 3L, 1)))
  private val goldenDeleteRecords = Map(
    1 -> (hex("0000003400150001000000070003636c6900000001000174000000020000" +
      "0000000000000000000500000001ffffffffffffffff000005dc"),
      hex("0000002f000000070000000000000001000174000000020000000000000000" +
        "0000000500000000000100000000000000030001")),
    2 -> (hex("0000003200150002000000070003636c6900020274030000000000000000" +
      "000000050000000001ffffffffffffffff0000000005dc00"),
      hex("0000002d0000000700000000000202740300000000000000000000000500" +
        "00000000000100000000000000030001000000")))

  test("DeleteRecords v1 and v2 (flexible from v2) match their golden frames") {
    for ((v, (req, resp)) <- goldenDeleteRecords) {
      assertFrame(encodeDeleteRecordsRequest(v, 7, "cli", deleteRecordsTopics, 1500), req)
      assert(decodeDeleteRecordsRequest(req) ===
        DeleteRecordsRequest(v, 7, "cli", deleteRecordsTopics, 1500))
      assertFrame(encodeDeleteRecordsResponse(v, 7, deleteRecordsResults), resp)
      assert(decodeDeleteRecordsResponse(v, resp) === ((7, deleteRecordsResults)))
    }
  }

  private val goldenCreatePartitions = Map(
    1 -> (hex("0000002100250001000000080003636c690000000100017400000003ffffffff" +
      "000003e801"),
      hex("0000001d0000000800000000000000020001740000ffff00017500250003626164")),
    2 -> (hex("0000001d00250002000000080003636c6900020274000000030000000003e80100"),
      hex("0000001a0000000800000000000302740000000002750025046261640000")))

  test("CreatePartitions v1 and v2 (flexible from v2) match their golden frames") {
    val results = Seq(("t", 0, null: String), ("u", 37, "bad"))
    for ((v, (req, resp)) <- goldenCreatePartitions) {
      assertFrame(encodeCreatePartitionsRequest(v, 8, "cli", Seq("t" -> 3), 1000,
        validateOnly = true), req)
      assert(decodeCreatePartitionsRequest(req) ===
        CreatePartitionsRequest(v, 8, "cli", Seq(("t", 3, false)), 1000, true))
      assertFrame(encodeCreatePartitionsResponse(v, 8, results), resp)
      assert(decodeCreatePartitionsResponse(v, resp) === ((8, results)))
    }
  }

  private val goldenInitProducerId = Map(
    1 -> (hex("0000001500160001000000090003636c69000274780000ea60"),
      hex("0000001400000009000000000000000000000000002a0003")),
    2 -> (hex("0000001600160002000000090003636c69000374780000ea6000"),
      hex("000000160000000900000000000000000000000000002a000300")))

  test("InitProducerId v1 and v2 (flexible from v2) match their golden frames") {
    for ((v, (req, resp)) <- goldenInitProducerId) {
      assertFrame(encodeInitProducerIdRequest(v, 9, "cli", "tx", 60000), req)
      assert(decodeInitProducerIdRequest(req) ===
        InitProducerIdRequest(v, 9, "cli", "tx", 60000, -1L, -1))
      assertFrame(encodeInitProducerIdResponse(v, 9, 0, 42L, 3), resp)
      assert(decodeInitProducerIdResponse(v, resp) === ((9, 0, 42L, 3)))
    }
  }
}
