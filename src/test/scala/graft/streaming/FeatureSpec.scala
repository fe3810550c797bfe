package graft.streaming

import java.net.Socket
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** KIP-584 feature versions: the ApiVersions tagged feature catalog
  * (`kafka-features.sh describe` reads exactly these tags) and the
  * UpdateFeatures (57) transition rules, including durability of an
  * administered level. */
class FeatureSpec extends AnyFunSuite {
  import KafkaWire._
  lazy val spark = TestSpark.spark

  private def exchange(sock: Socket, request: Array[Byte]): Array[Byte] =
    WireTestClient.exchange(sock, request)

  test("ApiVersions v3 feature tags round-trip; absent features emit the legacy frame") {
    val enc = encodeApiVersionsResponseV3(7, Seq((18, 0, 3)),
      supportedFeatures = Seq(("metadata.version", 1, 25), ("kraft.version", 0, 1)),
      finalizedEpoch = 4L,
      finalizedFeatures = Seq(("metadata.version", 25, 25)))
    val resp = decodeApiVersionsResponseV3(enc)
    assert(resp.supportedFeatures ===
      Seq(("metadata.version", 1, 25), ("kraft.version", 0, 1)))
    assert(resp.finalizedEpoch === 4L)
    assert(resp.finalizedFeatures === Seq(("metadata.version", 25, 25)))
    // featureless encode emits ZERO tags — byte-identical to the
    // pre-feature frame, so a tag-blind decoder sees what it always did
    val bare = encodeApiVersionsResponseV3(7, Seq((18, 0, 3)))
    assert(bare.last === 0.toByte) // empty tag buffer closes the body
    val legacy = decodeApiVersionsResponseV3(bare)
    assert(legacy.supportedFeatures.isEmpty && legacy.finalizedEpoch === -1L)
  }

  test("UpdateFeatures codec round-trips at v0 and v1") {
    // v0: allow_downgrade bool <-> upgrade type
    val v0 = decodeUpdateFeaturesRequest(encodeUpdateFeaturesRequest(0, 1,
      "cli", 30000, Seq(("metadata.version", 20, Features.SafeDowngrade),
        ("kraft.version", 1, Features.Upgrade))))
    assert(v0.updates === Seq(("metadata.version", 20, Features.SafeDowngrade),
      ("kraft.version", 1, Features.Upgrade)))
    assert(!v0.validateOnly)
    // v1: explicit upgrade_type + validate_only
    val v1 = decodeUpdateFeaturesRequest(encodeUpdateFeaturesRequest(1, 2,
      "cli", 30000, Seq(("share.version", 0, Features.UnsafeDowngrade)),
      validateOnly = true))
    assert(v1.updates === Seq(("share.version", 0, Features.UnsafeDowngrade)))
    assert(v1.validateOnly)
    val resp = decodeUpdateFeaturesResponse(encodeUpdateFeaturesResponse(1, 2,
      0, null, Seq(("share.version", 0, null), ("nope", 95, "unknown"))))
    assert(resp === ((2, 0, null, Seq(("share.version", 0, null),
      ("nope", 95, "unknown")))))
  }

  test("feature lifecycle over the wire: describe, upgrade, fence, downgrade, persist") {
    val root = Files.createTempDirectory("graft-features").toString
    val broker = new Broker(spark, root)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    def describe(corr: Int): ApiVersionsResponse =
      decodeApiVersionsResponseV3(exchange(sock,
        encodeApiVersionsRequestV3(corr, "cli", "graft-test", "1.0")))
    def update(corr: Int, updates: Seq[(String, Int, Int)],
        validateOnly: Boolean = false) =
      decodeUpdateFeaturesResponse(exchange(sock,
        encodeUpdateFeaturesRequest(1, corr, "cli", 30000, updates,
          validateOnly)))
    try {
      // bootstrap: every supported feature finalized at its max
      val boot = describe(1)
      assert(boot.supportedFeatures === Features.Supported)
      assert(boot.finalizedEpoch === 0L)
      assert(boot.finalizedFeatures.map(f => f._1 -> f._2).toMap.apply("metadata.version") === 25)
      assert(boot.finalizedFeatures.map(f => (f._1, f._2)).toMap ===
        Features.BootstrapFinalized)

      // a bare upgrade CANNOT move a level down
      val denied = update(2, Seq(("metadata.version", 20, Features.Upgrade)))
      assert(denied._4 === Seq(("metadata.version", 95,
        "downgrade from 25 to 20 needs a downgrade upgrade-type")))

      // safe downgrade lands and bumps the finalized epoch
      val down = update(3, Seq(("metadata.version", 20, Features.SafeDowngrade)))
      assert(down._4 === Seq(("metadata.version", 0, null)))
      val after = describe(4)
      assert(after.finalizedEpoch === 1L)
      assert(after.finalizedFeatures.map(f => f._1 -> f._2).toMap.apply("metadata.version") === 20)

      // validate_only reports, but does not land
      val dry = update(5, Seq(("metadata.version", 25, Features.Upgrade)),
        validateOnly = true)
      assert(dry._4 === Seq(("metadata.version", 0, null)))
      assert(describe(6).finalizedFeatures.map(f => f._1 -> f._2).toMap.apply("metadata.version") === 20)

      // one invalid member fails the whole batch (55 for the valid one)
      val batch = update(7, Seq(("metadata.version", 25, Features.Upgrade),
        ("made.up.feature", 1, Features.Upgrade)))
      assert(batch._4.map(r => r._1 -> r._2).toMap.apply("made.up.feature") === 95)
      assert(batch._4.map(r => r._1 -> r._2).toMap.apply("metadata.version") === 55)
      assert(describe(8).finalizedFeatures.map(f => f._1 -> f._2).toMap.apply("metadata.version") === 20)

      // out-of-range level answers 95
      assert(update(9, Seq(("kraft.version", 9, Features.Upgrade)))._4 ===
        Seq(("kraft.version", 95,
          "level 9 is outside the supported range 0..1")))

      // level 0 + unsafe downgrade DELETES the finalized entry
      val disable = update(10, Seq(("share.version", 0, Features.UnsafeDowngrade)))
      assert(disable._4 === Seq(("share.version", 0, null)))
      assert(!describe(11).finalizedFeatures.exists(_._1 == "share.version"))
    } finally { sock.close(); server.close() }

    // the administered levels survive a broker restart (CAS store)
    val reopened = new Broker(spark, root)
    val (epoch, finalized) = reopened.features.current
    assert(epoch === 2L) // two LANDED mutations (dry-run + failed batch don't)
    assert(finalized.toMap.apply("metadata.version") === 20)
    assert(!finalized.exists(_._1 == "share.version"))
  }

  test("two managers on one store each apply an update; the later state loads") {
    val dir = Files.createTempDirectory("graft-features-rival").resolve("_features")
    val a = new Features.Manager(dir)
    val b = new Features.Manager(dir)
    assert(a.update(Seq(("metadata.version", 20, Features.SafeDowngrade)),
      validateOnly = false) === Seq(("metadata.version", 0, null)))
    // b still holds epoch 0, so v1 is taken: it skips past a's version
    assert(b.update(Seq(("kraft.version", 0, Features.UnsafeDowngrade)),
      validateOnly = false) === Seq(("kraft.version", 0, null)))
    assert(a.current._1 === 1L)
    assert(b.current._1 === 2L)
    assert(!b.current._2.exists(_._1 == "kraft.version"))
    assert(new Features.Manager(dir).current === b.current)
  }

  test("DescribeQuorum codec round-trips at v0 and v1") {
    for (v <- 0 to DescribeQuorum.maxVersion) {
      val (reqV, _, topics) = decodeDescribeQuorumRequest(
        encodeDescribeQuorumRequest(v, 1, "cli"))
      assert(reqV === v)
      assert(topics === Seq((ClusterMetadataTopic, Seq(0))))
      val voters = Seq(QuorumReplica(0, 9L, 111L, 222L))
      val resp = decodeDescribeQuorumResponse(v,
        encodeDescribeQuorumResponse(v, 1, 0,
          Seq((ClusterMetadataTopic, Seq((0, 0, 0, 1, 9L, voters,
            Seq.empty[QuorumReplica]))))))
      val (_, err, ts) = resp
      assert(err === 0)
      val row = ts.head._2.head
      assert((row._1, row._2, row._3, row._4, row._5) === ((0, 0, 0, 1, 9L)))
      val got = row._6.head
      assert(got.replicaId === 0 && got.logEndOffset === 9L)
      // the timestamps only ride at v1
      if (v >= 1) assert(got.lastFetchTimestamp === 111L &&
        got.lastCaughtUpTimestamp === 222L)
      else assert(got.lastFetchTimestamp === -1L)
    }
  }

  test("DescribeQuorum over the wire: voter 0 leads; other logs answer 3") {
    val root = Files.createTempDirectory("graft-quorum").toString
    val broker = new Broker(spark, root)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      // land one feature mutation so the metadata sequence is nonzero
      decodeUpdateFeaturesResponse(exchange(sock,
        encodeUpdateFeaturesRequest(1, 1, "cli", 30000,
          Seq(("metadata.version", 24, Features.SafeDowngrade)))))
      val (_, err, topics) = decodeDescribeQuorumResponse(1, exchange(sock,
        encodeDescribeQuorumRequest(1, 2, "cli")))
      assert(err === 0)
      val (name, parts) = topics.head
      assert(name === ClusterMetadataTopic)
      val (p, perr, leaderId, leaderEpoch, hw, voters, observers) = parts.head
      assert((p, perr, leaderId, leaderEpoch) === ((0, 0, 0, 1)))
      assert(hw === 1L) // the landed feature mutation
      assert(voters.map(v => (v.replicaId, v.logEndOffset)) === Seq((0, 1L)))
      assert(voters.head.lastFetchTimestamp > 0)
      assert(observers.isEmpty)
      // a non-metadata log answers UNKNOWN_TOPIC_OR_PARTITION per
      // partition, connection intact
      val (_, err2, other) = decodeDescribeQuorumResponse(1, exchange(sock,
        encodeDescribeQuorumRequest(1, 3, "cli", Seq(("events", Seq(0))))))
      assert(err2 === 0)
      assert(other.head._2.head._2 === 3)
    } finally { sock.close(); server.close() }
  }

  test("UpdateFeatures sits behind cluster ALTER") {
    val root = Files.createTempDirectory("graft-features-acl").toString
    val broker = new Broker(spark, root)
    // enforcing authorizer, no grants: ANONYMOUS holds no cluster Alter
    broker.enableAuthorizer(superUsers = Set("User:admin"))
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val (_, err, msg, results) = decodeUpdateFeaturesResponse(exchange(sock,
        encodeUpdateFeaturesRequest(1, 1, "cli", 30000,
          Seq(("metadata.version", 25, Features.Upgrade)))))
      assert(err === 31 && results.isEmpty)
      assert(msg != null)
    } finally { sock.close(); server.close() }
  }
}
