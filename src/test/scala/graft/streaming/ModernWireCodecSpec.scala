package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Byte-level conformance for the modern (v1+) versions of the
  * coordinator / group / offset APIs and flexible Metadata — one
  * hand-laid golden frame per lifted API at a newly served version
  * (encoder and expectation derived independently from the public
  * protocol spec), plus encode→decode round-trips across every
  * version of each family. */
class ModernWireCodecSpec extends AnyFunSuite {
  import KafkaWire._

  private def frame(payload: Array[Byte]): Array[Byte] =
    Array[Byte](
      (payload.length >>> 24).toByte, (payload.length >>> 16).toByte,
      (payload.length >>> 8).toByte, payload.length.toByte) ++ payload

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  // --- golden request frames, laid out by hand ---

  test("Heartbeat v4 request matches the golden flexible frame") {
    val golden = frame(
      b(0, 12, 0, 4, 0, 0, 0, 1) ++ // api_key 12, version 4, correlation 1
        b(0, 1) ++ "c".getBytes ++ b(0) ++ // client_id + header tags
        b(2) ++ "g".getBytes ++ // group COMPACT_STRING
        b(0, 0, 0, 5) ++ // generation_id
        b(2) ++ "m".getBytes ++ // member_id
        b(0) ++ // group_instance_id: compact null
        b(0)) // body tags
    assert(encodeHeartbeatRequest(4, 1, "c", "g", 5, "m").toSeq === golden.toSeq)
    val req = decodeHeartbeatRequest(golden)
    assert(req === HeartbeatRequest(4, 1, "c", "g", 5, "m", null))
  }

  test("FindCoordinator v4 request matches the golden batched-keys frame") {
    val golden = frame(
      b(0, 10, 0, 4, 0, 0, 0, 2) ++
        b(0, 1) ++ "c".getBytes ++ b(0) ++
        b(0) ++ // key_type: group
        b(2) ++ // coordinator_keys: 1 entry (compact)
        b(2) ++ "g".getBytes ++
        b(0))
    assert(encodeFindCoordinatorRequest(4, 2, "c", 0, Seq("g")).toSeq === golden.toSeq)
    val req = decodeFindCoordinatorRequest(golden)
    assert(req === FindCoordinatorRequest(4, 2, "c", 0, Seq("g")))
  }

  test("SyncGroup v5 request matches the golden frame") {
    val golden = frame(
      b(0, 14, 0, 5, 0, 0, 0, 3) ++
        b(0, 1) ++ "c".getBytes ++ b(0) ++
        b(2) ++ "g".getBytes ++
        b(0, 0, 0, 1) ++ // generation_id
        b(2) ++ "m".getBytes ++
        b(0) ++ // group_instance_id null
        b(9) ++ "consumer".getBytes ++ // protocol_type
        b(6) ++ "range".getBytes ++ // protocol_name
        b(2) ++ // assignments: 1
        b(2) ++ "m".getBytes ++
        b(3, 1, 2) ++ // assignment COMPACT_BYTES [1,2]
        b(0) ++ // assignment tags
        b(0))
    assert(encodeSyncGroupRequest(5, 3, "c", "g", 1, "m", null,
      "consumer", "range", Seq(("m", Array[Byte](1, 2)))).toSeq === golden.toSeq)
    val req = decodeSyncGroupRequest(golden)
    assert(req.version === 5)
    assert(req.protocolType === "consumer")
    assert(req.protocolName === "range")
    assert(req.assignments.map(a => (a._1, a._2.toSeq)) ===
      Seq(("m", Seq[Byte](1, 2))))
  }

  test("LeaveGroup v5 request matches the golden members-array frame") {
    val golden = frame(
      b(0, 13, 0, 5, 0, 0, 0, 4) ++
        b(0, 1) ++ "c".getBytes ++ b(0) ++
        b(2) ++ "g".getBytes ++
        b(2) ++ // members: 1
        b(2) ++ "m".getBytes ++
        b(0) ++ // group_instance_id null
        b(0) ++ // reason null
        b(0) ++ // member tags
        b(0))
    assert(encodeLeaveGroupRequest(5, 4, "c", "g",
      Seq(("m", null, null))).toSeq === golden.toSeq)
    val req = decodeLeaveGroupRequest(golden)
    assert(req === LeaveGroupRequest(5, 4, "c", "g", Seq(("m", null, null))))
  }

  test("ListOffsets v7 request matches the golden frame") {
    val golden = frame(
      b(0, 2, 0, 7, 0, 0, 0, 5) ++
        b(0, 1) ++ "c".getBytes ++ b(0) ++
        b(0xff, 0xff, 0xff, 0xff) ++ // replica_id -1
        b(0) ++ // isolation_level
        b(2) ++ // topics: 1
        b(2) ++ "t".getBytes ++
        b(2) ++ // partitions: 1
        b(0, 0, 0, 0) ++ // partition 0
        b(0xff, 0xff, 0xff, 0xff) ++ // current_leader_epoch -1
        b(0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff) ++ // timestamp -1
        b(0) ++ b(0) ++ b(0))
    assert(encodeListOffsetsRequest(7, 5, "c",
      Seq(("t", Seq((0, -1L, 1))))).toSeq === golden.toSeq)
    val req = decodeListOffsetsRequest(golden)
    assert(req === ListOffsetsRequest(7, 5, "c", 0, Seq(("t", Seq((0, -1L, 1))))))
  }

  test("OffsetCommit v8 request matches the golden frame") {
    val golden = frame(
      b(0, 8, 0, 8, 0, 0, 0, 6) ++
        b(0, 1) ++ "c".getBytes ++ b(0) ++
        b(2) ++ "g".getBytes ++
        b(0, 0, 0, 1) ++ // generation_id
        b(2) ++ "m".getBytes ++
        b(0) ++ // group_instance_id null
        b(2) ++ // topics: 1
        b(2) ++ "t".getBytes ++
        b(2) ++ // partitions: 1
        b(0, 0, 0, 0) ++
        b(0, 0, 0, 0, 0, 0, 0, 42) ++ // offset 42
        b(0xff, 0xff, 0xff, 0xff) ++ // committed_leader_epoch -1
        b(1) ++ // metadata: compact ""
        b(0) ++ b(0) ++ b(0))
    assert(encodeOffsetCommitRequest(8, 6, "c", "g", 1, "m", null,
      Seq(("t", Seq((0, 42L, "") )))).toSeq === golden.toSeq)
    val req = decodeOffsetCommitRequest(golden)
    assert(req === OffsetCommitRequest(8, 6, "c", "g", 1, "m", null,
      Seq(("t", Seq((0, 42L, ""))))))
  }

  test("OffsetFetch v8 request matches the golden batched-groups frame") {
    val golden = frame(
      b(0, 9, 0, 8, 0, 0, 0, 7) ++
        b(0, 1) ++ "c".getBytes ++ b(0) ++
        b(2) ++ // groups: 1
        b(2) ++ "g".getBytes ++
        b(2) ++ // topics: 1
        b(2) ++ "t".getBytes ++
        b(2) ++ // partition_indexes: 1
        b(0, 0, 0, 0) ++
        b(0) ++ // topic tags
        b(0) ++ // group tags
        b(0) ++ // require_stable false
        b(0))
    assert(encodeOffsetFetchRequest(8, 7, "c",
      Seq(("g", Some(Seq(("t", Seq(0))))))).toSeq === golden.toSeq)
    val req = decodeOffsetFetchRequest(golden)
    assert(req === OffsetFetchRequest(8, 7, "c",
      Seq(("g", Some(Seq(("t", Seq(0)))))), false))
  }

  test("JoinGroup v9 request matches the golden frame") {
    val golden = frame(
      b(0, 11, 0, 9, 0, 0, 0, 8) ++
        b(0, 1) ++ "c".getBytes ++ b(0) ++
        b(2) ++ "g".getBytes ++
        b(0, 0, 0x17, 0x70) ++ // session_timeout 6000
        b(0, 0, 0x23, 0x28) ++ // rebalance_timeout 9000
        b(1) ++ // member_id: compact ""
        b(0) ++ // group_instance_id null
        b(9) ++ "consumer".getBytes ++
        b(2) ++ // protocols: 1
        b(6) ++ "range".getBytes ++
        b(2, 1) ++ // metadata COMPACT_BYTES [1]
        b(0) ++ // protocol tags
        b(0) ++ // reason null
        b(0))
    assert(encodeJoinGroupRequest(9, 8, "c", "g", 6000, 9000, "", null,
      "consumer", Seq(("range", Array[Byte](1)))).toSeq === golden.toSeq)
    val req = decodeJoinGroupRequest(golden)
    assert(req.version === 9)
    assert(req.rebalanceTimeoutMs === 9000)
    assert(req.memberId === "")
    assert(req.protocols.map(p => (p._1, p._2.toSeq)) ===
      Seq(("range", Seq[Byte](1))))
    assert(req.reason === null)
  }

  test("Metadata v9 request carries per-topic-entry tag buffers (golden frame)") {
    // v9 is the first FLEXIBLE Metadata version but predates topic
    // ids (v10): each topic entry is name + its own tagged-field
    // buffer. Omitting the entry tags would misalign every field
    // after the first name — a kafka-clients 2.4–2.7 consumer's
    // bootstrap request would kill the connection.
    val golden = frame(
      b(0, 3, 0, 9, 0, 0, 0, 7) ++
        b(0, 1) ++ "c".getBytes ++ b(0) ++ // client_id + header tags
        b(3) ++ // topics: compact count 2+1
        b(2) ++ "a".getBytes ++ b(0) ++ // name "a" + ENTRY tags
        b(2) ++ "b".getBytes ++ b(0) ++ // name "b" + ENTRY tags
        b(0) ++ // allow_auto_topic_creation false
        b(0) ++ // include_cluster_authorized_operations false (v8–v10)
        b(0) ++ // include_topic_authorized_operations false
        b(0)) // body tags
    assert(encodeMetadataRequest(9, 7, "c", Some(Seq("a", "b"))).toSeq
      === golden.toSeq)
    val (version, req) = decodeMetadataRequest(golden)
    assert(version === 9)
    assert(req === MetadataRequest(7, "c", Some(Seq("a", "b"))))
  }

  test("Metadata v10/v11 unknown-id answers carry an EMPTY name, not null") {
    // Name is nullable only at v12+ per the protocol; below that the
    // UNKNOWN_TOPIC_ID (100) answer must stay decodable: empty name +
    // zero UUID
    for (v <- Seq(10, 11)) {
      val resp = encodeMetadataResponse(v, 5, Seq((0, "h", 9)), "cl",
        Seq(TopicMetadata(100, null, Seq.empty)))
      val dec = decodeMetadataResponse(v, resp)
      assert(dec.topics.map(t => (t.errorCode, t.name)) === Seq((100, "")))
    }
    // ... and at v12 the null survives as null
    val resp12 = encodeMetadataResponse(12, 5, Seq((0, "h", 9)), "cl",
      Seq(TopicMetadata(100, null, Seq.empty)))
    assert(decodeMetadataResponse(12, resp12).topics.map(_.name) === Seq(null))
  }

  test("Metadata v12 request matches the golden flexible frame") {
    val golden = frame(
      b(0, 3, 0, 12, 0, 0, 0, 9) ++
        b(0, 1) ++ "c".getBytes ++ b(0) ++
        b(2) ++ // topics: 1
        new Array[Byte](16) ++ // topic_id: zero UUID (lookup by name)
        b(2) ++ "t".getBytes ++
        b(0) ++ // topic tags
        b(0) ++ // allow_auto_topic_creation false
        b(0) ++ // include_topic_authorized_operations false
        b(0))
    assert(encodeMetadataRequest(12, 9, "c", Some(Seq("t"))).toSeq === golden.toSeq)
    val (version, req) = decodeMetadataRequest(golden)
    assert(version === 12)
    assert(req === MetadataRequest(9, "c", Some(Seq("t"))))
  }

  // --- encode→decode round-trips across every version ---

  test("ListOffsets round-trips at every version") {
    for (v <- 0 to ListOffsets.maxVersion) {
      val req = decodeListOffsetsRequest(encodeListOffsetsRequest(v, 1, "cli",
        Seq(("t", Seq((0, -2L, 1), (1, 1234L, 1))))))
      assert(req.topics === Seq(("t", Seq((0, -2L, 1), (1, 1234L, 1)))), s"v$v")
      val resp = decodeListOffsetsResponse(v, encodeListOffsetsResponse(v, 1,
        Seq(("t", Seq((0, 0, -1L, 7L, Seq(7L)))))))
      if (v == 0) assert(resp._2.head._2 === Seq((0, 0, -1L, -1L, Seq(7L))), s"v$v")
      else assert(resp._2.head._2 === Seq((0, 0, -1L, 7L, Seq.empty[Long])), s"v$v")
    }
  }

  test("OffsetCommit round-trips at every version") {
    for (v <- 0 to OffsetCommit.maxVersion) {
      val req = decodeOffsetCommitRequest(encodeOffsetCommitRequest(v, 2, "cli",
        "grp", 3, "mem", "inst", Seq(("t", Seq((0, 5L, "meta"))))))
      assert(req.group === "grp", s"v$v")
      assert(req.topics === Seq(("t", Seq((0, 5L, "meta")))), s"v$v")
      if (v >= 1) { assert(req.generationId === 3); assert(req.memberId === "mem") }
      else { assert(req.generationId === -1); assert(req.memberId === "") }
      if (v >= 7) assert(req.groupInstanceId === "inst")
      val resp = decodeOffsetCommitResponse(v,
        encodeOffsetCommitResponse(v, 2, Seq(("t", Seq((0, 0), (1, 3))))))
      assert(resp === ((2, Seq(("t", Seq((0, 0), (1, 3)))))), s"v$v")
    }
  }

  test("OffsetFetch round-trips at every version, including null topics and v8 batching") {
    for (v <- 0 to OffsetFetch.maxVersion) {
      val req = decodeOffsetFetchRequest(encodeOffsetFetchRequest(v, 3, "cli",
        Seq(("grp", Some(Seq(("t", Seq(0, 1))))))))
      assert(req.groups === Seq(("grp", Some(Seq(("t", Seq(0, 1)))))), s"v$v")
      val resp = decodeOffsetFetchResponse(v, encodeOffsetFetchResponse(v, 3,
        Seq(("grp", 0, Seq(("t", Seq((0, 5L, "", 0), (1, -1L, null, 0))))))))
      assert(resp._2.head._3 ===
        Seq(("t", Seq((0, 5L, "", 0), (1, -1L, null, 0)))), s"v$v")
    }
    // null topics = "all committed" (v2+)
    for (v <- 2 to OffsetFetch.maxVersion) {
      val req = decodeOffsetFetchRequest(
        encodeOffsetFetchRequest(v, 4, "cli", Seq(("grp", None))))
      assert(req.groups === Seq(("grp", None)), s"v$v")
    }
    // v8 batches several groups
    val multi = decodeOffsetFetchRequest(encodeOffsetFetchRequest(8, 5, "cli",
      Seq(("g1", Some(Seq(("t", Seq(0))))), ("g2", None)), requireStable = true))
    assert(multi.groups === Seq(("g1", Some(Seq(("t", Seq(0))))), ("g2", None)))
    assert(multi.requireStable)
    // v9 (KIP-848) carries member_id + member_epoch per group; a
    // pre-v9 decode leaves the members column empty
    val v9 = decodeOffsetFetchRequest(encodeOffsetFetchRequest(9, 6, "cli",
      Seq(("g1", Some(Seq(("t", Seq(0))))), ("g2", None)),
      members = Seq(("m-1", 4), (null, -1))))
    assert(v9.groups === Seq(("g1", Some(Seq(("t", Seq(0))))), ("g2", None)))
    assert(v9.members === Seq(("m-1", 4), (null, -1)))
    assert(multi.members.isEmpty)
  }

  test("FindCoordinator round-trips at every version") {
    for (v <- 0 to FindCoordinator.maxVersion) {
      val req = decodeFindCoordinatorRequest(
        encodeFindCoordinatorRequest(v, 6, "cli", 0, Seq("grp")))
      assert(req.keys === Seq("grp"), s"v$v")
      val resp = decodeFindCoordinatorResponse(v, encodeFindCoordinatorResponse(
        v, 6, Seq(("grp", 0, 0, "h", 9092))))
      val (_, err, node, host, port) = resp._2.head
      assert((err, node, host, port) === ((0, 0, "h", 9092)), s"v$v")
    }
  }

  test("JoinGroup round-trips at every version") {
    for (v <- 0 to JoinGroup.maxVersion) {
      val req = decodeJoinGroupRequest(encodeJoinGroupRequest(v, 7, "cli", "grp",
        6000, 9000, "mem", "inst", "consumer",
        Seq(("range", Array[Byte](1, 2))), "why"))
      assert(req.group === "grp", s"v$v")
      assert(req.memberId === "mem", s"v$v")
      assert(req.rebalanceTimeoutMs === (if (v >= 1) 9000 else 6000), s"v$v")
      if (v >= 5) assert(req.groupInstanceId === "inst")
      if (v >= 8) assert(req.reason === "why")
      val resp = decodeJoinGroupResponse(v, encodeJoinGroupResponse(v, 7, 0, 2,
        "consumer", "range", "leader", "me",
        Seq(("leader", null, Array[Byte](9))), skipAssignment = false))
      assert(resp.generationId === 2, s"v$v")
      assert(resp.protocol === "range", s"v$v")
      assert(resp.leaderId === "leader", s"v$v")
      assert(resp.memberId === "me", s"v$v")
      assert(resp.members.map(m => (m._1, m._3.toSeq)) ===
        Seq(("leader", Seq[Byte](9))), s"v$v")
      if (v >= 7) assert(resp.protocolType === "consumer")
    }
  }

  test("SyncGroup, Heartbeat, LeaveGroup round-trip at every version") {
    for (v <- 0 to SyncGroup.maxVersion) {
      val req = decodeSyncGroupRequest(encodeSyncGroupRequest(v, 8, "cli", "grp",
        1, "mem", "inst", "consumer", "range", Seq(("mem", Array[Byte](5)))))
      assert(req.group === "grp", s"v$v")
      assert(req.assignments.map(a => (a._1, a._2.toSeq)) ===
        Seq(("mem", Seq[Byte](5))), s"v$v")
      val (_, err, _, _, assignment) = decodeSyncGroupResponse(v,
        encodeSyncGroupResponse(v, 8, 0, "consumer", "range", Array[Byte](5)))
      assert(err === 0, s"v$v")
      assert(assignment.toSeq === Seq[Byte](5), s"v$v")
    }
    for (v <- 0 to Heartbeat.maxVersion) {
      val req = decodeHeartbeatRequest(
        encodeHeartbeatRequest(v, 9, "cli", "grp", 4, "mem", "inst"))
      assert((req.group, req.generationId, req.memberId) === (("grp", 4, "mem")), s"v$v")
      assert(decodeHeartbeatResponse(v, encodeHeartbeatResponse(v, 9, 27)) ===
        ((9, 27)), s"v$v")
    }
    for (v <- 0 to LeaveGroup.maxVersion) {
      val req = decodeLeaveGroupRequest(encodeLeaveGroupRequest(v, 10, "cli",
        "grp", Seq(("mem", "inst", "done"))))
      assert(req.members.head._1 === "mem", s"v$v")
      val (_, err, members) = decodeLeaveGroupResponse(v,
        encodeLeaveGroupResponse(v, 10, 0, Seq(("mem", "inst", 0))))
      assert(err === 0, s"v$v")
      if (v >= 3) assert(members === Seq(("mem", "inst", 0)), s"v$v")
    }
  }

  test("Metadata round-trips at every version, topic_id deterministic at v10+") {
    val topics = Seq(TopicMetadata(0, "t",
      Seq(PartitionMetadata(0, 0, 0, Seq(0), Seq(0)))))
    for (v <- 0 to Metadata.maxVersion) {
      val (dv, req) = decodeMetadataRequest(
        encodeMetadataRequest(v, 11, "cli", Some(Seq("t"))))
      assert(dv === v)
      assert(req.topics === Some(Seq("t")), s"v$v")
      val (_, reqAll) = decodeMetadataRequest(
        encodeMetadataRequest(v, 12, "cli", None))._2 match {
        case r => (v, r)
      }
      assert(reqAll.topics === None, s"v$v")
      val resp = decodeMetadataResponse(v,
        encodeMetadataResponse(v, 11, Seq((0, "h", 9092)), "graft", topics))
      assert(resp.brokers === Seq((0, "h", 9092)), s"v$v")
      assert(resp.topics === topics, s"v$v")
    }
    assert(topicUuid("t").toSeq === topicUuid("t").toSeq)
    assert(topicUuid("t").toSeq !== topicUuid("u").toSeq)
    assert(topicUuid("t").exists(_ != 0), "topic_id must never be the zero UUID")
  }

  test("ListGroups round-trips at every version, filters from v4/v5") {
    for (v <- 0 to ListGroups.maxVersion) {
      val req = decodeListGroupsRequest(encodeListGroupsRequest(v, 21, "cli",
        statesFilter = Seq("Stable", "Empty"), typesFilter = Seq("consumer")))
      assert(req.version === v && req.correlationId === 21)
      assert(req.statesFilter ===
        (if (v >= 4) Seq("Stable", "Empty") else Seq.empty), s"v$v")
      assert(req.typesFilter ===
        (if (v >= 5) Seq("consumer") else Seq.empty), s"v$v")
      val groups = Seq(("g1", "consumer", "Stable", "classic"),
        ("g2", "", "Empty", "consumer"))
      val (c, err, back) = decodeListGroupsResponse(v,
        encodeListGroupsResponse(v, 22, 0, groups))
      assert(c === 22 && err === 0)
      val expect = groups.map { case (g, pt, st, ty) =>
        (g, pt, if (v >= 4) st else "", if (v >= 5) ty else "") }
      assert(back === expect, s"v$v")
    }
  }

  test("DescribeGroups round-trips at every version, instance ids and ops from v3/v4") {
    for (v <- 0 to DescribeGroups.maxVersion) {
      val req = decodeDescribeGroupsRequest(encodeDescribeGroupsRequest(v, 31,
        "cli", Seq("g1", "g2"), includeAuthorizedOperations = true))
      assert(req.version === v && req.groups === Seq("g1", "g2"))
      assert(req.includeAuthorizedOperations === (v >= 3), s"v$v")
      val g = DescribedGroupModern(
        DescribedGroup(0, "g1", "Stable", "consumer", "range",
          Seq(("m1", "cli-1", "/10.0.0.1",
            Array[Byte](1, 2), Array[Byte](3, 4)))),
        Seq("inst-1"), 328)
      val (c, back) = decodeDescribeGroupsResponse(v,
        encodeDescribeGroupsResponse(v, 32, Seq(g)))
      assert(c === 32)
      val bg = back.head
      assert(bg.group.group === "g1" && bg.group.state === "Stable")
      assert(bg.group.members.head._1 === "m1")
      assert(bg.group.members.head._4.toSeq === Seq[Byte](1, 2))
      assert(bg.group.members.head._5.toSeq === Seq[Byte](3, 4))
      assert(bg.instanceIds ===
        (if (v >= 4) Seq("inst-1") else Seq(null)), s"v$v")
      assert(bg.authorizedOperations ===
        (if (v >= 3) 328 else Int.MinValue), s"v$v")
    }
  }
}
