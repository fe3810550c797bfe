package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The served Kafka API table, restated as literals: (name, api_key,
  * max version, first flexible version). The flexible column is
  * Kafka's published `flexibleVersions` (KIP-482) for each message;
  * [[Never]] is "none" (the API never goes flexible). A value above the max
  * version (DescribeLogDirs, ElectLeaders) means every version served
  * here is pre-flexible. This is an independent restatement: the codecs
  * must agree with it, not the other way round. */
class WireApiTableSpec extends AnyFunSuite {

  private val Never = Int.MaxValue

  private val Table: Seq[(String, Int, Int, Int)] = Seq(
    ("Produce", 0, 9, 9),
    ("Fetch", 1, 16, 12),
    ("ListOffsets", 2, 9, 6),
    ("Metadata", 3, 12, 9),
    ("OffsetCommit", 8, 8, 8),
    ("OffsetFetch", 9, 9, 6),
    ("FindCoordinator", 10, 4, 3),
    ("JoinGroup", 11, 9, 6),
    ("Heartbeat", 12, 4, 4),
    ("LeaveGroup", 13, 5, 4),
    ("SyncGroup", 14, 5, 4),
    ("DescribeGroups", 15, 5, 5),
    ("ListGroups", 16, 5, 3),
    ("SaslHandshake", 17, 1, Never),
    ("ApiVersions", 18, 3, 3),
    ("CreateTopics", 19, 7, 5),
    ("DeleteTopics", 20, 6, 4),
    ("DeleteRecords", 21, 2, 2),
    ("InitProducerId", 22, 4, 2),
    ("OffsetForLeaderEpoch", 23, 4, 4),
    ("AddPartitionsToTxn", 24, 3, 3),
    ("AddOffsetsToTxn", 25, 3, 3),
    ("EndTxn", 26, 3, 3),
    ("TxnOffsetCommit", 28, 3, 3),
    ("DescribeAcls", 29, 3, 2),
    ("CreateAcls", 30, 3, 2),
    ("DeleteAcls", 31, 3, 2),
    ("DescribeConfigs", 32, 4, 4),
    ("AlterConfigs", 33, 2, 2),
    ("DescribeLogDirs", 35, 0, 2),
    ("SaslAuthenticate", 36, 2, 2),
    ("CreatePartitions", 37, 3, 2),
    ("CreateDelegationToken", 38, 3, 2),
    ("RenewDelegationToken", 39, 2, 2),
    ("ExpireDelegationToken", 40, 2, 2),
    ("DescribeDelegationToken", 41, 3, 2),
    ("DeleteGroups", 42, 2, 2),
    ("ElectLeaders", 43, 0, 2),
    ("IncrementalAlterConfigs", 44, 1, 1),
    ("AlterPartitionReassignments", 45, 0, 0),
    ("ListPartitionReassignments", 46, 0, 0),
    ("OffsetDelete", 47, 0, Never),
    ("DescribeClientQuotas", 48, 1, 1),
    ("AlterClientQuotas", 49, 1, 1),
    ("DescribeUserScramCredentials", 50, 0, 0),
    ("AlterUserScramCredentials", 51, 0, 0),
    ("DescribeQuorum", 55, 1, 0),
    ("UpdateFeatures", 57, 1, 0),
    ("DescribeCluster", 60, 0, 0),
    ("DescribeProducers", 61, 0, 0),
    ("DescribeTransactions", 65, 0, 0),
    ("ListTransactions", 66, 0, 0),
    ("ConsumerGroupHeartbeat", 68, 1, 0),
    ("ConsumerGroupDescribe", 69, 0, 0),
    ("GetTelemetrySubscriptions", 71, 0, 0),
    ("PushTelemetry", 72, 0, 0),
    ("ListClientMetricsResources", 74, 0, 0),
    ("DescribeTopicPartitions", 75, 0, 0),
    ("ShareGroupHeartbeat", 76, 0, 0),
    ("ShareGroupDescribe", 77, 0, 0),
    ("ShareFetch", 78, 1, 0),
    ("ShareAcknowledge", 79, 1, 0),
    ("DescribeShareGroupOffsets", 90, 0, 0),
    ("AlterShareGroupOffsets", 91, 0, 0),
    ("DeleteShareGroupOffsets", 92, 0, 0))

  test("the listener serves exactly the tabled APIs, keys and max versions") {
    assert(WireServer.Apis.map(a => (a.name, a.key, a.maxVersion)) ===
      Table.map(t => (t._1, t._2, t._3)))
  }

  test("each served API's declaration equals its table row, flexible version included") {
    assert(WireServer.Apis.map { s =>
      val a = s.api
      (a.name, a.key, a.maxVersion, a.flexibleFrom)
    } === Table)
  }
}
