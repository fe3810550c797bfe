package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A small watermarked stream–stream interval join over a graft topic,
  * the shape of stream_exec_join_watermarked: view i and purchase i
  * share k = i % 5 and sit 5 minutes apart, one pair per hour of event
  * time, so each view matches exactly its own purchase. */
object JoinDrainFixture {

  /** Append pairs `pairs` to `log` (2 partitions, ts-ordered). */
  def produce(spark: SparkSession, log: TopicLog, pairs: Range): Unit = {
    import spark.implicits._
    def ts(i: Int, off: Long) =
      new java.sql.Timestamp(1700000000000L + i * 3600000L + off)
    val rows = pairs.flatMap { i =>
      Seq((s"${2 * i}", "view", i % 5, ts(i, 0), i % 2),
        (s"${2 * i + 1}", "purchase", i % 5, ts(i, 300000L), i % 2))
    }
    log.produce(rows.toDF("id", "etype", "k", "ts", "partition")
      .select(col("id").cast("binary").as("key"),
        to_json(struct(col("k"))).cast("binary").as("value"),
        map(lit("event_type"), col("etype").cast("binary")).as("headers"),
        col("ts"), col("partition").cast("int").as("partition")),
      partitioner = col("partition"))
    ()
  }

  private def side(records: DataFrame, t: String, a: String) = records
    .filter(element_at(col("headers"), "event_type").cast("string") === t)
    .select(col("key").cast("string").cast("long").as(s"${a}_id"),
      col("ts").as(s"${a}_ts"),
      get_json_object(col("value").cast("string"), "$.k").cast("long").as(s"${a}_k"))

  private val matches =
    col("v_k") === col("p_k") && col("p_ts") >= col("v_ts") &&
      col("p_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES")

  /** The streaming join: both sides watermarked 1 hour. */
  def join(stream: DataFrame): DataFrame =
    side(stream, "view", "v").withWatermark("v_ts", "1 hour")
      .join(side(stream, "purchase", "p").withWatermark("p_ts", "1 hour"), matches)

  /** The same join over the topic's records as a batch query. */
  def batchJoin(records: DataFrame): DataFrame =
    side(records, "view", "v").join(side(records, "purchase", "p"), matches)

  def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("v_id", "p_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
}
