package org.apache.spark.sql.graftbridge

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreId, StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery

/** Column ⇄ Expression bridge. Spark 4 routes Column through
  * ColumnNode and keeps the converter `private[sql]`; extension
  * libraries conventionally bridge from inside the sql package
  * namespace (cf. the public Qbeast/spark-extension pattern). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (resolved) logical plan — classic backend. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The state-store providers a streaming query registered, one per
    * operator × partition × store: rebuilt from its checkpoint's
    * `state/<op>/<part>[/<store>]` layout and its run id, exactly as
    * Spark keys its executor-side provider registry. A directory holds
    * a store when it holds one of the store's own version files
    * (HDFS-backed `.delta`/`.snapshot`, RocksDB `.zip`/`.changelog`);
    * RocksDB's `SSTs` dir and `.crc` checksum files do not count.
    * Read it before the checkpoint is deleted. */
  def stateStoreIds(q: StreamingQuery): Seq[StateStoreProviderId] = {
    val run = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
    val state = new Path(new Path(run.resolvedCheckpointRoot), "state")
    def children(d: File) = Option(d.listFiles).toSeq.flatten.filter(_.isDirectory)
    def numbered(d: File) = children(d).filter(_.getName.forall(_.isDigit))
    def holdsStore(d: File) = Option(d.list).exists(_.exists(n =>
      StoreFileSuffixes.exists(n.endsWith)))
    for {
      op <- numbered(new File(state.toUri.getPath))
      part <- numbered(op)
      store <- (if (holdsStore(part)) Seq(StateStoreId.DEFAULT_STORE_NAME) else Nil) ++
        children(part).filter(holdsStore).map(_.getName)
    } yield StateStoreProviderId(
      StateStoreId(state.toString, op.getName.toLong, part.getName.toInt, store), run.runId)
  }

  private val StoreFileSuffixes = Seq(".delta", ".snapshot", ".zip", ".changelog")

  def isStateStoreLoaded(id: StateStoreProviderId): Boolean = StateStore.isLoaded(id)

  /** Unload and close the given state-store providers. A drain runs on
    * a fresh temp checkpoint that no later query can reuse, yet the
    * registry would hold its providers (and their in-memory state
    * maps) until the next maintenance tick; other queries' providers
    * stay loaded. */
  def unloadStateStores(ids: Seq[StateStoreProviderId]): Unit =
    ids.foreach(StateStore.removeFromLoadedProvidersAndClose(_))
}
