package graft.sources

import java.nio.file.{Files, Paths}
import java.util.Collections

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DSv2 TableCatalog over a topic root directory — the Metadata /
  * CreateTopics / DeleteTopics API surface as a Spark catalog (ref:
  * pkg/kafka/kafka_api.go dispatch; Metadata + topic management are
  * the reference's roadmap APIs):
  *
  * {{{
  *   spark.sql.catalog.graft       = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.root  = /data/topics
  *
  *   SHOW TABLES IN graft;
  *   SELECT count(*) FROM graft.clicks WHERE partition = 3;
  *   CREATE TABLE graft.audit TBLPROPERTIES ('partitions'='16');
  *   DROP TABLE graft.clicks;
  * }}}
  *
  * Every table is a [[GraftTopicTable]], so SQL reads get the same
  * partition/offset pushdown as `spark.read.format("graft-topic")`.
  * Writes go through the `TopicLog.produce` API (offset assignment
  * and the manifest commit protocol are produce-side concerns, not
  * blind appends — same reason Kafka has no "INSERT INTO topic").
  */
class GraftCatalog extends TableCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.root=<topics dir>")
  }

  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Array.empty
    else graft.streaming.TopicLog.listDir(p).iterator
      .filter(d => Files.exists(d.resolve("_meta.json")))
      .map(d => Identifier.of(namespace, d.getFileName.toString))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    graft.streaming.TopicLog.exists(root, ident.name)

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    new GraftTopicTable(s"$root/${ident.name}")
  }

  /** `SELECT … FROM graft.t VERSION AS OF 12` — Spark routes the SQL
    * time-travel clause here; the returned table pins every scan to
    * that committed manifest version (retired/unknown → empty scan,
    * the TopicLog.readAt contract). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    // a clear analysis-time error instead of a raw NumberFormatException
    val v = version.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"VERSION AS OF on a graft topic takes a numeric manifest " +
        s"version, got '$version'"))
    new GraftTopicTable(s"$root/${ident.name}", Some(v))
  }

  /** `TIMESTAMP AS OF` — Spark hands epoch MICROseconds; resolve to
    * the newest manifest version committed at-or-before it, against
    * the commit timestamp RECORDED INSIDE each manifest (a durable
    * commit record — file mtimes shift under any copy/restore that
    * doesn't preserve them, silently re-pointing old queries; mtime
    * remains only as the fallback for pre-field legacy manifests).
    * No version that old → the pre-history empty table (pin version
    * -1, which resolves to nothing). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    val mdir = Paths.get(s"$root/${ident.name}/_manifests")
    val tsMs = timestampMicros / 1000L
    val manifests = new graft.streaming.VersionedDir(mdir)
    val v = manifests.versions
      .filter { ver =>
        graft.streaming.TopicLog.manifestCommitTsMs(mdir, ver)
          .getOrElse(Files.getLastModifiedTime(manifests.file(ver)).toMillis) <= tsMs
      }
      .foldLeft(-1L)(math.max)
    new GraftTopicTable(s"$root/${ident.name}", Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    require(schema.isEmpty || schema == graft.streaming.TopicLog.readSchema ||
      schema == graft.streaming.TopicLog.tableSchema,
      "graft topics have a fixed record schema; omit the column list")
    val n = Option(properties.get("partitions")).map(_.toInt).getOrElse(8)
    // no SparkSession needed just to lay out the dirs
    val dir = Paths.get(s"$root/${ident.name}")
    graft.streaming.TopicLog.createMeta(dir, n)
    new GraftTopicTable(dir.toString)
  }

  /** `ALTER TABLE graft.t SET TBLPROPERTIES('retention.ms'='60000')`
    * — table properties ARE the topic's dynamic config overrides: the
    * same `_config.json` the wire config APIs (19/33/44) write, under
    * the same validator, read by the same enforcement hooks
    * (retention/compaction ticks, the produce size gate). UNSET
    * removes the override (back to the default). Anything that isn't
    * a property change stays unsupported — the record schema and the
    * log itself are immutable. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    val updated = changes.foldLeft(
      graft.streaming.TopicLog.configOverrides(root, ident.name)) {
      case (conf, set: TableChange.SetProperty) =>
        val err = graft.streaming.Broker.topicConfigError(
          Seq(set.property -> set.value))
        require(err == null, err)
        conf + (set.property -> set.value)
      case (conf, rm: TableChange.RemoveProperty) => conf - rm.property
      case (_, other) => throw new UnsupportedOperationException(
        "graft topics are append-only logs: only table properties " +
          s"(topic configs) are alterable, not $other")
    }
    graft.streaming.TopicLog.writeConfigOverrides(root, ident.name, updated)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    if (!tableExists(ident)) false
    else { graft.streaming.TopicLog.drop(root, ident.name); true }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(tableExists(oldIdent), s"no topic ${oldIdent.name}")
    require(!tableExists(newIdent), s"topic ${newIdent.name} already exists")
    Files.move(Paths.get(s"$root/${oldIdent.name}"), Paths.get(s"$root/${newIdent.name}"))
  }
}
