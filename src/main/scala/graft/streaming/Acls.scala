package graft.streaming

import java.nio.file.Path
import java.util.Base64

/** Kafka's ACL model and authorizer, served behind keys 29/30/31 —
  * what turns the SECURITY_DISABLED stub surface into the real
  * `kafka-acls.sh` experience (the reference prototype has no
  * authorization at all; this follows the PUBLIC Kafka protocol's
  * AclBinding/AclBindingFilter semantics and the standard
  * AclAuthorizer rules: DENY precedence, literal/wildcard/prefixed
  * patterns, the DESCRIBE-implied-by-READ/WRITE/DELETE/ALTER rule,
  * super.users bypass).
  *
  * Code points are the wire enum values (AclOperation /
  * ResourceType / PatternType / AclPermissionType), kept as raw Ints
  * end to end so the codec layer never translates.
  */
object Acls {

  // AclOperation
  val OpUnknown = 0; val OpAny = 1; val OpAll = 2
  val OpRead = 3; val OpWrite = 4; val OpCreate = 5; val OpDelete = 6
  val OpAlter = 7; val OpDescribe = 8; val OpClusterAction = 9
  val OpDescribeConfigs = 10; val OpAlterConfigs = 11
  val OpIdempotentWrite = 12; val OpCreateTokens = 13
  val OpDescribeTokens = 14

  // ResourceType
  val ResUnknown = 0; val ResAny = 1; val ResTopic = 2; val ResGroup = 3
  val ResCluster = 4; val ResTransactionalId = 5; val ResDelegationToken = 6
  val ResUser = 7

  // PatternType
  val PatUnknown = 0; val PatAny = 1; val PatMatch = 2
  val PatLiteral = 3; val PatPrefixed = 4

  // AclPermissionType
  val PermUnknown = 0; val PermAny = 1; val PermDeny = 2; val PermAllow = 3

  /** The name Kafka requires for the singleton CLUSTER resource. */
  val ClusterResourceName = "kafka-cluster"

  /** The wildcard principal every authenticated user matches. */
  val WildcardPrincipal = "User:*"

  /** The name part of a "Type:name" principal. */
  def principalName(p: String): String = {
    val i = if (p == null) -1 else p.indexOf(':')
    if (i < 0) (if (p == null) "" else p) else p.substring(i + 1)
  }

  /** One stored ACL — Kafka's AclBinding flattened. */
  case class AclBinding(resourceType: Int, resourceName: String,
      patternType: Int, principal: String, host: String, operation: Int,
      permissionType: Int)

  /** One filter — Kafka's AclBindingFilter: null strings mean "any",
    * ANY/MATCH code points widen the enum fields. */
  case class AclFilter(resourceType: Int, resourceName: String,
      patternType: Int, principal: String, host: String, operation: Int,
      permissionType: Int)

  /** Does `binding`'s resource pattern cover the concrete resource
    * `name`? LITERAL matches exactly (or the "*" wildcard name);
    * PREFIXED matches any name it prefixes. */
  private def patternCovers(binding: AclBinding, name: String): Boolean =
    binding.patternType match {
      case PatLiteral => binding.resourceName == name ||
        binding.resourceName == "*"
      case PatPrefixed => name.startsWith(binding.resourceName)
      case _ => false
    }

  /** Kafka's AclBindingFilter.matches: every field must accept the
    * binding. PatternType MATCH selects bindings whose pattern WOULD
    * COVER the filter's (non-null) name — the `--resource-pattern-type
    * match` view kafka-acls.sh offers. */
  private[streaming] def filterMatches(f: AclFilter, b: AclBinding): Boolean = {
    val resTypeOk = f.resourceType == ResAny || f.resourceType == b.resourceType
    val patOk = f.patternType match {
      case PatAny => true
      case PatMatch =>
        if (f.resourceName == null) true
        else patternCovers(b, f.resourceName)
      case p => p == b.patternType
    }
    val nameOk = f.resourceName == null ||
      (if (f.patternType == PatMatch) true else f.resourceName == b.resourceName)
    val principalOk = f.principal == null || f.principal == b.principal
    val hostOk = f.host == null || f.host == b.host
    val opOk = f.operation == OpAny || f.operation == b.operation
    val permOk = f.permissionType == PermAny || f.permissionType == b.permissionType
    resTypeOk && patOk && nameOk && principalOk && hostOk && opOk && permOk
  }

  /** CreateAcls validation — Kafka answers INVALID_REQUEST 42 for a
    * malformed creation instead of storing garbage that would never
    * match. Returns the error message, or null when valid. */
  private[streaming] def creationError(b: AclBinding): String =
    if (b.resourceType != ResTopic && b.resourceType != ResGroup &&
      b.resourceType != ResCluster && b.resourceType != ResTransactionalId &&
      b.resourceType != ResDelegationToken && b.resourceType != ResUser)
      s"invalid resource type ${b.resourceType} for an ACL creation"
    else if (b.patternType != PatLiteral && b.patternType != PatPrefixed)
      s"ACL creations need a concrete pattern type (LITERAL or PREFIXED), got ${b.patternType}"
    else if (b.resourceName == null || b.resourceName.isEmpty)
      "ACL resource name must be non-empty"
    else if (b.resourceType == ResCluster &&
      (b.resourceName != ClusterResourceName || b.patternType != PatLiteral))
      s"the CLUSTER resource is the literal '$ClusterResourceName'"
    else if (b.principal == null || !b.principal.contains(':'))
      s"principal must be '<type>:<name>' (e.g. User:alice), got '${b.principal}'"
    else if (b.host == null || b.host.isEmpty)
      "ACL host must be non-empty ('*' for any)"
    else if (b.operation == OpUnknown || b.operation == OpAny ||
      b.operation > OpDescribeTokens)
      s"ACL creations need a concrete operation, got ${b.operation}"
    else if (b.permissionType != PermAllow && b.permissionType != PermDeny)
      s"ACL creations need ALLOW or DENY, got ${b.permissionType}"
    else null

  /** The live authorizer: an in-memory ACL set with write-through CAS
    * persistence under `<logRoot>/_acls` (a [[VersionedDir]] — full
    * state per version, atomic hard-link, newest wins, pruned behind
    * the newest). One instance per broker; handler
    * threads read under the monitor, mutations persist before they
    * return, so an ACL acknowledged to kafka-acls.sh survives a
    * restart exactly like an administered SCRAM credential. */
  final class Authorizer(storeDir: Path, val superUsers: Set[String]) {
    private var version = 0L
    private var acls: Vector[AclBinding] = Vector.empty
    private val store = new VersionedDir(storeDir)
    locally {
      store.readLatest(AclStore.parse).foreach { case (v, persisted) =>
        version = v
        acls = persisted.toVector
      }
    }

    def current: Seq[AclBinding] = synchronized(acls)

    /** The decision: superuser → allow; any matching DENY → deny;
      * else any matching ALLOW (with the DESCRIBE /
      * DESCRIBE_CONFIGS implication) → allow; else deny. An ACL
      * matches when its pattern covers the resource, its principal is
      * the caller or User:*, and its host is the caller's or "*". */
    def authorize(principal: String, host: String, operation: Int,
        resourceType: Int, resourceName: String): Boolean = {
      if (superUsers.contains(principal)) return true
      val candidates = synchronized(acls).filter { b =>
        b.resourceType == resourceType && patternCovers(b, resourceName) &&
          (b.principal == principal || b.principal == WildcardPrincipal) &&
          (b.host == "*" || b.host == host)
      }
      val denied = candidates.exists { b =>
        b.permissionType == PermDeny &&
          (b.operation == OpAll || b.operation == operation)
      }
      if (denied) return false
      def allowsOp(b: AclBinding, op: Int): Boolean =
        b.permissionType == PermAllow && (b.operation == OpAll || b.operation == op)
      val implied: Seq[Int] = operation match {
        // the standard implication: holding READ/WRITE/DELETE/ALTER
        // implies DESCRIBE; holding ALTER_CONFIGS implies
        // DESCRIBE_CONFIGS
        case OpDescribe => Seq(OpDescribe, OpRead, OpWrite, OpDelete, OpAlter)
        case OpDescribeConfigs => Seq(OpDescribeConfigs, OpAlterConfigs)
        case op => Seq(op)
      }
      candidates.exists(b => implied.exists(op => allowsOp(b, op)))
    }

    /** Store creations (idempotent per binding, Kafka's behavior) and
      * persist once. Callers validate first via [[creationError]]. */
    def add(bindings: Seq[AclBinding]): Unit = synchronized {
      val fresh = bindings.filterNot(acls.contains)
      if (fresh.nonEmpty) { acls = acls ++ fresh; persist() }
    }

    /** Delete everything each filter matches; one persisted snapshot
      * covers the whole request. Returns the matched (now removed)
      * bindings per filter, in filter order — a binding matched by two
      * filters reports under the first, as one deletion. */
    def delete(filters: Seq[AclFilter]): Seq[Seq[AclBinding]] = synchronized {
      val taken = scala.collection.mutable.LinkedHashSet.empty[AclBinding]
      val results = filters.map { f =>
        val matched = acls.filter(b => !taken.contains(b) && filterMatches(f, b))
        taken ++= matched
        matched
      }
      if (taken.nonEmpty) { acls = acls.filterNot(taken.contains); persist() }
      results
    }

    def describe(filter: AclFilter): Seq[AclBinding] = synchronized {
      acls.filter(b => filterMatches(filter, b))
    }

    private def persist(): Unit =
      version = store.publish(version, 2)(AclStore.render(_, acls))
  }

  /** Durable snapshot of the ACL set — `_acls/v{N}.json` under the log
    * root, a [[VersionedDir]]. Strings are base64-armored so
    * principals and resource names never meet the regex parser
    * un-escaped. */
  private[streaming] object AclStore {

    private def b64(s: String): String =
      Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    private def unb64(s: String): String =
      new String(Base64.getDecoder.decode(s), "UTF-8")

    private[streaming] def render(version: Long, acls: Seq[AclBinding]): String = {
      val rows = acls.map { b =>
        s"""{"rt":${b.resourceType},"rn":"${b64(b.resourceName)}",""" +
          s""""pt":${b.patternType},"pr":"${b64(b.principal)}",""" +
          s""""h":"${b64(b.host)}","op":${b.operation},"pm":${b.permissionType}}"""
      }.mkString(",")
      s"""{"version":$version,"acls":[$rows]}"""
    }

    private val AclRe =
      ("""\{"rt":(\d+),"rn":"([^"]*)","pt":(\d+),"pr":"([^"]*)",""" +
        """"h":"([^"]*)","op":(\d+),"pm":(\d+)\}""").r

    private[streaming] def parse(s: String): Seq[AclBinding] =
      AclRe.findAllMatchIn(s).map { m =>
        AclBinding(m.group(1).toInt, unb64(m.group(2)), m.group(3).toInt,
          unb64(m.group(4)), unb64(m.group(5)), m.group(6).toInt,
          m.group(7).toInt)
      }.toSeq
  }
}
