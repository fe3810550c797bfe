package graft.streaming

import java.nio.file.Path
import java.util.Base64

/** Delegation tokens (keys 38–41, KIP-48) — the
  * `kafka-delegation-tokens.sh` surface, riding the existing SCRAM
  * machinery the way Kafka's does: a created token is a (tokenId,
  * HMAC) credential pair; the broker derives and stores SCRAM
  * credentials for it (both hash families) at creation, so a client
  * authenticates by running the ordinary SCRAM exchange with
  * username = tokenId and password = base64(HMAC). A
  * token-authenticated connection acts as the token's OWNER principal
  * and may not mint further tokens (Kafka's
  * DELEGATION_TOKEN_REQUEST_NOT_ALLOWED rule, closing the
  * escalation loop).
  *
  * Lifecycle: create (bounded by max_lifetime), renew (owner or a
  * named renewer, holding the HMAC; expiry advances to
  * min(now + period, maxTimestamp)), expire (expiry_time_period −1
  * deletes outright — kafka-delegation-tokens.sh --expire's shape;
  * ≥ 0 moves the expiry), describe (null owners = every token the
  * caller may see). Expired-but-not-deleted tokens stay visible to
  * describe (Kafka keeps them until the cleanup scan) but fail
  * authentication and renewal.
  *
  * Tokens persist as `_tokens/v{N}.json` CAS snapshots (a
  * [[VersionedDir]]), so issued credentials survive restart —
  * losing them on a bounce would strand every token-authenticated
  * client.
  */
object DelegationTokens {

  /** One issued token. `scram` maps mechanism code → stored SCRAM
    * credentials derived from the HMAC at creation time. */
  case class Token(tokenId: String, owner: String, requester: String,
      renewers: Seq[String], issueTs: Long, expiryTs: Long, maxTs: Long,
      hmac: Array[Byte], scram: Map[Int, Scram.StoredCreds]) {
    /** The SASL password a client presents for this token. */
    def password: String = Base64.getEncoder.encodeToString(hmac)
  }

  /** Default/maximum token lifetime (Kafka's
    * delegation.token.max.lifetime.ms default: 7 days) and renew
    * period (24 h). */
  val MaxLifetimeMs: Long = 7L * 24 * 60 * 60 * 1000
  val DefaultRenewMs: Long = 24L * 60 * 60 * 1000

  /** Tokens expired longer than this ago are garbage-collected at
    * the next create (Kafka's expired-token cleanup scan runs on
    * delegation.token.expiry.check.interval.ms, default 1 h — here
    * the scan rides the only call that grows the store). */
  val ExpiredRetentionMs: Long = 60L * 60 * 1000

  /** Hard cap on stored tokens — a bounded-memory backstop far above
    * any legitimate population (each create rewrites the full CAS
    * snapshot, so unbounded growth would also be O(n²) disk). */
  val MaxTokens = 4096

  /** The live token manager — one per broker, CAS-persisted before
    * every mutation acks. */
  final class Manager(storeDir: Path) {
    private var version = 0L
    private var tokens: Map[String, Token] = Map.empty
    private val store = new VersionedDir(storeDir)
    locally {
      store.readLatest(TokenStore.parse).foreach { case (v, persisted) =>
        version = v
        tokens = persisted.map(t => t.tokenId -> t).toMap
      }
    }

    private val rnd = new java.security.SecureRandom()

    def current: Seq[Token] = synchronized(tokens.values.toSeq.sortBy(_.tokenId))

    /** Mint a token for `owner` (requested by `requester`). Returns
      * None at the MaxTokens cap (after sweeping long-expired
      * tokens — the cleanup scan rides the create path). */
    def create(owner: String, requester: String, renewers: Seq[String],
        maxLifetimeMs: Long, nowMs: Long): Option[Token] = synchronized {
      val swept = tokens.filter { case (_, t) =>
        t.expiryTs > nowMs - ExpiredRetentionMs
      }
      val sweptAny = swept.size != tokens.size
      if (sweptAny) tokens = swept
      if (tokens.size >= MaxTokens) {
        if (sweptAny) persist()
        return None
      }
      val id = new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString
      val hmac = new Array[Byte](32)
      rnd.nextBytes(hmac)
      val life =
        if (maxLifetimeMs <= 0 || maxLifetimeMs > MaxLifetimeMs) MaxLifetimeMs
        else maxLifetimeMs
      val password = Base64.getEncoder.encodeToString(hmac)
      val scram = Scram.Algos.map { algo =>
        val salt = new Array[Byte](16)
        rnd.nextBytes(salt)
        Scram.codeForAlgo(algo) ->
          Scram.store(password, salt, algo.iterations, algo)
      }.toMap
      val t = Token(id, owner, requester, renewers, nowMs,
        math.min(nowMs + DefaultRenewMs, nowMs + life), nowMs + life,
        hmac, scram)
      tokens += id -> t
      persist()
      Some(t)
    }

    def byHmac(hmac: Array[Byte]): Option[Token] = synchronized {
      tokens.values.find(_.hmac.sameElements(hmac))
    }

    def byId(tokenId: String): Option[Token] = synchronized {
      tokens.get(tokenId)
    }

    /** Renew: principal must be the owner or a named renewer; the
      * expiry advances to min(now + period, maxTimestamp). Returns
      * Right(new expiry) or Left(error code). */
    def renew(hmac: Array[Byte], principal: String, periodMs: Long,
        nowMs: Long): Either[Int, Long] = synchronized {
      byHmac(hmac) match {
        case None => Left(62) // DELEGATION_TOKEN_NOT_FOUND
        case Some(t) if t.expiryTs <= nowMs => Left(66) // EXPIRED
        case Some(t) if t.owner != principal &&
            !t.renewers.contains(principal) => Left(63) // OWNER_MISMATCH
        case Some(t) =>
          val period = if (periodMs < 0) DefaultRenewMs else periodMs
          val expiry = math.min(nowMs + period, t.maxTs)
          tokens += t.tokenId -> t.copy(expiryTs = expiry)
          persist()
          Right(expiry)
      }
    }

    /** Expire: −1 deletes the token outright; ≥ 0 moves the expiry to
      * min(now + period, maxTimestamp). Owner or renewer only. */
    def expire(hmac: Array[Byte], principal: String, periodMs: Long,
        nowMs: Long): Either[Int, Long] = synchronized {
      byHmac(hmac) match {
        case None => Left(62)
        case Some(t) if t.owner != principal &&
            !t.renewers.contains(principal) => Left(63)
        case Some(t) if periodMs < 0 =>
          tokens -= t.tokenId
          persist()
          Right(nowMs)
        case Some(t) if t.expiryTs <= nowMs => Left(66)
        case Some(t) =>
          val expiry = math.min(nowMs + periodMs, t.maxTs)
          tokens += t.tokenId -> t.copy(expiryTs = expiry)
          persist()
          Right(expiry)
      }
    }

    /** Describe: null owners = all tokens; else tokens owned by any
      * of the named principals. `visible` filters to what the caller
      * may see (owner / renewer / requester, or an authorizer grant —
      * the caller supplies the rule). */
    def describe(owners: Option[Seq[String]],
        visible: Token => Boolean): Seq[Token] = synchronized {
      tokens.values.toSeq
        .filter(t => owners.forall(_.contains(t.owner)))
        .filter(visible)
        .sortBy(_.tokenId)
    }

    /** SCRAM credentials for a LIVE token id — the SASL hook: an
      * expired token must fail authentication even though describe
      * still lists it. */
    def scramLookup(tokenId: String, mechanismCode: Int,
        nowMs: Long): Option[Scram.StoredCreds] = synchronized {
      tokens.get(tokenId).filter(_.expiryTs > nowMs)
        .flatMap(_.scram.get(mechanismCode))
    }

    private def persist(): Unit =
      version = store.publish(version, 2)(
        TokenStore.render(_, tokens.values.toSeq.sortBy(_.tokenId)))
  }

  /** Durable token snapshots — `_tokens/v{N}.json`, a
    * [[VersionedDir]], base64-armored strings. */
  private[streaming] object TokenStore {

    private def b64s(s: String): String =
      Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    private def unb64s(s: String): String =
      new String(Base64.getDecoder.decode(s), "UTF-8")
    private def b64(b: Array[Byte]): String =
      Base64.getEncoder.encodeToString(b)
    private def unb64(s: String): Array[Byte] = Base64.getDecoder.decode(s)

    private[streaming] def render(version: Long, ts: Seq[Token]): String = {
      val rows = ts.map { t =>
        val creds = t.scram.toSeq.sortBy(_._1).map { case (m, c) =>
          s"""{"m":$m,"salt":"${b64(c.salt)}","iters":${c.iterations},""" +
            s""""stored":"${b64(c.storedKey)}","server":"${b64(c.serverKey)}"}"""
        }.mkString(",")
        s"""{"id":"${b64s(t.tokenId)}","owner":"${b64s(t.owner)}",""" +
          s""""req":"${b64s(t.requester)}",""" +
          s""""renewers":"${b64s(t.renewers.mkString("\u0000"))}",""" +
          s""""issue":${t.issueTs},"expiry":${t.expiryTs},"max":${t.maxTs},""" +
          s""""hmac":"${b64(t.hmac)}","creds":[$creds]}"""
      }.mkString(",")
      // fmt 2 = NUL-joined renewers; its presence (not content
      // sniffing) is what parse() gates the legacy space-split on
      s"""{"version":$version,"fmt":2,"tokens":[$rows]}"""
    }

    private val TokenRe =
      ("""\{"id":"([^"]*)","owner":"([^"]*)","req":"([^"]*)",""" +
        """"renewers":"([^"]*)","issue":(\d+),"expiry":(\d+),"max":(\d+),""" +
        """"hmac":"([^"]*)","creds":\[([^\]]*)\]\}""").r
    private val CredRe =
      ("""\{"m":(\d+),"salt":"([^"]*)","iters":(\d+),""" +
        """"stored":"([^"]*)","server":"([^"]*)"\}""").r

    private[streaming] def parse(s: String): Seq[Token] = {
      // migration, gated DETERMINISTICALLY on the snapshot's declared
      // format (round-10 advice: content sniffing mis-split a
      // new-format single renewer whose principal contains spaces):
      //  - fmt 2 snapshots join renewers with NUL — always NUL-split;
      //  - pre-fmt snapshots joined with " " and can never contain a
      //    NUL — space-split, unless a NUL is present (a round-10
      //    interim snapshot: NUL-joined before the fmt field existed).
      // fmt ≥ 2 (not literal "fmt":2): a future format bump must not
      // silently revert renewers to the legacy space-split heuristic
      val declaredNul = "\"fmt\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s)
        .exists(_.group(1).toInt >= 2)
      TokenRe.findAllMatchIn(s).map { m =>
        val renewersRaw = unb64s(m.group(4))
        val renewers =
          if (renewersRaw.isEmpty) Seq.empty[String]
          else if (declaredNul || renewersRaw.contains("\u0000"))
            renewersRaw.split("\u0000").toSeq
          else renewersRaw.split(" ").filter(_.nonEmpty).toSeq
        Token(unb64s(m.group(1)), unb64s(m.group(2)), unb64s(m.group(3)),
          renewers,
          m.group(5).toLong, m.group(6).toLong, m.group(7).toLong,
          unb64(m.group(8)),
          CredRe.findAllMatchIn(m.group(9)).map { c =>
            c.group(1).toInt -> Scram.StoredCreds(unb64(c.group(2)),
              c.group(3).toInt, unb64(c.group(4)), unb64(c.group(5)))
          }.toMap)
      }.toSeq
    }
  }
}
