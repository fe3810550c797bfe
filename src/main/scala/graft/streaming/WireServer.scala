package graft.streaming

import java.io.{DataInputStream, EOFException}
import java.net.{ServerSocket, Socket, SocketException}
import java.util.concurrent.Executors
import scala.util.control.NonFatal

/** A TCP accept loop serving the Kafka-wire handlers — the
  * Spark-native analog of the reference's connection handler (ref:
  * pkg/kafka/kafka_connectian_handler.go framing loop,
  * pkg/server/server.go accept loop): INT32-framed requests in,
  * framed responses out, dispatched on the header's api_key. The
  * storage engine behind every handler is the manifest-committed
  * [[TopicLog]], so bytes from a v0 client land as real produces and
  * bounded fetches.
  *
  * Serving model: thread-per-connection off a cached pool — request
  * handling runs Spark jobs (driver-side), so connection concurrency
  * is bounded by the driver, exactly like the single-broker
  * reference. Scale path is partition-parallel inside each request,
  * not connection count. */
class WireServer(private val broker: Broker,
    private val advertisedHost: String = "127.0.0.1",
    port: Int = 0,
    /** user → password; non-empty makes this a SASL_PLAINTEXT-style
      * listener: every connection must complete a PLAIN handshake
      * before any non-SASL key other than ApiVersions (the probe
      * Kafka allows pre-auth so clients can negotiate versions). */
    credentials: Map[String, String] = Map.empty,
    /** > 0 enables the maintenance tick: at most every this many ms,
      * the accept loop schedules `broker.applyRetention` on the pool —
      * so a long-lived listener ENFORCES each topic's `retention.ms`
      * instead of accepting the config and never applying it — then
      * compaction and `broker.retireManifestHistory`. The
      * default 0 keeps the engine's no-background-work contract for
      * embedded/test use; rewrites are serialized against wire
      * produces by [[Broker.maintenanceLock]], so the tick is safe
      * under full produce concurrency. Compaction stays
      * operator-scheduled: `compact()` rewrites the whole topic (no
      * dirty-ratio accounting), a cost profile the operator owns. */
    retentionTickMs: Long = 0L,
    /** Transport encryption (the reference README roadmap's
      * "Encryption and Authentication" line, round 15): a configured
      * `SSLContext` turns this into an SSL/SASL_SSL-style listener —
      * the accept loop hands out `SSLSocket`s (JDK SSLEngine under
      * the hood, no new dependencies) and EVERYTHING above the
      * transport (framing, dispatch, SASL incl. SCRAM) runs
      * unchanged over the encrypted channel, exactly Kafka's
      * listener-security layering. Build contexts with
      * [[WireServer.serverSslContext]]/[[WireServer.clientSslContext]]
      * from a PKCS12 keystore. None = PLAINTEXT (the default, and
      * the embedded/test contract). */
    tls: Option[javax.net.ssl.SSLContext] = None) {
  private val server = tls match {
    case Some(ctx) => ctx.getServerSocketFactory.createServerSocket(port)
    case None => new ServerSocket(port)
  }
  @volatile private var running = true
  private val pool = Executors.newCachedThreadPool()

  /** SCRAM stored credentials, keyed (user, mechanism code) — the
    * server keeps (salt, iterations, StoredKey, ServerKey), never the
    * password, exactly Kafka's SCRAM credential record. Seeded once
    * from the static credential map (per-server random salts, both
    * hash families) and LIVE thereafter: AlterUserScramCredentials
    * (key 51) upserts and deletes entries, exactly as kafka-configs
    * manages SCRAM users on a running cluster — and every alteration
    * write-throughs a [[ScramStore]] snapshot under the broker's log
    * root, so administered credentials survive a listener restart
    * (KIP-554 persists them in cluster metadata for the same reason).
    * The snapshot is authoritative for every user it names; configured
    * users absent from it re-seed (bootstrap semantics — the PLAIN
    * path accepts the static map directly regardless). */
  private val scramStore =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Scram.StoredCreds]
  private val scramDir = new VersionedDir(java.nio.file.Paths.get(broker.logRoot, "_scram"))
  @volatile private var scramStoreVersion = 0L
  private lazy val scramSeeded: Unit = {
    scramDir.readLatest(ScramStore.parse).foreach { case (v, persisted) =>
      scramStoreVersion = v
      persisted.foreach { case (k, c) => scramStore.put(k, c) }
    }
    val persistedUsers = scramStore.keysIterator.map(_._1).toSet
    val rnd = new java.security.SecureRandom()
    credentials.foreach { case (user, password) =>
      if (!persistedUsers.contains(user))
        Scram.Algos.foreach { algo =>
          val salt = new Array[Byte](16)
          rnd.nextBytes(salt)
          scramStore.put((user, Scram.codeForAlgo(algo)),
            Scram.store(password, salt, algo.iterations, algo))
        }
    }
  }

  /** Publish the full credential store as the next snapshot version
    * (a version collision means another process raced this root —
    * skip past its version and republish, latest state wins). Called
    * only on successful key-51 mutations, so a listener that never
    * administers credentials writes nothing. */
  private def persistScram(): Unit = synchronized {
    scramStoreVersion =
      scramDir.publish(scramStoreVersion, 2)(ScramStore.render(_, scramStore.toSeq))
  }
  private def scramLookup(algo: Scram.Algo)(
      user: String): Option[Scram.StoredCreds] = {
    scramSeeded
    scramStore.get((user, Scram.codeForAlgo(algo)))
  }

  def boundPort: Int = server.getLocalPort

  /** Tick state: next due time + in-flight guard so a slow retention
    * pass (it runs Spark jobs) never stacks behind itself. */
  private val tickRunning = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var nextTickAtMs =
    if (retentionTickMs > 0) System.currentTimeMillis() + retentionTickMs
    else Long.MaxValue

  private def maybeTick(): Unit = {
    val now = System.currentTimeMillis()
    if (now >= nextTickAtMs && tickRunning.compareAndSet(false, true)) {
      nextTickAtMs = now + retentionTickMs
      pool.submit(new Runnable {
        override def run(): Unit =
          try {
            broker.applyRetention(System.currentTimeMillis())
            // compact-policy topics clean on the same tick, gated by
            // the dirty ratio (per-topic min.cleanable.dirty.ratio
            // override, else the 0.5 Kafka default) so a quiet topic
            // never pays the whole-topic rewrite
            broker.applyCompaction(WireServer.DefaultMinDirtyRatio)
            broker.retireManifestHistory()
          } catch {
            case e: Exception if running =>
              WireServer.log.warn("maintenance tick failed: {}", e.toString)
          } finally tickRunning.set(false)
      })
    }
  }

  def start(): this.type = {
    // the tick rides the accept loop (the judge of "is this broker
    // long-lived" is the loop itself): a bounded SO_TIMEOUT turns a
    // quiet listener's blocking accept into a periodic wakeup, and
    // busy listeners check on every accepted connection too
    if (retentionTickMs > 0)
      server.setSoTimeout(math.min(retentionTickMs, 1000L).toInt)
    pool.submit(new Runnable {
      override def run(): Unit =
        while (running)
          try {
            val sock = server.accept()
            maybeTick()
            pool.submit(new Runnable { override def run(): Unit = serve(sock) })
          } catch {
            case _: java.net.SocketTimeoutException => maybeTick()
            case _: SocketException => () // closed during accept → loop exits via `running`
            case e: Throwable if running =>
              // a transient accept failure must not silently kill the
              // acceptor — the server would look alive and serve nothing
              WireServer.log.warn("accept failed: {}", e.toString)
          }
    })
    this
  }

  private def serve(sock: Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = sock.getOutputStream
    val clientHost = sock.getInetAddress.getHostAddress
    // per-connection SASL state: an unsecured listener starts
    // authenticated; a secured one walks handshake → token(s) → open.
    // PLAIN is one token; SCRAM-SHA-256 is a two-round challenge.
    var authenticated = credentials.isEmpty
    // the principal every authorization check sees for this
    // connection: ANONYMOUS until SASL binds a user
    var principal = Broker.AnonymousPrincipal
    // 0 = unauthenticated, 1 = SASL credentials, 2 = delegation token
    // (KIP-48: a SCRAM login whose username is a live token id)
    var authKind = if (credentials.isEmpty) 0 else 1
    var tokenAuthed = false
    var handshaken = false
    var mechanism: String = null
    var scram: Scram.ServerSession = null
    // a v0 handshake switches subsequent frames to raw length-framed
    // SASL tokens (pre-KIP-152 framing — no Kafka header on them)
    // until the exchange concludes
    var rawSasl = false
    def frameRaw(token: Array[Byte]): Unit = {
      out.write(Array[Byte]((token.length >>> 24).toByte,
        (token.length >>> 16).toByte, (token.length >>> 8).toByte,
        token.length.toByte))
      out.write(token)
      out.flush()
    }
    try {
      var open = true
      while (running && open) {
        val size = in.readInt()
        // before authentication only SASL-sized frames are read, so an
        // unauthenticated peer cannot make the listener allocate a
        // produce-sized buffer (Kafka's sasl.server.max.receive.size)
        val maxSize =
          if (authenticated) WireServer.MaxFrameBytes
          else WireServer.MaxPreAuthFrameBytes
        require(size >= 0 && size <= maxSize, s"bad frame size $size")
        val payload = new Array[Byte](size)
        in.readFully(payload)
        if (rawSasl) {
          // raw exchange has no in-band error channel: progress frames
          // carry the next SASL token, failure closes the connection —
          // the signal pre-KIP-152 clients expect
          if (scram != null)
            scram.step(payload) match {
              case Scram.Continue(reply) => frameRaw(reply)
              case Scram.Success(reply, user) =>
                authenticated = true; rawSasl = false
                if (tokenAuthed) {
                  principal = broker.tokenPrincipal(user)
                    .getOrElse("User:" + user)
                  authKind = 2
                } else principal = "User:" + user
                frameRaw(reply)
              case Scram.Fail(reply, _) =>
                frameRaw(reply); authFailureDelay(); open = false
            }
          else evaluatePlain(payload) match {
            case Some(user) =>
              authenticated = true
              rawSasl = false
              principal = "User:" + user
              out.write(Array[Byte](0, 0, 0, 0))
              out.flush()
            case None => authFailureDelay(); open = false
          }
        } else {
          require(size >= 2, s"bad frame size $size")
          val framed = new Array[Byte](size + 4)
          framed(0) = (size >>> 24).toByte; framed(1) = (size >>> 16).toByte
          framed(2) = (size >>> 8).toByte; framed(3) = size.toByte
          System.arraycopy(payload, 0, framed, 4, size)
          val apiKey = ((payload(0) & 0xff) << 8) | (payload(1) & 0xff)
          // A handler failure (undecodable request, unsupported key, a
          // pre-auth request on a secured listener) fails only THIS
          // connection, loudly: there is no error frame for a request
          // that can't be decoded or routed, so closing the socket is
          // the protocol-visible signal — but the server and every
          // other connection keep serving.
          try {
            apiKey match {
              case KafkaWire.SaslHandshake.key =>
                val (version, corr, wanted) =
                  KafkaWire.decodeSaslHandshakeRequest(framed)
                val resp =
                  if (authenticated) // unsecured listener or re-handshake
                    KafkaWire.encodeSaslHandshakeResponse(corr, 34, Seq.empty)
                  else if (!WireServer.Mechanisms.contains(wanted))
                    KafkaWire.encodeSaslHandshakeResponse(corr, 33,
                      WireServer.Mechanisms)
                  else {
                    handshaken = true
                    mechanism = wanted
                    tokenAuthed = false
                    Scram.Algos.find(_.mechanism == wanted).foreach { algo =>
                      val code = Scram.codeForAlgo(algo)
                      // configured users first; then live delegation
                      // tokens (username = tokenId, password =
                      // base64(HMAC)) — KIP-48's SCRAM piggyback
                      val lookup: String => Option[Scram.StoredCreds] =
                        user => {
                          scramSeeded
                          scramStore.get((user, code)).orElse {
                            val t = broker.tokenScramLookup(user, code)
                            if (t.isDefined) tokenAuthed = true
                            t
                          }
                        }
                      scram = new Scram.ServerSession(lookup, algo)
                    }
                    rawSasl = version == 0
                    KafkaWire.encodeSaslHandshakeResponse(corr, 0,
                      WireServer.Mechanisms)
                  }
                out.write(resp); out.flush()
              case KafkaWire.SaslAuthenticate.key =>
                val (version, corr, token) =
                  KafkaWire.decodeSaslAuthenticateRequest(framed)
                def answer(err: Int, msg: String, reply: Array[Byte]): Unit = {
                  out.write(KafkaWire.encodeSaslAuthenticateResponse(version,
                    corr, err, msg, reply))
                  out.flush()
                }
                if (authenticated || !handshaken) {
                  // ILLEGAL_SASL_STATE: no handshake yet, or already done
                  answer(34, "SaslAuthenticate out of order",
                    Array.emptyByteArray)
                } else if (scram != null) {
                  scram.step(token) match {
                    case Scram.Continue(reply) => answer(0, null, reply)
                    case Scram.Success(reply, user) =>
                      authenticated = true
                      if (tokenAuthed) {
                        principal = broker.tokenPrincipal(user)
                          .getOrElse("User:" + user)
                        authKind = 2
                      } else principal = "User:" + user
                      answer(0, null, reply)
                    case Scram.Fail(reply, why) =>
                      // failed auth answers in-band (the RFC e= token
                      // rides auth_bytes), THEN closes
                      answer(58, s"Authentication failed: $why", reply)
                      authFailureDelay()
                      open = false
                  }
                } else if (evaluatePlain(token).isDefined) {
                  authenticated = true
                  principal = "User:" +
                    KafkaWire.parsePlainToken(token).get._1
                  answer(0, null, Array.emptyByteArray)
                } else {
                  // failed auth answers in-band, THEN closes — the
                  // client sees why before the disconnect
                  answer(58, "Authentication failed: invalid credentials",
                    Array.emptyByteArray)
                  authFailureDelay()
                  open = false
                }
              case KafkaWire.ApiVersions.key =>
                // allowed pre-auth: clients negotiate versions first
                broker.authCtx.set((principal, clientHost))
                broker.authKindCtx.set(authKind)
                out.write(dispatch(apiKey, framed)); out.flush()
              case _ if !authenticated =>
                // Kafka kills pre-auth connections sending normal keys
                throw new IllegalStateException(
                  s"api_key $apiKey before SASL authentication")
              case _ =>
                // bound per REQUEST, not per connection: pool threads
                // are reused across connections, so a stale binding
                // from a previous connection must never leak in
                broker.authCtx.set((principal, clientHost))
                broker.authKindCtx.set(authKind)
                broker.parkedMsCtx.set(0L)
                broker.heldMsCtx.set(0L)
                val t0 = System.nanoTime()
                val resp = dispatch(apiKey, framed)
                // request_percentage: handler wall time metered per
                // request; a bound quota holds the response (channel
                // muting) before it leaves
                broker.requestTimeHold(clientIdOf(framed),
                  (System.nanoTime() - t0) / 1000000L)
                out.write(resp); out.flush()
            }
          } catch {
            case e: Exception =>
              logRequestFailure(apiKey, framed, clientHost, e)
              open = false
          }
        }
      }
    } catch {
      case _: EOFException => () // client closed between frames
      case _: SocketException => ()
      case e: Exception =>
        WireServer.log.warn("connection closed client_host={} error={}",
          clientHost: Any, e.toString: Any)
    } finally sock.close()
  }

  /** The request header's client_id, without a full decode — the
    * quota entity's client axis. A null id or a malformed header
    * answers "" rather than failing the quota path; the handler's own
    * decode reports the real error. */
  private def clientIdOf(framed: Array[Byte]): String =
    try Option(KafkaWire.peekRequestHeader(framed).clientId).getOrElse("")
    catch { case NonFatal(_) => "" }

  /** One structured line per request that fails and closes its
    * connection, keyed by what the header says (-1 where the header
    * itself is unreadable). */
  private def logRequestFailure(apiKey: Int, framed: Array[Byte],
      clientHost: String, e: Exception): Unit = {
    val h = try Some(KafkaWire.peekRequestHeader(framed))
      catch { case NonFatal(_) => None }
    WireServer.log.warn(
      "request failed, connection closed api_key={} version={} correlation_id={} client_host={} error={}",
      Array[AnyRef](Int.box(apiKey), Int.box(h.fold(-1)(_.version)),
        Int.box(h.fold(-1)(_.correlationId)), clientHost, e.toString): _*)
  }

  /** Check one RFC 4616 PLAIN token against the credential map;
    * returns the authenticated user. */
  private def evaluatePlain(token: Array[Byte]): Option[String] =
    KafkaWire.parsePlainToken(token).collect {
      case (user, pass) if credentials.get(user).contains(pass) => user
    }

  /** Kafka's connection.failed.authentication.delay.ms analog: hold a
    * failing connection briefly before the close so the static
    * credential map can't be brute-forced at reconnect rate. */
  private def authFailureDelay(): Unit =
    try Thread.sleep(WireServer.AuthFailureDelayMs)
    catch { case _: InterruptedException => Thread.currentThread().interrupt() }

  /** Route one framed request by api_key through the lookup built
    * once from [[WireServer.Apis]] — the reference's dispatch table
    * (ref: pkg/kafka/kafka_api.go:85). */
  private def dispatch(apiKey: Int, framed: Array[Byte]): Array[Byte] = {
    val handlers = WireServer.Handlers
    val h = if (apiKey < handlers.length) handlers(apiKey) else null
    if (h == null) throw new IllegalArgumentException(s"unsupported api_key $apiKey")
    h(this, framed)
  }

  private def handleApiVersions(framed: Array[Byte]): Array[Byte] = {
    val (epoch, finalized) = broker.features.current
    KafkaWire.handleApiVersions(framed, Broker.WireApis,
      supportedFeatures = Features.Supported,
      finalizedEpoch = epoch,
      // finalized tag order is (maxVersionLevel, minVersionLevel);
      // a finalized level pins both ends to itself
      finalizedFeatures = finalized.map { case (n, l) => (n, l, l) })
  }

  private def handleMetadata(framed: Array[Byte]): Array[Byte] = {
    val topics = broker.listTopics()
      .flatMap(t => broker.topicOpt(t).map(t -> _.numPartitions)).toMap
    KafkaWire.handleMetadata(framed, advertisedHost, boundPort, topics,
      describeAuth = name => broker.authz(Acls.OpDescribe, Acls.ResTopic, name))
  }

  /** DescribeUserScramCredentials (key 50, v0) against the live
    * credential store (these two handlers live on the server, not the
    * broker: SCRAM state is per-listener, like the SASL exchange
    * itself). A null/empty users array describes everyone; unknown
    * users answer RESOURCE_NOT_FOUND (91) and duplicates
    * DUPLICATE_RESOURCE (92), per KIP-554. Iterations are served;
    * salts and keys never leave the server. */
  private def handleDescribeUserScram(framed: Array[Byte]): Array[Byte] = {
    scramSeeded
    val (corr, users) =
      KafkaWire.decodeDescribeUserScramCredentialsRequest(framed)
    if (!broker.authz(Acls.OpDescribe, Acls.ResCluster,
        Acls.ClusterResourceName))
      return KafkaWire.encodeDescribeUserScramCredentialsResponse(corr, 31,
        "principal is not authorized to describe SCRAM credentials",
        Seq.empty)
    val known = scramStore.keys.toSeq
    val results =
      if (users == null || users.isEmpty)
        known.map(_._1).distinct.sorted.map { u =>
          (u, 0, null: String, known.filter(_._1 == u).map(_._2).sorted
            .map(code => (code, scramStore((u, code)).iterations)))
        }
      else {
        val dups = users.groupBy(identity).collect {
          case (u, occ) if occ.size > 1 => u
        }.toSet
        users.distinct.map { u =>
          val infos = known.filter(_._1 == u).map(_._2).sorted
            .map(code => (code, scramStore((u, code)).iterations))
          if (dups(u)) (u, 92, "duplicate user in one request",
            Seq.empty[(Int, Int)])
          else if (infos.isEmpty)
            (u, 91, s"no SCRAM credentials for user '$u'",
              Seq.empty[(Int, Int)])
          else (u, 0, null: String, infos)
        }
      }
    KafkaWire.encodeDescribeUserScramCredentialsResponse(corr, 0, null,
      results)
  }

  /** AlterUserScramCredentials (key 51, v0): upsertions carry the
    * client-salted password — the server derives and stores the
    * StoredKey/ServerKey quartet (the password itself never arrives,
    * KIP-554's design). Deleting an absent credential answers 91;
    * unknown mechanism codes 33 (UNSUPPORTED_SASL_MECHANISM), bad
    * iterations or an empty name 93 (UNACCEPTABLE_CREDENTIAL). One
    * response row per distinct user; any failed op for a user fails
    * that user's whole alteration (nothing partial is applied). */
  private def handleAlterUserScram(framed: Array[Byte]): Array[Byte] = {
    scramSeeded
    val (corr, deletions, upsertions) =
      KafkaWire.decodeAlterUserScramCredentialsRequest(framed)
    if (!broker.authz(Acls.OpAlter, Acls.ResCluster,
        Acls.ClusterResourceName))
      return KafkaWire.encodeAlterUserScramCredentialsResponse(corr,
        (deletions.map(_._1) ++ upsertions.map(_._1)).distinct.map(u =>
          (u, 31, "principal is not authorized to alter SCRAM credentials")))
    val byUser = (deletions.map(_._1) ++ upsertions.map(_._1)).distinct
    val results = byUser.map { u =>
      val dels = deletions.filter(_._1 == u)
      val ups = upsertions.filter(_._1 == u)
      val err: (Int, String) =
        if (u == null || u.isEmpty) (93, "empty user name")
        else (dels.map(_._2) ++ ups.map(_._2))
          .find(Scram.algoForCode(_).isEmpty)
          .map(c => (33, s"unknown SCRAM mechanism code $c"))
          .orElse(ups.collectFirst {
            case (_, _, iters, _, _) if iters < 4096 || iters > 16384 =>
              (93, s"iterations must be in [4096, 16384]")
          })
          .orElse(ups.collectFirst {
            case (_, _, _, salt, sp)
              if salt == null || salt.isEmpty || sp == null || sp.isEmpty =>
              (93, "salt and salted_password must be non-empty")
          })
          .orElse(dels.collectFirst {
            case (_, code) if !scramStore.contains((u, code)) =>
              (91, s"no ${Scram.algoForCode(code).get.mechanism} " +
                s"credential for user '$u'")
          })
          .getOrElse((0, null))
      if (err._1 == 0) {
        dels.foreach { case (_, code) => scramStore.remove((u, code)) }
        ups.foreach { case (_, code, iters, salt, sp) =>
          val algo = Scram.algoForCode(code).get
          scramStore.put((u, code),
            Scram.storeFromSaltedPassword(sp, salt, iters, algo))
        }
      }
      (u, err._1, err._2)
    }
    if (results.exists(_._2 == 0)) persistScram()
    KafkaWire.encodeAlterUserScramCredentialsResponse(corr, results)
  }

  def close(): Unit = {
    running = false
    server.close()
    // let an in-flight retention tick finish before tearing the pool
    // down: interrupting its Spark rewrite between the data-dir delete
    // and the atomic move could strand the topic mid-swap
    val deadline = System.currentTimeMillis() + 30000
    while (tickRunning.get() && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    pool.shutdownNow()
    ()
  }
}

object WireServer {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[WireServer])

  /** Largest request frame an authenticated (or unsecured) connection
    * may send. */
  val MaxFrameBytes: Int = 64 * 1024 * 1024

  /** Largest frame a secured listener reads before SASL completes —
    * Kafka's sasl.server.max.receive.size default (512 KiB). */
  val MaxPreAuthFrameBytes: Int = 512 * 1024

  /** Delay before closing a connection that failed SASL authentication
    * (Kafka's connection.failed.authentication.delay.ms default is
    * 100 ms). Overridable down for tests would be over-engineering:
    * failure legs pay 100 ms each, a few per suite. */
  val AuthFailureDelayMs = 100L

  /** Dirty-ratio gate for tick-scheduled compaction — Kafka's
    * min.cleanable.dirty.ratio default. */
  val DefaultMinDirtyRatio = 0.5

  /** SASL mechanisms a secured listener serves. PLAIN stays for
    * compat; the SCRAM pair keeps the password off the wire. */
  val Mechanisms: Seq[String] =
    Seq("PLAIN", Scram.Sha256.mechanism, Scram.Sha512.mechanism)

  /** Every API starts at version 0. */
  val MinVersion = 0

  /** A request handler: the listener serving the connection and the
    * framed request in, the framed response out. */
  type Handler = (WireServer, Array[Byte]) => Array[Byte]

  /** One served Kafka API; `handler` is None only for the SASL pair,
    * which the connection loop answers from its own SASL state. */
  final case class ApiSpec(api: KafkaWire.Api, handler: Option[Handler]) {
    def key: Int = api.key
    def name: String = api.name
    def maxVersion: Int = api.maxVersion
  }

  private def api(a: KafkaWire.Api)(h: Handler) = ApiSpec(a, Some(h))

  /** What the listener speaks, in api-key order: only dispatchable
    * keys, at only their implemented versions, so a client that picks
    * the highest mutually supported version always lands on one the
    * codecs decode. Adding an API is one [[KafkaWire.Api]] declaration
    * (key, name, max version, first flexible version), one row here,
    * and its codec bodies in [[KafkaWire]], which take their header,
    * version check and flexible switch from the declaration;
    * ApiVersions, [[Broker.WireApis]] (and through it
    * `broker_api_versions`) and [[Handlers]] all derive from this
    * table. */
  val Apis: IndexedSeq[ApiSpec] = {
    import KafkaWire._
    IndexedSeq(
      api(Produce)(_.broker.handleProduce(_)),
      api(Fetch)(_.broker.handleFetch(_)),
      api(ListOffsets)(_.broker.handleListOffsets(_)),
      api(Metadata)(_.handleMetadata(_)),
      api(OffsetCommit)(_.broker.handleOffsetCommit(_)),
      api(OffsetFetch)(_.broker.handleOffsetFetch(_)),
      // single-broker: every key's coordinator is this server
      api(FindCoordinator)((s, f) =>
        s.broker.handleFindCoordinator(f, s.advertisedHost, s.boundPort)),
      api(JoinGroup)(_.broker.handleJoinGroup(_)),
      api(Heartbeat)(_.broker.handleHeartbeat(_)),
      api(LeaveGroup)(_.broker.handleLeaveGroup(_)),
      api(SyncGroup)(_.broker.handleSyncGroup(_)),
      api(DescribeGroups)(_.broker.handleDescribeGroups(_)),
      api(ListGroups)(_.broker.handleListGroups(_)),
      ApiSpec(SaslHandshake, None),
      api(ApiVersions)(_.handleApiVersions(_)),
      api(CreateTopics)(_.broker.handleCreateTopics(_)),
      api(DeleteTopics)(_.broker.handleDeleteTopics(_)),
      api(DeleteRecords)(_.broker.handleDeleteRecords(_)),
      api(InitProducerId)(_.broker.handleInitProducerId(_)),
      api(OffsetForLeaderEpoch)(_.broker.handleOffsetForLeaderEpoch(_)),
      api(AddPartitionsToTxn)(_.broker.handleAddPartitionsToTxn(_)),
      api(AddOffsetsToTxn)(_.broker.handleAddOffsetsToTxn(_)),
      api(EndTxn)(_.broker.handleEndTxn(_)),
      api(TxnOffsetCommit)(_.broker.handleTxnOffsetCommit(_)),
      api(DescribeAcls)(_.broker.handleDescribeAcls(_)),
      api(CreateAcls)(_.broker.handleCreateAcls(_)),
      api(DeleteAcls)(_.broker.handleDeleteAcls(_)),
      api(DescribeConfigs)((s, f) =>
        s.broker.handleDescribeConfigs(f, s.advertisedHost, s.boundPort)),
      api(AlterConfigs)(_.broker.handleAlterConfigs(_)),
      api(DescribeLogDirs)(_.broker.handleDescribeLogDirs(_)),
      ApiSpec(SaslAuthenticate, None),
      api(CreatePartitions)(_.broker.handleCreatePartitions(_)),
      api(CreateDelegationToken)(_.broker.handleCreateDelegationToken(_)),
      api(RenewDelegationToken)(_.broker.handleRenewDelegationToken(_)),
      api(ExpireDelegationToken)(_.broker.handleExpireDelegationToken(_)),
      api(DescribeDelegationToken)(_.broker.handleDescribeDelegationToken(_)),
      api(DeleteGroups)(_.broker.handleDeleteGroups(_)),
      api(ElectLeaders)(_.broker.handleElectLeaders(_)),
      api(IncrementalAlterConfigs)(_.broker.handleIncrementalAlterConfigs(_)),
      api(AlterPartitionReassignments)(_.broker.handleAlterPartitionReassignments(_)),
      api(ListPartitionReassignments)(_.broker.handleListPartitionReassignments(_)),
      api(OffsetDelete)(_.broker.handleOffsetDelete(_)),
      api(DescribeClientQuotas)(_.broker.handleDescribeClientQuotas(_)),
      api(AlterClientQuotas)(_.broker.handleAlterClientQuotas(_)),
      api(DescribeUserScramCredentials)(_.handleDescribeUserScram(_)),
      api(AlterUserScramCredentials)(_.handleAlterUserScram(_)),
      api(DescribeQuorum)(_.broker.handleDescribeQuorum(_)),
      api(UpdateFeatures)(_.broker.handleUpdateFeatures(_)),
      api(DescribeCluster)((s, f) =>
        s.broker.handleDescribeCluster(f, s.advertisedHost, s.boundPort)),
      api(DescribeProducers)(_.broker.handleDescribeProducers(_)),
      api(DescribeTransactions)(_.broker.handleDescribeTransactions(_)),
      api(ListTransactions)(_.broker.handleListTransactions(_)),
      api(ConsumerGroupHeartbeat)(_.broker.handleConsumerGroupHeartbeat(_)),
      api(ConsumerGroupDescribe)(_.broker.handleConsumerGroupDescribe(_)),
      api(GetTelemetrySubscriptions)(_.broker.handleGetTelemetrySubscriptions(_)),
      api(PushTelemetry)(_.broker.handlePushTelemetry(_)),
      api(ListClientMetricsResources)(_.broker.handleListClientMetricsResources(_)),
      api(DescribeTopicPartitions)(_.broker.handleDescribeTopicPartitions(_)),
      api(ShareGroupHeartbeat)(_.broker.handleShareGroupHeartbeat(_)),
      api(ShareGroupDescribe)(_.broker.handleShareGroupDescribe(_)),
      api(ShareFetch)((s, f) =>
        s.broker.handleShareFetch(f, s.advertisedHost, s.boundPort)),
      api(ShareAcknowledge)((s, f) =>
        s.broker.handleShareAcknowledge(f, s.advertisedHost, s.boundPort)),
      api(DescribeShareGroupOffsets)(_.broker.handleDescribeShareGroupOffsets(_)),
      api(AlterShareGroupOffsets)(_.broker.handleAlterShareGroupOffsets(_)),
      api(DeleteShareGroupOffsets)(_.broker.handleDeleteShareGroupOffsets(_)))
  }

  /** The dispatch lookup, indexed by api key: null where no handler. */
  private[streaming] val Handlers: Array[Handler] = {
    val a = new Array[Handler](Apis.map(_.key).max + 1)
    Apis.foreach(s => s.handler.foreach(a(s.key) = _))
    a
  }

  private def loadPkcs12(path: String,
      password: Array[Char]): java.security.KeyStore = {
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    try ks.load(in, password) finally in.close()
    ks
  }

  /** Server-side TLS context from a PKCS12 keystore holding the
    * listener's key + certificate (the artifact `keytool -genkeypair
    * -storetype PKCS12` produces — operators bring their CA-signed
    * equivalent). JDK-only: KeyManagerFactory over the store, TLS
    * protocol defaults (1.3/1.2 on JDK 17). */
  def serverSslContext(keystorePath: String,
      password: String): javax.net.ssl.SSLContext = {
    val pw = password.toCharArray
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(loadPkcs12(keystorePath, pw), pw)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }

  /** Client-side TLS context trusting the given PKCS12 store's
    * certificates (for self-signed listener certs the truststore IS
    * the keystore; against a CA-signed cert, the CA bundle). */
  def clientSslContext(truststorePath: String,
      password: String): javax.net.ssl.SSLContext = {
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(loadPkcs12(truststorePath, password.toCharArray))
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(null, tmf.getTrustManagers, null)
    ctx
  }
}
