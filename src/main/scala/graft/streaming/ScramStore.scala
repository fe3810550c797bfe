package graft.streaming

import java.util.Base64

/** Durable snapshot of the live SCRAM credential store — what makes
  * `kafka-configs`-style credential administration (key 51) survive a
  * listener restart, the same guarantee Kafka gets from persisting
  * SCRAM records in cluster metadata (KIP-554). A [[VersionedDir]]
  * like the topic manifest: `_scram/v{N}.json` under the log root,
  * full state per version, atomic link, newest wins.
  *
  * Only live ALTERATIONS are persisted — a listener that never
  * receives key 51 writes nothing (the static constructor credential
  * map is bootstrap config, re-seeded per process with fresh salts).
  * On reload the snapshot is authoritative for every user it names;
  * configured users absent from it re-seed, so deleting a
  * statically-configured user durably also requires dropping it from
  * the listener config — bootstrap-config semantics, disclosed (the
  * PLAIN path accepts that map directly regardless).
  *
  * Usernames are base64-armored (TxnStore's idiom) so the regex
  * parser never meets a quote inside a value; key material is base64
  * by nature.
  */
private[streaming] object ScramStore {

  private def b64(b: Array[Byte]): String = Base64.getEncoder.encodeToString(b)
  private def unb64(s: String): Array[Byte] = Base64.getDecoder.decode(s)

  private[streaming] def render(version: Long,
      creds: Seq[((String, Int), Scram.StoredCreds)]): String = {
    val rows = creds.sortBy { case ((u, m), _) => (u, m) }.map {
      case ((user, mech), c) =>
        s"""{"user":"${b64(user.getBytes("UTF-8"))}","mech":$mech,""" +
          s""""salt":"${b64(c.salt)}","iters":${c.iterations},""" +
          s""""stored":"${b64(c.storedKey)}","server":"${b64(c.serverKey)}"}"""
    }.mkString(",")
    s"""{"version":$version,"creds":[$rows]}"""
  }

  private val CredRe =
    ("""\{"user":"([^"]*)","mech":(\d+),"salt":"([^"]*)","iters":(\d+),""" +
      """"stored":"([^"]*)","server":"([^"]*)"\}""").r

  private[streaming] def parse(s: String): Seq[((String, Int), Scram.StoredCreds)] =
    CredRe.findAllMatchIn(s).map { m =>
      (new String(unb64(m.group(1)), "UTF-8"), m.group(2).toInt) ->
        Scram.StoredCreds(unb64(m.group(3)), m.group(4).toInt,
          unb64(m.group(5)), unb64(m.group(6)))
    }.toSeq
}
