package graft.streaming

import java.io.DataInputStream
import java.net.Socket
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Frames before authentication are bounded: a secured listener reads
  * at most [[WireServer.MaxPreAuthFrameBytes]] (Kafka's
  * sasl.server.max.receive.size, 512 KiB) from a connection that has
  * not finished SASL, and closes on a larger size prefix without
  * waiting for (or allocating) the payload. After authentication, and
  * on an unsecured listener, the full request limit applies. */
class PreAuthFrameCapSpec extends AnyFunSuite {
  import KafkaWire._
  lazy val spark = TestSpark.spark

  private val OneMiB = 1024 * 1024

  private def sizePrefix(n: Int): Array[Byte] =
    Array((n >>> 24).toByte, (n >>> 16).toByte, (n >>> 8).toByte, n.toByte)

  private def plainToken(user: String, pass: String): Array[Byte] =
    (0.toChar + user + 0.toChar + pass).getBytes("UTF-8")

  /** A produce whose single record carries `bytes` of value — a frame
    * well above the pre-auth cap. */
  private def bigProduce(topic: String, corr: Int, bytes: Int): Array[Byte] =
    encodeProduceRequest(9, corr, "cli", null, 1, 30000,
      Seq((topic, Seq((0, Seq(WireRecordV2(1700000000000L, null,
        Array.fill[Byte](bytes)(7))))))))

  private def connect(server: WireServer): Socket = {
    val s = new Socket("127.0.0.1", server.boundPort)
    s.setSoTimeout(20000) // a listener waiting for the payload fails the test
    s
  }

  test("a secured listener closes a pre-auth connection announcing a 1 MiB frame") {
    val broker = new Broker(spark, Files.createTempDirectory("graft-cap").toString)
    val server = new WireServer(broker, credentials = Map("alice" -> "secret")).start()
    try {
      val sock = connect(server)
      try {
        // the size prefix alone: the listener must decide on it, not
        // block reading a megabyte that never comes
        sock.getOutputStream.write(sizePrefix(OneMiB))
        sock.getOutputStream.flush()
        assert(new DataInputStream(sock.getInputStream).read() === -1)
      } finally sock.close()
      // only that connection is dropped: small pre-auth frames (the
      // ApiVersions probe) still serve on a fresh one
      val probe = connect(server)
      try {
        val av = decodeApiVersionsResponsePreV3(0,
          WireTestClient.exchange(probe, encodeApiVersionsRequest(0, 2, "cli")))
        assert(av.errorCode === 0)
      } finally probe.close()
    } finally server.close()
  }

  test("after SASL the same listener accepts a produce above the pre-auth cap") {
    val broker = new Broker(spark, Files.createTempDirectory("graft-cap-auth").toString)
    broker.createTopic("big", 1)
    val server = new WireServer(broker, credentials = Map("alice" -> "secret")).start()
    try {
      val sock = connect(server)
      try {
        val (_, h, _) = decodeSaslHandshakeResponse(WireTestClient.exchange(sock,
          encodeSaslHandshakeRequest(1, 1, "cli", "PLAIN")))
        assert(h === 0)
        val (_, a, _, _) = decodeSaslAuthenticateResponse(2, WireTestClient.exchange(sock,
          encodeSaslAuthenticateRequest(2, 2, "cli", plainToken("alice", "secret"))))
        assert(a === 0)
        val request = bigProduce("big", 3, 600 * 1024)
        assert(request.length - 4 > WireServer.MaxPreAuthFrameBytes)
        val (_, res) = decodeProduceResponse(9, WireTestClient.exchange(sock, request))
        assert(res.head._2.head === ((0, 0, 0L)))
      } finally sock.close()
    } finally server.close()
  }

  test("an unsecured listener is unaffected by the pre-auth cap") {
    val broker = new Broker(spark, Files.createTempDirectory("graft-cap-open").toString)
    broker.createTopic("open", 1)
    val server = new WireServer(broker).start()
    try {
      val sock = connect(server)
      try {
        val request = bigProduce("open", 1, 600 * 1024)
        assert(request.length - 4 > WireServer.MaxPreAuthFrameBytes)
        val (_, res) = decodeProduceResponse(9, WireTestClient.exchange(sock, request))
        assert(res.head._2.head === ((0, 0, 0L)))
      } finally sock.close()
    } finally server.close()
  }
}
