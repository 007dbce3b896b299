package graft

import graft.http.RiemannTcpServer
import graft.ir.{EngineCtx, Node, StreamRegistry}
import graft.sources.RiemannCodec
import graft.sources.RiemannCodec.RiemannEvent
import org.scalatest.funsuite.AnyFunSuite

import java.io.DataInputStream
import java.net.Socket

/** Riemann TCP transport: int32-framed protobuf Msg in, sync Msg{ok}
  * ACK out after stream apply — driven over a real socket with the
  * codec's own encoder as the client.
  */
class RiemannTcpSpec extends AnyFunSuite {
  import TestSpark._

  private def rev(metric: Double, timeNs: Long, host: String): RiemannEvent =
    RiemannEvent(time = Some(timeNs), state = Some("ok"), service = Some("svc"),
      description = None, tags = Seq("t1"), ttl = Some(60f),
      metric = Some(metric), attributes = Map("host" -> host))

  private def sendFrame(sock: Socket, payload: Array[Byte]): (Option[Boolean], Option[String]) = {
    sock.getOutputStream.write(RiemannCodec.frame(payload))
    sock.getOutputStream.flush()
    val in = new DataInputStream(sock.getInputStream)
    val len = in.readInt()
    val ack = new Array[Byte](len)
    in.readFully(ack)
    RiemannCodec.decodeAck(ack)
  }

  test("framed Msg pushes through default streams; ACK arrives after apply; errors keep the connection") {
    val outDir = TestSpark.tempDir("riemann_tcp").toString
    val reg = new StreamRegistry(EngineCtx(testMode = false))
    reg.add("sink", Node.fromJson(
      s"""{"action":"where","params":[[">","metric",100]],
         | "children":[{"action":"output-file","params":[{"path":"$outDir/out"}]}]}""".stripMargin),
      default = true)
    val srv = new RiemannTcpServer(reg, spark).start()
    try {
      val sock = new Socket("127.0.0.1", srv.boundPort)
      // batch 1: one passing, one filtered event
      val (ok1, err1) = sendFrame(sock,
        RiemannCodec.encodeMsg(Seq(rev(200.0, 1 * S, "a"), rev(50.0, 2 * S, "b"))))
      assert(ok1.contains(true) && err1.isEmpty)
      // the ACK is sync-after-apply: the sink rows exist NOW
      val back = spark.read.json(s"$outDir/out")
      assert(back.count() == 1)
      val row = back.select("host", "service", "metric").collect().head
      assert(row.getString(0) == "a" && row.getString(1) == "svc" && row.getDouble(2) == 200.0)

      // a corrupt frame is an ok=false ACK with an error, not a hangup
      val (ok2, err2) = sendFrame(sock, Array[Byte](0x32, 0x7F, 0x01)) // truncated nested length
      assert(ok2.contains(false) && err2.exists(_.nonEmpty))

      // the same connection still accepts valid frames afterwards
      val (ok3, _) = sendFrame(sock, RiemannCodec.encodeMsg(Seq(rev(300.0, 3 * S, "c"))))
      assert(ok3.contains(true))
      assert(spark.read.json(s"$outDir/out").count() == 2)
      sock.close()
    } finally srv.stop()
  }

  test("a stream that fails at APPLY time answers ok=false — the sync-ack client is never left hanging") {
    val reg = new StreamRegistry(EngineCtx(testMode = false))
    // compiles to col("bogus") > 1: resolution fails when the push applies
    reg.add("bad", Node.fromJson(
      """{"action":"where","params":[[">","bogus",1]],"children":[]}"""), default = true)
    val srv = new RiemannTcpServer(reg, spark).start()
    try {
      val sock = new Socket("127.0.0.1", srv.boundPort)
      val (ok, err) = sendFrame(sock, RiemannCodec.encodeMsg(Seq(rev(1.0, 1 * S, "a"))))
      assert(ok.contains(false) && err.exists(_.nonEmpty))
      // the connection survives the apply failure too
      val (ok2, _) = sendFrame(sock, RiemannCodec.encodeMsg(Seq(rev(2.0, 2 * S, "b"))))
      assert(ok2.contains(false))
      sock.close()
    } finally srv.stop()
  }

  test("a frame whose file-sink job fails is nacked and leaves no sink rows; the next frame lands") {
    val out = TestSpark.tempDir("riemann_tcp_fail").resolve("out")
    val boom = org.apache.spark.sql.functions.udf((m: Double) =>
      if (m == 666.0) throw new IllegalStateException("boom") else m)
    val reg = new StreamRegistry(EngineCtx(testMode = false, custom = Map("boom" ->
      (_ => (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("metric", boom(org.apache.spark.sql.functions.col("metric")))))))
    reg.add("sink", Node.fromJson(
      s"""{"action":"custom","params":["boom"],
         | "children":[{"action":"output-file","params":[{"path":"$out"}]}]}""".stripMargin),
      default = true)
    val srv = new RiemannTcpServer(reg, spark).start()
    try {
      val sock = new Socket("127.0.0.1", srv.boundPort)
      val (ok, _) = sendFrame(sock, RiemannCodec.encodeMsg(Seq(rev(1.0, 1 * S, "a"), rev(666.0, 2 * S, "a"))))
      assert(ok.contains(false))
      // no part file, no staging directory
      assert(java.nio.file.Files.list(out).count() == 0)
      val (ok2, _) = sendFrame(sock, RiemannCodec.encodeMsg(Seq(rev(2.0, 3 * S, "a"))))
      assert(ok2.contains(true))
      assert(spark.read.json(out.toString).select("metric").collect().map(_.getDouble(0)).toSeq == Seq(2.0))
      sock.close()
    } finally srv.stop()
  }

  test("TLS round-trip: mutual-TLS client delivers frames; plaintext client is rejected") {
    // throwaway PKI generated per-run (CA + server/client certs signed by
    // it) — mirrors the reference's key/cert/cacert config triple
    // (tcp.clj:150-153,176-182) and its needClientAuth (tcp.clj:110-117)
    assume(
      try { new ProcessBuilder("openssl", "version").start().waitFor() == 0 }
      catch { case _: java.io.IOException => false },
      "openssl not on PATH")
    val dir = TestSpark.tempDir("graft-tls")
    def sh(cmd: String*): Unit = {
      val p = new ProcessBuilder(cmd: _*).directory(dir.toFile)
        .redirectErrorStream(true).start()
      val log = new String(p.getInputStream.readAllBytes())
      assert(p.waitFor() == 0, s"${cmd.mkString(" ")} failed:\n$log")
    }
    sh("openssl", "genpkey", "-algorithm", "RSA", "-pkeyopt", "rsa_keygen_bits:2048", "-out", "ca.key")
    sh("openssl", "req", "-x509", "-new", "-key", "ca.key", "-subj", "/CN=graft-test-ca",
      "-days", "2", "-out", "ca.pem")
    for (side <- Seq("server", "client")) {
      sh("openssl", "genpkey", "-algorithm", "RSA", "-pkeyopt", "rsa_keygen_bits:2048",
        "-out", s"$side.key")
      sh("openssl", "req", "-new", "-key", s"$side.key", "-subj", s"/CN=graft-$side",
        "-out", s"$side.csr")
      sh("openssl", "x509", "-req", "-in", s"$side.csr", "-CA", "ca.pem", "-CAkey", "ca.key",
        "-CAcreateserial", "-days", "2", "-out", s"$side.pem")
    }
    def cfg(side: String) = graft.http.Tls.Config(
      key = dir.resolve(s"$side.key").toString,
      cert = dir.resolve(s"$side.pem").toString,
      cacert = dir.resolve("ca.pem").toString)

    val outDir = TestSpark.tempDir("riemann_tls_out").toString
    val reg = new StreamRegistry(EngineCtx(testMode = false))
    reg.add("sink", Node.fromJson(
      s"""{"action":"output-file","params":[{"path":"$outDir/out"}]}"""), default = true)
    val srv = new RiemannTcpServer(reg, spark, tls = Some(cfg("server"))).start()
    try {
      val sock = graft.http.Tls.sslContext(cfg("client")).getSocketFactory
        .createSocket("127.0.0.1", srv.boundPort)
      val (ok, err) = sendFrame(sock.asInstanceOf[Socket],
        RiemannCodec.encodeMsg(Seq(rev(42.0, 1 * S, "tls-host"))))
      assert(ok.contains(true) && err.isEmpty)
      val back = spark.read.json(s"$outDir/out")
      assert(back.select("host", "metric").collect().map(r =>
        (r.getString(0), r.getDouble(1))).toSeq == Seq(("tls-host", 42.0)))
      sock.close()

      // a plaintext client cannot deliver: the handshake fails, the
      // server answers at most a TLS alert (never a framed Riemann ACK),
      // and the event is not applied
      val plain = new Socket("127.0.0.1", srv.boundPort)
      try intercept[java.io.IOException] {
        sendFrame(plain, RiemannCodec.encodeMsg(Seq(rev(1.0, 2 * S, "plain"))))
      } finally plain.close()
      assert(spark.read.json(s"$outDir/out").count() == 1)
    } finally srv.stop()
  }

  test("oversized frame headers close the connection instead of allocating") {
    val reg = new StreamRegistry(EngineCtx(testMode = false))
    val srv = new RiemannTcpServer(reg, spark, maxFrameBytes = 1024).start()
    try {
      val sock = new Socket("127.0.0.1", srv.boundPort)
      val out = sock.getOutputStream
      out.write(Array[Byte](0x7F, -1, -1, -1)) // ~2 GiB declared length
      out.flush()
      // server closes without an ACK
      assert(sock.getInputStream.read() == -1)
      sock.close()
    } finally srv.stop()
  }
}
