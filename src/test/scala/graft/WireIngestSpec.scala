package graft

import java.net.{DatagramPacket, DatagramSocket, InetAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.sources.TestData
import graft.io.{Ingest, WireIngest}

/** Wire transports: real localhost sockets -> spool files -> the RESP
  * parse/ingest pipeline (reference: akumulid/tcp_server.cpp session
  * loop; udp_server.cpp per-packet parser). */
class WireIngestSpec extends SparkFunSuite {

  private def awaitSpool(dir: java.io.File, n: Int): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (dir.listFiles().count(_.getName.endsWith(".resp")) < n &&
           System.nanoTime() < deadline) Thread.sleep(20)
    assert(dir.listFiles().count(_.getName.endsWith(".resp")) >= n)
  }

  test("TCP: one connection = one dictionary session, published on close") {
    val spool = new java.io.File(TestData.freshScratch("graft-wire-tcp"))
    val srv = new WireIngest(spool)
    srv.start()
    try {
      val payload =
        "*2\n+cpu host=a\n:9\n" +
          (0 until 10).map(i => s":9\n:${1000000000L * i}\n+$i.5\n").mkString
      val sock = new Socket("127.0.0.1", srv.tcpBoundPort)
      sock.getOutputStream.write(payload.getBytes(UTF_8))
      sock.close() // close publishes the session
      awaitSpool(spool, 1)
      val parsed = Ingest.respFiles(spark, spool.getAbsolutePath)
      assert(parsed.count() == 10)
      assert(parsed.selectExpr("min(value)", "max(value)").collect()
        .head.toSeq == Seq(0.5, 9.5))
    } finally srv.stop()
  }

  test("UDP: per-datagram parser scope; dictionary packets isolated") {
    val spool = new java.io.File(TestData.freshScratch("graft-wire-udp"))
    val srv = new WireIngest(spool)
    srv.start()
    try {
      val udp = new DatagramSocket()
      val addr = InetAddress.getByName("127.0.0.1")
      def send(s: String): Unit = {
        val b = s.getBytes(UTF_8)
        udp.send(new DatagramPacket(b, b.length, addr, srv.udpBoundPort))
      }
      // two plain data-point packets (stateless; may share a spool file)
      send("+mem host=a\n:1000\n:1\n")
      send("+mem host=b\n:2000\n:2\n")
      // a dictionary-bearing packet: its ids must not leak to others
      send("*2\n+cpu host=c\n:5\n:5\n:3000\n:3\n")
      udp.close()
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (spool.listFiles().count(_.getName.startsWith("udp-dict")) < 1 &&
             System.nanoTime() < deadline) Thread.sleep(20)
      srv.flush() // publish the rolling plain-packet file
      awaitSpool(spool, 2)
      val parsed = Ingest.respFiles(spark, spool.getAbsolutePath)
      val rows = parsed.orderBy("ts").collect()
      assert(rows.length == 3)
      assert(rows.map(_.getAs[Double]("value")).toSeq == Seq(1.0, 2.0, 3.0))
      assert(rows.map(_.getAs[String]("metric")).toSeq ==
        Seq("mem", "mem", "cpu"))
    } finally srv.stop()
  }

  /** The spool files published under `spool` whose names start with
    * `kind-`, and the `.part` files left in `.tmp/`. */
  private def spooled(spool: java.io.File, kind: String): Seq[java.io.File] =
    spool.listFiles().toSeq.filter(_.getName.startsWith(s"$kind-"))
  private def parts(spool: java.io.File): Seq[String] =
    new java.io.File(spool, ".tmp").list().toSeq.filter(_.endsWith(".part"))

  test("every spool writer publishes exactly the validated bytes, no .part left") {
    val spool = new java.io.File(TestData.freshScratch("graft-wire-writers"))
    val srv = new WireIngest(spool)
    srv.start()
    try {
      // TCP session: a valid prefix larger than the 64 KiB write buffer,
      // then a bad entry; the file holds the prefix, byte for byte
      val good = (0 until 4000).map(i =>
        s"+cpu host=h${i % 7}\n:${1000000000L * i}\n+$i.25\n").mkString
      assert(good.length > (1 << 16))
      val sock = new Socket("127.0.0.1", srv.tcpBoundPort)
      try {
        sock.getOutputStream.write((good + "+broken\n:1\n:2\n").getBytes(UTF_8))
        sock.shutdownOutput()
        // the server closes the connection after publishing the session
        val reply = new String(sock.getInputStream.readAllBytes(), UTF_8)
        assert(reply.startsWith("-PARSER"))
      } finally sock.close()
      val tcp = spooled(spool, "tcp")
      assert(tcp.size == 1)
      assert(new String(Files.readAllBytes(tcp.head.toPath), UTF_8) == good)
      assert(parts(spool).isEmpty)

      // UDP: two plain packets roll into one file, the dictionary packet
      // (sent last, so the others are appended once it shows) is its own
      val udp = new DatagramSocket()
      val addr = InetAddress.getByName("127.0.0.1")
      def send(s: String): Unit = {
        val b = s.getBytes(UTF_8)
        udp.send(new DatagramPacket(b, b.length, addr, srv.udpBoundPort))
      }
      val plain = Seq("+mem host=a\n:1000\n:1", "+mem host=b\n:2000\n:2")
      val dict = "*2\n+cpu host=c\n:5\n:5\n:3000\n:3"
      (plain :+ dict).foreach(send)
      udp.close()
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (spooled(spool, "udp-dict").isEmpty &&
             System.nanoTime() < deadline) Thread.sleep(20)
      val dicts = spooled(spool, "udp-dict")
      assert(dicts.size == 1)
      assert(new String(Files.readAllBytes(dicts.head.toPath), UTF_8) ==
        dict + "\n")
      srv.flush()
      val rolls = spooled(spool, "udp").filterNot(dicts.contains)
      assert(rolls.size == 1)
      assert(new String(Files.readAllBytes(rolls.head.toPath), UTF_8) ==
        plain.map(_ + "\n").mkString)
      assert(parts(spool).isEmpty)
    } finally srv.stop()
  }

  // --- functests/test_ingestion_errors.py parity ------------------------
  /** Send `msg`, then read the server's response (the reference answers
    * a `-PARSER <err>\r\n` line while the client keeps the socket open —
    * send_malicious_message in the functest). */
  private def sendMalicious(port: Int, msg: String): String = {
    val sock = new Socket("127.0.0.1", port)
    sock.setSoTimeout(5000)
    sock.getOutputStream.write(msg.getBytes(UTF_8))
    sock.getOutputStream.flush()
    val buf = new Array[Byte](1024)
    val n = sock.getInputStream.read(buf)
    sock.close()
    if (n <= 0) "" else new String(buf, 0, n, UTF_8)
  }

  test("TCP answers -PARSER to malformed input (test_ingestion_errors)") {
    val spool = new java.io.File(TestData.freshScratch("graft-wire-err"))
    val srv = new WireIngest(spool)
    srv.start()
    try {
      // issue #94: a bare empty line must not crash or hang the server
      assert(sendMalicious(srv.tcpBoundPort, "\n").startsWith("-PARSER"))
      // issue #96: series name without tags is invalid
      assert(sendMalicious(srv.tcpBoundPort, "+metric\r\n:123\r\n+5.0")
        .startsWith("-PARSER"))
      // nothing valid arrived: no session published
      Thread.sleep(200)
      assert(spool.listFiles().count(_.getName.endsWith(".resp")) == 0)
    } finally srv.stop()
  }

  test("TCP bounds the carry: a newline-less flood answers -PARSER") {
    val spool = new java.io.File(TestData.freshScratch("graft-wire-flood"))
    val srv = new WireIngest(spool)
    srv.start()
    try {
      // a few valid samples, then a single "line" that never terminates:
      // the server must cut the connection with a protocol error once the
      // carry passes the bound instead of buffering the stream into heap
      val good = (0 until 3).map(i =>
        s"+cpu host=a\n:${1000000000L * i}\n:$i\n").mkString
      val sock = new Socket("127.0.0.1", srv.tcpBoundPort)
      sock.setSoTimeout(10000)
      val out = sock.getOutputStream
      out.write(good.getBytes(UTF_8))
      val blob = new Array[Byte](1 << 16)
      java.util.Arrays.fill(blob, 'x'.toByte)
      var resp = ""
      try {
        var sent = 0L
        while (sent < (64L << 20)) { // far past MaxCarryBytes; -PARSER cuts in
          out.write(blob); out.flush(); sent += blob.length
        }
      } catch { case _: java.io.IOException => () } // server closed on us
      try {
        val b = new Array[Byte](256)
        val m = sock.getInputStream.read(b)
        if (m > 0) resp = new String(b, 0, m, UTF_8)
      } catch { case _: java.io.IOException => () }
      sock.close()
      // either we read the -PARSER line or the server already tore down
      // the socket after sending it; the spooled prefix must survive
      if (resp.nonEmpty) assert(resp.startsWith("-PARSER"))
      awaitSpool(spool, 1)
      val parsed = Ingest.respFiles(spark, spool.getAbsolutePath)
      assert(parsed.count() == 3)
    } finally srv.stop()
  }

  test("TCP keeps samples validated before a protocol error") {
    val spool = new java.io.File(TestData.freshScratch("graft-wire-trunc"))
    val srv = new WireIngest(spool)
    srv.start()
    try {
      val good = (0 until 4).map(i =>
        s"+cpu host=a\n:${1000000000L * i}\n:$i\n").mkString
      val resp = sendMalicious(srv.tcpBoundPort, good + "+broken\n:1\n:2\n")
      assert(resp.startsWith("-PARSER"))
      awaitSpool(spool, 1)
      val parsed = Ingest.respFiles(spark, spool.getAbsolutePath)
      assert(parsed.count() == 4) // the prefix before the bad entry
    } finally srv.stop()
  }

  // --- functests/test_incomplete_write.py parity ------------------------
  test("incomplete final entry at clean close is discarded silently") {
    val spool = new java.io.File(TestData.freshScratch("graft-wire-incomplete"))
    val srv = new WireIngest(spool)
    srv.start()
    try {
      // case 2: the value line never gets its terminator — an incomplete
      // write. No data may surface and NO error line is sent.
      val sock = new Socket("127.0.0.1", srv.tcpBoundPort)
      sock.setSoTimeout(5000)
      sock.getOutputStream.write(
        "+cpuload host=machine2\r\n:1418224205000000000\r\n+25.0"
          .getBytes(UTF_8))
      sock.getOutputStream.flush()
      sock.shutdownOutput() // clean close of the write half
      // server closes without answering anything: read returns EOF
      assert(sock.getInputStream.read() == -1)
      sock.close()
      // an entry suspended at a LINE boundary (series+ts sent, value
      // missing entirely) is equally incomplete: same silent discard
      val s2 = new Socket("127.0.0.1", srv.tcpBoundPort)
      s2.setSoTimeout(5000)
      s2.getOutputStream.write("+cpuload host=machine3\r\n:1\r\n".getBytes(UTF_8))
      s2.shutdownOutput()
      assert(s2.getInputStream.read() == -1)
      s2.close()
      Thread.sleep(200)
      assert(spool.listFiles().count(_.getName.endsWith(".resp")) == 0)
    } finally srv.stop()
  }

  test("valid prefix survives an incomplete tail on the same connection") {
    val spool = new java.io.File(TestData.freshScratch("graft-wire-prefix"))
    val srv = new WireIngest(spool)
    srv.start()
    try {
      val good = (0 until 3).map(i =>
        s"+cpu host=a\r\n:${1000000000L * i}\r\n:$i\r\n").mkString
      val sock = new Socket("127.0.0.1", srv.tcpBoundPort)
      sock.setSoTimeout(5000)
      sock.getOutputStream.write((good + "+cpu host=a\r\n:99").getBytes(UTF_8))
      sock.getOutputStream.flush()
      sock.shutdownOutput()
      assert(sock.getInputStream.read() == -1) // still no error line
      sock.close()
      awaitSpool(spool, 1)
      val parsed = Ingest.respFiles(spark, spool.getAbsolutePath)
      assert(parsed.count() == 3) // the complete entries, nothing torn
    } finally srv.stop()
  }

  // --- functests/test_wal_parallel.py parity ----------------------------
  test("parallel TCP writers: every sample from every connection lands") {
    val spool = new java.io.File(TestData.freshScratch("graft-wire-par"))
    val srv = new WireIngest(spool)
    srv.start()
    try {
      val writers = 4; val per = 500
      val threads = (0 until writers).map { w =>
        new Thread(() => {
          val sock = new Socket("127.0.0.1", srv.tcpBoundPort)
          val sb = new java.lang.StringBuilder(per * 40)
          for (i <- 0 until per)
            sb.append(s"+cpu host=h$w\r\n:")
              .append(1000000000L * (w * per + i)).append("\r\n:")
              .append(w * per + i).append("\r\n")
          sock.getOutputStream.write(sb.toString.getBytes(UTF_8))
          sock.close()
        }, s"par-writer-$w")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      awaitSpool(spool, writers)
      val parsed = Ingest.respFiles(spark, spool.getAbsolutePath)
      assert(parsed.count() == writers.toLong * per)
      // per-series completeness: each writer's full value range arrived
      val sums = parsed.groupBy("tags.host").sum("value")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      for (w <- 0 until writers) {
        val lo = w.toLong * per; val hi = lo + per - 1
        assert(sums(s"h$w") == (lo to hi).sum.toDouble)
      }
    } finally srv.stop()
  }

  test("OpenTSDB telnet: puts spool, stats/version answer, unknown errors") {
    val spool = new java.io.File(TestData.freshScratch("graft-wire-tsdb"))
    val srv = new WireIngest(spool, protocol = WireIngest.OpenTsdb)
    srv.start()
    try {
      // puts + ignored command on one connection
      val sock = new Socket("127.0.0.1", srv.tcpBoundPort)
      sock.getOutputStream.write(
        ("put cpu 1000 1.5 host=a\nhelp\nput cpu 2000 2.5 host=a\n")
          .getBytes(UTF_8))
      sock.close()
      awaitSpool(spool, 1)
      val parsed = Ingest.openTsdbFiles(spark, spool.getAbsolutePath)
      assert(parsed.count() == 2)
      assert(parsed.selectExpr("max(value)").head.getDouble(0) == 2.5)
      // version gets the reference's canned response
      val v = new Socket("127.0.0.1", srv.tcpBoundPort)
      v.setSoTimeout(5000)
      v.getOutputStream.write("version\n".getBytes(UTF_8))
      val vbuf = new Array[Byte](256)
      val vn = v.getInputStream.read(vbuf)
      v.close()
      assert(new String(vbuf, 0, vn, UTF_8).contains("net.opentsdb.tools"))
      // unknown command answers the reference's error line
      val u = new Socket("127.0.0.1", srv.tcpBoundPort)
      u.setSoTimeout(5000)
      u.getOutputStream.write("nosuchcommand\n".getBytes(UTF_8))
      val ubuf = new Array[Byte](256)
      val un = u.getInputStream.read(ubuf)
      u.close()
      assert(new String(ubuf, 0, un, UTF_8).startsWith("error: unknown command"))
    } finally srv.stop()
  }

  test("TCP sessions feed the full ingest path end-to-end") {
    val spool = new java.io.File(TestData.freshScratch("graft-wire-e2e"))
    val out = new java.io.File(TestData.freshScratch("graft-wire-out"))
    val srv = new WireIngest(spool)
    srv.start()
    try {
      for (c <- 0 until 3) {
        val sock = new Socket("127.0.0.1", srv.tcpBoundPort)
        val payload = (0 until 5).map(i =>
          s"+cpu host=h$c\n:${1000000000L * (c * 5 + i)}\n:${c * 5 + i}\n").mkString
        sock.getOutputStream.write(payload.getBytes(UTF_8))
        sock.close()
      }
      awaitSpool(spool, 3)
      Ingest.ingestResp(spark, spool.getAbsolutePath,
        out.getAbsolutePath, flattenTags = Seq("host"))
      val st = Ingest.readLayout(spark, out.getAbsolutePath)
      assert(st.samples.count() == 15)
      assert(st.series.count() == 3)
    } finally srv.stop()
  }
}
