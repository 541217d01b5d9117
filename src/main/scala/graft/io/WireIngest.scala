package graft.io

import java.io.{BufferedOutputStream, File}
import java.net.{DatagramPacket, DatagramSocket, InetSocketAddress, ServerSocket, Socket}
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** Wire transports for RESP ingestion (reference: akumulid/tcp_server.cpp,
  * akumulid/udp_server.cpp). The parser layer is transport-agnostic; this
  * layer adapts push protocols to Spark's pull model by spooling COMPLETE
  * sessions as files that [[Ingest.respFiles]] / [[Ingest.ingestResp]]
  * (batch) or `StreamIngest.respFileStream` (continuous) consume —
  * file-granular micro-batching, the idiomatic Spark bridge for sockets.
  *
  * Session semantics match the reference:
  *  - TCP: one connection = one parser session (the dictionary is
  *    connection-scoped, tcp_server.cpp session loop) -> one spool file
  *    per connection, published atomically when the connection closes so
  *    consumers never see a half-written session.
  *  - UDP: every datagram gets a FRESH parser (udp_server.cpp:152-157) —
  *    datagrams carrying a dictionary (`*` prelude) become their own
  *    session file; plain data-point datagrams are stateless, so they
  *    concatenate into rolling shared files (identical parse result, far
  *    fewer files).
  *
  * Flush policy: never fsync; a session costs page-cache latencies only.
  * Every spool file is created unique in `.tmp/` and written through the
  * descriptor that `spoolFile` opens WITHOUT truncation. Reopening the
  * fresh file with `FileOutputStream` (always `O_TRUNC`) would make ext4
  * (default `auto_da_alloc`) treat it as a truncate-then-rewrite
  * replacement: it starts write-back when the file is closed, and every
  * later unlink of the published file (a consumer retiring a spooled
  * batch) blocks until that disk write finishes, ~100 ms a file. A
  * published session survives a process crash (SIGKILL) because the
  * atomic rename happens only after the close; power-loss durability was
  * never promised, and is unchanged.
  */
final class WireIngest(spoolDir: File, tcpPort: Int = 0, udpPort: Int = 0,
                       protocol: WireIngest.Protocol = WireIngest.Resp) {
  // Like the reference's paired TCPAcceptors (RESP on 8282, OpenTSDB
  // telnet on 4242): run ONE WireIngest per protocol, each with its own
  // spool directory, and read RESP spools with Ingest.respFiles /
  // OpenTSDB spools with Ingest.openTsdbFiles.

  spoolDir.mkdirs()
  private val tmpDir = new File(spoolDir, ".tmp"); tmpDir.mkdirs()

  private val running = new AtomicBoolean(false)
  private val seq = new AtomicLong()
  // open TCP connections, so stop() can sever them like a process death
  private val conns =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  private val tcpSocket = new ServerSocket()
  tcpSocket.bind(new InetSocketAddress("127.0.0.1", tcpPort))
  private val udpSocket = new DatagramSocket(
    new InetSocketAddress("127.0.0.1", udpPort))

  def tcpBoundPort: Int = tcpSocket.getLocalPort
  def udpBoundPort: Int = udpSocket.getLocalPort

  /** Sessions published so far (spool files made visible by the atomic
    * rename). The publish happens in the connection's handler thread
    * AFTER the client's close() returns, so a caller that needs
    * ordered / complete ingestion (a soak test, a monitor, a drain
    * sequence) awaits this counter rather than sleeping. */
  def sessionsPublished: Long = seq.get()

  // per-instance nonce: without it a RESTARTED server's counter begins
  // at 1 again and its first sessions silently REPLACE the previous
  // lifetime's spool files (ATOMIC_MOVE overwrites) — data loss across
  // restarts, caught by the test_restart parity spec
  private val nonce = java.lang.Long.toHexString(
    System.currentTimeMillis() ^ System.nanoTime())

  /** A fresh, uniquely named spool file in `.tmp/` and a buffered writer
    * over it, opened without truncation (see the flush policy above). */
  private def spoolFile(prefix: String, bufBytes: Int)
      : (Path, BufferedOutputStream) = {
    val tmp = Files.createTempFile(tmpDir.toPath, prefix, ".part")
    (tmp, new BufferedOutputStream(
      Files.newOutputStream(tmp, StandardOpenOption.WRITE), bufBytes))
  }

  private def publish(tmp: Path, kind: String): Unit =
    Files.move(tmp,
      new File(spoolDir, s"$kind-$nonce-${seq.incrementAndGet()}.resp").toPath,
      StandardCopyOption.ATOMIC_MOVE)

  // --- TCP: session file per connection ---------------------------------
  // The stream is validated INLINE (RESP: a resumable strict-mode parser
  // that rejects empty lines, as akumulid does; OpenTSDB: line by line);
  // on a protocol error the handler answers the protocol's error line on
  // the socket and keeps only the samples validated BEFORE the bad entry
  // — the spool receives validated bytes only, so downstream batch/stream
  // consumers never see the bad tail.
  private def handleConn(sock: Socket): Unit = protocol match {
    // reference's `-PARSER <err>\r\n` line (protocolparser.cpp error_repr)
    case WireIngest.Resp =>
      session(sock, "tcp", m => s"-PARSER $m\r\n", "internal error")(respFeed)
    case WireIngest.OpenTsdb =>
      session(sock, "opentsdb", m => s"error: $m\n", "internal")(
        openTsdbFeed(sock, _))
  }

  /** One TCP session, shared by both protocols: reads the socket, hands
    * each run of complete lines to the protocol's `feed` (which spools
    * what it validated to `out`), and bounds the carried partial line.
    * Every exit — clean close, protocol error, connection reset, an
    * unforeseen throw — closes the spool file and publishes it under
    * `kind` if anything was spooled (the validated prefix, like the
    * reference's WAL retaining points written before the error), else
    * deletes it. `reply` frames the error line sent back; `internal`
    * labels an unforeseen throw in it. */
  private def session(sock: Socket, kind: String, reply: String => String,
                      internal: String)(
      feed: BufferedOutputStream => Array[Byte] => Unit): Unit = {
    val (tmp, out) = spoolFile(kind, 1 << 16)
    def send(msg: String): Unit =
      try sock.getOutputStream.write(
        reply(msg).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: java.io.IOException => () }
    try {
      try {
        val onLines = feed(out)
        val in = sock.getInputStream
        val buf = new Array[Byte](1 << 16)
        // bytes received but not yet handed on ('\n' is ASCII, so
        // cutting at the last newline is UTF-8 safe)
        var tail = Array.emptyByteArray
        var n = in.read(buf)
        while (n > 0) {
          val chunk = tail ++ java.util.Arrays.copyOf(buf, n)
          var cut = chunk.length - 1
          while (cut >= 0 && chunk(cut) != '\n') cut -= 1
          if (cut >= 0) {
            onLines(java.util.Arrays.copyOf(chunk, cut + 1))
            tail = java.util.Arrays.copyOfRange(chunk, cut + 1, chunk.length)
          } else tail = chunk
          // bound the carry: a newline-less stream would otherwise grow
          // (and re-copy) `tail` without limit
          if (tail.length > LineProtocol.MaxCarryBytes)
            throw LineProtocol.ProtocolParseException(
              s"line exceeds ${LineProtocol.MaxCarryBytes} bytes")
          n = in.read(buf)
        }
        // connection closed cleanly: an incomplete trailing entry — a
        // partial line left in `tail` (no terminator arrived) or an entry
        // suspended mid-way across complete lines — is discarded
        // SILENTLY, no error and no data, like the reference's parser
        // coroutine just ending at stream EOF
        // (functests/test_incomplete_write.py case 2: "No error message
        // expected because the write is incomplete"). The suspended text
        // was never spooled, so nothing torn reaches consumers.
      } catch {
        case e: LineProtocol.ProtocolParseException => send(e.msg)
        case _: java.io.IOException =>
          // connection reset / server crash mid-session: keep the
          // validated prefix — test_kill.py restarts after SIGKILL and
          // reads back whatever arrived before the crash
          ()
        case scala.util.control.NonFatal(e) =>
          // defense in depth: the parser layer normalizes its errors to
          // ProtocolParseException (fuzz-tested), but an unforeseen throw
          // must degrade to the error-line contract, never a dead thread
          send(s"$internal: ${e.getClass.getSimpleName}")
      }
      out.close()
      if (Files.size(tmp) > 0) publish(tmp, kind) else Files.deleteIfExists(tmp)
    } finally { conns.remove(sock); sock.close() }
  }

  /** RESP: feed each chunk to the connection's resumable parser, then
    * spool the prefix it consumed (everything but a suspended entry's
    * text, which is re-spooled once it completes on a later chunk). */
  private def respFeed(out: BufferedOutputStream): Array[Byte] => Unit = {
    val cursor = new LineProtocol.RespCursor[Unit](
      (_, _, _, _) => (), strict = true)
    bs => {
      val before = cursor.pending
      val text = new String(bs, java.nio.charset.StandardCharsets.UTF_8)
      cursor.append(text)
      // spool in finally: on a protocol error the cursor rewinds to the
      // bad entry's start, so entries validated earlier in this same
      // chunk still reach the spool before the error propagates
      try while (cursor.step()) while (cursor.hasQueued) cursor.poll()
      finally {
        // consumed this round = (old carry + chunk) minus the new carry;
        // carries start at line boundaries so the re-encode is exact
        val consumed = (before + text).dropRight(cursor.pending.length)
        if (consumed.nonEmpty)
          out.write(consumed.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
  }

  // OpenTSDB telnet (reference: the second TCPAcceptor on port 4242,
  // protocolparser.cpp:690-965): line-oriented and stateless. `put` lines
  // are validated and spooled; stats/version get the reference's canned
  // responses; rollup/histogram/help/dropcaches are ignored; an unknown
  // command answers `error: <msg>` and closes with the validated prefix
  // kept.
  private def openTsdbFeed(sock: Socket, out: BufferedOutputStream)
      : Array[Byte] => Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def handleLine(line: String): Unit = {
      val cmd = line.trim.takeWhile(!_.isWhitespace)
      cmd match {
        case "" => ()
        case "stats" => // reference's fake stats (protocolparser.cpp:942-947)
          sock.getOutputStream.write(
            "akumuli.rpcs 1479600574 0 type=fake\n".getBytes(utf8))
        case "version" =>
          sock.getOutputStream.write(
            ("net.opentsdb.tools BuildData built at revision a000000\n" +
              "Akumuli to TSD converter\n").getBytes(utf8))
        case _ =>
          // validates puts (one sample each, or a throw), ignores the
          // known-no-op commands, throws on unknown commands
          if (LineProtocol.parseOpenTsdb(line).nonEmpty) {
            out.write(line.getBytes(utf8)); out.write('\n')
          }
      }
    }
    bs => new String(bs, utf8).linesIterator.foreach(handleLine)
  }

  private val tcpThread = new Thread(() => {
    while (running.get()) {
      try {
        val sock = tcpSocket.accept()
        conns.add(sock)
        val t = new Thread(() => handleConn(sock))
        t.setDaemon(true); t.start()
      } catch { case _: java.io.IOException => /* closed during stop() */ }
    }
  }, "wire-tcp-accept")

  // --- UDP: fresh parser scope per datagram ------------------------------
  // plain data-point datagrams roll into a shared file; dictionary
  // datagrams are published alone to keep the per-packet parser scope
  private var udpRoll: Option[(Path, BufferedOutputStream)] = None
  private var udpRollBytes = 0L
  private val RollLimit = 8L << 20

  private def udpAppend(data: Array[Byte], len: Int): Unit = synchronized {
    if (len > 0 && data(0) == '*') { // dictionary-bearing packet
      val (tmp, o) = spoolFile("udp", 8192)
      o.write(data, 0, len); o.write('\n'); o.close()
      publish(tmp, "udp-dict")
    } else {
      val (path, out) = udpRoll.getOrElse {
        val roll = spoolFile("udp", 1 << 16)
        udpRoll = Some(roll); udpRollBytes = 0L
        roll
      }
      out.write(data, 0, len); out.write('\n')
      udpRollBytes += len + 1
      if (udpRollBytes >= RollLimit) { out.close(); publish(path, "udp"); udpRoll = None }
    }
  }

  /** Publish any partially-filled UDP roll file (tests / shutdown). */
  def flush(): Unit = synchronized {
    udpRoll.foreach { case (path, out) => out.close(); publish(path, "udp") }
    udpRoll = None
  }

  private val udpThread = new Thread(() => {
    val buf = new Array[Byte](64 << 10) // reference UDP payload bound
    val packet = new DatagramPacket(buf, buf.length)
    while (running.get()) {
      try {
        udpSocket.receive(packet)
        udpAppend(packet.getData, packet.getLength)
      } catch { case _: java.io.IOException => /* closed during stop() */ }
    }
  }, "wire-udp-recv")

  def start(): Unit = {
    running.set(true)
    tcpThread.setDaemon(true); udpThread.setDaemon(true)
    tcpThread.start(); udpThread.start()
  }

  def stop(): Unit = {
    running.set(false)
    // close the socket and JOIN the receive thread BEFORE the final
    // flush: a datagram landing between flush and close would open a
    // fresh roll that nothing ever publishes — accepted data lost
    tcpSocket.close()
    udpSocket.close()
    try udpThread.join(5000) catch { case _: InterruptedException => () }
    flush()
    // sever open connections like a process death: handlers take their
    // IOException path and publish each session's validated prefix
    conns.forEach(s => try s.close() catch { case _: Exception => () })
    conns.clear()
  }
}

object WireIngest {
  /** Wire protocol served by an instance (reference: akumulid runs one
    * TCPAcceptor per protocol). */
  sealed trait Protocol
  case object Resp extends Protocol
  case object OpenTsdb extends Protocol
}
