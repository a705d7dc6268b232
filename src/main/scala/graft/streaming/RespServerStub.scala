package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.concurrent.TrieMap

/** In-JVM RESP2 server stub for [[RespKvStore]] tests (and perfbench's stream workload) —
  * the same role RegistrySpec's local HTTP server plays for the schema
  * registry: a protocol-accurate counterpart (real sockets, real RESP
  * framing) implementing exactly the command surface the engine's sink
  * and serving layers use: PING, HSET, HGETALL, EXPIRE, SET, GET, LPUSH,
  * LTRIM, LRANGE, PUBLISH, SUBSCRIBE.
  */
final class RespServerStub extends AutoCloseable {
  val hashes = TrieMap.empty[String, Map[String, String]]
  val strings = TrieMap.empty[String, String]
  val lists = TrieMap.empty[String, List[String]]
  val expires = TrieMap.empty[String, Long]
  val published = TrieMap.empty[String, List[String]]
  private val subscribers =
    new java.util.concurrent.CopyOnWriteArrayList[(Set[String], Socket)]()

  private val server = new ServerSocket(0)
  val port: Int = server.getLocalPort
  @volatile private var open = true

  private val acceptor = new Thread(() => {
    while (open) {
      try {
        val s = server.accept()
        val t = new Thread(() => serve(s), "resp-stub-conn")
        t.setDaemon(true); t.start()
      } catch { case _: Exception if !open => () case _: Exception => () }
    }
  }, "resp-stub-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  private def writeValue(out: java.io.OutputStream, v: Any): Unit = v match {
    case null => out.write("$-1\r\n".getBytes(UTF_8))
    case s: String if s.startsWith("+") => out.write(s"$s\r\n".getBytes(UTF_8))
    case n: Long => out.write(s":$n\r\n".getBytes(UTF_8))
    case n: Int => out.write(s":$n\r\n".getBytes(UTF_8))
    case s: String =>
      val b = s.getBytes(UTF_8)
      out.write(s"$$${b.length}\r\n".getBytes(UTF_8)); out.write(b)
      out.write("\r\n".getBytes(UTF_8))
    case xs: Seq[_] =>
      out.write(s"*${xs.length}\r\n".getBytes(UTF_8))
      xs.foreach(writeValue(out, _))
  }

  private def readCommand(in: java.io.InputStream): Seq[String] = {
    def line(): String = {
      val sb = new java.lang.StringBuilder
      var c = in.read()
      if (c < 0) throw new EOFException
      while (c != '\r') { sb.append(c.toChar); c = in.read() }
      in.read() // \n
      sb.toString
    }
    val first = line()
    require(first.startsWith("*"), s"stub: expected array, got $first")
    (0 until first.drop(1).toInt).map { _ =>
      val hdr = line()
      require(hdr.startsWith("$"), s"stub: expected bulk, got $hdr")
      val n = hdr.drop(1).toInt
      val b = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(b, off, n - off)
        if (r < 0) throw new EOFException
        off += r
      }
      in.read(); in.read() // \r\n
      new String(b, UTF_8)
    }
  }

  private def serve(sock: Socket): Unit = {
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    try {
      while (open && !sock.isClosed) {
        val cmd = readCommand(in)
        val reply: Any = cmd.head.toUpperCase match {
          case "PING" => "+PONG"
          case "HSET" =>
            val key = cmd(1)
            val pairs = cmd.drop(2).grouped(2)
              .collect { case Seq(k, v) => k -> v }.toMap
            val before = hashes.getOrElse(key, Map.empty)
            hashes.put(key, before ++ pairs)
            (pairs.keySet -- before.keySet).size.toLong
          case "HGETALL" =>
            hashes.getOrElse(cmd(1), Map.empty).toSeq.sortBy(_._1)
              .flatMap { case (k, v) => Seq(k, v) }
          case "EXPIRE" => expires.put(cmd(1), cmd(2).toLong); 1L
          case "SET" => strings.put(cmd(1), cmd(2)); "+OK"
          case "GET" => strings.getOrElse(cmd(1), null)
          case "LPUSH" =>
            val l = cmd.drop(2).reverse.toList ::: lists.getOrElse(cmd(1), Nil)
            lists.put(cmd(1), l); l.length.toLong
          case "LTRIM" =>
            val l = lists.getOrElse(cmd(1), Nil)
            val stop = cmd(3).toInt
            lists.put(cmd(1), l.slice(cmd(2).toInt, if (stop < 0) l.length + stop + 1 else stop + 1))
            "+OK"
          case "LRANGE" =>
            val l = lists.getOrElse(cmd(1), Nil)
            val stop = cmd(3).toInt
            l.slice(cmd(2).toInt, if (stop < 0) l.length + stop + 1 else stop + 1)
          case "PUBLISH" =>
            val (ch, payload) = (cmd(1), cmd(2))
            published.updateWith(ch)(l => Some(payload :: l.getOrElse(Nil)))
            var n = 0L
            subscribers.forEach { case (chs, s) =>
              if (chs.contains(ch) && !s.isClosed) {
                val so = s.getOutputStream
                so.synchronized {
                  writeValue(so, Seq("message", ch, payload)); so.flush()
                }
                n += 1
              }
            }
            n
          case "SUBSCRIBE" =>
            subscribers.add((cmd.drop(1).toSet, sock))
            // one confirmation frame per channel, redis-style
            cmd.drop(1).zipWithIndex.foreach { case (ch, i) =>
              writeValue(out, Seq("subscribe", ch, (i + 1).toLong))
            }
            out.flush()
            null // already replied
          case other => s"+ERR unknown $other" // lenient stub
        }
        if (!(cmd.head.equalsIgnoreCase("SUBSCRIBE"))) {
          writeValue(out, reply); out.flush()
        }
      }
    } catch { case _: Exception => () }
    finally { try sock.close() catch { case _: Exception => () } }
  }

  override def close(): Unit = {
    open = false
    try server.close() catch { case _: Exception => () }
  }
}
