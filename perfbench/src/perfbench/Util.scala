package perfbench

import java.nio.file.{Files, Path}

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def readString(p: Path): String = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)

  /** `VmHWM` of this process in MB (0 where /proc is unavailable). */
  def peakRssMb(): Double =
    try {
      val line = Util.readString(java.nio.file.Paths.get("/proc/self/status")).linesIterator
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => 0.0 }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of every live Java thread, by thread id, in nanoseconds.
    * The kernel leaves out time the hypervisor stole, and a thread waiting
    * for a core uses none, so on a shared host this follows contention far
    * less than wall time ([[HostSpeed]] takes out the host's speed). The
    * JVM's compiler and GC threads are not Java threads and are not
    * counted. */
  def threadCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU nanoseconds Java threads spent between two [[threadCpuNs]]
    * snapshots. A thread that ended before `after` was taken is missing
    * from it, and so is its time: take `after` as `last ++ threadCpuNs()`
    * at intervals to keep the last reading of every thread. */
  def cpuSince(before: Map[Long, Long], after: Map[Long, Long] = threadCpuNs()): Long =
    after.iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  def loadavg(): Seq[Double] = graft.Canonical.readLoadavg().toSeq

  /** (all, steal) CPU jiffies from /proc/stat: on a shared host the steal
    * share says how much of the wall time the hypervisor took. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = readString(java.nio.file.Paths.get("/proc/stat")).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }
}

/** Minimal JSON rendering and reading for the benchmark's records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** Parses the small JSON documents the benchmark reads (its own golden
    * file): objects, arrays, strings, numbers, booleans and null. */
  def parse(text: String): Any = {
    var i = 0
    def ws(): Unit = while (i < text.length && text(i).isWhitespace) i += 1
    def value(): Any = {
      ws()
      text(i) match {
        case '{' =>
          i += 1; ws()
          val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
          if (text(i) == '}') { i += 1; return m.toMap }
          var more = true
          while (more) {
            ws(); val k = string(); ws(); require(text(i) == ':'); i += 1
            m(k) = value(); ws()
            if (text(i) == ',') i += 1 else { require(text(i) == '}'); i += 1; more = false }
          }
          m.toMap
        case '[' =>
          i += 1; ws()
          val b = Vector.newBuilder[Any]
          if (text(i) == ']') { i += 1; return b.result() }
          var more = true
          while (more) {
            b += value(); ws()
            if (text(i) == ',') i += 1 else { require(text(i) == ']'); i += 1; more = false }
          }
          b.result()
        case '"' => string()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ =>
          val s = i
          while (i < text.length && "+-0123456789.eE".indexOf(text(i)) >= 0) i += 1
          text.substring(s, i).toDouble
      }
    }
    def string(): String = {
      require(text(i) == '"'); i += 1
      val sb = new StringBuilder
      while (text(i) != '"') {
        if (text(i) == '\\') {
          i += 1
          text(i) match {
            case 'n' => sb += '\n'
            case 't' => sb += '\t'
            case 'u' => sb += Integer.parseInt(text.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += text(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    value()
  }
}
