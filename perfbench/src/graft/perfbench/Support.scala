package graft.perfbench

import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** One monotonic clock for every timestamp the benchmark records, in epoch
  * milliseconds with sub-millisecond resolution, so its own marks line up
  * with the epoch-millisecond times Spark's listener events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Minimal JSON writer for the result file (numbers, strings, booleans,
  * sequences and string-keyed maps). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}

/** The scheduler the sink notifies: an in-process HTTP server on an
  * ephemeral localhost port that answers 200 and records each request's
  * path with its arrival time. */
final class NotifyStub {
  private val received = new ConcurrentLinkedQueue[(String, Double)]()
  private val server = com.sun.net.httpserver.HttpServer.create(
    new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
    received.add(ex.getRequestURI.getPath -> Clock.nowMs)
    ex.sendResponseHeaders(200, -1)
    ex.close()
  })
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** (path, arrival ms) of every request so far, in arrival order. */
  def posts: Seq[(String, Double)] = received.asScala.toSeq

  def stop(): Unit = server.stop(0)
}

/** Heap the run retains: used heap after a full collection at the end of
  * the run, in MiB. Unlike peak RSS, which follows the collector's sizing
  * policy, this moves only when the program keeps more (or less) live.
  * Spark's `ContextCleaner` frees broadcasts, shuffles and cached blocks
  * only after a collection finds them unreachable, so a second collection
  * follows a pause that lets it run. */
object Heap {
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** A fixed single-threaded integer loop that touches nothing of the
  * program. Its wall time, taken before and after the workload, shows how
  * fast the host ran during the run; it is reported beside the metrics,
  * never folded into them. */
object HostControl {
  def ms(): Double = {
    val t0 = Clock.nowMs
    var acc = 0L
    var i = 0L
    while (i < 200000000L) { acc += i * i ^ (acc >>> 7); i += 1 }
    if (acc == 42L) println(acc) // keeps the loop from being optimised away
    Clock.nowMs - t0
  }
}
