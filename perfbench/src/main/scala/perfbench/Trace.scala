package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** In-memory spans, written out once when the run ends. A span has a
  * name, start and end (epoch microseconds), a parent (0 = none) and
  * the run id every span of one process shares.
  */
final class Trace {
  private val runId = java.util.UUID.randomUUID().toString.take(8)
  private val next = new AtomicLong(0)
  private val open_ = scala.collection.concurrent.TrieMap.empty[Long, (String, Long, Long)]
  private val done = ArrayBuffer.empty[(Long, String, Long, Long, Long)]

  def open(name: String, parent: Long): Long = {
    val id = next.incrementAndGet()
    open_.put(id, (name, parent, Trace.nowUs()))
    id
  }

  def close(id: Long): Unit = open_.remove(id).foreach { case (name, parent, start) =>
    done.synchronized { done += ((id, name, parent, start, Trace.nowUs())) }
  }

  /** `body` under a child span of `parent` when traced, bare otherwise. */
  def timed[T](name: String, parent: Long, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      val id = open(name, parent)
      try body finally close(id)
    }

  def json: String = done.synchronized {
    done.map { case (id, name, parent, s, e) =>
      s"""{"id":$id,"name":${Json.str(name)},"parent":$parent,"run":"$runId","start_us":$s,"end_us":$e}"""
    }.mkString("[", ",", "]")
  }
}

object Trace {
  private val baseUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L

  /** Monotonic clock on the epoch-microsecond scale the listener's
    * millisecond event times use. */
  def nowUs(): Long = baseUs + System.nanoTime() / 1000L
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Fixed CPU work on every core, no I/O and no Spark: its wall time
  * moves only with load from outside the benchmark. */
object Canary {
  private def spin(n: Long): Long = {
    var x = 88172645463325252L
    var i = 0L
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  /** Best of three, so one descheduling does not read as load. */
  def run(threads: Int): Double = {
    spin(1000000L) // compiled before the timed calls
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val ts = (1 to threads).map(_ => new Thread(() => { spin(50000000L); () }))
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }.min
  }
}
