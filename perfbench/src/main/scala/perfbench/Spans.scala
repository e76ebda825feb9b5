package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

/** One timed interval of a run, in epoch milliseconds — the clock Spark
  * stamps its own job, stage and micro-batch events with, so harness and
  * listener spans share one time base. `parent` is the causal parent;
  * 0 means none (the run span). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, end: Long)

/** In-memory span store: written out once, when the run ends. */
final class Spans {
  private val next = new AtomicLong(1)
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val parents = new ConcurrentHashMap[Long, Long]()

  def newId(): Long = next.getAndIncrement()

  def add(s: Span): Unit = buf.add(s)

  /** Runs `body` as span `id`, recording it even when `body` throws. */
  def timed[T](id: Long, parent: Long, kind: String, name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally add(Span(id, parent, kind, name, t0, System.currentTimeMillis()))
  }

  /** Moves spans (id -> new parent) recorded before their parent existed. */
  def reparent(m: Map[Long, Long]): Unit = m.foreach { case (k, v) => parents.put(k, v) }

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq.map(s => s.copy(parent = parents.getOrDefault(s.id, s.parent)))
  }
}
