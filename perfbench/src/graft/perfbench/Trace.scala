package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run. Spans are kept in memory
  * and written out once, at the end of the run; with tracing off every
  * entry point is a plain call.
  *
  * A span records its name, start and end (System.nanoTime), the span that
  * encloses it on the same thread, and the op it belongs to. The layer of a
  * span is its name up to the first '.' (`pointerstore.load` belongs to
  * `pointerstore`); perfbench/summary.py computes each layer's self time as
  * span durations minus those of their direct children.
  */
object Trace {
  @volatile var enabled = false

  final case class Span(id: Long, parent: Long, op: Long, name: String, start: Long, end: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val opId = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Named counters (counts, nanoseconds, bytes); reported per layer. */
  private val named = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  def add(name: String, v: Long): Unit =
    if (enabled) named.computeIfAbsent(name, _ => new LongAdder).add(v)
  def counters: Map[String, Long] = named.asScala.map { case (k, v) => k -> v.sum() }.toMap

  /** Input records read by the tasks of one op's jobs. */
  private val records = new java.util.concurrent.ConcurrentHashMap[Long, LongAdder]()
  def addRecords(op: Long, n: Long): Unit =
    if (enabled) records.computeIfAbsent(op, _ => new LongAdder).add(n)
  def opRecords(op: Long): Long = Option(records.get(op)).map(_.sum()).getOrElse(0L)

  def currentOp: Long = opId.get
  def withOp[T](op: Long)(body: => T): T = {
    val prev = opId.get
    opId.set(op)
    try body finally opId.set(prev)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, outer.headOption.getOrElse(0L), opId.get, name, t0, t1))
      }
    }

  /** A span observed elsewhere (listener events), placed on the same clock. */
  def record(name: String, op: Long, start: Long, end: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0L, op, name, start, end))

  /** Epoch milliseconds (listener and tracker clocks) to the nanoTime clock. */
  private val nanoAtEpochZero = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = nanoAtEpochZero + ms * 1000000L

  def allSpans: Seq[Span] = spans.asScala.toSeq

  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try allSpans.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}
