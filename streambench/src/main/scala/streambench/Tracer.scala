package streambench

import graft.streaming.Transport
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Spans of one micro-batch share
  * its `batchId` (-1 outside a batch); `parent` is the id of the span that
  * caused this one (0 for a root). */
final case class Span(id: Long, parent: Long, name: String, batchId: Long, startNs: Long, endNs: Long)

/** In-memory spans, counters and value samples, recorded from the
  * benchmark's own calls into the program and written out at exit. A
  * disabled tracer records nothing and costs one branch per call. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val open = new ConcurrentHashMap[(String, Long), java.lang.Long]()
  private val current = new ThreadLocal[java.lang.Long]

  /** Time `f` as span `name`; `parentOf` names the open span of the same
    * batch that caused it, else the calling thread's current span is used. */
  def span[T](name: String, batchId: Long = -1, parentOf: String = null)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent: Long =
        if (parentOf != null) Option(open.get((parentOf, batchId))).map(_.longValue).getOrElse(0L)
        else Option(current.get).map(_.longValue).getOrElse(0L)
      val prev = current.get
      current.set(id)
      open.put((name, batchId), id)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        current.set(prev)
        open.remove((name, batchId))
        spans.add(Span(id, parent, name, batchId, t0, t1))
        sample(name + "_ms", (t1 - t0) / 1e6)
      }
    }

  /** Record a span measured elsewhere (an engine phase duration). */
  def record(name: String, batchId: Long, parent: Long, startNs: Long, endNs: Long): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, batchId, startNs, endNs))
      id
    }

  def count(name: String, n: Long = 1L): Unit =
    if (on) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def sample(name: String, v: Double): Unit =
    if (on) samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]).add(v)

  def counter(name: String): Long = Option(counters.get(name)).map(_.sum).getOrElse(0L)
  def values(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Seq.empty)
  def p(name: String, pct: Double): Double = Stats.percentile(values(name), pct)
  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Spans as JSON lines, counters as one trailing line. A root span of a
    * batch recorded by a callback is parented to that batch's `addBatch`
    * phase span, which is only known once the batch's progress is read. */
  def write(file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val all = allSpans
    val addBatch = all.filter(_.name == Tracer.AddBatch).map(s => s.batchId -> s.id).toMap
    val lines = all.sortBy(_.startNs).map { s =>
      val parent =
        if (s.parent == 0 && s.batchId >= 0 && s.name != Tracer.AddBatch && s.name != Tracer.Trigger)
          addBatch.getOrElse(s.batchId, 0L)
        else s.parent
      s"""{"id":${s.id},"parent":$parent,"name":"${s.name}","batch":${s.batchId},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    } :+ counters.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${v.sum}""" }.mkString("""{"counters":{""", ",", "}}")
    Files.write(file, lines.asJava, StandardCharsets.UTF_8)
  }
}

object Tracer {
  val AddBatch = "pipeline.add_batch"
  val Trigger = "pipeline.trigger"

  /** The active tracer, reachable from task threads (local mode: executors
    * share the driver's JVM) without capturing it in serialized closures. */
  @volatile var active: Tracer = new Tracer(false)
}

/** Times each bulk post of the wrapped transport: post latency, bytes,
  * records per post and failed posts. */
final class TimingTransport(inner: Transport) extends Transport {
  override def send(payload: String): Unit = {
    val t = Tracer.active
    t.span("sink.post") {
      try inner.send(payload)
      catch { case e: Throwable => t.count("sink.failed_posts"); throw e }
    }
    t.count("sink.posts")
    t.count("sink.bytes_posted", payload.length.toLong)
    val recs = payload.count(_ == '\n')
    t.sample("sink.records_per_post", recs.toDouble)
  }
  override def close(): Unit = inner.close()
}

/** JVM-wide GC and heap readings. GC time and count are deltas over a
  * measuring window, net of the collections [[liveHeapMb]] forces. */
object JvmWatch {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs = gcs.map(_.getCollectionTime).sum
  private def gcCount = gcs.map(_.getCollectionCount).sum
  private var gcMs0 = 0L
  private var gcCount0 = 0L
  private var forcedMs = 0L
  private var forcedCount = 0L

  /** Start a measuring window. */
  def start(): Unit = synchronized { gcMs0 = gcMs; gcCount0 = gcCount; forcedMs = 0L; forcedCount = 0L }
  def gcMsDelta: Long = synchronized(gcMs - gcMs0 - forcedMs)
  def gcCountDelta: Long = synchronized(gcCount - gcCount0 - forcedCount)

  /** Heap still in use after a forced full collection, in MB. */
  def liveHeapMb(): Double = synchronized {
    val (ms0, n0) = (gcMs, gcCount)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    forcedMs += gcMs - ms0
    forcedCount += gcCount - n0
    used / (1024.0 * 1024.0)
  }
}
