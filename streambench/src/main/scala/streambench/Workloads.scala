package streambench

import graft.operators.CodecQueries
import graft.sources.{MessageSource, MsgBroker}
import graft.streaming.{BatchedSink, HttpTransport, MetricSink, MsgPipeline, StatefulOps, Transport}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** What one set-up leaves ready for measuring. */
final class Ctx(val spark: SparkSession, val cores: Int, val ckptRoot: Path,
    val receiver: Receiver, val backlog: Array[String]) {
  private val queries = new AtomicInteger
  /** The open-loop schedule of `paced` (drawn at set-up). */
  var schedule: Corpus.Schedule = _

  /** Fresh topics (3, as the reference deploys) of `cores` partitions each. */
  def brokers(tag: String): Seq[MsgBroker] = {
    val k = queries.incrementAndGet()
    (0 until Ctx.Topics).map(t => MsgBroker.create(s"$tag$k-$t", numPartitions = cores))
  }

  def checkpoint(tag: String): String = Files.createTempDirectory(ckptRoot, tag).toString

  /** Query number, so that batch keys stay unique across queries. */
  def nextKeyBase(): Long = queries.incrementAndGet().toLong * 1000000L
}

object Ctx { val Topics = 3 }

/** The outcome of one measured pass over a workload. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  var expectedRecords = 0L
  val problems = ArrayBuffer.empty[String]
  val low = new Latencies
  val high = new Latencies
  val throughputs = ArrayBuffer.empty[Double]
  var sloMisses = 0L
  var sloTotal = 0L
  var measuredSec = 0.0
  /** Largest live heap seen at the end of a round, its query still up. */
  var heapPeakMb = 0.0

  def sampleHeap(): Unit = heapPeakMb = math.max(heapPeakMb, JvmWatch.liveHeapMb())

  /** Count `bad` wrong records (at least one) when `ok` fails. */
  def check(ok: Boolean, bad: Long, what: => String): Unit =
    if (!ok) { failed += math.max(1L, bad); problems += what }

  def throughput: Double = Stats.median(throughputs.toSeq)
  def failedRatio: Double = if (expectedRecords > 0) failed.toDouble / expectedRecords else 0.0
  def sloMissRatio: Double = if (sloTotal > 0) sloMisses.toDouble / sloTotal else 0.0
}

/** Layer readings gathered outside the query: engine progress, broker
  * backlog, acks. Only filled by a traced pass. */
final class Layers(val tracer: Tracer) {
  var backlogMax = 0L
  var backlogSlope = 0.0
  var acks = 0L
  var redelivered = 0L
  var rowsRead = 0L
  var stateCommitMs = 0L
  var stateUpdateMs = 0L
  var stateRemovalMs = 0L
  var stateRowsTotal = 0L
  var stateMemBytes = 0L
  var stateStores = 0L
  var publishNs = 0L
  var published = 0L
  val lateMs = ArrayBuffer.empty[Double]

  /** Backlog samples (s, msgs retained) of one query: the peak, and the
    * slope over the samples from `fromSec` on. */
  def absorbBacklog(xs: Seq[(Double, Long)], fromSec: Double = 0.0): Unit = {
    backlogMax = (backlogMax +: xs.map(_._2)).max
    val tail = xs.filter(_._1 >= fromSec)
    backlogSlope = Stats.slope(tail.map(_._1), tail.map(_._2.toDouble))
  }
}

/** Samples the brokers' retained backlog every 10 ms on its own thread. */
final class BacklogSampler(brokers: Seq[MsgBroker], t0: Long) {
  val samples = new ConcurrentLinkedQueue[(Double, Long)]()
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      samples.add(((System.nanoTime() - t0) / 1e9, brokers.map(_.retainedTotal).sum))
      Thread.sleep(10)
    }
  }, "bench-backlog-sampler")
  thread.setDaemon(true)
  thread.start()

  def stop(): Seq[(Double, Long)] = { running = false; thread.join(); samples.asScala.toSeq }
}

object Workloads {
  val Names: Seq[String] = Seq("drain", "paced", "windowed")

  // -- fixed workload shapes (see README) --------------------------------
  /** Backlog messages per round and the trigger cap: three full batches,
    * so the median record sits inside a batch. */
  val DrainMsgs = 45000
  val DrainTrigger = 15000L
  val WindowedMsgs = 30000
  val WindowedTrigger = 10000L
  /** Open-loop rates of `paced`, msgs/s, and the low rate's share of the
    * run; the high rate gets the larger share, its latency being gated. */
  val LowRate = 1000
  val HighRate = 10000
  val LowShare = 0.3
  /** Event-time step of the monotone windowed backlog. */
  val StepMs = 10L
  /** Sink-visible bound of the reference (flush every 1000 msgs or 5 s). */
  val SloMs = 5000.0
  /** Longest wait for one phase's output before it counts as missing. */
  val PhaseTimeoutNs = 30L * 1000000000L

  def ms(ns: Long): Double = ns / 1e6

  /** The session-sink transport: the real `HttpTransport` to the loopback
    * receiver, wrapped in a timing transport on a traced pass. */
  def transportFactory(url: String, traced: Boolean): () => Transport = () => {
    val http = new HttpTransport(url, Receiver.User, Receiver.Password)
    if (traced) new TimingTransport(http) else http
  }

  /** The fan-out's session sink: `BatchedSink(1000, 5 s)`, written the way
    * `BatchedSink.write` writes it, with each partition's `writePartition`
    * as its own span (a disabled tracer adds one branch). */
  def sessionSink(sink: BatchedSink, keyBase: Long, tracer: Tracer): (Dataset[String], Long) => Unit =
    (ds, id) => {
      val key = keyBase + id
      tracer.span("pipeline.session_sink", key) {
        ds.foreachPartition { (it: Iterator[String]) =>
          Tracer.active.span("sink.partition", key, parentOf = "pipeline.session_sink") {
            sink.writePartition(it)
          }
        }
      }
    }

  /** The fan-out's metric sink: the per-batch delay aggregate (count, avg). */
  def delaySink(counted: AtomicLong, doneNs: AtomicLong, keyBase: Long,
      tracer: Tracer): (DataFrame, Long) => Unit =
    (df, id) => tracer.span("pipeline.metric_sink", keyBase + id) {
      val r = df.agg(count(lit(1)), avg(col("delay_ms"))).collect()(0)
      counted.addAndGet(r.getLong(0))
      doneNs.set(System.nanoTime())
    }

  /** Poll until `done` holds or the phase times out; true if it held. */
  def await(deadlineNs: Long)(done: => Boolean): Boolean = {
    while (!done && System.nanoTime() < deadlineNs) Thread.sleep(1)
    done
  }

  /** Read one query's progress into the per-layer readings and record its
    * engine phases as spans (positions inside a trigger are reconstructed
    * from the phase order; durations are Spark's own). */
  def absorbProgress(q: StreamingQuery, keyBase: Long, layers: Layers): Unit = {
    val t = layers.tracer
    if (!t.on) return
    val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val callbacks = t.allSpans.filter(s => s.batchId >= keyBase && s.batchId < keyBase + 1000000L)
      .groupBy(_.batchId)
    q.recentProgress.foreach { p =>
      val d = p.durationMs
      def phase(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val key = keyBase + p.batchId
      layers.rowsRead += p.numInputRows
      val ops = p.stateOperators.toSeq
      layers.stateCommitMs += ops.map(_.commitTimeMs).sum
      layers.stateUpdateMs += ops.map(_.allUpdatesTimeMs).sum
      layers.stateRemovalMs += ops.map(_.allRemovalsTimeMs).sum
      ops.headOption.foreach { o =>
        layers.stateRowsTotal = o.numRowsTotal
        layers.stateMemBytes = o.memoryUsedBytes
        layers.stateStores = o.numStateStoreInstances.toLong
      }
      if (p.numInputRows > 0) {
        t.count("pipeline.batches")
        t.sample("pipeline.rows_per_batch", p.numInputRows.toDouble)
        t.sample("pipeline.trigger_ms", phase("triggerExecution"))
        t.sample("pipeline.add_batch_ms", phase("addBatch"))
        t.sample("pipeline.planning_ms", phase("queryPlanning"))
        t.sample("pipeline.wal_commit_ms", phase("walCommit"))
        t.sample("pipeline.commit_offsets_ms", phase("commitOffsets"))
        t.sample("sources.latest_offset_ms", phase("latestOffset"))
        val cb = callbacks.getOrElse(key, Seq.empty)
        def cbMs(name: String) = cb.filter(_.name == name).map(s => ms(s.endNs - s.startNs)).sum
        t.sample("pipeline.session_sink_batch_ms", cbMs("pipeline.session_sink"))
        t.sample("pipeline.metric_sink_batch_ms", cbMs("pipeline.metric_sink"))
        t.sample("pipeline.fanout_self_ms",
          phase("addBatch") - cbMs("pipeline.session_sink") - cbMs("pipeline.metric_sink"))
        // engine phases as spans, in MicroBatchExecution's order
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + epochToNano
        val trig = t.record(Tracer.Trigger, key, 0L, start, start + phase("triggerExecution") * 1000000L)
        var at = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets").foreach { k =>
          val end = at + phase(k) * 1000000L
          val name = if (k == "addBatch") Tracer.AddBatch else "pipeline." + k
          t.record(name, key, trig, at, end)
          at = end
        }
      }
    }
  }

  /** Publish `msg(i)` for `i < n` open loop from one generator thread:
    * message `i` is due `dueNs(i)` after `t0` and is published as soon as
    * it is due, however far the query lags. Records how late each went. */
  def openLoop(n: Int, t0: Long, dueNs: Int => Long, msg: Int => String,
      brokers: Seq[MsgBroker], layers: Layers): Unit = {
    val late = new Array[Double](n)
    var pubNs = 0L
    val gen = new Thread(() => {
      var i = 0
      while (i < n) {
        var now = System.nanoTime()
        if (now < t0 + dueNs(i)) {
          LockSupport.parkNanos(t0 + dueNs(i) - now)
          now = System.nanoTime()
        }
        while (i < n && t0 + dueNs(i) <= now) {
          late(i) = ms(now - (t0 + dueNs(i)))
          val m = msg(i)
          val p0 = System.nanoTime()
          brokers(i % brokers.size).publish(m)
          pubNs += System.nanoTime() - p0
          i += 1
        }
      }
    }, "bench-generator")
    gen.start()
    gen.join()
    layers.publishNs += pubNs
    layers.published += n
    layers.lateMs ++= late
  }

  /** `n` messages of `corpus` from `offset`, cycled. */
  def take(corpus: Array[String], offset: Int, n: Int): Array[String] =
    Array.tabulate(n)(i => corpus((offset + i) % corpus.length))

  /** Publish all of `msgs` at once, round-robin over the brokers. */
  def publishAll(msgs: Array[String], brokers: Seq[MsgBroker], layers: Layers): Array[String] = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < msgs.length) { brokers(i % brokers.size).publish(msgs(i)); i += 1 }
    layers.publishNs += System.nanoTime() - t0
    layers.published += msgs.length
    msgs
  }

  /** Event time of the `i`-th monotone message of a windowed round. */
  def eventMs(round: Int, i: Int): Long =
    CodecQueries.NowMs - 86400000L + round.toLong * 1000000L * StepMs + i * StepMs

  /** Monotone event time, as `StreamThroughputBench.publishMonotone` builds
    * it: module and tail from the corpus, `send_ts` re-stamped. */
  def monotone(corpus: Array[String], offset: Int, n: Int, round: Int): Array[String] =
    take(corpus, offset, n).zipWithIndex.map { case (src, i) =>
      Corpus.wire(src.substring(0, graft.operators.MsgCodec.FieldLen).trim,
        eventMs(round, i), Corpus.tail(src))
    }

  private def finishBrokers(brokers: Seq[MsgBroker], layers: Layers): Unit = {
    layers.acks += brokers.map(_.acks).sum
    layers.redelivered += brokers.map(_.redelivered).sum
    brokers.foreach(b => MsgBroker.remove(b.name))
  }

  private def deleteTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
  }

  private def tailCounts(msgs: Iterable[String]): mutable.HashMap[String, Long] = {
    val m = mutable.HashMap.empty[String, Long]
    msgs.foreach(x => if (Corpus.isSession(x)) { val t = Corpus.tail(x); m.update(t, m.getOrElse(t, 0L) + 1) })
    m
  }

  // -- drain --------------------------------------------------------------

  /** One drain round: a fresh query over a backlog of `n` messages
    * published before the clock starts. Latency is timed from the query
    * start, when the whole backlog is due. */
  def drainRound(ctx: Ctx, out: Outcome, layers: Layers, round: Int, n: Int, perTrigger: Long): Unit = {
    val tracer = layers.tracer
    val rx = ctx.receiver
    val brokers = ctx.brokers("drain")
    val offset = ((round.toLong * n) % ctx.backlog.length).toInt
    val backlog = publishAll(take(ctx.backlog, offset, n), brokers, layers)
    val expected = tailCounts(backlog)
    val expSessions = expected.values.sum
    val expDelays = backlog.count(m => Corpus.isSession(m) && Corpus.hasSendTs(m)).toLong
    rx.reset()
    val counted = new AtomicLong
    val metricDone = new AtomicLong
    val keyBase = ctx.nextKeyBase()
    val sink = new BatchedSink(transportFactory(rx.url, tracer.on), batchNum = 1000, batchTimeSec = 5)
    val ckpt = ctx.checkpoint("drain")
    val sampler = if (tracer.on) Some(new BacklogSampler(brokers, System.nanoTime())) else None
    val t0 = System.nanoTime()
    val q = MsgPipeline.runFanOut(
      MessageSource.brokerStream(ctx.spark, brokers.map(_.name).mkString(","), Some(perTrigger)),
      ckpt, () => System.currentTimeMillis(),
      sessionSink(sink, keyBase, tracer), delaySink(counted, metricDone, keyBase, tracer))
    try {
      val ok = await(t0 + PhaseTimeoutNs)(rx.records.get >= expSessions && counted.get >= expDelays)
      val posts = rx.posts.asScala.toSeq
      if (ok) {
        val end = math.max(posts.map(_._1).max, metricDone.get)
        out.throughputs += n / ((end - t0) / 1e9)
      }
      posts.foreach { case (at, k) => out.high.add(ms(at - t0), k) }
      sampler.foreach(s => layers.absorbBacklog(s.stop()))
      q.processAllAvailable()
      absorbProgress(q, keyBase, layers)
      out.sampleHeap()
      out.attempted += n
    } finally {
      q.stop()
      finishBrokers(brokers, layers)
      deleteTree(ckpt)
    }
    // correctness: the received multiset equals the published session tails
    val got = rx.tails.asScala.map { case (k, v) => k -> v.sum }
    val diff = (expected.keySet ++ got.keySet).toSeq
      .map(k => math.abs(expected.getOrElse(k, 0L) - got.getOrElse(k, 0L))).sum
    out.expectedRecords += expSessions + expDelays
    out.check(diff == 0, diff, s"drain round $round: receiver multiset differs from published sessions by $diff records")
    out.check(counted.get == expDelays, math.abs(counted.get - expDelays),
      s"drain round $round: delay aggregate counted ${counted.get}, expected $expDelays")
    out.check(rx.rejected.get == 0 && rx.malformed.get == 0, rx.rejected.get + rx.malformed.get,
      s"drain round $round: ${rx.rejected.get} rejected posts, ${rx.malformed.get} malformed bodies")
  }

  // -- paced --------------------------------------------------------------

  /** Open loop at two fixed rates through one running fan-out query; each
    * session record is timed from its due time to its arrival. */
  def pacedRun(ctx: Ctx, out: Outcome, layers: Layers, sched: Corpus.Schedule): Unit = {
    val tracer = layers.tracer
    val rx = ctx.receiver
    val brokers = ctx.brokers("paced")
    rx.reset(sched.size)
    val counted = new AtomicLong
    val metricDone = new AtomicLong
    val keyBase = ctx.nextKeyBase()
    val sink = new BatchedSink(transportFactory(rx.url, tracer.on), batchNum = 1000, batchTimeSec = 5)
    val ckpt = ctx.checkpoint("paced")
    val q = MsgPipeline.runFanOut(
      MessageSource.brokerStream(ctx.spark, brokers.map(_.name).mkString(",")),
      ckpt, () => System.currentTimeMillis(),
      sessionSink(sink, keyBase, tracer), delaySink(counted, metricDone, keyBase, tracer))
    try {
      // one dropped heartbeat per partition gets the query past its first batch
      (0 until ctx.cores * Ctx.Topics).foreach(i =>
        brokers(i % brokers.size).publish(Corpus.wire("heartbeat", System.currentTimeMillis(), "{}\n")))
      q.processAllAvailable()
      val t0 = System.nanoTime() + 20000000L
      val sampler = if (tracer.on) Some(new BacklogSampler(brokers, t0)) else None
      openLoop(sched.size, t0, sched.dueNs(_),
        i => Corpus.wire(sched.module(i), System.currentTimeMillis(), sched.tails(i)), brokers, layers)
      val lastDue = t0 + sched.dueNs(sched.size - 1)
      val delivered = await(lastDue + PhaseTimeoutNs)(rx.records.get >= sched.sessions)
      q.processAllAvailable()
      sampler.foreach(s => layers.absorbBacklog(s.stop(), fromSec = sched.dueNs(sched.lowCount) / 1e9))
      absorbProgress(q, keyBase, layers)
      out.sampleHeap()
      // per-record latency from the due time; missing records miss the SLO
      var lastArrival = t0
      var missing = 0L
      (0 until sched.size).foreach { i =>
        if (sched.module(i) == "session") {
          val at = rx.arrivalNs.get(i)
          if (at == 0L) missing += 1
          else {
            val lat = ms(at - (t0 + sched.dueNs(i)))
            if (i < sched.lowCount) out.low.add(lat) else out.high.add(lat)
            if (lat > SloMs) out.sloMisses += 1
            lastArrival = math.max(lastArrival, at)
          }
        }
      }
      out.sloMisses += missing
      out.sloTotal += sched.sessions
      if (delivered) out.throughputs += sched.size / ((math.max(lastArrival, metricDone.get) - t0) / 1e9)
      out.attempted += sched.size
      out.expectedRecords += sched.sessions
      out.check(missing == 0, missing, s"paced: $missing session records never arrived")
      out.check(rx.duplicates.get == 0, rx.duplicates.get, s"paced: ${rx.duplicates.get} duplicated records")
      out.check(rx.records.get == sched.sessions, math.abs(rx.records.get - sched.sessions),
        s"paced: receiver got ${rx.records.get} records, published ${sched.sessions} sessions")
      out.check(counted.get == sched.sessions, math.abs(counted.get - sched.sessions),
        s"paced: delay aggregate counted ${counted.get}, expected ${sched.sessions}")
      out.check(rx.rejected.get == 0 && rx.malformed.get == 0, rx.rejected.get + rx.malformed.get,
        s"paced: ${rx.rejected.get} rejected posts, ${rx.malformed.get} malformed records")
    } finally {
      q.stop()
      finishBrokers(brokers, layers)
      deleteTree(ckpt)
    }
  }

  // -- windowed -----------------------------------------------------------

  /** One windowed round: parse → delay stream → 10 s windowed AVG on the
    * RocksDB store, update mode, into a counting sink. Each update makes
    * `n - previous n` messages of its window visible. */
  def windowedRound(ctx: Ctx, out: Outcome, layers: Layers, round: Int, n: Int, perTrigger: Long): Unit = {
    val tracer = layers.tracer
    val spark = ctx.spark
    val brokers = ctx.brokers("win")
    val offset = ((round.toLong * n) % ctx.backlog.length).toInt
    val backlog = publishAll(monotone(ctx.backlog, offset, n, round), brokers, layers)
    val expected = mutable.HashMap.empty[Long, Long]
    backlog.indices.foreach { i =>
      if (Corpus.isSession(backlog(i))) {
        val w = Math.floorDiv(eventMs(round, i), 10000L) * 10000L
        expected.update(w, expected.getOrElse(w, 0L) + 1)
      }
    }
    val expTotal = expected.values.sum
    val latest = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val visible = new AtomicLong
    val updates = new ConcurrentLinkedQueue[(Long, Long)]() // (emitted at, rows made visible)
    val windowRows = new AtomicLong
    val keyBase = ctx.nextKeyBase()
    val ckpt = ctx.checkpoint("win")
    StatefulOps.useRocksDbStateStore(spark)
    spark.conf.set("spark.sql.shuffle.partitions", StatefulOps.statePartitionsFor(perTrigger).toString)
    val src = MessageSource.brokerStream(spark, brokers.map(_.name).mkString(","), Some(perTrigger))
    val win = MetricSink.windowedAvg(MsgPipeline.delayStream(MsgPipeline.parse(src), CodecQueries.NowMs))
    val sampler = if (tracer.on) Some(new BacklogSampler(brokers, System.nanoTime())) else None
    val t0 = System.nanoTime()
    val q = win.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        tracer.span("pipeline.metric_sink", keyBase + id) {
          val rows = b.select(unix_millis(col("win_start")), col("n")).collect()
          val at = System.nanoTime()
          windowRows.addAndGet(rows.length)
          var made = 0L
          rows.foreach { r =>
            val prev = Option(latest.put(r.getLong(0), r.getLong(1))).getOrElse(0L)
            made += r.getLong(1) - prev
          }
          updates.add((at, made))
          visible.addAndGet(made)
        }
        ()
      }
      .start()
    try {
      val ok = await(t0 + PhaseTimeoutNs)(visible.get >= expTotal)
      val ups = updates.asScala.toSeq
      if (ok) out.throughputs += n / ((ups.map(_._1).max - t0) / 1e9)
      ups.foreach { case (at, k) => out.high.add(ms(at - t0), k) }
      sampler.foreach(s => layers.absorbBacklog(s.stop()))
      q.processAllAvailable()
      absorbProgress(q, keyBase, layers)
      out.sampleHeap()
      val dropped = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      out.check(dropped == 0, dropped, s"windowed round $round: $dropped rows dropped by the watermark")
      out.attempted += n
    } finally {
      q.stop()
      finishBrokers(brokers, layers)
      deleteTree(ckpt)
    }
    // correctness: each window's final n equals the driver-side count
    val got = latest.asScala.toMap
    val diff = (expected.keySet ++ got.keySet).toSeq
      .map(w => math.abs(expected.getOrElse(w, 0L) - got.getOrElse(w, 0L))).sum
    out.expectedRecords += expTotal
    out.check(diff == 0, diff, s"windowed round $round: window counts differ from the published event times by $diff")
    out.check(windowRows.get > 0, 1, s"windowed round $round: no window rows emitted")
  }
}
