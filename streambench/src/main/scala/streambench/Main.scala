package streambench

import graft.{Bench, GraftConfig}
import graft.streaming.MsgPipeline
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The stream pipeline benchmark: one workload per run, measured through
  * the program's public entry points (broker source → fixed-width codec →
  * fan-out → HTTP bulk sink / windowed metric state). Prints a human
  * table, then one JSON result line. See README.md. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int, outDir: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.Names.contains(w), s"unknown workload '$w' (one of ${Workloads.Names.mkString(", ")})")
    val cores = m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1", cores,
      Paths.get(m.getOrElse("out", ".bench_build/out")))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  def session(cores: Int): SparkSession = {
    val s = Bench.tunedBuilder("streambench", GraftConfig.Default.copy(parallelism = cores))
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session, the workload's inputs (the backlog corpus, or the `paced`
    * schedule, which does not use the corpus) and receiver. */
  def setUp(o: Opts, ckptRoot: Path): Ctx = {
    val t0 = System.nanoTime()
    val spark = session(o.cores)
    val t1 = System.nanoTime()
    val ctx = new Ctx(spark, o.cores, ckptRoot, new Receiver(o.cores),
      if (o.workload == "paced") Array.empty else Corpus.backlog(spark, o.seed, 100000))
    if (o.workload == "paced")
      ctx.schedule = Corpus.schedule(o.seed, Workloads.LowRate, o.seconds * Workloads.LowShare,
        Workloads.HighRate, o.seconds * (1 - Workloads.LowShare))
    val t2 = System.nanoTime()
    println(f"[bench] set-up: session ${(t1 - t0) / 1e9}%.2f s, inputs and receiver ${(t2 - t1) / 1e9}%.2f s")
    ctx
  }

  /** Untimed work before the measured pass: twice the `paced` schedule,
    * two `windowed` rounds or eight `drain` rounds. For tens of seconds after
    * start-up the JIT is still compiling Spark's per-batch driver code, and
    * numbers read on that ramp spread far more than the settled ones that
    * follow it. With half this warm-up, `paced` latency spread ~20% run to
    * run, and `drain` round throughput kept rising, ~50% in all, up to its
    * eighth round. Its output is checked too. */
  def warmUp(ctx: Ctx, o: Opts): Outcome = {
    val warm = new Outcome
    val off = new Layers(new Tracer(false))
    val t0 = System.nanoTime()
    o.workload match {
      case "paced" =>
        Workloads.pacedRun(ctx, warm, off, Corpus.schedule(o.seed + 1, Workloads.LowRate,
          2 * o.seconds * Workloads.LowShare, Workloads.HighRate, 2 * o.seconds * (1 - Workloads.LowShare)))
      case w => (0 until (if (w == "drain") 8 else 2)).foreach(r => backlogRound(ctx, o, warm, off, 2000 + r))
    }
    println(f"[bench] warm-up pass (discarded, ${(System.nanoTime() - t0) / 1e9}%.2f s): throughput " +
      f"${warm.throughput}%.0f msgs/s, latency_p50_ms.high ${warm.high.percentile(50)}%.1f ms")
    warm
  }

  def tearDown(ctx: Ctx): Unit = { ctx.receiver.stop(); ctx.spark.stop() }

  /** One round of a backlog workload (`drain` or `windowed`). */
  def backlogRound(ctx: Ctx, o: Opts, out: Outcome, layers: Layers, r: Int): Unit =
    if (o.workload == "drain") Workloads.drainRound(ctx, out, layers, r, Workloads.DrainMsgs, Workloads.DrainTrigger)
    else Workloads.windowedRound(ctx, out, layers, r, Workloads.WindowedMsgs, Workloads.WindowedTrigger)

  /** One measured pass. Paced: the schedule once. Backlog workloads:
    * rounds until one ends at `seconds` or later (at least three). */
  def measure(ctx: Ctx, o: Opts, layers: Layers): Outcome = {
    val out = new Outcome
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (o.workload == "paced") Workloads.pacedRun(ctx, out, layers, ctx.schedule)
    else {
      var r = 0
      var last = 0.0
      var done = false
      while (!done) {
        done = r >= 2 && elapsed + last >= o.seconds
        val r0 = elapsed
        backlogRound(ctx, o, out, layers, r)
        last = elapsed - r0
        r += 1
      }
    }
    out.measuredSec = elapsed
    out
  }

  /** Timed `MsgPipeline.parse` → noop pass over the workload's corpus. */
  def codecPass(ctx: Ctx, corpus: Seq[String], layers: Layers): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val df = corpus.toDF("value").cache()
    df.count()
    def pass(): Long = {
      val t0 = System.nanoTime()
      MsgPipeline.parse(df).write.format("noop").mode("overwrite").save()
      System.nanoTime() - t0
    }
    pass()
    val ns = (0 until 5).map(_ => pass().toDouble)
    val t = layers.tracer
    t.sample("codec.ns_per_msg", Stats.median(ns) / corpus.size)
    t.count("codec.rows_in", MsgPipeline.parse(df).count())
    t.count("codec.rows_session", MsgPipeline.sessionStream(MsgPipeline.parse(df)).count())
    df.unpersist()
  }

  def run(o: Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val localDirs = sys.env.getOrElse("SPARK_LOCAL_DIRS", o.outDir.resolve("spark-local").toString)
    val ckptRoot = Files.createDirectories(Paths.get(localDirs).resolve("checkpoints"))
    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    println(s"[bench] workload=${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0}")
    println(s"[bench] machine: master=local[${o.cores}] topics=${Ctx.Topics} partitions_per_topic=${o.cores} " +
      s"heap_max_mb=$heapMb checkpoints=$ckptRoot")

    // Set-up is timed once, from process start to the first measured
    // publish: JVM start, session, inputs, receiver and the warm-up.
    var ctx = setUp(o, ckptRoot)
    val warm = warmUp(ctx, o)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val out = measure(ctx, o, new Layers(new Tracer(false)))
    out.failed += warm.failed
    out.problems ++= warm.problems

    // Every end-to-end metric of the workload is printed; the result line
    // carries those that are never zero on a correct run and settle within
    // their bound (the other latencies spread up to 16-37% run to run,
    // and the two ratios are zero unless the run failed, which `correct` and
    // `failed` report). The low rate and the 5 s bound are `paced` only.
    val gated = Seq(
      ("setup_s", setupS, "s", ""),
      ("throughput_msgs_per_s", out.throughput, "msgs/s", s"rounds: ${out.throughputs.map(t => f"$t%.0f").mkString(" ")}"),
      ("latency_p50_ms.high", out.high.percentile(50), "ms", s"n=${out.high.count}"),
      ("heap_peak_mb", out.heapPeakMb, "MB", ""))
    val pacedOnly = Seq(
      ("latency_p50_ms.low", out.low.percentile(50), "ms", s"n=${out.low.count}"),
      ("latency_p99_ms.low", out.low.percentile(99), "ms", s"n=${out.low.count}"),
      ("slo_miss_ratio", out.sloMissRatio, "ratio", s"n=${out.sloTotal}"))
    val printedOnly =
      Seq(("latency_p99_ms.high", out.high.percentile(99), "ms", s"n=${out.high.count}")) ++
        (if (o.workload == "paced") pacedOnly else Seq.empty) ++
        Seq(("failed_ratio", out.failedRatio, "ratio", s"expected=${out.expectedRecords}"))
    println(f"[bench] end-to-end (untraced, ${out.measuredSec}%.2f s measured, attempted ${out.attempted}):")
    (gated ++ printedOnly).foreach { case (k, v, u, note) => println(f"  $k%-24s $v%14.3f $u%-7s $note") }
    out.problems.foreach(p => println(s"[bench] WRONG OUTPUT: $p"))

    var metrics: Seq[(String, Double, String)] = gated.map { case (k, v, u, _) => (k, v, u) }
    if (o.trace) {
      val tracer = new Tracer(true)
      Tracer.active = tracer
      val layers = new Layers(tracer)
      ctx.spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskInfo != null && e.taskInfo.attemptNumber > 0) tracer.count("sink.task_retries")
      })
      val corpus: Seq[String] =
        if (o.workload == "paced")
          ctx.schedule.tails.indices.map(i => Corpus.wire(ctx.schedule.module(i), 0L, ctx.schedule.tails(i)))
        else ctx.backlog.toSeq
      codecPass(ctx, corpus, layers)
      JvmWatch.start()
      val traced = measure(ctx, o, layers)
      val tGcMs = JvmWatch.gcMsDelta
      val tGcCount = JvmWatch.gcCountDelta
      Tracer.active = new Tracer(false)
      // Untraced again: per-batch cost is still falling pass after pass, so
      // the traced pass is compared with the untraced passes on either side.
      val after = measure(ctx, o, new Layers(new Tracer(false)))
      Seq(traced, after).foreach { r => out.failed += r.failed; out.problems ++= r.problems }
      // single-thread baseline of the same drain, as a diagnostic
      tearDown(ctx)
      val one = setUp(o.copy(workload = "drain", cores = 1), ckptRoot)
      val oneOut = new Outcome
      Workloads.drainRound(one, oneOut, new Layers(new Tracer(false)), 0, Workloads.DrainMsgs, Workloads.DrainTrigger)
      out.failed += oneOut.failed
      out.problems ++= oneOut.problems
      ctx = one

      val layerMetrics = perLayer(tracer, layers, tGcMs, tGcCount, traced.heapPeakMb, oneOut.throughput)
      printSelfTimes(tracer, layers, traced, windowed = o.workload == "windowed")
      def pct(f: Outcome => Double) = {
        val base = (f(out) + f(after)) / 2
        if (base != 0) 100.0 * (f(traced) - base) / base else 0.0
      }
      println(f"[bench] tracing overhead (traced vs the mean of the untraced passes before and after it): " +
        f"throughput ${pct(_.throughput)}%+.1f%%, latency_p50_ms.high ${pct(_.high.percentile(50))}%+.1f%%" +
        (if (o.workload == "paced") f", latency_p50_ms.low ${pct(_.low.percentile(50))}%+.1f%%" else ""))
      println(f"[bench] untraced after: throughput ${after.throughput}%.0f msgs/s, " +
        f"latency_p50_ms.high ${after.high.percentile(50)}%.1f ms")
      println("[bench] per-layer (traced):")
      layerMetrics.foreach { case (k, v, u) => println(f"  $k%-36s $v%16.3f $u") }
      val file = o.outDir.resolve("traces").resolve(s"${o.workload}-seed${o.seed}.jsonl")
      tracer.write(file)
      println(s"[bench] spans written to $file")
      metrics = layerMetrics
    }
    tearDown(ctx)

    val correct = out.failed == 0 && out.problems.isEmpty
    val body =
      if (!correct) "{}"
      else metrics.map { case (k, v, u) => s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, out.attempted)}, "failed": ${out.failed}, "metrics": $body}""")
    if (correct) 0 else 1
  }

  def perLayer(t: Tracer, l: Layers, gcMs: Long, gcCount: Long, heapMb: Double,
      oneThread: Double): Seq[(String, Double, String)] = Seq(
    ("sources.backlog_max_msgs", l.backlogMax.toDouble, "msgs"),
    ("sources.backlog_slope_msgs_per_s", l.backlogSlope, "msgs/s"),
    ("sources.latest_offset_ms_p50", t.p("sources.latest_offset_ms", 50), "ms"),
    ("sources.rows_read", l.rowsRead.toDouble, "count"),
    ("sources.acks", l.acks.toDouble, "count"),
    ("sources.redelivered", l.redelivered.toDouble, "count"),
    ("codec.ns_per_msg", t.p("codec.ns_per_msg", 50), "ns"),
    ("codec.rows_in", t.counter("codec.rows_in").toDouble, "count"),
    ("codec.rows_session", t.counter("codec.rows_session").toDouble, "count"),
    ("pipeline.batches", t.counter("pipeline.batches").toDouble, "count"),
    ("pipeline.rows_per_batch_p50", t.p("pipeline.rows_per_batch", 50), "count"),
    ("pipeline.trigger_ms_p50", t.p("pipeline.trigger_ms", 50), "ms"),
    ("pipeline.add_batch_ms_p50", t.p("pipeline.add_batch_ms", 50), "ms"),
    ("pipeline.planning_ms_p50", t.p("pipeline.planning_ms", 50), "ms"),
    ("pipeline.wal_commit_ms_p50", t.p("pipeline.wal_commit_ms", 50), "ms"),
    ("pipeline.commit_offsets_ms_p50", t.p("pipeline.commit_offsets_ms", 50), "ms"),
    ("pipeline.session_sink_ms_p50", t.p("pipeline.session_sink_batch_ms", 50), "ms"),
    ("pipeline.metric_sink_ms_p50", t.p("pipeline.metric_sink_batch_ms", 50), "ms"),
    ("pipeline.fanout_self_ms_p50", t.p("pipeline.fanout_self_ms", 50), "ms"),
    ("pipeline.drain_1thread_msgs_per_s", oneThread, "msgs/s"),
    ("sink.posts", t.counter("sink.posts").toDouble, "count"),
    ("sink.records_per_post_p50", t.p("sink.records_per_post", 50), "count"),
    ("sink.bytes_posted", t.counter("sink.bytes_posted").toDouble, "bytes"),
    ("sink.post_ms_p50", t.p("sink.post_ms", 50), "ms"),
    ("sink.post_ms_p99", t.p("sink.post_ms", 99), "ms"),
    ("sink.partition_ms_p50", t.p("sink.partition_ms", 50), "ms"),
    ("sink.failed_posts", t.counter("sink.failed_posts").toDouble, "count"),
    ("sink.task_retries", t.counter("sink.task_retries").toDouble, "count"),
    ("state.commit_ms", l.stateCommitMs.toDouble, "ms"),
    ("state.update_ms", l.stateUpdateMs.toDouble, "ms"),
    ("state.removal_ms", l.stateRemovalMs.toDouble, "ms"),
    ("state.rows_total", l.stateRowsTotal.toDouble, "count"),
    ("state.mem_bytes", l.stateMemBytes.toDouble, "bytes"),
    ("state.stores", l.stateStores.toDouble, "count"),
    ("gen.late_ms_p99", Stats.percentile(l.lateMs.toSeq, 99), "ms"),
    ("gen.publish_ns_per_msg", if (l.published > 0) l.publishNs.toDouble / l.published else 0.0, "ns"),
    ("jvm.gc_ms", gcMs.toDouble, "ms"),
    ("jvm.gc_count", gcCount.toDouble, "count"),
    ("jvm.heap_peak_mb", heapMb, "MB"))

  /** Where the data batches' trigger time went, by layer self time along
    * the blocking path of a micro-batch. */
  def printSelfTimes(t: Tracer, l: Layers, traced: Outcome, windowed: Boolean): Unit = {
    def sum(k: String) = t.values(k).sum
    val trigger = sum("pipeline.trigger_ms")
    val addBatch = sum("pipeline.add_batch_ms")
    val latest = sum("sources.latest_offset_ms")
    val sink = sum("pipeline.session_sink_batch_ms")
    val metric = sum("pipeline.metric_sink_batch_ms")
    val rows = Seq(
      "sources  latestOffset" -> latest,
      "pipeline engine (walCommit, planning, commitOffsets, other)" -> (trigger - addBatch - latest),
      "pipeline addBatch self (persist, parse, fan-out)" -> (addBatch - sink - metric),
      "sink     session sink (BatchedSink + HttpTransport)" -> sink,
      (if (windowed) "state    windowed aggregate job (read, parse, RocksDB store)"
       else "pipeline delay aggregate job") -> metric)
    println(f"[bench] self time over ${t.counter("pipeline.batches")} data batches " +
      f"(trigger time $trigger%.0f ms = ${100 * trigger / (1000 * traced.measuredSec)}%.0f%% of ${traced.measuredSec}%.2f s measured):")
    rows.foreach { case (k, v) => println(f"  $k%-60s $v%10.1f ms ${if (trigger > 0) 100 * v / trigger else 0.0}%6.1f%%") }
    println(f"  ${"sum of self times"}%-60s ${rows.map(_._2).sum}%10.1f ms")
    if (windowed)
      println(s"  (state task time inside the aggregate job: commit ${l.stateCommitMs} ms, update " +
        s"${l.stateUpdateMs} ms, removal ${l.stateRemovalMs} ms, over ${l.stateStores} stores)")
  }
}
