package graftbench

import scala.collection.mutable
import graft.JvmStamp
import graft.pipeline.PinQueries
import Main._

/** One closed-loop job run: its wall and CPU seconds, the offsets at
  * which its outputs committed, and the cleaned-table evaluations. */
final case class Pass(jobS: Double, cpuS: Double, commits: Seq[Double], evals: Int,
    startMs: Long, endMs: Long, gcMs: Long)

/** batch_daily and corpus_curate: closed loop, one job run at a time.
  * The measured run is the job's first run after set-up: a scheduled
  * job starts in a fresh JVM, so its first run is what a user waits for. */
final class ClosedLoop(a: Args, work: String) {
  private val batch = a.workload == "batch_daily"
  private val inDir = s"$work/input"
  private val names = if (batch) Jobs.batchOutputs else Jobs.corpusOutputs
  private val outputs = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def stage(rig: Rig): Map[String, Long] =
    if (batch) Inputs.writeOrders(rig.spark, inDir, a.sf, a.seed)
    else Inputs.writeCorpus(rig.spark, inDir, a.sf, a.seed)

  private def twin(output: String): String =
    if (batch) s"pin_$output"
    else output match {
      case "manifest" => "pretraining_corpus"
      case "funnel" => "curation_funnel"
      case seq => "pack_sequences:" + seq.stripPrefix("sequences/split=")
    }

  private def addOutputs(dir: String, tag: String): Unit =
    outputs ++= names.map(o => Map("name" -> s"$tag/$o", "path" -> s"$dir/$o", "twin" -> twin(o)))

  /** One run of the job's main on `rig`'s session, which the main stops.
    * With `track`, the cleaned tables' evaluations are counted. */
  private def pass(rig: Rig, tag: String, track: Boolean): Pass = {
    val out = s"$work/out/$tag"
    if (track) {
      val (pin, geo, user) = PinQueries.cleanedTables(rig.spark, inDir)
      rig.plan.track(Seq(pin, geo, user))
    }
    rig.drain()
    val c0 = Cpu.seconds()
    val gc0 = JvmStamp.gcMillis()
    val startMs = System.currentTimeMillis()
    val p0 = System.nanoTime()
    Jobs.runMain(batch, inDir, out)
    val jobS = (System.nanoTime() - p0) / 1e9
    val cpuS = Cpu.seconds() - c0
    val endMs = System.currentTimeMillis()
    val gcMs = JvmStamp.gcMillis() - gc0
    // stopping the session delivered every listener event
    val evals = if (track)
      rig.plan.between(startMs, endMs).map(_.targetRefs).sum + rig.plan.cachedBuilds
    else 0
    addOutputs(out, tag)
    val commits = Jobs.commitMs(out, names).map(ms => (ms - startMs) / 1000.0)
    Pass(jobS, cpuS, commits, evals, startMs, endMs, gcMs)
  }

  /** A traced run on `rig`: spans per layer call. */
  private def traced(rig: Rig, tag: String): Spans = {
    val sp = new Spans(rig.spark.sparkContext)
    val out = s"$work/out/$tag"
    if (batch) Jobs.batchTraced(rig.spark, inDir, out, sp)
    else Jobs.corpusTraced(rig.spark, inDir, out, sp)
    addOutputs(out, tag)
    rig.drain()
    sp
  }

  def run(): Result = {
    var rig: Rig = null
    var rows = Map.empty[String, Long]
    val setupS = (1 to a.setups).map { _ =>
      val t0 = System.nanoTime()
      if (rig != null) rig.stop()
      rig = new Rig(session(a.cpus))
      rows = stage(rig)
      (System.nanoTime() - t0) / 1e9
    }
    val inputRows = rows.values.sum.toDouble

    val measured = rig
    HeapProbe.reset()
    val first = pass(measured, "measured", track = batch && a.trace)
    val heapMb = HeapProbe.peakMb()
    val js = measured.engine.jobsBetween(first.startMs, first.endMs)
    val e2e = Map(
      "setup_s" -> median(setupS),
      "job_s" -> first.jobS,
      "cpu_s" -> first.cpuS,
      "fresh_p50_s" -> quantile(first.commits, 0.5),
      "fresh_p90_s" -> quantile(first.commits, 0.9),
      "capacity_rows_per_s" -> rate(inputRows, busySeconds(js)),
      "heap_peak_mb" -> heapMb)
    val detail = mutable.LinkedHashMap[String, Any](
      "setup_samples_s" -> setupS, "commit_offsets_s" -> first.commits,
      "spark_busy_s" -> busySeconds(js))

    val layers = mutable.LinkedHashMap[String, Double]()
    if (a.trace) {
      val (eng, _) = engineLayer(measured, first.startMs, first.endMs, a.cpus, first.gcMs,
        first.jobS * 1000)
      layers ++= eng
      layers("ingest.scan_passes") = rate(js.map(_.recordsRead).sum.toDouble, inputRows)
      if (batch) layers("pipeline.clean_reuse") = rate(3.0, first.evals.toDouble)
      detail("clean_evaluations") = first.evals

      // a warm untraced run, then the same run traced, each on a new
      // session: the difference is the tracing overhead, the traced
      // run's spans give the layer times
      val warm = pass(new Rig(session(a.cpus)), "warm", track = false)
      rig = new Rig(session(a.cpus))
      val t0 = System.currentTimeMillis()
      val sp = traced(rig, "traced")
      val tjs = rig.engine.jobsBetween(t0, System.currentTimeMillis())
      val self = sp.selfSeconds
      def s(name: String) = self.getOrElse(name, 0.0)
      def queries(m: Map[String, Double]) = (1 to 9).map(i => m.getOrElse(s"query.q$i", 0.0)).sum
      val tracedJob = sp.spans.filter(_.name == "job").map(_.ms / 1000.0).sum
      if (batch) {
        layers ++= Map("pipeline.derive_s" -> s("derive"), "pipeline.clean_s" -> s("clean"),
          "pipeline.query_s" -> queries(self), "pipeline.sink_s" -> s("sink"))
        (1 to 9).foreach(i => layers(s"pipeline.query.q${i}_s") = s(s"query.q$i"))
      } else {
        layers ++= Map("ext.curation_s" -> s("curation"), "ext.funnel_s" -> s("funnel"),
          "ext.pack_s" -> s("pack"), "ext.curation_overlap_s" ->
            overlapSeconds(tjs.filter(j => sp.owner(j).exists(_.name == "curation"))))
      }
      layers("trace.overhead_frac") = rate(tracedJob, warm.jobS) - 1.0
      detail("warm_job_s") = warm.jobS
      detail("traced_job_s") = tracedJob
      detail("span_self_s") = self
      detail("span_counters") = spanCounters(sp, tjs)

      // the same traced run on a single core: per-span parallel speedup
      rig.stop()
      rig = new Rig(session(1))
      val sp1 = traced(rig, "local1")
      rig.stop()
      val self1 = sp1.selfSeconds
      val job1 = sp1.spans.filter(_.name == "job").map(_.ms / 1000.0).sum
      speedupSpans.foreach { k =>
        layers(s"speedup.$k") =
          if (k == "job") rate(job1, tracedJob)
          else if (k == "query") rate(queries(self1), queries(self))
          else rate(self1.getOrElse(k, 0.0), s(k))
      }
      detail("local1_span_self_s") = self1
    }
    Result(rows, inDir, 0L, 0L, e2e,
      layerNames.map(k => k -> layers.getOrElse(k, 0.0)).toMap, detail.toMap, outputs.toSeq)
  }
}

/** stream_ingest: an open-loop generator lands files at a fixed rate
  * while `StreamJob.runAll` drains in a loop. */
final class OpenLoop(a: Args, work: String) {
  private val inDir = s"$work/input"
  // Ticks per second (one file per table per tick), below the drain
  // capacity: a drain costs about 2 s almost whatever its size (three
  // query starts) and takes in what landed during the one before, so at
  // this rate the backlog stays bounded (streaming.backlog_files_max).
  private val tps = 7.0
  private val ticks = math.max(3, math.round(a.seconds * tps).toInt)
  private val intervalMs = 1000.0 / tps

  def run(): Result = {
    var rig: Rig = null
    var rows = Map.empty[String, Long]
    var rendered = Map.empty[String, Vector[(String, Int)]]
    val setupS = (1 to a.setups).map { _ =>
      val t0 = System.nanoTime()
      if (rig != null) rig.stop()
      rig = new Rig(session(a.cpus))
      rows = Inputs.writeOrders(rig.spark, inDir, a.sf, a.seed)
      rendered = Stream.render(rig.spark, inDir, ticks)
      (System.nanoTime() - t0) / 1e9
    }
    // a fixed backlog (the first quarter of the files) drained by one
    // runAll from an empty checkpoint: a scheduled drain. The first of
    // four drains warms the JIT; the median of the other three is job_s.
    val part = math.max(1, ticks / 4)
    val backlogRows = Stream.tables.map(t => rendered(t).take(part).map(_._2).sum).sum.toDouble
    def backlog(tag: String): Double = {
      val b = s"$work/$tag"
      Stream.stage(rendered, b, part)
      val w = Stream.window(rig.spark, rig.stream, rendered, b, part, 0, None)
      w.drains.map(d => d.endMs - d.startMs).sum / 1000.0
    }
    val warmS = backlog("backlog-warm")
    val backlogS = (0 until 3).map(i => backlog(s"backlog-$i"))
    val jobS = median(backlogS)
    val outputs = mutable.ArrayBuffer.empty[Map[String, Any]]
    def check(base: String, tag: String): Unit =
      Stream.dumpSink(rig.spark, base, s"$work/check/$tag").foreach { case (twin, path) =>
        outputs += Map("name" -> s"$tag/$twin", "path" -> path, "twin" -> twin)
      }

    val base = s"$work/stream"
    Stream.stage(rendered, base, ticks)
    rig.drain()
    HeapProbe.reset()
    val gc0 = JvmStamp.gcMillis()
    val c0 = Cpu.seconds()
    val w0 = System.currentTimeMillis()
    val win = Stream.window(rig.spark, rig.stream, rendered, base, ticks, intervalMs, None)
    val w1 = System.currentTimeMillis()
    val cpuS = Cpu.seconds() - c0
    val gcMs = JvmStamp.gcMillis() - gc0
    val heapMb = HeapProbe.peakMb()
    val busyS = busySeconds(rig.engine.jobsBetween(w0, w1))
    val rowsCommitted = win.progress.map(_.numInputRows).sum
    check(base, "window")

    val drainS = win.drains.map(d => (d.endMs - d.startMs) / 1000.0)
    // from when the file was due, so a late generator counts against it
    val fresh = win.landed.flatMap(l =>
      win.commitMs.get((l.table, l.file)).map(c => (c - l.landMs + l.lagMs) / 1000.0))

    val e2e = Map(
      "setup_s" -> median(setupS),
      "job_s" -> jobS,
      "cpu_s" -> cpuS,
      "fresh_p50_s" -> quantile(fresh, 0.5),
      "fresh_p90_s" -> quantile(fresh, 0.9),
      "capacity_rows_per_s" -> rate(rowsCommitted.toDouble, busyS),
      "heap_peak_mb" -> heapMb)
    val uncommitted = win.landed.count(l => !win.commitMs.contains((l.table, l.file)))
    val detail = mutable.LinkedHashMap[String, Any](
      "setup_samples_s" -> setupS, "warm_s" -> warmS, "drain_samples_s" -> drainS,
      "backlog_samples_s" -> backlogS, "backlog_rows" -> backlogRows,
      "landed_files" -> win.landed.size, "fresh_samples" -> fresh.size,
      "rows_landed" -> win.landed.map(_.rows).sum,
      "rows_committed" -> rowsCommitted, "spark_busy_s" -> busyS,
      "ticks" -> ticks, "interval_ms" -> intervalMs)

    val layers = mutable.LinkedHashMap[String, Double]()
    if (a.trace) {
      rig.drain()
      val (eng, js) = engineLayer(rig, w0, w1, a.cpus, gcMs, (w1 - w0).toDouble)
      layers ++= eng
      layers("ingest.scan_passes") =
        rate(js.map(_.recordsRead).sum.toDouble, win.landed.map(_.rows).sum.toDouble)
      val (records, malformed) = Stream.decodeCounts(rig.spark, base)
      layers("ingest.decode_records") = records.toDouble
      layers("ingest.decode_malformed") = malformed.toDouble
      layers ++= streamingLayer(win)
      val (sinkFiles, sinkBytes) = Stream.sinkFiles(base)
      layers("streaming.sink_files") = sinkFiles.toDouble
      layers("streaming.sink_bytes") = sinkBytes.toDouble

      // the same window with a span per table drain
      val sp = new Spans(rig.spark.sparkContext)
      val tracedBase = s"$work/stream-traced"
      Stream.stage(rendered, tracedBase, ticks)
      Stream.window(rig.spark, rig.stream, rendered, tracedBase, ticks, intervalMs, Some(sp))
      check(tracedBase, "traced")
      Stream.tables.foreach(t => layers(s"streaming.drain_s.$t") =
        median(sp.spans.filter(_.name == s"drain.$t").map(_.ms / 1000.0)))
      layers("trace.overhead_frac") =
        rate(median(sp.spans.filter(_.name == "drain").map(_.ms / 1000.0)), median(drainS)) - 1.0
      detail("span_counters") = spanCounters(sp, rig.engine.jobsBetween(w1, System.currentTimeMillis()))

      // the same backlog drain on a single core
      rig.stop()
      rig = new Rig(session(1))
      val one = backlog("backlog-local1")
      speedupSpans.foreach(k => layers(s"speedup.$k") =
        if (k == "job" || k == "drain") rate(one, jobS) else 0.0)
      detail("local1_backlog_s") = one
    }
    rig.stop()
    Result(rows, inDir, win.landed.size.toLong, uncommitted.toLong, e2e,
      layerNames.map(k => k -> layers.getOrElse(k, 0.0)).toMap, detail.toMap, outputs.toSeq)
  }

  private def streamingLayer(win: Stream.Window): Map[String, Double] = {
    val ps = win.progress
    val firstByRun = ps.groupBy(_.runId).map { case (run, xs) =>
      run -> xs.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli).min
    }
    val startMs = win.startMs.flatMap { case (run, t) => firstByRun.get(run).map(f => (f - t).toDouble) }
    def meanDur(k: String) =
      if (ps.isEmpty) 0.0 else ps.map(p => p.durationMs.getOrDefault(k, 0L).toDouble).sum / ps.size
    val last = ps.groupBy(p => Stream.tableOf(p)).values.map(_.maxBy(_.batchId)).toSeq
    val withState = ps.filter(_.stateOperators.nonEmpty)
    val lastLand = win.landed.map(_.landMs).maxOption.getOrElse(0L)
    def backlogAt(t: Long) = win.landed.count(l =>
      l.landMs <= t && win.commitMs.get((l.table, l.file)).forall(_ > t))
    Map(
      "streaming.drains" -> win.drains.size.toDouble,
      "streaming.start_ms" -> median(startMs.toSeq),
      "streaming.state_rows" -> last.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble,
      "streaming.state_bytes" -> last.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum.toDouble,
      "streaming.state_commit_ms" -> (if (withState.isEmpty) 0.0
        else withState.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble).sum / withState.size),
      "streaming.backlog_files_max" ->
        win.drains.map(d => backlogAt(d.startMs)).maxOption.getOrElse(0).toDouble,
      "streaming.backlog_files_end" -> backlogAt(lastLand).toDouble,
      "streaming.gen_lag_s_max" -> win.landed.map(_.lagMs).maxOption.getOrElse(0L) / 1000.0) ++
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .map(k => s"streaming.trigger_ms.$k" -> meanDur(k))
  }
}
