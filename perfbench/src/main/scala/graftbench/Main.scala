package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.Internals
import graft.{Engine, JvmStamp, SparkEntry}

/** Benchmark harness: stages seeded inputs, runs one workload for a
  * fixed time, and writes every measurement plus the list of outputs
  * to check into `<work>/result.json`. `perfbench/run.py` drives it and
  * checks the outputs against the DuckDB twins.
  *
  * Usage: graftbench.Main --workload batch_daily|stream_ingest|corpus_curate
  *   --seed N --seconds S --trace 0|1 --work DIR --cpus N --sf X
  *   --setups N */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cpus: Int, sf: Double, setups: Int)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("cpus").toInt, m("sf").toDouble, m("setups").toInt)
  }

  /** An eighth of JvmStamp's default work: ~0.25 s per stamp. */
  val calibrateIters = 100000000L

  def session(cpus: Int): SparkSession = {
    val spark = Engine.prepare(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def loadAvg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+").take(3)
      .map(_.toDouble).toSeq
    catch { case _: Exception => Seq.empty }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Live session plus the probes attached to it. */
  final class Rig(val spark: SparkSession) {
    val engine = new EngineProbe
    val plan = new PlanProbe(spark)
    val stream = new StreamProbe
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(plan)
    spark.streams.addListener(stream)
    def drain(): Unit = Internals.drainBus(spark.sparkContext)
    def stop(): Unit = spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    HeapProbe.install
    val stamp = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "sf" -> a.sf, "cpus" -> a.cpus,
      "seconds" -> a.seconds, "trace" -> a.trace,
      "heap_max_mb" -> JvmStamp.heapMaxMb(), "load_before" -> loadAvg(),
      "calibrate_before_s" -> JvmStamp.calibrate(calibrateIters),
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)
    val work = new File(a.work).getAbsolutePath
    val res = a.workload match {
      case "batch_daily" | "corpus_curate" => new ClosedLoop(a, work).run()
      case "stream_ingest" => new OpenLoop(a, work).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    stamp("load_after") = loadAvg()
    stamp("calibrate_after_s") = JvmStamp.calibrate(calibrateIters)
    stamp("jvm") = JvmStamp.json()
    stamp("input_rows") = res.inputRows
    val oracle = SparkEntry.oracleSql
    // "pack_sequences:<split>" checks re-run the pack_sequences twin
    val twins = res.outputs.map(_("twin").toString.takeWhile(_ != ':')).distinct
    val doc = mutable.LinkedHashMap[String, Any](
      "stamp" -> stamp, "attempted" -> res.attempted, "failed" -> res.failed,
      "e2e" -> res.e2e, "layers" -> res.layers, "detail" -> res.detail,
      "outputs" -> res.outputs, "input_dir" -> res.inputDir,
      "oracle_sql" -> twins.map(t => t -> oracle(t)).toMap)
    Files.write(new File(work, "result.json").toPath, Json(doc).getBytes(UTF_8))
    System.exit(0)
  }

  final case class Result(inputRows: Map[String, Long], inputDir: String,
      attempted: Long, failed: Long, e2e: Map[String, Double],
      layers: Map[String, Double], detail: Map[String, Any],
      outputs: Seq[Map[String, Any]])

  /** Per-layer metric names every workload reports; a layer a workload
    * does not exercise reports 0. */
  val layerNames: Seq[String] = Seq(
    "engine.jobs", "engine.stages", "engine.tasks",
    "engine.plan_ms.analysis", "engine.plan_ms.optimization", "engine.plan_ms.planning",
    "engine.task_deser_ms", "engine.task_run_ms", "engine.task_cpu_ms", "engine.gc_ms",
    "engine.core_busy_frac", "engine.shuffle_read_bytes", "engine.shuffle_write_bytes",
    "engine.spill_bytes", "engine.peak_exec_mem_bytes",
    "ingest.scan_passes", "ingest.decode_records", "ingest.decode_malformed",
    "pipeline.derive_s", "pipeline.clean_s", "pipeline.query_s", "pipeline.sink_s") ++
    (1 to 9).map(i => s"pipeline.query.q${i}_s") ++ Seq(
    "pipeline.clean_reuse",
    "streaming.drains", "streaming.drain_s.pin", "streaming.drain_s.geo",
    "streaming.drain_s.user", "streaming.start_ms") ++
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
      "commitOffsets").map(k => s"streaming.trigger_ms.$k") ++ Seq(
    "streaming.state_rows", "streaming.state_bytes", "streaming.state_commit_ms",
    "streaming.backlog_files_max", "streaming.backlog_files_end",
    "streaming.gen_lag_s_max", "streaming.sink_files", "streaming.sink_bytes",
    "ext.curation_s", "ext.funnel_s", "ext.pack_s", "ext.curation_overlap_s",
    "ext.pin.jobs", "ext.pin.ms") ++
    extFiles.flatMap(f => Seq(s"ext.jobs.$f", s"ext.ms.$f")) ++ Seq(
    "trace.overhead_frac") ++ speedupSpans.map(s => s"speedup.$s")

  lazy val extFiles: Seq[String] = Seq("Dedup", "Similarity", "TextAnalysis", "Sampling")
  lazy val speedupSpans: Seq[String] =
    Seq("job", "derive", "clean", "query", "sink", "curation", "funnel", "pack", "drain")

  /** Engine counters over the jobs that started in [fromMs, toMs]. */
  def engineLayer(rig: Rig, fromMs: Long, toMs: Long, cpus: Int,
      gcMs: Long, wallMs: Double): (Map[String, Double], Vector[JobRec]) = {
    val js = rig.engine.jobsBetween(fromMs, toMs)
    val ps = rig.plan.between(fromMs, toMs)
    def sum(f: JobRec => Long) = js.map(f).sum.toDouble
    (Map(
      "engine.jobs" -> js.size.toDouble,
      "engine.stages" -> sum(_.stages),
      "engine.tasks" -> sum(_.tasks),
      "engine.plan_ms.analysis" -> ps.map(_.analysisMs).sum.toDouble,
      "engine.plan_ms.optimization" -> ps.map(_.optimizationMs).sum.toDouble,
      "engine.plan_ms.planning" -> ps.map(_.planningMs).sum.toDouble,
      "engine.task_deser_ms" -> sum(_.deserMs),
      "engine.task_run_ms" -> sum(_.runMs),
      "engine.task_cpu_ms" -> js.map(_.cpuNs).sum / 1e6,
      "engine.gc_ms" -> gcMs.toDouble,
      "engine.core_busy_frac" -> rate(js.map(_.runMs).sum.toDouble, wallMs * cpus),
      "engine.shuffle_read_bytes" -> sum(_.shuffleRead),
      "engine.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "engine.spill_bytes" -> sum(_.spill),
      "engine.peak_exec_mem_bytes" -> js.map(_.peakExecMem).maxOption.getOrElse(0L).toDouble,
      "ext.pin.jobs" -> js.count(_.siteFile == "Pin").toDouble,
      "ext.pin.ms" -> js.filter(_.siteFile == "Pin").map(_.durMs).sum.toDouble) ++
      extFiles.flatMap { f =>
        val fj = js.filter(_.siteFile == f)
        Seq(s"ext.jobs.$f" -> fj.size.toDouble, s"ext.ms.$f" -> fj.map(_.durMs).sum.toDouble)
      }, js)
  }

  /** Per-span-name engine counters, for the detail file. */
  def spanCounters(sp: Spans, js: Seq[JobRec]): Map[String, Any] =
    js.groupBy(j => sp.owner(j).map(_.name).getOrElse("-")).map { case (k, v) =>
      k -> Map("jobs" -> v.size, "tasks" -> v.map(_.tasks).sum,
        "run_ms" -> v.map(_.runMs).sum, "cpu_ms" -> v.map(_.cpuNs).sum / 1000000,
        "job_ms" -> v.map(_.durMs).sum, "shuffle_bytes" -> v.map(j => j.shuffleRead + j.shuffleWrite).sum)
    }

  /** Seconds at least one job of `js` was running: the union of their
    * intervals. */
  def busySeconds(js: Seq[JobRec]): Double = {
    val iv = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var union = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => union += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => union += ce - cs }
    union / 1000.0
  }

  /** Seconds the jobs of `js` ran beyond the union of their intervals:
    * the time concurrent jobs overlapped. */
  def overlapSeconds(js: Seq[JobRec]): Double =
    math.max(0.0, js.filter(_.endMs >= 0).map(_.durMs).sum / 1000.0 - busySeconds(js))

  def rate(num: Double, den: Double): Double = if (den > 0) num / den else 0.0
}
