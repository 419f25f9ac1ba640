package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.command.CreateViewCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbench.Internals
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job and the task-level counters of its stages. */
final class JobRec(val id: Int, val startMs: Long, val group: String,
    val site: String) {
  var endMs: Long = -1L
  var stages = 0L
  var tasks = 0L
  var deserMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L
  var recordsRead = 0L
  def durMs: Long = if (endMs >= startMs) endMs - startMs else 0L
  /** Source file of the call site, e.g. "Dedup" for "count at Dedup.scala:57". */
  def siteFile: String =
    """at ([A-Za-z0-9_$]+)\.scala:\d+""".r.findFirstMatchIn(site).map(_.group(1)).getOrElse("")
}

/** SparkListener that keeps one JobRec per job. The call site comes
  * from the SQL execution a job belongs to (its short call-site form),
  * else from the job's stage name, which Spark sets to the same form. */
final class EngineProbe extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, JobRec]
  private val execSite = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(x => execSite.get(x.toLong))
    val site = exec.orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("")
    val rec = new JobRec(e.jobId, e.time, group, site)
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageToJob(_) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageToJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.deserMs += m.executorDeserializeTime
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
      j.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Jobs that started inside [fromMs, toMs]. */
  def jobsBetween(fromMs: Long, toMs: Long): Vector[JobRec] =
    synchronized(jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toVector)
}

/** Planning-phase times of every Dataset action, and the number of
  * times an action's plan evaluates one of the `targets` frames.
  *
  * An evaluation is a reference to a target plan that the cache
  * manager would not serve from a cached copy, plus one build per
  * distinct cached or checkpointed relation carrying a target's
  * columns. This is the count that drops when a job computes a shared
  * table once and reuses it. */
final class PlanProbe(spark: SparkSession) extends QueryExecutionListener {
  import PlanProbe.Rec
  private val recs = mutable.ArrayBuffer.empty[Rec]
  private val builds = mutable.HashSet.empty[Int]
  @volatile private var targets: Seq[(LogicalPlan, Seq[String])] = Nil

  def track(frames: Seq[DataFrame]): Unit = synchronized {
    targets = frames.map(f => (f.queryExecution.analyzed.canonicalized, f.columns.toSeq))
    builds.clear()
  }

  /** Every node an action evaluates; a view definition evaluates nothing. */
  private def walk(p: LogicalPlan)(f: LogicalPlan => Unit): Unit = p match {
    case _: CreateViewCommand =>
    case _ =>
      f(p)
      p.children.foreach(walk(_)(f))
      p.innerChildren.foreach { case lp: LogicalPlan => walk(lp)(f); case _ => }
  }

  private def countRefs(plan: LogicalPlan): Int = {
    val ts = targets
    if (ts.isEmpty) return 0
    var n = 0
    def visit(root: LogicalPlan): Unit = walk(Internals.useCachedData(spark, root)) {
      case r: InMemoryRelation if ts.exists(_._2 == r.output.map(_.name)) =>
        builds += System.identityHashCode(r.cacheBuilder)
      case r: LogicalRDD if ts.exists(_._2 == r.output.map(_.name)) =>
        builds += r.rdd.id
      case node if ts.exists(_._1 == node.canonicalized) => n += 1
      case _ =>
    }
    visit(plan)
    n
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val refs = try countRefs(qe.analyzed) catch { case _: Exception => 0 }
    synchronized {
      recs += Rec(System.currentTimeMillis(), ms("analysis"), ms("optimization"),
        ms("planning"), refs)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def between(fromMs: Long, toMs: Long): Vector[Rec] =
    synchronized(recs.filter(r => r.atMs >= fromMs && r.atMs <= toMs).toVector)
  def cachedBuilds: Int = synchronized(builds.size)
}

object PlanProbe {
  final case class Rec(atMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, targetRefs: Int)
}

/** Structured Streaming progress, the per-trigger monitoring record. */
final class StreamProbe extends StreamingQueryListener {
  private val starts = mutable.ArrayBuffer.empty[(java.util.UUID, Long)]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized { starts += ((e.runId, java.time.Instant.parse(e.timestamp).toEpochMilli)) }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def snapshot(): (Vector[(java.util.UUID, Long)], Vector[StreamingQueryProgress]) =
    synchronized((starts.toVector, progress.toVector))
  def clear(): Unit = synchronized { starts.clear(); progress.clear() }
}

/** Peak heap in use right after a collection, over every GC the JVM
  * reports between `reset` and `peakMb`. */
object HeapProbe {
  private val peak = new AtomicLong(0L)
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }

  lazy val install: Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = peak.set(0L)

  /** Collect once so the window ends on a post-GC reading, then report. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(100)
    peak.get() / 1048576.0
  }
}

object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds(): Double = os.getProcessCpuTime / 1e9
}
