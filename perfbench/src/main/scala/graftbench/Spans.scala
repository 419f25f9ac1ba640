package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext

/** Benchmark-side spans for the traced run. A span names one public
  * layer call; it sets the Spark job group to its path so the jobs it
  * starts carry it, and records its wall interval so jobs started by
  * other threads (the futures inside `pretrainingCorpus`) can be
  * attributed by time. Self time = span time minus its child spans. */
final class Spans(sc: SparkContext) {
  import Spans.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(String, Long, Array[Long])]

  def apply[T](name: String)(body: => T): T = {
    val path = stack.headOption.map(_._1 + "/").getOrElse("") + name
    val childMs = Array(0L)
    stack.push((path, System.currentTimeMillis(), childMs))
    sc.setJobGroup(path, path)
    try body
    finally {
      val (_, t0, _) = stack.pop()
      val t1 = System.currentTimeMillis()
      stack.headOption match {
        case Some((parent, _, acc)) => acc(0) += t1 - t0; sc.setJobGroup(parent, parent)
        case None => sc.clearJobGroup()
      }
      done += Span(path, name, stack.size, t0, t1, childMs(0))
    }
  }

  def spans: Vector[Span] = done.toVector

  /** Seconds of self time per span name, summed over repeats. */
  def selfSeconds: Map[String, Double] =
    done.groupBy(_.name).map { case (k, v) => k -> v.map(_.selfMs).sum / 1000.0 }

  /** The innermost span whose group a job carries, else the innermost
    * span open when the job started. */
  def owner(j: JobRec): Option[Span] = {
    val open = done.filter(s => j.startMs >= s.startMs && j.startMs <= s.endMs)
    open.find(_.path == j.group).orElse(open.sortBy(-_.depth).headOption)
  }
}

object Spans {
  final case class Span(path: String, name: String, depth: Int,
      startMs: Long, endMs: Long, childMs: Long) {
    def ms: Long = endMs - startMs
    def selfMs: Long = ms - childMs
  }
}
