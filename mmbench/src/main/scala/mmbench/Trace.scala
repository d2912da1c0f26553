package mmbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Outside-in span and counter recorder.
  *
  * A span is a named interval around one call into a layer's public
  * functions, made by the benchmark, never by the program. Spans nest on
  * the calling thread; each knows its parent. They are kept in memory and
  * written when the run ends.
  *
  * A `SparkListener` adds counters to the span that was innermost when a
  * job was submitted: jobs, stages, Spark tasks, task CPU and run time,
  * GC, shuffle write and spill. The span id travels with the job as a
  * local property, so counters land on the right span even though the
  * listener runs on its own thread. Stored RDD block bytes are sampled
  * from the block manager at every span end, for the stored peak.
  *
  * `Trace.Off` records nothing and installs no listener: the untraced
  * runs time the program alone.
  */
sealed trait Trace {
  def span[T](name: String)(f: => T): T
  /** Adds `v` to counter `key` of the innermost open span. */
  def count(key: String, v: Double): Unit
}

object Trace {
  object Off extends Trace {
    def span[T](name: String)(f: => T): T = f
    def count(key: String, v: Double): Unit = ()
  }

  final class Span(val id: Int, val parent: Int, val name: String, val start: Long) {
    var end: Long = -1L
    val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
    def seconds: Double = (end - start) / 1e9
  }

  val Property = "mmbench.span"
}

final class Recorder(sc: SparkContext) extends SparkListener with Trace {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stageSpan = mutable.Map.empty[Int, Int]
  private var storedPeak = 0L

  sc.addSparkListener(this)

  def span[T](name: String)(f: => T): T = {
    val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, System.nanoTime)
    spans.synchronized(spans += s)
    open = s :: open
    sc.setLocalProperty(Property, s.id.toString)
    try f finally {
      s.end = System.nanoTime
      open = open.tail
      sc.setLocalProperty(Property, open.headOption.map(_.id.toString).orNull)
      storedPeak = math.max(storedPeak, storedBytes)
    }
  }

  def count(key: String, v: Double): Unit = open.headOption.foreach(s => s.counters(key) += v)

  private def bump(spanId: Int, key: String, v: Double): Unit =
    if (spanId >= 0) spans.synchronized(spans(spanId).counters(key) += v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Property))).map(_.toInt).getOrElse(-1)
    synchronized(e.stageIds.foreach(stageSpan(_) = id))
    bump(id, "jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    bump(synchronized(stageSpan.getOrElse(e.stageInfo.stageId, -1)), "stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = synchronized(stageSpan.getOrElse(e.stageId, -1))
    val m = e.taskMetrics
    bump(id, "spark_tasks", 1)
    if (m != null) {
      bump(id, "task_cpu_s", m.executorCpuTime / 1e9)
      bump(id, "task_run_s", m.executorRunTime / 1e3)
      bump(id, "gc_s", m.jvmGCTime / 1e3)
      bump(id, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      bump(id, "spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.MmbenchAccess.drain(sc)

  /** RDD block bytes the block manager holds now, in memory and on disk. */
  def storedBytes: Long = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
  def storedPeakMb: Double = storedPeak / 1e6

  def all: Seq[Span] = { drain(); spans.synchronized(spans.toList) }

  /** Time of `s` not covered by its direct children. */
  def selfSeconds(s: Span, children: Map[Int, Seq[Span]]): Double = {
    val kids = children.getOrElse(s.id, Nil).sortBy(_.start)
    var covered = 0L
    var reach = s.start
    kids.foreach { k =>
      val from = math.max(k.start, reach)
      if (k.end > from) { covered += k.end - from; reach = k.end }
    }
    (s.end - s.start - covered) / 1e9
  }

  def stop(): Unit = sc.removeSparkListener(this)

  /** The spans as JSON lines, for the file written at the end of a run. */
  def toJson(children: Map[Int, Seq[Span]]): String =
    all.map { s =>
      val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "start_ns": ${s.start}, "end_ns": ${s.end}, "self_s": ${selfSeconds(s, children)}, "counters": {$cs}}"""
    }.mkString("\n")
}
