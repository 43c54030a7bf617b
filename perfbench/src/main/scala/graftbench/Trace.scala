package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** A call from the benchmark into one graft layer. Times are epoch
  * milliseconds with sub-millisecond precision, on the same clock as
  * Spark's job submit times.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    op: String, start: Double, var end: Double)

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written out when the run ends. With tracing off, `span` only
  * runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val msBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  /** Workload/op id stamped on every span opened from now on. */
  var op: String = "setup"

  def now: Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sp = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        layer, name, op, now, Double.NaN)
      spans += sp
      stack = sp :: stack
      try body
      finally { sp.end = now; stack = stack.tail }
    }

  def all: Seq[Span] = spans.toSeq
}

/** Job, stage and task telemetry from the Spark listener bus. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val submit: Long, var end: Long)
  final class Agg {
    var tasks = 0L; var failed = 0L; var cpuNs = 0L; var shuffle = 0L
    var spill = 0L; var input = 0L; var output = 0L
  }
  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageAgg = mutable.Map[Int, Agg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time, -1L)
    // a stage reused by a later job ran its tasks under the first one
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate(e.stageId, new Agg)
    a.tasks += 1
    e.reason match {
      case org.apache.spark.Success =>
      case _ => a.failed += 1
    }
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
    }
  }

  /** Per-job task roll-up. */
  def perJob: Map[Int, Agg] = synchronized {
    val out = mutable.Map[Int, Agg]()
    stageAgg.foreach { case (s, a) =>
      stageJob.get(s).foreach { j =>
        val t = out.getOrElseUpdate(j, new Agg)
        t.tasks += a.tasks; t.failed += a.failed; t.cpuNs += a.cpuNs
        t.shuffle += a.shuffle; t.spill += a.spill; t.input += a.input
        t.output += a.output
      }
    }
    out.toMap
  }
}

/** Micro-batch telemetry of the streaming layer. */
final class StreamListener extends StreamingQueryListener {
  private val dur = mutable.Map[String, Long]().withDefaultValue(0L)
  @volatile var lastBatch = -1L
  /** (input rows, trigger execution ms) of every micro-batch with data. */
  val epochs: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer[(Long, Long)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      p.durationMs.forEach((k, v) => dur(k) += v.longValue)
      lastBatch = math.max(lastBatch, p.batchId)
      if (p.numInputRows > 0)
        epochs += ((p.numInputRows, p.durationMs.getOrDefault("triggerExecution", 0L).longValue))
    }
  def seconds(key: String): Double = synchronized(dur(key) / 1000.0)
  def reset(): Unit = synchronized { dur.clear(); epochs.clear() }
}

/** Per-layer roll-up of spans and listener telemetry. */
object Layers {
  val Names: Seq[String] =
    Seq("sources", "pipeline", "operators", "functions", "dedup", "similarity", "streaming")

  /** Length of `a` minus the union of `cut` (both as [lo, hi] lists). */
  private def uncovered(a: (Double, Double), cut: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var hi = a._1
    cut.filter(c => c._2 > a._1 && c._1 < a._2).sortBy(_._1).foreach { c =>
      val lo = math.max(c._1, hi)
      val top = math.min(c._2, a._2)
      if (top > lo) { covered += top - lo; hi = top }
    }
    (a._2 - a._1) - covered
  }

  def rollup(spans: Seq[Span], jl: JobListener): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = jl.synchronized(jl.jobs.values.toSeq)
    val agg = jl.perJob
    // innermost span open at each job's submit time
    def owner(t: Double): Option[Span] =
      spans.filter(s => s.start <= t && t <= s.end).sortBy(-_.start).headOption
    val jobOwner = jobs.flatMap(j => owner(j.submit.toDouble).map(s => j -> s))
    val jobIv = jobs.map(j => (j.submit.toDouble,
      if (j.end > 0) j.end.toDouble else j.submit.toDouble))
    def ancestorSameLayer(s: Span): Boolean = {
      var p = byId.get(s.parent)
      while (p.isDefined) {
        if (p.get.layer == s.layer) return true
        p = byId.get(p.get.parent)
      }
      false
    }
    val out = mutable.LinkedHashMap[String, Double]()
    Names.foreach { l =>
      val ls = spans.filter(_.layer == l)
      val wall = ls.filterNot(ancestorSameLayer).map(s => s.end - s.start).sum
      var self = 0.0
      var driver = 0.0
      ls.foreach { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        self += uncovered((s.start, s.end), kids)
        driver += uncovered((s.start, s.end), kids ++ jobIv)
      }
      val owned = jobOwner.filter(_._2.layer == l).map(_._1)
      val a = owned.flatMap(j => agg.get(j.id))
      out(s"$l.wall_s") = wall / 1000
      out(s"$l.self_s") = self / 1000
      out(s"$l.driver_s") = driver / 1000
      out(s"$l.exec_cpu_s") = a.map(_.cpuNs).sum / 1e9
      out(s"$l.jobs") = owned.size.toDouble
      out(s"$l.tasks") = a.map(_.tasks).sum.toDouble
      out(s"$l.shuffle_bytes") = a.map(_.shuffle).sum.toDouble
      out(s"$l.spill_bytes") = a.map(_.spill).sum.toDouble
      out(s"$l.failed_tasks") = a.map(_.failed).sum.toDouble
    }
    // bytes read by any layer's jobs: the scans run inside the consuming
    // layer's jobs, so they cannot be split off by span
    def owned(layers: Seq[String]) =
      jobOwner.filter(j => layers.contains(j._2.layer)).flatMap(j => agg.get(j._1.id))
    out("sources.input_bytes") = owned(Names).map(_.input).sum.toDouble
    out("pipeline.bytes_written") = owned(Seq("pipeline")).map(_.output).sum.toDouble
    out.toMap
  }
}
