package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.Bridge

/** Cumulative Spark counters fed by a listener the benchmark registers. A
  * span reads them at open and at close; the difference is the span's
  * inclusive share. Job intervals are kept so a span can tell how much of
  * its wall time had no job running (its driver gap).
  */
final class JobStats extends SparkListener {
  final case class Totals(var jobs: Long = 0, var jobsFailed: Long = 0,
      var tasks: Long = 0, var tasksFailed: Long = 0, var taskNs: Long = 0,
      var shuffleWrite: Long = 0, var spill: Long = 0, var bytesRead: Long = 0)
  private val totals = Totals()
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (start ms, end ms) of every finished job. */
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    totals.jobs += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    e.jobResult match {
      case JobSucceeded => ()
      case _ => totals.jobsFailed += 1
    }
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    totals.tasks += 1
    if (!e.taskInfo.successful) totals.tasksFailed += 1
    Option(e.taskMetrics).foreach { m =>
      totals.taskNs += m.executorRunTime * 1000000L
      totals.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      totals.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      totals.bytesRead += m.inputMetrics.bytesRead
    }
  }

  def snapshot(): Totals = synchronized(totals.copy())

  /** Milliseconds of [from, to] during which at least one job ran. */
  def busyMs(from: Long, to: Long): Long = synchronized {
    val clipped = (intervals ++ jobStart.values.map(s => (s, to)))
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy
  }
}

/** One closed span: a call the benchmark made into a layer. `tracerNs` is
  * the tracer's own work inside the span's interval: bus drains, counter
  * reads and directory tallies of the spans nested in it.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long, tracerNs: Long, counters: Map[String, Double]) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into the program's layers.
  * Disabled, `span` only runs its body: no listener, no bus drains, so the
  * untraced run measures the program alone.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String,
    cores: Int) {
  private val stats = if (enabled) {
    val s = new JobStats
    sc.addSparkListener(s)
    Some(s)
  } else None
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var muted = false
  /** Nanoseconds the tracer has spent on its own work so far. */
  private var overheadNs = 0L

  private def overhead[A](work: => A): A = {
    val t = System.nanoTime()
    try work finally overheadNs += System.nanoTime() - t
  }

  private def recording: Boolean = stats.isDefined && !muted

  /** Run `body` inside span `name`. */
  def span[T](name: String)(body: => T): T = spanWith(name)(body)(_ => Map.empty)

  /** Run `body` without recording spans: the untimed warm operations. */
  def quiet[T](body: => T): T = {
    muted = true
    try body finally muted = false
  }

  /** `span`, adding the files and megabytes `body` leaves under `dir`. */
  def spanWrites[T](name: String, dir: String)(body: => T): T =
    if (!recording) body
    else {
      val before = overhead(Disk.tally(dir))
      spanWith(name)(body)(_ => Disk.tally(dir).map { case (k, v) =>
        k -> (v - before.getOrElse(k, 0.0)) })
    }

  /** `span`; `extra` adds counters computed from the body's result once
    * the span has closed.
    */
  def spanWith[T](name: String)(body: => T)(extra: T => Map[String, Double]): T =
    stats match {
      case Some(st) if !muted =>
        val before = overhead { Bridge.awaitListenerBusEmpty(sc); st.snapshot() }
        val id = nextId
        nextId += 1
        val parent = stack.headOption.getOrElse(-1)
        stack = id :: stack
        val startMs = System.currentTimeMillis()
        val o0 = overheadNs
        val t0 = System.nanoTime()
        val out = try body finally stack = stack.tail
        val t1 = System.nanoTime()
        val o1 = overheadNs
        val endMs = System.currentTimeMillis()
        overhead {
          Bridge.awaitListenerBusEmpty(sc)
          val after = st.snapshot()
          val wall = (t1 - t0) / 1e9
          val gap = math.max(0.0, wall - st.busyMs(startMs, endMs) / 1e3)
          val base = Map(
            "jobs" -> (after.jobs - before.jobs).toDouble,
            "tasks" -> (after.tasks - before.tasks).toDouble,
            "task_s" -> (after.taskNs - before.taskNs) / 1e9,
            "shuffle_write_mb" -> (after.shuffleWrite - before.shuffleWrite) / 1e6,
            "spill_mb" -> (after.spill - before.spill) / 1e6,
            "mb_read" -> (after.bytesRead - before.bytesRead) / 1e6,
            "driver_gap_s" -> math.min(gap, wall),
            "jobs_failed" -> (after.jobsFailed - before.jobsFailed).toDouble,
            "tasks_failed" -> (after.tasksFailed - before.tasksFailed).toDouble)
          closed += Span(id, name, parent, runId, t0, t1, o1 - o0, base ++ extra(out))
        }
        out
      case _ => body
    }

  def spans: Seq[Span] = closed.toSeq.sortBy(_.id)

  /** Failed jobs and tasks over the whole run, set-up included. */
  def failures: Map[String, Double] = stats.map { st =>
    Bridge.awaitListenerBusEmpty(sc)
    val t = st.snapshot()
    Map("run.jobs_failed" -> t.jobsFailed.toDouble, "run.tasks_failed" -> t.tasksFailed.toDouble)
  }.getOrElse(Map.empty)

  /** Span wall minus the part of it its direct children cover. Children
    * run one after another on the benchmark's single client thread, so
    * their intervals never overlap.
    */
  def selfS(s: Span): Double =
    s.wallS - closed.iterator.filter(_.parent == s.id).map(_.wallS).sum

  /** Per-layer metrics: for each span name, the median over its calls of
    * every counter, plus self time and core utilisation over the sums.
    */
  def layerMetrics: Map[String, Double] =
    spans.groupBy(_.name).flatMap { case (name, ss) =>
      val perCall: Seq[(String, Double)] =
        ss.head.counters.keys.toSeq.map(k =>
          k -> Stats.median(ss.map(_.counters.getOrElse(k, 0.0))))
      val wall = ss.map(_.wallS).sum
      val task = ss.map(_.counters("task_s")).sum
      (perCall ++ Seq(
        "wall_s" -> Stats.median(ss.map(_.wallS)),
        "self_s" -> Stats.median(ss.map(selfS)),
        "calls" -> ss.size.toDouble,
        "core_util" -> (if (wall > 0) task / (cores * wall) else 0.0)))
        .map { case (k, v) => s"$name.$k" -> v }
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
