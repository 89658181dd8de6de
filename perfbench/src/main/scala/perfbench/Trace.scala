package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Spark task counters summed over some set of jobs. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runS: Double = 0, schedDelayS: Double = 0, gcS: Double = 0,
    shuffleWriteMb: Double = 0, spillMb: Double = 0,
    peakExecMemMb: Double = 0, maxTaskS: Double = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runS + o.runS, schedDelayS + o.schedDelayS, gcS + o.gcS,
    shuffleWriteMb + o.shuffleWriteMb, spillMb + o.spillMb,
    math.max(peakExecMemMb, o.peakExecMemMb), math.max(maxTaskS, o.maxTaskS))
}

/** Collects task metrics per job group. A span sets its own job group
  * while it runs, so every job, stage and task the span's call starts
  * is charged to that span. Job wall intervals are kept too: the part
  * of a pass covered by no running job is driver time. */
final class GroupListener extends SparkListener {
  private val MB = 1024.0 * 1024.0
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val byGroup = mutable.Map.empty[String, Counters]
  /** (group, start ms, end ms) of every finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def add(g: String, c: Counters): Unit =
    byGroup(g) = byGroup.getOrElse(g, Counters()) + c

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Bridge.jobGroupKey)))
      .getOrElse("-")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    add(g, Counters(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "-")
    jobIntervals += ((g, jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      add(stageGroup.getOrElse(e.stageInfo.stageId, "-"), Counters(stages = 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val run = m.executorRunTime / 1000.0
      val overhead = m.executorDeserializeTime + m.resultSerializationTime +
        m.executorRunTime + i.gettingResultTime
      add(stageGroup.getOrElse(e.stageId, "-"), Counters(
        tasks = 1, runS = run,
        schedDelayS = math.max(0L, i.duration - overhead) / 1000.0,
        gcS = m.jvmGCTime / 1000.0,
        shuffleWriteMb = m.shuffleWriteMetrics.bytesWritten / MB,
        spillMb = (m.memoryBytesSpilled + m.diskBytesSpilled) / MB,
        peakExecMemMb = m.peakExecutionMemory / MB,
        maxTaskS = i.duration / 1000.0))
    }
  }

  def counters(pred: String => Boolean): Counters = synchronized {
    byGroup.collect { case (g, c) if pred(g) => c }
      .foldLeft(Counters())(_ + _)
  }
}

/** One timed call: `id` doubles as the Spark job group. */
final case class Span(id: String, name: String, parent: Option[String],
    pass: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The traced run's recorder. Spans stay in memory and are written out
  * once, when the run ends. With tracing off every method runs its body
  * and nothing else, so the untraced run pays no recording cost. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val listener: Option[GroupListener] =
    if (enabled) Some(new GroupListener) else None
  listener.foreach(sc.addSparkListener)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]
  private val passBounds = mutable.Map.empty[Int, (Long, Long)]
  private var pass = 0
  private var next = 0

  def passGroup(p: Int): String = s"p$p"

  private def setGroup(g: String): Unit =
    sc.setJobGroup(g, g, interruptOnCancel = false)

  /** Run one pass; with tracing on, jobs outside any span are charged
    * to the pass's own group. */
  def inPass[A](p: Int)(body: => A): A = {
    pass = p
    if (!enabled) body
    else {
      setGroup(passGroup(p))
      try body finally sc.clearJobGroup()
    }
  }

  /** The timed part of the current pass: its bounds are the pass's
    * bounds for driver self time. */
  def measured[A](body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body finally passBounds(pass) = (t0, System.nanoTime())
    }

  /** Work after the timed part (output checks, probes): its jobs go to
    * a group of their own, so no pass or span counter includes them. */
  def unmeasured[A](body: => A): A =
    if (!enabled) body
    else {
      setGroup(s"check-${passGroup(pass)}")
      try body finally setGroup(passGroup(pass))
    }

  /** Time `body` as span `name` (a child of the innermost open span). */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      next += 1
      val id = s"${passGroup(pass)}/s$next"
      val parent = stack.headOption
      stack = id :: stack
      setGroup(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        setGroup(stack.headOption.getOrElse(passGroup(pass)))
        spans += Span(id, name, parent, pass, t0, t1)
      }
    }

  /** Time one public call that returns a frame. Traced, the frame is
    * persisted and counted inside the span, so the span covers the work
    * of that call alone and later spans read its output from memory. */
  def frame(name: String)(body: => DataFrame): DataFrame =
    if (!enabled) body
    else span(name) {
      val df = body.persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) Bridge.drainListenerBus(sc)

  /** Counters of one span's own jobs (children excluded). */
  def countersOf(id: String): Counters =
    listener.map(_.counters(_ == id)).getOrElse(Counters())

  /** Counters of one span and everything under it. */
  def countersUnder(id: String): Counters =
    listener.map(_.counters(g => g == id || g.startsWith(id + "/")))
      .getOrElse(Counters())

  /** Counters of every job of pass `p`. */
  def passCounters(p: Int): Counters = listener.map(_.counters(g =>
    g == passGroup(p) || g.startsWith(passGroup(p) + "/"))).getOrElse(Counters())

  /** Seconds of pass `p` during which none of its Spark jobs ran. */
  def driverSelfSeconds(p: Int): Double = {
    val (t0, t1) = passBounds(p)
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val ivs = listener.toSeq.flatMap(_.jobIntervals.toSeq)
      .filter { case (g, _, _) => g == passGroup(p) || g.startsWith(passGroup(p) + "/") }
      .map { case (_, s, e) => (s * 1000000L + offsetNs, e * 1000000L + offsetNs) }
    (t1 - t0) / 1e9 - Tracer.covered(t0, t1, ivs) / 1e9
  }

  /** A span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent.contains(s.id)).map(k => (k.startNs, k.endNs))
    s.seconds - Tracer.covered(s.startNs, s.endNs, kids.toSeq) / 1e9
  }

  /** Spans as JSON lines: name, start, end, parent, pass, self time and
    * the span's own Spark counters. */
  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    val c = countersOf(s.id)
    val parent = s.parent.map(p => "\"" + p + "\"").getOrElse("null")
    s"""{"id":"${s.id}","name":"${s.name}","parent":$parent,"pass":${s.pass},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"seconds":${s.seconds},""" +
      s""""self_s":${selfSeconds(s)},"jobs":${c.jobs},"stages":${c.stages},""" +
      s""""tasks":${c.tasks},"executor_run_s":${c.runS},""" +
      s""""sched_delay_s":${c.schedDelayS},"gc_s":${c.gcS},""" +
      s""""shuffle_write_mb":${c.shuffleWriteMb},"spill_mb":${c.spillMb},""" +
      s""""peak_exec_mem_mb":${c.peakExecMemMb},"max_task_s":${c.maxTaskS}}"""
  }
}

object Tracer {
  /** Length of the union of `ivs`, each cut to [t0, t1]. */
  def covered(t0: Long, t1: Long, ivs: Seq[(Long, Long)]): Long = {
    val cut = ivs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    cut.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
