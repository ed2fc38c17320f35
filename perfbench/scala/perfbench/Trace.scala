package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One layer call: name, wall interval (epoch ms, the listener bus's clock)
  * and the span that caused it. Spans of one timed operation share `op`. */
final case class Span(id: Int, op: Int, name: String, parent: Int, start: Long, end: Long)

/** Listener-bus counters of one job group. */
final class Counters {
  var jobs = 0
  var tasks = 0L
  var execCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans in memory plus one Spark job group per span phase.
  *
  * A span's work runs in two job groups: `<id>|build` while the layer's
  * function builds its DataFrame, and `<id>|act` around the action that
  * evaluates it. Jobs in the build group ran before the action: the eager
  * materializations a plan performs while it is being built. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val groupOfJob = mutable.Map.empty[Int, String]
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val counters = mutable.Map.empty[String, Counters]
  // execution id -> (job group, latest physical plan description)
  private val plans = mutable.LinkedHashMap.empty[Long, (String, String)]

  sc.addSparkListener(this)

  private def c(group: String): Counters = counters.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    groupOfJob(e.jobId) = g
    e.stageIds.foreach(groupOfStage(_) = g)
    jobStart(e.jobId) = e.time
    val k = c(g)
    k.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- groupOfJob.get(e.jobId); t0 <- jobStart.get(e.jobId))
      c(g).jobIntervals += ((t0, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- groupOfStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      val k = c(g)
      k.tasks += 1
      k.execCpuNs += m.executorCpuTime
      k.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      k.spillBytes += m.diskBytesSpilled
      k.peakExecMem = math.max(k.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        plans(s.executionId) = (s.jobGroupId.getOrElse(""), s.physicalPlanDescription)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        plans.get(u.executionId).foreach { case (g, _) =>
          plans(u.executionId) = (g, u.physicalPlanDescription)
        }
      case _ =>
    }
  }

  private def newId(): Int = synchronized { nextId += 1; nextId }

  private def record(s: Span): Span = synchronized { spans += s; s }

  /** Run `build` in the span's build group and `act` on its result in the
    * act group; returns the action's value. */
  def span[D, R](op: Int, name: String, parent: Int)(build: => D)(act: D => R): (Span, R) = {
    val id = newId()
    val t0 = System.currentTimeMillis()
    try {
      sc.setJobGroup(s"$id|build", name)
      val d = build
      sc.setJobGroup(s"$id|act", name)
      val r = act(d)
      (record(Span(id, op, name, parent, t0, System.currentTimeMillis())), r)
    } finally sc.clearJobGroup()
  }

  /** The root span of one timed operation; `body` gets its id to parent
    * the layer spans it opens. */
  def root[R](op: Int, name: String)(body: Int => R): (Span, R) = {
    val id = newId()
    val t0 = System.currentTimeMillis()
    val r = body(id)
    (record(Span(id, op, name, 0, t0, System.currentTimeMillis())), r)
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.BusDrain(sc)

  /** Listener totals over the spans `ss`, as named per-layer counters.
    * The driver gap is each span's wall time minus the part of it covered
    * by its own jobs. */
  def counters(prefix: String, ss: Seq[Span]): Map[String, Double] = synchronized {
    def groups(s: Span, phases: String*): Seq[Counters] =
      phases.flatMap(p => counters.get(s"${s.id}|$p"))
    val all = ss.flatMap(groups(_, "build", "act"))
    val prebuild = ss.flatMap(groups(_, "build")).map(_.jobs).sum
    val gapMs = ss.map { s =>
      val busy = union(groups(s, "build", "act").flatMap(_.jobIntervals)
        .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
        .filter { case (a, b) => b > a })
      (s.end - s.start) - busy
    }.sum
    val mb = 1024.0 * 1024.0
    Map(
      s"$prefix.jobs" -> all.map(_.jobs).sum.toDouble,
      s"$prefix.prebuild_jobs" -> prebuild.toDouble,
      s"$prefix.tasks" -> all.map(_.tasks).sum.toDouble,
      s"$prefix.exec_cpu_s" -> all.map(_.execCpuNs).sum / 1e9,
      s"$prefix.shuffle_write_mb" -> all.map(_.shuffleWriteBytes).sum / mb,
      s"$prefix.spill_mb" -> all.map(_.spillBytes).sum / mb,
      s"$prefix.peak_exec_mem_mb" -> (all.map(_.peakExecMem) :+ 0L).max / mb,
      s"$prefix.driver_gap_s" -> gapMs / 1e3)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Final-plan digests of the SQL executions run inside `s`: the last
    * plan each execution reported (the final adaptive plan), with
    * expression ids, plan ids, object hashes and file paths stripped. */
  def planDigests(s: Span): Seq[String] = synchronized {
    val groups = Set(s"${s.id}|build", s"${s.id}|act")
    plans.values.collect { case (g, plan) if groups(g) => Tracer.digest(plan) }.toSeq
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  private val volatile = Seq(
    "#\\d+L?" -> "#", "plan_id=\\d+" -> "plan_id=", "id=#?\\d+" -> "id=",
    "@[0-9a-f]{4,}" -> "@", "file:[^\\s,\\]]*" -> "file:", "\\[\\d+\\]" -> "[]",
    // fresh names and ids of lambda variables (higher-order functions, encoders)
    "\\b([a-z]+)_\\d+#" -> "$1_#", "(lambdavariable\\(\\w+, .*?, (?:true|false), )-?\\d+\\)" -> "$1)")

  def normalize(plan: String): String =
    volatile.foldLeft(plan) { case (p, (re, by)) => p.replaceAll(re, by) }

  def digest(plan: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(normalize(plan).getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }
}
