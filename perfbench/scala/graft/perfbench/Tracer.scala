package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call into a layer, recorded from the benchmark's side. */
final case class Span(id: Int, name: String, parent: Int, request: Long,
                      startMs: Double, var endMs: Double = 0.0,
                      var filesWritten: Long = -1L)

/** Spark counters attributed to one span through its job group. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var inputBytes = 0L
  val jobWindows = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** Job/stage/task counters keyed by the job group the tracer sets.
  * Events arrive on Spark's listener bus thread, so every access is
  * synchronized. */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Counts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  @volatile var sentinelSeen = false

  private def group(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

  private def counts(g: String): Counts = byGroup.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    group(e.properties).foreach { g =>
      counts(g).jobs += 1
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- jobGroup.get(e.jobId); t0 <- jobStart.get(e.jobId))
      counts(g).jobWindows += ((t0, e.time))
    if (jobGroup.get(e.jobId).contains(GroupListener.Sentinel)) sentinelSeen = true
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    group(e.properties).foreach { g =>
      counts(g).stages += 1
      stageGroup(e.stageInfo.stageId) = g
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = counts(g)
      c.tasks += 1
      if (e.taskMetrics != null) c.inputBytes += e.taskMetrics.inputMetrics.bytesRead
    }
  }

  def snapshot(): Map[String, Counts] = synchronized(byGroup.toMap)
}

object GroupListener {
  val Sentinel = "pb-sentinel"
}

/** Spans around the benchmark's calls into the program. Disabled, it
  * costs one branch per call: end-to-end figures come from untraced
  * runs. Enabled, each span sets a Spark job group named after itself,
  * so the listener attributes every job, stage and task the call
  * starts to the innermost open span. Spans stay in memory until
  * [[writeJsonl]] at the end of the run. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var request = 0L
  /** The run phase each span is tagged with: setup, warmup, timed or
    * checks. Per-layer figures read setup steps from the setup phase
    * and every other step from the timed phase. */
  var phase: String = "setup"
  val phaseOf = mutable.HashMap.empty[Int, String]
  val listener: Option[GroupListener] =
    if (enabled) { val l = new GroupListener; sc.addSparkListener(l); Some(l) } else None

  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** Epoch milliseconds on the monotonic clock, comparable with the
    * epoch times Spark stamps on job events. */
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def newRequest(): Unit = request += 1

  def span[T](name: String, roots: => Seq[String] = Nil)(body: => T): T =
    if (!enabled) body
    else {
      val before = if (roots.isEmpty) null else FileCount.files(roots)
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        request, nowMs())
      spans += s
      phaseOf(s.id) = phase
      open = s :: open
      sc.setJobGroup(s"pb${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = nowMs()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"pb${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        if (before != null) s.filesWritten = (FileCount.files(roots) -- before).size.toLong
      }
    }

  /** Wait until the listener has seen every event posted so far: a
    * sentinel job's end event is delivered after all earlier events of
    * the same queue. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = listener.foreach { l =>
    sc.setJobGroup(GroupListener.Sentinel, "sentinel", interruptOnCancel = false)
    spark.range(1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!l.sentinelSeen && System.currentTimeMillis() < deadline) Thread.sleep(5)
    require(l.sentinelSeen, "the Spark listener bus did not drain within 30 s")
  }

  /** Spark counters of one span's whole subtree. */
  def subtreeCounts(all: Map[String, Counts], children: Map[Int, Seq[Span]],
                    s: Span): Counts = {
    val out = new Counts
    def add(x: Span): Unit = {
      all.get(s"pb${x.id}").foreach { c =>
        out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
        out.inputBytes += c.inputBytes; out.jobWindows ++= c.jobWindows
      }
      children.getOrElse(x.id, Nil).foreach(add)
    }
    add(s)
    out
  }

  /** Wall time inside [start, end] not covered by any job window. */
  def gapMs(s: Span, windows: Seq[(Long, Long)]): Double =
    Intervals.uncovered(s.startMs, s.endMs, windows.map { case (a, b) => (a.toDouble, b.toDouble) })

  /** Self time: the span minus the part of it its child spans cover. */
  def selfMs(s: Span, children: Map[Int, Seq[Span]]): Double =
    Intervals.uncovered(s.startMs, s.endMs,
      children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))

  def writeJsonl(path: String, all: Map[String, Counts]): Unit = {
    val children = spans.groupBy(_.parent).map { case (k, v) => k -> v.toSeq }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val c = subtreeCounts(all, children, s)
      w.println(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "phase" -> phaseOf(s.id),
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> selfMs(s, children), "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "input_bytes" -> c.inputBytes,
        "driver_gap_ms" -> gapMs(s, c.jobWindows.toSeq),
        "files_written" -> s.filesWritten)))
    } finally w.close()
  }
}

object Intervals {
  /** Length of [lo, hi] minus the union of `cover` clipped to it. */
  def uncovered(lo: Double, hi: Double, cover: Seq[(Double, Double)]): Double = {
    val clipped = cover.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { covered += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, (hi - lo) - covered)
  }
}

object FileCount {
  /** Every regular data file under `roots` (hidden and checksum files
    * excluded), by path. */
  def files(roots: Seq[String]): Set[String] = {
    val out = Set.newBuilder[String]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
      else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        out += f.getPath
    roots.foreach(r => walk(new java.io.File(r)))
    out.result()
  }

  def bytes(roots: Seq[String]): Long = {
    var n = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
      else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) n += f.length()
    roots.foreach(r => walk(new java.io.File(r)))
    n
  }
}
