package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval at a layer boundary. Times are epoch millis
  * (comparable with Spark listener event times); `parent` is the id of
  * the span that caused it (-1 for a root), `run` is the run id all
  * spans of one benchmark run share.
  */
final case class Span(id: Long, name: String, layer: String, start: Double,
                      end: Double, parent: Long, run: String)

/** Summed task metrics of a set of Spark tasks. */
final class TaskTotals {
  var tasks = 0L; var runMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var diskSpill = 0L
  val jobs: mutable.Set[Int] = mutable.Set.empty
  def add(jobId: Int, m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1; jobs += jobId
    runMs += m.executorRunTime; gcMs += m.jvmGCTime
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    diskSpill += m.diskBytesSpilled
  }
  def ++=(o: TaskTotals): this.type = {
    tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; diskSpill += o.diskSpill; jobs ++= o.jobs
    this
  }
}

/** Span recorder plus a SparkListener that attributes task metrics to
  * spans. Spans live in memory and are written once, when the run ends.
  *
  * Attribution, without any hook inside the program:
  *  - the benchmark sets the local property `perfbench.span` to the
  *    open span's id before calling into the library; Spark copies
  *    local properties into every job (threads the library starts
  *    inherit them), so each job knows its benchmark span;
  *  - a job inside a SQL execution whose plan writes under
  *    `<runDir>/stage=<name>/` belongs to that snapshot stage; the other
  *    executions of the same span (driver collects, probes) go to the
  *    next stage write that starts after them, which is the stage whose
  *    compute block ran them.
  *
  * When `enabled` is false nothing is registered and `span` only runs
  * the body, so the untimed path costs one branch per call.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, val run: String) {
  private val nextId = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  private val execStage = mutable.Map.empty[Long, String] // execution -> stage
  private val execTimes = mutable.Map.empty[Long, (Long, Long)] // start, end
  private val execSpan = mutable.Map.empty[Long, Long]
  private val jobExec = mutable.Map.empty[Int, Long]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  // (span id, execution id or -1) -> totals
  private val byExec = mutable.Map.empty[(Long, Long), TaskTotals]
  /** Every task since the last [[restartTotals]]. */
  @volatile var all = new TaskTotals
  private val listenerNanos = new AtomicLong(0)
  private val StageRe = """/stage=([^/\s,\]]+)/snap=""".r

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      e.stageIds.foreach(stageJob(_) = e.jobId)
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty("perfbench.drain")))
        .foreach(drainJobs(e.jobId) = _)
      p.flatMap(x => Option(x.getProperty("perfbench.span")))
        .foreach(s => jobSpan(e.jobId) = s.toLong)
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .foreach { x =>
          jobExec(e.jobId) = x.toLong
          jobSpan.get(e.jobId).foreach(s => execSpan.getOrElseUpdate(x.toLong, s))
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      drainJobs.remove(e.jobId).foreach(drainSeen = _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      val job0 = stageJob.getOrElse(e.stageId, -1)
      if (m != null && !drainJobs.contains(job0)) {
        val job = stageJob.getOrElse(e.stageId, -1)
        all.add(job, m)
        val key = (jobSpan.getOrElse(job, -1L), jobExec.getOrElse(job, -1L))
        byExec.getOrElseUpdate(key, new TaskTotals).add(job, m)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execTimes(s.executionId) = (s.time, Long.MaxValue)
          // the output path is the first stage dir after the (last
          // mention of the) write command: tree and formatted plans both
          // put the write's arguments before any scan location
          val plan = s.physicalPlanDescription
          val at = plan.lastIndexOf("InsertIntoHadoopFsRelationCommand")
          if (at >= 0) StageRe.findFirstMatchIn(plan.substring(at))
            .foreach(st => execStage(s.executionId) = st.group(1))
        case s: SparkListenerSQLExecutionEnd =>
          execTimes.get(s.executionId).foreach { case (a, _) =>
            execTimes(s.executionId) = (a, s.time) }
        case _ =>
      }
    }
  }
  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try synchronized(f) finally listenerNanos.addAndGet(System.nanoTime() - t0)
  }

  if (enabled) sc.addSparkListener(listener)

  /** Starts `all` afresh once every earlier event is handled. */
  def restartTotals(): Unit = { drain(); synchronized { all = new TaskTotals } }

  /** Seconds the listener spent handling events (tracing overhead on
    * the listener bus).
    */
  def listenerSeconds: Double = listenerNanos.get / 1e9

  /** Run `body` inside a span named `name` of `layer`. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val stack = open.get
      val prev = sc.getLocalProperty("perfbench.span")
      open.set(id :: stack)
      sc.setLocalProperty("perfbench.span", id.toString)
      val t0 = System.currentTimeMillis().toDouble
      try body
      finally {
        spans.add(Span(id, name, layer, t0, System.currentTimeMillis().toDouble,
          stack.headOption.getOrElse(-1L), run))
        open.set(stack)
        sc.setLocalProperty("perfbench.span", prev)
      }
    }

  /** Add a child span with known bounds (from a manifest). */
  def child(parent: Long, name: String, layer: String, start: Double,
            end: Double): Span = {
    val s = Span(nextId.incrementAndGet(), name, layer, start, end, parent, run)
    spans.add(s)
    s
  }

  def lastSpan(name: String): Option[Span] =
    spans.asScala.filter(_.name == name).toSeq.sortBy(_.id).lastOption

  /** Waits until the listener bus has delivered every event posted so
    * far: the bus is one ordered queue, so once the end of a marker job
    * arrives, every earlier event has been handled.
    */
  def drain(): Unit = if (enabled) {
    val token = System.nanoTime().toString
    sc.setLocalProperty("perfbench.drain", token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("perfbench.drain", null)
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline && drainSeen != token)
      Thread.sleep(10)
  }
  @volatile private var drainSeen = ""
  private val drainJobs = mutable.Map.empty[Int, String]

  /** Task totals of span `id`, split by snapshot stage: the stage each
    * SQL execution wrote, with non-writing executions given to the next
    * stage write of the same span ("" when there is none).
    */
  def stageTotals(id: Long): Map[String, TaskTotals] = synchronized {
    val execs = byExec.keys.filter(_._1 == id).map(_._2).toSeq
    val writes = execStage.keys.filter(x => execSpan.get(x).contains(id))
      .toSeq.sortBy(x => execTimes.get(x).map(_._1).getOrElse(0L))
    def owner(x: Long): String = execStage.getOrElse(x, {
      val t = execTimes.get(x).map(_._1).getOrElse(Long.MaxValue)
      writes.find(w => execTimes.get(w).exists(_._1 >= t))
        .map(execStage).getOrElse("")
    })
    execs.groupBy(x => if (x < 0) "" else owner(x)).map { case (st, xs) =>
      st -> xs.foldLeft(new TaskTotals)((acc, x) => acc ++= byExec((id, x)))
    }
  }

  /** End time (epoch ms) of the last write execution of `stage` inside
    * span `id`, when one ran.
    */
  def stageWriteEnd(id: Long, stage: String): Option[Long] = synchronized {
    execStage.collect { case (x, st) if st == stage && execSpan.get(x).contains(id) =>
      execTimes.get(x).map(_._2) }.flatten.filter(_ != Long.MaxValue)
      .maxOption
  }

  /** Task totals of every job that ran under span `id` (all stages). */
  def spanTotals(id: Long): TaskTotals =
    stageTotals(id).values.foldLeft(new TaskTotals)(_ ++= _)

  /** Span tree as JSON lines (one object per span). */
  def spansJson: String = spans.asScala.toSeq.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
      f""""start_ms":${s.start}%.0f,"end_ms":${s.end}%.0f,""" +
      s""""parent":${s.parent},"run":"${s.run}"}"""
  }.mkString("\n")

  /** Self time per layer: each span's duration minus the part of its
    * interval its children cover.
    */
  def selfTimes: Map[String, Double] = {
    val ss = spans.asScala.toSeq
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var cur = (Double.NaN, Double.NaN)
      cs.foreach { case (a, b) =>
        if (cur._1.isNaN) cur = (a, b)
        else if (a <= cur._2) cur = (cur._1, cur._2 max b)
        else { covered += cur._2 - cur._1; cur = (a, b) }
      }
      if (!cur._1.isNaN) covered += cur._2 - cur._1
      s.layer -> ((s.end - s.start - covered) / 1e3).max(0.0)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
