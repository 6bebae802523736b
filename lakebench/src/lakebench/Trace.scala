package lakebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** One Spark job, attributed to the span that was open on the submitting
  * thread. `site` is the job's call-site stack (its stages' details) and,
  * for a job of a SQL execution, the execution's call site and physical
  * plan: adaptive execution submits its stage jobs from a pool thread whose
  * own stack holds no program frame.
  */
final class JobStat(val id: Int, val span: Span, val site: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var taskS: Double = 0.0
}

/** A timed call into one layer. Counters are summed task metrics of the
  * jobs submitted while the span was open, plus whatever the workload adds.
  */
final class Span(val id: Int, val name: String, val parent: Option[Span]) {
  val startMs: Long = System.currentTimeMillis()
  private val startNs = System.nanoTime()
  @volatile private var endNs = 0L
  @volatile var endMs = 0L
  private val counters = mutable.HashMap[String, Double]()
  val jobs = mutable.ArrayBuffer[JobStat]()
  val children = mutable.ArrayBuffer[Span]()

  def close(): Unit = { endNs = System.nanoTime(); endMs = System.currentTimeMillis() }
  def ms: Double = (endNs - startNs) / 1e6
  def add(k: String, v: Double): Unit = synchronized { counters(k) = counters.getOrElse(k, 0.0) + v }
  def apply(k: String): Double = synchronized(counters.getOrElse(k, 0.0))
  def counterMap: Map[String, Double] = synchronized(counters.toMap)

  def tree: Seq[Span] = this +: children.synchronized(children.toSeq).flatMap(_.tree)
  def allJobs: Seq[JobStat] = tree.flatMap(s => s.jobs.synchronized(s.jobs.toSeq))
  def total(k: String): Double = tree.map(_(k)).sum

  /** Wall time minus the union of Spark job intervals: planning, catalog
    * DDL, file listing, manifest and footer I/O and commits on the driver.
    */
  def driverMs: Double = ms - Trace.unionMs(allJobs.map(j => (j.startMs,
    if (j.endMs < 0) endMs else j.endMs)), startMs, endMs)

  /** Wall time minus the part covered by child spans. */
  def selfMs: Double = ms - Trace.unionMs(
    children.synchronized(children.toSeq).map(c => (c.startMs, c.endMs)), startMs, endMs)
}

/** Span recorder and Spark listener. Spans nest through a Spark local
  * property, which threads created inside a span inherit, so jobs a stage
  * submits from its own pool are attributed to that stage. When `on` is
  * false, `span` only runs its body: the untraced samples of a traced run
  * share the registered listener, which then records nothing.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val Key = "lakebench.span"
  @volatile var on = false
  private val byId = TrieMap[String, Span]()
  private val roots = mutable.ArrayBuffer[Span]()
  private val jobOf = TrieMap[Int, JobStat]()
  private val stageJob = TrieMap[Int, JobStat]()
  private val stageSubmit = TrieMap[Int, Long]()
  private val execSite = TrieMap[Long, String]()
  private var nextId = 0
  spark.sparkContext.addSparkListener(this)

  /** Run `f` inside a span named `name`; the span is passed to `f` so the
    * caller can add its own counters. Without tracing `f` gets None.
    */
  def spanned[T](name: String)(f: Option[Span] => T): T =
    if (!on) f(None)
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Key)
      val parent = Option(prev).flatMap(byId.get)
      val s = synchronized { nextId += 1; new Span(nextId, name, parent) }
      byId(s.id.toString) = s
      parent match {
        case Some(p) => p.children.synchronized(p.children += s)
        case None => roots.synchronized(roots += s)
      }
      sc.setLocalProperty(Key, s.id.toString)
      try f(Some(s))
      finally { s.close(); sc.setLocalProperty(Key, prev) }
    }

  def span[T](name: String)(f: => T): T = spanned(name)(_ => f)

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.LakebenchBus.drain(spark.sparkContext)

  def allSpans: Seq[Span] = roots.synchronized(roots.toSeq).flatMap(_.tree)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).flatMap(byId.get)
      .foreach { s =>
        val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(id => execSite.get(id.toLong))
        val j = new JobStat(e.jobId, s,
          (e.stageInfos.map(_.details) ++ exec).mkString("\n"), e.time)
        jobOf(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = j)
        s.jobs.synchronized(s.jobs += j)
        s.add("jobs", 1)
      }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if on =>
      // a nested execution (ANALYZE's scans) inherits its root's site
      execSite(x.executionId) = x.details + "\n" + x.physicalPlanDescription.take(4000) +
        x.rootExecutionId.filter(_ != x.executionId).flatMap(execSite.get).map("\n" + _).getOrElse("")
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobOf.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { j =>
      val s = j.span
      val ti = e.taskInfo
      j.taskS += ti.duration / 1e3
      s.add("task_s", ti.duration / 1e3)
      s.add("task_wait_s",
        math.max(0L, ti.launchTime - stageSubmit.getOrElse(e.stageId, ti.launchTime)) / 1e3)
      if (!ti.successful) s.add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("input_records", m.inputMetrics.recordsRead.toDouble)
        s.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_bytes", m.diskBytesSpilled.toDouble)
        s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        s.add("output_records", m.outputMetrics.recordsWritten.toDouble)
      }
    }

  /** Every span as one JSON object per line, for the trace file. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent.map(_.id).getOrElse(0),
        "start_ms" -> s.startMs, "ms" -> s.ms, "self_ms" -> s.selfMs,
        "driver_ms" -> s.driverMs, "jobs" -> s.jobs.size,
        "counters" -> Json.obj(s.counterMap.toSeq.sortBy(_._1)),
        "job_sites" -> s.jobs.map(j => firstUserFrame(j.site)).distinct.mkString(" | "))).json
    }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }

  private def firstUserFrame(site: String): String =
    site.split("\n").map(_.trim).find(_.startsWith("graft.")).getOrElse(site.takeWhile(_ != '\n'))
}

object Trace {
  /** Length of the union of `ivs`, each clipped to [lo, hi], in ms. */
  def unionMs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    covered.toDouble
  }
}
