package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into graft, filled from Spark's own
  * job and task events.
  *
  * A span has two phases: `build` is the public call itself (planning
  * plus every job the call launches while it constructs its DataFrame),
  * `action` is the materializing action the benchmark runs on the result.
  * The workload is a closed loop on one driver thread, so the phases never
  * overlap and a job or task belongs to the phase whose wall interval
  * holds it. Events carry their own timestamps, so attribution does not
  * depend on when the listener bus delivers them. Everything stays in
  * memory until [[spans]] is read once at the end.
  */
final class Tracer(sc: SparkContext) extends SparkListener {

  private final case class Ev(startMs: Long, endMs: Long, runMs: Long, shuffleBytes: Long)
  private final case class Phase(span: String, build: Boolean, startMs: Long, endMs: Long,
      wallNs: Long)

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[Ev]()
  private val tasks = new ConcurrentLinkedQueue[Ev]()
  private val phases = scala.collection.mutable.ArrayBuffer.empty[Phase]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.add(Ev(jobStarts.getOrDefault(e.jobId, e.time), e.time, 0L, 0L))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Ev(e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten))
  }

  private lazy val attached: Unit = sc.addSparkListener(this)

  /** Start listening; the traced runner calls this before its first span,
    * so untraced passes earlier in the run carry no listener.
    */
  def attach(): Unit = attached

  /** Record one phase; called by the driver thread right after it ends. */
  def phase(span: String, build: Boolean, startMs: Long, endMs: Long, wallNs: Long): Unit =
    phases += Phase(span, build, startMs, endMs, wallNs)

  /** Per-span totals, in first-seen order. */
  def spans(): Vector[SpanStats] = {
    org.apache.spark.ListenerBusAccess.drain(sc)
    val ps = phases.toVector
    // the first phase, in order, that wholly holds the event; failing
    // that, the one in which it started
    def owner(ev: Ev): Option[Phase] =
      ps.find(p => p.startMs <= ev.startMs && ev.endMs <= p.endMs)
        .orElse(ps.find(p => p.startMs <= ev.startMs && ev.startMs <= p.endMs))
    val jobOwners = jobs.asScala.toVector.flatMap(owner)
    val taskOwners = tasks.asScala.toVector.flatMap(t => owner(t).map(_ -> t))
    ps.map(_.span).distinct.map { name =>
      val mine = ps.filter(_.span == name)
      def jobsIn(build: Boolean) =
        jobOwners.count(p => p.span == name && p.build == build)
      val myTasks = taskOwners.collect { case (p, t) if p.span == name => t }
      SpanStats(name,
        buildS = mine.filter(_.build).map(_.wallNs).sum / 1e9,
        actionS = mine.filterNot(_.build).map(_.wallNs).sum / 1e9,
        buildJobs = jobsIn(build = true),
        actionJobs = jobsIn(build = false),
        shuffleMb = myTasks.map(_.shuffleBytes).sum / 1e6,
        executorRunS = myTasks.map(_.runMs).sum / 1e3)
    }
  }
}

final case class SpanStats(name: String, buildS: Double, actionS: Double,
    buildJobs: Int, actionJobs: Int, shuffleMb: Double, executorRunS: Double) {
  def wallS: Double = buildS + actionS
  def jobs: Int = buildJobs + actionJobs
}
