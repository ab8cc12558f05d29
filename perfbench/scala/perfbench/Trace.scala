package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call from the benchmark into a layer of the program. */
final case class Span(id: Int, name: String, parent: Int, unit: Int,
                      startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer, plus SparkListener,
  * QueryExecutionListener and StreamingQueryListener counters. Everything
  * is held in memory and written out once, after the run.
  *
  * Jobs, stages and tasks are tied to a unit and a span through two local
  * properties set on the calling thread (inherited by the broadcast,
  * subquery and streaming threads Spark starts from it). Catalyst phases
  * and streaming progress carry no properties; they are tied to a unit by
  * the unit's wall-clock window, which is sound because units run one at a
  * time. */
final class Trace(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  @volatile var enabled = false
  private var unitId = -1
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()

  // --- listener state (written on the listener-bus threads) ---
  final case class TaskRec(unit: Int, launch: Long, finish: Long, runMs: Long,
                           cpuNs: Long, gcMs: Long, shWrite: Long, shRead: Long,
                           spill: Long, peakMem: Long)
  private val stageUnit = mutable.Map[Int, Int]()
  val jobs = mutable.ArrayBuffer[(Int, String)]()
  val stages = mutable.ArrayBuffer[Int]()
  val tasks = mutable.ArrayBuffer[TaskRec]()
  val phases = mutable.ArrayBuffer[(Long, Double, Double, Double)]() // start ms, analysis, opt, plan s
  val batches = mutable.ArrayBuffer[(Long, Double)]() // ms, trigger seconds

  private def props(p: java.util.Properties): (Int, String) =
    if (p == null) (-1, "")
    else (Option(p.getProperty("perfbench.unit")).map(_.toInt).getOrElse(-1),
      Option(p.getProperty("perfbench.span")).getOrElse(""))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += props(e.properties)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val (u, _) = props(e.properties)
      stageUnit(e.stageInfo.stageId) = u
      stages += u
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks += TaskRec(stageUnit.getOrElse(e.stageId, -1), i.launchTime,
        i.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = synchronized {
      val ph = qe.tracker.phases
      def d(n: String) = ph.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      phases += ((start, d("analysis"), d("optimization"), d("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      if (p.numInputRows > 0 || p.durationMs.containsKey("addBatch")) {
        val ms = java.time.Instant.parse(p.timestamp).toEpochMilli
        batches += ((ms, Option(p.durationMs.get("triggerExecution")).map(_.longValue / 1e3).getOrElse(0.0)))
      }
    }
  }

  /** Turn the listeners and spans on or off (between units only). */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    if (on) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      drain()
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
    enabled = on
  }

  def drain(): Unit = org.apache.spark.sql.graft.ListenerBridge.drain(sc)

  def beginUnit(u: Int): Unit = {
    unitId = u
    if (enabled) sc.setLocalProperty("perfbench.unit", u.toString)
  }
  def endUnit(): Unit = {
    sc.setLocalProperty("perfbench.unit", null)
    sc.setLocalProperty("perfbench.span", null)
    unitId = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), unitId, System.nanoTime())
      spans += s
      stack.push(s)
      sc.setLocalProperty("perfbench.span", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        sc.setLocalProperty("perfbench.span", stack.headOption.map(_.name).orNull)
      }
    }

  /** Self time of a span: its duration minus the union of its children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Per-layer metrics of one traced unit that ran in the wall-clock
    * window [t0Ms, t1Ms]. */
  def unitMetrics(u: Int, t0Ms: Long, t1Ms: Long): Map[String, Double] = synchronized {
    val us = spans.filter(_.unit == u)
    def total(n: String) = us.filter(_.name == n).map(_.seconds).sum
    val ts = tasks.filter(_.unit == u)
    val js = jobs.filter(_._1 == u)
    val ph = phases.filter(p => p._1 >= t0Ms && p._1 <= t1Ms)
    val bs = batches.filter(b => b._1 >= t0Ms && b._1 <= t1Ms)
    // wall time in the unit's window with no task running
    val ivs = ts.map(t => (math.max(t.launch, t0Ms), math.min(t.finish, t1Ms)))
      .filter(i => i._2 > i._1).sortBy(_._1)
    var busy = 0L
    var cs = Long.MinValue
    var ce = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) busy += ce - cs; cs = a; ce = b } else ce = math.max(ce, b)
    }
    if (ce > cs) busy += ce - cs
    val runS = ts.map(_.runMs).sum / 1e3
    val cpuS = ts.map(_.cpuNs).sum / 1e9
    Map(
      "ingest.sms_s" -> total("ingest.sms"), "ingest.fits_s" -> total("ingest.fits"),
      "monitors.run_s" -> us.filter(_.name == "monitors").map(selfSeconds).sum,
      "monitors.sink_s" -> total("monitors.sink"),
      "monitors.jobs" -> js.count(j => j._2 == "monitors" || j._2 == "monitors.sink").toDouble,
      "store.merge_s" -> total("store.merge"),
      "stream.batches" -> bs.size.toDouble, "stream.batch_s" -> bs.map(_._2).sum,
      "catalyst.analysis_s" -> ph.map(_._2).sum, "catalyst.optimization_s" -> ph.map(_._3).sum,
      "catalyst.planning_s" -> ph.map(_._4).sum, "catalyst.executions" -> ph.size.toDouble,
      "sched.jobs" -> js.size.toDouble, "sched.stages" -> stages.count(_ == u).toDouble,
      "sched.tasks" -> ts.size.toDouble,
      "sched.exec_idle_s" -> ((t1Ms - t0Ms) - busy) / 1e3,
      "exec.run_s" -> runS, "exec.cpu_s" -> cpuS, "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "exec.cpu_share" -> (if (runS > 0) cpuS / runS else 0.0),
      "exec.shuffle_write_mb" -> ts.map(_.shWrite).sum / 1048576.0,
      "exec.shuffle_read_mb" -> ts.map(_.shRead).sum / 1048576.0,
      "exec.spill_mb" -> ts.map(_.spill).sum / 1048576.0,
      "exec.peak_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / 1048576.0))
  }

  def spansJson: String = spans.map { s =>
    val self = selfSeconds(s)
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"unit":${s.unit},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":$self}"""
  }.mkString("[", ",\n", "]")
}
