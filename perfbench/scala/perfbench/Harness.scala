package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Outcome of one unit: operations attempted and failed in it. */
final case class UnitOut(attempted: Int, failed: Int, errors: Seq[String] = Nil)

/** One outcome check, made after the timed units. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A workload: set-up, the repeated unit, and the output checks. */
trait Workload {
  /** Input generation and initial state, once per run. */
  def setup(): Unit
  /** Untimed preparation of unit `u` (landing inputs, resetting state). */
  def prepare(u: Int): Unit = ()
  def unit(u: Int): UnitOut
  /** Untimed per-unit layer numbers (store walks, re-counted inputs);
    * `traced` says whether the costlier ones are wanted. */
  def afterUnit(u: Int, traced: Boolean): Map[String, Double] = Map.empty
  def checks(): Seq[Check]
}

final case class UnitRec(id: Int, phase: String, traced: Boolean, seconds: Double,
                         cpuS: Double, allocMb: Double, layers: Map[String, Double], out: UnitOut)

/** Drives a workload as a closed loop from one client thread: each unit
  * starts when the previous one has finished. */
final class Harness(spark: SparkSession, val trace: Trace) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }

  /** CPU time of the JIT compiler threads, from /proc (they are hidden
    * from ThreadMXBean); 0 where /proc is missing. The JVM is started
    * with a fixed set of compiler threads, so none exits and takes its
    * time with it. */
  private def jitCpuNs: Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val comm = new String(Files.readAllBytes(new java.io.File(t, "comm").toPath)).trim
        if (!comm.contains("CompilerThre")) 0L
        else {
          val stat = new String(Files.readAllBytes(new java.io.File(t, "stat").toPath))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          // utime and stime, in clock ticks of 10 ms
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }

  val units = mutable.ArrayBuffer[UnitRec]()
  /** Wall clock (epoch ms) when the first timed unit started. */
  var firstTimedMs = -1L

  def runUnit(w: Workload, u: Int, phase: String, traced: Boolean): UnitRec = {
    w.prepare(u)
    trace.setEnabled(traced)
    trace.beginUnit(u)
    val c0 = compileNs; val k0 = compiles
    val cpu0 = os.getProcessCpuTime
    val jc0 = jitCpuNs; val g0 = gcMs
    val alloc0 = threads.getTotalThreadAllocatedBytes
    val w0 = System.currentTimeMillis()
    if (phase == "timed" && firstTimedMs < 0) firstTimedMs = w0
    val t0 = System.nanoTime()
    val out =
      try w.unit(u)
      catch { case e: Exception => UnitOut(1, 1, Seq(s"${e.getClass.getName}: ${e.getMessage}")) }
    val sec = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    val jitCpu = (jitCpuNs - jc0) / 1e9
    // the program's own CPU: every thread of the JVM but the JIT compilers
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9 - jitCpu
    val allocMb = (threads.getTotalThreadAllocatedBytes - alloc0) / 1048576.0
    val c1 = compileNs; val k1 = compiles
    val jvmLayers = Map("jvm.jit_cpu_s" -> jitCpu, "jvm.gc_s" -> (gcMs - g0) / 1e3)
    trace.endUnit()
    val layers =
      if (!traced) jvmLayers ++ w.afterUnit(u, traced = false)
      else {
        trace.drain()
        trace.unitMetrics(u, w0, w1) ++ Map(
          "codegen.compile_s" -> (c1 - c0) / 1e9, "codegen.classes" -> (k1 - k0).toDouble) ++
          jvmLayers ++ w.afterUnit(u, traced = true)
      }
    val rec = UnitRec(u, phase, traced, sec, cpu, allocMb, layers, out)
    units += rec
    rec
  }

  /** The cold unit, then timed units for at least `seconds`: one unit at
    * least, two in a traced run, which alternates traced and untraced
    * units. No warm-up units: the run budget has no room for them. A full
    * GC before the timed units keeps the cold unit's garbage out of them. */
  def runUnits(w: Workload, seconds: Double, traceRun: Boolean): Unit = {
    runUnit(w, 0, "cold", traceRun)
    System.gc()
    val t0 = System.nanoTime()
    var u = 1
    val minUnits = if (traceRun) 2 else 1
    while (u <= minUnits || (System.nanoTime() - t0) / 1e9 < seconds) {
      runUnit(w, u, "timed", traceRun && u % 2 == 1)
      u += 1
    }
    trace.setEnabled(false)
  }
}

object Harness {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
