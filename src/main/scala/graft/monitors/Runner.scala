package graft.monitors

import scala.collection.mutable
import scala.util.Success
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.ListenerBridge

/** Monitor orchestration (reference: cosmo/run_monitors.py:11–146): the
  * reference reflects over its monitors module, buckets classes by their
  * `run` cadence attribute, executes ingest first, then each monitor's
  * initialize → analyze → store lifecycle. Here the registry is explicit
  * (no classpath reflection), the lifecycle is a function producing the
  * monitor's result DataFrame, and sinks receive results per monitor.
  */
object Runner {

  final case class MonitorJob(name: String, cadence: String,
                              run: SparkSession => DataFrame)
  /** `rowCount` is the number of rows the sink's first completed action
    * read from the monitor's frame, or, when the sink ran no action over
    * it, an exact `count()`; -1 with `error` set when the monitor or its
    * sink failed. */
  final case class MonitorResult(name: String, rowCount: Long,
                                 error: Option[String])

  private val registry = mutable.LinkedHashMap[String, MonitorJob]()

  def register(job: MonitorJob): Unit = synchronized {
    registry(job.name) = job
  }

  def registered(cadence: String): Seq[MonitorJob] = synchronized {
    registry.values.filter(_.cadence == cadence).toSeq
  }

  def clear(): Unit = synchronized { registry.clear() }

  /** Run every monitor of the cadence; ingest (if given) executes FIRST —
    * the reference orders SMS ingest before the monthly monitors because
    * OSM monitors need fresh SMS rows (run_monitors.py:95–108). A monitor
    * failure (non-fatal exception from the monitor or its sink) is
    * recorded, not fatal — remaining monitors still run (matching
    * pytest's per-test isolation in the reference); fatal JVM errors and
    * interrupts propagate.
    *
    * Each monitor's plan executes once: the sink receives the frame
    * wrapped in an observed row count (`Dataset.observe`), and the count
    * is read back from the sink's own action once the listener bus has
    * delivered it. Only a sink that runs no action over the frame (the
    * default no-op sink) costs a separate `count()`. A sink must
    * therefore consume the whole frame or none of it: one that reads
    * only a prefix (`take`, `limit`, `show`) reports the prefix. */
  def runAll(spark: SparkSession, cadence: String,
             ingest: Option[() => Unit] = None,
             sink: (String, DataFrame) => Unit = (_, _) => ()): Seq[MonitorResult] = {
    ingest.foreach(f => f())
    registered(cadence).map { job =>
      try {
        val df = job.run(spark)
        val rows = Observation()
        sink(job.name, df.observe(rows, count(lit(1))))
        // observations complete on the asynchronous listener bus
        ListenerBridge.drain(spark.sparkContext)
        val n = rows.future.value match {
          case Some(Success(r)) => r.getLong(0)
          case _ => df.count()
        }
        MonitorResult(job.name, n, None)
      } catch {
        case NonFatal(e) => MonitorResult(job.name, -1L,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
      }
    }
  }
}
