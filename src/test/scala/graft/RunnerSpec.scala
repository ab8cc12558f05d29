package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener
import graft.monitors.Runner
import graft.monitors.Runner.{MonitorJob, MonitorResult}

class RunnerSpec extends SparkSpec {
  import spark.implicits._

  private def csvSink(outDir: String)(name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$outDir/$name")

  private def readBack(outDir: String, name: String): Long =
    spark.read.option("header", "true").csv(s"$outDir/$name").count()

  /** Number of query executions (every action, sink writes included) the
    * session runs inside `body`. */
  private def executionsOf[T](body: => T): (T, Int) = {
    ListenerBridge.drain(spark.sparkContext)
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      ListenerBridge.drain(spark.sparkContext)
      (out, seen.get())
    } finally spark.listenerManager.unregister(listener)
  }

  private def registerSized(sizes: (String, Int)*): Unit = {
    Runner.clear()
    sizes.foreach { case (name, n) =>
      Runner.register(MonitorJob(name, "monthly", _ =>
        (0 until n).map(i => (i, i * 0.5)).toDF("k", "v").filter(col("k") % 3 =!= 1)))
    }
  }
  private def expectedRows(n: Int): Long = (0 until n).count(_ % 3 != 1).toLong

  test("runner executes ingest first, buckets by cadence, isolates failures") {
    Runner.clear()
    val order = scala.collection.mutable.ArrayBuffer[String]()
    Runner.register(MonitorJob("osm_shift", "monthly", s => {
      order += "osm_shift"
      Seq((1, 2.0)).toDF("k", "v")
    }))
    Runner.register(MonitorJob("broken", "monthly", _ => {
      order += "broken"
      throw new RuntimeException("boom")
    }))
    Runner.register(MonitorJob("daily_only", "daily", s => {
      order += "daily_only"
      Seq((9, 9.0)).toDF("k", "v")
    }))
    val sunk = scala.collection.mutable.Map[String, Long]()
    val results = Runner.runAll(spark, "monthly",
      ingest = Some(() => order += "ingest"),
      sink = (name, df) => sunk(name) = df.count())
    assert(order.take(1) == Seq("ingest"), "ingest runs before monitors")
    assert(!order.contains("daily_only"), "other cadences untouched")
    assert(results.map(_.name) == Seq("osm_shift", "broken"))
    assert(results.head.rowCount == 1 && results.head.error.isEmpty)
    assert(results(1).error.exists(_.contains("boom")), "failure recorded, not fatal")
    assert(sunk == Map("osm_shift" -> 1L))
  }

  test("with a CSV sink every monitor executes once; rowCount equals the CSV read-back") {
    val sizes = Seq("m_small" -> 7, "m_empty" -> 0, "m_large" -> 1000)
    registerSized(sizes: _*)
    val outDir = Files.createTempDirectory("runner-once").toString
    val (results, executions) =
      executionsOf(Runner.runAll(spark, "monthly", sink = csvSink(outDir)))
    assert(executions == sizes.size,
      s"$executions query executions for ${sizes.size} monitors: one per monitor expected")
    assert(results == sizes.map { case (n, k) => MonitorResult(n, expectedRows(k), None) })
    results.foreach(r => assert(readBack(outDir, r.name) == r.rowCount, r.name))
  }

  test("the default no-op sink still yields exact row counts") {
    val sizes = Seq("m_a" -> 11, "m_b" -> 0, "m_c" -> 250)
    registerSized(sizes: _*)
    val (results, executions) = executionsOf(Runner.runAll(spark, "monthly"))
    assert(results == sizes.map { case (n, k) => MonitorResult(n, expectedRows(k), None) })
    assert(executions == sizes.size, "one count() per monitor")
  }

  test("a failing sink is that monitor's error; the other monitors still run") {
    registerSized("m_a" -> 5, "m_bad" -> 5, "m_quiet" -> 5, "m_c" -> 9)
    val outDir = Files.createTempDirectory("runner-sinkfail").toString
    val results = Runner.runAll(spark, "monthly", sink = (name, df) => name match {
      case "m_bad" => throw new IllegalStateException("sink down")
      case "m_quiet" => throw new RuntimeException()
      case _ => csvSink(outDir)(name, df)
    })
    assert(results == Seq(
      MonitorResult("m_a", expectedRows(5), None),
      MonitorResult("m_bad", -1L, Some("sink down")),
      MonitorResult("m_quiet", -1L, Some("java.lang.RuntimeException")),
      MonitorResult("m_c", expectedRows(9), None)))
    assert(readBack(outDir, "m_c") == expectedRows(9))
  }

  test("a fatal throwable from a monitor propagates out of runAll") {
    registerSized("m_a" -> 3)
    Runner.register(MonitorJob("m_interrupted", "monthly",
      _ => throw new InterruptedException("stop")))
    val e = intercept[InterruptedException](Runner.runAll(spark, "monthly"))
    assert(e.getMessage == "stop")
    Runner.clear()
  }

  // ---- monthly OSM monitor through the runner with a CSV sink: the
  // structural tier runs on an in-memory lampflash-shaped frame; the
  // golden tier on the reference's real products when they are present.

  private def osmThroughCsv(lamp: DataFrame): (MonitorResult, Long) = {
    Runner.clear()
    Runner.register(MonitorJob("fuv_osm_shift", "monthly", _ => {
      val sms = lamp.select(
        expr("substring(ROOTNAME, 1, length(ROOTNAME)-1)").as("ROOTNAME"))
        .withColumn("TSINCEOSM1", lit(100.0))
      graft.monitors.Monitors.osmShiftData(lamp, sms)
    }))
    val outDir = Files.createTempDirectory("runner-out").toString
    val results = Runner.runAll(spark, "monthly", sink = csvSink(outDir))
    Runner.clear()
    assert(results.map(_.name) == Seq("fuv_osm_shift"))
    (results.head, readBack(outDir, "fuv_osm_shift"))
  }

  test("monthly run: lampflash-shaped OSM monitor through the runner with CSV sink") {
    // Fits.exposures' lampflash row shape: header keys as strings,
    // per-flash table columns as arrays (one element per flash)
    val lamp = Seq(
      ("lb4c10niq", "FUV", "G130M", "55000.0",
        Seq(0f, 60f), Seq(1.5f, 2.5f), Seq(-0.5f, 0.5f), Seq("FUVA", "FUVB")),
      ("lb4c10nkq", "FUV", "G160M", "55001.0",
        Seq(0f, 60f, 120f), Seq(3f, 4f, 5f), Seq(0f, 0f, 0f), Seq("FUVA", "FUVB", "FUVA")),
      ("lb4c10nmq", "FUV", "G140L", "55002.0",
        Seq.empty[Float], Seq.empty[Float], Seq.empty[Float], Seq.empty[String]),
      ("lb4c10noq", "NUV", "G185M", "55003.0",
        Seq(0f, 30f), Seq(7f, 8f), Seq(1f, 1f), Seq("NUVA", "NUVB")))
      .toDF("ROOTNAME", "DETECTOR", "OPT_ELEM", "EXPSTART",
        "TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")
      .withColumn("EXPSTART", col("EXPSTART").cast("double"))
    val (result, back) = osmThroughCsv(lamp)
    // FUV exposures with at least one flash: 2 + 3 flash rows
    assert(result == MonitorResult("fuv_osm_shift", 5L, None))
    assert(back == result.rowCount)
  }

  test("full monthly run: real FITS OSM monitor through the runner with CSV sink") {
    val data = "/root/reference/tests/data"
    assume(new java.io.File(data).isDirectory, s"real COS products not present at $data")
    val lamp = graft.ingest.Fits.exposures(spark, s"$data/*lampflash*",
      headerReq = Map(0 -> Seq("ROOTNAME", "DETECTOR", "OPT_ELEM"),
        1 -> Seq("EXPSTART")),
      tableReq = Map(1 -> Seq("TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")))
      .withColumn("EXPSTART", col("EXPSTART").cast("double"))
    val (result, back) = osmThroughCsv(lamp)
    assert(result.error.isEmpty && result.rowCount > 0)
    assert(back == result.rowCount)
  }
}
