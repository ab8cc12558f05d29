package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. Runs one workload and writes the full result
  * record (every unit, every check, spans) as JSON to `--out`; `run.py`
  * turns it into the final result line.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --cores C
  * --work DIR --out FILE --launch-ms EPOCH_MS (when the client process was
  * started, so set-up time includes JVM start). */
object Main {
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.core.Logs.quietKnownWarnings()
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val cores = a("cores").toInt
    val work = new File(a("work"))
    val launchMs = a("launch-ms").toLong
    work.mkdirs()

    val spark = session(cores)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val trace = new Trace(spark)
    val h = new Harness(spark, trace)
    val w: Workload = name match {
      case "monitor_monthly" => new MonitorMonthly(spark, trace, work, seed)
      case "monitor_incremental" => new MonitorIncremental(spark, trace, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    h.runUnits(w, seconds, traceRun)
    val setupS = (h.firstTimedMs - launchMs) / 1e3
    val c0 = System.nanoTime()
    val checks = w.checks()
    val checksS = (System.nanoTime() - c0) / 1e9
    val json = Report.json(name, seed, cores, seconds, traceRun, sessionS, setupS, h, checks,
      checksS, trace.spansJson)
    Files.writeString(new File(a("out")).toPath, json)
    spark.stop()
  }
}

/** The full result record. */
object Report {
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")

  def json(name: String, seed: Long, cores: Int, seconds: Double, traceRun: Boolean,
           sessionS: Double, setupS: Double, h: Harness, checks: Seq[Check], checksS: Double,
           spans: String): String = {
    import Harness.median
    val timed = h.units.filter(_.phase == "timed")
    val cold = h.units.find(_.phase == "cold").get
    // end-to-end numbers come from untraced units only
    val plain = timed.filter(!_.traced)
    val traced = timed.filter(_.traced)
    val unitTimes = plain.map(_.seconds).toSeq
    val e2e = Map(
      // wall time from launch to the first timed unit, the cold unit included
      "setup_s" -> setupS,
      "unit_s" -> median(unitTimes),
      "cpu_s" -> median(plain.map(_.cpuS).toSeq),
      "alloc_mb" -> median(plain.map(_.allocMb).toSeq))
    val layerNames = traced.flatMap(_.layers.keys).distinct
    val perLayer = layerNames.map(k => k -> median(traced.map(_.layers.getOrElse(k, 0.0)).toSeq)).toMap ++
      (if (traced.nonEmpty && plain.nonEmpty)
        Map("trace.overhead_s" -> (median(traced.map(_.seconds).toSeq) - median(unitTimes)))
      else Map.empty)
    val unitOps = h.units.map(u => u.out.attempted + u.layers.getOrElse("ingest.files", 0.0).toInt).sum
    val unitFailed = h.units.map(u => u.out.failed + u.layers.getOrElse("ingest.files_failed", 0.0).toInt).sum
    val attempted = unitOps + checks.size
    val failed = unitFailed + checks.count(!_.ok)
    val perLayerAll = perLayer ++ Map("ops_failed_ratio" -> failed.toDouble / attempted,
      "cold_unit_s" -> cold.seconds)
    val units = h.units.map { u =>
      s"""{"id":${u.id},"phase":${q(u.phase)},"traced":${u.traced},"seconds":${u.seconds},""" +
        s""""cpu_s":${u.cpuS},"alloc_mb":${u.allocMb},"attempted":${u.out.attempted},"failed":${u.out.failed},""" +
        s""""errors":${u.out.errors.map(q).mkString("[", ",", "]")},"layers":${obj(u.layers)}}"""
    }.mkString("[", ",\n", "]")
    val checksJ = checks.map(c =>
      s"""{"name":${q(c.name)},"ok":${c.ok},"detail":${q(c.detail)}}""").mkString("[", ",\n", "]")
    s"""{"workload":${q(name)},"seed":$seed,"nproc":$cores,"seconds":$seconds,"trace":$traceRun,
       |"jvm":${q(System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version"))},
       |"spark":${q(org.apache.spark.SPARK_VERSION)},"scala":${q(scala.util.Properties.versionNumberString)},
       |"session_s":$sessionS,"checks_s":$checksS,
       |"samples":{"timed_untraced":${plain.size},"timed_traced":${traced.size}},
       |"attempted":$attempted,"failed":$failed,"correct":${checks.forall(_.ok) && failed == 0},
       |"end_to_end":${obj(e2e)},
       |"per_layer":${obj(perLayerAll)},
       |"cold_unit_layers":${obj(cold.layers)},
       |"checks":$checksJ,
       |"units":$units,
       |"spans":$spans}""".stripMargin
  }
}
