package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.SmsIngest
import graft.monitors.Runner.MonitorResult
import graft.ops.{MergeOps, TxLog}
import graft.streaming.Streams
import CosIo._

/** Shared state of the two monitor workloads. */
abstract class MonitorBase(spark: SparkSession, t: Trace, work: File, seed: Long)
    extends Workload {
  import spark.implicits._
  protected val io = new CosIo(spark, t)
  // Archive scale: the only volume on record for COS monitor inputs is the
  // reference's CI corpus (11 lampflash, 9 rawacq and 13 SMS files, about
  // a hundred rows); this is a few times that, kept small enough for a run
  // to fit the benchmark's time budget. Real monthly volumes are unknown.
  protected val nReports = 16
  protected val perReport = 6
  protected var lastResults: Seq[MonitorResult] = Nil
  protected var lastOut: File = _
  protected var lastInputBytes = 0L
  protected var storeBefore: Map[String, Long] = Map.empty
  protected var commits = 0

  protected def store: File

  protected def outDir(u: Int): File = new File(work, s"out-$u")

  protected def runMonitors(sms: DataFrame, lamp: DataFrame, acq: DataFrame, u: Int): UnitOut = {
    val res = io.runMonitors(sms, lamp, acq, outDir(u))
    lastResults = res
    lastOut = outDir(u)
    val errs = res.filter(_.error.isDefined)
    UnitOut(res.size, errs.size, errs.map(r => s"${r.name}: ${r.error.get}"))
  }

  override def prepare(u: Int): Unit = {
    if (u > 0) delete(outDir(u - 1))
    storeBefore = listing(store)
    commits = 0
  }

  /** Bytes and files the unit wrote under the store. */
  protected def storeMetrics(): Map[String, Double] = {
    val after = listing(store)
    val fresh = after.filter { case (p, s) => !storeBefore.get(p).contains(s) }
    val written = fresh.values.sum.toDouble
    Map(
      "store.bytes_written" -> written, "store.files_written" -> fresh.size.toDouble,
      "store.table_bytes" -> after.values.sum.toDouble, "store.commits" -> commits.toDouble,
      "store.write_amp" -> (if (lastInputBytes > 0) written / lastInputBytes else 0.0))
  }

  protected def bytesOf(uris: Seq[String]): Long =
    uris.map(p => new File(new java.net.URI(p)).length()).sum

  protected def monitorChecks(a: Archive): Seq[Check] = {
    val exp = Expected.monitors(a)
    val byName = lastResults.map(r => r.name -> r).toMap
    exp.toSeq.sortBy(_._1).map { case (name, (n, digest)) =>
      val got = byName.get(name)
      val (cn, cd) =
        try Expected.csvDigest(new File(lastOut, name), name)
        catch { case e: Exception => (-1L, e.getMessage) }
      val ok = got.exists(r => r.error.isEmpty && r.rowCount == n) && cn == n && cd == digest
      Check(s"monitor.$name", ok,
        s"rows=${got.map(_.rowCount).getOrElse(-1)} csv_rows=$cn expected_rows=$n " +
          s"digest=$cd expected=$digest${got.flatMap(_.error).map(" error=" + _).getOrElse("")}")
    }
  }

  protected def tableChecks(a: Archive, sms: DataFrame, lamp: DataFrame,
                            acq: DataFrame, tag: String): Seq[Check] = {
    def c(n: String, d: => Option[String]) = {
      val r = try d catch { case e: Exception => Some(e.toString) }
      Check(s"$tag.$n", r.isEmpty, r.getOrElse("equal to ground truth"))
    }
    Seq(
      c("sms", io.diff("sms", io.smsActual(sms), smsTruth(a))),
      c("lampflash", io.diff("lampflash", io.lampActual(lamp), lampTruth(a))),
      c("acq", io.diff("acq", io.acqActual(acq), acqTruth(a))))
  }
}

/** monitor_monthly: one unit ingests the whole seeded archive into a fresh
  * store (SmsIngest.ingest, Fits.exposures, MergeOps.mergeParquet) and runs
  * the 12 monthly monitors with a CSV sink. */
final class MonitorMonthly(spark: SparkSession, t: Trace, work: File, seed: Long)
    extends MonitorBase(spark, t, work, seed) {
  private var archive: Archive = _
  private val archiveDir = new File(work, "archive")
  private var storeDir: File = new File(work, "store-none")
  protected def store: File = storeDir

  def setup(): Unit = {
    archive = CosGen.base(seed, nReports, perReport)._1
    CosGen.write(archive, archiveDir)
  }

  override def prepare(u: Int): Unit = {
    if (u > 0) delete(new File(work, s"store-${u - 1}"))
    storeDir = new File(work, s"store-$u")
    super.prepare(u)
  }

  private def table(n: String): String = new File(storeDir, n).getPath

  def unit(u: Int): UnitOut = {
    val a = archiveDir.getPath
    t.span("ingest.sms") { SmsIngest.ingest(spark, s"$a/sms/*", table("sms"), io.emptyFileIds) }
    t.span("ingest.fits") {
      val lamp = io.lampflash(s"$a/lampflash/*")
      t.span("store.merge") { MergeOps.mergeParquet(spark, table("lampflash"), lamp, Seq("ROOTNAME"), "path") }
      val acq = io.acq(s"$a/rawacq/*", s"$a/spt/*")
      t.span("store.merge") { MergeOps.mergeParquet(spark, table("acq"), acq, Seq("ROOTNAME"), "path") }
    }
    commits = 3
    runMonitors(spark.read.parquet(table("sms")), spark.read.parquet(table("lampflash")),
      spark.read.parquet(table("acq")), u)
  }

  private lazy val latestSms: Seq[String] = {
    import spark.implicits._
    SmsIngest.latestSmsFiles(spark.read.format("binaryFile")
      .load(s"${archiveDir.getPath}/sms/*").select("path"))
      .select("path").as[String].collect().toSeq
  }

  override def afterUnit(u: Int, traced: Boolean): Map[String, Double] = {
    val fits = Seq("lampflash", "rawacq", "spt").flatMap(d =>
      Option(new File(archiveDir, d).listFiles()).getOrElse(Array.empty[File]))
    lastInputBytes = bytesOf(latestSms) + fits.map(_.length()).sum
    val base = storeMetrics() ++ Map(
      "ingest.bytes_in" -> lastInputBytes.toDouble,
      "ingest.files" -> (latestSms.size + fits.size).toDouble)
    if (!traced) base
    else {
      val a = archiveDir.getPath
      val (files, good, rows) = io.parsedCounts(latestSms, Some(s"$a/lampflash/*"),
        Some((s"$a/rawacq/*", s"$a/spt/*")))
      val failedMon = lastResults.count(_.error.isDefined)
      base ++ Map("ingest.rows_out" -> rows.toDouble, "ingest.files_failed" -> (files - good).toDouble,
        "monitors.rows_out" -> lastResults.filter(_.rowCount > 0).map(_.rowCount).sum.toDouble,
        "monitors.failed" -> failedMon.toDouble)
    }
  }

  def checks(): Seq[Check] =
    monitorChecks(archive) ++ tableChecks(archive, spark.read.parquet(table("sms")),
      spark.read.parquet(table("lampflash")), spark.read.parquet(table("acq")), "store")
}

/** monitor_incremental: an incremental ingest pipeline. The cold unit
  * starts from an empty TxLog store: it ingests all of the archive but its
  * last two reports (everything is new), then lands those two reports with
  * their products as a first incremental cycle, so that the code paths of
  * a cycle on a non-empty store have run once before the timed units, and
  * runs the monitors. Every later unit lands one seeded batch (new exposures, new reports,
  * higher versions of existing reports) on the store the cold unit left,
  * discovers the new files, parses only those, MERGEs them through the
  * transactional path (Streams.incrementalIngest for SMS, TxLog.commitMerge
  * for FITS products) and reruns the 12 monitors on the grown store. Store
  * and archive are reset (untimed) to their post-cold-unit state before
  * each, so every timed unit does the same work. */
final class MonitorIncremental(spark: SparkSession, t: Trace, work: File, seed: Long)
    extends MonitorBase(spark, t, work, seed) {
  import spark.implicits._

  private var base: Archive = _
  private var tail: Archive = _
  private var batch: Archive = _
  private var landed = false
  private val archiveDir = new File(work, "archive")
  private val storeDir = new File(work, "store")
  private val pristine = new File(work, "pristine")
  protected def store: File = storeDir
  private def archiveState: Archive = if (landed) base ++ batch else base
  private var smsSchema: org.apache.spark.sql.types.StructType = _
  // what the unit's cycles discovered and parsed
  private var lastSms: Seq[String] = Nil
  private var lastLamp: Seq[String] = Nil
  private var lastAcq: Seq[(String, String)] = Nil

  def setup(): Unit = {
    val (b, namer, r) = CosGen.base(seed, nReports, perReport)
    base = b
    batch = CosGen.batch(r, namer, b, 200000, 1, perReport, 2)
    val (t, head) = b.split(b.reports.map(_.smsId).distinct.sorted.takeRight(2).toSet)
    tail = t
    CosGen.write(head, archiveDir)
  }

  override def prepare(u: Int): Unit = {
    if (u == 1) {
      CosIo.copyTree(archiveDir, new File(pristine, "archive"))
      CosIo.copyTree(storeDir, new File(pristine, "store"))
    } else if (u > 1) {
      Seq(archiveDir, storeDir).foreach(delete)
      CosIo.copyTree(new File(pristine, "archive"), archiveDir)
      CosIo.copyTree(new File(pristine, "store"), storeDir)
    }
    if (u > 0) { CosGen.write(batch, archiveDir); landed = true }
    super.prepare(u)
  }

  private def table(n: String) = new File(storeDir, n).getPath

  /** Discovery, parse of the new files only, transactional MERGE. */
  private def ingestNew(): Unit = {
    val sms = t.span("ingest.sms") {
      val latest = SmsIngest.latestSmsFiles(
        spark.read.format("binaryFile").load(s"${archiveDir.getPath}/sms/*").select("path"))
      val ingested = TxLog.read(spark, table("sms"))
        .map(_.select(col("FILEID").as("file_id"))).getOrElse(io.emptyFileIds)
      val todo = Streams.discoverNew(latest, ingested, "file_id").select("path").as[String]
        .collect().toSeq
      if (todo.nonEmpty)
        SmsIngest.parse(spark, todo).write.mode("append").parquet(table("sms_stage"))
      todo
    }
    if (sms.nonEmpty) t.span("store.stream") {
      if (smsSchema == null) smsSchema = spark.read.parquet(table("sms_stage")).schema
      val q = Streams.incrementalIngest(spark, table("sms_stage"), table("sms"),
        table("sms_ckpt"), smsSchema, Seq("EXPOSURE"), "FILEID", transactional = true)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      commits += 1
    }
    val (lampGlob, acqGlobs) = t.span("ingest.fits") {
      def fresh(dir: String, tbl: String): Seq[String] = {
        val listing = spark.read.format("binaryFile").load(s"${archiveDir.getPath}/$dir/*")
          .select("path")
        TxLog.read(spark, table(tbl)) match {
          case Some(d) => Streams.discoverNew(listing, d.select("path"), "path")
            .as[String].collect().toSeq
          case None => listing.as[String].collect().toSeq
        }
      }
      val newLamp = fresh("lampflash", "lampflash").map(fileName)
      val lampGlob = if (newLamp.isEmpty) Nil else {
        val g = globOf(new File(archiveDir, "lampflash"), newLamp)
        val df = io.lampflash(g)
        t.span("store.merge") { TxLog.commitMerge(spark, table("lampflash"), df, Seq("ROOTNAME"), "path") }
        commits += 1
        Seq(g)
      }
      val newRaw = fresh("rawacq", "acq").map(fileName)
      val acqGlobs = if (newRaw.isEmpty) Nil else {
        val roots = newRaw.map(_.takeWhile(_ != '_')).toSet
        val spt = Option(new File(archiveDir, "spt").listFiles()).getOrElse(Array.empty[File])
          .map(_.getName).filter(n => roots(n.takeWhile(_ != '_'))).toSeq.sorted
        val rg = globOf(new File(archiveDir, "rawacq"), newRaw)
        val sg = globOf(new File(archiveDir, "spt"), spt)
        val df = io.acq(rg, sg)
        t.span("store.merge") { TxLog.commitMerge(spark, table("acq"), df, Seq("ROOTNAME"), "path") }
        commits += 1
        Seq((rg, sg))
      }
      (lampGlob, acqGlobs)
    }
    lastSms ++= sms; lastLamp ++= lampGlob; lastAcq ++= acqGlobs
  }

  private def current(n: String): DataFrame = TxLog.read(spark, table(n)).get

  def unit(u: Int): UnitOut = {
    lastSms = Nil; lastLamp = Nil; lastAcq = Nil
    ingestNew()
    if (u == 0) { CosGen.write(tail, archiveDir); ingestNew() }
    runMonitors(current("sms"), current("lampflash"), current("acq"), u)
  }

  override def afterUnit(u: Int, traced: Boolean): Map[String, Double] = {
    val globFiles = (lastLamp ++ lastAcq.flatMap(p => Seq(p._1, p._2)))
      .flatMap { g =>
        val dir = new File(g).getParentFile
        val name = g.split('/').last
        name.stripPrefix("{").stripSuffix("}").split(',').map(new File(dir, _))
      }
    lastInputBytes = bytesOf(lastSms) + globFiles.map(_.length()).sum
    val base = storeMetrics() ++ Map(
      "ingest.bytes_in" -> lastInputBytes.toDouble,
      "ingest.files" -> (lastSms.size + globFiles.size).toDouble)
    if (!traced) base
    else {
      val (files, good, rows) = io.parsedCounts(lastSms, lastLamp, lastAcq)
      base ++ Map("ingest.rows_out" -> rows.toDouble, "ingest.files_failed" -> (files - good).toDouble,
        "monitors.rows_out" -> lastResults.filter(_.rowCount > 0).map(_.rowCount).sum.toDouble,
        "monitors.failed" -> lastResults.count(_.error.isDefined).toDouble)
    }
  }

  def checks(): Seq[Check] = {
    val a = archiveState
    // The versioned SMS table is where the incremental path (discovery,
    // staged parse, streamed TxLog MERGE) and a cold SmsIngest.ingest can
    // disagree; the FITS tables are compared with the ground truth, which
    // monitor_monthly's cold ingest is checked against as well.
    val cold = new File(work, "cold-sms")
    delete(cold)
    SmsIngest.ingest(spark, s"${archiveDir.getPath}/sms/*", cold.getPath, io.emptyFileIds)
    val d = io.diff("incremental sms vs cold ingest", io.smsActual(current("sms")),
      io.smsActual(spark.read.parquet(cold.getPath)))
    monitorChecks(a) ++ tableChecks(a, current("sms"), current("lampflash"), current("acq"),
      "store") :+ Check("store_equals_cold.sms", d.isEmpty, d.getOrElse("equal"))
  }
}
