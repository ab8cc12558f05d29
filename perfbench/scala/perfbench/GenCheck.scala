package perfbench

import java.io.File
import org.apache.spark.sql.functions._
import graft.ingest.{Fits, SmsIngest}

/** Benchmark-local tests of the input generator: the program's parsers
  * read its ground truth back exactly, and the expected monitor outputs
  * derived from that truth match what the monitors emit.
  *
  * Run with `python3 perfbench/run.py --self-test`; exits 1 on a failure. */
object GenCheck {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = new File(a("work"))
    val spark = Main.session(a("cores").toInt)
    import spark.implicits._
    val t = new Trace(spark)
    val io = new CosIo(spark, t)
    var failures = 0
    def check(name: String)(body: => Option[String]): Unit = {
      val r = try body catch { case e: Throwable => Some(e.toString) }
      r match {
        case None => println(s"PASS $name")
        case Some(m) => failures += 1; println(s"FAIL $name: $m")
      }
    }

    val seed = 7L
    val (arch, namer, rnd) = CosGen.base(seed, 12, 6)
    val dir = new File(work, "a")
    val files = CosGen.write(arch, dir)

    check("same seed gives byte-identical files, another seed does not") {
      val again = new File(work, "b")
      CosGen.write(CosGen.base(seed, 12, 6)._1, again)
      val other = new File(work, "c")
      CosGen.write(CosGen.base(seed + 1, 12, 6)._1, other)
      def bytes(d: File) = CosIo.listing(d).toSeq.sortBy(_._1)
        .map(p => new File(p._1)).map(f => java.nio.file.Files.readAllBytes(f.toPath).toSeq)
      if (bytes(again) != bytes(dir)) Some("same seed differs")
      else if (bytes(other) == bytes(dir)) Some("other seed identical")
      else None
    }

    check("archive covers both detectors, every ACQ type, gz and plain files, versions") {
      val types = arch.acqs.map(_.exptype).toSet
      val dets = arch.lamps.map(_.detector).toSet
      val gz = files.map(_.getName.endsWith(".gz")).toSet
      val versions = arch.reports.groupBy(_.smsId).values.map(_.size).max
      if (types != Set("ACQ/IMAGE", "ACQ/PEAKD", "ACQ/PEAKXD", "ACQ/SEARCH")) Some(s"acq types $types")
      else if (dets != Set("FUV", "NUV")) Some(s"detectors $dets")
      else if (gz != Set(true, false)) Some("need gzipped and plain files")
      else if (versions < 2) Some("no re-versioned report")
      else None
    }

    val smsListing = spark.read.format("binaryFile").load(s"${dir.getPath}/sms/*").select("path")
    val latest = SmsIngest.latestSmsFiles(smsListing).select("path").as[String].collect().toSeq

    check("latestSmsFiles keeps the highest version of each SMS id, no l-exp twins") {
      val got = latest.map(CosIo.fileName).sorted
      val want = arch.latestReports.map(_.fileId + ".txt").sorted
      if (got == want) None else Some(s"got ${got.take(5)} want ${want.take(5)}")
    }

    check("SmsIngest.parse reads every field of the ground truth back") {
      io.diff("sms", io.smsActual(SmsIngest.parse(spark, latest)), CosIo.smsTruth(arch))
    }

    check("Fits.exposures reads lampflash headers and tables back (plain and gz)") {
      io.diff("lampflash", io.lampActual(io.lampflash(s"${dir.getPath}/lampflash/*")),
        CosIo.lampTruth(arch))
    }

    check("Fits.exposures reads rawacq + spt headers back") {
      io.diff("acq", io.acqActual(io.acq(s"${dir.getPath}/rawacq/*", s"${dir.getPath}/spt/*")),
        CosIo.acqTruth(arch))
    }

    check("Fits.exposures reads 1E/1I/1J table columns back") {
      val df = Fits.exposures(spark, s"${dir.getPath}/rawacq/*",
        headerReq = Map(0 -> Seq("ROOTNAME")), tableReq = Map(1 -> Seq("TIME", "RAWX", "PHA")))
      val got = df.select("ROOTNAME", "TIME", "RAWX", "PHA").collect().toSeq.map { r =>
        Seq(r.getString(0), r.getSeq[Float](1).mkString(","), r.getSeq[Int](2).mkString(","),
          r.getSeq[Int](3).mkString(",")).mkString("|")
      }.sorted
      val want = arch.acqs.map { q =>
        val (time, rawx, pha) = q.events
        Seq(q.rootname, time.mkString(","), rawx.map(_.toInt).mkString(","), pha.mkString(","))
          .mkString("|")
      }.sorted
      io.diff("rawacq events", got, want)
    }

    def monitorsMatch(a: Archive, sms: org.apache.spark.sql.DataFrame,
                      lamp: org.apache.spark.sql.DataFrame,
                      acq: org.apache.spark.sql.DataFrame, out: File): Option[String] = {
      val res = io.runMonitors(sms, lamp, acq, out)
      val exp = Expected.monitors(a)
      val bad = exp.toSeq.sortBy(_._1).flatMap { case (n, (rows, dg)) =>
        val got = Expected.csvDigest(new File(out, n), n)
        val r = res.find(_.name == n)
        if (got == (rows, dg) && r.exists(_.rowCount == rows) && rows > 0) None
        else Some(s"$n: got $got / ${r.map(_.rowCount)} want ($rows,$dg) ${r.flatMap(_.error)}")
      }
      if (res.size != 12) Some(s"${res.size} monitors ran")
      else if (bad.isEmpty) None else Some(bad.mkString("; "))
    }

    check("every monthly monitor emits rows matching the ground-truth expectation") {
      monitorsMatch(arch, SmsIngest.parse(spark, latest),
        io.lampflash(s"${dir.getPath}/lampflash/*"),
        io.acq(s"${dir.getPath}/rawacq/*", s"${dir.getPath}/spt/*"), new File(work, "out1"))
    }

    check("an incremental batch with re-versioned reports keeps the expectation exact") {
      val b = CosGen.batch(rnd, namer, arch, 300000, 2, 6, 3)
      CosGen.write(b, dir)
      val all = arch ++ b
      val l2 = SmsIngest.latestSmsFiles(spark.read.format("binaryFile")
        .load(s"${dir.getPath}/sms/*").select("path")).select("path").as[String].collect().toSeq
      val revised = b.reports.count(r => arch.reports.exists(_.smsId == r.smsId))
      if (revised != 3) Some(s"$revised re-versioned reports in the batch")
      else io.diff("sms after batch", io.smsActual(SmsIngest.parse(spark, l2)), CosIo.smsTruth(all))
        .orElse(monitorsMatch(all, SmsIngest.parse(spark, l2),
          io.lampflash(s"${dir.getPath}/lampflash/*"),
          io.acq(s"${dir.getPath}/rawacq/*", s"${dir.getPath}/spt/*"), new File(work, "out2")))
    }

    spark.stop()
    println(if (failures == 0) "all generator checks passed" else s"$failures generator checks failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
