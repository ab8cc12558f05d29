package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.{Fits, SmsIngest}
import graft.monitors.{MonitorCatalog, Runner}

/** The benchmark's glue around the program's public ingest and monitor
  * entry points: typed FITS product frames, monitor sources, the CSV sink,
  * and ground-truth comparisons of ingested tables. */
final class CosIo(spark: SparkSession, t: Trace) {
  import spark.implicits._

  def lampflash(glob: String): DataFrame =
    Fits.exposures(spark, glob,
      headerReq = Map(0 -> Seq("ROOTNAME", "DETECTOR", "OPT_ELEM"), 1 -> Seq("EXPSTART")),
      tableReq = Map(1 -> Seq("TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")))
      .withColumn("EXPSTART", col("EXPSTART").cast("double"))

  /** Acquisition rows: rawacq headers joined with the FGS of the matching
    * spt file, typed as the acq monitors read them. */
  def acq(rawGlob: String, sptGlob: String): DataFrame = {
    val raw = Fits.exposures(spark, rawGlob,
      headerReq = Map(
        0 -> Seq("ROOTNAME", "EXPTYPE", "OBSTYPE", "DETECTOR", "LIFE_ADJ", "APERTURE",
          "LINENUM", "EXTENDED"),
        1 -> Seq("EXPSTART", "ACQSLEWX", "ACQSLEWY", "NEVENTS", "SHUTTER", "LAMPEVNT",
          "ACQSTAT", "APERYPOS")),
      tableReq = Map.empty)
    val spt = Fits.exposures(spark, sptGlob, headerReq = Map(0 -> Seq("ROOTNAME", "DGESTAR")),
      tableReq = Map.empty)
    raw.join(spt.select(col("ROOTNAME"), expr("right(DGESTAR, 2)").as("FGS")), Seq("ROOTNAME"))
      .select(col("ROOTNAME"), col("EXPTYPE"), col("FGS"),
        col("EXPSTART").cast("double").as("EXPSTART"),
        col("ACQSLEWX").cast("double").as("ACQSLEWX"),
        col("ACQSLEWY").cast("double").as("ACQSLEWY"),
        col("ACQSTAT"), col("SHUTTER"), col("OBSTYPE"),
        col("NEVENTS").cast("long").as("NEVENTS"), col("LAMPEVNT").cast("long").as("LAMPEVNT"),
        col("EXTENDED"), col("LINENUM"), col("DETECTOR"),
        col("LIFE_ADJ").cast("int").as("LIFE_ADJ"), col("APERTURE"),
        col("APERYPOS").cast("double").as("APERYPOS"), col("path"))
  }

  def breakpoints: DataFrame =
    Expected.breakpoints.toDF("FGS", "lo_mjd", "hi_mjd")

  def emptyFileIds: DataFrame = Seq.empty[String].toDF("file_id")

  /** Register the 12 monthly monitors on the given tables and run them with
    * a CSV sink under `out`. */
  def runMonitors(sms: DataFrame, lamp: DataFrame, acq: DataFrame,
                  out: File): Seq[Runner.MonitorResult] = {
    Runner.clear()
    MonitorCatalog.register(MonitorCatalog.Sources(
      lamp, sms.select("ROOTNAME", "TSINCEOSM1", "TSINCEOSM2"), acq, breakpoints))
    t.span("monitors") {
      Runner.runAll(spark, "monthly", sink = (name, df) => t.span("monitors.sink") {
        df.coalesce(1).write.mode("overwrite").option("header", "true")
          .csv(new File(out, name).getPath)
      })
    }
  }

  /** Parsed-row and file counts of a set of inputs, re-read outside the
    * timed section: (files given, files yielding rows, rows). */
  def parsedCounts(smsPaths: Seq[String], lampGlob: Iterable[String],
                   acqGlobs: Iterable[(String, String)]): (Long, Long, Long) = {
    var files, good, rows = 0L
    def add(df: DataFrame, key: String, n: Long): Unit = {
      val r = df.agg(countDistinct(col(key)), count(lit(1))).collect()(0)
      files += n; good += r.getLong(0); rows += r.getLong(1)
    }
    if (smsPaths.nonEmpty) add(SmsIngest.parse(spark, smsPaths), "FILEID", smsPaths.size)
    lampGlob.foreach(g => add(lampflash(g), "path", CosIo.globCount(g)))
    acqGlobs.foreach { case (r, s) => add(acq(r, s), "path", CosIo.globCount(r)) }
    (files, good, rows)
  }

  // ---------------------------------------------------------- ground truth

  private def rowString(r: Row): String = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("|")

  def smsActual(df: DataFrame): Seq[String] =
    df.select(col("ROOTNAME"), col("PROPOSID"), col("EXPOSURE"), col("DETECTOR"),
      col("OPMODE"), col("EXPTIME"), unix_micros(col("EXPSTART")), col("FUVHVSTATE"),
      col("APERTURE"), col("OSM1POS"), col("OSM2POS"), col("CENWAVE"), col("FPPOS"),
      col("TSINCEOSM1"), col("TSINCEOSM2"), col("FILEID"),
      regexp_extract(col("FILENAME"), "([^/]+)$", 1))
      .collect().toSeq.map(rowString).sorted

  def lampActual(df: DataFrame): Seq[String] =
    df.select("ROOTNAME", "DETECTOR", "OPT_ELEM", "EXPSTART", "TIME", "SHIFT_DISP",
      "SHIFT_XDISP", "SEGMENT").collect().toSeq.map(rowString).sorted

  def acqActual(df: DataFrame): Seq[String] =
    df.select("ROOTNAME", "EXPTYPE", "OBSTYPE", "DETECTOR", "LIFE_ADJ", "APERTURE",
      "LINENUM", "EXTENDED", "EXPSTART", "ACQSLEWX", "ACQSLEWY", "NEVENTS", "SHUTTER",
      "LAMPEVNT", "ACQSTAT", "APERYPOS", "FGS").collect().toSeq.map(rowString).sorted

  /** Compare a table with its ground truth; None when equal. */
  def diff(what: String, actual: Seq[String], expected: Seq[String]): Option[String] =
    if (actual == expected) None
    else {
      val missing = expected.diff(actual).take(2)
      val extra = actual.diff(expected).take(2)
      Some(s"$what: ${actual.size} rows vs ${expected.size} expected; " +
        s"missing ${missing.mkString(" ; ")}; unexpected ${extra.mkString(" ; ")}")
    }
}

object CosIo {
  def smsTruth(a: Archive): Seq[String] = a.smsRows.map { case (rep, l) =>
    Seq(l.rootname, l.proposid, l.exposure, l.detector, l.opmode, l.exptime,
      l.expstartMicros, l.fuvhvParsed, l.aperture, l.osm1, l.osm2Parsed, l.cenwave,
      l.fppos, l.tsince1.toDouble, l.tsince2.toDouble, rep.fileId, rep.fileId + ".txt")
      .mkString("|")
  }.sorted

  def lampTruth(a: Archive): Seq[String] = a.lamps.map { l =>
    Seq(l.rootname, l.detector, l.optElem, l.expstart, l.time.mkString("[", ",", "]"),
      l.shiftDisp.mkString("[", ",", "]"), l.shiftXdisp.mkString("[", ",", "]"),
      l.segment.mkString("[", ",", "]")).mkString("|")
  }.sorted

  def acqTruth(a: Archive): Seq[String] = a.acqs.map { q =>
    Seq(q.rootname, q.exptype, q.obstype, q.detector, q.lifeAdj, q.aperture, q.linenum,
      q.extended, q.expstart, q.slewx, q.slewy, q.nevents, q.shutter, q.lampevnt,
      q.acqstat, q.aperypos, q.fgs).mkString("|")
  }.sorted

  /** Files matched by a brace glob or a whole-directory glob of this benchmark. */
  def globCount(glob: String): Long = {
    val name = glob.split('/').last
    if (name == "*") Option(new File(glob).getParentFile.listFiles()).map(_.length.toLong).getOrElse(0L)
    else name.stripPrefix("{").stripSuffix("}").split(',').length.toLong
  }

  /** Glob over the named files of one directory. */
  def globOf(dir: File, names: Seq[String]): String =
    if (names.size == 1) new File(dir, names.head).getPath
    else s"${dir.getPath}/{${names.mkString(",")}}"

  def fileName(uri: String): String = uri.split('/').last

  /** Files under `d` as path -> size. */
  def listing(d: File): Map[String, Long] =
    if (!d.exists()) Map.empty
    else {
      val s = java.nio.file.Files.walk(d.toPath)
      try s.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      finally s.close()
    }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  def copyTree(from: File, to: File): Unit = {
    val s = java.nio.file.Files.walk(from.toPath)
    try s.forEach { p =>
      val target = to.toPath.resolve(from.toPath.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(target)
      else java.nio.file.Files.copy(p, target)
    } finally s.close()
  }
}
