package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.ByteBuffer
import java.nio.file.Files
import java.util.zip.GZIPOutputStream
import scala.util.Random

/** One exposure line of an SMS report, as generated (raw field values). */
final case class SmsLine(
    rootname: String, proposid: Int, prg: String, ob: String, al: String,
    detector: String, opmode: String, exptimeTenths: Int, expstart: String,
    fuvhv: String, aperture: String, osm1: String, osm2: String,
    cenwave: Int, fpoffset: Int, tsince1: Int, tsince2: Int) {
  def exposure: String = prg + ob + al
  def exptime: Double = exptimeTenths / 10.0
  def fuvhvParsed: String = if (fuvhv.trim.isEmpty) "N/A" else fuvhv
  def osm2Parsed: String = if (osm2 == "-----") "N/A" else osm2
  def fppos: Int = fpoffset + 3
  /** EXPSTART as epoch microseconds (UTC). */
  def expstartMicros: Long = CosGen.doyMicros(expstart)
}

/** One SMS report file version. */
final case class SmsReport(smsId: Int, version: String, lines: Seq[SmsLine],
                           lexpTwin: Boolean) {
  def fileId: String = f"$smsId%06d$version"
}

final case class Lampflash(rootname: String, detector: String, optElem: String,
                           expstart: Double, time: Seq[Double], shiftDisp: Seq[Double],
                           shiftXdisp: Seq[Double], segment: Seq[String], gz: Boolean)

final case class Acq(rootname: String, exptype: String, obstype: String,
                     detector: String, lifeAdj: Int, aperture: String,
                     linenum: String, extended: String, expstart: Double,
                     slewx: Double, slewy: Double, nevents: Long, shutter: String,
                     lampevnt: Long, acqstat: String, aperypos: Double,
                     dgestar: String, evSeed: Long, gz: Boolean) {
  def fgs: String = dgestar.takeRight(2)

  /** The EVENTS table: NEVENTS rows of (TIME, RAWX, PHA). Drawn again from
    * `evSeed` on every call, so the ground truth held in memory stays
    * small however many events the archive's files carry. */
  def events: (Seq[Float], Seq[Short], Seq[Int]) = {
    val r = new Random(evSeed)
    val n = nevents.toInt
    val time = Array.fill(n)(r.nextFloat() * 100f)
    val rawx = Array.fill(n)(r.nextInt(16384).toShort)
    val pha = Array.fill(n)(r.nextInt(32))
    (time.toIndexedSeq, rawx.toIndexedSeq, pha.toIndexedSeq)
  }
}

/** A generated COS-shaped archive: the ground truth behind its files. */
final case class Archive(reports: Seq[SmsReport], lamps: Seq[Lampflash],
                         acqs: Seq[Acq]) {
  def ++(o: Archive): Archive =
    Archive(reports ++ o.reports, lamps ++ o.lamps, acqs ++ o.acqs)
  /** Latest version of each SMS id (the version ingest must keep). */
  def latestReports: Seq[SmsReport] =
    reports.groupBy(_.smsId).values.map(_.maxBy(_.version)).toSeq.sortBy(_.smsId)
  def smsRows: Seq[(SmsReport, SmsLine)] =
    latestReports.flatMap(r => r.lines.map(r -> _))
  /** (the reports with these SMS ids and their products, the rest) */
  def split(ids: Set[Int]): (Archive, Archive) = {
    val roots = reports.filter(r => ids(r.smsId)).flatMap(_.lines.map(_.rootname + "q")).toSet
    val (r1, r2) = reports.partition(r => ids(r.smsId))
    val (l1, l2) = lamps.partition(l => roots(l.rootname))
    val (a1, a2) = acqs.partition(q => roots(q.rootname))
    (Archive(r1, l1, a1), Archive(r2, l2, a2))
  }
}

/** Seeded generator of COS-shaped inputs: SMS exposure reports (several
  * versions per id for some), lampflash / rawacq / spt BINTABLE FITS files,
  * some gzipped, covering both detectors and every ACQ type. The same seed
  * gives byte-identical files. */
object CosGen {
  private val epochMjd = 40587.0 // MJD of 1970-01-01

  def doyMicros(s: String): Long = {
    // yyyy.ddd:hh:mm:ss
    val y = s.substring(0, 4).toInt
    val d = s.substring(5, 8).toInt
    val hh = s.substring(9, 11).toInt
    val mm = s.substring(12, 14).toInt
    val ss = s.substring(15, 17).toInt
    val day = java.time.LocalDate.ofYearDay(y, d).toEpochDay
    ((day * 86400L) + hh * 3600L + mm * 60L + ss) * 1000000L
  }
  def mjdOf(doy: String): Double = doyMicros(doy) / 1e6 / 86400.0 + epochMjd

  private val fuvOsm1 = Seq("G130M", "G160M", "G140L")
  private val nuvOsm2 = Seq("MIRRORA", "MIRRORB", "G185M", "G225M", "G230L")
  private val apertures = Seq("PSA", "BOA", "FCA", "WCA")
  private val acqTypes = Seq("ACQ/IMAGE", "ACQ/PEAKD", "ACQ/PEAKXD", "ACQ/SEARCH")
  private val lifeAdjs = Seq(-1, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)

  /** Exposure naming state: every generated exposure gets a fresh
    * (program, obset, exposure) triple, so EXPOSURE and ROOTNAME are unique
    * across the base archive and every incremental batch. */
  final class Namer(start: Int) {
    private val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    private var next = start
    /** (program, obset, exposure id) */
    def fresh(): (String, String, String) = {
      val n = next; next += 1
      (Seq(n / (36 * 36), n / 36, n).map(i => alphabet(i % 36)).mkString,
        "%02d".format((n / 7) % 100),
        Seq(n * 7, n * 13 + 5).map(i => alphabet(i % 36)).mkString)
    }
  }

  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  /** An exposure line; `acqType` is its ACQ opmode, if it is an
    * acquisition. */
  private def line(r: Random, namer: Namer, acqType: Option[String], fuv: Boolean): SmsLine = {
    val (prg, ob, al) = namer.fresh()
    val root = ("l" + prg + ob + al).toLowerCase
    val acq = acqType.isDefined
    val det = if (fuv) "FUV" else "NUV"
    val opmode = acqType.getOrElse(if (r.nextBoolean()) "TIME-TAG" else "ACCUM")
    val year = 2012 + r.nextInt(12)
    val doy = f"$year%04d.${1 + r.nextInt(365)}%03d:${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
    val fuvhv =
      if (!fuv) "      "
      else r.nextInt(3) match {
        case 0 => "HVNom"
        case 1 => "HVLow"
        case _ => f"${100 + r.nextInt(900)}%03d/${100 + r.nextInt(900)}%03d"
      }
    val osm1 = if (fuv) pick(r, fuvOsm1) else "NCM1"
    val osm2 = if (fuv) "-----" else pick(r, nuvOsm2)
    val cenwave = if (acq && r.nextBoolean()) 0 else 1000 + r.nextInt(9000)
    SmsLine(root, 10000 + r.nextInt(90000), prg, ob, al, det, opmode,
      1 + r.nextInt(30000), doy, fuvhv, pick(r, apertures), osm1, osm2, cenwave,
      r.nextInt(4) - 2, r.nextInt(1000000), r.nextInt(1000000))
  }

  private def lampflash(r: Random, l: SmsLine, gz: Boolean): Lampflash = {
    val nFlash = 1 + r.nextInt(4)
    val segs = if (l.detector == "FUV") Seq("FUVA", "FUVB") else Seq("NUVA", "NUVB", "NUVC")
    val cells = for {
      f <- 0 until nFlash
      s <- segs
      // now and then a flash misses its second segment (no pair for it)
      if !(s == segs.last && f > 0 && r.nextInt(6) == 0)
    } yield (f * 300.0 + r.nextInt(100) + 1.0, s)
    val optElem = if (l.detector == "FUV") l.osm1 else pick(r, Seq("G185M", "G225M", "G230L"))
    Lampflash(l.rootname + "q", l.detector, optElem, mjdOf(l.expstart),
      cells.map(_._1), cells.map(_ => (r.nextGaussian() * 8.0)),
      cells.map(_ => r.nextGaussian() * 4.0), cells.map(_._2), gz)
  }

  /** Share in [0, 1) of the `k`-th item of a low-discrepancy sequence:
    * any run of consecutive `k` spreads evenly over the range, whatever
    * the seed. */
  private def spread(k: Int): Double = (k * 0.6180339887498949) % 1.0

  /** The `k`-th acquisition of an archive: 8 in 10 succeed; NEVENTS
    * follows `spread(k)` over 2,000–52,000 (success) or 0–4,000. */
  private def acq(r: Random, l: SmsLine, k: Int): Acq = {
    val image = l.opmode == "ACQ/IMAGE"
    val good = k % 5 != 4
    val fgsN = 1 + r.nextInt(3)
    Acq(l.rootname + "q", l.opmode,
      if (image) "IMAGING" else "SPECTROSCOPIC", l.detector,
      pick(r, lifeAdjs), pick(r, apertures),
      s"${1 + r.nextInt(9)}.${if (good) 1 else 2 + r.nextInt(8)}",
      if (good || r.nextBoolean()) "NO" else "YES",
      mjdOf(l.expstart), r.nextGaussian() * 0.8, r.nextGaussian() * 0.8,
      if (good) 2000L + (spread(k) * 50000).toLong else (spread(k) * 4000).toLong,
      if (good || r.nextBoolean()) "Open" else "Closed",
      if (good) 500L + r.nextInt(5000) else r.nextInt(1000).toLong,
      if (good || r.nextBoolean()) "Success" else "Failure",
      -300.0 + r.nextInt(6000) / 10.0,
      f"S${r.nextInt(1000000)}%06dF$fgsN",
      r.nextLong(), k % 10 < 3)
  }

  /** Republish a report under a higher version: same exposures, revised
    * exposure time and time-since-OSM-move values. */
  def reversion(r: Random, rep: SmsReport, version: String): SmsReport =
    rep.copy(version = version, lexpTwin = false, lines = rep.lines.map(l =>
      l.copy(exptimeTenths = 1 + r.nextInt(30000),
        tsince1 = r.nextInt(1000000), tsince2 = r.nextInt(1000000))))

  /** `nReports` new SMS reports of `perReport` exposures each (ids from
    * `firstId`) and their FITS products. The seed draws the values; the
    * shape is fixed by position, so every seed gives the same volume:
    * 2 in 5 exposures are acquisitions, cycling through the ACQ types;
    * 3 in 5 of each kind are FUV; 4 in 5 science exposures have a
    * lampflash; 3 in 10 FITS files of each kind are gzipped; report
    * `i % 8 == 0` is republished twice, `i % 8 == 4` once, and
    * `i % 8 == 2` has an `.l-exp` twin. */
  def generate(r: Random, namer: Namer, firstId: Int, nReports: Int,
               perReport: Int): Archive = {
    val reps = Seq.newBuilder[SmsReport]
    val lamps = Seq.newBuilder[Lampflash]
    val acqs = Seq.newBuilder[Acq]
    var nAcq = 0
    var nSci = 0
    var nLamp = 0
    (0 until nReports).foreach { i =>
      val lines = (0 until perReport).map { j =>
        if (Set(1, 3)((i * perReport + j) % 5)) {
          val k = nAcq; nAcq += 1
          val l = line(r, namer, Some(acqTypes(k % acqTypes.size)), (k / acqTypes.size) % 5 < 3)
          acqs += acq(r, l, k)
          l
        } else {
          val k = nSci; nSci += 1
          val l = line(r, namer, None, k % 5 < 3)
          if (k % 5 != 4) { lamps += lampflash(r, l, nLamp % 10 < 3); nLamp += 1 }
          l
        }
      }
      val rep = SmsReport(firstId + i, "b1", lines, lexpTwin = i % 8 == 2)
      reps += rep
      i % 8 match {
        case 0 => val v2 = reversion(r, rep, "b2"); reps += v2; reps += reversion(r, v2, "b3")
        case 4 => reps += reversion(r, rep, "b2")
        case _ => ()
      }
    }
    Archive(reps.result(), lamps.result(), acqs.result())
  }

  /** Base archive of a workload for a seed. */
  def base(seed: Long, nReports: Int, perReport: Int): (Archive, Namer, Random) = {
    val r = new Random(seed)
    val namer = new Namer(r.nextInt(1000))
    (generate(r, namer, 100000 + r.nextInt(1000), nReports, perReport), namer, r)
  }

  /** An incremental batch: new reports with their products, plus higher
    * versions of some reports already in `current`. */
  def batch(r: Random, namer: Namer, current: Archive, firstId: Int,
            nReports: Int, perReport: Int, nReversions: Int): Archive = {
    val fresh = generate(r, namer, firstId, nReports, perReport)
    val latest = current.latestReports
    val revised = r.shuffle(latest).take(nReversions).map { rep =>
      val v = rep.version.head.toString + (rep.version.tail.toInt + 1)
      reversion(r, rep, v)
    }
    fresh.copy(reports = fresh.reports ++ revised)
  }

  // ---------------------------------------------------------------- files

  val smsHeader: String =
    """
      |COS Exposure Report: SMS %s
      |
      |Data                                                          Exposure Start    FUV    Mechanism Positions   Cent    Tsince Tsince
      |Filename Prop  Target     PRG OB AL EX Conf Opmode    ExpTime yyyy.ddd:hh:mm:ss State  Aper OSM1     OSM2    Wave FP   OSM1   OSM2
      |----------------------------------------------------------------------------------------------------------------------------------""".stripMargin

  def smsText(rep: SmsReport): String = {
    def fmt(l: SmsLine, target: String): String =
      f"${l.rootname} ${l.proposid}%05d $target%-10s ${l.prg} ${l.ob} ${l.al} 01 " +
        f"${l.detector}  ${l.opmode}%-9s ${l.exptimeTenths / 10}%6d.${l.exptimeTenths % 10}%d " +
        f"${l.expstart} ${l.fuvhv}%-6s ${l.aperture}%-4s ${l.osm1}%-8s ${l.osm2}%-7s " +
        f"${l.cenwave}%6d ${l.fpoffset}%2d ${l.tsince1}%6d ${l.tsince2}%6d"
    val body = rep.lines.zipWithIndex.flatMap { case (l, i) =>
      val main = fmt(l, s"TARG${i}X")
      // special rows the parser must skip, as in real reports
      if (i == 1) Seq(main, fmt(l.copy(rootname = l.rootname.take(7) + "z"), "MEMORY"))
      else if (i == 2) Seq(main, fmt(l.copy(rootname = l.rootname.take(7) + "y"), "ALIGN/OSM"))
      else Seq(main)
    }
    (smsHeader.format(rep.fileId.toUpperCase) +: body :+ "" :+ "End of report").mkString("\n") + "\n"
  }

  /** Write every file of `a` under `dir` (sms/, lampflash/, rawacq/, spt/);
    * returns the paths written. */
  def write(a: Archive, dir: File): Seq[File] = {
    Seq("sms", "lampflash", "rawacq", "spt").foreach(d => new File(dir, d).mkdirs())
    val out = Seq.newBuilder[File]
    def put(f: File, bytes: Array[Byte]): Unit = { Files.write(f.toPath, bytes); out += f }
    a.reports.foreach { rep =>
      val text = smsText(rep).getBytes("US-ASCII")
      put(new File(dir, s"sms/${rep.fileId}.txt"), text)
      if (rep.lexpTwin) put(new File(dir, s"sms/${rep.fileId}.l-exp"), text)
    }
    a.lamps.foreach { l =>
      put(new File(dir, s"lampflash/${l.rootname}_lampflash.fits" + (if (l.gz) ".gz" else "")),
        maybeGz(lampflashFits(l), l.gz))
    }
    a.acqs.foreach { q =>
      put(new File(dir, s"rawacq/${q.rootname}_rawacq.fits" + (if (q.gz) ".gz" else "")),
        maybeGz(rawacqFits(q), q.gz))
      put(new File(dir, s"spt/${q.rootname}_spt.fits" + (if (q.gz) ".gz" else "")),
        maybeGz(sptFits(q), q.gz))
    }
    out.result()
  }

  private def maybeGz(b: Array[Byte], gz: Boolean): Array[Byte] =
    if (!gz) b
    else {
      val bo = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(bo)
      g.write(b); g.close()
      bo.toByteArray
    }

  def lampflashFits(l: Lampflash): Array[Byte] = FitsWriter.file(
    Seq("ROOTNAME" -> FitsWriter.str(l.rootname), "DETECTOR" -> FitsWriter.str(l.detector),
      "OPT_ELEM" -> FitsWriter.str(l.optElem), "FILETYPE" -> FitsWriter.str("LAMPFLASH")),
    Seq("EXTNAME" -> FitsWriter.str("LAMPFLASH"), "EXPSTART" -> l.expstart.toString),
    Seq(FitsWriter.Col("TIME", "1D", l.time), FitsWriter.Col("SEGMENT", "4A", l.segment),
      FitsWriter.Col("SHIFT_DISP", "1D", l.shiftDisp),
      FitsWriter.Col("SHIFT_XDISP", "1D", l.shiftXdisp)))

  def rawacqFits(q: Acq): Array[Byte] = FitsWriter.file(
    Seq("ROOTNAME" -> FitsWriter.str(q.rootname), "EXPTYPE" -> FitsWriter.str(q.exptype),
      "OBSTYPE" -> FitsWriter.str(q.obstype), "DETECTOR" -> FitsWriter.str(q.detector),
      "LIFE_ADJ" -> q.lifeAdj.toString, "APERTURE" -> FitsWriter.str(q.aperture),
      "LINENUM" -> FitsWriter.str(q.linenum), "EXTENDED" -> FitsWriter.str(q.extended)),
    Seq("EXTNAME" -> FitsWriter.str("EVENTS"), "EXPSTART" -> q.expstart.toString,
      "ACQSLEWX" -> q.slewx.toString, "ACQSLEWY" -> q.slewy.toString,
      "NEVENTS" -> q.nevents.toString, "SHUTTER" -> FitsWriter.str(q.shutter),
      "LAMPEVNT" -> q.lampevnt.toString, "ACQSTAT" -> FitsWriter.str(q.acqstat),
      "APERYPOS" -> q.aperypos.toString),
    q.events match { case (time, rawx, pha) =>
      Seq(FitsWriter.Col("TIME", "1E", time), FitsWriter.Col("RAWX", "1I", rawx),
        FitsWriter.Col("PHA", "1J", pha))
    })

  def sptFits(q: Acq): Array[Byte] = FitsWriter.file(
    Seq("ROOTNAME" -> FitsWriter.str(q.rootname), "DGESTAR" -> FitsWriter.str(q.dgestar)),
    Seq("EXTNAME" -> FitsWriter.str("UDL")),
    Seq(FitsWriter.Col("WORD", "1J", Seq(q.lifeAdj, q.nevents.toInt, q.lampevnt.toInt))))
}

/** Writer for the FITS subset COS products use: a header-only primary HDU
  * and one BINTABLE extension with fixed-width scalar cells. */
object FitsWriter {
  final case class Col(name: String, form: String, values: Seq[Any])

  def str(v: String): String = "'" + v.replace("'", "''").padTo(8, ' ') + "'"

  private def block(cards: Seq[(String, String)]): Array[Byte] = {
    val sb = new StringBuilder
    cards.foreach { case (k, v) =>
      val c = f"$k%-8s= " + (if (v.startsWith("'")) v else f"$v%20s")
      require(c.length <= 80, s"card too long: $c")
      sb ++= c.padTo(80, ' ')
    }
    sb ++= "END".padTo(80, ' ')
    val padded = sb.toString.padTo(((sb.length + 2879) / 2880) * 2880, ' ')
    padded.getBytes("US-ASCII")
  }

  private def width(form: String): Int = form.last match {
    case 'D' => 8
    case 'E' | 'J' => 4
    case 'I' => 2
    case 'A' => form.init.toInt
  }

  def file(primary: Seq[(String, String)], extHeader: Seq[(String, String)],
           cols: Seq[Col]): Array[Byte] = {
    val nRows = cols.head.values.size
    require(cols.forall(_.values.size == nRows), "ragged columns")
    val rowLen = cols.map(c => width(c.form)).sum
    val prim = block(Seq("SIMPLE" -> "T", "BITPIX" -> "8", "NAXIS" -> "0",
      "EXTEND" -> "T") ++ primary)
    val ext = block(Seq("XTENSION" -> str("BINTABLE"), "BITPIX" -> "8", "NAXIS" -> "2",
      "NAXIS1" -> rowLen.toString, "NAXIS2" -> nRows.toString, "PCOUNT" -> "0",
      "GCOUNT" -> "1", "TFIELDS" -> cols.size.toString) ++
      cols.zipWithIndex.flatMap { case (c, i) =>
        Seq(s"TTYPE${i + 1}" -> str(c.name), s"TFORM${i + 1}" -> str(c.form))
      } ++ extHeader)
    val data = ByteBuffer.allocate(((rowLen * nRows + 2879) / 2880) * 2880)
    (0 until nRows).foreach { r =>
      cols.foreach { c =>
        (c.form.last, c.values(r)) match {
          case ('D', v: Double) => data.putDouble(v)
          case ('E', v: Float) => data.putFloat(v)
          case ('J', v: Int) => data.putInt(v)
          case ('I', v: Short) => data.putShort(v)
          case ('A', v: String) =>
            data.put(v.padTo(width(c.form), ' ').take(width(c.form)).getBytes("US-ASCII"))
          case (f, v) => throw new IllegalArgumentException(s"cannot write $v as $f")
        }
      }
    }
    prim ++ ext ++ data.array()
  }
}
