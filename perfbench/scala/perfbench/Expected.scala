package perfbench

/** What the 12 monthly monitors must emit for an archive, derived from the
  * generator's ground truth with plain Scala (no Spark), and a canonical
  * digest that both this and the program's CSV output are reduced to.
  *
  * Numbers are compared at 6 significant digits: the fits sum in a
  * different order from Spark's aggregates, and the CSV writer prints
  * doubles in its own format. */
object Expected {

  /** Per monitor: the columns that enter its digest, with a kind
    * (`s` string, `n` number, `b` boolean). Timestamp columns are left out;
    * the numbers they derive from are in. */
  val digestCols: Map[String, Seq[(String, Char)]] = {
    val shift = Seq("ROOTNAME" -> 's', "seg_idx" -> 'n', "seg_diff" -> 'n', "is_outlier" -> 'b')
    val drift = Seq("ROOTNAME" -> 's', "flash" -> 'n', "SEGMENT" -> 's', "TIME" -> 'n',
      "SHIFT_DISP" -> 'n', "REL_SHIFT_DISP" -> 'n', "REL_SHIFT_XDISP" -> 'n',
      "SHIFT1_DRIFT" -> 'n', "SHIFT2_DRIFT" -> 'n', "REL_TSINCEOSM1" -> 'n',
      "REL_TSINCEOSM2" -> 'n')
    val aper = Seq("ROOTNAME" -> 's', "LIFE_ADJ" -> 'n', "APERTURE" -> 's', "SHIFT_APERY" -> 'n')
    Map(
      "acq_image" -> Seq("FGS" -> 's', "lo_mjd" -> 'n', "n" -> 'n', "slope" -> 'n', "intercept" -> 'n'),
      "acq_image_v2v3" -> Seq("FGS" -> 's', "axis" -> 's', "n" -> 'n', "slope" -> 'n', "intercept" -> 'n'),
      "acq_peakd" -> Seq("ROOTNAME" -> 's', "ACQSLEWX" -> 'n', "is_outlier" -> 'b'),
      "acq_peakxd" -> Seq("ROOTNAME" -> 's', "ACQSLEWY" -> 'n', "is_outlier" -> 'b'),
      "fuv_osm_shift1" -> shift, "fuv_osm_shift2" -> shift,
      "nuv_osm_shift1" -> (shift.take(2) ++ Seq("pair" -> 's') ++ shift.drop(2)),
      "nuv_osm_shift2" -> (shift.take(2) ++ Seq("pair" -> 's') ++ shift.drop(2)),
      "fuv_osm_drift" -> drift, "nuv_osm_drift" -> drift,
      "fuv_aperture_shift" -> aper, "nuv_aperture_shift" -> aper)
  }

  /** Fit-epoch breakpoints per FGS (lo, hi MJD; None = open). */
  val breakpoints: Seq[(String, Option[Double], Option[Double])] = Seq(
    ("F1", None, Some(57000.0)), ("F1", Some(57000.0), None),
    ("F2", None, None),
    ("F3", None, Some(58000.0)), ("F3", Some(58000.0), None))

  private val NullMark = "\u0000"

  def num(d: Double): String =
    if (d == 0.0) "0" else "%.5e".format(d)

  private def canonAny(v: Any): String = v match {
    case null | None => NullMark
    case Some(x) => canonAny(x)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => num(i.toDouble)
    case l: Long => num(l.toDouble)
    case b: Boolean => b.toString
    case s: String => s
  }

  def canonCsv(cell: String, kind: Char): String =
    if (cell.isEmpty) NullMark
    else kind match {
      case 'n' => num(cell.toDouble)
      case _ => cell
    }

  def md5(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def digestRows(rows: Seq[Seq[Any]]): String =
    md5(rows.map(_.map(canonAny).mkString("\u0001")))

  /** Row count and digest per monitor for `a`. */
  def monitors(a: Archive): Map[String, (Long, String)] =
    rows(a).map { case (k, rs) => k -> (rs.size.toLong, digestRows(rs)) }

  private def byear(mjd: Double): Double =
    1900.0 + (mjd + 2400000.5 - 2415020.31352) / 365.242198781

  /** (n, slope, intercept) of the population least-squares fit of y on x. */
  private def fit(xy: Seq[(Double, Double)]): (Long, Option[Double], Option[Double]) = {
    val n = xy.size
    val mx = xy.map(_._1).sum / n
    val my = xy.map(_._2).sum / n
    val sxx = xy.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val sxy = xy.map { case (x, y) => (x - mx) * (y - my) }.sum
    if (n < 1 || sxx == 0.0) (n.toLong, None, None)
    else {
      val slope = sxy / sxx
      (n.toLong, Some(slope), Some(my - slope * mx))
    }
  }

  private val lps = Seq(1, 2, 3, 4, 5, 6, 7, 8, 10, 11, 12)
  private val aperOrder = Seq("PSA", "BOA", "FCA", "WCA")
  // expected aperture-block Y position per LP x aperture, (FUV, NUV) —
  // the constant lookup the aperture monitors use
  private val positions = Seq(
    Seq((126, 126), (-153, -153), (-153, -153), (126, 126)),
    Seq((53, 126), (-226, -153), (-226, -153), (53, 126)),
    Seq((181, 126), (-98, -153), (-98, -153), (181, 126)),
    Seq((234, 126), (-45, -153), (-45, -153), (234, 126)),
    Seq((13, 126), (-226, -153), (-226, -153), (13, 126)),
    Seq((-11, 126), (-98, -153), (-98, -153), (22, 126)),
    Seq((-49, 126), (-98, -153), (-98, -153), (32, 126)),
    Seq((206, 126), (-73, -153), (-73, -153), (206, 126)),
    Seq((206, 126), (-73, -153), (-73, -153), (206, 126)),
    Seq((270, 126), (-9, -153), (-9, -153), (270, 126)),
    Seq((90, 126), (-189, -153), (-189, -153), (90, 126)))

  /** Expected output rows per monitor, in `digestCols` order. */
  def rows(a: Archive): Map[String, Seq[Seq[Any]]] = {
    val sms = a.smsRows.map { case (_, l) => l.rootname + "q" -> l }.toMap
    val acqs = a.acqs

    def slews(exptype: String, x: Boolean) =
      acqs.filter(_.exptype == exptype).map { q =>
        val v = if (x) q.slewx else q.slewy
        Seq(q.rootname, v, math.abs(v) >= 1.0)
      }

    val acqImage = {
      val pts = for {
        q <- acqs if q.exptype == "ACQ/IMAGE"
        (f, lo, hi) <- breakpoints
        if f == q.fgs && lo.forall(q.expstart >= _) && hi.forall(q.expstart < _)
      } yield ((q.fgs, lo), (byear(q.expstart),
        math.sqrt(math.pow(q.slewx, 2) + math.pow(q.slewy, 2))))
      pts.groupBy(_._1).toSeq.map { case ((f, lo), g) =>
        val (n, s, i) = fit(g.map(_._2))
        Seq(f, lo, n, s, i)
      }
    }

    val v2v3 = {
      val lastBreak = breakpoints.groupBy(_._1).map { case (f, bs) =>
        f -> bs.flatMap(_._2).maxOption
      }
      val c = math.cos(math.toRadians(45.0))
      val s = math.sin(math.toRadians(45.0))
      val cut = acqs.filter(q =>
        q.obstype == "IMAGING" && q.nevents >= 2000 &&
          math.sqrt(math.pow(q.slewx, 2) + math.pow(q.slewy, 2)) < 2 &&
          q.shutter == "Open" && q.lampevnt >= 500 && q.acqstat == "Success" &&
          q.extended == "NO" && q.linenum.endsWith("1") &&
          lastBreak.getOrElse(q.fgs, None).forall(q.expstart >= _))
      val pts = cut.flatMap { q =>
        val b = byear(q.expstart)
        Seq(((q.fgs, "V2"), (b, -(q.slewx * c + q.slewy * s))),
          ((q.fgs, "V3"), (b, -(q.slewx * c - q.slewy * s))))
      }
      pts.groupBy(_._1).toSeq.map { case ((f, axis), g) =>
        val (n, sl, i) = fit(g.map(_._2))
        Seq(f, axis, n, sl, i)
      }
    }

    /** Per-segment (seg_idx -> value) of a lampflash row. */
    def bySegment(l: Lampflash, values: Seq[Double]): Map[String, IndexedSeq[Double]] =
      l.segment.indices.groupBy(l.segment(_)).map { case (sg, idx) =>
        sg -> idx.sorted.map(values(_))
      }

    def lampsOf(det: String, minSize: Int) =
      a.lamps.filter(l => l.detector == det && l.time.size >= minSize && sms.contains(l.rootname))

    def fuvShift(x: Boolean, threshold: Double) =
      lampsOf("FUV", 1).flatMap { l =>
        val seg = bySegment(l, if (x) l.shiftXdisp else l.shiftDisp)
        val (av, bv) = (seg.getOrElse("FUVA", IndexedSeq.empty), seg.getOrElse("FUVB", IndexedSeq.empty))
        (0 until math.min(av.size, bv.size)).map { k =>
          val d = av(k) - bv(k)
          Seq(l.rootname, k + 1, d, math.abs(d) > threshold)
        }
      }

    def nuvShift(x: Boolean, threshold: Double) =
      lampsOf("NUV", 1).flatMap { l =>
        val seg = bySegment(l, if (x) l.shiftXdisp else l.shiftDisp)
        def at(s: String, k: Int) = seg.get(s).flatMap(_.lift(k))
        val kMax = seg.values.map(_.size).max
        (0 until kMax).flatMap { k =>
          Seq(("B-C", at("NUVB", k), at("NUVC", k)), ("C-A", at("NUVC", k), at("NUVA", k)))
            .collect { case (p, Some(u), Some(v)) =>
              val d = u - v
              Seq(l.rootname, k + 1, p, d, math.abs(d) > threshold)
            }
        }
      }

    def drift(det: String) =
      lampsOf(det, 2).flatMap { l =>
        val ts = sms(l.rootname)
        (1 until l.time.size).map { i =>
          val t = l.time(i)
          val rd = l.shiftDisp(i) - l.shiftDisp(0)
          val rx = l.shiftXdisp(i) - l.shiftXdisp(0)
          Seq(l.rootname, i - 1, l.segment(i), t, l.shiftDisp(i), rd, rx, rd / t, rx / t,
            t + ts.tsince1.toDouble, t + ts.tsince2.toDouble)
        }
      }

    def aperture(det: String) =
      acqs.filter(q => q.detector == det && lps.contains(q.lifeAdj)).map { q =>
        val (fuv, nuv) = positions(lps.indexOf(q.lifeAdj))(aperOrder.indexOf(q.aperture))
        Seq(q.rootname, q.lifeAdj, q.aperture,
          q.aperypos - (if (det == "FUV") fuv else nuv).toDouble)
      }

    Map(
      "acq_image" -> acqImage, "acq_image_v2v3" -> v2v3,
      "acq_peakd" -> slews("ACQ/PEAKD", x = true),
      "acq_peakxd" -> slews("ACQ/PEAKXD", x = false),
      "fuv_osm_shift1" -> fuvShift(x = false, 10.0),
      "fuv_osm_shift2" -> fuvShift(x = true, 5.0),
      "nuv_osm_shift1" -> nuvShift(x = false, 10.0),
      "nuv_osm_shift2" -> nuvShift(x = true, 5.0),
      "fuv_osm_drift" -> drift("FUV"), "nuv_osm_drift" -> drift("NUV"),
      "fuv_aperture_shift" -> aperture("FUV"), "nuv_aperture_shift" -> aperture("NUV"))
  }

  /** Row count and digest of one monitor's CSV sink output directory. */
  def csvDigest(dir: java.io.File, name: String): (Long, String) = {
    val cols = digestCols(name)
    val parts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    val lines = parts.toSeq.flatMap { f =>
      val ls = java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq
      if (ls.isEmpty) Seq.empty
      else {
        val header = ls.head.split(",", -1).toSeq
        val idx = cols.map { case (c, _) =>
          val i = header.indexOf(c)
          require(i >= 0, s"$name: column $c missing from CSV header ${header.mkString(",")}")
          i
        }
        ls.tail.filter(_.nonEmpty).map { l =>
          val cells = l.split(",", -1)
          idx.zip(cols).map { case (i, (_, k)) => canonCsv(cells(i), k) }.mkString("\u0001")
        }
      }
    }
    (lines.size.toLong, md5(lines))
  }
}
