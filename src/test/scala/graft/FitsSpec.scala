package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import graft.ingest.Fits

/** FITS reader against the reference repo's real exposure products.
  * Golden values below were extracted INDEPENDENTLY (byte-level struct
  * parse of the public files), not copied from the reference's tests. */
class FitsSpec extends SparkSpec {
  import spark.implicits._

  private val lampflash = "/root/reference/tests/data/lb4c10niq_lampflash.fits.gz"

  test("header + binary-table parse matches independent byte-level values") {
    val bytes = Fits.gunzipIfNeeded(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(lampflash)))
    val hdus = Fits.parseHdus(bytes)
    assert(hdus.head.header("ROOTNAME") == "lb4c10niq")
    assert(hdus.head.header("DETECTOR") == "NUV")
    assert(hdus.head.header("OPT_ELEM") == "G230L")
    assert(math.abs(hdus(1).header("EXPSTART").toDouble - 55202.48302439) < 1e-6)

    val specs = Fits.tableCols(hdus(1)).map(s => s.name -> s).toMap
    val seg = Fits.columnValues(bytes, hdus(1), specs("SEGMENT"))
    assert(seg == IndexedSeq("NUVA", "NUVB", "NUVC", "NUVA", "NUVB", "NUVC"))
    val time = Fits.columnValues(bytes, hdus(1), specs("TIME")).map(_.asInstanceOf[Double])
    assert(math.abs(time.head - 4.320000171661377) < 1e-12)
    assert(math.abs(time.last - 2404.35205078125) < 1e-9)
    val sd = Fits.columnValues(bytes, hdus(1), specs("SHIFT_DISP")).map(_.asInstanceOf[Float])
    assert(math.abs(sd.head - (-23.672340393066406)) < 1e-5)
    assert(math.abs(sd(2) - (-24.23033332824707)) < 1e-5)
  }

  test("exposures: one row per file, header scalars + column arrays, via Spark") {
    val df = Fits.exposures(spark,
      "/root/reference/tests/data/*lampflash*",
      headerReq = Map(0 -> Seq("ROOTNAME", "DETECTOR", "OPT_ELEM"), 1 -> Seq("EXPSTART")),
      tableReq = Map(1 -> Seq("TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")))
    // the reference's dataset has 11 lampflash files (tests pin this count)
    assert(df.count() == 11)
    val row = df.filter(col("ROOTNAME") === "lb4c10niq").head()
    assert(row.getAs[String]("DETECTOR") == "NUV")
    assert(row.getSeq[String](row.fieldIndex("SEGMENT")).toSeq ==
      Seq("NUVA", "NUVB", "NUVC", "NUVA", "NUVB", "NUVC"))
    assert(row.getSeq[Float](row.fieldIndex("SHIFT_DISP")).length == 6)
    // arrays feed the standard pipeline: explode + size checks work
    val exploded = graft.ops.Relational.explodeArrays(
      df.select("ROOTNAME", "TIME", "SHIFT_DISP", "SEGMENT"),
      Seq("TIME", "SHIFT_DISP", "SEGMENT"))
    assert(exploded.count() > 11)
  }

  test("end-to-end OSM pipeline on real FITS lampflash + derived SMS rows") {
    val lamp = Fits.exposures(spark,
      "/root/reference/tests/data/*lampflash*",
      headerReq = Map(0 -> Seq("ROOTNAME", "DETECTOR", "OPT_ELEM"), 1 -> Seq("EXPSTART")),
      tableReq = Map(1 -> Seq("TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")))
      .withColumn("EXPSTART", col("EXPSTART").cast("double"))
    // SMS fixture: rootnames sans trailing 'q' (J2 derived-key contract)
    val sms = lamp.select(expr("substring(ROOTNAME, 1, length(ROOTNAME)-1)")
      .as("ROOTNAME"))
      .withColumn("TSINCEOSM1", lit(100.0))
    val out = graft.monitors.Monitors.osmShiftData(lamp, sms)
    assert(out.count() > 0)
    assert(out.columns.contains("sample_ts") && out.columns.contains("flash"))
    // every surviving row is FUV (the NUV file above is filtered out)
    assert(out.select("DETECTOR").distinct().as[String].collect().toSeq == Seq("FUV"))
  }

  // hand-built FITS: 80-char cards in 2880-byte blocks
  private def card(k: String, v: String): String = (k.padTo(8, ' ') + "= " + v).padTo(80, ' ')
  private def block(cards: Seq[String]): Array[Byte] = {
    val s = (cards :+ "END".padTo(80, ' ')).mkString
    (s + " " * ((2880 - s.length % 2880) % 2880)).getBytes("US-ASCII")
  }

  test("schema probe: the lexically smallest file, read on the driver without a Spark job") {
    // two single-column BINTABLE files whose X column differs in type;
    // b.fits is the larger, so it is the first file of the first
    // partition (files are packed largest first)
    def fits(form: String, width: Int, rows: Int): Array[Byte] = {
      val data = new Array[Byte](width * rows)
      block(Seq(card("SIMPLE", "T"), card("BITPIX", "8"), card("NAXIS", "0"))) ++
        block(Seq(card("XTENSION", "'BINTABLE'"), card("BITPIX", "8"), card("NAXIS", "2"),
          card("NAXIS1", width.toString), card("NAXIS2", rows.toString),
          card("PCOUNT", "0"), card("GCOUNT", "1"), card("TFIELDS", "1"),
          card("EXTNAME", "'EVENTS'"), card("TTYPE1", "'X'"), card("TFORM1", s"'$form'"))) ++
        data ++ new Array[Byte]((2880 - data.length % 2880) % 2880)
    }
    val dir = java.nio.file.Files.createTempDirectory("fits_probe")
    java.nio.file.Files.write(dir.resolve("a.fits"), fits("1E", 4, 1))
    java.nio.file.Files.write(dir.resolve("b.fits"), fits("1D", 8, 1000))

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    val (exp, ext) = try {
      val built = (Fits.exposures(spark, s"$dir/*.fits", Map(0 -> Seq("SIMPLE")), Map(1 -> Seq("X"))),
        Fits.perExtensionTable(spark, s"$dir/*.fits", "EVENTS", Seq.empty, Seq.empty, Seq("X")))
      org.apache.spark.sql.graft.ListenerBridge.drain(sc)
      built
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, "building the frames ran a Spark job")
    assert(exp.schema("X").dataType == ArrayType(FloatType, containsNull = false))
    assert(ext.schema("X").dataType == ArrayType(FloatType, containsNull = false))
  }

  test("variable-length (P/Q descriptor) columns decode through the heap") {
    import java.nio.ByteBuffer
    // hand-built minimal FITS: empty primary + BINTABLE with 2 rows of
    // (1J fixed, 1PE(3) var floats, 1PA(8) var string, 1QD(2) var doubles)
    val primary = block(Seq(card("SIMPLE", "T"), card("BITPIX", "8"), card("NAXIS", "0")))
    val rowLen = 4 + 8 + 8 + 16                       // J + P + P + Q
    val heap = new java.io.ByteArrayOutputStream()
    val hb = new java.io.DataOutputStream(heap)
    // row 1: floats [1.5, 2.5, 3.5] @0; "alpha" @12; doubles [9.0] @17
    hb.writeFloat(1.5f); hb.writeFloat(2.5f); hb.writeFloat(3.5f)
    hb.writeBytes("alpha")
    hb.writeDouble(9.0)
    // row 2: no floats; "be" @25; doubles [7.0, 8.0] @27
    hb.writeBytes("be")
    hb.writeDouble(7.0); hb.writeDouble(8.0)
    val heapBytes = heap.toByteArray
    val table = new java.io.ByteArrayOutputStream()
    val tb = new java.io.DataOutputStream(table)
    tb.writeInt(42); tb.writeInt(3); tb.writeInt(0); tb.writeInt(5); tb.writeInt(12)
    tb.writeLong(1L); tb.writeLong(17L)
    tb.writeInt(43); tb.writeInt(0); tb.writeInt(0); tb.writeInt(2); tb.writeInt(25)
    tb.writeLong(2L); tb.writeLong(27L)
    val tableBytes = table.toByteArray
    assert(tableBytes.length == 2 * rowLen)
    val data = tableBytes ++ heapBytes
    val padded = data ++ Array.fill[Byte]((2880 - data.length % 2880) % 2880)(0)
    val ext = block(Seq(
      card("XTENSION", "'BINTABLE'"), card("BITPIX", "8"), card("NAXIS", "2"),
      card("NAXIS1", rowLen.toString), card("NAXIS2", "2"),
      card("PCOUNT", heapBytes.length.toString), card("GCOUNT", "1"),
      card("TFIELDS", "4"), card("EXTNAME", "'VARTEST'"),
      card("TTYPE1", "'IDX'"), card("TFORM1", "'1J'"),
      card("TTYPE2", "'FLUX'"), card("TFORM2", "'1PE(3)'"),
      card("TTYPE3", "'TAG'"), card("TFORM3", "'1PA(8)'"),
      card("TTYPE4", "'WAVE'"), card("TFORM4", "'1QD(2)'")))
    val bytes = primary ++ ext ++ padded

    val hdus = Fits.parseHdus(bytes)
    val specs = Fits.tableCols(hdus(1)).map(x => x.name -> x).toMap
    assert(specs("FLUX").desc == 'P' && specs("FLUX").code == 'E')
    assert(specs("WAVE").desc == 'Q' && specs("WAVE").code == 'D')
    assert(Fits.columnValues(bytes, hdus(1), specs("IDX")) == IndexedSeq(42, 43))
    assert(Fits.columnValues(bytes, hdus(1), specs("FLUX")) ==
      IndexedSeq(Seq(1.5f, 2.5f, 3.5f), Seq()))
    assert(Fits.columnValues(bytes, hdus(1), specs("TAG")) ==
      IndexedSeq("alpha", "be"))
    assert(Fits.columnValues(bytes, hdus(1), specs("WAVE")) ==
      IndexedSeq(Seq(9.0), Seq(7.0, 8.0)))

    // DataFrame path: write to disk, read via perExtensionTable
    val dir = java.nio.file.Files.createTempDirectory("fits_var").toFile
    val f = new java.io.File(dir, "var.fits")
    java.nio.file.Files.write(f.toPath, bytes)
    val df = Fits.perExtensionTable(spark, f.getAbsolutePath, "VARTEST",
      Seq.empty, Seq.empty, Seq("IDX", "FLUX", "TAG"))
    val row = df.select("IDX", "FLUX", "TAG").collect().head
    assert(row.getSeq[Int](0) == Seq(42, 43))
    assert(row.getSeq[Seq[Float]](1) == Seq(Seq(1.5f, 2.5f, 3.5f), Seq()))
    assert(row.getSeq[String](2) == Seq("alpha", "be"))
  }
}
