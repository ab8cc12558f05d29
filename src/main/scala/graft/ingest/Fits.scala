package graft.ingest

import java.net.URI
import java.nio.ByteBuffer
import java.util.zip.GZIPInputStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Minimal pure-Scala FITS reader for the reference's exposure products
  * (S2 header extraction, S3 binary-table extraction — SURVEY.md §2.1;
  * reference behavior: cosmo/filesystem.py:34–92).
  *
  * Scope: the subset of the public FITS standard the COS products use —
  * 2880-byte header blocks of 80-char cards, BINTABLE extensions with
  * fixed-width column formats (rA, 1D, 1E, 1J, 1I, 1L; big-endian),
  * optional gzip container — plus variable-length (P/Q descriptor)
  * columns, decoded through each HDU's heap (THEAP-aware).
  *
  * Spark integration reads whole files via the binaryFile source and
  * parses per-partition — the dask per-file fan-out of the reference
  * (filesystem.py:355–373) becomes executor-side partition parallelism.
  * One output row per file: requested header keys as strings (typed by
  * the caller, as the reference's astype does) and requested table
  * columns as arrays (one element per table row).
  */
object Fits {

  final case class Hdu(header: Map[String, String], cardsInOrder: Seq[(String, String)],
                       dataStart: Int, dataLen: Int)
  /** `desc` is ' ' for fixed-width cells, 'P' for 32-bit and 'Q' for
    * 64-bit variable-length array descriptors (cell = (count, heap
    * offset); elements live in the HDU's heap). `code` is always the
    * ELEMENT type. */
  final case class ColSpec(name: String, code: Char, repeat: Int, offset: Int,
                           cellBytes: Int, desc: Char = ' ')

  private val CardRe = """^([A-Z0-9_-]+)\s*=\s*('(?:[^']|'')*'|[^/]*).*$""".r

  def gunzipIfNeeded(bytes: Array[Byte]): Array[Byte] =
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
      val in = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      val out = new java.io.ByteArrayOutputStream(bytes.length * 4)
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } else bytes

  def parseHdus(bytes: Array[Byte]): Seq[Hdu] = {
    val hdus = Seq.newBuilder[Hdu]
    var pos = 0
    while (pos + 2880 <= bytes.length) {
      val cards = Seq.newBuilder[(String, String)]
      var done = false
      while (!done && pos + 2880 <= bytes.length) {
        val block = new String(bytes, pos, 2880, "US-ASCII")
        pos += 2880
        block.grouped(80).foreach { card =>
          if (card.startsWith("END     ") || card.trim == "END") done = true
          else card match {
            case CardRe(k, v) =>
              val value =
                if (v.startsWith("'"))
                  v.trim.stripPrefix("'").stripSuffix("'").replace("''", "'").trim
                else v.trim
              cards += (k -> value)
            case _ => ()
          }
        }
      }
      val kv = cards.result().toMap
      val naxis = kv.get("NAXIS").map(_.toInt).getOrElse(0)
      val dataLen =
        if (naxis == 0) 0
        else {
          val bitpix = math.abs(kv.getOrElse("BITPIX", "8").toInt)
          val axes = (1 to naxis).map(i => kv.getOrElse(s"NAXIS$i", "0").toLong)
          val gcount = kv.getOrElse("GCOUNT", "1").toLong
          val pcount = kv.getOrElse("PCOUNT", "0").toLong
          ((bitpix / 8) * gcount * (pcount + axes.product)).toInt
        }
      hdus += Hdu(kv, cards.result(), pos, dataLen)
      pos += ((dataLen + 2879) / 2880) * 2880
    }
    hdus.result()
  }

  private val FormRe = """^(\d*)([ADEJILKB])""".r
  private val VarFormRe = """^(\d*)([PQ])([ADEJILKB])""".r

  private def unitBytes(code: Char): Int = code match {
    case 'A' | 'L' | 'B' => 1
    case 'I' => 2
    case 'E' | 'J' => 4
    case 'D' | 'K' => 8
  }

  private def scalarAt(bytes: Array[Byte], code: Char, at: Int): Any =
    code match {
      case 'D' => ByteBuffer.wrap(bytes, at, 8).getDouble
      case 'E' => ByteBuffer.wrap(bytes, at, 4).getFloat
      case 'J' => ByteBuffer.wrap(bytes, at, 4).getInt
      case 'I' => ByteBuffer.wrap(bytes, at, 2).getShort.toInt
      case 'K' => ByteBuffer.wrap(bytes, at, 8).getLong
      case 'B' => bytes(at) & 0xff
      case 'L' => bytes(at) == 'T'.toByte
    }

  /** Start of a BINTABLE HDU's heap (variable-length element storage):
    * `THEAP` when present, else immediately after the fixed table. */
  def heapStart(h: Hdu): Int =
    h.dataStart + h.header.get("THEAP").map(_.trim.toInt).getOrElse(
      h.header("NAXIS1").toInt * h.header("NAXIS2").toInt)

  /** Column layout of a BINTABLE HDU, in physical order with offsets. */
  def tableCols(h: Hdu): Seq[ColSpec] = {
    require(h.header.get("XTENSION").exists(_.startsWith("BINTABLE")),
      s"not a BINTABLE HDU: ${h.header.get("XTENSION")}")
    val tfields = h.header("TFIELDS").toInt
    var offset = 0
    // jobs-bound: 0 Spark jobs — local header-card arithmetic over one
    // HDU's parsed keywords (no actions)
    (1 to tfields).map { j =>
      val name = h.header.getOrElse(s"TTYPE$j", s"col$j")
      val form = h.header(s"TFORM$j")
      val spec = VarFormRe.findFirstMatchIn(form) match {
        case Some(m) =>
          // rPt(max)/rQt(max): r (count, offset) descriptors per cell —
          // the standard restricts r to 0 or 1; r=0 occupies no bytes
          // and always decodes empty. Anything else is rejected loudly
          // (a silently-ignored r would misalign every later column).
          val r = if (m.group(1).isEmpty) 1 else m.group(1).toInt
          require(r <= 1,
            s"variable-length column $name ($form): repeat $r > 1 is not valid FITS")
          ColSpec(name, m.group(3).head, r, offset,
            r * (if (m.group(2) == "P") 8 else 16), m.group(2).head)
        case None =>
          val m = FormRe.findFirstMatchIn(form).getOrElse(
            throw new IllegalArgumentException(s"unsupported TFORM '$form' for $name"))
          val repeat = if (m.group(1).isEmpty) 1 else m.group(1).toInt
          val code = m.group(2).head
          ColSpec(name, code, repeat, offset, unitBytes(code) * repeat)
      }
      offset += spec.cellBytes
      spec
    }
  }

  /** All values of one column (one per table row). 'A' cells decode to a
    * trimmed string; numeric cells with repeat > 1 are rejected (the
    * reference only requests scalar-cell columns; nested arrays would
    * need ArrayType(ArrayType) plumbing). */
  def columnValues(bytes: Array[Byte], h: Hdu, spec: ColSpec): IndexedSeq[Any] = {
    val rowLen = h.header("NAXIS1").toInt
    val nRows = h.header("NAXIS2").toInt
    if (spec.desc != ' ') {
      // variable-length cells: (count, offset) descriptor into the heap;
      // 'A' decodes to one string, numeric types to one Seq per row
      val hs = heapStart(h)
      val unit = unitBytes(spec.code)
      if (spec.repeat == 0)
        return IndexedSeq.fill(nRows)(if (spec.code == 'A') "" else Seq.empty)
      return (0 until nRows).map { r =>
        val base = h.dataStart + r * rowLen + spec.offset
        val (cnt, off) =
          if (spec.desc == 'P')
            (ByteBuffer.wrap(bytes, base, 4).getInt,
              ByteBuffer.wrap(bytes, base + 4, 4).getInt.toLong)
          else
            (ByteBuffer.wrap(bytes, base, 8).getLong.toInt,
              ByteBuffer.wrap(bytes, base + 8, 8).getLong)
        val at0 = hs + off.toInt
        spec.code match {
          case 'A' => new String(bytes, at0, cnt, "US-ASCII").trim
          case c => (0 until cnt).map(i => scalarAt(bytes, c, at0 + i * unit))
        }
      }
    }
    require(spec.code == 'A' || spec.repeat == 1,
      s"column ${spec.name}: array cells (repeat=${spec.repeat}) not supported")
    (0 until nRows).map { r =>
      val base = h.dataStart + r * rowLen + spec.offset
      spec.code match {
        case 'A' => new String(bytes, base, spec.repeat, "US-ASCII").trim
        case c => scalarAt(bytes, c, base)
      }
    }
  }

  private def elemType(code: Char): DataType = code match {
    case 'A' => StringType
    case 'D' => DoubleType
    case 'E' => FloatType
    case 'J' | 'I' | 'B' => IntegerType
    case 'K' => LongType
    case 'L' => BooleanType
  }

  /** Parsed HDUs of the schema probe: the lexically smallest file in the
    * binaryFile frame's listing. `inputFiles` is the driver-side listing
    * and the bytes are read through the Hadoop FileSystem on the driver,
    * so the probe runs no Spark job and does not depend on how the files
    * are packed into partitions. */
  private def probeHdus(spark: SparkSession, files: DataFrame, glob: String): Seq[Hdu] = {
    val paths = files.inputFiles
    require(paths.nonEmpty, s"no files match $glob")
    val path = new Path(new URI(paths.min))
    val in = path.getFileSystem(spark.sparkContext.hadoopConfiguration).open(path)
    val bytes = try in.readAllBytes() finally in.close()
    parseHdus(gunzipIfNeeded(bytes))
  }

  /** S6 jitter-style reader (reference: cosmo/filesystem.py:196–227): one
    * output row per (file, extension) whose EXTNAME matches, carrying the
    * file path, requested PRIMARY header keys, requested per-extension
    * header keys, and requested table columns as arrays. */
  def perExtensionTable(spark: SparkSession, glob: String, extName: String,
                        primaryKeys: Seq[String], extKeys: Seq[String],
                        tableColumns: Seq[String]): DataFrame = {
    val files = spark.read.format("binaryFile").load(glob)
      .select("path", "content")
    val probeExt = probeHdus(spark, files, glob)
      .find(_.header.get("EXTNAME").contains(extName))
      .getOrElse(throw new IllegalArgumentException(s"no $extName extension in probe file"))
    val specByName = tableCols(probeExt).map(s => s.name -> s).toMap
    val schema = StructType(
      StructField("path", StringType) +: StructField("ext_index", IntegerType) +:
        (primaryKeys ++ extKeys).map(k => StructField(k, StringType)) ++:
        tableColumns.map { n =>
          val spec = specByName.getOrElse(n, throw new IllegalArgumentException(
            s"column $n not in $extName extension"))
          // fixed cells: one scalar per table row; var-length numeric
          // cells: one array per table row (var 'A' decodes to a string)
          val cell =
            if (spec.desc == ' ' || spec.code == 'A') elemType(spec.code)
            else ArrayType(elemType(spec.code), containsNull = false)
          StructField(n, ArrayType(cell, containsNull = false))
        })
    val rows = files.rdd.flatMap { r =>
      val bytes = gunzipIfNeeded(r.getAs[Array[Byte]]("content"))
      val all = parseHdus(bytes)
      val primary = all.head
      all.zipWithIndex
        .filter(_._1.header.get("EXTNAME").contains(extName))
        .map { case (h, idx) =>
          val prim = primaryKeys.map(k => primary.header.get(k).orNull)
          val ext = extKeys.map(k => h.header.get(k).orNull)
          val cols = tableColumns.map { n =>
            val spec = tableCols(h).find(_.name == n).get
            columnValues(bytes, h, spec)
          }
          Row.fromSeq(r.getAs[String]("path") +: idx.asInstanceOf[Any] +:
            (prim ++ ext ++ cols))
        }
    }
    spark.createDataFrame(rows, schema)
  }

  /** One row per FITS file: requested header keys (per extension, as
    * strings) + requested BINTABLE columns (per extension, as arrays).
    * Name collisions across extensions get a `_<ext>` suffix, mirroring
    * the reference's `{key}_{ext}` renaming (filesystem.py:74–82).
    * Missing header keys yield null (reference: per-key defaults).
    *
    * Schema is inferred driver-side from one probe file (`probeHdus`);
    * all files of one product type share the layout (as in the
    * reference's per-model requests). */
  def exposures(spark: SparkSession, glob: String,
                headerReq: Map[Int, Seq[String]],
                tableReq: Map[Int, Seq[String]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val files = spark.read.format("binaryFile").load(glob)
      .select("path", "content")
    val probe = probeHdus(spark, files, glob)
    val fields = Seq.newBuilder[StructField]
    val used = scala.collection.mutable.Set[String]("path")
    def fieldName(base: String, ext: Int): String =
      if (used.add(base)) base else { val n = s"${base}_$ext"; used.add(n); n }
    fields += StructField("path", StringType)
    val headerPlan = headerReq.toSeq.sortBy(_._1).flatMap { case (ext, keys) =>
      keys.map { k =>
        val fn = fieldName(k, ext)
        fields += StructField(fn, StringType)
        (ext, k)
      }
    }
    val tablePlan = tableReq.toSeq.sortBy(_._1).flatMap { case (ext, names) =>
      val specs = tableCols(probe(ext)).map(s => s.name -> s).toMap
      names.map { n =>
        val spec = specs.getOrElse(n, throw new IllegalArgumentException(
          s"column $n not in extension $ext of $glob"))
        val fn = fieldName(n, ext)
        fields += StructField(fn, ArrayType(elemType(spec.code), containsNull = false))
        (ext, n)
      }
    }
    val schema = StructType(fields.result())

    val rows = files.rdd.map { r =>
      val bytes = gunzipIfNeeded(r.getAs[Array[Byte]]("content"))
      val hdus = parseHdus(bytes)
      val headerVals = headerPlan.map { case (ext, k) =>
        hdus.lift(ext).flatMap(_.header.get(k)).orNull
      }
      val tableVals = tablePlan.map { case (ext, n) =>
        val h = hdus(ext)
        val spec = tableCols(h).find(_.name == n).get
        columnValues(bytes, h, spec)
      }
      Row.fromSeq(r.getAs[String]("path") +: (headerVals ++ tableVals))
    }
    spark.createDataFrame(rows, schema)
  }
}
