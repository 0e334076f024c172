package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Real-bytes verification of the image_header expression: the registry
  * query (mm5) runs over the text corpus where only the GIF/unknown
  * branches are reachable, so the PNG/JPEG parses are proven here on
  * hand-assembled headers that follow the public specs byte-for-byte.
  */
class MultimodalSpec extends AnyFunSuite with SparkFixture {

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  // minimal-but-real PNG: signature + IHDR(width=320, height=200,
  // bit depth 8, color type 6 = RGBA)
  private val png = bytes(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
    bytes(0, 0, 0, 13) ++ "IHDR".getBytes ++
    bytes(0, 0, 1, 64) ++ // width 320
    bytes(0, 0, 0, 200) ++ // height 200
    bytes(8, 6, 0, 0, 0)

  // real JPEG start: SOI, APP0/JFIF segment, then SOF0 with
  // precision 8, height 480, width 640, 3 components
  private val jpeg = bytes(0xFF, 0xD8) ++
    bytes(0xFF, 0xE0, 0x00, 0x10) ++ "JFIF".getBytes ++
    bytes(0, 1, 1, 0, 0, 1, 0, 1, 0, 0) ++
    bytes(0xFF, 0xC0, 0x00, 0x11, 8, 0x01, 0xE0, 0x02, 0x80, 3) ++
    bytes(1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)

  // GIF89a logical screen 13 x 7 (little-endian) + packed/background/ratio
  private val gif = "GIF89a".getBytes ++ bytes(13, 0, 7, 0, 0x91, 0, 0)

  private val truncatedPng = bytes(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
  private val sofLessJpeg = bytes(0xFF, 0xD8, 0xFF, 0xD9) // SOI then EOI
  private val junk = "just some prose, no magic at all".getBytes

  test("image_header parses real PNG/JPEG/GIF headers and degrades honestly") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("bin", BinaryType)))
    val rows = Seq(
      Row(1L, png), Row(2L, jpeg), Row(3L, gif),
      Row(4L, truncatedPng), Row(5L, sofLessJpeg), Row(6L, junk))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val got = df
      .select(col("id"), call_function("image_header", col("bin")).as("h"))
      .select(col("id"), col("h.format"), col("h.width"), col("h.height"), col("h.channels"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getInt(2)),
          if (r.isNullAt(3)) None else Some(r.getInt(3)),
          if (r.isNullAt(4)) None else Some(r.getInt(4))))).toMap

    assert(got(1L) === (("png", Some(320), Some(200), Some(4))))
    assert(got(2L) === (("jpeg", Some(640), Some(480), Some(3))))
    assert(got(3L) === (("gif", Some(13), Some(7), None)))
    assert(got(4L) === (("png", None, None, None)),
      "truncated PNG must keep the format with null dims")
    assert(got(5L) === (("jpeg", None, None, None)),
      "SOF-less JPEG must keep the format with null dims")
    assert(got(6L) === (("unknown", None, None, None)))
  }

  test("image_header: progressive JPEG (SOF2) and EXIF orientation through APP1") {
    // APP1/EXIF segment: "Exif\0\0" + big-endian TIFF header + IFD0 with
    // one entry — orientation (0x0112, SHORT, count 1, value 6 = rotate
    // 90° CW). Declared length = 2(itself) + 6 + 8 + 2 + 12 + 4(next-IFD)
    // = 34 = 0x22.
    val exifApp1 = bytes(0xFF, 0xE1, 0x00, 0x22) ++
      "Exif".getBytes ++ bytes(0, 0) ++
      "MM".getBytes ++ bytes(0, 42, 0, 0, 0, 8) ++ // BE, magic 42, IFD0 at +8
      bytes(0, 1) ++ // one entry
      bytes(0x01, 0x12, 0, 3, 0, 0, 0, 1, 0, 6, 0, 0) ++ // orientation = 6
      bytes(0, 0, 0, 0) // no next IFD
    // progressive frame: SOF2, same layout as SOF0 — height 480, width 640
    val sof2 = bytes(0xFF, 0xC2, 0x00, 0x11, 8, 0x01, 0xE0, 0x02, 0x80, 3) ++
      bytes(1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
    val progressiveExif = bytes(0xFF, 0xD8) ++ exifApp1 ++ sof2
    val r = graft.functions.ImageHeader.compute(progressiveExif)
    assert(r.getUTF8String(0).toString === "jpeg")
    // stored SOF dimensions are reported as-is — the orientation fact
    // travels beside them; a display pipeline swaps axes for 5..8
    assert(r.getInt(1) === 640 && r.getInt(2) === 480 && r.getInt(3) === 3)
    assert(r.getInt(4) === 6, "EXIF orientation not parsed from APP1")
    // little-endian TIFF variant, orientation 3 (180°)
    val exifLe = bytes(0xFF, 0xE1, 0x00, 0x22) ++
      "Exif".getBytes ++ bytes(0, 0) ++
      "II".getBytes ++ bytes(42, 0, 8, 0, 0, 0) ++
      bytes(1, 0) ++
      bytes(0x12, 0x01, 3, 0, 1, 0, 0, 0, 3, 0, 0, 0) ++
      bytes(0, 0, 0, 0)
    val rLe = graft.functions.ImageHeader.compute(bytes(0xFF, 0xD8) ++ exifLe ++ sof2)
    assert(rLe.getInt(4) === 3, "little-endian EXIF orientation not parsed")
    // EXIF-less baseline JPEG: orientation null, dims unchanged
    val rPlain = graft.functions.ImageHeader.compute(jpeg)
    assert(rPlain.getInt(1) === 640 && rPlain.isNullAt(4))
    // corrupt APP1 (bad TIFF magic) degrades to null orientation, not a throw
    val badTiff = bytes(0xFF, 0xD8) ++ bytes(0xFF, 0xE1, 0x00, 0x0E) ++
      "Exif".getBytes ++ bytes(0, 0) ++ "XX".getBytes ++ bytes(0, 0, 0, 0) ++ sof2
    val rBad = graft.functions.ImageHeader.compute(badTiff)
    assert(rBad.getUTF8String(0).toString === "jpeg" && rBad.isNullAt(4))
  }

  test("image_header: truncated streams degrade, never read past the buffer") {
    // JPEG ending in a fill-byte run (the marker scan must stop, not index b(n))
    val fillTail = bytes(0xFF, 0xD8, 0xFF, 0xFF, 0xFF, 0xFF)
    val r = graft.functions.ImageHeader.compute(fillTail)
    assert(r.getUTF8String(0).toString === "jpeg" && r.isNullAt(1) && r.isNullAt(2))
    // segment whose declared length runs past the end
    val overLen = bytes(0xFF, 0xD8, 0xFF, 0xE0, 0x7F, 0xFF, 0x00)
    val r2 = graft.functions.ImageHeader.compute(overLen)
    assert(r2.getUTF8String(0).toString === "jpeg" && r2.isNullAt(1))
    assert(graft.functions.ImageHeader.compute(Array.empty[Byte])
      .getUTF8String(0).toString === "unknown")
  }

  // real 44-byte canonical WAV header: PCM, stereo, 44100 Hz, 16-bit,
  // byteRate = 44100*2*2 = 176400 (0x02B110), then a data chunk declaring
  // 352800 bytes (= exactly 2000 ms) with a truncated payload
  private def le16b(v: Int) = bytes(v & 0xFF, (v >> 8) & 0xFF)
  private def le32b(v: Long) = bytes((v & 0xFF).toInt, ((v >> 8) & 0xFF).toInt,
    ((v >> 16) & 0xFF).toInt, ((v >> 24) & 0xFF).toInt)
  private val wav = "RIFF".getBytes ++ le32b(352836L) ++ "WAVE".getBytes ++
    "fmt ".getBytes ++ le32b(16L) ++
    le16b(1) ++ le16b(2) ++ le32b(44100L) ++ le32b(176400L) ++
    le16b(4) ++ le16b(16) ++
    "data".getBytes ++ le32b(352800L) ++ bytes(0, 0, 0, 0)

  test("wav_header parses real RIFF/WAVE chunks and degrades honestly") {
    val r = graft.functions.WavHeader.compute(wav)
    assert(r.getUTF8String(0).toString === "wav")
    assert(r.getInt(1) === 2 && r.getInt(2) === 44100 && r.getInt(3) === 16)
    assert(r.getLong(4) === 352800L, "data size is the DECLARED size")
    assert(r.getLong(5) === 2000L, "duration = dataBytes*1000/byteRate, exact")

    // an odd-sized LIST chunk before fmt must be skipped with its pad byte
    val padded = "RIFF".getBytes ++ le32b(100L) ++ "WAVE".getBytes ++
      "LIST".getBytes ++ le32b(3L) ++ bytes(1, 2, 3, 0) ++ // 3 + 1 pad
      wav.drop(12)
    val r2 = graft.functions.WavHeader.compute(padded)
    assert(r2.getInt(2) === 44100 && r2.getLong(5) === 2000L,
      "odd chunk not word-aligned-skipped")

    // RIFF/WAVE magic with no parseable chunks: format kept, all null
    val bare = "RIFF".getBytes ++ le32b(4L) ++ "WAVE".getBytes
    val r3 = graft.functions.WavHeader.compute(bare)
    assert(r3.getUTF8String(0).toString === "wav" &&
      (1 to 5).forall(r3.isNullAt), "bare magic must keep format, null fields")

    // fmt present but no data chunk: duration null, format fields kept
    val noData = wav.take(12 + 8 + 16)
    val r4 = graft.functions.WavHeader.compute(noData)
    assert(r4.getInt(1) === 2 && r4.isNullAt(4) && r4.isNullAt(5))

    // a chunk whose declared size overruns the buffer ends the walk
    val overrun = "RIFF".getBytes ++ le32b(100L) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32b(0x7FFFFFFFL) ++ bytes(1, 2)
    val r5 = graft.functions.WavHeader.compute(overrun)
    assert(r5.getUTF8String(0).toString === "wav" && r5.isNullAt(1))

    // unsigned sample-rate field past Int.MaxValue: corrupt ⇒ null, not
    // a wrapped negative
    val hugeRate = "RIFF".getBytes ++ le32b(36L) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32b(16L) ++
      le16b(1) ++ le16b(2) ++ le32b(0x80000000L) ++ le32b(176400L) ++
      le16b(4) ++ le16b(16)
    val r6w = graft.functions.WavHeader.compute(hugeRate)
    assert(r6w.getInt(1) === 2 && r6w.isNullAt(2),
      "overflowing sample rate must degrade to null")

    assert(graft.functions.WavHeader.compute("plain prose".getBytes)
      .getUTF8String(0).toString === "unknown")
    assert(graft.functions.WavHeader.compute(Array.empty[Byte])
      .getUTF8String(0).toString === "unknown")
  }

  // real ISO-BMFF prefix (ISO/IEC 14496-12): ftyp(isom) then moov/mvhd
  private def be32b(v: Long) = bytes(((v >> 24) & 0xFF).toInt,
    ((v >> 16) & 0xFF).toInt, ((v >> 8) & 0xFF).toInt, (v & 0xFF).toInt)
  private def be64b(v: Long) = be32b(v >>> 32) ++ be32b(v & 0xFFFFFFFFL)
  private val ftyp = be32b(16L) ++ "ftyp".getBytes ++ "isom".getBytes ++ be32b(0x200L)
  // mvhd v0: version/flags, creation, modification, timescale 600,
  // duration 3600 units = exactly 6000 ms
  private val mvhdV0 = be32b(28L) ++ "mvhd".getBytes ++ bytes(0, 0, 0, 0) ++
    be32b(0L) ++ be32b(0L) ++ be32b(600L) ++ be32b(3600L)
  private val mp4V0 = ftyp ++ (be32b(36L) ++ "moov".getBytes ++ mvhdV0)

  test("mp4_header parses real ISO-BMFF boxes and degrades honestly") {
    val r = graft.functions.Mp4Header.compute(mp4V0)
    assert(r.getUTF8String(0).toString === "mp4")
    assert(r.getUTF8String(1).toString === "isom")
    assert(r.getInt(2) === 600 && r.getLong(3) === 3600L)
    assert(r.getLong(4) === 6000L, "duration = units*1000/timescale, exact")

    // v1 mvhd (64-bit creation/modification/duration) behind a free box,
    // inside a moov declared via 64-bit largesize (size==1)
    val mvhdV1 = be32b(40L) ++ "mvhd".getBytes ++ bytes(1, 0, 0, 0) ++
      be64b(0L) ++ be64b(0L) ++ be32b(90000L) ++ be64b(123456789L)
    val free = be32b(12L) ++ "free".getBytes ++ bytes(0, 0, 0, 0)
    val moovPayload = free ++ mvhdV1
    val moovLarge = be32b(1L) ++ "moov".getBytes ++
      be64b(16L + moovPayload.length) ++ moovPayload
    val r2 = graft.functions.Mp4Header.compute(ftyp ++ moovLarge)
    assert(r2.getInt(2) === 90000 && r2.getLong(3) === 123456789L)
    assert(r2.getLong(4) === 123456789L * 1000L / 90000L,
      "v1 64-bit duration in exact long floor arithmetic")

    // ftyp magic with a non-printable brand byte: format kept, brand null
    val oddBrand = be32b(16L) ++ "ftyp".getBytes ++
      bytes(0x01, 'a', 'b', 'c') ++ be32b(0L)
    val r3 = graft.functions.Mp4Header.compute(oddBrand)
    assert(r3.getUTF8String(0).toString === "mp4" && r3.isNullAt(1))

    // moov whose declared extent overruns the buffer ends the walk:
    // format kept, fields null ("a corrupt mp4" beats "unknown")
    val overrun = ftyp ++ be32b(0x7FFFFFFFL) ++ "moov".getBytes ++ bytes(1, 2)
    val r4 = graft.functions.Mp4Header.compute(overrun)
    assert(r4.getUTF8String(0).toString === "mp4" && r4.isNullAt(2) && r4.isNullAt(4))

    // mvhd truncated below its v0 fixed fields: fields stay null
    val shortMvhd = ftyp ++ (be32b(24L) ++ "moov".getBytes ++
      (be32b(16L) ++ "mvhd".getBytes ++ bytes(0, 0, 0, 0) ++ be32b(0L)))
    val r5 = graft.functions.Mp4Header.compute(shortMvhd)
    assert(r5.getUTF8String(0).toString === "mp4" && r5.isNullAt(2))

    assert(graft.functions.Mp4Header.compute("plain prose, no boxes".getBytes)
      .getUTF8String(0).toString === "unknown")
    assert(graft.functions.Mp4Header.compute(Array.empty[Byte])
      .getUTF8String(0).toString === "unknown")
    // 'ftyp' at offset 4 but fewer than 12 bytes: too short to classify
    assert(graft.functions.Mp4Header.compute(be32b(16L) ++ "ftypis".getBytes)
      .getUTF8String(0).toString === "unknown")
  }

  // real NPY v1.0 header exactly as numpy writes it: magic, version,
  // uint16-LE header length, space-padded newline-terminated dict
  private def npyV1(dict: String): Array[Byte] = {
    val base = 6 + 2 + 2
    val padded = {
      val total = ((base + dict.length + 1 + 63) / 64) * 64
      dict + (" " * (total - base - dict.length - 1)) + "\n"
    }
    bytes(0x93) ++ "NUMPY".getBytes ++ bytes(1, 0) ++
      le16b(padded.length) ++ padded.getBytes("ISO-8859-1")
  }

  test("npy_header parses real NPY v1/v2 headers and degrades honestly") {
    val r = graft.functions.NpyHeader.compute(
      npyV1("{'descr': '<f4', 'fortran_order': False, 'shape': (3, 4), }"))
    assert(r.getUTF8String(0).toString === "npy")
    assert(r.getUTF8String(1).toString === "1.0")
    assert(r.getUTF8String(2).toString === "<f4")
    assert(r.getBoolean(3) === false)
    assert(r.getArray(4).toLongArray().toSeq === Seq(3L, 4L))
    assert(r.getLong(5) === 12L)

    // fortran order + 1-d trailing-comma tuple
    val r2 = graft.functions.NpyHeader.compute(
      npyV1("{'descr': '<i8', 'fortran_order': True, 'shape': (7,), }"))
    assert(r2.getBoolean(3) === true)
    assert(r2.getArray(4).toLongArray().toSeq === Seq(7L))
    assert(r2.getLong(5) === 7L)

    // 0-d scalar: shape (), one element
    val r3 = graft.functions.NpyHeader.compute(
      npyV1("{'descr': '<f8', 'fortran_order': False, 'shape': (), }"))
    assert(r3.getArray(4).numElements() === 0 && r3.getLong(5) === 1L)

    // v2.0: uint32-LE header length
    val dict = "{'descr': '|u1', 'fortran_order': False, 'shape': (5, 6), }"
    val padded = dict + " " * (64 - ((12 + dict.length + 1) % 64)) + "\n"
    val v2 = bytes(0x93) ++ "NUMPY".getBytes ++ bytes(2, 0) ++
      le32b(padded.length.toLong) ++ padded.getBytes("ISO-8859-1")
    val r4 = graft.functions.NpyHeader.compute(v2)
    assert(r4.getUTF8String(1).toString === "2.0")
    assert(r4.getUTF8String(2).toString === "|u1" && r4.getLong(5) === 30L)

    // valid magic, header length overrunning the buffer: npy + nulls
    val trunc = bytes(0x93) ++ "NUMPY".getBytes ++ bytes(1, 0) ++ le16b(4096)
    val r5 = graft.functions.NpyHeader.compute(trunc)
    assert(r5.getUTF8String(0).toString === "npy" && r5.isNullAt(2) && r5.isNullAt(5))

    assert(graft.functions.NpyHeader.compute("prose, not a tensor".getBytes)
      .getUTF8String(0).toString === "unknown")
    assert(graft.functions.NpyHeader.compute(Array.empty[Byte])
      .getUTF8String(0).toString === "unknown")
  }

  // real USTAR header block exactly as tar writes it: name(100),
  // mode/uid/gid, size(12, octal), mtime, checksum, typeflag(156),
  // magic `ustar\0` + version at 257
  private def tarHeader(name: String, size: Long, typeflag: Char): Array[Byte] = {
    val h = new Array[Byte](512)
    name.getBytes("ISO-8859-1").copyToArray(h, 0)
    ("%011o".format(size) + "\u0000").getBytes.copyToArray(h, 124)
    h(156) = typeflag.toByte
    "ustar\u000000".getBytes("ISO-8859-1").copyToArray(h, 257)
    h
  }
  private def tarPadded(content: Array[Byte]): Array[Byte] =
    content ++ new Array[Byte](((content.length + 511) / 512) * 512 - content.length)

  test("tar_members walks real USTAR blocks and degrades honestly") {
    // WebDataset-shaped shard: 000123.jpg (700 B), 000123.txt (10 B),
    // a directory member, then the two-zero-block terminator
    val tar = tarHeader("000123.jpg", 700L, '0') ++ tarPadded(new Array[Byte](700)) ++
      tarHeader("000123.txt", 10L, '0') ++ tarPadded("hello tar!".getBytes) ++
      tarHeader("samples/", 0L, '5') ++
      new Array[Byte](1024)
    val r = graft.functions.TarMembers.compute(tar)
    assert(r.getUTF8String(0).toString === "tar")
    assert(r.getInt(1) === 3, "members = 2 files + 1 dir")
    assert(r.getInt(2) === 2, "regular files only")
    assert(r.getLong(3) === 710L, "payload sums DECLARED sizes")
    assert(r.getUTF8String(4).toString === "000123.jpg")

    // corrupt second header: counts stop at the corruption, format kept
    val corrupt = tarHeader("a.bin", 512L, '0') ++ tarPadded(new Array[Byte](512)) ++
      Array.fill[Byte](512)('x')
    val r2 = graft.functions.TarMembers.compute(corrupt)
    assert(r2.getUTF8String(0).toString === "tar" && r2.getInt(1) === 1)

    // a member whose payload extent overruns the buffer ends the walk
    // but still counts the member it declared
    val overrun = tarHeader("big.bin", 1L << 20, '0') ++ new Array[Byte](512)
    val r3 = graft.functions.TarMembers.compute(overrun)
    assert(r3.getUTF8String(0).toString === "tar" && r3.getInt(1) === 1)
    assert(r3.getLong(3) === (1L << 20))

    assert(graft.functions.TarMembers.compute("plain prose".getBytes)
      .getUTF8String(0).toString === "unknown")
    // 511 bytes cannot hold one header block
    assert(graft.functions.TarMembers.compute(new Array[Byte](511))
      .getUTF8String(0).toString === "unknown")
  }

  test("image_header channel table follows the PNG color types") {
    val colorTypes = Seq(0 -> 1, 2 -> 3, 3 -> 1, 4 -> 2, 6 -> 4)
    colorTypes.foreach { case (ct, want) =>
      val p = bytes(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
        bytes(0, 0, 0, 13) ++ "IHDR".getBytes ++
        bytes(0, 0, 0, 1, 0, 0, 0, 1, 8, ct, 0, 0, 0)
      val r = graft.functions.ImageHeader.compute(p)
      assert(r.getInt(3) === want, s"colorType $ct")
    }
  }

  test("mm2 golden pixels: a real PNG decodes to exact dimensions, channels, and pixel digest") {
    import spark.implicits._
    // Craft a real 3×2 PNG with known colors through ImageIO itself,
    // then require decodeAssets to (a) flag it decoded, (b) report the
    // true geometry, and (c) reproduce the md5 of the known ARGB stream —
    // proof the pixel payload was materialized, not just the header.
    val colors = Array(
      Array(0xFF0000, 0x00FF00, 0x0000FF),
      Array(0xFFFFFF, 0x000000, 0x123456))
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3) img.setRGB(x, y, colors(y)(x))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val md = java.security.MessageDigest.getInstance("MD5")
    for (y <- 0 until 2; x <- 0 until 3) {
      val argb = 0xFF000000 | colors(y)(x) // TYPE_INT_RGB reads back opaque
      md.update((argb >>> 24).toByte); md.update((argb >>> 16).toByte)
      md.update((argb >>> 8).toByte); md.update(argb.toByte)
    }
    val goldenMd5 = md.digest().map("%02x".format(_)).mkString

    val rows = graft.operators.Multimodal.decodeAssets(
        Seq((1L, png), (2L, "plain prose payload".getBytes("UTF-8")))
          .toDF("doc_id", "text"))
      .collect().map(m => m.doc_id -> m).toMap
    val p = rows(1L)
    assert(p.decoded && p.width === 3 && p.height === 2 && p.channels === 3)
    assert(p.pixel_md5 === goldenMd5)
    val s = rows(2L)
    assert(!s.decoded && s.pixel_md5 == null)
    assert(s.width === (s.byte_len % 64 + 16) && s.channels === 3)
  }

  test("mm2 golden pixels: a real baseline JPEG decodes through the same seam; a truncated GIF degrades to the stub") {
    import spark.implicits._
    // Craft a real 5×3 JPEG through ImageIO. JPEG is lossy and its
    // decode is NOT bit-exact across decoder implementations, so the
    // golden digest is derived by round-tripping the SAME bytes through
    // this JVM's reader with the SAME ARGB walk decodeAssets uses — the
    // assertion is that the seam materialized the true pixel stream
    // (not the stub), with exact geometry and channel count.
    val img = new java.awt.image.BufferedImage(5, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 3; x <- 0 until 5)
      img.setRGB(x, y, (x * 40 + y) << 16 | (y * 60) << 8 | (x * 30 + 128))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jpeg = bos.toByteArray
    assert(jpeg(0) == 0xFF.toByte && jpeg(1) == 0xD8.toByte,
      "crafted payload must be a real JPEG")
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(jpeg))
    val md = java.security.MessageDigest.getInstance("MD5")
    for (y <- 0 until back.getHeight; x <- 0 until back.getWidth) {
      val argb = back.getRGB(x, y)
      md.update((argb >>> 24).toByte); md.update((argb >>> 16).toByte)
      md.update((argb >>> 8).toByte); md.update(argb.toByte)
    }
    val goldenMd5 = md.digest().map("%02x".format(_)).mkString

    // a GIF header with no image data: the magic routes it into the
    // decode attempt, ImageIO rejects it, and it must land in the stub
    // branch — degrade honestly, never kill the task
    val gif = Array[Byte](
      'G', 'I', 'F', '8', '7', 'a', 1, 0, 1, 0, 0x00.toByte, 0, 0)

    val rows = graft.operators.Multimodal.decodeAssets(
        Seq((1L, jpeg), (2L, gif)).toDF("doc_id", "text"))
      .collect().map(m => m.doc_id -> m).toMap
    val j = rows(1L)
    assert(j.decoded, "baseline JPEG must take the real-decode branch")
    assert(j.width === 5 && j.height === 3 && j.channels === 3)
    assert(j.pixel_md5 === goldenMd5)
    val g = rows(2L)
    assert(!g.decoded && g.pixel_md5 == null,
      "a truncated GIF must degrade to the stub branch")
  }

  test("mm2 golden pixels: real GIFs decode — exact palette colors, and transparency survives the seam") {
    import spark.implicits._
    // Opaque palette GIF: 8×8 on a 3-color palette written through
    // ImageIO itself (8×8, not smaller: the JDK GIF writer corrupts
    // rows of very small images — a 4×2 loses its second row on
    // round-trip, probed on JDK 17). GIF is lossless, so the golden
    // digest is computed from the EXPECTED colors (the PNG-style strong
    // assertion), not a round-trip.
    val pal = Array(0xFF0000, 0x00CC33, 0x0000FF)
    val icm = new java.awt.image.IndexColorModel(8, 3,
      pal.map(c => ((c >> 16) & 0xFF).toByte),
      pal.map(c => ((c >> 8) & 0xFF).toByte),
      pal.map(c => (c & 0xFF).toByte))
    def palIdx(x: Int, y: Int): Int = (x + 2 * y) % 3
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (y <- 0 until 8; x <- 0 until 8)
      img.getRaster.setSample(x, y, 0, palIdx(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", bos)
    val gif = bos.toByteArray
    assert(gif.take(4).map(_.toChar).mkString === "GIF8",
      "crafted payload must be a real GIF")
    val md = java.security.MessageDigest.getInstance("MD5")
    for (y <- 0 until 8; x <- 0 until 8) {
      val argb = 0xFF000000 | pal(palIdx(x, y))
      md.update((argb >>> 24).toByte); md.update((argb >>> 16).toByte)
      md.update((argb >>> 8).toByte); md.update(argb.toByte)
    }
    val goldenMd5 = md.digest().map("%02x".format(_)).mkString

    // Transparency GIF: 8×4 with palette index 0 transparent. The
    // golden digest round-trips the same bytes through this JVM's
    // reader (palette order inside the file is writer-defined), and a
    // known transparent pixel is asserted alpha = 0 directly — proof
    // the transparency channel was materialized, not flattened.
    val ticm = new java.awt.image.IndexColorModel(8, 3,
      pal.map(c => ((c >> 16) & 0xFF).toByte),
      pal.map(c => ((c >> 8) & 0xFF).toByte),
      pal.map(c => (c & 0xFF).toByte), 0)
    val timg = new java.awt.image.BufferedImage(8, 4,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, ticm)
    for (y <- 0 until 4; x <- 0 until 8)
      timg.getRaster.setSample(x, y, 0, if (x == 0 && y == 0) 0 else 1 + (x + y) % 2)
    val tbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(timg, "gif", tbos)
    val tgif = tbos.toByteArray
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(tgif))
    assert((back.getRGB(0, 0) >>> 24) === 0,
      "the crafted GIF's transparent pixel must read back alpha 0")
    md.reset()
    for (y <- 0 until back.getHeight; x <- 0 until back.getWidth) {
      val argb = back.getRGB(x, y)
      md.update((argb >>> 24).toByte); md.update((argb >>> 16).toByte)
      md.update((argb >>> 8).toByte); md.update(argb.toByte)
    }
    val tGoldenMd5 = md.digest().map("%02x".format(_)).mkString

    val rows = graft.operators.Multimodal.decodeAssets(
        Seq((1L, gif), (2L, tgif),
          (3L, "plain prose payload".getBytes("UTF-8")))
          .toDF("doc_id", "text"))
      .collect().map(m => m.doc_id -> m).toMap
    val p = rows(1L)
    assert(p.decoded, "a real palette GIF must take the decode branch")
    assert(p.width === 8 && p.height === 8 && p.channels === 3)
    assert(p.pixel_md5 === goldenMd5)
    val t = rows(2L)
    assert(t.decoded, "a transparency GIF must take the decode branch")
    assert(t.width === 8 && t.height === 4 && t.channels === 4,
      "the transparent palette must surface as 4 components")
    assert(t.pixel_md5 === tGoldenMd5)
    val s = rows(3L)
    assert(!s.decoded && s.pixel_md5 == null)
  }

  test("mm10 reconcile: planted zero-byte, truncated, and orphan assets surface with the right status") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("mm10fuzz").toFile
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath, bytes)
    put("a_ok.bin", "payload".getBytes("UTF-8"))          // 7 bytes, listed
    put("b_empty.bin", Array.empty[Byte])                 // zero-byte: listing drops it
    put("c_trunc.bin", "pay".getBytes("UTF-8"))           // 3 bytes vs manifest 7
    put("d_orphan.bin", "x".getBytes("UTF-8"))            // no manifest row
    val manifest = {
      val sp = spark; import sp.implicits._
      Seq(("a_ok.bin", 7L), ("b_empty.bin", 0L), ("c_trunc.bin", 7L))
        .toDF("file_name", "manifest_bytes")
    }
    val scan = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(dir.getAbsolutePath)
    val got = graft.operators.Multimodal.assetReconcile(manifest, scan).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(got("a_ok.bin") === "ok")
    assert(got("b_empty.bin") === "missing_from_scan",
      "the zero-byte asset Spark's listing drops must surface via the manifest")
    assert(got("c_trunc.bin") === "size_mismatch")
    assert(got("d_orphan.bin") === "unexpected_in_scan")
    assert(got.size === 4)
    graft.sources.Staging.deleteRecursively(dir)
  }

  test("mm10 registry query: staged fixture reconciles all-ok at the staged asset count") {
    val rows = graft.operators.Multimodal.assetReconcileQ(spark, sf001).collect()
    assert(rows.length === graft.sources.Tables.Os2AssetCount)
    assert(rows.forall(_.getString(3) == "ok"))
    assert(rows.forall(r => r.getLong(1) == r.getLong(2)))
  }

  test("mm11: assembly surfaces exactly the planted incomplete samples; payload hash-gates the staged bytes; an orphan part reads incomplete") {
    import graft.sources.Tables
    val rows = graft.operators.Multimodal.sampleAssemblyQ(spark, sf001).collect()
    assert(rows.length === Tables.Mm11SampleCount)
    val docs = Tables.documents(spark, sf001)
      .filter(col("doc_id") < Tables.Mm11SampleCount)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      val dropCls = id % Tables.Mm11ClsDropMod == Tables.Mm11ClsDropRem
      val dropJson = id % Tables.Mm11JsonDropMod == Tables.Mm11JsonDropRem
      val expectExts = (Seq("txt") ++ (if (dropCls) Nil else Seq("cls")) ++
        (if (dropJson) Nil else Seq("json"))).sorted.mkString(",")
      assert(r.getString(2) === expectExts, s"sample $id inventory")
      assert(r.getLong(1) === expectExts.split(",").length.toLong)
      assert(r.getBoolean(5) === !dropJson, s"sample $id completeness")
      // the payload fingerprint ties the staged bytes to the source row
      val md = java.security.MessageDigest.getInstance("MD5")
      val expectMd5 = md.digest(docs(id).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getString(3) === expectMd5, s"sample $id payload md5")
    }
    // both planted classes actually occur in the fixture window
    assert(rows.exists(!_.getBoolean(5)), "a json-dropped sample must exist")
    assert(rows.exists(_.getString(2) == "json,txt"), "a cls-dropped sample must exist")
    // an orphan part (metadata with no payload) must read incomplete,
    // never crash the assembly — built on a scratch store
    val dir = java.nio.file.Files.createTempDirectory("mm11orphan").toFile
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/sample_00000.json"), "{}".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/sample_00001.txt"), "hello".getBytes("UTF-8"))
    val scratch = spark.read.format("binaryFile")
      .option("pathGlobFilter", "sample_*").load(dir.getAbsolutePath)
    val got = graft.operators.Multimodal.sampleAssembly(scratch).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(5))).toMap
    assert(got(0L) === (("json", false)), "orphan metadata: incomplete, no txt")
    assert(got(1L) === (("txt", false)), "payload without metadata: incomplete")
  }

  test("mm12: tar-path assembly equals the un-tarred path row-for-row and is map-only before the sort") {
    import graft.sources.Tables
    val viaStore = graft.operators.Multimodal.sampleAssemblyQ(spark, sf001)
      .collect().map(_.toSeq).toSeq
    val viaTar = graft.operators.Multimodal.tarAssemblyQ(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(viaTar === viaStore,
      "the tarred shard must assemble to the identical verdict table")
    // the 100 TB claim: the tar path replaces mm11's stem-group shuffle —
    // no exchange before the output sort (explode + expression are narrow)
    val p = graft.operators.Multimodal.tarAssemblyQ(spark, sf001)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 1 && !p.contains("hashpartitioning"),
      s"tar assembly must be map-only pre-sort (no hash exchange):\n$p")
    // tamper: a duplicate stem with a CONFLICTING extra part inside the
    // tar must surface in the inventory, never silently dedup — built on
    // a scratch shard via the same staging writer rules
    val dir = java.nio.file.Files.createTempDirectory("mm12dup").toFile
    def hdr(name: String, size: Int): Array[Byte] = {
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit = {
        val b = s.getBytes("UTF-8"); System.arraycopy(b, 0, h, off, b.length)
      }
      put(0, name); put(100, "0000644\u0000"); put(108, "0000000\u0000")
      put(116, "0000000\u0000"); put(124, f"$size%011o\u0000")
      put(136, "00000000000\u0000"); put(148, "        ")
      h(156) = '0'; put(257, "ustar\u000000")
      val sum = h.foldLeft(0L)((a, b) => a + (b & 0xFF))
      put(148, f"$sum%06o\u0000 ")
      h
    }
    val out = new java.io.ByteArrayOutputStream()
    def member(name: String, payload: String): Unit = {
      val b = payload.getBytes("UTF-8")
      out.write(hdr(name, b.length)); out.write(b)
      out.write(new Array[Byte]((512 - b.length % 512) % 512))
    }
    member("sample_00000.txt", "first payload")
    member("sample_00000.json", "{}")
    member("sample_00000.txt", "second conflicting payload")  // dup stem+ext
    out.write(new Array[Byte](1024))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/shard0.tar"), out.toByteArray)
    val scratch = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tar").load(dir.getAbsolutePath)
    val rows = scratch.selectExpr("explode(tar_samples(content)) AS s")
      .selectExpr("s.stem", "s.n_parts", "s.exts", "s.txt_md5", "s.txt_bytes")
      .collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getLong(1) === 3L, "the conflicting duplicate part must COUNT")
    assert(r.getString(2) === "json,txt", "inventory is the distinct ext set")
    // max-tie rule mirrors the un-tarred aggregation's max(when(...))
    val md = java.security.MessageDigest.getInstance("MD5")
    def m5(s: String) =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getString(3) === Seq(m5("first payload"),
      m5("second conflicting payload")).max, "txt_md5 keeps the max")
    assert(r.getLong(4) === "second conflicting payload".length.toLong)
    graft.sources.Staging.deleteRecursively(dir)
    // the staged registry shard stays stamp-guarded: a second call must
    // not re-tar (byte-stable staging)
    val tarRoot = new java.io.File(s"${sys.props("user.dir")}/target/wdtar/sf0.001")
    val tarFile = new java.io.File(graft.sources.ManifestStore.snapDir(tarRoot,
      graft.sources.ManifestStore.currentPointer(tarRoot).get._1), "shard0.tar")
    val mtime = tarFile.lastModified()
    Tables.wdTarShard(spark, sf001).count()
    assert(tarFile.lastModified() === mtime, "stamp-guarded tar staging re-wrote")
  }

  test("tar_samples returns NULL for PAX/GNU-longname shards instead of a plausible partial set") {
    // A PAX extended header ('x') carries the REAL (possibly >100-char)
    // name of the member after it; assembling members against truncated
    // USTAR header names could silently mis-group stems. r15 stopped the
    // walk and emitted the samples BEFORE the stop — a plausible partial
    // set nothing marked as partial (r15 advisor). The whole shard is
    // out of scope: the result is NULL, the explicit out-of-scope
    // signal the mm12 consumer converts to raise_error.
    val pax = tarHeader("ok.txt", 5L, '0') ++ tarPadded("hello".getBytes) ++
      tarHeader("PaxHeaders.0/long", 30L, 'x') ++ tarPadded(new Array[Byte](30)) ++
      tarHeader("truncated-name.txt", 4L, '0') ++ tarPadded("oops".getBytes) ++
      new Array[Byte](1024)
    assert(graft.functions.TarSamples.compute(pax) === null,
      "a shard with a PAX member is NULL as a whole — even the pre-stop samples")
    // every name-carrying extension typeflag marks the shard out-of-scope
    Seq('x', 'g', 'L', 'K').foreach { tf =>
      val shard = tarHeader("ext-member", 0L, tf) ++
        tarHeader("b.txt", 1L, '0') ++ tarPadded("x".getBytes) ++
        new Array[Byte](1024)
      assert(graft.functions.TarSamples.compute(shard) === null,
        s"typeflag '$tf' must make the whole shard NULL")
    }
    // plain non-file members ('5' dir, '2' symlink) still SKIP, not stop
    val withDir = tarHeader("samples/", 0L, '5') ++
      tarHeader("c.txt", 2L, '0') ++ tarPadded("cc".getBytes) ++
      new Array[Byte](1024)
    assert(graft.functions.TarSamples.compute(withDir).numElements() === 1)
    // and the QUERY-level posture: a PAX shard in the scan fails the mm12
    // assembly loudly (raise_error naming the shard), never thins output
    val dir = java.nio.file.Files.createTempDirectory("paxshard").toFile
    try {
      java.nio.file.Files.write(new java.io.File(dir, "bad.tar").toPath, pax)
      val df = spark.read.format("binaryFile").option("pathGlobFilter", "*.tar")
        .load(dir.getAbsolutePath)
        .select(org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.call_function("tar_samples",
              org.apache.spark.sql.functions.col("content")),
            org.apache.spark.sql.functions.raise_error(
              org.apache.spark.sql.functions.concat(
                org.apache.spark.sql.functions.lit("tar_samples: out-of-scope PAX/GNU shard "),
                org.apache.spark.sql.functions.col("path"))))))
      val e = intercept[Throwable](df.collect())
      val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("out-of-scope PAX/GNU shard"), chain)
    } finally graft.sources.Staging.deleteRecursively(dir)
  }

  test("tar_samples zero-arg SQL call is a named contract error, not a bare NoSuchElement") {
    val e = intercept[Throwable](spark.sql("SELECT tar_samples()").collect())
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" | ")
    assert(chain.contains("tar_samples expects exactly 1 argument"), chain)
    assert(!chain.contains("NoSuchElementException"), chain)
  }

  test("mm13: shard plan equals the naive cumsum, packs whole samples, and byte totals match the real staged files") {
    import graft.sources.Tables
    val rows = graft.operators.Multimodal.shardPlanQ(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === Tables.Mm11SampleCount)
    // n_bytes is the REAL staged store's per-sample file-size sum
    val root = new java.io.File(
      s"${sys.props("user.dir")}/target/wdsamples/sf0.001/shard0")
    val dir = graft.sources.ManifestStore.snapDir(root,
      graft.sources.ManifestStore.currentPointer(root).get._1)
    val real = dir.listFiles().filter(_.getName.startsWith("sample_"))
      .groupBy(f => f.getName.split("\\.")(0).split("_")(1).toLong)
      .view.mapValues(_.map(_.length).sum).toMap
    rows.foreach { case (id, b, _) =>
      assert(b === real(id), s"sample $id staged bytes")
    }
    // the naive replay: exclusive cumsum in id order, div budget
    var cum = 0L
    rows.sortBy(_._1).foreach { case (id, b, shard) =>
      assert(shard === cum / graft.operators.Multimodal.Mm13ShardBudget,
        s"sample $id shard assignment")
      cum += b
    }
    // whole-sample packing: shard ids are non-decreasing and contiguous
    val shards = rows.sortBy(_._1).map(_._3)
    assert(shards.zip(shards.tail).forall { case (a, b) => b == a || b == a + 1 },
      "shard ids must be non-decreasing and gap-free in sample order")
  }

  // ------------------------------------------------------------- mm14

  /** Scala reference of PHash60.compute — independent arithmetic (double
    * means instead of cross-multiplication) so an integer-math slip in
    * the expression can't hide behind testing it against itself.
    */
  private def refPhash(b: Array[Byte]): Option[Long] = {
    val L = b.length
    if (L < 60) return None
    val segs = Array.fill(60)(scala.collection.mutable.ArrayBuffer.empty[Int])
    b.zipWithIndex.foreach { case (x, j) => segs((j.toLong * 60 / L).toInt) += (x & 0xFF) }
    val all = b.map(_ & 0xFF)
    val mean = all.sum.toDouble / L
    var sig = 0L
    (0 until 60).foreach { s =>
      if (segs(s).sum.toDouble / segs(s).size > mean) sig |= 1L << s
    }
    Some(sig)
  }

  test("phash60: matches the independent reference on random payloads; null under 60 bytes") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val payloads = (0 until 50).map { i =>
      (i.toLong, Array.fill(60 + rnd.nextInt(500))(rnd.nextInt(256).toByte))
    }
    val got = payloads.toDF("id", "bin")
      .selectExpr("id", "phash60(bin) AS sig")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    payloads.foreach { case (id, b) =>
      assert(got(id) === refPhash(b).get, s"payload $id")
    }
    val short = Seq((1L, Array.fill(59)(7.toByte))).toDF("id", "bin")
      .selectExpr("phash60(bin) AS sig").collect()
    assert(short.head.isNullAt(0), "under-60-byte payload must carry no signature")
  }

  test("mm14: banded pairs are EXACTLY the radius-3 pairs (brute force), small perturbations land inside") {
    import spark.implicits._
    // base payloads with strong segment structure (ramps), plus copies
    // with one byte tweaked — the re-encoded-near-copy class
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(200 + rnd.nextInt(100))(j => ((i * 37 + j * 3) % 256).toByte))
    }
    val tweaked = base.take(20).map { case (i, b) =>
      val c = b.clone(); c(5) = (c(5) + 40).toByte; (i + 1000L, c)
    }
    val docs = (base ++ tweaked)
      .map { case (i, b) => (i, new String(b.map(x => ((x & 0x3F) + 48).toChar))) }
      .toDF("doc_id", "text") // printable-ASCII payloads: 1 char = 1 byte
    val pairs = graft.operators.Multimodal.phashNearDups(docs)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same signatures
    val sigs = docs.selectExpr("doc_id", "phash60(cast(text AS BINARY)) AS sig")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(brute.nonEmpty, "fixture must contain near-dups")
    assert(pairs === brute,
      s"missed=${(brute -- pairs).size} extra=${(pairs -- brute).size} of ${brute.size}")
  }

  /** The capability mm14 is NAMED for (r18 verdict item 2): a genuinely
    * RE-ENCODED copy — same pixels, different container ⇒ different
    * bytes, different md5 — must land within the Hamming radius, and a
    * different picture must not. The perceptual path decodes via the
    * same deterministic ImageIO readers as mm2 and hashes the luma
    * plane, so both encodings of one picture share the signature
    * exactly (Hamming 0); the byte-stream compute (what the SQL oracle
    * twins) would put them in unrelated buckets.
    */
  test("mm14: a re-encoded copy (PNG vs BMP, same pixels) pairs at Hamming 0; a different image does not") {
    import spark.implicits._
    def gradientImage(invert: Boolean): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        24, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 24) {
        val v = if (invert) 230 - y * 10 else y * 10
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val png = encode(gradientImage(invert = false), "png")
    val bmp = encode(gradientImage(invert = false), "bmp")
    val other = encode(gradientImage(invert = true), "png")
    assert(!java.util.Arrays.equals(png, bmp),
      "re-encode must change the bytes (different md5) or the test is vacuous")

    // the decode branch really engaged: perceptual signatures of the two
    // encodings agree, and differ from the byte-stream signature
    val sigs = Seq((1L, png), (2L, bmp), (3L, other)).toDF("doc_id", "text")
      .selectExpr("doc_id", "phash60p(text) AS p", "phash60(text) AS raw")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sigs(1L)._1 === sigs(2L)._1, "same pixels must share the perceptual signature")
    assert(sigs(1L)._1 !== sigs(1L)._2,
      "perceptual signature must come from decoded luma, not the compressed bytes")
    assert(java.lang.Long.bitCount(sigs(1L)._1 ^ sigs(3L)._1) > 3,
      "a different picture must sit outside the radius")

    // end-to-end through the operator: exactly the (png, bmp) pair
    val pairs = graft.operators.Multimodal.phashNearDups(
        Seq((1L, png), (2L, bmp), (3L, other)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0L)),
      s"expected exactly the re-encoded pair at Hamming 0, got ${pairs.mkString(", ")}")

    // undecodable payloads fall back to the byte-stream compute exactly
    val prose = ("the quick brown fox jumps over the lazy dog, " * 4).getBytes("UTF-8")
    val fb = Seq((1L, prose)).toDF("doc_id", "text")
      .selectExpr("phash60p(text) AS p", "phash60(text) AS raw").head()
    assert(fb.getLong(0) === fb.getLong(1),
      "non-image payloads must hash identically to the oracle-twinned byte path")
  }

  test("mm14: identical-payload megacluster emits the capped hub-and-spoke star") {
    import spark.implicits._
    val n = 100 // > Dd5MaxBucket = 64
    val docs = (0L until n).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta " * 3))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Multimodal.phashNearDups(docs).collect()
    assert(pairs.length === n - 1, s"expected the ${n - 1}-spoke star, got ${pairs.length}")
    assert(pairs.forall(r => r.getLong(0) == 0L && r.getLong(2) == 0L))
  }
}
