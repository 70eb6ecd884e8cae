package graft.raster

import graft.SparkSpec
import java.nio.{ByteBuffer, ByteOrder}

/** PlanarConfiguration = 2 (tag 284): each band's samples live in
  * separate plane tiles. Our Tile is band-major, so planes decode
  * straight into place (round 9) — this spec hand-builds a classic
  * little-endian planar TIFF and pins exact pixels through the DSv2
  * source (and CogReader.read, which runs on it), plus the loud
  * rejections that remain. */
class PlanarTiffSpec extends SparkSpec {

  /** 16×16, 2 bands, uint8, uncompressed, ONE 16×16 tile per plane.
    * `strayRps` adds a RowsPerStrip tag to the TILED page — some
    * writers emit one redundantly; the page is still tile-organized. */
  private def buildPlanarTiff(strayRps: Boolean = false): (String, Array[Byte], Array[Byte]) = {
    val n = 256
    val plane0 = Array.tabulate[Byte](n)(i => (i % 251).toByte)
    val plane1 = Array.tabulate[Byte](n)(i => ((i * 3) % 251).toByte)
    val ifdOff = 8 + 2 * n
    val nEntries = if (strayRps) 13 else 12
    val ifdLen = 2 + nEntries * 12 + 4
    val extOffsets = ifdOff + ifdLen        // TileOffsets payload (2 LONGs)
    val extCounts = extOffsets + 8          // TileByteCounts payload
    val b = ByteBuffer.allocate(extCounts + 8).order(ByteOrder.LITTLE_ENDIAN)
    b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOff)
    b.put(plane0).put(plane1)
    b.putShort(nEntries.toShort)
    def entry(tag: Int, typ: Int, count: Int)(value: ByteBuffer => Unit): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      val before = b.position()
      value(b)
      while (b.position() < before + 4) b.put(0.toByte)
    }
    entry(256, 3, 1)(_.putShort(16))          // ImageWidth
    entry(257, 3, 1)(_.putShort(16))          // ImageLength
    entry(258, 3, 2)(x => { x.putShort(8); x.putShort(8) }) // BitsPerSample
    entry(259, 3, 1)(_.putShort(1))           // Compression: none
    entry(262, 3, 1)(_.putShort(1))           // Photometric
    entry(277, 3, 1)(_.putShort(2))           // SamplesPerPixel
    if (strayRps)
      entry(278, 3, 1)(_.putShort(16))        // stray RowsPerStrip on a TILED page
    entry(284, 3, 1)(_.putShort(2))           // PlanarConfiguration = 2
    entry(322, 3, 1)(_.putShort(16))          // TileWidth
    entry(323, 3, 1)(_.putShort(16))          // TileLength
    entry(324, 4, 2)(_.putInt(extOffsets))    // TileOffsets (external)
    entry(325, 4, 2)(_.putInt(extCounts))     // TileByteCounts (external)
    entry(339, 3, 2)(x => { x.putShort(1); x.putShort(1) }) // SampleFormat
    b.putInt(0)                               // next IFD
    b.putInt(8).putInt(8 + n)                 // plane offsets
    b.putInt(n).putInt(n)                     // plane byte counts
    val dir = java.nio.file.Files.createTempDirectory("graft-planar").toString
    val f = java.nio.file.Paths.get(dir, "planar.tif")
    java.nio.file.Files.write(f, b.array())
    ("file://" + f, plane0, plane1)
  }

  test("planar tiled TIFF decodes band-major through the DSv2 source") {
    val (uri, plane0, plane1) = buildPlanarTiff()
    val rows = spark.read.format("cog").load(uri).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getInt(0) == 0 && r.getInt(3) == 16 && r.getInt(4) == 16)
    val px = r.getSeq[Double](5)
    assert(px.length == 512)
    for (i <- 0 until 256) {
      assert(px(i) == (plane0(i) & 0xFF).toDouble, s"band0 px $i")
      assert(px(256 + i) == (plane1(i) & 0xFF).toDouble, s"band1 px $i")
    }
    // metadata agg still pushes (planar planning = same spatial grid)
    import org.apache.spark.sql.functions._
    val agg = spark.read.format("cog").load(uri).agg(count(lit(1)))
    assert(agg.collect().head.getLong(0) == 1L)
  }

  test("tiled planar with a stray RowsPerStrip tag still decodes (gate keys on layout, not rps)") {
    val (uri, plane0, plane1) = buildPlanarTiff(strayRps = true)
    val rows = spark.read.format("cog").load(uri).collect()
    assert(rows.length == 1)
    val px = rows.head.getSeq[Double](5)
    assert(px.length == 512)
    for (i <- 0 until 256) {
      assert(px(i) == (plane0(i) & 0xFF).toDouble, s"band0 px $i")
      assert(px(256 + i) == (plane1(i) & 0xFF).toDouble, s"band1 px $i")
    }
  }

  /** 16×16, 3 bands (RGB), uint8, TILED planar JPEG (compression 7):
    * each plane tile is an independent grayscale JPEG stream.
    * `photometric` lets the YCbCr (=6) rejection case reuse the
    * builder. */
  private def buildPlanarJpegTiff(photometric: Int): (String, Seq[Int]) = {
    val vals = Seq(100, 200, 50)
    val jpegs = vals.map(v =>
      TileCodec.jpegEncode(Array.fill[Byte](256)(v.toByte), 16, 16, 90, 1))
    val ifdOff = 8 + jpegs.map(_.length).sum
    val nEntries = 12
    val ifdLen = 2 + nEntries * 12 + 4
    val extBits = ifdOff + ifdLen              // BitsPerSample (3 SHORTs)
    val extSf = extBits + 6                    // SampleFormat (3 SHORTs)
    val extOffsets = extSf + 6                 // TileOffsets (3 LONGs)
    val extCounts = extOffsets + 12            // TileByteCounts (3 LONGs)
    val b = ByteBuffer.allocate(extCounts + 12).order(ByteOrder.LITTLE_ENDIAN)
    b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOff)
    jpegs.foreach(b.put)
    b.putShort(nEntries.toShort)
    def entry(tag: Int, typ: Int, count: Int)(value: ByteBuffer => Unit): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      val before = b.position()
      value(b)
      while (b.position() < before + 4) b.put(0.toByte)
    }
    entry(256, 3, 1)(_.putShort(16))
    entry(257, 3, 1)(_.putShort(16))
    entry(258, 3, 3)(_.putInt(extBits))       // BitsPerSample (external)
    entry(259, 3, 1)(_.putShort(7))           // Compression: JPEG
    entry(262, 3, 1)(_.putShort(photometric.toShort))
    entry(277, 3, 1)(_.putShort(3))
    entry(284, 3, 1)(_.putShort(2))           // PlanarConfiguration = 2
    entry(322, 3, 1)(_.putShort(16))
    entry(323, 3, 1)(_.putShort(16))
    entry(324, 4, 3)(_.putInt(extOffsets))
    entry(325, 4, 3)(_.putInt(extCounts))
    entry(339, 3, 3)(_.putInt(extSf))         // SampleFormat (external)
    b.putInt(0)
    b.putShort(8).putShort(8).putShort(8)     // BitsPerSample payload
    b.putShort(1).putShort(1).putShort(1)     // SampleFormat payload
    var off = 8
    for (j <- jpegs) { b.putInt(off); off += j.length }
    jpegs.foreach(j => b.putInt(j.length))
    val dir = java.nio.file.Files.createTempDirectory("graft-pjpeg").toString
    val f = java.nio.file.Paths.get(dir, "planar-jpeg.tif")
    java.nio.file.Files.write(f, b.array())
    ("file://" + f, vals)
  }

  test("tiled planar RGB JPEG decodes per plane; planar YCbCr jpeg refuses") {
    val (uri, vals) = buildPlanarJpegTiff(photometric = 2)
    val rows = spark.read.format("cog").load(uri).collect()
    assert(rows.length == 1)
    val px = rows.head.getSeq[Double](5)
    assert(px.length == 768)
    // uniform planes are DC-only JPEG: decode within ±2 of the value
    for ((v, bnd) <- vals.zipWithIndex; i <- 0 until 256)
      assert(math.abs(px(bnd * 256 + i) - v) <= 2.0,
        s"band $bnd px $i = ${px(bnd * 256 + i)}")
    // planar YCbCr jpeg needs a cross-plane conversion no per-plane
    // decode can do — still refused loudly
    val (uri6, _) = buildPlanarJpegTiff(photometric = 6)
    val ex = intercept[IllegalArgumentException](
      spark.read.format("cog").load(uri6).collect())
    assert(ex.getMessage.contains("YCbCr"), ex.getMessage)
  }

  /** 8×8, 2 bands, uint8, uncompressed, STRIP-organized planar:
    * RowsPerStrip 4 → 2 strips per plane, offsets holding plane 0's
    * strips then plane 1's (TIFF 6.0 §14). `truncatedOffsets` declares
    * only plane 0's strips (a corrupt file the layout check must
    * catch); `sparsePlane1` zeroes plane 1's offsets/counts (the
    * sparse-plane convention — decode fills nodata). */
  private def buildStripedPlanarTiff(truncatedOffsets: Boolean = false,
      sparsePlane1: Boolean = false): (String, Array[Byte], Array[Byte]) = {
    val n = 64 // 8x8 per plane
    val plane0 = Array.tabulate[Byte](n)(i => (i * 7 % 251).toByte)
    val plane1 = Array.tabulate[Byte](n)(i => ((i * 11 + 3) % 251).toByte)
    val nStripEntries = if (truncatedOffsets) 2 else 4
    val ifdOff = 8 + 2 * n
    val nEntries = 11
    val ifdLen = 2 + nEntries * 12 + 4
    val extOffsets = ifdOff + ifdLen
    val extCounts = extOffsets + 4 * nStripEntries
    val b = ByteBuffer.allocate(extCounts + 4 * nStripEntries)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOff)
    b.put(plane0).put(plane1)
    b.putShort(nEntries.toShort)
    def entry(tag: Int, typ: Int, count: Int)(value: ByteBuffer => Unit): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      val before = b.position()
      value(b)
      while (b.position() < before + 4) b.put(0.toByte)
    }
    entry(256, 3, 1)(_.putShort(8))           // ImageWidth
    entry(257, 3, 1)(_.putShort(8))           // ImageLength
    entry(258, 3, 2)(x => { x.putShort(8); x.putShort(8) }) // BitsPerSample
    entry(259, 3, 1)(_.putShort(1))           // Compression: none
    entry(262, 3, 1)(_.putShort(1))           // Photometric
    entry(273, 4, nStripEntries)(_.putInt(extOffsets)) // StripOffsets (external)
    entry(277, 3, 1)(_.putShort(2))           // SamplesPerPixel
    entry(278, 3, 1)(_.putShort(4))           // RowsPerStrip
    entry(279, 4, nStripEntries)(_.putInt(extCounts)) // StripByteCounts (external)
    entry(284, 3, 1)(_.putShort(2))           // PlanarConfiguration = 2
    entry(339, 3, 2)(x => { x.putShort(1); x.putShort(1) }) // SampleFormat
    b.putInt(0)                               // next IFD
    // plane 0 strips (rows 0-3, 4-7), then plane 1 strips
    b.putInt(8).putInt(8 + 32)
    if (!truncatedOffsets) {
      if (sparsePlane1) b.putInt(0).putInt(0)
      else b.putInt(8 + 64).putInt(8 + 96)
    }
    b.putInt(32).putInt(32)
    if (!truncatedOffsets) {
      if (sparsePlane1) b.putInt(0).putInt(0)
      else b.putInt(32).putInt(32)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-splanar").toString
    val f = java.nio.file.Paths.get(dir, "striped-planar.tif")
    java.nio.file.Files.write(f, b.array())
    ("file://" + f, plane0, plane1)
  }

  test("striped planar TIFF decodes band-major through DSv2 and readStrips") {
    val (uri, plane0, plane1) = buildStripedPlanarTiff()
    // DSv2: one row per strip, pixels band-major per strip
    val rows = spark.read.format("cog").load(uri).collect().sortBy(_.getInt(1))
    assert(rows.length == 2)
    for ((r, si) <- rows.zipWithIndex) {
      assert(r.getInt(1) == si && r.getInt(2) == 0 &&
        r.getInt(3) == 4 && r.getInt(4) == 8)
      val px = r.getSeq[Double](5)
      assert(px.length == 64) // 2 bands x 4 rows x 8 cols
      for (i <- 0 until 32) {
        assert(px(i) == (plane0(si * 32 + i) & 0xFF).toDouble,
          s"strip $si band0 px $i")
        assert(px(32 + i) == (plane1(si * 32 + i) & 0xFF).toDouble,
          s"strip $si band1 px $i")
      }
    }
    // library readStrips path: same tiles
    val tiles = CogReader.readStrips(spark, uri).collect().sortBy(_.ty)
    assert(tiles.length == 2)
    for (t <- tiles; i <- 0 until 32) {
      assert(t.pixels(i) == (plane0(t.ty * 32 + i) & 0xFF).toDouble)
      assert(t.pixels(32 + i) == (plane1(t.ty * 32 + i) & 0xFF).toDouble)
    }
  }

  test("strip-layout guards: truncated offsets refuse; sparse plane fills nodata") {
    // a planar file whose StripOffsets only carries plane 0's strips
    // would silently shift plane base offsets — must fail loudly
    val (badUri, _, _) = buildStripedPlanarTiff(truncatedOffsets = true)
    val ex = intercept[IllegalArgumentException](
      CogReader.readStrips(spark, badUri).collect())
    assert(ex.getMessage.contains("strip count"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException](
      spark.read.format("cog").load(badUri).collect())
    assert(ex2.getMessage.contains("strip count"), ex2.getMessage)

    // sparse plane (offset/count 0): band fills with nodata (uint8
    // default 0.0) instead of crashing, matching sparse-tile semantics
    val (sparseUri, plane0, _) = buildStripedPlanarTiff(sparsePlane1 = true)
    val tiles = CogReader.readStrips(spark, sparseUri).collect().sortBy(_.ty)
    assert(tiles.length == 2)
    for (t <- tiles; i <- 0 until 32) {
      assert(t.pixels(i) == (plane0(t.ty * 32 + i) & 0xFF).toDouble)
      assert(t.pixels(32 + i) == 0.0, s"sparse plane strip ${t.ty} px $i")
    }
  }

  test("RowsPerStrip=2^32-1 sentinel (whole image in one strip) decodes") {
    // TIFF 6.0: the default RowsPerStrip is effectively infinity; GDAL
    // and libtiff write 0xFFFFFFFF for single-strip files. A plain
    // .toInt would make it negative and crash the decode.
    val vals = Array.tabulate[Byte](16)(i => (i * 13 % 251).toByte)
    val ifdOff = 8 + 16
    val nEntries = 10
    val b = ByteBuffer.allocate(ifdOff + 2 + nEntries * 12 + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOff)
    b.put(vals)
    b.putShort(nEntries.toShort)
    def entry(tag: Int, typ: Int, count: Int)(value: ByteBuffer => Unit): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      val before = b.position()
      value(b)
      while (b.position() < before + 4) b.put(0.toByte)
    }
    entry(256, 3, 1)(_.putShort(4))           // ImageWidth
    entry(257, 3, 1)(_.putShort(4))           // ImageLength
    entry(258, 3, 1)(_.putShort(8))           // BitsPerSample
    entry(259, 3, 1)(_.putShort(1))           // Compression: none
    entry(262, 3, 1)(_.putShort(1))           // Photometric
    entry(273, 4, 1)(_.putInt(8))             // StripOffsets (inline)
    entry(277, 3, 1)(_.putShort(1))           // SamplesPerPixel
    entry(278, 4, 1)(_.putInt(-1))            // RowsPerStrip = 0xFFFFFFFF
    entry(279, 4, 1)(_.putInt(16))            // StripByteCounts (inline)
    entry(339, 3, 1)(_.putShort(1))           // SampleFormat
    b.putInt(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-sentinel").toString
    val f = java.nio.file.Paths.get(dir, "single-strip.tif")
    java.nio.file.Files.write(f, b.array())
    val uri = "file://" + f
    val tiles = CogReader.readStrips(spark, uri).collect()
    assert(tiles.length == 1 && tiles.head.h == 4 && tiles.head.w == 4)
    for (i <- 0 until 16)
      assert(tiles.head.pixels(i) == (vals(i) & 0xFF).toDouble, s"px $i")
    // DSv2 route too
    val rows = spark.read.format("cog").load(uri).collect()
    assert(rows.length == 1 && rows.head.getInt(3) == 4)
  }

  test("planar YCbCr jpeg is rejected even when only an OVERVIEW page is jpeg") {
    // base level deflate, overview jpeg+photometric 6: the per-page
    // gate must catch the overview (a base-level-only check would not)
    val p0 = BigTiff.PageMeta(width = 32, height = 32, tileW = 16, tileH = 16,
      compression = 8, predictor = 1, bits = 8, sampleFormat = 1,
      subfileType = 0, photometric = 2,
      offsets = Array.fill(12)(8L), counts = Array.fill(12)(10L),
      metadataXml = "", samplesPerPixel = 3, planar = 2)
    val ov = p0.copy(width = 16, height = 16, compression = 7,
      photometric = 6, subfileType = 1L,
      offsets = Array.fill(3)(8L), counts = Array.fill(3)(10L))
    val ex = intercept[IllegalArgumentException](
      CogReader.inferProfile(Seq(p0, ov)))
    assert(ex.getMessage.contains("YCbCr"), ex.getMessage)
  }

  test("CogReader.read on a planar file equals the cog source's rows") {
    val (uri, plane0, _) = buildPlanarTiff()
    val prof = CogReader.inferProfile(CogReader.readMeta(uri, Map.empty))
    val lib = CogReader.read(spark, uri, prof, 0).collect()
    val src = spark.read.format("cog").load(uri).where("level = 0")
      .select("ty", "tx", "h", "w", "pixels", "mask").collect()
    assert(lib.length == 1 && src.length == 1)
    val (t, r) = (lib.head, src.head)
    assert((t.ty, t.tx, t.h, t.w) == (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(t.pixels.toSeq == r.getSeq[Double](4))
    assert(t.mask == null && r.isNullAt(5))
    assert(t.pixels(0) == (plane0(0) & 0xFF).toDouble)
  }
}
