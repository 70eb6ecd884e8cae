package graft.raster

import java.nio.{ByteBuffer, ByteOrder}

/** Pure-Scala BigTIFF header writer — replaces the reference's
  * GDAL-template surgery (reference ccog/ccog.py:103-211): because we
  * own the writer, the header is emitted once with final values instead
  * of building a 1-px template and patching offset arrays into it
  * (SURVEY §7.1 step 4, R22/R26).
  *
  * Structure (little-endian; BigTIFF v43 by default, classic TIFF v42
  * when `profile.bigtiff = false` — GDAL's sub-4 GiB interop default):
  *   file header (16 B big / 8 B classic) → data IFDs
  *   full-resolution-first (TIFF overview convention) → 1-bit
  *   transparency-mask IFDs per level when the profile writes masks
  *   (reference interleaves mask pages, ccog/ccog.py:704-713) →
  *   external arrays (TileOffsets / TileByteCounts, long ASCII values;
  *   classic adds shared BitsPerSample/SampleFormat arrays at 3+ bands
  *   and word-aligns every external area per TIFF 6.0 §2).
  *
  * Crucially `headerLength(profile)` depends only on the grid structure,
  * never on tile contents — so absolute tile offsets can be assigned by
  * the offsets prefix-sum (Offsets) BEFORE the header bytes exist. Tile DATA
  * in the file body is ordered (level desc, ty, tx, page) exactly like
  * the reference's ordered flatten (ccog/ccog.py:665,747; data and mask
  * tiles adjacent per tile, ccog/ccog.py:409-422).
  */
object BigTiff {

  private val TagNewSubfileType = 254
  private val TagImageWidth = 256
  private val TagImageLength = 257
  private val TagBitsPerSample = 258
  private val TagCompression = 259
  private val TagPhotometric = 262
  private val TagSamplesPerPixel = 277
  private val TagPredictor = 317
  private val TagColorMap = 320
  private val TagTileWidth = 322
  private val TagTileLength = 323
  private val TagTileOffsets = 324
  private val TagTileByteCounts = 325
  private val TagExtraSamples = 338
  private val TagSampleFormat = 339
  private val TagYCbCrSubSampling = 530
  private val TagModelPixelScale = 33550
  private val TagModelTiepoint = 33922
  private val TagGeoKeyDirectory = 34735
  private val TagGdalMetadata = 42112
  private val TagGdalNodata = 42113

  private val TypeShort = 3   // 2 B
  private val TypeAscii = 2   // 1 B
  private val TypeLong = 4    // 4 B (classic offsets/counts)
  private val TypeLong8 = 16  // 8 B
  private val TypeDouble = 12 // 8 B

  private val FileHeaderLen = 16L
  private val IfdEntryLen = 20L

  /** The two on-disk layouts the writer emits: BigTIFF v43 (the
    * default — 16-byte file header, 20-byte IFD entries, 8-byte
    * counts/offsets/value slots) and classic TIFF v42 (8-byte header,
    * 12-byte entries, 2-byte IFD counts, 4-byte everything else —
    * GDAL's default for files under 4 GiB, hence the interop mode).
    * Every structural width the header emit needs, in one place, so
    * [[headerLayout]] and [[header]] can never disagree. */
  private final class TiffLayout(val big: Boolean) {
    val fileHeaderLen: Long = if (big) FileHeaderLen else 8L
    val entryLen: Long = if (big) IfdEntryLen else 12L
    val slotLen: Int = if (big) 8 else 4
    val countFieldLen: Long = if (big) 8L else 2L
    val nextPtrLen: Long = if (big) 8L else 4L
    /** Element width of TileOffsets/TileByteCounts arrays. */
    val offElemLen: Int = if (big) 8 else 4
    /** Field type of offset-bearing tags (LONG8 vs LONG). */
    val offType: Int = if (big) TypeLong8 else TypeLong
    def ifdLen(entries: Int): Long =
      countFieldLen + entries * entryLen + nextPtrLen
    /** Classic TIFF requires value offsets on word (2-byte) boundaries
      * (TIFF 6.0 §2); BigTIFF areas stay unpadded (byte-stable with
      * every golden pinned before classic mode existed). */
    def align(cursor: Long): Long =
      if (big) cursor else (cursor + 1L) & ~1L
  }

  /** One IFD page: data or mask, per pyramid level. */
  case class PageSpec(level: Int, isMask: Boolean)

  /** Header page order: data pages by level, then mask pages by level.
    * (Body BYTE order interleaves per tile; header page order is
    * independent — offsets point wherever the bytes are.) */
  def pageSpecs(profile: RasterProfile): Seq[PageSpec] = {
    val data = (0 to profile.maxLevel).map(PageSpec(_, isMask = false))
    if (profile.maskPages) data ++ (0 to profile.maxLevel).map(PageSpec(_, isMask = true))
    else data
  }

  /** data L0: 12 base + GDAL_NODATA + GDAL_METADATA; data L>0: 12 base
    * + NewSubfileType; mask: 10 base + NewSubfileType + SampleFormat
    * (no predictor/nodata/metadata). Palette profiles add a ColorMap
    * entry on every data page (R23, reference ccog/ccog.py:229-235). */
  /** Samples beyond what the page's photometric interpretation
    * accounts for (TIFF 6.0 requires tag 338 to describe them; GDAL
    * writes it, and readers without it GUESS — the JDK reads a 2-band
    * gray file as gray+alpha). Data pages only; palette is single-band
    * by RasterProfile's require. uint8 3/4-band pages are RGB(+extra)
    * — photometric 2 or 6 implies 3 samples — everything else is
    * min-is-black implying 1. */
  private def extraSampleCount(profile: RasterProfile): Int =
    if (profile.colormap.isDefined) 0
    else if (profile.dtype == "uint8" && profile.bands >= 3) profile.bands - 3
    else profile.bands - 1

  /** ExtraSamples values (all 0 = unspecified) exceed the classic
    * 4-byte value slot only at 3 extras (4-band non-uint8), where the
    * shared band arrays are external too — the values then live after
    * them in the same area. */
  private def extraExternal(profile: RasterProfile, lay: TiffLayout): Boolean =
    2 * extraSampleCount(profile) > lay.slotLen

  private def entryCount(profile: RasterProfile, pg: PageSpec): Int = {
    val cm = if (!pg.isMask && profile.colormap.isDefined) 1 else 0
    // 3-band jpeg pages are YCbCr (photometric 6): state the chroma
    // subsampling explicitly instead of leaning on the TIFF default
    // happening to match ImageIO's 4:2:0 (GDAL writes this tag too)
    val yc = if (!pg.isMask && profile.bands == 3 &&
      profile.compressionFor(pg.level) == "jpeg") 1 else 0
    val ex = if (!pg.isMask && extraSampleCount(profile) > 0) 1 else 0
    if (pg.isMask) 12
    else if (pg.level == 0) 14 + cm + yc + ex + (if (profile.geo.isDefined) 3 else 0)
    else 13 + cm + yc + ex
  }

  /** Per-band STATISTICS_* items (reference `_add_stats_to_profile_tags`,
    * ccog/ccog.py:543-555) as the GDAL_METADATA XML blob. Values are
    * FIXED-WIDTH (%+.10e padded to 20) so the blob's length — and with
    * it headerLength — depends only on the band count, never on the
    * data; offsets can therefore be assigned before stats exist. */
  def gdalMetadata(profile: RasterProfile,
      stats: Seq[(Double, Double, Double, Double, Double)]): Array[Byte] = {
    def fmt(v: Double): String = f"$v%+.10e".padTo(20, ' ')
    val names = Seq("STATISTICS_MINIMUM", "STATISTICS_MAXIMUM",
      "STATISTICS_MEAN", "STATISTICS_STDDEV", "STATISTICS_VALID_PERCENT")
    val sb = new StringBuilder("<GDALMetadata>\n")
    for (b <- 0 until profile.bands) {
      val st = if (b < stats.length) stats(b) else (0.0, 0.0, 0.0, 0.0, 0.0)
      val vals = Seq(st._1, st._2, st._3, st._4, st._5)
      // R19: an all-invalid band gets only VALID_PERCENT, like the
      // reference (ccog/ccog.py:547-552) — but headerLength purity
      // requires a data-independent blob length, so the four skipped
      // items are replaced by whitespace of identical width (every item
      // line is the same length: names padded to 24, values to 20).
      val lineLen = {
        val probe = s"""  <Item name="${names.head.padTo(24, ' ')}" sample="$b">${fmt(0.0)}</Item>\n"""
        probe.length
      }
      for ((n, v) <- names.zip(vals)) {
        if (st._5 == 0.0 && n != "STATISTICS_VALID_PERCENT")
          sb ++= (" " * (lineLen - 1)) + "\n"
        else
          sb ++= s"""  <Item name="${n.padTo(24, ' ')}" sample="$b">${fmt(v)}</Item>\n"""
      }
      // R23 band metadata: profile constants, so no fixed-width needed
      // (headerLength is a function of the profile, which carries them)
      if (profile.bandMeta.nonEmpty) {
        val bm = profile.bandMeta(b)
        def esc(v: String): String = v.replace("&", "&amp;")
          .replace("<", "&lt;").replace(">", "&gt;")
        if (bm.description.nonEmpty)
          sb ++= s"""  <Item name="DESCRIPTION" sample="$b" role="description">${esc(bm.description)}</Item>\n"""
        if (bm.unit.nonEmpty)
          sb ++= s"""  <Item name="UNITTYPE" sample="$b" role="unittype">${esc(bm.unit)}</Item>\n"""
        if (bm.scale != 1.0)
          sb ++= s"""  <Item name="SCALE" sample="$b" role="scale">${bm.scale}</Item>\n"""
        if (bm.offset != 0.0)
          sb ++= s"""  <Item name="OFFSET" sample="$b" role="offset">${bm.offset}</Item>\n"""
        if (bm.colorinterp.nonEmpty)
          sb ++= s"""  <Item name="COLORINTERP" sample="$b" role="colorinterp">${esc(bm.colorinterp)}</Item>\n"""
      }
    }
    sb ++= "</GDALMetadata>\n\u0000" // TIFF ASCII NUL terminator
    sb.toString.getBytes("US-ASCII")
  }

  private def gdalMetadataLen(profile: RasterProfile): Long =
    gdalMetadata(profile, Seq.empty).length.toLong

  /** External bytes of the geo tags: ModelPixelScale 3 doubles +
    * ModelTiepoint 6 doubles + GeoKeyDirectory 16 shorts. */
  private def geoExternalBytes(profile: RasterProfile): Long =
    if (profile.geo.isDefined) 3 * 8L + 6 * 8L + 16 * 2L else 0L

  /** External bytes of the ColorMap tag: 3×256 SHORTs (R, G then B
    * plane), shared by every data page's entry. */
  private def colorMapBytes(profile: RasterProfile): Long =
    if (profile.colormap.isDefined) 3 * 256 * 2L else 0L

  /** The ColorMap tag payload: 256 reds, 256 greens, 256 blues as
    * 16-bit values — 8-bit components scaled ×257 (the GDAL
    * convention); unlisted indices are 0 (black). */
  private def colorMapShorts(profile: RasterProfile): Array[Int] = {
    val cm = profile.colormap.getOrElse(Map.empty)
    val out = new Array[Int](3 * 256)
    cm.foreach { case (i, (r, g, b)) =>
      out(i) = r * 257
      out(256 + i) = g * 257
      out(512 + i) = b * 257
    }
    out
  }

  /** GDAL ghost area: structural-metadata text directly after the
    * 16-byte file header (public GDAL COG layout; reference manipulates
    * it at ccog/ccog.py:238-258). */
  def ghostBlock(profile: RasterProfile): Array[Byte] =
    if (!profile.ghost) Array.emptyByteArray
    else {
      val body = "LAYOUT=IFDS_BEFORE_DATA\n" +
        "BLOCK_ORDER=ROW_MAJOR\n" +
        "BLOCK_LEADER=SIZE_AS_UINT4\n" +
        "BLOCK_TRAILER=LAST_4_BYTES_REPEATED\n" +
        "KNOWN_INCOMPATIBLE_EDITION=NO\n " + // trailing space: GDAL's in-place YES slot
        (if (profile.maskPages) "MASK_INTERLEAVED_WITH_IMAGERY=YES\n" else "")
      (f"GDAL_STRUCTURAL_METADATA_SIZE=${body.length}%06d bytes\n" + body)
        .getBytes("US-ASCII")
    }

  private def nodataAscii(profile: RasterProfile): Array[Byte] = {
    val s =
      if (profile.nodata == math.floor(profile.nodata) && !profile.nodata.isInfinite)
        profile.nodata.toLong.toString
      else profile.nodata.toString
    // TIFF ASCII values are NUL-terminated (GDAL writes GDAL_NODATA
    // the same way); a space terminator confuses strict readers
    (s + "\u0000").getBytes("US-ASCII")
  }

  /** External bytes needed by a page's offset/count arrays (0 when the
    * single value fits inline in the entry's value slot). */
  private def externalArrayBytes(profile: RasterProfile, pg: PageSpec,
      lay: TiffLayout): Long = {
    val n = profile.tilesPerLevel(pg.level).toLong
    if (n > 1) 2L * lay.offElemLen * n else 0L
  }

  /** External bytes of the shared BitsPerSample + SampleFormat SHORT
    * arrays: 0 when `bands` values fit the entry's value slot (always,
    * in BigTIFF's 8-byte slot, for the supported 1..4 bands; classic's
    * 4-byte slot holds only 2), else one copy of each array shared by
    * every data page. */
  private def bandArrayBytes(profile: RasterProfile, lay: TiffLayout): Long = {
    val shared = if (2 * profile.bands > lay.slotLen) 2L * 2 * profile.bands else 0L
    val ex = if (extraExternal(profile, lay)) 2L * extraSampleCount(profile) else 0L
    shared + ex
  }

  /** Where every IFD and external area lands, plus the total length —
    * ONE cursor walk shared by [[headerLength]] and [[header]] so the
    * two can never disagree. Pure function of the profile. */
  private final case class HeaderLayout(lay: TiffLayout,
      ifdOffset: Array[Long], ndOffset: Long, mdOffset: Long,
      geoScaleOffset: Long, geoTieOffset: Long, geoKeyOffset: Long,
      colorMapOffset: Long, bandArrOffset: Long, arrOffset: Array[Long],
      total: Long)

  private def headerLayout(profile: RasterProfile): HeaderLayout = {
    val lay = new TiffLayout(profile.bigtiff)
    val pages = pageSpecs(profile)
    val nd = nodataAscii(profile)
    var cursor = lay.align(lay.fileHeaderLen + ghostBlock(profile).length)
    val ifdOffset = new Array[Long](pages.length)
    for (p <- pages.indices) {
      ifdOffset(p) = cursor
      cursor += lay.ifdLen(entryCount(profile, pages(p)))
    }
    cursor = lay.align(cursor)
    val ndOffset = cursor
    if (nd.length > lay.slotLen) cursor += nd.length
    cursor = lay.align(cursor)
    val mdOffset = cursor
    cursor += gdalMetadataLen(profile)
    cursor = lay.align(cursor)
    val geoScaleOffset = cursor
    val geoTieOffset = geoScaleOffset + (if (profile.geo.isDefined) 24 else 0)
    val geoKeyOffset = geoTieOffset + (if (profile.geo.isDefined) 48 else 0)
    cursor += geoExternalBytes(profile)
    val colorMapOffset = cursor
    cursor += colorMapBytes(profile)
    val bandArrOffset = cursor
    cursor += bandArrayBytes(profile, lay)
    val arrOffset = new Array[Long](pages.length)
    for (p <- pages.indices) {
      arrOffset(p) = cursor
      cursor += externalArrayBytes(profile, pages(p), lay)
    }
    HeaderLayout(lay, ifdOffset, ndOffset, mdOffset, geoScaleOffset,
      geoTieOffset, geoKeyOffset, colorMapOffset, bandArrOffset, arrOffset,
      cursor)
  }

  /** Total header length — file header + IFDs + external areas. Pure
    * function of the profile: computable before any tile is encoded. */
  def headerLength(profile: RasterProfile): Long = headerLayout(profile).total

  /** Emit the complete header. `offsets(p)`/`counts(p)` index
    * [[pageSpecs]] order; each array is the page's tiles in row-major
    * (ty,tx) order; sparse tiles carry (0,0) per the reference
    * (ccog/ccog.py:443,754). */
  def header(profile: RasterProfile,
      offsets: Seq[Array[Long]], counts: Seq[Array[Long]],
      stats: Seq[(Double, Double, Double, Double, Double)] = Seq.empty): Array[Byte] = {
    val pages = pageSpecs(profile)
    require(offsets.length == pages.length && counts.length == pages.length)
    val total = headerLength(profile)
    require(total <= Int.MaxValue, "header too large for in-memory emit")
    val buf = ByteBuffer.allocate(total.toInt).order(ByteOrder.LITTLE_ENDIAN)
    val (bits, sampleFormat, _) = TileCodec.dtypes(profile.dtype)
    // 8 = adobe deflate, 7 = new-style JPEG, 5 = LZW, 32773 = PackBits,
    // 50000 = ZSTD (GDAL extension), 1 = none; masks always deflate;
    // overview pages may carry the R16 codec override
    def compressionCode(level: Int): Int = profile.compressionFor(level) match {
      case "deflate" => 8
      case "jpeg" => 7
      case "lzw" => 5
      case "zstd" => 50000
      case "packbits" => 32773
      case _ => 1
    }
    val nd = nodataAscii(profile)

    // ---- layout: where each IFD and external area lands (shared
    // cursor walk with headerLength, so the two cannot disagree)
    val hl = headerLayout(profile)
    val lay = hl.lay
    import hl.{ifdOffset, ndOffset, mdOffset, geoScaleOffset, geoTieOffset,
      geoKeyOffset, colorMapOffset, bandArrOffset, arrOffset}
    val ghost = ghostBlock(profile)
    val md = gdalMetadata(profile, stats)
    require(hl.total == total)

    // classic TIFF addresses are unsigned 32-bit: REFUSE a file whose
    // body would push any tile past 4 GiB instead of silently wrapping
    // the offsets (GDAL errors the same way without BIGTIFF=YES). The
    // bound is on STORED offsets (<= 0xFFFFFFFF); the exclusive end may
    // reach exactly 2^32 — a file whose last byte sits at offset 2^32-1
    // is still addressable.
    if (!lay.big) {
      var maxOff = 0L
      var maxEnd = total
      for (p <- pages.indices; i <- offsets(p).indices) {
        maxOff = math.max(maxOff, offsets(p)(i))
        maxEnd = math.max(maxEnd, offsets(p)(i) + counts(p)(i))
      }
      require(maxOff <= 0xFFFFFFFFL && maxEnd <= 0x100000000L,
        f"classic TIFF (bigtiff=false) cannot address $maxEnd%d bytes — " +
          "the 4 GiB offset limit would be exceeded; write with bigtiff=true")
    }

    // ---- file header
    buf.putShort(0x4949.toShort)   // "II"
    if (lay.big) {
      buf.putShort(43)             // BigTIFF
      buf.putShort(8)              // offset size
      buf.putShort(0)
      buf.putLong(ifdOffset(0))
    } else {
      buf.putShort(42)             // classic TIFF
      buf.putInt(ifdOffset(0).toInt)
    }
    if (ghost.nonEmpty) { buf.position(lay.fileHeaderLen.toInt); buf.put(ghost) }

    // ---- IFDs (tags strictly ascending within each IFD)
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      buf.putShort(tag.toShort)
      buf.putShort(typ.toShort)
      if (lay.big) { buf.putLong(count); buf.putLong(value) }
      else { buf.putInt(count.toInt); buf.putInt(value.toInt) }
    }
    for (p <- pages.indices) {
      val pg = pages(p)
      val l = pg.level
      buf.position(ifdOffset(p).toInt)
      val (w, h) = profile.levelDims(l)
      val n = profile.tilesPerLevel(l).toLong
      if (lay.big) buf.putLong(entryCount(profile, pg).toLong)
      else buf.putShort(entryCount(profile, pg).toShort)
      if (pg.isMask)
        // 4 = transparency mask; +1 reduced-resolution for overviews
        entry(TagNewSubfileType, lay.offType, 1, if (l > 0) 5 else 4)
      else if (l > 0)
        entry(TagNewSubfileType, lay.offType, 1, 1) // reduced-res page
      entry(TagImageWidth, lay.offType, 1, w)
      entry(TagImageLength, lay.offType, 1, h)
      if (pg.isMask) entry(TagBitsPerSample, TypeShort, 1, 1)
      else if (2 * profile.bands <= lay.slotLen) {
        // count = bands: the SHORT values pack inline into the value slot
        var packed = 0L
        for (b <- 0 until profile.bands) packed |= bits.toLong << (16 * b)
        entry(TagBitsPerSample, TypeShort, profile.bands, packed)
      } else
        // classic 4-byte slot holds only 2 SHORTs: point at the shared
        // external array (one copy serves every data page)
        entry(TagBitsPerSample, TypeShort, profile.bands, bandArrOffset)
      entry(TagCompression, TypeShort, 1, if (pg.isMask) 8 else compressionCode(l))
      // photometric: 4 = transparency mask, 3 = palette, 6 = YCbCr
      // (what the JDK's JFIF encoder emits for 3-band jpeg), 2 = RGB
      // for uint8 color imagery (GDAL's default for 3/4-band Byte —
      // photometric 1 here would make GDAL show Gray+Undefined bands),
      // 1 = gray
      val photometric =
        if (pg.isMask) 4
        else if (profile.colormap.isDefined) 3
        else if (profile.compressionFor(l) == "jpeg" && profile.bands == 3) 6
        else if (profile.dtype == "uint8" && profile.bands >= 3) 2
        else 1
      entry(TagPhotometric, TypeShort, 1, photometric)
      entry(TagSamplesPerPixel, TypeShort, 1, if (pg.isMask) 1 else profile.bands)
      if (!pg.isMask)
        // predictor 2 is only APPLIED under deflate/lzw (TileCodec
        // gates it the same way); claiming it for none/jpeg would make
        // strictly tag-honoring readers undo differencing that never
        // happened
        entry(TagPredictor, TypeShort, 1,
          if (TileCodec.predictorCodecs(profile.compressionFor(l)))
            profile.effectivePredictor
          else 1)
      if (!pg.isMask && profile.colormap.isDefined)
        entry(TagColorMap, TypeShort, 3 * 256, colorMapOffset)
      entry(TagTileWidth, TypeShort, 1, profile.blockSize)
      entry(TagTileLength, TypeShort, 1, profile.blockSize)
      if (n > 1) {
        entry(TagTileOffsets, lay.offType, n, arrOffset(p))
        entry(TagTileByteCounts, lay.offType, n, arrOffset(p) + lay.offElemLen * n)
      } else {
        entry(TagTileOffsets, lay.offType, 1, offsets(p)(0))
        entry(TagTileByteCounts, lay.offType, 1, counts(p)(0))
      }
      val extra = if (pg.isMask) 0 else extraSampleCount(profile)
      if (extra > 0) {
        // all-zero values (unspecified, GDAL's default for bands it
        // has no interpretation for) pack inline as zeros when they fit
        if (!extraExternal(profile, lay)) entry(TagExtraSamples, TypeShort, extra, 0L)
        else entry(TagExtraSamples, TypeShort, extra,
          bandArrOffset + 2L * 2 * profile.bands)
      }
      if (pg.isMask) entry(TagSampleFormat, TypeShort, 1, 1)
      else if (2 * profile.bands <= lay.slotLen) {
        var packedSf = 0L
        for (b <- 0 until profile.bands) packedSf |= sampleFormat.toLong << (16 * b)
        entry(TagSampleFormat, TypeShort, profile.bands, packedSf)
      } else
        entry(TagSampleFormat, TypeShort, profile.bands,
          bandArrOffset + 2 * profile.bands)
      if (!pg.isMask && profile.bands == 3 && profile.compressionFor(l) == "jpeg")
        // (2,2) = 4:2:0, what the JDK's JFIF encoder emits (asserted
        // against the stream's SOF0 sampling factors in JpegSpec)
        entry(TagYCbCrSubSampling, TypeShort, 2, 2L | (2L << 16))
      if (!pg.isMask && l == 0) {
        profile.geo.foreach { _ =>
          entry(TagModelPixelScale, TypeDouble, 3, geoScaleOffset)
          entry(TagModelTiepoint, TypeDouble, 6, geoTieOffset)
          entry(TagGeoKeyDirectory, TypeShort, 16, geoKeyOffset)
        }
        entry(TagGdalMetadata, TypeAscii, md.length, mdOffset)
        if (nd.length > lay.slotLen)
          entry(TagGdalNodata, TypeAscii, nd.length, ndOffset)
        else {
          // inline ASCII: value slot holds the bytes
          buf.putShort(TagGdalNodata.toShort)
          buf.putShort(TypeAscii.toShort)
          if (lay.big) buf.putLong(nd.length.toLong)
          else buf.putInt(nd.length)
          val slot = new Array[Byte](lay.slotLen)
          System.arraycopy(nd, 0, slot, 0, nd.length)
          buf.put(slot)
        }
      }
      val next = if (p + 1 < pages.length) ifdOffset(p + 1) else 0L
      if (lay.big) buf.putLong(next) else buf.putInt(next.toInt) // next IFD
    }

    // ---- external areas
    if (nd.length > lay.slotLen) { buf.position(ndOffset.toInt); buf.put(nd) }
    buf.position(mdOffset.toInt); buf.put(md)
    profile.geo.foreach { g =>
      buf.position(geoScaleOffset.toInt)
      buf.putDouble(g.pixelW); buf.putDouble(g.pixelH); buf.putDouble(0.0)
      buf.position(geoTieOffset.toInt)
      // tiepoint: raster (0,0,0) -> model (originX, originY, 0)
      buf.putDouble(0.0); buf.putDouble(0.0); buf.putDouble(0.0)
      buf.putDouble(g.originX); buf.putDouble(g.originY); buf.putDouble(0.0)
      buf.position(geoKeyOffset.toInt)
      // GeoKeyDirectory v1.1.0, 3 keys: model type, raster type
      // (PixelIsArea), CRS code in the matching geographic/projected key
      val modelType = if (g.isGeographic) 2 else 1
      val crsKey = if (g.isGeographic) 2048 else 3072
      val shorts = Array[Int](1, 1, 0, 3,
        1024, 0, 1, modelType,
        1025, 0, 1, 1,
        crsKey, 0, 1, g.epsg)
      shorts.foreach(s => buf.putShort(s.toShort))
    }
    if (profile.colormap.isDefined) {
      buf.position(colorMapOffset.toInt)
      colorMapShorts(profile).foreach(s => buf.putShort(s.toShort))
    }
    if (bandArrayBytes(profile, lay) > 0) {
      buf.position(bandArrOffset.toInt)
      if (2 * profile.bands > lay.slotLen) {
        for (_ <- 0 until profile.bands) buf.putShort(bits.toShort)
        for (_ <- 0 until profile.bands) buf.putShort(sampleFormat.toShort)
      }
      if (extraExternal(profile, lay))
        for (_ <- 0 until extraSampleCount(profile)) buf.putShort(0)
    }
    for (p <- pages.indices; if profile.tilesPerLevel(pages(p).level) > 1) {
      buf.position(arrOffset(p).toInt)
      if (lay.big) {
        offsets(p).foreach(buf.putLong)
        counts(p).foreach(buf.putLong)
      } else {
        offsets(p).foreach(o => buf.putInt(o.toInt))
        counts(p).foreach(c => buf.putInt(c.toInt))
      }
    }
    buf.array()
  }

  // ------------------------------------------------------------------
  // Minimal reader — enough to decode-and-compare our own files (tests;
  // the analog of the reference reading its temp TIFFs back,
  // ccog/ccog.py:404-422).

  case class PageMeta(width: Long, height: Long, tileW: Int, tileH: Int,
      compression: Int, predictor: Int, bits: Int, sampleFormat: Int,
      subfileType: Long, photometric: Int,
      offsets: Array[Long], counts: Array[Long], metadataXml: String,
      pixelScale: Array[Double] = Array.empty,
      tiepoint: Array[Double] = Array.empty,
      geoKeys: Array[Int] = Array.empty,
      /** ColorMap tag payload: 3×256 16-bit values (R,G,B planes);
        * empty when the page has no palette. */
      colorMap: Array[Int] = Array.empty,
      /** YCbCrSubSampling (horiz, vert); empty when absent. */
      ycbcrSubsampling: Array[Int] = Array.empty,
      /** SamplesPerPixel (band count); 1 when absent. */
      samplesPerPixel: Int = 1,
      /** GDAL_NODATA value string (NUL/space stripped); "" when absent. */
      nodataAscii: String = "",
      /** RowsPerStrip for STRIP-organized (non-tiled) pages — GDAL's
        * default layout for plain (non-COG) TIFFs. 0 = tiled; when
        * > 0, `offsets`/`counts` hold the strip arrays instead. */
      rowsPerStrip: Long = 0,
      /** JPEGTables tag (347) payload: shared DQT/DHT tables for
        * abbreviated per-tile streams — what GDAL writes for jpeg
        * COGs. Empty = tiles are self-contained JFIF. */
      jpegTables: Array[Byte] = Array.empty,
      /** File declared "MM" byte order: multi-byte SAMPLE data needs a
        * byte-swap at decode (header values already decoded). */
      bigEndian: Boolean = false,
      /** PlanarConfiguration (tag 284): 1 = chunky (interleaved
        * samples, what our writer emits), 2 = planar — each band's
        * samples in separate tiles, `offsets`/`counts` holding
        * samplesPerPixel consecutive plane arrays (TIFF 6.0 §14). */
      planar: Int = 1,
      /** ExtraSamples (tag 338): one value per sample beyond the
        * photometric's count (0 = unspecified, 1/2 = alpha); empty
        * when absent. Decode treats all bands alike either way — the
        * tag is surfaced for structural tests and callers. */
      extraSamples: Array[Int] = Array.empty) {
    def isMask: Boolean = (subfileType & 4L) != 0
    def isStriped: Boolean = tileW == 0 && rowsPerStrip > 0
    /** Spatial tiles per plane: the full array length for chunky pages,
      * length / bands for planar ones. */
    def tilesPerPlane: Int =
      if (planar == 2 && offsets != null) offsets.length / samplesPerPixel
      else if (offsets != null) offsets.length
      else 0
  }

  /** Parse the IFD chain of a little-endian TIFF — BigTIFF (magic 43,
    * what CogWriter emits) OR classic TIFF (magic 42, what GDAL writes
    * by default for files under 4 GiB — the most common foreign COG).
    * Entry decoding is TYPE-aware (element size + inline-vs-external by
    * payload vs value-slot width), so SHORT TileByteCounts, LONG
    * offsets, external BitsPerSample arrays etc. all read correctly in
    * both layouts. Both byte orders parse ("II" and "MM" — header
    * numerics follow the declared order); note multi-byte SAMPLE data
    * in an MM file needs the byte-swap decode flag
    * ([[PageMeta.bigEndian]] → profile), wired by inferProfile. */
  /** Raised when an IFD or external tag payload lies beyond the probed
    * header bytes — a legal TIFF whose metadata TRAILS the pixel data
    * (non-COG layout). CogReader.readMeta catches it to re-read modest
    * files whole; otherwise the message explains the layout problem
    * instead of a raw index crash. */
  final class HeaderProbeTooSmall(msg: String) extends RuntimeException(msg)

  def readPages(file: Array[Byte]): Seq[PageMeta] = {
    def checked(at: Long, need: Long, what: String): Int = {
      // `at > length - need` (not `at + need > length`): a corrupt
      // offset near Long.MaxValue would wrap `at + need` negative, pass
      // the check, and truncate to a garbage index in toInt below.
      if (at < 0 || need < 0 || at > file.length.toLong - need)
        throw new HeaderProbeTooSmall(
          s"$what at offset $at (+$need B) beyond the ${file.length}-byte header " +
            "probe — IFD/tag data is not at the file head (non-COG layout)")
      at.toInt
    }
    val order0 = ((file(0) & 0xff) << 8) | (file(1) & 0xff)
    require(order0 == 0x4949 || order0 == 0x4d4d,
      s"not a TIFF byte-order header: ${order0.toHexString}")
    val mm = order0 == 0x4d4d
    val buf = ByteBuffer.wrap(file)
      .order(if (mm) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val magic = buf.getShort(2).toInt
    require(magic == 42 || magic == 43, s"not TIFF/BigTIFF (magic $magic)")
    val big = magic == 43
    val entryLen = if (big) IfdEntryLen.toInt else 12
    val slotLen = if (big) 8 else 4
    def uint(at: Int): Long = buf.getInt(at) & 0xffffffffL
    // TIFF 6.0 + BigTIFF element widths by field type
    def elemSize(typ: Int): Int = typ match {
      case 1 | 2 | 6 | 7 => 1      // BYTE ASCII SBYTE UNDEFINED
      case 3 | 8 => 2              // SHORT SSHORT
      case 4 | 9 | 11 | 13 => 4    // LONG SLONG FLOAT IFD
      case 5 | 10 | 12 => 8        // RATIONAL SRATIONAL DOUBLE
      case 16 | 17 | 18 => 8       // LONG8 SLONG8 IFD8
      case t => sys.error(s"unsupported TIFF field type $t")
    }
    val pages = Seq.newBuilder[PageMeta]
    // corrupt/malicious next-IFD pointers can form a cycle; without
    // this the walk below never terminates (the header-probe bounds
    // check keeps every hop in range, so a loop is otherwise legal)
    val visited = scala.collection.mutable.Set.empty[Long]
    var ifd = if (big) buf.getLong(8) else uint(4)
    while (ifd != 0) {
      require(visited.add(ifd),
        s"cyclic IFD chain: offset $ifd already visited (corrupt TIFF)")
      val countAt = checked(ifd, if (big) 8 else 2, "IFD")
      val n = if (big) buf.getLong(countAt).toInt
              else buf.getShort(countAt) & 0xffff
      val entriesBase = ifd.toInt + (if (big) 8 else 2)
      // entries + the trailing next-IFD pointer must fit the probe
      checked(entriesBase, n.toLong * entryLen + (if (big) 8 else 4), "IFD entries")
      var width = 0L; var height = 0L; var tw = 0; var th = 0
      var comp = 1; var pred = 1; var bits = 0; var sf = 1
      var subType = 0L; var photo = 1
      var metaXml = ""
      var scaleArr: Array[Double] = Array.empty
      var tieArr: Array[Double] = Array.empty
      var keyArr: Array[Int] = Array.empty
      var cmapArr: Array[Int] = Array.empty
      var ycArr: Array[Int] = Array.empty
      var exArr: Array[Int] = Array.empty
      var spp = 1; var ndAscii = ""
      var offArr: Array[Long] = null; var cntArr: Array[Long] = null
      var rps = 0L
      var jpegTbl: Array[Byte] = Array.empty
      var planar = 1
      for (e <- 0 until n) {
        val base = entriesBase + e * entryLen
        val tag = buf.getShort(base) & 0xffff
        val typ = buf.getShort(base + 2) & 0xffff
        val count = (if (big) buf.getLong(base + 4) else uint(base + 4)).toInt
        val es = elemSize(typ)
        // value slot: after tag(2) + type(2) + count(4 or 8). The
        // payload lives in the slot when it fits, else the slot holds
        // its absolute offset
        val slotAt = base + (if (big) 12 else 8)
        val dataAt: Int =
          if (es.toLong * count <= slotLen) slotAt
          else checked(if (big) buf.getLong(slotAt) else uint(slotAt),
            es.toLong * count, s"tag $tag payload")
        def elem(i: Int): Long = es match {
          case 1 => file(dataAt + i) & 0xffL
          case 2 => buf.getShort(dataAt + 2 * i) & 0xffffL
          case 4 => uint(dataAt + 4 * i)
          case 8 => buf.getLong(dataAt + 8 * i)
        }
        def longArray(): Array[Long] = Array.tabulate(count)(elem)
        def shortArray(): Array[Int] = Array.tabulate(count)(i => elem(i).toInt)
        def dblArray(): Array[Double] =
          Array.tabulate(count)(i => buf.getDouble(dataAt + 8 * i))
        def ascii(): String = new String(file, dataAt, count, "US-ASCII")
        tag match {
          case TagNewSubfileType => subType = elem(0)
          case TagImageWidth => width = elem(0)
          case TagImageLength => height = elem(0)
          case TagTileWidth => tw = elem(0).toInt
          case TagTileLength => th = elem(0).toInt
          case TagCompression => comp = elem(0).toInt
          case TagPredictor => pred = elem(0).toInt
          // decode assumes ONE sample type across bands: a foreign
          // mixed-bit-depth file would mis-stride — reject loudly
          case TagBitsPerSample =>
            val all = shortArray()
            require(all.forall(_ == all(0)),
              s"mixed BitsPerSample across bands: ${all.mkString(",")}")
            bits = all(0)
          case TagSampleFormat =>
            val all = shortArray()
            require(all.forall(_ == all(0)),
              s"mixed SampleFormat across bands: ${all.mkString(",")}")
            sf = all(0)
          // decode assumes chunky (interleaved) samples; planar (=2)
          // would produce silently wrong pixels
          case 284 => planar = elem(0).toInt
          case TagPhotometric => photo = elem(0).toInt
          case TagTileOffsets => offArr = longArray()
          case TagTileByteCounts => cntArr = longArray()
          // strip layout (273/278/279): offsets/counts share the same
          // slots — a page is either tiled or striped, never both
          case 273 => offArr = longArray()
          case 278 => rps = elem(0)
          case 279 => cntArr = longArray()
          // shared JPEG tables for abbreviated tile streams
          case 347 =>
            jpegTbl = java.util.Arrays.copyOfRange(file, dataAt, dataAt + count)
          case TagSamplesPerPixel => spp = elem(0).toInt
          case TagGdalNodata =>
            ndAscii = ascii().takeWhile(c => c != '\u0000' && c != ' ')
          case TagGdalMetadata => metaXml = ascii()
          case TagModelPixelScale => scaleArr = dblArray()
          case TagModelTiepoint => tieArr = dblArray()
          case TagGeoKeyDirectory => keyArr = shortArray()
          case TagColorMap => cmapArr = shortArray()
          case TagYCbCrSubSampling => ycArr = shortArray()
          case TagExtraSamples => exArr = shortArray()
          case _ => ()
        }
      }
      // PlanarConfiguration is meaningless at 1 sample/pixel. Planar
      // (=2) pages decode per plane in BOTH layouts — tiled since
      // round 9, striped since round 11 (our Tile is band-major, so
      // planes land without an interleave pass in either case).
      require(planar == 1 || planar == 2,
        s"invalid PlanarConfiguration $planar")
      if (planar == 2 && spp > 1 && offArr != null)
        require(offArr.length % spp == 0,
          s"planar page tile count ${offArr.length} not divisible by $spp bands")
      pages += PageMeta(width, height, tw, th, comp, pred, bits, sf,
        subType, photo, offArr, cntArr, metaXml, scaleArr, tieArr, keyArr,
        cmapArr, ycArr, spp, ndAscii, rps, jpegTbl, mm,
        planar = if (spp == 1) 1 else planar, extraSamples = exArr)
      ifd =
        if (big) buf.getLong(entriesBase + n * entryLen)
        else uint(entriesBase + n * entryLen)
    }
    pages.result()
  }
}
