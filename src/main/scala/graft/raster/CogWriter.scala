package graft.raster

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.sink.{Blob, LocalMultipartSink, MultipartSink, OrderedMultipartWriter, PartReceipt}

/** End-to-end COG write — the engine form of the reference's only
  * public API, `write_ccog` (reference ccog/ccog.py:801-971):
  *
  *   pyramid (level loop, persist per level, SURVEY §4.1)
  *   → per-tile encode (narrow map, fused stats partials), persisted
  *   → prefix-sum offsets and band stats on the driver from the
  *     collected tile metadata (Offsets, R25)
  *   → driver header emit (BigTiff, R22 — offset/count metadata is
  *     grid×16 B, tiny relative to pixel data)
  *   → ordered multipart sink (OrderedMultipartWriter, R28/R36).
  *
  * Shuffles: one per pyramid level (plus the halo exchange's for wide
  * kernels, which ships every tile whole) and one hash shuffle into
  * parts. Each tile is deflated once, and its encoded bytes cross the
  * wire once.
  */
object CogWriter {

  case class BandStats(pxTotal: Long, pxValid: Long, mean: Double,
      stddev: Double, min: Double, max: Double, validPct: Double)

  case class Result(headerLen: Long, totalLen: Long, tileBytes: Long,
      nTiles: Long, nSparse: Long, nParts: Int, levels: Int,
      stats: Seq[BandStats], receipts: Seq[PartReceipt])

  /** Header chunk cap: keeps single blobs comfortably under the packing
    * target so parts stay near-target-sized. */
  private val HeaderChunk = 8 << 20

  /** `resume = true` adopts an in-flight multipart upload of the
    * target key instead of restarting from byte 0 (the sink must be a
    * [[graft.sink.ResumableMultipartSink]]): the whole encode pipeline
    * is deterministic (fixed tile loops, decimal stats, deflate), so a
    * restarted writer re-derives byte-identical parts and
    * [[OrderedMultipartWriter.writeResuming]] verifies + skips the
    * ones the store already holds. `partTarget` is the packing target
    * passed through to the part planner — the default matches
    * [[OrderedMultipartWriter.write]]'s; a resume must use the SAME
    * value as the crashed attempt or no part verifies. */
  def write(level0: Dataset[Tile], profile: RasterProfile,
      sink: MultipartSink, resume: Boolean = false,
      partTarget: Long = 16L << 20): Result = {
    // fail in milliseconds, not after the full distributed encode:
    // a non-resumable sink can never honor resume=true
    require(!resume || sink.isInstanceOf[graft.sink.ResumableMultipartSink],
      s"cog resume requested but sink ${sink.getClass.getName} cannot " +
        "adopt in-flight uploads (ResumableMultipartSink)")
    val spark = level0.sparkSession
    import spark.implicits._

    // 1. pyramid: every level persisted (Pyramid.build)
    val levels = Pyramid.build(level0, profile)

    // 2. encode every level; union is a plan-level concat, no shuffle.
    // With maskPages each tile emits its 1-bit validity plane too —
    // the reference's data+mask interleave (ccog/ccog.py:409-422).
    val encoded = levels
      .map(_.flatMap { t =>
        if (profile.maskPages)
          Seq(TileCodec.encode(t, profile), TileCodec.encodeMask(t, profile))
        else Seq(TileCodec.encode(t, profile))
      })
      .reduce(_ union _)

    // 3. encode once (persisted); absolute offsets via a driver-side
    // prefix sum over the collected tile metadata
    val headerLen = BigTiff.headerLength(profile)
    val placement = Offsets.place(encoded, headerLen)

    try {
      // 4. per-page offset/count arrays for the header + size metrics,
      // from the placement's driver-side metadata (grid cells × ~100 B)
      val meta = placement.meta
      val nTiles = meta.length.toLong
      val nSparse = meta.count(_.nbytes == 0).toLong
      val tileBytes = meta.map(_.nbytes.toLong).sum
      val maxTile = meta.map(_.nbytes.toLong).maxOption.getOrElse(0L)
      val nLevels = profile.maxLevel + 1
      val pages = BigTiff.pageSpecs(profile)
      val pageOf = pages.zipWithIndex.map { case (pg, i) => (pg.level, pg.isMask) -> i }.toMap
      val offsets = pages.map(pg => new Array[Long](profile.tilesPerLevel(pg.level)))
      val counts = pages.map(pg => new Array[Long](profile.tilesPerLevel(pg.level)))
      // ghost layout: stored bytes are leader(4)+payload+trailer(4);
      // TileOffsets point at the payload, TileByteCounts exclude the
      // decoration (GDAL convention; reference ccog/ccog.py:430-441)
      val ghostPad = if (profile.ghost) 4L else 0L
      for (i <- meta.indices; m = meta(i) if m.nbytes > 0;
           p <- pageOf.get((m.level, m.page == TileCodec.PageMask))) {
        val cell = m.ty * profile.gridDims(m.level)._1 + m.tx
        offsets(p)(cell) = placement.offsets(i) + ghostPad
        counts(p)(cell) = m.nbytes.toLong - 2 * ghostPad
      }

      // 5. masked PER-BAND stats from the fused encode partials — no
      // second pass over pixels (reference pays a full extra pass,
      // ccog/ccog.py:38,511-541)
      val l0 = meta.filter(e => e.level == 0 && e.page == TileCodec.PageData)
      val total = l0.map(_.pxTotal).sum
      val stats = (0 until l0.headOption.fold(0)(_.bandValid.length)).map { b =>
        val withData = l0.filter(_.bandValid(b) > 0)
        val valid = withData.map(_.bandValid(b)).sum
        if (valid == 0) BandStats(total, 0, 0, 0, 0, 0, 0)
        else {
          val mean = exactSum(withData.map(_.bandSum(b))) / valid
          val varp = exactSum(withData.map(_.bandSumSq(b))) / valid - mean * mean
          BandStats(total, valid, mean, math.sqrt(math.max(0, varp)),
            withData.map(_.bandMin(b)).reduce((x, y) => math.min(x, y)),
            withData.map(_.bandMax(b)).reduce((x, y) => math.max(x, y)), 100.0 * valid / total)
        }
      }

      // 6. header bytes (driver) → chunked blobs at offsets [0, headerLen).
      // Per-band STATISTICS_* tags ride along (fixed-width, so the
      // length was already known to the offset pass)
      val headerBytes = BigTiff.header(profile, offsets, counts,
        stats.map(s => (s.min, s.max, s.mean, s.stddev, s.validPct)))
      val headerBlobs = headerBytes.grouped(HeaderChunk).zipWithIndex
        .map { case (chunk, i) => Blob(i.toLong * HeaderChunk, chunk) }
        .toSeq
      val maxBlob = math.max(maxTile, headerBlobs.map(_.bytes.length.toLong).max)

      // 7. one ordered blob stream: header ++ non-sparse tiles
      val blobs = spark.createDataset(headerBlobs)
        .union(placement.placed.filter(_.nbytes > 0).map(p => Blob(p.offset, p.bytes)))
      val totalLen = headerLen + tileBytes
      val receipts =
        if (resume)
          OrderedMultipartWriter.writeResuming(blobs, totalLen, maxBlob,
            sink.asInstanceOf[graft.sink.ResumableMultipartSink], partTarget)
        else OrderedMultipartWriter.write(blobs, totalLen, maxBlob, sink,
          partTarget)

      Result(headerLen, totalLen, tileBytes, nTiles, nSparse,
        receipts.size, nLevels, stats, receipts)
    } finally {
      placement.cached.unpersist()
      levels.foreach(_.unpersist())
    }
  }

  /** Bytes-in-memory path for small outputs / tests — the reference's
    * store=None mode (ccog/ccog.py:970,973-978). */
  def writeBytes(level0: Dataset[Tile], profile: RasterProfile,
      dir: String, partTarget: Long = 16L << 20): (Array[Byte], Result) = {
    val sink = new LocalMultipartSink(dir)
    val res = write(level0, profile, sink, partTarget = partTarget)
    (sink.assembled, res)
  }

  /** Σ of per-tile double partials, each rounded HALF_UP to 12 decimals
    * (as a decimal(38,12) cast does) and summed exactly: a double sum
    * depends on tile order at the last ulp, which would leak into the
    * header stats and make the file bytes vary between runs. Unbounded,
    * so large float64 rasters cannot overflow it. Non-finite partials
    * have no decimal form and propagate as in double arithmetic. */
  private[raster] def exactSum(xs: Array[Double]): Double =
    if (!xs.forall(x => java.lang.Double.isFinite(x))) xs.sum
    else xs.foldLeft(java.math.BigDecimal.ZERO)((acc, x) => acc.add(
      java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP)))
      .doubleValue
}
