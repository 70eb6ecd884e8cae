package graft.raster

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Resolution-pyramid driver — the engine form of the reference's core
  * dataflow loop (reference ccog/ccog.py:558-666): per level, every tile
  * is downsampled 2× (narrow map), then the four shrunken quadrants that
  * land in the same next-level tile meet in one `groupByKey` (a single
  * shuffle per level — the analog of the reference's mosaic+rechunk,
  * ccog/ccog.py:652-657).
  *
  * Each level is persisted before deriving the next so the source is
  * read once per level, not re-derived through the whole lineage — the
  * materialization decision the reference makes with
  * `to_delayed(optimize_graph=False)` (ccog/ccog.py:618-621, SURVEY
  * §4.1); Spark expresses it as persist/unpersist.
  *
  * Scale shape: the regroup shuffle at level L+1 carries 1/4 of level
  * L's pixel volume, ≤ 1/3 of the source volume over the whole pyramid.
  * Halo kernels add HaloExchange's padding shuffle, which ships each
  * tile whole plus its edge strips: ≈ 4/3 · (1 + 8k/blockSize) of the
  * source volume more. Both stay linear in the source at any depth.
  */
object Pyramid {

  /** Downsample + regroup one level: tiles at `level` → tiles at
    * `level+1`. Pure function of the input Dataset — no persist here. */
  def nextLevel(tiles: Dataset[Tile], profile: RasterProfile): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val bs = profile.blockSize
    val half = bs / 2
    val kernel = profile.resampling
    val nodata = profile.nodata
    require(Kernels.haloWidth(kernel) == 0,
      s"halo kernel '$kernel' must go through HaloExchange.nextLevel")

    val complexPx = TileCodec.isComplex(profile.dtype)
    val quads = tiles.map { t =>
      val (px, mk) =
        if (complexPx) Kernels.downsampleComplex2x(kernel, t, nodata)
        else Kernels.downsample2x(kernel, t, nodata)
      // quadrant of the next-level tile this shrunken block lands in
      Quadrant(t.level + 1, t.ty / 2, t.tx / 2, t.ty % 2, t.tx % 2,
        (t.h + 1) / 2, (t.w + 1) / 2, px, mk)
    }
    regroup(quads, profile)
  }

  /** Mosaic step shared by the halo-free and halo paths: group the ≤4
    * quadrants of each next-level tile (one shuffle) and stitch. */
  def regroup(quads: Dataset[Quadrant], profile: RasterProfile): Dataset[Tile] = {
    val spark = quads.sparkSession
    import spark.implicits._
    val half = profile.blockSize / 2
    val nodata = profile.nodata
    val bands = profile.bands
    // complex planes carry (re, im) pairs — stitch moves sample UNITS
    val spu = if (TileCodec.isComplex(profile.dtype)) 2 else 1
    quads
      .groupByKey(q => (q.level, q.ty, q.tx))
      .mapGroups { (key: (Int, Int, Int), qs: Iterator[Quadrant]) =>
        val (level, ty, tx) = key
        val (th, tw) = profile.tileDims(level, ty, tx)
        val pixels = new Array[Double](bands * th * tw * spu)
        java.util.Arrays.fill(pixels, nodata)
        val mask = new Array[Byte](th * tw)
        qs.foreach { q =>
          val offY = q.qy * half
          val offX = q.qx * half
          var b = 0
          while (b < bands) {
            val srcBase = b * q.h * q.w * spu
            val dstBase = b * th * tw * spu
            var y = 0
            while (y < q.h) {
              var x = 0
              while (x < q.w * spu) {
                pixels(dstBase + ((offY + y) * tw + offX) * spu + x) =
                  q.pixels(srcBase + (y * q.w) * spu + x)
                x += 1
              }
              y += 1
            }
            b += 1
          }
          if (q.mask != null) {
            var y = 0
            while (y < q.h) {
              var x = 0
              while (x < q.w) {
                mask((offY + y) * tw + (offX + x)) = q.mask(y * q.w + x)
                x += 1
              }
              y += 1
            }
          }
        }
        Tile(level, ty, tx, th, tw, pixels, mask)
      }
  }

  /** Build levels 0..profile.maxLevel; every returned Dataset is
    * persisted (MEMORY_AND_DISK). Caller owns unpersist. */
  def build(level0: Dataset[Tile], profile: RasterProfile): Seq[Dataset[Tile]] = {
    val levels = Seq.newBuilder[Dataset[Tile]]
    var cur = level0.persist(StorageLevel.MEMORY_AND_DISK)
    levels += cur
    var l = 0
    while (l < profile.maxLevel) {
      cur =
        (if (Kernels.haloWidth(profile.resampling) == 0) nextLevel(cur, profile)
         else HaloExchange.nextLevel(cur, profile))
          .persist(StorageLevel.MEMORY_AND_DISK)
      levels += cur
      l += 1
    }
    levels.result()
  }
}

/** A downsampled tile block addressed to quadrant (qy,qx) of next-level
  * tile (level,ty,tx). */
case class Quadrant(level: Int, ty: Int, tx: Int, qy: Int, qx: Int,
    h: Int, w: Int, pixels: Array[Double], mask: Array[Byte])
