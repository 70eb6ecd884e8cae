package graft.raster

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

/** Global byte-offset assignment — the reference's prefix-sum over
  * parts in (level desc, row-major) order (reference
  * ccog/ccog.py:717-773, R25).
  *
  * The encode is persisted and its metadata (key, nbytes, stats
  * partials, never the bytes) collected; the driver sorts it into file
  * order, takes the exclusive prefix sum and broadcasts the offsets.
  * The header needs every tile's offset and count on the driver anyway,
  * so driver traffic stays O(tiles). A range shuffle into file order
  * would sample its input (re-running the deflate) and ship every
  * encoded byte a second time before the sink's own shuffle.
  *
  * Sparse tiles contribute 0 bytes and keep offset 0 in the header
  * (reference ccog/ccog.py:754).
  */
object Offsets {

  /** `placed` streams every tile with its absolute file offset, in no
    * particular order; `cached` is the persisted encode the caller
    * must unpersist after its last action on `placed`. `meta` holds
    * every tile in file order with its bytes stripped (stats partials
    * kept), and `offsets(i)` is `meta(i)`'s absolute offset. */
  case class Placement(placed: Dataset[PlacedTile], cached: Dataset[EncodedTile],
      meta: Array[EncodedTile], offsets: Array[Long])

  /** File-order sort key: (level desc, ty, tx, page) packed into 63
    * bits, so ascending keys are file order. */
  private def fileKey(e: EncodedTile): Long = {
    require(e.level >= 0 && e.level < 128 && e.ty >= 0 && e.ty < (1 << 24) &&
      e.tx >= 0 && e.tx < (1 << 24) && e.page >= 0 && e.page < 256,
      s"tile key out of range: $e")
    ((127L - e.level) << 56) | (e.ty.toLong << 32) | (e.tx.toLong << 8) | e.page
  }

  def place(encoded: Dataset[EncodedTile], headerLen: Long): Placement = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val cached = encoded.persist(StorageLevel.MEMORY_AND_DISK)
    val meta = cached.withColumn("bytes", lit(Array.emptyByteArray))
      .as[EncodedTile].collect()
      .sortBy(fileKey)
    val keys = meta.map(fileKey)
    for (i <- 1 until keys.length)
      require(keys(i - 1) != keys(i), s"duplicate tile ${meta(i)}")
    val offsets = new Array[Long](meta.length)
    var off = headerLen
    for (i <- meta.indices if meta(i).nbytes > 0) {
      offsets(i) = off
      off += meta(i).nbytes
    }
    val bc = spark.sparkContext.broadcast((keys, offsets))
    val placed = cached.map { e =>
      val (ks, os) = bc.value
      val i = java.util.Arrays.binarySearch(ks, fileKey(e))
      PlacedTile(e.level, e.ty, e.tx, e.page, os(i), e.nbytes, e.bytes)
    }
    Placement(placed, cached, meta, offsets)
  }
}

/** A tile with its absolute byte offset in the assembled file (sparse:
  * offset 0, nbytes 0, no bytes). page: 0 = data, 1 = mask. */
case class PlacedTile(level: Int, ty: Int, tx: Int, page: Int, offset: Long,
    nbytes: Int, bytes: Array[Byte])
