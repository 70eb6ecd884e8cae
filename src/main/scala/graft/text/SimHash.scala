package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SimHash near-duplicate mining: 64-bit charikar fingerprint over
  * token hashes; near-dups are pairs within a small Hamming distance.
  *
  * Scale path (Manku-style multi-index): split the 64-bit fingerprint
  * into 5 disjoint chunks (13/13/13/13/12 bits). A pair at Hamming
  * distance ≤ 3 differs in at most 3 chunks, so at least 2 of the 5
  * chunks agree exactly (pigeonhole) — join on every C(5,2)=10
  * two-chunk composite key (~26 bits each) and the banded equi-join
  * finds ALL such pairs with zero misses. At 10⁹ docs each composite
  * key space holds ~2^26 ≈ 6.7·10⁷ buckets → ~15 docs/bucket → the
  * per-bucket self-join stays linear; the earlier single-16-bit-chunk
  * scheme had only 65 k buckets (~15 k docs each → ~10¹³ candidate
  * pairs), which does not survive corpus scale. Distance is then
  * verified exactly with popcount. */
object SimHash {

  val ChunkCount = 5
  /** d ≤ 3 flips at most 3 chunks ⇒ ≥ 2 of the 5 agree — the bound the
    * two-chunk composite banding is complete for. */
  val MaxDist = 3

  /** Chunk bit boundaries over the 64-bit fingerprint: 13,13,13,13,12. */
  private val bounds = Array(0, 13, 26, 39, 52, 64)

  /** The C(5,2)=10 chunk-index pairs, the band keys of the multi-index. */
  val chunkPairs: IndexedSeq[(Int, Int)] =
    for { i <- 0 until ChunkCount; j <- (i + 1) until ChunkCount } yield (i, j)

  def fingerprint(tokens: Iterable[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = MinHashLSH.hash64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) != 0) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) fp |= 1L << b
      b += 1
    }
    fp
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  def chunk(fp: Long, i: Int): Int = {
    val lo = bounds(i)
    ((fp >>> lo) & ((1L << (bounds(i + 1) - lo)) - 1)).toInt
  }

  /** One packed long per (pairIdx, chunk_i value, chunk_j value): the
    * composite band key — a single join column instead of three. */
  def bandKey(pairIdx: Int, cvI: Int, cvJ: Int): Long =
    (pairIdx.toLong << 26) | (cvI.toLong << 13) | cvJ.toLong

  // cached fingerprint frames: query-scoped (graft.Memo)
  private val retained = graft.Memo.frames()

  /** All pairs with Hamming(fp) <= MaxDist over (doc_id, tokens) rows.
    * Output (id_a, id_b, hamming), id_a < id_b, totally ordered. */
  def nearDupPairs(docTokens: DataFrame): DataFrame = {
    val spark = docTokens.sparkSession
    import spark.implicits._
    val fps = docTokens.as[(Long, Seq[String])]
      .map { case (id, toks) => (id, fingerprint(toks)) }
      .toDF("doc_id", "fp")
      .cache() // both sides of the banded self-join read it
    retained.add(fps)
    val keys = fps.as[(Long, Long)]
      .flatMap { case (id, fp) =>
        chunkPairs.iterator.zipWithIndex.map { case ((i, j), p) =>
          (bandKey(p, chunk(fp, i), chunk(fp, j)), id, fp)
        }
      }
      .toDF("bk", "doc_id", "fp")
    keys.as("x")
      .join(keys.as("y"),
        $"x.bk" === $"y.bk" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"),
        $"x.fp".as("fp_a"), $"y.fp".as("fp_b"))
      .distinct()
      // popcount verify stays inside whole-stage codegen: bit_count of
      // the XOR is the Column form of [[hamming]] — a typed .map here
      // would put a serialization boundary right after the join
      .select($"id_a", $"id_b",
        org.apache.spark.sql.functions.bit_count($"fp_a".bitwiseXOR($"fp_b"))
          .cast("int").as("hamming"))
      .filter($"hamming" <= MaxDist)
      .orderBy($"id_a", $"id_b")
  }
}
