package graft.sink

import graft.SparkSpec
import java.nio.file.Files

/** Top-level (a spec-inner class would drag the non-serializable suite
  * into the task closure): a local sink that records every uploadPart
  * call in a JVM-wide ledger under its `id`. Each task deserializes its
  * own copy of the sink, so the ledger is the only place the calls of
  * all tasks meet; local mode runs them in the test JVM. */
private class CountingSink(dir: String, id: String) extends LocalMultipartSink(dir) {
  override def uploadPart(partNumber: Int, bytes: Array[Byte]): String = {
    CountingSink.uploads.computeIfAbsent(id,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[Int]).add(partNumber)
    super.uploadPart(partNumber, bytes)
  }
}

private object CountingSink {
  val uploads = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.ConcurrentLinkedQueue[Int]]
}

/** OrderedMultipartWriter invariants (SURVEY §5.2-3e): parts contiguous
  * and order-preserving, every non-final part ≥ 5 MiB, count ≤ 10,000,
  * idempotent re-upload, byte-identical assembly. */
class SinkSpec extends SparkSpec {

  def tmp(): String = Files.createTempDirectory("graft-sink").toString

  /** Deterministic pseudo-random blob stream totalling ~`totalMiB`. */
  def blobStream(totalMiB: Int): (Seq[Blob], Array[Byte]) = {
    val rnd = new scala.util.Random(7)
    val blobs = Seq.newBuilder[Blob]
    var off = 0L
    val whole = new java.io.ByteArrayOutputStream()
    while (off < (totalMiB.toLong << 20)) {
      val n = 64 * 1024 + rnd.nextInt(3 << 20) // 64 KiB .. ~3 MiB
      val b = new Array[Byte](n)
      rnd.nextBytes(b)
      blobs += Blob(off, b)
      whole.write(b)
      off += n
    }
    (blobs.result(), whole.toByteArray)
  }

  test("packing: contiguous parts, >=5MiB non-final, assembled == input") {
    val s = spark
    import s.implicits._
    val (blobs, expect) = blobStream(48)
    val total = expect.length.toLong
    val maxBlob = blobs.map(_.bytes.length.toLong).max
    val sink = new LocalMultipartSink(tmp())
    val receipts = OrderedMultipartWriter.write(
      s.createDataset(blobs), total, maxBlob, sink)

    assert(receipts.map(_.partNumber) == receipts.map(_.partNumber).sorted)
    assert(receipts.map(_.partNumber).distinct.size == receipts.size)
    assert(receipts.size <= OrderedMultipartWriter.S3MaxPartCount)
    for (r <- receipts.dropRight(1))
      assert(r.size >= OrderedMultipartWriter.S3MinPart,
        s"part ${r.partNumber} under 5 MiB: ${r.size}")
    assert(java.util.Arrays.equals(sink.assembled, expect))
  }

  test("hash-partitioned packing uploads every part exactly once, more parts than partitions") {
    val s = spark
    import s.implicits._
    val (blobs, expect) = blobStream(48)
    val maxBlob = blobs.map(_.bytes.length.toLong).max
    val id = s"counting-${System.nanoTime()}"
    val sink = new CountingSink(tmp(), id)
    // defaultPart 0: the 5 MiB + maxBlob floor sets the target, so the
    // 48 MiB stream packs into more parts than there are shuffle partitions
    val receipts = OrderedMultipartWriter.write(
      s.createDataset(blobs), expect.length.toLong, maxBlob, sink, defaultPart = 0L)
    assert(receipts.size > s.conf.get("spark.sql.shuffle.partitions").toInt)
    // write returned, so the contiguity audit passed
    assert(receipts.map(_.partNumber) == (1 to receipts.size))
    import scala.jdk.CollectionConverters._
    val uploaded = CountingSink.uploads.get(id).asScala.toSeq
    assert(uploaded.sorted == receipts.map(_.partNumber), "each part uploaded exactly once")
    assert(java.util.Arrays.equals(sink.assembled, expect))
  }

  test("target part size respects the 10k cap and the 5MiB+maxBlob floor") {
    val t1 = OrderedMultipartWriter.targetPartSize(100L << 20, 2L << 20)
    assert(t1 == 16L << 20) // default wins
    val t2 = OrderedMultipartWriter.targetPartSize(100L << 20, 20L << 20)
    assert(t2 == (5L << 20) + (20L << 20)) // maxBlob floor wins
    val t3 = OrderedMultipartWriter.targetPartSize(1L << 40, 2L << 20)
    assert(t3 >= (1L << 40) / 10000) // cap wins
    assert((1L << 40) / t3 <= 10000)
  }

  test("HadoopMultipartSink: same packing through the FileSystem API") {
    val s = spark
    import s.implicits._
    val (blobs, expect) = blobStream(24)
    val sink = new HadoopMultipartSink("file://" + tmp())
    OrderedMultipartWriter.write(
      s.createDataset(blobs), expect.length.toLong,
      blobs.map(_.bytes.length.toLong).max, sink)
    assert(java.util.Arrays.equals(sink.assembled, expect))
  }

  test("uploadPart is idempotent: re-upload overwrites, assembly unchanged") {
    val sink = new LocalMultipartSink(tmp())
    sink.start()
    sink.uploadPart(1, Array[Byte](9, 9, 9))
    sink.uploadPart(2, Array[Byte](4, 4))
    sink.uploadPart(1, Array[Byte](1, 2, 3)) // task retry
    assert(sink.assembled.toSeq == Seq[Byte](1, 2, 3, 4, 4))
    assert(sink.partNumbers == Seq(1, 2))
  }

  test("lost-rename-race check requires matching content, not just length") {
    val dir = tmp()
    val sink = new HadoopMultipartSink("file://" + dir)
    sink.start()
    val dest = new org.apache.hadoop.fs.Path("file://" + dir, "part-00001.bin")
    val mine = Array[Byte](1, 2, 3, 4)
    // missing dest: not landed
    assert(!sink.raceLanded(dest, mine))
    // same length, different content: a same-length foreign/non-deterministic
    // part must NOT be silently accepted as this attempt's success
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-00001.bin"),
      Array[Byte](9, 9, 9, 9))
    assert(!sink.raceLanded(dest, mine))
    // identical content: the winner wrote our bytes — success
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-00001.bin"), mine)
    assert(sink.raceLanded(dest, mine))
    // different length: not landed
    assert(!sink.raceLanded(dest, Array[Byte](1, 2, 3)))
  }
}
