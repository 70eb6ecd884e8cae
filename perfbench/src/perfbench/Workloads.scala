package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count => fcount, sum => fsum}

import graft.queries.{DedupOracleSql, DedupQueries, PipelineQueries}
import graft.raster.{BigTiff, CogReader, CogWriter, Offsets, Pyramid,
  RasterProfile, SyntheticRaster, Tile, TileCodec}
import graft.sink.{Blob, LocalMultipartSink, OrderedMultipartWriter}
import graft.text.MinHashLSH

/** One benchmark operation as the loop saw it. `seconds` is the time of
  * the calls an untraced op makes (for a traced op: the same calls,
  * traced); `opSeconds` is the whole op including any traced re-runs
  * of inner steps. `inBytes` is the op's input as defined per workload. */
final case class Op(seconds: Double, opSeconds: Double, inBytes: Long,
    ok: Boolean, kind: String, note: String = "", digest: String = "",
    pairs: Seq[(Long, Long)] = Nil)

/** A workload: set-up that builds its inputs from the seed, an untraced
  * op, and a traced op that wraps every call into a layer in a span. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: Path) {
  def name: String
  /** Build the op inputs from the seed (repeated; must be idempotent). */
  def setup(): Unit
  /** Compute the truth the per-op checks compare against (once). */
  def prepareChecks(): Unit
  def op(i: Int, rng: java.util.Random): Op
  def tracedOp(i: Int, rng: java.util.Random, t: Tracer): Op
  /** Bytes of the file the workload's op writes or reads, per input byte. */
  def fileBytesPerInputByte: Double
  /** Traced-phase work counts, summed over traced ops (mean per op is
    * reported); filled by tracedOp. */
  val counts = mutable.LinkedHashMap.empty[String, (Double, Int)]
  protected def count(name: String, v: Double): Unit = {
    val (s, n) = counts.getOrElse(name, (0.0, 0))
    counts(name) = (s + v, n + 1)
  }
  /** Work counts measured once per traced phase, outside any span. */
  def phaseCounts(): Map[String, Double] = Map.empty
  /** Extra record fields for the full JSON record. */
  def record: Map[String, Any] = Map.empty

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  protected def freshDir(prefix: String): Path = {
    Files.createDirectories(work)
    Files.createTempDirectory(work, prefix)
  }
}

/** Raster helpers shared by the two COG workloads. */
object Cog {
  /** The `cog_write` profile: 3-band uint16, blocksize 256, deflate
    * (with the integer predictor the writer pairs with it), lanczos
    * overviews, mask pages; band statistics are always written. */
  def profile(edge: Int): RasterProfile = RasterProfile(edge, edge,
    blockSize = 256, bands = 3, nodata = 65535.0, resampling = "lanczos",
    dtype = "uint16", compression = "deflate", maskPages = true)

  /** A sample as the uint16 codec stores it. */
  def quantize(v: Double): Long = math.round(v).toInt.max(0).min(0xffff).toLong

  def rawBytes(p: RasterProfile): Long = p.width.toLong * p.height * p.bands * 2

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Concatenate a local multipart upload into one file. */
  def assemble(sink: LocalMultipartSink, dir: Path): Path = {
    val f = dir.resolve("assembled.tif")
    Files.write(f, sink.assembled)
    f
  }
}

/** Per-tile truth: per band, valid samples, the sum of the stored
  * (quantized) samples, and raw sum / min / max for header stats. */
final case class TileTruth(level: Int, ty: Int, tx: Int, valid: Array[Long],
    qsum: Array[Long], raw: Array[Double], min: Array[Double], max: Array[Double])

object TileTruth {
  def of(ds: Dataset[Tile], nodata: Double): Array[TileTruth] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { t =>
      val bands = t.bands
      val plane = t.h * t.w
      val valid = new Array[Long](bands)
      val qsum = new Array[Long](bands)
      val raw = new Array[Double](bands)
      val mn = Array.fill(bands)(Double.PositiveInfinity)
      val mx = Array.fill(bands)(Double.NegativeInfinity)
      var i = 0
      while (i < t.pixels.length) {
        if (t.valid(i, nodata)) {
          val b = i / plane
          val v = t.pixels(i)
          valid(b) += 1
          qsum(b) += Cog.quantize(v)
          raw(b) += v
          if (v < mn(b)) mn(b) = v
          if (v > mx(b)) mx(b) = v
        }
        i += 1
      }
      TileTruth(t.level, t.ty, t.tx, valid, qsum, raw, mn, mx)
    }.collect().sortBy(t => (t.level, t.ty, t.tx))
  }

  /** (valid samples, stored-sample sum, samples) of decoded tiles. */
  def readBack(ds: Dataset[Tile], nodata: Double): (Long, Long, Long, Long) = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { t =>
      val plane = t.h * t.w
      var valid = 0L
      var s = 0L
      var i = 0
      while (i < t.pixels.length) {
        if ((t.mask == null || t.mask(i % plane) != 0) && t.pixels(i) != nodata) {
          valid += 1
          s += math.round(t.pixels(i))
        }
        i += 1
      }
      (valid, s, t.pixels.length.toLong, 1L)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
  }
}

/** `cog_write`: one `CogWriter.write` of a seeded `SyntheticRaster`
  * into a `LocalMultipartSink` per op. */
final class CogWriteWorkload(spark: SparkSession, seed: Long, work: Path, edge: Int)
    extends Workload(spark, seed, work) {
  val name = "cog_write"
  private val prof = Cog.profile(edge)
  private var truth: Array[TileTruth] = Array.empty
  private var lastFileBytes = 0L

  /** The op generates its raster lazily inside the write; set-up
    * materializes it once to show what generating the input costs. */
  def setup(): Unit = level0.foreach(_ => ())

  def prepareChecks(): Unit = {
    truth = TileTruth.of(level0, prof.nodata)
  }

  private def level0 = SyntheticRaster.generate(spark, prof, seed)

  def op(i: Int, rng: java.util.Random): Op = {
    val dir = freshDir("write-")
    val sink = new LocalMultipartSink(dir.toString)
    val (res, s) = timed(CogWriter.write(level0, prof, sink))
    val (ok, note) = check(res, sink, dir)
    Cog.rmTree(dir)
    System.gc() // start every op on a compacted heap
    Op(s, s, Cog.rawBytes(prof), ok, "write", note)
  }

  def tracedOp(i: Int, rng: java.util.Random, t: Tracer): Op = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val stepIds = t.spans.length
    // the steps CogWriter.write runs internally, re-run from outside
    // through the same public functions, each forced inside its span
    val l0 = t("raster.ingest") {
      val d = level0.persist()
      d.count()
      d
    }
    val levels = t("raster.pyramid") {
      val ls = Pyramid.build(l0, prof)
      count("raster.pyramid.tiles", ls.map(_.count()).sum.toDouble)
      ls
    }
    val encoded = t("raster.encode") {
      val p = prof // a local, so the task closure does not capture the workload
      val e = levels.map(_.flatMap(tile =>
        Seq(TileCodec.encode(tile, p), TileCodec.encodeMask(tile, p))))
        .reduce(_ union _).persist()
      val bytes = e.agg(fsum(col("nbytes"))).head().getLong(0)
      count("raster.encode.mb_out", bytes / LayerReport.MB)
      e
    }
    val headerLen = BigTiff.headerLength(prof)
    val (placement, offsets, counts) = t("raster.offsets") {
      val p = Offsets.place(encoded, headerLen)
      val meta = p.placed.map(x => (x.level, x.ty, x.tx, x.page, x.offset, x.nbytes)).collect()
      val pages = BigTiff.pageSpecs(prof)
      val offs = pages.map(pg => new Array[Long](prof.tilesPerLevel(pg.level)))
      val cnts = pages.map(pg => new Array[Long](prof.tilesPerLevel(pg.level)))
      meta.foreach { case (l, ty, tx, page, off, n) =>
        val pi = pages.indexWhere(pg => pg.level == l && pg.isMask == (page == TileCodec.PageMask))
        val idx = ty * prof.gridDims(l)._1 + tx
        offs(pi)(idx) = if (n == 0) 0L else off
        cnts(pi)(idx) = n.toLong
      }
      (p, offs, cnts)
    }
    // band statistics are left out: the header is fixed-width, so its
    // emit cost does not depend on them
    val header = t("raster.header")(BigTiff.header(prof, offsets, counts))
    val stepDir = freshDir("steps-")
    t("sink.write") {
      val blobs = spark.createDataset(Seq(Blob(0L, header)))
        .union(placement.placed.filter(_.nbytes > 0).map(p => Blob(p.offset, p.bytes)))
      val total = headerLen + counts.map(_.sum).sum
      val maxBlob = math.max(header.length.toLong, counts.map(c => if (c.isEmpty) 0L else c.max).max)
      val receipts = OrderedMultipartWriter.write(blobs, total, maxBlob,
        new LocalMultipartSink(stepDir.toString))
      count("sink.parts", receipts.size.toDouble)
    }
    placement.cached.unpersist()
    encoded.unpersist()
    levels.foreach(_.unpersist())
    Cog.rmTree(stepDir)
    val stepSelf = {
      val self = Tracer.selfNs(t.spans.toSeq)
      t.spans.drop(stepIds).map(s => self(s.id)).sum / 1e9
    }
    // the call itself, as the untraced op makes it
    val dir = freshDir("write-")
    val sink = new LocalMultipartSink(dir.toString)
    val (res, s) = timed(t("raster.write")(CogWriter.write(level0, prof, sink)))
    val opS = (System.nanoTime() - t0) / 1e9
    count("raster.write_residue_s", s - stepSelf)
    val (ok, note) = check(res, sink, dir)
    Cog.rmTree(dir)
    System.gc()
    Op(s, opS, Cog.rawBytes(prof), ok, "write", note)
  }

  /** Read the written file back with CogReader: level-0 per-band valid
    * counts and stored-sample sums must equal the SyntheticRaster
    * truth, and the header's band statistics its raw moments. */
  private def check(res: CogWriter.Result, sink: LocalMultipartSink, dir: Path): (Boolean, String) = {
    val f = Cog.assemble(sink, dir)
    lastFileBytes = Files.size(f)
    val l0 = truth.filter(_.level == 0)
    val validT = l0.map(_.valid.sum).sum
    val qsumT = l0.map(_.qsum.sum).sum
    val (valid, qsum, _, _) = TileTruth.readBack(
      CogReader.read(spark, "file://" + f, prof, 0), prof.nodata)
    val errs = mutable.ArrayBuffer.empty[String]
    if (lastFileBytes != res.totalLen) errs += s"file ${lastFileBytes}B != totalLen ${res.totalLen}"
    if (valid != validT || qsum != qsumT) errs += s"read-back ($valid,$qsum) != truth ($validT,$qsumT)"
    val xml = CogReader.readMeta("file://" + f).head.metadataXml
    val item = """<Item name="STATISTICS_(\w+)\s*" sample="(\d+)">\s*([^<\s]+)\s*</Item>""".r
    val hdr = item.findAllMatchIn(xml).map(m => (m.group(1), m.group(2).toInt) -> m.group(3).toDouble).toMap
    for (b <- 0 until prof.bands) {
      val v = l0.map(_.valid(b)).sum
      val mean = l0.map(_.raw(b)).sum / v
      val mn = l0.map(_.min(b)).min
      val mx = l0.map(_.max(b)).max
      def close(a: Double, e: Double) = math.abs(a - e) <= 1e-8 * math.max(1.0, math.abs(e))
      for ((k, e) <- Seq("MEAN" -> mean, "MINIMUM" -> mn, "MAXIMUM" -> mx))
        if (!hdr.get((k, b)).exists(close(_, e))) errs += s"header $k band $b ${hdr.get((k, b))} != $e"
      val st = res.stats(b)
      if (st.pxValid != v || !close(st.mean, mean)) errs += s"result stats band $b"
    }
    (errs.isEmpty, errs.mkString("; "))
  }

  def fileBytesPerInputByte: Double = lastFileBytes.toDouble / Cog.rawBytes(prof)
  override def record: Map[String, Any] = Map("edge" -> edge, "levels" -> (prof.maxLevel + 1))
}

/** `cog_read`: set-up writes one COG with the `cog_write` profile; each
  * op is a seeded draw — mostly 2×2-tile level windows through the DSv2
  * source, otherwise a full level-0 scan through `CogReader.read`. */
final class CogReadWorkload(spark: SparkSession, seed: Long, work: Path, edge: Int,
    scanShare: Double) extends Workload(spark, seed, work) {
  val name = "cog_read"
  private val prof = Cog.profile(edge)
  private var uri = ""
  private var fileBytes = 0L
  private var truth: Map[(Int, Int, Int), TileTruth] = Map.empty
  private var fixtureDir: Path = null

  def setup(): Unit = {
    if (fixtureDir != null) Cog.rmTree(fixtureDir)
    fixtureDir = freshDir("fixture-")
    val sink = new LocalMultipartSink(fixtureDir.toString)
    CogWriter.write(SyntheticRaster.generate(spark, prof, seed), prof, sink)
    val f = Cog.assemble(sink, fixtureDir)
    fileBytes = Files.size(f)
    uri = "file://" + f
  }

  def prepareChecks(): Unit = {
    val levels = Pyramid.build(SyntheticRaster.generate(spark, prof, seed), prof)
    truth = levels.flatMap(l => TileTruth.of(l, prof.nodata))
      .map(t => (t.level, t.ty, t.tx) -> t).toMap
    levels.foreach(_.unpersist())
  }

  private sealed trait Draw
  private case class Window(level: Int, ty: Int, tx: Int) extends Draw
  private case object Scan extends Draw

  private def draw(rng: java.util.Random): Draw =
    if (rng.nextDouble() < scanShare) Scan
    else {
      val level = rng.nextInt(prof.maxLevel + 1)
      val (gw, gh) = prof.gridDims(level)
      Window(level, rng.nextInt(math.max(1, gh - 1)), rng.nextInt(math.max(1, gw - 1)))
    }

  private def windowFrame(w: Window) = {
    import spark.implicits._
    spark.read.format("cog").load(uri)
      .where(col("level") === w.level && col("ty").between(w.ty, w.ty + 1) &&
        col("tx").between(w.tx, w.tx + 1))
      .select("h", "w", "pixels", "mask")
      .as[(Int, Int, Array[Double], Array[Byte])]
      .map { case (h, wd, px, mask) =>
        val plane = h * wd
        var valid = 0L
        var s = 0L
        var i = 0
        while (i < px.length) {
          if ((mask == null || mask(i % plane) != 0) && px(i) != 65535.0) {
            valid += 1
            s += math.round(px(i))
          }
          i += 1
        }
        (valid, s, px.length.toLong)
      }
      .toDF("valid", "s", "n")
      .agg(fsum("valid"), fsum("s"), fsum("n"), fcount("n"))
  }

  private def expect(w: Window): (Long, Long) = {
    val ts = for (y <- w.ty to w.ty + 1; x <- w.tx to w.tx + 1; t <- truth.get((w.level, y, x))) yield t
    (ts.map(_.valid.sum).sum, ts.map(_.qsum.sum).sum)
  }

  private def result(r: org.apache.spark.sql.Row): (Long, Long, Long, Long) =
    if (r.isNullAt(0)) (0L, 0L, 0L, r.getLong(3))
    else (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))

  private def judge(got: (Long, Long), want: (Long, Long), what: String): (Boolean, String) =
    if (got == want) (true, "") else (false, s"$what $got != truth $want")

  private def scanTruth = {
    val l0 = truth.values.filter(_.level == 0)
    (l0.map(_.valid.sum).sum, l0.map(_.qsum.sum).sum)
  }

  def op(i: Int, rng: java.util.Random): Op = draw(rng) match {
    case w: Window =>
      val (row, s) = timed {
        val df = windowFrame(w)
        df.queryExecution.executedPlan
        df.collect().head
      }
      val (v, q, n, _) = result(row)
      val (ok, note) = judge((v, q), expect(w), s"window $w")
      Op(s, s, n * 2, ok, "window", note)
    case Scan =>
      val ((v, q, n, _), s) = timed(
        TileTruth.readBack(CogReader.read(spark, uri, prof, 0), prof.nodata))
      val (ok, note) = judge((v, q), scanTruth, "scan")
      Op(s, s, n * 2, ok, "scan", note)
  }

  def tracedOp(i: Int, rng: java.util.Random, t: Tracer): Op = draw(rng) match {
    case w: Window =>
      val (row, s) = timed {
        val df = t("sources.plan") {
          val d = windowFrame(w)
          d.queryExecution.executedPlan
          d
        }
        t("sources.scan")(df.collect().head)
      }
      val (v, q, n, tiles) = result(row)
      count("sources.scan.tiles", tiles.toDouble)
      val (ok, note) = judge((v, q), expect(w), s"window $w")
      Op(s, s, n * 2, ok, "window", note)
    case Scan =>
      val ((v, q, n, _), s) = timed(t("raster.read")(
        TileTruth.readBack(CogReader.read(spark, uri, prof, 0), prof.nodata)))
      val (ok, note) = judge((v, q), scanTruth, "scan")
      Op(s, s, n * 2, ok, "scan", note)
  }

  def fileBytesPerInputByte: Double = fileBytes.toDouble / Cog.rawBytes(prof)
  override def record: Map[String, Any] = Map("edge" -> edge, "levels" -> (prof.maxLevel + 1),
    "scan_share" -> scanShare)
}

/** A seeded word-soup corpus shaped like the engine's `documents`
  * table: doc lengths of 10-99 words over a 30-word vocabulary, a
  * fixed 1-in-20 share of docs that repeat an earlier original doc plus
  * one marker word, five languages and twenty sources. Copies are only
  * ever made of originals, so every duplicate cluster is a star and the
  * clustering's round count does not vary with the seed. */
object Corpus {
  val Vocab: Array[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part fast " +
    "row the agg key query a scan batch").split(" ")
  val Langs: Array[String] = Array("en", "en", "en", "fr", "es", "zh", "de")

  def docs(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] = {
    val rng = new java.util.Random(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i % 20 == 7) {
          var j = rng.nextInt(i)
          if (j % 20 == 7) j -= 1
          texts(j) + " dup"
        }
        else Seq.fill(10 + rng.nextInt(90))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      texts(i) = text
      (i.toLong, text, Langs(rng.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }
  }
}

/** `dedup`: `DedupQueries.dedupClusters` then `dedupMinhash` over a
  * seeded `documents` table, with the memoized caches released between
  * ops the way the engine's bench harness does. */
final class DedupWorkload(spark: SparkSession, seed: Long, work: Path, nDocs: Int)
    extends Workload(spark, seed, work) {
  val name = "dedup"
  private var dir: Path = null
  private var textBytes = 0L
  private var parquetBytes = 0L

  def setup(): Unit = {
    import spark.implicits._
    if (dir != null) Cog.rmTree(dir)
    dir = freshDir("corpus-")
    val docs = Corpus.docs(seed, nDocs)
    textBytes = docs.map(_._2.getBytes("UTF-8").length.toLong).sum
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    parquetBytes = {
      val s = Files.walk(dir.resolve("documents.parquet"))
      try s.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }
  }

  private def sfDir = dir.toString

  /** The truth lives outside the JVM: `run.py` runs the DuckDB oracle
    * over the same parquet after the run. */
  def prepareChecks(): Unit = ()

  /** The per-query storage isolation of the engine's bench harness. */
  private def release(): Unit = {
    DedupQueries.releaseClusterCheckpoints()
    PipelineQueries.evictShingleCache()
    MinHashLSH.releaseCachedFrames()
    spark.catalog.clearCache()
    System.gc()
  }

  private def clusters() = DedupQueries.dedupClusters(spark, sfDir).collect()
  private def minhash() = DedupQueries.dedupMinhash(spark, sfDir).select("id_a", "id_b").collect()

  private def finish(cl: Array[org.apache.spark.sql.Row], mh: Array[org.apache.spark.sql.Row],
      s: Double, opS: Double): Op = {
    release()
    // checked by run.py: the digest against the DuckDB clusters, the
    // minhash pairs against the DuckDB exact n-gram pairs
    val digest = Main.sha256(cl.map(r => s"${r.getLong(0)},${r.getLong(1)}\n").mkString)
    Op(s, opS, textBytes, cl.nonEmpty, "dedup", if (cl.nonEmpty) "" else "no cluster rows",
      digest, mh.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  def op(i: Int, rng: java.util.Random): Op = {
    val ((cl, mh), s) = timed((clusters(), minhash()))
    finish(cl, mh, s, s)
  }

  def tracedOp(i: Int, rng: java.util.Random, t: Tracer): Op = {
    val t0 = System.nanoTime()
    // steps dedupClusters runs internally, re-run from outside: the
    // shingle universe, then the exact n-gram pairs built on it
    t("queries.shingles")(PipelineQueries.keptShingles(spark, sfDir).count())
    val pairs = t("queries.ngram")(PipelineQueries.dedupNgram(spark, sfDir).count())
    count("queries.ngram.pairs", pairs.toDouble)
    release()
    // the calls themselves, as the untraced op makes them
    val ((cl, mh), s) = timed((t("queries.clusters")(clusters()), t("text.minhash")(minhash())))
    finish(cl, mh, s, (System.nanoTime() - t0) / 1e9)
  }

  /** Σ C(df, 2) over the kept shingles — the candidate rows the exact
    * pair join materializes — and the share of them that are output. */
  override def phaseCounts(): Map[String, Double] = {
    val df = PipelineQueries.keptShingles(spark, sfDir).groupBy("shingle").count()
      .agg(fsum(col("count") * (col("count") - 1) / 2)).head().getDouble(0)
    release()
    Map("queries.ngram.pair_rows" -> df,
      "queries.ngram.useful_ratio" ->
        counts.get("queries.ngram.pairs").fold(0.0) { case (p, k) => if (df > 0) p / k / df else 0.0 })
  }

  def corpusPath: String = dir.resolve("documents.parquet").toString

  def fileBytesPerInputByte: Double = parquetBytes.toDouble / textBytes
  override def record: Map[String, Any] = Map("docs" -> nDocs,
    "text_bytes" -> textBytes,
    "corpus" -> corpusPath, "oracle_sql" -> DedupQueries.dedupClustersSql,
    "oracle_pairs_cte" -> DedupOracleSql.ngramPairsCte)
}
