package graft.raster

import graft.SparkSpec
import java.nio.file.Files

/** Golden end-to-end (SURVEY §5.2-3/4): seeded synthetic raster →
  * pyramid → encode → offsets → BigTIFF header → ordered multipart sink
  * → assembled bytes; then the file is parsed back with the minimal
  * BigTiff reader and every tile decoded and compared pixel-for-pixel
  * with the source — the engine's answer to the reference's
  * GDAL-oracle stance (reference README.md:69). */
class CogWriterSpec extends SparkSpec {

  val ND = -9999.0

  def tmpDir(): String =
    Files.createTempDirectory("graft-cog").toString

  /** 260×300, bs 16 → ragged edges both dims, 5 pyramid levels,
    * external offset arrays in the header. */
  val prof = RasterProfile(260, 300, blockSize = 16, nodata = ND,
    resampling = "average", minOverviewSize = 32, dtype = "float64")

  lazy val level0 = SyntheticRaster.generate(spark, prof, seed = 11L)
  lazy val written = CogWriter.writeBytes(level0, prof, tmpDir())

  test("assembled length = header + sum of part lengths; receipts contiguous") {
    val (bytes, res) = written
    assert(res.headerLen == BigTiff.headerLength(prof))
    assert(bytes.length.toLong == res.totalLen)
    assert(res.totalLen == res.headerLen + res.tileBytes)
    assert(res.nTiles == prof.totalTiles)
    assert(res.receipts.map(_.size).sum == res.totalLen)
  }

  test("header parses: one page per level, full-res first, dims/tags right") {
    val (bytes, res) = written
    val pages = BigTiff.readPages(bytes)
    assert(pages.length == prof.maxLevel + 1)
    for ((pg, l) <- pages.zipWithIndex) {
      val (w, h) = prof.levelDims(l)
      assert(pg.width == w && pg.height == h, s"level $l dims")
      assert(pg.tileW == 16 && pg.tileH == 16)
      assert(pg.compression == 8) // deflate
      assert(pg.bits == 64 && pg.sampleFormat == 3)
      assert(pg.offsets.length == prof.tilesPerLevel(l))
      assert(pg.counts.length == prof.tilesPerLevel(l))
    }
  }

  test("non-sparse offsets are in-bounds, non-overlapping, level-desc ordered") {
    val (bytes, res) = written
    val pages = BigTiff.readPages(bytes)
    val all = for {
      (pg, l) <- pages.zipWithIndex
      i <- pg.offsets.indices
      if pg.counts(i) > 0
    } yield (l, pg.offsets(i), pg.counts(i))
    for ((l, off, cnt) <- all) {
      assert(off >= res.headerLen, s"level $l tile inside header")
      assert(off + cnt <= bytes.length, s"level $l tile past EOF")
    }
    val sorted = all.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Seq((_, o1, c1), (_, o2, _)) => assert(o1 + c1 <= o2, "overlap")
      case _ => ()
    }
    // file body order is (level desc, row-major): levels must be
    // non-increasing along ascending offsets (reference ccog/ccog.py:747)
    sorted.map(_._1).sliding(2).foreach {
      case Seq(l1, l2) => assert(l1 >= l2, "level order in body")
      case _ => ()
    }
  }

  test("decode-and-compare: every level-0 pixel round-trips exactly") {
    val (bytes, _) = written
    val pg = BigTiff.readPages(bytes).head
    val (gw, _) = prof.gridDims(0)
    var checked = 0
    for (ti <- pg.offsets.indices) {
      val ty = ti / gw
      val tx = ti % gw
      val (th, tw) = prof.tileDims(0, ty, tx)
      if (pg.counts(ti) > 0) {
        val comp = java.util.Arrays.copyOfRange(bytes,
          pg.offsets(ti).toInt, (pg.offsets(ti) + pg.counts(ti)).toInt)
        val px = TileCodec.decode(comp, prof)
        for (y <- 0 until th; x <- 0 until tw) {
          val want = {
            val v = SyntheticRaster.pixelAt(11L, ty * 16L + y, tx * 16L + x, ND)
            if (SyntheticRaster.maskAt(11L, ty * 16L + y, tx * 16L + x) == 0) ND else v
          }
          assert(px(y * 16 + x) == want, s"tile($ty,$tx) px($y,$x)")
          checked += 1
        }
        // padding beyond the clipped region is nodata
        for (y <- th until 16; x <- 0 until 16)
          assert(px(y * 16 + x) == ND)
      }
    }
    assert(checked > 50000) // sanity: we actually compared the raster
  }

  test("sparse region: all-nodata tiles get offset 0, count 0, no bytes") {
    val s = spark
    import s.implicits._
    val p = RasterProfile(64, 64, blockSize = 16, nodata = ND,
      minOverviewSize = 16, dtype = "float64")
    // left half constant 5.0, right half all nodata → 8 sparse tiles at L0
    val tiles = for (ty <- 0 until 4; tx <- 0 until 4) yield
      Tile(0, ty, tx, 16, 16,
        Array.fill(256)(if (tx < 2) 5.0 else ND), null)
    val (bytes, res) = CogWriter.writeBytes(s.createDataset(tiles), p, tmpDir())
    assert(res.nSparse >= 8)
    val pages = BigTiff.readPages(bytes)
    val pg0 = pages.head
    for (ti <- pg0.offsets.indices) {
      val sparse = pg0.counts(ti) == 0
      assert(sparse == (ti % 4 >= 2), s"tile $ti sparsity")
      if (sparse) assert(pg0.offsets(ti) == 0)
    }
    // overview of the valid half keeps the constant value
    val pgTop = pages.last
    val nonSparse = pgTop.counts.indices.filter(pgTop.counts(_) > 0)
    assert(nonSparse.nonEmpty)
  }

  test("fused stats equal a relational aggregation over the same pixels") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val (_, res) = written
    val nd = ND // local copy: the lambda must not capture the suite
    val rel = level0
      .flatMap(t => t.pixels.indices.map(i =>
        (t.pixels(i), (t.mask == null || t.mask(i) != 0) && t.pixels(i) != nd)))
      .toDF("v", "valid")
      .agg(count(lit(1)), sum(when($"valid", 1L).otherwise(0L)),
        avg(when($"valid", $"v")), stddev_pop(when($"valid", $"v")),
        min(when($"valid", $"v")), max(when($"valid", $"v")))
      .head()
    val st = res.stats.head
    assert(st.pxTotal == rel.getLong(0))
    assert(st.pxValid == rel.getLong(1))
    assert(math.abs(st.mean - rel.getDouble(2)) < 1e-9)
    assert(math.abs(st.stddev - rel.getDouble(3)) < 1e-6)
    assert(st.min == rel.getDouble(4))
    assert(st.max == rel.getDouble(5))
  }

  test("mask pages: 2 pages/level, 1-bit tiles round-trip the validity plane") {
    val s = spark
    import s.implicits._
    val p = RasterProfile(96, 64, blockSize = 16, nodata = ND,
      minOverviewSize = 32, dtype = "float64", maskPages = true)
    val level0 = SyntheticRaster.generate(s, p, seed = 23L)
    val src = level0.collect().map(t => (t.ty, t.tx) -> t).toMap
    val (bytes, res) = CogWriter.writeBytes(level0, p, tmpDir())
    val pages = BigTiff.readPages(bytes)
    assert(pages.length == 2 * (p.maxLevel + 1))
    val (dataPages, maskPgs) = pages.partition(!_.isMask)
    assert(maskPgs.length == p.maxLevel + 1)
    for (pg <- maskPgs) {
      assert(pg.bits == 1 && pg.photometric == 4)
      assert((pg.subfileType & 4L) != 0)
    }
    // level-0 mask tiles decode to exactly the source validity plane
    val mp = maskPgs.head
    val (gw, _) = p.gridDims(0)
    for (ti <- mp.offsets.indices if mp.counts(ti) > 0) {
      val ty = ti / gw; val tx = ti % gw
      val t = src((ty, tx))
      val bits = TileCodec.decodeMask(java.util.Arrays.copyOfRange(bytes,
        mp.offsets(ti).toInt, (mp.offsets(ti) + mp.counts(ti)).toInt), p)
      for (y <- 0 until t.h; x <- 0 until t.w) {
        val want = if (t.valid(y * t.w + x, ND)) 1 else 0
        assert(bits(y * 16 + x) == want, s"mask tile($ty,$tx) ($y,$x)")
      }
    }
    // data+mask bytes interleave per tile in the body: for each (l,ty,tx)
    // the mask tile sits directly after its data tile
    val placedPairs = for {
      (dp, l) <- dataPages.zipWithIndex
      i <- dp.offsets.indices
      if dp.counts(i) > 0 && maskPgs(l).counts(i) > 0
    } yield (dp.offsets(i), dp.counts(i), maskPgs(l).offsets(i))
    placedPairs.foreach { case (doff, dcnt, moff) =>
      assert(doff + dcnt == moff, "mask tile must directly follow its data tile")
    }
    assert(res.totalLen == bytes.length.toLong)
  }

  test("overview compression override (R16) + band metadata tags (R23)") {
    val s = spark
    val p = RasterProfile(64, 64, blockSize = 16, nodata = ND,
      minOverviewSize = 16,
      overviewCompression = Some("none"),
      bandMeta = Seq(BandMeta(description = "reflectance", unit = "dn",
        scale = 0.01, offset = -5.0)))
    val (bytes, _) = CogWriter.writeBytes(
      SyntheticRaster.generate(s, p, seed = 41L), p, tmpDir())
    val pages = BigTiff.readPages(bytes)
    assert(pages.head.compression == 8, "L0 stays deflate")
    for (pg <- pages.tail) assert(pg.compression == 1, "overviews uncompressed")
    // an overview tile decodes through the per-level codec (raw bytes)
    val ov = pages(1)
    val ti = ov.counts.indexWhere(_ > 0)
    val px = TileCodec.decode(java.util.Arrays.copyOfRange(bytes,
      ov.offsets(ti).toInt, (ov.offsets(ti) + ov.counts(ti)).toInt), p, level = 1)
    assert(px.length == 16 * 16)
    assert(ov.counts(ti) == 16 * 16 * 8, "uncompressed tile is exactly bs*bs*8 bytes")
    // R23 items present with role attributes
    val xml = pages.head.metadataXml
    assert(xml.contains("""role="description">reflectance<"""))
    assert(xml.contains("""role="unittype">dn<"""))
    assert(xml.contains("""role="scale">0.01<"""))
    assert(xml.contains("""role="offset">-5.0<"""))
  }

  test("golden byte hash: the fixed 512² write reproduces its committed sha256") {
    // SURVEY §5.2-4: byte hash of the assembled file committed as a
    // golden. Everything upstream is partition-independent (seeded
    // pixels, per-tile deflate, decimal-accumulated header stats,
    // arithmetic part packing), verified byte-identical across 4- vs
    // 7-thread sessions before pinning. Changes to any codec/header
    // byte legitimately move this value — update deliberately.
    val df = graft.queries.RasterQueries.cogWriteBytes(spark, sfDir)
    val row = df.head()
    assert(row.getAs[String]("sha256") ==
      // re-pinned r5: the r4 GDAL_NODATA NUL-terminator change
      // (BigTiff.scala writeAscii) legitimately moved the header bytes;
      // decode-and-compare specs confirmed the pixel payload unchanged.
      "110bd3be71b2c311fa201d1f8a4052986f4ee282204f33e8bc6b1c3e87514d30")
    assert(row.getAs[Long]("file_len") == 2440285L)
    assert(row.getAs[Long]("header_len") == 2699L)
  }

  test("int16 with predictor: integer-valued raster round-trips exactly") {
    val s = spark
    import s.implicits._
    val p = RasterProfile(96, 80, blockSize = 16, nodata = -999,
      minOverviewSize = 32, dtype = "int16", resampling = "nearest")
    val tiles = for (ty <- 0 until 5; tx <- 0 until 6) yield {
      val (h, w) = p.tileDims(0, ty, tx)
      Tile(0, ty, tx, h, w,
        Array.tabulate(h * w)(i => (((ty * 7 + tx) * 131 + i * 13) % 30000 - 15000).toDouble), null)
    }
    val (bytes, _) = CogWriter.writeBytes(s.createDataset(tiles), p, tmpDir())
    val pg = BigTiff.readPages(bytes).head
    assert(pg.predictor == 2 && pg.bits == 16 && pg.sampleFormat == 2)
    val (gw, _) = p.gridDims(0)
    for (ti <- pg.offsets.indices if pg.counts(ti) > 0) {
      val ty = ti / gw; val tx = ti % gw
      val (th, tw) = p.tileDims(0, ty, tx)
      val px = TileCodec.decode(java.util.Arrays.copyOfRange(bytes,
        pg.offsets(ti).toInt, (pg.offsets(ti) + pg.counts(ti)).toInt), p)
      val src = tiles.find(t => t.ty == ty && t.tx == tx).get
      for (y <- 0 until th; x <- 0 until tw)
        assert(px(y * 16 + x) == src.pixels(y * tw + x), s"tile($ty,$tx) ($y,$x)")
    }
  }

  test("header stats hold where Σv² overflows decimal(38,12): float64 at 1e12 and 1e14") {
    val s = spark
    import s.implicits._
    val p = RasterProfile(64, 64, blockSize = 64, nodata = ND,
      minOverviewSize = 64, dtype = "float64")
    for (scale <- Seq(1e12, 1e14)) {
      // one 64×64 tile: Σv² ≈ 4096 · 1.3 · scale² ≥ 5e27, past the 26
      // integer digits a decimal(38,12) keeps
      val px = Array.tabulate(64 * 64)(i => scale * (1 + (i % 7) / 10.0))
      val (bytes, res) = CogWriter.writeBytes(
        s.createDataset(Seq(Tile(0, 0, 0, 64, 64, px, null))), p, tmpDir())
      val mean = px.sum / px.length
      val stddev = math.sqrt(px.map(v => (v - mean) * (v - mean)).sum / px.length)
      val xml = BigTiff.readPages(bytes).head.metadataXml
      for ((name, want) <- Seq("MEAN" -> mean, "STDDEV" -> stddev)) {
        val re = ("name=\"STATISTICS_" + name + """\s*" sample="0">([^<]+)<""").r
        val got = re.findFirstMatchIn(xml).map(_.group(1).trim.toDouble)
          .getOrElse(fail(s"STATISTICS_$name missing at $scale"))
        assert(math.abs(got - want) <= 1e-9 * want, s"$name at $scale: $got vs $want")
      }
      assert(math.abs(res.stats.head.mean - mean) <= 1e-9 * mean)
    }
  }

  test("exactSum matches Spark's decimal(38,12) sum for in-range partials") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    val rnd = new scala.util.Random(5)
    // mixed magnitudes and signs, several decimals past scale 12
    val xs = Array.fill(2000)((rnd.nextDouble() - 0.3) * math.pow(10, rnd.nextInt(26) - 12))
    val viaSpark = xs.toSeq.toDF("v")
      .agg(sum(col("v").cast("decimal(38,12)")).cast("double")).head().getDouble(0)
    assert(CogWriter.exactSum(xs) == viaSpark)
    assert(CogWriter.exactSum(xs.reverse) == viaSpark)
  }

  test("Offsets.place: exclusive prefix sum in (level desc, ty, tx, page) order") {
    val s = spark
    import s.implicits._
    // three levels, data + mask pages, sparse tiles (nbytes 0) among them
    val keys = for {
      level <- 0 to 2
      n = 4 >> level
      ty <- 0 until n; tx <- 0 until n; page <- 0 to 1
    } yield (level, ty, tx, page)
    val tiles = keys.map { case (l, ty, tx, pg) =>
      val n = if ((ty + tx + l) % 3 == 0) 0 else 1 + (ty * 7 + tx * 3 + l * 11 + pg) % 17
      EncodedTile(l, ty, tx, pg, n, Array.fill(n)((l * 16 + ty * 4 + tx).toByte),
        16, Array(n.toLong), Array(1.0), Array(1.0), Array(0.0), Array(1.0))
    }
    val shuffled = new scala.util.Random(3).shuffle(tiles)
    val encoded = s.createDataset(shuffled).repartition(5)
    val headerLen = 1000L
    val placement = Offsets.place(encoded, headerLen)
    try {
      val fileOrder = tiles.sortBy(e => (-e.level, e.ty, e.tx, e.page))
      val want = fileOrder.map(_.nbytes.toLong).scanLeft(headerLen)(_ + _)
        .zip(fileOrder).map { case (off, e) =>
          (e.level, e.ty, e.tx, e.page) -> (if (e.nbytes == 0) 0L else off)
        }.toMap
      assert(placement.meta.map(e => (e.level, e.ty, e.tx, e.page)).toSeq ==
        fileOrder.map(e => (e.level, e.ty, e.tx, e.page)))
      assert(placement.meta.forall(_.bytes.isEmpty), "metadata must not carry bytes")
      placement.meta.zip(placement.offsets).foreach { case (e, off) =>
        assert(off == want((e.level, e.ty, e.tx, e.page)), s"meta offset of $e")
      }
      val placed = placement.placed.collect()
      assert(placed.length == tiles.length)
      val src = tiles.map(e => (e.level, e.ty, e.tx, e.page) -> e).toMap
      placed.foreach { p =>
        val k = (p.level, p.ty, p.tx, p.page)
        assert(p.offset == want(k), s"placed offset of $k")
        assert(p.nbytes == src(k).nbytes && p.bytes.sameElements(src(k).bytes))
      }
      assert(tiles.exists(_.nbytes == 0) && tiles.exists(_.nbytes > 0))
    } finally placement.cached.unpersist()
  }

  test("write shape: one lanczos + mask-pages write submits at most 13 jobs") {
    val p = RasterProfile(256, 256, blockSize = 64, bands = 2, nodata = ND,
      resampling = "lanczos", minOverviewSize = 64, dtype = "float64",
      maskPages = true)
    assert(p.maxLevel == 2)
    val level0 = SyntheticRaster.generate(spark, p, seed = 13L)
    CogWriter.writeBytes(level0, p, tmpDir()) // warm: jobs are counted, not timed
    val jobs = JobCounter.jobsOf(spark.sparkContext) {
      CogWriter.writeBytes(level0, p, tmpDir())
    }
    // the encode runs in one job that fills the cache, and the sink's
    // hash shuffle runs without a sample job; a range shuffle over the
    // encode, or a Spark-side stats aggregation, adds jobs again
    assert(jobs <= 13, s"CogWriter.write submitted $jobs jobs")
  }
}

/** Counts the jobs a body submits and the shuffle bytes its tasks
  * write. Listener events arrive asynchronously but in order, so
  * counting between two sentinel jobs, one submitted before the body
  * and one after it returns, sees exactly the body's jobs and tasks. */
object JobCounter {
  import org.apache.spark.SparkContext
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

  private val Key = "graft.test.jobCounter"

  def jobsOf(sc: SparkContext)(body: => Unit): Int = measure(sc)(body)._1

  def shuffleBytesOf(sc: SparkContext)(body: => Unit): Long = measure(sc)(body)._2

  /** (jobs submitted, shuffle bytes written) by `body`. */
  private def measure(sc: SparkContext)(body: => Unit): (Int, Long) = {
    val tag = s"job-counter-${System.nanoTime()}"
    val sentinels = new java.util.concurrent.atomic.AtomicInteger
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Key) == tag)) {
          if (sentinels.incrementAndGet() == 2) done.countDown()
        } else if (sentinels.get == 1) counted.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (sentinels.get == 1 && e.taskMetrics != null)
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    def sentinel(): Unit = {
      sc.setLocalProperty(Key, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Key, null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel()
      body
      sentinel()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "sentinel job never seen")
      (counted.get, shuffled.get)
    } finally sc.removeSparkListener(listener)
  }
}
