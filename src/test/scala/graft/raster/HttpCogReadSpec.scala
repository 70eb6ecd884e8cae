package graft.raster

import graft.SparkSpec
import graft.sink.MockS3Server
import graft.sources.HttpRangeFileSystem

/** COG consumption straight off an HTTP object store through
  * HttpRangeFileSystem — the production access pattern (COG on S3 via
  * ranged GETs) run against the in-process mock: header probe and tile
  * reads must all be bounded range requests, never a full-object
  * download, and every existing read surface (CogReader, the DSv2
  * source) must work on an `http://` URI unchanged. */
class HttpCogReadSpec extends SparkSpec {

  val ND = -9999.0
  val prof = RasterProfile(160, 96, blockSize = 16, nodata = ND,
    resampling = "average", minOverviewSize = 32, dtype = "float64")

  def withCogServer(f: (MockS3Server, String, Array[Byte]) => Unit): Unit = {
    val srv = new MockS3Server
    try {
      val level0 = SyntheticRaster.generate(spark, prof, seed = 31L)
      val (bytes, _) = CogWriter.writeBytes(level0, prof,
        java.nio.file.Files.createTempDirectory("graft-http").toString)
      srv.putObject("rasters", "demo.tif", bytes)
      srv.resetReadAccounting()
      f(srv, s"${srv.endpoint}/rasters/demo.tif", bytes)
    } finally srv.stop()
  }

  val fsConf = Map("fs.http.impl" -> classOf[HttpRangeFileSystem].getName)

  test("readMeta over http: KB-scale header probe, no unbounded GET") {
    withCogServer { (srv, uri, bytes) =>
      val pages = CogReader.readMeta(uri, fsConf)
      val local = BigTiff.readPages(bytes)
      assert(pages.map(p => (p.width, p.height, p.isMask)) ==
        local.map(p => (p.width, p.height, p.isMask)))
      assert(srv.unboundedGets == 0, "header probe issued an unbounded GET")
      // this fixture's header fits the FIRST probe rung: the whole meta
      // read must transfer <= 64 KiB, not the old flat 4 MiB
      assert(srv.rangedGetSizes.nonEmpty &&
        srv.rangedGetSizes.max <= (64L << 10),
        s"probe exceeded the 64 KiB first rung: ${srv.rangedGetSizes.max}")
    }
  }

  test("probe ladder climbs when the header outgrows the 64 KiB rung") {
    val srv = new MockS3Server
    try {
      // 1024x1024 bs16 = 4096 level-0 tiles (+overviews): offset/count
      // arrays alone outgrow 64 KiB, so readMeta must climb to the
      // 4 MiB rung via HeaderProbeTooSmall and still parse
      val big = RasterProfile(1024, 1024, blockSize = 16, nodata = ND,
        minOverviewSize = 256)
      val bytes = CogWriter.writeBytes(
        SyntheticRaster.generate(spark, big, seed = 41L), big,
        java.nio.file.Files.createTempDirectory("graft-http-big").toString)._1
      srv.putObject("rasters", "big.tif", bytes)
      srv.resetReadAccounting()
      val pages = CogReader.readMeta(s"${srv.endpoint}/rasters/big.tif", fsConf)
      assert(pages.nonEmpty && pages.head.width == 1024)
      val sizes = srv.rangedGetSizes
      assert(sizes.contains(64L << 10), s"first rung not probed: $sizes")
      assert(sizes.exists(_ > (64L << 10)), s"ladder never climbed: $sizes")
      assert(sizes.max <= (4L << 20), s"climbed past the 4 MiB rung: $sizes")
      assert(srv.unboundedGets == 0)
    } finally srv.stop()
  }

  test("CogReader.read over http decodes pixel-exact at every level") {
    withCogServer { (srv, uri, bytes) =>
      for (l <- 0 to prof.maxLevel) {
        val viaHttp = CogReader.read(spark, uri, prof, l, fsConf)
          .collect().map(t => (t.ty, t.tx) -> t.pixels.toSeq).toMap
        val local = CogReader.read(spark, "file://" + stageLocal(bytes), prof, l)
          .collect().map(t => (t.ty, t.tx) -> t.pixels.toSeq).toMap
        assert(viaHttp == local, s"level $l tiles differ over http")
      }
      assert(srv.unboundedGets == 0, "tile reads issued an unbounded GET")
      // every request respects the probe budget (this 147 KB fixture is
      // smaller than the 4 MiB header probe, so the probe covers it in
      // one bounded range — on a 100 GB object the same cap holds), and
      // actual tile reads are tile-scale
      assert(srv.rangedGetSizes.max <= (4L << 20),
        s"request above the probe budget: ${srv.rangedGetSizes.max}")
      assert(srv.rangedGetSizes.count(_ < 32 * 1024) > 10,
        "expected many tile-scale range requests")
    }
  }

  test("DSv2 source reads an http:// COG URI unchanged") {
    withCogServer { (srv, uri, bytes) =>
      val hc = spark.sparkContext.hadoopConfiguration
      val prev = Option(hc.get("fs.http.impl"))
      hc.set("fs.http.impl", classOf[HttpRangeFileSystem].getName)
      try {
        val df = spark.read.format("cog").load(uri)
        val localDf = spark.read.format("cog").load("file://" + stageLocal(bytes))
        assert(df.count() == localDf.count())
        // spot-check decoded pixels at full resolution
        val h = df.filter("level = 0").selectExpr("ty", "tx", "pixels")
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
        val l = localDf.filter("level = 0").selectExpr("ty", "tx", "pixels")
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
        assert(h == l, "DSv2 pixels differ between http:// and file://")
        assert(srv.unboundedGets == 0)
      } finally {
        prev match { case Some(v) => hc.set("fs.http.impl", v)
                     case None => hc.unset("fs.http.impl") }
      }
    }
  }

  test("transient 5xx during reads retries with backoff; read still lands") {
    withCogServer { (srv, uri, bytes) =>
      val conf = fsConf ++ Map("fs.http.impl.disable.cache" -> "true",
        "fs.http.retry.backoff.ms" -> "1")
      srv.failNextRequests(2) // throttle the HEAD, like S3 SlowDown
      val pages = CogReader.readMeta(uri, conf)
      assert(pages.nonEmpty, "meta read did not survive transient 500s")
      // and two tile-range GETs mid-read: the read re-fetches the
      // header on the driver first, so the failures are aimed at
      // ranges starting at or after the first tile byte
      val firstTile = pages.flatMap(_.offsets).filter(_ > 0).min
      srv.failNextRangedGetsFrom(firstTile, 2)
      val tiles = CogReader.read(spark, uri, prof, 0, conf).collect()
      assert(tiles.nonEmpty, "tile read did not survive transient 500s")
      assert(srv.failedBodyReadsPending == 0, "no tile GET hit the injected 500s")
    }
  }

  test("exhausted read retries fail loudly instead of looping") {
    withCogServer { (srv, uri, bytes) =>
      val conf = fsConf ++ Map("fs.http.impl.disable.cache" -> "true",
        "fs.http.retry.attempts" -> "2", "fs.http.retry.backoff.ms" -> "1")
      srv.failNextRequests(99)
      val ex = intercept[Exception] { CogReader.readMeta(uri, conf) }
      assert(ex.getMessage != null &&
        (ex.getMessage.contains("500") || ex.getMessage.contains("cannot determine")),
        s"expected the 5xx to surface: ${ex.getMessage}")
      srv.failNextRequests(0)
    }
  }

  test("range coalescing: full DSv2 read issues one fetch per span, not per tile") {
    withCogServer { (srv, uri, bytes) =>
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.http.impl", classOf[HttpRangeFileSystem].getName)
      try {
        val nTiles = (0 to prof.maxLevel).map(prof.tilesPerLevel).sum
        srv.resetReadAccounting()
        val n = spark.read.format("cog").load(uri)
          .selectExpr("ty", "tx", "pixels").count()
        assert(n > 0)
        // contiguous partitions + coalescing: tile-body requests merge
        // into a handful of spans; without coalescing this would be one
        // request per non-sparse tile (~nTiles). Budget: header probe +
        // a few spans per partition (local[4] in tests)
        val requests = srv.rangedGetSizes.length
        assert(requests < nTiles / 2,
          s"$requests range requests for $nTiles tiles — coalescing inactive?")
        assert(srv.unboundedGets == 0)

        // and the merged read decodes identically to coalescing OFF
        srv.resetReadAccounting()
        val off = spark.read.format("cog").option("range.gap", "-1").load(uri)
          .selectExpr("level", "ty", "tx", "pixels").collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getSeq[Double](3)).toMap
        val on = spark.read.format("cog").load(uri)
          .selectExpr("level", "ty", "tx", "pixels").collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getSeq[Double](3)).toMap
        assert(on == off, "coalesced read changed decoded pixels")
      } finally hc.unset("fs.http.impl")
    }
  }

  test("multi-path load: a mosaic over explicit http URIs (no listing needed)") {
    val srv = new MockS3Server
    try {
      // the two-file geo mosaic shape (same as the q_raster_mosaic
      // fixture): adjacent origins, one COG each — served as two http
      // objects, since http has no directory contract to list
      val local = java.nio.file.Files.createTempDirectory("graft-http-mosaic").toString
      for ((name, originX, seed) <- Seq(("a.tif", 500000.0, 71L), ("b.tif", 500640.0, 72L))) {
        val p = RasterProfile(64, 48, blockSize = 16, nodata = ND,
          minOverviewSize = 32,
          geo = Some(GeoRef(10.0, 10.0, originX, 6400000.0, 32633)))
        val bytes = CogWriter.writeBytes(
          SyntheticRaster.generate(spark, p, seed), p,
          java.nio.file.Files.createTempDirectory("graft-http-mw").toString)._1
        java.nio.file.Files.write(java.nio.file.Paths.get(local, name), bytes)
        srv.putObject("mosaic", name, bytes)
      }
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.http.impl", classOf[HttpRangeFileSystem].getName)
      try {
        val viaHttp = spark.read.format("cog")
          .load(s"${srv.endpoint}/mosaic/a.tif", s"${srv.endpoint}/mosaic/b.tif")
        val viaDir = spark.read.format("cog").load(local)
        assert(viaHttp.count() == viaDir.count())
        // per-file tile counts and geo extents agree with the listed dir
        def shape(df: org.apache.spark.sql.DataFrame) = {
          import org.apache.spark.sql.functions._
          df.filter("level = 0")
            .groupBy(element_at(split(col("src"), "/"), -1).as("file"))
            .agg(count(lit(1)).as("n"), min("minx").as("minx"), max("maxx").as("maxx"))
            .orderBy("file").collect().map(_.toSeq).toSeq
        }
        assert(shape(viaHttp) == shape(viaDir))
        assert(srv.unboundedGets == 0)
      } finally hc.unset("fs.http.impl")
    } finally srv.stop()
  }

  test("limit pushdown: limit(2) plans 2 tiles, not the mosaic") {
    withCogServer { (srv, uri, bytes) =>
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.http.impl", classOf[HttpRangeFileSystem].getName)
      try {
        val df = spark.read.format("cog").load(uri)
          .selectExpr("level", "ty", "tx", "pixels").limit(2)
        // the pushed limit is visible in the scan description...
        assert(df.queryExecution.executedPlan.toString.contains("limit=2"),
          df.queryExecution.executedPlan.toString.take(2000))
        assert(df.collect().length == 2)
        // ...and the IO proves it: header probe + at most a couple of
        // tile spans, nowhere near a full-file read
        srv.resetReadAccounting()
        assert(df.collect().length == 2)
        assert(srv.rangedGetSizes.length <= 6,
          s"limit(2) issued ${srv.rangedGetSizes.length} requests")
        // tile-key filters are consumed exactly at planning, so a
        // filtered limit stays exact too
        val lv1 = spark.read.format("cog").load(uri)
          .where("level = 1").selectExpr("ty", "tx").limit(3)
        assert(lv1.collect().length == 3)
      } finally hc.unset("fs.http.impl")
    }
  }

  test("missing object surfaces as FileNotFound, not a decode error") {
    withCogServer { (srv, uri, _) =>
      intercept[java.io.FileNotFoundException] {
        CogReader.readMeta(s"${srv.endpoint}/rasters/absent.tif", fsConf)
      }
    }
  }

  test("random seek/read sequences match the in-memory reference exactly") {
    val srv = new MockS3Server
    try {
      val rnd = new scala.util.Random(97)
      val ref = new Array[Byte](300 * 1024 + 17) // deliberately odd length
      rnd.nextBytes(ref)
      srv.putObject("fuzz", "blob.bin", ref)
      val fs = new org.apache.hadoop.fs.Path(s"${srv.endpoint}/fuzz/blob.bin")
        .getFileSystem(confWith(fsConf))
      val in = fs.open(new org.apache.hadoop.fs.Path(s"${srv.endpoint}/fuzz/blob.bin"))
      try {
        for (_ <- 0 until 200) rnd.nextInt(4) match {
          case 0 => // positioned readFully at a random window
            val pos = rnd.nextInt(ref.length)
            val len = math.min(1 + rnd.nextInt(64 * 1024), ref.length - pos)
            val buf = new Array[Byte](len)
            in.readFully(pos.toLong, buf, 0, len)
            assert(java.util.Arrays.equals(buf,
              java.util.Arrays.copyOfRange(ref, pos, pos + len)))
          case 1 => // seek + sequential read, possibly crossing EOF
            val pos = rnd.nextInt(ref.length)
            in.seek(pos.toLong)
            val want = math.min(1 + rnd.nextInt(8 * 1024), ref.length - pos + 5)
            val buf = new Array[Byte](want)
            val n = in.read(buf, 0, want)
            assert(n == math.min(want, ref.length - pos),
              s"read at $pos want $want got $n")
            assert(java.util.Arrays.equals(java.util.Arrays.copyOf(buf, n),
              java.util.Arrays.copyOfRange(ref, pos, pos + n)))
            assert(in.getPos == pos.toLong + n)
          case 2 => // single-byte read
            val pos = rnd.nextInt(ref.length)
            in.seek(pos.toLong)
            assert(in.read() == (ref(pos) & 0xFF))
          case 3 => // EOF + zero-length contracts
            in.seek(ref.length.toLong)
            assert(in.read() == -1)
            assert(in.read(ref.length.toLong, new Array[Byte](8), 0, 8) == -1)
            in.seek(0L)
            assert(in.read(new Array[Byte](8), 0, 0) == 0,
              "zero-length read must return 0, not EOF")
            assert(in.read(0L, new Array[Byte](8), 0, 0) == 0)
            intercept[java.io.EOFException] {
              in.readFully(ref.length.toLong - 4, new Array[Byte](8), 0, 8)
            }
            intercept[java.io.EOFException] { in.seek(ref.length.toLong + 1) }
        }
        assert(srv.unboundedGets == 0)
      } finally in.close()
    } finally srv.stop()
  }

  test("the filesystem refuses writes loudly") {
    withCogServer { (srv, uri, _) =>
      val fs = new org.apache.hadoop.fs.Path(uri)
        .getFileSystem(confWith(fsConf))
      intercept[UnsupportedOperationException] {
        fs.delete(new org.apache.hadoop.fs.Path(uri), false)
      }
    }
  }

  private def confWith(m: Map[String, String]) = {
    val c = new org.apache.hadoop.conf.Configuration()
    m.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def stageLocal(bytes: Array[Byte]): String = {
    val p = java.nio.file.Files.createTempFile("graft-http-local", ".tif")
    java.nio.file.Files.write(p, bytes)
    p.toString
  }
}
