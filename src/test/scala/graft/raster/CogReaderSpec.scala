package graft.raster

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Write → read round trip through the distributed COG reader: every
  * level reconstructs the exact tiles the pyramid produced, including
  * masks, sparse tiles, and multiband interleave. */
class CogReaderSpec extends SparkSpec {

  val ND = -9999.0

  def writeCog(prof: RasterProfile, seed: Long): (String, Map[(Int, Int, Int), Tile]) = {
    val s = spark
    val levels = Pyramid.build(SyntheticRaster.generate(s, prof, seed), prof)
    val expected = levels.flatMap(_.collect()).map(t => (t.level, t.ty, t.tx) -> t).toMap
    levels.foreach(_.unpersist())
    val dir = Files.createTempDirectory("graft-read").toString
    val (bytes, _) = CogWriter.writeBytes(
      SyntheticRaster.generate(s, prof, seed), prof, dir)
    val f = Paths.get(dir, "assembled.tif")
    Files.write(f, bytes)
    ("file://" + f, expected)
  }

  test("multiband + mask pages: every level round-trips exactly") {
    val prof = RasterProfile(96, 80, blockSize = 16, bands = 2, nodata = ND,
      minOverviewSize = 32, maskPages = true)
    val (uri, expected) = writeCog(prof, seed = 55L)
    for (l <- 0 to prof.maxLevel) {
      val got = CogReader.read(spark, uri, prof, l).collect()
      val (gw, gh) = prof.gridDims(l)
      assert(got.length == gw * gh, s"level $l tile count")
      for (t <- got) {
        val e = expected((l, t.ty, t.tx))
        assert(t.h == e.h && t.w == e.w)
        for (b <- 0 until 2; i <- 0 until t.h * t.w) {
          val want = if (e.valid(b * e.h * e.w + i, ND)) e.pixels(b * e.h * e.w + i) else ND
          assert(t.pixels(b * t.h * t.w + i) == want,
            s"level $l tile(${t.ty},${t.tx}) band $b px $i")
        }
        // mask restores the shared any-band validity plane
        for (i <- 0 until t.h * t.w) {
          val anyValid = (0 until 2).exists(b => e.valid(b * e.h * e.w + i, ND))
          assert((t.mask(i) != 0) == anyValid, s"level $l mask $i")
        }
      }
    }
  }

  test("DSv2: spark.read.format(\"cog\") infers the profile and round-trips all levels") {
    val prof = RasterProfile(96, 80, blockSize = 16, bands = 2, nodata = ND,
      minOverviewSize = 32, maskPages = true)
    val (uri, expected) = writeCog(prof, seed = 91L)
    val df = spark.read.format("cog").load(uri)
    // all levels come back as rows; schema is the tile schema
    assert(df.columns.toSeq == Seq("level", "ty", "tx", "h", "w", "pixels",
      "mask", "minx", "miny", "maxx", "maxy", "src"))
    val got = df.collect()
    assert(got.length == (0 to prof.maxLevel).map(prof.tilesPerLevel).sum)
    for (r <- got) {
      val (l, ty, tx) = (r.getInt(0), r.getInt(1), r.getInt(2))
      val e = expected((l, ty, tx))
      assert(r.getInt(3) == e.h && r.getInt(4) == e.w)
      val px = r.getSeq[Double](5)
      for (b <- 0 until 2; i <- 0 until e.h * e.w) {
        val want = if (e.valid(b * e.h * e.w + i, ND)) e.pixels(b * e.h * e.w + i) else ND
        assert(px(b * e.h * e.w + i) == want, s"dsv2 level $l tile($ty,$tx) band $b px $i")
      }
    }
  }

  test("DSv2 write: df.write.format(\"cog\") round-trips through the pure DSv2 API") {
    val prof = RasterProfile(96, 80, blockSize = 16, bands = 1, nodata = ND,
      minOverviewSize = 32)
    val (uri, expected) = writeCog(prof, seed = 77L)
    // read the library-written file through DSv2, write a NEW cog from
    // its level-0 rows through DSv2 (geometry inferred from the tile
    // columns), read that back through DSv2
    val df = spark.read.format("cog").load(uri)
    val out = Files.createTempDirectory("graft-dsv2w").toString + "/out.tif"
    df.write.format("cog")
      .option("nodata", ND.toString).option("minoverviewsize", "32")
      .mode("append").save(out)
    val back = spark.read.format("cog").load("file://" + out)
    // pyramid regenerated: same level count, level-0 pixels exact
    assert(back.where("level = 0").count() == prof.tilesPerLevel(0))
    assert(back.agg(org.apache.spark.sql.functions.max("level")).head().getInt(0)
      == prof.maxLevel)
    for (r <- back.where("level = 0").collect()) {
      val e = expected((0, r.getInt(1), r.getInt(2)))
      val px = r.getSeq[Double](5)
      for (i <- 0 until e.h * e.w) {
        val want = if (e.valid(i, ND)) e.pixels(i) else ND
        assert(px(i) == want, s"dsv2-write tile(${r.getInt(1)},${r.getInt(2)}) px $i")
      }
    }
    // append to an existing file refuses; overwrite replaces
    val ex = intercept[Exception](
      df.write.format("cog").option("nodata", ND.toString).mode("append").save(out))
    assert(ex.getMessage.contains("immutable") || ex.getMessage.contains("exists"))
    df.write.format("cog").option("nodata", ND.toString).mode("overwrite").save(out)
    assert(spark.read.format("cog").load("file://" + out)
      .where("level = 0").count() == prof.tilesPerLevel(0))
  }

  test("classic write (bigtiff=false) round-trips through CogReader and the DSv2 source") {
    // same multiband+mask shape as the BigTIFF round trip, but the
    // writer emits classic v42 (4-byte offsets, 12-byte IFD entries) —
    // GDAL's default for files under 4 GiB, the interop mode a
    // reference user exchanging small files with that toolchain hits
    val prof = RasterProfile(96, 80, blockSize = 16, bands = 2, nodata = ND,
      minOverviewSize = 32, maskPages = true, bigtiff = false)
    val (uri, expected) = writeCog(prof, seed = 133L)
    val head = Files.readAllBytes(Paths.get(new java.net.URI(uri)))
    assert(head(0) == 0x49 && head(1) == 0x49 &&
      head(2) == 42 && head(3) == 0, "file header is classic little-endian v42")

    // our own reader: every level reconstructs exactly, masks included
    for (l <- 0 to prof.maxLevel) {
      val got = CogReader.read(spark, uri, prof, l).collect()
      val (gw, gh) = prof.gridDims(l)
      assert(got.length == gw * gh, s"level $l tile count")
      for (t <- got) {
        val e = expected((l, t.ty, t.tx))
        for (b <- 0 until 2; i <- 0 until t.h * t.w) {
          val want = if (e.valid(b * e.h * e.w + i, ND)) e.pixels(b * e.h * e.w + i) else ND
          assert(t.pixels(b * t.h * t.w + i) == want,
            s"classic level $l tile(${t.ty},${t.tx}) band $b px $i")
        }
      }
    }

    // DSv2 source: profile inference + full read of the same file
    val df = spark.read.format("cog").load(uri)
    val got = df.collect()
    assert(got.length == (0 to prof.maxLevel).map(prof.tilesPerLevel).sum)
    for (r <- got; if r.getInt(0) == 0) {
      val e = expected((0, r.getInt(1), r.getInt(2)))
      val px = r.getSeq[Double](5)
      for (b <- 0 until 2; i <- 0 until e.h * e.w) {
        val want = if (e.valid(b * e.h * e.w + i, ND)) e.pixels(b * e.h * e.w + i) else ND
        assert(px(b * e.h * e.w + i) == want,
          s"classic dsv2 tile(${r.getInt(1)},${r.getInt(2)}) band $b px $i")
      }
    }

    // DSv2 WRITE with option("bigtiff","false") emits classic too
    val out = Files.createTempDirectory("graft-classicw").toString + "/classic.tif"
    df.where("level = 0")
      .write.format("cog")
      .option("nodata", ND.toString).option("minoverviewsize", "32")
      .option("bands", "2").option("bigtiff", "false")
      .mode("append").save(out)
    val outHead = Files.readAllBytes(Paths.get(out))
    assert(outHead(2) == 42 && outHead(3) == 0, "DSv2-written file is classic v42")
    assert(spark.read.format("cog").load("file://" + out)
      .where("level = 0").count() == prof.tilesPerLevel(0))
  }

  test("DSv2 mosaic: a directory of COGs reads as one table with per-file bbox pruning") {
    // two 48x32 rasters side by side in world space: A at x=[500000,
    // 500480), B at x=[500480, 500960)
    val dir = Files.createTempDirectory("graft-mosaic").toString
    for ((name, originX, seed) <- Seq(("a.tif", 500000.0, 61L), ("b.tif", 500480.0, 62L))) {
      val p = RasterProfile(48, 32, blockSize = 16, nodata = ND,
        minOverviewSize = 16,
        geo = Some(GeoRef(10.0, 10.0, originX, 6400000.0, 32633)))
      val bytes = CogWriter.writeBytes(
        SyntheticRaster.generate(spark, p, seed), p,
        Files.createTempDirectory("graft-mosaic-w").toString)._1
      Files.write(Paths.get(dir, name), bytes)
    }
    val df = spark.read.format("cog").load(dir)
    // both files contribute; src distinguishes them
    val srcs = df.select("src").distinct().collect().map(_.getString(0)).sorted
    assert(srcs.length == 2 && srcs(0).endsWith("a.tif") && srcs(1).endsWith("b.tif"))
    val p0 = RasterProfile(48, 32, blockSize = 16, nodata = ND, minOverviewSize = 16)
    val perLevelTiles = (0 to p0.maxLevel).map(p0.tilesPerLevel).sum
    assert(df.count() == 2L * perLevelTiles)

    // bbox inside file B only: planning keeps zero partitions for A
    val bboxed = df.where("level = 0 AND minx >= 480.0 + 500000.0")
    val rows = bboxed.collect()
    assert(rows.nonEmpty && rows.forall(_.getString(11).endsWith("b.tif")))
    // header-only metadata scan across the mosaic
    assert(df.where("level = 0").select("ty", "tx", "src").count() == 2L * p0.tilesPerLevel(0))
  }

  test("inferProfile recovers the full profile from the file alone, incl. geo") {
    val prof = RasterProfile(96, 80, blockSize = 16, bands = 2, nodata = -42,
      dtype = "int16", minOverviewSize = 32, maskPages = true,
      geo = Some(GeoRef(10.0, 10.0, 500000.0, 6400000.0, 32633)))
    val (uri, _) = writeCog(prof, seed = 94L)
    val inferred = CogReader.inferProfile(CogReader.readMeta(uri))
    assert(inferred.width == 96 && inferred.height == 80)
    assert(inferred.blockSize == 16 && inferred.bands == 2)
    assert(inferred.dtype == "int16" && inferred.nodata == -42.0)
    assert(inferred.compression == "deflate" && inferred.maskPages)
    assert(inferred.maxLevel == prof.maxLevel)
    val g = inferred.geo.getOrElse(fail("geo not inferred"))
    assert(g.pixelW == 10.0 && g.pixelH == 10.0)
    assert(g.originX == 500000.0 && g.originY == 6400000.0)
    assert(g.epsg == 32633 && !g.isGeographic)

    // geographic CRS goes through the other GeoKey
    val prof2 = prof.copy(bands = 1, maskPages = false,
      geo = Some(GeoRef(0.01, 0.01, 149.0, -35.0, 4326)))
    val (uri2, _) = writeCog(prof2, seed = 95L)
    val g2 = CogReader.inferProfile(CogReader.readMeta(uri2)).geo
      .getOrElse(fail("geographic geo not inferred"))
    assert(g2.epsg == 4326 && g2.isGeographic)
  }

  test("DSv2: level/ty/tx predicates prune tiles at planning") {
    val prof = RasterProfile(96, 80, blockSize = 16, nodata = ND,
      minOverviewSize = 32)
    val (uri, expected) = writeCog(prof, seed = 92L)
    val df = spark.read.format("cog").load(uri)

    // level equality: only that level's tiles planned AND returned
    val l1 = df.where("level = 1").collect()
    assert(l1.length == prof.tilesPerLevel(1))
    assert(l1.forall(_.getInt(0) == 1))

    // ty/tx range on L0: exact expected subset
    val sub = df.where("level = 0 AND ty >= 1 AND tx < 2").collect()
    val (gw0, gh0) = prof.gridDims(0)
    assert(sub.length == (gh0 - 1) * 2)
    assert(sub.forall(r => r.getInt(1) >= 1 && r.getInt(2) < 2))
    // values still correct through the pruned path
    for (r <- sub) {
      val e = expected((0, r.getInt(1), r.getInt(2)))
      val px = r.getSeq[Double](5)
      assert(px.head == (if (e.valid(0, ND)) e.pixels(0) else ND))
    }

    // the scan itself reports the pruning (planning-time, not row filter)
    val planned = df.where("level = 1").queryExecution.executedPlan.toString
    assert(planned.contains("pruned") && planned.contains("level in [1,1]"),
      s"expected pruned scan in plan:\n$planned")

    // same-column equality disjunction collapses to an allowed set
    val orRows = df.where("level = 0 OR level = 2").collect()
    assert(orRows.map(_.getInt(0)).toSet == Set(0, 2))
    assert(orRows.length == prof.tilesPerLevel(0) + prof.tilesPerLevel(2))
    val orPlan = df.where("level = 0 OR level = 2").queryExecution.executedPlan.toString
    assert(orPlan.contains("level in {0,2}"), s"expected set pruning in plan:\n$orPlan")
  }

  test("DSv2: column pruning makes metadata-only scans header-only") {
    val prof = RasterProfile(96, 80, blockSize = 16, nodata = ND,
      minOverviewSize = 32)
    val (uri, _) = writeCog(prof, seed = 93L)
    // truncate the file to its header: any scan touching tile bytes
    // now fails, so a passing metadata query PROVES zero tile IO
    val full = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(new java.net.URI(uri)))
    val headerOnly = java.util.Arrays.copyOfRange(full, 0,
      BigTiff.headerLength(prof).toInt)
    val trunc = java.nio.file.Files.createTempFile("graft-truncated", ".tif")
    java.nio.file.Files.write(trunc, headerOnly)
    val df = spark.read.format("cog").load("file://" + trunc)
    val total = (0 to prof.maxLevel).map(prof.tilesPerLevel).sum
    assert(df.count() == total)
    val inv = df.groupBy("level").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert((0 to prof.maxLevel).forall(l => inv(l) == prof.tilesPerLevel(l)))
    // pruned schema shows in the scan description
    val plan = df.select("level", "ty", "tx").queryExecution.executedPlan.toString
    assert(plan.contains("columns(level,ty,tx)"), s"expected pruned columns in:\n$plan")
    // and the same file CANNOT serve pixels (tile bytes are gone)
    intercept[Exception] {
      df.select("pixels").collect()
    }
  }

  test("abandoned iterator (limit) does not leak file handles") {
    val prof = RasterProfile(96, 80, blockSize = 16, nodata = ND,
      minOverviewSize = 32)
    val (uri, _) = writeCog(prof, seed = 77L)
    def openFds(): Int = new java.io.File("/proc/self/fd").list().length
    // warm the path once (FileSystem cache, codegen)
    CogReader.read(spark, uri, prof).limit(1).collect()
    val before = openFds()
    // each limit(1) abandons the per-partition iterator before
    // exhaustion — pre-fix this leaked one stream per executed task
    for (_ <- 1 to 30) {
      val got = CogReader.read(spark, uri, prof).limit(1).collect()
      assert(got.length == 1)
    }
    val after = openFds()
    assert(after - before < 15, s"fd growth $before -> $after suggests leaked streams")
  }

  test("sparse tiles reconstruct as nodata without file reads") {
    val s = spark
    import s.implicits._
    val prof = RasterProfile(64, 32, blockSize = 16, nodata = ND,
      overviewCount = Some(0))
    // right half entirely nodata → 2 sparse tiles
    val tiles = for (ty <- 0 until 2; tx <- 0 until 4) yield
      Tile(0, ty, tx, 16, 16, Array.fill(256)(if (tx < 2) 3.0 else ND), null)
    val dir = Files.createTempDirectory("graft-read2").toString
    val (bytes, res) = CogWriter.writeBytes(s.createDataset(tiles), prof, dir)
    assert(res.nSparse == 4)
    val f = Paths.get(dir, "assembled.tif")
    Files.write(f, bytes)
    val got = CogReader.read(s, "file://" + f, prof).collect()
      .map(t => (t.ty, t.tx) -> t).toMap
    for (((_, tx), t) <- got) {
      if (tx < 2) assert(t.pixels.forall(_ == 3.0))
      else {
        assert(t.pixels.forall(_ == ND))
        assert(t.mask != null && t.mask.forall(_ == 0))
      }
    }
  }

  test("CogReader.read plans no shuffle: the level scan runs where its tiles are read") {
    val prof = RasterProfile(96, 80, blockSize = 16, nodata = ND,
      minOverviewSize = 32)
    val (uri, expected) = writeCog(prof, seed = 78L)
    val sc = spark.sparkContext
    var got = Array.empty[Tile]
    val decodeBytes = JobCounter.shuffleBytesOf(sc) {
      got = CogReader.read(spark, uri, prof, 0).collect()
    }
    assert(got.map(t => (t.level, t.ty, t.tx)).toSet == expected.keySet.filter(_._1 == 0))
    val countBytes = JobCounter.shuffleBytesOf(sc) {
      assert(CogReader.read(spark, uri, prof, 1).count() == prof.tilesPerLevel(1))
    }
    assert(decodeBytes == 0L && countBytes == 0L,
      s"shuffle bytes written: collect $decodeBytes, count $countBytes")
  }

  test("read rejects a negative level with a clear argument error") {
    val prof = RasterProfile(64, 32, blockSize = 16, nodata = ND,
      overviewCount = Some(0))
    val (uri, _) = writeCog(prof, seed = 79L)
    val ex = intercept[IllegalArgumentException](CogReader.read(spark, uri, prof, -1))
    assert(ex.getMessage.contains("level -1"), ex.getMessage)
  }

  test("read refuses a strip-organized file and points at readStrips") {
    val (width, height, rps) = (40, 25, 8)
    val strips = (0 until (height + rps - 1) / rps).map { si =>
      TileCodec.deflate(new Array[Byte](math.min(rps, height - si * rps) * width))
    }.toArray
    val f = Paths.get(Files.createTempDirectory("graft-read-strips").toString, "s.tif")
    Files.write(f, ClassicTiff.emitStripped(width, height, rps, 8, strips))
    val prof = RasterProfile(width, height, blockSize = 16, nodata = 0,
      dtype = "uint8", overviewCount = Some(0))
    val ex = intercept[IllegalArgumentException](
      CogReader.read(spark, "file://" + f, prof, 0).collect())
    assert(ex.getMessage.contains("readStrips"), ex.getMessage)
  }
}
