package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Fixtures
import graft.multimodal.{BinaryCodec, TarShard}

/** Multimodal-column surface: media as opaque binary + typed metadata,
  * feature extraction batched in mapPartitions (SURVEY-adjacent; the
  * builder contract's multimodal requirement). ALL modalities decode
  * for REAL on a bare JRE: images and video frames through ImageIO
  * (PNG payloads; MJPEG-in-AVI containers), audio through the
  * from-scratch RIFF/PCM walker. NATIVE: binary/float ops aren't
  * DuckDB-comparable via the driver's hash (dims + sample means
  * asserted in MultimodalSpec instead). */
object MultimodalQueries {

  // Payloads are synthesized ONCE per (scale dir, modality) into a
  // parquet scratch table and read back by every query invocation: in
  // production the media bytes live in a stored table/lake column, so
  // the operator a pipeline actually pays for is scan + decode —
  // timing per-call synthesis (ImageIO ENCODING the fixtures) would
  // overstate the decode queries ~2× (same reasoning as the bucketed
  // warehouse memoization in JoinQueries). Distributed generate, one
  // write, swept at JVM exit. Staged (graft.Memo), one memo per modality.
  private val payloadDirs =
    Seq("png", "avi", "wav", "phash").map(_ -> graft.Memo.staged[String]()).toMap
  private def stagedPayloads(spark: SparkSession, sfDir: String,
      kind: String)(gen: Long => Array[Byte]) = {
    import spark.implicits._
    val dir = payloadDirs(kind)(spark, sfDir) { _ =>
      val d = graft.TmpDirs.create(s"graft_mm_$kind")
      Fixtures.documents(spark, sfDir)
        .select($"doc_id").as[Long]
        .map(id => (id, gen(id)))
        .toDF("doc_id", "payload")
        .write.mode("overwrite").parquet(d)
      d
    }
    spark.read.parquet(dir).as[(Long, Array[Byte])]
  }

  /** Per-document REAL PNG payload: dims derived from the id, pixels
    * splitmix noise — encoded by ImageIO, so everything downstream is
    * a genuine image decode without shipping image assets. */
  private def pngPayloads(spark: SparkSession, sfDir: String) =
    stagedPayloads(spark, sfDir, "png")(id =>
      BinaryCodec.syntheticPng(id * 7919L,
        8 + (id % 9).toInt, 6 + (id % 7).toInt))

  /** Binary image column → REAL ImageIO decode, batched 64 per call:
    * true width/height/channel count + per-sample mean. */
  def mmExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    pngPayloads(spark, sfDir)
      .mapPartitions(BinaryCodec.extractImagesBatched)
      .map { case (id, m) =>
        (id, m.nBytes, m.width, m.height, m.channels,
          math.round(m.meanSample * 10000) / 10000.0)
      }
      .toDF("doc_id", "n_bytes", "width", "height", "channels", "mean_sample")
      .orderBy($"doc_id")
  }

  /** REAL video frame sampling: each document carries a synthetic
    * MJPEG-in-AVI payload (structurally-real RIFF/AVI container, real
    * ImageIO-encoded JPEG frames — no assets shipped); the RIFF walker
    * finds the `movi` list and every 2nd frame JPEG-decodes into true
    * dimensions + per-sample mean (BinaryCodec.decodeAviFrames) — the
    * one-to-many flatMap/Generator shape a video curation pipeline
    * uses after decode. Narrow typed map + flatMap, zero shuffle; at
    * 100 TB this is a map stage whose cost is the decode itself. */
  def mmFrames(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    stagedPayloads(spark, sfDir, "avi")(id =>
      BinaryCodec.syntheticMjpegAvi(id * 104729L,
        16 + (id % 4).toInt * 8, 12 + (id % 3).toInt * 4,
        nFrames = 4 + (id % 5).toInt))
      .flatMap { case (id, payload) =>
        BinaryCodec.decodeAviFrames(payload, every = 2).map { fm =>
          (id, fm.frameIdx, fm.width, fm.height, fm.channels,
            math.round(fm.meanSample * 100) / 100.0)
        }
      }
      .toDF("doc_id", "frame_idx", "width", "height", "channels", "mean_sample")
      .orderBy($"doc_id", $"frame_idx")
  }

  /** REAL thumbnail resize: decode the PNG via ImageIO, exact
    * box-average filter to 4×3 (bit-deterministic — no Graphics2D
    * interpolation variance), emit the thumb dims + rounded mean. */
  def mmResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    pngPayloads(spark, sfDir)
      .map { case (id, payload) =>
        val (tw, th, samples) = BinaryCodec.resizeImage(payload, 4, 3)
        (id, payload.length, tw, th,
          math.round(samples.sum / samples.length * 10000) / 10000.0)
      }
      .toDF("doc_id", "n_bytes", "thumb_w", "thumb_h", "thumb_mean")
      .orderBy($"doc_id")
  }

  /** REAL audio decode: per-document 16-bit PCM WAV payloads (sine +
    * dither synthesized from doc_id — genuine bytes, no assets),
    * parsed by the from-scratch RIFF walker, emitting true header
    * fields + RMS level and zero-crossing count — the first-pass
    * features an audio curation pipeline filters on (silence /
    * clipping / crude pitch). Batched mapPartitions like the image
    * path; at 100 TB a narrow map stage, zero shuffle. */
  def mmAudio(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    stagedPayloads(spark, sfDir, "wav")(id =>
      BinaryCodec.syntheticWav(id * 6007L, 8000,
        800 + (id % 5).toInt * 160, 200.0 + (id % 300)))
      .mapPartitions(BinaryCodec.extractAudioBatched)
      .map { case (id, a) =>
        (id, a.nBytes, a.sampleRate, a.nSamples,
          math.round(a.durationMs * 100) / 100.0,
          math.round(a.rms * 10000) / 10000.0, a.zeroCrossings)
      }
      .toDF("doc_id", "n_bytes", "sample_rate", "n_samples",
        "duration_ms", "rms", "zero_crossings")
      .orderBy($"doc_id")
  }

  /** WebDataset-style shard materialization + read-back: pack the
    * image payloads into USTAR shards (per sample: `<key>.png` +
    * `<key>.json` metadata, the WebDataset adjacency convention —
    * see [[graft.multimodal.TarShard]]), FIXED-CAPACITY shards keyed
    * by `shard_id = doc_id / 128` — a pure function of the key, so
    * shard membership (hence shard bytes and this query's output) is
    * deterministic at ANY input partitioning and corpus size, and
    * shard size is bounded by construction. (A range-partition
    * derivation is only deterministic while each input partition
    * stays under the range sampler's reservoir size: RangePartitioner
    * seeds its sample by RDD id, so at larger inputs shard boundaries
    * become run-dependent.) Then re-read every shard, re-decode every
    * image, and roll up — the full materialize→consume loop a
    * multimodal training job runs. One shuffle, keyed on shard_id;
    * build and re-read are narrow per-group/map stages. NATIVE
    * (TarShardSpec: USTAR byte-offset goldens, checksum refusal,
    * round-trip, Python tarfile interop; MultimodalSpec pins the
    * repartitioning-invariance of the shard bytes). */
  /** One USTAR shard per fixed-capacity doc_id bucket — shard bytes
    * are a pure function of the input ROWS, independent of their
    * partitioning (pinned by TarShardSpec). */
  private[graft] def packShards(
      ds: org.apache.spark.sql.Dataset[(Long, Array[Byte])],
      shardCapacity: Long = 128L)
      : org.apache.spark.sql.Dataset[Array[Byte]] = {
    import ds.sparkSession.implicits._
    ds.map { case (id, png) => (id / shardCapacity, id, png) }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val entries = it.flatMap { case (_, id, png) =>
          val meta = s"""{"key":$id,"bytes":${png.length}}"""
          Seq(TarShard.Entry(f"$id%08d.png", png),
            TarShard.Entry(f"$id%08d.json", meta.getBytes("UTF-8")))
        }.toSeq.sortBy(_.name) // deterministic member order per shard
        Iterator.single(TarShard.write(entries))
      }
  }

  def mmShards(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val shards = packShards(pngPayloads(spark, sfDir))
    shards
      .flatMap { tar =>
        val entries = TarShard.read(tar)
        val images = entries.filter(_.name.endsWith(".png"))
        val metas = entries.filter(_.name.endsWith(".json"))
        val decoded = images.map(e => BinaryCodec.decodeImage(e.data))
        Iterator.single((entries.size.toLong, images.size.toLong,
          metas.size.toLong, tar.length.toLong,
          decoded.map(_.width.toLong).sum))
      }
      .toDF("n_members", "n_images", "n_meta", "shard_bytes", "width_sum")
      .orderBy($"shard_bytes", $"n_members")
  }

  /** Perceptual-hash image dedup — the multimodal twin of exact text
    * dedup: every image's 64-bit aHash (REAL ImageIO decode + the
    * bit-deterministic box resize), then dedup is ONE exact groupBy
    * on the hash — near-duplicate images collapse to the same value,
    * so no pair join exists anywhere (contrast MinHash's banded
    * join: perceptual hashes are locality-COLLAPSING, not just
    * locality-sensitive). The fixture plants triples (ids sharing
    * id/3 differ only by ±3 pixel noise); the rollup reports each
    * cluster. Narrow decode+hash map + one hash-keyed shuffle. */
  def mmPhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    stagedPayloads(spark, sfDir, "phash")(id =>
      BinaryCodec.syntheticStepPng(id / 3, id % 3))
      .map { case (id, payload) =>
        (id, BinaryCodec.averageHash(payload))
      }
      .toDF("doc_id", "hash")
      .groupBy(format_string("%016x", $"hash").as("phash"))
      .agg(count(lit(1)).as("n_images"), min($"doc_id").as("keep_id"),
        array_join(transform(array_sort(collect_list($"doc_id")),
          _.cast("string")), ",").as("members"))
      .orderBy($"keep_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mm_phash" -> (mmPhash _),
    "q_mm_extract" -> (mmExtract _),
    "q_mm_frames" -> (mmFrames _),
    "q_mm_resize" -> (mmResize _),
    "q_mm_audio" -> (mmAudio _),
    "q_mm_shards" -> (mmShards _))

  val oracle: Map[String, String] = Map.empty
}
