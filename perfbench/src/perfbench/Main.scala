package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one closed-loop client on a `local[N]` session.
  *
  *   --workload cog_write|cog_read|dedup  --seed S  --seconds T
  *   --trace 0|1  --out record.json  --work dir
  *
  * Set-up (session start, the workload's inputs built `SetupReps`
  * times, the truth for the checks, warm-up ops) precedes an
  * untraced phase of ops
  * for T seconds of op time; with `--trace 1` a traced phase of the
  * same length follows. Every op's output is checked after its timer
  * stops. The raw record (op times, checks, per-layer metrics) goes to
  * `--out` as JSON; `run.py` turns it into the reported metrics. */
object Main {
  val SetupReps = 3
  /** Warm-up runs at least `WarmOps` ops and `WarmSeconds` of op time. */
  val WarmOps = 2
  val WarmSeconds = 5.0
  val MinOps = 3

  val Spans: Seq[String] = Seq("raster.ingest", "raster.pyramid", "raster.encode",
    "raster.offsets", "raster.read", "sink.write", "sources.plan", "sources.scan",
    "queries.shingles", "queries.ngram", "queries.clusters", "text.minhash")

  /** Work counts reported beside the span metrics, with units. */
  val Counts: Seq[(String, String)] = Seq(
    "raster.pyramid.tiles" -> "count", "raster.encode.mb_out" -> "MB",
    "sink.parts" -> "count", "sources.scan.tiles" -> "count",
    "queries.ngram.pair_rows" -> "count", "queries.ngram.useful_ratio" -> "share",
    "raster.write_residue_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors()

    val spark = session(nproc, work)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val wl: Workload = workload match {
      case "cog_write" => new CogWriteWorkload(spark, seed, work.resolve("data"), 1024)
      case "cog_read" => new CogReadWorkload(spark, seed, work.resolve("data"), 1024, 0.2)
      case "dedup" => new DedupWorkload(spark, seed, work.resolve("data"), 1000)
      case other => sys.error(s"unknown workload '$other'")
    }

    // set-up: the inputs are built SetupReps times (the median is
    // reported), the truth the checks compare against once, then
    // checked warm-up ops (the first pays class loading and JIT)
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val inputS = (0 until SetupReps).map(_ => secs(wl.setup()))
    val checksS = secs(wl.prepareChecks())
    val warm = new java.util.Random(seed ^ 0x5eed)
    val warmS = mutable.ArrayBuffer.empty[Double]
    while (warmS.size < WarmOps || warmS.sum < WarmSeconds) {
      val o = wl.op(-1 - warmS.size, warm)
      require(o.ok, s"warm-up op failed: ${o.note}")
      warmS += o.opSeconds
    }

    val rng = new java.util.Random(seed)
    val ops = loop(seconds)(i => wl.op(i, rng))
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "nproc" -> nproc,
      "master" -> s"local[$nproc]",
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "session_s" -> sessionS, "input_reps_s" -> inputS, "checks_s" -> checksS,
      "warmup_s" -> warmS.toSeq,
      "ops" -> ops.map(opJson))

    if (trace) {
      val listener = new SpanListener
      spark.sparkContext.addSparkListener(listener)
      val tracer = new Tracer(Some(spark.sparkContext))
      val tRng = new java.util.Random(seed)
      val traced = loop(seconds) { i =>
        tracer.op = i
        wl.tracedOp(i, tRng, tracer)
      }
      val phase = wl.phaseCounts()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val spans = tracer.spans.toSeq
      val self = Tracer.selfNs(spans)
      val layers = LayerReport(spans, listener, nproc, Spans)
      val header = spans.filter(_.name == "raster.header")
      val headerS = header.map(s => self(s.id)).sum / 1e9 / math.max(1, header.size)
      val counts = Counts.map { case (n, unit) =>
        val v = phase.getOrElse(n, wl.counts.get(n).fold(0.0) { case (s, k) => s / k })
        (n, v, unit)
      }
      val perLayer = layers ++ Seq(("raster.header.self_s", headerS, "s")) ++ counts
      // every span of a traced op is a direct child of no other span, so
      // the op wall splits into the spans' self times plus harness gaps
      val reconcile = traced.indices.map { i =>
        val own = spans.filter(_.op == i)
        Map("op_s" -> traced(i).opSeconds,
          "span_self_s" -> own.map(s => self(s.id)).sum / 1e9,
          "call_s" -> traced(i).seconds)
      }
      record ++= Seq(
        "traced_ops" -> traced.map(opJson),
        "per_layer" -> perLayer.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
        "reconcile" -> reconcile,
        "spans" -> spans.map(s => Map("name" -> s.name, "op" -> s.op,
          "dur_s" -> s.durNs / 1e9, "self_s" -> self(s.id) / 1e9)))
    }
    record ++= Seq(
      "file_bytes_per_input_byte" -> wl.fileBytesPerInputByte,
      "peak_rss_mb" -> peakRssMb(),
      "heap_peak_mb" -> java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1e6) ++ wl.record
    spark.stop()
    val json = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
    json.writeValue(Paths.get(opts("out")).toFile, record)
  }

  def session(nproc: Int, work: Path): SparkSession = {
    graft.Fixtures.configure(SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.log.level", "ERROR"))
      .getOrCreate()
  }

  /** Closed loop: ops back to back until their summed time reaches
    * `seconds` (and at least `MinOps` ran); checks between ops are not
    * counted. An op that throws is a failed op; the loop goes on. */
  def loop(seconds: Double)(op: Int => Op): Seq[Op] = {
    val out = mutable.ArrayBuffer.empty[Op]
    var spent = 0.0
    while (spent < seconds || out.size < MinOps) {
      val t0 = System.nanoTime()
      val o = try op(out.size) catch {
        case scala.util.control.NonFatal(e) =>
          val s = (System.nanoTime() - t0) / 1e9
          Op(s, s, 0L, ok = false, "error", e.toString)
      }
      out += o
      spent += o.opSeconds
    }
    out.toSeq
  }

  private def opJson(o: Op): Map[String, Any] = Map("s" -> o.seconds,
    "op_s" -> o.opSeconds, "in_bytes" -> o.inBytes, "ok" -> o.ok,
    "kind" -> o.kind, "note" -> o.note, "digest" -> o.digest,
    "pairs" -> o.pairs.map { case (a, b) => Seq(a, b) })

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble * 1024 / 1e6
    }.getOrElse(0.0)
    finally src.close()
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
