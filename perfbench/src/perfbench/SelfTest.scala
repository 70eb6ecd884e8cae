package perfbench

import org.apache.spark.sql.SparkSession

/** Self-tests of the tracing layer: self-time subtraction and the
  * listener's per-span aggregation on a tiny input. Run through
  * `python3 perfbench/run.py --selftest`; exits non-zero on failure. */
object SelfTest {
  private var failures = 0

  private def check(what: String, cond: Boolean, detail: => Any = ""): Unit =
    if (cond) println(s"ok   $what")
    else {
      failures += 1
      println(s"FAIL $what $detail")
    }

  def selfTimes(): Unit = {
    // parent [0,10] with overlapping children [2,4] and [3,6], and one
    // child [8,12] that outlives it: covered = [2,6] + [8,10] = 6
    val spans = Seq(Span(0, "p", -1, 0, 0, 10), Span(1, "a", 0, 0, 2, 4),
      Span(2, "b", 0, 0, 3, 6), Span(3, "c", 0, 0, 8, 12), Span(4, "d", 3, 0, 9, 11))
    val self = Tracer.selfNs(spans)
    check("parent self time excludes the union of its children", self(0) == 4L, self(0))
    check("leaf self time is its duration", self(1) == 2L && self(2) == 3L, self)
    check("grandchild is subtracted from its own parent only", self(3) == 2L, self(3))
  }

  def listener(work: String): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.local.dir", work)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.log.level", "OFF") // the planted task failure logs a stack trace
      .getOrCreate()
    try {
      val sc = spark.sparkContext
      val l = new SpanListener
      sc.addSparkListener(l)
      val t = new Tracer(Some(sc))
      t.op = 0
      t("outer") {
        sc.parallelize(1 to 40, 4).count()
        t("inner")(sc.parallelize(1 to 30, 3).count())
      }
      t.op = 1
      t("inner") {
        import spark.implicits._
        (1 to 1000).toDF("x").repartition(2).groupBy($"x" % 7).count().collect()
      }
      t("fails") {
        try sc.parallelize(0 until 2, 2).foreach(i => if (i == 1) sys.error("planted"))
        catch { case _: Exception => () }
      }
      sc.parallelize(1 to 10, 5).count() // outside every span
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(l)

      val outer = l.workOf(0)
      val inner = l.workOf(1)
      check("a job goes to the span open when it was submitted",
        outer.jobs == 1 && outer.tasks == 4, (outer.jobs, outer.tasks))
      check("the nested span gets its own job", inner.jobs == 1 && inner.tasks == 3,
        (inner.jobs, inner.tasks))
      val shuffled = l.workOf(2)
      check("shuffle writes are attributed", shuffled.shuffleWriteBytes > 0 &&
        shuffled.runMs >= 0 && shuffled.cpuNs > 0, shuffled.shuffleWriteBytes)
      check("a failed task is counted", l.workOf(3).taskFailures >= 1, l.workOf(3).taskFailures)
      check("work outside every span is not attributed",
        (0 to 3).map(i => l.workOf(i).tasks).sum ==
          outer.tasks + inner.tasks + shuffled.tasks + l.workOf(3).tasks)

      val rep = LayerReport(t.spans.toSeq, l, 2, Seq("inner", "absent"))
        .map { case (n, v, _) => n -> v }.toMap
      check("per-name metrics are means per occurrence",
        rep("inner.tasks") == (inner.tasks + shuffled.tasks) / 2.0, rep("inner.tasks"))
      check("a span name that never ran reports zeros",
        rep.filter(_._1.startsWith("absent.")).values.forall(_ == 0.0))
      check("idle share is a share", rep("inner.idle_share") >= 0 && rep("inner.idle_share") <= 1)
      check("nine metrics per span name", rep.size == 18, rep.size)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    selfTimes()
    listener(args(0))
    if (failures > 0) sys.exit(1)
  }
}
