package perfbench

import Support._

/** Turns the repetitions of one process into the printed report and
  * the metric list of the result line.
  */
final case class Report(workload: String, info: InputInfo, rowsPerOp: Double,
                        plain: Seq[Rep], traced: Seq[Rep], quality: Map[String, Double]) {
  import Report._

  private val wall = plain.flatMap(_.wall)
  private val batches = (plain ++ traced).flatMap(_.batches)
  private val lookups = (plain ++ traced).flatMap(_.lookups)

  private def figure(reps: Seq[Rep], key: String): Double = {
    val xs = reps.flatMap(_.figures.get(key))
    if (xs.isEmpty) 0.0 else median(xs)
  }

  /** Spans of one traced repetition, summed per name. */
  private def byName(r: Rep): Map[String, Agg] =
    (r.opSpans ++ r.checkSpans).groupBy(_.name).map { case (n, ss) => n -> Agg(ss) }

  private lazy val tracedAggs = traced.map(byName)

  private def spanMetric(name: String, f: Agg => Double): Double =
    if (traced.isEmpty) 0.0 else median(tracedAggs.map(_.get(name).map(f).getOrElse(0.0)))

  private def ratio(verified: Double, candidates: Double) =
    if (candidates <= 0) 0.0 else verified / candidates

  def perLayer: Seq[(String, Double, String)] = {
    val spans = Spans.flatMap { n =>
      Seq(
        (s"$n.wall_s", spanMetric(n, _.wallS), "s"),
        (s"$n.busy_s", spanMetric(n, _.busyS), "s"),
        (s"$n.rows_out", spanMetric(n, _.rowsOut), "count"),
        (s"$n.shuffle_bytes", spanMetric(n, _.shuffleBytes), "B"),
        (s"$n.spill_bytes", spanMetric(n, _.spillBytes), "B"),
        (s"$n.task_skew", spanMetric(n, _.taskSkew), "ratio"))
    }
    val verifyCounts = Seq("pipeline.verify", "pipeline.containment", "pipeline.jaccard_prefix")
      .flatMap { n =>
        Seq((s"$n.candidates", spanMetric(n, _.candidates), "count"),
          (s"$n.useful_ratio", spanMetric(n, a => ratio(a.verified, a.candidates)), "ratio"))
      }
    val tracedWall = traced.map(_.opWall)
    val unattributed = traced.map(r => r.opWall - r.opSpans.map(_.wallNs / 1e9).sum)
    def q(xs: Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else quantile(xs, p)
    spans ++ verifyCounts ++ Seq(
      ("pipeline.candidates.hot_keys", figure(traced, "pipeline.candidates.hot_keys"), "count"),
      ("pipeline.cc_distributed.jobs", spanMetric("pipeline.cc_distributed", _.jobs), "count"),
      ("store.commits", figure(traced, "store.commits"), "count"),
      ("store.files", figure(traced, "store.files"), "count"),
      ("store.bytes_written",
        if (traced.isEmpty) 0.0
        else median(traced.map(r => (r.opSpans ++ r.checkSpans).map(_.outputBytes.toDouble).sum)),
        "B"),
      ("store.checkpoint.buckets", figure(plain, "store.checkpoint.buckets"), "count"),
      ("store.checkpoint.wall_ms_sum", figure(plain, "store.checkpoint.wall_ms_sum"), "ms"),
      ("store.bytes_per_input_byte", figure(plain, "store.bytes_per_input_byte"), "ratio"),
      ("quality.dup_pair_recall", quality.getOrElse("quality.dup_pair_recall", 0.0), "ratio"),
      ("stream.batch_latency_p50_s", q(batches, 0.5), "s"),
      ("queries.lookup_p50_s", q(lookups, 0.5), "s"),
      ("queries.lookup_p90_s", q(lookups, 0.9), "s"),
      ("trace.wall_s", q(tracedWall, 0.5), "s"),
      ("trace.unattributed_s", q(unattributed, 0.5), "s"),
      ("trace.overhead_s",
        if (traced.isEmpty) 0.0 else median(tracedWall) - median(plain.map(_.opWall)), "s"))
  }

  def print(): Unit = {
    def line(s: String): Unit = println(s"[perfbench] $workload $s")
    val wallS = median(wall)
    line(f"wall_s median $wallS%.4f s, quartiles ${quantile(wall, 0.25)}%.4f..${quantile(wall, 0.75)}%.4f " +
      s"over ${wall.size} samples in ${plain.size} repetitions")
    line(s"wall samples in run order: ${wall.map(x => f"$x%.3f").mkString(" ")}")
    line(f"${info.unit}_per_s ${rowsPerOp / wallS}%.1f 1/s (${rowsPerOp}%.0f ${info.unit} per sample)")
    if (batches.nonEmpty)
      line(f"batch_latency_p50_s ${median(batches)}%.4f s over ${batches.size} micro-batches: " +
        batches.map(x => f"$x%.3f").mkString(" "))
    if (lookups.nonEmpty) {
      line(f"lookup_p50_s ${quantile(lookups, 0.5)}%.4f s, lookup_p90_s " +
        f"${quantile(lookups, 0.9)}%.4f s over ${lookups.size} lookups")
    }
    quality.foreach { case (k, v) => line(s"${k.stripPrefix("quality.")} $v") }
    plain.flatMap(_.figures.get("store.bytes_per_input_byte")).headOption.foreach { _ =>
      line(f"store_bytes_per_input_byte ${figure(plain, "store.bytes_per_input_byte")}%.4f")
    }
    line(f"peak_rss_mb ${peakRssMb()}%.1f MB")
    if (traced.nonEmpty) {
      line(s"traced: ${traced.size} repetitions; per span, median of per-repetition sums:")
      Spans.filter(n => tracedAggs.exists(_.contains(n))).foreach { n =>
        line(f"  $n%-26s wall ${spanMetric(n, _.wallS)}%8.4f s  busy ${spanMetric(n, _.busyS)}%8.4f s  " +
          f"rows ${spanMetric(n, _.rowsOut)}%10.0f  shuffle ${spanMetric(n, _.shuffleBytes)}%12.0f B  " +
          f"jobs ${spanMetric(n, _.jobs)}%5.0f  skew ${spanMetric(n, _.taskSkew)}%6.2f")
      }
    }
  }
}

object Report {
  /** Every span the benchmark records, `<module>.<layer>`. A workload
    * that does not call a layer reports its span metrics as 0.
    */
  val Spans: Seq[String] = Seq(
    "pipeline.sign", "pipeline.band", "pipeline.candidates", "pipeline.verify",
    "pipeline.containment", "pipeline.jaccard_prefix", "pipeline.cc", "pipeline.keep",
    "pipeline.cc_distributed", "pipeline.cc_local",
    "streaming.flush", "streaming.match", "streaming.compact_batch", "streaming.redeliver",
    "queries.lookup")

  /** Spans of one name within one repetition, summed (skew: the worst). */
  final case class Agg(spans: Seq[Span]) {
    def wallS: Double = spans.map(_.wallNs).sum / 1e9
    def busyS: Double = spans.map(_.busyMs).sum / 1e3
    def rowsOut: Double = spans.map(_.rowsOut).sum.toDouble
    def shuffleBytes: Double = spans.map(_.shuffleBytes).sum.toDouble
    def spillBytes: Double = spans.map(_.spillBytes).sum.toDouble
    def taskSkew: Double = spans.map(_.taskSkew).max
    def jobs: Double = spans.map(_.jobs).sum.toDouble
    def candidates: Double = spans.map(_.candidates).sum.toDouble
    def verified: Double = spans.map(_.verified).sum.toDouble
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }

  def json(correct: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
