package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import Support._

/** Benchmark entry point for the dedup engine.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * One process runs one workload on one seed: set-up (session start,
  * three seeded input generations, the warm-up repetitions), then
  * repetitions in fresh work directories until `--seconds` have passed,
  * then the reference checks. With `--trace 1` every untraced repetition
  * is followed by one that calls the engine layer by layer under a
  * [[Recorder]]; both must produce the same output fingerprints.
  *
  * The last line of standard output is one JSON object:
  * {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
  * with the end-to-end metrics untraced and the per-layer metrics traced.
  * A repetition that fails a check is never timed into a metric.
  */
object Main {
  /** Input generations per process; setup_s takes their median. */
  val SetupReps = 3
  val Threads = 4

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      }, new File(need("work")))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$Threads]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val ok =
      try run(spark, o, sessionS)
      finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def run(spark: SparkSession, o: Opts, sessionS: Double): Boolean = {
    val wl = Workloads(o.workload, spark, o.seed)
    // set-up: the same generation several times; every one must give the
    // same input, and setup_s takes the median
    val preps = (1 to SetupReps).map(i => seconds(wl.prepare(new File(o.work, s"input-$i"))))
    val info = preps.last._1
    require(preps.forall(_._1 == info),
      s"input generation is not deterministic for seed ${o.seed}: ${preps.map(_._1).distinct}")
    (1 until SetupReps).foreach(i => deleteRecursively(new File(o.work, s"input-$i")))
    var n = 0
    def freshDir(): File = { n += 1; new File(o.work, s"rep-$n") }
    val (warms, warmS) = seconds((1 to wl.warmUps).map { _ =>
      val d = freshDir()
      val r = wl.rep(d, None)
      deleteRecursively(d)
      r
    })
    val setupS = sessionS + median(preps.map(_._2)) + warmS
    println(f"[perfbench] ${o.workload} seed=${o.seed} input: ${info.rows} ${info.unit}, " +
      f"${info.bytes} bytes, fingerprint=${info.fingerprint} | set-up ${setupS}%.3f s " +
      f"(session $sessionS%.3f, input median ${median(preps.map(_._2))}%.3f, warm-up $warmS%.3f)")

    val rec = if (o.trace) Some(new Recorder(spark)) else None
    val plain = ArrayBuffer.empty[Rep]
    val traced = ArrayBuffer.empty[Rep]
    var errors = Seq.empty[String]
    var lastPlainDir: File = null
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    try {
      // a traced run interleaves both kinds, so each needs only half
      val reps = if (o.trace) (wl.minReps + 1) / 2 else wl.minReps
      while (elapsed < o.seconds || plain.size < reps || (o.trace && traced.size < reps)) {
        val d = freshDir()
        plain += wl.rep(d, None)
        if (lastPlainDir != null) deleteRecursively(lastPlainDir)
        lastPlainDir = d
        rec.foreach { r =>
          val t = freshDir()
          traced += wl.rep(t, Some(r))
          deleteRecursively(t)
        }
      }
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        errors = Seq(s"repetition failed: $e")
    }
    val loopS = elapsed
    val ((refFailures, quality), refS) = seconds {
      if (errors.nonEmpty) (Nil, Map.empty[String, Double])
      else wl.reference(lastPlainDir, (plain ++ traced).toSeq)
    }
    println(f"[perfbench] ${o.workload} phases: inputs ${preps.map(_._2).sum}%.1f s " +
      f"($SetupReps generations), warm-up $warmS%.1f s, timed loop $loopS%.1f s " +
      f"(${plain.size} plain + ${traced.size} traced repetitions), checks $refS%.1f s")
    if (lastPlainDir != null) deleteRecursively(lastPlainDir)
    rec.foreach(_.close())

    val all = warms ++ plain ++ traced
    val attempted = all.map(_.ops).sum + (if (errors.nonEmpty) 1 else 0)
    val failed =
      if (refFailures.nonEmpty) attempted
      else all.filter(_.failures.nonEmpty).map(_.ops).sum + (if (errors.nonEmpty) 1 else 0)
    (errors ++ refFailures ++ all.flatMap(_.failures)).distinct.take(20)
      .foreach(f => println(s"[perfbench] CHECK FAILED: $f"))
    val good = plain.toSeq.filter(_.failures.isEmpty)
    if (good.isEmpty) {
      println("[perfbench] no repetition passed its checks; no result")
      return false
    }

    val wall = good.flatMap(_.wall)
    val wallS = median(wall)
    val report = Report(o.workload, info, wl.rowsPerOp, good, traced.toSeq, quality)
    report.print()
    val metrics =
      if (o.trace) report.perLayer
      else Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", wallS, "s"),
        ("rows_per_s", wl.rowsPerOp / wallS, "1/s"),
        ("peak_rss_mb", peakRssMb(), "MB"))
    println(Report.json(failed == 0, attempted, failed, metrics))
    true
  }
}
