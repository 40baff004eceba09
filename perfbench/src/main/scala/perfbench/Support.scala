package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Small helpers shared by the workloads and the runner. */
object Support {

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-free content fingerprint (row count, summed row hash). */
  def fingerprint(df: DataFrame, cols: String*): (Long, Long) =
    graft.store.TxLog.contentFingerprint(df, cols.map(org.apache.spark.sql.functions.col))

  /** Drop the blocks behind a localCheckpoint-ed frame now, instead of
    * whenever the context cleaner next sees a GC; repetitions then start
    * from the same memory state.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = true): Unit
    case _ => df.unpersist(blocking = true): Unit
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def files(dir: File): Seq[Path] =
    if (!dir.exists()) Nil
    else {
      val s = Files.walk(dir.toPath)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def dirBytes(dir: File): Long = files(dir).map(Files.size).sum

  /** Data files of a store directory: parquet parts, not logs or markers. */
  def dataFiles(dir: File): Int =
    files(dir).count(p => p.getFileName.toString.startsWith("part-"))

  private val Manifest = """v(\d{12})\.json""".r

  /** Commits made to the TxLog tables under a store directory: per
    * table the newest manifest version + 1, since vacuum drops old ones.
    */
  def txCommits(dir: File): Long =
    files(dir).filter(_.getParent.getFileName.toString == "_log")
      .flatMap(p => p.getFileName.toString match {
        case Manifest(v) => Some((p.getParent, v.toLong))
        case _ => None
      })
      .groupBy(_._1).values.map(_.map(_._2).max + 1).sum

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:"))
      .getOrElse(sys.error("VmHWM not reported by /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
