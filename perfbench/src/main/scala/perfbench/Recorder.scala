package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchGlue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.Expressions.{IntersectCountLongSets, JaccardLongSets}

/** Counters of one span: one layer call the benchmark made, named
  * `<module>.<layer>`.
  */
final class Span(val name: String) {
  var wallNs = 0L
  var busyMs = 0L
  var rowsOut = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var jobs = 0
  /** Rows that reached an exact-verify predicate, and rows that passed it. */
  var candidates = 0L
  var verified = 0L
  private[perfbench] val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task time of the stage with the most task time; 1 when
    * no stage of the span ran more than one task.
    */
  def taskSkew: Double = {
    val multi = stageTaskMs.values.filter(_.size > 1)
    if (multi.isEmpty) 1.0
    else {
      val ts = multi.maxBy(_.sum).sorted
      ts.last.toDouble / math.max(1L, ts(ts.size / 2))
    }
  }
}

/** In-memory layer recorder. A [[SparkListener]] attributes jobs and
  * tasks to the span whose name the benchmark set as a local property
  * around the call; a [[QueryExecutionListener]] reads the candidate and
  * verified row counts off the executed plan of every action the span
  * ran. Spans are kept in memory and handed out per repetition by
  * [[take]].
  *
  * Spark is lazy: a span must end in an action (count, localCheckpoint,
  * a write), or it times planning only. [[span]] takes that action as
  * its `rows` argument and runs it inside the span.
  */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val stageSpan = mutable.Map.empty[Int, Span]
  private var open: Span = null
  private val closed = mutable.ArrayBuffer.empty[Span]

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Run `body` and then its closing action `rows` as span `name`. */
  def span[T](name: String, rows: T => Long)(body: => T): T = {
    PerfbenchGlue.drainListenerBus(sc)
    val s = new Span(name)
    synchronized { open = s }
    sc.setLocalProperty(Recorder.SpanKey, name)
    val t0 = System.nanoTime()
    try {
      val out = body
      s.rowsOut = rows(out)
      out
    } finally {
      s.wallNs = System.nanoTime() - t0
      sc.setLocalProperty(Recorder.SpanKey, null)
      PerfbenchGlue.drainListenerBus(sc)
      synchronized { open = null; closed += s }
    }
  }

  /** The spans closed since the last call, in call order. */
  def take(): Seq[Span] = synchronized {
    val out = closed.toList
    closed.clear(); stageSpan.clear()
    out
  }

  def close(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val name = Option(e.properties).map(_.getProperty(Recorder.SpanKey)).orNull
    if (open != null && open.name == name) {
      open.jobs += 1
      e.stageIds.foreach(stageSpan(_) = open)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.busyMs += m.executorRunTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (open != null) {
        val (c, v) = Recorder.verifyCounts(qe.executedPlan)
        open.candidates += c
        open.verified += v
      }
    }

  /** A failed action throws into the benchmark, which counts it there. */
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Recorder {
  val SpanKey = "perfbench.span"

  private def walk(p: SparkPlan): Iterator[SparkPlan] = Iterator.single(p) ++ (p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case _: ReusedExchangeExec => Iterator.empty
    case other => other.children.iterator.flatMap(walk)
  })

  private def isVerifyKernel(e: Expression): Boolean =
    e.exists(x => x.isInstanceOf[JaccardLongSets] || x.isInstanceOf[IntersectCountLongSets])

  private def outputRows(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)

  /** Rows in and out of the exact-verify predicate (the Jaccard or
    * containment kernel compared against its threshold) of an executed
    * plan. The predicate sits in a Filter, or the optimizer folds it into
    * the condition of the join that attaches the second shingle set. The
    * input count is read off the nearest counted descendant: the
    * Filter's child, or the join's left side, which in every engine
    * verify shape carries one row per candidate pair.
    */
  def verifyCounts(plan: SparkPlan): (Long, Long) = {
    def nearest(p: SparkPlan) = walk(p).flatMap(outputRows).nextOption().getOrElse(0L)
    var cands = 0L
    var verified = 0L
    walk(plan).foreach {
      case f: FilterExec if isVerifyKernel(f.condition) =>
        verified += outputRows(f).getOrElse(0L)
        cands += nearest(f.child)
      case j: BaseJoinExec if j.condition.exists(isVerifyKernel) =>
        verified += outputRows(j).getOrElse(0L)
        cands += nearest(j.left)
      case _ =>
    }
    (cands, verified)
  }
}
