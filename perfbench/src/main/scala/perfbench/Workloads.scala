package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.SynthCorpus
import graft.pipeline.{CheckpointStore, ConnectedComponents, Dedup, DedupConfig, ResumableDedupJob}
import graft.queries.Serving
import graft.streaming.IncrementalIngest

import Support._

/** The pinned identity of a workload's input: a change to the generator
  * shows up here as a changed input, not as a speedup.
  */
final case class InputInfo(seed: Long, rows: Long, bytes: Long, fingerprint: (Long, Long),
                           unit: String)

/** What one repetition produced.
  *
  * @param wall      end-to-end samples of the workload's operation, in s
  * @param opWall    wall of the whole repetition, in s
  * @param batches   micro-batch latencies, in s
  * @param lookups   serving lookup latencies, in s
  * @param outputs   content fingerprints of the outputs, compared across
  *                  repetitions, against the reference and between the
  *                  traced and untraced paths
  * @param failures  output checks this repetition failed
  * @param ops       operations attempted
  * @param figures   per-repetition counts (store sizes and the like)
  * @param opSpans   traced: spans inside the timed operation
  * @param checkSpans traced: spans of reference calls outside it
  */
final case class Rep(wall: Seq[Double], opWall: Double, batches: Seq[Double] = Nil,
                     lookups: Seq[Double] = Nil,
                     outputs: Map[String, (Long, Long)] = Map.empty,
                     failures: Seq[String] = Nil, ops: Int = 1,
                     figures: Map[String, Double] = Map.empty,
                     opSpans: Seq[Span] = Nil, checkSpans: Seq[Span] = Nil)

/** One benchmark workload: seeded input generation, one repetition of
  * the engine's public calls (plain, or layer by layer under a
  * [[Recorder]]), and output checks.
  */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  val cfg = DedupConfig()

  /** Fewest timed repetitions per mode. */
  def minReps: Int = 3

  /** Untimed warm-up repetitions. Spark's planner and scheduler code
    * keeps getting faster over the first few repetitions as the JIT
    * compiles it; timing starts once that curve has flattened.
    */
  def warmUps: Int = 3

  /** What one wall sample processes, in the unit of [[InputInfo.unit]]. */
  def rowsPerOp: Double

  /** Generate the seed's inputs, write them as parquet under `dir` and
    * read them back. Runs several times per process; the last call's
    * inputs are the ones measured.
    */
  def prepare(dir: File): InputInfo

  /** One repetition in the fresh directory `workDir`. */
  def rep(workDir: File, rec: Option[Recorder]): Rep

  /** Checks made once per process, after the timed loop, against the
    * reference path; `workDir` still holds the last untraced
    * repetition's output. Returns failures and quality figures.
    */
  def reference(workDir: File, reps: Seq[Rep]): (Seq[String], Map[String, Double])

  /** Row count, text bytes and content fingerprint of docs(id, text), in one job. */
  protected def docsInfo(docs: DataFrame): InputInfo = {
    val r = docs.agg(count(lit(1)), sum(octet_length(col("text"))),
      sum(xxhash64(col("id"), col("text")).cast("decimal(38,0)"))).head()
    InputInfo(seed, r.getLong(0), r.getLong(1),
      (r.getLong(0), r.getDecimal(2).toBigInteger.longValue()), "docs")
  }

  protected def sameAcross(reps: Seq[Rep], key: String, ref: (Long, Long)): Seq[String] =
    reps.zipWithIndex.collect {
      case (r, i) if r.outputs.get(key).exists(_ != ref) =>
        s"$key of repetition $i is ${r.outputs(key)}, reference is $ref"
    }

  /** Labelled near-duplicate pairs (original, variant) whose word-3-gram
    * Jaccard, computed here from the texts, is at least the threshold.
    */
  protected def labelledPairs(docs: DataFrame, labels: DataFrame): Set[(String, String)] = {
    val t = docs.select(col("id"), col("text"))
    labels.select(col("original_url").as("o"), col("url").as("v"))
      .join(t.select(col("id").as("o"), col("text").as("to")), "o")
      .join(t.select(col("id").as("v"), col("text").as("tv")), "v")
      .collect()
      .collect { case r if SynthCorpus.jaccardWords(r.getAs[String]("to"),
          r.getAs[String]("tv")) >= cfg.threshold =>
        val (o, v) = (r.getAs[String]("o"), r.getAs[String]("v"))
        if (o < v) (o, v) else (v, o)
      }.toSet
  }

  protected def recall(labelled: Set[(String, String)], pairs: DataFrame): Double = {
    val found = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    if (labelled.isEmpty) 1.0 else labelled.count(found.contains).toDouble / labelled.size
  }

  /** Recompute every pair's score from the texts with word-3-gram sets
    * and return the pairs scoring below `tau`.
    */
  protected def reverify(pairs: DataFrame, docs: DataFrame, tau: Double,
                         score: (Set[String], Set[String]) => Double): Seq[String] = {
    def grams(s: String) = s.split(" ").sliding(cfg.shingleK)
      .filter(_.length == cfg.shingleK).map(_.mkString(" ")).toSet
    val t = docs.select(col("id"), col("text"))
    pairs.select("id_a", "id_b")
      .join(t.select(col("id").as("id_a"), col("text").as("ta")), "id_a")
      .join(t.select(col("id").as("id_b"), col("text").as("tb")), "id_b")
      .collect().toSeq.flatMap { r =>
        val s = score(grams(r.getAs[String]("ta")), grams(r.getAs[String]("tb")))
        if (s >= tau - 1e-9) None
        else Some(s"pair (${r.getAs[String]("id_a")}, ${r.getAs[String]("id_b")}) re-scores $s < $tau")
      }
  }

  protected val jaccardOf: (Set[String], Set[String]) => Double = (a, b) => {
    val i = (a & b).size.toDouble
    i / (a.size + b.size - i)
  }
}

object Workloads {
  val names = Seq("batch_dedup", "skewed_containment")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "batch_dedup" => new BatchDedup(spark, seed)
    case "skewed_containment" => new SkewedContainment(spark, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; known: ${names.mkString(", ")}")
  }
}

/** The DedupJob path: bucket-checkpointed signatures, skew-aware LSH
  * pairs, connected components and the keep list, in a fresh workDir.
  */
final class BatchDedup(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val NBase = 3000
  val Buckets = 16
  val HotCap = 1024
  val Salt = 16
  override def minReps = 4
  override def warmUps = 4
  private var dir: File = _
  private var info: InputInfo = _
  def rowsPerOp: Double = info.rows.toDouble

  private def docs = Dedup.fromPages(spark.read.parquet(s"$dir/pages"))

  def prepare(d: File): InputInfo = {
    dir = d
    val (pages, labels) = SynthCorpus.generate(spark, seed, NBase, dupRate = 0.2)
    pages.select("url", "text").write.parquet(s"$dir/pages")
    labels.select("url", "original_url").write.parquet(s"$dir/labels")
    info = docsInfo(docs)
    info
  }

  private def keepDir(wd: File) = s"$wd/keep/tag=${cfg.configTag}"
  private def clustersDir(wd: File) = s"$wd/clusters/tag=${cfg.configTag}"

  def rep(wd: File, rec: Option[Recorder]): Rep = {
    val w = wd.getPath
    var hotKeys: Option[Double] = None
    var checkSpans = Seq.empty[Span]
    var checkFailures = Seq.empty[String]
    var streamBatches = Seq.empty[Double]
    var streamLookups = Seq.empty[Double]
    val (spans, wall) = rec match {
      case None =>
        val (_, t) = seconds {
          val clusters = ResumableDedupJob.run(docs, cfg, w, Buckets, HotCap, Salt)
          ResumableDedupJob.keepStage(docs, clusters, cfg, w)
        }
        (Nil, t)
      case Some(r) =>
        // the same calls ResumableDedupJob.run makes, one layer at a time
        val ((bands, pairs), t) = seconds {
          val sigs = r.span("pipeline.sign", (d: DataFrame) => d.count()) {
            ResumableDedupJob.signaturesStage(docs, cfg, w, Buckets)
          }
          val bands = r.span("pipeline.band", (d: DataFrame) => d.count()) {
            Dedup.bandTable(Dedup.validSignatures(sigs), cfg).localCheckpoint(true)
          }
          val cands = r.span("pipeline.candidates", (d: DataFrame) => d.count()) {
            Dedup.candidatePairsSkewAware(bands, HotCap, Salt).localCheckpoint(true)
          }
          val pairs = r.span("pipeline.verify", (d: DataFrame) => d.count()) {
            Dedup.verifiedPairs(cands, sigs.select(col("id"), col("shingles")), cfg)
              .localCheckpoint(true)
          }
          val clusters = r.span("pipeline.cc", (d: DataFrame) => d.count()) {
            Dedup.clusters(pairs).write.mode("overwrite").parquet(clustersDir(wd))
            spark.read.parquet(clustersDir(wd))
          }
          r.span("pipeline.keep", (d: DataFrame) => d.count()) {
            ResumableDedupJob.keepStage(docs, clusters, cfg, w)
          }
          release(cands)
          (bands, pairs)
        }
        val spans = r.take()
        // the production clusters come from the local union-find (the
        // pair graph is far below its threshold); the distributed
        // large-star/small-star path is forced on the same edges and
        // must give the same labels
        val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        val labels = Seq("pipeline.cc_distributed" -> 0L,
            "pipeline.cc_local" -> ConnectedComponents.LocalThreshold)
          .map { case (name, threshold) =>
            val l = r.span(name, (d: DataFrame) => d.count())(
              ConnectedComponents.run(edges, localThreshold = threshold).localCheckpoint(true))
            val fp = fingerprint(l, "id", "component")
            release(l)
            fp
          }
        if (labels.distinct.size != 1)
          checkFailures :+= s"distributed CC labels ${labels.head} differ from local ${labels(1)}"
        // the same corpus ingested as micro-batches must give the same
        // pair set, with every doc signed once
        val ingest = new IngestSequence(spark, cfg, seed)
          .run(docs, spark.read.parquet(s"$dir/labels"), new File(wd, "ingest"), r)
        val batchPairs = fingerprint(pairs, "id_a", "id_b")
        if (ingest.pairs != batchPairs)
          checkFailures :+= s"incremental pair store ${ingest.pairs} differs from batch pairs $batchPairs"
        val docIds = fingerprint(docs, "id")
        if (ingest.signatures != docIds)
          checkFailures :+= s"signature store ${ingest.signatures} does not hold each doc once: $docIds"
        checkFailures ++= ingest.failures
        checkSpans = r.take() ++ ingest.spans
        streamBatches = ingest.batches
        streamLookups = ingest.lookups
        hotKeys = Some(bands.groupBy("band_key").count().where(col("count") > HotCap)
          .count().toDouble)
        release(bands); release(pairs)
        (spans, t)
    }
    val ckpt = new CheckpointStore(spark, w).read()
      .agg(countDistinct(col("bucket")), sum(col("wall_ms"))).head()
    Rep(Seq(wall), wall, streamBatches, streamLookups,
      outputs = Map(
        "keep" -> fingerprint(spark.read.parquet(keepDir(wd)), "id", "cluster_id", "kept"),
        "clusters" -> fingerprint(spark.read.parquet(clustersDir(wd)), "id", "cluster_id")),
      figures = Map(
        "store.commits" -> txCommits(wd).toDouble,
        "store.files" -> dataFiles(wd).toDouble,
        "store.bytes_per_input_byte" -> dirBytes(wd).toDouble / info.bytes,
        "store.checkpoint.buckets" -> ckpt.getLong(0).toDouble,
        "store.checkpoint.wall_ms_sum" -> ckpt.getLong(1).toDouble) ++
        hotKeys.map("pipeline.candidates.hot_keys" -> _),
      failures = checkFailures, opSpans = spans, checkSpans = checkSpans)
  }

  def reference(wd: File, reps: Seq[Rep]): (Seq[String], Map[String, Double]) = {
    val w = wd.getPath
    val sigs = spark.read.parquet(s"$w/signatures/tag=${cfg.configTag}-b$Buckets")
    val pairs = ResumableDedupJob.pairsStage(sigs, cfg, HotCap, Salt).localCheckpoint(true)
    val d = docs
    val labels = spark.read.parquet(s"$dir/labels")
    val r = recall(labelledPairs(d, labels), pairs)
    val clustersRef = fingerprint(Dedup.clusters(pairs), "id", "cluster_id")
    val failures =
      (if (r < 0.99) Seq(f"dup_pair_recall $r%.4f < 0.99") else Nil) ++
        reverify(pairs, d, cfg.threshold, jaccardOf) ++
        sameAcross(reps, "clusters", clustersRef) ++
        sameAcross(reps, "keep", reps.head.outputs("keep"))
    release(pairs)
    (failures, Map("quality.dup_pair_recall" -> r))
  }
}

/** The prefix-filter family on a boilerplate-skewed corpus: containment
  * pairs at tau 0.6, then exact Jaccard pairs at 0.5. Shared
  * boilerplate puts shingle document frequency above hotCap, so the
  * salted hot branch runs.
  */
final class SkewedContainment(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val NBase = 3000
  val Tau = 0.6
  val HotCap = 1024
  override def minReps = 4
  private var dir: File = _
  private var info: InputInfo = _
  def rowsPerOp: Double = info.rows.toDouble

  private def docs = spark.read.parquet(s"$dir/docs")

  def prepare(d: File): InputInfo = {
    dir = d
    val (pages, _) = SynthCorpus.generate(spark, seed, NBase, dupRate = 0.2, skewBoilerplate = true)
    Dedup.fromPages(pages).write.parquet(s"$dir/docs")
    info = docsInfo(docs)
    info
  }

  def rep(wd: File, rec: Option[Recorder]): Rep = {
    val d = docs
    val ((cont, jac), wall) = seconds {
      rec match {
        case None =>
          (Dedup.containmentPairs(d, cfg, Tau, hotCap = HotCap), Dedup.exactJaccardPairsPrefix(d, cfg))
        case Some(r) =>
          (r.span("pipeline.containment", (p: DataFrame) => p.count())(
            Dedup.containmentPairs(d, cfg, Tau, hotCap = HotCap)),
            r.span("pipeline.jaccard_prefix", (p: DataFrame) => p.count())(
              Dedup.exactJaccardPairsPrefix(d, cfg)))
      }
    }
    val spans = rec.map(_.take()).getOrElse(Nil)
    val out = Rep(Seq(wall), wall,
      outputs = Map(
        "containment" -> fingerprint(cont, "id_a", "id_b"),
        "jaccard" -> fingerprint(jac, "id_a", "id_b")),
      opSpans = spans)
    if (rec.isEmpty) {
      // keep the last untraced outputs for the reference checks
      lastOutputs.foreach { case (a, b) => release(a); release(b) }
      lastOutputs = Some((cont, jac))
    } else { release(cont); release(jac) }
    out
  }

  private var lastOutputs: Option[(DataFrame, DataFrame)] = None

  def reference(wd: File, reps: Seq[Rep]): (Seq[String], Map[String, Double]) = {
    val (cont, jac) = lastOutputs.getOrElse(sys.error("no untraced repetition ran"))
    // the workload exists to reach the salted hot-shingle branch
    val maxDf = Dedup.shingleSets(docs, cfg).select(explode(col("shingles")).as("h"))
      .groupBy("h").count().agg(max(col("count"))).head().getLong(0)
    val containmentOf: (Set[String], Set[String]) => Double =
      (a, b) => (a & b).size.toDouble / math.min(a.size, b.size)
    val failures =
      reverify(cont, docs, Tau, containmentOf) ++
        reverify(jac, docs, cfg.threshold, jaccardOf) ++
        sameAcross(reps, "containment", reps.head.outputs("containment")) ++
        sameAcross(reps, "jaccard", reps.head.outputs("jaccard")) ++
        (if (maxDf > HotCap) Nil
         else Seq(s"max shingle document frequency $maxDf does not exceed hotCap $HotCap"))
    (failures, Map("input.max_shingle_df" -> maxDf.toDouble))
  }
}

/** Streaming ingest of a corpus on the TxLog store: micro-batches
  * through IncrementalIngest.processBatch with a compaction cadence, one
  * re-delivered batch, and closed-loop serving lookups against the live
  * pair store between batches. Runs traced, one layer call per span,
  * with matching deferred to an explicit matchPending.
  */
final class IngestSequence(spark: SparkSession, cfg: DedupConfig, seed: Long) {
  val Batches = 4
  val CompactEvery = 2
  /** Re-delivered right after it is first processed; no compaction falls due on it. */
  val Redeliver = 0
  val LookupsPerBatch = 2

  private def batchOf(id: org.apache.spark.sql.Column) =
    pmod(xxhash64(id, lit(seed)), lit(Batches)).cast("int")

  private def storeRows(w: String): Long =
    Seq(IncrementalIngest.sigLog(w, cfg), IncrementalIngest.bandLog(w, cfg),
      IncrementalIngest.pairLog(w, cfg))
      .map(_.snapshot().rowCount.getOrElse(sys.error("store manifest lacks row counts"))).sum

  /** Ingest docs(id, text) into `wd`. Lookups start from originals with
    * labelled variants, once their batch is in.
    */
  def run(docs: DataFrame, labels: DataFrame, wd: File, r: Recorder): IngestSequence.Result = {
    val w = wd.getPath
    val origins = labels.select(col("original_url").as("id")).distinct()
      .select(col("id"), batchOf(col("id")).as("batch")).collect()
      .map(x => (x.getString(0), x.getInt(1))).sortBy(x => (x._1.hashCode, x._1))
    val state = new IncrementalIngest.IngestState
    // a streaming span's rows_out: rows it appended to the three stores,
    // read off the commit manifests
    def appended(name: String)(body: => Unit): Unit = {
      val before = storeRows(w)
      r.span(name, (_: Unit) => storeRows(w) - before)(body)
    }
    def ingest(b: Int, name: String): Unit = {
      val batch = docs.where(batchOf(col("id")) === b)
      appended(name)(IncrementalIngest.processBatch(batch, b, cfg, w,
        matchEvery = Int.MaxValue, compactEvery = CompactEvery, state = state))
      appended(if (name == "streaming.flush") "streaming.match" else name)(
        IncrementalIngest.matchPending(spark, w, cfg))
    }
    def lookup(b: Int, i: Int): Int = {
      val edges = IncrementalIngest.pairs(spark, w, cfg).withColumnRenamed("jaccard", "similarity")
      val q =
        if (i % 2 == 0) {
          val live = origins.filter(_._2 <= b)
          Serving.nHopSlice(edges, live((b + i) % live.length)._1, hops = 2, limit = 20)
        } else Serving.listByMatchCount(IncrementalIngest.signatures(spark, w, cfg).select("id"),
          edges, limit = 20, offset = (7 * b) % 50)
      q.collect().length
    }
    val batches = Seq.newBuilder[Double]
    val lookups = Seq.newBuilder[Double]
    var redeliveredRows = 0L
    for (b <- 0 until Batches) {
      val name = if ((b + 1) % CompactEvery == 0) "streaming.compact_batch" else "streaming.flush"
      batches += seconds(ingest(b, name))._2
      if (b == Redeliver) {
        val before = storeRows(w)
        ingest(b, "streaming.redeliver")
        redeliveredRows = storeRows(w) - before
      }
      for (i <- 0 until LookupsPerBatch)
        lookups += seconds(r.span("queries.lookup", (n: Int) => n.toLong)(lookup(b, i)))._2
    }
    IngestSequence.Result(r.take(), batches.result(), lookups.result(),
      fingerprint(IncrementalIngest.pairs(spark, w, cfg), "id_a", "id_b"),
      fingerprint(IncrementalIngest.signatures(spark, w, cfg), "id"),
      if (redeliveredRows == 0) Nil
      else Seq(s"re-delivered batch $Redeliver appended $redeliveredRows rows"))
  }
}

object IngestSequence {
  /** Spans, micro-batch and lookup latencies, store fingerprints and check failures. */
  final case class Result(spans: Seq[Span], batches: Seq[Double], lookups: Seq[Double],
                          pairs: (Long, Long), signatures: (Long, Long), failures: Seq[String])
}
