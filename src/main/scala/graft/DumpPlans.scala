package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{GraftGlue, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.pipeline.{Dedup, DedupConfig, ExactSubstring}
import graft.queries.{Curation, Serving}

/** Writes PLANS.md: the executed physical plans of every SQL job that the
  * production entry points run on sf0.001 (a documentation artifact).
  * Each section is one production call, captured as it runs, so a
  * measured operator shows the branch its measurement picked.
  */
object DumpPlans {

  /** Runs `body` and returns its result with the (action, executed query)
    * of every SQL job it completed in `spark`, in completion order.
    */
  def executedJobs[T](spark: SparkSession)(body: => T): (T, Seq[(String, QueryExecution)]) = {
    val jobs = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        jobs.add((funcName, qe)): Unit
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // events still queued from earlier jobs must not land in this capture
    GraftGlue.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      val result = body
      GraftGlue.drainListenerBus(spark)
      (result, jobs.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cfg = DedupConfig()
    val sfDir = "/root/testdata/sf0.001"
    val documents = spark.read.parquet(s"$sfDir/documents.parquet")
    val docs = Dedup.fromDocuments(documents)
    val embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val sb = new StringBuilder
    sb.append("""# PLANS — executed physical plans of the production calls
      |
      |Generated by `graft.DumpPlans` (sf0.001, local[4]). A section is one call
      |the jobs or the benchmark make; a `Job` is one SQL execution it ran, named
      |by its Dataset action, with its final (post-AQE) plan. Lazy results run
      |with `collect()`; an `rdd` entry is the split-count probe, which runs no
      |job. Look for pruned `ReadSchema`, custom kernels (`shinglehashes`,
      |`minhashsig`, `bandkeys`) inside `*(n)` codegen regions, no cartesian
      |product, and a hot branch (a `Union` with a salt `Generate`, or a
      |`CoGroup`) only where a key was measured hot.
      |""".stripMargin)

    def dump[T](title: String)(call: => T): T = {
      val (result, jobs) = executedJobs(spark)(call)
      sb.append(s"\n## $title\n")
      jobs.zipWithIndex.foreach { case ((action, qe), i) =>
        sb.append(s"\n### Job ${i + 1}: `$action`\n\n```\n")
          .append(qe.explainString(ExplainMode.fromString("formatted")))
          .append("\n```\n")
      }
      result
    }

    // the checkpointed pair table the serving queries read
    val pairs = dump("LSH pairs: `Dedup.pairsMaterialized` (shingle + sign -> band table -> skew-aware candidate self-join -> exact-Jaccard verify; the `ResumableDedupJob.pairsStage` wiring)")(
      Dedup.pairsMaterialized(docs, cfg)).withColumnRenamed("jaccard", "similarity")
    dump("Serving: `Serving.counts`, counts-by-threshold over the edge table")(
      Serving.counts(docs, pairs).collect())
    dump("Serving: `Serving.listByMatchCount`, pagination (TakeOrderedAndProject, no global window)")(
      Serving.listByMatchCount(docs, pairs, limit = 20).collect())
    dump("ANN: `Embeddings.bruteForceTopK`, brute-force cosine top-k (broadcast corpus side)")(
      graft.functions.Embeddings.bruteForceTopK(embeddings, embeddings, 5).collect())
    val clusters = Dedup.clusters(pairs)
    dump("Dedup keep-list: `Dedup.keepList`, quality-ranked canonical doc per cluster (two-phase partial argmax + flag-back join; no cluster-partitioned window)")(
      Dedup.keepList(docs, clusters,
        graft.functions.TextFunctions.qualityScore(col("text"))).collect())
    dump("Containment pairs: `Dedup.containmentPairs` (tau 0.6; asymmetric prefix filter, measured max df, hot-shingle salting only when a df exceeds hotCap, exact kernel verify)")(
      Dedup.containmentPairs(docs, cfg, tau = 0.6))
    val substringCands = dump("Exact-threshold join: `Dedup.exactJaccardPairsPrefix` (tau 0.3, the exact-substring candidates; ranked index -> prefix self-join -> verify)")(
      Dedup.exactJaccardPairsPrefix(docs, cfg.copy(threshold = 0.3)))
    dump("Exact-substring verify: `ExactSubstring.containmentPairs` (one suffix array per hay doc; co-grouped hot branch only when a hay is measured hot)")(
      ExactSubstring.containmentPairs(substringCands, docs).collect())
    val media = SparkEntry.syntheticMedia(spark, sfDir)
    dump("Multimodal: `BinaryPipeline.mediaDuplicatePairs`, media -> frame features -> item embedding -> cosine pairs (binary column never shuffles)")(
      graft.multimodal.BinaryPipeline.mediaDuplicatePairs(
        media, SparkEntry.mediaDedupThreshold).collect())
    dump("Curation: `Curation.contaminatedDocs`, benchmark decontamination (benchmark gram hashes broadcast; corpus grams never shuffle)")(
      Curation.contaminatedDocs(documents.where(col("doc_id") % 23 =!= 0),
        documents.where(col("doc_id") % 23 === 0), k = 4).collect())
    dump("Curation: `Curation.chunkDupStats`, chunk-level dup fraction (narrow windowing; occurrence agg keyed on 8-byte chunk hash)")(
      Curation.chunkDupStats(documents, chunkTokens = 20).collect())
    dump("Curation: `Curation.removeDuplicateSpans`, C4-style duplicate-span removal (one 8-byte-keyed occurrence+keeper aggregate; ordered per-doc reconstruction)")(
      Curation.removeDuplicateSpans(documents, spanTokens = 20).collect())
    dump("Curation: `Curation.semanticDedup`, SemDeDup (SRP bucket pair join -> CC -> quality-ranked keeper; no corpus collect)")(
      Curation.semanticDedup(embeddings, threshold = 0.999).collect())
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("[plans] written PLANS.md")
    spark.stop()
  }
}
