package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{CheckpointStore, Dedup, DedupConfig, ResumableDedupJob}

/** Production entry point (north star: "runs via spark-submit on
  * multi-executor clusters ... checkpoints per-partition progress with
  * lineage and metrics ... resumable restarts").
  *
  *   spark-submit --class graft.DedupJob app.jar <pagesPath> <workDir> \
  *     [buckets=64] [saltBuckets=16]
  *
  * Reads a pages table (url, warc_ts, html?, text, lang), resumes the
  * bucket-checkpointed signature stage, regenerates pairs + clusters,
  * MERGEs results, and prints a metrics summary. Session policy:
  * [[JobSession]].
  */
object DedupJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DedupJob <pagesPath> <workDir> [buckets] [saltBuckets]")
    val Array(pagesPath, workDir) = args.take(2)
    val buckets = args.lift(2).map(_.toInt).getOrElse(64)
    // hot-band salt fan-out for the skew-aware candidate join (the
    // production default; 1 disables salting but keeps the hot/cold split)
    val saltBuckets = args.lift(3).map(_.toInt).getOrElse(16)
    val cfg = DedupConfig()

    JobSession.run("graft-dedup") { spark =>
      val t0 = System.currentTimeMillis()
      val pages = spark.read.parquet(pagesPath)
      // url is identity (input_hint); text preferred, extracted from html
      // when the text column is absent
      val docs =
        if (pages.columns.contains("text")) Dedup.fromPages(pages)
        else pages.select(col("url").as("id"),
          graft.functions.TextFunctions.extractText(col("html")).as("text"))

      val clusters =
        ResumableDedupJob.run(docs, cfg, workDir, buckets, saltBuckets = saltBuckets)
      val nClusters = clusters.select("cluster_id").distinct().count()
      val nMembers = clusters.count()
      val nDocs = docs.count()
      // curated-corpus output: one quality-ranked keeper per cluster
      val keep = ResumableDedupJob.keepStage(docs, clusters, cfg, workDir)
      val nKept = keep.where(col("kept")).count()

      val store = new CheckpointStore(spark, workDir)
      store.metrics().show(truncate = false)
      val wall = (System.currentTimeMillis() - t0) / 1000.0
      println(
        s"""{"job":"graft-dedup","config_tag":"${cfg.configTag}","docs":$nDocs,""" +
          s""""cluster_members":$nMembers,"clusters":$nClusters,"kept":$nKept,""" +
          s""""wall_sec":$wall,"docs_per_sec":${nDocs / wall}}""")
    }
  }
}
