package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.functions.Embeddings
import graft.multimodal.BinaryPipeline

/** Production entry point for MEDIA dedup — the reference's own domain
  * (VideoDeduplication end-to-end: extract features -> generate matches
  * -> cluster, `extract_features.py` / `generate_matches.py`):
  *
  *   spark-submit --class graft.MediaDedupJob app.jar <mediaPath> <workDir> \
  *     [threshold=0.995] [mode=exact|lsh]
  *
  * Reads a media table (id, bytes), decodes + featurizes frames (REAL
  * image/audio decoders in [[BinaryPipeline]]), pools item embeddings,
  * finds all pairs with cosine >= threshold (`exact` = broadcast scan,
  * fine to ~1M items; `lsh` = SRP-bucketed `srpThresholdPairs`, the
  * 100-TB shape), clusters them, and writes the resolution-ranked
  * keep-list. All artifacts are tag-stamped so a config change
  * invalidates previous outputs.
  */
object MediaDedupJob {

  /** 40-hex tag over the representation-affecting config. */
  def configTag(threshold: Double, mode: String, stride: Int, dim: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val json = s"""{"threshold":$threshold,"mode":"$mode","stride":$stride,"dim":$dim}"""
    md.digest(json.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(40)
  }

  /** Defaults shared by run() and main()'s tag re-derivation — a
    * drifted copy would make main read a nonexistent clusters path.
    */
  val defaultStride = 1
  val defaultDim = 16

  /** Run the full media pipeline durable into workDir; returns the
    * keep-list DataFrame (read back from its durable location).
    */
  def run(media: DataFrame, workDir: String, threshold: Double = 0.995,
          mode: String = "exact", stride: Int = defaultStride,
          dim: Int = defaultDim): DataFrame = {
    require(mode == "exact" || mode == "lsh", s"mode must be exact|lsh, got $mode")
    val spark = media.sparkSession
    val tag = configTag(threshold, mode, stride, dim)
    val emb = BinaryPipeline.mediaEmbeddings(media, stride, dim)
    emb.write.mode(SaveMode.Overwrite).parquet(s"$workDir/embeddings/tag=$tag")
    val embD = spark.read.parquet(s"$workDir/embeddings/tag=$tag")
    val pairs =
      if (mode == "exact") Embeddings.bruteForceThresholdPairs(embD, threshold)
      else Embeddings.srpThresholdPairs(embD, threshold)
    pairs.write.mode(SaveMode.Overwrite).parquet(s"$workDir/pairs/tag=$tag")
    val pairsD = spark.read.parquet(s"$workDir/pairs/tag=$tag")
    val clusters = BinaryPipeline.mediaClusters(pairsD)
    clusters.write.mode(SaveMode.Overwrite).parquet(s"$workDir/clusters/tag=$tag")
    val clustersD = spark.read.parquet(s"$workDir/clusters/tag=$tag")
    BinaryPipeline.mediaKeepList(media, clustersD)
      .write.mode(SaveMode.Overwrite).parquet(s"$workDir/keep/tag=$tag")
    spark.read.parquet(s"$workDir/keep/tag=$tag")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: MediaDedupJob <mediaPath> <workDir> [threshold] [mode=exact|lsh]")
    val Array(mediaPath, workDir) = args.take(2)
    val threshold = args.lift(2).map(_.toDouble).getOrElse(0.995)
    val mode = args.lift(3).getOrElse("exact")

    JobSession.run("graft-media-dedup") { spark =>
      val t0 = System.currentTimeMillis()
      val media = spark.read.parquet(mediaPath)
      val keep = run(media, workDir, threshold, mode)
      val nItems = media.count()
      val nKept = keep.where(col("kept")).count()
      val tag = configTag(threshold, mode, defaultStride, defaultDim)
      val nClusters = spark.read.parquet(s"$workDir/clusters/tag=$tag")
        .select("cluster_id").distinct().count()
      val wall = (System.currentTimeMillis() - t0) / 1000.0
      println(
        s"""{"job":"graft-media-dedup","config_tag":"$tag","items":$nItems,""" +
          s""""clusters":$nClusters,"kept":$nKept,"mode":"$mode",""" +
          s""""wall_sec":$wall,"items_per_sec":${nItems / wall}}""")
    }
  }
}
