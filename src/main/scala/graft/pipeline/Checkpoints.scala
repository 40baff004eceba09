package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition checkpoint / lineage / metrics store (north-rule:
  * "checkpoints per-partition progress with lineage and metrics ...
  * for resumable restarts"). Generalizes the reference's
  * skip-if-repr-exists keyed by (path, sha256, config-tag)
  * (`extract_features.py:61`, `winnow/utils/utils.py:186-222`) to
  * bucket granularity: work is hash-bucketed by id, and a completed
  * bucket is recorded as a checkpoint row; a restart recomputes only
  * missing buckets; a config-tag change invalidates everything
  * (reference `repr_key.py:10-15` semantics).
  *
  * Storage is a [[graft.store.TxLog]] table: atomic append commits, so
  * a crash mid-record never leaves a half-written checkpoint, and a
  * transient read failure is never mistaken for "no checkpoints" (only
  * a genuinely never-committed table reads as empty — a corrupt data
  * file PROPAGATES and fails the run loudly).
  */
final class CheckpointStore(spark: SparkSession, path: String) {
  import spark.implicits._

  private val log = new graft.store.TxLog(s"$path/checkpoints")

  def read(): DataFrame = {
    val empty = spark.createDataset(
      Seq.empty[(String, Int, String, Long, Long, Long)])
      .toDF("stage", "bucket", "config_tag", "rows", "wall_ms", "ts")
    log.read(spark).getOrElse(empty)
  }

  /** Buckets already completed for (stage, configTag). */
  def completedBuckets(stage: String, configTag: String): Set[Int] =
    read().where(col("stage") === stage && col("config_tag") === configTag)
      .select("bucket").distinct().as[Int].collect().toSet

  /** Record completion rows (atomic append commit; read-time dedup on
    * completedBuckets keeps idempotency under re-recording).
    */
  def record(stage: String, configTag: String,
             bucketRows: Seq[(Int, Long)], wallMs: Long): Unit = {
    val ts = System.currentTimeMillis()
    // writeAppend = the same stage-then-commit this used to spell out,
    // plus the manifest schema declaration every TxLog table gets
    log.writeAppend(spark.createDataset(bucketRows.map { case (b, n) =>
      (stage, b, configTag, n, wallMs, ts)
    }).toDF("stage", "bucket", "config_tag", "rows", "wall_ms", "ts")
      .coalesce(1)): Unit
  }

  /** Stage-level metrics view (lineage: per-bucket rows + timings).
    * `wall_ms` is the stage wall: every bucket row of one commit repeats
    * that wave's wall, so it is counted once per commit (`ts`).
    */
  def metrics(): DataFrame = {
    val rows = read()
    val wall = rows.groupBy("stage", "config_tag", "ts").agg(max(col("wall_ms")).as("w"))
      .groupBy("stage", "config_tag").agg(sum(col("w")).as("wall_ms"))
    rows.groupBy("stage", "config_tag")
      .agg(countDistinct(col("bucket")).as("buckets"),
        sum(col("rows")).as("rows"),
        max(col("ts")).as("last_ts"))
      .join(wall, Seq("stage", "config_tag"))
  }
}

/** Resumable dedup job: signatures stage is computed bucket-by-bucket
  * (pmod(xxhash64(id), buckets)), checkpointed, and written as a
  * partitioned parquet table; pairs + clusters stages recompute from the
  * signatures table (cheap relative to signing at corpus scale, and the
  * reference regenerates matches globally the same way,
  * `ray_extract_features.py:100,241-367`).
  */
object ResumableDedupJob {

  /** Run (or resume) the signature stage; returns the signatures table.
    * Skips buckets checkpointed under the same config tag; recomputes
    * everything if the tag changed.
    *
    * `waveBuckets` sets the INTRA-RUN progress granularity: the missing
    * buckets are processed in waves of that many, and each wave is
    * committed to the checkpoint store as it completes — a driver crash
    * mid-stage loses at most one wave of work, not the whole stage. The
    * trade-off is scan amplification: every wave re-reads `docs` (the
    * bucket is a hash of `id`, so no storage pruning applies), so
    * ceil(missing/waveBuckets) waves cost that many input scans. The
    * default 0 keeps the single scan-optimal pass (one wave); an
    * operator running a multi-day 100-TB signing job picks the wave
    * size whose restart exposure is worth the extra scans (e.g. 4
    * waves = lose ≤25% of the stage to a crash for 4 input scans).
    */
  def signaturesStage(docs: DataFrame, cfg: DedupConfig, workDir: String,
                      buckets: Int = 16, waveBuckets: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    val store = new CheckpointStore(spark, workDir)
    // the bucket COUNT is part of the checkpoint identity: a resume
    // with a different `buckets` must recompute from scratch — pmod-16
    // checkpoints say nothing about pmod-32 buckets, and mixing moduli
    // in one signatures table would duplicate every doc whose old
    // partition also survives (the stage tag also names the table
    // path, so differently-bucketed tables never share files)
    val stageTag = s"${cfg.configTag}-b$buckets"
    val done = store.completedBuckets("signatures", stageTag)
    val missing = (0 until buckets).filterNot(done.contains)
    val sigDir = s"$workDir/signatures/tag=$stageTag"
    // the signature table schema is a pure function of the config (plan
    // derivation only, no job) — read-backs below declare it explicitly
    // so they never depend on footer inference (which LISTS data files
    // and FAILS on a legitimately empty table)
    val sigSchema = Dedup.signatures(Dedup.shingleSets(
        docs.select(col("id"), col("text")).limit(0), cfg), cfg)
      .withColumn("bucket", pmod(xxhash64(col("id")), lit(buckets)).cast("int"))
      .schema
    val waves =
      if (waveBuckets <= 0 || missing.isEmpty) Seq(missing)
      else missing.grouped(waveBuckets).toSeq
    waves.filter(_.nonEmpty).foreach { wave =>
      val t0 = System.currentTimeMillis()
      val withBucket = docs
        .withColumn("bucket", pmod(xxhash64(col("id")), lit(buckets)).cast("int"))
        .where(col("bucket").isin(wave: _*))
      // bucket is a pure function of the id the signature rows already
      // carry — recompute it narrowly instead of re-scanning docs and
      // shuffling both sides on id just to re-attach it
      val sigs = Dedup.signatures(Dedup.shingleSets(
          withBucket.select(col("id"), col("text")), cfg), cfg)
        .withColumn("bucket", pmod(xxhash64(col("id")), lit(buckets)).cast("int"))
      // dynamic partition overwrite: a crash after a bucket's files
      // committed but before store.record would otherwise leave rows
      // that a resume re-appends (duplicate signatures); overwrite of
      // exactly the recomputed buckets makes the retry idempotent
      sigs.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(sigDir)
      // lineage counts, read back column-pruned from the just-written
      // files under the EXPLICIT schema: an all-empty wave (zero data
      // files yet) reads as an empty table instead of failing footer
      // inference, and a genuine read error still throws HERE — before
      // store.record can durably mark the wave's buckets complete (a
      // swallowed error there would wedge every later resume: `missing`
      // empty, nothing recomputed, the final read failing forever)
      val counts = spark.read.schema(sigSchema).parquet(sigDir)
        .where(col("bucket").isin(wave: _*))
        .groupBy("bucket").count()
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      // buckets that produced zero rows still count as completed
      val all = wave.map(b => (b, counts.getOrElse(b, 0L))).toSeq
      store.record("signatures", stageTag, all,
        System.currentTimeMillis() - t0)
    }
    docs.sparkSession.read.schema(sigSchema).parquet(sigDir)
  }

  /** Pairs stage from a signatures table — the ONE LSH pair wiring
    * (also behind [[Dedup.pairsMaterialized]]): validity filter -> band
    * table -> skew-aware candidate join (hot bands measured and salted
    * only when one exists — the north rule's "explicit salted
    * repartitioning for skewed hot bands" IS the production default,
    * not an opt-in) -> exact verify.
    */
  def pairsStage(sigs: DataFrame, cfg: DedupConfig,
                 hotCap: Int = 1024, saltBuckets: Int = 16): DataFrame = {
    val shingled = sigs.select(col("id"), col("shingles"))
    val cands = Dedup.candidatePairsSkewAware(
      Dedup.bandTable(Dedup.validSignatures(sigs), cfg), hotCap, saltBuckets)
    Dedup.verifiedPairs(cands, shingled, cfg)
  }

  /** Keep-list stage: the curated-corpus decision table (one kept doc
    * per cluster, quality-ranked — [[Dedup.keepList]]), written durable
    * and tag-stamped like every other stage artifact.
    */
  def keepStage(docs: DataFrame, clusters: DataFrame, cfg: DedupConfig,
                workDir: String): DataFrame = {
    val keep = Dedup.keepList(docs,
      clusters.select(col("id"), col("cluster_id")),
      graft.functions.TextFunctions.qualityScore(col("text")))
    val dir = s"$workDir/keep/tag=${cfg.configTag}"
    keep.write.mode(SaveMode.Overwrite).parquet(dir)
    docs.sparkSession.read.parquet(dir)
  }

  /** Full resumable run: signatures (bucket-checkpointed) -> pairs ->
    * clusters, with pairs/clusters written once and stamped by tag.
    */
  def run(docs: DataFrame, cfg: DedupConfig, workDir: String,
          buckets: Int = 16, hotCap: Int = 1024,
          saltBuckets: Int = 16, waveBuckets: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    val sigs = signaturesStage(docs, cfg, workDir, buckets, waveBuckets)
    val pairs = pairsStage(sigs, cfg, hotCap, saltBuckets)
    val clusters = Dedup.clusters(pairs)
    clusters.write.mode(SaveMode.Overwrite)
      .parquet(s"$workDir/clusters/tag=${cfg.configTag}")
    spark.read.parquet(s"$workDir/clusters/tag=${cfg.configTag}")
  }
}
