package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, reused). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** Seed for the randomized model tests: fixed per test by default
    * (deterministic CI), overridable with GRAFT_FUZZ_SEED to drive the
    * same properties through a different region of the input space
    * (one-off fuzz campaigns; the committed default never changes).
    */
  def fuzzSeed(default: Long): Long =
    sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(default)

  /** Runs both branches of the LSH candidate operator on one band table
    * — the plain self-join (`hotCap = Int.MaxValue`) and the measured
    * hot/cold salted split at `hotCap`/`saltBuckets` — and asserts they
    * give the same candidate set. Fails when no band is wider than
    * `hotCap`, so the salted branch is really exercised. Returns the
    * candidate (id_a, id_b) rows.
    */
  def assertSaltedMatchesPlain(bands: DataFrame, hotCap: Int,
                               saltBuckets: Int): Set[Row] = {
    val widest = bands.groupBy("band_key").count().agg(max(col("count"))).head.getLong(0)
    assert(widest > hotCap, s"no band wider than hotCap=$hotCap (widest $widest): salted branch not exercised")
    def cands(cap: Int) =
      graft.pipeline.Dedup.candidatePairsSkewAware(bands, cap, saltBuckets).collect().toSet
    val plain = cands(Int.MaxValue)
    val salted = cands(hotCap)
    assert(plain.nonEmpty, "fixture yields no candidates")
    assert(salted == plain,
      s"salted branch diverges: missing=${plain -- salted} extra=${salted -- plain}")
    plain
  }

  /** Runs `body`, which must throw, and asserts the failure path left no
    * cache behind: no Dataset cache entry (a `persist` whose first job
    * failed registers the entry before any RDD exists) and no persisted
    * RDD. The session is shared by every suite, so the cache is cleared
    * first and the RDD check covers the RDDs persisted DURING `body`;
    * RDDs referenced only by the failed job (e.g. a localCheckpoint that
    * never completed) are weakly held by the context and vanish once
    * collected.
    */
  def assertFailureReleasesCaches(body: => Any): Unit = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    intercept[Exception](body)
    assert(spark.sharedState.cacheManager.isEmpty, "failure path left a Dataset cache entry")
    def leaked = sc.getPersistentRDDs.keySet -- before
    var tries = 0
    while (leaked.nonEmpty && tries < 20) { System.gc(); Thread.sleep(100); tries += 1 }
    assert(leaked.isEmpty, s"failure path leaked persisted RDDs: ${leaked.map(sc.getPersistentRDDs)}")
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
