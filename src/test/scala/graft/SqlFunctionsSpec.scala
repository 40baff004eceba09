package graft

import org.apache.spark.sql.functions._
import graft.functions.{Expressions, GraftFunctions}
import graft.pipeline.{Dedup, DedupConfig}

/** SQL-registered custom functions: spark.sql results must bit-equal the
  * Dataset-API expressions, and the full pair query must be expressible
  * in pure SQL.
  */
class SqlFunctionsSpec extends SparkSpecBase {

  test("SQL functions equal the Dataset-API expressions bit-for-bit") {
    GraftFunctions.registerAll(spark)
    val docs = Dedup.fromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet")).limit(50)
    docs.createOrReplaceTempView("d")
    val viaSql = spark.sql(
      """SELECT id, minhash_sig(shingle_hashes(text, 3), 128) AS sig,
        |       simhash64(shingle_hashes(text, 3)) AS sh
        |FROM d""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSet
    val viaApi = docs.select(col("id"),
      Expressions.minhashSig(Expressions.shingleHashes(col("text"), 3), 128).as("sig"),
      Expressions.simhash64(Expressions.shingleHashes(col("text"), 3)).as("sh"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSet
    assert(viaSql == viaApi)
    // winnow_hashes (round 2): SQL path equals the kernel column API
    val wSql = spark.sql(
      "SELECT id, winnow_hashes(lower(text), 8, 4) AS fp FROM d")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val wApi = docs.select(col("id"),
      Expressions.winnowHashes(lower(col("text")), 8, 4).as("fp"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(wSql == wApi)
    // repetition_stats / intersect_count (curation round): SQL == API
    val rSql = spark.sql(
      """SELECT id, repetition_stats(text) AS rs,
        |  intersect_count(shingle_hashes(text, 3), shingle_hashes(text, 3)) AS ic
        |FROM d""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2))).toSet
    val rApi = docs.select(col("id"),
      Expressions.repetitionStats(col("text")).as("rs"),
      Expressions.intersectCount(
        Expressions.shingleHashes(col("text"), 3),
        Expressions.shingleHashes(col("text"), 3)).as("ic"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2))).toSet
    assert(rSql == rApi)
  }

  test("mistyped SQL calls fail at analysis, not as optimizer ClassCastExceptions") {
    GraftFunctions.registerAll(spark)
    // regression: the kernels cast unchecked, so before inputTypes were
    // declared, simhash64 over a raw string CCE'd inside ConstantFolding
    // — an optimizer stack trace pointing nowhere near the user's query
    val e1 = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT simhash64('raw text, not shingles')").collect())
    assert(e1.getMessage.toLowerCase.contains("type"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT cosine_sim(array(1L, 2L), 'oops')").collect())
    assert(e2.getMessage.toLowerCase.contains("type"))
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT minhash_sig(42, 128)").collect())
    // declared types buy the standard implicit widenings: an int-literal
    // array coerces to array<bigint> and matches the long-array path
    val widened = spark.sql(
      "SELECT simhash64(array(1, 2, 3)) AS sh").head.getLong(0)
    val exact = spark.sql(
      "SELECT simhash64(array(1L, 2L, 3L)) AS sh").head.getLong(0)
    assert(widened == exact)
  }

  test("full LSH pair query expressible in pure SQL matches Dedup.pairsMaterialized") {
    GraftFunctions.registerAll(spark)
    val cfg = DedupConfig()
    val docs = Dedup.fromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    docs.createOrReplaceTempView("docs")
    val sqlPairs = spark.sql(
      s"""WITH sh AS (
         |  SELECT id, shingle_hashes(text, ${cfg.shingleK}) AS shingles
         |  FROM docs WHERE size(split(text, ' ')) >= ${cfg.shingleK}),
         |sig AS (SELECT id, shingles,
         |               minhash_sig(shingles, ${cfg.numHashes}) AS sig FROM sh),
         |bands AS (SELECT id, explode(band_keys(sig, ${cfg.bands},
         |                 ${cfg.rowsPerBand})) AS bk FROM sig),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |         FROM bands a JOIN bands b ON a.bk = b.bk AND a.id < b.id)
         |SELECT c.id_a, c.id_b,
         |       jaccard_sets(x.shingles, y.shingles) AS jaccard
         |FROM cand c JOIN sh x ON x.id = c.id_a JOIN sh y ON y.id = c.id_b
         |WHERE jaccard_sets(x.shingles, y.shingles) >= ${cfg.threshold}
         |""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val apiPairs = Dedup.pairsMaterialized(docs, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sqlPairs == apiPairs)
  }
}
