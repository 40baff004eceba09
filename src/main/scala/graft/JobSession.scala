package graft

import org.apache.spark.sql.SparkSession

/** Session policy of the spark-submit jobs: UTC, WARN logs, the master
  * spark-submit injects (absent in ad-hoc runs: SPARK_MASTER, else
  * local[*]), and a stop when `body` returns or throws.
  */
object JobSession {
  def run[T](appName: String)(body: SparkSession => T): T = {
    val builder = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
    if (!sys.props.contains("spark.master"))
      builder.master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark) finally spark.stop()
  }
}
