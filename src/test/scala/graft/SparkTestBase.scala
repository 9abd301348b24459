package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for Spark-level specs. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** True when the session's cache manager holds no cached plan. */
  def cacheIsEmpty: Boolean = spark.sharedState.cacheManager.isEmpty
}
