package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Matches Verify/Bench session defaults (SPJ planning for the V2
      // connector) so specs exercise the same planner config.
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // Matches Verify/Bench: the generated-class cache holds 100 entries
      // by default, too few for one pipeline batch's classes (a warm
      // Engine batch then recompiles what it compiled a moment ago).
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // Matches Verify/Bench: anchored warehouse, never cwd-relative.
      .config("spark.sql.warehouse.dir", "/root/repo/target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
