package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The session every `graft.tools` main runs in: `local[$SPARK_GRAFT_CPUS]`
  * (default 32, the bench width; set it lower to measure the same query at
  * several core counts) with as many shuffle partitions, UTC, AQE on, and
  * the JIT warmed by one throwaway job so the first timed query does not
  * pay for it. */
object ToolSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark
  }

  /** Seconds for one run of a declared query through the noop sink (every
    * output column materialized, the Bench methodology). The PlanCache and
    * the widen memo are cleared first, so a rep never finds intermediates
    * an earlier rep or query built and each rep prices its own build. */
  def timeQuery(spark: SparkSession, name: String, sfDir: String): Double = {
    graft.ops.Dedup.clearCaches()
    graft.sources.Tables.clearWidenMemo()
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}
