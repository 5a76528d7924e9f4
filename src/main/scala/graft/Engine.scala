package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the scale-oriented defaults every entry point shares.
  *
  * AQE is on so runtime statistics drive skew-join splitting, partition
  * coalescing and broadcast demotion at 100 TB; shuffle partitions default to
  * the local core count (the driver overrides via env on a real cluster).
  */
object Engine {
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The settings every entry point shares, for `master` with
    * `shufflePartitions` shuffle partitions.
    */
  def conf(master: String, shufflePartitions: String): Map[String, String] = Map(
    "spark.master" -> master,
    "spark.sql.shuffle.partitions" -> shufflePartitions,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // coalesce by parallelism, not only bytes: CPU-heavy, byte-small
    // exchanges (tokenize/shingle/hash pipelines) otherwise collapse to
    // one task — byte-based sizing can't see per-row compute cost
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** A session with [[conf]]'s settings; `overrides` win over them. */
  def session(appName: String = "graft",
              master: String = s"local[$cpus]",
              shufflePartitions: Option[String] = None,
              overrides: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder().appName(appName)
    (conf(master, shufflePartitions.getOrElse(cpus)) ++ overrides)
      .foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }

  /** Register every test table as a temp view (events additionally as
    * `events_ts2` with the canonical D4 timestamp) and the custom functions —
    * after this, the whole declared surface is reachable via `spark.sql`.
    */
  def openCatalog(spark: SparkSession, dir: String): Unit = {
    Tables.all.foreach(n => Tables(spark, dir, n).createOrReplaceTempView(n))
    Tables.events(spark, dir).createOrReplaceTempView("events_ts2")
    graft.functions.VectorFunctions.register(spark)
    graft.functions.BloomFunctions.register(spark)
  }

  /** `openCatalog` + `spark.sql` in one call. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    openCatalog(spark, dir)
    spark.sql(query)
  }
}
