package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Sink helpers: format fan-out, the partitioned-write row layout the
  * importer shares, and the file-sizing knobs that matter at 100 TB
  * (partition-internal sort for row-group locality, `maxRecordsPerFile` to
  * bound file sizes under dynamic-partition writes).
  */
object Writers {

  /** Rows laid out for a `partitionBy(partitionCols)` write with files sorted
    * by `sortCols`: one shuffle on the partition columns, then a
    * within-partition sort on `partitionCols ++ sortCols`. The partitioned
    * writer needs its rows ordered by the partition columns; a sort on
    * `sortCols` alone does not provide that, so the planner would add its
    * own partition-column sort and the files would lose the `sortCols` order.
    */
  def partitionSorted(df: DataFrame, partitionCols: Seq[String],
                      sortCols: Seq[String]): DataFrame = {
    val repart = df.repartition(partitionCols.map(col): _*)
    if (sortCols.nonEmpty) repart.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
    else repart
  }

  /** Partitioned parquet with bounded file sizes and internally-sorted files:
    * [[partitionSorted]] plus a per-file record cap, so min/max row-group
    * stats enable scan skipping.
    */
  def partitionedParquet(df: DataFrame, dest: String,
                         partitionCols: Seq[String],
                         sortCols: Seq[String] = Nil,
                         maxRecordsPerFile: Long = 0L): Unit = {
    partitionSorted(df, partitionCols, sortCols).write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(dest)
  }

  /** Single-format writers (overwrite) — csv keeps a header for round-trips
    * with the importer.
    */
  def csv(df: DataFrame, dest: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(dest)

  def json(df: DataFrame, dest: String): Unit =
    df.write.mode("overwrite").json(dest)

  def orc(df: DataFrame, dest: String): Unit =
    df.write.mode("overwrite").orc(dest)

  def parquet(df: DataFrame, dest: String): Unit =
    df.write.mode("overwrite").parquet(dest)
}
