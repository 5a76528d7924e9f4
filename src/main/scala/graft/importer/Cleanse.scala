package graft.importer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Twitter-dump row cleanse (reference package.scala:80-93), rebuilt without
  * the driver round-trip: the reference collected suspect ids to the driver
  * and filtered with a literal `NOT IN` list — unbounded at 100 TB
  * (SURVEY.md §3.4). Here the suspect set stays distributed as ONE left-anti
  * equi-join, preserving the reference's observable semantics exactly:
  *
  *   - rows whose `tweet_time` is null or doesn't match `yyyy-MM-dd HH:mm`
  *     are removed (including OTHER rows sharing the same tweetid — the
  *     `NOT IN` contract);
  *   - rows with NULL `tweetid` are removed IFF the suspect set is non-empty
  *     (SQL three-valued `NOT IN` semantics, the property the reference's test
  *     actually certifies — ImportTest.scala:58-60; with zero suspect rows the
  *     reference skips the filter entirely and NULL ids survive).
  *
  * The join is null-safe (`<=>`), which Spark plans as a hash/sort-merge
  * equi-join on the two-part key `(tweetid IS NULL, coalesce(tweetid, 0))`.
  * Every suspect row contributes its own id AND a NULL id to the build side,
  * so a NULL probe id matches exactly when some row is suspect, and the
  * `IS NULL` half of the key keeps a NULL id from colliding with a real id 0.
  * The `distinct` collapses the per-row NULL keys within each task before the
  * shuffle, so that key is not skewed. The plan reads the source twice — the
  * probe side and the suspect scan — and has no nested-loop or cross join.
  *
  * The suspect scan reads only `tweetid` and `tweet_time`. On a
  * DROPMALFORMED CSV read, Spark 4 drops a row only when a column the query
  * reads is malformed (with or without CSV column pruning), so a row the
  * import itself drops (malformed in some other column) can still be
  * suspect here and remove its id twins and, as above, the NULL ids.
  * Spark 2.3, which the reference ran on, treated a row as malformed if any
  * of its columns was.
  */
object Cleanse {
  /** Reference validity regex (package.scala:84): `yyyy-MM-dd HH:mm`, anchored
    * both ends — the reference's `case pattern(...)` is a whole-string match,
    * so trailing content (seconds, corrupt-row junk) makes a row suspect.
    */
  val TweetTimePattern = "^[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}$"

  def twitterCleanse(df: DataFrame): DataFrame = {
    val suspectIds = df
      .filter(col("tweet_time").isNull || !col("tweet_time").rlike(TweetTimePattern))
      .select(explode(array(col("tweetid"), lit(null))).as("_graft_suspect_id"))
      .distinct()
    df.join(suspectIds, col("tweetid") <=> col("_graft_suspect_id"), "left_anti")
  }
}
