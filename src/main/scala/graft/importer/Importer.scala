package graft.importer

import graft.sources.Writers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Import pipeline configuration (reference Config.scala:5-24).
  * `badRowsDest` is a graft extension (no reference equivalent): when set,
  * malformed rows are QUARANTINED to that path instead of silently dropped.
  */
case class ImportConfig(
    srcFile: String,
    destFile: String,
    delimiter: String = ",",
    schemaFile: Option[String] = None,
    slashEscapes: Boolean = false,
    dateEnrich: Option[String] = None,
    arrayCols: Seq[String] = Nil,
    removeArraySrc: Boolean = false,
    sortCols: Seq[String] = Nil,
    partitionCols: Seq[String] = Nil,
    twitterCleanse: Boolean = false,
    badRowsDest: Option[String] = None,
    multiLine: Boolean = false)

/** CSV → Parquet import pipeline (reference `readCSVWriteParquet`,
  * package.scala:108-164): read → [cleanse] → [enrich] → [sort] → write,
  * each stage gated on its option.
  *
  * Documented divergences from the reference (SURVEY.md §2.1, §7.2 M1):
  *   - no `--schemaFile` ⇒ REAL schema inference (`inferSchema=true`); the
  *     reference logged "Inferring schema" but read everything as String
  *     (package.scala:122);
  *   - partitioned writes use `repartition(partitionCols)` +
  *     `sortWithinPartitions(partitionCols ++ sortCols)`
  *     ([[graft.sources.Writers.partitionSorted]]) so every file is sorted by
  *     `sortCols` — the reference's global sort-then-repartition destroyed
  *     the order it had just paid a range-shuffle for
  *     (package.scala:147→155). The partition columns lead the sort key
  *     because the partitioned writer sorts by them itself otherwise, which
  *     discards a `sortCols`-only order;
  *   - the cleanse is one distributed left-anti join that reads the source
  *     twice, not a driver collect (see [[Cleanse]]);
  *   - `removeArraySrc` is honored (the reference accepted and ignored it).
  */
object Importer {

  def readCsv(conf: ImportConfig)(implicit spark: SparkSession): DataFrame = {
    // PERMISSIVE's _corrupt_record column only exists when the schema is
    // explicit; without this guard the quarantine filter dies later with an
    // opaque unresolved-column AnalysisException
    require(conf.badRowsDest.isEmpty || conf.schemaFile.isDefined,
      "badRowsDest requires schemaFile: quarantining malformed rows needs an " +
        "explicit schema to attach the corrupt-record column to")
    val quarantine = conf.badRowsDest.isDefined
    val reader = spark.read
      .option("header", "true")
      // DROPMALFORMED keeps the reference's silent-drop contract
      // (package.scala:112); with a quarantine destination we read PERMISSIVE
      // instead so malformed rows survive into _corrupt_record for audit
      .option("mode", if (quarantine) "PERMISSIVE" else "DROPMALFORMED")
      .option("charset", "utf-8") // the reference's "UTF8" spelling is rejected by Spark 4
      .option("delimiter", conf.delimiter)
      .option("escape", if (conf.slashEscapes) "\\" else "\"")
      // graft extension (reference parity keeps the default false): a
      // quoted field containing a NEWLINE — routine in tweet text, the
      // reference's own headline use case — is SILENTLY TRUNCATED at the
      // newline by the line-split parser (worse than a drop: corrupted
      // data survives), the continuation physical line is dropped by
      // DROPMALFORMED on any parsed read, and count()-style column-free
      // reads skip malformed filtering entirely so counts disagree with
      // collects (all pinned in ImporterSpec). multiLine=true parses the
      // quoted newline as one intact record. The at-scale trade is
      // explicit and priced: multiLine files are NOT splittable (one task
      // per file), so shard the input when enabling this on multi-GB dumps.
      .option("multiLine", conf.multiLine.toString)
    conf.schemaFile match {
      case Some(f) =>
        val base = SchemaFile.parse(f)
        if (quarantine) {
          val withCorrupt = base.add("_corrupt_record", "string", nullable = true)
          reader.schema(withCorrupt)
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .csv(conf.srcFile)
        } else reader.schema(base).csv(conf.srcFile)
      case None => reader.option("inferSchema", "true").csv(conf.srcFile)
    }
  }

  /** Split a PERMISSIVE read into (clean, corrupt): corrupt rows are written
    * raw to `dest` for audit — the at-scale alternative to silently losing
    * data — and the clean side continues the pipeline without the marker
    * column. One pass over the source feeds both sinks via the cached split;
    * the caller unpersists the returned cache handle once the clean side has
    * been written (the cache would otherwise hold the whole import in
    * executor memory for the rest of the session).
    */
  private def quarantineBadRows(df: DataFrame, dest: String): (DataFrame, DataFrame) = {
    val marked = df.cache()
    marked.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"))
      .write.mode("overwrite").text(dest)
    (marked.filter(col("_corrupt_record").isNull).drop("_corrupt_record"), marked)
  }

  /** Full pipeline; returns the DataFrame that was written (reference
    * package.scala:158, 162 contract for programmatic callers).
    */
  def readCsvWriteParquet(conf: ImportConfig)(implicit spark: SparkSession): DataFrame = {
    var df = readCsv(conf)
    var quarantineCache: Option[DataFrame] = None
    conf.badRowsDest.foreach { dest =>
      val (clean, cache) = quarantineBadRows(df, dest)
      df = clean
      quarantineCache = Some(cache)
    }
    if (conf.twitterCleanse) df = Cleanse.twitterCleanse(df)
    conf.dateEnrich.foreach(c => df = Enrich.dateEnrich(c, df))
    conf.arrayCols.foreach(c => df = Enrich.parseAndAppendArrayCol(c, df, conf.removeArraySrc))

    val out =
      if (conf.partitionCols.nonEmpty) {
        val o = Writers.partitionSorted(df, conf.partitionCols, conf.sortCols)
        o.write.partitionBy(conf.partitionCols: _*).parquet(conf.destFile)
        o
      } else {
        val o = if (conf.sortCols.nonEmpty) df.sort(conf.sortCols.map(col): _*) else df
        o.write.parquet(conf.destFile)
        o
      }
    // both sinks are written; drop the quarantine split cache so the import
    // data doesn't occupy executor memory for the rest of the session. The
    // returned DataFrame then re-reads the written Parquet: without the
    // cache, a pruned action on the original lineage could reduce the CSV
    // scan to only `_corrupt_record`, which Spark disallows — and Parquet is
    // the cheaper source for follow-up actions anyway. The written schema is
    // pinned and columns re-selected in writing order: a bare partitioned
    // read would otherwise re-infer partition-column types (string "1995" →
    // int) and move partition columns to the end, breaking the "returns the
    // DataFrame that was written" contract.
    if (quarantineCache.isDefined) {
      quarantineCache.foreach(_.unpersist())
      spark.read.schema(out.schema).parquet(conf.destFile)
        .select(out.columns.map(col): _*)
    } else out
  }
}
