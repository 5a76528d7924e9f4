package graft.importer

import graft.Engine
import org.apache.spark.sql.SparkSession

/** CLI entry point (reference App.scala:11-36, Config.scala:5-24): same
  * option surface — long AND short forms, `k=v,k=v` Spark conf passthrough,
  * `--threads` session control, wall-clock + schema logging. Unknown or
  * misspelled options are REJECTED (a silently-dropped `--partitonCols`
  * would mean a user's partitioning just doesn't apply).
  *
  * Usage:
  *   ImporterCli --srcFile|-s in.csv --destFile|-d out.parquet
  *     [--delimiter|-l ,] (`--delimeter`, the reference's misspelled long
  *     option from Config.scala:19, is accepted as an alias)
  *     [--schemaFile|-f f] [--slashEscapes|-q] [--dateEnrich|-e col]
  *     [--sortCols|-o a,b] [--partitionCols|-p a,b] [--twitterCleanse|-w]
  *     [--sparkOpts|--sparkOpt|-k k=v,k=v] [--threads|-t n]
  *     [--arrayCols a,b] [--removeArraySrc]   (graft extensions, long-only)
  */
object ImporterCli {

  /** Long-form aliases: the reference's misspelled `--delimeter` and its
    * singular `--sparkOpt` (Config.scala:19,22) both resolve to the
    * canonical keys so verbatim reference invocations keep working.
    */
  private val longAliases = Map("delimeter" -> "delimiter", "sparkOpt" -> "sparkOpts")

  /** Short-option table — reference Config.scala:11-22 (Scallop `short=`). */
  private val shortOpts = Map(
    "-s" -> "srcFile", "-d" -> "destFile", "-f" -> "schemaFile",
    "-e" -> "dateEnrich", "-p" -> "partitionCols", "-o" -> "sortCols",
    "-q" -> "slashEscapes", "-l" -> "delimiter", "-t" -> "threads",
    "-w" -> "twitterCleanse", "-k" -> "sparkOpts")

  private val flagKeys = Set("slashEscapes", "removeArraySrc", "twitterCleanse",
    "multiLine")
  private val valueKeys = Set("srcFile", "destFile", "delimiter", "schemaFile",
    "dateEnrich", "arrayCols", "sortCols", "partitionCols", "sparkOpts", "threads",
    "badRowsDest")

  private[importer] def parseArgs(args: Array[String]): (ImportConfig, Map[String, String], String) = {
    var opts = Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      val key =
        if (a.startsWith("--")) { val raw = a.drop(2); longAliases.getOrElse(raw, raw) }
        else if (a.startsWith("-")) shortOpts.getOrElse(a,
          throw new IllegalArgumentException(s"Unknown option '$a'"))
        else throw new IllegalArgumentException(s"Unexpected argument '$a'")
      if (flagKeys.contains(key)) { opts += (key -> "true"); i += 1 }
      else if (valueKeys.contains(key)) {
        if (i + 1 >= args.length) throw new IllegalArgumentException(s"Missing value for '$a'")
        opts += (key -> args(i + 1)); i += 2
      }
      else throw new IllegalArgumentException(s"Unknown option '$a'")
    }
    def list(k: String): Seq[String] =
      opts.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val conf = ImportConfig(
      srcFile = opts.getOrElse("srcFile", throw new IllegalArgumentException("--srcFile is required")),
      destFile = opts.getOrElse("destFile", throw new IllegalArgumentException("--destFile is required")),
      delimiter = opts.getOrElse("delimiter", ","),
      schemaFile = opts.get("schemaFile"),
      slashEscapes = opts.contains("slashEscapes"),
      dateEnrich = opts.get("dateEnrich"),
      arrayCols = list("arrayCols"),
      removeArraySrc = opts.contains("removeArraySrc"),
      sortCols = list("sortCols"),
      partitionCols = list("partitionCols"),
      twitterCleanse = opts.contains("twitterCleanse"),
      badRowsDest = opts.get("badRowsDest"),
      multiLine = opts.contains("multiLine"))
    // fail at parse time, before a Spark session exists — the runtime check
    // in Importer.readCsv would surface the same error much later
    if (conf.badRowsDest.isDefined && conf.schemaFile.isEmpty)
      throw new IllegalArgumentException("--badRowsDest requires --schemaFile")
    val sparkOpts = list("sparkOpts").map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new IllegalArgumentException(s"Malformed --sparkOpts entry '$kv'")
      }
    }.toMap
    (conf, sparkOpts, opts.getOrElse("threads", "*"))
  }

  /** The CLI session's settings: [[Engine.conf]] on `--threads` local
    * threads (`*`: all `cores`) with one shuffle partition per thread, and
    * the `--sparkOpts` entries over them.
    */
  private[importer] def sessionConf(threads: String, sparkOpts: Map[String, String],
                                    cores: Int): Map[String, String] =
    Engine.conf(s"local[$threads]", if (threads == "*") cores.toString else threads) ++ sparkOpts

  /** Usage banner printed on parse failure (reference Config.scala:6-10). */
  private val usage =
    """
      |Parquet CSV file importer (graft)
      |
      |Usage: ImporterCli [OPTION]...
      |  -s, --srcFile <path>        CSV file to import (required)
      |  -d, --destFile <path>       Destination Parquet file (required)
      |  -f, --schemaFile <path>     Schema file path
      |  -e, --dateEnrich <col>      Append date/year/month columns from a date/time column
      |  -p, --partitionCols <a,b>   Partition columns
      |  -o, --sortCols <a,b>        Sort columns
      |  -q, --slashEscapes          Use '\' as quote escape instead of '""'
      |  -l, --delimiter <char>      CSV delimiter, default ','  (--delimeter accepted)
      |  -t, --threads <n>           Spark threads, default # processors
      |  -w, --twitterCleanse        Remove corrupted rows in Twitter-sourced CSVs
      |  -k, --sparkOpts <k=v,k=v>   Additional Spark options (--sparkOpt accepted)
      |      --arrayCols <a,b>       Parse "[a, b]" string columns into arrays (graft extension)
      |      --removeArraySrc        Drop source columns after array parse (graft extension)
      |      --badRowsDest <path>    Quarantine malformed rows to this path instead of
      |                              silently dropping them (graft extension; needs --schemaFile)
      |      --multiLine             Parse quoted fields containing newlines as one record
      |                              (graft extension; multiLine files are not splittable —
      |                              shard large inputs)
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val (conf, sparkOpts, threads) =
      try parseArgs(args)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"error: ${e.getMessage}\n$usage")
          sys.exit(2)
      }
    implicit val spark: SparkSession = Engine.session("graft-importer",
      overrides = sessionConf(threads, sparkOpts, Runtime.getRuntime.availableProcessors))
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val out = Importer.readCsvWriteParquet(conf)
    println(f"Complete in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    out.printSchema()
    spark.stop()
  }
}
