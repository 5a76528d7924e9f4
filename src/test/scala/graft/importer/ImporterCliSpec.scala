package graft.importer

import org.scalatest.funsuite.AnyFunSuite

/** Option-surface parity with the reference CLI (Config.scala:11-22):
  * short options, the misspelled `--delimeter` / singular `--sparkOpt`
  * long spellings, and hard rejection of unknown options (a silently
  * dropped `--partitonCols` would mean partitioning just doesn't apply).
  */
class ImporterCliSpec extends AnyFunSuite {

  test("verbatim reference-style short-option invocation parses") {
    val (conf, sparkOpts, threads) = ImporterCli.parseArgs(Array(
      "-s", "in.csv", "-d", "out.parquet", "-f", "tweets.schema",
      "-e", "tweet_time", "-p", "year,month", "-o", "userid", "-q",
      "-l", ";", "-t", "4", "-w", "-k", "spark.foo=1,spark.bar=x"))
    assert(conf.srcFile === "in.csv")
    assert(conf.destFile === "out.parquet")
    assert(conf.schemaFile === Some("tweets.schema"))
    assert(conf.dateEnrich === Some("tweet_time"))
    assert(conf.partitionCols === Seq("year", "month"))
    assert(conf.sortCols === Seq("userid"))
    assert(conf.slashEscapes)
    assert(conf.delimiter === ";")
    assert(conf.twitterCleanse)
    assert(sparkOpts === Map("spark.foo" -> "1", "spark.bar" -> "x"))
    assert(threads === "4")
  }

  test("reference long spellings --delimeter and --sparkOpt are honored") {
    val (conf, sparkOpts, _) = ImporterCli.parseArgs(Array(
      "--srcFile", "a", "--destFile", "b", "--delimeter", "|",
      "--sparkOpt", "spark.x=y"))
    assert(conf.delimiter === "|")
    assert(sparkOpts === Map("spark.x" -> "y"))
  }

  test("misspelled or unknown options are rejected, not dropped") {
    val e = intercept[IllegalArgumentException](ImporterCli.parseArgs(Array(
      "--srcFile", "a", "--destFile", "b", "--partitonCols", "year")))
    assert(e.getMessage.contains("partitonCols"))
    intercept[IllegalArgumentException](ImporterCli.parseArgs(Array("-z", "x")))
    intercept[IllegalArgumentException](ImporterCli.parseArgs(Array(
      "--srcFile", "a", "--destFile")))
  }

  test("badRowsDest without schemaFile fails at parse time with a clear error") {
    val e = intercept[IllegalArgumentException](ImporterCli.parseArgs(Array(
      "--srcFile", "a", "--destFile", "b", "--badRowsDest", "q")))
    assert(e.getMessage.contains("--badRowsDest requires --schemaFile"))
    // with a schema file the combination parses
    val (conf, _, _) = ImporterCli.parseArgs(Array(
      "--srcFile", "a", "--destFile", "b", "--badRowsDest", "q", "--schemaFile", "s"))
    assert(conf.badRowsDest === Some("q"))
  }

  test("graft extensions stay available in long form") {
    val (conf, _, _) = ImporterCli.parseArgs(Array(
      "--srcFile", "a", "--destFile", "b", "--arrayCols", "hashtags,urls",
      "--removeArraySrc", "--multiLine"))
    assert(conf.arrayCols === Seq("hashtags", "urls"))
    assert(conf.removeArraySrc)
    assert(conf.multiLine)
    // default stays reference-parity false
    val (conf2, _, _) = ImporterCli.parseArgs(Array(
      "--srcFile", "a", "--destFile", "b"))
    assert(!conf2.multiLine)
  }

  test("the CLI session takes Engine's settings, with --threads and --sparkOpts over them") {
    val dflt = ImporterCli.sessionConf("*", Map.empty, cores = 6)
    assert(dflt === graft.Engine.conf("local[*]", "6"))
    assert(dflt("spark.sql.adaptive.coalescePartitions.parallelismFirst") === "true")
    val (_, sparkOpts, threads) = ImporterCli.parseArgs(Array(
      "-s", "a", "-d", "b", "-t", "3", "-k", "spark.sql.shuffle.partitions=7,spark.foo=x"))
    val set = ImporterCli.sessionConf(threads, sparkOpts, cores = 6)
    assert(set("spark.master") === "local[3]")
    assert(set("spark.sql.shuffle.partitions") === "7", "--sparkOpts wins over --threads")
    assert(set("spark.foo") === "x")
    assert(set.removedAll(Seq("spark.master", "spark.sql.shuffle.partitions", "spark.foo")) ===
      graft.Engine.conf("m", "p").removedAll(Seq("spark.master", "spark.sql.shuffle.partitions")))
    assert(ImporterCli.sessionConf("2", Map.empty, cores = 6)("spark.sql.shuffle.partitions") === "2")
  }
}
