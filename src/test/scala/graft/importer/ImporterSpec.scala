package graft.importer

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Reference-parity golden suite (SURVEY.md §5.2 item 1): the six assertions
  * of the reference's ImporterTests (ImportTest.scala:38-77) against the
  * recreated tweet fixtures (FIXTURES.md A), run through the full pipeline
  * with cleanse + date enrich + partitioned write.
  */
class ImporterSpec extends SparkSpec with BeforeAndAfterAll {

  /** Plan traversal that descends into adaptive query stages. */
  private object PlanNodes extends AdaptiveSparkPlanHelper

  private var outDir: Path = _
  private var result: DataFrame = _

  override def beforeAll(): Unit = {
    outDir = Files.createTempDirectory("graft-importer-test")
    Files.delete(outDir) // parquet writer wants to create it
    result = Importer.readCsvWriteParquet(ImportConfig(
      srcFile = "src/test/data/test-tweets.csv",
      destFile = outDir.toString,
      schemaFile = Some("src/test/data/tweets.schema"),
      dateEnrich = Some("tweet_time"),
      partitionCols = Seq("year", "month"),
      twitterCleanse = true))(spark)
  }

  test("golden 1: output parquet exists") {
    assert(Files.exists(outDir))
    assert(Files.list(outDir).iterator().asScala.nonEmpty)
  }

  test("golden 2: corrupt-time and null-id rows cleansed -> 10 rows") {
    assert(spark.read.parquet(outDir.toString).count() === 10)
  }

  test("golden 3: 34 columns = 31 schema + date/year/month") {
    assert(spark.read.parquet(outDir.toString).columns.length === 34)
  }

  test("golden 4: enrichment columns present") {
    val cols = spark.read.parquet(outDir.toString).columns.toSet
    assert(Set("date", "year", "month").subsetOf(cols))
  }

  test("golden 5: no NULL tweetid survives the cleanse (NOT IN 3VL semantics)") {
    assert(spark.read.parquet(outDir.toString).filter("tweetid IS NULL").count() === 0)
  }

  test("golden 6: exact year=/month= partition directory layout") {
    def dirs(p: Path): Seq[String] =
      Files.list(p).iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq.sorted
    assert(dirs(outDir) === Seq("year=2014", "year=2015", "year=2016", "year=2017"))
    assert(dirs(outDir.resolve("year=2014")) === Seq("month=07", "month=11"))
    assert(dirs(outDir.resolve("year=2015")) === Seq("month=02", "month=03", "month=05", "month=11"))
    assert(dirs(outDir.resolve("year=2016")) === Seq("month=04"))
    assert(dirs(outDir.resolve("year=2017")) === Seq("month=02", "month=03"))
  }

  test("schema file drives column names and types positionally") {
    val df = spark.read.parquet(outDir.toString)
    assert(df.schema("tweetid").dataType.typeName === "long")
    assert(df.schema("is_retweet").dataType.typeName === "boolean")
    assert(df.schema("tweet_time").dataType.typeName === "string")
  }

  test("cleansed read plan: two CSV scans, no nested-loop join") {
    val fixture = ImportConfig(
      srcFile = "src/test/data/test-tweets.csv", destFile = "unused",
      schemaFile = Some("src/test/data/tweets.schema"))
    val cleansed = Cleanse.twitterCleanse(Importer.readCsv(fixture)(spark))
    assert(cleansed.collect().length === 10)
    val plan = cleansed.queryExecution.executedPlan
    val csvScans = PlanNodes.collect(plan) {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] => s
    }
    assert(csvScans.size === 2, s"expected probe + suspect scans only:\n$plan")
    assert(PlanNodes.collect(plan) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"cleanse must be an equi-join:\n$plan")
  }

  test("partitioned import with sortCols writes every file in sortCols order") {
    val dir = Files.createTempDirectory("graft-sorted-parts")
    val csv = dir.resolve("in.csv")
    val ids = new scala.util.Random(7).shuffle((1 to 600).toList)
    Files.writeString(csv, ids.map(i => s"$i,2015-0${i % 3 + 1}-01 10:00")
      .mkString("tweetid,tweet_time\n", "\n", "\n"))
    val schema = dir.resolve("in.schema")
    Files.writeString(schema, "tweetid=Long\ntweet_time=String\n")
    val dest = dir.resolve("out")
    Importer.readCsvWriteParquet(ImportConfig(
      srcFile = csv.toString, destFile = dest.toString,
      schemaFile = Some(schema.toString), dateEnrich = Some("tweet_time"),
      sortCols = Seq("tweetid"), partitionCols = Seq("year", "month")))(spark)
    val files = Files.walk(dest).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.size === 3)
    files.foreach { f =>
      val got = spark.read.parquet(f.toString).select("tweetid").collect().map(_.getLong(0)).toSeq
      assert(got.size === 200)
      val inversions = got.zip(got.tail).count { case (a, b) => a > b }
      assert(inversions === 0, s"$f is not in tweetid order")
    }
  }

  test("gzip-compressed CSV imports transparently (multi-GB dumps ship compressed)") {
    val dir = Files.createTempDirectory("graft-gz")
    val gz = dir.resolve("in.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(gz))
    out.write("id,name\n1,alpha\n2,beta\n3,gamma\n".getBytes("UTF-8")); out.close()
    val schema = dir.resolve("in.schema")
    Files.writeString(schema, "id=Long\nname=String\n")
    val dest = dir.resolve("out.parquet").toString
    Importer.readCsvWriteParquet(ImportConfig(
      srcFile = gz.toString, destFile = dest,
      schemaFile = Some(schema.toString)))(spark)
    val back = spark.read.parquet(dest)
    assert(back.count() === 3)
    assert(back.schema("id").dataType.typeName === "long")
  }

  test("badRowsDest quarantines malformed rows instead of silently dropping them") {
    val dir = Files.createTempDirectory("graft-quarantine")
    val csv = dir.resolve("in.csv")
    Files.writeString(csv, "id,name\n1,alpha\n2,beta\nnot-a-long,gamma\n3,delta\n")
    val schema = dir.resolve("in.schema")
    Files.writeString(schema, "id=Long\nname=String\n")
    val dest = dir.resolve("out").toString
    val quarantine = dir.resolve("bad").toString
    val out = Importer.readCsvWriteParquet(ImportConfig(
      srcFile = csv.toString, destFile = dest,
      schemaFile = Some(schema.toString),
      badRowsDest = Some(quarantine)))(spark)
    assert(out.count() === 3)
    assert(spark.read.parquet(dest).count() === 3)
    assert(!spark.read.parquet(dest).columns.contains("_corrupt_record"))
    val bad = spark.read.text(quarantine).collect().map(_.getString(0))
    assert(bad.toSeq === Seq("not-a-long,gamma"),
      s"quarantine must hold exactly the malformed raw line, got ${bad.toSeq}")
  }

  test("multiLine imports intact the embedded-newline rows the default mode truncates") {
    // the reference's headline use case is tweet CSVs, and tweet text
    // routinely contains newlines inside quoted fields — which the default
    // line-split parser reads as 2+ malformed physical lines that
    // DROPMALFORMED silently discards (reference parity, pinned below).
    // --multiLine (graft extension) parses them as one record.
    val dir = Files.createTempDirectory("graft-multiline")
    val csv = dir.resolve("in.csv")
    Files.writeString(csv,
      "id,text\n1,\"plain tweet\"\n2,\"first line\nsecond line\"\n3,\"last\"\n")
    val schema = dir.resolve("in.schema")
    Files.writeString(schema, "id=Long\ntext=String\n")
    // reference-parity default: the embedded-newline record is silently
    // TRUNCATED at the newline (measured — worse than a drop: corrupted
    // data survives) and the continuation physical line disappears
    val dropped = Importer.readCsvWriteParquet(ImportConfig(
      srcFile = csv.toString, destFile = dir.resolve("out1").toString,
      schemaFile = Some(schema.toString)))(spark)
    val defRows = spark.read.parquet(dir.resolve("out1").toString)
      .orderBy("id").collect()
    assert(defRows.length === 3, s"default parse kept ${defRows.length} rows")
    assert(defRows(1).getString(1) === "first line",
      s"default mode silently truncates at the newline, got '${defRows(1).getString(1)}'")
    // the count-vs-collect parity wart, pinned: a column-free count() on
    // the DROPMALFORMED source skips parsing, so malformed continuation
    // lines are NOT filtered and the count disagrees with any parsed read
    // (4 vs 3 here) — the written parquet above is the trustworthy view
    val rawCount = Importer.readCsv(ImportConfig(
      srcFile = csv.toString, destFile = "unused",
      schemaFile = Some(schema.toString)))(spark).count()
    assert(rawCount === 4,
      s"pinned Spark CSV wart drifted: column-free count read $rawCount")
    // default + quarantine SURFACES the damage: the orphaned continuation
    // line lands in the quarantine for audit instead of vanishing
    val q0 = dir.resolve("bad0").toString
    Importer.readCsvWriteParquet(ImportConfig(
      srcFile = csv.toString, destFile = dir.resolve("out0").toString,
      schemaFile = Some(schema.toString), badRowsDest = Some(q0)))(spark)
    val quarantined = spark.read.text(q0).collect().map(_.getString(0))
    assert(quarantined.toSeq === Seq("second line\""),
      s"quarantine must hold the orphaned continuation line, got ${quarantined.toSeq}")
    // multiLine: all 3 records import, the newline survives in the value
    val full = Importer.readCsvWriteParquet(ImportConfig(
      srcFile = csv.toString, destFile = dir.resolve("out2").toString,
      schemaFile = Some(schema.toString), multiLine = true))(spark)
    assert(full.count() === 3)
    val row2 = full.filter("id = 2").collect().head.getString(1)
    assert(row2 === "first line\nsecond line",
      s"embedded newline must survive the multiLine parse, got '$row2'")
    // multiLine + quarantine: nothing is malformed, quarantine stays empty
    val q = dir.resolve("bad").toString
    val clean = Importer.readCsvWriteParquet(ImportConfig(
      srcFile = csv.toString, destFile = dir.resolve("out3").toString,
      schemaFile = Some(schema.toString), multiLine = true,
      badRowsDest = Some(q)))(spark)
    assert(clean.count() === 3)
    assert(spark.read.text(q).count() === 0,
      "multiLine parse must leave the quarantine empty on this input")
  }

  test("badRowsDest + partitionCols preserves the written schema and column order") {
    val dir = Files.createTempDirectory("graft-quarantine-part")
    val csv = dir.resolve("in.csv")
    // year is a STRING partition column: a bare partitioned read-back would
    // re-infer it as int and move it to the end — the contract says the
    // returned frame matches what was written
    Files.writeString(csv,
      "id,year,name\n1,1995,alpha\n2,1996,beta\nnot-a-long,1995,gamma\n3,1995,delta\n")
    val schema = dir.resolve("in.schema")
    Files.writeString(schema, "id=Long\nyear=String\nname=String\n")
    val dest = dir.resolve("out").toString
    val out = Importer.readCsvWriteParquet(ImportConfig(
      srcFile = csv.toString, destFile = dest,
      schemaFile = Some(schema.toString),
      partitionCols = Seq("year"),
      badRowsDest = Some(dir.resolve("bad").toString)))(spark)
    assert(out.columns.toSeq === Seq("id", "year", "name"),
      "partition column must stay in its written position")
    assert(out.schema("year").dataType.typeName === "string",
      "partition column must keep its written type, not the re-inferred one")
    assert(out.count() === 3)
  }
}
