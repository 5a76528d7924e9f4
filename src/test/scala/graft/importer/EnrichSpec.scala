package graft.importer

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Edge-case micro-fixtures from FIXTURES.md A.3: date-enrich sentinel
  * semantics, array-parse quirks (incl. the reference's `"[]"` → `[""]`),
  * schema-file parsing, and cleanse NULL semantics.
  */
class EnrichSpec extends SparkSpec {
  import spark.implicits._

  test("date enrich: null / empty / non-matching / valid inputs (R9-R12 sentinels)") {
    val df = Seq[Option[String]](None, Some(""), Some("2015-1-1 9:5"), Some("2015-03-04 05:06"))
      .toDF("ts")
    val out = Enrich.dateEnrich("ts", df)
      .select("date", "year", "month").collect().toSeq
    assert(out(0) === Row("", "", ""))            // null -> "" sentinels
    assert(out(1) === Row("", "", ""))            // empty -> ""
    assert(out(2) === Row("2015-1-1", "", ""))    // date has NO regex validation (ref asymmetry)
    assert(out(3) === Row("2015-03-04", "2015", "03"))
  }

  test("date enrich: whole-string match — trailing/embedded content yields sentinels") {
    // Scala `case regex(...)` is Matcher.matches (full string); regexp_extract
    // substring-matches, so the pattern must be anchored to agree with the
    // reference on these inputs.
    val df = Seq(
      "2015-03-04 05:06:30",            // trailing seconds -> non-match
      "x 2015-03-04 05:06",             // leading junk -> non-match
      "tweeted at 2015-03-04 05:06 ok") // embedded datetime -> non-match
      .toDF("ts")
    val out = Enrich.dateEnrich("ts", df).select("year", "month").collect().toSeq
    assert(out(0) === Row("", ""))
    assert(out(1) === Row("", ""))
    assert(out(2) === Row("", ""))
  }

  test("array parse: null / empty / brackets / singleton / pair (R13 quirks)") {
    val df = Seq[Option[String]](None, Some(""), Some("[]"), Some("[a]"), Some("[a, b]"))
      .toDF("src")
    val out = Enrich.parseAndAppendArrayCol("src", df)
      .select("src_array").as[Seq[String]].collect().toSeq
    assert(out(0) === Seq.empty)
    assert(out(1) === Seq.empty)
    assert(out(2) === Seq(""))        // reference quirk pinned: "[]" -> [""]
    assert(out(3) === Seq("a"))
    assert(out(4) === Seq("a", "b"))
  }

  test("array parse honors removeSrc (documented divergence from dead-code param)") {
    val df = Seq("[x]").toDF("src")
    val kept = Enrich.parseAndAppendArrayCol("src", df, removeSrc = false)
    val dropped = Enrich.parseAndAppendArrayCol("src", df, removeSrc = true)
    assert(kept.columns.toSeq === Seq("src", "src_array"))
    assert(dropped.columns.toSeq === Seq("src_array"))
  }

  test("schema file: comments and blanks skipped, positional order kept, bad type raises") {
    val st = SchemaFile.parseLines(Iterator(
      "# comment", "", "a=Long", "  b = String ", "c=Boolean"))
    assert(st.fieldNames.toSeq === Seq("a", "b", "c"))
    assert(st("a").dataType.typeName === "long")
    assertThrows[IllegalArgumentException] {
      SchemaFile.parseLines(Iterator("x=Complex"))
    }
    assertThrows[IllegalArgumentException] {
      SchemaFile.parseLines(Iterator("not a schema line"))
    }
  }

  test("DROPMALFORMED: rows failing type conversion are silently dropped (R3)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-malformed")
    java.nio.file.Files.writeString(dir.resolve("in.csv"),
      "id,name\n1,ok\nnot_a_number,bad\n3,also_ok\n")
    java.nio.file.Files.writeString(dir.resolve("s.schema"), "id=Long\nname=String\n")
    val out = Importer.readCsv(ImportConfig(
      srcFile = dir.resolve("in.csv").toString, destFile = "unused",
      schemaFile = Some(dir.resolve("s.schema").toString)))(spark)
    // NOTE: assert on fully-materialized rows — a bare count() lets CSV
    // column pruning skip the type conversion entirely, so the malformed row
    // is only detected (and dropped) when the typed column is actually read
    val rows = out.collect()
    assert(rows.length === 2)
    assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
  }

  test("cleanse removes rows sharing a suspect tweetid (NOT IN contract)") {
    val df = Seq(
      (Some(1L), "2015-01-01 10:00"),  // good
      (Some(2L), "garbage"),           // bad time
      (Some(2L), "2015-01-01 11:00"),  // good time but shares tweetid 2 -> removed
      (None: Option[Long], "2015-01-01 12:00")) // null id -> removed
      .toDF("tweetid", "tweet_time")
    val out = Cleanse.twitterCleanse(df).select("tweetid").as[Long].collect().toSeq
    assert(out === Seq(1L))
  }

  test("cleanse flags trailing content after yyyy-MM-dd HH:mm (full-string match)") {
    val df = Seq(
      (1L, "2015-01-01 10:00"),         // good
      (2L, "2015-01-01 10:00:30"),      // trailing seconds -> suspect
      (3L, "2015-01-01 10:00 \"junk"))  // corrupt-row junk -> suspect
      .toDF("tweetid", "tweet_time")
    val out = Cleanse.twitterCleanse(df).select("tweetid").as[Long].collect().toSeq
    assert(out === Seq(1L))
  }

  test("cleanse keeps NULL tweetids when there are no suspect rows (NOT IN gating)") {
    // Reference only applies the NOT IN filter when badTweetIds is non-empty;
    // with a clean dataset NULL ids must survive.
    val clean = Seq(
      (Some(1L), "2015-01-01 10:00"),
      (None: Option[Long], "2015-01-01 12:00"))
      .toDF("tweetid", "tweet_time")
    val out = Cleanse.twitterCleanse(clean).select("tweetid").collect()
    assert(out.length === 2)
    assert(out.count(_.isNullAt(0)) === 1)
  }

  test("cleanse with only a NULL-id suspect row drops every NULL id and keeps every real id") {
    val df = Seq(
      (None: Option[Long], "garbage"),          // the only suspect row
      (None: Option[Long], "2015-01-01 10:00"), // null id -> removed (NOT IN 3VL)
      (Some(1L), "2015-01-01 11:00"),
      (Some(2L), "2015-01-01 12:00"))
      .toDF("tweetid", "tweet_time")
    val out = Cleanse.twitterCleanse(df).select("tweetid").collect()
    assert(out.count(_.isNullAt(0)) === 0)
    assert(out.map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("cleanse keeps a real tweetid 0 while dropping NULL ids (no key collision)") {
    val df = Seq(
      (Some(0L), "2015-01-01 10:00"),           // real id 0 -> kept
      (Some(5L), "garbage"),                    // suspect
      (None: Option[Long], "2015-01-01 12:00")) // null id -> removed
      .toDF("tweetid", "tweet_time")
    val out = Cleanse.twitterCleanse(df).select("tweetid").collect()
    assert(out.toSeq === Seq(Row(0L)))
  }

  test("cleanse with a suspect id 0 removes the id-0 rows") {
    val df = Seq(
      (Some(0L), "garbage"),          // suspect id 0
      (Some(0L), "2015-01-01 10:00"), // shares id 0 -> removed
      (Some(1L), "2015-01-01 11:00"))
      .toDF("tweetid", "tweet_time")
    val out = Cleanse.twitterCleanse(df).select("tweetid").as[Long].collect().toSeq
    assert(out === Seq(1L))
  }

  test("cli accepts the reference's misspelled --delimeter alias") {
    val (conf, _, _) = ImporterCli.parseArgs(Array(
      "--srcFile", "in.csv", "--destFile", "out.parquet", "--delimeter", "\t"))
    assert(conf.delimiter === "\t")
    val (conf2, _, _) = ImporterCli.parseArgs(Array(
      "--srcFile", "in.csv", "--destFile", "out.parquet", "--delimiter", ";"))
    assert(conf2.delimiter === ";")
  }
}
