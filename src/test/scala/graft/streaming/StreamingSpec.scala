package graft.streaming

import graft.SparkSpec
import graft.operators.Events
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Batch-vs-stream equivalence (SURVEY.md §5.2 item 5): the streaming twins
  * must reproduce the batch window results on the same events data.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming tumbling hourly == batch q32") {
    val stream = Windows.runToBatch(
      Windows.tumblingHourly(Windows.eventsStream(spark, sf0001)), "t_tumbling")
      .select($"h", $"event_type", $"cnt", $"sum_value")
      .orderBy($"h", $"event_type")
      .collect().toSeq
    val batch = Events.q32Tumbling(spark, sf0001).collect().toSeq
    assert(stream === batch)
  }

  test("streaming session_window == batch gaps-and-islands sessions") {
    val stream = Windows.runToBatch(
      Windows.sessionWindows(Windows.eventsStream(spark, sf0001)), "t_sessions")
    // per-user session count + avg length from the session_window result
    val fromStream = stream
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"),
        (sum($"last_es" - $"start_es").cast("double") / count(lit(1))).as("avg_len_sec"))
      .orderBy($"user_id")
      .collect().toSeq
    val batch = Events.q31Sessionize(spark, sf0001).collect().toSeq
    assert(fromStream === batch)
  }

  test("flatMapGroupsWithState sessions are a prefix of the batch sessions") {
    val out = Windows.runToBatch(
      Windows.statefulSessions(Windows.eventsStream(spark, sf0001)).toDF(),
      "t_stateful", OutputMode.Append)
      .select($"user_id", $"start_es", $"last_es", $"n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // batch truth: all sessions via the q31 intermediate formulation
    val e = graft.Tables.events(spark, sf0001)
      .select($"user_id", $"event_id", $"ts2".cast("long").as("es"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"es", $"event_id")
    val run = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val batchSessions = e
      .withColumn("new_sess", when(lag($"es", 1).over(w).isNull || $"es" - lag($"es", 1).over(w) > 1800, 1L).otherwise(0L))
      .withColumn("session_id", sum($"new_sess").over(run))
      .groupBy($"user_id", $"session_id")
      .agg(min($"es").as("start_es"), max($"es").as("last_es"), count(lit(1)).as("n_events"))
      .select($"user_id", $"start_es", $"last_es", $"n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // every emitted (closed) session must be a true batch session; open
    // sessions at end-of-stream legitimately remain unemitted
    assert(out.nonEmpty)
    assert(out.subsetOf(batchSessions),
      s"stream emitted ${out.size} sessions, ${(out -- batchSessions).size} not in batch truth")
  }

  test("stream-stream funnel join == batch range join") {
    val stream = Windows.q71StreamJoin(spark, sf0001).collect().toSeq
    val e = graft.Tables.events(spark, sf0001)
      .select($"user_id", $"event_type", $"ts2".cast("long").as("es"))
    val v = e.filter($"event_type" === "view").select($"user_id", $"es".as("ves"))
    val c = e.filter($"event_type" === "click")
      .select($"user_id".as("cu"), $"es".as("ces"))
    val batch = v.join(c, $"user_id" === $"cu" && $"ces" >= $"ves" && $"ces" <= $"ves" + 1800)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"), sum($"ces" - $"ves").as("gap_sum"))
      .orderBy($"user_id").collect().toSeq
    assert(stream.nonEmpty)
    assert(stream === batch)
  }

  test("restart from checkpoint: state survives a stop/start across a two-batch feed") {
    import java.nio.file.Files
    val ev = graft.Tables.events(spark, sf0001)
      .select($"user_id", $"event_type", $"value", $"ts2")
    val streamDir = Files.createTempDirectory("graft-restart-src").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    // two deterministic halves, landed as separate parquet files
    ev.filter(pmod($"user_id", lit(2)) === 0).coalesce(1).write.mode("append").parquet(streamDir)
    def start(name: String) = {
      val src = spark.readStream.schema(ev.schema).parquet(streamDir)
      Windows.tumblingHourly(src)
        .writeStream.outputMode(OutputMode.Complete).format("memory")
        .option("checkpointLocation", ckpt).queryName(name).start()
    }
    val q1 = start("t_restart_a")
    try q1.processAllAvailable() finally q1.stop()
    // second batch arrives while the query is DOWN; the restarted query must
    // resume from the checkpoint: recovered agg state + processed-file log
    // (batch-1 files are NOT re-read — reprocessing would double the counts
    // in the recovered state; losing state would drop half the counts)
    ev.filter(pmod($"user_id", lit(2)) === 1).coalesce(1).write.mode("append").parquet(streamDir)
    val q2 = start("t_restart_b")
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.table("t_restart_b")
      .select($"h", $"event_type", $"cnt", $"sum_value")
      .orderBy($"h", $"event_type").collect().toSeq
    val want = ev // batch truth over the FULL feed, same shape as tumblingHourly
      .groupBy(window($"ts2", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("cnt"), sum(graft.Dsl.dec($"value")).cast("double").as("sum_value"))
      .select($"window.start".cast("string").as("h"), $"event_type", $"cnt", $"sum_value")
      .orderBy($"h", $"event_type").collect().toSeq
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("stream-stream join state survives a restart: view buffered before the stop joins a click after it") {
    import java.nio.file.Files
    import java.sql.Timestamp
    val streamDir = Files.createTempDirectory("graft-join-restart-src").toString
    val ckpt = Files.createTempDirectory("graft-join-restart-ckpt").toString
    // the memory sink cannot recover an append-mode query from a checkpoint;
    // a durable FILE sink is also the faithful production shape
    val outDir = Files.createTempDirectory("graft-join-restart-out").toString
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def write(rows: Seq[(Timestamp, Long, String)]): Unit =
      rows.toDF("ts2", "user_id", "event_type").repartition(1)
        .write.mode("append").parquet(streamDir)

    // batch 1: user 1's view (its click comes only after the restart) and a
    // complete pair for user 2 (sanity that the join works pre-restart)
    write(Seq((t(10, 0), 1L, "view"), (t(10, 0), 2L, "view"), (t(10, 1), 2L, "click")))

    def start() = {
      val ev = spark.readStream
        .schema("ts2 TIMESTAMP, user_id BIGINT, event_type STRING")
        .parquet(streamDir)
      val views = ev.filter($"event_type" === "view")
        .select($"user_id", $"ts2".as("view_ts"))
        .withWatermark("view_ts", "10 minutes")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("cuser"), $"ts2".as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      views.join(clicks,
          $"user_id" === $"cuser" &&
            $"click_ts" >= $"view_ts" &&
            $"click_ts" <= $"view_ts" + expr("INTERVAL 30 MINUTES"))
        .select($"user_id", $"view_ts".cast("long").as("ves"), $"click_ts".cast("long").as("ces"))
        .writeStream.outputMode(OutputMode.Append).format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt).start()
    }

    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(outDir).filter($"user_id" === 2L).count() === 1)

    // user 1's click lands while the query is DOWN; after restart the pair
    // can only emit if the buffered view was recovered from the checkpoint
    write(Seq((t(10, 10), 1L, "click")))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val cross = spark.read.parquet(outDir).filter($"user_id" === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val es = (h: Int, m: Int) => t(h, m).getTime / 1000
    assert(cross === Set((es(10, 0), es(10, 10))),
      s"cross-restart pair missing or wrong: $cross")
  }

  test("foreachBatch CDC merge: restart resumes from checkpoint; final state equals one-shot MERGE") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft-cdc-restart").toString
    val dirs = Array(s"$tmp/s0", s"$tmp/s1")
    val streamDir = s"$tmp/cs"
    val ckpt = s"$tmp/ckpt"
    val docs = graft.Tables(spark, sf0001, "documents")
    docs.select($"doc_id", $"text", $"lang").withColumn("provenance", lit("keep"))
      .write.mode("overwrite").parquet(dirs(0))
    val cur = new java.util.concurrent.atomic.AtomicInteger(0)
    val cs = graft.operators.NorthStar.changeset(docs)
    // batch 1: even keys, landed before the first query run
    cs.filter($"cs_id" % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    def start() = spark.readStream.schema(cs.schema).parquet(streamDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val c = cur.get()
          Windows.mergeCdcBatch(spark.read.parquet(dirs(c)), batch)
            .write.mode("overwrite").parquet(dirs(1 - c))
          cur.set(1 - c)
        }
        ()
      }
      .start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // batch 2 lands while the query is DOWN; the restart must pick up ONLY
    // the new file (checkpointed source log) — re-reading batch 1 would be
    // survivable (the merge is idempotent) but the source must not lose it
    cs.filter($"cs_id" % 2 === 1).coalesce(1).write.mode("append").parquet(streamDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(dirs(cur.get()))
      .select($"doc_id", $"provenance", length($"text").cast("long").as("n_chars_new"))
      .orderBy($"doc_id").collect().toSeq
    val want = graft.operators.NorthStar.q90MergeUpsert(spark, sf0001)
      .collect().toSeq
    assert(got.nonEmpty)
    assert(got === want, "restarted incremental CDC state diverged from the one-shot MERGE")
  }

  test("q121 probe sink is idempotent: a redelivered batch leaves the output unchanged") {
    // at-least-once redelivery: a crash between sink write and offset commit
    // replays the SAME batch with the SAME batchId. The per-batch
    // directory-overwrite sink must make the double-apply invisible — the
    // old append-mode sink duplicated every pair row and inflated n_matches.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val delta = docs.filter($"source" === "src18").select($"doc_id", $"text")
    val corpus = docs.filter($"source" =!= "src18")
    val index = graft.dedup.JaccardJoin.buildIndex(corpus, "doc_id", "text", 1L, 2L)
    val out = java.nio.file.Files.createTempDirectory("graft_q121_redeliver_").toString
    try {
      def snapshot(): Seq[(Long, Long, Long)] =
        spark.read.parquet(out).drop("batch")
          .select($"id1", $"id2", $"inter").as[(Long, Long, Long)]
          .collect().toSeq.sorted
      Windows.writeProbeBatch(index, delta.limit(0).toDF(), out, batchId = -1L)
      Windows.writeProbeBatch(index, delta.toDF(), out, batchId = 0L)
      val once = snapshot()
      assert(once.nonEmpty, "src18 has cross-source near-dups; empty would be vacuous")
      Windows.writeProbeBatch(index, delta.toDF(), out, batchId = 0L) // redelivery
      assert(snapshot() === once,
        "double-applied batch must rewrite identical content, not append duplicates")
      // and a GENUINE second batch still accumulates
      Windows.writeProbeBatch(index, delta.toDF(), out, batchId = 1L)
      assert(snapshot().size === once.size * 2)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("q121 drain with no match returns an empty record with q116's columns and types") {
    val corpus = Seq((0L, "a b c d e f g h"), (1L, "p q r s t u v w")).toDF("doc_id", "text")
    val index = graft.dedup.JaccardJoin.buildIndex(corpus, "doc_id", "text", 1L, 2L)
    def columns(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
    val unmatched = Seq((100L, "x y z w v u"), (101L, "k l m n o")).toDF("doc_id", "text")
    // q121's probe drain against q116's record, q155's ingest drain against
    // q123's: batches arrive and none matches; no batch arrives, so only
    // the seed batch is read back
    val drains = Seq(
      (Windows.probeDrain(index, _: org.apache.spark.sql.DataFrame),
        columns(graft.operators.NorthStar.q116IncrementalDedup(spark, sf0001))),
      (Windows.ingestDrain(index, _: org.apache.spark.sql.DataFrame),
        columns(graft.operators.NorthStar.q123IncrementalDedupFull(spark, sf0001))))
    for ((drainOf, want) <- drains; delta <- Seq(unmatched, unmatched.limit(0))) {
      val got = drainOf(delta)
      assert(got.isEmpty)
      assert(columns(got) === want)
    }
  }

  test("drain: empty batches never reach the writer; the temp dir goes, also when the writer throws") {
    import scala.jdk.CollectionConverters._
    val rows = spark.range(0L, 60L).toDF("k")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    var tmpSeen = ""
    def recordingDrain(feed: org.apache.spark.sql.DataFrame) = {
      seen.clear()
      tmpSeen = ""
      Windows.drain("drain_contract", feed) { tmp =>
        tmpSeen = tmp
        (batch, batchId) => {
          seen.add(batch.count())
          batch.write.mode("overwrite").parquet(s"$tmp/out/batch=$batchId")
        }
      } { tmp =>
        val out = new java.io.File(s"$tmp/out")
        if (out.exists()) graft.Checkpoints.materialize(spark.read.parquet(out.getPath).drop("batch"))
        else rows.limit(0)
      }
    }
    def tmpGone(when: String) =
      assert(tmpSeen.nonEmpty && !new java.io.File(tmpSeen).exists(),
        s"temp dir left behind after $when: $tmpSeen")

    // a 3-file feed: every row reaches the writer, in non-empty batches
    val got = recordingDrain(rows.repartition(3, $"k"))
    assert(seen.asScala.forall(_ > 0L) && seen.asScala.sum === 60L, s"batches: $seen")
    assert(got.as[Long].collect().sorted.toSeq === (0L until 60L))
    tmpGone("a normal drain")

    // an empty feed is one schema-only file, which the file source delivers
    // as an empty micro-batch; the writer must not see it
    val empty = rows.limit(0)
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val raw = spark.readStream.schema(empty.schema)
      .option("maxFilesPerTrigger", "1").parquet(graft.Checkpoints.feedDirCached(empty))
      .writeStream.foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        delivered.add(b.count()); ()
      }.start()
    try raw.processAllAvailable() finally raw.stop()
    assert(delivered.asScala.toSeq === Seq(0L), s"expected one empty batch, got $delivered")
    assert(recordingDrain(empty).isEmpty)
    assert(seen.isEmpty, s"the writer saw an empty batch: $seen")
    tmpGone("a drain of empty batches")

    // a failed query keeps a checkpoint Spark made for it in the temp dir
    def sparkTemporaries = Option(new java.io.File(System.getProperty("java.io.tmpdir"))
      .list()).fold(Set.empty[String])(_.filter(_.startsWith("temporary-")).toSet)
    val temporariesBefore = sparkTemporaries
    tmpSeen = ""
    val boom =intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Windows.drain("drain_contract", rows.repartition(3, $"k")) { tmp =>
        tmpSeen = tmp
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/out"))
        (_, _) => throw new IllegalStateException("writer failed")
      } { _ => fail("finish must not run after a failed drain") }
    }
    assert(Iterator.iterate[Throwable](boom)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "writer failed"), s"writer exception lost: $boom")
    tmpGone("a failed drain")
    assert(sparkTemporaries -- temporariesBefore === Set.empty[String],
      "a failed drain left a streaming checkpoint in the temp dir")
  }

  test("q152 streaming decontam equals q119's batch answer; sink idempotent under redelivery") {
    val got = Windows.q152StreamDecontam(spark, sf0001).collect().toSeq
    val want = graft.operators.NorthStar.q119BenchmarkDecontamination(spark, sf0001)
      .collect().toSeq
    assert(got.nonEmpty, "fixture has no contaminated docs — equivalence vacuous")
    assert(got === want, "drained stream diverged from the batch decontamination")
    // redelivery: double-applying a batch must rewrite identical content
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val toks = filter(split($"text", " "), t => t =!= "")
    val bench = docs.filter($"source" === "src0")
      .select(explode(graft.dedup.MinHashLSH.shingles(toks, 8)).as("g"))
      .select(xxhash64($"g").as("h")).distinct()
    val train = docs.filter($"source" =!= "src0").select($"doc_id", $"text")
    val out = java.nio.file.Files.createTempDirectory("graft_q152_redeliver_").toString
    try {
      def snapshot(): Seq[(Long, Long, Long)] =
        spark.read.parquet(out).drop("batch")
          .select($"doc_id", $"n_ngrams", $"n_hits").as[(Long, Long, Long)]
          .collect().toSeq.sorted
      Windows.writeDecontamBatch(bench, train.limit(0), out, batchId = -1L)
      Windows.writeDecontamBatch(bench, train, out, batchId = 0L)
      val once = snapshot()
      assert(once.nonEmpty)
      Windows.writeDecontamBatch(bench, train, out, batchId = 0L) // redelivery
      assert(snapshot() === once,
        "double-applied batch must rewrite identical content, not append duplicates")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("q155 streaming ingest dedup equals q123's complete batch answer") {
    // the fold-in loop closed: probe-then-fold per batch + intra-batch
    // self-join must union to exactly the batch cross + intra-delta pair
    // set at this trigger slicing (2 feed files); the sf0.01 oracle hash
    // additionally pins the delta-delta path on the src7 twin fixture
    val got = Windows.q155StreamIngestDedup(spark, sf0001).collect().toSeq
    val want = graft.operators.NorthStar.q123IncrementalDedupFull(spark, sf0001)
      .collect().toSeq
    assert(got.nonEmpty, "src7 has no near-dups at sf0.001 — equivalence vacuous")
    assert(got === want, "drained ingest stream diverged from the complete batch dedup")
  }

  test("q158 streaming decontam rewrite equals q157's batch answer; sink idempotent under redelivery") {
    val got = Windows.q158StreamDecontamRewrite(spark, sf0001).collect().toSeq
    val want = graft.operators.NorthStar.q157DecontamRewrite(spark, sf0001)
      .collect().toSeq
    assert(got.nonEmpty)
    assert(want.exists(_.getLong(2) > 0L),
      "fixture has no benchmark-contaminated train docs — equivalence vacuous")
    assert(got === want, "drained stream rewrite diverged from the batch rewrite")
    // redelivery: double-applying a batch must rewrite identical content
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val toks = filter(split($"text", " "), t => t =!= "")
    val bench = docs.filter($"source" === "src0")
      .select(explode(graft.dedup.MinHashLSH.shingles(toks, 8)).as("g"))
      .select(xxhash64($"g").as("h")).distinct()
    val train = docs.filter($"source" =!= "src0").select($"doc_id", $"text")
    val out = java.nio.file.Files.createTempDirectory("graft_q158_redeliver_").toString
    try {
      def snapshot(): Seq[(Long, Long, Long, String)] =
        spark.read.parquet(out).drop("batch")
          .select($"doc_id", $"n_tokens", $"removed_tokens", $"text_clean")
          .as[(Long, Long, Long, String)].collect().toSeq.sorted
      Windows.writeDecontamRewriteBatch(bench, train.limit(0), out, batchId = -1L)
      Windows.writeDecontamRewriteBatch(bench, train, out, batchId = 0L)
      val once = snapshot()
      assert(once.nonEmpty)
      Windows.writeDecontamRewriteBatch(bench, train, out, batchId = 0L) // redelivery
      assert(snapshot() === once,
        "double-applied batch must rewrite identical content, not append duplicates")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("q201 streaming change point equals q198's batch answer") {
    val batch = graft.operators.Events.q198Changepoint(spark, sf0001).collect()
    val stream = Windows.q201StreamChangepoint(spark, sf0001).collect()
    assert(stream.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
      "drained merge of per-batch hourly summaries diverged from the batch CUSUM")
  }

  test("q192 streaming AUC equals q190's batch answer; summaries genuinely merge") {
    val batch = graft.operators.Evaluation.q190Auc(spark, sf0001).head()
    val stream = Windows.q192StreamAuc(spark, sf0001).head()
    assert(stream === batch,
      "drained merge of per-batch score summaries diverged from the batch AUC")
    // the merge is non-vacuous: the same score value must appear in more
    // than one micro-batch summary, or the fold never exercised merging
    val rows = graft.Tables.events(spark, sf0001)
      .select(graft.Dsl.dec(col("value")).as("v"),
        (col("event_type") === "purchase").cast("int").as("y"))
    import spark.implicits._
    val parts = rows.repartition(3).rdd.mapPartitionsWithIndex { (i, it) =>
      it.map(r => (i, r.getDecimal(0).toString))
    }.collect()
    val dupAcross = parts.groupBy(_._2).values.exists(g => g.map(_._1).distinct.length > 1)
    assert(dupAcross, "no score value spans two feed partitions — merge untested")
  }

  test("q320 streaming kappa equals q315's batch answer; confusion cells genuinely merge") {
    val batch = graft.operators.Evaluation.q315CohensKappa(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val stream = Windows.q320StreamKappa(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty)
    assert(stream === batch,
      "drained merge of per-batch confusion counts diverged from the batch kappa")
    // mergeability pin: kappa over re-summed per-slice confusion counts of
    // ANY 3-way disjoint slicing equals the unsliced kernel — the property
    // that makes the trigger slicing invisible
    val docs = graft.Tables(spark, sf0001, "documents")
    val perSlice = (0 until 3).map { i =>
      graft.operators.Evaluation.raterLabels(
        docs.filter(pmod(col("doc_id"), lit(3)) === i))
        .groupBy(col("source"), col("la"), col("lb"))
        .agg(count(lit(1)).as("n"))
        .withColumn("slice", lit(i))
    }.reduce(_.unionByName(_))
    val merged = graft.operators.Evaluation.kappaFromConfusion(
      perSlice.groupBy(col("source"), col("la"), col("lb"))
        .agg(sum(col("n")).cast("long").as("n")))
      .collect().map(_.toSeq).toSeq
    assert(merged === batch, "re-summed sliced confusion diverged")
    // non-vacuous: some confusion cell must span two slices
    val spans = perSlice.groupBy(col("source"), col("la"), col("lb"))
      .agg(countDistinct(col("slice")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(spans > 0, "no confusion cell spans two slices — merge untested")
  }

  test("q354 streaming permutation test equals q346's batch report") {
    val batch = graft.operators.Stats.q346PermutationTest(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val stream = Windows.q354StreamPermutation(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty && stream === batch,
      "drained merge of per-batch permutation cells diverged from the batch test")
    // each rep's arm populations necessarily span the 3 feed files (every
    // batch holds ~1/3 of events and both pseudo-arms), so the per-rep
    // decimal-sum merge is structurally exercised; pin the precondition
    assert(graft.Tables.events(spark, sf0001).count() > 3,
      "degenerate feed — merge untested")
  }

  test("q348 streaming Mann-Kendall equals q342's batch report; hourly cells genuinely merge") {
    val batch = graft.operators.Stats.q342MannKendall(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val stream = Windows.q348StreamMannKendall(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty && stream === batch,
      "drained merge of per-batch hourly counts diverged from the batch test")
    // an (event_type, hour) cell must span feed partitions or no cell merged
    val parts = graft.Tables.events(spark, sf0001)
      .select(col("event_type"), expr("CAST(ts2 AS LONG) div 3600").as("h"))
      .repartition(3).rdd
      .mapPartitionsWithIndex { (i, it) =>
        it.map(r => (i, (r.getString(0), r.getLong(1))))
      }.collect()
    assert(parts.groupBy(_._2).values.exists(g => g.map(_._1).distinct.length > 1),
      "no hourly cell spans two feed partitions — merge untested")
  }

  test("q337 streaming PSI equals q333's batch report against the same fixed midpoint") {
    val batch = graft.operators.Stats.q333Psi(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val stream = Windows.q337StreamPsi(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty && stream === batch,
      "drained merge of per-batch bin-half counts diverged from the batch PSI")
    // a bin must span feed partitions or the per-cell merge never ran
    val parts = graft.Tables.events(spark, sf0001)
      .select(graft.Dsl.dec(col("value")).as("v")).repartition(3).rdd
      .mapPartitionsWithIndex { (i, it) =>
        it.map(r => (i, (r.getDecimal(0).doubleValue() * 100).toLong / 3300))
      }.collect()
    assert(parts.groupBy(_._2).values.exists(g => g.map(_._1).distinct.length > 1),
      "no score bin spans two feed partitions — merge untested")
  }

  test("q329 streaming SRM equals q323's batch report; arm counts necessarily merge") {
    val batch = graft.operators.Stats.q323Srm(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val stream = Windows.q329StreamSrm(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty && stream === batch,
      "drained merge of per-batch arm counts diverged from the batch SRM")
    // merge is structurally exercised: the drained n equals the full orders
    // count while each of the 3 feed files holds strictly fewer rows, so the
    // final counts can only come from summing across batches
    val n = batch.head(1).asInstanceOf[Long]
    assert(n === graft.Tables(spark, sf0001, "orders").count())
    assert(n > (n + 2) / 3, "single-batch feed — merge untested")
  }

  test("q326 streaming FD monitor equals the batch g3 audit; pair counts genuinely merge") {
    val got = Windows.q326StreamFd(spark, sf0001).collect().map(_.toSeq).toSeq
    // batch truth: q319's orders rows (the stream monitors exactly those two)
    val want = graft.operators.Stats.q319FdDiscovery(spark, sf0001)
      .filter(col("rel") === "orders").collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(got === want, "drained FD audit diverged from the batch g3 audit")
    // the cross-batch merge is load-bearing: the o_custkey->o_orderpriority
    // determinant must have rows in more than one of the 3 feed partitions,
    // or the g3 fold never merged per-determinant state across batches
    val parts = graft.Tables(spark, sf0001, "orders")
      .select(col("o_custkey")).repartition(3).rdd
      .mapPartitionsWithIndex { (i, it) => it.map(r => (i, r.getLong(0))) }
      .collect()
    assert(parts.groupBy(_._2).values.exists(g => g.map(_._1).distinct.length > 1),
      "no customer spans two feed partitions — cross-batch merge untested")
  }

  test("q175 streaming SCD2 equals q170's batch history; untouched users keep their files") {
    val got = Windows.q175StreamScd2(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        if (r.isNullAt(4)) null else r.getString(4))).toSeq
    val want = graft.operators.Events.q170Scd2(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        if (r.isNullAt(4)) null else r.getString(4))).toSeq
    assert(got.nonEmpty)
    assert(got === want, "drained streaming SCD2 diverged from the batch history")
    // the equivalence is only meaningful if histories actually span batches:
    // with 3 feed files per user-hash there must be multi-version users
    assert(want.groupBy(_._1).values.exists(_.size > 3),
      "no user history long enough to span micro-batches — equivalence vacuous")
  }

  test("recoverIngestIndex replays the accepted log exactly and excludes a redelivered batch") {
    // the two recovery invariants (round-7 VERDICT item 4): (a) ONE frozen
    // fold of the logged batches' union equals the sequential per-batch
    // folds it replays — frozen folds never touch freq, so a document's
    // prefix depends only on its own shingles and the standing order, never
    // on which fold carried it; (b) the strict `batch < redeliveredId`
    // bound keeps an uncommitted batch OUT of the index it will re-probe.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val delta = docs.filter($"source" === "src7").select($"doc_id", $"text")
    val corpus = docs.filter($"source" =!= "src7")
    val deltaIds = delta.select($"doc_id".cast("long").as("did"))
    val standing = graft.dedup.JaccardJoin.buildIndex(corpus, "doc_id", "text", 1L, 2L)
    def slice(i: Int) = delta.filter(abs(xxhash64($"doc_id")) % 3 === i)
    val out = java.nio.file.Files.createTempDirectory("graft_q155_recover_").toString
    try {
      var idx = standing
      (0 to 2).foreach { i =>
        idx = Windows.writeIngestBatch(idx, slice(i).toDF(), deltaIds, out, batchId = i.toLong)
      }
      def sym(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Long =
        a.except(b).count() + b.except(a).count()
      // (a) full recovery == the sequential-fold index, relation by relation
      val recAll = Windows.recoverIngestIndex(standing, out, beforeBatch = 3L)
      assert(sym(recAll.prefix, idx.prefix) === 0L,
        "recovered prefix relation diverged from the sequential folds")
      assert(sym(recAll.sets, idx.sets) === 0L)
      assert(sym(recAll.freq, standing.freq) === 0L, "recovery must not touch freq")
      // (b) redelivery of batch 2: recovery stops BEFORE it...
      val rec2 = Windows.recoverIngestIndex(standing, out, beforeBatch = 2L)
      val expect2 = graft.dedup.JaccardJoin.foldInFrozen(
        standing, slice(0).unionByName(slice(1)), "doc_id", "text")
      assert(sym(rec2.prefix, expect2.prefix) === 0L,
        "recovery for a redelivered batch must fold strictly earlier batches only")
      // ...so re-running batch 2 against it rewrites identical pair content
      val before = spark.read.parquet(s"$out/batch=2").drop("batch")
        .select($"id1", $"id2").as[(Long, Long)].collect().toSeq.sorted
      Windows.writeIngestBatch(rec2, slice(2).toDF(), deltaIds, out, batchId = 2L)
      val after = spark.read.parquet(s"$out/batch=2").drop("batch")
        .select($"id1", $"id2").as[(Long, Long)].collect().toSeq.sorted
      assert(after === before, "redelivered batch rewrote different pair content")
    } finally {
      import scala.jdk.CollectionConverters._
      // the accepted log lands in the SIBLING <out>.accepted dir — delete both
      Seq(out, s"$out.accepted").map(java.nio.file.Paths.get(_))
        .filter(java.nio.file.Files.exists(_))
        .foreach(root => java.nio.file.Files.walk(root).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p)))
    }
  }

  test("q155 ingest survives a kill/restart: recovered folds, final pairs equal q123's oracle") {
    // end-to-end: first incarnation killed mid-feed (after >=2 committed
    // batches), second incarnation starts with EMPTY in-memory state and
    // must rebuild the fold state from the accepted log via the recovery
    // path, then drain to exactly q123's complete batch answer.
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft_q155_restart_").toString
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val delta = docs.filter($"source" === "src7").select($"doc_id", $"text")
      val corpus = docs.filter($"source" =!= "src7")
      val deltaIds = graft.Checkpoints.materialize(
        delta.select($"doc_id".cast("long").as("did")))
      val standing = graft.dedup.JaccardJoin.buildIndex(corpus, "doc_id", "text", 1L, 2L)
      val feedDir = s"$tmp/feed"
      val outDir = s"$tmp/pairs"
      val ckpt = s"$tmp/ckpt"
      delta.repartition(4, $"doc_id").write.mode("overwrite").parquet(feedDir)
      Windows.writeIngestBatch(standing, delta.limit(0).toDF(), deltaIds, outDir, batchId = -1L)
      def start() = {
        // incarnation-local state: a restart begins with NO in-memory index
        var idxOpt: Option[graft.dedup.JaccardJoin.Index] = None
        spark.readStream.schema(delta.schema)
          .option("maxFilesPerTrigger", "1").parquet(feedDir)
          .writeStream.option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            if (!batch.isEmpty) {
              if (idxOpt.isEmpty)
                idxOpt = Some(Windows.recoverIngestIndex(standing, outDir, batchId))
              idxOpt = Some(Windows.writeIngestBatch(idxOpt.get, batch.toDF(), deltaIds, outDir, batchId))
            }
            ()
          }
          .start()
      }
      // incarnation 1: kill once >=2 batches have produced pair output
      val q1 = start()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!new java.io.File(s"$outDir/batch=0/_SUCCESS").exists() &&
             System.nanoTime() < deadline) Thread.sleep(50)
      q1.stop() // kill as soon as one batch's side effects are durable
      assert(new java.io.File(s"$outDir/batch=0/_SUCCESS").exists(),
        "first incarnation never completed batch 0 — feed/trigger setup broken")
      assert(!new java.io.File(s"$outDir/batch=3/_SUCCESS").exists(),
        "first incarnation drained everything — the restart would be vacuous")
      // incarnation 2: fresh in-memory state, same checkpoint — must recover
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      // q155's decision record over the drained pairs
      val p = spark.read.parquet(outDir).drop("batch")
      val reversed = p.join(broadcast(deltaIds), p("id2") === deltaIds("did"), "left_semi")
        .select($"id2".as("id1"), $"id1".as("id2"), $"jaccard")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"id1").orderBy($"jaccard".desc, $"id2")
      val got = p.select($"id1", $"id2", $"jaccard").unionByName(reversed)
        .withColumn("rk", row_number().over(w))
        .withColumn("n_matches", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"id1")))
        .filter($"rk" === 1)
        .select($"id1".as("doc_id"), $"n_matches",
          $"id2".as("best_match_id"), $"jaccard".as("best_jaccard"))
        .orderBy($"doc_id").collect().toSeq
      val want = graft.operators.NorthStar.q123IncrementalDedupFull(spark, sf0001)
        .collect().toSeq
      assert(got.nonEmpty, "src7 has no near-dups at sf0.001 — equivalence vacuous")
      assert(got === want, "restarted ingest diverged from q123's complete batch answer")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("q140 drift: L1 in [0,2], window totals conserve, one window checked by hand") {
    val rows = Windows.q140StreamDrift(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val events = graft.Tables.events(spark, sf0001)
    assert(rows.map(_.getLong(1)).sum === events.count(),
      "per-window event totals must conserve the corpus")
    rows.foreach(r => assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 2.0,
      s"L1 distance out of [0,2]: $r"))
    // hand-check the busiest window against a driver-side recomputation
    val global = events.groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ng = global.values.sum
    val h = rows.maxBy(_.getLong(1)).getString(0)
    val wc = events
      .filter(date_trunc("hour", $"ts2").cast("string") === h)
      .groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nw = wc.values.sum
    val numer = global.map { case (t, cg) =>
      math.abs(wc.getOrElse(t, 0L) * ng - cg * nw)
    }.sum
    val expected = BigDecimal(numer.toDouble / (nw * ng).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = rows.find(_.getString(0) == h).get.getDouble(3)
    assert(got === expected, s"window $h: drift $got != hand-computed $expected")
  }
  test("q219 streaming top-k equals the batch leaderboard; parts genuinely span batches") {
    val stream = Windows.q219StreamTopk(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = graft.Tables(spark, sf0001, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast("long")).cast("long").as("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (p, q) => (-q, p) }.take(25).toSeq
    assert(stream === batch,
      "drained merge of per-batch part summaries diverged from the batch top-25")
    // non-vacuous: at least one leaderboard part appears in >1 feed partition,
    // so a per-batch top-k-of-top-ks shortcut would have been WRONG to rely on
    val parts = graft.Tables(spark, sf0001, "lineitem")
      .select(col("l_partkey")).repartition(3).rdd
      .mapPartitionsWithIndex { (i, it) => it.map(r => (i, r.getLong(0))) }.collect()
    val spans = parts.groupBy(_._2).values.exists(g => g.map(_._1).distinct.length > 1)
    assert(spans, "no part spans two feed partitions - merge untested")
  }
  test("q219-shaped restart: the mergeable leaderboard survives stop/start without double-counting") {
    import java.nio.file.Files
    import org.apache.spark.sql.Dataset
    val rows = graft.Tables(spark, sf0001, "lineitem")
      .select($"l_partkey", $"l_quantity".cast("long").as("q"))
    val feed = Files.createTempDirectory("graft-topk-restart-src").toString
    val ckpt = Files.createTempDirectory("graft-topk-restart-ckpt").toString
    val sums = Files.createTempDirectory("graft-topk-restart-sums").toString
    rows.filter(pmod($"l_partkey", lit(2)) === 0).coalesce(1)
      .write.mode("append").parquet(feed)
    def start() = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          batch.groupBy(col("l_partkey")).agg(sum(col("q")).as("qty"))
            .write.mode("overwrite").parquet(s"$sums/batch=$batchId")
        ()
      }
      .start()
    val q1 = start(); try q1.processAllAvailable() finally q1.stop()
    // the second half lands while the query is DOWN; the restart must resume
    // from the checkpointed file log (re-reading batch-0 files would
    // double-count into a NEW batch id; losing the log would skip them)
    rows.filter(pmod($"l_partkey", lit(2)) === 1).coalesce(1)
      .write.mode("append").parquet(feed)
    val q2 = start(); try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(sums)
      .groupBy($"l_partkey").agg(sum($"qty").cast("long").as("t"))
      .orderBy($"t".desc, $"l_partkey").limit(25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = rows.groupBy($"l_partkey").agg(sum($"q").cast("long").as("t"))
      .orderBy($"t".desc, $"l_partkey").limit(25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === want,
      "restarted leaderboard diverged from the batch truth - state loss or double count")
  }

  test("q265-shaped restart: part-complete bollinger survives stop/start; merge equals the batch report") {
    import java.nio.file.Files
    import org.apache.spark.sql.Dataset
    val rows = graft.Tables(spark, sf0001, "lineitem")
      .select($"l_partkey", $"l_extendedprice", $"l_shipdate",
        $"l_orderkey", $"l_linenumber")
    val feed = Files.createTempDirectory("graft-boll-restart-src").toString
    val ckpt = Files.createTempDirectory("graft-boll-restart-ckpt").toString
    val sums = Files.createTempDirectory("graft-boll-restart-sums").toString
    // each half is PART-COMPLETE (a part's rows all share pmod(part, 2)),
    // so per-batch windows see full part history on both sides of the stop
    rows.filter(pmod($"l_partkey", lit(2)) === 0).coalesce(1)
      .write.mode("append").parquet(feed)
    def start() = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.Events.bollingerScored(batch.toDF())
            .groupBy(col("l_partkey"))
            .agg(count(lit(1)).as("n_eval"),
              sum(when(col("up"), lit(1L)).otherwise(lit(0L))).as("n_up"),
              sum(when(col("down"), lit(1L)).otherwise(lit(0L))).as("n_down"))
            .write.mode("overwrite").parquet(s"$sums/batch=$batchId")
        ()
      }
      .start()
    val q1 = start(); try q1.processAllAvailable() finally q1.stop()
    rows.filter(pmod($"l_partkey", lit(2)) === 1).coalesce(1)
      .write.mode("append").parquet(feed)
    val q2 = start(); try q2.processAllAvailable() finally q2.stop()
    val part = graft.Tables(spark, sf0001, "part")
      .select(col("p_partkey"), col("p_brand"))
    val got = spark.read.parquet(sums)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy($"p_brand")
      .agg(sum($"n_eval").cast("long").as("evaluated"),
        sum($"n_up").cast("long").as("up"),
        sum($"n_down").cast("long").as("down"))
      .orderBy($"p_brand")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val want = graft.operators.Events.q256BollingerBreakout(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got === want,
      "restarted bollinger drain diverged from the batch truth - state loss, double count, or a part split across batches")
  }

  test("q265 stream bollinger: part-complete drain equals the q256 batch report") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    val batch = rows(graft.operators.Events.q256BollingerBreakout(spark, sf0001))
    val stream = rows(graft.streaming.Windows.q265StreamBollinger(spark, sf0001))
    assert(stream === batch,
      "part-complete slicing must make per-batch windows exact")
    assert(batch.nonEmpty && batch.map(_._2).sum > 0)
  }

  test("q295 stream ema: part-complete drain equals the q290 batch report") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val batch = rows(graft.operators.Events.q290EmaSignal(spark, sf0001))
    val stream = rows(graft.streaming.Windows.q295StreamEma(spark, sf0001))
    assert(stream === batch,
      "part-complete slicing must make per-batch EMA windows exact")
    assert(batch.nonEmpty && batch.map(_._2).sum > 0)
  }

  test("q300 stream isotonic: merged bin counts feed the same PAV tail as the batch") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    val batch = rows(graft.operators.Stats.q296IsotonicCalibration(spark, sf0001))
    val stream = rows(graft.streaming.Windows.q300StreamIsotonic(spark, sf0001))
    assert(stream === batch,
      "additive bin counts must merge to the exact batch bins at any slicing")
    assert(batch.nonEmpty)
  }

  test("q303 stream maxsim: merged per-batch top-10s equal the q299 batch rerank") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val batch = rows(graft.operators.Similarity.q299MaxsimRerank(spark, sf0001))
    val stream = rows(graft.streaming.Windows.q303StreamMaxsim(spark, sf0001))
    assert(stream === batch,
      "per-batch top-k must be merge-exact over set-partitioned candidates")
    assert(batch.size === 50)
  }

  test("q307 stream negatives: drained union equals the q298 batch draws") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = rows(graft.operators.NorthStar.q298NegativeSampling(spark, sf0001))
    val stream = rows(graft.streaming.Windows.q307StreamNegatives(spark, sf0001))
    assert(stream === batch,
      "pure row-function draws must be slicing-invariant")
    assert(batch.nonEmpty)
  }

  test("q264 stream k-anonymity: drained merge equals the q254 batch audit") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    val batch = rows(graft.operators.Stats.q254Kanonymity(spark, sf0001))
    val stream = rows(graft.streaming.Windows.q264StreamKanonymity(spark, sf0001))
    assert(stream === batch,
      "per-batch class counts must merge to the exact batch class sizes")
    assert(stream.size === 6)
  }

  test("q284 stream benford: drained digit-count merge equals the q204 batch audit") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    val batch = rows(graft.operators.Stats.q204Benford(spark, sf0001))
    val stream = rows(graft.streaming.Windows.q284StreamBenford(spark, sf0001))
    assert(stream === batch,
      "additive digit counts must merge to the exact batch distribution")
    // all nine leading digits occur and shares sum to ~1
    assert(stream.map(_._1).sorted === (1 to 9).map(_.toString))
    assert(math.abs(stream.map(_._3).sum - 1.0) < 1e-4)
  }

  test("q288 stream funnel: cohort-sliced drain equals the q252 batch funnel") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = rows(graft.operators.Events.q252StrictFunnel(spark, sf0001))
    val stream = rows(graft.streaming.Windows.q288StreamFunnel(spark, sf0001))
    assert(stream === batch,
      "user-complete cohort slicing must be invisible in the drained result")
    assert(stream.nonEmpty, "no strict conversions - vacuous")
    // the bottom-line converting-user count rides in every row
    assert(stream.forall(_._4 === stream.size.toLong))
    val leftovers = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles().filter(_.getName.startsWith("graft_q288_"))
    assert(leftovers.isEmpty, s"temp dirs leaked: ${leftovers.mkString(",")}")
  }

  // --- round-9 mergeable-summary twins: adversarial restart coverage -------
  // (round-9 ADVICE #6). The older stateful family has kill/restart pins
  // above; the new `batch=<id>` idempotent-sink twins get the same
  // treatment here, parameterized: half the feed drains, the query STOPS,
  // the rest arrives while it is down, a restarted query (same checkpoint)
  // drains the remainder, and the merged summary must equal the
  // single-shot declared query bit-for-bit — proving the checkpoint's
  // processed-file log (no re-count of tranche 1) AND the additive cells
  // (no loss) through the exact shipping writer/drain kernels.
  {
    import java.nio.file.Files
    val evAll = graft.Tables.events(spark, sf0001)
    lazy val ev337 = evAll.select(graft.Dsl.epochSec($"ts2").as("t"),
      graft.Dsl.dec($"value").as("v"))
    lazy val mid337 = ev337.agg(expr("(MIN(t) + MAX(t)) div 2")).head().getLong(0)
    lazy val ev354 = evAll.select($"event_id", graft.Dsl.dec($"value").as("v"))
    lazy val mid375 = evAll
      .select(graft.Dsl.epochSec($"ts2").as("ts"))
      .agg(expr("(MIN(ts) + MAX(ts)) div 2")).head().getLong(0)

    final case class TwinCase(
        name: String,
        feed: () => org.apache.spark.sql.DataFrame,
        firstTranche: org.apache.spark.sql.Column,
        writer: String => (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit,
        drain: String => org.apache.spark.sql.DataFrame,
        oneShot: () => org.apache.spark.sql.DataFrame)

    val twins = Seq(
      TwinCase("q337_stream_psi", () => ev337, pmod($"t", lit(2L)) === 0,
        tmp => Windows.q337Writer(mid337, s"$tmp/sum"),
        tmp => Windows.q337Drain(spark, s"$tmp/sum"),
        () => Windows.q337StreamPsi(spark, sf0001)),
      TwinCase("q354_stream_permutation", () => ev354,
        pmod($"event_id", lit(2L)) === 0,
        tmp => Windows.q354Writer(s"$tmp/perm", s"$tmp/obs"),
        tmp => Windows.q354Drain(spark, s"$tmp/perm", s"$tmp/obs"),
        () => Windows.q354StreamPermutation(spark, sf0001)),
      TwinCase("q375_stream_wasserstein",
        () => evAll.select(graft.Dsl.epochSec($"ts2").as("ts"),
          (graft.Dsl.dec($"value") * 100).cast("long").as("c")),
        pmod($"c", lit(2L)) === 0,
        tmp => Windows.q375Writer(mid375, s"$tmp/sum"),
        tmp => Windows.q375Drain(spark, s"$tmp/sum"),
        () => Windows.q375StreamWasserstein(spark, sf0001)),
      TwinCase("q469_stream_t_closeness",
        () => graft.Tables(spark, sf0001, "customer")
          .select($"c_nationkey".cast("long").as("nk"),
            $"c_mktsegment".as("seg"),
            floor($"c_acctbal".cast("double") / lit(1000.0)).cast("long").as("b")),
        pmod($"nk", lit(2L)) === 0,
        tmp => Windows.q469Writer(s"$tmp/sum"),
        tmp => Windows.q469Drain(spark, s"$tmp/sum"),
        () => Windows.q469StreamTCloseness(spark, sf0001)),
      TwinCase("q484_stream_gmm",
        () => evAll.select((graft.Dsl.dec($"value") * 100).cast("long").as("c")),
        pmod($"c", lit(2L)) === 0,
        tmp => Windows.q484Writer(s"$tmp/sum"),
        tmp => Windows.q484Drain(spark, s"$tmp/sum"),
        () => Windows.q484StreamGmm(spark, sf0001)),
      TwinCase("q465_stream_energy",
        () => evAll.select(graft.Dsl.epochSec($"ts2").as("ts"),
          (graft.Dsl.dec($"value") * 100).cast("long").as("c")),
        pmod($"c", lit(2L)) === 0,
        tmp => Windows.q375Writer(mid375, s"$tmp/sum"),
        tmp => Windows.q465Drain(spark, s"$tmp/sum"),
        () => Windows.q465StreamEnergy(spark, sf0001)),
      TwinCase("q376_stream_ewma",
        () => evAll.select($"event_type",
          expr("CAST(ts2 AS LONG) div 3600").as("h")),
        pmod($"h", lit(2L)) === 0,
        tmp => Windows.q376Writer(s"$tmp/sum"),
        tmp => Windows.q376Drain(spark, s"$tmp/sum"),
        () => Windows.q376StreamEwma(spark, sf0001)),
      TwinCase("q477_stream_spectral_entropy",
        () => evAll.select($"event_type",
          expr("CAST(ts2 AS LONG) div 3600").as("h")),
        pmod($"h", lit(2L)) === 0,
        tmp => Windows.q376Writer(s"$tmp/sum"),
        tmp => Windows.q477Drain(spark, s"$tmp/sum"),
        () => Windows.q477StreamSpectralEntropy(spark, sf0001)),
      TwinCase("q417_stream_page_hinkley",
        () => evAll.select(
          datediff($"ts2".cast("date"), lit("2024-01-01").cast("date"))
            .cast("long").as("x"), $"value"),
        pmod($"x", lit(2L)) === 0,
        tmp => Windows.q417Writer(s"$tmp/sum"),
        tmp => Windows.q417Drain(spark, s"$tmp/sum"),
        () => Windows.q417StreamPageHinkley(spark, sf0001)),
      TwinCase("q441_stream_hurst",
        () => graft.Tables(spark, sf0001, "orders")
          .select(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
            .cast("long").as("x"),
            $"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 2))
              .as("p")),
        pmod($"x", lit(2L)) === 0,
        tmp => Windows.q437Writer(s"$tmp/sum"),
        tmp => Windows.q441Drain(spark, s"$tmp/sum"),
        () => Windows.q441StreamHurst(spark, sf0001)),
      TwinCase("q437_stream_ljung_box",
        () => graft.Tables(spark, sf0001, "orders")
          .select(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
            .cast("long").as("x"),
            $"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 2))
              .as("p")),
        pmod($"x", lit(2L)) === 0,
        tmp => Windows.q437Writer(s"$tmp/sum"),
        tmp => Windows.q437Drain(spark, s"$tmp/sum"),
        () => Windows.q437StreamLjungBox(spark, sf0001)),
      TwinCase("q434_stream_spearman",
        () => evAll.select(
          datediff($"ts2".cast("date"), lit("2024-01-01").cast("date"))
            .cast("long").as("x"), $"event_type"),
        pmod($"x", lit(2L)) === 0,
        tmp => Windows.q434Writer(s"$tmp/sum"),
        tmp => Windows.q434Drain(spark, s"$tmp/sum"),
        () => Windows.q434StreamSpearman(spark, sf0001)),
      TwinCase("q418_stream_js_drift",
        () => graft.Tables(spark, sf0001, "documents")
          .select($"source", $"text", $"doc_id"),
        pmod($"doc_id", lit(2L)) === 0,
        tmp => Windows.q418Writer(s"$tmp/sum"),
        tmp => Windows.q418Drain(spark, s"$tmp/sum"),
        () => Windows.q418StreamJsDrift(spark, sf0001)),
      TwinCase("q498_stream_cusum",
        () => graft.Tables(spark, sf0001, "orders")
          .select(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
            .cast("long").as("x"),
            $"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 2))
              .as("p")),
        pmod($"x", lit(2L)) === 0,
        tmp => Windows.q437Writer(s"$tmp/sum"),
        tmp => Windows.q498Drain(spark, s"$tmp/sum"),
        () => Windows.q498StreamCusum(spark, sf0001)),
      TwinCase("q499_stream_matrix_profile",
        () => graft.Tables(spark, sf0001, "orders")
          .select(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
            .cast("long").as("x"),
            $"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 2))
              .as("p")),
        pmod($"x", lit(2L)) === 0,
        tmp => Windows.q437Writer(s"$tmp/sum"),
        tmp => Windows.q499Drain(spark, s"$tmp/sum"),
        () => Windows.q499StreamMatrixProfile(spark, sf0001)),
      TwinCase("q500_stream_granger",
        () => graft.Tables(spark, sf0001, "orders")
          .select(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
            .cast("long").as("x"),
            $"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 2))
              .as("p")),
        pmod($"x", lit(2L)) === 0,
        tmp => Windows.q500Writer(s"$tmp/sum"),
        tmp => Windows.q500Drain(spark, s"$tmp/sum"),
        () => Windows.q500StreamGranger(spark, sf0001)),
      TwinCase("q514_stream_script_profile",
        () => graft.Tables(spark, sf0001, "documents")
          .select($"source", $"text")
          .unionByName(graft.operators.Text.scriptBattery(spark)),
        pmod(abs(hash($"text")), lit(2)) === 0, // deterministic content split
        tmp => Windows.q514Writer(s"$tmp/sum"),
        tmp => Windows.q514Drain(spark, s"$tmp/sum"),
        () => Windows.q514StreamScriptProfile(spark, sf0001)),
      TwinCase("q515_stream_mixed_script",
        () => graft.Tables(spark, sf0001, "documents")
          .select($"source", $"text")
          .unionByName(graft.operators.Text.homoglyphBattery(spark)),
        pmod(abs(hash($"text")), lit(2)) === 0,
        tmp => Windows.q515Writer(s"$tmp/sum"),
        tmp => Windows.q515Drain(spark, s"$tmp/sum"),
        () => Windows.q515StreamMixedScript(spark, sf0001)),
      TwinCase("q521_stream_token_budget",
        () => graft.Tables(spark, sf0001, "documents")
          .select($"source", $"text")
          .unionByName(graft.operators.Text.tokenBudgetBattery(spark)),
        pmod(abs(hash($"text")), lit(2)) === 0,
        tmp => Windows.q521Writer(s"$tmp/sum"),
        tmp => Windows.q521Drain(spark, s"$tmp/sum"),
        () => Windows.q521StreamTokenBudget(spark, sf0001)),
      TwinCase("q524_stream_lang_script",
        () => graft.Tables(spark, sf0001, "documents")
          .select($"doc_id".cast("long").as("doc_id"), $"lang", $"text")
          .unionByName(graft.operators.Text.langScriptBattery(spark)),
        pmod(abs(hash($"text")), lit(2)) === 0,
        tmp => Windows.q524Writer(s"$tmp/sum"),
        tmp => Windows.q524Drain(spark, s"$tmp/sum"),
        () => Windows.q524StreamLangScript(spark, sf0001)))

    twins.foreach { tc =>
      test(s"${tc.name}: drained summary survives a checkpointed stop/start") {
        val tmp = Files.createTempDirectory(s"graft-restart-${tc.name}").toString
        try {
          val feed = tc.feed()
          val feedDir = s"$tmp/feed"
          val ckpt = s"$tmp/ckpt"
          val writer = tc.writer(tmp)
          def start() = spark.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", "1").parquet(feedDir)
            .writeStream.outputMode(OutputMode.Append)
            .option("checkpointLocation", ckpt)
            .foreachBatch(Windows.nonEmptyBatches(writer))
            .start()
          feed.filter(tc.firstTranche).coalesce(1)
            .write.mode("append").parquet(feedDir)
          val q1 = start()
          try q1.processAllAvailable() finally q1.stop()
          // tranche 2 lands while the query is DOWN
          feed.filter(!tc.firstTranche).coalesce(1)
            .write.mode("append").parquet(feedDir)
          val q2 = start()
          try q2.processAllAvailable() finally q2.stop()
          val drained = tc.drain(tmp)
          val cols = drained.columns.map(col).toSeq
          val got = drained.orderBy(cols: _*).collect().toSeq
          val one = tc.oneShot()
          val want = one.orderBy(one.columns.map(col).toSeq: _*).collect().toSeq
          assert(got.nonEmpty, s"${tc.name} drained empty")
          assert(got === want,
            s"${tc.name}: restarted drain diverged from the single-shot result")
        } finally {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(); ()
          }
          rm(new java.io.File(tmp))
        }
      }
    }
  }
}
