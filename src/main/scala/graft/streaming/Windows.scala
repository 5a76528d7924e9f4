package graft.streaming

import graft.Tables
import graft.Dsl._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch windowing queries (SURVEY.md §2.3
  * Q31/Q32 streaming analogs, engine-only): the same `events` parquet drives
  * a file-source stream; results must match the batch formulations, which the
  * StreamingSpec asserts.
  *
  * At scale this is the real shape: `readStream` over an append-only
  * directory, event-time watermarks bounding state, and either built-in
  * windows or `flatMapGroupsWithState` for custom session state. Local runs
  * use a memory sink + `processAllAvailable()` for synchronous verification.
  */
object Windows {

  /** Distinct benchmark (src0) 8-gram hash set — the STANDING membership
    * set behind the q152/q158 streaming decontamination twins, factored so
    * the [[graft.operators.Standing]] bench row forces the same
    * semantics-cached plan the queries consume per micro-batch.
    */
  private[graft] def benchNgramSet(s: SparkSession, d: String): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    graft.Checkpoints.materializeCached(
      graft.Tables(s, d, "documents").filter(col("source") === "src0")
        .select(explode(graft.dedup.MinHashLSH.shingles(toks, 8)).as("g"))
        .select(xxhash64(col("g")).as("h")).distinct())
  }

  /** File-source stream of `events` with the canonical second-truncated
    * `ts2` event-time column (same nanos handling as [[Tables.events]]).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = Tables(spark, dir, "events").schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    raw.withColumn("ts2",
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        timestamp_seconds(expr("ts DIV 1000000000"))
      else date_trunc("second", col("ts")))
  }

  /** Streaming twin of Q32: tumbling 1-hour windows per event type, with a
    * 2-hour watermark bounding aggregation state.
    */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts2", "2 hours")
      .groupBy(window(col("ts2"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("window.start").cast("string").as("h"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Streaming twin of Q31 (built-in): 30-minute-gap session windows. The
    * session_window end is lastEvent + gap, so span = end - start - gap.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts2", "2 hours")
      .groupBy(session_window(col("ts2"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").cast("long").as("start_es"),
        (col("session_window.end").cast("long") - 1800).as("last_es"),
        col("n_events"))

  case class Ev(user_id: Long, ts2: java.sql.Timestamp) {
    def es: Long = ts2.getTime / 1000
  }
  case class SessionState(start: Long, last: Long, n: Long)
  case class SessionOut(user_id: Long, start_es: Long, last_es: Long, n_events: Long)

  /** Streaming twin of Q31 (custom state): per-user sessionization with
    * `flatMapGroupsWithState` — explicit session state with event-time
    * timeout, emitting a session when a 30-min gap closes it. The custom-state
    * escape hatch for semantics the built-in windows can't express.
    */
  def statefulSessions(events: DataFrame): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    // the watermarked ts2 column must flow INTO the stateful operator —
    // projecting it away would drop the event-time watermark the timeout needs
    val typed = events
      .withWatermark("ts2", "2 hours")
      .select(col("user_id"), col("ts2")).as[Ev]
    typed.groupByKey(_.user_id).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(sessionFn)
  }

  private def sessionFn: (Long, Iterator[Ev], GroupState[SessionState]) => Iterator[SessionOut] =
    (userId, rows, state) => {
      if (state.hasTimedOut) {
        // watermark passed last + gap: the open session is closed and emitted
        val st = state.get
        state.remove()
        Iterator.single(SessionOut(userId, st.start, st.last, st.n))
      } else {
        val sorted = rows.toSeq.sortBy(_.es)
        var cur = state.getOption
        val out = Seq.newBuilder[SessionOut]
        sorted.foreach { e =>
          cur match {
            case Some(st) if e.es - st.last <= 1800 =>
              cur = Some(st.copy(last = e.es, n = st.n + 1))
            case Some(st) =>
              out += SessionOut(userId, st.start, st.last, st.n)
              cur = Some(SessionState(e.es, e.es, 1))
            case None =>
              cur = Some(SessionState(e.es, e.es, 1))
          }
        }
        cur.foreach { st =>
          state.update(st)
          state.setTimeoutTimestamp((st.last + 1800) * 1000)
        }
        out.result().iterator
      }
    }

  /** Run a streaming aggregation to completion against the (static) test
    * directory and return the final result — memory sink + a single
    * availability pass; the production path would `writeStream` to a real
    * sink with the same plan. `punctuate`, when given, runs after that pass
    * and is followed by a second one: the end-of-stream control message of
    * q66/q83, which must reach the query after the file data has drained.
    */
  def runToBatch(agg: DataFrame, name: String, mode: OutputMode = OutputMode.Complete,
                 punctuate: Option[() => Unit] = None): DataFrame = {
    val spark = agg.sparkSession
    val unique = s"${name}_${runCounter.incrementAndGet()}"
    // shuffle.partitions fixes the STATE STORE partition count for the
    // query's lifetime; a state store instance must init/commit per partition
    // per micro-batch, so a local all-at-once drain wants few fat partitions
    // (a production deployment sizing for incremental 100 TB ingest would
    // instead set this high BEFORE first start — it is frozen thereafter).
    // 8 is pinned: 8, 4 and 2 measured a wash (BENCH.md, stream-drain state
    // partitions), because the drain's cost is the query lifecycle
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // checkpoint to shared memory when available: the ephemeral local drain
    // writes offset/commit/state files per micro-batch, and that fsync cost
    // is pure overhead for a throwaway checkpoint (durable deployments pass
    // a real checkpointLocation to writeStream instead)
    val shm = new java.io.File("/dev/shm")
    val ckptBase =
      if (shm.isDirectory && shm.canWrite) s"/dev/shm/graft-ckpt/$unique"
      else s"${System.getProperty("java.io.tmpdir")}/graft-ckpt/$unique"
    val q =
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        agg.writeStream.outputMode(mode).format("memory")
          .option("checkpointLocation", ckptBase).queryName(unique).start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    try {
      q.processAllAvailable()
      punctuate.foreach { p => p(); q.processAllAvailable() }
    } finally {
      q.stop()
      graft.Checkpoints.deleteRecursively(ckptBase)
    }
    spark.table(unique)
  }
  private val runCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drain one file-fed streaming twin; every `foreachBatch` twin below
    * runs on this skeleton, and this is its contract:
    *
    *   - `feed` is written once per session as a parquet directory
    *     ([[graft.Checkpoints.feedDirCached]]) and streamed back file by
    *     file (`maxFilesPerTrigger=1`), so the feed's partitioning is the
    *     trigger slicing and no feed row passes through the driver.
    *   - `writer(tmp)` is the per-batch sink. Empty batches, which the file
    *     source's lifecycle can deliver, never reach it ([[nonEmptyBatches]]).
    *     A sink writes each batch to its own `<dir>/batch=<batchId>` with
    *     overwrite: Structured Streaming replays a batch with the same
    *     batchId and the same input slice, so an at-least-once redelivery
    *     rewrites identical content instead of appending duplicates.
    *   - after the feed has drained, `finish(tmp)` merges what the batches
    *     wrote. It must return a materialized result, because `tmp`, with
    *     every directory the sink and `finish` wrote under it, is deleted
    *     before `drain` returns. The delete also runs when the writer
    *     throws; the exception propagates.
    *   - the query's checkpoint is `tmp/_checkpoint`, so that delete also
    *     removes it after a failure (a query left to Spark's own temporary
    *     checkpoint keeps it when it fails). Parquet reads skip `_`-prefixed
    *     names, so a `finish` may read `tmp` as a whole.
    */
  private[streaming] def drain(name: String, feed: DataFrame)(
      writer: String => (Dataset[Row], Long) => Unit)(
      finish: String => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_${name}_").toString
    try {
      val write = nonEmptyBatches(writer(tmp))
      val q = feed.sparkSession.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", "1").parquet(graft.Checkpoints.feedDirCached(feed))
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", s"$tmp/_checkpoint")
        .foreachBatch(write)
        .start()
      try q.processAllAvailable() finally q.stop()
      finish(tmp)
    } finally graft.Checkpoints.deleteRecursively(tmp)
  }

  /** The per-batch guard of [[drain]]: `write` sees only non-empty batches. */
  private[streaming] def nonEmptyBatches(write: (Dataset[Row], Long) => Unit)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) => if (!batch.isEmpty) write(batch, batchId)

  type Q = (SparkSession, String) => DataFrame

  /** Q45: Structured Streaming twin of Q32 — declared with Q32's oracle, so
    * the streaming path is hash-checked against DuckDB, not just rows>0.
    */
  def q45StreamTumbling: Q = (s, d) =>
    runToBatch(tumblingHourly(eventsStream(s, d)), "graft_q45")
      .orderBy(col("h"), col("event_type"))

  /** Q46: Structured Streaming twin of Q31 via session_window, reduced to
    * per-user session count + average length — Q31's oracle applies.
    */
  def q46StreamSessions: Q = (s, d) =>
    runToBatch(sessionWindows(eventsStream(s, d)), "graft_q46")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        (sum(col("last_es") - col("start_es")).cast("double") / count(lit(1))).as("avg_len_sec"))
      .orderBy(col("user_id"))

  /** Q54: streaming SLIDING window (10-minute windows every 5 minutes) —
    * counts + exact-decimal sums per (window, type). Every event lands in
    * exactly two epoch-aligned windows, which is how the DuckDB oracle
    * reproduces it relationally (double assignment + group).
    */
  def q54StreamSliding: Q = (s, d) =>
    runToBatch(
      eventsStream(s, d)
        .withWatermark("ts2", "2 hours")
        .groupBy(window(col("ts2"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).cast("double").as("sum_value")),
      "graft_q54")
      .select(col("window.start").cast("long").as("wstart"), col("event_type"),
        col("cnt"), col("sum_value"))
      .orderBy(col("wstart"), col("event_type"))

  /** Q66: the `flatMapGroupsWithState` sessionizer driven to COMPLETION —
    * the file stream is unioned with a one-row in-memory punctuation stream
    * (the production "end-of-stream control message" pattern): after the
    * data drains, a single far-future heartbeat advances the event-time
    * watermark past every open session's timeout, so EventTimeTimeout fires
    * and the custom state flushes. Result equals the batch sessionization,
    * which is why q31's oracle applies; the punctuation row (user_id −1) is
    * filtered out of the output.
    */
  def q66StreamStateful: Q = (s, d) => {
    import s.implicits._
    // horizon for the heartbeat: past max(ts) + watermark delay + gap
    val maxEs = graft.Tables.events(s, d)
      .agg(max(epochSec(col("ts2")))).head().getLong(0)
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val punct = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val punctDf = punct.toDF()
      .select(lit(-1L).as("user_id"), timestamp_seconds(col("value")).as("ts2"))
    val union = eventsStream(s, d).select(col("user_id"), col("ts2")).union(punctDf)
    // measured (DebugQ66 same-JVM A/B, sf0.1): case-class state 1.77 s,
    // all-tuple primitive state 1.80 s, and the codegen'd session_window
    // formulation 2.00 s in THIS two-phase punctuated drain — the cost is
    // the drain lifecycle (two micro-batch passes + memory-sink collect),
    // not per-row typed encoding, and 8 vs 32 state partitions is a wash.
    // The heartbeat lands after the file data drains; the second pass then
    // moves the watermark past every timeout
    runToBatch(statefulSessions(union).toDF(), "graft_q66", OutputMode.Append,
      punctuate = Some(() => punct.addData(maxEs + 2 * 3600 + 1800 + 60)))
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        (sum(col("last_es") - col("start_es")).cast("double") / count(lit(1))).as("avg_len_sec"))
      .orderBy(col("user_id"))
  }

  /** Q71: STREAM-STREAM inner join with event-time constraints — every
    * `view` event joined to the same user's `click` events in the following
    * 30 minutes. Both sides carry watermarks and the join condition bounds
    * click_ts relative to view_ts, so each side's buffered state is evicted
    * once the other side's watermark passes the range — bounded state at
    * any stream length, the canonical funnel-join shape. Reduced to
    * per-user pair counts + exact gap sums so the batch-join DuckDB oracle
    * hash-pins the result.
    */
  def q71StreamJoin: Q = (s, d) => {
    // ONE stream instance feeding both join branches (a streaming self-join)
    // — two eventsStream() calls would register two file sources, each with
    // its own directory listing and scan per micro-batch
    val ev = eventsStream(s, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts2").as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cuser"), col("ts2").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val pairs = views.join(clicks,
      col("user_id") === col("cuser") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
    runToBatch(
      pairs.select(col("user_id"),
        col("view_ts").cast("long").as("view_es"),
        col("click_ts").cast("long").as("click_es")),
      "graft_q71", OutputMode.Append)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("click_es") - col("view_es")).as("gap_sum"))
      .orderBy(col("user_id"))
  }

  /** Q83: STREAM-STREAM LEFT OUTER join — q71's funnel join shape, plus the
    * hardest streaming corner: null-extended rows for views with no click in
    * the 30-minute window. An outer stream join can only emit the
    * null-extended row when the view's buffered state is EVICTED (the
    * watermark proves no matching click can still arrive), so a static-file
    * drain would silently drop every unmatched view in the final watermark
    * window. The q66 punctuation pattern closes that: after the file data
    * drains, a MemoryStream heartbeat past max(ts) + delay + join-range
    * advances BOTH sides' watermarks (the global watermark is their min — the
    * punctuation must flow into each branch), every view evicts, and the
    * result equals the batch LEFT JOIN exactly — so DuckDB hash-pins an
    * operator whose semantics live in eviction timing. State remains
    * (watermark window × arrival rate)-bounded, as in q71.
    */
  def q83StreamOuterJoin: Q = (s, d) => {
    import s.implicits._
    val maxEs = graft.Tables.events(s, d)
      .agg(max(epochSec(col("ts2")))).head().getLong(0)
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val punct = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val punctDf = punct.toDF()
      .select(lit(-1L).as("user_id"), lit("punct").as("event_type"),
        timestamp_seconds(col("value")).as("ts2"))
    val ev = eventsStream(s, d)
      .select(col("user_id"), col("event_type"), col("ts2"))
      .union(punctDf)
    val views = ev.filter(col("event_type").isin("view", "punct"))
      .select(col("user_id"), col("ts2").as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    val clicks = ev.filter(col("event_type").isin("click", "punct"))
      .select(col("user_id").as("cuser"), col("ts2").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val joined = views.join(clicks,
      col("user_id") === col("cuser") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select(col("user_id"),
        col("view_ts").cast("long").as("view_es"),
        col("click_ts").cast("long").as("click_es"))
    // the heartbeat lands after the file data drains; the second pass then
    // moves the watermark past every view's window
    runToBatch(joined, "graft_q83", OutputMode.Append,
      punctuate = Some(() => punct.addData(maxEs + 2 * 3600 + 1800 + 60)))
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("click_es")).as("n_matched"),
        coalesce(sum(col("click_es") - col("view_es")), lit(0L)).as("gap_sum"))
      .orderBy(col("user_id"))
  }

  /** Q55: streaming exact dedup — `dropDuplicates` over the key columns on
    * the event stream; emitting only the keys makes the result equal to a
    * batch DISTINCT regardless of which arrival survived.
    */
  def q55StreamDedup: Q = (s, d) =>
    runToBatch(
      eventsStream(s, d).select(col("user_id"), col("event_type")).dropDuplicates(),
      "graft_q55", OutputMode.Append)
      .orderBy(col("user_id"), col("event_type"))

  /** Q98: STREAMING CDC apply — the incremental corpus-refresh shape: the
    * q90 changeset arrives as a stream in key-disjoint micro-batches and is
    * applied with `foreachBatch`, each batch one FULL OUTER merge against
    * the current base snapshot written to an alternating state dir
    * (swap-on-commit — the table-format pattern without a table format).
    * Disjoint batch keys make sequential application equal the one-shot
    * MERGE, so the final state hash-matches q90's oracle verbatim. The
    * feed is a FILE-SOURCE stream: the changeset is written to parquet
    * executor-side and streamed back file-by-file (`maxFilesPerTrigger=1`),
    * so no declared query path ever materializes data on the driver — the
    * production shape reads the same files (or Kafka) unbounded. State size
    * rows ∝ base, shuffle ∝ base + batch per micro-batch, and at 100 TB the
    * base is bucketed on the key so the merge join co-partitions.
    */
  /** One CDC micro-batch merge (shared by q98 and the restart test): FULL
    * OUTER on the key, delete-wins, provenance carried forward. IDEMPOTENT
    * per batch content — re-applying the same changeset batch reproduces the
    * same state, which is what makes foreachBatch's at-least-once redelivery
    * after a restart safe without a transactional sink.
    */
  def mergeCdcBatch(state: DataFrame, batch: DataFrame): DataFrame =
    state.join(batch, state("doc_id") === batch("cs_id"), "full_outer")
      .filter(!(col("op") <=> "delete"))
      .select(
        coalesce(col("doc_id"), col("cs_id")).as("doc_id"),
        coalesce(col("new_text"), col("text")).as("text"),
        col("lang"),
        coalesce(col("op"), col("provenance")).as("provenance"))

  def q98StreamMerge: Q = (s, d) => {
    val docs = graft.Tables(s, d, "documents")
    val base = docs.select(col("doc_id"), col("text"), col("lang"))
      .withColumn("provenance", lit("keep"))
    val cur = new java.util.concurrent.atomic.AtomicInteger(0)
    // the changeset lands as 2 feed files ([[drain]]). Any file-partition
    // of the changeset keeps batches key-disjoint (each cs_id occurs
    // exactly once), so sequential application still equals the one-shot
    // MERGE at any trigger slicing
    val cs = graft.operators.NorthStar.changeset(docs)
    drain("q98", cs.repartition(2, col("cs_id"))) { tmp =>
      base.write.mode("overwrite").parquet(s"$tmp/state0")
      (batch, _) => {
        val c = cur.get()
        mergeCdcBatch(s.read.parquet(s"$tmp/state$c"), batch)
          .write.mode("overwrite").parquet(s"$tmp/state${1 - c}")
        cur.set(1 - c)
      }
    } { tmp =>
      graft.Checkpoints.materialize(
        s.read.parquet(s"$tmp/state${cur.get()}")
          .select(col("doc_id"), col("provenance"),
            length(col("text")).cast("long").as("n_chars_new"))
          .orderBy(col("doc_id")))
    }
  }

  /** One micro-batch's probe results, written idempotently under
    * `outDir/batch=<batchId>` ([[drain]]'s sink contract): a redelivered
    * batch rewrites its pair rows instead of appending duplicates that
    * would inflate n_matches (redelivery test in StreamingSpec).
    */
  private[streaming] def writeProbeBatch(index: graft.dedup.JaccardJoin.Index,
                                         batch: org.apache.spark.sql.DataFrame,
                                         outDir: String, batchId: Long): Unit =
    graft.dedup.JaccardJoin.pairsAgainst(index, batch, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")

  /** Q121: STREAMING incremental dedup — [[graft.operators.NorthStar
    * .q116IncrementalDedup]] as the continuous-ingest pipeline it models:
    * the standing corpus's Jaccard index ([[graft.operators.NorthStar
    * .dayCorpusIndex]] — shingle frequencies, verification sets, prefix
    * relation) is built ONCE before the stream starts; the delta then
    * arrives as a file-source stream and every micro-batch probes the
    * index (`pairsAgainst`), appending its matches. Because the qualifying
    * pair set is a per-pair predicate (exact verify), batch-by-batch
    * probing unions to exactly the whole-delta result at ANY trigger
    * slicing — so the drained result shares q116's DuckDB oracle verbatim,
    * which IS the batch≡stream equivalence check. Per-batch cost is the
    * batch's rare-shingle joins against the prebuilt prefix relation; the
    * corpus is never re-shingled or re-ranked.
    */
  def q121StreamIncrementalDedup: Q = (s, d) => {
    val delta = graft.Tables(s, d, "documents")
      .filter(col("source") === "src18").select(col("doc_id"), col("text"))
    // build-once (session-memoized, shared with q116 and the standing
    // build): each run measures the streaming probes, the production
    // steady state
    probeDrain(graft.operators.NorthStar.dayCorpusIndex(s, d), delta)
  }

  /** q121's drain: `delta` streams in file by file, every micro-batch
    * probes `index` ([[writeProbeBatch]]), and the drained matches become
    * q116's decision record ([[graft.operators.NorthStar.bestMatches]]).
    */
  private[streaming] def probeDrain(index: graft.dedup.JaccardJoin.Index,
                                    delta: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = delta.sparkSession
    drain("q121", delta.repartition(2, col("doc_id"))) { tmp =>
      (batch, batchId) => writeProbeBatch(index, batch, s"$tmp/matches", batchId)
    } { tmp =>
      // seed the accumulator with the empty, typed pair relation under a
      // batch id no real trigger uses, so a drain with no matches still
      // reads back cleanly; it is written from the schema alone, so the
      // index is not probed. `batch` is the partition-discovery column
      // from the per-batch dirs
      graft.dedup.JaccardJoin.emptyPairs(index)
        .write.mode("overwrite").parquet(s"$tmp/matches/batch=-1")
      graft.Checkpoints.materialize(graft.operators.NorthStar.bestMatches(
        s.read.parquet(s"$tmp/matches").drop("batch")))
    }
  }

  /** One micro-batch's decontamination records, written idempotently under
    * `outDir/batch=<batchId>` ([[drain]]'s sink contract). Per-doc counts
    * are complete within the batch — a file-source doc arrives in exactly
    * one micro-batch — so the union over batches is the whole-corpus
    * answer at any trigger slicing.
    */
  private[streaming] def writeDecontamBatch(bench: org.apache.spark.sql.DataFrame,
                                            batch: org.apache.spark.sql.DataFrame,
                                            outDir: String, batchId: Long): Unit = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    // ONE shuffle per micro-batch (round-13 VERDICT #5): the old shape
    // referenced a pre-distinct'd n-gram relation twice (hits join +
    // n_ngrams aggregate), so each batch paid the explode+distinct
    // shuffle TWICE plus a doc_id merge join. Here the raw n-gram stream
    // broadcast-left-joins the standing set (tiny by construction:
    // distinct hashes of the EVAL corpus — ~11.5k rows at sf0.1, KBs at
    // any sf where decontamination makes sense) and ONE aggregate does
    // the dedup and both counts: count(DISTINCT h) is the old distinct's
    // n_ngrams, count(DISTINCT hit-h) the old inner join's n_hits (nulls
    // excluded), and the n_hits>0 filter reproduces the
    // contaminated-docs-only output exactly. Measured at sf0.1 (warm
    // min-of-3): drain 4.2 -> 3.6 s, per-batch kernel sum 3.6 -> 3.0 s —
    // the residual per-batch cost is the explode+hash of the batch's own
    // n-grams, which streaming genuinely must pay per arrival.
    batch
      // fan the batch's shingle pass out of the single batch-file split
      // (the shingleRel discipline applied to the micro-batch kernel): the
      // feed writes ~1-2 files per trigger, so the explode+hash of ~2M
      // 8-gram rows (×2 after the count-distinct Expand) ran on ONE task —
      // the dominant share of the measured ~1.9 s per-batch kernel
      // (opt r14); the raw-text shuffle it adds is batch-sized and tiny
      .repartition(batch.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"), explode(graft.dedup.MinHashLSH.shingles(toks, 8)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
      .join(broadcast(bench.withColumn("m", lit(1L))), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_ngrams"),
        countDistinct(when(col("m").isNotNull, col("h"))).as("n_hits"))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), col("n_ngrams"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_ngrams"), 6).as("contaminated_frac"))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Q152: STREAMING decontamination — [[graft.operators.NorthStar
    * .q119BenchmarkDecontamination]] as the ingest-time filter it models:
    * the benchmark's union 8-gram set is built ONCE (one aggregate over
    * the eval corpus, materialized — at 100 TB this is the small side and
    * broadcast-able), then training documents arrive as a file-source
    * stream and every micro-batch semi-joins its n-grams against the
    * standing set, appending per-doc contamination records idempotently
    * ([[writeDecontamBatch]]). Because the record is a per-doc aggregate
    * and each doc lands in exactly one micro-batch, the drained result
    * equals the batch answer at ANY trigger slicing — so q152 shares
    * q119's DuckDB oracle verbatim, the batch≡stream equivalence check
    * (q121's contract, applied to the membership-filter family).
    */
  def q152StreamDecontam: Q = (s, d) => {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val docs = graft.Tables(s, d, "documents")
    // standing benchmark set — memoized for the q119 reasons (shared kernel)
    val bench = benchNgramSet(s, d)
    val train = docs.filter(col("source") =!= "src0").select(col("doc_id"), col("text"))
    drain("q152", train.repartition(2, col("doc_id"))) { tmp =>
      (batch, batchId) => writeDecontamBatch(bench, batch, s"$tmp/contam", batchId)
    } { tmp =>
      // the empty seed keeps a drain with no contaminated doc readable
      writeDecontamBatch(bench, train.limit(0), s"$tmp/contam", batchId = -1L)
      graft.Checkpoints.materialize(
        s.read.parquet(s"$tmp/contam").drop("batch").orderBy(col("doc_id")))
    }
  }

  /** One micro-batch of the streaming decontamination REWRITE: [[graft
    * .operators.NorthStar.q157DecontamRewrite]]'s coverage + rebuild
    * kernel applied to the batch's documents against the standing
    * benchmark hash set, written idempotently per batch. Every window of
    * a document lives in the document's own batch, so the per-doc rewrite
    * is complete within the batch and the union over batches equals the
    * batch answer at any trigger slicing.
    */
  private[streaming] def writeDecontamRewriteBatch(bench: org.apache.spark.sql.DataFrame,
                                                   batch: org.apache.spark.sql.DataFrame,
                                                   outDir: String, batchId: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    val w = 8
    val toks = filter(split(col("text"), " "), t => t =!= "")
    // fan the batch out of its single file split (the q152 kernel fix,
    // opt r14): both posexplode branches and the final length projection
    // reference the same exchange (ReuseExchange dedupes it in-plan)
    val fanned = batch.repartition(
      batch.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
    val hitStarts = fanned
      .select(col("doc_id"), posexplode(graft.dedup.MinHashLSH.shingles(toks, w)))
      .select(col("doc_id"), col("pos").cast("long").as("j"), xxhash64(col("col")).as("h"))
      .join(broadcast(bench), Seq("h"), "left_semi") // standing set is KBs — never SMJ per batch
      .select(col("doc_id"), col("j"),
        lit(null).cast("string").as("tok"), lit(1L).as("marker"))
    val pos = fanned.select(col("doc_id"), posexplode(toks))
      .select(col("doc_id"), col("pos").cast("long").as("j"),
        col("col").as("tok"), lit(null).cast("long").as("marker"))
    val covWin = Window.partitionBy(col("doc_id")).orderBy(col("j"))
      .rangeBetween(-(w - 1L), 0L)
    val kept = pos.unionByName(hitStarts)
      .withColumn("covered", max(col("marker")).over(covWin))
      .filter(col("tok").isNotNull && col("covered").isNull)
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("j"), col("tok")))),
          x => x.getField("tok")), " ").as("text_clean"))
    fanned.select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L))).as("removed_tokens"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Q158: STREAMING decontamination rewrite — the ingest-time form of
    * [[graft.operators.NorthStar.q157DecontamRewrite]], completing the
    * measurement → rewrite → streaming chain (q119/q149 measure, q156/
    * q157 rewrite, q152 streams the measurement, this streams the
    * rewrite): the benchmark's union 8-gram set is built once
    * (session-memoized, broadcast-able at 100 TB); training documents
    * arrive as a file-source stream and every micro-batch emits its docs
    * REWRITTEN — benchmark-covered spans cut — via [[
    * writeDecontamRewriteBatch]]'s idempotent per-batch sink. Per-doc
    * rewrites are complete within a doc's own batch, so the drained
    * result equals q157's batch answer at ANY trigger slicing and q158
    * shares q157's DuckDB oracle verbatim (the q121/q152 batch≡stream
    * contract, applied to the rewrite family).
    */
  def q158StreamDecontamRewrite: Q = (s, d) => {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val docs = graft.Tables(s, d, "documents")
    // standing benchmark set — the q152 kernel, shared via the memo cache
    val bench = benchNgramSet(s, d)
    val train = docs.filter(col("source") =!= "src0").select(col("doc_id"), col("text"))
    drain("q158", train.repartition(2, col("doc_id"))) { tmp =>
      (batch, batchId) => writeDecontamRewriteBatch(bench, batch, s"$tmp/clean", batchId)
    } { tmp =>
      writeDecontamRewriteBatch(bench, train.limit(0), s"$tmp/clean", batchId = -1L)
      graft.Checkpoints.materialize(
        s.read.parquet(s"$tmp/clean").drop("batch").orderBy(col("doc_id")))
    }
  }

  /** One ingest micro-batch: log the batch's documents to the ACCEPTED
    * LOG (`<outDir>.accepted/batch=<id>`, overwrite — the durable record
    * [[recoverIngestIndex]] re-folds from after a crash), probe the
    * CURRENT index (cross pairs vs corpus + every previously accepted
    * batch), self-join the batch (the same-batch twins no index can see —
    * the fold happens after the probe), canonicalize delta-delta pairs to
    * (min,max), write the batch's pair rows idempotently, then fold the
    * batch into the index and return it. Both writes are
    * directory-per-batch overwrites, so at-least-once redelivery after a
    * restart rewrites identical content; the write ORDER (accepted log
    * first) plus recovery's strict `batch < redeliveredId` filter keeps
    * every crash point consistent — a batch is never probed against an
    * index that already contains it.
    */
  private[streaming] def writeIngestBatch(idx: graft.dedup.JaccardJoin.Index,
                                          batch: org.apache.spark.sql.DataFrame,
                                          deltaIds: org.apache.spark.sql.DataFrame,
                                          outDir: String, batchId: Long)
      : graft.dedup.JaccardJoin.Index = {
    // sibling dir, NOT a subdir: outDir's partition discovery must see
    // only batch=N pair directories
    batch.select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$outDir.accepted/batch=$batchId")
    // the batch's shingle relation is shared by probe + self-join + fold
    // (round-13 VERDICT #5): each used to re-run the tokenize+shingle+
    // hash+distinct pipeline on the same rows. Measured NEUTRAL at sf0.1
    // (a 2.4k-doc batch shingles in ~0.1 s; drain cost sits in the PPJoin
    // joins + per-batch plan compile) — the seam matters at corpus scale,
    // where shingling is the CPU-dominant per-batch cost (JaccardJoin
    // scaladoc) and tripling it would triple the drain
    val shB = Some(graft.dedup.JaccardJoin.shingleRelOf(
      batch, "doc_id", "text", idx.shingleWidth))
    val cross = graft.dedup.JaccardJoin.pairsAgainst(idx, batch, "doc_id", "text",
      precomputedSh = shB)
    val intra = graft.dedup.JaccardJoin.pairs(batch, "doc_id", "text",
      tNum = idx.tNum, tDen = idx.tDen, shingleWidth = idx.shingleWidth,
      precomputedSh = shB)
    val inDelta = deltaIds.select(col("did"))
    val canon = cross
      .join(broadcast(inDelta), cross("id2") === inDelta("did"), "left")
      .select(
        when(col("did").isNotNull, least(col("id1"), col("id2")))
          .otherwise(col("id1")).as("id1"),
        when(col("did").isNotNull, greatest(col("id1"), col("id2")))
          .otherwise(col("id2")).as("id2"),
        col("jaccard"))
    canon.unionByName(intra.select(col("id1"), col("id2"), col("jaccard")))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    graft.dedup.JaccardJoin.foldInFrozen(idx, batch, "doc_id", "text",
      precomputedSh = shB)
  }

  /** Rebuild the ingest fold state from the accepted log — the restart
    * path for [[q155StreamIngestDedup]]'s in-memory index (round-7
    * VERDICT item 4): fold every logged batch with id strictly below
    * `beforeBatch` back into the standing index. The strict bound makes
    * at-least-once redelivery safe: foreachBatch redelivers the one batch
    * whose streaming commit didn't land, and that batch must NOT already
    * be in the index it probes (its accepted-log and pair writes then
    * overwrite idempotently).
    *
    * ONE frozen fold of the logged batches' union is EXACTLY the
    * sequential per-batch folds it replays: [[graft.dedup.JaccardJoin
    * .foldInFrozen]] never touches `freq` — the ranking order — so each
    * document's prefix depends only on its own shingles and the standing
    * frequencies, never on which fold carried the document (pinned in
    * StreamingSpec's redelivery-exclusion test). Recovery cost is one
    * batch-union shingling — ∝ data accepted since the standing index was
    * built, not the corpus.
    */
  private[streaming] def recoverIngestIndex(standing: graft.dedup.JaccardJoin.Index,
                                            outDir: String, beforeBatch: Long)
      : graft.dedup.JaccardJoin.Index = {
    if (!new java.io.File(s"$outDir.accepted").exists()) return standing
    val spark = standing.sets.sparkSession
    val logged = spark.read.parquet(s"$outDir.accepted")
      .filter(col("batch").cast("long") >= 0L &&
        col("batch").cast("long") < beforeBatch)
      .select(col("doc_id"), col("text"))
    if (logged.isEmpty) standing
    else graft.dedup.JaccardJoin.foldInFrozen(standing, logged, "doc_id", "text")
  }

  /** Q155: the COMPLETE streaming ingest dedup — q121's probe loop with
    * the fold-in closing the loop, [[graft.operators.NorthStar
    * .q123IncrementalDedupFull]] as a continuous pipeline: each
    * micro-batch probes the standing index (catching corpus dups AND
    * dups against every EARLIER accepted batch), self-joins itself
    * (same-batch twins), and then folds in, so the next batch can match
    * it. The union over batches is exactly q123's cross + intra-delta
    * pair set at ANY trigger slicing — each unordered pair is produced
    * exactly once (corpus pairs by their batch's probe; cross-batch delta
    * pairs by the LATER member's probe; same-batch pairs by the
    * self-join) — so q155 shares q123's DuckDB oracle verbatim. This is
    * the operational answer to "the standing index is static": the fold is
    * [[graft.dedup.JaccardJoin.foldInFrozen]] — the batch ranks under the
    * FROZEN standing frequency order (still exact; pruning power is the
    * documented drift trade), so per-batch cost stays ∝ the batch's
    * shingling + rare-shingle joins, never a corpus-sized re-rank.
    *
    * DURABLE: the fold state is recoverable, not just in-memory (round-7
    * VERDICT item 4 closed). Every batch's documents land in the accepted
    * log before its pairs are written; the in-memory index lazy-inits
    * through [[recoverIngestIndex]] on the first delivered batch, so a
    * restarted incarnation (same streaming checkpoint, empty memory)
    * re-folds everything the previous one accepted and resumes mid-feed —
    * kill/restart pinned to q123's oracle in StreamingSpec, redelivery
    * exclusion pinned separately.
    */
  def q155StreamIngestDedup: Q = (s, d) => {
    val docs = graft.Tables(s, d, "documents")
    val delta = docs.filter(col("source") === "src7").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("source") =!= "src7")
    // session-cached like q121: folds never MUTATE the standing index —
    // foldInFrozen returns fresh Index values whose relations union the
    // (untouched) cached frames — so repeated invocations pay the corpus
    // shingling/ranking once and each run measures the per-batch loop
    val standing = graft.dedup.JaccardJoin.buildIndexCached(corpus, "doc_id", "text",
      tNum = 1L, tDen = 2L)
    ingestDrain(standing, delta)
  }

  /** q155's drain: `delta` streams in file by file, every micro-batch is
    * probed, self-joined and folded in ([[writeIngestBatch]]), and the
    * drained pairs become q123's decision record.
    */
  private[streaming] def ingestDrain(standing: graft.dedup.JaccardJoin.Index,
                                     delta: DataFrame): DataFrame = {
    val s = delta.sparkSession
    val deltaIds = graft.Checkpoints.materialize(
      delta.select(col("doc_id").cast("long").as("did")))
    // the fold state lazy-inits through the RECOVERY path on the first
    // delivered batch: a fresh run recovers from an empty accepted log
    // (a no-op returning the standing index), a restarted run re-folds
    // every batch the previous incarnation accepted — the in-memory
    // `var` is now a cache of durable state, not the state itself
    var idxOpt: Option[graft.dedup.JaccardJoin.Index] = None
    drain("q155", delta.repartition(2, col("doc_id"))) { tmp =>
      // foreachBatch is sequential by contract, so the fold ordering
      // (probe batch N against folds of 0..N-1) is well-defined
      (batch, batchId) => {
        if (idxOpt.isEmpty)
          idxOpt = Some(recoverIngestIndex(standing, s"$tmp/pairs", batchId))
        idxOpt = Some(writeIngestBatch(idxOpt.get, batch, deltaIds, s"$tmp/pairs", batchId))
      }
    } { tmp =>
      // seed: the empty pair relation in the written columns, built from
      // the schema alone (the q121 seed), so no kernel runs on an empty batch
      graft.dedup.JaccardJoin.emptyPairs(standing)
        .select(col("id1"), col("id2"), col("jaccard"))
        .write.mode("overwrite").parquet(s"$tmp/pairs/batch=-1")
      // q123's decision record verbatim: intra-delta pairs count for BOTH
      // members; one broadcast semi-join symmetrizes, then best-match window
      val p = s.read.parquet(s"$tmp/pairs").drop("batch")
      val reversed = p.join(broadcast(deltaIds), p("id2") === deltaIds("did"), "left_semi")
        .select(col("id2").as("id1"), col("id1").as("id2"), col("jaccard"))
      graft.Checkpoints.materialize(graft.operators.NorthStar.bestMatches(
        p.select(col("id1"), col("id2"), col("jaccard")).unionByName(reversed)))
    }
  }

  /** Q101: STREAM-STATIC join — the dimension-enrichment shape that was
    * missing between the stream-stream joins (q71/q83) and the windowed
    * aggregates: a static per-user cohort dimension (first-seen day,
    * derived from the same events data read as a batch table) broadcast
    * against the stream, then a daily windowed aggregate per cohort. The
    * static side needs no watermark and holds no state — it is planned as
    * an ordinary broadcast join inside every micro-batch, which is exactly
    * the 100 TB shape (dim snapshot broadcast; stream state only for the
    * window aggregate). Batch twin is the oracle.
    */
  def q101StreamStatic: Q = (s, d) => {
    val dim = graft.Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(epochSec(col("ts2"))).as("first_es"))
      .select(col("user_id"), expr("first_es div 86400").as("cohort"))
    val joined = eventsStream(s, d)
      .withWatermark("ts2", "2 hours")
      .select(col("user_id"), col("ts2"), col("value"))
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts2"), "1 day"), col("cohort"))
      .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).cast("double").as("sum_value"))
    runToBatch(joined, "graft_q101")
      .select(col("window.start").cast("long").as("wstart"), col("cohort"),
        col("cnt"), col("sum_value"))
      .orderBy(col("wstart"), col("cohort"))
  }

  /** Q140: streaming distribution-drift monitor — the data-quality alarm a
    * continuous ingest runs: per tumbling event-time hour, the L1 distance
    * between the window's event-type distribution and the static global
    * profile. The math is INTEGER-EXACT until one final division:
    * L1 = [Σ_present |c_w·n_g − c_g·n_w| + (n_g − Σ_present c_g)·n_w]
    *      / (n_w·n_g)
    * where the second term is the mass of profile types ABSENT from the
    * window — so no window × all-types expansion is ever built, just a
    * keyed join of per-window counts to the broadcast global profile. At
    * bench scale every product stays far below 2^53 (exact in both
    * engines' doubles); a 100 TB deployment where n_w·n_g approaches 2^63
    * would switch the numerator to DECIMAL(38,0) — the shape is unchanged.
    * The streaming aggregate is q45's watermarked tumbling count; drift is
    * computed on the drained result, so q140 is hash-checked against the
    * batch formula like every stream twin.
    */
  def q140StreamDrift: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val events = graft.Tables.events(s, d)
    val global = events.groupBy(col("event_type")).agg(count(lit(1)).as("c_g"))
    val ng = events.count()
    val windowed = runToBatch(
      eventsStream(s, d).withWatermark("ts2", "2 hours")
        .groupBy(window(col("ts2"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("c_w"))
        .select(col("window.start").cast("string").as("h"),
          col("event_type"), col("c_w")),
      "graft_q140")
    windowed.join(broadcast(global), Seq("event_type"))
      .withColumn("n_w", sum(col("c_w")).over(Window.partitionBy(col("h"))))
      .withColumn("term", abs(col("c_w") * lit(ng) - col("c_g") * col("n_w")))
      .groupBy(col("h"))
      .agg(max(col("n_w")).as("n_w"), count(lit(1)).as("n_types"),
        sum(col("term")).as("p_numer"), sum(col("c_g")).as("cg_present"))
      .select(col("h"), big(col("n_w")).as("n_events"),
        big(col("n_types")).as("n_types"),
        round((col("p_numer") + (lit(ng) - col("cg_present")) * col("n_w")).cast("double")
          / (col("n_w") * lit(ng)).cast("double"), 6).as("drift_l1"))
      .orderBy(col("h"))
  }

  /** Q175: STREAMING SCD2 — [[graft.operators.Events.scd2History]]
    * maintained incrementally. A user's validity intervals span
    * micro-batches, so the per-doc-complete trick of q152/q158 does NOT
    * apply; the correct incremental shape is delta-scoped rebuild: each
    * micro-batch (1) appends its slice to an accumulated event log
    * (idempotent `batch=<id>` overwrite), (2) rebuilds the FULL history of
    * exactly the users it touched from the log, (3) swaps those users'
    * partitions via dynamic partition overwrite — untouched users' history
    * files are never rewritten. A user's last-seen batch rebuilds from
    * their complete log, so the drained table equals the batch answer at
    * ANY trigger slicing — q175 shares q170's oracle verbatim (the q121
    * batch≡stream contract). The swap granularity is a USER BUCKET
    * (`pmod(user_id, 64)`), not a per-user directory: one dir per user
    * melts a filesystem at millions of users (and measured 4× slower even
    * at bench scale purely on tiny-file churn); a touched bucket rebuilds
    * ALL its users from the log-so-far, which stays correct because any
    * later event for a bucket's user re-touches that bucket. Per-batch
    * cost ∝ touched buckets' history; redelivery rewrites identical
    * content.
    */
  def q175StreamScd2: Q = (s, d) => {
    val ev = graft.Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts2"))
    drain("q175", ev.repartition(3, col("user_id"))) { tmp =>
      (batch, batchId) => {
        batch.write.mode("overwrite").parquet(s"$tmp/log/batch=$batchId")
        val log = s.read.parquet(s"$tmp/log").drop("batch")
          .withColumn("bucket", pmod(col("user_id"), lit(64L)))
        val touched = batch.select(pmod(col("user_id"), lit(64L)).as("bucket")).distinct()
        graft.operators.Events
          .scd2History(log.join(touched, Seq("bucket"), "left_semi"))
          .withColumn("bucket", pmod(col("user_id"), lit(64L)))
          // ONE file per touched bucket dir: without this the window
          // output arrives on 32 shuffle partitions, each holding rows
          // of ~all 64 buckets, so partitionBy fans out to ~32 files
          // per dir — up to 2 048 tiny file creates PER BATCH (the
          // round-8 per-user-dir churn lesson one level down; measured
          // 7.3 → 6.2 s on the full drain). The history rows are small;
          // one extra bucket-keyed exchange buys a 30× file-create cut.
          .repartition(64, col("bucket"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket").parquet(s"$tmp/hist")
      }
    } { tmp =>
      graft.Checkpoints.materialize(
        s.read.parquet(s"$tmp/hist")
          .select(col("user_id"), col("version"),
            col("event_type"), col("valid_from"), col("valid_to"))
          .orderBy(col("user_id"), col("version")))
    }
  }

  /** Q192: streaming incremental AUC — the mergeable-metric pattern: each
    * micro-batch reduces to its own `(score → n_pos, n_neg)` summary
    * ([[graft.operators.Evaluation.scoreSummary]]), written idempotently
    * under `batch=<id>`; summaries of disjoint batches MERGE by summing
    * counts per score, so the drained union re-aggregated per score is
    * exactly the batch summary and the final AUC
    * ([[graft.operators.Evaluation.aucFromSummary]]) equals q190's batch
    * answer at ANY trigger slicing — shared oracle, the q152 discipline.
    * Per-batch state is ∝ the batch's distinct scores; the standing state
    * lives as compact parquet summaries, never raw rows — the shape that
    * lets a 100 TB score stream keep an exact running AUC.
    */
  def q192StreamAuc: Q = (s, d) => {
    val rows = Tables.events(s, d).select(
      dec(col("value")).as("v"),
      (col("event_type") === "purchase").cast("int").as("y"))
    drain("q192", rows.repartition(3)) { tmp =>
      (batch, batchId) =>
        graft.operators.Evaluation.scoreSummary(batch)
          .write.mode("overwrite").parquet(s"$tmp/summaries/batch=$batchId")
    } { tmp =>
      val merged = s.read.parquet(s"$tmp/summaries")
        .groupBy(col("v"))
        .agg(sum(col("cp")).cast("long").as("cp"), sum(col("cn")).cast("long").as("cn"))
      graft.Checkpoints.materialize(
        graft.operators.Evaluation.aucFromSummary(merged))
    }
  }

  /** Q201: streaming CUSUM change-point — q192's mergeable-summary
    * pattern applied to the monitoring kernel: each micro-batch collapses
    * to its own `(event_type, hour, n)` counts (written idempotently per
    * batch), disjoint batches merge by summing `n`, and the drained merge
    * feeds [[graft.operators.Events.changepointFromHourly]] — so the
    * result equals q198's batch answer at any trigger slicing and shares
    * its oracle verbatim. Standing state ∝ distinct (type, hour) cells,
    * never rows.
    */
  def q201StreamChangepoint: Q = (s, d) => {
    val rows = Tables.events(s, d).select(
      col("event_type"),
      expr("CAST(ts2 AS LONG) div 3600").as("h"))
    drain("q201", rows.repartition(3)) { tmp =>
      (batch, batchId) =>
        batch.groupBy(col("event_type"), col("h"))
          .agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$tmp/summaries/batch=$batchId")
    } { tmp =>
      val merged = s.read.parquet(s"$tmp/summaries")
        .groupBy(col("event_type"), col("h"))
        .agg(sum(col("n")).cast("long").as("n"))
      graft.Checkpoints.materialize(
        graft.operators.Events.changepointFromHourly(merged))
    }
  }

  /** Q219: streaming top-k leaderboard — the continuously-updated "top
    * parts by quantity" board, built the mergeable way: each micro-batch
    * collapses to ITS OWN (part, qty-sum) summary written idempotently
    * under `batch=<id>`; disjoint batch summaries merge by addition, so
    * the drained board equals the batch aggregate at any trigger slicing
    * (exact, unlike a per-batch top-k-of-top-ks, which can drop a part
    * that is never locally top-k but globally is — the classic
    * distributed-top-k mistake this operator exists to avoid). Standing
    * state ∝ distinct parts, never rows; quantities are exact longs.
    */
  def q219StreamTopk: Q = (s, d) => {
    val rows = Tables(s, d, "lineitem").select(
      col("l_partkey"), col("l_quantity").cast("long").as("q"))
    drain("q219", rows.repartition(3)) { tmp =>
      (batch, batchId) =>
        batch.groupBy(col("l_partkey"))
          .agg(sum(col("q")).as("qty"))
          .write.mode("overwrite").parquet(s"$tmp/summaries/batch=$batchId")
    } { tmp =>
      graft.Checkpoints.materialize(
        s.read.parquet(s"$tmp/summaries")
          .groupBy(col("l_partkey"))
          .agg(sum(col("qty")).cast("long").as("total_qty"))
          .orderBy(col("total_qty").desc, col("l_partkey"))
          .limit(25))
    }
  }

  /** Q264: streaming k-anonymity audit — q254's privacy gate maintained as
    * customer records ARRIVE: each micro-batch joins the static nation
    * dimension, projects both generalization levels, and writes its
    * additive per-class counts to an idempotent `batch=<id>` summary
    * (mergeable state, the q219 pattern — class counts are pure sums, so
    * the drained merge equals the batch aggregate at ANY trigger slicing
    * and q264 shares q254's DuckDB oracle verbatim). The post-drain merge
    * folds summaries into final class sizes and applies the same
    * k ∈ {2, 5, 10} risk arithmetic.
    *
    * Scale shape: per-batch cost ∝ batch (one broadcast dim join + two
    * keyed counts); the standing state is one row per equivalence class,
    * bounded by the QI domain, never by rows.
    */
  def q264StreamKanonymity: Q = (s, d) => {
    val nat = Tables(s, d, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
    val cust = Tables(s, d, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        col("c_acctbal"))
    drain("q264", cust.repartition(3)) { tmp =>
      (batch, batchId) => {
        val base = batch
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_nationkey").cast("long").as("nk"),
            col("n_regionkey").cast("long").as("rk"), col("c_mktsegment"),
            floor(col("c_acctbal").cast("double") / lit(1000.0)).as("b1"),
            floor(col("c_acctbal").cast("double") / lit(5000.0)).as("b5"))
        val l0 = base.groupBy(col("nk"), col("c_mktsegment"), col("b1"))
          .agg(count(lit(1)).as("n"))
          .select(lit(0L).as("lvl"), col("nk").as("kA"),
            col("c_mktsegment").as("seg"), col("b1").as("band"), col("n"))
        val l1 = base.groupBy(col("rk"), col("c_mktsegment"), col("b5"))
          .agg(count(lit(1)).as("n"))
          .select(lit(1L).as("lvl"), col("rk").as("kA"),
            col("c_mktsegment").as("seg"), col("b5").as("band"), col("n"))
        l0.union(l1).write.mode("overwrite")
          .parquet(s"$tmp/summaries/batch=$batchId")
      }
    } { tmp =>
      val sizes = s.read.parquet(s"$tmp/summaries")
        .groupBy(col("lvl"), col("kA"), col("seg"), col("band"))
        .agg(sum(col("n")).as("sz"))
      graft.Checkpoints.materialize(
        sizes
          .withColumn("k", explode(array(lit(2L), lit(5L), lit(10L))))
          .groupBy(col("lvl"), col("k"))
          .agg(big(count(lit(1))).as("n_classes"),
            big(sum(when(col("sz") < col("k"), lit(1L)).otherwise(lit(0L))))
              .as("classes_below"),
            big(sum(when(col("sz") < col("k"), col("sz")).otherwise(lit(0L))))
              .as("rows_below"),
            big(sum(col("sz"))).as("n_rows"),
            round(sum(when(col("sz") < col("k"), col("sz")).otherwise(lit(0L)))
                .cast("double") / sum(col("sz")).cast("double"), 6)
              .as("risk_pct"))
          .orderBy(col("lvl"), col("k")))
    }
  }

  /** Q265: streaming Bollinger-band breakouts — q256's per-part rolling
    * band detection run as data arrives, exact under PART-COMPLETE feed
    * slicing: the feed is hash-partitioned by `l_partkey`, so every part's
    * whole price series lands in ONE micro-batch and the per-batch window
    * pass sees its full history (a part split across batches would score
    * against a truncated window — the slicing is the correctness
    * argument, stated and pinned). Each batch writes its additive brand
    * counts to an idempotent `batch=<id>` summary; the drained merge
    * derives the rate from merged counts and shares q256's DuckDB oracle
    * verbatim.
    *
    * Scale shape: per-batch cost is q256's window pass over that batch's
    * parts; the cross-batch state is the bounded per-brand count summary.
    * In a production keyed stream the same argument holds per partition —
    * a part never migrates between partitions, only between triggers,
    * which is exactly what `flatMapGroupsWithState` would otherwise
    * re-buffer.
    */
  def q265StreamBollinger: Q = (s, d) => {
    val li = Tables(s, d, "lineitem")
      .select(col("l_partkey"), col("l_extendedprice"), col("l_shipdate"),
        col("l_orderkey"), col("l_linenumber"))
    drain("q265", li.repartition(3, col("l_partkey"))) { tmp =>
      (batch, batchId) =>
        graft.operators.Events.bollingerScored(batch)
          .groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n_eval"),
            sum(when(col("up"), lit(1L)).otherwise(lit(0L))).as("n_up"),
            sum(when(col("down"), lit(1L)).otherwise(lit(0L))).as("n_down"))
          .write.mode("overwrite").parquet(s"$tmp/summaries/batch=$batchId")
    } { tmp =>
      val part = Tables(s, d, "part").select(col("p_partkey"), col("p_brand"))
      graft.Checkpoints.materialize(
        s.read.parquet(s"$tmp/summaries")
          .join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(big(sum(col("n_eval"))).as("evaluated"),
            big(sum(col("n_up"))).as("breakouts_up"),
            big(sum(col("n_down"))).as("breakouts_down"),
            round((sum(col("n_up")) + sum(col("n_down"))).cast("double")
              / sum(col("n_eval")).cast("double"), 6).as("breakout_rate"))
          .orderBy(col("p_brand")))
    }
  }

  /** Q295: streaming EMA momentum signals — q290's 20-row EMA breakout
    * screen run as data arrives, exact under the SAME part-complete feed
    * slicing argument as q265: the feed is hash-partitioned by
    * `l_partkey`, so every part's whole price series lands in one
    * micro-batch and the per-batch window pass sees its full history.
    * Each batch writes additive per-part (evaluated, signals) counts to
    * an idempotent `batch=<id>` summary; the drained merge derives the
    * brand rates from merged counts and shares q290's DuckDB oracle
    * verbatim.
    *
    * Scale shape: per-batch cost is q290's window pass over that batch's
    * parts; cross-batch state is the bounded per-part count summary.
    */
  def q295StreamEma: Q = (s, d) => {
    val li = Tables(s, d, "lineitem")
      .select(col("l_partkey"), col("l_extendedprice"), col("l_shipdate"),
        col("l_orderkey"), col("l_linenumber"))
    drain("q295", li.repartition(3, col("l_partkey"))) { tmp =>
      (batch, batchId) =>
        graft.operators.Events.emaScored(batch)
          .groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n_eval"),
            sum(when(col("sig"), lit(1L)).otherwise(lit(0L))).as("n_sig"))
          .write.mode("overwrite").parquet(s"$tmp/summaries/batch=$batchId")
    } { tmp =>
      val part = Tables(s, d, "part").select(col("p_partkey"), col("p_brand"))
      graft.Checkpoints.materialize(
        s.read.parquet(s"$tmp/summaries")
          .join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(big(sum(col("n_eval"))).as("evaluated"),
            big(sum(col("n_sig"))).as("signals"),
            round(sum(col("n_sig")).cast("double")
              / sum(col("n_eval")).cast("double"), 6).as("signal_rate"))
          .orderBy(col("p_brand")))
    }
  }

  /** Q300: streaming isotonic calibration — q296's PAV report maintained
    * as events arrive: the calibration RANGE [lo, hi] is fixed upfront
    * from the static relation (production fixes it by the score model, so
    * bin boundaries never move), each micro-batch reduces to its own
    * additive <=20-row (bin, n, k) counts written idempotently under
    * `batch=<id>`, and the post-drain merge feeds the SAME bounded minimax
    * tail — so q300 shares q296's DuckDB oracle verbatim at any trigger
    * slicing.
    *
    * Scale shape: per-batch cost is one <=20-group count over the batch;
    * standing state is the 20-row bin summary — bounded, never rows.
    */
  def q300StreamIsotonic: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("value"))
    val mm = graft.Checkpoints.materialize(
      ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi")))
    drain("q300", ev.repartition(3)) { tmp =>
      (batch, batchId) =>
        graft.operators.Stats.isotonicBins(batch, mm)
          .write.mode("overwrite").parquet(s"$tmp/summaries/batch=$batchId")
    } { tmp =>
      graft.Checkpoints.materialize(
        graft.operators.Stats.isotonicReport(
          s.read.parquet(s"$tmp/summaries")
            .groupBy(col("bin"))
            .agg(sum(col("n")).as("n"), sum(col("k")).as("k"))))
    }
  }

  /** Q303: streaming maxsim top-k serving — q299's late-interaction rerank
    * as candidates ARRIVE: probes are the fixed static 5-row broadcast;
    * each micro-batch scores ITS candidates and keeps its own per-probe
    * top-10 (a batch's kept set contains every global winner that batch
    * holds — top-k is merge-exact over set-partitioned input), written
    * idempotently under `batch=<id>`; the drained merge re-ranks the
    * <=10·batches-row union to the global top-10 and shares q299's oracle
    * verbatim.
    *
    * Scale shape: per-batch cost is the probe-broadcast scoring of that
    * batch; standing state is the bounded per-batch top-k summary.
    */
  def q303StreamMaxsim: Q = (s, d) => {
    graft.functions.VectorFunctions.register(s)
    val emb = Tables(s, d, "embeddings")
    val probes = graft.Checkpoints.materialize(
      emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("pid"),
          graft.operators.Similarity.asDouble(col("embedding")).as("pv")))
    val wB = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
      .orderBy(col("maxsim").desc, col("id"))
    drain("q303", emb.repartition(3)) { tmp =>
      (batch, batchId) =>
        graft.operators.Similarity.maxsimScored(
            batch.withColumn("ev",
              graft.operators.Similarity.asDouble(col("embedding"))),
            probes)
          .withColumn("rk", row_number().over(wB))
          .filter(col("rk") <= 10)
          .select(col("pid"), col("id"), col("maxsim"))
          .write.mode("overwrite").parquet(s"$tmp/summaries/batch=$batchId")
    } { tmp =>
      graft.Checkpoints.materialize(
        s.read.parquet(s"$tmp/summaries")
          .withColumn("rank", row_number().over(wB).cast("long"))
          .filter(col("rank") <= 10)
          .select(col("pid"), col("id"), col("maxsim"), col("rank"))
          .orderBy(col("pid"), col("rank")))
    }
  }

  /** Q307: streaming negative sampling — q298's contrastive draws served
    * as customers ARRIVE: the true-interaction set and the item-domain
    * size are standing static relations; each micro-batch draws its
    * customers' 8 MINSTD candidates, anti-joins the interactions, and
    * writes its negatives idempotently under `batch=<id>`. Customers
    * partition cleanly across batches (each row arrives once), so the
    * drained union IS q298's batch result and shares its oracle verbatim.
    *
    * Scale shape: per-batch cost is the batch's 8-way explode + one
    * anti-join against the standing interaction relation.
    */
  def q307StreamNegatives: Q = (s, d) => {
    val p = 2147483647L
    // the standing interaction relation shared with batch q298 (opt r14):
    // re-building it per run was ~2.5 s of this drain's fixed cost
    val inter = graft.operators.NorthStar.custItemInteractions(s, d)
    val np = graft.Checkpoints.materialize(
      Tables(s, d, "part").agg(max(col("p_partkey")).as("np")))
    val cust = Tables(s, d, "customer").select(col("c_custkey").as("custkey"))
    drain("q307", cust.repartition(3)) { tmp =>
      (batch, batchId) =>
        batch.crossJoin(broadcast(np))
          .select(col("custkey"),
            explode(sequence(lit(1L), lit(8L))).as("slot"), col("np"))
          .withColumn("h1",
            pmod(pmod(col("custkey") * 8L + col("slot"), lit(p)) * 48271L, lit(p)))
          .withColumn("item",
            pmod(pmod((col("h1") + 1L) * 16807L, lit(p)), col("np")) + 1L)
          .join(inter, Seq("custkey", "item"), "left_anti")
          .select(col("custkey"), col("slot"), col("item"))
          .write.mode("overwrite").parquet(s"$tmp/negatives/batch=$batchId")
    } { tmp =>
      graft.Checkpoints.materialize(
        s.read.parquet(s"$tmp/negatives")
          .select(col("custkey"), big(col("slot")).as("slot"),
            big(col("item")).as("item"))
          .orderBy(col("custkey"), col("slot")))
    }
  }

  /** Q284: streaming Benford audit — q204's first-digit fraud monitor
    * maintained as order amounts ARRIVE: each micro-batch reduces to ITS
    * OWN additive (digit, n) counts written idempotently under
    * `batch=<id>` (the q219/q264 mergeable-summary pattern — digit counts
    * are pure sums, so the drained merge equals the batch aggregate at ANY
    * trigger slicing), and the post-drain merge feeds
    * [[graft.operators.Stats.benfordReport]] — the identical
    * share/expected/delta arithmetic, so q284 shares q204's DuckDB oracle
    * verbatim.
    *
    * Scale shape: per-batch cost is one ≤9-group count over the batch; the
    * standing state is the 9-row digit summary — bounded, never rows.
    */
  def q284StreamBenford: Q = (s, d) => {
    val ord = Tables(s, d, "orders").select(col("o_totalprice"))
    val cents = (graft.Dsl.dec(col("o_totalprice")) * 100).cast("long")
    drain("q284", ord.repartition(3)) { tmp =>
      (batch, batchId) =>
        batch
          .select(cents.as("cents"))
          .select(substring(expr("CAST(cents div 100 AS STRING)"), 1, 1)
            .as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$tmp/summaries/batch=$batchId")
    } { tmp =>
      graft.Checkpoints.materialize(
        graft.operators.Stats.benfordReport(
          s.read.parquet(s"$tmp/summaries")
            .groupBy(col("digit")).agg(sum(col("n")).cast("long").as("n"))))
    }
  }

  /** Q288: streaming strict-funnel twin — q252's consecutive
    * view→click→purchase detection over a micro-batched feed. The batch
    * kernel needs each user's FULL ordered history (a lag-2 window), so
    * the feed is sliced user-complete instead of time-sliced: the events
    * relation is hash-partitioned by user_id into 3 files, each micro-batch
    * (maxFilesPerTrigger=1) carries a disjoint user cohort's complete
    * history, the shared [[graft.operators.Events.strictFunnelPerUser]]
    * kernel runs per batch, and per-user rows merge by plain union
    * (disjoint users — no cross-batch state at all). The bottom-line
    * converting-user count attaches at drain as q252's 1-row broadcast.
    * Shares q252's oracle verbatim — the cohort slicing must be invisible
    * in the drained result. Per-batch writes are idempotent
    * (`batch=<id>` overwrite), the same recovery contract as q284/q152.
    *
    * At scale: this is the backfill shape for user-grain sessionized
    * analytics — cohort-partitioned replay keeps per-batch state bounded
    * by the cohort, not the corpus, and needs no watermark because no
    * batch ever waits on another's users.
    */
  def q288StreamFunnel: Q = (s, d) => {
    val evs = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts2"))
    drain("q288", evs.repartition(3, col("user_id"))) { tmp =>
      (batch, batchId) =>
        graft.operators.Events.strictFunnelPerUser(batch)
          .write.mode("overwrite").parquet(s"$tmp/per_user/batch=$batchId")
    } { tmp =>
      val perUser = s.read.parquet(s"$tmp/per_user")
      graft.Checkpoints.materialize(
        perUser
          .crossJoin(broadcast(perUser.agg(count(lit(1)).as("n_users"))))
          .select(col("user_id"), col("n_completions"),
            big(col("first_completion_es")).as("first_completion_es"),
            big(col("n_users")).as("n_converting_users"))
          .orderBy(col("user_id")))
    }
  }

  /** Q320: streaming inter-rater-agreement twin — q315's Cohen's kappa
    * folded over a micro-batched document feed. Per batch, the two
    * deterministic raters label the batch's documents and the 3×3-per-
    * source confusion COUNTS land in an idempotent `batch=<id>` overwrite
    * sink; at drain the per-cell counts merge by plain sum (disjoint rows
    * → additive cells, exactly mergeable at ANY trigger slicing) and the
    * all-integer kappa kernel runs once on the merged state. Shares
    * q315's oracle verbatim — the batching must be invisible.
    *
    * At scale: this is the label-pipeline-drift monitor shape — per-batch
    * state is sources × 9 integers, the merge is a keyed sum, and the
    * final kernel never touches row-level data.
    */
  def q320StreamKappa: Q = (s, d) => {
    val docs = graft.Tables(s, d, "documents")
      .select(col("source"), col("text"), col("n_chars"))
    drain("q320", docs.repartition(3)) { tmp =>
      (batch, batchId) =>
        graft.operators.Evaluation.raterLabels(batch)
          .groupBy(col("source"), col("la"), col("lb"))
          .agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$tmp/summaries/batch=$batchId")
    } { tmp =>
      graft.Checkpoints.materialize(
        graft.operators.Evaluation.kappaFromConfusion(
          s.read.parquet(s"$tmp/summaries")
            .groupBy(col("source"), col("la"), col("lb"))
            .agg(sum(col("n")).cast("long").as("n"))))
    }
  }

  /** Q326: streaming functional-dependency monitor — q319's g3 audit for
    * the two ORDERS candidates (o_orderkey→o_orderstatus, the key check;
    * o_custkey→o_orderpriority, the behavioral one) folded over a
    * micro-batched orders feed: per batch, per-pair (A, B) COUNTS land in
    * an idempotent `batch=<id>` sink (value-domain-bounded mergeable
    * state — q320's confusion-cell argument applied to the data-contract
    * check); at drain the cells re-sum and the exact g3 kernel runs once.
    * The oracle is the q319 generator over the same two pairs — the
    * batching must be invisible.
    *
    * At scale: this is the continuous data-contract shape — per-batch
    * state is distinct (A, B) pairs, the merge is a keyed sum, and a key
    * violation (duplicate o_orderkey across batches) is only detectable
    * with exactly this cross-batch merged state.
    */
  def q326StreamFd: Q = (s, d) => {
    val ord = graft.Tables(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_orderpriority"))
    val pairs = Seq(
      ("o_orderkey", "o_orderstatus"), ("o_custkey", "o_orderpriority"))
    drain("q326", ord.repartition(3)) { tmp =>
      (batch, batchId) =>
        pairs.map { case (a, b) =>
          batch
            .select(lit(a).as("det"), col(a).cast("string").as("A"),
              col(b).cast("string").as("B"))
            .groupBy(col("det"), col("A"), col("B"))
            .agg(count(lit(1)).as("c"))
        }.reduce(_.unionByName(_))
          .write.mode("overwrite").parquet(s"$tmp/summaries/batch=$batchId")
    } { tmp =>
      val merged = s.read.parquet(s"$tmp/summaries")
        .groupBy(col("det"), col("A"), col("B"))
        .agg(sum(col("c")).as("c"))
      graft.Checkpoints.materialize(
        pairs.map { case (a, b) =>
          graft.operators.Stats.fdFromPairCounts(
            merged.filter(col("det") === a).select(col("A"), col("B"), col("c")),
            "orders", a, b)
        }.reduce(_.unionByName(_))
          .orderBy(col("rel"), col("determinant"), col("dependent")))
    }
  }

  /** Q329: streaming sample-ratio-mismatch monitor — q323's SRM audit
    * folded over a micro-batched orders feed: per batch, the three arm
    * counts (n, even-bucket, sub-9000-bucket) land in an idempotent
    * `batch=<id>` sink; at drain they merge by plain sum and the exact
    * integer chi-square report runs once. Shares q323's oracle verbatim.
    * The live experiment-health check: assignment skew is only visible
    * from exactly this accumulated state, and catching it mid-flight is
    * the whole point of SRM.
    */
  def q329StreamSrm: Q = (s, d) => {
    val bk = graft.operators.TrainingOps.portableBucket(col("o_orderkey"))
    val ord = graft.Tables(s, d, "orders").select(col("o_orderkey"))
    drain("q329", ord.repartition(3)) { tmp =>
      (batch, batchId) =>
        batch.select(bk.as("bk"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("bk") % 2 === 0, 1L).otherwise(0L)).as("even"),
            sum(when(col("bk") < 9000, 1L).otherwise(0L)).as("big"))
          .write.mode("overwrite").parquet(s"$tmp/summaries/batch=$batchId")
    } { tmp =>
      graft.Checkpoints.materialize(
        graft.operators.Stats.srmReport(
          s.read.parquet(s"$tmp/summaries").agg(
            sum(col("n")).cast("long").as("n"),
            sum(col("even")).cast("long").as("even"),
            sum(col("big")).cast("long").as("big"))))
    }
  }

  /** Q337: streaming PSI monitor — q333's population-stability index
    * folded over a micro-batched events feed. The baseline/current time
    * midpoint is fixed FIRST from the static relation (monitoring always
    * measures against a declared baseline window); per batch, the
    * (bin × half) counts land in an idempotent `batch=<id>` sink and
    * merge by per-cell sum at drain, where the exact q333 report (with
    * its Laplace smoothing and 6-dp log contributions) runs once. Shares
    * q333's oracle verbatim — the slicing must be invisible. The shape a
    * score-drift pager actually runs: per-batch state is ≤10 bins × 2
    * integers.
    */
  def q337StreamPsi: Q = (s, d) => {
    val ev = graft.Tables.events(s, d)
      .select(graft.Dsl.epochSec(col("ts2")).as("t"),
        graft.Dsl.dec(col("value")).as("v"))
    val mid = ev.agg(expr("(MIN(t) + MAX(t)) div 2").as("mid"))
      .head().getLong(0)
    drain("q337", ev.repartition(3))(tmp => q337Writer(mid, s"$tmp/summaries"))(tmp =>
      q337Drain(s, s"$tmp/summaries"))
  }

  /** q337's per-batch summary writer: per-bin (baseline, current) counts
    * under `batch=<id>` ([[drain]]'s sink contract). Named (not inline) so
    * the restart spec drives the exact shipping writer through a
    * checkpointed stop/start.
    */
  private[graft] def q337Writer(mid: Long, sumDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      batch
        .select(least(lit(9L), expr("CAST(v * 100 AS BIGINT) div 3300"))
          .as("bin"), (col("t") >= lit(mid)).as("cur"))
        .groupBy(col("bin"))
        .agg(sum(when(!col("cur"), 1L).otherwise(0L)).as("nb"),
          sum(when(col("cur"), 1L).otherwise(0L)).as("nc"))
        .write.mode("overwrite").parquet(s"$sumDir/batch=$batchId")

  /** q337's drain: merge the additive per-batch cells (any slicing sums to
    * the same totals) and run the shared PSI kernel once.
    */
  private[graft] def q337Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.Checkpoints.materialize(
      graft.operators.Stats.psiReport(
        s.read.parquet(sumDir)
          .groupBy(col("bin"))
          .agg(sum(col("nb")).cast("long").as("nb"),
            sum(col("nc")).cast("long").as("nc"))))

  /** Q348: streaming Mann–Kendall monitor — q342's trend test fed by a
    * micro-batched event stream: per batch the (type × hour) counts land
    * in an idempotent `batch=<id>` sink (hourly cells merge by plain sum
    * at ANY slicing), and the drain runs the exact pairwise S / tie-
    * corrected variance once over the merged summary. Shares q342's
    * oracle verbatim. The live "is traffic drifting up?" pager shape —
    * the pair join only ever sees the bounded hourly collapse, never the
    * stream.
    */
  def q348StreamMannKendall: Q = (s, d) => {
    val ev = graft.Tables.events(s, d)
      .select(col("event_type"), expr("CAST(ts2 AS LONG) div 3600").as("h"))
    // the (type, h) count cells q376 ships
    drain("q348", ev.repartition(3))(tmp => q376Writer(s"$tmp/summaries")) { tmp =>
      graft.Checkpoints.materialize(
        graft.operators.Stats.mkReport(
          s.read.parquet(s"$tmp/summaries")
            .groupBy(col("event_type"), col("h"))
            .agg(sum(col("c")).cast("long").as("c"))))
    }
  }

  /** Q354: streaming permutation-test monitor — q346's 32-permutation
    * significance check folded over a micro-batched event feed: each
    * batch contributes per-rep (count, exact decimal sum) cells for both
    * pseudo-arms plus the observed-arm cells, all additively mergeable
    * at any slicing; the drain re-sums and runs the shared
    * permutationReport kernel once. Shares q346's oracle verbatim. The
    * always-on "is the arm gap beyond permutation noise yet?" readout —
    * per-batch state is 32×4 + 2×2 numbers.
    */
  def q354StreamPermutation: Q = (s, d) => {
    val ev = graft.Tables.events(s, d)
      .select(col("event_id"), graft.Dsl.dec(col("value")).as("v"))
    drain("q354", ev.repartition(3))(tmp => q354Writer(s"$tmp/perm", s"$tmp/obs"))(
      tmp => q354Drain(s, s"$tmp/perm", s"$tmp/obs"))
  }

  /** q354's per-batch writer: per-rep pseudo-arm cells + observed-arm cells,
    * each batch in its own `batch=<id>` dir ([[drain]]'s sink contract).
    * Named so the restart spec can drive the shipping writer through a
    * checkpointed stop/start.
    */
  private[graft] def q354Writer(permDir: String, obsDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) => {
      val p = 2147483647L
      // fan the 32× rep grid out of the single batch-file split (the
      // q346 batch-side fix applied to the micro-batch kernel, opt r14)
      val b = batch.repartition(
        batch.sparkSession.sparkContext.defaultParallelism, col("event_id"))
      val reps = b.sparkSession.range(1L, 33L).toDF("rep")
      val permArm = pmod((pmod(pmod(col("event_id") + col("rep"),
        lit(p)) * 48271L, lit(p)) + 1L) * 16807L, lit(p)) % 2 === 0
      b.crossJoin(broadcast(reps))
        .select(col("rep"), permArm.as("a"), col("v"))
        .groupBy(col("rep"))
        .agg(sum(when(col("a"), 1L).otherwise(0L)).cast("long").as("pna"),
          sum(when(col("a"), col("v"))).as("psva"),
          sum(when(!col("a"), 1L).otherwise(0L)).cast("long").as("pnb"),
          sum(when(!col("a"), col("v"))).as("psvb"))
        .write.mode("overwrite").parquet(s"$permDir/batch=$batchId")
      b.select((graft.operators.TrainingOps
        .portableBucket(col("event_id")) % 2 === 0).as("a"), col("v"))
        .groupBy(col("a"))
        .agg(count(lit(1)).cast("long").as("n"), sum(col("v")).as("sv"))
        .write.mode("overwrite").parquet(s"$obsDir/batch=$batchId")
    }

  /** q354's drain: re-sum the mergeable cells and run the shared
    * permutation kernel once.
    */
  private[graft] def q354Drain(s: SparkSession, permDir: String,
                               obsDir: String): DataFrame = {
    val perm = s.read.parquet(permDir)
      .groupBy(col("rep"))
      .agg(sum(col("pna")).cast("long").as("pna"),
        sum(col("psva")).cast(org.apache.spark.sql.types.DecimalType(28, 4))
          .as("psva"),
        sum(col("pnb")).cast("long").as("pnb"),
        sum(col("psvb")).cast(org.apache.spark.sql.types.DecimalType(28, 4))
          .as("psvb"))
    val obs = s.read.parquet(obsDir)
      .groupBy(col("a"))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("sv")).cast(org.apache.spark.sql.types.DecimalType(28, 4))
          .as("sv"))
    graft.Checkpoints.materialize(
      graft.operators.Stats.permutationReport(perm, obs))
  }

  /** Q375: streaming Wasserstein drift monitor — q363's W₁ earth-mover
    * distance fed by a micro-batched event stream: each batch lands its
    * per-cent (baseline, current) counts in an idempotent `batch=<id>`
    * sink (cent cells merge by plain sum at ANY slicing), and the drain
    * runs the exact integer W₁ kernel once over the merged support.
    * Shares q363's oracle verbatim. The live "how FAR has the value
    * distribution moved?" pager — per-batch state is one bounded
    * cent-histogram, never rows.
    */
  def q375StreamWasserstein: Q = (s, d) => {
    val ev = graft.Tables.events(s, d)
      .select(graft.Dsl.epochSec(col("ts2")).as("ts"),
        (graft.Dsl.dec(col("value")) * 100).cast("long").as("c"))
    val mid = ev.agg(expr("(MIN(ts) + MAX(ts)) div 2")).head().getLong(0)
    drain("q375", ev.repartition(3))(tmp => q375Writer(mid, s"$tmp/summaries"))(tmp =>
      q375Drain(s, s"$tmp/summaries"))
  }

  /** q375's per-batch writer ([[drain]]'s sink contract). */
  private[graft] def q375Writer(mid: Long, sumDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      batch
        .groupBy(col("c"))
        .agg(sum(when(col("ts") < mid, 1L).otherwise(0L)).as("c1"),
          sum(when(col("ts") >= mid, 1L).otherwise(0L)).as("c2"))
        .write.mode("overwrite").parquet(s"$sumDir/batch=$batchId")

  /** q375's drain: merge the additive cent cells, run the W₁ kernel once. */
  private[graft] def q375Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.Checkpoints.materialize(
      graft.operators.Stats.wassersteinReport(
        s.read.parquet(sumDir)
          .groupBy(col("c"))
          .agg(sum(col("c1")).cast("long").as("c1"),
            sum(col("c2")).cast("long").as("c2"))))

  /** Q465: streaming energy-distance drift monitor — q452's
    * shape-sensitive two-sample statistic fed by a micro-batched event
    * stream: each batch lands its per-cent (first-half, second-half)
    * counts in an idempotent `batch=<id>` sink (cent cells merge by
    * plain sum at ANY slicing — q375's mergeable-summary argument), and
    * the drain runs the exact integer energy kernel once over the merged
    * support. Shares q452's oracle verbatim. Complements q375's W₁
    * pager: W₁ sees how far mass moved, energy also sees spread/shape.
    */
  def q465StreamEnergy: Q = (s, d) => {
    val ev = graft.Tables.events(s, d)
      .select(graft.Dsl.epochSec(col("ts2")).as("ts"),
        (graft.Dsl.dec(col("value")) * 100).cast("long").as("c"))
    val mid = ev.agg(expr("(MIN(ts) + MAX(ts)) div 2")).head().getLong(0)
    drain("q465", ev.repartition(3))(tmp => q375Writer(mid, s"$tmp/summaries"))(tmp =>
      q465Drain(s, s"$tmp/summaries"))
  }

  /** q465's drain: merge the additive cent cells, run q452's exact energy
    * kernel once (factored for the restart spec harness).
    */
  private[graft] def q465Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.Checkpoints.materialize(
      graft.operators.Stats.energyReport(
        s.read.parquet(sumDir)
          .groupBy(col("c"))
          .agg(sum(col("c1")).cast("long").as("c1"),
            sum(col("c2")).cast("long").as("c2"))))

  /** Q469: streaming t-closeness monitor — q466's privacy audit fed by a
    * micro-batched customer stream: each batch lands its
    * (nation, segment, balance-bucket) counts in an idempotent
    * `batch=<id>` sink (class×bucket cells merge by plain sum at ANY
    * slicing), and the drain runs q466's exact cleared-integer EMD
    * kernel once over the merged cells. Shares q466's oracle verbatim.
    * The always-on "is any release class drifting out of t-closeness as
    * records arrive?" gate a privacy pipeline runs before publishing.
    */
  def q469StreamTCloseness: Q = (s, d) => {
    val base = graft.Tables(s, d, "customer")
      .select(col("c_nationkey").cast("long").as("nk"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal").cast("double") / lit(1000.0)).cast("long").as("b"))
    drain("q469", base.repartition(3))(tmp => q469Writer(s"$tmp/summaries"))(tmp =>
      q469Drain(s, s"$tmp/summaries"))
  }

  /** q469's per-batch writer ([[drain]]'s sink contract). */
  private[graft] def q469Writer(sumDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      batch
        .groupBy(col("nk"), col("seg"), col("b"))
        .agg(count(lit(1)).as("cb"))
        .write.mode("overwrite").parquet(s"$sumDir/batch=$batchId")

  /** q469's drain: merge the additive class×bucket cells, run q466's
    * kernel once.
    */
  private[graft] def q469Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.Checkpoints.materialize(
      graft.operators.Stats.tClosenessReport(
        s.read.parquet(sumDir)
          .groupBy(col("nk"), col("seg"), col("b"))
          .agg(sum(col("cb")).as("cb"))))

  /** Q477: streaming spectral-entropy monitor — q471's "how periodic is
    * this signal" readout fed by a micro-batched stream: per batch the
    * (type × hour) counts land in an idempotent `batch=<id>` sink (the
    * SAME mergeable hourly cells q376 ships), and the drain runs q471's
    * periodogram + entropy kernels once over the merged summary. Shares
    * q471's oracle verbatim. The always-on "did the traffic lose its
    * daily cycle?" pager (a flattening spectrum = rising H_norm is an
    * incident signature volume monitors miss).
    */
  def q477StreamSpectralEntropy: Q = (s, d) => {
    val ev = graft.Tables.events(s, d)
      .select(col("event_type"), expr("CAST(ts2 AS LONG) div 3600").as("h"))
    drain("q477", ev.repartition(3))(tmp => q376Writer(s"$tmp/summaries"))(tmp =>
      q477Drain(s, s"$tmp/summaries"))
  }

  /** q477's drain: merge hourly cells, run q471's spectral kernel once. */
  private[graft] def q477Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.Checkpoints.materialize(
      graft.operators.Events.spectralEntropyReport(
        graft.operators.Events.periodogramPowersFrom(
          s.read.parquet(sumDir)
            .groupBy(col("event_type"), col("h"))
            .agg(sum(col("c")).as("c")))))

  /** Q484: streaming GMM monitor — q481's deterministic 2-component EM
    * fed by a micro-batched value stream: per batch the cent-count cells
    * land in an idempotent `batch=<id>` sink (they merge by plain sum at
    * ANY slicing — the q375 argument), and the drain runs q481's exact
    * 5-iteration fixpoint once over the merged support. Shares q481's
    * oracle verbatim. The live "has the value MIXTURE changed — new
    * component, drifted means, collapsed separation?" readout a
    * bin-histogram monitor can't give.
    */
  def q484StreamGmm: Q = (s, d) => {
    val ev = graft.Tables.events(s, d)
      .select((graft.Dsl.dec(col("value")) * 100).cast("long").as("c"))
    drain("q484", ev.repartition(3))(tmp => q484Writer(s"$tmp/summaries"))(tmp =>
      q484Drain(s, s"$tmp/summaries"))
  }

  /** q484's per-batch writer ([[drain]]'s sink contract). */
  private[graft] def q484Writer(sumDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      batch
        .groupBy(col("c")).agg(count(lit(1)).as("t"))
        .write.mode("overwrite").parquet(s"$sumDir/batch=$batchId")

  /** q484's drain: merge the additive cent cells, run q481's EM once. */
  private[graft] def q484Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.Checkpoints.materialize(
      graft.operators.Stats.gmmReport(
        graft.Checkpoints.materialize(
          s.read.parquet(sumDir)
            .groupBy(col("c"))
            .agg(sum(col("t")).as("t")))))

  /** Q498: streaming CUSUM alarm chart — q490's sequential drift
    * detector fed by the SAME merged daily-revenue cells as q437/q441
    * (SAME writer, SAME session-cached feed; only the drain kernel
    * differs), hash-checked against q490's own oracle. The always-on
    * "has the revenue level persistently shifted?" pager — the
    * prefix-min identity means the drain is two ordered windows over
    * the merged grid, no sequential state in the stream itself.
    */
  def q498StreamCusum: Q = (s, d) => {
    val ord = Tables(s, d, "orders")
      .select(datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
        .cast("long").as("x"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("p"))
    drain("q498", ord.repartition(3))(tmp => q437Writer(s"$tmp/summaries"))(tmp =>
      graft.Checkpoints.materialize(q498Drain(s, s"$tmp/summaries")))
  }

  /** q498's drain: merge day cells additively, run q490's CUSUM kernel. */
  private[graft] def q498Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.operators.Stats.cusumReport(
      s.read.parquet(sumDir).groupBy(col("x"))
        .agg((sum(col("r")).cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * 100).cast("long").as("c")))

  /** Q499: streaming matrix-profile discord monitor — q487's
    * shape-anomaly readout over the same merged daily cells (q437's
    * writer and feed again; only the drain differs), hash-checked
    * against q487's own oracle. The live "did an unprecedented WEEK
    * shape just complete?" signal a pointwise monitor can't give.
    */
  def q499StreamMatrixProfile: Q = (s, d) => {
    val ord = Tables(s, d, "orders")
      .select(datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
        .cast("long").as("x"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("p"))
    drain("q499", ord.repartition(3))(tmp => q437Writer(s"$tmp/summaries"))(tmp =>
      graft.Checkpoints.materialize(q499Drain(s, s"$tmp/summaries")))
  }

  /** q499's drain: merge day cells, run q487's profile kernel once. */
  private[graft] def q499Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.operators.Stats.matrixProfileReport(
      s.read.parquet(sumDir).groupBy(col("x"))
        .agg(floor(sum(col("r")).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("long").as("c")))

  /** Q500: streaming Granger-causality monitor — q494's lead/lag
    * readout fed by (day, revenue, order-count) cells; counts ride the
    * same additive merge, so the writer extends q437's with a COUNT
    * column. Hash-checked against q494's own oracle. The live "is order
    * VOLUME still leading revenue?" health check for the forecasting
    * feature pipeline.
    */
  def q500StreamGranger: Q = (s, d) => {
    val ord = Tables(s, d, "orders")
      .select(datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
        .cast("long").as("x"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("p"))
    drain("q500", ord.repartition(3))(tmp => q500Writer(s"$tmp/summaries"))(tmp =>
      graft.Checkpoints.materialize(q500Drain(s, s"$tmp/summaries")))
  }

  /** q500's per-batch writer: q437's day cells plus the order count. */
  private[graft] def q500Writer(sumDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      batch.groupBy(col("x"))
        .agg(sum(col("p")).as("r"), count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(s"$sumDir/batch=$batchId")

  /** q500's drain: merge (revenue, count) day cells, run q494's OLS. */
  private[graft] def q500Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.operators.Stats.grangerReport(
      s.read.parquet(sumDir).groupBy(col("x"))
        .agg((sum(col("r")).cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * 100).cast("long").as("rc"),
          sum(col("cnt")).cast("long").as("cnt"))
        .select(col("x"), expr("rc DIV 100000").as("r"), col("cnt")))

  /** Q376: streaming EWMA control chart — q368's drift-sensitive monitor
    * fed by a micro-batched stream: per batch the (type × hour) counts
    * land in an idempotent `batch=<id>` sink (q348's mergeable hourly
    * cells), and the drain runs the closed-form EWMA + 3σ limits once
    * over the merged summary. Shares q368's oracle verbatim. The
    * always-on "is volume drifting beyond its smoothed band?" readout.
    */
  def q376StreamEwma: Q = (s, d) => {
    val ev = graft.Tables.events(s, d)
      .select(col("event_type"), expr("CAST(ts2 AS LONG) div 3600").as("h"))
    drain("q376", ev.repartition(3))(tmp => q376Writer(s"$tmp/summaries"))(tmp =>
      q376Drain(s, s"$tmp/summaries"))
  }

  /** q376's per-batch writer: (type, hour) count cells, also q348's,
    * q390's and q477's.
    */
  private[graft] def q376Writer(sumDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      batch
        .groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("c"))
        .write.mode("overwrite").parquet(s"$sumDir/batch=$batchId")

  /** q376's drain: merge hourly cells, run the EWMA kernel once. */
  private[graft] def q376Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.Checkpoints.materialize(
      graft.operators.Events.ewmaReport(
        s.read.parquet(sumDir)
          .groupBy(col("event_type"), col("h"))
          .agg(sum(col("c")).cast("long").as("c"))))

  /** Q390: streaming runs-test monitor — q383's Wald–Wolfowitz randomness
    * check fed by a micro-batched stream: per batch the (type × hour)
    * counts land in an idempotent `batch=<id>` sink (q348's mergeable
    * hourly cells), and the drain runs the exact median-dichotomy + runs
    * arithmetic once over the merged summary. Shares q383's oracle
    * verbatim. The live "has volume stopped looking random (regime
    * change)?" pager.
    */
  def q390StreamRuns: Q = (s, d) => {
    val ev = graft.Tables.events(s, d)
      .select(col("event_type"), expr("CAST(ts2 AS LONG) div 3600").as("h"))
    // same (type, h) count cells as q376
    drain("q390", ev.repartition(3))(tmp => q376Writer(s"$tmp/summaries")) { tmp =>
      graft.Checkpoints.materialize(
        graft.operators.Events.runsReport(
          s.read.parquet(s"$tmp/summaries")
            .groupBy(col("event_type"), col("h"))
            .agg(sum(col("c")).cast("long").as("c"))))
    }
  }

  /** Q417: streaming Page–Hinkley drift monitor — q400's sequential
    * change-of-mean detector fed by the micro-batch stream: each batch
    * reduces to additive (day, count, exact decimal value-sum) cells, the
    * drain merges cells, and [[graft.operators.Stats.pageHinkleyKernel]]
    * (the EXACT q400 kernel) runs once on the merged day grid — so the
    * streaming answer is hash-checked against q400's own DuckDB oracle.
    * The state a 100 TB deployment keeps is one bounded cell per
    * (calendar day), not events.
    */
  def q417StreamPageHinkley: Q = (s, d) => {
    val ev = graft.Tables.events(s, d)
      .select(datediff(col("ts2").cast("date"), lit("2024-01-01").cast("date"))
        .cast("long").as("x"), col("value"))
    drain("q417", ev.repartition(3))(tmp => q417Writer(s"$tmp/summaries"))(tmp =>
      graft.Checkpoints.materialize(q417Drain(s, s"$tmp/summaries")))
  }

  /** q417's per-batch writer: one additive (day, count, exact value-sum)
    * cell relation per micro-batch under an idempotent `batch=<id>` sink.
    */
  private[graft] def q417Writer(sumDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      batch.groupBy(col("x"))
        .agg(count(lit(1)).as("c"), sum(dec(col("value"))).as("sv"))
        .write.mode("overwrite").parquet(s"$sumDir/batch=$batchId")

  /** q417's drain: merge day cells additively, run q400's PH kernel once. */
  private[graft] def q417Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.operators.Stats.pageHinkleyKernel(
      s.read.parquet(sumDir).groupBy(col("x"))
        .agg(sum(col("c")).cast("long").as("cnt"),
          sum(col("sv")).cast(org.apache.spark.sql.types.DecimalType(28, 4))
            .as("sv")))

  /** Q418: streaming corpus-mix drift — q402's pairwise Jensen–Shannon
    * divergence matrix maintained over a document stream: per batch one
    * additive (source, token, count) cell relation, merged at the drain,
    * then [[graft.operators.Text.jsDivergenceKernel]] (the EXACT q402
    * kernel) — hash-checked against q402's own oracle. The live view a
    * data-mixing pipeline watches to see whether today's ingest changed
    * the inter-source distances; state is |sources|×|vocab| cells.
    */
  def q418StreamJsDrift: Q = (s, d) => {
    val docs = Tables(s, d, "documents").select(col("source"), col("text"))
    drain("q418", docs.repartition(3))(tmp => q418Writer(s"$tmp/summaries"))(tmp =>
      graft.Checkpoints.materialize(q418Drain(s, s"$tmp/summaries")))
  }

  /** q418's per-batch writer: additive (source, token, count) cells. */
  private[graft] def q418Writer(sumDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) => {
      val toksW = filter(split(col("text"), " "), t => t =!= "")
      batch.select(col("source"), explode(toksW).as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .write.mode("overwrite").parquet(s"$sumDir/batch=$batchId")
    }

  /** q418's drain: merge token cells additively, run q402's JS kernel once. */
  private[graft] def q418Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.operators.Text.jsDivergenceKernel(
      s.read.parquet(sumDir).groupBy(col("source"), col("tok"))
        .agg(sum(col("c")).cast("long").as("cnt")))

  /** Q434: streaming Spearman monitor — q424's rank correlation between
    * daily click and purchase counts maintained over the micro-batch
    * stream: per batch one additive (day, click-count, purchase-count)
    * cell relation, merged at the drain, then
    * [[graft.operators.Stats.spearmanKernel]] (the EXACT q424 kernel) —
    * hash-checked against q424's own oracle. State is one cell per
    * calendar day.
    */
  def q434StreamSpearman: Q = (s, d) => {
    val ev = graft.Tables.events(s, d)
      .select(datediff(col("ts2").cast("date"), lit("2024-01-01").cast("date"))
        .cast("long").as("x"), col("event_type"))
    drain("q434", ev.repartition(3))(tmp => q434Writer(s"$tmp/summaries"))(tmp =>
      graft.Checkpoints.materialize(q434Drain(s, s"$tmp/summaries")))
  }

  /** q434's per-batch writer: additive (day, clicks, purchases) cells. */
  private[graft] def q434Writer(sumDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      batch.groupBy(col("x"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("b"))
        .write.mode("overwrite").parquet(s"$sumDir/batch=$batchId")

  /** q434's drain: merge day cells additively, run q424's kernel once. */
  private[graft] def q434Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.operators.Stats.spearmanKernel(
      s.read.parquet(sumDir).groupBy(col("x"))
        .agg(sum(col("a")).as("a"), sum(col("b")).as("b")))

  /** Q437: streaming Ljung–Box white-noise monitor — q393's portmanteau
    * test maintained over an orders micro-batch stream: per batch one
    * additive (day, exact decimal revenue-sum) cell relation, merged at
    * the drain, then [[graft.operators.Stats.ljungBoxKernel]] (the EXACT
    * q393 kernel) — hash-checked against q393's own oracle. The live
    * guard a forecasting pipeline runs before trusting i.i.d.-based
    * intervals; state is one cell per calendar day.
    */
  def q437StreamLjungBox: Q = (s, d) => {
    val ord = Tables(s, d, "orders")
      .select(datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
        .cast("long").as("x"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("p"))
    drain("q437", ord.repartition(3))(tmp => q437Writer(s"$tmp/summaries"))(tmp =>
      graft.Checkpoints.materialize(q437Drain(s, s"$tmp/summaries")))
  }

  /** q437's per-batch writer: additive (day, exact revenue-sum) cells. */
  private[graft] def q437Writer(sumDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      batch.groupBy(col("x"))
        .agg(sum(col("p")).as("r"))
        .write.mode("overwrite").parquet(s"$sumDir/batch=$batchId")

  /** q437's drain: merge day cells additively, run q393's LB kernel once. */
  private[graft] def q437Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.operators.Stats.ljungBoxKernel(
      s.read.parquet(sumDir).groupBy(col("x"))
        .agg(sum(col("r")).cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("r")))

  /** Q441: streaming Hurst R/S monitor — q397's long-range-dependence
    * estimate over the same merged daily-revenue cells as q437 (SAME
    * writer, SAME session-cached feed — the mergeable-cell harness is
    * shared; only the drain kernel differs), hash-checked against q397's
    * own oracle.
    */
  def q441StreamHurst: Q = (s, d) => {
    val ord = Tables(s, d, "orders")
      .select(datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
        .cast("long").as("x"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("p"))
    drain("q441", ord.repartition(3))(tmp => q437Writer(s"$tmp/summaries"))(tmp =>
      graft.Checkpoints.materialize(q441Drain(s, s"$tmp/summaries")))
  }

  /** q441's drain: merge day cells additively, run q397's R/S kernel. */
  private[graft] def q441Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.operators.Stats.hurstKernel(
      s.read.parquet(sumDir).groupBy(col("x"))
        .agg(sum(col("r")).cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("r")))

  /** Q514: streaming script-profile monitor — q512's per-source Unicode
    * composition readout fed by a micro-batched document stream: per batch
    * the ADDITIVE script-codepoint cells ([[graft.operators.Text
    * .scriptCells]] — pure sums) land in an idempotent `batch=<id>` sink,
    * and the drain runs q512's merge/report kernel once. Shares q512's
    * oracle verbatim (the q375 mergeable-cell contract: equal at ANY
    * trigger slicing). The always-on "did the ingest language mix shift?"
    * pager — a rising Cyrillic/Han share on a Latin-dominant feed is a
    * routing or scraping incident before any quality gate sees it.
    */
  def q514StreamScriptProfile: Q = (s, d) => {
    val docs = Tables(s, d, "documents").select(col("source"), col("text"))
      .unionByName(graft.operators.Text.scriptBattery(s))
    drain("q514", docs.repartition(3))(tmp => q514Writer(s"$tmp/cells"))(tmp =>
      q514Drain(s, s"$tmp/cells"))
  }

  /** q514's per-batch writer ([[drain]]'s sink contract). */
  private[graft] def q514Writer(sumDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      graft.operators.Text.scriptCells(batch)
        .write.mode("overwrite").parquet(s"$sumDir/batch=$batchId")

  /** q514's drain: merge the additive script cells, report once. */
  private[graft] def q514Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.Checkpoints.materialize(
      graft.operators.Text.scriptProfileReport(s.read.parquet(sumDir)))

  /** Q515: streaming mixed-script (homoglyph) monitor — q513's spoof-token
    * audit as an always-on feed pager: per batch the token/mixed counts and
    * the min exemplar ([[graft.operators.Text.mixedScriptCells]] — sums
    * plus an associative min) land in `batch=<id>` cells, and the drain
    * runs q513's merge kernel once. Shares q513's oracle verbatim. A
    * homoglyph burst on one source is a phishing/spam injection signature
    * worth paging on long before dedup or quality scoring runs.
    */
  def q515StreamMixedScript: Q = (s, d) => {
    val docs = Tables(s, d, "documents").select(col("source"), col("text"))
      .unionByName(graft.operators.Text.homoglyphBattery(s))
    drain("q515", docs.repartition(3))(tmp => q515Writer(s"$tmp/cells"))(tmp =>
      q515Drain(s, s"$tmp/cells"))
  }

  /** q515's per-batch writer. */
  private[graft] def q515Writer(sumDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      graft.operators.Text.mixedScriptCells(batch)
        .write.mode("overwrite").parquet(s"$sumDir/batch=$batchId")

  /** q515's drain: merge the token/mixed/min cells, report once. */
  private[graft] def q515Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.Checkpoints.materialize(
      graft.operators.Text.mixedScriptReport(s.read.parquet(sumDir)))

  /** Q521: streaming token-budget monitor — q519's tokenizer-cost
    * estimator fed by a micro-batched document stream: per batch the
    * ADDITIVE cells ([[graft.operators.Text.tokenBudgetCells]] — doc /
    * whitespace-token / CJK-codepoint / byte sums) land in an idempotent
    * `batch=<id>` sink and the drain runs q519's merge/report kernel
    * once. Shares q519's oracle verbatim (the q375 mergeable-cell
    * contract: equal at ANY trigger slicing). The live "is the token
    * budget tracking the plan?" gauge — a CJK-heavy source joining a
    * whitespace-budgeted ingest blows the training budget silently
    * unless this row is watched.
    */
  def q521StreamTokenBudget: Q = (s, d) => {
    val docs = Tables(s, d, "documents").select(col("source"), col("text"))
      .unionByName(graft.operators.Text.tokenBudgetBattery(s))
    drain("q521", docs.repartition(3))(tmp => q521Writer(s"$tmp/cells"))(tmp =>
      q521Drain(s, s"$tmp/cells"))
  }

  /** q521's per-batch writer ([[drain]]'s sink contract). */
  private[graft] def q521Writer(sumDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      graft.operators.Text.tokenBudgetCells(batch)
        .write.mode("overwrite").parquet(s"$sumDir/batch=$batchId")

  /** q521's drain: merge the additive budget cells, report once. */
  private[graft] def q521Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.Checkpoints.materialize(
      graft.operators.Text.tokenBudgetReport(s.read.parquet(sumDir)))

  /** Q524: streaming language/script hygiene monitor — q523's label
    * audit fed by a micro-batched document stream: per batch the
    * doc/mismatch sums + min-offender cells ([[graft.operators.Text
    * .langScriptCells]] — sums plus an associative min) land in an
    * idempotent `batch=<id>` sink and the drain runs q523's merge/report
    * kernel once. Shares q523's oracle verbatim. The always-on "is a
    * source suddenly shipping romanized/mislabeled text?" pager —
    * label drift is a router incident long before it is a quality one.
    */
  def q524StreamLangScript: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"))
      .unionByName(graft.operators.Text.langScriptBattery(s))
    drain("q524", docs.repartition(3))(tmp => q524Writer(s"$tmp/cells"))(tmp =>
      q524Drain(s, s"$tmp/cells"))
  }

  /** q524's per-batch writer ([[drain]]'s sink contract). */
  private[graft] def q524Writer(sumDir: String)
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      graft.operators.Text.langScriptCells(batch)
        .write.mode("overwrite").parquet(s"$sumDir/batch=$batchId")

  /** q524's drain: merge the audit cells, report once. */
  private[graft] def q524Drain(s: SparkSession, sumDir: String): DataFrame =
    graft.Checkpoints.materialize(
      graft.operators.Text.langScriptReport(s.read.parquet(sumDir)))

  val queries: Map[String, Q] = Map(
    "q524_stream_lang_script" -> q524StreamLangScript,
    "q521_stream_token_budget" -> q521StreamTokenBudget,
    "q514_stream_script_profile" -> q514StreamScriptProfile,
    "q515_stream_mixed_script" -> q515StreamMixedScript,
    "q441_stream_hurst" -> q441StreamHurst,
    "q437_stream_ljung_box" -> q437StreamLjungBox,
    "q434_stream_spearman" -> q434StreamSpearman,
    "q417_stream_page_hinkley" -> q417StreamPageHinkley,
    "q418_stream_js_drift" -> q418StreamJsDrift,
    "q390_stream_runs" -> q390StreamRuns,
    "q375_stream_wasserstein" -> q375StreamWasserstein,
    "q465_stream_energy" -> q465StreamEnergy,
    "q469_stream_t_closeness" -> q469StreamTCloseness,
    "q477_stream_spectral_entropy" -> q477StreamSpectralEntropy,
    "q484_stream_gmm" -> q484StreamGmm,
    "q498_stream_cusum" -> q498StreamCusum,
    "q499_stream_matrix_profile" -> q499StreamMatrixProfile,
    "q500_stream_granger" -> q500StreamGranger,
    "q376_stream_ewma" -> q376StreamEwma,
    "q354_stream_permutation" -> q354StreamPermutation,
    "q348_stream_mann_kendall" -> q348StreamMannKendall,
    "q337_stream_psi" -> q337StreamPsi,
    "q329_stream_srm" -> q329StreamSrm,
    "q326_stream_fd" -> q326StreamFd,
    "q320_stream_kappa" -> q320StreamKappa,
    "q288_stream_funnel" -> q288StreamFunnel,
    "q284_stream_benford" -> q284StreamBenford,
    "q265_stream_bollinger" -> q265StreamBollinger,
    "q295_stream_ema" -> q295StreamEma,
    "q300_stream_isotonic" -> q300StreamIsotonic,
    "q303_stream_maxsim" -> q303StreamMaxsim,
    "q307_stream_negatives" -> q307StreamNegatives,
    "q264_stream_kanonymity" -> q264StreamKanonymity,
    "q219_stream_topk" -> q219StreamTopk,
    "q201_stream_changepoint" -> q201StreamChangepoint,
    "q192_stream_auc" -> q192StreamAuc,
    "q175_stream_scd2" -> q175StreamScd2,
    "q140_stream_drift" -> q140StreamDrift,
    "q101_stream_static" -> q101StreamStatic,
    "q98_stream_merge" -> q98StreamMerge,
    "q45_stream_tumbling" -> q45StreamTumbling,
    "q46_stream_sessions" -> q46StreamSessions,
    "q54_stream_sliding" -> q54StreamSliding,
    "q55_stream_dedup" -> q55StreamDedup,
    "q66_stream_stateful" -> q66StreamStateful,
    "q71_stream_join" -> q71StreamJoin,
    "q83_stream_outer_join" -> q83StreamOuterJoin,
    "q121_stream_incremental_dedup" -> q121StreamIncrementalDedup,
    "q152_stream_decontam" -> q152StreamDecontam,
    "q155_stream_ingest_dedup" -> q155StreamIngestDedup,
    "q158_stream_decontam_rewrite" -> q158StreamDecontamRewrite)

  /** Streaming results are checked against the SAME SQL as their batch twins. */
  val oracles: Map[String, String] = Map(
    "q219_stream_topk" ->
      """SELECT l_partkey,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |FROM lineitem GROUP BY 1
        |ORDER BY total_qty DESC, l_partkey LIMIT 25""".stripMargin,
    // q201 shares q198's oracle verbatim (merge ≡ batch at any slicing)
    "q201_stream_changepoint" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600 AS h,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS v, COUNT(*) AS t
        |  FROM hourly GROUP BY 1),
        |cus AS (
        |  SELECT hourly.event_type, h, t, v,
        |    t * SUM(n) OVER (PARTITION BY hourly.event_type ORDER BY h
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - (COUNT(*) OVER (PARTITION BY hourly.event_type ORDER BY h
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * v AS cusum
        |  FROM hourly JOIN tot ON hourly.event_type = tot.event_type),
        |r AS (
        |  SELECT event_type, h, cusum, t, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ABS(cusum) DESC, h) AS rn
        |  FROM cus)
        |SELECT event_type, h AS cp_hour, CAST(cusum AS BIGINT) AS cusum,
        |  t AS n_hours, v AS total
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    // q192 shares q190's oracle verbatim: the drained merge equals the batch
    // summary at any trigger slicing
    "q192_stream_auc" ->
      """WITH e AS (
        |  SELECT CAST(value AS DECIMAL(18,4)) AS v,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |s AS (
        |  SELECT v, CAST(SUM(y) AS BIGINT) AS cp,
        |    CAST(SUM(1 - y) AS BIGINT) AS cn
        |  FROM e GROUP BY v),
        |c AS (
        |  SELECT cp, cn,
        |    COALESCE(SUM(cn) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS negBelow
        |  FROM s)
        |SELECT CAST(SUM(cp) AS BIGINT) AS n_pos, CAST(SUM(cn) AS BIGINT) AS n_neg,
        |  CAST(SUM(cp * negBelow) AS BIGINT) AS concordant,
        |  CAST(SUM(cp * cn) AS BIGINT) AS tie_pairs,
        |  ROUND((CAST(SUM(cp * negBelow) AS DOUBLE) + CAST(SUM(cp * cn) AS DOUBLE) / 2.0)
        |        / (CAST(SUM(cp) AS DOUBLE) * CAST(SUM(cn) AS DOUBLE)), 6) AS auc
        |FROM c""".stripMargin,
    "q140_stream_drift" ->
      """WITH wc AS (
        |  SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS h, event_type, COUNT(*) AS c_w
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, COUNT(*) AS c_g FROM events GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n_g FROM events),
        |j AS (
        |  SELECT h, wc.event_type, c_w, c_g,
        |    SUM(c_w) OVER (PARTITION BY h) AS n_w
        |  FROM wc JOIN g USING (event_type))
        |SELECT h, CAST(MAX(n_w) AS BIGINT) AS n_events,
        |  CAST(COUNT(*) AS BIGINT) AS n_types,
        |  ROUND(CAST(SUM(ABS(c_w * n_g - c_g * n_w)) + (n_g - SUM(c_g)) * MAX(n_w) AS DOUBLE)
        |    / CAST(MAX(n_w) * n_g AS DOUBLE), 6) AS drift_l1
        |FROM j, tot GROUP BY h, n_g ORDER BY h""".stripMargin,
    "q264_stream_kanonymity" ->
      graft.operators.Stats.oracles("q254_kanonymity"),
    // q320 shares q315's oracle verbatim (per-cell confusion counts of
    // disjoint document sets merge additively at any trigger slicing)
    "q320_stream_kappa" ->
      graft.operators.Evaluation.oracles("q315_cohens_kappa"),
    // q326: the q319 generator over the two streamed orders pairs (per-
    // pair (A,B) counts merge additively; string-cast of the determinant
    // is injective so every count is cast-invariant)
    "q326_stream_fd" ->
      graft.operators.Stats.fdBlocksSql(Seq(
        ("orders", "o_orderkey", "o_orderstatus"),
        ("orders", "o_custkey", "o_orderpriority"))),
    // q390 shares q383's oracle verbatim (hourly cells merge additively)
    "q390_stream_runs" ->
      graft.operators.Events.oracles("q383_runs_test"),
    // q417/q418 run the batch kernels over additively-merged micro-batch
    // cells — same relation, same kernel, same oracle verbatim
    "q417_stream_page_hinkley" ->
      graft.operators.Stats.oracles("q400_page_hinkley"),
    "q434_stream_spearman" ->
      graft.operators.Stats.oracles("q424_spearman"),
    "q437_stream_ljung_box" ->
      graft.operators.Stats.oracles("q393_ljung_box"),
    "q441_stream_hurst" ->
      graft.operators.Stats.oracles("q397_hurst_rs"),
    "q418_stream_js_drift" ->
      graft.operators.Text.oracles("q402_js_divergence"),
    // q375 shares q363's oracle verbatim (per-cent half counts merge
    // additively against the same fixed integer midpoint)
    "q375_stream_wasserstein" ->
      graft.operators.Stats.oracles("q363_wasserstein"),
    // q465 shares q452's oracle verbatim (the same per-cent half counts
    // merge additively; the drain runs q452's exact energy kernel)
    "q465_stream_energy" ->
      graft.operators.Stats.oracles("q452_energy_distance"),
    // q469 shares q466's oracle verbatim (class×bucket cells merge
    // additively; the drain runs q466's exact EMD kernel)
    "q469_stream_t_closeness" ->
      graft.operators.Stats.oracles("q466_t_closeness"),
    // q477 shares q471's oracle verbatim (q376's mergeable hourly cells;
    // the drain runs q471's periodogram + entropy kernels)
    "q477_stream_spectral_entropy" ->
      graft.operators.Events.oracles("q471_spectral_entropy"),
    // q484 shares q481's oracle verbatim (cent cells merge additively;
    // the drain runs q481's exact 5-iteration EM fixpoint)
    "q484_stream_gmm" ->
      graft.operators.Stats.oracles("q481_gmm_1d"),
    // q498/q499/q500 share their batch twins' oracles verbatim (q437's
    // additive daily-revenue cells — q500's writer adds the count column;
    // the drains run q490/q487/q494's exact kernels once over the merge)
    // q514/q515/q521 share q512/q513/q519's oracles verbatim (additive
    // script / token-min / budget cells merge exactly at any trigger
    // slicing)
    "q521_stream_token_budget" ->
      graft.operators.Text.oracles("q519_token_budget"),
    "q524_stream_lang_script" ->
      graft.operators.Text.oracles("q523_lang_script_consistency"),
    "q514_stream_script_profile" ->
      graft.operators.Text.oracles("q512_script_profile"),
    "q515_stream_mixed_script" ->
      graft.operators.Text.oracles("q513_mixed_script"),
    "q498_stream_cusum" ->
      graft.operators.Stats.oracles("q490_cusum_alarm"),
    "q499_stream_matrix_profile" ->
      graft.operators.Stats.oracles("q487_matrix_profile"),
    "q500_stream_granger" ->
      graft.operators.Stats.oracles("q494_granger_causality"),
    // q376 shares q368's oracle verbatim (hourly cells merge additively)
    "q376_stream_ewma" ->
      graft.operators.Events.oracles("q368_ewma_control"),
    // q329 shares q323's oracle verbatim (arm counts merge additively)
    "q329_stream_srm" ->
      graft.operators.Stats.oracles("q323_srm"),
    // q337 shares q333's oracle verbatim (bin-half counts merge additively
    // against the same fixed integer midpoint)
    "q337_stream_psi" ->
      graft.operators.Stats.oracles("q333_psi"),
    // q348 shares q342's oracle verbatim (hourly cells merge additively)
    "q348_stream_mann_kendall" ->
      graft.operators.Stats.oracles("q342_mann_kendall"),
    // q354 shares q346's oracle verbatim (per-rep counts and exact decimal
    // sums merge additively at any trigger slicing)
    "q354_stream_permutation" ->
      graft.operators.Stats.oracles("q346_permutation_test"),
    // q284 shares q204's oracle verbatim (additive digit counts merge
    // exactly at any trigger slicing)
    "q288_stream_funnel" ->
      graft.operators.Events.oracles("q252_strict_funnel"),
    "q284_stream_benford" ->
      graft.operators.Stats.oracles("q204_benford"),
    "q265_stream_bollinger" ->
      graft.operators.Events.oracles("q256_bollinger_breakout"),
    // q295 shares q290's oracle verbatim (part-complete slicing + additive
    // per-part counts merge exactly at any trigger slicing)
    "q295_stream_ema" ->
      graft.operators.Events.oracles("q290_ema_signal"),
    // q300 shares q296's oracle (fixed bin range -> additive bin counts)
    "q300_stream_isotonic" ->
      graft.operators.Stats.oracles("q296_isotonic_calibration"),
    // q303 shares q299's oracle (per-batch top-k is merge-exact over
    // set-partitioned candidates)
    "q303_stream_maxsim" ->
      graft.operators.Similarity.oracles("q299_maxsim_rerank"),
    // q307 shares q298's oracle (customers partition across batches; draws
    // are pure row functions)
    "q307_stream_negatives" ->
      graft.operators.NorthStar.oracles("q298_negative_sampling"),
    "q175_stream_scd2" ->
      graft.operators.Events.oracles("q170_scd2"),
    "q121_stream_incremental_dedup" ->
      graft.operators.NorthStar.oracles("q116_incremental_dedup"),
    "q152_stream_decontam" ->
      graft.operators.NorthStar.oracles("q119_benchmark_decontamination"),
    "q155_stream_ingest_dedup" ->
      graft.operators.NorthStar.oracles("q123_incremental_dedup_full"),
    "q158_stream_decontam_rewrite" ->
      graft.operators.NorthStar.oracles("q157_decontam_rewrite"),
    "q101_stream_static" ->
      """WITH e AS (
        |  SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es, value
        |  FROM events),
        |dim AS (SELECT user_id, CAST(MIN(es) // 86400 AS BIGINT) AS cohort
        |        FROM e GROUP BY user_id)
        |SELECT (e.es // 86400) * 86400 AS wstart, dim.cohort, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM e JOIN dim USING (user_id)
        |GROUP BY wstart, cohort ORDER BY wstart, cohort""".stripMargin,
    "q98_stream_merge" -> graft.operators.NorthStar.oracles("q90_merge_upsert"),
    "q45_stream_tumbling" -> graft.operators.Events.oracles("q32_tumbling"),
    "q46_stream_sessions" -> graft.operators.Events.oracles("q31_sessionize"),
    "q66_stream_stateful" -> graft.operators.Events.oracles("q31_sessionize"),
    "q54_stream_sliding" ->
      """WITH e AS (
        |  SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es, event_type, value
        |  FROM events),
        |a AS (
        |  SELECT (es // 300) * 300 AS wstart, event_type, value FROM e
        |  UNION ALL
        |  SELECT (es // 300) * 300 - 300 AS wstart, event_type, value FROM e)
        |SELECT wstart, event_type, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM a GROUP BY wstart, event_type ORDER BY wstart, event_type""".stripMargin,
    "q55_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "q83_stream_outer_join" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
        |  FROM events),
        |v AS (SELECT user_id, es FROM e WHERE event_type = 'view'),
        |c AS (SELECT user_id, es FROM e WHERE event_type = 'click')
        |SELECT v.user_id, COUNT(*) AS n_rows,
        |  COUNT(c.es) AS n_matched,
        |  CAST(coalesce(SUM(c.es - v.es), 0) AS BIGINT) AS gap_sum
        |FROM v LEFT JOIN c
        |  ON v.user_id = c.user_id AND c.es >= v.es AND c.es <= v.es + 1800
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,
    "q71_stream_join" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
        |  FROM events)
        |SELECT v.user_id, COUNT(*) AS n_pairs,
        |  CAST(SUM(c.es - v.es) AS BIGINT) AS gap_sum
        |FROM e v JOIN e c
        |  ON v.user_id = c.user_id AND v.event_type = 'view'
        | AND c.event_type = 'click' AND c.es >= v.es AND c.es <= v.es + 1800
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin)
}
