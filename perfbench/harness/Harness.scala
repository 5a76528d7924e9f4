package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.importer.{Cleanse, Enrich, ImportConfig, Importer}

/** Counters of one span, summed over the tasks of the jobs attributed to it. */
final class Counters {
  var stages, tasks, cpuNs, inputBytes, shuffleWriteBytes, spillBytes, gcMs, outputRecords = 0L

  def +=(o: Counters): Unit = {
    stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes; gcMs += o.gcMs
    outputRecords += o.outputRecords
  }
}

/** Attributes every job, and through its stages every task, to the span
  * that submitted it. A job carries its span in its job group ("pb:<span>").
  * Jobs that set a group of their own (a streaming query sets its run id)
  * are attributed to the span whose wall-clock interval holds their
  * submission time; spans never overlap, so the match is unique.
  */
final class Tracker extends SparkListener {
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val intervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  @volatile private var open: Option[(String, Long)] = None

  def begin(span: String): Unit = synchronized { open = Some((span, System.currentTimeMillis())) }
  def end(): Unit = synchronized {
    open.foreach { case (s, t0) => intervals += ((s, t0, System.currentTimeMillis())) }
    open = None
  }
  private def spanAt(ms: Long): String = synchronized {
    intervals.reverseIterator.collectFirst { case (s, a, b) if a <= ms && ms <= b => s }
      .orElse(open.collect { case (s, a) if a <= ms => s })
      .getOrElse("unattributed")
  }
  private def c(span: String): Counters = counters.computeIfAbsent(span, _ => new Counters)

  def get(span: String): Counters = Option(counters.get(span)).getOrElse(new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val span = group.filter(_.startsWith("pb:")).map(_.drop(3)).getOrElse(spanAt(e.time))
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val span = Option(stageSpan.get(e.stageInfo.stageId)).getOrElse("unattributed")
    c(span).synchronized(c(span).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = Option(stageSpan.get(e.stageId)).getOrElse("unattributed")
    val k = c(span)
    val m = e.taskMetrics
    k.synchronized {
      k.tasks += 1
      if (m != null) {
        k.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        k.inputBytes += m.inputMetrics.bytesRead
        k.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        k.spillBytes += m.diskBytesSpilled
        k.gcMs += m.jvmGCTime
        k.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }
}

/** One benchmark run in one JVM: set-up, a warm-up, timed rounds, and a
  * JSON record of what was measured. The imports time rounds until the
  * given number of seconds has passed; the mix times one cold pass.
  *
  * Usage: Harness <workload> <seconds> <trace 0|1> <inputDir> <schemaFile>
  *          <tablesDir> <outDir> <resultJson>
  *
  * The program is driven only through its public functions. Every number
  * is read from the Tracker, from the JVM's management beans or from the
  * files written; nothing inside the program is instrumented.
  */
object Harness {
  /** The query mix by family; one pass runs each query once, in this order.
    * It is a subset of the LLM-pipeline operators sized so that a run fits
    * its time budget with one pass (see perfbench/README.md).
    */
  val Mix: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("q28_dedup_exact", "q37_minhash_pairs", "q39_simhash_pairs",
      "q116_incremental_dedup"),
    "similarity" -> Seq("q30_cosine_topk", "q114_cosine_topk_blocked"),
    "text" -> Seq("q29_token_topk", "q42_langid", "q517_multibyte_fuzzy_join"),
    "multimodal" -> Seq("q44_multimodal"),
    "streaming" -> Seq("q121_stream_incremental_dedup"))

  /** The Standing entries the mix consumes: q37, q114 and q121. */
  val MixStanding: Seq[String] = Seq("standing_minhash_pairs", "standing_ivf_blocked",
    "standing_jaccard_index")

  /** Batch twin of each streaming query. */
  val Twins: Seq[(String, String)] = Seq(
    "q121_stream_incremental_dedup" -> "q116_incremental_dedup")

  /** Seconds of untimed imports before the timed ones. */
  val ImportWarmupS = 10.0

  private var spark: SparkSession = _
  private val tracker = new Tracker
  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` as span `name`: its jobs carry the span's job group. */
  private def span[A](name: String)(body: => A): (A, Double) = {
    spark.sparkContext.setJobGroup("pb:" + name, name, interruptOnCancel = false)
    tracker.begin(name)
    val t0 = now()
    try { val a = body; (a, secs(t0)) }
    finally { tracker.end(); spark.sparkContext.clearJobGroup() }
  }

  /** One operation: counted as attempted, and as failed if it throws. */
  private def op(name: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def resetPeakHeap(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  private def peakHeap(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def parquetFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(parquetFiles)
    else if (dir.getName.endsWith(".parquet")) Seq(dir) else Nil

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Force `df` into a noop sink and return its parsed row count. */
  private def countedNoop(df: DataFrame, name: String): Long = {
    val obs = Observation(name)
    noop(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  // ---------------------------------------------------------------- result
  private val passes = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Double]]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val fixed = mutable.LinkedHashMap.empty[String, Double]

  private def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private def passRecord(wall: Double, k: Counters, outBytes: Long, gc: Long): Unit =
    passes += mutable.LinkedHashMap(
      "wall_s" -> wall, "cpu_s" -> k.cpuNs / 1e9, "input_bytes" -> k.inputBytes.toDouble,
      "output_bytes" -> outBytes.toDouble, "gc_s" -> gc / 1e3)

  private def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeResult(path: String, setupS: Double): Unit = {
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    val sb = new StringBuilder("{")
    sb ++= s"\"setup_s\": ${num(setupS)}, \"attempted\": $attempted, \"failed\": $failed,"
    sb ++= " \"errors\": " + errors.map(json).mkString("[", ", ", "]") + ","
    sb ++= " \"passes\": " + passes.map(p =>
      p.map { case (k, v) => s"${json(k)}: ${num(v)}" }.mkString("{", ", ", "}")).mkString("[", ", ", "]") + ","
    sb ++= " \"samples\": " + samples.map { case (k, vs) =>
      s"${json(k)}: ${vs.map(num).mkString("[", ", ", "]")}" }.mkString("{", ", ", "}") + ","
    sb ++= " \"fixed\": " + fixed.map { case (k, v) => s"${json(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    sb ++= "}\n"
    Files.writeString(Paths.get(path), sb.toString)
  }

  // --------------------------------------------------------------- imports
  private def importConf(workload: String, input: String, schema: String, dest: String): ImportConfig =
    if (workload == "import_tweets")
      ImportConfig(srcFile = input, destFile = dest, schemaFile = Some(schema),
        twitterCleanse = true, dateEnrich = Some("tweet_time"),
        arrayCols = Seq("hashtags", "urls", "user_mentions"),
        sortCols = Seq("tweetid"), partitionCols = Seq("year", "month"))
    else ImportConfig(srcFile = input, destFile = dest, schemaFile = Some(schema))

  /** One full import into a fresh `dest`. */
  private def importPass(name: String, conf: ImportConfig): Unit = {
    val dest = new File(conf.destFile)
    deleteTree(dest)
    val gc0 = gcMs()
    var wall = Double.NaN
    op(name) { wall = span(name)(Importer.readCsvWriteParquet(conf)(spark))._2 }
    drain()
    passRecord(wall, tracker.get(name), parquetFiles(dest).map(_.length).sum, gcMs() - gc0)
  }

  /** Traced import: successive prefixes forced into a noop sink, then the
    * full import. A stage's self figures are the differences between
    * consecutive prefixes.
    */
  private def tracedImport(i: Int, conf: ImportConfig, csvBytes: Long): Unit = {
    implicit val s: SparkSession = spark
    val full = conf.twitterCleanse
    val (readRows, readS) = span(s"read.$i")(countedNoop(Importer.readCsv(conf), s"r$i"))
    drain()
    val read = tracker.get(s"read.$i")
    var prev = (readS, read)
    sample("importer.read_csv.s", readS)
    sample("importer.read_csv.cpu_s", read.cpuNs / 1e9)
    sample("importer.read_csv.input_bytes", read.inputBytes.toDouble)
    sample("importer.read_csv.tasks", read.tasks.toDouble)
    if (full) {
      val (cleanRows, cleanS) = span(s"cleanse.$i")(
        countedNoop(Cleanse.twitterCleanse(Importer.readCsv(conf)), s"c$i"))
      drain()
      val cl = tracker.get(s"cleanse.$i")
      sample("importer.cleanse.s", cleanS - prev._1)
      sample("importer.cleanse.cpu_s", (cl.cpuNs - prev._2.cpuNs) / 1e9)
      sample("importer.cleanse.input_bytes", (cl.inputBytes - prev._2.inputBytes).toDouble)
      sample("importer.cleanse.shuffle_bytes",
        (cl.shuffleWriteBytes - prev._2.shuffleWriteBytes).toDouble)
      sample("importer.cleanse.rows_removed", (readRows - cleanRows).toDouble)
      prev = (cleanS, cl)
      val (_, enrichS) = span(s"enrich.$i") {
        var df = Enrich.dateEnrich("tweet_time", Cleanse.twitterCleanse(Importer.readCsv(conf)))
        conf.arrayCols.foreach(c => df = Enrich.parseAndAppendArrayCol(c, df))
        noop(df)
      }
      drain()
      val en = tracker.get(s"enrich.$i")
      sample("importer.enrich.s", enrichS - prev._1)
      sample("importer.enrich.cpu_s", (en.cpuNs - prev._2.cpuNs) / 1e9)
      prev = (enrichS, en)
    }
    val dest = new File(conf.destFile)
    deleteTree(dest)
    val (_, fullS) = span(s"import.$i")(Importer.readCsvWriteParquet(conf))
    drain()
    val w = tracker.get(s"import.$i")
    val files = parquetFiles(dest)
    sample("importer.write.s", fullS - prev._1)
    sample("importer.write.shuffle_bytes", (w.shuffleWriteBytes - prev._2.shuffleWriteBytes).toDouble)
    sample("importer.write.spill_bytes", w.spillBytes.toDouble)
    sample("importer.write.files", files.size.toDouble)
    sample("importer.write.bytes", files.map(_.length).sum.toDouble)
    sample("importer.write.rows", w.outputRecords.toDouble)
    sample("importer.csv_scans", w.inputBytes.toDouble / csvBytes)
    sample("trace.pass_s", fullS)
  }

  /** Each timed round is one import of the seeded dump, whose output is kept
    * under <outDir>/<workload>/<round> for the checks. A traced round adds
    * the prefix passes and one more import, which are not operations.
    */
  private def runImport(workload: String, seconds: Double, trace: Boolean, input: String,
                        schema: String, outDir: String): Double = {
    val csvBytes = new File(input).listFiles().filter(_.getName.endsWith(".csv")).map(_.length).sum
    val conf = importConf(workload, input, schema, s"$outDir/$workload")
    deleteTree(new File(conf.destFile))
    // warm-up: imports for ImportWarmupS, since the JIT takes several passes
    // to settle; not counted as operations, and if one fails the run fails
    val warm = conf.copy(destFile = s"$outDir/warmup")
    val w0 = now()
    var w = 0
    while (w < 2 || secs(w0) < ImportWarmupS) {
      w += 1
      deleteTree(new File(warm.destFile))
      Importer.readCsvWriteParquet(warm)(spark)
    }
    deleteTree(new File(warm.destFile))
    val setup = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    resetPeakHeap()
    val t0 = now()
    var i = 0
    while (i == 0 || secs(t0) < seconds) {
      i += 1
      importPass(s"pass.$i", conf.copy(destFile = s"${conf.destFile}/$i"))
      if (trace) tracedImport(i, conf.copy(destFile = s"$outDir/traced"), csvBytes)
    }
    setup
  }

  // ------------------------------------------------------------------- mix
  private def runMix(trace: Boolean, tables: String, outDir: String): Double = {
    val queries = graft.SparkEntry.queries
    val mixOut = s"$outDir/llm_pipeline_mix"
    deleteTree(new File(mixOut))
    new File(mixOut).mkdirs()
    val buildFns = graft.operators.Standing.builds.toMap
    MixStanding.foreach { b =>
      val (_, t) = span(s"standing.$b")(buildFns(b)(spark, tables))
      fixed(s"standing.$b.s") = t
    }
    def runQuery(q: String, spanName: String): Double = {
      var t = Double.NaN
      op(q) {
        t = span(spanName)(queries(q)(spark, tables).coalesce(1).write.mode("overwrite")
          .parquet(s"$mixOut/$q"))._2
      }
      t
    }
    def pass(p: String, traced: Boolean): Unit = {
      val gc0 = gcMs()
      val t0 = now()
      val before = tracker.get(p)
      val per = Mix.flatMap { case (fam, qs) =>
        qs.map(q => q -> runQuery(q, if (traced) s"$p.$fam.$q" else p))
      }
      val wall = secs(t0)
      drain()
      val k = new Counters
      if (traced) Mix.foreach { case (fam, qs) => qs.foreach(q => k += tracker.get(s"$p.$fam.$q")) }
      else k += tracker.get(p)
      passRecord(wall, k, parquetFiles(new File(mixOut)).map(_.length).sum, gcMs() - gc0)
      if (traced) {
        sample("trace.pass_s", wall)
        Mix.foreach { case (fam, qs) =>
          val f = new Counters
          qs.foreach(q => f += tracker.get(s"$p.$fam.$q"))
          sample(s"$fam.s", qs.map(q => per.find(_._1 == q).get._2).sum)
          sample(s"$fam.cpu_s", f.cpuNs / 1e9)
          sample(s"$fam.tasks", f.tasks.toDouble)
          sample(s"$fam.stages", f.stages.toDouble)
          sample(s"$fam.shuffle_bytes", f.shuffleWriteBytes.toDouble)
          sample(s"$fam.spill_bytes", f.spillBytes.toDouble)
          sample(s"$fam.gc_s", f.gcMs / 1e3)
        }
        per.foreach { case (q, t) => sample(s"query.${q.takeWhile(_ != '_')}.s", t) }
        val t = per.toMap
        sample("streaming.twin_ratio",
          Twins.map(x => t(x._1)).sum / Twins.map(x => t(x._2)).sum)
      }
    }
    // One timed pass, the first after the standing builds, as in a batch job
    // that runs the pipeline once. It takes about as long as a run's
    // --seconds; a second pass would be warm, and mixing cold and warm
    // passes in one median made the figure bimodal. A warm pass alone
    // spread as widely from run to run, at twice the run time.
    val setup = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    resetPeakHeap()
    pass("pass.1", traced = trace)
    // DuckDB twins of the queries that have one, for the output check
    val oracle = graft.SparkEntry.oracleSql
    val entries = Mix.flatMap(_._2).filter(oracle.contains)
      .map(q => s"${json(q)}: ${json(oracle(q))}")
    Files.writeString(Paths.get(s"$mixOut/oracle_sql.json"), entries.mkString("{", ",\n", "}\n"))
    setup
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsArg, traceArg, input, schema, tables, outDir, result) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val t0 = now()
    spark = graft.Engine.session(s"perfbench-$workload")
    fixed("engine.session_s") = secs(t0)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(tracker)
    val gcStart = gcMs()
    val setup = workload match {
      case "import_tweets" | "import_flat" =>
        runImport(workload, seconds, trace, input, schema, outDir)
      case "llm_pipeline_mix" => runMix(trace, tables, outDir)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    drain()
    fixed("jvm.peak_heap_bytes") = peakHeap().toDouble
    passes.foreach(p => sample("jvm.gc_s", p("gc_s")))
    writeResult(result, setup)
    spark.stop()
  }
}
