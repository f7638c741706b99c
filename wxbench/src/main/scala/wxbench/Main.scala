package wxbench

import java.io.File
import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.WeatherIngest
import graft.model.WeatherModel
import graft.operators.{Dedup, WeatherTransform}
import graft.pipeline.WeatherPipeline
import graft.quality.QualityChecks
import graft.sources.WeatherSink

/** Benchmark of the daily weather pipeline, `WeatherPipeline.run`.
  *
  * Usage: `Main --workload <daily_increment|backfill> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir>`. One client drives the
  * library in a closed loop on `local[4]`. The last stdout line is the
  * result object; the line before it is a `context` object with the
  * sample counts and the placement of tables and shuffle files. Exit
  * code 1 when any output check failed.
  */
object Main {
  val cores = 4
  val setupReps = 3
  val minOps = 3
  /** Days of history under the daily increments. Every increment
    * rewrites every date partition, so this sets the cost of one call;
    * two months keep about five calls inside one run, enough for a
    * steady median on a shared host.
    */
  val historyDays = 60
  /** Days of hourly readings in one backfill load. */
  val backfillDays = 60
  /** Untimed calls before the loop, so that the loop's calls do not pay
    * most of the JIT compilation. On `daily_increment` the set-up
    * repetitions already ran the pipeline three times (the history
    * builds), so one call warms the merge branch of the sink.
    */
  def warmupCalls(daily: Boolean): Int = if (daily) 1 else 2

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--work")).getAbsoluteFile)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ok = a.workload match {
      case "daily_increment" | "backfill" => new PipelineBench(a).run()
      case w => System.err.println(s"unknown workload $w"); false
    }
    sys.exit(if (ok) 0 else 1)
  }

  /** Session built the way `graft.Bench` builds it, so shuffle placement
    * follows the same policy and is recorded.
    */
  def session(work: File): (SparkSession, String, String) = {
    val (conf, localDir, detail) = graft.Scratch.localDirSparkConf(work.getPath)
    conf.setMaster(s"local[$cores]")
      .setAppName("wxbench")
      .set("spark.sql.shuffle.partitions", cores.toString)
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
      .set("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    SparkContext.getOrCreate(conf)
    val spark = SparkSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (spark, localDir, detail)
  }

  /** Seconds from JVM start until `spark` has run its first job. */
  def sessionStartSeconds(spark: SparkSession): Double = {
    spark.range(1).count()
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def json(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean => b.toString
    case n: Number => n.toString
    case null => "null"
    case o => json(o.toString)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  def partFiles(p: Path): Set[String] =
    if (!Files.exists(p)) Set.empty
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(f => f.getFileName.toString.startsWith("part-"))
        .map(p.relativize(_).toString).toSet
      finally w.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally w.close()
    }

  /** Mount point and filesystem type that hold `p`. */
  def filesystem(p: File): String = {
    val path = p.getCanonicalPath
    val mounts = scala.io.Source.fromFile("/proc/mounts")
    try mounts.getLines().map(_.split(" ")).filter(f => f.length > 2 &&
        (path == f(1) || path.startsWith(f(1).stripSuffix("/") + "/")))
      .maxByOption(_(1).length).map(f => s"${f(2)} at ${f(1)}").getOrElse("unknown")
    catch { case _: Exception => "unknown" }
    finally mounts.close()
  }
}

/** One timed pipeline call: its wall time, input size, peak heap and, when
  * traced, its per-layer metrics.
  */
final case class Op(seconds: Double, docs: Int, peakHeap: Long,
    layers: Option[Map[String, Double]])

/** The `daily_increment` and `backfill` workloads. */
final class PipelineBench(a: Main.Args) {
  import Main._

  private val daily = a.workload == "daily_increment"
  private val work = a.work
  private val tableDir = new File(work, "table").toPath
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0

  private val (spark, localDir, localDirDetail) = session(work)
  /** The heap pools whose peak a call can raise. The young allocation
    * space (eden) is left out: it fills to the size the collector gives
    * it before every young collection, whatever the call allocates. Old
    * space and survivors hold what outlives a collection, and old space
    * also takes every large array directly.
    */
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      p.isValid && !p.getName.contains("Eden")).toSeq

  private def checkDate(day: Long): Column = lit(Date.valueOf(LocalDate.ofEpochDay(day)))
  /** One extraction time per call, later for every later call. */
  private var calls = 0L
  private def nextExtraction(): Column = {
    calls += 1
    lit(new Timestamp(1735689600000L + calls * 60000L))
  }

  /** The pipeline exactly as deployed. */
  private def runPipeline(docs: String, day: Long): QualityChecks.Report =
    WeatherPipeline.run(spark, docs, tableDir.toString, checkDate(day),
      nextExtraction()).quality

  private lazy val tracer = new Tracer(spark)

  /** `WeatherPipeline.run` rebuilt step by step from the same public
    * functions, with the same persist and guards, materializing each
    * layer before the next starts so each span holds its own work.
    */
  private def runTraced(docs: String, nDocs: Int, day: Long)
      : (QualityChecks.Report, Map[String, Double]) = {
    val t0 = System.nanoTime()
    val extraction = nextExtraction()
    val ((flat, rowsOut), ingest) = tracer.span("ingest") {
      val raw = WeatherIngest.readDocuments(spark, docs)
      val flat = WeatherIngest.flatten(raw, WeatherModel.regionDim(spark), extraction)
      flat.persist()
      require(flat.head(1).nonEmpty, "No weather data was successfully extracted")
      (flat, flat.count())
    }
    val ((dedup, transformed, nDedup, nOut), ops) = tracer.span("operators") {
      val dedup = Dedup.dedupeWeather(flat).persist()
      val nDedup = dedup.count()
      val transformed = WeatherTransform.derive(
        WeatherTransform.validityFilter(dedup)).persist()
      val nOut = transformed.count()
      require(transformed.head(1).nonEmpty, "No data received from extraction task")
      (dedup, transformed, nDedup, nOut)
    }
    val before = partFiles(tableDir)
    val (_, sink) = tracer.span("sources") {
      WeatherSink.upsertInto(spark, transformed, tableDir.toString)
    }
    val written = (partFiles(tableDir) -- before).size
    Seq[DataFrame](transformed, dedup, flat).foreach(_.unpersist())
    val (report, quality) = tracer.span("quality") {
      val r = QualityChecks.report(spark.read.parquet(tableDir.toString), checkDate(day))
      r.warnings.foreach(w => System.err.println(s"[quality] WARN: $w"))
      r
    }
    val totalMs = (System.nanoTime() - t0) / 1e6
    val spans = Seq(ingest, ops, sink, quality)
    val m = mutable.LinkedHashMap.empty[String, Double]
    def c(s: tracer.Span, k: String) = s.counters.getOrElse(k, 0.0)
    m("ingest.self_ms") = ingest.ms
    m("ingest.cpu_ms") = c(ingest, "spark.cpu_ms")
    m("ingest.docs_in") = nDocs
    m("ingest.rows_out") = rowsOut
    m("ingest.rows_isolated") = nDocs - rowsOut
    m("operators.self_ms") = ops.ms
    m("operators.shuffle_write_bytes") = c(ops, "spark.shuffle_write_bytes")
    m("operators.dedup_dropped") = rowsOut - nDedup
    m("operators.filter_dropped") = nDedup - nOut
    m("sources.self_ms") = sink.ms
    m("sources.tasks") = c(sink, "spark.tasks")
    m("sources.files_written") = written
    m("sources.bytes_written") = c(sink, "output_bytes")
    m("sources.shuffle_bytes") = c(sink, "spark.shuffle_write_bytes")
    m("quality.self_ms") = quality.ms
    m("quality.tasks") = c(quality, "spark.tasks")
    m("quality.files_scanned") = c(quality, "files_scanned")
    for (k <- Seq("spark.plan_ms", "spark.codegen_ms", "spark.jobs", "spark.stages",
        "spark.tasks", "spark.run_ms", "spark.cpu_ms", "spark.gc_ms",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.fetch_wait_ms",
        "spark.spill_bytes"))
      m(k) = spans.map(c(_, k)).sum
    m("spark.peak_exec_mem_bytes") = spans.map(c(_, "spark.peak_exec_mem_bytes")).max
    m("trace.total_ms") = totalMs
    m("trace.unattributed_ms") = totalMs - spans.map(_.ms).sum
    (report, m.toMap)
  }

  // ---- expected output and checks (never inside a timed region) ----

  private val expected = new Inputs.ExpectedTable
  private def tableRows: Long = expected.size.toLong

  private def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[wxbench] CHECK FAILED: $msg")
  }

  /** Compares the table with the generator's expectation and the quality
    * report with the expected values of the checked day.
    */
  private def check(what: String, report: QualityChecks.Report, day: Long): Unit = {
    val failures0 = failures.size
    val rows = spark.read.parquet(tableDir.toString)
      .select(col("region"), col("data_timestamp").cast("long"), col("temperature"),
        datediff(col("date"), lit(Date.valueOf("1970-01-01"))))
      .collect()
    val misdated = rows.count(r => r.getInt(3).toLong != Math.floorDiv(r.getLong(1), 86400L))
    if (misdated > 0) fail(s"$what: $misdated rows in the wrong date partition")
    val got = Inputs.digest(rows.map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))))
    val want = expected.digest
    if (got != want) {
      val bad = (got.keySet ++ want.keySet).filter(d => got.get(d) != want.get(d))
      fail(s"$what: ${bad.size} dates differ from the expected table, first " +
        s"${LocalDate.ofEpochDay(bad.min)}: got ${got.get(bad.min)} want ${want.get(bad.min)}")
    }
    val w = want.get(day)
    val nullsOk = report.nullCounts.values.forall(_ == 0L)
    if (report.regionCount != Inputs.regions.size || !nullsOk ||
        report.minTemp != w.map(_.minTemp) || report.maxTemp != w.map(_.maxTemp))
      fail(s"$what: quality report $report, expected 15 regions, no nulls and " +
        s"temperatures ${w.map(x => (x.minTemp, x.maxTemp))}")
    if (failures.size > failures0) failed += 1
  }

  /** Starts a peak-heap measurement from the live heap: a full collection
    * (outside the timed region), then a reset of every pool's peak.
    */
  private def resetHeapPeak(): Unit = {
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Bytes: the sum of the pools' peak usage since `resetHeapPeak`. */
  private def heapPeak(): Long = heapPools.map(_.getPeakUsage.getUsed).sum

  private def writeDocs(docs: Seq[Inputs.Doc], name: String): String = {
    val f = new File(work, s"input/$name.json")
    Inputs.write(docs, f)
    f.getPath
  }

  private def timedCall(docs: Seq[Inputs.Doc], name: String, day: Long,
      traced: Boolean): Op = {
    val path = writeDocs(docs, name)
    resetHeapPeak()
    attempted += 1
    val t0 = System.nanoTime()
    val (report, layers) =
      if (traced) { val (r, m) = runTraced(path, docs.size, day); (r, Some(m)) }
      else (runPipeline(path, day), None)
    val secs = (System.nanoTime() - t0) / 1e9
    val peak = heapPeak()
    expected.load(docs)
    check(name, report, day)
    // write amplification: bytes written over the batch's share of the
    // table it was merged into
    Op(secs, docs.size, peak, layers.map { m =>
      val batchRows = m("ingest.rows_out") - m("operators.dedup_dropped") -
        m("operators.filter_dropped")
      m + ("sources.write_amp" ->
        m("sources.bytes_written") / (batchRows * dirBytes(tableDir) / tableRows))
    })
  }

  def run(): Boolean = {
    val sessionS = sessionStartSeconds(spark)

    // set-up: generate the inputs (and for daily_increment build the
    // history table) several times; the last one stays
    var backfillDocs = Seq.empty[Inputs.Doc]
    val reps = (1 to setupReps).map { _ =>
      val t0 = System.nanoTime()
      deleteTree(tableDir)
      expected.clear()
      if (daily) {
        val hist = Inputs.history(a.seed, historyDays)
        attempted += 1
        val r = runPipeline(writeDocs(hist, "history"), Inputs.firstDay + historyDays - 1)
        val s = (System.nanoTime() - t0) / 1e9
        expected.load(hist)
        check("history", r, Inputs.firstDay + historyDays - 1)
        s
      } else {
        backfillDocs = Inputs.hourly(a.seed, backfillDays)
        writeDocs(backfillDocs, "backfill")
        (System.nanoTime() - t0) / 1e9
      }
    }

    // warm-up: JIT and codegen caches on the same code paths as the loop
    val tWarm = System.nanoTime()
    var day = Inputs.firstDay + historyDays
    def nextBatch(traced: Boolean): Op = {
      val op = timedCall(Inputs.dailyDocs(a.seed, day, redeliver = true),
        s"day-$day", day, traced)
      day += 1
      op
    }
    def backfillOnce(traced: Boolean): Op = {
      deleteTree(tableDir)
      expected.clear()
      timedCall(backfillDocs, "backfill", Inputs.firstDay + backfillDays - 1, traced)
    }
    for (i <- 1 to warmupCalls(daily)) {
      val traced = a.trace && i == warmupCalls(daily)
      if (daily) nextBatch(traced) else backfillOnce(traced)
    }
    val warmS = (System.nanoTime() - tWarm) / 1e9

    // the measured closed loop; with tracing, every other call is traced
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    while (ops.size < minOps || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val traced = a.trace && ops.size % 2 == 0
      ops += (if (daily) nextBatch(traced) else backfillOnce(traced))
    }

    val untraced = ops.filter(_.layers.isEmpty)
    val runS = median(untraced.map(_.seconds).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", sessionS + median(reps) + warmS, "s"),
        ("run_s", runS, "s"),
        // median size over median time: daily batch sizes vary (15-18
        // documents), and a per-call ratio would add that to the noise
        ("docs_per_s", median(untraced.map(_.docs.toDouble).toSeq) / runS, "docs/s"),
        ("stored_bytes_per_row", dirBytes(tableDir).toDouble / tableRows, "B/row"),
        ("peak_heap_mb", median(untraced.map(_.peakHeap.toDouble).toSeq) / 1048576.0,
          "MiB"))
      else {
        val traced = ops.flatMap(_.layers)
        val keys = traced.head.keys.toSeq.filter(_ != "trace.total_ms").sorted
        keys.map(k => (k, median(traced.map(_(k)).toSeq), unit(k))) ++ Seq(
          ("trace.overhead_ms",
            median(traced.map(_("trace.total_ms")).toSeq) - runS * 1000, "ms"),
          ("trace.traced_ops", traced.size.toDouble, "count"))
      }
    if (a.trace) tracer.close()
    val context = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> cores, "nproc" -> Runtime.getRuntime.availableProcessors,
      "ops" -> ops.size, "untraced_ops" -> untraced.size,
      "op_seconds" -> ops.map(_.seconds),
      "op_peak_heap_mb" -> ops.map(_.peakHeap / 1048576.0),
      "heap_pools" -> heapPools.map(_.getName),
      "docs_per_op" -> ops.map(_.docs).distinct,
      "session_s" -> sessionS, "setup_rep_s" -> reps, "warmup_s" -> warmS,
      "history_days" -> (if (daily) historyDays else 0),
      "table_rows" -> tableRows, "table_bytes" -> dirBytes(tableDir),
      "table_fs" -> filesystem(work), "local_dir" -> localDir,
      "local_dir_detail" -> localDirDetail, "failures" -> failures.take(5))
    println(json(Map("context" -> context)))
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }.to(mutable.LinkedHashMap))
    spark.stop()
    println(json(result))
    failures.isEmpty
  }

  private def unit(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.contains("bytes")) "B"
    else if (k.endsWith("write_amp")) "ratio"
    else "count"
}
