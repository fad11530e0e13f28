package perfbench

import java.nio.file.{Files, Paths}
import java.time.{Clock, LocalDate, ZoneOffset}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, QueryDef, Registry}
import graft.config.{JobConfig, MetaConfig, SourceConfig, TargetConfig}
import graft.jobs.Report1Job

/** One timed call into a layer: name, parent span, start and end, and the
  * CPU time the whole process used meanwhile. Times are milliseconds since
  * the recorder was created (from System.nanoTime).
  */
final class Span(val id: Int, val parent: Int, val name: String,
    val startMs: Double, val cpuStartMs: Double) {
  var endMs: Double = Double.NaN
  var cpuMs: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
}

/** Span recorder for the single client thread. Spans stay in memory and are
  * written out with the result when the run ends.
  */
final class Spans {
  private val t0 = System.nanoTime()
  private var stack = List.empty[Span]
  val all: ArrayBuffer[Span] = ArrayBuffer()

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def now: Double = (System.nanoTime() - t0) / 1e6

  /** CPU time of the whole process since it started, in ms. */
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  def apply[T](name: String, attrs: (String, Any)*)(body: Span => T): T = {
    val s = new Span(all.size, stack.headOption.fold(-1)(_.id), name, now,
      cpuMs)
    s.attrs ++= attrs
    all += s
    stack = s :: stack
    try body(s)
    finally {
      s.endMs = now
      s.cpuMs = cpuMs - s.cpuStartMs
      stack = stack.tail
    }
  }
}

/** Spark's public listener counters, cumulative. `flush` runs a one-task
  * marker job and waits until this listener has seen it end: the shared
  * listener queue is FIFO, so every event of earlier jobs and SQL executions
  * has been delivered by then and a snapshot is exact. Marker tasks are not
  * counted.
  */
final class ExecCounters(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val MarkerKey = "perfbench.marker"
  private val markerStages = mutable.Set[Int]()
  private val markerJobs = mutable.Set[Int]()
  @volatile private var latch = new CountDownLatch(0)
  private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (e.properties != null && e.properties.getProperty(MarkerKey) != null) {
      markerJobs += e.jobId
      markerStages ++= e.stageIds
    } else add("jobs", 1)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.remove(e.jobId)) latch.countDown()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (!markerStages(e.stageInfo.stageId)) add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!markerStages(e.stageId)) {
      add("tasks", 1)
      if (e.reason != org.apache.spark.Success) add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        add("run_ms", m.executorRunTime)
        add("cpu_ms", m.executorCpuTime / 1e6)
        add("gc_ms", m.jvmGCTime)
        add("scheduler_delay_ms", math.max(0L, info.finishTime -
          info.launchTime - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime))
        add("input_bytes", m.inputMetrics.bytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spill_bytes", m.diskBytesSpilled)
      }
    }

  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      add(s"${phase}_ms", p.durationMs)
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)

  def flush(): Unit = {
    val sc = spark.sparkContext
    latch = new CountDownLatch(1)
    sc.setLocalProperty(MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    if (!latch.await(120, TimeUnit.SECONDS))
      throw new IllegalStateException("listener marker never arrived")
  }

  def snapshot(): Map[String, Double] = c.toMap

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** The benchmark's JVM side. One process runs one workload against the
  * inputs run.py generated, through the engine's public entry points, and
  * writes `result.json` with every span, counter and check input; run.py
  * turns that into metrics.
  *
  *   mode=etl    cold backfill, then one-day increments of Report1Job
  *   mode=mix    cold pass, warm passes and an oracle dump of registry queries
  */
object Harness {
  private val Modules = Seq(
    "CoreRelational" -> graft.ops.CoreRelational.queries,
    "TpchShapes" -> graft.ops.TpchShapes.queries,
    "StatsOps" -> graft.ops.StatsOps.queries,
    "EventBars" -> graft.ops.EventBars.queries,
    "Similarity" -> graft.ops.Similarity.queries,
    "Dedup" -> graft.ops.Dedup.queries,
    "Curation" -> graft.ops.Curation.queries,
    "TextOps" -> graft.ops.TextOps.queries)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val cpus = o("cpus").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", o("out") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val spans = new Spans
    val result = mutable.LinkedHashMap[String, Any](
      "setup_wall_s" ->
        (System.currentTimeMillis() - o("spawn-ms").toLong) / 1e3,
      "setup_cpu_s" -> spans.cpuMs / 1e3)
    try o("mode") match {
      case "etl" => etl(spark, o, spans, result)
      case "mix" => mix(spark, o, spans, result)
    } finally {
      spans("stop")(_ => spark.stop())
      result("spans") = spans.all.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "cpu_ms" -> s.cpuMs, "attrs" -> s.attrs.toMap))
      result("peak_rss_mb") = peakRssMb()
      val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
      Files.writeString(Paths.get(o("out"), "result.json"),
        mapper.writeValueAsString(result))
    }
  }

  /** A traced warm operation gets the listener counters its span covered,
    * flushed outside the span; untraced ones give the overhead's baseline.
    */
  private def counted(spark: SparkSession, traced: Boolean)(
      body: => Span): Unit =
    if (!traced) body
    else {
      val ec = new ExecCounters(spark)
      ec.register()
      try {
        ec.flush()
        val before = ec.snapshot()
        val span = body
        ec.flush()
        ec.snapshot().foreach { case (k, v) =>
          span.attrs(s"exec.$k") = v - before.getOrElse(k, 0.0)
        }
      } finally ec.unregister()
    }

  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  /** Codegen work the cold operation paid, and what it left cached. */
  private def coldAttrs(spark: SparkSession, span: Span,
      before: (Long, Double)): Unit = {
    val after = codegen()
    span.attrs("codegen.compiles") = after._1 - before._1
    span.attrs("codegen.compile_ms") = after._2 - before._2
    val storage = spark.sparkContext.getRDDStorageInfo
    span.attrs("exec.storage_bytes") =
      storage.map(i => i.memSize + i.diskSize).sum
    span.attrs("exec.cached_rdds") = storage.length
  }

  // ------------------------------------------------------------------ ETL
  private def etl(spark: SparkSession, o: Map[String, String], spans: Spans,
      result: mutable.Map[String, Any]): Unit = {
    val cols = Seq("ISIN", "Mnemonic", "Date", "Time", "StartPrice",
      "EndPrice", "MinPrice", "MaxPrice", "TradedVolume")
    val out = o("out")
    val cfg = JobConfig(
      SourceConfig(uri = "file://" + o("source"),
        firstExtractDate = o("first-date"), columns = cols,
        colDate = "Date", colIsin = "ISIN", colTime = "Time",
        colStartPrice = "StartPrice", colMinPrice = "MinPrice",
        colMaxPrice = "MaxPrice", colTradedVol = "TradedVolume"),
      TargetConfig(uri = s"file://$out/target",
        key = "report1/xetra_daily_report1_", keyDateFormat = "yyyyMMdd_HHmmss",
        format = "parquet", colIsin = "ISIN", colDate = "Date",
        colOpPrice = "opening_price_eur", colClosPrice = "closing_price_eur",
        colMinPrice = "minimum_price_eur", colMaxPrice = "maximum_price_eur",
        colDailyTradedVol = "daily_traded_volume",
        colChPrevClos = "change_prev_closing_%"),
      MetaConfig(metaUri = s"file://$out/meta/meta_file.csv"))

    def run(kind: String, day: LocalDate, traced: Boolean): Unit = {
      val clock = Clock.fixed(day.atTime(20, 0).toInstant(ZoneOffset.UTC),
        ZoneOffset.UTC)
      counted(spark, traced)(spans(kind, "day" -> day.toString,
          "traced" -> traced) { op =>
        try {
          val job = new Report1Job(spark, cfg, clock)
          val dates = spans("meta.pending")(_ => job.extractDates)
          op.attrs("extract_dates") = dates
          op.attrs("extract_date") = job.extractDate
          val bars = spans("jobs.extract")(_ => job.extract())
          val report = spans("jobs.transform")(_ => job.transform(bars))
          spans("jobs.load")(_ => job.load(report))
        } catch { case t: Throwable => op.attrs("error") = t.toString }
        op
      })
    }

    val cg = codegen()
    run("cold", LocalDate.parse(o("backfill-end")), traced = false)
    coldAttrs(spark, spans.all.head, cg)
    val deadline = spans.now + o("seconds").toDouble * 1000
    val days = o("increments").split(",").map(LocalDate.parse)
    val trace = o("trace") == "1"
    var i = 0
    while (i < days.length && (i < EtlMinWarm || spans.now < deadline)) {
      run("warm", days(i), traced = trace && abba(i))
      i += 1
    }
    result("live_heap_mb") = liveHeapMb()
  }

  /** Traced warm operations follow untraced, traced, traced, untraced, ...
    * so a warm-up trend weighs on both kinds alike.
    */
  private def abba(i: Int): Boolean = i % 4 == 1 || i % 4 == 2

  /** Fewest warm operations a run makes, even past its warm window of
    * `seconds`. Each increment costs less CPU than the one before it for
    * longer than a short window lasts (the JIT is still compiling), so a
    * window that ends after a count that depends on the host's speed would
    * move the median; a floor that outlasts the window fixes the set of
    * increments the median is taken over. The mix makes three passes for a
    * median, four when traced so that two of them carry counters.
    */
  private val EtlMinWarm = 5

  private def mixMinWarm(o: Map[String, String]): Int =
    if (o("trace") == "1") 4 else 3

  // ---------------------------------------------------------------- mixes
  private def mix(spark: SparkSession, o: Map[String, String], spans: Spans,
      result: mutable.Map[String, Any]): Unit = {
    val dir = o("data")
    val names = o("queries").split(",").toSeq
    val defs: Map[String, QueryDef] = names.map(n => n -> Registry.all(n)).toMap
    val module = names.map(n => n -> Modules.collectFirst {
      case (m, qs) if qs.contains(n) => m
    }.getOrElse("other")).toMap
    val rnd = new scala.util.Random(o("seed").toLong)

    // Every materialization counts its rows as it runs (Dataset.observe);
    // the counts are read after the timed passes.
    val observed = ArrayBuffer[(Span, Observation)]()

    def pass(kind: String, traced: Boolean): Unit =
      counted(spark, traced)(spans(kind, "traced" -> traced) { op =>
        rnd.shuffle(names).foreach { n =>
          spans("query", "query" -> n, "module" -> module(n)) { q =>
            val obs = Observation(s"rows_${q.id}")
            try {
              defs(n).fn(spark, dir).observe(obs, count(lit(1)).as("n"))
                .write.format("noop").mode("overwrite").save()
              observed += q -> obs
            } catch { case t: Throwable => q.attrs("error") = t.toString }
          }
        }
        op
      })

    val cg = codegen()
    pass("cold", traced = false)
    coldAttrs(spark, spans.all.head, cg)
    val deadline = spans.now + o("seconds").toDouble * 1000
    val trace = o("trace") == "1"
    var i = 0
    while (i < mixMinWarm(o) || spans.now < deadline) {
      System.gc()
      pass("warm", traced = trace && abba(i))
      i += 1
    }
    result("live_heap_mb") = liveHeapMb()

    observed.foreach { case (q, obs) => q.attrs("rows") = obs.get("n") }

    // Oracle gate input, outside every timed span: each result as parquet.
    val gate = mutable.LinkedHashMap[String, Any]()
    spans("gate") { _ =>
      names.foreach { n =>
        gate(n) =
          try {
            defs(n).fn(spark, dir).write.parquet(s"${o("out")}/dump/$n")
            Map("oracle" -> defs(n).oracle.orNull)
          } catch { case t: Throwable => Map("error" -> t.toString) }
      }
    }
    result("gate") = gate
  }

  /** Heap in use after a full collection, in MB, taken after the last warm
    * operation outside every span: what the session still holds. Spark's
    * cleaner drops the blocks of broadcasts and shuffles a collection found
    * unreachable on its own thread, so the collection repeats, 200 ms apart,
    * until the figure stops falling (five at most).
    */
  private def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = Double.MaxValue
    var used = collect()
    var n = 1
    while (n < 5 && used < prev - 0.5) {
      Thread.sleep(200)
      prev = used
      used = collect()
      n += 1
    }
    used
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
