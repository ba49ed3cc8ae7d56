package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.SparkEntry
import graft.core.{Dsl, Memo}
import graft.sources.MessageSources
import graft.streaming.AnomalyPipeline

/** The JVM half of the benchmark. It drives the program only through
  * its public entry points (`MessageSources.jsonlStream` into
  * `AnomalyPipeline.run`, and `SparkEntry.queries`), and it writes raw
  * measurements to `<runDir>/harness.json`. `perfbench/run.py` turns
  * those into metrics and checks the outputs.
  *
  * Usage: perfbench.Harness <workload> <runDir> key=value...
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val workload = argv(0)
    val run = Paths.get(argv(1)).toAbsolutePath
    val opts = argv.drop(2).map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val h = new Harness(run, opts)
    // exit explicitly either way: Spark's non-daemon threads would keep a
    // failed JVM alive until the runner's time limit
    val code =
      try {
        val out = workload match {
          case "stream" => h.stream()
          case "batch_cold" => h.batchCold()
          case other => sys.error(s"unknown workload $other")
        }
        Files.writeString(run.resolve("harness.json"), Json.render(out))
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    sys.exit(code)
  }
}

final class Harness(run: Path, opts: Map[String, String]) {
  private val cores = opts("cores").toInt
  private val traced = opts.get("trace").contains("1")
  private var trace: Option[Trace] = None

  private def dir(parts: String*): String = parts.foldLeft(run)(_ resolve _).toString

  private def session(nCores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nCores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nCores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.local.dir", dir("tmp"))
      .config("spark.sql.streaming.checkpointLocation", dir("ckpt"))
      .config("spark.sql.streaming.numRecentProgressUpdates", 10000L)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Installs the trace listeners on `spark` when this is a traced run. */
  private def instrument(spark: SparkSession): Unit = if (traced) {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    spark.streams.addListener(t.queryListener)
    trace = Some(t)
  }

  private def drainListeners(spark: SparkSession): Unit =
    if (traced) org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Starts the session and runs the workload's set-up once, in the
    * fresh JVM: the cold set-up a user pays. Returns the session and the
    * (wall, CPU) seconds it took.
    */
  private def setUp(ready: SparkSession => Unit): (SparkSession, (Double, Double)) = {
    val t0 = System.nanoTime()
    val cpu0 = cpuSeconds
    val spark = session(cores)
    ready(spark)
    (spark, ((System.nanoTime() - t0) / 1e9, cpuSeconds - cpu0))
  }

  private def cpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Heap in use after full collections at the end of the measured
    * work: the memory the program retains. The second collection
    * reclaims blocks the context cleaner released after the first.
    */
  private def retainedHeapMb: Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  // ---- stream: a closed backfill drain, then the live open loop -------

  private def dsl(topics: Int, windows: Seq[String]): Dsl =
    Dsl.parse((0 until topics).map(i =>
      f"topic-$i%03d" -> Map("sub.one" -> windows, "two" -> windows)).toMap)

  /** Event-time clock for replayed files: batch max ts + 1 s. */
  private val eventClock: DataFrame => Timestamp =
    df => new Timestamp(df.agg(max(col("ts"))).head().getTimestamp(0).getTime + 1000L)

  /** One running pipeline with its file sink: each trigger's anomaly
    * records are appended as JSON under `batch=<id>`, and the sink notes
    * when the write returned and how many messages the pipeline had
    * analysed by then.
    */
  private final class Stream(spark: SparkSession, d: Dsl, src: String, sinkDir: String,
      clock: Option[DataFrame => Timestamp], options: Map[String, String]) {
    val durableMs = TrieMap.empty[Long, Long]
    val emitMs = TrieMap.empty[Long, Double]
    val analysed = TrieMap.empty[Long, Long]
    val pipeline = new AnomalyPipeline(spark, d, cooldownMs = Dsl.CooldownMs)
    private def write(records: DataFrame, batchId: Long): Unit = {
      val t0 = System.nanoTime()
      records.write.mode("append").json(s"$sinkDir/batch=$batchId")
      durableMs(batchId) = System.currentTimeMillis()
      emitMs(batchId) = (System.nanoTime() - t0) / 1e6
      analysed(batchId) = pipeline.counters.analysedMessages.value
    }
    val query: StreamingQuery = AnomalyPipeline.run(pipeline,
      MessageSources.jsonlStream(spark, src, options), onBatch = write, clock = clock)

    private def progress: Seq[StreamingQueryProgress] =
      trace.map(_.progressReports.filter(_.id == query.id)).getOrElse(query.recentProgress.toSeq)

    /** The measured triggers (batch ids from `from` on) and end state. */
    def report(from: Long, wall: Double, cpu: Double): Map[String, Any] = {
      val rows = progress.filter(p => p.batchId >= from && p.numInputRows > 0).map { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val b = p.batchId
        Map("batch" -> b, "rows_read" -> p.numInputRows,
          "messages" -> (analysed(b) - analysed.getOrElse(b - 1, 0L)),
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
          "add_batch_ms" -> d.getOrElse("addBatch", 0L),
          "planning_ms" -> d.getOrElse("queryPlanning", 0L),
          "commit_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
          "latest_offset_ms" -> d.getOrElse("latestOffset", 0L),
          "emit_ms" -> emitMs(b), "durable_ms" -> durableMs(b))
      }
      Map("wall_s" -> wall, "cpu_s" -> cpu, "triggers" -> rows,
        "trigger_trace" -> triggerTrace(rows),
        "store_rows_end" -> pipeline.storedEventCount,
        "cooldown_keys_end" -> pipeline.cooldownSnapshot.size,
        "cached_bytes_end" -> cachedBytes(spark),
        "anomalies_detected" -> pipeline.counters.anomaliesDetected.value)
    }

    /** Per-trigger attribution from the trace (traced runs only). */
    private def triggerTrace(rows: Seq[Map[String, Any]]): Seq[Map[String, Any]] =
      trace.toSeq.flatMap { t =>
        drainListeners(spark)
        val units = t.attribute(Set.empty)
        rows.map { r =>
          val b = r("batch").asInstanceOf[Long]
          val u = units.getOrElse(s"t:${query.id}:$b", new Trace.Work)
          Map("batch" -> b, "jobs" -> u.jobs, "stages" -> u.stages, "tasks" -> u.tasks,
            "task_cpu_ms" -> u.cpuNs / 1e6, "gc_ms" -> u.gcMs,
            "shuffle_bytes" -> u.shuffleBytes, "spill_bytes" -> u.spillBytes,
            "input_bytes" -> u.inputBytes,
            "driver_ms" -> u.driverMs(r("trigger_ms").asInstanceOf[Long].toDouble))
        }
      }
  }

  /** Live phase: the generator process publishes at a fixed rate; spikes
    * start once every key's stats snapshot has samples with a spread.
    */
  private def live(spark: SparkSession): Map[String, Any] = {
    val topics = opts("topics").toInt
    val live = dir("live")
    Files.createFile(Paths.get(live, "start"))
    val s = new Stream(spark, dsl(topics, Seq("15m")), s"$live/src", dir("sink_live"),
      None, Map.empty)
    val q = s.query
    def armed: Boolean =
      s.analysed.values.maxOption.getOrElse(0L) >= 4L * topics &&
        s.pipeline.statsCache.count(_._5 > 0.0) >= 2 * topics
    while (!armed) {
      require(q.isActive, s"live stream stopped during set-up: ${q.exception}")
      Thread.sleep(100)
    }
    val from = s.analysed.keys.max + 1
    val cpu0 = cpuSeconds
    val t0 = System.nanoTime()
    Files.writeString(Paths.get(live, "go"), "")
    val done = Paths.get(live, "done")
    while (!Files.exists(done)) {
      require(q.isActive, s"live stream failed: ${q.exception}")
      Thread.sleep(20)
    }
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = cpuSeconds - cpu0
    q.stop()
    s.report(from, wall, cpu)
  }

  /** Backfill phase: a closed drain of the pre-written corpus. */
  private def backfill(spark: SparkSession, tag: String): Map[String, Any] = {
    val cpu0 = cpuSeconds
    val t0 = System.nanoTime()
    val s = new Stream(spark, dsl(opts("backfillTopics").toInt, Seq("15m", "1h")),
      dir("backfill", "src"), dir(s"sink_backfill$tag"), Some(eventClock),
      Map("maxFilesPerTrigger" -> opts("maxFiles")))
    s.query.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = cpuSeconds - cpu0
    // the drained corpus is fixed, so the state it leaves is too
    val heap = retainedHeapMb
    s.query.stop()
    s.report(0L, wall, cpu) + ("heap_retained_mb" -> heap)
  }

  def stream(): Map[String, Any] = {
    val warm = dsl(opts("topics").toInt, Seq("15m"))
    // set-up: a pipeline and a query over pre-written warm-up files, run
    // to completion
    val (spark, setupS) = setUp { s =>
      val w = new Stream(s, warm, dir("warm"), dir("warm_sink"), None, Map.empty)
      w.query.processAllAvailable()
      w.query.stop()
    }
    instrument(spark)
    // backfill first: its large triggers finish the JIT warm-up that the
    // live phase's small, fixed-cost triggers are sensitive to
    val b = backfill(spark, "")
    // the live phase starts from an empty block store
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val l = live(spark)
    val rss = peakRssMb
    val handler = trace.map(_.handlerSeconds).getOrElse(0.0)
    // one-core baseline of the same drain (traced runs only)
    val oneCore = if (!traced) 0.0 else {
      spark.stop()
      backfill(session(1), "_1core")("wall_s").asInstanceOf[Double]
    }
    Map("setup_wall_s" -> setupS._1, "setup_cpu_s" -> setupS._2,
      "heap_retained_mb" -> b("heap_retained_mb"), "peak_rss_mb" -> rss,
      "trace_handler_s" -> handler,
      "live" -> l, "backfill" -> b, "one_core_wall_s" -> oneCore)
  }

  // ---- batch ---------------------------------------------------------

  def batchCold(): Map[String, Any] = {
    val sfDir = opts("sfDir")
    val names = opts("queries").split(",").toSeq
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    // set-up: open every input table
    val (spark, setupS) = setUp { s =>
      tables.foreach(t => graft.queries.Tables.load(s, sfDir, t))
    }
    instrument(spark)
    Memo.resetLog()
    val sc = spark.sparkContext
    val cpu0 = cpuSeconds
    val t0 = System.nanoTime()
    val perQuery = names.map { name =>
      val q0 = System.nanoTime()
      sc.setJobGroup(name, name, interruptOnCancel = false)
      def call(): Unit =
        SparkEntry.queries(name)(spark, sfDir).write.mode("error").parquet(dir("out", name))
      trace.fold(call())(_.span(name)(call()))
      sc.clearJobGroup()
      name -> (System.nanoTime() - q0) / 1e9
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = cpuSeconds - cpu0
    val heap = retainedHeapMb
    val queryTrace = trace.toSeq.flatMap { t =>
      drainListeners(spark)
      val units = t.attribute(names.toSet)
      perQuery.map { case (name, sec) =>
        val u = units.getOrElse(s"q:$name", new Trace.Work)
        Map("query" -> name, "jobs" -> u.jobs, "stages" -> u.stages, "tasks" -> u.tasks,
          "task_cpu_s" -> u.cpuNs / 1e9, "gc_s" -> u.gcMs / 1e3,
          "shuffle_bytes" -> u.shuffleBytes, "spill_bytes" -> u.spillBytes,
          "input_bytes" -> u.inputBytes, "driver_s" -> u.driverMs(sec * 1e3) / 1e3)
      }
    }
    val builds = Memo.buildLog
    Map("setup_wall_s" -> setupS._1, "setup_cpu_s" -> setupS._2,
      "wall_s" -> wall, "cpu_s" -> cpu, "heap_retained_mb" -> heap,
      "peak_rss_mb" -> peakRssMb,
      "query_s" -> perQuery.toMap, "query_trace" -> queryTrace,
      "trace_handler_s" -> trace.map(_.handlerSeconds).getOrElse(0.0),
      "warehouse_bytes" -> dirBytes(dir("warehouse")),
      "artifact_build_s" -> builds.values.sum, "artifacts_built" -> builds.size,
      "memo_bytes_end" -> Memo.storageBytes(spark), "cached_bytes_end" -> cachedBytes(spark),
      // read after the pass: the oracles of fitted queries exist only then
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
  }
}

/** Minimal JSON rendering for the harness's raw measurements. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => graft.JsonUtil.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${render(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
