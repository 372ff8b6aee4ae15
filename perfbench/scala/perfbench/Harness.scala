package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Telemetry
import graft.queries.Registry
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark JVM over one workload.
  *
  * It builds the session once, runs an untimed check pass that writes
  * every query's result as parquet (run.py digests them), runs a fixed
  * number of warm passes, and then runs timed passes until the time
  * budget is spent.
  * Every pass visits the workload's queries in an order drawn from the
  * seed. With tracing on, timed passes run untraced and traced in the
  * order U T T U U T T U ..., so a trend across passes cancels out of
  * the difference between the two kinds, which is the tracing overhead.
  * Traced passes attach the listeners and record spans.
  *
  * Usage:
  *   Harness --list
  *   Harness <data dir> <q1,q2,...> <seed> <warm passes> <timed seconds>
  *           <trace 0|1> <check dir> <result file>
  */
object Harness {

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Warm-up is a fixed number of passes per workload, set where the
    * measured pass times flatten. On 4 cores they fall steeply for the
    * first five to eight passes; after that the JIT keeps compiling
    * Spark's generated classes and takes another 10-20% off over the
    * next twenty passes or more, which no run can wait out. A fixed
    * count puts every run at the same point of that slow trend. The
    * warm-up counts as steady when its last SteadyWindow passes are
    * within SteadyShare of each other; run.py warns when it is not. */
  private val SteadyWindow = 3
  private val SteadyShare = 0.10
  private val MinTimedPasses = 2

  private def steady(walls: Seq[Double]): Boolean =
    walls.size >= SteadyWindow && {
      val last = walls.takeRight(SteadyWindow)
      last.max <= last.min * (1 + SteadyShare)
    }

  def main(argv: Array[String]): Unit = argv match {
    case Array("--list") => Registry.specs.foreach(s => println(s.name))
    case Array(data, queries, seed, warmPasses, seconds, trace, checkDir, out) =>
      run(data, queries.split(",").toSeq, seed.toLong, warmPasses.toInt, seconds.toDouble,
        trace == "1", checkDir, out)
    case _ =>
      System.err.println("usage: Harness --list | Harness <data dir> <q1,q2,...> " +
        "<seed> <warm passes> <timed seconds> <trace 0|1> <check dir> <result file>")
      sys.exit(2)
  }

  /** The session settings of `graft.Bench`, stated once for the benchmark. */
  private def session(cpus: Int, inputBytes: Long): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        math.min(1024L, math.max(cpus.toLong, inputBytes * 8 / (64L << 20))).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()

  private def dirBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return 0L
    val walk = Files.walk(root)
    try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally walk.close()
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  final case class Exec(name: String, buildS: Double, executeS: Double,
                        error: Option[String])

  final case class Pass(kind: String, wallS: Double, cpuS: Double,
                        gcMs: Long, jitMs: Long, execs: Seq[Exec],
                        telemetry: Map[String, Long], listener: Map[String, Long],
                        warehouseBytes: Long, warehouseTables: Int)

  /** Spans kept in memory and written out with the result: a layer
    * name, the span's parent (a span id, `g<job group>` for a Spark job,
    * or empty when only time places it) and its interval in epoch
    * microseconds. */
  final class Spans {
    private val anchorMs = System.currentTimeMillis()
    private val anchorNs = System.nanoTime()
    private val ids = new AtomicLong
    private val buf = mutable.ArrayBuffer.empty[Seq[Any]]
    def usOf(nanoTime: Long): Long = anchorMs * 1000 + (nanoTime - anchorNs) / 1000
    def nowUs: Long = usOf(System.nanoTime())
    def nextId(prefix: String): String = s"$prefix${ids.incrementAndGet()}"
    def add(id: String, parent: String, layer: String, name: String,
            startUs: Long, endUs: Long): Unit =
      synchronized { buf += Seq(id, parent, layer, name, startUs, endUs) }
    def all: Seq[Seq[Any]] = synchronized(buf.toList)
  }

  /** Listener-side counters and spans for traced passes: scheduler,
    * executor, shuffle, input/output and Catalyst phase times. */
  final class Tracer(spans: Spans) extends SparkListener with QueryExecutionListener {
    private val counters = new ConcurrentHashMap[String, AtomicLong]()
    private val jobOfStage = new ConcurrentHashMap[Int, String]()
    private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()

    private def add(key: String, v: Long): Unit =
      counters.computeIfAbsent(key, _ => new AtomicLong).addAndGet(v)

    def snapshot(): Map[String, Long] =
      counters.asScala.map { case (k, v) => k -> v.getAndSet(0L) }.toMap

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("scheduler.jobs", 1)
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStarts.put(e.jobId, (e.time, group))
      e.stageIds.foreach(s => jobOfStage.put(s, s"j${e.jobId}"))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, group) =>
        spans.add(s"j${e.jobId}", if (group.isEmpty) "" else s"g$group",
          "spark.job", s"job ${e.jobId}", t0 * 1000, e.time * 1000)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      add("scheduler.stages", 1)
      val m = si.taskMetrics
      if (m != null) {
        add("executor.run_ms", m.executorRunTime)
        add("executor.cpu_ns", m.executorCpuTime)
        add("executor.deserialize_ms", m.executorDeserializeTime)
        add("executor.gc_ms", m.jvmGCTime)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("shuffle.spill_disk_bytes", m.diskBytesSpilled)
        add("shuffle.spill_memory_bytes", m.memoryBytesSpilled)
        add("sources.read_bytes", m.inputMetrics.bytesRead)
        add("sources.rows_read", m.inputMetrics.recordsRead)
        add("catalog.write_bytes", m.outputMetrics.bytesWritten)
        add("catalog.rows_written", m.outputMetrics.recordsWritten)
      }
      for (t0 <- si.submissionTime; t1 <- si.completionTime) {
        val job = Option(jobOfStage.remove(si.stageId)).getOrElse("")
        spans.add(s"t${si.stageId}.${si.attemptNumber()}", job, "spark.stage",
          s"stage ${si.stageId}", t0 * 1000, t1 * 1000)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("scheduler.tasks", 1)
      if (e.reason != org.apache.spark.Success) add("scheduler.failed_tasks", 1)
    }

    /** Record a plan's Catalyst phases. Besides every executed plan,
      * this takes each query's final DataFrame: the DSL analyzes a
      * DataFrame when it is built, before the execution that reuses it. */
    def recordPhases(qe: QueryExecution): Unit =
      for ((phase, s) <- qe.tracker.phases) {
        add(s"catalyst.${phase}_ms", s.durationMs)
        spans.add(spans.nextId("c"), "", s"catalyst.$phase", phase,
          s.startTimeMs * 1000, s.endTimeMs * 1000)
      }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("catalyst.executions", 1)
      recordPhases(qe)
    }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
      add("catalyst.executions", 1)
      recordPhases(qe)
    }
  }

  private def run(data: String, names: Seq[String], seed: Long, warmPasses: Int, seconds: Double,
                  trace: Boolean, checkDir: String, out: String): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spans = new Spans
    val runSpan = spans.nextId("s")
    val runStartUs = spans.nowUs
    graft.LocalCatalog.reset()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, dirBytes(data))
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val specs = Registry.specs.map(s => s.name -> s.run).toMap
    spark.range(1000000).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spans)
    val rng = new scala.util.Random(seed)

    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.mode("overwrite").format("noop").save()
    val toParquet: (String, DataFrame) => Unit =
      (name, df) => df.write.mode("overwrite").parquet(s"$checkDir/$name")

    def runPass(kind: String, sink: (String, DataFrame) => Unit, traced: Boolean): Pass = {
      if (traced) {
        PerfbenchBus.drain(sc, 10000L)
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      Telemetry.drain()
      val passSpan = spans.nextId("s")
      val passStartUs = spans.nowUs
      val n0 = System.nanoTime(); val c0 = osBean.getProcessCpuTime
      val gc0 = gcMs; val jit0 = jitMs
      val tel = mutable.Map.empty[String, Long].withDefaultValue(0L)
      val execs = rng.shuffle(names).map { name =>
        spark.catalog.clearCache()
        val group = spans.nextId("q")
        val qStartUs = spans.nowUs
        sc.setJobGroup(group, name, interruptOnCancel = false)
        val t0 = System.nanoTime()
        var t1 = -1L
        val error =
          try {
            val df = specs(name)(spark, data)
            t1 = System.nanoTime()
            if (traced) tracer.recordPhases(
              df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution)
            sink(name, df)
            None
          } catch {
            case e: Throwable =>
              Some(Option(e.getMessage).getOrElse(e.toString).linesIterator
                .nextOption().getOrElse("").take(300))
          }
        val t2 = System.nanoTime()
        if (t1 < 0) t1 = t2
        sc.clearJobGroup()
        Telemetry.drain().foreach { case (k, v) => tel(k) += v }
        if (traced) {
          spans.add(group, passSpan, "query", name, qStartUs, spans.nowUs)
          spans.add(spans.nextId("s"), group, "queries.build", name,
            spans.usOf(t0), spans.usOf(t1))
          spans.add(spans.nextId("s"), group, "queries.execute", name,
            spans.usOf(t1), spans.usOf(t2))
        }
        Exec(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, error)
      }
      val wall = (System.nanoTime() - n0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      val gc = gcMs - gc0; val jit = jitMs - jit0
      val listener =
        if (!traced) Map.empty[String, Long]
        else {
          if (!PerfbenchBus.drain(sc, 10000L)) tel("trace.drain_timeout") += 1
          sc.removeSparkListener(tracer)
          spark.listenerManager.unregister(tracer)
          tracer.snapshot()
        }
      if (traced) spans.add(passSpan, runSpan, "pass", kind, passStartUs, spans.nowUs)
      val warehouse = Paths.get("spark-warehouse")
      val tables =
        if (!Files.isDirectory(warehouse)) 0
        else {
          val ls = Files.list(warehouse)
          try ls.filter(Files.isDirectory(_)).count().toInt finally ls.close()
        }
      Pass(kind, wall, cpu, gc, jit, execs, tel.toMap, listener,
        dirBytes("spark-warehouse"), tables)
    }

    val check = runPass("check", toParquet, traced = false)
    val warm = mutable.ArrayBuffer.empty[Pass]
    while (warm.size < warmPasses) warm += runPass("warm", noop, traced = false)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val timed = mutable.ArrayBuffer.empty[Pass]
    val minPasses = if (trace) 2 * MinTimedPasses else MinTimedPasses
    while (timed.size < minPasses || System.nanoTime() < deadline) {
      val traced = trace && Set(1, 2).contains(timed.size % 4)
      timed += runPass(if (traced) "traced" else "timed", noop, traced)
    }
    if (trace) spans.add(runSpan, "", "run", "run", runStartUs, spans.nowUs)
    graft.operators.PairIndex.flushKeepLatest(spark)
    spark.stop()

    val json = Json.obj(
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "warm_steady" -> steady(warm.map(_.wallS).toSeq),
      "peak_rss_mb" -> peakRssMb,
      "passes" -> (Seq(check) ++ warm ++ timed).map(passJson),
      "spans" -> spans.all)
    Files.writeString(Paths.get(out), json.text)
  }

  private def passJson(p: Pass): Json.Raw = Json.obj(
    "kind" -> p.kind, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
    "gc_ms" -> p.gcMs, "jit_ms" -> p.jitMs,
    "warehouse_bytes" -> p.warehouseBytes, "warehouse_tables" -> p.warehouseTables,
    "telemetry" -> p.telemetry, "listener" -> p.listener,
    "execs" -> p.execs.map(e => Json.obj(
      "name" -> e.name, "build_s" -> e.buildS, "execute_s" -> e.executeS,
      "error" -> e.error.orNull)))

  /** Minimal JSON writer for the result file. */
  object Json {
    final case class Raw(text: String)
    def obj(kv: (String, Any)*): Raw =
      Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
    private def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    private def value(v: Any): String = v match {
      case null => "null"
      case Raw(text) => text
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Long => n.toString
      case n: Int => n.toString
      case b: Boolean => b.toString
      case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
        .mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
      case other => str(other.toString)
    }
  }
}
