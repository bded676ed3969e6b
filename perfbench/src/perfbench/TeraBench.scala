package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker

import graft.Scratch
import graft.sources.BinaryRecords

/** The TeraSort benchmark: the input is generated from the seed and
  * written once, then one closed-loop client runs TeraSort → TeraValidate
  * over it, one operation at a time, for a fixed time.
  *
  * Usage: TeraBench --workload W --seed N --seconds S --trace 0|1
  *                  --cores C --work DIR --out FILE
  *
  * Writes the result to FILE, each operation's record to FILE.ops.jsonl as
  * it completes, and (traced runs) the spans to FILE.spans.jsonl.
  */
object TeraBench {
  final case class Workload(name: String, skew: Boolean)
  val Workloads = Seq(Workload("terasort", skew = false), Workload("terasort_skew", skew = true))

  /** Rows per operation (100 bytes each) and per set-up warm-up. */
  val Rows = 1000000L
  val WarmRows = 1000000L
  val SetupReps = 3

  final case class Conf(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: Path, out: Path)

  def parse(args: Array[String]): Conf = {
    require(args.length % 2 == 0, s"arguments must be --key value pairs: ${args.mkString(" ")}")
    val kv = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad argument $k"); k.drop(2) -> v
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "cores", "work", "out")
    val unknown = kv.keySet -- known
    require(unknown.isEmpty, s"unknown arguments: ${unknown.mkString(", ")}")
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String) = get(k).toIntOption.getOrElse(throw new IllegalArgumentException(s"--$k is not an integer: ${get(k)}"))
    val w = Workloads.find(_.name == get("workload"))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${get("workload")}"))
    val seed = get("seed").toLongOption.getOrElse(throw new IllegalArgumentException(s"--seed is not an integer"))
    val cores = int("cores")
    val nproc = Runtime.getRuntime.availableProcessors()
    require(cores >= 1 && cores <= nproc, s"--cores $cores is outside 1..$nproc")
    val seconds = int("seconds")
    require(seconds >= 1, s"--seconds must be positive")
    require(Set("0", "1").contains(get("trace")), s"--trace must be 0 or 1")
    Conf(w, seed, seconds, get("trace") == "1", cores, Path.of(get("work")), Path.of(get("out")))
  }

  def session(c: Conf): SparkSession = {
    // Bench's session settings, with every scratch path inside the work dir
    val b = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("perfbench")
      .config("spark.local.dir", Scratch.diskTmp)
      .config("spark.sql.warehouse.dir", c.work.resolve("warehouse").toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    if (c.trace) b.config("spark.sql.extensions", classOf[TrackerCapture].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** max(xs) / base, NaN when there is nothing to compare. */
  private def maxOver(xs: Seq[Double], base: => Double): Double =
    if (xs.isEmpty) Double.NaN else xs.max / base

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def delete(dir: String): Unit = {
    val p = Path.of(dir)
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }

  private def dirBytes(dir: String): Long =
    Validate.partFiles(dir).map(f => Files.size(Path.of(f))).sum

  private def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble * 1024 / 1e6)
      .getOrElse(throw new IllegalStateException("VmHWM missing from /proc/self/status"))

  /** Per-layer counts, reported from the first measured operation rather
    * than as a median: Spark's RangePartitioner seeds its sample with the
    * RDD id, so each later operation in a run draws a different sample and
    * cuts the key range slightly differently. The first operation's RDD ids
    * are fixed by the set-up, so these repeat exactly across runs. */
  val Counts = Set("sources.write_bytes", "sources.read_bytes", "sources.scan_amp", "sources.sample_jobs",
    "exchange.write_bytes", "exchange.write_records", "exchange.read_bytes", "exchange.part_skew",
    "sort.spill_mem_bytes", "sort.spill_disk_bytes", "scheduler.jobs", "scheduler.stages", "scheduler.tasks")

  final case class OpResult(sortS: Double, cpuS: Double, stealS: Double, error: Option[String],
      layers: Map[String, Double])

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** CPU time the hypervisor withheld from this machine's vCPUs, summed. */
  private def stealS(): Double =
    Files.readAllLines(Path.of("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100

  private def inDir(c: Conf) = c.work.resolve("in").toString

  /** Runs `body` as a span under `parent` on traced runs. */
  private def layer[T](spark: SparkSession, tracer: Option[Tracer], name: String, parent: Long)(
      body: => T): (T, Option[Span]) = tracer match {
    case Some(t) => val (r, s) = t.span(spark.sparkContext, name, parent)(_ => body); (r, Some(s))
    case None => (body, None)
  }

  /** Generates `rows` records from the seed and writes them as the sort
    * input; returns the wall seconds and, on traced runs, the span. */
  def generate(spark: SparkSession, c: Conf, rows: Long, tracer: Option[Tracer]): (Double, Option[Span]) = {
    delete(inDir(c))
    val t0 = System.nanoTime()
    val (_, span) = layer(spark, tracer, "sources.write", 0L) {
      BinaryRecords.write(Gen.frame(spark, c.seed, c.workload.skew, rows, 2 * c.cores), inDir(c))
    }
    ((System.nanoTime() - t0) / 1e9, span)
  }

  /** One operation: TeraSort the input, then validate the output against
    * the generator's count and checksum. Layer metrics are filled in on
    * traced runs. */
  def operation(spark: SparkSession, c: Conf, expected: (Long, Long),
      tracer: Option[Tracer], parent: Long): OpResult = {
    val out = c.work.resolve("out").toString
    delete(out)
    val gc0 = gcMs()
    val c0 = processCpuS()
    val s0 = stealS()
    val t0 = System.nanoTime()
    val (_, sortSpan) = layer(spark, tracer, "terasort", parent) {
      BinaryRecords.terasort(spark, inDir(c), out, 4 * c.cores)
    }
    val sortS = (System.nanoTime() - t0) / 1e9
    val cpu = processCpuS() - c0
    val steal = stealS() - s0
    val gc = gcMs() - gc0
    val (error, _) = layer(spark, tracer, "validate", parent)(Validate.check(spark, out, expected))
    val layers = tracer.fold(Map.empty[String, Double]) { t =>
      ListenerDrain(spark.sparkContext)
      val m = layerMetrics(t, c, sortSpan.get, dirBytes(inDir(c)), gc)
      t.clear()
      m
    }
    OpResult(sortS, cpu, steal, error, layers)
  }

  /** Per-layer metrics of one traced operation, all within its TeraSort
    * call. */
  def layerMetrics(t: Tracer, c: Conf, sort: Span, inputBytes: Long, gcMs: Long): Map[String, Double] = {
    val (js, ss) = t.under(sort.id)
    val reduce = ss.filter(_.isReduce)
    val sampleJobs = js.filter { j =>
      val st = ss.filter(_.job == j.id)
      st.nonEmpty && st.forall(_.isSample)
    }
    val reads = reduce.flatMap(_.taskRead).map(_.toDouble)
    val reduceTaskMs = reduce.flatMap(_.taskMs).map(_.toDouble)
    val sortMs = (sort.endMs - sort.startMs).toDouble
    val busyS = ss.map(_.busyMs).sum / 1e3
    val phases = CaptureRule.drain().filter(_._2 == sort.id).map(_._1)
    def phaseMs(p: String) = phases.flatMap(_.phases.get(p)).map(_.durationMs).sum.toDouble
    val analysis = phaseMs(QueryPlanningTracker.ANALYSIS)
    val optimization = phaseMs(QueryPlanningTracker.OPTIMIZATION)
    val planning = phaseMs(QueryPlanningTracker.PLANNING)
    def sum(f: StageAgg => Long) = ss.map(f).sum.toDouble
    def wallS(xs: Seq[StageAgg]) = xs.map(s => s.doneMs - s.submitMs).sum / 1e3
    Map(
      "sources.write_bytes" -> sum(_.output),
      "sources.read_bytes" -> sum(_.input),
      "sources.scan_amp" -> sum(_.input) / inputBytes,
      "sources.sample_jobs" -> sampleJobs.size.toDouble,
      "exchange.write_bytes" -> sum(_.shWrite),
      "exchange.write_records" -> sum(_.shWriteRecs),
      "exchange.read_bytes" -> sum(_.shRead),
      "exchange.fetch_wait_ms" -> sum(_.fetchWaitMs),
      "exchange.part_skew" -> maxOver(reads, reads.sum / reads.size),
      "sort.spill_mem_bytes" -> sum(_.spillMem),
      "sort.spill_disk_bytes" -> sum(_.spillDisk),
      "sort.peak_exec_mem_bytes" -> ss.map(_.peakMem).maxOption.fold(0.0)(_.toDouble),
      "sort.sample_s" -> sampleJobs.map(j => j.endMs - j.startMs).sum / 1e3,
      "sort.map_s" -> wallS(ss.filter(_.isMap)),
      "sort.reduce_s" -> wallS(reduce),
      "sort.reduce_straggler" -> maxOver(reduceTaskMs, median(reduceTaskMs)),
      "scheduler.jobs" -> js.size.toDouble,
      "scheduler.stages" -> ss.size.toDouble,
      "scheduler.tasks" -> ss.map(_.tasks).sum.toDouble,
      "scheduler.task_busy_s" -> busyS,
      "scheduler.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "scheduler.busy_frac" -> busyS * 1e3 / (sortMs * c.cores),
      "scheduler.no_job_s" -> t.idleMs(js, sort.startMs, sort.endMs) / 1e3,
      "catalyst.analysis_ms" -> analysis,
      "catalyst.optimization_ms" -> optimization,
      "catalyst.planning_ms" -> planning,
      "catalyst.wall_frac" -> (analysis + optimization + planning) / sortMs,
      "jvm.gc_s" -> gcMs / 1e3)
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    Scratch.init()
    Files.createDirectories(c.work)
    val opsFile = Path.of(c.out.toString + ".ops.jsonl")
    Files.deleteIfExists(opsFile)
    Files.deleteIfExists(c.out)
    val runId = s"${c.workload.name}-s${c.seed}-t${if (c.trace) 1 else 0}-${System.currentTimeMillis()}"
    val tracer = if (c.trace) Some(new Tracer) else None
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileMs0 = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum

    // set-up: session start, a warm-up input and one warm-up operation
    // (JIT, codegen, scheduler), repeated; the last session stays up.
    // Warm-up operations are validated and counted like measured ones.
    var attempted, failed = 0
    var spark: SparkSession = null
    val setupS = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(c)
      tracer.foreach(spark.sparkContext.addSparkListener)
      generate(spark, c, WarmRows, None)
      val warm = operation(spark, c, Gen.checksum(spark, c.seed, c.workload.skew, WarmRows, c.cores), None, 0L)
      attempted += 1
      warm.error.foreach { e => failed += 1; System.err.println(s"perfbench: warm-up output invalid: $e") }
      (System.nanoTime() - t0) / 1e9
    }
    // the measured input, written once, as TeraGen writes it once for many sorts
    val (genS, genSpan) = generate(spark, c, Rows, tracer)
    val expected = Gen.checksum(spark, c.seed, c.workload.skew, Rows, 2 * c.cores)
    val sc = spark.sparkContext
    tracer.foreach { t => ListenerDrain(sc); t.clear(); CaptureRule.drain() }

    val mb = Rows * Gen.RecordLen / 1e6
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    val ok = Seq.newBuilder[OpResult]
    var measured = 0
    while (measured == 0 || System.nanoTime() < deadline) {
      val res = try {
        tracer match {
          case Some(t) => t.span(sc, s"op $measured", 0L)(id => operation(spark, c, expected, tracer, id))._1
          case None => operation(spark, c, expected, None, 0L)
        }
      } catch { case NonFatal(e) => OpResult(Double.NaN, Double.NaN, Double.NaN, Some(e.toString), Map.empty) }
      attempted += 1
      if (res.error.isEmpty) ok += res else failed += 1
      val line = Json.obj("op" -> measured, "sort_mb_s" -> mb / res.sortS, "sort_cpu_s" -> res.cpuS,
        "steal_s" -> res.stealS, "error" -> res.error.orNull, "layers" -> res.layers)
      Files.write(opsFile, (line + "\n").getBytes(UTF_8), StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      measured += 1
    }
    val ops = ok.result()
    val endToEnd = Map(
      "setup_s" -> median(setupS),
      "sort_mb_s" -> median(ops.map(mb / _.sortS)),
      "peak_rss_mb" -> peakRssMb())
    val perLayer = tracer.fold(Map.empty[String, Double]) { _ =>
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1e6
      val keys = ops.headOption.fold(Set.empty[String])(_.layers.keySet)
      keys.map(k => k -> (if (Counts(k)) ops.head.layers(k) else median(ops.map(_.layers(k))))).toMap ++ Map(
        "codegen.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
        "codegen.compile_ms" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum - compileMs0).toDouble,
        "jvm.heap_peak_mb" -> heapPeak,
        "sources.write_s" -> genSpan.fold(Double.NaN)(s => (s.endMs - s.startMs) / 1e3))
    }
    val metrics = if (c.trace) perLayer else endToEnd
    tracer.foreach { t =>
      val lines = t.spans.map(s => Json.obj("run" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
      Files.write(Path.of(c.out.toString + ".spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    val result = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Map("value" -> v, "unit" -> Units.of(k)) }.toMap,
      "run" -> runId,
      "workload" -> c.workload.name,
      "seed" -> c.seed,
      "cores" -> c.cores,
      "rows_per_op" -> Rows,
      "setup_s_reps" -> setupS,
      "gen_mb_s" -> mb / genS,
      "end_to_end" -> endToEnd)
    Files.write(c.out, result.getBytes(UTF_8))
    spark.stop()
  }
}

/** Unit of each reported metric, by name. */
object Units {
  def of(name: String): String = name match {
    case "setup_s" => "s"
    case "sort_mb_s" => "MB/s"
    case "peak_rss_mb" | "jvm.heap_peak_mb" => "MB"
    case n if n.endsWith("_bytes") => "bytes"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_records") => "count"
    case "sources.scan_amp" | "exchange.part_skew" | "sort.reduce_straggler"
       | "scheduler.busy_frac" | "catalyst.wall_frac" => "ratio"
    case _ => "count"
  }
}

/** Minimal JSON rendering for the benchmark's records. Doubles keep every
  * digit; a non-finite double is written as null. */
object Json {
  def obj(kv: (String, Any)*): String = render(kv.toMap)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => str(k.toString) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
