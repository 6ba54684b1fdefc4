package lakebench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Command-line options; see README.md. Spark runs on `local[cores]` with
  * `cores = min(4, nproc)`. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, dir: Path) {
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m.getOrElse("workload", sys.error("--workload is required")),
      m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1",
      Paths.get(m.getOrElse("dir", sys.error("--dir is required"))).toAbsolutePath)
  }
}

/** Closed-loop driver for one workload: times each engine call, counts the
  * ones that throw as failed (they report no timing), groups calls into
  * steps (days) and collects correctness failures. With a tracer, every
  * call also runs inside a span. */
final class Runner(val tracer: Option[Tracer]) {
  var attempted = 0
  var failed = 0
  var rows = 0L
  var inputBytes = 0L
  var timedNs = 0L
  var cpuNs = 0L
  val stepCpu: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val steps: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private var stepNs = 0L
  private var stepCpuNs = 0L
  private var stepFailed = false
  private var opId = 0L

  def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name, opId)(body))

  /** One timed engine call of kind `kind` (the latency bucket). `rows` and
    * `bytes` count as processed input only if the call succeeds. */
  def op[T](kind: String, spanName: String, rows: Long = 0L, bytes: Long = 0L)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val c0 = Runner.processCpuNs()
    try {
      val v = span(spanName)(body)
      val d = System.nanoTime() - t0
      val c = Runner.processCpuNs() - c0
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += d / 1e9
      timedNs += d; stepNs += d; cpuNs += c; stepCpuNs += c
      this.rows += rows; inputBytes += bytes
      Some(v)
    } catch {
      case NonFatal(e) =>
        val d = System.nanoTime() - t0
        timedNs += d; stepNs += d; failed += 1; stepFailed = true
        System.err.println(s"[lakebench] $kind failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** A step: its latency is the sum of its calls; a step with a failed call
    * reports no latency. */
  def step(name: String)(body: => Unit): Unit = {
    opId += 1; stepNs = 0L; stepCpuNs = 0L; stepFailed = false
    tracer.fold(body)(_.span(s"workload.$name", opId)(body))
    if (!stepFailed) { steps += stepNs / 1e9; stepCpu += stepCpuNs / 1e9 }
  }

  def check(what: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      problems += s"$what $detail".trim
      System.err.println(s"[lakebench] CHECK FAILED: $what $detail")
    }

  def timedSeconds: Double = timedNs / 1e9
}

object Runner {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM: driver, task threads, GC and JIT. */
  def processCpuNs(): Long = os.getProcessCpuTime
}

/** One workload instance: its own inputs, namespace and pre-state. */
trait Instance {
  /** Writes the inputs the set-up needs (not timed). */
  def prepare(): Unit
  /** Builds the pre-state (timed as set-up). */
  def setup(): Unit
  /** Runs step `i` of the closed loop. */
  def step(r: Runner, i: Int): Unit
  /** Checks the end state against the ground truth. */
  def verify(r: Runner): Unit
  /** Bytes the instance keeps on disk outside its inputs. */
  def storedBytes: Long
  /** Input bytes handed to the engine so far, set-up included. */
  def inputBytesTotal: Long
  /** Steps of the fixed traced schedule. */
  def tracedSteps: Int
  /** The timed loop stops only after a whole round of this many steps, so
    * every run sees the same mix of operations. */
  def stepsPerRound: Int = 1
  /** Layer counters only this workload can compute. */
  def extraLayerMetrics(t: Tracer): Map[String, Double] = Map.empty
}

object Main {
  val workloads: Seq[String] = Seq("policy_daily_load", "curation_daily_ops")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val o = Opts.parse(args)
    require(workloads.contains(o.workload),
      s"unknown workload ${o.workload}; expected one of ${workloads.mkString(", ")}")
    Files.createDirectories(o.dir)
    val spark = Session.start(o)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val totals = new Totals
    spark.sparkContext.addSparkListener(totals)
    val env = Env(spark, o)
    val code =
      try if (o.trace) runTraced(env) else runUntraced(env, totals, sessionS)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[lakebench] run aborted: $e"); e.printStackTrace(); 3
      }
    spark.stop()
    sys.exit(code)
  }

  def instance(env: Env, ns: String): Instance = env.o.workload match {
    case "policy_daily_load" => new PolicyDailyLoad(env, ns)
    case _ => new CurationDailyOps(env, ns)
  }

  private def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  private def runUntraced(env: Env, totals: Totals, sessionS: Double): Int = {
    val spark = env.spark
    val phases = mutable.LinkedHashMap("session_s" -> sessionS)
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    // one pre-state build: a second would cost as much as the timed phase on
    // the slower workloads; setup_s steadies as a median over runs
    val inst = instance(env, "s")
    phase("generate_s")(inst.prepare())
    phase("prestate_s")(inst.setup())
    val setupS = sessionS + phases("prestate_s")
    val calFirst = phase("calibration_s")(Calibration.probe(spark))
    val r = new Runner(None)
    env.drain()
    val outBefore = totals.outputBytes
    var i = 0
    phase("loop_s")(while (r.timedSeconds < env.o.seconds || i % inst.stepsPerRound != 0) {
      inst.step(r, i); i += 1
    })
    env.drain()
    val written = totals.outputBytes - outBefore
    phase("verify_s")(inst.verify(r))
    val heap = Memory.liveHeapMb()
    val cached = Memory.cachedMb(spark)
    val calLast = Calibration.probe(spark)
    val t = r.timedSeconds
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", r.rows / t, "1/s"),
      ("ops_per_s", (r.attempted - r.failed) / t, "1/s"),
      ("step_p50_s", median(r.steps.toSeq), "s"),
      ("written_bytes_per_input_byte", written.toDouble / math.max(1L, r.inputBytes), "ratio"),
      ("stored_bytes_per_input_byte", inst.storedBytes.toDouble / math.max(1L, inst.inputBytesTotal), "ratio"),
      ("live_heap_mb", heap, "MB"))
    val latencies = r.samples.toSeq.flatMap { case (k, xs) =>
      Seq(s"${k}_p50_s" -> median(xs.toSeq)) ++
        (if (xs.size >= 100) Seq(s"${k}_p90_s" -> Stats.quantile(xs.toSeq, 0.9)) else Nil) :+
        (s"${k}_n" -> xs.size.toDouble)
    } ++ Seq("step_n" -> r.steps.size.toDouble, "step_cpu_p50_s" -> median(r.stepCpu.toSeq),
      "cpu_s_per_op" -> r.cpuNs / 1e9 / math.max(1, r.attempted - r.failed))
    val detail = (e2e.map { case (k, v, _) => k -> v } ++ latencies ++ Seq(
      "failed_frac" -> r.failed.toDouble / math.max(1, r.attempted),
      "cached_mb" -> cached, "timed_s" -> t)).toMap
    val record = RunRecord(env, Map(
      "mode" -> "untraced", "metrics" -> detail, "phases" -> phases.toMap,
      "calibration_first_s" -> calFirst, "calibration_last_s" -> calLast,
      "loaded" -> (calLast > 1.5 * calFirst || calFirst > 1.5 * calLast),
      "attempted" -> r.attempted, "failed" -> r.failed, "problems" -> r.problems.toSeq))
    val path = env.writeResult("untraced", record, None)
    println(s"[lakebench] detail ${Json.value(detail)}")
    println(s"[lakebench] run record: $path")
    emit(r, e2e)
  }

  /** Two instances run the same fixed schedule step by step in turn, one
    * untraced and one traced, so both see the same warm-up; the traced one
    * gives the per-layer metrics, the pair gives `tracing_overhead`. */
  private def runTraced(env: Env): Int = {
    val spark = env.spark
    val tracer = new Tracer(spark)
    val (iu, it) = (instance(env, "u"), instance(env, "t"))
    Seq(iu, it).foreach { i => i.prepare(); i.setup() }
    val (ru, rt) = (new Runner(None), new Runner(Some(tracer)))
    def traced(i: Int): Unit = { tracer.install(); try it.step(rt, i) finally tracer.uninstall() }
    // alternate which instance goes first, so neither pays every first use
    (0 until it.tracedSteps).foreach { i =>
      if (i % 2 == 0) { iu.step(ru, i); traced(i) } else { traced(i); iu.step(ru, i) }
    }
    iu.verify(ru)
    it.verify(rt)
    PassCompare(env, ru, rt)
    def thr(r: Runner) = (r.attempted - r.failed) / r.timedSeconds
    val layers = tracer.layerMetrics() ++ it.extraLayerMetrics(tracer) ++ Map(
      "tracing_overhead" -> (thr(ru) / thr(rt) - 1.0),
      "cached_mb" -> Memory.cachedMb(spark))
    val r = new Runner(None)
    r.attempted = ru.attempted + rt.attempted
    r.failed = ru.failed + rt.failed
    r.problems ++= ru.problems ++ rt.problems
    val record = RunRecord(env, Map("mode" -> "traced", "layers" -> layers,
      "untraced_pass_s" -> ru.timedSeconds, "traced_pass_s" -> rt.timedSeconds,
      "unlabelled_jobs" -> tracer.unlabelledJobs,
      "attempted" -> r.attempted, "failed" -> r.failed, "problems" -> r.problems.toSeq))
    val path = env.writeResult("traced", record, Some(tracer.spansJsonl()))
    println(s"[lakebench] layers ${Json.value(layers)}")
    println(s"[lakebench] run record: $path")
    emit(r, PerLayer.selected.map { case (k, u) => (k, layers.getOrElse(k, 0.0), u) })
  }

  /** Prints the summary as the last stdout line; non-zero exit on a wrong
    * result. */
  private def emit(r: Runner, metrics: Seq[(String, Double, String)]): Int = {
    val correct = r.problems.isEmpty
    val m = metrics.map { case (k, v, u) => k -> Json.obj(Seq("value" -> v, "unit" -> u)) }
    println("{" + Seq(s""""correct":$correct""", s""""attempted":${r.attempted}""",
      s""""failed":${r.failed}""",
      s""""metrics":""" + m.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}"))
      .mkString(",") + "}")
    if (correct) 0 else 1
  }
}

/** The per-layer metrics the summary line carries (the run record has all). */
object PerLayer {
  val selected: Seq[(String, String)] = Seq(
    "sources.scan_amplification" -> "ratio",
    "mapping.driver_s" -> "s", "transforms.task_cpu_s" -> "s",
    "dq.jobs" -> "count", "lineage.jobs" -> "count",
    "pipeline.self_s" -> "s", "pipeline.output_bytes" -> "B",
    "catalog.self_s" -> "s", "catalog.driver_s" -> "s",
    "catalog.files_read_ratio" -> "ratio", "catalog.rewrite_ratio" -> "ratio",
    "streaming.jobs_per_batch" -> "ratio",
    "streaming.driver_s_per_batch" -> "s", "dedup.self_s" -> "s",
    "dedup.shuffle_bytes_per_doc" -> "B", "ann.task_cpu_s" -> "s",
    "privacy.self_s" -> "s", "tracing_overhead" -> "ratio", "cached_mb" -> "MB")
}

/** Shared run context. */
final case class Env(spark: SparkSession, o: Opts) {
  val inputDir: Path = o.dir.resolve("input")
  val workDir: Path = o.dir.resolve("work")
  def drain(): Unit = org.apache.spark.lakebench.ListenerBusDrain(spark.sparkContext)

  def writeResult(mode: String, record: String, spans: Option[String]): Path = {
    val dir = o.dir.getParent.resolve("results")
    Files.createDirectories(dir)
    val stem = s"${o.workload}-seed${o.seed}-$mode"
    spans.foreach(s => Files.writeString(dir.resolve(s"$stem.spans.jsonl"), s))
    val p = dir.resolve(s"$stem.json")
    Files.writeString(p, record + "\n")
    p
  }
}

object Session {
  def start(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.default.parallelism", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", o.dir.resolve("warehouse").toString)
      .config("spark.local.dir", o.dir.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(s)
    s
  }
}

object Stats {
  /** Linear-interpolated quantile (the inclusive method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Memory {
  /** Driver heap in use after full collections. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Spark storage memory still held by cached or checkpointed blocks. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
}

/** A fixed tiny query, timed before and after the timed phase: the sign of
  * a loaded machine in the run record. The best of three timings, after a
  * full GC and one untimed warm-up. */
object Calibration {
  def probe(spark: SparkSession): Double = {
    System.gc()
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 500000L).select((col("id") % 997).as("k"))
        .groupBy("k").count()
        .agg(bit_xor(xxhash64(struct(col("k"), col("count"))))).head()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(3)(once()).min
  }
}

object RunRecord {
  def apply(env: Env, fields: Map[String, Any]): String = {
    val o = env.o
    Json.value(fields ++ Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "k" -> o.cores,
      "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> env.spark.version,
      "jvm_version" -> System.getProperty("java.runtime.version"),
      "commit" -> sys.env.getOrElse("LAKEBENCH_COMMIT", "unknown"),
      "source_sha" -> sys.env.getOrElse("LAKEBENCH_SOURCE_SHA", "unknown")))
  }
}

/** In a traced run, the untraced and traced passes ran the same schedule on
  * the same inputs; their outputs must agree. */
object PassCompare {
  def apply(env: Env, u: Runner, t: Runner): Unit = {
    t.check("traced and untraced passes attempted different work",
      u.attempted == t.attempted, s"${u.attempted} vs ${t.attempted}")
    t.check("traced and untraced passes processed different rows",
      u.rows == t.rows, s"${u.rows} vs ${t.rows}")
    val spark = env.spark
    // FileStats indexes are keyed by data-file names, which differ per write
    val tables = spark.catalog.listTables(s"${dbPrefix(env)}_u").collect().map(_.name)
      .filterNot(_.endsWith("_stats"))
    tables.foreach { name =>
      val a = spark.table(s"${dbPrefix(env)}_u.$name")
      val bName = s"${dbPrefix(env)}_t.$name"
      if (!spark.catalog.tableExists(bName)) t.check(s"traced pass lacks table $name", ok = false)
      else {
        val b = spark.table(bName)
        val cols = a.columns.filterNot(c => c == "quarantine_timestamp" || c == "timestamp")
        val same = a.columns.toSet == b.columns.toSet && {
          val x = a.select(cols.map(col): _*); val y = b.select(cols.map(col): _*)
          x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
        }
        t.check(s"traced pass wrote different rows to $name", same)
      }
    }
  }

  private def dbPrefix(env: Env): String =
    if (env.o.workload == "policy_daily_load") "w1" else "w2"
}
