package lakebench

import org.apache.spark.lakebench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The repository's modules; per-layer metrics are reported for each. */
object Layers {
  val all: Seq[String] = Seq("sources", "mapping", "transforms", "dq", "lineage",
    "pipeline", "catalog", "streaming", "dedup", "ann", "privacy")
}

/** One micro-batch of a streaming query, as its progress event reports it. */
final case class Batch(startNs: Long, durNs: Long, rows: Long)

/** One traced call into the engine. Times are on the `System.nanoTime`
  * timeline; counters hold what ran while this span was the innermost one. */
final class Span(val id: Int, val name: String, val parent: Option[Span],
                 val opId: Long, val startNs: Long) {
  val layer: String = name.takeWhile(_ != '.')
  var endNs: Long = 0L
  val children: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  var jobs = 0
  var openJobs = 0
  var taskCpuNs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var filesRead = 0L
  val batches: mutable.ArrayBuffer[Batch] = mutable.ArrayBuffer.empty
}

/** Always-on, near-free totals for the untraced run: bytes written by tasks. */
final class Totals extends SparkListener {
  @volatile var outputBytes = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized { outputBytes += m.outputMetrics.bytesWritten }
  }
}

/** Span recorder for the traced run.
  *
  * Each span is set as the Spark local property [[Tracer.PropKey]] while it
  * is open, so every job it causes carries the span id — including jobs on
  * threads started inside it (streaming query threads, broadcast and
  * compaction pools inherit local properties). A `SparkListener` keys job,
  * stage and task metrics by that id; a `QueryExecutionListener` counts the
  * files each scan node read; a `StreamingQueryListener` records micro-batch
  * durations. At every span boundary the listener bus is drained, so a span
  * closes only after its job-end events arrived, and query and streaming
  * events (which carry no span id) land in the span that was innermost when
  * they were delivered. Drain time is recorded and left out of every span's
  * time. Spans stay in memory and are written out at the end. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def msToNs(ms: Long): Long = ms * 1000000L + offsetNs

  private var nextId = 0
  private val stack = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: Option[Span] = None
  private val byId = mutable.HashMap.empty[Int, Span]
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val jobSpan = mutable.HashMap.empty[Int, Span]
  private val jobStartNs = mutable.HashMap.empty[Int, Long]
  val roots: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  val drainIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  /** Jobs that carried no span id and were charged to the innermost span. */
  var unlabelledJobs = 0
  /** Only scans of this table location count as `catalog.files_read`. */
  @volatile var filesTable: Option[String] = None

  def spans: Seq[Span] = synchronized(byId.values.toSeq.sortBy(_.id))

  private def drain(): Unit = {
    val t0 = System.nanoTime()
    ListenerBusDrain(sc)
    synchronized(drainIntervals += ((t0, System.nanoTime())))
  }

  /** Runs `body` inside a span named `<layer>.<call>`. */
  def span[T](name: String, opId: Long)(body: => T): T = {
    drain()
    val s = synchronized {
      nextId += 1
      val sp = new Span(nextId, name, stack.lastOption, opId, System.nanoTime())
      byId(sp.id) = sp
      sp.parent.fold(roots += sp)(_.children += sp)
      sp
    }
    stack += s
    current = Some(s)
    val prev = sc.getLocalProperty(PropKey)
    sc.setLocalProperty(PropKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(PropKey, prev)
      awaitJobEnds(s)
      stack.remove(stack.size - 1)
      current = stack.lastOption
    }
  }

  /** Drains the bus until every job the span (or a child) started has ended. */
  private def awaitJobEnds(s: Span): Unit = {
    def open(x: Span): Int = x.openJobs + x.children.map(open).sum
    val deadline = System.nanoTime() + 60000000000L
    drain()
    while (synchronized(open(s)) > 0 && System.nanoTime() < deadline) {
      Thread.sleep(5)
      drain()
    }
    if (synchronized(open(s)) > 0)
      throw new IllegalStateException(s"span ${s.name}: job-end events never arrived")
  }

  private def spanOf(props: java.util.Properties): Option[Span] = {
    val id = Option(props).flatMap(p => Option(p.getProperty(PropKey)))
    id.flatMap(i => byId.get(i.toInt)).orElse {
      if (current.nonEmpty) unlabelledJobs += 1
      current
    }
  }

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStartNs(e.jobId) = msToNs(e.time)
      spanOf(e.properties).foreach { s =>
        s.jobs += 1
        s.openJobs += 1
        jobSpan(e.jobId) = s
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach(_.openJobs -= 1)
      jobStartNs.remove(e.jobId).foreach(st => jobIntervals += ((st, msToNs(e.time))))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stageSpan.get(e.stageId).foreach { s =>
        s.taskCpuNs += m.executorCpuTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private object ScanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      filesTable.foreach { table =>
        val files = collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec
            if s.relation.location.rootPaths.nonEmpty &&
              s.relation.location.rootPaths.forall(p => (pathOf(p.toUri) + "/").startsWith(table + "/")) =>
            s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum
        Tracer.this.synchronized(current.foreach(_.filesRead += files))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val start = msToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      Tracer.this.synchronized(current.foreach(_.batches += Batch(start, dur * 1000000L, p.numInputRows)))
    }
  }

  def install(): Unit = {
    sc.addSparkListener(JobListener)
    spark.listenerManager.register(ScanListener)
    spark.streams.addListener(StreamListener)
  }

  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(JobListener)
    spark.listenerManager.unregister(ScanListener)
    spark.streams.removeListener(StreamListener)
  }

  // ------------------------------------------------------------ attribution

  private lazy val jobsSorted = synchronized(jobIntervals.sortBy(_._1).toIndexedSeq)
  private lazy val drainsSorted = synchronized(drainIntervals.sortBy(_._1).toIndexedSeq)

  /** Span time with the tracer's own drains taken out. */
  def wallNs(s: Span): Long = Intervals.length(Intervals.minus(Seq(s.startNs -> s.endNs), drainsSorted))

  /** Parts of the span no child span covers, drains taken out. */
  def selfIntervals(s: Span): Seq[(Long, Long)] =
    Intervals.minus(Intervals.minus(Seq(s.startNs -> s.endNs),
      s.children.map(c => c.startNs -> c.endNs).toSeq), drainsSorted)

  def selfNs(s: Span): Long = Intervals.length(selfIntervals(s))

  /** Self time during which no Spark job was running. */
  def driverNs(s: Span): Long = Intervals.length(Intervals.minus(selfIntervals(s),
    jobsSorted.filter { case (a, b) => b > s.startNs && a < s.endNs }))

  /** Micro-batch time during which no Spark job was running. */
  def batchDriverNs(b: Batch): Long = {
    val iv = Seq(b.startNs -> (b.startNs + b.durNs))
    Intervals.length(Intervals.minus(iv,
      jobsSorted.filter { case (a, e) => e > b.startNs && a < b.startNs + b.durNs }))
  }

  /** Per-layer sums over every span of that layer. `wall_s` counts only the
    * outermost span of a layer, so nested same-layer spans are not counted
    * twice. */
  def layerMetrics(): Map[String, Double] = {
    val ss = spans
    Layers.all.flatMap { layer =>
      val mine = ss.filter(_.layer == layer)
      def outermost(s: Span): Boolean = !Iterator.iterate(s.parent)(_.flatMap(_.parent))
        .takeWhile(_.nonEmpty).flatten.exists(_.layer == layer)
      Seq(
        s"$layer.wall_s" -> mine.filter(outermost).map(wallNs).sum / 1e9,
        s"$layer.self_s" -> mine.map(selfNs).sum / 1e9,
        s"$layer.driver_s" -> mine.map(driverNs).sum / 1e9,
        s"$layer.jobs" -> mine.map(_.jobs).sum.toDouble,
        s"$layer.task_cpu_s" -> mine.map(_.taskCpuNs).sum / 1e9,
        s"$layer.input_bytes" -> mine.map(_.inputBytes).sum.toDouble,
        s"$layer.shuffle_bytes" -> mine.map(_.shuffleBytes).sum.toDouble,
        s"$layer.spill_bytes" -> mine.map(_.spillBytes).sum.toDouble,
        s"$layer.output_bytes" -> mine.map(_.outputBytes).sum.toDouble)
    }.toMap
  }

  /** Every span as one JSON object per line. */
  def spansJsonl(): String = {
    val t0 = roots.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent.map(_.id).getOrElse(0),
        "op" -> s.opId, "start_ms" -> (s.startNs - t0) / 1e6, "dur_ms" -> wallNs(s) / 1e6,
        "self_ms" -> selfNs(s) / 1e6, "driver_ms" -> driverNs(s) / 1e6, "jobs" -> s.jobs,
        "task_cpu_ms" -> s.taskCpuNs / 1e6, "input_bytes" -> s.inputBytes,
        "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes,
        "output_bytes" -> s.outputBytes, "files_read" -> s.filesRead,
        "batches" -> s.batches.size))
    }.mkString("", "\n", "\n")
  }
}

object Tracer {
  val PropKey = "lakebench.span"
  def pathOf(uri: java.net.URI): String = uri.getPath
}

/** Half-open `[start, end)` interval arithmetic on sorted or unsorted lists. */
object Intervals {
  def merge(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def minus(xs: Seq[(Long, Long)], ys: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val cut = merge(ys)
    merge(xs).flatMap { case (a, b) =>
      val out = mutable.ArrayBuffer.empty[(Long, Long)]
      var from = a
      cut.iterator.filter { case (c, d) => d > a && c < b }.foreach { case (c, d) =>
        if (c > from) out += ((from, c))
        from = math.max(from, d)
      }
      if (from < b) out += ((from, b))
      out
    }
  }

  def length(xs: Seq[(Long, Long)]): Long = merge(xs).map { case (a, b) => b - a }.sum
}
