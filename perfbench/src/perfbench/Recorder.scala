package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything one run records, written out as one JSON document when the
  * run ends. Both modes keep operation latencies, correctness checks and
  * streaming progress. A traced run also keeps a span per public call
  * (name, start, end, parent) and attributes to each span the Spark jobs,
  * stages, tasks and bytes that ran inside it; lazy calls get a `plan`
  * child (building the frame and forcing its executed plan) and an `exec`
  * child (the action).
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  import Recorder._

  private val origin = System.nanoTime()
  /** Seconds since the recorder was created. */
  def now(): Double = (System.nanoTime() - origin) / 1e9

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds the whole process has used (every thread). */
  def cpu(): Double = os.getProcessCpuTime / 1e9

  /** The machine's CPU ticks so far, from the first line of /proc/stat:
    * (stolen by the hypervisor, stolen + busy); zeros where it is absent.
    */
  def ticks(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    // user nice system idle iowait irq softirq steal
    val steal = if (f.length > 7) f(7) else 0L
    (steal, f(0) + f(1) + f(2) + f(5) + f(6) + steal)
  } catch { case _: Exception => (0L, 0L) }

  /** The share of the CPU time the machine wanted since `t0` that the
    * hypervisor gave to others.
    */
  def stolenShare(t0: (Long, Long)): Double = {
    val t1 = ticks()
    val all = t1._2 - t0._2
    if (all > 0) (t1._1 - t0._1).toDouble / all else 0.0
  }

  /** Seconds `body` took, and the share of CPU time stolen meanwhile. */
  def timedSteal(body: => Any): (Double, Double) = {
    val k0 = ticks()
    val t0 = System.nanoTime()
    body
    ((System.nanoTime() - t0) / 1e9, stolenShare(k0))
  }

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Any]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val actions = mutable.ArrayBuffer.empty[Seq[Any]]

  def sample(key: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  }
  def put(key: String, v: Any): Unit = synchronized { values(key) = v }
  def add(key: String, v: Double): Unit = synchronized {
    values(key) = (values.get(key) match {
      case Some(d: Double) => d
      case _ => 0.0
    }) + v
  }

  /** One correctness check; a false or throwing check counts as failed. */
  def check(what: String)(ok: => Boolean): Boolean = {
    synchronized { attempted += 1 }
    val passed = try ok catch {
      case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); return false
    }
    if (!passed) fail(what)
    passed
  }

  private def fail(msg: String): Unit = synchronized {
    failures += msg.take(400)
    System.err.println(s"[perfbench] check failed: ${msg.take(400)}")
  }

  /** A timed operation: `kind` and `kind.name` each get a latency sample
    * (untimed warm-up calls pass `timed = false`); the result then goes
    * through `verify`. An exception or a failed verification counts the
    * operation as failed.
    */
  def op[T](kind: String, name: String, timed: Boolean = true)(body: => T)(
      verify: T => Boolean): Option[T] = {
    val t0 = System.nanoTime()
    val c0 = cpu()
    val k0 = ticks()
    val out = try Some(if (timed) span(s"$kind.$name")(body) else body) catch {
      case e: Exception =>
        synchronized { attempted += 1 }
        fail(s"$kind.$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
    out.foreach { r =>
      val dt = (System.nanoTime() - t0) / 1e9
      if (timed) {
        sample(kind, dt)
        sample(s"$kind.$name", dt)
        sample(s"cpu.$kind", cpu() - c0)
        sample(s"steal.$kind", stolenShare(k0))
      }
      check(s"$kind.$name result")(verify(r))
    }
    out
  }

  // ---- spans (traced runs only) ----

  private final class Span(val id: Int, val parent: Int, val name: String,
      val start: Double) {
    @volatile var end: Double = Double.NaN
    val extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val parent = stack.get.headOption
      val s = new Span(nextId.incrementAndGet(), parent.map(_.id).getOrElse(0), name, now())
      synchronized { spans += s }
      stack.set(s :: stack.get)
      spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = now()
        stack.set(stack.get.tail)
        spark.sparkContext.setLocalProperty(SpanKey,
          stack.get.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a figure to the innermost open span (traced runs only). */
  def note(key: String, v: Double): Unit =
    if (traced) stack.get.headOption.foreach(s => synchronized { s.extra(key) = v })

  /** A lazy call split into a `plan` child (build the frame and force its
    * executed plan) and an `exec` child (run the action). In a traced run
    * the executed plan's scans and exchanges are noted on the span.
    */
  def lazyCall[R](build: => DataFrame)(action: DataFrame => R): R = {
    val df = span("plan") {
      val d = build
      if (traced) d.queryExecution.executedPlan
      d
    }
    val r = span("exec")(action(df))
    if (traced) {
      PlanStats.of(df.queryExecution.executedPlan).foreach { case (k, v) => note(k, v) }
      r match {
        case a: Array[_] => note("rows_returned", a.length)
        case _ => note("rows_returned", 1)
      }
    }
    r
  }

  // ---- Spark listeners ----

  /** Per span key ("s<id>" for a span, "b<batch>" for a streaming
    * micro-batch), the figures named by `WorkColumns`.
    */
  private val work = mutable.HashMap.empty[String, Array[Double]]
  private val stageKey = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val key = props.flatMap(p => Option(p.getProperty(SpanKey))).map("s" + _)
        .orElse(props.flatMap(p => Option(p.getProperty(BatchKey))).map("b" + _))
        .getOrElse("none")
      e.stageInfos.foreach(si => stageKey.put(si.stageId, key))
      Recorder.this.synchronized {
        val w = work.getOrElseUpdate(key, new Array[Double](9))
        w(0) += 1; w(1) += e.stageInfos.size
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val key = Option(stageKey.get(e.stageId)).getOrElse("none")
      val m = e.taskMetrics
      Recorder.this.synchronized {
        val w = work.getOrElseUpdate(key, new Array[Double](9))
        w(2) += 1
        if (m != null) {
          w(3) += m.inputMetrics.bytesRead
          w(4) += m.shuffleWriteMetrics.bytesWritten
          w(5) += m.memoryBytesSpilled + m.diskBytesSpilled
          w(6) += m.executorRunTime
          w(7) += m.inputMetrics.recordsRead
          w(8) += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private object ActionListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ex = PlanStats.of(qe.executedPlan).getOrElse("exchanges", 0.0)
      val t = now()
      Recorder.this.synchronized { actions += Seq[Any](funcName, t, durationNs / 1e9, ex) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  private object ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val t = now()
      val p = e.progress
      val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
        .flatMap(o => scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      Recorder.this.synchronized {
        progress += Map("batch" -> p.batchId, "t" -> t, "end_offset" -> end,
          "input_rows" -> p.numInputRows, "duration_ms" -> d)
      }
    }
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private var measureStart = Double.NaN
  private var measureEnd = Double.NaN

  /** Register the listeners this mode needs: the progress listener always
    * (the lag metric needs it), the job and action listeners when traced.
    */
  def install(): Unit = {
    spark.streams.addListener(ProgressListener)
    if (traced) {
      spark.sparkContext.addSparkListener(JobListener)
      spark.listenerManager.register(ActionListener)
    }
  }

  def uninstall(): Unit = {
    spark.streams.removeListener(ProgressListener)
    if (traced) {
      spark.sparkContext.removeSparkListener(JobListener)
      spark.listenerManager.unregister(ActionListener)
    }
  }

  /** Mark the start of the measured phase: heap peaks are counted from
    * here (GC time is the whole run's).
    */
  def startMeasure(): Unit = {
    // micro-batch ids restart with every stream; count only the measured one
    synchronized { work.keys.filter(_.startsWith("b")).toSeq.foreach(work.remove) }
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    measureStart = now()
  }

  def endMeasure(): Unit = {
    measureEnd = now()
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum
    put("jvm.gc_s", gcSeconds)
    put("jvm.heap_peak_mb", heapPeak / 1048576.0)
  }

  def render(header: Map[String, Any]): String = synchronized {
    // let the listener bus drain so late task-end events are counted
    org.apache.spark.perfbenchbridge.ListenerBus.drain(spark.sparkContext)
    val spanRows = spans.toSeq.map { s =>
      val w = work.getOrElse(s"s${s.id}", new Array[Double](9))
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "work" -> w.toSeq,
        "extra" -> s.extra)
    }
    val batchWork = work.toSeq.filter(_._1.startsWith("b"))
      .map { case (k, w) => k.drop(1) -> w.toSeq }.toMap
    JsonOut.writeValueAsString(header ++ Map(
      "traced" -> traced,
      "measure" -> Seq(measureStart, measureEnd),
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq },
      "values" -> values,
      "progress" -> progress.toSeq,
      "action_columns" -> Seq("name", "t", "seconds", "exchanges"),
      "actions" -> actions.toSeq,
      "spans" -> spanRows,
      "work_columns" -> WorkColumns,
      "batch_work" -> batchWork,
      "unattributed_work" -> work.get("none").map(_.toSeq).getOrElse(Nil)))
  }
}

object Recorder {
  /** Renders the raw record: Scala maps, sequences and options as JSON. */
  private val JsonOut = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  val SpanKey = "perfbench.span"
  /** The local property a micro-batch's jobs carry (set by Spark's stream
    * execution thread).
    */
  val BatchKey = "streaming.sql.batchId"
  val WorkColumns: Seq[String] = Seq("jobs", "stages", "tasks", "input_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_run_ms", "records_read",
    "output_bytes")
}

/** Structural figures of an executed physical plan: exchanges, and for
  * each leaf scan the files and bytes read and the rows it produced.
  */
object PlanStats {
  def of(plan: SparkPlan): Map[String, Double] = {
    val nodes = flatten(plan)
    val exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    def metric(p: SparkPlan, names: String*): Double =
      names.flatMap(n => p.metrics.get(n)).map(_.value.toDouble).sum
    val scans = nodes.filter(n => n.isInstanceOf[FileSourceScanExec] || n.isInstanceOf[BatchScanExec])
    Map(
      "exchanges" -> exchanges.toDouble,
      "scans" -> scans.size.toDouble,
      "files_read" -> scans.map(metric(_, "numFiles")).sum,
      "bytes_read" -> scans.map(metric(_, "filesSize")).sum,
      "rows_read" -> scans.map(metric(_, "numOutputRows")).sum)
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }
}
