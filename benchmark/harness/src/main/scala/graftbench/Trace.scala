package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds with a fractional part
  * (a monotonic clock anchored at start-up), so spans and Spark listener
  * events share one time base.
  */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double, run: String) {
  def dur: Double = (end - start) / 1000.0
}

/** Spans around the benchmark's calls into each layer, plus the Spark
  * engine's view of the same interval from a [[SparkListener]] and a
  * [[QueryExecutionListener]] that this class registers. Nothing is
  * written until [[Trace.spansJson]] is called at exit.
  *
  * Attribution: every SQL execution carries the call-site stack of the
  * code that triggered it; its innermost `graft.` frame names the layer
  * (`graft.io.Sinks$.truncate` → `sinks.truncate`, …). Jobs link to their
  * execution through the `spark.sql.execution.id` property, and to the
  * ETL table whose pool thread submitted them through the
  * [[Trace.TableProperty]] local property the benchmark sets from
  * `Pipeline.runAll`'s status callback.
  */
final class Trace(spark: SparkSession, val run: String) {
  import Trace._

  private val origin = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def now(): Double = origin + System.nanoTime() / 1e6

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  @volatile private var on = false

  /** Time `f` as a span named `name`, nested under `parent` (default: the
    * caller's open span on this thread).
    */
  def span[T](name: String, parent: Long = currentSpan)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val saved = stack.get()
      stack.set(id :: parent :: Nil)
      val t0 = now()
      try f
      finally {
        stack.set(saved)
        spans.add(Span(id, parent, name, t0, now(), run))
      }
    }

  /** Seconds `f` takes, recorded as a span when tracing. */
  def timed(name: String)(f: => Unit): Double = span(name) {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Record a span measured elsewhere (status callbacks). */
  def record(name: String, parent: Long, start: Double, end: Double): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), parent, name, start, end, run))

  /** Run `f` on this thread as if inside span `parent` (for worker threads). */
  def within[T](parent: Long)(f: => T): T = {
    val saved = stack.get()
    stack.set(parent :: Nil)
    try f finally stack.set(saved)
  }

  def currentSpan: Long = stack.get().headOption.getOrElse(0L)

  // ---- Spark listener side --------------------------------------------

  val jobs = new ConcurrentHashMap[Int, Job]()
  val execs = new ConcurrentHashMap[Long, Exec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val j = new Job(e.jobId, e.time.toDouble, prop("spark.sql.execution.id").map(_.toLong),
        prop(TableProperty))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        val m = info.taskMetrics
        j.synchronized {
          j.stages += 1
          j.tasks += info.numTasks
          if (m != null) {
            j.taskRunMs += m.executorRunTime
            j.taskCpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.computeIfAbsent(s.executionId, _ => new Exec(s.executionId))
          .begin(s.time.toDouble, s.description, s.details)
      case s: SparkListenerSQLExecutionEnd =>
        val ex = execs.computeIfAbsent(s.executionId, _ => new Exec(s.executionId))
        org.apache.spark.sql.BenchSql.queryExecution(s).foreach(qe => writeMetrics(qe, ex))
        ex.end = s.time.toDouble
      case _ =>
    }
  }

  /** Add a write command's file, partition, byte and row counts to `ex`. */
  private def writeMetrics(qe: QueryExecution, ex: Exec): Unit = {
    def plans(p: SparkPlan): Seq[SparkPlan] = p.collect { case x => x }.flatMap {
      case a: AdaptiveSparkPlanExec => a +: plans(a.executedPlan)
      case q: QueryStageExec => q +: plans(q.plan)
      case x => Seq(x)
    }
    plans(qe.executedPlan).foreach {
      case w: DataWritingCommandExec =>
        def v(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
        ex.synchronized {
          ex.files += v("numFiles")
          ex.parts += v("numParts")
          ex.bytes += v("numOutputBytes")
          ex.rows += v("numOutputRows")
        }
      case _ =>
    }
  }

  /** Actions by kind (`command`, `count`, `isEmpty`, `collect`, …) and the
    * ones that failed, as the session reports them.
    */
  val actions = new ConcurrentHashMap[String, Array[Long]]()

  private val qeListener = new QueryExecutionListener {
    private def note(funcName: String, failed: Boolean): Unit = {
      val c = actions.computeIfAbsent(funcName, _ => new Array[Long](2))
      c.synchronized { c(0) += 1; if (failed) c(1) += 1 }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      note(funcName, failed = false)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      note(funcName, failed = true)
  }

  /** Start recording: spans, listener events. */
  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Stop recording and wait until every queued listener event is handled. */
  def stop(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  /** Listener events arrive asynchronously; wait for the bus to catch up. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext, 60000L)

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Every span as one JSON object per line. An SQL execution becomes a
    * span `exec:<layer>` under the table span that was open on its thread.
    */
  def spansJson: String = {
    val own = allSpans.sortBy(_.start)
    val tables = own.filter(_.name.startsWith("pipeline.table["))
    val tableOf = jobs.values.asScala.toSeq.flatMap(j => j.exec.zip(j.table)).toMap
    val execSpans = execs.values.asScala.toSeq.filter(e => e.start > 0 && e.end > 0).map { e =>
      val parent = tableOf.get(e.id).flatMap(t => tables.find(s =>
        s.name == s"pipeline.table[$t]" && s.start <= e.start && e.start <= s.end)).map(_.id)
      Span(-e.id, parent.getOrElse(0L), s"exec:${e.layer}", e.start, e.end, run)
    }
    (own ++ execSpans).map(s => Json.render(Map("name" -> s.name, "id" -> s.id, "parent" -> s.parent,
      "start" -> s.start, "end" -> s.end, "run" -> s.run))).mkString("\n")
  }
}

object Trace {

  /** Local property naming the ETL table whose thread submits a job. */
  val TableProperty = "graftbench.table"

  final class Job(val id: Int, val start: Double, val exec: Option[Long], val table: Option[String]) {
    @volatile var end: Double = 0.0
    var stages = 0
    var tasks = 0L
    var taskRunMs = 0L
    var taskCpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  final class Exec(val id: Long) {
    @volatile var start: Double = 0.0
    @volatile var end: Double = 0.0
    @volatile var layer: String = "unknown"
    var files = 0L
    var parts = 0L
    var bytes = 0L
    var rows = 0L

    def begin(t: Double, description: String, details: String): Unit = {
      start = t
      layer = Trace.layer(description, details)
    }
  }

  /** Innermost `graft.` frame → layer name. */
  private val layerFrames = Seq(
    "graft.io.Sinks$.truncate" -> "sinks.truncate",
    "graft.io.Sinks$.deleteRangeAppend" -> "sinks.delete_range_append",
    "graft.io.Sinks$.loadIfNonEmpty" -> "sinks.empty_check",
    "graft.gold.Materializer$.materialize" -> "materializer",
    "graft.etl.Pipeline" -> "pipeline",
    "graft.io.Sources" -> "sources",
    "graft.transform.Normalize" -> "normalize",
    "graft.io.Materialized" -> "shared",
    "graft.io.ModelStore" -> "shared",
    "graft.io.Checkpoints" -> "shared",
    "graft.ops." -> "ops",
    "graft.etl.EtlQueries" -> "ops",
    "graftbench." -> "bench",
  )

  def layer(description: String, details: String): String = {
    val frames = Option(details).getOrElse("").linesIterator.map(_.trim)
      .filter(l => l.startsWith("graft.") || l.startsWith("graftbench.")).toSeq
    frames.headOption.flatMap(f => layerFrames.collectFirst { case (p, n) if f.startsWith(p) => n })
      .getOrElse(if (Option(description).exists(_.startsWith("warm:"))) "shared" else "other")
  }
}
