package graftbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core._

/** One timed interval at a layer boundary. `parent` is the id of the
  * span that caused it (-1 for a root); spans of one pipeline run share
  * `runId`. */
final case class Span(id: Int, name: String, layer: String, plugin: String,
                      start: Long, var end: Long, parent: Int, runId: Int) {
  def seconds: Double = (end - start) / 1e9
}

/** Task-level counters of one finished task. */
final case class TaskRec(stage: Int, ok: Boolean, runMs: Long, cpuNs: Long,
                         gcMs: Long, shufWriteBytes: Long, shufWriteRecs: Long,
                         shufReadBytes: Long, spill: Long, inBytes: Long,
                         inRecs: Long, outBytes: Long, outRecs: Long)

final case class JobRec(id: Int, group: String, stages: Seq[Int])

/** Spans plus the Spark-side events needed to attribute work to them.
  *
  * Attribution: every span sets the Spark job group to its own id
  * while it runs, so each job lands on the span that fired it. A
  * streaming query runs its jobs on its own thread under the job group
  * `runId`; `onQueryStarted` is delivered synchronously inside
  * `writeStream.start()`, so the span active at that moment owns the
  * query's jobs. Events are buffered in memory; `take()` drains the
  * listener bus and hands over everything since the previous call. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var current: Option[Span] = None
  var runId: Int = -1

  def span[T](name: String, layer: String, plugin: String = "")(body: => T): T = {
    val s = Span(spans.size, name, layer, plugin, System.nanoTime(), 0L,
      stack.headOption.map(_.id).getOrElse(-1), runId)
    spans += s
    stack.push(s)
    val sc = spark.sparkContext
    val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(groupOf(s), name)
    current = Some(s)
    try body
    finally {
      s.end = System.nanoTime()
      stack.pop()
      current = stack.headOption
      prevGroup match {
        case Some(g) => sc.setJobGroup(g, g)
        case None => sc.clearJobGroup()
      }
    }
  }

  def groupOf(s: Span): String = s"graftbench-span-${s.id}"

  // ---- buffered events (listener threads append, take() drains)
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val queries = new ConcurrentLinkedQueue[QueryExecution]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val planInfos = new java.util.concurrent.ConcurrentHashMap[Long, SparkPlanInfo]()
  private val streamOwner = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.add(JobRec(e.jobId, g, e.stageIds))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val ok = e.reason == org.apache.spark.Success
      if (m == null) tasks.add(TaskRec(e.stageId, ok, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
      else tasks.add(TaskRec(e.stageId, ok, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled + m.memoryBytesSpilled, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => planInfos.put(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => planInfos.put(u.executionId, u.sparkPlanInfo)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      queries.add(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      queries.add(qe)
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      current.foreach(s => streamOwner.put(e.runId.toString, s.id))
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  final case class Window(jobs: Seq[JobRec], tasks: Seq[TaskRec],
                          queries: Seq[QueryExecution],
                          progress: Seq[StreamingQueryListener.QueryProgressEvent],
                          plans: Seq[SparkPlanInfo])

  /** Everything recorded since the previous call. */
  def take(): Window = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    def drain[A](q: ConcurrentLinkedQueue[A]): Seq[A] = {
      val b = Vector.newBuilder[A]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    val plans = planInfos.values.asScala.toVector
    planInfos.clear()
    Window(drain(jobs), drain(tasks), drain(queries), drain(progress), plans)
  }

  /** Span id owning a job group, if any. */
  def owner(group: String): Option[Int] =
    if (group.startsWith("graftbench-span-"))
      Some(group.stripPrefix("graftbench-span-").toInt)
    else Option(streamOwner.get(group)).map(_.intValue)
}

// ---- delegating plugins: each call runs inside a span of its layer.
// Pipeline.runPipeline / runDryRunPipeline receive these in place of
// the loaded plugins, so its routing code runs unchanged; a
// MultiStreamTransformPlugin stays one, so label routing still hands
// it the other streams.

final class TracedInput(p: InputPlugin, t: Tracer) extends InputPlugin {
  def name: String = p.name
  def options: Map[String, Any] = p.options
  def configDir: Path = p.configDir
  override def label: String = p.label
  def execute()(implicit spark: SparkSession): Either[Throwable, DataFrame] =
    t.span(s"input:$name", "plugins.input", name)(p.execute())
  def dryRun()(implicit spark: SparkSession): Either[Throwable, StructType] =
    t.span(s"input.dry_run:$name", "plugins.input.dry_run", name)(p.dryRun())
}

final class TracedTransform(p: TransformPlugin, t: Tracer) extends TransformPlugin {
  def name: String = p.name
  def options: Map[String, Any] = p.options
  def configDir: Path = p.configDir
  override def label: String = p.label
  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    t.span(s"transform:$name", "plugins.transform", name)(p.execute(df))
  def dryRun(schema: StructType): Either[Throwable, StructType] =
    t.span(s"transform.dry_run:$name", "plugins.transform.dry_run", name)(p.dryRun(schema))
}

final class TracedMultiTransform(p: MultiStreamTransformPlugin, t: Tracer)
    extends MultiStreamTransformPlugin {
  def name: String = p.name
  def options: Map[String, Any] = p.options
  def configDir: Path = p.configDir
  override def label: String = p.label
  def executeWith(df: DataFrame, streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, DataFrame] =
    t.span(s"transform:$name", "plugins.transform", name)(p.executeWith(df, streams))
  def dryRunWith(schema: StructType, schemas: Map[String, Either[Throwable, StructType]])
      : Either[Throwable, StructType] =
    t.span(s"transform.dry_run:$name", "plugins.transform.dry_run", name)(
      p.dryRunWith(schema, schemas))
}

final class TracedOutput(p: OutputPlugin, t: Tracer) extends OutputPlugin {
  def name: String = p.name
  def options: Map[String, Any] = p.options
  def configDir: Path = p.configDir
  override def label: String = p.label
  def execute(df: DataFrame): Either[Throwable, Unit] =
    t.span(s"output:$name", "plugins.output", name)(p.execute(df))
  def dryRun(schema: StructType): Either[Throwable, StructType] =
    t.span(s"output.dry_run:$name", "plugins.output.dry_run", name)(p.dryRun(schema))
}

object Traced {
  def wrap(r: PluginRegistry, t: Tracer): PluginRegistry = PluginRegistry(
    r.inputs.map(new TracedInput(_, t)),
    r.transforms.map {
      case m: MultiStreamTransformPlugin => new TracedMultiTransform(m, t)
      case p => new TracedTransform(p, t)
    },
    r.outputs.map(new TracedOutput(_, t)))
}
