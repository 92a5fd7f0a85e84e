package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One traced interval: a layer call made by the benchmark. Times are epoch
  * milliseconds, the clock Spark stamps job events with. */
final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double) {
  def durationMs: Double = endMs - startMs
}

/** Records spans around the benchmark's calls into each layer. Spans live in
  * memory until the run writes its report. Every job launched inside a span
  * carries the span id as a thread-local property, which the listener reads
  * back from the job's properties. */
class Tracer(sc: SparkContext) extends Layers {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private var nextId = 1
  private var stack = List.empty[Int]
  val spans = mutable.ArrayBuffer[Span]()

  private def nowMs = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val outer = sc.getLocalProperty(Tracer.SpanProperty)
    stack = id :: stack
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val start = nowMs
    try f
    finally {
      spans += Span(id, name, parent, start, nowMs)
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProperty, outer)
    }
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
}

/** What Spark reports about one job, summed over its tasks. */
final class JobRecord(val id: Int, val span: Int, val module: String, val startMs: Long) {
  var endMs: Long = -1
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  var outputRows = 0L
}

/** Maps a recorded call stack to the graft module that launched the job. */
object Modules {
  private val Frame = """^\s*(?:at\s+)?graft\.([A-Za-z][A-Za-z0-9_]*)[.$].*""".r

  /** The innermost `graft.<module>` frame; top-level objects such as
    * `graft.Tables` name themselves. `unattributed` when no frame is in graft. */
  def of(callStack: String): String =
    Option(callStack).iterator.flatMap(_.split('\n')).collectFirst {
      case Frame(m) => m.toLowerCase
    }.getOrElse("unattributed")
}

/** Job, stage, task and cache counts, keyed by the span that was active when
  * each job started. Jobs started outside any span are not recorded. */
class LayerListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRecord]()
  private val stageJob = mutable.HashMap[Int, JobRecord]()
  private val executionStack = mutable.HashMap[Long, String]()
  private val blocks = mutable.HashMap[String, Long]()
  private var cacheBytes = 0L
  private var cachePeak = 0L

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart => executionStack(e.executionId) = e.details
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt)
    span.foreach { s =>
      // the SQL execution's recorded stack; for jobs outside SQL, the stack
      // of the result stage (the job's own call site)
      val stack = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionStack.get(id.toLong))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).orNull)
      val rec = new JobRecord(e.jobId, s, Modules.of(stack), e.time)
      jobs(e.jobId) = rec
      e.stageIds.foreach(stageJob(_) = rec)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRows += m.inputMetrics.recordsRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.outputRows += m.outputMetrics.recordsWritten
        val i = e.taskInfo
        // the UI's scheduler delay: task time not spent running,
        // deserializing or shipping the result
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime +
          (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L)
        j.schedDelayMs += math.max(0L, i.finishTime - i.launchTime - busy)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cacheBytes += size - blocks.getOrElse(key, 0L)
      if (size > 0) blocks(key) = size else blocks.remove(key)
      cachePeak = math.max(cachePeak, cacheBytes)
    }
  }

  /** Operations start with the engine's caches drained, so the cache tally
    * starts again from zero for each traced operation. */
  def resetCache(): Unit = synchronized { blocks.clear(); cacheBytes = 0; cachePeak = 0 }
  def cachePeakBytes: Long = synchronized { cachePeak }
}

/** Catalyst phase times, read from every query execution that completes. */
class PlanListener extends QueryExecutionListener {
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  private def add(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  def reset(): Unit = synchronized { analysisMs = 0; optimizationMs = 0; planningMs = 0 }
}

/** The listeners of a traced run. They are attached only around traced
  * operations, so untraced operations in the same run pay nothing for them. */
class TraceSession(spark: SparkSession) {
  val tracer = new Tracer(spark.sparkContext)
  val layers = new LayerListener
  val plans = new PlanListener

  def attach(): Unit = {
    layers.resetCache()
    plans.reset()
    spark.sparkContext.addSparkListener(layers)
    spark.listenerManager.register(plans)
  }

  /** Wait for every event of the finished operation, then detach. */
  def detach(): Unit = {
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(layers)
    spark.listenerManager.unregister(plans)
  }
}
