package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans around the benchmark's calls into the engine. Spans stay in
  * memory and are written as JSON when the run ends; while [[on]] is
  * false [[span]] only runs its body. Only the benchmark's own thread
  * calls it. */
final class Tracer {
  var on: Boolean = false
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  private val t0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  /** Op the next spans belong to; -1 outside the timed loop. */
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val start = System.nanoTime()
      try body
      finally {
        done += Span(id, name, parent, op, start, System.nanoTime())
        open = open.tail
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Summed duration (ms) of the spans named `name` in op `op`. */
  def msIn(name: String, op: Int): Double =
    done.iterator.filter(s => s.name == name && s.op == op).map(_.ms).sum

  def json: String = done.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
      s""""start_ms":${(s.startNs - t0) / 1e6},"end_ms":${(s.endNs - t0) / 1e6}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Scheduler and shuffle counters, summed per tag: "o<op>" for jobs the
  * benchmark's thread submits (the op id rides as a local property),
  * [[SchedulerListener.batchTag]] for a streaming micro-batch's jobs. Read after
  * `SparkContext.stop()`, which drains the listener bus. */
final class SchedulerListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, schedulerDelayMs, shuffleBytes, shuffleRecords, spillBytes = 0L
  }
  val byTag = mutable.HashMap.empty[String, Acc]
  private val stageTag = mutable.HashMap.empty[Int, String]

  private def acc(tag: String) = byTag.getOrElseUpdate(tag, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val tag = prop("streaming.sql.batchId").map(b =>
        SchedulerListener.batchTag(prop("sql.streaming.queryId").getOrElse(""), b.toLong))
      .orElse(p.flatMap(x => Option(x.getProperty(SchedulerListener.OpProperty))).map("o" + _))
      .getOrElse("none")
    e.stageIds.foreach(stageTag(_) = tag)
    acc(tag).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageTag.getOrElse(e.stageInfo.stageId, "none")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageTag.getOrElse(e.stageId, "none"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      val info = e.taskInfo
      // the Spark UI's definition: time in the task's life that was
      // neither run, deserialization, result serialization nor fetch
      a.schedulerDelayMs += math.max(0L, (info.finishTime - info.launchTime) -
        m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.diskBytesSpilled
    }
  }
}

object SchedulerListener {
  val OpProperty = "perfbench.op"
  def batchTag(queryId: String, batchId: Long): String = s"b$queryId/$batchId"
}

/** Micro-batch progress by [[SchedulerListener.batchTag]]. */
final class ProgressListener extends StreamingQueryListener {
  val byBatch = mutable.HashMap.empty[String, StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      byBatch(SchedulerListener.batchTag(e.progress.id.toString, e.progress.batchId)) = e.progress
    }
}
