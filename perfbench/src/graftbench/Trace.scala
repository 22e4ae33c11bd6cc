package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region around a call into a layer. `parent` is the id of the
  * enclosing span (-1 at top level); times are `System.nanoTime`. */
final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to one job: the span that was current when the
  * job was submitted, and the task totals of all its stages. */
final class JobAgg(val span: Int, val startMs: Long) {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Totals over a set of jobs. */
final case class Work(jobs: Long, tasks: Long, cpuS: Double, shuffleMb: Double, spillMb: Double)

object Work {
  def of(jobs: Iterable[JobAgg]): Work = Work(jobs.size.toLong,
    jobs.map(_.tasks).sum, jobs.map(_.cpuNs).sum / 1e9,
    jobs.map(_.shuffleWriteBytes).sum / 1e6, jobs.map(_.spillBytes).sum / 1e6)
}

/** Spans recorded from outside the program, around each call into a layer.
  *
  * Spans are always timed (that is how the end-to-end metrics are taken).
  * Only when `traced` does the tracer also name the current span in the
  * Spark local property [[Tracer.Prop]] and listen to the scheduler and to
  * streaming progress, so that jobs, tasks, task CPU, shuffle and spill are
  * attributed to the span that caused them. The property is inherited by
  * threads started inside the span, such as a streaming query's execution
  * thread. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  private val listener = new LayerListener
  private val streamListener = new ProgressListener
  if (traced) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime())
    spans += s
    val outer = sc.getLocalProperty(Tracer.Prop)
    if (traced) sc.setLocalProperty(Tracer.Prop, s.id.toString)
    stack = s.id :: stack
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      if (traced) sc.setLocalProperty(Tracer.Prop, outer)
    }
  }

  /** [[span]], also returning the span it recorded. */
  def timed[T](name: String)(body: => T): (T, Span) = {
    val id = spans.size
    val r = span(name)(body)
    (r, spans(id))
  }

  /** Delivers every event already posted, so counters are complete. */
  def drain(): Unit = if (traced) org.apache.spark.BenchBus.drain(sc)

  /** Ids of `s` and every span nested in it. */
  def subtree(s: Span): Set[Int] = {
    val ids = mutable.Set(s.id)
    spans.foreach(x => if (ids.contains(x.parent)) ids += x.id)
    ids.toSet
  }

  /** Jobs submitted under `s` or a span nested in it (none when untraced). */
  def jobsUnder(s: Span): Seq[JobAgg] = {
    drain()
    val ids = subtree(s)
    listener.jobs.synchronized(listener.jobs.values.filter(j => ids(j.span)).toSeq)
  }

  /** Names the current span as the owner of the streaming query run
    * `runId` (a restart from the same checkpoint keeps the query id but gets
    * a new run id). */
  def bindStream(runId: java.util.UUID): Unit =
    streamListener.owner.synchronized {
      streamListener.owner(runId) = stack.headOption.getOrElse(-1)
    }

  /** Progress of the streaming queries bound under `s`. */
  def progressUnder(s: Span): Seq[StreamingQueryListener.QueryProgressEvent] = {
    drain()
    val ids = subtree(s)
    val owned = streamListener.owner.synchronized(
      streamListener.owner.filter(e => ids(e._2)).keySet.toSet)
    streamListener.events.synchronized(streamListener.events.toSeq)
      .filter(e => owned(e.progress.runId))
  }

  /** Top-level spans opened at or after `fromNs`. */
  def topLevelSince(fromNs: Long): Seq[Span] =
    spans.filter(s => s.parent == -1 && s.start >= fromNs).toSeq

  def close(): Unit = if (traced) {
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  private final class LayerListener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobAgg]
    private val stageJob = mutable.HashMap.empty[Int, JobAgg]

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
        .map(_.toInt).getOrElse(-1)
      val agg = new JobAgg(span, e.time)
      jobs(e.jobId) = agg
      e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, agg))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      stageJob.get(e.stageId).foreach { agg =>
        agg.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          agg.cpuNs += m.executorCpuTime
          agg.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          agg.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Progress of streaming micro-batches; `owner` maps a query run id to
    * the span that started it. */
  private final class ProgressListener extends StreamingQueryListener {
    val events = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
    val owner = mutable.HashMap.empty[java.util.UUID, Int]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.synchronized { events += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Tracer {
  val Prop = "graftbench.span"
}
