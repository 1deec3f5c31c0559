package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans the benchmark opens around each call it makes into graft, and
  * the Spark work attributed to them.
  *
  * A span is (name, start, end, parent, request id). While a span is
  * open its id rides the job's local properties, so every job, stage
  * and task Spark runs for the call — including broadcast jobs and the
  * micro-batches of a stream started inside it — is counted against
  * the span by this benchmark's own listeners. Nothing is added inside
  * graft. When tracing is off, [[span]] only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean, cores: Int) {
  import Tracer._

  final class Span(val id: Int, val name: String, val parent: Int,
      val request: Long, val startMs: Long) {
    var endMs = 0L
    var gcMs = 0L
    var persistentRdds = 0
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = mutable.ArrayBuffer.empty[(Long, Long)] // (launch, finish) ms
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
    /** Streaming progress of queries run inside the span:
      * (addBatch ms, triggerExecution ms) per non-empty micro-batch. */
    val batches = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil
  private var nextRequest = 0L
  private val sc = spark.sparkContext

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        spanOf(e.properties).foreach { s =>
          s.jobs.incrementAndGet()
          e.stageIds.foreach(stageSpan.put(_, s))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
          s.stages.incrementAndGet()
          val m = e.stageInfo.taskMetrics
          if (m != null) s.synchronized {
            s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
            s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageSpan.get(e.stageId)).foreach { s =>
          s.synchronized { s.tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime)) }
        }
    })
  }

  /** (addBatch ms, triggerExecution ms) of every non-empty micro-batch,
    * in arrival order; each is also attributed to the span that was
    * innermost when its progress event arrived. */
  val streamBatches = mutable.ArrayBuffer.empty[(Long, Long)]
  if (enabled) spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala
        val b = (d.get("addBatch").map(_.longValue).getOrElse(0L),
          d.get("triggerExecution").map(_.longValue).getOrElse(0L))
        Tracer.this.synchronized {
          streamBatches += b
          stack.headOption.foreach(_.batches += b)
        }
      }
    }
  })

  /** Start a new request: spans opened until the next call share its id. */
  def newRequest(): Unit = synchronized { nextRequest += 1 }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parentProp = sc.getLocalProperty(SpanKey)
      val s = synchronized {
        val sp = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
          nextRequest, System.currentTimeMillis())
        spans += sp; byId.put(sp.id, sp); stack = sp :: stack
        sp
      }
      val gc0 = gcMillis()
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        s.gcMs = gcMillis() - gc0
        s.persistentRdds = sc.getPersistentRDDs.size
        sc.setLocalProperty(SpanKey, parentProp)
        synchronized { stack = stack.tail }
      }
    }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .flatMap(id => Option(byId.get(id.toInt)))

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  private def descendants(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  /** Spark counters of a span and everything below it. */
  def counters(s: Span): Counters = {
    val all = s +: descendants(s)
    val tasks = all.flatMap(_.tasks).sortBy(_._1)
    val wallMs = math.max(1L, s.endMs - s.startMs)
    // union of task intervals clipped to the span: the rest is idle
    var covered = 0L
    var curStart = -1L; var curEnd = -1L
    tasks.foreach { case (a0, b0) =>
      val a = math.max(a0, s.startMs); val b = math.min(b0, s.endMs)
      if (b > a) {
        if (a > curEnd) { covered += curEnd - curStart; curStart = a; curEnd = b }
        else curEnd = math.max(curEnd, b)
      }
    }
    covered += curEnd - curStart
    val taskMs = tasks.map { case (a, b) => b - a }.sum
    Counters(
      wallS = wallMs / 1000.0,
      jobs = all.map(_.jobs.get).sum,
      stages = all.map(_.stages.get).sum,
      tasks = tasks.size,
      taskBusyFrac = taskMs.toDouble / (wallMs.toDouble * cores),
      idleS = (wallMs - covered) / 1000.0,
      shuffleReadMb = all.map(_.shuffleReadB).sum / 1048576.0,
      shuffleWriteMb = all.map(_.shuffleWriteB).sum / 1048576.0,
      spillMb = all.map(_.spillB).sum / 1048576.0,
      gcS = s.gcMs / 1000.0,
      persistentRdds = all.map(_.persistentRdds).max,
      batches = all.flatMap(_.batches))
  }

  def parentOf(id: Int): Int = byId.get(id).parent

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Seconds of `s` not covered by its direct child spans. */
  def uncoveredS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    (s.endMs - s.startMs - kids.map(k => k.endMs - k.startMs).sum) / 1000.0
  }

  def spanRecords: Seq[Map[String, Any]] =
    if (!enabled) Nil
    else spans.toSeq.map { s =>
      val c = counters(s)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> c.wallS, "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "task_busy_frac" -> c.taskBusyFrac,
        "idle_s" -> c.idleS, "shuffle_read_mb" -> c.shuffleReadMb,
        "shuffle_write_mb" -> c.shuffleWriteMb, "spill_mb" -> c.spillMb,
        "gc_s" -> c.gcS, "persistent_rdds" -> c.persistentRdds)
    }
}

object Tracer {
  val SpanKey = "graftbench.span"

  final case class Counters(wallS: Double, jobs: Int, stages: Int,
      tasks: Int, taskBusyFrac: Double, idleS: Double,
      shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
      gcS: Double, persistentRdds: Int, batches: Seq[(Long, Long)])

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
}
