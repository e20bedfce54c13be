package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional), the clock
  * Spark's listener events carry, so listener spans line up with the
  * harness's own. `parent` is -1 until [[Recorder.write]] resolves it. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any])

/** In-memory span store. The harness opens nested spans around its calls
  * into the engine (setup → pass → op → build | exec); the [[Tracer]] adds
  * job, stage, plan-phase and stream-batch spans from listener events.
  * Everything is written as JSON lines when the run ends. */
final class Recorder {
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer[Span]()
  private val external = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private final class Open(val id: Long, val parent: Long, val kind: String,
      val name: String, val startMs: Double) {
    val attrs = mutable.LinkedHashMap[String, Any]()
  }
  private var stack: List[Open] = Nil
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble

  def nowMs: Double = msBase + (System.nanoTime() - nanoBase) / 1e6
  def nextId(): Long = ids.incrementAndGet()

  /** Times `body` as a child of the innermost open span. */
  def span[A](kind: String, name: String)(body: => A): A = {
    val o = new Open(nextId(), stack.headOption.map(_.id).getOrElse(-1L),
      kind, name, nowMs)
    stack = o :: stack
    try body
    finally {
      stack = stack.tail
      done.synchronized {
        done += Span(o.id, o.parent, kind, name, o.startMs, nowMs, o.attrs.toMap)
      }
    }
  }

  /** Runs `body`; a failure is noted as the innermost span's `error` (the
    * checker counts it) instead of ending the run. */
  def guard(body: => Unit): Unit =
    try body
    catch { case scala.util.control.NonFatal(e) =>
      note("error", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    }

  /** Adds an attribute to the innermost open span. */
  def note(key: String, value: Any): Unit =
    stack.headOption.foreach(_.attrs(key) = value)

  /** Records an already-measured interval as a child of the innermost open
    * span (or a root span when none is open). */
  def closed(kind: String, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Any] = Map.empty): Unit = done.synchronized {
    done += Span(nextId(), stack.headOption.map(_.id).getOrElse(-1L), kind,
      name, startMs, endMs, attrs)
  }

  /** Listener-side spans; their parents are resolved by time at write. */
  def external(kind: String, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Any], parent: Long = -1L, id: Long = -1L): Unit =
    external.add(Span(if (id >= 0) id else nextId(), parent, kind, name,
      startMs, endMs, attrs))

  def all: Seq[Span] = done.synchronized(done.toList)

  /** Resolves listener spans' parents — a stage to its job, anything else to
    * the innermost harness span whose interval holds its start — and writes
    * every span as one JSON object per line. */
  def write(f: File): Unit = {
    val own = all.sortBy(_.startMs)
    val ext = external.asScala.toList
    val jobOfStage = ext.filter(_.kind == "job").flatMap { j =>
      j.attrs.getOrElse("stage_ids", Nil).asInstanceOf[Seq[Int]].map(_ -> j.id)
    }.toMap
    // innermost = latest-starting harness span that still contains t; one
    // millisecond of slack covers the listener clock's whole-ms resolution
    def holder(t: Double): Long = own.iterator
      .filter(s => s.startMs - 1 <= t && t <= s.endMs + 1)
      .foldLeft(Option.empty[Span]) { (best, s) =>
        if (best.forall(b => s.startMs >= b.startMs && s.endMs <= b.endMs)) Some(s)
        else best
      }.map(_.id).getOrElse(-1L)
    val resolved = ext.map { s =>
      if (s.parent >= 0) s
      else if (s.kind == "stage")
        s.copy(parent = jobOfStage.getOrElse(s.attrs("stage_id").asInstanceOf[Int], -1L))
      else s.copy(parent = holder(s.startMs))
    }
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try (own ++ resolved).sortBy(_.startMs).foreach(s => w.println(Json.span(s)))
    finally w.close()
  }
}

/** JVM-wide counters sampled from the management beans (no listener). */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use right after the last collection, summed over heap pools. */
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}

/** The traced run's listeners: Spark jobs, stages and tasks, Catalyst
  * planning phases of every query execution, and streaming progress. Only
  * a run started with `--trace 1` installs them. */
final class Tracer(spark: SparkSession, rec: Recorder) {
  private final class StageAgg {
    var tasks, failed = 0L
    var taskMs, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, input = 0L
  }
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val jobStarts = new ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, (rec.nextId(), e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (id, t0, stageIds) =>
        rec.external("job", s"job${e.jobId}", t0.toDouble, e.time.toDouble,
          Map("job_id" -> e.jobId, "stage_ids" -> stageIds,
            "ok" -> (e.jobResult == org.apache.spark.scheduler.JobSucceeded)),
          id = id)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        if (e.reason != Success) a.failed += 1
        a.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = Option(stages.remove(i.stageId)).getOrElse(new StageAgg)
      val t0 = i.submissionTime.getOrElse(0L).toDouble
      rec.external("stage", s"stage${i.stageId}", t0,
        i.completionTime.map(_.toDouble).getOrElse(t0),
        Map("stage_id" -> i.stageId, "tasks" -> a.tasks,
          "failed_tasks" -> a.failed, "task_ms" -> a.taskMs,
          "run_ms" -> a.runMs, "cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs,
          "shuffle_write_b" -> a.shuffleWrite, "shuffle_read_b" -> a.shuffleRead,
          "spill_b" -> a.spill, "input_b" -> a.input,
          "ok" -> i.failureReason.isEmpty))
    }
  }

  private val planListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        rec.external("plan", phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble,
          Map.empty)
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + ms
      rec.external("batch", s"batch${p.batchId}", end - ms, end,
        Map("rows" -> p.numInputRows))
    }
  }

  attach()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Delivers every pending event, then detaches all three listeners. */
  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Records a DataFrame's own planning phases (analysis runs when it is
    * built; no listener sees it, since no action runs on that plan). */
  def phasesOf(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.tracker.phases.foreach { case (phase, p) =>
      rec.closed("plan", phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
}

/** Minimal JSON writer for spans and result records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  def span(s: Span): String = value(Map("id" -> s.id, "parent" -> s.parent,
    "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs,
    "end_ms" -> s.endMs, "attrs" -> s.attrs))
}
