package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One line of machine-readable output: `PB {json}` on stdout. run.py
  * reads these; everything else on stdout is ignored. */
object Out {
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String =>
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def emit(kind: String, fields: (String, Any)*): Unit = {
    val line = "PB " + json(scala.collection.immutable.ListMap(("kind" -> kind) +: fields: _*))
    System.out.synchronized { System.out.println(line); System.out.flush() }
  }
}

/** Spans kept in memory and written out when the run ends: name, start,
  * end (ns since the JVM's trace epoch), parent span id, request id. */
final class Spans {
  private val epoch = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[String]()

  def now: Long = System.nanoTime() - epoch

  /** Time `f` as a span; returns its result and records the span. */
  def span[T](name: String, request: String, parent: Long = 0L)(f: Long => T): T = {
    val id = ids.incrementAndGet()
    val start = now
    try f(id)
    finally done.add(Out.json(scala.collection.immutable.ListMap(
      "id" -> id, "parent" -> parent, "name" -> name, "request" -> request,
      "start_ns" -> start, "end_ns" -> now)))
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try done.asScala.foreach(w.println) finally w.close()
  }
}

/** Spark-side counters per operation, keyed by the job group the
  * benchmark sets around each request or operator call. */
final class OpCounters {
  var jobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var gcMs = 0L; var schedDelayMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var recordsRead = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> runMs, "gc_ms" -> gcMs, "sched_delay_ms" -> schedDelayMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "records_read" -> recordsRead)
}

/** The benchmark's SparkListener: job, stage and task counts, task time,
  * GC, shuffle, spill and input records, attributed to job groups. The
  * scheduling delay of a job is its wall time minus its longest task. */
final class OpListener extends SparkListener {
  private val ops = new ConcurrentHashMap[String, OpCounters]()
  private val jobOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobLongestTask = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val started = new AtomicInteger(0)
  private val ended = new AtomicInteger(0)

  private def group(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

  private def counters(op: String): OpCounters = ops.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    group(e.properties).foreach { g =>
      counters(g).synchronized(counters(g).jobs += 1)
      jobOp.put(e.jobId, g)
      jobStart.put(e.jobId, e.time)
      jobLongestTask.put(e.jobId, 0L)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    group(e.properties).foreach { g =>
      counters(g).synchronized(counters(g).stages += 1)
      stageOp.put(e.stageInfo.stageId, g)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { g =>
      val c = counters(g)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.recordsRead += m.inputMetrics.recordsRead
        }
      }
      Option(stageJob.get(e.stageId)).foreach { j =>
        jobLongestTask.computeIfPresent(j, (_, prev) => math.max(prev, e.taskInfo.duration))
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobOp.get(e.jobId)).foreach { g =>
      val wall = e.time - jobStart.get(e.jobId)
      val longest = jobLongestTask.get(e.jobId)
      val c = counters(g)
      c.synchronized(c.schedDelayMs += math.max(0L, wall - longest))
    }
    ended.incrementAndGet()
  }

  /** Block until every job started so far has been delivered as ended. */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (started.get() != ended.get() && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  def take(op: String): Map[String, Any] = {
    quiesce()
    Option(ops.remove(op)).map(c => c.synchronized(c.toMap)).getOrElse(new OpCounters().toMap)
  }
}

/** Counts query executions and their failures; a failed execution is a
  * failed operation whatever the caller does with the exception. */
final class QueryCounter extends QueryExecutionListener {
  val ok = new AtomicInteger(0)
  val failed = new AtomicInteger(0)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    ok.incrementAndGet()
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    failed.incrementAndGet()
}
