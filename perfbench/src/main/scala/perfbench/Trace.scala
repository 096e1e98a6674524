package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** Spans around calls into the program's layers, plus raw Spark counters.
  *
  * `enabled` says the run is a traced run; `active` says a step is being
  * traced (the listener is attached). While inactive every method here is
  * a pass-through: `span` only runs its body. While active, a span records
  * its name, layer, start, end, parent and run id; spans are kept in memory
  * and written out at exit.
  * Spark counters come from a listener registered on the benchmark's own
  * session and are kept raw (per job, per SQL execution, per streaming
  * progress); `stats.py` attributes them to spans. A write command's
  * output path and its file, byte and row counts come from the SQL
  * execution events (plan info plus driver-side metric updates), which
  * arrive in order with the job events; a QueryExecutionListener is not
  * notified for writes submitted from pooled threads, which is how
  * `Pipeline.runFullEtl` runs its silver and gold writes.
  *
  * Times are wall-clock milliseconds (`System.currentTimeMillis`), the
  * clock Spark's listener events carry, so spans and jobs share one axis.
  */
final class Trace(val enabled: Boolean, val runId: String) {
  @volatile var active = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val counters = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val streams = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stack = mutable.Stack[Long]()

  /** Run `body` as a span of `layer` named `name`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      val rddsBefore = persistedRdds()
      stack.push(id)
      val start = System.currentTimeMillis()
      var ok = false
      try { val r = body; ok = true; r }
      finally {
        val end = System.currentTimeMillis()
        stack.pop()
        spans.add(Map("id" -> id, "parent" -> parent, "layer" -> layer,
          "name" -> name, "start" -> start, "end" -> end, "ok" -> ok,
          "run" -> runId, "leaked_rdds" -> (persistedRdds() -- rddsBefore).size))
      }
    }

  /** A named count, attributed to the innermost open span. */
  def count(name: String, value: Double): Unit =
    if (active) counters.add(Map("span" -> stack.headOption.getOrElse(0L),
      "name" -> name, "value" -> value))

  /** The per-trigger durations of a finished streaming query. */
  def streamProgress(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    if (active) q.recentProgress.foreach { p =>
      streams.add(Map("span" -> stack.headOption.getOrElse(0L),
        "batch" -> p.batchId, "rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }

  private var session: Option[SparkSession] = None
  private def persistedRdds(): Set[Int] =
    session.map(_.sparkContext.getPersistentRDDs.keySet.toSet).getOrElse(Set.empty)

  // ---- Spark counters ------------------------------------------------

  private final class JobAcc(val id: Int, val start: Long, val props: Map[String, String]) {
    var end = 0L; var tasks = 0L; var shuffleWrite = 0L; var spill = 0L
    var resultBytes = 0L; var runMs = 0L; var gcMs = 0L; var delayMs = 0L
    var bytesOut = 0L; var recordsOut = 0L
  }
  private val jobs = mutable.LinkedHashMap[Int, JobAcc]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val executions = mutable.LinkedHashMap[Long, mutable.Map[String, Any]]()
  // driver-side metric accumulator id -> (execution, counter)
  private val writeMetrics = mutable.HashMap[Long, (Long, String)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties).map(_.asScala.toMap).getOrElse(Map.empty)
      jobs(e.jobId) = new JobAcc(e.jobId, e.time, props.filter { case (k, _) =>
        k == "spark.sql.execution.id" || k == "spark.job.description" })
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        val info = e.taskInfo
        j.tasks += 1
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
        j.resultBytes += m.resultSize
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        j.bytesOut += m.outputMetrics.bytesWritten
        j.recordsOut += m.outputMetrics.recordsWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        executions(s.executionId) = mutable.Map[String, Any]("id" -> s.executionId,
          "start" -> s.time, "description" -> s.description.take(120))
        noteWrite(s.executionId, s.sparkPlanInfo)
      }
      // adaptive re-planning can hand the write node fresh metric ids
      case s: SparkListenerSQLAdaptiveExecutionUpdate => Trace.this.synchronized {
        noteWrite(s.executionId, s.sparkPlanInfo)
      }
      case s: SparkListenerDriverAccumUpdates => Trace.this.synchronized {
        for ((id, v) <- s.accumUpdates; (ex, k) <- writeMetrics.get(id);
             rec <- executions.get(ex))
          rec(k) = rec(k).asInstanceOf[Long] + v
      }
      case s: SparkListenerSQLExecutionEnd => Trace.this.synchronized {
        executions.get(s.executionId).foreach(_("end") = s.time)
      }
      case _ => ()
    }
  }

  private val WriteNode = "Execute InsertIntoHadoopFsRelationCommand"
  private val WriteMetricNames = Map("number of written files" -> "files",
    "written output" -> "bytes", "number of output rows" -> "rows")
  private def noteWrite(execution: Long, plan: SparkPlanInfo): Unit =
    for (rec <- executions.get(execution); n <- writeNode(plan)) {
      rec("output") = n.simpleString.stripPrefix(WriteNode).trim.takeWhile(_ != ',')
      Seq("files", "bytes", "rows").foreach(k => if (!rec.contains(k)) rec(k) = 0L)
      n.metrics.foreach { m =>
        WriteMetricNames.get(m.name).foreach(k => writeMetrics(m.accumulatorId) = (execution, k))
      }
    }
  private def writeNode(p: SparkPlanInfo): Option[SparkPlanInfo] =
    if (p.simpleString.startsWith(WriteNode)) Some(p)
    else p.children.iterator.flatMap(writeNode).nextOption()

  /** Start tracing: register the listeners on `spark`. */
  def attach(spark: SparkSession): Unit = {
    session = Some(spark)
    spark.sparkContext.addSparkListener(listener)
    active = true
  }

  /** Stop tracing once every event of the traced step has arrived. */
  def detach(spark: SparkSession): Unit = {
    active = false
    // listener events arrive asynchronously but in order: once a marker
    // job's end has been seen, every earlier event has been delivered
    val sc = spark.sparkContext
    sc.setJobDescription(Trace.Marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    def isMarker(j: JobAcc) = j.props.get("spark.job.description").contains(Trace.Marker)
    val deadline = System.currentTimeMillis() + 10000
    while (!synchronized(jobs.values.exists(j => isMarker(j) && j.end > 0)) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    synchronized(jobs.filterInPlace((_, j) => !isMarker(j)))
    sc.removeSparkListener(listener)
    session = None
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "run" -> runId,
      "spans" -> spans.asScala.toSeq,
      "counters" -> counters.asScala.toSeq,
      "streams" -> streams.asScala.toSeq,
      "executions" -> executions.values.map(_.toMap).toSeq,
      "jobs" -> jobs.values.map { j =>
        Map("id" -> j.id, "start" -> j.start, "end" -> j.end,
          "execution" -> j.props.get("spark.sql.execution.id").map(_.toLong),
          "tasks" -> j.tasks, "shuffle_write_bytes" -> j.shuffleWrite,
          "spill_bytes" -> j.spill, "result_bytes" -> j.resultBytes,
          "executor_run_ms" -> j.runMs, "gc_ms" -> j.gcMs,
          "scheduler_delay_ms" -> j.delayMs, "bytes_written" -> j.bytesOut,
          "rows_written" -> j.recordsOut)
      }.toSeq)
  }
}

object Trace {
  private val Marker = "perfbench-trace-flush"
}
