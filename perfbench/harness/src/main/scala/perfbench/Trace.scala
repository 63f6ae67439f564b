package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds. `query` is the
  * benchmark query the span belongs to ("" for the pass itself).
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    query: String, start: Double, var end: Double)

/** Traced-run recorder built only on Spark's public listener interfaces:
  * `SparkListener` (jobs, stages, tasks), `QueryExecutionListener`
  * (Catalyst phases, graftmem commands) and `StreamingQueryListener`
  * (micro-batches). Spans and counters stay in memory until the pass ends.
  *
  * Jobs are attributed through the local property [[Trace.QueryProp]],
  * which the benchmark sets on the driver thread and stream threads
  * inherit. SQL executions are attributed by their start time: queries run
  * one at a time, so their intervals do not overlap. A job without the
  * property, an execution outside every query, or a job whose property
  * disagrees with its execution's query is counted as unattributed.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val lock = new Object
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Counters per query name ("" collects work outside any query). */
  val counters = mutable.Map.empty[String, mutable.Map[String, Double]]
  /** Samples per query name, for percentiles. */
  val samples = mutable.Map.empty[String, mutable.Map[String, mutable.ArrayBuffer[Double]]]
  private val queryWindows = mutable.ArrayBuffer.empty[(Double, Double, String, Int)]
  private var passSpan = -1

  private val jobs = mutable.Map.empty[Int, (Int, String, Boolean)] // span, query, sql
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execSpans = mutable.Map.empty[Long, Int]
  private val execQuery = mutable.Map.empty[Long, String]
  private val streamSpans = mutable.Map.empty[java.util.UUID, Int]
  private val streamLastEnd = mutable.Map.empty[java.util.UUID, Double]
  var unattributedJobs = 0
  var unattributedExecs = 0

  def add(q: String, k: String, v: Double): Unit = lock.synchronized {
    val m = counters.getOrElseUpdate(q, mutable.Map.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }
  def max(q: String, k: String, v: Double): Unit = lock.synchronized {
    val m = counters.getOrElseUpdate(q, mutable.Map.empty)
    m(k) = math.max(m.getOrElse(k, 0.0), v)
  }
  def sample(q: String, k: String, v: Double): Unit = lock.synchronized {
    samples.getOrElseUpdate(q, mutable.Map.empty)
      .getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  }

  def open(parent: Int, kind: String, name: String, query: String, start: Double): Int =
    lock.synchronized {
      val id = spans.size
      spans += Span(id, parent, kind, name, query, start, Double.NaN)
      id
    }
  def close(id: Int, end: Double): Unit = lock.synchronized { spans(id).end = end }

  def startPass(name: String): Unit = passSpan = open(-1, "pass", name, "", now())
  def endPass(): Unit = close(passSpan, now())

  /** Opens the query span; its window is closed by [[endQuery]]. */
  def startQuery(name: String): Int = {
    val id = open(passSpan, "query", name, name, now())
    lock.synchronized(queryWindows += ((spans(id).start, Double.MaxValue, name, id)))
    id
  }
  def endQuery(id: Int): Unit = lock.synchronized {
    val t = now()
    close(id, t)
    val (s, _, n, i) = queryWindows.last
    queryWindows(queryWindows.size - 1) = (s, t, n, i)
  }

  /** The query running at time t, with its span id; ("", pass) if none. */
  def queryAt(t: Double): (String, Int) = lock.synchronized {
    queryWindows.reverseIterator.find(w => w._1 <= t && t <= w._2)
      .map(w => (w._3, w._4)).getOrElse(("", passSpan))
  }
  /** The innermost build/drain span of query span `q` covering t. */
  private def phaseAt(q: Int, t: Double): Int = lock.synchronized {
    spans.reverseIterator.find(s => s.parent == q && s.start <= t &&
      (s.end.isNaN || t <= s.end) && (s.kind == "build" || s.kind == "drain"))
      .map(_.id).getOrElse(q)
  }

  /** Wall time of the pass during which no job ran. */
  def jobFreeTime(): Double = lock.synchronized {
    val iv = spans.filter(s => s.kind == "job" && !s.end.isNaN)
      .map(s => (s.start, s.end)).sortBy(_._1)
    val pass = spans(passSpan)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    ((pass.end - pass.start) - covered) / 1000.0
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val q = props.flatMap(p => Option(p.getProperty(QueryProp)))
      val query = q.getOrElse { unattributedJobs += 1; "" }
      // An execution was attributed by its start time; its jobs must agree.
      if (q.isDefined && exec.flatMap(execQuery.get).exists(_ != query)) unattributedJobs += 1
      val parent = exec.flatMap(execSpans.get).getOrElse(queryAt(e.time.toDouble)._2)
      val id = open(parent, "job", e.jobId.toString, query, e.time.toDouble)
      jobs(e.jobId) = (id, query, exec.isDefined)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      add(query, "spark.exec.jobs", 1)
      if (exec.isEmpty) add(query, "operators.mr.rdd_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(j => close(j._1, e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).flatMap(jobs.get).foreach { case (jobSpan, q, _) =>
        val id = open(jobSpan, "stage", s"${si.stageId}.${si.attemptNumber()}", q,
          si.submissionTime.getOrElse(0L).toDouble)
        close(id, si.completionTime.getOrElse(0L).toDouble)
        add(q, "spark.exec.stages", 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val (q, sql) = stageJob.get(e.stageId).flatMap(jobs.get)
        .map(j => (j._2, j._3)).getOrElse(("", true))
      val info = e.taskInfo
      val m = e.taskMetrics
      add(q, "spark.exec.tasks", 1)
      if (e.reason == Success) add(q, "spark.exec.tasks_ok", 1)
      if (info != null) {
        add(q, "spark.exec.task_s", info.duration / 1000.0)
        if (!sql) add(q, "operators.mr.rdd_task_s", info.duration / 1000.0)
        if (m != null) add(q, "spark.exec.sched_delay_s", math.max(0L, info.duration -
          m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime) / 1000.0)
      }
      if (m != null) {
        add(q, "spark.exec.cpu_s", m.executorCpuTime / 1e9)
        max(q, "spark.exec.peak_exec_mem_mb", m.peakExecutionMemory / 1048576.0)
        add(q, "spark.shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(q, "spark.shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add(q, "spark.shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(q, "spark.shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1000.0)
        add(q, "spark.shuffle.spill_disk_bytes", m.diskBytesSpilled.toDouble)
        add(q, "spark.shuffle.spill_mem_bytes", m.memoryBytesSpilled.toDouble)
        add(q, "sources.scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
        add(q, "sources.scan.rows_read", m.inputMetrics.recordsRead.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        val t = s.time.toDouble
        val (q, qspan) = queryAt(t)
        val parent = s.rootExecutionId.filter(_ != s.executionId).flatMap(execSpans.get)
          .getOrElse(phaseAt(qspan, t))
        execSpans(s.executionId) = open(parent, "sql", s.executionId.toString, q, t)
        execQuery(s.executionId) = q
        if (q.isEmpty) unattributedExecs += 1
        add(q, "spark.catalyst.sql_executions", 1)
      }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        execSpans.get(s.executionId).foreach(close(_, s.time.toDouble))
      }
      case _ =>
    }
  }

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, ns: Long, failed: Boolean): Unit = {
      val ph = qe.tracker.phases
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
      val q = queryAt(start)._1
      Seq("analysis", "optimization", "planning").foreach { k =>
        ph.get(k).foreach(p => add(q, s"spark.catalyst.${k}_s", p.durationMs / 1000.0))
      }
      if (graftmemWrite(qe.analyzed)) {
        add(q, "sources.graftmem.commands", 1)
        if (failed) add(q, "sources.graftmem.failed_commands", 1)
        else {
          add(q, "sources.graftmem.command_s", ns / 1e9)
          sample(q, "sources.graftmem.command_ms", ns / 1e6)
          add(q, "sources.graftmem.rows_written", rowsWritten(qe))
        }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe, ns, false)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe, 0L, true)
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = lock.synchronized {
      val t = java.time.Instant.parse(e.timestamp).toEpochMilli.toDouble
      val (q, qspan) = queryAt(t)
      streamSpans(e.runId) = open(phaseAt(qspan, t), "stream", Option(e.name).getOrElse(e.id.toString), q, t)
      add(q, "streaming.queries", 1)
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = lock.synchronized {
      val p = e.progress
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val trig = d("triggerExecution")
      streamSpans.get(p.runId).foreach { parent =>
        val s = spans(parent)
        val q = s.query
        if (!streamLastEnd.contains(p.runId)) add(q, "streaming.start_to_first_batch_s", (t - s.start) / 1000.0)
        streamLastEnd(p.runId) = t + trig
        close(open(parent, "batch", p.batchId.toString, q, t), t + trig)
        add(q, "streaming.batches", 1)
        if (p.numInputRows > 0) add(q, "streaming.data_batches", 1)
        add(q, "streaming.input_rows", p.numInputRows.toDouble)
        add(q, "streaming.trigger_s", trig / 1000.0)
        Seq("addBatch" -> "add_batch_s", "latestOffset" -> "latest_offset_s",
          "queryPlanning" -> "query_planning_s", "walCommit" -> "wal_commit_s",
          "commitOffsets" -> "commit_offsets_s").foreach { case (k, n) =>
          add(q, s"streaming.$n", d(k) / 1000.0)
        }
        p.stateOperators.foreach { so =>
          add(q, "streaming.state_commit_s", so.commitTimeMs / 1000.0)
          max(q, "streaming.state_rows", so.numRowsTotal.toDouble)
          max(q, "streaming.state_mem_bytes", so.memoryUsedBytes.toDouble)
        }
        sample(q, "streaming.batch_ms", trig)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = lock.synchronized {
      val t = now()
      streamSpans.get(e.runId).foreach { id =>
        close(id, t)
        val q = spans(id).query
        add(q, "streaming.stop_s", (t - streamLastEnd.getOrElse(e.runId, spans(id).start)) / 1000.0)
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
    spark.streams.addListener(streamingListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
    spark.streams.removeListener(streamingListener)
  }
}

object Trace {
  /** Local property naming the benchmark query that submitted a job. */
  val QueryProp = "perfbench.query"

  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val readOnly = Seq("Show", "Describe", "Explain", "Cache", "Uncache",
    "Refresh", "SetCatalog", "SetNamespace", "Use", "Analyze")

  /** A Catalyst command that references a graftmem object (its catalog or
    * one of its tables), other than a read-only one (SHOW, DESCRIBE, ...).
    */
  def graftmemWrite(plan: LogicalPlan): Boolean = plan.exists {
    case c: Command =>
      !readOnly.exists(c.nodeName.startsWith) && refersToGraft(c, 0)
    case _ => false
  }

  private def refersToGraft(x: Any, depth: Int): Boolean = depth < 6 && (x match {
    case null => false
    case p: Product if p.getClass.getName.startsWith("graft.") => true
    case p: Product => p.productIterator.exists(refersToGraft(_, depth + 1))
    case s: Iterable[_] => s.exists(refersToGraft(_, depth + 1))
    case o => o.getClass.getName.startsWith("graft.")
  })

  /** Rows the command wrote, from the output-row metric of its write node. */
  def rowsWritten(qe: QueryExecution): Double = {
    val ms = qe.executedPlan.collect { case p => p.metrics.get("numOutputRows") }.flatten
    ms.headOption.map(_.value.toDouble).getOrElse(0.0)
  }
}
