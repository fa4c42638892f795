package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.perfbench.Bus
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners and spans. Spans stay in memory until the run
  * ends. Spans nest workload → pass → op → Spark job; an op's jobs carry
  * the op's id. Engine and streaming counters go to the op that is open
  * when the listener bus delivers them; the bus is drained before an op
  * closes, so nothing an op caused is counted against the next one. */
final class Tracer(spark: SparkSession, clock: Clock) {
  val spans = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  @volatile private var counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  @volatile private var opSpan: Option[Int] = None
  @volatile private var opId = ""
  /** Per streaming run: Σ state rows and bytes at its latest progress. */
  private val stateSize = mutable.Map.empty[java.util.UUID, (Double, Double)]
  private val jobSpans = mutable.Map.empty[Int, Int]

  private def add(k: String, v: Double): Unit = synchronized { counters(k) += v }

  /** Opens a span; for an op, drains the bus first so that events of work
    * done between ops are not counted against it. */
  def open(kind: String, name: String, parent: Option[Int], op: String = ""): Int = {
    if (kind == "op") Bus.drain(spark.sparkContext)
    openSpan(kind, name, parent, op)
  }

  private def openSpan(kind: String, name: String, parent: Option[Int], op: String): Int = synchronized {
    if (kind == "op") {
      counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      opId = op
    }
    spans += mutable.Map("id" -> spans.size, "parent" -> parent.getOrElse(-1), "kind" -> kind,
      "name" -> name, "op" -> op, "t0_ms" -> clock.epochMs(), "t1_ms" -> Double.NaN)
    val id = spans.size - 1
    if (kind == "op") opSpan = Some(id)
    id
  }

  /** Closes a span at `endMs`; for an op, drains the bus first and returns
    * the op's counters. */
  def close(id: Int, endMs: Double): Map[String, Double] = {
    val isOp = spans(id)("kind") == "op"
    if (isOp) Bus.drain(spark.sparkContext)
    synchronized {
      spans(id)("t1_ms") = endMs
      if (!isOp) Map.empty
      else {
        stateSize.values.foreach { case (r, b) => counters("state_rows") += r; counters("state_bytes") += b }
        stateSize.clear()
        opSpan = None
        counters.toMap
      }
    }
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      add("jobs", 1)
      opSpan.foreach { parent =>
        spans += mutable.Map("id" -> spans.size, "parent" -> parent, "kind" -> "job",
          "name" -> s"job${e.jobId}", "op" -> opId, "t0_ms" -> e.time.toDouble, "t1_ms" -> Double.NaN)
        jobSpans(e.jobId) = spans.size - 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpans.remove(e.jobId).foreach(i => spans(i)("t1_ms") = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      add("stages", 1)
      if (i.numTasks == 1)
        for (a <- i.submissionTime; b <- i.completionTime) add("serial_stage_s", (b - a) / 1e3)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("task_s", m.executorRunTime / 1e3)
        add("task_cpu_s", m.executorCpuTime / 1e9)
        add("gc_s", m.jvmGCTime / 1e3)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planning(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planning(qe)
    private def planning(qe: QueryExecution): Unit =
      add("planning_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      add("streaming_queries", 1)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
      add("batches", 1)
      add("batch_s", ms("triggerExecution"))
      add("add_batch_s", ms("addBatch"))
      add("query_planning_s", ms("queryPlanning"))
      add("wal_commit_s", ms("walCommit"))
      add("commit_offsets_s", ms("commitOffsets"))
      add("state_commit_s", p.stateOperators.map(_.commitTimeMs / 1e3).sum)
      Tracer.this.synchronized {
        stateSize(p.runId) = (p.stateOperators.map(_.numRowsTotal.toDouble).sum,
          p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })
}
