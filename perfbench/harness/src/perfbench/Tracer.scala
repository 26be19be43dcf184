package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation Spark counters, from a `SparkListener` (jobs, stages,
  * tasks, executor time, shuffle, input) and a `QueryExecutionListener`
  * (the planning tracker's analysis, optimization and planning phases).
  * Both are attached only between `begin` and `end`, so untraced
  * operations run without them. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  private var planMs, jobs, stages, tasks = 0L
  private var cpuNs, runMs, gcMs, shufW, shufR, spill, inBytes, inRows = 0L
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)]
  private var startMs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime; runMs += m.executorRunTime; gcMs += m.jvmGCTime
        shufW += m.shuffleWriteMetrics.bytesWritten
        shufR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        spill += m.diskBytesSpilled
        inBytes += m.inputMetrics.bytesRead; inRows += m.inputMetrics.recordsRead
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning").flatMap(p.get).map(_.durationMs).sum
      Tracer.this.synchronized { planMs += ms }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  def begin(): Unit = {
    ListenerBusAccess.drain(sc)
    synchronized {
      planMs = 0; jobs = 0; stages = 0; tasks = 0
      cpuNs = 0; runMs = 0; gcMs = 0; shufW = 0; shufR = 0; spill = 0; inBytes = 0; inRows = 0
      jobStart.clear(); jobSpans.clear()
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    startMs = System.currentTimeMillis()
  }

  def end(s: Harness.Sample): Unit = {
    val endMs = System.currentTimeMillis()
    ListenerBusAccess.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    synchronized {
      s.fields ++= Seq(
        "plan_ms" -> planMs, "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
        "cpu_ms" -> cpuNs / 1e6, "run_ms" -> runMs, "gc_ms" -> gcMs,
        "shuffle_write" -> shufW, "shuffle_read" -> shufR, "spill" -> spill,
        "input_bytes" -> inBytes, "input_rows" -> inRows,
        "job_union_ms" -> Tracer.unionMs(jobSpans.toSeq, startMs, endMs),
        "span_ms" -> (endMs - startMs))
    }
  }
}

object Tracer {
  /** Length of the union of `spans`, clipped to [lo, hi]. */
  def unionMs(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
