package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * The harness opens run → pass → query → {build, execute} spans around its
  * calls into the engine; each phase span carries the codegen counters read
  * at its boundaries. Spark's listeners supply job and stage spans, which
  * name the phase that started them through a local property, and each
  * query execution's planning phases, which become the query's `plan` span.
  * Everything is kept in memory and serialized once by [[json]].
  */
final class Tracer private (spark: SparkSession, cpus: Int)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer._

  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis().toDouble
  private def nowMs(): Double = t0EpochMs + (System.nanoTime() - t0Nanos) / 1e6

  // main-thread state
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val run = open(-1, "run", "run")
  private var pass: Span = _
  private var query: Span = _
  private var phase: Span = _
  private var executes = 0

  // listener-thread state (guarded by `this`)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  private var lastEventMs = nowMs()

  private def open(parent: Long, kind: String, name: String): Span = {
    val s = Span(nextId, parent, kind, name, nowMs())
    nextId += 1
    spans += s
    s
  }

  private def codegenCounters(s: Span, prefix: String): Unit = {
    s.attrs(prefix + "compile_ns") = CodeGenerator.compileTime.toDouble
    s.attrs(prefix + "classes") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
  }

  def passStart(index: Int, kind: String): Unit = {
    pass = open(run.id, "pass", s"$kind-$index")
    pass.attrs("index") = index
    codegenCounters(pass, "start_")
  }

  def passEnd(): Unit = {
    codegenCounters(pass, "end_")
    pass.end = nowMs()
    query = null
  }

  def phaseStart(queryName: String, kind: String): Unit = {
    if (query == null || query.name != queryName || kind == "build")
      query = open(pass.id, "query", queryName)
    phase = open(query.id, kind, queryName)
    if (kind == "execute") executes += 1
    codegenCounters(phase, "start_")
    spark.sparkContext.setLocalProperty(SpanProperty, phase.id.toString)
  }

  def phaseEnd(): Unit = {
    spark.sparkContext.setLocalProperty(SpanProperty, null)
    codegenCounters(phase, "end_")
    phase.end = nowMs()
    query.end = phase.end
  }

  /** Analysis runs eagerly when the builder creates the DataFrame. */
  def analysisOf(df: DataFrame): Unit =
    df.queryExecution.tracker.phases.get(QueryPlanningTrackerAnalysis).foreach { p =>
      phase.attrs("df_analysis_ms") = (p.endTimeMs - p.startTimeMs).toDouble
    }

  // ---- Spark listener side ----

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toLong)
    jobs(e.jobId) = Job(e.jobId, span.getOrElse(-1L), e.time.toDouble)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    lastEventMs = nowMs()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    lastEventMs = nowMs()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, Stage(e.stageId, stageJob.getOrElse(e.stageId, -1)))
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.resultBytes += m.resultSize
      st.inputBytes += m.inputMetrics.bytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      st.spillBytes += m.diskBytesSpilled
      st.peakMemBytes = math.max(st.peakMemBytes, m.peakExecutionMemory)
      st.taskRunMs += m.executorRunTime
    }
    st.tasks += 1
    lastEventMs = nowMs()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val st = stages.getOrElseUpdate(info.stageId, Stage(info.stageId, stageJob.getOrElse(info.stageId, -1)))
    st.start = info.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
    st.end = info.completionTime.map(_.toDouble).getOrElse(Double.NaN)
    lastEventMs = nowMs()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
    val plan = qe.executedPlan
    val exchanges = collectWithSubqueries(plan) { case e: Exchange => e }.size
    val interpreted = collectWithSubqueries(plan) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case e: CodegenFallback => e; case u: ScalaUDF => u }))
      .size
    synchronized {
      plans += Plan(funcName, phases, exchanges, interpreted)
      lastEventMs = nowMs()
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { lastEventMs = nowMs() }

  /** Waits for the listener buses to deliver every event of the run, then
    * stops listening. */
  def finish(): Unit = {
    run.end = nowMs()
    val deadline = nowMs() + 30000
    def drained = synchronized {
      jobs.values.forall(!_.end.isNaN) && plans.size >= executes && nowMs() - lastEventMs > 200
    }
    while (!drained && nowMs() < deadline) Thread.sleep(50)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def json(): String = synchronized {
    val j = new Json
    j.obj {
      j.field("slots", cpus)
      j.key("spans"); j.arr(spans) { s =>
        j.obj {
          j.field("id", s.id); j.field("parent", s.parent); j.field("kind", s.kind)
          j.field("name", s.name); j.field("start_ms", s.start); j.field("end_ms", s.end)
          s.attrs.foreach { case (k, v) => j.field(k, v) }
        }
      }
      j.key("jobs"); j.arr(jobs.values) { x =>
        j.obj {
          j.field("id", x.id); j.field("span", x.span)
          j.field("start_ms", x.start); j.field("end_ms", x.end)
        }
      }
      j.key("stages"); j.arr(stages.values) { s =>
        j.obj {
          j.field("id", s.id); j.field("job", s.job); j.field("start_ms", s.start); j.field("end_ms", s.end)
          j.field("tasks", s.tasks); j.field("run_ms", s.runMs); j.field("cpu_ns", s.cpuNs)
          j.field("gc_ms", s.gcMs); j.field("result_bytes", s.resultBytes)
          j.field("input_bytes", s.inputBytes); j.field("shuffle_write_bytes", s.shuffleWriteBytes)
          j.field("shuffle_records", s.shuffleRecords); j.field("fetch_wait_ms", s.fetchWaitMs)
          j.field("spill_bytes", s.spillBytes); j.field("peak_mem_bytes", s.peakMemBytes)
          j.key("task_run_ms"); j.arr(s.taskRunMs)(j.value)
        }
      }
      j.key("plans"); j.arr(plans) { p =>
        j.obj {
          j.field("func", p.func); j.field("exchanges", p.exchanges)
          j.field("interpreted", p.interpreted)
          j.key("phases"); j.obj {
            p.phases.toSeq.sortBy(_._1).foreach { case (k, (s, e)) =>
              j.key(k); j.obj { j.field("start_ms", s); j.field("end_ms", e) }
            }
          }
        }
      }
    }
    j.result()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  private val QueryPlanningTrackerAnalysis = "analysis"

  final case class Span(id: Long, parent: Long, kind: String, name: String, start: Double) {
    var end: Double = Double.NaN
    val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  final case class Job(id: Int, span: Long, start: Double) { var end: Double = Double.NaN }

  final case class Stage(id: Int, job: Int) {
    var start, end: Double = Double.NaN
    var tasks, runMs, cpuNs, gcMs, resultBytes, inputBytes, shuffleWriteBytes, shuffleRecords,
        fetchWaitMs, spillBytes, peakMemBytes = 0L
    val taskRunMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  }

  final case class Plan(func: String, phases: Map[String, (Double, Double)], exchanges: Int,
      interpreted: Int)

  def install(spark: SparkSession, cpus: Int): Tracer = {
    val t = new Tracer(spark, cpus)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
