package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer of a call site: the first `graft.<module>.` frame decides it.
  * `operators.Linkage`/`operators.TfIdfLink` are pair engines and belong to
  * `llm`; `functions`, `streaming` and `typed` are operator families. A call
  * site with no graft frame is the benchmark's own final action on the
  * registry's DataFrame, so it is `registry`.
  */
object Layers {
  val modules: Seq[String] = Seq("sources", "operators", "llm", "pipelines", "registry")
  private val Frame = """graft\.([a-z]+)\.([A-Za-z0-9_]+)""".r

  def of(callSite: String): String =
    Frame.findFirstMatchIn(Option(callSite).getOrElse("")).map { m =>
      (m.group(1), m.group(2).takeWhile(_ != '$')) match {
        case ("operators", "Linkage" | "TfIdfLink") => "llm"
        case ("functions" | "streaming" | "typed", _) => "operators"
        case (mod, _) if modules.contains(mod) || mod == "plans" => mod
        case _ => "registry"
      }
    }.getOrElse("registry")
}

/** Per-stage task totals, summed from `onTaskEnd`. */
final class StageAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var schedMs = 0L
  var shReadB = 0L; var shRecords = 0L; var fetchWaitMs = 0L; var shWriteB = 0L
  var spillB = 0L; var peakExecB = 0L; var inB = 0L; var inRows = 0L; var outB = 0L; var outRows = 0L
}

final case class SqlEv(id: Long, startMs: Long, var endMs: Long, layer: String)
final case class JobEv(id: Long, startMs: Long, var endMs: Long, sqlId: Option[Long],
                       phase: Option[String], stageIds: Seq[Int], fallbackLayer: String)
final case class StageEv(id: Int, var submitMs: Long, var endMs: Long, rddIds: Seq[Int])
final case class PlanEv(timeMs: Long, analysisMs: Long, optimizeMs: Long, physicalMs: Long,
                        graftRuleNs: Long, graftInv: Long, graftEff: Long,
                        broadcasts: Int, broadcastB: Long)
final case class BlockEv(rddId: Int, bytes: Long)

/** Collects raw Spark events through the public hooks only: a
  * [[SparkListener]] (jobs, stages, tasks, SQL executions, block updates)
  * and a [[QueryExecutionListener]] (its [[org.apache.spark.sql.catalyst.QueryPlanningTracker]]
  * and executed plan). Events are held in memory and turned into spans by
  * [[TraceAgg]] between passes; events of other passes still queued on the
  * listener bus are told apart by the pass number in [[Tracer.PhaseKey]].
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  val sqls = mutable.LinkedHashMap.empty[Long, SqlEv]
  val jobs = mutable.LinkedHashMap.empty[Long, JobEv]
  val stages = mutable.LinkedHashMap.empty[Int, StageEv]
  val stageAgg = mutable.HashMap.empty[Int, StageAgg]
  val plans = mutable.ArrayBuffer.empty[PlanEv]
  val blocks = mutable.ArrayBuffer.empty[BlockEv]
  @volatile var openJobs = 0
  @volatile var openSqls = 0

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => lock.synchronized {
      sqls(s.executionId) = SqlEv(s.executionId, s.time, -1L, Layers.of(s.details)); openSqls += 1
    }
    case s: SparkListenerSQLExecutionEnd => lock.synchronized {
      sqls.get(s.executionId).foreach { x => x.endMs = s.time; openSqls -= 1 }
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = lock.synchronized {
    val props = Option(j.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val fallback = prop("callSite.long").orElse(j.stageInfos.sortBy(_.stageId).headOption.map(_.details))
    jobs(j.jobId.toLong) = JobEv(j.jobId.toLong, j.time, -1L,
      prop("spark.sql.execution.id").map(_.toLong), prop(Tracer.PhaseKey),
      j.stageIds, Layers.of(fallback.getOrElse("")))
    openJobs += 1
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(j.jobId.toLong).foreach { x => x.endMs = j.time; openJobs -= 1 }
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = lock.synchronized {
    val i = s.stageInfo
    stages(i.stageId) = StageEv(i.stageId, i.submissionTime.getOrElse(System.currentTimeMillis()), -1L,
      i.rddInfos.map(_.id))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = s.stageInfo
    stages.get(i.stageId).foreach(_.endMs = i.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = lock.synchronized {
    val a = stageAgg.getOrElseUpdate(t.stageId, new StageAgg)
    a.tasks += 1
    val m = t.taskMetrics
    if (m != null) {
      val info = t.taskInfo
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      a.schedMs += math.max(0L, info.finishTime - info.launchTime - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      val r = m.shuffleReadMetrics
      a.shReadB += r.totalBytesRead; a.shRecords += r.recordsRead; a.fetchWaitMs += r.fetchWaitTime
      a.shWriteB += m.shuffleWriteMetrics.bytesWritten
      a.spillB += m.memoryBytesSpilled
      a.peakExecB = math.max(a.peakExecB, m.peakExecutionMemory)
      a.inB += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
      a.outB += m.outputMetrics.bytesWritten; a.outRows += m.outputMetrics.recordsWritten
    }
  }

  override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
    val i = b.blockUpdatedInfo
    i.blockId.asRDDId.filter(_ => i.storageLevel.isValid)
      .foreach(r => lock.synchronized { blocks += BlockEv(r.rddId, i.memSize + i.diskSize) })
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t = qe.tracker
    def phase(n: String) = t.phases.get(n).map(_.durationMs).getOrElse(0L)
    val graft = t.rules.filter(_._1.startsWith("graft.plans.")).values
    val bcast = Tracer.PlanWalk.collectWithSubqueries(qe.executedPlan) {
      case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }
    // Planning ends inside the harness phase that ran the execution, which
    // is how TraceAgg finds the plan's query.
    val end = t.phases.values.map(_.endTimeMs).maxOption.getOrElse(System.currentTimeMillis())
    val p = PlanEv(end, phase("analysis"), phase("optimization"), phase("planning"),
      graft.map(_.totalTimeNs).sum, graft.map(_.numInvocations).sum,
      graft.map(_.numEffectiveInvocations).sum, bcast.size, bcast.sum)
    lock.synchronized { plans += p }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Blocks until every started job and SQL execution has been seen to end,
    * so a pass's events are complete before they are aggregated. */
  def quiesce(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    Thread.sleep(50)
    while ((openJobs > 0 || openSqls > 0) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100) // trailing task/block events queued behind the last end
  }

  def withLock[T](f: => T): T = lock.synchronized(f)

  def clear(): Unit = lock.synchronized {
    sqls.clear(); jobs.clear(); stages.clear(); stageAgg.clear(); plans.clear(); blocks.clear()
    openJobs = 0; openSqls = 0
  }
}

object Tracer {
  /** Local property the harness sets to `<pass>/<query>/<build|execute>` before each phase. */
  val PhaseKey = "perfbench.phase"
  object PlanWalk extends AdaptiveSparkPlanHelper
}

/** One node of the span tree written to the trace file. */
final case class Span(id: Long, parent: Long, kind: String, name: String, layer: String,
                      startMs: Double, endMs: Double, var selfMs: Double = 0.0)

object Spans {
  /** Length of the union of `ivs` clipped to `[lo, hi]`. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    for ((s0, e0) <- ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (curS.isNaN || s0 > curE) { if (!curS.isNaN) total += curE - curS; curS = s0; curE = e0 }
      else curE = math.max(curE, e0)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Fills each span's self time: its duration minus the part its children cover. */
  def fillSelf(spans: Seq[Span]): Unit = {
    val kids = spans.groupBy(_.parent)
    spans.foreach { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.selfMs = (s.endMs - s.startMs) - covered(ch, s.startMs, s.endMs)
    }
  }
}
