package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of an op. Times are epoch microseconds so that
  * client-side spans (System.nanoTime, rebased) and Spark's listener
  * events (epoch milliseconds) share one clock. */
final case class Span(op: Long, id: Long, parent: Long, name: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = math.max(0L, endUs - startUs)
}

/** Execution counters of one Spark job, folded from its stages' tasks. */
final class JobAgg(val jobId: Int, val tag: String, val startMs: Long) {
  var endMs: Long = -1L
  var stageIds: Seq[Int] = Nil
}

final class StageAgg(val stageId: Int) {
  var submitMs = -1L
  var completeMs = -1L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var peakMemB = 0L
}

/** Planning phases of one executed query, from `qe.tracker.phases`. */
final case class Phases(phases: Map[String, (Long, Long)]) // name → (startMs, endMs)

/** Listener pair that records, per op, the Spark jobs, stages and tasks
  * it caused and the planning phases of each query it executed. Ops are
  * told apart by a local property the client thread sets before it
  * constructs and before it executes an op; planning phases arrive
  * without it and are matched to an op by time afterwards. Everything is
  * kept in memory; [[OpLayers.of]] turns an op's records into spans. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobAgg]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  val queries = mutable.ArrayBuffer.empty[Phases]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.TagKey))).getOrElse("")
    val j = new JobAgg(e.jobId, tag, e.time)
    j.stageIds = e.stageIds
    jobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    if (s.submitMs < 0) s.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
    s.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (!e.taskInfo.successful) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMemB = math.max(s.peakMemB, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    synchronized { queries += Phases(ph) }
  }

  def clear(): Unit = synchronized { jobs.clear(); stages.clear(); queries.clear() }
}

object Tracer {
  val TagKey = "perfbench.op"
  val PhaseNames = Seq("analysis", "optimization", "planning")
}

/** Per-op layer totals derived from a [[Tracer]] snapshot. */
final case class OpLayers(
    constructS: Double, constructJobs: Int, execS: Double, phaseS: Map[String, Double],
    execJobs: Int, stages: Int, tasks: Long, singleTaskStages: Int, taskRunS: Double,
    gcS: Double, failedTasks: Long, shuffleWriteB: Long, shuffleReadB: Long,
    spillB: Long, peakMemB: Long, spans: Seq[Span], codegenCompiles: Long = 0L,
    segmentsRead: Long = 0L, segmentsSkipped: Long = 0L)

object OpLayers {
  /** Build an op's span tree and counters: op → {construct, execute};
    * construct/execute → {planning phases, jobs}; job → stages. */
  def of(t: Tracer, opId: Long, name: String, startUs: Long, constructEndUs: Long,
         endUs: Long): OpLayers = t.synchronized {
    var next = 0L
    def nid(): Long = { next += 1; opId * 1000000L + next }
    val spans = mutable.ArrayBuffer.empty[Span]
    val root = Span(opId, nid(), 0L, name, startUs, endUs)
    val cons = Span(opId, nid(), root.id, "construct", startUs, constructEndUs)
    val exec = Span(opId, nid(), root.id, "execute", constructEndUs, endUs)
    spans ++= Seq(root, cons, exec)
    val phaseS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    t.queries.foreach { q =>
      q.phases.foreach { case (ph, (s, e)) =>
        val sUs = s * 1000L
        if (Tracer.PhaseNames.contains(ph) && sUs >= startUs - 1000L && sUs <= endUs) {
          val parent = if (sUs < constructEndUs) cons else exec
          spans += Span(opId, nid(), parent.id, s"plan.$ph", sUs, e * 1000L)
          phaseS(ph) += (e - s) / 1e3
        }
      }
    }
    val mine = t.jobs.values.filter(_.tag.startsWith(s"$opId:")).toSeq
    val consJobs = mine.count(_.tag.endsWith(":construct"))
    val stageAggs = mutable.ArrayBuffer.empty[StageAgg]
    mine.foreach { j =>
      val parent = if (j.tag.endsWith(":construct")) cons else exec
      val jEnd = if (j.endMs > 0) j.endMs else j.startMs
      val js = Span(opId, nid(), parent.id, s"job.${j.jobId}", j.startMs * 1000L, jEnd * 1000L)
      spans += js
      j.stageIds.flatMap(t.stages.get).filter(_.tasks > 0).foreach { s =>
        stageAggs += s
        spans += Span(opId, nid(), js.id, s"stage.${s.stageId}",
          math.max(s.submitMs, 0L) * 1000L, math.max(s.completeMs, s.submitMs) * 1000L)
      }
    }
    val distinct = stageAggs.distinctBy(_.stageId)
    OpLayers(
      constructS = cons.durUs / 1e6, constructJobs = consJobs, execS = exec.durUs / 1e6,
      phaseS = phaseS.toMap, execJobs = mine.size - consJobs, stages = distinct.size,
      tasks = distinct.map(_.tasks).sum, singleTaskStages = distinct.count(_.tasks == 1),
      taskRunS = distinct.map(_.runMs).sum / 1e3, gcS = distinct.map(_.gcMs).sum / 1e3,
      failedTasks = distinct.map(_.failedTasks).sum,
      shuffleWriteB = distinct.map(_.shuffleWriteB).sum,
      shuffleReadB = distinct.map(_.shuffleReadB).sum,
      spillB = distinct.map(_.spillB).sum,
      peakMemB = if (distinct.isEmpty) 0L else distinct.map(_.peakMemB).max,
      spans = spans.toSeq)
  }

  /** Σ self time over an op's span tree, where a span's self time is its
    * duration minus the part of its own interval its children cover.
    * Equals the op's wall time when every child lies inside its parent;
    * the relative gap measures how far the recorded spans disagree. */
  def selfTimeGap(spans: Seq[Span]): Double = {
    val kids = spans.groupBy(_.parent)
    val selfSum = spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
      s.durUs - covered
    }.sum
    val wall = spans.head.durUs
    if (wall <= 0) 0.0 else math.abs(selfSum - wall).toDouble / wall
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
