package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `parent` is the key
  * of the enclosing span ("" for a root), `op` the operation it serves. */
final case class Span(key: String, parent: String, name: String, op: String,
    start: Double, end: Double) {
  def json(run: String): String = Json.write(Map("run" -> run, "key" -> key,
    "parent" -> parent, "name" -> name, "op" -> op, "start" -> start, "end" -> end))
}

/** Everything the benchmark learns from Spark's public listener APIs.
  *
  * Jobs carry the local properties `graftbench.op` / `graftbench.phase`
  * that the harness sets around each call, so jobs, their stages and
  * their tasks are attributed to an operation and a layer without any
  * timing guesswork. Untraced passes keep only job/stage/task counts;
  * traced passes add task metrics, job and stage spans, and the plans
  * handed to `QueryExecutionListener`. The harness switches `traced`
  * only between passes, after a flush. Listener callbacks run on Spark's
  * bus thread, so every access goes through `this` as a lock.
  */
final class Probe extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  @volatile var traced = false

  private val stats = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val stageOwner = mutable.Map.empty[Int, (String, String, Int)]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobOwner = mutable.Map.empty[Int, (String, String, Long)]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val plans = mutable.ArrayBuffer.empty[QueryExecution]
  private val tables = mutable.Set.empty[String]
  private var flushesSeen = 0L

  private def bump(m: mutable.Map[String, Double], key: String, v: Double): Unit =
    m.updateWith(key)(x => Some(x.getOrElse(0.0) + v))

  private def add(op: String, key: String, v: Double): Unit =
    bump(stats.getOrElseUpdate(op, mutable.Map.empty[String, Double]), key, v)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Probe.OpKey))).orNull
    if (op != null) {
      val phase = props.flatMap(p => Option(p.getProperty(Probe.PhaseKey))).getOrElse("exec")
      jobOwner(e.jobId) = (op, phase, e.time)
      e.stageInfos.foreach(s => if (!stageOwner.contains(s.stageId))
        stageOwner(s.stageId) = (op, phase, e.jobId))
      add(op, "jobs", 1)
      add(op, s"jobs.$phase", 1)
      if (e.stageInfos.exists(_.name.contains("Tables.scala"))) add(op, "schema_jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (op, phase, t0) =>
      if (op == Probe.FlushOp) flushesSeen += 1
      else if (traced)
        spans += Span(s"job:${e.jobId}", s"$op/$phase", "job", op, t0.toDouble, e.time.toDouble)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stageOwner.get(s.stageId).foreach { case (op, _, jobId) =>
      add(op, "stages", 1)
      if (traced && !op.startsWith("__")) for (t0 <- s.submissionTime; t1 <- s.completionTime)
        spans += Span(s"stage:${s.stageId}.${s.attemptNumber()}", s"job:$jobId",
          "stage", op, t0.toDouble, t1.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { case (op, phase, _) =>
      add(op, "tasks", 1)
      val m = e.taskMetrics
      if (traced && m != null) {
        add(op, "task_run_s", m.executorRunTime / 1e3)
        add(op, s"task_run_s.$phase", m.executorRunTime / 1e3)
        add(op, "task_cpu_s", m.executorCpuTime / 1e9)
        add(op, "gc_s", m.jvmGCTime / 1e3)
        add(op, "scan_bytes", m.inputMetrics.bytesRead.toDouble)
        add(op, "scan_rows", m.inputMetrics.recordsRead.toDouble)
        add(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(op, "shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add(op, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(op, "spill_bytes", m.diskBytesSpilled.toDouble)
        stageSubmitted.get(e.stageId).foreach(t0 =>
          add(op, "sched_wait_s", math.max(0L, e.taskInfo.launchTime - t0) / 1e3))
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (traced) synchronized { plans += qe }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Called once the listener bus has delivered everything up to the
    * `n`-th flush job (the bus is FIFO, so earlier events are in). */
  def flushed(n: Long): Boolean = synchronized { flushesSeen >= n }

  def addSpan(s: Span): Unit = synchronized { spans += s }

  /** Stats of `op` so far, plus (traced) the shape and operator times of
    * the plans Spark ran for it, which the caller drains after a flush. */
  def take(op: String): Map[String, Double] = synchronized {
    val out = mutable.Map.empty[String, Double] ++ stats.remove(op).getOrElse(Map.empty)
    if (plans.nonEmpty) {
      plans.foreach { qe =>
        operatorTimes(qe.executedPlan, out)
        qe.tracker.phases.foreach { case (phase, t) =>
          bump(out, s"tracker.${phase}_s", t.durationMs / 1e3)
        }
        foreach(qe.executedPlan) {
          case s: FileSourceScanExec => s.relation.location.rootPaths
            .map(_.getName).filter(_.endsWith(".parquet"))
            .foreach(n => tables += n.stripSuffix(".parquet"))
          case _ => ()
        }
      }
      // the final plan is the sink write (the last action of the operation)
      plans.lastOption.foreach(qe => planShape(qe.executedPlan, out))
      out("plans") = plans.size.toDouble
      plans.clear()
    }
    out.toMap
  }

  def allSpans: Seq[Span] = synchronized { spans.toList }

  /** Tables scanned by the plans of traced operations. */
  def scannedTables: Seq[String] = synchronized { tables.toList.sorted }

  /** Whether any job of a timed operation was seen (ids of the
    * harness's own bookkeeping jobs start with "__"). */
  def capturedJobs: Boolean = synchronized { stats.keys.exists(!_.startsWith("__")) }

  private def planShape(p: SparkPlan, out: mutable.Map[String, Double]): Unit =
    foreach(p) {
      case _: ShuffleExchangeLike => bump(out, "exchanges", 1)
      case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
        bump(out, "broadcast_joins", 1)
      case _: SortMergeJoinExec | _: ShuffledHashJoinExec => bump(out, "shuffled_joins", 1)
      case _ => ()
    }

  /** Operator time from each node's SQLMetrics: sort, aggregate, hash
    * build (shuffled-hash joins and broadcast builds) and shuffle write. */
  private def operatorTimes(p: SparkPlan, out: mutable.Map[String, Double]): Unit =
    foreach(p) { node =>
      val metricKey: Option[(String, String)] = node match {
        case _: ShuffleExchangeLike => Some("shuffleWriteTime" -> "op.shuffle_write_s")
        case _: BroadcastExchangeLike | _: ShuffledHashJoinExec => Some("buildTime" -> "op.hash_build_s")
        case _: SortExec => Some("sortTime" -> "op.sort_s")
        case _: BaseAggregateExec => Some("aggTime" -> "op.agg_s")
        case _ => None
      }
      for ((name, key) <- metricKey; m <- node.metrics.get(name)) {
        val scale = if (m.metricType == "nsTiming") 1e9 else 1e3
        bump(out, key, m.value / scale)
      }
    }
}

object Probe {
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"
  val FlushOp = "__flush__"
}

/** Collects micro-batch progress per streaming query; `onQueryTerminated`
  * is the last event of a query, so once it is seen its progress is whole. */
final class StreamProbe extends StreamingQueryListener {
  import StreamingQueryListener._
  private val progress = mutable.Map.empty[String, mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]]
  private val done = mutable.Set.empty[String]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    progress.getOrElseUpdate(e.progress.id.toString, mutable.ArrayBuffer.empty) += e.progress
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
    done += e.id.toString
  }

  def terminated(id: String): Boolean = synchronized { done(id) }
  def of(id: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized { progress.getOrElse(id, Nil).toList }
}
