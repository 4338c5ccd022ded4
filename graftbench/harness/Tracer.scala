package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one op, filled from Spark's listener events. Times of
  * jobs are epoch milliseconds as Spark stamps them. */
final class Layer {
  var jobs, stages, tasks, tablesJobs = 0L
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
  val jobStartMs = ArrayBuffer.empty[Long]
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWriteB, shuffleReadB, spillB, scanFileB = 0L
  var sqlExecs = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var exchanges, smj, bhj, bnlj, unpartitionedWindows, fileScans, graftExprs = 0L
}

/** One SparkListener plus one QueryExecutionListener, registered by the
  * benchmark itself. The client thread is single and the bus is drained
  * at both ends of every op, so every event between [[start]] and
  * [[finish]] belongs to that op. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var cur = new Layer
  private val openJobs = scala.collection.mutable.Map.empty[Int, Long]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Drops whatever ran since the last op (checks, set-up). */
  def start(): Unit = {
    Bus.drain(spark.sparkContext)
    synchronized { cur = new Layer; openJobs.clear() }
  }

  /** The op's counters, complete once the bus is drained. */
  def finish(): Layer = {
    Bus.drain(spark.sparkContext)
    synchronized { cur }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    cur.jobStartMs += e.time
    openJobs(e.jobId) = e.time
    // stages are named after the job's call site, e.g. "parquet at Tables.scala:57"
    if (e.stageInfos.exists(_.name.contains("Tables.scala"))) cur.tablesJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(t0 => cur.jobSpans += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { cur.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskRunMs += m.executorRunTime
      cur.taskCpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      cur.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = Tracer.nodes(qe.executedPlan)
    synchronized {
      cur.sqlExecs += 1
      cur.analysisMs += ms("analysis")
      cur.optimizationMs += ms("optimization")
      cur.planningMs += ms("planning")
      nodes.foreach {
        case _: ShuffleExchangeLike => cur.exchanges += 1
        case _: SortMergeJoinExec => cur.smj += 1
        case _: BroadcastHashJoinExec => cur.bhj += 1
        case _: BroadcastNestedLoopJoinExec => cur.bnlj += 1
        case w: WindowExec if w.partitionSpec.isEmpty =>
          cur.unpartitionedWindows += 1
        case f: FileSourceScanExec =>
          cur.fileScans += 1
          // the scan's own "size of files read"; the task input counter
          // misses parquet's vectored reads, which run off the task thread
          cur.scanFileB += f.metrics.get("filesSize").map(_.value).getOrElse(0L)
        case _ =>
      }
      cur.graftExprs += nodes.map(n => n.expressions.map(_.collect {
        case x if x.getClass.getName.startsWith("org.apache.spark.sql.graft.") => 1
      }.size).sum.toLong).sum
    }
  }
}

object Tracer {
  /** Every operator of an executed plan: the final adaptive plan,
    * through query stages, and the plans of subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case n => n +: (n.children.flatMap(nodes) ++ n.subqueries.flatMap(nodes))
  }

  /** Length of the union of `spans`, each clipped to [lo, hi]. */
  def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}
