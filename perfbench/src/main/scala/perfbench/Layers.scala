package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished task, as the scheduler reported it. Times are epoch ms. */
final case class TaskRec(launch: Long, finish: Long, runMs: Long, shuffleWrite: Long,
                         shuffleRead: Long, input: Long, spill: Long)

/** Records jobs, stages and tasks with their timestamps, so that any
  * wall-clock window can be summarised after the fact: counts, task
  * time, bytes moved, how busy the cores were, and how long the window
  * ran with no job (driver-only time) or inside a job with no task
  * (scheduling gaps). Attached only in traced runs. */
final class EngineListener extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]()   // (start, end)
  val stages = new ConcurrentLinkedQueue[Long]()         // submission times
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time): Unit
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s, e.time)))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.add(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())): Unit
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.inputMetrics.bytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)): Unit
  }

  /** Summary of the window [t0, t1] (epoch ms) on `cores` cores. */
  def window(t0: Long, t1: Long, cores: Int): Map[String, Double] = {
    val js = jobs.asScala.filter { case (s, e) => e >= t0 && s <= t1 }.toSeq
    val ts = tasks.asScala.filter(t => t.finish >= t0 && t.launch <= t1).toSeq
    def clip(iv: Seq[(Long, Long)]) =
      iv.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }.filter(p => p._2 > p._1)
    val jobIv = Intervals.union(clip(js))
    val taskIv = Intervals.union(clip(ts.map(t => (t.launch, t.finish))))
    val wall = math.max(1L, t1 - t0).toDouble
    val taskWallMs = clip(ts.map(t => (t.launch, t.finish))).map(p => p._2 - p._1).sum.toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> js.count(_._1 >= t0).toDouble,
      "spark.stages" -> stages.asScala.count(s => s >= t0 && s <= t1).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_s" -> ts.map(_.runMs).sum / 1000.0,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spark.input_mb" -> ts.map(_.input).sum / mb,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb,
      "spark.core_busy" -> taskWallMs / (wall * cores),
      "spark.job_idle_s" -> (wall - Intervals.length(jobIv)) / 1000.0,
      "spark.no_task_s" -> Intervals.length(Intervals.minus(jobIv, taskIv)) / 1000.0)
  }

  /** Jobs that started inside [t0, t1]. */
  def jobsStartedIn(t0: Long, t1: Long): Int = jobs.asScala.count(j => j._1 >= t0 && j._1 <= t1)
}

object Intervals {
  def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }
  def length(iv: Seq[(Long, Long)]): Long = iv.map(p => p._2 - p._1).sum
  /** Parts of the disjoint sorted intervals `a` not covered by the disjoint sorted `b`. */
  def minus(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    a.flatMap { case (s, e) =>
      var cur = s
      val out = mutable.ArrayBuffer.empty[(Long, Long)]
      b.filter(p => p._2 > s && p._1 < e).foreach { case (bs, be) =>
        if (bs > cur) out += ((cur, bs))
        cur = math.max(cur, be)
      }
      if (cur < e) out += ((cur, e))
      out
    }
}

/** One executed noop write: its planning phases and its AQE-final plan. */
final case class WriteRec(planMs: Double, exchanges: Int, broadcasts: Int, codegen: Int, cached: Int)

/** Captures every `noop` write the benchmark runs, in execution order.
  * Writes are the only noop-sink executions, so the n-th record is the
  * n-th program executed. */
final class WriteListener extends QueryExecutionListener {
  val writes = new ConcurrentLinkedQueue[WriteRec]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.logical.isInstanceOf[V2WriteCommand] && qe.logical.toString.contains("noop-table")) {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      val counts = Array(0, 0, 0, 0)
      def walk(p: SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case _: ShuffleExchangeLike => counts(0) += 1
          case _: BroadcastExchangeLike => counts(1) += 1
          case r: ReusedExchangeExec => r.child match {
            case _: BroadcastExchangeLike => counts(1) += 1
            case _ => counts(0) += 1
          }
          case _: WholeStageCodegenExec => counts(2) += 1
          case _: InMemoryTableScanExec => counts(3) += 1
          case _ => ()
        }
        p match {
          case _: AdaptiveSparkPlanExec | _: QueryStageExec => ()
          case _ => p.children.foreach(walk); p.subqueries.foreach(walk)
        }
      }
      walk(qe.executedPlan)
      writes.add(WriteRec(planMs, counts(0), counts(1), counts(2), counts(3))): Unit
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One timed call into a module; `parent` 0 is a root span. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long, parent: Long, req: String)

/** In-memory spans (name, start, end, parent, request id), written out
  * once at the end of a traced run. Disabled spans cost one branch. */
final class Spans(enabled: Boolean) {
  private val all = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def apply[A](name: String, req: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        all.add(Span(id, name, t0, System.nanoTime(), parent, req))
        stack.set(stack.get().tail)
      }
    }

  def write(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try all.asScala.toSeq.sortBy(_.id).foreach { s =>
      w.write(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"request":"${s.req}"}""")
      w.newLine()
    } finally w.close()
  }

  def count: Int = all.size
}

object Jvm {
  import java.lang.management.ManagementFactory
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
  /** Before a timed pass: a full collection lets Spark's context
    * cleaner release the shuffle files and broadcasts of finished
    * programs, and the half-second pause lets that asynchronous cleanup
    * finish instead of overlapping the next timed operation. */
  def settle(): Unit = { System.gc(); Thread.sleep(500) }

  /** Heap in use after full collections: what the run still holds. */
  def retainedHeapMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Attaches the traced-mode listeners to a session. */
final class Tracer(val spark: SparkSession, val enabled: Boolean) {
  val spans = new Spans(enabled)
  val engine: Option[EngineListener] =
    if (enabled) Some(new EngineListener) else None
  val writes: Option[WriteListener] =
    if (enabled) Some(new WriteListener) else None
  engine.foreach(spark.sparkContext.addSparkListener)
  writes.foreach(spark.listenerManager.register)
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
