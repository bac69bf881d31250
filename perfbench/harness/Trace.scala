package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed span: the benchmark's own call boundaries (pass, query,
  * backfill phase, month commit) and the Spark stages that ran inside
  * them. Kept in memory, written out once at the end of the run. Parent 0
  * means "the innermost span that encloses this one", resolved on output. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int)

/** Work the engine reported for one operation (one query execution or
  * one backfill phase), summed over the stages that completed inside it. */
final class OpStats {
  var stages, tasks = 0L
  var taskMs, cpuMs, shuffleReadB, shuffleWriteB, spillB = 0L
  var planMs = 0.0
  var planHash = 0L
  var cacheScans = 0L
  var sourceTasks, sourceTaskMs = 0L
  /** [submit, complete] wall-clock intervals (epoch ms) of the stages. */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time of `wallMs` not covered by any stage: driver-side work
    * (planning, listing, commits, result handling). */
  def driverMs(wallMs: Double): Double = {
    val iv = stageSpans.sortBy(_._1)
    var covered, curS, curE = 0L
    var open = false
    iv.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) covered += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) covered += curE - curS
    math.max(0.0, wallMs - covered)
  }
}

/** The traced run's observers. Nothing here is installed in an untraced
  * run: [[attach]] registers the listeners, [[detach]] removes them, so
  * the same JVM can alternate traced and untraced passes. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var cur = new OpStats
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  def span(name: String, startNs: Long, endNs: Long, parent: Int): Int = synchronized {
    nextId += 1
    spans += Span(nextId, name, startNs, endNs, parent)
    nextId
  }

  private val stageListener = new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val s = cur
      s.stages += 1
      s.tasks += i.numTasks
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.cpuMs += m.executorCpuTime / 1000000L
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.diskBytesSpilled
      }
      // a DataSourceV2 scan (in the backfill: the paged source, one task
      // per page; every other read there is a file scan)
      if (i.rddInfos.exists(_.name == "DataSourceRDD")) {
        s.sourceTasks += i.numTasks
        if (m != null) s.sourceTaskMs += m.executorRunTime
      }
      for (a <- i.submissionTime; b <- i.completionTime) {
        s.stageSpans += ((a, b))
        // stage spans carry wall-clock ms; rebase them onto the nanoTime axis
        span(s"stage ${i.stageId}", t0Ns + (a - t0Ms) * 1000000L,
          t0Ns + (b - t0Ms) * 1000000L, 0)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = cur
      s.planMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      val plan = qe.executedPlan.treeString
      s.planHash = s.planHash * 31 + Tracer.fingerprint(plan)
      s.cacheScans += Tracer.collectWithSubqueries(qe.executedPlan) {
        case c: InMemoryTableScanExec => c
      }.size
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(stageListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    sc.removeSparkListener(stageListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Start attributing engine events to a new operation. */
  def begin(): Unit = cur = new OpStats

  /** Wait until every event of the finished operation is delivered, then
    * hand back what it did. Called after the clock has stopped. */
  def end(): OpStats = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    cur
  }

  /** All spans as JSON, each with its parent resolved. */
  def spansJson: String = {
    spans.map { s =>
      val parent = if (s.parent != 0) s.parent else enclosing(s)
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${Json.num((s.startNs - t0Ns) / 1e6)},""" +
        s""""end_ms":${Json.num((s.endNs - t0Ns) / 1e6)},"parent":$parent}"""
    }.mkString("[", ",\n", "]")
  }

  /** Innermost longer benchmark span around `s` (0 if none). Stage times
    * have millisecond resolution, hence the 1 ms slack. */
  private def enclosing(s: Span): Int =
    spans.iterator.filter(o => o.id != s.id && !o.name.startsWith("stage ") &&
        o.endNs - o.startNs > s.endNs - s.startNs &&
        o.startNs <= s.startNs + 1000000L && s.endNs <= o.endNs + 1000000L)
      .minByOption(o => o.endNs - o.startNs).map(_.id).getOrElse(0)
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Plan fingerprint: the executed plan with expression ids, plan ids,
    * file paths and object addresses stripped, so two runs of one plan
    * shape hash equal regardless of session-local numbering or the
    * corpus location. */
  def fingerprint(plan: String): Long = {
    val norm = plan
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("(file:)?/[^\\s,\\]\\)]+", "<path>")
      .replaceAll("@[0-9a-f]{4,}", "@")
      .replaceAll("\\[id=#?\\d+\\]", "[id]")
    var h = 0xcbf29ce484222325L
    norm.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
    h & 0xffffffffL
  }

  /** Cumulative JVM counters: (GC ms, JIT ms). */
  def jvm(): (Long, Long) = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jit = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
    (gc, jit)
  }

  /** Whole-stage and expression codegen so far: (classes compiled,
    * compile ms). Spark keeps compile times in a sampled histogram, so the
    * total is the sample mean times the exact count. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }

  /** Persisted relations right now: (count, MB in memory and on disk,
    * smallest partition count). */
  def storage(spark: SparkSession): (Int, Double, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    val mb = infos.map(i => i.memSize + i.diskSize).sum / 1048576.0
    (spark.sparkContext.getPersistentRDDs.size, mb,
      if (infos.isEmpty) 0 else infos.map(_.numPartitions).min)
  }

  /** Heap in use after a full collection, MB. */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
