package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.graftbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listener bus reports about one operation. Only the bus
  * thread writes; the client thread reads after [[Probe.sync]].
  */
final class OpCounters {
  val jobsByPhase = mutable.Map.empty[String, Int]
  var stages = 0
  var tasks = 0L
  var failedTasks = 0L
  var lateTaskEnds = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var queryExecutions = 0
  var customNodes = 0
  var exchanges = 0
  var sortMergeJoins = 0
  var broadcastBytes = 0L
  var joinRows = 0L
  /** Catalyst analysis..planning interval of each query execution. */
  val planning = mutable.ArrayBuffer.empty[(Long, Long)]

  def toMap: Map[String, Any] = Map(
    "jobs_by_phase" -> jobsByPhase.toMap,
    "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "late_task_ends" -> lateTaskEnds,
    "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "fetch_wait_s" -> fetchWaitMs / 1e3, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "input_rows" -> inputRows,
    "query_executions" -> queryExecutions, "custom_nodes" -> customNodes,
    "exchanges" -> exchanges, "sort_merge_joins" -> sortMergeJoins,
    "broadcast_bytes" -> broadcastBytes, "join_rows" -> joinRows)
}

/** Spark-side tracing for the traced run. Jobs reach their operation
  * through a job tag `gb.<op>.<phase>` that the client thread sets
  * around each phase; query executions (which carry no tag) reach it
  * through the operation that is current while the bus delivers them,
  * which is exact because the client syncs the bus at every boundary.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val byOp = new ConcurrentHashMap[Int, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val opEndMs = new ConcurrentHashMap[Int, Long]()
  @volatile private var currentOp = -1
  private val TagRe = """gb\.(\d+)\.([a-z_]+)""".r

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def sync(): Unit = SparkInternals.drainListenerBus(spark.sparkContext)

  def counters(op: Int): OpCounters = byOp.computeIfAbsent(op, _ => new OpCounters)

  /** Called right before an operation's timed region. */
  def begin(op: Int): Unit = {
    sync()
    currentOp = op
  }

  /** Called right after an operation's timed region. */
  def end(op: Int, endMs: Long): Unit = {
    opEndMs.put(op, endMs)
    sync()
    currentOp = -1
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .getOrElse("").split(",")
    val owner = tags.collectFirst { case TagRe(op, phase) => (op.toInt, phase) }
      .orElse(if (currentOp >= 0) Some((currentOp, "untagged")) else None)
    owner.foreach { case (op, phase) =>
      val c = counters(op)
      c.jobsByPhase(phase) = c.jobsByPhase.getOrElse(phase, 0) + 1
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    Option(stageOp.get(e.stageInfo.stageId)).foreach(op => counters(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageOp.containsKey(e.stageId)) {
      val op = stageOp.get(e.stageId)
      val c = counters(op)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      if (opEndMs.containsKey(op) && e.taskInfo.finishTime > opEndMs.get(op)) c.lateTaskEnds += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val op = currentOp
    if (op >= 0) {
      val c = counters(op)
      c.queryExecutions += 1
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        c.planning += ((phases.map(_.startTimeMs).min, phases.map(_.endTimeMs).max))
      Probe.walk(qe.executedPlan) { p =>
        val name = p.getClass.getSimpleName
        val custom = name == "BroadcastIntervalJoinExec" || name == "AsofJoinExec"
        if (custom) c.customNodes += 1
        p match {
          case _: ShuffleExchangeExec => c.exchanges += 1
          case b: BroadcastExchangeExec =>
            c.broadcastBytes += b.metrics.get("dataSize").map(_.value).getOrElse(0L)
          case _ =>
        }
        if (p.isInstanceOf[SortMergeJoinExec]) c.sortMergeJoins += 1
        if (custom || p.isInstanceOf[BaseJoinExec])
          c.joinRows += p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }
    }
  }
}

object Probe {
  /** Visit every physical node that ran: through adaptive plans, query
    * stages and command wrappers, but not into cached relations (their
    * plan ran in an earlier operation).
    */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children
    }
    kids.foreach(walk(_)(f))
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def heapUsedBytes: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
}

/** One timed span: an operation or a layer inside it. */
final case class Span(id: Int, op: Int, name: String, parent: Int, startMs: Double, endMs: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "op" -> op, "name" -> name,
    "parent" -> parent, "start_ms" -> startMs, "end_ms" -> endMs)
}

/** Times operations from outside the engine. Every operation records
  * its wall time and per-phase times; while `tracing` is on it also
  * tags its jobs, records spans and collects the probe's counters.
  */
final class Recorder(spark: SparkSession, probe: Option[Probe]) {
  private val nano0 = System.nanoTime
  private val ms0 = System.currentTimeMillis.toDouble
  def nowMs: Double = ms0 + (System.nanoTime - nano0) / 1e6

  val ops = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  val spans = mutable.ArrayBuffer.empty[Span]
  var tracing = false
  var firstOpMs = Double.NaN
  private var nextOp = 0

  final class Op(val id: Int, val traced: Boolean) {
    private[Recorder] val phaseS = mutable.LinkedHashMap.empty[String, Double]
    private[Recorder] val phaseSpans = mutable.ArrayBuffer.empty[Span]
    var info: Map[String, Any] = Map.empty

    /** Run one layer of the operation as its own span and job tag. */
    def phase[T](name: String)(f: => T): T = {
      val tag = s"gb.$id.$name"
      if (traced) spark.sparkContext.addJobTag(tag)
      val s = nowMs
      try f
      finally {
        val e = nowMs
        if (traced) {
          spark.sparkContext.removeJobTag(tag)
          phaseSpans += Span(-1, id, name, -1, s, e)
        }
        phaseS(name) = phaseS.getOrElse(name, 0.0) + (e - s) / 1e3
      }
    }
  }

  /** Run one operation in the closed loop and record it. A failure is
    * recorded (`ok = false`) and the loop goes on.
    */
  def op(name: String, kind: String, pass: Int)(body: Op => Unit): mutable.Map[String, Any] = {
    val id = nextOp
    nextOp += 1
    val traced = tracing && probe.isDefined
    val o = new Op(id, traced)
    val (cg0, gc0) = if (traced) {
      probe.get.begin(id)
      (SparkInternals.codegenCompiles, Probe.gcMs)
    } else (0L, 0L)
    val s = nowMs
    if (firstOpMs.isNaN) firstOpMs = s
    val ok = try { body(o); true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name (pass $pass) FAILED: $e")
        graft.core.StagingScope.drain()
        false
    }
    val e = nowMs
    val rec = mutable.Map[String, Any]("id" -> id, "name" -> name, "kind" -> kind,
      "pass" -> pass, "t" -> (e - s) / 1e3, "ok" -> ok, "traced" -> traced,
      "start_ms" -> s, "phases" -> o.phaseS.toMap) ++ o.info
    if (traced) {
      probe.get.end(id, math.ceil(e).toLong)
      val opSpan = spans.size
      spans += Span(opSpan, id, "op", -1, s, e)
      o.phaseSpans.foreach(p => spans += p.copy(id = spans.size, parent = opSpan))
      val storage = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      rec ++= Map("codegen_compiles" -> (SparkInternals.codegenCompiles - cg0),
        "gc_s" -> (Probe.gcMs - gc0) / 1e3,
        "heap_used_mb" -> Probe.heapUsedBytes / 1048576.0,
        "bytes_after_drain" -> storage)
    }
    ops += rec
    rec
  }

  /** Attach the probe's final counters (late task ends arrive after
    * their operation) and the catalyst planning spans to traced ops.
    */
  def finish(): Unit = probe.foreach { p =>
    p.sync()
    ops.filter(_("traced") == true).foreach { rec =>
      val id = rec("id").asInstanceOf[Int]
      val c = p.counters(id)
      rec("spark") = c.toMap
      val opSpan = spans.find(s => s.op == id && s.name == "op").get
      val phases = spans.filter(s => s.op == id && s.parent == opSpan.id)
      // nested executions (a write command and its query) plan inside
      // each other: merge overlapping intervals so no time counts twice
      val merged = c.planning.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
        case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse
      merged.foreach { case (st, en) =>
        val parent = phases.find(ph => st >= ph.startMs - 1 && st <= ph.endMs)
          .getOrElse(opSpan)
        // clip to the parent so self times stay non-negative at ms resolution
        val s0 = math.max(st.toDouble, parent.startMs)
        val e0 = math.min(math.max(en.toDouble, s0), parent.endMs)
        spans += Span(spans.size, id, "plan", parent.id, s0, e0)
      }
    }
  }
}
