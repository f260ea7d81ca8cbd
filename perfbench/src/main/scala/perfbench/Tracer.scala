package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the listeners saw of one op. */
final class OpAgg {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, inBytes, outBytes = 0L
  var peakExec = 0L
  var aqeUpdates = 0L
  var analyzeMs, optimizeMs, physicalMs = 0L
  var scanRows, scanFiles, exchangeBytes, joinRows, aggRows, windowRows, sortSpill = 0L
  val sinkMs = mutable.Map[String, Long]()
  val phases = mutable.ArrayBuffer[(String, Long, Long)]()
}

/** Per-layer observer. It sees Spark only through public listener APIs: a
  * `SparkListener` (jobs, stages, tasks, block updates, SQL execution
  * start/end/AQE-update events), a `QueryExecutionListener` (planning
  * phases from `QueryExecution.tracker`, executed-plan SQL metrics, write
  * commands), Hadoop's `file` storage statistics, JVM memory pools, and a
  * log appender counting BlockManager's "already exists" warnings.
  *
  * Every op runs under its own job group, so events map back to ops by the
  * `spark.jobGroup.id` property; SQL executions map by the group recorded
  * in their start event, and finished queries by the SQL-metric
  * accumulators that event listed. Events arrive asynchronously; [[drain]]
  * waits until all events posted so far have been delivered.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private val aggs = mutable.Map[String, OpAgg]()
  private val stageOp = mutable.Map[Int, String]()
  private val stageExec = mutable.Map[Int, Long]()
  private val stageSpan = mutable.Map[Int, (Long, Long)]()
  private val stageLaunch = mutable.Map[Int, Long]()
  private val execOp = mutable.Map[Long, String]()
  private val execSpan = mutable.Map[Long, (Long, Long)]()
  private val accumulatorOp = mutable.Map[Long, String]()
  private val rddBlocks = mutable.Map[String, Long]()
  private var cacheMem, cacheMemPeak, blocksPut = 0L
  private var drained = Set.empty[String]
  private val DrainPrefix = "drain-"

  val duplicatePuts = new AtomicLong()

  private def agg(op: String): OpAgg = aggs.getOrElseUpdate(op, new OpAgg)
  private def opOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  // ---------------------------------------------------------------- SparkListener

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      agg(op).jobs += 1
      val exec = Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong)
      e.stageIds.foreach { s => stageOp(s) = op; exec.foreach(stageExec(s) = _) }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    opOf(e.properties).foreach(op => stageOp(e.stageInfo.stageId) = op)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { op =>
      agg(op).stages += 1
      for (s <- info.submissionTime; c <- info.completionTime)
        stageSpan(info.stageId) = (s, c)
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val t = e.taskInfo.launchTime
    if (stageLaunch.get(e.stageId).forall(_ > t)) stageLaunch(e.stageId) = t
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val a = agg(op)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val before = rddBlocks.getOrElse(key, 0L)
      if (info.storageLevel.isValid) {
        if (!rddBlocks.contains(key)) blocksPut += 1
        rddBlocks(key) = info.memSize
      } else rddBlocks.remove(key)
      cacheMem += rddBlocks.getOrElse(key, 0L) - before
      cacheMemPeak = math.max(cacheMemPeak, cacheMem)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach { op =>
          execOp(s.executionId) = op
          execSpan(s.executionId) = (s.time, s.time)
          planAccumulators(s.sparkPlanInfo).foreach(accumulatorOp(_) = op)
        }
      case s: SparkListenerSQLExecutionEnd =>
        execSpan.get(s.executionId).foreach { case (st, _) =>
          execSpan(s.executionId) = (st, math.max(st, s.time))
        }
        execOp.get(s.executionId).filter(_.startsWith(DrainPrefix)).foreach(drained += _)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execOp.get(u.executionId).foreach { op =>
          agg(op).aqeUpdates += 1
          planAccumulators(u.sparkPlanInfo).foreach(accumulatorOp(_) = op)
        }
      case _ =>
    }
  }

  // ------------------------------------------------------ QueryExecutionListener

  private def planAccumulators(info: SparkPlanInfo): Seq[Long] =
    info.metrics.map(_.accumulatorId) ++ info.children.flatMap(planAccumulators)

  /** The op a finished query belongs to: its plan's SQL metrics are the
    * accumulators its SQL execution start (or AQE update) event listed. */
  private def opOfQuery(qe: QueryExecution): Option[String] =
    try Tracer.nodes(qe.executedPlan).iterator.flatMap(_.metrics.values.map(_.id))
      .collectFirst(Function.unlift(accumulatorOp.get))
    catch { case NonFatal(_) => None }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { opOfQuery(qe).foreach(op => record(agg(op), qe, durationNs)) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { opOfQuery(qe).foreach(op => record(agg(op), qe, 0L)) }

  /** Planning phases of `qe` (also used for DataFrames analyzed before run). */
  def addPhases(op: String, qe: QueryExecution): Unit = synchronized {
    addPhases(agg(op), qe)
  }

  private def addPhases(a: OpAgg, qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      name match {
        case "analysis" => a.analyzeMs += p.durationMs
        case "optimization" => a.optimizeMs += p.durationMs
        case "planning" => a.physicalMs += p.durationMs
        case _ =>
      }
      a.phases += ((s"plan.$name", p.startTimeMs, p.endTimeMs))
    }

  private def record(a: OpAgg, qe: QueryExecution, durationNs: Long): Unit = {
    addPhases(a, qe)
    val plan = try Some(qe.executedPlan) catch { case _: Exception => None }
    plan.foreach { root =>
      Tracer.nodes(root).foreach { p =>
        def metric(k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
        val n = p.nodeName
        if (n.startsWith("Scan") || n.startsWith("BatchScan") || n == "InMemoryTableScan") {
          a.scanRows += metric("numOutputRows")
          a.scanFiles += metric("numFiles")
        }
        else if (n.contains("Exchange") && !p.isInstanceOf[ReusedExchangeExec])
          a.exchangeBytes += metric("dataSize")
        else if (n.contains("Join")) a.joinRows += metric("numOutputRows")
        else if (n.endsWith("Aggregate")) a.aggRows += metric("numOutputRows")
        else if (n.startsWith("Window"))
          a.windowRows += p.children.headOption.flatMap(_.metrics.get("numOutputRows"))
            .map(_.value).getOrElse(0L)
        else if (n == "Sort") a.sortSpill += metric("spillSize")
        p match {
          case w: DataWritingCommandExec => w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand =>
              val table = i.outputPath.getName
              a.sinkMs(table) = a.sinkMs.getOrElse(table, 0L) + durationNs / 1000000L
            case _ =>
          }
          case _ =>
        }
      }
    }
  }

  // ---------------------------------------------------------------- lifecycle

  @volatile private var attached = false

  def isAttached: Boolean = attached

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  /** Removes the listeners; call [[drain]] first so no event is lost. */
  def detach(): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  /** Blocks until every event posted before the call reached this tracker:
    * runs a marker job and waits for its SQL execution's end event, which
    * the shared listener queue delivers after all earlier events. */
  def drain(): Unit = if (attached) {
    val marker = DrainPrefix + System.nanoTime()
    val sc = spark.sparkContext
    sc.setJobGroup(marker, "tracer drain", interruptOnCancel = false)
    try spark.range(1).collect() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!synchronized(drained.contains(marker)) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  // --------------------------------------------------------------- read side

  def opAgg(op: String): OpAgg = synchronized(aggs.getOrElse(op, new OpAgg))

  def blockStats: (Long, Long) = synchronized((blocksPut, cacheMemPeak))

  /** Stage intervals of one op, clipped to [from, to]. */
  def stageIntervals(op: String, from: Long, to: Long): Seq[(Long, Long)] = synchronized {
    stageSpan.collect { case (s, (a, b)) if stageOp.get(s).contains(op) =>
      (math.max(a, from), math.min(b, to))
    }.filter { case (a, b) => b > a }.toSeq
  }

  /** Sum over the op's stages of first task launch minus stage submission. */
  def taskWaitMs(op: String): Long = synchronized {
    stageSpan.collect { case (s, (sub, _)) if stageOp.get(s).contains(op) =>
      stageLaunch.get(s).map(l => math.max(0L, l - sub)).getOrElse(0L)
    }.sum
  }

  /** SQL executions of one op, as (start, end, stage intervals). */
  def executions(op: String): Seq[(Long, Long, Seq[(Long, Long)])] = synchronized {
    execOp.collect { case (id, o) if o == op => id }.toSeq.sorted.flatMap { id =>
      execSpan.get(id).map { case (s, e) =>
        val stages = stageSpan.collect {
          case (st, iv) if stageExec.get(st).contains(id) => iv
        }.toSeq
        (s, e, stages)
      }
    }
  }

}

object Tracer {

  /** Operators of an executed plan, looking through AQE and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Plan shape without expression ids or literal paths: a change in this
    * number is a change of physical operators or their arrangement. */
  def fingerprint(p: SparkPlan): Long = {
    def shape(n: SparkPlan): String = n match {
      case a: AdaptiveSparkPlanExec => shape(a.executedPlan)
      case s: QueryStageExec => shape(s.plan)
      case other => other.nodeName + (other.children ++ other.subqueries).map(shape)
        .mkString("(", ",", ")")
    }
    scala.util.hashing.MurmurHash3.stringHash(shape(p)).toLong & 0xffffffffL
  }

  /** Bytes read through Hadoop's `file` scheme (its read-op counter stays
    * at zero on the local file system, so files are counted from scans). */
  def fsBytesRead(): Long = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    if (st == null) 0L else Option(st.getLong("bytesRead")).map(_.longValue).getOrElse(0L)
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** Counts BlockManager's "already exists" warnings into the tracer's
    * `duplicatePuts` while it is attached. */
  def countDuplicatePuts(tracer: Tracer): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val app = new AbstractAppender("perfbench-duplicate-puts", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (tracer.isAttached && e.getMessage.getFormattedMessage.contains("already exists"))
          tracer.duplicatePuts.incrementAndGet()
    }
    app.start()
    config.addAppender(app)
    val name = "org.apache.spark.storage.BlockManager"
    val lc = new LoggerConfig(name, Level.WARN, true)
    lc.addAppender(app, Level.WARN, null)
    config.addLogger(name, lc)
    ctx.updateLoggers()
  }
}
