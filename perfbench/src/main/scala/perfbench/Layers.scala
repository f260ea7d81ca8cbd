package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Per-layer metrics and span trees of a traced run.
  *
  * Additive metrics are means per traced op; ratios are taken over the sums
  * of all traced ops. `create` ops (the build path, traced once in the
  * serving workload) are kept out of the request metrics and reported as
  * `build.*` and `sink.*`; a sink metric is a mean over the ops that wrote
  * to that sink. An op's span tree holds the op, the harness's own
  * spans around its calls into the engine, the time before the op's first
  * SQL execution (`driver.define`, when the harness has no finer span), its
  * SQL executions, their planning phases and the merged intervals in which
  * stages ran. Children are clipped into their parent and never overlap a
  * sibling. The root `op` span's self time is the part of the op that no
  * named span covers, so `trace.accounted_pct` (and its per-op minimum) is
  * the share of op wall time that the named spans explain.
  */
object Layers {

  final case class Node(name: String, start: Long, end: Long, parent: Int) {
    def ms: Long = end - start
  }

  private def union(ivs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    ivs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (s, e)) if s <= b => (a, math.max(b, e)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  private def length(ivs: Seq[(Long, Long)]): Long = union(ivs).map { case (a, b) => b - a }.sum

  def tree(tracer: Tracer, r: Harness.Record): Seq[Node] = {
    val execs = tracer.executions(r.id)
    val agg = tracer.opAgg(r.id)
    val raw = mutable.ArrayBuffer[(String, Long, Long)]()
    raw ++= r.spans
    if (r.spans.isEmpty && execs.nonEmpty)
      raw += (("driver.define", r.startMs, execs.map(_._1).min))
    execs.foreach { case (s, e, stages) =>
      raw += (("sql.execution", s, e))
      raw ++= union(stages).map { case (a, b) => ("stages", a, b) }
    }
    raw ++= agg.phases
    val sorted = raw.filter { case (_, s, e) => e > s }
      .sortBy { case (_, s, e) => (s, -(e - s)) }
    val nodes = mutable.ArrayBuffer(Node("op", r.startMs, math.max(r.endMs, r.startMs), -1))
    val lastChildEnd = mutable.Map[Int, Long]()
    var stack = List(0)
    sorted.foreach { case (name, s0, e0) =>
      val s1 = math.max(s0, r.startMs)
      while (stack.size > 1 && nodes(stack.head).end <= s1) stack = stack.tail
      val p = stack.head
      val start = math.max(s1, lastChildEnd.getOrElse(p, nodes(p).start))
      val end = math.min(e0, nodes(p).end)
      if (end > start) {
        nodes += Node(name, start, end, p)
        lastChildEnd(p) = end
        stack = (nodes.size - 1) :: stack
      }
    }
    nodes.toSeq
  }

  def selfTimes(nodes: Seq[Node]): Seq[Long] = {
    val children = Array.fill(nodes.size)(0L)
    nodes.foreach(n => if (n.parent >= 0) children(n.parent) += n.ms)
    nodes.indices.map(i => nodes(i).ms - children(i))
  }

  private def resultRows(r: Harness.Record): Long =
    r.out.outDir.map { d =>
      val p = Paths.get(d)
      if (!Files.isDirectory(p)) 0L
      else {
        val files = Files.list(p)
        try files.toArray.map(_.asInstanceOf[Path])
          .filter(_.getFileName.toString.endsWith(".csv"))
          .map(f => math.max(0L, Files.readAllLines(f).size - 1L)).sum
        finally files.close()
      }
    }.getOrElse(math.max(r.out.resultRows, r.out.lines.size.toLong))

  val SinkTables = Seq("frames", "frames_bursts", "burst_id_map", "fetch_bursts")

  def metrics(tracer: Tracer, records: Seq[Harness.Record], cores: Int,
      sessionStartS: Double): Map[String, Double] = {
    val traced = records.filter(r => r.traced && r.kind != "create")
    val creates = records.filter(r => r.traced && r.kind == "create")
    val n = math.max(1, traced.size).toDouble
    val aggs = traced.map(r => tracer.opAgg(r.id))
    def mean(f: OpAgg => Double): Double = aggs.map(f).sum / n
    val mb = 1024.0 * 1024.0
    val wallMs = traced.map(_.wallMs).sum
    val define = traced.map { r =>
      val execs = tracer.executions(r.id)
      if (execs.isEmpty) r.wallMs else math.max(0L, execs.map(_._1).min - r.startMs).toDouble
    }
    val gap = traced.map { r =>
      math.max(0.0, r.wallMs - length(tracer.stageIntervals(r.id, r.startMs, r.endMs)))
    }
    val trees = traced.map(r => tree(tracer, r))
    val selfs = trees.map(selfTimes)
    val bySpan = mutable.Map[String, Double]().withDefaultValue(0.0)
    trees.zip(selfs).foreach { case (t, s) => t.zip(s).foreach { case (node, ms) =>
      bySpan(node.name) += ms
    } }
    val scan = aggs.map(_.scanRows).sum.toDouble
    val rows = traced.map(resultRows).sum.toDouble
    val writers = records.filter(_.traced).map(r => tracer.opAgg(r.id))
      .filter(_.sinkMs.nonEmpty)
    val in = writers.map(_.inBytes).sum.toDouble
    val (blocksPut, cacheMemPeak) = tracer.blockStats
    val base = Map(
      "session.start_s" -> sessionStartS,
      "driver.define_ms" -> define.sum / n,
      "fs.files_read" -> mean(_.scanFiles.toDouble),
      "fs.bytes_read" -> traced.map(_.fsBytes).sum / n,
      "plan.analyze_ms" -> mean(_.analyzeMs.toDouble),
      "plan.optimize_ms" -> mean(_.optimizeMs.toDouble),
      "plan.physical_ms" -> mean(_.physicalMs.toDouble),
      "plan.aqe_updates" -> mean(_.aqeUpdates.toDouble),
      "sched.jobs" -> mean(_.jobs.toDouble),
      "sched.stages" -> mean(_.stages.toDouble),
      "sched.tasks" -> mean(_.tasks.toDouble),
      "sched.driver_gap_ms" -> gap.sum / n,
      "sched.task_wait_ms" -> traced.map(r => tracer.taskWaitMs(r.id)).sum / n,
      "exec.run_s" -> mean(_.runMs / 1e3),
      "exec.cpu_s" -> mean(_.cpuNs / 1e9),
      "exec.gc_s" -> mean(_.gcMs / 1e3),
      "exec.core_util" -> (if (wallMs > 0) aggs.map(_.runMs).sum / (wallMs * cores) else 0.0),
      "shuffle.write_mb" -> mean(_.shuffleWrite / mb),
      "shuffle.read_mb" -> mean(_.shuffleRead / mb),
      "shuffle.fetch_wait_ms" -> mean(_.fetchWaitMs.toDouble),
      "mem.spill_mb" -> mean(_.spill / mb),
      "mem.peak_exec_mb" -> mean(_.peakExec / mb),
      "jvm.heap_peak_mb" -> Tracer.heapPeakBytes / mb,
      "cache.blocks_put" -> blocksPut / n,
      "cache.mem_peak_mb" -> cacheMemPeak / mb,
      "cache.duplicate_puts" -> tracer.duplicatePuts.get.toDouble,
      "op.scan_rows" -> scan / n,
      "op.exchange_mb" -> mean(_.exchangeBytes / mb),
      "op.join_rows" -> mean(_.joinRows.toDouble),
      "op.agg_rows" -> mean(_.aggRows.toDouble),
      "op.window_rows" -> mean(_.windowRows.toDouble),
      "op.sort_spill_mb" -> mean(_.sortSpill / mb),
      "op.rows_examined_per_result" -> (if (rows > 0) scan / rows else 0.0),
      "sources.json_zip_ms" -> 0.0,
      "domain.frame_solver_ms" -> 0.0,
      "sink.bytes_per_input_byte" -> (if (in > 0) writers.map(_.outBytes).sum / in else 0.0),
      "trace.accounted_pct" -> (if (wallMs > 0) (1 - bySpan("op") / wallMs) * 100 else 0.0),
      "trace.accounted_min_pct" -> trees.zip(selfs).collect {
        case (t, s) if t.head.ms > 0 => (1 - s.head.toDouble / t.head.ms) * 100
      }.minOption.getOrElse(0.0),
      "trace.ops" -> traced.size.toDouble)
    val sinks = SinkTables.map { t =>
      val ms = writers.map(_.sinkMs.collect {
        case (k, v) if k.takeWhile(_ != '-') == t => v
      }.sum).filter(_ > 0)
      s"sink.write_s.$t" -> (if (ms.isEmpty) 0.0 else ms.sum / 1e3 / ms.size)
    }
    val createAggs = creates.map(r => tracer.opAgg(r.id))
    val createMs = creates.map(_.wallMs).sum
    val build = Map(
      "build.wall_s" -> (if (creates.isEmpty) 0.0 else createMs / 1e3 / creates.size),
      "build.exec_run_s" ->
        (if (creates.isEmpty) 0.0 else createAggs.map(_.runMs).sum / 1e3 / creates.size),
      "build.core_util" ->
        (if (createMs > 0) createAggs.map(_.runMs).sum / (createMs * cores) else 0.0),
      "build.jobs" ->
        (if (creates.isEmpty) 0.0 else createAggs.map(_.jobs).sum.toDouble / creates.size))
    val spanSelf = Seq("op", "driver.define", "registry.build", "registry.execute",
      "sql.execution", "plan.analysis", "plan.optimization", "plan.planning", "stages")
      .map(s => s"self_ms.$s" -> bySpan(s) / n)
    base ++ sinks ++ build ++ spanSelf
  }

  def writeSpans(file: Path, tracer: Tracer, records: Seq[Harness.Record]): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val lines = records.filter(_.traced).flatMap { r =>
      val t = tree(tracer, r)
      t.zip(selfTimes(t)).map { case (node, self) =>
        mapper.writeValueAsString(Map("op" -> r.id, "query" -> r.name,
          "name" -> node.name, "start" -> node.start, "end" -> node.end,
          "parent" -> node.parent, "self_ms" -> self))
      }
    }
    Files.writeString(file, lines.mkString("", "\n", "\n"))
  }
}
