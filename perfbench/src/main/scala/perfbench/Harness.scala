package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Benchmark harness JVM, started by `run.py` once per run.
  *
  *   perfbench.Harness run --workload W --seed N --seconds S --trace 0|1
  *       --work DIR --out FILE [--tables DIR] [--expected FILE]
  *       [--setups N] [--inject none|wrong|throw] [--commit ID]
  *   perfbench.Harness oracle-sql FILE
  *
  * `run` sets the workload up `--setups` times, 3 by default (each on a
  * fresh session and directory; the set-up times go to `setup_s`), warms up
  * untimed, then runs closed-loop ops,
  * one at a time, in whole batches until `--seconds` have passed. Each op
  * is checked after it returns, outside its timed interval. With
  * `--trace 1` the same ops run twice, untraced and with the listeners of
  * [[Tracer]] attached; the result carries the per-layer metrics of the
  * traced pass, and the two passes' times give the tracing overhead.
  * `oracle-sql` writes the
  * DuckDB oracle SQL of the registry workload's queries.
  */
object Harness {

  def main(args: Array[String]): Unit = args.toList match {
    case "oracle-sql" :: file :: Nil =>
      write(Paths.get(file), Map("registry" ->
        Workloads.registry.flatMap(q => q.oracle.map(q.name -> _)).toMap))
    case "run" :: rest =>
      val opts = rest.grouped(2).collect { case Seq(k, v) => k.stripPrefix("--") -> v }.toMap
      run(opts)
    case _ =>
      System.err.println("usage: perfbench.Harness run --workload W ... | oracle-sql FILE")
      sys.exit(2)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(p: Path, v: Any): Unit =
    Files.writeString(p, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v))

  private def session(cores: Int, work: Path): SparkSession = {
    val s = GraftSession.localBuilder(cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** Waits (at most 5 s) until the JIT compiled for less than 5 ms in the
    * last 250 ms, so compilations queued by the warm-up do not compete with
    * the first timed ops for the cores. */
  private def awaitQuietJit(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 5
      last = now
    }
  }

  final case class Record(id: String, name: String, kind: String, wallMs: Double,
      startMs: Long, endMs: Long, traced: Boolean, threw: Boolean,
      failure: Option[String], out: OpOut, request: Map[String, Any],
      spans: Seq[(String, Long, Long)], fsBytes: Long)

  def run(opts: Map[String, String]): Unit = {
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work"))
    val inject = opts.getOrElse("inject", "none")
    val setups = opts.getOrElse("setups", "3").toInt
    val cores = Runtime.getRuntime.availableProcessors()
    val oracleFiles: Map[String, String] = opts.get("expected").map { f =>
      mapper.readValue(Files.readString(Paths.get(f)), classOf[Map[String, String]])
    }.getOrElse(Map.empty)
    val workload = Workloads(workloadName, seed, opts.getOrElse("tables", ""), oracleFiles)

    // ---- set-up, repeated on fresh sessions and directories
    var spark: SparkSession = null
    var sessionStartS = 0.0
    val setupS = (1 to setups).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      if (rep == 1) sessionStartS = (System.nanoTime() - t0) / 1e9
      val dir = work.resolve(s"setup-$rep")
      Files.createDirectories(dir)
      workload.setup(spark, dir)
      val s = (System.nanoTime() - t0) / 1e9 - workload.takeCheckSeconds()
      System.err.println(f"[perfbench] set-up $rep: $s%.3f s")
      if (rep > 1) Workloads.deleteTree(work.resolve(s"setup-${rep - 1}"))
      s
    }

    Workloads.timed("warm-up")(workload.warmUp(new Random(Workloads.mix(~seed))))
    Workloads.timed("JIT settling")(awaitQuietJit())

    val setupRecords = workload.setupOps.zipWithIndex.map { case (o, i) =>
      val now = System.currentTimeMillis()
      Record(s"setup-$i", o.kind, o.kind, o.wallMs, now, now, traced = false,
        o.threw, o.failure, OpOut(), Map.empty, Nil, 0L)
    }

    val tracer = new Tracer(spark)
    if (trace) Tracer.countDuplicatePuts(tracer)
    val sc = spark.sparkContext
    val records = mutable.ArrayBuffer[Record]()
    val planIds = mutable.LinkedHashMap[String, Long]()
    var opIndex = 0

    def runOp(op: Op, traced: Boolean): Record = {
      val id = f"op-$opIndex%05d"
      val injectHere = opIndex == 0 && inject != "none"
      opIndex += 1
      sc.setJobGroup(id, op.name, interruptOnCancel = false)
      val bytes0 = Tracer.fsBytesRead()
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result = try {
        if (injectHere && inject == "throw") throw new IllegalStateException("injected failure")
        Right(op.run())
      } catch { case NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e6
      val end = System.currentTimeMillis()
      val bytes1 = Tracer.fsBytesRead()
      sc.clearJobGroup()
      val out = result.map(o => if (injectHere && inject == "wrong") workload.corrupt(o) else o)
      val failure = out match {
        case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(o) =>
          try op.check(o) catch { case NonFatal(e) => Some(s"check threw: ${e.getMessage}") }
      }
      val o = out.getOrElse(OpOut())
      o.queryExecution.foreach { qe =>
        if (traced) tracer.addPhases(id, qe)
        if (!planIds.contains(op.name))
          planIds(op.name) = try Tracer.fingerprint(qe.executedPlan) catch { case NonFatal(_) => 0L }
      }
      spark.catalog.clearCache()
      Record(id, op.name, op.kind, wall, start, end, traced,
        out.isLeft, failure, o.copy(queryExecution = None),
        op.request, op.spans.toSeq, bytes1 - bytes0)
    }

    // ---- timed phase: whole batches until the ops' own time (checks and
    // bookkeeping between ops left out) reaches --seconds. A traced run
    // makes two passes over the same ops, one untraced and one traced, the
    // seed's parity choosing which goes first; the second pass runs as many
    // batches as the first, so the passes' times give the overhead of
    // tracing. The workload's traced extras run after both passes.
    def pass(traced: Boolean, batches: Option[Int]): Int = {
      if (traced) tracer.attach()
      val rnd = new Random(Workloads.mix(seed))
      var ms = 0.0
      var n = 0
      while (batches.fold(n == 0 || ms < seconds * 1e3)(n < _)) {
        workload.batch(rnd).foreach { op =>
          val r = runOp(op, traced)
          records += r
          ms += r.wallMs
        }
        n += 1
      }
      if (traced) { tracer.drain(); tracer.detach() }
      n
    }
    Tracer.resetHeapPeak()
    val order = if (!trace) Seq(false) else if (seed % 2 != 0) Seq(false, true) else Seq(true, false)
    val batches = pass(order.head, None)
    order.tail.foreach(t => pass(t, Some(batches)))
    if (trace) {
      tracer.attach()
      workload.tracedExtras.foreach(op => records += runOp(op, traced = true))
      tracer.drain()
    }
    val timedS = records.filter(r => !r.traced && r.kind != "create").map(_.wallMs).sum / 1e3

    val layers: Map[String, Double] =
      if (trace) Layers.metrics(tracer, records.toSeq, cores, sessionStartS) ++
        workload.probes(spark)
      else Map.empty
    if (trace) Layers.writeSpans(work.resolve("spans.jsonl"), tracer, records.toSeq)

    val conf = spark.conf.getAll
    val result = Map(
      "workload" -> workloadName,
      "seed" -> seed,
      "trace" -> trace,
      "setup_s" -> setupS,
      "timed_s" -> timedS,
      "ops" -> (setupRecords ++ records).map { r =>
        Map("id" -> r.id, "name" -> r.name, "kind" -> r.kind, "wall_ms" -> r.wallMs,
          "traced" -> r.traced, "threw" -> r.threw,
          "failure" -> r.failure.orNull, "lines" -> r.out.lines,
          "out_dir" -> r.out.outDir.orNull, "request" -> r.request,
          "result_rows" -> r.out.resultRows)
      },
      "layers" -> layers,
      "stamp" -> Map(
        "nproc" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jdk" -> s"${sys.props("java.vendor")} ${sys.props("java.version")}",
        "spark" -> spark.version,
        "commit" -> opts.getOrElse("commit", "unknown"),
        "seed" -> seed,
        "session_conf" -> conf,
        "inputs" -> workload.inputs,
        "plan_fingerprints" -> planIds.toMap))
    write(Paths.get(opts("out")), result)
    spark.stop()
  }
}
