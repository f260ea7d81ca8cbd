package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import graft.{Main, QueryDef, SparkEntry}
import graft.domain.{Catalog, FrameSolver}
import graft.functions.GeoFunctions
import graft.sources.Io
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._

/** What one op returned, for checking and for the result file. */
final case class OpOut(
    lines: Seq[String] = Nil,
    digest: Option[RowHash.Digest] = None,
    outDir: Option[String] = None,
    resultRows: Long = 0L,
    queryExecution: Option[QueryExecution] = None)

/** One closed-loop operation: `run` is timed, `check` is not. `check`
  * returns a failure reason, or None when the output is right or is checked
  * after the run by `run.py` (`request` then says what was asked). */
final case class Op(
    name: String,
    kind: String,
    run: () => OpOut,
    check: OpOut => Option[String],
    request: Map[String, Any] = Map.empty,
    spans: mutable.ArrayBuffer[(String, Long, Long)] = mutable.ArrayBuffer.empty)

/** An op that ran inside set-up: its time and its check's failure. */
final case class SetupOp(kind: String, wallMs: Double, failure: Option[String], threw: Boolean)

trait Workload {
  /** Generates this run's inputs under `dir` and prepares them; run once
    * per set-up repetition, each time on a fresh session and directory. */
  def setup(spark: SparkSession, dir: Path): Unit

  /** The next batch of ops; the timed phase ends on a batch boundary. */
  def batch(rnd: Random): Seq[Op]

  /** Warms the JVM once after set-up, untimed and outside `setup_s`, so the
    * timed batch does not run while the JIT is still compiling its paths. */
  def warmUp(rnd: Random): Unit

  /** Direct timings of single layers, made outside the timed phase. */
  def probes(spark: SparkSession): Map[String, Double] = Map.empty

  /** Ops that ran inside set-up and were checked there. */
  def setupOps: Seq[SetupOp] = Nil

  /** Extra ops a traced run also traces, outside the request mix. */
  def tracedExtras: Seq[Op] = Nil

  /** Input sizes recorded in the result stamp. */
  def inputs: Map[String, Any]

  private var checkNs = 0L

  /** Runs check work inside set-up; its time is kept out of `setup_s`. */
  protected def checking[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally checkNs += System.nanoTime() - t0
  }

  /** Seconds of check work done inside set-up since the last call. */
  def takeCheckSeconds(): Double = { val s = checkNs / 1e9; checkNs = 0L; s }

  /** Replaces a correct output by a wrong one (self-test injection). */
  def corrupt(out: OpOut): OpOut = out.copy(
    lines = out.lines :+ "{\"injected\":true}",
    digest = out.digest.map(d => d.copy(rows = d.rows + 1)))
}

object Workloads {

  def apply(name: String, seed: Long, tablesDir: String,
      oracleFiles: Map[String, String]): Workload = name match {
    case "catalog_serve" => new CatalogServeWorkload(seed)
    case "registry" => new RegistryWorkload(registry, tablesDir, oracleFiles)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Every seventh oracle-checked query of the three short-query operator
    * modules (10 of 70), then one query per iterative family: a graph
    * fixpoint, k-means, dedup label propagation and top-k recommendations.
    * The short ones set the median op; the iterative ones most of the time. */
  def registry: Seq[QueryDef] = {
    val short = (graft.operators.Relational.queries ++ graft.operators.Windows.queries ++
      graft.operators.Analytics.queries).filter(_.oracle.isDefined)
      .zipWithIndex.collect { case (q, i) if i % 7 == 0 => q }
    val all = SparkEntry.registry.map(q => q.name -> q).toMap
    short ++ IterativeNames.map(all).filter(_.oracle.isDefined)
  }

  val IterativeNames: Seq[String] =
    Seq("q_pagerank", "q_kmeans", "q_dedup_clusters", "q_item_cf_recs")

  /** Seed → well-mixed generator seed (SplitMix64's finalizer), so nearby
    * run seeds give unrelated request orders. */
  def mix(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def capture(body: => Unit): Seq[String] = {
    val bos = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(bos, true, "UTF-8"))(body)
    bos.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
  }

  /** Runs `body`, logging its duration to stderr (the harness log). */
  def timed[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $what ${(System.nanoTime() - t0) / 1e6}%.0f ms")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** Registry queries run into a hashing sink, checked against the oracle:
  * `oracleFiles` maps each query to a parquet file of DuckDB's answer,
  * which the warm-up digests with the same [[RowHash.digest]]. */
final class RegistryWorkload(queries: Seq[QueryDef], tablesDir: String,
    oracleFiles: Map[String, String]) extends Workload {

  private var spark: SparkSession = _
  private var expected: Map[String, String] = Map.empty

  /** The tables are generated once per checkout (run.py); set-up is the
    * session start plus resolving every table once. */
  def setup(s: SparkSession, dir: Path): Unit = {
    spark = s
    graft.Tables.names.foreach(t => graft.Tables.table(s, tablesDir, t).schema)
  }

  /** Digests the oracle's answers, then runs every query once: a cold
    * iterative query is up to twice as slow as a warm one, and the JIT work
    * it leaves behind slows the queries after it. */
  def warmUp(rnd: Random): Unit = {
    expected = oracleFiles.map { case (q, f) => q -> RowHash.digest(spark.read.parquet(f)).render }
    batch(rnd).foreach { op =>
      op.run()
      spark.catalog.clearCache()
    }
  }

  def batch(rnd: Random): Seq[Op] = rnd.shuffle(queries).map { q =>
    val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
    Op(q.name, "query", spans = spans,
      run = () => {
        val t0 = System.currentTimeMillis()
        val df = q.build(spark, tablesDir)
        val t1 = System.currentTimeMillis()
        val d = RowHash.digest(df)
        val t2 = System.currentTimeMillis()
        spans += (("registry.build", t0, t1)) += (("registry.execute", t1, t2))
        OpOut(digest = Some(d), resultRows = d.rows, queryExecution = Some(df.queryExecution))
      },
      check = out => expected.get(q.name) match {
        case None => Some("no oracle answer")
        case Some(want) =>
          val got = out.digest.map(_.render).getOrElse("")
          if (got == want) None else Some(s"digest $got, oracle $want")
      })
  }

  def inputs: Map[String, Any] = Map(
    "tables_dir" -> tablesDir, "queries" -> queries.map(_.name),
    "iterative" -> Workloads.IterativeNames)
}

/** Serving requests through `Main.run` against one persisted catalog.
  *
  * Set-up writes the seeded grid and shapes, builds the catalog with
  * `Main.run(create ...)`, and writes the historical fact table and the
  * frame-to-burst JSON zip. Each set-up's
  * `create` is also recorded as an op of kind `create` and checked: every
  * burst lies in a frame, frames hold 1..10 bursts, and the catalog's
  * content equals the first set-up's.
  */
final class CatalogServeWorkload(seed: Long) extends Workload {
  /** 0.74% of the ESA grid's 2,148 per track, sized by the benchmark's
    * time budget (perfbench/README.md). */
  val BurstsPerTrack = 16
  val Acquisitions = 12
  private var spark: SparkSession = _
  private var shapes: Grid.Shapes = _
  private var dir: Path = _
  private var catalog: String = _
  private var facts: String = _
  private var zip: String = _
  private var frames: IndexedSeq[(Long, String)] = _
  private var parsed: IndexedSeq[(Long, org.locationtech.jts.geom.Geometry)] = _
  private var reference: String = _
  private var n = 0
  private val creates = mutable.ArrayBuffer[SetupOp]()

  private def burstMap = dir.resolve("burst_id_map").toString
  private def landFile = dir.resolve("land.wkt").toString
  private def naFile = dir.resolve("north_america.wkt").toString

  private def create(out: String): Unit =
    Main.run(spark, List("create", burstMap, landFile, out, naFile))

  private def content(out: String): String =
    Seq("frames", "frames_bursts", "burst_id_map")
      .map(t => t + "=" + RowHash.digest(spark.read.parquet(s"$out/$t")).render)
      .mkString(";")

  /** The solver's frames hold at most maxF (10) bursts; they can be smaller
    * than minF where a land or water run ends a track. */
  private def checkCatalog(out: String): Option[String] = {
    val frames = spark.read.parquet(s"$out/frames")
    val fb = spark.read.parquet(s"$out/frames_bursts")
    val bim = spark.read.parquet(s"$out/burst_id_map")
    val bad = frames.filter(col("n_bursts") < 1 || col("n_bursts") > 10).count()
    val uncovered = bim.join(fb, col("OGC_FID") === col("burst_ogc_fid"), "left_anti").count()
    val c = content(out)
    if (reference == null) reference = c
    if (bad > 0) Some(s"$bad frames outside 1..10 bursts")
    else if (uncovered > 0) Some(s"$uncovered bursts in no frame")
    else if (c != reference) Some("catalog content differs from the first build")
    else None
  }

  def setup(s: SparkSession, d: Path): Unit = {
    spark = s
    dir = d
    catalog = d.resolve("catalog").toString
    facts = d.resolve("bursts").toString
    zip = d.resolve("frame_to_burst.json.zip").toString
    import s.implicits._
    Workloads.timed("grid") {
      shapes = Grid.generate(seed, BurstsPerTrack)
      shapes.bursts.map(b => (b.ogcFid, b.burstId, b.track, b.subswath, b.orbitPass, b.wkt))
        .toDF("OGC_FID", "burst_id", "relative_orbit_number", "subswath_name",
          "orbit_pass", "geom")
        .coalesce(1).write.parquet(burstMap)
      Files.writeString(d.resolve("land.wkt"), shapes.landWkt)
      Files.writeString(d.resolve("north_america.wkt"), shapes.naWkts.mkString("\n"))
    }
    val t0 = System.nanoTime()
    val threw = try { Workloads.timed("create")(create(catalog)); None } catch {
      case NonFatal(e) => Some(s"create threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val createMs = (System.nanoTime() - t0) / 1e6
    val failure = threw.orElse(checking(checkCatalog(catalog)))
    creates += SetupOp("create", createMs, failure, threw.isDefined)
    threw.foreach(t => throw new IllegalStateException(t))
    val bim = s.read.parquet(s"$catalog/burst_id_map")
    Workloads.timed("facts") {
      // every burst acquired every 12 days, its track's cycle offset, seconds
      // into the day by position along the track; a granule spans 10 bursts
      bim.select(col("burst_id_jpl"), col("relative_orbit_number").as("track"),
          col("burst_id"))
        .crossJoin(s.range(Acquisitions).toDF("k"))
        .withColumn("day", date_add(lit("2023-01-01").cast("date"),
          (col("track") % 12 + col("k") * 12).cast("int")))
        .select(col("burst_id_jpl"),
          timestamp_micros(unix_micros(col("day").cast("timestamp")) +
            (col("burst_id") % 1000) * 2760000L).as("sensing_time"),
          format_string("S1A_IW_SLC__1SDV_%sT%06d_%03d.SAFE",
            date_format(col("day"), "yyyyMMdd"), (col("burst_id") / 10).cast("long"),
            col("track")).as("granule"))
        .repartition(6, col("burst_id_jpl"))
        .write.parquet(facts)
    }
    val fr = s.read.parquet(s"$catalog/frames")
    Workloads.timed("zip") {
      Io.writeJsonZip(zip, "frame_to_burst.json", Io.frameToBurstJson(
        Catalog.frameSummaries(fr, s.read.parquet(s"$catalog/frames_bursts"), bim),
        Map("seed" -> seed.toString)))
    }
    checking {
      frames = fr.select(col("fid").cast("long"), col("geom")).orderBy("fid")
        .collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
      parsed = frames.map { case (f, g) => (f, GeoFunctions.parseWkt(g)) }
    }
  }

  /** Two requests of every kind, from a batch of its own. */
  def warmUp(rnd: Random): Unit =
    batch(rnd).groupBy(_.kind).values.flatMap(_.take(2)).foreach(_.run())

  override def setupOps: Seq[SetupOp] = creates.toSeq

  /** One more `create`, traced, so the build path gets per-layer numbers. */
  override def tracedExtras: Seq[Op] = {
    val out = dir.resolve("traced-create").toString
    Seq(Op("create", "create", () => { create(out); OpOut(outDir = Some(out)) },
      check = o => {
        val r = if (o.lines.nonEmpty) Some("corrupted") else checkCatalog(out)
        Workloads.deleteTree(java.nio.file.Paths.get(out))
        r
      }))
  }

  private def bruteForce(q: String): Set[Long] = {
    val g = GeoFunctions.parseWkt(q)
    parsed.collect { case (f, fg) if fg.intersects(g) => f }.toSet
  }

  private def intersectCheck(wkt: String)(o: OpOut): Option[String] = {
    val fid = "\"fid\":(\\d+)".r
    val got = o.lines.flatMap(l => fid.findFirstMatchIn(l).map(_.group(1).toLong))
    val want = bruteForce(wkt)
    if (got.size == o.lines.size && got.toSet == want && got.distinct.size == got.size) None
    else Some(s"intersect returned ${o.lines.size} lines, brute force finds ${want.size} frames")
  }

  private def date(rnd: Random, maxDay: Int): String = {
    val d = java.time.LocalDate.of(2023, 1, 1).plusDays(rnd.nextInt(maxDay))
    s"$d 00:00:00"
  }

  /** 14 requests of a fixed mix in seeded order: 6 lookups over skewed
    * frame ids (one id absent), 3 bbox and 1 WKT intersects (one bbox
    * continent-sized), 2 fetch-granules and 2 fetch-bursts. */
  def batch(rnd: Random): Seq[Op] = {
    val nf = frames.size
    def hotFid(): Long = frames(math.min(nf - 1, (nf * math.pow(rnd.nextDouble(), 3)).toInt))._1
    def someFids(k: Int): Seq[Long] = Seq.fill(k)(frames(rnd.nextInt(nf))._1).distinct
    def center(): (Double, Double) = {
      val c = parsed(rnd.nextInt(nf))._2.getEnvelopeInternal.centre()
      (c.x, c.y)
    }
    def range(): (String, String) = {
      val start = date(rnd, 100)
      val end = java.time.LocalDate.parse(start.take(10)).plusDays(20L + rnd.nextInt(60))
      (start, s"$end 00:00:00")
    }
    def bbox(x: Double, y: Double, hw: Double, hh: Double): (String, String) = {
      val b = f"${math.max(-180, x - hw)}%.4f,${math.max(-90, y - hh)}%.4f," +
        f"${math.min(180, x + hw)}%.4f,${math.min(90, y + hh)}%.4f"
      val Array(x0, y0, x1, y1) = b.split(',').map(_.toDouble)
      (b, Catalog.bboxWkt(x0, y0, x1, y1))
    }
    def serve(args: List[String]): () => OpOut =
      () => OpOut(lines = Workloads.capture(Main.run(spark, args)))

    val lookups = (1 to 6).map { i =>
      val fid = if (i == 6) frames.last._1 + 1 + rnd.nextInt(1000) else hotFid()
      Op("lookup", "lookup", serve(List("lookup", catalog, fid.toString)), _ => None,
        Map("fid" -> fid))
    }
    val boxes = (1 to 3).map { i =>
      val (b, wkt) =
        if (i == 3) bbox(-150 + 300 * rnd.nextDouble(), -50 + 100 * rnd.nextDouble(),
          20 + 15 * rnd.nextDouble(), 15 + 10 * rnd.nextDouble())
        else { val (x, y) = center(); bbox(x, y, 0.2 + rnd.nextDouble(), 0.2 + rnd.nextDouble()) }
      Op("intersect", "intersect", serve(List("intersect", catalog, "--bbox", b)),
        intersectCheck(wkt), Map("bbox" -> b))
    }
    val wkts = (1 to 1).map { _ =>
      val (x, y) = center()
      val s = 0.5 + 2 * rnd.nextDouble()
      val wkt = f"POLYGON (($x%.4f ${y - s}%.4f, ${x + s}%.4f ${y + s}%.4f, " +
        f"${x - s}%.4f ${y + s}%.4f, $x%.4f ${y - s}%.4f))"
      Op("intersect", "intersect", serve(List("intersect", catalog, "--wkt", wkt)),
        intersectCheck(wkt), Map("wkt" -> wkt))
    }
    val granules = (1 to 2).map { _ =>
      val fids = someFids(1 + rnd.nextInt(3))
      val (a, b) = range()
      Op("fetch-granules", "fetch_granules",
        serve(List("fetch-granules", facts, zip, fids.mkString(","), a, b)), _ => None,
        Map("fids" -> fids, "start" -> a, "end" -> b))
    }
    val fetches = (1 to 2).map { _ =>
      n += 1
      val fids = someFids(1 + rnd.nextInt(2))
      val (a, b) = range()
      val out = dir.resolve(s"fetch_bursts-$n").toString
      Op("fetch-bursts", "fetch_bursts", () => {
          Main.run(spark, List("fetch-bursts", facts, zip, fids.mkString(","), a, b, out))
          OpOut(outDir = Some(out))
        }, _ => None, Map("fids" -> fids, "start" -> a, "end" -> b, "out" -> out))
    }
    rnd.shuffle(lookups ++ boxes ++ wkts ++ granules ++ fetches)
  }

  private def medianMs(reps: Int)(body: => Unit): Double = {
    val ms = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ms(ms.size / 2)
  }

  override def probes(s: SparkSession): Map[String, Double] = {
    import s.implicits._
    val arrays = Grid.paperLandArrays(shapes)
    Map(
      "domain.frame_solver_ms" -> medianMs(15)(arrays.foreach(a => FrameSolver.landOptimizedSlices(a))),
      "sources.json_zip_ms" -> medianMs(5)(s.read.json(Seq(Io.readJsonZip(zip)).toDS()).schema))
  }

  def inputs: Map[String, Any] = Map(
    "tracks" -> Grid.Tracks, "bursts_per_track" -> BurstsPerTrack,
    "frame_solver_probe_bursts_per_track" -> Grid.PaperBurstsPerTrack,
    "burst_rows" -> Option(shapes).map(_.bursts.size).getOrElse(0),
    "land_wkt_chars" -> Option(shapes).map(_.landWkt.length).getOrElse(0),
    "north_america_shapes" -> Option(shapes).map(_.naWkts.size).getOrElse(0),
    "frames" -> Option(frames).map(_.size).getOrElse(0),
    "acquisitions_per_burst" -> Acquisitions,
    "catalog" -> catalog, "facts" -> facts, "frame_to_burst_zip" -> zip)
}
