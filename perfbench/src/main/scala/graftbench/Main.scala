package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.{HistogramConfig, HistogramRunner, SparkEntry}
import graft.core.{BinMethod, BinSpec, RouteLog}
import graft.operators.{DedupOps, HistogramOps, PercentileOps}
import graft.sources.raster.GeoTiff

/** The benchmark's JVM side: generates a workload's inputs from the seed,
  * sets up a Spark session once (timed: the cold set-up, which warms the
  * JIT), runs the workload in a closed loop from this one thread for the
  * given seconds, checks what it can check in-process, and writes
  * `result.json` (plus `spans.json` in a traced run) to the work directory
  * for `run.py`.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path, data: Path)

  final case class OpRecord(id: String, name: String, traced: Boolean, wallS: Double, cpuS: Double,
      error: Option[String], routes: Int, extra: Map[String, Any])

  /** How many times set-up runs `warmUp`: after one round the first timed
    * op still ran ~1.6x slower than the last. */
  val WarmRounds = 3

  def main(argv: Array[String]): Unit = {
    val args = argv match {
      case Array(w, s, sec, t, work, data) =>
        Args(w, s.toLong, sec.toDouble, t == "1", Paths.get(work).toAbsolutePath, Paths.get(data).toAbsolutePath)
      case _ =>
        System.err.println("usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir>")
        sys.exit(2)
    }
    val bench: Workload = args.workload match {
      case "tiles_linear" => new TileWorkload(args)
      case "query_suite"  => new QueryWorkload(args)
      case other =>
        System.err.println(s"unknown workload $other")
        sys.exit(2)
    }
    // exit explicitly: a lingering non-daemon thread must not hold the run
    try bench.run()
    catch {
      case NonFatal(e) =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }
}

/** The closed-loop harness shared by all workloads. */
abstract class Workload(val args: Main.Args) {
  import Main._

  val cores: Int = Runtime.getRuntime.availableProcessors
  var spark: SparkSession = _
  val tracer = new Tracer
  val collector = new Collector
  private var opCount = 0

  /** Write the inputs (untimed, outside `setup_s`). */
  def generate(): Unit
  /** Warm the JIT and the session on small inputs (inside `setup_s`). */
  def warmUp(): Unit
  /** One pass of op names, in the seeded order of pass `i`. */
  def pass(i: Int): Seq[String]
  /** Fewest passes an untraced run makes, whatever its speed, so that every
    * run measures the same op count unless the host is unusually fast. A
    * traced run, whose passes hold twice the ops, makes at least 2. */
  def minPasses: Int = 1
  def untracedOp(name: String, out: Path): Map[String, Any]
  def tracedOp(name: String, out: Path, opId: String): Map[String, Any]
  /** In-process output check (untimed): None when the op's output is right. */
  def check(op: OpRecord): Option[String]
  /** Per-layer metrics of a traced run, per traced op. */
  def layers(ops: Seq[OpRecord]): Map[String, Double]
  def resultExtra(): Map[String, Any] = Map.empty

  def newSession(): SparkSession = {
    val b = HistogramRunner.sessionConfigs(cores).foldLeft(SparkSession.builder().master(s"local[$cores]")) {
      case (b, (k, v)) => b.config(k, v)
    }
    val s = b
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    SparkEntry.tune(s)
  }

  def outDir(id: String): Path = {
    val d = args.work.resolve("out").resolve(id)
    Files.createDirectories(d.getParent)
    d
  }

  def runOp(name: String, traced: Boolean): OpRecord = {
    opCount += 1
    val id = f"op-$opCount%04d"
    val out = outDir(id)
    val sc = spark.sparkContext
    if (traced) sc.addSparkListener(collector)
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val routesBefore = RouteLog.recent()
    val c0 = Host.cpuNs()
    val t0 = System.nanoTime()
    val result =
      try Right(if (traced) tracer.inOp(id, "op")(tracedOp(name, out, id)) else untracedOp(name, out))
      catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Host.cpuNs() - c0) / 1e9
    sc.clearJobGroup()
    if (traced) {
      collector.awaitQuiet(10000)
      sc.removeSparkListener(collector)
    }
    val routes = Host.newEntries(routesBefore, RouteLog.recent())
    result match {
      case Right(extra) => OpRecord(id, name, traced, wall, cpu, None, routes, extra)
      case Left(e) =>
        System.err.println(s"[perfbench] $id $name failed: $e")
        e.printStackTrace()
        OpRecord(id, name, traced, wall, cpu, Some(e.getClass.getName), routes, Map.empty)
    }
  }

  def run(): Unit = {
    Files.createDirectories(args.work)
    generate()
    // session start plus warm-up, once, in this fresh JVM: `setup_s`
    val s0 = System.nanoTime()
    spark = newSession()
    (1 to WarmRounds).foreach(_ => warmUp())
    val setupS = (System.nanoTime() - s0) / 1e9
    tracer.spans.clear() // warm-up spans are not part of the run
    DedupOps.releaseAllCaches()
    spark.catalog.clearCache()

    // the timed loop's heap peak starts from the live set warm-up left
    Host.resetHeapPeak()
    System.gc()
    val hostBefore = Host.evidence()
    val t0 = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    var i = 0
    // closed loop, one client: whole passes until the time is up, so every
    // run measures the same mix whatever its speed
    val floor = if (args.trace) 2 else minPasses
    while (i < floor || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      pass(i).zipWithIndex.foreach { case (name, j) =>
        // a traced run pairs each op with an untraced twin, alternating
        // which goes first: the second of a pair runs warmer
        val order = if (!args.trace) Seq(false) else if ((i + j) % 2 == 0) Seq(false, true) else Seq(true, false)
        order.foreach(traced => ops += runOp(name, traced))
      }
      i += 1
    }
    val runS = (System.nanoTime() - t0) / 1e9
    val heapPeakMb = Host.heapPeakMb()
    val hostAfter = Host.evidence()

    val checked = ops.map(op => op.error.orElse(check(op)).fold(op)(e => op.copy(error = Some(e))))
    if (args.trace) {
      tracer.addJobs(collector.jobs())
      Files.writeString(args.work.resolve("spans.json"), Json(tracer.spans))
    }
    val layerMetrics = if (args.trace) layers(checked.toSeq) else Map.empty[String, Double]
    val result = Map(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "trace" -> args.trace,
      "cores" -> cores,
      "setup_s" -> setupS,
      "run_s" -> runS,
      "passes" -> i,
      "peak_heap_mb" -> heapPeakMb,
      "peak_rss_mb" -> Host.peakRssMb(),
      "native_peak_mb" -> (Host.peakRssMb() - Host.heapCommittedMb()),
      "host" -> Map("before" -> hostBefore, "after" -> hostAfter),
      "ops" -> checked.map(op => collection.immutable.ListMap(
        "id" -> op.id, "name" -> op.name, "traced" -> op.traced, "wall_s" -> op.wallS, "cpu_s" -> op.cpuS,
        "error" -> op.error, "routes_fired" -> op.routes) ++ op.extra),
      "layers" -> layerMetrics) ++ resultExtra()
    Files.writeString(args.work.resolve("result.json"), Json(result))
    DedupOps.releaseAllCaches()
    spark.stop()
  }

  /** Force a DataFrame's own QueryExecution under an execution id (so AQE
    * reports its re-plans) and return its row count and plan statistics. */
  def force(df: DataFrame, label: String, fillsCache: Boolean = false): (Long, PlanStats) = {
    val qe = df.queryExecution
    val n = SQLExecution.withNewExecutionId(qe, Some(label))(qe.toRdd.count())
    (n, PlanStats.of(qe, fillsCache))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The per-layer metrics every workload reports, from spans, forced plans
    * and the listener. Layers a workload does not exercise read 0. */
  def commonLayers(ops: Seq[OpRecord], plans: OpRecord => Seq[PlanStats]): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val perOp = perTracedOp(ops) _
    def acc(op: OpRecord) = collector.forOp(op.id)
    def planSum(f: PlanStats => Double)(op: OpRecord) = plans(op).map(f).sum
    Map(
      "core.routes_fired" -> perOp(_.routes.toDouble),
      "spark.plan.analysis_ms" -> perOp(planSum(_.analysisMs.toDouble)),
      "spark.plan.optimization_ms" -> perOp(planSum(_.optimizationMs.toDouble)),
      "spark.plan.planning_ms" -> perOp(planSum(_.planningMs.toDouble)),
      "spark.plan.exchanges" -> perOp(planSum(_.exchanges.toDouble)),
      "spark.plan.aqe_replans" -> perOp(acc(_).aqeReplans.toDouble),
      "spark.exec.jobs" -> perOp(acc(_).jobs.toDouble),
      "spark.exec.stages" -> perOp(acc(_).stages.toDouble),
      "spark.exec.tasks" -> perOp(acc(_).tasks.toDouble),
      "spark.exec.single_task_stages" -> perOp(acc(_).singleTaskStages.toDouble),
      "spark.exec.task_wait_s" -> perOp(acc(_).taskWaitMs / 1e3),
      "spark.exec.shuffle_read_bytes" -> perOp(acc(_).shuffleRead.toDouble),
      "spark.exec.shuffle_write_bytes" -> perOp(acc(_).shuffleWrite.toDouble),
      "spark.exec.executor_run_s" -> perOp(acc(_).runMs / 1e3),
      "spark.exec.executor_cpu_s" -> perOp(acc(_).cpuNs / 1e9),
      "spark.exec.gc_s" -> perOp(acc(_).gcMs / 1e3),
      "spark.exec.spill_bytes" -> perOp(acc(_).spill.toDouble),
      "spark.exec.failed_tasks" -> perOp(acc(_).failedTasks.toDouble),
      // traced minus untraced median op wall time: same run, same op mix
      "trace.overhead_s" -> (median(traced.map(_.wallS)) - median(ops.filterNot(_.traced).map(_.wallS))))
  }

  /** Mean of `f` over the traced ops. */
  def perTracedOp(ops: Seq[OpRecord])(f: OpRecord => Double): Double = {
    val traced = ops.filter(_.traced)
    traced.map(f).sum / math.max(1, traced.size)
  }

  def spanSecs(op: OpRecord, name: String): Double =
    tracer.spans.filter(s => s.op == op.id && s.name == name).map(_.dur).sum / 1e9

  def spanSelfSecs(op: OpRecord, name: String): Double =
    tracer.spans.filter(s => s.op == op.id && s.name == name).map(tracer.selfNs).sum / 1e9
}

/** The paper's pipeline over a seeded tile list: `runCli` writes
  * `histogram.csv`, then the paper's decile SQL runs over that CSV re-read
  * as `histo(value, cnt)`. */
final class TileWorkload(args: Main.Args) extends Workload(args) {
  import Main._

  private var tiles: Tiles.TileSet = _
  private var warm: Tiles.TileSet = _
  private var expected: Array[Byte] = _
  private val plans = mutable.Map.empty[String, Seq[PlanStats]]
  private val bins = mutable.Map.empty[String, Int]
  private val method = BinMethod.Linear

  def generate(): Unit = {
    val dir = args.work.resolve("tiles")
    tiles = Tiles.linearSet(dir, args.seed, n = 248, side = 256, distinctPerKind = 4)
    expected = tiles.expectedCsv
    warm = tiles.everyOther(dir.resolve("warm.txt"))
  }

  /** One op over every other tile of the workload's own list: warming on a
    * 6-tile set left the first timed op ~40% slower than the rest. */
  def warmUp(): Unit = {
    pipeline(warm, args.work.resolve("warm-out"))
    if (args.trace) steps(warm, args.work.resolve("warm-out-traced"))
  }

  def pass(i: Int): Seq[String] = Seq(args.workload)
  override def minPasses: Int = 4

  private def cli(ts: Tiles.TileSet, out: Path) =
    HistogramRunner.CliArgs(ts.listFile.toString, out.toString, cores, HistogramConfig("value", method))

  private def readCsv(out: Path): DataFrame =
    spark.read.schema("value DOUBLE, cnt BIGINT").option("ignoreLeadingWhiteSpace", "true")
      .csv(out.resolve("histogram.csv").toString)

  private def decileRows(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(r => Seq(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))

  private def pipeline(ts: Tiles.TileSet, out: Path): Map[String, Any] = {
    HistogramRunner.runCli(spark, cli(ts, out))
    Map("out" -> out.toString, "deciles" -> decileRows(PercentileOps.decilesSql(spark, readCsv(out)).collect()))
  }

  def untracedOp(name: String, out: Path): Map[String, Any] = pipeline(tiles, out)

  def tracedOp(name: String, out: Path, opId: String): Map[String, Any] = {
    val (spec, stats, deciles) = steps(tiles, out)
    plans(opId) = stats
    bins(opId) = spec.bins
    Map("out" -> out.toString, "deciles" -> deciles)
  }

  /** The steps `runPushed` composes, one public call per span. */
  private def steps(ts: Tiles.TileSet, out: Path): (BinSpec, Seq[PlanStats], Seq[Seq[Any]]) = {
    import org.apache.spark.sql.functions._
    def read(mode: String, extra: Map[String, String] = Map.empty) =
      extra.foldLeft(
        spark.read.format("graft.sources.raster.RasterSource")
          .option("tileListPath", ts.listFile.toString)
          .option("mode", mode)) { case (r, (k, v)) => r.option(k, v) }.load()
    val stats = mutable.ArrayBuffer.empty[PlanStats]
    val spec = tracer.span("runner.pipeline") {
      val (mn, mx) = tracer.span("raster.stats_pass") {
        val df = read("stats").agg(min(col("min_value")), max(col("max_value")))
        val row = df.collect().head
        stats += PlanStats.of(df.queryExecution)
        if (row.isNullAt(0)) (0.0, 0.0) else (row.getDouble(0), row.getDouble(1))
      }
      val spec = tracer.span("core.bin_spec")(BinSpec.derive(mn, mx, method))
      val binned = tracer.span("raster.hist_pass") {
        val df = read("hist", Map(
          "binLo" -> spec.lo.toString, "binHi" -> spec.hi.toString,
          "binOffset" -> spec.offset.toString, "binMethod" -> method.name,
          "legacyLogOffset100" -> "false")).select(col("code"), col("cnt")).persist()
        stats += force(df, "raster.hist_pass", fillsCache = true)._2
        df
      }
      val histo = tracer.span("operators.merge") {
        val df = HistogramOps.histogramFromBinned(binned, spec).persist()
        stats += force(df, "operators.merge", fillsCache = true)._2
        df
      }
      tracer.span("operators.csv_sink")(HistogramOps.writeCsv(histo, out.toString))
      histo.unpersist()
      binned.unpersist()
      spec
    }
    val deciles = tracer.span("operators.deciles") {
      val df = PercentileOps.decilesSql(spark, readCsv(out))
      val rows = df.collect()
      stats += PlanStats.of(df.queryExecution)
      decileRows(rows)
    }
    (spec, stats.toSeq, deciles)
  }

  def check(op: OpRecord): Option[String] = {
    val got = Files.readAllBytes(Paths.get(op.extra("out").toString).resolve("histogram.csv"))
    if (java.util.Arrays.equals(got, expected)) None
    else Some(s"histogram.csv differs from the expected histogram (${got.length} vs ${expected.length} bytes)")
  }

  override def resultExtra(): Map[String, Any] = Map(
    "tiles" -> tiles.n,
    "pixels_per_op" -> tiles.pixels,
    "bins" -> (new String(expected, "UTF-8").count(_ == '\n')))

  /** Single-thread `PixelCursor` rate over the workload's distinct encodings. */
  private def decodeRate(): Double = {
    var px = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 1000000000L) {
      tiles.bases.foreach { b =>
        val cur = new GeoTiff.PixelCursor(new GeoTiff.ByteArraySeekable(b.bytes))
        while (cur.next()) { sink += cur.value(); px += 1 }
      }
    }
    px / ((System.nanoTime() - t0) / 1e9) / 1e6
  }
  // decoded values land here so the decode loop is not dead code
  var sink = 0.0

  def layers(ops: Seq[OpRecord]): Map[String, Double] = {
    val perOp = perTracedOp(ops) _
    commonLayers(ops, op => plans.getOrElse(op.id, Nil)) ++ Map(
      "runner.pipeline_s" -> perOp(spanSecs(_, "runner.pipeline")),
      "runner.self_s" -> perOp(spanSelfSecs(_, "runner.pipeline")),
      "raster.stats_pass_s" -> perOp(spanSecs(_, "raster.stats_pass")),
      "raster.hist_pass_s" -> perOp(spanSecs(_, "raster.hist_pass")),
      "raster.tile_decodes" -> perOp(op => plans.getOrElse(op.id, Nil).map(_.scanPartitions).sum.toDouble),
      "raster.scan_rows" -> perOp(op => plans.getOrElse(op.id, Nil).map(_.scanRows).sum.toDouble),
      "raster.decode_mpx_per_s_core" -> decodeRate(),
      "core.bins" -> perOp(op => bins.getOrElse(op.id, 0).toDouble),
      "operators.merge_s" -> perOp(spanSecs(_, "operators.merge")),
      "operators.csv_sink_s" -> perOp(spanSecs(_, "operators.csv_sink")),
      "operators.deciles_s" -> perOp(spanSecs(_, "operators.deciles")),
      "queries.build_s" -> 0.0,
      "queries.self_s" -> 0.0)
  }
}

/** A fixed panel of `SparkEntry.queries` over the committed sf0.01 tables.
  * One op is one pass over the whole panel in a seeded order, each query
  * forced with `queryExecution.toRdd.count()`, so every query of the panel
  * weighs on the op's wall time. */
final class QueryWorkload(args: Main.Args) extends Workload(args) {
  import Main._

  /** One query per family the engine serves: the paper's decile SQL, TPC-H,
    * events, dedup, vector search, text ranking and A/B evaluation. */
  val Panel: Seq[String] = Seq(
    "hist_deciles", "q7_volume", "events_sessions", "funnel_paths",
    "dedup_minhash", "knn_ivf", "bm25_search", "ab_msprt_by")

  private val rnd = new scala.util.Random(args.seed)
  private val plans = mutable.Map.empty[String, Seq[PlanStats]]
  private lazy val queries = SparkEntry.queries

  def generate(): Unit = {
    val missing = Panel.filterNot(queries.contains)
    require(missing.isEmpty, s"panel queries missing from SparkEntry.queries: ${missing.mkString(", ")}")
  }

  def warmUp(): Unit = Panel.foreach { q =>
    try queries(q)(spark, args.data.toString).queryExecution.toRdd.count()
    finally DedupOps.releaseShingleCaches()
  }

  /** The op's name spells its query order. */
  def pass(i: Int): Seq[String] = Seq(rnd.shuffle(Panel).mkString(","))
  // pass times still fall slowly after warm-up (the JIT); the median of 5
  // spread across seeds by 0.09 of itself, the median of 3 by 0.13
  override def minPasses: Int = 5

  /** Runs the panel in the order `order` spells, one record per query. A
    * query that throws is recorded with its error class and the pass goes
    * on; run.py fails the op. */
  private def panel(order: String)(one: String => Long): Map[String, Any] =
    Map("queries" -> order.split(",").toSeq.map { q =>
      val t0 = System.nanoTime()
      val result = try Right(one(q)) catch { case NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      DedupOps.releaseShingleCaches()
      result.left.foreach { e =>
        System.err.println(s"[perfbench] $q failed: $e")
        e.printStackTrace()
      }
      collection.immutable.ListMap("name" -> q, "wall_s" -> wall, "count" -> result.toOption,
        "error" -> result.left.toOption.map(_.getClass.getName))
    })

  def untracedOp(order: String, out: Path): Map[String, Any] =
    panel(order)(q => force(queries(q)(spark, args.data.toString), q)._1)

  def tracedOp(order: String, out: Path, opId: String): Map[String, Any] = {
    val stats = mutable.ArrayBuffer.empty[PlanStats]
    val result = panel(order) { q =>
      tracer.span(s"query.$q") {
        val df = tracer.span("queries.build")(queries(q)(spark, args.data.toString))
        val (n, s) = tracer.span("spark.execute")(force(df, q))
        stats += s
        n
      }
    }
    plans(opId) = stats.toSeq
    result
  }

  def check(op: OpRecord): Option[String] = None // row counts are checked against DuckDB by run.py

  override def resultExtra(): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql
    Map("oracle_sql" -> Panel.map(q => q -> oracle.get(q)).toMap)
  }

  def layers(ops: Seq[OpRecord]): Map[String, Double] = {
    val perOp = perTracedOp(ops) _
    commonLayers(ops, op => plans.getOrElse(op.id, Nil)) ++ Map(
      "queries.build_s" -> perOp(spanSecs(_, "queries.build")),
      "queries.self_s" -> perOp(spanSelfSecs(_, "queries.build"))) ++
      Seq("runner.pipeline_s", "runner.self_s", "raster.stats_pass_s", "raster.hist_pass_s",
        "raster.tile_decodes", "raster.scan_rows", "raster.decode_mpx_per_s_core", "core.bins",
        "operators.merge_s", "operators.csv_sink_s", "operators.deciles_s").map(_ -> 0.0)
  }
}

/** Process and host readings. */
object Host {
  import java.lang.management.{ManagementFactory, MemoryType}
  import java.util.concurrent.atomic.AtomicLong
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val heapPeak = new AtomicLong(0L)
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: Any) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        heapPeak.accumulateAndGet(after.collect { case (p, u) if heapPools(p) => u.getUsed }.sum, math.max)
      }, null, null)
    case _ =>
  }

  /** Forget the heap peak seen so far. */
  def resetHeapPeak(): Unit = heapPeak.set(0L)

  /** The most heap any GC left in use since the last reset, in MB: the
    * live set plus what the young collections promoted. */
  def heapPeakMb(): Double = heapPeak.get / (1024.0 * 1024.0)

  /** Heap the JVM holds, in MB: with a pre-touched heap, all of it resident. */
  def heapCommittedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / (1024.0 * 1024.0)


  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  /** CPU steal ticks and load averages: evidence, not metrics. */
  def evidence(): Map[String, Any] = {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines().find(_.startsWith("cpu ")).getOrElse("")
    val f = cpu.trim.split("\\s+")
    Map(
      "steal_ticks" -> (if (f.length > 8) f(8).toLong else -1L),
      "loadavg" -> Files.readString(Paths.get("/proc/loadavg")).trim)
  }

  /** Entries `after` appended to the bounded ring that held `before`. */
  def newEntries(before: Seq[String], after: Seq[String]): Int = {
    val overlap = (math.min(before.size, after.size) to 0 by -1)
      .find(k => before.takeRight(k) == after.take(k)).getOrElse(0)
    after.size - overlap
  }
}
