package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, greatest, least, lit, max, min}

import graft.core.{BinMethod, BinSpec}
import graft.operators.HistogramOps

/** The reference's CLI surface (E3 — reference: compute_histogram/main.py:17-57,
  * README.md:22-31) as a config object + runner.
  *
  * Differences from the reference, both documented in SURVEY §7.4:
  *  - `minmaxOnly` actually stops after the stats pass (the reference parses
  *    the flag but never checks it — main.py:29-33 vs :53-57);
  *  - min/max start un-clamped; `clampToZero = true` restores the
  *    reference's zero-initialized accumulators (main.py:131-132).
  * When both `minValue` and `maxValue` are given the stats pass is skipped,
  * exactly like the reference (main.py:53-54).
  */
final case class HistogramConfig(
    valueCol: String,
    method: BinMethod = BinMethod.Linear,
    minValue: Option[Double] = None,
    maxValue: Option[Double] = None,
    minmaxOnly: Boolean = false,
    clampToZero: Boolean = false,
    legacyLogOffset100: Boolean = false)

object HistogramRunner {

  /** Pixels per tile the stub reader emits for offline `s3://` tile URIs
    * (decoded GeoTIFFs report their own size). */
  val StubPixelsPerTile = 100000L

  /** Run the configured pipeline. `minmaxOnly` returns the 1-row stats
    * relation; otherwise the dense `(value, cnt)` histogram from two jobs:
    * stats pass → `BinSpec` derived on the driver (1 collected row) →
    * histogram pass, the reference's pass-1/pass-2 shape (main.py:53-57).
    */
  def run(df: DataFrame, cfg: HistogramConfig): DataFrame = {
    val values = HistogramOps.validValues(df, cfg.valueCol)
    if (cfg.minmaxOnly) minMaxRow(values, "value", "value", cfg.clampToZero)
    else {
      val (mn, mx) = (cfg.minValue, cfg.maxValue) match {
        case (Some(a), Some(b)) => (a, b)
        case _                  => HistogramOps.minMax(values, cfg.clampToZero)
      }
      HistogramOps.histogram(values, BinSpec.derive(mn, mx, cfg.method), cfg.legacyLogOffset100)
    }
  }

  /** The 1-row `(min_value, max_value)` stats relation over `stats`'
    * `minCol` / `maxCol`. `clampToZero` widens the range to include 0 like
    * the reference's zero-initialized accumulators (main.py:131-132).
    */
  private def minMaxRow(
      stats: DataFrame,
      minCol: String,
      maxCol: String,
      clampToZero: Boolean): DataFrame = {
    val (mn, mx) = (min(col(minCol)), max(col(maxCol)))
    if (clampToZero)
      stats.agg(least(mn, lit(0.0)).as("min_value"), greatest(mx, lit(0.0)).as("max_value"))
    else stats.agg(mn.as("min_value"), mx.as("max_value"))
  }

  /** A DSv2 raster scan of a tile list in the given `mode`. The list path
    * streams straight into the scan's partition planning — no driver-side
    * collect()-and-comma-join of URIs (at 10⁵-10⁶ tiles that is a driver
    * bottleneck and a multi-MB option string).
    */
  private def readTiles(
      spark: SparkSession,
      tileListPath: String,
      pixelsPerTile: Long,
      mode: String,
      extra: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.read
      .format("graft.sources.raster.RasterSource")
      .option("tileListPath", tileListPath)
      .option("pixelsPerTile", pixelsPerTile)
      .option("mode", mode)
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  /** Pass 1 over a tile list: `mode=stats` sends ONE row per tile across
    * the scan boundary, then the global min/max row. */
  private def tileStats(
      spark: SparkSession,
      tileListPath: String,
      pixelsPerTile: Long,
      clampToZero: Boolean): DataFrame = {
    val perTile = readTiles(spark, tileListPath, pixelsPerTile, "stats")
    minMaxRow(perTile, "min_value", "max_value", clampToZero)
  }

  /** The fully source-pushed two-pass pipeline over the DSv2 raster scan:
    * pass 1 reads `mode=stats` (ONE row per tile crosses the scan
    * boundary), pass 2 reads `mode=hist` (≤ bins rows per tile) and the
    * engine only merges + densifies. Output is bit-identical to
    * [[run]] over the raw `mode=values` scan (RasterAggSpec pins it) —
    * this is the reference's own worker/driver split (per-worker
    * `get_min_max` / `process_sources`, driver-side fold) expressed as
    * scan modes, and the shape that survives 40000²-pixel tiles: the
    * exchange after the scan carries bins, not pixels.
    */
  def runPushed(
      spark: SparkSession,
      tileListPath: String,
      pixelsPerTile: Long,
      cfg: HistogramConfig): DataFrame = {
    val (mn, mx) = (cfg.minValue, cfg.maxValue) match {
      case (Some(a), Some(b)) => (a, b)
      case _ =>
        val row = tileStats(spark, tileListPath, pixelsPerTile, cfg.clampToZero).head()
        if (row.isNullAt(0)) (0.0, 0.0) else (row.getDouble(0), row.getDouble(1))
    }
    val spec = BinSpec.derive(mn, mx, cfg.method)
    val binned = readTiles(
      spark,
      tileListPath,
      pixelsPerTile,
      "hist",
      Map(
        "binLo" -> spec.lo.toString,
        "binHi" -> spec.hi.toString,
        "binOffset" -> spec.offset.toString,
        "binMethod" -> cfg.method.name,
        "legacyLogOffset100" -> cfg.legacyLogOffset100.toString))
    HistogramOps.histogramFromBinned(binned.select(col("code"), col("cnt")), spec)
  }

  /** Parsed CLI surface — the reference's flags
    * (compute_histogram/main.py:17-41: `-m/--method`, `-w/--workers`,
    * `--min_value`, `--max_value`, `--minmax_only`) plus the parquet-era
    * positionals `<source> [valueCol] [outDir]`.
    */
  final case class CliArgs(
      source: String,
      outDir: String,
      workers: Int,
      cfg: HistogramConfig)

  /** Parse the full reference CLI. Positionals stay compatible with the
    * pre-round-10 shape `<source> <valueCol> [method] [outDir]` (a bare
    * `linear`/`log` third positional is still accepted as the method).
    */
  def parseArgs(args: Array[String]): CliArgs = {
    var method: Option[BinMethod] = None
    var workers = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    var minV: Option[Double] = None
    var maxV: Option[Double] = None
    var minmaxOnly = false
    val pos = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-m" | "--method" => method = Some(BinMethod.parse(args(i + 1))); i += 2
        case "-w" | "--workers" => workers = args(i + 1).toInt; i += 2
        case "--min_value" => minV = Some(args(i + 1).toDouble); i += 2
        case "--max_value" => maxV = Some(args(i + 1).toDouble); i += 2
        case "--minmax_only" => minmaxOnly = true; i += 1
        case other if other.startsWith("--") =>
          throw new IllegalArgumentException(
            s"unknown flag $other; usage: <source> [valueCol] [outDir] " +
              "[-m linear|log] [-w N] [--min_value X] [--max_value Y] [--minmax_only]")
        case p => pos += p; i += 1
      }
    }
    require(pos.nonEmpty, "missing <source>")
    val valueCol = if (pos.length > 1) pos(1) else "value"
    // legacy positional method: <source> <valueCol> log <outDir>
    val legacyMethod = pos.length > 2 && Set("linear", "log").contains(pos(2))
    if (legacyMethod) method = method.orElse(Some(BinMethod.parse(pos(2))))
    val outIdx = if (legacyMethod) 3 else 2
    val outDir = if (pos.length > outIdx) pos(outIdx) else "target/histogram_csv"
    CliArgs(
      pos(0), outDir, workers,
      HistogramConfig(valueCol, method.getOrElse(BinMethod.Linear), minV, maxV, minmaxOnly))
  }

  /** Session configs for a CLI run. E2 (retry/backoff): the reference
    * wraps every tile read in a 7-attempt exponential-backoff retry
    * (main.py:229-236 — stop_max_attempt_number=7, 1 s base, 5 min cap);
    * Spark's equivalent resilience is task re-execution plus the S3A
    * connector's own retry policy, so the CLI session pins
    * `spark.task.maxFailures=7` and the matching S3A retry knobs instead
    * of hand-rolling a retry loop in engine code (SURVEY §2.8).
    */
  def sessionConfigs(workers: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> workers.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.task.maxFailures" -> "7",
    "spark.hadoop.fs.s3a.retry.limit" -> "7",
    "spark.hadoop.fs.s3a.retry.interval" -> "1s",
    "spark.hadoop.fs.s3a.attempts.maximum" -> "7")

  /** CLI-shaped main: runMain graft.HistogramRunner <source> [valueCol]
    * [outDir] [-m linear|log] [-w N] [--min_value X] [--max_value Y]
    * [--minmax_only] — the reference's full flag surface
    * (compute_histogram/main.py:17-41). Writes the reference's CSV
    * format (S5); `--minmax_only` stops after the stats pass and prints
    * `MIN_VALUE=… MAX_VALUE=…` (actually honoring the flag the reference
    * parses but never checks — main.py:29-33 vs :53-57).
    *
    * `<source>` is a Parquet table path, or a `.txt` tile list (S4 —
    * one URI per line, like the reference's bio_*_list.txt), which routes
    * through the DataSource V2 raster scan (S3) for the complete reference
    * program shape: tile list → per-tile scan → 2-pass histogram → CSV.
    */
  def main(args: Array[String]): Unit = {
    val cli = parseArgs(args)
    // getOrCreate: under a test harness an active session is reused (and
    // NOT stopped on exit); standalone, the builder owns its session
    val preExisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = sessionConfigs(cli.workers)
      .foldLeft(SparkSession.builder().master(s"local[${cli.workers}]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    runCli(spark, cli)
    if (preExisting.isEmpty) spark.stop()
  }

  /** The CLI body against a given session (spec-driveable). Returns the
    * written relation (stats row for `--minmax_only`, else the histogram).
    */
  def runCli(spark: SparkSession, cli: CliArgs): DataFrame = {
    // tile lists run the per-tile stats/hist passes INSIDE the scan —
    // bins, not pixels, cross the scan boundary (PERF.md §"Round 3:
    // source-pushed per-tile aggregation": 7.5× cold / 2× warm over the
    // raw pixel scan at 32×2M px; the gap is the pixel volume at real sizes)
    val histo0 =
      if (!cli.source.endsWith(".txt")) run(spark.read.parquet(cli.source), cli.cfg)
      else if (cli.cfg.minmaxOnly)
        tileStats(spark, cli.source, StubPixelsPerTile, cli.cfg.clampToZero)
      else runPushed(spark, cli.source, StubPixelsPerTile, cli.cfg)
    if (cli.cfg.minmaxOnly) {
      val row = histo0.head()
      // the reference's click.echo surface (main.py:51-52)
      println(s"MIN_VALUE=${row.getDouble(0)} MAX_VALUE=${row.getDouble(1)}")
      histo0
    } else {
      // persist: writeCsv and the bin count would otherwise each run the
      // full two-pass pipeline from scratch
      val histo = histo0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      HistogramOps.writeCsv(histo, cli.outDir)
      println(s"HISTOGRAM_BINS=${histo.count()} OUT=${cli.outDir}")
      histo.unpersist()
      histo
    }
  }
}
