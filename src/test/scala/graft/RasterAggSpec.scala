package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.BinMethod
import graft.operators.HistogramOps

/** The aggregated raster scan modes (`stats` / `hist`) must be
  * bit-identical to the raw-pixel path composed with the engine
  * operators — the pushdown changes WHERE the work runs, never the
  * answer.
  */
class RasterAggSpec extends SparkSpec {

  private val tiles =
    "s3://gfw-data/bio/10N_010E.tif,s3://gfw-data/bio/10N_020E.tif,s3://gfw-data/bio/10N_030E.tif"

  private def load(mode: String, pixels: Int = 5000, extra: Map[String, String] = Map.empty) = {
    val base = spark.read
      .format("graft.sources.raster.RasterSource")
      .option("tiles", tiles)
      .option("pixelsPerTile", pixels.toString)
      .option("mode", mode)
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  test("stats mode == raw scan min/max/count per tile") {
    val pushed = load("stats")
      .select("tile_uri", "min_value", "max_value", "n_valid")
      .collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2), r.getLong(3))))
      .toMap
    val raw = HistogramOps
      .validValues(load("values").withColumnRenamed("value", "v"), "v")
      .select(col("value"))
    // raw mode loses tile_uri in validValues — recompute per tile directly
    val rawPerTile = load("values")
      .filter(!isnan(col("value")))
      .groupBy("tile_uri")
      .agg(min("value"), max("value"), count(lit(1)))
      .collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(pushed == rawPerTile)
    assert(raw.count() == pushed.values.map(_._3).sum)
  }

  /** The same tiles as a one-URI-per-line `.txt` tile list. */
  private def tileList(): String = {
    val list = Files.createTempFile("agg_tiles", ".txt")
    Files.writeString(list, tiles.split(",").mkString("\n"))
    list.toString
  }

  test("pushed two-pass pipeline == raw pipeline, linear and log, bit-exact") {
    val list = tileList()
    for (method <- Seq(BinMethod.Linear, BinMethod.Log)) {
      val cfg = HistogramConfig("value", method)
      val pushed = HistogramRunner
        .runPushed(spark, list, 5000L, cfg)
        .collect()
        .map(r => (r.getDouble(0), r.getLong(1)))
        .toSeq
      val raw = HistogramRunner
        .run(load("values"), cfg)
        .collect()
        .map(r => (r.getDouble(0), r.getLong(1)))
        .toSeq
      assert(pushed == raw, s"method $method")
      assert(pushed.map(_._2).sum > 0)
    }
  }

  test("hist mode ships bins, not pixels, across the scan boundary") {
    // 2M px/tile over ~100k 2-decimal bins: the scan emits ≤ bins rows
    // per tile no matter how many pixels land in them (real tiles are
    // 40000² px → 4 orders of magnitude reduction)
    val pixels = 2000000
    val spec = graft.core.BinSpec.derive(0.0, 1000.0, BinMethod.Linear)
    val binned = load(
      "hist",
      pixels = pixels,
      extra = Map(
        "binLo" -> spec.lo.toString,
        "binHi" -> spec.hi.toString,
        "binMethod" -> "linear"))
    val rows = binned.count()
    // sparse per-tile bins: at most bins × tiles rows regardless of pixels
    assert(rows <= spec.bins.toLong * 3)
    assert(rows < 3L * pixels / 10, "scan output must be bounded by bins, not pixels")
    // counts conserve the valid pixel total
    val totalCnt = binned.agg(sum("cnt")).head().getLong(0)
    val valid = load("values", pixels = pixels).filter(!isnan(col("value"))).count()
    assert(totalCnt == valid)
  }

  test("runCli over a .txt tile list == run over the mode=values scan of the same list") {
    val list = tileList()
    val raw = load("values", pixels = HistogramRunner.StubPixelsPerTile.toInt)
    def cli(cfg: HistogramConfig, out: String = "target/unused") =
      HistogramRunner.CliArgs(list, out, 4, cfg)
    // --minmax_only, with and without the reference's zero-init clamp
    val mins = for (clamp <- Seq(false, true)) yield {
      val cfg = HistogramConfig("value", minmaxOnly = true, clampToZero = clamp)
      val got = HistogramRunner.runCli(spark, cli(cfg)).head()
      val want = HistogramRunner.run(raw, cfg).head()
      assert(
        (got.getDouble(0), got.getDouble(1)) == (want.getDouble(0), want.getDouble(1)),
        s"clampToZero=$clamp")
      got.getDouble(0)
    }
    // stub pixels lie in [0, 1000): only the clamp pulls min to exactly 0
    assert(mins(0) > 0.0 && mins(1) == 0.0)
    // the written histogram.csv, byte for byte
    def csv(dir: String) = Files.readString(Paths.get(dir, "histogram.csv"))
    for (method <- Seq(BinMethod.Linear, BinMethod.Log)) {
      val cfg = HistogramConfig("value", method)
      val out = Files.createTempDirectory("cli_tiles").toString
      HistogramRunner.runCli(spark, cli(cfg, out))
      val expected = Files.createTempDirectory("cli_raw").toString
      HistogramOps.writeCsv(HistogramRunner.run(raw, cfg), expected)
      assert(csv(out) == csv(expected), s"method $method")
      assert(csv(out).linesIterator.exists(!_.endsWith(", 0")), s"method $method: all bins empty")
    }
  }
}
