package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{BinMethod, BinSpec}

/** The histogram operator core, re-expressed as declarative Spark transforms.
  *
  * Every function is a `DataFrame => DataFrame` (or `Column => Column`)
  * building block; Catalyst handles predicate pushdown, column pruning and
  * partial/final aggregation that the reference hand-rolls with
  * `multiprocessing.Pool` + driver-side folds (reference:
  * compute_histogram/main.py:82-149).
  *
  * Scale notes (100 TB): the whole pipeline reduces cardinality *before* any
  * wide operation — raw values are quantized to integer codes, so the only
  * shuffle is a group-by over ≤ `hi − lo` distinct keys after map-side
  * partial aggregation; aggregation state is bounded by the bin count, never
  * by data size. No driver-side data beyond one (min, max) row.
  */
object HistogramOps {

  /** F1 — nodata filter + normalization to a single `value: double` column.
    *
    * The reference strips NaN pixels at scan time
    * (`w[~np.isnan(w)]`, compute_histogram/main.py:241); we additionally
    * treat SQL `null` as nodata. Catalyst pushes both predicates into the
    * Parquet scan.
    */
  def validValues(df: DataFrame, valueCol: String): DataFrame =
    df.select(col(valueCol).cast("double").as("value"))
      .filter(col("value").isNotNull && !isnan(col("value")))

  /** A1/A2 — global min/max as one distributed agg (partial per partition,
    * final combine — what the reference does manually in
    * compute_histogram/main.py:127-149).
    *
    * `clampToZero = true` reproduces the reference's accumulator zero-init
    * bug (min ≤ 0 and max ≥ 0 always; compute_histogram/main.py:131-132);
    * default is the correct semantics.
    */
  def minMax(values: DataFrame, clampToZero: Boolean = false): (Double, Double) = {
    val row = values.agg(min(col("value")), max(col("value"))).head()
    if (row.isNullAt(0)) (0.0, 0.0)
    else {
      val (mn, mx) = (row.getDouble(0), row.getDouble(1))
      if (clampToZero) (math.min(mn, 0.0), math.max(mx, 0.0)) else (mn, mx)
    }
  }

  /** P1/P2 — quantize a value column to an integer bin code.
    *
    * Linear: `trunc(v · 100)` (reference: compute_histogram/main.py:194-195).
    * Log: `trunc(ln(v + offset) · 1000)` (compute_histogram/main.py:196-197).
    *
    * We quantize in `IntegerType`, not the reference's `int16`, and rely on
    * the explicit `[lo, hi]` range filter in [[binCounts]] instead of
    * wraparound (SURVEY §7.4.4). `cast("int")` truncates toward zero like
    * numpy `astype` for in-range values.
    *
    * `legacyLogOffset100 = true` reproduces the reference bug where
    * quantization hard-codes `+ 100` regardless of the derived offset
    * (compute_histogram/main.py:197 vs :166-172).
    */
  def quantize(
      value: Column,
      spec: BinSpec,
      legacyLogOffset100: Boolean = false): Column = spec.method match {
    case BinMethod.Linear => (value * lit(100)).cast("int")
    case BinMethod.Log =>
      val off = if (legacyLogOffset100) 100.0 else spec.offset
      (log(value + lit(off)) * lit(1000)).cast("int")
  }

  /** P3/P4 — reconstruct the bin's representative value from its code.
    *
    * Linear: `code / 100` (compute_histogram/main.py:110-111);
    * log: `exp(code / 1000) − offset` (compute_histogram/main.py:112-115).
    */
  def binEdge(bin: Column, spec: BinSpec): Column = spec.method match {
    case BinMethod.Linear => bin.cast("double") / lit(100.0)
    case BinMethod.Log    => exp(bin.cast("double") / lit(1000.0)) - lit(spec.offset)
  }

  /** F3 — numpy range semantics, shared by the batch and streaming paths:
    * codes outside `[lo, hi]` drop; code `hi` merges into the closed last
    * bin `hi − 1`.
    */
  def inRange(code: Column, lo: Int, hi: Int): Column =
    code >= lit(lo) && code <= lit(hi)

  def clampToLastBin(code: Column, hi: Int): Column =
    when(code === lit(hi), lit(hi - 1)).otherwise(code)

  /** A3 + A4 + F3 — dense fixed-bin histogram over integer codes.
    *
    * Semantics of `np.histogram(w, bins = hi−lo, range = (lo, hi))`
    * (compute_histogram/main.py:248-249): codes outside `[lo, hi]` are
    * silently dropped; every bin is `[b, b+1)` except the last, which is
    * closed `[hi−1, hi]` — so code `hi` merges into bin `hi−1`.
    *
    * The distributed combine (reference `_add_histogram` fold,
    * compute_histogram/main.py:100-108, 244-245) is subsumed by the
    * group-by's partial/final hash aggregation. The result is densified —
    * zero-count bins present — by a left join against `spark.range(lo, hi)`
    * (AQE broadcasts the ≤ `hi−lo`-row side at runtime).
    *
    * Input: single `code: int` column. Output: `(bin: int, count: long)`.
    */
  def binCounts(codes: DataFrame, lo: Int, hi: Int): DataFrame = {
    val spark = codes.sparkSession
    if (hi == lo) {
      // degenerate range (e.g. min == max under log binning): zero bins
      import spark.implicits._
      return Seq.empty[(Int, Long)].toDF("bin", "count")
    }
    val counted = codes
      .filter(inRange(col("code"), lo, hi))
      .select(clampToLastBin(col("code"), hi).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("count"))
    val bins = spark.range(lo.toLong, hi.toLong).select(col("id").cast("int").as("bin"))
    bins
      .join(counted, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("count"), lit(0L)).as("count"))
  }

  /** A4 — element-wise merge of two dense histograms
    * (reference `_add_histogram`, compute_histogram/main.py:244-245).
    * Associative/commutative — exactly the property that makes the histogram
    * distributable and streamable.
    */
  def merge(h1: DataFrame, h2: DataFrame): DataFrame =
    h1.union(h2).groupBy(col("bin")).agg(sum(col("count")).as("count"))

  /** Dense-vector histogram (SURVEY §7.3/§7.5 single-shuffle alternative):
    * one `Array[Long]` buffer per partition crosses the exchange instead of
    * ≤ `bins` key rows — see [[graft.functions.DenseHistogram]]. Identical
    * output to [[histogram]].
    */
  def histogramDense(
      values: DataFrame,
      spec: BinSpec,
      legacyLogOffset100: Boolean = false): DataFrame = {
    if (spec.bins == 0) {
      // degenerate range — same empty result as the group-by path
      import values.sparkSession.implicits._
      return Seq.empty[(Double, Long)].toDF("value", "cnt")
    }
    val agg = udaf(
      new graft.functions.DenseHistogram(spec.lo, spec.hi),
      org.apache.spark.sql.Encoders.scalaInt)
    values
      .select(quantize(col("value"), spec, legacyLogOffset100).as("code"))
      .agg(agg(col("code")).as("counts"))
      .select(posexplode(col("counts")).as(Seq("bin0", "count")))
      .select(binEdge(col("bin0") + lit(spec.lo), spec).as("value"), col("count").as("cnt"))
      .orderBy(col("value"))
  }

  /** The full single-method histogram: quantize → range filter → dense bin
    * counts → bin-edge reconstruction. Output `(value: double, cnt: long)`
    * ordered by value — the reference's `histogram.csv` relation
    * (compute_histogram/main.py:110-124).
    */
  def histogram(
      values: DataFrame,
      spec: BinSpec,
      legacyLogOffset100: Boolean = false): DataFrame = {
    val codes = values.select(quantize(col("value"), spec, legacyLogOffset100).as("code"))
    binCounts(codes, spec.lo, spec.hi)
      .select(binEdge(col("bin"), spec).as("value"), col("count").as("cnt"))
      .orderBy(col("value"))
  }

  /** Histogram from an ALREADY-BINNED relation `(code: int, cnt: long)` —
    * the merge suffix for sources that aggregate per partition themselves
    * (the DSv2 raster `mode=hist` scan, mirroring the reference's
    * per-worker `np.histogram`, compute_histogram/main.py:182-201 + the
    * `_add_histogram` fold at :100-108). Input codes must already respect
    * the range/last-bin semantics; this stage only merges (Σ per code) and
    * densifies — identical output to [[histogram]] over the raw values.
    */
  def histogramFromBinned(binned: DataFrame, spec: BinSpec): DataFrame = {
    val spark = binned.sparkSession
    if (spec.bins == 0) {
      import spark.implicits._
      return Seq.empty[(Double, Long)].toDF("value", "cnt")
    }
    val merged = binned
      .groupBy(col("code").as("bin"))
      .agg(sum(col("cnt")).as("count"))
    val bins = spark.range(spec.lo.toLong, spec.hi.toLong).select(col("id").cast("int").as("bin"))
    bins
      .join(merged, Seq("bin"), "left")
      .select(binEdge(col("bin"), spec).as("value"), coalesce(col("count"), lit(0L)).as("cnt"))
      .orderBy(col("value"))
  }

  /** S5 — CSV sink with the reference's `"%1.2f, %d"` row format, written as
    * exactly ONE file named `histogram.csv` under `path`, matching the
    * reference's `np.savetxt("histogram.csv", ...)` single-file output
    * (compute_histogram/main.py:119-124, README.md:5).
    *
    * `coalesce(1)` is safe here — and only here — because the relation is
    * the binned histogram (≤ `hi − lo` rows), never raw values.
    */
  def writeCsv(histo: DataFrame, path: String): Unit = {
    histo
      .coalesce(1)
      // one pre-formatted text column: np.savetxt(fmt="%1.2f, %d") puts a
      // comma AND a space between the fields (main.py:124) — the CSV
      // writer's single-char separator can't, so the row is rendered in
      // the plan and written as raw text for byte-identical output
      .select(format_string("%.2f, %d", col("value"), col("cnt")).as("line"))
      .write
      .mode("overwrite")
      .text(path)
    // rename the single part file to the reference's fixed name
    val conf = histo.sparkSession.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    fs.listStatus(dir)
      .map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".txt"))
      .foreach(p => fs.rename(p, new org.apache.hadoop.fs.Path(dir, "histogram.csv")))
  }
}
