package graft

import org.apache.spark.sql.functions._

import graft.operators.HistogramOps

class RasterSourceSpec extends SparkSpec {

  private val tiles =
    "s3://gfw-data/bio/10N_010E.tif,s3://gfw-data/bio/10N_020E.tif,s3://gfw-data/bio/10N_030E.tif"

  private def load(pixels: Int = 5000) =
    spark.read
      .format("graft.sources.raster.RasterSource")
      .option("tiles", tiles)
      .option("pixelsPerTile", pixels.toString)
      .load()

  test("one input partition per tile, pixels × tiles rows") {
    val df = load()
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 3L * 5000)
  }

  test("deterministic: two scans produce identical data") {
    val a = load().groupBy("tile_uri").agg(sum(when(isnan(col("value")), 0.0).otherwise(col("value"))).as("s"))
    val b = load().groupBy("tile_uri").agg(sum(when(isnan(col("value")), 0.0).otherwise(col("value"))).as("s"))
    assert(a.collect().toSet == b.collect().toSet)
  }

  test("NaN nodata present and stripped by the F1 filter") {
    val df = load()
    val nan = df.filter(isnan(col("value"))).count()
    assert(nan == 3L * (5000 / 97)) // every 97th pixel
    val valid = HistogramOps.validValues(df, "value")
    assert(valid.count() == df.count() - nan)
  }

  test("tileListPath option: list file streams into partition planning") {
    val list = java.nio.file.Files.createTempFile("tiles", ".txt")
    java.nio.file.Files.writeString(
      list,
      tiles.split(",").mkString("\n") + "\n\n") // trailing blank line dropped
    val df = spark.read
      .format("graft.sources.raster.RasterSource")
      .option("tileListPath", list.toString)
      .option("pixelsPerTile", "5000")
      .load()
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 3L * 5000)
    // identical data to the inline-option form
    assert(
      df.groupBy("tile_uri").count().collect().toSet ==
        load().groupBy("tile_uri").count().collect().toSet)
  }

  test("column pruning reaches the reader (value-only scan)") {
    val df = load().select("value")
    assert(df.schema.fieldNames.toSeq == Seq("value"))
    assert(df.count() == 3L * 5000)
    // full reference pipeline over the DSv2 source
    val histo = HistogramRunner.run(load(), HistogramConfig("value"))
    assert(histo.count() > 0)
    assert(
      histo.agg(sum("cnt")).head().getLong(0) ==
        3L * 5000 - 3L * (5000 / 97))
  }
}
