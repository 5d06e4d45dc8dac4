package graft.sources.raster

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 raster-tile source — the faithful Spark mapping of the
  * reference's tile scan (S3: `read_source`, reference:
  * compute_histogram/main.py:237-241): each GeoTIFF tile becomes exactly
  * one input partition, band-1 pixels stream out as `value` rows, NaN marks
  * nodata (filtered by F1 downstream, never here — scan semantics match the
  * reference, which reads raw pixels and strips NaN as a separate step).
  *
  * Pixel DECODE (round 8): REAL for every URI the cluster can open —
  * [[GeoTiff.PixelCursor]], a pure-JVM TIFF/BigTIFF band-1 decoder
  * (strips/tiles, LZW/Deflate/PackBits, predictors 1-3, uint/int/float
  * 8-64 bit, GDAL_NODATA→NaN) validated against the JDK ImageIO TIFF
  * encoder in `GeoTiffSpec`. Only offline-unreachable network schemes
  * (the reference's own `s3://gfw-data/...` fixtures) fall back to a
  * deterministic per-tile PRNG stub with every 97th pixel NaN — dispatch
  * is by scheme, never by open-failure ([[RasterDecode]]).
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.raster.RasterSource")
  *     .option("tiles", "s3://b/a.tif,s3://b/b.tif")   // inline list, OR:
  *     .option("tileListPath", "s3://b/tiles.txt")     // one URI per line
  *     .option("pixelsPerTile", "40000")   // stub band size
  *     .option("mode", "values")           // values (default) | stats | hist
  *     .option("overview", "1")            // COG pyramid IFD (default 0 = full)
  *     .load()
  * }}}
  *
  * `mode=stats` and `mode=hist` aggregate per tile INSIDE the reader (the
  * reference's own worker functions as scan modes — see
  * [[RasterAggScans]]); `hist` additionally takes
  * `binLo`/`binHi`/`binMethod`/`binOffset`/`legacyLogOffset100`.
  *
  * `tileListPath` is the scale path for large tile sets (the reference's
  * bio_*_list.txt shape, S4): the list file is read once at PLAN time
  * inside `planInputPartitions` via the Hadoop filesystem — no Spark job,
  * no driver-side collect-and-comma-join, no multi-MB option string.
  *
  * Scale: partition-per-tile is the reference's own parallelism unit
  * (Pool.map over tiles, main.py:93-98); 248 tiles × 40000² px stream
  * through without ever materializing a tile in memory (the reader is an
  * iterator, unlike the reference's full-band `np.ndarray`).
  */
class RasterSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RasterSource.schemaFor(options.getOrDefault("mode", "values"))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RasterTable(
      properties.getOrDefault("tiles", ""),
      properties.getOrDefault("tileListPath", ""),
      properties.getOrDefault("pixelsPerTile", "10000").toLong,
      properties.getOrDefault("mode", "values"),
      properties)
}

object RasterSource {
  val Schema: StructType = StructType(
    Seq(StructField("tile_uri", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false)))

  /** `mode=stats` schema: one aggregated row per tile (pass 1 pushed). */
  val StatsSchema: StructType = StructType(
    Seq(StructField("tile_uri", StringType, nullable = false),
      StructField("min_value", DoubleType, nullable = false),
      StructField("max_value", DoubleType, nullable = false),
      StructField("n_valid", LongType, nullable = false)))

  /** `mode=hist` schema: sparse per-tile bin counts (pass 2 pushed). */
  val HistSchema: StructType = StructType(
    Seq(StructField("tile_uri", StringType, nullable = false),
      StructField("code", IntegerType, nullable = false),
      StructField("cnt", LongType, nullable = false)))

  def schemaFor(mode: String): StructType = mode match {
    case "values" => Schema
    case "stats"  => StatsSchema
    case "hist"   => HistSchema
    case other    => throw new IllegalArgumentException(s"Unknown raster scan mode $other")
  }

  /** Read a one-URI-per-line tile list through the Hadoop filesystem (any
    * scheme the cluster knows: file://, s3a://, hdfs://). Plan-time only.
    */
  def readTileList(path: String): Array[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    val in = p.getFileSystem(conf).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toArray
    finally in.close()
  }
}

final class RasterTable(
    tiles: String,
    tileListPath: String,
    pixelsPerTile: Long,
    mode: String,
    properties: util.Map[String, String])
    extends Table
    with SupportsRead {
  override def name(): String =
    if (tileListPath.nonEmpty) s"raster($tileListPath, $mode)"
    else s"raster(${tiles.split(",").length} tiles, $mode)"
  override def schema(): StructType = RasterSource.schemaFor(mode)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RasterScanBuilder(
      () =>
        if (tileListPath.nonEmpty) RasterSource.readTileList(tileListPath)
        else tiles.split(",").filter(_.nonEmpty),
      pixelsPerTile,
      mode,
      properties)
}

final class RasterScanBuilder(
    tiles: () => Array[String],
    pixelsPerTile: Long,
    mode: String,
    properties: util.Map[String, String])
    extends ScanBuilder
    with SupportsPushDownRequiredColumns {
  private var required: StructType = RasterSource.schemaFor(mode)

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Catalyst hands us the projected schema; empty projection (count(*))
    // keeps zero columns and the reader emits empty rows
    required = requiredSchema

  override def build(): Scan =
    new RasterScan(tiles, pixelsPerTile, required, mode, properties)
}

final class RasterScan(
    tiles: () => Array[String],
    pixelsPerTile: Long,
    required: StructType,
    mode: String,
    properties: util.Map[String, String])
    extends Scan
    with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    // overview n reads the n-th IFD of a cloud-optimized GeoTIFF — the
    // 4^-n-pixel approximate scan path (stub URIs ignore it)
    val overview = Option(properties.get("overview")).map(_.toInt).getOrElse(0)
    tiles().map(t => RasterInputPartition(t, pixelsPerTile, overview): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory = mode match {
    case "values" => new RasterReaderFactory(required)
    case "stats"  => new RasterStatsReaderFactory(required)
    case "hist" =>
      val spec = graft.core.BinSpec(
        lo = properties.get("binLo").toInt,
        hi = properties.get("binHi").toInt,
        offset =
          Option(properties.get("binOffset")).map(_.toDouble).getOrElse(0.0),
        method = graft.core.BinMethod.parse(
          Option(properties.get("binMethod")).getOrElse("linear")))
      new RasterHistReaderFactory(
        required,
        spec,
        Option(properties.get("legacyLogOffset100")).exists(_.toBoolean))
  }
}

final case class RasterInputPartition(tileUri: String, pixels: Long, overview: Int = 0)
    extends InputPartition

final class RasterReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RasterInputPartition]
    new RasterPartitionReader(p.tileUri, p.pixels, required, p.overview)
  }
}

final class RasterPartitionReader(
    tileUri: String,
    pixels: Long,
    required: StructType,
    overview: Int = 0)
    extends PartitionReader[InternalRow] {

  private val uriUtf8 = UTF8String.fromString(tileUri)
  // Row layout follows the pruned `required` schema's field ORDER, not the
  // table schema's — Catalyst preserves table order today, but a reordered
  // pruned schema must not silently misalign rows. One reusable row buffer;
  // field codes precomputed off the hot path.
  private val fieldIsUri: Array[Boolean] = required.fields.map(_.name == "tile_uri")
  private val row =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(fieldIsUri.length)

  // Real TIFF decode for openable URIs, deterministic stub for offline
  // network schemes — see [[RasterDecode]]. Band-1 pixels stream one
  // decompressed block at a time; NaN marks nodata (GDAL_NODATA mapped in
  // the decoder), filtered downstream by F1, never here.
  private val cursor = RasterDecode.open(tileUri, pixels, overview)

  override def next(): Boolean = cursor.next()

  override def get(): InternalRow = {
    val current = cursor.value()
    var j = 0
    while (j < fieldIsUri.length) {
      row.update(j, if (fieldIsUri(j)) uriUtf8 else current)
      j += 1
    }
    row
  }

  override def close(): Unit = cursor.close()
}
