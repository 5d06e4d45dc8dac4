package graftbench

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

/** Seeded GeoTIFF tile sets for the tile workload, plus the histogram the
  * benchmark expects for them.
  *
  * The expected histogram is computed here, from the synthesized pixels,
  * with the paper's linear binning formulas written out again
  * (`trunc(v·100)` with ±10 padding; numpy's closed last bin). It shares
  * no code with the engine, so `histogram.csv` is checked byte for byte
  * against an independent answer.
  */
object Tiles {

  /** One tile encoding of the ref248 mix. */
  sealed trait Kind
  case object Uint8LzwTiled extends Kind
  case object Uint8DeflateStrips extends Kind
  case object Float32DeflatePred3 extends Kind

  /** A distinct synthesized tile: its valid pixel values (nodata and NaN
    * already removed) and its encoded bytes. */
  final case class Base(valid: Array[Double], bytes: Array[Byte], pixels: Long)

  /** A written tile list: `listFile` names one tile file per entry of
    * `order`, tile `i` holding the bytes of `bases(order(i))`. */
  final case class TileSet(listFile: Path, bases: IndexedSeq[Base], order: IndexedSeq[Int]) {
    def n: Int = order.size
    def pixels: Long = order.map(bases(_).pixels).sum
    def multiplicity(b: Int): Long = order.count(_ == b).toLong

    /** The expected `histogram.csv`, from the synthesized pixels, rendered
      * as the reference's `np.savetxt(fmt="%1.2f, %d")` lines. */
    def expectedCsv: Array[Byte] = {
      val all = bases.indices.filter(multiplicity(_) > 0)
      val mn = all.map(b => bases(b).valid.min).min
      val mx = all.map(b => bases(b).valid.max).max
      def code(v: Double): Int = (v * 100).toInt
      val (lo, hi) = (code(mn) - 10, code(mx) + 10)
      val counts = new Array[Long](hi - lo)
      all.foreach { b =>
        val m = multiplicity(b)
        bases(b).valid.foreach { v =>
          val c = code(v)
          if (c >= lo && c <= hi) counts(math.min(c, hi - 1) - lo) += m
        }
      }
      val sb = new java.lang.StringBuilder(counts.length * 16)
      var i = 0
      while (i < counts.length) {
        val edge = (lo + i) / 100.0
        sb.append(String.format(java.util.Locale.ROOT, "%.2f, %d", Double.box(edge), Long.box(counts(i))))
        sb.append('\n')
        i += 1
      }
      sb.toString.getBytes("UTF-8")
    }

    /** A list of every other tile of this written set, all encodings kept. */
    def everyOther(list: Path): TileSet = {
      val uris = new String(Files.readAllBytes(listFile), "UTF-8").split("\n").toSeq
      Files.write(list, uris.indices.filter(_ % 2 == 0).map(uris).mkString("", "\n", "\n").getBytes("UTF-8"))
      copy(listFile = list, order = order.indices.filter(_ % 2 == 0).map(order))
    }
  }

  /** The paper's workload: the reference's 248-tile list length in the
    * ref248 format mix — half uint8 LZW tiled, a quarter uint8 Deflate
    * strips, a quarter float32 Deflate predictor-3 with GDAL_NODATA and
    * NaN pixels. The float tiles span [0, 1000), so the linear method
    * yields ~10⁵ bins. */
  def linearSet(dir: Path, seed: Long, n: Int, side: Int, distinctPerKind: Int): TileSet = {
    val rnd = new java.util.Random(seed)
    val kinds = IndexedSeq.fill(distinctPerKind)(Seq(Uint8LzwTiled, Uint8DeflateStrips, Float32DeflatePred3)).flatten
    val bases = kinds.map(k => synth(k, side, side, rnd.nextLong(), floatLo = 0.0, floatHi = 1000.0))
    // the mix is by position in the list: 1/2 LZW, 1/4 strips, 1/4 float
    val order = (0 until n).map { i =>
      val kindIx = if (i < n / 2) 0 else if (i < 3 * n / 4) 1 else 2
      kindIx + 3 * (i % distinctPerKind)
    }
    write(TileSet(dir.resolve("tiles.txt"), bases, order))
  }

  private def write(ts: TileSet): TileSet = {
    val dir = ts.listFile.getParent
    Files.createDirectories(dir)
    val uris = ts.order.zipWithIndex.map { case (b, i) =>
      val f = dir.resolve(f"tile_$i%05d.tif")
      Files.write(f, ts.bases(b).bytes)
      f.toUri.toString
    }
    Files.write(ts.listFile, uris.mkString("", "\n", "\n").getBytes("UTF-8"))
    ts
  }

  private def synth(kind: Kind, w: Int, h: Int, seed: Long, floatLo: Double, floatHi: Double): Base = {
    val r = new java.util.Random(seed)
    kind match {
      case Uint8LzwTiled | Uint8DeflateStrips =>
        val phase = r.nextInt(256)
        val pix = Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          ((x + y) / 8 + phase + r.nextInt(16)) & 0xff
        }
        val bytes =
          if (kind == Uint8LzwTiled) imageIo(pix, w, h, "LZW", tiled = true)
          else imageIo(pix, w, h, "ZLib", tiled = false)
        Base(pix.map(_.toDouble), bytes, w.toLong * h)
      case Float32DeflatePred3 =>
        val span = floatHi - floatLo
        val pix = Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          r.nextInt(20) match {
            case 0 => Nodata
            case 1 => Float.NaN
            case _ =>
              val v = floatLo + ((x * 0.37 + y * 0.11) * span / 512 + r.nextDouble() * span / 8) % span
              v.toFloat
          }
        }
        // the extremes pin the global range of every seed
        pix(0) = floatLo.toFloat
        pix(pix.length - 1) = floatHi.toFloat
        val valid = pix.filter(v => !v.isNaN && v != Nodata).map(_.toDouble)
        Base(valid, float32Tiff(pix, w, h, tile = math.min(256, w)), w.toLong * h)
    }
  }

  private val Nodata = -9999f

  private def imageIo(pix: Array[Int], w: Int, h: Int, compression: String, tiled: Boolean): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setPixels(0, 0, w, h, pix)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType(compression)
    if (tiled) {
      param.setTilingMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setTiling(math.min(256, w), math.min(256, h), 0, 0)
    }
    val bos = new ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.flush(); writer.dispose()
    bos.toByteArray
  }

  /** Little-endian classic TIFF: single-band float32, square tiles,
    * Deflate, floating-point predictor (TIFF Technical Note 3: byte planes
    * of each big-endian row, then byte differencing), GDAL_NODATA=-9999. */
  private def float32Tiff(pix: Array[Float], w: Int, h: Int, tile: Int): Array[Byte] = {
    val across = (w + tile - 1) / tile
    val down = (h + tile - 1) / tile
    val blocks = for { ty <- 0 until down; tx <- 0 until across } yield {
      val raw = new Array[Byte](tile * tile * 4)
      val row = ByteBuffer.allocate(tile * 4).order(ByteOrder.BIG_ENDIAN)
      val planes = new Array[Byte](tile * 4)
      for (ry <- 0 until tile) {
        row.clear()
        for (rx <- 0 until tile) {
          val y = ty * tile + ry; val x = tx * tile + rx
          row.putFloat(if (y < h && x < w) pix(y * w + x) else 0f)
        }
        val rb = row.array()
        var i = 0
        while (i < rb.length) { planes((i % 4) * tile + i / 4) = rb(i); i += 1 }
        i = planes.length - 1
        while (i > 0) { planes(i) = (planes(i) - planes(i - 1)).toByte; i -= 1 }
        System.arraycopy(planes, 0, raw, ry * tile * 4, planes.length)
      }
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    }
    val nodata = "-9999".getBytes("US-ASCII") :+ 0.toByte
    val n = blocks.size
    val entries = 13
    val offsets = blocks.scanLeft(8L)(_ + _.length)
    val ifd = offsets.last
    val arrays = ifd + 2 + entries * 12 + 4
    val out = ByteBuffer.allocate((arrays + 8L * n + nodata.length).toInt).order(ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(42.toShort).putInt(ifd.toInt)
    blocks.foreach(b => out.put(b))
    out.putShort(entries.toShort)
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit =
      out.putShort(tag.toShort).putShort(typ.toShort).putInt(count.toInt).putInt(value.toInt)
    entry(256, 4, 1, w)
    entry(257, 4, 1, h)
    entry(258, 3, 1, 32)
    entry(259, 3, 1, 8) // Deflate
    entry(262, 3, 1, 1)
    entry(277, 3, 1, 1)
    entry(317, 3, 1, 3) // floating-point predictor
    entry(322, 4, 1, tile)
    entry(323, 4, 1, tile)
    entry(324, 4, n, if (n == 1) offsets.head else arrays)
    entry(325, 4, n, if (n == 1) blocks.head.length else arrays + 4L * n)
    entry(339, 3, 1, 3) // SampleFormat = IEEE float
    entry(42113, 2, nodata.length, arrays + (if (n == 1) 0 else 8L * n))
    out.putInt(0)
    if (n > 1) { offsets.init.foreach(o => out.putInt(o.toInt)); blocks.foreach(b => out.putInt(b.length)) }
    out.put(nodata)
    java.util.Arrays.copyOf(out.array(), out.position())
  }
}
