package graft.media

import java.io.ByteArrayOutputStream
import java.util.zip.{Deflater, Inflater}

/**
 * Minimal REAL tiled-GeoTIFF (COG) codec — S6/S8/S9's pixel format, pure
 * JVM. Implements the reference's recommended COG profile
 * (`utils/prep_utils.py:42-52`): tiled 512×512, DEFLATE (zlib) with
 * horizontal-differencing predictor 2 at zlevel 9, plus internal overview
 * levels 2¹..2⁵ with average resampling (`:57-59`, `cog_translate`
 * `:413-491`) and the GDAL_NODATA tag. File organization follows the
 * cloud-optimized layout the reference's validator enforces
 * (`utils/prep_utils.py:494-655` `cog_validate`): classic little-endian
 * TIFF with the main IFD at byte 8, overview IFDs chained at ascending
 * offsets directly after it, and tile data ordered smallest-overview-first
 * with the main-resolution tiles last — so a ranged read of the header
 * prefix yields every IFD, and each zoom level's data is contiguous.
 *
 * Samples are unsigned 16-bit; 1..N bands. The COG pipeline emits one COG
 * per band (`utils/prep_utils.py:413-491`), while the export path writes
 * all data_vars as bands of ONE file (`utils/dc_import_export.py:90-139`,
 * count = len(bands)) — [[encodeBands]] is that shape: SamplesPerPixel = N,
 * PlanarConfiguration = 1 (chunky pixel interleave, GDAL's default), with
 * the horizontal predictor differencing per sample component as TIFF 6.0
 * specifies. Single-band output is byte-identical to the pre-multi-band
 * encoder. The decoder handles exactly what the encoder emits and fails
 * loudly on truncation/corruption; [[validate]] reimplements the reference
 * validator's structural checks. Standard TIFF tags only, so external
 * tooling reads these files.
 */
object GeoTiff {

  val DefaultTileSize = 512
  val DefaultOverviewLevels = 5

  // TIFF tag ids (TIFF 6.0 spec; 42113 = GDAL_NODATA, GDAL's published tag)
  private val TNewSubfileType = 254
  private val TImageWidth = 256
  private val TImageLength = 257
  private val TBitsPerSample = 258
  private val TCompression = 259
  private val TPhotometric = 262
  private val TSamplesPerPixel = 277
  private val TPlanarConfig = 284
  private val TPredictor = 317
  private val TTileWidth = 322
  private val TTileLength = 323
  private val TTileOffsets = 324
  private val TTileByteCounts = 325
  private val TSampleFormat = 339
  private val TGdalNodata = 42113

  private val TypeShort = 3
  private val TypeLong = 4
  private val TypeAscii = 2

  final case class Image(width: Int, height: Int, pixels: Array[Int])

  // zlib codecs are NATIVE objects whose construction (256 KB internal
  // window allocation via JNI) costs more than compressing a small tile —
  // a 5000-doc multi-band query makes ~30k of each. Pool per thread and
  // reset() between uses; executor threads are long-lived, so the native
  // footprint is bounded by thread count, never by tile count.
  private val deflaterPool = new ThreadLocal[Deflater] {
    override def initialValue(): Deflater = new Deflater()
  }
  private val inflaterPool = new ThreadLocal[Inflater] {
    override def initialValue(): Inflater = new Inflater()
  }

  /** Average-resampled decimation of the FULL-RES image by `f` (GDAL
    * `Resampling.average`): each output pixel is the rounded mean of its
    * f×f source block (edge blocks partial). */
  def decimateAverage(img: Image, f: Int): Image = {
    val w2 = math.max(1, (img.width + f - 1) / f)
    val h2 = math.max(1, (img.height + f - 1) / f)
    val out = new Array[Int](w2 * h2)
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        var sum = 0L
        var n = 0
        var sy = y * f
        val syEnd = math.min((y + 1) * f, img.height)
        while (sy < syEnd) {
          var sx = x * f
          val sxEnd = math.min((x + 1) * f, img.width)
          while (sx < sxEnd) { sum += img.pixels(sy * img.width + sx); n += 1; sx += 1 }
          sy += 1
        }
        out(y * w2 + x) = ((sum + n / 2) / n).toInt
        x += 1
      }
      y += 1
    }
    Image(w2, h2, out)
  }

  /** Compress one tile: extract (nodata-padded) tw×th block of ALL bands
    * pixel-interleaved (chunky/PlanarConfiguration 1), horizontal predictor
    * applied PER SAMPLE COMPONENT (TIFF 6.0 §14: each component differences
    * against the same component of the previous pixel), little-endian
    * 16-bit, zlib at `zlevel`. */
  private def compressTile(bands: Seq[Image], tx: Int, ty: Int, tw: Int, th: Int,
                           nodata: Int, zlevel: Int): Array[Byte] = {
    val bandArr = bands.toArray // O(1) per-sample indexing whatever Seq arrives
    val nb = bandArr.length
    val width = bandArr(0).width
    val height = bandArr(0).height
    val raw = new Array[Byte](tw * th * nb * 2)
    val prev = new Array[Int](nb)
    var r = 0
    while (r < th) {
      val sy = ty * th + r
      java.util.Arrays.fill(prev, 0)
      var c = 0
      while (c < tw) {
        val sx = tx * tw + c
        var b = 0
        while (b < nb) {
          val v = if (sy < height && sx < width) bandArr(b).pixels(sy * width + sx)
                  else nodata
          val d = if (c == 0) v else (v - prev(b)) & 0xFFFF // predictor 2
          prev(b) = v
          val o = ((r * tw + c) * nb + b) * 2
          raw(o) = d.toByte
          raw(o + 1) = (d >>> 8).toByte
          b += 1
        }
        c += 1
      }
      r += 1
    }
    val defl = deflaterPool.get()
    defl.setLevel(zlevel) // applied by the reset() below (zlib contract)
    defl.reset()
    defl.setInput(raw); defl.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
    out.toByteArray
  }

  private def tilesAcross(n: Int, t: Int) = (n + t - 1) / t
  private def pad4(n: Int): Int = (n + 3) & ~3

  private final case class Level(bands: Seq[Image], tiles: Array[Array[Byte]],
                                 cols: Int, rows: Int) {
    def width: Int = bands.head.width
    def height: Int = bands.head.height
  }

  private final class LEWriter(val out: ByteArrayOutputStream = new ByteArrayOutputStream()) {
    def u16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >>> 8) & 0xFF) }
    def u32(v: Long): Unit = { var i = 0; while (i < 4) { out.write(((v >>> (8 * i)) & 0xFF).toInt); i += 1 } }
    def bytes(b: Array[Byte]): Unit = out.write(b, 0, b.length)
    def size: Int = out.size()
  }

  /** Encode a single-band uint16 image as a cloud-optimized tiled TIFF.
    * `pixels` row-major, values 0..65535. Byte-identical to the original
    * single-band encoder (the N=1 case of [[encodeBands]]). */
  def encode(width: Int, height: Int, pixels: Array[Int],
             nodata: Int = 0, tileSize: Int = DefaultTileSize,
             overviewLevels: Int = DefaultOverviewLevels,
             zlevel: Int = 9): Array[Byte] =
    encodeBands(width, height, Seq(pixels), nodata, tileSize, overviewLevels, zlevel)

  /** Encode N uint16 band planes as ONE multi-band cloud-optimized tiled
    * TIFF (the reference export shape, `dc_import_export.py:90-139`,
    * count = len(bands)): SamplesPerPixel = N, chunky pixel interleave
    * (PlanarConfiguration 1), shared tile grid, every overview decimating
    * all bands. Band order is preserved. */
  def encodeBands(width: Int, height: Int, bandPlanes: Seq[Array[Int]],
                  nodata: Int = 0, tileSize: Int = DefaultTileSize,
                  overviewLevels: Int = DefaultOverviewLevels,
                  zlevel: Int = 9): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val nb = bandPlanes.length
    require(nb >= 1 && nb <= 0xFFFF, s"bad band count $nb")
    bandPlanes.foreach { pixels =>
      require(pixels.length == width * height,
        s"pixel buffer ${pixels.length} != $width*$height")
      require(pixels.forall(p => p >= 0 && p <= 0xFFFF), "samples must be uint16")
    }
    require(nodata >= 0 && nodata <= 0xFFFF, s"nodata $nodata not uint16")
    val main = bandPlanes.map(Image(width, height, _)).toSeq
    // overview level k decimates the ORIGINAL by 2^k (cog_translate builds
    // overviews = [2**j for j in 1..overview_level], average resampling)
    val ovrs = (1 to overviewLevels).map(k => main.map(decimateAverage(_, 1 << k)))
    val levels = (main +: ovrs).map { bands =>
      val cols = tilesAcross(bands.head.width, tileSize)
      val rows = tilesAcross(bands.head.height, tileSize)
      val tiles = for (ty <- 0 until rows; tx <- 0 until cols)
        yield compressTile(bands, tx, ty, tileSize, tileSize, nodata, zlevel)
      Level(bands, tiles.toArray, cols, rows)
    }

    // --- sizing pass: IFD byte layout is fully determined by tag counts ---
    val nodataAscii = (nodata.toString + "\u0000").getBytes("US-ASCII")
    // ASCII values over 4 bytes go to the external value area (TIFF rule):
    // nodata 0..999 packs inline, larger uint16 nodata stores externally
    val nodataExt = if (nodataAscii.length > 4) pad4(nodataAscii.length) else 0
    // BitsPerSample/SampleFormat carry count = SamplesPerPixel; N <= 2 SHORT
    // values pack inline (4-byte field), N > 2 go to the external area
    val shortArrExt = if (nb > 2) pad4(2 * nb) else 0
    def nTags(isOvr: Boolean) =
      (if (isOvr) 1 else 0) + 12 + (if (nb > 1) 1 else 0) + (if (isOvr) 0 else 1)
    def ifdSize(isOvr: Boolean) = 2 + 12 * nTags(isOvr) + 4
    def extSize(l: Level, isOvr: Boolean) =
      (if (l.tiles.length > 1) 8 * l.tiles.length else 0) + 2 * shortArrExt +
        (if (isOvr) 0 else nodataExt)

    // header, then per level: IFD immediately followed by its external
    // tile-offset/bytecount arrays, then (N > 2) the BitsPerSample and
    // SampleFormat arrays, then the main IFD's external nodata ASCII when
    // it exceeds the inline field — ascending IFD offsets, per validator
    val ifdOffsets = new Array[Long](levels.length)
    var pos = 8L
    levels.zipWithIndex.foreach { case (l, i) =>
      ifdOffsets(i) = pos
      pos += ifdSize(i > 0) + extSize(l, i > 0)
    }
    // tile data: smallest overview first, main resolution LAST (COG order)
    val dataStart = pos
    val tileOffsets = new Array[Array[Long]](levels.length)
    var dpos = dataStart
    for (i <- levels.indices.reverse) {
      val l = levels(i)
      tileOffsets(i) = new Array[Long](l.tiles.length)
      var t = 0
      while (t < l.tiles.length) {
        tileOffsets(i)(t) = dpos
        dpos += l.tiles(t).length
        t += 1
      }
    }
    // ClassicTIFF offsets are 32-bit; fail with a clear message instead of
    // emitting an unrepresentable file (BigTIFF is the format for beyond)
    require(dpos <= 0xFFFFFFFFL, s"image exceeds ClassicTIFF 4 GiB limit ($dpos bytes)")

    // inline packing for SHORT arrays: count 1 -> left-justified single,
    // count 2 -> two LE shorts in the 4-byte value field
    def shortInline(v: Int): Long =
      if (nb == 1) v.toLong else (v.toLong | (v.toLong << 16))

    // --- emit ---
    val w = new LEWriter()
    w.u16(0x4949) // "II" little-endian
    w.u16(42)
    w.u32(8)      // main IFD offset (ClassicTIFF: validator requires 8)
    levels.zipWithIndex.foreach { case (l, i) =>
      val isOvr = i > 0
      val extBase = ifdOffsets(i) + ifdSize(isOvr)
      val tileArr = if (l.tiles.length > 1) 8L * l.tiles.length else 0L
      val bpsOff = extBase + tileArr            // BitsPerSample array (N > 2)
      val sfOff = bpsOff + shortArrExt          // SampleFormat array (N > 2)
      var entries = Vector.empty[(Int, Int, Long, Long)] // tag, type, count, valueOrOffset
      if (isOvr) entries :+= ((TNewSubfileType, TypeLong, 1L, 1L))
      entries ++= Vector(
        (TImageWidth, TypeLong, 1L, l.width.toLong),
        (TImageLength, TypeLong, 1L, l.height.toLong),
        (TBitsPerSample, TypeShort, nb.toLong,
          if (nb > 2) bpsOff else shortInline(16)),
        (TCompression, TypeShort, 1L, 8L),    // DEFLATE (zlib)
        (TPhotometric, TypeShort, 1L, 1L),    // BlackIsZero
        (TSamplesPerPixel, TypeShort, 1L, nb.toLong))
      if (nb > 1) entries :+= ((TPlanarConfig, TypeShort, 1L, 1L)) // chunky
      entries ++= Vector(
        (TPredictor, TypeShort, 1L, 2L),      // horizontal differencing
        (TTileWidth, TypeShort, 1L, tileSize.toLong),
        (TTileLength, TypeShort, 1L, tileSize.toLong),
        (TTileOffsets, TypeLong, l.tiles.length.toLong,
          if (l.tiles.length > 1) extBase else tileOffsets(i)(0)),
        (TTileByteCounts, TypeLong, l.tiles.length.toLong,
          if (l.tiles.length > 1) extBase + 4L * l.tiles.length
          else l.tiles(0).length.toLong),
        (TSampleFormat, TypeShort, nb.toLong,
          if (nb > 2) sfOff else shortInline(1))) // unsigned integer
      if (!isOvr) {
        // GDAL_NODATA is ASCII; <=4 bytes packs inline (left-justified),
        // longer values point into the external area after the arrays
        val v = if (nodataExt == 0) {
          var inline = 0L
          for (j <- nodataAscii.indices) inline |= (nodataAscii(j) & 0xFFL) << (8 * j)
          inline
        } else sfOff + shortArrExt
        entries :+= ((TGdalNodata, TypeAscii, nodataAscii.length.toLong, v))
      }
      w.u16(entries.length)
      entries.foreach { case (tag, tp, cnt, v) =>
        w.u16(tag); w.u16(tp); w.u32(cnt)
        // SHORT single values are left-justified in the 4-byte field (LE);
        // SHORT pairs arrive pre-packed into the u32
        if (tp == TypeShort && cnt == 1) { w.u16(v.toInt); w.u16(0) } else w.u32(v)
      }
      w.u32(if (i + 1 < levels.length) ifdOffsets(i + 1) else 0L) // next IFD
      if (l.tiles.length > 1) {
        tileOffsets(i).foreach(w.u32)
        l.tiles.foreach(t => w.u32(t.length.toLong))
      }
      if (nb > 2) {
        Seq(16, 1).foreach { v => // BitsPerSample then SampleFormat
          (0 until nb).foreach(_ => w.u16(v))
          var p = 2 * nb
          while (p < shortArrExt) { w.out.write(0); p += 1 }
        }
      }
      if (!isOvr && nodataExt > 0) {
        w.bytes(nodataAscii)
        var p = nodataAscii.length
        while (p < nodataExt) { w.out.write(0); p += 1 }
      }
    }
    for (i <- levels.indices.reverse) levels(i).tiles.foreach(w.bytes)
    require(w.size.toLong == dpos, s"layout mismatch: ${w.size} != $dpos")
    w.out.toByteArray
  }

  // --- decode ------------------------------------------------------------

  private final class LEReader(val b: Array[Byte]) {
    def u16(off: Long): Int = {
      require(off >= 0 && off + 2 <= b.length, s"read past EOF at $off")
      (b(off.toInt) & 0xFF) | ((b(off.toInt + 1) & 0xFF) << 8)
    }
    def u32(off: Long): Long = {
      require(off >= 0 && off + 4 <= b.length, s"read past EOF at $off")
      var v = 0L
      var i = 0
      while (i < 4) { v |= (b(off.toInt + i) & 0xFFL) << (8 * i); i += 1 }
      v
    }
  }

  private final case class Ifd(offset: Long, tags: Map[Int, (Int, Long, Long)],
                               next: Long) {
    def long(tag: Int): Option[Long] = tags.get(tag).map(_._3)
    def longs(r: LEReader, tag: Int): Seq[Long] = tags.get(tag) match {
      case None => Nil
      case Some((tp, cnt, v)) =>
        if (cnt == 1) Seq(v)
        // values totalling ≤4 bytes live INLINE in the value field (TIFF
        // rule): a SHORT pair is packed as two LE u16s, not an offset
        else if (tp == TypeShort && cnt == 2) Seq(v & 0xFFFFL, (v >>> 16) & 0xFFFFL)
        else (0L until cnt).map { i =>
          if (tp == TypeShort) r.u16(v + 2 * i).toLong else r.u32(v + 4 * i)
        }
    }
  }

  private def readIfd(r: LEReader, off: Long): Ifd = {
    val n = r.u16(off)
    val tags = (0 until n).map { i =>
      val e = off + 2 + 12 * i
      val tag = r.u16(e)
      val tp = r.u16(e + 2)
      val cnt = r.u32(e + 4)
      val v = if (tp == TypeShort && cnt == 1) r.u16(e + 8).toLong else r.u32(e + 8)
      tag -> (tp, cnt, v)
    }.toMap
    Ifd(off, tags, r.u32(off + 2 + 12 * n))
  }

  private def readHeaderAndIfds(bytes: Array[Byte]): (LEReader, Seq[Ifd]) = {
    require(bytes.length >= 8, "truncated TIFF header")
    val r = new LEReader(bytes)
    require(r.u16(0) == 0x4949, "not little-endian TIFF")
    require(r.u16(2) == 42, "bad TIFF magic")
    var off = r.u32(4)
    var ifds = Vector.empty[Ifd]
    while (off != 0) {
      require(ifds.size < 64, "IFD chain too long / cyclic")
      val ifd = readIfd(r, off)
      ifds :+= ifd
      off = ifd.next
    }
    (r, ifds)
  }

  /** Decode one IFD into its band planes (chunky interleave only —
    * PlanarConfiguration 1, what the encoder emits and GDAL defaults to). */
  private def decodeIfd(r: LEReader, ifd: Ifd): Seq[Image] = {
    val w = ifd.long(TImageWidth).get.toInt
    val h = ifd.long(TImageLength).get.toInt
    require(ifd.long(TCompression).contains(8L), "unsupported compression")
    val nb = ifd.long(TSamplesPerPixel).getOrElse(1L).toInt
    // upper bound mirrors the encoder's SHORT-typed tag; without it a corrupt
    // header multiplies every pre-validation allocation below by nb
    require(nb >= 1 && nb <= 0xFFFF, s"bad SamplesPerPixel $nb")
    // allocation sanity BEFORE Array.fill: all plane/tile buffers must fit an
    // Int, and no DEFLATE input can legitimately expand past ~1032x — a
    // header demanding more decoded bytes than the whole file could supply
    // is corrupt, not large
    require(w > 0 && h > 0 && nb.toLong * w * h <= Int.MaxValue,
      s"implausible dimensions ${w}x${h}x$nb for ${r.b.length}-byte input")
    require(nb.toLong * w * h * 2L <= r.b.length.toLong * 1040L + 65536L,
      s"decoded size ${nb.toLong * w * h * 2} implausible for ${r.b.length}-byte input")
    require(ifd.longs(r, TBitsPerSample).forall(_ == 16L), "only 16-bit supported")
    require(ifd.long(TPlanarConfig).forall(_ == 1L), "only chunky interleave supported")
    val predictor = ifd.long(TPredictor).getOrElse(1L).toInt
    val tw = ifd.long(TTileWidth).get.toInt
    val th = ifd.long(TTileLength).get.toInt
    require(tw > 0 && th > 0 && tw.toLong * th * nb * 2L <= Int.MaxValue
        && tw.toLong * th * nb * 2L <= r.b.length.toLong * 1040L + 65536L,
      s"implausible tile shape ${tw}x${th}x$nb for ${r.b.length}-byte input")
    val offs = ifd.longs(r, TTileOffsets)
    val counts = ifd.longs(r, TTileByteCounts)
    require(offs.length == counts.length, "tile offset/count mismatch")
    val cols = tilesAcross(w, tw)
    require(offs.length == cols * tilesAcross(h, th), "tile count mismatch")
    val px = Array.fill(nb)(new Array[Int](w * h))
    val prev = new Array[Int](nb)
    offs.indices.foreach { t =>
      val (off, cnt) = (offs(t), counts(t))
      require(off + cnt <= r.b.length, s"tile $t extends past EOF")
      val inf = inflaterPool.get()
      inf.reset()
      inf.setInput(r.b, off.toInt, cnt.toInt)
      val raw = new Array[Byte](tw * th * nb * 2)
      var done = 0
      while (done < raw.length && !inf.finished()) {
        val k = inf.inflate(raw, done, raw.length - done)
        if (k == 0) {
          require(!inf.needsInput(), s"tile $t: truncated deflate stream")
          require(!inf.needsDictionary(), s"tile $t: preset dictionary unsupported")
        }
        done += k
      }
      require(done == raw.length, s"tile $t: short inflate ($done of ${raw.length})")
      val ty = t / cols
      val tx = t % cols
      var rrow = 0
      while (rrow < th) {
        val y = ty * th + rrow
        java.util.Arrays.fill(prev, 0)
        var c = 0
        while (c < tw) {
          val x = tx * tw + c
          var b = 0
          while (b < nb) {
            val o = ((rrow * tw + c) * nb + b) * 2
            val d = (raw(o) & 0xFF) | ((raw(o + 1) & 0xFF) << 8)
            // predictor 2 differences per sample component (TIFF 6.0 §14)
            val v = if (predictor == 2 && c > 0) (prev(b) + d) & 0xFFFF else d
            prev(b) = v
            if (y < h && x < w) px(b)(y * w + x) = v
            b += 1
          }
          c += 1
        }
        rrow += 1
      }
    }
    px.toSeq.map(Image(w, h, _))
  }

  final case class Decoded(main: Image, overviews: Seq[Image], nodata: Option[Int])

  /** Multi-band decode result: `bands(i)` is band i's main plane,
    * `overviews(k)(i)` band i of overview level k. */
  final case class DecodedBands(bands: Seq[Image], overviews: Seq[Seq[Image]],
                                nodata: Option[Int])

  /** Decode a single-band file: main image + all overviews; verifies
    * structure and inflation (corruption fails loudly — GeoTiffSpec). */
  def decode(bytes: Array[Byte]): Decoded = {
    val d = decodeBands(bytes)
    require(d.bands.size == 1, s"expected single band, file has ${d.bands.size}")
    Decoded(d.bands.head, d.overviews.map(_.head), d.nodata)
  }

  /** Decode main bands + all overviews of a 1..N-band file. */
  def decodeBands(bytes: Array[Byte]): DecodedBands = {
    val (r, ifds) = readHeaderAndIfds(bytes)
    require(ifds.nonEmpty, "no IFD")
    val nodata = ifds.head.tags.get(TGdalNodata).map { case (_, cnt, v) =>
      // ≤4 ASCII bytes are inline in the value field; longer values sit in
      // the external area at offset v
      val chars =
        if (cnt <= 4) (0L until cnt).map(i => ((v >> (8 * i)) & 0xFF).toChar)
        else {
          require(v + cnt <= r.b.length, "nodata value extends past EOF")
          (0L until cnt).map(i => (r.b((v + i).toInt) & 0xFF).toChar)
        }
      chars.mkString.takeWhile(_ != '\u0000').toInt
    }
    DecodedBands(decodeIfd(r, ifds.head), ifds.tail.map(decodeIfd(r, _)), nodata)
  }

  /** Structural cloud-optimized validation — the reference validator's
    * checks (`prep_utils.py:494-655`): main IFD at byte 8, overview chain
    * at ascending offsets, overview dims descending, tile data ordered
    * smallest-overview-first with main last, overviews present for images
    * ≥512px, every tile inside the file. Returns all errors (empty = valid
    * COG). */
  def validateCog(bytes: Array[Byte]): Seq[String] = {
    val errors = Vector.newBuilder[String]
    val parsed =
      try Some(readHeaderAndIfds(bytes))
      catch { case e: IllegalArgumentException => errors += s"unreadable: ${e.getMessage}"; None }
    parsed.foreach { case (r, ifds) =>
      if (ifds.isEmpty) errors += "no IFD"
      else {
        if (ifds.head.offset != 8)
          errors += s"main IFD offset should be 8, is ${ifds.head.offset}"
        ifds.sliding(2).foreach {
          case Seq(a, b) if b.offset < a.offset =>
            errors += s"IFD at ${b.offset} not at ascending offset"
          case _ =>
        }
        val dims = ifds.map(i => (i.long(TImageWidth).getOrElse(0L), i.long(TImageLength).getOrElse(0L)))
        dims.sliding(2).foreach {
          case Seq((w1, h1), (w2, h2)) if w2 > w1 || h2 > h1 =>
            errors += "overview has larger dimension than its predecessor"
          case _ =>
        }
        val (mw, mh) = dims.head
        if ((mw >= 512 || mh >= 512) && ifds.size == 1)
          errors += "image is >=512px but has no overviews"
        if (ifds.head.long(TTileWidth).isEmpty)
          errors += "image is not tiled"
        // data layout: first-block offsets must DESCEND main-ward (smallest
        // overview's data first, main's last), and every tile must lie
        // fully inside the file
        // expected offsets strictly descend main→smallest overview, because
        // the data is written smallest-overview-first with main LAST
        val firstBlocks = ifds.map(i => i.longs(r, TTileOffsets).headOption.getOrElse(0L))
        firstBlocks.sliding(2).foreach {
          case Seq(a, b) if a < b =>
            errors += "tile data not in smallest-overview-first order"
          case _ =>
        }
        if (firstBlocks.last < ifds.last.offset)
          errors += "first block of smallest overview should be after its IFD"
        ifds.foreach { ifd =>
          val offs = ifd.longs(r, TTileOffsets)
          val cnts = ifd.longs(r, TTileByteCounts)
          if (offs.length != cnts.length) errors += "tile offset/count arrays differ"
          else offs.zip(cnts).foreach { case (o, c) =>
            if (o + c > bytes.length) errors += s"tile at $o+$c extends past EOF"
          }
        }
      }
    }
    errors.result()
  }

  /** (ok, reason) classification for the validation query: header
    * unreadable → truncated_header; tile data outside the file → body_length_mismatch;
    * other structural COG violations verbatim. */
  def validate(bytes: Array[Byte]): (Boolean, String) = {
    if (bytes == null || bytes.length < 8) return (false, "truncated_header")
    val errs = validateCog(bytes)
    if (errs.isEmpty) (true, "ok")
    else if (errs.exists(_.startsWith("unreadable"))) (false, "truncated_header")
    else if (errs.exists(_.contains("past EOF"))) (false, "body_length_mismatch")
    else (false, errs.head)
  }
}
