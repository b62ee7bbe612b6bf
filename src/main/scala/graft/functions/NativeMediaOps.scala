package graft.functions

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Real image decode / resample / feature kernels and container walks
  * over binary payload columns, built ONLY on the JDK (javax.imageio for
  * PNG/JPEG/GIF/BMP, java.util.zip for DEFLATE) — no external codec
  * dependencies. Bound to SQL as the graft_img_* / graft_*_meta /
  * graft_wav_frames / graft_deflate_len functions by
  * [[graft.plans.GraftFunctions]]. They evaluate executor-side per
  * partition, i.e. decode parallelism == partition parallelism, which is
  * the shape a 100 TB media crawl needs — no driver-side decode, no
  * collect.
  *
  * Decode failures (corrupt/unsupported payloads) yield NULL, never an
  * exception: at corpus scale a poison blob must not kill the stage. An
  * out-of-range integer argument is a query error, not a data error: it
  * fails typed, naming the function (the [[NativeHashOps]] rule).
  */
object NativeMediaOps {

  private def atLeast1(fn: String, arg: String, v: Int): Unit =
    if (v < 1) throw new IllegalArgumentException(
      s"graft_$fn: $arg must be >= 1, got $v")

  private def decode(bytes: Array[Byte]): BufferedImage =
    // explicit memory-backed stream: ImageIO.read(InputStream) defaults
    // to a DISK-cached wrapper — a temp-file create/write/delete per row
    // for payloads already in memory (and a hard failure on executors
    // with a read-only tmpdir)
    try ImageIO.read(new javax.imageio.stream.MemoryCacheImageInputStream(
      new ByteArrayInputStream(bytes))) // null if unsupported
    catch { case _: Exception => null }

  /** Grayscale sources redrawn into an RGB surface would go through the
    * linear-gray -> sRGB conversion `lumAt` documents avoiding; expand
    * the raw raster samples to neutral RGB first so the resize path and
    * the grid-feature path agree on every gray pixel.
    */
  private def rgbView(img: BufferedImage): BufferedImage =
    if (img.getColorModel.getNumComponents > 2) img
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      val bits = img.getColorModel.getComponentSize(0)
      val maxV = (1 << bits) - 1
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = img.getRaster.getSample(x, y, 0) * 255 / maxV
          out.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      out
    }

  /** Rec.601 luminance of a packed sRGB int, in [0,1]. */
  private def lum(rgb: Int): Double = {
    val r = (rgb >> 16) & 0xff
    val g = (rgb >> 8) & 0xff
    val b = rgb & 0xff
    (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
  }

  /** Luminance of pixel (x, y) in [0,1]. Grayscale images read the raw
    * raster sample: getRGB on TYPE_BYTE_GRAY would run the linear-gray ->
    * sRGB colorspace conversion and shift every midtone (a classic AWT
    * trap), where the raw sample IS the luminance.
    */
  private def lumAt(img: BufferedImage, x: Int, y: Int): Double =
    if (img.getColorModel.getNumComponents <= 2) {
      val bits = img.getColorModel.getComponentSize(0)
      img.getRaster.getSample(x, y, 0).toDouble / ((1 << bits) - 1)
    } else lum(img.getRGB(x, y))

  /** graft_img_decode(binary) ->
    * struct<width:int, height:int, channels:int>; NULL on decode failure.
    * channels = color-model components (gray 1, gray+alpha 2, RGB 3,
    * RGBA 4) — matches the PNG IHDR color-type mapping the SQL oracle
    * derives from the raw header.
    */
  def imgDecode(payload: Array[Byte]): InternalRow = {
    val img = decode(payload)
    if (img == null) null
    else InternalRow(img.getWidth, img.getHeight,
      img.getColorModel.getNumComponents)
  }

  /** graft_img_resize(binary, int maxSide) ->
    * struct<resized_w:int, resized_h:int, resized_mean:double>: bilinear
    * resample to `maxSide` on the longer edge (aspect preserved, floor),
    * plus the mean Rec.601 luminance of the RESAMPLED pixels — evidence
    * the resample actually ran. NULL on decode failure.
    */
  def imgResize(payload: Array[Byte], maxSide: Int): InternalRow = {
    atLeast1("img_resize", "maxSide", maxSide)
    val img = decode(payload)
    if (img == null) return null
    val (w, h) = (img.getWidth, img.getHeight)
    val m = maxSide
    val scale = m.toDouble / math.max(w, h)
    // same arithmetic as the SQL oracle: longer side pinned to maxSide,
    // the other floored; ties (square) resolve to width
    val rw = if (w >= h) m else math.floor(w * scale).toInt.max(1)
    val rh = if (h > w) m else math.floor(h * scale).toInt.max(1)
    val out = new BufferedImage(rw, rh, BufferedImage.TYPE_INT_RGB)
    val g2 = out.createGraphics()
    try {
      g2.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g2.drawImage(rgbView(img), 0, 0, rw, rh, null)
    } finally g2.dispose()
    var sum = 0.0
    var y = 0
    while (y < rh) {
      var x = 0
      while (x < rw) { sum += lum(out.getRGB(x, y)); x += 1 }
      y += 1
    }
    InternalRow(rw, rh, sum / (rw.toLong * rh))
  }

  /** graft_img_grid(binary, int gx, int gy) -> array<double>: mean
    * Rec.601 luminance per grid cell (row-major, gx*gy values in [0,1]) —
    * a deterministic pixel-derived embedding the similarity operators
    * (s1-s3) can consume. Cells cover the image with floor boundaries;
    * images smaller than the grid clamp cells to >= 1 pixel. NULL on
    * decode failure.
    */
  def imgGrid(payload: Array[Byte], gx: Int, gy: Int): ArrayData = {
    atLeast1("img_grid", "gx", gx)
    atLeast1("img_grid", "gy", gy)
    val img = decode(payload)
    if (img == null) return null
    val (w, h) = (img.getWidth, img.getHeight)
    val feats = new Array[Double](gx * gy)
    var cy = 0
    while (cy < gy) {
      val y0 = (cy.toLong * h / gy).toInt
      val y1 = math.max(((cy + 1).toLong * h / gy).toInt, y0 + 1).min(h)
      var cx = 0
      while (cx < gx) {
        val x0 = (cx.toLong * w / gx).toInt
        val x1 = math.max(((cx + 1).toLong * w / gx).toInt, x0 + 1).min(w)
        var sum = 0.0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += lumAt(img, x, y); x += 1 }
          y += 1
        }
        feats(cy * gx + cx) =
          if (y1 > y0 && x1 > x0) sum / ((y1 - y0).toLong * (x1 - x0))
          else 0.0
        cx += 1
      }
      cy += 1
    }
    new GenericArrayData(feats)
  }

  /** graft_wav_meta(binary) -> struct<sample_rate:int, channels:int,
    * n_frames:int, rms:double, peak:int>: REAL RIFF/WAVE PCM16 parse —
    * header fields from the fmt chunk (proper chunk walk, so extra
    * chunks like LIST/fact are skipped, not mis-read) plus amplitude
    * evidence the sample data was actually decoded: RMS over all int16
    * samples and the absolute peak. NULL on anything malformed
    * (not RIFF/WAVE, non-PCM, not 16-bit, truncated, zero samples) —
    * a poison blob must never kill the stage.
    */
  def wavMeta(b: Array[Byte]): InternalRow = {
    def u8(i: Int): Int = b(i) & 0xff
    def u16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def u32(i: Int): Long = u16(i).toLong | (u16(i + 2).toLong << 16)
    if (b.length < 12 ||
      !(u8(0) == 'R' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == 'F') ||
      !(u8(8) == 'W' && u8(9) == 'A' && u8(10) == 'V' && u8(11) == 'E'))
      return null
    var pos = 12
    var rate = -1; var ch = -1; var bits = -1; var fmt = -1
    var dataOff = -1; var dataLen = -1
    while (pos + 8 <= b.length && (fmt < 0 || dataOff < 0)) {
      val id = new String(b, pos, 4, "US-ASCII")
      val sz = u32(pos + 4)
      if (sz < 0 || sz > Int.MaxValue - 8) return null
      val body = pos + 8
      if (id == "fmt " && sz >= 16 && body + 16 <= b.length) {
        fmt = u16(body); ch = u16(body + 2)
        rate = u32(body + 4).toInt; bits = u16(body + 14)
      } else if (id == "data") {
        dataOff = body
        dataLen = math.min(sz, (b.length - body).toLong).toInt
      }
      // chunks are word-aligned; walk in Long so a declared size near
      // Int.MaxValue can't wrap pos negative and index out of bounds
      // (poison-blob contract: malformed input -> null, never a throw)
      val next = body.toLong + sz + (sz & 1L)
      pos = if (next > b.length.toLong) b.length else next.toInt
    }
    if (fmt != 1 || bits != 16 || ch <= 0 || rate <= 0 ||
      dataOff < 0 || dataLen < 2) return null
    val nSamples = dataLen / 2
    var i = 0; var sumSq = 0.0; var peak = 0
    while (i < nSamples) {
      val v = (u8(dataOff + 2 * i) |
        (b(dataOff + 2 * i + 1).toInt << 8)).toShort.toInt
      sumSq += v.toDouble * v
      val a = math.abs(v)
      if (a > peak) peak = a
      i += 1
    }
    InternalRow(rate, ch, nSamples / ch,
      math.sqrt(sumSq / nSamples), peak)
  }

  /** graft_wav_frames(binary, frameSamples) ->
    * array<struct<frame:int, n_samples:int, rms:double, zcr:double>>:
    * frame-level audio features from the same RIFF/PCM16 walk as
    * [[wavMeta]] — per frame of `frameSamples` channel-averaged
    * (mono) samples, the RMS energy and the zero-crossing rate (sign
    * changes / (len-1); 0.0 for a 1-sample tail). The energy/ZCR pair is
    * the classic speech-vs-silence-vs-noise triage front end, and the
    * per-frame vector is what an audio near-dup or silence-trim stage
    * consumes. The channel mean is an exact integer sum divided once, so
    * an independent engine reproduces every double bit-for-bit from the
    * raw bytes. NULL on malformed payloads (poison-blob contract).
    */
  def wavFrames(b: Array[Byte], frameSamples: Int): ArrayData = {
    if (frameSamples < 1) return null
    def u8(i: Int): Int = b(i) & 0xff
    def u16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def u32(i: Int): Long = u16(i).toLong | (u16(i + 2).toLong << 16)
    if (b.length < 12 ||
      !(u8(0) == 'R' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == 'F') ||
      !(u8(8) == 'W' && u8(9) == 'A' && u8(10) == 'V' && u8(11) == 'E'))
      return null
    var pos = 12
    var ch = -1; var bits = -1; var fmt = -1
    var dataOff = -1; var dataLen = -1
    while (pos + 8 <= b.length && (fmt < 0 || dataOff < 0)) {
      val id = new String(b, pos, 4, "US-ASCII")
      val sz = u32(pos + 4)
      if (sz < 0 || sz > Int.MaxValue - 8) return null
      val body = pos + 8
      if (id == "fmt " && sz >= 16 && body + 16 <= b.length) {
        fmt = u16(body); ch = u16(body + 2); bits = u16(body + 14)
      } else if (id == "data") {
        dataOff = body
        dataLen = math.min(sz, (b.length - body).toLong).toInt
      }
      val next = body.toLong + sz + (sz & 1L)
      pos = if (next > b.length.toLong) b.length else next.toInt
    }
    if (fmt != 1 || bits != 16 || ch <= 0 || dataOff < 0 || dataLen < 2)
      return null
    val nMono = (dataLen / 2) / ch
    if (nMono < 1) return null
    val mono = new Array[Double](nMono)
    var f = 0
    while (f < nMono) {
      var s = 0; var c = 0
      while (c < ch) {
        s += (u8(dataOff + 2 * (f * ch + c)) |
          (b(dataOff + 2 * (f * ch + c) + 1).toInt << 8)).toShort.toInt
        c += 1
      }
      mono(f) = s.toDouble / ch
      f += 1
    }
    val nFrames = (nMono + frameSamples - 1) / frameSamples
    val rows = new Array[Any](nFrames)
    var i = 0
    while (i < nFrames) {
      val from = i * frameSamples
      val until = math.min(from + frameSamples, nMono)
      val len = until - from
      var sumSq = 0.0; var crossings = 0
      var j = from
      while (j < until) {
        sumSq += mono(j) * mono(j)
        if (j > from && mono(j - 1) * mono(j) < 0) crossings += 1
        j += 1
      }
      rows(i) = InternalRow(i, len, math.sqrt(sumSq / len),
        if (len > 1) crossings.toDouble / (len - 1) else 0.0)
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** graft_mp4_meta(binary) -> struct<major_brand:string, timescale:int,
    * duration:long, n_tracks:int>: REAL ISO-BMFF (MP4/MOV) container
    * parse — the video member of the media triad, the exact mirror of
    * [[wavMeta]]'s RIFF chunk walk on the big-endian box grammar.
    * Top-level boxes are walked to find `ftyp` (major brand) and `moov`;
    * `moov`'s children are walked for `mvhd` (version-aware: v0 carries
    * u32 timescale/duration at body+12/+16, v1 at +20/+24 with a u64
    * duration) and the `trak` count. Handles 64-bit largesize (size==1)
    * and to-end-of-file (size==0) boxes; all offsets advance in Long so
    * a hostile declared size cannot wrap an index (poison-blob contract:
    * malformed input -> NULL, never a throw). Codec payloads inside
    * mdat are opaque — container metadata is the decode-free, oracle-
    * checkable part, which is exactly what corpus triage needs.
    */
  def mp4Meta(b: Array[Byte]): InternalRow = {
    val n = b.length.toLong
    def u8(i: Long): Int = b(i.toInt) & 0xff
    def u32(i: Long): Long =
      (u8(i) << 24 | u8(i + 1) << 16 | u8(i + 2) << 8 | u8(i + 3)) & 0xffffffffL
    def u64(i: Long): Long = (u32(i) << 32) | u32(i + 4)
    def typ(i: Long): String = new String(b, i.toInt, 4, "US-ASCII")
    // returns (bodyStart, boxEnd) or null on malformed sizes
    def span(off: Long): (Long, Long) = {
      if (off + 8 > n) return null
      val sz = u32(off)
      if (sz == 0) (off + 8, n)               // box runs to EOF
      else if (sz == 1) {                     // 64-bit largesize
        if (off + 16 > n) null
        else {
          val lsz = u64(off + 8)
          if (lsz < 16 || off + lsz > n) null else (off + 16, off + lsz)
        }
      }
      else if (sz < 8 || off + sz > n) null
      else (off + 8, off + sz)
    }
    var brand: String = null
    var moovBody = -1L; var moovEnd = -1L
    var off = 0L
    while (off + 8 <= n && moovBody < 0) {
      val s = span(off)
      if (s == null) return null
      typ(off + 4) match {
        case "ftyp" if s._2 - s._1 >= 4 => brand = typ(s._1)
        case "moov" => moovBody = s._1; moovEnd = s._2
        case _ => ()
      }
      off = s._2
    }
    if (brand == null || moovBody < 0) return null
    var timescale = -1L; var duration = -1L; var tracks = 0
    var c = moovBody
    while (c + 8 <= moovEnd) {
      val s = span(c)
      if (s == null || s._2 > moovEnd) return null
      typ(c + 4) match {
        case "mvhd" =>
          val body = s._1
          if (body + 4 > n) return null
          u8(body) match { // version byte, then 3 flag bytes
            case 0 if s._2 - body >= 20 =>
              timescale = u32(body + 12); duration = u32(body + 16)
            case 1 if s._2 - body >= 32 =>
              timescale = u32(body + 20); duration = u64(body + 24)
            case _ => return null
          }
        case "trak" => tracks += 1
        case _ => ()
      }
      c = s._2
    }
    if (timescale <= 0 || duration < 0) return null
    InternalRow(UTF8String.fromString(brand),
      timescale.toInt, duration, tracks)
  }

  /** graft_jpeg_meta(binary) -> struct<height:int, width:int,
    * precision:int, n_components:int, progressive:boolean>: REAL JPEG
    * marker-segment walk — the still-image member of the container
    * triad next to [[wavMeta]] (RIFF) and [[mp4Meta]]
    * (ISO-BMFF). After SOI, segments are FF <marker> <u16be length
    * incl. itself>; the walk skips APPn/DQT/DHT/COM until the first
    * SOFn frame header (any of C0-CF except the non-frame C4/C8/CC)
    * and reads precision, height, width, component count there;
    * progressive = SOF2. Entropy-coded scan data after SOS is opaque,
    * exactly like mdat — the frame header is the decode-free,
    * oracle-checkable triage layer. Offsets advance in Long so a
    * hostile declared length cannot wrap an index; any structural
    * violation (lost FF sync, SOS before SOF, truncated header)
    * returns NULL, never a throw (poison-blob contract).
    */
  def jpegMeta(b: Array[Byte]): InternalRow = {
    val n = b.length.toLong
    def u8(i: Long): Int = b(i.toInt) & 0xff
    def u16(i: Long): Int = (u8(i) << 8) | u8(i + 1)
    if (n < 4 || u8(0) != 0xff || u8(1) != 0xd8) return null
    var pos = 2L
    while (pos + 4 <= n) {
      if (u8(pos) != 0xff) return null       // lost marker sync
      val m = u8(pos + 1)
      if (m == 0xff) pos += 1                 // fill byte padding
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) pos += 2 // standalone
      else {
        val len = u16(pos + 2)
        if (len < 2 || pos + 2 + len > n) return null
        val isSof = m >= 0xc0 && m <= 0xcf &&
          m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (len < 8) return null            // truncated frame header
          return InternalRow(u16(pos + 5), u16(pos + 7), u8(pos + 4),
            u8(pos + 9), m == 0xc2)
        }
        if (m == 0xda) return null            // SOS before any SOF
        pos += 2 + len
      }
    }
    null
  }

  /** graft_exif_meta(binary) -> struct<byte_order:string,
    * orientation:int, make:string, datetime:string>: REAL Exif parse —
    * the [[jpegMeta]] marker walk continued into the APP1 payload:
    * an APP1 segment opening with "Exif\0\0" carries a complete TIFF
    * file (its offsets are relative to ITS OWN header, the format's
    * defining quirk), so the walk validates the byte-order mark + the
    * 42 magic, follows the IFD0 offset and scans the 12-byte directory
    * entries for Orientation (0x0112, SHORT), Make (0x010F, ASCII) and
    * DateTime (0x0132, ASCII — "YYYY:MM:DD HH:MM:SS"). ASCII values
    * live inline when count <= 4, else at a TIFF-base-relative offset;
    * both paths bound-check against the APP1 segment end, so a hostile
    * count/offset nulls the row instead of reading astray (the
    * poison-blob contract). Tags the file omits yield null FIELDS; a
    * missing/invalid Exif block yields a null STRUCT.
    */
  def exifMeta(b: Array[Byte]): InternalRow = {
    val n = b.length.toLong
    def u8(i: Long): Int = b(i.toInt) & 0xff
    def u16be(i: Long): Int = (u8(i) << 8) | u8(i + 1)
    if (n < 4 || u8(0) != 0xff || u8(1) != 0xd8) return null
    var pos = 2L
    while (pos + 4 <= n) {
      if (u8(pos) != 0xff) return null
      val m = u8(pos + 1)
      if (m == 0xff) pos += 1
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) pos += 2
      else {
        val len = u16be(pos + 2)
        if (len < 2 || pos + 2 + len > n) return null
        val segEnd = pos + 2 + len // exclusive
        if (m == 0xe1 && len >= 16 && u8(pos + 4) == 'E' &&
          u8(pos + 5) == 'x' && u8(pos + 6) == 'i' &&
          u8(pos + 7) == 'f' && u8(pos + 8) == 0 && u8(pos + 9) == 0)
          return parseTiff(b, pos + 10, segEnd)
        if (m == 0xda) return null // scan data: no Exif will follow
        pos += 2 + len
      }
    }
    null
  }

  private def parseTiff(b: Array[Byte], base: Long,
                        end: Long): InternalRow = {
    def u8(i: Long): Int = b(i.toInt) & 0xff
    if (base + 8 > end) return null
    val le = u8(base) == 0x49 && u8(base + 1) == 0x49
    val be = u8(base) == 0x4d && u8(base + 1) == 0x4d
    if (!le && !be) return null
    def u16(i: Long): Int =
      if (le) u8(i) | (u8(i + 1) << 8) else (u8(i) << 8) | u8(i + 1)
    def u32(i: Long): Long =
      if (le) u8(i) | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) |
        (u8(i + 3).toLong << 24)
      else (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) |
        (u8(i + 2).toLong << 8) | u8(i + 3)
    if (u16(base + 2) != 42) return null
    val ifd = base + u32(base + 4)
    if (ifd + 2 > end) return null
    val nEntries = u16(ifd)
    var orientation: Any = null
    var make: Any = null
    var datetime: Any = null
    def ascii(e: Long, cnt: Long): Any = {
      val start = if (cnt <= 4) e + 8 else base + u32(e + 8)
      if (cnt < 1 || start + cnt > end) return null
      val bytes = (0L until cnt).map(j => b((start + j).toInt))
        .takeWhile(_ != 0).toArray
      UTF8String.fromBytes(bytes)
    }
    var k = 0
    while (k < nEntries) {
      val e = ifd + 2 + 12L * k
      if (e + 12 > end) return null
      val tag = u16(e); val typ = u16(e + 2); val cnt = u32(e + 4)
      if (tag == 0x0112 && typ == 3 && cnt == 1)
        orientation = u16(e + 8)
      else if (tag == 0x010f && typ == 2) make = ascii(e, cnt)
      else if (tag == 0x0132 && typ == 2) datetime = ascii(e, cnt)
      k += 1
    }
    InternalRow(UTF8String.fromString(
      if (le) "II" else "MM"), orientation, make, datetime)
  }

  /** graft_deflate_len(string|binary) -> int: DEFLATE(level 6)
    * compressed byte length — the classic compression-ratio corpus
    * quality signal (boilerplate and templated spam compress far
    * below prose; random noise doesn't compress at all), impossible to
    * fake with n-gram statistics alone. Real java.util.zip codec work
    * per row; executor-side, partition-parallel. The length is
    * deterministic for a fixed input on a fixed JDK zlib (the
    * snapshot-oracle caveat m3/m6 already carry for DEFLATE).
    */
  def deflateLen(s: UTF8String): Int = deflateLen(s.getBytes)

  def deflateLen(bytes: Array[Byte]): Int = {
    val d = new java.util.zip.Deflater(6)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  /** graft_id3_meta(binary) -> struct<version:int, tag_size:int,
    * n_frames:int, title:string, artist:string, album:string>: REAL
    * ID3v2 tag walk — the audio-container provenance layer next to
    * [[wavMeta]]'s RIFF walk (MP3 is the other half of any audio
    * crawl; its tag is where title/artist/album live and the MPEG
    * bitstream after it stays opaque, like mdat and entropy scan data).
    * Header: "ID3" <major> <rev> <flags> <4-byte SYNCSAFE size> (7 bits
    * per byte — the format's defining quirk, so a tag size can never
    * alias an MPEG sync byte). Header flags with unsynchronisation
    * (0x80) or an extended header (0x40) null the struct — both shift
    * the frame grammar, so parsing anyway would read garbage silently.
    * Frames: 4-char id, 4-byte size (plain
    * u32be in v2.3, syncsafe in v2.4), 2 flag bytes, body; text frames
    * open with an encoding byte (0 latin1, decoded via ISO-8859-1 so
    * bytes >= 0x80 map to their Unicode code points / 3 utf8 taken
    * verbatim; 1/2 UTF-16
    * leave the field null but the frame still counts). The walk stops
    * cleanly at zero padding or the declared tag end; a frame whose
    * header or declared body crosses the tag end is HOSTILE and nulls
    * the whole struct (offsets advance in Long so a hostile length
    * cannot wrap an index). Unsupported majors (< 3 or > 4) null too —
    * v2.2's 3-byte frame grammar is a different format.
    */
  def id3Meta(b: Array[Byte]): InternalRow = {
    val n = b.length.toLong
    def u8(i: Long): Int = b(i.toInt) & 0xff
    if (n < 10 || u8(0) != 'I' || u8(1) != 'D' || u8(2) != '3')
      return null
    val major = u8(3)
    if (major < 3 || major > 4) return null
    // unsync / extended header re-shape the frame grammar: null, the
    // same contract as unsupported majors (never parse shifted data)
    if ((u8(5) & 0xC0) != 0) return null
    // syncsafe: all four size bytes must have the high bit clear
    if ((u8(6) | u8(7) | u8(8) | u8(9)) >= 0x80) return null
    val tagSize = (u8(6) << 21) | (u8(7) << 14) | (u8(8) << 7) | u8(9)
    val tagEnd = 10L + tagSize            // exclusive
    if (tagEnd > n) return null           // truncated tag
    def isIdChar(c: Int) =
      (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
    var off = 10L
    var frames = 0
    var title: AnyRef = null; var artist: AnyRef = null
    var album: AnyRef = null
    while (off < tagEnd && u8(off) != 0) {  // 0 = padding, clean stop
      if (off + 10 > tagEnd) return null    // header crosses tag end
      if (!isIdChar(u8(off)) || !isIdChar(u8(off + 1)) ||
        !isIdChar(u8(off + 2)) || !isIdChar(u8(off + 3))) return null
      val fSize: Long =
        if (major == 4) {
          if ((u8(off + 4) | u8(off + 5) | u8(off + 6) |
            u8(off + 7)) >= 0x80) return null
          (u8(off + 4).toLong << 21) | (u8(off + 5) << 14) |
            (u8(off + 6) << 7) | u8(off + 7)
        } else
          (u8(off + 4).toLong << 24) | (u8(off + 5) << 16) |
            (u8(off + 6) << 8) | u8(off + 7)
      if (off + 10 + fSize > tagEnd) return null  // hostile length
      frames += 1
      val id = new String(b.slice(off.toInt, off.toInt + 4), "US-ASCII")
      if (id.startsWith("T") && fSize >= 1) {
        val enc = u8(off + 10)
        val txt: AnyRef =
          if (enc == 0 || enc == 3) {
            var end = off + 10 + fSize
            while (end > off + 11 && u8(end - 1) == 0) end -= 1
            val body = b.slice(off.toInt + 11, end.toInt)
            if (enc == 0)                    // latin1 → code points
              UTF8String.fromString(
                new String(body,
                  java.nio.charset.StandardCharsets.ISO_8859_1))
            else                             // utf8 verbatim
              UTF8String.fromBytes(body)
          } else null                       // UTF-16: frame counts only
        id match {
          case "TIT2" => title = txt
          case "TPE1" => artist = txt
          case "TALB" => album = txt
          case _ => ()
        }
      }
      off += 10 + fSize
    }
    InternalRow(major, tagSize, frames, title, artist, album)
  }
}
