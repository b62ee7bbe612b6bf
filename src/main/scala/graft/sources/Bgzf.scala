package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{CRC32, Deflater, GZIPInputStream}

import org.apache.spark.sql.SparkSession

/** BGZF block-gzip reader + writer (SAM spec §4.1) — the container
  * htslib wraps BAM/BCF/bgzipped-VCF/tabix data in: concatenated
  * RFC-1952 gzip members, each carrying the BC extra subfield (BSIZE =
  * member length − 1) and capped at 64 KiB, terminated by a fixed
  * 28-byte empty member. Because every member is a complete gzip
  * stream, BGZF files read through ANY spec-complete multi-member gzip
  * inflater — the JDK's GZIPInputStream and Hadoop's gzip codec (so
  * `spark.read.text("x.vcf.gz")` just works; BamSpec pins a 943-member
  * file chaining correctly through both).
  *
  * The one DSv2 relation ([[BgzfTable]], read through
  * [[VcfBgzfSource]], [[BcfBgzfSource]] and [[BamBgzfSource]]) goes
  * further: BGZF was DESIGNED for random access,
  * so unlike plain gzip a single huge `.vcf.gz` need not read on one
  * task — byte-range partitions each scan forward to a verified member
  * signature and inflate only their own members ([[rangeLines]] for
  * text, [[MemberCursor]] for the binary records; the Hadoop-BAM /
  * spark-bam splitting idea, rebuilt Spark-first).
  */
object Bgzf {

  /** The spec's fixed 28-byte empty-member EOF marker (§4.1.2). */
  val Eof: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0x06,
    0x00, 0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00).map(_.toByte)

  /** Little-endian int32 — the one writer the member trailer and the
    * BCF/BAM encoders share.
    */
  private[sources] def writeLe32(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
    o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff)
  }

  /** Per-thread reusable codec state: `Deflater`/`Inflater` wrap a
    * native zlib stream whose init/end costs dominate a 64 KiB
    * member's (de)compression setup when allocated per member — a
    * multi-GB file is ~100k members. One instance per (pooled,
    * long-lived) task thread, `reset()` between members; the bounded
    * native footprint (a few KiB per thread) is released with the
    * thread. Compression level and output bytes are UNCHANGED.
    */
  private val deflaters = new ThreadLocal[Deflater] {
    override def initialValue(): Deflater =
      new Deflater(Deflater.DEFAULT_COMPRESSION, true)
  }
  private val inflaters = new ThreadLocal[java.util.zip.Inflater] {
    override def initialValue(): java.util.zip.Inflater =
      new java.util.zip.Inflater(true)
  }

  /** Deflate `data[off, off+len)` as one BGZF member onto `out`. */
  def writeMember(out: ByteArrayOutputStream, data: Array[Byte],
                  off: Int, len: Int): Unit = {
    val deflater = deflaters.get()
    deflater.reset()
    deflater.setInput(data, off, len)
    deflater.finish()
    val cbuf = new Array[Byte](len + 64)
    var clen = 0
    while (!deflater.finished())
      clen += deflater.deflate(cbuf, clen, cbuf.length - clen)
    val crc = new CRC32()
    crc.update(data, off, len)
    val bsize = clen + 26 // header(18) + deflate + crc(4) + isize(4)
    require(bsize <= 0x10000, s"BGZF member overflow: $bsize")
    out.write(Array[Byte](0x1f.toByte, 0x8b.toByte, 0x08, 0x04,
      0, 0, 0, 0, 0, 0xff.toByte, // MTIME, XFL, OS=unknown
      0x06, 0x00, // XLEN = 6
      0x42, 0x43, 0x02, 0x00)) // BC subfield, SLEN=2
    out.write((bsize - 1) & 0xff); out.write(((bsize - 1) >> 8) & 0xff)
    out.write(cbuf, 0, clen)
    writeLe32(out, crc.getValue.toInt)
    writeLe32(out, len)
  }

  // ------------------------------------------------- splittable read
  // A BGZF member header is 18 fixed-layout bytes; positions 0-3 and
  // 10-15 are constant for the BC-subfield form every writer emits:
  // 1f 8b 08 04 <mtime:4> <xfl> <os> 06 00 42 43 02 00 <bsize-1:2>.
  private def sigAt(b: Array[Byte], i: Int): Boolean =
    i + 18 <= b.length &&
      b(i) == 0x1f.toByte && b(i + 1) == 0x8b.toByte &&
      b(i + 2) == 0x08 && b(i + 3) == 0x04 &&
      b(i + 10) == 0x06 && b(i + 11) == 0x00 &&
      b(i + 12) == 0x42 && b(i + 13) == 0x43 &&
      b(i + 14) == 0x02 && b(i + 15) == 0x00

  private def bsizeAt(b: Array[Byte], i: Int): Int =
    ((b(i + 16) & 0xff) | ((b(i + 17) & 0xff) << 8)) + 1

  /** One task's byte range of one file. */
  private[graft] case class Range(path: String, start: Long, end: Long,
                                  len: Long)

  /** [[rangeLines]] for the VCF relation's partition reader. */
  private[graft] def rangeLinesOf(
      in: org.apache.hadoop.fs.FSDataInputStream,
      r: Range): Iterator[String] = rangeLines(in, r)

  /** Inflate one whole member (header+deflate+trailer bytes).
    *
    * Every caller hands a signature-verified BC-subfield member
    * (fixed 18-byte header, 8-byte CRC32+ISIZE trailer), so the
    * inflated size is KNOWN before inflating: one exact-size output
    * allocation and a reused per-thread raw `Inflater`, instead of a
    * fresh `GZIPInputStream` per member (native stream init + header
    * re-parse + readAllBytes' growth copies — the dominant per-member
    * overhead on multi-thousand-member scans). The trailer CRC is
    * still verified, matching what GZIPInputStream checked. Anything
    * out of contract falls back to the codec path.
    */
  private def inflateMember(m: Array[Byte]): Array[Byte] = {
    val bs = m.length
    val isize =
      if (bs >= 26) (m(bs - 4) & 0xff) | ((m(bs - 3) & 0xff) << 8) |
        ((m(bs - 2) & 0xff) << 16) | ((m(bs - 1) & 0xff) << 24)
      else -1
    // isize == 0 routes through the codec fallback rather than a bare
    // empty return: a corrupt member whose last 4 bytes happen to be
    // zero still gets its deflate payload inflated and its CRC/ISIZE
    // trailer checked (GZIPInputStream throws on the mismatch). Empty
    // members are ~one EOF marker per file, so the codec cost is nil.
    if (isize <= 0 || isize > (1 << 16) || !sigAt(m, 0))
      return new GZIPInputStream(new ByteArrayInputStream(m))
        .readAllBytes()
    val out = new Array[Byte](isize)
    val inf = inflaters.get()
    inf.reset()
    inf.setInput(m, 18, bs - 26)
    var n = 0
    while (n < isize && !inf.finished()) {
      val k = inf.inflate(out, n, isize - n)
      if (k == 0 && (inf.needsInput() || inf.needsDictionary()))
        throw new java.io.EOFException(
          s"truncated BGZF member (inflated $n of $isize)")
      n += k
    }
    if (n != isize)
      throw new java.util.zip.ZipException(
        s"BGZF ISIZE mismatch: trailer says $isize, stream holds >$n")
    val crc = new CRC32()
    crc.update(out, 0, n)
    val want = (m(bs - 8) & 0xffL) | ((m(bs - 7) & 0xffL) << 8) |
      ((m(bs - 6) & 0xffL) << 16) | ((m(bs - 5) & 0xffL) << 24)
    if (crc.getValue != want)
      throw new java.util.zip.ZipException("BGZF member CRC mismatch")
    out
  }

  /** Expand a path/glob/directory into its member FILES (one level —
    * the rule every DSv2 relation and region planner lists by) as
    * (path, length) pairs, sorted by path for deterministic planning.
    * A single-file path resolves to itself; a missing path throws.
    * Directory LISTINGS skip hidden files (`_`/`.` prefixes — the
    * Hadoop convention Spark's own FileIndex applies): a `_SUCCESS`
    * marker or checksum sibling inside a shard directory must not
    * sniff/decode as data — an explicitly named file is never
    * filtered.
    */
  private[sources] def isHiddenName(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  private[sources] def resolveFiles(spark: SparkSession,
                                    path: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs.globStatus(p) match {
      case null | Array() => Array(fs.getFileStatus(p))
      case hits => hits
    }).flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).filter(s =>
          s.isFile && !isHiddenName(s.getPath.getName) &&
            !isIndexSidecar(s.getPath.getName))
      else Array(st)
    }.map(st => (st.getPath.toString, st.getLen))
      .sortBy(_._1).toSeq
  }

  /** Known index-sidecar extensions a genomics directory carries NEXT
    * TO its data shards (`x.vcf.gz.tbi`, `x.bam.bai`, …): metadata,
    * never data — listing one as a shard would parse its bytes as
    * records (a `.tbi` IS BGZF, so it even sniffs as data). Skipped in
    * DIRECTORY listings only, same rule as [[isHiddenName]]: an
    * explicitly named file is never filtered.
    */
  private[sources] def isIndexSidecar(name: String): Boolean =
    name.endsWith(".tbi") || name.endsWith(".csi") ||
      name.endsWith(".bai") || name.endsWith(".crai") ||
      name.endsWith(".fai") || name.endsWith(".gzi")

  /** Close `in` at task completion regardless of whether the per-range
    * iterator was fully consumed — `df.limit`/`take` or a mid-decode
    * failure abandons the iterator and would otherwise leak one open
    * handle per task. The iterator-exhaust close stays (frees the
    * handle early on the common full-scan path); the second close is a
    * harmless no-op.
    */
  private[sources] def closeOnTaskEnd(
      in: org.apache.hadoop.fs.FSDataInputStream): Unit =
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))

  /** pread `n` bytes at `off` (clipped to EOF). */
  private def preadAt(in: org.apache.hadoop.fs.FSDataInputStream,
                      off: Long, n: Int, len: Long): Array[Byte] = {
    val m = math.min(n.toLong, len - off).toInt
    if (m <= 0) return Array.emptyByteArray
    val b = new Array[Byte](m)
    in.readFully(off, b, 0, m)
    b
  }

  /** True when `path` is a single file that starts with a BGZF member
    * signature — the driver-side peek the VCF relation and region
    * planner use to tell BGZF from plain text. Globs/directories answer
    * false.
    */
  private[sources] def isBgzf(conf: org.apache.hadoop.conf.Configuration,
                              path: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      if (!fs.getFileStatus(p).isFile) return false
      val in = fs.open(p)
      try {
        val hdr = new Array[Byte](18)
        in.readFully(0L, hdr, 0, 18)
        sigAt(hdr, 0)
      } finally in.close()
    } catch { case _: Throwable => false }

  // ------------------------------------------------- content sniffing
  /** Content-derived format class of a file/layout — what
    * [[Vcf.readAuto]]-style dispatch routes on instead of the path
    * SUFFIX (a bare directory of BCF shards has no extension at all;
    * suffix dispatch silently text-parsed its binary bytes to a
    * near-empty frame).
    */
  private[graft] sealed trait Format extends Serializable
  private[graft] object Format {
    /** BGZF whose first member inflates to `BCF\2…`. */
    case object Bcf extends Format
    /** BGZF whose first member inflates to `BAM\1`. */
    case object Bam extends Format
    /** BGZF with a non-magic (text) payload. */
    case object BgzfText extends Format
    /** RFC-1952 gzip without the BGZF BC subfield. */
    case object Gzip extends Format
    /** Anything else — plain bytes/text. */
    case object Plain extends Format

    def textish(f: Format): Boolean =
      f == BgzfText || f == Gzip || f == Plain
  }

  /** [[sniff]] result: the layout's format plus its resolved member
    * files, so dispatchers can route on file count/size without a
    * second listing.
    */
  private[graft] case class Sniffed(format: Format,
                                    files: Seq[(String, Long)])

  /** Classify `path` (file, directory or glob) by CONTENT: every
    * resolved file's leading bytes are read — a BGZF signature
    * additionally inflates the FIRST member (≤64 KiB) for the
    * `BCF\2`/`BAM\1` payload magic. Genuinely mixed layouts (binary
    * shards next to text shards, BCF next to BAM) are a LOUD error —
    * no dispatch is right for both and the wrong half would parse to
    * silent garbage; a text-compatible mix (BGZF text next to plain
    * gzip next to raw) resolves to the codec text class, which every
    * whole-file text reader handles per file.
    *
    * Driver cost: BOUNDED — up to [[SniffSampleCap]] positioned reads
    * (8 threads): small layouts check every file, wide fleets check a
    * deterministic evenly-spaced sample (always including the first
    * and last file in path order), so a 10k-shard directory does not
    * reintroduce the driver-side O(files) open ceiling the distributed
    * planner exists to remove. Mixed-format detection past the cap is
    * therefore sampled — an unsampled odd file still fails loudly per
    * range at read time ("not a BGZF member"), just later.
    * `checkAll = false` probes only the first file (enough for header
    * metadata like sample names, where shards share the header).
    * An empty directory answers Plain with no files.
    */
  private[sources] val SniffSampleCap = 64

  private[graft] def sniff(spark: SparkSession, path: String,
                           checkAll: Boolean = true): Sniffed = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = resolveFiles(spark, path)
    if (files.isEmpty) return Sniffed(Format.Plain, files)
    val toCheck =
      if (!checkAll) files.take(1)
      else if (files.size <= SniffSampleCap) files
      else {
        // evenly spaced deterministic sample, endpoints pinned
        val n = files.size
        (0 until SniffSampleCap)
          .map(i => files(((i.toLong * (n - 1)) /
            (SniffSampleCap - 1)).toInt))
          .distinct
      }
    val classes = parMap(toCheck, math.min(8, toCheck.size)) {
      case (fp, len) => (fp, sniffFile(conf, fp, len))
    }
    val head = classes.head
    val fmt =
      if (classes.forall(_._2 == head._2)) head._2
      else if (classes.forall(c => Format.textish(c._2))) Format.Gzip
      else {
        val other = classes.find(_._2 != head._2).get
        throw new IllegalArgumentException(
          s"mixed formats under $path: ${head._1} sniffs as " +
            s"${head._2} but ${other._1} sniffs as ${other._2} — a " +
            "directory must hold one container family; split it or " +
            "read the files through their explicit sources")
      }
    Sniffed(fmt, files)
  }

  /** One file's [[Format]] from its leading bytes. Unreadable/corrupt
    * leading bytes class as Plain — the downstream reader then fails
    * loudly on the full parse instead of here.
    */
  private def sniffFile(conf: org.apache.hadoop.conf.Configuration,
                        fp: String, len: Long): Format = {
    val p = new org.apache.hadoop.fs.Path(fp)
    val in = p.getFileSystem(conf).open(p)
    try {
      val hdr = preadAt(in, 0L, 18, len)
      if (hdr.length >= 18 && sigAt(hdr, 0)) {
        val bs = bsizeAt(hdr, 0)
        val payload =
          try inflateMember(preadAt(in, 0L, bs, len))
          catch { case _: java.io.IOException => Array.emptyByteArray }
        if (payload.length >= 4 && payload(0) == 'B' &&
          payload(1) == 'C' && payload(2) == 'F' && payload(3) == 2)
          Format.Bcf
        else if (payload.length >= 4 && payload(0) == 'B' &&
          payload(1) == 'A' && payload(2) == 'M' && payload(3) == 1)
          Format.Bam
        else Format.BgzfText
      } else if (hdr.length >= 2 && hdr(0) == 0x1f.toByte &&
        hdr(1) == 0x8b.toByte) Format.Gzip
      else Format.Plain
    } catch {
      case _: java.io.IOException => Format.Plain
    } finally {
      try in.close() catch { case _: java.io.IOException => }
    }
  }

  /** Alignment honesty channel for the binary relations' partition
    * readers: a byte range that anchors a verified BGZF member chain but
    * aligns NO owned record emits nothing — legal when the range's
    * members hold only the interior of a record that started earlier
    * (common at test-sized splits, vanishing at the 32 MiB default), but
    * on a corrupt payload it is silent per-range data loss. Every such
    * range counts into a named accumulator (`graft.bcf.unaligned.ranges`
    * / `graft.bam.unaligned.ranges`, one per scan — visible in the Spark
    * UI and in each stage's accumulables); with
    * `spark.graft.strictAlign=true` the task THROWS instead — opt-in,
    * because legal spanning records trigger it when records approach
    * splitSize.
    */
  private[sources] case class AlignGuard(
      acc: org.apache.spark.util.LongAccumulator,
      strict: Boolean) extends Serializable {
    def unaligned(path: String, start: Long, end: Long): Unit = {
      if (acc != null) acc.add(1)
      if (strict) throw new IllegalStateException(
        s"no record chain aligned in the owned members of $path " +
          s"[$start,$end) — corrupt input, or records larger than " +
          "splitSize (spark.graft.strictAlign=true)")
    }
  }

  private[sources] def alignGuard(spark: SparkSession,
                                  name: String): AlignGuard =
    AlignGuard(spark.sparkContext.longAccumulator(name),
      spark.conf.get("spark.graft.strictAlign", "false").toBoolean)

  /** One binary container's record wire as the shared aligned-range
    * reader ([[alignedRecords]]) and region planner
    * ([[binaryRegionPlan]]) see it; BCF and BAM each define one. `D` is
    * what the header decode yields: the dictionaries the plausibility
    * test and the record decode read.
    */
  private[sources] abstract class RecordGrammar[D, R] extends Serializable {
    /** Magic, header and dictionaries from file offset 0: a cursor at
      * the first record, and the decoded header.
      */
    def header(in: org.apache.hadoop.fs.FSDataInputStream,
               len: Long): (MemberCursor, D)
    /** Contig names in dictionary order: the sort rank records carry. */
    def contigs(d: D): Array[String]
    /** Bytes [[plausibleChain]] needs at a candidate record start. */
    def peek: Int
    /** A chain of 4 plausible records at the cursor head (peek only). */
    def plausibleChain(cur: MemberCursor, d: D): Boolean
    /** Bytes of the length prologue every record starts with. */
    def prologue: Int
    /** Decode the record at the cursor head, consuming it. */
    def read(cur: MemberCursor, d: D): R
    /** [[sortKey]] of the aligned record at the cursor head; MaxValue
      * ranks it after every contig.
      */
    def probeKey(cur: MemberCursor): Long
    /** Index sidecars to try for `fp`, in order. */
    def sidecars(fp: String): Seq[(String,
      (org.apache.hadoop.conf.Configuration, String) => Tabix.Index)]
  }

  /** The records byte range `r` of a binary container OWNS. A record
    * belongs to the range in whose span its first byte's member starts;
    * the last owned record completes by inflating into the next range's
    * members. A range at offset 0 reads straight after the header with
    * no scan, so `splitSize` >= the file length reads each file whole on
    * one task. Any other range anchors at its first verified member and
    * scans the inflated stream byte by byte for a plausible record chain
    * (records carry no sync marker and legally span members); a range
    * whose owned members align none counts into `guard` and yields
    * nothing. Every range decodes the header from the file head.
    */
  private[sources] def alignedRecords[D, R](g: RecordGrammar[D, R],
      in: org.apache.hadoop.fs.FSDataInputStream, r: Range,
      guard: AlignGuard): Iterator[R] = {
    val (head, d) = g.header(in, r.len)
    val cur =
      if (r.start == 0L) head
      else {
        val first = scanMember(in, r.start, r.end, r.len)
        if (first < 0) { in.close(); return Iterator.empty }
        val c = new MemberCursor(in, r.len, first)
        if (!align(g, d, c, r.end)) {
          // owned members aligned no record: silent per-range loss on a
          // corrupt payload — count it (throw under strictAlign)
          guard.unaligned(r.path, r.start, r.end)
          in.close(); return Iterator.empty
        }
        c
      }
    new Iterator[R] {
      private var nextRec: R = _
      private var done = false
      advance()
      private def advance(): Unit =
        if (!cur.ensure(g.prologue) || cur.headMember >= r.end) {
          nextRec = null.asInstanceOf[R]; done = true; cur.close()
        } else nextRec = g.read(cur, d)
      override def hasNext: Boolean = !done
      override def next(): R = { val x = nextRec; advance(); x }
    }
  }

  /** Advance `cur` byte by byte to the first plausible record chain
    * whose member starts before `end`; false when there is none.
    */
  private def align[D](g: RecordGrammar[D, _], d: D, cur: MemberCursor,
                       end: Long): Boolean = {
    while (cur.ensure(g.peek) && cur.headMember < end) {
      if (g.plausibleChain(cur, d)) return true
      cur.drop(1)
    }
    false
  }

  /** First verified member start in [from, to), or -1. A member must
    * start within 64 KiB + header of any offset (members are capped),
    * so one bounded window suffices.
    */
  private def scanMember(in: org.apache.hadoop.fs.FSDataInputStream,
                         from: Long, to: Long, len: Long): Long = {
    val win = preadAt(in, from, (0x10000 + 2 * 18).min((to - from + 18)
      .min(Int.MaxValue.toLong).toInt.max(18)), len)
    var i = 0
    while (i + 18 <= win.length && from + i < to) {
      if (sigAt(win, i) && verified(in, win, from, i, len)) return from + i
      i += 1
    }
    -1L
  }

  /** A candidate is real when BSIZE chains to another signature (or to
    * EOF) — 10 fixed bytes + a verified link make payload collisions
    * practically impossible to mis-anchor on.
    */
  private def verified(in: org.apache.hadoop.fs.FSDataInputStream,
                       win: Array[Byte], winOff: Long, i: Int,
                       len: Long): Boolean = {
    val next = winOff + i + bsizeAt(win, i)
    if (next == len) return true
    if (next > len) return false
    val ni = (next - winOff).toInt
    if (ni >= 0 && ni + 18 <= win.length) sigAt(win, ni)
    else sigAt(preadAt(in, next, 18, len), 0)
  }

  /** Does the inflated byte immediately PRECEDING member `first` end
    * with '\n'? Back-scans a bounded window for the member chain that
    * links exactly to `first` and inflates it; empty chains (e.g. a
    * stray empty member) extend the window backward a few times before
    * conservatively answering false.
    */
  private def prevEndsWithNewline(
      in: org.apache.hadoop.fs.FSDataInputStream, first: Long,
      len: Long): Boolean = {
    var lo = math.max(0L, first - (0x10000 + 64))
    var attempts = 0
    while (attempts < 8) {
      val win = preadAt(in, lo, (first - lo).toInt, len)
      // earliest verified candidate whose forward chain hits `first`
      var i = 0
      var anchor = -1L
      while (anchor < 0 && i + 18 <= win.length) {
        if (sigAt(win, i)) {
          // walk the chain forward within the window
          var off = i.toLong
          var ok = true
          while (ok && lo + off < first) {
            val oi = off.toInt
            if (oi + 18 <= win.length && sigAt(win, oi))
              off += bsizeAt(win, oi)
            else ok = false
          }
          if (ok && lo + off == first) anchor = i.toLong
        }
        i += 1
      }
      if (anchor >= 0) {
        // walk the chain recording the LAST member with a nonzero
        // ISIZE (the uncompressed length in the member trailer — no
        // inflation needed to read it), then inflate only that one
        // member for its final byte. Inflating the whole chain here
        // made each driver-side probe O(window) inflations on
        // small-member files — the panel planner's hot path.
        var off = anchor
        var lastNonEmpty = -1
        while (lo + off < first) {
          val oi = off.toInt
          val bs = bsizeAt(win, oi)
          val isize = (win(oi + bs - 4) & 0xff) |
            ((win(oi + bs - 3) & 0xff) << 8) |
            ((win(oi + bs - 2) & 0xff) << 16) |
            ((win(oi + bs - 1) & 0xff) << 24)
          if (isize != 0) lastNonEmpty = oi
          off += bs
        }
        if (lastNonEmpty >= 0) {
          val bs = bsizeAt(win, lastNonEmpty)
          val body = inflateMember(java.util.Arrays.copyOfRange(
            win, lastNonEmpty, lastNonEmpty + bs))
          return body.nonEmpty && body(body.length - 1) == '\n'
        }
        // all-empty chain: look further back
      }
      if (lo == 0) return false
      lo = math.max(0L, lo - 0x10000)
      attempts += 1
    }
    false
  }

  /** The lines of one byte range, per the ownership rules above. */
  private def rangeLines(in: org.apache.hadoop.fs.FSDataInputStream,
                         r: Range): Iterator[String] = {
    val first =
      if (r.start == 0L) 0L else scanMember(in, r.start, r.end, r.len)
    if (first < 0) { in.close(); return Iterator.empty }
    val skipFirst =
      r.start > 0 && !prevEndsWithNewline(in, first, r.len)
    new Iterator[String] {
      private var memberOff = first
      private var buf: Array[Byte] = Array.emptyByteArray
      private var bufMemberStart = first
      private var pos = 0
      private var nextLine: String = _
      private var done = false
      private var skipped = !skipFirst

      /** Advance to the next unread byte; false at EOF. Tracks which
        * member the byte came from (ownership).
        */
      private def ensureByte(): Boolean = {
        while (pos >= buf.length) {
          if (memberOff >= r.len) return false
          val hdr = preadAt(in, memberOff, 18, r.len)
          require(sigAt(hdr, 0),
            s"not a BGZF member at offset $memberOff of ${r.path}")
          val bs = bsizeAt(hdr, 0)
          val member = preadAt(in, memberOff, bs, r.len)
          buf = inflateMember(member)
          bufMemberStart = memberOff
          memberOff += bs
          pos = 0
        }
        true
      }

      /** Read one '\n'-terminated line from the cursor (crossing
        * members freely), or null at EOF with nothing read. Bytes
        * accumulate raw and decode as UTF-8 in one shot — per-byte
        * `toChar` would sign-extend multibyte content (legal in VCF
        * headers/sample names) into garbage chars, diverging from
        * `spark.read.text`'s decode of the same file.
        */
      private def readLine(): String = {
        if (!ensureByte()) return null
        // fast path: the whole line sits in the current member's
        // buffer — scan for '\n' and decode the slice in one shot (the
        // per-byte copy loop below only pays for the rare line that
        // crosses a member boundary)
        var i = pos
        while (i < buf.length && buf(i) != '\n') i += 1
        if (i < buf.length) {
          var end = i
          // strip the \r of a \r\n terminator only — mid-line \r is data
          if (end > pos && buf(end - 1) == '\r') end -= 1
          val s = new String(buf, pos, end - pos,
            java.nio.charset.StandardCharsets.UTF_8)
          pos = i + 1
          return s
        }
        var bytes = new Array[Byte](math.max(80, (buf.length - pos) * 2))
        var n = buf.length - pos
        System.arraycopy(buf, pos, bytes, 0, n)
        pos = buf.length
        var terminated = false
        while (!terminated && ensureByte()) {
          val c = buf(pos); pos += 1
          if (c == '\n') terminated = true
          else {
            if (n == bytes.length)
              bytes = java.util.Arrays.copyOf(bytes, n * 2)
            bytes(n) = c; n += 1
          }
        }
        if (n > 0 && bytes(n - 1) == '\r') n -= 1
        new String(bytes, 0, n, java.nio.charset.StandardCharsets.UTF_8)
      }

      private def advance(): Unit = {
        if (!skipped) { readLine(); skipped = true }
        // a line is owned iff its FIRST byte inflates from a member
        // that starts inside this range
        if (!ensureByte() || bufMemberStart >= r.end) {
          nextLine = null; done = true; in.close()
        } else {
          nextLine = readLine()
          if (nextLine == null) { done = true; in.close() }
        }
      }

      advance()
      override def hasNext: Boolean = !done
      override def next(): String = {
        val l = nextLine; advance(); l
      }
    }
  }

  // ---------------------------------------------------- region pushdown
  /** Positions are int32 in every container. */
  private val MaxPos = Int.MaxValue.toLong

  /** The sort key every container bisects on: contig rank in the high
    * 32 bits, the 1-based position SATURATED into [0, 2^31-1] in the
    * low, so a degenerate Long bound (end = Long.MaxValue "to end of
    * chrom", a pushed pos > 2^31-class filter) clamps instead of
    * bleeding into the rank bits.
    */
  private[sources] def sortKey(rank: Long, pos: Long): Long =
    (rank << 32) | math.max(0L, math.min(pos, MaxPos))

  /** The key range of one region under overlap semantics: the start
    * clamps into [0, 2^31-1] first, then backs off by `maxSpan` bases
    * (records that start before the region and span into it), never
    * below 0.
    */
  private[sources] def keyRange(rank: Int, start: Long, end: Long,
                                maxSpan: Long): (Long, Long) = {
    val s0 = math.min(math.max(start, 0L), MaxPos)
    val span = math.max(0L, maxSpan)
    (sortKey(rank, if (span >= s0) 0L else s0 - span), sortKey(rank, end))
  }

  /** One file's pruned byte window — the planning unit of the region
    * reads: `[fromByte, toByte)` of `path`, plus how many members the
    * binary search(es) inflated to find it (the O(log n) the specs pin,
    * ≪ total members). Shards of a sorted sharded layout each get their
    * own windows; [[mergeWindows]] coalesces overlaps.
    */
  private[graft] case class FileWindow(path: String, fileLen: Long,
                                       fromByte: Long, toByte: Long,
                                       probes: Int)

  /** Binary-search a KEY-SORTED BGZF text file for the byte window
    * containing all data lines with key in [fromKey, toKey] — the
    * tabix access pattern without a .tbi, through [[regionWindows]]
    * with a [[lineProbe]]. `keyOf` maps a line to its sort key, or None
    * for non-data lines (headers) — which therefore must only appear at
    * the file head, and data lines must be sorted by the key (exactly
    * the sortedness tabix requires).
    */
  private[graft] def regionWindow(spark: SparkSession, path: String,
                                  keyOf: String => Option[Long],
                                  fromKey: Long,
                                  toKey: Long): FileWindow = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(conf).getFileStatus(p)
    require(st.isFile, s"region read wants a single file: $path")
    regionWindows(conf, path, st.getLen, lineProbe(path, st.getLen, keyOf),
      Seq((fromKey, toKey)), 1).head
  }

  /** The first-owned-key probe of a text container: the key of the
    * first data line member `m` OWNS (its first byte inflates from `m`,
    * the ownership rule of [[rangeLines]], so boundary lines are never
    * skipped past), reading forward across members as needed; MaxValue
    * when no data line starts at or after `m`.
    */
  private[sources] def lineProbe(path: String, len: Long,
      keyOf: String => Option[Long])
    : (org.apache.hadoop.fs.FSDataInputStream, Long) => Long =
    (in, m) => {
      val it = rangeLines(in, Range(path, m, len, len))
      var k = Long.MaxValue
      var found = false
      while (!found && it.hasNext) keyOf(it.next()) match {
        case Some(x) => k = x; found = true
        case None =>
      }
      k
    }

  /** Driver-side fixed-pool map for PLANNING fan-out (per-file
    * bisections across a shard fleet, per-region searches across a
    * panel): bounded threads, original order preserved, first failure
    * rethrown unwrapped. Sequential when it can't help.
    */
  private[sources] def parMap[A, B](items: Seq[A], parallelism: Int)(
      f: A => B): Seq[B] =
    if (items.size <= 1 || parallelism <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, items.size))
      try {
        val futures = items.map { a =>
          pool.submit(new java.util.concurrent.Callable[B] {
            override def call(): B = f(a)
          })
        }
        try futures.map(_.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // cancel the siblings and BRIEFLY drain the pool before
            // rethrowing: the caller's finally may close handles sibling
            // searches still hold, turning one real failure into spurious
            // secondary IOExceptions in pool threads. A few seconds is
            // enough for cancelled siblings to release handles — a probe
            // stuck in an uninterruptible FS read must not delay
            // surfacing the REAL failure by a minute (the caller's
            // finally tolerates late closes)
            futures.foreach(_.cancel(true))
            pool.shutdownNow()
            pool.awaitTermination(5,
              java.util.concurrent.TimeUnit.SECONDS)
            throw e.getCause
        }
      } finally pool.shutdown()
    }

  /** Per-file region-planning fan-out shared by the three container
    * planners: below `spark.graft.planDistributeThreshold` (default
    * 4096 file×region probe-searches) the per-file bisections run on
    * bounded DRIVER threads exactly as before; past it — a dense panel
    * over a large shard fleet, where driver-side planning is the
    * documented 100× ceiling (~1M positioned reads for 100 regions ×
    * 1000 shards through 8 threads) — they run as ONE small Spark job,
    * each task planning its own file with the identical
    * Configuration-based code. `collect()` preserves file order, so
    * the distributed plan is byte-identical to the driver plan
    * (RegionSpec pins the parity). `f` gets (conf, path, len,
    * regionParallelism) — regionParallelism is 1 off-driver (tasks ARE
    * the parallelism) and when fanning out across files.
    */
  private[sources] def planFiles[T](spark: SparkSession,
      files: Seq[(String, Long)], nRegions: Int)(
      f: (org.apache.hadoop.conf.Configuration, String, Long, Int) => T)(
      implicit ct: scala.reflect.ClassTag[T]): Seq[T] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val threshold = spark.conf
      .get("spark.graft.planDistributeThreshold", "4096").toLong
    if (files.size > 1 && files.size.toLong * math.max(1, nRegions) >
      threshold) {
      val hconf = new org.apache.spark.SerializableWritable(
        new org.apache.hadoop.conf.Configuration(conf))
      spark.sparkContext
        .parallelize(files, math.min(files.size, 64))
        .map { case (fp, len) => f(hconf.value, fp, len, 1) }
        .collect().toSeq
    } else {
      val filePar = math.min(8, files.size)
      val regionPar = if (files.size > 1) 1 else 8
      parMap(files, filePar) { case (fp, len) =>
        f(conf, fp, len, regionPar)
      }
    }
  }

  /** Driver-side byte plan of a BINARY container's region read (BCF,
    * BAM). Per file, fanned out by [[planFiles]] and recombined in file
    * order so the plan is deterministic: the header decode, then a
    * usable sidecar index (zero probes, exact spans past the maxSpan
    * back-off, ref ids resolved through THIS file's dictionary) or one
    * [[regionWindows]] search over `g`'s record-alignment probe. Binary
    * contig dictionaries are closed — a chrom the file's dictionary
    * lacks cannot appear in its records — so that (file, region) pair
    * plans nothing. A file whose probes prove it unsorted reads whole.
    * The windows merge per file.
    */
  private[sources] def binaryRegionPlan[D](spark: SparkSession,
      path: String, g: RecordGrammar[D, _],
      regions: Seq[(String, Long, Long)], maxSpan: Long): Vcf.RegionPlan = {
    val useIndex =
      spark.conf.get("spark.graft.useIndex", "true").toBoolean
    val windows = planFiles(spark, resolveFiles(spark, path),
      regions.size) { (conf, fp, len, regionPar) =>
      val p = new org.apache.hadoop.fs.Path(fp)
      val in = p.getFileSystem(conf).open(p)
      val d = try g.header(in, len)._2 finally closeQuietly(in)
      val contigs = g.contigs(d)
      val rank = (c: String) => Some(contigs.indexOf(c)).filter(_ >= 0)
      val index =
        if (useIndex) Tabix.sidecar(conf, fp, g.sidecars(fp)) else None
      index match {
        case Some(idx) => Tabix.queryWindows(idx, fp, len, regions, rank)
        case None =>
          val keyRanges = regions.flatMap { case (c, start, end) =>
            rank(c).map(keyRange(_, start, end, maxSpan))
          }
          // first owned record key at member `m`: the partition
          // readers' alignment from the member's first byte
          val probe = (in: org.apache.hadoop.fs.FSDataInputStream,
                       m: Long) => {
            val cur = new MemberCursor(in, len, m)
            if (align(g, d, cur, Long.MaxValue)) g.probeKey(cur)
            else Long.MaxValue
          }
          if (keyRanges.isEmpty) Seq.empty
          else try regionWindows(conf, fp, len, probe, keyRanges, regionPar)
          catch {
            // probe-key inversion: the whole file, no partial windows
            // (they'd double-count its rows)
            case _: UnsortedFile => Seq(FileWindow(fp, len, 0L, len, 0))
          }
      }
    }.flatten
    Vcf.RegionPlan(mergeWindows(windows), Seq.empty,
      windows.map(_.probes).sum)
  }

  /** Bisect one KEY-SORTED file for each of `keyRanges` — the one
    * region search of the three containers. `firstOwnedKey(in, m)` is
    * the container's probe: the sort key of the first record OWNED by
    * member `m` (MaxValue past the last record) — [[lineProbe]] for
    * text, record alignment for BCF/BAM. Three levers: per-member
    * MEMOIZATION of both probe kinds (a panel's searches all start at
    * the same midpoint members, so the memo turns 2·regions·log n probes
    * into the distinct-member count), shared handles (one positioned-
    * read handle per thread, probes get a close-suppressing view), and
    * BOUNDED PARALLELISM across the searches (`parallelism` threads;
    * callers already fanning out per FILE pass 1). Configuration-based:
    * [[planFiles]] may run it on executors, where there is no
    * SparkSession.
    *
    * Sortedness is VERIFIED, not assumed ([[monotonicProbe]]): any
    * probe-key inversion throws [[UnsortedFile]], which the planners
    * catch as a full-scan fallback — an unsorted file must degrade to
    * the always-correct unpruned read, never silently drop rows.
    */
  private[graft] def regionWindows(
      conf: org.apache.hadoop.conf.Configuration, path: String, len: Long,
      firstOwnedKey: (org.apache.hadoop.fs.FSDataInputStream, Long) => Long,
      keyRanges: Seq[(Long, Long)], parallelism: Int): Seq[FileWindow] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val handles =
      new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.hadoop.fs.FSDataInputStream]()
    val local =
      new ThreadLocal[org.apache.hadoop.fs.FSDataInputStream] {
        override def initialValue()
          : org.apache.hadoop.fs.FSDataInputStream = {
          val h = fs.open(p)
          handles.add(h)
          h
        }
      }
    try {
      val keyMemo = new java.util.concurrent.ConcurrentHashMap[
        java.lang.Long, java.lang.Long]()
      val memberMemo = new java.util.concurrent.ConcurrentHashMap[
        java.lang.Long, java.lang.Long]()
      def nextMember(mid: Long): Long =
        memberMemo.computeIfAbsent(Long.box(mid),
          _ => Long.box(scanMember(local.get(), mid, len, len)))
      val checkedKey = monotonicProbe(path, m =>
        keyMemo.computeIfAbsent(Long.box(m),
          _ => Long.box(firstOwnedKey(noCloseView(local.get()), m))))
      parMap(keyRanges, parallelism) { case (fromKey, toKey) =>
        searchWindow(path, len, nextMember, checkedKey, fromKey, toKey)
      }
    } finally handles.forEach(closeQuietly(_))
  }

  /** Close, ignoring an IOException: cleanup after the real outcome. */
  private[sources] def closeQuietly(c: java.io.Closeable): Unit =
    try c.close() catch { case _: java.io.IOException => }

  /** A close-suppressing view of a positioned-read stream: driver-side
    * probe machinery shares ONE handle per thread across probes (whose
    * iterators close their stream at EOF). The caller owns and closes
    * the underlying handle.
    */
  private def noCloseView(in: org.apache.hadoop.fs.FSDataInputStream)
    : org.apache.hadoop.fs.FSDataInputStream =
    new org.apache.hadoop.fs.FSDataInputStream(new NoCloseStream(in))

  private class NoCloseStream(in: org.apache.hadoop.fs.FSDataInputStream)
    extends java.io.FilterInputStream(in)
    with org.apache.hadoop.fs.Seekable
    with org.apache.hadoop.fs.PositionedReadable {
    override def close(): Unit = ()
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean =
      in.seekToNewSource(targetPos)
    override def read(position: Long, buffer: Array[Byte], offset: Int,
                      length: Int): Int =
      in.read(position, buffer, offset, length)
    override def readFully(position: Long, buffer: Array[Byte],
                           offset: Int, length: Int): Unit =
      in.readFully(position, buffer, offset, length)
    override def readFully(position: Long,
                           buffer: Array[Byte]): Unit =
      in.readFully(position, buffer)
  }

  /** Thrown when bisection probes observe OUT-OF-ORDER keys: the file
    * violates the sorted contract the window bisection (and tabix)
    * assumes, so its windows cannot be trusted — planners catch this
    * and fall back to a full scan of THAT file (always correct, just
    * unpruned). Detection is probe-based: it fires exactly when the
    * searches that would have mis-bisected actually observe disorder,
    * at zero extra I/O. A file whose probed members happen to be
    * mutually ordered can still pass — but files below the 128 KiB
    * search floor are never probed at all (whole-file window, trivially
    * correct), and real unsorted data disorders the probe sequence
    * almost immediately at bisection's exponentially-spread offsets.
    */
  private[graft] final class UnsortedFile(val path: String,
      m1: Long, k1: Long, m2: Long, k2: Long)
    extends RuntimeException(
      s"$path is not coordinate-sorted: member at byte $m1 keys $k1 " +
        s"but member at byte $m2 keys $k2 — region bisection needs " +
        "tabix sort order; falling back to a full scan")

  /** Wrap a first-owned-key probe with a monotonicity check across ALL
    * probes of one file (thread-safe — panel searches fan out): on a
    * sorted file the probe function is non-decreasing in member offset,
    * so any inversion proves the sort contract broken and throws
    * [[UnsortedFile]]. MaxValue probes (no data at/after the member)
    * participate — data appearing AFTER an end-of-data probe is just as
    * much an inversion.
    */
  private[graft] def monotonicProbe(path: String,
      f: Long => Long): Long => Long = {
    val seen = new java.util.concurrent.ConcurrentSkipListMap[
      java.lang.Long, java.lang.Long]()
    (m: Long) => {
      val k = f(m)
      seen.put(Long.box(m), Long.box(k))
      val lo = seen.floorEntry(Long.box(m - 1))
      if (lo != null && lo.getValue > k)
        throw new UnsortedFile(path, lo.getKey, lo.getValue, m, k)
      val hi = seen.ceilingEntry(Long.box(m + 1))
      if (hi != null && hi.getValue < k)
        throw new UnsortedFile(path, m, k, hi.getKey, hi.getValue)
      k
    }
  }

  /** Coalesce overlapping/adjacent windows per file so every byte reads
    * at most once — a multi-region panel whose regions' windows touch
    * (or whose searches bottom out on the same 128 KiB floor) scans one
    * merged window, not N copies. Probe counts sum through merges, so
    * the plan's total stays honest for the O(regions · log n) asserts.
    */
  private[graft] def mergeWindows(ws: Seq[FileWindow]): Seq[FileWindow] =
    ws.groupBy(_.path).toSeq.sortBy(_._1).flatMap { case (_, group) =>
      group.sortBy(w => (w.fromByte, w.toByte))
        .foldLeft(List.empty[FileWindow]) { (acc, w) =>
          acc match {
            case cur :: rest if w.fromByte <= cur.toByte =>
              cur.copy(toByte = math.max(cur.toByte, w.toByte),
                probes = cur.probes + w.probes) :: rest
            case _ => w :: acc
          }
        }.reverse
    }

  /** The bisection behind [[regionWindows]], for one key range:
    * `nextMember(mid)` = first verified member start at or after `mid`
    * (or -1), `firstOwnedKey(m)` = sort key of the first record OWNED
    * by member `m` (MaxValue past the last record).
    *
    * Window contracts (both proven by the key-monotonicity of sorted
    * files): every record with key >= fromKey starts in a member at or
    * after `fromByte`; every record with key <= toKey starts in a member
    * strictly before `toByte`. Records outside [fromKey, toKey] can
    * still fall inside the window (up to one member chain + the search
    * slack) — callers re-filter after parsing.
    *
    * Invariants: lo is 0 or a verified member start whose first owned
    * key < target; every member starting at or after hi has first
    * owned key >= target. Each step either halves [lo, hi) or moves
    * the probed member bound (members are <= 64 KiB, so the window
    * shrinks geometrically until the 128 KiB floor — 2x the member
    * bound, below which a bisection step can't be proven to progress).
    */
  private def searchWindow(path: String, len: Long,
                           nextMember: Long => Long,
                           firstOwnedKey: Long => Long, fromKey: Long,
                           toKey: Long): FileWindow = {
    def search(target: Long): (Long, Long, Int) = {
      var lo = 0L
      var hi = len
      var probes = 0
      while (hi - lo > 0x20000L) {
        val mid = lo + (hi - lo) / 2
        val m = nextMember(mid)
        if (m < 0 || m >= hi) hi = mid
        else {
          probes += 1
          if (firstOwnedKey(m) < target) lo = m else hi = m
        }
      }
      (lo, hi, probes)
    }
    val (fromByte, _, p1) = search(fromKey)
    val (_, toByte, p2) = search(toKey + 1)
    FileWindow(path, len, fromByte, math.max(toByte, fromByte), p1 + p2)
  }

  /** Executor-side sharded-sink scaffold shared by [[Bam.writeSharded]]
    * and [[Bcf.writeSharded]]: one complete file per input partition
    * under `dir`, each streamed through a [[BlockWriter]] after the
    * shared `hdr` bytes (O(blockSize) task memory). Output COMMIT is by
    * atomic rename from an attempt-scoped temp under `_temporary/`:
    * concurrent attempts of one partition (speculative duplicates,
    * zombie tasks surviving a stage retry) can never interleave bytes
    * in a final shard — exactly one attempt wins the rename, losers
    * discard their temp; a bare `fs.create(final, overwrite)` would
    * let two writers corrupt the shard silently. `_temporary` is a
    * subdirectory, so directory readers (which list FILES) never see
    * half-written temps; it is removed after the job completes.
    *
    * Re-runs OVERWRITE: any `part-*ext` shard already in `dir` is a
    * leftover of a PREVIOUS job and is deleted driver-side before the
    * write starts, so the executor-side exists-check below only ever
    * sees a sibling attempt of THIS job (whose content is identical by
    * the write path's determinism) — keeping the rename-race protection
    * without letting stale shards from an earlier run win.
    */
  private[graft] def writeShards(
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row],
      dir: String, ext: String, hdr: Array[Byte], blockSize: Int)(
      rowBytes: org.apache.spark.sql.Row => Array[Byte]): Unit = {
    val sc = rows.sparkContext
    val hconf = new org.apache.spark.SerializableWritable(
      new org.apache.hadoop.conf.Configuration(sc.hadoopConfiguration))
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val dfs = dirPath.getFileSystem(sc.hadoopConfiguration)
    if (dfs.exists(dirPath))
      dfs.listStatus(dirPath).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && n.startsWith("part-") && n.endsWith(ext))
          dfs.delete(st.getPath, false)
      }
    dfs.mkdirs(new org.apache.hadoop.fs.Path(dirPath, "_temporary"))
    rows.foreachPartition { it =>
      val tc = org.apache.spark.TaskContext.get()
      val pid = tc.partitionId()
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(hconf.value)
      val fin = new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d$ext")
      val tmp = new org.apache.hadoop.fs.Path(dir,
        f"_temporary/part-$pid%05d$ext.attempt-${tc.taskAttemptId()}")
      val out = fs.create(tmp, true)
      try {
        val bw = new BlockWriter(out, blockSize)
        bw.write(hdr)
        it.foreach(r => bw.write(rowBytes(r)))
        bw.finish()
      } finally out.close()
      // commit: exactly one attempt renames into place; a loser (the
      // shard already exists — its content is identical by the
      // write-path's determinism) discards its temp
      if (fs.exists(fin)) fs.delete(tmp, false)
      else if (!fs.rename(tmp, fin)) {
        val won = fs.exists(fin)
        fs.delete(tmp, false)
        require(won, s"shard commit failed: $fin")
      }
    }
    dfs.delete(new org.apache.hadoop.fs.Path(dirPath, "_temporary"), true)
  }

  /** BGZF-compress `raw` in ≤ `blockSize` uncompressed chunks + EOF. */
  def compress(raw: Array[Byte], blockSize: Int = 0xff00): Array[Byte] = {
    val out = new ByteArrayOutputStream(raw.length / 2 + 64)
    var off = 0
    while (off < raw.length) {
      val n = math.min(blockSize, raw.length - off)
      writeMember(out, raw, off, n)
      off += n
    }
    out.write(Eof)
    out.toByteArray
  }

  /** Streaming BGZF encoder over any OutputStream: buffers at most one
    * uncompressed block (≤ `blockSize` bytes), deflating full members
    * straight through — the executor-side building block the sharded
    * BAM/BCF sinks write each partition's file with, so a shard of any
    * size costs O(blockSize) memory, never O(shard). `finish()` flushes
    * the tail block and the EOF member; the caller owns/closes `out`.
    */
  final class BlockWriter(out: java.io.OutputStream,
                          blockSize: Int = 0xff00) {
    require(blockSize > 0 && blockSize <= 0xff00,
      s"BGZF blockSize must be in (0, 0xff00]: $blockSize")
    private val buf = new Array[Byte](blockSize)
    private var n = 0

    def write(bytes: Array[Byte]): Unit = write(bytes, 0, bytes.length)

    def write(bytes: Array[Byte], off: Int, len: Int): Unit = {
      var o = off
      var rem = len
      while (rem > 0) {
        val take = math.min(rem, blockSize - n)
        System.arraycopy(bytes, o, buf, n, take)
        n += take; o += take; rem -= take
        if (n == blockSize) flushBlock()
      }
    }

    private def flushBlock(): Unit = if (n > 0) {
      val m = new ByteArrayOutputStream(n / 2 + 64)
      writeMember(m, buf, 0, n)
      m.writeTo(out)
      n = 0
    }

    def finish(): Unit = { flushBlock(); out.write(Eof) }
  }
  /** A forward cursor over the inflated stream from one anchored
    * member: bounded lookahead (`ensure`/`byte`/`le32` peek), `drop`/
    * `read` consume, `headMember` = the compressed start offset of the
    * member the head byte inflated from (record ownership). Consumed
    * bytes compact away, so memory is bounded by the lookahead (a few
    * records), not the range.
    */
  private[sources] class MemberCursor(in: org.apache.hadoop.fs.FSDataInputStream,
                       fileLen: Long, firstMember: Long) {
    private var buf = new Array[Byte](0)
    private var bufLen = 0
    private var headPos = 0
    // (offsetInBuf, memberStart) marks for appended chunks
    private var marks = List.empty[(Int, Long)]
    private var nextMemberOff = firstMember

    def headMember: Long =
      marks.takeWhile(_._1 <= headPos).lastOption.map(_._2)
        .getOrElse(firstMember)

    /** The head byte's VIRTUAL offset (memberStart << 16 | offset
      * within that member's inflated block) — what the index builders
      * record per record. A head sitting exactly on a member boundary
      * attributes to the NEW member (uoffset 0), matching htslib's
      * post-read file-position convention.
      */
    def headVOffset: Long = {
      val (mo, ms) = marks.takeWhile(_._1 <= headPos).lastOption
        .getOrElse((0, firstMember))
      (ms << 16) | ((headPos - mo) & 0xffffL)
    }

    def le16(k: Int): Int =
      (byte(k) & 0xff) | ((byte(k + 1) & 0xff) << 8)

    def ensure(n: Int): Boolean = {
      while (bufLen - headPos < n) {
        if (nextMemberOff >= fileLen) return false
        val hdr = new Array[Byte](18)
        val h = math.min(18L, fileLen - nextMemberOff).toInt
        in.readFully(nextMemberOff, hdr, 0, h)
        require(h == 18 && hdr(0) == 0x1f.toByte &&
          hdr(1) == 0x8b.toByte && hdr(12) == 0x42 && hdr(13) == 0x43,
          s"not a BGZF member at offset $nextMemberOff")
        val bs = ((hdr(16) & 0xff) | ((hdr(17) & 0xff) << 8)) + 1
        val member = new Array[Byte](bs)
        in.readFully(nextMemberOff, member, 0, bs)
        val inflated = inflateMember(member)
        if (headPos > 0 && headPos == bufLen) {
          // cheap compaction point: everything consumed
          buf = new Array[Byte](0); bufLen = 0; headPos = 0
          marks = Nil
        } else if (headPos > (1 << 20)) {
          // sliding compaction: keep the unconsumed tail
          val keep = java.util.Arrays.copyOfRange(buf, headPos, bufLen)
          val headM = headMember
          buf = keep; bufLen = keep.length
          marks = (0, headM) ::
            marks.filter(_._1 > headPos).map(m => (m._1 - headPos, m._2))
          headPos = 0
        }
        if (bufLen + inflated.length > buf.length) {
          val grown = new Array[Byte](
            math.max(buf.length * 2, bufLen + inflated.length))
          System.arraycopy(buf, 0, grown, 0, bufLen)
          buf = grown
        }
        if (inflated.nonEmpty) {
          marks = marks :+ ((bufLen, nextMemberOff))
          System.arraycopy(inflated, 0, buf, bufLen, inflated.length)
          bufLen += inflated.length
        }
        nextMemberOff += bs
      }
      true
    }

    def byte(k: Int): Byte = buf(headPos + k)
    def le32(k: Int): Int =
      (byte(k) & 0xff) | ((byte(k + 1) & 0xff) << 8) |
        ((byte(k + 2) & 0xff) << 16) | ((byte(k + 3) & 0xff) << 24)
    def drop(n: Int): Unit = {
      require(ensure(n), "truncated BAM stream")
      headPos += n
    }
    def read(n: Int): Array[Byte] = {
      require(ensure(n), "truncated BAM stream")
      val out = java.util.Arrays.copyOfRange(buf, headPos, headPos + n)
      headPos += n
      out
    }
    def close(): Unit = in.close()
  }

}
