package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.GZIPInputStream

/** Genomic index sidecar support — tabix `.tbi`, CSI `.csi`, and BAM
  * `.bai`: read, WRITE, and region query, from the public tabix/SAM
  * spec wire formats (no external libs).
  *
  * The engine's index-free bisection stays the default ([[Vcf
  * .readRegion]]'s O(log members) probes), but real cohort data ships
  * with sidecar indexes, and when one is present the planners use it:
  * ZERO probe reads (the index IS the plan) and EXACT spans — the
  * index bins records by their full (beg, end) intervals, so a REF
  * allele (or read alignment) longer than the bisection's `maxSpan`
  * back-off is still found (the one documented divergence class of
  * the probe path). A queried chrom absent from the index cannot have
  * records in the file, so it prunes to nothing exactly.
  *
  * Binning: the generalized (min_shift, depth) R-tree of the CSI
  * spec; TBI/BAI fix (14, 5) — bins 0, 1-8, 9-72, 73-584, 585-4680,
  * 4681-37448 plus the 16 kb linear index; CSI carries a per-bin
  * `loff` floor instead of the linear array. Virtual file offsets
  * pack (memberStart << 16 | intraMemberOffset).
  *
  * Chunk → byte window: our range readers own every record whose
  * FIRST byte inflates from a member starting inside the window, so a
  * chunk ((cb,ub),(ce,ue)) maps to the member-granular superset
  * `[cb, ce + (ue>0 ? 1 : 0))` — overhang rows are invisible behind
  * the re-applied filters, exactly like the bisection's
  * member-boundary overhang. [[Bgzf.mergeWindows]] coalesces adjacent
  * chunks' windows so no byte reads twice.
  *
  * Writers: [[indexVcfGz]] is `tabix -p vcf` (one streaming pass,
  * `.tbi`); `Bam.writeIndex` / `Bcf.writeIndex` build `.bai` / `.csi`
  * through the shared [[Builder]]. A stale sidecar (older mtime than
  * its data file) is ignored with a stderr warning — reading one
  * silently returns wrong rows, the worst failure class.
  *
  * Reference anchor: the reference pipeline consumes exactly this
  * layout (per-chrom `.vcf.gz` + `.tbi`, /root/reference/Snakefile).
  */
object Tabix {

  /** One chunk of records: packed virtual offsets [beg, end). */
  private[sources] case class Chunk(beg: Long, end: Long)

  /** One bin: its CSI `loff` floor (0 = none) + chunks. */
  private[sources] case class BinEntry(loff: Long, chunks: Seq[Chunk])

  /** One reference sequence's share: bins + the TBI/BAI linear index
    * (empty for CSI — its floor lives per bin) + the pseudo-bin's
    * (n_mapped, n_unmapped) stats when the index carries them (the
    * `samtools idxstats` numbers — zero data bytes to answer).
    */
  private[sources] case class RefIndex(bins: Map[Int, BinEntry],
                                       linear: Array[Long],
                                       stats: Option[(Long, Long)] = None)

  /** A parsed index. `names` is empty for `.bai` and name-less `.csi`
    * — record-carried ref ids resolve through the DATA file's own
    * dictionary instead. `noCoor` = the BAI trailing placeless-
    * unmapped count (0 when absent).
    */
  private[sources] case class Index(names: Seq[String],
                                    refs: IndexedSeq[RefIndex],
                                    minShift: Int, depth: Int,
                                    noCoor: Long = 0L) {
    lazy val nameToId: Map[String, Int] = names.zipWithIndex.toMap
  }

  private def coff(v: Long): Long = v >>> 16
  private def uoff(v: Long): Int = (v & 0xffff).toInt

  /** First invalid bin id — everything at or past this is a
    * pseudo-bin (BAI's 37450 stats bin for (14,5)).
    */
  private def binLimit(depth: Int): Int =
    (((1L << (3 * (depth + 1))) - 1) / 7).toInt

  // ------------------------------------------------------ binning

  /** CSI-generalized reg2bin over a 0-based half-open [beg, end). */
  private[graft] def reg2bin(beg: Long, end0: Long,
                               minShift: Int = 14, depth: Int = 5): Int = {
    val e = math.max(beg, end0 - 1)
    var l = depth
    while (l > 0) {
      val s = minShift + 3 * (depth - l)
      if (beg >> s == e >> s)
        return (((1L << (3 * l)) - 1) / 7 + (beg >> s)).toInt
      l -= 1
    }
    0
  }

  /** All bins overlapping 0-based half-open [beg, end). */
  private[sources] def reg2bins(beg: Long, end0: Long,
                                minShift: Int = 14,
                                depth: Int = 5): Seq[Int] = {
    val e = math.max(beg, end0 - 1)
    val out = Seq.newBuilder[Int]
    out += 0
    var l = 1
    while (l <= depth) {
      val s = minShift + 3 * (depth - l)
      val t = ((1L << (3 * l)) - 1) / 7
      var k = t + (beg >> s)
      while (k <= t + (e >> s)) { out += k.toInt; k += 1 }
      l += 1
    }
    out.result()
  }

  // ------------------------------------------------------ reading

  private def leBuf(bytes: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  private def readAll(conf: org.apache.hadoop.conf.Configuration,
                      path: String, gz: Boolean): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(conf).open(p)
    try {
      if (gz) new GZIPInputStream(in).readAllBytes()
      else {
        val out = new ByteArrayOutputStream()
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      }
    } finally in.close()
  }

  /** Shared bins-block parse: per ref `n_bin { bin [loff] n_chunk
    * chunks } [n_intv ioff]` — `csi` toggles the per-bin loff vs the
    * trailing linear array. Pseudo-bins (≥ binLimit) are dropped.
    */
  private def readRefs(b: ByteBuffer, nRef: Int, csi: Boolean,
                       depth: Int): IndexedSeq[RefIndex] =
    (0 until nRef).map { _ =>
      val nBin = b.getInt
      var stats: Option[(Long, Long)] = None
      val bins = (0 until nBin).map { _ =>
        val bin = b.getInt
        val loff = if (csi) b.getLong else 0L
        val nChunk = b.getInt
        val chunks = (0 until nChunk).map(_ => Chunk(b.getLong, b.getLong))
        // the stats pseudo-bin: chunk 1 = voffset span, chunk 2 =
        // (n_mapped, n_unmapped)
        if (bin >= binLimit(depth) && chunks.size == 2)
          stats = Some((chunks(1).beg, chunks(1).end))
        bin -> BinEntry(loff, chunks)
      }.filter(_._1 < binLimit(depth)).toMap
      val linear =
        if (csi) Array.empty[Long]
        else Array.fill(b.getInt)(b.getLong)
      RefIndex(bins, linear, stats)
    }

  /** Parse a `.tbi` sidecar (BGZF-wrapped, little-endian). */
  private[sources] def readTbi(
      conf: org.apache.hadoop.conf.Configuration,
      idxPath: String): Index = {
    val b = leBuf(readAll(conf, idxPath, gz = true))
    val magic = new Array[Byte](4); b.get(magic)
    require(magic(0) == 'T' && magic(1) == 'B' && magic(2) == 'I' && magic(3) == 1,
      s"$idxPath: not a tabix index")
    val nRef = b.getInt
    b.getInt // format (2 = VCF; generic presets parse identically)
    b.getInt; b.getInt; b.getInt // col_seq, col_beg, col_end
    b.getInt // meta
    b.getInt // skip
    val lNm = b.getInt
    val nm = new Array[Byte](lNm); b.get(nm)
    val names = new String(nm, "UTF-8").split("\u0000", -1).toSeq
      .filter(_.nonEmpty)
    require(names.size == nRef,
      s"$idxPath: $nRef refs but ${names.size} names")
    Index(names, readRefs(b, nRef, csi = false, depth = 5), 14, 5)
  }

  /** Parse a `.csi` sidecar (BGZF-wrapped). The aux block carries the
    * tabix config + names when the index came from `tabix -C` over
    * text; a BCF `.csi` has no aux — ref ids resolve through the BCF
    * header's own contig dictionary.
    */
  private[sources] def readCsi(
      conf: org.apache.hadoop.conf.Configuration,
      idxPath: String): Index = {
    val b = leBuf(readAll(conf, idxPath, gz = true))
    val magic = new Array[Byte](4); b.get(magic)
    require(magic(0) == 'C' && magic(1) == 'S' && magic(2) == 'I' && magic(3) == 1,
      s"$idxPath: not a CSI index")
    val minShift = b.getInt
    val depth = b.getInt
    val lAux = b.getInt
    val names =
      if (lAux >= 32) {
        // tabix-over-text aux: 7 int32 config words + l_nm + names
        val aux = new Array[Byte](lAux); b.get(aux)
        val ab = leBuf(aux)
        ab.getInt; ab.getInt; ab.getInt; ab.getInt; ab.getInt; ab.getInt
        val lNm = ab.getInt
        val nm = new Array[Byte](math.min(lNm, ab.remaining())); ab.get(nm)
        new String(nm, "UTF-8").split("\u0000", -1).toSeq
          .filter(_.nonEmpty)
      } else {
        b.position(b.position() + lAux)
        Seq.empty
      }
    val nRef = b.getInt
    Index(names, readRefs(b, nRef, csi = true, depth), minShift, depth)
  }

  /** Parse a `.bai` sidecar (RAW bytes — BAI is not compressed).
    * Names come from the BAM header's dictionary, not the index.
    */
  private[sources] def readBai(
      conf: org.apache.hadoop.conf.Configuration,
      idxPath: String): Index = {
    val b = leBuf(readAll(conf, idxPath, gz = false))
    val magic = new Array[Byte](4); b.get(magic)
    require(magic(0) == 'B' && magic(1) == 'A' && magic(2) == 'I' && magic(3) == 1,
      s"$idxPath: not a BAM index")
    val nRef = b.getInt
    val refs = readRefs(b, nRef, csi = false, depth = 5)
    val noCoor = if (b.remaining() >= 8) b.getLong else 0L
    Index(Seq.empty, refs, 14, 5, noCoor)
  }

  // ------------------------------------------------------ querying

  /** Merged chunk list for 1-based inclusive `start-end` on ref id
    * `rid`. The chunk floor comes from the linear index (TBI/BAI) or
    * the walk-to-parent bin `loff` (CSI); chunks ending at or before
    * it cannot contain overlapping records and drop out.
    */
  private[sources] def queryChunks(idx: Index, rid: Int,
                                   start: Long, end: Long): Seq[Chunk] = {
    if (rid < 0 || rid >= idx.refs.size) return Seq.empty
    val ref = idx.refs(rid)
    val beg0 = math.max(0L, start - 1)
    val end0 = math.max(beg0 + 1, end)
    val minOff =
      if (ref.linear.nonEmpty) {
        val w = (beg0 >> idx.minShift).toInt
        if (w < ref.linear.length) ref.linear(w)
        else ref.linear.last
      } else {
        // CSI: leaf bin containing beg, walking up to the first
        // ancestor that exists in the index
        val leafT = ((1L << (3 * idx.depth)) - 1) / 7
        var bin = (leafT + (beg0 >> idx.minShift)).toInt
        var res = 0L
        var go = true
        while (go) {
          ref.bins.get(bin) match {
            case Some(e) => res = e.loff; go = false
            case None =>
              if (bin == 0) go = false else bin = (bin - 1) >> 3
          }
        }
        res
      }
    val raw = reg2bins(beg0, end0, idx.minShift, idx.depth)
      .flatMap(ref.bins.get).flatMap(_.chunks)
      .filter(c => c.end > minOff)
      .sortBy(_.beg)
    raw.foldLeft(List.empty[Chunk]) { (acc, c) =>
      acc match {
        case h :: t if c.beg <= h.end =>
          h.copy(end = math.max(h.end, c.end)) :: t
        case _ => c :: acc
      }
    }.reverse
  }

  /** [[queryChunks]] rendered as the planner's member-granular byte
    * windows (probes = 0 — the index replaces the bisection).
    * `nameToRid` maps a region chrom to the file's ref id — the
    * index's own name table for TBI, the container's dictionary for
    * BAI/BCF-CSI; None = no records, pruned exactly.
    */
  private[sources] def queryWindows(idx: Index, fp: String, len: Long,
      regions: Seq[(String, Long, Long)],
      nameToRid: String => Option[Int]): Seq[Bgzf.FileWindow] =
    regions.flatMap { case (chrom, start, end) =>
      nameToRid(chrom).toSeq.flatMap { rid =>
        queryChunks(idx, rid, start, end).map { c =>
          val to = coff(c.end) + (if (uoff(c.end) > 0) 1L else 0L)
          Bgzf.FileWindow(fp, len, coff(c.beg), math.min(to, len), 0)
        }
      }
    }

  /** The first usable sidecar among `candidates`: present AND at
    * least as new as the data (a stale index silently returns wrong
    * rows — the worst failure class — so it is skipped loudly and the
    * caller falls back to the bisection).
    */
  private[sources] def sidecar(
      conf: org.apache.hadoop.conf.Configuration, fp: String,
      candidates: Seq[(String, (org.apache.hadoop.conf.Configuration,
        String) => Index)]): Option[Index] = {
    val dp = new org.apache.hadoop.fs.Path(fp)
    val fs = dp.getFileSystem(conf)
    candidates.iterator.flatMap { case (ip, reader) =>
      val p = new org.apache.hadoop.fs.Path(ip)
      if (!fs.exists(p)) None
      else if (fs.getFileStatus(p).getModificationTime <
        fs.getFileStatus(dp).getModificationTime) {
        System.err.println(s"[graft] ignoring stale index $ip " +
          "(older than its data file) — falling back to bisection")
        None
      } else
        try Some(reader(conf, ip))
        catch { case e: Exception =>
          System.err.println(s"[graft] unreadable index $ip ($e) — " +
            "falling back to bisection")
          None
        }
    }.nextOption()
  }

  /** [[sidecar]] for a VCF: `.tbi` first, then a tabix-style `.csi`
    * (usable only when its aux block carries the name table).
    */
  private[sources] def vcfSidecar(
      conf: org.apache.hadoop.conf.Configuration,
      fp: String): Option[Index] =
    sidecar(conf, fp, Seq(
      (fp + ".tbi", readTbi _),
      (fp + ".csi", readCsi _))).filter(_.names.nonEmpty)

  // ------------------------------------------------------ writing

  /** Shared index accumulator: the VCF/BAM/BCF indexers stream their
    * records through [[record]] (0-based half-open [beg0, end0),
    * packed virtual offsets) and serialize with the writeXxx method
    * for their format. Verifies coordinate sort — an index over
    * unsorted data silently drops rows at query time.
    */
  private[sources] final class Builder(path: String,
                                       minShift: Int = 14,
                                       depth: Int = 5) {
    private val bins = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.LinkedHashMap[
        Int, scala.collection.mutable.ArrayBuffer[Chunk]]]
    private val loffs = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.HashMap[Int, Long]]
    private val linear = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    private val mapped = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val unmapped = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val spanBeg = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val spanEnd = scala.collection.mutable.ArrayBuffer.empty[Long]
    private var lastRid = -1
    private var lastBeg = -1L
    private var noCoorN = 0L
    private val maxPos = 1L << (minShift + 3 * depth)

    def refCount: Int = bins.size

    private def ensureRef(rid: Int): Unit =
      while (bins.size <= rid) {
        bins += scala.collection.mutable.LinkedHashMap.empty
        loffs += scala.collection.mutable.HashMap.empty
        linear += scala.collection.mutable.ArrayBuffer.empty
        mapped += 0L; unmapped += 0L
        spanBeg += 0L; spanEnd += 0L
      }

    def record(rid: Int, beg0: Long, end0: Long, begV: Long,
               endV: Long, isMapped: Boolean = true): Unit = {
      require(end0 <= maxPos,
        s"$path: interval [$beg0,$end0) past the ${maxPos} cap of a " +
          s"(min_shift=$minShift, depth=$depth) index")
      require(rid >= lastRid,
        s"$path: ref block $rid reappears after $lastRid — sort " +
          "before indexing")
      require(rid > lastRid || beg0 >= lastBeg,
        s"$path is not coordinate-sorted at rid=$rid beg=$beg0 — " +
          "sort before indexing")
      ensureRef(rid)
      lastRid = rid; lastBeg = beg0
      if (isMapped) mapped(rid) += 1 else unmapped(rid) += 1
      if (spanBeg(rid) == 0L) spanBeg(rid) = begV
      spanEnd(rid) = endV
      val bin = reg2bin(beg0, end0, minShift, depth)
      val bs = bins(rid).getOrElseUpdate(bin,
        scala.collection.mutable.ArrayBuffer.empty)
      if (bs.nonEmpty && bs.last.end == begV)
        bs(bs.size - 1) = bs.last.copy(end = endV)
      else bs += Chunk(begV, endV)
      val lo = loffs(rid)
      if (!lo.contains(bin) || begV < lo(bin)) lo(bin) = begV
      val lin = linear(rid)
      var w = (beg0 >> minShift).toInt
      val wEnd = ((end0 - 1) >> minShift).toInt
      while (w <= wEnd) {
        while (lin.size <= w) lin += 0L
        if (lin(w) == 0L || begV < lin(w)) lin(w) = begV
        w += 1
      }
    }

    def noCoor(): Unit = noCoorN += 1

    private def le32(out: ByteArrayOutputStream, v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    private def le64(out: ByteArrayOutputStream, v: Long): Unit = {
      le32(out, v.toInt); le32(out, (v >> 32).toInt)
    }

    /** htslib's save rule: backfill empty 16 kb windows with the
      * previous floor so any window lookup has a usable bound.
      */
    private def backfilled(rid: Int): Seq[Long] = {
      val lin = linear(rid)
      var prev = 0L
      (0 until lin.size).map { i =>
        if (lin(i) == 0L) prev else { prev = lin(i); lin(i) }
      }
    }

    private def binsBlock(out: ByteArrayOutputStream, rid: Int,
                          csi: Boolean, pseudo: Boolean): Unit = {
      val bm = bins(rid)
      le32(out, bm.size + (if (pseudo) 1 else 0))
      bm.foreach { case (bin, chunks) =>
        le32(out, bin)
        if (csi) le64(out, loffs(rid).getOrElse(bin, 0L))
        le32(out, chunks.size)
        chunks.foreach { c => le64(out, c.beg); le64(out, c.end) }
      }
      if (pseudo) {
        // the BAI stats pseudo-bin: ref's voffset span + counts
        le32(out, binLimit(depth) + 1)
        if (csi) le64(out, 0L)
        le32(out, 2)
        le64(out, spanBeg(rid)); le64(out, spanEnd(rid))
        le64(out, mapped(rid)); le64(out, unmapped(rid))
      }
      if (!csi) {
        val lin = backfilled(rid)
        le32(out, lin.size)
        lin.foreach(le64(out, _))
      }
    }

    /** `.tbi` bytes (BGZF-wrapped) — VCF preset config. */
    def tbiBytes(names: Seq[String]): Array[Byte] = {
      require(names.size >= refCount,
        s"$path: ${refCount} indexed refs but ${names.size} names")
      val out = new ByteArrayOutputStream()
      out.write("TBI".getBytes("ISO-8859-1"))
      out.write(1)
      le32(out, refCount)
      le32(out, 2) // VCF preset
      le32(out, 1); le32(out, 2); le32(out, 0)
      le32(out, '#'.toInt)
      le32(out, 0)
      val nm = names.take(refCount).map(_ + "\u0000").mkString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      le32(out, nm.length)
      out.write(nm)
      (0 until refCount).foreach(r =>
        binsBlock(out, r, csi = false, pseudo = false))
      Bgzf.compress(out.toByteArray)
    }

    /** `.bai` bytes (raw) over `nRef` dictionary entries (indexed or
      * not — BAI lists every dictionary ref).
      */
    def baiBytes(nRef: Int): Array[Byte] = {
      ensureRef(math.max(0, nRef - 1))
      val out = new ByteArrayOutputStream()
      out.write("BAI".getBytes("ISO-8859-1"))
      out.write(1)
      le32(out, nRef)
      val body = new ByteArrayOutputStream()
      (0 until nRef).foreach(r =>
        binsBlock(body, r, csi = false, pseudo = bins(r).nonEmpty))
      body.writeTo(out)
      le64(out, noCoorN)
      out.toByteArray
    }

    /** `.csi` bytes (BGZF-wrapped), empty aux — the BCF shape. */
    def csiBytes(nRef: Int): Array[Byte] = {
      ensureRef(math.max(0, nRef - 1))
      val out = new ByteArrayOutputStream()
      out.write("CSI".getBytes("ISO-8859-1"))
      out.write(1)
      le32(out, minShift)
      le32(out, depth)
      le32(out, 0) // l_aux
      le32(out, nRef)
      (0 until nRef).foreach(r =>
        binsBlock(out, r, csi = true, pseudo = false))
      Bgzf.compress(out.toByteArray)
    }
  }

  private[sources] def writeSidecar(
      conf: org.apache.hadoop.conf.Configuration,
                           path: String, bytes: Array[Byte]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val os = p.getFileSystem(conf).create(p, true)
    try os.write(bytes) finally os.close()
  }

  /** Build `path.tbi` for a coordinate-sorted bgzipped VCF in one
    * streaming pass (`tabix -p vcf` — VCF preset: seq col 1, beg col
    * 2, end = pos + len(ref) - 1, meta '#'). Ref ids are assigned in
    * order of first appearance (the tabix rule); unsorted input
    * throws. Positions must stay under the 5-level scheme's 512 Mb
    * cap.
    */
  def indexVcfGz(conf: org.apache.hadoop.conf.Configuration,
                 path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    val names = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val b = new Builder(path)
    try {
      var memberOff = 0L
      val carry = new ByteArrayOutputStream()
      var carryV = -1L
      def pack(c: Long, u: Int): Long = (c << 16) | (u & 0xffffL)
      def record(line: String, begV: Long, endV: Long): Unit = {
        if (line.isEmpty || line.charAt(0) == '#') return
        val t1 = line.indexOf('\t'); if (t1 < 0) return
        val t2 = line.indexOf('\t', t1 + 1); if (t2 < 0) return
        val t3 = line.indexOf('\t', t2 + 1)
        val t4 = if (t3 < 0) -1 else line.indexOf('\t', t3 + 1)
        val chrom = line.substring(0, t1)
        val pos = line.substring(t1 + 1, t2).toLongOption.getOrElse(-1L)
        if (pos < 0) return
        val refLen =
          if (t3 < 0) 1L
          else (if (t4 < 0) line.length - t3 - 1 else t4 - t3 - 1).toLong
        val beg0 = math.max(0L, pos - 1)
        val end0 = beg0 + math.max(1L, refLen)
        val rid = names.getOrElseUpdate(chrom, names.size)
        b.record(rid, beg0, end0, begV, endV)
      }
      while (memberOff < len) {
        val hdr = new Array[Byte](18)
        in.readFully(memberOff, hdr, 0, 18)
        require(hdr(0) == 0x1f.toByte && hdr(1) == 0x8b.toByte &&
          hdr(12) == 0x42 && hdr(13) == 0x43,
          s"not a BGZF member at offset $memberOff of $path")
        val bs = ((hdr(16) & 0xff) | ((hdr(17) & 0xff) << 8)) + 1
        val member = new Array[Byte](bs)
        in.readFully(memberOff, member, 0, bs)
        val inflated = new GZIPInputStream(
          new java.io.ByteArrayInputStream(member)).readAllBytes()
        var i = 0
        while (i < inflated.length) {
          val nl = inflated.indexOf('\n'.toByte, i)
          if (nl < 0) {
            if (carry.size() == 0) carryV = pack(memberOff, i)
            carry.write(inflated, i, inflated.length - i)
            i = inflated.length
          } else {
            val begV =
              if (carry.size() > 0) carryV else pack(memberOff, i)
            carry.write(inflated, i, nl - i)
            var lineBytes = carry.toByteArray
            carry.reset(); carryV = -1L
            if (lineBytes.nonEmpty &&
              lineBytes(lineBytes.length - 1) == '\r')
              lineBytes = java.util.Arrays.copyOf(
                lineBytes, lineBytes.length - 1)
            record(new String(lineBytes,
              java.nio.charset.StandardCharsets.UTF_8),
              begV, pack(memberOff, nl + 1))
            i = nl + 1
          }
        }
        memberOff += bs
      }
      require(carry.size() == 0,
        s"$path: trailing unterminated line — truncated file?")
    } finally in.close()
    writeSidecar(conf, path + ".tbi", b.tbiBytes(names.keys.toSeq))
  }

  /** Index every resolved file of a path/directory/glob — one Spark
    * task per shard (executor-side, like the sharded sinks), so a
    * 1000-shard fleet indexes in one pass. Single files index inline.
    */
  def indexAll(spark: org.apache.spark.sql.SparkSession,
               path: String): Unit =
    forEachFile(spark, path)(indexVcfGz)

  /** Run `indexer` over every resolved file of `path` — inline for a
    * single file, one Spark task per shard otherwise. The shared
    * scaffold of [[indexAll]] and the `index = true` finishers on the
    * three sharded sinks.
    */
  private[sources] def forEachFile(
      spark: org.apache.spark.sql.SparkSession, path: String)(
      indexer: (org.apache.hadoop.conf.Configuration, String) => Unit)
    : Unit = {
    val files = Bgzf.resolveFiles(spark, path).map(_._1)
    if (files.size <= 1)
      files.foreach(f =>
        indexer(spark.sparkContext.hadoopConfiguration, f))
    else {
      val hconf = new org.apache.spark.SerializableWritable(
        new org.apache.hadoop.conf.Configuration(
          spark.sparkContext.hadoopConfiguration))
      spark.sparkContext.parallelize(files, files.size)
        .foreach(f => indexer(hconf.value, f))
    }
  }
}
