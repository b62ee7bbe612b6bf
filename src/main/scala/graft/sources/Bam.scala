package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col}

/** One BAM alignment record's mandatory fields, decoded to the exact
  * shape [[Sam.read]] parses from SAM text — same names, same types,
  * same null conventions — so [[Sam]]'s flag/CIGAR decoration and every
  * downstream operator (g8/g9/g23/g51/sam2...) consume BAM rows
  * unchanged.
  */
private[graft] case class BamRec(
  qname: String, flag: Int, rname: Option[String], pos: Option[Long],
  mapq: Int, cigar: String, rnext: Option[String], pnext: Option[Long],
  tlen: Long, seq: Option[String], qual: Option[String],
  tags: Option[String])

/** BAM binary alignment source + sink (SAM spec §4; the BGZF container
  * of htslib — what 100 TB of real read data actually arrives as; the
  * reference ecosystem's text tools only speak SAM, so this row is an
  * extension like src_bed/src_gff3).
  *
  * Layout handled natively, no external libs:
  *  - BGZF: concatenated RFC-1952 gzip members, each carrying the BC
  *    extra subfield (SI 66,67; BSIZE = member length - 1) and capped at
  *    64 KiB; a fixed 28-byte empty member marks EOF. Records decode
  *    through the member cursor ([[Bgzf.MemberCursor]]), which inflates
  *    one CRC-verified member at a time.
  *  - BAM stream: "BAM\1", SAM-header text, reference dictionary, then
  *    little-endian records: fixed 32-byte prologue, NUL-terminated
  *    name, packed uint32 CIGAR ops ("MIDNSHP=X"), 4-bit nucleotides
  *    ("=ACMGRSVTWYHKDBN"), raw Phred quals (0xFF = absent), typed aux
  *    tags (A c C s S i I f Z H B).
  *
  * Scale model, read side: one DSv2 relation ([[readTable]]) — byte-
  * range in-file splits with no index, so both a fleet of per-sample
  * BAMs and one huge BAM parallelize, with pushed region filters.
  * Write side:
  * [[writeSharded]] — one valid BAM per partition, executor-side,
  * O(blockSize) task memory; [[write]] is the fixture-scale
  * single-file variant (driver collect, documented).
  *
  * Decode fidelity conventions (SAM spec §4.2, matching `samtools
  * view` output so rows compare equal to [[Sam.read]] on the same
  * reads): refID/next_refID -1 -> null names; 0-based positions
  * surface 1-based with -1 -> null; next_refID == refID prints "=";
  * l_seq 0 -> null seq; all-0xFF qual -> null; every BAM integer tag
  * width (c C s S i I) prints as SAM type 'i'.
  */
object Bam {

  import Bgzf.writeLe32

  private val SeqCode = "=ACMGRSVTWYHKDBN"
  private val CigarOps = "MIDNSHP=X"

  // -------------------------------------------------------------- read
  /** The BAM read: a DSv2 relation ([[BamBgzfSource]]) over files,
    * directories and globs, wrapped in [[Sam.decorate]], one partition
    * per `splitSize` byte range per file — one huge BAM parallelizes
    * WITHOUT a .bai/splitting index. Each range anchors at a verified
    * BGZF member and aligns on a chain of plausible records (the
    * spark-bam / Hadoop-BAM idea: [[Bgzf.alignedRecords]] over
    * [[Grammar]], which also defines record ownership).
    *
    * Region pruning is automatic: a `WHERE rname = '17' AND pos BETWEEN
    * a AND b` pushes through the decoration projection into the scan
    * and routes to the same per-file record-alignment bisection
    * [[readRegion]] plans.
    */
  def readTable(spark: SparkSession, path: String,
                splitSize: Long = 32L << 20): DataFrame =
    Sam.decorate(spark.read.format(classOf[BamBgzfSource].getName)
      .option("splitSize", splitSize.toString)
      .load(path))

  /** Consume the `BAM\1` magic + text header + reference dictionary
    * from a cursor at file offset 0; returns the cursor positioned at
    * the first record plus the reference names in dictionary order.
    */
  private def headerCursor(in: org.apache.hadoop.fs.FSDataInputStream,
                           len: Long): (Bgzf.MemberCursor, Array[String]) = {
    val (head, dict) = headerDict(in, len)
    (head, dict.map(_._1))
  }

  /** [[headerCursor]] keeping each reference's declared length too
    * (the `@SQ LN:` twin the binary dictionary carries natively) —
    * what [[idxstatsIndexed]] reports per row.
    */
  private def headerDict(in: org.apache.hadoop.fs.FSDataInputStream,
                         len: Long)
    : (Bgzf.MemberCursor, Array[(String, Long)]) = {
    val head = new Bgzf.MemberCursor(in, len, 0L)
    require(head.ensure(12), "empty BAM")
    require(head.byte(0) == 'B' && head.byte(1) == 'A' &&
      head.byte(2) == 'M' && head.byte(3) == 1, "not a BAM stream")
    val lText = head.le32(4)
    head.drop(8 + lText)
    require(head.ensure(4), "truncated BAM header")
    val nRef = head.le32(0)
    head.drop(4)
    val refs = Array.tabulate(nRef) { _ =>
      head.ensure(4)
      val lName = head.le32(0)
      head.ensure(8 + lName)
      val name = new String(
        Array.tabulate(lName - 1)(i => head.byte(4 + i)), "US-ASCII")
      val lRef = head.le32(4 + lName).toLong
      head.drop(8 + lName) // l_name + name + l_ref
      (name, lRef)
    }
    (head, refs)
  }

  /** `samtools idxstats` served entirely from the `.bai` pseudo-bins:
    * per-reference (rname, length, n_mapped, n_unmapped) plus the '*'
    * placeless-unmapped row from the trailing n_no_coor — header +
    * index metadata only, ZERO data bytes scanned, where the scan
    * route ([[Sam.idxstats]]) reads the whole file. Requires a usable
    * sidecar (same staleness rules as region planning); throws when
    * none exists — a silent fallback to the full scan would defeat
    * the caller's reason for asking for the index path.
    */
  def idxstatsIndexed(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val dict =
      try headerDict(in, fs.getFileStatus(p).getLen)._2
      finally Bgzf.closeQuietly(in)
    val bare =
      if (path.endsWith(".bam")) Some(path.dropRight(4) + ".bai")
      else None
    val idx = Tabix.sidecar(conf, path,
      Seq((path + ".bai", Tabix.readBai _)) ++
        bare.map(b => (b, Tabix.readBai _)))
      .getOrElse(throw new IllegalArgumentException(
        s"$path has no usable .bai sidecar — write one with " +
          "Bam.writeIndex, or use Sam.idxstats for the scan route"))
    val rows = dict.zipWithIndex.map { case ((name, lRef), rid) =>
      val (nm, nu) =
        if (rid < idx.refs.size) idx.refs(rid).stats.getOrElse((0L, 0L))
        else (0L, 0L)
      (name, lRef, nm, nu)
    }.toSeq :+ (("*", 0L, 0L, idx.noCoor))
    spark.createDataFrame(rows)
      .toDF("rname", "length", "n_mapped", "n_unmapped")
  }

  /** Region read of a coordinate-sorted BAM — `samtools view
    * file.bam chr:start-end` semantics (reads OVERLAPPING the region)
    * without a .bai and without scanning the file: [[Bgzf.regionWindows]]
    * bisects the member chain with probes that align the first record
    * OWNED by a member via the [[readTable]] plausible-chain machinery
    * and read its (refID, pos) prologue — the dictionary index is the
    * sort rank natively. Overlap (not containment) means a read can
    * START before the region and span into it, so the lower search
    * target backs off by `maxSpan` reference bases: reads whose
    * reference span exceeds it (default 1 Mb — beyond any short-read
    * and most long-read spans) may be missed, the same coarseness class
    * as the .bai linear index's 16 kb bins. Unmapped reads (refID -1)
    * sort after all mapped reads (samtools sort) and rank as +inf here,
    * so a region query never returns them. A chrom absent from the
    * dictionary cannot appear in any record → empty frame, no scan.
    * Sortedness contract = samtools sort (dictionary rank, then pos).
    */
  def readRegion(spark: SparkSession, path: String, chrom: String,
                 start: Long, end: Long, maxSpan: Long = 1L << 20,
                 splitSize: Long = 32L << 20): DataFrame =
    readRegions(spark, path, Seq((chrom, start, end)), maxSpan,
      splitSize)

  /** Multi-region (target-panel) BAM read over single files,
    * directories and globs — the [[Vcf.readRegions]] contract under
    * `samtools view` overlap semantics, including the repo's own
    * [[writeSharded]] layout: every shard is self-describing (full
    * header + dictionary) and independently sorted, so each bisects on
    * its own and the merged byte windows read in one distributed scan.
    * A chrom absent from a file's dictionary cannot appear in its
    * records — that (file, region) pair is skipped exactly, no scan.
    * Sortedness contract per shard = samtools sort (dictionary rank,
    * then pos, unmapped last — unmapped probes rank +inf so a region
    * query never returns them).
    */
  def readRegions(spark: SparkSession, path: String,
                  regions: Seq[(String, Long, Long)],
                  maxSpan: Long = 1L << 20,
                  splitSize: Long = 32L << 20): DataFrame = {
    require(regions.nonEmpty, "readRegions wants at least one region")
    val plan = regionPlan(spark, path, regions, maxSpan)
    val inAny = regions.map { case (chrom, start, end) =>
      col("rname") === chrom && col("pos") <= end &&
        coalesce(col("ref_end"), col("pos")) >= start
    }.reduce(_ || _)
    // the merged windows read through the DSv2 relation with the plan
    // as a field, so column pruning pushes through the decorate
    // projection into the record decode — see Vcf.readRegions
    Sam.decorate(BgzfTable.planned(spark, BamBgzfSource.container, path,
      splitSize, plan.windows))
      .where(inAny)
  }

  /** Driver-side byte plan of [[readRegions]] ([[Bgzf.binaryRegionPlan]]
    * over [[Grammar]]). Package-visible for the probe-count/window-size
    * spec pins.
    */
  private[graft] def regionPlan(spark: SparkSession, path: String,
                                regions: Seq[(String, Long, Long)],
                                maxSpan: Long): Vcf.RegionPlan =
    Bgzf.binaryRegionPlan(spark, path, Grammar, regions, maxSpan)

  /** Build `path.bai` (SAM spec §5.2) in one streaming pass over the
    * record wire — the `samtools index` operation for the repo's own
    * [[writeSharded]] output (or any sorted BAM it receives). Each
    * record bins by its full reference span (pos + CIGAR reference
    * length), so index-served region reads find alignments longer
    * than the bisection's maxSpan back-off exactly. Unmapped records
    * (refID −1 or no position) count into `n_no_coor` and never bin —
    * a region read never returns them, the samtools contract
    * [[readRegion]] already implements. Unsorted input throws.
    */
  def writeIndex(conf: org.apache.hadoop.conf.Configuration,
                 path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      val (cur, refs) = headerCursor(in, len)
      val b = new Tabix.Builder(path)
      while (cur.ensure(4)) {
        val begV = cur.headVOffset
        val blockSize = cur.le32(0)
        require(cur.ensure(4 + blockSize),
          s"truncated BAM record in $path")
        val refId = cur.le32(4)
        val pos = cur.le32(8)
        val lrn = cur.byte(12) & 0xff
        val nCigar = cur.le16(16)
        val flag = cur.le16(18)
        // reference-consuming CIGAR ops: M/D/N/=/X (0,2,3,7,8)
        var refLen = 0L
        val cigOff = 4 + 32 + lrn
        var k = 0
        while (k < nCigar) {
          val v = cur.le32(cigOff + 4 * k)
          val op = v & 0xf
          if (op == 0 || op == 2 || op == 3 || op == 7 || op == 8)
            refLen += (v >>> 4).toLong
          k += 1
        }
        cur.drop(4 + blockSize)
        val endV = cur.headVOffset
        if (refId >= 0 && pos >= 0)
          b.record(refId, pos.toLong, pos + math.max(1L, refLen),
            begV, endV, isMapped = (flag & 4) == 0)
        else b.noCoor()
      }
      Tabix.writeSidecar(conf, path + ".bai", b.baiBytes(refs.length))
    } finally Bgzf.closeQuietly(in)
  }

  /** BAM's record wire ([[Bgzf.RecordGrammar]]): the shared aligned-
    * range reader and region planner run on it.
    */
  private[sources] object Grammar
    extends Bgzf.RecordGrammar[Array[String], BamRec] {
    def header(in: org.apache.hadoop.fs.FSDataInputStream, len: Long)
      : (Bgzf.MemberCursor, Array[String]) = headerCursor(in, len)
    def contigs(refs: Array[String]): Array[String] = refs
    def peek: Int = 36
    def prologue: Int = 4

    /** Bounds sit at the spec's maxima, not at "typical" values — a
      * bound tighter than the spec rejects legal records (ONT ultralong
      * reads, qnames to 254 chars, positions to 2^31-1) and a rejected
      * TRUE anchor silently drops the whole range; the plausibility bits
      * come from the dictionary-bounded refIDs, the printable-NUL-
      * terminated name, the fixed-section arithmetic and the 4-record
      * chain (a payload pattern survives it at ~2^-100 per offset), not
      * from narrow magnitude caps.
      */
    def plausibleChain(cur: Bgzf.MemberCursor,
                       refs: Array[String]): Boolean = {
      val nRef = refs.length
      var off = 0
      var k = 0
      while (k < 4) {
        if (!cur.ensure(off + 36)) return k > 0 // clean EOF ends a chain
        val bs = cur.le32(off)
        if (bs < 33 || bs > (1 << 30)) return false // 1 GiB: alloc ceiling
        val refId = cur.le32(off + 4)
        if (refId < -1 || refId >= nRef) return false
        val pos = cur.le32(off + 8)
        if (pos < -1) return false // any int32 position is spec-legal
        val lrn = cur.byte(off + 12) & 0xff
        if (lrn < 2) return false // uint8: up to 255 (254-char qname) legal
        val nCigar = cur.le16(off + 16)
        val lSeq = cur.le32(off + 20)
        if (lSeq < 0) return false // fixed-section fit below bounds it vs bs
        val nextRef = cur.le32(off + 24)
        if (nextRef < -1 || nextRef >= nRef) return false
        val nextPos = cur.le32(off + 28)
        if (nextPos < -1) return false
        val fixed = 32L + lrn + 4L * nCigar + (lSeq.toLong + 1) / 2 +
          lSeq.toLong
        if (fixed > bs) return false
        // read name: printable, NUL exactly at its declared end
        if (!cur.ensure(off + 36 + lrn)) return k > 0
        var i = 0
        while (i < lrn - 1) {
          val c = cur.byte(off + 36 + i) & 0xff
          if (c < 0x21 || c > 0x7e) return false
          i += 1
        }
        if (cur.byte(off + 36 + lrn - 1) != 0) return false
        if (off + 4L + bs > Int.MaxValue - 64) return false // lookahead cap
        off += 4 + bs
        k += 1
      }
      true
    }

    def read(cur: Bgzf.MemberCursor, refs: Array[String]): BamRec = {
      val blockSize = cur.le32(0)
      require(cur.ensure(4 + blockSize), "truncated BAM record")
      val b = ByteBuffer.wrap(cur.read(4 + blockSize), 4, blockSize)
        .order(ByteOrder.LITTLE_ENDIAN)
      decodeRecord(b.slice().order(ByteOrder.LITTLE_ENDIAN), refs)
    }

    /** (refID, 1-based pos). Unmapped reads (refID -1) sort after every
      * mapped read (samtools sort) and rank +inf: the raw bit-packing
      * would produce a NEGATIVE key and corrupt the bisection on any
      * sorted BAM whose unmapped tail the search probes.
      */
    def probeKey(cur: Bgzf.MemberCursor): Long = {
      val refId = cur.le32(4)
      if (refId < 0) Long.MaxValue
      else Bgzf.sortKey(refId, cur.le32(8) + 1L)
    }

    /** `x.bam.bai`, samtools' `x.bai` twin, then a `.csi`. */
    def sidecars(fp: String): Seq[(String,
      (org.apache.hadoop.conf.Configuration, String) => Tabix.Index)] = {
      val bare =
        if (fp.endsWith(".bam")) Some(fp.dropRight(4) + ".bai") else None
      Seq((fp + ".bai", Tabix.readBai _)) ++
        bare.map(b => (b, Tabix.readBai _)) ++
        Seq((fp + ".csi", Tabix.readCsi _))
    }
  }

  private def decodeRecord(b: ByteBuffer, refs: Array[String]): BamRec = {
    val refId = b.getInt
    val pos0 = b.getInt
    val lReadName = b.get & 0xff
    val mapq = b.get & 0xff
    b.getShort // bin (index hint, recomputable)
    val nCigar = b.getShort & 0xffff
    val flag = b.getShort & 0xffff
    val lSeq = b.getInt
    val nextRefId = b.getInt
    val nextPos0 = b.getInt
    val tlen = b.getInt
    val nameBytes = new Array[Byte](lReadName); b.get(nameBytes)
    val qname = new String(nameBytes, 0, lReadName - 1, "US-ASCII")
    // tight while-loops: this is the per-record hot path a multi-GB
    // file's single task spends its wall in
    val cigar =
      if (nCigar == 0) "*"
      else {
        val sb = new java.lang.StringBuilder(nCigar * 4)
        var i = 0
        while (i < nCigar) {
          val op = b.getInt
          sb.append(op >>> 4).append(CigarOps.charAt(op & 0xf))
          i += 1
        }
        sb.toString
      }
    val seqBytes = new Array[Byte]((lSeq + 1) / 2); b.get(seqBytes)
    val seq =
      if (lSeq == 0) None
      else {
        val cs = new Array[Char](lSeq)
        var i = 0
        while (i < lSeq) {
          val byte = seqBytes(i >> 1)
          cs(i) = SeqCode.charAt(
            if ((i & 1) == 0) (byte >> 4) & 0xf else byte & 0xf)
          i += 1
        }
        Some(new String(cs))
      }
    val qualBytes = new Array[Byte](lSeq); b.get(qualBytes)
    val qual = {
      var allMissing = lSeq > 0
      var i = 0
      while (allMissing && i < lSeq) {
        if (qualBytes(i) != -1) allMissing = false
        i += 1
      }
      if (lSeq == 0 || allMissing) None
      else {
        val cs = new Array[Char](lSeq)
        var j = 0
        while (j < lSeq) { cs(j) = (qualBytes(j) + 33).toChar; j += 1 }
        Some(new String(cs))
      }
    }
    val tags = scala.collection.mutable.ArrayBuffer[String]()
    while (b.hasRemaining) tags += decodeTag(b)
    BamRec(
      qname, flag,
      if (refId < 0) None else Some(refs(refId)),
      if (pos0 < 0) None else Some(pos0 + 1L),
      mapq, cigar,
      if (nextRefId < 0) None
      else if (nextRefId == refId) Some("=")
      else Some(refs(nextRefId)),
      if (nextPos0 < 0) None else Some(nextPos0 + 1L),
      tlen.toLong, seq, qual,
      if (tags.isEmpty) None else Some(tags.mkString(",")))
  }

  private def zString(b: ByteBuffer): String = {
    val sb = new StringBuilder
    var c = b.get
    while (c != 0) { sb += c.toChar; c = b.get }
    sb.toString
  }

  private def decodeTag(b: ByteBuffer): String = {
    val tag = "" + b.get.toChar + b.get.toChar
    def one(t: Char): String = t match {
      case 'A' => b.get.toChar.toString
      case 'c' => b.get.toString
      case 'C' => (b.get & 0xff).toString
      case 's' => b.getShort.toString
      case 'S' => (b.getShort & 0xffff).toString
      case 'i' => b.getInt.toString
      case 'I' => (b.getInt & 0xffffffffL).toString
      case 'f' => b.getFloat.toString
    }
    b.get.toChar match {
      case 'Z' => s"$tag:Z:${zString(b)}"
      case 'H' => s"$tag:H:${zString(b)}"
      case 'B' =>
        val sub = b.get.toChar
        val n = b.getInt
        val vals = (0 until n).map(_ => one(sub))
        s"$tag:B:$sub,${vals.mkString(",")}"
      case 'f' => s"$tag:f:${one('f')}"
      case 'A' => s"$tag:A:${one('A')}"
      case t => s"$tag:i:${one(t)}" // every int width prints as SAM 'i'
    }
  }

  // ------------------------------------------------------------- write
  /** The 12 write-side columns, in [[rowRecord]]'s positional order. */
  private val WriteCols = Seq("qname", "flag", "rname", "pos", "mapq",
    "cigar", "rnext", "pnext", "tlen", "seq", "qual", "tags")

  /** Header block: magic + SAM text + reference dictionary. */
  private def headerBytes(refs: Seq[(String, Long)]): Array[Byte] = {
    val text = ("@HD\tVN:1.6\tSO:coordinate\n" +
      refs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString)
      .getBytes("US-ASCII")
    val hdr = new ByteArrayOutputStream()
    hdr.write(Array[Byte]('B', 'A', 'M', 1))
    writeLe32(hdr, text.length)
    hdr.write(text)
    writeLe32(hdr, refs.length)
    refs.foreach { case (n, l) =>
      val nb = n.getBytes("US-ASCII")
      writeLe32(hdr, nb.length + 1)
      hdr.write(nb); hdr.write(0)
      writeLe32(hdr, l.toInt)
    }
    hdr.toByteArray
  }

  /** One [[WriteCols]]-shaped row -> its length-prefixed BAM record. */
  private def rowRecord(r: org.apache.spark.sql.Row,
                        refIdx: Map[String, Int]): Array[Byte] =
    encodeRecord(
      r.getString(0), r.getInt(1),
      Option(r.getString(2)),
      if (r.isNullAt(3)) None else Some(r.getLong(3)),
      r.getInt(4), r.getString(5),
      Option(r.getString(6)),
      if (r.isNullAt(7)) None else Some(r.getLong(7)),
      r.getLong(8),
      Option(r.getString(9)), Option(r.getString(10)),
      Option(r.getString(11)), refIdx)

  /** Serialize parsed reads (the [[Sam.read]] column shape; extra
    * columns ignored) to one BAM file at `path` — the fixture/test-scale
    * single-file writer (record order = input order, so feed it
    * coordinate-sorted rows for a spec-conformant file; rows collect to
    * the driver, so use [[writeSharded]] beyond fixture scale).
    *
    * `blockSize` caps UNCOMPRESSED bytes per BGZF member (default
    * 0xff00, bgzf's own cap); records larger than the cap get a member
    * to themselves (records may legally span members).
    */
  def write(reads: DataFrame, refs: Seq[(String, Long)], path: String,
            blockSize: Int = 0xff00): Unit = {
    val refIdx = refs.map(_._1).zipWithIndex.toMap
    val rows = reads.selectExpr(WriteCols: _*).collect()
    val body = new ByteArrayOutputStream()
    body.write(headerBytes(refs))
    rows.foreach(r => body.write(rowRecord(r, refIdx)))
    // BGZF-wrap the stream in <= blockSize uncompressed chunks + EOF
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Bgzf.compress(body.toByteArray, blockSize))
  }

  /** The scale-path BAM sink: one complete, independently valid BAM
    * file per input partition, written BY the executors — nothing ever
    * collects to the driver, and per-task memory is O(blockSize)
    * ([[Bgzf.BlockWriter]] streams each record straight into deflated
    * members). The caller controls shard count/content via the frame's
    * partitioning (repartition by sample, sortWithinPartitions by
    * coordinate, ...) — the [[Vcf.writeVariants]] contract applied to
    * the binary container. Every shard carries the same header and its
    * own EOF member, so the directory reads back through [[readTable]]
    * unchanged, and shards also concatenate into one
    * legal BGZF stream. Shards commit by atomic rename from
    * attempt-scoped temps ([[Bgzf.writeShards]]), so task retries AND
    * concurrent attempts (speculation, zombies after a stage retry)
    * are safe. Empty partitions still write a header+EOF shard
    * (valid empty BAM) so the layout is deterministic.
    */
  def writeSharded(reads: DataFrame, refs: Seq[(String, Long)],
                   dir: String, blockSize: Int = 0xff00,
                   index: Boolean = false): Unit = {
    val refIdx = refs.map(_._1).zipWithIndex.toMap
    Bgzf.writeShards(reads.selectExpr(WriteCols: _*).rdd, dir, ".bam",
      headerBytes(refs), blockSize)(r => rowRecord(r, refIdx))
    // index = true writes one .bai per shard (distributed); requires
    // each shard coordinate-sorted (the writeIndex sortedness guard
    // throws loudly otherwise) — sortWithinPartitions by (rname rank,
    // pos) before calling, the same contract region read-back needs
    if (index) Tabix.forEachFile(reads.sparkSession, dir)(writeIndex)
  }

  private val CigarTok = "(\\d+)([MIDNSHP=X])".r

  private def encodeRecord(qname: String, flag: Int, rname: Option[String],
                           pos: Option[Long], mapq: Int, cigar: String,
                           rnext: Option[String], pnext: Option[Long],
                           tlen: Long, seq: Option[String],
                           qual: Option[String], tags: Option[String],
                           refIdx: Map[String, Int]): Array[Byte] = {
    val refId = rname.map(refIdx).getOrElse(-1)
    val pos0 = pos.map(_.toInt - 1).getOrElse(-1)
    val cigarOps: Seq[(Int, Char)] =
      if (cigar == null || cigar == "*") Nil
      else CigarTok.findAllMatchIn(cigar)
        .map(m => (m.group(1).toInt, m.group(2).head)).toSeq
    val refLen = cigarOps.collect {
      case (n, op) if "MDN=X".indexOf(op) >= 0 => n
    }.sum
    val sq = seq.getOrElse("")
    val bin =
      if (pos0 < 0) 0
      else Tabix.reg2bin(pos0, pos0 + math.max(refLen, 1))
    val nextRefId = rnext match {
      case Some("=") => refId
      case Some(n) => refIdx(n)
      case None => -1
    }
    val b = new ByteArrayOutputStream()
    def le32(v: Int): Unit = writeLe32(b, v)
    def le16(v: Int): Unit = { b.write(v & 0xff); b.write((v >> 8) & 0xff) }
    le32(refId); le32(pos0)
    b.write(qname.length + 1); b.write(mapq)
    le16(bin); le16(cigarOps.length); le16(flag)
    le32(sq.length)
    le32(nextRefId); le32(pnext.map(_.toInt - 1).getOrElse(-1))
    le32(tlen.toInt)
    b.write(qname.getBytes("US-ASCII")); b.write(0)
    cigarOps.foreach { case (n, op) =>
      le32((n << 4) | CigarOps.indexOf(op))
    }
    var i = 0
    while (i < sq.length) {
      val hi = SeqCode.indexOf(sq.charAt(i).toUpper) max 0
      val lo = if (i + 1 < sq.length)
        SeqCode.indexOf(sq.charAt(i + 1).toUpper) max 0 else 0
      b.write((hi << 4) | lo)
      i += 2
    }
    qual match {
      case Some(q) => q.foreach(c => b.write(c - 33))
      case None => (0 until sq.length).foreach(_ => b.write(0xff))
    }
    tags.foreach(t => splitTags(t).foreach(encodeTag(b, _)))
    val rec = b.toByteArray
    val out = new ByteArrayOutputStream(rec.length + 4)
    writeLe32(out, rec.length)
    out.write(rec)
    out.toByteArray
  }

  /** Split the ','-joined tags string back into TAG:TYPE:VALUE entries;
    * a segment not starting a new `XX:T:` entry belongs to the previous
    * one (B-array values and commas inside Z strings).
    */
  private[graft] def splitTags(s: String): Seq[String] = {
    val entry = "^[A-Za-z][A-Za-z0-9]:[AcCsSiIfZHB]:".r
    s.split(",").foldLeft(List.empty[String]) { (acc, seg) =>
      if (entry.findFirstIn(seg).isDefined || acc.isEmpty) seg :: acc
      else (acc.head + "," + seg) :: acc.tail
    }.reverse
  }

  private def encodeTag(b: ByteArrayOutputStream, t: String): Unit = {
    val tag = t.substring(0, 2)
    val typ = t.charAt(3)
    val value = t.substring(5)
    b.write(tag.charAt(0)); b.write(tag.charAt(1))
    def le32(v: Int): Unit = writeLe32(b, v)
    typ match {
      case 'i' => b.write('i'); le32(value.toLong.toInt)
      case 'A' => b.write('A'); b.write(value.charAt(0))
      case 'f' =>
        b.write('f')
        le32(java.lang.Float.floatToIntBits(value.toFloat))
      case 'Z' | 'H' =>
        b.write(typ); b.write(value.getBytes("US-ASCII")); b.write(0)
      case 'B' =>
        b.write('B')
        val parts = value.split(",")
        val sub = parts(0).charAt(0)
        b.write(sub)
        le32(parts.length - 1)
        parts.drop(1).foreach { v =>
          sub match {
            case 'c' | 'C' => b.write(v.toInt & 0xff)
            case 's' | 'S' =>
              val x = v.toInt; b.write(x & 0xff); b.write((x >> 8) & 0xff)
            case 'i' | 'I' => le32(v.toLong.toInt)
            case 'f' => le32(java.lang.Float.floatToIntBits(v.toFloat))
          }
        }
      case other => sys.error(s"unsupported SAM tag type '$other' in $t")
    }
  }
}
