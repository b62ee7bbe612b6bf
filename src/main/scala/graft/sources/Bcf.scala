package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One BCF record rendered back to the exact [[Vcf.read]] row shape —
  * same names, same types, same sentinel conventions — so every
  * operator downstream of the VCF text parse (normalize, genotypesLong,
  * the whole QC family) consumes BCF rows unchanged.
  */
private[graft] case class BcfRec(
  chrom: String, pos: Long, id: String, ref: String, alt: String,
  qual: String, filter: String, info: String, genotypes: Seq[String])

/** BCF2.2 binary VCF source + sink (the VCF spec §6; bcftools' native
  * format — what cohort variant data is actually stored and exchanged
  * as at scale; the reference ecosystem's text tools only speak VCF
  * text, so this row is an extension like src_bam). No external libs.
  *
  * Layout handled natively:
  *  - container: BGZF (see [[Bgzf]]/[[Bam]]) — records decode through
  *    the member cursor ([[Bgzf.MemberCursor]]) and legally span
  *    members;
  *  - "BCF\2\2", uint32 header length, VCF-text header whose ##contig /
  *    ##FILTER/##INFO/##FORMAT lines ARE the binary dictionaries
  *    (implicit IDX = order of first appearance; "PASS" always 0);
  *  - records: uint32 l_shared/l_indiv, then the shared block (CHROM
  *    contig idx, 0-based POS, rlen, float QUAL with the 0x7F800001
  *    missing sentinel, n_allele<<16|n_info, n_fmt<<24|n_sample, typed
  *    ID string, n_allele typed allele strings, typed FILTER index
  *    vector, n_info typed key/value pairs) and the per-sample block
  *    (n_fmt × typed key + fixed-width per-sample typed vectors);
  *  - typed descriptors: low nibble type (0 MISSING/flag, 1/2/3 int8/
  *    16/32, 5 float, 7 char), high nibble inline length, 15 = length
  *    in a following typed int; int missing 0x80/0x8000/0x80000000 and
  *    vector-end 0x81/0x8001/0x80000001; float missing 0x7F800001,
  *    vector-end 0x7F800002; GT ints are (allele+1)<<1 | phase with 0
  *    as the missing allele.
  *
  * Text-parity conventions (so rows compare equal to [[Vcf.read]] on
  * the same variants): QUAL/ID render '.' when missing; FILTER indices
  * join with ';'; INFO re-renders as `KEY=v1,v2;FLAG;...` in stored
  * order with integers as decimal and floats as shortest-round-trip
  * (`Float.toString` — the same rule DuckDB's float→varchar uses, so
  * the oracle can replay the render); per-sample columns re-join their
  * FORMAT values with ':' (GT decoded to `a|b`/`a/b`, '.' for missing,
  * vector-end trimming for mixed ploidy).
  *
  * Scale model: identical to [[Bam]] — one DSv2 relation
  * ([[readTable]]: index-free byte-range splits, pushed region filters)
  * on the read side; executor-side per-partition shards
  * ([[writeSharded]], shared distributed-pass dictionary) or the
  * fixture-scale single file ([[write]]) on the write side.
  */
object Bcf {

  import Bgzf.writeLe32

  private val FloatMissing = 0x7f800001
  private val FloatEnd = 0x7f800002

  // -------------------------------------------------------------- read
  /** The BCF read: a DSv2 relation ([[BcfBgzfSource]]) over files,
    * directories and globs, one partition per `splitSize` byte range
    * per file. Each range anchors at a verified BGZF member and aligns
    * on a chain of plausible records ([[Bgzf.alignedRecords]] over
    * [[Grammar]], which also defines record ownership).
    *
    * Region pruning is automatic: a `WHERE chrom = '17' AND pos BETWEEN
    * a AND b` routes through `SupportsPushDownFilters` into the same
    * per-file record-alignment bisection [[readRegion]] plans.
    * [[Vcf.readAuto]] returns this for BCF input.
    */
  def readTable(spark: SparkSession, path: String,
                afFields: Seq[String] = Vcf.defaultAfFields,
                splitSize: Long = 32L << 20): DataFrame =
    spark.read.format(classOf[BcfBgzfSource].getName)
      .option("afFields", afFields.mkString(","))
      .option("splitSize", splitSize.toString)
      .load(path)

  /** What the embedded header declares: contig names and the shared
    * string dictionary (both in implicit-IDX order), and the sample
    * count every record's n_sample must equal.
    */
  private[sources] case class Header(contigs: Array[String],
                                     strings: Array[String],
                                     nSamples: Int)

  /** Consume the `BCF\2` magic + embedded header text from a cursor at
    * file offset 0; returns the cursor positioned at the first record
    * plus the decoded [[Header]].
    */
  private def headerCursor(in: org.apache.hadoop.fs.FSDataInputStream,
                           len: Long): (Bgzf.MemberCursor, Header) = {
    val head = new Bgzf.MemberCursor(in, len, 0L)
    require(head.ensure(9), "empty BCF")
    require(head.byte(0) == 'B' && head.byte(1) == 'C' &&
      head.byte(2) == 'F' && head.byte(3) == 2, "not a BCF2 stream")
    val lText = head.le32(5)
    require(head.ensure(9 + lText), "truncated BCF header")
    val headerText = new String(
      Array.tabulate(lText)(i => head.byte(9 + i)), "US-ASCII")
    head.drop(9 + lText)
    val (contigs, strings) = parseHeaderDicts(headerText)
    val nSamples = headerText.split("\n").find(_.startsWith("#CHROM"))
      .map(l => math.max(0, l.stripSuffix("\r").split("\t").length - 9))
      .getOrElse(0)
    (head, Header(contigs, strings, nSamples))
  }

  /** BCF's record wire ([[Bgzf.RecordGrammar]]): the shared aligned-range
    * reader and region planner run on it.
    *
    * @param needGenotypes false = the caller's pruned schema excludes
    *   `genotypes`: the per-sample block is SKIPPED outright (bytes
    *   dropped from the cursor, no typed-vector decode, no per-sample
    *   string assembly — the dominant per-record cost on cohort BCFs)
    *   and the record carries an empty genotype seq the caller never
    *   reads.
    */
  private[sources] case class Grammar(needGenotypes: Boolean)
    extends Bgzf.RecordGrammar[Header, BcfRec] {
    def header(in: org.apache.hadoop.fs.FSDataInputStream, len: Long)
      : (Bgzf.MemberCursor, Header) = headerCursor(in, len)
    def contigs(h: Header): Array[String] = h.contigs
    def peek: Int = 32
    def prologue: Int = 8

    /** Bounds sit at spec maxima (the [[Bam.Grammar]] rationale):
      * positions/rlen are legal to 2^31-1 and block sizes to uint32, so
      * magnitude caps tighter than the spec would silently drop a range
      * whose true anchor they reject; the plausibility bits come from
      * the dictionary-bounded contig index and the exact n_sample
      * equality — a payload collision survives a 4-record chain at
      * ~2^-120 per offset.
      */
    def plausibleChain(cur: Bgzf.MemberCursor, h: Header): Boolean = {
      var off = 0
      var k = 0
      while (k < 4) {
        if (!cur.ensure(off + 32)) return k > 0
        val lShared = cur.le32(off)
        if (lShared < 24 || lShared > (1 << 30)) return false // alloc ceiling
        val lIndiv = cur.le32(off + 4)
        if (lIndiv < 0 || lIndiv > (1 << 30)) return false
        val chrom = cur.le32(off + 8)
        if (chrom < 0 || chrom >= h.contigs.length) return false
        val pos = cur.le32(off + 12)
        if (pos < -1) return false // any int32 position is spec-legal
        val rlen = cur.le32(off + 16)
        if (rlen < 0) return false
        val nAllele = cur.le32(off + 24) >>> 16
        if (nAllele < 1) return false
        if ((cur.le32(off + 28) & 0xffffff) != h.nSamples) return false
        val step = 8L + lShared + lIndiv
        if (off + step > Int.MaxValue - 64) return false // lookahead cap
        off += step.toInt
        k += 1
      }
      true
    }

    def read(cur: Bgzf.MemberCursor, h: Header): BcfRec = {
      val lShared = cur.le32(0)
      val lIndiv = cur.le32(4)
      cur.drop(8)
      val sh = ByteBuffer.wrap(cur.read(lShared))
        .order(ByteOrder.LITTLE_ENDIAN)
      val ind =
        if (needGenotypes)
          ByteBuffer.wrap(cur.read(lIndiv)).order(ByteOrder.LITTLE_ENDIAN)
        else { cur.drop(lIndiv); null }
      decodeRecord(sh, ind, h.contigs, h.strings)
    }

    /** (contig index, 1-based pos): records carry the dictionary index
      * natively, so the sort rank needs no header convention.
      */
    def probeKey(cur: Bgzf.MemberCursor): Long =
      Bgzf.sortKey(cur.le32(8), cur.le32(12) + 1L)

    def sidecars(fp: String): Seq[(String,
      (org.apache.hadoop.conf.Configuration, String) => Tabix.Index)] =
      Seq((fp + ".csi", Tabix.readCsi _))
  }

  /** Region read of a coordinate-sorted BCF — [[Vcf.readRegion]]'s
    * contract on the binary container: a driver-side binary search over
    * the BGZF member chain ([[Bgzf.regionWindows]]) whose probes align
    * the first record OWNED by a member via the [[readTable]]
    * plausible-chain machinery and read its (contig-index, pos) —
    * records carry the dictionary index natively, so the sort rank
    * needs no header convention. Only the matched byte window decodes;
    * a chrom the header's contig dictionary doesn't declare CANNOT
    * appear in any record (records reference contigs by index), so it
    * short-circuits to an empty frame rather than scanning. Sortedness
    * contract = bcftools sort order (contig dictionary rank, then pos).
    */
  def readRegion(spark: SparkSession, path: String, chrom: String,
                 start: Long, end: Long,
                 afFields: Seq[String] = Vcf.defaultAfFields,
                 splitSize: Long = 32L << 20,
                 maxSpan: Long = 10000L): DataFrame =
    readRegions(spark, path, Seq((chrom, start, end)), afFields,
      splitSize, maxSpan)

  /** Multi-region (target-panel) BCF read over single files,
    * directories and globs — the [[Vcf.readRegions]] contract on the
    * binary container, including the repo's own [[writeSharded]]
    * layout: every shard is self-describing (full header) and
    * independently sorted, so each bisects on its own and the merged
    * byte windows read in one distributed scan. A chrom absent from a
    * file's contig dictionary CANNOT appear in that file's records
    * (records reference contigs by index), so that (file, region) pair
    * is skipped exactly — never scanned; there is no full-scan fallback
    * class here because the dictionary is closed. Sortedness contract
    * per shard = bcftools sort order (contig dictionary rank, then
    * pos); re-filtering on the parsed columns under bcftools `-r`
    * OVERLAP semantics (rlen ~ length(ref), `maxSpan` back-off) makes
    * the window overhang invisible.
    */
  def readRegions(spark: SparkSession, path: String,
                  regions: Seq[(String, Long, Long)],
                  afFields: Seq[String] = Vcf.defaultAfFields,
                  splitSize: Long = 32L << 20,
                  maxSpan: Long = 10000L): DataFrame = {
    require(regions.nonEmpty, "readRegions wants at least one region")
    val plan = regionPlan(spark, path, regions, maxSpan)
    val inAny = regions.map { case (chrom, start, end) =>
      col("chrom") === chrom && col("pos") <= end &&
        col("pos") + length(col("ref")) - 1 >= start
    }.reduce(_ || _)
    // the merged windows read through the DSv2 relation with the plan
    // as a field, so column pruning reaches the record decode (a panel
    // read aggregating pos never renders genotype strings) — see
    // Vcf.readRegions; no windows tile to zero partitions
    BgzfTable.planned(spark, BcfBgzfSource.container(afFields), path,
      splitSize, plan.windows)
      .where(inAny)
  }

  /** Driver-side byte plan of [[readRegions]] ([[Bgzf.binaryRegionPlan]]
    * over [[Grammar]]). Package-visible for the probe-count/window-size
    * spec pins.
    */
  private[graft] def regionPlan(spark: SparkSession, path: String,
                                regions: Seq[(String, Long, Long)],
                                maxSpan: Long): Vcf.RegionPlan =
    Bgzf.binaryRegionPlan(spark, path, Grammar(needGenotypes = true),
      regions, maxSpan)

  /** Build `path.csi` (the CSI spec, min_shift 14 / depth 5 — what
    * `bcftools index` writes for BCF) in one streaming pass over the
    * record wire: each record bins by its full (pos, pos + rlen)
    * span, so index-served region reads find long-REF records past
    * the bisection's maxSpan back-off exactly. Unsorted input throws.
    */
  def writeIndex(conf: org.apache.hadoop.conf.Configuration,
                 path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      val (cur, h) = headerCursor(in, len)
      val contigs = h.contigs
      val b = new Tabix.Builder(path)
      while (cur.ensure(8)) {
        val begV = cur.headVOffset
        val lShared = cur.le32(0)
        val lIndiv = cur.le32(4)
        require(lShared >= 24 && cur.ensure(8 + lShared + lIndiv),
          s"truncated BCF record in $path")
        val rid = cur.le32(8)
        val pos = cur.le32(12) // 0-based
        val rlen = cur.le32(16)
        cur.drop(8 + lShared + lIndiv)
        val endV = cur.headVOffset
        require(rid >= 0 && rid < contigs.length,
          s"$path: record references contig $rid outside the dictionary")
        b.record(rid, pos.toLong,
          pos + math.max(1L, rlen.toLong), begV, endV)
      }
      Tabix.writeSidecar(conf, path + ".csi", b.csiBytes(contigs.length))
    } finally Bgzf.closeQuietly(in)
  }

  /** Sample names from the `#CHROM` line of the embedded header text —
    * the [[Vcf.sampleNames]] contract for binary input. One tiny
    * driver-side header read (records are never touched); a glob/dir
    * path resolves to its first matching file, since every shard of one
    * cohort carries the same sample columns.
    */
  def sampleNames(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file = fs.globStatus(p) match {
      case null | Array() => p
      case hits =>
        val first = hits.sortBy(_.getPath.toString).head
        if (first.isDirectory)
          fs.listStatus(first.getPath)
            .filter(s => s.isFile &&
              !Bgzf.isHiddenName(s.getPath.getName))
            .sortBy(_.getPath.toString).head.getPath
        else first.getPath
    }
    val in = new DataInputStream(
      new GZIPInputStream(fs.open(file), 65536))
    try {
      val magic = new Array[Byte](5); in.readFully(magic)
      require(magic(0) == 'B' && magic(1) == 'C' && magic(2) == 'F' &&
        magic(3) == 2, "not a BCF2 stream (bad magic)")
      val l = new Array[Byte](4); in.readFully(l)
      val lText = (l(0) & 0xff) | ((l(1) & 0xff) << 8) |
        ((l(2) & 0xff) << 16) | ((l(3) & 0xff) << 24)
      val t = new Array[Byte](lText); in.readFully(t)
      new String(t, "US-ASCII").split("\n")
        .find(_.startsWith("#CHROM"))
        .map(_.stripSuffix("\r").split("\t").drop(9).toSeq)
        .getOrElse(Seq.empty)
    } finally in.close()
  }

  /** The implicit-IDX dictionaries from the embedded VCF-text header:
    * contig names in ##contig order; the shared string dict is "PASS"
    * then every new ##FILTER/##INFO/##FORMAT ID in appearance order.
    */
  private[graft] def parseHeaderDicts(
      text: String): (Array[String], Array[String]) = {
    val contigs = scala.collection.mutable.ArrayBuffer[String]()
    val strings = scala.collection.mutable.ArrayBuffer[String]("PASS")
    val id = "ID=([^,>]+)".r
    text.split("\n").foreach { line =>
      if (line.startsWith("##contig=")) {
        id.findFirstMatchIn(line).foreach(m => contigs += m.group(1))
      } else if (line.startsWith("##FILTER=") ||
        line.startsWith("##INFO=") || line.startsWith("##FORMAT=")) {
        id.findFirstMatchIn(line).foreach { m =>
          if (!strings.contains(m.group(1))) strings += m.group(1)
        }
      }
    }
    (contigs.toArray, strings.toArray)
  }

  // ---- typed-value primitives
  /** Returns (type, length), consuming the descriptor (and overflow
    * length) from `b`.
    */
  private def typeDesc(b: ByteBuffer): (Int, Int) = {
    val d = b.get & 0xff
    val t = d & 0xf
    val l = d >>> 4
    if (l < 15) (t, l) else (t, typedInt(b).toInt)
  }

  /** One typed scalar int (its own descriptor + value). */
  private def typedInt(b: ByteBuffer): Long = {
    val (t, l) = typeDesc(b)
    require(l == 1, s"typed int with length $l")
    intVal(b, t)
  }

  private def intVal(b: ByteBuffer, t: Int): Long = t match {
    case 1 => b.get.toLong
    case 2 => b.getShort.toLong
    case 3 => b.getInt.toLong
    case o => sys.error(s"not an int type: $o")
  }

  private def intMissing(t: Int, v: Long): Boolean = t match {
    case 1 => v == -128L
    case 2 => v == -32768L
    case 3 => v == Int.MinValue.toLong
  }

  private def intEnd(t: Int, v: Long): Boolean = t match {
    case 1 => v == -127L
    case 2 => v == -32767L
    case 3 => v == (Int.MinValue + 1).toLong
  }

  /** Render one typed value (already past its descriptor) as VCF text.
    * While-loop + single builder form: this runs per FORMAT field per
    * sample per record — a 1M-variant × 20-sample file calls it ~20M
    * times, and the previous Range.map/filterNot/mkString chain's
    * intermediate collections were the decode path's dominant
    * allocation cost. Output strings are byte-identical.
    */
  private def renderValue(b: ByteBuffer, t: Int, l: Int): String = t match {
    case 0 => "" // MISSING type: flag INFO, no value
    case 1 | 2 | 3 =>
      val sb = new java.lang.StringBuilder(l * 3)
      var i = 0
      var first = true
      while (i < l) {
        val v = intVal(b, t)
        if (!intEnd(t, v)) {
          if (!first) sb.append(',')
          if (intMissing(t, v)) sb.append('.') else sb.append(v)
          first = false
        }
        i += 1
      }
      sb.toString
    case 5 =>
      val sb = new java.lang.StringBuilder(l * 8)
      var i = 0
      var first = true
      while (i < l) {
        val bits = b.getInt
        if (bits != FloatEnd) {
          if (!first) sb.append(',')
          if (bits == FloatMissing) sb.append('.')
          else sb.append(java.lang.Float.intBitsToFloat(bits).toString)
          first = false
        }
        i += 1
      }
      sb.toString
    case 7 =>
      val c = new Array[Byte](l); b.get(c)
      new String(c, java.nio.charset.StandardCharsets.US_ASCII)
    case o => sys.error(s"unsupported BCF type $o")
  }

  private def decodeRecord(sh: ByteBuffer, ind: ByteBuffer,
                           contigs: Array[String],
                           strings: Array[String]): BcfRec = {
    val chromIdx = sh.getInt
    val pos0 = sh.getInt
    sh.getInt // rlen (recomputable)
    val qualBits = sh.getInt
    val qual =
      if (qualBits == FloatMissing) "."
      else java.lang.Float.intBitsToFloat(qualBits).toString
    val nAlleleInfo = sh.getInt
    val nAllele = nAlleleInfo >>> 16
    val nInfo = nAlleleInfo & 0xffff
    val nFmtSample = sh.getInt
    val nFmt = nFmtSample >>> 24
    val nSample = nFmtSample & 0xffffff
    def typedString(): String = {
      val (t, l) = typeDesc(sh)
      require(t == 7 || l == 0, s"expected string, got type $t")
      renderValue(sh, 7, l)
    }
    val id = typedString() match { case "" => "."; case s => s }
    val alleles = (0 until nAllele).map(_ => typedString())
    val ref = alleles.headOption.getOrElse(".")
    val alt = if (alleles.size > 1) alleles.tail.mkString(",") else "."
    val filter = {
      val (t, l) = typeDesc(sh)
      if (l == 0) "."
      else (0 until l).map(_ => strings(intVal(sh, t).toInt))
        .mkString(";")
    }
    val info = (0 until nInfo).map { _ =>
      val key = strings(typedInt(sh).toInt)
      val (t, l) = typeDesc(sh)
      val v = renderValue(sh, t, l)
      if (t == 0 || (t == 7 && l == 0)) key else s"$key=$v"
    }.mkString(";") match { case "" => "."; case s => s }
    // pruned scan (ind == null): the per-sample block bytes were never
    // materialized — emit the row without genotype decode
    if (ind == null)
      return BcfRec(contigs(chromIdx), pos0 + 1L, id, ref, alt, qual,
        filter, info, Seq.empty)
    // per-sample block: each FORMAT field is a fixed-width typed vector.
    // Flat arrays + while loops (no Seq.tabulate/map per record): the
    // per-sample genotype strings assemble through one builder each.
    val fieldVals = new Array[Array[String]](nFmt)
    var fi = 0
    while (fi < nFmt) {
      val key = strings(typedInt(ind).toInt)
      val (t, perSample) = typeDesc(ind)
      val isGt = key == "GT"
      val vals = new Array[String](nSample)
      var si = 0
      while (si < nSample) {
        vals(si) =
          if (isGt) renderGt(ind, t, perSample)
          else renderValue(ind, t, perSample)
        si += 1
      }
      fieldVals(fi) = vals
      fi += 1
    }
    val genotypes = new Array[String](nSample)
    var si = 0
    while (si < nSample) {
      if (nFmt == 1) genotypes(si) = fieldVals(0)(si)
      else {
        val sb = new java.lang.StringBuilder(nFmt * 4)
        var k = 0
        while (k < nFmt) {
          if (k > 0) sb.append(':')
          sb.append(fieldVals(k)(si))
          k += 1
        }
        genotypes(si) = sb.toString
      }
      si += 1
    }
    BcfRec(
      contigs(chromIdx), pos0 + 1L, id, ref, alt, qual, filter, info,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(genotypes))
  }

  /** Decode one sample's GT vector: ints (allele+1)<<1|phase, 0 = '.',
    * end-of-vector trims (mixed ploidy); the separator before allele
    * i>=2 is '|' when its phase bit is set, '/' otherwise.
    */
  private def renderGt(b: ByteBuffer, t: Int, perSample: Int): String = {
    val sb = new java.lang.StringBuilder(perSample * 2)
    var i = 0
    var out = 0
    while (i < perSample) {
      val j = intVal(b, t)
      if (!intEnd(t, j)) {
        if (out > 0) sb.append(if ((j & 1L) != 0) '|' else '/')
        val allele = (j >>> 1) - 1
        if (allele < 0) sb.append('.') else sb.append(allele)
        out += 1
      }
      i += 1
    }
    sb.toString
  }

  // ------------------------------------------------------------- write
  /** The 9 write-side columns, in [[rowRecord]]'s positional order. */
  private val WriteCols = Seq("chrom", "pos", "id", "ref", "alt", "qual",
    "filter", "info", "genotypes")

  /** Header block: magic + uint32 length + VCF text whose ##FILTER/
    * ##INFO/##FORMAT/##contig lines ARE the binary dictionaries in
    * `strings`/`contigs` order.
    */
  private def headerBytes(strings: Iterable[String],
                          infoKeys: String => Boolean,
                          contigs: Seq[(String, Long)],
                          sampleNames: Seq[String],
                          infoTypes: Map[String, String]): Array[Byte] = {
    val sb = new StringBuilder("##fileformat=VCFv4.2\n")
    strings.foreach {
      case "PASS" =>
        sb ++= "##FILTER=<ID=PASS,Description=\"All filters passed\">\n"
      case "GT" =>
        sb ++= "##FORMAT=<ID=GT,Number=1,Type=String," +
          "Description=\"Genotype\">\n"
      case k if infoKeys(k) =>
        val t = infoTypes.getOrElse(k, "String")
        val num = if (t == "Flag") "0" else "."
        sb ++= s"##INFO=<ID=$k,Number=$num,Type=$t,Description=\"$k\">\n"
      case f =>
        sb ++= s"##FILTER=<ID=$f,Description=\"$f\">\n"
    }
    contigs.foreach { case (n, l) =>
      sb ++= s"##contig=<ID=$n,length=$l>\n"
    }
    sb ++= "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t"
    sb ++= sampleNames.mkString("\t")
    sb += '\n'
    val out = new ByteArrayOutputStream()
    out.write(Array[Byte]('B', 'C', 'F', 2, 2))
    val hb = sb.toString.getBytes("US-ASCII")
    writeLe32(out, hb.length)
    out.write(hb)
    out.toByteArray
  }

  /** One [[WriteCols]]-shaped row -> its l_shared/l_indiv-prefixed BCF
    * record under the given dictionaries.
    */
  private def rowRecord(r: org.apache.spark.sql.Row,
                        contigIdx: Map[String, Int],
                        stringIdx: Map[String, Int],
                        infoTypes: Map[String, String]): Array[Byte] = {
    val shared = new ByteArrayOutputStream()
    val indiv = new ByteArrayOutputStream()
    val chrom = r.getString(0)
    val pos = r.getLong(1)
    val id = Option(r.getString(2)).filter(_ != ".").getOrElse("")
    val ref = r.getString(3)
    val alts = Option(r.getString(4)).filter(_ != ".")
      .map(_.split(",").toSeq).getOrElse(Seq.empty)
    val qual = Option(r.getString(5)).filter(_ != ".")
    // interior ''/'.' tokens (a malformed "q10;." or "q10;;q20" cell)
    // are DROPPED, not encoded: the embedded header's ##FILTER/##INFO
    // lines cannot declare an empty or '.' ID, so the reader's
    // dictionary could never resolve such an index — encoding one
    // produced out-of-dictionary indices that crashed the decode
    val filters = Option(r.getString(6)).filter(f =>
      f != "." && f.nonEmpty).map(_.split(";").toSeq
        .filter(t => t != "." && t.nonEmpty)).getOrElse(Seq.empty)
    val infos: Seq[(String, String)] =
      Option(r.getString(7)).filter(i => i != "." && i.nonEmpty)
        .map(_.split(";").toSeq
          .filter(t => t != "." && t.nonEmpty).map { kv =>
            kv.split("=", 2) match {
              case Array(k) => (k, null)
              case Array(k, v) => (k, v)
            }
          }).getOrElse(Seq.empty)
    val gts = r.getSeq[String](8)
    val alleles = ref +: alts
    writeLe32(shared, contigIdx(chrom))
    writeLe32(shared, (pos - 1).toInt)
    writeLe32(shared, ref.length) // rlen
    writeLe32(shared,
      qual.map(q => java.lang.Float.floatToIntBits(q.toFloat))
        .getOrElse(FloatMissing))
    writeLe32(shared, (alleles.size << 16) | infos.size)
    writeLe32(shared, (1 << 24) | gts.size) // n_fmt=1 (GT)
    writeTypedString(shared, id)
    alleles.foreach(writeTypedString(shared, _))
    writeTypedInts(shared, filters.map(stringIdx(_).toLong))
    infos.foreach { case (k, v) =>
      writeTypedInts(shared, Seq(stringIdx(k).toLong))
      if (v == null) shared.write(0x00) // Flag: MISSING type, len 0
      else infoTypes.getOrElse(k, "String") match {
        case "Float" =>
          val fs = v.split(",")
          writeDesc(shared, 5, fs.length)
          fs.foreach(f => writeLe32(shared,
            if (f == ".") FloatMissing
            else java.lang.Float.floatToIntBits(f.toFloat)))
        case "Integer" =>
          writeTypedInts(shared,
            v.split(",").toSeq.map(s =>
              if (s == ".") Long.MinValue else s.toLong))
        case _ =>
          writeTypedString(shared, v)
      }
    }
    // indiv: GT vectors, fixed width = max ploidy this record
    writeTypedInts(indiv, Seq(stringIdx("GT").toLong))
    val split = gts.map(g => splitGt(g))
    val width = math.max(1, if (split.isEmpty) 1 else split.map(_.size).max)
    writeDesc(indiv, 1, width)
    split.foreach { js =>
      js.foreach { j =>
        require(j <= 127, s"allele index too large for int8 GT: $j")
        indiv.write(j & 0xff)
      }
      (js.size until width).foreach(_ => indiv.write(0x81)) // vector end
    }
    val sb = shared.toByteArray
    val ib = indiv.toByteArray
    val rec = new ByteArrayOutputStream(sb.length + ib.length + 8)
    writeLe32(rec, sb.length)
    writeLe32(rec, ib.length)
    rec.write(sb)
    rec.write(ib)
    rec.toByteArray
  }

  /** Serialize parsed variants (the [[Vcf.read]] column shape) to one
    * BCF2.2 file — the fixture/test-scale single-file writer (the
    * [[Bam.write]] contract: record order = input order; rows collect
    * to the driver, so use [[writeSharded]] beyond fixture scale).
    * Coverage matches the parsed model: GT-only FORMAT, INFO re-encoded
    * from the text string with per-key types from `infoTypes` (Float/
    * Integer/String/Flag; unlisted keys encode as String).
    */
  def write(variants: DataFrame, contigs: Seq[(String, Long)],
            sampleNames: Seq[String], path: String,
            infoTypes: Map[String, String] = Map("AF" -> "Float"),
            blockSize: Int = 0xff00): Unit = {
    val rows = variants.selectExpr(WriteCols: _*).collect()
    // dictionaries: PASS first, then FILTER values and INFO keys in
    // row-appearance order, then GT
    val strings = scala.collection.mutable.LinkedHashSet[String]("PASS")
    val infoKeys = scala.collection.mutable.LinkedHashSet[String]()
    // same interior-token filter as rowRecord: a ''/'.' dictionary
    // entry has no renderable ##FILTER/##INFO header line, so the
    // reader's header-derived dictionary would misalign with the
    // writer's indices for every entry after it
    rows.foreach { r =>
      Option(r.getString(6)).filter(f => f != "." && f.nonEmpty)
        .foreach(_.split(";").filter(t => t != "." && t.nonEmpty)
          .foreach(strings += _))
      Option(r.getString(7)).filter(i => i != "." && i.nonEmpty)
        .foreach(_.split(";").filter(t => t != "." && t.nonEmpty)
          .foreach { kv =>
            val k = kv.split("=")(0)
            strings += k; infoKeys += k
          })
    }
    strings += "GT"
    val stringIdx = strings.zipWithIndex.toMap
    val contigIdx = contigs.map(_._1).zipWithIndex.toMap
    val body = new ByteArrayOutputStream()
    body.write(headerBytes(strings, infoKeys.contains, contigs,
      sampleNames, infoTypes))
    rows.foreach(r =>
      body.write(rowRecord(r, contigIdx, stringIdx, infoTypes)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Bgzf.compress(body.toByteArray, blockSize))
  }

  /** The scale-path BCF sink: one complete, independently valid BCF2.2
    * file per input partition, written BY the executors with
    * O(blockSize) task memory ([[Bam.writeSharded]]'s contract — the
    * caller shapes shards via the frame's partitioning). The string
    * dictionary must be header-consistent across shards, so it comes
    * from ONE distributed distinct pass over the FILTER/INFO columns
    * (dictionary-scale result collected: dozens of strings, like the
    * VCF header line read) — every shard then shares an identical
    * header, which also keeps the directory `bcftools concat`-shaped.
    * Dictionary order is sorted (not appearance order): appearance
    * order is partition-dependent, and the header is self-describing
    * either way.
    */
  def writeSharded(variants: DataFrame, contigs: Seq[(String, Long)],
                   sampleNames: Seq[String], dir: String,
                   infoTypes: Map[String, String] = Map("AF" -> "Float"),
                   blockSize: Int = 0xff00,
                   index: Boolean = false): Unit = {
    // persisted: the frame is read three times (two dictionary passes
    // + the write job) — without it an expensive upstream recomputes
    // 3x, and a NONDETERMINISTIC input could surface a FILTER/INFO
    // token in the write pass that the dictionary pass never saw
    // (stringIdx would throw on an executor)
    val src = variants.selectExpr(WriteCols: _*).persist()
    try {
      // token semantics MUST mirror rowRecord's (and write()'s): the
      // whole cell is dropped when null/"."/"", and interior ""/"."
      // tokens inside a kept cell are dropped too (no renderable
      // header line can declare them, so they can't be dictionary
      // entries — rowRecord skips encoding them for the same reason)
      val cells = (c: String) => src.select(col(c).as("cell"))
        .where(col("cell").isNotNull && col("cell") =!= "." &&
          col("cell") =!= "")
        .select(explode(split(col("cell"), ";")).as("t"))
        .where(col("t") =!= "." && col("t") =!= "")
      val dict = (frame: DataFrame) => frame
        .distinct().orderBy("t").collect().map(_.getString(0)).toSeq
      val filterVals = dict(cells("filter"))
      val infoKeys = dict(cells("info")
        .select(split(col("t"), "=").getItem(0).as("t")))
      val strings = (Seq("PASS") ++ filterVals ++ infoKeys ++ Seq("GT"))
        .distinct
      val stringIdx = strings.zipWithIndex.toMap
      val contigIdx = contigs.map(_._1).zipWithIndex.toMap
      val hdr = headerBytes(strings, infoKeys.toSet.contains, contigs,
        sampleNames, infoTypes)
      Bgzf.writeShards(src.rdd, dir, ".bcf", hdr, blockSize)(
        r => rowRecord(r, contigIdx, stringIdx, infoTypes))
    } finally src.unpersist()
    // index = true writes one .csi per shard (distributed); requires
    // each shard coordinate-sorted (the writeIndex guard throws
    // loudly otherwise) — the same contract region read-back needs
    if (index) Tabix.forEachFile(variants.sparkSession, dir)(writeIndex)
  }

  /** One GT string -> BCF ints ((allele+1)<<1 | phase-of-separator). */
  private[graft] def splitGt(gt: String): Seq[Int] = {
    if (gt == null || gt.isEmpty) return Seq(0)
    val toks = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
    var cur = new StringBuilder
    var phased = false // first allele's phase bit: htslib writes 0
    gt.foreach {
      case '|' => toks += ((cur.toString, phased)); cur = new StringBuilder
        phased = true
      case '/' => toks += ((cur.toString, phased)); cur = new StringBuilder
        phased = false
      case c => cur += c
    }
    toks += ((cur.toString, phased))
    toks.toSeq.zipWithIndex.map { case ((a, p), i) =>
      val allele = if (a == "." || a.isEmpty) -1 else a.toInt
      ((allele + 1) << 1) | (if (i > 0 && p) 1 else 0)
    }
  }

  /** Descriptor byte(s): (len<<4)|type with the 15-overflow rule. */
  private def writeDesc(o: ByteArrayOutputStream, t: Int, l: Int): Unit =
    if (l < 15) o.write((l << 4) | t)
    else {
      o.write(0xf0 | t)
      writeTypedInts(o, Seq(l.toLong))
    }

  private def writeTypedString(o: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes("US-ASCII")
    writeDesc(o, 7, b.length)
    o.write(b)
  }

  /** A typed int vector at the smallest width fitting every value
    * (missing encoded per-width; Long.MinValue marks missing in).
    */
  private def writeTypedInts(o: ByteArrayOutputStream,
                             vs: Seq[Long]): Unit = {
    val present = vs.filterNot(_ == Long.MinValue)
    val t =
      if (present.forall(v => v >= -120 && v <= 127)) 1
      else if (present.forall(v => v >= -32760 && v <= 32767)) 2
      else 3
    writeDesc(o, t, vs.length)
    vs.foreach { v =>
      val x = t match {
        case 1 => if (v == Long.MinValue) -128L else v
        case 2 => if (v == Long.MinValue) -32768L else v
        case 3 => if (v == Long.MinValue) Int.MinValue.toLong else v
      }
      t match {
        case 1 => o.write((x & 0xff).toInt)
        case 2 => o.write((x & 0xff).toInt); o.write(((x >> 8) & 0xff).toInt)
        case 3 =>
          o.write((x & 0xff).toInt); o.write(((x >> 8) & 0xff).toInt)
          o.write(((x >> 16) & 0xff).toInt)
          o.write(((x >> 24) & 0xff).toInt)
      }
    }
  }
}
