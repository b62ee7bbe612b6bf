package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Native sequence and genotype kernels (bound to Catalyst as
  * graft_translate_dna and graft_rewrite_gts by
  * [[graft.plans.GraftFunctions]]).
  *
  * The original `dna.translateDna` walked a 64-entry codon map *literal*
  * with `element_at` inside `transform` — a linear scan of a MapData per
  * codon per row, and ~128 expression nodes inlined at every call site
  * (the optimizer spent seconds just traversing them in the protein
  * pipeline). This kernel is one compiled call per row: direct table
  * lookup per codon, no per-element expression evaluation.
  */
object NativeSeqOps {

  // standard codon table flattened over base order T,C,A,G — identical to
  // dna.codonTable (reference: Bio.Seq translate,
  // /root/reference/src/modules/process_haplotypes.py:369)
  private val AA: Array[Byte] = (
    "FFLLSSSSYY**CC*W" +
      "LLLLPPPPHHQQRRRR" +
      "IIIMTTTTNNKKSSRR" +
      "VVVVAAAADDEEGGGG").getBytes("US-ASCII")

  private val BASE: Array[Byte] = {
    val t = Array.fill[Byte](256)(-1)
    t('T') = 0; t('C') = 1; t('A') = 2; t('G') = 3
    t
  }

  /** Translate DNA starting at 0-based `frame`; unknown codons (N etc.)
    * become 'X'; a trailing partial codon is dropped — exactly
    * dna.translateDna's semantics (and the DuckDB codon-table oracle's).
    */
  def translateDna(seq: UTF8String, frame: Int): UTF8String = {
    val b = seq.getBytes
    val start = math.max(frame, 0)
    val m = math.max((b.length - start) / 3, 0)
    val out = new Array[Byte](m)
    var i = 0
    while (i < m) {
      val o = start + i * 3
      val i1 = BASE(b(o) & 0xff)
      val i2 = BASE(b(o + 1) & 0xff)
      val i3 = BASE(b(o + 2) & 0xff)
      out(i) =
        if (i1 < 0 || i2 < 0 || i3 < 0) 'X'
        else AA((i1 << 4) + (i2 << 2) + i3)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Rewrite every genotype call of a VCF row for its `allele`-th
    * (1-based) split ALT, per vcf_filter_fix.py:93-109: the FORMAT
    * suffix from the first ':' on is dropped, a haploid call "x" pads to
    * "x|0", an allele equal to `allele` becomes 1, "." stays ".", every
    * other allele becomes 0, and the alleles are rejoined with '|' ("0/2"
    * for allele 2 gives "0|1"). One byte scan per call, no regex; NULL
    * calls stay NULL.
    */
  def rewriteGts(gts: ArrayData, allele: Int): ArrayData = {
    val idx = UTF8String.fromString(Integer.toString(allele))
    val n = gts.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (gts.isNullAt(i)) null else rewriteGt(gts.getUTF8String(i), idx)
      i += 1
    }
    new GenericArrayData(out)
  }

  private val Dot = UTF8String.fromString(".")
  private val Zero = UTF8String.fromString("0")

  private def rewriteGt(gt: UTF8String, idx: UTF8String): UTF8String = {
    val len = gt.numBytes()
    var end = 0
    var seps = 0
    while (end < len && gt.getByte(end) != ':') {
      val c = gt.getByte(end)
      if (c == '|' || c == '/') seps += 1
      end += 1
    }
    val haploid = seps == 0
    val out = new Array[Byte](if (haploid) 3 else 2 * seps + 1)
    var field = 0
    var from = 0
    var j = 0
    while (j <= end) {
      if (j == end || gt.getByte(j) == '|' || gt.getByte(j) == '/') {
        if (field > 0) out(2 * field - 1) = '|'
        out(2 * field) = code(UTF8String.fromAddress(gt.getBaseObject,
          gt.getBaseOffset + from, j - from), idx)
        field += 1
        from = j + 1
      }
      j += 1
    }
    if (haploid) {
      out(1) = '|'
      out(2) = code(Zero, idx)
    }
    UTF8String.fromBytes(out)
  }

  /** The rewritten code of one allele. */
  private def code(allele: UTF8String, idx: UTF8String): Byte =
    if (allele == idx) '1' else if (allele == Dot) '.' else '0'
}
