package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Native sequence kernels (bound to Catalyst as graft_translate_dna by
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
}
