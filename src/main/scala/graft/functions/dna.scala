package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** DNA / protein sequence column functions.
  *
  * Re-expresses the sequence toolbox of ProHap (reference:
  * /root/reference/src/modules/process_haplotypes.py, coordinates_toolbox.py,
  * which use Bio.Seq) as native Spark column expressions — everything stays
  * inside whole-stage codegen, no UDFs, so it scales linearly over 100 TB of
  * sequence rows.
  */
object dna {

  /** Standard DNA codon table (codon -> one-letter amino acid, '*' = stop).
    * Reference translates via Bio.Seq transcribe().translate()
    * (process_haplotypes.py:369); we translate DNA codons directly, which is
    * equivalent (T<->U).
    */
  val codonTable: Seq[(String, String)] = {
    val bases = Seq("T", "C", "A", "G")
    val aas =
      "FFLLSSSSYY**CC*W" + // TTT..TGG
        "LLLLPPPPHHQQRRRR" + // CTT..CGG
        "IIIMTTTTNNKKSSRR" + // ATT..AGG
        "VVVVAAAADDEEGGGG" // GTT..GGG
    for {
      (b1, i1) <- bases.zipWithIndex
      (b2, i2) <- bases.zipWithIndex
      (b3, i3) <- bases.zipWithIndex
    } yield (b1 + b2 + b3) -> aas.charAt(i1 * 16 + i2 * 4 + i3).toString
  }

  /** Codon -> amino-acid as a Spark map literal (codegen-friendly lookup). */
  def codonMap: Column =
    map(codonTable.flatMap { case (c, aa) => Seq(lit(c), lit(aa)) }: _*)

  /** Reverse complement (reference: Bio.Seq.reverse_complement, used at
    * process_haplotypes.py:203 for reverse-strand alleles).
    */
  def revComp(seq: Column): Column = reverse(translate(seq, "ACGT", "TGCA"))

  /** DNA -> RNA transcription. */
  def transcribe(seq: Column): Column = translate(seq, "T", "U")

  /** Split a sequence into consecutive codons (remainder < 3 nt dropped). */
  def codons(seq: Column): Column =
    regexp_extract_all(seq, lit(".{3}"), lit(0))

  /** Translate a cDNA sequence to protein in the given reading frame.
    * Unknown codons (e.g. containing N) become 'X'.
    *
    * Dispatches to the native [[NativeSeqOps.translateDna]] kernel: a
    * direct table lookup per codon instead of a 64-entry map-literal
    * scan, and ~2 expression nodes per call site instead of ~130 (which
    * dominated optimizer time in the protein pipeline). The expression is
    * constructed directly, so this Column API needs no function
    * registration (SQL users get the same kernel as graft_translate_dna
    * via GraftFunctions / spark.sql.extensions).
    */
  def translateDna(seq: Column, frame: Column = lit(0)): Column =
    graft.plans.GraftFunctions.call("graft_translate_dna", seq,
      frame.cast("int"))

  /** Apply an ordered list of variants to a sequence.
    *
    * `variants` is array<struct<pos:int, ref:string, alt:string>> with
    * 1-based positions on the *reference* sequence, sorted ascending by pos.
    * A cumulative length offset accounts for preceding indels — mirrors the
    * mutated-cDNA construction loop at process_haplotypes.py:260-285.
    */
  def applyVariants(seq: Column, variants: Column): Column =
    aggregate(
      variants,
      struct(seq.as("s"), lit(0).as("off")),
      (acc, v) => {
        val s = acc.getField("s")
        val off = acc.getField("off")
        val pos = v.getField("pos") + off
        val refLen = length(v.getField("ref"))
        struct(
          concat(
            s.substr(lit(1), pos - 1),
            v.getField("alt"),
            s.substr(pos + refLen, length(s))
          ).as("s"),
          (off + length(v.getField("alt")) - refLen).as("off")
        )
      },
      acc => acc.getField("s")
    )

  /** 1-based position of the first ATG (0 when absent). */
  def startCodonPos(seq: Column): Column = instr(seq, "ATG")

  /** Zero-based codon index of the first in-frame stop codon scanning the
    * frame that starts at 1-based nucleotide `start`; null when there is
    * none. Mirrors the first-stop search used for UTR trimming
    * (process_haplotypes.py:376).
    */
  def firstStopCodon(seq: Column, start: Column): Column = {
    val cs = codons(seq.substr(start, length(seq)))
    array_min(
      filter(
        transform(cs, (c, i) => when(c.isin("TAA", "TAG", "TGA"), i)),
        x => x.isNotNull))
  }

  /** Classify the protein-level consequence of a single variant given the
    * REF/ALT alleles and the affected amino acids before/after.
    * Mirrors the consequence assignment at process_haplotypes.py:323-339.
    */
  def consequence(refAllele: Column, altAllele: Column,
                  aaRef: Column, aaAlt: Column): Column = {
    val refLen = length(refAllele)
    val altLen = length(altAllele)
    when(aaRef === aaAlt, "synonymous")
      .when(aaRef.contains("*") && !aaAlt.contains("*"), "stop_lost")
      .when(!aaRef.contains("*") && aaAlt.contains("*"), "stop_gained")
      .when(refLen === altLen, "SAV")
      .when(abs(refLen - altLen) % 3 =!= 0, "frameshift")
      .otherwise("inframe_indel")
  }
}
