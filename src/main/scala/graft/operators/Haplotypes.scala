package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Haplotype extraction from phased genotypes.
  *
  * Reference: /root/reference/src/modules/get_haplotypes.py — per transcript
  * and individual, collect the variants present on each phased copy
  * ("1|…" = copy 1, "…|1" = copy 2), group identical combinations into
  * haplotypes, count occurrences and frequencies, roll frequencies up per
  * population. X-chromosome handling (get_haplotypes.py:92,118,226-230):
  * male samples outside the pseudo-autosomal regions carry ONE copy (copy 1
  * only) and count once in the frequency denominator; haplotypes whose
  * variants overlap on the reference are conflicts and their carriers are
  * dropped (cluster_conflicting_mutations, get_haplotypes.py:8-30,172-184).
  *
  * Spark-first design: the genotype matrix arrives long (one row per
  * variant x sample). Haplotypes are two aggregations — (transcript, sample,
  * phase) -> ordered variant signature, then (transcript, signature) ->
  * count + samples — both shuffles on well-distributed keys with map-side
  * partial aggregation. No per-transcript driver loop.
  */
object Haplotypes {

  /** Per-transcript "autosomal" flag per get_haplotypes.py:92 — everything
    * is autosomal on non-X chromosomes; on X only transcripts fully inside
    * PAR1 or PAR2 count as autosomal.
    */
  def isAutosomal(tStart: Column, tEnd: Column, isXChrom: Boolean,
                  par1To: Long, par2From: Long): Column =
    if (!isXChrom) lit(true)
    else (tStart < par1To && tEnd <= par1To) ||
      (tStart >= par2From && tEnd > par2From)

  /** Expand genotype rows to one row per phased copy with an `has_alt` flag.
    * Input columns: transcript, sample, varId, pos, gt ("0|1" style), plus
    * an `autosomal` boolean and a `sex` column ("male"/"female") when
    * ploidy-aware (male X non-PAR samples carry copy 1 only).
    */
  def phased(gts: DataFrame): DataFrame = {
    val copies =
      if (gts.columns.contains("autosomal") && gts.columns.contains("sex"))
        when(col("autosomal") || col("sex") =!= "male", array(lit(1), lit(2)))
          .otherwise(array(lit(1)))
      else array(lit(1), lit(2))
    gts.withColumn("phase", explode(copies))
      .withColumn("has_alt",
        when(col("phase") === 1, col("gt").startsWith("1|"))
          .otherwise(col("gt").endsWith("|1")))
  }

  /** Conflict flag for a haplotype's variant set: any two variants whose
    * reference spans [pos, pos+refLen] touch or overlap. Matches the
    * reference sweep (get_haplotypes.py:8-30) exactly, including the
    * boundary case: a start event at the same locus as an end event sorts
    * BEFORE it (Python stable sort, starts listed first), so touching
    * intervals — even two adjacent SNPs — conflict.
    * `variants` is array<struct<pos:long, refLen:int>>.
    */
  def hasConflict(variants: Column): Column = {
    val sorted = array_sort(variants)
    exists(
      zip_with(sorted,
        slice(sorted, lit(2), greatest(size(sorted) - 1, lit(0))),
        (a, b) => b.isNotNull &&
          (a.getField("pos") + a.getField("refLen") >= b.getField("pos"))),
      x => x)
  }

  /** The genotype matrix aggregated ONCE per phased copy: one row per
    * (transcript, sample, phase) in `gts`, REF copies included, with
    *  - `changes`: the copy's ALT variants sorted by pos, struct(pos,
    *    varId, ref) plus alt and af (from allele_af) when `gts` has those
    *    columns; NULL for a REF copy;
    *  - `conflict`: [[hasConflict]] over those variants;
    *  - `signature`: their ';'-joined varIds, or "REF".
    * The haplotype groups, their denominators and the population rollups
    * all read this table, so the matrix is scanned and shuffled once.
    */
  def perCopy(gts: DataFrame): DataFrame = {
    def opt(c: String, as: String) =
      if (gts.columns.contains(c)) Seq(col(c).as(as)) else Nil
    val detail = Seq(col("pos"), col("varId"), col("ref")) ++
      opt("alt", "alt") ++ opt("allele_af", "af")
    phased(gts)
      .groupBy("transcript", "sample", "phase")
      .agg(collect_list(when(col("has_alt"), struct(detail: _*)))
        .as("_alts"))
      .select(col("transcript"), col("sample"), col("phase"),
        when(size(col("_alts")) > 0, array_sort(col("_alts")))
          .as("changes"),
        hasConflict(transform(col("_alts"), v => struct(
          v.getField("pos").as("pos"),
          length(v.getField("ref")).as("refLen")))).as("conflict"))
      .withColumn("signature", coalesce(array_join(
        transform(col("changes"), v => v.getField("varId")), ";"),
        lit("REF")))
  }

  /** Haplotype table. Input gts columns: transcript, sample, varId, pos,
    * ref, gt; optionally autosomal + sex (see [[phased]]). One row per
    * (transcript, signature): signature is the ';'-joined variant list
    * ordered by pos (or "REF"), hap_count, samples ("sample:phase" ordered
    * list), frequency = hap_count / denominator where the denominator is
    * 2*n_samples, except male X non-PAR copies which count once
    * (get_haplotypes.py:221-230). Conflicted signatures (overlapping
    * variants) are dropped, as the reference drops their carrier samples.
    */
  def haplotypes(gts: DataFrame): DataFrame =
    haplotypesOf(perCopy(gts)).drop("changes")

  /** [[haplotypes]] of a [[perCopy]] table, plus `changes` (the first
    * copy's variant list; NULL for the REF group).
    */
  def haplotypesOf(copies: DataFrame): DataFrame = {
    // denominator: total phased copies per transcript (2 per sample, 1 for
    // male X non-PAR copies — already reflected in the per-copy ploidy)
    val copyCounts = copies
      .groupBy("transcript")
      .agg(count(lit(1)).as("total_copies"))
    copies
      .where(!col("conflict"))
      .groupBy("transcript", "signature")
      .agg(
        first(col("changes")).as("changes"),
        count(lit(1)).as("hap_count"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("sample"), col("phase")))),
            s => concat(s.getField("sample"), lit(":"),
              s.getField("phase").cast("string"))),
          ";").as("samples"))
      .join(copyCounts, Seq("transcript"))
      .withColumn("frequency",
        round(col("hap_count") / col("total_copies"), 6))
      .drop("total_copies")
  }

  /** Population frequency rollup (reference: get_haplotypes.py
    * count_freq_pop): per (transcript, signature, population) counts with
    * denominators that count male X non-PAR samples once
    * (pop_male + 2*(pop_n - pop_male)).
    * samplePops columns: sample, population (+ sex when ploidy-aware).
    */
  def populationFrequencies(gts: DataFrame, samplePops: DataFrame): DataFrame =
    populationFrequenciesOf(perCopy(gts), samplePops)

  /** [[populationFrequencies]] of a [[perCopy]] table. Conflicted and REF
    * copies count, in the rollup and in the denominators.
    */
  def populationFrequenciesOf(copies: DataFrame,
                              samplePops: DataFrame): DataFrame = {
    val pops = copies.join(samplePops.select("sample", "population"),
      Seq("sample"))
    // per-transcript population copy counts from the copies' own ploidy
    val popCopies = pops
      .groupBy("transcript", "population")
      .agg(count(lit(1)).as("pop_copies"))
    pops
      .groupBy("transcript", "signature", "population")
      .agg(count(lit(1)).as("pop_count"))
      .join(popCopies, Seq("transcript", "population"))
      .withColumn("pop_frequency",
        round(col("pop_count") / col("pop_copies"), 6))
      .drop("pop_copies")
  }
}
