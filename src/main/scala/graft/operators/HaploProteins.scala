package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.dna

/** The five sequential per-row folds of [[HaploProteins.proteinDatabase]]
  * as Column builders: `rnaAllele` -> struct<rna, ref, alt, intersect>,
  * `affected` -> array<struct<ploc, aa>>, `startState` -> struct<sl, rf,
  * ps, lost, invalid, lostOrd>, `applyVars` -> struct<s, ok>, `conseq`
  * -> struct<conseq, protch, syn>. The pipeline runs the compiled
  * kernels; tests pass the higher-order-function form they transcribe
  * as a parity oracle.
  */
private[graft] trait ProteinFolds {
  def rnaAllele(exons: Column, loc: Column, ref: Column,
                alt: Column): Column
  def affected(cdna: Column, loc: Column, alen: Column, rf: Column,
               pstart: Column): Column
  def startState(vars: Column, sl0: Column, rf0: Column, ps0: Column,
                 hasStart: Column, forceRf: Boolean,
                 skipStartLoss: Boolean): Column
  def applyVars(vars: Column, cdna: Column): Column
  def conseq(refA: Column, altA: Column, dnaType: Column, isFs: Column,
             hasFsBefore: Column): Column
}

/** The ProHap core: haplotype -> mutated cDNA -> protein database.
  *
  * Re-expresses /root/reference/src/modules/process_haplotypes.py:72-430 and
  * coordinates_toolbox.py Spark-first. The reference's per-haplotype Python
  * loops become a RELATIONAL dataflow: variants explode to rows (one small
  * codegen'd expression per derivation), sequential state that is a pure
  * prefix aggregate (cumulative indel offsets, frameshift chaining) becomes
  * window functions over the variant order, and the genuinely sequential
  * per-row folds — exon mapping, start-codon shift tracking,
  * mutated-cDNA construction, affected codons, consequences — run as
  * compiled kernels over the (small) variant array ([[ProteinFolds]]).
  * This keeps every Catalyst expression tree bounded: an early
  * all-nested-folds version produced a tree the optimizer chewed on for
  * minutes.
  *
  * Semantics covered: reading-frame inference from the start codon (stop
  * codon + forceRf fallback), reverse-strand allele reverse-complementing
  * and position flipping (process_haplotypes.py:200-205), liftover
  * alt==reference drop (:208), splice-junction truncation of alleles
  * incl. reach-into-next-exon reassembly across the junction
  * (coordinates_toolbox.get_rna_position), start-codon
  * shift/loss per variant (check_start_change, incl. Python-modulo
  * semantics via pmod), ordered variant application with cumulative indel
  * offsets, per-variant affected-codon extraction on reference and mutated
  * cDNA (get_affected_codons), consequence classification incl. `_after_fs`
  * and "(+fs)"/"(fs)" suffixes, UTR trimming + UTR-variant removal
  * (check_protein_allele), haplotype merge by kept-VCF-id set, and
  * count thresholds.
  */
object HaploProteins {

  /** The folds as [[graft.functions.NativeProteinOps]] kernel calls. */
  private object KernelFolds extends ProteinFolds {
    import graft.plans.GraftFunctions.call
    def rnaAllele(exons: Column, loc: Column, ref: Column,
                  alt: Column): Column =
      call("graft_rna_allele", exons, loc, ref, alt)
    def affected(cdna: Column, loc: Column, alen: Column, rf: Column,
                 pstart: Column): Column =
      call("graft_affected", cdna, loc, alen, rf, pstart)
    def startState(vars: Column, sl0: Column, rf0: Column, ps0: Column,
                   hasStart: Column, forceRf: Boolean,
                   skipStartLoss: Boolean): Column =
      call("graft_start_state", vars, sl0, rf0, ps0, hasStart,
        lit(forceRf), lit(skipStartLoss))
    def applyVars(vars: Column, cdna: Column): Column =
      call("graft_apply_vars", vars, cdna)
    def conseq(refA: Column, altA: Column, dnaType: Column, isFs: Column,
               hasFsBefore: Column): Column =
      call("graft_conseq", refA, altA, dnaType, isFs, hasFsBefore)
  }

  /** Build the protein database. Input row columns:
    * transcript, chrom, biotype, strand, exons (sorted array of
    * struct(start,end)), start_codon_start / stop_codon_start (nullable),
    * cdna, signature, changes = array<struct<pos,varId,ref,alt,af>> sorted
    * by genomic pos, hap_count, frequency, samples.
    */
  /** @param keepCdna also output the mutated cDNA per haplotype
    *   (`cdna_sequence`, `cdna_start`) — the ProHap `-output_cdna_fasta`
    *   option (prohap.py:92,184-191): with a known reading frame the
    *   sequence is the CDS segment when `ignoreUtr` (start 0,
    *   process_haplotypes.py:399-401) or the full mutated cDNA with
    *   start = rf + protein_start*3 (process_haplotypes.py:370);
    *   unknown frame keeps the full sequence with start -1
    *   (process_haplotypes.py:478). Off by default — the reference
    *   guards it the same way ("don't waste the memory otherwise").
    */
  def proteinDatabase(haplo0: DataFrame, forceRf: Boolean = true,
                      ignoreUtr: Boolean = true,
                      skipStartLoss: Boolean = true,
                      minCount: Long = 0L,
                      requireNonSyn: Boolean = true,
                      keepCdna: Boolean = false): DataFrame =
    proteinDatabaseWith(KernelFolds, haplo0, forceRf, ignoreUtr,
      skipStartLoss, minCount, requireNonSyn, keepCdna)

  /** [[proteinDatabase]] with the per-row `folds` supplied by the caller. */
  private[graft] def proteinDatabaseWith(folds: ProteinFolds,
      haplo0: DataFrame, forceRf: Boolean, ignoreUtr: Boolean,
      skipStartLoss: Boolean, minCount: Long, requireNonSyn: Boolean,
      keepCdna: Boolean): DataFrame = {
    graft.plans.GraftFunctions.register(haplo0.sparkSession)
    // optional per-haplotype population rollup strings ("POP:0.00123;..."),
    // carried through and merged on the vcf-id merge like
    // process_haplotypes.add_population_freqs
    val haplo = Seq("freq_population", "freq_superpopulation")
      .foldLeft(haplo0) { (df, c) =>
        if (df.columns.contains(c)) df else df.withColumn(c, lit("-"))
      }
    val len = length(col("cdna"))
    val rev = col("strand") === "-"

    // ---- per-haplotype constants: reading frame from start/stop codon --
    val slFwd = CoordMap.rnaPos(col("exons"), col("start_codon_start"))
    val sl0 = when(col("start_codon_start").isNotNull,
      when(rev, len - slFwd - 3).otherwise(slFwd))
    val stopFwd = CoordMap.rnaPos(col("exons"), col("stop_codon_start"))
    val stopLoc = when(col("stop_codon_start").isNotNull,
      when(rev, len - stopFwd - 3).otherwise(stopFwd))
    val rf0 = when(sl0.isNotNull, pmod(sl0, lit(3)).cast("int"))
      .otherwise(if (forceRf)
        when(stopLoc.isNotNull, pmod(stopLoc, lit(3)).cast("int"))
          .otherwise(lit(-1))
      else lit(-1))
    val pstart0 = when(sl0.isNotNull,
      ((sl0 - pmod(sl0, lit(3))) / 3).cast("long")).otherwise(lit(0L))

    val base = haplo
      .withColumn("_len", len)
      .withColumn("_rev", rev)
      .withColumn("_rf0", coalesce(rf0, lit(-1)))
      .withColumn("_startLoc0", coalesce(sl0, lit(0L)))
      .withColumn("_pstart0", pstart0)
      .withColumn("_hasStart", col("start_codon_start").isNotNull)

    // ---- 1) explode variants in cDNA order (reverse genomic on '-') ----
    // Haplotype-level columns are CARRIED through the explode and the
    // per-variant stages instead of being re-joined downstream: the
    // join-back shape recomputed the entire upstream per branch (the
    // round-2 physical plan had 39 parquet scans / 77 exchanges for this
    // one query). The explode fanout is the per-haplotype variant count
    // (small), so carrying costs little and the pipeline stays one linear
    // scan with a single partitioning on (transcript, signature).
    val ordered = when(col("_rev"), reverse(col("changes")))
      .otherwise(col("changes"))
    val carry = Seq("chrom", "biotype", "cdna", "_len", "_rev", "_rf0",
      "_startLoc0", "_pstart0", "_hasStart", "hap_count", "frequency",
      "samples", "freq_population", "freq_superpopulation")
    val exploded = base
      .select(Seq(col("transcript"), col("signature"), col("exons")) ++
        carry.map(col) :+ posexplode(ordered).as(Seq("ord", "v")): _*)

    // ---- 2) per-variant rna position, truncation, strand flip ----------
    val refN = when(col("v").getField("ref") === "-", "")
      .otherwise(col("v").getField("ref"))
    val altN = when(col("v").getField("alt") === "-", "")
      .otherwise(col("v").getField("alt"))
    val mapped = exploded
      .withColumn("_ra", folds.rnaAllele(col("exons"),
        col("v").getField("pos"), refN, altN))
      .withColumn("ref", when(col("_rev"),
        dna.revComp(col("_ra").getField("ref")))
        .otherwise(col("_ra").getField("ref")))
      .withColumn("alt", when(col("_rev"),
        dna.revComp(col("_ra").getField("alt")))
        .otherwise(col("_ra").getField("alt")))
      .withColumn("rna", when(col("_rev"),
        col("_len") - col("_ra").getField("rna") -
          length(col("_ra").getField("ref")))
        .otherwise(col("_ra").getField("rna")).cast("long"))
      .withColumn("intersect", col("_ra").getField("intersect"))
      // liftover drop: ALT already present in the reference cDNA
      .where(col("alt") =!=
        col("cdna").substr((col("rna") + 1).cast("int"), length(col("alt"))))
      .select(Seq(col("transcript"), col("signature")) ++ carry.map(col) ++
        Seq(col("ord"),
          col("v").getField("pos").as("pos"),
          col("v").getField("varId").as("varId"),
          col("v").getField("af").as("af"),
          col("v").getField("ref").as("refDna"),
          col("v").getField("alt").as("altDna"),
          col("ref"), col("alt"), col("rna"), col("intersect")): _*)

    // ---- 3) window-derived prefix state over the kept variant order ----
    val w = Window.partitionBy("transcript", "signature").orderBy("ord")
    val wBefore = w.rowsBetween(Window.unboundedPreceding, -1)
    val staged = mapped
      .withColumn("refLen", length(col("ref")).cast("long"))
      .withColumn("altLen", length(col("alt")).cast("long"))
      .withColumn("isFs", pmod(abs(col("altLen") - col("refLen")),
        lit(3)) =!= 0)
      .withColumn("offBefore",
        coalesce(sum(col("altLen") - col("refLen")).over(wBefore), lit(0L)))

    // ---- 4) collect per-haplotype variant array (small structs); the
    // haplotype-level columns ride along via first() — no join back to
    // `base`, so the upstream is computed exactly once
    val perHaplo = staged
      .groupBy("transcript", "signature")
      .agg(array_sort(collect_list(struct(
        col("ord"), col("pos"), col("varId"), col("af"), col("refDna"),
        col("altDna"), col("ref"), col("alt"), col("rna"), col("refLen"),
        col("altLen"), col("isFs"), col("offBefore"), col("intersect"))))
        .as("vars"),
        carry.map(c => first(col(c)).as(c)): _*)

    // ---- 5) start-codon shift/loss fold (check_start_change) -----------
    val startState = folds.startState(col("vars"), col("_startLoc0"),
      col("_rf0"), col("_pstart0"), col("_hasStart"), forceRf,
      skipStartLoss)

    val withStart = perHaplo.withColumn("_ss", startState)
      .where(!col("_ss").getField("invalid"))
      .withColumn("_rf", col("_ss").getField("rf"))
      .withColumn("_lostOrd", col("_ss").getField("lostOrd"))
      .withColumn("_startLost", col("_ss").getField("lost"))
      // reference-side frame: unchanged by variants unless start lost
      .withColumn("_rfRef", when(col("_startLost"), lit(-1))
        .otherwise(col("_rf0")))
      .withColumn("_pstart", col("_ss").getField("ps"))
      .withColumn("_pstartRef",
        when(col("_startLost"), lit(0L)).otherwise(col("_pstart0")))

    // ---- 6) apply variants to the cDNA (sequential concat fold) --------
    val applied = folds.applyVars(col("vars"), col("cdna"))

    // the translations of the mutated cDNA and its first stop, here: once
    // per haplotype inside a compiled stage. After step 8 they would share
    // a Project with step 9's UTR-filter lambda, which keeps that Project
    // out of whole-stage codegen, and the optimizer inlines the
    // translation into the lambda, to run once per variant.
    val protFull = dna.translateDna(col("_mutated"),
      when(col("_rf") > -1, col("_rf")).otherwise(lit(0)))
    val firstStop0 = instr(col("_protFull").substr(
      (col("_pstart") + 1).cast("int"), length(col("_protFull"))), "*")
      .cast("long")
    val firstStop = when(firstStop0 === 0,
      length(col("_protFull")).cast("long"))
      .otherwise(col("_pstart") + firstStop0 - 1)
    // unknown frame -> reference emits the frame-1/2 translations too
    // (process_haplotypes.py:456-470); ';'-joined here, '-' when rf known
    val altFrameSeqs = when(col("_rf") === -1,
      concat(dna.translateDna(col("_mutated"), lit(1)), lit(";"),
        dna.translateDna(col("_mutated"), lit(2)))).otherwise(lit("-"))

    val withCdna = withStart.withColumn("_ap", applied)
      .where(col("_ap").getField("ok"))
      .withColumn("_mutated", col("_ap").getField("s"))
      .withColumn("_protFull", protFull)
      .withColumn("_firstStop", firstStop)
      .withColumn("_altFrames", altFrameSeqs)
      .select("transcript", "signature", "vars", "chrom", "biotype", "cdna",
        "_mutated", "_protFull", "_firstStop", "_altFrames", "_rf", "_rfRef",
        "_pstart", "_pstartRef", "_hasStart", "_startLost", "_lostOrd",
        "hap_count", "frequency", "samples", "freq_population",
        "freq_superpopulation")

    // ---- 7) re-explode the collected vars (NOT a join back to `staged` —
    // that would recompute steps 1-3): per-variant protein consequence.
    // _refA/_altA are per-frame arrays: one entry for a known frame, three
    // (frames 0,1,2) when the frame is unknown — the rf=-1 chaining of
    // process_haplotypes.py:321-356.
    val varFields = Seq("ord", "pos", "varId", "af", "refDna", "altDna",
      "ref", "alt", "rna", "refLen", "altLen", "isFs", "offBefore",
      "intersect")
    val conseqRows = withCdna
      .select(col("*"), explode(col("vars")).as("_v"))
      .select(Seq(col("*")) ++
        varFields.map(f => col("_v").getField(f).as(f)): _*)
      .drop("_v", "vars")
      .withColumn("_refA", folds.affected(col("cdna"), col("rna"),
        col("refLen"), col("_rfRef").cast("long"), col("_pstartRef")))
      .withColumn("_altA", folds.affected(col("_mutated"),
        col("rna") + col("offBefore"), col("altLen"),
        col("_rf").cast("long"), col("_pstart")))
      // frameshift chaining state: the reference ORs
      // "frameshifts[ch_idx] and loc_ref >= 0" over EVERY frame inside
      // the per-frame loop (process_haplotypes.py:353), so a frameshift
      // counts if ANY frame places it at a non-negative ref position
      .withColumn("_fsVisible",
        exists(col("_refA"), r => r.getField("ploc") >= 0))
      .withColumn("_hasFsBefore", coalesce(
        max(col("isFs") && col("_fsVisible")).over(wBefore),
        lit(false)))

    // start-loss replaces the dna-level type (process_haplotypes.py:246)
    val dnaType = when(col("ord").cast("long") === col("_lostOrd"),
      "start_lost")
      .when(col("intersect").isNotNull, "splice")
      .when(col("refLen") === col("altLen"), "SNP").otherwise("indel")
    val cdnaCh = concat(col("rna").cast("string"), lit(":"), col("ref"),
      lit(">"), col("alt"))

    // per-frame consequence and change strings '|'-joined, plus the
    // all-frames synonymous flag: a variant counts as synonymous only
    // when EVERY frame is ("if not all(is_synonymous)" in the reference)
    val conseqDone = conseqRows
      .withColumn("_pf", folds.conseq(col("_refA"), col("_altA"), dnaType,
        col("isFs"), col("_hasFsBefore")))
      .withColumn("conseq", col("_pf").getField("conseq"))
      .withColumn("protCh", col("_pf").getField("protch"))
      .withColumn("cdnaCh", cdnaCh)
      .withColumn("synonymous", col("_pf").getField("syn"))
      // UTR filter coordinates: only consulted when _rf > -1, where the
      // frame arrays have exactly one entry
      .withColumn("keepLoc",
        element_at(col("_altA"), 1).getField("ploc") + col("_pstart"))
      .withColumn("keepLen",
        length(element_at(col("_altA"), 1).getField("aa")).cast("long"))

    // ---- 8) back to one row per haplotype; haplotype-level columns ride
    // along via first() — no join back to withCdna
    val hapCols = Seq("chrom", "biotype", "_mutated", "_protFull",
      "_firstStop", "_altFrames", "_rf", "_pstart", "_hasStart", "_startLost",
      "hap_count", "frequency", "samples", "freq_population",
      "freq_superpopulation")
    val collected = conseqDone
      .groupBy("transcript", "signature")
      .agg(array_sort(collect_list(struct(
        col("ord"), col("pos"), col("varId"), col("af"),
        col("refDna"), col("altDna"), col("intersect"),
        col("cdnaCh"), col("protCh"), col("conseq"), col("synonymous"),
        col("keepLoc"), col("keepLen")))).as("cq"),
        hapCols.map(c => first(col(c)).as(c)): _*)

    // ---- 9) UTR trim, UTR-variant filter --------------------------------
    val trimmed = collected
      .withColumn("_kept",
        if (!ignoreUtr) col("cq")
        else filter(col("cq"), c =>
          when(col("_rf") > -1,
            (c.getField("keepLoc") >= col("_pstart")) &&
              (c.getField("keepLoc") + c.getField("keepLen") <=
                col("_firstStop")))
            .otherwise(lit(true))))
      .where(if (requireNonSyn)
        exists(col("_kept"), c => !c.getField("synonymous"))
      else size(col("_kept")) > 0)
      .withColumn("_protein",
        when(col("_rf") > -1 && lit(ignoreUtr),
          col("_protFull").substr((col("_pstart") + 1).cast("int"),
            (col("_firstStop") - col("_pstart")).cast("int")))
          .otherwise(col("_protFull")))

    // ---- 10) merge by kept VCF-id set, threshold -----------------------
    // add_population_freqs: per-pop sum of the merged rows' frequencies,
    // "POP:0.00000" 5-decimal format; codes sorted for determinism (the
    // reference keeps dict-insertion order — documented divergence)
    def mergePopFreqs(listCol: Column): Column = {
      val entries = flatten(transform(
        filter(listCol, s => s =!= "-" && s =!= ""), s => split(s, ";")))
      val codes = array_sort(array_distinct(transform(entries,
        e => substring_index(e, ":", 1))))
      when(size(codes) === 0, lit("-")).otherwise(
        array_join(transform(codes, c =>
          concat(c, lit(":"), format_string("%.5f",
            aggregate(
              filter(entries, e => substring_index(e, ":", 1) === c),
              lit(0.0),
              (a, e) => a + substring_index(e, ":", -1).cast("double"))))),
          ";"))
    }
    // mutated-cDNA carry (keepCdna): CDS-trimmed under ignoreUtr (start
    // 0), else full sequence with the start-codon offset; -1 marks an
    // unknown frame. Dropped below when keepCdna is off — Catalyst prunes
    // the unused aggregate, so the off path pays nothing.
    val cdnaStartFull = (col("_rf") + col("_pstart") * 3).cast("long")
    val cdnaSeq = when(col("_rf") > -1,
      if (ignoreUtr)
        col("_mutated").substr((cdnaStartFull + 1).cast("int"),
          ((col("_firstStop") - col("_pstart")) * 3).cast("int"))
      else col("_mutated"))
      .otherwise(col("_mutated"))
    val cdnaStart = when(col("_rf") > -1,
      if (ignoreUtr) lit(0L) else cdnaStartFull).otherwise(lit(-1L))
    val out = trimmed
      .withColumn("_cdnaSeq", cdnaSeq)
      .withColumn("_cdnaStart", cdnaStart)
      .withColumn("vcf_ids", array_join(transform(col("_kept"),
        c => c.getField("varId")), ";"))
      .withColumn("dna_changes", array_join(transform(col("_kept"),
        c => concat(c.getField("pos").cast("string"), lit(":"),
          c.getField("refDna"), lit(">"), c.getField("altDna"))), ";"))
      .withColumn("allele_freqs", array_join(transform(col("_kept"),
        c => c.getField("af").cast("string")), ";"))
      .withColumn("cdna_changes", array_join(transform(col("_kept"),
        c => c.getField("cdnaCh")), ";"))
      .withColumn("all_protein_changes", array_join(transform(col("_kept"),
        c => c.getField("protCh")), ";"))
      .withColumn("protein_changes", array_join(transform(
        filter(col("_kept"), c => !c.getField("synonymous")),
        c => c.getField("protCh")), ";"))
      .withColumn("variant_types", array_join(transform(col("_kept"),
        c => c.getField("conseq")), ";"))
      .withColumn("splice_sites_affected", coalesce(
        when(size(filter(col("cq"),
          c => c.getField("intersect").isNotNull)) > 0,
          array_join(array_distinct(transform(filter(col("cq"),
            c => c.getField("intersect").isNotNull),
            c => c.getField("intersect").cast("string"))), ";")),
        lit("-")))
      .groupBy(col("transcript"), col("vcf_ids"))
      .agg(
        first(col("chrom")).as("chromosome"),
        first(col("biotype")).as("biotype"),
        first(col("dna_changes")).as("dna_changes"),
        first(col("allele_freqs")).as("allele_freqs"),
        first(col("cdna_changes")).as("cdna_changes"),
        first(col("all_protein_changes")).as("all_protein_changes"),
        first(col("variant_types")).as("variant_types"),
        first(col("protein_changes")).as("protein_changes"),
        first(col("_rf")).as("reading_frame"),
        // after UTR trimming the stored sequence starts at the start codon,
        // so the prefix is 0 (process_haplotypes.py:400 sets it post-trim)
        first(when(lit(ignoreUtr) && col("_rf") > -1, lit(0L))
          .otherwise(col("_pstart"))).as("protein_prefix_length"),
        first(!col("_hasStart")).as("start_missing"),
        first(col("_startLost")).as("start_lost"),
        first(col("splice_sites_affected")).as("splice_sites_affected"),
        sum(col("hap_count")).as("occurrence_count"),
        round(sum(col("frequency")), 6).as("frequency"),
        mergePopFreqs(collect_list(col("freq_population")))
          .as("frequency_population"),
        mergePopFreqs(collect_list(col("freq_superpopulation")))
          .as("frequency_superpopulation"),
        array_join(sort_array(collect_list(col("samples"))), ";")
          .as("samples"),
        first(col("_protein")).as("protein_sequence"),
        first(col("_altFrames")).as("alt_frame_sequences"),
        first(col("_cdnaSeq")).as("cdna_sequence"),
        first(col("_cdnaStart")).as("cdna_start"))
      .where(col("occurrence_count") >= minCount)
    if (keepCdna) out else out.drop("cdna_sequence", "cdna_start")
  }

  /** The haplotype key the dedup aggregations collect by default. */
  private def hapKey: Column =
    concat(col("transcript"), lit(":"), col("vcf_ids"))

  /** Deduplicate protein sequences across haplotypes: one row per distinct
    * sequence with the sorted `key`s of its haplotypes, the min protein
    * start and the reading frames — the FASTA-entry aggregation of
    * process_haplotypes.py:437-470. Unknown-frame haplotypes
    * (reading_frame = -1) contribute THREE sequence entries, one per
    * frame, exactly like the reference's rf-loop.
    */
  def dedupProteins(db: DataFrame, key: Column = hapKey): DataFrame = {
    val entries = when(col("alt_frame_sequences") === "-",
      array(struct(col("protein_sequence").as("seq"),
        col("reading_frame").cast("string").as("rf"))))
      .otherwise(array(
        struct(col("protein_sequence").as("seq"), lit("0").as("rf")),
        struct(split(col("alt_frame_sequences"), ";").getItem(0).as("seq"),
          lit("1").as("rf")),
        struct(split(col("alt_frame_sequences"), ";").getItem(1).as("seq"),
          lit("2").as("rf"))))
    db.select(key.as("hap"), col("protein_prefix_length").as("ps"),
        explode(entries).as("e"))
      .groupBy(col("e.seq").as("protein_sequence"))
      .agg(
        count(lit(1)).as("n_haplotypes"),
        array_join(sort_array(collect_list(col("hap"))), ";")
          .as("haplotypes"),
        min(col("ps")).as("start"),
        array_join(array_distinct(sort_array(collect_list(
          col("e.rf")))), ";").as("rfs"))
  }

  /** Deduplicate mutated cDNA sequences across haplotypes — the entry
    * aggregation behind ProHap's optional cDNA FASTA
    * (process_haplotypes.py:444-454,474-478; prohap.py:184-193): one row
    * per distinct mutated cDNA with the sorted `key`s of the haplotypes
    * that produced it and the start offset. Input must come from
    * [[proteinDatabase]]`(keepCdna = true)`.
    *
    * Divergence (documented): the reference keeps the first-encountered
    * haplotype's start for a shared sequence (iteration-order-dependent);
    * here the min start is kept and the haplotype list is sorted, so the
    * output is deterministic under any partitioning.
    */
  def dedupCdna(db: DataFrame, key: Column = hapKey): DataFrame =
    db.withColumn("_hap", key).groupBy(col("cdna_sequence"))
      .agg(
        count(lit(1)).as("n_haplotypes"),
        array_join(sort_array(collect_list(col("_hap"))), ";")
          .as("haplotypes"),
        min(col("cdna_start")).as("cdna_start"))
}
