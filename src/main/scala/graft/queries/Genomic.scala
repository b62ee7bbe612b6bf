package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.GenomicFixtures
import graft.functions.dna
import graft.operators.{CoordMap, IntervalJoin}
import graft.sources.{Fasta, Gtf, Tabix, Vcf}

/** Genomic source/function queries over the deterministic fixtures
  * (fixtures/ raw text; target/fixtures parsed parquet — see
  * GenomicFixtures). Oracles re-parse the RAW text with DuckDB's own
  * read_csv/read_text (sources) or recompute the operator in SQL from the
  * parsed input parquet (functions), so nothing is compared against itself.
  */
object Genomic {

  private val raw = GenomicFixtures.rawDir
  private val fx = GenomicFixtures.dir
  private def pq(name: String) = s"read_parquet('$fx/$name.parquet/*.parquet')"

  private def prep(s: SparkSession): Unit = GenomicFixtures.ensure(s)

  /** g46 power-iteration bounds — interpolated into BOTH the gate query
    * and its recursive-CTE oracle so the two sides cannot silently
    * desynchronize. The oracle's single-correction deflation form is
    * IEEE-identical to the Spark side's sequential prior subtraction
    * ONLY for topK <= 2 (one prior vector), hence the guard.
    */
  private val G46TopK = 2
  private val G46Iters = 20
  require(G46TopK <= 2,
    "g46 oracle's single-correction deflation is only valid for topK <= 2;" +
      " generalize the CTE before raising it")

  /** Long diploid genotype matrix for the QC gates (g16/g17/g18):
    * varId = id:alt keeps multi-allelic split rows distinct variants.
    */
  private def gtsWithVarId(s: SparkSession): org.apache.spark.sql.DataFrame =
    Vcf.genotypesLong(s.read.parquet(s"$fx/vcf_norm.parquet"),
      GenomicFixtures.sampleNames(s))
      .select(concat_ws(":", col("id"), col("alt")).as("varId"),
        col("chrom"), col("pos"), col("sample"), col("gt"))

  /** The g58 target panel: 12 regions over the sorted region fixture —
    * (1,22-25)/(1,23-31) overlap so their byte windows must merge,
    * (1,45-55) needs the 24-bp spanning REF, (1,500-600) and (X,1-5)
    * are empty. Interpolated into BOTH the gate call and its oracle SQL
    * so the two sides cannot desynchronize.
    */
  private[graft] val regionPanel: Seq[(String, Long, Long)] = Seq(
    ("1", 10L, 14L), ("1", 19L, 20L), ("1", 22L, 25L), ("1", 23L, 31L),
    ("1", 45L, 55L), ("1", 60L, 70L), ("1", 140L, 160L),
    ("1", 500L, 600L), ("X", 25L, 35L), ("X", 70L, 80L),
    ("X", 105L, 120L), ("X", 1L, 5L))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // genotypes stringified: the driver's pandas canonicalization cannot
    // sort array-typed columns (round-2 gate failure), so both sides emit
    // a comma-joined string instead of a list.
    "v1_vcf_read" -> ((s, _) => {
      prep(s)
      Vcf.read(s, GenomicFixtures.vcfPath)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "v9_vcf_gz" -> ((s, _) => {
      // bgzipped VCF through the UNCHANGED text path: .gz extension ->
      // Hadoop gzip codec -> member chain across the forced 512-byte
      // BGZF members. Parity with v1's oracle proves no silent
      // first-member truncation.
      prep(s)
      Vcf.read(s, GenomicFixtures.vcfGzPath)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "v10_vcf_bgzf" -> ((s, _) => {
      // the SAME bgzf fixture as v9, through the byte-range SPLITTABLE
      // DSv2 relation instead of the one-task Hadoop codec: a 1 KiB
      // splitSize forces many ranges over the 512-byte members, so
      // every boundary rule (member scan, skip-first, newline-at-
      // boundary, tail completion) executes inside the gate itself.
      prep(s)
      Vcf.readTable(s, GenomicFixtures.vcfGzPath, splitSize = 1024L)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "bcf1_read" -> ((s, _) => {
      // BCF2.2 binary source: the VCF fixture re-encoded by the repo's
      // own BCF writer, decoded back through the BGZF chain + typed-
      // value walk — read whole (one range from offset 0, no alignment
      // scan). The oracle parses the TEXT fixture independently
      // with AF re-rendered through float32 shortest-round-trip (the
      // one text difference binary typing forces: "0.10" -> 0.1).
      prep(s)
      val bcf = GenomicFixtures.bcfPath(s)
      graft.sources.Bcf.readTable(s, bcf,
        splitSize = GenomicFixtures.wholeFile(bcf))
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "bcf2_split" -> ((s, _) => {
      // the fixture BCF through the byte-range splittable reader: a
      // 256-byte splitSize forces member anchor + record-chain
      // alignment per range in-gate; one mis-aligned record fails the
      // hash against the independent float-normalized TEXT parse.
      prep(s)
      graft.sources.Bcf.readTable(s, GenomicFixtures.bcfPath(s),
        splitSize = 256L)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "bcf3_write_sharded" -> ((s, _) => {
      // the scale-path BCF sink: VCF text -> 3-partition executor-side
      // sharded write (shared distributed-pass dictionary, one valid
      // BCF per partition, no driver collect) -> splittable read-back
      // of the directory, against the independent float-normalized
      // TEXT parse.
      prep(s)
      val parsed = Vcf.read(s, GenomicFixtures.vcfPath)
      val contigs = parsed.groupBy("chrom")
        .agg(max("pos").as("mx")).orderBy("chrom").collect()
        .map(r => (r.getString(0), r.getLong(1) + 1000L)).toSeq
      val out = s"${sys.props("java.io.tmpdir")}/graft-bcf-sharded-" +
        ProcessHandle.current.pid
      graft.sources.Bcf.writeSharded(parsed.repartition(3), contigs,
        Vcf.sampleNames(s, GenomicFixtures.vcfPath), out)
      graft.sources.Bcf.readTable(s, out, splitSize = 256L)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "g50_region_read" -> ((s, _) => {
      // index-free region pushdown: chrom 1, region 45-55 out of the
      // coordinate-sorted 64-byte-member BGZF re-encoding — the
      // driver-side member binary search prunes non-matching members,
      // then only the matched byte window inflates. bcftools `-r`
      // OVERLAP semantics: the 24-bp-REF record at pos 39 spans into
      // the region and MUST be returned (containment would lose it),
      // so the gate discriminates overlap from a pos-BETWEEN filter.
      // The oracle filters DuckDB's independent TEXT parse with the
      // identical predicate.
      prep(s)
      Vcf.readRegion(s, GenomicFixtures.regionVcfGzPath, "1", 45L, 55L)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "g50b_region_bcf" -> ((s, _) => {
      // the same index-free region pushdown on the BINARY container:
      // probes align records via the readTable plausible-chain
      // machinery and rank on the record's native contig index; same
      // overlap region as g50 (the spanning pos-39 record must
      // survive). Oracle = the float-normalized independent TEXT
      // parse, filtered identically.
      prep(s)
      graft.sources.Bcf.readRegion(s, GenomicFixtures.regionBcfPath(s),
        "1", 45L, 55L)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "g50c_region_bam" -> ((s, _) => {
      // samtools-view region semantics on BAM without a .bai: reads
      // OVERLAPPING 1:25-70 (including the 1:11/30M read that starts
      // before the region and spans into it) out of the coordinate-
      // sorted 64-byte-member re-encoding. Oracle = the independent
      // TEXT parse with the identical overlap predicate.
      graft.sources.Bam.readRegion(s,
        GenomicFixtures.regionBamPath(s), "1", 25L, 70L)
    }),

    "g57_region_dir_vcf" -> ((s, _) => {
      // the g50 region read against a per-chromosome sharded DIRECTORY
      // (the layout cohort VCFs actually ship in — the reference
      // Snakefile's per-chrom inputs): each self-describing sorted
      // shard bisects independently, the no-hit chrX shard prunes to
      // (at most) a floor-sized window, and the union must equal the
      // same independent TEXT-parse oracle as g50.
      prep(s)
      Vcf.readRegion(s, GenomicFixtures.regionVcfShardedDir,
        "1", 45L, 55L)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "g57b_region_dir_bcf" -> ((s, _) => {
      // region read of the repo's OWN writeSharded BCF layout: 3
      // executor-written shards, each internally sorted (range
      // partitioning), bisected per shard and unioned — the
      // composition a real fleet hits first. Oracle = the independent
      // float-normalized TEXT parse with the identical predicate.
      prep(s)
      graft.sources.Bcf.readRegion(s,
        GenomicFixtures.regionBcfShardedDir(s), "1", 45L, 55L)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "g57c_region_dir_bam" -> ((s, _) => {
      // samtools-view overlap semantics over the repo's own 3-shard
      // writeSharded BAM directory, each shard internally samtools-
      // sorted (unmapped last). Oracle = the independent TEXT parse
      // with the identical overlap predicate.
      graft.sources.Bam.readRegion(s,
        GenomicFixtures.regionBamShardedDir(s), "1", 25L, 70L)
    }),

    "g59_filter_route" -> ((s, _) => {
      // AUTOMATIC region pruning for SQL users: readAuto (BGZF text
      // routes to the DSv2 relation) + a plain WHERE — no
      // readRegion call anywhere — must route the chrom/pos conjuncts
      // through SupportsPushDownFilters into the bisected byte window
      // and still return exactly the filter's rows (every filter
      // re-applies above the scan, so the window overhang is
      // invisible). Oracle = the TEXT parse under the identical
      // containment predicate; VcfV2Spec pins the pruned byte counts.
      prep(s)
      Vcf.readAuto(s, GenomicFixtures.regionVcfGzPath)
        .where(col("chrom") === "1" && col("pos").between(20L, 60L))
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "g59b_filter_route_bcf" -> ((s, _) => {
      // automatic filter routing on the BINARY container: readAuto's
      // .bcf branch (the DSv2 BcfBgzfSource) + a plain WHERE must
      // route the chrom/pos conjuncts into the record-alignment
      // bisection and match the float-normalized TEXT parse.
      prep(s)
      Vcf.readAuto(s, GenomicFixtures.regionBcfPath(s))
        .where(col("chrom") === "1" && col("pos").between(20L, 60L))
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "g59c_filter_route_bam" -> ((s, _) => {
      // and on BAM: the rname/pos WHERE pushes THROUGH the
      // Sam.decorate projection into the DSv2 scan (BamBgzfSource).
      // Oracle = the TEXT parse under the identical containment
      // predicate.
      graft.sources.Bam.readTable(s, GenomicFixtures.regionBamPath(s))
        .where(col("rname") === "1" && col("pos").between(20L, 60L))
    }),

    "g58_region_panel" -> ((s, _) => {
      // multi-region (target-panel) read: 12 regions in one call —
      // adjacent/overlapping windows that must merge ((1,22-25) and
      // (1,23-31)), the 24-bp-REF spanning record, whole-chrom-distant
      // slices, chrX regions and two empty regions — against the
      // independent TEXT parse under the OR of the same 12 overlap
      // predicates.
      prep(s)
      Vcf.readRegions(s, GenomicFixtures.regionVcfGzPath, regionPanel)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "g60_sql_panel" -> ((s, _) => {
      // the g58 panel expressed as PLAIN SQL — an OR of per-region
      // (chrom, pos) containment conjuncts on the DSv2 relation, no
      // readRegions call anywhere: BgzfPush.extract's bounded DNF must
      // route all 12 disjuncts into merged multi-region byte windows
      // (VcfV2Spec pins the pruned bytes), with every filter re-applied
      // above the scan. Oracle = the independent TEXT parse under the
      // identical OR predicate, interpolated from the SAME regionPanel.
      prep(s)
      val panelPred = regionPanel.map { case (c, a, b) =>
        col("chrom") === c && col("pos").between(a, b)
      }.reduce(_ || _)
      Vcf.readTable(s, GenomicFixtures.regionVcfGzPath)
        .where(panelPred)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "g61_auto_sniff" -> ((s, _) => {
      // content-sniffing dispatch: readAuto handed a bare DIRECTORY of
      // BCF shards (the repo's own writeSharded output — no extension
      // anywhere) must sniff the BGZF first-member magic and route to
      // the binary relation. The r15 suffix dispatch text-parsed these
      // bytes into a silently near-empty frame. Oracle = the full
      // float-normalized TEXT parse (the same rows bcf1 pins).
      prep(s)
      Vcf.readAuto(s, GenomicFixtures.regionBcfShardedDir(s))
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "g62_dist_plan" -> ((s, _) => {
      // distributed region planning: with the threshold forced to 1,
      // the per-shard bisections of the g57 directory read run as a
      // small Spark job instead of driver threads — and must produce
      // identical windows, hence identical rows (RegionSpec pins plan
      // equality; this pins end-to-end parity against the g57 oracle).
      prep(s)
      val k = "spark.graft.planDistributeThreshold"
      val old = s.conf.getOption(k)
      s.conf.set(k, "1")
      try Vcf.readRegion(s, GenomicFixtures.regionVcfShardedDir,
        "1", 45L, 55L)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
      finally old match {
        case Some(v) => s.conf.set(k, v)
        case None => s.conf.unset(k)
      }
    }),

    "g64_tabix_read" -> ((s, _) => {
      // tabix sidecar consumption: the g50 region read served by a
      // `.tbi` index instead of the bisection — Tabix.indexVcfGz (the
      // repo's own `tabix -p vcf`, spec-built) indexes a COPY of the
      // fixture (indexing the shared fixture would silently flip every
      // bisection gate onto the index path), and the require proves
      // the plan came from the index (zero probe reads), not a silent
      // fallback. Rows must still match the independent TEXT-parse
      // overlap oracle — the index changes bytes read, never rows.
      prep(s)
      val src = GenomicFixtures.regionVcfGzPath
      val d = s"${sys.props("java.io.tmpdir")}/graft-g64-" +
        ProcessHandle.current.pid
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      val dst = java.nio.file.Paths.get(s"$d/region.vcf.gz")
      java.nio.file.Files.copy(java.nio.file.Paths.get(src), dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Tabix.indexVcfGz(s.sparkContext.hadoopConfiguration, dst.toString)
      val plan = Vcf.regionPlan(s, dst.toString, Seq(("1", 45L, 55L)),
        maxSpan = 10000L)
      require(plan.probes == 0 && plan.fullScan.isEmpty,
        s"the index must serve the plan probe-free: $plan")
      Vcf.readRegion(s, dst.toString, "1", 45L, 55L)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "g65_csi_read" -> ((s, _) => {
      // the g50b BCF region read served by a `.csi` index built by
      // the repo's own Bcf.writeIndex (the bcftools-index operation)
      // instead of the record-alignment bisection; the require proves
      // probe-free planning, the oracle proves identical rows —
      // including the spanning pos-39 REF, which the index finds by
      // its (pos, pos+rlen) bin rather than the maxSpan back-off.
      prep(s)
      val src = GenomicFixtures.regionBcfPath(s)
      val d = s"${sys.props("java.io.tmpdir")}/graft-g65-" +
        ProcessHandle.current.pid
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      val dst = java.nio.file.Paths.get(s"$d/region.bcf")
      java.nio.file.Files.copy(java.nio.file.Paths.get(src), dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.sources.Bcf.writeIndex(
        s.sparkContext.hadoopConfiguration, dst.toString)
      val plan = graft.sources.Bcf.regionPlan(s, dst.toString,
        Seq(("1", 45L, 55L)), maxSpan = 10000L)
      require(plan.probes == 0,
        s"the CSI must serve the plan probe-free: $plan")
      graft.sources.Bcf.readRegion(s, dst.toString, "1", 45L, 55L)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "g66_bai_read" -> ((s, _) => {
      // the g50c BAM region read served by a `.bai` built by the
      // repo's own Bam.writeIndex (the samtools-index operation):
      // probe-free plan, identical samtools-overlap rows — the
      // spanning 1:11/30M read is found by its CIGAR-span bin.
      val src = GenomicFixtures.regionBamPath(s)
      val d = s"${sys.props("java.io.tmpdir")}/graft-g66-" +
        ProcessHandle.current.pid
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      val dst = java.nio.file.Paths.get(s"$d/region.bam")
      java.nio.file.Files.copy(java.nio.file.Paths.get(src), dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.sources.Bam.writeIndex(
        s.sparkContext.hadoopConfiguration, dst.toString)
      val plan = graft.sources.Bam.regionPlan(s, dst.toString,
        Seq(("1", 25L, 70L)), maxSpan = 1L << 20)
      require(plan.probes == 0,
        s"the BAI must serve the plan probe-free: $plan")
      graft.sources.Bam.readRegion(s, dst.toString, "1", 25L, 70L)
    }),

    "g67_idxstats_bai" -> ((s, _) => {
      // samtools idxstats served from the .bai pseudo-bins alone:
      // per-ref (length, n_mapped, n_unmapped) + the '*' n_no_coor
      // row, header + index metadata only — ZERO data bytes scanned,
      // where g51's route reads the whole file. Counts must equal the
      // scan-route oracle exactly (same record set; sorting and
      // binary re-encoding change nothing).
      val src = GenomicFixtures.regionBamPath(s)
      val d = s"${sys.props("java.io.tmpdir")}/graft-g67-" +
        ProcessHandle.current.pid
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      val dst = java.nio.file.Paths.get(s"$d/region.bam")
      java.nio.file.Files.copy(java.nio.file.Paths.get(src), dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.sources.Bam.writeIndex(
        s.sparkContext.hadoopConfiguration, dst.toString)
      graft.sources.Bam.idxstatsIndexed(s, dst.toString)
    }),

    "g63_join_prune" -> ((s, _) => {
      // runtime JOIN pruning (SupportsRuntimeV2Filtering): the DSv2
      // relation broadcast-joined against a STORED filtered panel on
      // chrom — Spark's dynamic-pruning rule hands the scan the build
      // side's distinct key set at execution time and the scan
      // re-plans to that chromosome's bisected windows, the join-
      // shaped twin of WHERE chrom IN (…). The panel is parquet-backed
      // because the rule wants a selective filter over a real relation
      // (a literal panel constant-folds to a non-selective
      // LocalRelation). VcfV2Spec pins the injected runtime filter +
      // pruned bytes; this pins end-to-end row parity vs the
      // independent TEXT-parse oracle's chrom filter.
      prep(s)
      val pp = s"${sys.props("java.io.tmpdir")}/graft-g63-panel-" +
        s"${ProcessHandle.current.pid}.parquet"
      s.createDataFrame(Seq(("1", "keep"), ("X", "drop")))
        .toDF("chrom", "tag").write.mode("overwrite").parquet(pp)
      val panel = s.read.parquet(pp).where(col("tag") === "keep")
        .select("chrom")
      Vcf.readTable(s, GenomicFixtures.regionVcfGzPath)
        .join(broadcast(panel), Seq("chrom"))
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "v2_vcf_norm" -> ((s, _) => {
      prep(s)
      Vcf.normalize(Vcf.read(s, GenomicFixtures.vcfPath), minAf = 0.05)
        .select("chrom", "pos", "id", "ref", "alt", "allele_af", "genotypes")
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "g1_gtf_read" -> ((s, _) => {
      prep(s)
      val g = Gtf.read(s, GenomicFixtures.gtfPath)
      g.select(col("seqname"), col("feature"), col("start"), col("end"),
        col("strand"),
        Gtf.attr(col("attributes"), "transcript_id").as("transcript_id"),
        Gtf.attr(col("attributes"), "transcript_biotype").as("biotype"))
    }),

    "g2_interval_join" -> ((s, _) => {
      prep(s)
      val points = s.read.parquet(s"$fx/vcf_norm.parquet")
        .select("chrom", "pos", "id", "alt")
      val exons = s.read.parquet(s"$fx/exons.parquet")
      IntervalJoin.pointsInIntervals(points, exons, Seq("chrom"),
        binSize = 20)
        .select("chrom", "pos", "id", "alt", "transcript_id", "start", "end")
    }),

    "c1_chain_read" -> ((s, _) => {
      // UCSC chain source: blank-line records, header + block triples as
      // native columns, the t/q offset walk as a per-chain window cumsum
      // -> the absolute block table liftOver consumes
      graft.sources.Chain.read(s, s"${GenomicFixtures.rawDir}/lift.chain")
    }),

    "g6_liftover" -> ((s, _) => {
      // liftOver: variants fall into chain blocks through the SAME
      // binned equi-join as g2, remap is arithmetic, ambiguity resolves
      // by windowless struct-max on score (chain 3 overlaps chain 1 at a
      // lower score and must lose); gap/unaligned positions are absent
      prep(s)
      graft.operators.LiftOver.liftOver(
        s.read.parquet(s"$fx/vcf_norm.parquet")
          .select("chrom", "pos", "id"),
        graft.sources.Chain.read(s,
          s"${GenomicFixtures.rawDir}/lift.chain"),
        binSize = 16)
    }),

    "g7_coverage" -> ((s, _) => {
      // pileup depth (bedtools genomecov): transcripts + exons as one
      // interval set -> maximal constant-depth segments (depth 2 inside
      // exons, 1 across introns). Sweep = boundary events + one per-chrom
      // window; a 100 kb interval is two events, never a base explode.
      prep(s)
      graft.operators.Coverage.coverage(
        s.read.parquet(s"$fx/gtf.parquet")
          .where(col("feature").isin("transcript", "exon"))
          .select(col("seqname").as("chrom"), col("start"), col("end")))
    }),

    "sam1_read" -> ((s, _) => {
      // SAM alignment source: '@' headers dropped map-side, 11 mandatory
      // fields typed, FLAG bits decoded, CIGAR walked for the reference
      // span — every mapped read gets the [pos, ref_end] interval the
      // g2/g4/g5/g7 operators consume directly
      graft.sources.Sam.read(s,
        s"${GenomicFixtures.rawDir}/aligned.sam")
    }),

    "bam1_read" -> ((s, _) => {
      // BGZF/BAM binary source: the SAM fixture re-encoded by the repo's
      // own BAM writer, decoded back whole (one range from offset 0, no
      // alignment scan) through the BGZF member chain + little-endian
      // record walk; field parity with sam1 is the gate (the oracle
      // parses the TEXT file independently). Flag/CIGAR decoration is
      // Sam.decorate — byte decode is the only new code.
      val bam = GenomicFixtures.bamPath(s)
      graft.sources.Bam.readTable(s, bam,
        splitSize = GenomicFixtures.wholeFile(bam))
    }),

    "bam2_split" -> ((s, _) => {
      // the SAME fixture BAM through the byte-range splittable reader:
      // a 256-byte splitSize over the writer's default members forces
      // the member anchor + record-chain alignment scan to run per
      // range inside the gate; oracle = the identical independent TEXT
      // parse, so heuristic mis-alignment of even one record fails the
      // hash.
      graft.sources.Bam.readTable(s, GenomicFixtures.bamPath(s),
        splitSize = 256L)
    }),

    "bam3_write_sharded" -> ((s, _) => {
      // the scale-path BAM sink: SAM text -> 3-partition executor-side
      // sharded write (one valid BAM per partition, O(blockSize) task
      // memory, no driver collect) -> splittable read-back of the
      // directory. The oracle is the independent TEXT parse, so any
      // encode/shard/read asymmetry anywhere in the round trip breaks
      // the hash.
      val sam = s"${GenomicFixtures.rawDir}/aligned.sam"
      val out = s"${sys.props("java.io.tmpdir")}/graft-bam-sharded-" +
        ProcessHandle.current.pid
      graft.sources.Bam.writeSharded(
        graft.sources.Sam.read(s, sam).repartition(3),
        graft.sources.Sam.sqHeaders(s, sam).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq, out)
      graft.sources.Bam.readTable(s, out, splitSize = 256L)
    }),

    "g8_reads_coverage" -> ((s, _) => {
      // the samtools-depth composition: SAM reads (primary, mapped,
      // non-duplicate — the standard filter) -> CIGAR ref spans -> g7's
      // sweep. Source and operator each have their own gate; this one
      // pins the end-to-end path a sequencing pipeline actually runs.
      val reads = graft.sources.Sam
        .read(s, s"${GenomicFixtures.rawDir}/aligned.sam")
        .where(col("pos").isNotNull && !col("is_secondary") &&
          !col("is_dup"))
        .select(col("rname").as("chrom"), col("pos").as("start"),
          col("ref_end").as("end"))
      graft.operators.Coverage.coverage(reads)
    }),

    "f10_fastq_read" -> ((s, _) => {
      // FASTQ source: 4-line records with NO sync marker (quality lines
      // legally start with '@'/'+' — the fixture has both), so records
      // key on the global line ordinal: zipWithIndex + one record-index
      // exchange with map-side 4-line collapse
      graft.sources.Fastq.read(s, s"${GenomicFixtures.rawDir}/reads.fastq")
    }),

    "f11_fastq_write" -> ((s, _) => {
      // FASTQ sink round trip: read -> keep well-formed -> write (one
      // range exchange, file order = record order) -> re-read. The
      // oracle recomputes the filtered, re-numbered expectation from
      // the RAW fixture, so a render/parse asymmetry breaks the hash.
      val out = s"${sys.props("java.io.tmpdir")}/graft-fastq-written-" +
        ProcessHandle.current.pid
      val wf = graft.sources.Fastq
        .read(s, s"${GenomicFixtures.rawDir}/reads.fastq")
        .where(col("well_formed"))
      graft.sources.Fastq.write(wf, out)
      graft.sources.Fastq.read(s, out)
    }),

    "g9_flagstat" -> ((s, _) => {
      // samtools flagstat: the 12 classic counters as (metric, n_reads)
      // rows from ONE conditional-sum aggregate — each scan task ships 12
      // longs, never rows
      graft.sources.Sam.flagstat(graft.sources.Sam.read(s,
        s"${GenomicFixtures.rawDir}/aligned.sam"))
    }),

    "g23_read_stats" -> ((s, _) => {
      // samtools-stats SN summary: primary/mapped counts, base totals,
      // mean read length / MAPQ / proper-pair insert size from ONE
      // conditional aggregate — eight numbers per scan task, never reads
      graft.sources.Sam.readStats(graft.sources.Sam.read(s,
        s"${GenomicFixtures.rawDir}/aligned.sam"))
    }),

    "sam2_markdup" -> ((s, _) => {
      // samtools markdup: unclipped-5' template signatures (soft-clip
      // arithmetic, both ends for pairs), best-quality template kept,
      // secondaries inherit their primary's verdict via the qname join;
      // template collapse + signature window + verdict join — three
      // key-partitioned exchanges, nothing read-scale broadcast
      graft.operators.MarkDup.markDuplicates(
        graft.sources.Sam.read(s, s"$raw/dupreads.sam"))
    }),

    "g10_vcf_stats" -> ((s, _) => {
      // bcftools-stats-style per-chrom variant classes + ti/tv over the
      // normalized rows: one groupBy(chrom) of conditional sums
      prep(s)
      graft.operators.VcfStats.variantStats(
        s.read.parquet(s"$fx/vcf_norm.parquet"))
    }),

    "g11_mendel" -> ((s, _) => {
      // plink-mendel trio consistency: child ALT dosage must fall in the
      // interval parent dosages allow; trios broadcast, genotype matrix
      // shuffled once per parent join. Autosomal-diploid contract -> X
      // rows filtered here (the fixture's PAR/sex logic lives in h1/h2).
      import s.implicits._
      prep(s)
      val gts = Vcf.genotypesLong(
        s.read.parquet(s"$fx/vcf_norm.parquet"),
        GenomicFixtures.sampleNames(s))
        .where(col("chrom") =!= "X")
        .select(col("id").as("varId"), col("chrom"), col("pos"),
          col("sample"), col("gt"))
      val trios = Seq(("S3", "S1", "S4"), ("S6", "S5", "S3"))
        .toDF("child", "mother", "father")
      graft.operators.VcfStats.mendelViolations(gts, trios)
    }),

    "v8_vcf_write" -> ((s, _) => {
      // VCF sink round trip: normalized rows -> body lines (INFO rebuilt
      // as AF=<allele_af>) -> re-read -> re-normalized projection. The
      // oracle reads the SAME projection straight from the vcf_norm
      // parquet, so any rendering/parsing asymmetry breaks the hash.
      prep(s)
      val out = s"${sys.props("java.io.tmpdir")}/graft-vcf-written-" +
        ProcessHandle.current.pid
      Vcf.writeVariants(s.read.parquet(s"$fx/vcf_norm.parquet"), out)
      Vcf.read(s, out)
        .select(col("chrom"), col("pos"), col("id"), col("ref"),
          col("alt"), col("af").cast("double").as("allele_af"),
          array_join(col("genotypes"), ",").as("genotypes"))
    }),

    "v11_vcf_write_sharded" -> ((s, _) => {
      // the sorted sharded BGZF .vcf.gz sink ROUND-TRIPPED through the
      // region machinery: normalized rows -> 3 range-partitioned
      // executor-written shards (full header incl. ##contig lines,
      // internally sorted, 64-byte members) -> readRegion on the bare
      // DIRECTORY bisects each shard and must land on the oracle's
      // overlap filter of the vcf_norm parquet. This closes the
      // graft->graft VCF loop BAM/BCF already have (g57b/g57c):
      // the engine's own VCF output is now region-prunable input.
      // RegionSpec pins the pruned window bytes; this pins the rows.
      prep(s)
      val norm = s.read.parquet(s"$fx/vcf_norm.parquet")
      val contigs = norm.select("chrom").distinct().orderBy("chrom")
        .collect().map(_.getString(0)).toSeq
      val out = s"${sys.props("java.io.tmpdir")}/graft-vcf-sharded-" +
        ProcessHandle.current.pid
      Vcf.writeSharded(
        norm.repartitionByRange(3, col("chrom"), col("pos")),
        contigs, GenomicFixtures.sampleNames(s), out, blockSize = 64)
      Vcf.readRegion(s, out, "1", 45L, 55L)
        .select(col("chrom"), col("pos"), col("id"), col("ref"),
          col("alt"), col("af").cast("double").as("allele_af"),
          array_join(col("genotypes"), ",").as("genotypes"))
    }),

    "g12_pileup_bases" -> ((s, _) => {
      // per-position base composition (samtools mpileup): CIGAR ops
      // carry running (ref, read) offset pairs from ONE per-row fold,
      // aligned ops explode to (pos, base), then one groupBy ships 4
      // counters per position — never base rows
      val reads = graft.sources.Sam
        .read(s, s"${GenomicFixtures.rawDir}/aligned.sam")
        .where(col("pos").isNotNull && !col("is_secondary") &&
          !col("is_dup"))
        .select(col("rname").as("chrom"), col("pos"), col("cigar"),
          col("seq"))
      graft.operators.Pileup.baseCounts(reads)
    }),

    "g13_variant_calls" -> ((s, _) => {
      // naive SNV calling (bcftools-call-lite): pileup x reference base
      // table, most-supported non-ref base, depth/VAF thresholds; the
      // fixture's depth-2 run (r1 x r9 over ref mismatches) is what
      // actually calls
      prep(s)
      val reads = graft.sources.Sam
        .read(s, s"${GenomicFixtures.rawDir}/aligned.sam")
        .where(col("pos").isNotNull && !col("is_secondary") &&
          !col("is_dup"))
        .select(col("rname").as("chrom"), col("pos"), col("cigar"),
          col("seq"))
      graft.operators.Pileup.callVariants(reads,
        s.read.parquet(s"$fx/ref_bases.parquet"),
        minDepth = 2, minVaf = 0.5)
    }),

    "g14_feature_counts" -> ((s, _) => {
      // featureCounts (union mode): reads overlapping ANY exon of a
      // transcript count once — g4's binned overlap join (exact, no
      // dedup shuffle) then a two-level distinct-read count per
      // transcript. The whole composition is reads → spans → binned
      // equi-join → one aggregation.
      prep(s)
      val reads = graft.sources.Sam
        .read(s, s"${GenomicFixtures.rawDir}/aligned.sam")
        .where(col("pos").isNotNull && !col("is_secondary") &&
          !col("is_dup"))
        .select(col("rname").as("chrom"), col("qname"),
          col("pos").as("start"), col("ref_end").as("end"))
      val exons = s.read.parquet(s"$fx/exons.parquet")
        .select(col("chrom"), col("transcript_id"),
          col("start").as("start2"), col("end").as("end2"))
      IntervalJoin.overlapJoin(reads, exons, Seq("chrom"), binSize = 20)
        .groupBy(col("transcript_id"), col("qname")).agg(count(lit(1)))
        .groupBy(col("transcript_id"))
        .agg(count(lit(1)).as("n_reads"))
    }),

    "g26_interval_merge" -> ((s, _) => {
      // bedtools merge: transcripts+exons collapse into maximal union
      // intervals — one (chrom) exchange, partition-local sorted window,
      // same-key aggregation (no second shuffle)
      prep(s)
      graft.operators.Intervals.merge(
        s.read.parquet(s"$fx/gtf.parquet")
          .where(col("feature").isin("transcript", "exon"))
          .select(col("seqname").as("chrom"), col("start"), col("end")))
    }),

    "g53_vcf_merge" -> ((s, _) => {
      // bcftools merge: the fixture cohort split into per-center halves
      // (S1-3 / S4-6) with DIFFERENT site subsets (pos%3 / pos%5 drops),
      // then horizontally re-merged — union of sites, genotypes
      // concatenated, each side's missing sites padded ./. at its own
      // width; one full-outer variant-key join
      prep(s)
      val v = s.read.parquet(s"$fx/vcf_norm.parquet")
        .select(col("chrom"), col("pos"), col("id"), col("ref"),
          col("alt"), col("genotypes"))
      val a = v.where(pmod(col("pos"), lit(3)) =!= 0)
        .withColumn("genotypes", slice(col("genotypes"), 1, 3))
      val b = v.where(pmod(col("pos"), lit(5)) =!= 0)
        .withColumn("genotypes",
          slice(col("genotypes"), lit(4), size(col("genotypes")) - 3))
      Vcf.mergeCohorts(a, b)
        .withColumn("genotypes", array_join(col("genotypes"), ","))
    }),

    "g51_idxstats" -> ((s, _) => {
      // samtools idxstats: per-@SQ-reference record counts + the '*'
      // placeless-unmapped row; header left join reports zeros for
      // readless references, counts partial-aggregate map-side
      graft.sources.Sam.idxstats(s, s"$raw/aligned.sam")
    }),

    "g52_slop" -> ((s, _) => {
      // bedtools slop -b 30: widen BED intervals clipped to the genome
      // dictionary (broadcast); chr2 is absent from the dictionary and
      // passes through un-clipped, chrX's far interval collapses to the
      // boundary stub — both documented divergence classes fire
      val genome = s.read.option("sep", "\t")
        .csv(s"${GenomicFixtures.rawDir}/genome.txt")
        .toDF("chrom", "sequence")
        .select(col("chrom"), length(col("sequence")).cast("long")
          .as("length"))
      val iv = graft.sources.Bed.toIntervals(
        graft.sources.Bed.read(s, s"${GenomicFixtures.rawDir}/regions.bed"))
        .select(regexp_replace(col("chrom"), "^chr", "").as("chrom"),
          col("start"), col("end"), col("name"))
      graft.operators.Intervals.slop(iv, genome, left = 30, right = 30)
    }),

    "g49_annotate" -> ((s, _) => {
      // bcftools annotate -a regions.bed: variants gain the names of
      // every overlapping BED region, comma-joined sorted (bcftools'
      // multi-hit join), null when none; the BED's chr-prefixed naming
      // normalizes to the VCF's bare contigs (THE classic annotation
      // mismatch). Binned containment join + variant-keyed sorted
      // collect + left join keeps unannotated variants.
      prep(s)
      val variants = s.read.parquet(s"$fx/vcf_norm.parquet")
        .select(col("chrom"), col("pos"), col("id"), col("alt"))
      val regions = graft.sources.Bed.toIntervals(
        graft.sources.Bed.read(s, s"${GenomicFixtures.rawDir}/regions.bed"))
        .select(regexp_replace(col("chrom"), "^chr", "").as("chrom"),
          col("start"), col("end"), col("name"))
      val hits = IntervalJoin
        .pointsInIntervals(variants, regions, Seq("chrom"), binSize = 20)
        .groupBy(col("chrom"), col("pos"), col("id"), col("alt"))
        .agg(array_join(array_sort(collect_list(col("name"))), ",")
          .as("annots"))
      variants.join(hits, Seq("chrom", "pos", "id", "alt"), "left")
    }),

    "g48_interval_cluster" -> ((s, _) => {
      // bedtools cluster: every interval keeps its row and gains its
      // overlap-cluster label (stable chrom:island, not a global
      // ordinal) — g26's island walk without the collapse; one (chrom)
      // exchange
      prep(s)
      graft.operators.Intervals.cluster(
        s.read.parquet(s"$fx/gtf.parquet")
          .where(col("feature").isin("transcript", "exon"))
          .select(col("seqname").as("chrom"), col("start"), col("end")))
    }),

    "g27_interval_subtract" -> ((s, _) => {
      // bedtools subtract: the exon parts NO read covers (g24's
      // complement) — B union-merges first so clipped hits are
      // disjoint, then a per-A-row sorted gap walk; untouched exons
      // pass through whole
      prep(s)
      val reads = graft.sources.Sam
        .read(s, s"${GenomicFixtures.rawDir}/aligned.sam")
        .where(col("pos").isNotNull && !col("is_secondary") &&
          !col("is_dup"))
        .select(col("rname").as("chrom"), col("pos").as("start"),
          col("ref_end").as("end"))
      val exons = s.read.parquet(s"$fx/exons.parquet")
        .select(col("chrom"), col("transcript_id"), col("start"),
          col("end"))
      graft.operators.Intervals.subtract(exons, reads,
        Seq("chrom"), Seq("transcript_id"), binSize = 20)
    }),

    "g29_complement" -> ((s, _) => {
      // bedtools complement: the intergenic space — gaps the merged
      // transcript+exon islands leave inside each contig's bounded span
      // (bounds = 1 .. max feature end + 500, derived identically by
      // the oracle). Rides merge's one exchange; bounds broadcast.
      prep(s)
      val gtf = s.read.parquet(s"$fx/gtf.parquet")
      val iv = gtf.where(col("feature").isin("transcript", "exon"))
        .select(col("seqname").as("chrom"), col("start"), col("end"))
      val bounds = gtf.groupBy(col("seqname").as("chrom"))
        .agg(lit(1L).as("bound_start"),
          (max(col("end")) + 500L).as("bound_end"))
      graft.operators.Intervals.complement(iv, bounds)
    }),

    "g34_multiinter" -> ((s, _) => {
      // bedtools multiinter: atomic segments between the breakpoints of
      // three labeled sets (transcripts / exons / reads) with which sets
      // cover each — per-set merge (one exchange), endpoint-scale lead
      // window, binned overlap membership join; no cross-set product
      prep(s)
      val gtf = s.read.parquet(s"$fx/gtf.parquet")
      val tx = gtf.where(col("feature") === "transcript")
        .select(col("seqname").as("chrom"), col("start"), col("end"))
      val ex = s.read.parquet(s"$fx/exons.parquet")
        .select(col("chrom"), col("start"), col("end"))
      val reads = graft.sources.Sam
        .read(s, s"${GenomicFixtures.rawDir}/aligned.sam")
        .where(col("pos").isNotNull && !col("is_secondary") &&
          !col("is_dup"))
        .select(col("rname").as("chrom"), col("pos").as("start"),
          col("ref_end").as("end"))
      graft.operators.Intervals.multiinter(
        Seq("tx" -> tx, "exons" -> ex, "reads" -> reads),
        Seq("chrom"), binSize = 20)
    }),

    "g30_interval_jaccard" -> ((s, _) => {
      // bedtools jaccard: read-set vs exon-set similarity in covered
      // basepairs — both sides union-merge, clipped intersection sums
      // through the binned overlap join, ONE output row
      prep(s)
      val reads = graft.sources.Sam
        .read(s, s"${GenomicFixtures.rawDir}/aligned.sam")
        .where(col("pos").isNotNull && !col("is_secondary") &&
          !col("is_dup"))
        .select(col("rname").as("chrom"), col("pos").as("start"),
          col("ref_end").as("end"))
      val exons = s.read.parquet(s"$fx/exons.parquet")
        .select(col("chrom"), col("start"), col("end"))
      graft.operators.Intervals.jaccard(exons, reads, binSize = 20)
    }),

    "g24_target_breadth" -> ((s, _) => {
      // bedtools coverage: per-exon covered bases + breadth fraction —
      // binned overlap join for the hits, then g7's event sweep KEYED
      // BY TARGET for union length (overlapping reads never
      // double-count), exons with no reads at breadth 0 via one left
      // join
      prep(s)
      val reads = graft.sources.Sam
        .read(s, s"${GenomicFixtures.rawDir}/aligned.sam")
        .where(col("pos").isNotNull && !col("is_secondary") &&
          !col("is_dup"))
        .select(col("rname").as("chrom"), col("pos").as("start"),
          col("ref_end").as("end"))
      val exons = s.read.parquet(s"$fx/exons.parquet")
        .select(col("chrom"), col("transcript_id"),
          col("start").as("start2"), col("end").as("end2"))
      graft.operators.Coverage.targetBreadth(reads, exons,
        Seq("chrom"), Seq("transcript_id"), binSize = 20)
    }),

    "g15_kmer_spectrum" -> ((s, _) => {
      // canonical 5-mer counting + multiplicity spectrum (jellyfish)
      // from the FASTQ reads: explode -> ONE map-side-partial hash agg
      // -> tiny histogram agg; N-touching k-mers dropped, canonical =
      // min(kmer, revcomp)
      val reads = graft.sources.Fastq
        .read(s, s"${GenomicFixtures.rawDir}/reads.fastq")
        .where(col("well_formed"))
      graft.operators.Kmers.spectrum(
        graft.operators.Kmers.kmerCounts(reads, "sequence", k = 5))
    }),

    "g16_hwe" -> ((s, _) => {
      // plink --hardy: per-variant genotype-class counts, allele
      // frequency, observed/expected het and the 3-class HWE chi-square
      // from ONE conditional-sum groupBy (3 longs per variant cross the
      // exchange). Diploid contract -> X rows filtered; varId is
      // id:alt so multi-allelic split rows stay distinct variants.
      prep(s)
      graft.operators.VcfStats.hardyWeinberg(gtsWithVarId(s)
        .where(col("chrom") =!= "X"))
    }),

    "g47_het" -> ((s, _) => {
      // plink --het: per-sample observed vs HWE-expected homozygosity
      // (Nei-corrected) and the method-of-moments inbreeding F; one
      // variant-keyed agg + same-key join + one sample-keyed agg, the
      // E term quantized to 1e-9 longs so sums are partition-order-proof
      prep(s)
      graft.operators.VcfStats.hetStats(gtsWithVarId(s)
        .where(col("chrom") =!= "X"))
    }),

    "g31_ibs" -> ((s, _) => {
      // plink --genome: per-sample-pair IBS class counts + DST — the
      // relatedness / duplicate-sample screen; one variant-keyed
      // self-join, one pair-keyed conditional-sum groupBy
      prep(s)
      graft.operators.VcfStats.ibsPairs(gtsWithVarId(s)
        .where(col("chrom") =!= "X"))
    }),

    "g33_king" -> ((s, _) => {
      // plink2 --make-king: KING-robust kinship — the allele-frequency-
      // free relatedness estimator (structure-robust, unlike g31's DST);
      // identical pair-scan plan: one variant-keyed self-join, one
      // pair-keyed conditional-sum groupBy (five longs per pair partial)
      prep(s)
      graft.operators.VcfStats.kingKinship(gtsWithVarId(s)
        .where(col("chrom") =!= "X"))
    }),

    "g41_gene_burden" -> ((s, _) => {
      // rare-variant burden per (transcript, sample) — the SKAT/CMC
      // collapsing-test prep: AF-capped exonic variants via g2's binned
      // equi-join, per-carrier dosage sums in ONE (transcript, sample)
      // groupBy; carriers only (zeros are samples x transcripts and
      // reconstruct from the cohort list)
      prep(s)
      val rare = s.read.parquet(s"$fx/vcf_norm.parquet")
        .where(col("chrom") =!= "X" && col("allele_af") <= 0.15)
      val hits = IntervalJoin.pointsInIntervals(
        rare.select(col("chrom"), col("pos"), col("id"), col("alt")),
        s.read.parquet(s"$fx/exons.parquet"), Seq("chrom"), binSize = 20)
        .select(concat_ws(":", col("id"), col("alt")).as("varId"),
          col("transcript_id"))
      val gts = Vcf.genotypesLong(rare, GenomicFixtures.sampleNames(s))
        .select(concat_ws(":", col("id"), col("alt")).as("varId"),
          col("sample"), col("gt"))
      graft.operators.VcfStats.burdenScores(hits, gts)
    }),

    "g43_compound_het" -> ((s, _) => {
      // phase-aware compound-het screen: one ALT on copy 1 and a
      // DIFFERENT variant's ALT on copy 2 of the same transcript (in
      // trans — both gene copies damaged), which only PHASED genotypes
      // decide; g41's join shape, hom-ALT counts toward neither side
      prep(s)
      val vn = s.read.parquet(s"$fx/vcf_norm.parquet")
        .where(col("chrom") =!= "X")
      val hits = IntervalJoin.pointsInIntervals(
        vn.select(col("chrom"), col("pos"), col("id"), col("alt")),
        s.read.parquet(s"$fx/exons.parquet"), Seq("chrom"), binSize = 20)
        .select(concat_ws(":", col("id"), col("alt")).as("varId"),
          col("transcript_id"))
      val gts = Vcf.genotypesLong(vn, GenomicFixtures.sampleNames(s))
        .select(concat_ws(":", col("id"), col("alt")).as("varId"),
          col("sample"), col("gt"))
      graft.operators.VcfStats.compoundHet(hits, gts)
    }),

    "g42_king_prune" -> ((s, _) => {
      // plink2 --king-cutoff: greedy keep-earliest relatedness pruning
      // over the KING kinship pairs — the sample-graph sibling of g37's
      // LD panel thinning; the above-cutoff pair list collapses to one
      // sorted array row and the walk is one sequential fold
      prep(s)
      graft.operators.VcfStats.kingPrune(gtsWithVarId(s)
        .where(col("chrom") =!= "X"), cutoff = 0.1)
    }),

    "g45_singletons" -> ((s, _) => {
      // bcftools PSC nSingletons: per-sample count of variants carried
      // ALONE (cohort allele count 1) — excess flags contamination /
      // population outliers, deficit flags duplicates; one variant
      // groupBy + a broadcastable singleton join + one sample groupBy
      prep(s)
      graft.operators.VcfStats.sampleSingletons(gtsWithVarId(s)
        .where(col("chrom") =!= "X"))
    }),

    "g39_sfs" -> ((s, _) => {
      // site frequency spectrum (vcftools --freq / dadi): per-variant
      // folded minor-allele counts binned by (allele_number, mac) —
      // one conditional-sum groupBy per variant + a tiny second agg;
      // the spectrum is metadata-sized at any cohort scale
      prep(s)
      graft.operators.VcfStats.siteFrequencySpectrum(gtsWithVarId(s)
        .where(col("chrom") =!= "X"))
    }),

    "g40_tdt" -> ((s, _) => {
      // plink --tdt: ALT vs REF transmissions from het parents —
      // family-based association immune to stratification; transmission
      // counts are fully determined by Mendel-consistent trio dosages
      // (hom parents forced, both-het child-het gives one each);
      // g11's broadcast-trio join shape + ONE variant-keyed groupBy
      import s.implicits._
      prep(s)
      val trios = Seq(("S3", "S1", "S4"), ("S6", "S5", "S3"))
        .toDF("child", "mother", "father")
      graft.operators.VcfStats.tdt(gtsWithVarId(s)
        .where(col("chrom") =!= "X"), trios)
    }),

    "g32_grm" -> ((s, _) => {
      // plink --make-grm / GCTA GRM: variant-standardized dosage Gram
      // matrix (incl. diagonal) — the genotype-PCA / mixed-model input;
      // integer-scaled z keeps pair sums order-independent (no sorted
      // fold), pair scan is g31's plan with one extra varId-keyed join
      prep(s)
      graft.operators.VcfStats.grmPairs(gtsWithVarId(s)
        .where(col("chrom") =!= "X"))
    }),

    "g46_grm_pca" -> ((s, _) => {
      // GCTA --pca / plink --pca from the g32 GRM: top-2 eigenpairs by
      // power iteration run as iterative DataFrame matmul over the GRM
      // edge list (vector broadcast, exact-integer row sums — the d11
      // contract), deflation as Mv - λ·v1·(v1ᵀv); every scalar op is
      // IEEE-replayed by the oracle's recursive walk
      prep(s)
      graft.operators.VcfStats.grmPcaDistributed(
        graft.operators.VcfStats.grmPairs(gtsWithVarId(s)
          .where(col("chrom") =!= "X")), topK = G46TopK, iters = G46Iters)
    }),

    "g35_window_pi" -> ((s, _) => {
      // vcftools --window-pi: per-site π from called-allele counts
      // (integer form), summed per (chrom, 60bp window) with a sorted
      // fold — the diversity-map / sweep-screen genome scan
      prep(s)
      graft.operators.VcfStats.windowedPi(gtsWithVarId(s)
        .where(col("chrom") =!= "X"), binSize = 60)
    }),

    "g36_tajima_d" -> ((s, _) => {
      // vcftools --TajimaD: π vs Watterson S/a1 per 60bp window with
      // Tajima's variance constants from the cohort's nominal allele
      // count (2×samples — the documented constant-n divergence);
      // null D on invariant windows
      prep(s)
      graft.operators.VcfStats.tajimaD(gtsWithVarId(s)
        .where(col("chrom") =!= "X"),
        nSequences = 2 * GenomicFixtures.sampleNames(s).length,
        binSize = 60)
    }),

    "g37_ld_prune" -> ((s, _) => {
      // plink --indep-pairwise: greedy keep-earliest LD pruning at
      // r2 >= 0.8 within 40bp — the panel-thinning prescription the
      // pair-scan operators (g31/g32/g33) cite; per-chrom array fold,
      // oracle replays the identical walk as a recursive CTE
      prep(s)
      graft.operators.VcfStats.ldPrune(gtsWithVarId(s)
        .where(col("chrom") =!= "X"), maxDist = 40,
        r2Threshold = 0.8, binSize = 16)
    }),

    "g38_froh" -> ((s, _) => {
      // plink --homozyg summary: F_ROH per sample — ROH bp over the
      // surveyed span (data-derived denominator, one broadcast row);
      // no-run samples report 0
      prep(s)
      graft.operators.VcfStats.frohCoefficients(gtsWithVarId(s)
        .where(col("chrom") =!= "X"), minVariants = 2)
    }),

    "g17_roh" -> ((s, _) => {
      // plink --homozyg-lite: per (sample, chrom) maximal runs of >= 2
      // consecutive homozygous calls — gaps-and-islands on ONE
      // (sample, chrom) exchange (both row_number windows + the run
      // aggregation reuse its partitioning)
      prep(s)
      graft.operators.VcfStats.rohSegments(gtsWithVarId(s)
        .where(col("chrom") =!= "X"), minVariants = 2)
    }),

    "g18_concordance" -> ((s, _) => {
      // bcftools gtcheck-style call-set concordance: the second call set
      // is a deterministic perturbation of the first (variants at
      // pos%5==0 dropped -> left_only; genotypes at pos%7==0 forced to
      // 1|1 -> discordance), so the gate exercises every counter. ONE
      // full-outer (varId, sample) join + one per-sample aggregation.
      prep(s)
      val left = gtsWithVarId(s)
      val right = left.where(pmod(col("pos"), lit(5)) =!= 0)
        .withColumn("gt",
          when(pmod(col("pos"), lit(7)) === 0, lit("1|1"))
            .otherwise(col("gt")))
      graft.operators.VcfStats.genotypeConcordance(left, right)
    }),

    "g28_sex_check" -> ((s, _) => {
      // plink --check-sex: X non-PAR heterozygosity per sample vs the
      // declared sex (hemizygous males are never het there); the
      // fixture's deliberately messy X calls make mismatch rows fire
      prep(s)
      graft.operators.VcfStats.sexCheck(
        gtsWithVarId(s).where(col("chrom") === "X" &&
          col("pos") > GenomicFixtures.par1To &&
          col("pos") < GenomicFixtures.par2From),
        s.read.parquet(s"$fx/samples_meta.parquet"))
    }),

    "g25_missingness" -> ((s, _) => {
      // plink --missing: per-sample call rate (all chroms — a failed
      // assay is per-sample, not per-chromosome); one conditional-sum
      // groupBy
      prep(s)
      graft.operators.VcfStats.sampleMissingness(gtsWithVarId(s))
    }),

    "g21_ld" -> ((s, _) => {
      // plink --r2: dosage correlation for variant pairs within 40 bp —
      // the window predicate is g2's binned equi-join keyed
      // (chrom, sample, bin), pair sums are exact integer partials,
      // the correlation arithmetic runs on the aggregated frame only
      prep(s)
      graft.operators.VcfStats.ldPairs(gtsWithVarId(s)
        .where(col("chrom") =!= "X"), maxDist = 40, binSize = 16)
    }),

    "g22_fst" -> ((s, _) => {
      // Hudson-estimator Fst, EUR vs the rest of the cohort: per-group
      // allele frequencies from ONE conditional-sum groupBy
      prep(s)
      val meta = s.read.parquet(s"$fx/samples_meta.parquet")
        .select(col("sample"),
          when(col("superpopulation") === "EUR", "EUR").otherwise("REST")
            .as("pop"))
      graft.operators.VcfStats.fstHudson(
        gtsWithVarId(s).where(col("chrom") =!= "X")
          .join(broadcast(meta), Seq("sample")),
        popA = "EUR", popB = "REST")
    }),

    "g19_gc_windows" -> ((s, _) => {
      // bedtools-nuc-style windowed base composition over the raw genome
      // sequences: one regexp window cut + length-difference base counts,
      // zero shuffles (the oracle re-reads the raw TSV)
      val seqs = s.read.option("sep", "\t")
        .csv(s"${GenomicFixtures.rawDir}/genome.txt")
        .toDF("chrom", "sequence")
      graft.operators.SeqStats.gcWindows(seqs, windowSize = 25)
    }),

    "g20_depth_hist" -> ((s, _) => {
      // bedtools genomecov -hist: bases at each coverage depth, computed
      // from g7's run-length segments — the histogram is a tiny weighted
      // aggregation, never a base explode
      prep(s)
      graft.operators.Coverage.depthHistogram(
        graft.operators.Coverage.coverage(
          s.read.parquet(s"$fx/gtf.parquet")
            .where(col("feature").isin("transcript", "exon"))
            .select(col("seqname").as("chrom"), col("start"), col("end"))))
    }),

    "b1_bed_read" -> ((s, _) => {
      // BED region source: track/comment lines dropped map-side, optional
      // cols null-padded; plus the 1-based inclusive conversion the
      // interval operators consume (the named off-by-one step)
      graft.sources.Bed.toIntervals(
        graft.sources.Bed.read(s, s"${GenomicFixtures.rawDir}/regions.bed"))
    }),

    "gf1_gff3_read" -> ((s, _) => {
      // GFF3 source: directive lines dropped, ID/Parent hierarchy
      // attributes extracted + percent-DECODED (the grammar difference
      // vs GTF this reader owns)
      import graft.sources.Gff3
      val g = Gff3.read(s, s"${GenomicFixtures.rawDir}/annotations.gff3")
      g.select(col("seqname"), col("feature"), col("start"), col("end"),
        col("strand"),
        Gff3.attr(col("attributes"), "ID").as("id"),
        Gff3.attr(col("attributes"), "Parent").as("parent"),
        Gff3.attr(col("attributes"), "Note").as("note"))
    }),

    "b2_bed_write" -> ((s, _) => {
      // writer round trip: parse -> 1-based intervals -> write back as
      // BED ("." for absent fields) -> re-read -> re-convert. The oracle
      // recomputes the b1 expectation directly from the raw file, so any
      // coordinate-conversion asymmetry between writer and reader breaks
      // the hash.
      import graft.sources.Bed
      val out = s"${sys.props("java.io.tmpdir")}/graft-bed-written-" +
        ProcessHandle.current.pid
      Bed.writeIntervals(Bed.toIntervals(
        Bed.read(s, s"${GenomicFixtures.rawDir}/regions.bed")), out)
      Bed.toIntervals(Bed.read(s, out))
    }),

    "g5_nearest_join" -> ((s, _) => {
      // bedtools-closest within a radius: every variant annotated with
      // its nearest exon (distance 0 inside, else gap to the nearer
      // edge; ties -> smallest transcript_id) — radius-bounded binned
      // candidates, bin-ownership claim, one partial-agg arg-min
      prep(s)
      val points = s.read.parquet(s"$fx/vcf_norm.parquet")
        .select("chrom", "pos", "id")
      val exons = s.read.parquet(s"$fx/exons.parquet")
      IntervalJoin.nearestInterval(points, exons, "transcript_id",
        Seq("chrom"), radius = 60, binSize = 20)
    }),

    "g4_overlap_join" -> ((s, _) => {
      // interval x interval overlap: exons vs 30bp capture probes tiled
      // every 25bp across each chromosome's span — binned equi-join with
      // left-edge bin ownership, so no dedup shuffle (overlapJoin)
      prep(s)
      val ex = s.read.parquet(s"$fx/exons.parquet")
      val probes = ex.groupBy(col("chrom"))
        .agg(min(col("start")).as("_s"), max(col("end")).as("_e"))
        .select(col("chrom"),
          explode(sequence(col("_s"), col("_e"), lit(25L))).as("start2"))
        .withColumn("end2", col("start2") + 29L)
        .withColumn("probe_id",
          concat(col("chrom"), lit(":"), col("start2")))
      IntervalJoin.overlapJoin(
        ex.select(col("chrom"), col("transcript_id"), col("start"),
          col("end")),
        probes, Seq("chrom"), binSize = 20)
        .select(col("chrom"), col("transcript_id"), col("probe_id"),
          col("start"), col("end"), col("start2"), col("end2"),
          (least(col("end"), col("end2")) -
            greatest(col("start"), col("start2")) + 1).as("overlap_len"))
    }),

    "g3_coord_map" -> ((s, _) => {
      prep(s)
      val gts = s.read.parquet(s"$fx/gts_long.parquet")
        .select("transcript", "varId", "pos").distinct()
      val arrays = s.read.parquet(s"$fx/exon_arrays.parquet")
        .withColumnRenamed("transcript_id", "transcript")
      gts.join(arrays, Seq("transcript"))
        .withColumn("rna_pos", CoordMap.rnaPos(col("exons"), col("pos")))
        .select(col("transcript"), col("varId"), col("pos"), col("rna_pos"),
          CoordMap.dnaPos(col("exons"), col("rna_pos")).as("dna_back"))
    }),

    "f1_fasta_read" -> ((s, _) => {
      prep(s)
      Fasta.read(s, GenomicFixtures.proteinsPath)
    }),

    "v3_revcomp" -> ((s, _) => {
      prep(s)
      s.read.parquet(s"$fx/cdna.parquet")
        .select(col("transcript_id"),
          dna.revComp(col("sequence")).as("revcomp"))
    }),

    "v4_translate" -> ((s, _) => {
      prep(s)
      graft.plans.GraftFunctions.register(s)
      s.read.parquet(s"$fx/cdna.parquet")
        .select(col("transcript_id"), col("sequence"),
          explode(sequence(lit(0), lit(2))).as("frame"))
        .select(col("transcript_id"), col("frame").cast("long").as("frame"),
          dna.translateDna(col("sequence"), col("frame")).as("protein"))
    }),

    "v5_apply_variants" -> ((s, _) => {
      prep(s)
      val cases = s.read.parquet(s"$fx/apply_cases.parquet")
      val cdna = s.read.parquet(s"$fx/cdna.parquet")
      cases.join(cdna, Seq("transcript_id"))
        .select(col("transcript_id"),
          dna.applyVariants(col("sequence"), col("variants")).as("mutated"))
    }),

    "v6_orf" -> ((s, _) => {
      prep(s)
      s.read.parquet(s"$fx/cdna.parquet")
        .select(col("transcript_id"),
          dna.startCodonPos(col("sequence")).cast("long").as("atg_pos"),
          when(dna.startCodonPos(col("sequence")) > 0,
            dna.firstStopCodon(col("sequence"),
              dna.startCodonPos(col("sequence"))).cast("long"))
            .as("stop_codon_idx"))
    }),

    "v7_consequence" -> ((s, _) => {
      prep(s)
      s.read.parquet(s"$fx/conseq_cases.parquet")
        .select(col("caseId"),
          dna.consequence(col("ref"), col("alt"), col("aaRef"),
            col("aaAlt")).as("consequence"))
    }),

    "g44_worst_conseq" -> ((s, _) => {
      // VEP-style severity rollup: per gene the WORST consequence over
      // its variants, severity an explicit literal rank (frameshift >
      // stop_gained > stop_lost > inframe_indel > SAV > synonymous —
      // the ensembl ordering restricted to v7's classes); winner via
      // ONE windowless min(struct(rank, consequence)) partial agg, the
      // u3/q36 arg-min shape — genes synthesized per caseId (the
      // fixture is per-variant), ties break on the consequence string
      prep(s)
      val sev = map(
        lit("frameshift"), lit(0), lit("stop_gained"), lit(1),
        lit("stop_lost"), lit(2), lit("inframe_indel"), lit(3),
        lit("SAV"), lit(4), lit("synonymous"), lit(5))
      s.read.parquet(s"$fx/conseq_cases.parquet")
        .select(
          concat(lit("G"), pmod(
            substring(col("caseId"), 2, 10).cast("int"), lit(3)))
            .as("gene"),
          dna.consequence(col("ref"), col("alt"), col("aaRef"),
            col("aaAlt")).as("consequence"))
        .select(col("gene"),
          element_at(sev, col("consequence")).as("_r"),
          col("consequence"))
        .groupBy(col("gene"))
        .agg(count(lit(1)).as("n_variants"),
          min(struct(col("_r").as("r"), col("consequence").as("c")))
            .as("_m"))
        .select(col("gene"), col("n_variants"),
          col("_m.c").as("worst_consequence"),
          col("_m.r").cast("long").as("severity_rank"))
    })
  )

  // ---- oracles ----------------------------------------------------------

  // Sample column names come from the fixture's #CHROM header line, not a
  // hardcoded list, so oracle and reader stay in sync when fixtures grow.
  private val sampleCols: Seq[String] = {
    val src = scala.io.Source.fromFile(s"$raw/sample.vcf")
    try src.getLines().find(_.startsWith("#CHROM"))
      .map(_.split("\t").drop(9).map(_.toLowerCase).toSeq)
      .getOrElse(Seq.empty)
    finally src.close()
  }

  private val vcfCols =
    ("['chrom','pos','id','ref','alt','qual','filter','info','format'" +:
      sampleCols.map(c => s"'$c'")).mkString("", ",", "]")

  private val codonValues =
    dna.codonTable.map { case (c, a) => s"('$c','$a')" }.mkString(", ")

  // genotype rewrite for the i-th (1-based) ALT allele, vcf_filter_fix.py
  private def gtRewriteSql(g: String, i: String): String =
    s"""array_to_string(list_transform(
       |  string_split_regex(CASE WHEN NOT contains($g, '|')
       |      AND NOT contains($g, '/') THEN $g || '|0' ELSE $g END,
       |    '[|/]'),
       |  a -> CASE WHEN a = CAST($i AS VARCHAR) THEN '1'
       |            WHEN a = '.' THEN '.' ELSE '0' END), '|')""".stripMargin

  /** Shared chain-file parse for the c1/g6 oracles: the same blank-line
    * record split, header/block field extraction, and per-chain window
    * cumsum Chain.read performs — ending in a `blocks` CTE.
    */
  private val chainBlocksSql: String =
    s"""recs AS (
       |  SELECT trim(r) AS rec FROM (
       |    SELECT unnest(string_split(content, chr(10) || chr(10))) AS r
       |    FROM read_text('$raw/lift.chain'))
       |  WHERE len(trim(r)) > 0),
       |ls AS (SELECT string_split(rec, chr(10)) AS l FROM recs),
       |hb AS (
       |  SELECT string_split_regex(l[1], '[ \t]+') AS h,
       |    u.i AS i, u.b AS b
       |  FROM (SELECT l, unnest([{'i': i, 'b': l[i]}
       |          for i in range(2, len(l) + 1)]) AS u FROM ls)),
       |bf0 AS (
       |  SELECT h[13] AS chain_id, CAST(h[2] AS BIGINT) AS score,
       |    h[3] AS t_name, CAST(h[4] AS BIGINT) AS t_size,
       |    CAST(h[6] AS BIGINT) AS tcs,
       |    h[8] AS q_name, CAST(h[9] AS BIGINT) AS q_size,
       |    h[10] AS q_strand, CAST(h[11] AS BIGINT) AS qcs,
       |    i, string_split_regex(trim(b), '[ \t]+') AS bf
       |  FROM hb WHERE len(trim(b)) > 0),
       |bf1 AS (
       |  SELECT *, CAST(bf[1] AS BIGINT) AS bsize,
       |    CAST(coalesce(bf[2], '0') AS BIGINT) AS dt,
       |    CAST(coalesce(bf[3], '0') AS BIGINT) AS dq
       |  FROM bf0),
       |blocks AS (
       |  SELECT chain_id, score, t_name, t_size, q_name, q_size,
       |    q_strand,
       |    CAST(tcs + coalesce(sum(bsize + dt) OVER (
       |      PARTITION BY chain_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS bt_start,
       |    CAST(qcs + coalesce(sum(bsize + dq) OVER (
       |      PARTITION BY chain_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS qb_start,
       |    bsize,
       |    CAST(tcs + coalesce(sum(bsize + dt) OVER (
       |      PARTITION BY chain_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      + bsize AS BIGINT) AS bt_end
       |  FROM bf1)""".stripMargin

  /** DuckDB's independent parse of the aligned.sam TEXT fixture — the
    * oracle for BOTH sam1_read (which reads that file) and bam1_read
    * (which reads GenomicFixtures.bamPath's binary re-encoding of the
    * same reads): field-for-field parity is exactly the BAM source's
    * contract.
    */
  private val sam1Sql: String =
    s"""WITH lines AS (
       |  SELECT unnest(string_split(content, chr(10))) AS l
       |  FROM read_text('$raw/aligned.sam')),
       |a AS (
       |  SELECT string_split(l, chr(9)) AS f FROM lines
       |  WHERE len(trim(l)) > 0 AND NOT starts_with(l, '@')),
       |p AS (
       |  SELECT f[1] AS qname, CAST(f[2] AS INT) AS flag,
       |    nullif(f[3], '*') AS rname,
       |    nullif(CAST(f[4] AS BIGINT), 0) AS pos,
       |    CAST(f[5] AS INT) AS mapq, f[6] AS cigar,
       |    nullif(f[7], '*') AS rnext,
       |    nullif(CAST(f[8] AS BIGINT), 0) AS pnext,
       |    CAST(f[9] AS BIGINT) AS tlen, nullif(f[10], '*') AS seq,
       |    nullif(f[11], '*') AS qual,
       |    nullif(array_to_string(f[12:], ','), '') AS tags
       |  FROM a)
       |SELECT qname, flag, rname, pos, mapq, cigar, rnext, pnext,
       |  tlen, seq, qual, tags,
       |  (flag & 1) <> 0 AS is_paired,
       |  (flag & 2) <> 0 AS is_proper_pair,
       |  (flag & 4) <> 0 AS is_unmapped,
       |  (flag & 16) <> 0 AS is_reverse,
       |  (flag & 64) <> 0 AS is_first,
       |  (flag & 256) <> 0 AS is_secondary,
       |  (flag & 1024) <> 0 AS is_dup,
       |  CASE WHEN pos IS NOT NULL AND cigar <> '*' THEN
       |    pos + CAST(list_sum(list_transform(
       |      regexp_extract_all(cigar, '(\\d+)([MIDNSHP=X])', 0),
       |      tok -> CASE WHEN right(tok, 1) IN
       |          ('M', 'D', 'N', '=', 'X')
       |        THEN CAST(regexp_extract(tok, '(\\d+)', 1) AS BIGINT)
       |        ELSE 0 END)) AS BIGINT) - 1
       |  END AS ref_end
       |FROM p""".stripMargin

  /** DuckDB's independent parse of the sample.vcf TEXT fixture — the
    * oracle for BOTH v1_vcf_read (which reads that file) and v9_vcf_gz
    * (which reads its BGZF multi-member gzip re-encoding through the
    * same Vcf.read): field parity pins the Hadoop-codec member chain.
    */
  private val v1Sql: String =
    s"""SELECT chrom, CAST(pos AS BIGINT) AS pos, id, ref, alt, qual,
       |  filter, info,
       |  array_to_string([${sampleCols.mkString(", ")}], ',') AS genotypes,
       |  coalesce(
       |    nullif(regexp_extract(info, '(?:^|;)AF=([^;]+)', 1), ''),
       |    nullif(regexp_extract(info, '(?:^|;)MAF=([^;]+)', 1), ''))
       |    AS af
       |FROM read_csv('$raw/sample.vcf', delim='\t', header=false,
       |  skip=4, names=$vcfCols, all_varchar=true)""".stripMargin

  /** bcf1/bcf2 shared oracle: the independent TEXT parse with AF
    * normalized through float32 shortest-round-trip ("0.10" -> '0.1';
    * DuckDB's float->varchar and Java's Float.toString agree on the
    * rule, BcfSpec pins it per value).
    */
  private lazy val bcf1Sql: String =
    s"""WITH t AS ($v1Sql)
       |SELECT chrom, pos, id, ref, alt, qual, filter,
       |  CASE WHEN af IS NULL THEN info
       |    ELSE 'AF=' || array_to_string(list_transform(
       |      string_split(af, ','),
       |      x -> CAST(TRY_CAST(x AS FLOAT) AS VARCHAR)), ',')
       |    END AS info,
       |  genotypes,
       |  CASE WHEN af IS NULL THEN af
       |    ELSE array_to_string(list_transform(string_split(af, ','),
       |      x -> CAST(TRY_CAST(x AS FLOAT) AS VARCHAR)), ',')
       |    END AS af
       |FROM t""".stripMargin

  val oracles: Map[String, String] = Map(
    "c1_chain_read" ->
      s"""WITH $chainBlocksSql
         |SELECT chain_id, score, t_name, t_size, q_name, q_size,
         |  q_strand, bt_start, qb_start, bsize, bt_end
         |FROM blocks""".stripMargin,

    "g6_liftover" ->
      s"""WITH $chainBlocksSql,
         |pts AS (SELECT DISTINCT chrom, CAST(pos AS BIGINT) AS pos, id
         |        FROM ${pq("vcf_norm")}),
         |hit AS (
         |  SELECT p.chrom, p.pos, p.id, b.score,
         |    b.q_name AS new_chrom,
         |    (CASE WHEN b.q_strand = '-'
         |      THEN b.q_size - 1 - (b.qb_start + (p.pos - 1 - b.bt_start))
         |      ELSE b.qb_start + (p.pos - 1 - b.bt_start) END) + 1
         |      AS new_pos,
         |    b.q_strand AS new_strand
         |  FROM pts p JOIN blocks b
         |    ON p.chrom = b.t_name
         |   AND p.pos - 1 >= b.bt_start AND p.pos - 1 < b.bt_end)
         |SELECT chrom, pos, id, new_chrom, new_pos, new_strand,
         |  score AS lift_score
         |FROM (SELECT *, row_number() OVER (PARTITION BY chrom, pos, id
         |    ORDER BY score DESC, new_chrom DESC, new_pos DESC,
         |      new_strand DESC) AS rn FROM hit)
         |WHERE rn = 1""".stripMargin,

    "sam1_read" -> sam1Sql,

    // bam1: the IDENTICAL independent parse of the TEXT fixture — the
    // BAM gate reads the binary re-encoding (GenomicFixtures.bamPath),
    // so the oracle pins byte-level BGZF/BAM decode fidelity against
    // DuckDB's parse of the same reads from SAM text. A writer/reader
    // bug pair cannot cancel: only the reader's output meets this SQL.
    "bam1_read" -> sam1Sql,

    // bam2: identical contract — the splittable read must reproduce the
    // text parse exactly from many forced byte ranges.
    "bam2_split" -> sam1Sql,

    // bam3: the sharded executor-side sink round trip must also land
    // exactly on the independent text parse.
    "bam3_write_sharded" -> sam1Sql,

    // sam2: the same SAM parse against dupreads.sam, then the markdup
    // walk replayed relationally — unclipped-5' keys from clip-run
    // regexes, qname template collapse, signature window, verdict join.
    // All-integer (clip sums, Phred sums), so no FP divergence.
    "sam2_markdup" ->
      s"""WITH lines AS (
         |  SELECT unnest(string_split(content, chr(10))) AS l
         |  FROM read_text('$raw/dupreads.sam')),
         |a AS (
         |  SELECT string_split(l, chr(9)) AS f FROM lines
         |  WHERE len(trim(l)) > 0 AND NOT starts_with(l, '@')),
         |p AS (
         |  SELECT f[1] AS qname, CAST(f[2] AS INT) AS flag,
         |    nullif(f[3], '*') AS rname,
         |    nullif(CAST(f[4] AS BIGINT), 0) AS pos,
         |    f[6] AS cigar, nullif(f[11], '*') AS qual
         |  FROM a),
         |pe AS (
         |  SELECT p.*,
         |    CASE WHEN pos IS NOT NULL AND cigar <> '*' THEN
         |      pos + CAST(list_sum(list_transform(
         |        regexp_extract_all(cigar, '(\\d+)([MIDNSHP=X])', 0),
         |        tok -> CASE WHEN right(tok, 1) IN
         |            ('M', 'D', 'N', '=', 'X')
         |          THEN CAST(regexp_extract(tok, '(\\d+)', 1) AS BIGINT)
         |          ELSE 0 END)) AS BIGINT) - 1
         |    END AS ref_end
         |  FROM p),
         |el AS (
         |  SELECT qname,
         |    concat_ws(':', rname,
         |      CASE WHEN (flag & 16) <> 0
         |        THEN ref_end + coalesce(CAST(list_sum(list_transform(
         |          regexp_extract_all(regexp_extract(cigar,
         |            '((?:\\d+[SH])+)$$', 1), '\\d+', 0),
         |          x -> CAST(x AS BIGINT))) AS BIGINT), 0)
         |        ELSE pos - coalesce(CAST(list_sum(list_transform(
         |          regexp_extract_all(regexp_extract(cigar,
         |            '^((?:\\d+[SH])+)', 1), '\\d+', 0),
         |          x -> CAST(x AS BIGINT))) AS BIGINT), 0) END,
         |      CASE WHEN (flag & 16) <> 0 THEN '-' ELSE '+' END)
         |      AS end_sig,
         |    CASE WHEN qual IS NULL THEN 0
         |      ELSE CAST(list_sum(list_transform(
         |        range(1, length(qual) + 1),
         |        i -> ascii(substring(qual, CAST(i AS INT), 1)) - 33))
         |        AS BIGINT) END AS qs
         |  FROM pe
         |  WHERE pos IS NOT NULL AND (flag & 4) = 0 AND (flag & 256) = 0
         |    AND (flag & 2048) = 0),
         |t AS (
         |  SELECT qname,
         |    array_to_string(list_sort(list(end_sig)), '|') AS sig,
         |    CAST(sum(qs) AS BIGINT) AS score
         |  FROM el GROUP BY qname),
         |v AS (
         |  SELECT qname,
         |    row_number() OVER (PARTITION BY sig
         |      ORDER BY score DESC, qname ASC) > 1 AS dup
         |  FROM t)
         |SELECT pe.qname, pe.flag, pe.rname, pe.pos,
         |  coalesce(v.dup, false) AS dup
         |FROM pe LEFT JOIN v USING (qname)""".stripMargin,

    "g26_interval_merge" ->
      s"""WITH iv AS (
         |  SELECT seqname AS chrom, CAST(start AS BIGINT) AS s,
         |    CAST("end" AS BIGINT) AS e
         |  FROM ${pq("gtf")} WHERE feature IN ('transcript', 'exon')),
         |o AS (
         |  SELECT chrom, s, e,
         |    max(e) OVER (PARTITION BY chrom ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |  FROM iv),
         |i AS (
         |  SELECT chrom, s, e,
         |    sum(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY chrom ORDER BY s, e
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS island
         |  FROM o)
         |SELECT chrom, min(s) AS merged_start, max(e) AS merged_end,
         |  CAST(count(*) AS BIGINT) AS n_intervals
         |FROM i GROUP BY chrom, island""".stripMargin,

    // g53: the same split (slices of the genotype list), FULL JOIN
    // USING coalesces the variant key, missing sides fill ./. at their
    // cohort's width
    "g53_vcf_merge" ->
      s"""WITH v AS (
         |  SELECT chrom, pos, id, ref, alt, genotypes
         |  FROM ${pq("vcf_norm")}),
         |a AS (
         |  SELECT chrom, pos, id, ref, alt, genotypes[1:3] AS g
         |  FROM v WHERE pos % 3 <> 0),
         |b AS (
         |  SELECT chrom, pos, id, ref, alt, genotypes[4:] AS g
         |  FROM v WHERE pos % 5 <> 0)
         |SELECT chrom, pos, id, ref, alt,
         |  array_to_string(list_concat(
         |    coalesce(a.g, list_transform(
         |      range(1, (SELECT max(len(g)) FROM a) + 1), x -> './.')),
         |    coalesce(b.g, list_transform(
         |      range(1, (SELECT max(len(g)) FROM b) + 1), x -> './.'))),
         |    ',') AS genotypes
         |FROM a FULL JOIN b USING (chrom, pos, id, ref, alt)""".stripMargin,

    // g51: @SQ header parse + record counts from the same raw text,
    // '*' union row, left-join zero fill
    "g51_idxstats" ->
      s"""WITH lines AS (
         |  SELECT unnest(string_split(content, chr(10))) AS l
         |  FROM read_text('$raw/aligned.sam')),
         |refs AS (
         |  SELECT regexp_extract(l, 'SN:([^\t]+)', 1) AS rname,
         |    CAST(regexp_extract(l, 'LN:([0-9]+)', 1) AS BIGINT)
         |      AS length
         |  FROM lines WHERE starts_with(l, '@SQ')
         |  UNION ALL SELECT '*', 0),
         |a AS (
         |  SELECT string_split(l, chr(9)) AS f FROM lines
         |  WHERE len(trim(l)) > 0 AND NOT starts_with(l, '@')),
         |c AS (
         |  SELECT coalesce(nullif(f[3], '*'), '*') AS rname,
         |    CAST(sum(CASE WHEN (CAST(f[2] AS INT) & 4) = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS nm,
         |    CAST(sum(CASE WHEN (CAST(f[2] AS INT) & 4) <> 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS nu
         |  FROM a GROUP BY 1)
         |SELECT r.rname, r.length,
         |  coalesce(c.nm, 0) AS n_mapped,
         |  coalesce(c.nu, 0) AS n_unmapped
         |FROM refs r LEFT JOIN c USING (rname)""".stripMargin,

    // g52: the b1 BED parse chr-stripped, genome lengths from the raw
    // TSV, clamp arithmetic per the slop contract (unknown chrom
    // un-clipped, beyond-end collapses to the boundary stub)
    "g52_slop" ->
      s"""WITH genome AS (
         |  SELECT c0 AS chrom, CAST(length(c1) AS BIGINT) AS glen
         |  FROM read_csv('${GenomicFixtures.rawDir}/genome.txt',
         |    delim='\t', header=false, all_varchar=true,
         |    names=['c0','c1'])),
         |bed AS (
         |  SELECT regexp_replace(c0, '^chr', '') AS chrom,
         |    CAST(c1 AS BIGINT) + 1 AS s,
         |    greatest(CAST(c2 AS BIGINT), CAST(c1 AS BIGINT) + 1) AS e,
         |    NULLIF(c3, '.') AS name
         |  FROM read_csv('$raw/regions.bed', delim='\t', header=false,
         |    null_padding=true, all_varchar=true,
         |    names=['c0','c1','c2','c3','c4','c5'])
         |  WHERE NOT starts_with(c0, 'track')
         |    AND NOT starts_with(c0, 'browser')
         |    AND NOT starts_with(c0, '#'))
         |SELECT b.chrom,
         |  CASE WHEN g.glen IS NOT NULL
         |    THEN least(greatest(b.s - 30, 1), g.glen)
         |    ELSE greatest(b.s - 30, 1) END AS start,
         |  CASE WHEN g.glen IS NOT NULL
         |    THEN least(b.e + 30, g.glen)
         |    ELSE b.e + 30 END AS "end",
         |  b.name
         |FROM bed b LEFT JOIN genome g ON b.chrom = g.chrom""".stripMargin,

    // g49: the b1 BED parse with chr-prefix normalization, a BETWEEN
    // containment join, sorted comma-joined names, LEFT JOIN keeps
    // unannotated variants
    "g49_annotate" ->
      s"""WITH bed AS (
         |  SELECT regexp_replace(c0, '^chr', '') AS chrom,
         |    CAST(c1 AS BIGINT) + 1 AS s,
         |    greatest(CAST(c2 AS BIGINT), CAST(c1 AS BIGINT) + 1) AS e,
         |    NULLIF(c3, '.') AS name
         |  FROM read_csv('$raw/regions.bed', delim='\t', header=false,
         |    null_padding=true, all_varchar=true,
         |    names=['c0','c1','c2','c3','c4','c5'])
         |  WHERE NOT starts_with(c0, 'track')
         |    AND NOT starts_with(c0, 'browser')
         |    AND NOT starts_with(c0, '#')),
         |v AS (SELECT chrom, pos, id, alt FROM ${pq("vcf_norm")}),
         |h AS (
         |  SELECT v.chrom, v.pos, v.id, v.alt,
         |    array_to_string(list_sort(list(b.name)), ',') AS annots
         |  FROM v JOIN bed b
         |    ON v.chrom = b.chrom AND v.pos BETWEEN b.s AND b.e
         |  GROUP BY 1, 2, 3, 4)
         |SELECT v.chrom, v.pos, v.id, v.alt, h.annots
         |FROM v LEFT JOIN h USING (chrom, pos, id, alt)""".stripMargin,

    // g48: g26's island walk, emitted per input row with the
    // chrom:island label instead of collapsed
    "g48_interval_cluster" ->
      s"""WITH iv AS (
         |  SELECT seqname AS chrom, CAST(start AS BIGINT) AS start,
         |    CAST("end" AS BIGINT) AS "end"
         |  FROM ${pq("gtf")} WHERE feature IN ('transcript', 'exon')),
         |o AS (
         |  SELECT chrom, start, "end",
         |    max("end") OVER (PARTITION BY chrom ORDER BY start, "end"
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |  FROM iv),
         |i AS (
         |  SELECT chrom, start, "end",
         |    sum(CASE WHEN pm IS NULL OR start > pm + 1 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY chrom ORDER BY start, "end"
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS island
         |  FROM o)
         |SELECT chrom, start, "end",
         |  chrom || ':' || island AS cluster_id
         |FROM i""".stripMargin,

    "g27_interval_subtract" ->
      s"""WITH lines AS (
         |  SELECT unnest(string_split(content, chr(10))) AS l
         |  FROM read_text('$raw/aligned.sam')),
         |a AS (
         |  SELECT string_split(l, chr(9)) AS f FROM lines
         |  WHERE len(trim(l)) > 0 AND NOT starts_with(l, '@')),
         |reads AS (
         |  SELECT nullif(f[3], '*') AS chrom,
         |    nullif(CAST(f[4] AS BIGINT), 0) AS s,
         |    nullif(CAST(f[4] AS BIGINT), 0) + CAST(list_sum(
         |      list_transform(
         |        regexp_extract_all(f[6], '(\\d+)([MIDNSHP=X])', 0),
         |        tok -> CASE WHEN right(tok, 1) IN
         |            ('M', 'D', 'N', '=', 'X')
         |          THEN CAST(regexp_extract(tok, '(\\d+)', 1) AS BIGINT)
         |          ELSE 0 END)) AS BIGINT) - 1 AS e
         |  FROM a
         |  WHERE nullif(CAST(f[4] AS BIGINT), 0) IS NOT NULL
         |    AND (CAST(f[2] AS INT) & 256) = 0
         |    AND (CAST(f[2] AS INT) & 1024) = 0),
         |ro AS (
         |  SELECT chrom, s, e,
         |    max(e) OVER (PARTITION BY chrom ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |  FROM reads),
         |ri AS (
         |  SELECT chrom, s, e,
         |    sum(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY chrom ORDER BY s, e
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS island
         |  FROM ro),
         |bm AS (
         |  SELECT chrom, min(s) AS ms, max(e) AS me
         |  FROM ri GROUP BY chrom, island),
         |ex AS (
         |  SELECT chrom, transcript_id, CAST(start AS BIGINT) AS a_s,
         |    CAST("end" AS BIGINT) AS a_e
         |  FROM ${pq("exons")}),
         |hits AS (
         |  SELECT e.chrom, e.transcript_id, e.a_s, e.a_e,
         |    greatest(b.ms, e.a_s) AS cs, least(b.me, e.a_e) AS ce
         |  FROM ex e JOIN bm b ON e.chrom = b.chrom
         |    AND e.a_s <= b.me AND b.ms <= e.a_e),
         |gaps AS (
         |  SELECT chrom, transcript_id,
         |    coalesce(lag(ce) OVER (PARTITION BY chrom, transcript_id,
         |      a_s, a_e ORDER BY cs) + 1, a_s) AS o_s,
         |    cs - 1 AS o_e
         |  FROM hits),
         |tails AS (
         |  SELECT chrom, transcript_id, max(ce) + 1 AS o_s, a_e AS o_e
         |  FROM hits GROUP BY chrom, transcript_id, a_s, a_e
         |  HAVING max(ce) < a_e),
         |untouched AS (
         |  SELECT e.chrom, e.transcript_id, e.a_s AS o_s, e.a_e AS o_e
         |  FROM ex e WHERE NOT EXISTS (
         |    SELECT 1 FROM hits h WHERE h.chrom = e.chrom
         |      AND h.transcript_id = e.transcript_id
         |      AND h.a_s = e.a_s AND h.a_e = e.a_e))
         |SELECT chrom, transcript_id, o_s AS start, o_e AS "end"
         |FROM (SELECT * FROM gaps WHERE o_s <= o_e
         |      UNION ALL SELECT * FROM tails
         |      UNION ALL SELECT * FROM untouched)""".stripMargin,

    "g34_multiinter" ->
      s"""WITH lines AS (
         |  SELECT unnest(string_split(content, chr(10))) AS l
         |  FROM read_text('$raw/aligned.sam')),
         |a AS (
         |  SELECT string_split(l, chr(9)) AS f FROM lines
         |  WHERE len(trim(l)) > 0 AND NOT starts_with(l, '@')),
         |reads AS (
         |  SELECT nullif(f[3], '*') AS chrom,
         |    nullif(CAST(f[4] AS BIGINT), 0) AS s,
         |    nullif(CAST(f[4] AS BIGINT), 0) + CAST(list_sum(
         |      list_transform(
         |        regexp_extract_all(f[6], '(\\d+)([MIDNSHP=X])', 0),
         |        tok -> CASE WHEN right(tok, 1) IN
         |            ('M', 'D', 'N', '=', 'X')
         |          THEN CAST(regexp_extract(tok, '(\\d+)', 1) AS BIGINT)
         |          ELSE 0 END)) AS BIGINT) - 1 AS e
         |  FROM a
         |  WHERE nullif(CAST(f[4] AS BIGINT), 0) IS NOT NULL
         |    AND (CAST(f[2] AS INT) & 256) = 0
         |    AND (CAST(f[2] AS INT) & 1024) = 0),
         |allsets AS (
         |  SELECT 'tx' AS st, seqname AS chrom, CAST(start AS BIGINT)
         |      AS s, CAST("end" AS BIGINT) AS e
         |  FROM ${pq("gtf")} WHERE feature = 'transcript'
         |  UNION ALL
         |  SELECT 'exons', chrom, CAST(start AS BIGINT),
         |    CAST("end" AS BIGINT)
         |  FROM ${pq("exons")}
         |  UNION ALL
         |  SELECT 'reads', chrom, s, e FROM reads),
         |o AS (
         |  SELECT st, chrom, s, e,
         |    max(e) OVER (PARTITION BY chrom, st ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |  FROM allsets),
         |i AS (
         |  SELECT st, chrom, s, e,
         |    sum(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY chrom, st ORDER BY s, e
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS island
         |  FROM o),
         |m AS (
         |  SELECT st, chrom, min(s) AS ms, max(e) AS me
         |  FROM i GROUP BY st, chrom, island),
         |bp AS (
         |  SELECT DISTINCT chrom, pos FROM (
         |    SELECT chrom, ms AS pos FROM m
         |    UNION ALL SELECT chrom, me + 1 FROM m)),
         |seg AS (
         |  SELECT chrom, pos AS s,
         |    lead(pos) OVER (PARTITION BY chrom ORDER BY pos) - 1 AS e
         |  FROM bp),
         |hit AS (
         |  SELECT g.chrom, g.s, g.e, m.st
         |  FROM seg g JOIN m ON g.chrom = m.chrom
         |    AND g.s <= m.me AND m.ms <= g.e
         |  WHERE g.e IS NOT NULL)
         |SELECT chrom, s AS start, e AS "end",
         |  CAST(count(*) AS BIGINT) AS n_sets,
         |  string_agg(st, ';' ORDER BY st) AS sets
         |FROM hit GROUP BY 1, 2, 3""".stripMargin,

    "g29_complement" ->
      s"""WITH iv AS (
         |  SELECT seqname AS chrom, CAST(start AS BIGINT) AS s,
         |    CAST("end" AS BIGINT) AS e
         |  FROM ${pq("gtf")} WHERE feature IN ('transcript', 'exon')),
         |bounds AS (
         |  SELECT seqname AS chrom, CAST(1 AS BIGINT) AS bs,
         |    max(CAST("end" AS BIGINT)) + 500 AS be
         |  FROM ${pq("gtf")} GROUP BY 1),
         |o AS (
         |  SELECT chrom, s, e,
         |    max(e) OVER (PARTITION BY chrom ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |  FROM iv),
         |m AS (
         |  SELECT chrom, min(s) AS ms, max(e) AS me
         |  FROM (
         |    SELECT chrom, s, e,
         |      sum(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY chrom ORDER BY s, e
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |        AS island
         |    FROM o)
         |  GROUP BY chrom, island),
         |clip AS (
         |  SELECT m.chrom, greatest(m.ms, b.bs) AS cs,
         |    least(m.me, b.be) AS ce, b.bs, b.be
         |  FROM m JOIN bounds b ON m.chrom = b.chrom
         |  WHERE greatest(m.ms, b.bs) <= least(m.me, b.be)),
         |gaps AS (
         |  SELECT chrom,
         |    coalesce(lag(ce) OVER (PARTITION BY chrom ORDER BY cs) + 1,
         |      bs) AS o_s,
         |    cs - 1 AS o_e
         |  FROM clip),
         |tails AS (
         |  SELECT chrom, max(ce) + 1 AS o_s, be AS o_e
         |  FROM clip GROUP BY chrom, be HAVING max(ce) < be),
         |empty AS (
         |  SELECT b.chrom, b.bs AS o_s, b.be AS o_e
         |  FROM bounds b WHERE NOT EXISTS (
         |    SELECT 1 FROM iv v WHERE v.chrom = b.chrom))
         |SELECT chrom, o_s AS start, o_e AS "end"
         |FROM (SELECT * FROM gaps WHERE o_s <= o_e
         |      UNION ALL SELECT * FROM tails
         |      UNION ALL SELECT * FROM empty)""".stripMargin,

    "g30_interval_jaccard" ->
      s"""WITH lines AS (
         |  SELECT unnest(string_split(content, chr(10))) AS l
         |  FROM read_text('$raw/aligned.sam')),
         |a AS (
         |  SELECT string_split(l, chr(9)) AS f FROM lines
         |  WHERE len(trim(l)) > 0 AND NOT starts_with(l, '@')),
         |reads AS (
         |  SELECT nullif(f[3], '*') AS chrom,
         |    nullif(CAST(f[4] AS BIGINT), 0) AS s,
         |    nullif(CAST(f[4] AS BIGINT), 0) + CAST(list_sum(
         |      list_transform(
         |        regexp_extract_all(f[6], '(\\d+)([MIDNSHP=X])', 0),
         |        tok -> CASE WHEN right(tok, 1) IN
         |            ('M', 'D', 'N', '=', 'X')
         |          THEN CAST(regexp_extract(tok, '(\\d+)', 1) AS BIGINT)
         |          ELSE 0 END)) AS BIGINT) - 1 AS e
         |  FROM a
         |  WHERE nullif(CAST(f[4] AS BIGINT), 0) IS NOT NULL
         |    AND (CAST(f[2] AS INT) & 256) = 0
         |    AND (CAST(f[2] AS INT) & 1024) = 0),
         |ex AS (
         |  SELECT chrom, CAST(start AS BIGINT) AS s,
         |    CAST("end" AS BIGINT) AS e
         |  FROM ${pq("exons")}),
         |ma AS (
         |  SELECT chrom, min(s) AS ms, max(e) AS me FROM (
         |    SELECT chrom, s, e,
         |      sum(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY chrom ORDER BY s, e
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |        AS island
         |    FROM (SELECT chrom, s, e,
         |        max(e) OVER (PARTITION BY chrom ORDER BY s, e
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |      FROM ex))
         |  GROUP BY chrom, island),
         |mb AS (
         |  SELECT chrom, min(s) AS ms, max(e) AS me FROM (
         |    SELECT chrom, s, e,
         |      sum(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY chrom ORDER BY s, e
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |        AS island
         |    FROM (SELECT chrom, s, e,
         |        max(e) OVER (PARTITION BY chrom ORDER BY s, e
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |      FROM reads))
         |  GROUP BY chrom, island),
         |inter AS (
         |  SELECT CAST(coalesce(sum(least(a.me, b.me) -
         |      greatest(a.ms, b.ms) + 1), 0) AS BIGINT) AS ibp,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM ma a JOIN mb b ON a.chrom = b.chrom
         |    AND a.ms <= b.me AND b.ms <= a.me),
         |la AS (SELECT CAST(coalesce(sum(me - ms + 1), 0) AS BIGINT)
         |  AS v FROM ma),
         |lb AS (SELECT CAST(coalesce(sum(me - ms + 1), 0) AS BIGINT)
         |  AS v FROM mb)
         |SELECT inter.ibp AS intersection_bp,
         |  la.v + lb.v - inter.ibp AS union_bp,
         |  round(inter.ibp / (la.v + lb.v - inter.ibp), 6) AS jaccard,
         |  inter.n AS n_intersections
         |FROM inter, la, lb""".stripMargin,

    "g24_target_breadth" ->
      s"""WITH lines AS (
         |  SELECT unnest(string_split(content, chr(10))) AS l
         |  FROM read_text('$raw/aligned.sam')),
         |a AS (
         |  SELECT string_split(l, chr(9)) AS f FROM lines
         |  WHERE len(trim(l)) > 0 AND NOT starts_with(l, '@')),
         |reads AS (
         |  SELECT nullif(f[3], '*') AS chrom,
         |    nullif(CAST(f[4] AS BIGINT), 0) AS s,
         |    nullif(CAST(f[4] AS BIGINT), 0) + CAST(list_sum(
         |      list_transform(
         |        regexp_extract_all(f[6], '(\\d+)([MIDNSHP=X])', 0),
         |        tok -> CASE WHEN right(tok, 1) IN
         |            ('M', 'D', 'N', '=', 'X')
         |          THEN CAST(regexp_extract(tok, '(\\d+)', 1) AS BIGINT)
         |          ELSE 0 END)) AS BIGINT) - 1 AS e
         |  FROM a
         |  WHERE nullif(CAST(f[4] AS BIGINT), 0) IS NOT NULL
         |    AND (CAST(f[2] AS INT) & 256) = 0
         |    AND (CAST(f[2] AS INT) & 1024) = 0),
         |ex AS (
         |  SELECT chrom, transcript_id, CAST(start AS BIGINT) AS start2,
         |    CAST("end" AS BIGINT) AS end2
         |  FROM ${pq("exons")}),
         |x AS (
         |  SELECT e.chrom, e.transcript_id, e.start2, e.end2,
         |    greatest(r.s, e.start2) AS cs, least(r.e, e.end2) AS ce
         |  FROM reads r JOIN ex e ON r.chrom = e.chrom
         |    AND r.s <= e.end2 AND e.start2 <= r.e),
         |ev AS (
         |  SELECT chrom, transcript_id, start2, end2, cs AS pos, 1 AS d
         |  FROM x
         |  UNION ALL
         |  SELECT chrom, transcript_id, start2, end2, ce + 1, -1 FROM x),
         |m AS (
         |  SELECT chrom, transcript_id, start2, end2, pos, sum(d) AS d
         |  FROM ev GROUP BY 1, 2, 3, 4, 5 HAVING sum(d) <> 0),
         |c AS (
         |  SELECT chrom, transcript_id, start2, end2, pos,
         |    sum(d) OVER (PARTITION BY chrom, transcript_id, start2,
         |      end2 ORDER BY pos) AS depth,
         |    lead(pos) OVER (PARTITION BY chrom, transcript_id, start2,
         |      end2 ORDER BY pos) AS nxt
         |  FROM m),
         |cov AS (
         |  SELECT chrom, transcript_id, start2, end2,
         |    sum(nxt - pos) AS covered
         |  FROM c WHERE depth > 0 AND nxt IS NOT NULL
         |  GROUP BY 1, 2, 3, 4)
         |SELECT e.chrom, e.transcript_id, e.start2, e.end2,
         |  CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_bases,
         |  round(CAST(coalesce(cov.covered, 0) AS DOUBLE)
         |    / (e.end2 - e.start2 + 1), 5) AS breadth
         |FROM ex e LEFT JOIN cov
         |  USING (chrom, transcript_id, start2, end2)""".stripMargin,

    "g8_reads_coverage" ->
      s"""WITH lines AS (
         |  SELECT unnest(string_split(content, chr(10))) AS l
         |  FROM read_text('$raw/aligned.sam')),
         |a AS (
         |  SELECT string_split(l, chr(9)) AS f FROM lines
         |  WHERE len(trim(l)) > 0 AND NOT starts_with(l, '@')),
         |reads AS (
         |  SELECT nullif(f[3], '*') AS chrom,
         |    nullif(CAST(f[4] AS BIGINT), 0) AS s,
         |    nullif(CAST(f[4] AS BIGINT), 0) + CAST(list_sum(
         |      list_transform(
         |        regexp_extract_all(f[6], '(\\d+)([MIDNSHP=X])', 0),
         |        tok -> CASE WHEN right(tok, 1) IN
         |            ('M', 'D', 'N', '=', 'X')
         |          THEN CAST(regexp_extract(tok, '(\\d+)', 1) AS BIGINT)
         |          ELSE 0 END)) AS BIGINT) - 1 AS e
         |  FROM a
         |  WHERE nullif(CAST(f[4] AS BIGINT), 0) IS NOT NULL
         |    AND (CAST(f[2] AS INT) & 256) = 0
         |    AND (CAST(f[2] AS INT) & 1024) = 0),
         |ev AS (
         |  SELECT chrom, s AS pos, 1 AS d FROM reads
         |  UNION ALL
         |  SELECT chrom, e + 1 AS pos, -1 AS d FROM reads),
         |m AS (
         |  SELECT chrom, pos, sum(d) AS d FROM ev GROUP BY 1, 2
         |  HAVING sum(d) <> 0),
         |c AS (
         |  SELECT chrom, pos,
         |    CAST(sum(d) OVER (PARTITION BY chrom ORDER BY pos)
         |      AS BIGINT) AS depth,
         |    lead(pos) OVER (PARTITION BY chrom ORDER BY pos) AS nxt
         |  FROM m)
         |SELECT chrom, pos AS seg_start, nxt - 1 AS seg_end, depth
         |FROM c WHERE depth > 0 AND nxt IS NOT NULL""".stripMargin,

    "f10_fastq_read" ->
      s"""WITH t AS (
         |  SELECT string_split(rtrim(content, chr(10)), chr(10)) AS ls
         |  FROM read_text('$raw/reads.fastq')),
         |l AS (
         |  SELECT unnest(ls) AS line, unnest(range(0, len(ls))) AS i
         |  FROM t),
         |g AS (
         |  SELECT i // 4 AS rec,
         |    max(CASE WHEN i % 4 = 0 THEN line END) AS h,
         |    max(CASE WHEN i % 4 = 1 THEN line END) AS sequence,
         |    max(CASE WHEN i % 4 = 2 THEN line END) AS plus,
         |    max(CASE WHEN i % 4 = 3 THEN line END) AS quality
         |  FROM l GROUP BY 1)
         |SELECT rec, regexp_extract(h, '^@(\\S*)', 1) AS read_id,
         |  nullif(regexp_extract(h, '^@\\S*\\s+(.*)$$', 1), '')
         |    AS description,
         |  sequence, quality,
         |  (starts_with(h, '@') AND starts_with(plus, '+')
         |    AND length(sequence) = length(quality)) AS well_formed
         |FROM g""".stripMargin,

    "f11_fastq_write" ->
      s"""WITH t AS (
         |  SELECT string_split(rtrim(content, chr(10)), chr(10)) AS ls
         |  FROM read_text('$raw/reads.fastq')),
         |l AS (
         |  SELECT unnest(ls) AS line, unnest(range(0, len(ls))) AS i
         |  FROM t),
         |g AS (
         |  SELECT i // 4 AS rec0,
         |    max(CASE WHEN i % 4 = 0 THEN line END) AS h,
         |    max(CASE WHEN i % 4 = 1 THEN line END) AS sequence,
         |    max(CASE WHEN i % 4 = 2 THEN line END) AS plus,
         |    max(CASE WHEN i % 4 = 3 THEN line END) AS quality
         |  FROM l GROUP BY 1),
         |wf AS (
         |  SELECT * FROM g
         |  WHERE starts_with(h, '@') AND starts_with(plus, '+')
         |    AND length(sequence) = length(quality))
         |SELECT row_number() OVER (ORDER BY rec0) - 1 AS rec,
         |  regexp_extract(h, '^@(\\S*)', 1) AS read_id,
         |  nullif(regexp_extract(h, '^@\\S*\\s+(.*)$$', 1), '')
         |    AS description,
         |  sequence, quality, TRUE AS well_formed
         |FROM wf""".stripMargin,

    "g9_flagstat" ->
      s"""WITH lines AS (
         |  SELECT unnest(string_split(content, chr(10))) AS l
         |  FROM read_text('$raw/aligned.sam')),
         |a AS (
         |  SELECT string_split(l, chr(9)) AS f FROM lines
         |  WHERE len(trim(l)) > 0 AND NOT starts_with(l, '@')),
         |p AS (
         |  SELECT CAST(f[2] AS INT) AS flag, nullif(f[3], '*') AS rname,
         |    nullif(f[7], '*') AS rnext
         |  FROM a),
         |x AS (
         |  SELECT count(*) AS c_total,
         |    sum(CASE WHEN (flag & 256) <> 0 THEN 1 ELSE 0 END)
         |      AS c_secondary,
         |    sum(CASE WHEN (flag & 2048) <> 0 THEN 1 ELSE 0 END)
         |      AS c_supplementary,
         |    sum(CASE WHEN (flag & 1024) <> 0 THEN 1 ELSE 0 END)
         |      AS c_duplicates,
         |    sum(CASE WHEN (flag & 4) = 0 THEN 1 ELSE 0 END) AS c_mapped,
         |    sum(CASE WHEN (flag & 1) <> 0 THEN 1 ELSE 0 END) AS c_paired,
         |    sum(CASE WHEN (flag & 1) <> 0 AND (flag & 64) <> 0
         |      THEN 1 ELSE 0 END) AS c_read1,
         |    sum(CASE WHEN (flag & 1) <> 0 AND (flag & 128) <> 0
         |      THEN 1 ELSE 0 END) AS c_read2,
         |    sum(CASE WHEN (flag & 1) <> 0 AND (flag & 2) <> 0
         |      AND (flag & 4) = 0 THEN 1 ELSE 0 END) AS c_properly,
         |    sum(CASE WHEN (flag & 1) <> 0 AND (flag & 4) = 0
         |      AND (flag & 8) = 0 THEN 1 ELSE 0 END) AS c_matemapped,
         |    sum(CASE WHEN (flag & 1) <> 0 AND (flag & 4) = 0
         |      AND (flag & 8) <> 0 THEN 1 ELSE 0 END) AS c_singletons,
         |    sum(CASE WHEN (flag & 1) <> 0 AND (flag & 4) = 0
         |      AND (flag & 8) = 0 AND rnext IS NOT NULL AND rnext <> '='
         |      AND rnext <> rname THEN 1 ELSE 0 END) AS c_diffchrom
         |  FROM p)
         |SELECT m.metric, CAST(m.n AS BIGINT) AS n_reads FROM x,
         |  LATERAL (VALUES
         |    ('total', c_total), ('secondary', c_secondary),
         |    ('supplementary', c_supplementary),
         |    ('duplicates', c_duplicates), ('mapped', c_mapped),
         |    ('paired', c_paired), ('read1', c_read1),
         |    ('read2', c_read2), ('properly_paired', c_properly),
         |    ('with_itself_and_mate_mapped', c_matemapped),
         |    ('singletons', c_singletons),
         |    ('mate_diff_chrom', c_diffchrom)) AS m(metric, n)""".stripMargin,

    "g23_read_stats" ->
      s"""WITH lines AS (
         |  SELECT unnest(string_split(content, chr(10))) AS l
         |  FROM read_text('$raw/aligned.sam')),
         |a AS (
         |  SELECT string_split(l, chr(9)) AS f FROM lines
         |  WHERE len(trim(l)) > 0 AND NOT starts_with(l, '@')),
         |p AS (
         |  SELECT CAST(f[2] AS INT) AS flag,
         |    CAST(f[4] AS BIGINT) AS pos, CAST(f[5] AS INT) AS mapq,
         |    CAST(f[9] AS BIGINT) AS tlen, nullif(f[10], '*') AS seq
         |  FROM a)
         |SELECT
         |  CAST(sum(CASE WHEN (flag & 256) = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_primary,
         |  CAST(sum(CASE WHEN (flag & 256) = 0 AND (flag & 4) = 0
         |    AND pos <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mapped,
         |  CAST(sum(CASE WHEN (flag & 256) = 0 AND seq IS NOT NULL
         |    THEN len(seq) ELSE 0 END) AS BIGINT) AS total_bases,
         |  round(avg(CASE WHEN (flag & 256) = 0 AND seq IS NOT NULL
         |    THEN len(seq) END), 2) AS avg_read_len,
         |  round(avg(CASE WHEN (flag & 256) = 0 AND (flag & 4) = 0
         |    THEN mapq END), 2) AS avg_mapq,
         |  round(avg(CASE WHEN (flag & 256) = 0 AND (flag & 2) <> 0
         |    AND tlen IS NOT NULL AND tlen > 0 THEN tlen END), 2)
         |    AS avg_insert_size
         |FROM p""".stripMargin,

    "g12_pileup_bases" ->
      s"""WITH lines AS (
         |  SELECT unnest(string_split(content, chr(10))) AS l
         |  FROM read_text('$raw/aligned.sam')),
         |a AS (
         |  SELECT string_split(l, chr(9)) AS f FROM lines
         |  WHERE len(trim(l)) > 0 AND NOT starts_with(l, '@')),
         |reads AS (
         |  SELECT nullif(f[3], '*') AS chrom,
         |    nullif(CAST(f[4] AS BIGINT), 0) AS rpos,
         |    f[6] AS cigar, nullif(f[10], '*') AS seq,
         |    regexp_extract_all(f[6], '(\\d+)([MIDNSHP=X])', 0) AS ops
         |  FROM a
         |  WHERE nullif(CAST(f[4] AS BIGINT), 0) IS NOT NULL
         |    AND (CAST(f[2] AS INT) & 256) = 0
         |    AND (CAST(f[2] AS INT) & 1024) = 0
         |    AND f[6] <> '*' AND f[10] <> '*'),
         |o AS (
         |  SELECT chrom, rpos, seq, ops,
         |    unnest(range(1, len(ops) + 1)) AS oi
         |  FROM reads),
         |seg AS (
         |  SELECT chrom, rpos, seq,
         |    right(ops[oi], 1) AS op,
         |    CAST(regexp_extract(ops[oi], '(\\d+)', 1) AS BIGINT)
         |      AS oplen,
         |    coalesce(list_sum([CASE WHEN right(ops[j], 1)
         |        IN ('M', 'D', 'N', '=', 'X')
         |      THEN CAST(regexp_extract(ops[j], '(\\d+)', 1) AS BIGINT)
         |      ELSE 0 END for j in range(1, oi)]), 0) AS refoff,
         |    coalesce(list_sum([CASE WHEN right(ops[j], 1)
         |        IN ('M', 'I', 'S', '=', 'X')
         |      THEN CAST(regexp_extract(ops[j], '(\\d+)', 1) AS BIGINT)
         |      ELSE 0 END for j in range(1, oi)]), 0) AS readoff
         |  FROM o),
         |b AS (
         |  SELECT chrom, CAST(rpos + refoff + k AS BIGINT) AS pos,
         |    upper(substr(seq, CAST(readoff + k + 1 AS INT), 1)) AS base
         |  FROM (SELECT *, unnest(range(0, oplen)) AS k FROM seg
         |        WHERE op IN ('M', '=', 'X')))
         |SELECT chrom, pos,
         |  CAST(sum(CASE WHEN base = 'A' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_a,
         |  CAST(sum(CASE WHEN base = 'C' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_c,
         |  CAST(sum(CASE WHEN base = 'G' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_g,
         |  CAST(sum(CASE WHEN base = 'T' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_t,
         |  count(*) AS depth
         |FROM b GROUP BY chrom, pos""".stripMargin,

    "g13_variant_calls" ->
      s"""WITH lines AS (
         |  SELECT unnest(string_split(content, chr(10))) AS l
         |  FROM read_text('$raw/aligned.sam')),
         |a AS (
         |  SELECT string_split(l, chr(9)) AS f FROM lines
         |  WHERE len(trim(l)) > 0 AND NOT starts_with(l, '@')),
         |reads AS (
         |  SELECT nullif(f[3], '*') AS chrom,
         |    nullif(CAST(f[4] AS BIGINT), 0) AS rpos,
         |    f[6] AS cigar, nullif(f[10], '*') AS seq,
         |    regexp_extract_all(f[6], '(\\d+)([MIDNSHP=X])', 0) AS ops
         |  FROM a
         |  WHERE nullif(CAST(f[4] AS BIGINT), 0) IS NOT NULL
         |    AND (CAST(f[2] AS INT) & 256) = 0
         |    AND (CAST(f[2] AS INT) & 1024) = 0
         |    AND f[6] <> '*' AND f[10] <> '*'),
         |o AS (
         |  SELECT chrom, rpos, seq, ops,
         |    unnest(range(1, len(ops) + 1)) AS oi
         |  FROM reads),
         |seg AS (
         |  SELECT chrom, rpos, seq,
         |    right(ops[oi], 1) AS op,
         |    CAST(regexp_extract(ops[oi], '(\\d+)', 1) AS BIGINT)
         |      AS oplen,
         |    coalesce(list_sum([CASE WHEN right(ops[j], 1)
         |        IN ('M', 'D', 'N', '=', 'X')
         |      THEN CAST(regexp_extract(ops[j], '(\\d+)', 1) AS BIGINT)
         |      ELSE 0 END for j in range(1, oi)]), 0) AS refoff,
         |    coalesce(list_sum([CASE WHEN right(ops[j], 1)
         |        IN ('M', 'I', 'S', '=', 'X')
         |      THEN CAST(regexp_extract(ops[j], '(\\d+)', 1) AS BIGINT)
         |      ELSE 0 END for j in range(1, oi)]), 0) AS readoff
         |  FROM o),
         |b AS (
         |  SELECT chrom, CAST(rpos + refoff + k AS BIGINT) AS pos,
         |    upper(substr(seq, CAST(readoff + k + 1 AS INT), 1)) AS base
         |  FROM (SELECT *, unnest(range(0, oplen)) AS k FROM seg
         |        WHERE op IN ('M', '=', 'X'))),
         |p AS (
         |  SELECT chrom, pos,
         |    CAST(sum(CASE WHEN base = 'A' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(sum(CASE WHEN base = 'C' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_c,
         |    CAST(sum(CASE WHEN base = 'G' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_g,
         |    CAST(sum(CASE WHEN base = 'T' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_t,
         |    count(*) AS depth
         |  FROM b GROUP BY chrom, pos),
         |j AS (
         |  SELECT p.*, r.ref FROM p
         |  JOIN ${pq("ref_bases")} r USING (chrom, pos)),
         |u AS (
         |  SELECT chrom, pos, ref, depth, unnest([
         |    struct_pack(cnt := CASE WHEN upper(ref) = 'A'
         |      THEN CAST(-1 AS BIGINT) ELSE n_a END, base := 'A'),
         |    struct_pack(cnt := CASE WHEN upper(ref) = 'C'
         |      THEN CAST(-1 AS BIGINT) ELSE n_c END, base := 'C'),
         |    struct_pack(cnt := CASE WHEN upper(ref) = 'G'
         |      THEN CAST(-1 AS BIGINT) ELSE n_g END, base := 'G'),
         |    struct_pack(cnt := CASE WHEN upper(ref) = 'T'
         |      THEN CAST(-1 AS BIGINT) ELSE n_t END, base := 'T')
         |  ]) AS cand FROM j),
         |m AS (
         |  SELECT chrom, pos, ref, depth, max(cand) AS alt
         |  FROM u GROUP BY chrom, pos, ref, depth)
         |SELECT chrom, pos, ref, alt.base AS alt, depth,
         |  alt.cnt AS alt_count,
         |  round(alt.cnt::DOUBLE / depth, 5) AS vaf
         |FROM m
         |WHERE depth >= 2 AND alt.cnt > 0
         |  AND alt.cnt::DOUBLE / depth >= 0.5""".stripMargin,

    "g14_feature_counts" ->
      s"""WITH lines AS (
         |  SELECT unnest(string_split(content, chr(10))) AS l
         |  FROM read_text('$raw/aligned.sam')),
         |a AS (
         |  SELECT string_split(l, chr(9)) AS f FROM lines
         |  WHERE len(trim(l)) > 0 AND NOT starts_with(l, '@')),
         |reads AS (
         |  SELECT f[1] AS qname, nullif(f[3], '*') AS chrom,
         |    nullif(CAST(f[4] AS BIGINT), 0) AS s,
         |    nullif(CAST(f[4] AS BIGINT), 0) + CAST(list_sum(
         |      list_transform(
         |        regexp_extract_all(f[6], '(\\d+)([MIDNSHP=X])', 0),
         |        tok -> CASE WHEN right(tok, 1) IN
         |            ('M', 'D', 'N', '=', 'X')
         |          THEN CAST(regexp_extract(tok, '(\\d+)', 1) AS BIGINT)
         |          ELSE 0 END)) AS BIGINT) - 1 AS e
         |  FROM a
         |  WHERE nullif(CAST(f[4] AS BIGINT), 0) IS NOT NULL
         |    AND (CAST(f[2] AS INT) & 256) = 0
         |    AND (CAST(f[2] AS INT) & 1024) = 0)
         |SELECT x.transcript_id, count(DISTINCT r.qname) AS n_reads
         |FROM reads r JOIN ${pq("exons")} x
         |  ON r.chrom = x.chrom AND r.s <= x."end" AND x.start <= r.e
         |GROUP BY x.transcript_id""".stripMargin,

    "g15_kmer_spectrum" ->
      s"""WITH t AS (
         |  SELECT string_split(rtrim(content, chr(10)), chr(10)) AS ls
         |  FROM read_text('$raw/reads.fastq')),
         |l AS (
         |  SELECT unnest(ls) AS line, unnest(range(0, len(ls))) AS i
         |  FROM t),
         |g AS (
         |  SELECT max(CASE WHEN i % 4 = 0 THEN line END) AS h,
         |    max(CASE WHEN i % 4 = 1 THEN line END) AS sequence,
         |    max(CASE WHEN i % 4 = 2 THEN line END) AS plus,
         |    max(CASE WHEN i % 4 = 3 THEN line END) AS quality
         |  FROM l GROUP BY i // 4),
         |r AS (
         |  SELECT upper(sequence) AS s FROM g
         |  WHERE starts_with(h, '@') AND starts_with(plus, '+')
         |    AND length(sequence) = length(quality)),
         |km AS (
         |  SELECT unnest([substr(s, CAST(i AS INT), 5)
         |    for i in range(1, len(s) - 3)]) AS k5
         |  FROM r WHERE len(s) >= 5),
         |canon AS (
         |  SELECT least(k5,
         |    reverse(translate(k5, 'ACGT', 'TGCA'))) AS kmer
         |  FROM km WHERE regexp_matches(k5, '^[ACGT]+$$')),
         |c AS (SELECT kmer, count(*) AS cnt FROM canon GROUP BY 1)
         |SELECT cnt AS multiplicity, count(*) AS n_kmers
         |FROM c GROUP BY 1""".stripMargin,

    "g10_vcf_stats" ->
      s"""WITH c AS (
         |  SELECT chrom,
         |    count(*) AS n_variants,
         |    sum(CASE WHEN length(ref) = 1 AND length(alt) = 1
         |      THEN 1 ELSE 0 END) AS n_snp,
         |    sum(CASE WHEN length(alt) > length(ref)
         |      THEN 1 ELSE 0 END) AS n_ins,
         |    sum(CASE WHEN length(alt) < length(ref)
         |      THEN 1 ELSE 0 END) AS n_del,
         |    sum(CASE WHEN length(alt) = length(ref) AND length(ref) > 1
         |      THEN 1 ELSE 0 END) AS n_mnp,
         |    sum(CASE WHEN (ref = 'A' AND alt = 'G')
         |      OR (ref = 'G' AND alt = 'A') OR (ref = 'C' AND alt = 'T')
         |      OR (ref = 'T' AND alt = 'C') THEN 1 ELSE 0 END) AS n_ti,
         |    sum(CASE WHEN length(ref) = 1 AND length(alt) = 1
         |      AND NOT ((ref = 'A' AND alt = 'G')
         |        OR (ref = 'G' AND alt = 'A')
         |        OR (ref = 'C' AND alt = 'T')
         |        OR (ref = 'T' AND alt = 'C'))
         |      THEN 1 ELSE 0 END) AS n_tv
         |  FROM ${pq("vcf_norm")} GROUP BY chrom)
         |SELECT chrom, CAST(n_variants AS BIGINT) AS n_variants,
         |  CAST(n_snp AS BIGINT) AS n_snp, CAST(n_ins AS BIGINT) AS n_ins,
         |  CAST(n_del AS BIGINT) AS n_del, CAST(n_mnp AS BIGINT) AS n_mnp,
         |  CAST(n_ti AS BIGINT) AS n_ti, CAST(n_tv AS BIGINT) AS n_tv,
         |  CASE WHEN n_tv > 0
         |    THEN round(n_ti::DOUBLE / n_tv, 5) END AS ti_tv
         |FROM c""".stripMargin,

    "g11_mendel" ->
      s"""WITH g AS (
         |  SELECT chrom, pos, id,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |d AS (
         |  SELECT id AS "varId", chrom, pos, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE CAST(len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) AS INT) END AS dd
         |  FROM g),
         |d2 AS (SELECT * FROM d WHERE dd IS NOT NULL),
         |t(child, mother, father) AS (
         |  VALUES ('S3', 'S1', 'S4'), ('S6', 'S5', 'S3'))
         |SELECT c."varId", c.chrom, c.pos, t.child,
         |  c.dd AS child_dose, m.dd AS mother_dose, f.dd AS father_dose,
         |  (c.dd < ((CASE WHEN m.dd = 2 THEN 1 ELSE 0 END)
         |      + (CASE WHEN f.dd = 2 THEN 1 ELSE 0 END))
         |    OR c.dd > ((CASE WHEN m.dd >= 1 THEN 1 ELSE 0 END)
         |      + (CASE WHEN f.dd >= 1 THEN 1 ELSE 0 END))) AS violation
         |FROM d2 c JOIN t ON c.sample = t.child
         |JOIN d2 m ON m."varId" = c."varId" AND m.sample = t.mother
         |JOIN d2 f ON f."varId" = c."varId" AND f.sample = t.father""".stripMargin,

    // g47: the dd dosage chain, Nei-corrected per-variant E terms
    // quantized to 1e-9 longs (the pinned-order double contract), exact
    // integer per-sample sums, then the two final divides + nudged
    // round the Spark side replays verbatim.
    "g47_het" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |dd AS (
         |  SELECT vid, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |vs AS (
         |  SELECT vid, CAST(sum(dd) AS BIGINT) AS ac,
         |    CAST(2 * count(dd) AS BIGINT) AS an
         |  FROM dd WHERE dd IS NOT NULL GROUP BY vid),
         |e AS (
         |  SELECT vid, CAST(floor((1.0
         |      - 2.0 * (CAST(ac AS DOUBLE) / CAST(an AS DOUBLE))
         |      * (1.0 - CAST(ac AS DOUBLE) / CAST(an AS DOUBLE))
         |      * (CAST(an AS DOUBLE) / (CAST(an AS DOUBLE) - 1.0)))
         |      * 1e9 + 0.5) AS BIGINT) AS e9
         |  FROM vs),
         |ps AS (
         |  SELECT d.sample,
         |    CAST(count(*) AS BIGINT) AS n_nm,
         |    CAST(sum(CASE WHEN d.dd <> 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS o_hom,
         |    CAST(sum(e.e9) AS BIGINT) AS e9s
         |  FROM dd d JOIN e USING (vid)
         |  WHERE d.dd IS NOT NULL
         |  GROUP BY 1)
         |SELECT sample, o_hom,
         |  round(e9s / 1e9 + 1e-9, 5) AS e_hom,
         |  n_nm,
         |  CASE WHEN n_nm * 1000000000 = e9s THEN NULL
         |    ELSE round((o_hom - e9s / 1e9) / (n_nm - e9s / 1e9)
         |      + 1e-9, 5) + 0.0
         |  END AS f
         |FROM ps""".stripMargin,

    "g16_hwe" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid, chrom, pos,
         |    unnest(genotypes) AS gt
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |d AS (
         |  SELECT vid, chrom, pos,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |c AS (
         |  SELECT vid, chrom, pos, CAST(count(*) AS BIGINT) AS n_called,
         |    CAST(sum(CASE WHEN dd = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hom_ref,
         |    CAST(sum(CASE WHEN dd = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_het,
         |    CAST(sum(CASE WHEN dd = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hom_alt
         |  FROM d WHERE dd IS NOT NULL GROUP BY 1, 2, 3),
         |p AS (
         |  SELECT *, CAST(n_called AS DOUBLE) AS n,
         |    (n_hom_alt * 2 + n_het) / (CAST(n_called AS DOUBLE) * 2) AS pa
         |  FROM c)
         |SELECT vid AS "varId", chrom, pos, n_called, n_hom_ref, n_het,
         |  n_hom_alt,
         |  round(least(pa, 1 - pa), 5) AS maf,
         |  round(n_het / n, 5) AS obs_het,
         |  round(2.0 * pa * (1 - pa), 5) AS exp_het,
         |  CASE WHEN n_hom_alt * 2 + n_het > 0
         |      AND n_hom_ref * 2 + n_het > 0 THEN
         |    round((n_hom_ref - n * (1 - pa) * (1 - pa))
         |        * (n_hom_ref - n * (1 - pa) * (1 - pa))
         |        / (n * (1 - pa) * (1 - pa))
         |      + (n_het - n * 2.0 * pa * (1 - pa))
         |        * (n_het - n * 2.0 * pa * (1 - pa))
         |        / (n * 2.0 * pa * (1 - pa))
         |      + (n_hom_alt - n * pa * pa)
         |        * (n_hom_alt - n * pa * pa)
         |        / (n * pa * pa), 5)
         |  END AS chi2
         |FROM p""".stripMargin,

    "g38_froh" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid, chrom, pos,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |d AS (
         |  SELECT vid, chrom, pos, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |r AS (
         |  SELECT sample, chrom, pos, vid, dd,
         |    row_number() OVER (PARTITION BY sample, chrom
         |      ORDER BY pos, vid) AS rn
         |  FROM d WHERE dd IS NOT NULL),
         |h AS (
         |  SELECT *, rn - row_number() OVER (PARTITION BY sample, chrom
         |      ORDER BY pos, vid) AS grp
         |  FROM r WHERE dd IN (0, 2)),
         |runs AS (
         |  SELECT sample, min(pos) AS rs, max(pos) AS re
         |  FROM h GROUP BY sample, chrom, grp
         |  HAVING count(*) >= 2),
         |per AS (
         |  SELECT sample, CAST(count(*) AS BIGINT) AS n_segments,
         |    CAST(sum(re - rs + 1) AS BIGINT) AS roh_bp
         |  FROM runs GROUP BY sample),
         |sp AS (
         |  SELECT sum(l) AS span FROM (
         |    SELECT max(pos) - min(pos) + 1 AS l FROM d GROUP BY chrom)),
         |smp AS (SELECT DISTINCT sample FROM d)
         |SELECT smp.sample,
         |  coalesce(per.n_segments, 0) AS n_segments,
         |  coalesce(per.roh_bp, 0) AS roh_bp,
         |  round(coalesce(per.roh_bp, 0) / sp.span, 5) AS froh
         |FROM smp LEFT JOIN per USING (sample), sp""".stripMargin,

    "g17_roh" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid, chrom, pos,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |d AS (
         |  SELECT vid, chrom, pos, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |r AS (
         |  SELECT sample, chrom, pos, vid, dd,
         |    row_number() OVER (PARTITION BY sample, chrom
         |      ORDER BY pos, vid) AS rn
         |  FROM d WHERE dd IS NOT NULL),
         |h AS (
         |  SELECT *, rn - row_number() OVER (PARTITION BY sample, chrom
         |      ORDER BY pos, vid) AS grp
         |  FROM r WHERE dd IN (0, 2))
         |SELECT sample, chrom, min(pos) AS run_start, max(pos) AS run_end,
         |  CAST(count(*) AS BIGINT) AS n_hom
         |FROM h GROUP BY sample, chrom, grp
         |HAVING count(*) >= 2""".stripMargin,

    "g18_concordance" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid, chrom, pos,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")}),
         |d AS (
         |  SELECT vid, pos, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |l AS (SELECT vid, sample, dd FROM d WHERE dd IS NOT NULL),
         |r AS (
         |  SELECT vid, sample,
         |    CASE WHEN pos % 7 = 0 THEN 2 ELSE dd END AS dd
         |  FROM d WHERE pos % 5 <> 0
         |    AND (dd IS NOT NULL OR pos % 7 = 0)),
         |j AS (
         |  SELECT coalesce(l.sample, r.sample) AS sample,
         |    l.dd AS dl, r.dd AS dr
         |  FROM l FULL OUTER JOIN r
         |    ON l.vid = r.vid AND l.sample = r.sample),
         |c AS (
         |  SELECT sample,
         |    CAST(sum(CASE WHEN dl IS NOT NULL AND dr IS NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_left_only,
         |    CAST(sum(CASE WHEN dl IS NULL AND dr IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_right_only,
         |    CAST(sum(CASE WHEN dl = dr THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_concordant,
         |    CAST(sum(CASE WHEN dl IS NOT NULL AND dr IS NOT NULL
         |      AND dl <> dr THEN 1 ELSE 0 END) AS BIGINT) AS n_discordant
         |  FROM j GROUP BY 1)
         |SELECT *,
         |  CASE WHEN n_concordant + n_discordant > 0 THEN
         |    round(CAST(n_concordant AS DOUBLE)
         |      / (n_concordant + n_discordant), 5)
         |  END AS concordance
         |FROM c""".stripMargin,

    "g28_sex_check" ->
      s"""WITH g AS (
         |  SELECT unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")}
         |  WHERE chrom = 'X' AND pos > 15 AND pos < 100),
         |d AS (
         |  SELECT 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |c AS (
         |  SELECT sample, CAST(count(*) AS BIGINT) AS n_called,
         |    CAST(sum(CASE WHEN dd = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_het
         |  FROM d WHERE dd IS NOT NULL GROUP BY 1),
         |r AS (
         |  SELECT sample, n_called, n_het,
         |    round(CAST(n_het AS DOUBLE) / n_called, 5) AS het_rate
         |  FROM c)
         |SELECT r.sample, n_called, n_het, het_rate,
         |  CASE WHEN het_rate <= 0.2 THEN 'male' ELSE 'female' END
         |    AS inferred_sex,
         |  m.sex AS declared_sex,
         |  m.sex IS NOT NULL AND m.sex <>
         |    CASE WHEN het_rate <= 0.2 THEN 'male' ELSE 'female' END
         |    AS mismatch
         |FROM r LEFT JOIN ${pq("samples_meta")} m USING (sample)"""
        .stripMargin,

    "g31_ibs" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |dd AS (
         |  SELECT vid, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |p AS (
         |  SELECT a.sample AS sample_a, b.sample AS sample_b,
         |    abs(a.dd - b.dd) AS df
         |  FROM dd a JOIN dd b
         |    ON a.vid = b.vid AND a.sample < b.sample
         |  WHERE a.dd IS NOT NULL AND b.dd IS NOT NULL),
         |c AS (
         |  SELECT sample_a, sample_b,
         |    CAST(count(*) AS BIGINT) AS n_sites,
         |    CAST(sum(CASE WHEN df = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ibs0,
         |    CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ibs1,
         |    CAST(sum(CASE WHEN df = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ibs2
         |  FROM p GROUP BY 1, 2)
         |SELECT sample_a, sample_b, n_sites, ibs0, ibs1, ibs2,
         |  round((ibs2 + 0.5 * ibs1) / n_sites, 5) AS dst
         |FROM c""".stripMargin,

    "g32_grm" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |dd AS (
         |  SELECT vid, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |st AS (
         |  SELECT vid, sum(dd) / (2.0 * count(dd)) AS p
         |  FROM dd GROUP BY vid
         |  HAVING sum(dd) / (2.0 * count(dd)) > 0
         |     AND sum(dd) / (2.0 * count(dd)) < 1),
         |z AS (
         |  SELECT dd.vid, dd.sample,
         |    CAST(round((CASE WHEN dd.dd IS NULL THEN 0.0
         |      ELSE (dd.dd - 2.0 * st.p)
         |           / sqrt(2.0 * st.p * (1.0 - st.p)) END) * 1e6)
         |      AS BIGINT) AS z6
         |  FROM dd JOIN st USING (vid))
         |SELECT a.sample AS sample_a, b.sample AS sample_b,
         |  round(CAST(sum(a.z6 * b.z6) AS DOUBLE) / 1e12
         |    / (SELECT count(*) FROM st), 5) AS grm
         |FROM z a JOIN z b ON a.vid = b.vid AND a.sample <= b.sample
         |GROUP BY 1, 2""".stripMargin,

    // g46: the g32 GRM chain, then the power-iteration walk replayed as
    // a recursive CTE over the quantized-long state vector — exact
    // HUGEINT matmul/norm sums, the identical pinned double ops (one
    // sqrt + one divide per row per round), floor(x+0.5) nearest. The
    // single-correction deflation form is IEEE-identical to the Spark
    // side's sequential subtraction only for topK <= 2 (one prior).
    "g46_grm_pca" ->
      s"""WITH RECURSIVE g AS (
         |  SELECT id || ':' || alt AS vid,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |dd AS (
         |  SELECT vid, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |st AS (
         |  SELECT vid, sum(dd) / (2.0 * count(dd)) AS p
         |  FROM dd GROUP BY vid
         |  HAVING sum(dd) / (2.0 * count(dd)) > 0
         |     AND sum(dd) / (2.0 * count(dd)) < 1),
         |z AS (
         |  SELECT dd.vid, dd.sample,
         |    CAST(round((CASE WHEN dd.dd IS NULL THEN 0.0
         |      ELSE (dd.dd - 2.0 * st.p)
         |           / sqrt(2.0 * st.p * (1.0 - st.p)) END) * 1e6)
         |      AS BIGINT) AS z6
         |  FROM dd JOIN st USING (vid)),
         |pairs AS MATERIALIZED (
         |  SELECT a.sample AS sa, b.sample AS sb,
         |    CAST(floor(round(CAST(sum(a.z6 * b.z6) AS DOUBLE) / 1e12
         |      / (SELECT count(*) FROM st), 5) * 1e5 + 0.5) AS BIGINT)
         |      AS g5
         |  FROM z a JOIN z b ON a.vid = b.vid AND a.sample <= b.sample
         |  GROUP BY 1, 2),
         |sym AS (
         |  SELECT sa, sb, g5 FROM pairs
         |  UNION ALL
         |  SELECT sb, sa, g5 FROM pairs WHERE sa <> sb),
         |rk AS MATERIALIZED (
         |  SELECT sample, row_number() OVER (ORDER BY sample) - 1 AS rank
         |  FROM (SELECT DISTINCT sa AS sample FROM sym)),
         |mm AS MATERIALIZED (
         |  SELECT list(r ORDER BY i) AS m, count(*) AS s FROM (
         |    SELECT ri.rank AS i, list(sy.g5 ORDER BY rj.rank) AS r
         |    FROM sym sy JOIN rk ri ON sy.sa = ri.sample
         |                JOIN rk rj ON sy.sb = rj.sample
         |    GROUP BY ri.rank)),
         |r0 AS (
         |  SELECT sample, rank,
         |    (rank * 2654435761) % 1000 + 500 AS raw3
         |  FROM rk),
         |v0c AS MATERIALIZED (
         |  SELECT list(CAST(floor(CAST(raw3 AS DOUBLE)
         |      / sqrt((SELECT CAST(sum(r2.raw3 * r2.raw3) AS DOUBLE)
         |              FROM r0 r2))
         |      * 1e9 + 0.5) AS BIGINT) ORDER BY rank) AS v0,
         |    list(sample ORDER BY rank) AS names
         |  FROM r0),
         |walk AS (
         |  SELECT 1 AS k, 0 AS it,
         |    (SELECT v0 FROM v0c) AS v,
         |    CAST(0 AS BIGINT) AS lastlam,
         |    CAST([] AS BIGINT[]) AS lams,
         |    CAST([] AS BIGINT[][]) AS prevs
         |  UNION ALL
         |  SELECT
         |    CASE WHEN t.it >= $G46Iters THEN t.k + 1 ELSE t.k END AS k,
         |    CASE WHEN t.it >= $G46Iters THEN 0 ELSE t.it + 1 END AS it,
         |    CASE WHEN t.it >= $G46Iters THEN (SELECT v0 FROM v0c)
         |      ELSE list_transform(t.wq, x ->
         |        CAST(floor(CAST(x AS DOUBLE) / t.nrm * 1e9 + 0.5)
         |          AS BIGINT)) END AS v,
         |    CASE WHEN t.it >= $G46Iters THEN CAST(0 AS BIGINT)
         |      ELSE CAST(floor(t.nrm / 1e9 + 0.5) AS BIGINT)
         |      END AS lastlam,
         |    CASE WHEN t.it >= $G46Iters THEN list_append(t.lams, t.lastlam)
         |      ELSE t.lams END AS lams,
         |    CASE WHEN t.it >= $G46Iters THEN list_append(t.prevs, t.fv)
         |      ELSE t.prevs END AS prevs
         |  FROM (
         |    SELECT u.*,
         |      CASE WHEN u.it < $G46Iters THEN
         |        sqrt(CAST(list_reduce(list_transform(u.wq, x ->
         |          CAST(x AS HUGEINT) * x), (a, b) -> a + b) AS DOUBLE))
         |      END AS nrm,
         |      CASE WHEN u.it >= $G46Iters THEN
         |        CASE WHEN u.v[list_position(
         |            list_transform(u.v, x -> abs(x)),
         |            list_max(list_transform(u.v, x -> abs(x))))] < 0
         |          THEN list_transform(u.v, x -> -x) ELSE u.v END
         |      END AS fv
         |    FROM (
         |      SELECT w.k, w.it, w.v, w.lastlam, w.lams, w.prevs, mm.s,
         |        CASE WHEN w.it < $G46Iters THEN
         |          list_transform(range(1, mm.s + 1), i ->
         |            CAST(floor(
         |              CAST(list_reduce(list_transform(range(1, mm.s + 1),
         |                j -> CAST(mm.m[i][j] AS HUGEINT) * w.v[j]),
         |                (a, b) -> a + b) AS DOUBLE)
         |              - list_reduce(list_append(
         |                  list_transform(range(1, len(w.prevs) + 1), p ->
         |                    (CAST(w.lams[p] AS DOUBLE)
         |                      * CAST(w.prevs[p][i] AS DOUBLE))
         |                    * (CAST(list_reduce(
         |                        list_transform(range(1, mm.s + 1), j2 ->
         |                          CAST(w.prevs[p][j2] AS HUGEINT)
         |                            * w.v[j2]),
         |                        (a, b) -> a + b) AS DOUBLE) / 1e18)),
         |                  0.0), (a, b) -> a + b)
         |              + 0.5) AS BIGINT))
         |        END AS wq
         |      FROM walk w, mm
         |      WHERE w.k <= $G46TopK) u) t),
         |fin AS (SELECT lams, prevs FROM walk WHERE k = ${G46TopK + 1})
         |SELECT n.names[CAST(ii.i AS INT)] AS sample,
         |  CAST(pp.pcn AS INTEGER) AS pc,
         |  round(CAST(f.prevs[pp.pcn][ii.i] AS DOUBLE) / 1e9
         |    + 1e-10, 6) + 0.0 AS loading,
         |  round(CAST(f.lams[pp.pcn] AS DOUBLE) / 1e5, 6) AS eigenvalue
         |FROM fin f, v0c n,
         |  (SELECT unnest(range(1, ${G46TopK + 1})) AS pcn) pp,
         |  (SELECT unnest(range(1,
         |    (SELECT s + 1 FROM mm))) AS i) ii""".stripMargin,

    "g35_window_pi" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid, chrom, pos,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |dd AS (
         |  SELECT vid, chrom, pos,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |pv AS (
         |  SELECT vid, chrom, pos, count(dd) AS n, sum(dd) AS ca
         |  FROM dd GROUP BY 1, 2, 3),
         |pp AS (
         |  SELECT chrom, pos, vid,
         |    (2*n - ca) * ca / (2*n * (2*n - 1) / 2.0) AS pi
         |  FROM pv WHERE n > 0 AND 2*n > 1)
         |SELECT chrom, (pos // 60) * 60 AS win_start,
         |  (pos // 60) * 60 + 59 AS win_end,
         |  CAST(count(*) AS BIGINT) AS n_variants,
         |  round(list_reduce(list(pi ORDER BY pos, vid),
         |    (a, b) -> a + b), 5) AS pi
         |FROM pp GROUP BY chrom, pos // 60""".stripMargin,

    "g36_tajima_d" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid, chrom, pos,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |cn AS (
         |  SELECT 2 * max(len(genotypes)) AS n FROM ${pq("vcf_norm")}),
         |ks AS (
         |  SELECT n,
         |    list_reduce(list_transform(range(1, n),
         |      i -> CAST(1.0 AS DOUBLE) / i), (a, b) -> a + b) AS a1,
         |    list_reduce(list_transform(range(1, n),
         |      i -> CAST(1.0 AS DOUBLE) / (i * i)), (a, b) -> a + b)
         |      AS a2
         |  FROM cn),
         |kb AS (
         |  SELECT n, a1, a2,
         |    (n + 1) / (CAST(3.0 AS DOUBLE) * (n - 1)) AS b1,
         |    CAST(2.0 AS DOUBLE) * (n * n + n + 3)
         |      / (CAST(9.0 AS DOUBLE) * n * (n - 1)) AS b2
         |  FROM ks),
         |kc AS (
         |  SELECT n, a1, a2,
         |    b1 - CAST(1.0 AS DOUBLE) / a1 AS c1,
         |    b2 - (n + 2) / (a1 * n) + a2 / (a1 * a1) AS c2
         |  FROM kb),
         |ke AS (
         |  SELECT c1 / a1 AS e1, c2 / (a1 * a1 + a2) AS e2, a1
         |  FROM kc),
         |dd AS (
         |  SELECT vid, chrom, pos,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |pv AS (
         |  SELECT vid, chrom, pos, count(dd) AS n, sum(dd) AS ca
         |  FROM dd GROUP BY 1, 2, 3),
         |pp AS (
         |  SELECT chrom, pos, vid,
         |    (2*n - ca) * ca / (2*n * (2*n - 1) / 2.0) AS pi,
         |    CASE WHEN ca > 0 AND ca < 2*n THEN 1 ELSE 0 END AS seg
         |  FROM pv WHERE n > 0 AND 2*n > 1),
         |wagg AS (
         |  SELECT chrom, pos // 60 AS w,
         |    CAST(sum(seg) AS BIGINT) AS s_sites,
         |    list_reduce(list(pi ORDER BY pos, vid),
         |      (a, b) -> a + b) AS pisum
         |  FROM pp GROUP BY 1, 2)
         |SELECT chrom, w * 60 AS win_start, w * 60 + 59 AS win_end,
         |  s_sites, round(pisum, 5) AS pi,
         |  CASE WHEN s_sites > 0 THEN
         |    round((pisum - s_sites / a1)
         |      / sqrt(e1 * s_sites + e2 * s_sites * (s_sites - 1)), 4)
         |  END AS tajima_d
         |FROM wagg, ke""".stripMargin,

    "g41_gene_burden" ->
      s"""WITH rare AS (
         |  SELECT * FROM ${pq("vcf_norm")}
         |  WHERE chrom <> 'X' AND allele_af <= 0.15),
         |hits AS (
         |  SELECT v.id || ':' || v.alt AS vid, e.transcript_id
         |  FROM rare v JOIN ${pq("exons")} e
         |    ON v.chrom = e.chrom AND v.pos >= e.start
         |    AND v.pos <= e."end"),
         |g AS (
         |  SELECT id || ':' || alt AS vid, unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM rare),
         |d AS (
         |  SELECT vid, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g)
         |SELECT h.transcript_id, d.sample,
         |  CAST(count(*) AS BIGINT) AS n_rare_vars,
         |  CAST(sum(dd) AS BIGINT) AS burden
         |FROM hits h JOIN d ON h.vid = d.vid
         |WHERE dd > 0
         |GROUP BY 1, 2""".stripMargin,

    "g43_compound_het" ->
      s"""WITH vn AS (
         |  SELECT * FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |hits AS (
         |  SELECT v.id || ':' || v.alt AS vid, e.transcript_id
         |  FROM vn v JOIN ${pq("exons")} e
         |    ON v.chrom = e.chrom AND v.pos >= e.start
         |    AND v.pos <= e."end"),
         |g AS (
         |  SELECT id || ':' || alt AS vid, unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM vn),
         |d AS (
         |  SELECT vid, 'S' || si AS sample,
         |    (a[1] = '1' AND a[2] <> '1') AS c1,
         |    (a[2] = '1' AND a[1] <> '1') AS c2
         |  FROM (SELECT vid, si, str_split(gt, '|') AS a FROM g)
         |  WHERE len(a) = 2 AND NOT list_contains(a, '.')),
         |f AS (SELECT * FROM d WHERE c1 OR c2)
         |SELECT h.transcript_id, f.sample,
         |  CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hap1_vars,
         |  CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hap2_vars,
         |  sum(CASE WHEN c1 THEN 1 ELSE 0 END) >= 1
         |    AND sum(CASE WHEN c2 THEN 1 ELSE 0 END) >= 1
         |    AS compound_het
         |FROM hits h JOIN f ON h.vid = f.vid
         |GROUP BY 1, 2""".stripMargin,

    "g42_king_prune" ->
      s"""WITH RECURSIVE g AS (
         |  SELECT id || ':' || alt AS vid,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |dd AS (
         |  SELECT vid, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |p AS (
         |  SELECT a.sample AS sample_a, b.sample AS sample_b,
         |    a.dd AS da, b.dd AS db
         |  FROM dd a JOIN dd b
         |    ON a.vid = b.vid AND a.sample < b.sample
         |  WHERE a.dd IS NOT NULL AND b.dd IS NOT NULL),
         |c AS (
         |  SELECT sample_a, sample_b,
         |    CAST(sum(CASE WHEN da = 1 AND db = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS bh,
         |    CAST(sum(CASE WHEN abs(da - db) = 2 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS oh,
         |    CAST(sum(CASE WHEN da = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ha,
         |    CAST(sum(CASE WHEN db = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS hb
         |  FROM p GROUP BY 1, 2),
         |ab AS (
         |  SELECT sample_a, sample_b,
         |    row_number() OVER (ORDER BY sample_a, sample_b) AS i
         |  FROM c
         |  WHERE least(ha, hb) > 0
         |    AND round((2.0 * bh - 4.0 * oh - ha - hb)
         |      / (4.0 * least(ha, hb)) + 0.5, 5) >= 0.1),
         |nn AS (SELECT count(*) AS cnt FROM ab),
         |walk AS (
         |  SELECT 0 AS i, ';' AS dropped
         |  UNION ALL
         |  SELECT w.i + 1,
         |    CASE WHEN contains(w.dropped, ';' || q.sample_a || ';')
         |        OR contains(w.dropped, ';' || q.sample_b || ';')
         |      THEN w.dropped
         |      ELSE w.dropped || q.sample_b || ';' END
         |  FROM walk w JOIN ab q ON q.i = w.i + 1),
         |fin AS (
         |  SELECT dropped FROM walk, nn WHERE walk.i = nn.cnt),
         |samples AS (
         |  SELECT DISTINCT 'S' || si AS sample
         |  FROM (SELECT unnest(range(1, len(genotypes) + 1)) AS si
         |        FROM ${pq("vcf_norm")} WHERE chrom <> 'X'))
         |SELECT s.sample,
         |  contains(f.dropped, ';' || s.sample || ';') AS pruned
         |FROM samples s, fin f""".stripMargin,

    "g45_singletons" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid, unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |d AS (
         |  SELECT vid, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |ac AS (
         |  SELECT vid FROM d WHERE dd IS NOT NULL
         |  GROUP BY 1 HAVING sum(dd) = 1),
         |cnt AS (
         |  SELECT sample, CAST(count(*) AS BIGINT) AS n
         |  FROM d JOIN ac USING (vid) WHERE dd = 1 GROUP BY 1),
         |samples AS (SELECT DISTINCT sample FROM d)
         |SELECT s.sample, coalesce(cnt.n, 0) AS n_singletons
         |FROM samples s LEFT JOIN cnt USING (sample)""".stripMargin,

    "g39_sfs" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid, unnest(genotypes) AS gt
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |d AS (
         |  SELECT vid,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |c AS (
         |  SELECT vid, CAST(count(*) AS BIGINT) AS nc,
         |    CAST(sum(dd) AS BIGINT) AS ac
         |  FROM d WHERE dd IS NOT NULL GROUP BY 1)
         |SELECT nc * 2 AS an, least(ac, nc * 2 - ac) AS mac,
         |  CAST(count(*) AS BIGINT) AS n_variants
         |FROM c GROUP BY 1, 2""".stripMargin,

    "g40_tdt" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid, chrom, pos,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |d AS (
         |  SELECT vid, chrom, pos, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |trios AS (
         |  SELECT 'S3' AS child, 'S1' AS mother, 'S4' AS father
         |  UNION ALL SELECT 'S6', 'S5', 'S3'),
         |j AS (
         |  SELECT c.vid, c.chrom, c.pos, c.dd AS dc, m.dd AS dm,
         |    f.dd AS df
         |  FROM d c JOIN trios t ON c.sample = t.child
         |    JOIN d m ON m.vid = c.vid AND m.sample = t.mother
         |    JOIN d f ON f.vid = c.vid AND f.sample = t.father
         |  WHERE c.dd IS NOT NULL AND m.dd IS NOT NULL
         |    AND f.dd IS NOT NULL),
         |x AS (
         |  SELECT vid, chrom, pos,
         |    (CASE WHEN dm = 1 THEN 1 ELSE 0 END
         |      + CASE WHEN df = 1 THEN 1 ELSE 0 END) AS nh,
         |    dc - (CASE WHEN dm = 2 THEN 1 ELSE 0 END
         |      + CASE WHEN df = 2 THEN 1 ELSE 0 END) AS b
         |  FROM j),
         |agg AS (
         |  SELECT vid, chrom, pos,
         |    CAST(sum(CASE WHEN nh > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_informative_trios,
         |    CAST(sum(b) AS BIGINT) AS t_alt,
         |    CAST(sum(nh - b) AS BIGINT) AS t_ref
         |  FROM x WHERE b >= 0 AND b <= nh GROUP BY 1, 2, 3)
         |SELECT vid AS "varId", chrom, pos, n_informative_trios, t_alt,
         |  t_ref,
         |  CASE WHEN t_alt + t_ref > 0 THEN
         |    round(CAST(t_alt - t_ref AS DOUBLE) * (t_alt - t_ref)
         |      / (t_alt + t_ref), 5) END AS chi2
         |FROM agg""".stripMargin,

    "g33_king" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |dd AS (
         |  SELECT vid, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |p AS (
         |  SELECT a.sample AS sample_a, b.sample AS sample_b,
         |    a.dd AS da, b.dd AS db
         |  FROM dd a JOIN dd b
         |    ON a.vid = b.vid AND a.sample < b.sample
         |  WHERE a.dd IS NOT NULL AND b.dd IS NOT NULL),
         |c AS (
         |  SELECT sample_a, sample_b,
         |    CAST(count(*) AS BIGINT) AS n_sites,
         |    CAST(sum(CASE WHEN da = 1 AND db = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_both_het,
         |    CAST(sum(CASE WHEN abs(da - db) = 2 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_opp_hom,
         |    CAST(sum(CASE WHEN da = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_het_a,
         |    CAST(sum(CASE WHEN db = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_het_b
         |  FROM p GROUP BY 1, 2)
         |SELECT sample_a, sample_b, n_sites, n_both_het, n_opp_hom,
         |  n_het_a, n_het_b,
         |  CASE WHEN least(n_het_a, n_het_b) > 0 THEN
         |    round((2.0 * n_both_het - 4.0 * n_opp_hom - n_het_a
         |           - n_het_b) / (4.0 * least(n_het_a, n_het_b)) + 0.5, 5)
         |  END AS kinship
         |FROM c""".stripMargin,

    "g25_missingness" ->
      s"""WITH g AS (
         |  SELECT unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")}),
         |d AS (
         |  SELECT 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN 1 ELSE 0 END AS miss
         |  FROM g),
         |c AS (
         |  SELECT sample, CAST(count(*) AS BIGINT) AS n_sites,
         |    CAST(sum(miss) AS BIGINT) AS n_missing
         |  FROM d GROUP BY 1)
         |SELECT sample, n_sites, n_missing,
         |  round(CAST(n_sites - n_missing AS DOUBLE) / n_sites, 5)
         |    AS call_rate
         |FROM c""".stripMargin,

    "g37_ld_prune" ->
      s"""WITH RECURSIVE g AS (
         |  SELECT id || ':' || alt AS vid, chrom, pos,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |d AS (
         |  SELECT vid, chrom, pos, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |d2 AS (SELECT * FROM d WHERE dd IS NOT NULL),
         |p AS (
         |  SELECT a.chrom, a.vid AS v1, b.vid AS v2,
         |    a.dd AS x, b.dd AS y
         |  FROM d2 a JOIN d2 b ON a.chrom = b.chrom
         |    AND a.sample = b.sample
         |    AND b.pos > a.pos AND b.pos <= a.pos + 40),
         |c AS (
         |  SELECT chrom, v1, v2,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x*x) AS BIGINT) AS sxx,
         |    CAST(sum(y*y) AS BIGINT) AS syy,
         |    CAST(sum(x*y) AS BIGINT) AS sxy
         |  FROM p GROUP BY 1, 2, 3),
         |hi AS (
         |  SELECT chrom, v1, v2 FROM c
         |  WHERE n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
         |    AND round(CAST(n*sxy - sx*sy AS DOUBLE)
         |        * CAST(n*sxy - sx*sy AS DOUBLE)
         |      / (CAST(n*sxx - sx*sx AS DOUBLE)
         |        * CAST(n*syy - sy*sy AS DOUBLE)), 5) >= 0.8),
         |uv AS (SELECT DISTINCT chrom, pos, vid FROM d),
         |vs AS MATERIALIZED (
         |  SELECT chrom,
         |    list(struct_pack(pos := pos, vid := vid)
         |      ORDER BY pos, vid) AS vs
         |  FROM uv GROUP BY chrom),
         |hp AS MATERIALIZED (
         |  SELECT chrom, list(struct_pack(a := v1, b := v2)) AS prs
         |  FROM hi GROUP BY chrom),
         |st AS (
         |  SELECT chrom, 0 AS i, CAST([] AS VARCHAR[]) AS kept FROM vs
         |  UNION ALL
         |  SELECT s.chrom, s.i + 1,
         |    CASE WHEN len(list_filter(
         |        coalesce(h.prs,
         |          CAST([] AS STRUCT(a VARCHAR, b VARCHAR)[])),
         |        pr -> pr.b = v.vs[s.i + 1].vid
         |          AND list_contains(s.kept, pr.a))) > 0
         |      THEN s.kept
         |      ELSE list_append(s.kept, v.vs[s.i + 1].vid) END
         |  FROM st s JOIN vs v USING (chrom)
         |  LEFT JOIN hp h USING (chrom)
         |  WHERE s.i < len(v.vs)),
         |fin AS (
         |  SELECT s.chrom, s.kept FROM st s JOIN vs v USING (chrom)
         |  WHERE s.i = len(v.vs))
         |SELECT u.chrom, u.pos, u.vid AS "varId",
         |  list_contains(f.kept, u.vid) AS kept
         |FROM uv u JOIN fin f USING (chrom)""".stripMargin,

    "g21_ld" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid, chrom, pos,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |d AS (
         |  SELECT vid, chrom, pos, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |d2 AS (SELECT * FROM d WHERE dd IS NOT NULL),
         |p AS (
         |  SELECT a.chrom, a.vid AS v1, a.pos AS p1, b.vid AS v2,
         |    b.pos AS p2, a.dd AS x, b.dd AS y
         |  FROM d2 a JOIN d2 b ON a.chrom = b.chrom
         |    AND a.sample = b.sample
         |    AND b.pos > a.pos AND b.pos <= a.pos + 40),
         |c AS (
         |  SELECT chrom, v1, p1, v2, p2,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x*x) AS BIGINT) AS sxx,
         |    CAST(sum(y*y) AS BIGINT) AS syy,
         |    CAST(sum(x*y) AS BIGINT) AS sxy
         |  FROM p GROUP BY 1, 2, 3, 4, 5)
         |SELECT chrom, v1 AS "varId1", p1 AS pos1, v2 AS "varId2",
         |  p2 AS pos2, n,
         |  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
         |    round(CAST(n*sxy - sx*sy AS DOUBLE)
         |        * CAST(n*sxy - sx*sy AS DOUBLE)
         |      / (CAST(n*sxx - sx*sx AS DOUBLE)
         |        * CAST(n*syy - sy*sy AS DOUBLE)), 5)
         |  END AS r2
         |FROM c""".stripMargin,

    "g22_fst" ->
      s"""WITH g AS (
         |  SELECT id || ':' || alt AS vid, chrom, pos,
         |    unnest(genotypes) AS gt,
         |    unnest(range(1, len(genotypes) + 1)) AS si
         |  FROM ${pq("vcf_norm")} WHERE chrom <> 'X'),
         |d AS (
         |  SELECT vid, chrom, pos, 'S' || si AS sample,
         |    CASE WHEN list_contains(str_split_regex(gt, '\\||/'), '.')
         |      THEN NULL
         |      ELSE len(list_filter(str_split_regex(gt, '\\||/'),
         |        a -> a = '1')) END AS dd
         |  FROM g),
         |m AS (
         |  SELECT d.*, CASE WHEN superpopulation = 'EUR' THEN 'EUR'
         |    ELSE 'REST' END AS pop
         |  FROM d JOIN ${pq("samples_meta")} s USING (sample)
         |  WHERE dd IS NOT NULL),
         |c AS (
         |  SELECT vid AS "varId", chrom, pos,
         |    CAST(sum(CASE WHEN pop = 'EUR' THEN dd ELSE 0 END)
         |      AS BIGINT) AS alt_a,
         |    CAST(2 * sum(CASE WHEN pop = 'EUR' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN pop = 'REST' THEN dd ELSE 0 END)
         |      AS BIGINT) AS alt_b,
         |    CAST(2 * sum(CASE WHEN pop = 'REST' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_b
         |  FROM m GROUP BY 1, 2, 3),
         |f AS (
         |  SELECT *, CAST(alt_a AS DOUBLE) / n_a AS p1,
         |    CAST(alt_b AS DOUBLE) / n_b AS p2
         |  FROM c)
         |SELECT "varId", chrom, pos, alt_a, n_a, alt_b, n_b,
         |  CASE WHEN n_a >= 2 AND n_b >= 2
         |      AND p1 * (1.0 - p2) + p2 * (1.0 - p1) <> 0.0 THEN
         |    round(((p1 - p2) * (p1 - p2)
         |        - p1 * (1.0 - p1) / (n_a - 1)
         |        - p2 * (1.0 - p2) / (n_b - 1))
         |      / (p1 * (1.0 - p2) + p2 * (1.0 - p1)), 5)
         |  END AS fst
         |FROM f""".stripMargin,

    "g19_gc_windows" ->
      s"""WITH g AS (
         |  SELECT chrom, upper(sequence) AS seq
         |  FROM read_csv('$raw/genome.txt', delim='\t', header=false,
         |    names=['chrom', 'sequence'], all_varchar=true)),
         |w AS (
         |  SELECT chrom, gi.i AS i,
         |    regexp_extract_all(seq, '.{1,25}')[gi.i] AS win
         |  FROM g, LATERAL (SELECT unnest(generate_series(1,
         |    len(regexp_extract_all(seq, '.{1,25}')))) AS i) gi),
         |b AS (
         |  SELECT chrom, i, win,
         |    len(win) - len(replace(replace(win, 'A', ''), 'T', ''))
         |      AS at_n,
         |    len(win) - len(replace(replace(win, 'G', ''), 'C', ''))
         |      AS gc_n
         |  FROM w)
         |SELECT chrom,
         |  CAST((i - 1) * 25 + 1 AS BIGINT) AS win_start,
         |  CAST((i - 1) * 25 + len(win) AS BIGINT) AS win_end,
         |  CAST(at_n AS BIGINT) AS n_at,
         |  CAST(gc_n AS BIGINT) AS n_gc,
         |  CAST(len(win) - len(replace(win, 'N', '')) AS BIGINT) AS n_n,
         |  CASE WHEN at_n + gc_n > 0
         |    THEN round(CAST(gc_n AS DOUBLE) / (at_n + gc_n), 5)
         |  END AS gc_frac
         |FROM b""".stripMargin,

    "g20_depth_hist" ->
      s"""WITH iv AS (
         |  SELECT seqname AS chrom, CAST(start AS BIGINT) AS s,
         |    CAST("end" AS BIGINT) AS e
         |  FROM ${pq("gtf")} WHERE feature IN ('transcript', 'exon')),
         |ev AS (
         |  SELECT chrom, s AS pos, 1 AS d FROM iv
         |  UNION ALL
         |  SELECT chrom, e + 1 AS pos, -1 AS d FROM iv),
         |m AS (
         |  SELECT chrom, pos, sum(d) AS d FROM ev GROUP BY 1, 2
         |  HAVING sum(d) <> 0),
         |c AS (
         |  SELECT chrom, pos,
         |    CAST(sum(d) OVER (PARTITION BY chrom ORDER BY pos)
         |      AS BIGINT) AS depth,
         |    lead(pos) OVER (PARTITION BY chrom ORDER BY pos) AS nxt
         |  FROM m),
         |seg AS (
         |  SELECT chrom, pos AS seg_start, nxt - 1 AS seg_end, depth
         |  FROM c WHERE depth > 0 AND nxt IS NOT NULL)
         |SELECT chrom, depth,
         |  CAST(sum(seg_end - seg_start + 1) AS BIGINT) AS n_bases
         |FROM seg GROUP BY 1, 2""".stripMargin,

    "v8_vcf_write" ->
      s"""SELECT chrom, pos, id, ref, alt, allele_af,
         |  array_to_string(genotypes, ',') AS genotypes
         |FROM ${pq("vcf_norm")}""".stripMargin,

    // the sharded BGZF sink round trip restricted to the g50 region:
    // the overlap filter applies to the SOURCE rows (vcf_norm), so a
    // wrong byte window or a lost/duplicated shard row breaks the hash
    "v11_vcf_write_sharded" ->
      s"""SELECT chrom, pos, id, ref, alt, allele_af,
         |  array_to_string(genotypes, ',') AS genotypes
         |FROM ${pq("vcf_norm")}
         |WHERE chrom = '1' AND pos <= 55
         |  AND pos + length(ref) - 1 >= 45""".stripMargin,

    "g7_coverage" ->
      s"""WITH iv AS (
         |  SELECT seqname AS chrom, CAST(start AS BIGINT) AS s,
         |    CAST("end" AS BIGINT) AS e
         |  FROM ${pq("gtf")} WHERE feature IN ('transcript', 'exon')),
         |ev AS (
         |  SELECT chrom, s AS pos, 1 AS d FROM iv
         |  UNION ALL
         |  SELECT chrom, e + 1 AS pos, -1 AS d FROM iv),
         |m AS (
         |  SELECT chrom, pos, sum(d) AS d FROM ev GROUP BY 1, 2
         |  HAVING sum(d) <> 0),
         |c AS (
         |  SELECT chrom, pos,
         |    CAST(sum(d) OVER (PARTITION BY chrom ORDER BY pos)
         |      AS BIGINT) AS depth,
         |    lead(pos) OVER (PARTITION BY chrom ORDER BY pos) AS nxt
         |  FROM m)
         |SELECT chrom, pos AS seg_start, nxt - 1 AS seg_end, depth
         |FROM c WHERE depth > 0 AND nxt IS NOT NULL""".stripMargin,

    "v1_vcf_read" -> v1Sql,

    // v9: the IDENTICAL independent parse of the TEXT fixture — the
    // gate reads GenomicFixtures.vcfGzPath's BGZF re-encoding (hundreds
    // of concatenated gzip members at a forced 512-byte cap) through
    // the UNCHANGED Vcf.read -> spark.read.text path, pinning that
    // Hadoop's codec chains bgzip members (real .vcf.gz files are BGZF,
    // not single-member gzip — a first-member-only inflater would
    // silently truncate them).
    "v9_vcf_gz" -> v1Sql,

    // the independent TEXT parse filtered to the region — file order
    // never reaches the compare, so the fixture's sort can't mask a
    // wrong byte window
    "g50_region_read" ->
      s"""WITH t AS ($v1Sql)
         |SELECT * FROM t
         |WHERE chrom = '1' AND pos <= 55
         |  AND pos + length(ref) - 1 >= 45""".stripMargin,

    "g50b_region_bcf" ->
      s"""WITH t AS ($bcf1Sql)
         |SELECT * FROM t
         |WHERE chrom = '1' AND pos <= 55
         |  AND pos + length(ref) - 1 >= 45""".stripMargin,

    "g50c_region_bam" ->
      s"""WITH t AS ($sam1Sql)
         |SELECT * FROM t
         |WHERE rname = '1' AND pos <= 70
         |  AND coalesce(ref_end, pos) >= 25""".stripMargin,

    // g57*: the same independent TEXT-parse oracles as g50/g50b/g50c —
    // the gates read per-chrom shards / the repo's own writeSharded
    // directories instead of one file, and must land on identical rows
    "g57_region_dir_vcf" ->
      s"""WITH t AS ($v1Sql)
         |SELECT * FROM t
         |WHERE chrom = '1' AND pos <= 55
         |  AND pos + length(ref) - 1 >= 45""".stripMargin,

    "g57b_region_dir_bcf" ->
      s"""WITH t AS ($bcf1Sql)
         |SELECT * FROM t
         |WHERE chrom = '1' AND pos <= 55
         |  AND pos + length(ref) - 1 >= 45""".stripMargin,

    "g57c_region_dir_bam" ->
      s"""WITH t AS ($sam1Sql)
         |SELECT * FROM t
         |WHERE rname = '1' AND pos <= 70
         |  AND coalesce(ref_end, pos) >= 25""".stripMargin,

    // the plain-SQL containment filter (not overlap: the gate IS a
    // WHERE clause) on the independent TEXT parse
    "g59_filter_route" ->
      s"""WITH t AS ($v1Sql)
         |SELECT * FROM t
         |WHERE chrom = '1' AND pos BETWEEN 20 AND 60""".stripMargin,

    "g59b_filter_route_bcf" ->
      s"""WITH t AS ($bcf1Sql)
         |SELECT * FROM t
         |WHERE chrom = '1' AND pos BETWEEN 20 AND 60""".stripMargin,

    "g59c_filter_route_bam" ->
      s"""WITH t AS ($sam1Sql)
         |SELECT * FROM t
         |WHERE rname = '1' AND pos BETWEEN 20 AND 60""".stripMargin,

    // the OR of the 12 panel predicates, generated from the SAME
    // regionPanel value the gate passes to readRegions
    "g58_region_panel" ->
      s"""WITH t AS ($v1Sql)
         |SELECT * FROM t
         |WHERE ${regionPanel.map { case (c, a, b) =>
               s"(chrom = '$c' AND pos <= $b AND pos + length(ref) - 1 >= $a)"
             }.mkString("\n   OR ")}""".stripMargin,

    // the same panel as plain-SQL containment ORs (the gate IS a WHERE
    // clause on the DSv2 relation), from the SAME regionPanel value
    "g60_sql_panel" ->
      s"""WITH t AS ($v1Sql)
         |SELECT * FROM t
         |WHERE ${regionPanel.map { case (c, a, b) =>
               s"(chrom = '$c' AND pos BETWEEN $a AND $b)"
             }.mkString("\n   OR ")}""".stripMargin,

    // readAuto(<writeSharded BCF dir>) reads the WHOLE fixture parse —
    // the same float-normalized independent TEXT parse bcf1 pins
    "g61_auto_sniff" -> bcf1Sql,

    // distributed planning must not change a single row vs the g57
    // driver-side plan of the same directory read
    "g62_dist_plan" ->
      s"""WITH t AS ($v1Sql)
         |SELECT * FROM t
         |WHERE chrom = '1' AND pos <= 55
         |  AND pos + length(ref) - 1 >= 45""".stripMargin,

    // the broadcast panel join keeps exactly the panel's chromosome:
    // runtime pruning may only skip bytes, never change the join's rows
    "g63_join_prune" ->
      s"""WITH t AS ($v1Sql)
         |SELECT * FROM t WHERE chrom = '1'""".stripMargin,

    // the index-served region reads answer the exact g50-family
    // oracles: an index changes bytes read, never rows
    "g64_tabix_read" ->
      s"""WITH t AS ($v1Sql)
         |SELECT * FROM t
         |WHERE chrom = '1' AND pos <= 55
         |  AND pos + length(ref) - 1 >= 45""".stripMargin,

    "g65_csi_read" ->
      s"""WITH t AS ($bcf1Sql)
         |SELECT * FROM t
         |WHERE chrom = '1' AND pos <= 55
         |  AND pos + length(ref) - 1 >= 45""".stripMargin,

    // idxstats from the .bai pseudo-bins must equal the scan-route
    // counts (g51's oracle verbatim — same record set, zero data read)
    "g67_idxstats_bai" ->
      s"""WITH lines AS (
         |  SELECT unnest(string_split(content, chr(10))) AS l
         |  FROM read_text('$raw/aligned.sam')),
         |refs AS (
         |  SELECT regexp_extract(l, 'SN:([^\t]+)', 1) AS rname,
         |    CAST(regexp_extract(l, 'LN:([0-9]+)', 1) AS BIGINT)
         |      AS length
         |  FROM lines WHERE starts_with(l, '@SQ')
         |  UNION ALL SELECT '*', 0),
         |a AS (
         |  SELECT string_split(l, chr(9)) AS f FROM lines
         |  WHERE len(trim(l)) > 0 AND NOT starts_with(l, '@')),
         |c AS (
         |  SELECT coalesce(nullif(f[3], '*'), '*') AS rname,
         |    CAST(sum(CASE WHEN (CAST(f[2] AS INT) & 4) = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS nm,
         |    CAST(sum(CASE WHEN (CAST(f[2] AS INT) & 4) <> 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS nu
         |  FROM a GROUP BY 1)
         |SELECT r.rname, r.length,
         |  coalesce(c.nm, 0) AS n_mapped,
         |  coalesce(c.nu, 0) AS n_unmapped
         |FROM refs r LEFT JOIN c USING (rname)""".stripMargin,

    "g66_bai_read" ->
      s"""WITH t AS ($sam1Sql)
         |SELECT * FROM t
         |WHERE rname = '1' AND pos <= 70
         |  AND coalesce(ref_end, pos) >= 25""".stripMargin,

    // v10: identical contract to v9 — the splittable reader must
    // produce byte-identical rows to the text parse, from many forced
    // byte-range splits.
    "v10_vcf_bgzf" -> v1Sql,

    // bcf1: the same independent TEXT parse, with the ONE difference
    // binary typing forces: AF is a typed float32 vector in BCF, so the
    // rendered INFO/af normalize through float shortest-round-trip
    // ("0.10" -> '0.1') — DuckDB's float->varchar and Java's
    // Float.toString agree on that rule (BcfSpec pins it per value).
    "bcf1_read" -> bcf1Sql,

    // bcf2: identical contract - the splittable read must reproduce the
    // normalized text parse exactly from many forced byte ranges.
    "bcf2_split" -> bcf1Sql,

    // bcf3: the sharded sink round trip (shared sorted dictionary)
    // must land on the same normalized text parse — dictionary order
    // is header-internal and must never leak into rendered rows.
    "bcf3_write_sharded" -> bcf1Sql,

    "v2_vcf_norm" ->
      s"""WITH e AS (
         |  SELECT chrom, pos, id, ref, af, genotypes,
         |    gi.i AS i, string_split(alt, ',')[gi.i] AS alt
         |  FROM ${pq("vcf_parsed")},
         |    LATERAL (SELECT unnest(generate_series(1,
         |      len(string_split(alt, ',')))) AS i) gi)
         |SELECT chrom, pos, id, ref, alt,
         |  TRY_CAST(string_split(af, ',')[i] AS DOUBLE) AS allele_af,
         |  array_to_string(list_transform(genotypes, g ->
         |    ${gtRewriteSql("string_split(g, ':')[1]", "i")}), ',')
         |    AS genotypes
         |FROM e
         |WHERE regexp_full_match(ref, '([ACGT]+|-)')
         |  AND regexp_full_match(alt, '([ACGT]+|-)')
         |  AND TRY_CAST(string_split(af, ',')[i] AS DOUBLE) IS NOT NULL
         |  AND TRY_CAST(string_split(af, ',')[i] AS DOUBLE) >= 0.05"""
        .stripMargin,

    "g1_gtf_read" ->
      s"""SELECT c0 AS seqname, c2 AS feature, CAST(c3 AS BIGINT) AS start,
         |  CAST(c4 AS BIGINT) AS "end", c6 AS strand,
         |  regexp_extract(c8, 'transcript_id "([^"]*)"', 1)
         |    AS transcript_id,
         |  regexp_extract(c8, 'transcript_biotype "([^"]*)"', 1) AS biotype
         |FROM read_csv('$raw/annotations.gtf', delim='\t', header=false,
         |  skip=1, names=['c0','c1','c2','c3','c4','c5','c6','c7','c8'],
         |  all_varchar=true)""".stripMargin,

    "b1_bed_read" ->
      s"""SELECT c0 AS chrom, CAST(c1 AS BIGINT) + 1 AS start,
         |  greatest(CAST(c2 AS BIGINT), CAST(c1 AS BIGINT) + 1) AS "end",
         |  NULLIF(c3, '.') AS name,
         |  TRY_CAST(NULLIF(c4, '.') AS BIGINT) AS score,
         |  NULLIF(c5, '.') AS strand
         |FROM read_csv('$raw/regions.bed', delim='\t', header=false,
         |  null_padding=true, all_varchar=true,
         |  names=['c0','c1','c2','c3','c4','c5'])
         |WHERE NOT starts_with(c0, 'track')
         |  AND NOT starts_with(c0, 'browser')
         |  AND NOT starts_with(c0, '#')""".stripMargin,

    "gf1_gff3_read" ->
      s"""WITH x AS (
         |  SELECT c0 AS seqname, c2 AS feature,
         |    CAST(c3 AS BIGINT) AS start, CAST(c4 AS BIGINT) AS "end",
         |    c6 AS strand,
         |    regexp_extract(c8, '(^|;)ID=([^;]*)', 2) AS id0,
         |    regexp_extract(c8, '(^|;)Parent=([^;]*)', 2) AS parent0,
         |    regexp_extract(c8, '(^|;)Note=([^;]*)', 2) AS note0
         |  FROM read_csv('$raw/annotations.gff3', delim='\t',
         |    header=false, null_padding=true, all_varchar=true,
         |    names=['c0','c1','c2','c3','c4','c5','c6','c7','c8'])
         |  WHERE NOT starts_with(c0, '#'))
         |SELECT seqname, feature, start, "end", strand,
         |  CASE WHEN length(id0) > 0 THEN replace(replace(replace(replace(
         |    replace(replace(replace(id0, '%3B', ';'), '%3D', '='),
         |    '%26', '&'), '%2C', ','), '%09', chr(9)), '%0A', chr(10)),
         |    '%25', '%') END AS id,
         |  CASE WHEN length(parent0) > 0 THEN replace(replace(replace(
         |    replace(replace(replace(replace(parent0, '%3B', ';'),
         |    '%3D', '='), '%26', '&'), '%2C', ','), '%09', chr(9)),
         |    '%0A', chr(10)), '%25', '%') END AS parent,
         |  CASE WHEN length(note0) > 0 THEN replace(replace(replace(
         |    replace(replace(replace(replace(note0, '%3B', ';'),
         |    '%3D', '='), '%26', '&'), '%2C', ','), '%09', chr(9)),
         |    '%0A', chr(10)), '%25', '%') END AS note
         |FROM x""".stripMargin,

    // identical expectation to b1: the write->read round trip must be
    // identity on the interval form (the fixture has no zero-length
    // features, the one documented lossy case)
    "b2_bed_write" ->
      s"""SELECT c0 AS chrom, CAST(c1 AS BIGINT) + 1 AS start,
         |  greatest(CAST(c2 AS BIGINT), CAST(c1 AS BIGINT) + 1) AS "end",
         |  NULLIF(c3, '.') AS name,
         |  TRY_CAST(NULLIF(c4, '.') AS BIGINT) AS score,
         |  NULLIF(c5, '.') AS strand
         |FROM read_csv('$raw/regions.bed', delim='\t', header=false,
         |  null_padding=true, all_varchar=true,
         |  names=['c0','c1','c2','c3','c4','c5'])
         |WHERE NOT starts_with(c0, 'track')
         |  AND NOT starts_with(c0, 'browser')
         |  AND NOT starts_with(c0, '#')""".stripMargin,

    "g5_nearest_join" ->
      s"""WITH v AS (SELECT DISTINCT chrom, pos, id FROM ${pq("vcf_norm")}),
         |c AS (
         |  SELECT v.chrom, v.pos, v.id, e.transcript_id,
         |    greatest(e.start - v.pos, v.pos - e."end", 0) AS distance
         |  FROM v JOIN ${pq("exons")} e ON v.chrom = e.chrom
         |  WHERE greatest(e.start - v.pos, v.pos - e."end", 0) <= 60)
         |SELECT chrom, pos, id, distance, transcript_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY chrom, pos, id
         |    ORDER BY distance, transcript_id) AS rn FROM c)
         |WHERE rn = 1""".stripMargin,

    "g2_interval_join" ->
      s"""SELECT v.chrom, v.pos, v.id, v.alt, e.transcript_id, e.start,
         |  e."end"
         |FROM ${pq("vcf_norm")} v JOIN ${pq("exons")} e
         |  ON v.chrom = e.chrom AND v.pos >= e.start AND v.pos <= e."end""""
        .stripMargin,

    "g4_overlap_join" ->
      s"""WITH probes AS (
         |  SELECT chrom,
         |    unnest(generate_series(mn, mx, 25)) AS start2
         |  FROM (SELECT chrom, min(start) AS mn, max("end") AS mx
         |        FROM ${pq("exons")} GROUP BY 1)),
         |p AS (
         |  SELECT chrom, start2, start2 + 29 AS end2,
         |    chrom || ':' || CAST(start2 AS VARCHAR) AS probe_id
         |  FROM probes)
         |SELECT e.chrom, e.transcript_id, p.probe_id,
         |  e.start AS start, e."end" AS "end",
         |  p.start2 AS start2, p.end2 AS end2,
         |  least(e."end", p.end2) - greatest(e.start, p.start2) + 1
         |    AS overlap_len
         |FROM ${pq("exons")} e JOIN p
         |  ON e.chrom = p.chrom AND e.start <= p.end2
         |  AND p.start2 <= e."end"""".stripMargin,

    "g3_coord_map" ->
      s"""WITH gts AS (
         |  SELECT DISTINCT transcript, varId, pos FROM ${pq("gts_long")}),
         |ex AS (SELECT transcript_id, unnest(exons) AS e
         |  FROM ${pq("exon_arrays")}),
         |flat AS (SELECT transcript_id, e.start AS s, e."end" AS en FROM ex),
         |rna AS (
         |  SELECT g.transcript, g.varId, g.pos,
         |    CASE WHEN bool_or(g.pos >= f.s AND g.pos <= f.en) THEN
         |      sum(CASE WHEN f.en < g.pos THEN f.en - f.s + 1
         |               WHEN f.s <= g.pos THEN g.pos - f.s
         |               ELSE 0 END)
         |    END AS rna_pos
         |  FROM gts g JOIN flat f ON g.transcript = f.transcript_id
         |  GROUP BY 1, 2, 3),
         |cum AS (
         |  SELECT transcript_id, s, en,
         |    sum(en - s + 1) OVER (PARTITION BY transcript_id ORDER BY s
         |      ROWS UNBOUNDED PRECEDING) - (en - s + 1) AS before
         |  FROM flat)
         |SELECT r.transcript, r.varId, r.pos,
         |  CAST(r.rna_pos AS BIGINT) AS rna_pos,
         |  CAST(coalesce(min(CASE WHEN r.rna_pos >= c.before
         |      AND r.rna_pos < c.before + (c.en - c.s + 1)
         |    THEN c.s + r.rna_pos - c.before END), -1) AS BIGINT) AS dna_back
         |FROM rna r JOIN cum c ON r.transcript = c.transcript_id
         |GROUP BY 1, 2, 3, 4""".stripMargin,

    "f1_fasta_read" ->
      s"""WITH recs AS (
         |  SELECT regexp_replace(unnest(
         |    string_split(content, chr(10) || '>')), '^>', '') AS rec
         |  FROM read_text('$raw/proteins.fasta')),
         |parsed AS (
         |  SELECT string_split(rec, chr(10))[1] AS header,
         |    array_to_string(list_slice(string_split(rec, chr(10)), 2,
         |      1000000), '') AS sequence
         |  FROM recs WHERE len(trim(rec)) > 0),
         |hp AS (
         |  SELECT header, sequence, string_split(header, '|') AS parts
         |  FROM parsed)
         |SELECT
         |  CASE WHEN len(parts) >= 2 THEN
         |    (CASE WHEN contains(parts[1], 'generic') THEN parts[1]
         |          ELSE 'generic_' || parts[1] END)
         |  ELSE '' END AS tag,
         |  CASE WHEN len(parts) >= 3 THEN parts[2]
         |       WHEN len(parts) = 2 THEN
         |         (CASE WHEN contains(parts[2], ' ')
         |               THEN string_split(parts[2], ' ')[1]
         |               ELSE parts[2] END)
         |       ELSE string_split(header, ' ')[1] END AS accession,
         |  CASE WHEN len(parts) >= 3 THEN parts[3]
         |       WHEN len(parts) = 2 THEN
         |         (CASE WHEN contains(parts[2], ' ')
         |               THEN substr(parts[2], strpos(parts[2], ' ') + 1)
         |               ELSE '' END)
         |       ELSE (CASE WHEN contains(header, ' ')
         |             THEN substr(header, strpos(header, ' ') + 1)
         |             ELSE '' END) END AS description,
         |  sequence
         |FROM hp""".stripMargin,

    "v3_revcomp" ->
      s"""SELECT transcript_id,
         |  reverse(translate(sequence, 'ACGT', 'TGCA')) AS revcomp
         |FROM ${pq("cdna")}""".stripMargin,

    "v4_translate" ->
      s"""WITH codon_table(codon, aa) AS (VALUES $codonValues),
         |frames AS (
         |  SELECT transcript_id, sequence, f.frame
         |  FROM ${pq("cdna")},
         |    LATERAL (SELECT unnest(generate_series(0, 2)) AS frame) f),
         |cs AS (
         |  SELECT transcript_id, frame, g.i,
         |    substr(sequence, frame + 1 + 3 * g.i, 3) AS codon
         |  FROM frames, LATERAL (SELECT unnest(generate_series(0,
         |    CAST(floor((length(sequence) - frame) / 3) AS INT) - 1))
         |    AS i) g)
         |SELECT transcript_id, frame,
         |  coalesce(string_agg(coalesce(ct.aa, 'X'), '' ORDER BY cs.i), '')
         |    AS protein
         |FROM cs LEFT JOIN codon_table ct ON cs.codon = ct.codon
         |GROUP BY 1, 2""".stripMargin,

    "v5_apply_variants" ->
      s"""SELECT a.transcript_id,
         |  CASE WHEN len(a.variants) = 0 THEN d.sequence ELSE
         |    array_to_string(list_transform(
         |      generate_series(1, len(a.variants)), i ->
         |        substr(d.sequence,
         |          CASE WHEN i = 1 THEN 1
         |               ELSE a.variants[i-1].pos +
         |                 len(a.variants[i-1].ref) END,
         |          a.variants[i].pos -
         |            (CASE WHEN i = 1 THEN 1
         |                  ELSE a.variants[i-1].pos +
         |                    len(a.variants[i-1].ref) END))
         |        || a.variants[i].alt), '')
         |    || substr(d.sequence, a.variants[len(a.variants)].pos +
         |         len(a.variants[len(a.variants)].ref))
         |  END AS mutated
         |FROM ${pq("apply_cases")} a
         |JOIN ${pq("cdna")} d ON a.transcript_id = d.transcript_id"""
        .stripMargin,

    "v6_orf" ->
      s"""SELECT transcript_id,
         |  strpos(sequence, 'ATG') AS atg_pos,
         |  CASE WHEN strpos(sequence, 'ATG') > 0 THEN
         |    list_min([i for i in generate_series(0,
         |        CAST(floor((length(sequence) - strpos(sequence, 'ATG') + 1)
         |          / 3) AS INT) - 1)
         |      if substr(sequence, strpos(sequence, 'ATG') + 3 * i, 3)
         |        IN ('TAA', 'TAG', 'TGA')])
         |  END AS stop_codon_idx
         |FROM ${pq("cdna")}""".stripMargin,

    "v7_consequence" ->
      s"""SELECT caseId,
         |  CASE WHEN aaRef = aaAlt THEN 'synonymous'
         |       WHEN contains(aaRef, '*') AND NOT contains(aaAlt, '*')
         |         THEN 'stop_lost'
         |       WHEN NOT contains(aaRef, '*') AND contains(aaAlt, '*')
         |         THEN 'stop_gained'
         |       WHEN length(ref) = length(alt) THEN 'SAV'
         |       WHEN abs(length(ref) - length(alt)) % 3 != 0
         |         THEN 'frameshift'
         |       ELSE 'inframe_indel' END AS consequence
         |FROM ${pq("conseq_cases")}""".stripMargin,

    "g44_worst_conseq" ->
      s"""WITH c AS (
         |  SELECT 'G' || (CAST(substr(caseId, 2) AS INT) % 3) AS gene,
         |    CASE WHEN aaRef = aaAlt THEN 'synonymous'
         |         WHEN contains(aaRef, '*') AND NOT contains(aaAlt, '*')
         |           THEN 'stop_lost'
         |         WHEN NOT contains(aaRef, '*')
         |             AND contains(aaAlt, '*') THEN 'stop_gained'
         |         WHEN length(ref) = length(alt) THEN 'SAV'
         |         WHEN abs(length(ref) - length(alt)) % 3 != 0
         |           THEN 'frameshift'
         |         ELSE 'inframe_indel' END AS consequence
         |  FROM ${pq("conseq_cases")}),
         |r AS (
         |  SELECT gene,
         |    CASE consequence WHEN 'frameshift' THEN 0
         |      WHEN 'stop_gained' THEN 1 WHEN 'stop_lost' THEN 2
         |      WHEN 'inframe_indel' THEN 3 WHEN 'SAV' THEN 4
         |      ELSE 5 END AS rk, consequence
         |  FROM c),
         |m AS (
         |  SELECT gene, CAST(count(*) AS BIGINT) AS n_variants,
         |    min(struct_pack(r := rk, c := consequence)) AS m
         |  FROM r GROUP BY 1)
         |SELECT gene, n_variants, m.c AS worst_consequence,
         |  CAST(m.r AS BIGINT) AS severity_rank
         |FROM m""".stripMargin
  )
}
