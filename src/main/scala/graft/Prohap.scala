package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{HaploProteins, Haplotypes, IntervalJoin}
import graft.queries.GenomicPipeline
import graft.sources.{Fasta, Gtf, Vcf}

/** The ProHap/ProVar pipeline behind the [[Prohap]] and [[Provar]] CLI
  * mains: flag parsing in the reference's argparse style (`-i file.vcf
  * -af 0.01 ...`), input readers, the composition steps both modes
  * share, and the three writers (metadata TSV, protein FASTA, optional
  * cDNA FASTA). The h4/h5/f9/p2/pv1 gates run this composition on the
  * fixture files under [[graft.fixtures.GenomicFixtures.cliOpts]], and
  * the `gts_long` fixture the h1-h6 gates read is built by
  * [[transcriptIntervals]] and [[genotypesByTranscript]].
  *
  * Divergences from the reference CLI (documented, all by design):
  *  - `-db` takes the GTF file itself (read by [[Gtf.read]]), not a
  *    gffutils sqlite build of it — there is no preprocessing step.
  *  - `-transcripts` is optional; omitted means every transcript in the
  *    GTF (the reference requires the list because its per-transcript
  *    python loop needs bounding; the Spark plan does not).
  *  - `-chr` is optional for the same reason — the reference shards by
  *    chromosome per process, here one job handles any number.
  *  - accessions/haplotype IDs are content-derived (md5 of the sequence /
  *    haplotype key) instead of enumeration order (`hex(i)`), so the
  *    output is deterministic under any partitioning or cluster size.
  *  - outputs are written by Spark (a directory of parts; `-single_file 1`
  *    coalesces to one part for small results and fixture comparisons).
  */
private[graft] object ProHapCli {

  /** `-flag value` pairs. A value may itself start with `-`
    * (`-min_backoff_logp -8`); a key token without the leading `-`, or
    * a trailing flag with no value, is rejected by name.
    */
  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(flag, value) if flag.startsWith("-") =>
        flag.stripPrefix("-") -> value
      case Array(flag, _*) if !flag.startsWith("-") =>
        throw new IllegalArgumentException(
          s"expected a -flag, got '$flag'")
      case Array(flag) =>
        throw new IllegalArgumentException(s"flag '$flag' has no value")
    }.toMap

  /** `-af_field MAF` (vcf_filter_fix.py:11): which INFO key(s) carry the
    * allele frequency; comma-separated keys are tried in order.
    */
  def afFields(opts: Map[String, String]): Seq[String] =
    opts.get("af_field").map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Vcf.defaultAfFields)

  /** `-region chr[:start-end]` (samtools/tabix syntax, commas in
    * numbers allowed): route the `-i` input through the index-free
    * region pushdown — the reference shards per chromosome by hand
    * (Snakefile's per-chrom VCFs); this is that access pattern for ANY
    * region on a sorted `.vcf.gz`/`.bcf`, falling back to scan+filter
    * where the input can't be bisected (plain text, unranked chroms).
    */
  private val RegionSpan =
    """^(.+):([\d,]+)-([\d,]+)$""".r

  def parseRegion(spec: String): (String, Long, Long) = spec match {
    // split at the LAST colon, and only when what follows is a numeric
    // span: GRCh38 ALT contig names legally contain colons
    // (HLA-A*01:01:01:01), and samtools resolves those against the
    // header — a colon'd name with no span is a bare-chrom region
    case RegionSpan(c, a, b) =>
      (c, a.replace(",", "").toLong, b.replace(",", "").toLong)
    case c => (c, 1L, Int.MaxValue.toLong)
  }

  /** The `-i` VCF/BCF input — single files, directories, globs and
    * per-chromosome shard fleets alike. Region-pruned when `-region
    * chr[:a-b]` (one region) or `-regions panel.bed` (a BED target
    * panel, bcftools' `-R`: one bisection per (shard, region), merged
    * windows read once) is given.
    */
  def readVcfInput(spark: SparkSession,
                   opts: Map[String, String]): DataFrame = {
    val path = opts("i")
    // every entry point dispatches on sniffed CONTENT inside the Vcf
    // layer (Bgzf.sniff), so `-i` takes text VCF, bgzipped VCF, BCF,
    // and bare shard DIRECTORIES of any of them transparently
    (opts.get("region"), opts.get("regions")) match {
      case (Some(spec), _) =>
        val (c, a, b) = parseRegion(spec)
        Vcf.readRegion(spark, path, c, a, b, afFields(opts))
      case (None, Some(bed)) =>
        val panel = graft.sources.Bed.toIntervals(
          graft.sources.Bed.read(spark, bed))
        Vcf.readPanel(spark, path, panel, afFields(opts))
      case _ => Vcf.readAuto(spark, path, afFields(opts))
    }
  }

  def session(opts: Map[String, String], app: String): SparkSession = {
    // -threads n (prohap.py:63-64) sizes the default local master and
    // shuffle partitioning; -master overrides for cluster submission
    val cpus = opts.getOrElse("threads",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    SparkSession.builder()
      .master(opts.getOrElse("master", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions",
        opts.getOrElse("shuffle_partitions", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .appName(app)
      .getOrCreate()
  }

  /** Sample metadata TSV with reference (`Sample name`, `Sex`,
    * `Population code`, `Superpopulation code`) or already-normalized
    * (sample, sex, population, superpopulation) headers.
    */
  def samplesMeta(spark: SparkSession, path: String): DataFrame = {
    val renames = Map(
      "sample name" -> "sample", "sample" -> "sample", "sex" -> "sex",
      "population code" -> "population", "population" -> "population",
      "superpopulation code" -> "superpopulation",
      "superpopulation" -> "superpopulation")
    val raw = spark.read.option("sep", "\t").option("header", "true")
      .csv(path)
    raw.columns.foldLeft(raw) { (d, c) =>
      renames.get(c.toLowerCase) match {
        case Some(n) if n != c => d.withColumnRenamed(c, n)
        case _ => d
      }
    }
  }

  /** Transcript interval table for the genotype interval join, with the
    * optional `-transcripts` CSV and `-chr` filters applied.
    */
  def transcriptIntervals(spark: SparkSession, gtf: DataFrame,
                          opts: Map[String, String]): DataFrame = {
    val t0 = Gtf.transcriptsByBiotype(gtf, Seq("all"))
      .select(col("chromosome").as("chrom"),
        col("transcriptID").as("transcript"),
        col("start"), col("end"), col("strand"))
    val t1 = opts.get("chr") match {
      case Some(c) => t0.where(col("chrom") === c ||
        col("chrom") === s"chr$c")
      case None => t0
    }
    opts.get("transcripts") match {
      case Some(path) =>
        val wanted = spark.read.csv(path)
          .select(col("_c0").as("transcript"))
        t1.join(broadcast(wanted), Seq("transcript"), "left_semi")
      case None => t1
    }
  }

  /** Long genotype matrix joined to transcripts with sex + PAR-aware
    * ploidy flags — the schema [[Haplotypes.phased]] consumes. One
    * interval join (binned equi-join, never a cross product) carries the
    * variant->transcript assignment.
    */
  def genotypesByTranscript(norm: DataFrame, samples: Seq[String],
                            meta: DataFrame, transcripts: DataFrame,
                            par1To: Long, par2From: Long,
                            binSize: Long): DataFrame = {
    val gts = Vcf.genotypesLong(norm, samples)
      .select(col("chrom"), col("pos"), col("id").as("varId"), col("ref"),
        col("alt"), col("allele_af"), col("sample"), col("gt"))
    IntervalJoin.pointsInIntervals(gts, transcripts, Seq("chrom"), binSize)
      .join(broadcast(meta.select(col("sample"), col("sex"))),
        Seq("sample"))
      .withColumn("autosomal",
        Haplotypes.isAutosomal(col("start"), col("end"),
          isXChrom = true, par1To, par2From) ||
          !col("chrom").isin("X", "chrX"))
      .select("transcript", "chrom", "sample", "sex", "autosomal", "varId",
        "pos", "ref", "alt", "allele_af", "gt")
  }

  /** Annotation + cDNA of the selected transcripts. `-require_start 1`
    * (reference default, prohap.py:122-127, provar.py:33-34) drops
    * transcripts without a start_codon annotation; 0 keeps them (they
    * translate in all three frames, reading_frame = -1).
    */
  def transcriptInfo(spark: SparkSession, gtf: DataFrame,
                     transcripts: DataFrame,
                     opts: Map[String, String]): DataFrame = {
    val cdna = Fasta.read(spark, opts("cdna"))
      .select(col("accession").as("transcript_id"), col("sequence"))
    val tinfo = GenomicPipeline.transcriptInfoFrom(gtf, cdna)
      .join(broadcast(transcripts.select("transcript")), Seq("transcript"),
        "left_semi")
    if (opts.getOrElse("require_start", "1") == "1")
      tinfo.where(col("start_codon_start").isNotNull)
    else tinfo
  }

  /** The `-i` variant rows, normalized with the `-af` threshold. */
  def variants(spark: SparkSession, opts: Map[String, String]): DataFrame =
    Vcf.normalize(readVcfInput(spark, opts),
      opts.getOrElse("af", "0").toDouble)

  /** What both modes read: the [[variants]], the selected transcript
    * intervals and their [[transcriptInfo]].
    */
  def inputs(spark: SparkSession, opts: Map[String, String])
  : (DataFrame, DataFrame, DataFrame) = {
    val gtf = Gtf.read(spark, opts("db"))
    val transcripts = transcriptIntervals(spark, gtf, opts)
    (variants(spark, opts), transcripts,
      transcriptInfo(spark, gtf, transcripts, opts))
  }

  /** `-bin_size`: bin width of the variant-to-transcript interval join. */
  def binSize(opts: Map[String, String]): Long =
    opts.getOrElse("bin_size", "100000").toLong

  /** Content-derived haplotype ID: `idPrefix` + the first 12 hex digits
    * of md5("transcript|vcf_ids").
    */
  def haplotypeId(idPrefix: String): Column =
    concat(lit(idPrefix), substring(
      md5(concat(col("transcript"), lit("|"), col("vcf_ids"))), 1, 12))

  /** Reference metadata column layout (process_haplotypes.py:9-32). */
  def metadataFrame(db: DataFrame, idPrefix: String): DataFrame =
    db.select(
      col("transcript").as("TranscriptID"),
      col("chromosome"),
      col("biotype").as("transcript_biotype"),
      haplotypeId(idPrefix).as("HaplotypeID"),
      col("vcf_ids").as("VCF_IDs"),
      col("dna_changes").as("DNA_changes"),
      col("allele_freqs").as("allele_frequencies"),
      col("cdna_changes").as("cDNA_changes"),
      col("all_protein_changes"),
      col("variant_types"),
      col("protein_changes"),
      col("reading_frame"),
      col("protein_prefix_length"),
      col("start_missing"),
      col("start_lost"),
      col("splice_sites_affected"),
      col("occurrence_count"),
      col("frequency"),
      col("frequency_population"),
      col("frequency_superpopulation"),
      col("samples"))

  /** Protein FASTA entries: one per distinct sequence
    * ([[HaploProteins.dedupProteins]] keyed by [[haplotypeId]]), header
    * `tag|{accPrefix}_{md5_12}|matching_proteins:... start:N
    * reading_frame:r1;r2` (prohap.py:174-179, content-derived accession).
    */
  def fastaEntries(db: DataFrame, tag: String, accPrefix: String,
                   idPrefix: String): DataFrame =
    HaploProteins.dedupProteins(db, haplotypeId(idPrefix))
      .select(lit(tag).as("tag"),
        concat(lit(accPrefix), lit("_"),
          substring(md5(col("protein_sequence")), 1, 12)).as("accession"),
        concat(lit("matching_proteins:"), col("haplotypes"),
          lit(" start:"), col("start"),
          lit(" reading_frame:"), col("rfs")).as("description"),
        col("protein_sequence").as("sequence"))

  /** cDNA FASTA entries: [[HaploProteins.dedupCdna]] keyed by
    * [[haplotypeId]].
    */
  def cdnaEntries(db: DataFrame, tag: String, idPrefix: String)
  : DataFrame =
    cdnaFasta(HaploProteins.dedupCdna(db, haplotypeId(idPrefix)), tag,
      "cdna_")

  /** FASTA rows of a [[HaploProteins.dedupCdna]] frame: accession
    * `{accPrefix}{md5_12}`, description `haplotypes start:N`
    * (prohap.py:184-193 header layout inside the tag|accession|description
    * grammar [[Fasta.write]] emits).
    */
  def cdnaFasta(dedup: DataFrame, tag: String, accPrefix: String)
  : DataFrame =
    dedup.select(lit(tag).as("tag"),
      concat(lit(accPrefix), substring(md5(col("cdna_sequence")), 1, 12))
        .as("accession"),
      concat(col("haplotypes"), lit(" start:"), col("cdna_start"))
        .as("description"),
      col("cdna_sequence").as("sequence"))

  def write(df: DataFrame, path: String, opts: Map[String, String],
            asFasta: Boolean): Unit = {
    val out = if (opts.getOrElse("single_file", "0") == "1") df.coalesce(1)
    else df
    if (asFasta) Fasta.write(out, path)
    else out.write.mode("overwrite").option("sep", "\t")
      .option("header", "true").csv(path)
  }

  /** The three outputs of a protein database: `-output_csv` metadata TSV,
    * `-output_fasta` protein FASTA and, with `-output_cdna_fasta`, the
    * cDNA FASTA. `-tag`, `-acc_prefix` and `-id_prefix` override the
    * mode's defaults.
    */
  def writeOutputs(db: DataFrame, opts: Map[String, String], tag: String,
                   accPrefix: String, idPrefix: String): Unit = {
    val t = opts.getOrElse("tag", tag)
    val id = opts.getOrElse("id_prefix", idPrefix)
    write(metadataFrame(db, id), opts("output_csv"), opts, asFasta = false)
    write(fastaEntries(db, t, opts.getOrElse("acc_prefix", accPrefix), id),
      opts("output_fasta"), opts, asFasta = true)
    opts.get("output_cdna_fasta").foreach { p =>
      write(cdnaEntries(db, t, id), p, opts, asFasta = true)
    }
  }

  /** One CLI invocation: session, database, outputs, cache release and
    * session stop.
    */
  def cliMain(args: Array[String], app: String, tag: String,
              accPrefix: String, idPrefix: String)(
      run: (SparkSession, Map[String, String]) => DataFrame): Unit = {
    val opts = parseArgs(args)
    val spark = session(opts, app)
    spark.sparkContext.setLogLevel("WARN")
    val db = run(spark, opts).persist()
    writeOutputs(db, opts, tag, accPrefix, idPrefix)
    GenomicPipeline.releaseCaches()
    db.unpersist()
    spark.stop()
  }
}

/** ProHap end-to-end CLI (prohap.py:20-100): VCF + GTF + cDNA FASTA +
  * sample TSV -> per-haplotype protein metadata TSV + deduplicated
  * protein FASTA (+ optional mutated-cDNA FASTA).
  *
  * {{{
  * sbt "runMain graft.Prohap -i fixtures/sample.vcf
  *   -db fixtures/annotations.gtf -cdna fixtures/cdna.fasta
  *   -s fixtures/samples.tsv -af 0 -min_hap_count 0
  *   -output_csv /tmp/haplo.tsv -output_fasta /tmp/haplo.fasta
  *   -output_cdna_fasta /tmp/haplo_cdna.fasta -single_file 1"
  * }}}
  */
object Prohap {
  import ProHapCli._

  /** The pipeline minus the SparkSession/paths; the mutated-cDNA columns
    * are kept when `-output_cdna_fasta` is given.
    */
  def run(spark: SparkSession, opts: Map[String, String]): DataFrame =
    database(spark, opts, keepCdna = opts.contains("output_cdna_fasta"))

  def database(spark: SparkSession, opts: Map[String, String],
               keepCdna: Boolean): DataFrame = {
    val (norm, transcripts, tinfo) = inputs(spark, opts)
    val meta = samplesMeta(spark, opts("s"))
    val gts = genotypesByTranscript(norm,
      Vcf.sampleNamesAuto(spark, opts("i")), meta, transcripts,
      opts.getOrElse("x_par1_to", "2781479").toLong,
      opts.getOrElse("x_par2_from", "155701383").toLong,
      binSize(opts))
    val metaOpt =
      if (Seq("population", "superpopulation").forall(
        meta.columns.contains(_))) Some(meta)
      else None
    val minFreq = opts.getOrElse("min_hap_freq", "-1").toDouble
    val minCount =
      if (minFreq >= 0) 0L else opts.getOrElse("min_hap_count", "0").toLong
    val db = HaploProteins.proteinDatabase(
      GenomicPipeline.haploInputFrom(gts, metaOpt, tinfo),
      forceRf = opts.getOrElse("force_rf", "1") == "1",
      ignoreUtr = opts.getOrElse("ignore_UTR", "1") == "1",
      skipStartLoss = opts.getOrElse("skip_start_lost", "1") == "1",
      minCount = minCount,
      keepCdna = keepCdna)
    if (minFreq >= 0) db.where(col("frequency") >= minFreq) else db
  }

  def main(args: Array[String]): Unit =
    cliMain(args, "graft-prohap", "generic_enshap", "enshap", "haplo_")(run)
}

/** ProVar end-to-end CLI (provar.py:14-57): one protein row per variant x
  * transcript — no haplotype grouping, UTRs kept, synonymous kept.
  */
object Provar {
  import ProHapCli._

  def run(spark: SparkSession, opts: Map[String, String]): DataFrame = {
    val (norm, transcripts, tinfo) = inputs(spark, opts)
    // one row per allele line: multi-allelic rows share a VCF id, so the
    // per-allele id is made unique (provar emits one row per allele)
    val perVariant = IntervalJoin.pointsInIntervals(
      norm.select(col("chrom"), col("pos"), col("id"), col("ref"),
        col("alt"), col("allele_af")),
      transcripts, Seq("chrom"), binSize(opts))
      .select("transcript", "id", "pos", "ref", "alt", "allele_af")
      .distinct()
      .withColumn("varId", concat(col("id"), lit(":"), col("alt")))
      .withColumn("changes", array(struct(col("pos"), col("varId"),
        col("ref"), col("alt"), col("allele_af").as("af"))))
      .withColumn("signature", col("varId"))
      .withColumn("hap_count", lit(1L))
      .withColumn("frequency", lit(0.0))
      .withColumn("samples", lit(""))
      .drop("id")
    HaploProteins.proteinDatabase(perVariant.join(tinfo, Seq("transcript")),
      forceRf = opts.getOrElse("force_rf", "1") == "1",
      ignoreUtr = false, skipStartLoss = false, requireNonSyn = false,
      keepCdna = opts.contains("output_cdna_fasta"))
  }

  def main(args: Array[String]): Unit =
    cliMain(args, "graft-provar", "generic_var", "var", "var_")(run)
}
