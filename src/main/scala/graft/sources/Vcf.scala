package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions

/** VCF source.
  *
  * Reference behavior: /root/reference/src/modules/vcf_reader.py (header
  * skip, AF extraction from INFO, allele-validity check) and
  * /root/reference/src/vcf_filter_fix.py (multi-allelic split, per-allele
  * AF filter, genotype re-indexing, haploid "x" -> "x|0" padding).
  *
  * Spark-first design: a VCF is a splittable text file — `spark.read.text`
  * distributes the scan, header lines are dropped with a filter, and all
  * field parsing is native column expressions (split/regexp), so a 100 TB
  * VCF shard set parses in parallel with whole-stage codegen. Only the
  * single `#CHROM` header line (sample names) is read on the driver.
  */
object Vcf {

  /** Default allele-frequency INFO keys: `AF` with `MAF` fallback —
    * 1000 Genomes-era VCFs commonly carry `MAF=` instead of `AF=`
    * (vcf_filter_fix.py exposes this as the `-af_field` option).
    */
  val defaultAfFields: Seq[String] = Seq("AF", "MAF")

  /** Read VCF file(s) into the standard parsed schema. `afFields` picks the
    * INFO key(s) for the allele-frequency column, first match wins.
    */
  def read(spark: SparkSession, path: String,
           afFields: Seq[String] = defaultAfFields): DataFrame =
    parseLines(spark.read.text(path), "value", afFields)

  /** Format-dispatching read, routed on CONTENT ([[Bgzf.sniff]] — the
    * path suffix lies: a bare directory of BCF shards, e.g. the repo's
    * own `Bcf.writeSharded` output, has no extension, and suffix
    * dispatch silently text-parsed its binary bytes to a near-empty
    * frame). BCF magic → the DSv2 [[Bcf.readTable]] relation; BGZF text
    * → the DSv2 [[readTable]] relation (byte-range splittable, so a
    * single huge cohort VCF does not read on one task, and SQL-shaped
    * chrom/pos filters prune to the bisected byte windows automatically
    * — per shard in a directory); BAM magic → a loud error (alignment
    * rows are not VCF-shaped); plain gzip and raw text → the text
    * parse. Single files, directories and globs route alike. Every VCF
    * branch emits the identical row shape, so callers (the CLIs) take
    * any of them transparently. Genuinely mixed directories error
    * loudly in the sniff.
    *
    * Sortedness: the DSv2 branch's filter pushdown bisects assuming
    * coordinate-sorted shards (the tabix contract), but it does not
    * TRUST the assumption — every bisection verifies probe-key
    * monotonicity ([[Bgzf.monotonicProbe]]) and an unsorted shard
    * falls back to the always-correct full scan of that file, so
    * routing unsorted sharded directories here degrades pruning, never
    * rows.
    */
  def readAuto(spark: SparkSession, path: String,
               afFields: Seq[String] = defaultAfFields): DataFrame =
    Bgzf.sniff(spark, path).format match {
      case Bgzf.Format.Bcf => Bcf.readTable(spark, path, afFields)
      case Bgzf.Format.Bam => throw new IllegalArgumentException(
        s"$path sniffs as BAM — alignment rows are not VCF-shaped; " +
          "read it through Bam.readTable")
      case Bgzf.Format.BgzfText => readTable(spark, path, afFields)
      case _ => read(spark, path, afFields)
    }

  /** The DSv2 relation over BGZF VCF ([[VcfBgzfSource]]): the
    * [[read]] rows, byte-range splittable — one partition per
    * `splitSize` range per file, each scanning forward to a
    * signature-verified member start and inflating only the members
    * that start inside it (so `splitSize` >= the file length reads each
    * file whole on one task). Region pruning is automatic: a
    * `WHERE chrom = '17' AND pos BETWEEN a AND b` on this frame routes
    * through `SupportsPushDownFilters` into the same per-file bisected
    * byte windows [[readRegion]] plans, with every filter re-applied
    * above the scan so pruning can only skip bytes, never change rows.
    */
  def readTable(spark: SparkSession, path: String,
                afFields: Seq[String] = defaultAfFields,
                splitSize: Long = 32L << 20): DataFrame =
    spark.read.format(classOf[VcfBgzfSource].getName)
      .option("afFields", afFields.mkString(","))
      .option("splitSize", splitSize.toString)
      .load(path)

  /** Region read of a coordinate-sorted bgzipped VCF — the
    * `chr17:41100000-41300000` access pattern WITHOUT a .tbi index and
    * without scanning the file: a driver-side O(log members) binary
    * search over the BGZF member chain ([[Bgzf.regionWindow]]) prunes
    * every member whose span misses the region, then only the matching
    * byte window reads (splittably) and re-filters on the parsed
    * columns. Returns the [[read]] row shape restricted to
    * chrom:start-end (pos inclusive on both ends).
    *
    * Contract (same as tabix): records sorted by (contig, pos) with the
    * contig order given by the header's `##contig` lines. Files without
    * `##contig` lines — or a region chrom the header doesn't declare —
    * can't be ranked, so they fall back to the full splittable scan +
    * filter: always correct, just not pruned. The reference pipeline
    * hand-builds this access pattern as per-chromosome input VCFs
    * (/root/reference/Snakefile); this subsumes it for any region.
    */
  def readRegion(spark: SparkSession, path: String, chrom: String,
                 start: Long, end: Long,
                 afFields: Seq[String] = defaultAfFields,
                 splitSize: Long = 32L << 20,
                 maxSpan: Long = 10000L): DataFrame =
    readRegions(spark, path, Seq((chrom, start, end)), afFields,
      splitSize, maxSpan)

  /** Multi-region (target-panel) read: [[readRegion]] generalized to a
    * region LIST and to sharded layouts — directories, globs, and the
    * per-chromosome shard fleets cohort VCFs actually ship as (the
    * reference pipeline's Snakefile hand-feeds exactly that layout).
    * Every file bisects independently per region (shards are
    * self-describing and independently sorted — the tabix-per-shard
    * model), overlapping/adjacent byte windows merge so no byte reads
    * twice ([[Bgzf.mergeWindows]]), and one distributed scan reads all
    * merged windows. Files the bisection contract can't rank (plain
    * text, non-BGZF gzip, headers without `##contig` lines, or a
    * queried chrom the header doesn't declare) fall back to a full
    * (splittable where the container allows) scan of THAT file only —
    * always correct, just not pruned. The fallback is all-or-nothing
    * PER FILE: one undeclared region chrom (a `chrM` panel row against
    * an `MT` header — the classic alias hazard) forfeits ALL pruning
    * for that file, because windows plus a full scan of the same file
    * would double-count its rows. Normalize panel contig names to the
    * header's convention before calling. Rows are re-filtered on the
    * parsed columns under bcftools `-r` OVERLAP semantics: a record
    * whose REF allele spans into any region belongs to it (rlen
    * approximated as length(ref); symbolic ALTs whose true END lives in
    * INFO rank by their REF base only — documented divergence). The
    * lower search target backs off by `maxSpan`, so REF alleles longer
    * than it may be missed (the .bai-linear-index coarseness class).
    *
    * Driver cost: O(files · regions · log fileLen) sequential probe
    * reads — a 100-region panel over a 1000-shard fleet is ~1M tiny
    * positioned reads at worst; callers with panels that dense should
    * pre-prune the shard list by naming convention. Executor cost: the
    * merged windows only.
    */
  def readRegions(spark: SparkSession, path: String,
                  regions: Seq[(String, Long, Long)],
                  afFields: Seq[String] = defaultAfFields,
                  splitSize: Long = 32L << 20,
                  maxSpan: Long = 10000L): DataFrame = {
    require(regions.nonEmpty, "readRegions wants at least one region")
    // content dispatch, not suffix (see readAuto): a directory of BCF
    // shards must bisect through the binary planner. The sniff's
    // resolved file list is REUSED by the planner below — no second
    // listing.
    val sn = Bgzf.sniff(spark, path)
    sn.format match {
      case Bgzf.Format.Bcf =>
        return Bcf.readRegions(spark, path, regions, afFields,
          splitSize, maxSpan)
      case Bgzf.Format.Bam => throw new IllegalArgumentException(
        s"$path sniffs as BAM — alignment rows are not VCF-shaped; " +
          "read it through Bam.readRegion")
      case _ =>
    }
    val inAny = regions.map { case (chrom, start, end) =>
      col("chrom") === chrom && col("pos") <= end &&
        col("pos") + length(col("ref")) - 1 >= start
    }.reduce(_ || _)
    val plan = regionPlan(spark, path, regions, maxSpan,
      filesHint = sn.files)
    // the bisected windows — and any BGZF full-scan-fallback files,
    // tiled whole — read through the DSv2 relation with the finished
    // plan as a field, so Catalyst's COLUMN PRUNING reaches the
    // per-line parse: a panel read that only aggregates pos must not
    // split 20 genotype columns per line (the r16 bench's 20×
    // vsqx-vs-vpnx gap was exactly this). Only non-BGZF fallback files
    // (plain text / plain gzip in a mixed directory) still parse
    // through the column pipeline.
    val bgzfWindows = plan.windows ++
      plan.fullScan.filter(_.isBgzf).map(f =>
        Bgzf.FileWindow(f.path, f.len, 0L, f.len, 0))
    val textFrames = plan.fullScan.filterNot(_.isBgzf).map(f =>
      parseLines(spark.read.text(f.path), "value", afFields))
    (BgzfTable.planned(spark, VcfBgzfSource.container(afFields), path,
      splitSize, bgzfWindows) +: textFrames)
      .reduce(_.unionAll(_))
      .where(inAny)
  }

  /** [[readRegions]] with the panel carried as an interval FRAME — the
    * [[Bed.toIntervals]] shape (chrom, start, end — 1-based inclusive),
    * so a BED target panel drives the read directly:
    * `Vcf.readPanel(s, cohort, Bed.toIntervals(Bed.read(s, panelBed)))`.
    * The panel is a PLAN input (each region steers a driver-side
    * bisection), so it collects to the driver; `maxRegions` guards
    * against a mistakenly-huge frame — past that size a panel stops
    * being a panel and callers should full-scan + interval-join
    * instead.
    */
  def readPanel(spark: SparkSession, path: String, panel: DataFrame,
                afFields: Seq[String] = defaultAfFields,
                splitSize: Long = 32L << 20, maxSpan: Long = 10000L,
                maxRegions: Int = 100000): DataFrame =
    readRegions(spark, path, collectPanel(panel, maxRegions), afFields,
      splitSize, maxSpan)

  /** Collect an interval frame (chrom, start, end) into the region list
    * the readRegions planners take, capped loudly.
    */
  private[sources] def collectPanel(panel: DataFrame,
      maxRegions: Int): Seq[(String, Long, Long)] = {
    val rows = panel.select(col("chrom").cast("string"),
      col("start").cast("long"), col("end").cast("long"))
      .limit(maxRegions + 1).collect()
    require(rows.length <= maxRegions,
      s"panel exceeds $maxRegions regions — full-scan + interval-join " +
        "instead of a per-region bisection plan")
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
  }

  /** A file [[regionPlan]] could not bisect — read whole: its length
    * (so consumers never re-stat it) and whether it is BGZF (so they
    * never re-peek; picks the splittable reader vs plain text).
    */
  private[graft] case class FullScanFile(path: String, len: Long,
                                         isBgzf: Boolean)

  /** Driver-side byte plan of [[readRegions]]: per (file, region)
    * bisected windows (merged per file) plus the files that must full-
    * scan. Package-visible so the specs can pin probe counts and merged
    * window sizes without running the scan.
    */
  private[graft] case class RegionPlan(windows: Seq[Bgzf.FileWindow],
                                       fullScan: Seq[FullScanFile],
                                       probes: Int)

  private[graft] def regionPlan(spark: SparkSession, path: String,
                                regions: Seq[(String, Long, Long)],
                                maxSpan: Long,
                                filesHint: Seq[(String, Long)] = null)
    : RegionPlan = {
    // filesHint: callers that already resolved the layout (readRegions'
    // sniff) pass their list so the planner never re-lists
    val files =
      if (filesHint != null) filesHint
      else Bgzf.resolveFiles(spark, path)
    // per-file planning is independent; results recombine in file
    // order so the plan stays deterministic. Bgzf.planFiles fans out
    // across driver threads (files OR regions, never both) and — past
    // the distribute threshold — as a small Spark job of per-shard
    // planning tasks.
    val useIndex =
      spark.conf.get("spark.graft.useIndex", "true").toBoolean
    val perFile = Bgzf.planFiles(spark, files, regions.size) {
      (conf, fp, len, regionPar) =>
        planFile(conf, fp, len, regions, maxSpan, regionPar, useIndex)
    }
    val windows = perFile.flatMap(_._1)
    RegionPlan(Bgzf.mergeWindows(windows), perFile.flatMap(_._2),
      windows.map(_.probes).sum)
  }

  /** One file's share of [[regionPlan]] — Configuration-based so
    * [[Bgzf.planFiles]] can run it on executors for dense
    * panel×fleet plans.
    */
  private[sources] def planFile(
      conf: org.apache.hadoop.conf.Configuration, fp: String, len: Long,
      regions: Seq[(String, Long, Long)], maxSpan: Long, regionPar: Int,
      useIndex: Boolean = true)
    : (Seq[Bgzf.FileWindow], Option[FullScanFile]) = {
    // plain .vcf / non-BGZF gzip have no member chain to bisect, and
    // an unranked chrom can't be ordered against the data
    val isBgzf = Bgzf.isBgzf(conf, fp)
    // a usable sidecar `.tbi` replaces the bisection outright: zero
    // probe reads, spans exact past the maxSpan back-off, and a chrom
    // absent from the index's name table prunes to nothing (indexed
    // files have no unrankable-chrom fallback class). Stale or
    // unreadable sidecars already fell back inside Tabix.sidecar.
    if (useIndex && isBgzf) {
      Tabix.vcfSidecar(conf, fp) match {
        case Some(idx) =>
          return (Tabix.queryWindows(idx, fp, len, regions,
            idx.nameToId.get), None)
        case None =>
      }
    }
    val ranks =
      if (isBgzf) contigRanks(conf, fp)
      else Map.empty[String, Int]
    if (regions.exists(r => !ranks.contains(r._1)))
      (Seq.empty[Bgzf.FileWindow],
        Some(FullScanFile(fp, len, isBgzf)))
    else {
      val keyOf: String => Option[Long] = { line =>
        if (line.isEmpty || line.charAt(0) == '#') None
        else {
          val t1 = line.indexOf('\t')
          if (t1 < 0) None
          else {
            val t2 = line.indexOf('\t', t1 + 1)
            val c = line.substring(0, t1)
            val p = line.substring(t1 + 1,
              if (t2 < 0) line.length else t2)
            for {
              rk <- ranks.get(c)
              pv <- p.toLongOption
            } yield Bgzf.sortKey(rk, pv)
          }
        }
      }
      // one batched regionWindows call per file: every search shares
      // the per-member probe memo
      val keyRanges = regions.map { case (chrom, start, end) =>
        Bgzf.keyRange(ranks(chrom), start, end, maxSpan)
      }
      try (Bgzf.regionWindows(conf, fp, len, Bgzf.lineProbe(fp, len, keyOf),
        keyRanges, regionPar), None)
      catch {
        // probe-key inversion: the file breaks the sorted contract, so
        // its bisected windows can't be trusted — full scan of THIS
        // file only (correct, just unpruned), all-or-nothing like the
        // unrankable-chrom class above
        case _: Bgzf.UnsortedFile =>
          (Seq.empty[Bgzf.FileWindow],
            Some(FullScanFile(fp, len, isBgzf = true)))
      }
    }
  }

  /** Contig order from the header's `##contig=<ID=...>` lines — the
    * sort rank [[readRegion]] binary-searches against. One tiny
    * driver-side streaming read of the compressed header members only
    * (the reader stops at the first non-header line, so a 100 GB file
    * costs a few KB).
    */
  private[sources] def contigRanks(
      conf: org.apache.hadoop.conf.Configuration,
      path: String): Map[String, Int] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      val br = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.util.zip.GZIPInputStream(in),
        java.nio.charset.StandardCharsets.UTF_8))
      val id = "##contig=<ID=([^,>]+)".r
      val contigs = scala.collection.mutable.LinkedHashSet.empty[String]
      var line = br.readLine()
      var headerLines = 0
      while (line != null && line.startsWith("#") &&
        headerLines < 1000000) {
        id.findFirstMatchIn(line).foreach(m => contigs += m.group(1))
        headerLines += 1
        line = br.readLine()
      }
      contigs.toSeq.zipWithIndex.toMap
    } finally {
      try in.close() catch { case _: java.io.IOException => }
    }
  }

  /** [[sampleNames]] across formats: BCF carries the `#CHROM` line in
    * its embedded header text. Content dispatch, first file only —
    * shards of one cohort share the header.
    */
  def sampleNamesAuto(spark: SparkSession, path: String): Seq[String] =
    Bgzf.sniff(spark, path, checkAll = false).format match {
      case Bgzf.Format.Bcf => Bcf.sampleNames(spark, path)
      case Bgzf.Format.Bam => throw new IllegalArgumentException(
        s"$path sniffs as BAM — it carries no #CHROM sample columns")
      case _ => sampleNames(spark, path)
    }

  /** Sample names from the `#CHROM` header line (fields 10+), in column
    * order. VCF genotype columns are anonymous positions until tied to
    * these names. One tiny driver-side read of the header line only.
    */
  def sampleNames(spark: SparkSession, path: String): Seq[String] = {
    import spark.implicits._
    spark.read.text(path)
      .where(col("value").startsWith("#CHROM"))
      .limit(1).as[String].collect()
      .headOption
      .map(_.stripSuffix("\r").split("\t").drop(9).toSeq)
      .getOrElse(Seq.empty)
  }

  /** Parse a DataFrame of raw VCF lines (column `c`) into
    * (chrom, pos, id, ref, alt, qual, filter, info, genotypes, af).
    * `af` is the raw (possibly comma-separated, per-ALT-allele) AF string
    * from the first `afFields` INFO key present on the row (configurable
    * AF field per vcf_filter_fix.py:25-31 `get_MAF`/`--af_field`);
    * a trailing \r (CRLF input) is stripped so the last field stays clean.
    */
  def parseLines(lines: DataFrame, c: String,
                 afFields: Seq[String] = defaultAfFields): DataFrame = {
    val f = split(regexp_replace(col(c), "\r$", ""), "\t")
    lines
      .where(!col(c).startsWith("#") && length(trim(col(c))) > 0)
      .select(
        try_element_at(f, lit(1)).as("chrom"),
        // digit-guarded: a pushed-down inferred predicate must not ANSI-
        // cast the '#CHROM' header's 'POS' field (see sources.Casts)
        Casts.tryLong(try_element_at(f, lit(2))).as("pos"),
        try_element_at(f, lit(3)).as("id"),
        try_element_at(f, lit(4)).as("ref"),
        try_element_at(f, lit(5)).as("alt"),
        try_element_at(f, lit(6)).as("qual"),
        try_element_at(f, lit(7)).as("filter"),
        try_element_at(f, lit(8)).as("info"),
        slice(f, lit(10), greatest(size(f) - 9, lit(0))).as("genotypes")
      )
      .withColumn("af",
        coalesce(afFields.map(k => infoField(col("info"), k)): _*))
  }

  /** Extract a key=value field from a VCF INFO string (raw string value). */
  def infoField(info: Column, key: String): Column = {
    val v = regexp_extract(info, "(?:^|;)" + key + "=([^;]+)", 1)
    when(v === "", null).otherwise(v)
  }

  /** Allele validity per vcf_reader.py:24-27 — REF/ALT must be ACGT runs or
    * the deletion marker "-".
    */
  def validAllele(a: Column): Column = a.rlike("^([ACGT]+|-)$")

  /** Normalize: split multi-allelic rows into one row per ALT (pairing each
    * allele with ITS OWN AF from the comma-separated AF string, per
    * vcf_filter_fix.py:84-92), rewrite genotypes against the chosen allele,
    * drop invalid alleles, and filter by AF threshold (rows without a
    * parseable AF pass only when minAf <= 0).
    * The genotype rewrite is one compiled kernel call per row,
    * `graft_rewrite_gts(genotypes, allele)`
    * ([[graft.functions.NativeSeqOps.rewriteGts]]): per call it drops the
    * FORMAT suffix, pads a haploid "x" to "x|0", and maps the chosen
    * allele to 1, "." to "." and every other allele to 0, '|'-joined.
    * Adds: alt (single allele), allele_af (double), genotypes (rewritten).
    */
  def normalize(parsed: DataFrame, minAf: Double = 0.0): DataFrame = {
    val exploded = parsed
      .select(col("*"),
        posexplode(split(col("alt"), ",")).as(Seq("_ai", "_alt")))
      .withColumn("allele_af",
        Casts.tryDouble(
          element_at(split(col("af"), ","), col("_ai") + 1)))
      .withColumn("genotypes", GraftFunctions.call("graft_rewrite_gts",
        col("genotypes"), col("_ai") + 1))
      .drop("alt").withColumnRenamed("_alt", "alt")
      .drop("_ai")
      .where(validAllele(col("ref")) && validAllele(col("alt")))
    if (minAf <= 0) exploded
    else exploded.where(col("allele_af").isNotNull &&
      col("allele_af") >= minAf)
  }

  /** Header lines for an assembled VCF file: minimal ##fileformat/##INFO/
    * ##FORMAT declarations plus the #CHROM line carrying `samples` in
    * column order. Callers building standalone single-file VCFs prepend
    * these to the body [[writeVariants]] produces.
    */
  /** bcftools-merge-style horizontal cohort merge: the union of both
    * cohorts' sites with genotype columns CONCATENATED (cohort A's
    * samples first), sites absent from one cohort padded with that
    * cohort's width of missing "./."  calls — how per-center VCFs
    * become one cohort. Rows key on (chrom, pos, id, ref, alt), so
    * split multi-allelic rows merge per allele (both inputs are
    * expected post-[[normalize]]). Each cohort's sample width is read
    * from its own rows (one 1-row max aggregate, broadcast — bcftools
    * reads it from the header); the merge itself is ONE full-outer
    * sort-merge join on the variant key, the honest shape for a
    * biobank-scale site union.
    */
  def mergeCohorts(a: DataFrame, b: DataFrame): DataFrame = {
    def width(df: DataFrame, name: String) =
      df.agg(max(size(col("genotypes"))).as(name))
    def pad(n: Column) =
      transform(sequence(lit(1), n), _ => lit("./."))
    val joined = a
      .select(col("chrom"), col("pos"), col("id"), col("ref"),
        col("alt"), col("genotypes").as("_ga"))
      .join(b.select(col("chrom"), col("pos"), col("id"), col("ref"),
        col("alt"), col("genotypes").as("_gb")),
        Seq("chrom", "pos", "id", "ref", "alt"), "full_outer")
    joined
      .crossJoin(broadcast(width(a, "_wa")))
      .crossJoin(broadcast(width(b, "_wb")))
      .select(col("chrom"), col("pos"), col("id"), col("ref"),
        col("alt"),
        concat(coalesce(col("_ga"), pad(col("_wa"))),
          coalesce(col("_gb"), pad(col("_wb")))).as("genotypes"))
  }

  def headerLines(samples: Seq[String]): Seq[String] =
    headerLines(samples, Seq.empty)

  /** [[headerLines]] carrying `##contig` declarations in SORT-RANK
    * order — the ranking [[readRegion]]'s bisection (and tabix) reads
    * back, so a [[writeSharded]] layout is region-readable.
    */
  def headerLines(samples: Seq[String],
                  contigs: Seq[String]): Seq[String] =
    Seq("##fileformat=VCFv4.2") ++
      contigs.map(c => s"##contig=<ID=$c>") ++ Seq(
      "##INFO=<ID=AF,Number=A,Type=Float,Description=\"Allele Frequency\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      (Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT") ++ samples).mkString("\t"))

  /** VCF sink for normalized variant rows (the [[normalize]] schema:
    * chrom, pos, id, ref, alt, allele_af, genotypes). INFO is rebuilt as
    * `AF=<allele_af>` (both Spark and DuckDB render doubles
    * shortest-round-trip, so the value survives a write->read->cast
    * cycle bit-exactly); absent qual/filter/AF render as '.', the VCF
    * missing marker. Body lines only — one shard file per partition,
    * headerless, the layout a 1000-executor writer actually produces
    * (headers would repeat mid-directory and break a concatenated read;
    * [[parseLines]] and every VCF tool's header-skip handle prepending
    * [[headerLines]] to assembled single files). Pure column rendering
    * inside whole-stage codegen; caller controls partitioning, exactly
    * like [[Fasta.write]] / [[Bed.writeIntervals]].
    */
  def writeVariants(df: DataFrame, path: String): Unit =
    bodyLines(df).write.mode("overwrite").text(path)

  /** The body-line rendering shared by [[writeVariants]] (plain-text
    * shards) and [[writeSharded]] (sorted BGZF shards): one `value`
    * column of tab-joined VCF lines, pure column expressions inside
    * whole-stage codegen.
    */
  private[sources] def bodyLines(df: DataFrame): DataFrame = {
    val hasQual = df.columns.contains("qual")
    val hasFilter = df.columns.contains("filter")
    val qual = if (hasQual) coalesce(col("qual"), lit(".")) else lit(".")
    val filt = if (hasFilter) coalesce(col("filter"), lit(".")) else lit(".")
    val info = when(col("allele_af").isNotNull,
      concat(lit("AF="), col("allele_af").cast("string"))).otherwise(".")
    // EVERY field coalesces to '.': concat_ws silently SKIPS nulls, so an
    // uncoalesced null id/ref/alt would shift all later columns left and
    // emit a corrupt (mis-parsing, not missing-marked) line
    def d(c: org.apache.spark.sql.Column) = coalesce(c, lit("."))
    df.select(concat_ws("\t",
      Seq(d(col("chrom")), d(col("pos").cast("string")), d(col("id")),
        d(col("ref")), d(col("alt")), qual, filt, info, lit("GT"),
        d(array_join(col("genotypes"), "\t"))): _*).as("value"))
  }

  /** Sorted sharded BGZF `.vcf.gz` sink — the layout [[readRegions]]
    * region-prunes, closing the engine's own round trip: BAM/BCF
    * already re-read their `writeSharded` output through the bisection
    * (g57b/g57c), but [[writeVariants]] emits headerless PLAIN-TEXT
    * shards — the exact full-scan-fallback class, so a graft→graft VCF
    * pipeline lost all pruning on its second stage.
    *
    * One complete bgzipped VCF per input partition under `dir`
    * (executor-side, [[Bgzf.writeShards]]'s atomic-rename commit, O(one
    * BGZF block) task memory), each carrying the FULL header —
    * `##contig` lines in `contigs` order plus the `#CHROM` sample line
    * — and internally SORTED by (contig rank, pos): the writer applies
    * `sortWithinPartitions` itself, so every shard satisfies the tabix
    * sortedness contract [[Bgzf.regionWindow]] bisects against no
    * matter how the caller partitioned. Callers choose the shard COUNT
    * and row placement (`repartitionByRange(n, col("chrom"),
    * col("pos"))` gives range-disjoint shards — the best layout for
    * pruning — but any partitioning round-trips). Chroms missing from
    * `contigs` sort LAST and carry no `##contig` line: region reads
    * against them fall back to a per-file full scan (correct, just
    * unpruned) — pass the complete contig list.
    *
    * Input: the [[normalize]] row shape ([[writeVariants]]'s contract).
    * Reference anchor: the Snakefile's per-chromosome `.vcf.gz` inputs
    * (/root/reference/Snakefile:139-150) — this makes graft output
    * graft-input-shaped.
    */
  def writeSharded(variants: DataFrame, contigs: Seq[String],
                   samples: Seq[String], dir: String,
                   blockSize: Int = 0xff00,
                   index: Boolean = false): Unit = {
    val sorted = sortedForShards(variants, contigs)
    val hdr = headerLines(samples, contigs)
      .mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Bgzf.writeShards(bodyLines(sorted).rdd, dir, ".vcf.gz", hdr,
      blockSize) { r =>
      (r.getString(0) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    // `index = true` finishes the tabix layout: one `.tbi` per shard
    // (distributed, one task each), so the directory is directly
    // servable by the index path here AND by external tabix readers
    if (index) Tabix.indexAll(variants.sparkSession, dir)
  }

  /** [[writeSharded]]'s row order: by rank in `contigs` (chroms not in
    * it last), then pos. The contig list is ONE array literal, so the
    * plan has the same size for 3 contigs as for the thousands of a
    * GRCh38 build with ALT and decoy contigs.
    */
  private[graft] def sortedForShards(variants: DataFrame,
                                     contigs: Seq[String]): DataFrame = {
    val rank = array_position(typedLit(contigs), col("chrom"))
    variants
      .withColumn("_rank",
        when(rank > 0, rank).otherwise(lit(Long.MaxValue)))
      .sortWithinPartitions(col("_rank"), col("pos"))
  }

  /** Long genotype matrix: one row per (variant, sample) with the sample
    * name resolved from the #CHROM header — requires `sampleNames`. The
    * names are ONE array literal (`typedLit(samples)`), not an array of
    * per-sample literals: a 2,504-sample cohort would otherwise add a
    * 2,504-child expression that every later `withColumn`/`select`
    * re-analyses. The optimized plan is the same either way.
    *
    * The explode is `posexplode_outer` plus a not-null filter on the
    * index, which keeps exactly `posexplode`'s rows: an inner
    * `posexplode` lets `InferFiltersFromGenerate` add a `size(genotypes)
    * > 0` filter that is pushed below [[normalize]]'s Project, where it
    * evaluates `graft_rewrite_gts` a second time per allele row.
    */
  def genotypesLong(parsed: DataFrame, samples: Seq[String]): DataFrame = {
    val names = typedLit(samples)
    parsed
      .select(col("*"),
        posexplode_outer(col("genotypes")).as(Seq("_si", "gt")))
      .where(col("_si").isNotNull)
      .withColumn("sample", element_at(names, col("_si") + 1))
      .drop("_si", "genotypes")
  }
}
