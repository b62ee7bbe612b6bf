package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.{Bgzf, Vcf}

/** Pins for the index-free BGZF region pushdown (Vcf.readRegion /
  * Bgzf.regionWindow): on a synthetic multi-chromosome sorted VCF the
  * binary search must (a) return exactly the full-scan-filter rows for
  * every region shape — interior, member-boundary-straddling, empty,
  * whole-chromosome, first/last record — and (b) inflate O(log n)
  * probe members, NOT the file: the property that turns a 100 GB
  * cohort VCF slice from a full scan into a few dozen member reads.
  * Files the contract can't rank (no ##contig header, undeclared
  * chrom) must fall back to the full splittable scan, still correct.
  */
class RegionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-region").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("region-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  // deterministic sorted multi-chrom VCF: `perChrom` records on each of
  // chr1/chr2/chrX, pos = 10*i + 10, alternating genotypes
  private def vcfText(perChrom: Int, contigHeaders: Boolean): String = {
    val chroms = Seq("chr1", "chr2", "chrX")
    val hdr = Seq("##fileformat=VCFv4.2") ++
      (if (contigHeaders) chroms.map(c => s"##contig=<ID=$c>")
       else Seq.empty) ++
      Seq("##INFO=<ID=AF,Number=A,Type=Float,Description=\"af\">",
        (Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
          "INFO", "FORMAT", "S1", "S2")).mkString("\t"))
    val body = for {
      c <- chroms
      i <- 0 until perChrom
    } yield Seq(c, (10 * i + 10).toString, s"rs${c}_$i", "A", "G", "99",
      "PASS", s"AF=0.${(i % 9) + 1}", "GT",
      if (i % 2 == 0) "0|1" else "1|1", "0|0").mkString("\t")
    (hdr ++ body).mkString("", "\n", "\n")
  }

  private def writeGz(name: String, text: String, blockSize: Int): String = {
    val p = s"$tmp/$name"
    Files.write(Paths.get(p),
      Bgzf.compress(text.getBytes("US-ASCII"), blockSize))
    p
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(concat_ws(":", col("chrom"), col("pos"), col("id")))
      .collect().map(_.getString(0)).toSeq.sorted

  test("region read == full scan + filter for every region shape") {
    val p = writeGz("multi.vcf.gz", vcfText(500, contigHeaders = true),
      blockSize = 512)
    val full = Vcf.read(spark, p)
    // bcftools -r overlap semantics (all REFs here are 1 bp, so this
    // equals containment — the multi-bp spanning case is pinned by the
    // fixture-shape test below and the g50/g50b gates)
    def expect(chrom: String, a: Long, b: Long): Seq[String] =
      rows(full.where(col("chrom") === chrom && col("pos") <= b &&
        col("pos") + length(col("ref")) - 1 >= a))
    val cases = Seq(
      ("chr2", 1010L, 1990L),  // interior slice
      ("chr1", 10L, 10L),      // exactly the first record of the file
      ("chrX", 5000L, 5000L),  // exactly the last record of the file
      ("chr2", 10L, 5000L),    // a whole chromosome
      ("chr1", 5001L, 9999L),  // past the chrom's last record: empty
      ("chr2", 1015L, 1015L),  // between records: empty
      ("chrX", 1L, 9L))        // before the chrom's first record: empty
    for ((c, a, b) <- cases) {
      val got = rows(Vcf.readRegion(spark, p, c, a, b, splitSize = 4096L))
      assert(got == expect(c, a, b), s"region $c:$a-$b")
    }
    assert(rows(Vcf.readRegion(spark, p, "chr2", 10L, 5000L)).size == 500)
  }

  test("the binary search probes O(log members), not the file") {
    // big enough that the search's 128 KiB termination floor (2x the
    // 64 KiB member-size bound — below it, bisection can't be proven to
    // make progress) is small against the file
    val text = vcfText(30000, contigHeaders = true)
    val p = writeGz("big.vcf.gz", text, blockSize = 256)
    val fileLen = Files.size(Paths.get(p))
    // count total members by walking BSIZE headers
    val bytes = Files.readAllBytes(Paths.get(p))
    var off = 0L
    var members = 0
    while (off < bytes.length) {
      val bs = ((bytes(off.toInt + 16) & 0xff) |
        ((bytes(off.toInt + 17) & 0xff) << 8)) + 1
      members += 1
      off += bs
    }
    assert(members > 300, s"fixture too small: $members members")
    val ranks = Map("chr1" -> 0, "chr2" -> 1, "chrX" -> 2)
    val keyOf: String => Option[Long] = { l =>
      if (l.isEmpty || l.charAt(0) == '#') None
      else {
        val f = l.split("\t")
        ranks.get(f(0)).map(r => (r.toLong << 32) | f(1).toLong)
      }
    }
    val w = Bgzf.regionWindow(spark, p, keyOf,
      (1L << 32) | 1010L, (1L << 32) | 1990L)
    val log2 = 64 - java.lang.Long.numberOfLeadingZeros(fileLen)
    assert(w.probes <= 2 * log2 + 8,
      s"probes ${w.probes} vs log2(bytes) $log2")
    assert(w.probes < members / 4,
      s"probes ${w.probes} vs $members members")
    // the window spans ~the region's share of the file, not the file
    assert(w.toByte - w.fromByte < fileLen / 4,
      s"window ${w.toByte - w.fromByte} of $fileLen bytes")
    assert(w.fromByte > 0 && w.toByte < fileLen)
  }

  test("no ##contig header -> full-scan fallback, still correct") {
    val p = writeGz("nocontig.vcf.gz",
      vcfText(200, contigHeaders = false), blockSize = 512)
    val full = Vcf.read(spark, p)
    val got = rows(Vcf.readRegion(spark, p, "chr2", 500L, 900L))
    assert(got == rows(full.where(col("chrom") === "chr2" &&
      col("pos").between(500, 900))))
    assert(got.nonEmpty)
  }

  test("region chrom the header doesn't declare -> fallback, empty " +
    "when absent from data too") {
    val p = writeGz("declared.vcf.gz",
      vcfText(50, contigHeaders = true), blockSize = 512)
    assert(Vcf.readRegion(spark, p, "chr7", 1L, 100L).count() == 0L)
  }

  test("BCF region read == full splittable read + filter, and an " +
    "undeclared chrom short-circuits to empty") {
    graft.fixtures.GenomicFixtures.ensure(spark)
    val bcf = graft.fixtures.GenomicFixtures.regionBcfPath(spark)
    // oracle: the independent text parse of the VCF the fixture encodes
    val full = Vcf.read(spark, graft.fixtures.GenomicFixtures.vcfPath)
    // overlap semantics: ("1", 45, 55) must include the 24-bp-REF
    // record at pos 39 that a pos-BETWEEN filter would lose
    for ((c, a, b) <- Seq(("1", 20L, 50L), ("1", 45L, 55L),
      ("1", 12L, 12L), ("X", 30L, 110L), ("1", 151L, 999L),
      ("X", 1L, 29L))) {
      val got = rows(graft.sources.Bcf.readRegion(spark, bcf, c, a, b))
      assert(got == rows(full.where(col("chrom") === c &&
        col("pos") <= b &&
        col("pos") + length(col("ref")) - 1 >= a)),
        s"bcf region $c:$a-$b")
    }
    assert(rows(graft.sources.Bcf.readRegion(spark, bcf, "1", 45L, 55L))
      .exists(_.startsWith("1:39:")), "spanning REF included")
    // "7" is not in the contig dictionary: no record can reference it
    val empty = graft.sources.Bcf.readRegion(spark, bcf, "7", 1L, 100L)
    assert(empty.count() == 0L)
    assert(empty.columns.toSeq ==
      full.columns.toSeq, "empty frame keeps the read schema")
  }

  test("BAM region read == overlap filter (samtools view semantics), " +
    "spanning reads included, unmapped reads never returned") {
    graft.fixtures.GenomicFixtures.ensure(spark)
    val bam = graft.fixtures.GenomicFixtures.regionBamPath(spark)
    // oracle: the independent text parse of the SAM the fixture encodes
    val full = graft.sources.Sam.read(spark,
      s"${graft.fixtures.GenomicFixtures.rawDir}/aligned.sam")
    def expectOverlap(c: String, a: Long, b: Long) =
      full.where(col("rname") === c && col("pos") <= b &&
        coalesce(col("ref_end"), col("pos")) >= a)
        .select("qname", "pos").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    for ((c, a, b) <- Seq(("1", 25L, 70L), ("1", 1L, 10L),
      ("X", 75L, 90L), ("1", 200L, 400L))) {
      val got = graft.sources.Bam.readRegion(spark, bam, c, a, b)
        .select("qname", "pos").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      assert(got == expectOverlap(c, a, b), s"bam region $c:$a-$b")
    }
    // the 1:11 30M read starts before 25 and spans into [25, 70]
    assert(graft.sources.Bam.readRegion(spark, bam, "1", 25L, 70L)
      .where(col("pos") === 11L).count() == 1L)
    // undeclared chrom: dictionary-closed, empty without a scan
    assert(graft.sources.Bam.readRegion(spark, bam, "chrNope", 1L, 9L)
      .count() == 0L)
  }

  test("bisection probes landing in a sorted BAM's large unmapped tail " +
    "rank +inf (regression: the raw bit-packed refID -1 key is " +
    "NEGATIVE and corrupted the search window)") {
    // 9000 mapped (c1/c2) + 18000 unmapped reads: the unmapped tail
    // covers the file's upper byte half, so both searches' first
    // probes land in it — with the bug, those probes returned a
    // negative key (< every mapped target), dragged lo into the tail,
    // and the region query silently emptied
    val refs = Seq(("c1", 300000000L), ("c2", 300000000L))
    val seqExpr = expr(
      "repeat(translate(md5(qname), '0123456789abcdef'," +
        " 'ACGTACGTACGTACGT'), 4)")
    val df = spark.range(27000).select(
      concat(lit("r"), col("id")).as("qname"),
      when(col("id") >= 9000, 4).otherwise(0).cast("int").as("flag"),
      when(col("id") >= 9000, lit(null)).otherwise(
        when(col("id") < 4500, "c1").otherwise("c2")).as("rname"),
      when(col("id") >= 9000, lit(null).cast("long")).otherwise(
        (pmod(col("id"), lit(4500)) * 100 + 1).cast("long")).as("pos"),
      lit(60).as("mapq"),
      when(col("id") >= 9000, "*").otherwise("128M").as("cigar"),
      lit(null).cast("string").as("rnext"),
      lit(null).cast("long").as("pnext"), lit(0L).as("tlen"),
      seqExpr.as("seq"), lit("I" * 128).as("qual"),
      lit(null).cast("string").as("tags"))
      .withColumn("seq", col("seq").cast("string"))
      .orderBy(col("rname").asc_nulls_last, col("pos").asc_nulls_last)
    val p = s"$tmp/unmapped-tail.bam"
    graft.sources.Bam.write(df, refs, p)
    assert(Files.size(Paths.get(p)) > 0x40000,
      s"file must exceed the 128 KiB search floor twice over " +
        s"(got ${Files.size(Paths.get(p))}) or bisection never runs")
    // oracle: the written reads themselves, decorated like a BAM read
    val full = graft.sources.Sam.decorate(df)
    for ((c, a, b) <- Seq(("c1", 50000L, 60000L),
      ("c2", 100000L, 150000L), ("c2", 1L, 200L))) {
      val want = full.where(col("rname") === c && col("pos") <= b &&
        coalesce(col("ref_end"), col("pos")) >= a).count()
      val got = graft.sources.Bam.readRegion(spark, p, c, a, b).count()
      assert(want > 0, s"vacuous case $c:$a-$b")
      assert(got == want, s"bam region $c:$a-$b: $got vs $want")
    }
  }

  // per-chromosome sharded layout of vcfText: one sorted self-
  // describing .vcf.gz per chrom (header declares ALL contigs), the
  // layout cohort fleets actually ship
  private def writeShardedVcf(name: String, perChrom: Int,
                              blockSize: Int): String = {
    val d = s"$tmp/$name"
    Files.createDirectories(Paths.get(d))
    val all = vcfText(perChrom, contigHeaders = true).split("\n")
    val (hdr, data) = all.partition(_.startsWith("#"))
    Seq("chr1", "chr2", "chrX").zipWithIndex.foreach { case (c, i) =>
      val text = (hdr ++ data.filter(_.startsWith(c + "\t")))
        .mkString("", "\n", "\n")
      Files.write(Paths.get(f"$d/part-$i%05d.vcf.gz"),
        Bgzf.compress(text.getBytes("US-ASCII"), blockSize))
    }
    d
  }

  test("distributed region planning (past " +
    "spark.graft.planDistributeThreshold) produces the identical plan " +
    "and rows as driver-side planning over a many-shard fleet") {
    // 24 shards × 3 regions = 72 file×region searches
    val d = s"$tmp/many-shards"
    Files.createDirectories(Paths.get(d))
    val all = vcfText(4000, contigHeaders = true).split("\n")
    val (hdr, data) = all.partition(_.startsWith("#"))
    var idx = 0
    Seq("chr1", "chr2", "chrX").foreach { c =>
      data.filter(_.startsWith(c + "\t")).grouped(500).foreach { chunk =>
        Files.write(Paths.get(f"$d/part-$idx%05d.vcf.gz"),
          Bgzf.compress((hdr ++ chunk).mkString("", "\n", "\n")
            .getBytes("US-ASCII"), 256))
        idx += 1
      }
    }
    assert(idx == 24)
    val regions = Seq(("chr2", 1010L, 1990L), ("chr1", 10L, 500L),
      ("chrX", 30000L, 31000L))
    val driverPlan = Vcf.regionPlan(spark, d, regions, maxSpan = 10000L)
    val k = "spark.graft.planDistributeThreshold"
    spark.conf.set(k, "1")
    try {
      val distPlan = Vcf.regionPlan(spark, d, regions, maxSpan = 10000L)
      assert(distPlan.windows == driverPlan.windows)
      assert(distPlan.fullScan == driverPlan.fullScan)
      assert(distPlan.probes == driverPlan.probes)
      // end-to-end rows under the forced-distributed path
      val got = rows(Vcf.readRegions(spark, d, regions))
      val want = rows(Vcf.read(spark, d)
        .where(regions.map { case (c, a, b) =>
          col("chrom") === c && col("pos") <= b &&
            col("pos") + length(col("ref")) - 1 >= a
        }.reduce(_ || _)))
      assert(got == want && got.nonEmpty)
    } finally spark.conf.unset(k)
  }

  test("sharded-directory region read == full scan + filter (glob and " +
    "dir), including shards with no hits; per-shard bisection PRUNES " +
    "the no-hit shards instead of full-scanning them") {
    val d = writeShardedVcf("sharded-big", 30000, blockSize = 256)
    val full = Vcf.read(spark, d)
    def expect(c: String, a: Long, b: Long): Seq[String] =
      rows(full.where(col("chrom") === c && col("pos") <= b &&
        col("pos") + length(col("ref")) - 1 >= a))
    for ((c, a, b) <- Seq(("chr2", 1010L, 1990L), ("chr1", 10L, 10L),
      ("chrX", 5000L, 300000L), ("chr2", 999999L, 9999999L))) {
      val viaDir = rows(Vcf.readRegion(spark, d, c, a, b))
      assert(viaDir == expect(c, a, b), s"dir region $c:$a-$b")
      val viaGlob = rows(Vcf.readRegion(spark, s"$d/part-*.vcf.gz",
        c, a, b))
      assert(viaGlob == expect(c, a, b), s"glob region $c:$a-$b")
    }
    // pruning: all three shards bisect (none lands in fullScan), and
    // the no-hit shards' windows collapse to at most the 128 KiB
    // search floor + a member, so the plan reads ≪ the directory
    val plan = Vcf.regionPlan(spark, d,
      Seq(("chr2", 1010L, 1990L)), maxSpan = 10000L)
    assert(plan.fullScan.isEmpty, plan.fullScan.mkString(","))
    assert(plan.windows.map(_.path).distinct.size == 3)
    val totalBytes = plan.windows.map(_.fileLen).sum
    val windowBytes = plan.windows.map(w => w.toByte - w.fromByte).sum
    assert(windowBytes < totalBytes / 4,
      s"window $windowBytes of $totalBytes bytes")
    plan.windows.filterNot(_.path.contains("part-00001")).foreach { w =>
      assert(w.toByte - w.fromByte <= 0x20000L + 0x10000L,
        s"no-hit shard window too wide: $w")
    }
  }

  test("a directory mixing bisectable shards with a PLAIN-text shard " +
    "full-scans only the unrankable file and stays correct") {
    val d = s"$tmp/sharded-mixed"
    Files.createDirectories(Paths.get(d))
    val all = vcfText(200, contigHeaders = true).split("\n")
    val (hdr, data) = all.partition(_.startsWith("#"))
    Files.write(Paths.get(s"$d/part-00000.vcf.gz"),
      Bgzf.compress((hdr ++ data.filter(_.startsWith("chr1\t")))
        .mkString("", "\n", "\n").getBytes("US-ASCII"), 512))
    // plain text shard (headerless body, the Vcf.writeVariants layout)
    Files.write(Paths.get(s"$d/part-00001.vcf"),
      data.filter(_.startsWith("chr2\t")).mkString("", "\n", "\n")
        .getBytes("US-ASCII"))
    val plan = Vcf.regionPlan(spark, d, Seq(("chr2", 500L, 900L)),
      maxSpan = 10000L)
    assert(plan.fullScan.size == 1 &&
      plan.fullScan.head.path.endsWith("part-00001.vcf"))
    assert(!plan.fullScan.head.isBgzf)
    val got = rows(Vcf.readRegion(spark, d, "chr2", 500L, 900L))
    assert(got.nonEmpty)
    assert(got == rows(Vcf.readRegion(spark, d, "chr2", 500L, 900L)
      .where(col("chrom") === "chr2")), "only chr2 rows")
    val wantN = (500 to 900).count(p => (p - 10) % 10 == 0)
    assert(got.size == wantN, s"${got.size} vs $wantN")
  }

  test("multi-region panel: one call == full scan + OR filter, " +
    "overlapping windows merge, total probes stay O(regions · log n)") {
    val p = writeGz("panel-big.vcf.gz", vcfText(30000,
      contigHeaders = true), blockSize = 256)
    val fileLen = Files.size(Paths.get(p))
    val regions = Seq(
      ("chr1", 1010L, 1200L), ("chr1", 1150L, 1400L), // overlap → merge
      ("chr2", 50000L, 52000L), ("chr2", 52010L, 54000L),
      ("chr2", 100000L, 101000L), ("chrX", 10L, 500L),
      ("chrX", 200000L, 210000L), ("chr1", 999999999L, 1999999999L),
      ("chr2", 1L, 9L), ("chr1", 250000L, 251000L),
      ("chrX", 290000L, 299999L), ("chr2", 200000L, 201000L))
    val full = Vcf.read(spark, p)
    val want = rows(full.where(regions.map { case (c, a, b) =>
      col("chrom") === c && col("pos") <= b &&
        col("pos") + length(col("ref")) - 1 >= a
    }.reduce(_ || _)))
    val got = rows(Vcf.readRegions(spark, p, regions))
    assert(got == want, s"panel: ${got.size} vs ${want.size}")
    assert(got.nonEmpty)
    val plan = Vcf.regionPlan(spark, p, regions, maxSpan = 10000L)
    assert(plan.windows.size < regions.size,
      s"${plan.windows.size} windows for ${regions.size} regions " +
        "(overlaps must merge)")
    val log2 = 64 - java.lang.Long.numberOfLeadingZeros(fileLen)
    assert(plan.probes <= regions.size * (2 * log2 + 8),
      s"probes ${plan.probes} vs ${regions.size} regions · log $log2")
    val windowBytes = plan.windows.map(w => w.toByte - w.fromByte).sum
    assert(windowBytes < fileLen / 2,
      s"window $windowBytes of $fileLen bytes")
  }

  test("readPanel: a BED-shaped interval frame drives the same " +
    "multi-region read") {
    val s = spark
    import s.implicits._
    val p = writeGz("panel-frame.vcf.gz", vcfText(500,
      contigHeaders = true), blockSize = 512)
    val panel = Seq(("chr1", 1010L, 1990L), ("chrX", 10L, 200L))
      .toDF("chrom", "start", "end")
    val full = Vcf.read(spark, p)
    val want = rows(full.where(
      (col("chrom") === "chr1" && col("pos").between(1010, 1990)) ||
        (col("chrom") === "chrX" && col("pos").between(10, 200))))
    assert(rows(Vcf.readPanel(spark, p, panel)) == want)
    assert(want.nonEmpty)
    // the cap is loud
    intercept[IllegalArgumentException] {
      Vcf.readPanel(spark, p, panel, maxRegions = 1)
    }
  }

  test("BCF region read over the repo's own writeSharded directory == " +
    "full splittable read + filter, incl. a no-hit shard and a " +
    "multi-region panel") {
    graft.fixtures.GenomicFixtures.ensure(spark)
    val d = graft.fixtures.GenomicFixtures.regionBcfShardedDir(spark)
    // oracle: the independent text parse of the VCF the shards encode
    val full = Vcf.read(spark, graft.fixtures.GenomicFixtures.vcfPath)
    def expect(c: String, a: Long, b: Long) =
      rows(full.where(col("chrom") === c && col("pos") <= b &&
        col("pos") + length(col("ref")) - 1 >= a))
    for ((c, a, b) <- Seq(("1", 45L, 55L), ("1", 12L, 12L),
      ("X", 30L, 110L), ("1", 151L, 999L))) {
      assert(rows(graft.sources.Bcf.readRegion(spark, d, c, a, b)) ==
        expect(c, a, b), s"sharded bcf region $c:$a-$b")
    }
    // panel across shards, one overlapping pair + one empty region
    val regions = Seq(("1", 10L, 25L), ("1", 20L, 40L), ("X", 70L, 80L),
      ("7", 1L, 9L))
    val want = rows(full.where(regions.map { case (c, a, b) =>
      col("chrom") === c && col("pos") <= b &&
        col("pos") + length(col("ref")) - 1 >= a
    }.reduce(_ || _)))
    assert(rows(graft.sources.Bcf.readRegions(spark, d, regions)) ==
      want)
    assert(want.nonEmpty)
  }

  test("BAM region read over the repo's own writeSharded directory == " +
    "overlap filter, spanning reads included") {
    graft.fixtures.GenomicFixtures.ensure(spark)
    val d = graft.fixtures.GenomicFixtures.regionBamShardedDir(spark)
    // oracle: the independent text parse of the SAM the shards encode
    val full = graft.sources.Sam.read(spark,
      s"${graft.fixtures.GenomicFixtures.rawDir}/aligned.sam")
    def expect(c: String, a: Long, b: Long) =
      full.where(col("rname") === c && col("pos") <= b &&
        coalesce(col("ref_end"), col("pos")) >= a)
        .select("qname", "pos").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    for ((c, a, b) <- Seq(("1", 25L, 70L), ("1", 1L, 10L),
      ("X", 75L, 90L))) {
      val got = graft.sources.Bam.readRegion(spark, d, c, a, b)
        .select("qname", "pos").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      assert(got == expect(c, a, b), s"sharded bam region $c:$a-$b")
    }
    assert(graft.sources.Bam.readRegion(spark, d, "1", 25L, 70L)
      .where(col("pos") === 11L).count() == 1L, "spanning read")
  }

  test("VCF region read over the repo's own writeSharded directory: " +
    "rows == full scan + filter, and the bisected windows prune to " +
    "< dir/4 — the engine's own .vcf.gz output round-trips through " +
    "region pushdown like BAM/BCF already do") {
    val n = 40000
    val contigs = Seq("chr1", "chr2", "chrX")
    val df = spark.range(0, 3L * n).selectExpr(
      s"element_at(array('chr1','chr2','chrX'), " +
        s"cast(id / $n as int) + 1) as chrom",
      s"id % $n * 10 + 10 as pos",
      "concat('rs', id) as id",
      "'A' as ref", "'G' as alt",
      "cast(0.25 as double) as allele_af",
      "array('0|1','1|1') as genotypes")
    val d = s"$tmp/vcf-sharded-big"
    Vcf.writeSharded(
      df.repartitionByRange(3, col("chrom"), col("pos")),
      contigs, Seq("S1", "S2"), d, blockSize = 256)
    val shardBytes = Files.list(Paths.get(d)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filterNot(_.getFileName.toString.startsWith(".")) // FS crc twins
      .map(Files.size)
    assert(shardBytes.length == 3, s"3 complete shards: $shardBytes")
    val total = shardBytes.sum
    // row parity: region read over the bare directory == the full
    // splittable scan + overlap filter (all REFs 1 bp)
    val full = Vcf.read(spark, d)
    def expect(c: String, a: Long, b: Long) =
      rows(full.where(col("chrom") === c && col("pos") <= b &&
        col("pos") + length(col("ref")) - 1 >= a))
    for ((c, a, b) <- Seq(("chr2", 1010L, 1990L), ("chr1", 10L, 10L),
      ("chrX", 399000L, 500000L), ("chr2", 999999L, 9999999L))) {
      assert(rows(Vcf.readRegion(spark, d, c, a, b)) == expect(c, a, b),
        s"written-shard region $c:$a-$b")
    }
    // pruning pin: the no-hit shards bottom out at the search floor and
    // the hit shard reads its slice — far under a full directory scan
    val plan = Vcf.regionPlan(spark, d,
      Seq(("chr2", 1010L, 1990L)), maxSpan = 10000L)
    assert(plan.fullScan.isEmpty,
      s"every written shard must be bisectable: ${plan.fullScan}")
    val windowBytes = plan.windows.map(w => w.toByte - w.fromByte).sum
    assert(windowBytes < total / 4,
      s"windows $windowBytes of $total must prune < dir/4")
    // arbitrary (non-range) partitioning still round-trips: the writer
    // sorts within partitions itself, so every shard is bisectable
    val d2 = s"$tmp/vcf-sharded-rr"
    Vcf.writeSharded(df.repartition(3), contigs, Seq("S1", "S2"), d2,
      blockSize = 256)
    assert(rows(Vcf.readRegion(spark, d2, "chr2", 1010L, 1990L)) ==
      expect("chr2", 1010L, 1990L), "round-robin shards")
    // header round-trip: sample names and contig ranks survive
    assert(Vcf.sampleNamesAuto(spark, d) == Seq("S1", "S2"))
    // index = true finishes the tabix layout: one .tbi per shard,
    // the directory region read plans probe-free through them
    val d3 = s"$tmp/vcf-sharded-idx"
    Vcf.writeSharded(
      df.repartitionByRange(3, col("chrom"), col("pos")),
      contigs, Seq("S1", "S2"), d3, blockSize = 256, index = true)
    val shards = Files.list(Paths.get(d3)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
    assert(shards.count(_.endsWith(".vcf.gz")) == 3 &&
      shards.count(_.endsWith(".tbi")) == 3,
      s"3 shards + 3 sidecars: ${shards.toSeq.sorted}")
    val ip = Vcf.regionPlan(spark, d3,
      Seq(("chr2", 1010L, 1990L)), maxSpan = 10000L)
    assert(ip.probes == 0 && ip.fullScan.isEmpty,
      s"indexed shards must plan probe-free: $ip")
    assert(rows(Vcf.readRegion(spark, d3, "chr2", 1010L, 1990L)) ==
      expect("chr2", 1010L, 1990L), "indexed-shard region rows")
  }

  test("tabix sidecar consumption: an indexed .vcf.gz plans with ZERO " +
    "probes, rows == the overlap oracle on every region shape, a REF " +
    "spanning past maxSpan is found EXACTLY (the bisection's " +
    "documented miss class), an absent chrom prunes to nothing, " +
    "sidecars never list as data shards, and a stale index falls " +
    "back to the bisection") {
    val d = s"$tmp/tabix-dir"
    Files.createDirectories(Paths.get(d))
    val p = s"$d/t.vcf.gz"
    // sorted two-chrom VCF with ONE long-REF record (chr1:55, 450 kb
    // REF — spans ~100 of the 512-byte members, so the indexer's
    // cross-member line carry executes too; span end 450054 covers
    // the 400000 query point, 400 kb past the bisection's back-off)
    val hdr = Seq("##fileformat=VCFv4.2",
      "##contig=<ID=chr1>", "##contig=<ID=chr2>",
      "##INFO=<ID=AF,Number=A,Type=Float,Description=\"af\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")
    val longRef = "A" * 450000
    val body =
      (0 until 5) .map(i => s"chr1\t${10 * i + 10}\trsA$i\tA\tG\t.\tPASS\tAF=0.5\tGT\t0|1") ++
      Seq(s"chr1\t55\trsSPAN\t$longRef\tG\t.\tPASS\tAF=0.5\tGT\t0|1") ++
      (6 until 50000).map(i => s"chr1\t${10 * i + 10}\trsA$i\tA\tG\t.\tPASS\tAF=0.5\tGT\t0|1") ++
      (0 until 2000).map(i => s"chr2\t${10 * i + 10}\trsB$i\tA\tG\t.\tPASS\tAF=0.5\tGT\t0|1")
    Files.write(Paths.get(p), Bgzf.compress(
      (hdr ++ body).mkString("", "\n", "\n").getBytes("US-ASCII"),
      blockSize = 512))
    val fileLen = Files.size(Paths.get(p))
    val full = Vcf.read(spark, p)
    def expect(chrom: String, a: Long, b: Long): Seq[String] =
      rows(full.where(col("chrom") === chrom && col("pos") <= b &&
        col("pos") + length(col("ref")) - 1 >= a))
    // BEFORE indexing: the long span is missed (its pos is 30 kb
    // before the query's maxSpan back-off) — the documented class
    val before = rows(Vcf.readRegion(spark, p, "chr1", 400000L, 400010L))
    assert(!before.exists(_.contains("rsSPAN")),
      "precondition: the probe path misses the >maxSpan REF span")
    graft.sources.Tabix.indexVcfGz(
      spark.sparkContext.hadoopConfiguration, p)
    // indexed planning: zero probes, pruned windows
    val plan = Vcf.regionPlan(spark, p,
      Seq(("chr1", 400000L, 400010L)), maxSpan = 10000L)
    assert(plan.probes == 0, s"index path must not probe: ${plan.probes}")
    assert(plan.fullScan.isEmpty)
    val wb = plan.windows.map(w => w.toByte - w.fromByte).sum
    assert(wb > 0 && wb < fileLen / 4, s"windows $wb of $fileLen")
    // the spanning record is now found EXACTLY, and every shape
    // matches the overlap oracle
    val after = rows(Vcf.readRegion(spark, p, "chr1", 400000L, 400010L))
    assert(after.exists(_.contains("rsSPAN")), "index finds the span")
    assert(after == expect("chr1", 400000L, 400010L))
    for ((c, a, b) <- Seq(("chr1", 10L, 10L), ("chr1", 55L, 55L),
      ("chr2", 1010L, 1990L), ("chr2", 999999L, 9999999L),
      ("chr1", 1L, 999999999L))) {
      assert(rows(Vcf.readRegion(spark, p, c, a, b)) == expect(c, a, b),
        s"indexed region $c:$a-$b")
    }
    // a chrom absent from the index's name table prunes to nothing
    assert(rows(Vcf.readRegion(spark, p, "chr9", 1L, 100L)).isEmpty)
    // the sidecar must never list as a data shard: directory reads
    // (region and full) see only the data file
    assert(rows(Vcf.readRegion(spark, d, "chr2", 1010L, 1990L)) ==
      expect("chr2", 1010L, 1990L), "directory region read with sidecar")
    assert(Vcf.readTable(spark, d, splitSize = 4096L).count() ==
      full.count(), "directory full read with sidecar")
    // spark.graft.useIndex=false forces the probe path
    spark.conf.set("spark.graft.useIndex", "false")
    try assert(Vcf.regionPlan(spark, p, Seq(("chr2", 1010L, 1990L)),
      maxSpan = 10000L).probes > 0, "useIndex=false must bisect")
    finally spark.conf.unset("spark.graft.useIndex")
    // a STALE index (data newer than sidecar) is ignored — the
    // bisected fallback probes again and stays correct
    Files.setLastModifiedTime(Paths.get(p),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 60000))
    val stale = Vcf.regionPlan(spark, p,
      Seq(("chr2", 1010L, 1990L)), maxSpan = 10000L)
    assert(stale.probes > 0, "stale sidecar must fall back")
    assert(rows(Vcf.readRegion(spark, p, "chr2", 1010L, 1990L)) ==
      expect("chr2", 1010L, 1990L), "stale-fallback rows")
  }

  test("BAI and CSI sidecar consumption: the repo's own writeIndex " +
    "output serves BAM/BCF region plans probe-free, rows == the " +
    "overlap oracle, dictionary-closed chroms still prune to empty") {
    graft.fixtures.GenomicFixtures.ensure(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    // --- BCF + .csi
    val bcfSrc = graft.fixtures.GenomicFixtures.regionBcfPath(spark)
    val bcfDir = s"$tmp/csi-dir"
    Files.createDirectories(Paths.get(bcfDir))
    val bcf = s"$bcfDir/r.bcf"
    Files.copy(Paths.get(bcfSrc), Paths.get(bcf),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.sources.Bcf.writeIndex(conf, bcf)
    val bcfFull = Vcf.read(spark, graft.fixtures.GenomicFixtures.vcfPath)
    def bcfExpect(c: String, a: Long, b: Long) =
      rows(bcfFull.where(col("chrom") === c && col("pos") <= b &&
        col("pos") + length(col("ref")) - 1 >= a))
    val bcfPlan = graft.sources.Bcf.regionPlan(spark, bcf,
      Seq(("1", 45L, 55L)), maxSpan = 10000L)
    assert(bcfPlan.probes == 0, s"CSI must not probe: ${bcfPlan.probes}")
    for ((c, a, b) <- Seq(("1", 20L, 50L), ("1", 45L, 55L),
      ("X", 30L, 110L), ("1", 151L, 999L))) {
      assert(rows(graft.sources.Bcf.readRegion(spark, bcf, c, a, b)) ==
        bcfExpect(c, a, b), s"csi region $c:$a-$b")
    }
    // the pos-39 spanning REF must survive the index path too
    assert(rows(graft.sources.Bcf.readRegion(spark, bcf, "1", 45L, 55L))
      .exists(_.startsWith("1:39:")), "spanning REF via CSI")
    assert(graft.sources.Bcf.readRegion(spark, bcf, "7", 1L, 100L)
      .count() == 0L, "dictionary-closed chrom via CSI")
    // --- BAM + .bai
    val bamSrc = graft.fixtures.GenomicFixtures.regionBamPath(spark)
    val bamDir = s"$tmp/bai-dir"
    Files.createDirectories(Paths.get(bamDir))
    val bam = s"$bamDir/r.bam"
    Files.copy(Paths.get(bamSrc), Paths.get(bam),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.sources.Bam.writeIndex(conf, bam)
    val bamFull = graft.sources.Sam.read(spark,
      s"${graft.fixtures.GenomicFixtures.rawDir}/aligned.sam")
    def bamRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(concat_ws(":", col("rname"), col("pos"), col("qname")))
        .collect().map(_.getString(0)).toSeq.sorted
    def bamExpect(c: String, a: Long, b: Long) =
      bamRows(bamFull.where(col("rname") === c && col("pos") <= b &&
        coalesce(col("ref_end"), col("pos")) >= a))
    val bamPlan = graft.sources.Bam.regionPlan(spark, bam,
      Seq(("1", 10L, 20L)), maxSpan = 1L << 20)
    assert(bamPlan.probes == 0, s"BAI must not probe: ${bamPlan.probes}")
    for ((c, a, b) <- Seq(("1", 10L, 20L), ("1", 11L, 11L),
      ("X", 1L, 999L), ("1", 5000L, 9999L))) {
      assert(bamRows(graft.sources.Bam.readRegion(spark, bam, c, a, b))
        == bamExpect(c, a, b), s"bai region $c:$a-$b")
    }
    // samtools' bare `x.bai` naming resolves too
    val bam2 = s"$bamDir/r2.bam"
    Files.copy(Paths.get(bamSrc), Paths.get(bam2),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.sources.Bam.writeIndex(conf, bam2)
    Files.move(Paths.get(bam2 + ".bai"),
      Paths.get(s"$bamDir/r2.bai"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(graft.sources.Bam.regionPlan(spark, bam2,
      Seq(("1", 10L, 20L)), maxSpan = 1L << 20).probes == 0,
      "bare .bai twin naming")
    // --- writeSharded(index = true): sharded sinks finish the
    // indexed layout for the binary containers too
    import graft.sources.{Bam, Bcf, Sam, Vcf}
    val sam = "/root/repo/fixtures/aligned.sam"
    val bamSh = s"$tmp/bam-sharded-idx"
    Bam.writeSharded(
      Sam.read(spark, sam)
        .repartitionByRange(3, col("rname").asc_nulls_last,
          col("pos").asc_nulls_last)
        .sortWithinPartitions(col("rname").asc_nulls_last,
          col("pos").asc_nulls_last),
      Sam.sqHeaders(spark, sam).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq,
      bamSh, blockSize = 64, index = true)
    val bamNames = Files.list(Paths.get(bamSh)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
    assert(bamNames.count(_.endsWith(".bam")) == 3 &&
      bamNames.count(_.endsWith(".bai")) == 3,
      s"3 BAM shards + 3 .bai: ${bamNames.toSeq.sorted}")
    val bamShPlan = graft.sources.Bam.regionPlan(spark, bamSh,
      Seq(("1", 25L, 70L)), maxSpan = 1L << 20)
    assert(bamShPlan.probes == 0, s"sharded .bai plan: $bamShPlan")
    assert(bamRows(Bam.readRegion(spark, bamSh, "1", 25L, 70L)) ==
      bamRows(Bam.readRegion(spark,
        graft.fixtures.GenomicFixtures.regionBamShardedDir(spark),
        "1", 25L, 70L)), "sharded indexed BAM rows")
    val vcfFx = graft.fixtures.GenomicFixtures.vcfPath
    val parsed = Vcf.read(spark, vcfFx)
    val bcontigs = parsed.groupBy("chrom")
      .agg(max("pos").as("mx")).orderBy("chrom").collect()
      .map(r => (r.getString(0), r.getLong(1) + 1000L)).toSeq
    val bcfSh = s"$tmp/bcf-sharded-idx"
    Bcf.writeSharded(
      parsed.repartitionByRange(3, col("chrom"), col("pos"))
        .sortWithinPartitions("chrom", "pos"),
      bcontigs, Vcf.sampleNames(spark, vcfFx), bcfSh,
      blockSize = 64, index = true)
    val bcfNames = Files.list(Paths.get(bcfSh)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
    assert(bcfNames.count(_.endsWith(".bcf")) == 3 &&
      bcfNames.count(_.endsWith(".csi")) == 3,
      s"3 BCF shards + 3 .csi: ${bcfNames.toSeq.sorted}")
    val bcfShPlan = graft.sources.Bcf.regionPlan(spark, bcfSh,
      Seq(("1", 45L, 55L)), maxSpan = 10000L)
    assert(bcfShPlan.probes == 0, s"sharded .csi plan: $bcfShPlan")
    assert(rows(Bcf.readRegion(spark, bcfSh, "1", 45L, 55L)) ==
      rows(Bcf.readRegion(spark,
        graft.fixtures.GenomicFixtures.regionBcfShardedDir(spark),
        "1", 45L, 55L)), "sharded indexed BCF rows")
  }

  test("fixture-shape region read (the g50 gate path) returns the " +
    "filtered rows") {
    graft.fixtures.GenomicFixtures.ensure(spark)
    val gz = graft.fixtures.GenomicFixtures.regionVcfGzPath
    val got = Vcf.readRegion(spark, gz, "1", 45L, 55L)
      .select("chrom", "pos").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    // overlap: pos 39's 24-bp REF spans 39-62 ⊇ [45, 55]; pos 50 is
    // contained; nothing else on chrom 1 touches the region
    assert(got == Seq(("1", 39L), ("1", 50L)))
    // "to end of chromosome" with a Long.MaxValue bound must not wrap
    // the packed search key (int32 clamp): chrom 1 has exactly one
    // record at pos >= 100 (pos 150)
    assert(Vcf.readRegion(spark, gz, "1", 100L, Long.MaxValue)
      .count() == 1L)
  }
}
