package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.{Bgzf, Vcf, BgzfScanPartition}

/** Pins for the DSv2 BGZF-VCF relation (VcfBgzfSource): row parity with
  * the column-pipeline parse, and — the point of the source — that a
  * plain SQL `WHERE chrom = … AND pos BETWEEN …` prunes the scan to the
  * bisected byte windows readRegion plans, visible in the physical
  * plan's partitions, while never changing results (filters are all
  * re-applied above the scan).
  */
class VcfV2Spec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-vcfv2").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("vcfv2-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  // same fixture generator as RegionSpec: sorted multi-chrom VCF
  private def vcfText(perChrom: Int): String = {
    val chroms = Seq("chr1", "chr2", "chrX")
    val hdr = Seq("##fileformat=VCFv4.2") ++
      chroms.map(c => s"##contig=<ID=$c>") ++
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

  private def writeGz(name: String, text: String,
                      blockSize: Int): String = {
    val p = s"$tmp/$name"
    Files.write(Paths.get(p),
      Bgzf.compress(text.getBytes("UTF-8"), blockSize))
    p
  }

  private def scannedBytes(
      df: org.apache.spark.sql.DataFrame): (Long, Int) = {
    val parts = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.partitions.flatten.collect {
        case p: BgzfScanPartition => p.end - p.start
      }
    }.flatten
    (parts.sum, parts.length)
  }

  test("the bench's full-scan twins: a chrom filter under an " +
    "expression stays above the scan — every byte reads, rows equal the " +
    "pruned route's") {
    val p = writeGz("twin.vcf.gz", vcfText(30000), blockSize = 256)
    val fileLen = Files.size(Paths.get(p))
    val table = Vcf.readTable(spark, p, splitSize = 1L << 20)
    val span = col("pos").between(1010, 1990)
    val twin = table.where(Bench.chromUnpushed("chr2") && span)
    val pruned = table.where(col("chrom") === "chr2" && span)
    assert(scannedBytes(twin)._1 == fileLen)
    assert(scannedBytes(pruned)._1 < fileLen / 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("chrom", "pos", "id").collect().map(_.toString).toSeq.sorted
    assert(rows(twin) == rows(pruned) && rows(twin).size == 99)
  }

  test("DSv2 read == Vcf.read row-for-row (CRLF, missing fields, " +
    "multi-allelic AF, UTF-8 sample content, tabs-only line)") {
    // hand-built oddity file: CRLF terminators, a short line, MAF
    // fallback, multibyte UTF-8, trailing empty field, tabs-only line
    val text = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tSä",
      "c1\t10\trs1\tA\tG\t99\tPASS\tAF=0.5\tGT\t0|1\r",
      "c1\t20\trs2\tA\tG,T",
      "c1\t30\trs3\tAö\tG\t.\t.\tMAF=0.25;X=1\tGT\t1|1",
      "\t\t",
      "c1\t99999999999999999999\trs4\tA\tG\t.\t.\t.\tGT\t0|0",
      "c1\t40\trs5\tA\tG\t.\t.\tAF=\tGT\t").mkString("\n") + "\n"
    val plain = s"$tmp/odd.vcf"
    Files.write(Paths.get(plain), text.getBytes("UTF-8"))
    val gz = writeGz("odd.vcf.gz", text, blockSize = 64)
    def key(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(concat_ws("§", VcfBgzfSourceColumns.all: _*))
        .collect().map(_.getString(0)).toSeq.sorted
    val a = key(Vcf.read(spark, plain))
    val b = key(Vcf.readTable(spark, gz))
    assert(a == b, s"\nA=$a\nB=$b")
    assert(a.size == 6) // 5 data lines + the tabs-only line
  }

  test("pruned-schema reads (bounded tab-split) match the full read's " +
    "projection for every column subset, including short lines") {
    // short lines, af-from-info at the split boundary, genotypes absent
    val text = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2",
      "c1\t10\trs1\tA\tG\t99\tPASS\tAF=0.5\tGT\t0|1\t1|1",
      "c1\t20\trs2\tA\tG,T", // short: no QUAL..genotypes
      "c1\t30\trs3\tA\tG\t.\t.\tMAF=0.25;AF=0.75\tGT\t1|1\t0|0",
      "c1\t40\trs4\tA\tG\t.\t.\t\tGT\t\t").mkString("\n") + "\n"
    val plain = s"$tmp/prune.vcf"
    Files.write(Paths.get(plain), text.getBytes("UTF-8"))
    val gz = writeGz("prune.vcf.gz", text, blockSize = 64)
    val full = Vcf.read(spark, plain)
    val table = Vcf.readTable(spark, gz)
    // every contiguous-prefix and sparse subset exercises a different
    // split limit in the partition reader (genotypes forces unlimited)
    val subsets = Seq(
      Seq("chrom"), Seq("pos"), Seq("chrom", "pos"), Seq("af"),
      Seq("pos", "info"), Seq("chrom", "qual", "af"),
      Seq("chrom", "pos", "genotypes"),
      Seq("chrom", "pos", "id", "ref", "alt", "qual", "filter",
        "info", "genotypes", "af"))
    subsets.foreach { cols =>
      def dump(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.map(c =>
          if (c == "genotypes") concat_ws("|", col(c)).as(c)
          else col(c)): _*)
          .collect().map(_.toString).toSeq.sorted
      assert(dump(table) == dump(full), s"subset $cols diverged")
    }
  }

  test("chrom+pos filters prune the scan to a bisected window, rows " +
    "identical to the unpruned filter, and == readRegion under the " +
    "same predicate") {
    val p = writeGz("big.vcf.gz", vcfText(30000), blockSize = 256)
    val fileLen = Files.size(Paths.get(p))
    val table = Vcf.readTable(spark, p, splitSize = 1L << 20)
    val pred = col("chrom") === "chr2" && col("pos").between(1010, 1990)
    val pruned = table.where(pred)
    val want = Vcf.read(spark, p).where(pred)
      .select("chrom", "pos", "id").collect()
      .map(_.toString).toSeq.sorted
    assert(pruned.select("chrom", "pos", "id").collect()
      .map(_.toString).toSeq.sorted == want)
    assert(want.size == 99)
    // readRegion under the same containment predicate (all REFs 1 bp)
    val viaRegion = Vcf.readRegion(spark, p, "chr2", 1010L, 1990L)
      .where(col("pos") >= 1010)
      .select("chrom", "pos", "id").collect()
      .map(_.toString).toSeq.sorted
    assert(viaRegion == want)
    // a splitSize past every file length reads the pruned window as one
    // range; no partition bound may overflow
    val oneRange = Vcf.readTable(spark, p, splitSize = Long.MaxValue)
      .where(pred)
    assert(oneRange.select("chrom", "pos", "id").collect()
      .map(_.toString).toSeq.sorted == want)
    assert(scannedBytes(oneRange)._2 == 1)
    // the plan reads a window, not the file
    val (prunedBytes, _) = scannedBytes(pruned)
    assert(prunedBytes > 0 && prunedBytes < fileLen / 4,
      s"scanned $prunedBytes of $fileLen")
    val (fullBytes, _) = scannedBytes(table)
    assert(fullBytes == fileLen, s"unfiltered scan must read the file")
    // explain carries the pushed filters
    val desc = pruned.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }.mkString
    assert(desc.contains("PushedFilters"), desc)
  }

  test("chrom-only equality prunes to the chromosome's span; an " +
    "undeclared chrom stays correct (empty) via the full-scan class") {
    val p = writeGz("big2.vcf.gz", vcfText(30000), blockSize = 256)
    val fileLen = Files.size(Paths.get(p))
    val table = Vcf.readTable(spark, p, splitSize = 1L << 20)
    val onlyChrom = table.where(col("chrom") === "chr2")
    assert(onlyChrom.count() == 30000L)
    val (bytes, _) = scannedBytes(onlyChrom)
    // chr2 is the middle third; the window must be ~a third + slack
    assert(bytes < fileLen / 2, s"scanned $bytes of $fileLen")
    // chrom IN (...) prunes too
    val inTwo = table.where(col("chrom").isin("chr1", "chrX") &&
      col("pos") <= 500)
    assert(inTwo.count() ==
      2 * (1 to 30000).count(i => 10 * (i - 1) + 10 <= 500))
    // undeclared chrom: full-scan fallback, zero rows, still correct
    assert(table.where(col("chrom") === "chr9").count() == 0L)
  }

  test("reader options reach the table (regression: Spark hands " +
    "getTable the ORIGINAL-case option map, so camelCase keys read " +
    "via lowercase lookups silently defaulted afFields and splitSize)") {
    val text = Seq(
      "##fileformat=VCFv4.2",
      "##contig=<ID=c1>",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "c1\t10\trs1\tA\tG\t.\tPASS\tMYAF=0.7;AF=0.1\tGT\t0|1").
      mkString("\n") + "\n"
    val gz = writeGz("opts.vcf.gz", text, blockSize = 64)
    // custom afFields must WIN over the default AF key
    val af = Vcf.readTable(spark, gz, afFields = Seq("MYAF"))
      .select("af").collect().map(_.getString(0)).toSeq
    assert(af == Seq("0.7"), af)
    // splitSize must steer partition granularity
    val big = writeGz("opts-big.vcf.gz", vcfText(30000), blockSize = 256)
    val (_, fine) = scannedBytes(
      Vcf.readTable(spark, big, splitSize = 64L << 10))
    val (_, coarse) = scannedBytes(Vcf.readTable(spark, big))
    assert(fine > coarse,
      s"64 KiB splits must out-partition the 32 MiB default: " +
        s"$fine vs $coarse")
  }

  test("POS=0 records (VCF-legal telomere) survive the pruned scan " +
    "and the readRegion window (regression: the search floor was 1)") {
    val chroms = Seq("chr1", "chr2")
    val hdr = Seq("##fileformat=VCFv4.2") ++
      chroms.map(c => s"##contig=<ID=$c>") ++
      Seq("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")
    val body = for {
      c <- chroms
      i <- 0 until 30000
    } yield s"$c\t${10 * i}\trs${c}_$i\tA\tG\t.\tPASS\t.\tGT\t0|1"
    val p = writeGz("pos0.vcf.gz",
      (hdr ++ body).mkString("", "\n", "\n"), blockSize = 256)
    val table = Vcf.readTable(spark, p, splitSize = 1L << 20)
    // chr2's FIRST record sits at POS=0: both the exact-equality and
    // the low-bounded filter must keep it despite the pruned window
    assert(table.where(col("chrom") === "chr2" && col("pos") === 0)
      .count() == 1L)
    assert(table.where(col("chrom") === "chr2" && col("pos") <= 95)
      .count() == 10L)
    assert(Vcf.readRegion(spark, p, "chr2", 0L, 95L).count() == 10L)
  }

  test("degenerate pos bounds saturate instead of planning zero " +
    "partitions (regression: hi initialized to Int.MaxValue turned " +
    "pos > 2^31-1 into a statically-empty scan, silently dropping " +
    "over-cap rows the residual filter never saw)") {
    val text = Seq(
      "##fileformat=VCFv4.2",
      "##contig=<ID=c1>",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "c1\t10\trs1\tA\tG\t.\tPASS\t.\tGT\t0|1",
      "c1\t4000000000\trs_overcap\tA\tG\t.\tPASS\t.\tGT\t1|1")
      .mkString("\n") + "\n"
    val gz = writeGz("overcap.vcf.gz", text, blockSize = 64)
    val table = Vcf.readTable(spark, gz)
    // a pushed lower bound above int32: the over-cap row MUST survive
    assert(table.where(col("chrom") === "c1" &&
      col("pos") > 2147483647L).count() == 1L)
    assert(table.where(col("chrom") === "c1" &&
      col("pos") >= 3000000000L).count() == 1L)
    // Long extremes must not wrap (GreaterThan +1 / LessThan -1)
    assert(table.where(col("pos") > Long.MaxValue).count() == 0L)
    assert(table.where(col("pos") < Long.MinValue).count() == 0L)
    assert(table.where(col("chrom") === "c1" &&
      col("pos") < 100L).count() == 1L)
    // genuinely contradictory bounds stay statically empty: zero
    // partitions, zero rows
    val contradiction = table.where(col("chrom") === "c1" &&
      col("pos") === 10L && col("pos") === 20L)
    assert(contradiction.count() == 0L)
    assert(scannedBytes(contradiction)._2 == 0)
  }

  test("OR-shaped (panel) SQL prunes to merged multi-region windows: " +
    "rows == unpruned filter, scanned bytes < file/2 for a 12-region " +
    "panel") {
    val p = writeGz("panel.vcf.gz", vcfText(30000), blockSize = 256)
    val fileLen = Files.size(Paths.get(p))
    val table = Vcf.readTable(spark, p, splitSize = 1L << 20)
    val panel = Seq(
      ("chr1", 100L, 300L), ("chr1", 310L, 400L), ("chr1", 5000L, 5100L),
      ("chr1", 90000L, 90200L), ("chr2", 10L, 200L),
      ("chr2", 44000L, 44400L), ("chr2", 150000L, 150100L),
      ("chrX", 700L, 900L), ("chrX", 901L, 1000L),
      ("chrX", 250000L, 250300L), ("chr2", 250L, 260L),
      ("chrX", 299000L, 299990L))
    val pred = panel.map { case (c, a, b) =>
      col("chrom") === c && col("pos").between(a, b)
    }.reduce(_ || _)
    val pruned = table.where(pred)
    val want = Vcf.read(spark, p).where(pred)
      .select("chrom", "pos", "id").collect()
      .map(_.toString).toSeq.sorted
    val got = pruned.select("chrom", "pos", "id").collect()
      .map(_.toString).toSeq.sorted
    assert(got == want && want.nonEmpty, s"rows=${want.size}")
    val (bytes, _) = scannedBytes(pruned)
    assert(bytes > 0 && bytes < fileLen / 2,
      s"scanned $bytes of $fileLen")
    // a panel with one chrom-less disjunct can't prune — and must not
    // change rows either
    val leaky = pred || col("pos") === 123456789L
    assert(scannedBytes(table.where(leaky))._1 == fileLen)
    // mixing a panel OR with an outer conjunct intersects per disjunct
    val mixed = table.where(pred && col("pos") <= 5100L)
    assert(mixed.count() == Vcf.read(spark, p)
      .where(pred && col("pos") <= 5100L).count())
    assert(scannedBytes(mixed)._1 <= bytes)
  }

  test("pos IN (…) — the annotate-these-N-hits lookup — expands to one " +
    "window per position, not the [min,max] hull spanning the chrom") {
    val p = writeGz("posin.vcf.gz", vcfText(30000), blockSize = 256)
    val fileLen = Files.size(Paths.get(p))
    val table = Vcf.readTable(spark, p, splitSize = 1L << 20)
    // three positions far apart on chr2: a hull window would span most
    // of the chromosome (~a third of the file); per-value windows stay
    // near the 128 KiB search floor each
    val hits = Seq(1010L, 150010L, 299010L)
    val pred = col("chrom") === "chr2" && col("pos").isin(hits: _*)
    val got = table.where(pred).select("chrom", "pos", "id").collect()
      .map(_.toString).toSeq.sorted
    val want = Vcf.read(spark, p).where(pred)
      .select("chrom", "pos", "id").collect()
      .map(_.toString).toSeq.sorted
    assert(got == want && got.size == 3, s"got=$got")
    val (bytes, _) = scannedBytes(table.where(pred))
    // the chr2 hull is ~fileLen/3; per-value windows must beat half it
    assert(bytes > 0 && bytes < fileLen / 6,
      s"scanned $bytes of $fileLen")
    // an over-long list degrades to the hull, still correct
    val many = (0 until 100).map(i => 1010L + 10 * i)
    assert(table.where(col("chrom") === "chr2" &&
      col("pos").isin(many: _*)).count() == 100L)
  }

  test("estimateStatistics: a pruned scan reports its window bytes, " +
    "so Catalyst broadcasts the region slice where the full scan " +
    "sort-merges") {
    val p = writeGz("stats.vcf.gz", vcfText(30000), blockSize = 256)
    val fileLen = Files.size(Paths.get(p))
    val table = Vcf.readTable(spark, p, splitSize = 1L << 20)
    val pred = col("chrom") === "chr2" && col("pos").between(1010, 1990)
    // the probe side must itself be over-threshold, or IT broadcasts
    // in both plans and the pin proves nothing
    val other = spark.range(0, 4000000)
      .selectExpr("id * 10 as pos", "'x' as tag")
    // threshold between (pruned window × f) and (full file × f): the
    // pruned side must broadcast, the full side must not — f is the
    // relation's stats inflation constant
    val f = graft.sources.BgzfScan.StatsInflation
    val threshold = fileLen * f / 2
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      threshold.toString)
    try {
      val prunedPlan = other.join(table.where(pred), Seq("pos"))
        .queryExecution.executedPlan.toString
      assert(prunedPlan.contains("BroadcastHashJoin"),
        s"pruned scan must broadcast:\n$prunedPlan")
      val fullPlan = other.join(table, Seq("pos"))
        .queryExecution.executedPlan.toString
      assert(!fullPlan.contains("BroadcastHashJoin") &&
        fullPlan.contains("SortMergeJoin"),
        s"full scan must sort-merge:\n$fullPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("sharded directory: per-shard windows; column pruning keeps " +
    "values; count() (empty schema) matches") {
    val d = s"$tmp/sharded"
    Files.createDirectories(Paths.get(d))
    val all = vcfText(8000).split("\n")
    val (hdr, data) = all.partition(_.startsWith("#"))
    Seq("chr1", "chr2", "chrX").zipWithIndex.foreach { case (c, i) =>
      Files.write(Paths.get(f"$d/part-$i%05d.vcf.gz"),
        Bgzf.compress((hdr ++ data.filter(_.startsWith(c + "\t")))
          .mkString("", "\n", "\n").getBytes("UTF-8"), 256))
    }
    val table = Vcf.readTable(spark, d, splitSize = 1L << 20)
    assert(table.count() == 24000L)
    val pred = col("chrom") === "chr2" && col("pos").between(100, 900)
    val got = table.where(pred).select("pos", "id").collect()
      .map(_.toString).toSeq.sorted
    val want = Vcf.read(spark, d).where(pred)
      .select("pos", "id").collect().map(_.toString).toSeq.sorted
    assert(got == want && got.nonEmpty)
    val (bytes, _) = scannedBytes(table.where(pred))
    val totalBytes = Files.list(Paths.get(d)).toArray.map(p =>
      Files.size(p.asInstanceOf[java.nio.file.Path])).sum
    // each ~196 KB shard is floor-dominated (128 KiB search floor), so
    // the bound is loose here; the single-file tests above pin the
    // asymptotic ratio
    assert(bytes < totalBytes * 3 / 4, s"scanned $bytes of $totalBytes")
    // pruned projection returns the same column values
    assert(table.select("chrom").where(col("chrom") === "chr1")
      .count() == 8000L)
  }

  test("unsorted file: probe-key monotonicity guard trips, planner " +
    "falls back to a full scan, rows stay exactly correct") {
    // big enough to bisect (>128 KiB search floor), pos DESCENDING
    // within each chrom — any two probed keys of one chrom invert, so
    // the guard must fire deterministically
    val all = vcfText(10000).split("\n")
    val (hdr, data) = all.partition(_.startsWith("#"))
    val byChrom = data.groupBy(_.split("\t")(0))
    val unsorted = (hdr ++ Seq("chr1", "chr2", "chrX")
      .flatMap(c => byChrom(c).reverse)).mkString("", "\n", "\n")
    val p = writeGz("unsorted.vcf.gz", unsorted, blockSize = 256)
    assert(Files.size(Paths.get(p)) > (128L << 10),
      "fixture must exceed the search floor or nothing probes")
    // the plan degrades to the full-scan class — no trusted windows
    val plan = Vcf.regionPlan(spark, p,
      Seq(("chr2", 1010L, 1990L)), maxSpan = 0L)
    assert(plan.windows.isEmpty && plan.fullScan.size == 1 &&
      plan.fullScan.head.path.endsWith("unsorted.vcf.gz") &&
      plan.fullScan.head.isBgzf, s"plan=$plan")
    // readRegion still returns exactly the overlap rows
    val got = Vcf.readRegion(spark, p, "chr2", 1010L, 1990L)
      .select("chrom", "pos", "id").collect()
      .map(_.toString).toSeq.sorted
    val want = Vcf.read(spark, p)
      .where(col("chrom") === "chr2" && col("pos") <= 1990L &&
        col("pos") + length(col("ref")) - 1 >= 1010L)
      .select("chrom", "pos", "id").collect()
      .map(_.toString).toSeq.sorted
    assert(got == want && got.size == 99, s"got ${got.size}")
    // and the DSv2 SQL route (readTable + WHERE) tiles the whole file
    // instead of trusting windows — identical rows
    val table = Vcf.readTable(spark, p, splitSize = 1L << 20)
      .where(col("chrom") === "chr2" && col("pos").between(1010, 1990))
    assert(table.select("chrom", "pos", "id").collect()
      .map(_.toString).toSeq.sorted ==
      want.filter(_.contains("chr2")).filterNot(w =>
        w.split(",")(1).toLong < 1010), s"dsv2 route diverged")
    val (bytes, _) = scannedBytes(table)
    assert(bytes == Files.size(Paths.get(p)),
      s"unsorted file must full-scan, scanned $bytes")
  }

  test("readRegion routes through the DSv2 relation: a narrow agg " +
    "prunes the per-line parse to filter+agg columns (ReadSchema) AND " +
    "the scan carries the pre-planned bisected windows — the r16 " +
    "vsqx-vs-vpnx 20× gap closed at the API path") {
    val p = writeGz("route.vcf.gz", vcfText(30000), blockSize = 256)
    val fileLen = Files.size(Paths.get(p))
    val rr = Vcf.readRegion(spark, p, "chr2", 1010L, 1990L,
      splitSize = 1L << 20)
    val agg = rr.agg(count(lit(1)).as("n"), sum(col("pos")).as("s"))
    // the agg introduces an exchange, so AQE wraps the plan — collect
    // scans through the adaptive wrapper's current physical plan
    def scanSchemas(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
      val top = df.queryExecution.executedPlan
      val plans = top +: top.collect {
        case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.executedPlan
      }
      plans.flatMap(_.collect {
        case b: BatchScanExec => b.scan.readSchema().fieldNames.toSeq
      })
    }
    val schemas = scanSchemas(agg)
    assert(schemas.nonEmpty,
      "readRegion must plan a BatchScanExec (the DSv2 route)")
    // the overlap re-filter needs chrom/pos/ref; the agg adds nothing
    // — genotypes/info/af must NOT materialize
    assert(schemas.head.toSet == Set("chrom", "pos", "ref"),
      s"narrow agg must prune the parse: $schemas")
    val (bytes, _) = scannedBytes(rr.select(col("pos")))
    assert(bytes > 0 && bytes < fileLen / 4,
      s"pre-planned windows must prune: scanned $bytes of $fileLen")
    // row parity: the routed frame == the splittable parse under the
    // identical overlap predicate, full width
    def key(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(concat_ws("§", VcfBgzfSourceColumns.all: _*))
        .collect().map(_.getString(0)).toSeq.sorted
    val want = key(Vcf.read(spark, p)
      .where(col("chrom") === "chr2" && col("pos") <= 1990L &&
        col("pos") + length(col("ref")) - 1 >= 1010L))
    assert(key(rr) == want, "routed readRegion rows diverged")
    // the multi-region panel path shares the route: one scan, merged
    // windows, same pruning
    val panel = Vcf.readRegions(spark, p,
      Seq(("chr1", 10L, 400L), ("chr2", 1010L, 1990L)),
      splitSize = 1L << 20)
    val pSchemas = scanSchemas(panel.agg(sum(col("pos")).as("s")))
    assert(pSchemas.nonEmpty && pSchemas.head.toSet ==
      Set("chrom", "pos", "ref"), s"panel parse must prune: $pSchemas")
  }

  test("runtime join pruning (SupportsRuntimeV2Filtering): a broadcast " +
    "join against a small filtered panel on chrom re-plans the scan to " +
    "the panel's chromosome windows — bytes < file/2, rows == the " +
    "splittable-parse join") {
    val p = writeGz("rtjoin.vcf.gz", vcfText(30000), blockSize = 256)
    val fileLen = Files.size(Paths.get(p))
    val table = Vcf.readTable(spark, p, splitSize = 1L << 20)
    // the selective build side: a FILTER on a STORED panel is what
    // makes Spark's dynamic-pruning rule inject the runtime subquery
    // (an in-memory literal panel constant-folds to a LocalRelation,
    // which the rule treats as non-selective)
    // panel chroms must be header-declared: an undeclared chrom in the
    // runtime set makes that file fall back to the (documented)
    // whole-file full scan, same as the literal WHERE chrom IN route
    spark.createDataFrame(
      Seq(("chr2", "keep"), ("chr1", "drop"), ("chrX", "drop")))
      .toDF("chrom", "tag").write.mode("overwrite")
      .parquet(s"$tmp/rt-panel.parquet")
    val panel = spark.read.parquet(s"$tmp/rt-panel.parquet")
      .where(col("tag") === "keep").select("chrom")
    val joined = table.join(broadcast(panel), Seq("chrom"))
      .select(col("chrom"), col("pos"), col("id"))
    val got = joined.collect().map(_.mkString("§")).sorted.toSeq
    val want = Vcf.read(spark, p)
      .join(broadcast(panel), Seq("chrom"))
      .select(col("chrom"), col("pos"), col("id"))
      .collect().map(_.mkString("§")).sorted.toSeq
    assert(got == want, "runtime-pruned join rows diverged")
    assert(got.size == 30000, s"all chr2 rows: ${got.size}")
    // post-execution: the scan's EXECUTED partitions (runtime-filtered)
    // must cover only chr2's span — chr1/chrX bytes pruned
    // AQE wraps executed stages in QueryStageExec LEAVES — descend
    // into both the adaptive wrapper and the materialized stages
    def allScans(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[BatchScanExec] = {
      val subs = plan.collect {
        case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.executedPlan
        case q: org.apache.spark.sql.execution.adaptive
          .QueryStageExec => q.plan
      }
      plan.collect { case b: BatchScanExec => b } ++
        subs.flatMap(allScans)
    }
    val scans = allScans(joined.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no BatchScanExec in the executed join plan")
    assert(scans.exists(_.runtimeFilters.nonEmpty),
      "Spark must inject the runtime filter into the scan")
    val bytes: Long = scans.flatMap(_.inputRDD.partitions.toSeq.flatMap {
      case d: org.apache.spark.sql.execution.datasources.v2
        .DataSourceRDDPartition => d.inputPartitions.collect {
          case w: BgzfScanPartition => w.end - w.start }
      case _ => Seq.empty[Long]
    }).sum
    assert(bytes > 0 && bytes < fileLen / 2,
      s"runtime filter must prune the scan: $bytes of $fileLen")
  }

  test("monotonicProbe: inversions throw in both probe orders, " +
    "ordered probes pass through") {
    val keys = Map(0L -> 10L, 100L -> 20L, 200L -> 5L)
    // ascending access: 0 then 100 ok; 200 inverts against 100
    val g1 = Bgzf.monotonicProbe("t", keys)
    assert(g1(0L) == 10L && g1(100L) == 20L)
    intercept[Exception] { g1(200L) }
    // descending access: 200 then 100 — the floor check fires
    val g2 = Bgzf.monotonicProbe("t", keys)
    assert(g2(200L) == 5L)
    intercept[Exception] { g2(100L) }
    // MaxValue (end-of-data) followed by data later in the file is an
    // inversion too
    val g3 = Bgzf.monotonicProbe("t",
      Map(0L -> Long.MaxValue, 50L -> 7L))
    assert(g3(0L) == Long.MaxValue)
    intercept[Exception] { g3(50L) }
    // a sorted sequence never throws, any access order
    val g4 = Bgzf.monotonicProbe("t",
      Map(0L -> 1L, 10L -> 2L, 20L -> 3L))
    assert(g4(20L) == 3L && g4(0L) == 1L && g4(10L) == 2L)
  }
}

/** The full-width column list used for row-identity hashing (kept out
  * of the test body so both sides stringify identically).
  */
private object VcfBgzfSourceColumns {
  import org.apache.spark.sql.Column
  val all: Seq[Column] = Seq("chrom", "pos", "id", "ref", "alt", "qual",
    "filter", "info", "af").map(c => coalesce(col(c).cast("string"),
    lit("∅"))) :+ coalesce(concat_ws(",", col("genotypes")), lit("∅"))
}
