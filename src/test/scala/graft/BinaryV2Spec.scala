package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.{Bam, Bcf, BgzfScanPartition, Vcf}

/** Pins for the DSv2 relations over the BINARY containers
  * (BcfBgzfSource / BamBgzfSource): row parity with the whole-file read
  * and the source rows, that plain SQL chrom/rname + pos filters prune
  * the scan to bisected byte windows — for BAM, THROUGH the
  * Sam.decorate projection — without changing results, and that these
  * relations stay the containers' only scan engine.
  */
class BinaryV2Spec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-binv2").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("binaryv2-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  private def scannedBytes(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.partitions.flatten.collect {
        case p: BgzfScanPartition => p.end - p.start
      }.sum
    }.sum

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.selectExpr(cols: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
  }

  test("BCF readTable == readSplit row-for-row, and chrom/pos filters " +
    "prune the scan to a bisected window with identical rows") {
    val s = spark
    import s.implicits._
    // 20k sorted variants over 4 chroms, tiny members so the file has
    // a real chain to bisect (> 2x the 128 KiB search floor)
    val n = 20000
    val variants = spark.range(n).select(
      concat(lit("c"),
        (col("id") * 4 / n).cast("long") + 1).as("chrom"),
      (pmod(col("id"), lit(n / 4)) * 10 + 5).as("pos"),
      concat(lit("v"), col("id")).as("id"),
      lit("A").as("ref"), lit("G").as("alt"),
      lit(".").as("qual"), lit("PASS").as("filter"),
      concat(lit("AF=0."), pmod(col("id"), lit(89)) + 10).as("info"),
      array(lit("0|1"), lit("1|1")).as("genotypes"))
      .orderBy("chrom", "pos")
    val contigs = (1 to 4).map(i => (s"c$i", (n / 4) * 10L + 100L))
    val p = s"$tmp/scale.bcf"
    Bcf.write(variants, contigs, Seq("S1", "S2"), p, blockSize = 256)
    val fileLen = Files.size(Paths.get(p))
    assert(fileLen > 0x40000, s"fixture too small: $fileLen")
    val table = Bcf.readTable(spark, p, splitSize = 1L << 20)
    // oracle: the whole-file read (materialized, so the filter below
    // cannot prune it), whose sites match the written rows
    val whole = WholeFile.bcf(spark, p)
    val site = Seq("chrom", "pos", "id", "ref", "alt", "genotypes")
    assert(rows(whole.select(site.map(col): _*)) ==
      rows(variants.select(site.map(col): _*)))
    assert(rows(table) == rows(whole))
    val pred = col("chrom") === "c2" && col("pos").between(1005, 2995)
    assert(rows(table.where(pred)) == rows(whole.where(pred)))
    assert(table.where(pred).count() ==
      (1005L to 2995L).count(x => x % 10 == 5))
    val pruned = scannedBytes(table.where(pred))
    assert(pruned > 0 && pruned < fileLen / 4,
      s"scanned $pruned of $fileLen")
    assert(scannedBytes(table) == fileLen)
    // undeclared chrom: dictionary-closed empty, zero partitions
    assert(table.where(col("chrom") === "c9").count() == 0L)
    assert(scannedBytes(table.where(col("chrom") === "c9")) == 0L)
  }

  test("BCF pruned schema (no genotypes) skips the per-sample decode " +
    "with rows identical to the full read's projection") {
    val s = spark
    import s.implicits._
    val n = 3000
    val variants = spark.range(n).select(
      concat(lit("c"), (col("id") * 2 / n).cast("long") + 1).as("chrom"),
      (pmod(col("id"), lit(n / 2)) * 7 + 3).as("pos"),
      concat(lit("p"), col("id")).as("id"),
      lit("AC").as("ref"), lit("A,ACT").as("alt"),
      lit("31.5").as("qual"), lit("PASS").as("filter"),
      concat(lit("AF=0."), pmod(col("id"), lit(97)) + 10,
        lit(";DP="), pmod(col("id"), lit(60)) + 1).as("info"),
      array(lit("0|1"), lit("1/1"), lit("./.")).as("genotypes"))
      .orderBy("chrom", "pos")
    val contigs = (1 to 2).map(i => (s"c$i", (n / 2) * 7L + 100L))
    val p = s"$tmp/pruned.bcf"
    Bcf.write(variants, contigs, Seq("S1", "S2", "S3"), p,
      blockSize = 512)
    val table = Bcf.readTable(spark, p, splitSize = 64L << 10)
    val full = WholeFile.bcf(spark, p)
    // every genotype-free projection shape the query family uses: the
    // pruned scan must emit rows identical to projecting the full read
    for (cols <- Seq(
      Seq("chrom", "pos"),
      Seq("chrom", "pos", "id", "ref", "alt"),
      Seq("chrom", "pos", "info", "af"),
      Seq("chrom", "pos", "id", "ref", "alt", "qual", "filter", "info",
        "af"))) {
      assert(rows(table.select(cols.map(col): _*)) ==
        rows(full.select(cols.map(col): _*)), s"cols=$cols")
    }
    // asking for genotypes still decodes the per-sample block
    assert(rows(table) == rows(full))
    // pruning composes with a pushed region filter
    val pred = col("chrom") === "c2" && col("pos").between(100, 900)
    assert(rows(table.where(pred).select("chrom", "pos", "info")) ==
      rows(full.where(pred).select("chrom", "pos", "info")))
  }

  test("BAM readTable == readSplit (decorated columns included); " +
    "rname/pos filters push THROUGH Sam.decorate into the scan") {
    val s = spark
    import s.implicits._
    val n = 20000
    val reads = spark.range(n).select(
      concat(lit("r"), col("id")).as("qname"),
      lit(0).as("flag"),
      concat(lit("c"),
        (col("id") * 2 / n).cast("long") + 1).as("rname"),
      (pmod(col("id"), lit(n / 2)) * 10 + 1).as("pos"),
      lit(60).as("mapq"), lit("40M").as("cigar"),
      lit(null).cast("string").as("rnext"),
      lit(null).cast("long").as("pnext"), lit(0L).as("tlen"),
      lit("ACGT" * 10).as("seq"), lit("I" * 40).as("qual"),
      lit(null).cast("string").as("tags"))
      .orderBy("rname", "pos")
    val refs = Seq(("c1", (n / 2) * 10L + 100L),
      ("c2", (n / 2) * 10L + 100L))
    val p = s"$tmp/scale.bam"
    Bam.write(reads, refs, p, blockSize = 256)
    val fileLen = Files.size(Paths.get(p))
    assert(fileLen > 0x40000, s"fixture too small: $fileLen")
    val table = Bam.readTable(spark, p, splitSize = 1L << 20)
    // oracle: the whole-file read (materialized, so the filter below
    // cannot prune it), itself equal to the written reads decorated
    val whole = WholeFile.bam(spark, p)
    assert(rows(whole) == rows(graft.sources.Sam.decorate(reads)))
    assert(rows(table) == rows(whole))
    // the filter sits ABOVE the decorate projection; Catalyst must
    // push it through into the DSv2 scan
    val pred = col("rname") === "c2" && col("pos").between(101, 3001)
    assert(rows(table.where(pred)) == rows(whole.where(pred)))
    assert(table.where(pred).count() ==
      (101L to 3001L).count(x => x % 10 == 1))
    val pruned = scannedBytes(table.where(pred))
    assert(pruned > 0 && pruned < fileLen / 4,
      s"scanned $pruned of $fileLen")
    // a filter on a DECORATED column alone cannot prune but stays
    // correct
    assert(table.where(!col("is_unmapped")).count() == n.toLong)
    // undeclared rname: dictionary-closed empty
    assert(table.where(col("rname") === "c9").count() == 0L)
  }

  test("readAuto routes .bcf to the DSv2 relation and the fixture " +
    "rows survive (af included)") {
    graft.fixtures.GenomicFixtures.ensure(spark)
    val bcf = graft.fixtures.GenomicFixtures.bcfPath(spark)
    val viaAuto = Vcf.readAuto(spark, bcf)
    val viaRead = WholeFile.bcf(spark, bcf)
    assert(rows(viaAuto) == rows(viaRead))
    assert(viaAuto.where(col("af").isNotNull).count() ==
      viaRead.where(col("af").isNotNull).count())
  }

  test("content sniffing: readAuto routes a bare BCF shard DIRECTORY " +
    "(writeSharded output, no extension anywhere) to the binary " +
    "relation — the suffix dispatch text-parsed it silently " +
    "near-empty; extensionless single BCF files and sampleNamesAuto " +
    "route too; BAM input and mixed directories are loud errors") {
    graft.fixtures.GenomicFixtures.ensure(spark)
    val fx = graft.fixtures.GenomicFixtures
    val dir = fx.regionBcfShardedDir(spark)
    val viaAuto = Vcf.readAuto(spark, dir)
    assert(rows(viaAuto) == rows(Bcf.readTable(spark, dir)))
    assert(viaAuto.count() > 0)
    // hidden files (the _SUCCESS marker any Spark-written directory
    // carries, checksum siblings) are skipped by directory listings —
    // they must neither sniff as a mixed format nor decode as data
    val withMarker = s"$tmp/bcf-dir-with-success"
    Files.createDirectories(Paths.get(withMarker))
    Files.list(Paths.get(dir)).forEach(p =>
      Files.copy(p, Paths.get(withMarker, p.getFileName.toString)))
    Files.write(Paths.get(s"$withMarker/_SUCCESS"), Array.empty[Byte])
    assert(rows(Vcf.readAuto(spark, withMarker)) == rows(viaAuto))
    // extensionless single BCF file: suffix dispatch is impossible
    val noext = s"$tmp/cohort-noext"
    Files.copy(Paths.get(fx.bcfPath(spark)), Paths.get(noext))
    assert(rows(Vcf.readAuto(spark, noext)) ==
      rows(WholeFile.bcf(spark, fx.bcfPath(spark))))
    assert(Vcf.sampleNamesAuto(spark, noext) ==
      Bcf.sampleNames(spark, fx.bcfPath(spark)))
    // BAM bytes are not VCF-shaped: loud, with a pointer
    val bamErr = intercept[IllegalArgumentException] {
      Vcf.readAuto(spark, fx.regionBamPath(spark))
    }
    assert(bamErr.getMessage.contains("BAM"))
    // a directory mixing binary shards with text shards: loud
    val mixed = s"$tmp/mixed-dir"
    Files.createDirectories(Paths.get(mixed))
    Files.copy(Paths.get(fx.bcfPath(spark)), Paths.get(s"$mixed/a"))
    Files.write(Paths.get(s"$mixed/b"),
      "c1\t10\tx\tA\tG\t.\t.\t.\tGT\t0|1\n".getBytes("US-ASCII"))
    val mixErr = intercept[IllegalArgumentException] {
      Vcf.readAuto(spark, mixed)
    }
    assert(mixErr.getMessage.contains("mixed formats"),
      mixErr.getMessage)
  }

  test("content sniffing: a DIRECTORY of BGZF text shards routes " +
    "readAuto to the pruning DSv2 relation with identical rows") {
    graft.fixtures.GenomicFixtures.ensure(spark)
    val d = graft.fixtures.GenomicFixtures.regionVcfShardedDir
    val viaAuto = Vcf.readAuto(spark, d)
    assert(rows(viaAuto) == rows(Vcf.read(spark, d)))
    // routed to the DSv2 relation: the plan carries BgzfScanPartitions
    assert(scannedBytes(viaAuto) > 0L)
  }

  test("one scan engine per container: no RDD file reader under " +
    "graft/sources, and the record/line decoders are called only by " +
    "the DSv2 partition readers") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val sources = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => (p.toString.replace(java.io.File.separatorChar, '/'),
        new String(Files.readAllBytes(p), "UTF-8")))
      .toSeq.sortBy(_._1)
    // a call site, not the definition
    def calls(text: String, fn: String) =
      s"(?<!def )\\b$fn\\s*\\(".r.findFirstIn(text).isDefined
    val offenders =
      sources.collect {
        case (f, t) if f.contains("/graft/sources/") &&
          t.contains("binaryFiles(") => s"$f: binaryFiles"
      } ++ sources.collect {
        case (f, t) if !f.endsWith("/BinaryV2.scala") &&
          calls(t, "splitRangeRecords") => s"$f: splitRangeRecords"
      } ++ sources.collect {
        case (f, t) if !f.endsWith("/VcfV2.scala") &&
          calls(t, "rangeLinesOf") => s"$f: rangeLinesOf"
      }
    assert(offenders.isEmpty,
      "a second scan engine beside the DSv2 relations — read through " +
        s"readTable instead: ${offenders.mkString(", ")}")
    // region reads hand the relation their plan as a field: no side
    // channel keyed by a read option
    val sideChannel = sources.collect {
      case (f, t) if t.toLowerCase.contains("windowplan") ||
        t.contains("registerWindows") => f
    }
    assert(sideChannel.isEmpty,
      s"window-plan side channel under src/main: $sideChannel")
    // one relation for VCF, BCF and BAM: one ScanBuilder with filter
    // pushdown and one Scan under graft/sources
    for (iface <- Seq("SupportsPushDownFilters", "Scan")) {
      val impls = sources.filter(_._1.contains("/graft/sources/"))
        .flatMap { case (f, t) =>
          s"\\b(?:extends|with)\\s+$iface\\b".r.findAllIn(t).map(_ => f)
        }
      assert(impls.size <= 1,
        s"$iface implemented ${impls.size} times: ${impls.mkString(", ")}")
    }
    // one record grammar per binary container: the aligned-range
    // reader, the region search and the partition reader exist once
    val perContainer = sources.collect {
      case (f, t) if f.endsWith("/sources/Bcf.scala") ||
        f.endsWith("/sources/Bam.scala") =>
        Seq("splitRangeRecords", "recordIterator", "planFile")
          .filter(fn => s"\\bdef\\s+$fn\\b".r.findFirstIn(t).isDefined)
          .map(fn => s"$f: def $fn")
    }.flatten
    assert(perContainer.isEmpty,
      s"a per-container copy of shared BGZF machinery: $perContainer")
    val searchCalls = sources.collect {
      case (f, t) if !f.endsWith("/sources/Bgzf.scala") &&
        (calls(t, "searchWindow") || calls(t, "monotonicProbe")) => f
    }
    assert(searchCalls.isEmpty,
      s"bisection driven outside Bgzf.regionWindows: $searchCalls")
    val readers = sources.filter(_._1.contains("/graft/sources/"))
      .flatMap { case (f, t) =>
        "\\bnew\\s+PartitionReader\\b".r.findAllIn(t).map(_ => f)
      }
    assert(readers.size == 1,
      s"new PartitionReader ${readers.size} times: ${readers.mkString(", ")}")
  }
}
