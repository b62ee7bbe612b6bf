package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.{Bcf, Vcf}

/** Byte-level BCF2.2 reader+writer pins (VCF spec §6): typed-descriptor
  * grammar, GT phase/missing/ploidy encoding, INFO type coverage,
  * dictionary order, and the float32 render rule the gate oracle
  * relies on.
  */
class BcfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-bcf").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .appName("bcf-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  private def writeVcf(name: String, lines: Seq[String]): String = {
    val p = Paths.get(tmp, name)
    Files.writeString(p, lines.mkString("", "\n", "\n"))
    p.toString
  }

  private val header = Seq(
    "##fileformat=VCFv4.2",
    "##INFO=<ID=AF,Number=A,Type=Float,Description=\"AF\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"GT\">",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2")

  /** A row keyed for text-vs-binary comparison: the text parse's AF
    * re-renders through float32 (`normAf`), the one text difference
    * binary typing forces ("0.10" -> "0.1").
    */
  private def key(r: org.apache.spark.sql.Row, normAf: Boolean) = {
    val af = Option(r.getString(r.fieldIndex("af")))
    val afN = af.map(_.split(",").map(x =>
      if (normAf) x.toFloat.toString else x).mkString(","))
    (r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
      r.getString(4), r.getString(5), r.getString(6),
      afN.map("AF=" + _).getOrElse(r.getString(7)),
      r.getSeq[String](8).mkString(","), afN)
  }

  /** The fixture's independent text parse, keyed like a BCF read. */
  private def textKeys(parsed: org.apache.spark.sql.DataFrame) =
    parsed.collect().map(key(_, normAf = true)).sortBy(_.toString).toSeq

  private def bcfKeys(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(key(_, normAf = false)).sortBy(_.toString).toSeq

  test("fixture round-trip: Vcf.read -> Bcf.write -> Bcf.read matches " +
    "the text parse row-for-row after AF float normalization") {
    val src = s"${graft.fixtures.GenomicFixtures.rawDir}/sample.vcf"
    val parsed = Vcf.read(spark, src)
    val contigs = parsed.groupBy("chrom")
      .agg(org.apache.spark.sql.functions.max("pos").as("m"))
      .orderBy("chrom").collect()
      .map(r => (r.getString(0), r.getLong(1) + 10L)).toSeq
    val p = s"$tmp/rt.bcf"
    Bcf.write(parsed, contigs, Vcf.sampleNames(spark, src), p)
    val a = textKeys(parsed)
    val b = bcfKeys(WholeFile.bcf(spark, p))
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("float32 shortest-round-trip render parity: Java Float.toString " +
    "matches DuckDB float->varchar on the fixture's AF shapes") {
    // the rule the bcf1 oracle's TRY_CAST(x AS FLOAT)::VARCHAR replays
    val pins = Seq(
      "0.25" -> "0.25", "0.50" -> "0.5", "0.10" -> "0.1",
      "0.05" -> "0.05", "0.15" -> "0.15", "0.01" -> "0.01")
    pins.foreach { case (in, want) =>
      assert(in.toFloat.toString == want, s"Float.toString($in)")
    }
  }

  test("GT encoding: phased/unphased separators, missing alleles, " +
    "haploid vector-end padding, multi-allelic indices") {
    val p = s"$tmp/gt.bcf"
    val v = writeVcf("gt.vcf", header ++ Seq(
      "1\t10\trs1\tA\tG,T\t.\tPASS\tAF=0.5,0.1\tGT\t2|1\t0/2",
      "1\t20\trs2\tC\tG\t.\tPASS\tAF=0.2\tGT\t.|.\t./1",
      "1\t30\trs3\tC\tG\t.\tPASS\tAF=0.2\tGT\t1\t0|1"))
    Bcf.write(Vcf.read(spark, v), Seq(("1", 100L)), Seq("S1", "S2"), p)
    val rows = WholeFile.bcf(spark, p).collect()
      .map(r => r.getString(2) -> r.getSeq[String](8)).toMap
    assert(rows("rs1") == Seq("2|1", "0/2"))
    assert(rows("rs2") == Seq(".|.", "./1"))
    assert(rows("rs3") == Seq("1", "0|1")) // mixed ploidy: end-padded
  }

  test("splitGt wire values: (allele+1)<<1 | separator phase") {
    assert(Bcf.splitGt("0|1") == Seq(2, 5))
    assert(Bcf.splitGt("1/0") == Seq(4, 2))
    assert(Bcf.splitGt(".|.") == Seq(0, 1))
    assert(Bcf.splitGt("1") == Seq(4))
    assert(Bcf.splitGt("2|1") == Seq(6, 5))
  }

  test("INFO type coverage: Integer vectors with missing, Flag, String, " +
    "multi-allelic Float with missing; FILTER multi-entry and '.'") {
    val hdr = Seq(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=AF,Number=A,Type=Float,Description=\"x\">",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"x\">",
      "##INFO=<ID=AC,Number=A,Type=Integer,Description=\"x\">",
      "##INFO=<ID=DB,Number=0,Type=Flag,Description=\"x\">",
      "##INFO=<ID=CSQ,Number=.,Type=String,Description=\"x\">",
      "##FILTER=<ID=q10,Description=\"x\">",
      "##FILTER=<ID=s50,Description=\"x\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"x\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")
    val v = writeVcf("info.vcf", hdr ++ Seq(
      "1\t10\trs1\tA\tG\t.\tq10;s50\tAF=0.5;DP=99999;DB;CSQ=a|b,c\tGT\t0|1",
      "1\t20\t.\tC\tG\t.\t.\tAC=3,.;DP=70000\tGT\t1|1",
      "1\t30\trs3\tC\tG\t.\tPASS\t.\tGT\t0|0"))
    val p = s"$tmp/info.bcf"
    Bcf.write(Vcf.read(spark, v), Seq(("1", 100L)), Seq("S1"), p,
      infoTypes = Map("AF" -> "Float", "DP" -> "Integer",
        "AC" -> "Integer", "DB" -> "Flag", "CSQ" -> "String"))
    val rows = WholeFile.bcf(spark, p).collect()
      .map(r => r.getLong(1) -> r).toMap
    val r10 = rows(10L)
    assert(r10.getString(r10.fieldIndex("filter")) == "q10;s50")
    assert(r10.getString(r10.fieldIndex("info")) ==
      "AF=0.5;DP=99999;DB;CSQ=a|b,c") // int32-width DP, Flag, String
    val r20 = rows(20L)
    assert(r20.getString(r20.fieldIndex("id")) == ".")
    assert(r20.getString(r20.fieldIndex("filter")) == ".")
    assert(r20.getString(r20.fieldIndex("info")) == "AC=3,.;DP=70000")
    val r30 = rows(30L)
    assert(r30.getString(r30.fieldIndex("info")) == ".")
  }

  test("typed-descriptor overflow: >14 ALT alleles force the 15-length " +
    "escape on the allele count and a wide GT index") {
    val alts = (1 to 16).map(i => "A" + ("C" * i)).mkString(",")
    val v = writeVcf("wide.vcf", header ++ Seq(
      s"1\t10\trs1\tA\t$alts\t.\tPASS\tAF=${(1 to 16)
        .map(_ => "0.01").mkString(",")}\tGT\t16|0\t0|0"))
    val p = s"$tmp/wide.bcf"
    Bcf.write(Vcf.read(spark, v), Seq(("1", 100L)), Seq("S1", "S2"), p)
    val r = WholeFile.bcf(spark, p).collect().head
    assert(r.getString(4).split(",").length == 16)
    assert(r.getSeq[String](8) == Seq("16|0", "0|0"))
    // 16 AF values round-trip through the float vector
    assert(r.getString(r.fieldIndex("af")).split(",").length == 16)
  }

  test("BGZF container: BCF payload spans forced 64-byte members and " +
    "still decodes (records legally cross member boundaries)") {
    val src = s"${graft.fixtures.GenomicFixtures.rawDir}/sample.vcf"
    val parsed = Vcf.read(spark, src)
    val p = s"$tmp/tiny.bcf"
    Bcf.write(parsed,
      Seq(("1", 1000L), ("2", 1000L), ("X", 1000L)),
      Vcf.sampleNames(spark, src), p, blockSize = 64)
    assert(WholeFile.bcf(spark, p).count() == parsed.count())
  }

  test("readSplit == read across split sizes on a BCF whose records " +
    "span members (64-byte member cap)") {
    val src = s"${graft.fixtures.GenomicFixtures.rawDir}/sample.vcf"
    val parsed = Vcf.read(spark, src)
    val p = s"$tmp/split.bcf"
    Bcf.write(parsed, Seq(("1", 1000L), ("2", 1000L), ("X", 1000L)),
      Vcf.sampleNames(spark, src), p, blockSize = 64)
    // oracle: the whole-file read, itself held to the text parse
    val whole = WholeFile.bcf(spark, p)
    assert(bcfKeys(whole) == textKeys(parsed))
    val want = whole.collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    Seq(100L, 333L, 1000L, 1L << 20).foreach { s =>
      val got = Bcf.readTable(spark, p, splitSize = s).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(got == want, s"splitSize=$s: ${got.length} rows")
    }
  }

  test("readSplit at scale: 2000 synthetic variants x 3 samples, " +
    "splits cutting mid-member and mid-record") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val variants = spark.range(2000).select(
      lit("c1").as("chrom"), (col("id") * 3 + 1).as("pos"),
      concat(lit("v"), col("id")).as("id"), lit("A").as("ref"),
      lit("G").as("alt"), lit(".").as("qual"), lit("PASS").as("filter"),
      concat(lit("AF=0."), pmod(col("id"), lit(89)) + 10).as("info"),
      array(lit("0|1"), lit("1|1"), lit("0|0")).as("genotypes"))
    val p = s"$tmp/scale.bcf"
    Bcf.write(variants, Seq(("c1", 100000L)),
      Seq("S1", "S2", "S3"), p)
    Seq(777L, 4096L, 1L << 14).foreach { sz =>
      val got = Bcf.readTable(spark, p, splitSize = sz)
      assert(got.count() == 2000, s"splitSize=$sz")
      assert(got.agg(sum(col("pos"))).head.getLong(0) ==
        variants.agg(sum(col("pos"))).head.getLong(0), s"splitSize=$sz")
    }
  }

  test("writeSharded: one valid BCF per partition with a SHARED " +
    "distributed-pass dictionary; the directory reads back row-" +
    "identical through read AND readSplit; empty shards are valid") {
    val src = s"${graft.fixtures.GenomicFixtures.rawDir}/sample.vcf"
    val parsed = Vcf.read(spark, src)
    val contigs = parsed.groupBy("chrom")
      .agg(org.apache.spark.sql.functions.max("pos").as("m"))
      .orderBy("chrom").collect()
      .map(r => (r.getString(0), r.getLong(1) + 10L)).toSeq
    val dir = s"$tmp/sharded-bcf"
    Bcf.writeSharded(parsed.repartition(4), contigs,
      Vcf.sampleNames(spark, src), dir)
    val shards = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted // Hadoop .crc sidecars
    assert(shards.length == 4, shards.mkString(","))
    assert(shards.forall(_.matches("part-\\d{5}\\.bcf")))
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5), r.getString(6), r.getString(7),
        r.getSeq[String](8).mkString(","))
    // reference rows: the single-file writer round-trip (same float
    // re-render), so shard parity isolates the SHARDING not the codec
    val one = s"$tmp/sharded-ref.bcf"
    Bcf.write(parsed, contigs, Vcf.sampleNames(spark, src), one)
    val want = WholeFile.bcf(spark, one).collect().map(key)
      .sortBy(_.toString).toSeq
    val viaRead = WholeFile.bcf(spark, dir).collect().map(key)
      .sortBy(_.toString).toSeq
    assert(viaRead == want, s"whole: ${viaRead.length} vs ${want.length}")
    val viaSplit = Bcf.readTable(spark, dir, splitSize = 512L)
      .collect().map(key).sortBy(_.toString).toSeq
    assert(viaSplit == want, "split")
    // all shards carry the identical header (shared dictionary), and
    // sampleNames resolves on the directory
    val heads = shards.map { sh =>
      val in = new java.util.zip.GZIPInputStream(
        new java.io.FileInputStream(s"$dir/$sh"), 65536)
      val b = new Array[Byte](9); var got = 0
      while (got < 9) got += in.read(b, got, 9 - got)
      val lText = (b(5) & 0xff) | ((b(6) & 0xff) << 8) |
        ((b(7) & 0xff) << 16) | ((b(8) & 0xff) << 24)
      val t = new Array[Byte](lText); var g2 = 0
      while (g2 < lText) g2 += in.read(t, g2, lText - g2)
      in.close()
      new String(t, "US-ASCII")
    }
    assert(heads.distinct.length == 1, "shard headers differ")
    assert(Bcf.sampleNames(spark, dir) ==
      Vcf.sampleNames(spark, src))
    // empty partitions still write a valid header+EOF shard
    val emptyDir = s"$tmp/sharded-bcf-empty"
    Bcf.writeSharded(parsed.limit(1).repartition(3), contigs,
      Vcf.sampleNames(spark, src), emptyDir)
    assert(new java.io.File(emptyDir).listFiles()
      .map(_.getName).count(!_.startsWith(".")) == 3)
    assert(WholeFile.bcf(spark, emptyDir).count() == 1)
  }

  test("malformed interior ''/'.' FILTER tokens are dropped " +
    "consistently by BOTH writers and their dictionaries (regression: " +
    "encoding them produced out-of-dictionary indices — no header " +
    "line can declare an empty/'.' ID, so the reader's dictionary " +
    "misaligned and the decode crashed)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.lit
    val variants = Seq(
      ("c1", 10L, "v0", "A", "G", ".", "q10;.", "AF=0.5",
        Seq("0|1", "1|1")),
      ("c1", 20L, "v1", "A", "T", ".", "q10;;q20", "AF=0.25",
        Seq("0|0", "0|1")),
      ("c1", 30L, "v2", "A", "C", ".", ".", "AF=0.75",
        Seq("1|1", "0|0")))
      .toDF("chrom", "pos", "id", "ref", "alt", "qual", "filter",
        "info", "genotypes")
    val contigs = Seq(("c1", 1000L))
    val dir = s"$tmp/sharded-bcf-interior-tokens"
    // the bug: this round trip crashed decoding out-of-dict indices
    Bcf.writeSharded(variants.repartition(2), contigs,
      Seq("S1", "S2"), dir)
    val back = WholeFile.bcf(spark, dir).orderBy("pos").collect()
    assert(back.length == 3)
    // both writers agree on the CLEANED round-tripped FILTER cells
    val one = s"$tmp/sharded-bcf-interior-ref.bcf"
    Bcf.write(variants, contigs, Seq("S1", "S2"), one)
    val ref = WholeFile.bcf(spark, one).orderBy("pos").collect()
    assert(back.map(_.getString(6)).toSeq ==
      ref.map(_.getString(6)).toSeq)
    assert(back.map(_.getString(6)).toSeq == Seq("q10", "q10;q20", "."))
  }

  test("readSplit accepts spec-maxima records the old plausibility " +
    "bounds rejected: positions past 2^29 (legal to 2^31-1)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val variants = spark.range(600).select(
      lit("cBig").as("chrom"),
      (col("id") * 1000 + (1L << 29) - 300000L).as("pos"),
      concat(lit("v"), col("id")).as("id"), lit("A").as("ref"),
      lit("G").as("alt"), lit(".").as("qual"), lit("PASS").as("filter"),
      lit("AF=0.5").as("info"),
      array(lit("0|1"), lit("1|1")).as("genotypes"))
    val p = s"$tmp/maxima.bcf"
    Bcf.write(variants, Seq(("cBig", (1L << 31) - 1)),
      Seq("S1", "S2"), p, blockSize = 256)
    Seq(512L, 4096L, 1L << 20).foreach { sz =>
      val got = Bcf.readTable(spark, p, splitSize = sz)
      assert(got.count() == 600, s"splitSize=$sz")
      assert(got.agg(sum(col("pos"))).head.getLong(0) ==
        variants.agg(sum(col("pos"))).head.getLong(0), s"splitSize=$sz")
    }
  }

  test("corrupt mid-file members are LOUD: the unaligned-range " +
    "accumulator counts the lossy ranges, and strictAlign throws") {
    import graft.sources.Bgzf
    val src = s"${graft.fixtures.GenomicFixtures.rawDir}/sample.vcf"
    val parsed = Vcf.read(spark, src)
    val contigs = parsed.groupBy("chrom")
      .agg(org.apache.spark.sql.functions.max("pos").as("m"))
      .orderBy("chrom").collect()
      .map(r => (r.getString(0), r.getLong(1) + 10L)).toSeq
    val clean = s"$tmp/clean-for-corrupt.bcf"
    Bcf.write(parsed, contigs, Vcf.sampleNames(spark, src), clean,
      blockSize = 64)
    val bytes = Files.readAllBytes(Paths.get(clean))
    val garbage = Array.tabulate[Byte](8192)(i => ((i * 193) ^ (i >> 2))
      .toByte)
    val validLen = (bytes.length - Bgzf.Eof.length).toLong
    val corrupt = s"$tmp/corrupt.bcf"
    Files.write(Paths.get(corrupt),
      bytes.dropRight(Bgzf.Eof.length) ++
        Bgzf.compress(garbage, blockSize = 64))
    val cleanRows = WholeFile.bcf(spark, clean).count()
    // splitSize = the valid prefix, so the garbage occupies a range of
    // its own: the valid rows still read, the garbage range emits
    // nothing and counts into the scan's named accumulator
    val unaligned = UnalignedRanges.during(spark,
      "graft.bcf.unaligned.ranges") {
      assert(Bcf.readTable(spark, corrupt, splitSize = validLen).count() ==
        cleanRows)
    }
    assert(unaligned > 0, "garbage ranges must surface in the accumulator")
    spark.conf.set("spark.graft.strictAlign", "true")
    try {
      val ex = intercept[org.apache.spark.SparkException] {
        Bcf.readTable(spark, corrupt, splitSize = validLen).count()
      }
      assert(ex.getMessage.contains("no record chain aligned") ||
        Option(ex.getCause).exists(
          _.getMessage.contains("no record chain aligned")))
      assert(Bcf.readTable(spark, clean).count() == cleanRows)
    } finally spark.conf.set("spark.graft.strictAlign", "false")
  }

  test("sampleNames reads the embedded #CHROM line driver-side, " +
    "direct path and glob both resolve") {
    val src = s"${graft.fixtures.GenomicFixtures.rawDir}/sample.vcf"
    val parsed = Vcf.read(spark, src)
    val names = Vcf.sampleNames(spark, src)
    val p = s"$tmp/names.bcf"
    Bcf.write(parsed, Seq(("1", 1000L), ("2", 1000L), ("X", 1000L)),
      names, p)
    assert(Bcf.sampleNames(spark, p) == names)
    assert(Bcf.sampleNames(spark, s"$tmp/names.bc*") == names)
  }

  test("header dictionaries: PASS is always index 0, ids dedupe in " +
    "appearance order, contigs separate") {
    val (contigs, strings) = Bcf.parseHeaderDicts(Seq(
      "##fileformat=VCFv4.2",
      "##FILTER=<ID=q10,Description=\"x\">",
      "##INFO=<ID=AF,Number=A,Type=Float,Description=\"x\">",
      "##INFO=<ID=q10,Number=1,Type=Integer,Description=\"dup id\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"x\">",
      "##contig=<ID=chr1,length=100>",
      "##contig=<ID=chr2,length=50>").mkString("\n"))
    assert(strings.toSeq == Seq("PASS", "q10", "AF", "GT"))
    assert(contigs.toSeq == Seq("chr1", "chr2"))
  }
}
