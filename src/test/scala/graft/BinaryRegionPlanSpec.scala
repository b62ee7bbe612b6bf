package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.fixtures.GenomicFixtures
import graft.sources.{Bam, Bcf, Sam, Vcf}

/** Region plans of the binary containers (`Bcf.regionPlan`,
  * `Bam.regionPlan`) without a sidecar index:
  *
  *  - plan identity: the exact byte windows and probe totals of the
  *    RegionSpec single-file and sharded fixtures, and of a 5-region
  *    panel over a BCF and a BAM large enough to bisect. The planner
  *    may change how it searches (memos, handles, threads) but not
  *    what it finds or how many members it probes;
  *  - unsorted input: a BCF or BAM whose positions run backwards
  *    within each contig trips the probe-key monotonicity guard, so
  *    the plan is one whole-file window, and region rows equal the
  *    overlap filter over the rows the file was written from (a filter
  *    over `readTable` would push down into the same planner).
  */
class BinaryRegionPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-binplan").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.useIndex", "false")
      .appName("binary-region-plan-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  /** A plan as one comparable line: per window the file name, byte
    * range and probes, then the plan's probe total.
    */
  private def show(plan: Vcf.RegionPlan): String =
    plan.windows.map { w =>
      s"${Paths.get(new java.net.URI(w.path).getPath).getFileName}:" +
        s"${w.fromByte}-${w.toByte}/${w.probes}"
    }.mkString(" ") + s" probes=${plan.probes}"

  private val contigs = Seq("chr1", "chr2", "chrX")

  /** `perChrom` variants on each contig at pos 10*i + 10, every 50th
    * with a 30-base REF; `descending` reverses positions within each
    * contig (an unsorted file).
    */
  private def writeBcf(name: String, perChrom: Int,
                       descending: Boolean): (String, DataFrame) = {
    val text = (Seq("##fileformat=VCFv4.2",
      "##INFO=<ID=AF,Number=A,Type=Float,Description=\"af\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2") ++
      (for { c <- contigs; i <- 0 until perChrom } yield
        Seq(c, (10 * i + 10).toString, s"rs${c}_$i",
          if (i % 50 == 0) "A" * 30 else "A", "G", "99", "PASS",
          s"AF=0.${(i % 9) + 1}", "GT", if (i % 2 == 0) "0|1" else "1|1",
          "0|0").mkString("\t")))
      .mkString("", "\n", "\n")
    val vcf = s"$tmp/$name.vcf"
    Files.write(Paths.get(vcf), text.getBytes("US-ASCII"))
    val parsed = Vcf.read(spark, vcf)
      .orderBy(col("chrom"), if (descending) col("pos").desc else col("pos"))
    val p = s"$tmp/$name.bcf"
    Bcf.write(parsed, contigs.map(c => (c, 10L * perChrom + 1000L)),
      Seq("S1", "S2"), p, blockSize = 256)
    (p, parsed)
  }

  /** `perRef` 128M reads on each of c1/c2 at pos 50*i + 1. */
  private def writeBam(name: String, perRef: Int,
                       descending: Boolean): (String, DataFrame) = {
    val refs = Seq(("c1", 100000000L), ("c2", 100000000L))
    val reads = spark.range(2L * perRef).select(
      concat(lit("r"), col("id")).as("qname"),
      lit(0).as("flag"),
      when(col("id") < perRef, "c1").otherwise("c2").as("rname"),
      (pmod(col("id"), lit(perRef)) * 50 + 1).cast("long").as("pos"),
      lit(60).as("mapq"), lit("128M").as("cigar"),
      lit(null).cast("string").as("rnext"),
      lit(null).cast("long").as("pnext"), lit(0L).as("tlen"),
      expr("repeat(translate(md5(qname), '0123456789abcdef', " +
        "'ACGTACGTACGTACGT'), 4)").cast("string").as("seq"),
      lit("I" * 128).as("qual"),
      lit(null).cast("string").as("tags"))
      .orderBy(col("rname"), if (descending) col("pos").desc else col("pos"))
    val p = s"$tmp/$name.bam"
    Bam.write(reads, refs, p, blockSize = 4096)
    (p, Sam.decorate(reads))
  }

  private def keys(df: DataFrame, c1: String, c2: String): Seq[String] =
    df.select(concat_ws(":", col(c1), col(c2))).collect()
      .map(_.getString(0)).toSeq.sorted

  test("plan identity: BCF region plans of the RegionSpec fixtures and " +
    "a 5-region panel") {
    GenomicFixtures.ensure(spark)
    val single = GenomicFixtures.regionBcfPath(spark)
    val sharded = GenomicFixtures.regionBcfShardedDir(spark)
    val fixturePanel = Seq(("1", 10L, 25L), ("1", 20L, 40L),
      ("X", 70L, 80L), ("7", 1L, 9L))
    val (big, _) = writeBcf("panel", 8000, descending = false)
    val panel = Seq(("chr1", 1000L, 2000L), ("chr1", 50000L, 50100L),
      ("chr2", 10L, 500L), ("chrX", 20000L, 30000L), ("chr7", 1L, 100L))
    val shards =
      "part-00000.bcf:0-842/0 part-00001.bcf:0-811/0 part-00002.bcf:0-779/0"
    val panelPlan = "panel.bcf:0-283368/18 panel.bcf:472274-661010/6"
    assert(show(Bcf.regionPlan(spark, single, Seq(("1", 45L, 55L)),
      10000L)) == "region.bcf:0-1528/0 probes=0")
    assert(show(Bcf.regionPlan(spark, sharded, Seq(("1", 45L, 55L)),
      10000L)) == s"$shards probes=0")
    assert(show(Bcf.regionPlan(spark, sharded, fixturePanel, 10000L)) ==
      s"$shards probes=0")
    assert(show(Bcf.regionPlan(spark, big, panel, 10000L)) ==
      s"$panelPlan probes=24")
    assert(show(Bcf.regionPlan(spark, big, panel, 0L)) ==
      s"$panelPlan probes=24")
  }

  test("plan identity: BAM region plans of the RegionSpec fixtures and " +
    "a 5-region panel") {
    GenomicFixtures.ensure(spark)
    val single = GenomicFixtures.regionBamPath(spark)
    val sharded = GenomicFixtures.regionBamShardedDir(spark)
    val (big, _) = writeBam("panel", 24000, descending = false)
    val panel = Seq(("c1", 1000L, 2000L), ("c1", 600000L, 600100L),
      ("c2", 10L, 500L), ("c2", 900000L, 1000000L), ("c7", 1L, 100L))
    assert(show(Bam.regionPlan(spark, single, Seq(("1", 25L, 70L)),
      1L << 20)) == "region.bam:0-768/0 probes=0")
    assert(show(Bam.regionPlan(spark, sharded, Seq(("1", 25L, 70L)),
      1L << 20)) == "part-00000.bam:0-378/0 part-00001.bam:0-394/0 " +
      "part-00002.bam:0-295/0 probes=0")
    val panelPlan = "panel.bam:0-79173/8 panel.bam:236482-314480/8 " +
      "panel.bam:549813-628097/8 panel.bam:1021213-1177934/8 probes=32"
    assert(show(Bam.regionPlan(spark, big, panel, 1000L)) == panelPlan)
    assert(show(Bam.regionPlan(spark, big, panel, 0L)) == panelPlan)
  }

  test("unsorted BCF: the plan falls back to one whole-file window and " +
    "region rows equal the source rows' overlap filter") {
    val (p, source) = writeBcf("unsorted", 8000, descending = true)
    val len = Files.size(Paths.get(p))
    assert(len > (128L << 10), "fixture must exceed the search floor")
    val plan = Bcf.regionPlan(spark, p, Seq(("chr2", 1010L, 1990L)), 10000L)
    assert(plan.windows.size == 1 && plan.windows.head.fromByte == 0L &&
      plan.windows.head.toByte == len && plan.probes == 0, s"plan=$plan")
    for ((c, a, b) <- Seq(("chr2", 1010L, 1990L), ("chrX", 75000L, 75100L),
      ("chr1", 10L, 10L))) {
      val want = keys(source.where(col("chrom") === c && col("pos") <= b &&
        col("pos") + length(col("ref")) - 1 >= a), "pos", "id")
      assert(want.nonEmpty, s"vacuous case $c:$a-$b")
      assert(keys(Bcf.readRegion(spark, p, c, a, b), "pos", "id") == want,
        s"unsorted bcf region $c:$a-$b")
    }
  }

  test("unsorted BAM: the plan falls back to one whole-file window and " +
    "region rows equal the source rows' overlap filter") {
    // big enough that the searches probe several members of one
    // reference, so two of them invert
    val (p, source) = writeBam("unsorted", 24000, descending = true)
    val len = Files.size(Paths.get(p))
    assert(len > (128L << 10), "fixture must exceed the search floor")
    val plan = Bam.regionPlan(spark, p, Seq(("c1", 50000L, 60000L)), 1000L)
    assert(plan.windows.size == 1 && plan.windows.head.fromByte == 0L &&
      plan.windows.head.toByte == len && plan.probes == 0, s"plan=$plan")
    for ((c, a, b) <- Seq(("c1", 50000L, 60000L), ("c2", 1L, 200L),
      ("c2", 299000L, 299990L))) {
      val want = keys(source.where(col("rname") === c && col("pos") <= b &&
        coalesce(col("ref_end"), col("pos")) >= a), "qname", "pos")
      assert(want.nonEmpty, s"vacuous case $c:$a-$b")
      assert(keys(Bam.readRegion(spark, p, c, a, b, maxSpan = 1000L),
        "qname", "pos") == want, s"unsorted bam region $c:$a-$b")
    }
  }
}
