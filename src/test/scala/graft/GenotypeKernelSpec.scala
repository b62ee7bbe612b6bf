package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{GraftCall, GraftFunctions}
import graft.sources.Vcf
import GraftFunctionsSpec.kernelsByStage

/** The genotype rewrite that `Vcf.normalize` ran before the
  * `graft_rewrite_gts` kernel: a regex split and a lambda per call. It
  * evaluates interpreted and is kept only as the parity oracle of
  * [[GenotypeKernelSpec]].
  */
object LegacyGenotypeRewrite {

  /** Rewrite one genotype string for the `alleleIdx`-th (1-based) split
    * allele, per vcf_filter_fix.py:93-109: haploid "x" pads to "x|0", the
    * chosen allele index becomes 1, every other non-missing allele 0.
    */
  private def rewriteGt(gt: Column, alleleIdx: Column): Column = {
    val padded = when(!gt.contains("|") && !gt.contains("/"),
      concat(gt, lit("|0"))).otherwise(gt)
    array_join(
      transform(split(padded, "[|/]"), a =>
        when(a === alleleIdx.cast("string"), "1")
          .when(a === ".", ".")
          .otherwise("0")),
      "|")
  }

  /** Every call of `genotypes`, FORMAT suffix dropped, rewritten. */
  def apply(genotypes: Column, allele: Column): Column =
    transform(genotypes, g => rewriteGt(substring_index(g, ":", 1), allele))
}

/** Parity of the compiled `graft_rewrite_gts` kernel with
  * [[LegacyGenotypeRewrite]] on edge strings, NULLs, the fixture VCF and
  * generated genotype arrays, under codegen and interpreted evaluation;
  * its placement inside WholeStageCodegen; and the plan size of the
  * sample-name and contig-rank literals.
  */
class GenotypeKernelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      // static plans: the WholeStageCodegen walk sees the real tree
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .appName("genotype-kernel")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  private def kernel(gts: Column, allele: Column): Column =
    GraftFunctions.call("graft_rewrite_gts", gts, allele)

  private val schema = StructType(Seq(
    StructField("gts", ArrayType(StringType)),
    StructField("allele", IntegerType)))

  private def frame(rows: Seq[(Seq[String], Int)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (g, a) => Row(g, a) }, 2), schema)

  /** (kernel, oracle) results per row, evaluated with or without
    * codegen.
    */
  private def both(df: DataFrame, codegen: Boolean): Seq[(Row, Row)] = {
    spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
    spark.conf.set("spark.sql.codegen.factoryMode",
      if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    try df.select(
        struct(col("gts"), col("allele")).as("in"),
        kernel(col("gts"), col("allele")).as("k"),
        LegacyGenotypeRewrite(col("gts"), col("allele")).as("o"))
      .collect().toSeq.map(r => (r.getStruct(0), Row(r.get(1), r.get(2))))
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  private def assertParity(df: DataFrame, what: String): Unit =
    for (codegen <- Seq(true, false); (in, out) <- both(df, codegen))
      assert(out.get(0) == out.get(1),
        s"$what (codegen=$codegen): input $in\n kernel: ${out.get(0)}\n" +
          s" oracle: ${out.get(1)}")

  private val edges = Seq("0|0", "0|1", "1|0", "1|1", "0/1", "1/0", "1",
    "2", ".", "./.", ".|.", "1/2", "2|1", "0/0/1", "1|2|3", "10|1", "1|10",
    "12/3", "0|1:35", "1/1:20:7,3", "", ":", "||", "|1", "1|", "/", "x|1",
    ".:99")

  test("edge genotype strings match the interpreted rewrite for allele " +
    "indices 1-5") {
    assert(edges.size == 28)
    assertParity(frame(for (a <- 1 to 5) yield (edges, a)), "edges")
    // spot values, so both sides are not wrong together
    val out = frame(Seq((Seq("1", "2", ".", "./.", "1/2", "0/0/1", "10|1",
      "1|10", "0|1:35", "", ":", "||"), 1), (Seq("1/2", "10|1"), 10),
      (Seq("1/2"), 2)))
      .select(kernel(col("gts"), col("allele"))).collect()
      .map(_.getSeq[String](0))
    assert(out.toSeq == Seq(
      Seq("1|0", "0|0", ".|0", ".|.", "1|0", "0|0|1", "0|1", "1|0", "0|1",
        "0|0", "0|0", "0|0|0"),
      Seq("0|0", "1|0"), Seq("0|1")))
  }

  test("a NULL call stays NULL and a NULL array gives NULL") {
    val df = frame(Seq((Seq("0|1", null, "1"), 1), (null, 1)))
    assertParity(df, "nulls")
    val out = df.select(kernel(col("gts"), col("allele"))).collect()
    assert(out(0).getSeq[String](0) == Seq("0|1", null, "1|0"))
    assert(out(1).isNullAt(0))
  }

  test("generated genotype arrays match for allele indices 1-12") {
    val allele = Gen.oneOf(Gen.choose(0, 13).map(_.toString),
      Gen.const("."), Gen.const(""), Gen.const("x"))
    val call = for {
      n <- Gen.choose(1, 3)
      alleles <- Gen.listOfN(n, allele)
      seps <- Gen.listOfN(n - 1, Gen.oneOf("|", "/"))
      format <- Gen.oneOf("", ":35", ":20:1,2", ":")
    } yield alleles.head + seps.zip(alleles.tail)
      .map { case (s, a) => s + a }.mkString + format
    val arrays = Gen.listOfN(400, for {
      len <- Gen.choose(0, 8)
      gts <- Gen.listOfN(len, Gen.frequency(12 -> call.map(Option(_)),
        1 -> Gen.const(Option.empty[String])))
      a <- Gen.choose(1, 12)
    } yield (gts.map(_.orNull), a))
      .apply(Gen.Parameters.default, Seed(20261019L)).get
    assert(arrays.map(_._2).toSet == (1 to 12).toSet)
    assertParity(frame(arrays), "generated")
  }

  test("the fixture VCF's split alleles match through Vcf.normalize's " +
    "kernel call") {
    val parsed = Vcf.read(spark, graft.fixtures.GenomicFixtures.vcfPath)
    val perAllele = parsed.select(col("genotypes").as("gts"),
      posexplode(split(col("alt"), ",")).as(Seq("_ai", "_alt")))
      .select(col("gts"), (col("_ai") + 1).as("allele"))
    assert(perAllele.count() == 14)
    assertParity(perAllele, "fixture VCF")
    // and normalize really calls the kernel on the same split rows
    val norm = Vcf.normalize(parsed)
    assert(norm.where(col("id") === "rs5").orderBy("alt")
      .select("genotypes").collect().map(_.getSeq[String](0).take(4))
      .toSeq == Seq(Seq("0|0", "0|0", "0|0", "0|1"),
      Seq("0|1", "0|0", "0|0", "1|0")))
  }

  test("Vcf.normalize compiles graft_rewrite_gts inside " +
    "WholeStageCodegen") {
    val parsed = Vcf.read(spark, graft.fixtures.GenomicFixtures.vcfPath)
    val norm = Vcf.normalize(parsed)
    norm.collect()
    assert(kernelsByStage(norm.queryExecution.executedPlan) ==
      (Set("graft_rewrite_gts"), Set.empty[String]))
  }

  test("the optimized plan of genotypesLong(normalize(readTable(...))) " +
    "calls graft_rewrite_gts exactly once") {
    graft.fixtures.GenomicFixtures.ensure(spark)
    val path = graft.fixtures.GenomicFixtures.vcfGzPath
    val long = Vcf.genotypesLong(Vcf.normalize(Vcf.readTable(spark, path)),
      Vcf.sampleNames(spark, graft.fixtures.GenomicFixtures.vcfPath))
    val calls = long.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.flatMap(_.collect {
        case GraftCall(k, _) if k.name == "graft_rewrite_gts" => k
      })
    }.flatten
    assert(calls.size == 1, long.queryExecution.optimizedPlan.toString)
    // the rows are posexplode's: one per (allele row, sample)
    val norm = Vcf.normalize(Vcf.read(spark,
      graft.fixtures.GenomicFixtures.vcfPath))
    val want = norm.select(posexplode(col("genotypes"))).count()
    assert(long.count() == want && want > 0)
  }

  /** Expression nodes in the analyzed plan. */
  private def exprNodes(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case p =>
      p.expressions.map(_.collect { case e => e }.size).sum
    }.sum

  test("the analyzed plan of Vcf.genotypesLong has the same size for 3 " +
    "and for 2,504 sample names") {
    val parsed = frame(Seq((Seq("0|1", "1|0", "0|0"), 1)))
      .select(lit("1").as("chrom"), col("gts").as("genotypes"))
    def long(n: Int) =
      Vcf.genotypesLong(parsed, (1 to n).map(i => f"HG$i%05d"))
    assert(exprNodes(long(3)) == exprNodes(long(2504)))
    assert(long(3).select("sample", "gt").collect().toSeq ==
      Seq(Row("HG00001", "0|1"), Row("HG00002", "1|0"),
        Row("HG00003", "0|0")))
  }

  test("the analyzed plan of Vcf.writeSharded's contig rank has the same " +
    "size for 3 and for 3,000 contigs") {
    val s = spark
    import s.implicits._
    val variants = Seq(("2", 5L), ("chrUn_1", 1L), ("1", 9L), ("1", 2L))
      .toDF("chrom", "pos").coalesce(1)
    def sorted(contigs: Seq[String]) = Vcf.sortedForShards(variants, contigs)
    val grch38 = Seq("1", "2", "X") ++ (1 to 2997).map(i => s"HLA-$i")
    assert(exprNodes(sorted(Seq("1", "2", "X"))) == exprNodes(sorted(grch38)))
    assert(sorted(grch38).select("chrom", "pos").collect().toSeq == Seq(
      Row("1", 2L), Row("1", 9L), Row("2", 5L), Row("chrUn_1", 1L)))
  }
}
