package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.GenomicFixtures
import graft.operators.HaploProteins
import graft.queries.GenomicPipeline

/** Row-for-row parity between [[HaploProteins.proteinDatabase]], which
  * runs the compiled protein kernels, and the same pipeline over
  * [[LegacyProteinFolds]], the higher-order-function expressions the
  * kernels transcribe. The kernels are an OPTIMIZATION — identical
  * semantics is the contract, so every flag combination the declared
  * queries use runs both over the fixture mini-genome, the inline
  * edge-case haplotypes, and a generated multi-shape corpus, and the
  * outputs must match exactly (schema and rows).
  */
class HaploProteinsKernelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("haplo-kernel-parity")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GenomicFixtures.ensure(spark)
  }

  override def afterAll(): Unit = spark.stop()

  private def assertSame(haplo: DataFrame, what: String,
                         forceRf: Boolean = true,
                         ignoreUtr: Boolean = true,
                         skipStartLoss: Boolean = true,
                         requireNonSyn: Boolean = true,
                         keepCdna: Boolean = false): Unit = {
    val kernel = HaploProteins.proteinDatabase(haplo, forceRf, ignoreUtr,
      skipStartLoss, 0L, requireNonSyn, keepCdna)
    val legacy = HaploProteins.proteinDatabaseWith(LegacyProteinFolds,
      haplo, forceRf, ignoreUtr, skipStartLoss, 0L, requireNonSyn, keepCdna)
    assert(kernel.schema.map(f => (f.name, f.dataType)) ==
      legacy.schema.map(f => (f.name, f.dataType)),
      s"$what: schema diverged")
    val sortCols = kernel.columns.toSeq
    def rows(df: DataFrame): Seq[Row] =
      df.orderBy(sortCols.map(col): _*).collect().toSeq
    val (k, l) = (rows(kernel), rows(legacy))
    assert(k.length == l.length,
      s"$what: row count ${k.length} vs ${l.length}")
    k.zip(l).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"$what: row $i diverged\n kernel: $a\n legacy: $b")
    }
  }

  test("fixture corpus: default flags match the legacy expressions") {
    assertSame(GenomicPipeline.haploInput(spark), "default flags")
  }

  test("fixture corpus: pv1 flags (UTRs kept, start-loss kept, " +
    "synonymous kept) match") {
    assertSame(GenomicPipeline.haploInput(spark), "pv1 flags",
      ignoreUtr = false, skipStartLoss = false, requireNonSyn = false)
  }

  test("fixture corpus: forceRf=false and keepCdna=true match") {
    assertSame(GenomicPipeline.haploInput(spark),
      "forceRf=false keepCdna=true", forceRf = false, keepCdna = true)
    GenomicPipeline.releaseCaches()
  }

  // ---- inline edge shapes the shared fixture doesn't reach -------------
  private def inline(exons: Seq[(Long, Long)], startCodon: Option[Long],
                     strand: String, cdna: String,
                     changes: Seq[(Long, String, String, String)],
                     tx: String) = {
    val ss = spark
    import ss.implicits._
    Seq(1).toDF("x").select(
      lit(tx).as("transcript"), lit("1").as("chrom"),
      lit("protein_coding").as("biotype"), lit(strand).as("strand"),
      array(exons.map { case (s, e) =>
        struct(lit(s).as("start"), lit(e).as("end")) }: _*).as("exons"),
      startCodon.map(lit(_)).getOrElse(lit(null)).cast("long")
        .as("start_codon_start"),
      lit(null).cast("long").as("stop_codon_start"),
      lit(cdna).as("cdna"),
      lit(tx + changes.map(_._2).mkString(";")).as("signature"),
      array(changes.map { case (pos, id, ref, alt) =>
        struct(lit(pos).as("pos"), lit(id).as("varId"), lit(ref).as("ref"),
          lit(alt).as("alt"), lit(0.5).as("af")) }: _*).as("changes"),
      lit(1L).as("hap_count"), lit(0.5).as("frequency"),
      lit("S1:1").as("samples"))
  }

  private def edgeCases: DataFrame = {
    val cdna = "ATG" + "GCT" * 19 // 60 nt
    Seq(
      // allele ending exactly AT the exon end (splice flag, no truncation)
      inline(Seq((11L, 40L), (61L, 90L)), Some(11L), "+", cdna,
        Seq((39L, "e1", "CT", "AT")), "E1"),
      // REF spans the intron and reaches INTO the next exon (reassembly)
      inline(Seq((11L, 40L), (61L, 90L)), Some(11L), "+", cdna,
        Seq((39L, "e2", "CT" + "N" * 20 + "GC", "AA")), "E2"),
      // allele starting IN the intron before an exon (front truncation)
      inline(Seq((11L, 40L), (61L, 90L)), Some(11L), "+", cdna,
        Seq((59L, "e3", "NNGC", "T")), "E3"),
      // start codon destroyed (start_lost -> rf -1 chain)
      inline(Seq((11L, 70L)), Some(11L), "+", cdna,
        Seq((12L, "e4", "TG", "A")), "E4"),
      // frameshift BEFORE the start codon (shifts the start location)
      inline(Seq((5L, 70L)), Some(11L), "+",
        "TTTTTT" + cdna, Seq((7L, "e5", "T", "TA")), "E5"),
      // no start codon at all: rf = -1, three-frame chaining + deletion
      inline(Seq((11L, 70L)), None, "+", cdna,
        Seq((20L, "e6", "TGC", "T"), (31L, "e7", "C", "G")), "E6"),
      // reverse strand: flip + revComp path (cdna = revcomp of exon seq)
      inline(Seq((11L, 70L)), Some(68L), "-",
        graft.functions.dna.codonTable.map(_._1).mkString("")
          .take(60), Seq((30L, "e8", "A", "C"), (45L, "e9", "G", "T")),
        "E7"),
      // multi-variant with indel offsets: insertion then SNP downstream
      inline(Seq((11L, 70L)), Some(11L), "+", cdna,
        Seq((15L, "eA", "T", "TCC"), (24L, "eB", "C", "A")), "E8"),
      // liftover drop: ALT already present in the reference cDNA
      inline(Seq((11L, 70L)), Some(11L), "+", cdna,
        Seq((15L, "eC", "T", "GC")), "E9") // cdna[4..5] = "GC"
    ).reduce(_ unionByName _)
  }

  test("edge-case haplotypes match under every declared flag combo") {
    assertSame(edgeCases, "edges default")
    assertSame(edgeCases, "edges pv1 flags",
      ignoreUtr = false, skipStartLoss = false, requireNonSyn = false)
    assertSame(edgeCases, "edges forceRf=false",
      forceRf = false, keepCdna = true)
  }

  // ---- generated corpus: many shapes through the same plan --------------
  private def generated(n: Int): DataFrame = {
    val rnd = new scala.util.Random(42)
    val bases = "ACGT"
    def seq(len: Int): String =
      (0 until len).map(_ => bases(rnd.nextInt(4))).mkString
    val rows = (0 until n).map { i =>
      val nEx = 1 + rnd.nextInt(3)
      var cursor = 11L
      val exons = (0 until nEx).map { _ =>
        val len = 30 + rnd.nextInt(60)
        val s = cursor
        cursor += len + 20 + rnd.nextInt(30) // intron gap
        (s, s + len - 1)
      }
      val exLen = exons.map { case (s, e) => (e - s + 1).toInt }.sum
      val strand = if (rnd.nextInt(4) == 0) "-" else "+"
      val cdna = "ATG" + seq(exLen - 3)
      val startCodon =
        if (rnd.nextInt(5) == 0) None else Some(exons.head._1)
      // spliced coordinate of a genomic position inside exon k
      def spliced(k: Int, pos: Long): Int =
        exons.take(k).map { case (s, e) => (e - s + 1).toInt }.sum +
          (pos - exons(k)._1).toInt
      val nVar = 1 + rnd.nextInt(3)
      val changes = (0 until nVar).map { j =>
        val k = rnd.nextInt(nEx)
        val (s, e) = exons(k)
        val pos = s + rnd.nextInt((e - s + 1).toInt)
        val kind = rnd.nextInt(10)
        val sp = spliced(k, pos)
        val refLen = kind match {
          case 0 | 1 => 1 + rnd.nextInt(4) // deletion-ish
          case _ => 1
        }
        val ref =
          if (strand == "+" && sp + refLen <= cdna.length)
            cdna.substring(sp, sp + refLen) // consistent: applies cleanly
          else seq(refLen) // random: exercises the mismatch/ok=false path
        val alt = kind match {
          case 2 | 3 => ref + seq(1 + rnd.nextInt(3)) // insertion
          case _ => seq(1)
        }
        (pos, s"v${i}_$j", ref, alt)
      }.sortBy(_._1)
      (exons, startCodon, strand, cdna, changes, s"G$i")
    }
    rows.map { case (ex, sc, st, cd, ch, tx) =>
      inline(ex, sc, st, cd, ch, tx)
    }.reduce(_ unionByName _)
  }

  test("generated corpus (120 haplotypes, mixed shapes) matches") {
    val corpus = generated(120).localCheckpoint()
    assertSame(corpus, "generated default")
    assertSame(corpus, "generated pv1 flags",
      ignoreUtr = false, skipStartLoss = false, requireNonSyn = false)
    corpus.unpersist(blocking = false)
  }

  test("the main path compiles every protein kernel inside " +
    "WholeStageCodegen") {
    val corpus = generated(12).localCheckpoint()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val db = HaploProteins.proteinDatabase(corpus)
      db.collect()
      val folds = Set("graft_rna_allele", "graft_start_state",
        "graft_apply_vars", "graft_affected", "graft_conseq")
      val (compiled, interpreted) =
        GraftFunctionsSpec.kernelsByStage(db.queryExecution.executedPlan)
      assert(compiled == folds + "graft_translate_dna")
      // the whole-cDNA translation runs once per haplotype before the
      // UTR filter; inlined into the filter's lambda, it would evaluate
      // interpreted once per variant
      assert(interpreted.isEmpty, interpreted)
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      corpus.unpersist(blocking = false)
    }
  }
}
