package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.GenomicFixtures
import graft.queries.GenomicPipeline

/** The CLI mains end-to-end from the RAW fixture files
  * (VCF/GTF/FASTA/TSV). The h4/pv1 gates run the same composition, so
  * `Prohap.run`/`Provar.run` are also checked against the committed
  * snapshots in fixtures/expected/.
  */
class CliSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("cli-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GenomicFixtures.ensure(spark)
  }

  override def afterAll(): Unit = spark.stop()

  private val fixtureOpts = GenomicFixtures.cliOpts

  /** A committed gate snapshot: checked independently of the composition
    * that the gates and the CLI mains now share.
    */
  private def expected(name: String) =
    spark.read.parquet(s"fixtures/expected/$name.parquet")

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val cols = df.columns.sorted
    df.selectExpr(cols: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSet
  }

  test("Prohap.run from raw files == the h4 protein database") {
    val cli = Prohap.run(spark, fixtureOpts)
    val gate = GenomicPipeline.proteinDb(spark)
      .drop("cdna_sequence", "cdna_start")
    assert(cli.columns.sorted.sameElements(gate.columns.sorted))
    assert(rowsOf(cli) == rowsOf(gate))
    val snapshot = expected("h4_protein_db")
    assert(cli.columns.sorted.sameElements(snapshot.columns.sorted))
    assert(rowsOf(cli) == rowsOf(snapshot))
    GenomicPipeline.releaseCaches()
  }

  test("Prohap.run with -i sample.bcf (binary input) == the text-VCF " +
    "run, end to end through the whole pipeline") {
    val text = Prohap.run(spark, fixtureOpts)
    val bcf = Prohap.run(spark,
      fixtureOpts + ("i" -> GenomicFixtures.bcfPath(spark)))
    assert(rowsOf(bcf) == rowsOf(text))
    GenomicPipeline.releaseCaches()
  }

  test("Prohap.run with -i <bare BCF shard DIRECTORY> (the repo's own " +
    "writeSharded layout, no extension) == the text-VCF run — content " +
    "sniffing, not suffix, routes the input") {
    val text = Prohap.run(spark, fixtureOpts)
    val dir = Prohap.run(spark,
      fixtureOpts + ("i" -> GenomicFixtures.regionBcfShardedDir(spark)))
    assert(rowsOf(dir) == rowsOf(text))
    GenomicPipeline.releaseCaches()
  }

  test("Provar.run with -i sample.bcf == the text-VCF run") {
    val text = Provar.run(spark, fixtureOpts)
    val bcf = Provar.run(spark,
      fixtureOpts + ("i" -> GenomicFixtures.bcfPath(spark)))
    assert(rowsOf(bcf) == rowsOf(text))
    GenomicPipeline.releaseCaches()
  }

  test("-region on a sorted .vcf.gz/.bcf routes through the index-free " +
    "pushdown and == the -chr per-chromosome run (the reference's " +
    "Snakefile sharding, as one flag)") {
    GenomicFixtures.ensure(spark)
    // -chr 1 on the plain text fixture = the hand-sharded reference
    // access pattern; -region 1:1-200 on the sorted BGZF/BCF
    // re-encodings must reproduce it exactly (chrom 1's records all
    // sit in [1, 200])
    val byChr = Prohap.run(spark, fixtureOpts + ("chr" -> "1"))
    val byRegionGz = Prohap.run(spark, fixtureOpts +
      ("i" -> GenomicFixtures.regionVcfGzPath, "region" -> "1:1-200"))
    assert(rowsOf(byRegionGz) == rowsOf(byChr))
    val byRegionBcf = Provar.run(spark, fixtureOpts +
      ("i" -> GenomicFixtures.regionBcfPath(spark), "region" -> "1:1-200"))
    assert(rowsOf(byRegionBcf) ==
      rowsOf(Provar.run(spark, fixtureOpts + ("chr" -> "1"))))
    // bare-chrom and comma'd-number forms parse; GRCh38 ALT contig
    // names legally contain colons — split at the LAST colon and only
    // when a numeric span follows
    assert(ProHapCli.parseRegion("X") == ("X", 1L, Int.MaxValue.toLong))
    assert(ProHapCli.parseRegion("17:41,100,000-41,300,000") ==
      ("17", 41100000L, 41300000L))
    assert(ProHapCli.parseRegion("HLA-A*01:01:01:01N") ==
      ("HLA-A*01:01:01:01N", 1L, Int.MaxValue.toLong))
    assert(ProHapCli.parseRegion("HLA-A*01:01:01:01N:100-200") ==
      ("HLA-A*01:01:01:01N", 100L, 200L))
    GenomicPipeline.releaseCaches()
  }

  test("-regions panel.bed (bcftools -R) drives the multi-region read " +
    "and == the single -region run covering the same span") {
    GenomicFixtures.ensure(spark)
    // BED is 0-based half-open: [0, 200) == region 1:1-200; the second
    // line is a no-hit region and must change nothing
    val bed = java.nio.file.Files.createTempFile("panel", ".bed")
    java.nio.file.Files.writeString(bed,
      "1\t0\t200\nX\t5000\t6000\n")
    val byRegion = Prohap.run(spark, fixtureOpts +
      ("i" -> GenomicFixtures.regionVcfGzPath, "region" -> "1:1-200"))
    val byPanel = Prohap.run(spark, fixtureOpts +
      ("i" -> GenomicFixtures.regionVcfGzPath,
        "regions" -> bed.toString))
    assert(rowsOf(byPanel) == rowsOf(byRegion))
    // the BCF container takes the same flag
    val byPanelBcf = Provar.run(spark, fixtureOpts +
      ("i" -> GenomicFixtures.regionBcfPath(spark),
        "regions" -> bed.toString))
    assert(rowsOf(byPanelBcf) == rowsOf(Provar.run(spark, fixtureOpts +
      ("i" -> GenomicFixtures.regionBcfPath(spark),
        "region" -> "1:1-200"))))
    GenomicPipeline.releaseCaches()
  }

  test("Prohap.run honors min_hap_count and min_hap_freq") {
    val all = Prohap.run(spark, fixtureOpts).collect()
    val counted = Prohap.run(spark,
      fixtureOpts + ("min_hap_count" -> "2")).collect()
    assert(counted.length ==
      all.count(_.getAs[Long]("occurrence_count") >= 2L))
    val freq = Prohap.run(spark,
      fixtureOpts + ("min_hap_freq" -> "0.3")).collect()
    assert(freq.length == all.count(_.getAs[Double]("frequency") >= 0.3))
    GenomicPipeline.releaseCaches()
  }

  test("require_start default drops start-codon-less transcripts") {
    // reference default (prohap.py:122-127): require_start=1 keeps only
    // transcripts with a start_codon feature — the fixture's T5 (rf=-1)
    // must vanish; with 0 it is present
    val strict = Prohap.run(spark, fixtureOpts - "require_start").collect()
    assert(strict.forall(_.getAs[Int]("reading_frame") > -1))
    val loose = Prohap.run(spark, fixtureOpts).collect()
    assert(loose.exists(_.getAs[Int]("reading_frame") == -1))
    assert(strict.length < loose.length)
    GenomicPipeline.releaseCaches()
  }

  test("Provar.run from raw files == the pv1 per-variant database") {
    val cli = Provar.run(spark, fixtureOpts)
    val gate = SparkEntry.queries("pv1_provar")(spark, "")
    assert(rowsOf(cli) == rowsOf(gate))
    assert(rowsOf(cli) == rowsOf(expected("pv1_provar")))
    GenomicPipeline.releaseCaches()
  }

  test("Provar's writers: one TSV row per pv1 row, FASTA entries tagged " +
    "generic_var with var_ accessions") {
    val out = s"${GenomicFixtures.dir}/cli_out_provar"
    val opts = fixtureOpts ++ Map("single_file" -> "1",
      "output_csv" -> s"$out/var.tsv", "output_fasta" -> s"$out/var.fasta")
    val db = Provar.run(spark, opts)
    ProHapCli.writeOutputs(db, opts, "generic_var", "var", "var_")
    val meta = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$out/var.tsv")
    assert(meta.count() == expected("pv1_provar").count())
    assert(meta.collect().forall(
      _.getAs[String]("HaplotypeID").startsWith("var_")))
    val fasta = graft.sources.Fasta.read(spark, s"$out/var.fasta").collect()
    assert(fasta.nonEmpty)
    assert(fasta.forall(_.getAs[String]("tag") == "generic_var"))
    assert(fasta.forall(_.getAs[String]("accession").startsWith("var_")))
    GenomicPipeline.releaseCaches()
  }

  test("parseArgs rejects a trailing flag without a value and a key " +
    "token without '-', naming the token; values may start with '-'") {
    val trailing = intercept[IllegalArgumentException](
      ProHapCli.parseArgs(Array("-i", "in.vcf", "-af")))
    assert(trailing.getMessage.contains("-af"))
    val bare = intercept[IllegalArgumentException](
      ProHapCli.parseArgs(Array("-i", "in.vcf", "af", "0.01")))
    assert(bare.getMessage.contains("'af'"))
    assert(ProHapCli.parseArgs(Array("-min_backoff_logp", "-8", "-i", "x"))
      == Map("min_backoff_logp" -> "-8", "i" -> "x"))
  }

  test("one ProHap/ProVar definition: the fixtures build gts_long " +
    "through the CLI step, the haplotype ID, the writers and the " +
    "frame-entries explode each exist once under src/main") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val sources = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => (p.toString.replace(java.io.File.separatorChar, '/'),
        new String(Files.readAllBytes(p), "UTF-8")))
      .toSeq.sortBy(_._1)
    def count(needle: String): Seq[String] = sources.flatMap {
      case (f, t) => Iterator.iterate(t.indexOf(needle))(
        i => t.indexOf(needle, i + needle.length)).takeWhile(_ >= 0)
        .map(_ => f)
    }
    val fixtures = sources.collect {
      case (f, t) if f.endsWith("/GenomicFixtures.scala") => t
    }.mkString
    for (fn <- Seq("pointsInIntervals(", "genotypesLong("))
      assert(!fixtures.contains(fn),
        s"GenomicFixtures calls $fn — build gts_long through ProHapCli")
    val hapId = count(
      """md5(concat(col("transcript"), lit("|"), col("vcf_ids")))""")
    assert(hapId.size == 1, s"haplotype-ID expression at $hapId")
    val writers = count("write(metadataFrame(")
    assert(writers.size == 1, s"writer composition at $writers")
    val explodes = count("""alt_frame_sequences") === "-"""")
    assert(explodes.size <= 2, s"frame-entries explode at $explodes")
  }

  test("Prohap writers emit TSV + FASTA + cDNA FASTA round-trippably") {
    import org.apache.spark.sql.functions.col
    val out = s"${GenomicFixtures.dir}/cli_out"
    Prohap.main(Array(
      "-i", fixtureOpts("i"), "-db", fixtureOpts("db"),
      "-cdna", fixtureOpts("cdna"), "-s", fixtureOpts("s"),
      "-x_par1_to", fixtureOpts("x_par1_to"),
      "-x_par2_from", fixtureOpts("x_par2_from"),
      "-require_start", "0",
      "-bin_size", "20", "-single_file", "1",
      "-master", "local[4]",
      "-output_csv", s"$out/haplo.tsv",
      "-output_fasta", s"$out/haplo.fasta",
      "-output_cdna_fasta", s"$out/haplo_cdna.fasta"))
    // main() stops the session — restart for the assertions
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").appName("cli-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meta = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$out/haplo.tsv")
    val gate = GenomicPipeline.proteinDb(spark)
    assert(meta.count() == gate.count())
    assert(meta.columns.contains("HaplotypeID") &&
      meta.columns.contains("TranscriptID"))
    val fasta = graft.sources.Fasta.read(spark, s"$out/haplo.fasta")
    assert(fasta.count() ==
      operators.HaploProteins.dedupProteins(gate).count())
    assert(fasta.collect().forall(
      _.getAs[String]("description").contains("matching_proteins:")))
    val cdna = graft.sources.Fasta.read(spark, s"$out/haplo_cdna.fasta")
    assert(cdna.count() ==
      operators.HaploProteins.dedupCdna(gate).count())
    GenomicPipeline.releaseCaches()
  }

  test("Corpus.run == the hand-composed filter/dedup stage chain") {
    import org.apache.spark.sql.functions._
    import graft.functions.text
    val in = "/root/testdata/sf0.001/documents.parquet"
    val cli = Corpus.run(spark, Map(
      "i" -> in, "lang" -> "en", "min_quality" -> "0.4",
      "gopher" -> "1", "dedup" -> "near", "jaccard" -> "0.8",
      "report" -> "0"))
    // same stages composed directly from the operators the gates check;
    // -lang defaults to the t41 profile scorer, so compose its staged
    // grams->scores->pick shape here too
    val raw = spark.read.parquet(in)
    val langPred = raw
      .select(col("doc_id"), text.langGrams(col("text")).as("gs"))
      .select(col("doc_id") +: text.langNgramScores(col("gs"))
        .map { case (l, d) => d.as(s"s_$l") }: _*)
      .select(col("doc_id"), text.langNgramPick(
        text.langSeeds.map(_._1).map(l => l -> col(s"s_$l")))
        .as("lang_pred"))
    val docs = raw
      .join(langPred.where(col("lang_pred") === "en").select("doc_id"),
        Seq("doc_id"), "left_semi")
      .where(text.qualityScore(col("text")) >= 0.4)
      .where(text.gopherMetrics(col("text")).getField("keep"))
    val clusters = operators.Dedup.duplicateClusters(
      operators.Dedup.minhashLsh(docs, "doc_id", "text",
        jaccardThreshold = 0.8))
    val kept = clusters
      .join(docs.select(col("doc_id").as("id"),
        text.qualityScore(col("text")).as("q")), Seq("id"))
      .groupBy(col("cluster"))
      .agg(max(struct(col("q"), (-col("id")).as("_negId"))).as("m"))
      .select((-col("m._negId")).as("doc_id"))
    val expected = docs.join(
      clusters.select(col("id").as("doc_id")).exceptAll(kept),
      Seq("doc_id"), "left_anti")
    assert(rowsOf(cli) == rowsOf(expected))
    assert(cli.count() > 0)
    operators.Dedup.releaseCaches()
  }

  test("Corpus -lang stage == the t41 gate query's predictions; " +
    "-lang_scorer stopword == t3's") {
    import org.apache.spark.sql.functions._
    import graft.functions.text
    val dir = "/root/testdata/sf0.001"
    val in = s"$dir/documents.parquet"
    // default scorer parity vs the t41 gate query itself
    val gateEn = queries.Documents.queries("t41_langid_ngram")(spark, dir)
      .where(col("lang_pred") === "en").select("doc_id")
    val cliEn = Corpus.run(spark, Map("i" -> in, "lang" -> "en",
      "dedup" -> "none", "report" -> "0")).select("doc_id")
    assert(rowsOf(cliEn) == rowsOf(gateEn))
    assert(cliEn.count() > 0)
    // the legacy scorer stays reachable and matches t3
    val t3En = spark.read.parquet(in)
      .where(text.langId(col("text")) === "en").select("doc_id")
    val cliStop = Corpus.run(spark, Map("i" -> in, "lang" -> "en",
      "lang_scorer" -> "stopword", "dedup" -> "none", "report" -> "0"))
      .select("doc_id")
    assert(rowsOf(cliStop) == rowsOf(t3En))
  }

  test("Corpus exact dedup keeps one doc per identical text") {
    val s2 = spark
    import s2.implicits._
    val out = s"${sys.props("java.io.tmpdir")}/graft-corpus-exact-" +
      ProcessHandle.current.pid
    Seq((1L, "same text here"), (2L, "same text here"),
      (3L, "unique text")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(out)
    val got = Corpus.run(spark, Map(
      "i" -> out, "dedup" -> "exact", "report" -> "0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L))
  }

  test("Corpus -decontaminate drops exactly the t5 contamination hits") {
    import org.apache.spark.sql.functions._
    val in = "/root/testdata/sf0.001/documents.parquet"
    val benchOut = s"${sys.props("java.io.tmpdir")}/graft-corpus-bench-" +
      ProcessHandle.current.pid
    // same pseudo eval set the t5 gate query uses: doc_id < 20
    spark.read.parquet(in).where(col("doc_id") < 20)
      .write.mode("overwrite").parquet(benchOut)
    val got = Corpus.run(spark, Map(
      "i" -> in, "dedup" -> "none", "decontaminate" -> benchOut,
      "report" -> "0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // stage parity: survivors = input minus the t5 operator's hits
    val hits = operators.Dedup.contamination(
      spark.read.parquet(in), spark.read.parquet(benchOut),
      "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = spark.read.parquet(in)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == (all -- hits))
    assert(hits.nonEmpty && got.nonEmpty) // the check actually bit
    // every benchmark doc is itself a hit (shares all its grams)
    assert(all.filter(_ < 20).forall(hits.contains))
  }

  test("Corpus -cut_spans rewrites text via cutDuplicateSpans, dropping " +
    "no rows") {
    val s2 = spark
    import s2.implicits._
    import org.apache.spark.sql.functions._
    val out = s"${sys.props("java.io.tmpdir")}/graft-corpus-cut-" +
      ProcessHandle.current.pid
    def w(prefix: Char, i: Int) =
      s"$prefix${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    val passage = (0 until 20).map(w('s', _)).mkString(" ")
    Seq(
      (1L, passage),            // first owner: untouched
      (2L, passage + " " + (0 until 10).map(w('t', _)).mkString(" ")),
      (3L, "too short"))        // no 8-gram: normalized only
      .toDF("doc_id", "text").write.mode("overwrite").parquet(out)
    val got = Corpus.run(spark, Map(
      "i" -> out, "dedup" -> "none", "cut_spans" -> "1", "report" -> "0"))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // stage parity with the d14 operator on the same input
    val expect = operators.Dedup.cutDuplicateSpans(
      spark.read.parquet(out), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == expect)
    assert(got(1L) == passage)               // first occurrence survives
    assert(got(2L) == (0 until 10).map(w('t', _)).mkString(" "))
    assert(got(3L) == "too short")
  }

  test("Corpus -max_dup_ratio drops boilerplate-heavy docs, keeps short " +
    "ones") {
    val s2 = spark
    import s2.implicits._
    val out = s"${sys.props("java.io.tmpdir")}/graft-corpus-dup-" +
      ProcessHandle.current.pid
    // alphabetic-distinct words: text.words strips digits, so "w1..w50"
    // would collapse to one repeated token and look fully duplicated
    def w(prefix: Char, i: Int) =
      s"$prefix${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    val passage = (0 until 50).map(w('s', _)).mkString(" ")
    Seq(
      (1L, passage),                      // 100% duplicated grams
      (2L, passage + " tail unique bit"), // mostly duplicated
      (3L, (0 until 50).map(w('f', _)).mkString(" ")), // 0% dup
      (4L, "too short"))                  // no 8-gram: ratio 0, kept
      .toDF("doc_id", "text").write.mode("overwrite").parquet(out)
    val got = Corpus.run(spark, Map(
      "i" -> out, "dedup" -> "none", "max_dup_ratio" -> "0.5",
      "report" -> "0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(3L, 4L))
  }

  test("Corpus -vocab budgets -pack with the t16 greedy tokenizer, not " +
    "the bpe proxy") {
    import org.apache.spark.sql.functions._
    import graft.functions.text
    val s = spark
    import s.implicits._
    val sf = "/root/testdata/sf0.001"
    val vocab = Seq(" the", "the", " and", "and", "ing", "ed", "er",
      "a", "e", "i", "o", "u", "s", "t", "n", " ")
    val vPath = s"${sys.props("java.io.tmpdir")}/graft-vocab-" +
      ProcessHandle.current.pid
    vocab.toDF("token").write.mode("overwrite").parquet(vPath)
    val cli = Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "pack" -> "1000", "vocab" -> s"$vPath,4", "report" -> "0"))
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        text.vocabTokenCount(col("text"), text.vocabMap(vocab), 4)
          .as("want"))
    val diff = cli.join(expected, Seq("doc_id"))
      .where(col("tokens") =!= col("want")).count()
    assert(diff == 0)
    // and it genuinely differs from the bpe proxy on this corpus
    val proxyDiff = cli.join(
      spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"),
        text.bpeTokenCount(col("text")).cast("long").as("proxy")),
      Seq("doc_id")).where(col("tokens") =!= col("proxy")).count()
    assert(proxyDiff > 0)
  }

  test("Corpus -min_classifier_score drops exactly the t15 below-floor " +
    "docs") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // the gate's deterministic weight table, persisted the way production
    // would hand Corpus an offline-trained model
    val wPath = s"${sys.props("java.io.tmpdir")}/graft-clf-weights-" +
      ProcessHandle.current.pid
    spark.range(64).select(col("id").as("bucket"),
      ((col("id") * 2654435761L) % 1000 / lit(500.0) - 1.0).as("weight"))
      .write.mode("overwrite").parquet(wPath)
    val cli = Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "min_classifier_score" -> "0.5", "classifier_weights" -> wPath,
      "classifier_dim" -> "64", "classifier_bias" -> "0.1",
      "report" -> "0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gate = SparkEntry.queries("t15_classifier_score")(spark, sf)
      .where(col("clf_score") >= 0.5).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(cli == gate)
    assert(cli.nonEmpty)
    // the floor actually bites on this corpus (not a pass-through test)
    val all = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(cli.size < all)
  }

  test("Corpus -min_dsir_logw keeps exactly the t35 at-or-above-floor " +
    "docs") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // the gate's target slice, persisted the way production would hand
    // Corpus a curated target sample
    val tPath = s"${sys.props("java.io.tmpdir")}/graft-dsir-target-" +
      ProcessHandle.current.pid
    spark.read.parquet(s"$sf/documents.parquet")
      .where(col("lang") === "en")
      .write.mode("overwrite").parquet(tPath)
    val cli = Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "min_dsir_logw" -> "0", "dsir_target" -> tPath,
      "dsir_dim" -> "64", "report" -> "0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gate = SparkEntry.queries("t35_dsir")(spark, sf)
      .where(col("dsir_logw") >= 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(cli == gate)
    assert(cli.nonEmpty)
    val all = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(cli.size < all)
  }

  test("Corpus -compress_band drops appended boilerplate docs, keeps " +
    "the prose corpus") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // append synthetic boilerplate docs that crush under DEFLATE; the
    // band floor must drop exactly those
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val boiler = spark.range(5).select(
      (col("id") + 900000).as("doc_id"),
      concat_ws(" ", (0 until 60).map(_ => lit("nav home about")): _*)
        .as("text"),
      lit("en").as("lang"), lit("synthb").as("source"),
      lit(0L).as("n_chars"))
    val inPath = s"${sys.props("java.io.tmpdir")}/graft-cb-in-" +
      ProcessHandle.current.pid
    docs.unionByName(boiler).write.mode("overwrite").parquet(inPath)
    val cli = Corpus.run(spark, Map(
      "i" -> inPath, "dedup" -> "none",
      "compress_band" -> "0.1", "report" -> "0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!cli.exists(_ >= 900000L), "boilerplate docs must drop")
    val all = docs.count()
    assert(cli.size == all,
      s"every real prose doc survives: ${cli.size} vs $all")
  }

  test("Corpus -embed_out writes exactly the t39 embedding table for " +
    "the surviving corpus") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val ePath = s"${sys.props("java.io.tmpdir")}/graft-embed-out-" +
      ProcessHandle.current.pid
    Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "embed_out" -> s"64,$ePath", "report" -> "0")).count()
    val cli = spark.read.parquet(ePath)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val gate = SparkEntry.queries("t39_hash_embed")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(cli == gate)
    assert(cli.nonEmpty)
  }

  test("Corpus -repetition drops exactly the t14 keep=false docs") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val cli = Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "repetition" -> "0.20,0.18", "report" -> "0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gate = SparkEntry.queries("t14_repetition")(spark, sf)
      .where(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(cli == gate)
    assert(cli.nonEmpty)
  }

  test("Corpus -chunk == the t13 gate query (stage parity)") {
    val sf = "/root/testdata/sf0.001"
    val cli = Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "chunk" -> "64,48", "report" -> "0"))
      .select("doc_id", "chunk_id", "chunk_tokens", "chunk_text")
    val gate = SparkEntry.queries("t13_chunk_overlap")(spark, sf)
    assert(rowsOf(cli) == rowsOf(gate))
    assert(cli.count() > 0)
  }

  test("Corpus -pack rolled up == the t7 gate query (stage parity)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val cli = Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "pack" -> "1000", "report" -> "0"))
    // per-doc chunk assignment is the training-ready output; its rollup
    // must equal the gate's chunkSummary exactly
    val rolled = operators.Packing.chunkSummary(cli, "source", "doc_id",
      "tokens")
    val gate = SparkEntry.queries("t7_seq_pack")(spark, sf)
    assert(rowsOf(rolled) == rowsOf(gate))
    // every chunk lands within budget + its last doc's overrun
    val over = cli.groupBy(col("source"), col("chunk_idx"))
      .agg(sum(col("tokens")).as("t"), max(col("tokens")).as("m"))
      .where(col("t") > lit(1000L) + col("m")).count()
    assert(over == 0L)
  }

  test("Corpus -partition_by writes hive-layout dirs that read back " +
    "whole and prune to one subtree") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val out = s"${sys.props("java.io.tmpdir")}/graft-corpus-part-" +
      ProcessHandle.current.pid
    Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "o" -> out, "partition_by" -> "source", "report" -> "0"))
    val sources = spark.read.parquet(s"$sf/documents.parquet")
      .select("source").distinct().collect().map(_.getString(0)).toSet
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("source=")).map(_.getName).toSet
    assert(dirs == sources.map(s => s"source=$s"))
    // round trip: partition column restored, row count preserved
    val back = spark.read.parquet(out)
    assert(back.columns.toSet ==
      spark.read.parquet(s"$sf/documents.parquet").columns.toSet)
    assert(back.count() ==
      spark.read.parquet(s"$sf/documents.parquet").count())
    // partition pruning reaches the scan
    val one = sources.head
    val plan = back.where(col("source") === one)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Filter ") ||
      plan.contains(s"source=$one") || plan.contains("PartitionFilters"),
      plan)
  }

  test("Corpus -zorder writes a z-laid-out corpus that reads back whole " +
    "with min/max file pruning on either column") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val out = s"${sys.props("java.io.tmpdir")}/graft-corpus-zorder-" +
      ProcessHandle.current.pid
    Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "o" -> out, "zorder" -> "doc_id,n_chars,6", "report" -> "0"))
    val src = spark.read.parquet(s"$sf/documents.parquet")
    val back = spark.read.parquet(out)
    assert(back.columns.toSet == src.columns.toSet)
    assert(back.count() == src.count())
    // the layout property -zorder exists for: per-file envelopes on BOTH
    // columns are narrow enough that a selective predicate on either one
    // touches a strict subset of the files (parquet min/max pruning)
    val env = back
      .groupBy(input_file_name().as("f"))
      .agg(min(col("doc_id")).as("lo_id"), max(col("doc_id")).as("hi_id"),
        min(col("n_chars")).as("lo_nc"), max(col("n_chars")).as("hi_nc"))
      .collect()
    assert(env.length == 6, s"expected 6 files, got ${env.length}")
    val stats = src.agg(min("doc_id"), max("doc_id"),
      min("n_chars"), max("n_chars")).head()
    val (idProbe, ncProbe) = (stats.getLong(0), stats.getLong(2))
    val idHits = env.count(r =>
      r.getLong(1) <= idProbe && idProbe <= r.getLong(2))
    val ncHits = env.count(r =>
      r.getLong(3) <= ncProbe && ncProbe <= r.getLong(4))
    assert(idHits < env.length, "doc_id envelope pruning ineffective")
    assert(ncHits < env.length, "n_chars envelope pruning ineffective")
  }

  test("Corpus -entropy and -min_bigram_logp drop exactly the t20/t17 " +
    "flagged docs") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // entropy band: same t20 arithmetic, stage == direct filter
    val gotE = Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "entropy" -> "2.8,2.95", "report" -> "0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val t20 = graft.queries.Documents.queries("t20_entropy")(spark, sf)
      .where(col("n_alpha") > 0 && col("entropy") >= 2.8 &&
        col("entropy") <= 2.95)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the stage filters on the UNROUNDED entropy; tolerate only docs
    // sitting exactly on the rounded boundary
    assert((gotE diff t20).isEmpty || (gotE diff t20).forall { id =>
      val e = graft.queries.Documents.queries("t20_entropy")(spark, sf)
        .where(col("doc_id") === id).select("entropy")
        .head.getDouble(0)
      e == 2.8 || e == 2.95
    }, s"stage kept ${(gotE diff t20).size} docs t20 rejects")
    assert(gotE.nonEmpty && gotE.size < docs.count())
    // bigram floor: stage == scores-based filter (short docs kept);
    // the floor is data-derived (5th-lowest score) so it always bites
    val floor = graft.operators.LanguageModel
      .bigramScores(docs, "doc_id", "text")
      .orderBy(col("avg_logp")).limit(5)
      .collect().map(_.getDouble(2)).max + 1e-6
    val gotB = Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "min_bigram_logp" -> floor.toString, "report" -> "0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val low = graft.operators.LanguageModel
      .bigramScores(docs, "doc_id", "text")
      .where(col("avg_logp") < floor)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotB == (all diff low))
    assert(low.nonEmpty, "floor chosen so the stage actually drops docs")
  }

  test("Corpus -epoch_shuffle writes files whose order IS the t24 rank " +
    "order") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val out = s"${sys.props("java.io.tmpdir")}/graft-corpus-shuf-" +
      ProcessHandle.current.pid
    Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "o" -> out, "epoch_shuffle" -> "ep1,5", "report" -> "0"))
    val src = spark.read.parquet(s"$sf/documents.parquet")
    val back = spark.read.parquet(out)
    assert(back.count() == src.count())
    // ranks are the exact 0..n-1 permutation from the t24 operator
    val expected = graft.operators.Sampling
      .shuffleRank(src, "doc_id", "ep1")
      .select("doc_id", "shuffle_rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = back.select("doc_id", "shuffle_rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // file order is epoch order: per-file rank ranges are disjoint and
    // files are near-equal (ranks are dense, range-split on rank)
    val env = back.groupBy(input_file_name().as("f"))
      .agg(min("shuffle_rank").as("lo"), max("shuffle_rank").as("hi"),
        count(lit(1)).as("n"))
      .orderBy("lo").collect()
    assert(env.length == 5, s"expected 5 files, got ${env.length}")
    env.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0).getLong(2) < w(1).getLong(1),
        "file rank ranges must be disjoint and ordered")
    }
  }

  test("Corpus -dedup near_winnow == d17 pairs -> d6 clusters -> d10 " +
    "resolution (stage parity)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "near_winnow",
      "jaccard" -> "0.5", "report" -> "0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = graft.operators.Winnowing
      .winnowPairs(docs, "doc_id", "text")
      .where(col("score") >= 0.5).select("id1", "id2")
    val clusters = graft.operators.Dedup.duplicateClusters(pairs)
    val quality = docs.select(col("doc_id").as("id"),
      graft.functions.text.qualityScore(col("text")).as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("q").desc, col("id").asc)
    val losers = clusters.join(quality, Seq("id"))
      .withColumn("_rn", row_number().over(w)).where(col("_rn") > 1)
      .collect().map(_.getAs[Long]("id")).toSet
    val expect = docs.collect().map(_.getAs[Long]("doc_id")).toSet -- losers
    assert(got == expect)
    assert(losers.nonEmpty, "the corpus must actually contain near-dups")
  }

  test("Corpus -split == t28 assignment, clusters never straddle") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "split" -> "0.2,sx", "report" -> "0"))
      .select("doc_id", "cluster", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val expect = graft.operators.Sampling.leakageFreeSplit(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
      testFrac = 0.2, salt = "sx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSet == expect.toSet)
    got.groupBy(_._2).values.foreach(ms =>
      assert(ms.map(_._3).toSet.size == 1))
    assert(got.map(_._3).toSet == Set("train", "test"))
  }

  test("Corpus -mix == t27 mixSample (stage parity), caps honored") {
    val sf = "/root/testdata/sf0.001"
    val got = Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "mix" -> "0.4,mx", "mix_weights" -> "src0=6,src1=3",
      "report" -> "0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = graft.operators.Sampling.mixSample(
      spark.read.parquet(s"$sf/documents.parquet"), "source", "doc_id",
      Map("src0" -> 6L, "src1" -> 3L), defaultWeight = 1L,
      targetFrac = 0.4, salt = "mx")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expect && got.nonEmpty)
    // a rate capped at 1 keeps the WHOLE source
    val full = graft.operators.Sampling.mixSample(
      spark.read.parquet(s"$sf/documents.parquet"), "source", "doc_id",
      Map("src0" -> 1000L), defaultWeight = 1L,
      targetFrac = 0.5, salt = "mx")
    val src0All = spark.read.parquet(s"$sf/documents.parquet")
      .where(org.apache.spark.sql.functions.col("source") === "src0")
      .count()
    assert(full.where(org.apache.spark.sql.functions.col("source") ===
      "src0").count() == src0All)
  }

  test("Corpus -drop_code and -fim == the t29/t30 operators (stage " +
    "parity)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val base = spark.read.parquet(s"$sf/documents.parquet")
    // seed code docs the way the t29 gate does
    val snippet = "\nfunction f(x) {\n  var y = x + 1;\n" +
      "  return y;\n}\nclass A {\n  static int g() { return 0; }\n}"
    val mixed = base.withColumn("text",
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(col("text"), lit(snippet))).otherwise(col("text")))
    val tmp = s"${sys.props("java.io.tmpdir")}/graft-clispec-codemix-" +
      ProcessHandle.current.pid
    mixed.write.mode("overwrite").parquet(tmp)
    val kept = Corpus.run(spark, Map(
      "i" -> tmp, "dedup" -> "none", "drop_code" -> "1",
      "report" -> "0")).select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = mixed.where(!graft.functions.text
      .codeMetrics(col("text")).getField("is_code"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == expect && kept.nonEmpty && kept.size < base.count())
    // keep_only is the complement
    val only = Corpus.run(spark, Map(
      "i" -> tmp, "dedup" -> "none", "drop_code" -> "keep_only",
      "report" -> "0")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(only == mixed.select("doc_id").collect().map(_.getLong(0))
      .toSet -- kept)
    // -fim rewrites text exactly as the t30 operator
    val fimmed = Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "fim" -> "ep1", "report" -> "0"))
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val fimExpect = base.select(col("doc_id"),
      graft.functions.text.fimSplit(col("text"), col("doc_id"), "ep1")
        .as("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(fimmed == fimExpect)
    assert(fimmed.values.count(_.contains("<MID>")) > 0)
  }

  test("Corpus rejects -zorder combined with -partition_by") {
    val sf = "/root/testdata/sf0.001"
    val e = intercept[IllegalArgumentException] {
      Corpus.run(spark, Map(
        "i" -> s"$sf/documents.parquet", "dedup" -> "none",
        "o" -> s"${sys.props("java.io.tmpdir")}/graft-corpus-never",
        "zorder" -> "doc_id,n_chars", "partition_by" -> "source",
        "report" -> "0"))
    }
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("Corpus -i_warc runs crawl -> corpus end-to-end: html responses " +
    "become documents with stable ids, ready for every later stage") {
    import org.apache.spark.sql.functions._
    val warc = s"${GenomicFixtures.rawDir}/crawl.warc"
    val cli = Corpus.run(spark, Map(
      "i_warc" -> warc, "dedup" -> "none", "report" -> "0"))
    val rows = cli.select("doc_id", "url", "http_status", "text",
      "source").collect()
    // exactly the 4 html responses in the fixture (200 x2, 404, cut)
    assert(rows.length == 4)
    assert(rows.map(_.getLong(0)).distinct.length == 4, "ids collide")
    assert(rows.forall(_.getString(4) == "warc"))
    val byUrl = rows.map(r => r.getString(1) ->
      (r.getInt(2), r.getString(3))).toMap
    assert(byUrl("http://example.com/")._1 == 200)
    assert(byUrl("http://example.com/gone") ==
      ((404, "Missing 'page'. dead link")))
    // ids are a pure function of the record id: re-run == same ids
    val again = Corpus.run(spark, Map(
      "i_warc" -> warc, "dedup" -> "none", "report" -> "0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == rows.map(_.getLong(0)).toSet)
    // the extracted corpus flows through a downstream stage unchanged:
    // a quality floor of 0 keeps all docs, proving stage compatibility
    val piped = Corpus.run(spark, Map(
      "i_warc" -> warc, "dedup" -> "exact", "report" -> "0"))
    assert(piped.count() == 4) // all four texts distinct
  }

  test("Corpus -dedup_url and -strip_boilerplate == the t21/d16/t25 " +
    "operators (stage parity)") {
    val s2 = spark
    import s2.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.text
    val out = s"${sys.props("java.io.tmpdir")}/graft-corpus-url-" +
      ProcessHandle.current.pid
    // docs 1/2 are URL-variants of the same page (case/port/utm/frag);
    // doc 3 is distinct; every text carries a nav bar + footer
    Seq(
      (1L, "http://a.com/x?b=1&a=1",
        "Home | About | Contact\nreal body one.\n© 2026 corp"),
      (2L, "HTTP://A.COM:80/x?a=1&b=1&utm_source=s#f",
        "Home | About | Contact\nreal body two.\n© 2026 corp"),
      (3L, "http://a.com/y",
        "Home | About | Contact\nreal body three.\n© 2026 corp"))
      .toDF("doc_id", "url", "text")
      .write.mode("overwrite").parquet(out)
    val got = Corpus.run(spark, Map(
      "i" -> out, "dedup_url" -> "1", "strip_boilerplate" -> "1",
      "dedup" -> "none", "report" -> "0"))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // min-id row of the canonical-equal pair survives; boilerplate gone
    assert(got == Map(1L -> "real body one.", 3L -> "real body three."))
    // -dedup_url without a url column fails loudly
    val noUrl = s"${sys.props("java.io.tmpdir")}/graft-corpus-nourl-" +
      ProcessHandle.current.pid
    Seq((1L, "t")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(noUrl)
    val e = intercept[IllegalArgumentException] {
      Corpus.run(spark, Map("i" -> noUrl, "dedup_url" -> "1",
        "dedup" -> "none", "report" -> "0"))
    }
    assert(e.getMessage.contains("url column"))
  }

  test("Corpus -min_backoff_logp, -ccnet_keep and -dedup_paragraph == " +
    "the t33/t32/d20 operators (stage parity)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    // backoff floor: data-derived (5th-lowest self-trained score) so the
    // stage always bites; stage == scores-based anti-join
    val floor = graft.operators.LanguageModel
      .stupidBackoffScores(docs, docs, "doc_id", "text")
      .orderBy(col("avg_logp")).limit(5)
      .collect().map(_.getDouble(3)).max + 1e-6
    val gotB = Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "min_backoff_logp" -> floor.toString, "report" -> "0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val low = graft.operators.LanguageModel
      .stupidBackoffScores(docs, docs, "doc_id", "text")
      .where(col("avg_logp") < floor)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(low.nonEmpty && gotB == (all diff low))
    // ccnet selector: keep head+middle == drop the per-lang tail tercile
    val gotC = Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "ccnet_keep" -> "head,middle", "report" -> "0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val scored = graft.operators.LanguageModel
      .bigramScores(docs, "doc_id", "text")
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .select("doc_id", "lang", "avg_logp")
    val wantC = graft.operators.LanguageModel
      .perplexityBuckets(scored, "doc_id", "lang", "avg_logp")
      .where(col("bucket") =!= "tail")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotC == wantC && gotC.nonEmpty && gotC.size < all.size)
    // paragraph dedup: shared header paragraph collapses to its first
    // corpus occurrence; every row survives
    val s2 = spark
    import s2.implicits._
    val out = s"${sys.props("java.io.tmpdir")}/graft-corpus-para-" +
      ProcessHandle.current.pid
    Seq((1L, "BOILER\n\nbody one"), (2L, "BOILER\n\nbody two"),
      (3L, "body three\n\nBOILER"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(out)
    val gotP = Corpus.run(spark, Map(
      "i" -> out, "dedup" -> "none", "dedup_paragraph" -> "1",
      "report" -> "0"))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotP == Map(1L -> "BOILER\n\nbody one", 2L -> "body two",
      3L -> "body three"))
  }

  test("Corpus -dedup_against drops resubmitted texts (bloom and exact " +
    "modes), fresh texts survive") {
    val s2 = spark
    import s2.implicits._
    val pid = ProcessHandle.current.pid
    val corpusOut =
      s"${sys.props("java.io.tmpdir")}/graft-corpus-against-c-$pid"
    val newOut =
      s"${sys.props("java.io.tmpdir")}/graft-corpus-against-n-$pid"
    Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(corpusOut)
    Seq((10L, "alpha beta gamma"), (11L, "fresh text one"),
      (12L, "delta epsilon zeta"), (13L, "fresh text two"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(newOut)
    for (mode <- Seq("bloom", "exact")) {
      val got = Corpus.run(spark, Map(
        "i" -> newOut, "dedup" -> "none", "dedup_against" -> corpusOut,
        "dedup_against_mode" -> mode, "report" -> "0"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == Set(11L, 13L), s"mode=$mode got $got")
    }
  }

  test("Corpus -train_vocab writes the t18 chars+merges vocabulary, " +
    "identical to calling Tokenizer.bpeVocab directly") {
    val sf = "/root/testdata/sf0.001"
    val out = s"${sys.props("java.io.tmpdir")}/graft-corpus-vocab-" +
      ProcessHandle.current.pid
    Corpus.run(spark, Map(
      "i" -> s"$sf/documents.parquet", "dedup" -> "none",
      "train_vocab" -> s"3,$out", "report" -> "0"))
    val got = spark.read.parquet(out).collect()
      .map(_.getString(0)).toSet
    val want = graft.operators.Tokenizer.bpeVocab(
      spark.read.parquet(s"$sf/documents.parquet"), "text", 3)
      .collect().map(_.getString(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("Corpus -train_merges then -encode_bpe: a corpus encoded with " +
    "its own merges reproduces training's segmentations") {
    val s2 = spark
    import s2.implicits._
    import org.apache.spark.sql.functions._
    val in = s"${sys.props("java.io.tmpdir")}/graft-corpus-bpe-in-" +
      ProcessHandle.current.pid
    val mp = s"${sys.props("java.io.tmpdir")}/graft-corpus-bpe-m-" +
      ProcessHandle.current.pid
    // 'aa' dominates pair counts -> merge 1 = (a,a); merge 2 then pairs
    // the merged token with b in "aab"
    Seq((1L, "aab aab aa"), (2L, "aa aab xy"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    Corpus.run(spark, Map("i" -> in, "dedup" -> "none",
      "train_merges" -> s"2,$mp", "report" -> "0"))
    val m = spark.read.parquet(mp).orderBy("rank").collect()
      .map(r => (r.getAs[String]("s1"), r.getAs[String]("s2")))
    assert(m.head == (("a", "a")))
    val got = Corpus.run(spark, Map("i" -> in, "dedup" -> "none",
      "encode_bpe" -> mp, "report" -> "0"))
      .select("doc_id", "tokens", "n_tokens").collect()
      .map(r => r.getLong(0) -> ((r.getSeq[String](1), r.getLong(2))))
      .toMap
    // merges (a,a) then (aa,b): "aab" -> [aab], "aa" -> [aa]
    assert(got(1L) == ((Seq("aab", "aab", "aa"), 3L)))
    assert(got(2L) == ((Seq("aa", "aab", "x", "y"), 4L)))
  }

  test("Corpus rejects -chunk combined with -pack") {
    val sf = "/root/testdata/sf0.001"
    val e = intercept[IllegalArgumentException] {
      Corpus.run(spark, Map(
        "i" -> s"$sf/documents.parquet", "dedup" -> "none",
        "chunk" -> "64,48", "pack" -> "1000", "report" -> "0"))
    }
    assert(e.getMessage.contains("mutually exclusive"))
  }
}
