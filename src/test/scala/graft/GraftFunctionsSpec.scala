package graft

import java.awt.image.BufferedImage
import java.io.{ByteArrayOutputStream, File}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import javax.imageio.ImageIO

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.plans.{GraftCall, GraftFunctions}
import GraftFunctionsSpec.kernelsByStage

/** Table-driven checks over every SQL-callable kernel in
  * [[GraftFunctions.all]]: registration through both paths, codegen vs
  * interpreted agreement, NULL propagation, analysis-time type errors and
  * the integer-argument range checks. A row added to the table without a
  * sample here fails the coverage test.
  */
class GraftFunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    // extensions apply only when getOrCreate BUILDS the session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // static plans: the WholeStageCodegen walk below sees the real tree
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .appName("graft-functions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .createOrReplaceTempView("t")
  }

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ---- sample payloads -------------------------------------------------
  private def be32(v: Int) = ByteBuffer.allocate(4).putInt(v).array()

  private def image(format: String, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (x * 40 << 16) | (y * 60 << 8) | ((x + y) * 20))
    val out = new ByteArrayOutputStream()
    assert(ImageIO.write(img, format, out))
    out.toByteArray
  }

  private def wav(samples: Seq[Short]): Array[Byte] = {
    val data = samples.length * 2
    val bb = ByteBuffer.allocate(44 + data).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + data).put("WAVEfmt ".getBytes)
      .putInt(16).putShort(1.toShort).putShort(1.toShort).putInt(8000)
      .putInt(16000).putShort(2.toShort).putShort(16.toShort)
      .put("data".getBytes).putInt(data)
    samples.foreach(s => bb.putShort(s))
    bb.array()
  }

  private def box(typ: String, body: Array[Byte]) =
    be32(8 + body.length) ++ typ.getBytes ++ body

  private val mp4 = box("ftyp", "isom".getBytes ++ be32(0)) ++
    box("moov", box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++
      be32(5000)) ++ box("trak", Array.emptyByteArray))

  private val id3 = {
    val body = Array[Byte](0) ++ "Song".getBytes
    val frame = "TIT2".getBytes ++ be32(body.length) ++ Array[Byte](0, 0) ++
      body
    "ID3".getBytes ++ Array[Byte](3, 0, 0, 0, 0, 0, frame.length.toByte) ++
      frame
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("n", IntegerType),
    StructField("toks", ArrayType(StringType)),
    StructField("s", StringType), StructField("b1", StringType),
    StructField("b2", StringType), StructField("dna", StringType),
    StructField("v1", ArrayType(DoubleType)),
    StructField("v2", ArrayType(DoubleType)),
    StructField("img", BinaryType), StructField("wav", BinaryType),
    StructField("mp4", BinaryType), StructField("id3", BinaryType)))

  private def rows: Seq[Row] = Seq(
    Row(1, 2, Seq("the", "quick", "brown", "fox", "jumps", "over"),
      "abcdefghab", "0110", "0101", "ATGGCTTAA", Seq(1.0, 2.0, 3.0),
      Seq(3.0, -1.0, 0.5), image("png", 5, 3), wav(Seq(0, 900, -900, 40,
        -3, 7, 12000).map(_.toShort)), mp4, id3),
    Row(2, 3, Seq("a", "b"), "zz", "1111", "0000", "CCNTTTGGG",
      Seq(0.5, 0.25), Seq(0.5, 4.0), image("jpg", 4, 4),
      wav(Seq(5, -5).map(_.toShort)), Array[Byte](0, 0, 0, 9),
      "ID".getBytes),
    Row(3, 1, Seq.empty[String], "", "", "", "", Seq(1.0), Seq(2.0),
      Array[Byte](1, 2, 3), Array.emptyByteArray, Array.emptyByteArray,
      Array.emptyByteArray))

  /** (function, SQL arguments) — at least one per registered kernel. */
  private val samples: Seq[(String, Seq[String])] = Seq(
    "graft_simhash" -> Seq("toks", "16"),
    "graft_minhash_sig" -> Seq("toks", "4"),
    "graft_word_shingles" -> Seq("toks", "n"),
    "graft_md5_char_ngrams" -> Seq("s", "n"),
    "graft_md5_buckets" -> Seq("toks", "64"),
    "graft_md5_array" -> Seq("toks"),
    "graft_hamming" -> Seq("b1", "b2"),
    "graft_letter_entropy" -> Seq("s"),
    "graft_cosine" -> Seq("v1", "v2"),
    "graft_dot" -> Seq("v1", "v2"),
    "graft_translate_dna" -> Seq("dna", "n - 1"),
    "graft_winnow_fps" -> Seq("toks", "n", "2"),
    "graft_img_decode" -> Seq("img"),
    "graft_img_resize" -> Seq("img", "3"),
    "graft_img_grid" -> Seq("img", "2", "2"),
    "graft_wav_meta" -> Seq("wav"),
    "graft_wav_frames" -> Seq("wav", "3"),
    "graft_mp4_meta" -> Seq("mp4"),
    "graft_jpeg_meta" -> Seq("img"),
    "graft_exif_meta" -> Seq("img"),
    "graft_id3_meta" -> Seq("id3"),
    "graft_deflate_len" -> Seq("img"),
    "graft_deflate_len" -> Seq("s"))

  private def sql(name: String, args: Seq[String]) =
    s"$name(${args.mkString(", ")})"

  private def run(expr: String, codegen: Boolean): (Seq[Row], SparkPlan) = {
    spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
    spark.conf.set("spark.sql.codegen.factoryMode",
      if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    val df = spark.sql(s"SELECT id, $expr AS r FROM t")
    (df.collect().toSeq.sortBy(_.getInt(0)), df.queryExecution.executedPlan)
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq

  test("every registered kernel has a sample and resolves through " +
    "spark.sql.extensions and through GraftFunctions.register") {
    val names = GraftFunctions.all.map(_.name)
    assert(names.size == 22 && names.distinct == names)
    assert(samples.map(_._1).toSet == names.toSet)
    val ids = names.map(FunctionIdentifier(_))
    assert(ids.forall(spark.sessionState.functionRegistry.functionExists),
      "spark.sql.extensions did not inject every kernel")
    // a child session inherits the extensions: drop the functions so the
    // check sees only what register adds back
    val s2 = spark.newSession()
    val registry = s2.sessionState.functionRegistry
    ids.foreach(registry.dropFunction)
    assert(!ids.exists(registry.functionExists))
    GraftFunctions.register(s2)
    assert(ids.forall(registry.functionExists))
    assert(s2.sql("SELECT graft_hamming('01', '11')").head().getInt(0) == 1)
  }

  test("codegen and interpreted evaluation agree on sample rows, and " +
    "codegen keeps each kernel inside WholeStageCodegen") {
    samples.foreach { case (name, args) =>
      val expr = sql(name, args)
      val (compiled, plan) = run(expr, codegen = true)
      val (interpreted, _) = run(expr, codegen = false)
      assert(compiled.length == 3)
      assert(compiled == interpreted, s"$expr: codegen vs interpreted")
      assert(kernelsByStage(plan) == (Set(name), Set.empty[String]),
        s"$expr is not inside a WholeStageCodegen stage:\n$plan")
    }
    // the samples reach real decode paths, not only NULL returns
    val (media, _) = run("struct(graft_img_decode(img).width, " +
      "graft_wav_meta(wav).n_frames, graft_mp4_meta(mp4).n_tracks, " +
      "graft_id3_meta(id3).title, graft_jpeg_meta(img).width)",
      codegen = true)
    assert(media.head.getStruct(1) == Row(5, 7, 1, "Song", null))
    assert(media(1).getStruct(1) == Row(4, 2, null, null, 4))
  }

  test("Dedup.minhashLsh compiles its shingle and signature kernels " +
    "inside WholeStageCodegen") {
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    val docs = spark.sql("SELECT id, concat_ws(' ', toks) AS text FROM t")
    try {
      val pairs = Dedup.minhashLsh(docs, "id", "text")
      pairs.collect()
      assert(kernelsByStage(pairs.queryExecution.executedPlan) ==
        (Set("graft_word_shingles", "graft_minhash_sig"), Set.empty[String]))
    } finally Dedup.releaseCaches()
  }

  test("a NULL argument gives NULL") {
    for ((name, args) <- samples; i <- args.indices) {
      val kernel = GraftFunctions.all.find(_.name == name).get
      val sqlType = kernel.inputTypes(i) match {
        case graft.plans.ArgType.OneOf(t, _*) => t.sql
        case other => fail(s"$name: no NULL literal for $other")
      }
      val expr = sql(name, args.updated(i, s"CAST(NULL AS $sqlType)"))
      for (codegen <- Seq(true, false)) {
        val (out, _) = run(expr, codegen)
        assert(out.forall(_.isNullAt(1)), s"$expr (codegen=$codegen)")
      }
    }
  }

  test("a wrong argument type or count fails at analysis, naming the " +
    "function") {
    samples.map(_._1).distinct.foreach { name =>
      val args = samples.find(_._1 == name).get._2
      val wrongType = intercept[AnalysisException] {
        spark.sql(s"SELECT ${sql(name, args.updated(0, "map(1, 1)"))} " +
          "FROM t")
      }
      assert(wrongType.getMessage.contains(s"$name argument 1 wants"),
        wrongType.getMessage)
      val wrongCount = intercept[AnalysisException] {
        spark.sql(s"SELECT ${sql(name, args :+ "1")} FROM t")
      }
      assert(wrongCount.getMessage.contains(
        s"$name takes ${args.length} argument(s), got ${args.length + 1}"),
        wrongCount.getMessage)
    }
  }

  test("out-of-range integer arguments of the hash kernels fail with " +
    "the function and argument named") {
    def atLeast1(fn: String, arg: String, v: Int) =
      s"graft_$fn: $arg must be >= 1, got $v"
    val cases = Seq(
      "graft_simhash(toks, 200)" ->
        "graft_simhash: bits must be in 1..128, got 200",
      "graft_simhash(toks, 0)" ->
        "graft_simhash: bits must be in 1..128, got 0",
      "graft_minhash_sig(toks, -1)" -> atLeast1("minhash_sig", "k", -1),
      "graft_word_shingles(toks, -1)" -> atLeast1("word_shingles", "n", -1),
      "graft_word_shingles(toks, 0)" -> atLeast1("word_shingles", "n", 0),
      "graft_winnow_fps(toks, -1, 2)" -> atLeast1("winnow_fps", "k", -1),
      "graft_winnow_fps(toks, 1, 0)" -> atLeast1("winnow_fps", "window", 0),
      "graft_md5_char_ngrams(s, -1)" -> atLeast1("md5_char_ngrams", "n", -1),
      "graft_md5_char_ngrams(s, 0)" -> atLeast1("md5_char_ngrams", "n", 0),
      "graft_md5_buckets(toks, 0)" ->
        "graft_md5_buckets: dim must be > 0, got 0",
      "graft_img_grid(img, -1, 2)" -> atLeast1("img_grid", "gx", -1),
      "graft_img_grid(img, 2, 0)" -> atLeast1("img_grid", "gy", 0),
      "graft_img_resize(img, 0)" -> atLeast1("img_resize", "maxSide", 0),
      "graft_img_resize(img, -3)" -> atLeast1("img_resize", "maxSide", -3))
    for ((expr, msg) <- cases; codegen <- Seq(true, false)) {
      val e = intercept[Exception](run(expr, codegen))
      assert(messages(e).exists(_.contains(msg)),
        s"$expr (codegen=$codegen): ${messages(e).mkString(" | ")}")
    }
  }

  test("only the GraftCall module binds kernels to codegen: no other " +
    "main source declares doGenCode or CodegenFallback") {
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        text.contains("doGenCode") || text.contains("CodegenFallback")
      }
      .map(_.toString.replace(File.separatorChar, '/')).toSeq.sorted
    assert(offenders ==
      Seq("src/main/scala/graft/plans/GraftFunctions.scala"),
      "kernel Catalyst bindings outside GraftFunctions.scala — add a row " +
        s"to GraftFunctions instead: ${offenders.mkString(", ")}")
  }
}

object GraftFunctionsSpec {
  /** The graft_* kernels in `plan` (cached subplans included), split
    * into those a WholeStageCodegen stage compiles and those evaluated
    * outside one.
    */
  def kernelsByStage(plan: SparkPlan): (Set[String], Set[String]) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case s: InMemoryTableScanExec => s +: nodes(s.relation.cachedPlan)
      case other => other +: other.children.flatMap(nodes)
    }
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(stage)
    }
    def kernels(ps: Seq[SparkPlan]): Set[String] =
      ps.flatMap(_.expressions.flatMap(_.collect {
        case g: GraftCall => g.prettyName })).toSet
    val all = nodes(plan)
    val staged = all.collect { case w: WholeStageCodegenExec => w }
      .flatMap(w => stage(w.child))
    (kernels(staged), kernels(all.filterNot(n => staged.exists(_ eq n))))
  }
}
