package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.{Bgzf, Vcf}

/** Adversarial pins for the splittable BGZF line reader
  * ([[Bgzf.rangeLinesOf]], the VCF relation's partition reader): split
  * boundaries landing on every dangerous spot — mid-member, mid-line,
  * exactly at a member start, exactly after a '\n' (the case where
  * naive skip-one-line loses a record), lines spanning many members,
  * lines longer than a whole split.
  */
class BgzfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-bgzf").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("bgzf-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  /** Every line of `p`, read range by range over `splitSize` tiles —
    * the byte ranges the VCF relation plans for one file.
    */
  private def linesOf(p: String, splitSize: Long): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(path).getLen
    val n = math.max(1L, (len + splitSize - 1) / splitSize)
    (0L until n).flatMap { i =>
      val in = fs.open(path)
      try Bgzf.rangeLinesOf(in, Bgzf.Range(p, i * splitSize,
        math.min((i + 1) * splitSize, len), len)).toList
      finally in.close()
    }
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def scansDsv2(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .nonEmpty

  private def write(name: String, text: String, blockSize: Int): String = {
    val p = s"$tmp/$name"
    Files.write(Paths.get(p),
      Bgzf.compress(text.getBytes("US-ASCII"), blockSize))
    p
  }

  test("multi-split read equals the whole-file line multiset for every " +
    "splitSize across a zoo of line/member phase alignments") {
    // deterministic, varied line lengths so member boundaries drift
    // across line boundaries in every phase
    val lines = (0 until 2000).map(i =>
      s"line$i " + ("x" * (i % 97)) + s" end$i")
    val text = lines.mkString("", "\n", "\n")
    for (blockSize <- Seq(64, 256, 0xff00)) {
      val p = write(s"zoo-$blockSize.gz", text, blockSize)
      val whole = linesOf(p, splitSize = 1L << 30)
      assert(whole == lines, s"whole-file read, blockSize=$blockSize")
      for (splitSize <- Seq(333L, 1024L, 7777L)) {
        val got = linesOf(p, splitSize = splitSize)
        assert(got.sorted == lines.sorted,
          s"blockSize=$blockSize splitSize=$splitSize: " +
            s"${got.length} vs ${lines.length} lines")
      }
    }
  }

  test("the newline-at-range-boundary trap: one line per member, " +
    "splitSize = member size, so every boundary lands right after a " +
    "'\\n' — naive skip-one-line would drop a line per split") {
    // equal-length lines so members are equal-sized and splits align
    val lines = (0 until 500).map(i => f"rec$i%04d-payload")
    val text = lines.mkString("", "\n", "\n")
    // one member per line: blockSize = line length + 1 ('\n')
    val p = write("aligned.gz", text, lines.head.length + 1)
    // member size is constant: measure it from the file
    val bytes = Files.readAllBytes(Paths.get(p))
    val memberSize = ((bytes(16) & 0xff) | ((bytes(17) & 0xff) << 8)) + 1
    val got = linesOf(p, splitSize = memberSize.toLong)
    assert(got.sorted == lines.sorted,
      s"${got.length} vs ${lines.length}")
    // and misaligned by one byte in each direction
    Seq(memberSize - 1L, memberSize + 1L).foreach { s =>
      assert(linesOf(p, splitSize = s).sorted
        == lines.sorted, s"splitSize=$s")
    }
  }

  test("a line longer than a whole split spans many members and many " +
    "ranges; exactly one range owns it") {
    val big = "B" * 5000
    val lines = Seq("head") ++ Seq(big) ++ (0 until 50).map("tail" + _)
    val p = write("big.gz", lines.mkString("", "\n", "\n"), 128)
    val got = linesOf(p, splitSize = 512L)
    assert(got.sorted == lines.sorted)
    assert(got.count(_ == big) == 1)
  }

  test("CRLF terminators strip like the text reader; mid-line \\r is " +
    "preserved as data") {
    val text = "a\r\nb\rc\r\nlast\r\n"
    val p = write("crlf.gz", text, 4)
    val got = linesOf(p, splitSize = 8L)
    assert(got.sorted == Seq("a", "b\rc", "last").sorted)
  }

  test("UTF-8 multibyte content decodes identically to spark.read.text " +
    "(per-byte toChar would sign-extend bytes >= 0x80 into garbage)") {
    val lines = Seq("##meta=ä-umlaut", "naïve\tsample-日本語", "héllo—dash",
      "plain ascii")
    val text = lines.mkString("", "\n", "\n")
    val p = s"$tmp/utf8.gz"
    Files.write(Paths.get(p),
      Bgzf.compress(text.getBytes("UTF-8"), 16))
    // across splits, and against Hadoop's own gzip-codec text decode
    for (splitSize <- Seq(8L, 64L, 1L << 20)) {
      val got = linesOf(p, splitSize = splitSize)
      assert(got.sorted == lines.sorted, s"splitSize=$splitSize")
    }
    val viaText = spark.read.text(p).collect().map(_.getString(0)).toSeq
    assert(viaText.sorted == lines.sorted, "oracle decode differs")
  }

  test("no trailing newline: the final partial line still surfaces") {
    val p = write("tail.gz", "one\ntwo\nthree-no-nl", 6)
    val got = linesOf(p, splitSize = 10L)
    assert(got.sorted == Seq("one", "two", "three-no-nl").sorted)
  }

  test("Vcf.readBgzf == Vcf.read on the fixture, any split size") {
    // the splittable read is the DSv2 relation; the oracle is the
    // independent text parse of the uncompressed fixture
    val src = s"${graft.fixtures.GenomicFixtures.rawDir}/sample.vcf"
    val text = Files.readString(Paths.get(src))
    val p = write("sample.vcf.bgz", text, 100)
    val want = rowsOf(Vcf.read(spark, src))
    Seq(64L, 300L, 1L << 20).foreach { s =>
      assert(rowsOf(Vcf.readTable(spark, p, splitSize = s)) == want,
        s"splitSize=$s")
    }
  }

  test("Vcf.readAuto routes every BGZF .vcf.gz to the DSv2 relation, " +
    "small single files included, and plain gzip to the codec path") {
    val src = s"${graft.fixtures.GenomicFixtures.rawDir}/sample.vcf"
    val text = Files.readString(Paths.get(src))
    val p = s"$tmp/auto.vcf.gz"
    Files.write(Paths.get(p),
      Bgzf.compress(text.getBytes("US-ASCII"), 100))
    val want = rowsOf(Vcf.read(spark, src))
    val viaAuto = Vcf.readAuto(spark, p)
    assert(rowsOf(viaAuto) == want)
    assert(scansDsv2(viaAuto), "a BGZF file must read through readTable")
    // plain single-member gzip is not BGZF: the text codec reads it
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(text.getBytes("US-ASCII")); gz.close()
    val pp = s"$tmp/plainauto.vcf.gz"
    Files.write(Paths.get(pp), bos.toByteArray)
    val plain = Vcf.readAuto(spark, pp)
    assert(rowsOf(plain) == want)
    assert(!scansDsv2(plain), "plain gzip must keep the codec path")
  }

  test("plain single-member gzip fails loudly instead of mis-splitting") {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write("not bgzf\nlines\n".getBytes("US-ASCII"))
    gz.close()
    val p = s"$tmp/plain.gz"
    Files.write(Paths.get(p), bos.toByteArray)
    val ex = intercept[IllegalArgumentException] {
      linesOf(p, splitSize = 32L << 20)
    }
    assert(ex.getMessage.contains("not a BGZF member"), ex.getMessage)
    // and the relation refuses it at planning time
    val planned = intercept[IllegalArgumentException] {
      Vcf.readTable(spark, p).collect()
    }
    assert(planned.getMessage.contains("wants BGZF"), planned.getMessage)
  }
}
