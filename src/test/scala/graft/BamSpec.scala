package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.{Bam, Bgzf, Sam, Tabix}

/** Byte-level BGZF/BAM reader+writer pins (SAM spec §4): container
  * grammar the gate's row-level oracle can't see — member caps, the
  * fixed EOF marker, records spanning member boundaries, nibble seq
  * packing, absent-qual 0xFF runs, every aux-tag wire type.
  */
class BamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-bam").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .appName("bam-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  private val samPath =
    s"${graft.fixtures.GenomicFixtures.rawDir}/aligned.sam"

  private def refs: Seq[(String, Long)] =
    Sam.sqHeaders(spark, samPath).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  private def rowKey(r: org.apache.spark.sql.Row): Seq[Any] =
    r.toSeq

  test("round-trip: Sam.read -> Bam.write -> Bam.read is row-identical " +
    "including flags, null conventions, ref_end and tags") {
    val p = s"$tmp/rt.bam"
    val src = Sam.read(spark, samPath)
    Bam.write(src, refs, p)
    val a = src.collect().map(rowKey).sortBy(_.toString)
    val b = WholeFile.bam(spark, p).collect().map(rowKey).sortBy(_.toString)
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("records legally span BGZF member boundaries: a 64-byte member " +
    "cap still decodes every record") {
    val p = s"$tmp/tiny.bam"
    val src = Sam.read(spark, samPath)
    Bam.write(src, refs, p, blockSize = 64)
    assert(WholeFile.bam(spark, p).count() == src.count())
  }

  test("BGZF container grammar: BC extra subfield with correct BSIZE " +
    "per member, <=64KiB members, spec EOF marker at tail") {
    val p = s"$tmp/g.bam"
    Bam.write(Sam.read(spark, samPath), refs, p)
    val bytes = Files.readAllBytes(Paths.get(p))
    // tail = the fixed 28-byte empty member
    assert(bytes.takeRight(28).sameElements(Bgzf.Eof))
    // walk members by BSIZE; every header carries the BC subfield
    var off = 0
    var members = 0
    while (off < bytes.length) {
      assert((bytes(off) & 0xff) == 0x1f && (bytes(off + 1) & 0xff) == 0x8b)
      assert(bytes(off + 3) == 0x04, "FEXTRA flag set")
      assert(bytes(off + 12) == 0x42 && bytes(off + 13) == 0x43,
        "BC subfield id")
      val bsize = ((bytes(off + 16) & 0xff) |
        ((bytes(off + 17) & 0xff) << 8)) + 1
      assert(bsize <= 0x10000)
      off += bsize
      members += 1
    }
    assert(off == bytes.length && members >= 2) // >=1 data + EOF
  }

  test("JDK GZIPInputStream chains the members our writer emits " +
    "(multi-member inflate fidelity, CRC verified)") {
    val payload = Array.tabulate[Byte](100000)(i => (i % 251).toByte)
    val out = new ByteArrayOutputStream()
    var off = 0
    while (off < payload.length) {
      val n = math.min(0xff00, payload.length - off)
      Bgzf.writeMember(out, payload, off, n)
      off += n
    }
    out.write(Bgzf.Eof)
    val in = new GZIPInputStream(
      new ByteArrayInputStream(out.toByteArray), 65536)
    val got = in.readAllBytes()
    assert(got.sameElements(payload))
  }

  test("decode conventions on a hand-built stream: refID -1 -> null " +
    "rname/pos, next_refID == refID -> '=', odd-length seq nibbles, " +
    "all-0xFF qual -> null, every int tag width prints as 'i'") {
    val sam = Seq(
      "@SQ\tSN:cA\tLN:1000",
      "@SQ\tSN:cB\tLN:500",
      // odd 5-base seq (nibble padding), mate on same ref -> '='
      "q1\t99\tcA\t7\t42\t3M2S\t=\t30\t28\tACGTN\tIIJKL\t" +
        "NM:i:1,ZZ:Z:he,llo,XF:f:1.5,XB:B:s,-3,7,XA:A:x",
      // unmapped, placeless, no qual ('*' -> all-0xFF on the wire)
      "q2\t4\t*\t0\t0\t*\t*\t0\t0\tACG\t*",
      // mate on the OTHER reference -> name, not '='
      "q3\t97\tcA\t11\t9\t4M\tcB\t99\t0\tGGGG\tFFFF")
      .mkString("", "\n", "\n")
    val sp = s"$tmp/conv.sam"
    Files.writeString(Paths.get(sp), sam)
    val p = s"$tmp/conv.bam"
    val src = Sam.read(spark, sp)
    Bam.write(src, Seq(("cA", 1000L), ("cB", 500L)), p)
    val rows = WholeFile.bam(spark, p).collect()
      .map(r => r.getString(0) -> r).toMap
    val q1 = rows("q1")
    assert(q1.getString(q1.fieldIndex("rnext")) == "=")
    assert(q1.getString(q1.fieldIndex("seq")) == "ACGTN")
    assert(q1.getString(q1.fieldIndex("qual")) == "IIJKL")
    assert(q1.getString(q1.fieldIndex("tags")) ==
      "NM:i:1,ZZ:Z:he,llo,XF:f:1.5,XB:B:s,-3,7,XA:A:x")
    assert(q1.getLong(q1.fieldIndex("ref_end")) == 9L) // 7 + 3M - 1
    val q2 = rows("q2")
    assert(q2.isNullAt(q2.fieldIndex("rname")) &&
      q2.isNullAt(q2.fieldIndex("pos")) &&
      q2.isNullAt(q2.fieldIndex("qual")) &&
      q2.getString(q2.fieldIndex("seq")) == "ACG")
    val q3 = rows("q3")
    assert(q3.getString(q3.fieldIndex("rnext")) == "cB")
    // parity with the text parse of the same reads
    val a = src.collect().map(_.toSeq).sortBy(_.toString)
    val b = rows.values.toArray.map(_.toSeq).sortBy(_.toString)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("Hadoop's gzip codec chains hundreds of BGZF members through " +
    "spark.read.text (real .vcf.gz files are BGZF; a first-member-only " +
    "inflater would silently truncate)") {
    val one = Files.readAllBytes(
      Paths.get(s"${graft.fixtures.GenomicFixtures.rawDir}/sample.vcf"))
    val raw = Array.fill(300)(one).flatten
    val p = s"$tmp/many.vcf.gz"
    // 512-byte cap -> ~hundreds of members for this payload
    Files.write(Paths.get(p), graft.sources.Bgzf.compress(raw, 512))
    val plain = spark.read.text(
      s"${graft.fixtures.GenomicFixtures.rawDir}/sample.vcf").count()
    assert(spark.read.text(p).count() == plain * 300)
  }

  test("readSplit == read across split sizes on a BAM whose records " +
    "span members heavily (64-byte member cap)") {
    val p = s"$tmp/split.bam"
    val src = Sam.read(spark, samPath)
    Bam.write(src, refs, p, blockSize = 64)
    // oracle: the independent text parse, and the whole-file read
    // agrees with it
    val want = src.collect().map(rowKey).sortBy(_.toString).toSeq
    assert(WholeFile.bam(spark, p).collect().map(rowKey)
      .sortBy(_.toString).toSeq == want, "whole-file read")
    Seq(100L, 333L, 1000L, 1L << 20).foreach { s =>
      val got = Bam.readTable(spark, p, splitSize = s)
        .collect().map(rowKey).sortBy(_.toString).toSeq
      assert(got == want, s"splitSize=$s: ${got.length} rows")
    }
  }

  test("readSplit at scale: 2000 synthetic reads, default members, " +
    "byte-range splits cutting mid-member and mid-record") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val reads = spark.range(2000).select(
      concat(lit("q"), col("id")).as("qname"),
      lit(0).as("flag"),
      lit("cA").as("rname"),
      (col("id") % 5000 + 1).as("pos"),
      lit(60).as("mapq"),
      concat(lit((3 until 40).map(_ => "").mkString), lit("40M"))
        .as("cigar"),
      lit(null).cast("string").as("rnext"),
      lit(null).cast("long").as("pnext"), lit(0L).as("tlen"),
      lit("ACGT" * 10).as("seq"), lit("I" * 40).as("qual"),
      concat(lit("NM:i:"), col("id") % 7).as("tags"))
    val p = s"$tmp/scale.bam"
    Bam.write(reads, Seq(("cA", 100000L)), p)
    val n = reads.count()
    Seq(777L, 4096L, 1L << 14).foreach { sz =>
      val got = Bam.readTable(spark, p, splitSize = sz)
      assert(got.count() == n, s"splitSize=$sz")
      assert(got.agg(sum(col("pos"))).head.getLong(0) ==
        reads.agg(sum(col("pos"))).head.getLong(0), s"splitSize=$sz sum")
    }
  }

  test("writeSharded: one valid BAM per partition, written executor-" +
    "side; the directory reads back row-identical through read AND " +
    "readSplit, and each shard opens independently") {
    val src = Sam.read(spark, samPath).repartition(5)
    val dir = s"$tmp/sharded-bam"
    Bam.writeSharded(src, refs, dir)
    val shards = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted // Hadoop .crc sidecars
    assert(shards.length == 5, shards.mkString(","))
    assert(shards.forall(_.matches("part-\\d{5}\\.bam")))
    val want = src.collect().map(rowKey).sortBy(_.toString).toSeq
    val viaRead = WholeFile.bam(spark, dir)
      .collect().map(rowKey).sortBy(_.toString).toSeq
    assert(viaRead == want, s"whole: ${viaRead.length} vs ${want.length}")
    val viaSplit = Bam.readTable(spark, dir, splitSize = 512L)
      .collect().map(rowKey).sortBy(_.toString).toSeq
    assert(viaSplit == want, "split")
    // each shard is a complete BAM on its own (header + records + EOF)
    val perShard = shards.map(sh =>
      WholeFile.bam(spark, s"$dir/$sh").collect().map(rowKey).toSeq)
    assert(perShard.flatten.sortBy(_.toString).toSeq == want)
    // empty partitions still write a valid header+EOF shard
    val emptyDir = s"$tmp/sharded-empty"
    Bam.writeSharded(src.limit(1).repartition(3), refs, emptyDir)
    assert(new java.io.File(emptyDir).listFiles()
      .map(_.getName).count(!_.startsWith(".")) == 3)
    assert(WholeFile.bam(spark, emptyDir).count() == 1)
  }

  test("writeSharded into an existing directory OVERWRITES: prior-job " +
    "shards (different content AND higher partition ids) are deleted, " +
    "not silently kept by the commit's exists-check") {
    val src = Sam.read(spark, samPath)
    val dir = s"$tmp/sharded-rerun"
    Bam.writeSharded(src.repartition(5), refs, dir)
    assert(WholeFile.bam(spark, dir).count() == src.count())
    // re-run with FEWER rows and FEWER shards: both the changed bytes
    // of part-00000/1 and the stale part-00002..4 must go
    val subset = src.limit(2)
    Bam.writeSharded(subset.repartition(2), refs, dir)
    val shards = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted
    assert(shards.toSeq == Seq("part-00000.bam", "part-00001.bam"),
      shards.mkString(","))
    assert(WholeFile.bam(spark, dir).count() == 2)
  }

  test("corrupt mid-file members are LOUD: the unaligned-range " +
    "accumulator counts the lossy ranges, and strictAlign throws " +
    "instead of silently dropping them") {
    import graft.sources.Bgzf
    val clean = s"$tmp/clean-for-corrupt.bam"
    Bam.write(Sam.read(spark, samPath), refs, clean, blockSize = 64)
    val bytes = Files.readAllBytes(Paths.get(clean))
    // valid BAM minus its EOF marker, then ~8 KiB of GARBAGE payload in
    // perfectly valid BGZF members (the container verifies; the record
    // grammar inside cannot), then the EOF member. splitSize = the
    // valid prefix, so the garbage occupies ranges of its own — the
    // shape where the OLD reader lost it silently (a range mixing the
    // last valid records with garbage crashes the record decode loudly
    // already; whole-range garbage was the quiet class).
    val garbage = Array.tabulate[Byte](8192)(i => ((i * 131) ^ (i >> 3))
      .toByte)
    val validLen = (bytes.length - Bgzf.Eof.length).toLong
    val corrupt = s"$tmp/corrupt.bam"
    Files.write(Paths.get(corrupt),
      bytes.dropRight(Bgzf.Eof.length) ++
        Bgzf.compress(garbage, blockSize = 64))
    val cleanRows = WholeFile.bam(spark, clean).count()
    // the valid prefix still reads; the garbage ranges emit nothing and
    // count into the scan's named accumulator
    val unaligned = UnalignedRanges.during(spark,
      "graft.bam.unaligned.ranges") {
      assert(Bam.readTable(spark, corrupt, splitSize = validLen).count() ==
        cleanRows)
    }
    assert(unaligned > 0, "garbage ranges must surface in the accumulator")
    // strict mode: the same read THROWS instead
    spark.conf.set("spark.graft.strictAlign", "true")
    try {
      val ex = intercept[org.apache.spark.SparkException] {
        Bam.readTable(spark, corrupt, splitSize = validLen).count()
      }
      assert(ex.getMessage.contains("no record chain aligned") ||
        Option(ex.getCause).exists(
          _.getMessage.contains("no record chain aligned")))
      // a clean file never trips strict mode at a records-sized split
      assert(Bam.readTable(spark, clean).count() == cleanRows)
    } finally spark.conf.set("spark.graft.strictAlign", "false")
  }

  test("readSplit accepts spec-maxima records the old plausibility " +
    "bounds rejected: 200-char qnames, positions past 2^29 — a bound " +
    "tighter than the spec silently empties the range") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val reads = spark.range(800).select(
      // qname 200+ chars: l_read_name > 127 (legal to 255)
      concat(lit("q" * 200), col("id")).as("qname"),
      lit(0).as("flag"), lit("cBig").as("rname"),
      // positions straddling the old 2^29 cap (legal to 2^31-1)
      (col("id") * 1000 + (1L << 29) - 400000L).as("pos"),
      lit(60).as("mapq"), lit("40M").as("cigar"),
      lit(null).cast("string").as("rnext"),
      lit(null).cast("long").as("pnext"), lit(0L).as("tlen"),
      lit("ACGT" * 10).as("seq"), lit("I" * 40).as("qual"),
      lit(null).cast("string").as("tags"))
    val p = s"$tmp/maxima.bam"
    Bam.write(reads, Seq(("cBig", (1L << 31) - 1)), p, blockSize = 256)
    val want = reads.collect().map(rowKey).sortBy(_.toString).toSeq
    Seq(512L, 4096L, 1L << 20).foreach { sz =>
      val got = Bam.readTable(spark, p, splitSize = sz)
        .select(reads.columns.map(col): _*)
        .collect().map(rowKey).sortBy(_.toString).toSeq
      assert(got == want, s"splitSize=$sz: ${got.length} rows")
    }
  }

  test("splitTags: commas inside Z values and B arrays re-join to the " +
    "entry they belong to") {
    assert(Bam.splitTags("NM:i:1,ZZ:Z:he,llo,XB:B:s,-3,7") ==
      Seq("NM:i:1", "ZZ:Z:he,llo", "XB:B:s,-3,7"))
    assert(Bam.splitTags("XA:A:x") == Seq("XA:A:x"))
  }

  test("reg2bin matches the SAM spec examples") {
    assert(Tabix.reg2bin(0, 1) == 4681)           // smallest 16kb bin
    assert(Tabix.reg2bin(0, 1 << 14) == 4681)
    assert(Tabix.reg2bin(1 << 14, (1 << 14) + 1) == 4682)
    assert(Tabix.reg2bin(0, 1 << 29) == 0)        // whole-axis
  }
}
