package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.{Bcf, Bgzf, Tabix, Vcf}

/** Region reads through the one BGZF relation: a region frame carries
  * its window plan itself, so it stays readable however many region
  * frames come after it; planning runs at the `readRegion` call, not at
  * the first action; and on generated sorted cohorts (REF spans up to
  * `maxSpan`, random BGZF member sizes, random region lists) the rows
  * of `readRegions` equal the text-parse overlap oracle on a single
  * `.vcf.gz`, the same file with a `.tbi`, a sharded directory, and a
  * `Bcf.writeSharded` directory without and with `.csi` sidecars.
  */
class RegionRelationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-region-rel").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("region-relation-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  private val contigs = Seq("chr1", "chr2", "chrX")

  /** One generated record: REF is `refLen` bases at `pos`. */
  private case class Rec(chrom: String, pos: Long, id: String, refLen: Int)

  private def header: Seq[String] =
    Seq("##fileformat=VCFv4.2") ++ contigs.map(c => s"##contig=<ID=$c>") ++
      Seq("##INFO=<ID=AF,Number=A,Type=Float,Description=\"af\">",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2")

  private def line(r: Rec): String =
    Seq(r.chrom, r.pos.toString, r.id, "A" * r.refLen, "G", "99", "PASS",
      "AF=0.5", "GT", "0|1", "1|0").mkString("\t")

  private def vcfText(recs: Seq[Rec]): String =
    (header ++ recs.map(line)).mkString("", "\n", "\n")

  private def writeGz(p: String, recs: Seq[Rec], blockSize: Int): String = {
    Files.createDirectories(Paths.get(p).getParent)
    Files.write(Paths.get(p),
      Bgzf.compress(vcfText(recs).getBytes("US-ASCII"), blockSize))
    p
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(concat_ws(":", col("chrom"), col("pos"), col("id"),
      col("ref"))).collect().map(_.getString(0)).toSeq.sorted

  test("a region frame stays readable after 1,025 later region frames") {
    val recs = (1 to 200).map(i => Rec("chr2", 10L * i, s"rs$i", 1))
    val p = writeGz(s"$tmp/many-frames.vcf.gz", recs, blockSize = 256)
    val first = Vcf.readRegion(spark, p, "chr2", 500L, 900L)
    (1 to 1025).foreach { i =>
      Vcf.readRegion(spark, p, "chr2", i.toLong, i + 10L)
    }
    assert(rows(first) == recs.filter(r => r.pos >= 500 && r.pos <= 900)
      .map(r => s"chr2:${r.pos}:${r.id}:A").sorted)
  }

  test("readRegion under spark.graft.planDistributeThreshold=1 runs its " +
    "planning job during the call") {
    val d = s"$tmp/dist-plan"
    val recs = (1 to 400).map(i => Rec(contigs(i % 3), 10L * i, s"rs$i", 1))
      .sortBy(r => (contigs.indexOf(r.chrom), r.pos))
    recs.grouped(100).zipWithIndex.foreach { case (shard, i) =>
      writeGz(f"$d/part-$i%05d.vcf.gz", shard, blockSize = 256)
    }
    val tag = "graft.spec.during"
    val during = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null)
          during.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    val k = "spark.graft.planDistributeThreshold"
    spark.conf.set(k, "1")
    val frame =
      try {
        spark.sparkContext.setLocalProperty(tag, "readRegion")
        try Vcf.readRegion(spark, d, "chr2", 100L, 2000L)
        finally spark.sparkContext.setLocalProperty(tag, null)
      } finally spark.conf.unset(k)
    try {
      // the job ran in the call; its start event reaches the listener
      // through the asynchronous bus
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (during.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(!during.isEmpty,
        "planning must run as a Spark job inside the readRegion call")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(rows(frame) == recs.filter(r => r.chrom == "chr2" &&
      r.pos >= 100 && r.pos <= 2000).map(r => s"chr2:${r.pos}:${r.id}:A")
      .sorted)
  }

  test("readRegions == the text-parse overlap oracle on generated " +
    "cohorts: single .vcf.gz, with .tbi, sharded directory, BCF " +
    "writeSharded directory") {
    // REF spans up to maxSpan: most are 1-40 bp, a few reach back over
    // more compressed bytes than the bisection's 128 KiB search floor
    // covers, so only the maxSpan back-off finds them. Records sit 0-3
    // bp apart and IDs carry 400 random characters, so a few kbp hold
    // hundreds of KiB.
    val maxSpan = 4000
    val recGen: Gen[Seq[Rec]] = for {
      counts <- Gen.listOfN(contigs.size, Gen.choose(1000, 2000))
      gaps <- Gen.listOfN(counts.sum, Gen.frequency(
        1 -> Gen.const(0), 4 -> Gen.choose(1, 3)))
      lens <- Gen.listOfN(counts.sum, Gen.frequency(
        300 -> Gen.const(1), 100 -> Gen.choose(2, 40),
        3 -> Gen.choose(maxSpan / 2, maxSpan)))
      salt <- Gen.long
    } yield {
      val rnd = new scala.util.Random(salt)
      val chromOf = contigs.zip(counts).flatMap { case (c, n) =>
        Seq.fill(n)(c) }
      var prev = ""
      var pos = 0L
      chromOf.zip(gaps).zip(lens).zipWithIndex.map {
        case (((c, g), l), i) =>
          if (c != prev) { prev = c; pos = 1L + g } else pos += g
          Rec(c, pos, s"rs${i}_${rnd.alphanumeric.take(400).mkString}", l)
      }
    }
    def regionGen(recs: Seq[Rec]): Gen[Seq[(String, Long, Long)]] = {
      val last = contigs.map(c =>
        c -> recs.filter(_.chrom == c).map(_.pos).foldLeft(0L)(math.max))
        .toMap
      val interior = for {
        c <- Gen.oneOf(contigs)
        a <- Gen.choose(1L, last(c) + 60)
        w <- Gen.frequency(3 -> Gen.choose(0L, 80L), 1 -> Gen.const(0L))
      } yield (c, a, a + w)
      val overlapping = for {
        first <- interior
        off <- Gen.choose(0L, first._3 - first._2)
      } yield Seq(first,
        (first._1, first._2 + off, first._3 + off + 5))
      // a region starting inside a long REF, far from the record's pos
      val longRefs = recs.filter(_.refLen > 40)
      val insideLongRef =
        if (longRefs.isEmpty) interior
        else for {
          r <- Gen.oneOf(longRefs)
          a <- Gen.choose(r.pos + r.refLen * 3 / 4, r.pos + r.refLen - 1L)
          w <- Gen.choose(0L, 80L)
        } yield (r.chrom, a, a + w)
      val pastEnd = Gen.oneOf(contigs).map(c =>
        (c, last(c) + maxSpan + 1, last(c) + 5000))
      for {
        n <- Gen.choose(1, 4)
        base <- Gen.listOfN(n, interior)
        inside <- insideLongRef
        ov <- Gen.option(overlapping)
        pe <- Gen.option(pastEnd)
        un <- Gen.option(Gen.const(("chrM", 1L, 100000L)))
      } yield (base :+ inside) ++ ov.toSeq.flatten ++ pe ++ un
    }
    val conf = spark.sparkContext.hadoopConfiguration
    // rows found, and rows found only through a REF that starts before
    // the region: the generated cases must reach the maxSpan back-off
    var hits = 0
    var spanning = 0
    (0 until 3).foreach { round =>
      val seed = 20261019L + round
      val recs = recGen.apply(Gen.Parameters.default, Seed(seed)).get
      // small members keep the files past the bisection's 128 KiB
      // search floor, so the windows really prune; windows tile into
      // 16-256 KiB partitions
      val (blockSize, splitSize) =
        Gen.zip(Gen.choose(64, 512), Gen.choose(16L << 10, 256L << 10))
          .apply(Gen.Parameters.default, Seed(seed)).get
      val dir = s"$tmp/gen-$round"
      // the oracle: the independent text parse of the plain VCF
      Files.createDirectories(Paths.get(dir))
      Files.write(Paths.get(s"$dir/plain.vcf"),
        vcfText(recs).getBytes("US-ASCII"))
      val parsed = Vcf.read(spark, s"$dir/plain.vcf")
      val oracleRows = parsed.select("chrom", "pos", "id", "ref").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getString(3))).toSeq
      def oracle(regions: Seq[(String, Long, Long)]): Seq[String] =
        oracleRows.filter { case (c, p, _, ref) =>
          regions.exists { case (rc, a, b) =>
            c == rc && p <= b && p + ref.length - 1 >= a
          }
        }.map { case (c, p, id, ref) => s"$c:$p:$id:$ref" }.sorted
      val single = writeGz(s"$dir/single/c.vcf.gz", recs, blockSize)
      val indexed = writeGz(s"$dir/indexed/c.vcf.gz", recs, blockSize)
      Tabix.indexVcfGz(conf, indexed)
      // each shard sorted on its own, records dealt at random
      val shardOf = Gen.listOfN(recs.size, Gen.choose(0, 2))
        .apply(Gen.Parameters.default, Seed(seed)).get
      recs.zip(shardOf).groupBy(_._2).foreach { case (i, rs) =>
        writeGz(f"$dir/sharded/part-$i%05d.vcf.gz", rs.map(_._1), blockSize)
      }
      val bcf = s"$dir/bcf"
      Bcf.writeSharded(
        parsed.repartitionByRange(3, col("chrom"), col("pos"))
          .sortWithinPartitions("chrom", "pos"),
        contigs.map(c => (c, 1000000L)), Seq("S1", "S2"), bcf,
        blockSize = blockSize)
      // the same shards with a .csi each: sidecar-served windows
      val bcfCsi = s"$dir/bcf-csi"
      Bcf.writeSharded(
        parsed.repartitionByRange(3, col("chrom"), col("pos"))
          .sortWithinPartitions("chrom", "pos"),
        contigs.map(c => (c, 1000000L)), Seq("S1", "S2"), bcfCsi,
        blockSize = blockSize, index = true)
      val layouts = Seq("single" -> single, "tbi" -> indexed,
        "sharded" -> s"$dir/sharded", "bcf" -> bcf, "bcf+csi" -> bcfCsi)
      (0 until 3).foreach { i =>
        val regions = regionGen(recs)
          .apply(Gen.Parameters.default, Seed(seed * 31 + i)).get
        val want = oracle(regions)
        hits += want.size
        spanning += oracleRows.count { case (c, p, _, ref) =>
          regions.exists { case (rc, a, b) =>
            c == rc && p < a && p + ref.length - 1 >= a && a <= b
          }
        }
        for ((name, path) <- layouts) {
          val got = rows(Vcf.readRegions(spark, path, regions,
            splitSize = splitSize, maxSpan = maxSpan.toLong))
          assert(got == want, s"round $round, $name, regions $regions")
        }
      }
    }
    assert(hits > 50 && spanning > 0, s"hits $hits, spanning $spanning")
  }
}
