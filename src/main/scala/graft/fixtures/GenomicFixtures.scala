package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ProHapCli
import graft.sources.{Fasta, Gtf, Vcf}

/** Deterministic genomic fixture inputs for the driver's correctness gate.
  *
  * Raw text fixtures (committed, generated by tools/gen_fixtures.py) live
  * in /root/repo/fixtures; this object parses them with the graft sources
  * and writes the PARSED INPUT tables as parquet under
  * /root/repo/target/fixtures so the DuckDB oracles can read the same rows.
  * Only operator INPUTS are dumped here — each oracle recomputes its
  * operator's OUTPUT independently in SQL (the parsers themselves are
  * verified against DuckDB's own read_csv/read_text parses of the raw
  * files, so the layering stays non-circular).
  */
object GenomicFixtures {

  val rawDir = "/root/repo/fixtures"
  val dir = "/root/repo/target/fixtures"

  /** A splitSize the local file at `path` does not exceed: a DSv2
    * relation then plans one range at offset 0, which decodes straight
    * from the header with no alignment scan — the whole-file read on
    * one task that the bcf1/bam1 gates and the per-file bench entries
    * pin next to their split twins.
    */
  def wholeFile(path: String): Long =
    math.max(1L, new java.io.File(path).length())

  /** PAR bounds for the fixture X chromosome — tools/gen_fixtures.py. */
  val par1To = 15L
  val par2From = 100L

  private var prepared = false
  private var bamReady = false

  /** The SAM fixture re-encoded as BGZF/BAM by the repo's own writer —
    * the bam1_read gate input (its oracle parses the TEXT fixture
    * independently, so a writer/reader bug pair can't cancel out).
    * Written once per JVM.
    */
  def bamPath(spark: SparkSession): String = synchronized {
    val p = s"$dir/aligned.bam"
    if (!bamReady) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val sam = s"$rawDir/aligned.sam"
      import graft.sources.{Bam, Sam}
      Bam.write(Sam.read(spark, sam),
        Sam.sqHeaders(spark, sam).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq, p)
      bamReady = true
    }
    p
  }

  /** The VCF fixture re-encoded as BGZF (what a real `.vcf.gz` is:
    * hundreds of concatenated gzip members — forced here with a tiny
    * 512-byte member cap) — the v9_vcf_gz gate input. Written once per
    * JVM; its oracle parses the TEXT fixture independently.
    */
  private var vcfGzReady = false
  def vcfGzPath: String = synchronized {
    val p = s"$dir/sample.vcf.gz"
    if (!vcfGzReady) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        graft.sources.Bgzf.compress(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(vcfPath)), blockSize = 512))
      vcfGzReady = true
    }
    p
  }

  /** The VCF fixture coordinate-SORTED with `##contig` header lines
    * (the tabix sortedness contract), re-encoded as BGZF with a tiny
    * 64-byte member cap so the ~16 records span dozens of members and
    * every region-read boundary rule executes in-gate — the
    * g50_region_read input. The oracle replays the sort relationally
    * from the committed TEXT fixture (a WHERE clause — file order never
    * reaches the compare), so the sorting here can't mask a read bug.
    */
  private var regionVcfReady = false
  def regionVcfGzPath: String = synchronized {
    val p = s"$dir/region.vcf.gz"
    if (!regionVcfReady) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(vcfPath))
      import scala.jdk.CollectionConverters._
      val (hdr, data) = lines.asScala.toSeq.partition(_.startsWith("#"))
      val sorted = data.filter(_.trim.nonEmpty).sortBy { l =>
        val f = l.split("\t"); (f(0), f(1).toLong)
      }
      val contigs = sorted.map(_.split("\t")(0)).distinct
        .map(c => s"##contig=<ID=$c>")
      val text = (hdr.dropRight(1) ++ contigs ++ Seq(hdr.last) ++
        sorted).mkString("\n") + "\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        graft.sources.Bgzf.compress(
          text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          blockSize = 64))
      regionVcfReady = true
    }
    p
  }

  /** The sorted region VCF as a 2-shard per-chromosome DIRECTORY — the
    * layout cohort variant data actually ships in (the reference
    * Snakefile's per-chrom inputs): each shard is a self-describing
    * sorted bgzipped VCF (full header incl. BOTH ##contig lines, one
    * chromosome's records), so the g57 directory region read must
    * bisect each shard independently and prune the no-hit shard.
    */
  private var regionVcfShardedReady = false
  def regionVcfShardedDir: String = synchronized {
    val d = s"$dir/region-vcf-sharded"
    if (!regionVcfShardedReady) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(vcfPath))
      import scala.jdk.CollectionConverters._
      val (hdr, data) = lines.asScala.toSeq.partition(_.startsWith("#"))
      val sorted = data.filter(_.trim.nonEmpty).sortBy { l =>
        val f = l.split("\t"); (f(0), f(1).toLong)
      }
      val chroms = sorted.map(_.split("\t")(0)).distinct
      val contigs = chroms.map(c => s"##contig=<ID=$c>")
      chroms.zipWithIndex.foreach { case (c, i) =>
        val text = (hdr.dropRight(1) ++ contigs ++ Seq(hdr.last) ++
          sorted.filter(_.split("\t")(0) == c)).mkString("\n") + "\n"
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f"$d/part-$i%05d.vcf.gz"),
          graft.sources.Bgzf.compress(
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            blockSize = 64))
      }
      regionVcfShardedReady = true
    }
    d
  }

  /** The sorted region BCF as a 3-shard directory written by the repo's
    * own executor-side sharded sink, each shard internally coordinate-
    * sorted (range partitioning on (chrom, pos) — dictionary order =
    * name order here) — the g57b input proving [[Bcf.readRegions]]
    * region-reads the repo's own writeSharded layout.
    */
  private var regionBcfShardedReady = false
  def regionBcfShardedDir(spark: SparkSession): String = synchronized {
    val d = s"$dir/region-bcf-sharded"
    if (!regionBcfShardedReady) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      import graft.sources.{Bcf, Vcf}
      val parsed = Vcf.read(spark, vcfPath)
      val contigs = parsed.groupBy("chrom")
        .agg(max("pos").as("mx")).orderBy("chrom").collect()
        .map(r => (r.getString(0), r.getLong(1) + 1000L)).toSeq
      Bcf.writeSharded(
        parsed.repartitionByRange(3, col("chrom"), col("pos"))
          .sortWithinPartitions("chrom", "pos"),
        contigs, Vcf.sampleNames(spark, vcfPath), d, blockSize = 64)
      regionBcfShardedReady = true
    }
    d
  }

  /** The SAM fixture as a 3-shard BAM directory written by the repo's
    * own sharded sink, each shard internally samtools-sorted (range
    * partitioning with nulls/unmapped LAST) — the g57c input.
    */
  private var regionBamShardedReady = false
  def regionBamShardedDir(spark: SparkSession): String = synchronized {
    val d = s"$dir/region-bam-sharded"
    if (!regionBamShardedReady) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val sam = s"$rawDir/aligned.sam"
      import graft.sources.{Bam, Sam}
      Bam.writeSharded(
        Sam.read(spark, sam)
          .repartitionByRange(3, col("rname").asc_nulls_last,
            col("pos").asc_nulls_last)
          .sortWithinPartitions(col("rname").asc_nulls_last,
            col("pos").asc_nulls_last),
        Sam.sqHeaders(spark, sam).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq, d,
        blockSize = 64)
      regionBamShardedReady = true
    }
    d
  }

  /** The VCF fixture re-encoded as BCF2.2 by the repo's own writer —
    * the bcf1_read gate input (its oracle parses the TEXT fixture
    * independently with the float-normalized AF render, so a
    * writer/reader bug pair can't cancel). Written once per JVM.
    */
  private var bcfReady = false
  def bcfPath(spark: SparkSession): String = synchronized {
    val p = s"$dir/sample.bcf"
    if (!bcfReady) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      import graft.sources.{Bcf, Vcf}
      val parsed = Vcf.read(spark, vcfPath)
      val contigs = parsed.groupBy("chrom")
        .agg(max("pos").as("mx")).orderBy("chrom").collect()
        .map(r => (r.getString(0), r.getLong(1) + 1000L)).toSeq
      Bcf.write(parsed, contigs, Vcf.sampleNames(spark, vcfPath), p)
      bcfReady = true
    }
    p
  }

  /** The SAM fixture coordinate-SORTED (samtools sort order: dictionary
    * rank, then pos, unmapped last) and re-encoded as BAM with a tiny
    * 64-byte member cap — the g50c_region_bam input. Dictionary order =
    * @SQ order = name-ascending here, so a string orderBy matches rank.
    */
  private var regionBamReady = false
  def regionBamPath(spark: SparkSession): String = synchronized {
    val p = s"$dir/region.bam"
    if (!regionBamReady) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val sam = s"$rawDir/aligned.sam"
      import graft.sources.{Bam, Sam}
      Bam.write(
        Sam.read(spark, sam)
          .orderBy(col("rname").asc_nulls_last, col("pos").asc_nulls_last),
        Sam.sqHeaders(spark, sam).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq, p,
        blockSize = 64)
      regionBamReady = true
    }
    p
  }

  /** The VCF fixture coordinate-SORTED and re-encoded as BCF2.2 with a
    * tiny 64-byte member cap (records span members, the member binary
    * search has real members to prune) — the g50b_region_bcf input.
    * The oracle sorts nothing: it filters the independent TEXT parse.
    */
  private var regionBcfReady = false
  def regionBcfPath(spark: SparkSession): String = synchronized {
    val p = s"$dir/region.bcf"
    if (!regionBcfReady) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      import graft.sources.{Bcf, Vcf}
      val parsed = Vcf.read(spark, vcfPath).orderBy("chrom", "pos")
      val contigs = parsed.groupBy("chrom")
        .agg(max("pos").as("mx")).orderBy("chrom").collect()
        .map(r => (r.getString(0), r.getLong(1) + 1000L)).toSeq
      Bcf.write(parsed, contigs, Vcf.sampleNames(spark, vcfPath), p,
        blockSize = 64)
      regionBcfReady = true
    }
    p
  }

  /** The crawl fixture re-encoded in the Common Crawl layout — one
    * plain gzip member per WARC record — the w9_warc_gz gate input
    * (its oracle parses the TEXT fixture independently). Written once
    * per JVM.
    */
  private var warcGzReady = false
  def warcGzPath: String = synchronized {
    val p = s"$dir/crawl.warc.gz"
    if (!warcGzReady) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        graft.sources.Warc.gzipPerRecord(java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$rawDir/crawl.warc"))))
      warcGzReady = true
    }
    p
  }

  def vcfPath: String = s"$rawDir/sample.vcf"
  def gtfPath: String = s"$rawDir/annotations.gtf"
  def cdnaPath: String = s"$rawDir/cdna.fasta"
  def proteinsPath: String = s"$rawDir/proteins.fasta"

  def sampleNames(spark: SparkSession): Seq[String] =
    Vcf.sampleNames(spark, vcfPath)

  /** The ProHap/ProVar CLI options under which the CLI composition runs
    * the fixture files: the fixture's PAR bounds, 20 bp interval bins,
    * and `-require_start 0` so start-codon-less transcripts (rf = -1)
    * stay in the gates (the CLI default mirrors the reference's 1).
    */
  val cliOpts: Map[String, String] = Map(
    "i" -> vcfPath,
    "db" -> gtfPath,
    "cdna" -> cdnaPath,
    "s" -> s"$rawDir/samples.tsv",
    "x_par1_to" -> par1To.toString,
    "x_par2_from" -> par2From.toString,
    "require_start" -> "0",
    "bin_size" -> "20")

  /** Long genotype matrix joined to transcripts: one row per
    * (transcript, variant, sample) with sex + autosomal ploidy flags —
    * the CLI's own steps on [[cliOpts]].
    */
  def gtsLong(spark: SparkSession): DataFrame =
    ProHapCli.genotypesByTranscript(ProHapCli.variants(spark, cliOpts),
      sampleNames(spark), ProHapCli.samplesMeta(spark, cliOpts("s")),
      ProHapCli.transcriptIntervals(spark, Gtf.read(spark, gtfPath),
        cliOpts),
      par1To, par2From, ProHapCli.binSize(cliOpts))

  /** Hand-written DNA-function cases (cDNA coordinates, 1-based). */
  private def applyCases(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // (transcript, variants sorted by pos) — rs1 and rs4 on T1 in cDNA
    // coords; an empty list exercises the no-op path
    Seq(
      ("T1", Seq((9, "C", "G"), (13, "A", "AA"))),
      ("T2", Seq((3, "A", "T"))),
      ("T3", Seq.empty[(Int, String, String)])
    ).toDF("transcript_id", "vars")
      .select(col("transcript_id"),
        transform(col("vars"), v => struct(
          v.getField("_1").as("pos"),
          v.getField("_2").as("ref"),
          v.getField("_3").as("alt"))).as("variants"))
  }

  private def conseqCases(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("c1", "C", "G", "A", "G"),    // SAV
      ("c2", "C", "G", "L", "L"),    // synonymous
      ("c3", "G", "T", "*", "L"),    // stop_lost
      ("c4", "C", "A", "S", "*"),    // stop_gained
      ("c5", "A", "AA", "T", "TX"),  // frameshift (len diff 1)
      ("c6", "A", "AGGG", "T", "TG") // inframe_indel (len diff 3)
    ).toDF("caseId", "ref", "alt", "aaRef", "aaAlt")
  }

  /** Deterministic binary media fixture: payload bytes derived from md5 of
    * the id so DuckDB can re-derive them (unhex(md5(...))).
    */
  private def media(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("img_1", "image", 3), ("img_2", "image", 5),
      ("aud_1", "audio", 8), ("vid_1", "video", 12)
    ).toDF("media_id", "kind", "chunks")
      .select(col("media_id"), col("kind"),
        // payload = unhex(md5(id)) repeated `chunks` times (16B each)
        expr("unhex(repeat(md5(media_id), chunks))").as("payload"),
        struct(col("chunks").cast("long").as("n_chunks"),
          lit(16L).as("chunk_bytes")).as("meta"))
  }

  /** Deterministic canonical PCM16 WAV payloads (built in code — the
    * format is a fixed 44-byte header + LE samples, so the DuckDB oracle
    * can re-derive every field from the raw bytes) plus one poison blob
    * for the NULL-on-undecodable contract.
    */
  private def audio(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def wav(channels: Int, rate: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(rate)
        .putInt(rate * channels * 2).putShort((channels * 2).toShort)
        .putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    val mono = Array.tabulate(48)(i =>
      (((i * 2479 + 17) % 4001) - 2000).toShort)
    val stereo = Array.tabulate(64)(j =>
      (((j * 911 + 5) % 1999) - 999).toShort)
    // m8 perceptual-dedup cases: the same recording at double gain
    // (frame-energy DIRECTION unchanged -> cosine 1) and a signal with
    // a DIFFERENT energy envelope (loud attack, near-silent tail) —
    // two flat-envelope signals are near-parallel in frame-energy
    // space (measured 0.998), so envelope shape is what the
    // fingerprint legitimately discriminates
    val monoLoud = mono.map(v => (v * 2).toShort)
    val noise = Array.tabulate(48)(i =>
      (if (i < 24) ((i * 1663 + 201) % 3203) - 1601
       else ((i * 1663 + 201) % 81) - 40).toShort)
    Seq(
      ("wav_mono", wav(1, 8000, mono)),
      ("wav_stereo", wav(2, 16000, stereo)),
      ("wav_mono_loud", wav(1, 8000, monoLoud)),
      ("wav_noise", wav(1, 8000, noise)),
      ("wav_bad", Array.tabulate[Byte](24)(i => (i * 37 + 3).toByte)))
      .toDF("media_id", "payload")
  }

  /** Deterministic canonical ISO-BMFF (MP4) payloads built in code —
    * the box grammar is BE size+type headers, so the DuckDB oracle can
    * re-walk every box from the raw bytes — plus one poison blob.
    * vid_a: v0 mvhd, a skipped free box, 2 tracks; vid_b: v1 mvhd
    * (64-bit duration) NOT the first moov child, 3 tracks.
    */
  private def video(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length) // big-endian
      bb.putInt(8 + body.length).put(typ.getBytes("US-ASCII")).put(body)
      bb.array()
    }
    def ftyp(brand: String) = box("ftyp",
      brand.getBytes("US-ASCII") ++ Array[Byte](0, 0, 2, 0))
    def mvhd0(timescale: Int, duration: Int) = {
      val body = java.nio.ByteBuffer.allocate(100) // v0 mvhd body size
      body.putInt(0)                // version 0 + flags
        .putInt(0).putInt(0)        // creation, modification
        .putInt(timescale).putInt(duration)
      box("mvhd", body.array())     // rate/volume/matrix/… stay zeroed
    }
    def mvhd1(timescale: Int, duration: Long) = {
      val body = java.nio.ByteBuffer.allocate(112) // v1 mvhd body size
      body.putInt(0x01000000)       // version 1 + flags
        .putLong(0L).putLong(0L)    // creation, modification (u64)
        .putInt(timescale).putLong(duration)
      box("mvhd", body.array())
    }
    val trak = box("trak", box("tkhd", new Array[Byte](84)))
    def moov(children: Array[Byte]*) = box("moov", children.flatten.toArray)
    val mdat = box("mdat", Array.tabulate[Byte](32)(i => (i * 7 + 1).toByte))
    val vidA = ftyp("isom") ++ box("free", new Array[Byte](8)) ++
      moov(mvhd0(1000, 5000), trak, trak) ++ mdat
    val vidB = ftyp("mp42") ++
      moov(trak, mvhd1(600, 123456L), trak, trak) ++ mdat
    val vidBad = Array.tabulate[Byte](20)(i => (i * 31 + 7).toByte)
    Seq(("vid_a", vidA), ("vid_b", vidB), ("vid_bad", vidBad))
      .toDF("media_id", "payload")
  }

  /** Committed tiny PNG files (fixtures/png) as an image table:
    * real codec payloads for the graft_img_* decode/resample/feature
    * kernels. Read driver-side (5 files of <130 bytes — fixture setup,
    * not a data path; a real corpus arrives as a binary column in
    * parquet exactly like this table's schema).
    */
  private def pngTable(spark: SparkSession, sub: String): DataFrame = {
    import spark.implicits._
    val pngDir = java.nio.file.Paths.get(s"$rawDir/$sub")
    val files = java.nio.file.Files.list(pngDir).iterator()
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String,
      Array[Byte])]
    while (files.hasNext) {
      val p = files.next()
      if (p.toString.endsWith(".png"))
        rows += ((p.getFileName.toString.stripSuffix(".png"),
          java.nio.file.Files.readAllBytes(p)))
    }
    rows.sortBy(_._1).toSeq.toDF("media_id", "payload")
  }

  private def images(spark: SparkSession): DataFrame =
    pngTable(spark, "png")

  /** Deterministic canonical JPEG payloads built in code — the marker
    * grammar (FF <marker> <u16be len>) is walkable from raw bytes, so
    * the DuckDB oracle re-derives every field; entropy-coded scan data
    * after SOS stays opaque (like mdat). jpg_a: baseline SOF0, three
    * components, APP0+DQT before the frame header; jpg_b: progressive
    * SOF2, one component, buried deeper (APP0, APP1, DQT, DQT);
    * jpg_nosof truncates before any SOF; jpg_bad is a poison blob.
    */
  private def jpeg(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def seg(marker: Int, body: Array[Byte]): Array[Byte] = {
      val len = body.length + 2
      Array(0xff.toByte, marker.toByte, (len >> 8).toByte, len.toByte) ++
        body
    }
    def sof(marker: Int, h: Int, w: Int, nc: Int): Array[Byte] =
      seg(marker, Array[Byte](8, (h >> 8).toByte, h.toByte,
        (w >> 8).toByte, w.toByte, nc.toByte) ++
        (1 to nc).flatMap(c => Seq(c.toByte, 0x11.toByte, 0.toByte)))
    val soi = Array(0xff.toByte, 0xd8.toByte)
    val eoi = Array(0xff.toByte, 0xd9.toByte)
    val app0 = seg(0xe0, "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    val app1 = seg(0xe1, "Exif".getBytes("US-ASCII") ++
      Array.tabulate[Byte](12)(i => (i * 3 + 1).toByte))
    def dqt(seed: Int) = seg(0xdb,
      seed.toByte +: Array.tabulate[Byte](64)(i => ((i + seed) % 97 + 1)
        .toByte))
    val dht = seg(0xc4, Array.tabulate[Byte](19)(i => (i % 5).toByte))
    val sos = seg(0xda, Array[Byte](1, 1, 0, 0, 63, 0))
    val entropy = Array.tabulate[Byte](40)(i => (i * 11 + 4).toByte)
      .map(v => if (v == 0xff.toByte) 0x7f.toByte else v)
    val jpgA = soi ++ app0 ++ dqt(0) ++ sof(0xc0, 480, 640, 3) ++ dht ++
      sos ++ entropy ++ eoi
    val jpgB = soi ++ app0 ++ app1 ++ dqt(0) ++ dqt(1) ++
      sof(0xc2, 77, 123, 1) ++ sos ++ entropy ++ eoi
    val jpgNoSof = soi ++ app0 ++ dqt(0)
    val jpgBad = Array.tabulate[Byte](24)(i => (i * 29 + 11).toByte)
    Seq(("jpg_a", jpgA), ("jpg_b", jpgB), ("jpg_nosof", jpgNoSof),
      ("jpg_bad", jpgBad)).toDF("media_id", "payload")
  }

  /** Exif fixtures for graft_exif_meta (m11): real APP1/TIFF structures
    * built endian-aware — IFD0 with Orientation (SHORT, inline value),
    * Make and DateTime (ASCII, offset-stored). exif_ii places APP1
    * after APP0 (the camera convention), exif_mm leads with it;
    * exif_plain has no APP1 at all (null struct), exif_trunc declares
    * an Exif header whose TIFF block ends before IFD0 (poison: the
    * bounds check must null it, never read astray).
    */
  private def exif(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def seg(marker: Int, body: Array[Byte]): Array[Byte] = {
      val len = body.length + 2
      Array(0xff.toByte, marker.toByte, (len >> 8).toByte, len.toByte) ++
        body
    }
    def tiff(le: Boolean, orient: Int, make: String,
             dt: String): Array[Byte] = {
      def u16(v: Int) = if (le) Array((v & 0xff).toByte, (v >> 8).toByte)
        else Array((v >> 8).toByte, (v & 0xff).toByte)
      def u32(v: Int) =
        if (le) Array(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff,
          (v >> 24) & 0xff).map(_.toByte)
        else Array((v >> 24) & 0xff, (v >> 16) & 0xff, (v >> 8) & 0xff,
          v & 0xff).map(_.toByte)
      val makeB = make.getBytes("US-ASCII") :+ 0.toByte
      val dtB = dt.getBytes("US-ASCII") :+ 0.toByte
      val offMake = 8 + 2 + 3 * 12 + 4 // header + count + entries + next
      val offDt = offMake + makeB.length
      // TIFF value fields are left-justified in their 4 bytes, so the
      // inline SHORT is u16 ++ 00 00 under either byte order
      def entry(tag: Int, typ: Int, cnt: Int, value: Array[Byte]) =
        u16(tag) ++ u16(typ) ++ u32(cnt) ++ value
      val bom = if (le) Array(0x49.toByte, 0x49.toByte)
        else Array(0x4d.toByte, 0x4d.toByte)
      bom ++ u16(42) ++ u32(8) ++ u16(3) ++
        entry(0x010f, 2, makeB.length, u32(offMake)) ++
        entry(0x0112, 3, 1, u16(orient) ++ Array[Byte](0, 0)) ++
        entry(0x0132, 2, dtB.length, u32(offDt)) ++
        u32(0) ++ makeB ++ dtB
    }
    def app1(t: Array[Byte]) =
      seg(0xe1, "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ t)
    val soi = Array(0xff.toByte, 0xd8.toByte)
    val eoi = Array(0xff.toByte, 0xd9.toByte)
    val app0 = seg(0xe0, "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    val exifIi = soi ++ app0 ++
      app1(tiff(le = true, 6, "graftCam", "2026:08:15 09:30:00")) ++ eoi
    val exifMm = soi ++
      app1(tiff(le = false, 1, "Acme Optical", "2025:12:01 23:59:58")) ++
      app0 ++ eoi
    val exifPlain = soi ++ app0 ++ eoi
    // full 8-byte TIFF header pointing at IFD0 offset 8 — but the block
    // ends there, so the IFD0 count read must fail the bounds check
    val exifTrunc = soi ++
      app1(Array[Byte](0x49, 0x49, 42, 0, 8, 0, 0, 0)) ++ eoi
    Seq(("exif_ii", exifIi), ("exif_mm", exifMm),
      ("exif_plain", exifPlain), ("exif_trunc", exifTrunc))
      .toDF("media_id", "payload")
  }

  /** ID3v2 fixtures for graft_id3_meta (m13): real tag structures over
    * fake MPEG audio bytes. mp3_v3: ID3v2.3 (plain u32be frame sizes)
    * with latin1 TIT2/TPE1/TALB — TPE1 carries bytes >= 0x80
    * (ISO-8859-1 'ö' = 0xF6, the decode-not-passthrough case) and TALB
    * a trailing NUL terminator (common in real tags; must strip) — a
    * PRIV binary frame (counts, no decode) and zero padding; mp3_v4:
    * ID3v2.4 (SYNCSAFE frame sizes) with multi-byte utf8 TIT2 and no
    * TALB (null field); mp3_notag opens straight on an MPEG sync byte
    * (null struct); mp3_hostile declares a frame size far past the tag
    * end (poison: the bounds check must null the struct, never read
    * astray); mp3_flags sets the extended-header flag (0x40) — the
    * grammar shifts, so the struct nulls rather than parse astray.
    */
  private def mp3(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def ss(v: Int) = Array(((v >> 21) & 0x7f).toByte,
      ((v >> 14) & 0x7f).toByte, ((v >> 7) & 0x7f).toByte,
      (v & 0x7f).toByte)
    def u32(v: Int) = Array((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def frame(id: String, body: Array[Byte], v4: Boolean) =
      id.getBytes("US-ASCII") ++
        (if (v4) ss(body.length) else u32(body.length)) ++
        Array[Byte](0, 0) ++ body
    def text(id: String, s: String, enc: Int, v4: Boolean,
             nulTerm: Boolean = false) =
      frame(id, (enc.toByte +:
        s.getBytes(if (enc == 3) "UTF-8" else "ISO-8859-1")) ++
        (if (nulTerm) Array[Byte](0) else Array.empty[Byte]), v4)
    def tag(major: Int, frames: Array[Byte], padding: Int,
            flags: Int = 0) =
      "ID3".getBytes("US-ASCII") ++
        Array(major.toByte, 0.toByte, flags.toByte) ++
        ss(frames.length + padding) ++ frames ++
        Array.fill[Byte](padding)(0)
    val audio = Array.tabulate[Byte](24)(i =>
      if (i % 4 == 0) 0xff.toByte else (i * 37 + 5).toByte)
    val v3 = tag(3,
      text("TIT2", "Graft Anthem", 0, v4 = false) ++
        text("TPE1", "Motörhead Tribute", 0, v4 = false) ++
        text("TALB", "Shuffle Free", 0, v4 = false, nulTerm = true) ++
        frame("PRIV", "graft".getBytes("US-ASCII") ++
          Array[Byte](0, 9, 8, 7), v4 = false),
      padding = 8) ++ audio
    val v4t = tag(4,
      text("TIT2", "Café — Syncsafe", 3, v4 = true) ++
        text("TPE1", "graft", 3, v4 = true),
      padding = 0) ++ audio
    val hostile = "ID3".getBytes("US-ASCII") ++ Array[Byte](3, 0, 0) ++
      ss(20) ++ "TIT2".getBytes("US-ASCII") ++ u32(500) ++
      Array[Byte](0, 0) ++ Array.fill[Byte](10)(1)
    val flagged = tag(3,
      text("TIT2", "Unsupported Ext Header", 0, v4 = false),
      padding = 0, flags = 0x40) ++ audio
    Seq(("mp3_v3", v3), ("mp3_v4", v4t), ("mp3_notag", audio),
      ("mp3_hostile", hostile), ("mp3_flags", flagged))
      .toDF("media_id", "payload")
  }

  /** Write every parsed input table once per JVM (idempotent overwrite).
    * The tables are independent tiny jobs, so they are submitted
    * concurrently — Spark's scheduler interleaves them across the local
    * cores instead of paying ~17 sequential job latencies.
    */
  def ensure(spark: SparkSession): Unit = synchronized {
    if (prepared) return
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._

    def w(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val exons = Gtf.read(spark, gtfPath).where(col("feature") === "exon")
      .select(col("seqname").as("chrom"),
        Gtf.attr(col("attributes"), "transcript_id").as("transcript_id"),
        col("start"), col("end"), col("strand"))
    val tables: Seq[(() => DataFrame, String)] = Seq(
      (() => Vcf.read(spark, vcfPath), "vcf_parsed"),
      // normalized variant rows (all valid alleles, no AF threshold)
      (() => Vcf.normalize(Vcf.read(spark, vcfPath), 0.0), "vcf_norm"),
      (() => Gtf.read(spark, gtfPath), "gtf"),
      (() => exons, "exons"),
      (() => Gtf.exonsByTranscript(Gtf.read(spark, gtfPath)), "exon_arrays"),
      (() => Fasta.read(spark, cdnaPath)
        .select(col("accession").as("transcript_id"), col("sequence")),
        "cdna"),
      (() => Fasta.read(spark, proteinsPath), "proteins"),
      (() => Fasta.read(spark, s"$rawDir/postproc.fasta"), "postproc"),
      (() => Fasta.read(spark, s"$rawDir/ensref.fasta"), "ensref"),
      // reference proteome keyed by transcript (check_canonical_peptide)
      (() => Fasta.read(spark, s"$rawDir/refprot.fasta")
        .select(col("accession").as("transcript"),
          col("sequence").as("ref_sequence")), "refprot"),
      (() => Gtf.read(spark, s"$rawDir/ensref.gtf")
        .where(col("feature") === "transcript")
        .select(Gtf.attr(col("attributes"), "transcript_id")
          .as("transcript_id"),
          Gtf.attr(col("attributes"), "gene_id").as("gene_id"),
          col("attributes")), "ensref_tr"),
      (() => spark.read.option("sep", "\t").option("header", "true")
        .csv(s"$rawDir/peptides.tsv"), "peptides"),
      (() => ProHapCli.samplesMeta(spark, cliOpts("s")),
        "samples_meta"),
      // per-base reference table for the pileup caller (g13): one row
      // per (chrom, pos, ref) from the raw genome TSV
      (() => spark.read.option("sep", "\t").csv(s"$rawDir/genome.txt")
        .toDF("chrom", "sequence")
        .select(col("chrom"), posexplode(
          array_remove(split(col("sequence"), ""), ""))
          .as(Seq("_i", "ref")))
        .select(col("chrom"), (col("_i") + 1).cast("long").as("pos"),
          col("ref")), "ref_bases"),
      (() => gtsLong(spark), "gts_long"),
      (() => applyCases(spark), "apply_cases"),
      (() => conseqCases(spark), "conseq_cases"),
      (() => media(spark), "media"),
      (() => images(spark), "images"),
      (() => pngTable(spark, "png_phash"), "images_phash"),
      (() => audio(spark), "audio"),
      (() => video(spark), "video"),
      (() => jpeg(spark), "jpeg"),
      (() => exif(spark), "exif"),
      (() => mp3(spark), "mp3"),
      (() => Seq(("T1", 5L), ("T2", 3L)).toDF("transcript_id", "n_variants"),
        "merge_a"),
      (() => Seq(("T3", 0.25, "low"), ("T4", 0.5, "mid"))
        .toDF("transcript_id", "frequency", "note"), "merge_b"))
    Await.result(
      Future.sequence(tables.map { case (df, n) => Future(w(df(), n)) }),
      Duration.Inf)
    prepared = true
  }
}
