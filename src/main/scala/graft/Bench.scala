package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Synthetic crawl for wx_warc_scale: `n` WARC html responses with
    * deterministic ~30-word bodies, written once per JVM (~600 B/record).
    */
  private var warcScalePath: String = null
  private def ensureSyntheticWarc(n: Int): String = synchronized {
    if (warcScalePath != null) return warcScalePath
    val p = s"${sys.props("java.io.tmpdir")}/graft-warc-scale-" +
      s"${ProcessHandle.current.pid}.warc"
    val sb = new StringBuilder(n * 620)
    var i = 0
    while (i < n) {
      val words = new StringBuilder(260)
      var j = 0
      while (j < 30) {
        if (j > 0) words += ' '
        words ++= "word"; words.append((i * 31 + j) % 997)
        j += 1
      }
      val body = s"<html><head><title>Doc $i</title></head><body>" +
        s"<h1>Header $i</h1><p>$words</p>" +
        "<script>var x = 1;</script></body></html>"
      val payload =
        s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
      sb ++= "WARC/1.0\r\nWARC-Type: response\r\n"
      sb ++= s"WARC-Record-ID: <urn:uuid:$i>\r\n"
      sb ++= s"WARC-Target-URI: http://x.test/$i\r\n"
      sb ++= s"Content-Length: ${payload.length}\r\n\r\n$payload\r\n\r\n"
      i += 1
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      sb.toString)
    warcScalePath = p
    p
  }

  /** The same synthetic crawl as ONE gzip member (.warc.gz) — the
    * documented worst case for compressed crawls: Hadoop's codec makes
    * the file non-splittable, so the whole read is one task. Quantifies
    * SURVEY §6's caveat; real fleets shard one gz per crawl segment, so
    * per-FILE parallelism is the scale path and this entry's wall is the
    * per-file unit cost.
    */
  private var warcGzPath: String = null
  private def ensureSyntheticWarcGz(n: Int): String = synchronized {
    if (warcGzPath != null) return warcGzPath
    val plain = ensureSyntheticWarc(n)
    val p = plain + ".gz"
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(p), 1 << 20))
    java.nio.file.Files.copy(java.nio.file.Paths.get(plain), out)
    out.close()
    warcGzPath = p
    p
  }

  /** The same synthetic crawl in the Common Crawl layout — one plain
    * gzip member per record — for the splittable member-scan reader.
    */
  private var warcRecGzPath: String = null
  private def ensureSyntheticWarcRecGz(n: Int): String = synchronized {
    if (warcRecGzPath != null) return warcRecGzPath
    val plain = ensureSyntheticWarc(n)
    val p = plain + ".rec.gz"
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      graft.sources.Warc.gzipPerRecord(
        java.nio.file.Files.readString(java.nio.file.Paths.get(plain))))
    warcRecGzPath = p
    p
  }

  /** Synthetic aligned reads re-encoded as ONE BAM by the repo's own
    * writer (~n reads, 100 bp each) — times the streaming BGZF+record
    * decode path at volume (the per-record JVM iterator is the scale
    * question for binary sources; the gate fixture is 8 reads). Written
    * once per JVM; min-of-N discards the synthesis run.
    */
  private val bamRefs = (1 to 22).map(i => (s"chr$i", 250000000L))

  /** The bamx read-generator, factored out so the sharded-sink entries
    * push the SAME row distribution the decode entries measure.
    */
  private def syntheticReads(spark: SparkSession,
      n: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val acgt = Seq("A", "C", "G", "T")
    val seqExpr = concat_ws("", (0 until 100).map(i =>
      element_at(array(acgt.map(lit): _*),
        (pmod(col("id") * 31 + lit(i), lit(4)) + 1).cast("int"))): _*)
    spark.range(n).select(
      concat(lit("r"), col("id")).as("qname"),
      when(pmod(col("id"), lit(10)) === 0, 4)
        .otherwise(when(pmod(col("id"), lit(2)) === 0, 99).otherwise(147))
        .cast("int").as("flag"),
      when(pmod(col("id"), lit(10)) === 0, lit(null))
        .otherwise(concat(lit("chr"), pmod(col("id"), lit(22)) + 1))
        .as("rname"),
      when(pmod(col("id"), lit(10)) === 0, lit(null))
        .otherwise(pmod(hash(col("id")), lit(200000000)).cast("long") + 1)
        .as("pos"),
      lit(60).as("mapq"),
      when(pmod(col("id"), lit(10)) === 0, "*")
        .when(pmod(col("id"), lit(3)) === 0, "10S80M10S")
        .otherwise("100M").as("cigar"),
      lit(null).cast("string").as("rnext"),
      lit(null).cast("long").as("pnext"),
      lit(0L).as("tlen"),
      seqExpr.as("seq"),
      lit("I" * 100).as("qual"),
      concat(lit("NM:i:"), pmod(col("id"), lit(5))).as("tags"))
  }

  /** `chrom === c` as an expression Catalyst cannot translate into a
    * data-source filter (the column sits under `concat`), so the
    * full-scan twins of the pruning entries read every byte of the
    * DSv2 relation and filter above it — their plans show no pushed
    * chrom/pos.
    */
  private[graft] def chromUnpushed(c: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    concat(col("chrom"), lit("")) === c
  }

  private var bamScalePath: String = null
  private def ensureSyntheticBam(spark: SparkSession, n: Long): String =
    synchronized {
      if (bamScalePath != null) return bamScalePath
      val p = s"${sys.props("java.io.tmpdir")}/graft-bam-scale-" +
        s"${ProcessHandle.current.pid}.bam"
      graft.sources.Bam.write(syntheticReads(spark, n), bamRefs, p)
      bamScalePath = p
      p
    }

  /** The x10 decade of [[ensureSyntheticBam]]: ONE ~3M-read BAM,
    * written executor-side through the sharded sink on a single
    * partition (no driver collect at this size; encode cost lands in
    * the first run only — the bench takes the min of 3). bamx10 reads
    * it through the byte-range splittable path, pinning in-file split
    * decode throughput one decade above bamxs.
    */
  private var bam10Path: String = null
  private def ensureSyntheticBam10(spark: SparkSession,
                                   n: Long): String = synchronized {
    if (bam10Path != null) return bam10Path
    val dir = s"${sys.props("java.io.tmpdir")}/graft-bam10-" +
      s"${ProcessHandle.current.pid}"
    graft.sources.Bam.writeSharded(
      syntheticReads(spark, n).coalesce(1), bamRefs, dir)
    bam10Path = s"$dir/part-00000.bam"
    bam10Path
  }

  /** [[ensureSyntheticBam10]] for BCF: ONE ~1M-variant x 20-sample
    * file via the single-partition sharded sink.
    */
  private var bcf10Path: String = null
  private def ensureSyntheticBcf10(spark: SparkSession,
                                   n: Long): String = synchronized {
    if (bcf10Path != null) return bcf10Path
    val dir = s"${sys.props("java.io.tmpdir")}/graft-bcf10-" +
      s"${ProcessHandle.current.pid}"
    graft.sources.Bcf.writeSharded(
      syntheticVariants(spark, n).coalesce(1), bcfContigs, bcfSamples,
      dir)
    bcf10Path = s"$dir/part-00000.bcf"
    bcf10Path
  }

  /** Materialized write-side input (8 partitions) so the bamw entries
    * time the ENCODE+DEFLATE+write, not the column synthesizer.
    */
  private var bamWriteFrame: org.apache.spark.sql.DataFrame = null
  private def ensureBamWriteFrame(spark: SparkSession,
      n: Long): org.apache.spark.sql.DataFrame = synchronized {
    if (bamWriteFrame == null)
      bamWriteFrame = syntheticReads(spark, n)
        .repartition(8).localCheckpoint()
    bamWriteFrame
  }

  /** Synthetic cohort re-encoded as ONE BCF (~n variants × 20 samples)
    * — times the typed-value + GT wire decode at volume. Same
    * once-per-JVM/prep contract as the BAM entry.
    */
  private val bcfContigs = (1 to 22).map(i => (s"c$i", 250000000L))
  private val bcfSamples = (1 to 20).map("S" + _)

  /** The bcfx variant-generator, factored out like [[syntheticReads]]. */
  private def syntheticVariants(spark: SparkSession,
      n: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val gtExpr = array(bcfSamples.indices.map(sIdx =>
      concat(pmod(col("id") * 7 + lit(sIdx), lit(2)), lit("|"),
        pmod(col("id") * 13 + lit(sIdx), lit(2)))): _*)
    spark.range(n).select(
      concat(lit("c"), pmod(col("id"), lit(22)) + 1).as("chrom"),
      (pmod(hash(col("id")), lit(200000000)).cast("long") + 1).as("pos"),
      concat(lit("v"), col("id")).as("id"),
      lit("A").as("ref"),
      element_at(array(lit("C"), lit("G"), lit("T")),
        (pmod(col("id"), lit(3)) + 1).cast("int")).as("alt"),
      lit(".").as("qual"),
      lit("PASS").as("filter"),
      concat(lit("AF=0."), pmod(col("id"), lit(89)) + 10).as("info"),
      gtExpr.as("genotypes"))
  }

  private var bcfScalePath: String = null
  private def ensureSyntheticBcf(spark: SparkSession, n: Long): String =
    synchronized {
      if (bcfScalePath != null) return bcfScalePath
      val p = s"${sys.props("java.io.tmpdir")}/graft-bcf-scale-" +
        s"${ProcessHandle.current.pid}.bcf"
      graft.sources.Bcf.write(syntheticVariants(spark, n), bcfContigs,
        bcfSamples, p)
      bcfScalePath = p
      p
    }

  /** Materialized write-side input for the bcfw entries ([[
    * ensureBamWriteFrame]]'s contract).
    */
  private var bcfWriteFrame: org.apache.spark.sql.DataFrame = null
  private def ensureBcfWriteFrame(spark: SparkSession,
      n: Long): org.apache.spark.sql.DataFrame = synchronized {
    if (bcfWriteFrame == null)
      bcfWriteFrame = syntheticVariants(spark, n)
        .repartition(8).localCheckpoint()
    bcfWriteFrame
  }

  /** One BIG synthetic bgzipped VCF (~n variants × 20 samples as BGZF
    * text) — the single-huge-file layout cohort VCFs ship in. Two bench
    * entries read it: the Hadoop-codec path (non-splittable, one task)
    * and the byte-range splittable [[graft.sources.Vcf.readTable]]
    * relation; their ratio is the measured value of in-file splitting.
    */
  private var vcfGzScalePath: String = null

  /** Stream synthetic VCF text straight into a BGZF file through a
    * [[graft.sources.Bgzf.BlockWriter]]: O(blockSize) driver memory at
    * any record count. The replaced single-StringBuilder build sized
    * its capacity with Int math (`n * 120` goes negative at the sf1
    * replay's n≈18M) and would exceed the 2 GiB array limit anyway.
    */
  private def writeVcfGzStreaming(p: String)(
      emit: (String => Unit) => Unit): Unit = {
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(p), 1 << 20)
    try {
      val bw = new graft.sources.Bgzf.BlockWriter(out)
      emit(s => bw.write(
        s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
      bw.finish()
    } finally out.close()
  }

  private def ensureSyntheticVcfGz(n: Int): String = synchronized {
    if (vcfGzScalePath != null) return vcfGzScalePath
    val p = s"${sys.props("java.io.tmpdir")}/graft-vcfgz-scale-" +
      s"${ProcessHandle.current.pid}.vcf.gz"
    writeVcfGzStreaming(p) { w =>
      w("##fileformat=VCFv4.2\n")
      w("##INFO=<ID=AF,Number=A,Type=Float,Description=\"AF\">\n")
      w("##FORMAT=<ID=GT,Number=1,Type=String,Description=\"GT\">\n")
      w("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" +
        (1 to 20).map("S" + _).mkString("\t") + "\n")
      val sb = new StringBuilder(256)
      var i = 0
      while (i < n) {
        sb.setLength(0)
        sb ++= s"c${i % 22 + 1}\t${i * 37 % 200000000 + 1}\tv$i\tA\t" +
          s"${"CGT".charAt(i % 3)}\t.\tPASS\tAF=0.${i % 89 + 10}\tGT"
        var sIdx = 0
        while (sIdx < 20) {
          sb ++= (if ((i * 7 + sIdx) % 2 == 0) "\t0|1" else "\t1|1")
          sIdx += 1
        }
        sb += '\n'
        w(sb.toString)
        i += 1
      }
    }
    vcfGzScalePath = p
    p
  }

  /** Coordinate-SORTED synthetic cohort `.vcf.gz` with `##contig`
    * header lines — the tabix sortedness contract the region bench
    * entries exercise: `n` records in 22 contiguous chrom blocks,
    * ascending pos within each.
    */
  private var sortedVcfGzPath: String = null
  private def ensureSortedVcfGz(n: Int): String = synchronized {
    if (sortedVcfGzPath != null) return sortedVcfGzPath
    val p = s"${sys.props("java.io.tmpdir")}/graft-vcfgz-sorted-" +
      s"${ProcessHandle.current.pid}.vcf.gz"
    val perChrom = math.max(1, n / 22)
    writeVcfGzStreaming(p) { w =>
      w("##fileformat=VCFv4.2\n")
      var c = 1
      while (c <= 22) { w(s"##contig=<ID=c$c>\n"); c += 1 }
      w("##INFO=<ID=AF,Number=A,Type=Float,Description=\"AF\">\n")
      w("##FORMAT=<ID=GT,Number=1,Type=String,Description=\"GT\">\n")
      w("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" +
        (1 to 20).map("S" + _).mkString("\t") + "\n")
      val sb = new StringBuilder(256)
      c = 1
      while (c <= 22) {
        var i = 0
        while (i < perChrom) {
          sb.setLength(0)
          sb ++= s"c$c\t${i * 40 + 10}\tv${c}_$i\tA\t" +
            s"${"CGT".charAt(i % 3)}\t.\tPASS\tAF=0.${i % 89 + 10}\tGT"
          var sIdx = 0
          while (sIdx < 20) {
            sb ++= (if ((i * 7 + sIdx) % 2 == 0) "\t0|1" else "\t1|1")
            sIdx += 1
          }
          sb += '\n'
          w(sb.toString)
          i += 1
        }
        c += 1
      }
    }
    sortedVcfGzPath = p
    p
  }

  /** The vpnx 20-region target panel over [[ensureSortedVcfGz]]'s
    * layout: two ADJACENT regions per chromosome on c3..c12 — their
    * byte windows touch, so mergeWindows must fold each pair into one.
    */
  private def panelRegions(n: Int): Seq[(String, Long, Long)] = {
    val span = math.max(1L, n.toLong / 22) * 40L
    (0 until 10).flatMap { j =>
      val base = 10L + span / 4
      Seq((s"c${j + 3}", base, base + span / 20),
        (s"c${j + 3}", base + span / 20, base + span / 10))
    }
  }

  /** [[ensureSortedVcfGz]] copied aside and `.tbi`-indexed (the vtbx
    * entry's input — indexing the shared file would silently flip the
    * vrgx/vpnx bisection entries onto the index path).
    */
  private var indexedVcfGzPath: String = null
  private def ensureIndexedVcfGz(
      spark: org.apache.spark.sql.SparkSession, n: Int): String =
    synchronized {
      if (indexedVcfGzPath != null) return indexedVcfGzPath
      val src = ensureSortedVcfGz(n)
      val p = s"${sys.props("java.io.tmpdir")}/graft-vcfgz-indexed-" +
        s"${ProcessHandle.current.pid}.vcf.gz"
      java.nio.file.Files.copy(java.nio.file.Paths.get(src),
        java.nio.file.Paths.get(p),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.sources.Tabix.indexVcfGz(
        spark.sparkContext.hadoopConfiguration, p)
      indexedVcfGzPath = p
      p
    }

  /** Stored (parquet-backed) chrom panel whose `tag = 'keep'` filter
    * leaves one chromosome — the build side of the vjpx runtime-join-
    * pruning pair. Stored because Spark's dynamic-pruning rule wants a
    * selective FILTER over a real relation on the build side (an
    * in-memory literal panel constant-folds to a LocalRelation, which
    * the rule treats as non-selective).
    */
  private var joinPanelPath: String = null
  private def ensureJoinPanel(
      spark: org.apache.spark.sql.SparkSession)
    : org.apache.spark.sql.DataFrame = synchronized {
    if (joinPanelPath == null) {
      val p = s"${sys.props("java.io.tmpdir")}/graft-join-panel-" +
        s"${ProcessHandle.current.pid}.parquet"
      spark.createDataFrame(
        Seq(("c11", "keep"), ("c4", "drop"), ("c17", "drop")))
        .toDF("chrom", "tag").write.mode("overwrite").parquet(p)
      joinPanelPath = p
    }
    spark.read.parquet(joinPanelPath)
      .where(org.apache.spark.sql.functions.col("tag") === "keep")
      .select("chrom")
  }

  /** [[ensureSortedVcfGz]]'s records as a 22-shard per-chromosome
    * DIRECTORY, each shard a self-describing sorted `.vcf.gz` (full
    * header, one chrom's records) — the cohort fleet layout the vrdx
    * entries region-read.
    */
  private var sortedVcfGzShardedDir: String = null
  private def ensureSortedVcfGzSharded(n: Int): String = synchronized {
    if (sortedVcfGzShardedDir != null) return sortedVcfGzShardedDir
    val d = s"${sys.props("java.io.tmpdir")}/graft-vcfgz-shards-" +
      ProcessHandle.current.pid
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    val perChrom = math.max(1, n / 22)
    var c = 1
    while (c <= 22) {
      writeVcfGzStreaming(f"$d/part-${c - 1}%05d.vcf.gz") { w =>
        w("##fileformat=VCFv4.2\n")
        (1 to 22).foreach(k => w(s"##contig=<ID=c$k>\n"))
        w("##INFO=<ID=AF,Number=A,Type=Float,Description=\"AF\">\n")
        w("##FORMAT=<ID=GT,Number=1,Type=String,Description=\"GT\">\n")
        w("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" +
          (1 to 20).map("S" + _).mkString("\t") + "\n")
        val sb = new StringBuilder(256)
        var i = 0
        while (i < perChrom) {
          sb.setLength(0)
          sb ++= s"c$c\t${i * 40 + 10}\tv${c}_$i\tA\t" +
            s"${"CGT".charAt(i % 3)}\t.\tPASS\tAF=0.${i % 89 + 10}\tGT"
          var sIdx = 0
          while (sIdx < 20) {
            sb ++= (if ((i * 7 + sIdx) % 2 == 0) "\t0|1" else "\t1|1")
            sIdx += 1
          }
          sb += '\n'
          w(sb.toString)
          i += 1
        }
      }
      c += 1
    }
    sortedVcfGzShardedDir = d
    d
  }

  /** [[ensureSortedVcfGz]]'s records as a 128-shard DIRECTORY (22
    * chroms × up to 6 contiguous pos slices each, every shard a
    * self-describing sorted `.vcf.gz`) — the wide-fleet layout the
    * vdpx distributed-planning entries read.
    */
  private var manyShardVcfGzDir: String = null
  private def ensureManyShardVcfGz(n: Int): String = synchronized {
    if (manyShardVcfGzDir != null) return manyShardVcfGzDir
    val d = s"${sys.props("java.io.tmpdir")}/graft-vcfgz-fleet-" +
      ProcessHandle.current.pid
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    val perChrom = math.max(6, n / 22)
    val perSlice = (perChrom + 5) / 6
    var shard = 0
    var c = 1
    while (c <= 22) {
      var s0 = 0
      while (s0 < perChrom) {
        val s1 = math.min(perChrom, s0 + perSlice)
        writeVcfGzStreaming(f"$d/part-$shard%05d.vcf.gz") { w =>
          w("##fileformat=VCFv4.2\n")
          (1 to 22).foreach(k => w(s"##contig=<ID=c$k>\n"))
          w("##INFO=<ID=AF,Number=A,Type=Float,Description=\"AF\">\n")
          w("##FORMAT=<ID=GT,Number=1,Type=String,Description=\"GT\">\n")
          w("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" +
            (1 to 20).map("S" + _).mkString("\t") + "\n")
          val sb = new StringBuilder(256)
          var i = s0
          while (i < s1) {
            sb.setLength(0)
            sb ++= s"c$c\t${i * 40 + 10}\tv${c}_$i\tA\t" +
              s"${"CGT".charAt(i % 3)}\t.\tPASS\tAF=0.${i % 89 + 10}\tGT"
            var sIdx = 0
            while (sIdx < 20) {
              sb ++= (if ((i * 7 + sIdx) % 2 == 0) "\t0|1" else "\t1|1")
              sIdx += 1
            }
            sb += '\n'
            w(sb.toString)
            i += 1
          }
        }
        shard += 1
        s0 = s1
      }
      c += 1
    }
    manyShardVcfGzDir = d
    d
  }

  /** The vdpx 40-region panel: two regions per chromosome on c2..c21 —
    * 40 × 128 shards = 5120 file×region searches, past the 4096
    * distribute threshold.
    */
  private def widePanel(n: Int): Seq[(String, Long, Long)] = {
    val span = math.max(1L, n.toLong / 22) * 40L
    (0 until 20).flatMap { j =>
      val base = 10L + span / 3
      Seq((s"c${j + 2}", base, base + span / 40),
        (s"c${j + 2}", base + span / 2, base + span / 2 + span / 40))
    }
  }

  /** Dedup at volume: `n` synthetic ~30-word docs (300k at sf0.1 for dx,
    * 3M for dx10), every 10th a near-copy of its predecessor (one word of
    * 30 changed), through the full detect->cluster path the sf documents
    * gate cannot size: minhash LSH pair generation + connected
    * components. Alphabetic vocab: text.words drops digits, so "w$i"
    * would collapse every word to "w".
    */
  private def dedupAtScale(spark: SparkSession, n: Long): Long = {
    import org.apache.spark.sql.functions._
    val vocab = (0 until 512).map(i => "" + ('a' + i % 26).toChar +
      ('a' + (i / 26) % 26).toChar + ('a' + (i / 676) % 26).toChar)
    val vlit = array(vocab.map(lit): _*)
    def word(seed: org.apache.spark.sql.Column) =
      element_at(vlit, (pmod(hash(seed), lit(512)) + 1).cast("int"))
    val docs = spark.range(n)
      .select(col("id"),
        // near-dup docs share words 0..28 with their predecessor
        when(pmod(col("id"), lit(10)) === 0 && col("id") > 0,
          col("id") - 1).otherwise(col("id")).as("seed"))
      .select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 29).map(i => word(col("seed") * 31 + i)) :+
            word(col("id") * 31 + 29): _*).as("text"))
      .localCheckpoint()
    val pairs = graft.operators.Dedup.minhashLsh(docs, "doc_id", "text")
    val res = graft.operators.Dedup.duplicateClusters(pairs).count()
    docs.unpersist(blocking = false)
    res
  }

  /** The flagship pipeline at volume: `nHaplos` synthetic haplotypes over
    * `nTranscripts` 120nt single-exon transcripts, 1-2 deterministic SNVs
    * each (REF matches the synthetic cDNA base, ALT rotates it, positions
    * ascend so the ordered-variant contract holds), through the full
    * HaploProteins.proteinDatabase plan. px keeps ~480 haplotypes per
    * transcript; px10 scales BOTH dimensions 10x so per-key fanout is
    * constant — the cohort-growth shape, not a skew test.
    */
  private def proteinAtScale(spark: SparkSession, nHaplos: Long,
                             nTranscripts: Int): Long = {
    import org.apache.spark.sql.functions._
    val bases = array(lit("A"), lit("C"), lit("G"), lit("T"))
    def baseIdx(seed: org.apache.spark.sql.Column) =
      (pmod(hash(seed), lit(4)) + 1).cast("int")
    val cdna = concat(lit("ATG"), concat_ws("",
      (0 until 117).map(i =>
        element_at(bases, baseIdx(col("tnum") * 37 + i))): _*))
    val haplos = spark.range(nHaplos)
      .select(col("id"), (col("id") % nTranscripts).as("tnum"))
      .select(
        concat(lit("TS"), col("tnum")).as("transcript"),
        lit("1").as("chrom"), lit("protein_coding").as("biotype"),
        lit("+").as("strand"),
        array(struct(lit(101L).as("start"), lit(220L).as("end")))
          .as("exons"),
        lit(101L).as("start_codon_start"),
        lit(null).cast("long").as("stop_codon_start"),
        cdna.as("cdna"),
        concat(lit("hv"), col("id")).as("signature"),
        transform(
          sequence(lit(0), pmod(hash(col("id")), lit(2)).cast("int")),
          j => {
            val pos = lit(110L) + j.cast("long") * 50 +
              pmod(hash(col("id"), j), lit(40))
            val rIdx = baseIdx(col("tnum") * 37 + (pos - 104))
            struct(
              pos.as("pos"),
              concat(lit("hv"), col("id"), lit("_"), j).as("varId"),
              element_at(bases, rIdx).as("ref"),
              element_at(bases, (pmod(rIdx, lit(4)) + 1).cast("int"))
                .as("alt"),
              lit(0.01).as("af"))
          }).as("changes"),
        lit(1L).as("hap_count"), lit(0.001).as("frequency"),
        concat(lit("S"), col("id"), lit(":1")).as("samples"))
    graft.operators.HaploProteins.proteinDatabase(haplos).count()
  }

  /** IVF-flat kNN over `n` synthetic 32-dim vectors with a codebook of
    * ~n/centStep entries (see the sx/sx10 entries for the scaling
    * contract).
    */
  private def annAtScale(spark: SparkSession, n: Long,
                         centStep: Long): Long = {
    import org.apache.spark.sql.functions._
    val dim = 32
    def v(idc: org.apache.spark.sql.Column, seed: Int) = array(
      (0 until dim).map(d =>
        (pmod(hash(idc * 31 + seed, lit(d)), lit(1000))
          .cast("double") / lit(500.0) - lit(1.0))): _*)
    val corpus = spark.range(n)
      .select(col("id").as("cid"), v(col("id"), 7).as("cvec"))
    val queries = spark.range(16)
      .select((col("id") * 997).as("qid"),
        v(col("id") * 997, 7).as("qvec"))
    graft.operators.Similarity.knnCosineIvf(queries, corpus,
      k = 10, centStep = centStep, nprobe = 4).count()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Per-entry stage/shuffle accounting (r16 verdict item 6): the
    // 1.1-1.5x barrier-band oscillation on PINNED plans has been
    // hand-adjudicated three rounds running — recording each run's
    // completed-stage count and shuffle-write bytes makes "same plan,
    // noisy box" a mechanical check (bytes moved = plan changed; bytes
    // flat + wall moved = host noise). Counters accumulate on the
    // async listener bus; timed() drains the bus before snapshotting
    // so one run's stages never smear into the next.
    val stageCount = new java.util.concurrent.atomic.AtomicLong()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
          stageCount.incrementAndGet()
          val m = sc.stageInfo.taskMetrics
          if (m != null)
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      })
    // Untimed prep: fixture-table materialization and the shared protein-DB
    // build are one-time test scaffolding, not operator cost — without this
    // they land on whichever genomic query happens to run first and swamp
    // its number. Reported separately as "prep_sec" for transparency.
    val tPrep = System.nanoTime()
    try {
      graft.fixtures.GenomicFixtures.ensure(spark)
      graft.queries.GenomicPipeline.proteinDb(spark)
      graft.queries.Relational.ensureBucketed(spark, sfDir)
    } catch {
      case t: Throwable =>
        // keep benching, but loudly: a failed prep lands the protein-DB
        // build back inside whichever genomic query runs first
        System.err.println(s"[bench] PREP FAILED: $t")
        t.printStackTrace()
    }
    val prep = (System.nanoTime() - tPrep) / 1e9
    // Min-of-N per query (default 3): round-3/4 comparisons showed 10-20x
    // swings on unchanged plans from JIT/codegen warm-up landing on
    // whichever query ran first, and the sandbox host adds 93-170s of
    // run-to-run background-load variance across a full suite. The min is
    // the steady-state cost of the plan — the number that actually
    // responds to plan changes — and ALL run times are recorded per query
    // (query_runs) so a reader can separate plan changes from host noise.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Per-run host-contamination sampling (r11: the driver's closing
    // bench inflated s11_knn_graph x19 while load_contaminated read
    // false — load was only sampled at suite start/end, so a mid-run
    // spike was invisible). /proc/loadavg can't help DURING a run: our
    // own local[32] burst dominates it. What can: busy jiffies from
    // /proc/stat (all processes) minus this JVM's own cpu time = CPU
    // burned by OTHER processes during the run's exact window, in
    // cores. A run is "hot" when that exceeds SPARK_GRAFT_BENCH_
    // HOT_CORES (default 1.0 — a full external core sustained).
    // (busySec, iowaitSec). busy = everything except idle (idx 3) and
    // iowait (idx 4); iowait is reported SEPARATELY because the r12
    // driver bench inflated the IO-bound entries (u7_compact_files x17)
    // while external busy CPU read ~0.06-0.37 cores — the contention was
    // IO, invisible to a busy-only detector. iowait can't be
    // self-subtracted (the kernel doesn't attribute it per-process), so
    // it gets its own, higher threshold rather than folding into the
    // external-cores number.
    def procStat(): (Double, Double) =
      try {
        val f = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0)
          .trim.split("\\s+").drop(1).map(_.toLong)
        val busy = f.zipWithIndex.collect {
          case (v, i) if i != 3 && i != 4 => v
        }.sum / 100.0 // USER_HZ
        (busy, f(4) / 100.0)
      } catch { case _: Throwable => (-1.0, -1.0) }
    def procStatBusySec(): Double = procStat()._1
    def selfCpuSec(): Double =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        .getProcessCpuTime / 1e9
      catch { case _: Throwable => -1.0 }
    val hotExtCores = sys.env
      .getOrElse("SPARK_GRAFT_BENCH_HOT_CORES", "1.0").toDouble
    // iowait threshold is intentionally above hotExtCores: iowait
    // includes THIS bench's own IO (not per-process attributable), and
    // the quiet-box suite's own compaction/spill entries sit well under
    // one sustained iowait core — contention events read several.
    val hotIowaitCores = sys.env
      .getOrElse("SPARK_GRAFT_BENCH_HOT_IOWAIT", "1.5").toDouble
    // external cores burned over an idle probe window (self ~0): the
    // quiet-box check before a re-adjudication run
    def externalCoresIdle(windowMs: Int): Double = {
      val b0 = procStatBusySec(); val c0 = selfCpuSec()
      if (b0 < 0 || c0 < 0) return -1.0
      Thread.sleep(windowMs)
      ((procStatBusySec() - b0) - (selfCpuSec() - c0)) /
        (windowMs / 1000.0)
    }
    // Returns (per-run (seconds, externalCores, iowaitCores, stages,
    // shuffleWriteBytes), anyRunFailed). A failed run records NO number
    // — time-to-exception is not a measurement, and r8's four
    // analysis-failing queries "benching" at 0.06s proved how a fake
    // speedup reads as a real one. Failed queries are excluded from
    // "queries"/total and listed under "failed_queries".
    def timed(body: () => Unit)
      : (Seq[(Double, Double, Double, Long, Long)], Boolean) = {
      var failed = false
      val times = (1 to runs).flatMap { _ =>
        org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
        val s0 = stageCount.get(); val sh0 = shuffleBytes.get()
        val (b0, w0) = procStat(); val c0 = selfCpuSec()
        val t0 = System.nanoTime()
        val ok =
          try { body(); true }
          catch { case t: Throwable =>
            System.err.println(s"[bench] QUERY FAILED: $t")
            failed = true
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        val (b1, w1) = procStat()
        org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
        val stg = stageCount.get() - s0
        val shf = shuffleBytes.get() - sh0
        val ext =
          if (b0 < 0 || c0 < 0) -1.0
          else math.max(0.0,
            ((b1 - b0) - (selfCpuSec() - c0)) / math.max(dt, 1e-9))
        val iow =
          if (w0 < 0) -1.0
          else math.max(0.0, (w1 - w0) / math.max(dt, 1e-9))
        graft.operators.Dedup.releaseCaches() // untimed storage reclaim
        graft.queries.GenomicPipeline.releaseCaches()
        if (ok) Some((dt, ext, iow, stg, shf)) else None
      }
      (times, failed)
    }
    // NOT released between runs: the memoized d12/e11 corpus index is
    // cross-query state by design (production amortizes index builds
    // across ingest batches); it is dropped once, after the last query
    def loadAvg(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // Contamination auto-retry (r9 ADVICE): the driver's closing r9 run
    // fired load_contaminated (load_before 5.27) and its numbers were
    // noise. Rather than measure a busy box, wait for it to quiet down —
    // up to N one-minute sleeps — before starting the timed queries. If
    // it never quiets, proceed and let the in-band marker say so.
    val loadRetries =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_RETRIES", "3").toInt
    var loadBefore = loadAvg()
    var loadWaits = 0
    while (loadBefore > 4.0 && loadWaits < loadRetries) {
      System.err.println(
        f"[bench] busy box (loadavg $loadBefore%.2f > 4.0): " +
          s"sleeping 60s (${loadWaits + 1}/$loadRetries)")
      Thread.sleep(60000)
      loadWaits += 1
      loadBefore = loadAvg()
    }
    // SPARK_GRAFT_BENCH_ONLY="d4_ngram_jaccard,q1_agg": focused runs while
    // iterating on one operator; unset = full suite (driver mode)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def wanted(name: String) = only.forall(_.contains(name))
    val gateBodies: Seq[(String, () => Unit)] =
      SparkEntry.queries.filter(kv => wanted(kv._1)).toSeq
        .map { case (name, fn) =>
          name -> (() => { fn(spark, sfDir).count(); () })
        }
    val runs0 = gateBodies.map { case (name, body) =>
      name -> timed(body)
    }
    // Synthetic-scale genomic benchmarks: the gate fixtures are
    // intentionally tiny (hand-computed oracles), so the genomic
    // operators' gate timings carry no scale signal. These generate
    // deterministic inputs sized from the sf corpus (~1M genotype rows /
    // 1M points at sf0.1) and time the same operators at volume.
    import org.apache.spark.sql.functions._
    val nDocs =
      try spark.read.parquet(s"$sfDir/documents.parquet").count()
      catch { case _: Throwable => 5000L }
    val synth: Map[String, () => Long] = Map(
      "gx_interval_scale" -> (() => {
        val pts = spark.range(nDocs * 200).select(
          concat(lit("chr"), col("id") % 22).as("chrom"),
          pmod(hash(col("id")), lit(250000000)).cast("long").as("pos"),
          col("id").as("varId"))
        val ivs = spark.range(nDocs * 10).select(
          concat(lit("chr"), col("id") % 22).as("chrom"),
          pmod(hash(col("id") + 7), lit(250000000)).cast("long")
            .as("start"),
          col("id").as("ivId"))
          .withColumn("end", col("start") + 5000L)
        graft.operators.IntervalJoin.pointsInIntervals(pts, ivs,
          Seq("chrom")).count()
      }),
      "px_protein_scale" -> (() =>
        proteinAtScale(spark, nDocs * 4, 500)),
      // 10x px: the haplotype->protein pipeline IS what the reference
      // exists for, and it was the one family without empirical scaling
      // evidence (dx10 covers dedup, sx50 covers ANN). 10x the haplotypes
      // through the IDENTICAL proteinDatabase plan, transcripts scaled
      // 10x too so per-transcript fanout stays constant (~480 haplos per
      // transcript) — the shape a 1000-executor cluster sees, where the
      // transcript key count grows with the cohort, not the skew.
      "px10_protein_scale" -> (() =>
        proteinAtScale(spark, nDocs * 40, 5000)),
      "pepx_match_scale" -> (() => {
        // peptide k-mer join at volume: ~nDocs*10 deterministic 120-AA
        // proteins (~5.9M k-mer index rows at sf0.1), 2 peptides cut from
        // each (~100k), prefix-kmer collisions put ~5M candidates through
        // the verify join — the scale signal the 7-protein gate fixture
        // cannot carry
        val aas = "ACDEFGHIKLMNPQRSTVWY"
        def aa(seed: org.apache.spark.sql.Column) =
          lit(aas).substr((pmod(hash(seed), lit(20)) + 1).cast("int"),
            lit(1))
        val prots = spark.range(nDocs * 10)
          .select(concat(lit("P"), col("id")).as("accession"),
            concat_ws("", (0 until 120).map(i =>
              aa(col("id") * 131 + i)): _*).as("sequence"))
        val peps = spark.range(nDocs * 20)
          .select(col("id"), (col("id") % (nDocs * 10)).as("pnum"),
            (pmod(hash(col("id")), lit(100)) + 1).cast("int").as("start"),
            (pmod(hash(col("id") + 3), lit(8)) + 8).cast("int").as("plen"))
          .select(concat(lit("q"), col("id")).as("pepId"),
            concat_ws("", (0 until 120).map(i =>
              aa(col("pnum") * 131 + i)): _*)
              .substr(col("start"), col("plen")).as("peptide"))
        // materialize the generators: projection collapse would otherwise
        // inline the 120-term concat into every k-mer row (117x recompute
        // per protein) — and the entry should time the match, not the
        // synthesizer
        val protsM = prots.localCheckpoint()
        val pepsM = peps.localCheckpoint()
        val n = graft.operators.PeptideAnnotate
          .matchPeptides(pepsM, protsM, k = 4).count()
        protsM.unpersist(blocking = false)
        pepsM.unpersist(blocking = false)
        n
      }),
      "dx_dedup_scale" -> (() => dedupAtScale(spark, nDocs * 5)),
      // 10x dx: EMPIRICAL linear-scaling evidence for the dedup family —
      // the LSH bucket caps bound candidate pairs by construction
      // (O(buckets * cap^2), independent of corpus size), so 10x the
      // docs through the identical detect->cluster path must cost ~10x
      // dx, not 100x (SURVEY §6 records the measured ratio per round)
      "dx10_dedup_scale" -> (() => dedupAtScale(spark, nDocs * 50)),
      // ANN at volume: synthetic 32-dim vectors through the IVF-flat
      // path: codebook sample -> bounded_top_k assignment -> nprobe
      // list scan. Assignment cost is corpus x nlist x dim and
      // parallelizes per partition — the same plan that holds at
      // 100 TB with a broadcast codebook. centStep scales with the
      // corpus so nlist stays ~58 in every entry: sx50 pushes 50x the
      // vectors (6M at sf0.1, ~11B multiply-adds) through the
      // IDENTICAL plan — the ANN family's empirical scaling evidence,
      // mirroring dx/dx10. (A 10x entry measured indistinguishable
      // from sx: fixed plan/codegen overhead still dominated at 1.2M.)
      "sx_ann_scale" -> (() => annAtScale(spark, nDocs * 2, 2048)),
      "sx50_ann_scale" -> (() => annAtScale(spark, nDocs * 100, 102400)),
      // WARC ingestion at volume: ~nDocs*2 synthetic html responses
      // (~60 MB at sf0.1) through the splittable boundary-scan read +
      // WET text extraction — the crawl-side scale signal the 8-record
      // gate fixture cannot carry. The file is generated once on the
      // first run; min-of-3 discards that run's synthesis cost.
      "wx_warc_scale" -> (() => {
        val path = ensureSyntheticWarc((nDocs * 2).toInt)
        val w = graft.sources.Warc.read(spark, path)
        w.where(col("warc_type") === "response")
          .select(graft.sources.Warc.extractText(
            graft.sources.Warc.httpBody(col("payload"))).as("t"))
          .agg(sum(length(col("t")))).head.getLong(0)
      }),
      // The identical crawl as ONE .warc.gz member: Hadoop-codec
      // decompress, non-splittable -> one task. The wxgz/wx ratio is
      // the measured cost of SURVEY §6's compressed-crawl caveat (real
      // crawls shard one gz per segment, so this is the per-FILE unit
      // cost, not the fleet wall).
      // Binary containers at volume: one file = one task (the fleet
      // layout is one BAM/sample, one BCF/chrom-shard) - these time the
      // PER-FILE unit cost of the streaming decode iterators, i.e. the
      // number a 1000-executor fan-out multiplies.
      "bamx_bam_scale" -> (() => {
        val path = ensureSyntheticBam(spark, nDocs * 60)
        graft.sources.Bam.readTable(spark, path,
          splitSize = graft.fixtures.GenomicFixtures.wholeFile(path))
          .where(!col("is_unmapped"))
          .agg(count(lit(1)), sum(col("ref_end") - col("pos") + 1))
          .head.getLong(0)
      }),
      // The same BAM through byte-range splits (no .bai index): 1 MiB
      // ranges -> ~5 tasks vs bamx's one. The ratio is the
      // single-huge-BAM parallelism win.
      "bamxs_bam_split_scale" -> (() => {
        val path = ensureSyntheticBam(spark, nDocs * 60)
        graft.sources.Bam.readTable(spark, path, splitSize = 1L << 20)
          .where(!col("is_unmapped"))
          .agg(count(lit(1)), sum(col("ref_end") - col("pos") + 1))
          .head.getLong(0)
      }),
      // x10 decade of the split decode: ONE ~3M-read BAM (x10 bamxs)
      // through 8 MiB byte-range splits — pins in-file decode
      // throughput at the next scale (the VERDICT r13 item 6 decade;
      // file generation is executor-side via the sharded sink and
      // lands in run 1 only, the min comes from the warm runs)
      "bamx10_bam_decade_scale" -> (() => {
        val path = ensureSyntheticBam10(spark, nDocs * 600)
        graft.sources.Bam.readTable(spark, path, splitSize = 8L << 20)
          .where(!col("is_unmapped"))
          .agg(count(lit(1)), sum(col("ref_end") - col("pos") + 1))
          .head.getLong(0)
      }),
      "bcfx10_bcf_decade_scale" -> (() => {
        val path = ensureSyntheticBcf10(spark, nDocs * 200)
        graft.sources.Bcf.readTable(spark, path, splitSize = 8L << 20)
          .agg(count(lit(1)), sum(size(col("genotypes"))))
          .head.getLong(0)
      }),
      "bcfx_bcf_scale" -> (() => {
        val path = ensureSyntheticBcf(spark, nDocs * 20)
        graft.sources.Bcf.readTable(spark, path,
          splitSize = graft.fixtures.GenomicFixtures.wholeFile(path))
          .agg(count(lit(1)), sum(size(col("genotypes"))))
          .head.getLong(0)
      }),
      // r18: the SAME decade-scale BCF through the DSv2 relation with a
      // genotype-free projection — the pruned schema now skips the
      // per-sample block decode outright (guide §6), which is the scan
      // shape every sites-level query (chrom/pos/info panels) sees.
      // Paired with bcfx10 (full decode, identical bytes), the ratio IS
      // the measured value of the pruning.
      "bcfpx_bcf_pruned_scale" -> (() => {
        val path = ensureSyntheticBcf10(spark, nDocs * 200)
        graft.sources.Bcf.readTable(spark, path, splitSize = 8L << 20)
          .agg(count(lit(1)), sum(col("pos")))
          .head.getLong(0)
      }),
      // One HUGE bgzipped VCF two ways: the non-splittable Hadoop-codec
      // path (one task regardless of size) vs the byte-range splittable
      // DSv2 relation. The ratio is the measured value of in-file
      // splitting for the single-file cohort layout.
      "vgzx_vcfgz_codec_scale" -> (() => {
        val path = ensureSyntheticVcfGz((nDocs * 60).toInt)
        graft.sources.Vcf.read(spark, path)
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
      }),
      "vgzx_vcfgz_split_scale" -> (() => {
        val path = ensureSyntheticVcfGz((nDocs * 60).toInt)
        graft.sources.Vcf.readTable(spark, path, splitSize = 1L << 20)
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
      }),
      // Region pushdown vs full scan on the SAME sorted cohort file:
      // vrgx binary-searches the member chain and inflates only the
      // ~1-chrom-slice window (the chr17:41.1M-41.3M access pattern,
      // no .tbi); its pair vrgx1 answers the identical query by
      // scanning every member (its chrom filter is unpushed). The ratio is the pruning win — and it
      // GROWS with file size (vrgx is O(slice + log n), vrgx1 is
      // O(file)).
      "vrgx_region_read_scale" -> (() => {
        val path = ensureSortedVcfGz((nDocs * 60).toInt)
        val hi = (nDocs * 60 / 22).toInt * 40 / 4 // first ~quarter of c11
        graft.sources.Vcf.readRegion(spark, path, "c11", 10L, hi,
          splitSize = 1L << 20)
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
      }),
      "vrgx1_region_fullscan_scale" -> (() => {
        val path = ensureSortedVcfGz((nDocs * 60).toInt)
        val hi = (nDocs * 60 / 22).toInt * 40 / 4
        graft.sources.Vcf.readTable(spark, path, splitSize = 1L << 20)
          .where(chromUnpushed("c11") && col("pos").between(10L, hi))
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
      }),
      // The vrgx query over an INDEXED copy of the same file: a `.tbi`
      // sidecar (built by the repo's own indexer) replaces the
      // bisection — zero probe reads, the index IS the plan. Walls at
      // or under vrgx = the sidecar path costs no more than probing;
      // at 100× the win is the removed O(regions·log n) driver probe
      // pass on cold storage. First run pays the one-time copy+index
      // prep (min-of-N drops it).
      "vtbx_tabix_region_scale" -> (() => {
        val path = ensureIndexedVcfGz(spark, (nDocs * 60).toInt)
        val hi = (nDocs * 60 / 22).toInt * 40 / 4
        graft.sources.Vcf.readRegion(spark, path, "c11", 10L, hi,
          splitSize = 1L << 20)
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
      }),
      // The SAME query as vrgx/vrgx1 written as plain SQL against the
      // DSv2 relation — no readRegion call anywhere: the scan must
      // route the WHERE's chrom/pos conjuncts into the bisected window
      // by itself. Walls near vrgx (≪ vrgx1) = automatic pruning works.
      "vfrx_filter_route_scale" -> (() => {
        val path = ensureSortedVcfGz((nDocs * 60).toInt)
        val hi = (nDocs * 60 / 22).toInt * 40 / 4
        graft.sources.Vcf.readTable(spark, path, splitSize = 1L << 20)
          .where(col("chrom") === "c11" && col("pos").between(10L, hi))
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
      }),
      // 20-region target panel in ONE readRegions call (two ADJACENT
      // regions per chromosome on 10 chroms, so merged windows halve
      // the window count) vs the identical OR-filter full scan. The
      // pair ratio is the panel pruning win at O(regions · log n)
      // driver probes. The twin's chrom conjuncts are unpushed, so it
      // scans every byte.
      "vpnx_region_panel_scale" -> (() => {
        val path = ensureSortedVcfGz((nDocs * 60).toInt)
        graft.sources.Vcf.readRegions(spark, path,
          panelRegions((nDocs * 60).toInt), splitSize = 1L << 20)
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
      }),
      "vpnx1_panel_fullscan_scale" -> (() => {
        val path = ensureSortedVcfGz((nDocs * 60).toInt)
        val pred = panelRegions((nDocs * 60).toInt).map {
          case (c, a, b) =>
            chromUnpushed(c) && col("pos").between(a, b)
        }.reduce(_ || _)
        graft.sources.Vcf.readTable(spark, path, splitSize = 1L << 20)
          .where(pred)
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
      }),
      // Region read over a 22-shard per-chromosome DIRECTORY (the
      // layout cohorts ship in): 21 no-hit shards prune to search
      // floors, the hit shard prunes to the slice — vs the full
      // directory scan (unpushed chrom filter) answering the same query.
      "vrdx_region_dir_scale" -> (() => {
        val dir = ensureSortedVcfGzSharded((nDocs * 60).toInt)
        val hi = (nDocs * 60 / 22).toInt * 40 / 4
        graft.sources.Vcf.readRegion(spark, dir, "c11", 10L, hi,
          splitSize = 1L << 20)
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
      }),
      "vrdx1_region_dir_fullscan_scale" -> (() => {
        val dir = ensureSortedVcfGzSharded((nDocs * 60).toInt)
        val hi = (nDocs * 60 / 22).toInt * 40 / 4
        graft.sources.Vcf.readTable(spark, dir, splitSize = 1L << 20)
          .where(chromUnpushed("c11") && col("pos").between(10L, hi))
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
      }),
      // The vpnx 20-region panel as PLAIN SQL — an OR of per-region
      // containment conjuncts on the DSv2 relation, no readRegions
      // call anywhere: the bounded-DNF extraction must route all
      // disjuncts into the same merged byte windows. Walls near vpnx
      // (≪ vpnx1's OR full scan) = panel-shaped SQL prunes by itself.
      "vsqx_sql_panel_scale" -> (() => {
        val path = ensureSortedVcfGz((nDocs * 60).toInt)
        val pred = panelRegions((nDocs * 60).toInt).map {
          case (c, a, b) =>
            col("chrom") === c && col("pos").between(a, b)
        }.reduce(_ || _)
        graft.sources.Vcf.readTable(spark, path, splitSize = 1L << 20)
          .where(pred)
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
      }),
      // Runtime JOIN pruning (SupportsRuntimeV2Filtering): the DSv2
      // relation joined against a broadcast STORED panel whose filter
      // keeps one chromosome — Spark's dynamic-pruning rule hands the
      // scan the build side's chrom key set at execution time and the
      // scan re-plans to that chromosome's bisected windows. The twin
      // runs the IDENTICAL join with dynamic pruning disabled (same
      // relation, same column pruning), so the pair ratio isolates
      // the join-shaped byte-pruning win — the panel-join-vs-cohort
      // query the r16 verdict named as the most common interactive
      // shape after region reads.
      "vjpx_join_prune_scale" -> (() => {
        val path = ensureSortedVcfGz((nDocs * 60).toInt)
        graft.sources.Vcf.readTable(spark, path, splitSize = 1L << 20)
          .join(broadcast(ensureJoinPanel(spark)), Seq("chrom"))
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
      }),
      "vjpx1_join_noprune_scale" -> (() => {
        val path = ensureSortedVcfGz((nDocs * 60).toInt)
        val k = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
        val old = spark.conf.getOption(k)
        spark.conf.set(k, "false")
        try graft.sources.Vcf.readTable(spark, path,
          splitSize = 1L << 20)
          .join(broadcast(ensureJoinPanel(spark)), Seq("chrom"))
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
        finally old match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        }
      }),
      // Distributed region planning at fleet scale: a 40-region panel
      // over a 128-shard directory is 5120 file×region searches — past
      // the 4096 default threshold, so the per-shard bisections run as
      // ONE small Spark job instead of 8 driver threads. The twin
      // vdpx1 forces driver-side planning on the identical query; the
      // pair shows the planning wall staying flat (and the driver
      // freed) as fleets widen.
      "vdpx_dist_plan_scale" -> (() => {
        val dir = ensureManyShardVcfGz((nDocs * 60).toInt)
        graft.sources.Vcf.readRegions(spark, dir,
          widePanel((nDocs * 60).toInt), splitSize = 1L << 20)
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
      }),
      "vdpx1_dist_plan_driver_scale" -> (() => {
        val dir = ensureManyShardVcfGz((nDocs * 60).toInt)
        val k = "spark.graft.planDistributeThreshold"
        // save/restore (not unset) so a pre-existing setting survives —
        // mirrors the g62 gate's handling of the same conf
        val old = spark.conf.getOption(k)
        spark.conf.set(k, Long.MaxValue.toString)
        try graft.sources.Vcf.readRegions(spark, dir,
          widePanel((nDocs * 60).toInt), splitSize = 1L << 20)
          .agg(count(lit(1)), sum(col("pos"))).head.getLong(0)
        finally old match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        }
      }),
      // The identical crawl in the Common Crawl per-record-member
      // layout through the splittable member scan (4 MiB ranges):
      // completes the trio - plain splittable text (wx), single-member
      // codec (wxgz, one task), per-record gz splittable (wxr).
      "bcfxs_bcf_split_scale" -> (() => {
        val path = ensureSyntheticBcf(spark, nDocs * 20)
        graft.sources.Bcf.readTable(spark, path, splitSize = 256L << 10)
          .agg(count(lit(1)), sum(size(col("genotypes"))))
          .head.getLong(0)
      }),
      // Sharded binary SINKS at volume: the same synthetic rows the
      // bamx/bcfx decode entries read, written executor-side as 8
      // independent shards vs coalesced through the identical writer
      // as 1 — the pair's ratio is the sink-side parallelism win, and
      // the entries prove the write path never collects to the driver
      // (per-task memory is one BGZF block). Input is pre-materialized
      // (localCheckpoint) so the BAM walls are encode+deflate+write;
      // the BCF walls additionally include writeSharded's two
      // dictionary passes over the (persisted) input — a fixed cost
      // both bcfw and bcfw1 pay, so the PAIR ratio under-reads the
      // pure sink parallelism relative to the bamw pair.
      "bamw_bam_write_scale" -> (() => {
        val reads = ensureBamWriteFrame(spark, nDocs * 60)
        val dir = s"${sys.props("java.io.tmpdir")}/graft-bamw-" +
          s"${ProcessHandle.current.pid}"
        graft.sources.Bam.writeSharded(reads, bamRefs, dir)
        new java.io.File(dir).listFiles()
          .count(_.getName.endsWith(".bam")).toLong
      }),
      "bamw1_bam_write_one_scale" -> (() => {
        val reads = ensureBamWriteFrame(spark, nDocs * 60)
        val dir = s"${sys.props("java.io.tmpdir")}/graft-bamw1-" +
          s"${ProcessHandle.current.pid}"
        graft.sources.Bam.writeSharded(reads.coalesce(1), bamRefs, dir)
        new java.io.File(dir).listFiles()
          .count(_.getName.endsWith(".bam")).toLong
      }),
      "bcfw_bcf_write_scale" -> (() => {
        val variants = ensureBcfWriteFrame(spark, nDocs * 20)
        val dir = s"${sys.props("java.io.tmpdir")}/graft-bcfw-" +
          s"${ProcessHandle.current.pid}"
        graft.sources.Bcf.writeSharded(variants, bcfContigs, bcfSamples,
          dir)
        new java.io.File(dir).listFiles()
          .count(_.getName.endsWith(".bcf")).toLong
      }),
      "bcfw1_bcf_write_one_scale" -> (() => {
        val variants = ensureBcfWriteFrame(spark, nDocs * 20)
        val dir = s"${sys.props("java.io.tmpdir")}/graft-bcfw1-" +
          s"${ProcessHandle.current.pid}"
        graft.sources.Bcf.writeSharded(variants.coalesce(1), bcfContigs,
          bcfSamples, dir)
        new java.io.File(dir).listFiles()
          .count(_.getName.endsWith(".bcf")).toLong
      }),
      "wxr_warc_recgz_scale" -> (() => {
        val path = ensureSyntheticWarcRecGz((nDocs * 2).toInt)
        val w = graft.sources.Warc.readGz(spark, path,
          splitSize = 4L << 20)
        w.where(col("warc_type") === "response")
          .select(graft.sources.Warc.extractText(
            graft.sources.Warc.httpBody(col("payload"))).as("t"))
          .agg(sum(length(col("t")))).head.getLong(0)
      }),
      "wxgz_warc_gz_scale" -> (() => {
        val path = ensureSyntheticWarcGz((nDocs * 2).toInt)
        val w = graft.sources.Warc.read(spark, path)
        w.where(col("warc_type") === "response")
          .select(graft.sources.Warc.extractText(
            graft.sources.Warc.httpBody(col("payload"))).as("t"))
          .agg(sum(length(col("t")))).head.getLong(0)
      }),
      // LD at volume: ~nDocs/2 variants x 50 samples (1.5M genotype
      // rows at sf0.1) through the binned windowed pair join — pairs
      // are bounded by window density (~10 partners/variant), so the
      // pair-sample stream is ~15M rows into exact-integer partials,
      // the plan shape a biobank-scale --r2 scan needs
      "ldx_ld_scale" -> (() => {
        val gts = spark.range(nDocs / 2).select(
          concat(lit("chr"), col("id") % 22).as("chrom"),
          (col("id") / 22 * 150 + pmod(hash(col("id")), lit(50)))
            .cast("long").as("pos"),
          concat(lit("v"), col("id")).as("varId"),
          col("id").as("vnum"))
          .crossJoin(spark.range(50).select(col("id").as("snum")))
          .select(col("chrom"), col("pos"), col("varId"),
            concat(lit("S"), col("snum")).as("sample"),
            when(pmod(hash(col("vnum"), col("snum")), lit(4)) === 0,
              "1|1")
              .when(pmod(hash(col("vnum"), col("snum")), lit(4)) === 1,
                "0|1")
              .otherwise("0|0").as("gt"))
        graft.operators.VcfStats.ldPairs(gts, maxDist = 1500,
          binSize = 2000).count()
      }),
      // IBS relatedness at volume: ~nDocs/8 variants x 48 samples
      // (~30k x 48 = 1.4M genotype rows at sf0.1) through the
      // variant-keyed pair self-join — ~1,128 sample pairs x 30k
      // variants = ~34M pair rows collapsing into 3-long conditional
      // partials per pair: the quadratic popgen op's honest cost at a
      // panel size where S² is still the right call (plink's own
      // LD-pruned-panel regime)
      "ibsx_ibs_scale" -> (() => {
        val gts = spark.range(nDocs / 8).select(col("id").as("vnum"))
          .crossJoin(spark.range(48).select(col("id").as("snum")))
          .select(
            concat(lit("v"), col("vnum")).as("varId"),
            concat(lit("S"), col("snum")).as("sample"),
            when(pmod(hash(col("vnum"), col("snum")), lit(5)) === 0,
              "1|1")
              .when(pmod(hash(col("vnum"), col("snum")), lit(5)) === 1,
                "0|1")
              .when(pmod(hash(col("vnum"), col("snum")), lit(11)) === 2,
                ".|.")
              .otherwise("0|0").as("gt"))
        graft.operators.VcfStats.ibsPairs(gts).count()
      }),
      // GRM at the same ~34M-pair-row volume as ibsx: the extra cost
      // over IBS is one variant-keyed stats groupBy + one varId join
      // before the identical pair scan — integer z6 partials keep the
      // pair aggregation a single long per pair
      "grmx_grm_scale" -> (() => {
        val gts = spark.range(nDocs / 8).select(col("id").as("vnum"))
          .crossJoin(spark.range(48).select(col("id").as("snum")))
          .select(
            concat(lit("v"), col("vnum")).as("varId"),
            concat(lit("S"), col("snum")).as("sample"),
            when(pmod(hash(col("vnum"), col("snum")), lit(5)) === 0,
              "1|1")
              .when(pmod(hash(col("vnum"), col("snum")), lit(5)) === 1,
                "0|1")
              .when(pmod(hash(col("vnum"), col("snum")), lit(11)) === 2,
                ".|.")
              .otherwise("0|0").as("gt"))
        graft.operators.VcfStats.grmPairs(gts).count()
      }),
      // label propagation at volume: nDocs*100 nodes (500k at sf0.1)
      // under tree+cross edges, 4 synchronous rounds — each round one
      // O(|E|) edge join + two partial aggs, the d22 plan at graph scale
      "lpx_labelprop_scale" -> (() => {
        val n = nDocs * 100
        val nodes = spark.range(n)
        val tree = nodes.where(col("id") >= 1)
          .select((col("id") / 2).cast("long").as("src"),
            col("id").as("dst"))
        val cross = nodes.select(col("id").as("src"),
          ((col("id") * 7 + 3) % n).as("dst"))
        graft.operators.PageRank.labelPropagation(
          tree.unionByName(cross), rounds = 4).count()
      }),
      // feature-hashing embeddings at volume: nDocs*50 synthetic
      // ~30-word docs (250k at sf0.1, ~7.5M words) through the fused
      // bucket kernel + the two narrow tf/norm exchanges — the
      // text->vector bridge's linear-scaling signal (the generator is
      // checkpointed so the timed plan reads materialized rows)
      "embx_embed_scale" -> (() => {
        val vocab = (0 until 512).map(i => "" + ('a' + i % 26).toChar +
          ('a' + (i / 26) % 26).toChar + ('a' + (i / 676) % 26).toChar)
        val vlit = array(vocab.map(lit): _*)
        val docs = spark.range(nDocs * 50)
          .select(col("id").as("doc_id"),
            concat_ws(" ", (0 until 30).map(i =>
              element_at(vlit, (pmod(hash(col("id") * 31 + i),
                lit(512)) + 1).cast("int"))): _*).as("text"))
          .localCheckpoint()
        val n = graft.operators.Similarity.hashedEmbedding(
          docs, "doc_id", "text", dim = 4096).count()
        docs.unpersist(blocking = false)
        n
      }),
      // triangle counting at volume: nDocs*60 nodes (300k at sf0.1)
      // under double-ring + cross edges (~900k undirected edges, ~300k
      // guaranteed triangles + whatever the cross edges close) through
      // the degree-ordered orientation — the hub-safe wedge plan at
      // graph scale
      "trix_triangle_scale" -> (() => {
        val n = nDocs * 60
        val nodes = spark.range(n)
        val es = nodes.select(col("id").as("src"),
          ((col("id") + 1) % n).as("dst"))
          .unionByName(nodes.select(col("id").as("src"),
            ((col("id") + 2) % n).as("dst")))
          .unionByName(nodes.select(col("id").as("src"),
            ((col("id") * 7 + 3) % n).as("dst")))
        graft.operators.PageRank.triangleCount(es).count()
      }),
      // k-mer counting at volume (the jellyfish benchmark — THE
      // shuffle-heavy distributed-genomics op): ~nDocs*4 synthetic
      // 100nt reads (20M bases / ~16M 21-mers at sf0.1) through the
      // canonical explode -> map-side-combined hash agg -> spectrum.
      // Reads are generated at ~2x coverage of a 10Mb synthetic genome
      // (read start = hash % (genomeLen/100) aligned) so k-mers repeat
      // and the partial aggregation has real work. The generator is
      // checkpointed: projection collapse would otherwise inline the
      // 100-term concat into every k-mer row (80x recompute per read).
      "kx_kmer_scale" -> (() => {
        val bases = array(lit("A"), lit("C"), lit("G"), lit("T"))
        val nReads = nDocs * 4
        val genomePos = pmod(hash(col("id")), lit(nReads / 2)) * 100
        val reads = spark.range(nReads).select(
          concat_ws("", (0 until 100).map(i =>
            element_at(bases,
              (pmod(hash(genomePos + i), lit(4)) + 1).cast("int"))): _*)
            .as("sequence"))
          .localCheckpoint()
        val n = graft.operators.Kmers.spectrum(
          graft.operators.Kmers.kmerCounts(reads, "sequence", k = 21))
          .count()
        reads.unpersist(blocking = false)
        n
      }),
      "hx_haplo_scale" -> (() => {
        val gts = spark.range(nDocs).select(col("id").as("snum"))
          .crossJoin(spark.range(200).select(col("id").as("vnum")))
          .select(
            concat(lit("T"), col("vnum") % 100).as("transcript"),
            concat(lit("S"), col("snum")).as("sample"),
            concat(lit("v"), col("vnum")).as("varId"),
            (col("vnum") * 31 % 100000).as("pos"),
            lit("A").as("ref"),
            when(pmod(hash(col("snum"), col("vnum")), lit(13)) === 0, "1|0")
              .when(pmod(hash(col("snum"), col("vnum")), lit(13)) === 1,
                "0|1")
              .otherwise("0|0").as("gt"))
          // materialized like pepx/embx: un-checkpointed, the entry
          // timed the crossJoin synthesizer's codegen along with the
          // haplotype plan and swung 0.93-2.45s across rounds on a
          // byte-identical plan (r11 verdict item 5)
          .localCheckpoint()
        val n = graft.operators.Haplotypes.haplotypes(gts).count()
        gts.unpersist(blocking = false)
        n
      }))
    val synthBodies: Seq[(String, () => Unit)] =
      synth.filter(kv => wanted(kv._1)).toSeq
        .map { case (name, fn) => name -> (() => { fn(); () }) }
    val firstPass = runs0 ++ synthBodies.map { case (name, body) =>
      name -> timed(body)
    }
    // Re-adjudication pass (r11 verdict item 1): a query with NO clean
    // run — every timed window saw > hotExtCores of external CPU — gets
    // re-measured after the sweep, once an idle probe shows the box has
    // quieted. This is what the judge did by hand for r11 (ten suspects
    // re-run on a quiet box, every one returned to committed levels);
    // doing it in-band means the closing artifact either carries clean
    // mins or flags the specific queries it could not clean.
    def isClean(run: (Double, Double, Double, Long, Long)) =
      (run._2 < 0 || run._2 <= hotExtCores) &&
        (run._3 < 0 || run._3 <= hotIowaitCores)
    val bodyMap = (gateBodies ++ synthBodies).toMap
    val rerunWaits = sys.env
      .getOrElse("SPARK_GRAFT_BENCH_RERUN_WAITS", "3").toInt
    val byName = scala.collection.mutable.LinkedHashMap(firstPass: _*)
    val needRerun = byName.collect {
      case (k, (v, false)) if v.nonEmpty && !v.exists(isClean) => k
    }.toSeq
    needRerun.foreach { q =>
      var waits = 0
      while (externalCoresIdle(3000) > hotExtCores && waits < rerunWaits) {
        System.err.println(s"[bench] $q hot in all runs; box still busy," +
          s" sleeping 30s (${waits + 1}/$rerunWaits)")
        Thread.sleep(30000)
        waits += 1
      }
      System.err.println(s"[bench] re-adjudicating $q")
      val (extra, f2) = timed(bodyMap(q))
      val (prev, pf) = byName(q)
      byName(q) = (prev ++ extra, pf || f2)
    }
    // Committed-min cross-check (r12 verdict item 1b): the per-run load
    // columns only catch contention they can SEE (external busy CPU,
    // iowait); the r12 driver bench slipped past both. This keys on the
    // SYMPTOM instead: any query whose min exceeds minX x its value in
    // the committed bench.json (read before this run overwrites it)
    // gets the same wait-for-idle + re-measure treatment; one whose min
    // STAYS inflated lands in suspect_queries (and hot_queries, so
    // load_contaminated flips) — in-band, whatever the mechanism.
    def minOf(v: Seq[(Double, Double, Double, Long, Long)]): Double = {
      val clean = v.filter(isClean)
      (if (clean.nonEmpty) clean else v).map(_._1).min
    }
    val baselinePath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "bench.json")
    val minX = sys.env.getOrElse("SPARK_GRAFT_BENCH_MIN_X", "2.0").toDouble
    // absolute guard: sub-second entries double on scheduler jitter alone
    val minAbs =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MIN_ABS", "0.3").toDouble
    val committedMin: Map[String, Double] =
      try {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(baselinePath)))
        val q = root.get("queries")
        if (q == null) Map.empty
        else {
          val it = q.fieldNames()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) {
            val k = it.next(); b += k -> q.get(k).asDouble()
          }
          b.result()
        }
      } catch { case _: Throwable => Map.empty }
    def inflated(q: String): Boolean = {
      val (v, f) = byName(q)
      !f && v.nonEmpty && committedMin.get(q).exists(c =>
        minOf(v) > c * minX && minOf(v) - c > minAbs)
    }
    val suspects0 = byName.keys.filter(inflated).toSeq
    suspects0.foreach { q =>
      var waits = 0
      while (externalCoresIdle(3000) > hotExtCores && waits < rerunWaits) {
        System.err.println(s"[bench] $q min inflated vs committed; box " +
          s"still busy, sleeping 30s (${waits + 1}/$rerunWaits)")
        Thread.sleep(30000)
        waits += 1
      }
      System.err.println(f"[bench] $q min ${minOf(byName(q)._1)}%.2fs > " +
        f"${minX}x committed ${committedMin(q)}%.2fs; re-measuring")
      val (extra, f2) = timed(bodyMap(q))
      val (prev, pf) = byName(q)
      byName(q) = (prev ++ extra, pf || f2)
    }
    val suspectQueries = suspects0.filter(inflated)
    val allRuns = byName.toSeq
    val loadAfter = loadAvg()
    def r4(d: Double) = math.rint(d * 10000) / 10000
    val good = allRuns.collect { case (k, (v, false)) if v.nonEmpty => k -> v }
    val failedNames = allRuns.collect { case (k, (_, true)) => k }
    // headline min per query prefers CLEAN runs; a query whose best
    // number still comes from a hot window lands in hot_queries so a
    // reader knows that min is an upper bound, not a measurement
    val results = good.map { case (k, v) => k -> r4(minOf(v)) }
    val hotQueries = (good.collect {
      case (k, v) if !v.exists(isClean) => k
    } ++ suspectQueries).distinct
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // every individual run time, best-first headline above: lets the
    // judge separate plan regressions (min moved) from host noise
    // (min stable, spread wide)
    val qr = good.map { case (k, v) =>
      s"\"" + k + "\":[" + v.map(e => r4(e._1)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // external cores seen during each run's window, aligned with
    // query_runs: the per-query load column the r11 verdict asked for
    val qext = good.map { case (k, v) =>
      s"\"" + k + "\":[" + v.map(e => r4(e._2)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // system-wide iowait cores during each run's window (not
    // self-subtractable, hence its own column + threshold): the r12
    // contamination channel, now recorded per run
    val qiow = good.map { case (k, v) =>
      s"\"" + k + "\":[" + v.map(e => r4(e._3)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // completed-stage count and shuffle-write bytes per run, aligned
    // with query_runs: the mechanical "same plan?" signal (r16 verdict
    // item 6) — bytes/stages moved round-over-round = plan changed;
    // flat counters + a moved wall = host noise, exclude don't chase
    val qstg = good.map { case (k, v) =>
      s"\"" + k + "\":[" + v.map(_._4).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val qshf = good.map { case (k, v) =>
      s"\"" + k + "\":[" + v.map(_._5).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val fq = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val hq = hotQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sq = suspectQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = r4(results.map(_._2).sum + prep)
    // In-band contamination marker (r8's bench artifact was silently
    // load-contaminated and got read as a regression signal): busy box
    // BEFORE the run, or any query whose every timed window was hot
    // even after re-adjudication — either way round-over-round
    // comparison should exclude or re-run the flagged entries.
    // load_after is excluded from the check — it measures the bench's
    // own local[32] burst, not contention.
    val contaminated = loadBefore > 4.0 || hotQueries.nonEmpty
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","prep_sec":${r4(prep)},"runs_per_query":$runs,"load_before":$loadBefore,"load_after":$loadAfter,"load_contaminated":$contaminated,"hot_queries":$hq,"suspect_queries":$sq,"failed_queries":$fq,"queries":$qs,"query_runs":$qr,"query_ext_cores":$qext,"query_iowait":$qiow,"query_stages":$qstg,"query_shuffle_bytes":$qshf,"sf":"$sfDir"}"""
    // stdout can interleave with sbt/spark logging; also drop the JSON in a
    // file so the driver can machine-read it reliably
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    // The driver keeps only the LAST ~2000 chars of stdout and sbt appends
    // its own "[success] Total time ..." line (~80 chars) after ours — so a
    // full 160-query JSON line (several KB) can never land intact in the
    // captured tail; that is why every BENCH_r*.json through r10 has
    // "parsed": null. Print a size-budgeted line instead: headline numbers
    // plus as many of the SLOWEST queries as fit in ~1500 chars (slowest
    // first — the entries that carry the perf signal), with the complete
    // per-query detail in bench.json (committed) and queries_omitted
    // saying how many were cut.
    // r18: with run/outputStrategy := StdoutOutput (build.sbt) the line
    // reaches the driver verbatim (no "[info] " prefix); the budget
    // leaves headroom for sbt's "[success]" trailer inside the ~2000-char
    // stdout tail the driver keeps.
    val budget = 1100
    val head =
      s"""{"metric":"total","value":$total,"unit":"sec","prep_sec":${r4(
        prep)},"runs_per_query":$runs,"load_before":$loadBefore,"load_contaminated":$contaminated,"hot_queries":$hq,"suspect_queries":$sq,"n_queries":${results.size},"failed_queries":$fq,"detail":"bench.json","sf":"$sfDir""""
    val slowFirst = results.toSeq.sortBy(-_._2)
    val picked = new StringBuilder
    var used = head.length + 40 // room for the wrapper keys + close
    var omitted = 0
    slowFirst.foreach { case (k, v) =>
      val ent = (if (picked.nonEmpty) "," else "") + "\"" + k + "\":" + v
      if (used + ent.length <= budget) { picked ++= ent; used += ent.length }
      else omitted += 1
    }
    val compact =
      head + s""","queries_omitted":$omitted,"queries":{$picked}}"""
    graft.queries.Documents.releaseCaches()
    // The JSON line must be the LAST stdout line (r8/r9 drove the driver's
    // parser to "parsed": null because checkpoint-unpersist WARNs landed
    // after it): silence logging, finish Spark shutdown, THEN print.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(compact)
  }
}
