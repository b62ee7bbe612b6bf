package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.GenomicFixtures
import graft.operators.{FastaHeaders, Haplotypes, Multimodal,
  PeptideAnnotate, SequenceDedup, StopSplit, TableOps}
import graft.sources.Gtf

/** Second genomic batch: FASTA post-processing, peptide matching, table
  * utilities, haplotype extraction and multimodal plumbing — all over the
  * GenomicFixtures inputs with independent DuckDB SQL oracles.
  */
object Genomic2 {

  private val fx = GenomicFixtures.dir
  private def pq(name: String) = s"read_parquet('$fx/$name.parquet/*.parquet')"
  private def prep(s: SparkSession): Unit = GenomicFixtures.ensure(s)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "f2_seq_dedup" -> ((s, _) => {
      prep(s)
      SequenceDedup.dedup(s.read.parquet(s"$fx/proteins.parquet"))
    }),

    "f3_stop_split" -> ((s, _) => {
      prep(s)
      StopSplit.split(s.read.parquet(s"$fx/proteins.parquet"))
    }),

    "p1_peptide_match" -> ((s, _) => {
      prep(s)
      PeptideAnnotate.matchPeptides(
        s.read.parquet(s"$fx/peptides.parquet"),
        s.read.parquet(s"$fx/proteins.parquet"), k = 4)
        .withColumn("pos", col("pos").cast("long"))
    }),

    "u1_merge_tables" -> ((s, _) => {
      prep(s)
      TableOps.unionTables(Seq(
        s.read.parquet(s"$fx/merge_a.parquet"),
        s.read.parquet(s"$fx/merge_b.parquet")))
    }),

    "u2_csv_vcf" -> ((s, _) => {
      prep(s)
      TableOps.csvToVcf(
        s.read.option("header", "true")
          .csv(s"${GenomicFixtures.rawDir}/variants.csv"))
    }),

    "h1_haplotypes" -> ((s, _) => {
      prep(s)
      Haplotypes.haplotypes(s.read.parquet(s"$fx/gts_long.parquet"))
    }),

    "h6_sample_names" -> ((s, _) => {
      prep(s)
      // haplo_extract_sample_names.py: the (id, samples) sideband split
      // out of the haplotype table; the other half is the same frame
      // minus the column (both pure projections)
      TableOps.extractSampleNames(
        Haplotypes.haplotypes(s.read.parquet(s"$fx/gts_long.parquet")))._2
    }),

    "h2_haplo_freq" -> ((s, _) => {
      prep(s)
      val pops = s.read.parquet(s"$fx/samples_meta.parquet")
        .select(col("sample"), col("population"))
      Haplotypes.populationFrequencies(
        s.read.parquet(s"$fx/gts_long.parquet"), pops)
    }),

    "h2b_superpop_freq" -> ((s, _) => {
      prep(s)
      // same rollup operator, superpopulation grouping column
      val pops = s.read.parquet(s"$fx/samples_meta.parquet")
        .select(col("sample"), col("superpopulation").as("population"))
      Haplotypes.populationFrequencies(
        s.read.parquet(s"$fx/gts_long.parquet"), pops)
        .withColumnRenamed("population", "superpopulation")
        .withColumnRenamed("pop_count", "superpop_count")
        .withColumnRenamed("pop_frequency", "superpop_frequency")
    }),

    "h3_conflicts" -> ((s, _) => {
      prep(s)
      Haplotypes.perCopy(s.read.parquet(s"$fx/gts_long.parquet"))
        .where(col("conflict"))
        .select("transcript", "sample", "phase")
    }),

    "f4_format_headers" -> ((s, _) => {
      prep(s)
      FastaHeaders.formatHeaders(s.read.parquet(s"$fx/proteins.parquet"),
        customTag = "_x")
    }),

    "f5_simplify_headers" -> ((s, _) => {
      prep(s)
      import s.implicits._
      val haploMap = Seq(("haplo_a", "T1"), ("haplo_b", "T1"),
        ("haplo_c", "T2")).toDF("haplo", "transcript")
      val geneMap = Gtf.read(s, GenomicFixtures.gtfPath)
        .where(col("feature") === "transcript")
        .select(Gtf.attr(col("attributes"), "transcript_id")
          .as("transcript"),
          Gtf.attr(col("attributes"), "gene_id").as("gene"))
      haploMap.write.mode("overwrite")
        .parquet(s"$fx/simplify_haplo_map.parquet")
      geneMap.write.mode("overwrite")
        .parquet(s"$fx/gene_map.parquet")
      FastaHeaders.simplifyHeaders(s.read.parquet(s"$fx/postproc.parquet"),
        haploMap, geneMap, transcriptPrefix = "T")
    }),

    "f6_remove_utr" -> ((s, _) => {
      prep(s)
      FastaHeaders.removeUtrEntries(s.read.parquet(s"$fx/postproc.parquet"))
    }),

    "f8_fasta_write" -> ((s, _) => {
      prep(s)
      // writer round trip: format headers (the reference always formats
      // before writing — an empty tag is not round-trippable), write as
      // single-line FASTA, read back through the splittable reader. The
      // oracle recomputes the formatted table directly, so any grammar
      // drift in the writer (or reader) breaks the hash.
      import graft.sources.Fasta
      val out = s"$fx/fasta_written"
      Fasta.write(FastaHeaders.formatHeaders(
        s.read.parquet(s"$fx/proteins.parquet")), out)
      Fasta.read(s, out)
    }),

    "f7_fix_headers_enst" -> ((s, _) => {
      prep(s)
      FastaHeaders.formatHeaders(s.read.parquet(s"$fx/ensref.parquet"),
        customTag = "", useEnst = true)
    }),

    "r1_reference_enst" -> ((s, _) => {
      prep(s)
      TableOps.referenceEnst(
        s.read.parquet(s"$fx/ensref.parquet"),
        s.read.parquet(s"$fx/ensref_tr.parquet"),
        onlyMane = true)
    }),

    "m1_multimodal" -> ((s, _) => {
      prep(s)
      // binary-payload plumbing: metadata + per-chunk frame sampling over
      // the chunked (video/audio analog) payload table
      Multimodal.sampleFrames(
        Multimodal.describe(s.read.parquet(s"$fx/media.parquet")),
        every = 2)
        .select("media_id", "kind", "byte_len", "content_hash",
          "frame_idx", "frame_hash")
    }),

    "m2_media_resize" -> ((s, _) => {
      prep(s)
      // REAL decode (javax.imageio) + bilinear resample over committed
      // PNGs; the oracle re-derives width/height/channels from the raw
      // IHDR header bytes and replicates the aspect arithmetic, proving
      // the codec path decoded the real dimensions. resized_mean (pixel
      // evidence) is asserted in MediaSpec, not hashed here — DuckDB
      // cannot inflate IDAT.
      Multimodal.resizeImage(
        Multimodal.decodeImage(s.read.parquet(s"$fx/images.parquet")),
        maxSide = 4)
        .select("media_id", "width", "height", "channels", "resized_w",
          "resized_h")
    }),

    "m4_audio_features" -> ((s, _) => {
      prep(s)
      // REAL WAV decode (RIFF chunk walk + PCM16 samples): header fields
      // plus RMS/peak amplitude evidence; the oracle re-derives ALL of it
      // from the raw bytes in SQL (WAV is uncompressed, unlike PNG's
      // IDAT), so this is a full-value gate, not a snapshot. Undecodable
      // rows are dropped here; NULL-on-poison is asserted in MediaSpec.
      Multimodal.decodeAudio(s.read.parquet(s"$fx/audio.parquet"))
        .where(col("sample_rate").isNotNull)
        .select("media_id", "sample_rate", "channels", "n_frames",
          "rms", "peak")
    }),

    "m7_audio_frames" -> ((s, _) => {
      prep(s)
      // frame-level energy + zero-crossing rate over the REAL PCM16
      // samples (8 channel-averaged samples per frame): like m4, a
      // FULL-value gate — the oracle re-derives every frame's RMS/ZCR
      // from the raw bytes in SQL. Poison rows emit nothing here;
      // NULL-on-poison is asserted in MediaSpec.
      Multimodal.audioFrames(s.read.parquet(s"$fx/audio.parquet"),
        frameSamples = 8)
    }),

    "m12_audio_vad" -> ((s, _) => {
      prep(s)
      // energy-gated activity segmentation over the real PCM frames:
      // rms >= 500 frames merge into maximal segments — wav_noise's
      // loud first half segments apart from its near-silent tail,
      // wav_stereo stays entirely below the gate
      Multimodal.vadSegments(s.read.parquet(s"$fx/audio.parquet"),
        rmsThreshold = 500.0)
    }),

    "m8_audio_dedup" -> ((s, _) => {
      prep(s)
      // perceptual audio dedup (the audio sibling of m6's image dHash):
      // frame-energy vectors are gain-invariant under cosine, so the
      // double-gain copy pairs with the original at cosine 1 while the
      // unrelated signal stays out; pairs via s7's shuffle-free exact
      // range search run self-vs-self (at corpus scale, swap in the
      // s11 capped-LSH candidate path)
      val vecs = Multimodal.audioVectors(
        s.read.parquet(s"$fx/audio.parquet"))
      graft.operators.Similarity.rangeCosine(
        vecs.select(col("media_id").as("id"), col("vec").as("qvec")),
        vecs.select(col("media_id").as("neighbor"),
          col("vec").as("cvec")),
        threshold = 0.999, qId = "id", cId = "neighbor")
        .where(col("id") < col("neighbor"))
    }),

    "m5_video_meta" -> ((s, _) => {
      prep(s)
      // REAL MP4/ISO-BMFF container walk (the video mirror of m4's RIFF
      // walk): ftyp brand, version-aware mvhd timescale/duration, trak
      // count — all re-derived from the raw bytes by the SQL oracle.
      // Undecodable rows drop here; NULL-on-poison is in MediaSpec.
      Multimodal.decodeVideo(s.read.parquet(s"$fx/video.parquet"))
        .where(col("timescale").isNotNull)
        .select("media_id", "major_brand", "timescale", "duration",
          "n_tracks", "duration_sec")
    }),

    "m10_srt_read" -> ((s, _) => {
      // SubRip caption source — the transcript half of a video corpus
      // (m1/m5 cover the container): blank-line-separated cues keyed on
      // the global line ordinal (the FASTQ positional-identity
      // argument), times parsed to milliseconds with digit-guarded
      // casts; oracle re-parses the raw file
      graft.sources.Srt.read(s,
        s"${GenomicFixtures.rawDir}/captions.srt")
    }),

    "m9_jpeg_meta" -> ((s, _) => {
      prep(s)
      // REAL JPEG frame-header walk (FF-marker grammar): dimensions,
      // precision, component count, baseline-vs-progressive — the
      // still-image container mirror of m5's box walk; the SQL oracle
      // re-walks every marker segment from the raw bytes. Undecodable
      // rows drop here; NULL-on-poison is in MediaSpec.
      Multimodal.decodeJpeg(s.read.parquet(s"$fx/jpeg.parquet"))
        .where(col("height").isNotNull)
        .select("media_id", "height", "width", "precision",
          "n_components", "progressive", "mpx")
    }),

    "m11_exif_meta" -> ((s, _) => {
      prep(s)
      // REAL Exif APP1/TIFF parse: byte order, Orientation, Make,
      // DateTime — provenance triage for an image corpus, no pixel
      // decode; the SQL oracle re-walks the markers AND the TIFF IFD
      // from the raw bytes under both byte orders. exif_plain (no
      // APP1) and exif_trunc (TIFF ends before IFD0) stay as null rows.
      Multimodal.decodeExif(s.read.parquet(s"$fx/exif.parquet"))
        .select("media_id", "byte_order", "orientation", "make",
          "datetime")
    }),

    "m13_id3_meta" -> ((s, _) => {
      prep(s)
      // REAL ID3v2 tag walk: version, syncsafe tag size, frame count,
      // TIT2/TPE1/TALB text frames — the MP3 provenance layer next to
      // m4's RIFF walk; the SQL oracle re-walks header + every frame
      // from the raw bytes under both size grammars (v2.3 u32be,
      // v2.4 syncsafe). Tag-less and hostile-length rows drop here;
      // NULL-on-poison is in MediaSpec.
      Multimodal.decodeId3(s.read.parquet(s"$fx/mp3.parquet"))
        .where(col("version").isNotNull)
        .select("media_id", "version", "tag_size", "n_frames",
          "title", "artist", "album")
    }),

    "m3_media_features" -> ((s, _) => {
      prep(s)
      // 2x2-grid mean-luminance embedding from REAL pixels; snapshot
      // oracle (fixtures/expected), hand-verified per-pixel in MediaSpec
      Multimodal.imageFeatures(s.read.parquet(s"$fx/images.parquet"),
        gridX = 2, gridY = 2)
        .select(col("media_id"),
          posexplode(col("features")).as(Seq("dim_idx", "feature")))
        .select(col("media_id"), col("dim_idx").cast("long").as("dim_idx"),
          round(col("feature"), 6).as("feature"))
        .orderBy("media_id", "dim_idx")
    }),

    "m6_phash_dedup" -> ((s, _) => {
      prep(s)
      // perceptual image dedup from REAL pixels: 64-bit dHash (9x8-grid
      // gradient signs), band-blocked pair join, first-shared-band
      // ownership (no dedup shuffle). Snapshot oracle — SQL has no
      // DEFLATE inflater — with the semantics hand-pinned in MediaSpec:
      // scale invariance (16x16 vs 32x32 of the same field), small
      // Hamming radius for a local edit, unrelated images excluded.
      Multimodal.phashPairs(
        s.read.parquet(s"$fx/images_phash.parquet"), "media_id")
        .orderBy("id_a", "id_b")
    })
  )

  // ---- oracles ----------------------------------------------------------

  private val tagRankSql =
    """CASE tag WHEN 'generic_cont' THEN 0 WHEN 'generic_sp' THEN 1
      |  WHEN 'generic_ensref' THEN 2 WHEN 'generic_ensvar' THEN 3
      |  WHEN 'generic_var' THEN 4 WHEN 'generic_manual' THEN 5
      |  WHEN 'generic_enshap' THEN 6 WHEN 'generic_decoyvar' THEN 7
      |  ELSE 8 END""".stripMargin

  // phased copies with ploidy (male X non-PAR = copy 1 only)
  private val phasedSql =
    s"""SELECT g.*, p.phase,
       |  CASE WHEN p.phase = 1 THEN starts_with(g.gt, '1|')
       |       ELSE ends_with(g.gt, '|1') END AS has_alt
       |FROM ${pq("gts_long")} g,
       |  LATERAL (SELECT unnest(CASE WHEN g.autosomal OR g.sex != 'male'
       |    THEN [1, 2] ELSE [1] END) AS phase) p""".stripMargin

  private lazy val h1Sql =
    s"""WITH ph AS ($phasedSql),
         |universe AS (SELECT DISTINCT transcript, sample, phase FROM ph),
         |alts AS (
         |  SELECT transcript, sample, phase, varId, pos,
         |    length(ref) AS reflen
         |  FROM ph WHERE has_alt),
         |sigs AS (
         |  SELECT transcript, sample, phase,
         |    string_agg(varId, ';' ORDER BY pos, varId) AS signature
         |  FROM alts GROUP BY 1, 2, 3),
         |conf AS (
         |  SELECT DISTINCT l.transcript, l.sample, l.phase
         |  FROM alts l JOIN alts r
         |    ON l.transcript = r.transcript AND l.sample = r.sample
         |    AND l.phase = r.phase AND l.varId != r.varId
         |    AND l.pos <= r.pos AND r.pos <= l.pos + l.reflen),
         |percopy AS (
         |  SELECT u.transcript, u.sample, u.phase,
         |    coalesce(s.signature, 'REF') AS signature,
         |    (c.transcript IS NOT NULL) AS conflict
         |  FROM universe u
         |  LEFT JOIN sigs s ON u.transcript = s.transcript
         |    AND u.sample = s.sample AND u.phase = s.phase
         |  LEFT JOIN conf c ON u.transcript = c.transcript
         |    AND u.sample = c.sample AND u.phase = c.phase),
         |denom AS (
         |  SELECT transcript, count(*) AS total_copies
         |  FROM universe GROUP BY 1)
         |SELECT p.transcript, p.signature,
         |  count(*) AS hap_count,
         |  string_agg(p.sample || ':' || p.phase, ';'
         |    ORDER BY p.sample, p.phase) AS samples,
         |  round(count(*) / CAST(d.total_copies AS DOUBLE), 6) AS frequency
         |FROM percopy p JOIN denom d ON p.transcript = d.transcript
         |WHERE NOT p.conflict
         |GROUP BY p.transcript, p.signature, d.total_copies""".stripMargin

  /** m5's oracle: a REAL ISO-BMFF box walk in SQL over the hex bytes —
    * every size/type is read from the payload, nothing is assumed about
    * the layout; only the walk DEPTH is bounded (4 top-level boxes, 6
    * moov children — covers the canonical fixtures; the Spark
    * expression's walk is unbounded). Same 1-based byte-list domain as
    * the m4 WAV oracle, big-endian instead of little.
    */
  private val jpegOracleSql: String = {
    // SOF markers: C0-CF minus the non-frame C4 (DHT), C8 (JPG), CC (DAC)
    def isSof(o: String) =
      s"(b[($o)+1] BETWEEN 192 AND 207 AND b[($o)+1] NOT IN (196, 200, 204))"
    def segLen(o: String) = s"(b[($o)+2]*256 + b[($o)+3])"
    // marker-walk steps, each its own MATERIALIZED CTE (the DuckDB
    // lateral-alias blowup documented at mp4OracleSql): advance past a
    // non-SOF, non-SOS segment to the next FF marker
    val steps = (2 to 7).map { k =>
      val p = s"o${k - 1}"
      s"""w$k AS MATERIALIZED (
         |  SELECT *,
         |    CASE WHEN $p IS NOT NULL AND b[$p] = 255
         |        AND NOT ${isSof(p)} AND b[$p+1] <> 218
         |        AND ${segLen(p)} >= 2
         |        AND $p + 2 + ${segLen(p)} + 3 <= n + 1
         |      THEN $p + 2 + ${segLen(p)} END AS o$k
         |  FROM w${k - 1}),""".stripMargin
    }.mkString("\n")
    val sofCases = (1 to 7).map { k =>
      s"CASE WHEN o$k IS NOT NULL AND b[o$k] = 255 AND ${isSof(s"o$k")} " +
        s"THEN o$k END"
    }.mkString(",\n      ")
    s"""WITH d AS (
       |  SELECT media_id, hex(payload) AS h, octet_length(payload) AS n
       |  FROM ${pq("jpeg")}),
       |hb AS MATERIALIZED (
       |  SELECT media_id, n,
       |    list_transform(range(0, n), i ->
       |      (strpos('0123456789ABCDEF', substr(h, 2*i + 1, 1)) - 1)
       |        * 16 +
       |      strpos('0123456789ABCDEF', substr(h, 2*i + 2, 1)) - 1) AS b
       |  FROM d WHERE n >= 4),
       |w1 AS MATERIALIZED (
       |  SELECT media_id, n, b, 3 AS o1 FROM hb
       |  WHERE b[1] = 255 AND b[2] = 216),
       |$steps
       |found AS MATERIALIZED (
       |  SELECT media_id, n, b, COALESCE($sofCases) AS so
       |  FROM w7)
       |SELECT media_id,
       |  CAST(b[so+5]*256 + b[so+6] AS BIGINT) AS height,
       |  CAST(b[so+7]*256 + b[so+8] AS BIGINT) AS width,
       |  CAST(b[so+4] AS BIGINT) AS precision,
       |  CAST(b[so+9] AS BIGINT) AS n_components,
       |  b[so+1] = 194 AS progressive,
       |  round((b[so+5]*256 + b[so+6]) * (b[so+7]*256 + b[so+8])
       |    / 1000000.0, 6) AS mpx
       |FROM found
       |WHERE so IS NOT NULL AND ${segLen("so")} >= 8
       |  AND so + 9 <= n""".stripMargin
  }

  private val exifOracleSql: String = {
    // endian-conditional reads: `le` is a real column by the time these
    // fire, so each helper is a single CASE over the byte list
    def u16e(x: String) =
      s"(CASE WHEN le THEN b[$x] + 256*b[($x)+1] " +
        s"ELSE 256*b[$x] + b[($x)+1] END)"
    def u32e(x: String) =
      s"(CASE WHEN le THEN b[$x] + 256*b[($x)+1] + 65536*b[($x)+2] " +
        s"+ 16777216*b[($x)+3] ELSE 16777216*b[$x] + 65536*b[($x)+1] " +
        s"+ 256*b[($x)+2] + b[($x)+3] END)"
    def segLen(o: String) = s"(b[($o)+2]*256 + b[($o)+3])"
    def isExif(o: String) =
      s"(b[$o] = 255 AND b[($o)+1] = 225 AND ${segLen(o)} >= 16 AND " +
        s"b[($o)+4] = 69 AND b[($o)+5] = 120 AND b[($o)+6] = 105 AND " +
        s"b[($o)+7] = 102 AND b[($o)+8] = 0 AND b[($o)+9] = 0)"
    // marker-walk steps, each its own MATERIALIZED CTE (the DuckDB
    // lateral-alias blowup documented at mp4OracleSql)
    val steps = (2 to 3).map { k =>
      val p = s"o${k - 1}"
      s"""w$k AS MATERIALIZED (
         |  SELECT *,
         |    CASE WHEN $p IS NOT NULL AND b[$p] = 255
         |        AND b[$p+1] NOT IN (216, 217) AND NOT ${isExif(p)}
         |        AND ${segLen(p)} >= 2
         |        AND $p + 2 + ${segLen(p)} + 3 <= n + 1
         |      THEN $p + 2 + ${segLen(p)} END AS o$k
         |  FROM w${k - 1}),""".stripMargin
    }.mkString("\n")
    val eoCases = (1 to 3).map { k =>
      s"CASE WHEN o$k IS NOT NULL AND ${isExif(s"o$k")} THEN o$k END"
    }.mkString(",\n      ")
    s"""WITH d AS (
       |  SELECT media_id, hex(payload) AS h, octet_length(payload) AS n
       |  FROM ${pq("exif")}),
       |hb AS MATERIALIZED (
       |  SELECT media_id, n,
       |    list_transform(range(0, n), i ->
       |      (strpos('0123456789ABCDEF', substr(h, 2*i + 1, 1)) - 1)
       |        * 16 +
       |      strpos('0123456789ABCDEF', substr(h, 2*i + 2, 1)) - 1) AS b
       |  FROM d WHERE n >= 4),
       |w1 AS MATERIALIZED (
       |  SELECT media_id, n, b, 3 AS o1 FROM hb
       |  WHERE b[1] = 255 AND b[2] = 216),
       |$steps
       |f1 AS MATERIALIZED (
       |  SELECT media_id, n, b, COALESCE($eoCases) AS eo FROM w3),
       |f2 AS MATERIALIZED (
       |  SELECT *, eo + 10 AS tb, eo + 2 + ${segLen("eo")} AS ae
       |  FROM f1),
       |f3 AS MATERIALIZED (
       |  SELECT *,
       |    CASE WHEN tb IS NOT NULL AND tb + 8 <= ae
       |      AND b[tb] = b[tb+1] AND b[tb] IN (73, 77)
       |      THEN b[tb] = 73 END AS le
       |  FROM f2),
       |f4 AS MATERIALIZED (
       |  SELECT *,
       |    CASE WHEN le IS NOT NULL AND ${u16e("tb+2")} = 42
       |      THEN tb + ${u32e("tb+4")} END AS ifd
       |  FROM f3),
       |f5 AS MATERIALIZED (
       |  SELECT *,
       |    CASE WHEN ifd IS NOT NULL AND ifd + 2 <= ae
       |      THEN ${u16e("ifd")} END AS ne
       |  FROM f4),
       |f6 AS MATERIALIZED (
       |  SELECT *,
       |    CASE WHEN ne IS NOT NULL AND ifd + 2 + 12*ne <= ae THEN
       |      [{'tag': ${u16e("ifd + 2 + 12*k")},
       |        'typ': ${u16e("ifd + 2 + 12*k + 2")},
       |        'cnt': ${u32e("ifd + 2 + 12*k + 4")},
       |        'e': ifd + 2 + 12*k} for k in range(0, ne)]
       |    END AS ents
       |  FROM f5),
       |f7 AS MATERIALIZED (
       |  SELECT *,
       |    list_filter(ents, x -> x.tag = 274 AND x.typ = 3
       |      AND x.cnt = 1) AS oe,
       |    list_filter(ents, x -> x.tag = 271 AND x.typ = 2) AS me,
       |    list_filter(ents, x -> x.tag = 306 AND x.typ = 2) AS de
       |  FROM f6),
       |f8 AS MATERIALIZED (
       |  SELECT *,
       |    CASE WHEN len(oe) > 0 THEN ${u16e("oe[1].e + 8")} END
       |      AS orient,
       |    CASE WHEN len(me) > 0 THEN (CASE WHEN me[1].cnt <= 4
       |      THEN me[1].e + 8 ELSE tb + ${u32e("me[1].e + 8")} END) END
       |      AS ms,
       |    CASE WHEN len(me) > 0 THEN me[1].cnt END AS mc,
       |    CASE WHEN len(de) > 0 THEN (CASE WHEN de[1].cnt <= 4
       |      THEN de[1].e + 8 ELSE tb + ${u32e("de[1].e + 8")} END) END
       |      AS ds,
       |    CASE WHEN len(de) > 0 THEN de[1].cnt END AS dc
       |  FROM f7)
       |SELECT media_id,
       |  CASE WHEN ents IS NOT NULL THEN
       |    (CASE WHEN le THEN 'II' ELSE 'MM' END) END AS byte_order,
       |  CAST(orient AS BIGINT) AS orientation,
       |  CASE WHEN ms IS NOT NULL AND mc >= 1 AND ms + mc <= ae THEN
       |    array_to_string(list_transform(range(0, mc - 1),
       |      j -> chr(CAST(b[ms + j] AS INT))), '') END AS make,
       |  CASE WHEN ds IS NOT NULL AND dc >= 1 AND ds + dc <= ae THEN
       |    array_to_string(list_transform(range(0, dc - 1),
       |      j -> chr(CAST(b[ds + j] AS INT))), '') END AS datetime
       |FROM f8""".stripMargin
  }

  /** m13's oracle: the ID3v2 header + frame walk in SQL over the byte
    * list — three MATERIALIZED CTEs per frame step (size, validity/next
    * offset, text extraction; the DuckDB lateral-alias blowup documented
    * at mp4OracleSql rules out same-SELECT aliases), six steps covering
    * the fixtures with the walk-termination check asserting no seventh
    * frame exists. Positions are 1-based; the tag body is [11, tend].
    */
  private val id3OracleSql: String = {
    def steps = (1 to 6).map { k =>
      val o = s"o$k"
      val live = s"($o IS NOT NULL AND $o <= tend AND b[$o] <> 0)"
      val idok = (0 to 3).map(j =>
        s"((b[$o+$j] BETWEEN 65 AND 90) OR (b[$o+$j] BETWEEN 48 AND 57))")
        .mkString("\n       |      AND ")
      val fits = s"(fsz$k IS NOT NULL AND $o + 9 + fsz$k <= tend)"
      def tcol(name: String, idBytes: Seq[Int]) = {
        val m = idBytes.zipWithIndex.map { case (v, j) =>
          s"b[$o+$j] = $v"
        }.mkString(" AND ")
        // trailing-NUL strip: last non-zero byte position in the text
        // body [o+11, o+10+fsz] — NULL (→ empty text) when all zeros
        val te = s"""coalesce(list_max(list_filter(
           |        range($o + 11, $o + 11 + fsz$k - 1),
           |        i -> b[i] <> 0)), $o + 10)""".stripMargin
        s"""CASE WHEN live$k AND $fits AND $m AND fsz$k >= 1
           |      AND b[$o+10] IN (0, 3)
           |      THEN CASE WHEN b[$o+10] = 0
           |        THEN array_to_string(list_transform(
           |          range($o + 11, $te + 1),
           |          i -> chr(CAST(b[i] AS INT))), '')
           |        ELSE decode(unhex(substr(h, 2 * ($o + 11) - 1,
           |          2 * ($te - ($o + 11) + 1))))
           |      END END AS $name$k"""
          .stripMargin
      }
      s"""sa$k AS MATERIALIZED (
         |  SELECT *,
         |    CASE WHEN $live AND $idok
         |      AND $o + 9 <= tend THEN
         |      CASE WHEN ver = 4 THEN
         |        CASE WHEN b[$o+4] < 128 AND b[$o+5] < 128
         |            AND b[$o+6] < 128 AND b[$o+7] < 128
         |          THEN b[$o+4]*2097152 + b[$o+5]*16384
         |            + b[$o+6]*128 + b[$o+7] END
         |      ELSE b[$o+4]*16777216 + b[$o+5]*65536
         |        + b[$o+6]*256 + b[$o+7] END
         |    END AS fsz$k,
         |    $live AS live$k
         |  FROM ${if (k == 1) "w1" else s"sc${k - 1}"}),
         |sb$k AS MATERIALIZED (
         |  SELECT *,
         |    (live$k AND $fits) AS ok$k,
         |    (live$k AND NOT coalesce($fits, FALSE)) AS bad$k,
         |    CASE WHEN live$k AND $fits THEN $o + 10 + fsz$k END
         |      AS o${k + 1}
         |  FROM sa$k),
         |sc$k AS MATERIALIZED (
         |  SELECT *,
         |    ${tcol("tit", Seq(84, 73, 84, 50))},
         |    ${tcol("art", Seq(84, 80, 69, 49))},
         |    ${tcol("alb", Seq(84, 65, 76, 66))}
         |  FROM sb$k),""".stripMargin
    }.mkString("\n")
    def coal(n: String) = (1 to 6).map(k => s"$n$k").mkString(", ")
    s"""WITH d AS (
       |  SELECT media_id, hex(payload) AS h, octet_length(payload) AS n
       |  FROM ${pq("mp3")}),
       |hb AS MATERIALIZED (
       |  SELECT media_id, n, h,
       |    list_transform(range(0, n), i ->
       |      (strpos('0123456789ABCDEF', substr(h, 2*i + 1, 1)) - 1)
       |        * 16 +
       |      strpos('0123456789ABCDEF', substr(h, 2*i + 2, 1)) - 1) AS b
       |  FROM d WHERE n >= 10),
       |w1 AS MATERIALIZED (
       |  SELECT media_id, n, h, b, b[4] AS ver,
       |    b[7]*2097152 + b[8]*16384 + b[9]*128 + b[10] AS tsz,
       |    10 + b[7]*2097152 + b[8]*16384 + b[9]*128 + b[10] AS tend,
       |    11 AS o1
       |  FROM hb
       |  WHERE b[1] = 73 AND b[2] = 68 AND b[3] = 51
       |    AND b[4] BETWEEN 3 AND 4
       |    AND (b[6] & 192) = 0
       |    AND b[7] < 128 AND b[8] < 128 AND b[9] < 128 AND b[10] < 128
       |    AND 10 + b[7]*2097152 + b[8]*16384 + b[9]*128 + b[10] <= n),
       |$steps
       |fin AS (SELECT * FROM sc6)
       |SELECT media_id, CAST(ver AS BIGINT) AS version,
       |  CAST(tsz AS BIGINT) AS tag_size,
       |  CAST(${(1 to 6).map(k => s"(CASE WHEN ok$k THEN 1 ELSE 0 END)")
            .mkString("\n       |    + ")} AS BIGINT) AS n_frames,
       |  COALESCE(${coal("tit")}) AS title,
       |  COALESCE(${coal("art")}) AS artist,
       |  COALESCE(${coal("alb")}) AS album
       |FROM fin
       |WHERE NOT (${(1 to 6).map(k => s"bad$k").mkString(" OR ")})
       |  AND NOT (o7 IS NOT NULL AND o7 <= tend AND b[o7] <> 0)"""
      .stripMargin
  }

  private val mp4OracleSql: String = {
    def u32(o: String) =
      s"(b[$o]*16777216 + b[$o+1]*65536 + b[$o+2]*256 + b[$o+3])"
    def isTyp(o: String, t: String) =
      t.zipWithIndex.map { case (c, i) => s"b[($o)+${4 + i}]=${c.toInt}" }
        .mkString("(", " AND ", ")")
    // every walk step is its OWN MATERIALIZED CTE: DuckDB 1.0.0 expands
    // lateral column aliases ~40x per chain level (measured 0.15s at
    // depth 3 -> 158s at depth 5), so a k1..k6 chain in one SELECT never
    // finishes; a materialized step makes the previous offset a real
    // column and the walk linear.
    val tops = (2 to 4).map { k =>
      val p = s"o${k - 1}"
      s"""w$k AS MATERIALIZED (
         |  SELECT *,
         |    CASE WHEN $p IS NOT NULL AND ${u32(p)} >= 8
         |         AND $p + ${u32(p)} + 7 <= n
         |      THEN $p + ${u32(p)} END AS o$k
         |  FROM w${k - 1}),""".stripMargin
    }.mkString("\n")
    def findCases(t: String) = (1 to 4).map { k =>
      s"CASE WHEN o$k IS NOT NULL AND ${isTyp(s"o$k", t)} THEN o$k END"
    }.mkString(",\n      ")
    val kidSteps = (2 to 6).map { k =>
      val p = s"k${k - 1}"
      s"""kid$k AS MATERIALIZED (
         |  SELECT *,
         |    CASE WHEN $p IS NOT NULL AND ${u32(p)} >= 8
         |         AND $p + ${u32(p)} + 7 < mend
         |      THEN $p + ${u32(p)} END AS k$k
         |  FROM kid${k - 1}),""".stripMargin
    }.mkString("\n")
    val mvhdCases = (1 to 6).map { k =>
      s"CASE WHEN k$k IS NOT NULL AND ${isTyp(s"k$k", "mvhd")} THEN k$k END"
    }.mkString(",\n      ")
    val trakSum = (1 to 6).map { k =>
      s"CASE WHEN k$k IS NOT NULL AND ${isTyp(s"k$k", "trak")} " +
        "THEN 1 ELSE 0 END"
    }.mkString(" +\n      ")
    s"""WITH d AS (
       |  SELECT media_id, hex(payload) AS h, octet_length(payload) AS n
       |  FROM ${pq("video")}),
       |hb AS MATERIALIZED (
       |  SELECT media_id, n,
       |    list_transform(range(0, n), i ->
       |      (strpos('0123456789ABCDEF', substr(h, 2*i + 1, 1)) - 1)
       |        * 16 +
       |      strpos('0123456789ABCDEF', substr(h, 2*i + 2, 1)) - 1) AS b
       |  FROM d WHERE n >= 8),
       |w1 AS MATERIALIZED (SELECT media_id, n, b, 1 AS o1 FROM hb),
       |$tops
       |found AS MATERIALIZED (
       |  SELECT media_id, n, b,
       |    COALESCE(${findCases("moov")}) AS mo,
       |    COALESCE(${findCases("ftyp")}) AS fo
       |  FROM w4),
       |mz AS MATERIALIZED (
       |  SELECT media_id, n, b, fo, mo,
       |    CASE WHEN mo + ${u32("mo")} <= n + 1
       |      THEN mo + ${u32("mo")} END AS mend
       |  FROM found WHERE mo IS NOT NULL AND fo IS NOT NULL),
       |kid1 AS MATERIALIZED (
       |  SELECT *,
       |    CASE WHEN mend IS NOT NULL AND mo + 15 < mend
       |      THEN mo + 8 END AS k1
       |  FROM mz),
       |$kidSteps
       |agg AS MATERIALIZED (
       |  SELECT media_id, b, fo,
       |    COALESCE($mvhdCases) AS mv,
       |    ($trakSum) AS n_tracks
       |  FROM kid6),
       |vals AS MATERIALIZED (
       |  SELECT media_id, b, fo, n_tracks,
       |    CASE b[mv+8] WHEN 0 THEN ${u32("mv+20")}
       |      WHEN 1 THEN ${u32("mv+28")} END AS ts,
       |    CASE b[mv+8] WHEN 0 THEN ${u32("mv+24")}
       |      WHEN 1 THEN ${u32("mv+32")} * 4294967296 + ${u32("mv+36")}
       |      END AS dur
       |  FROM agg WHERE mv IS NOT NULL)
       |SELECT media_id,
       |  chr(b[fo+8]::INT) || chr(b[fo+9]::INT) || chr(b[fo+10]::INT)
       |    || chr(b[fo+11]::INT) AS major_brand,
       |  CAST(ts AS BIGINT) AS timescale,
       |  CAST(dur AS BIGINT) AS duration,
       |  CAST(n_tracks AS BIGINT) AS n_tracks,
       |  round(dur / ts, 4) AS duration_sec
       |FROM vals WHERE ts IS NOT NULL AND ts > 0""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "m5_video_meta" -> mp4OracleSql,
    "m9_jpeg_meta" -> jpegOracleSql,
    "m11_exif_meta" -> exifOracleSql,
    "m13_id3_meta" -> id3OracleSql,

    "m10_srt_read" ->
      s"""WITH t AS (
         |  SELECT string_split(replace(content, chr(13), ''),
         |    chr(10) || chr(10)) AS blocks
         |  FROM read_text('${GenomicFixtures.rawDir}/captions.srt')),
         |c AS (
         |  SELECT list_filter(string_split(b, chr(10)),
         |    l -> len(trim(l)) > 0) AS ls
         |  FROM (SELECT unnest(blocks) AS b FROM t)
         |  WHERE len(trim(b)) > 0),
         |p AS (
         |  SELECT TRY_CAST(ls[1] AS BIGINT) AS cue, ls,
         |    regexp_matches(ls[2],
         |      '^(\\d{2}):(\\d{2}):(\\d{2})[,.](\\d{3}) --> ' ||
         |      '(\\d{2}):(\\d{2}):(\\d{2})[,.](\\d{3})\\s*$$') AS ok
         |  FROM c WHERE len(ls) >= 2),
         |ex AS (
         |  SELECT cue, ls, ok, [${(1 to 8).map(g =>
             s"TRY_CAST(regexp_extract(ls[2], '^(\\d{2}):(\\d{2}):" +
             s"(\\d{2})[,.](\\d{3}) --> (\\d{2}):(\\d{2}):" +
             s"(\\d{2})[,.](\\d{3})\\s*$$', $g) AS BIGINT)")
           .mkString(", ")}] AS gs
         |  FROM p)
         |SELECT cue,
         |  CASE WHEN ok THEN gs[1] * 3600000 + gs[2] * 60000
         |    + gs[3] * 1000 + gs[4] END AS start_ms,
         |  CASE WHEN ok THEN gs[5] * 3600000 + gs[6] * 60000
         |    + gs[7] * 1000 + gs[8] END AS end_ms,
         |  array_to_string(ls[3:len(ls)], chr(10)) AS text,
         |  CASE WHEN ok THEN (gs[5] * 3600000 + gs[6] * 60000
         |      + gs[7] * 1000 + gs[8])
         |    - (gs[1] * 3600000 + gs[2] * 60000 + gs[3] * 1000 + gs[4])
         |    END AS duration_ms
         |FROM ex""".stripMargin,
    "f2_seq_dedup" ->
      s"""WITH ranked AS (
         |  SELECT sequence, accession, $tagRankSql AS rank
         |  FROM ${pq("proteins")})
         |SELECT sequence, count(*) AS n_entries,
         |  string_agg(accession, ';' ORDER BY accession)
         |    AS matching_proteins,
         |  CASE min(rank) WHEN 0 THEN 'generic_cont'
         |    WHEN 1 THEN 'generic_cont' WHEN 2 THEN 'generic_ensref'
         |    WHEN 3 THEN 'generic_ensvar' WHEN 4 THEN 'generic_var'
         |    WHEN 5 THEN 'generic_manual' WHEN 6 THEN 'generic_enshap'
         |    WHEN 7 THEN 'generic_decoyvar' ELSE 'generic_other' END AS tag
         |FROM ranked GROUP BY sequence""".stripMargin,

    "f3_stop_split" ->
      s"""WITH p AS (
         |  SELECT tag, accession, sequence,
         |    coalesce(TRY_CAST(regexp_extract(description,
         |      'start:([0-9]+)', 1) AS BIGINT), 0) AS start_pos
         |  FROM ${pq("proteins")}),
         |segs AS (
         |  SELECT tag, accession, start_pos, sg.b AS base, sg.s AS seg
         |  FROM p, LATERAL (SELECT unnest(
         |    CASE WHEN start_pos > 0 THEN
         |      [{'b': 0, 's': sequence[1:CAST(start_pos AS INT)]},
         |       {'b': start_pos, 's': sequence[CAST(start_pos AS INT)+1:]}]
         |    ELSE [{'b': 0, 's': sequence}] END) AS sg) u),
         |frs AS (
         |  SELECT tag, accession, start_pos,
         |    base + CASE WHEN fi.i = 1 THEN 0
         |      ELSE list_sum(list_transform(
         |        string_split(seg, '*')[1:fi.i-1], x -> len(x) + 1)) END
         |      AS pos,
         |    string_split(seg, '*')[fi.i] AS fragment
         |  FROM segs, LATERAL (SELECT unnest(generate_series(1,
         |    len(string_split(seg, '*')))) AS i) fi),
         |kept AS (
         |  SELECT tag, accession, start_pos, pos, fragment,
         |    row_number() OVER (PARTITION BY tag, accession
         |      ORDER BY pos) - 1 AS idx
         |  FROM frs WHERE len(fragment) >= 1)
         |SELECT tag,
         |  accession || CASE WHEN pos < start_pos THEN '_5UTR_' || idx
         |    WHEN pos > start_pos THEN '_3UTR_' || idx ELSE '' END
         |    AS accession,
         |  fragment, CAST(pos AS BIGINT) AS position_within_protein,
         |  start_pos
         |FROM kept""".stripMargin,

    "p1_peptide_match" ->
      s"""SELECT p.pepId, p.peptide, pr.accession, o.mpos AS pos
         |FROM ${pq("peptides")} p, ${pq("proteins")} pr,
         |  LATERAL (SELECT unnest([ii for ii in generate_series(1,
         |    length(pr.sequence) - length(p.peptide) + 1)
         |    if substr(pr.sequence, ii, length(p.peptide)) = p.peptide])
         |    AS mpos) o
         |WHERE length(p.peptide) >= 4""".stripMargin,

    "u1_merge_tables" ->
      s"""SELECT * FROM ${pq("merge_a")}
         |UNION ALL BY NAME SELECT * FROM ${pq("merge_b")}""".stripMargin,

    "u2_csv_vcf" ->
      s"""SELECT chrom AS CHROM, CAST(pos AS BIGINT) AS POS,
         |  accession AS ID, ref AS REF, alt AS ALT,
         |  '.' AS QUAL, '.' AS FILTER, '.' AS INFO
         |FROM read_csv('${GenomicFixtures.rawDir}/variants.csv',
         |  header=true, all_varchar=true)""".stripMargin,

    "h1_haplotypes" -> h1Sql,

    // the sample-name extraction is a projection of the same table
    "h6_sample_names" ->
      s"SELECT transcript, signature, samples FROM ($h1Sql)",

    "h2_haplo_freq" ->
      s"""WITH ph AS ($phasedSql),
         |universe AS (SELECT DISTINCT transcript, sample, phase FROM ph),
         |meta AS (SELECT sample, population FROM ${pq("samples_meta")}),
         |popcopies AS (
         |  SELECT u.transcript, m.population, count(*) AS pop_copies
         |  FROM universe u JOIN meta m ON u.sample = m.sample
         |  GROUP BY 1, 2),
         |sigs AS (
         |  SELECT transcript, sample, phase,
         |    string_agg(varId, ';' ORDER BY pos, varId) AS signature
         |  FROM ph WHERE has_alt GROUP BY 1, 2, 3),
         |percopy AS (
         |  SELECT u.transcript, u.sample, u.phase,
         |    coalesce(s.signature, 'REF') AS signature
         |  FROM universe u
         |  LEFT JOIN sigs s ON u.transcript = s.transcript
         |    AND u.sample = s.sample AND u.phase = s.phase)
         |SELECT p.transcript, p.signature, m.population,
         |  count(*) AS pop_count,
         |  round(count(*) / CAST(pc.pop_copies AS DOUBLE), 6)
         |    AS pop_frequency
         |FROM percopy p
         |JOIN meta m ON p.sample = m.sample
         |JOIN popcopies pc ON p.transcript = pc.transcript
         |  AND m.population = pc.population
         |GROUP BY p.transcript, p.signature, m.population, pc.pop_copies"""
        .stripMargin,

    "h2b_superpop_freq" ->
      s"""WITH ph AS ($phasedSql),
         |universe AS (SELECT DISTINCT transcript, sample, phase FROM ph),
         |meta AS (SELECT sample, superpopulation AS population
         |  FROM ${pq("samples_meta")}),
         |popcopies AS (
         |  SELECT u.transcript, m.population, count(*) AS pop_copies
         |  FROM universe u JOIN meta m ON u.sample = m.sample
         |  GROUP BY 1, 2),
         |sigs AS (
         |  SELECT transcript, sample, phase,
         |    string_agg(varId, ';' ORDER BY pos, varId) AS signature
         |  FROM ph WHERE has_alt GROUP BY 1, 2, 3),
         |percopy AS (
         |  SELECT u.transcript, u.sample, u.phase,
         |    coalesce(s.signature, 'REF') AS signature
         |  FROM universe u
         |  LEFT JOIN sigs s ON u.transcript = s.transcript
         |    AND u.sample = s.sample AND u.phase = s.phase)
         |SELECT p.transcript, p.signature,
         |  m.population AS superpopulation,
         |  count(*) AS superpop_count,
         |  round(count(*) / CAST(pc.pop_copies AS DOUBLE), 6)
         |    AS superpop_frequency
         |FROM percopy p
         |JOIN meta m ON p.sample = m.sample
         |JOIN popcopies pc ON p.transcript = pc.transcript
         |  AND m.population = pc.population
         |GROUP BY p.transcript, p.signature, m.population, pc.pop_copies"""
        .stripMargin,

    "h3_conflicts" ->
      s"""WITH ph AS ($phasedSql),
         |alts AS (
         |  SELECT transcript, sample, phase, varId, pos,
         |    length(ref) AS reflen
         |  FROM ph WHERE has_alt)
         |SELECT DISTINCT l.transcript, l.sample, l.phase
         |FROM alts l JOIN alts r
         |  ON l.transcript = r.transcript AND l.sample = r.sample
         |  AND l.phase = r.phase AND l.varId != r.varId
         |  AND l.pos <= r.pos AND r.pos <= l.pos + l.reflen""".stripMargin,

    "f4_format_headers" ->
      s"""SELECT CASE WHEN tag = '' THEN 'generic_x' ELSE tag END AS tag,
         |  accession,
         |  CASE WHEN NOT contains(description, 'matching_proteins:')
         |    THEN description || ' matching_proteins:' || accession
         |    ELSE description END AS description,
         |  sequence
         |FROM ${pq("proteins")}""".stripMargin,

    "f5_simplify_headers" ->
      s"""WITH p AS (
         |  SELECT tag, accession, sequence, string_split_regex(
         |    regexp_extract(description, 'matching_proteins:([^ ]*)', 1),
         |    '[;,]') AS ids
         |  FROM ${pq("postproc")}),
         |cont AS (
         |  SELECT accession, tag,
         |    'CONTAMINANT GN=' || array_to_string(list_filter(ids, i ->
         |      NOT starts_with(i, 'T') AND NOT starts_with(i, 'haplo_')
         |      AND NOT starts_with(i, 'var_')), ';') AS gene, sequence
         |  FROM p WHERE tag = 'generic_cont'),
         |reft AS (
         |  SELECT accession, tag, sequence,
         |    unnest(list_filter(ids, i -> starts_with(i, 'T')))
         |      AS transcript
         |  FROM p WHERE tag = 'generic_ensref'),
         |hapt AS (
         |  SELECT h.accession, h.tag, h.sequence, hm.transcript
         |  FROM (SELECT accession, tag, sequence,
         |      unnest(list_filter(ids, i -> starts_with(i, 'haplo_')))
         |        AS haplo
         |    FROM p WHERE tag = 'generic_enshap') h
         |  JOIN ${pq("simplify_haplo_map")} hm USING (haplo)),
         |vart AS (
         |  SELECT accession, tag, sequence,
         |    'T' || string_split(regexp_extract(vid, 'T(.*)', 1), '_')[1]
         |      AS transcript
         |  FROM (SELECT accession, tag, sequence,
         |      unnest(list_filter(ids, i -> starts_with(i, 'var_')))
         |        AS vid
         |    FROM p WHERE tag = 'generic_var')),
         |g AS (
         |  SELECT u.accession AS acc0, u.tag, u.sequence,
         |    list_sort(list_distinct(list(gm.gene))) AS genes
         |  FROM (SELECT * FROM reft UNION ALL SELECT * FROM hapt
         |    UNION ALL SELECT * FROM vart) u
         |  JOIN ${pq("gene_map")} gm USING (transcript)
         |  GROUP BY 1, 2, 3)
         |SELECT accession, tag, gene, sequence FROM cont
         |UNION ALL
         |SELECT CASE WHEN len(genes) > 1 THEN acc0 || '.' || (gi.i - 1)
         |    ELSE acc0 END AS accession,
         |  tag, 'GN=' || genes[gi.i] AS gene, sequence
         |FROM g, LATERAL (SELECT unnest(generate_series(1, len(genes)))
         |  AS i) gi""".stripMargin,

    "f6_remove_utr" ->
      s"""WITH p AS (
         |  SELECT tag, accession, sequence,
         |    string_split(regexp_extract(description,
         |      'split_sequences:([^ ]*)', 1), ';') AS sids,
         |    string_split(regexp_extract(description,
         |      'matching_proteins:([^ ]*)', 1), ';') AS mp,
         |    string_split(regexp_extract(description,
         |      'position_within_protein:([^ ]*)', 1), ';') AS pp,
         |    string_split(regexp_extract(description, 'start:([^ ]*)', 1),
         |      ';') AS st,
         |    string_split(regexp_extract(description,
         |      'reading_frame:([^ ]*)', 1), ';') AS rf
         |  FROM ${pq("postproc")}),
         |k AS (
         |  SELECT *, [ii for ii in generate_series(1, len(sids))
         |    if NOT contains(sids[ii], 'UTR')] AS keep
         |  FROM p)
         |SELECT tag, accession,
         |  'position_within_protein:' ||
         |    array_to_string(list_transform(keep, ii -> pp[ii]), ';') ||
         |  ' start:' ||
         |    array_to_string(list_transform(keep, ii -> st[ii]), ';') ||
         |  ' matching_proteins:' ||
         |    array_to_string(list_transform(keep, ii -> mp[ii]), ';') ||
         |  ' reading_frame:' ||
         |    array_to_string(list_transform(keep, ii -> rf[ii]), ';')
         |    AS description,
         |  sequence
         |FROM k WHERE len(keep) > 0""".stripMargin,

    "f8_fasta_write" ->
      s"""SELECT CASE WHEN tag = '' THEN 'generic' ELSE tag END AS tag,
         |  accession,
         |  CASE WHEN NOT contains(description, 'matching_proteins:')
         |    THEN description || ' matching_proteins:' || accession
         |    ELSE description END AS description,
         |  sequence
         |FROM ${pq("proteins")}""".stripMargin,

    "f7_fix_headers_enst" ->
      s"""WITH p AS (
         |  SELECT tag, accession, description, sequence,
         |    CASE WHEN contains(description, 'ENST')
         |      THEN regexp_extract(description, 'ENST[^.\\s]*')
         |      ELSE accession END AS acc
         |  FROM ${pq("ensref")})
         |SELECT CASE WHEN tag = '' THEN 'generic' ELSE tag END AS tag,
         |  acc AS accession,
         |  CASE WHEN NOT contains(description, 'matching_proteins:')
         |    THEN description || ' matching_proteins:' || acc
         |    ELSE description END AS description,
         |  sequence
         |FROM p""".stripMargin,

    "r1_reference_enst" ->
      s"""WITH base AS (
         |  SELECT CASE WHEN contains(description, 'chromosome:')
         |      THEN regexp_extract(description,
         |        'chromosome:[^:]*:([^:]+):', 1)
         |    WHEN contains(description, 'GRCh')
         |      THEN regexp_extract(description, 'GRCh[^:]*:([^:]+):', 1)
         |    ELSE '-' END AS chromosome,
         |    regexp_extract(description, 'transcript:([^.\\s]+)', 1)
         |      AS transcriptID
         |  FROM ${pq("ensref")}
         |  WHERE contains(description, 'transcript:')),
         |tagged AS (
         |  SELECT transcript_id AS transcriptID, gene_id,
         |    contains(attributes, 'tag "MANE_Select"') AS is_mane,
         |    contains(attributes, 'tag "Ensembl_canonical"')
         |      AS is_canonical
         |  FROM ${pq("ensref_tr")}),
         |gm AS (
         |  SELECT gene_id, max(is_mane) AS gene_has_mane
         |  FROM tagged GROUP BY 1),
         |keep AS (
         |  SELECT t.transcriptID FROM tagged t JOIN gm USING (gene_id)
         |  WHERE CASE WHEN gm.gene_has_mane THEN t.is_mane
         |    ELSE t.is_canonical END)
         |SELECT b.chromosome, b.transcriptID
         |FROM base b JOIN keep k USING (transcriptID)""".stripMargin,

    // m2: the oracle decodes the PNG IHDR header DIRECTLY from the raw
    // bytes (width/height as big-endian u32 at byte offset 17/21, color
    // type at byte 26) and replicates the aspect arithmetic — an
    // independent check that graft_img_decode reports the codec's real
    // geometry.
    "m2_media_resize" ->
      s"""WITH d AS (
         |  SELECT media_id, hex(payload) AS h FROM ${pq("images")}),
         |wh AS (
         |  SELECT media_id,
         |    CAST(list_reduce([strpos('0123456789ABCDEF', substr(h, j, 1))
         |        - 1 for j in range(33, 41)], (a, c) -> a * 16 + c)
         |      AS BIGINT) AS width,
         |    CAST(list_reduce([strpos('0123456789ABCDEF', substr(h, j, 1))
         |        - 1 for j in range(41, 49)], (a, c) -> a * 16 + c)
         |      AS BIGINT) AS height,
         |    CAST(CASE list_reduce([strpos('0123456789ABCDEF',
         |        substr(h, j, 1)) - 1 for j in range(51, 53)],
         |        (a, c) -> a * 16 + c)
         |      WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 3 WHEN 4 THEN 2
         |      WHEN 6 THEN 4 END AS BIGINT) AS channels
         |  FROM d)
         |SELECT media_id, width, height, channels,
         |  CASE WHEN width >= height THEN 4
         |    ELSE greatest(CAST(floor(width * (4 / CAST(greatest(width,
         |      height) AS DOUBLE))) AS BIGINT), 1) END AS resized_w,
         |  CASE WHEN height > width THEN 4
         |    ELSE greatest(CAST(floor(height * (4 / CAST(greatest(width,
         |      height) AS DOUBLE))) AS BIGINT), 1) END AS resized_h
         |FROM wh""".stripMargin,

    // m4: full-value WAV oracle — every field (header AND amplitude
    // stats) re-derived from the raw bytes in SQL; the canonical 44-byte
    // fixture layout makes the fixed offsets exact. b = 1-based byte
    // list; channels LE u16 @22, rate LE u32 @24, data size LE u32 @40,
    // samples int16 LE from @44.
    "m4_audio_features" ->
      s"""WITH d AS (
         |  SELECT media_id, hex(payload) AS h,
         |         octet_length(payload) AS n
         |  FROM ${pq("audio")}),
         |hb AS (
         |  SELECT media_id, n,
         |    list_transform(range(0, n), i ->
         |      (strpos('0123456789ABCDEF', substr(h, 2*i + 1, 1)) - 1)
         |        * 16 +
         |      strpos('0123456789ABCDEF', substr(h, 2*i + 2, 1)) - 1)
         |      AS b
         |  FROM d),
         |meta AS (
         |  SELECT media_id, n, b,
         |    (n >= 46 AND b[1]=82 AND b[2]=73 AND b[3]=70 AND b[4]=70
         |       AND b[9]=87 AND b[10]=65 AND b[11]=86 AND b[12]=69
         |       AND b[21] + 256*b[22] = 1
         |       AND b[35] + 256*b[36] = 16) AS ok,
         |    b[23] + 256*b[24] AS channels,
         |    b[25] + 256*b[26] + 65536*b[27] + 16777216*b[28]
         |      AS sample_rate,
         |    b[41] + 256*b[42] + 65536*b[43] + 16777216*b[44] AS dsz
         |  FROM hb),
         |s AS (
         |  SELECT media_id, channels, sample_rate,
         |    list_transform(range(0, least(dsz, n - 44) // 2), k ->
         |      CASE WHEN b[45 + 2*k] + 256*b[46 + 2*k] >= 32768
         |           THEN b[45 + 2*k] + 256*b[46 + 2*k] - 65536
         |           ELSE b[45 + 2*k] + 256*b[46 + 2*k] END) AS sm
         |  FROM meta WHERE ok)
         |SELECT media_id,
         |  CAST(sample_rate AS BIGINT) AS sample_rate,
         |  CAST(channels AS BIGINT) AS channels,
         |  CAST(len(sm) // channels AS BIGINT) AS n_frames,
         |  round(sqrt(list_sum(list_transform(sm, v -> CAST(v AS DOUBLE)
         |    * v)) / len(sm)), 4) AS rms,
         |  CAST(list_max(list_transform(sm, v -> abs(v))) AS BIGINT)
         |    AS peak
         |FROM s WHERE len(sm) > 0""".stripMargin,

    // m7: same byte-walk CTEs as m4 up to the int16 sample list, then
    // channel-averaged mono (exact int sum / channels), 8-sample frames
    // via list slicing, per-frame RMS and sign-change ZCR — every double
    // re-derived from raw bytes
    "m7_audio_frames" ->
      s"""WITH d AS (
         |  SELECT media_id, hex(payload) AS h,
         |         octet_length(payload) AS n
         |  FROM ${pq("audio")}),
         |hb AS (
         |  SELECT media_id, n,
         |    list_transform(range(0, n), i ->
         |      (strpos('0123456789ABCDEF', substr(h, 2*i + 1, 1)) - 1)
         |        * 16 +
         |      strpos('0123456789ABCDEF', substr(h, 2*i + 2, 1)) - 1)
         |      AS b
         |  FROM d),
         |meta AS (
         |  SELECT media_id, n, b,
         |    (n >= 46 AND b[1]=82 AND b[2]=73 AND b[3]=70 AND b[4]=70
         |       AND b[9]=87 AND b[10]=65 AND b[11]=86 AND b[12]=69
         |       AND b[21] + 256*b[22] = 1
         |       AND b[35] + 256*b[36] = 16) AS ok,
         |    b[23] + 256*b[24] AS channels,
         |    b[41] + 256*b[42] + 65536*b[43] + 16777216*b[44] AS dsz
         |  FROM hb),
         |s AS (
         |  SELECT media_id, channels,
         |    list_transform(range(0, least(dsz, n - 44) // 2), k ->
         |      CASE WHEN b[45 + 2*k] + 256*b[46 + 2*k] >= 32768
         |           THEN b[45 + 2*k] + 256*b[46 + 2*k] - 65536
         |           ELSE b[45 + 2*k] + 256*b[46 + 2*k] END) AS sm
         |  FROM meta WHERE ok),
         |mo AS (
         |  SELECT media_id,
         |    list_transform(range(0, len(sm) // channels), f ->
         |      CAST(list_sum(list_transform(range(0, channels),
         |        c -> sm[f * channels + c + 1])) AS DOUBLE) / channels)
         |      AS mo
         |  FROM s WHERE len(sm) // channels >= 1),
         |fr AS (
         |  SELECT media_id, fi.i AS frame,
         |    mo[fi.i * 8 + 1 : least((fi.i + 1) * 8, len(mo))] AS fm
         |  FROM mo, LATERAL (SELECT unnest(range(0,
         |    (len(mo) + 7) // 8)) AS i) fi)
         |SELECT media_id, CAST(frame AS BIGINT) AS frame,
         |  CAST(len(fm) AS BIGINT) AS n_samples,
         |  round(sqrt(list_sum(list_transform(fm, m -> m * m))
         |    / len(fm)), 4) AS rms,
         |  round(CASE WHEN len(fm) > 1
         |    THEN CAST(len(list_filter(range(1, len(fm)),
         |      i -> fm[i] * fm[i + 1] < 0)) AS DOUBLE) / (len(fm) - 1)
         |    ELSE 0.0 END, 6) AS zcr
         |FROM fr""".stripMargin,

    // m12: m7's byte-walk chain -> rms >= 500 gate -> gaps-and-islands
    "m12_audio_vad" ->
      s"""WITH d AS (
         |  SELECT media_id, hex(payload) AS h,
         |         octet_length(payload) AS n
         |  FROM ${pq("audio")}),
         |hb AS (
         |  SELECT media_id, n,
         |    list_transform(range(0, n), i ->
         |      (strpos('0123456789ABCDEF', substr(h, 2*i + 1, 1)) - 1)
         |        * 16 +
         |      strpos('0123456789ABCDEF', substr(h, 2*i + 2, 1)) - 1)
         |      AS b
         |  FROM d),
         |meta AS (
         |  SELECT media_id, n, b,
         |    (n >= 46 AND b[1]=82 AND b[2]=73 AND b[3]=70 AND b[4]=70
         |       AND b[9]=87 AND b[10]=65 AND b[11]=86 AND b[12]=69
         |       AND b[21] + 256*b[22] = 1
         |       AND b[35] + 256*b[36] = 16) AS ok,
         |    b[23] + 256*b[24] AS channels,
         |    b[41] + 256*b[42] + 65536*b[43] + 16777216*b[44] AS dsz
         |  FROM hb),
         |s AS (
         |  SELECT media_id, channels,
         |    list_transform(range(0, least(dsz, n - 44) // 2), k ->
         |      CASE WHEN b[45 + 2*k] + 256*b[46 + 2*k] >= 32768
         |           THEN b[45 + 2*k] + 256*b[46 + 2*k] - 65536
         |           ELSE b[45 + 2*k] + 256*b[46 + 2*k] END) AS sm
         |  FROM meta WHERE ok),
         |mo AS (
         |  SELECT media_id,
         |    list_transform(range(0, len(sm) // channels), f ->
         |      CAST(list_sum(list_transform(range(0, channels),
         |        c -> sm[f * channels + c + 1])) AS DOUBLE) / channels)
         |      AS mo
         |  FROM s WHERE len(sm) // channels >= 1),
         |fr AS (
         |  SELECT media_id, fi.i AS frame,
         |    mo[fi.i * 8 + 1 : least((fi.i + 1) * 8, len(mo))] AS fm
         |  FROM mo, LATERAL (SELECT unnest(range(0,
         |    (len(mo) + 7) // 8)) AS i) fi),
         |fe AS (
         |  SELECT media_id, frame,
         |    round(sqrt(list_sum(list_transform(fm, m -> m * m))
         |      / len(fm)), 4) AS rms
         |  FROM fr),
         |sp AS (
         |  SELECT media_id, frame, rms,
         |    frame - row_number() OVER (PARTITION BY media_id
         |      ORDER BY frame) AS grp
         |  FROM fe WHERE rms >= 500.0)
         |SELECT media_id, CAST(min(frame) AS BIGINT) AS seg_start,
         |  CAST(max(frame) AS BIGINT) AS seg_end,
         |  CAST(count(*) AS BIGINT) AS n_frames,
         |  max(rms) AS peak_rms
         |FROM sp GROUP BY media_id, grp""".stripMargin,

    // m8: m7's byte-walk chain -> 4-frame RMS vectors -> all same-bucket
    // pairs (id <) -> cosine floor; rounded rms values shared with m7,
    // the cosine is the d5-family left-fold formulation
    "m8_audio_dedup" ->
      s"""WITH d AS (
         |  SELECT media_id, hex(payload) AS h,
         |         octet_length(payload) AS n
         |  FROM ${pq("audio")}),
         |hb AS (
         |  SELECT media_id, n,
         |    list_transform(range(0, n), i ->
         |      (strpos('0123456789ABCDEF', substr(h, 2*i + 1, 1)) - 1)
         |        * 16 +
         |      strpos('0123456789ABCDEF', substr(h, 2*i + 2, 1)) - 1)
         |      AS b
         |  FROM d),
         |meta AS (
         |  SELECT media_id, n, b,
         |    (n >= 46 AND b[1]=82 AND b[2]=73 AND b[3]=70 AND b[4]=70
         |       AND b[9]=87 AND b[10]=65 AND b[11]=86 AND b[12]=69
         |       AND b[21] + 256*b[22] = 1
         |       AND b[35] + 256*b[36] = 16) AS ok,
         |    b[23] + 256*b[24] AS channels,
         |    b[41] + 256*b[42] + 65536*b[43] + 16777216*b[44] AS dsz
         |  FROM hb),
         |s AS (
         |  SELECT media_id, channels,
         |    list_transform(range(0, least(dsz, n - 44) // 2), k ->
         |      CASE WHEN b[45 + 2*k] + 256*b[46 + 2*k] >= 32768
         |           THEN b[45 + 2*k] + 256*b[46 + 2*k] - 65536
         |           ELSE b[45 + 2*k] + 256*b[46 + 2*k] END) AS sm
         |  FROM meta WHERE ok),
         |mo AS (
         |  SELECT media_id,
         |    list_transform(range(0, len(sm) // channels), f ->
         |      CAST(list_sum(list_transform(range(0, channels),
         |        c -> sm[f * channels + c + 1])) AS DOUBLE) / channels)
         |      AS mo
         |  FROM s WHERE len(sm) // channels >= 1),
         |fr AS (
         |  SELECT media_id, fi.i AS frame,
         |    mo[fi.i * 8 + 1 : least((fi.i + 1) * 8, len(mo))] AS fm
         |  FROM mo, LATERAL (SELECT unnest(range(0,
         |    (len(mo) + 7) // 8)) AS i) fi),
         |rms AS (
         |  SELECT media_id, frame,
         |    round(sqrt(list_sum(list_transform(fm, m -> m * m))
         |      / len(fm)), 4) AS rms
         |  FROM fr WHERE frame < 4),
         |v AS (
         |  SELECT media_id, list(rms ORDER BY frame) AS vec
         |  FROM rms GROUP BY 1 HAVING count(*) = 4),
         |p AS (
         |  SELECT a.media_id AS id, b.media_id AS neighbor,
         |    a.vec AS qv, b.vec AS cv
         |  FROM v a JOIN v b ON a.media_id < b.media_id),
         |sc AS (
         |  SELECT id, neighbor,
         |    round(list_reduce(list_transform(list_zip(qv, cv),
         |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
         |        (x, y) -> x + y)
         |      / (sqrt(list_reduce(list_transform(qv,
         |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
         |          (x, y) -> x + y))
         |       * sqrt(list_reduce(list_transform(cv,
         |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
         |          (x, y) -> x + y))), 5) AS cosine
         |  FROM p)
         |SELECT id, neighbor, cosine FROM sc
         |WHERE cosine >= 0.999""".stripMargin,

    // m3: pixel-derived features need a DEFLATE inflater, which SQL
    // lacks — snapshot oracle (graft.tools.Snapshot regenerates);
    // MediaSpec asserts the same rows per-pixel by hand
    "m3_media_features" ->
      ("SELECT * FROM read_parquet(" +
        "'/root/repo/fixtures/expected/m3_media_features.parquet')"),

    // m6: same DEFLATE argument as m3 — snapshot oracle; MediaSpec pins
    // the perceptual-dedup semantics the snapshot must exhibit
    "m6_phash_dedup" ->
      ("SELECT * FROM read_parquet(" +
        "'/root/repo/fixtures/expected/m6_phash_dedup.parquet')"),

    "m1_multimodal" ->
      s"""WITH m AS (
         |  SELECT media_id, kind, payload, meta, hex(payload) AS h,
         |    octet_length(payload) AS byte_len
         |  FROM ${pq("media")})
         |SELECT media_id, kind, byte_len,
         |  md5(h) AS content_hash,
         |  f.i AS frame_idx,
         |  md5(substr(h, f.i * meta.chunk_bytes * 2 + 1,
         |    meta.chunk_bytes * 2)) AS frame_hash
         |FROM m, LATERAL (SELECT unnest(generate_series(0,
         |  CAST(meta.n_chunks AS INT) - 1, 2)) AS i) f""".stripMargin
  )
}
