package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions

/** Multimodal (image/audio/video) columns for training-data pipelines:
  * media ride as opaque `binary` columns with typed metadata.
  *
  * Image decode / resample / feature extraction are REAL, built on the
  * JDK's javax.imageio via the graft_img_* functions
  * (graft.functions.NativeMediaOps) — PNG/JPEG/GIF/BMP, no external
  * codecs, no UDFs, no driver-side work: decodes run executor-side with
  * partition parallelism and poison blobs yield NULL instead of failing
  * the stage.
  *
  * Frame sampling over chunked payloads (the video/audio analog) and
  * metadata extraction go through the hex-string domain (`hex(payload)`)
  * so the DuckDB oracle can reproduce them without blob functions; image
  * dimensions are cross-checked by the oracle parsing the PNG IHDR header
  * bytes directly.
  */
object Multimodal {

  /** Metadata extraction: byte length + content hash of the payload. */
  def describe(df: DataFrame, payload: String = "payload"): DataFrame =
    df.withColumn("byte_len", length(col(payload)).cast("long"))
      .withColumn("content_hash", md5(hex(col(payload))))

  /** Real image decode: width / height / channel count from the codec
    * (gray 1, gray+alpha 2, RGB 3, RGBA 4); NULLs for undecodable rows.
    */
  def decodeImage(df: DataFrame, payload: String = "payload"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.withColumn("_d", call_function("graft_img_decode", col(payload)))
      .withColumn("width", col("_d.width").cast("long"))
      .withColumn("height", col("_d.height").cast("long"))
      .withColumn("channels", col("_d.channels").cast("long"))
      .drop("_d")
  }

  /** Frame sampling: one row per `every`-th fixed-size chunk of the
    * payload (video frame / audio window analog). Chunk geometry comes
    * from the typed `meta` struct (n_chunks, chunk_bytes).
    */
  def sampleFrames(df: DataFrame, every: Int = 2,
                   payload: String = "payload"): DataFrame =
    df.select(col("*"),
      explode(sequence(lit(0), col("meta.n_chunks") - 1, lit(every)))
        .as("frame_idx"))
      .withColumn("frame_hash",
        md5(hex(expr(
          s"substring($payload, frame_idx * meta.chunk_bytes + 1, " +
            "meta.chunk_bytes)"))))

  /** Real bilinear resample to `maxSide` on the longer edge (aspect
    * preserved, floor): resized dimensions plus the mean luminance of the
    * resampled pixels (resized_mean, in [0,1]) — the latter is evidence
    * the pixel work ran, asserted against hand-computed values in
    * MediaSpec.
    */
  def resizeImage(df: DataFrame, maxSide: Int = 64,
                  payload: String = "payload"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.withColumn("_r",
      call_function("graft_img_resize", col(payload), lit(maxSide)))
      .withColumn("resized_w", col("_r.resized_w").cast("long"))
      .withColumn("resized_h", col("_r.resized_h").cast("long"))
      .withColumn("resized_mean", round(col("_r.resized_mean"), 6))
      .drop("_r")
  }

  /** Real pixel-derived embedding: mean Rec.601 luminance per cell of a
    * gx*gy grid over the image (row-major array<double>, values in
    * [0,1]) — a deterministic stand-in for a model forward pass with the
    * exact column shape (binary -> fixed-length array<double>) the
    * similarity operators (s1-s3) consume.
    */
  def imageFeatures(df: DataFrame, gridX: Int = 2, gridY: Int = 2,
                    payload: String = "payload"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.withColumn("features",
      call_function("graft_img_grid", col(payload), lit(gridX), lit(gridY)))
  }

  /** Real audio decode: RIFF/WAVE PCM16 header fields (proper chunk
    * walk) plus amplitude evidence the sample data was read — RMS over
    * all int16 samples and the absolute peak. NULLs for undecodable
    * payloads (non-WAV, non-PCM16, truncated).
    */
  def decodeAudio(df: DataFrame, payload: String = "payload"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.withColumn("_a", call_function("graft_wav_meta", col(payload)))
      .withColumn("sample_rate", col("_a.sample_rate").cast("long"))
      .withColumn("channels", col("_a.channels").cast("long"))
      .withColumn("n_frames", col("_a.n_frames").cast("long"))
      .withColumn("rms", round(col("_a.rms"), 4))
      .withColumn("peak", col("_a.peak").cast("long"))
      .drop("_a")
  }

  /** Frame-level audio features (energy + zero-crossing rate per frame
    * of `frameSamples` channel-averaged samples) — the speech/silence/
    * noise triage front end over the same PCM16 walk as [[decodeAudio]].
    * One row per (media, frame); undecodable payloads emit nothing here
    * (NULL-on-poison is pinned in MediaSpec). Pure executor-side column
    * expression: decode parallelism == partition parallelism.
    */
  def audioFrames(df: DataFrame, frameSamples: Int = 8,
                  payload: String = "payload"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(col("media_id"),
      posexplode(call_function("graft_wav_frames", col(payload),
        lit(frameSamples))).as(Seq("_i", "_f")))
      .select(col("media_id"),
        col("_f.frame").cast("long").as("frame"),
        col("_f.n_samples").cast("long").as("n_samples"),
        round(col("_f.rms"), 4).as("rms"),
        round(col("_f.zcr"), 6).as("zcr"))
  }

  /** Energy-gated activity segmentation (the classic VAD front end):
    * frames whose RMS clears `rmsThreshold` merge into maximal
    * contiguous segments per medium — the cut points a speech pipeline
    * transcribes/aligns, straight off [[audioFrames]]' real-PCM walk.
    * One (media) window pass for the gaps-and-islands grouping, one
    * aggregation on the same key prefix; per-segment outputs are
    * order-independent (count/min/max/peak — a mean would re-fold
    * doubles in engine order). Sub-threshold media emit nothing.
    */
  def vadSegments(df: DataFrame, rmsThreshold: Double,
                  frameSamples: Int = 8,
                  payload: String = "payload"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = audioFrames(df, frameSamples, payload)
      .where(col("rms") >= rmsThreshold)
    val w = Window.partitionBy("media_id").orderBy("frame")
    frames
      .withColumn("_grp", col("frame") - row_number().over(w))
      .groupBy(col("media_id"), col("_grp"))
      .agg(min(col("frame")).as("seg_start"),
        max(col("frame")).as("seg_end"),
        count(lit(1)).as("n_frames"),
        max(col("rms")).as("peak_rms"))
      .drop("_grp")
  }

  /** Fixed-length frame-energy vector per audio payload — the embedding
    * [[audioFrames]] feeds to the similarity family: the first
    * `nFrames` frames' RMS values in frame order. Media with fewer
    * decodable frames (or poison payloads) drop — a short clip cannot
    * be compared on this fingerprint. Gain-INVARIANT under cosine
    * (louder copy scales every frame's RMS by the same factor), which
    * is exactly the dedup property m8 gates on.
    */
  def audioVectors(df: DataFrame, frameSamples: Int = 8,
                   nFrames: Int = 4,
                   payload: String = "payload"): DataFrame =
    audioFrames(df, frameSamples, payload)
      .where(col("frame") < nFrames)
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("_n"),
        transform(array_sort(collect_list(
          struct(col("frame"), col("rms")))), e => e.getField("rms"))
          .as("vec"))
      .where(col("_n") === nFrames)
      .drop("_n")

  /** Real video-container decode: ISO-BMFF (MP4/MOV) box walk — major
    * brand from `ftyp`, version-aware timescale/duration from
    * `moov/mvhd`, track count from the `trak` children, plus the derived
    * duration_sec. The container walk is the decode-free, fully
    * verifiable triage layer of a video corpus (codec frames stay opaque
    * in `mdat`); NULLs for undecodable payloads.
    */
  def decodeVideo(df: DataFrame, payload: String = "payload"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.withColumn("_v", call_function("graft_mp4_meta", col(payload)))
      .withColumn("major_brand", col("_v.major_brand"))
      .withColumn("timescale", col("_v.timescale").cast("long"))
      .withColumn("duration", col("_v.duration").cast("long"))
      .withColumn("n_tracks", col("_v.n_tracks").cast("long"))
      .withColumn("duration_sec",
        round(col("duration") / col("timescale"), 4))
      .drop("_v")
  }

  /** REAL JPEG frame-header parse (graft_jpeg_meta's FF-marker walk):
    * dimensions, sample precision, component count and the
    * baseline-vs-progressive flag — the still-image container triage
    * mirror of [[decodeVideo]]'s box walk. Entropy-coded scan data
    * stays opaque; NULLs for undecodable payloads.
    */
  def decodeJpeg(df: DataFrame, payload: String = "payload"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.withColumn("_j", call_function("graft_jpeg_meta", col(payload)))
      .withColumn("height", col("_j.height").cast("long"))
      .withColumn("width", col("_j.width").cast("long"))
      .withColumn("precision", col("_j.precision").cast("long"))
      .withColumn("n_components", col("_j.n_components").cast("long"))
      .withColumn("progressive", col("_j.progressive"))
      .withColumn("mpx",
        round(col("height") * col("width") / 1e6, 6))
      .drop("_j")
  }

  /** REAL Exif metadata parse (graft_exif_meta): the marker walk
    * continued into the APP1 TIFF block — byte order, Orientation,
    * Make, DateTime. The provenance/dedup-hint layer of an image
    * corpus (camera strings cluster sources; orientation feeds the
    * resize path; DateTime buckets crawls) without decoding a pixel.
    * Null struct for payloads with no valid Exif; null FIELDS for tags
    * a file omits.
    */
  def decodeExif(df: DataFrame, payload: String = "payload"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.withColumn("_e", call_function("graft_exif_meta", col(payload)))
      .withColumn("byte_order", col("_e.byte_order"))
      .withColumn("orientation", col("_e.orientation").cast("long"))
      .withColumn("make", col("_e.make"))
      .withColumn("datetime", col("_e.datetime"))
      .drop("_e")
  }

  /** REAL ID3v2 tag parse (graft_id3_meta): version, tag size, frame
    * count and the TIT2/TPE1/TALB text frames — the provenance layer of
    * an MP3 crawl (title/artist cluster sources and feed dedup hints)
    * without touching the MPEG bitstream after the tag. Null struct for
    * payloads with no valid tag or a hostile frame length; null FIELDS
    * for frames a tag omits.
    */
  def decodeId3(df: DataFrame, payload: String = "payload"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.withColumn("_t", call_function("graft_id3_meta", col(payload)))
      .withColumn("version", col("_t.version").cast("long"))
      .withColumn("tag_size", col("_t.tag_size").cast("long"))
      .withColumn("n_frames", col("_t.n_frames").cast("long"))
      .withColumn("title", col("_t.title"))
      .withColumn("artist", col("_t.artist"))
      .withColumn("album", col("_t.album"))
      .drop("_t")
  }

  /** 64-bit difference hash (dHash) from REAL decoded pixels: the image
    * reduces to a 9x8 mean-luminance grid (graft_img_grid — resolution-
    * and scale-invariant by construction) and bit r*8+c records whether
    * cell (r,c) outshines its right neighbor. The standard perceptual
    * fingerprint for image-corpus dedup: re-encodes, resizes and small
    * edits move few bits, so near-duplicates sit within a small Hamming
    * radius. `phash` is null when the payload doesn't decode. All
    * gradient comparisons are codegen'd column arithmetic over the one
    * grid array — no second decode, no UDF.
    */
  def dHash(df: DataFrame, payload: String = "payload"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val bits = (0 until 64).map { i =>
      val r = i / 8
      val c = i % 8
      // element_at is 1-based; the grid is row-major, 9 cells per row
      shiftleft((element_at(col("_g"), r * 9 + c + 1) >
        element_at(col("_g"), r * 9 + c + 2)).cast("long"), i)
    }.reduce(_ bitwiseOR _)
    df.withColumn("_g",
      call_function("graft_img_grid", col(payload), lit(9), lit(8)))
      .withColumn("phash", when(col("_g").isNotNull, bits))
      .drop("_g")
  }

  /** Perceptual near-duplicate pairs over [[dHash]]: the 64-bit hash
    * splits into `bands` equal key slices; by pigeonhole, two hashes
    * within Hamming distance < `bands` share at least one identical
    * slice, so a per-band equi-self-join generates a no-recall-loss
    * candidate set for maxHamming <= bands - 1 (default 8 bands covers
    * the customary <=7-bit near-dup radius; wider radii are recall-only,
    * like every banded detector here). Each surviving pair is CLAIMED by
    * its first matching band — both hashes ride the candidate row, so
    * ownership is an inline filter and no dedup shuffle exists. Same
    * skew cap as d2/d3: bands whose key bucket exceeds `maxBucketSize`
    * (flat-color boilerplate images) are dropped, recall-only.
    */
  def phashPairs(df: DataFrame, idCol: String, maxHamming: Int = 6,
                 bands: Int = 8, maxBucketSize: Int = 10000,
                 payload: String = "payload"): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    val width = 64 / bands
    val mask = (1L << width) - 1
    def bandKey(h: org.apache.spark.sql.Column, b: Int) =
      shiftright(h, b * width).bitwiseAND(lit(mask))
    val hashed = dHash(df, payload).where(col("phash").isNotNull)
      .select(col(idCol).as("id"), col("phash"))
    val banded = hashed.select(col("id"), col("phash"),
      posexplode(array((0 until bands).map(b =>
        bandKey(col("phash"), b)): _*)).as(Seq("band", "key")))
    val wp = org.apache.spark.sql.expressions.Window.partitionBy(
      col("band"), col("key"))
    val bounded = banded
      .withColumn("_bsz", count(lit(1)).over(wp))
      .where(col("_bsz") <= maxBucketSize)
      .select("id", "phash", "band", "key")
    val l = bounded.select(col("id").as("id_a"), col("phash").as("ha"),
      col("band"), col("key"))
    val r = bounded.select(col("id").as("id_b"), col("phash").as("hb"),
      col("band"), col("key"))
    val earlierMatches = (0 until bands).map { b2 =>
      ((lit(b2) < col("band")) &&
        (bandKey(col("ha"), b2) === bandKey(col("hb"), b2)))
        .cast("int")
    }.reduce(_ + _)
    l.join(r, Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .where(earlierMatches === 0) // first shared band owns the pair
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
