package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: images/audio/video as opaque `binary`
  * columns with typed metadata, plus the partition-batched decode pattern.
  *
  * The container has no image/audio codecs, so the DECODE STEP IS A
  * DETERMINISTIC FAKE (clearly marked below); everything around it —
  * schema shape, binary columns, frame-explosion, metadata structs, the
  * `mapPartitions` batch-decode seam — is real and tested. Swapping
  * [[fakeDecode]] for a JNI/codec call is the only change needed for real
  * media.
  *
  * Scale posture: media bytes dominate row size → never shuffle the binary
  * column through wide ops; extract metadata/features first, project the
  * bytes away, and let the scan prune the binary column when a query only
  * needs metadata (columnar parquet does this for free).
  */
object Multimodal {

  /** Attach a binary media column. Testdata has no real media, so bytes
    * are the UTF-8 encoding of `payload` — an opaque byte source as far
    * as every downstream operator is concerned.
    */
  def withMediaBytes(df: DataFrame, payload: Column, out: String = "media"): DataFrame =
    df.withColumn(out, payload.cast("binary"))

  /** Frame sampling: slice the payload into `n` fixed-stride frames,
    * exploded to (id, frame_idx, frame) rows — the real plumbing shape a
    * video pipeline uses (frame rows flow into per-frame feature ops).
    */
  def frameSample(df: DataFrame, payload: Column, n: Int = 4,
                  stride: Int = 100): DataFrame =
    df.withColumn("f",
        explode(array((0 until n).map(i =>
          struct(lit(i).as("frame_idx"),
            substring(payload, i * stride + 1, stride).as("frame"))): _*)))
      .withColumn("frame_idx", col("f.frame_idx"))
      .withColumn("frame", col("f.frame"))
      .drop("f")

  // ---------- real header formats (pure byte arithmetic, no codec) ----------

  /** Little-endian hex encoding of the low `n` bytes of an int expression —
    * the building block for assembling real binary headers in-plan.
    */
  private def leHex(v: Column, n: Int): Column =
    concat((0 until n).map(i =>
      lpad(hex(shiftright(v, 8 * i).bitwiseAND(lit(255))), 2, "0")): _*)

  /** Little-endian unsigned field of `n` bytes at 1-based byte offset
    * `off` of a binary column: hex the slice, reverse its byte pairs,
    * radix-convert. All codegen'd string/bit ops — no UDF.
    */
  private def leInt(media: Column, off: Int, n: Int): Column = {
    val h = hex(substring(media, off, n))
    val reversed = concat((n - 1 to 0 by -1).map(i =>
      substring(h, i * 2 + 1, 2)): _*)
    conv(reversed, 16, 10).cast("long")
  }

  /** A REAL 54-byte BMP header (BITMAPFILEHEADER + BITMAPINFOHEADER,
    * 24 bpp, BI_RGB) for the given dimensions — spec-valid bytes, built
    * entirely with Catalyst expressions. Prepend to a payload to get a
    * parseable .bmp byte stream.
    */
  def bmpHeader(width: Column, height: Column, dataLen: Column): Column =
    unhex(concat(
      lit("424D"),                  // 'BM' magic
      leHex(dataLen + lit(54), 4),  // file size
      lit("00000000"),              // reserved
      leHex(lit(54), 4),            // pixel-data offset
      leHex(lit(40), 4),            // DIB header size
      leHex(width, 4),
      leHex(height, 4),
      leHex(lit(1), 2),             // color planes
      leHex(lit(24), 2),            // bits per pixel
      lit("00000000"),              // compression = BI_RGB
      leHex(dataLen, 4),            // image size
      lit("00000000" * 4)))         // ppm resolution + palette fields

  /** Parse width/height/byte_len from REAL BMP header bytes (the
    * little-endian ints at offsets 18/22) — actual header arithmetic,
    * not a length-derived fake.
    */
  def bmpMeta(df: DataFrame, media: Column): DataFrame =
    df.withColumn("byte_len", length(media))
      .withColumn("width", leInt(media, 19, 4).cast("int"))
      .withColumn("height", leInt(media, 23, 4).cast("int"))

  /** A REAL 44-byte canonical PCM WAV header (RIFF/WAVE/fmt/data). */
  def wavHeader(sampleRate: Column, channels: Column, bitsPerSample: Column,
                dataLen: Column): Column = {
    val blockAlign = channels * (bitsPerSample / lit(8))
    val byteRate = sampleRate * blockAlign
    unhex(concat(
      lit("52494646"),              // 'RIFF'
      leHex(dataLen + lit(36), 4),  // RIFF chunk size
      lit("57415645"),              // 'WAVE'
      lit("666D7420"),              // 'fmt '
      leHex(lit(16), 4),            // fmt chunk size (PCM)
      leHex(lit(1), 2),             // audio format = PCM
      leHex(channels, 2),
      leHex(sampleRate, 4),
      leHex(byteRate, 4),
      leHex(blockAlign, 2),
      leHex(bitsPerSample, 2),
      lit("64617461"),              // 'data'
      leHex(dataLen, 4)))
  }

  /** Parse the canonical PCM WAV fields back out of real header bytes. */
  def wavMeta(df: DataFrame, media: Column): DataFrame =
    df.withColumn("byte_len", length(media))
      .withColumn("n_channels", leInt(media, 23, 2).cast("int"))
      .withColumn("sample_rate", leInt(media, 25, 4).cast("int"))
      .withColumn("bits_per_sample", leInt(media, 35, 2).cast("int"))
      .withColumn("data_len", leInt(media, 41, 4))

  /** Per-frame RMS energy over a canonical 16-bit PCM WAV byte stream:
    * the audio feature-extraction primitive (silence trimming, VAD
    * windows, loudness normalization all start from exactly this table).
    * The data-section length is read from the header ('data' size at
    * offset 41), each little-endian int16 is decoded with the same
    * hex/conv codegen'd byte reads as [[wavMeta]] (sign via the two's-
    * complement fold u − 65536·[u ≥ 2¹⁵] — a branch any engine evaluates
    * identically), and frames of `frameSamples` samples aggregate
    * Σs² / n — INTEGER arithmetic, exact and order-independent with no
    * decimal detour — before the one final sqrt.
    *
    * Shape: one native pass per clip ([[graft.functions.Pcm16Frames]])
    * emitting the per-frame integer moments directly, then an explode to
    * frame rows — the expression twin of the [[decodeBatched]]
    * mapPartitions codec seam (which is where a real codec would amortize
    * per-file setup at 100 TB; this path needs no codec at all for PCM).
    * A trailing odd byte is ignored (not a full sample); docs with an
    * empty data section produce no rows.
    *
    * Returns (id, frame, n_samples, rms) with `rms` raw (callers round).
    */
  def wavFrameRms(df: DataFrame, id: Column, media: Column,
                  frameSamples: Int = 64): DataFrame = {
    // r16: ONE native pass per clip (graft_pcm16_frames) replaces the
    // sequence-explode + four string-allocating conv(hex(substr)) byte
    // reads per sample + the (id, frame) aggregate exchange (guide §4/
    // §2.4): the kernel emits each frame's integer (n, Σs²) directly, so
    // the per-clip grain never expands to per-sample rows and the groupBy
    // disappears. Same integer sums (order-free), same final
    // sqrt(Σs²/n) double; empty data sections vanish exactly like the
    // old `ns > 0` filter (empty array explodes to no rows).
    // MultimodalSpec pins parity against the explode formulation.
    df.select(id.as("id"),
        explode(graft.functions.GraftFunctions.pcm16Frames(media, frameSamples)).as("f"))
      .select(col("id"), col("f.frame").as("frame"),
        col("f.n").as("n_samples"),
        sqrt(col("f.sumsq").cast("double") / col("f.n").cast("double"))
          .as("rms"))
  }

  /** Per-clip zero-crossing count/rate over a 16-bit PCM WAV byte stream
    * AFTER DC-offset removal — the classic voiced/unvoiced + noisiness
    * audio feature next to [[wavFrameRms]]'s energy. Raw PCM routinely
    * carries a DC bias (here structurally: the fixture payloads are
    * ASCII, so the raw sign bit never flips), so the standard practice is
    * to count crossings of the clip MEAN. Samples are sign-converted
    * (two's-complement, same `signed()` as [[wavDeltaAudit]]) BEFORE the
    * mean test, so real PCM with negative samples (raw u ≥ 0x8000) is
    * handled correctly, not treated as a huge positive. The mean test is
    * the integer cross-multiplication `n·sᵢ > Σs` — no float boundary
    * anywhere, so the counts are bit-exact in any engine. Σs and the
    * crossing count are computed in ONE native pass per clip
    * ([[graft.functions.Pcm16Zcr]]) — no per-sample explode, no lag
    * window, no per-clip sort. Ties (`== mean`) count as the non-high
    * side. Returns (id, n_samples, crossings, zcr).
    */
  def wavZeroCrossings(df: DataFrame, id: Column, media: Column): DataFrame = {
    // r16: ONE native pass per clip (graft_pcm16_zcr) replaces the
    // interpreted aggregate-HOF Σs fold (which re-decoded the whole clip
    // per clip through string-allocating byte reads), the per-sample
    // explode with FOUR more byte reads per row, and the per-id aggregate
    // exchange (guide §4/§2.4). The kernel runs the identical integer
    // n·sᵢ > Σs cross-multiplication test sequentially, so
    // (n_samples, crossings) are bit-exact; zcr = crossings/(ns−1) is the
    // same long/long→double division the sum/count form produced. Clips
    // with ns ≤ 1 return a null struct and are filtered exactly like the
    // old `__ns > 1` gate. MultimodalSpec pins parity.
    // gate on the header-derived sample count, NOT isnotnull(kernel): a
    // kernel-valued filter gets pushed below the projection and the
    // expression is then evaluated twice per row (once in the Filter,
    // once in the Project — visible in plans/r16). The header read is a
    // few codegen'd string ops on 8 bytes; surviving rows always have a
    // non-null kernel struct (ns > 1 is exactly its null condition).
    val ns = (leInt(media, 41, 4) / lit(2)).cast("long")
    df.select(id.as("id"), media.as("__m"), ns.as("__ns"))
      .filter(col("__ns") > 1)
      .select(col("id"),
        graft.functions.GraftFunctions.pcm16Zcr(col("__m")).as("z"))
      .select(col("id"), col("z.n_samples").as("n_samples"),
        col("z.crossings").as("crossings"),
        (col("z.crossings").cast("double") /
          (col("z.n_samples") - 1).cast("double")).as("zcr"))
  }

  /** Delta-encoding feasibility audit over 16-bit PCM samples — the
    * compression primitive every audio/timeseries codec starts from:
    * per clip, the max/mean absolute successive difference and the bit
    * width the deltas actually need (`length(bin(max))` — an exact
    * string-length computation, no log2 float boundary). A clip whose
    * `delta_bits` ≪ 16 delta-encodes profitably; the mean is an exact
    * integer ratio. Same 4-byte-read projection shape as
    * [[wavZeroCrossings]] — no lag window, no per-clip sort.
    * Returns (id, n_deltas, max_abs_delta, mean_abs_delta, delta_bits).
    */
  def wavDeltaAudit(df: DataFrame, id: Column, media: Column): DataFrame = {
    // r16: same single-pass nativization as [[wavZeroCrossings]] — the
    // kernel returns (n_deltas, max |Δ|, Σ|Δ|) as exact longs; mean and
    // delta_bits are the same long→double division and length(bin(max))
    // the aggregate produced. MultimodalSpec pins parity.
    // header-derived gate, not isnotnull(kernel) — see wavZeroCrossings
    val ns = (leInt(media, 41, 4) / lit(2)).cast("long")
    df.select(id.as("id"), media.as("__m"), ns.as("__ns"))
      .filter(col("__ns") > 1)
      .select(col("id"),
        graft.functions.GraftFunctions.pcm16Delta(col("__m")).as("d"))
      .select(col("id"), col("d.n_deltas").as("n_deltas"),
        col("d.max_abs").as("max_abs_delta"),
        (col("d.sum_abs").cast("double") /
          col("d.n_deltas").cast("double")).as("mean_abs_delta"),
        length(bin(col("d.max_abs"))).cast("int").as("delta_bits"))
  }

  // ---------- perceptual hashing (aHash) ----------

  /** One 16-bit chunk of the 64-bit average hash, emitted ONCE as
    * portable SQL over named sample columns `s0..s63` + `mean` — the
    * engine wraps the string in `expr(...)`, the m05 oracle embeds the
    * SAME string over its own sample derivation, so the bit-pack
    * formula cannot drift (the Layout.hilbertLevelSql pattern).
    */
  private[graft] def aHashChunkSql(j: Int): String =
    (0 until 16).map { i =>
      val b = 16 * j + i
      s"(CASE WHEN s$b > mean THEN 1 ELSE 0 END) * ${1L << i}"
    }.mkString(" + ")

  /** 64-bit average-hash (aHash) perceptual fingerprint: sample 64
    * pixel bytes at LENGTH-NORMALIZED positions from the media payload
    * (`pos_i = ⌊i·len/64⌋` past the 54-byte BMP header for real .bmp
    * streams — the same size-normalized grid a real aHash gets from the
    * 8×8 resize; a fixed stride would only ever see the payload's head,
    * which on template-prefixed corpora saturates every fingerprint to
    * the shared prefix), threshold each against the mean of the 64, pack
    * the bits into four 16-bit chunks `c0..c3` (the [[graft.ext.Dedup]]
    * SimHash pigeonhole layout: hamming ≤ 3 ⇒ at least one chunk equal).
    * This is THE standard image near-dup fingerprint (mean-threshold
    * aHash); swapping decoded luma for the byte read keeps every
    * downstream op unchanged. All codegen'd expressions (hex/conv byte
    * reads, CASE packs): no UDF, no shuffle. An empty payload samples as
    * all-0 on both engines. `i·len/64` stays exact through the double
    * divide (dividing by a power of two), so the truncating cast IS
    * integer division on both engines.
    */
  /** ViT-style patch pooling: mean byte intensity per cell of a 4×4
    * patch grid, each patch pooling a 2×2 block of the SAME
    * length-normalized 8×8 sample grid [[aHash]] thresholds — the
    * patch-embedding front half of every vision transformer, with the
    * byte read standing in for decoded luma exactly as in aHash. Sums
    * of ≤4 small ints are exact, the /4.0 is an exact quarter — no
    * decimal detour anywhere. Long-form output (doc, patch_row,
    * patch_col, mean_byte): 16 rows per doc, pure codegen'd
    * expressions, no shuffle before whatever aggregates downstream.
    */
  def patchPool(df: DataFrame, id: Column, media: Column,
                pixelOffset: Int = 54): DataFrame = {
    val payloadLen = length(media) - lit(pixelOffset)
    def sample(i: Int): Column = coalesce(
      conv(hex(media.substr(lit(pixelOffset + 1) +
        ((lit(i) * payloadLen) / lit(64)).cast("int"), lit(1))), 16, 10)
        .cast("int"), lit(0))
    val patches = (0 until 16).map { p =>
      val (r, c) = (p / 4, p % 4)
      val idxs = for { dr <- 0 to 1; dc <- 0 to 1 }
        yield (2 * r + dr) * 8 + (2 * c + dc)
      struct(lit(r).as("pr"), lit(c).as("pc"),
        (idxs.map(sample).reduce(_ + _) / lit(4.0)).as("mean_byte"))
    }
    df.select(id.as("doc_id"), explode(array(patches: _*)).as("e"))
      .select(col("doc_id"), col("e.pr").as("pr"), col("e.pc").as("pc"),
        col("e.mean_byte").as("mean_byte"))
  }

  /** Shot-boundary (scene-change) detection over a byte stream — the
    * video-curation front end that splits a clip into shots before
    * frame-sampling one per shot: the payload divides into `frames`
    * equal spans, each span's brightness proxy is the mean of
    * `samplesPerFrame` evenly-spaced byte reads, and a boundary fires
    * where consecutive means jump by more than `threshold`.
    *
    * One pure expression projection (the aHash byte-grid idiom): all
    * frames·samples reads, the means, diffs and the shot count compute
    * in a single codegen'd map — no explode, no window, no shuffle.
    * Parity: integer byte sums divided by a power of two are exact
    * doubles, so diffs and threshold compares are bit-identical
    * cross-engine. Returns (doc_id, n_shots, max_jump).
    */
  def sceneChanges(df: DataFrame, id: Column, media: Column,
                   frames: Int = 8, samplesPerFrame: Int = 16,
                   threshold: Double = 8.0): DataFrame = {
    val n = frames * samplesPerFrame
    val payloadLen = length(media)
    def sample(i: Int): Column = coalesce(
      conv(hex(media.substr(lit(1) + ((lit(i) * payloadLen) / lit(n)).cast("int"),
        lit(1))), 16, 10).cast("int"), lit(0))
    val frameMeans = (0 until frames).map { f =>
      val s = (0 until samplesPerFrame)
        .map(k => sample(f * samplesPerFrame + k)).reduce(_ + _)
      (s.cast("double") / lit(samplesPerFrame.toDouble)).as(s"m$f")
    }
    val withM = df.select(id.as("doc_id") +: frameMeans: _*)
    val diffs = (1 until frames).map(f => abs(col(s"m$f") - col(s"m${f - 1}")))
    withM.select(col("doc_id"),
      (lit(1) + diffs.map(d => when(d > threshold, 1).otherwise(0))
        .reduce(_ + _)).cast("long").as("n_shots"),
      greatest(diffs: _*).as("max_jump"))
  }

  def aHash(df: DataFrame, media: Column, pixelOffset: Int = 54): DataFrame = {
    val payloadLen = length(media) - lit(pixelOffset)
    val withSamples = (0 until 64).foldLeft(df) { (cur, i) =>
      val pos = lit(pixelOffset + 1) +
        ((lit(i) * payloadLen) / lit(64)).cast("int")
      cur.withColumn(s"s$i", coalesce(
        conv(hex(media.substr(pos, lit(1))), 16, 10).cast("int"), lit(0)))
    }
    val withMean = withSamples.withColumn("mean",
      expr((0 until 64).map(i => s"s$i").mkString("(", " + ", ") / 64.0")))
    val withChunks = (0 until 4).foldLeft(withMean) { (cur, j) =>
      cur.withColumn(s"c$j", expr(aHashChunkSql(j)).cast("long"))
    }
    withChunks.drop((0 until 64).map(i => s"s$i") :+ "mean": _*)
  }

  /** Perceptual near-dup pairs by aHash hamming ≤ `maxHamming` through
    * [[Dedup.bandedHammingPairs]], the SimHash text twin. At the default
    * 8 (the practical aHash bar) the chunk join trades recall like t07's
    * banded MinHash; the m05 oracle replicates the SAME blocking. */
  def aHashNearDups(df: DataFrame, id: Column, media: Column,
                    maxHamming: Int = 8): DataFrame = {
    val h = aHash(df.select(id.as("doc"), media.as("__m")), col("__m"))
      .select(col("doc"), col("c0"), col("c1"), col("c2"), col("c3"))
      .localCheckpoint() // feeds the band table AND both verify sides
    Dedup.bandedHammingPairs(h, maxHamming)
  }

  // ---------- partition-batched decode seam ----------

  final case class MediaRow(doc_id: Long, media: Array[Byte])
  final case class DecodedRow(doc_id: Long, width: Int, height: Int,
                              n_pixels: Long, checksum: Long)

  /** STUB CODEC — deterministic fake standing in for a real decoder
    * (no image libs in this container). Derives stable pseudo-dimensions
    * and a checksum from the bytes. Replace with a real codec to ship.
    */
  def fakeDecode(m: MediaRow): DecodedRow = {
    val crc = new java.util.zip.CRC32
    crc.update(m.media)
    val w = (m.media.length % 640) + 32
    // long math: length * 7 overflows Int for media over ~306 MB
    val h = ((m.media.length.toLong * 7) % 480).toInt + 32
    DecodedRow(m.doc_id, w, h, w.toLong * h, crc.getValue)
  }

  /** The batched-decode pattern (Scala analogue of mapInPandas): decode
    * per PARTITION so codec init happens once per task, not once per row —
    * the shape that matters at scale. `codec` is injected so tests drive
    * the seam with [[fakeDecode]].
    */
  def decodeBatched(ds: Dataset[MediaRow],
                    codec: MediaRow => DecodedRow = fakeDecode): Dataset[DecodedRow] = {
    implicit val enc: Encoder[DecodedRow] = Encoders.product[DecodedRow]
    ds.mapPartitions { it =>
      // per-partition codec initialization would go here (once per task)
      it.map(codec)
    }
  }
}
