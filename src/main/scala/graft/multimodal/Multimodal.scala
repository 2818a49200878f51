package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column surface: image/audio/video as opaque `binary`
  * columns with typed metadata, plus the batch-shaped kernels a
  * training-data pipeline runs over them (decode, feature-extract,
  * resize, frame-sample).
  *
  * This is an extension beyond the reference (which is numeric-matrix
  * only) mandated by the engine's 100 TB training-pipeline goal. Design
  * rules that survive scale:
  *
  *  - payloads stay OPAQUE BYTES end-to-end; Spark never interprets
  *    them, so pushdown/pruning on the metadata columns is unaffected
  *    and a scan that projects only metadata never touches the bytes
  *    (parquet column pruning);
  *  - per-record work runs in `mapPartitions` over Datasets — one JVM
  *    pass per partition, no driver collect, no per-row UDF dispatch;
  *  - decode is a pluggable kernel: the container has no image/audio
  *    codecs, so the default `FakeCodec` is a DETERMINISTIC STUB that
  *    fabricates pixels/samples from the payload bytes. The pipeline
  *    shape (schemas, batching, partitioning) is real and tested; a
  *    production deployment swaps `Codec` for a JNI/javax.imageio one.
  */
object Multimodal {

  /** Typed metadata carried next to the opaque payload. */
  final case class MediaMeta(
      kind: String, // image | audio | video
      format: String, // png, wav, mp4, ... (advisory)
      width: Int, height: Int, channels: Int, // image/video
      sampleRate: Int, durationMs: Long, // audio/video
      frames: Int) // video

  final case class MediaRecord(
      media_id: Long,
      meta: MediaMeta,
      payload: Array[Byte])

  /** Decoded dense image tensor (H x W x C, row-major bytes). */
  final case class ImageTensor(
      media_id: Long, width: Int, height: Int, channels: Int,
      pixels: Array[Byte])

  /** A codec turns opaque payload bytes into tensors/samples. */
  trait Codec extends Serializable {
    def decodeImage(meta: MediaMeta, payload: Array[Byte]): ImageTensor
    def decodeAudio(meta: MediaMeta, payload: Array[Byte]): Array[Short]
    /** Decode one video frame by index. */
    def decodeFrame(meta: MediaMeta, payload: Array[Byte], frame: Int): ImageTensor
  }

  /** STUB codec — deterministic fake decode (no real codecs in this
    * environment). Pixels are a keyed byte stream of the payload so the
    * same record always decodes identically; replace with a real codec
    * in production. The surrounding plumbing does not change.
    */
  object FakeCodec extends Codec {
    private def stream(payload: Array[Byte], salt: Long, n: Int): Array[Byte] = {
      val out = new Array[Byte](n)
      var h = salt * 0x9e3779b97f4a7c15L
      var i = 0
      while (i < n) {
        h ^= (if (payload.length > 0) payload(i % payload.length) else 0).toLong
        h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
        out(i) = (h & 0xff).toByte
        i += 1
      }
      out
    }
    def decodeImage(meta: MediaMeta, payload: Array[Byte]): ImageTensor =
      ImageTensor(-1, meta.width, meta.height, meta.channels,
        stream(payload, 1L, meta.width * meta.height * meta.channels))
    def decodeAudio(meta: MediaMeta, payload: Array[Byte]): Array[Short] = {
      val n = (meta.sampleRate.toLong * meta.durationMs / 1000).toInt
      val b = stream(payload, 2L, n * 2)
      Array.tabulate(n)(i => ((b(2 * i) << 8) | (b(2 * i + 1) & 0xff)).toShort)
    }
    def decodeFrame(meta: MediaMeta, payload: Array[Byte], frame: Int): ImageTensor =
      ImageTensor(-1, meta.width, meta.height, meta.channels,
        stream(payload, 3L + frame, meta.width * meta.height * meta.channels))
  }

  /** REAL codec over real byte formats — the proof that the kernel
    * family is codec-agnostic by construction, not just stub-shaped:
    *  - images: binary PPM (P6) — `P6\n<w> <h>\n255\n` + raw RGB;
    *  - audio: PCM WAV (RIFF) — the `data` chunk as 16-bit LE samples;
    *  - video: concatenated P6 frames (frame i = the i-th image).
    * Dimensions come from the BYTES, not the advisory metadata — what
    * a production imageio/JNI codec would do. MultimodalSpec proves
    * FakeCodec-fabricated tensors, re-encoded through these formats
    * and decoded back, run every kernel (aHash, features, frame
    * trace) to identical results.
    */
  object PpmWavCodec extends Codec {
    private def token(b: Array[Byte], from: Int): (String, Int) = {
      var i = from
      while (i < b.length && (b(i) == ' ' || b(i) == '\n' || b(i) == '\r'
        || b(i) == '\t')) i += 1
      val s = i
      while (i < b.length && b(i) != ' ' && b(i) != '\n' && b(i) != '\r'
        && b(i) != '\t') i += 1
      (new String(b, s, i - s, "US-ASCII"), i)
    }

    /** Parse one P6 image starting at `from`; returns (tensor, next offset). */
    private def decodePpmAt(payload: Array[Byte], from: Int): (ImageTensor, Int) = {
      val (magic, i0) = token(payload, from)
      require(magic == "P6", s"not a binary PPM at offset $from: $magic")
      val (ws, i1) = token(payload, i0)
      val (hs, i2) = token(payload, i1)
      val (ms, i3) = token(payload, i2)
      require(ms == "255", s"unsupported maxval $ms")
      val (w, h) = (ws.toInt, hs.toInt)
      val start = i3 + 1 // single whitespace byte after maxval
      val n = w * h * 3
      require(start + n <= payload.length, "truncated PPM payload")
      (ImageTensor(-1, w, h, 3,
        java.util.Arrays.copyOfRange(payload, start, start + n)), start + n)
    }

    def decodeImage(meta: MediaMeta, payload: Array[Byte]): ImageTensor =
      decodePpmAt(payload, 0)._1

    def decodeAudio(meta: MediaMeta, payload: Array[Byte]): Array[Short] = {
      require(payload.length >= 12 &&
        new String(payload, 0, 4, "US-ASCII") == "RIFF" &&
        new String(payload, 8, 4, "US-ASCII") == "WAVE", "not a RIFF/WAVE")
      def le32(i: Int): Int = (payload(i) & 0xff) | ((payload(i + 1) & 0xff) << 8) |
        ((payload(i + 2) & 0xff) << 16) | ((payload(i + 3) & 0xff) << 24)
      // chunk walk with a bounds guard (a malformed size field or a
      // missing data chunk fails with a message, not an out-of-range
      // read) and the RIFF pad rule: chunks are word-aligned, so an
      // odd-sized chunk is followed by one pad byte not counted in its
      // size field
      var i = 12
      while (i + 8 <= payload.length &&
        new String(payload, i, 4, "US-ASCII") != "data") {
        val sz = le32(i + 4)
        require(sz >= 0, s"negative RIFF chunk size at offset $i")
        i += 8 + sz + (sz & 1)
      }
      require(i + 8 <= payload.length, "RIFF/WAVE without a data chunk")
      val len = le32(i + 4)
      val data = i + 8
      require(len >= 0 && data + len <= payload.length,
        s"truncated WAVE data chunk: $len bytes at offset $data")
      Array.tabulate(len / 2)(k =>
        ((payload(data + 2 * k) & 0xff) |
          (payload(data + 2 * k + 1) << 8)).toShort)
    }

    def decodeFrame(meta: MediaMeta, payload: Array[Byte], frame: Int): ImageTensor = {
      var off = 0
      var f = 0
      while (f < frame) { off = decodePpmAt(payload, off)._2; f += 1 }
      decodePpmAt(payload, off)._1
    }
  }

  /** Encoders for the real formats — the sink side of the round-trip
    * (and the spec's bridge from fabricated tensors to real bytes). */
  object RealFormats {
    def encodePpm(t: ImageTensor): Array[Byte] = {
      require(t.channels == 3, s"PPM is RGB; got ${t.channels} channels")
      val header = s"P6\n${t.width} ${t.height}\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + t.pixels.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(t.pixels, 0, out, header.length, t.pixels.length)
      out
    }

    def encodePpmFrames(frames: Seq[ImageTensor]): Array[Byte] =
      frames.map(encodePpm).reduce(_ ++ _)

    def encodeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(sampleRate).putInt(sampleRate * 2)
        .putShort(2).putShort(16) // block align, bits/sample
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
  }

  /** Ingest: attach payloads + typed metadata to a keyed DataFrame.
    * `payloadCol` must be binary; metadata arrives as plain columns so
    * parquet stats/pruning work on them.
    */
  def ingest(df: DataFrame, idCol: String, payloadCol: String,
      kind: String, format: String,
      width: Int = 0, height: Int = 0, channels: Int = 0,
      sampleRate: Int = 0, durationMs: Long = 0L, frames: Int = 0)
      : Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      col(idCol).cast("long").as("media_id"),
      struct(
        lit(kind).as("kind"), lit(format).as("format"),
        lit(width).as("width"), lit(height).as("height"),
        lit(channels).as("channels"), lit(sampleRate).as("sampleRate"),
        lit(durationMs).as("durationMs"), lit(frames).as("frames")).as("meta"),
      col(payloadCol).as("payload")).as[MediaRecord]
  }

  /** Decode + feature-extract images in one partition pass: per-channel
    * mean/std over the decoded tensor → a 2C-dim float embedding.
    * (With a real codec this is the CLIP-preprocessing slot.)
    */
  def imageFeatures(media: Dataset[MediaRecord], codec: Codec = FakeCodec)
      : DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val t = codec.decodeImage(r.meta, r.payload)
        val c = t.channels
        val px = t.pixels
        val n = px.length / math.max(c, 1)
        val sum = new Array[Double](c)
        val sumSq = new Array[Double](c)
        var i = 0
        while (i < px.length) {
          val ch = i % c
          val v = (px(i) & 0xff).toDouble
          sum(ch) += v; sumSq(ch) += v * v
          i += 1
        }
        val feat = Array.tabulate(2 * c) { j =>
          val ch = j / 2
          val mean = sum(ch) / n
          if (j % 2 == 0) mean.toFloat
          else math.sqrt(math.max(0, sumSq(ch) / n - mean * mean)).toFloat
        }
        (r.media_id, feat)
      }
    }.toDF("media_id", "features")
  }

  /** Perceptual average-hash (aHash) in one partition pass: decode →
    * grayscale (per-pixel channel mean) → 8×8 block downsample →
    * one bit per cell (cell > global cell mean), packed MSB-first into
    * a long. Real math over the decoded tensor — with a real codec
    * only `decodeImage` changes.
    *
    * Works for ANY decoded dimensions (ADVICE r13 — a single
    * non-8-divisible record must not fail the whole x12/s44 query):
    * each pixel lands in cell (y*8/ht, x*8/wd). When 8 | wd and
    * 8 | ht every cell holds the same pixel count, and the bits are
    * computed by comparing cell SUMS — bit-identical to the original
    * fixed-block kernel (the x12/s44 golden premise). Unequal blocks
    * (non-divisible dims) compare cell MEANS instead, the unbiased
    * generalization; an empty cell (an axis under 8 px) contributes
    * mean 0. */
  def aHash(media: Dataset[MediaRecord], codec: Codec = FakeCodec)
      : DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val t = codec.decodeImage(r.meta, r.payload)
        (r.media_id, aHashOf(t))
      }
    }.toDF("media_id", "phash")
  }

  /** The aHash kernel over a decoded tensor (pure — spec'd directly). */
  private[multimodal] def aHashOf(t: ImageTensor): Long = {
    val (wd, ht, c) = (t.width, t.height, t.channels)
    val sums = new Array[Double](64)
    val counts = new Array[Long](64)
    var y = 0
    while (y < ht) {
      val cy = y * 8 / ht // == y / (ht/8) when 8 | ht
      var x = 0
      while (x < wd) {
        var g = 0.0
        var ch = 0
        val base = (y * wd + x) * c
        while (ch < c) { g += (t.pixels(base + ch) & 0xff).toDouble; ch += 1 }
        val cell = cy * 8 + x * 8 / wd
        sums(cell) += g / c
        counts(cell) += 1L
        x += 1
      }
      y += 1
    }
    val uniform = wd % 8 == 0 && ht % 8 == 0
    // uniform blocks: compare SUMS (bit-identical to the fixed-block
    // kernel the x12/s44 goldens pinned — equal counts make sums and
    // means order-equivalent in exact arithmetic, but dividing could
    // flip a borderline bit in IEEE); unequal blocks: compare MEANS
    val cells =
      if (uniform) sums
      else Array.tabulate(64)(i => if (counts(i) > 0) sums(i) / counts(i) else 0.0)
    val mean = cells.sum / 64.0
    var h = 0L
    var i = 0
    while (i < 64) {
      if (cells(i) > mean) h |= 1L << (63 - i)
      i += 1
    }
    h
  }

  /** Nearest-neighbor resize of decoded images — real math over the
    * (fake-)decoded tensor, emitted as a new tensor per record.
    */
  def resize(media: Dataset[MediaRecord], outW: Int, outH: Int,
      codec: Codec = FakeCodec): Dataset[ImageTensor] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val t = codec.decodeImage(r.meta, r.payload)
        val c = t.channels
        val out = new Array[Byte](outW * outH * c)
        var y = 0
        while (y < outH) {
          val sy = y * t.height / outH
          var x = 0
          while (x < outW) {
            val sx = x * t.width / outW
            var ch = 0
            while (ch < c) {
              out((y * outW + x) * c + ch) = t.pixels((sy * t.width + sx) * c + ch)
              ch += 1
            }
            x += 1
          }
          y += 1
        }
        ImageTensor(r.media_id, outW, outH, c, out)
      }
    }
  }

  /** Video frame sampling: every `stride`-th frame decoded and emitted
    * as its own row (one-to-many flatMap, the P2 shape applied to
    * media). Output partitioning follows the input — no shuffle.
    */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int,
      codec: Codec = FakeCodec): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        (0 until r.meta.frames by stride).iterator.map { f =>
          val t = codec.decodeFrame(r.meta, r.payload, f)
          (r.media_id, f, t.width, t.height, t.channels, t.pixels)
        }
      }
    }.toDF("media_id", "frame", "width", "height", "channels", "pixels")
  }

  /** Per-frame mean intensity over the decoded tensor — the scalar
    * trace shot-boundary detection runs on (mean-intensity difference
    * is the classic first-pass cut detector; with a real codec this
    * slot holds a histogram or embedding distance). Decode + reduce in
    * ONE partition pass: only (media_id, frame, mean) leaves the
    * decoder, never pixels — at 100 TB the frame tensors exist only
    * inside the task.
    */
  def frameMeans(media: Dataset[MediaRecord], stride: Int = 1,
      codec: Codec = FakeCodec): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        (0 until r.meta.frames by stride).iterator.map { f =>
          val t = codec.decodeFrame(r.meta, r.payload, f)
          var s = 0L
          var i = 0
          while (i < t.pixels.length) { s += (t.pixels(i) & 0xff); i += 1 }
          (r.media_id, f, s.toDouble / t.pixels.length)
        }
      }
    }.toDF("media_id", "frame", "mean_intensity")
  }

  // ---- content-defined chunking (CDC) over opaque payloads ----
  // Gear-hash CDC (Xia et al., "FastCDC", USENIX ATC 2016 — the
  // rolling-hash family behind storage dedup in restic/borg/LBFS): a
  // boundary is declared where the rolling hash of the last bytes
  // masks to zero, so chunk boundaries are a function of CONTENT, not
  // offset — two payloads sharing a byte range chunk it identically
  // even at different offsets (the resync property fixed-block dedup
  // lacks; asserted in MultimodalSpec with shifted payloads). The gear
  // table is a deterministic splitmix64 stream, so chunking is a pure
  // function of the bytes: re-runs, backfills, and the pinned golden
  // all reproduce it exactly.

  /** 256-entry gear table from a fixed splitmix64 stream. */
  private val gearTable: Array[Long] = {
    var x = 0x243f6a8885a308d3L // fixed seed; NOT derived from runtime
    Array.fill(256) {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
  }

  /** FNV-1a 64-bit over a byte range — the chunk's content address. */
  def fnv64(bytes: Array[Byte], from: Int, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    val end = from + len
    while (i < end) {
      h ^= (bytes(i) & 0xff).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Chunk boundaries as (offset, len): cut when the gear hash masks
    * to zero after `minSize` bytes, force a cut at `maxSize`; the tail
    * (possibly < minSize) is its own chunk. Driver-side kernel shared
    * by the distributed pass and the spec's reference replay. */
  def cdcBoundaries(payload: Array[Byte], minSize: Int, maxSize: Int,
      maskBits: Int): Array[(Int, Int)] = {
    require(minSize >= 1 && maxSize >= minSize && maskBits >= 1)
    val mask = (1L << maskBits) - 1
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var start = 0
    var h = 0L
    var i = 0
    while (i < payload.length) {
      h = (h << 1) + gearTable(payload(i) & 0xff)
      val len = i - start + 1
      if ((len >= minSize && (h & mask) == 0L) || len == maxSize) {
        out += ((start, len)); start = i + 1; h = 0L
      }
      i += 1
    }
    if (start < payload.length) out += ((start, payload.length - start))
    out.toArray
  }

  /** Audio feature extraction: RMS energy + zero-crossing rate per
    * fixed-length window (the MFCC slot with a real codec).
    */
  def audioFeatures(media: Dataset[MediaRecord], windowSamples: Int,
      codec: Codec = FakeCodec): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        val samples = codec.decodeAudio(r.meta, r.payload)
        samples.grouped(windowSamples).zipWithIndex.map { case (w, i) =>
          var sumSq = 0.0; var zc = 0
          var j = 0
          while (j < w.length) {
            sumSq += w(j).toDouble * w(j)
            if (j > 0 && ((w(j) >= 0) != (w(j - 1) >= 0))) zc += 1
            j += 1
          }
          (r.media_id, i.toLong, math.sqrt(sumSq / w.length).toFloat,
            zc.toDouble / math.max(1, w.length - 1))
        }
      }
    }.toDF("media_id", "window", "rms", "zcr")
  }
}
