package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns with
  * typed metadata, processed per-partition in batches.
  *
  * The METADATA decode is real: [[parseImageMeta]] reads PNG / JPEG /
  * GIF headers from the raw bytes with pure-JVM parsing (magic bytes,
  * IHDR / SOF / screen-descriptor walks — no codec dependency), so
  * width/height/frame-count come from the payload, not a fake.
  * Payloads that are NOT a recognized image (this engine also runs
  * text blobs through the same plumbing) fall back to [[decodeStub]]'s
  * deterministic arithmetic — documented, oracle-restatable, and the
  * drop-in point for a full pixel decoder (JNI, ONNX, ffmpeg
  * subprocess), which this container cannot host. Everything is
  * executed via `mapPartitions` so a real decoder's per-partition init
  * amortizes across the batch; partition sizing bounds decoder memory
  * and nothing touches the driver.
  */
object Multimodal {

  case class Blob(doc_id: Long, payload: Array[Byte])
  case class MediaMeta(doc_id: Long, byte_len: Long, width: Int, height: Int,
      n_frames: Int, total_px: Long)

  /** STUB decoder for non-image payloads: deterministic fake metadata
    * from payload length. Replace the body with a real codec; the
    * signature and the batched-per-partition execution are the
    * production shape.
    */
  def decodeStub(b: Blob): MediaMeta = {
    val len = b.payload.length.toLong
    val width = (320 + len % 320).toInt
    val height = (240 + len % 240).toInt
    val frames = (1 + len % 8).toInt
    MediaMeta(b.doc_id, len, width, height, frames,
      width.toLong * height * frames)
  }

  // ── real header parsing (pure JVM, no codec deps) ──────────────────

  private def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
  private def be16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** PNG: 8-byte magic then the IHDR chunk — width/height are the
    * big-endian u32 pair at bytes 16/20 (ISO 15948 §11.2.2). Stills
    * only (APNG's acTL frame count is out of profile): 1 frame.
    */
  private def parsePng(p: Array[Byte]): Option[(Int, Int, Int)] = {
    val magic = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (p.length < 24 ||
      !(0 until 8).forall(i => (p(i) & 0xff) == magic(i))) None
    else if (!(p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R'))
      None
    else Some((be32(p, 16).toInt, be32(p, 20).toInt, 1))
  }

  /** JPEG: walk the FF-marker segments from SOI to the first
    * start-of-frame (SOF0-SOF15 minus DHT/JPG/DAC), whose payload is
    * `[precision][height u16][width u16][n components]` (ITU T.81
    * §B.2.2). Stops at SOS — dimensions always precede scan data.
    */
  private def parseJpeg(p: Array[Byte]): Option[(Int, Int, Int)] = {
    if (p.length < 4 || (p(0) & 0xff) != 0xff || (p(1) & 0xff) != 0xd8)
      return None
    var i = 2
    while (i + 3 < p.length) {
      if ((p(i) & 0xff) != 0xff) return None
      val m = p(i + 1) & 0xff
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) { i += 2 }
      else if (m == 0xd9 || m == 0xda) return None // EOI / SOS: no SOF seen
      else {
        val len = be16(p, i + 2)
        val sof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 &&
          m != 0xcc
        if (sof) {
          if (i + 9 >= p.length) return None
          return Some((be16(p, i + 7), be16(p, i + 5), 1))
        }
        i += 2 + len
      }
    }
    None
  }

  /** GIF: `GIF87a`/`GIF89a`, logical-screen width/height as
    * little-endian u16 at bytes 6/8, then a block walk counting image
    * descriptors (0x2C) — the FRAME count, animation-aware — skipping
    * extension sub-block chains and color tables by their declared
    * sizes (GIF89a spec §§18-23).
    */
  private def parseGif(p: Array[Byte]): Option[(Int, Int, Int)] = {
    if (p.length < 13) return None
    val sig = new String(p, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val w = le16(p, 6); val h = le16(p, 8)
    val flags = p(10) & 0xff
    var i = 13 + (if ((flags & 0x80) != 0) 3 * (1 << ((flags & 7) + 1)) else 0)
    var frames = 0
    def skipSubBlocks(): Boolean = {
      while (i < p.length && (p(i) & 0xff) != 0) i += 1 + (p(i) & 0xff)
      if (i < p.length) { i += 1; true } else false
    }
    var ok = true
    while (ok && i < p.length && (p(i) & 0xff) != 0x3b) {
      (p(i) & 0xff) match {
        case 0x21 => // extension: label + sub-blocks
          i += 2; ok = skipSubBlocks()
        case 0x2c => // image descriptor: 9 bytes + LCT + lzw + data
          frames += 1
          if (i + 9 >= p.length) ok = false
          else {
            val lf = p(i + 9) & 0xff
            i += 10 + (if ((lf & 0x80) != 0) 3 * (1 << ((lf & 7) + 1)) else 0)
            i += 1 // LZW minimum code size
            ok = skipSubBlocks()
          }
        case _ => ok = false
      }
    }
    if (frames == 0) None else Some((w, h, frames))
  }

  /** Header-decode the payload as PNG, JPEG, or GIF; None for
    * everything else (callers fall back to [[decodeStub]]).
    */
  def parseImageMeta(b: Blob): Option[MediaMeta] =
    parsePng(b.payload).orElse(parseJpeg(b.payload))
      .orElse(parseGif(b.payload))
      .map { case (w, h, f) =>
        MediaMeta(b.doc_id, b.payload.length.toLong, w, h, f,
          w.toLong * h * f)
      }

  /** Real-first decode: image headers parse from the bytes; anything
    * unrecognized keeps the deterministic stub (the documented seam
    * where a full codec drops in).
    */
  def decode(b: Blob): MediaMeta =
    parseImageMeta(b).getOrElse(decodeStub(b))

  // ── deterministic image-byte builders (fixtures + tests) ───────────

  /** Minimal well-formed PNG (8-bit RGBA IHDR + empty IEND, real
    * CRCs): 45 bytes, dimensions as requested. No pixel data — a
    * header fixture, not a renderable image.
    */
  def pngBytes(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val len = data.length
      out.write(Array((len >>> 24).toByte, (len >>> 16).toByte,
        (len >>> 8).toByte, len.toByte), 0, 4)
      val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      val c = crc.getValue
      out.write(Array((c >>> 24).toByte, (c >>> 16).toByte,
        (c >>> 8).toByte, c.toByte), 0, 4)
    }
    chunk("IHDR", Array((w >>> 24).toByte, (w >>> 16).toByte,
      (w >>> 8).toByte, w.toByte, (h >>> 24).toByte, (h >>> 16).toByte,
      (h >>> 8).toByte, h.toByte, 8.toByte, 6.toByte, 0, 0, 0))
    chunk("IEND", Array.empty)
    out.toByteArray
  }

  /** Minimal JPEG (SOI + 3-component SOF0 + EOI): 23 bytes. */
  def jpegBytes(w: Int, h: Int): Array[Byte] =
    Array[Int](0xff, 0xd8, 0xff, 0xc0, 0, 17, 8,
      h >>> 8, h & 0xff, w >>> 8, w & 0xff, 3,
      1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1, 0xff, 0xd9).map(_.toByte)

  /** Minimal GIF89a with `frames` empty image descriptors (no color
    * tables, empty LZW data): 14 + 12·frames bytes.
    */
  def gifBytes(w: Int, h: Int, frames: Int): Array[Byte] = {
    require(frames >= 1, s"a GIF needs >= 1 frame, got $frames")
    val out = new java.io.ByteArrayOutputStream(32)
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII),
      0, 6)
    out.write(Array((w & 0xff).toByte, (w >>> 8).toByte, (h & 0xff).toByte,
      (h >>> 8).toByte, 0.toByte, 0.toByte, 0.toByte), 0, 7)
    (1 to frames).foreach { _ =>
      out.write(0x2c)
      out.write(new Array[Byte](8), 0, 8) // left/top/width/height u16 LE
      out.write(0) // local flags: no LCT
      out.write(2) // LZW minimum code size
      out.write(0) // empty data: sub-block terminator
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** Binary ingestion: any table with an id + string payload becomes a
    * blob table (stand-in for reading image/audio bytes).
    */
  def toBlobs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): Dataset[Blob] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Par.spread(docs.select(col(idCol).cast("long").as("doc_id"),
      encode(col(textCol), "UTF-8").as("payload"))).as[Blob]
  }

  /** The decode pipeline: mapPartitions so a real decoder initializes
    * once per partition, not once per row.
    */
  def extractMetadata(blobs: Dataset[Blob]): Dataset[MediaMeta] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      // per-partition decoder init would go here
      it.map(decode)
    }
  }

  /** Deterministic REAL-image fixture: each doc becomes an actual
    * PNG / JPEG / GIF byte payload (round-robin on doc_id) whose
    * header carries dimensions derived from the id — so the decode
    * step genuinely reads them back out of the bytes and an oracle
    * can restate them from the id arithmetic:
    * `w = 1 + id%512`, `h = 1 + (id·7)%512`, GIF frames `1 + id%8`.
    * Byte lengths are fixed by construction (PNG 45, JPEG 23,
    * GIF 14+12·frames).
    */
  def toImageBlobs(docs: DataFrame, idCol: String = "doc_id"): Dataset[Blob] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Par.spread(docs.select(col(idCol).cast("long").as("doc_id")))
      .as[Long].map { id =>
        val w = (1 + id % 512).toInt
        val h = (1 + (id * 7) % 512).toInt
        Blob(id, (id % 3) match {
          case 0 => pngBytes(w, h)
          case 1 => jpegBytes(w, h)
          case _ => gifBytes(w, h, (1 + id % 8).toInt)
        })
      }
  }

  /** documents → real image bytes → header-decoded metadata. */
  def imagePipeline(docs: DataFrame): DataFrame =
    extractMetadata(toImageBlobs(docs)).toDF().orderBy("doc_id")

  case class Frame(doc_id: Long, frame_idx: Int, offset_px: Long,
      out_width: Int, out_height: Int)

  /** Frame sampling + resize plumbing: one row per sampled frame with
    * its offset and the resize-target dims. The explode happens in the
    * plan (no driver loop); the per-frame decode/resize body is the
    * same deterministic stub as [[decodeStub]] — swap in a real codec
    * without touching the shape. Fan-out is bounded by n_frames, so
    * output scales linearly with media duration, not file size.
    */
  def sampleFrames(meta: Dataset[MediaMeta], targetW: Int = 224,
      targetH: Int = 224): Dataset[Frame] = {
    val spark = meta.sparkSession
    import spark.implicits._
    meta.flatMap { m =>
      (0 until m.n_frames).map { i =>
        Frame(m.doc_id, i, i.toLong * m.width * m.height,
          math.min(targetW, m.width), math.min(targetH, m.height))
      }
    }
  }

  /** documents → real image bytes → header metadata → sampled frames
    * (GIF docs fan out per real frame count), oracle-ordered.
    */
  def imageFramePipeline(docs: DataFrame): DataFrame =
    sampleFrames(extractMetadata(toImageBlobs(docs))).toDF()
      .orderBy("doc_id", "frame_idx")

  // --------------------------------------------------------------------
  // Perceptual-hash near-dup: the IMAGE twin of text SimHash (q23) —
  // decode to a tiny grayscale grid, hash the grid's shape, band-join
  // candidates, exact Hamming filter. Only the decode is a stub.
  // --------------------------------------------------------------------

  case class PixelGrid(doc_id: Long, px: Array[Int])

  /** STUB "decode to 8×8 grayscale": deterministic fake — pixel `i`
    * folds the payload's codepoints with stride 64
    * (`px(i) = Σ_{j≡i (64)} cp_j·(j/64+1) mod 256`), engine-portable
    * integer arithmetic so the whole downstream pHash verifies
    * relationally. A real impl replaces this body with decode +
    * resize-to-8×8 + luma; everything after consumes only the 64
    * ints, so the swap touches nothing else.
    */
  def decodePixelsStub(b: Blob): PixelGrid = {
    val cps = new String(b.payload, java.nio.charset.StandardCharsets.UTF_8)
      .codePoints().toArray
    val acc = new Array[Long](64)
    var j = 0
    while (j < cps.length) {
      acc(j % 64) += cps(j).toLong * (j / 64 + 1)
      j += 1
    }
    PixelGrid(b.doc_id, acc.map(v => (v % 256).toInt))
  }

  /** Decode pipeline for the grid: mapPartitions, same per-partition
    * decoder-init shape as [[extractMetadata]].
    */
  def pixelGrids(blobs: Dataset[Blob]): Dataset[PixelGrid] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      // per-partition decoder init would go here
      it.map(decodePixelsStub)
    }
  }

  /** Average-hash over the grid, split into 4×16-bit bands IN-PLAN:
    * bit i = pixel i above the integer mean, band b packs bits
    * [16b, 16b+16). Bands (not one 64-bit value) so the candidate
    * join is four narrow equi-joins — and no sign games at bit 63.
    */
  def phashBands(grids: DataFrame): DataFrame = {
    val band = (b: Int) => expr(
      s"aggregate(sequence(0, 15), 0L, (a, i) -> " +
        s"a + if(element_at(px, $b * 16 + i + 1) > mean_px, shiftleft(1L, i), 0L))")
    grids
      .withColumn("mean_px", expr("aggregate(px, 0L, (a, x) -> a + x) div 64"))
      .select(col("doc_id"), band(0).as("b0"), band(1).as("b1"),
        band(2).as("b2"), band(3).as("b3"))
  }

  /** Image near-dup: docs whose pHashes agree on ≥1 band AND sit
    * within `maxHamming` bits overall. With 4 bands the band join is
    * LOSSLESS for maxHamming ≤ 3 (pigeonhole: 3 differing bits can't
    * touch all 4 bands), so candidates-then-exact-filter equals the
    * all-pairs scan — at a band equi-join's cost, never N². Bands are
    * ~uniform 16-bit values, so collision fan-in stays O(n²/2^16) per
    * band — the same narrow-shuffle story as SimHash banding.
    */
  def phashNearDup(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"maxHamming $maxHamming > 3 breaks the 4-band pigeonhole guarantee")
    val bands = phashBands(pixelGrids(toBlobs(docs)).toDF())
    val ex = bands.select(col("doc_id"), col("b0"), col("b1"), col("b2"),
      col("b3"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("bi"), col(s"b$b").as("bv"))): _*)).as("e"))
      .select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
        col("e.bi").as("bi"), col("e.bv").as("bv"))
    val hamming = (0 until 4).map(b =>
      call_function("bit_count",
        col(s"a.b$b").bitwiseXOR(col(s"bb.b$b"))).cast("long"))
      .reduce(_ + _)
    ex.as("a").join(ex.as("bb"),
        col("a.bi") === col("bb.bi") && col("a.bv") === col("bb.bv") &&
          col("a.doc_id") < col("bb.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("bb.doc_id").as("b_id"),
        hamming.as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  // --------------------------------------------------------------------
  // Audio plumbing: stubbed PCM decode → per-frame energy → VAD
  // segmentation (energy-threshold voice-activity detection, the
  // classic pre-ASR segmenter). Only the byte→sample decode is a stub.
  // --------------------------------------------------------------------

  case class FrameEnergy(doc_id: Long, frame: Int, energy: Long)

  /** STUB "decode PCM + frame energy": treats each payload byte as an
    * unsigned 8-bit sample, frames of `frameBytes` samples (trailing
    * partial frame dropped, as a real framer does), energy = Σ s².
    * Integer-exact so the downstream segmentation verifies
    * relationally. A real impl swaps the inner loop for a codec
    * (ffmpeg/JNI) emitting the same (frame, energy) rows; per-partition
    * init amortizes across the batch like [[extractMetadata]].
    */
  def frameEnergies(blobs: Dataset[Blob], frameBytes: Int = 16): Dataset[FrameEnergy] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      // per-partition decoder init would go here
      it.flatMap { b =>
        val nFrames = b.payload.length / frameBytes
        (0 until nFrames).iterator.map { f =>
          var e = 0L
          var i = f * frameBytes
          while (i < (f + 1) * frameBytes) {
            val v = (b.payload(i) & 0xff).toLong
            e += v * v
            i += 1
          }
          FrameEnergy(b.doc_id, f, e)
        }
      }
    }
  }

  case class FrameSig(doc_id: Long, frame: Int, sig: Long)

  /** STUB "per-frame content signature" for shot detection: frame `f`
    * of a payload folds every codepoint with a frame-dependent weight
    * (`Σ cp_j·((j+f) mod 7 + 1) mod 10⁴`) — a deterministic stand-in
    * for a per-frame color histogram, integer-exact so the detector
    * verifies relationally. Frame count is the [[decodeStub]] fan-out
    * (1 + len mod 8). A real impl replaces the fold with decode +
    * histogram; everything downstream consumes only (frame, sig).
    */
  def frameSignatures(blobs: Dataset[Blob]): Dataset[FrameSig] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      // per-partition decoder init would go here
      it.flatMap { b =>
        val cps = new String(b.payload, java.nio.charset.StandardCharsets.UTF_8)
          .codePoints().toArray
        val nFrames = (1 + b.payload.length % 8).toInt
        (0 until nFrames).iterator.map { f =>
          var s = 0L
          var j = 0
          while (j < cps.length) {
            s += cps(j).toLong * ((j + f) % 7 + 1)
            j += 1
          }
          FrameSig(b.doc_id, f, s % 10000L)
        }
      }
    }
  }

  /** Shot-boundary detection: a new shot starts where consecutive
    * frame signatures differ by more than `threshold` (the classic
    * histogram-difference cut detector). Boundaries via a lag window,
    * shot ids via a running boundary count, one row per shot with its
    * frame span.
    *
    * Scale shape: signature extraction is map-only; the lag and the
    * running sum are one per-doc window (frames per doc bounded by
    * duration); the shot aggregation reuses the same doc_id
    * partitioning.
    */
  def shotSegments(docs: DataFrame, threshold: Long = 5000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = frameSignatures(toBlobs(docs)).toDF()
    val byFrame = Window.partitionBy("doc_id").orderBy("frame")
    sig.withColumn("prev", lag(col("sig"), 1).over(byFrame))
      .withColumn("bd",
        when(col("prev").isNotNull &&
          abs(col("sig") - col("prev")) > threshold, 1L).otherwise(0L))
      .withColumn("shot", sum(col("bd")).over(
        byFrame.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("shot"))
      .agg(min(col("frame")).cast("long").as("start_frame"),
        max(col("frame")).cast("long").as("end_frame"),
        count(lit(1)).as("n_frames"))
      .select("doc_id", "shot", "start_frame", "end_frame", "n_frames")
      .orderBy("doc_id", "shot")
  }

  /** Constellation fingerprints over the stub PCM chain — the Shazam
    * shape on [[frameEnergies]]' deterministic frames: peak frames
    * (strict rise, ties-to-first plateau rule: `e > prev ∧ e ≥ next`,
    * interior frames only), then anchor-target pairs within `maxDt`
    * frames, hashed as `bin₁·8192 + bin₂·8 + Δf` with
    * `bin = energy mod 1024` standing in for the frequency bin a real
    * decoder would supply. Integer end to end, so the whole chain
    * restates relationally. One row per (doc, anchor frame, hash).
    *
    * Scale shape: energies and peaks are map-only + one per-doc
    * window; the pair join is per-doc over peak frames (bounded by
    * duration·peak density); emitted hashes are the classic inverted
    * index a match join consumes — no stage touches the corpus
    * cross-product.
    */
  def constellation(blobs: Dataset[Blob], frameBytes: Int = 16,
      maxDt: Int = 4, bins: Long = 1024L): DataFrame =
    constellationFromEnergies(frameEnergies(blobs, frameBytes).toDF(),
      maxDt, bins)

  /** The constellation kernel over ANY `(doc_id, frame, energy)`
    * frame table — shared by the stub-PCM chain ([[constellation]])
    * and the real-WAV chain ([[wavConstellation]]): the peak rule,
    * pair hashing, and scale shape are decode-agnostic.
    */
  def constellationFromEnergies(fe: DataFrame,
      maxDt: Int = 4, bins: Long = 1024L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("frame")
    val peaks = fe
      .withColumn("pe", lag(col("energy"), 1).over(w))
      .withColumn("ne", lead(col("energy"), 1).over(w))
      .where(col("pe").isNotNull && col("ne").isNotNull &&
        col("energy") > col("pe") && col("energy") >= col("ne"))
      .select(col("doc_id"), col("frame"),
        pmod(col("energy"), lit(bins)).as("b"))
    peaks.as("a").join(peaks.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.frame") > col("a.frame") &&
          col("b.frame") <= col("a.frame") + maxDt)
      .select(col("a.doc_id").as("doc_id"),
        col("a.frame").cast("long").as("f1"),
        (col("a.b") * 8192L + col("b.b") * 8L +
          (col("b.frame") - col("a.frame"))).as("h"))
  }

  /** Snippet-to-track audio matching over [[constellation]]
    * fingerprints: hash equi-join, per-(snippet, track) offset
    * histogram (`track f₁ − snippet f₁` — a true containment match
    * concentrates its votes on ONE offset), best offset per snippet
    * by vote count (ties: smallest track, then offset). Emits the
    * winning track with its aligned offset, the winning-offset votes,
    * and the pair's total hash matches — `votes ≈ n_matches` is the
    * "confident match" signal, scattered offsets mean coincidence.
    */
  def audioMatch(tracks: DataFrame, snippets: DataFrame,
      frameBytes: Int = 16, maxDt: Int = 4): DataFrame =
    matchConstellations(constellation(toBlobs(tracks), frameBytes, maxDt),
      constellation(toBlobs(snippets), frameBytes, maxDt))

  /** The hash-join + offset-histogram + vote-argmax tail of
    * [[audioMatch]] over ANY pair of constellation fingerprint
    * tables — shared by the stub chain and the WAV chain.
    */
  def matchConstellations(trackFp: DataFrame,
      snippetFp: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = trackFp
      .select(col("doc_id").as("track_id"), col("f1").as("tf1"), col("h"))
    val sf = snippetFp
      .select(col("doc_id").as("snippet_id"), col("f1").as("sf1"), col("h"))
    val votes = sf.join(tf, "h")
      .groupBy(col("snippet_id"), col("track_id"),
        (col("tf1") - col("sf1")).as("offset_frames"))
      .agg(count(lit(1)).as("votes"))
    val totals = votes.groupBy("snippet_id", "track_id")
      .agg(sum(col("votes")).as("n_matches"))
    val w = Window.partitionBy("snippet_id")
      .orderBy(col("votes").desc, col("track_id"), col("offset_frames"))
    votes.join(totals, Seq("snippet_id", "track_id"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("snippet_id", "track_id", "offset_frames", "votes",
        "n_matches")
      .orderBy("snippet_id")
  }

  /** Keyframe selection: [[shotSegments]]' cut detector plus, per
    * shot, the representative frame — the maximum-signature frame
    * (the stand-in for "most visually rich"; ties to the earliest
    * frame). The thumbnail/preview extraction step of a video
    * ingest pipeline: one row per shot with its span and the chosen
    * keyframe + signature.
    *
    * Scale shape: identical to shotSegments (map-only signatures, one
    * per-doc window, per-(doc, shot) aggregate) — the argmax rides
    * the same aggregate as the span, no extra pass.
    */
  def keyframes(docs: DataFrame, threshold: Long = 5000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = frameSignatures(toBlobs(docs)).toDF()
    val byFrame = Window.partitionBy("doc_id").orderBy("frame")
    sig.withColumn("prev", lag(col("sig"), 1).over(byFrame))
      .withColumn("bd",
        when(col("prev").isNotNull &&
          abs(col("sig") - col("prev")) > threshold, 1L).otherwise(0L))
      .withColumn("shot", sum(col("bd")).over(
        byFrame.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("shot"))
      .agg(min(col("frame")).cast("long").as("start_frame"),
        max(col("frame")).cast("long").as("end_frame"),
        count(lit(1)).as("n_frames"),
        max(struct(col("sig").as("s"), (-col("frame")).as("nf"),
          col("frame").as("frame"))).as("kf"))
      .select(col("doc_id"), col("shot"), col("start_frame"),
        col("end_frame"), col("n_frames"),
        col("kf.frame").cast("long").as("key_frame"),
        col("kf.s").as("key_sig"))
      .orderBy("doc_id", "shot")
  }

  /** Energy-threshold VAD: frames with energy ≥ `threshold` are
    * "active"; consecutive active frames merge into segments
    * (gaps-and-islands via `frame − row_number`, the standard
    * relational islands trick). Output is one row per segment with its
    * frame span, length, and total energy.
    *
    * Scale shape: decode + energy are map-only; the only shuffle keys
    * by doc_id for the per-doc window and the segment aggregation
    * reuses that partitioning. Frames per doc are bounded by media
    * duration, so window state stays small regardless of corpus size.
    */
  def vadSegments(docs: DataFrame, frameBytes: Int = 16,
      threshold: Long = 157000L): DataFrame =
    segmentEnergies(frameEnergies(toBlobs(docs), frameBytes).toDF(),
      threshold)

  /** The gaps-and-islands VAD segmentation over ANY
    * `(doc_id, frame, energy)` table — shared by the stub chain
    * ([[vadSegments]]) and the real-WAV chain ([[wavVadSegments]]).
    */
  def segmentEnergies(fe: DataFrame, threshold: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("frame")
    fe.where(col("energy") >= threshold)
      .withColumn("isl", col("frame") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("frame")).cast("long").as("seg_start"),
        max(col("frame")).cast("long").as("seg_end"),
        count(lit(1)).as("n_frames"),
        sum(col("energy")).as("sum_energy"))
      .select("doc_id", "seg_start", "seg_end", "n_frames", "sum_energy")
      .orderBy("doc_id", "seg_start")
  }

  // --------------------------------------------------------------------
  // Real audio bytes: RIFF/WAV container parse (fmt/data chunk walk)
  // + integer PCM sample decode — the audio twin of the real image
  // header decoders above. Everything downstream (frame energies →
  // VAD islands, peaks → constellation fingerprints → offset-vote
  // matching) is the SAME shared kernels the stub chain uses; only
  // the byte→sample step is format-specific. Compressed codecs
  // (MP3/AAC/Opus) remain the documented decode seam — this container
  // cannot host their codec libraries — but linear PCM WAV, the
  // interchange format every ASR pipeline normalizes to first, parses
  // and decodes for real here.
  // --------------------------------------------------------------------

  case class WavMeta(doc_id: Long, sample_rate: Int, channels: Int,
      bits_per_sample: Int, n_samples: Long)

  @inline private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** RIFF/WAVE chunk walk (RIFF 1991 spec / RFC 2361 WAVE profile):
    * `RIFF <size> WAVE`, then `<id u32><size u32le>` chunks — `fmt `
    * carries (audioFormat, channels, sampleRate, bitsPerSample),
    * `data` carries the PCM payload; unknown chunks (LIST, fact,
    * cue…) skip by their declared size, odd-sized chunks pad to the
    * word boundary (the spec rule naive parsers miss). Returns
    * (formatCode, channels, sampleRate, bitsPerSample, dataOff,
    * dataLen); None on anything malformed — bad magic, truncated
    * chunk, unsupported format code, bits outside the format's legal
    * set — never a silent misparse. Supported codecs: linear PCM
    * (code 1, 8/16-bit) and the ITU-T G.711 companders — A-law
    * (code 6) and µ-law (code 7), both 8-bit by definition — the
    * telephony formats every ASR ingest meets; genuinely compressed
    * codecs (MP3/AAC/Opus) remain the documented loud-fail seam.
    */
  private def parseWavChunks(p: Array[Byte])
      : Option[(Int, Int, Int, Int, Int, Int)] = {
    if (p.length < 12) return None
    def tag(off: Int) =
      new String(p, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var fmt: Option[(Int, Int, Int, Int)] = None
    var data: Option[(Int, Int)] = None
    var i = 12
    while (i + 8 <= p.length && (fmt.isEmpty || data.isEmpty)) {
      val id = tag(i)
      val size = le32(p, i + 4)
      if (size < 0 || i + 8 + size > p.length) return None // truncated
      if (id == "fmt " && size >= 16 && fmt.isEmpty)
        fmt = Some((le16(p, i + 8), le16(p, i + 10), le32(p, i + 12),
          le16(p, i + 22)))
      else if (id == "data" && data.isEmpty) data = Some((i + 8, size))
      i += 8 + size + (size & 1) // RIFF chunks pad to word boundaries
    }
    for {
      (audioFormat, ch, rate, bits) <- fmt
      (off, len) <- data
      if ch >= 1 && rate > 0 &&
        ((audioFormat == 1 && (bits == 8 || bits == 16)) ||
          ((audioFormat == 6 || audioFormat == 7) && bits == 8))
    } yield (audioFormat, ch, rate, bits, off, len)
  }

  /** ITU-T G.711 µ-law byte → linear sample (the CCITT reference
    * decode: complement, rebuild `((mant<<3)+0x84)<<exp`, strip the
    * bias, apply the sign). Pure integer arithmetic — restated
    * verbatim in the q420 oracle.
    */
  @inline private[graft] def ulawDecode(b: Int): Int = {
    val u = ~b & 0xff
    val t = (((u & 0xf) << 3) + 0x84) << ((u >> 4) & 7)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** ITU-T G.711 A-law byte → linear sample (reference decode: XOR
    * 0x55, segment 0 is linear, higher segments shift; sign bit SET
    * means positive — the A-law convention, opposite of µ-law).
    */
  @inline private[graft] def alawDecode(b: Int): Int = {
    val a = b ^ 0x55
    val seg = (a >> 4) & 7
    val mant = a & 0xf
    val t =
      if (seg == 0) (mant << 4) + 8
      else ((mant << 4) + 0x108) << (seg - 1)
    if ((a & 0x80) != 0) t else -t
  }

  /** Container-decode the payload as PCM WAV; None for everything
    * else (corrupt-byte pinned — callers decide loud-vs-skip).
    */
  def parseWavMeta(b: Blob): Option[WavMeta] =
    parseWavChunks(b.payload).map { case (_, ch, rate, bits, _, len) =>
      WavMeta(b.doc_id, rate, ch, bits, len.toLong / (ch * (bits / 8)))
    }

  /** WAV header metadata pipeline — mapPartitions like
    * [[extractMetadata]]; a payload that is not a decodable PCM WAV
    * fails LOUDLY with its doc id (the WAV chain runs on real audio
    * bytes by contract; there is no meaningful stub fallback for a
    * sample-accurate decode).
    */
  def wavMetas(blobs: Dataset[Blob]): Dataset[WavMeta] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions(_.map(b => parseWavMeta(b).getOrElse(
      throw new IllegalStateException(
        s"doc ${b.doc_id}: payload is not a decodable PCM WAV"))))
  }

  /** REAL PCM frame energies: decode the WAV data chunk's integer
    * samples (16-bit signed LE, or 8-bit unsigned re-centered at 128
    * per the WAV convention) and emit energy `Σ s²` per frame of
    * `frameSamples` INTERLEAVED samples (channel-agnostic framing —
    * energy is a per-stream activity measure; trailing partial frame
    * dropped like [[frameEnergies]]). Integer-exact end to end, so
    * the VAD/constellation chains verify relationally against a
    * generator-arithmetic oracle. Map-only; per-row memory is one
    * payload buffer.
    */
  def wavFrameEnergies(blobs: Dataset[Blob],
      frameSamples: Int = 16): Dataset[FrameEnergy] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        val (fmt, _, _, bits, off, len) = parseWavChunks(b.payload)
          .getOrElse(throw new IllegalStateException(
            s"doc ${b.doc_id}: payload is not a decodable PCM/G.711 WAV"))
        val bytesPer = bits / 8
        val nFrames = (len / bytesPer) / frameSamples
        (0 until nFrames).iterator.map { f =>
          var e = 0L
          var k = f * frameSamples
          while (k < (f + 1) * frameSamples) {
            val s: Long =
              if (bits == 16)
                (((b.payload(off + 2 * k + 1) & 0xff) << 8) |
                  (b.payload(off + 2 * k) & 0xff)).toShort.toLong
              else if (fmt == 7) ulawDecode(b.payload(off + k) & 0xff).toLong
              else if (fmt == 6) alawDecode(b.payload(off + k) & 0xff).toLong
              else (b.payload(off + k) & 0xff).toLong - 128L
            e += s * s
            k += 1
          }
          FrameEnergy(b.doc_id, f, e)
        }
      }
    }
  }

  /** Energy-threshold VAD over REAL WAV bytes — [[wavFrameEnergies]]
    * into the shared islands segmentation.
    */
  def wavVadSegments(blobs: Dataset[Blob], frameSamples: Int = 16,
      threshold: Long = 5600000L): DataFrame =
    segmentEnergies(wavFrameEnergies(blobs, frameSamples).toDF(), threshold)

  /** Constellation fingerprints over REAL WAV bytes. */
  def wavConstellation(blobs: Dataset[Blob], frameSamples: Int = 16,
      maxDt: Int = 4, bins: Long = 1024L): DataFrame =
    constellationFromEnergies(wavFrameEnergies(blobs, frameSamples).toDF(),
      maxDt, bins)

  /** Snippet-to-track matching over REAL WAV bytes — the same
    * hash-join + offset-vote tail as [[audioMatch]].
    */
  def wavAudioMatch(tracks: Dataset[Blob], snippets: Dataset[Blob],
      frameSamples: Int = 16, maxDt: Int = 4): DataFrame =
    matchConstellations(wavConstellation(tracks, frameSamples, maxDt),
      wavConstellation(snippets, frameSamples, maxDt))

  /** Deterministic pseudo-PCM sample for WAV fixtures — the engine's
    * standard mix31 whitening (xorshift–multiply–xorshift, the
    * [[graft.functions.VecKernels]] finalizer) over `id·8192 + i`,
    * folded to a centered 11-bit sample. A plain affine sample
    * (`(id·a + i·b) mod m`) steps by a CONSTANT per index — frame
    * energies come out monotone and the peak/VAD chains degenerate;
    * the non-linear mix gives every frame an independent-looking
    * energy while staying exactly restatable in any engine with
    * 64-bit integers, xor, and floor division:
    * `x0 = (id·8192 + i) % 2³¹; x1 = xor(x0, x0 // 2¹⁵);
    *  x2 = (x1·1103515245) % 2³¹; s = xor(x2, x2 // 2¹²) % 2048 − 1024`.
    */
  def pcmSample(id: Long, i: Long): Short = {
    var x = (id * 8192L + i) & 0x7FFFFFFFL
    x ^= (x >> 15)
    x = (x * 1103515245L) & 0x7FFFFFFFL
    x ^= (x >> 12)
    (x % 2048L - 1024L).toShort
  }

  /** Deterministic 16-bit PCM WAV bytes (44-byte canonical header +
    * LE samples) — the fixture builder for the WAV chain, mirrored by
    * the oracles' generator arithmetic. `samples` are INTERLEAVED
    * when `channels` > 1; length must divide evenly.
    */
  def wavBytes(sampleRate: Int, channels: Int,
      samples: Array[Short]): Array[Byte] = {
    require(channels >= 1 && samples.length % channels == 0,
      s"${samples.length} samples do not interleave over $channels channels")
    val dataLen = samples.length * 2
    val out = new java.io.ByteArrayOutputStream(44 + dataLen)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16(v >>> 16) }
    def tag(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 4)
    tag("RIFF"); w32(36 + dataLen); tag("WAVE")
    tag("fmt "); w32(16); w16(1); w16(channels); w32(sampleRate)
    w32(sampleRate * channels * 2); w16(channels * 2); w16(16)
    tag("data"); w32(dataLen)
    var i = 0
    while (i < samples.length) { w16(samples(i) & 0xffff); i += 1 }
    out.toByteArray
  }

  /** Deterministic G.711 WAV bytes: same canonical header as
    * [[wavBytes]] but format code 6 (A-law) or 7 (µ-law), 8-bit, one
    * COMPANDED byte per sample — the fixture builder for the q420
    * telephony chain, mirrored by the oracle's decode arithmetic.
    */
  def g711WavBytes(sampleRate: Int, channels: Int, codes: Array[Byte],
      formatCode: Int): Array[Byte] = {
    require(formatCode == 6 || formatCode == 7,
      s"g711WavBytes wants format 6 (A-law) or 7 (mu-law), got $formatCode")
    require(channels >= 1 && codes.length % channels == 0,
      s"${codes.length} codes do not interleave over $channels channels")
    val dataLen = codes.length
    val out = new java.io.ByteArrayOutputStream(44 + dataLen)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16(v >>> 16) }
    def tag(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 4)
    tag("RIFF"); w32(36 + dataLen); tag("WAVE")
    tag("fmt "); w32(16); w16(formatCode); w16(channels); w32(sampleRate)
    w32(sampleRate * channels); w16(channels); w16(8)
    tag("data"); w32(dataLen)
    out.write(codes, 0, dataLen)
    out.toByteArray
  }

  /** Deterministic companded byte stream for the G.711 fixtures —
    * restated verbatim in the q420 oracle.
    */
  def g711Code(id: Long, i: Long): Byte =
    ((id * 31L + i * 17L) % 256L).toByte
}
