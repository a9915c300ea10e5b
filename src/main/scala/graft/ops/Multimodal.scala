package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Opaque media payload + typed metadata: the multimodal column model.
  * Image/audio/video ride as `payload: Array[Byte]` next to structured
  * metadata, exactly like a `binary` column in a 100 TB lakehouse table. */
case class MediaRecord(doc_id: Long, modality: String, payload: Array[Byte],
    byte_len: Int)

/** Decoded (stub) features per record. */
case class MediaFeatures(doc_id: Long, modality: String, byte_len: Int,
    f0: Int, f1: Int, f2: Int)

/** REAL decoded image features per record: dimensions and lead pixel as
  * read back by the JDK PNG codec. */
case class ImageFeatures(doc_id: Long, width: Int, height: Int,
    px_r: Int, px_g: Int, px_b: Int)

/** REAL decoded audio features per record: format and edge samples as
  * read back by the JDK WAV codec. */
case class AudioFeatures(doc_id: Long, sample_rate: Int, n_frames: Int,
    s_first: Int, s_last: Int)

/** Multimodal column plumbing (north-star addition).
  *
  * The decode step is a per-partition batch pipeline — the Spark shape
  * for media decoding (a JVM-side analog of `mapInPandas`): records
  * stream through an iterator per partition, so a real decoder would
  * amortize model/codec init once per partition, never per row. Three
  * decode paths share the seam: `decodeImages` is a REAL codec round
  * trip (the JDK's `javax.imageio` PNG reader — no stub), verified
  * end-to-end by `llm_multimodal_image`; `decodeAudio` likewise round
  * trips REAL RIFF/WAVE files through `javax.sound.sampled`
  * (`llm_multimodal_audio`); `decodeStub` stands in only for codecs the
  * JDK doesn't ship (video) and is a clearly marked deterministic FAKE
  * with the plumbing oracle-verified (`llm_multimodal_binary`).
  */
object Multimodal {

  /** documents → media records: utf-8 payload bytes + metadata. */
  def toMedia(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"),
        lit("text").as("modality"),
        encode(col("text"), "UTF-8").as("payload"),
        octet_length(col("text")).as("byte_len"))
      .as[MediaRecord]
  }

  /** documents → one REAL PNG per doc: width, height, and fill color are
    * deterministic functions of doc_id (the oracle recomputes them in
    * SQL), encoded executor-side with `javax.imageio` — the binary
    * column a multimodal lakehouse table holds, minus the object store.
    *
    * The id column is HASH-REPARTITIONED before the codec seam
    * (round-21): the encode+decode chain is CPU-bound per ROW while its
    * input is 8 bytes per row, so the exchange ships ids — never
    * payloads (guide §8's "move heavy bytes once; decide with small
    * rows" applied to generation) — and the codec work spreads across
    * every core instead of inheriting the scan's split count (a small
    * single-row-group parquet file is ONE task however many cores the
    * cluster has — guide §2.5 "input skew: unsplittable file →
    * repartition immediately after the read"). Partition count follows
    * spark.sql.shuffle.partitions (scale-adaptive, AQE-coalescible);
    * hashing doc_id is deterministic under task retry, unlike
    * round-robin (guide §2.5 / SPARK-38388). The count is EXPLICIT
    * (the session's shuffle partitions — scale-adaptive conf, = cores
    * in the bench): AQE's byte-based coalescing would fold the tiny
    * id shuffle back to one partition and single-thread the codec —
    * the operator knows the cost is CPU per row, not bytes (guide §8
    * "use what you know that the optimizer does not"); an explicit
    * user count is exempt from coalescing. */
  def toPngMedia(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    val n = docs.sparkSession.sessionState.conf.numShufflePartitions
    docs.select(col("doc_id")).repartition(n, col("doc_id"))
      .as[Long].mapPartitions { it =>
      // per-partition init site: ImageIO defaults to a DISK-backed
      // stream cache — every write creates and deletes a temp FILE,
      // which serializes concurrent codec tasks on the filesystem
      // (measured round 21: the 32-way parallel decode ran SLOWER than
      // single-task until this was off). Payloads here are tiny
      // in-memory byte arrays — cache off is pure memory, same bytes
      // out. The setting is JVM-GLOBAL (every ImageIO user in this
      // executor sees it); idempotent and thread-safe.
      javax.imageio.ImageIO.setUseCache(false)
      it.map { id =>
        val bytes = pngBytes(id)
        MediaRecord(id, "image", bytes, bytes.length)
      }
    }
  }

  /** A w×h solid-fill PNG: w = 1 + id%4, h = 1 + id%3, RGB =
    * (id·7, id·13, id·31) mod 256 — arithmetic any SQL engine can
    * replay, so the decode below is checkable without a codec. */
  private[graft] def pngBytes(id: Long): Array[Byte] = {
    val w = 1 + (id % 4).toInt
    val h = 1 + (id % 3).toInt
    val rgb = (((id * 7) % 256).toInt << 16) |
      (((id * 13) % 256).toInt << 8) | ((id * 31) % 256).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var x = 0
    while (x < w) {
      var y = 0
      while (y < h) { img.setRGB(x, y, rgb); y += 1 }
      x += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image decode behind the per-partition seam — the JDK PNG codec
    * reads each payload back to (width, height, lead pixel). A decoder
    * that returned anything but the true pixels fails the oracle. */
  def decodeImages(media: Dataset[MediaRecord]): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition init site: memory-only stream cache (see
      // toPngMedia — the default disk cache serializes parallel tasks
      // on temp-file churn)
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        require(img != null,
          s"doc ${r.doc_id}: payload is not a decodable image")
        val p = img.getRGB(0, 0)
        ImageFeatures(r.doc_id, img.getWidth, img.getHeight,
          (p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
      }
    }
  }

  /** documents → one REAL RIFF/WAVE file per doc: sample rate, frame
    * count, and the 16-bit PCM samples are deterministic functions of
    * doc_id (the oracle recomputes them in SQL), encoded executor-side
    * with `javax.sound.sampled` — the audio analog of `toPngMedia`. */
  def toWavMedia(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    // id-only hash repartition before the codec seam — same §2.5/§8
    // reasoning (and explicit AQE-exempt count) as toPngMedia above:
    // parallelize the CPU-bound encode+decode at any scale by
    // exchanging 8-byte ids, never payloads
    val n = docs.sparkSession.sessionState.conf.numShufflePartitions
    docs.select(col("doc_id")).repartition(n, col("doc_id"))
      .as[Long].mapPartitions { it =>
      it.map { id =>
        val bytes = wavBytes(id)
        MediaRecord(id, "audio", bytes, bytes.length)
      }
    }
  }

  /** JDK sampled-audio SPI handles resolved ONCE per JVM (the
    * "per-partition codec init" the decode seam documents, made real —
    * guide §4.5): `AudioSystem.getAudioInputStream`/`write` route
    * EVERY call through a static synchronized provider-registry
    * lookup, which serialized the round-21 parallel decode (32-way ran
    * 2.7× SLOWER than single-task). The SAME provider classes decode;
    * only the per-row global lock goes. Provider instances are
    * stateless per call (all parse state is call-local), so sharing
    * across tasks is safe. */
  private lazy val audioReaders
      : Array[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val b = Array.newBuilder[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) b += it.next()
    b.result()
  }
  private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    var w: javax.sound.sampled.spi.AudioFileWriter = null
    while (it.hasNext && w == null) {
      val c = it.next()
      if (c.isFileTypeSupported(
          javax.sound.sampled.AudioFileFormat.Type.WAVE)) w = c
    }
    require(w != null, "no WAVE AudioFileWriter provider in this JVM")
    w
  }
  /** AudioSystem.getAudioInputStream's own reader loop, minus its
    * per-call registry lock — plus a memo of the LAST provider that
    * accepted a payload, tried first: the registry lists several
    * readers ahead of the matching one, and every miss costs a thrown
    * UnsupportedAudioFileException per row (round-21 codec bisect,
    * VERDICT.md item 2: the provider loop, not the RIFF parse,
    * dominated header decode).
    * Identical accept semantics — a memo miss falls through to the
    * full loop. */
  @volatile private var lastGoodReader = -1
  private def readAudio(payload: Array[Byte])
      : javax.sound.sampled.AudioInputStream = {
    val memo = lastGoodReader
    if (memo >= 0) {
      try return audioReaders(memo).getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => ()
      }
    }
    var i = 0
    while (i < audioReaders.length) {
      if (i != memo) {
        try {
          val ais = audioReaders(i).getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          lastGoodReader = i
          return ais
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        }
      }
      i += 1
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "payload matched no installed AudioFileReader")
  }

  /** A mono 16-bit little-endian PCM WAV: rate = 8000 + (id%3)·4000,
    * frames = 4 + id%5, sample i = ((id·31 + i·17) mod 65536) − 32768 —
    * arithmetic any SQL engine can replay, so the decode below is
    * checkable without a codec. */
  private[graft] def wavBytes(id: Long): Array[Byte] = {
    val rate = 8000 + (id % 3).toInt * 4000
    val frames = 4 + (id % 5).toInt
    val pcm = new Array[Byte](frames * 2)
    var i = 0
    while (i < frames) {
      val s = (((id * 31 + i * 17) % 65536) - 32768).toInt
      pcm(2 * i) = (s & 0xff).toByte          // little-endian lo
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte // hi
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      rate.toFloat, 16, 1, true, false) // 16-bit mono signed LE
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    wavWriter.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode behind the per-partition seam — the JDK WAV codec
    * parses each payload's RIFF header and PCM frames back to (sample
    * rate, frame count, first/last sample). A decoder that returned
    * anything but the true samples fails the oracle. */
  def decodeAudio(media: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // codec handles resolved once per JVM (audioReaders above) —
      // the AudioSystem per-call registry lock serialized parallel
      // decode tasks
      it.map { r =>
        val ais = readAudio(r.payload)
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
          !fmt.isBigEndian,
          s"doc ${r.doc_id}: payload is not 16-bit mono LE PCM")
        val frames = ais.getFrameLength.toInt
        val pcm = ais.readAllBytes()
        require(pcm.length == frames * 2,
          s"doc ${r.doc_id}: frame count ${frames} != ${pcm.length / 2}")
        def sample(i: Int): Int =
          ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff))
        AudioFeatures(r.doc_id, fmt.getSampleRate.toInt, frames,
          sample(0), sample(frames - 1))
      }
    }
  }

  /** STUB decoder — stands in for video frame-sample (the one modality
    * with no JDK codec; image and audio decode for real above).
    * Deterministic fake features derived from the
    * payload bytes so the driver oracle can verify the plumbing:
    * f0/f1 = payload length split, f2 = first byte. A production build
    * swaps ONLY this function for a codec-backed one. */
  private def decodeStub(payload: Array[Byte]): (Int, Int, Int) =
    (payload.length % 256, payload.length / 256,
      if (payload.isEmpty) 0 else payload(0) & 0xff)

  /** Per-partition batch decode: one iterator pass per partition (codec
    * init would happen once here, before the iterator map). */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition init site (e.g. codec/model handle) goes here
      it.map { r =>
        val (f0, f1, f2) = decodeStub(r.payload)
        MediaFeatures(r.doc_id, r.modality, r.byte_len, f0, f1, f2)
      }
    }
  }
}
