package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) pipeline plumbing.
  *
  * Media are opaque `binary` columns + typed metadata, processed in
  * batch-shaped partition passes (`mapPartitions` over a typed Dataset —
  * the JVM analog of a vectorized Python UDF: one iterator per partition,
  * amortized per-batch setup, no per-row interpreter crossing).
  *
  * The decode stage is REAL for image kinds: [[ImageCodec]] decodes
  * PNG/BMP/GIF/JPEG through the JDK's `javax.imageio` and extracts
  * pixel-derived integer features; frame sampling decodes multi-frame
  * animated GIFs (the pure-JVM stand-in for a video stream) and samples
  * uniformly across the real timeline. Non-image kinds (audio, true video
  * containers — no pure-JVM codec exists here) fall back to [[StubCodec]],
  * a deterministic fake that derives "samples" from payload bytes, so the
  * pipeline stays total; swapping the stub for a native codec is the only
  * deploy-time change for those kinds.
  *
  * Scale notes: decode is embarrassingly parallel per item; partitions
  * stay narrow (no shuffle) until the final per-source aggregation, whose
  * cardinality is tiny. Feature vectors use integer arithmetic so results
  * are bit-identical under any partitioning — the property that makes a
  * 100 TB decode run reproducible.
  */
object Multimodal {

  final case class MediaItem(media_id: Long, kind: String, source: String,
                             payload: Array[Byte])

  /** One decoded (or fallback-decoded) media item. SCHEMA CONVENTION:
    * `kind` is the item's MIME-ish kind verbatim, EXCEPT for rows whose
    * kind is decodable (`image/ *`, `audio/ *`) but whose payload failed
    * decode — those carry `<kind>;undecoded` (e.g. `image/png;undecoded`).
    * For such rows `n_bytes`/`checksum`/`features` are CONTAINER-byte
    * derived (encoder-dependent), not content-derived, so they must never
    * aggregate with decoded rows; the tag makes them their own group.
    * Consumers filtering `kind = 'image/png'` therefore see only
    * successfully-decoded items — corrupt items are a first-class triage
    * population under the `;undecoded` suffix, not silent contamination.
    */
  final case class MediaFeatures(media_id: Long, kind: String, source: String,
                                 n_bytes: Int, checksum: Long, features: Array[Long])

  final case class Frame(media_id: Long, frame_idx: Int, n_bytes: Int,
                         checksum: Long)

  /** Deterministic stand-in for a real decoder. `decode` maps payload
    * bytes → fixed-dim integer feature vector with a rolling polynomial
    * hash per band. A real implementation would decode pixels and run a
    * feature extractor here; the signature — bytes in, fixed-length
    * vector out — is the contract the pipeline tests.
    */
  object StubCodec {
    val Dim = 8

    /** Values stay < 2^31 so ANSI-mode Long aggregation over billions of
      * items cannot overflow. */
    def decode(payload: Array[Byte]): Array[Long] = {
      val f = new Array[Long](Dim)
      var i = 0
      while (i < payload.length) {
        val band = i % Dim
        f(band) = (f(band) * 31 + (payload(i) & 0xff)) % 2147483647L
        i += 1
      }
      f
    }

    def checksum(payload: Array[Byte]): Long = {
      var h = 5381L
      var i = 0
      while (i < payload.length) { h = (h * 33 + (payload(i) & 0xff)) % 2147483647L; i += 1 }
      h
    }
  }

  /** Batch decode + feature extraction, one partition pass. Image kinds go
    * through the real `javax.imageio` decoder, audio kinds through the real
    * `javax.sound.sampled` WAV decoder; an undecodable payload or any other
    * kind takes the stub path (total function, no row loss).
    *
    * Decode-FAILURE rows (corrupt PNG/WAV under a decodable kind) keep the
    * stub's container-byte length/checksum — values that are NOT
    * encoder-invariant — so their `kind` is tagged `<kind>;undecoded`:
    * they group separately and can never mix container-based numbers into
    * a (kind, source) group whose aggregates m02/m04 document as coming
    * from decoded content. Downstream sees corrupt items as their own
    * first-class population (the triage bucket a 100 TB decode run needs
    * anyway), not as silent contamination.
    */
  def extractFeatures(items: Dataset[MediaItem]): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      // per-partition setup of heavyweight codec state would happen once here
      it.map { m =>
        // total function: a NULL payload (NULL text upstream) is an empty
        // item, never an executor NPE
        val payload = if (m.payload == null) Array.emptyByteArray else m.payload
        // n_bytes/checksum come from DECODED canonical content when a real
        // decode succeeds — pixel bytes / PCM bytes — NOT the container:
        // container bytes depend on the ENCODER (a JDK imageio deflate
        // change would shift them), and the m02/m04 scaladocs promise
        // encoder-invariant aggregates (the m03 frame convention).
        val decoded: Option[MediaFeatures] =
          if (m.kind.startsWith("image/"))
            ImageCodec.decode(payload).map(img =>
              MediaFeatures(m.media_id, m.kind, m.source,
                img.getWidth * img.getHeight * 3,
                ImageCodec.pixelChecksum(img), ImageCodec.features(img)))
          else if (m.kind.startsWith("audio/"))
            AudioCodec.decode(payload).map(clip =>
              MediaFeatures(m.media_id, m.kind, m.source,
                clip.samples.length * 2,
                AudioCodec.pcmChecksum(clip), AudioCodec.features(clip)))
          else None
        decoded.getOrElse {
          // a DECODABLE kind that failed decode is tagged — see scaladoc
          val kind =
            if (m.kind.startsWith("image/") || m.kind.startsWith("audio/"))
              m.kind + ";undecoded"
            else m.kind
          MediaFeatures(m.media_id, kind, m.source,
            payload.length, StubCodec.checksum(payload), StubCodec.decode(payload))
        }
      }
    }
  }

  /** Frame sampling — the batch shape of video frame extraction.
    *
    * Image kinds take the REAL path: `javax.imageio` decodes every frame of
    * the container (animated GIF = the pure-JVM stand-in for a video
    * stream), then at most `n` frames are sampled uniformly across the
    * timeline (indices `i*total/n` — first frame always kept, stride grows
    * with clip length, the standard uniform-temporal-sampling rule).
    * `frame_idx` is the index IN THE SOURCE, `n_bytes` the decoded pixel
    * count, `checksum` a pixel-derived rolling hash — all encoder- and
    * partitioning-invariant.
    *
    * Other kinds (and undecodable payloads) fall back to the byte-span
    * stub: payload split into `n` equal spans, one row each — the pipeline
    * stays total and the row shape identical, so swapping in a native
    * video codec at deploy time changes no schema.
    */
  def sampleFrames(items: Dataset[MediaItem], n: Int): Dataset[Frame] = {
    import items.sparkSession.implicits._
    items.flatMap { m0 =>
      val m = if (m0.payload == null)
        m0.copy(payload = Array.emptyByteArray) else m0 // total at the seam
      val real =
        if (m.kind.startsWith("image/")) ImageCodec.decodeFrames(m.payload)
        else None
      real match {
        case Some(frames) if frames.nonEmpty =>
          val total = frames.length
          val picks = if (total <= n) 0 until total
                      else (0 until n).map(i => i * total / n)
          picks.iterator.map { fi =>
            val img = frames(fi)
            Frame(m.media_id, fi, img.getWidth * img.getHeight,
              ImageCodec.pixelChecksum(img))
          }
        case _ =>
          val len = m.payload.length
          (0 until n).iterator.map { i =>
            val from = (len.toLong * i / n).toInt
            val until = (len.toLong * (i + 1) / n).toInt
            val span = java.util.Arrays.copyOfRange(m.payload, from, until)
            Frame(m.media_id, i, span.length, StubCodec.checksum(span))
          }
      }
    }
  }

  /** documents-as-media: treat text bytes as opaque payloads (the shape a
    * real corpus would have with image bytes in the payload column). */
  def documentsAsMedia(s: SparkSession, dir: String): Dataset[MediaItem] = {
    import s.implicits._
    Tables.documents(s, dir)
      // NULL text → empty payload at the SOURCE: every typed consumer
      // (codecs, payload.length, frame spans) dereferences the array, and
      // the pipeline's contract is total-function/no-row-loss
      .select(col("doc_id").as("media_id"), lit("text").as("kind"),
        col("source"), encode(coalesce(col("text"), lit("")), "UTF-8").as("payload"))
      .as[MediaItem]
  }

  /** images-as-media: render each document into a real image (pixels
    * derived deterministically from the text bytes) so the image decode
    * path runs at corpus scale — the encode happens in the same narrow
    * partition pass that a real corpus would spend reading image bytes
    * from the payload column. Containers alternate PNG/BMP by id so BOTH
    * real decoders run end-to-end; features come from decoded pixels, so
    * the per-kind aggregates are container-invariant by construction. */
  def imagesFromDocs(s: SparkSession, dir: String): Dataset[MediaItem] = {
    import s.implicits._
    documentsAsMedia(s, dir).mapPartitions { it =>
      it.map { m =>
        val side = 16
        val rgb = new Array[Int](side * side)
        var i = 0
        while (i < rgb.length) {
          val b = if (m.payload.isEmpty) 0 else m.payload(i % m.payload.length) & 0xff
          rgb(i) = (b << 16) | (((b * 7) & 0xff) << 8) | ((b * 13) & 0xff)
          i += 1
        }
        if (m.media_id % 2 == 0)
          MediaItem(m.media_id, "image/png", m.source, ImageCodec.encodePng(side, side, rgb))
        else
          MediaItem(m.media_id, "image/bmp", m.source, ImageCodec.encodeBmp(side, side, rgb))
      }
    }
  }

  /** gifs-as-media: render each document into a real multi-frame animated
    * GIF (2-6 grayscale frames derived deterministically from the text
    * bytes) — the pure-JVM stand-in for a video column, giving the frame
    * sampler true multi-frame containers to decode at corpus scale. */
  def gifsFromDocs(s: SparkSession, dir: String): Dataset[MediaItem] = {
    import s.implicits._
    documentsAsMedia(s, dir).mapPartitions { it =>
      it.map { m =>
        val side = 8
        val nFrames = 2 + (m.media_id % 5).toInt
        val frames = (0 until nFrames).map { f =>
          Array.tabulate(side * side) { i =>
            val b = if (m.payload.isEmpty) 0
                    else m.payload((i + f * 7) % m.payload.length) & 0xff
            (b + f * 31) & 0xff
          }
        }
        MediaItem(m.media_id, "image/gif", m.source,
          ImageCodec.encodeGif(side, side, frames))
      }
    }
  }

  /** audio-as-media: render each document into a real PCM16 mono WAV clip
    * (samples derived deterministically from the text bytes — a short
    * sawtooth-modulated waveform) so the audio decode path runs at corpus
    * scale, same pattern as [[imagesFromDocs]]. */
  def audioFromDocs(s: SparkSession, dir: String): Dataset[MediaItem] = {
    import s.implicits._
    documentsAsMedia(s, dir).mapPartitions { it =>
      it.map { m =>
        val n = 400 + (m.media_id % 7).toInt * 100 // 50-135 ms at 8 kHz
        val samples = Array.tabulate(n) { i =>
          val b = if (m.payload.isEmpty) 0 else m.payload(i % m.payload.length) & 0xff
          // byte-seeded sawtooth: full 16-bit dynamic range, sign changes
          (((b * 257) - 32768) * (if ((i / 8) % 2 == 0) 1 else -1) / 2).toShort
        }
        MediaItem(m.media_id, "audio/wav", m.source, AudioCodec.encodeWav(8000, samples))
      }
    }
  }

  /** Deterministic corruption of a thin sample of decodable payloads:
    * every `every`-th media_id with an image/audio kind keeps only its
    * first 8 container bytes (shorter than any PNG/BMP/GIF/WAV header can
    * survive), guaranteeing decode failure. This plants the
    * `<kind>;undecoded` group (see [[MediaFeatures]]) INSIDE the
    * golden-gated corpora, so the quarantine branch is pinned by the
    * driver's oracle gate and MediaGoldenSpec — not only by unit tests.
    * A real 100 TB corpus always contains corrupt items; the gate corpus
    * now does too. */
  def corruptSample(items: Dataset[MediaItem], every: Long): Dataset[MediaItem] = {
    import items.sparkSession.implicits._
    items.map { m =>
      if ((m.kind.startsWith("image/") || m.kind.startsWith("audio/")) &&
          m.media_id % every == 0 && m.payload != null && m.payload.length > 8)
        m.copy(payload = java.util.Arrays.copyOf(m.payload, 8))
      else m
    }
  }

  /** m02: full decode→feature→aggregate pipeline over three media kinds —
    * real PNG and BMP decode (javax.imageio; containers alternate by id)
    * plus the stub path for text — grouped by (kind, source). Rows-only
    * check: the mapPartitions codec stage is not SQL-expressible. ALL
    * FOUR aggregated columns come from decoded content for decodable
    * kinds (pixel bytes + pixel checksum, not container bytes — through
    * r16 total_bytes/min_checksum hashed the PNG/BMP container, so a JDK
    * imageio encoder change would have broken the golden on correct
    * decode behavior), making the aggregate encoder- and
    * partitioning-invariant as documented. The claim is total: a corrupt
    * payload under a decodable kind lands in its own `<kind>;undecoded`
    * group (see [[extractFeatures]]), so no (kind, source) group here
    * ever mixes container-derived fallback values with decoded ones.
    */
  val m02_media_features: (SparkSession, String) => DataFrame = (s, dir) => {
    import s.implicits._
    // corruptSample plants image/{png,bmp};undecoded groups in the gated
    // output — every 67th id, hitting both the even (PNG) and odd (BMP)
    // container populations
    val media = corruptSample(
      documentsAsMedia(s, dir).unionByName(imagesFromDocs(s, dir)), 67L)
    extractFeatures(media)
      .groupBy(col("kind"), col("source"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(element_at(col("features"), 1)).as("f0_sum"),
        min(col("checksum")).as("min_checksum"))
      .orderBy(col("kind"), col("source"))
  }

  /** m03: frame sampling pipeline (rows-only — the imageio decode stage is
    * not SQL-expressible). Real animated-GIF containers (multi-frame
    * decode + uniform temporal sampling, pixel-derived checksums) union'd
    * with the byte-span stub path over raw text payloads; ≤4 frames per
    * item; aggregate per source frame index.
    *
    * Corrupt-row coverage matches m02/m04: every 67th GIF is truncated to
    * its first 8 container bytes, so the undecodable-image → byte-span
    * fallback branch of [[sampleFrames]] executes INSIDE the gated corpus
    * and shapes the golden. m03 has no `kind` column, so the corrupt rows
    * surface as stub spans folded into the frame_idx aggregates rather
    * than a `;undecoded` group — the fallback is still oracle-pinned
    * (remove it and the golden breaks), and I20's codec-free recompute
    * re-derives those spans from the format-mandated GIF header bytes. */
  val m03_frame_sample: (SparkSession, String) => DataFrame = (s, dir) => {
    import s.implicits._
    val media = corruptSample(
      documentsAsMedia(s, dir).unionByName(gifsFromDocs(s, dir)), 67L)
    sampleFrames(media, 4)
      .groupBy(col("frame_idx"))
      .agg(count(lit(1)).as("n_frames"), sum(col("n_bytes")).as("total_bytes"),
        sum(col("checksum")).as("checksum_sum"))
      .orderBy(col("frame_idx"))
  }

  /** m04: audio decode→feature→aggregate pipeline — real WAV decode
    * (javax.sound.sampled) beside the text stub path, grouped by kind.
    * Rows-only check: the mapPartitions codec stage is not SQL-expressible.
    * Audio features come from decoded PCM samples, so the aggregate is
    * container-invariant (same signal in any valid PCM16 WAV → same
    * numbers) and partitioning-invariant (integer sums only).
    */
  val m04_audio_features: (SparkSession, String) => DataFrame = (s, dir) => {
    import s.implicits._
    // corruptSample plants the audio/wav;undecoded group in the gated
    // output (same convention as m02's image legs)
    val media = corruptSample(
      documentsAsMedia(s, dir).unionByName(audioFromDocs(s, dir)), 67L)
    extractFeatures(media)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(element_at(col("features"), 3)).as("frames_sum"),      // nFrames band
        sum(element_at(col("features"), 7)).as("zero_cross_sum"),  // zc band
        max(element_at(col("features"), 6)).as("peak_max"))
      .orderBy(col("kind"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m02_media_features" -> m02_media_features,
    "m03_frame_sample" -> m03_frame_sample,
    "m04_audio_features" -> m04_audio_features,
  )

  /** GOLDEN-VALUE oracles: DuckDB cannot decode media, but the three
    * pipelines aggregate to deterministic integers (pixel/sample-derived
    * sums over a corpus synthesized from the documents table), so the
    * expected values are computed once at the driver's gate scale
    * (sf0.01) and checked in as tiny parquet files that the oracle
    * replays via `read_parquet`. Decode GROUND TRUTH is carried by the
    * exact-pixel/exact-sample codec specs (MultimodalSpec); the golden
    * pins the full distributed pipeline against drift, and
    * MediaGoldenSpec recomputes + compares in `sbt test` so a legitimate
    * behavior change surfaces there first (regenerate via
    * `SPARK_GRAFT_ONLY=<name> scripts/run.sh graft.Verify` at sf0.01,
    * then copy the part file over golden/<name>.parquet). */
  val GoldenDir = "/root/repo/golden"
  val oracles: Map[String, String] = Map(
    "m02_media_features" ->
      s"SELECT * FROM read_parquet('$GoldenDir/m02_media_features.parquet') ORDER BY kind, source",
    "m03_frame_sample" ->
      s"SELECT * FROM read_parquet('$GoldenDir/m03_frame_sample.parquet') ORDER BY frame_idx",
    "m04_audio_features" ->
      s"SELECT * FROM read_parquet('$GoldenDir/m04_audio_features.parquet') ORDER BY kind",
  )
}
