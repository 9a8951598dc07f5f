package graft.queries

import org.apache.spark.sql.functions._
import graft.multimodal.BinaryMeta
import graft.sources.Tables

/** Multimodal-column query (SURVEY.md §2): opaque binary payloads +
  * typed metadata extraction through the real mapPartitions batch
  * plumbing (decode stubbed deterministically — see BinaryMeta). The
  * oracle replays the same deterministic fake-decode arithmetic on
  * octet_length in SQL, checking the whole pipeline end to end.
  */
object MultimodalQueries {

  // Partitions.spread: the codec loops must not inherit the scan's
  // (possibly single-task) split; QueryDef.sortBarrier: their ORDER
  // BY must not re-run the encode+decode for range sampling. Worth it
  // HERE because per-row codec work dwarfs the guards' fixed shuffle+
  // cache cost — the cheap map-side text queries measured faster
  // without the guards at bench scale, so they don't carry them.
  private val spread = graft.operators.Partitions.spread _

  def defs: Map[String, QueryDef] = Map(
    "multimodal_meta" -> QueryDef.sql(
      (s, d) => BinaryMeta.decodeMeta(
        BinaryMeta.withPayload(Tables.documents(s, d), "text"),
        "doc_id", "payload")
        .toDF()
        // longs, not ints: the oracle's octet_length() is BIGINT and
        // the driver hashes dtype-sensitively (scripts/parity.py)
        .select(col("id"), col("n_bytes").cast("long").as("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("format"))
        // documents is key-sorted at rest and the meta pass is narrow:
        // a local sort pins the order without a range exchange (whose
        // sampling job would run the meta decode twice)
        .sortWithinPartitions("id"),
      """SELECT doc_id AS id,
        |  octet_length(encode(text)) AS n_bytes,
        |  octet_length(encode(text)) % 640 AS width,
        |  (octet_length(encode(text)) * 7) % 480 AS height,
        |  CASE (octet_length(encode(text)) % 3)
        |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpg' ELSE 'webp' END AS format
        |FROM documents ORDER BY id""".stripMargin),

    // --- REAL image decode under the oracle gate: executors render a
    // PNG per document (JDK ImageIO, dimensions a pure function of
    // doc_id), the metadata extractor decodes the actual pixels back,
    // and DuckDB predicts the dimensions arithmetically — so the
    // whole distributed encode→decode loop (real codec both ways)
    // must be faithful for the hash to match. No driver-side data
    // motion anywhere: generation and decode are both mapPartitions. ---
    "multimodal_decode" -> QueryDef.sql(
      // orderBy = range exchange, whose boundary-sampling job
      // re-executes the child; this child is MAP-ONLY (scan → decode
      // — no shuffle files to reuse), so without a materialization
      // barrier every PNG is decoded TWICE. The decoded meta frame is
      // tiny (4 scalars/doc) — cache it and let both the sample and
      // the sort read the cache. CacheScope releases it at query end.
      (s, d) => QueryDef.sortBarrier(
        BinaryMeta.decodeImageMeta(Tables.parquetCached(s, imgBlobsFor(s, d)),
          "doc_id", "payload")
          .toDF()
          .select(col("id"), col("width"), col("height"), col("format")))
        .orderBy("id"),
      """SELECT doc_id AS id,
        |  CAST(doc_id % 31 + 1 AS INT) AS width,
        |  CAST(doc_id % 17 + 1 AS INT) AS height,
        |  'png' AS format
        |FROM documents ORDER BY id""".stripMargin),

    // --- REAL audio decode under the oracle gate, same shape as
    // multimodal_decode: executors synthesize a PCM WAV per document
    // (javax.sound.sampled, rate/channels/frames pure functions of
    // doc_id), decodeAudioMeta parses the actual RIFF headers back,
    // and DuckDB predicts every field arithmetically. duration is an
    // exact-integer double division, so it is bit-identical across
    // engines. ---
    "multimodal_audio" -> QueryDef.sql(
      // same map-only-child barrier as multimodal_decode: without it
      // the orderBy's sampling job parses every WAV a second time
      (s, d) => QueryDef.sortBarrier(
        BinaryMeta.decodeAudioMeta(Tables.parquetCached(s, wavBlobsFor(s, d)),
          "doc_id", "payload")
          .toDF()
          .select(col("id"), col("sample_rate").cast("int").as("sample_rate"),
            col("channels"), col("bits"), col("n_frames"), col("duration_s")))
        .orderBy("id"),
      """SELECT doc_id AS id,
        |  CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(16 AS INT) AS bits,
        |  CAST(1600 + (doc_id % 7) * 800 AS BIGINT) AS n_frames,
        |  CAST(1600 + (doc_id % 7) * 800 AS DOUBLE)
        |    / (8000 * (1 + doc_id % 3)) AS duration_s
        |FROM documents ORDER BY id""".stripMargin),

    // --- image-level dedup via 64-bit perceptual hash (the visual
    // dedup step a multimodal pipeline runs before training): REAL
    // decode → 32×32 gray → DCT-II → median-threshold bits, hashed
    // map-side; group stats aggregate on the 8-byte key; the tiny
    // group table broadcasts back. Fixture classes (doc_id % 16)
    // render byte-identical stripe patterns per class, all 16
    // mutually distinct — the oracle PREDICTS the grouping
    // arithmetically, so a phash collision across classes, a split
    // within a class, or a lost blob all hash-fail. Near-dup
    // tolerance (the property hash-equality can't gate) is pinned in
    // ImageDecodeSpec. ---
    "dedup_phash" -> QueryDef.sql(
      (s, d) => phashGroups(Tables.parquetCached(s, clsBlobsFor(s, d))),
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY doc_id % 16) AS keep_doc,
        |  count(*) OVER (PARTITION BY doc_id % 16) AS n_dups
        |FROM documents ORDER BY doc_id""".stripMargin),

    // --- audio-level dedup via 64-bit acoustic fingerprint (the
    // audio sibling of dedup_phash, completing multimodal dedup):
    // REAL PCM decode → per-window zero-crossing + energy profile →
    // FNV-64, hashed map-side; group stats on the 8-byte key; tiny
    // group table broadcasts back. Fixture classes (doc_id % 12) are
    // square waves of class-determined half-period (5+cls samples) —
    // distinct ZCR per class, byte-identical within a class — so the
    // oracle PREDICTS the grouping arithmetically: a fingerprint
    // collision across classes, a split within one, or a dropped
    // blob all hash-fail. ---
    "dedup_audiofp" -> QueryDef.sql(
      (s, d) => afpGroups(Tables.parquetCached(s, clsWavBlobsFor(s, d))),
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY doc_id % 12) AS keep_doc,
        |  count(*) OVER (PARTITION BY doc_id % 12) AS n_dups
        |FROM documents ORDER BY doc_id""".stripMargin)
  )

  /** Executor-parallel CLASS-pattern PNG synthesis for dedup_phash:
    * every doc renders its class's (doc_id % 16) stripe pattern —
    * orientation/pitch (ax, ay) ∈ {1..4}² is unique per class, so the
    * 16 images are visually DISTINCT while same-class docs are
    * byte-identical. Stripes put the signal in the DCT's low
    * frequencies, exactly where pHash discriminates (a noise texture
    * would alias flat and risk cross-class collisions). */
  private[queries] def synthClassImages(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    spread(Tables.documents(s, d).select(col("doc_id")))
      .as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val cls = (id % 16).toInt
          val ax = 1 + (cls % 4)
          val ay = 1 + (cls / 4)
          val img = new java.awt.image.BufferedImage(48, 48,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var x = 0
          while (x < 48) {
            var y = 0
            while (y < 48) {
              val on = ((x * ax + y * ay) / 6) % 2 == 0
              val v = if (on) 230 else 25
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              y += 1
            }
            x += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "payload")
  }

  private def clsBlobsFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.writeOnce("graft_mm_cls_png", d)(p =>
      synthClassImages(s, d).write.mode("overwrite").parquet(p))

  /** pHash grouping over an image frame: hash map-side (the real
    * decode+DCT), group stats on the 8-byte hash key, broadcast-join
    * the tiny group table back. */
  private def phashGroups(imgs: org.apache.spark.sql.DataFrame) = {
    val ph = QueryDef.sortBarrier(
      BinaryMeta.phashes(imgs, "doc_id", "payload").toDF())
    val groups = ph.groupBy("phash")
      .agg(min(col("id")).as("keep_doc"), count(lit(1)).as("n_dups"))
    ph.join(broadcast(groups), "phash")
      .select(col("id").as("doc_id"), col("keep_doc"), col("n_dups"))
      .orderBy("doc_id")
  }

  /** Acoustic-fingerprint grouping over an audio frame (mirror of
    * phashGroups): fingerprint map-side — the real decode + profile —
    * group stats on the 8-byte key, broadcast the tiny group table
    * back. */
  private def afpGroups(wavs: org.apache.spark.sql.DataFrame) = {
    val fp = QueryDef.sortBarrier(
      graft.multimodal.BinaryMeta.audioFps(wavs, "doc_id", "payload").toDF())
    val groups = fp.groupBy("afp")
      .agg(min(col("id")).as("keep_doc"), count(lit(1)).as("n_dups"))
    fp.join(broadcast(groups), "afp")
      .select(col("id").as("doc_id"), col("keep_doc"), col("n_dups"))
      .orderBy("doc_id")
  }

  /** Executor-parallel CLASS-pattern WAV synthesis for dedup_audiofp:
    * every doc renders its class's (doc_id % 12) square wave —
    * half-period 5 + cls samples at a fixed 8 kHz/mono/16-bit format,
    * so the 12 tones have mutually distinct zero-crossing profiles
    * while same-class docs are byte-identical. */
  private[queries] def synthClassWavs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    spread(Tables.documents(s, d).select(col("doc_id")))
      .as[Long]
      .mapPartitions { ids =>
        import javax.sound.sampled._
        val wIt = java.util.ServiceLoader
          .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
        var writers = List.empty[javax.sound.sampled.spi.AudioFileWriter]
        while (wIt.hasNext) writers ::= wIt.next()
        ids.map { id =>
          val half = 5 + (id % 12).toInt // square-wave half-period
          val frames = 4000
          val fmt = new AudioFormat(8000f, 16, 1, true, false)
          val pcm = new Array[Byte](frames * 2)
          var i = 0
          while (i < frames) {
            val amp = if ((i / half) % 2 == 0) 12000 else -12000
            pcm(2 * i) = (amp & 0xff).toByte
            pcm(2 * i + 1) = ((amp >> 8) & 0xff).toByte
            i += 1
          }
          val ais = new AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          writers.find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE, ais)) match {
            case Some(w) => w.write(ais, AudioFileFormat.Type.WAVE, bos)
            case None => AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
          }
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "payload")
  }

  private def clsWavBlobsFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.writeOnce("graft_mm_cls_wav", d)(p =>
      synthClassWavs(s, d).write.mode("overwrite").parquet(p))

  /** Executor-parallel PNG synthesis (fixture generation — dims and
    * pixels pure functions of doc_id so the oracle can predict). */
  private def synthImages(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    spread(Tables.documents(s, d).select(col("doc_id")))
      .as[Long]
      .mapPartitions { ids =>
        // PNG encode hits ImageIO's createImageOutputStream path,
        // which spools through a temp FILE per image unless the
        // in-memory cache is selected — a per-image disk
        // round-trip that dwarfs the encode itself
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val w = (id % 31 + 1).toInt
          val h = (id % 17 + 1).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var x = 0
          while (x < w) {
            var y = 0
            while (y < h) {
              img.setRGB(x, y, ((x * 31 + y * 17 + id) & 0xffffff).toInt); y += 1
            }
            x += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "payload")
  }

  /** Executor-parallel WAV synthesis (fixture generation). */
  private def synthWavs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    spread(Tables.documents(s, d).select(col("doc_id")))
      .as[Long]
      .mapPartitions { ids =>
        import javax.sound.sampled._
        // writer resolved once per task: AudioSystem.write re-scans
        // the provider registry under a class-level lock per call,
        // serializing parallel tasks (same hoist as
        // BinaryMeta.audioReaders on the decode side)
        val wIt = java.util.ServiceLoader
          .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
        var writers = List.empty[javax.sound.sampled.spi.AudioFileWriter]
        while (wIt.hasNext) writers ::= wIt.next()
        ids.map { id =>
          val rate = 8000f * (1 + (id % 3)).toInt
          val channels = 1 + (id % 2).toInt
          val frames = 1600 + (id % 7).toInt * 800
          val fmt = new AudioFormat(rate, 16, channels, true, false)
          val pcm = new Array[Byte](frames * fmt.getFrameSize)
          val ais = new AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          // per-stream support check (the type-only overload can
          // accept streams a given provider then rejects at write)
          writers.find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE, ais)) match {
            case Some(w) => w.write(ais, AudioFileFormat.Type.WAVE, bos)
            case None => AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
          }
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "payload")
  }

  // Blob fixtures, written ONCE per (JVM, dataset): at rest a
  // multimodal corpus IS parquet binary columns, so the builds measure
  // the operator a production pipeline runs — scan + decode. Encode
  // stays gated: the fixture's encode must be faithful for the decode
  // hash to match the oracle's prediction.
  private def imgBlobsFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.writeOnce("graft_mm_png", d)(p =>
      synthImages(s, d).write.mode("overwrite").parquet(p))

  private def wavBlobsFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.writeOnce("graft_mm_wav", d)(p =>
      synthWavs(s, d).write.mode("overwrite").parquet(p))
}
