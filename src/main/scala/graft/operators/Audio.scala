package graft.operators

import javax.sound.sampled.AudioFormat

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Audio-column operators — the audio leg of the multimodal story
  * (north-star extension; the image leg is [[Multimodal]]).
  *
  * Same architecture as the image family: media as opaque `binary` columns,
  * decode / feature-extract / resample as distributed per-blob transforms —
  * blob-sized tasks, partition-parallel, no driver involvement. And the
  * same REAL-codec discipline: every query materializes a deterministic
  * 16-bit mono PCM WAV blob per document (samples a pinned integer function
  * of the document's bytes — [[sampleAt]]), then decodes it with
  * `javax.sound.sampled.AudioSystem` (the JDK's stock WAV reader — no
  * external codec dependency) and computes its output from the DECODED
  * sample stream. The encoder is hand-written (44-byte canonical RIFF/fmt/
  * data header, little-endian int16 frames — the public format), so the
  * blob bytes are bit-reproducible and the DuckDB oracle recomputes the
  * expected sample statistics from the same generator arithmetic: a hash
  * match certifies that a real codec round trip (encode → JDK decode →
  * sample read-back) reproduced the source samples exactly. A header slip,
  * an endianness error, or a sign-extension bug anywhere in the path shows
  * up as an oracle mismatch.
  *
  * At 100 TB the shape is unchanged: blobs live in a binary column, every
  * kernel is a per-row map/flatMap inside one codegen stage boundary, and
  * output size is Θ(windows), never Θ(blob bytes shuffled) — the text→blob
  * synthesis stands where a parquet binary column read would, and swapping
  * WAV for FLAC/MP3 changes [[decodeSamples]] only. */
object Audio {
  type Q = (SparkSession, String) => DataFrame

  /** Fixed audio format of the synthesized blobs. */
  private[graft] val SampleRate = 8000
  /** Non-overlapping analysis window, in samples (the VAD/feature-framing
    * shape; the trailing partial window is emitted with its own count). */
  private[graft] val WindowSize = 64

  /** Sample count for a payload of n bytes: 240–480, varies per document
    * so duration handling is actually exercised. */
  private[graft] def nSamples(n: Long): Int = (240 + n % 241).toInt

  /** Pinned sample generator: int16 amplitude of sample i for a payload.
    * v is the payload byte at index i mod n (0 for an empty payload);
    * amp = (v·523 + i·257) mod 65536 − 32768. All-integer and nonnegative
    * before the mod, so DuckDB replays it verbatim; the coefficients are
    * sized so ASCII payloads produce both signs (v·523 spans 16k–66k for
    * printable bytes — a smaller multiplier never crosses 32768 and the
    * zero-crossing feature would be vacuously zero). */
  private[graft] def sampleAt(bytes: Array[Byte], i: Int): Int = {
    val v = if (bytes.length == 0) 0 else bytes(i % bytes.length) & 0xff
    (v * 523 + i * 257) % 65536 - 32768
  }

  /** Hand-written canonical 44-byte WAV encoder (PCM_SIGNED, mono, 16-bit,
    * little-endian) — deterministic output, so blob length (44 + 2·ns) is
    * oracle arithmetic. */
  private[graft] def encodeWav(samples: Array[Int]): Array[Byte] = {
    val dataSize = 2 * samples.length
    val out = new Array[Byte](44 + dataSize)
    def put32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    def put16(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
    }
    def tag(off: Int, s: String): Unit = {
      var i = 0; while (i < 4) { out(off + i) = s.charAt(i).toByte; i += 1 }
    }
    tag(0, "RIFF"); put32(4, 36 + dataSize); tag(8, "WAVE")
    tag(12, "fmt "); put32(16, 16); put16(20, 1); put16(22, 1)
    put32(24, SampleRate); put32(28, SampleRate * 2); put16(32, 2)
    put16(34, 16)
    tag(36, "data"); put32(40, dataSize)
    var i = 0
    while (i < samples.length) {
      put16(44 + 2 * i, samples(i))
      i += 1
    }
    out
  }

  /** Synthesize the deterministic WAV blob for one document payload. */
  private[graft] def mediaBlob(bytes: Array[Byte]): Array[Byte] =
    encodeWav(Array.tabulate(nSamples(bytes.length))(sampleAt(bytes, _)))

  /** REAL decode: the JDK's WAV reader. Returns (format, int16 samples).
    * Throws if the blob is not readable audio — a decode failure is a
    * correctness failure here, not something to paper over.
    *
    * r15: the stream comes from [[MediaIO.audioStream]] — the same stock
    * JDK codec, with `AudioSystem`'s per-call provider discovery hoisted to
    * a per-thread cache (63.8 → 3.4 µs/doc on the sf0.1 corpus; the facade call
    * spent 95% of its time on SPI dispatch, not decoding). MediaIOSpec pins
    * sample-exact parity against the facade on the real corpus. */
  private[graft] def decodeSamples(
      blob: Array[Byte]): (AudioFormat, Array[Int]) = {
    val in = MediaIO.audioStream(blob)
    val fmt = in.getFormat
    require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
      s"unexpected decoded format: $fmt")
    val bytes = in.readAllBytes()
    in.close()
    val samples = new Array[Int](bytes.length / 2)
    var i = 0
    while (i < samples.length) {
      samples(i) = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toInt
      i += 1
    }
    (fmt, samples)
  }

  /** Fixed-point mean: floor(sum·10⁴ / cnt) in LONG arithmetic —
    * IEEE-identical in both engines (same contract as the image family). */
  private def fp(sum: Long, cnt: Long): Double =
    if (cnt == 0) 0.0 else (sum * 10000L / cnt).toDouble / 10000.0

  /** Per-clip metadata from the DECODED stream: real format fields, frame
    * count, integer-exact duration, mean |amplitude|. */
  val audioMeta: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    // r15: synth+decode run once per DISTINCT text ([[Contract.perText]])
    Contract.perText(s, d) { reps =>
      reps.map { case (h, text) =>
        val blob = mediaBlob(text.getBytes("UTF-8"))
        val (fmt, samples) = decodeSamples(blob)
        var sumAbs = 0L
        var i = 0
        while (i < samples.length) { sumAbs += math.abs(samples(i)); i += 1 }
        (h, fmt.getSampleRate.toLong, fmt.getChannels.toLong, 16L,
          samples.length.toLong,
          samples.length.toLong * 1000000L / SampleRate,
          blob.length.toLong, fp(sumAbs, samples.length))
      }
      .toDF("h", "sample_rate", "channels", "bits", "n_samples",
        "duration_us", "n_bytes", "mean_abs")
    }.orderBy(col("doc_id"))
  }

  /** Windowed features over the decoded stream: per 64-sample window, the
    * fixed-point mean square energy and the window-local zero-crossing
    * count (sign flips between consecutive samples inside the window) —
    * one output row per (clip, window), exploded inside the blob's own
    * task. */
  /** Per-doc feature kernel shared by the batch key and the streaming
    * twin: decode, then one row per 64-sample window. */
  private[graft] def featureRows(
      id: Long, text: String): Iterator[(Long, Long, Long, Double, Long)] = {
    val payload = (if (text == null) "" else text).getBytes("UTF-8")
    val (_, samples) = decodeSamples(mediaBlob(payload))
    (0 until (samples.length + WindowSize - 1) / WindowSize).iterator
      .map { wi =>
        val start = wi * WindowSize
        val end = math.min(start + WindowSize, samples.length)
        var sumSq = 0L
        var zc = 0L
        var i = start
        while (i < end) {
          val v = samples(i).toLong
          sumSq += v * v
          if (i > start &&
              ((samples(i) >= 0) != (samples(i - 1) >= 0))) zc += 1
          i += 1
        }
        (id, wi.toLong, (end - start).toLong, fp(sumSq, end - start), zc)
      }
  }

  val audioFeatures: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    // r15: decode+window once per DISTINCT text; the id slot of the shared
    // streaming-twin kernel is pure passthrough, re-keyed by text hash
    Contract.perText(s, d) { reps =>
      reps.flatMap { case (h, text) =>
        featureRows(0L, text).map { case (_, wi, n, e, z) => (h, wi, n, e, z) }
      }.toDF("h", "window_idx", "n_in_window", "energy", "zero_crossings")
    }.orderBy(col("doc_id"), col("window_idx"))
  }

  /** Resample: decode, 2× decimation (even-index samples), re-encode,
    * DECODE AGAIN, and report the second decode's stats — a full
    * encode → decode → transform → encode → decode round trip through the
    * real codec, every number oracle-replayable (the image family's resize
    * contract). */
  val audioResample: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    // r15: the decode→decimate→encode→decode round trip runs once per
    // DISTINCT text ([[Contract.perText]])
    Contract.perText(s, d) { reps =>
      reps.map { case (h, text) =>
        val (_, samples) = decodeSamples(mediaBlob(text.getBytes("UTF-8")))
        val down = Array.tabulate((samples.length + 1) / 2)(j => samples(2 * j))
        val blob2 = encodeWav(down)
        val (_, samples2) = decodeSamples(blob2)
        var sumAbs = 0L
        var i = 0
        while (i < samples2.length) { sumAbs += math.abs(samples2(i)); i += 1 }
        (h, samples.length.toLong, samples2.length.toLong,
          blob2.length.toLong, fp(sumAbs, samples2.length))
      }
      .toDF("h", "n_samples_in", "n_samples_out", "n_bytes_out",
        "mean_abs_out")
    }.orderBy(col("doc_id"))
  }

  /** Number of leading windows folded into the fingerprint. Every clip
    * has ≥ 240 samples = ≥ 3 full windows; absent windows contribute 0
    * bits, so variable-length clips fingerprint deterministically. */
  private[graft] val FpWindows = 16

  /** Acoustic fingerprint of a DECODED clip (the chromaprint-shaped
    * dedup signature): 2 energy-profile bits per leading window —
    * ((Σ|amp| / cnt) >> 8) & 3 — packed little-endian into one long.
    * Pure integer arithmetic end-to-end, so the oracle replays it. */
  private[graft] def fingerprint(samples: Array[Int]): Long = {
    var fp = 0L
    var w = 0
    while (w < FpWindows) {
      val start = w * WindowSize
      if (start < samples.length) {
        val end = math.min(start + WindowSize, samples.length)
        var sumAbs = 0L
        var i = start
        while (i < end) { sumAbs += math.abs(samples(i)); i += 1 }
        fp |= ((sumAbs / (end - start)) >> 8 & 3L) << (2 * w)
      }
      w += 1
    }
    fp
  }

  /** Audio near-dedup by acoustic fingerprint — the audio member of the
    * perceptual-dedup family (image sibling:
    * [[Multimodal.imageDedup]]): decode every clip, fingerprint its
    * energy profile, group identical fingerprints into families, keep
    * the min-id representative. One hash-shuffle keyed on the
    * fingerprint via an unordered window — ONE decode pass, Θ(docs) at
    * any corpus size. */
  val audioFingerprint: Q = (s, d) => {
    val fps = fpFrame(s, Tables.documents(s, d))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fingerprint"))
    fps
      .select(col("doc_id"), col("fingerprint"),
        min(col("doc_id")).over(w).as("rep_id"),
        count(lit(1)).over(w).cast("long").as("family_size"))
      .select(col("doc_id"), col("fingerprint"), col("rep_id"),
        col("family_size"),
        (col("doc_id") =!= col("rep_id")).cast("int").as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** One-doc fingerprint kernel shared by the batch frame, the at-rest
    * screen and the streaming twin. */
  private[graft] def streamFingerprint(text: String): Long = {
    val payload = (if (text == null) "" else text).getBytes("UTF-8")
    fingerprint(decodeSamples(mediaBlob(payload))._2)
  }

  private[operators] def fpFrame(s: SparkSession, docs: DataFrame): DataFrame = {
    val spark = s
    import spark.implicits._
    // r15: decode+hash once per DISTINCT text ([[Contract.perTextOf]])
    Contract.perTextOf(docs) { reps =>
      reps.map { case (h, text) => (h, streamFingerprint(text)) }
        .toDF("h", "fingerprint")
    }.select(col("doc_id"), col("fingerprint"))
  }

  /** AT-REST audio screen as a suite key — "has this clip's acoustic
    * fingerprint been heard before?" (memoized build, the screen-family
    * pattern). */
  val audioScreenAtRest: Q = Vectors.served((s, d) => {
    val idx = Index.ensure(s, Index.Afp, d)
    Index.screenByKey(Index.Afp, s, idx, Tables.documents(s, d)
      .where(col("source") === Vectors.MinhashBatchSource))
  })

  val queries: Map[String, Q] = Map(
    "q_audio_meta"           -> audioMeta,
    "q_audio_features"       -> audioFeatures,
    "q_audio_resample"       -> audioResample,
    "q_audio_fingerprint"    -> audioFingerprint,
    "q_audio_screen_at_rest" -> audioScreenAtRest,
  )

  /** Shared oracle CTE: the per-sample generator arithmetic. The payload
    * byte is addressed via ascii(substr(...)) — valid because the corpus
    * is ASCII (octet == char; the image family pins the assumption). */
  private val sampleCte =
    """t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents),
      |d AS (SELECT doc_id, text, n, 240 + n % 241 AS ns FROM t),
      |sx AS (SELECT doc_id, text, n, ns, unnest(range(0, ns)) AS i FROM d),
      |s AS (
      |  SELECT doc_id, ns, i,
      |    (CASE WHEN n = 0 THEN 0
      |          ELSE ascii(substr(text, CAST((i % n) + 1 AS INT), 1)) END
      |     * 523 + i * 257) % 65536 - 32768 AS amp
      |  FROM sx)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_audio_meta" ->
      s"""WITH $sampleCte
         |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
         |  CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
         |  CAST(ns AS BIGINT) AS n_samples,
         |  CAST(ns * 1000000 // 8000 AS BIGINT) AS duration_us,
         |  CAST(44 + 2 * ns AS BIGINT) AS n_bytes,
         |  CAST(CAST(sum(abs(amp)) AS BIGINT) * 10000 // ns AS DOUBLE)
         |    / 10000.0 AS mean_abs
         |FROM s GROUP BY doc_id, ns ORDER BY doc_id""".stripMargin,
    "q_audio_features" ->
      s"""WITH $sampleCte,
         |w AS (
         |  SELECT doc_id, i // 64 AS wi, i, amp,
         |    lag(amp) OVER (PARTITION BY doc_id ORDER BY i) AS prev
         |  FROM s)
         |SELECT doc_id, CAST(wi AS BIGINT) AS window_idx,
         |  CAST(count(*) AS BIGINT) AS n_in_window,
         |  CAST(CAST(sum(amp * amp) AS BIGINT) * 10000 // count(*) AS DOUBLE)
         |    / 10000.0 AS energy,
         |  CAST(sum(CASE WHEN i % 64 <> 0 AND prev IS NOT NULL
         |    AND ((amp >= 0) <> (prev >= 0)) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS zero_crossings
         |FROM w GROUP BY doc_id, wi ORDER BY doc_id, window_idx""".stripMargin,
    "q_audio_resample" ->
      s"""WITH $sampleCte
         |SELECT doc_id, CAST(ns AS BIGINT) AS n_samples_in,
         |  CAST((ns + 1) // 2 AS BIGINT) AS n_samples_out,
         |  CAST(44 + 2 * ((ns + 1) // 2) AS BIGINT) AS n_bytes_out,
         |  CAST(CAST(sum(CASE WHEN i % 2 = 0 THEN abs(amp) ELSE 0 END)
         |      AS BIGINT) * 10000 // ((ns + 1) // 2) AS DOUBLE)
         |    / 10000.0 AS mean_abs_out
         |FROM s GROUP BY doc_id, ns ORDER BY doc_id""".stripMargin,
    // per-window energy terciles packed 2 bits/window, then identical-
    // fingerprint families with min-id rep (the image-dedup replay shape)
    "q_audio_fingerprint" ->
      s"""WITH $sampleCte,
         |wst AS (
         |  SELECT doc_id, i // 64 AS w,
         |    CAST(sum(abs(amp)) AS BIGINT) // count(*) AS meanabs
         |  FROM s WHERE i // 64 < $FpWindows GROUP BY doc_id, i // 64),
         |fp AS (
         |  SELECT doc_id,
         |    CAST(sum(((meanabs // 256) % 4) << (2 * w)) AS BIGINT)
         |      AS fingerprint
         |  FROM wst GROUP BY doc_id),
         |fam AS (
         |  SELECT fingerprint, min(doc_id) AS rep_id,
         |    CAST(count(*) AS BIGINT) AS family_size
         |  FROM fp GROUP BY fingerprint)
         |SELECT f.doc_id, f.fingerprint, m.rep_id, m.family_size,
         |  CAST(CASE WHEN f.doc_id <> m.rep_id THEN 1 ELSE 0 END AS INT)
         |    AS is_dup
         |FROM fp f JOIN fam m USING (fingerprint)
         |ORDER BY f.doc_id""".stripMargin,
    // at-rest screen: the fingerprint chain split at-rest/batch by
    // source; verdict = left join on the per-fingerprint min ref
    "q_audio_screen_at_rest" ->
      s"""WITH $sampleCte,
         |wst AS (
         |  SELECT doc_id, i // 64 AS w,
         |    CAST(sum(abs(amp)) AS BIGINT) // count(*) AS meanabs
         |  FROM s WHERE i // 64 < $FpWindows GROUP BY doc_id, i // 64),
         |fp AS (
         |  SELECT doc_id,
         |    CAST(sum(((meanabs // 256) % 4) << (2 * w)) AS BIGINT)
         |      AS fingerprint
         |  FROM wst GROUP BY doc_id),
         |cls AS (
         |  SELECT fp.doc_id, fingerprint, d2.source
         |  FROM fp JOIN documents d2 ON d2.doc_id = fp.doc_id),
         |refs AS (
         |  SELECT fingerprint, min(doc_id) AS ref_id
         |  FROM cls WHERE source <> '${Vectors.MinhashBatchSource}'
         |  GROUP BY fingerprint)
         |SELECT c.doc_id,
         |  CAST(CASE WHEN r.ref_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup,
         |  coalesce(r.ref_id, CAST(-1 AS BIGINT)) AS best_match_id
         |FROM cls c LEFT JOIN refs r USING (fingerprint)
         |WHERE c.source = '${Vectors.MinhashBatchSource}'
         |ORDER BY c.doc_id""".stripMargin,
  )
}
