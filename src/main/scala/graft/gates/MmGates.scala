package graft.gates

import org.apache.spark.sql.functions._
import Fixtures._

/** Multimodal gates (`mm_*`): chunking, frame sampling and
  * cross-modal joins.
  */
object MmGates {

  val gates: Seq[Gate] = Seq(

    // ---------------- extension operators: multimodal plumbing --------
    Gate("mm_chunk_fixed", (s, dir) =>
      // audio-style fixed-window framing of the payload with per-chunk
      // content hashes (char windows here so the oracle can replay;
      // the operator accepts binary columns identically)
      graft.functions.Multimodal.chunkFixed(
        t(s, dir, "documents").select(col("doc_id"), col("text")), "text", 256)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_len"),
          col("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      """WITH ex AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, greatest(CAST(ceil(length(text) / 256.0) AS BIGINT), 1))) AS i
        |  FROM documents)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  CAST(length(substr(text, CAST(i * 256 + 1 AS INT), 256)) AS INT) AS chunk_len,
        |  md5(substr(text, CAST(i * 256 + 1 AS INT), 256)) AS chunk_hash
        |FROM ex ORDER BY doc_id, chunk_idx""".stripMargin),

    Gate("mm_chunk_cdc", (s, dir) =>
      // content-defined (rolling-hash) chunking — the edit-resilient
      // twin of mm_chunk_fixed: boundaries depend only on the local
      // 16-wide window, so chunk hashes survive upstream insertions
      // and chunk-level dedup dedups recrawled blobs; single-pass
      // native kernel for the spans, declarative substr+md5 for the
      // hashes
      graft.functions.Multimodal.chunkContentDefined(
        t(s, dir, "documents").select(col("doc_id"), col("text")), "text")
        .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
          col("chunk_len"), col("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      // windowed-lag replay of the rolling hash: 16 lagged code-point
      // terms with precomputed 31^j mod 1e9+7 coefficients, exact
      // BIGINT arithmetic; mask boundaries (H % 64 = 0) UNION the
      // terminal boundary, chunks cut between consecutive boundaries
      """WITH cp AS (
        |  SELECT doc_id, text,
        |    generate_subscripts(regexp_split_to_array(text, ''), 1) AS pos,
        |    unnest(regexp_split_to_array(text, '')) AS ch
        |  FROM documents),
        |vals AS (
        |  SELECT doc_id, text, pos, CAST(ord(ch) AS BIGINT) AS b FROM cp),
        |hs AS (
        |  SELECT doc_id, text, pos,
        |    (b * 1 + lag(b, 1) OVER w * 31 + lag(b, 2) OVER w * 961
        |     + lag(b, 3) OVER w * 29791 + lag(b, 4) OVER w * 923521
        |     + lag(b, 5) OVER w * 28629151
        |     + lag(b, 6) OVER w * 887503681
        |     + lag(b, 7) OVER w * 512613922
        |     + lag(b, 8) OVER w * 891031477
        |     + lag(b, 9) OVER w * 621975598
        |     + lag(b, 10) OVER w * 281243405
        |     + lag(b, 11) OVER w * 718545499
        |     + lag(b, 12) OVER w * 274910315
        |     + lag(b, 13) OVER w * 522219709
        |     + lag(b, 14) OVER w * 188810867
        |     + lag(b, 15) OVER w * 853136842) % 1000000007 AS h
        |  FROM vals WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |bounds AS (
        |  SELECT doc_id, text, pos FROM hs WHERE pos >= 16 AND h % 64 = 0
        |  UNION
        |  SELECT doc_id, text, length(text) AS pos FROM documents
        |  WHERE length(text) >= 1),
        |chunks AS (
        |  SELECT doc_id, text, pos AS e,
        |    COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0)
        |      AS sprev,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1
        |      AS chunk_idx
        |  FROM bounds)
        |SELECT doc_id, chunk_idx, sprev + 1 AS chunk_start,
        |  e - sprev AS chunk_len,
        |  md5(substr(text, sprev + 1, e - sprev)) AS chunk_hash
        |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin),

    Gate("mm_phash_neardup", (s, dir) => {
      // image near-dup via perceptual hash over REAL decoded pixels:
      // synthetic gray PNGs planted in twin groups of 4 (one pixel
      // perturbed per twin) → decode → aHash64 → pigeonhole Hamming
      // pairs (the SAME scale-safe block machinery as text simhash);
      // the oracle replays the pixel/hash arithmetic and does the
      // quadratic Hamming join on the small fixture
      // the id list reads as ONE parquet split (tiny file) — without a
      // fan-out repartition every decode runs on a single core; at
      // real scale the scan itself provides the parallelism
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .repartition(col("doc_id"))
      val imgs = graft.functions.Multimodal.withSyntheticGrayPng8(
        docs, "doc_id", twinGroup = 4)
      val hashed = graft.functions.Multimodal.imageAHash64(imgs, "payload")
        .select(col("doc_id"), col("ahash"))
      graft.functions.Dedup.hammingNearDups(
          hashed, "doc_id", "ahash", numBits = 64, radius = 6)
        .orderBy(col("id_a"), col("id_b"))
    },
      // replay of the full chain: pixel formula (twin groups of 4, one
      // +128 mod 256 pixel perturbation per twin) → aHash bit rule
      // (64·g ≥ Σg, all integer) → signed-64 hash assembly (bit 63 via
      // min-bigint addition, two's complement) → quadratic Hamming join
      """WITH px0 AS (
        |  SELECT d.doc_id, t.i,
        |    CAST(('0x' || substr(md5('px|' || (d.doc_id - d.doc_id % 4)
        |        || '|' || (t.i % 8) || '|' || (t.i // 8)), 1, 15))
        |      AS BIGINT) % 256 AS g0
        |  FROM documents d, (SELECT unnest(range(64)) AS i) t),
        |px AS (
        |  SELECT doc_id, i,
        |    CASE WHEN doc_id % 4 > 0 AND i // 8 = 0
        |              AND i % 8 = doc_id % 4 - 1
        |      THEN (g0 + 128) % 256 ELSE g0 END AS g
        |  FROM px0),
        |s AS (SELECT doc_id, SUM(g) AS total FROM px GROUP BY doc_id),
        |h AS (
        |  SELECT px.doc_id,
        |    SUM(CASE WHEN 64 * g >= total AND i < 63
        |          THEN CAST(1 AS BIGINT) << i ELSE 0 END)::BIGINT
        |    + CASE WHEN MAX(CASE WHEN i = 63 AND 64 * g >= total
        |                    THEN 1 ELSE 0 END) = 1
        |        THEN -9223372036854775807 - 1 ELSE 0 END AS ahash
        |  FROM px JOIN s ON px.doc_id = s.doc_id
        |  GROUP BY px.doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 6
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("mm_decode_png", (s, dir) => {
      // REAL image decode (javax.imageio, pure JVM): synthetic PNGs
      // with id-derived dims are built per partition, every 97th
      // payload truncated; the decoder must report exact format/dims
      // (the oracle replays the dimension arithmetic) and route
      // corrupt payloads to decode_ok=false instead of failing tasks
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withPng = graft.functions.Multimodal.withSyntheticPng(
        docs, "doc_id", truncateEvery = 97L)
      graft.functions.Multimodal.decodeMeta(withPng, "payload",
          graft.functions.Multimodal.ImageIoDecoderFactory)
        .select(col("doc_id"),
          col("media_meta.format").as("format"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.n_frames").as("n_frames"),
          col("media_meta.decode_ok").as("decode_ok"))
        .orderBy(col("doc_id"))
    },
      // the decoded dims must equal the generator's arithmetic; the
      // every-97th truncated payload must flag, not fail
      """SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE 'png' END AS format,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(8 + doc_id % 16 AS INT) END AS width,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(8 + (doc_id * 7) % 16 AS INT) END AS height,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE CAST(1 AS INT) END
        |    AS n_frames,
        |  doc_id % 97 <> 0 AS decode_ok
        |FROM documents ORDER BY doc_id""".stripMargin),

    Gate("mm_audio_fingerprint", (s, dir) => {
      // 64-bit loudness fingerprint over REAL decoded PCM: synthetic
      // WAVs (sample values a pure function of the id), decoded by
      // javax.sound, 64 windows thresholded against the global mean
      // |sample| — all integer cross-products, so the oracle replays
      // the fingerprint from the sample formula alone
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val wavs = graft.functions.Multimodal.withSyntheticWav(docs, "doc_id")
      graft.functions.Multimodal.audioFingerprint64(wavs, "payload")
        .select(col("doc_id"), col("n_samples"), col("afp"))
        .orderBy(col("doc_id"))
    },
      // sample replay: s(i) = (id·31 + i·7) mod 65536 − 32768 over
      // n = frames·channels interleaved samples; window of sample i is
      // ⌈64(i+1)/n⌉−1 (the ⌊w·n/64⌋ boundary layout inverted); bit w
      // set iff winSum·n ≥ total·winCnt; bit 63 via min-bigint addition
      """WITH params AS (
        |  SELECT doc_id,
        |    (50 + (doc_id * 13) % 200) * (1 + doc_id % 2) AS n
        |  FROM documents),
        |samp AS (
        |  SELECT p.doc_id, p.n, t.i,
        |    abs((p.doc_id * 31 + t.i * 7) % 65536 - 32768) AS a,
        |    (64 * (t.i + 1) + p.n - 1) // p.n - 1 AS w
        |  FROM params p JOIN (SELECT unnest(range(500)) AS i) t
        |    ON t.i < p.n),
        |tot AS (SELECT doc_id, MAX(n) AS n, SUM(a) AS total
        |        FROM samp GROUP BY doc_id),
        |win AS (SELECT doc_id, w, SUM(a) AS winsum, COUNT(*) AS wincnt
        |        FROM samp GROUP BY doc_id, w),
        |bits AS (
        |  SELECT win.doc_id, win.w
        |  FROM win JOIN tot ON win.doc_id = tot.doc_id
        |  WHERE win.winsum * tot.n >= tot.total * win.wincnt),
        |fp AS (
        |  SELECT doc_id,
        |    COALESCE(SUM(CASE WHEN w < 63
        |      THEN CAST(1 AS BIGINT) << w END), 0)::BIGINT
        |    + CASE WHEN MAX(CASE WHEN w = 63 THEN 1 ELSE 0 END) = 1
        |        THEN -9223372036854775807 - 1 ELSE 0 END AS afp
        |  FROM bits GROUP BY doc_id)
        |SELECT p.doc_id, CAST(p.n AS BIGINT) AS n_samples, fp.afp
        |FROM params p JOIN fp ON p.doc_id = fp.doc_id
        |ORDER BY p.doc_id""".stripMargin),

    Gate("mm_decode_wav", (s, dir) => {
      // REAL audio decode (javax.sound.sampled, pure JVM): synthetic
      // PCM WAVs with id-derived params are built per partition, every
      // 89th payload truncated mid-data; the decoder must report exact
      // container params (the oracle replays the arithmetic) and the
      // frame-count drain must flag the truncated payloads
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withWav = graft.functions.Multimodal.withSyntheticWav(
        docs, "doc_id", truncateEvery = 89L)
      graft.functions.Multimodal.decodeAudioMeta(withWav, "payload")
        .select(col("doc_id"),
          col("audio_meta.format").as("format"),
          col("audio_meta.sample_rate").as("sample_rate"),
          col("audio_meta.channels").as("channels"),
          col("audio_meta.bits").as("bits"),
          col("audio_meta.frames").as("frames"),
          col("audio_meta.decode_ok").as("decode_ok"))
        .orderBy(col("doc_id"))
    },
      // params must equal the generator's arithmetic; every 89th
      // payload is truncated mid-data and must flag, not fail
      """SELECT doc_id,
        |  CASE WHEN doc_id % 89 = 0 THEN NULL ELSE 'wave' END AS format,
        |  CASE WHEN doc_id % 89 = 0 THEN NULL
        |       ELSE CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |                 ELSE 44100 END AS INT) END AS sample_rate,
        |  CASE WHEN doc_id % 89 = 0 THEN NULL
        |       ELSE CAST(1 + doc_id % 2 AS INT) END AS channels,
        |  CASE WHEN doc_id % 89 = 0 THEN NULL ELSE CAST(16 AS INT) END AS bits,
        |  CASE WHEN doc_id % 89 = 0 THEN NULL
        |       ELSE CAST(50 + (doc_id * 13) % 200 AS BIGINT) END AS frames,
        |  doc_id % 89 <> 0 AS decode_ok
        |FROM documents ORDER BY doc_id""".stripMargin),

    Gate("mm_byte_features", (s, dir) => {
      // binary-column plumbing over text payloads cast to binary;
      // size is oracle-checked, content hash is engine-specific
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      graft.functions.Multimodal.byteFeatures(docs, "payload")
        .select(col("doc_id"), col("media_size"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INT) AS media_size
        |FROM documents ORDER BY doc_id""".stripMargin),

    Gate("mm_frame_sample", (s, dir) => {
      // video-style frame sampling over a REAL multi-frame container:
      // synthetic GVID payloads (indexed gray PNG frames, count and
      // pixels id-derived) → stride-3 sample that decodes ONLY the
      // sampled frames → per-frame aHash64. The oracle replays frame
      // count, sampled indices and the pixel/hash arithmetic.
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .repartition(col("doc_id")) // tiny single-split fixture fan-out
      val vids = graft.functions.Multimodal.withSyntheticVideo(docs, "doc_id")
      graft.functions.Multimodal.frameSampleAHash(vids, "payload", every = 3)
        .select(col("doc_id"), col("frame_idx"), col("n_frames"), col("ahash"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      // replay of the container fixture + sampling + per-frame aHash:
      // n_frames = 6 + id mod 5, sampled indices ≡ 0 (mod 3), frame
      // seed id·100+idx feeding the same md5 pixel formula and integer
      // aHash bit rule (incl. two's-complement bit 63) as mm_phash
      """WITH d AS (
        |  SELECT doc_id, CAST(6 + doc_id % 5 AS INT) AS n_frames
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, n_frames,
        |    CAST(unnest(range(n_frames)) AS INT) AS frame_idx
        |  FROM d),
        |sf AS (SELECT * FROM f WHERE frame_idx % 3 = 0),
        |px AS (
        |  SELECT sf.doc_id, sf.frame_idx, t.i,
        |    CAST(('0x' || substr(md5('px|' || (sf.doc_id * 100 + sf.frame_idx)
        |        || '|' || (t.i % 8) || '|' || (t.i // 8)), 1, 15))
        |      AS BIGINT) % 256 AS g
        |  FROM sf, (SELECT unnest(range(64)) AS i) t),
        |s AS (SELECT doc_id, frame_idx, SUM(g) AS total
        |  FROM px GROUP BY 1, 2),
        |h AS (
        |  SELECT px.doc_id, px.frame_idx,
        |    SUM(CASE WHEN 64 * g >= total AND i < 63
        |          THEN CAST(1 AS BIGINT) << i ELSE 0 END)::BIGINT
        |    + CASE WHEN MAX(CASE WHEN i = 63 AND 64 * g >= total
        |                    THEN 1 ELSE 0 END) = 1
        |        THEN -9223372036854775807 - 1 ELSE 0 END AS ahash
        |  FROM px JOIN s ON px.doc_id = s.doc_id
        |    AND px.frame_idx = s.frame_idx
        |  GROUP BY px.doc_id, px.frame_idx)
        |SELECT sf.doc_id, sf.frame_idx, sf.n_frames, h.ahash
        |FROM sf JOIN h ON sf.doc_id = h.doc_id
        |  AND sf.frame_idx = h.frame_idx
        |ORDER BY sf.doc_id, sf.frame_idx""".stripMargin),

    Gate("mm_frame_sample_avi", (s, dir) => {
      // the REAL-container twin of mm_frame_sample: the same md5
      // frames JPEG-encoded into a spec-valid MJPEG AVI, strided
      // decode through the RIFF walk + the JDK's own JPEG codec. The
      // oracle replays the STRUCTURAL contract (frame counts, sampled
      // indices, every decode succeeding) — JPEG pixel decode is
      // codec-defined, not engine-portable, so the aHash values stay
      // under the spec's self-parity check instead (FunctionsSpec
      // "MJPEG-in-AVI").
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .repartition(col("doc_id"))
      val vids = graft.functions.Multimodal
        .withSyntheticMjpegAvi(docs, "doc_id")
      graft.functions.Multimodal
        .aviFrameSampleAHash(vids, "payload", every = 3)
        .select(col("doc_id"), col("frame_idx"), col("n_frames"),
          col("frame_ok"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      // structural replay of the MJPEG-AVI strided decode: frame
      // count 6 + id mod 5, sampled indices ≡ 0 (mod 3), every frame
      // decoding OK (pixel hashes are JPEG-codec-defined — spec-gated)
      """WITH d AS (
        |  SELECT doc_id, CAST(6 + doc_id % 5 AS INT) AS n_frames
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, n_frames,
        |    CAST(unnest(range(n_frames)) AS INT) AS frame_idx
        |  FROM d)
        |SELECT doc_id, frame_idx, n_frames, TRUE AS frame_ok
        |FROM f WHERE frame_idx % 3 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin)
  )
}
