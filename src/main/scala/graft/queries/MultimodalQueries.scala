package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Gif, Multimodal}
import graft.functions.TextOps
import graft.operators.Cuts.CutOps

/** Declared queries for the multimodal binary-column pipeline. The
  * payloads are utf-8 text bytes (ascii corpus), so the DuckDB oracle
  * can replay the byte math character-by-character — verifying the
  * mapPartitions decode→feature path end-to-end, not just its schema.
  */
object MultimodalQueries extends QueryRegistry {
  import Tables._

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // decode → feature-extract over binary payloads (batch iterator)
    "media_features" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(
        documents(s, dir).filter(col("doc_id") < 50))
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          round(col("mean_sample"), 6).as("mean_sample"),
          round(element_at(col("features"), 3), 6).as("bin2"),
          round(element_at(col("features"), 7), 6).as("bin6"))
        .orderBy(col("media_id"))
    }),

    // metadata-only rollup (prunable without touching payload bytes)
    "media_kind_stats" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(documents(s, dir))
      Multimodal.extractFeatures(media).toDF()
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_assets"),
          sum(col("n_bytes")).as("total_bytes"),
          round(min(col("mean_sample")), 6).as("min_mean"),
          round(max(col("mean_sample")), 6).as("max_mean"))
        .orderBy(col("kind"))
    }),

    // REAL image decode end-to-end: each doc's first 64 chars become a
    // genuine 8×8 24-bit grayscale BMP (full header, bottom-up rows),
    // the pipeline parses the actual byte layout back (decodeBmp, not
    // the stub), and the features are replayed by the oracle from the
    // text — so header arithmetic, row order, and channel expansion are
    // all hash-verified. n_bytes pins the exact container size
    // (54-byte header + 192 pixel bytes).
    "media_real_decode" -> ((s, dir) => {
      import s.implicits._
      val docs = asciiHeads(s, dir, maxId = 40, len = 64)
      // each doc yields a BMP row AND a PNG row (media_id + 1000): the
      // PNG fixtures cycle all five scanline filters, so the decoded
      // values hash-matching the oracle pins the full filter
      // reconstruction, not just container parsing. RGB triples the
      // gray byte per pixel, so mean/bin ratios replay from the text
      // identically for both containers; n_bytes differs (246 BMP,
      // 268 stored-block PNG — both deterministic).
      val media = docs.flatMap { case (id, txt) =>
        val gray = txt.getBytes("UTF-8")
        Seq(
          Multimodal.MediaRow(id, "image",
            Multimodal.encodeBmpGray(8, 8, gray), 8, 8, 1),
          Multimodal.MediaRow(id + 1000, "image",
            Multimodal.encodePngGray(8, 8, gray, mixedFilters = true), 8, 8, 1))
      }
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("n_bytes"),
          round(col("mean_sample"), 6).as("mean_sample"),
          round(element_at(col("features"), 3), 6).as("bin2"),
          round(element_at(col("features"), 7), 6).as("bin6"))
        .orderBy(col("media_id"))
    }),

    // IMAGE near-duplicate detection — the modality-specific dedup the
    // text (minhash/simhash) and embedding (LSH) tiers don't cover:
    // each doc head becomes a REAL 8×8 BMP, aHash runs through the
    // real decoder (Multimodal.aHash: 64 integer mean-compare bits →
    // four 16-bit bands), candidates come from a band equi-join
    // (pigeonhole: hamming ≤ 3 pairs ALWAYS share an equal band — no
    // all-pairs anywhere), and survivors rerank on native popcount
    // Hamming, the exact simhash discipline applied to pixels. The
    // oracle replays the full chain — encode→decode roundtrip, bits,
    // band packing, pairing, Hamming — from the raw text.
    "media_phash_pairs" -> ((s, dir) => {
      import s.implicits._
      val docs = asciiHeads(s, dir, maxId = 300, len = 64)
      val media = docs.map { case (id, txt) =>
        Multimodal.MediaRow(id, "image",
          Multimodal.encodeBmpGray(8, 8, txt.getBytes("UTF-8")), 8, 8, 1) }
      // materialized: the band explode and both rerank joins read this
      // hash table — without the boundary the BMP encode/decode map
      // runs three times (the minhash-signature-table discipline)
      val ah = Multimodal.aHash(media).toDF().cut()
      bandPairs(ah, Nil, "media_id", "a", "b")
        .select(col("a"), col("b"), col("hamming"))
        .orderBy(col("hamming"), col("a"), col("b"))
        .limit(20)
    }),

    // REAL JPEG decode end-to-end: each ascii head, sorted into a
    // smooth ramp (so quality-50 quantization error stays small),
    // becomes a single-component baseline JPEG, and the pipeline
    // decodes the entropy-coded stream back through Jpeg.decode, not
    // the stub. JPEG is LOSSY, so unlike the bit-exact BMP/PNG twin the
    // oracle replays the cohort exactly (same WHERE) while the
    // reconstruction contract rides as must-be-true booleans — the
    // sketch-audit convention (events_value_sketches precedent).
    "media_jpeg_audit" -> ((s, dir) => {
      import s.implicits._
      val docs = asciiHeads(s, dir, maxId = 40, len = 64)
      docs.map { case (id, txt) =>
        val gray = txt.getBytes("UTF-8").sorted
        val jpg = graft.operators.Jpeg.encode(8, 8, gray, gray = true)
        val got = graft.operators.Jpeg.decode(jpg)
        val n = got.map(_.length).getOrElse(-1)
        val meanErr = got.map { g =>
          g.zip(gray.map(_ & 0xff: Int))
            .map { case (a, b) => math.abs(a - b) }.sum / 64.0
        }.getOrElse(Double.MaxValue)
        // 12.0 tolerates the Gibbs ringing of a step edge (e.g. the
        // space→letter jump in a sorted head) at quality-50 quant; a
        // structurally wrong decode lands orders of magnitude higher
        (id, n.toLong, n == 64, meanErr <= 12.0)
      }.toDF("media_id", "n_samples", "dims_ok", "recon_close")
        .orderBy(col("media_id"))
    }),

    // PROGRESSIVE (SOF2) JPEG decode end-to-end: the same sorted-ramp
    // cohort as media_jpeg_audit, encoded with a spectral-selection +
    // successive-approximation scan script and decoded back. After
    // full refinement the progressive stream carries the SAME
    // quantized coefficients as the baseline one, so the decode must
    // be BIT-IDENTICAL to the baseline decode — pinned as a boolean
    // the oracle requires true (prog_eq_baseline).
    "media_jpeg_progressive_audit" -> ((s, dir) => {
      import s.implicits._
      val docs = asciiHeads(s, dir, maxId = 40, len = 64)
      docs.map { case (id, txt) =>
        val gray = txt.getBytes("UTF-8").sorted
        val prog = graft.operators.Jpeg.encodeProgressive(8, 8, gray, gray = true)
        val base = graft.operators.Jpeg.encode(8, 8, gray, gray = true)
        val gotP = graft.operators.Jpeg.decode(prog)
        val gotB = graft.operators.Jpeg.decode(base)
        val n = gotP.map(_.length).getOrElse(-1)
        val meanErr = gotP.map { g =>
          g.zip(gray.map(_ & 0xff: Int))
            .map { case (a, b) => math.abs(a - b) }.sum / 64.0
        }.getOrElse(Double.MaxValue)
        val eq = (gotP, gotB) match {
          case (Some(a), Some(b)) => a.sameElements(b)
          case _ => false
        }
        (id, n.toLong, n == 64, meanErr <= 12.0, eq)
      }.toDF("media_id", "n_samples", "dims_ok", "recon_close", "prog_eq_baseline")
        .orderBy(col("media_id"))
    }),

    // REAL GIF decode end-to-end, and BIT-EXACT (GIF is lossless,
    // unlike the JPEG audits): each ascii head becomes an INTERLACED
    // gray GIF that the pipeline decodes and de-interlaces through
    // Gif.decode; the position-weighted sample sum then replays
    // from the raw text in DuckDB (sample 3i..3i+2 = byte i, so
    // Σ sⱼ·(j+1) = Σ bᵢ·(9i+6)) — any LZW, palette, or row-order
    // slip moves the integer and hash-fails
    "media_gif_audit" -> ((s, dir) => {
      import s.implicits._
      val docs = asciiHeads(s, dir, maxId = 40, len = 64)
      docs.map { case (id, txt) =>
        val gray = txt.getBytes("UTF-8")
        val gif = Gif.encodeGray(8, 8, Seq(gray), interlaced = true)
        val got = Gif.decode(gif)
        val n = got.map(_.length).getOrElse(-1)
        val wsum = got.map(_.iterator.zipWithIndex
          .map { case (v, j) => v.toLong * (j + 1) }.sum).getOrElse(-1L)
        (id, n.toLong, wsum)
      }.toDF("media_id", "n_samples", "weighted_sum")
        .orderBy(col("media_id"))
    }),

    // REAL audio decode → spectral features end-to-end, and BIT-EXACT:
    // each ascii head becomes a genuine 8-bit PCM WAV (RIFF header,
    // fmt + data chunks) that the pipeline parses back (decodeWav, not
    // the stub), then 8-band Walsh–Hadamard energies over fixed
    // 8-sample windows — the integer-exact spectral transform, so the
    // oracle replays every band from the text characters with no
    // tolerance booleans (a cos/sin DFT would 1-ulp-diverge; the WHT
    // is ±1 sums). total_energy doubles as a Parseval cross-check:
    // the oracle computes it INDEPENDENTLY as 8·Σs² while Spark sums
    // its 8 transform-domain bands — they can only hash-match if the
    // whole decode→transform chain is exactly right.
    "media_audio_features" -> ((s, dir) => {
      import s.implicits._
      val docs = asciiHeads(s, dir, maxId = 40, len = 64)
      docs.map { case (id, txt) =>
        val wav = Multimodal.encodeWavPcm8(txt.getBytes("UTF-8"))
        val samples = Multimodal.decodeWav(wav).getOrElse(Array.empty[Int])
        val b = Multimodal.whtBandEnergies(samples)
        (id, samples.length.toLong, b.sum,
          b(0), b(1), b(2), b(3), b(4), b(5), b(6), b(7))
      }.toDF("media_id", "n_samples", "total_energy",
        "band0", "band1", "band2", "band3", "band4", "band5", "band6", "band7")
        .orderBy(col("media_id"))
    }),

    // resize pass: payload subsampling + metadata update
    "media_resize_audit" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(
        documents(s, dir).filter(col("doc_id") < 20))
      Multimodal.resize(media, 4).toDF()
        .select(col("media_id"), length(col("payload")).cast("long").as("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
        .orderBy(col("media_id"))
    }),

    // CROSS-FRAME dedup inside one ANIMATION — the video-dedup shape
    // without needing H.264: each doc becomes a REAL 4-frame animated
    // GIF (three text-slice frames plus a planted near-identical
    // fourth = frame 0 with one gray byte bumped), the decoder
    // extracts every frame (Gif.decodeFrames — the same reader path
    // as the single-frame audit), each frame gets the aHash
    // band packing, and near-identical frames WITHIN an animation
    // come from a (media, band)-keyed equi-join + popcount Hamming
    // rerank — the media_phash_pairs discipline applied along the
    // time axis. The oracle replays the whole chain (frame bytes →
    // bits → bands → pairs → Hamming) from the raw text.
    "media_frame_dedup" -> ((s, dir) => {
      import s.implicits._
      val docs = asciiHeads(s, dir, maxId = 120, len = 192)
      val fr = docs.flatMap { case (id, txt) =>
        val b = txt.getBytes("UTF-8")
        val f3 = b.slice(0, 64)
        f3(7) = (f3(7) + 1).toByte // the planted near-identical frame
        val frames = Seq(b.slice(0, 64), b.slice(64, 128),
          b.slice(128, 192), f3)
        val dec = Gif.decodeFrames(Gif.encodeGray(8, 8, frames))
          .getOrElse(throw new IllegalStateException(
            s"animated GIF round trip failed for doc $id"))
        dec.zipWithIndex.map { case (samples, fi) =>
          (id, fi, Multimodal.aHashBits(samples, 3))
        }
        // materialized: three consumers (band explode + both rerank
        // sides) must not re-run the GIF encode/decode map — the same
        // build/probe split as the minhash signature table
      }.toDF("media_id", "frame", "bands").cut()
      bandPairs(fr, Seq("media_id"), "frame", "fa", "fb")
        .select(col("media_id"), col("fa").cast("long").as("frame_a"),
          col("fb").cast("long").as("frame_b"), col("hamming"))
        .orderBy(col("media_id"), col("frame_a"), col("frame_b"))
    }),

    // REAL VIDEO decode end-to-end (MJPEG in AVI): each doc muxes
    // three sorted-ramp 8×8 baseline JPEGs plus an EXACT re-use of
    // frame 0's JPEG stream (the duplicated-frame plant, at the
    // container level — the shape a static-scene camera emits) into a
    // genuine RIFF/AVI container (Avi.encodeMjpeg), and the pipeline
    // demuxes the movi chunks back (Avi.decodeMjpegFrames), decodes
    // each frame with Jpeg.decode, aHashes the samples, and reports
    // whether the planted duplicate surfaces as a Hamming-0 frame
    // pair. JPEG is lossy, so the oracle replays the cohort exactly
    // while the demux-exactness and dedup contracts ride as
    // must-be-true booleans (the jpeg-audit convention); a wrong
    // demux, a broken decode, or a broken hash all flip a boolean and
    // hash-mismatch. Scale shape: one mapPartitions batch per doc
    // cohort (binary codecs — the one justified mapPartitions tier),
    // no shuffle at all
    "media_video_frame_dedup" -> ((s, dir) => {
      import s.implicits._
      val docs = asciiHeads(s, dir, maxId = 120, len = 192)
      docs.map { case (id, txt) =>
        val b = txt.getBytes("UTF-8")
        val jpgs = (0 until 3).map(f =>
          graft.operators.Jpeg.encode(8, 8,
            b.slice(64 * f, 64 * f + 64).sorted, gray = true))
        val muxed = jpgs :+ jpgs(0)
        val avi = graft.operators.Avi.encodeMjpeg(8, 8, muxed)
        val demuxed = graft.operators.Avi.decodeMjpegFrames(avi)
          .getOrElse(Seq.empty)
        val demuxExact = demuxed.length == 4 &&
          demuxed.zip(muxed).forall { case (a, e) => a.sameElements(e) }
        val hashes = demuxed
          .flatMap(fb => graft.operators.Jpeg.decode(fb))
          .map(sm => Multimodal.aHashBits(sm, channels = 1))
        val dupFound = hashes.length == 4 &&
          hashes(0).zip(hashes(3))
            .map { case (x, y) => java.lang.Integer.bitCount(x ^ y) }
            .sum == 0
        (id, demuxed.length.toLong, demuxExact, dupFound)
      }.toDF("media_id", "n_frames", "demux_exact", "dup_pair_found")
        .orderBy(col("media_id"))
    }),

    // frame-sample pass ("video" decimation): keep every 2nd 8-byte
    // frame block; the byte_sum checksum verifies the KEPT bytes are
    // exactly the right ones, not just the right count
    "media_frame_sample" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(
        documents(s, dir).filter(col("doc_id") < 30))
      Multimodal.frameSample(media, frameBytes = 8, stride = 2)
        .map(r => (r.media_id, r.n_frames.toLong, r.payload.length.toLong,
          r.payload.map(b => (b.toInt & 0xff).toLong).sum))
        .toDF("media_id", "n_frames_kept", "n_bytes_kept", "byte_sum")
        .orderBy(col("media_id"))
    }),
  )

  /** (doc_id, head) for docs with doc_id < `maxId` whose first `len`
    * chars are all ASCII: the cohort every byte-level media query
    * encodes. A multi-byte char would make getBytes yield more than
    * `len` bytes (the fixed-size encoders would throw) and desync the
    * oracle's ascii() from UTF-8 byte values. octet_length = char
    * length iff every char is single-byte; the oracles mirror it with
    * strlen (DuckDB's byte length). */
  /** The pairs of `hashes` rows (`keys`, `item`, `bands`: 4 band values)
    * that agree on every key and on at least one band (pigeonhole:
    * Hamming ≤ 3 pairs always share a band), with the `item`s as `a` <
    * `b` and the Hamming distance of their bands, kept at ≤ 3:
    * (keys, a, b, hamming). */
  private def bandPairs(hashes: DataFrame, keys: Seq[String], item: String,
      a: String, b: String): DataFrame = {
    val br = hashes.select(keys.map(col) ++ Seq(col(item),
      posexplode(col("bands")).as(Seq("bi", "bv"))): _*)
    val cand = br.as("x").join(br.as("y"),
        (keys ++ Seq("bi", "bv")).map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
          col(s"x.$item") < col(s"y.$item"))
      .select(keys.map(k => col(s"x.$k").as(k)) ++
        Seq(col(s"x.$item").as(a), col(s"y.$item").as(b)): _*)
      .distinct()
    def side(name: String, bands: String) =
      hashes.select(keys.map(col) ++ Seq(col(item).as(name), col("bands").as(bands)): _*)
    val ham = (0 until 4).map(j =>
        TextOps.hamming16(element_at(col("ba"), j + 1).cast("long"),
          element_at(col("bb"), j + 1).cast("long")))
      .reduce(_ + _)
    cand.join(side(a, "ba"), keys :+ a).join(side(b, "bb"), keys :+ b)
      .withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= 3)
  }

  private def asciiHeads(s: SparkSession, dir: String, maxId: Long,
      len: Int): Dataset[(Long, String)] = {
    import s.implicits._
    documents(s, dir)
      .filter(col("doc_id") < maxId && length(col("text")) >= len)
      .select(col("doc_id"), substring(col("text"), 1, len).as("head"))
      .filter(octet_length(col("head")) === len)
      .as[(Long, String)]
  }

  override def oracle: Map[String, String] = Map(
    "media_features" ->
      """WITH b AS (
        |  SELECT doc_id, length(text) AS n,
        |         list_transform(generate_series(1, length(text)), i -> ascii(text[i])) AS bytes
        |  FROM documents WHERE doc_id < 50)
        |SELECT doc_id AS media_id,
        |       ['image','audio','video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
        |       CAST(n AS BIGINT) AS n_bytes,
        |       round(CAST(list_sum(bytes) AS DOUBLE) / n, 6) AS mean_sample,
        |       round(CAST(len(list_filter(bytes, x -> x // 16 = 2)) AS DOUBLE) / n, 6) AS bin2,
        |       round(CAST(len(list_filter(bytes, x -> x // 16 = 6)) AS DOUBLE) / n, 6) AS bin6
        |FROM b ORDER BY media_id""".stripMargin,

    "media_kind_stats" ->
      """WITH b AS (
        |  SELECT doc_id, length(text) AS n,
        |         list_transform(generate_series(1, length(text)), i -> ascii(text[i])) AS bytes
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, ['image','audio','video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
        |         n, CAST(list_sum(bytes) AS DOUBLE) / n AS mean_sample
        |  FROM b)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n_assets,
        |       CAST(sum(n) AS BIGINT) AS total_bytes,
        |       round(min(mean_sample), 6) AS min_mean,
        |       round(max(mean_sample), 6) AS max_mean
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin,

    // gray pixels put each text byte in all 3 channels: means and
    // normalized histogram bins equal the per-char stats over the
    // 64-char head; n_bytes = 54 + 8*8*3 = 246 exactly
    // BMP rows (246 bytes) and PNG rows (media_id + 1000, 268 bytes:
    // 8 sig + 25 IHDR + 223 stored-block IDAT + 12 IEND) replay the
    // SAME per-text sample stats — r=g=b triples every byte, leaving
    // mean and bin ratios unchanged
    "media_real_decode" ->
      """WITH t AS (SELECT doc_id AS media_id, substr(text, 1, 64) AS s
        |           FROM documents WHERE doc_id < 40 AND length(text) >= 64
        |             AND strlen(substr(text, 1, 64)) = 64),
        |b AS (SELECT media_id,
        |             list_transform(generate_series(1, 64), i -> ascii(s[i])) AS bytes
        |      FROM t),
        |stats AS (SELECT media_id,
        |       round(CAST(list_sum(bytes) AS DOUBLE) / 64, 6) AS mean_sample,
        |       round(CAST(len(list_filter(bytes, x -> x // 16 = 2)) AS DOUBLE) / 64, 6) AS bin2,
        |       round(CAST(len(list_filter(bytes, x -> x // 16 = 6)) AS DOUBLE) / 64, 6) AS bin6
        |FROM b)
        |SELECT media_id, CAST(246 AS BIGINT) AS n_bytes, mean_sample, bin2, bin6 FROM stats
        |UNION ALL
        |SELECT media_id + 1000 AS media_id, CAST(268 AS BIGINT) AS n_bytes, mean_sample, bin2, bin6 FROM stats
        |ORDER BY media_id""".stripMargin,

    "media_phash_pairs" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 64) AS s
        |           FROM documents WHERE doc_id < 300 AND length(text) >= 64
        |             AND strlen(substr(text, 1, 64)) = 64),
        |px AS (SELECT doc_id, i - 1 AS i, ascii(s[i]) AS p
        |       FROM t, (SELECT unnest(generate_series(1, 64)) AS i)),
        |tot AS (SELECT doc_id, sum(p) AS tot FROM px GROUP BY 1),
        |bits AS (SELECT px.doc_id, i,
        |                CASE WHEN 64 * p > tot THEN 1 ELSE 0 END AS bit
        |         FROM px JOIN tot ON px.doc_id = tot.doc_id),
        |bands AS (SELECT doc_id, i // 16 AS bi,
        |                 sum(bit << (i % 16)) AS bv
        |          FROM bits GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |         FROM bands x JOIN bands y
        |           ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id),
        |ham AS (SELECT cand.a, cand.b,
        |               sum(bit_count(xor(ba.bv, bb.bv))) AS hamming
        |        FROM cand
        |        JOIN bands ba ON ba.doc_id = cand.a
        |        JOIN bands bb ON bb.doc_id = cand.b AND bb.bi = ba.bi
        |        GROUP BY 1, 2)
        |SELECT a, b, CAST(hamming AS BIGINT) AS hamming
        |FROM ham WHERE hamming <= 3
        |ORDER BY hamming, a, b LIMIT 20""".stripMargin,

    // frame f<3 byte i = ascii of text char 64f+i; frame 3 = frame 0
    // with byte 8 (1-based) bumped by one — then the identical
    // aHash/band/Hamming chain as media_phash_pairs, per (doc, frame)
    "media_frame_dedup" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 192) AS s
        |           FROM documents WHERE doc_id < 120 AND length(text) >= 192
        |             AND strlen(substr(text, 1, 192)) = 192),
        |fpx AS (SELECT doc_id, fi AS frame, i - 1 AS pi,
        |               CASE WHEN fi < 3 THEN ascii(s[64*fi + i])
        |                    WHEN i = 8 THEN ascii(s[8]) + 1
        |                    ELSE ascii(s[i]) END AS p
        |        FROM t, (SELECT unnest(generate_series(0, 3)) AS fi),
        |             (SELECT unnest(generate_series(1, 64)) AS i)),
        |tot AS (SELECT doc_id, frame, sum(p) AS tot FROM fpx GROUP BY 1, 2),
        |bits AS (SELECT f.doc_id, f.frame, pi,
        |                CASE WHEN 64 * p > tot THEN 1 ELSE 0 END AS bit
        |         FROM fpx f JOIN tot ON f.doc_id = tot.doc_id AND f.frame = tot.frame),
        |bands AS (SELECT doc_id, frame, pi // 16 AS bi, sum(bit << (pi % 16)) AS bv
        |          FROM bits GROUP BY 1, 2, 3),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_id, x.frame AS fa, y.frame AS fb
        |         FROM bands x JOIN bands y
        |           ON x.doc_id = y.doc_id AND x.bi = y.bi AND x.bv = y.bv
        |              AND x.frame < y.frame),
        |ham AS (SELECT cand.doc_id, fa, fb,
        |               sum(bit_count(xor(ba.bv, bb.bv))) AS hamming
        |        FROM cand
        |        JOIN bands ba ON ba.doc_id = cand.doc_id AND ba.frame = cand.fa
        |        JOIN bands bb ON bb.doc_id = cand.doc_id AND bb.frame = cand.fb
        |                     AND bb.bi = ba.bi
        |        GROUP BY 1, 2, 3)
        |SELECT doc_id AS media_id, CAST(fa AS BIGINT) AS frame_a,
        |       CAST(fb AS BIGINT) AS frame_b, CAST(hamming AS BIGINT) AS hamming
        |FROM ham WHERE hamming <= 3
        |ORDER BY media_id, frame_a, frame_b""".stripMargin,

    // cohort exactly replayed; demux-exactness and the planted
    // duplicate-frame detection ride as must-be-true booleans (JPEG
    // is lossy — the jpeg-audit convention)
    "media_video_frame_dedup" ->
      """SELECT doc_id AS media_id, CAST(4 AS BIGINT) AS n_frames,
        |       true AS demux_exact, true AS dup_pair_found
        |FROM documents
        |WHERE doc_id < 120 AND length(text) >= 192
        |  AND strlen(substr(text, 1, 192)) = 192
        |ORDER BY media_id""".stripMargin,

    // cohort exactly replayed; the lossy-reconstruction contract is
    // Spark-side-checked booleans (see the query comment)
    "media_jpeg_audit" ->
      """SELECT doc_id AS media_id, CAST(64 AS BIGINT) AS n_samples,
        |       true AS dims_ok, true AS recon_close
        |FROM documents
        |WHERE doc_id < 40 AND length(text) >= 64
        |  AND strlen(substr(text, 1, 64)) = 64
        |ORDER BY media_id""".stripMargin,

    // same cohort replay as media_jpeg_audit; the lossy-reconstruction
    // and progressive≡baseline contracts ride as must-be-true booleans
    "media_jpeg_progressive_audit" ->
      """SELECT doc_id AS media_id, CAST(64 AS BIGINT) AS n_samples,
        |       true AS dims_ok, true AS recon_close, true AS prog_eq_baseline
        |FROM documents
        |WHERE doc_id < 40 AND length(text) >= 64
        |  AND strlen(substr(text, 1, 64)) = 64
        |ORDER BY media_id""".stripMargin,

    // bit-exact replay from the text bytes — no booleans needed
    "media_gif_audit" ->
      """SELECT doc_id AS media_id, CAST(192 AS BIGINT) AS n_samples,
        |       CAST(list_sum(list_transform(generate_series(0, 63),
        |         i -> ascii(substr(text, CAST(i + 1 AS INT), 1)) * (9*i + 6))) AS BIGINT) AS weighted_sum
        |FROM documents
        |WHERE doc_id < 40 AND length(text) >= 64
        |  AND strlen(substr(text, 1, 64)) = 64
        |ORDER BY media_id""".stripMargin,

    // WHT band energies replayed exactly from the text: coefficient
    // sign for (band k, tap i) is the parity of popcount(k AND i) —
    // baked into the generated ± tap patterns below; total_energy is
    // the INDEPENDENT Parseval twin 8·Σs²
    "media_audio_features" -> {
      val bandExprs = (0 until 8).map { k =>
        val coef = (0 until 8).map { i =>
          val sgn = if (java.lang.Integer.bitCount(k & i) % 2 == 0) "+" else "-"
          s"$sgn bytes[8*w + ${i + 1}]"
        }.mkString(" ").stripPrefix("+ ")
        s"""CAST(list_sum(list_transform(generate_series(0, 7),
           |         w -> ($coef) * ($coef))) AS BIGINT) AS band$k""".stripMargin
      }.mkString(",\n       ")
      s"""WITH t AS (SELECT doc_id AS media_id, substr(text, 1, 64) AS s
        |           FROM documents WHERE doc_id < 40 AND length(text) >= 64
        |             AND strlen(substr(text, 1, 64)) = 64),
        |b AS (SELECT media_id,
        |             list_transform(generate_series(1, 64), i -> ascii(s[i])) AS bytes
        |      FROM t)
        |SELECT media_id, CAST(64 AS BIGINT) AS n_samples,
        |       CAST(8 * list_sum(list_transform(bytes, x -> x * x)) AS BIGINT) AS total_energy,
        |       $bandExprs
        |FROM b ORDER BY media_id""".stripMargin
    },

    "media_resize_audit" ->
      """SELECT doc_id AS media_id,
        |       CAST((length(text) + 3) // 4 AS BIGINT) AS n_bytes,
        |       CAST(greatest((doc_id % 64 + 16) // 4, 1) AS BIGINT) AS width,
        |       CAST(greatest((doc_id % 48 + 9) // 4, 1) AS BIGINT) AS height
        |FROM documents WHERE doc_id < 20 ORDER BY media_id""".stripMargin,

    // frames replayed as 8-char substrings of the ascii text; kept
    // frames are the even indices, checksummed char-by-char
    "media_frame_sample" ->
      """WITH t AS (SELECT doc_id AS media_id, text, length(text) AS len
        |           FROM documents WHERE doc_id < 30),
        |idx AS (SELECT media_id, text,
        |               unnest(range(1, CAST(ceil(len / 8.0) AS BIGINT) + 1)) AS i
        |        FROM t),
        |fr AS (SELECT media_id, substr(text, CAST(1 + (i-1)*8 AS INT), 8) AS frame
        |       FROM idx WHERE (i-1) % 2 = 0)
        |SELECT media_id,
        |       CAST(count(*) AS BIGINT) AS n_frames_kept,
        |       CAST(sum(length(frame)) AS BIGINT) AS n_bytes_kept,
        |       CAST(sum(list_sum(list_transform(string_split(frame, ''), c -> ord(c)))) AS BIGINT) AS byte_sum
        |FROM fr GROUP BY media_id ORDER BY media_id""".stripMargin,
  )
}
