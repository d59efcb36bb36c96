package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}

/** SURVEY §2.3 X5: multimodal columns — media carried as opaque `binary`
  * with typed metadata, decode/feature-extract as per-partition batch
  * operators.
  *
  * Since r18 (VERDICT r17 #3) every registered "decode" runs a REAL
  * JDK codec — `javax.imageio` for images, `javax.sound.sampled` for
  * audio — over PLANTED payloads whose decoded content is pure doc_id
  * arithmetic, so the DuckDB oracle states what a correct decode must
  * recover without ever seeing a byte (the x5h closed-form-binary-oracle
  * device; PNG and WAV PCM are lossless, making the planted content the
  * unique correct answer). [[Multimodal.stubDecode]] remains only as the
  * DECLARED fallback for undecodable payloads inside
  * [[Multimodal.decodeFeaturesReal]]/[[Multimodal.decodeFeaturesAudited]],
  * where `real_decoded` exposes every use of it to the gate.
  *
  * The fixture has no binary column, so x5/x5c/x5g/x5h synthesize bytes
  * by UTF-8-encoding `documents.text` (ASCII ⇒ byte i == char i, which is
  * what lets DuckDB reproduce byte-level arithmetic from the string
  * side); the real-codec rows plant PNG/WAV containers on executors.
  */
object MultimodalQueries {

  /** documents with a synthesized payload: the binary "media" column. */
  private def media(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("lang"),
      encode(col("text"), "UTF-8").as("payload"))

  /** x5l oracle helper: planted channel value at block offset (dx, dy)
    * of output pixel `i // 3`, channel `i % 3` — the (doc_id, x, y)
    * arithmetic [[Multimodal.plantPngGridMedia]] rasterizes, restated in
    * DuckDB SQL (x = 2·(opix%2)+dx ⇒ x·16 = (opix%2)·32 + dx·16;
    * y = 2·(opix//2)+dy ⇒ y·32 = (opix//2)·64 + dy·32).
    */
  private def gridV(dx: Int, dy: Int): String =
    "((CASE i % 3 WHEN 0 THEN doc_id WHEN 1 THEN doc_id*7 " +
      "ELSE doc_id*13 END" +
      s" + ((i // 3) % 2) * 32 + ${dx * 16}" +
      s" + ((i // 3) // 2) * 64 + ${dy * 32}) % 64) * 4"

  /** Exact 2×2-block box-filter mean of the planted grid, per (output
    * pixel, channel) index i — all four operands are multiples of 4, so
    * the // 4 is exact.
    */
  private def gridMean: String =
    s"(${gridV(0, 0)} + ${gridV(1, 0)} + ${gridV(0, 1)} + ${gridV(1, 1)}) // 4"

  def defs: Seq[Q] = Seq(
    // X5: binary columns through the relational surface — length, digests,
    // slicing, group-by over binary-derived values.
    Q("x5_binary_meta",
      (s, d) => media(s, d).select(
        col("doc_id"),
        length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("payload_md5"),
        sha2(col("payload"), 256).as("payload_sha256"),
        hex(substring(col("payload"), 1, 8)).as("head_hex")),
      Some("""SELECT doc_id,
        CAST(octet_length(text::BLOB) AS INTEGER) AS n_bytes,
        md5(text) AS payload_md5,
        sha256(text) AS payload_sha256,
        upper(hex(substr(text, 1, 8)::BLOB)) AS head_hex
        FROM documents""".stripMargin)),

    // X5b (realified r18, VERDICT r17 #3 — replaces the r1 stub-math
    // decode): REAL header-only metadata extraction over a MIXED-MODALITY
    // corpus — the first op a crawl pipeline runs on opaque bytes after
    // the x5h sniff: read the container HEADER (dimensions, sample rate,
    // channel count, frame count) without paying a raster/sample decode.
    // Even doc_ids get a planted PNG (x5i's arithmetic geometry), odd a
    // planted WAV (x5j's arithmetic clip); the Spark side parses REAL
    // headers — `ImageIO` reader `getWidth/getHeight(0)` (header chunk
    // only, no pixel decode) and `AudioSystem.getAudioFileFormat` (fmt
    // chunk only, no sample read) — and the oracle states every field
    // from doc_id parity arithmetic without seeing a byte. real_parsed
    // is in the oracle hash: a parse failure or a silent wrong-modality
    // dispatch fails the gate. At 100 TB this is the cheap-scan shape:
    // header parses touch O(100) bytes per blob regardless of blob size.
    Q("x5b_real_header_meta",
      (s, d) => Multimodal.realHeaderMeta(
        Multimodal.plantMixedMedia(Tables.documents(s, d))),
      Some("""SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS kind,
        CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 4 ELSE 0 END AS INTEGER) AS width,
        CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 3 ELSE 0 END AS INTEGER) AS height,
        CAST(CASE WHEN doc_id % 2 = 1 THEN 8000 ELSE 0 END AS INTEGER) AS sample_rate,
        CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS INTEGER) AS channels,
        CAST(CASE WHEN doc_id % 2 = 1 THEN 8 + doc_id % 8 ELSE 0 END AS BIGINT) AS n_frames,
        true AS real_parsed
        FROM documents""".stripMargin)),

    // X5c: binary histogram features. The kernel produces the
    // ArrayType(FloatType) feature vector a downstream model consumes
    // (asserted in MultimodalSpec); the REGISTERED output renders the
    // underlying integer bin counts as a CSV string — the driver's pandas
    // canonicalizer cannot sort raw array cells (VERDICT r01), and integer
    // counts + n_bytes reconstruct the exact rational ratios.
    Q("x5c_byte_histogram",
      (s, d) => Multimodal.byteHistogram(media(s, d), bins = 8)
        .select(col("doc_id"),
          concat_ws(",", transform(col("hist_counts"), _.cast(StringType)))
            .as("hist_csv"),
          col("n_bytes")),
      Some("""SELECT doc_id, array_to_string(list_transform(generate_series(0, 7),
          b -> CAST(len(list_filter(codes, c -> c // 16 = b)) AS VARCHAR)), ',') AS hist_csv,
        CAST(length(text) AS INTEGER) AS n_bytes
        FROM (SELECT doc_id, text,
          list_transform(generate_series(1, length(text)), i -> ord(substr(text, i, 1))) AS codes
        FROM documents)""".stripMargin)),

    // X5e (re-pointed r18, VERDICT r17 #3 — the stub 16-byte-frame walk
    // is retired): frame sampling through the REAL x5k kernel at a
    // DIFFERENT stride — every 3rd frame over the K = 2 + id%3 planted
    // multi-frame PNG containers, so K ∈ {2,3} exercises the
    // single-sample path (stride > remaining frames) and K = 4 the
    // two-sample path — the stride geometry x5k's every-2nd never hits.
    // Same structural chunk-grammar split + real codec; the oracle's
    // generate_series steps by 3.
    Q("x5e_frame_sample",
      (s, d) => Multimodal.realFrameSample(
        Multimodal.plantPngFramesMedia(Tables.documents(s, d)), every = 3),
      Some("""SELECT doc_id,
        CAST(2 + doc_id % 3 AS INTEGER) AS n_frames,
        CAST((4 + doc_id % 3) // 3 AS INTEGER) AS n_sampled,
        CAST(list_sum(list_transform(
          generate_series(0, CAST(1 + doc_id % 3 AS INTEGER), 3), f ->
            (1 + (doc_id + f) % 4) * (1 + (doc_id + 2*f) % 3) *
            ((doc_id + 11*f) % 256 + (doc_id*7 + 23*f) % 256 +
             (doc_id*13 + 5*f) % 256))) AS BIGINT) AS channel_sum,
        CAST(list_sum(list_transform(
          generate_series(0, CAST(1 + doc_id % 3 AS INTEGER), 3), f ->
            (1 + (doc_id + f) % 4) * (1 + (doc_id + 2*f) % 3)))
          AS BIGINT) AS px_sum,
        true AS real_decoded
        FROM documents""".stripMargin)),

    // X5f (re-pointed r18, VERDICT r17 #3 — the stub nearest-neighbor
    // walk is retired): resize through the REAL x5l kernel at the
    // IDENTITY geometry — 4×4 planted varied-pixel PNG box-filtered to
    // 4×4, i.e. 1×1 blocks. Identity is the sharpest possible indexing
    // probe: every one of the 48 planted channel values must come back
    // through the real codec bit-exact in raster order, so any block
    // extent / row-major / channel-order slip in the kernel shows as a
    // hash mismatch (x5l's 2×2 averaging could mask a transposed read of
    // a symmetric block; 1×1 cannot mask anything).
    Q("x5f_resize",
      (s, d) => Multimodal.realBoxResize(
        Multimodal.plantPngGridMedia(Tables.documents(s, d)),
        outW = 4, outH = 4),
      Some("""SELECT doc_id, 4 AS out_w, 4 AS out_h,
        array_to_string(list_transform(generate_series(0, 47), i ->
          CAST(((doc_id * (CASE i % 3 WHEN 0 THEN 1 WHEN 1 THEN 7 ELSE 13 END)
            + ((i // 3) % 4) * 16 + ((i // 3) // 4) * 32) % 64) * 4 AS VARCHAR)), ',') AS resized_csv,
        CAST(list_sum(list_transform(generate_series(0, 47), i ->
          ((doc_id * (CASE i % 3 WHEN 0 THEN 1 WHEN 1 THEN 7 ELSE 13 END)
            + ((i // 3) % 4) * 16 + ((i // 3) // 4) * 32) % 64) * 4)) AS BIGINT) AS pixel_sum,
        true AS real_decoded
        FROM documents""".stripMargin)),

    // X5g (r11): perceptual-hash near-dup over the media payloads — the
    // LAION-style image-dedup shape, completing the multimodal family
    // with the op a real crawl pipeline runs FIRST: average-hash (8×8
    // nearest-neighbor resize of the stub-declared image, bit = pixel
    // above the 64-pixel mean) packed as four 16-bit bands, pigeonhole
    // band join (Hamming ≤ 3 ⇒ some band equal — the x2b argument on
    // image features), exact Hamming verify via XOR popcount. Identical
    // payloads hash identically (Hamming 0), so exact dups ride the same
    // path. 100 TB posture: candidates come from band-key equi-joins over
    // 4 ints per image — never an all-pairs product, and raw payloads
    // never move after the one kernel pass. Stub decode, real kernel —
    // swapping in a DCT over true pixels (classic pHash) changes no plan.
    // Exact-dup collapse in front (the x2/x2b defense, proven necessary
    // by the 30× gate: band-joining all docs put every 30-copy group's
    // clique into the candidate join — 900× candidates, 12 GB spill,
    // ratio 31): identical payloads hash identically, so the band join
    // runs over one REPRESENTATIVE per distinct payload, and the member-
    // level pair output is reassembled as within-group cliques (Hamming
    // 0 by identity) plus rep-level near pairs expanded through
    // equi-joins on the digest — quadratic rows only where the DECLARED
    // output is quadratic, never inside the candidate join.
    //
    // Verify threshold 12, not 3 (VERDICT r17 #2): the sf0.01 fixture has
    // zero duplicate texts and a minimum pairwise aHash Hamming of 8, so
    // at ≤ 3 the registered row hash-matched an EMPTY pair set since r10
    // and asserted nothing. At ≤ 12 the same banded plan emits 59
    // discriminating pairs (candidate Hammings span 9–30+, so the verify
    // is a real filter). Semantics at 12: candidates are still band
    // collisions only, and with 4 bands the pigeonhole guarantee is exact
    // only for Hamming ≤ 3 — above that this is the standard LSH
    // approximate-recall posture (exactly x2 MinHash's contract), which
    // both engines compute identically through the same banding. The
    // EXACT ≤ 3 contract stays positively witnessed on synthetic
    // dup/near-dup payloads in MultimodalSpec, and the 30× replicated
    // corpus (30-copy exact-dup groups) exercises the clique-expansion
    // output shape under the scale gate.
    Q("x5g_phash_dedup",
      (s, d) => Multimodal.phashDedupPlan(media(s, d), maxHamming = 12),
      Some("""WITH g AS (SELECT doc_id, text, 1 + ord(substr(text, 1, 1)) % 64 AS w,
          1 + ord(substr(text, 2, 1)) % 64 AS h FROM documents),
        px AS (SELECT doc_id, list_transform(generate_series(0, 63), i ->
            ord(substr(text,
              (((i // 8) * h // 8) * w + ((i % 8) * w // 8)) % length(text) + 1, 1))) AS p
          FROM g),
        hb AS (SELECT doc_id, p, list_sum(p) AS s FROM px),
        bands AS (SELECT doc_id, p, s, list_transform(generate_series(0, 3), k ->
            list_sum(list_transform(generate_series(1, 16), j ->
              CASE WHEN p[16*k + j] * 64 > s THEN (1 << (j - 1)) ELSE 0 END))) AS bl
          FROM hb),
        bk AS (SELECT doc_id, k - 1 AS band, bl[k] AS key
          FROM bands, generate_series(1, 4) AS t(k)),
        cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bk x JOIN bk y
          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
        SELECT a, b, CAST(
            bit_count(xor(CAST(xa.bl[1] AS BIGINT), CAST(xb.bl[1] AS BIGINT))) +
            bit_count(xor(CAST(xa.bl[2] AS BIGINT), CAST(xb.bl[2] AS BIGINT))) +
            bit_count(xor(CAST(xa.bl[3] AS BIGINT), CAST(xb.bl[3] AS BIGINT))) +
            bit_count(xor(CAST(xa.bl[4] AS BIGINT), CAST(xb.bl[4] AS BIGINT)))
          AS INTEGER) AS hamming
        FROM cand JOIN bands xa ON xa.doc_id = a JOIN bands xb ON xb.doc_id = b
        WHERE bit_count(xor(CAST(xa.bl[1] AS BIGINT), CAST(xb.bl[1] AS BIGINT))) +
          bit_count(xor(CAST(xa.bl[2] AS BIGINT), CAST(xb.bl[2] AS BIGINT))) +
          bit_count(xor(CAST(xa.bl[3] AS BIGINT), CAST(xb.bl[3] AS BIGINT))) +
          bit_count(xor(CAST(xa.bl[4] AS BIGINT), CAST(xb.bl[4] AS BIGINT))) <= 12""".stripMargin)),

    // X5h (r15): magic-byte FORMAT SNIFF — the container-integrity audit a
    // crawl pipeline runs before any decode: trust the bytes, not the
    // declared content-type (mislabeled media is a top-3 decode-crash
    // cause at corpus scale). Each payload gets a deterministic container
    // header prepended (doc_id%4 → PNG / JPEG / GIF89a / RIFF-WAVE — the
    // four classic signatures) while the DECLARED mime comes from an
    // independent modulus (doc_id%3), so declared-vs-sniffed disagreement
    // is structural and both directions of the audit are exercised. The
    // Spark side sniffs REAL bytes: substring/hex prefix probes on the
    // binary column, exactly the first-16-bytes check file(1) does; the
    // oracle replays the probes over the same hex stream. Pure per-row
    // map — no shuffle, one codegen span; at 100 TB this is a scan-only
    // pass whose selectivity (mismatch rows) feeds the quarantine sink.
    Q("x5h_format_sniff",
      (s, d) => {
        val pngHdr = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
        val jpgHdr = Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte)
        val gifHdr = "GIF89a".getBytes("UTF-8")
        val rifHdr = "RIFF0000WAVE".getBytes("UTF-8")
        val m = media(s, d)
        val hdr = when(pmod(col("doc_id"), lit(4)) === 0, lit(pngHdr))
          .when(pmod(col("doc_id"), lit(4)) === 1, lit(jpgHdr))
          .when(pmod(col("doc_id"), lit(4)) === 2, lit(gifHdr))
          .otherwise(lit(rifHdr))
        val withBlob = m.select(col("doc_id"),
          concat(hdr, col("payload")).as("blob"))
        val probe = hex(substring(col("blob"), 1, 12))
        val sniffed = when(substring(probe, 1, 16) === "89504E470D0A1A0A", "image/png")
          .when(substring(probe, 1, 6) === "FFD8FF", "image/jpeg")
          .when(substring(probe, 1, 8) === "47494638", "image/gif")
          .when(substring(probe, 1, 8) === "52494646" &&
            substring(probe, 17, 8) === "57415645", "audio/wav")
          .otherwise("application/octet-stream")
        val declared = when(pmod(col("doc_id"), lit(3)) === 0, "image/png")
          .when(pmod(col("doc_id"), lit(3)) === 1, "image/jpeg")
          .otherwise("image/gif")
        withBlob.select(col("doc_id"),
          declared.as("declared_mime"),
          sniffed.as("sniffed_mime"),
          (declared =!= sniffed).as("mismatch"),
          length(col("blob")).as("n_bytes"))
      },
      Some("""WITH b AS (SELECT doc_id,
          concat(CASE doc_id % 4 WHEN 0 THEN '89504E470D0A1A0A' WHEN 1 THEN 'FFD8FFE0'
            WHEN 2 THEN '474946383961' ELSE '524946463030303057415645' END,
            upper(hex(substr(text, 1, 12)::BLOB))) AS hx,
          CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 6 ELSE 12 END
            + octet_length(text::BLOB) AS n_bytes,
          CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
            ELSE 'image/gif' END AS declared_mime
        FROM documents),
        sn AS (SELECT doc_id, declared_mime, n_bytes,
          CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A' THEN 'image/png'
            WHEN substr(hx, 1, 6) = 'FFD8FF' THEN 'image/jpeg'
            WHEN substr(hx, 1, 8) = '47494638' THEN 'image/gif'
            WHEN substr(hx, 1, 8) = '52494646' AND substr(hx, 17, 8) = '57415645' THEN 'audio/wav'
            ELSE 'application/octet-stream' END AS sniffed_mime
        FROM b)
        SELECT doc_id, declared_mime, sniffed_mime,
          declared_mime <> sniffed_mime AS mismatch,
          CAST(n_bytes AS INTEGER) AS n_bytes
        FROM sn""".stripMargin)),

    // X5i (r16, VERDICT r15 #3): REAL image decode under the oracle gate —
    // the round that retires the multimodal family's one `partial` mark.
    // The x5h closed-form-binary-oracle device applied to a real codec:
    // every doc gets a planted solid-color PNG whose geometry and RGB are
    // pure doc_id arithmetic ([[Multimodal.plantPngMedia]], encoded by
    // javax.imageio ON EXECUTORS), the Spark side decodes the actual
    // bytes back through [[Multimodal.realDecode]] (ImageIO read, per-
    // pixel RGB channel mean), and the oracle states what a CORRECT
    // decode must recover — dimensions and channel mean from the same
    // arithmetic, never touching a byte. PNG being lossless makes the
    // planted raster the unique correct answer; `real_decoded` must be
    // true on every row, so a silent stub fallback fails the hash gate
    // (fallback count = 0 is IN the oracle, not asserted beside it).
    // mean_e4 exactness: the decoder computes w·h·(r+g+b) / (3·w·h) and
    // the oracle (r+g+b)/3 — operands exact in double, one correctly-
    // rounded division each, identical quotient, so e4 rounding agrees.
    Q("x5i_real_decode",
      (s, d) => Multimodal.decodeFeaturesAudited(
          Multimodal.plantPngMedia(Tables.documents(s, d)))
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_rgb") * 10000).cast(LongType).as("mean_rgb_e4"),
          col("real_decoded")),
      Some("""SELECT doc_id,
        CAST(1 + doc_id % 4 AS INTEGER) AS width,
        CAST(1 + doc_id % 3 AS INTEGER) AS height,
        CAST(round((doc_id % 256 + (doc_id * 7) % 256 + (doc_id * 13) % 256)
          / 3.0 * 10000) AS BIGINT) AS mean_rgb_e4,
        true AS real_decoded
        FROM documents""".stripMargin)),

    // X5j (r16): REAL audio decode under the oracle gate — x5i's device on
    // the audio modality: planted 16-bit mono PCM clips whose sample
    // values are pure doc_id arithmetic, containerized as WAV by
    // javax.sound.sampled on executors ([[Multimodal.plantWavMedia]]),
    // parsed back through AudioSystem ([[Multimodal.realDecodeWav]]:
    // format + frame count + exact integer sample sum), oracle states
    // sample count and Σ samples from the same arithmetic without seeing
    // a byte (WAV PCM is lossless). `real_decoded` must be true on every
    // row — a parse failure or silent fallback fails the hash gate. All
    // emitted values are exact integers: no float edge anywhere.
    Q("x5j_real_wav_decode",
      (s, d) => {
        val spark = s
        import spark.implicits._
        Multimodal.plantWavMedia(Tables.documents(s, d))
          .as[(Long, Array[Byte])]
          .mapPartitions { rows =>
            rows.map { case (id, payload) =>
              Multimodal.realDecodeWav(payload) match {
                case Some((rate, n, sum)) => (id, rate, n, sum, true)
                case None => (id, 0, 0L, 0L, false)
              }
            }
          }
          .toDF("doc_id", "sample_rate", "n_samples", "sum_samples",
            "real_decoded")
      },
      Some("""SELECT doc_id,
        8000 AS sample_rate,
        CAST(8 + doc_id % 8 AS BIGINT) AS n_samples,
        CAST(list_sum(list_transform(generate_series(0, CAST(7 + doc_id % 8 AS INTEGER)),
          k -> (doc_id * 31 + k * 17) % 65536 - 32768)) AS BIGINT) AS sum_samples,
        true AS real_decoded
        FROM documents""".stripMargin)),

    // X5k (r17, VERDICT r16 #4): REAL frame sampling under the oracle
    // gate — x5e's shape with the stub arithmetic replaced end to end: a
    // planted MULTI-FRAME container (K = 2 + id%3 solid-color PNGs per
    // doc, concatenated — [[Multimodal.plantPngFramesMedia]]) is split by
    // the REAL PNG chunk grammar ([[Multimodal.splitPngFrames]] — a
    // structural walk, never a signature scan, so compressed IDAT bytes
    // cannot fake a frame boundary), every 2nd frame decodes through the
    // REAL codec, and the sampled rasters' exact integer channel/pixel
    // sums must equal the oracle's closed-form (doc_id, k) arithmetic.
    // `real_decoded` is inside the oracle hash: a split or codec failure
    // fails the gate, not a side assertion (x5i's device).
    Q("x5k_real_frame_sample",
      (s, d) => Multimodal.realFrameSample(
        Multimodal.plantPngFramesMedia(Tables.documents(s, d)), every = 2),
      Some("""SELECT doc_id,
        CAST(2 + doc_id % 3 AS INTEGER) AS n_frames,
        CAST((3 + doc_id % 3) // 2 AS INTEGER) AS n_sampled,
        CAST(list_sum(list_transform(
          generate_series(0, CAST(1 + doc_id % 3 AS INTEGER), 2), f ->
            (1 + (doc_id + f) % 4) * (1 + (doc_id + 2*f) % 3) *
            ((doc_id + 11*f) % 256 + (doc_id*7 + 23*f) % 256 +
             (doc_id*13 + 5*f) % 256))) AS BIGINT) AS channel_sum,
        CAST(list_sum(list_transform(
          generate_series(0, CAST(1 + doc_id % 3 AS INTEGER), 2), f ->
            (1 + (doc_id + f) % 4) * (1 + (doc_id + 2*f) % 3)))
          AS BIGINT) AS px_sum,
        true AS real_decoded
        FROM documents""".stripMargin)),

    // X5l (r17, VERDICT r16 #4): REAL box-filter resize under the oracle
    // gate — x5f's shape with real pixel math: a planted 4×4 PNG whose
    // pixel channels are (doc_id, x, y) arithmetic in multiples of 4
    // ([[Multimodal.plantPngGridMedia]]) decodes through the REAL codec
    // and area-averages 2×2 blocks to a 2×2 output
    // ([[Multimodal.realBoxResize]]); every output value is an exact
    // integer mean, so the oracle states the resampled raster to the
    // last bit without seeing a byte. `real_decoded` in-oracle as above.
    Q("x5l_real_box_resize",
      (s, d) => Multimodal.realBoxResize(
        Multimodal.plantPngGridMedia(Tables.documents(s, d)),
        outW = 2, outH = 2),
      Some(s"""SELECT doc_id, 2 AS out_w, 2 AS out_h,
        array_to_string(list_transform(generate_series(0, 11), i ->
          CAST($gridMean AS VARCHAR)), ',') AS resized_csv,
        CAST(list_sum(list_transform(generate_series(0, 11), i ->
          $gridMean)) AS BIGINT) AS pixel_sum,
        true AS real_decoded
        FROM documents""".stripMargin)),

    // X5d: multimodal columns carried through §2.2 operators — binary +
    // embedding joined, grouped, aggregated (the "typed metadata travels
    // with the blob" contract).
    Q("x5d_multimodal_join",
      (s, d) => {
        val m = media(s, d)
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), size(col("embedding")).as("dim"))
        m.join(e, col("doc_id") === col("vec_id"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("payload")).cast(LongType)).as("total_bytes"),
            max(col("dim")).as("dim"),
            countDistinct(md5(col("payload"))).as("n_distinct_payloads"))
      },
      Some("""SELECT label, count(*) AS n_docs,
        CAST(SUM(octet_length(text::BLOB)) AS BIGINT) AS total_bytes,
        max(dim) AS dim,
        count(DISTINCT md5(text)) AS n_distinct_payloads
        FROM documents JOIN
          (SELECT vec_id, label, CAST(len(embedding) AS INTEGER) AS dim FROM embeddings)
          ON doc_id = vec_id
        GROUP BY label""".stripMargin))
  )
}

/** The imperative multimodal kernels: per-partition batch "decode" over
  * binary payloads. `mapPartitions` is the right physical shape here — one
  * JVM-side loop per batch of rows, exactly where a real codec (libjpeg,
  * ffmpeg frame sampling, …) would be invoked; executors process partitions
  * in parallel, nothing touches the driver.
  */
object Multimodal {

  // ImageIO's default stream cache is FILE-backed: every ImageIO.read /
  // write / createImageInputStream call creates (and deletes) a temp file
  // on disk. Harmless-looking single-threaded, catastrophic once the
  // codec kernels run one task per core (r18 fanOut): measured per-image
  // cost rose ~60x under 32 concurrent tasks — temp-file create/delete
  // churn serializing on the filesystem — making the parallel run SLOWER
  // than the single-task one. Memory-cached streams are strictly better
  // at these payload sizes (< 1 KiB) and remove the contention. JVM-wide,
  // set at executor classload of this object (the closures below all
  // reference it).
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaFeature(doc_id: Long, width: Int, height: Int,
      mean_byte: Double, n_bytes: Int)

  /** The WAV SPI providers held directly (r18): every `AudioSystem` entry
    * point (`write` / `getAudioInputStream` / `getAudioFileFormat`)
    * re-runs provider discovery through a synchronized JDK static on each
    * call, so a one-task-per-core codec stage convoys on that lock
    * (measured ~24× per-payload degradation once fanOut parallelized
    * these kernels — the audio analogue of the ImageIO file cache above).
    * `ServiceLoader` is the public face of the same SPI; the JDK's
    * `WaveFileReader`/`WaveFileWriter` register there. Identified by
    * probing with a self-written 1-sample WAV (reader) and
    * `isFileTypeSupported(WAVE)` (writer); both are stateless per call,
    * so one shared instance per JVM is thread-safe. Falls back to the
    * `AudioSystem` path when discovery finds nothing — behavior, not
    * results, is the only thing this optimizes.
    */
  private lazy val wavProviders: (
      Option[javax.sound.sampled.spi.AudioFileReader],
      Option[javax.sound.sampled.spi.AudioFileWriter]) = {
    import scala.jdk.CollectionConverters._
    import javax.sound.sampled._
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](2)), fmt, 1L),
      AudioFileFormat.Type.WAVE, bos) // once, at classload — no contention
    val probe = bos.toByteArray
    val r = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).asScala
      .find { p =>
        try { p.getAudioFileFormat(new java.io.ByteArrayInputStream(probe)); true }
        catch { case _: Exception => false }
      }
    val w = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).asScala
      .find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE))
    (r, w)
  }

  private def writeWav(ais: javax.sound.sampled.AudioInputStream,
      out: java.io.OutputStream): Unit = wavProviders._2 match {
    case Some(w) =>
      w.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    case None => javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
  }

  private def wavAudioFileFormat(in: java.io.InputStream)
      : javax.sound.sampled.AudioFileFormat = wavProviders._1 match {
    case Some(r) => r.getAudioFileFormat(in)
    case None => javax.sound.sampled.AudioSystem.getAudioFileFormat(in)
  }

  private def wavAudioInputStream(in: java.io.InputStream)
      : javax.sound.sampled.AudioInputStream = wavProviders._1 match {
    case Some(r) => r.getAudioInputStream(in)
    case None => javax.sound.sampled.AudioSystem.getAudioInputStream(in)
  }

  /** Fan the planting input out to every core before the per-row codec
    * pass (r18, guide §2.5 input skew): the corpus arrives as ONE parquet
    * split, so every planting/decoding `mapPartitions` kernel below would
    * otherwise run its whole ImageIO/AudioSystem workload in a SINGLE
    * task (measured: x5e 1.24 s and x5k 1.44 s of 1-task jobs at sf0.1 on
    * 32 cores). [[graft.Tables.fanOut]] carries the conditional-at-scale
    * and determinism arguments.
    */
  private def fanOut(docs: DataFrame): DataFrame =
    graft.Tables.fanOut(docs, col("doc_id"))

  /** STUB DECODE — deterministic fake standing in for a real image decode.
    * Since r18 it survives ONLY as the declared fallback for undecodable
    * payloads inside [[decodeFeaturesReal]]/[[decodeFeaturesAudited]]
    * (where `real_decoded` makes every use visible to the gate) and as
    * x5g's content-dependent hash domain for non-image payloads; no
    * registered query's primary decode runs it (VERDICT r17 #3).
    */
  def stubDecode(payload: Array[Byte]): (Int, Int, Double) = {
    val w = 1 + (payload(0) & 0xff) % 64
    val h = 1 + (payload(1) & 0xff) % 64
    var sum = 0L
    var i = 0
    while (i < payload.length) { sum += (payload(i) & 0xff); i += 1 }
    (w, h, sum.toDouble / payload.length.toDouble)
  }

  /** REAL image decode (r14, VERDICT r13 #7): `javax.imageio` — a JDK
    * built-in codec stack (PNG/JPEG/BMP/GIF/WBMP) — in place of the stub
    * math. Returns None when the payload is not a decodable image, so
    * callers choose the fallback explicitly. Dimensions are the decoded
    * raster's; `mean` is the mean over the R, G, B channel bytes of every
    * pixel (alpha excluded) — the real-arithmetic analogue of the stub's
    * mean byte value.
    */
  def realDecode(payload: Array[Byte]): Option[(Int, Int, Double)] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      Some((w, h, sum.toDouble / (3.0 * w * h)))
    }
  }

  /** Feature extraction with the REAL codec — [[realDecode]] invoked per
    * row inside the canonical mapPartitions batch-decode shape, with the
    * stub as the declared fallback for undecodable payloads.
    * MultimodalSpec drives this path with constructed PNG/JPEG bytes
    * end-to-end through executors; [[decodeFeaturesAudited]] (x5i) is
    * this with the fallback made visible as `real_decoded`.
    */
  def decodeFeaturesReal(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val (w, h, mean) = realDecode(payload).getOrElse(stubDecode(payload))
          MediaFeature(id, w, h, mean, payload.length)
        }
      }
      .toDF()
  }

  /** Deterministic REAL-PNG payloads for x5i (r16, VERDICT r15 #3): one
    * solid-color w×h PNG per doc, every parameter pure doc_id arithmetic —
    * so the DECODED channel means are closed-form and the DuckDB oracle
    * can state them without ever seeing a byte (the x5h
    * closed-form-binary-oracle device applied to a real codec). Encoding
    * runs in `mapPartitions` on EXECUTORS (`javax.imageio.ImageIO.write`),
    * and nothing downstream depends on the encoder's exact byte stream —
    * only on what a correct PNG decode recovers, which for a lossless
    * format is the planted raster exactly.
    */
  def plantPngMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    fanOut(docs.select(col("doc_id"))).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 1 + (id % 4).toInt
          val h = 1 + (id % 3).toInt
          val r = (id % 256).toInt
          val g = ((id * 7) % 256).toInt
          val b = ((id * 13) % 256).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rgb = (r << 16) | (g << 8) | b
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }
      .toDF("doc_id", "payload")
  }

  /** Deterministic REAL-WAV payloads for x5j (r16): one 16-bit mono PCM
    * clip per doc, every sample pure doc_id arithmetic, CONTAINERIZED by
    * `javax.sound.sampled.AudioSystem.write` on executors — the audio
    * analogue of [[plantPngMedia]]. WAV PCM is lossless, so a correct
    * parse recovers the planted samples exactly and the oracle can state
    * sample count and sum without seeing a byte.
    */
  def plantWavMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    fanOut(docs.select(col("doc_id"))).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = 8 + (id % 8).toInt
          val samples = Array.tabulate(n)(k =>
            (((id * 31 + k * 17) % 65536) - 32768).toShort)
          val pcm = java.nio.ByteBuffer.allocate(n * 2)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          samples.foreach(pcm.putShort)
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
            true, false) // signed, little-endian — PCM_SIGNED
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm.array()), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          writeWav(ais, bos) // direct provider — see wavProviders
          (id, bos.toByteArray)
        }
      }
      .toDF("doc_id", "payload")
  }

  /** REAL audio decode (r16): parse the WAV container back through
    * `AudioSystem.getAudioInputStream` — format, frame count, and the
    * exact integer sample sum (the decode arithmetic a feature extractor
    * starts from). None when the payload is not a parseable audio
    * container, so callers choose the fallback explicitly, like
    * [[realDecode]].
    */
  def realDecodeWav(payload: Array[Byte]): Option[(Int, Long, Long)] =
    try {
      val ais = wavAudioInputStream( // direct provider — see wavProviders
        new java.io.ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      // the sum arithmetic below assumes 16-bit signed PCM, one channel,
      // 2-byte frames (r16 review): any other valid layout — stereo,
      // 8/24-bit, float PCM — must return None (the declared fallback),
      // not a silently wrong sum or an index crash past the raw buffer
      if (fmt.getEncoding !=
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
          fmt.getFrameSize != 2) None
      else {
        val n = ais.getFrameLength
        val raw = ais.readAllBytes()
        if (n < 0 || raw.length < n * 2) None
        else {
          val bb = java.nio.ByteBuffer.wrap(raw).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          var sum = 0L
          var i = 0
          while (i < n) { sum += bb.getShort(i * 2); i += 1 }
          Some((fmt.getSampleRate.toInt, n, sum))
        }
      }
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  /** [[decodeFeaturesReal]] with the fallback made VISIBLE: emits
    * `real_decoded` = whether [[realDecode]] succeeded, so a gate can pin
    * "stub fallback count = 0" instead of trusting it. Used by x5i, whose
    * oracle asserts `real_decoded` true on every planted row — an
    * ImageIO failure (or a corrupt planted payload) flips the column and
    * fails the hash gate rather than silently riding the stub.
    */
  def decodeFeaturesAudited(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          realDecode(payload) match {
            case Some((w, h, mean)) => (id, w, h, mean, true)
            case None =>
              val (w, h, mean) = stubDecode(payload)
              (id, w, h, mean, false)
          }
        }
      }
      .toDF("doc_id", "width", "height", "mean_rgb", "real_decoded")
  }

  /** MIXED-MODALITY planted corpus for x5b (r18, VERDICT r17 #3): even
    * doc_ids carry the x5i planted PNG, odd the x5j planted WAV — one
    * binary column holding two container families, the shape a crawl
    * table actually has. Union of the two executor-side planting passes;
    * each side's decoded content stays pure doc_id arithmetic.
    */
  def plantMixedMedia(docs: DataFrame): DataFrame =
    plantPngMedia(docs.filter(pmod(col("doc_id"), lit(2L)) === 0L))
      .unionByName(plantWavMedia(docs.filter(pmod(col("doc_id"), lit(2L)) === 1L)))

  /** REAL header-only metadata extraction (r18, VERDICT r17 #3 — the op
    * that replaced the stub x5b decode): dispatch on the container's
    * leading bytes, then parse ONLY the header — `ImageIO`'s reader
    * `getWidth(0)/getHeight(0)` reads the PNG IHDR (or JPEG SOF) without
    * decoding a raster, and `AudioSystem.getAudioFileFormat` parses the
    * WAV fmt chunk without reading a sample (the x5j parse, stopped at
    * the header). This is the 100 TB cheap-scan op: O(100) bytes of work
    * per blob regardless of payload size, where [[realDecode]] pays for
    * every pixel. `real_parsed` = false (with all fields zeroed and kind
    * "unknown") when no reader claims the bytes or the header is
    * malformed — the declared fallback, visible to the gate.
    */
  def realHeaderMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val none = (id, "unknown", 0, 0, 0, 0, 0L, false)
          try {
            val wav = payload.length >= 12 &&
              payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' &&
              payload(3) == 'F' && payload(8) == 'W' && payload(9) == 'A' &&
              payload(10) == 'V' && payload(11) == 'E'
            if (wav) {
              val aff = wavAudioFileFormat( // see wavProviders
                new java.io.ByteArrayInputStream(payload))
              val f = aff.getFormat
              (id, "wav", 0, 0, f.getSampleRate.toInt, f.getChannels,
                aff.getFrameLength.toLong, true)
            } else {
              // close the ImageInputStream explicitly (r18 review): with
              // ImageIO's default useCache=true it is file-backed, and an
              // unclosed instance leaks an FD + an imageio*.tmp per
              // payload until GC — a per-row leak in a mapPartitions loop
              val iis = javax.imageio.ImageIO.createImageInputStream(
                new java.io.ByteArrayInputStream(payload))
              try {
                val readers = javax.imageio.ImageIO.getImageReaders(iis)
                if (!readers.hasNext) none
                else {
                  val r = readers.next()
                  try {
                    r.setInput(iis)
                    (id, r.getFormatName.toLowerCase(java.util.Locale.ROOT),
                      r.getWidth(0), r.getHeight(0), 0, 0, 0L, true)
                  } finally r.dispose()
                }
              } finally iis.close()
            }
          } catch {
            case _: java.io.IOException => none
            case _: javax.sound.sampled.UnsupportedAudioFileException => none
          }
        }
      }
      .toDF("doc_id", "kind", "width", "height", "sample_rate", "channels",
        "n_frames", "real_parsed")
  }

  /** Average-hash (aHash) bands — the perceptual-hash kernel of x5g:
    * nearest-neighbor 8×8 resize of the stub-declared image (a hash
    * DOMAIN, not a decode — the fingerprint only needs to be
    * content-dependent and deterministic, which is why this kernel
    * legitimately keeps the stub geometry after r18 retired the stub
    * decode rows), then bit i = pixel_i above the 64-pixel mean, packed as
    * FOUR 16-bit band keys instead of one 64-bit word (pigeonhole:
    * Hamming ≤ 3 ⇒ at least one band identical — and no engine ever
    * touches the sign bit of a 64-bit pack). The mean threshold is the
    * integer comparison pixel·64 > Σpixels, so both engines reproduce
    * every bit exactly. Stub geometry, real kernel — swapping in a DCT
    * over real decoded pixels (true pHash) changes none of the plumbing.
    */
  def aHashBands(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val w = 1 + (payload(0) & 0xff) % 64
          val h = 1 + (payload(1) & 0xff) % 64
          val px = new Array[Int](64)
          var sum = 0L
          var r = 0
          while (r < 8) {
            var c = 0
            while (c < 8) {
              val idx = (r * h / 8) * w + (c * w / 8)
              // modulo wrap, not zero padding: short payloads must yield
              // CONTENT-dependent pixels, or every short doc hashes to
              // ~zero and the band join degenerates toward all-pairs
              val v = payload(idx % payload.length) & 0xff
              px(r * 8 + c) = v
              sum += v
              c += 1
            }
            r += 1
          }
          val bands = new Array[Int](4)
          var k = 0
          while (k < 4) {
            var bits = 0
            var j = 0
            while (j < 16) {
              if (px(16 * k + j).toLong * 64L > sum) bits |= (1 << j)
              j += 1
            }
            bands(k) = bits
            k += 1
          }
          (id, bands(0), bands(1), bands(2), bands(3))
        }
      }
      .toDF("doc_id", "b0", "b1", "b2", "b3")
  }

  /** The FULL x5g plan over a `(doc_id, payload)` media frame — exact-dup
    * collapse, rep-level band join, member-level reassembly. Factored out
    * so MultimodalSpec can prove it set-equal to the naive all-doc
    * [[phashPairs]] on a corpus WITH dup groups (the fixture has none, so
    * the registered oracle alone could not catch a reassembly-join bug).
    * `membership` is pinned (consumed by repOf, the cliques and both
    * expansion sides); the band frame is pinned too (phashPairs reads it
    * three times with differing projections that defeat exchange reuse).
    */
  private[graft] def phashDedupPlan(media: DataFrame,
      maxHamming: Int = 3): DataFrame = Caching.pinned { pins =>
    val withDig = media.select(col("doc_id"), col("payload"),
      md5(col("payload")).as("dig"))
    val membership = pins.checkpoint(withDig.select(col("dig"), col("doc_id")))
    val repOf = membership.groupBy("dig").agg(min(col("doc_id")).as("rep"))
    val reps = withDig.join(repOf, withDig("doc_id") === repOf("rep"))
      .select(col("rep").as("doc_id"), col("payload"))
    val repPairs = phashPairs(pins.checkpoint(aHashBands(reps)), maxHamming)
    // within-group cliques: identical payload ⇒ Hamming 0
    val internal = membership.as("x").join(membership.as("y"), "dig")
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        lit(0).cast(IntegerType).as("hamming"))
    // cross-group near pairs: every member inherits its rep's hash
    val mRep = membership.join(repOf, "dig")
      .select(col("rep"), col("doc_id"))
    val cross = repPairs
      .join(mRep.select(col("rep").as("a"), col("doc_id").as("ma")), "a")
      .join(mRep.select(col("rep").as("b"), col("doc_id").as("mb")), "b")
      .select(least(col("ma"), col("mb")).as("a"),
        greatest(col("ma"), col("mb")).as("b"), col("hamming"))
    internal.unionByName(cross).localCheckpoint()
  }

  /** The x5g pair plan over an aHash band frame: pigeonhole band-key
    * equi-join (Hamming ≤ bands−1 ⇒ some band equal) → exact XOR-popcount
    * verify at `maxHamming`. Factored out so MultimodalSpec can drive it
    * over synthetic dup payloads (the fixture has no sub-threshold pair).
    */
  private[graft] def phashPairs(hb: DataFrame, maxHamming: Int): DataFrame = {
    val bk = hb.select(col("doc_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band", "key")))
    val cand = bk.as("x").join(bk.as("y"), Seq("band", "key"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    cand
      .join(hb.select(col("doc_id").as("a"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")), "a")
      .join(hb.select(col("doc_id").as("b"), col("b0").as("c0"),
        col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3")), "b")
      .select(col("a"), col("b"),
        expr("CAST(bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
          "bit_count(a2 ^ c2) + bit_count(a3 ^ c3) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Deterministic MULTI-FRAME payloads for x5k (r17, VERDICT r16 #4):
    * K = 2 + id%3 solid-color PNG frames per doc, concatenated into one
    * binary payload — the planted-payload closed-form device (x5i)
    * extended to a CONTAINER: frame k's geometry and RGB are pure
    * (doc_id, k) arithmetic, each frame encoded by `javax.imageio` on
    * executors, so a correct container split + real decode recovers
    * closed-form per-frame rasters and the oracle can state the sampled
    * sums without seeing a byte.
    */
  def plantPngFramesMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    fanOut(docs.select(col("doc_id"))).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val k = 2 + (id % 3).toInt
          val bos = new java.io.ByteArrayOutputStream()
          var f = 0
          while (f < k) {
            val w = 1 + ((id + f) % 4).toInt
            val h = 1 + ((id + 2L * f) % 3).toInt
            val r = ((id + 11L * f) % 256).toInt
            val g = ((id * 7 + 23L * f) % 256).toInt
            val b = ((id * 13 + 5L * f) % 256).toInt
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (r << 16) | (g << 8) | b
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            javax.imageio.ImageIO.write(img, "png", bos)
            f += 1
          }
          (id, bos.toByteArray)
        }
      }
      .toDF("doc_id", "payload")
  }

  /** REAL container split (r17): walk a concatenation of PNG streams by
    * the PNG chunk grammar — 8-byte signature, then (length, type, data,
    * crc) chunks through IEND — and return each stream's byte slice.
    * This is structural parsing, not signature scanning: a signature
    * byte pattern INSIDE compressed IDAT data can never split a frame,
    * because the walk always knows where the current chunk ends. Returns
    * None on any malformed structure (truncated chunk, missing
    * signature), so callers choose the fallback explicitly.
    */
  def splitPngFrames(payload: Array[Byte]): Option[Seq[Array[Byte]]] = {
    val Sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    val frames = scala.collection.mutable.Buffer.empty[Array[Byte]]
    var off = 0
    while (off < payload.length) {
      if (off + 8 > payload.length ||
          !java.util.Arrays.equals(payload, off, off + 8, Sig, 0, 8))
        return None
      var p = off + 8
      var done = false
      while (!done) {
        if (p + 8 > payload.length) return None
        val len = ((payload(p) & 0xff) << 24) | ((payload(p + 1) & 0xff) << 16) |
          ((payload(p + 2) & 0xff) << 8) | (payload(p + 3) & 0xff)
        val typ = new String(payload, p + 4, 4, "US-ASCII")
        // Long arithmetic: a hostile length near 2^31 would wrap the Int
        // sum negative, slip past the bounds check, and loop forever
        val next = p.toLong + 8L + len.toLong + 4L // length + type + data + crc
        if (len < 0 || next > payload.length) return None
        p = next.toInt
        done = typ == "IEND"
      }
      frames += java.util.Arrays.copyOfRange(payload, off, p)
      off = p
    }
    if (frames.isEmpty) None else Some(frames.toSeq)
  }

  /** REAL frame sampling (r17, VERDICT r16 #4): split the container with
    * [[splitPngFrames]], decode every `every`-th frame with the REAL
    * codec (`ImageIO.read`), and accumulate exact integer channel sums
    * over the sampled rasters — the x5e shape with the stub arithmetic
    * replaced by a container walk + codec. `real_decoded` is true only
    * when the split succeeded AND every sampled frame decoded; a parse
    * or codec failure flips it and fails the hash gate (x5i's in-oracle
    * fallback pin).
    */
  def realFrameSample(media: DataFrame, every: Int): DataFrame = {
    // a non-positive stride would never advance the frame cursor and hang
    // executor tasks forever (ADVICE r17); fail on the driver instead
    require(every > 0, s"frame-sample stride must be > 0, got $every")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          splitPngFrames(payload) match {
            case None => (id, 0, 0, 0L, 0L, false)
            case Some(frames) =>
              var chanSum = 0L
              var pxSum = 0L
              var sampled = 0
              var ok = true
              var f = 0
              while (f < frames.size) {
                val img = javax.imageio.ImageIO.read(
                  new java.io.ByteArrayInputStream(frames(f)))
                if (img == null) ok = false
                else {
                  val w = img.getWidth
                  val h = img.getHeight
                  var y = 0
                  while (y < h) {
                    var x = 0
                    while (x < w) {
                      val rgb = img.getRGB(x, y)
                      chanSum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
                        (rgb & 0xff)
                      x += 1
                    }
                    y += 1
                  }
                  pxSum += w.toLong * h
                }
                sampled += 1
                f += every
              }
              (id, frames.size, sampled, chanSum, pxSum, ok)
          }
        }
      }
      .toDF("doc_id", "n_frames", "n_sampled", "channel_sum", "px_sum",
        "real_decoded")
  }

  /** Deterministic VARIED-PIXEL payloads for x5l (r17, VERDICT r16 #4):
    * one 4×4 PNG per doc whose pixel (x, y) channel values are pure
    * (doc_id, x, y) arithmetic, every value a multiple of 4 so a 2×2
    * box-filter mean is an exact integer — the closed-form device that
    * lets the oracle state a real resampler's output to the last bit.
    */
  def plantPngGridMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    fanOut(docs.select(col("doc_id"))).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val img = new java.awt.image.BufferedImage(4, 4,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 4) {
            var x = 0
            while (x < 4) {
              val r = (((id + x * 16L + y * 32L) % 64L) * 4L).toInt
              val g = (((id * 7 + x * 16L + y * 32L) % 64L) * 4L).toInt
              val b = (((id * 13 + x * 16L + y * 32L) % 64L) * 4L).toInt
              img.setRGB(x, y, (r << 16) | (g << 8) | b)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }
      .toDF("doc_id", "payload")
  }

  /** REAL box-filter resize (r17, VERDICT r16 #4): decode the payload
    * with the REAL codec, area-average uniform pixel blocks down to
    * outW×outH per channel (integer-truncating division — exact whenever
    * the block channel sum divides evenly, which the planted payloads
    * guarantee), emit the resized pixels as CSV (r, g, b row-major) plus
    * their total. Requires the raster dims to be exact multiples of the
    * output dims (uniform blocks — the exactness contract); anything
    * else, or an undecodable payload, flips `real_decoded` and emits
    * zeros, failing the hash gate rather than approximating silently.
    */
  def realBoxResize(media: DataFrame, outW: Int, outH: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(payload))
          if (img == null || img.getWidth % outW != 0 ||
              img.getHeight % outH != 0)
            (id, outW, outH, "", 0L, false)
          else {
            val bw = img.getWidth / outW
            val bh = img.getHeight / outH
            val out = new Array[Int](outW * outH * 3)
            var total = 0L
            var oy = 0
            while (oy < outH) {
              var ox = 0
              while (ox < outW) {
                var rs = 0L; var gs = 0L; var bs = 0L
                var y = oy * bh
                while (y < (oy + 1) * bh) {
                  var x = ox * bw
                  while (x < (ox + 1) * bw) {
                    val rgb = img.getRGB(x, y)
                    rs += (rgb >> 16) & 0xff
                    gs += (rgb >> 8) & 0xff
                    bs += rgb & 0xff
                    x += 1
                  }
                  y += 1
                }
                val n = bw.toLong * bh
                val base = (oy * outW + ox) * 3
                out(base) = (rs / n).toInt
                out(base + 1) = (gs / n).toInt
                out(base + 2) = (bs / n).toInt
                total += out(base) + out(base + 1) + out(base + 2)
                ox += 1
              }
              oy += 1
            }
            (id, outW, outH, out.mkString(","), total, true)
          }
        }
      }
      .toDF("doc_id", "out_w", "out_h", "resized_csv", "pixel_sum",
        "real_decoded")
  }

  /** Byte histogram: exact integer bin counts plus the float feature
    * vector (exact rationals count/len — what a model would consume).
    */
  def byteHistogram(media: DataFrame, bins: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val counts = new Array[Int](bins)
          var i = 0
          while (i < payload.length) {
            val b = (payload(i) & 0xff) / 16
            if (b < bins) counts(b) += 1
            i += 1
          }
          (id, counts, counts.map(c => c.toFloat / payload.length.toFloat),
            payload.length)
        }
      }
      .toDF("doc_id", "hist_counts", "hist", "n_bytes")
  }
}
