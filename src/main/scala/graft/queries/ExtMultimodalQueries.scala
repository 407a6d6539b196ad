package graft.queries

import graft.Tables
import graft.ext.{Dedup, Multimodal, PlanCache}
import org.apache.spark.sql.functions._


/** Multimodal family: real PNG/WAV/GIF decode, frames,
  * channels, resize, batched featurizer.
  *
  * Declared-query registry split out of the former monolithic
  * ExtQueries.scala (round 10, mechanical — blocks moved verbatim);
  * shared caps/CTE text/checksum helpers live in [[ExtShared]].
  */
object ExtMultimodalQueries {

  val all: Seq[Declared] = Seq(

    // --- Multimodal ---------------------------------------------------

    // REAL image decode end to end: one genuine PNG per document
    // (dims = arithmetic functions of doc_id, pixels encoded with
    // javax.imageio on the executors), then a real header decode
    // recovers width/height. The oracle states the dims from the
    // id formulas alone — it cannot decode, so a green row proves the
    // PNG encode→decode round trip genuinely parsed the bytes.
    // n_undecodable = 0 pins that NO payload fell back to NULL dims.
    Declared(
      "ext_multimodal_meta",
      (s, d) =>
        Multimodal.decodeImageMeta(
          Multimodal.syntheticImages(Tables.documents(s, d), "doc_id"))
          .agg(count(lit(1)).as("n_images"),
            sum(when(col("width").isNull, 1L).otherwise(0L)).as("n_undecodable"),
            sum(col("width")).as("sum_width"),
            sum(col("height")).as("sum_height"),
            sum(col("media_id") * col("width")).as("dim_checksum")),
      Some("""SELECT COUNT(*) AS n_images,
                     CAST(0 AS BIGINT) AS n_undecodable,
                     CAST(SUM(doc_id % 61 + 4) AS BIGINT) AS sum_width,
                     CAST(SUM(doc_id * 7 % 43 + 4) AS BIGINT) AS sum_height,
                     CAST(SUM(doc_id * (doc_id % 61 + 4)) AS BIGINT) AS dim_checksum
              FROM documents""")),

    // REAL video frame extraction end to end: one genuine animated
    // GIF per document (frame count / dims / gray pixels all
    // arithmetic formulas of (doc_id, frame, x, y), encoded with the
    // JDK GIF sequence writer), then sampleFrames truly parses the
    // container, strided-samples min(4, n_frames) frames at
    // k*n_frames/m, decodes each, and re-encodes it as PNG — which
    // feeds the SAME imageChannelStats used by ext_multimodal_channels
    // for a second full decode. The oracle restates sampled-frame
    // indices and per-frame pixel sums from the formulas alone (it
    // cannot decode), so a green row proves genuine container parse +
    // frame indexing + two lossless codec round trips. (Formula
    // arithmetic stays in BIGINT range for doc_id up to ~3.4e9 —
    // DuckDB raises on overflow where Spark ANSI also raises, so the
    // ceiling is loud, not silent.)
    Declared(
      "ext_multimodal_frames",
      (s, d) => {
        val frames = PlanCache.cached("gifFrames/doc_id/4",
          Multimodal.syntheticGifs(Tables.documents(s, d), "doc_id"))(
          Multimodal.sampleFrames(_, n = 4))
        val meta = frames.agg(
          count(lit(1)).as("n_frames_sampled"),
          sum(col("frame_no")).as("frame_no_checksum"),
          sum(col("n_frames")).as("container_frames"))
        val px = Multimodal.imageChannelStats(frames).agg(
          sum(when(col("n_pixels").isNull, 1L).otherwise(0L))
            .as("n_unreadable_frames"),
          sum(col("n_pixels")).as("total_pixels"),
          sum(col("sum_r")).as("total_r"),
          sum(col("sum_g")).as("total_g"),
          sum(col("sum_b")).as("total_b"),
          sum(col("media_id") * col("n_pixels")).as("px_checksum"))
        meta.crossJoin(px)
      },
      Some("""WITH f AS (
                SELECT doc_id,
                       (doc_id % 5 + 2) AS nf,
                       (k * (doc_id % 5 + 2)) // LEAST(4, doc_id % 5 + 2) AS fr
                FROM documents, range(4) t(k)
                WHERE k < LEAST(4, doc_id % 5 + 2)),
              px AS (
                SELECT doc_id,
                       ((doc_id % 1000003 + fr * 101 + x * 31 + y * 17) * 2654435761) & 255 AS g
                FROM f, range(16) tx(x), range(14) ty(y)
                WHERE x < doc_id % 13 + 4 AND y < doc_id * 3 % 11 + 4)
              SELECT (SELECT COUNT(*) FROM f) AS n_frames_sampled,
                     (SELECT CAST(SUM(fr) AS BIGINT) FROM f) AS frame_no_checksum,
                     (SELECT CAST(SUM(nf) AS BIGINT) FROM f) AS container_frames,
                     CAST(0 AS BIGINT) AS n_unreadable_frames,
                     COUNT(*) AS total_pixels,
                     CAST(SUM(g) AS BIGINT) AS total_r,
                     CAST(SUM(g) AS BIGINT) AS total_g,
                     CAST(SUM(g) AS BIGINT) AS total_b,
                     CAST(SUM(doc_id) AS BIGINT) AS px_checksum
              FROM px""")),

    // REAL pixel-level fidelity: full decode of every PNG, exact
    // long sums of the R/G/B channel bytes over the raster (the
    // integer core of an image featurizer). The pixels are generated
    // by an arithmetic formula of (doc_id, x, y), so the oracle
    // recomputes the identical sums WITHOUT decoding — a green row
    // proves every pixel of every image survives the PNG
    // encode→decode round trip bit-for-bit, strictly stronger than
    // the header check above. (Formula ceiling: the hash multiply
    // stays in BIGINT only for doc_id ≲ 3.4e9 — past it DuckDB
    // raises and Spark ANSI raises too, so the ceiling is loud on
    // both sides, never a silent divergence.)
    Declared(
      "ext_multimodal_channels",
      (s, d) =>
        Multimodal.imageChannelStats(
          Multimodal.syntheticImages(Tables.documents(s, d), "doc_id"))
          .agg(count(lit(1)).as("n_images"),
            sum(when(col("n_pixels").isNull, 1L).otherwise(0L))
              .as("n_undecodable"),
            sum(col("n_pixels")).as("total_pixels"),
            sum(col("sum_r")).as("total_r"),
            sum(col("sum_g")).as("total_g"),
            sum(col("sum_b")).as("total_b"),
            sum(col("media_id") * col("n_pixels")).as("px_checksum")),
      Some("""WITH px AS (
                SELECT doc_id,
                       ((doc_id % 1000003 + x * 31 + y * 17) * 2654435761) & 16777215 AS v
                FROM documents, range(64) tx(x), range(46) ty(y)
                WHERE x < doc_id % 61 + 4 AND y < doc_id * 7 % 43 + 4)
              SELECT (SELECT COUNT(*) FROM documents) AS n_images,
                     CAST(0 AS BIGINT) AS n_undecodable,
                     COUNT(*) AS total_pixels,
                     CAST(SUM((v >> 16) & 255) AS BIGINT) AS total_r,
                     CAST(SUM((v >> 8) & 255) AS BIGINT) AS total_g,
                     CAST(SUM(v & 255) AS BIGINT) AS total_b,
                     CAST(SUM(doc_id) AS BIGINT) AS px_checksum
              FROM px""")),

    // REAL audio decode end to end: one genuine WAV (RIFF + 16-bit LE
    // mono PCM) per document, written and re-decoded with
    // javax.sound.sampled on the executors; exact long sums of the
    // decoded samples. Samples are an arithmetic formula of
    // (doc_id, i), so the oracle recomputes the identical sums
    // WITHOUT an audio decoder — green proves every sample survives
    // the WAV container round trip bit-for-bit (the audio twin of
    // ext_multimodal_channels, sharing its ~3.4e9 doc_id formula
    // ceiling — loud on both engines, never silent).
    Declared(
      "ext_multimodal_audio",
      (s, d) =>
        Multimodal.audioSampleStats(
          Multimodal.syntheticWavs(Tables.documents(s, d), "doc_id"))
          .agg(count(lit(1)).as("n_clips"),
            sum(when(col("n_samples").isNull, 1L).otherwise(0L))
              .as("n_undecodable"),
            sum(col("n_samples")).as("total_samples"),
            sum(col("sum_s")).as("total_s"),
            sum(col("sum_abs")).as("total_abs"),
            sum(col("media_id") * col("n_samples")).as("clip_checksum")),
      Some("""WITH sp AS (
                SELECT doc_id,
                       (((doc_id % 1000003 + i * 7) * 2654435761) & 65535) - 32768 AS v
                FROM documents, range(1800) t(i)
                WHERE i < doc_id % 1500 + 300)
              SELECT (SELECT COUNT(*) FROM documents) AS n_clips,
                     CAST(0 AS BIGINT) AS n_undecodable,
                     COUNT(*) AS total_samples,
                     CAST(SUM(v) AS BIGINT) AS total_s,
                     CAST(SUM(ABS(v)) AS BIGINT) AS total_abs,
                     CAST(SUM(doc_id) AS BIGINT) AS clip_checksum
              FROM sp""")),

    // REAL image resize round trip: genuine PNGs → javax.imageio
    // decode → Graphics2D scale to exactly 12×9 → PNG re-encode →
    // decode AGAIN. The re-decoded dims can only equal the target if
    // every stage truly parsed, scaled, and re-wrote image bytes; the
    // oracle predicts them from the row count alone.
    Declared(
      "ext_multimodal_resize",
      (s, d) =>
        Multimodal.decodeImageMeta(
          Multimodal.resizeImages(
            Multimodal.syntheticImages(Tables.documents(s, d), "doc_id"),
            w = 12, h = 9))
          .agg(count(lit(1)).as("n_images"),
            sum(col("width")).as("sum_width"),
            sum(col("height")).as("sum_height"),
            sum(when(col("n_bytes") > 0, 1L).otherwise(0L)).as("n_nonempty")),
      Some("""SELECT COUNT(*) AS n_images,
                     COUNT(*) * 12 AS sum_width,
                     COUNT(*) * 9 AS sum_height,
                     COUNT(*) AS n_nonempty
              FROM documents""")),

    // REAL batch featurizer (mapPartitions in grouped batches, the
    // mapInPandas shape): each feature is per-channel moments
    // [mean, mean-of-squares]×RGB of the DECODED pixels. Means are
    // exact divisions sum/n, so multiplying each component back by
    // the formula pixel count and rounding reconstructs the integer
    // channel sums EXACTLY (sums ≤ 2e8 ≪ 2^53, double round-trip
    // error ≪ 0.5) — the oracle restates those sums from the pixel
    // formula without decoding, pinning that the features really are
    // moments of genuinely decoded pixels, not payload-byte hashes.
    Declared(
      "ext_multimodal_features",
      (s, d) =>
        Multimodal.extractFeatures(
          Multimodal.syntheticImages(Tables.documents(s, d), "doc_id"))
          .select(col("media_id"), col("feature"),
            ((col("media_id") % 61 + 4) * (col("media_id") * 7 % 43 + 4))
              .as("n_px"))
          .agg(count(lit(1)).as("n_media"),
            sum(when(col("feature").isNull, 1L).otherwise(0L))
              .as("n_undecodable"),
            sum(size(col("feature"))).as("sum_dims"),
            sum(round(element_at(col("feature"), 1) * col("n_px")).cast("long"))
              .as("sum_r"),
            sum(round(element_at(col("feature"), 2) * col("n_px")).cast("long"))
              .as("sum_g"),
            sum(round(element_at(col("feature"), 3) * col("n_px")).cast("long"))
              .as("sum_b"),
            sum(round(element_at(col("feature"), 4) * col("n_px")).cast("long"))
              .as("sumsq_r"),
            sum(round(element_at(col("feature"), 5) * col("n_px")).cast("long"))
              .as("sumsq_g"),
            sum(round(element_at(col("feature"), 6) * col("n_px")).cast("long"))
              .as("sumsq_b")),
      Some("""WITH px AS (
                SELECT doc_id,
                       ((doc_id % 1000003 + x * 31 + y * 17) * 2654435761) & 16777215 AS v
                FROM documents, range(64) tx(x), range(46) ty(y)
                WHERE x < doc_id % 61 + 4 AND y < doc_id * 7 % 43 + 4)
              SELECT (SELECT COUNT(*) FROM documents) AS n_media,
                     CAST(0 AS BIGINT) AS n_undecodable,
                     (SELECT CAST(COUNT(*) * 6 AS BIGINT) FROM documents) AS sum_dims,
                     CAST(SUM((v >> 16) & 255) AS BIGINT) AS sum_r,
                     CAST(SUM((v >> 8) & 255) AS BIGINT) AS sum_g,
                     CAST(SUM(v & 255) AS BIGINT) AS sum_b,
                     CAST(SUM(((v >> 16) & 255) * ((v >> 16) & 255)) AS BIGINT) AS sumsq_r,
                     CAST(SUM(((v >> 8) & 255) * ((v >> 8) & 255)) AS BIGINT) AS sumsq_g,
                     CAST(SUM((v & 255) * (v & 255)) AS BIGINT) AS sumsq_b
              FROM px""")),

    // Perceptual-hash image dedup, part 1 — the signature
    // ([[Multimodal.imageAHash]]): REAL decode of every PNG, gray
    // block sums over the 8×8 floor-bucket grid, integer-exact
    // bit rule (sum_block·n_total > total·n_block). The full
    // per-image hash TABLE is the gated output — emitted as two
    // unsigned 32-bit halves (a bit-63 hash is a negative BIGINT in
    // one engine and a shift overflow in the other; the halves are
    // portable) — while the oracle restates every bit from the pixel
    // formulas alone: a green row proves decode → pixel walk → block
    // bucketing → bit rule end to end, per image, with nothing
    // sampled or summarized away.
    Declared(
      "ext_multimodal_phash",
      (s, d) => {
        val imgs = Multimodal.syntheticImages(Tables.documents(s, d), "doc_id")
        val ph = PlanCache.cached("imageAHash/doc_id", imgs)(Multimodal.imageAHash)
        ph.select(col("media_id"),
            expr("shiftrightunsigned(phash, 32)").as("phash_hi"),
            col("phash").bitwiseAND(lit(0xFFFFFFFFL)).as("phash_lo"))
          .orderBy("media_id")
      },
      Some(s"""WITH $phashCte
               SELECT id AS media_id, phash_hi, phash_lo
               FROM phh ORDER BY media_id""")),

    // Perceptual-hash image dedup, part 2 — the pairing
    // ([[Dedup.signatureNearPairs]], the pigeonhole multi-index the
    // text SimHash family uses, run over IMAGE signatures): all
    // hamming-≤12 near-dup image pairs in a 1500-image panel,
    // bucketed by 13 disjoint segments (uneven 5/4-bit widths — the
    // general segExplode) so the corpus×corpus product never forms,
    // then verified exactly on candidates. The oracle brute-forces
    // the same pairs from its formula-derived hashes — the
    // multi-index is exact (pigeonhole), so the two must agree
    // pair-for-pair (id and distance checksums pin which pairs and
    // at what distance).
    Declared(
      "ext_multimodal_phash_pairs",
      (s, d) => {
        val imgs = Multimodal.syntheticImages(Tables.documents(s, d), "doc_id")
        val ph = PlanCache.cached("imageAHash/doc_id", imgs)(Multimodal.imageAHash)
        Dedup.signatureNearPairs(
            ph.where(col("media_id") < 1500)
              .select(col("media_id").as("doc_id"), col("phash").as("simhash")),
            bits = 64, maxDist = 12)
          .agg(count(lit(1)).as("n_pairs"),
            coalesce(sum((col("doc_a") * 31 + col("doc_b")) % 1000000007L)
              % 1000000007L, lit(0L)).as("id_checksum"),
            coalesce(sum(col("dist")), lit(0L)).as("dist_sum"))
      },
      Some(s"""WITH $phashCte,
               pha AS (SELECT id, phash_hi AS hi, phash_lo AS lo
                       FROM phh WHERE id < 1500),
               php AS (
                 SELECT a.id AS da, b.id AS db,
                        bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS dist
                 FROM pha a JOIN pha b ON a.id < b.id)
               SELECT COUNT(*) AS n_pairs,
                      CAST(COALESCE(SUM((da * 31 + db) % 1000000007)
                        % 1000000007, 0) AS BIGINT) AS id_checksum,
                      CAST(COALESCE(SUM(dist), 0) AS BIGINT) AS dist_sum
               FROM php WHERE dist <= 12"""))
  ) :+ audioFpRow

  /** Gated audio-fingerprint row, appended to [[all]] above (a def:
    * `all` initializes first, so a forward val reference would be
    * null at class init).
    */
  private def audioFpRow: Declared =
    // Audio fingerprinting ([[Multimodal.audioFingerprint]]): REAL
    // RIFF/WAV decode of every clip, 64 floor-bucket frames, energy
    // envelope deltas as integer-exact bits — the third modality
    // (after text SimHash and image aHash) whose 8-byte signatures
    // feed [[Dedup.signatureNearPairs]]. The full per-clip
    // fingerprint table is the gated output (unsigned halves, same
    // portability stance as ext_multimodal_phash); the oracle
    // restates every bit from the synthSample formulas alone, so a
    // green row proves container parse → sample walk → frame
    // bucketing → delta rule end to end, per clip.
    Declared(
      "ext_multimodal_audio_fp",
      (s, d) => {
        val wavs = Multimodal.syntheticWavs(Tables.documents(s, d), "doc_id")
        Multimodal.audioFingerprint(wavs)
          .select(col("media_id"),
            expr("shiftrightunsigned(afp, 32)").as("afp_hi"),
            col("afp").bitwiseAND(lit(0xFFFFFFFFL)).as("afp_lo"))
          .orderBy("media_id")
      },
      Some("""WITH afg AS (
                SELECT doc_id AS id, (i * 64) // (doc_id % 1500 + 300) AS f,
                       abs((((doc_id % 1000003 + i * 7) * 2654435761) & 65535) - 32768) AS a
                FROM documents, range(1800) t(i)
                WHERE i < doc_id % 1500 + 300),
              afb AS (SELECT id, f, SUM(a) AS e, COUNT(*) AS c
                      FROM afg GROUP BY id, f),
              afd AS (
                SELECT cur.id, cur.f,
                       CASE WHEN cur.e * prv.c > prv.e * cur.c THEN 1 ELSE 0 END AS bit
                FROM afb cur JOIN afb prv
                  ON cur.id = prv.id AND prv.f = cur.f - 1),
              afh AS (
                SELECT id,
                       CAST(COALESCE(SUM(CASE WHEN bit = 1 AND f >= 32
                         THEN (CAST(1 AS BIGINT) << (f - 32)) ELSE 0 END), 0) AS BIGINT) AS afp_hi,
                       CAST(COALESCE(SUM(CASE WHEN bit = 1 AND f < 32
                         THEN (CAST(1 AS BIGINT) << f) ELSE 0 END), 0) AS BIGINT) AS afp_lo
                FROM afd GROUP BY id)
              SELECT id AS media_id, afp_hi, afp_lo FROM afh ORDER BY media_id"""))

  /** DuckDB CTE text: the aHash signature restated from the synthetic
    * pixel formulas ([[Multimodal.synthWidth]]/[[Multimodal.synthHeight]]
    * and the rgb24 hash) — gray block sums over the 8×8 floor grid,
    * strict integer mean rule, hash as two unsigned 32-bit halves.
    * `phh(id, phash_hi, phash_lo)`.
    */
  private def phashCte =
    """phg AS (
         SELECT doc_id AS id, (x * 8) // (doc_id % 61 + 4) AS i,
                (y * 8) // (doc_id * 7 % 43 + 4) AS j,
                ((((doc_id % 1000003 + x * 31 + y * 17) * 2654435761) >> 16) & 255)
                + ((((doc_id % 1000003 + x * 31 + y * 17) * 2654435761) >> 8) & 255)
                + (((doc_id % 1000003 + x * 31 + y * 17) * 2654435761) & 255) AS gray
         FROM documents, range(64) tx(x), range(46) ty(y)
         WHERE x < doc_id % 61 + 4 AND y < doc_id * 7 % 43 + 4),
       phb AS (
         SELECT id, i, j, SUM(gray) AS s, COUNT(*) AS n
         FROM phg GROUP BY id, i, j),
       pht AS (SELECT id, SUM(s) AS tot, SUM(n) AS ntot FROM phb GROUP BY id),
       phh AS (
         SELECT b.id,
                CAST(COALESCE(SUM(CASE WHEN s * ntot > tot * n AND j * 8 + i >= 32
                  THEN (CAST(1 AS BIGINT) << (j * 8 + i - 32)) ELSE 0 END), 0) AS BIGINT) AS phash_hi,
                CAST(COALESCE(SUM(CASE WHEN s * ntot > tot * n AND j * 8 + i < 32
                  THEN (CAST(1 AS BIGINT) << (j * 8 + i)) ELSE 0 END), 0) AS BIGINT) AS phash_lo
         FROM phb b JOIN pht t USING (id) GROUP BY b.id)"""
}
