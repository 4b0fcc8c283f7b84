package graft
package queries

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Multimodal: synthetic media decode, features, fingerprints and
  * dedup. Each query is declared next to its DuckDB oracle. */
object MediaQueries {
  import Fixtures._, OracleSql._, TokenizerOracleSql._

  val specs: Seq[QuerySpec] = Seq(
    // Multimodal decode + frame-sample over a binary column: per-media
    // descriptor (dimensions, frame counts, byte totals) joined with the
    // sampled-frame summary. The decode kernel is a REAL container
    // parse (JPEG SOF0, PNG IHDR + CRC, WAV RIFF chunks, MJPEG marker
    // walk — MediaCodecs) over real minimal files the fixture encodes;
    // the oracle recomputes the expected values from the fixture's id
    // arithmetic, so writer and parser must agree through the actual
    // byte formats for the hash to match.
    QuerySpec("media_decode_stats", (s, dir) => {
      val media = mediaFixture(s)
      val decoded = graft.multimodal.Multimodal.decode(media).toDF()
      val frames = graft.multimodal.Multimodal.sampleFrames(media, maxFrames = 4).toDF()
        .groupBy("media_id")
        .agg(count(lit(1)).as("frames_sampled"),
          sum(length(col("frame_bytes")).cast("long")).as("frame_bytes"))
      decoded.join(frames, "media_id")
        .select(col("media_id"), col("modality"), col("width"), col("height"),
          col("n_frames"), col("n_bytes"), col("frames_sampled"), col("frame_bytes"))
        .orderBy(col("media_id"))
    }, () =>
      // Recomputes the expected decode output from the fixture's id
      // arithmetic: dims w = 64+(i*13)%960, h = 64+(i*7)%540; WAV sample
      // frames 100+i%400 at 16-bit × (1+i%2) channels; MJPEG 1+i%5
      // frames. Byte sizes are the container constants — header-only JPEG
      // = 23 bytes (SOI + SOF0[17] + EOI), minimal PNG = 45 (sig + IHDR +
      // IEND), canonical WAV header = 44 + data. The Spark side gets these
      // numbers by PARSING the real headers MediaCodecs wrote, so the
      // match proves writer and parser agree through the byte format.
      """WITH t AS (SELECT i AS media_id,
        |    CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |    64 + (i*13) % 960 AS w, 64 + (i*7) % 540 AS h,
        |    1 + i % 2 AS ch, 100 + i % 400 AS af, 1 + i % 5 AS vf,
        |    (i // 3) % 2 AS png  -- image rows alternate JPEG (0) / PNG (1)
        |  FROM range(200) t(i))
        |SELECT media_id, modality,
        |  CAST(CASE modality WHEN 'audio' THEN 0 ELSE w END AS INTEGER) AS width,
        |  CAST(CASE modality WHEN 'audio' THEN 0 ELSE h END AS INTEGER) AS height,
        |  CAST(CASE modality WHEN 'image' THEN 1 WHEN 'audio' THEN af ELSE vf END AS INTEGER) AS n_frames,
        |  CAST(CASE modality WHEN 'image' THEN CASE WHEN png = 1 THEN 45 ELSE 23 END
        |       WHEN 'audio' THEN 44 + af*ch*2 ELSE 23*vf END AS BIGINT) AS n_bytes,
        |  CAST(CASE modality WHEN 'video' THEN least(4, vf) ELSE 1 END AS BIGINT) AS frames_sampled,
        |  CAST(CASE modality WHEN 'image' THEN CASE WHEN png = 1 THEN 45 ELSE 23 END
        |       WHEN 'audio' THEN 44 + af*ch*2 ELSE 23*least(4, vf) END AS BIGINT) AS frame_bytes
        |FROM t
        |ORDER BY media_id""".stripMargin),

    // REAL image resize: PPM rasters with arithmetic pixels, downscaled
    // fit-within-32×32 by actual nearest-neighbor resampling
    // (MediaCodecs.resizePpmNearest); the oracle recomputes output
    // dims, byte counts, AND the full raster checksum from the same
    // integer arithmetic — every output pixel byte is pinned.
    QuerySpec("media_resize_stats", (s, dir) => {
      import s.implicits._
      val src = s.range(200).map { id =>
        val w = 8 + (id % 97).toInt
        val h = 8 + (id % 89).toInt
        graft.multimodal.Multimodal.MediaRecord(id, "image",
          graft.multimodal.MediaCodecs.ppmBytes(w, h, (x, y) =>
            ((7 * x + 13 * y) % 251, (3 * x + 5 * y) % 241, (11 * x + 2 * y) % 239)),
          """{"fmt":"ppm"}""")
      }
      graft.multimodal.Multimodal.ppmStats(
          graft.multimodal.Multimodal.resizeImages(src, maxW = 32, maxH = 32))
        .toDF()
        .orderBy(col("media_id"))
    }, () =>
      // Replays the whole resize pipeline arithmetically: fit-within dims
      // via the same floor divisions, header length from the dims' digit
      // counts, and the raster checksum as a sum over every output pixel
      // of the source-pixel channel formulas at (⌊x·w/dw⌋, ⌊y·h/dh⌋).
      """WITH t AS (SELECT i AS media_id, 8 + i % 97 AS w, 8 + i % 89 AS h FROM range(200) t(i)),
        |d AS (SELECT media_id, w, h,
        |        CASE WHEN w <= 32 AND h <= 32 THEN w
        |             WHEN w >= h THEN 32 ELSE greatest(1, (w*32)//h) END AS dw,
        |        CASE WHEN w <= 32 AND h <= 32 THEN h
        |             WHEN w >= h THEN greatest(1, (h*32)//w) ELSE 32 END AS dh
        |      FROM t),
        |s AS (SELECT media_id, dw, dh,
        |        list_sum([  (7*(((p % dw)*w)//dw) + 13*(((p // dw)*h)//dh)) % 251
        |                  + (3*(((p % dw)*w)//dw) +  5*(((p // dw)*h)//dh)) % 241
        |                  + (11*(((p % dw)*w)//dw) + 2*(((p // dw)*h)//dh)) % 239
        |                  FOR p IN range(0, dw*dh)]) AS rgb_sum
        |      FROM d)
        |SELECT media_id, CAST(dw AS INTEGER) AS width, CAST(dh AS INTEGER) AS height,
        |       CAST(9 + length(CAST(dw AS VARCHAR)) + length(CAST(dh AS VARCHAR)) + 3*dw*dh AS BIGINT) AS n_bytes,
        |       CAST(rgb_sum AS BIGINT) AS rgb_sum
        |FROM s ORDER BY media_id""".stripMargin),

    // REAL feature extraction over decoded media content: P6 rasters →
    // 4×4×3 subsampled-RGB vectors (actual pixel bytes via the
    // nearest-neighbor thumbnail), PCM WAVs → 8 amplitude frame stats —
    // all integer arithmetic the oracle replays from the fixture's id
    // formulas. Declared output is the exact integer projection of every
    // feature vector (dim count, sum, min, max).
    QuerySpec("media_features", (s, dir) => {
      val feats = graft.multimodal.Multimodal
        .extractFeatures(mediaFeatFixture(s), grid = 4).toDF()
      feats.select(col("media_id"),
          size(col("embedding")).as("n_dims"),
          aggregate(col("embedding"), lit(0L), (acc, x) => acc + x.cast("long")).as("f_sum"),
          array_min(col("embedding")).cast("long").as("f_min"),
          array_max(col("embedding")).cast("long").as("f_max"))
        .orderBy(col("media_id"))
    }, () =>
      // Replays the whole feature-extraction path arithmetically: the
      // image vectors as the 4×4-grid subsampled pixel-channel formulas
      // (sx = cx·w//4, sy = cy·h//4 — the resizePpmNearest floor map),
      // the audio vectors as integer frame stats over the replayed PCM
      // sample list. The Spark side gets the same numbers by PARSING the
      // real PPM/WAV bytes the fixture encodes.
      s"""WITH ip AS (SELECT i AS media_id,
         |         CASE WHEN i < 80 THEN i ELSE i - 80 END AS base,
         |         CASE WHEN i < 80 THEN 0 ELSE 1 END AS bump
         |       FROM range(100) t(i)),
         |ic AS (SELECT media_id, base, bump,
         |         8 + base % 23 AS w, 8 + base % 19 AS h,
         |         5 + base % 11 AS a, 7 + base % 13 AS bm
         |       FROM ip),
         |iv AS (SELECT media_id, [ $ImgFeatDimSql FOR d IN range(0, 48) ] AS v FROM ic),
         |aud AS (SELECT i AS media_id, 120 + i % 80 AS n FROM range(100, 200) t(i)),
         |asmp AS (SELECT media_id, n,
         |           [ ((j*37 + media_id*101) % 4001) - 2000 FOR j IN range(0, n) ] AS smp
         |         FROM aud),
         |ast AS (SELECT media_id, n, [abs(x) FOR x IN smp] AS ab,
         |          list_sum([ CASE WHEN (smp[j+1] < 0) <> (smp[j] < 0) THEN 1 ELSE 0 END
         |                     FOR j IN range(1, n) ]) AS zc
         |        FROM asmp),
         |av AS (SELECT media_id,
         |         [ n, list_sum(ab) // n, zc, list_max(ab), $BandEnergySql ] AS v
         |       FROM ast),
         |allv AS (SELECT media_id, v FROM iv UNION ALL SELECT media_id, v FROM av)
         |SELECT media_id, CAST(len(v) AS INTEGER) AS n_dims,
         |       CAST(list_sum(v) AS BIGINT) AS f_sum,
         |       CAST(list_min(v) AS BIGINT) AS f_min,
         |       CAST(list_max(v) AS BIGINT) AS f_max
         |FROM allv ORDER BY media_id""".stripMargin),

    // The extracted image features feed the embedding-dedup ANN operator
    // directly: SRP-banded near-dup over the 48-dim grid vectors
    // surfaces the 20 planted red-bump near-duplicates (cos ≥ 0.99993)
    // plus 15 genuinely similar low-id gradient rasters that sit above
    // the 0.999 gate — all deterministic (fixed fixture, seeded SRP;
    // band-miss probability at the gate ≈ 1e-11). The oracle recomputes
    // the features AND the brute-force cosine join in SQL — media bytes
    // to ANN verdict, one hash-pinned path.
    QuerySpec("media_feature_dups", (s, dir) => {
      import s.implicits._
      val imgs = mediaFeatFixture(s).filter(_.modality == "image")
      val feats = graft.multimodal.Multimodal.extractFeatures(imgs, grid = 4).toDF()
        .select(col("media_id").as("vec_id"), col("embedding"))
      Dedup.embeddingNearDups(feats, minCosine = 0.999)
        .orderBy(col("id_a"), col("id_b"))
    }, () =>
      // Brute-force cosine join over the REPLAYED image feature vectors at
      // the same 0.999 gate: equals the SRP-banded Spark search — the 20
      // planted red-bump pairs sit at cos ≥ 0.99993 and the 15 natural
      // gradient pairs above the gate are found with band-miss probability
      // ≈ 1e-11 under the fixed seed (verified: 35/35 hash-match).
      // Integer-valued features make every dot product exact, so cos_sim
      // is bit-identical across engines.
      s"""WITH ip AS (SELECT i AS media_id,
         |         CASE WHEN i < 80 THEN i ELSE i - 80 END AS base,
         |         CASE WHEN i < 80 THEN 0 ELSE 1 END AS bump
         |       FROM range(100) t(i)),
         |ic AS (SELECT media_id, base, bump,
         |         8 + base % 23 AS w, 8 + base % 19 AS h,
         |         5 + base % 11 AS a, 7 + base % 13 AS bm
         |       FROM ip),
         |iv AS (SELECT media_id, [ $ImgFeatDimSql FOR d IN range(0, 48) ] AS v FROM ic)
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |       (${dotSql("a.v", "b.v", 48)})
         |         / (sqrt(${dotSql("a.v", "a.v", 48)}) * sqrt(${dotSql("b.v", "b.v", 48)})) AS cos_sim
         |FROM iv a JOIN iv b ON a.media_id < b.media_id
         |WHERE (${dotSql("a.v", "b.v", 48)})
         |        / (sqrt(${dotSql("a.v", "a.v", 48)}) * sqrt(${dotSql("b.v", "b.v", 48)})) >= 0.999
         |ORDER BY id_a, id_b""".stripMargin),

    // 64-bit perceptual DIFFERENCE HASH per image (dHash, the standard
    // image near-dup signature): real P6 raster bytes → 9×8
    // nearest-neighbor gray-sum grid → 64 row-adjacent comparisons.
    // All-integer arithmetic, so the oracle rebuilds the identical
    // hash from the fixture's id-parameterized pixel formulas —
    // container bytes to signature, hash-pinned. One narrow map, 8
    // bytes out per image; at 100 TB the signature table is 32,000,000×
    // smaller than a 1 MB-image corpus.
    QuerySpec("media_dhash", (s, dir) => {
      import s.implicits._
      val imgs = mediaFeatFixture(s).filter(_.modality == "image")
      graft.multimodal.Multimodal.dHash(imgs).toDF()
        .orderBy(col("media_id"))
    }, () =>
      // Rebuilds every image's 64-bit dHash from the fixture's pixel
      // formulas — grid sampling, gray sums, comparisons, and bit packing
      // all in integer SQL — so the Spark path from real P6 container
      // bytes to signature must agree bit for bit.
      s"""WITH $DHashCteSql
         |SELECT CAST(media_id AS BIGINT) AS media_id,
         |       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |       dhash
         |FROM dh ORDER BY media_id""".stripMargin),

    // Perceptual image near-dup pairs: the banded signature join
    // (complete for hamming ≤ 3 by pigeonhole — shared with SimHash,
    // never all-pairs) over the dHash table. The planted red-bump
    // near-dups (ids 80–99 = ids 0–19 with a uniform +1 brightness
    // shift) land at hamming 0 — dHash compares ADJACENT pixels, so a
    // uniform shift cancels — exactly the duplicate class byte-exact
    // dedup can never see. The oracle replays hashes AND the
    // brute-force pair truth; banded candidates must equal it exactly.
    QuerySpec("media_dhash_dedup", (s, dir) => {
      import s.implicits._
      val imgs = mediaFeatFixture(s).filter(_.modality == "image")
      val sigs = graft.multimodal.Multimodal.dHash(imgs).toDF()
        .select(col("media_id"), col("dhash"))
      Dedup.sigNearDups(sigs, maxHamming = 3,
          idCol = "media_id", sigCol = "dhash")
        .orderBy(col("id_a"), col("id_b"))
    }, () =>
      // Brute-force O(n²) pair truth over the replayed hashes at
      // hamming ≤ 3: the Spark side's banded candidate join (pigeonhole
      // complete for the threshold) must return exactly this set — the 20
      // planted +1-brightness near-dups at hamming 0 included.
      s"""WITH $DHashCteSql
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
         |FROM dh a JOIN dh b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // 64-bit energy-delta AUDIO fingerprint per clip (the Shazam-family
    // shape reduced to one word): real RIFF/PCM bytes → 65 frame
    // energies (Σ|sample|, integer) → 64 adjacent comparisons.
    // Volume-invariant by construction — both sides of every comparison
    // scale together under uniform gain. The oracle replays sample
    // values, frame slicing, and bit packing from the id formulas.
    QuerySpec("media_audio_fp", (s, dir) => {
      graft.multimodal.Multimodal.audioFingerprint(audioFpFixture(s)).toDF()
        .orderBy(col("media_id"))
    }, () =>
      // Rebuilds every clip's energy-delta fingerprint from the fixture's
      // integer PCM formulas — the Spark path from real RIFF/PCM bytes to
      // signature must agree bit for bit.
      s"""WITH $AudioFpCteSql
         |SELECT CAST(media_id AS BIGINT) AS media_id,
         |       CAST(n AS INTEGER) AS n_samples, fp
         |FROM afp ORDER BY media_id""".stripMargin),

    // Audio near-dup pairs over the fingerprints — the same banded
    // signature join as SimHash/dHash (complete for hamming ≤ 3, never
    // all-pairs). The planted double-volume clips (ids 80–99 = ids 0–19
    // at gain 2×) land at hamming 0: the loudness-normalized duplicate
    // class exact byte dedup cannot see. Oracle: brute-force pair truth
    // over the replayed fingerprints.
    QuerySpec("media_audio_fp_dedup", (s, dir) => {
      val sigs = graft.multimodal.Multimodal
        .audioFingerprint(audioFpFixture(s)).toDF()
        .select(col("media_id"), col("fp"))
      Dedup.sigNearDups(sigs, maxHamming = 3,
          idCol = "media_id", sigCol = "fp")
        .orderBy(col("id_a"), col("id_b"))
    }, () =>
      // Brute-force pair truth over the replayed fingerprints at
      // hamming ≤ 3 — the banded Spark join must equal it, planted
      // double-volume clips at hamming 0 included.
      s"""WITH $AudioFpCteSql
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
         |FROM afp a JOIN afp b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3
         |ORDER BY id_a, id_b""".stripMargin)
  )
}
