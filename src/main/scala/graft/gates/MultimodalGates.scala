package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators.{Dedup, Multimodal}

/** Multimodal gates, `mN_*`: image, audio, video and document operators. */
object MultimodalGates extends GateFamily {
  import GateSupport._

  /** Interleaved multimodal sequence assembly: 32-word text chunks and
    * `<media:ord>` placeholders (doc_id % 3 media items per doc, 64
    * tokens each) woven chunk0-media0-chunk1-media1, documents packed
    * whole into 256-token windows (8 shards), elements numbered within
    * each window. Every boundary is closed-form — the oracle replays
    * chunk slicing (t18b's skeleton), the interleave positions, the
    * t9-style recursive greedy pack at budget 256 and the window
    * numbering, so assembly order, token accounting and the pack are
    * one hash. See [[graft.operators.Interleave.assemble]]. */
  gate("m16_interleave",
      """WITH RECURSIVE w AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents),
         d AS (SELECT doc_id, ws,
             greatest(1, CAST(ceil(len(ws) / 32.0) AS BIGINT)) AS n_chunks
           FROM w),
         ch AS (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS i FROM d),
         chunkrows AS (
           SELECT doc_id, i * 2 AS elem_ix, 'text' AS kind,
             array_to_string(list_slice(ws, CAST(i * 32 + 1 AS INT),
               CAST(i * 32 + 32 AS INT)), ' ') AS content,
             CAST(len(list_slice(ws, CAST(i * 32 + 1 AS INT),
               CAST(i * 32 + 32 AS INT))) AS BIGINT) AS tokens
           FROM ch),
         mediarows AS (
           SELECT doc_id, ord * 2 + 1 AS elem_ix, 'media' AS kind,
             '<media:' || ord || '>' AS content, CAST(64 AS BIGINT) AS tokens
           FROM (SELECT doc_id, unnest(range(0, doc_id % 3)) AS ord
                 FROM documents WHERE doc_id % 3 > 0)),
         elements AS (
           SELECT * FROM chunkrows UNION ALL SELECT * FROM mediarows),
         totals AS (SELECT doc_id, sum(tokens) AS tk FROM elements
                    GROUP BY doc_id),
         t AS (SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard, tk,
             CAST(row_number() OVER (PARTITION BY doc_id % 8
               ORDER BY doc_id) AS BIGINT) AS rn
           FROM totals),
         pack AS (
           SELECT shard, rn, doc_id, tk, CAST(0 AS BIGINT) AS bin, tk AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.shard, t.rn, t.doc_id, t.tk,
             CASE WHEN p.fill > 0 AND p.fill + t.tk > 256
                  THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill > 0 AND p.fill + t.tk > 256
                  THEN t.tk ELSE p.fill + t.tk END
           FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1)
         SELECT e.doc_id, p.shard, p.bin,
           CAST(row_number() OVER (PARTITION BY p.shard, p.bin
             ORDER BY e.doc_id, e.elem_ix) - 1 AS BIGINT) AS seq,
           e.elem_ix, e.kind, e.content, e.tokens
         FROM elements e JOIN pack p USING (doc_id)
         ORDER BY e.doc_id, e.elem_ix""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val media = docs.filter(col("doc_id") % 3 > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 3 - 1)).as("ord"))
    graft.operators.Interleave.assemble(
        docs, "doc_id", "text", media, "doc_id", "ord",
        chunkSize = 32, mediaTokens = 64, budget = 256, numShards = 8)
      .orderBy("doc_id", "elem_ix")
  }

  /** [[m16_interleave]] composed with the REAL image decoder: each
    * document carries one media item whose placeholder is the decoded
    * `<image:WxH>` from [[graft.operators.Multimodal.decodeImageMeta]]
    * over the synthetic-but-valid PNG/GIF/BMP/JPEG payloads — the
    * byte-level header parse feeds the sequence assembly, and the
    * oracle replays BOTH: m1's dimension construction arithmetic
    * inside m16's chunk/pack/window skeleton. The multimodal family
    * and the assembly family compose as one hash. */
  gate("m16b_interleave_media",
      // m16's skeleton with the decoded-dimension placeholder: media
      // content = '<image:' || m1's width/height construction || '>'
      """WITH RECURSIVE w AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents),
         d AS (SELECT doc_id, ws,
             greatest(1, CAST(ceil(len(ws) / 32.0) AS BIGINT)) AS n_chunks
           FROM w),
         ch AS (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS i FROM d),
         chunkrows AS (
           SELECT doc_id, i * 2 AS elem_ix, 'text' AS kind,
             array_to_string(list_slice(ws, CAST(i * 32 + 1 AS INT),
               CAST(i * 32 + 32 AS INT)), ' ') AS content,
             CAST(len(list_slice(ws, CAST(i * 32 + 1 AS INT),
               CAST(i * 32 + 32 AS INT))) AS BIGINT) AS tokens
           FROM ch),
         mediarows AS (
           SELECT doc_id, 1 AS elem_ix, 'media' AS kind,
             '<image:' || (doc_id % 640 + 1) || 'x'
               || ((doc_id * 7) % 480 + 1) || '>' AS content,
             CAST(64 AS BIGINT) AS tokens
           FROM documents),
         elements AS (
           SELECT * FROM chunkrows UNION ALL SELECT * FROM mediarows),
         totals AS (SELECT doc_id, sum(tokens) AS tk FROM elements
                    GROUP BY doc_id),
         t AS (SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard, tk,
             CAST(row_number() OVER (PARTITION BY doc_id % 8
               ORDER BY doc_id) AS BIGINT) AS rn
           FROM totals),
         pack AS (
           SELECT shard, rn, doc_id, tk, CAST(0 AS BIGINT) AS bin, tk AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.shard, t.rn, t.doc_id, t.tk,
             CASE WHEN p.fill > 0 AND p.fill + t.tk > 256
                  THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill > 0 AND p.fill + t.tk > 256
                  THEN t.tk ELSE p.fill + t.tk END
           FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1)
         SELECT e.doc_id, p.shard, p.bin,
           CAST(row_number() OVER (PARTITION BY p.shard, p.bin
             ORDER BY e.doc_id, e.elem_ix) - 1 AS BIGINT) AS seq,
           e.elem_ix, e.kind, e.content, e.tokens
         FROM elements e JOIN pack p USING (doc_id)
         ORDER BY e.doc_id, e.elem_ix""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val media = Multimodal
      .decodeImageMeta(s.read.parquet(Fixtures.mediaDocs(s, dir)))
      .select(col("doc_id"), lit(0L).as("ord"),
        concat(lit("<image:"), col("media_meta.width").cast("string"),
          lit("x"), col("media_meta.height").cast("string"), lit(">"))
          .as("ph"))
    graft.operators.Interleave.assemble(
        docs, "doc_id", "text", media, "doc_id", "ord",
        chunkSize = 32, mediaTokens = 64, budget = 256, numShards = 8,
        placeholderCol = "ph")
      .orderBy("doc_id", "elem_ix")
  }

  /** Aspect-ratio bucketing for vision training (the SDXL/NovelAI batch
    * recipe: images batch with SAME-shape peers so a batch shares one
    * crop geometry): REAL decoders ([[graft.operators.Multimodal
    * .decodeImageMeta]] — PNG/GIF/BMP/JPEG headers) surface width and
    * height, integer cross-multiplication assigns one of five aspect
    * buckets (no float ratio anywhere, so the oracle replays the rule
    * exactly), and [[graft.operators.Pack.packGreedyBy]] packs each
    * (bucket, id%4 shard) stream into ~1 Mpx batches in id order. The
    * oracle recomputes w/h from the media fixture's closed-form
    * dimensions and replays the greedy recurrence per group — decode,
    * bucket rule and bin boundaries are all one hash. */
  gate("m17_aspect_bucket",
      // chunk slicing (t18b skeleton) + interleave positions + the
      // t9-style recursive greedy pack at 256 + window numbering
      // replays decode (closed-form fixture dims), the integer
      // cross-multiplication bucket rule and the per-(bucket, shard)
      // greedy recurrence — the t9 recursive-CTE recipe over explicit
      // group keys
      """WITH RECURSIVE m AS (
           SELECT doc_id,
             CAST(doc_id % 640 + 1 AS BIGINT) AS w,
             CAST((doc_id * 7) % 480 + 1 AS BIGINT) AS h
           FROM documents),
         b AS (SELECT doc_id, w, h,
             CASE WHEN w*3 < h*2 THEN 'tall'
                  WHEN w*10 < h*9 THEN 'portrait'
                  WHEN w*10 <= h*11 THEN 'square'
                  WHEN w*2 < h*3 THEN 'landscape'
                  ELSE 'wide' END AS bucket,
             CAST(doc_id % 4 AS BIGINT) AS shard,
             w * h AS px
           FROM m),
         t AS (SELECT doc_id, bucket, shard, px,
             CAST(row_number() OVER (PARTITION BY bucket, shard
               ORDER BY doc_id) AS BIGINT) AS rn
           FROM b),
         pack AS (
           SELECT bucket, shard, rn, doc_id, px, CAST(0 AS BIGINT) AS bin,
             px AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.bucket, t.shard, t.rn, t.doc_id, t.px,
             CASE WHEN p.fill > 0 AND p.fill + t.px > 1000000
                  THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill > 0 AND p.fill + t.px > 1000000
                  THEN t.px ELSE p.fill + t.px END
           FROM pack p JOIN t ON t.bucket = p.bucket AND t.shard = p.shard
             AND t.rn = p.rn + 1)
         SELECT doc_id, bucket, shard, bin, px AS tokens FROM pack
         ORDER BY doc_id""") { (s, dir) =>
    val meta = Multimodal
      .decodeImageMeta(s.read.parquet(Fixtures.mediaDocs(s, dir)))
      .select(col("doc_id"), col("media_meta.width").cast("long").as("w"),
        col("media_meta.height").cast("long").as("h"))
    val bucketed = meta
      .withColumn("bucket",
        when(col("w") * 3 < col("h") * 2, "tall")
          .when(col("w") * 10 < col("h") * 9, "portrait")
          .when(col("w") * 10 <= col("h") * 11, "square")
          .when(col("w") * 2 < col("h") * 3, "landscape")
          .otherwise("wide"))
      .withColumn("shard", col("doc_id") % 4)
      .withColumn("px", col("w") * col("h"))
    graft.operators.Pack.packGreedyBy(bucketed, "doc_id", "px",
        budget = 1000000L, groupCols = Seq("bucket", "shard"))
      .orderBy("doc_id")
  }

  /** Real header decode over synthetic-but-valid PNG/GIF/BMP/JPEG payloads:
    * the oracle reproduces the fixture's construction arithmetic, so the
    * hash match proves the byte-level parse inverts the construction. */
  gate("m1_multimodal",
      """SELECT doc_id,
         CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 33 WHEN 1 THEN 13
              WHEN 2 THEN 54 ELSE 21 END AS BIGINT) AS byte_len,
         CAST(doc_id % 640 + 1 AS INT) AS width,
         CAST((doc_id * 7) % 480 + 1 AS INT) AS height,
         CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 4 ELSE 3 END AS INT) AS channels,
         CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
              WHEN 2 THEN 'bmp' ELSE 'jpeg' END AS format
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    Multimodal.decodeImageMeta(s.read.parquet(Fixtures.mediaDocs(s, dir)))
      .select(col("doc_id"), length(col("payload")).cast("long").as("byte_len"),
        col("media_meta.width"), col("media_meta.height"),
        col("media_meta.channels"), col("media_meta.format"))
      .orderBy("doc_id")
  }

  /** FULL PNG pixel decode (inflate + all-filter unfilter + per-channel
    * stats); the oracle recomputes mean/std from the fixture's closed-form
    * pixel arithmetic over a generated (x, y, channel) grid — the decode
    * must invert deflate AND all five scanline filters exactly to match. */
  /** Shared gate shape for the pixel decoders (m4/m6/m7): per-channel
    * stats posexploded to (doc_id, width, height, channel, mean, std),
    * rounded and ordered — ONE definition so the three gates cannot
    * silently diverge. */
  private def pixelStatsGate(decoded: DataFrame): DataFrame =
    decoded
      .select(col("doc_id"), col("pixel_stats.width"), col("pixel_stats.height"),
        posexplode(arrays_zip(col("pixel_stats.mean"), col("pixel_stats.std"))))
      .select(col("doc_id"), col("width"), col("height"),
        col("pos").as("channel"), round(col("col.mean"), 6).as("mean"),
        round(col("col.std"), 6).as("std"))
      .orderBy("doc_id", "channel")

  /** Decode→resize: 4×4 nearest-neighbor thumbnails of the synthetic
    * PNGs (docs < 20), one row per output pixel. Pure-integer source
    * indexing means the oracle reproduces EVERY pixel value from the
    * closed-form pattern and the dimension derivation alone. */
  gate("m8_resize",
      // recompute the decoded stats from the fixture's closed-form pixel
      // value (seed + x*3 + y*5 + c*11) mod 256 over a generated grid
      // every thumbnail pixel replayed: position → (xo, yo, c) → integer
      // NN source index → closed-form pattern value
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS width,
             CAST(doc_id % 11 + 4 AS INT) AS height,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS INT) AS nc
           FROM documents WHERE doc_id < 20),
         px AS (SELECT d.doc_id, d.width, d.height, d.nc,
               CAST(p.p AS BIGINT) AS pos,
               (p.p // d.nc) % 4 AS xo, p.p // (4 * d.nc) AS yo, p.p % d.nc AS c
             FROM d, UNNEST(range(0, 16 * d.nc)) AS p(p))
         SELECT doc_id, width, height, nc AS channels, pos,
           CAST((doc_id + ((xo * width) // 4) * 3 + ((yo * height) // 4) * 5
             + c * 11) % 256 AS BIGINT) AS v
         FROM px ORDER BY doc_id, pos""") { (s, dir) =>
    Multimodal.decodePngResize(
        s.read.parquet(Fixtures.pngPixelDocs(s, dir)).filter(col("doc_id") < 20),
        outW = 4, outH = 4)
      .filter(col("resized.format") === "png")
      .select(col("doc_id"), col("resized.width").as("width"),
        col("resized.height").as("height"),
        col("resized.channels").as("channels"),
        posexplode(col("resized.pixels")).as(Seq("pos", "v")))
      .select(col("doc_id"), col("width"), col("height"), col("channels"),
        col("pos").cast("long").as("pos"), col("v").cast("long").as("v"))
      .orderBy("doc_id", "pos")
  }

  /** Perceptual image dedup key: dHash over every synthetic PNG (real
    * decode → 9×8 thumbnail → gradient bits) plus the duplicate-group
    * size per hash. The oracle replays the ENTIRE pipeline in closed
    * form — resize index arithmetic, ITU-601 grayscale, bit packing —
    * so a one-bit drift anywhere in decode/resize/hash goes red.
    * Same-dimension images collapse into groups by construction (the
    * gradient field is brightness-invariant), giving real dup clusters. */
  gate("m11_image_dhash",
      // closed-form replay of decode → 9×8 NN thumbnail → ITU-601 gray →
      // gradient bits; same construction arithmetic as m8's oracle
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w,
             CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         g AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             (299 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5) % 256)
            + 587 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 11) % 256)
            + 114 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 22) % 256)) // 1000
             AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
               ELSE 0 END) AS BIGINT) AS hash_hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x)
               ELSE 0 END) AS BIGINT) AS hash_lo
           FROM b GROUP BY doc_id),
         grp AS (SELECT hash_hi, hash_lo,
             CAST(COUNT(*) AS BIGINT) AS group_size
           FROM hsh GROUP BY hash_hi, hash_lo)
         SELECT hsh.doc_id, hsh.hash_hi, hsh.hash_lo, grp.group_size
         FROM hsh JOIN grp USING (hash_hi, hash_lo)
         ORDER BY hsh.doc_id""") { (s, dir) =>
    val h = Multimodal.decodePngDHash(
        s.read.parquet(Fixtures.pngPixelDocs(s, dir)))
      .filter(col("dhash.format") === "png")
      .select(col("doc_id"), col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    val groups = h.groupBy("hash_hi", "hash_lo")
      .agg(count(lit(1)).as("group_size"))
    h.join(groups, Seq("hash_hi", "hash_lo"))
      .select("doc_id", "hash_hi", "hash_lo", "group_size")
      .orderBy("doc_id")
  }

  /** The bench scale fixture's replica index (`doc_id div 1e8` — replica
    * ids shift by 1e8·r, organic fixture ids are far below 1e8, so this
    * is IDENTICALLY ZERO on the verify corpus) times an odd 64-bit
    * constant. XORed into a perceptual signature it keeps every
    * cross-replica salt pair ≥ 25 Hamming bits apart (verified), so the
    * 10× leg's duplicate groups stay replica-disjoint — a verbatim
    * replica corpus would merge same-dimension hash groups across
    * replicas and grow the PAIR set quadratically by construction,
    * measuring an artifact instead of the band join's scale-out (the
    * same reasoning as the scaled documents' per-replica token
    * suffixes, Bench.buildScaledDir). Identity at 1×: gates and oracles
    * are byte-identical on the verify corpus. */
  private def replicaSalt(id: Column): Column = {
    // floor of the double quotient: exact while ids stay below 2^52,
    // and bench replica ids top out near 1e9. xxhash64 (not an odd-
    // constant multiply, which ANSI mode rejects as long overflow)
    // spreads the salts; replica 0 pins to literal zero so the 1×
    // identity is by construction, not by a hash coincidence.
    val r = floor(id.cast("long") / lit(100000000L)).cast("long")
    when(r === 0L, lit(0L)).otherwise(xxhash64(r))
  }

  /** Perceptual image near-dup JOIN, collapse-first (the production
    * recipe): exact-duplicate signatures collapse to ONE representative
    * row (min doc_id) + group size BEFORE the banded join, so the
    * [[graft.operators.Dedup.hashPairs64]] (4×16 pigeonhole) runs over
    * DISTINCT signatures — a viral image repeated 10M times costs one
    * signature row, bucket sizes are bounded by signature DIVERSITY
    * (not corpus size), and the pair output is near-dup CLASS links
    * with both member counts attached. The earlier join-over-raw-rows
    * shape measured super-linear at 10× (pair sets grow quadratically
    * in duplicate-group size — by definition of near-dup density, not
    * an operator bug); collapsing first is how the same machine stays
    * linear at 100 TB. The oracle recomputes every hash from the
    * closed-form synthetic pixels and replays collapse + brute-force
    * Hamming ≤ 3 over the distinct signatures. Signatures carry the
    * (1×-identity) [[replicaSalt]] so the 10× slope measures
    * replica-disjoint linear growth. */
  gate("m14_image_dedup_join",
      // m11's closed-form hashes -> BRUTE-FORCE Hamming<=3 pairs: the
      // 4x16 pigeonhole banding must lose nothing and duplicate nothing
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w,
             CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         g AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             (299 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5) % 256)
            + 587 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 11) % 256)
            + 114 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 22) % 256)) // 1000
             AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
               ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x)
               ELSE 0 END) AS BIGINT) AS lo
           FROM b GROUP BY doc_id),
         sig AS (SELECT hi, lo, MIN(doc_id) AS rep_id,
             CAST(COUNT(*) AS BIGINT) AS group_size
           FROM hsh GROUP BY hi, lo)
         SELECT a.rep_id AS id_a, c.rep_id AS id_b,
           CAST(bit_count(xor(a.hi, c.hi))
              + bit_count(xor(a.lo, c.lo)) AS INT) AS hamming,
           a.group_size AS size_a, c.group_size AS size_b
         FROM sig a JOIN sig c ON a.rep_id < c.rep_id
         WHERE bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo)) <= 3
         ORDER BY id_a, id_b""") { (s, dir) =>
    val h = Multimodal.decodePngDHash(
        s.read.parquet(Fixtures.pngPixelDocs(s, dir)))
      .filter(col("dhash.format") === "png")
      // bitwise packing: shiftleft|or cannot overflow (an arithmetic
      // hi*2^32 would raise under ANSI once the hash's sign bit is set)
      .select(col("doc_id"),
        shiftleft(col("dhash.hash_hi").cast("long"), 32)
          .bitwiseOR(col("dhash.hash_lo").cast("long"))
          .bitwiseXOR(replicaSalt(col("doc_id"))).as("h64"))
    val sig = h.groupBy("h64").agg(min("doc_id").as("rep_id"),
      count(lit(1)).as("group_size"))
    graft.operators.Dedup.hashPairs64(sig, "rep_id", "h64", maxHamming = 3)
      .join(sig.select(col("rep_id").as("id_a"),
        col("group_size").as("size_a")), "id_a")
      .join(sig.select(col("rep_id").as("id_b"),
        col("group_size").as("size_b")), "id_b")
      .select("id_a", "id_b", "hamming", "size_a", "size_b")
      .orderBy("id_a", "id_b")
  }

  /** Audio near-dup JOIN: the m12 gradient fingerprints through the same
    * collapse-first + generalized band join as m14 — one banding machine
    * serves text (d3), image (m14) and audio signatures. The oracle
    * recomputes every fingerprint from the closed-form PCM and replays
    * collapse + brute-force Hamming ≤ 2 over distinct signatures.
    * [[replicaSalt]] as in m14. */
  gate("m15_audio_dedup_join",
      // m12's closed-form fingerprints -> brute-force Hamming<=2 pairs
      """WITH d AS (SELECT doc_id, doc_id % 200 + 50 AS n FROM documents),
         s AS (SELECT doc_id, j,
             CAST(((doc_id * 131 + (j * 3) * 31) % 65536) - 32768 AS BIGINT) AS v
           FROM d, UNNEST(range(0, (n + 2) // 3)) AS t(j)),
         b AS (SELECT a.doc_id, a.j,
             CASE WHEN a.v < c.v THEN 1 ELSE 0 END AS bit
           FROM s a JOIN s c ON a.doc_id = c.doc_id AND c.j = a.j + 1
           WHERE a.j < 64),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN j >= 32
               THEN CAST(bit AS BIGINT) << (j - 32) ELSE 0 END)
               AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN j < 32
               THEN CAST(bit AS BIGINT) << j ELSE 0 END)
               AS BIGINT) AS lo
           FROM b GROUP BY doc_id),
         sig AS (SELECT hi, lo, MIN(doc_id) AS rep_id,
             CAST(COUNT(*) AS BIGINT) AS group_size
           FROM hsh GROUP BY hi, lo)
         SELECT a.rep_id AS id_a, c.rep_id AS id_b,
           CAST(bit_count(xor(a.hi, c.hi))
              + bit_count(xor(a.lo, c.lo)) AS INT) AS hamming,
           a.group_size AS size_a, c.group_size AS size_b
         FROM sig a JOIN sig c ON a.rep_id < c.rep_id
         WHERE bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo)) <= 2
         ORDER BY id_a, id_b""") { (s, dir) =>
    val h = Multimodal.decodeWavFingerprint(
        s.read.parquet(Fixtures.audioPcmDocs(s, dir)), k = 3)
      .filter(col("afp.format") === "wav")
      .select(col("doc_id"),
        shiftleft(col("afp.hash_hi").cast("long"), 32)
          .bitwiseOR(col("afp.hash_lo").cast("long"))
          .bitwiseXOR(replicaSalt(col("doc_id"))).as("h64"))
    val sig = h.groupBy("h64").agg(min("doc_id").as("rep_id"),
      count(lit(1)).as("group_size"))
    graft.operators.Dedup.hashPairs64(sig, "rep_id", "h64", maxHamming = 2)
      .join(sig.select(col("rep_id").as("id_a"),
        col("group_size").as("size_a")), "id_a")
      .join(sig.select(col("rep_id").as("id_b"),
        col("group_size").as("size_b")), "id_b")
      .select("id_a", "id_b", "hamming", "size_a", "size_b")
      .orderBy("id_a", "id_b")
  }

  gate("m4_pixels",
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS width,
             CAST(doc_id % 11 + 4 AS INT) AS height,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS INT) AS nc
           FROM documents),
         px AS (SELECT d.doc_id, d.width, d.height, c.c AS channel,
               CAST((d.doc_id + x.x*3 + y.y*5 + c.c*11) % 256 AS BIGINT) AS v
             FROM d,
               generate_series(0, 15) AS x(x),
               generate_series(0, 13) AS y(y),
               generate_series(0, 3) AS c(c)
             WHERE x.x < d.width AND y.y < d.height AND c.c < d.nc)
         SELECT doc_id, width, height, CAST(channel AS INT) AS channel,
           CAST(SUM(v) AS DOUBLE) / (width * height) AS mean,
           sqrt(GREATEST(
             CAST(SUM(v*v) AS DOUBLE) / (width * height) -
             (CAST(SUM(v) AS DOUBLE) / (width * height)) *
             (CAST(SUM(v) AS DOUBLE) / (width * height)), 0)) AS std
         FROM px GROUP BY doc_id, width, height, channel
         ORDER BY doc_id, channel""") { (s, dir) =>
    Multimodal.decodePngPixels(s.read.parquet(Fixtures.pngPixelDocs(s, dir)))
      .select(col("doc_id"), col("pixel_stats.width"), col("pixel_stats.height"),
        posexplode(arrays_zip(col("pixel_stats.mean"), col("pixel_stats.std"))))
      .select(col("doc_id"), col("width"), col("height"),
        col("pos").as("channel"), col("col.mean").as("mean"),
        col("col.std").as("std"))
      .orderBy("doc_id", "channel")
  }

  /** FULL baseline-JPEG decode (real Huffman entropy decode + IDCT, JDK
    * only): the fixture encodes flat DC-only blocks with an all-8s quant
    * table, so the lossy pipeline is exact by construction and the oracle
    * rebuilds the decoded per-channel stats from the closed-form block
    * values (odd docs are 4:4:4 color with flat chroma → R=G=B=Y). */
  gate("m6_jpeg_pixels",
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS width,
             CAST(doc_id % 11 + 4 AS INT) AS height,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT) AS nc
           FROM documents),
         px AS (SELECT d.doc_id, d.width, d.height, c.c AS channel,
               CAST(16 + (d.doc_id + (x.x // 8) * 3 + (y.y // 8) * 5) % 224 AS BIGINT) AS v
             FROM d,
               generate_series(0, 15) AS x(x),
               generate_series(0, 13) AS y(y),
               generate_series(0, 2) AS c(c)
             WHERE x.x < d.width AND y.y < d.height AND c.c < d.nc)
         SELECT doc_id, width, height, CAST(channel AS INT) AS channel,
           round(CAST(SUM(v) AS DOUBLE) / (width * height), 6) AS mean,
           round(sqrt(GREATEST(
             CAST(SUM(v*v) AS DOUBLE) / (width * height) -
             (CAST(SUM(v) AS DOUBLE) / (width * height)) *
             (CAST(SUM(v) AS DOUBLE) / (width * height)), 0)), 6) AS std
         FROM px GROUP BY doc_id, width, height, channel
         ORDER BY doc_id, channel""") { (s, dir) =>
    pixelStatsGate(
      Multimodal.decodeJpegPixels(s.read.parquet(Fixtures.jpegPixelDocs(s, dir))))
  }

  /** 4:2:0 chroma-subsampled decode — the layout nearly every real-world
    * JPEG uses (T.81 A.2.3 MCU interleave, per-component subsampled
    * planes, nearest-neighbor upsampling). The fixture's flat-chroma
    * construction keeps the decode exact, so the oracle is the same
    * closed form as m6 with three channels and larger block-spanning
    * dims (up to 26×22 — multi-MCU images with cropped edge MCUs). */
  gate("m7_jpeg_420",
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 23 + 4 AS INT) AS width,
             CAST(doc_id % 19 + 4 AS INT) AS height
           FROM documents),
         px AS (SELECT d.doc_id, d.width, d.height, c.c AS channel,
               CAST(16 + (d.doc_id + (x.x // 8) * 3 + (y.y // 8) * 5) % 224 AS BIGINT) AS v
             FROM d,
               generate_series(0, 25) AS x(x),
               generate_series(0, 21) AS y(y),
               generate_series(0, 2) AS c(c)
             WHERE x.x < d.width AND y.y < d.height)
         SELECT doc_id, width, height, CAST(channel AS INT) AS channel,
           round(CAST(SUM(v) AS DOUBLE) / (width * height), 6) AS mean,
           round(sqrt(GREATEST(
             CAST(SUM(v*v) AS DOUBLE) / (width * height) -
             (CAST(SUM(v) AS DOUBLE) / (width * height)) *
             (CAST(SUM(v) AS DOUBLE) / (width * height)), 0)), 6) AS std
         FROM px GROUP BY doc_id, width, height, channel
         ORDER BY doc_id, channel""") { (s, dir) =>
    pixelStatsGate(
      Multimodal.decodeJpegPixels(s.read.parquet(Fixtures.jpeg420PixelDocs(s, dir))))
  }

  /** Real RIFF/WAVE chunk-walk decode; oracle verifies the parse inverts
    * the fixture's construction arithmetic (same pattern as m1). */
  /** FULL audio payload decode: every PCM16 sample folded into exact
    * integer sums; the oracle reproduces mean/RMS from the fixture's
    * closed-form sample arithmetic (same pattern as m4's pixel stats). */
  gate("m5_audio_pcm",
      """WITH d AS (SELECT doc_id, doc_id % 200 + 50 AS n FROM documents),
         s AS (SELECT doc_id, ((doc_id * 131 + i * 31) % 65536) - 32768 AS v
               FROM d, UNNEST(range(0, n)) AS t(i))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_amp,
           SQRT(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)) AS rms
         FROM s GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
    Multimodal.decodeWavPcmStats(s.read.parquet(Fixtures.audioPcmDocs(s, dir)))
      .select(col("doc_id"), col("pcm_stats.n_samples"),
        col("pcm_stats.mean_amp"), col("pcm_stats.rms"))
      .orderBy("doc_id")
  }

  /** Sample-decimation (every 7th PCM sample) on the audio fixture:
    * output j is input j·7 by contract, so the oracle replays every
    * decimated value from the closed-form sample arithmetic. */
  gate("m9_audio_decimate",
      // decimated index j maps to source sample j*7 of the closed form
      """WITH d AS (SELECT doc_id, doc_id % 200 + 50 AS n FROM documents
                    WHERE doc_id < 20),
         s AS (SELECT doc_id, CAST(n AS BIGINT) AS n_in, CAST(j AS BIGINT) AS j,
               CAST(((doc_id * 131 + (j * 7) * 31) % 65536) - 32768 AS BIGINT) AS v
               FROM d, UNNEST(range(0, (n + 6) // 7)) AS t(j))
         SELECT doc_id, n_in, j, v FROM s ORDER BY doc_id, j""") { (s, dir) =>
    Multimodal.decodeWavDecimate(
        s.read.parquet(Fixtures.audioPcmDocs(s, dir)).filter(col("doc_id") < 20),
        k = 7)
      .filter(col("decimated.format") === "wav")
      .select(col("doc_id"), col("decimated.n_in").as("n_in"),
        posexplode(col("decimated.samples")).as(Seq("j", "v")))
      .select(col("doc_id"), col("n_in"), col("j").cast("long").as("j"),
        col("v").cast("long").as("v"))
      .orderBy("doc_id", "j")
  }

  /** Audio near-dup key: gradient fingerprint over k=3-decimated PCM,
    * with duplicate-group sizes — the m11 dHash's audio sibling, oracle
    * replayed in closed form from the synthetic sample formula. */
  gate("m12_audio_fingerprint",
      """WITH d AS (SELECT doc_id, doc_id % 200 + 50 AS n FROM documents),
         s AS (SELECT doc_id, CAST(n AS BIGINT) AS n_in, j,
             CAST(((doc_id * 131 + (j * 3) * 31) % 65536) - 32768 AS BIGINT) AS v
           FROM d, UNNEST(range(0, (n + 2) // 3)) AS t(j)),
         b AS (SELECT a.doc_id, a.n_in, a.j,
             CASE WHEN a.v < c.v THEN 1 ELSE 0 END AS bit
           FROM s a JOIN s c ON a.doc_id = c.doc_id AND c.j = a.j + 1
           WHERE a.j < 64),
         hsh AS (SELECT doc_id, CAST(max(n_in) AS BIGINT) AS n_in,
             CAST(SUM(CASE WHEN j >= 32
               THEN CAST(bit AS BIGINT) << (j - 32) ELSE 0 END)
               AS BIGINT) AS hash_hi,
             CAST(SUM(CASE WHEN j < 32
               THEN CAST(bit AS BIGINT) << j ELSE 0 END)
               AS BIGINT) AS hash_lo
           FROM b GROUP BY doc_id),
         grp AS (SELECT hash_hi, hash_lo,
             CAST(COUNT(*) AS BIGINT) AS group_size
           FROM hsh GROUP BY hash_hi, hash_lo)
         SELECT h.doc_id, h.n_in, h.hash_hi, h.hash_lo, g.group_size
         FROM hsh h JOIN grp g USING (hash_hi, hash_lo)
         ORDER BY h.doc_id""") { (s, dir) =>
    val h = Multimodal.decodeWavFingerprint(
        s.read.parquet(Fixtures.audioPcmDocs(s, dir)), k = 3)
      .filter(col("afp.format") === "wav")
      .select(col("doc_id"), col("afp.n_in").as("n_in"),
        col("afp.hash_hi").as("hash_hi"), col("afp.hash_lo").as("hash_lo"))
    val groups = h.groupBy("hash_hi", "hash_lo")
      .agg(count(lit(1)).as("group_size"))
    h.join(groups, Seq("hash_hi", "hash_lo"))
      .select("doc_id", "n_in", "hash_hi", "hash_lo", "group_size")
      .orderBy("doc_id")
  }

  /** Video frame sampling from the container's own sample table: every
    * 3rd frame's index, timing and content checksum, sliced out of mdat
    * via stts/stsz/stco — the oracle reproduces all of it from the
    * fixture's closed-form derivation. */
  gate("m10_frame_sample",
      // frame timing = ticks·1000 div movie timescale; checksum = the
      // closed-form byte sum — both pure functions of doc_id
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 30 + 5 AS INT) AS nf,
             CAST(doc_id % 50 + 20 AS INT) AS fs,
             1000 * (doc_id % 3 + 1) AS tsc, 40 * (doc_id % 2 + 1) AS delta
           FROM documents WHERE doc_id < 20),
         fr AS (SELECT d.doc_id, d.fs, d.tsc, d.delta,
               CAST(f.f AS INT) AS frame_idx
             FROM d, UNNEST(range(0, d.nf)) f(f) WHERE f.f % 3 = 0)
         SELECT doc_id, frame_idx,
           CAST((frame_idx * delta * 1000) // tsc AS BIGINT) AS ts_ms,
           fs AS size,
           CAST((SELECT SUM((fr.doc_id + fr.frame_idx * 31 + j.j * 7) % 256)
             FROM UNNEST(range(0, fr.fs)) j(j)) AS BIGINT) AS byte_sum
         FROM fr ORDER BY doc_id, frame_idx""") { (s, dir) =>
    Multimodal.decodeMp4FrameSample(
        s.read.parquet(Fixtures.videoSampleDocs(s, dir)).filter(col("doc_id") < 20),
        k = 3)
      .filter(col("frame_sample.format") === "mp4")
      .select(col("doc_id"), explode(col("frame_sample.frames")).as("__f"))
      .select(col("doc_id"), col("__f.frame_idx").as("frame_idx"),
        col("__f.ts_ms").as("ts_ms"), col("__f.size").as("size"),
        col("__f.byte_sum").as("byte_sum"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Video near-dup key from container STRUCTURE: md5 over the full
    * (frame_idx, ts_ms, size) sequence — identical timing+size layouts
    * collapse into genuine duplicate groups (content checksums then
    * confirm; the structural key is the cheap first pass). Every frame
    * (k=1), decoded from the real sample table; oracle replays the
    * sequence and the hash in closed form. */
  gate("m13_video_fingerprint",
      """WITH d AS (SELECT doc_id, CAST(doc_id % 30 + 5 AS INT) AS nf,
             CAST(doc_id % 50 + 20 AS INT) AS fs,
             1000 * (doc_id % 3 + 1) AS tsc, 40 * (doc_id % 2 + 1) AS delta
           FROM documents),
         fr AS (SELECT doc_id, CAST(f.f AS BIGINT) AS fi,
             (f.f * delta * 1000) // tsc AS ts_ms, fs
           FROM d, UNNEST(range(0, nf)) f(f)),
         seqs AS (SELECT doc_id,
             string_agg(CAST(fi AS VARCHAR) || ':' ||
               CAST(ts_ms AS VARCHAR) || ':' || CAST(fs AS VARCHAR),
               ',' ORDER BY fi) AS sig
           FROM fr GROUP BY doc_id),
         h AS (SELECT doc_id, md5(sig) AS vfp FROM seqs),
         g AS (SELECT vfp, CAST(COUNT(*) AS BIGINT) AS group_size
           FROM h GROUP BY vfp)
         SELECT h.doc_id, h.vfp, g.group_size FROM h JOIN g USING (vfp)
         ORDER BY h.doc_id""") { (s, dir) =>
    val h = Multimodal.decodeMp4FrameSample(
        s.read.parquet(Fixtures.videoSampleDocs(s, dir)), k = 1)
      .filter(col("frame_sample.format") === "mp4")
      .select(col("doc_id"),
        md5(concat_ws(",", transform(col("frame_sample.frames"),
          f => concat_ws(":", f.getField("frame_idx"), f.getField("ts_ms"),
            f.getField("size"))))).as("vfp"))
    val groups = h.groupBy("vfp").agg(count(lit(1)).as("group_size"))
    h.join(groups, Seq("vfp"))
      .select("doc_id", "vfp", "group_size")
      .orderBy("doc_id")
  }

  /** Shot-boundary detection over the container's frames
    * ([[graft.operators.Multimodal.mp4ShotBoundaries]]): the
    * shot-structured fixture's cross-cut byte jumps must cut exactly
    * where the within-shot drift must not — the oracle recomputes every
    * frame byte from the builder's closed form, replays the integer
    * mean-abs-diff rule and the cut set. */
  gate("m18_shot_detect",
      // every frame byte recomputed from the builder's closed form, the
      // integer mean-abs-diff rule applied per consecutive pair, frame 0
      // unioned in as every doc's shot 0
      """WITH d AS (SELECT doc_id,
             CAST(18 + (doc_id % 5) * 3 AS BIGINT) AS nf,
             CAST(40 + (doc_id % 7) * 4 AS BIGINT) AS fs
           FROM documents),
         pairs AS (SELECT doc_id, fs, CAST(t.f AS BIGINT) AS f
           FROM d, UNNEST(range(1, nf)) AS t(f)),
         db AS (SELECT doc_id, fs, f,
             abs(
               (((doc_id * 7 + ((f - 1) // 6 + 1) * 101 + 13) % 251)
                 + (f - 1) * 31 + u.j * 7) % 256
               - (((doc_id * 7 + (f // 6 + 1) * 101 + 13) % 251)
                 + f * 31 + u.j * 7) % 256) AS ad
           FROM pairs, UNNEST(range(0, fs)) AS u(j)),
         sums AS (SELECT doc_id, fs, f, CAST(sum(ad) AS BIGINT) AS s
           FROM db GROUP BY doc_id, fs, f),
         cuts AS (SELECT doc_id, f FROM sums WHERE s * 100 >= 8000 * fs
           UNION ALL SELECT doc_id, CAST(0 AS BIGINT) FROM d),
         shots AS (SELECT doc_id, f AS start_frame,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY f) - 1
               AS INT) AS shot_ix
           FROM cuts)
         SELECT doc_id, shot_ix, CAST(start_frame AS INT) AS start_frame,
           CAST(start_frame * 40 AS BIGINT) AS start_ms
         FROM shots ORDER BY doc_id, shot_ix""") { (s, dir) =>
    Multimodal.decodeMp4Shots(
        s.read.parquet(Fixtures.videoShotDocs(s, dir)), threshold100 = 8000)
      .filter(col("shot_sample.format") === "mp4")
      .select(col("doc_id"), explode(col("shot_sample.shots")).as("shot"))
      .select(col("doc_id"), col("shot.shot_ix").as("shot_ix"),
        col("shot.start_frame").as("start_frame"),
        col("shot.start_ms").as("start_ms"))
      .orderBy("doc_id", "shot_ix")
  }

  /** Silence segmentation ([[graft.operators.Multimodal.wavSilenceSegments]]):
    * two planted 80-sample quiet runs per doc must cut, voiced segments
    * trim to their voiced extent, and any ACCIDENTAL quiet runs the m5
    * sample formula produces fall under the same replayed rule — the
    * oracle recomputes every sample, finds the ≥50 quiet islands, and
    * groups voiced samples by pauses-before. */
  gate("m19_audio_vad",
      // every sample recomputed, quiet islands of >= minRun found by the
      // gaps-and-islands grouping, voiced samples grouped by pauses-before
      """WITH d AS (SELECT doc_id,
             CAST(400 + doc_id % 200 AS BIGINT) AS n FROM documents),
         s AS (SELECT doc_id, t.i AS i,
             CASE WHEN (t.i >= n // 4 AND t.i < n // 4 + 80)
                 OR (t.i >= (5 * n) // 8 AND t.i < (5 * n) // 8 + 80)
               THEN (doc_id + t.i) % 7 - 3
               ELSE ((doc_id * 131 + t.i * 31) % 65536) - 32768 END AS v
           FROM d, UNNEST(range(0, n)) AS t(i)),
         q AS (SELECT doc_id, i,
             CASE WHEN abs(v) < 100 THEN 1 ELSE 0 END AS quiet FROM s),
         runs AS (SELECT doc_id, min(i) AS rs, max(i) AS re
           FROM (SELECT doc_id, i,
               i - CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i)
                 AS BIGINT) AS grp
             FROM q WHERE quiet = 1) x
           GROUP BY doc_id, grp HAVING count(*) >= 50),
         voiced AS (SELECT doc_id, i FROM q WHERE quiet = 0),
         pc AS (SELECT v.doc_id, v.i,
             CAST(count(r.re) AS BIGINT) AS g
           FROM voiced v LEFT JOIN runs r
             ON r.doc_id = v.doc_id AND r.re < v.i
           GROUP BY v.doc_id, v.i),
         segs AS (SELECT doc_id, g,
             CAST(min(i) AS BIGINT) AS start_sample,
             CAST(max(i) + 1 AS BIGINT) AS end_sample
           FROM pc GROUP BY doc_id, g)
         SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY start_sample) - 1 AS INT) AS seg_ix,
           start_sample, end_sample
         FROM segs ORDER BY doc_id, seg_ix""") { (s, dir) =>
    Multimodal.decodeWavSegments(
        s.read.parquet(Fixtures.audioVadDocs(s, dir)),
        ampThreshold = 100, minRun = 50)
      .filter(col("vad.format") === "wav")
      .select(col("doc_id"), explode(col("vad.segments")).as("seg"))
      .select(col("doc_id"), col("seg.seg_ix").as("seg_ix"),
        col("seg.start_sample").as("start_sample"),
        col("seg.end_sample").as("end_sample"))
      .orderBy("doc_id", "seg_ix")
  }

  /** PDF embedded-image extraction (the r17 verdict's #4 ask): walk each
    * planted PDF's XObject streams, inflate the FlateDecode DeviceRGB
    * image and hand the DCTDecode payload to the from-scratch baseline
    * JPEG decoder, then dHash the ACTUAL samples of both — the oracle
    * replays dictionary parse, the flate closed-form pixels, the JPEG's
    * exact flat-block decode, the 9×8 nearest resize, ITU-601 gray and
    * the bit packing, so a drift anywhere in the PDF walk OR either
    * codec path goes red. See
    * [[graft.operators.Multimodal.decodePdfImages]]. */
  gate("m20_pdf_images",
      // both embedded images' dHashes replayed in closed form: the flate
      // leg from the raw-sample formula (m11's machinery), the DCT leg
      // from the JPEG's exact flat-block decode (m6's closed form, R=G=B
      // so gray == the block value)
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w1,
             CAST(doc_id % 11 + 4 AS INT) AS h1,
             CAST(doc_id % 23 + 4 AS INT) AS w2,
             CAST(doc_id % 19 + 4 AS INT) AS h2
           FROM documents),
         g AS (
           SELECT doc_id, 0 AS image_ix, w1 AS width, h1 AS height,
             'flate' AS filter, p.p % 9 AS x, p.p // 9 AS y,
             (299 * ((doc_id + ((p.p % 9) * w1 // 9) * 3
                      + ((p.p // 9) * h1 // 8) * 5) % 256)
            + 587 * ((doc_id + ((p.p % 9) * w1 // 9) * 3
                      + ((p.p // 9) * h1 // 8) * 5 + 11) % 256)
            + 114 * ((doc_id + ((p.p % 9) * w1 // 9) * 3
                      + ((p.p // 9) * h1 // 8) * 5 + 22) % 256)) // 1000
               AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)
           UNION ALL
           SELECT doc_id, 1, w2, h2, 'dct', p.p % 9, p.p // 9,
             16 + ((doc_id + (((p.p % 9) * w2 // 9) // 8) * 3
                    + (((p.p // 9) * h2 // 8) // 8) * 5) % 224)
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.image_ix, a.width, a.height, a.filter,
             a.x, a.y, CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c ON a.doc_id = c.doc_id
             AND a.image_ix = c.image_ix AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8)
         SELECT doc_id, CAST(image_ix AS INT) AS image_ix, width, height,
           CAST(3 AS INT) AS channels, filter,
           CAST(SUM(CASE WHEN y * 8 + x >= 32
             THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
             ELSE 0 END) AS BIGINT) AS hash_hi,
           CAST(SUM(CASE WHEN y * 8 + x < 32
             THEN CAST(bit AS BIGINT) << (y * 8 + x)
             ELSE 0 END) AS BIGINT) AS hash_lo
         FROM b GROUP BY doc_id, image_ix, width, height, filter
         ORDER BY doc_id, image_ix""") { (s, dir) =>
    Multimodal.decodePdfImages(
        s.read.parquet(Fixtures.pdfImageDocs(s, dir)))
      .select(col("doc_id"), col("image_ix"), col("width"), col("height"),
        col("channels"), col("filter"), col("hash_hi"), col("hash_lo"))
      .orderBy("doc_id", "image_ix")
  }

  /** CROSS-FORMAT image dedup — the claim behind m20 made a gate: a
    * figure embedded in a PDF and the same pixels shipped as a PNG are
    * the same image, and because both paths hash the DECODED SAMPLES
    * through one dHash kernel ([[graft.operators.Multimodal.dhashFromPixels]]),
    * they land in the same dedup clusters. The PNG corpus (m11's
    * fixture) exact-hash-joins the PDF flate images (m20's fixture —
    * same pixel formula by construction); per PNG doc, the match count
    * must equal its m11 duplicate-group size, which the oracle replays
    * from both closed forms. */
  gate("m21_crossformat_dedup",
      // cross-format: PNG-side and PDF-flate-side hashes share one closed
      // form, so the exact-hash join's per-doc match count IS the m11
      // duplicate-group size — replayed once and self-joined
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w,
             CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         g AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             (299 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5) % 256)
            + 587 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 11) % 256)
            + 114 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 22) % 256)) // 1000
             AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
               ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x)
               ELSE 0 END) AS BIGINT) AS lo
           FROM b GROUP BY doc_id)
         SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_pdf_matches
         FROM hsh a JOIN hsh p ON p.hi = a.hi AND p.lo = a.lo
         GROUP BY a.doc_id ORDER BY a.doc_id""") { (s, dir) =>
    val png = Multimodal.decodePngDHash(
        s.read.parquet(Fixtures.pngPixelDocs(s, dir)))
      .filter(col("dhash.format") === "png")
      .select(col("doc_id"), col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    val pdf = Multimodal.decodePdfImages(
        s.read.parquet(Fixtures.pdfImageDocs(s, dir)))
      .filter(col("filter") === "flate")
      .select(col("hash_hi"), col("hash_lo"))
    png.join(pdf, Seq("hash_hi", "hash_lo"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_pdf_matches"))
      .orderBy("doc_id")
  }

  /** Cross-format image dedup EXTENDED to the web's other two formats
    * ([[graft.operators.Multimodal.decodeWebImageDHash]] over the
    * [[Fixtures.webpGifDocs]] re-encodes — GIF on evens, VP8L WebP on
    * odds): every web image must land in its PNG twin's dHash cluster
    * through the shared [[graft.operators.Multimodal.dhashFromPixels]]
    * core. The oracle replays the closed-form hash for both sides and
    * the exact-hash join (accidental collisions included) — a drift in
    * EITHER codec's pixel output breaks the hash. */
  gate("m22_webformat_dedup",
      // m21's closed-form dHash on BOTH sides of the web-format join:
      // the GIF/WebP re-encodes carry pixel-identical images, so their
      // hashes equal the PNG side's closed form; the exact-hash join
      // (collisions included) and the format labels replay exactly
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w,
             CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         g AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             (299 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5) % 256)
            + 587 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 11) % 256)
            + 114 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 22) % 256)) // 1000
             AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
               ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x)
               ELSE 0 END) AS BIGINT) AS lo
           FROM b GROUP BY doc_id)
         SELECT a.doc_id,
           CASE WHEN a.doc_id % 2 = 0 THEN 'gif' ELSE 'webp' END AS format,
           CAST(count(*) AS BIGINT) AS n_png_matches
         FROM hsh a JOIN hsh p ON p.hi = a.hi AND p.lo = a.lo
         GROUP BY a.doc_id ORDER BY a.doc_id""") { (s, dir) =>
    val web = Multimodal.decodeWebImageDHash(
        s.read.parquet(Fixtures.webpGifDocs(s, dir)))
      .filter(col("dhash.format").isin("gif", "webp"))
      .select(col("doc_id"), col("dhash.format").as("format"),
        col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    val png = Multimodal.decodePngDHash(
        s.read.parquet(Fixtures.pngPixelDocs(s, dir)))
      .filter(col("dhash.format") === "png")
      .select(col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    web.join(png, Seq("hash_hi", "hash_lo"))
      .groupBy("doc_id", "format").agg(count(lit(1)).as("n_png_matches"))
      .orderBy("doc_id")
  }

  /** EXIF decode + GPS-PII scrub
    * ([[graft.operators.Multimodal.decodeExifMeta]] / `stripExif` over
    * [[Fixtures.exifJpegDocs]]): every planted tag replays in closed
    * form — orientation, zero-padded DateTime, Make, GPS presence and
    * the exactly-dividing microdegree coordinates — and the scrub is
    * pinned IN the gate: after [[graft.functions.ExifImpl.strip]] the
    * payload parses Exif-free while its pixel statistics (the m6 exact
    * flat-block decode) are bit-identical, so the scrub provably
    * removed the metadata and ONLY the metadata. The release-gate
    * tri-state rides along: the scrub reports `scrub_status`
    * "scrubbed" (every fixture carries Exif), re-scrubbing the clean
    * payload reports "clean", and the parse walk reports "ok" — so a
    * fail-open walk (unparseable JPEG shipped as clean, the r19 ADVICE
    * item) can no longer hide behind a bare null. */
  gate("m23_exif",
      // every planted EXIF tag in closed form, the microdegree integer
      // arithmetic included; the scrub flags are constants BY CONTRACT
      // (exif gone, pixels bit-identical) — a strip that damaged the
      // entropy stream or left the segment flips them and goes red
      """SELECT doc_id,
           CAST(doc_id % 8 + 1 AS INT) AS orientation,
           '2024:01:' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
             || ' 12:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
             || ':00' AS date_time,
           'cam' || (doc_id % 5) AS make,
           doc_id % 3 = 0 AS has_gps,
           CASE WHEN doc_id % 3 = 0
             THEN CAST((doc_id % 90) * 1000000 AS BIGINT) END AS lat_micro,
           CASE WHEN doc_id % 3 = 0
             THEN CAST((doc_id % 180) * 1000000 AS BIGINT) END AS lon_micro,
           true AS exif_gone,
           'scrubbed' AS scrub_status,
           'clean' AS restrip_status,
           'ok' AS parse_status,
           true AS pixels_intact
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = s.read.parquet(Fixtures.exifJpegDocs(s, dir))
    val stripped = Multimodal.stripExif(docs)
    val after = Multimodal.decodeExifMeta(
      stripped.select(col("doc_id"), col("payload_clean").as("payload")),
      metaCol = "exif_after")
    val restrip = Multimodal.stripExif(
        stripped.select(col("doc_id"), col("payload_clean").as("payload")))
      .select(col("doc_id"), col("scrub_status").as("restrip_status"))
    val parseStatus = Multimodal.decodeExifMeta(docs, "payload",
        "exif_ps", "parse_status")
      .select(col("doc_id"), col("parse_status"))
    val pxBefore = Multimodal.decodeJpegPixels(docs)
      .select(col("doc_id"),
        round(element_at(col("pixel_stats.mean"), 1), 6).as("__mb"))
    val pxAfter = Multimodal.decodeJpegPixels(
        stripped.select(col("doc_id"), col("payload_clean").as("payload")))
      .select(col("doc_id"),
        round(element_at(col("pixel_stats.mean"), 1), 6).as("__ma"))
    Multimodal.decodeExifMeta(docs)
      .select(col("doc_id"),
        col("exif.orientation").as("orientation"),
        col("exif.date_time").as("date_time"),
        col("exif.make").as("make"),
        col("exif.has_gps").as("has_gps"),
        col("exif.lat_micro").as("lat_micro"),
        col("exif.lon_micro").as("lon_micro"))
      .join(after.select(col("doc_id"),
        col("exif_after").isNull.as("exif_gone")), Seq("doc_id"))
      .join(stripped.select(col("doc_id"), col("scrub_status")),
        Seq("doc_id"))
      .join(restrip, Seq("doc_id"))
      .join(parseStatus, Seq("doc_id"))
      .join(pxBefore, Seq("doc_id")).join(pxAfter, Seq("doc_id"))
      .withColumn("pixels_intact", col("__mb") === col("__ma"))
      .drop("__mb", "__ma")
      .orderBy("doc_id")
  }

  /** Orientation-normalized image dedup
    * ([[graft.operators.Multimodal.orientedDHash]] over
    * [[Fixtures.orientedPixelDocs]]): every doc's pixels are STORED
    * under a planted EXIF rotation (orientation doc_id%8+1, dims
    * swapped for 5–8) — normalization must reproduce the upright image
    * exactly, so each normalized hash joins the m11 PNG closed-form
    * cluster of the SAME doc. The oracle replays the upright hash on
    * both sides (the m21/m22 pattern) plus the orientation label; a
    * transform that maps even one coordinate wrong perturbs the 9×8
    * sampling grid and goes red. */
  gate("m24_oriented_dedup",
      // the normalized hashes equal the upright closed form BY THE
      // TRANSFORM'S CORRECTNESS — the oracle replays the m21 hash CTE on
      // both sides, the join (collisions included) and the orientation
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w,
             CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         g AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             (299 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5) % 256)
            + 587 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 11) % 256)
            + 114 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 22) % 256)) // 1000
             AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
               ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x)
               ELSE 0 END) AS BIGINT) AS lo
           FROM b GROUP BY doc_id)
         SELECT a.doc_id,
           CAST(a.doc_id % 8 + 1 AS INT) AS orientation,
           CAST(count(*) AS BIGINT) AS n_png_matches
         FROM hsh a JOIN hsh p ON p.hi = a.hi AND p.lo = a.lo
         GROUP BY a.doc_id ORDER BY a.doc_id""") { (s, dir) =>
    val oriented = Multimodal.orientedDHash(
        s.read.parquet(Fixtures.orientedPixelDocs(s, dir)),
        "w", "h", "channels", "px", "orientation")
      .select(col("doc_id"), col("orientation"),
        col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    val png = Multimodal.decodePngDHash(
        s.read.parquet(Fixtures.pngPixelDocs(s, dir)))
      .filter(col("dhash.format") === "png")
      .select(col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    oriented.join(png, Seq("hash_hi", "hash_lo"))
      .groupBy("doc_id", "orientation")
      .agg(count(lit(1)).as("n_png_matches"))
      .orderBy("doc_id")
  }

  /** Progressive-JPEG image dedup
    * ([[graft.operators.Multimodal.decodeJpegDHash]] over
    * [[Fixtures.progressiveJpegDocs]] — SOF2 multi-scan streams:
    * DC first + refinement, per-component AC bands + refinements, EOB
    * runs, grayscale / 4:4:4 / 4:2:0 rotating by id): each progressive
    * re-encode carries the SAME quantized coefficients as its
    * [[Fixtures.jpegPixelDocs]] baseline twin, so the decoded pixels
    * are bit-identical and the hashes exact-join. The `format` column
    * pins that the SOF2 path actually decoded (an `undecodable`
    * fallback would go red on format AND counts); the oracle replays
    * the m6 flat-block closed form on both sides plus the join. */
  gate("m25_progressive_dedup",
      // the m6 flat-block closed form (gray = blockVal at the 9x8
      // sample grid — R=G=B=Y for color, identity for grayscale, so ONE
      // formula covers every variant) on BOTH sides of the
      // progressive-vs-baseline join, collisions included; the constant
      // format pins that the SOF2 decode path actually ran
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w,
             CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         g AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             16 + ((d.doc_id
                    + (((p.p % 9) * d.w // 9) // 8) * 3
                    + (((p.p // 9) * d.h // 8) // 8) * 5) % 224) AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
               ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x)
               ELSE 0 END) AS BIGINT) AS lo
           FROM b GROUP BY doc_id)
         SELECT a.doc_id, 'jpeg_progressive' AS format,
           CAST(count(*) AS BIGINT) AS n_baseline_matches
         FROM hsh a JOIN hsh p ON p.hi = a.hi AND p.lo = a.lo
         GROUP BY a.doc_id ORDER BY a.doc_id""") { (s, dir) =>
    val prog = Multimodal.decodeJpegDHash(
        s.read.parquet(Fixtures.progressiveJpegDocs(s, dir)))
      .select(col("doc_id"), col("dhash.format").as("format"),
        col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    val base = Multimodal.decodeJpegDHash(
        s.read.parquet(Fixtures.jpegPixelDocs(s, dir)))
      .filter(col("dhash.format") === "jpeg")
      .select(col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    prog.join(base, Seq("hash_hi", "hash_lo"))
      .groupBy("doc_id", "format")
      .agg(count(lit(1)).as("n_baseline_matches"))
      .orderBy("doc_id")
  }

  /** Orientation-normalized dedup END-TO-END from JPEG bytes
    * ([[graft.operators.Multimodal.exifOrientedJpegDHash]] over
    * [[Fixtures.orientedJpegDocs]]): each payload is a real
    * EXIF-tagged rotated JPEG — the full camera-photo composition
    * (APP1 parse → pixel decode → display transform → shared dHash)
    * the m23/m24 gates proved piecewise. Every normalized hash must
    * exact-join its upright twin's; the `orientation` column pins the
    * EXIF parse and the constant format pins the decode+transform
    * path. Oracle: the upright flat-block closed form at 8-multiple
    * dims on both sides plus the join, collisions included. */
  gate("m26_oriented_jpeg",
      // the upright flat-block closed form at 8-multiple dims on BOTH
      // sides of the oriented-vs-upright join: normalization must
      // reproduce the upright image exactly, so the normalized hash
      // equals the upright closed form; orientation pins the EXIF parse
      """WITH d AS (SELECT doc_id,
             CAST(8 * (doc_id % 3 + 1) AS INT) AS w,
             CAST(8 * (doc_id % 2 + 1) AS INT) AS h
           FROM documents),
         g AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             16 + ((d.doc_id
                    + (((p.p % 9) * d.w // 9) // 8) * 3
                    + (((p.p // 9) * d.h // 8) // 8) * 5) % 224) AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
               ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x)
               ELSE 0 END) AS BIGINT) AS lo
           FROM b GROUP BY doc_id)
         SELECT a.doc_id,
           CAST(a.doc_id % 8 + 1 AS INT) AS orientation,
           'jpeg_oriented' AS format,
           CAST(count(*) AS BIGINT) AS n_upright_matches
         FROM hsh a JOIN hsh p ON p.hi = a.hi AND p.lo = a.lo
         GROUP BY a.doc_id ORDER BY a.doc_id""") { (s, dir) =>
    val docs = s.read.parquet(Fixtures.orientedJpegDocs(s, dir))
    val oriented = Multimodal.exifOrientedJpegDHash(
        docs.select(col("doc_id"), col("payload_oriented").as("payload")))
      .select(col("doc_id"), col("orientation"),
        col("dhash.format").as("format"),
        col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    val upright = Multimodal.decodeJpegDHash(
        docs.select(col("doc_id"), col("payload_upright").as("payload")))
      .select(col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    oriented.join(upright, Seq("hash_hi", "hash_lo"))
      .groupBy("doc_id", "orientation", "format")
      .agg(count(lit(1)).as("n_upright_matches"))
      .orderBy("doc_id")
  }

  /** WebP container metadata incl. the LOSSY-VP8 header layer
    * ([[graft.operators.Multimodal.decodeWebpMeta]] over
    * [[Fixtures.webpLossyDocs]]): lossless frames report their VP8L
    * dims; lossy key frames report the RFC 6386 first-partition
    * header — dims, version, quantizer index (`y_ac_qi`, the
    * compression-quality curation signal), loop-filter setup,
    * partition count, quant deltas — parsed through planted
    * segmentation and filter-adjustment sub-headers by the
    * from-scratch bool decoder; VP8X wrapping surfaces the canvas.
    * The oracle replays every planted field in closed form — a
    * one-bit drift anywhere in the bool coder or the header walk
    * shifts every later field and goes red. */
  gate("m27_webp_meta",
      // every planted WebP header field in closed form by doc residue:
      // lossless dims on evens, the full lossy key-frame header on odds
      // (VP8X canvas on the id%8==5 subset)
      """SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'lossless' ELSE 'lossy' END
             AS kind,
           CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 13 + 4
                ELSE doc_id % 977 + 16 END AS INT) AS width,
           CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 11 + 4
                ELSE (doc_id * 3) % 761 + 16 END AS INT) AS height,
           doc_id % 8 = 5 OR doc_id % 3 = 0 AS extended,
           CAST(CASE WHEN doc_id % 8 = 5 OR doc_id % 3 = 0 THEN
             CASE WHEN doc_id % 2 = 0 THEN doc_id % 13 + 4
                  ELSE doc_id % 977 + 16 END END AS INT) AS canvas_w,
           CAST(CASE WHEN doc_id % 8 = 5 OR doc_id % 3 = 0 THEN
             CASE WHEN doc_id % 2 = 0 THEN doc_id % 11 + 4
                  ELSE (doc_id * 3) % 761 + 16 END END AS INT)
             AS canvas_h,
           CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 4 END AS INT)
             AS version,
           CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 128 END AS INT)
             AS y_ac_qi,
           CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 15 - 7 END AS INT)
             AS y_dc_delta,
           CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 9 - 4 END AS INT)
             AS uv_ac_delta,
           CAST(CASE WHEN doc_id % 2 = 1 THEN (doc_id // 2) % 2 END
             AS INT) AS filter_type,
           CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 64 END AS INT)
             AS filter_level,
           CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 8 END AS INT)
             AS sharpness,
           CAST(CASE WHEN doc_id % 2 = 1 THEN
             CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
                  ELSE 8 END END AS INT) AS token_partitions
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    Multimodal.decodeWebpMeta(
        s.read.parquet(Fixtures.webpLossyDocs(s, dir)))
      .select(col("doc_id"),
        col("webp_meta.kind").as("kind"),
        col("webp_meta.width").as("width"),
        col("webp_meta.height").as("height"),
        col("webp_meta.extended").as("extended"),
        col("webp_meta.canvas_w").as("canvas_w"),
        col("webp_meta.canvas_h").as("canvas_h"),
        col("webp_meta.version").as("version"),
        col("webp_meta.y_ac_qi").as("y_ac_qi"),
        col("webp_meta.y_dc_delta").as("y_dc_delta"),
        col("webp_meta.uv_ac_delta").as("uv_ac_delta"),
        col("webp_meta.filter_type").as("filter_type"),
        col("webp_meta.filter_level").as("filter_level"),
        col("webp_meta.sharpness").as("sharpness"),
        col("webp_meta.token_partitions").as("token_partitions"))
      .orderBy("doc_id")
  }

  /** WebP EXIF + GPS-PII scrub — m23's release-gate contract extended
    * to the WebP container ([[graft.operators.Multimodal.decodeWebpMeta]]'s
    * exif leg + [[graft.operators.Multimodal.stripWebpExif]] over the
    * EXIF-carrying [[Fixtures.webpLossyDocs]]): planted orientation /
    * GPS microdegrees replay in closed form through BOTH wild payload
    * forms (bare TIFF and "Exif\0\0"-prefixed), the scrub removes the
    * EXIF chunk and clears the VP8X feature flag (post-strip meta
    * shows no EXIF), statuses are the release tri-state, and lossless
    * frames prove pixels survive byte-identically via the dHash. */
  gate("m28_webp_exif",
      // planted WebP-EXIF fields + the scrub contract in closed form:
      // id%3==0 carries EXIF (both wild payload forms), GPS on id%9==0
      // with the m23 exactly-dividing microdegrees; post-strip EXIF is
      // gone everywhere and lossless pixels hash identically
      """SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'lossless' ELSE 'lossy' END
             AS kind,
           doc_id % 3 = 0 AS has_exif,
           CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 8 + 1 END AS INT)
             AS exif_orientation,
           CASE WHEN doc_id % 3 = 0 THEN doc_id % 9 = 0 END
             AS exif_has_gps,
           CAST(CASE WHEN doc_id % 9 = 0
             THEN (doc_id % 90) * 1000000 END AS BIGINT)
             AS exif_lat_micro,
           CAST(CASE WHEN doc_id % 9 = 0
             THEN (doc_id % 180) * 1000000 END AS BIGINT)
             AS exif_lon_micro,
           CASE WHEN doc_id % 3 = 0 THEN 'scrubbed' ELSE 'clean' END
             AS scrub_status,
           true AS exif_gone,
           CASE WHEN doc_id % 2 = 0 THEN true END AS pixels_intact
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = s.read.parquet(Fixtures.webpLossyDocs(s, dir))
    val before = Multimodal.decodeWebpMeta(docs)
      .select(col("doc_id"),
        col("webp_meta.kind").as("kind"),
        col("webp_meta.has_exif").as("has_exif"),
        col("webp_meta.exif_orientation").as("exif_orientation"),
        col("webp_meta.exif_has_gps").as("exif_has_gps"),
        col("webp_meta.exif_lat_micro").as("exif_lat_micro"),
        col("webp_meta.exif_lon_micro").as("exif_lon_micro"))
    val stripped = Multimodal.stripWebpExif(docs)
    val after = Multimodal.decodeWebpMeta(
        stripped.select(col("doc_id"), col("payload_clean").as("payload")),
        metaCol = "webp_after")
      .select(col("doc_id"),
        (col("webp_after.has_exif") === false).as("exif_gone"))
    val hb = Multimodal.decodeWebImageDHash(docs)
      .select(col("doc_id"), col("dhash.hash_hi").as("__hb1"),
        col("dhash.hash_lo").as("__hb2"))
    val ha = Multimodal.decodeWebImageDHash(
        stripped.select(col("doc_id"), col("payload_clean").as("payload")))
      .select(col("doc_id"), col("dhash.hash_hi").as("__ha1"),
        col("dhash.hash_lo").as("__ha2"))
    before
      .join(stripped.select(col("doc_id"), col("scrub_status")), Seq("doc_id"))
      .join(after, Seq("doc_id"))
      .join(hb, Seq("doc_id")).join(ha, Seq("doc_id"))
      .withColumn("pixels_intact",
        when(col("doc_id") % 2 === 0,
          col("__hb1") === col("__ha1") && col("__hb2") === col("__ha2")))
      .drop("__hb1", "__hb2", "__ha1", "__ha2")
      .orderBy("doc_id")
  }

  /** GIF animation metadata
    * ([[graft.operators.Multimodal.decodeGifMeta]] over
    * [[Fixtures.gifAnimDocs]]): frame counts, summed Graphic Control
    * delays and Netscape loop counts replay in closed form — a block
    * mis-skip anywhere in the walk shifts the frame count and goes
    * red. Complements m22's poster-frame decode with the
    * stills-vs-animations curation split. */
  gate("m30_gif_anim",
      // planted GIF animation structure by residue: uniform per-frame
      // delays sum in closed form, loops on the id%4==0 subset
      """SELECT doc_id,
           CAST(doc_id % 300 + 10 AS INT) AS width,
           CAST(doc_id % 200 + 10 AS INT) AS height,
           CAST(doc_id % 20 + 1 AS INT) AS frames,
           doc_id % 20 + 1 > 1 AS animated,
           CAST((doc_id % 20 + 1) * (doc_id % 30 + 2) AS BIGINT)
             AS total_delay_cs,
           CAST(CASE WHEN doc_id % 4 = 0 THEN doc_id % 10 END AS INT)
             AS loop_count
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    Multimodal.decodeGifMeta(s.read.parquet(Fixtures.gifAnimDocs(s, dir)))
      .select(col("doc_id"),
        col("gif_meta.width").as("width"),
        col("gif_meta.height").as("height"),
        col("gif_meta.frames").as("frames"),
        col("gif_meta.animated").as("animated"),
        col("gif_meta.total_delay_cs").as("total_delay_cs"),
        col("gif_meta.loop_count").as("loop_count"))
      .orderBy("doc_id")
  }

  /** MP3 frame-walk metadata
    * ([[graft.operators.Multimodal.decodeMp3Meta]] over
    * [[Fixtures.mp3Docs]]): version rotation across MPEG-1/2/2.5,
    * bitrate/sample-rate tables, padded frame sizes, VBR detection,
    * ID3v2 envelopes — the oracle replays every field including the
    * exact frame-walk duration in closed form, so a one-byte frame-
    * size error desyncs the walk and goes red on frames/duration. */
  gate("m29_mp3_meta",
      // every planted MP3 header field by residue — the bitrate and
      // sample-rate tables inline as lists, the frame-walk duration in
      // integer arithmetic
      """WITH d AS (SELECT doc_id,
             doc_id % 3 AS vr, (doc_id // 3) % 3 AS rix,
             doc_id % 14 + 1 AS bix, doc_id % 50 + 5 AS nf
           FROM documents),
         e AS (SELECT doc_id,
             CASE vr WHEN 0 THEN '1' WHEN 1 THEN '2' ELSE '2.5' END
               AS version,
             CAST(CASE WHEN vr = 0
               THEN ([32,40,48,56,64,80,96,112,128,160,192,224,256,
                      320])[bix]
               ELSE ([8,16,24,32,40,48,56,64,80,96,112,128,144,
                      160])[bix]
               END AS INT) AS bitrate_kbps,
             CAST(CASE vr
               WHEN 0 THEN ([44100,48000,32000])[rix + 1]
               WHEN 1 THEN ([22050,24000,16000])[rix + 1]
               ELSE ([11025,12000,8000])[rix + 1] END AS INT)
               AS sample_rate,
             CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS INT)
               AS channels,
             CAST(nf AS BIGINT) AS frames,
             CASE WHEN vr = 0 THEN 1152 ELSE 576 END AS spf
           FROM d)
         SELECT doc_id, version, bitrate_kbps, sample_rate, channels,
           frames,
           CAST(frames * spf * 1000 // sample_rate AS BIGINT)
             AS duration_ms,
           doc_id % 5 = 0 AS vbr,
           doc_id % 3 = 0 AS has_id3
         FROM e ORDER BY doc_id""") { (s, dir) =>
    Multimodal.decodeMp3Meta(s.read.parquet(Fixtures.mp3Docs(s, dir)))
      .select(col("doc_id"),
        col("mp3_meta.version").as("version"),
        col("mp3_meta.bitrate_kbps").as("bitrate_kbps"),
        col("mp3_meta.sample_rate").as("sample_rate"),
        col("mp3_meta.channels").as("channels"),
        col("mp3_meta.frames").as("frames"),
        col("mp3_meta.duration_ms").as("duration_ms"),
        col("mp3_meta.vbr").as("vbr"),
        col("mp3_meta.has_id3").as("has_id3"))
      .orderBy("doc_id")
  }

  gate("m2_audio",
      """SELECT doc_id,
         CAST(8000 * (doc_id % 3 + 1) AS INT) AS sample_rate,
         CAST(doc_id % 2 + 1 AS INT) AS channels,
         CAST(CASE doc_id % 2 WHEN 0 THEN 16 ELSE 24 END AS INT) AS bits,
         CAST(doc_id % 1000 + 1 AS BIGINT) AS n_samples,
         'wav' AS format
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    Multimodal.decodeAudioMeta(s.read.parquet(Fixtures.audioDocs(s, dir)))
      .select(col("doc_id"), col("audio_meta.sample_rate"),
        col("audio_meta.channels"), col("audio_meta.bits"),
        col("audio_meta.n_samples"), col("audio_meta.format"))
      .orderBy("doc_id")
  }

  /** Real ISO-BMFF box-walk decode (mvhd + tkhd); oracle inverts the
    * fixture construction arithmetic like m1/m2. */
  gate("m3_video",
      """SELECT doc_id,
         CAST(doc_id % 1920 + 16 AS INT) AS width,
         CAST((doc_id * 3) % 1080 + 16 AS INT) AS height,
         CAST(doc_id % 100000 + 1000 AS BIGINT) AS duration_ms,
         'mp4' AS format
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    Multimodal.decodeVideoMeta(s.read.parquet(Fixtures.videoDocs(s, dir)))
      .select(col("doc_id"), col("video_meta.width"), col("video_meta.height"),
        col("video_meta.duration_ms"), col("video_meta.format"))
      .orderBy("doc_id")
  }
}
