"""DuckDB oracle SQL for the engine's queries.

Each string is ANSI SQL runnable by DuckDB 1.0 and mirrors the corresponding
Spark query *operation for operation* (same arithmetic shape, same join/
containment conventions) so row counts, schemas, and values match exactly.
The image/point/zone fixtures live at committed absolute paths (single
parquet files, generated bit-stably by fixtures.py) so both engines read the
same bytes; TPC-H-ish/documents/embeddings queries reference the driver's
pre-registered views.
"""

from __future__ import annotations

from .fixtures import FIXTURE_DIR

IMAGES = f"read_parquet('{FIXTURE_DIR}/images_test.parquet')"
POINTS = f"read_parquet('{FIXTURE_DIR}/points_test.parquet')"
ZONES = f"read_parquet('{FIXTURE_DIR}/zones_test.parquet')"

# ---------------------------------------------------------------------------
# shared CTE: the tile manifest in closed form (mirror of
# operators/spatial.py::tile_manifest — anchor arithmetic from functions/geo.py)
# ---------------------------------------------------------------------------

_MANIFEST_CTE = f"""
img AS (
  SELECT image_id, w, h, CAST(substr(image_id, 5) AS BIGINT) AS img_idx
  FROM {IMAGES}
),
anchored AS (
  SELECT *,
    -175.0 + ((img_idx * 7919) % 3400) / 10.0  AS lon0,
    -85.0  + ((img_idx * 104729) % 1650) / 10.0 AS lat0,
    CAST(LEAST(
      GREATEST(0, CEIL(LOG2(w / 512.0)), CEIL(LOG2(h / 512.0))),
      GREATEST(0, CEIL(LOG2(LEAST(w, h) / 2.0)))
    ) AS INT) + 1 AS n_levels
  FROM img
),
levels AS (
  SELECT image_id, w, h, lon0, lat0, n_levels,
         UNNEST(generate_series(0, n_levels - 1)) AS level
  FROM anchored
),
ldims AS (
  SELECT *,
    CAST(CEIL(w / POW(2.0, level)) AS INT) AS lw,
    CAST(CEIL(h / POW(2.0, level)) AS INT) AS lh
  FROM levels
),
lgrid AS (
  SELECT *,
    CAST(CEIL(lw / 512.0) AS INT) AS ntx,
    CAST(CEIL(lh / 512.0) AS INT) AS nty
  FROM ldims
),
tys AS (
  SELECT *, UNNEST(generate_series(0, nty - 1)) AS ty FROM lgrid
),
txs AS (
  SELECT *, UNNEST(generate_series(0, ntx - 1)) AS tx FROM tys
),
manifest AS (
  SELECT image_id, level, ty, tx, lw, lh, ntx, nty,
    LEAST(512, lw - tx * 512) AS px_w,
    LEAST(512, lh - ty * 512) AS px_h,
    lon0 + tx * 512 * (0.001 * POW(2.0, level)) AS lon_min,
    lat0 + ty * 512 * (0.001 * POW(2.0, level)) AS lat_min,
    lon0 + (tx * 512 + LEAST(512, lw - tx * 512)) * (0.001 * POW(2.0, level)) AS lon_max,
    lat0 + (ty * 512 + LEAST(512, lh - ty * 512)) * (0.001 * POW(2.0, level)) AS lat_max
  FROM txs
)
"""

TILE_MANIFEST = f"""
WITH {_MANIFEST_CTE}
SELECT image_id, CAST(level AS BIGINT) AS level, CAST(ty AS BIGINT) AS ty,
       CAST(tx AS BIGINT) AS tx, CAST(lw AS BIGINT) AS lw, CAST(lh AS BIGINT) AS lh,
       CAST(ntx AS BIGINT) AS ntx, CAST(nty AS BIGINT) AS nty,
       CAST(px_w AS BIGINT) AS px_w, CAST(px_h AS BIGINT) AS px_h,
       lon_min, lat_min, lon_max, lat_max
FROM manifest
"""

TILE_OFFSETS_RAW = f"""
WITH {_MANIFEST_CTE},
rawimg AS (
  SELECT image_id, octet_length(bytes) // (w * h) AS planes_total
  FROM {IMAGES} WHERE fmt = 'raw'
),
planes AS (
  SELECT image_id,
    CASE WHEN planes_total IN (2, 5) THEN planes_total - 1 ELSE planes_total END AS planes,
    CASE WHEN planes_total IN (2, 5) THEN 1 ELSE 0 END AS has_mask
  FROM rawimg
),
tileplanes AS (
  SELECT m.image_id, m.level, m.ty, m.tx,
    UNNEST(generate_series(0, p.has_mask)) AS plane,
    p.planes
  FROM manifest m JOIN planes p ON m.image_id = p.image_id
),
sized AS (
  SELECT image_id, level, plane, ty, tx,
    CASE WHEN plane = 0 THEN 262144 * planes ELSE 262144 END AS byte_count
  FROM tileplanes
)
SELECT image_id, CAST(level AS BIGINT) AS level, CAST(plane AS BIGINT) AS plane,
  CAST(ty AS BIGINT) AS ty, CAST(tx AS BIGINT) AS tx,
  CAST(byte_count AS BIGINT) AS byte_count,
  CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS tile_rank,
  CAST(COALESCE(SUM(byte_count + 8) OVER
    (PARTITION BY image_id ORDER BY level DESC, ty, tx, plane
     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS data_offset
FROM sized
WINDOW w AS (PARTITION BY image_id ORDER BY level DESC, ty, tx, plane)
"""

TILE_OFFSETS_PLANAR = f"""
WITH {_MANIFEST_CTE},
rawimg AS (
  SELECT image_id, octet_length(bytes) // (w * h) AS planes_total
  FROM {IMAGES} WHERE fmt = 'raw'
),
planes AS (
  SELECT image_id,
    CASE WHEN planes_total IN (2, 5) THEN planes_total - 1 ELSE planes_total END AS planes,
    CASE WHEN planes_total IN (2, 5) THEN 1 ELSE 0 END AS has_mask
  FROM rawimg
),
tileplanes AS (
  -- planar production: one single-band tile per band (plane p = band p),
  -- plus the mask as plane `planes`; every raw 512x512 single-band tile is
  -- 262144 bytes; no GDAL ghost framing (planar files drop it)
  SELECT m.image_id, m.level, m.ty, m.tx,
    UNNEST(generate_series(0, p.planes - 1 + p.has_mask)) AS plane
  FROM manifest m JOIN planes p ON m.image_id = p.image_id
)
SELECT image_id, CAST(level AS BIGINT) AS level, CAST(plane AS BIGINT) AS plane,
  CAST(ty AS BIGINT) AS ty, CAST(tx AS BIGINT) AS tx,
  CAST(262144 AS BIGINT) AS byte_count,
  CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS tile_rank,
  CAST(COALESCE(SUM(262144) OVER
    (PARTITION BY image_id ORDER BY level DESC, ty, tx, plane
     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS data_offset
FROM tileplanes
WINDOW w AS (PARTITION BY image_id ORDER BY level DESC, ty, tx, plane)
"""

DISTANCE_JOIN = f"""
SELECT a.point_id AS point_a, b.point_id AS point_b,
  ROUND((a.lon - b.lon) * (a.lon - b.lon)
        + (a.lat - b.lat) * (a.lat - b.lat), 12) AS dist2
FROM {POINTS} a JOIN {POINTS} b ON a.point_id < b.point_id
WHERE (a.lon - b.lon) * (a.lon - b.lon)
      + (a.lat - b.lat) * (a.lat - b.lat) <= 0.0025000000000000005
"""

PIP_JOIN = f"""
WITH {_MANIFEST_CTE}
SELECT p.point_id, p.label, t.image_id, CAST(t.level AS BIGINT) AS level,
       CAST(t.ty AS BIGINT) AS ty, CAST(t.tx AS BIGINT) AS tx, p.lon, p.lat
FROM {POINTS} p
JOIN manifest t
  ON p.lon >= t.lon_min AND p.lon < t.lon_max
 AND p.lat >= t.lat_min AND p.lat < t.lat_max
WHERE t.level = 0
"""

# bounded-radius kNN: candidates = tiles whose res-10 cell range intersects
# the point cell's Chebyshev-2 ring (grid arithmetic mirrors cells.grid_xy)
KNN_JOIN = f"""
WITH {_MANIFEST_CTE},
t0 AS (
  SELECT *,
    LEAST(GREATEST(CAST(FLOOR((lon_min + 180.0) / 360.0 * 1024) AS BIGINT), 0), 1023) AS x0,
    LEAST(GREATEST(CAST(FLOOR((lon_max + 180.0) / 360.0 * 1024) AS BIGINT), 0), 1023) AS x1,
    LEAST(GREATEST(CAST(FLOOR((lat_min + 90.0) / 180.0 * 1024) AS BIGINT), 0), 1023) AS y0,
    LEAST(GREATEST(CAST(FLOOR((lat_max + 90.0) / 180.0 * 1024) AS BIGINT), 0), 1023) AS y1
  FROM manifest WHERE level = 0
),
pts AS (
  SELECT *,
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * 1024) AS BIGINT), 0), 1023) AS px,
    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * 1024) AS BIGINT), 0), 1023) AS py
  FROM {POINTS}
),
cand AS (
  SELECT p.point_id, t.image_id, t.level, t.ty, t.tx,
    (p.lon - (t.lon_min + t.lon_max) / 2.0) * (p.lon - (t.lon_min + t.lon_max) / 2.0)
    + (p.lat - (t.lat_min + t.lat_max) / 2.0) * (p.lat - (t.lat_min + t.lat_max) / 2.0)
      AS dist2
  FROM pts p JOIN t0 t
    ON t.x0 - 2 <= p.px AND p.px <= t.x1 + 2
   AND t.y0 - 2 <= p.py AND p.py <= t.y1 + 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER
    (PARTITION BY point_id ORDER BY dist2, image_id, ty, tx) AS rank
  FROM cand
)
SELECT point_id, image_id, CAST(level AS BIGINT) AS level, CAST(ty AS BIGINT) AS ty,
       CAST(tx AS BIGINT) AS tx, ROUND(dist2, 12) AS dist2,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""

# adaptive (true-)kNN: ring ladder 2 -> 4 -> 8. ring_needed is the Chebyshev
# grid distance from the point cell to the tile's (clamped, inclusive) cell
# range — a tile is a rung-r candidate iff ring_needed <= r. The chosen rung
# is the first with >= k candidates (else the final rung); top-k among the
# chosen rung's candidates, same distance + tiebreak as KNN_JOIN.
KNN_ADAPTIVE = f"""
WITH {_MANIFEST_CTE},
t0 AS (
  SELECT *,
    LEAST(GREATEST(CAST(FLOOR((lon_min + 180.0) / 360.0 * 1024) AS BIGINT), 0), 1023) AS x0,
    LEAST(GREATEST(CAST(FLOOR((lon_max + 180.0) / 360.0 * 1024) AS BIGINT), 0), 1023) AS x1,
    LEAST(GREATEST(CAST(FLOOR((lat_min + 90.0) / 180.0 * 1024) AS BIGINT), 0), 1023) AS y0,
    LEAST(GREATEST(CAST(FLOOR((lat_max + 90.0) / 180.0 * 1024) AS BIGINT), 0), 1023) AS y1
  FROM manifest WHERE level = 0
),
pts AS (
  SELECT *,
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * 1024) AS BIGINT), 0), 1023) AS px,
    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * 1024) AS BIGINT), 0), 1023) AS py
  FROM {POINTS}
),
need AS (
  SELECT p.point_id, t.image_id, t.level, t.ty, t.tx,
    GREATEST(
      CASE WHEN p.px < t.x0 THEN t.x0 - p.px
           WHEN p.px > t.x1 THEN p.px - t.x1 ELSE 0 END,
      CASE WHEN p.py < t.y0 THEN t.y0 - p.py
           WHEN p.py > t.y1 THEN p.py - t.y1 ELSE 0 END) AS ring_needed,
    (p.lon - (t.lon_min + t.lon_max) / 2.0) * (p.lon - (t.lon_min + t.lon_max) / 2.0)
    + (p.lat - (t.lat_min + t.lat_max) / 2.0) * (p.lat - (t.lat_min + t.lat_max) / 2.0)
      AS dist2
  FROM pts p CROSS JOIN t0 t
),
chosen AS (
  SELECT point_id,
    CASE WHEN COUNT(*) FILTER (ring_needed <= 2) >= 2 THEN 2
         WHEN COUNT(*) FILTER (ring_needed <= 4) >= 2 THEN 4
         ELSE 8 END AS ring
  FROM need WHERE ring_needed <= 8 GROUP BY point_id
),
ranked AS (
  SELECT n.*, c.ring, ROW_NUMBER() OVER
    (PARTITION BY n.point_id ORDER BY n.dist2, n.image_id, n.ty, n.tx) AS rank
  FROM need n JOIN chosen c ON n.point_id = c.point_id
  WHERE n.ring_needed <= c.ring
)
SELECT point_id, image_id, CAST(level AS BIGINT) AS level,
       CAST(ty AS BIGINT) AS ty, CAST(tx AS BIGINT) AS tx,
       ROUND(dist2, 12) AS dist2, CAST(rank AS BIGINT) AS rank,
       CAST(ring AS BIGINT) AS ring
FROM ranked WHERE rank <= 2
"""

ZONAL_STATS = f"""
WITH {_MANIFEST_CTE}
SELECT z.zone_id,
  CAST(COUNT(*) AS BIGINT) AS n_tiles,
  CAST(COUNT(DISTINCT t.image_id) AS BIGINT) AS n_images,
  CAST(SUM(CAST(t.px_w AS BIGINT) * t.px_h) AS BIGINT) AS px_sum
FROM {ZONES} z
JOIN manifest t
  ON t.lon_min < z.lon_max AND t.lon_max > z.lon_min
 AND t.lat_min < z.lat_max AND t.lat_max > z.lat_min
WHERE t.level = 0
GROUP BY z.zone_id
"""

# the documents token_stats kernel over the image table's captions — the
# text side of the image+caption pair
CAPTION_TOKEN_STATS = f"""
SELECT image_id,
  CAST(len(string_split(caption, ' ')) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(string_split(caption, ' '))) AS BIGINT)
    AS n_distinct_tokens,
  ROUND(list_sum(list_transform(string_split(caption, ' '), x -> length(x)))
        / (len(string_split(caption, ' ')) * 1.0), 6) AS avg_token_len
FROM {IMAGES}
"""

PHASH_CANONICAL = f"""
SELECT phash, MIN(image_id) AS canonical_image_id, CAST(COUNT(*) AS BIGINT) AS dup_count
FROM {IMAGES}
GROUP BY phash
"""

DEDUP_IMAGES = f"""
SELECT image_id, w, h, fmt, phash FROM (
  SELECT image_id, w, h, fmt, phash,
    ROW_NUMBER() OVER (PARTITION BY phash ORDER BY image_id) AS rn
  FROM {IMAGES}
) WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# documents / embeddings (driver-registered views) — training-data pipeline
# ---------------------------------------------------------------------------

DOC_TOKEN_STATS = """
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
  ROUND(list_sum(list_transform(string_split(text, ' '), x -> length(x)))
        / (len(string_split(text, ' ')) * 1.0), 6) AS avg_token_len
FROM documents
"""

DOC_TOKEN_BPE = """
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
  CAST(list_sum(list_transform(string_split(text, ' '),
       x -> CAST(CEIL(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_bpe_tokens
FROM documents
"""

_STOP_SQL = "('the','a','of','and','to','in','is','on','for','it')"

DOC_QUALITY = f"""
SELECT doc_id, lang,
  ROUND(len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL}))
        / (len(string_split(text, ' ')) * 1.0), 6) AS stop_ratio,
  ROUND(LEAST(n_chars, 500) / 500.0 * 0.6
        + (len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL}))
           / (len(string_split(text, ' ')) * 1.0)) * 0.4, 6) AS quality
FROM documents
"""

DOC_LANGID = f"""
SELECT doc_id, lang,
  CASE WHEN len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL}))
            / (len(string_split(text, ' ')) * 1.0) >= 0.05
       THEN 'en' ELSE 'unk' END AS pred_lang,
  (CASE WHEN len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL}))
             / (len(string_split(text, ' ')) * 1.0) >= 0.05
        THEN 'en' ELSE 'unk' END) = lang AS match
FROM documents
"""

DOC_FINGERPRINT = """
SELECT doc_id,
  md5(text) AS md5_fp,
  CAST(list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(string_split(text, ' '),
        x -> CAST(ascii(x) * 256 + length(x) AS BIGINT))),
    (a, b) -> (a * 31 + b) % 2147483647) AS BIGINT) AS rolling_fp
FROM documents
"""

VOCAB_COUNTS = """
SELECT token, n_occurrences, n_docs,
  CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) AS BIGINT) AS rank
FROM (
  SELECT tok AS token,
    CAST(COUNT(*) AS BIGINT) AS n_occurrences,
    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
)
"""

BIGRAM_COUNTS = """
SELECT pair, n, rank FROM (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair) AS BIGINT) AS rank
  FROM (
    SELECT unnest(list_transform(
      generate_series(1, len(string_split(text, ' ')) - 1),
      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
      AS pair
    FROM documents
    WHERE len(string_split(text, ' ')) >= 2
  )
  GROUP BY pair
) WHERE rank <= 100
"""

EXACT_DEDUP_DOCS = """
SELECT doc_id, lang, source, n_chars FROM (
  SELECT doc_id, lang, source, n_chars,
    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""

NGRAM_JACCARD_PAIRS = """
WITH d AS (
  SELECT doc_id, lang, source,
    list_distinct(list_transform(
      generate_series(1, len(string_split(text, ' ')) - 2),
      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
           || ' ' || string_split(text, ' ')[i+2])) AS s
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
)
SELECT doc_a, doc_b, lang, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
    ROUND(len(list_filter(a.s, x -> list_contains(b.s, x)))
      / ((len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) * 1.0),
      9) AS jaccard
  FROM d a JOIN d b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
) WHERE jaccard >= 0.5
"""

# MinHash+LSH dedup oracle: the UNBLOCKED exact all-pairs trigram Jaccard at
# the same threshold. The engine's LSH path verifies every candidate with the
# exact Jaccard predicate (precision 1 by construction), and at this
# threshold every qualifying pair shares >=1 of the 16 deterministic bands
# (recall 1 on the corpus — near-dups sit at j>=0.9 where the 16x4 band
# scheme is lossless in practice). Equality against the exact closure is the
# strongest possible check: it asserts recall AND precision == 1.
MINHASH_LSH_DEDUP = """
WITH d AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, len(string_split(text, ' ')) - 2),
      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
           || ' ' || string_split(text, ' ')[i+2])) AS s
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    ROUND(len(list_filter(a.s, x -> list_contains(b.s, x)))
      / ((len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) * 1.0),
      9) AS jaccard
  FROM d a JOIN d b ON a.doc_id < b.doc_id
) WHERE jaccard >= 0.5
"""

# SimHash oracle: recompute the 64-bit signatures in pure SQL (token hash =
# md5_number_lower, mirrored exactly by operators/dedup._tok_hash64) and take
# ALL pairs at hamming <= 3. The engine's 16-bit-chunk pigeonhole blocking is
# provably lossless at this distance (3 differing bits over 4 chunks leave
# one chunk identical), so the blocked output equals the full closure.
SIMHASH_PAIRS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
  SELECT doc_id, md5_number_lower(tok) AS hv FROM toks
),
bitvotes AS (
  SELECT doc_id, b,
    SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bits
  GROUP BY doc_id, b
),
sig AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS UBIGINT) << b)
             ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS simhash
  FROM bitvotes GROUP BY doc_id
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
) WHERE hamming <= 3
"""

# COG assembly reconciliation (A3/A4): the assembled outputs' tile and level
# counts must equal the closed-form manifest expectation, with the mask
# plane doubling tiles for images the fixture convention marks as masked
# (n_bands/has_mask are deterministic functions of img_idx — fixtures.py).
COG_ASSEMBLY_SUMMARY = f"""
WITH {_MANIFEST_CTE},
planes AS (
  SELECT image_id,
    CASE WHEN (img_idx % 5 = 0) AND (img_idx % 3 != 1) THEN 2 ELSE 1 END AS plane_mult
  FROM img
),
per_level AS (
  SELECT m.image_id, m.n_levels, m.ntx * m.nty AS tiles, p.plane_mult
  FROM (SELECT DISTINCT image_id, level, ntx, nty,
               MAX(level) OVER (PARTITION BY image_id) + 1 AS n_levels
        FROM manifest) m
  JOIN planes p ON m.image_id = p.image_id
)
SELECT image_id,
  CAST(SUM(tiles * plane_mult) AS BIGINT) AS n_tiles,
  CAST(MAX(n_levels) AS BIGINT) AS n_levels
FROM per_level
GROUP BY image_id
"""

_COS = ("list_dot_product(a.emb, b.emb) / "
        "(SQRT(list_dot_product(a.emb, a.emb)) * SQRT(list_dot_product(b.emb, b.emb)))")

EMBED_NEARDUP = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
SELECT label, vec_a, vec_b, cosine FROM (
  SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
    ROUND({_COS}, 9) AS cosine
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE cosine >= 0.4
"""

ANN_COSINE_TOPK = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id % 50 = 0),
cand AS (
  SELECT q.query_id, e.vec_id,
    ROUND(list_dot_product(q.q_emb, e.emb)
      / (SQRT(list_dot_product(q.q_emb, q.q_emb)) * SQRT(list_dot_product(e.emb, e.emb))),
      9) AS cosine
  FROM e, q WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER
    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM cand
)
SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""

# ---------------------------------------------------------------------------
# generic relational queries over the TPC-H-ish views (engine sanity breadth)
# ---------------------------------------------------------------------------

PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
  ROUND(SUM(l_quantity), 2) AS sum_qty,
  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORDERS_TOPK_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""

NATION_REVENUE = """
SELECT n.n_name,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  ROUND(SUM(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""

EVENTS_BY_TYPE = """
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
  ROUND(SUM(value), 2) AS sum_value,
  CAST(MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS BIGINT) AS first_epoch,
  CAST(MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS BIGINT) AS last_epoch
FROM events
GROUP BY event_type
"""

DATASET_STATS = f"""
SELECT fmt,
  CAST(COUNT(*) AS BIGINT) AS n_images,
  CAST(SUM(octet_length(bytes)) AS BIGINT) AS total_bytes,
  CAST(SUM(CAST(w AS BIGINT) * h) AS BIGINT) AS total_px
FROM {IMAGES}
GROUP BY fmt
"""

EVENTS_SESSIONIZE = """
WITH e AS (
  SELECT user_id, event_id, ts, value, epoch(ts) AS ep,
    CASE WHEN lag(epoch(ts)) OVER w IS NULL
              OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(is_new) OVER
    (PARTITION BY user_id ORDER BY ts, event_id
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM e
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  ROUND(SUM(value), 2) AS sum_value,
  CAST(MIN(CAST(FLOOR(ep) AS BIGINT)) AS BIGINT) AS first_epoch
FROM s GROUP BY user_id, session_id
"""

EVENTS_ASOF_PURCHASE = """
WITH l AS (SELECT * FROM events WHERE event_type = 'click'),
r AS (
  SELECT * FROM events WHERE event_type = 'purchase'
  QUALIFY ROW_NUMBER() OVER
    (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
)
SELECT l.event_id, l.user_id,
  CAST(FLOOR(epoch(l.ts)) AS BIGINT) AS ts_epoch,
  r.event_id IS NOT NULL AS has_prior,
  COALESCE(r.event_id, -1) AS prior_event_id,
  ROUND(COALESCE(r.value, 0.0), 2) AS prior_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""

# forward as-of + tolerance: DuckDB has no native forward ASOF, so the
# oracle is the DEFINING correlated form — first right row in
# [l.ts, l.ts + 1h] per key via LATERAL
EVENTS_ASOF_NEXT = """
WITH l AS (SELECT * FROM events WHERE event_type = 'click'),
r AS (
  SELECT * FROM events WHERE event_type = 'purchase'
  QUALIFY ROW_NUMBER() OVER
    (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
)
SELECT l.event_id, l.user_id,
  CAST(FLOOR(epoch(l.ts)) AS BIGINT) AS ts_epoch,
  n.event_id IS NOT NULL AS has_next,
  COALESCE(n.event_id, -1) AS next_event_id,
  ROUND(COALESCE(n.value, 0.0), 2) AS next_value
FROM l LEFT JOIN LATERAL (
  SELECT r.event_id, r.value FROM r
  WHERE r.user_id = l.user_id AND r.ts >= l.ts
    AND r.ts <= l.ts + INTERVAL 1 HOUR
  ORDER BY r.ts ASC LIMIT 1
) n ON TRUE
"""

EVENTS_HOURLY_ROLLUP = """
WITH e AS (
  SELECT event_type,
    CAST(FLOOR(FLOOR(epoch(ts)) / 3600) * 3600 AS BIGINT) AS hour_epoch,
    value
  FROM events
)
SELECT COALESCE(event_type, '<all>') AS event_type,
  COALESCE(hour_epoch, -1) AS hour_epoch,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  ROUND(SUM(value), 2) AS sum_value,
  CAST(GROUPING(event_type) * 2 + GROUPING(hour_epoch) AS BIGINT) AS gid
FROM e GROUP BY ROLLUP (event_type, hour_epoch)
"""

EVENTS_VALUE_MEDIAN = """
SELECT event_type,
  ROUND(quantile_cont(value, 0.5), 6) AS median_value,
  ROUND(quantile_cont(value, 0.9), 6) AS p90_value
FROM events GROUP BY event_type
"""

POINT_GRID_COUNTS = f"""
SELECT
  LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * 1024) AS BIGINT), 0), 1023) AS gx,
  LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * 1024) AS BIGINT), 0), 1023) AS gy,
  CAST(COUNT(*) AS BIGINT) AS n_points
FROM {POINTS}
GROUP BY 1, 2
"""

# Real decoded-pixel sums in closed form: the fixture pattern is
# px[y, x, b] = v * (x % 4) with v = (b*10 + (y//128)*2 + (x//128)) * 2
# (fixtures.make_pixels; (y%128*128 + x%128) % 4 == x % 4 since 128 % 4 == 0,
# and values stay < 256 at fixture dims so the uint8 & 0xFF never wraps).
# Per level-0 tile the sum factorizes over 128-blocks:
#   px_sum = Σ_{by,bx} ny(by) * (f(xe) - f(xs)) * vsum(by, bx)
# with f(n) = Σ_{x<n} x%4 = 6*(n//4) + [0,0,1,3][n%4] and
# vsum = Σ_b v = 10*nb*(nb-1) + 2*nb*(2*by + bx)  (mask plane excluded, as in
# tile_pixel_stats). This pins the engine's REAL decode+slice kernel against
# pure SQL — not just metadata.
# shared CTE tail (img -> 128px-block x tile intersection pieces) used by
# TILE_PIXEL_SUMS and ZONAL_PIXEL_STATS; expects an `img(image_id, w, h,
# img_idx)` CTE upstream.
_PIXEL_PIECES_TAIL = """banded AS (
  SELECT *, CASE img_idx % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS nb
  FROM img
),
tiles AS (
  SELECT image_id, w, h, nb,
    UNNEST(generate_series(0, CAST(CEIL(h / 512.0) AS INT) - 1)) AS ty
  FROM banded
),
tilesx AS (
  SELECT *, UNNEST(generate_series(0, CAST(CEIL(w / 512.0) AS INT) - 1)) AS tx
  FROM tiles
),
bounds AS (
  SELECT image_id, nb, ty, tx,
    ty * 512 AS y0, LEAST(h, (ty + 1) * 512) AS y1,
    tx * 512 AS x0, LEAST(w, (tx + 1) * 512) AS x1
  FROM tilesx
),
blky AS (
  SELECT *, UNNEST(generate_series(y0 // 128, (y1 - 1) // 128)) AS by
  FROM bounds
),
blk AS (
  SELECT *, UNNEST(generate_series(x0 // 128, (x1 - 1) // 128)) AS bx
  FROM blky
),
pieces AS (
  SELECT image_id, nb, ty, tx, y0, y1, x0, x1, by, bx,
    LEAST(y1, (by + 1) * 128) - GREATEST(y0, by * 128) AS ny,
    GREATEST(x0, bx * 128) AS xs,
    LEAST(x1, (bx + 1) * 128) AS xe
  FROM blk
)"""

TILE_PIXEL_SUMS = f"""
WITH img AS (
  SELECT image_id, w, h, CAST(substr(image_id, 5) AS BIGINT) AS img_idx
  FROM {IMAGES}
),
{_PIXEL_PIECES_TAIL},
summed AS (
  SELECT image_id, ty, tx,
    SUM(ny
        * ((6 * (xe // 4) + (CASE xe % 4 WHEN 2 THEN 1 WHEN 3 THEN 3 ELSE 0 END))
           - (6 * (xs // 4) + (CASE xs % 4 WHEN 2 THEN 1 WHEN 3 THEN 3 ELSE 0 END)))
        * (10 * nb * (nb - 1) + 2 * nb * (2 * by + bx))) AS px_sum,
    SUM(ny * (xe - xs)) * MAX(nb) AS px_count
  FROM pieces
  GROUP BY image_id, ty, tx
)
SELECT image_id, CAST(ty AS BIGINT) AS ty, CAST(tx AS BIGINT) AS tx,
       CAST(px_count AS BIGINT) AS px_count, CAST(px_sum AS BIGINT) AS px_sum
FROM summed
"""

# J7+ zonal PIXEL stats: the bbox-overlap zone pairing (same join as
# ZONAL_STATS) aggregated over the closed-form per-tile pixel stats. Extra
# closed forms beyond TILE_PIXEL_SUMS (value = (x%4) * v(b,by,bx), v >= 0,
# no uint8 wrap at TEST_DIMS <= 513 where max = 2*(30+8+4)*3 = 252):
#   px_min = 0 for every tile — each piece starts at xs ≡ 0 (mod 4) (tile
#     and block edges are multiples of 4), so weight x%4 = 0 is attained;
#   px_max = max over pieces of v_max * w_max with v_max = 2*((nb-1)*10 +
#     2*by + bx) (largest band) and w_max = LEAST(xe-xs-1, 3) (weights
#     cycle 0,1,2,3 from xs).
ZONAL_PIXEL_STATS = f"""
WITH {_MANIFEST_CTE},
{_PIXEL_PIECES_TAIL},
tile_stats AS (
  SELECT image_id, ty, tx,
    SUM(ny
        * ((6 * (xe // 4) + (CASE xe % 4 WHEN 2 THEN 1 WHEN 3 THEN 3 ELSE 0 END))
           - (6 * (xs // 4) + (CASE xs % 4 WHEN 2 THEN 1 WHEN 3 THEN 3 ELSE 0 END)))
        * (10 * nb * (nb - 1) + 2 * nb * (2 * by + bx))) AS px_sum,
    SUM(ny * (xe - xs)) * MAX(nb) AS px_count,
    MIN(0) AS px_min,
    MAX(2 * ((nb - 1) * 10 + 2 * by + bx) * LEAST(xe - xs - 1, 3)) AS px_max
  FROM pieces
  GROUP BY image_id, ty, tx
),
pairs AS (
  SELECT z.zone_id, t.image_id, t.ty, t.tx
  FROM {ZONES} z
  JOIN manifest t
    ON t.lon_min < z.lon_max AND t.lon_max > z.lon_min
   AND t.lat_min < z.lat_max AND t.lat_max > z.lat_min
  WHERE t.level = 0
)
SELECT p.zone_id,
  CAST(COUNT(*) AS BIGINT) AS n_tiles,
  CAST(SUM(s.px_sum) AS BIGINT) AS value_sum,
  CAST(SUM(s.px_count) AS BIGINT) AS value_count,
  CAST(MIN(s.px_min) AS BIGINT) AS value_min,
  CAST(MAX(s.px_max) AS BIGINT) AS value_max,
  ROUND(SUM(s.px_sum) / (SUM(s.px_count) * 1.0), 6) AS value_mean
FROM pairs p
JOIN tile_stats s USING (image_id, ty, tx)
GROUP BY p.zone_id
"""

# semantic dedup: transitive closure over the exact blocked cosine pairs
EMBED_DUP_CLUSTERS = """
WITH RECURSIVE e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
pairs AS (
  SELECT vec_a, vec_b FROM (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      list_dot_product(a.emb, b.emb)
        / (SQRT(list_dot_product(a.emb, a.emb)) * SQRT(list_dot_product(b.emb, b.emb)))
        AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  ) WHERE cosine >= 0.4
),
edges AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION
  SELECT vec_b AS a, vec_a AS b FROM pairs
),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e2.a, r.lbl FROM edges e2 JOIN reach r ON e2.b = r.node
)
SELECT node AS vec_id, CAST(MIN(lbl) AS BIGINT) AS canonical_id
FROM reach GROUP BY node
"""

# connected components over the exact blocked near-dup pairs: transitive
# closure by recursive CTE, min reachable id per node
DUP_CLUSTERS = """
WITH RECURSIVE d AS (
  SELECT doc_id, lang, source,
    list_distinct(list_transform(
      generate_series(1, len(string_split(text, ' ')) - 2),
      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
           || ' ' || string_split(text, ' ')[i+2])) AS s
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      len(list_filter(a.s, x -> list_contains(b.s, x)))
        / ((len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) * 1.0)
        AS jaccard
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node
)
SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS canonical_id
FROM reach GROUP BY node
"""


STRATIFIED_SAMPLE = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 WHEN 'zh' THEN 1.0
      ELSE NULL END IS NOT NULL
  AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
      / 4294967296.0
      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 WHEN 'zh' THEN 1.0 END
"""

PACK_SEQUENCES = """
SELECT doc_id,
  CAST(LEAST(len(string_split(text, ' ')), 1024) AS BIGINT) AS n_tokens,
  CAST(FLOOR((SUM(LEAST(len(string_split(text, ' ')), 1024)) OVER w - 1)
             / 1024.0) AS BIGINT) AS bin_id,
  CAST((SUM(LEAST(len(string_split(text, ' ')), 1024)) OVER w
        - LEAST(len(string_split(text, ' ')), 1024)) % 1024 AS BIGINT)
    AS bin_offset
FROM documents
WINDOW w AS (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

DUPLICATE_NGRAMS = """
WITH d AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, len(string_split(text, ' ')) - 4),
    i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS grams
  FROM documents WHERE len(string_split(text, ' ')) >= 5
)
SELECT ngram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM (SELECT doc_id, UNNEST(grams) AS ngram FROM d)
GROUP BY ngram HAVING COUNT(DISTINCT doc_id) >= 2
"""

TFIDF_TOP_TERMS = """
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, token),
dfq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY token),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
    ROUND(tf.tf * (n.n - dfq.dfreq) / (dfq.dfreq + 1.0), 6) AS score
  FROM tf JOIN dfq ON tf.token = dfq.token CROSS JOIN n),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY score DESC, token) AS BIGINT) AS term_rank
  FROM scored)
SELECT doc_id, token, tf, score, term_rank FROM ranked WHERE term_rank <= 3
"""

UNIGRAM_COMMONNESS = """
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
s AS (SELECT SUM(cnt) * 1.0 / COUNT(*) AS mean_cnt FROM counts),
j AS (SELECT tok.doc_id, counts.cnt FROM tok JOIN counts USING (token))
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  ROUND(AVG(cnt), 6) AS mean_token_count,
  CAST(MIN(cnt) AS BIGINT) AS min_token_count,
  CAST(SUM(CASE WHEN cnt < (SELECT mean_cnt FROM s) THEN 1 ELSE 0 END)
       AS BIGINT) AS n_rare,
  ROUND(SUM(CASE WHEN cnt < (SELECT mean_cnt FROM s) THEN 1 ELSE 0 END)
        / (COUNT(*) * 1.0), 6) AS rare_ratio
FROM j GROUP BY doc_id
"""

BENCHMARK_CONTAMINATION = """
WITH d AS (
  SELECT doc_id, source, list_distinct(list_transform(
    generate_series(1, len(string_split(text, ' ')) - 4),
    i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS grams
  FROM documents WHERE len(string_split(text, ' ')) >= 5
),
bench AS (
  SELECT DISTINCT UNNEST(grams) AS ngram FROM d WHERE source = 'src0'),
cand AS (SELECT * FROM d WHERE source <> 'src0'),
e AS (SELECT doc_id, UNNEST(grams) AS ngram FROM cand),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
  FROM e JOIN bench USING (ngram) GROUP BY doc_id)
SELECT c.doc_id, CAST(len(c.grams) AS BIGINT) AS n_grams,
  COALESCE(h.n_contaminated, 0) AS n_contaminated,
  ROUND(COALESCE(h.n_contaminated, 0) / (len(c.grams) * 1.0), 9)
    AS contamination
FROM cand c LEFT JOIN hits h ON c.doc_id = h.doc_id
"""

DUP_SPAN_RATIO = """
WITH d AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, len(string_split(text, ' ')) - 4),
    i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS grams
  FROM documents WHERE len(string_split(text, ' ')) >= 5
),
e AS (SELECT doc_id, UNNEST(grams) AS ngram FROM d),
dup AS (SELECT ngram FROM e GROUP BY ngram HAVING COUNT(DISTINCT doc_id) >= 2),
flagged AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
  FROM e JOIN dup USING (ngram) GROUP BY doc_id
)
SELECT d.doc_id, CAST(len(d.grams) AS BIGINT) AS n_grams,
  COALESCE(f.n_dup, 0) AS n_dup,
  ROUND(COALESCE(f.n_dup, 0) / (len(d.grams) * 1.0), 9) AS dup_ratio
FROM d LEFT JOIN flagged f ON d.doc_id = f.doc_id
"""


# ---------------------------------------------------------------------------
# BPE training oracle: the 12-round iterative argmax, unrolled into chained
# materialized CTEs (mirror of operators/bpe.py::bpe_train — same word split,
# char-level initial symbols, weighted overlapping pair counts, (count DESC,
# "a b" ASC) tiebreak, and greedy left-to-right non-overlapping merge; the
# merge is a list_reduce over singleton lists, correct because a merged
# symbol a||b can never re-match the left symbol a within the same round).
# ---------------------------------------------------------------------------


def _bpe_merges_sql(n_merges: int = 12) -> str:
    parts = ["""w AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
  WHERE len(word) > 0 GROUP BY word
),
v0 AS MATERIALIZED (SELECT cnt, string_split(word, '') AS syms FROM w)"""]
    for i in range(n_merges):
        parts.append(f"""t{i} AS MATERIALIZED (
  SELECT split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b
  FROM (
    SELECT pair, SUM(cnt) AS n
    FROM (SELECT cnt, UNNEST(list_transform(generate_series(1, len(syms)-1),
                 k -> syms[k] || ' ' || syms[k+1])) AS pair
          FROM v{i} WHERE len(syms) > 1)
    GROUP BY pair HAVING SUM(cnt) >= 2
    ORDER BY n DESC, pair ASC LIMIT 1
  )
)""")
        if i + 1 < n_merges:
            parts.append(f"""v{i + 1} AS MATERIALIZED (
  SELECT cnt,
    CASE WHEN len(syms) < 2 THEN syms ELSE
      list_reduce(list_transform(syms, s -> [s]),
        (acc, x) -> CASE WHEN acc[len(acc)] = t.a AND x[1] = t.b
                    THEN list_concat(acc[1:len(acc)-1], [acc[len(acc)] || x[1]])
                    ELSE list_concat(acc, x) END)
    END AS syms
  FROM v{i}, t{i} t
)""")
    selects = "\nUNION ALL\n".join(
        f'SELECT CAST({i} AS INTEGER) AS merge_rank, a AS "left", b AS "right" FROM t{i}'
        for i in range(n_merges))
    return ("WITH " + ",\n".join(parts)
            + "\nSELECT * FROM (\n" + selects + "\n) ORDER BY merge_rank")


BPE_MERGES = _bpe_merges_sql(12)
