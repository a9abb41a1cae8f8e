"""Multimodal (image payload) operators — the graft's payload axis.

Images are opaque ``binary`` columns with typed metadata (input_hint
schema). Decode/resize/feature-extract run as Arrow-batched
``mapInPandas`` kernels directly over the scan — the bytes column never
passes through a shuffle (SURVEY.md §7.4 image-payload discipline);
hash-level ops (dedup, near-dup) project the tiny ``phash`` column
first and never touch bytes at all.

Codecs: real PNG + the deterministic lossy ``qnt`` stand-in (no JPEG
lib in this container — codecs/png.py documents the stub boundary).
Unknown formats surface as ``decode_ok = false`` rows rather than
failing the batch, mirroring a production pipeline's quarantine lane.

- ``decode_stats``: decode -> per-image pixel stats + PSNR-vs-lossy
  roundtrip + stored-phash verification (the BASELINE.json per-row
  invariant: lossless bit-exact, lossy PSNR >= 40 dB, recomputed phash
  == stored phash).
- ``resize_images``: block-mean downsample to a fixed thumbnail side,
  re-encoded as PNG (pure numpy — a real transform, not a stub).
- ``phash_dedup``: exact perceptual-hash grouping (A4-style distinct),
  SQL-oracled on the stored phash column.
- ``phash_neardup_pairs``: hamming <= 3 pairs via the 4x16-bit band
  join (pigeonhole-complete for <= 3, same machinery as simhash),
  SQL-oracled against a brute-force bit_count(xor()) cross join.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..codecs.png import decode_image, decode_qnt, encode_png, encode_qnt, phash64, psnr_db

_STATS_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("decode_ok", BooleanType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("mean", DoubleType()),
        StructField("std", DoubleType()),
        StructField("p_dark", DoubleType()),  # fraction of pixels < 64
        StructField("lossy_psnr_db", DoubleType()),
        StructField("phash_ok", BooleanType()),
    ]
)


def decode_stats(images: DataFrame) -> DataFrame:
    """Decode every image and emit pixel statistics + the per-row
    invariants (phash match, lossy-roundtrip PSNR)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    img = decode_image(r.bytes, r.fmt)
                except (NotImplementedError, ValueError):
                    rows.append((r.image_id, False, None, None, None, None, None, None, None))
                    continue
                f = img.astype(np.float64)
                psnr = psnr_db(img, decode_qnt(encode_qnt(img, q=4)))
                rows.append(
                    (
                        r.image_id,
                        True,
                        int(img.shape[1]),
                        int(img.shape[0]),
                        round(float(f.mean()), 3),
                        round(float(f.std()), 3),
                        round(float((img < 64).mean()), 6),
                        round(min(psnr, 99.0), 3),  # inf (bit-exact) caps at 99
                        phash64(img) == r.phash,
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in _STATS_SCHEMA.fields])

    return images.select("image_id", "bytes", "fmt", "phash").mapInPandas(gen, schema=_STATS_SCHEMA)


_RESIZE_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("thumb", BinaryType()),
    ]
)


def _block_mean_resize(img: np.ndarray, side: int) -> np.ndarray:
    """Exact block-mean downsample to (side, side) — boundary-weighted so
    any input size works (deterministic, no interpolation libs)."""
    h, w = img.shape
    ys = (np.arange(side + 1) * h) // side
    xs = (np.arange(side + 1) * w) // side
    # integral image for O(1) block sums
    ii = np.zeros((h + 1, w + 1), dtype=np.int64)
    ii[1:, 1:] = np.cumsum(np.cumsum(img.astype(np.int64), axis=0), axis=1)
    out = np.empty((side, side), dtype=np.uint8)
    for i in range(side):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        s = ii[y1, xs[1:]] - ii[y0, xs[1:]] - ii[y1, xs[:-1]] + ii[y0, xs[:-1]]
        area = (y1 - y0) * np.maximum(np.diff(xs), 1)
        out[i] = (s // area).astype(np.uint8)
    return out


def resize_images(images: DataFrame, side: int = 32) -> DataFrame:
    """Thumbnail every decodable image to (side, side), PNG-encoded."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    img = decode_image(r.bytes, r.fmt)
                except (NotImplementedError, ValueError):
                    continue
                rows.append((r.image_id, side, side, encode_png(_block_mean_resize(img, side))))
            yield pd.DataFrame(rows, columns=["image_id", "w", "h", "thumb"])

    return images.select("image_id", "bytes", "fmt").mapInPandas(gen, schema=_RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# phash-level dedup (bytes never read)
# ---------------------------------------------------------------------------


def phash_dedup(images: DataFrame) -> DataFrame:
    """(phash, keep_image_id, n_copies): exact perceptual-hash groups."""
    return (
        images.select("image_id", "phash")
        .groupBy("phash")
        .agg(F.min("image_id").alias("keep_image_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def phash_dedup_oracle_sql(fix: str) -> str:
    return f"""
SELECT phash, min(image_id) AS keep_image_id, count(*) AS n_copies
FROM read_parquet('{fix}/images.parquet') GROUP BY phash
"""


MAX_HAMMING = 3  # 4 bands x 16 bits: pigeonhole-complete for hamming <= 3


def phash_neardup_pairs(images: DataFrame, max_hamming: int = MAX_HAMMING) -> DataFrame:
    """(img_a, img_b, hamming): near-duplicate images by phash hamming
    distance, via the 16-bit band equi-join (no cross product)."""
    ph = images.select("image_id", "phash")
    bands = ph.select(
        "image_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_id"),
                        F.shiftright("phash", 16 * k).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("bb"),
    ).select("image_id", "phash", F.col("bb.band_id").alias("band_id"), F.col("bb.chunk").alias("chunk"))
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.image_id") < F.col("b.image_id")),
        )
        .select(
            F.col("a.image_id").alias("img_a"),
            F.col("b.image_id").alias("img_b"),
            F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash"))).cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def phash_neardup_oracle_sql(fix: str, max_hamming: int = MAX_HAMMING) -> str:
    """Brute-force oracle: bit_count(xor()) over all ordered pairs."""
    return f"""
SELECT a.image_id AS img_a, b.image_id AS img_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM read_parquet('{fix}/images.parquet') a
JOIN read_parquet('{fix}/images.parquet') b
  ON a.image_id < b.image_id AND bit_count(xor(a.phash, b.phash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# cross-modal near-dup (image phash AND caption shingles agree)
# ---------------------------------------------------------------------------

CAPTION_JACCARD_T = 0.4


def crossmodal_neardup(
    images: DataFrame,
    max_hamming: int = MAX_HAMMING,
    jaccard_t: float = CAPTION_JACCARD_T,
) -> DataFrame:
    """(img_a, img_b, hamming, jaccard): pairs that are near-duplicates
    in BOTH modalities — phash hamming <= max_hamming AND caption
    word-3-gram Jaccard >= jaccard_t.

    Two-modality agreement is the production cross-check for scraped
    image+caption corpora: pixel-only near-dup merges distinct posts
    sharing a stock photo; caption-only merges distinct photos sharing a
    boilerplate caption. Requiring both kills each failure mode.

    Plan shape: candidates come from the 16-bit phash band equi-join
    (sub-quadratic, pigeonhole-complete for the hamming bound —
    ``phash_neardup_pairs``); the caption Jaccard is then verified
    JVM-side with array_intersect/array_union on the BOUNDED candidate
    set only, so caption shingles of non-candidate rows never join.
    At 100 TB both sides shuffle only (id, 8-byte hash/band) rows plus
    candidate captions — never image bytes."""
    pairs = phash_neardup_pairs(images, max_hamming)
    from .dedup import _SHINGLE_EXPR

    sh = (
        images.select("image_id", F.split(F.trim("caption"), " ").alias("ws"))
        .select(
            "image_id",
            F.when(F.size("ws") >= 3, F.array_distinct(F.expr(_SHINGLE_EXPR)))
            .otherwise(F.array(F.concat_ws(" ", "ws")))
            .alias("sh"),
        )
    )
    a = sh.select(F.col("image_id").alias("img_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("image_id").alias("img_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        pairs.join(a, "img_a")
        .join(b, "img_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_t)
        .select("img_a", "img_b", "hamming", "jaccard")
    )


def crossmodal_neardup_oracle_sql(
    fix: str, max_hamming: int = MAX_HAMMING, jaccard_t: float = CAPTION_JACCARD_T
) -> str:
    """Brute-force oracle: all phash-hamming pairs (no banding), caption
    shingles recomputed relationally (ngram_jaccard pattern). Doubles as
    a band-recall gate: a pair the banded path misses reds this row."""
    img = f"read_parquet('{fix}/images.parquet')"
    return f"""
WITH toks AS (
  SELECT image_id, string_split(trim(caption), ' ') AS ws FROM {img}
), sh AS (
  SELECT DISTINCT image_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM toks, unnest(generate_series(1, len(ws) - 2)) AS t(i)
  WHERE len(ws) >= 3
  UNION
  SELECT image_id, trim(caption) AS shingle FROM {img}
  WHERE len(string_split(trim(caption), ' ')) < 3
), n AS (SELECT image_id, count(*) AS n FROM sh GROUP BY image_id),
cand AS (
  SELECT a.image_id AS img_a, b.image_id AS img_b,
         CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
  FROM {img} a JOIN {img} b
    ON a.image_id < b.image_id AND bit_count(xor(a.phash, b.phash)) <= {max_hamming}
), i AS (
  SELECT sa.image_id AS img_a, sb.image_id AS img_b, count(*) AS i
  FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.image_id < sb.image_id
  GROUP BY 1, 2
)
SELECT img_a, img_b, hamming, jaccard FROM (
  SELECT c.img_a, c.img_b, c.hamming,
         round(CAST(coalesce(i.i, 0) AS DOUBLE)
               / (na.n + nb.n - coalesce(i.i, 0)), 6) AS jaccard
  FROM cand c
  LEFT JOIN i ON i.img_a = c.img_a AND i.img_b = c.img_b
  JOIN n na ON na.image_id = c.img_a
  JOIN n nb ON nb.image_id = c.img_b
) WHERE jaccard >= {jaccard_t}
"""


# ---------------------------------------------------------------------------
# image near-dup cluster resolution (round 4)
# ---------------------------------------------------------------------------


def phash_clusters(images: DataFrame, max_hamming: int = MAX_HAMMING) -> DataFrame:
    """(image_id, cluster_id, is_keeper): transitive closure over the
    phash near-dup pairs — the image-side twin of the text pipeline's
    ``dedup_clusters`` (the same driver-side union-find,
    ``dedup.connected_components``). cluster_id = lexicographic-min
    image_id of the component; singletons keep themselves. A lazy plan
    with nothing cached."""
    from .dedup import connected_components

    pairs = phash_neardup_pairs(images, max_hamming).select("img_a", "img_b")
    labels = connected_components(pairs, images.select("image_id"))
    return labels.select(
        F.col("id").alias("image_id"),
        F.col("lab").alias("cluster_id"),
        (F.col("id") == F.col("lab")).alias("is_keeper"),
    )


def phash_clusters_oracle_sql(fix: str, max_hamming: int = MAX_HAMMING) -> str:
    """Recursive min-label reachability over the brute-force hamming
    pairs (same differential shape as dedup_clusters' oracle; the
    ``r.lab < e.b`` prune keeps the recursion linear)."""
    return f"""
WITH RECURSIVE edges AS (
  SELECT a.image_id AS ea, b.image_id AS eb
  FROM read_parquet('{fix}/images.parquet') a
  JOIN read_parquet('{fix}/images.parquet') b
    ON a.image_id < b.image_id AND bit_count(xor(a.phash, b.phash)) <= {max_hamming}
  UNION ALL
  SELECT b.image_id, a.image_id
  FROM read_parquet('{fix}/images.parquet') a
  JOIN read_parquet('{fix}/images.parquet') b
    ON a.image_id < b.image_id AND bit_count(xor(a.phash, b.phash)) <= {max_hamming}
), reach(node, lab) AS (
  SELECT image_id, image_id FROM read_parquet('{fix}/images.parquet')
  UNION
  SELECT e.eb, r.lab FROM reach r JOIN edges e ON e.ea = r.node WHERE r.lab < e.eb
)
SELECT node AS image_id, min(lab) AS cluster_id, (node = min(lab)) AS is_keeper
FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# skyline: 2D pareto frontier over image resolution
# ---------------------------------------------------------------------------


def skyline_images(images: DataFrame) -> DataFrame:
    """(image_id, w, h): the resolution skyline — images for which no
    other image is at least as large in BOTH dimensions and strictly
    larger in one (the classic pareto / maximal-vector operator; a
    curation pipeline uses it to pick "best available resolution"
    candidates before decode). Ties on (w, h) all survive.

    Plan shape (100 TB): the corpus reduces to DISTINCT-WIDTH rows with
    one partial-aggregated groupBy (max h per w) — the skyline of a 2D
    set is a function of that vocabulary only. The dominance test is a
    running max over widths-descending, expressed as an ASC range frame
    on negated width so both engines use the identical frame semantics
    (w' > w  <=>  -w' <= -w - 1); the single-partition window is
    bounded by the number of DISTINCT widths (hardware-enumerable,
    ~10^3), never by corpus size. Survivors broadcast-join back to tag
    image ids; image bytes are never read (ReadSchema prunes to
    image_id, w, h).
    """
    from pyspark.sql import Window

    per_w = images.groupBy("w").agg(F.max("h").alias("hx")).withColumn("nw", -F.col("w"))
    win = Window.orderBy("nw").rangeBetween(Window.unboundedPreceding, -1)
    sky = (
        per_w.withColumn("mprev", F.max("hx").over(win))
        .filter(F.col("mprev").isNull() | (F.col("hx") > F.col("mprev")))
        .select("w", F.col("hx").alias("h"))
    )
    return images.join(F.broadcast(sky), ["w", "h"]).select("image_id", "w", "h")


def skyline_images_oracle_sql(fix: str) -> str:
    """Independent dominance recompute (NOT EXISTS anti-join) — a
    different algorithm than Spark's running-max window, same set."""
    return f"""
WITH img AS (
  SELECT image_id, w, h FROM read_parquet('{fix}/images.parquet')
)
SELECT a.image_id, a.w, a.h
FROM img a
WHERE NOT EXISTS (
  SELECT 1 FROM img b
  WHERE b.w >= a.w AND b.h >= a.h AND (b.w > a.w OR b.h > a.h)
)
"""


# ---------------------------------------------------------------------------
# phash kNN: Hamming-space gallery search (top-k per query image)
# ---------------------------------------------------------------------------

PHKNN_K = 5
PHKNN_QMOD = 16  # ~1/16 of images form the deterministic query batch
# largest query batch phash_knn collects to the driver and broadcasts
PHKNN_MAX_QUERIES = 4_000_000

_POPCNT8 = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(axis=1)


def phash_knn(images: DataFrame, k: int = PHKNN_K, qmod: int = PHKNN_QMOD) -> DataFrame:
    """(query_id, rank, neighbor_id, hamming): exact top-k nearest gallery
    images per query image under phash Hamming distance — reverse-image
    gallery search, the Hamming-space sibling of ``cosine_topk_bruteforce``
    (same production framing: a bounded deterministic QUERY BATCH against
    the full corpus, the unit a matrix/retrieval service shards by).

    Query batch: images whose md5-derived 60-bit key ≡ 0 (mod ``qmod``) —
    the sampling.py cross-engine idiom, so DuckDB selects the identical
    set. Ranking is total-ordered by (hamming, neighbor_id), so top-k is
    unique under any plan.

    Scale shape (10^12 images): the GALLERY NEVER SHUFFLES — the query
    batch (|corpus|/qmod rows x (id string + 8-byte hash) — the id
    strings, not the hashes, dominate driver memory; the
    ``PHKNN_MAX_QUERIES`` guard enforces the request-batch assumption)
    broadcasts into a mapInPandas partial top-k over each gallery Arrow
    batch (vectorized uint8-LUT popcount, queries chunked
    256 at a time to bound the XOR matrix), emitting k rows per query
    per batch; ONE window exchange then merges the Q x k x n_batches
    partials. Only (id, phash) project out of the scan — image bytes are
    never read (ReadSchema-pruned like phash_neardup). The query arrays
    ride in the kernel's closure (as ``pip_join``'s edge arrays), so the
    result is a lazy plan with nothing to release.
    """
    from pyspark.sql import Window

    key = F.conv(F.substring(F.md5(F.col("image_id").cast("binary")), 1, 15), 16, 10).cast(
        "bigint"
    )
    ph = images.select("image_id", "phash")
    # the query batch is ~|corpus|/qmod rows of (string id + 8-byte hash)
    # — id strings dominate the footprint, not the hashes. Guard the
    # request-batch assumption before the batch reaches the driver: collect
    # at most one row past the bound. PySpark ships the kernel's closure
    # as a broadcast for the plan's lifetime once it passes 1 MB.
    queries = ph.filter(key % qmod == 0).limit(PHKNN_MAX_QUERIES + 1).collect()
    if len(queries) > PHKNN_MAX_QUERIES:
        raise ValueError(
            f"phash_knn: query batch exceeds the broadcast guard "
            f"({PHKNN_MAX_QUERIES} rows) — raise qmod so the batch stays "
            "request-sized, or shard the query set"
        )
    q_ids = np.array([q.image_id for q in queries])
    q_ph = np.array([q.phash for q in queries], dtype=np.int64).view(np.uint64)

    schema = "query_id string, neighbor_id string, hamming int"

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if len(q_ids) == 0:
            return
        for pdf in batches:
            g_ids = pdf["image_id"].to_numpy(dtype="U")
            g_ph = pdf["phash"].to_numpy(dtype=np.int64).view(np.uint64)
            out_q, out_n, out_h = [], [], []
            for s in range(0, len(q_ids), 256):
                qc = q_ph[s : s + 256]
                x = (qc[:, None] ^ g_ph[None, :]).view(np.uint8).reshape(len(qc), -1, 8)
                ham = _POPCNT8[x].sum(axis=2).astype(np.int32)
                for i in range(len(qc)):
                    qid = q_ids[s + i]
                    mask = g_ids != qid
                    ids, hs = g_ids[mask], ham[i][mask]
                    if len(ids) == 0:
                        continue
                    order = np.lexsort((ids, hs))[:k]
                    out_q.extend([qid] * len(order))
                    out_n.extend(ids[order])
                    out_h.extend(hs[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "hamming": np.array(out_h, dtype=np.int32)}
            )

    part = ph.mapInPandas(partials, schema)
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("neighbor_id"))
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "hamming")
    )


def phash_knn_oracle_sql(fix: str, k: int = PHKNN_K, qmod: int = PHKNN_QMOD) -> str:
    """Brute-force oracle: popcount over query x gallery, ranked."""
    return f"""
WITH q AS (
  SELECT image_id, phash FROM read_parquet('{fix}/images.parquet')
  WHERE CAST('0x' || substr(md5(image_id), 1, 15) AS BIGINT) % {qmod} = 0
),
pairs AS (
  SELECT q.image_id AS query_id, g.image_id AS neighbor_id,
         CAST(bit_count(xor(q.phash, g.phash)) AS INT) AS hamming
  FROM q JOIN read_parquet('{fix}/images.parquet') g ON g.image_id <> q.image_id
),
ranked AS (
  SELECT query_id, neighbor_id, hamming,
         row_number() OVER (PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, hamming
FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# caption template mining: boilerplate detection over the caption corpus
# ---------------------------------------------------------------------------

TEMPLATE_N = 4
TEMPLATE_MIN_CAPTIONS = 2


def caption_templates(
    images: DataFrame, n: int = TEMPLATE_N, min_captions: int = TEMPLATE_MIN_CAPTIONS
) -> DataFrame:
    """(ngram, n_captions): caption word n-grams appearing in >=
    ``min_captions`` DISTINCT captions — the boilerplate/template miner
    a multimodal curation pipeline runs before caption dedup ("stock
    photo of", watermark phrases, scraper artifacts inflate n-gram
    frequency far above natural language). The doc_repetition /
    bpe_pair_counts discipline applied to the IMAGE side: templated
    captions are to image-text corpora what duplicated spans are to
    text corpora.

    Scale shape: ONE corpus-sized aggregate — JVM
    ``transform(sequence(...))`` n-grams (zero Python), array_distinct
    per caption so a phrase repeated INSIDE one caption counts once,
    partial+final count on the exchange; output is vocabulary-sized.
    Image bytes never read (ReadSchema prunes to caption only).
    """
    expr = (
        f"transform(sequence(0, size(ws) - {n}), "
        + "i -> concat_ws(' ', "
        + ", ".join(f"ws[i+{k}]" for k in range(n))
        + "))"
    )
    return (
        images.select(F.split(F.trim("caption"), " ").alias("ws"))
        .filter(F.size("ws") >= n)
        .select(F.explode(F.array_distinct(F.expr(expr))).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_captions"))
        .filter(F.col("n_captions") >= min_captions)
    )


def caption_templates_oracle_sql(
    fix: str, n: int = TEMPLATE_N, min_captions: int = TEMPLATE_MIN_CAPTIONS
) -> str:
    ng = " || ' ' || ".join(f"ws[i+{k}]" for k in range(n))
    return f"""
WITH t AS (
  SELECT image_id, string_split(trim(caption), ' ') AS ws
  FROM read_parquet('{fix}/images.parquet')
),
g AS (
  SELECT DISTINCT image_id, {ng} AS ngram
  FROM t, unnest(generate_series(1, len(ws) - {n - 1})) AS u(i)
  WHERE len(ws) >= {n}
)
SELECT ngram, count(*) AS n_captions FROM g GROUP BY ngram
HAVING count(*) >= {min_captions}
"""
