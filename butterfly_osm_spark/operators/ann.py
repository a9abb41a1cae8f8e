"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce`` / ``embedding_neardup_pairs``: exact cosine
  kernels sharing one block-pair gemm — embeddings pack into ~n/B-row
  block matrices, every unordered block pair (i<=j) becomes ONE shuffle
  group, and a cogrouped gemm computes the cross-block cosine tile.
  Fully distributed: nothing is ever collected to the driver; the pair
  grid is the Spark analog of the reference's K-lane SoA batching
  (route/src/matrix/batched_phast.rs:19-24).  O(n^2) compute stays — the
  exact kernels are the correctness baseline / bounded re-rank stage;
  the LSH path below is the sub-quadratic route at 10^12 rows.
- ``cosine_topk_lsh``: random-hyperplane LSH — sign-bit sketch against a
  FIXTURE-MATERIALIZED plane matrix (so a SQL engine can replicate the
  whole pipeline as a differential oracle), band-chunk bucket join,
  exact cosine re-rank of candidates only.  Banding is parametric:
  ``bits_per_band`` sets the bucket space per band (2^bits buckets);
  at web scale pick bits ~ log2(n) so expected bucket occupancy stays
  O(1) and the candidate set is O(bands * n) instead of O(n^2) — the
  16-bit preset (``LSH_SCALE_BANDS/BITS``) is the 10^12-row shape, the
  8-bit default keeps mid-cosine recall useful on near-orthogonal data.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


def _norm_dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _self_norm(c: str):
    return F.aggregate(
        F.transform(F.col(c), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# target rows per block: measured sweet spot at 100k x 64d on local[8] —
# a ~1600-row block keeps the per-pair cosine tile (~2.5M doubles) inside
# cache-friendly territory; 4096-row blocks were 1.7x slower (memory
# traffic on the round/outer/argpartition passes dominates) and
# 12k-row blocks 7x slower. Shuffle volume grows as B x corpus bytes, so
# don't shrink blocks further without need.
_BLOCK_ROWS = 1600
_MAX_BLOCKS = 512

_BLOCK_SCHEMA = StructType(
    [
        StructField("block_id", IntegerType()),
        StructField("ids", BinaryType()),
        StructField("flat", BinaryType()),
    ]
)

_PAIR_OUT = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cos", DoubleType()),
    ]
)


def _auto_blocks(embeddings: DataFrame, n_blocks: int | None) -> int:
    if n_blocks is not None:
        return n_blocks
    n = embeddings.count()
    return max(1, min(_MAX_BLOCKS, math.ceil(n / _BLOCK_ROWS)))


def _pack_blocks(embeddings: DataFrame, n_blocks: int) -> DataFrame:
    """(block_id, ids BINARY, flat BINARY): embeddings packed into block
    matrices — int64/float64 raw bytes (Arrow moves them as single binary
    cells; python-list packing of 60k floats was the dominant cost)."""

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        return pd.DataFrame(
            {
                "block_id": [key[0]],
                "ids": [pdf["vec_id"].to_numpy(np.int64).tobytes()],
                "flat": [m.tobytes()],
            }
        )

    from ..partitioning import repartition_for_python_groups

    tagged = embeddings.select(
        "vec_id", "embedding", (F.abs(F.xxhash64("vec_id")) % n_blocks).cast("int").alias("block_id")
    )
    tagged = repartition_for_python_groups(tagged, "block_id")
    return tagged.groupBy("block_id").applyInPandas(pack, schema=_BLOCK_SCHEMA)


def _topk_rows(cos: np.ndarray, ids_b: np.ndarray, k: int):
    """Per-row top-k of (cos desc, id asc) — argpartition fast path with an
    exact full-sort fallback for rows whose boundary tie could extend past
    the selection margin."""
    n, m = cos.shape
    kk = min(k, m)
    margin = min(m, kk + 32)
    part = np.argpartition(-cos, margin - 1, axis=1)[:, :margin]
    sub = np.take_along_axis(cos, part, axis=1)
    sub_ids = ids_b[part]
    o = np.lexsort((sub_ids, -sub), axis=1)
    sel = np.take_along_axis(part, o[:, :kk], axis=1)
    if margin < m:
        sorted_sub = np.take_along_axis(sub, o, axis=1)
        risky = sorted_sub[:, margin - 1] == sorted_sub[:, kk - 1]
        for i in np.nonzero(risky)[0]:  # rare: tie spans the margin edge
            full = np.lexsort((ids_b, -cos[i]))[:kk]
            sel[i] = full
    return sel


def _pair_grid(blocks: DataFrame, n_blocks: int) -> DataFrame:
    """Replicate each block row to every unordered pair group it belongs
    to: block i lands in groups {(min(i,j), max(i,j)) : j in 0..B-1},
    keyed pair_id = lo*B + hi.  This is the shuffled block-pair join —
    total shuffle volume is B x |embeddings| bytes, spread over B(B+1)/2
    independent gemm tasks; no driver collect, no SparkContext broadcast."""
    pair_expr = F.expr(
        f"transform(sequence(0, {n_blocks - 1}), j -> "
        f"CAST(least(block_id, j) * {n_blocks} + greatest(block_id, j) AS INT))"
    )
    return blocks.select(F.explode(pair_expr).alias("pair_id"), "block_id", "ids", "flat")


def _block_pair_partials(
    embeddings: DataFrame,
    mode: str,
    k: int = 5,
    tau: float = 0.95,
    n_blocks: int | None = None,
) -> DataFrame:
    """Shared exact-cosine kernel over the block-pair grid.

    mode='topk'  -> per-query partial top-k rows (merge with a window)
    mode='thresh'-> ordered (vec_id < neighbor_id) pairs with cos >= tau
    """
    B = _auto_blocks(embeddings, n_blocks)
    grid = _pair_grid(_pack_blocks(embeddings, B), B)
    empty = pd.DataFrame(
        {
            "vec_id": pd.Series(dtype=np.int64),
            "neighbor_id": pd.Series(dtype=np.int64),
            "cos": pd.Series(dtype=np.float64),
        }
    )

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = divmod(int(key[0]), B)
        got = {}
        for r in pdf.itertuples(index=False):
            ids = np.frombuffer(r.ids, dtype=np.int64)
            got[int(r.block_id)] = (ids, np.frombuffer(r.flat, dtype=np.float64).reshape(len(ids), -1))
        if i not in got or j not in got:  # partner block empty at this B
            return empty
        ids_a, A = got[i]
        ids_b, Bm = got[j]
        na = np.sqrt((A * A).sum(axis=1))
        nb = np.sqrt((Bm * Bm).sum(axis=1))
        cos = np.round((A @ Bm.T) / np.outer(na, nb), 6)
        if mode == "thresh":
            mask = cos >= tau
            if i == j:
                mask &= ids_a[:, None] < ids_b[None, :]
            ai, bi = np.nonzero(mask)
            va, vb = ids_a[ai], ids_b[bi]
            return pd.DataFrame(
                {
                    "vec_id": np.minimum(va, vb),
                    "neighbor_id": np.maximum(va, vb),
                    "cos": cos[ai, bi],
                }
            )
        out = []

        def emit(cm: np.ndarray, qids: np.ndarray, cids: np.ndarray) -> None:
            kk = min(k, cm.shape[1])
            sel = _topk_rows(cm, cids, kk)
            rows = np.repeat(qids, kk)
            nbrs = cids[sel.ravel()]
            cvals = np.take_along_axis(cm, sel, axis=1).ravel()
            keep = np.isfinite(cvals)
            out.append(pd.DataFrame({"vec_id": rows[keep], "neighbor_id": nbrs[keep], "cos": cvals[keep]}))

        if i == j:
            cm = cos.copy()
            cm[ids_a[:, None] == ids_b[None, :]] = -np.inf  # exclude self
            emit(cm, ids_a, ids_b)
        else:
            emit(cos, ids_a, ids_b)
            emit(np.ascontiguousarray(cos.T), ids_b, ids_a)
        return pd.concat(out) if out else empty

    # the gemm groups are few but compute-heavy — pin the gather's
    # parallelism so AQE byte-coalescing cannot serialize them
    # (partitioning.py; the B(B+1)/2 pair groups are the unit of scaling)
    from ..partitioning import repartition_for_python_groups

    grid = repartition_for_python_groups(grid, "pair_id")
    return grid.groupBy("pair_id").applyInPandas(kernel, schema=_PAIR_OUT)


def cosine_topk_bruteforce(embeddings: DataFrame, k: int = 5, n_blocks: int | None = None) -> DataFrame:
    """(vec_id, rank, neighbor_id, cos) — exact top-k by cosine, ties by
    neighbor id; cos rounded to 6 dp BEFORE ranking (matches the oracle).
    Each block pair contributes a per-query partial top-k; a global
    window merges the partials exactly."""
    partials = _block_pair_partials(embeddings, "topk", k=k, n_blocks=n_blocks)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cos")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, tau: float = 0.95, n_blocks: int | None = None
) -> DataFrame:
    """(vec_id, neighbor_id, cos): ALL ordered pairs with cosine >= tau —
    exact embedding near-duplicate detection (the dedup mandate's
    embedding-cosine flavor).  Same block-pair gemm, threshold emission:
    each unordered pair lives in exactly one block-pair group, so no
    post-dedup is needed."""
    return _block_pair_partials(embeddings, "thresh", tau=tau, n_blocks=n_blocks)


def embedding_neardup_oracle_sql(tau: float = 0.95, src: str = "embeddings") -> str:
    """Exact thresholded pairs; ``src`` is the table/read_parquet source.
    Against the LSH variant this doubles as a RECALL gate (minhash_lsh
    pattern): a red row means the banded sketch started missing true
    near-dup pairs on the frozen data+planes."""
    return f"""
SELECT a.vec_id, b.vec_id AS neighbor_id,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])
                    * list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 6) AS cos
FROM {src} a JOIN {src} b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
            / sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])
                   * list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 6) >= {tau}
"""


def cosine_topk_oracle_sql(k: int = 5) -> str:
    """DuckDB oracle: same metric via explicit zipped-list fold."""
    return f"""
WITH pairs AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])
                      * list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 6) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
), ranked AS (
  SELECT vec_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM pairs)
SELECT vec_id, CAST(rank AS INT) AS rank, neighbor_id, cos
FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# LSH-bucketed variant (scale path)
# ---------------------------------------------------------------------------

N_PLANES = 128
# default banding: 16 bands x 8 bits — useful mid-cosine recall on
# near-orthogonal data with a ~n^2/32 candidate set at fixture n.
N_BANDS = 16
BITS_PER_BAND = N_PLANES // N_BANDS
# web-scale preset: 8 bands x 16 bits (65 536 buckets/band) — the shape
# for the high-similarity near-dup regime at 10^12 rows, where bucket
# occupancy must stay O(1); see tests/test_approx_ops.py for the seeded
# high-similarity recall + candidate-count gate on this preset.
LSH_SCALE_BANDS, LSH_SCALE_BITS = 8, 16


def lsh_planes(dim: int = 64, n_planes: int = N_PLANES) -> np.ndarray:
    """Deterministic hyperplane matrix (Philox key 42) — the SAME values
    are materialized as the ``lsh_planes`` fixture parquet so a SQL
    engine can recompute the sketch bits as a differential oracle."""
    rng = np.random.Generator(np.random.Philox(key=42))
    return rng.standard_normal((n_planes, dim))


def make_chunks_udf(dim: int, n_bands: int = N_BANDS, bits: int = BITS_PER_BAND):
    """pandas UDF: embedding -> array<long> of band chunks. Bit i of band
    b is sign(dot(v, plane[b*bits+i])) — strict > 0, matching the SQL
    oracle's CASE WHEN dot > 0."""
    planes = lsh_planes(dim, n_bands * bits)

    from pyspark.sql.types import ArrayType

    @F.pandas_udf(ArrayType(LongType()))
    def chunks(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy()).astype(np.float64)  # (batch, dim)
        signs = (m @ planes.T) > 0  # (batch, n_bands*bits)
        weights = (1 << np.arange(bits, dtype=np.uint64)).astype(np.uint64)
        out = []
        for row in signs:
            per_band = row.reshape(n_bands, bits).astype(np.uint64) @ weights
            out.append(per_band.astype(np.int64).tolist())
        return pd.Series(out)

    return chunks


def auto_probe_bits(n_rows: int, bits: int = BITS_PER_BAND) -> int:
    """Multiprobe policy from the measured cost/recall regimes (PLANS.md
    multiprobe table) so mid-cosine recall does not depend on the caller
    knowing the knob:

    - scale preset (bits >= LSH_SCALE_BITS) -> 0 probes: the 16-bit
      bucket space is sized for the high-similarity near-dup regime where
      banding alone has near-unit recall (measured 0.983@k=10 at 10^6
      rows); probing would only multiply the query-side rows.
    - over-provisioned buckets (2^bits >= corpus) -> 0 probes: each band
      chunk is already near-unique, banding collisions dominate recall.
    - under-provisioned narrow buckets (the 8-bit default on a corpus
      bigger than its 256 buckets/band) -> 2 probes: the measured 2-flip
      neighborhood lifts mid-cosine pair recall from <0.7 to >= 0.95 at a
      37x query-side row factor (and query-side ONLY — the corpus side of
      the bucket join is untouched).

    Explicit ``probe_bits`` overrides always win; this is only the
    default."""
    if bits >= LSH_SCALE_BITS or (1 << bits) >= n_rows:
        return 0
    return 2


def _probe_masks(bits: int, probe_bits: int) -> list[int]:
    """All XOR masks of popcount <= probe_bits over a ``bits``-wide chunk
    (mask 0 first = the exact bucket)."""
    from itertools import combinations

    masks = [0]
    for r in range(1, probe_bits + 1):
        for pos in combinations(range(bits), r):
            masks.append(sum(1 << p for p in pos))
    return masks


def lsh_candidates(
    embeddings: DataFrame,
    dim: int = 64,
    n_bands: int = N_BANDS,
    bits: int = BITS_PER_BAND,
    query_ids: DataFrame | None = None,
    probe_bits: int = 0,
) -> DataFrame:
    """Distinct (vec_id, neighbor_id) candidate pairs from the band-chunk
    bucket join (vec_id != neighbor_id, both directions kept for top-k).

    ``query_ids`` (a one-column ``vec_id`` frame) restricts the QUERY side
    to a subset while the corpus side stays full — the production "query
    batch vs corpus" shape; the bucket join then produces only the sampled
    queries' candidates.

    ``probe_bits`` > 0 enables MULTIPROBE: the query side also visits every
    bucket within Hamming distance ``probe_bits`` of its own chunk (chunk
    XOR mask, masks generated JVM-side as a literal explode). Sign-bit LSH
    recall is similarity-dependent — banding alone targets the near-dup
    regime; probing the 1-2-flip neighborhood is the standard lever for
    mid-cosine retrieval, multiplying the query-side band rows by
    sum(C(bits, i)) for i <= probe_bits while the corpus side (the big,
    10^12-row side at scale) is untouched."""
    ch = make_chunks_udf(dim, n_bands, bits)
    bands = (
        embeddings.select("vec_id", F.posexplode(ch("embedding")).alias("band_id", "chunk"))
    )
    qside = bands
    if query_ids is not None:
        qside = bands.join(F.broadcast(query_ids), "vec_id", "left_semi")
    if probe_bits > 0:
        masks = _probe_masks(bits, probe_bits)
        qside = qside.select(
            "vec_id",
            "band_id",
            F.explode(F.array(*[F.lit(m) for m in masks])).alias("mask"),
            "chunk",
        ).select(
            "vec_id", "band_id", F.col("chunk").bitwiseXOR(F.col("mask")).alias("chunk")
        )
    a = qside.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_id"), F.col("b.vec_id").alias("neighbor_id"))
        .distinct()
    )


def _cosine_join(cand: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Attach the exact 6-dp cosine to (vec_id, neighbor_id) candidate
    pairs — THE shared re-rank join every approximate path (LSH top-k,
    LSH near-dup, IVF) feeds. One definition keeps the rounding/norm
    discipline (a recurring cross-engine oracle-parity hazard) in exactly
    one place."""
    e = embeddings.select("vec_id", "embedding", _self_norm("embedding").alias("n2"))
    ea = e.select(F.col("vec_id"), F.col("embedding").alias("ea"), F.col("n2").alias("na"))
    eb = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("eb"), F.col("n2").alias("nb")
    )
    cos = F.round(_norm_dot("ea", "eb") / F.sqrt(F.col("na") * F.col("nb")), 6)
    return (
        cand.join(ea, "vec_id")
        .join(eb, "neighbor_id")
        .withColumn("cos", cos)
        .drop("ea", "eb", "na", "nb")
    )


def cosine_topk_lsh(
    embeddings: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_bands: int = N_BANDS,
    bits: int = BITS_PER_BAND,
    query_ids: DataFrame | None = None,
    probe_bits: int | None = None,
) -> DataFrame:
    """Approximate top-k: hyperplane-sketch band join -> exact re-rank of
    candidates only.  Same output schema as the brute force; recall and
    candidate-set size are gated in tests; the full pipeline (sketch bits
    included) is replicated relationally by ``lsh_topk_oracle_sql``.
    ``query_ids`` restricts the query side (see ``lsh_candidates``).
    ``probe_bits`` defaults to the measured-regime policy
    ``auto_probe_bits(corpus_size, bits)`` (explicit values override)."""
    if probe_bits is None:
        probe_bits = auto_probe_bits(embeddings.count(), bits)
    cand = lsh_candidates(
        embeddings, dim, n_bands, bits, query_ids=query_ids, probe_bits=probe_bits
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        _cosine_join(cand, embeddings)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cos")
    )


def embedding_neardup_lsh(
    embeddings: DataFrame,
    tau: float = 0.9,
    dim: int = 64,
    n_bands: int = N_BANDS,
    bits: int = BITS_PER_BAND,
) -> DataFrame:
    """Sub-quadratic embedding near-dup: banded hyperplane sketch ->
    bucket join candidates -> exact cosine verify >= tau. Same output
    schema as the exact ``embedding_neardup_pairs`` (one row per unordered
    pair); the exact SQL oracle is the recall gate. Near-dup pairs
    (cos ~0.98+) miss all 16x8-bit bands with probability ~6e-8 per pair,
    so on frozen data + frozen planes recall is exactly 1 — verified, not
    assumed. At 10^12 rows the candidate volume is O(bands * n * bucket
    occupancy) vs the exact kernel's O(n^2)."""
    cand = lsh_candidates(embeddings, dim, n_bands, bits).where(
        F.col("vec_id") < F.col("neighbor_id")
    )
    return (
        _cosine_join(cand, embeddings)
        .where(F.col("cos") >= tau)
        .select("vec_id", "neighbor_id", "cos")
    )


def embedding_clusters(embeddings: DataFrame, tau: float = 0.9) -> DataFrame:
    """(vec_id, cluster_id, is_keeper): transitive closure over the
    embedding-cosine near-dup pairs — the embedding-side member of the
    cluster-resolution triad (text ``dedup_clusters``, image
    ``phash_clusters``), completing pair output into the keep/drop
    decision a training-data pipeline consumes. Reference analog: the
    dedup-join group-and-fan-back semantics (docs/api.md:511) applied to
    the embedding modality.

    Spark shape: pairs come from the SUB-QUADRATIC banded path
    (``embedding_neardup_lsh``, full-recall-gated against the exact
    oracle on the frozen near-dup fixture), then the shared driver-side
    union-find (``dedup.connected_components``). Returns a lazy plan with
    nothing cached."""
    from .dedup import connected_components

    pairs = embedding_neardup_lsh(embeddings, tau).select("vec_id", "neighbor_id")
    labels = connected_components(pairs, embeddings.select("vec_id"))
    return labels.select(
        F.col("id").alias("vec_id"),
        F.col("lab").alias("cluster_id"),
        (F.col("id") == F.col("lab")).alias("is_keeper"),
    )


def embedding_clusters_oracle_sql(tau: float = 0.9, src: str = "embeddings") -> str:
    """Recursive min-label reachability over the EXACT thresholded cosine
    pairs (``embedding_neardup_oracle_sql`` — so the oracle doubles as the
    LSH recall gate, the dedup_clusters pattern); the ``r.lab < e.eb``
    prune keeps the recursion linear."""
    pairs = embedding_neardup_oracle_sql(tau, src=src).strip()
    return f"""
WITH RECURSIVE pairs AS (
{pairs}
), edges AS (
  SELECT vec_id AS ea, neighbor_id AS eb FROM pairs
  UNION ALL
  SELECT neighbor_id AS ea, vec_id AS eb FROM pairs
), reach(node, lab) AS (
  SELECT vec_id, vec_id FROM {src}
  UNION
  SELECT e.eb, r.lab FROM reach r JOIN edges e ON e.ea = r.node WHERE r.lab < e.eb
)
SELECT node AS vec_id, min(lab) AS cluster_id, (node = min(lab)) AS is_keeper
FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# IVF variant (coarse quantizer + probe + exact re-rank)
# ---------------------------------------------------------------------------

IVF_PROBE = 3


def ivf_centroids(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    """(centroid_id, cvec): label-mean stand-in quantizer — DEMOTED to a
    test baseline since round 4: the driver-facing ``ann_cosine_ivf``
    query probes the TRAINED ``ivf_codebook`` fixture (a gentime
    reference run of ``kmeans_train``); this stand-in remains only as the
    recall baseline in tests/test_approx_ops.py. Component sums go
    through DECIMAL(27,12) so they are order-independent (float
    partial-agg order varies across partitions/engines), then one double
    division."""
    dims = embeddings.select(
        "label", F.posexplode(F.col("embedding")).alias("i", "x")
    ).select("label", "i", F.col("x").cast("double").alias("x"))
    comp = dims.groupBy("label", "i").agg(
        (
            F.sum(F.col("x").cast("decimal(27,12)")).cast("double") / F.count(F.lit(1))
        ).alias("c")
    )
    return (
        comp.groupBy(F.col("label").alias("centroid_id"))
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("ic"))
        .select("centroid_id", F.expr("transform(ic, s -> s.c)").alias("cvec"))
    )


def kmeans_train(
    embeddings: DataFrame, k: int = 8, iters: int = 5
) -> tuple[DataFrame, list[float]]:
    """Distributed spherical k-means (Lloyd's): the trained coarse
    quantizer for IVF, replacing the label-column stand-in when no
    offline codebook exists.

    Spark shape: the MODEL (k x dim centroid matrix) lives at the driver —
    a few KB of parameters, not data — while every assign step is one
    distributed job: broadcast the centroid frame, crossJoin-score, rank
    window, then decimal-exact per-centroid component means (the same
    order-independent aggregation discipline as ``ivf_centroids``). Init
    is deterministic AND cross-engine replicable: the k corpus rows with
    the smallest ``md5(vec_id as string)`` (a seeded sample without an
    RNG; hashlib.md5 reproduces it at fixture gentime, so the
    ``ivf_codebook`` fixture is a single-threaded reference run of this
    exact trainer — see fixtures/generate._kmeans_reference). Assignment
    scores are rounded to 9 dp before the argmax (ties -> lowest
    centroid_id) so the distributed fold and the numpy gemm agree. Empty
    clusters keep their previous centroid. Returns (centroids DataFrame
    (centroid_id, cvec), per-iteration mean-assigned-cosine objective —
    non-decreasing, the Lloyd's convergence witness).
    """
    import numpy as np

    spark = embeddings.sparkSession
    seeds = (
        embeddings.select("vec_id", "embedding")
        .withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )
    C = np.array([r["embedding"] for r in seeds], dtype=np.float64)
    C /= np.linalg.norm(C, axis=1, keepdims=True)

    def cent_df(mat: np.ndarray) -> DataFrame:
        return spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
            "centroid_id INT, cvec ARRAY<DOUBLE>",
        )

    # one corpus scan total: every Lloyd's iteration re-reads the projected
    # embeddings+norms from the cached copy instead of re-scanning the
    # source (at 100 TB an unpersisted loop is iters x redundant scan I/O)
    e = embeddings.select("vec_id", "embedding", _self_norm("embedding").alias("n2")).persist()
    objective: list[float] = []
    for _ in range(iters):
        scored = e.crossJoin(F.broadcast(cent_df(C))).select(
            "vec_id",
            "embedding",
            "centroid_id",
            F.round(_norm_dot("embedding", "cvec") / F.sqrt(F.col("n2")), 9).alias("ccos"),
        )
        w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("centroid_id"))
        assigned = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        stats = (
            assigned.select(
                "centroid_id",
                "ccos",
                F.posexplode(F.col("embedding")).alias("i", "x"),
            )
            .groupBy("centroid_id", "i")
            .agg(
                F.sum(F.col("x").cast("decimal(27,12)")).cast("double").alias("s"),
                F.count(F.lit(1)).alias("n"),
                F.sum("ccos").alias("oc"),
            )
            .collect()
        )
        newC = C.copy()  # empty clusters keep their centroid
        comp: dict[int, list] = {}
        total_cos = 0.0
        total_n = 0
        for r in stats:
            comp.setdefault(r["centroid_id"], []).append((r["i"], r["s"] / r["n"]))
            if r["i"] == 0:
                total_cos += r["oc"]
                total_n += r["n"]
        for cid, pairs in comp.items():
            vec = np.array([v for _, v in sorted(pairs)])
            nrm = np.linalg.norm(vec)
            if nrm > 0:
                newC[cid] = vec / nrm
        C = newC
        objective.append(total_cos / total_n if total_n else 0.0)
    e.unpersist()
    return cent_df(C), objective


def ann_cosine_ivf(
    embeddings: DataFrame,
    k: int = 5,
    n_probe: int = IVF_PROBE,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: vectors assign to their nearest
    centroid cell; each query probes its ``n_probe`` nearest cells and
    exact-re-ranks only the vectors inside them. Candidate volume is
    ~n_probe/C of the corpus per query — the classic inverted-file
    trade; recall gated in tests. Same output schema as the other ANN
    kernels; fully replicated relationally by ``ivf_topk_oracle_sql``.
    ``centroids`` supplies an external codebook (e.g. ``kmeans_train``);
    default is the label-mean stand-in, which the SQL oracle replicates."""
    cent = ivf_centroids(embeddings) if centroids is None else centroids
    e = embeddings.select("vec_id", "embedding", _self_norm("embedding").alias("n2"))
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "centroid_id",
        (
            F.round(
                _norm_dot("embedding", "cvec")
                / F.sqrt(
                    F.col("n2")
                    * F.aggregate(
                        F.transform(F.col("cvec"), lambda x: x * x),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ),
                9,
            )
        ).alias("ccos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("centroid_id"))
    ranked_cells = scored.withColumn("rn", F.row_number().over(w))
    assign = ranked_cells.filter(F.col("rn") == 1).select("vec_id", "centroid_id")
    probes = ranked_cells.filter(F.col("rn") <= n_probe).select(
        F.col("vec_id").alias("query_id"), "centroid_id"
    )
    cand = (
        probes.join(assign, "centroid_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(F.col("query_id").alias("vec_id"), F.col("vec_id").alias("neighbor_id"))
    )
    wk = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        _cosine_join(cand, embeddings)
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("vec_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cos")
    )


def ivf_topk_oracle_sql(
    k: int = 5, n_probe: int = IVF_PROBE, dim: int = 64, codebook_parquet: str | None = None
) -> str:
    """Full relational replication of the IVF pipeline: probe + in-cell
    exact re-rank over the quantizer table, with sequential-fold cosine
    (list_dot_product matches the zip_with fold).

    ``codebook_parquet`` supplies the TRAINED codebook (the
    ``ivf_codebook`` fixture — a gentime reference run of
    ``kmeans_train``); both engines then read the identical doubles, so
    assign -> probe -> re-rank replicates exactly. Without it the oracle
    falls back to replicating the label-mean stand-in (decimal-exact
    centroid means), the test-only path."""
    if codebook_parquet is not None:
        cent = f"cent AS (SELECT centroid_id, cvec FROM read_parquet('{codebook_parquet}'))"
    else:
        cent = f"""comp AS (
  SELECT label, i,
         CAST(sum(CAST(embedding[i] AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
  FROM embeddings, unnest(generate_series(1, {dim})) AS t(i)
  GROUP BY label, i
), cent AS (
  SELECT label AS centroid_id, list(c ORDER BY i) AS cvec
  FROM comp GROUP BY label
)"""
    return f"""
WITH {cent}, scored AS (
  SELECT v.vec_id, c.centroid_id,
         round(list_dot_product(v.embedding::DOUBLE[], c.cvec)
               / sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[])
                      * list_dot_product(c.cvec, c.cvec)), 9) AS ccos
  FROM embeddings v CROSS JOIN cent c
), ranked_cells AS (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS rn
  FROM scored
), assign AS (SELECT vec_id, centroid_id FROM ranked_cells WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, centroid_id FROM ranked_cells WHERE rn <= {n_probe}),
cand AS (
  SELECT p.query_id AS vec_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
), rer AS (
  SELECT c.vec_id, c.neighbor_id,
         round(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
               / sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])
                      * list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])), 6) AS cos
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.vec_id
  JOIN embeddings eb ON eb.vec_id = c.neighbor_id
), ranked AS (
  SELECT vec_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM rer)
SELECT vec_id, CAST(rank AS INT) AS rank, neighbor_id, cos
FROM ranked WHERE rank <= {k}
"""


def lsh_topk_oracle_sql(
    planes_parquet: str,
    k: int = 5,
    n_bands: int = N_BANDS,
    bits: int = BITS_PER_BAND,
    probe_bits: int = 0,
) -> str:
    """Full relational replication of the LSH pipeline for DuckDB: sign
    bits against the fixture plane table, band chunks, bucket self-join,
    exact cosine re-rank, top-k window — a differential oracle of the
    operator's SEMANTICS (recall properties are gated separately in
    pytest). ``probe_bits`` > 0 replicates multiprobe: the query side
    explodes by the same XOR-mask list the Spark operator uses."""
    if probe_bits > 0:
        masks = ", ".join(str(m) for m in _probe_masks(bits, probe_bits))
        qside = f"""probed AS (
  SELECT vec_id, band_id, xor(chunk, CAST(m AS BIGINT)) AS chunk
  FROM chunks, unnest([{masks}]) AS mt(m)
), """
        qsrc = "probed"
    else:
        qside = ""
        qsrc = "chunks"
    return f"""
WITH bits AS (
  SELECT v.vec_id, p.plane_id,
         CASE WHEN list_dot_product(v.embedding::DOUBLE[], p.vec) > 0 THEN 1 ELSE 0 END AS bit
  FROM embeddings v CROSS JOIN read_parquet('{planes_parquet}') p
), chunks AS (
  SELECT vec_id, plane_id // {bits} AS band_id,
         CAST(sum(bit * (CAST(1 AS BIGINT) << (plane_id % {bits}))) AS BIGINT) AS chunk
  FROM bits GROUP BY vec_id, plane_id // {bits}
), {qside}cand AS (
  SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id
  FROM {qsrc} a JOIN chunks b
    ON a.band_id = b.band_id AND a.chunk = b.chunk AND a.vec_id <> b.vec_id
), scored AS (
  SELECT c.vec_id, c.neighbor_id,
         round(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
               / sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])
                      * list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])), 6) AS cos
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.vec_id
  JOIN embeddings eb ON eb.vec_id = c.neighbor_id
), ranked AS (
  SELECT vec_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT vec_id, CAST(rank AS INT) AS rank, neighbor_id, cos
FROM ranked WHERE rank <= {k}
"""
