"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Training-data-pipeline extensions (graft mandate). Design notes per op:

- ``exact_dedup``: hash-groupBy on md5(text). One shuffle on the hash;
  at 100 TB the hash column is tiny vs the payload (project first, join
  survivors back by id — bytes never shuffle).
- ``ngram_jaccard_pairs``: the exact baseline — distinct word-3-gram
  shingles, self-equi-join on shingle, |intersection| from the join,
  |union| = na + nb - i. Pure SQL, oracle-checked. The shingle join is
  the scale bottleneck (hot shingles fan out) — that is exactly what the
  MinHash path fixes.
- ``minhash_lsh_pairs``: 64 minhashes (splitmix64-mixed xxhash64 shingle
  hashes, hashing JVM-side) in a vectorized pandas UDF, banded 8x8;
  candidates = same band
  hash; candidates verified with EXACT jaccard via array_intersect /
  array_union (JVM-side). With b=8,r=8 the collision curve is
  P(candidate) = 1-(1-j^8)^8: j=0.9 -> 0.98, j=0.5 -> 0.031 — right for
  the 0.5 threshold. Only the verified-exact filter defines the output.
- ``simhash64``: sign-aggregated word-hash fingerprint; near-dup
  pairs via 4x16-bit band join + popcount(xor) <= maxham (pigeonhole:
  hamming <= 3 guarantees a matching band). Word hashes are md5-derived
  (low 60 bits of the hex digest) so the ENTIRE pipeline — hash, bit
  sign-sum, banding, hamming join — replicates relationally in DuckDB
  as a differential oracle; swap in xxhash64 at scale if md5 cost shows
  (hash choice is orthogonal to the operator).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

N_HASHES = 64
N_BANDS = 8
ROWS_PER_BAND = 8

_SHINGLE_EXPR = "transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"


def _with_shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingles ARRAY<STRING> distinct) — word n-gram shingles.
    Docs shorter than n words contribute their whole text as one shingle."""
    toks = documents.select("doc_id", F.split(F.trim("text"), " ").alias("ws"))
    return toks.select(
        "doc_id",
        F.when(F.size("ws") >= n, F.array_distinct(F.expr(_SHINGLE_EXPR)))
        .otherwise(F.array(F.concat_ws(" ", "ws")))
        .alias("shingles"),
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(documents: DataFrame) -> DataFrame:
    """(text_hash, keep_doc_id, n_copies) per distinct text — keep = min id."""
    return (
        documents.select("doc_id", F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup_oracle_sql() -> str:
    return """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# exact n-gram Jaccard pairs (the oracle-checked baseline)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """(doc_a, doc_b, jaccard) for word-3-gram Jaccard >= threshold, a < b."""
    sh = _with_shingles(documents).select("doc_id", F.explode("shingles").alias("shingle")).distinct()
    n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = n.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = n.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("jaccard", F.round(j, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_oracle_sql(threshold: float = 0.5) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
), sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM toks, unnest(generate_series(1, len(ws) - 2)) AS t(i)
  WHERE len(ws) >= 3
  UNION
  SELECT doc_id, trim(text) AS shingle FROM documents WHERE len(string_split(trim(text), ' ')) < 3
), n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE), 6) AS jaccard
FROM inter JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
WHERE round(CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE), 6) >= {threshold}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH (the 100 TB-scale path)
# ---------------------------------------------------------------------------

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)

# String hashing happens JVM-side (xxhash64 inside whole-stage codegen) —
# Python only mixes/aggregates fixed-width ints, fully vectorized. This is
# the "no per-row Python" discipline of the input_hint.
_HASH_SHINGLES = "transform(shingles, s -> xxhash64(s))"
# md5-derived 60-bit word hash: identical in Spark (conv of the hex
# digest prefix) and DuckDB (CAST('0x'||substr(md5(w),1,15) AS BIGINT)),
# verified value-exact — the price of a SQL-replicable simhash oracle
_HASH_WORDS = (
    "transform(split(trim(text), ' '), "
    "w -> cast(conv(substring(md5(cast(w as binary)), 1, 15), 16, 10) as bigint))"
)


def _splitmix(z: np.ndarray) -> np.ndarray:
    z = (z + np.uint64(0x9E3779B97F4A7C15)) & _M64
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
    return z ^ (z >> np.uint64(31))


_SEEDS = _splitmix(np.arange(N_HASHES, dtype=np.uint64) + np.uint64(0xB5))


@F.pandas_udf(ArrayType(LongType()))
def minhash64(shingle_hashes: pd.Series) -> pd.Series:
    """64 minhash values per pre-hashed shingle set (JVM xxhash64 input;
    Python side is pure vectorized seed-mixing + min)."""
    out = []
    for arr in shingle_hashes:
        hs = (
            np.asarray(arr, dtype=np.int64).view(np.uint64)
            if len(arr)
            else np.array([0], dtype=np.uint64)
        )
        # (n_hashes, n_shingles): mix each shingle hash with each seed
        mixed = _splitmix(hs[None, :] ^ _SEEDS[:, None])
        out.append(mixed.min(axis=1).astype(np.int64).tolist())
    return pd.Series(out)


def _lsh_bands(shingled: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) — the banded MinHash LSH index over a
    (doc_id, shingles) frame. Deterministic in document CONTENT only, so
    an index built shard-by-shard equals one built over the whole corpus
    — the property incremental_dedup rests on."""
    mh = shingled.select("doc_id", minhash64(F.expr(_HASH_SHINGLES)).alias("mh"))
    return mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.hash(*[F.col("mh")[i] for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)]).alias(
                            "band_hash"
                        ),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band_id").alias("band_id"), F.col("bb.band_hash").alias("band_hash"))


def lsh_band_index(documents: DataFrame) -> DataFrame:
    """Public band-index builder: the retained artifact an incremental
    pipeline keeps between shard appends ((doc_id, band_id, band_hash) —
    8 small columns per doc x band, NOT the corpus text)."""
    return _lsh_bands(_with_shingles(documents))


def _bucket_pairs(bands: DataFrame, key: list[str], item) -> DataFrame:
    """One row per (a, b) item pair, a.doc_id < b.doc_id, sharing a
    bucket of ``bands`` keyed by ``key``: the items of each bucket are
    collected once and paired inside it, so ``bands`` is evaluated once
    (a self-join evaluates it once per side)."""
    buckets = (
        bands.groupBy(*key)
        .agg(F.collect_set(item).alias("ids"))
        .where(F.size("ids") > 1)
    )
    return buckets.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(ids, a -> transform(ids, b -> struct(a, b)))),"
                " p -> p.a.doc_id < p.b.doc_id)"
            )
        ).alias("p")
    )


def minhash_lsh_pairs(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """(doc_a, doc_b, jaccard) — LSH candidates verified by exact jaccard.

    Scale shape: candidates are the doc pairs of each (band_id,
    band_hash) bucket, formed in one ``groupBy`` over a single evaluation
    of the bands (``minhash64`` runs once per document) — no full cross
    product, no hot-shingle fan-out; text never shuffles. The exact
    verify joins shingle each side again from the documents (JVM-only;
    the Python kernel is not in those branches). Skew trade: a
    hot bucket (n near-identical docs) is one group that emits n^2/2
    pairs in one task, and AQE cannot split a ``groupBy`` the way it
    splits a skewed join; banding keeps buckets small unless the corpus
    is full of exact copies, which ``exact_dedup`` removes first.
    """
    sh = _with_shingles(documents)
    cand = (
        _bucket_pairs(_lsh_bands(sh), ["band_id", "band_hash"], F.struct("doc_id"))
        .select(F.col("p.a.doc_id").alias("doc_a"), F.col("p.b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    j = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(j, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# cluster resolution: pairs -> groups -> canonical keeper (A13 completion;
# reference dedup-join groups equivalent queries and fans results back,
# docs/api.md:511)
# ---------------------------------------------------------------------------


def release_checkpoint(df: DataFrame) -> None:
    """Free the cached blocks behind a ``localCheckpoint``-ed frame —
    including frames DERIVED from one (a projection over the labels
    table): the analyzed plan is walked and every ``LogicalRDD`` leaf's
    RDD is unpersisted, so callers holding only a downstream view can
    still release the checkpoint. Safe ONLY once nothing will recompute
    from it (a localCheckpoint cannot be rebuilt); the graph loops call
    it on round N's table after round N+1 is eagerly materialized.
    Best-effort: if Spark internals moved, leak rather than crash."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — version-dependent internals
        pass


def eager_release(result: DataFrame, holds: list[DataFrame]) -> DataFrame:
    """Materialize ``result`` into the block cache, then free every frame
    in ``holds`` — both plain ``persist``-ed frames (unpersist) and
    ``localCheckpoint``-ed tables (release_checkpoint; the cache manager
    never sees those blocks). The CALLER owns releasing the returned
    frame (``.unpersist()`` once consumed, or clearCache as bench.py
    does).

    The rule: an operator whose plan is read once returns it lazy and
    caches nothing. Only a result built from a frame that is costly to
    rebuild and must be freed before returning comes through here: a
    loop checkpoint, which ``clearCache`` cannot reach (the graph loops,
    ``cell_compact``), or a frame the plan reads more than once
    (``zonal_stats``'s decoded samples, ``incremental_dedup``'s verified
    pairs)."""
    out = result.persist()
    out.count()
    for h in holds:
        try:
            h.unpersist()
        except Exception:  # noqa: BLE001
            pass
        release_checkpoint(h)
    return out


def _component_labels(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ids, labels) for every vertex of an undirected edge list, labels
    being the minimum id of the vertex's component.

    ``np.unique`` sorts, so the dense index order is the id order (for
    strings too) and the minimum index of a component is its minimum id.
    Each round hooks the larger label of every edge whose endpoints still
    disagree onto the smaller one (``np.minimum.at`` keeps the smallest
    of several hooks), then jumps pointers (``lab = lab[lab]``) until
    every vertex points at its root. Labels only decrease, so the label
    forest has no cycles and each root is its component's minimum."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    a, b = inv[: len(src)], inv[len(src) :]
    lab = np.arange(len(ids))
    while True:
        la, lb = lab[a], lab[b]
        split = la != lb
        if not split.any():
            return ids, ids[lab]
        la, lb = la[split], lb[split]
        np.minimum.at(lab, np.maximum(la, lb), np.minimum(la, lb))
        while not np.array_equal(jumped := lab[lab], lab):
            lab = jumped


def connected_components(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """``nodes`` with its first column renamed ``id`` and a ``lab`` column
    appended: the minimum id of the node's connected component. ``edges``
    = (src, dst) undirected pairs in its first two columns (either
    direction suffices; duplicates and self-loops are harmless),
    ``nodes`` = the ids in its first column (orderable; labels are node
    ids), any other columns passed through. Every edge endpoint must be
    a node: the labels of the nodes are computed over the whole edge
    list, so an endpoint outside ``nodes`` still connects its neighbours.

    The edge list is collected once as Arrow and labelled on the driver
    by one numpy kernel (``_component_labels``). The result is a lazy
    plan: ``nodes`` left-joined to the (id, lab) pairs of the vertices
    whose label is not their own id, nothing cached. The collect is
    guarded by ``limit(cap + 1)``, cap being
    ``session.collect_budget_bytes`` over the edge row width from the
    schema; a larger edge list raises before any result exists."""
    from ..session import collect_budget_bytes

    src, dst = edges.columns[:2]
    # an edge with a null endpoint connects nothing, as in an equi-join
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropna()
    spark = e.sparkSession
    budget = collect_budget_bytes(spark)
    cap = budget // e._jdf.schema().defaultSize()
    tbl = e.limit(cap + 1).toArrow()
    if tbl.num_rows > cap:
        raise RuntimeError(
            f"connected_components: at least {tbl.num_rows} edges, over the driver budget of "
            f"{budget} bytes ({cap} edges; session.collect_budget_bytes)"
        )
    ids, lab = _component_labels(tbl.column("src").to_numpy(), tbl.column("dst").to_numpy())
    moved = ids != lab
    rel = spark.createDataFrame(pa.table({"id": ids[moved], "lab": lab[moved]}))
    id_type = nodes.schema[0].dataType
    return (
        nodes.withColumnRenamed(nodes.columns[0], "id")
        .join(rel.select(F.col("id").cast(id_type), F.col("lab").cast(id_type)), "id", "left")
        .withColumn("lab", F.coalesce("lab", "id"))
    )


def dedup_clusters(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """(doc_id, cluster_id, is_keeper): transitive closure over the
    MinHash-LSH near-dup pairs — every doc labeled with its duplicate
    cluster (cluster_id = min doc_id of the component, singletons are
    their own cluster) and exactly one canonical keeper per cluster
    (keeper = min id). This is the stage that turns pair output into the
    thing a training-data pipeline actually consumes: a keep/drop
    decision per document. The pairs are labelled by
    ``connected_components``'s driver-side union-find; the result is a
    lazy plan with nothing cached."""
    pairs = minhash_lsh_pairs(documents, threshold).select("doc_a", "doc_b")
    labels = connected_components(pairs, documents.select("doc_id"))
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("lab").alias("cluster_id"),
        (F.col("id") == F.col("lab")).alias("is_keeper"),
    )


def incremental_dedup(
    band_index: DataFrame,
    base_labels: DataFrame,
    base_docs: DataFrame,
    new_docs: DataFrame,
    threshold: float = 0.5,
    stats: dict | None = None,
) -> DataFrame:
    """Shard-append dedup (VERDICT r4 "Next round #4"): fold ``new_docs``
    into an existing clustering WITHOUT recomputing corpus-wide CC —
    work ∝ change size, the reference's incremental-recustomization
    semantics (route/src/server/exclude.rs:514) applied to the LSH index
    instead of cells (the incremental.py G8 pattern).

    Inputs a continuously-ingesting pipeline retains between appends:
    ``band_index`` = lsh_band_index(base_docs) (8 scalar cols/doc·band),
    ``base_labels`` = the previous dedup_clusters output
    (doc_id, cluster_id, is_keeper). ``base_docs`` is touched ONLY via a
    semi-join on matched candidate ids (point lookups, not a scan — the
    text of unmatched docs is never read past the index).

    Steps: (1) band new docs, join against base index ∪ new bands ->
    candidate pairs touching a new doc; (2) exact-Jaccard verify on the
    shingles of JUST the candidate docs; (3) affected components = old
    clusters containing any matched doc; their connectivity is preserved
    by STAR EDGES (member -> cluster_id) so old pairs need not be kept;
    (4) CC over new pairs + star edges of affected clusters only;
    (5) passthrough of untouched labels + recomputed affected labels.

    Equal to dedup_clusters(base ∪ new) by construction: banding is
    content-deterministic (shard-built index == corpus-built index), old
    pairs cannot change, and the star preserves each old component's
    node set (pytest-pinned).

    Returns one persisted frame: the verified pairs are persisted because
    the plan reads them three times, and are released before returning
    (``eager_release``). Caller unpersists the result."""
    new_bands = lsh_band_index(new_docs)
    full_index = band_index.unionByName(new_bands)
    nb = new_bands.alias("nb")
    fi = full_index.alias("fi")
    cand = (
        nb.join(
            fi,
            (F.col("nb.band_id") == F.col("fi.band_id"))
            & (F.col("nb.band_hash") == F.col("fi.band_hash"))
            & (F.col("nb.doc_id") != F.col("fi.doc_id")),
        )
        .select(
            F.least("nb.doc_id", "fi.doc_id").alias("doc_a"),
            F.greatest("nb.doc_id", "fi.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # exact-Jaccard verify over ONLY the candidate docs' shingles
    all_docs = base_docs.select("doc_id", "text").unionByName(new_docs.select("doc_id", "text"))
    cand_ids = cand.select(F.col("doc_a").alias("doc_id")).unionByName(
        cand.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    sh = _with_shingles(all_docs.join(cand_ids, "doc_id", "left_semi")).persist()
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    j = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(F.round(j, 6) >= threshold)
        .select("doc_a", "doc_b")
        .persist()
    )
    pairs.count()
    sh.unpersist()
    # affected old components: clusters containing any matched old doc
    matched = pairs.select(F.col("doc_a").alias("doc_id")).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    affected_clusters = (
        base_labels.join(matched, "doc_id", "left_semi").select("cluster_id").distinct()
    )
    members = base_labels.join(affected_clusters, "cluster_id", "left_semi")
    star = members.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("doc_b")
    )
    nodes = members.select("doc_id").unionByName(new_docs.select("doc_id")).distinct()
    if stats is not None:
        stats["n_cc_nodes"] = nodes.count()
        stats["n_new_pairs"] = pairs.count()
    labels = connected_components(pairs.unionByName(star), nodes)
    recomputed = labels.select(
        F.col("id").alias("doc_id"),
        F.col("lab").alias("cluster_id"),
        (F.col("id") == F.col("lab")).alias("is_keeper"),
    )
    untouched = base_labels.join(
        affected_clusters, "cluster_id", "left_anti"
    ).select("doc_id", "cluster_id", "is_keeper")
    return eager_release(untouched.unionByName(recomputed), [pairs])


def dedup_clusters_oracle_sql(threshold: float = 0.5) -> str:
    """DuckDB differential oracle: exact-Jaccard pairs (the minhash_lsh
    recall gate) -> recursive min-label reachability -> per-node min =
    cluster id. The ``r.lab < e.b`` prune keeps the recursion linear in
    practice: only labels smaller than the target can still win the min,
    and the component minimum always propagates (it is smaller than every
    other member id along any path)."""
    pairs = ngram_jaccard_oracle_sql(threshold).strip()
    return f"""
WITH RECURSIVE pairs AS (
{pairs}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(node, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node WHERE r.lab < e.b
)
SELECT node AS doc_id, min(lab) AS cluster_id, (node = min(lab)) AS is_keeper
FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# benchmark decontamination (train-vs-eval n-gram overlap — the standard
# LLM-pipeline hygiene gate; same relational shape as the MinHash path)
# ---------------------------------------------------------------------------

CONTAM_NGRAM = 8
CONTAM_MIN_FRAC = 0.5


def _word_ngrams_hashed(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gh): DISTINCT md5-derived 60-bit hashes of word n-grams.
    The hash is the same Spark/DuckDB-identical construction as the
    simhash word hash (_HASH_WORDS) so the whole pipeline — including the
    join key — replicates relationally as a differential oracle. Rows
    shorter than n words contribute nothing."""
    gram = F.expr(
        "transform(sequence(0, size(ws) - %d), i -> concat_ws(' ', %s))"
        % (n, ", ".join(f"ws[i+{j}]" for j in range(n)))
    )
    toks = df.select(id_col, F.split(F.trim(text_col), " ").alias("ws"))
    grams = toks.where(F.size("ws") >= n).select(id_col, F.explode(gram).alias("g"))
    h = "cast(conv(substring(md5(cast(g as binary)), 1, 15), 16, 10) as bigint)"
    return grams.select(id_col, F.expr(h).alias("gh")).distinct()


def contamination_check(
    documents: DataFrame,
    benchmarks: DataFrame,
    n: int = CONTAM_NGRAM,
    min_frac: float = CONTAM_MIN_FRAC,
) -> DataFrame:
    """(doc_id, bench_id, n_overlap, overlap_frac): training documents
    sharing >= ``min_frac`` of a benchmark item's word ``n``-grams —
    the docs a pipeline must drop before training lest the benchmark
    leak into the train set.

    Scale shape: the benchmark side is SMALL by construction (eval sets
    are bounded), so its distinct shingle hashes broadcast; the corpus
    side projects to (doc_id, 8-byte hash) — payload bytes never move —
    and streams through a broadcast hash join with NO corpus shuffle;
    the only exchange is the groupBy of MATCHED rows, which is sized by
    the contamination actually present, not the corpus."""
    doc_g = _word_ngrams_hashed(documents, "doc_id", "text", n)
    ben_g = _word_ngrams_hashed(benchmarks, "bench_id", "text", n)
    ben_n = ben_g.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        doc_g.join(F.broadcast(ben_g), "gh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    frac = F.round(F.col("n_overlap") / F.col("n_shingles"), 6)
    return (
        hits.join(F.broadcast(ben_n), "bench_id")
        .withColumn("overlap_frac", frac)
        .where(F.col("overlap_frac") >= min_frac)
        .select("doc_id", "bench_id", "n_overlap", "overlap_frac")
    )


def contamination_oracle_sql(
    benchmarks_parquet: str, n: int = CONTAM_NGRAM, min_frac: float = CONTAM_MIN_FRAC
) -> str:
    """Full relational replication: same n-gram window, same md5-60-bit
    join key, same distinct/count/threshold discipline."""
    doc_terms = " || ' ' || ".join(f"ws[i+{j}]" for j in range(n))
    return f"""
WITH dg AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5({doc_terms}), 1, 15)) AS BIGINT) AS gh
  FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents) t,
       unnest(generate_series(1, len(ws) - {n - 1})) AS s(i)
  WHERE len(ws) >= {n}
), bg AS (
  SELECT DISTINCT bench_id,
         CAST(('0x' || substr(md5({doc_terms}), 1, 15)) AS BIGINT) AS gh
  FROM (SELECT bench_id, string_split(trim(text), ' ') AS ws
        FROM read_parquet('{benchmarks_parquet}')) t,
       unnest(generate_series(1, len(ws) - {n - 1})) AS s(i)
  WHERE len(ws) >= {n}
), bn AS (SELECT bench_id, count(*) AS n FROM bg GROUP BY bench_id),
hits AS (
  SELECT d.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_overlap
  FROM dg d JOIN bg b USING (gh) GROUP BY 1, 2
)
SELECT doc_id, bench_id, n_overlap,
       round(CAST(n_overlap AS DOUBLE) / n, 6) AS overlap_frac
FROM hits JOIN bn USING (bench_id)
WHERE round(CAST(n_overlap AS DOUBLE) / n, 6) >= {min_frac}
"""


# ---------------------------------------------------------------------------
# exact substring dedup (round 5 — VERDICT r4 "Next round #2"): cross-doc
# duplicated-SPAN removal, the exact-boilerplate gap that document-level
# fuzzy dedup (MinHash/SimHash/embedding) misses when docs are otherwise
# distinct. Reference analog: the dedup-join/fan-back semantics of
# docs/api.md:511 applied at sub-document granularity.
# ---------------------------------------------------------------------------

SPAN_W = 8  # window length in words (matches CONTAM_NGRAM granularity)
#: windows occurring in more positions than this are dropped as "stop
#: windows" (ubiquitous boilerplate would otherwise fan the self-join
#: out quadratically within the hot hash — same rationale as LSH
#: banding); the oracle replicates the gate exactly
MAX_WINDOW_FREQ = 64


def _span_windows(documents: DataFrame, w: int) -> DataFrame:
    """(doc_id, off, gh): md5-60-bit hashes of every length-``w`` word
    window WITH its 0-based token offset (the offset is what lets matched
    windows merge into maximal spans). Same Spark/DuckDB-identical hash
    construction as _word_ngrams_hashed, but NOT distinct — positions
    matter here."""
    gram = F.expr(
        "transform(sequence(0, size(ws) - %d), i -> concat_ws(' ', %s))"
        % (w, ", ".join(f"ws[i+{j}]" for j in range(w)))
    )
    toks = documents.select("doc_id", F.split(F.trim("text"), " ").alias("ws"))
    wins = toks.where(F.size("ws") >= w).select(
        "doc_id", F.posexplode(gram).alias("off", "g")
    )
    h = "cast(conv(substring(md5(cast(g as binary)), 1, 15), 16, 10) as bigint)"
    return wins.select("doc_id", F.col("off").cast("long").alias("off"), F.expr(h).alias("gh"))


def substring_dedup(
    documents: DataFrame, w: int = SPAN_W, max_window_freq: int = MAX_WINDOW_FREQ
) -> DataFrame:
    """(doc_id, dup_of, span_start, span_len, src_start) — maximal exact
    duplicated word spans across document pairs: ``doc_id`` (the higher
    id — the copy a pipeline would trim) repeats ``span_len`` tokens
    starting at 0-based ``span_start`` that also appear in ``dup_of``
    starting at ``src_start``. One row per maximal span per matched
    diagonal.

    Relational shape (all pieces already proven in this codebase):
    rolling length-``w`` word windows with offsets (the
    _word_ngrams_hashed kernel, positions kept) -> hot-window frequency
    gate -> bucketed self-join on the 60-bit window hash -> adjacent
    matched offsets merged into maximal spans by the sessionize islands
    pattern over (doc_a, doc_b, diagonal).

    Scale posture: the corpus text is scanned ONCE and projected to
    (doc_id, offset, 8-byte hash) — text never shuffles. The self-join is
    an equi-join on the window hash whose per-key fan-out is bounded by
    ``max_window_freq`` (sub-quadratic by construction, pytest-gated);
    the islands window and the span aggregate share one (doc_a, doc_b,
    diag) partitioning, so the tail is a single exchange of matched-pair
    scalars, sized by the duplication actually present. 60-bit hash
    collisions are the usual rolling-hash trade (the reference's CRC
    posture); the oracle uses the identical hash so the differential
    check is exact."""
    wn = _span_windows(documents, w)
    freq = wn.groupBy("gh").agg(F.count(F.lit(1)).alias("n_pos"))
    live = wn.join(freq.where(F.col("n_pos") <= max_window_freq), "gh")
    a = live.select(F.col("doc_id").alias("doc_a"), F.col("off").alias("off_a"), "gh")
    b = live.select(F.col("doc_id").alias("doc_b"), F.col("off").alias("off_b"), "gh")
    m = a.join(b, "gh").where(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "off_a", "doc_b", "off_b", (F.col("off_a") - F.col("off_b")).alias("diag")
    )
    from pyspark.sql import Window

    isl = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("off_a")
    grp = F.col("off_a") - F.row_number().over(isl)
    return (
        m.withColumn("grp", grp)
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("off_b").alias("span_start"),
            (F.count(F.lit(1)) + F.lit(w - 1)).alias("span_len"),
            F.min("off_a").alias("src_start"),
        )
        .select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("dup_of"),
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_len").cast("long").alias("span_len"),
            F.col("src_start").cast("long").alias("src_start"),
        )
    )


def substring_dedup_oracle_sql(
    w: int = SPAN_W, max_window_freq: int = MAX_WINDOW_FREQ
) -> str:
    """Full relational replication: identical window hash, frequency gate,
    diagonal islands (gaps-and-islands row_number trick) and span merge."""
    terms = " || ' ' || ".join(f"ws[i+{j}]" for j in range(w))
    return f"""
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
), wn AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS off,
         CAST(('0x' || substr(md5({terms}), 1, 15)) AS BIGINT) AS gh
  FROM t, unnest(generate_series(1, len(ws) - {w - 1})) AS s(i)
  WHERE len(ws) >= {w}
), freq AS (
  SELECT gh FROM wn GROUP BY gh HAVING count(*) <= {max_window_freq}
), live AS (
  SELECT wn.* FROM wn JOIN freq USING (gh)
), m AS (
  SELECT a.doc_id AS doc_a, a.off AS off_a, b.doc_id AS doc_b, b.off AS off_b,
         a.off - b.off AS diag
  FROM live a JOIN live b ON a.gh = b.gh AND a.doc_id < b.doc_id
), g AS (
  SELECT *, off_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY off_a) AS grp
  FROM m
)
SELECT doc_b AS doc_id, doc_a AS dup_of,
       CAST(min(off_b) AS BIGINT) AS span_start,
       CAST(count(*) + {w - 1} AS BIGINT) AS span_len,
       CAST(min(off_a) AS BIGINT) AS src_start
FROM g GROUP BY doc_a, doc_b, diag, grp
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


_BIT_POWERS = np.uint64(1) << np.arange(64, dtype=np.uint64)


@F.pandas_udf(LongType())
def simhash64(word_hashes: pd.Series) -> pd.Series:
    """64-bit simhash over the word multiset (JVM xxhash64 word hashes;
    Python side is vectorized bit-unpack + sign aggregation)."""
    out = np.empty(len(word_hashes), dtype=np.int64)
    for i, arr in enumerate(word_hashes):
        if len(arr) == 0:
            out[i] = 0
            continue
        hs = np.asarray(arr, dtype=np.int64).view(np.uint64)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
        sums = (2 * bits - 1).sum(axis=0)
        out[i] = _BIT_POWERS[sums > 0].sum(dtype=np.uint64).astype(np.int64)
    return pd.Series(out)


def simhash_pairs(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs with simhash hamming <= max_hamming.
    Band buckets on 4x16-bit chunks guarantee completeness for hamming
    <= 3. Each bucket collects its (doc_id, sim) structs, so
    ``simhash64`` runs once per document and the hamming distance needs
    no second read; a hot bucket is one task (the ``minhash_lsh_pairs``
    skew trade)."""
    sh = documents.select("doc_id", simhash64(F.expr(_HASH_WORDS)).alias("sim"))
    bands = sh.select(
        "doc_id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_id"),
                        F.shiftright("sim", 16 * k).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sim", F.col("bb.band_id").alias("band_id"), F.col("bb.chunk").alias("chunk"))
    return (
        _bucket_pairs(bands, ["band_id", "chunk"], F.struct("doc_id", "sim"))
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.bit_count(F.col("p.a.sim").bitwiseXOR(F.col("p.b.sim"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_oracle_sql(max_hamming: int = 3) -> str:
    """Full relational replication of the simhash pipeline for DuckDB:
    md5-derived 60-bit word hashes, per-bit sign sums, 4x16-bit band
    self-join, popcount(xor) threshold — a differential oracle of the
    operator's exact output."""
    return f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents
), wh AS (
  SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM words
), bitsum AS (
  SELECT doc_id, b AS bit_pos,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM wh, unnest(generate_series(0, 59)) AS t(b)
  GROUP BY doc_id, b
), sim AS (
  SELECT doc_id, sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit_pos) ELSE 0 END) AS sim
  FROM bitsum GROUP BY doc_id
), bands AS (
  SELECT doc_id, sim, k AS band_id, (sim >> (16 * k)) & 65535 AS chunk
  FROM sim, unnest(generate_series(0, 3)) AS t(k)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
"""


def simhash_clusters(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(doc_id, cluster_id, is_keeper): transitive closure over the
    SimHash near-dup pairs — the third cluster-resolution twin beside
    ``dedup_clusters`` (MinHash) and ``phash_clusters`` (image side),
    on the same ``connected_components`` kernel. Completes the rule that
    EVERY pair-emitting near-dup path in the engine also ships its
    cluster materialization. A lazy plan with nothing cached, as
    ``dedup_clusters``."""
    pairs = simhash_pairs(documents, max_hamming).select("doc_a", "doc_b")
    labels = connected_components(pairs, documents.select("doc_id"))
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("lab").alias("cluster_id"),
        (F.col("id") == F.col("lab")).alias("is_keeper"),
    )


def simhash_clusters_oracle_sql(max_hamming: int = 3) -> str:
    """Recursive min-label reachability over the full relational simhash
    pair replication (dedup_clusters oracle shape)."""
    pairs = simhash_oracle_sql(max_hamming).strip()
    return f"""
WITH RECURSIVE pairs AS (
{pairs}
), cedges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(node, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.lab FROM reach r JOIN cedges e ON e.a = r.node WHERE r.lab < e.b
)
SELECT node AS doc_id, min(lab) AS cluster_id, (node = min(lab)) AS is_keeper
FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# end-to-end corpus materialization (round 4): the keep/drop decision a
# training run actually consumes, composing quality + repetition + dedup
# ---------------------------------------------------------------------------

QUALITY_MIN = 0.3


def corpus_filter(
    documents: DataFrame,
    quality_min: float = QUALITY_MIN,
    jaccard_t: float = 0.5,
) -> DataFrame:
    """(doc_id, quality, is_repetitive, is_keeper, keep) — the full
    training-corpus gate: keep a document iff its quality score clears
    ``quality_min`` AND it is not intra-document repetitive (Gopher gates)
    AND it is its near-dup cluster's canonical keeper. One row per doc —
    the drop REASONS stay inspectable, which is what a data-curation
    pipeline audits.

    Plan shape: TWO doc_id-keyed subplans joined on doc_id — the fused
    quality+repetition leg (one tokenization pass over the corpus text,
    text.quality_repetition) and ``dedup_clusters``' labels (the pairs are
    collected and labelled on the driver when the plan is built). The
    executed plan scans the corpus text exactly twice (was three before
    round 5 — VERDICT r4 "Next round #6"); each leg shuffles only
    (doc_id, small-fixed-width) rows, text never shuffles. A lazy plan
    with nothing cached."""
    from .text import quality_repetition

    qr = quality_repetition(documents).select("doc_id", "quality", "is_repetitive")
    k = dedup_clusters(documents, jaccard_t).select("doc_id", "is_keeper")
    return (
        qr.join(k, "doc_id")
        .select(
            "doc_id",
            "quality",
            "is_repetitive",
            "is_keeper",
            (
                (F.col("quality") >= quality_min)
                & ~F.col("is_repetitive")
                & F.col("is_keeper")
            ).alias("keep"),
        )
    )


def corpus_filter_oracle_sql(
    quality_min: float = QUALITY_MIN, jaccard_t: float = 0.5
) -> str:
    from .text import doc_repetition_oracle_sql, quality_score_oracle_sql

    return f"""
WITH q AS (
  SELECT doc_id, quality FROM ({quality_score_oracle_sql()})
), r AS (
  SELECT doc_id, is_repetitive FROM ({doc_repetition_oracle_sql()})
), k AS (
  SELECT doc_id, is_keeper FROM ({dedup_clusters_oracle_sql(jaccard_t)})
)
SELECT q.doc_id, q.quality, r.is_repetitive, k.is_keeper,
       (q.quality >= {quality_min} AND NOT r.is_repetitive AND k.is_keeper) AS keep
FROM q JOIN r ON q.doc_id = r.doc_id JOIN k ON q.doc_id = k.doc_id
"""
