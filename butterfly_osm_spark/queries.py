"""Query registry: every implemented operator as a (spark, sf_dir) callable
plus a DuckDB oracle SQL string over the same deterministic inputs.

The driver runs each Spark query and its oracle side-by-side at sf=0.01
and compares row count + schema + order-insensitive value hash. Spatial
queries run over this repo's deterministic fixtures (generated on demand,
seed 42 — see fixtures/generate.py); text/dedup/ANN queries run over the
driver's pre-registered testdata views (documents, embeddings, events).

Each query is declared once, by one ``Query`` entry in ``REGISTRY``;
``QUERIES`` and ``ORACLES`` are built from it. An entry names its
operator, the operator's input relations and its oracle builder. Operator
modules are imported when a query or its oracle is called, never when
this module is imported. Only queries with logic beyond read-and-call
keep a function of their own.

Column-name discipline: every computed column is aliased identically in
the Spark plan and the oracle SQL.
"""

from __future__ import annotations

import importlib
import os
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cells
from .fixtures.generate import ensure_fixtures
from .functions.model import compile_way_attrs, way_attrs_oracle_sql
from .operators.extract import build_edges, edges_oracle_sql
from .session import read_parquet

# Oracle SQL is only executed at sf0.01 (driver contract).
ORACLE_SF = "0.01"

# tables read from the driver's sf dir itself rather than from the fixtures
_DRIVER_VIEWS = ("documents", "embeddings", "events")


def _fix(sf_dir: str) -> str:
    """Map the driver's sf dir (/root/testdata/sf0.01) to our fixture dir,
    generating the fixtures if they don't exist yet."""
    sf = os.path.basename(os.path.normpath(sf_dir)).removeprefix("sf")
    return ensure_fixtures(sf)


def _oracle_fix(sf: str = ORACLE_SF) -> str:
    return ensure_fixtures(sf)


def _read(spark: SparkSession, fix: str, name: str) -> DataFrame:
    return read_parquet(spark, os.path.join(fix, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# The registry's two engines: relations on the Spark side, SQL on the oracle
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Query:
    """One registered query.

    ``module`` (relative to this package) holds the operator and the oracle
    builder that ``op`` and ``oracle`` name.

    ``op`` is ``(operator, *inputs)``: the operator is called on the
    relations its inputs name (see ``_relation``), then on ``kw`` (keyword
    name -> relation) and ``params``, and ``post`` is applied to its
    result. ``op`` may instead be a ``(spark, sf_dir)`` query function that
    reads its own inputs.

    ``oracle`` is ``(builder, *args)``: the builder is called on its args,
    then on ``oracle_kw`` and ``params``; every string arg is a
    ``str.format`` template over the names ``_OracleInputs`` defines. It
    may instead be one such template holding the whole SQL, or an
    ``(sf) -> str`` function.

    ``params`` are constants both engines take under the same keyword, so
    the Spark plan and the oracle embed the identical value.
    """

    module: str
    op: tuple | Callable[[SparkSession, str], DataFrame]
    oracle: tuple | str | Callable[[str], str]
    params: dict = field(default_factory=dict)
    kw: dict = field(default_factory=dict)
    oracle_kw: dict = field(default_factory=dict)
    post: Callable[[DataFrame], DataFrame] | None = None


def _attr(module: str, name: str):
    return getattr(importlib.import_module(f"{__package__}.{module}"), name)


def _relation(spark: SparkSession, sf_dir: str, spec: str | tuple) -> DataFrame:
    """A driver view, a fixture table, the road graph's ``edges`` or its
    ``way_attrs``; ``(name, *columns)`` projects one of them."""
    if isinstance(spec, tuple):
        name, *cols = spec
        return _relation(spark, sf_dir, name).select(*cols)
    if spec in _DRIVER_VIEWS:
        return read_parquet(spark, os.path.join(sf_dir, f"{spec}.parquet"))
    fix = _fix(sf_dir)
    if spec == "edges":
        return build_edges(
            _read(spark, fix, "osm_ways"),
            _read(spark, fix, "way_nodes"),
            _read(spark, fix, "osm_nodes"),
        )
    if spec == "way_attrs":
        return compile_way_attrs(_read(spark, fix, "osm_ways"))
    return _read(spark, fix, spec)


def _run(q: Query, spark: SparkSession, sf_dir: str) -> DataFrame:
    if callable(q.op):
        return q.op(spark, sf_dir)
    name, *inputs = q.op
    op = _attr(q.module, name)
    rel = partial(_relation, spark, sf_dir)
    df = op(*map(rel, inputs), **{k: rel(v) for k, v in q.kw.items()}, **q.params)
    return q.post(df) if q.post else df


class _OracleInputs(dict):
    """The names an oracle template may use: ``fix`` (the fixture dir,
    generated on first use), ``edges`` and ``way_attrs`` (the SQL of the
    road graph's relations). Each is built only when a template names it."""

    def __init__(self, sf: str):
        super().__init__()
        self.sf = sf

    def __missing__(self, key: str) -> str:
        if key == "fix":
            val = _oracle_fix(self.sf)
        elif key == "edges":
            val = edges_oracle_sql(self["fix"])
        elif key == "way_attrs":
            fix = self["fix"]
            val = way_attrs_oracle_sql(f"{fix}/way_tags.parquet", f"{fix}/osm_ways.parquet")
        else:
            raise KeyError(key)
        self[key] = val
        return val


def _oracle(q: Query, sf: str = ORACLE_SF) -> str:
    if callable(q.oracle):
        return q.oracle(sf)
    names = _OracleInputs(sf)
    if isinstance(q.oracle, str):
        return q.oracle.format_map(names)

    def fill(arg):
        return arg.format_map(names) if isinstance(arg, str) else arg

    name, *args = q.oracle
    builder = _attr(q.module, name)
    return builder(*map(fill, args), **{k: fill(v) for k, v in q.oracle_kw.items()}, **q.params)


# ---------------------------------------------------------------------------
# Queries with logic of their own
# ---------------------------------------------------------------------------

REGION_RES = 7  # 0.1 deg = the reference's region-tile size
TILE_RESOLUTIONS = (7, 10, 12)  # golden_tiles: every image -> its cell at each res


def sql_hilbert_index(sf: str = ORACLE_SF) -> str:
    fix = _oracle_fix(sf)
    cte = cells.hilbert_oracle_cte(
        f"(SELECT id, lon_e7, lat_e7 FROM read_parquet('{fix}/osm_nodes.parquet'))"
    )
    return f"WITH {cte} SELECT id, hd AS hilbert FROM hfin"


def q_region_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    fix = _fix(sf_dir)
    nodes = _read(spark, fix, "osm_nodes")
    return (
        nodes.select(cells.cell_col("lon_e7", "lat_e7", REGION_RES).alias("cell_id"))
        .distinct()
        .orderBy("cell_id")
    )


def sql_region_tiles(sf: str = ORACLE_SF) -> str:
    fix = _oracle_fix(sf)
    c = cells.cell_sql("lon_e7", "lat_e7", REGION_RES)
    return f"SELECT DISTINCT {c} AS cell_id FROM read_parquet('{fix}/osm_nodes.parquet') ORDER BY cell_id"


def q_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    fix = _fix(sf_dir)
    geo = _read(spark, fix, "image_geo")
    parts = [
        geo.select(
            "image_id",
            F.lit(r).cast("int").alias("res"),
            cells.cell_col("lon_e7", "lat_e7", r).alias("cell_id"),
        )
        for r in TILE_RESOLUTIONS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def sql_image_tiles(sf: str = ORACLE_SF) -> str:
    fix = _oracle_fix(sf)
    selects = [
        f"SELECT image_id, CAST({r} AS INT) AS res, {cells.cell_sql('lon_e7', 'lat_e7', r)} AS cell_id "
        f"FROM read_parquet('{fix}/image_geo.parquet')"
        for r in TILE_RESOLUTIONS
    ]
    return " UNION ALL ".join(selects)


def q_tokenize_pack(spark, sf_dir):
    """End-to-end tokenizer application: raw text -> trained-BPE token
    counts (merges from the bpe_merges model table, the ivf_codebook
    pattern) -> packed pretraining sequences. The oracle recomputes the
    tape from the INDEPENDENT gentime tokenizer's per-doc counts, so any
    Spark-side tokenization divergence shifts every offset downstream."""
    from .operators.text import tokenize_pack

    fix = _fix(sf_dir)
    merges = [
        (r["left"], r["right"])
        for r in _read(spark, fix, "bpe_merges").orderBy("step").collect()
    ]
    return tokenize_pack(_relation(spark, sf_dir, "documents"), merges)


def sql_ann_cosine_lsh(sf: str = ORACLE_SF) -> str:
    """LSH top-k with the multiprobe auto-policy active: ``cosine_topk_lsh``
    picks probe_bits = auto_probe_bits(corpus, bits) from the driver's
    embeddings row count (2 at the 8-bit default on these corpora); the
    oracle replicates the identical mask explode."""
    import pyarrow.parquet as pq

    from .fixtures.generate import _testdata_dir
    from .operators.ann import BITS_PER_BAND, auto_probe_bits, lsh_topk_oracle_sql

    n = pq.read_metadata(
        os.path.join(_testdata_dir(sf), "embeddings.parquet")
    ).num_rows
    return lsh_topk_oracle_sql(
        f"{_oracle_fix(sf)}/lsh_planes.parquet",
        probe_bits=auto_probe_bits(n, BITS_PER_BAND),
    )


def _on_car_graph(op: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    """``graph.<op>(edges, way_attrs)``, both built from one read of osm_ways."""
    from .operators import graph

    fix = _fix(sf_dir)
    ways = _read(spark, fix, "osm_ways")
    return getattr(graph, op)(
        build_edges(ways, _read(spark, fix, "way_nodes"), _read(spark, fix, "osm_nodes")),
        compile_way_attrs(ways),
    )


def q_osm_diff(spark, sf_dir):
    from .operators.diff import osm_diff, synth_snapshot_b

    ways = _read(spark, _fix(sf_dir), "osm_ways")
    return osm_diff(ways, synth_snapshot_b(ways))


def q_raster_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stamp polygon boundaries, balanced-close, Moore-trace, anchor and
    DP-simplify — the full sparse-contour pipeline, one kernel per polygon
    over its gathered segments. The R5 anchor is the polygon's vertex
    mean in Mercator metres (the graft's "snapped origin"); all rings are
    kept, flagged by containment."""
    from .operators.raster import trace_contours

    segs = _read(spark, _fix(sf_dir), "polygon_edges").select(
        F.col("polygon_id").alias("region_id"), "seq", "x1", "y1", "x2", "y2"
    )
    return trace_contours(segs, cell_m=50.0, close_rounds=2).select(
        "region_id",
        "ring_id",
        "seq",
        F.round("mx", 3).alias("mx"),
        F.round("my", 3).alias("my"),
        "anchored",
    )


def q_raster_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 stamp stage alone, relationally oracled: closed-form integer
    Bresenham + 64-bit word packing + bit_or merge."""
    from .operators.raster import stamp_segments

    fix = _fix(sf_dir)
    segs = _read(spark, fix, "polygon_edges").select(
        F.col("polygon_id").alias("region_id"), "x1", "y1", "x2", "y2"
    )
    return stamp_segments(segs, cell_m=50.0)


def _void_sentinel(df: DataFrame) -> DataFrame:
    """NULL/NaN elevations (voids, uncovered tiles) -> -32768.0 (the .hgt
    void marker) so the driver's stringified compare is unambiguous
    across engines (pandas turns SQL NULL into NaN)."""
    return df.withColumn(
        "elev_m", F.coalesce(F.nanvl(F.col("elev_m"), F.lit(-32768.0)), F.lit(-32768.0))
    )


def q_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduced-form driver row for the HMM matcher (Viterbi is not
    SQL-expressible): every ping must be matched (count parity with the
    traces table, checked exactly by the oracle) and overall accuracy vs
    the seeded ground truth must clear 0.99 (asserted as a boolean the
    oracle pins true). Per-ping output remains the operator API
    (viterbi_match); accuracy 0.997 is additionally gated in pytest."""
    from .operators.mapmatch import viterbi_match

    fix = _fix(sf_dir)
    matched = viterbi_match(
        _read(spark, fix, "traces").drop("true_way_id"),
        _read(spark, fix, "way_nodes"),
        _read(spark, fix, "osm_nodes"),
    )
    truth = _read(spark, fix, "traces").select("trace_id", "seq", "true_way_id")
    j = matched.join(truth, ["trace_id", "seq"])
    return j.agg(
        F.count(F.lit(1)).alias("n_pings"),
        F.countDistinct("trace_id").alias("n_traces"),
        (
            F.avg(F.when(F.col("way_id") == F.col("true_way_id"), 1.0).otherwise(0.0)) >= 0.99
        ).alias("accuracy_ge_99"),
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

RADIUS_M = 500.0
JACCARD_T = 0.5
#: sampling protocol for the registered queries (per-lang training mix +
#: canonical 80/10/10 split); thresholds are embedded as identical integer
#: literals in the Spark plan and the DuckDB oracle
SAMPLE_RATES = {"en": 0.35, "de": 0.8, "fr": 0.6}
SAMPLE_DEFAULT = 0.5
SAMPLE_SEED = 7
NEARDUP_TAU = 0.35  # driver embeddings are near-orthogonal (max cos ~0.48)
NEARDUP_LSH_TAU = 0.9  # embeddings_nd fixture: intra-group cos ~0.986

REGISTRY: dict[str, Query] = {
    # P1/P2: way-attribute projection (model evaluation)
    "way_attrs": Query(
        "functions.model",
        ("compile_way_attrs", "osm_ways"),
        ("way_attrs_oracle_sql", "{fix}/way_tags.parquet", "{fix}/osm_ways.parquet"),
    ),
    # J1+J2+J3+A1+A3: the extraction pipeline -> edges
    "extract_edges": Query(
        "operators.extract",
        ("build_edges", "osm_ways", "way_nodes", "osm_nodes"),
        ("edges_oracle_sql", "{fix}"),
    ),
    # J14 cross-region overlay: directed (src,dst) region border matrix
    "border_matrix": Query(
        "operators.extract",
        ("border_matrix", "osm_ways", "way_nodes", "osm_nodes"),
        ("border_matrix_oracle_sql", "{fix}"),
    ),
    "restriction_arcs": Query(
        "operators.relations",
        ("restriction_arcs", "relations", "way_nodes"),
        ("restriction_arcs_oracle_sql", "{fix}"),
    ),
    "turn_table": Query(
        "operators.relations",
        ("turn_table", "relations", "way_nodes"),
        ("turn_table_oracle_sql", "{fix}"),
    ),
    "hilbert_index": Query(
        "cells",
        ("with_hilbert", ("osm_nodes", "id", "lon_e7", "lat_e7")),
        sql_hilbert_index,
        post=lambda df: df.select("id", "hilbert"),
    ),
    "region_tiles": Query("cells", q_region_tiles, sql_region_tiles),
    "image_tiles": Query("cells", q_image_tiles, sql_image_tiles),
    "tile_pyramid": Query(
        "operators.tiles", ("tile_pyramid", "image_geo"), ("tile_pyramid_oracle_sql", "{fix}")
    ),
    "pip_images": Query(
        "operators.pip",
        ("pip_join", "image_geo", "polygons"),
        ("pip_oracle_sql", "{fix}"),
        params={"out_id": "image_id"},
    ),
    "knn_nodes": Query(
        "operators.knn", ("knn_join", "query_points", "osm_nodes"), ("knn_oracle_sql", "{fix}")
    ),
    "way_cover": Query(
        "operators.tiles",
        ("way_cell_cover", "way_nodes", "osm_nodes"),
        ("way_cell_cover_oracle_sql", "{fix}"),
    ),
    "radius_join": Query(
        "operators.tiles",
        ("radius_prefilter", "query_points", "image_geo"),
        ("radius_prefilter_oracle_sql", "{fix}"),
        params={"radius_m": RADIUS_M},
    ),
    "auto_radius": Query(
        "operators.tiles", ("auto_radius", "query_points"), ("auto_radius_oracle_sql", "{fix}")
    ),
    # A6-A12 + P12: catchment / calibration / flow / fuzzy
    "sector_lasso": Query(
        "operators.aggregates",
        ("sector_lasso", "query_points", "image_geo"),
        ("sector_lasso_oracle_sql", "{fix}"),
    ),
    "percentile_threshold": Query(
        "operators.aggregates",
        ("percentile_threshold", "query_points", "image_geo"),
        ("percentile_threshold_oracle_sql", "{fix}"),
    ),
    "knn_iqr": Query(
        "operators.aggregates",
        ("knn_iqr_filter", "query_points", "image_geo"),
        ("knn_iqr_oracle_sql", "{fix}"),
    ),
    "convex_hull": Query(
        "operators.aggregates",
        ("convex_hull", "query_points", "image_geo"),
        ("convex_hull_oracle_sql", "{fix}"),
    ),
    "weighted_median": Query(
        "operators.aggregates",
        ("weighted_median_ratio", "observations", "way_attrs"),
        ("weighted_median_oracle_sql", "{fix}", "{way_attrs}"),
    ),
    "flow_accum": Query(
        "operators.aggregates",
        ("flow_accumulation", "way_nodes"),
        ("flow_accumulation_oracle_sql", "{fix}"),
    ),
    "fuzzy_match": Query(
        "operators.aggregates", ("fuzzy_name_match", "way_tags"), ("fuzzy_name_oracle_sql", "{fix}")
    ),
    # training-data pipeline ops over the driver's documents/embeddings tables
    "token_stats": Query(
        "operators.text", ("token_stats", "documents"), ("token_stats_oracle_sql",)
    ),
    "quality_score": Query(
        "operators.text", ("quality_score", "documents"), ("quality_score_oracle_sql",)
    ),
    "lang_id": Query("operators.text", ("lang_id", "documents"), ("lang_id_oracle_sql",)),
    "fingerprint": Query(
        "operators.text", ("fingerprint", "documents"), ("fingerprint_oracle_sql",)
    ),
    "doc_repetition": Query(
        "operators.text", ("doc_repetition", "documents"), ("doc_repetition_oracle_sql",)
    ),
    "bpe_pair_counts": Query(
        "operators.text", ("bpe_pair_counts", "documents"), ("bpe_pair_counts_oracle_sql",)
    ),
    "bpe_train": Query(
        "operators.text", ("bpe_train", "documents"), ("bpe_train_oracle_sql", "{fix}")
    ),
    "tokenize_pack": Query(
        "operators.text", q_tokenize_pack, ("tokenize_pack_oracle_sql", "{fix}")
    ),
    "dedup_exact": Query(
        "operators.dedup", ("exact_dedup", "documents"), ("exact_dedup_oracle_sql",)
    ),
    "ngram_jaccard": Query(
        "operators.dedup",
        ("ngram_jaccard_pairs", "documents"),
        ("ngram_jaccard_oracle_sql",),
        params={"threshold": JACCARD_T},
    ),
    # minhash_lsh output = exact-verified candidates; with 8x8 banding the
    # candidate set has full recall at j>=0.5 on this data, so the exact
    # n-gram Jaccard SQL doubles as a RECALL gate: a red row here means
    # the LSH stage started missing true pairs.
    "minhash_lsh": Query(
        "operators.dedup",
        ("minhash_lsh_pairs", "documents"),
        ("ngram_jaccard_oracle_sql",),
        params={"threshold": JACCARD_T},
    ),
    "simhash_pairs": Query(
        "operators.dedup", ("simhash_pairs", "documents"), ("simhash_oracle_sql",)
    ),
    "dedup_clusters": Query(
        "operators.dedup",
        ("dedup_clusters", "documents"),
        ("dedup_clusters_oracle_sql",),
        params={"threshold": JACCARD_T},
    ),
    "substring_dedup": Query(
        "operators.dedup", ("substring_dedup", "documents"), ("substring_dedup_oracle_sql",)
    ),
    "corpus_filter": Query(
        "operators.dedup",
        ("corpus_filter", "documents"),
        ("corpus_filter_oracle_sql",),
        params={"jaccard_t": JACCARD_T},
    ),
    # benchmarks = the planted-contamination fixture
    "contamination_check": Query(
        "operators.dedup",
        ("contamination_check", "documents", ("benchmarks", "bench_id", "text")),
        ("contamination_oracle_sql", "{fix}/benchmarks.parquet"),
    ),
    "stratified_sample": Query(
        "operators.sampling",
        ("stratified_sample", "documents"),
        ("stratified_sample_oracle_sql",),
        params={
            "strata_col": "lang",
            "rates": SAMPLE_RATES,
            "default_rate": SAMPLE_DEFAULT,
            "seed": SAMPLE_SEED,
        },
    ),
    "dataset_split": Query(
        "operators.sampling", ("dataset_split", "documents"), ("dataset_split_oracle_sql",)
    ),
    "pack_sequences": Query(
        "operators.sampling", ("pack_sequences", "documents"), ("pack_sequences_oracle_sql",)
    ),
    "ann_cosine_topk": Query(
        "operators.ann", ("cosine_topk_bruteforce", "embeddings"), ("cosine_topk_oracle_sql",)
    ),
    "ann_cosine_lsh": Query("operators.ann", ("cosine_topk_lsh", "embeddings"), sql_ann_cosine_lsh),
    # IVF over the TRAINED codebook: the ivf_codebook fixture is a gentime
    # reference run of kmeans_train on this sf's embeddings corpus (pytest
    # gates that the distributed trainer reproduces it); the oracle replays
    # assign -> probe -> re-rank over the same table
    "ann_cosine_ivf": Query(
        "operators.ann",
        ("ann_cosine_ivf", "embeddings"),
        ("ivf_topk_oracle_sql",),
        kw={"centroids": "ivf_codebook"},
        oracle_kw={"codebook_parquet": "{fix}/ivf_codebook.parquet"},
    ),
    "embedding_neardup": Query(
        "operators.ann",
        ("embedding_neardup_pairs", "embeddings"),
        ("embedding_neardup_oracle_sql",),
        params={"tau": NEARDUP_TAU},
    ),
    # over the near-dup-regime fixture corpus; the exact oracle is a
    # full-recall gate
    "embedding_neardup_lsh": Query(
        "operators.ann",
        ("embedding_neardup_lsh", "embeddings_nd"),
        ("embedding_neardup_oracle_sql",),
        params={"tau": NEARDUP_LSH_TAU},
        oracle_kw={"src": "read_parquet('{fix}/embeddings_nd.parquet')"},
    ),
    "embedding_clusters": Query(
        "operators.ann",
        ("embedding_clusters", "embeddings_nd"),
        ("embedding_clusters_oracle_sql",),
        params={"tau": NEARDUP_LSH_TAU},
        oracle_kw={"src": "read_parquet('{fix}/embeddings_nd.parquet')"},
    ),
    "unigram_logprob": Query(
        "operators.text", ("unigram_logprob", "documents"), ("unigram_logprob_oracle_sql",)
    ),
    "perplexity_buckets": Query(
        "operators.text", ("perplexity_buckets", "documents"), ("perplexity_buckets_oracle_sql",)
    ),
    "tfidf_top_terms": Query(
        "operators.text", ("tfidf_top_terms", "documents"), ("tfidf_top_terms_oracle_sql",)
    ),
    "dbscan_hotspots": Query(
        "operators.tiles", ("dbscan_hotspots", "osm_nodes"), ("dbscan_hotspots_oracle_sql", "{fix}")
    ),
    "asof_purchases": Query(
        "operators.asof", ("asof_purchases", "events"), ("asof_purchases_oracle_sql",)
    ),
    "stay_points": Query(
        "operators.sessions", ("stay_points", "pings"), ("stay_points_oracle_sql", "{fix}")
    ),
    "bfs_hops": Query("operators.graph", ("bfs_hops", "edges"), ("bfs_hops_oracle_sql", "{edges}")),
    "polygon_metrics": Query(
        "operators.geometry",
        ("polygon_metrics", "polygon_edges"),
        ("polygon_metrics_oracle_sql", "{fix}"),
    ),
    "interval_join": Query(
        "operators.sessions", ("interval_join", "pings"), ("interval_join_oracle_sql", "{fix}")
    ),
    "cell_compact": Query(
        "operators.tiles", ("cell_compact", "osm_nodes"), ("cell_compact_oracle_sql", "{fix}")
    ),
    "od_matrix": Query(
        "operators.sessions", ("od_matrix", "pings"), ("od_matrix_oracle_sql", "{fix}")
    ),
    "traj_resample": Query(
        "operators.sessions", ("traj_resample", "pings"), ("traj_resample_oracle_sql", "{fix}")
    ),
    "ping_speed": Query(
        "operators.sessions", ("ping_speed", "pings"), ("ping_speed_oracle_sql", "{fix}")
    ),
    "isochrone_ms": Query(
        "operators.graph",
        partial(_on_car_graph, "isochrone_ms"),
        ("isochrone_oracle_sql", "{edges}", "{way_attrs}"),
    ),
    "line_simplify": Query(
        "operators.simplify",
        ("line_simplify", "way_nodes", "osm_nodes"),
        ("line_simplify_oracle_sql", "{fix}"),
    ),
    "pagerank": Query("operators.graph", ("pagerank", "edges"), ("pagerank_oracle_sql", "{edges}")),
    "cell_triangles": Query(
        "operators.spatial_stats",
        ("cell_triangles", "osm_nodes"),
        ("cell_triangles_oracle_sql", "{fix}"),
    ),
    "morans_i": Query(
        "operators.spatial_stats", ("morans_i", "osm_nodes"), ("morans_i_oracle_sql", "{fix}")
    ),
    "pmi_collocations": Query(
        "operators.text", ("pmi_collocations", "documents"), ("pmi_collocations_oracle_sql",)
    ),
    "skyline_images": Query(
        "operators.images", ("skyline_images", "images"), ("skyline_images_oracle_sql", "{fix}")
    ),
    "phash_knn": Query(
        "operators.images", ("phash_knn", "images"), ("phash_knn_oracle_sql", "{fix}")
    ),
    "dem_slope": Query(
        "operators.elevation", ("dem_slope", "raster_tiles"), ("dem_slope_oracle_sql", "{fix}")
    ),
    "osm_diff": Query("operators.diff", q_osm_diff, ("osm_diff_oracle_sql", "{fix}")),
    "traj_sim_join": Query(
        "operators.sessions", ("traj_sim_join", "pings"), ("traj_sim_join_oracle_sql", "{fix}")
    ),
    "cell_regions": Query(
        "operators.spatial_stats",
        ("cell_regions", "osm_nodes"),
        ("cell_regions_oracle_sql", "{fix}"),
    ),
    "cell_uncompact": Query(
        "operators.tiles", ("cell_uncompact", "osm_nodes"), ("cell_uncompact_oracle_sql", "{fix}")
    ),
    "simhash_clusters": Query(
        "operators.dedup", ("simhash_clusters", "documents"), ("simhash_clusters_oracle_sql",)
    ),
    "route_paths": Query(
        "operators.graph",
        partial(_on_car_graph, "route_paths"),
        ("route_paths_oracle_sql", "{edges}", "{way_attrs}"),
    ),
    "caption_templates": Query(
        "operators.images",
        ("caption_templates", "images"),
        ("caption_templates_oracle_sql", "{fix}"),
    ),
    "bearing_sectors": Query(
        "operators.spatial_stats",
        ("bearing_sectors", "edges", "osm_nodes"),
        ("bearing_sectors_oracle_sql", "{edges}", "{fix}"),
    ),
    "kcore_peel": Query(
        "operators.graph", ("kcore_peel", "edges"), ("kcore_peel_oracle_sql", "{edges}")
    ),
    "time_matrix": Query(
        "operators.graph",
        partial(_on_car_graph, "time_matrix"),
        ("time_matrix_oracle_sql", "{edges}", "{way_attrs}"),
    ),
    "heatmap_kde": Query(
        "operators.tiles", ("heatmap_kde", "osm_nodes"), ("heatmap_kde_oracle_sql", "{fix}")
    ),
    "zonal_stats": Query(
        "operators.elevation",
        ("zonal_stats", "raster_tiles", "polygons"),
        ("zonal_stats_oracle_sql", "{fix}"),
    ),
    # geometry codecs / sinks (S10, S11, P8, P9, P10)
    "wkb_sink": Query(
        "operators.geometry", ("wkb_sink", "polygons"), ("wkb_sink_oracle_sql", "{fix}")
    ),
    "geojson_sink": Query(
        "operators.geometry", ("geojson_sink", "polygons"), ("geojson_oracle_sql", "{fix}")
    ),
    "way_polyline6": Query(
        "operators.geometry",
        ("way_polyline6", "way_nodes", "osm_nodes"),
        ("polyline6_oracle_sql", "{fix}"),
    ),
    "canonical_hash": Query(
        "operators.geometry", ("canonical_hash", "polygons"), ("canonical_hash_oracle_sql", "{fix}")
    ),
    "interp_midpoint": Query(
        "operators.geometry",
        ("interpolate_midpoint", "way_nodes", "osm_nodes"),
        ("interpolate_midpoint_oracle_sql", "{fix}"),
    ),
    # multimodal image payloads, checked against the image_truth goldens
    "image_decode_stats": Query(
        "operators.images",
        ("decode_stats", "images"),
        """
SELECT image_id, true AS decode_ok, w, h, mean, std, p_dark, lossy_psnr_db,
       true AS phash_ok
FROM read_parquet('{fix}/image_truth.parquet')
""",
    ),
    # thumb binary -> md5 hex for the driver compare (binary cells
    # stringify differently across engines); the golden md5 in the
    # image_truth fixture is computed from the PRE-encode pixels, so the
    # full decode -> block-mean resize -> PNG encode path is verified.
    "image_resize": Query(
        "operators.images",
        ("resize_images", "images"),
        """
SELECT image_id, CAST(32 AS INT) AS w, CAST(32 AS INT) AS h, thumb_md5
FROM read_parquet('{fix}/image_truth.parquet')
""",
        post=lambda df: df.select("image_id", "w", "h", F.md5("thumb").alias("thumb_md5")),
    ),
    "phash_dedup": Query(
        "operators.images", ("phash_dedup", "images"), ("phash_dedup_oracle_sql", "{fix}")
    ),
    "phash_neardup": Query(
        "operators.images", ("phash_neardup_pairs", "images"), ("phash_neardup_oracle_sql", "{fix}")
    ),
    "phash_clusters": Query(
        "operators.images", ("phash_clusters", "images"), ("phash_clusters_oracle_sql", "{fix}")
    ),
    # the fixture plants image near-dups that ALSO share a one-word-edited
    # caption, so the planted pairs survive both gates
    "crossmodal_neardup": Query(
        "operators.images",
        ("crossmodal_neardup", "images"),
        ("crossmodal_neardup_oracle_sql", "{fix}"),
    ),
    "sessionize": Query(
        "operators.sessions", ("sessionize", "pings"), ("sessionize_oracle_sql", "{fix}")
    ),
    "audio_features": Query(
        "operators.media", ("audio_features", "audio"), ("audio_features_oracle_sql", "{fix}")
    ),
    "frame_sample": Query(
        "operators.media", ("frame_sample", "videos"), ("frame_sample_oracle_sql", "{fix}")
    ),
    # plumbing-parity oracle: contour_truth is a single-threaded reference
    # run of the same stamp/close/trace/simplify kernels at generation time,
    # so the row verifies that the DISTRIBUTED execution (the segment
    # gather: every region's segments reach one kernel, whatever their
    # row order and partitioning) reproduces it exactly. Algorithm-level
    # checks live in raster_stamp's relational oracle and
    # tests/test_raster.py.
    "raster_contour": Query(
        "operators.raster",
        q_raster_contour,
        "SELECT * FROM read_parquet('{fix}/contour_truth.parquet')",
    ),
    "raster_stamp": Query("operators.raster", q_raster_stamp, ("stamp_oracle_sql", "{fix}")),
    "dem_sample": Query(
        "operators.elevation",
        ("dem_sample", "query_points", "raster_tiles"),
        ("dem_sample_oracle_sql", "{fix}"),
        post=_void_sentinel,
    ),
    "dem_coverage": Query(
        "operators.elevation",
        ("dem_coverage", "query_points", "raster_tiles"),
        ("dem_coverage_oracle_sql", "{fix}"),
    ),
    "map_match": Query(
        "operators.mapmatch",
        q_map_match,
        """
SELECT CAST(count(*) AS BIGINT) AS n_pings,
       CAST(count(DISTINCT trace_id) AS BIGINT) AS n_traces,
       true AS accuracy_ge_99
FROM read_parquet('{fix}/traces.parquet')
""",
    ),
    # plumbing-parity oracle: tsp_truth is a single-threaded reference run
    # of the same md5-grouping + NN + 2-opt kernels at generation time;
    # the row verifies the distributed groupBy/applyInPandas run reproduces
    # it exactly (tour validity/improvement are pytest-gated)
    "tsp_trips": Query(
        "operators.trips",
        ("tsp_trips", "query_points"),
        "SELECT * FROM read_parquet('{fix}/tsp_truth.parquet')",
    ),
    "elev_frontier": Query(
        "operators.elevation",
        ("elevation_frontier", "way_nodes", "osm_nodes", "raster_tiles"),
        ("elev_frontier_oracle_sql", "{fix}"),
    ),
    "same_way_matrix": Query(
        "operators.matrix",
        ("same_way_matrix", "way_nodes", "osm_nodes"),
        ("same_way_matrix_oracle_sql", "{fix}"),
    ),
    "phantom_matrix": Query(
        "operators.matrix",
        ("phantom_matrix", "query_points", "way_nodes", "osm_nodes"),
        ("phantom_matrix_oracle_sql", "{fix}"),
    ),
    "bbox_agg": Query(
        "operators.matrix", ("bbox_aggregate", "osm_nodes"), ("bbox_aggregate_oracle_sql", "{fix}")
    ),
    "elev_profile": Query(
        "operators.elevation",
        ("elevation_profile", "way_nodes", "osm_nodes", "raster_tiles"),
        ("elev_profile_oracle_sql", "{fix}"),
        post=_void_sentinel,
    ),
}

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: partial(_run, q) for name, q in REGISTRY.items()
}
ORACLES: dict[str, Callable[..., str]] = {name: partial(_oracle, q) for name, q in REGISTRY.items()}
