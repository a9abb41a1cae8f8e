"""Query registry: every implemented operator as a (spark, sf_dir) callable
plus a DuckDB oracle SQL string over the same deterministic inputs.

The driver runs each Spark query and its oracle side-by-side at sf=0.01
and compares row count + schema + order-insensitive value hash. Spatial
queries run over this repo's deterministic fixtures (generated on demand,
seed 42 — see fixtures/generate.py); text/dedup/ANN queries run over the
driver's pre-registered testdata views (documents, embeddings, events).

Column-name discipline: every computed column is aliased identically in
the Spark plan and the oracle SQL.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cells
from .fixtures.generate import ensure_fixtures, fixture_dir
from .functions.model import compile_way_attrs, way_attrs_oracle_sql
from .operators.extract import build_edges, edges_oracle_sql
from .session import read_parquet

# Oracle SQL is only executed at sf0.01 (driver contract).
ORACLE_SF = "0.01"


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
# P1/P2: way-attribute projection (model evaluation)
# ---------------------------------------------------------------------------


def q_way_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fix = _fix(sf_dir)
    return compile_way_attrs(_read(spark, fix, "osm_ways"))


def sql_way_attrs(sf: str = ORACLE_SF) -> str:
    fix = _oracle_fix(sf)
    return way_attrs_oracle_sql(f"{fix}/way_tags.parquet", f"{fix}/osm_ways.parquet")


# ---------------------------------------------------------------------------
# J1+J2+J3+A1+A3: the extraction pipeline -> edges
# ---------------------------------------------------------------------------


def q_extract_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    fix = _fix(sf_dir)
    return build_edges(
        _read(spark, fix, "osm_ways"), _read(spark, fix, "way_nodes"), _read(spark, fix, "osm_nodes")
    )


def sql_extract_edges(sf: str = ORACLE_SF) -> str:
    return edges_oracle_sql(_oracle_fix(sf))


def q_border_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J14 cross-region overlay: directed (src,dst) region border matrix."""
    from .operators.extract import border_matrix

    fix = _fix(sf_dir)
    return border_matrix(
        _read(spark, fix, "osm_ways"), _read(spark, fix, "way_nodes"), _read(spark, fix, "osm_nodes")
    )


def sql_border_matrix(sf: str = ORACLE_SF) -> str:
    from .operators.extract import border_matrix_oracle_sql

    return border_matrix_oracle_sql(_oracle_fix(sf))


def q_restriction_arcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 relation scan + turn-restriction triple extraction with topology
    validation (reference route/src/ingest/mod.rs:253-329,
    route/src/model/profiling.rs:570-588)."""
    from .operators.relations import restriction_arcs

    fix = _fix(sf_dir)
    return restriction_arcs(_read(spark, fix, "relations"), _read(spark, fix, "way_nodes"))


def sql_restriction_arcs(sf: str = ORACLE_SF) -> str:
    from .operators.relations import restriction_arcs_oracle_sql

    return restriction_arcs_oracle_sql(_oracle_fix(sf))


def q_turn_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanded ban/only turn verdicts per rule-carrying via node (the
    reference's TurnRuleKind consumption semantics)."""
    from .operators.relations import turn_table

    fix = _fix(sf_dir)
    return turn_table(_read(spark, fix, "relations"), _read(spark, fix, "way_nodes"))


def sql_turn_table(sf: str = ORACLE_SF) -> str:
    from .operators.relations import turn_table_oracle_sql

    return turn_table_oracle_sql(_oracle_fix(sf))


def q_hilbert_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 locality key: order-16 Hilbert distance per node (the sort key the
    snap-index layout uses within cells, snap_index.rs:203-243)."""
    fix = _fix(sf_dir)
    return cells.with_hilbert(_read(spark, fix, "osm_nodes").select("id", "lon_e7", "lat_e7")).select(
        "id", "hilbert"
    )


def sql_hilbert_index(sf: str = ORACLE_SF) -> str:
    fix = _oracle_fix(sf)
    cte = cells.hilbert_oracle_cte(
        f"(SELECT id, lon_e7, lat_e7 FROM read_parquet('{fix}/osm_nodes.parquet'))"
    )
    return f"WITH {cte} SELECT id, hd AS hilbert FROM hfin"


# ---------------------------------------------------------------------------
# A4/J10: region tile set (0.1-degree coarse coverage, region_tiles.rs)
# ---------------------------------------------------------------------------

REGION_RES = 7  # 0.1 deg = the reference's region-tile size


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


# ---------------------------------------------------------------------------
# Tile assignment: every image -> its cell at res 7/10/12 (golden_tiles)
# ---------------------------------------------------------------------------

TILE_RESOLUTIONS = (7, 10, 12)


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


# ---------------------------------------------------------------------------
# J7+J8: point-in-polygon join (images x polygons)
# ---------------------------------------------------------------------------


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-zoom tile-pyramid rollup over the image points: one
    corpus-sized base aggregate, then a vocabulary-sized parent rollup
    per zoom level (operators/tiles.py)."""
    from .operators.tiles import tile_pyramid

    fix = _fix(sf_dir)
    return tile_pyramid(_read(spark, fix, "image_geo"))


def sql_tile_pyramid(sf: str = ORACLE_SF) -> str:
    from .operators.tiles import tile_pyramid_oracle_sql

    return tile_pyramid_oracle_sql(_oracle_fix(sf))


def q_pip_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pip import pip_join

    fix = _fix(sf_dir)
    return pip_join(_read(spark, fix, "image_geo"), _read(spark, fix, "polygons")).withColumnsRenamed(
        {"point_id": "image_id"}
    )


def sql_pip_images(sf: str = ORACLE_SF) -> str:
    from .operators.pip import pip_oracle_sql

    return pip_oracle_sql(_oracle_fix(sf), out_id="image_id")


# ---------------------------------------------------------------------------
# J5+W1: kNN snap via k-ring expansion (query_points x osm_nodes)
# ---------------------------------------------------------------------------


def q_knn_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.knn import knn_join

    fix = _fix(sf_dir)
    return knn_join(_read(spark, fix, "query_points"), _read(spark, fix, "osm_nodes"))


def sql_knn_nodes(sf: str = ORACLE_SF) -> str:
    from .operators.knn import knn_oracle_sql

    return knn_oracle_sql(_oracle_fix(sf))


# ---------------------------------------------------------------------------
# Tile cover + range join + auto radius (tiles.py)
# ---------------------------------------------------------------------------

RADIUS_M = 500.0


def q_way_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.tiles import way_cell_cover

    fix = _fix(sf_dir)
    return way_cell_cover(_read(spark, fix, "way_nodes"), _read(spark, fix, "osm_nodes"))


def sql_way_cover(sf: str = ORACLE_SF) -> str:
    from .operators.tiles import way_cell_cover_oracle_sql

    return way_cell_cover_oracle_sql(_oracle_fix(sf))


def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.tiles import radius_prefilter

    fix = _fix(sf_dir)
    return radius_prefilter(
        _read(spark, fix, "query_points"), _read(spark, fix, "image_geo"), RADIUS_M
    )


def sql_radius_join(sf: str = ORACLE_SF) -> str:
    from .operators.tiles import radius_prefilter_oracle_sql

    return radius_prefilter_oracle_sql(_oracle_fix(sf), RADIUS_M)


def q_auto_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.tiles import auto_radius

    fix = _fix(sf_dir)
    return auto_radius(_read(spark, fix, "query_points"))


def sql_auto_radius(sf: str = ORACLE_SF) -> str:
    from .operators.tiles import auto_radius_oracle_sql

    return auto_radius_oracle_sql(_oracle_fix(sf))


# ---------------------------------------------------------------------------
# A6-A12 + P12: catchment / calibration / flow / fuzzy (aggregates.py)
# ---------------------------------------------------------------------------


def q_sector_lasso(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregates import sector_lasso

    fix = _fix(sf_dir)
    return sector_lasso(_read(spark, fix, "query_points"), _read(spark, fix, "image_geo"))


def sql_sector_lasso(sf: str = ORACLE_SF) -> str:
    from .operators.aggregates import sector_lasso_oracle_sql

    return sector_lasso_oracle_sql(_oracle_fix(sf))


def q_percentile_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregates import percentile_threshold

    fix = _fix(sf_dir)
    return percentile_threshold(_read(spark, fix, "query_points"), _read(spark, fix, "image_geo"))


def sql_percentile_threshold(sf: str = ORACLE_SF) -> str:
    from .operators.aggregates import percentile_threshold_oracle_sql

    return percentile_threshold_oracle_sql(_oracle_fix(sf))


def q_knn_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregates import knn_iqr_filter

    fix = _fix(sf_dir)
    return knn_iqr_filter(_read(spark, fix, "query_points"), _read(spark, fix, "image_geo"))


def sql_knn_iqr(sf: str = ORACLE_SF) -> str:
    from .operators.aggregates import knn_iqr_oracle_sql

    return knn_iqr_oracle_sql(_oracle_fix(sf))


def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregates import convex_hull

    fix = _fix(sf_dir)
    return convex_hull(_read(spark, fix, "query_points"), _read(spark, fix, "image_geo"))


def sql_convex_hull(sf: str = ORACLE_SF) -> str:
    from .operators.aggregates import convex_hull_oracle_sql

    return convex_hull_oracle_sql(_oracle_fix(sf))


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregates import weighted_median_ratio

    fix = _fix(sf_dir)
    return weighted_median_ratio(
        _read(spark, fix, "observations"), compile_way_attrs(_read(spark, fix, "osm_ways"))
    )


def sql_weighted_median(sf: str = ORACLE_SF) -> str:
    from .operators.aggregates import weighted_median_oracle_sql

    fix = _oracle_fix(sf)
    wa = way_attrs_oracle_sql(f"{fix}/way_tags.parquet", f"{fix}/osm_ways.parquet")
    return weighted_median_oracle_sql(fix, wa)


def q_flow_accum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregates import flow_accumulation

    fix = _fix(sf_dir)
    return flow_accumulation(_read(spark, fix, "way_nodes"))


def sql_flow_accum(sf: str = ORACLE_SF) -> str:
    from .operators.aggregates import flow_accumulation_oracle_sql

    return flow_accumulation_oracle_sql(_oracle_fix(sf))


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregates import fuzzy_name_match

    fix = _fix(sf_dir)
    return fuzzy_name_match(_read(spark, fix, "way_tags"))


def sql_fuzzy_match(sf: str = ORACLE_SF) -> str:
    from .operators.aggregates import fuzzy_name_oracle_sql

    return fuzzy_name_oracle_sql(_oracle_fix(sf))


# ---------------------------------------------------------------------------
# Training-data pipeline ops over the driver's documents/embeddings tables
# ---------------------------------------------------------------------------

JACCARD_T = 0.5


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, "embeddings.parquet"))


def q_token_stats(spark, sf_dir):
    from .operators.text import token_stats

    return token_stats(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    from .operators.text import quality_score

    return quality_score(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    from .operators.text import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    from .operators.text import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_doc_repetition(spark, sf_dir):
    """Gopher-style intra-document repetition filter (top-bigram coverage +
    duplicate-trigram fraction); n-grams built JVM-side, one (doc_id, ngram)
    shuffle per order (operators/text.py)."""
    from .operators.text import doc_repetition

    return doc_repetition(_docs(spark, sf_dir))


def sql_doc_repetition(sf: str = ORACLE_SF) -> str:
    from .operators.text import doc_repetition_oracle_sql

    return doc_repetition_oracle_sql()


def q_bpe_pair_counts(spark, sf_dir):
    """BPE tokenizer-training iteration-0: global top-N adjacent character
    pairs weighted by word frequency — all post-wordcount work runs on the
    word/pair VOCABULARY, sub-linear in corpus size (operators/text.py)."""
    from .operators.text import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir))


def sql_bpe_pair_counts(sf: str = ORACLE_SF) -> str:
    from .operators.text import bpe_pair_counts_oracle_sql

    return bpe_pair_counts_oracle_sql()


def q_bpe_train(spark, sf_dir):
    """Full BPE tokenizer training loop (round 5): per-merge vocabulary
    aggregates + driver-held merge list (kmeans-style bounded state);
    verified against the gentime plain-Python reference run
    (operators/text.py bpe_train)."""
    from .operators.text import bpe_train

    return bpe_train(_docs(spark, sf_dir))


def sql_bpe_train(sf: str = ORACLE_SF) -> str:
    from .operators.text import bpe_train_oracle_sql

    return bpe_train_oracle_sql(_oracle_fix(sf))


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
    return tokenize_pack(_docs(spark, sf_dir), merges)


def sql_tokenize_pack(sf: str = ORACLE_SF) -> str:
    from .operators.text import tokenize_pack_oracle_sql

    return tokenize_pack_oracle_sql(_oracle_fix(sf))


def q_dedup_exact(spark, sf_dir):
    from .operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_ngram_jaccard(spark, sf_dir):
    from .operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), JACCARD_T)


def q_minhash_lsh(spark, sf_dir):
    from .operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), JACCARD_T)


def q_simhash_pairs(spark, sf_dir):
    from .operators.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir))


def q_contamination_check(spark, sf_dir):
    """Train-vs-benchmark 8-gram overlap over the driver's documents and
    the planted-contamination benchmarks fixture (bench side broadcasts;
    the corpus never shuffles)."""
    from .operators.dedup import contamination_check

    fix = _fix(sf_dir)
    return contamination_check(
        _docs(spark, sf_dir), _read(spark, fix, "benchmarks").select("bench_id", "text")
    )


def sql_contamination_check(sf: str = ORACLE_SF) -> str:
    from .operators.dedup import contamination_oracle_sql

    return contamination_oracle_sql(f"{_oracle_fix(sf)}/benchmarks.parquet")


#: sampling protocol for the registered queries (per-lang training mix +
#: canonical 80/10/10 split); thresholds are embedded as identical integer
#: literals in the Spark plan and the DuckDB oracle
SAMPLE_RATES = {"en": 0.35, "de": 0.8, "fr": 0.6}
SAMPLE_DEFAULT = 0.5
SAMPLE_SEED = 7


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language sampling of the documents table —
    map-only plan, reproducible across cluster sizes (sampling.py)."""
    from .operators.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), "lang", SAMPLE_RATES, SAMPLE_DEFAULT, SAMPLE_SEED
    )


def sql_stratified_sample(sf: str = ORACLE_SF) -> str:
    from .operators.sampling import stratified_sample_oracle_sql

    return stratified_sample_oracle_sql("lang", SAMPLE_RATES, SAMPLE_DEFAULT, SAMPLE_SEED)


def q_dataset_split(spark, sf_dir):
    """Hash-range train/val/test assignment (80/10/10) — total over the
    corpus, leak-proof across jobs (sampling.py)."""
    from .operators.sampling import dataset_split

    return dataset_split(_docs(spark, sf_dir))


def sql_dataset_split(sf: str = ORACLE_SF) -> str:
    from .operators.sampling import dataset_split_oracle_sql

    return dataset_split_oracle_sql()


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing onto per-shard token tapes —
    one bounded exchange; text never shuffles (sampling.py)."""
    from .operators.sampling import pack_sequences

    return pack_sequences(_docs(spark, sf_dir))


def sql_pack_sequences(sf: str = ORACLE_SF) -> str:
    from .operators.sampling import pack_sequences_oracle_sql

    return pack_sequences_oracle_sql()


def q_dedup_clusters(spark, sf_dir):
    """A13 completion: near-dup pairs -> connected components -> one
    canonical keeper per cluster (distributed min-label + pointer
    jumping; no driver-side union-find)."""
    from .operators.dedup import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir), JACCARD_T)


def sql_dedup_clusters(sf: str = ORACLE_SF) -> str:
    from .operators.dedup import dedup_clusters_oracle_sql

    return dedup_clusters_oracle_sql(JACCARD_T)


def q_substring_dedup(spark, sf_dir):
    """Exact duplicated-span removal (round 5): rolling window hashes ->
    hot-window gate -> bucketed self-join -> diagonal islands merged into
    maximal spans (operators/dedup.py substring_dedup)."""
    from .operators.dedup import substring_dedup

    return substring_dedup(_docs(spark, sf_dir))


def sql_substring_dedup(sf: str = ORACLE_SF) -> str:
    from .operators.dedup import substring_dedup_oracle_sql

    return substring_dedup_oracle_sql()


def q_corpus_filter(spark, sf_dir):
    """End-to-end training-corpus gate: quality + repetition + dedup-keeper
    composed into one keep/drop row per document (operators/dedup.py)."""
    from .operators.dedup import corpus_filter

    return corpus_filter(_docs(spark, sf_dir), jaccard_t=JACCARD_T)


def sql_corpus_filter(sf: str = ORACLE_SF) -> str:
    from .operators.dedup import corpus_filter_oracle_sql

    return corpus_filter_oracle_sql(jaccard_t=JACCARD_T)


def q_ann_cosine_topk(spark, sf_dir):
    from .operators.ann import cosine_topk_bruteforce

    return cosine_topk_bruteforce(_embs(spark, sf_dir))


NEARDUP_TAU = 0.35  # driver embeddings are near-orthogonal (max cos ~0.48)


def q_embedding_neardup(spark, sf_dir):
    from .operators.ann import embedding_neardup_pairs

    return embedding_neardup_pairs(_embs(spark, sf_dir), tau=NEARDUP_TAU)


NEARDUP_LSH_TAU = 0.9  # embeddings_nd fixture: intra-group cos ~0.986


def q_embedding_neardup_lsh(spark, sf_dir):
    """Sub-quadratic embedding-cosine near-dup over the near-dup-regime
    fixture corpus; the exact SQL oracle is a full-recall gate."""
    from .operators.ann import embedding_neardup_lsh

    fix = _fix(sf_dir)
    return embedding_neardup_lsh(_read(spark, fix, "embeddings_nd"), tau=NEARDUP_LSH_TAU)


def sql_embedding_neardup_lsh(sf: str = ORACLE_SF) -> str:
    from .operators.ann import embedding_neardup_oracle_sql

    fix = _oracle_fix(sf)
    return embedding_neardup_oracle_sql(
        NEARDUP_LSH_TAU, src=f"read_parquet('{fix}/embeddings_nd.parquet')"
    )


def q_ann_cosine_lsh(spark, sf_dir):
    """LSH top-k with the multiprobe AUTO-POLICY active (probe_bits =
    auto_probe_bits(corpus, bits): 2 at the 8-bit default on these
    corpora); the oracle replicates the identical mask explode."""
    from .operators.ann import cosine_topk_lsh

    return cosine_topk_lsh(_embs(spark, sf_dir))


def sql_ann_cosine_lsh(sf: str = ORACLE_SF) -> str:
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


def q_ann_cosine_ivf(spark, sf_dir):
    """IVF over the TRAINED codebook: the ivf_codebook fixture is a
    gentime reference run of kmeans_train on this sf's embeddings corpus
    (pytest gates that the distributed trainer reproduces it); the DuckDB
    oracle replicates assign -> probe -> re-rank over the same table."""
    from .operators.ann import ann_cosine_ivf

    fix = _fix(sf_dir)
    return ann_cosine_ivf(
        _embs(spark, sf_dir), centroids=_read(spark, fix, "ivf_codebook")
    )


def _sql_text(name: str):
    from .operators import dedup as _d
    from .operators import text as _t
    from .operators.ann import cosine_topk_oracle_sql

    return {
        "token_stats": _t.token_stats_oracle_sql,
        "quality_score": _t.quality_score_oracle_sql,
        "lang_id": _t.lang_id_oracle_sql,
        "fingerprint": _t.fingerprint_oracle_sql,
        "dedup_exact": _d.exact_dedup_oracle_sql,
        "ngram_jaccard": lambda: _d.ngram_jaccard_oracle_sql(JACCARD_T),
        "ann_cosine_topk": cosine_topk_oracle_sql,
    }[name]()


# ---------------------------------------------------------------------------
# Geometry codecs / sinks (S10, S11, P8, P9, P10 — operators/geometry.py)
# ---------------------------------------------------------------------------


def q_wkb_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.geometry import wkb_sink

    return wkb_sink(_read(spark, _fix(sf_dir), "polygons"))


def sql_wkb_sink(sf: str = ORACLE_SF) -> str:
    from .operators.geometry import wkb_sink_oracle_sql

    return wkb_sink_oracle_sql(_oracle_fix(sf))


def sql_geojson_sink(sf: str = ORACLE_SF) -> str:
    from .operators.geometry import geojson_oracle_sql

    return geojson_oracle_sql(_oracle_fix(sf))


def sql_way_polyline6(sf: str = ORACLE_SF) -> str:
    from .operators.geometry import polyline6_oracle_sql

    return polyline6_oracle_sql(_oracle_fix(sf))


def sql_canonical_hash(sf: str = ORACLE_SF) -> str:
    from .operators.geometry import canonical_hash_oracle_sql

    return canonical_hash_oracle_sql(_oracle_fix(sf))


def q_geojson_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.geometry import geojson_sink

    return geojson_sink(_read(spark, _fix(sf_dir), "polygons"))


def q_way_polyline6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.geometry import way_polyline6

    fix = _fix(sf_dir)
    return way_polyline6(_read(spark, fix, "way_nodes"), _read(spark, fix, "osm_nodes"))


def q_canonical_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.geometry import canonical_hash

    return canonical_hash(_read(spark, _fix(sf_dir), "polygons"))


def q_interp_midpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.geometry import interpolate_midpoint

    fix = _fix(sf_dir)
    return interpolate_midpoint(_read(spark, fix, "way_nodes"), _read(spark, fix, "osm_nodes"))


def sql_interp_midpoint(sf: str = ORACLE_SF) -> str:
    from .operators.geometry import interpolate_midpoint_oracle_sql

    return interpolate_midpoint_oracle_sql(_oracle_fix(sf))


# ---------------------------------------------------------------------------
# Multimodal image-payload ops (input_hint axis — operators/images.py)
# ---------------------------------------------------------------------------


def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.images import decode_stats

    fix = _fix(sf_dir)
    return decode_stats(_read(spark, fix, "images"))


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.images import resize_images

    fix = _fix(sf_dir)
    # thumb binary -> md5 hex for the driver compare (binary cells
    # stringify differently across engines); the golden md5 in the
    # image_truth fixture is computed from the PRE-encode pixels, so the
    # full decode -> block-mean resize -> PNG encode path is verified.
    return resize_images(_read(spark, fix, "images")).select(
        "image_id", "w", "h", F.md5("thumb").alias("thumb_md5")
    )


def sql_image_decode_stats(sf: str = ORACLE_SF) -> str:
    fix = _oracle_fix(sf)
    return f"""
SELECT image_id, true AS decode_ok, w, h, mean, std, p_dark, lossy_psnr_db,
       true AS phash_ok
FROM read_parquet('{fix}/image_truth.parquet')
"""


def sql_image_resize(sf: str = ORACLE_SF) -> str:
    fix = _oracle_fix(sf)
    return f"""
SELECT image_id, CAST(32 AS INT) AS w, CAST(32 AS INT) AS h, thumb_md5
FROM read_parquet('{fix}/image_truth.parquet')
"""


def q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.images import phash_dedup

    fix = _fix(sf_dir)
    return phash_dedup(_read(spark, fix, "images"))


def sql_phash_dedup(sf: str = ORACLE_SF) -> str:
    from .operators.images import phash_dedup_oracle_sql

    return phash_dedup_oracle_sql(_oracle_fix(sf))


def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.images import phash_neardup_pairs

    fix = _fix(sf_dir)
    return phash_neardup_pairs(_read(spark, fix, "images"))


def sql_phash_neardup(sf: str = ORACLE_SF) -> str:
    from .operators.images import phash_neardup_oracle_sql

    return phash_neardup_oracle_sql(_oracle_fix(sf))


def q_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-side near-dup cluster resolution: phash band-join pairs ->
    distributed connected components -> canonical keeper per cluster
    (same CC kernel as the text pipeline's dedup_clusters)."""
    from .operators.images import phash_clusters

    fix = _fix(sf_dir)
    return phash_clusters(_read(spark, fix, "images"))


def sql_phash_clusters(sf: str = ORACLE_SF) -> str:
    from .operators.images import phash_clusters_oracle_sql

    return phash_clusters_oracle_sql(_oracle_fix(sf))


# ---------------------------------------------------------------------------
# Multimodal audio/video ops + sessionization (operators/media.py, sessions.py)
# ---------------------------------------------------------------------------


def q_crossmodal_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-modality near-dup: phash band candidates verified by caption
    shingle Jaccard. The fixture plants image near-dups that ALSO share
    a one-word-edited caption, so the planted pairs survive both gates."""
    from .operators.images import crossmodal_neardup

    return crossmodal_neardup(_read(spark, _fix(sf_dir), "images"))


def sql_crossmodal_neardup(sf: str = ORACLE_SF) -> str:
    from .operators.images import crossmodal_neardup_oracle_sql

    return crossmodal_neardup_oracle_sql(_oracle_fix(sf))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the pings event table (the canonical
    stateful training-pipeline op): one-shuffle islands plan — lag marks
    gap starts, running sum numbers sessions, groupBy aggregates — all
    three steps reuse the same user_id hash partitioning."""
    from .operators.sessions import sessionize

    return sessionize(_read(spark, _fix(sf_dir), "pings"))


def sql_sessionize(sf: str = ORACLE_SF) -> str:
    from .operators.sessions import sessionize_oracle_sql

    return sessionize_oracle_sql(_oracle_fix(sf))


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-PCM decode + per-clip features; the DuckDB oracle recomputes
    every feature from the parallel ``samples`` ARRAY column, so this is
    a differential check of the byte-level decode."""
    from .operators.media import audio_features

    return audio_features(_read(spark, _fix(sf_dir), "audio"))


def sql_audio_features(sf: str = ORACLE_SF) -> str:
    from .operators.media import audio_features_oracle_sql

    return audio_features_oracle_sql(_oracle_fix(sf))


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided frame sampling + scene-cut flag over raw-plane video
    payloads; verified against the pre-serialization frame_truth stats."""
    from .operators.media import frame_sample

    return frame_sample(_read(spark, _fix(sf_dir), "videos"))


def sql_frame_sample(sf: str = ORACLE_SF) -> str:
    from .operators.media import frame_sample_oracle_sql

    return frame_sample_oracle_sql(_oracle_fix(sf))


# ---------------------------------------------------------------------------
# Raster pipeline (R1-R9) + DEM sampling (S14, R10-R12)
# ---------------------------------------------------------------------------


def q_raster_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stamp polygon boundaries into bit tiles, balanced-close, Moore-trace,
    DP-simplify — the full sparse-contour pipeline per polygon. Closing is
    fused into the per-region trace UDF (identical result to the
    distributed close_regions — parity-tested — with zero extra shuffles;
    regions here are bounded by the per-group grid guard)."""
    from .operators.raster import stamp_segments, trace_contours

    fix = _fix(sf_dir)
    segs = _read(spark, fix, "polygon_edges").select(
        F.col("polygon_id").alias("region_id"), "x1", "y1", "x2", "y2"
    )
    # R5 anchor = polygon centroid in Mercator metres (the graft's "snapped
    # origin"); all rings are kept, flagged by containment.
    cent = (
        _read(spark, fix, "polygon_edges")
        .groupBy(F.col("polygon_id").alias("region_id"))
        .agg(F.avg("x1").alias("clon"), F.avg("y1").alias("clat"))
    )
    merc_r = 6_378_137.0
    anchors = cent.select(
        "region_id",
        (F.lit(merc_r) * F.radians(F.col("clon") / F.lit(1e7))).alias("ax_m"),
        (
            F.lit(merc_r)
            * F.log(F.tan(F.lit(float(np.pi) / 4) + F.radians(F.col("clat") / F.lit(1e7)) / 2))
        ).alias("ay_m"),
    )
    rings = trace_contours(
        stamp_segments(segs, cell_m=50.0), cell_m=50.0, close_rounds=2, anchors=anchors
    )
    return rings.select(
        "region_id",
        "ring_id",
        "seq",
        F.round("mx", 3).alias("mx"),
        F.round("my", 3).alias("my"),
        "anchored",
    )


def sql_raster_contour(sf: str = ORACLE_SF) -> str:
    """Plumbing-parity oracle: the contour_truth fixture is a
    single-threaded reference run of the same stamp/close/trace/simplify
    kernels at generation time — the driver row verifies the DISTRIBUTED
    execution (mapInPandas batching, bit_or word merge across partitions,
    cogrouped gather) reproduces it exactly. Algorithm-level checks
    (stamp vs SQL Bresenham, trace invariants) live in raster_stamp's
    relational oracle and tests/test_raster.py."""
    fix = _oracle_fix(sf)
    return f"SELECT * FROM read_parquet('{fix}/contour_truth.parquet')"


def q_raster_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 stamp stage alone, relationally oracled: closed-form integer
    Bresenham + 64-bit word packing + bit_or merge."""
    from .operators.raster import stamp_segments

    fix = _fix(sf_dir)
    segs = _read(spark, fix, "polygon_edges").select(
        F.col("polygon_id").alias("region_id"), "x1", "y1", "x2", "y2"
    )
    return stamp_segments(segs, cell_m=50.0)


def sql_raster_stamp(sf: str = ORACLE_SF) -> str:
    from .operators.raster import stamp_oracle_sql

    return stamp_oracle_sql(_oracle_fix(sf))


def q_same_way_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.matrix import same_way_matrix

    fix = _fix(sf_dir)
    return same_way_matrix(_read(spark, fix, "way_nodes"), _read(spark, fix, "osm_nodes"))


def q_phantom_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.matrix import phantom_matrix

    fix = _fix(sf_dir)
    return phantom_matrix(
        _read(spark, fix, "query_points"),
        _read(spark, fix, "way_nodes"),
        _read(spark, fix, "osm_nodes"),
    )


def sql_phantom_matrix(sf: str = ORACLE_SF) -> str:
    from .operators.matrix import phantom_matrix_oracle_sql

    return phantom_matrix_oracle_sql(_oracle_fix(sf))


def sql_same_way_matrix(sf: str = ORACLE_SF) -> str:
    from .operators.matrix import same_way_matrix_oracle_sql

    return same_way_matrix_oracle_sql(_oracle_fix(sf))


def q_bbox_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.matrix import bbox_aggregate

    return bbox_aggregate(_read(spark, _fix(sf_dir), "osm_nodes"))


def sql_bbox_agg(sf: str = ORACLE_SF) -> str:
    from .operators.matrix import bbox_aggregate_oracle_sql

    return bbox_aggregate_oracle_sql(_oracle_fix(sf))


def q_elev_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.elevation import elevation_profile

    fix = _fix(sf_dir)
    return _void_sentinel(
        elevation_profile(
            _read(spark, fix, "way_nodes"),
            _read(spark, fix, "osm_nodes"),
            _read(spark, fix, "raster_tiles"),
        )
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


def sql_map_match(sf: str = ORACLE_SF) -> str:
    fix = _oracle_fix(sf)
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_pings,
       CAST(count(DISTINCT trace_id) AS BIGINT) AS n_traces,
       true AS accuracy_ge_99
FROM read_parquet('{fix}/traces.parquet')
"""


def q_tsp_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.trips import tsp_trips

    return tsp_trips(_read(spark, _fix(sf_dir), "query_points"))


def sql_tsp_trips(sf: str = ORACLE_SF) -> str:
    """Plumbing-parity oracle: tsp_truth is a single-threaded reference
    run of the same md5-grouping + NN + 2-opt kernels at generation
    time; the row verifies the distributed groupBy/applyInPandas run
    reproduces it exactly (tour validity/improvement are pytest-gated)."""
    fix = _oracle_fix(sf)
    return f"SELECT * FROM read_parquet('{fix}/tsp_truth.parquet')"


def q_elev_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.elevation import elevation_frontier

    fix = _fix(sf_dir)
    return elevation_frontier(
        _read(spark, fix, "way_nodes"),
        _read(spark, fix, "osm_nodes"),
        _read(spark, fix, "raster_tiles"),
    )


def _void_sentinel(df: DataFrame) -> DataFrame:
    """NULL/NaN elevations (voids, uncovered tiles) -> -32768.0 (the .hgt
    void marker) so the driver's stringified compare is unambiguous
    across engines (pandas turns SQL NULL into NaN)."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "elev_m", F.coalesce(F.nanvl(F.col("elev_m"), F.lit(-32768.0)), F.lit(-32768.0))
    )


def q_dem_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.elevation import dem_sample

    fix = _fix(sf_dir)
    return _void_sentinel(
        dem_sample(_read(spark, fix, "query_points"), _read(spark, fix, "raster_tiles"))
    )


def q_dem_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.elevation import dem_coverage

    fix = _fix(sf_dir)
    return dem_coverage(_read(spark, fix, "query_points"), _read(spark, fix, "raster_tiles"))


def sql_dem_coverage(sf: str = ORACLE_SF) -> str:
    from .operators.elevation import dem_coverage_oracle_sql

    return dem_coverage_oracle_sql(_oracle_fix(sf))


def sql_dem_sample(sf: str = ORACLE_SF) -> str:
    from .operators.elevation import dem_sample_oracle_sql

    return dem_sample_oracle_sql(_oracle_fix(sf))


def sql_elev_frontier(sf: str = ORACLE_SF) -> str:
    from .operators.elevation import elev_frontier_oracle_sql

    return elev_frontier_oracle_sql(_oracle_fix(sf))


def sql_elev_profile(sf: str = ORACLE_SF) -> str:
    from .operators.elevation import elev_profile_oracle_sql

    return elev_profile_oracle_sql(_oracle_fix(sf))


def q_embedding_clusters(spark, sf_dir):
    """Embedding-side cluster resolution (round 5): transitive closure over
    the sub-quadratic LSH near-dup pairs via the shared CC kernel — the
    third member of the text/image/embedding cluster triad."""
    from .operators.ann import embedding_clusters

    fix = _fix(sf_dir)
    return embedding_clusters(_read(spark, fix, "embeddings_nd"), tau=NEARDUP_LSH_TAU)


def sql_embedding_clusters(sf: str = ORACLE_SF) -> str:
    from .operators.ann import embedding_clusters_oracle_sql

    fix = _oracle_fix(sf)
    return embedding_clusters_oracle_sql(
        NEARDUP_LSH_TAU, src=f"read_parquet('{fix}/embeddings_nd.parquet')"
    )


def q_unigram_logprob(spark, sf_dir):
    """CCNet-style unigram-LM importance scoring (round 5): per-doc mean
    log-prob under a corpus-trained top-K unigram LM, fixed-point
    micro-nat arithmetic for cross-engine exactness."""
    from .operators.text import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir))


def sql_unigram_logprob(sf: str = ORACLE_SF) -> str:
    from .operators.text import unigram_logprob_oracle_sql

    return unigram_logprob_oracle_sql()


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics (round 5): per-polygon elevation aggregates over
    DEM samples — map-only tile decode, J8 PIP membership, polygon-keyed
    scalar aggregate; oracle recomputes from the pre-encode truth grid."""
    from .operators.elevation import zonal_stats

    fix = _fix(sf_dir)
    return zonal_stats(_read(spark, fix, "raster_tiles"), _read(spark, fix, "polygons"))


def sql_zonal_stats(sf: str = ORACLE_SF) -> str:
    from .operators.elevation import zonal_stats_oracle_sql

    return zonal_stats_oracle_sql(_oracle_fix(sf))


def q_heatmap_kde(spark, sf_dir):
    """Integer binomial-KDE heat surface (round 5): one corpus count
    aggregate + two separable 5-tap blur passes; the oracle recomputes
    the direct 25-tap 2D form from unpacked coordinates."""
    from .operators.tiles import heatmap_kde

    fix = _fix(sf_dir)
    return heatmap_kde(_read(spark, fix, "osm_nodes"))


def sql_heatmap_kde(sf: str = ORACLE_SF) -> str:
    from .operators.tiles import heatmap_kde_oracle_sql

    return heatmap_kde_oracle_sql(_oracle_fix(sf))


def q_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail quality tiering by LM score (round 5):
    bucket decision in pure BIGINT arithmetic — no float boundary."""
    from .operators.text import perplexity_buckets

    return perplexity_buckets(_docs(spark, sf_dir))


def sql_perplexity_buckets(sf: str = ORACLE_SF) -> str:
    from .operators.text import perplexity_buckets_oracle_sql

    return perplexity_buckets_oracle_sql()


def q_tfidf_top_terms(spark, sf_dir):
    """Per-doc top-k TF-IDF keyterms (round 5): one corpus aggregate,
    vocabulary-sized idf broadcast, doc-keyed top-k window; ranking score
    is exact BIGINT (micro-nat idf)."""
    from .operators.text import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir))


def sql_tfidf_top_terms(sf: str = ORACLE_SF) -> str:
    from .operators.text import tfidf_top_terms_oracle_sql

    return tfidf_top_terms_oracle_sql()


def q_dbscan_hotspots(spark, sf_dir):
    """Grid-based DBSCAN hotspots (round 5): one corpus count aggregate ->
    dense cells -> 8-neighbour equi-join adjacency -> shared CC kernel."""
    from .operators.tiles import dbscan_hotspots

    fix = _fix(sf_dir)
    return dbscan_hotspots(_read(spark, fix, "osm_nodes"))


def sql_dbscan_hotspots(sf: str = ORACLE_SF) -> str:
    from .operators.tiles import dbscan_hotspots_oracle_sql

    return dbscan_hotspots_oracle_sql(_oracle_fix(sf))


def q_asof_purchases(spark, sf_dir):
    """As-of (temporal) join (round 5): every non-purchase event joined
    to the user's latest prior purchase via the union-tag single-shuffle
    window plan — one exchange, zero joins."""
    from .operators.asof import asof_purchases

    events = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    return asof_purchases(events)


def sql_asof_purchases(sf: str = ORACLE_SF) -> str:
    from .operators.asof import asof_purchases_oracle_sql

    return asof_purchases_oracle_sql()


def q_stay_points(spark, sf_dir):
    """Stay-point detection (round 5): per-user maximal same-cell ping
    runs kept on dwell >= 900 s — the sessionize islands plan with a
    spatial run marker; one hash exchange on user_id end-to-end."""
    from .operators.sessions import stay_points

    return stay_points(_read(spark, _fix(sf_dir), "pings"))


def sql_stay_points(sf: str = ORACLE_SF) -> str:
    from .operators.sessions import stay_points_oracle_sql

    return stay_points_oracle_sql(_oracle_fix(sf))


def q_bfs_hops(spark, sf_dir):
    """Multi-source BFS hop distance to the nearest seed vertex over the
    extracted road graph (round 5): level-synchronous frontier expansion,
    one node-id-keyed join shuffle per round, per-round localCheckpoint
    with immediate block release (the CC-loop discipline)."""
    from .operators.graph import bfs_hops

    fix = _fix(sf_dir)
    return bfs_hops(
        build_edges(
            _read(spark, fix, "osm_ways"),
            _read(spark, fix, "way_nodes"),
            _read(spark, fix, "osm_nodes"),
        )
    )


def sql_bfs_hops(sf: str = ORACLE_SF) -> str:
    from .operators.graph import bfs_hops_oracle_sql

    return bfs_hops_oracle_sql(edges_oracle_sql(_oracle_fix(sf)))


def q_polygon_metrics(spark, sf_dir):
    """Vector-GIS polygon metrics (round 5c): signed shoelace area,
    exact-mm perimeter, cross-weighted centroid — all exact integer /
    decimal sums (partitioning-order-proof), one polygon_id exchange."""
    from .operators.geometry import polygon_metrics

    return polygon_metrics(_read(spark, _fix(sf_dir), "polygon_edges"))


def sql_polygon_metrics(sf: str = ORACLE_SF) -> str:
    from .operators.geometry import polygon_metrics_oracle_sql

    return polygon_metrics_oracle_sql(_oracle_fix(sf))


def q_interval_join(spark, sf_dir):
    """Interval-containment join (round 5c): pings labeled with their
    containing stay via the bin-and-filter range-join plan — interval
    explode to time chunks, (user, chunk) equi-join, exact filter."""
    from .operators.sessions import interval_join

    return interval_join(_read(spark, _fix(sf_dir), "pings"))


def sql_interval_join(sf: str = ORACLE_SF) -> str:
    from .operators.sessions import interval_join_oracle_sql

    return interval_join_oracle_sql(_oracle_fix(sf))


def q_cell_compact(spark, sf_dir):
    """H3-style cell-set compaction (round 5c): bounded level loop —
    one vocabulary-sized parent groupBy + anti-join per level; the
    corpus is scanned once for the initial distinct cover."""
    from .operators.tiles import cell_compact

    return cell_compact(_read(spark, _fix(sf_dir), "osm_nodes"))


def sql_cell_compact(sf: str = ORACLE_SF) -> str:
    from .operators.tiles import cell_compact_oracle_sql

    return cell_compact_oracle_sql(_oracle_fix(sf))


def q_od_matrix(spark, sf_dir):
    """Mobility OD matrix (round 5c): consecutive-stay transitions via
    one lag window over the stay table (no new exchange) + a
    zone-pair-keyed count aggregate."""
    from .operators.sessions import od_matrix

    return od_matrix(_read(spark, _fix(sf_dir), "pings"))


def sql_od_matrix(sf: str = ORACLE_SF) -> str:
    from .operators.sessions import od_matrix_oracle_sql

    return od_matrix_oracle_sql(_oracle_fix(sf))


def q_traj_resample(spark, sf_dir):
    """Trajectory resampling onto a fixed time grid (round 5c): lead
    window + bounded tick explode, per-row IEEE interpolation only."""
    from .operators.sessions import traj_resample

    return traj_resample(_read(spark, _fix(sf_dir), "pings"))


def sql_traj_resample(sf: str = ORACLE_SF) -> str:
    from .operators.sessions import traj_resample_oracle_sql

    return traj_resample_oracle_sql(_oracle_fix(sf))


def q_ping_speed(spark, sf_dir):
    """Per-ping ground speed + GPS plausibility flag (round 5c): one
    user_id window, integer-mm/s haversine — the probe-screening pass."""
    from .operators.sessions import ping_speed

    return ping_speed(_read(spark, _fix(sf_dir), "pings"))


def sql_ping_speed(sf: str = ORACLE_SF) -> str:
    from .operators.sessions import ping_speed_oracle_sql

    return ping_speed_oracle_sql(_oracle_fix(sf))


def q_isochrone_ms(spark, sf_dir):
    """Weighted isochrone (round 5c): 5-minute drive-time reachability
    from the seed set by label-correcting relaxation — bfs_hops's loop
    with integer ms edge weights, oneway handling and a budget prune."""
    from .operators.graph import isochrone_ms

    fix = _fix(sf_dir)
    ways = _read(spark, fix, "osm_ways")
    return isochrone_ms(
        build_edges(ways, _read(spark, fix, "way_nodes"), _read(spark, fix, "osm_nodes")),
        compile_way_attrs(ways),
    )


def sql_isochrone_ms(sf: str = ORACLE_SF) -> str:
    from .operators.graph import isochrone_oracle_sql

    fix = _oracle_fix(sf)
    return isochrone_oracle_sql(
        edges_oracle_sql(fix),
        way_attrs_oracle_sql(f"{fix}/way_tags.parquet", f"{fix}/osm_ways.parquet"),
    )


def q_line_simplify(spark, sf_dir):
    """Douglas-Peucker polyline thinning (round 5c): per-way sequential
    kernel over Arrow batches (the Viterbi/TSP pandas-UDF tier), grouped
    on the key the vertex join already shuffles on."""
    from .operators.simplify import line_simplify

    fix = _fix(sf_dir)
    return line_simplify(_read(spark, fix, "way_nodes"), _read(spark, fix, "osm_nodes"))


def sql_line_simplify(sf: str = ORACLE_SF) -> str:
    from .operators.simplify import line_simplify_oracle_sql

    return line_simplify_oracle_sql(_oracle_fix(sf))


def q_pagerank(spark, sf_dir):
    """PageRank over the road graph (round 5d): 5 power-iteration rounds
    of exact BIGINT fixed-point arithmetic (1e12 units, damping 0.85),
    one node-keyed join + one node-keyed sum per round, per-round
    localCheckpoint with immediate superseded-round release."""
    from .operators.graph import pagerank

    fix = _fix(sf_dir)
    return pagerank(
        build_edges(
            _read(spark, fix, "osm_ways"),
            _read(spark, fix, "way_nodes"),
            _read(spark, fix, "osm_nodes"),
        )
    )


def sql_pagerank(sf: str = ORACLE_SF) -> str:
    from .operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(edges_oracle_sql(_oracle_fix(sf)))


def q_cell_triangles(spark, sf_dir):
    """Triangle census + global clustering coefficient of the occupied-cell
    queen-adjacency graph (round 5d): corpus reduced to the cell vocabulary
    once; all joins bounded by the grid's max degree 8."""
    from .operators.spatial_stats import cell_triangles

    return cell_triangles(_read(spark, _fix(sf_dir), "osm_nodes"))


def sql_cell_triangles(sf: str = ORACLE_SF) -> str:
    from .operators.spatial_stats import cell_triangles_oracle_sql

    return cell_triangles_oracle_sql(_oracle_fix(sf))


def q_morans_i(spark, sf_dir):
    """Moran's I spatial autocorrelation of per-cell node density under
    rook adjacency (round 5d): exact-BIGINT aggregate expansion, one-row
    DECIMAL(38,0) combine — no float summation anywhere."""
    from .operators.spatial_stats import morans_i

    return morans_i(_read(spark, _fix(sf_dir), "osm_nodes"))


def sql_morans_i(sf: str = ORACLE_SF) -> str:
    from .operators.spatial_stats import morans_i_oracle_sql

    return morans_i_oracle_sql(_oracle_fix(sf))


def q_pmi_collocations(spark, sf_dir):
    """PMI collocation mining over the corpus (round 5d): two tokenize
    passes (unigram + JVM-bigram counts), vocabulary-sized tail; row set
    pinned by an exact integer count filter, PMI quantised to micro-nats
    (the unigram_logprob cross-engine float discipline)."""
    from .operators.text import pmi_collocations

    return pmi_collocations(_docs(spark, sf_dir))


def sql_pmi_collocations(sf: str = ORACLE_SF) -> str:
    from .operators.text import pmi_collocations_oracle_sql

    return pmi_collocations_oracle_sql()


def q_skyline_images(spark, sf_dir):
    """Resolution skyline / pareto frontier (round 5d): corpus reduced to
    distinct-width vocabulary, running-max window on that vocabulary only,
    broadcast join back; oracle recomputes dominance independently via
    NOT EXISTS."""
    from .operators.images import skyline_images

    return skyline_images(_read(spark, _fix(sf_dir), "images"))


def sql_skyline_images(sf: str = ORACLE_SF) -> str:
    from .operators.images import skyline_images_oracle_sql

    return skyline_images_oracle_sql(_oracle_fix(sf))


def q_bearing_sectors(spark, sf_dir):
    """Street-grid orientation histogram (round 5e): per-cell bearing
    sectors over extracted edges — one partial+final aggregate; the
    sector_lasso-proven bearing triplet makes the oracle exact."""
    from .operators.spatial_stats import bearing_sectors

    fix = _fix(sf_dir)
    return bearing_sectors(
        build_edges(
            _read(spark, fix, "osm_ways"),
            _read(spark, fix, "way_nodes"),
            _read(spark, fix, "osm_nodes"),
        ),
        _read(spark, fix, "osm_nodes"),
    )


def sql_bearing_sectors(sf: str = ORACLE_SF) -> str:
    from .operators.spatial_stats import bearing_sectors_oracle_sql

    fix = _oracle_fix(sf)
    return bearing_sectors_oracle_sql(edges_oracle_sql(fix), fix)


def q_caption_templates(spark, sf_dir):
    """Caption boilerplate mining (round 5e): one corpus aggregate over
    JVM n-grams, distinct-per-caption; templated phrases surface as
    n-grams shared across captions — the multimodal curation gate."""
    from .operators.images import caption_templates

    return caption_templates(_read(spark, _fix(sf_dir), "images"))


def sql_caption_templates(sf: str = ORACLE_SF) -> str:
    from .operators.images import caption_templates_oracle_sql

    return caption_templates_oracle_sql(_oracle_fix(sf))


def q_route_paths(spark, sf_dir):
    """Shortest-path reconstruction (round 5e): the canonical (cost, id)
    predecessor tree behind every time_matrix cell, walked for all
    (src, dst) pairs simultaneously — paths, not just costs, hash-match
    the DuckDB replay."""
    from .operators.graph import route_paths

    fix = _fix(sf_dir)
    ways = _read(spark, fix, "osm_ways")
    return route_paths(
        build_edges(ways, _read(spark, fix, "way_nodes"), _read(spark, fix, "osm_nodes")),
        compile_way_attrs(ways),
    )


def sql_route_paths(sf: str = ORACLE_SF) -> str:
    from .operators.graph import route_paths_oracle_sql

    fix = _oracle_fix(sf)
    return route_paths_oracle_sql(
        edges_oracle_sql(fix),
        way_attrs_oracle_sql(f"{fix}/way_tags.parquet", f"{fix}/osm_ways.parquet"),
    )


def q_simhash_clusters(spark, sf_dir):
    """SimHash cluster resolution (round 5e): the third near-dup family
    completes its pairs -> clusters materialization on the shared CC
    kernel (no driver-side union-find)."""
    from .operators.dedup import simhash_clusters

    return simhash_clusters(_docs(spark, sf_dir))


def sql_simhash_clusters(sf: str = ORACLE_SF) -> str:
    from .operators.dedup import simhash_clusters_oracle_sql

    return simhash_clusters_oracle_sql()


def q_cell_uncompact(spark, sf_dir):
    """H3-style uncompact (round 5e): map-only leaf expansion of the
    compacted cover; the oracle is the PLAIN distinct base-res cover, so
    a green row proves compact -> uncompact round-trips losslessly."""
    from .operators.tiles import cell_uncompact

    return cell_uncompact(_read(spark, _fix(sf_dir), "osm_nodes"))


def sql_cell_uncompact(sf: str = ORACLE_SF) -> str:
    from .operators.tiles import cell_uncompact_oracle_sql

    return cell_uncompact_oracle_sql(_oracle_fix(sf))


def q_cell_regions(spark, sf_dir):
    """Occupied-cell region labeling (round 5e): queen-adjacency CC over
    the cell vocabulary via the dedup_clusters kernel (min-label +
    pointer jumping); region_id = component min packed cell id."""
    from .operators.spatial_stats import cell_regions

    return cell_regions(_read(spark, _fix(sf_dir), "osm_nodes"))


def sql_cell_regions(sf: str = ORACLE_SF) -> str:
    from .operators.spatial_stats import cell_regions_oracle_sql

    return cell_regions_oracle_sql(_oracle_fix(sf))


def q_traj_sim_join(spark, sf_dir):
    """Trajectory-similarity self-join (round 5e): per-user distinct-cell
    signatures, cell-inverted-index candidates, EXACT integer Jaccard
    threshold (den*inter >= num*union) — co-traveller / duplicate-device
    detection, the mobility sibling of ngram_jaccard."""
    from .operators.sessions import traj_sim_join

    return traj_sim_join(_read(spark, _fix(sf_dir), "pings"))


def sql_traj_sim_join(sf: str = ORACLE_SF) -> str:
    from .operators.sessions import traj_sim_join_oracle_sql

    return traj_sim_join_oracle_sql(_oracle_fix(sf))


def q_osm_diff(spark, sf_dir):
    """Snapshot change detection (round 5e): full-outer id join between
    snapshot A and the deterministic synthetic snapshot B, classifying
    added/deleted/modified by geometry signature — the .osc replication
    model; feeds the changed-cell incremental path (G8)."""
    from .operators.diff import osm_diff, synth_snapshot_b

    ways = _read(spark, _fix(sf_dir), "osm_ways")
    return osm_diff(ways, synth_snapshot_b(ways))


def sql_osm_diff(sf: str = ORACLE_SF) -> str:
    from .operators.diff import osm_diff_oracle_sql

    return osm_diff_oracle_sql(_oracle_fix(sf))


def q_dem_slope(spark, sf_dir):
    """Horn 3x3 terrain gradient (round 5e): map-only per-tile stencil,
    exact integer dzdx/dzdy + one IEEE sqrt; oracle recomputes the
    stencil relationally from the pre-encode raster_cells truth."""
    from .operators.elevation import dem_slope

    return dem_slope(_read(spark, _fix(sf_dir), "raster_tiles"))


def sql_dem_slope(sf: str = ORACLE_SF) -> str:
    from .operators.elevation import dem_slope_oracle_sql

    return dem_slope_oracle_sql(_oracle_fix(sf))


def q_phash_knn(spark, sf_dir):
    """Hamming-space gallery search (round 5e): exact top-k per query
    image by phash popcount — gallery never shuffles (broadcast query
    batch x mapInPandas partial top-k, one merge window); md5-keyed
    deterministic query batch (the sampling.py cross-engine idiom)."""
    from .operators.images import phash_knn

    return phash_knn(_read(spark, _fix(sf_dir), "images"))


def sql_phash_knn(sf: str = ORACLE_SF) -> str:
    from .operators.images import phash_knn_oracle_sql

    return phash_knn_oracle_sql(_oracle_fix(sf))


def q_kcore_peel(spark, sf_dir):
    """k-core peel / dead-end trimming (round 5e): iterative degree-<2
    removal over the undirected road graph with an explicit surviving
    vertex set — bounded rounds, per-round lineage cuts; peel_round is
    the antenna depth a routing preprocessor contracts away."""
    from .operators.graph import kcore_peel

    fix = _fix(sf_dir)
    return kcore_peel(
        build_edges(
            _read(spark, fix, "osm_ways"),
            _read(spark, fix, "way_nodes"),
            _read(spark, fix, "osm_nodes"),
        )
    )


def sql_kcore_peel(sf: str = ORACLE_SF) -> str:
    from .operators.graph import kcore_peel_oracle_sql

    return kcore_peel_oracle_sql(edges_oracle_sql(_oracle_fix(sf)))


def q_time_matrix(spark, sf_dir):
    """Many-to-many drive-time matrix (round 5e): all sources relax in
    the same per-round (src, node)-keyed label-correcting shuffle with a
    10-minute budget prune — the reference's batched matrix endpoint
    semantics over exact integer ms weights."""
    from .operators.graph import time_matrix

    fix = _fix(sf_dir)
    ways = _read(spark, fix, "osm_ways")
    return time_matrix(
        build_edges(ways, _read(spark, fix, "way_nodes"), _read(spark, fix, "osm_nodes")),
        compile_way_attrs(ways),
    )


def sql_time_matrix(sf: str = ORACLE_SF) -> str:
    from .operators.graph import time_matrix_oracle_sql

    fix = _oracle_fix(sf)
    return time_matrix_oracle_sql(
        edges_oracle_sql(fix),
        way_attrs_oracle_sql(f"{fix}/way_tags.parquet", f"{fix}/osm_ways.parquet"),
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "way_attrs": q_way_attrs,
    "extract_edges": q_extract_edges,
    "border_matrix": q_border_matrix,
    "restriction_arcs": q_restriction_arcs,
    "turn_table": q_turn_table,
    "hilbert_index": q_hilbert_index,
    "region_tiles": q_region_tiles,
    "image_tiles": q_image_tiles,
    "tile_pyramid": q_tile_pyramid,
    "pip_images": q_pip_images,
    "knn_nodes": q_knn_nodes,
    "way_cover": q_way_cover,
    "radius_join": q_radius_join,
    "auto_radius": q_auto_radius,
    "sector_lasso": q_sector_lasso,
    "percentile_threshold": q_percentile_threshold,
    "knn_iqr": q_knn_iqr,
    "convex_hull": q_convex_hull,
    "weighted_median": q_weighted_median,
    "flow_accum": q_flow_accum,
    "fuzzy_match": q_fuzzy_match,
    "token_stats": q_token_stats,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "doc_repetition": q_doc_repetition,
    "bpe_pair_counts": q_bpe_pair_counts,
    "bpe_train": q_bpe_train,
    "tokenize_pack": q_tokenize_pack,
    "dedup_exact": q_dedup_exact,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_lsh": q_minhash_lsh,
    "simhash_pairs": q_simhash_pairs,
    "dedup_clusters": q_dedup_clusters,
    "substring_dedup": q_substring_dedup,
    "corpus_filter": q_corpus_filter,
    "contamination_check": q_contamination_check,
    "stratified_sample": q_stratified_sample,
    "dataset_split": q_dataset_split,
    "pack_sequences": q_pack_sequences,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_cosine_lsh": q_ann_cosine_lsh,
    "ann_cosine_ivf": q_ann_cosine_ivf,
    "embedding_neardup": q_embedding_neardup,
    "embedding_neardup_lsh": q_embedding_neardup_lsh,
    "embedding_clusters": q_embedding_clusters,
    "unigram_logprob": q_unigram_logprob,
    "perplexity_buckets": q_perplexity_buckets,
    "tfidf_top_terms": q_tfidf_top_terms,
    "dbscan_hotspots": q_dbscan_hotspots,
    "asof_purchases": q_asof_purchases,
    "stay_points": q_stay_points,
    "bfs_hops": q_bfs_hops,
    "polygon_metrics": q_polygon_metrics,
    "interval_join": q_interval_join,
    "cell_compact": q_cell_compact,
    "od_matrix": q_od_matrix,
    "traj_resample": q_traj_resample,
    "ping_speed": q_ping_speed,
    "isochrone_ms": q_isochrone_ms,
    "line_simplify": q_line_simplify,
    "pagerank": q_pagerank,
    "cell_triangles": q_cell_triangles,
    "morans_i": q_morans_i,
    "pmi_collocations": q_pmi_collocations,
    "skyline_images": q_skyline_images,
    "phash_knn": q_phash_knn,
    "dem_slope": q_dem_slope,
    "osm_diff": q_osm_diff,
    "traj_sim_join": q_traj_sim_join,
    "cell_regions": q_cell_regions,
    "cell_uncompact": q_cell_uncompact,
    "simhash_clusters": q_simhash_clusters,
    "route_paths": q_route_paths,
    "caption_templates": q_caption_templates,
    "bearing_sectors": q_bearing_sectors,
    "kcore_peel": q_kcore_peel,
    "time_matrix": q_time_matrix,
    "heatmap_kde": q_heatmap_kde,
    "zonal_stats": q_zonal_stats,
    "wkb_sink": q_wkb_sink,
    "geojson_sink": q_geojson_sink,
    "way_polyline6": q_way_polyline6,
    "canonical_hash": q_canonical_hash,
    "interp_midpoint": q_interp_midpoint,
    "image_decode_stats": q_image_decode_stats,
    "image_resize": q_image_resize,
    "phash_dedup": q_phash_dedup,
    "phash_neardup": q_phash_neardup,
    "phash_clusters": q_phash_clusters,
    "crossmodal_neardup": q_crossmodal_neardup,
    "sessionize": q_sessionize,
    "audio_features": q_audio_features,
    "frame_sample": q_frame_sample,
    "raster_contour": q_raster_contour,
    "raster_stamp": q_raster_stamp,
    "dem_sample": q_dem_sample,
    "dem_coverage": q_dem_coverage,
    "map_match": q_map_match,
    "tsp_trips": q_tsp_trips,
    "elev_frontier": q_elev_frontier,
    "same_way_matrix": q_same_way_matrix,
    "phantom_matrix": q_phantom_matrix,
    "bbox_agg": q_bbox_agg,
    "elev_profile": q_elev_profile,
}

ORACLES: dict[str, Callable[..., str]] = {
    "way_attrs": sql_way_attrs,
    "extract_edges": sql_extract_edges,
    "border_matrix": sql_border_matrix,
    "restriction_arcs": sql_restriction_arcs,
    "turn_table": sql_turn_table,
    "hilbert_index": sql_hilbert_index,
    "region_tiles": sql_region_tiles,
    "image_tiles": sql_image_tiles,
    "tile_pyramid": sql_tile_pyramid,
    "pip_images": sql_pip_images,
    "knn_nodes": sql_knn_nodes,
    "way_cover": sql_way_cover,
    "radius_join": sql_radius_join,
    "auto_radius": sql_auto_radius,
    "sector_lasso": sql_sector_lasso,
    "percentile_threshold": sql_percentile_threshold,
    "knn_iqr": sql_knn_iqr,
    "convex_hull": sql_convex_hull,
    "weighted_median": sql_weighted_median,
    "flow_accum": sql_flow_accum,
    "fuzzy_match": sql_fuzzy_match,
    "token_stats": lambda sf=ORACLE_SF: _sql_text("token_stats"),
    "quality_score": lambda sf=ORACLE_SF: _sql_text("quality_score"),
    "lang_id": lambda sf=ORACLE_SF: _sql_text("lang_id"),
    "fingerprint": lambda sf=ORACLE_SF: _sql_text("fingerprint"),
    "doc_repetition": sql_doc_repetition,
    "bpe_pair_counts": sql_bpe_pair_counts,
    "bpe_train": sql_bpe_train,
    "tokenize_pack": sql_tokenize_pack,
    "dedup_exact": lambda sf=ORACLE_SF: _sql_text("dedup_exact"),
    "ngram_jaccard": lambda sf=ORACLE_SF: _sql_text("ngram_jaccard"),
    # minhash_lsh output = exact-verified candidates; with 8x8 banding the
    # candidate set has full recall at j>=0.5 on this data, so the exact
    # n-gram Jaccard SQL doubles as a RECALL gate: a red row here means
    # the LSH stage started missing true pairs.
    "minhash_lsh": lambda sf=ORACLE_SF: __import__(
        "butterfly_osm_spark.operators.dedup", fromlist=["x"]
    ).ngram_jaccard_oracle_sql(JACCARD_T),
    "simhash_pairs": lambda sf=ORACLE_SF: __import__(
        "butterfly_osm_spark.operators.dedup", fromlist=["x"]
    ).simhash_oracle_sql(),
    "dedup_clusters": sql_dedup_clusters,
    "substring_dedup": sql_substring_dedup,
    "corpus_filter": sql_corpus_filter,
    "contamination_check": sql_contamination_check,
    "stratified_sample": sql_stratified_sample,
    "dataset_split": sql_dataset_split,
    "pack_sequences": sql_pack_sequences,
    "ann_cosine_topk": lambda sf=ORACLE_SF: _sql_text("ann_cosine_topk"),
    "ann_cosine_lsh": sql_ann_cosine_lsh,
    "ann_cosine_ivf": lambda sf=ORACLE_SF: __import__(
        "butterfly_osm_spark.operators.ann", fromlist=["x"]
    ).ivf_topk_oracle_sql(codebook_parquet=f"{_oracle_fix(sf)}/ivf_codebook.parquet"),
    "embedding_neardup": lambda sf=ORACLE_SF: __import__(
        "butterfly_osm_spark.operators.ann", fromlist=["x"]
    ).embedding_neardup_oracle_sql(NEARDUP_TAU),
    "embedding_neardup_lsh": sql_embedding_neardup_lsh,
    "embedding_clusters": sql_embedding_clusters,
    "unigram_logprob": sql_unigram_logprob,
    "perplexity_buckets": sql_perplexity_buckets,
    "tfidf_top_terms": sql_tfidf_top_terms,
    "dbscan_hotspots": sql_dbscan_hotspots,
    "asof_purchases": sql_asof_purchases,
    "stay_points": sql_stay_points,
    "bfs_hops": sql_bfs_hops,
    "polygon_metrics": sql_polygon_metrics,
    "interval_join": sql_interval_join,
    "cell_compact": sql_cell_compact,
    "od_matrix": sql_od_matrix,
    "traj_resample": sql_traj_resample,
    "ping_speed": sql_ping_speed,
    "isochrone_ms": sql_isochrone_ms,
    "line_simplify": sql_line_simplify,
    "pagerank": sql_pagerank,
    "cell_triangles": sql_cell_triangles,
    "morans_i": sql_morans_i,
    "pmi_collocations": sql_pmi_collocations,
    "skyline_images": sql_skyline_images,
    "phash_knn": sql_phash_knn,
    "dem_slope": sql_dem_slope,
    "osm_diff": sql_osm_diff,
    "traj_sim_join": sql_traj_sim_join,
    "cell_regions": sql_cell_regions,
    "cell_uncompact": sql_cell_uncompact,
    "simhash_clusters": sql_simhash_clusters,
    "route_paths": sql_route_paths,
    "caption_templates": sql_caption_templates,
    "bearing_sectors": sql_bearing_sectors,
    "kcore_peel": sql_kcore_peel,
    "time_matrix": sql_time_matrix,
    "heatmap_kde": sql_heatmap_kde,
    "zonal_stats": sql_zonal_stats,
    "wkb_sink": sql_wkb_sink,
    "geojson_sink": sql_geojson_sink,
    "way_polyline6": sql_way_polyline6,
    "canonical_hash": sql_canonical_hash,
    "interp_midpoint": sql_interp_midpoint,
    "image_decode_stats": sql_image_decode_stats,
    "image_resize": sql_image_resize,
    "phash_dedup": sql_phash_dedup,
    "phash_neardup": sql_phash_neardup,
    "phash_clusters": sql_phash_clusters,
    "crossmodal_neardup": sql_crossmodal_neardup,
    "sessionize": sql_sessionize,
    "audio_features": sql_audio_features,
    "frame_sample": sql_frame_sample,
    "raster_contour": sql_raster_contour,
    "raster_stamp": sql_raster_stamp,
    "map_match": sql_map_match,
    "tsp_trips": sql_tsp_trips,
    "dem_coverage": sql_dem_coverage,
    "dem_sample": sql_dem_sample,
    "elev_frontier": sql_elev_frontier,
    "elev_profile": sql_elev_profile,
    "same_way_matrix": sql_same_way_matrix,
    "phantom_matrix": sql_phantom_matrix,
    "bbox_agg": sql_bbox_agg,
}
