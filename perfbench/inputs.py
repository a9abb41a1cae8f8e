"""Seeded workload inputs.

The base tables (OSM nodes/ways, polygons, raster truth) are the package's
own seed-42 fixtures at scale factor ``SF``. The workload seed draws the
query-side batches a client would submit:

- ``query_points``: kNN/radius query points, the package's 80/15/5
  near/mid/beyond-cutoff mix around the fixture's OSM nodes;
- ``image_geo``: image locations, 60 % clustered around five cities and
  40 % uniform (the fixture's city/rural mix);
- ``documents`` and ``embeddings``: the text and vector corpus of the
  MinHash and cosine top-k queries, drawn to the shape of the corpus the
  package's text queries were written for (see ``_documents`` and
  ``_embeddings``).

``build_inputs`` assembles one directory per seed that holds hard
links to the base tables plus the seeded batches and the fixture marker,
so the package's registered queries (``queries.QUERIES``), their DuckDB
oracles (``queries.ORACLES``) and ``checkpoint.reference_pipeline`` all
run unchanged over the seeded inputs once ``BUTTERFLY_FIXTURE_DIR``
points at the directory's parent.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = "0.001"  # fixture scale factor of the base tables

# child-stream indices of the workload seed (append only: reordering
# reshuffles every table)
_STREAMS = {"query_points": 0, "image_geo": 1, "documents": 2, "embeddings": 3}

WORDS = (
    "a the key row scan slow fast table value part hash merge batch spark line "
    "sort window data column agg join small customer query big stream order "
    "group filter vector"
).split()


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[table]])


def _image_geo(rng: np.random.Generator, n: int) -> pa.Table:
    from butterfly_osm_spark.fixtures.generate import E7, _clustered_points

    lon, lat = _clustered_points(rng, n, 0.6, 0.1)
    perm = rng.permutation(n)
    return pa.table(
        {
            "image_id": pa.array([f"img{i:010d}" for i in range(n)]),
            "lon_e7": pa.array(np.round(lon[perm] * E7).astype(np.int32)),
            "lat_e7": pa.array(np.round(lat[perm] * E7).astype(np.int32)),
        }
    )


# Shape of the package's documents/embeddings corpus at sf0.001 and sf0.01
# (the two are the same size; sf0.1 has 5 000 documents and 2 000 vectors
# of the same shape), measured from its parquet files:
# - 500 documents of 10-99 words (uniform) over the 30 words of WORDS;
# - 5 % (25) are near-duplicates: another document's text plus the word
#   "dup", at random positions; no other pair reaches 3-word-shingle
#   Jaccard 0.5;
# - lang en 39-44 %, de/es/fr/zh 13-16 % each, drawn independently;
#   source src<doc_id mod 20>; n_chars = len(text);
# - 500 embeddings: 64-d float32 Gaussian vectors scaled to unit length,
#   label 0-9 uniform, no cluster structure.
CORPUS_DOCS = 500
CORPUS_VECS = 500
DUP_SHARE = 0.05
LANGS = (["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15])
# One departure: a duplicate copies a document of at least this many words
# (3-word-shingle Jaccard >= 0.96 with it). The 8x8-band MinHash LSH then
# finds every pair with probability > 0.9999, so its output matches the
# exact Jaccard oracle on every seed; in the corpus the copied document can
# be as short as 10 words (Jaccard 0.89, found with probability 0.98).
DUP_MIN_WORDS = 30


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]) for _ in range(n)]
    n_dup = round(n * DUP_SHARE)
    dup_pos = rng.choice(n, n_dup, replace=False)
    is_dup = np.zeros(n, dtype=bool)
    is_dup[dup_pos] = True
    sources = [i for i in range(n) if not is_dup[i] and len(texts[i].split()) >= DUP_MIN_WORDS]
    for i in dup_pos:
        texts[i] = texts[int(rng.choice(sources))] + " dup"
    langs = rng.choice(LANGS[0], n, p=LANGS[1])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([str(x) for x in langs]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, d: int = 64) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, d))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def build_inputs(base_dir: str, out_dir: str, seed: int) -> dict[str, int]:
    """Write the seeded input directory ``out_dir`` (basename ``sf<SF>``)
    and return the row count of each seeded table."""
    from butterfly_osm_spark.fixtures.generate import FIXTURE_VERSION, _counts, _gen_query_points

    tmp = f"{out_dir}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for f in os.listdir(base_dir):
        if f.endswith(".parquet"):
            os.link(os.path.join(base_dir, f), os.path.join(tmp, f))

    counts = _counts(SF)
    nodes = pq.read_table(os.path.join(base_dir, "osm_nodes.parquet"), columns=["lon_e7", "lat_e7"])
    tables = {
        "query_points": _gen_query_points(
            _rng(seed, "query_points"),
            counts["queries"],
            nodes.column("lon_e7").to_numpy().astype(np.int64),
            nodes.column("lat_e7").to_numpy().astype(np.int64),
        ),
        "image_geo": _image_geo(_rng(seed, "image_geo"), counts["images"]),
        "documents": _documents(_rng(seed, "documents"), CORPUS_DOCS),
        "embeddings": _embeddings(_rng(seed, "embeddings"), CORPUS_VECS),
    }
    for name, table in tables.items():
        path = os.path.join(tmp, f"{name}.parquet")
        if os.path.exists(path):
            os.unlink(path)  # a hard link to the base table: never write through it
        pq.write_table(table, path, row_group_size=16384)
    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        f.write(FIXTURE_VERSION)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return {name: t.num_rows for name, t in tables.items()}
