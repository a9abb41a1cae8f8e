"""Deterministic synthetic fixtures (seed 42) — the FIXTURES.md tables.

Pure numpy + pyarrow (no Spark session needed: the DuckDB oracle side
builds SQL strings against these files before any session exists).
Modeled on the reference's synthetic test fixtures: hand-placed
geometries (reference route/src/server/spatial.rs:392-525), Belgium
coord pairs (route/src/server/consistency_test.rs:22-38) and the
BASELINE.json ``input_hint`` image+caption table. All coordinates are
fixed-point i32 at 1e-7 degrees (route/src/formats/nodes_sa.rs:37);
bbox = Belgium-like [49.5, 51.5]N x [2.5, 6.4]E.

Tables written under ``<repo>/fixtures/sf{sf}/`` (gitignored, generated
on demand, atomic tmp->rename commit, ``_SUCCESS`` marker):

- osm_nodes(id, lat_e7, lon_e7)             sorted by id (total-order
  contract, ingest/mod.rs:201-207); way vertices + standalone points
- osm_ways(id, nodes ARRAY<BIGINT>, tags MAP<STRING,STRING>)
- way_nodes(way_id, seq, node_id)           normalized explode (oracle side)
- way_tags(way_id, key, value)              normalized tags (oracle side)
- images(image_id, bytes, w, h, fmt, caption, phash)   input_hint schema;
  fmt 'png' (lossless, real PNG) / 'qnt' (deterministic lossy stand-in —
  no JPEG lib in the container, see codecs/png.py)
- image_geo(image_id, lon_e7, lat_e7)       georeferencing: 60% clustered
  +-0.1 deg around 5 city centers (hot cells for salting/AQE), 40% uniform
- polygons(polygon_id, ring ARRAY<STRUCT<lon_e7,lat_e7>>, wkb)
  star polygons, 3-64 vertices, radii 100 m - 20 km (log-uniform)
- polygon_edges(polygon_id, seq, x1, y1, x2, y2)  closed edge list
  (seq n-1 wraps to vertex 0 — the wrap-around edge operators.pip's
  _driver_cover closes with np.roll)
- query_points(query_id, lon_e7, lat_e7, k)  k in {1,8,64}; 80% within
  ~100 m of a way, 15% 1-5 km away, 5% beyond the 5 km snap cutoff
- raster_tiles(tile_lat, tile_lon, samples_per_side, data)  SRTM-shaped
  1-degree tiles, row-major big-endian i16 (north-to-south rows), ~1%
  voids (-32768), 12 of the 15 bbox tiles loaded (coverage gaps on purpose)
- audio(clip_id, pcm BINARY s16le, sr, n_samples, samples ARRAY<INT>)
  raw-PCM clips; the samples array is the DuckDB-side differential basis
- videos(video_id, frames BINARY, w, h, n_frames, fps)  contiguous raw
  grayscale planes + frame_truth(video_id, frame_idx, mean, std, diff4)
- pings(user_id, ts_s BIGINT, lon_e7, lat_e7)  sessionization events,
  gap-unambiguous under the 1800 s threshold

Row counts scale as sf/0.01 from the sf=0.01 base (ways 3000, images
20000, queries 1500); polygons fixed at 200; image *payload* rows are
capped at 4000 (bytes exist to exercise decode/PSNR plumbing — geo rows,
which feed every join, scale fully).
"""

from __future__ import annotations

import os
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..codecs.png import decode_qnt, encode_png, encode_qnt, phash64, psnr_db

SEED = 42
# bump when adding tables / changing generation — stale dirs regenerate
FIXTURE_VERSION = "19"  # v19 adds simplify_truth (DP gentime reference)

# Belgium-like bbox (scripts/osrm_parity_suite.py:24-26)
LON_MIN, LON_MAX = 2.5, 6.4
LAT_MIN, LAT_MAX = 49.5, 51.5
E7 = 10_000_000
# engine's fixed equirect constants (route/src/server/spatial.rs:226-230)
M_PER_DEG_LAT = 111_000.0
M_PER_DEG_LON = 71_400.0

# 5 city centers (clustered mass — mirrors the reference's clustered-city
# benchmark coords, honest-flight REPORT.md:14-15)
CITIES = [(4.35, 50.85), (4.40, 51.22), (3.72, 51.05), (4.44, 50.41), (5.57, 50.63)]

HIGHWAY_CLASSES = ["motorway", "primary", "secondary", "tertiary", "residential", "footway", "track", "proposed"]
HIGHWAY_P = [0.02, 0.08, 0.12, 0.15, 0.35, 0.15, 0.08, 0.05]  # 'proposed' = no access (J1 exclusion)
MAXSPEEDS = ["30", "50", "70", "90", "110", "120"]

WORDS = (
    "canal bridge tower square market tram facade spire river street gable belfry "
    "cobblestone garden station harbor mural rooftop abbey fountain gate arch park "
    "windmill lock quay chapel terrace courtyard lane crossing boulevard skyline dusk "
    "morning autumn rain fog snow summer evening"
).split()

IMG_BYTES_CAP = 4000


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def fixture_dir(sf: str) -> str:
    base = _repo_root()
    if not os.path.isdir(base):  # running from a spark-submit --py-files zip
        base = os.getcwd()
    root = os.environ.get("BUTTERFLY_FIXTURE_DIR", os.path.join(base, "fixtures"))
    return os.path.join(root, f"sf{sf}")


def _counts(sf: str) -> dict[str, int]:
    scale = float(sf) / 0.01
    return {
        "ways": max(60, int(3000 * scale)),
        "extra_nodes": max(300, int(5000 * scale)),
        "images": max(500, int(20000 * scale)),
        "queries": max(150, int(1500 * scale)),
        "polygons": 200,
        "relations": max(40, int(400 * scale)),
        "embeddings_nd": max(300, int(1500 * scale)),
        "audio": max(100, int(400 * scale)),
        "videos": max(40, int(160 * scale)),
        "ping_users": max(50, int(300 * scale)),
    }


def _write(d: str, name: str, table: pa.Table) -> None:
    # small row groups keep single-file fixtures SPLITTABLE: Spark assigns
    # scan partitions per row group, so pre-shuffle stages parallelize
    # (one giant row group = one scan task no matter how many cores)
    pq.write_table(table, os.path.join(d, f"{name}.parquet"), row_group_size=16384)


def _clustered_points(rng: np.random.Generator, n: int, frac_clustered: float = 0.6, spread: float = 0.1):
    """(lon_deg, lat_deg) arrays: frac clustered +-spread around cities, rest uniform."""
    n_c = int(n * frac_clustered)
    city = rng.integers(0, len(CITIES), n_c)
    cx = np.array([c[0] for c in CITIES])[city] + rng.uniform(-spread, spread, n_c)
    cy = np.array([c[1] for c in CITIES])[city] + rng.uniform(-spread, spread, n_c)
    ux = rng.uniform(LON_MIN + 0.05, LON_MAX - 0.05, n - n_c)
    uy = rng.uniform(LAT_MIN + 0.05, LAT_MAX - 0.05, n - n_c)
    return np.concatenate([cx, ux]), np.concatenate([cy, uy])


# ---------------------------------------------------------------------------
# ways + nodes (random walks with shared intersection nodes)
# ---------------------------------------------------------------------------


def _gen_ways_nodes(rng: np.random.Generator, n_ways: int, n_extra: int):
    L = rng.integers(2, 13, n_ways)
    V = int(L.sum())
    starts = np.concatenate([[0], np.cumsum(L)[:-1]])
    way_of = np.repeat(np.arange(n_ways), L)
    first = np.zeros(V, bool)
    first[starts] = True

    slon, slat = _clustered_points(rng, n_ways, 0.6, 0.15)
    base_h = rng.uniform(0, 2 * np.pi, n_ways)[way_of]
    h = base_h + rng.normal(0, 0.5, V)
    step_m = rng.uniform(80, 350, V)
    dx = step_m * np.cos(h) / M_PER_DEG_LON * E7
    dy = step_m * np.sin(h) / M_PER_DEG_LAT * E7
    dx[first] = 0.0
    dy[first] = 0.0
    cx = np.cumsum(dx)
    cy = np.cumsum(dy)
    lon_e7 = np.round(slon[way_of] * E7 + cx - np.repeat(cx[starts], L)).astype(np.int64)
    lat_e7 = np.round(slat[way_of] * E7 + cy - np.repeat(cy[starts], L)).astype(np.int64)

    # shared intersection nodes: ~8% of ways reuse a NEARBY vertex of an
    # earlier way at one interior position (drives the usage>=2
    # decision-node join, reference route/src/nbg/mod.rs:353-358).
    # "Nearby" matters: a random far donor creates multi-km teleport
    # segments that blow up trace sampling and cell-cover fan-out.
    node_idx = np.arange(V, dtype=np.int64)
    gx = lon_e7 // 35_000  # ~250 m lon buckets
    gy = lat_e7 // 22_500  # ~250 m lat buckets
    grid: dict[tuple[int, int], list[int]] = {}
    for v in range(V):
        grid.setdefault((int(gx[v]), int(gy[v])), []).append(v)
    candidates = [w for w in range(1, n_ways) if L[w] >= 3]
    n_share = max(1, int(0.20 * n_ways))
    chosen = rng.choice(len(candidates), size=min(n_share, len(candidates)), replace=False)
    for ci in chosen:
        w = candidates[ci]
        positions = starts[w] + rng.permutation(np.arange(1, L[w] - 1))
        for pos in positions:
            near = [
                v
                for ddx in (-1, 0, 1)
                for ddy in (-1, 0, 1)
                for v in grid.get((int(gx[pos]) + ddx, int(gy[pos]) + ddy), [])
                if v < starts[w]
            ]
            if near:
                node_idx[pos] = near[int(rng.integers(0, len(near)))]
                break
    # resolve donor chains (donors always point backward)
    while True:
        nxt = node_idx[node_idx]
        if np.array_equal(nxt, node_idx):
            break
        node_idx = nxt

    used = np.unique(node_idx)
    compact = np.full(V, -1, dtype=np.int64)
    compact[used] = np.arange(len(used))
    vert_node = compact[node_idx]  # per-vertex compact node position

    # node coordinates: shared vertices take the donor's coords
    n_way_nodes = len(used)
    node_lon = lon_e7[used]
    node_lat = lat_e7[used]
    ex, ey = _clustered_points(rng, n_extra, 0.5, 0.12)
    node_lon = np.concatenate([node_lon, np.round(ex * E7).astype(np.int64)])
    node_lat = np.concatenate([node_lat, np.round(ey * E7).astype(np.int64)])
    n_nodes = n_way_nodes + n_extra

    # sparse ascending ids (stride 1-1000, ingest sort contract)
    ids = np.cumsum(rng.integers(1, 1001, n_nodes)).astype(np.int64)
    vert_node_id = ids[vert_node]

    way_ids = np.cumsum(rng.integers(1, 50, n_ways)).astype(np.int64)

    # tags
    hw = rng.choice(HIGHWAY_CLASSES, n_ways, p=HIGHWAY_P)
    tag_rows: list[tuple[int, str, str]] = []
    keys_all: list[list[str]] = []
    vals_all: list[list[str]] = []
    r_one = rng.random(n_ways)
    r_ms = rng.random(n_ways)
    r_lit = rng.random(n_ways)
    r_sur = rng.random(n_ways)
    r_name = rng.random(n_ways)
    ms_pick = rng.integers(0, len(MAXSPEEDS), n_ways)
    sur_pick = rng.choice(["asphalt", "gravel", "paved"], n_ways)
    lit_pick = rng.choice(["yes", "no"], n_ways)
    for w in range(n_ways):
        kv = [("highway", str(hw[w]))]
        if r_one[w] < 0.20:
            kv.append(("oneway", "yes"))
        if r_ms[w] < 0.30:
            kv.append(("maxspeed", MAXSPEEDS[ms_pick[w]]))
        if r_lit[w] < 0.25:
            kv.append(("lit", str(lit_pick[w])))
        if r_sur[w] < 0.20:
            kv.append(("surface", str(sur_pick[w])))
        if r_name[w] < 0.30:
            kv.append(("name", f"Way {way_ids[w]}"))
        keys_all.append([k for k, _ in kv])
        vals_all.append([v for _, v in kv])
        tag_rows.extend((int(way_ids[w]), k, v) for k, v in kv)

    return {
        "L": L,
        "starts": starts,
        "way_of": way_of,
        "way_ids": way_ids,
        "highway": hw,
        "vert_node_id": vert_node_id,
        "node_ids": ids,
        "node_lon": node_lon,
        "node_lat": node_lat,
        "tag_rows": tag_rows,
        "tag_keys": keys_all,
        "tag_vals": vals_all,
        "V": V,
    }


# ---------------------------------------------------------------------------
# relations (S3: turn restrictions; reference route/src/ingest/mod.rs:253-329,
# route/src/formats/relations.rs, route/src/model/profiling.rs:570-588)
# ---------------------------------------------------------------------------


RESTR_BAN = ["no_left_turn", "no_right_turn", "no_u_turn", "no_straight_on", "no_entry"]
RESTR_ONLY = ["only_right_turn", "only_left_turn", "only_straight_on"]


def _gen_relations(rng: np.random.Generator, wn: dict, n_rel: int):
    """OSM relations with a restriction-heavy mix exercising every branch of
    the ingest filter and triple extraction: valid from/via/to triples over
    genuinely shared intersection nodes, duplicate roles (last-wins),
    incomplete / wrong-kind triples (dropped), relation-kind decoy members
    (ignored), restriction:<mode> key-only matches (kept by key prefix),
    except tags, and non-restriction relations (filtered at scan).

    Returns (relations nested table, relation_members flat, relation_tags
    flat) — the flat tables are the DuckDB oracle's input, same rows."""
    vn = wn["vert_node_id"]
    wid = wn["way_ids"][wn["way_of"]]
    pairs = np.unique(np.stack([vn, wid], axis=1), axis=0)  # sorted by node
    nodes_u, starts_u, counts_u = np.unique(pairs[:, 0], return_index=True, return_counts=True)
    mask = counts_u >= 2
    sh_nodes, sh_starts, sh_counts = nodes_u[mask], starts_u[mask], counts_u[mask]
    all_nodes, all_ways = wn["node_ids"], wn["way_ids"]
    rel_ids = np.cumsum(rng.integers(1, 100, n_rel)).astype(np.int64)

    members_all: list[list[tuple[str, str, int]]] = []
    tags_all: list[list[tuple[str, str]]] = []
    for r in range(n_rel):
        u = rng.random()
        j = int(rng.integers(0, len(sh_nodes)))
        via = int(sh_nodes[j])
        ws = pairs[sh_starts[j]: sh_starts[j] + sh_counts[j], 1]
        fw = int(ws[rng.integers(0, len(ws))])
        tw = int(ws[rng.integers(0, len(ws))])  # fw==tw allowed (u-turns)
        v = rng.random()
        if v < 0.68:
            val = RESTR_BAN[int(rng.integers(0, len(RESTR_BAN)))]
        elif v < 0.93:
            val = RESTR_ONLY[int(rng.integers(0, len(RESTR_ONLY)))]
        else:
            val = "give_way"  # unknown kind -> TurnRuleKind::None, dropped
        mem = [("from", "way", fw), ("via", "node", via), ("to", "way", tw)]
        tags = [("type", "restriction"), ("restriction", val)]
        if u < 0.50:  # plain valid restriction
            if rng.random() < 0.30:
                mem = [mem[i] for i in rng.permutation(3)]
            if rng.random() < 0.15:  # relation-kind member: ignored at ingest
                mem.append(("via", "relation", int(rel_ids[max(0, r - 1)])))
            if rng.random() < 0.20:
                tags.append(("except", ["bicycle", "psv", "emergency"][int(rng.integers(0, 3))]))
            b = rng.random()  # broken topology (common in real OSM): via not on a way
            if b < 0.08:
                mem = [("to", "way", int(all_ways[rng.integers(0, len(all_ways))]))
                       if m[0] == "to" else m for m in mem]
            elif b < 0.16:
                mem = [("from", "way", int(all_ways[rng.integers(0, len(all_ways))]))
                       if m[0] == "from" else m for m in mem]
        elif u < 0.60:  # duplicate roles prepended -> last-wins must pick real
            bogus_n = int(all_nodes[rng.integers(0, len(all_nodes))])
            bogus_w = int(all_ways[rng.integers(0, len(all_ways))])
            mem = [("via", "node", bogus_n), ("from", "way", bogus_w)] + mem
        elif u < 0.70:  # incomplete / wrong-kind triple -> skipped
            w2 = rng.random()
            if w2 < 0.4:
                mem = [m for m in mem if m[0] != "to"]
            elif w2 < 0.7:
                mem = [("from", "way", fw), ("via", "way", fw), ("to", "way", tw)]
            else:
                mem = [m for m in mem if m[0] != "from"]
        elif u < 0.78:  # restriction:<mode> key-only ingest match (no type tag)
            mode_key = ["restriction:hgv", "restriction:motorcar", "restriction:conditional"][
                int(rng.integers(0, 3))
            ]
            mval = val + (" @ (Mo-Fr 07:00-19:00)" if mode_key.endswith("conditional") else "")
            tags = [(mode_key, mval)]
        else:  # non-restriction relation -> filtered at scan
            rtype = ["route", "multipolygon", "boundary"][int(rng.integers(0, 3))]
            tags = [("type", rtype), ("name", f"Rel {rel_ids[r]}")]
            mem = [
                ("outer", "way", int(all_ways[rng.integers(0, len(all_ways))]))
                for _ in range(int(rng.integers(1, 5)))
            ]
        members_all.append(mem)
        tags_all.append(tags)

    roles = pa.array([x[0] for m in members_all for x in m])
    kinds = pa.array([x[1] for m in members_all for x in m])
    refs = pa.array(np.array([x[2] for m in members_all for x in m], dtype=np.int64))
    m_off = np.concatenate([[0], np.cumsum([len(m) for m in members_all])]).astype(np.int32)
    mstruct = pa.StructArray.from_arrays([roles, kinds, refs], names=["role", "kind", "ref"])
    members_arr = pa.ListArray.from_arrays(pa.array(m_off), mstruct)
    t_off = np.concatenate([[0], np.cumsum([len(t) for t in tags_all])]).astype(np.int32)
    tags_arr = pa.MapArray.from_arrays(
        pa.array(t_off),
        pa.array([k for t in tags_all for k, _ in t]),
        pa.array([v for t in tags_all for _, v in t]),
    )
    relations = pa.table({"id": pa.array(rel_ids), "members": members_arr, "tags": tags_arr})
    rel_members = pa.table(
        {
            "relation_id": pa.array(np.repeat(rel_ids, [len(m) for m in members_all])),
            "pos": pa.array(np.concatenate([np.arange(len(m), dtype=np.int32) for m in members_all])),
            "role": roles,
            "kind": kinds,
            "ref": refs,
        }
    )
    rel_tags = pa.table(
        {
            "relation_id": pa.array(np.repeat(rel_ids, [len(t) for t in tags_all])),
            "key": pa.array([k for t in tags_all for k, _ in t]),
            "value": pa.array([v for t in tags_all for _, v in t]),
        }
    )
    return relations, rel_members, rel_tags


# ---------------------------------------------------------------------------
# near-dup embeddings (embedding-cosine dedup, LSH recall-gated)
# ---------------------------------------------------------------------------


def _gen_embeddings_nd(rng: np.random.Generator, n: int, d: int = 64):
    """(vec_id, embedding float[64], group_id): ~40 % of vectors belong to
    duplicate groups of 2-4 (center + N(0, 0.12) noise -> intra-group
    cosine ~0.986); the rest are independent (pairwise cosine ~N(0, 1/8),
    max over all pairs well under the 0.9 threshold). The near-dup regime
    of the dedup mandate: thresholded pairs == intra-group pairs, exactly
    recoverable by exact SQL and — with the frozen seed-42 hyperplanes —
    by the banded LSH path at full recall."""
    vecs = np.empty((n, d), dtype=np.float32)
    group = np.empty(n, dtype=np.int64)
    i = 0
    g = 0
    while i < n:
        size = 1 if rng.random() < 0.6 else int(rng.integers(2, 5))
        size = min(size, n - i)
        center = rng.normal(0, 1, d)
        for j in range(i, i + size):
            vecs[j] = center + rng.normal(0, 0.12, d)
            group[j] = g
        i += size
        g += 1
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "group_id": pa.array(group),
        }
    )


# ---------------------------------------------------------------------------
# trained IVF codebook (gentime reference run of operators.ann.kmeans_train)
# ---------------------------------------------------------------------------


def _testdata_dir(sf: str) -> str:
    root = os.environ.get("SPARK_GRAFT_TESTDATA_ROOT", "/root/testdata")
    return os.path.join(root, f"sf{sf}")


def _kmeans_reference(vec_id: np.ndarray, X: np.ndarray, k: int = 8, iters: int = 5):
    """Single-threaded reference run of the distributed spherical k-means
    trainer (operators/ann.py kmeans_train) — same deterministic init
    (k rows with the smallest md5(vec_id-as-string), hashlib here ==
    F.md5(cast(vec_id as string)) there), same 9-dp-rounded assignment
    scores with ties to the lowest centroid_id, same empty-cluster
    keep-previous rule. The resulting ``ivf_codebook`` table is the REAL
    trained quantizer the driver-facing ann_cosine_ivf query and its
    DuckDB oracle both probe; pytest additionally gates that the
    distributed trainer reproduces these centroids."""
    import hashlib as _hashlib

    hexes = np.array([_hashlib.md5(str(int(v)).encode()).hexdigest() for v in vec_id])
    order = np.lexsort((vec_id, hexes))
    C = X[order[:k]].astype(np.float64).copy()
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    norms = np.sqrt((X * X).sum(axis=1))
    objective: list[float] = []
    for _ in range(iters):
        S = np.round((X @ C.T) / norms[:, None], 9)
        a = S.argmax(axis=1)  # first max = lowest centroid_id on ties
        objective.append(float(S[np.arange(len(a)), a].mean()))
        newC = C.copy()
        for c in range(k):
            m = a == c
            if m.any():
                v = X[m].mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    newC[c] = v / n
        C = newC
    return C, objective


def _gen_ivf_codebook(sf: str, embeddings_nd: pa.Table, k: int = 8, iters: int = 5) -> pa.Table:
    """Train the coarse quantizer on the driver's embeddings table for
    this sf (the corpus ann_cosine_ivf queries); at scale factors without
    driver testdata (sf4 scaling runs) fall back to the embeddings_nd
    fixture so the table always exists."""
    p = os.path.join(_testdata_dir(sf), "embeddings.parquet")
    if os.path.exists(p):
        t = pq.read_table(p, columns=["vec_id", "embedding"])
    else:
        t = embeddings_nd.select(["vec_id", "embedding"])
    vid = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    X = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    C, _ = _kmeans_reference(vid, X, k=k, iters=iters)
    return pa.table(
        {
            "centroid_id": pa.array(np.arange(k, dtype=np.int32)),
            "cvec": pa.array(list(C), type=pa.list_(pa.float64())),
        }
    )


# ---------------------------------------------------------------------------
# benchmark table for the contamination_check operator
# ---------------------------------------------------------------------------


def _gen_benchmarks(rng: np.random.Generator, sf: str, n_bench: int = 40) -> pa.Table:
    """(bench_id, text, planted): a small eval-set stand-in with PLANTED
    contamination — half the items are contiguous word snippets of the
    driver's documents for this sf (every 3rd one word-mutated so its
    8-gram overlap drops below/around the threshold, exercising the
    frac gate), the rest are clean synthetic word strings. Planted items
    occupy bench_id 0..n_planted-1 (``planted`` marks them for tests; the
    operator never reads it). At scale factors without driver testdata
    all items are clean and the query is legitimately empty."""
    import hashlib as _hashlib

    texts: list[str] = []
    planted: list[bool] = []
    p = os.path.join(_testdata_dir(sf), "documents.parquet")
    if os.path.exists(p):
        t = pq.read_table(p, columns=["doc_id", "text"])
        doc_ids = np.asarray(t.column("doc_id").to_pylist(), dtype=np.int64)
        doc_texts = t.column("text").to_pylist()
        hexes = np.array([_hashlib.md5(str(int(d)).encode()).hexdigest() for d in doc_ids])
        order = np.lexsort((doc_ids, hexes))  # stable deterministic sample
        k = 0
        for idx in order:
            if k >= n_bench // 2:
                break
            ws = doc_texts[idx].strip().split(" ")
            if len(ws) < 16:
                continue
            m = max(12, int(len(ws) * 0.6))
            start = int(rng.integers(0, len(ws) - m + 1))
            snip = list(ws[start : start + m])
            if k % 3 == 2:  # mutate ~2 spaced words: kills up to 16 8-grams
                for pos in (m // 3, (2 * m) // 3):
                    snip[pos] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(snip))
            planted.append(True)
            k += 1
    wl = np.array(WORDS)
    while len(texts) < n_bench:
        nw = int(rng.integers(15, 31))
        texts.append(" ".join(wl[rng.integers(0, len(wl), nw)]))
        planted.append(False)
    return pa.table(
        {
            "bench_id": pa.array(np.arange(n_bench, dtype=np.int32)),
            "text": pa.array(texts),
            "planted": pa.array(planted, type=pa.bool_()),
        }
    )


# ---------------------------------------------------------------------------
# images
# ---------------------------------------------------------------------------


def _phash64_batch(img: np.ndarray) -> int:
    """Perceptual hash of one decoded grayscale image (see codecs.png.phash64)."""
    return phash64(img)


def _gen_image(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Seeded structured pattern + noise (FIXTURES.md §1). Three pattern
    families (sinusoid / gaussian blobs / gradient) so perceptual hashes
    are diverse — a pure gradient corpus collapses onto ~100 distinct
    ahash values and makes near-dup joins pathological."""
    xx, yy = np.meshgrid(np.arange(w, dtype=np.float64), np.arange(h, dtype=np.float64))
    kind = rng.integers(0, 3)
    if kind == 0:  # oriented sinusoid
        fx, fy = rng.uniform(0.5, 4.0, 2)
        phase = rng.uniform(0, 2 * np.pi)
        base = 128.0 + 100.0 * np.sin(2 * np.pi * (fx * xx / w + fy * yy / h) + phase)
    elif kind == 1:  # gaussian blobs
        base = np.full((h, w), 60.0)
        for _ in range(int(rng.integers(2, 6))):
            cx, cy = rng.uniform(0, w), rng.uniform(0, h)
            s = rng.uniform(0.1, 0.4) * min(w, h)
            amp = rng.uniform(60, 160)
            base += amp * np.exp(-((xx - cx) ** 2 + (yy - cy) ** 2) / (2 * s * s))
    else:  # gradient
        a, b = rng.uniform(-2.0, 2.0, 2)
        base = 128.0 + (a * (xx - w / 2) / w + b * (yy - h / 2) / h) * 200.0
    noise = rng.normal(0, 12.0, (h, w))
    return np.clip(base + noise, 0, 255).astype(np.uint8)


NEAR_DUP_FRAC = 0.05  # seeded near-duplicates (phash hamming ~0-3)


def _gen_images(rng: np.random.Generator, n_geo: int):
    ids = [f"img{i:010d}" for i in range(n_geo)]
    lon, lat = _clustered_points(rng, n_geo, 0.6, 0.1)
    perm = rng.permutation(n_geo)  # interleave clustered/uniform across ids
    lon_e7 = np.round(lon[perm] * E7).astype(np.int32)
    lat_e7 = np.round(lat[perm] * E7).astype(np.int32)

    n_bytes = min(n_geo, IMG_BYTES_CAP)
    sizes = np.array([64, 128, 256])
    ws = sizes[rng.integers(0, 3, n_bytes)]
    hs = sizes[rng.integers(0, 3, n_bytes)]
    fmts = np.where(rng.random(n_bytes) < 0.7, "png", "qnt")
    dup_of = np.where(rng.random(n_bytes) < NEAR_DUP_FRAC, rng.integers(0, n_bytes), -1)
    needed_donors = {int(d) for d in dup_of if d >= 0}
    blobs: list[bytes] = []
    phashes: list[int] = []
    captions: list[str] = []
    donors: dict[int, np.ndarray] = {}
    truth_rows: list[tuple] = []
    wl = np.array(WORDS)
    for i in range(n_bytes):
        d = int(dup_of[i])
        if 0 <= d < i and d in donors:
            # seeded near-dup: donor pixels + faint noise (phash-adjacent)
            src = donors[d]
            ws[i], hs[i] = src.shape[1], src.shape[0]
            img = np.clip(src.astype(np.float64) + rng.normal(0, 2.0, src.shape), 0, 255).astype(
                np.uint8
            )
        else:
            img = _gen_image(rng, int(ws[i]), int(hs[i]))
        if i in needed_donors:
            donors[i] = img
        if fmts[i] == "png":
            blobs.append(encode_png(img))
            phashes.append(phash64(img))
            decoded = img  # PNG is lossless: stored-blob decode must return this
        else:
            enc = encode_qnt(img, q=4)
            blobs.append(enc)
            decoded = decode_qnt(enc)
            phashes.append(phash64(decoded))
        nw = int(rng.integers(5, 21))
        drawn = " ".join(wl[rng.integers(0, len(wl), nw)])
        if 0 <= d < i and d in donors:
            # cross-modal near-dup: seeded image dups ALSO reuse the donor
            # caption with one word swapped (word drawn from the row's own
            # caption stream — rng consumption identical to non-dup rows,
            # so no other table's data reshuffles). This gives the
            # crossmodal_neardup operator planted pairs where image phash
            # AND caption shingles agree.
            cw = captions[d].split()
            cw[0] = drawn.split()[0]
            drawn = " ".join(cw)
        captions.append(drawn)
        # golden truth for the decode/resize oracles: stats of what a
        # correct decode of the stored blob must yield (for PNG this is
        # the PRE-encode array, so the Spark-side PNG decode is verified
        # end-to-end), plus the md5 of the canonical 32x32 thumbnail.
        import hashlib as _hashlib

        from ..operators.images import _block_mean_resize

        fdec = decoded.astype(np.float64)
        _psnr = psnr_db(decoded, decode_qnt(encode_qnt(decoded, q=4)))
        truth_rows.append(
            (
                ids[i],
                int(decoded.shape[1]),
                int(decoded.shape[0]),
                round(float(fdec.mean()), 3),
                round(float(fdec.std()), 3),
                round(float((decoded < 64).mean()), 6),
                round(min(_psnr, 99.0), 3),
                _hashlib.md5(encode_png(_block_mean_resize(decoded, 32))).hexdigest(),
            )
        )
    images = pa.table(
        {
            "image_id": pa.array(ids[:n_bytes]),
            "bytes": pa.array(blobs, type=pa.binary()),
            "w": pa.array(ws.astype(np.int32)),
            "h": pa.array(hs.astype(np.int32)),
            "fmt": pa.array([str(f) for f in fmts]),
            "caption": pa.array(captions),
            "phash": pa.array(phashes, type=pa.int64()),
        }
    )
    geo = pa.table(
        {
            "image_id": pa.array(ids),
            "lon_e7": pa.array(lon_e7),
            "lat_e7": pa.array(lat_e7),
        }
    )
    tcols = list(zip(*truth_rows))
    truth = pa.table(
        {
            "image_id": pa.array(list(tcols[0])),
            "w": pa.array(np.array(tcols[1], dtype=np.int32)),
            "h": pa.array(np.array(tcols[2], dtype=np.int32)),
            "mean": pa.array(np.array(tcols[3], dtype=np.float64)),
            "std": pa.array(np.array(tcols[4], dtype=np.float64)),
            "p_dark": pa.array(np.array(tcols[5], dtype=np.float64)),
            "lossy_psnr_db": pa.array(np.array(tcols[6], dtype=np.float64)),
            "thumb_md5": pa.array(list(tcols[7])),
        }
    )
    return images, geo, truth


# ---------------------------------------------------------------------------
# polygons
# ---------------------------------------------------------------------------


def _wkb_polygon(lon_e7: np.ndarray, lat_e7: np.ndarray) -> bytes:
    """WKB LE polygon, one ring, closed, CCW not enforced here (S10 encoder
    handles orientation; reference route/src/range/wkb_stream.rs:15-25)."""
    n = len(lon_e7) + 1
    out = [struct.pack("<BII", 1, 3, 1), struct.pack("<I", n)]
    for i in list(range(len(lon_e7))) + [0]:
        out.append(struct.pack("<dd", lon_e7[i] / E7, lat_e7[i] / E7))
    return b"".join(out)


def _contour_reference(pids, polys_xy):
    """Single-threaded reference run of the sparse-contour pipeline
    (stamp -> balanced close(2) -> Moore trace -> anchored flag -> DP
    simplify) producing the contour_truth + polygon_pixel_edges goldens.
    Same kernels as operators/raster.py, executed without Spark and
    assembled here independently of ``trace_contours`` (grid bounds,
    padding, anchor, cell-centre emission) — the driver's oracle row then
    verifies the DISTRIBUTED run (the per-region segment gather and its
    kernel's assembly) reproduces it."""
    from ..geo import mercator_np
    from ..operators.raster import (
        T as _T,
    )
    from ..operators.raster import (
        _bresenham_cells,
        _dilate3_np,
        _dp_simplify,
        _erode3_np,
        _ring_contains,
        _trace_one,
    )

    cell_m, pad, tol = 50.0, 2, 1.5
    pix_rows: list[tuple] = []
    truth_rows: list[tuple] = []
    for pid, (x, y) in zip(pids, polys_xy):
        mx, my = mercator_np(x, y)
        px = np.floor(mx / cell_m).astype(np.int64)
        py = np.floor(my / cell_m).astype(np.int64)
        qx, qy = np.roll(px, -1), np.roll(py, -1)
        for i in range(len(px)):
            pix_rows.append((pid, i, int(px[i]), int(py[i]), int(qx[i]), int(qy[i])))
        cx, cy = _bresenham_cells(px, py, qx, qy)
        x0t, y0t = int(cx.min()) >> 6, int(cy.min()) >> 6
        x1t, y1t = int(cx.max()) >> 6, int(cy.max()) >> 6
        W = (x1t - x0t + 1) * _T + 2 * pad
        H = (y1t - y0t + 1) * _T + 2 * pad
        grid = np.zeros((H, W), dtype=bool)
        grid[cy - y0t * _T + pad, cx - x0t * _T + pad] = True
        for _ in range(pad):
            grid = _dilate3_np(grid)
        for _ in range(pad):
            grid = _erode3_np(grid)
        amx, amy = mercator_np(
            np.array([float(x.mean())]), np.array([float(y.mean())])
        )
        ax = float(amx[0]) / cell_m - x0t * _T + pad
        ay = float(amy[0]) / cell_m - y0t * _T + pad
        for ring_id, ring in enumerate(_trace_one(grid)):
            flag = _ring_contains(ring, ay, ax)
            ring = _dp_simplify(ring, tol)
            for seq, (ry, rx) in enumerate(ring):
                truth_rows.append(
                    (
                        pid,
                        ring_id,
                        seq,
                        round((x0t * _T + rx - pad + 0.5) * cell_m, 3),
                        round((y0t * _T + ry - pad + 0.5) * cell_m, 3),
                        bool(flag),
                    )
                )
    p = list(zip(*pix_rows))
    pixel_edges = pa.table(
        {
            "region_id": pa.array(list(p[0])),
            "seq": pa.array(np.array(p[1], dtype=np.int32)),
            "px1": pa.array(np.array(p[2], dtype=np.int64)),
            "py1": pa.array(np.array(p[3], dtype=np.int64)),
            "px2": pa.array(np.array(p[4], dtype=np.int64)),
            "py2": pa.array(np.array(p[5], dtype=np.int64)),
        }
    )
    t = list(zip(*truth_rows))
    contour_truth = pa.table(
        {
            "region_id": pa.array(list(t[0])),
            "ring_id": pa.array(np.array(t[1], dtype=np.int32)),
            "seq": pa.array(np.array(t[2], dtype=np.int32)),
            "mx": pa.array(np.array(t[3], dtype=np.float64)),
            "my": pa.array(np.array(t[4], dtype=np.float64)),
            "anchored": pa.array(list(t[5]), type=pa.bool_()),
        }
    )
    return pixel_edges, contour_truth


def _gen_polygons(rng: np.random.Generator, n_poly: int):
    pids, rings, wkbs, edge_rows = [], [], [], []
    polys_xy: list[tuple[np.ndarray, np.ndarray]] = []
    cx_all, cy_all = _clustered_points(rng, n_poly, 0.7, 0.12)
    for p in range(n_poly):
        pid = f"poly{p:05d}"
        n_v = int(rng.integers(3, 65))
        radius_m = float(np.exp(rng.uniform(np.log(100.0), np.log(20000.0))))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n_v))
        rad = radius_m * rng.uniform(0.5, 1.0, n_v)
        x = np.round(cx_all[p] * E7 + rad * np.cos(ang) / M_PER_DEG_LON * E7).astype(np.int64)
        y = np.round(cy_all[p] * E7 + rad * np.sin(ang) / M_PER_DEG_LAT * E7).astype(np.int64)
        # drop consecutive duplicates after quantization (keep >= 3 vertices)
        keep = np.ones(len(x), bool)
        keep[1:] = (x[1:] != x[:-1]) | (y[1:] != y[:-1])
        if keep.sum() >= 3 and (x[keep][0] != x[keep][-1] or y[keep][0] != y[keep][-1]):
            x, y = x[keep], y[keep]
        pids.append(pid)
        polys_xy.append((x, y))
        rings.append([{"lon_e7": int(a), "lat_e7": int(b)} for a, b in zip(x, y)])
        wkbs.append(_wkb_polygon(x, y))
        n = len(x)
        for i in range(n):
            j = (i + 1) % n
            edge_rows.append((pid, i, int(x[i]), int(y[i]), int(x[j]), int(y[j])))

    ring_t = pa.list_(pa.struct([("lon_e7", pa.int32()), ("lat_e7", pa.int32())]))
    polygons = pa.table(
        {
            "polygon_id": pa.array(pids),
            "ring": pa.array(rings, type=ring_t),
            "wkb": pa.array(wkbs, type=pa.binary()),
        }
    )
    e = list(zip(*edge_rows))
    edges = pa.table(
        {
            "polygon_id": pa.array(e[0]),
            "seq": pa.array(np.array(e[1], dtype=np.int32)),
            "x1": pa.array(np.array(e[2], dtype=np.int32)),
            "y1": pa.array(np.array(e[3], dtype=np.int32)),
            "x2": pa.array(np.array(e[4], dtype=np.int32)),
            "y2": pa.array(np.array(e[5], dtype=np.int32)),
        }
    )
    pixel_edges, contour_truth = _contour_reference(pids, polys_xy)
    return polygons, edges, pixel_edges, contour_truth


# ---------------------------------------------------------------------------
# query points + raster tiles
# ---------------------------------------------------------------------------


def _tsp_reference(query_points: pa.Table, stops_per_trip: int = 12, max_stops: int = 100):
    """Single-threaded reference run of the G6 TSP operator (md5-derived
    trip grouping, NN + 2-opt per trip) — the tsp_truth golden. The
    driver oracle row verifies the distributed groupBy/applyInPandas run
    reproduces it row-for-row."""
    import hashlib

    from ..geo import E7 as _E7
    from ..geo import M_PER_DEG_LAT as _MLAT
    from ..geo import M_PER_DEG_LON as _MLON
    from ..operators.trips import nn_tour, two_opt

    qids = query_points.column("query_id").to_pylist()
    lon = np.asarray(query_points.column("lon_e7").to_pylist(), dtype=np.float64)
    lat = np.asarray(query_points.column("lat_e7").to_pylist(), dtype=np.float64)
    n_trips = max(1, len(qids) // stops_per_trip)
    trips: dict[int, list[int]] = {}
    for i, q in enumerate(qids):
        t = int(hashlib.md5(q.encode()).hexdigest()[:15], 16) % n_trips
        trips.setdefault(t, []).append(i)
    rows: list[tuple] = []
    for t, idxs in trips.items():
        idxs = sorted(idxs, key=lambda i: qids[i])[:max_stops]
        x = lon[idxs] * _MLON / _E7
        y = lat[idxs] * _MLAT / _E7
        d = np.hypot(x[:, None] - x[None, :], y[:, None] - y[None, :])
        tour = two_opt(nn_tour(d), d)
        for seq, k in enumerate(tour):
            rows.append((t, seq, qids[idxs[k]]))
    r = list(zip(*rows))
    return pa.table(
        {
            "trip_id": pa.array(np.array(r[0], dtype=np.int32)),
            "stop_seq": pa.array(np.array(r[1], dtype=np.int32)),
            "query_id": pa.array(list(r[2])),
        }
    )


def _simplify_reference(wn) -> pa.Table:
    """Single-threaded reference run of the Douglas-Peucker kernel over
    every way — the simplify_truth golden (tsp_truth discipline: the
    driver oracle verifies the distributed collect/UDF run reproduces
    this row-for-row; the kernel itself is shared code)."""
    from ..operators.simplify import SIMPLIFY_TOL_E7, dp_keep_indices

    id_to_pos = {int(i): k for k, i in enumerate(wn["node_ids"])}
    node_lon, node_lat = wn["node_lon"], wn["node_lat"]
    L, way_ids, vn = wn["L"], wn["way_ids"], wn["vert_node_id"]
    rw: list[int] = []
    rs: list[int] = []
    rn: list[int] = []
    off = 0
    for w in range(len(way_ids)):
        ids = vn[off : off + L[w]]
        off += L[w]
        pos = np.array([id_to_pos[int(i)] for i in ids], dtype=np.int64)
        x = node_lon[pos].astype(np.float64)
        y = node_lat[pos].astype(np.float64)
        for s in dp_keep_indices(x, y, SIMPLIFY_TOL_E7):
            rw.append(int(way_ids[w]))
            rs.append(int(s))
            rn.append(int(ids[s]))
    return pa.table(
        {
            "way_id": pa.array(np.array(rw, dtype=np.int64)),
            "seq": pa.array(np.array(rs, dtype=np.int32)),
            "node_id": pa.array(np.array(rn, dtype=np.int64)),
        }
    )


def _gen_query_points(rng: np.random.Generator, n_q: int, node_lon: np.ndarray, node_lat: np.ndarray):
    n_near = int(n_q * 0.80)
    n_mid = int(n_q * 0.15)
    n_far = n_q - n_near - n_mid

    def offset(base_idx: np.ndarray, d_min: float, d_max: float):
        d = rng.uniform(d_min, d_max, len(base_idx))
        th = rng.uniform(0, 2 * np.pi, len(base_idx))
        lo = node_lon[base_idx] + np.round(d * np.cos(th) / M_PER_DEG_LON * E7).astype(np.int64)
        la = node_lat[base_idx] + np.round(d * np.sin(th) / M_PER_DEG_LAT * E7).astype(np.int64)
        return lo, la

    i_near = rng.integers(0, len(node_lon), n_near)
    lo1, la1 = offset(i_near, 0.0, 100.0)
    i_mid = rng.integers(0, len(node_lon), n_mid)
    lo2, la2 = offset(i_mid, 1000.0, 5000.0)
    # beyond the 5 km cutoff: north of every node by 6-10 km
    far_lat0 = node_lat.max() + int(6000.0 / M_PER_DEG_LAT * E7)
    la3 = far_lat0 + np.round(rng.uniform(0, 4000.0, n_far) / M_PER_DEG_LAT * E7).astype(np.int64)
    lo3 = np.round(rng.uniform(LON_MIN, LON_MAX, n_far) * E7).astype(np.int64)

    lon = np.concatenate([lo1, lo2, lo3]).astype(np.int32)
    lat = np.concatenate([la1, la2, la3]).astype(np.int32)
    perm = rng.permutation(n_q)
    k = rng.choice(np.array([1, 8, 64], dtype=np.int32), n_q, p=[0.5, 0.3, 0.2])
    return pa.table(
        {
            "query_id": pa.array([f"q{i:08d}" for i in range(n_q)]),
            "lon_e7": pa.array(lon[perm]),
            "lat_e7": pa.array(lat[perm]),
            "k": pa.array(k),
        }
    )


def _gen_raster_tiles(rng: np.random.Generator, side: int = 121):
    """Returns (tiles, cells): the encoded .hgt-style binary tiles AND the
    same grids as a relational (tile, row, col, v) table. The cells table
    is the DuckDB-side ground truth for the bilinear oracles — it is
    written from the pre-encode array, so the Spark decode of the
    big-endian binary is verified end-to-end against it."""
    all_tiles = [(la, lo) for la in (49, 50, 51) for lo in (2, 3, 4, 5, 6)]
    skip = {(49, 2), (49, 6), (51, 6)}  # deterministic coverage gaps
    rows = []
    cell_cols: dict[str, list] = {"tile_lat": [], "tile_lon": [], "row": [], "col": [], "v": []}
    for tlat, tlon in all_tiles:
        if (tlat, tlon) in skip:
            continue
        ys = tlat + (side - 1 - np.arange(side)) / (side - 1)  # row 0 = north edge
        xs = tlon + np.arange(side) / (side - 1)
        yy, xx = np.meshgrid(ys, xs, indexing="ij")
        field = 200.0 + 150.0 * np.sin(xx * 2.1) + 120.0 * np.cos(yy * 1.7) + 30.0 * np.sin(xx * 7.3 + yy * 5.1)
        grid = np.round(field).astype(np.int16)
        voids = rng.random((side, side)) < 0.01
        grid[voids] = -32768
        rows.append((tlat, tlon, side, grid.astype(">i2").tobytes()))
        rr, cc = np.meshgrid(np.arange(side), np.arange(side), indexing="ij")
        cell_cols["tile_lat"].append(np.full(side * side, tlat, dtype=np.int32))
        cell_cols["tile_lon"].append(np.full(side * side, tlon, dtype=np.int32))
        cell_cols["row"].append(rr.ravel().astype(np.int32))
        cell_cols["col"].append(cc.ravel().astype(np.int32))
        cell_cols["v"].append(grid.ravel().astype(np.int32))
    t = list(zip(*rows))
    tiles = pa.table(
        {
            "tile_lat": pa.array(np.array(t[0], dtype=np.int32)),
            "tile_lon": pa.array(np.array(t[1], dtype=np.int32)),
            "samples_per_side": pa.array(np.array(t[2], dtype=np.int32)),
            "data": pa.array(list(t[3]), type=pa.binary()),
        }
    )
    cells = pa.table({k: pa.array(np.concatenate(vs)) for k, vs in cell_cols.items()})
    return tiles, cells


# model speeds for observation synthesis — must mirror
# functions/model.py DEFAULT_MODEL['car'] (kept literal so fixture
# generation stays Spark-free)
_CAR_SPEEDS = {"motorway": 110, "primary": 70, "secondary": 50, "tertiary": 40, "residential": 30}


def _gen_traces(rng: np.random.Generator, wn: dict, n_traces: int):
    """GPS traces for map-matching (J13): walk along a way's polyline,
    sample every ~25 m, add ~10 m gaussian noise. ``true_way_id`` records
    the generating way (ground truth for the HMM accuracy gate — the
    matcher never reads it)."""
    L, starts = wn["L"], wn["starts"]
    node_lon, node_lat = wn["node_lon"], wn["node_lat"]
    vert = wn["vert_node_id"]
    id_to_pos = {int(i): k for k, i in enumerate(wn["node_ids"])}
    eligible = np.nonzero(L >= 4)[0]
    rows = []
    for t in range(n_traces):
        w = int(eligible[rng.integers(0, len(eligible))])
        idx = [id_to_pos[int(vert[starts[w] + j])] for j in range(L[w])]
        vx = node_lon[idx].astype(np.float64)
        vy = node_lat[idx].astype(np.float64)
        seg_dx = (vx[1:] - vx[:-1]) * M_PER_DEG_LON / E7
        seg_dy = (vy[1:] - vy[:-1]) * M_PER_DEG_LAT / E7
        seg_len = np.hypot(seg_dx, seg_dy)
        cum = np.concatenate([[0.0], np.cumsum(seg_len)])
        total = cum[-1]
        if total < 100:
            continue
        arc = np.arange(0.0, total, 25.0)
        si = np.clip(np.searchsorted(cum, arc, side="right") - 1, 0, len(seg_len) - 1)
        frac = (arc - cum[si]) / np.maximum(seg_len[si], 1e-9)
        px = vx[si] + (vx[si + 1] - vx[si]) * frac
        py = vy[si] + (vy[si + 1] - vy[si]) * frac
        px += rng.normal(0, 10.0, len(arc)) / M_PER_DEG_LON * E7
        py += rng.normal(0, 10.0, len(arc)) / M_PER_DEG_LAT * E7
        for s in range(len(arc)):
            rows.append((f"trace{t:05d}", s, int(round(px[s])), int(round(py[s])), int(wn["way_ids"][w])))
    c = list(zip(*rows))
    return pa.table(
        {
            "trace_id": pa.array(list(c[0])),
            "seq": pa.array(np.array(c[1], dtype=np.int32)),
            "lon_e7": pa.array(np.array(c[2], dtype=np.int32)),
            "lat_e7": pa.array(np.array(c[3], dtype=np.int32)),
            "true_way_id": pa.array(np.array(c[4], dtype=np.int64)),
        }
    )


def _gen_observations(rng: np.random.Generator, wn: dict):
    """S13 calibration probe table: (way_id, observed_kmh, samples) for
    ~60% of car-accessible ways; observed = model speed x noisy ratio."""
    way_ids = wn["way_ids"]
    hw = wn["highway"]
    eligible = np.array([i for i in range(len(way_ids)) if hw[i] in _CAR_SPEEDS])
    n_obs = max(10, int(0.6 * len(eligible)))
    pick = rng.choice(eligible, size=min(n_obs, len(eligible)), replace=False)
    pick.sort()
    model_speed = np.array([_CAR_SPEEDS[hw[i]] for i in pick], dtype=np.float64)
    ratio = np.clip(rng.normal(0.9, 0.15, len(pick)), 0.4, 1.4)
    return pa.table(
        {
            "way_id": pa.array(way_ids[pick]),
            "observed_kmh": pa.array(np.round(model_speed * ratio, 1)),
            "samples": pa.array(rng.integers(1, 51, len(pick)).astype(np.int32)),
        }
    )


# ---------------------------------------------------------------------------
# audio / video / pings (multimodal + sessionization fixtures)
# ---------------------------------------------------------------------------

AUDIO_SR = 4000
AUDIO_CLIP_T = 32000  # |sample| >= this counts as clipped


def _gen_audio(rng: np.random.Generator, n_clips: int):
    """Raw-PCM audio clips (multimodal mandate: audio as opaque binary +
    typed metadata; no audio libs in the container, so the codec is raw
    s16le — a REAL decode, not a stub). ``samples`` carries the SAME
    waveform as ARRAY<INT> so DuckDB recomputes every feature
    relationally from the array while Spark recomputes it from the
    bytes — a true differential oracle for the mapInPandas decode
    (np.frombuffer must exactly invert tobytes).

    Content: two-tone sinusoid mixes + gaussian noise; ~10% near-silent
    clips (rms/zcr edge) and ~5% driven into clipping (clip_frac > 0)."""
    lens = np.array([1600, 2048, 3200])
    ids: list[str] = []
    blobs: list[bytes] = []
    lists: list[np.ndarray] = []
    for i in range(n_clips):
        n = int(lens[rng.integers(0, 3)])
        t = np.arange(n, dtype=np.float64) / AUDIO_SR
        kind = rng.random()
        if kind < 0.10:  # near-silence
            x = rng.normal(0, 30.0, n)
        else:
            f1, f2 = rng.uniform(80, 900, 2)
            a1, a2 = rng.uniform(0.15, 0.55, 2)
            p1, p2 = rng.uniform(0, 2 * np.pi, 2)
            amp = 1.25 if kind > 0.95 else 1.0  # ~5% clipped
            x = amp * 32767.0 * (
                a1 * np.sin(2 * np.pi * f1 * t + p1) + a2 * np.sin(2 * np.pi * f2 * t + p2)
            )
            x = x + rng.normal(0, 120.0, n)
        s = np.clip(np.round(x), -32768, 32767).astype(np.int16)
        ids.append(f"clip{i:07d}")
        blobs.append(s.astype("<i2").tobytes())
        lists.append(s.astype(np.int32))
    off = np.concatenate([[0], np.cumsum([len(s) for s in lists])]).astype(np.int32)
    flat = np.concatenate(lists) if lists else np.array([], dtype=np.int32)
    return pa.table(
        {
            "clip_id": pa.array(ids),
            "pcm": pa.array(blobs, type=pa.binary()),
            "sr": pa.array(np.full(n_clips, AUDIO_SR, dtype=np.int32)),
            "n_samples": pa.array(np.array([len(s) for s in lists], dtype=np.int32)),
            "samples": pa.ListArray.from_arrays(pa.array(off), pa.array(flat)),
        }
    )


BPE_N_MERGES = 16  # mirrored by operators/text.py (pytest-pinned parity)


def _bpe_apply_merge(syms: list[str], a: str, b: str) -> list[str]:
    """Greedy left-to-right single-pass merge — the exact semantics of the
    Spark-side `aggregate` fold in operators/text.py (a freshly merged
    token is not re-considered as the left partner within the same pass;
    equivalent because merged != left for non-empty right)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _gen_bpe(sf: str, n_merges: int = BPE_N_MERGES):
    """Gentime reference BPE (plain Python, independent of the Spark
    implementation — the kmeans_reference / frame_truth pattern): train
    ``n_merges`` merges over the driver's documents word vocabulary,
    then tokenize the corpus with them. Returns (bpe_merges, bpe_tokens)
    tables:

    - bpe_merges(step, left, right, merged, pair_count): merge list in
      training order; tiebreak = (count desc, left asc, right asc).
    - bpe_tokens(doc_id, n_bpe_tokens): per-doc token count after
      applying all merges (whitespace pre-tokenization, same as
      token_stats).

    At scale factors without driver testdata both tables are empty and
    the dependent queries are legitimately empty."""
    from collections import Counter

    p = os.path.join(_testdata_dir(sf), "documents.parquet")
    m_rows: list[tuple] = []
    t_rows: list[tuple] = []
    if os.path.exists(p):
        t = pq.read_table(p, columns=["doc_id", "text"])
        doc_ids = t.column("doc_id").to_pylist()
        texts = [s.strip().split(" ") for s in t.column("text").to_pylist()]
        wc: Counter = Counter()
        for ws in texts:
            wc.update(ws)
        vocab = {w: [ch for ch in w] for w in wc}
        for step in range(1, n_merges + 1):
            pc: Counter = Counter()
            for w, syms in vocab.items():
                c = wc[w]
                for j in range(len(syms) - 1):
                    pc[(syms[j], syms[j + 1])] += c
            if not pc:
                break
            (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            m_rows.append((step, a, b, a + b, int(cnt)))
            vocab = {w: _bpe_apply_merge(syms, a, b) for w, syms in vocab.items()}
        n_bpe = {w: len(syms) for w, syms in vocab.items()}
        for d, ws in zip(doc_ids, texts):
            t_rows.append((int(d), int(sum(n_bpe[w] for w in ws))))
    mc = list(zip(*m_rows)) if m_rows else [[], [], [], [], []]
    tc = list(zip(*t_rows)) if t_rows else [[], []]
    merges = pa.table(
        {
            "step": pa.array(np.array(mc[0], dtype=np.int32)),
            "left": pa.array(list(mc[1]), type=pa.string()),
            "right": pa.array(list(mc[2]), type=pa.string()),
            "merged": pa.array(list(mc[3]), type=pa.string()),
            "pair_count": pa.array(np.array(mc[4], dtype=np.int64)),
        }
    )
    tokens = pa.table(
        {
            "doc_id": pa.array(np.array(tc[0], dtype=np.int64)),
            "n_bpe_tokens": pa.array(np.array(tc[1], dtype=np.int64)),
        }
    )
    return merges, tokens


def _gen_videos(rng: np.random.Generator, n_videos: int):
    """Grayscale raw-frame video clips: ``frames`` = n_frames contiguous
    w*h uint8 planes (fixed stride — the frame "codec" is a slice, real
    not stubbed; image/video libs absent from the container). ~50% of
    clips contain one hard scene cut; frames drift (np.roll pan) with
    per-frame noise. ``frame_truth`` holds PRE-encode per-frame stats +
    diff4 = mean |f_t - f_{t-4}| so the Spark-side slice/decode and the
    sampled-diff cut detector are verified end-to-end (same pattern as
    image_truth for stills).

    Round 5 (VERDICT r4 "Next round #5"): frame_truth also carries the
    full PRE-encode pixel plane per frame (``pixels`` LIST<SMALLINT>,
    row-major) so the DuckDB oracle RECOMPUTES mean/std/diff
    independently at any stride instead of reading goldens; the golden
    scalar columns are kept (integer-sum formula, matching the operator)
    for the cut-detection tests. Pixel values accumulate as numpy
    buffers, never Python ints — sf4 is ~900M values."""
    sizes = np.array([16, 32])
    v_rows: list[tuple] = []
    t_rows: list[tuple] = []
    px_chunks: list[np.ndarray] = []
    px_lens: list[int] = []
    for i in range(n_videos):
        w = int(sizes[rng.integers(0, 2)])
        h = int(sizes[rng.integers(0, 2)])
        nf = int(rng.integers(16, 33))
        fps = 8
        cut = int(rng.integers(5, nf - 3)) if rng.random() < 0.5 else nf + 1
        scene_a = _gen_image(rng, w, h).astype(np.float64)
        scene_b = _gen_image(rng, w, h).astype(np.float64)
        dx, dy = rng.uniform(-1.5, 1.5, 2)
        frames = np.empty((nf, h, w), dtype=np.uint8)
        for ti in range(nf):
            base = scene_a if ti < cut else scene_b
            shifted = np.roll(
                np.roll(base, int(round(dx * ti)), axis=1), int(round(dy * ti)), axis=0
            )
            frames[ti] = np.clip(shifted + rng.normal(0, 4.0, (h, w)), 0, 255).astype(np.uint8)
        vid = f"vid{i:06d}"
        v_rows.append((vid, frames.tobytes(), w, h, nf, fps))
        flat = frames.reshape(nf, -1).astype(np.int64)
        npx = w * h
        sums = flat.sum(axis=1)
        sqs = (flat * flat).sum(axis=1)
        for ti in range(nf):
            m = float(sums[ti]) / npx
            std = round(float(np.sqrt(float(sqs[ti]) / npx - m * m)), 3)
            diff4 = (
                round(float(np.abs(flat[ti] - flat[ti - 4]).sum()) / npx, 3)
                if ti >= 4
                else None
            )
            t_rows.append((vid, ti, round(m, 3), std, diff4))
        px_chunks.append(frames.reshape(-1).astype(np.int16))
        px_lens.extend([npx] * nf)
    vc = list(zip(*v_rows))
    tc = list(zip(*t_rows))
    px_offsets = np.zeros(len(px_lens) + 1, dtype=np.int64)
    np.cumsum(np.asarray(px_lens, dtype=np.int64), out=px_offsets[1:])
    pixels = pa.LargeListArray.from_arrays(
        pa.array(px_offsets, type=pa.int64()),
        pa.array(np.concatenate(px_chunks) if px_chunks else np.array([], dtype=np.int16)),
    )
    videos = pa.table(
        {
            "video_id": pa.array(list(vc[0])),
            "frames": pa.array(list(vc[1]), type=pa.binary()),
            "w": pa.array(np.array(vc[2], dtype=np.int32)),
            "h": pa.array(np.array(vc[3], dtype=np.int32)),
            "n_frames": pa.array(np.array(vc[4], dtype=np.int32)),
            "fps": pa.array(np.array(vc[5], dtype=np.int32)),
        }
    )
    truth = pa.table(
        {
            "video_id": pa.array(list(tc[0])),
            "frame_idx": pa.array(np.array(tc[1], dtype=np.int32)),
            "mean": pa.array(np.array(tc[2], dtype=np.float64)),
            "std": pa.array(np.array(tc[3], dtype=np.float64)),
            "diff4": pa.array([None if v is None else float(v) for v in tc[4]], type=pa.float64()),
            "pixels": pixels,
        }
    )
    return videos, truth


PING_BASE_S = 1_755_000_000  # fixed epoch base (determinism: no wall clock)


def _gen_pings(rng: np.random.Generator, n_users: int):
    """Event stream for sessionization: per-user bursts of pings with
    intra-session gaps of 10-600 s and inter-session gaps of 2000-20000 s
    — unambiguous under the 1800 s session threshold (no boundary rows).
    ``ts_s`` is integer epoch seconds (tz-free, hashes identically in
    Spark and DuckDB). Coordinates jitter around a per-session city."""
    rows: list[tuple] = []
    for u in range(n_users):
        uid = f"user{u:05d}"
        t = PING_BASE_S + int(rng.integers(0, 86_400))
        for _s in range(int(rng.integers(1, 5))):
            cx, cy = CITIES[int(rng.integers(0, len(CITIES)))]
            n_ev = int(rng.integers(3, 25))
            for _e in range(n_ev):
                lon = cx + rng.normal(0, 0.02)
                lat = cy + rng.normal(0, 0.02)
                rows.append((uid, t, int(round(lon * E7)), int(round(lat * E7))))
                t += int(rng.integers(10, 600))
            t += int(rng.integers(2_000, 20_000))
    c = list(zip(*rows))
    return pa.table(
        {
            "user_id": pa.array(list(c[0])),
            "ts_s": pa.array(np.array(c[1], dtype=np.int64)),
            "lon_e7": pa.array(np.array(c[2], dtype=np.int32)),
            "lat_e7": pa.array(np.array(c[3], dtype=np.int32)),
        }
    )


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------


def generate(sf: str, out_dir: str) -> None:
    # independent child streams per table: editing one generator never
    # reshuffles the other tables' data
    # SINGLE stream registry: every table's child RNG index lives here, so
    # no generator can silently collide with another's stream (indices are
    # frozen — append only, never reorder, or all fixture data reshuffles)
    streams = {k: np.random.default_rng([SEED, i]) for i, k in enumerate(
        ["ways", "images", "polygons", "queries", "raster", "observations",
         "relations", "traces", "embeddings_nd", "benchmarks", "audio",
         "videos", "pings"]
    )}
    c = _counts(sf)

    rng = streams["ways"]
    wn = _gen_ways_nodes(rng, c["ways"], c["extra_nodes"])
    _write(
        out_dir,
        "osm_nodes",
        pa.table(
            {
                "id": pa.array(wn["node_ids"]),
                "lat_e7": pa.array(wn["node_lat"].astype(np.int32)),
                "lon_e7": pa.array(wn["node_lon"].astype(np.int32)),
            }
        ),
    )

    L, starts, way_ids = wn["L"], wn["starts"], wn["way_ids"]
    vn = wn["vert_node_id"]
    offsets = np.concatenate([[0], np.cumsum(L)]).astype(np.int32)
    nodes_list = pa.ListArray.from_arrays(pa.array(offsets), pa.array(vn))
    tag_offsets = np.concatenate([[0], np.cumsum([len(k) for k in wn["tag_keys"]])]).astype(np.int32)
    flat_keys = [k for ks in wn["tag_keys"] for k in ks]
    flat_vals = [v for vs in wn["tag_vals"] for v in vs]
    tags_map = pa.MapArray.from_arrays(pa.array(tag_offsets), pa.array(flat_keys), pa.array(flat_vals))
    _write(
        out_dir,
        "osm_ways",
        pa.table({"id": pa.array(way_ids), "nodes": nodes_list, "tags": tags_map}),
    )

    seq = np.concatenate([np.arange(n, dtype=np.int32) for n in L])
    _write(
        out_dir,
        "way_nodes",
        pa.table(
            {
                "way_id": pa.array(np.repeat(way_ids, L)),
                "seq": pa.array(seq),
                "node_id": pa.array(vn),
            }
        ),
    )
    tr = list(zip(*wn["tag_rows"]))
    _write(
        out_dir,
        "way_tags",
        pa.table(
            {
                "way_id": pa.array(np.array(tr[0], dtype=np.int64)),
                "key": pa.array(list(tr[1])),
                "value": pa.array(list(tr[2])),
            }
        ),
    )

    embeddings_nd = _gen_embeddings_nd(streams["embeddings_nd"], c["embeddings_nd"])
    _write(out_dir, "embeddings_nd", embeddings_nd)
    _write(out_dir, "ivf_codebook", _gen_ivf_codebook(sf, embeddings_nd))
    _write(out_dir, "benchmarks", _gen_benchmarks(streams["benchmarks"], sf))
    bpe_merges, bpe_tokens = _gen_bpe(sf)
    _write(out_dir, "bpe_merges", bpe_merges)
    _write(out_dir, "bpe_tokens", bpe_tokens)

    relations, rel_members, rel_tags = _gen_relations(streams["relations"], wn, c["relations"])
    _write(out_dir, "relations", relations)
    _write(out_dir, "relation_members", rel_members)
    _write(out_dir, "relation_tags", rel_tags)

    images, geo, image_truth = _gen_images(streams["images"], c["images"])
    _write(out_dir, "images", images)
    _write(out_dir, "image_geo", geo)
    _write(out_dir, "image_truth", image_truth)

    polygons, edges, pixel_edges, contour_truth = _gen_polygons(streams["polygons"], c["polygons"])
    _write(out_dir, "polygons", polygons)
    _write(out_dir, "polygon_edges", edges)
    _write(out_dir, "polygon_pixel_edges", pixel_edges)
    _write(out_dir, "contour_truth", contour_truth)

    qp = _gen_query_points(streams["queries"], c["queries"], wn["node_lon"], wn["node_lat"])
    _write(out_dir, "query_points", qp)
    _write(out_dir, "tsp_truth", _tsp_reference(qp))
    raster_tiles, raster_cells = _gen_raster_tiles(streams["raster"])
    _write(out_dir, "raster_tiles", raster_tiles)
    _write(out_dir, "raster_cells", raster_cells)
    _write(out_dir, "observations", _gen_observations(streams["observations"], wn))
    _write(out_dir, "audio", _gen_audio(streams["audio"], c["audio"]))
    videos, frame_truth = _gen_videos(streams["videos"], c["videos"])
    _write(out_dir, "videos", videos)
    _write(out_dir, "frame_truth", frame_truth)
    _write(out_dir, "pings", _gen_pings(streams["pings"], c["ping_users"]))
    n_traces = max(20, int(200 * float(sf) / 0.01))
    _write(out_dir, "traces", _gen_traces(streams["traces"], wn, n_traces))
    _write(out_dir, "simplify_truth", _simplify_reference(wn))

    # LSH hyperplanes materialized as a table so DuckDB can replicate the
    # ANN sketch pipeline relationally (differential oracle for
    # ann_cosine_lsh) — same Philox(42) matrix the Spark UDF uses.
    from ..operators.ann import lsh_planes

    planes = lsh_planes()
    _write(
        out_dir,
        "lsh_planes",
        pa.table(
            {
                "plane_id": pa.array(np.arange(planes.shape[0], dtype=np.int32)),
                "vec": pa.array([row for row in planes.astype(np.float64)]),
            }
        ),
    )


def ensure_fixtures(sf: str) -> str:
    """Generate (once) and return the fixture dir for scale factor ``sf``.
    A dir generated by an older FIXTURE_VERSION is regenerated."""
    d = fixture_dir(sf)
    marker = os.path.join(d, "_SUCCESS")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == FIXTURE_VERSION:
                return d
    tmp = f"{d}.tmp-{os.getpid()}"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    generate(sf, tmp)
    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        f.write(FIXTURE_VERSION)
    if os.path.exists(d):  # lost a race or stale partial dir
        shutil.rmtree(d)
    os.rename(tmp, d)
    return d
