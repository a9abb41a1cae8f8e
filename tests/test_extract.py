"""Edge extraction (``operators/extract.build_edges``): decision-node
semantics against the DuckDB oracle on a hand-built network, and the
shape of the plan the checkpointed build and the ``extract_edges`` query
run."""

import os
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from butterfly_osm_spark.checkpoint import Build, reference_pipeline
from butterfly_osm_spark.operators.extract import build_edges, edges_oracle_sql
from butterfly_osm_spark.session import read_parquet

# way id -> (highway class or None, node refs). Node 99 and node 98 are
# not in osm_nodes; "service" is in no mode's class list.
WAYS = {
    1: ("residential", [1, 2, 3, 4, 1]),  # closed: first node = last node
    2: ("residential", [5, 6, 7, 6, 8]),  # node 6 twice inside one way
    3: ("tertiary", [9, 10, 11]),  # endpoint 11 is a middle vertex of way 4
    4: ("footway", [12, 11, 13]),
    5: ("residential", [14, 15, 16]),  # 15 is shared only with excluded way 6
    6: ("service", [17, 15, 18]),
    7: ("track", [19, 20]),  # 2-vertex way
    8: ("residential", [21, 99, 22, 23]),  # middle ref to a missing node
    9: ("secondary", [98, 24, 25, 26]),  # first ref to a missing node
    10: (None, [3, 24]),  # no highway tag: excluded
}
NODE_IDS = sorted({n for _, refs in WAYS.values() for n in refs} - {98, 99})


def _write_network(d: str) -> str:
    ways, tags, refs = [], [], []
    for wid, (hw, nodes) in WAYS.items():
        t = {"name": f"w{wid}"} | ({"highway": hw} if hw else {})
        ways.append({"id": wid, "nodes": nodes, "tags": list(t.items())})
        tags += [{"way_id": wid, "key": k, "value": v} for k, v in t.items()]
        refs += [{"way_id": wid, "seq": i, "node_id": n} for i, n in enumerate(nodes)]
    tables = {
        "osm_ways": pa.Table.from_pylist(
            ways,
            pa.schema(
                [("id", pa.int64()), ("nodes", pa.list_(pa.int64())),
                 ("tags", pa.map_(pa.string(), pa.string()))]
            ),
        ),
        "way_tags": pa.Table.from_pylist(
            tags, pa.schema([("way_id", pa.int64()), ("key", pa.string()), ("value", pa.string())])
        ),
        "way_nodes": pa.Table.from_pylist(
            refs, pa.schema([("way_id", pa.int64()), ("seq", pa.int32()), ("node_id", pa.int64())])
        ),
        "osm_nodes": pa.Table.from_pylist(
            [{"id": n, "lat_e7": 480_000_000 + 9_000 * n, "lon_e7": 110_000_000 + 13_000 * (n % 7)}
             for n in NODE_IDS],
            pa.schema([("id", pa.int64()), ("lat_e7", pa.int32()), ("lon_e7", pa.int32())]),
        ),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))
    return d


def test_build_edges_decision_nodes_match_oracle(spark, tmp_path):
    fix = _write_network(str(tmp_path))
    edges = build_edges(
        *(spark.read.parquet(f"{fix}/{t}.parquet") for t in ("osm_ways", "way_nodes", "osm_nodes"))
    )
    got = sorted(map(tuple, edges.collect()))
    want = sorted(duckdb.sql(edges_oracle_sql(fix)).fetchall())
    assert got == want

    cuts = {}
    for way_id, _, u, v, n_pts, _ in got:
        cuts.setdefault(way_id, []).append((u, v, n_pts))
    assert cuts[1] == [(1, 1, 5)]  # a closed way is one loop edge
    assert sorted(cuts[2]) == [(5, 6, 2), (6, 6, 3), (6, 8, 2)]
    assert cuts[3] == [(9, 11, 3)]
    assert sorted(cuts[4]) == [(11, 13, 2), (12, 11, 2)]  # cut at way 3's endpoint
    assert cuts[5] == [(14, 16, 3)]  # an excluded way does not cut
    assert cuts[7] == [(19, 20, 2)]
    assert cuts[8] == [(21, 23, 3)]  # the missing node is skipped
    assert cuts[9] == [(24, 26, 3)]
    assert 6 not in cuts and 10 not in cuts


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scans(plan: str, table: str) -> int:
    return sum(1 for line in plan.splitlines() if "FileScan" in line and table in line)


def test_edges_plan_has_one_way_keyed_exchange(spark, fix001, tmp_path):
    """The checkpointed ``edges`` stage over the node-bucketed
    ``way_nodes_sorted``/``nodes_sorted`` plans one hash exchange, on
    way_id, and reads each input once; over raw parquet (the
    ``extract_edges`` query) at most one more exchange, for the
    coordinate join."""
    stages = {s.name: s for s in reference_pipeline(fix001)}
    b = Build(spark, str(tmp_path / "build"))
    b.run([stages["nodes_sorted"], stages["way_nodes_sorted"]])
    ins = {
        "osm_ways": read_parquet(spark, f"{fix001}/osm_ways.parquet"),
        "way_nodes_sorted": b.output("way_nodes_sorted"),
        "nodes_sorted": b.output("nodes_sorted"),
    }
    plan = _plan(stages["edges"].fn(spark, ins))
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert exchanges == ["way_id"], plan
    assert _scans(plan, "osm_ways") == 1, plan
    assert _scans(plan, "way_nodes_sorted") == 1, plan

    raw = build_edges(
        *(read_parquet(spark, f"{fix001}/{t}.parquet") for t in ("osm_ways", "way_nodes", "osm_nodes"))
    )
    assert _plan(raw).count("Exchange hashpartitioning") <= 2
