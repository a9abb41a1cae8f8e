#!/usr/bin/env python3
"""Benchmark of the spatial-join and tiling engine.

    python3 perfbench/run.py --workload snap_build --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One invocation is one fresh Spark driver
on ``local[<usable cores>]``, the way a ``spark-submit`` job runs: it sets
up (fixture check, seeded inputs, session, warm-up), runs passes of the
workload until ``--seconds`` is spent (at least one; the first is cold),
checks the outputs against the package's DuckDB oracles, and
prints one JSON object as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` its per-layer
metrics, from a run with the Spark event log on and layer spans recorded
(see layers.py). A readable report and the provenance go to stderr, and
the full result to ``.perfbench/results/``. See README.md.
"""

from __future__ import annotations

import time

T_START = time.time()  # setup_wall_s counts from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
# host the bounds in BENCHMARK.json were set on; results from another
# core count are not comparable with them
REFERENCE_NPROC = 4
CHECKPOINT_STAGES = [
    "nodes_sorted", "way_nodes_sorted", "way_attrs", "edges", "image_cells", "pip_pairs", "restriction_arcs",
]


def parse_args(argv):
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(cpus: int) -> None:
    """Process-wide settings, before pyspark or numpy load: pinned BLAS/OMP
    threads, scratch dirs inside the checkout, the package importable by
    the Python workers, and no reads of testdata outside the checkout."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(SCRATCH, "spark-local")
    os.environ["SPARK_GRAFT_TESTDATA_ROOT"] = os.path.join(SCRATCH, "no-testdata")
    os.environ["BUTTERFLY_FIXTURE_DIR"] = os.path.join(SCRATCH, "fixtures")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(SCRATCH, "tmp")  # pyspark's gateway files, DuckDB spills
    # the JVM that spark-submit starts to build the driver command: no
    # hsperfdata file in /tmp (the driver JVM gets the same options below)
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    for var in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(os.environ[var], exist_ok=True)
    sys.path.insert(0, ROOT)


def ensure_fixtures() -> tuple[str, float, float, tuple[float, float]]:
    """(fixture dir, check seconds, one-time generation seconds, (wall, CPU)
    seconds of a generation done in this run)."""
    from butterfly_osm_spark.fixtures.generate import FIXTURE_VERSION, ensure_fixtures as ensure, fixture_dir
    from inputs import SF

    marker = os.path.join(fixture_dir(SF), "_SUCCESS")
    cached = False
    if os.path.exists(marker):
        with open(marker) as f:
            cached = f.read() == FIXTURE_VERSION
    record = os.path.join(SCRATCH, "fixtures", f"sf{SF}.generate_s")
    t, cpu = time.perf_counter(), cpu_seconds(process_tree(os.getpid()))
    d = ensure(SF)
    elapsed = time.perf_counter() - t
    if cached:
        gen = 0.0
        if os.path.exists(record):
            with open(record) as f:
                gen = float(f.read())
        return d, elapsed, gen, (0.0, 0.0)
    with open(record, "w") as f:
        f.write(repr(elapsed))
    return d, 0.0, elapsed, (elapsed, cpu_seconds(process_tree(os.getpid())) - cpu)


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including the children they reaped
    (the Python daemon reaps the workers it forks). Time the hypervisor
    steals from the guest is not charged to any process."""
    return sum(_stat_ticks(f"/proc/{p}/stat", 4) for p in pids) / os.sysconf("SC_CLK_TCK")


def _stat_ticks(path: str, n: int) -> int:
    """Sum of the first ``n`` of utime, stime, cutime, cstime in a stat file."""
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11 : 11 + n])


def host_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident set of a process tree (the driver JVM and the Python
    workers it forks): the highest total of the tree's VmRSS, sampled every
    ``interval`` seconds in a background thread while the block runs.
    ``cpu_s`` is the sampler thread's own CPU, which callers take out of
    the client process's CPU."""

    def __init__(self, root_pid: int, interval: float = 0.5):
        self._root, self._interval = root_pid, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._started = threading.Event()
        self._tid = 0
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(rss_kb(p) for p in process_tree(self._root)))

    def _loop(self) -> None:
        self._tid = threading.get_native_id()
        self._started.set()
        while not self._stop.wait(self._interval):
            self._sample()

    def cpu_s(self) -> float:
        return _stat_ticks(f"/proc/self/task/{self._tid}/stat", 2) / os.sysconf("SC_CLK_TCK")

    def __enter__(self):
        self._sample()
        self._thread.start()
        self._started.wait()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def stop_spark(spark) -> None:
    """Stop the session, then shut down the JVM and wait for it and the
    Python workers it forked to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc if gateway is not None else None
    tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=120)
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") and _alive(p) for p in tree):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def source_digest() -> str:
    """SHA-256 of the package's and the benchmark's Python sources: names
    the code a result was measured on, also in a checkout without git."""
    h = hashlib.sha256()
    for top in ("butterfly_osm_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    with open(path, "rb") as fh:
                        h.update(os.path.relpath(path, ROOT).encode() + b"\0" + fh.read())
    return h.hexdigest()


def provenance(args, cpus: int, spark) -> dict:
    from inputs import SF

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    commit = "unknown"  # a checkout that is not a git repository
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": cpus,
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": commit,
        "source": source_digest(),
        "sf": SF,
        "seed": args.seed,
        "master": spark.sparkContext.master,
        "comparable": cpus == REFERENCE_NPROC,
    }


def run(args, cpus: int) -> dict:
    """One measured run, with the host-speed sampler beside it."""
    from hostspeed import HostSpeed

    run_dir = os.path.join(SCRATCH, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    with HostSpeed(os.path.join(run_dir, "hostspeed.txt")) as speed:
        result = measure(args, cpus, run_dir, speed)
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def measure(args, cpus: int, run_dir: str, speed) -> dict:
    import inputs
    import layers
    import workloads as wl
    from hostspeed import REF_S

    # -- setup ------------------------------------------------------------------
    setup: dict[str, float] = {}
    base, setup["fixtures.ensure_s"], setup["fixtures.generate_s"], gen_now = ensure_fixtures()
    t = time.perf_counter()
    seed_root = os.path.join(SCRATCH, "inputs", f"seed-{args.seed}")
    sf_dir = os.path.join(seed_root, f"sf{inputs.SF}")
    inputs.build_inputs(base, sf_dir, args.seed)
    os.environ["BUTTERFLY_FIXTURE_DIR"] = seed_root  # the package now reads the seeded inputs
    setup["inputs_s"] = time.perf_counter() - t

    event_dir = os.path.join(run_dir, "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # JVM temp files inside the checkout too; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": os.environ["SPARK_LAUNCHER_OPTS"],
    }
    if args.trace:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    from butterfly_osm_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cpus}]",
        shuffle_partitions=str(max(32, 2 * cpus)),  # bench.py's headline setting
        extra_conf=conf,
    )
    setup["session.start_s"] = time.perf_counter() - t
    t = time.perf_counter()
    warm_up(spark)
    setup["session.warmup_s"] = time.perf_counter() - t
    tracer = layers.Tracer(spark)
    if args.trace:
        tracer.install()
        tracer.enabled = True
    # set-up in core-seconds (client, driver JVM, Python workers; not the
    # host-speed sampler), as cpu_s; its wall time is setup_wall_s
    setup_raw_s = cpu_seconds([p for p in process_tree(os.getpid()) if p != speed.proc.pid]) - gen_now[1]
    setup_wall_s = time.time() - T_START - gen_now[0]

    # -- measured passes: at least one, until --seconds is spent --------------
    build_dir = os.path.join(run_dir, "build")
    passes: list = []
    t_measure = time.time()
    jvm = spark.sparkContext._gateway.proc.pid
    host0 = host_ticks()
    with RssSampler(jvm) as rss:
        while not passes or time.time() - t_measure < args.seconds:
            cpu0 = cpu_seconds([os.getpid(), *process_tree(jvm)]) - rss.cpu_s()
            passes.append(wl.run_pass(spark, args.workload, sf_dir, build_dir, tracer, len(passes)))
            passes[-1].cpu_s = cpu_seconds([os.getpid(), *process_tree(jvm)]) - rss.cpu_s() - cpu0
    host = [b - a for a, b in zip(host0, host_ticks())]
    # host speed over the run so far (hostspeed.py); the set-up alone is too
    # short, and too busy with the JVM start, to be sampled well
    unit_s = speed.unit_s(T_START, time.time())
    tracer.enabled = False
    first = passes[0]
    persisted_left = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    written = (wl.published_bytes(build_dir), wl.build_input_bytes(sf_dir)) if passes[-1].stats else (0, 0)

    # -- output check (untimed): the last pass's build dir is still in place --
    got = wl.output_rows(spark, passes[-1], build_dir)
    want = wl.expected(sorted(got), sf_dir, os.path.join(SCRATCH, "expected"))
    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes) + len(wl.mismatches(got, want))
    prov = provenance(args, cpus, spark)
    stop_spark(spark)

    # wall_s: the warm passes when there are any, else the one cold pass
    timed = passes[1:] or passes
    wall_s = statistics.median(p.wall_s for p in timed)
    cpu_raw_s = statistics.median(p.cpu_s for p in timed)
    rows = sum(len(pdf) for pdf in first.outputs.values()) + sum(m["row_count"] for m in first.stats)
    result = {
        "workload": args.workload,
        "provenance": prov,
        "attempted": attempted,
        "failed": failed,
        "passes_s": [p.wall_s for p in passes],
        "end_to_end": {
            "wall_s": wall_s,
            "cpu_s": cpu_raw_s * REF_S / unit_s,
            "cpu_raw_s": cpu_raw_s,
            "cold_wall_s": first.wall_s,
            "rows_per_s": rows / wall_s,
            "setup_s": setup_raw_s * REF_S / unit_s,
            "setup_raw_s": setup_raw_s,
            "setup_wall_s": setup_wall_s,
            "build_s": statistics.median(p.build_s for p in timed),
            "resume_s": statistics.median(p.resume_s for p in timed),
            "peak_rss_mb": rss.peak_kb / 1024,
            "failed_frac": failed / attempted,
        },
        "setup": setup,
        # share of the host's CPU time during the passes that the hypervisor
        # gave to other guests (/proc/stat steal)
        "host_steal_share": host[7] / sum(host),
        "host_unit_s": unit_s,
        "per_layer": {"session.persisted_left": float(persisted_left)},
    }
    if args.trace:
        events = layers.read_event_log(event_dir)
        result["per_layer"] = per_layer(layers, tracer, events, passes, result, setup, written)
        # tracing cost: traced wall_s - untraced wall_s of the same seed and
        # sources; not measured (None) until such an untraced run is recorded
        base = untraced_wall_s(args.workload, prov)
        result["trace_overhead_s"] = wall_s - base if base is not None else None
    return result


def warm_up(spark) -> None:
    """Generic engine warm-up outside the timed passes: JIT and codegen on
    one shuffle job, and one Python worker per core. No workload plan or
    data is touched."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    spark.range(100_000).select(F.sum(F.hash("id"))).collect()
    spark.range(n, numPartitions=n).groupBy("id").applyInPandas(lambda pdf: pdf, "id long").count()


def untraced_wall_s(workload: str, prov: dict) -> float | None:
    """Median wall_s of the untraced runs recorded in this checkout of the
    same workload, seed and core count on the same sources."""
    d = os.path.join(SCRATCH, "results")
    walls = []
    for f in os.listdir(d) if os.path.isdir(d) else []:
        if f.startswith(f"{workload}-seed{prov['seed']}-trace0-"):
            with open(os.path.join(d, f)) as fh:
                r = json.load(fh)
            p = r["provenance"]
            if p.get("source") == prov["source"] and p["nproc"] == prov["nproc"]:
                walls.append(r["end_to_end"]["wall_s"])
    return statistics.median(walls) if walls else None


def per_layer(layers, tracer, events, passes, result, setup, written) -> dict:
    idx = list(range(len(passes)))
    m = {
        f"{L}.{k}": 0.0
        for L in layers.LAYER_NAMES
        for k in ("s", "jobs", "tasks", "cpu_s", "sched_wait_s", "fetch_wait_s", "shuffle_mb", "python_mb", "failed_tasks")
    }
    m.update(dict.fromkeys(
        ["knn.adaptive_res_s", "pip.cover_s", "raster.stamp_s", "raster.trace_s", "raster.trace_tasks", "dedup.stages"],
        0.0,
    ))
    m.update(layers.fold(events, tracer.spans, idx))
    first = passes[0]
    shuffled = m.pop("_knn.shuffle_records", 0.0)
    knn_rows = len(first.outputs["knn_nodes"]) if "knn_nodes" in first.outputs else 0
    m["knn.candidate_yield"] = knn_rows / shuffled if shuffled else 0.0
    sent, returned = tracer.python_row_counts("pip")  # pip's only mapInPandas is the refine
    m["pip.refine_yield"] = returned / sent if sent else 0.0
    m["partitioning.gather_width"] = float(max(tracer.gather_widths, default=0))
    m["session.persisted_left"] = result["per_layer"]["session.persisted_left"]
    for k in ("session.start_s", "session.warmup_s", "fixtures.ensure_s", "fixtures.generate_s"):
        m[k] = setup[k]

    # checkpoint stages, timed from outside: on resume a stage's metadata
    # repeats the original build's wall_s
    spans = {s.id: s for s in tracer.spans}

    def root(s):
        while s.parent in spans:
            s = spans[s.parent]
        return s

    stage_s = dict.fromkeys(CHECKPOINT_STAGES, 0.0)
    verify_s = 0.0
    for s in tracer.spans:
        if s.name.startswith("run_stage:") and s.end is not None:
            if root(s).name == "build":
                stage_s[s.name.split(":", 1)[1]] += s.end - s.start
            else:
                verify_s += s.end - s.start
    n = len(passes)
    for st, v in stage_s.items():
        m[f"checkpoint.{st}_s"] = v / n
    m["checkpoint.verify_s"] = verify_s / n
    m["checkpoint.written_mb"] = written[0] / 1e6
    m["checkpoint.write_amp"] = written[0] / written[1] if written[1] else 0.0
    e2e = result["end_to_end"]
    m["build_s"], m["resume_s"] = e2e["build_s"], e2e["resume_s"]

    # share of the pass wall time that no layer span covers
    covered = sum(m[f"{L}.s"] for L in layers.LAYER_NAMES)
    m["trace.uncovered_share"] = max(0.0, 1.0 - covered / statistics.mean(p.wall_s for p in passes))
    return m


def emit(result: dict, trace: int) -> dict:
    """The contract line: the metrics BENCHMARK.json names for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = spec["per_layer"] if trace else spec["end_to_end"]
    values = result["per_layer"] if trace else result["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names},
    }


def report(result: dict) -> None:
    p = result["provenance"]
    print(f"perfbench {result['workload']}: {json.dumps(p)}", file=sys.stderr)
    if not p["comparable"]:
        print(
            f"perfbench: measured on {p['nproc']} cores; not comparable with the "
            f"{REFERENCE_NPROC}-core reference the bounds were set on",
            file=sys.stderr,
        )
    units = {"rows_per_s": "rows/s", "peak_rss_mb": "MB", "failed_frac": "ratio"}  # else s
    print(f"  passes_s       {result['passes_s']}", file=sys.stderr)
    for k, v in result["end_to_end"].items():
        print(f"  {k:<14} {v:12.4f} {units.get(k, 's')}", file=sys.stderr)
    if "trace_overhead_s" in result:
        v = result["trace_overhead_s"]
        over = "not measured: no untraced run of this seed on these sources" if v is None else f"{v:.4f} s"
        print(f"  trace overhead {over}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "butterfly_osm_spark")):
        print(f"perfbench: no butterfly_osm_spark package under {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    configure_env(cpus)
    result = run(args, cpus)
    report(result)
    os.makedirs(os.path.join(SCRATCH, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(SCRATCH, "results", name), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(emit(result, args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
