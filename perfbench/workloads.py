"""The benchmark's workloads and the run harness around them.

Both workloads are a closed loop with one client: the engine is a library
whose caller waits for each reply, so the next request is issued only when
the previous one has been collected.  Spark runs as ``local[nproc]``.

* ``serve`` -- one merged ``VectorEngine.search`` (float tier) of a small
  pre-collected query batch.  Latency is driver work plus per-job Spark
  overhead with little executor compute.
* ``bulk`` -- one ``IVFIndex.search_distributed`` pass over a query table.
  The work is executor-bound: the shuffle join on ``centroid_id``, Arrow
  decode and the distance kernels.

Every output is checked against the NumPy reference in ``truth``: each
search must equal the exact top-k over the candidates it was allowed to
see (the probed cells minus tombstones, plus the live delta), and recall
is measured against the exact top-k over everything visible.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark
from pyspark import SparkContext

from vector_search_engine_spark.operators.ivf import IVFIndex
from vector_search_engine_spark.session import get_spark
from vector_search_engine_spark.sources.fvecs import scan_fvecs
from vector_search_engine_spark.streaming.engine import VectorEngine

from perfbench import inputs, trace, truth

# Set-up runs this many times per run (the first one cold); set-up time is
# reported as the median so that one slow build does not decide it.
SETUP_REPS = 2
# The delta-compaction policy ingest applies; the static serve delta must
# stay below it, so set-up checks that it folds nothing.
MAX_DELTA_FRACTION = 0.05


@dataclasses.dataclass(frozen=True)
class ServeSizes:
    n: int = 10_000          # indexed vectors
    cells: int = 64
    delta: int = 200         # unindexed delta rows (2%), inserted in two batches
    tombstones: int = 10     # deleted indexed ids
    batch: int = 16          # queries per request
    batches: int = 32        # distinct batches, cycled
    k: int = 10
    nprobe: int = 4


@dataclasses.dataclass(frozen=True)
class BulkSizes:
    n: int = 20_000          # indexed vectors
    cells: int = 256
    queries: int = 256       # rows of the query table, one pass per request
    k: int = 10
    nprobe: int = 8


SIZES = {"serve": ServeSizes(), "bulk": BulkSizes()}

END_TO_END = {
    "setup_s": "s",
    "search_p50_ms": "ms",
    "queries_per_s": "queries/s",
    "recall_at_10": "fraction",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_fvecs_s": "s",
    "ivf.build_s": "s",
    "setup.warmup_s": "s",
    "op.plan_ms": "ms",
    "op.collect_ms": "ms",
    "driver.uncovered_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.slot_busy_frac": "fraction",
    "spark.failed_tasks": "count",
    "mem.jvm_hwm_mb": "MB",
    "mem.py_hwm_mb": "MB",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """State of one benchmark run: the session, the tracer, per-layer call
    timings and the attempted/failed operation counts."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work_dir
        self.cores = cores()
        self.times: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.tracer = trace.Tracer(None, workload, traced)

    def start_spark(self) -> None:
        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        # the JVM and the Python workers inherit these: temporary files stay
        # inside the work dir (the JVM writes no perf-data file to /tmp),
        # and workers import the package from the checkout this benchmark
        # runs in
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.driver.memory": "3g",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.tracer.sc = self.spark.sparkContext

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers) to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.close()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its parent
            proc.wait(timeout=60)
        # a later session in this process must launch a new JVM
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    @contextlib.contextmanager
    def timed(self, name: str):
        """A span around one call into a layer; its wall time is kept for
        the per-layer metrics whether or not tracing is on."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                yield
        finally:
            self.times.setdefault(name, []).append(time.perf_counter() - t0)

    def median_s(self, name: str) -> float:
        return statistics.median(self.times[name])

    def attempt(self, kind: str, n: int, call, check) -> float | None:
        """Run one operation under its job group: ``call()`` returns the
        collected rows, ``check(rows)`` whether they are right.  A raise or
        a wrong answer counts as failed; the loop never aborts on one.
        Returns the operation's wall time, or None when it raised."""
        self.attempted += 1
        try:
            with self.tracer.op(kind, n):
                t0 = time.perf_counter()
                rows = call()
                wall = time.perf_counter() - t0
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        if not check(rows):
            print(f"{self.workload}.{kind}.{n}: wrong result", file=sys.stderr)
            self.failed += 1
        return wall

    def loop(self, request) -> list[float]:
        """The closed loop: issue requests back to back for ``seconds``
        (at least one); returns the latencies of those that completed."""
        lat: list[float] = []
        deadline = time.perf_counter() + self.seconds
        i = 0
        while i == 0 or time.perf_counter() < deadline:
            wall = request(i)
            if wall is not None:
                lat.append(wall)
            i += 1
        return lat


def _by_query(rows) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """Collected ``(qid, neighbor_id, rank, dist_sq)`` rows → per query,
    ids and returned distances in rank order."""
    per: dict[int, list] = {}
    for r in rows:
        per.setdefault(int(r["qid"]), []).append((int(r["rank"]), int(r["neighbor_id"]), float(r["dist_sq"])))
    out = {}
    for q, lst in per.items():
        lst.sort()
        out[q] = (np.array([x[1] for x in lst], dtype=np.int64), np.array([x[2] for x in lst]))
    return out


class Expected:
    """Per query: the exact top-k over its allowed candidates (for the
    exactness check) and over everything visible (for recall)."""

    def __init__(self, ref: truth.Reference, qids, Q, k: int, allowed_rows):
        self.ref = ref
        self.q = {int(q): Q[i] for i, q in enumerate(qids)}
        self.exact = {int(q): ref.topk(Q[i], k, allowed_rows(int(q))) for i, q in enumerate(qids)}
        self.best = {int(q): ref.topk(Q[i], k) for i, q in enumerate(qids)}

    def check(self, rows, qids, full: bool = False) -> tuple[bool, float]:
        """(every query in ``qids`` answered exactly, mean recall).  With
        ``full`` the exact answer is the top k over everything visible."""
        got = _by_query(rows)
        want = set(int(q) for q in qids)
        ok = set(got) == want
        recalls = []
        for q in want:
            if q not in got:
                recalls.append(0.0)
                continue
            ids, returned = got[q]
            try:
                d = self.ref.dists(self.q[q], self.ref.rows(ids))
            except KeyError:  # an id that is not visible (e.g. deleted)
                ok = False
                recalls.append(0.0)
                continue
            exact = self.best[q] if full else self.exact[q]
            ok = ok and truth.same_topk(ids, d, *exact) and truth.returned_dists_ok(returned, d)
            recalls.append(truth.recall(ids, d, *self.best[q]))
        return ok, float(np.mean(recalls))


def _cells_of(index: IVFIndex) -> tuple[np.ndarray, np.ndarray]:
    id_col = index.meta["id_col"]
    pdf = index.vectors().select(id_col, "centroid_id").toPandas()
    return pdf[id_col].to_numpy(np.int64), pdf["centroid_id"].to_numpy(np.int64)


def _allowed(index: IVFIndex, ref: truth.Reference, qids, Q, nprobe, always=None):
    """Row positions each query may draw from: indexed rows in its probed
    cells, plus ``always`` (the live delta)."""
    ids, cells = _cells_of(index)
    visible = np.isin(ids, ref.ids)
    ids, cells = ids[visible], cells[visible]
    rows_by_cell: dict[int, np.ndarray] = {}
    pos = ref.rows(ids)
    for c in np.unique(cells):
        rows_by_cell[int(c)] = pos[cells == c]
    probes: dict[int, list[int]] = {}
    for q, c in index.probe_pairs(qids, Q, nprobe):
        probes.setdefault(int(q), []).append(int(c))
    extra = [] if always is None else [always]

    def allowed_rows(q: int) -> np.ndarray:
        parts = [rows_by_cell.get(c, np.empty(0, np.int64)) for c in probes[q]] + extra
        return np.concatenate(parts)

    return allowed_rows


@dataclasses.dataclass
class Measured:
    """What a workload hands back: set-up parts, request latencies and
    recall, and which span names hold its build and plan layers."""
    gen_s: float
    rep_s: list[float]
    warm_s: float
    latencies_s: list[float]
    queries_per_request: int
    recall_at_10: float
    build_layer: str
    plan_layer: str


def _generate(run: Run, make):
    """Make the run's inputs; returns them and the time it took."""
    t0 = time.perf_counter()
    with run.tracer.op("setup", 0), run.timed("inputs.generate"):
        out = make()
    return out, time.perf_counter() - t0


def _repeat_setup(run: Run, build):
    """Set up ``SETUP_REPS`` times, each into its own directory; returns
    the first result and every repetition's wall time."""
    first, rep_s = None, []
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        with run.tracer.op("setup", r + 1):
            obj = build(os.path.join(run.work, f"setup{r}"))
        rep_s.append(time.perf_counter() - t0)
        if r == 0:
            first = obj
    return first, rep_s


def _collect(run: Run, plan_layer: str, plan):
    """One request: build the lazy plan, then collect it."""
    with run.timed(plan_layer):
        df = plan()
    with run.timed("spark.collect"):
        return df.collect()


def _warm_up(run: Run, plan_layer: str, steps) -> float:
    """Run the warm-up requests; their layer timings are not kept."""
    t0 = time.perf_counter()
    for n, (call, check) in enumerate(steps):
        run.attempt("warmup", n, call, check)
    run.times.pop(plan_layer, None)
    run.times.pop("spark.collect", None)
    return time.perf_counter() - t0


# -- serve -------------------------------------------------------------------

def serve(run: Run, s: ServeSizes) -> Measured:
    path = os.path.join(run.work, "corpus.fvecs")

    def make():
        X = inputs.corpus(run.seed, s.n)
        inputs.write_fvecs(path, X)
        return (X, inputs.delta_rows(run.seed, s.delta),
                inputs.tombstones(run.seed, s.n, s.tombstones),
                inputs.query_batches(run.seed, s.batches, s.batch))

    (X, D, tomb, batches), gen_s = _generate(run, make)
    delta_ids = np.arange(s.n, s.n + s.delta, dtype=np.int64)

    def build(root: str) -> VectorEngine:
        with run.timed("sources.scan_fvecs"):
            vecs = scan_fvecs(run.spark, path)
        with run.timed("engine.create"):
            eng = VectorEngine.create(vecs, root, n_centroids=s.cells)
        half = len(D) // 2
        for lo, hi in ((0, half), (half, len(D))):
            rows = run.spark.createDataFrame(
                pd.DataFrame({"vec_id": delta_ids[lo:hi], "embedding": list(D[lo:hi])}),
                "vec_id long, embedding array<float>",
            )
            with run.timed("engine.insert"):
                eng.insert(rows)
        with run.timed("engine.delete"):
            eng.delete(tomb.tolist())
        with run.timed("engine.maybe_compact"):
            folded = eng.maybe_compact(max_delta_fraction=MAX_DELTA_FRACTION)
        if folded:
            raise RuntimeError("the static serve delta crossed the compaction threshold")
        return eng

    eng, rep_s = _repeat_setup(run, build)

    # the reference: live indexed rows plus the delta
    live = np.setdiff1d(np.arange(s.n, dtype=np.int64), tomb)
    ref = truth.Reference(np.concatenate([live, delta_ids]), np.concatenate([X[live], D]))
    all_qids = np.concatenate([b[0] for b in batches])
    all_Q = np.concatenate([b[1] for b in batches])
    with run.tracer.op("check", 0):
        expected = Expected(
            ref, all_qids, all_Q, s.k,
            _allowed(eng.index, ref, all_qids, all_Q, s.nprobe, always=ref.rows(delta_ids)),
        )

    def search(queries, nprobe: int):
        return lambda: _collect(run, "engine.search", lambda: eng.search(queries, k=s.k, nprobe=nprobe))

    # warm-up: a full-probe search must equal the exact top-k over
    # everything visible; then one serving-shape search over every batch's
    # queries at once gives recall (a query's answer does not depend on
    # the batch it comes in)
    recall: list[float] = []

    def check_all(rows):
        ok, rec = expected.check(rows, all_qids)
        recall.append(rec)
        return ok

    warm_s = _warm_up(run, "engine.search", [
        (search(batches[0], s.cells), lambda rows: expected.check(rows, batches[0][0], full=True)[0]),
        (search((all_qids, all_Q), s.nprobe), check_all),
    ])

    def request(i: int):
        qids, Q = batches[i % s.batches]
        return run.attempt("search", i, search((qids, Q), s.nprobe), lambda rows: expected.check(rows, qids)[0])

    return Measured(gen_s, rep_s, warm_s, run.loop(request), s.batch,
                    recall[0] if recall else 0.0, "engine.create", "engine.search")


# -- bulk --------------------------------------------------------------------

def _write_query_table(path: str, qids: np.ndarray, Q: np.ndarray) -> None:
    dim = Q.shape[1]
    vec = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (len(Q) + 1) * dim, dim, dtype=np.int32)),
        pa.array(Q.reshape(-1).astype(np.float32)),
    )
    pq.write_table(pa.table({"qid": pa.array(qids, pa.int64()), "query": vec}), path)


def bulk(run: Run, s: BulkSizes) -> Measured:
    path = os.path.join(run.work, "corpus.fvecs")
    qpath = os.path.join(run.work, "queries.parquet")

    def make():
        X = inputs.corpus(run.seed, s.n)
        inputs.write_fvecs(path, X)
        qids, Q = inputs.query_batches(run.seed, 1, s.queries)[0]
        _write_query_table(qpath, qids, Q)
        return X, qids, Q

    (X, qids, Q), gen_s = _generate(run, make)

    def build(root: str) -> IVFIndex:
        with run.timed("sources.scan_fvecs"):
            vecs = scan_fvecs(run.spark, path)
        with run.timed("ivf.build"):
            return IVFIndex.build(vecs, root, n_centroids=s.cells)

    index, rep_s = _repeat_setup(run, build)
    qtable = run.spark.read.parquet(qpath)

    ref = truth.Reference(np.arange(s.n, dtype=np.int64), X)
    with run.tracer.op("check", 0):
        expected = Expected(ref, qids, Q, s.k, _allowed(index, ref, qids, Q, s.nprobe))
    recall: list[float] = []

    def call():
        return _collect(run, "ivf.search_distributed",
                        lambda: index.search_distributed(qtable, k=s.k, nprobe=s.nprobe))

    def check(rows):
        ok, rec = expected.check(rows, qids)
        recall.append(rec)
        return ok

    warm_s = _warm_up(run, "ivf.search_distributed", [(call, check)])
    lat = run.loop(lambda i: run.attempt("search", i, call, check))
    # every pass answers the same table: recall is that of the first
    return Measured(gen_s, rep_s, warm_s, lat, s.queries,
                    recall[0] if recall else 0.0, "ivf.build", "ivf.search_distributed")


WORKLOADS = {"serve": serve, "bulk": bulk}


# -- one run -----------------------------------------------------------------

def execute(workload: str, seed: int, seconds: float, traced: bool, work_dir: str, sizes=None) -> dict:
    """Run one workload end to end and return its report: end-to-end
    metrics, per-layer metrics (traced runs), spans and the environment."""
    sizes = sizes or SIZES[workload]
    run = Run(workload, seed, seconds, traced, work_dir)
    try:
        with run.timed("session.start"):
            run.start_spark()
        m = WORKLOADS[workload](run, sizes)
        lat = m.latencies_s
        if not lat:
            raise RuntimeError(f"{workload}: no request completed")
        report = {
            "env": environment(run, sizes),
            "attempted": run.attempted,
            "failed": run.failed,
            "end_to_end": {
                "setup_s": run.times["session.start"][0] + m.gen_s + statistics.median(m.rep_s) + m.warm_s,
                "search_p50_ms": statistics.median(lat) * 1000.0,
                "queries_per_s": m.queries_per_request * len(lat) / sum(lat),
                "recall_at_10": m.recall_at_10,
            },
            "search_ms": truth.summarize([x * 1000.0 for x in lat]),
            "latencies_ms": [x * 1000.0 for x in lat],
            "setup_reps_s": m.rep_s,
        }
        if traced:
            jobs, stages = trace.read_status_store(run.spark.sparkContext)
            report["per_layer"] = per_layer(run, m, jobs, stages)
            report["spans"] = run.tracer.spans
            report["layers"] = trace.layer_table(run.tracer.spans)
            report["jobs"] = [j for j in jobs if j["group"]]
        return report
    finally:
        run.stop_spark()


def per_layer(run: Run, m: Measured, jobs: list[dict], stages: dict[int, dict]) -> dict:
    ops = [
        trace.op_profile(sp, jobs, stages, run.cores)
        for sp in run.tracer.spans
        if sp["parent"] is None and sp["op"] and sp["op"].startswith(f"{run.workload}.search.")
    ]

    def med(key: str) -> float:
        return statistics.median(o[key] for o in ops) if ops else 0.0

    return {
        "session.start_s": run.times["session.start"][0],
        "sources.scan_fvecs_s": run.median_s("sources.scan_fvecs"),
        "ivf.build_s": run.median_s(m.build_layer),
        "setup.warmup_s": m.warm_s,
        "op.plan_ms": run.median_s(m.plan_layer) * 1000.0,
        "op.collect_ms": run.median_s("spark.collect") * 1000.0,
        "driver.uncovered_ms": med("uncovered_ms"),
        "spark.jobs": med("jobs"),
        "spark.stages": med("stages"),
        "spark.tasks": med("tasks"),
        "spark.executor_run_ms": med("run_ms"),
        "spark.executor_cpu_ms": med("cpu_ms"),
        "spark.input_bytes": med("input_bytes"),
        "spark.shuffle_read_bytes": med("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": med("shuffle_write_bytes"),
        "spark.spill_bytes": med("spill_bytes"),
        "spark.slot_busy_frac": med("slot_busy_frac"),
        "spark.failed_tasks": sum(st["failed_tasks"] for st in stages.values()),
        "mem.jvm_hwm_mb": trace.jvm_hwm_mb(run.spark.sparkContext),
        "mem.py_hwm_mb": trace.py_hwm_mb(),
    }


def environment(run: Run, sizes) -> dict:
    sc = run.spark.sparkContext
    return {
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": int(run.traced),
        "nproc": run.cores,
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "pyspark": pyspark.__version__,
        "numpy": np.__version__,
        "pyarrow": pa.__version__,
        "python": sys.version.split()[0],
        "sizes": dataclasses.asdict(sizes),
        "setup_reps": SETUP_REPS,
    }
