"""vecgo_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve_warm --seed 1 --seconds 10 --trace 0

Run from the repository root. The harness starts a Spark session on
local[<cores>] through the engine's own session factory, generates its
inputs from the seed (perfbench/gen.py), and drives the engine only through
its public API from one closed-loop client: the next call is issued when
the previous one has returned and been collected.

Every run goes through the same phases; the workloads differ in what the
timed window does and in their inputs (see perfbench/README.md):

1. set-up (``setup_s``): session start, input generation, table load,
   IVF layout by compaction (serve_warm adds SQ8 codes, then builds and
   refreshes the lexical index and vacuums), one untimed warm-up call of
   every read kind;
2. timed window of at least ``--seconds``: serve_warm issues cycles of
   reads, at least MIN_CYCLES; ingest_churn runs write rounds (insert +
   upsert + delete + commit), each followed by reads including a
   time-travel read, at least MIN_ROUNDS;
3. tail: on ingest_churn, maintenance (maybe_compact, vacuum) and its
   checking reads; on both, BATCH_REPEATS batch_search calls.

Each output is checked; a wrong answer counts as a failed call. With
``--trace 0`` the last stdout line carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics, and the spans are written to
``.perfbench_out/``. Each run uses a fresh table directory under
``.perfbench_tmp/`` and removes it afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

import gen
import numpy as np
from spans import Tracer, python_nodes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("serve_warm", "ingest_churn")
E2E_UNITS = {
    "setup_s": "s",
    "search_p50_ms": "ms",
    "search_p90_ms": "ms",
    "knn_p50_ms": "ms",
    "ann_p50_ms": "ms",
    "text_p50_ms": "ms",
    "commit_p50_ms": "ms",
    "ingest_rows_per_s": "rows/s",
    "compact_s": "s",
    "index_build_s": "s",
    "batch_qps": "queries/s",
    "recall_at_10": "fraction",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}
CACHES = ("pk_index", "ivf_model", "sq_params", "pq_codebooks",
          "lexical_candidates")
LAYER_UNITS = {
    "session.start_s": "s",
    "plans.table.build_ms.knn": "ms",
    "plans.table.build_ms.ann": "ms",
    "plans.table.build_ms.text": "ms",
    "plans.table.build_ms.get": "ms",
    "plans.table.insert_ms": "ms",
    "plans.table.delete_ms": "ms",
    "plans.table.commit_ms": "ms",
    "plans.table.maybe_compact_ms": "ms",
    "plans.table.refresh_lexical_index_ms": "ms",
    "plans.table.vacuum_ms": "ms",
    "plans.table.compact_ms": "ms",
    "plans.table.build_lexical_index_ms": "ms",
    "plans.manifest.open_ms": "ms",
    "plans.manifest.versions": "count",
    "plans.pruning.segments_scanned_ratio": "ratio",
    "plans.pruning.et_skipped_segments": "count",
    "operators.knn.rows_scored_per_result": "rows",
    "operators.ivf.batch_search_ms": "ms",
    "operators.hybrid.vector_leg_ms": "ms",
    "operators.hybrid.lexical_leg_ms": "ms",
    "catalyst.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.python_nodes": "count",
    **{f"cache.{c}.hit_rate": "fraction" for c in CACHES},
    "cache.persisted_rdds_growth": "count",
    "storage.bytes_written": "bytes",
    "storage.write_amp": "ratio",
    "storage.segments": "count",
    "storage.files": "count",
    "trace.overhead_pct": "%",
}

# serve_warm's timed window repeats this cycle of reads, one call of each
# kind, until the window has passed and at least MIN_CYCLES are done;
# ingest_churn's window runs write rounds, each followed by ROUND_READS,
# and makes at least MIN_ROUNDS. The minimums exceed a short window, so
# every run takes the same number of samples whatever the host's speed
READ_MIX = {
    "serve_warm": ("knn", "ivf", "bm25", "knn_f1", "et", "get", "sq8",
                   "knn_f25", "hybrid", "knn_f50"),
    "ingest_churn": (),
}
ROUND_READS = ("knn", "ivf", "tt", "bm25", "ivf")
CLASS = {"knn": "knn", "knn_f1": "knn", "knn_f25": "knn", "knn_f50": "knn",
         "get": "knn", "ivf": "ann", "et": "ann", "sq8": "ann",
         "bm25": "text", "hybrid": "text", "tt": "tt"}
FILTER_OF = {"knn": "none", "knn_f1": "price_lt_1", "knn_f25": "cat_a",
             "knn_f50": "price_gt_50"}
MIN_CYCLES = 3
MIN_ROUNDS = 1
NPROBE = 3
REFINE = 40
BATCH_REPEATS = 3  # batch_qps takes the fastest; the first repeat is cold
SQ8_FLOOR = 0.90


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_stat() -> tuple[float, float] | None:
    """(total, steal) jiffies from /proc/stat, None where absent."""
    try:
        with open("/proc/stat") as fh:
            vals = [float(v) for v in fh.readline().split()[1:]]
        return sum(vals), (vals[7] if len(vals) > 7 else 0.0)
    except (OSError, ValueError):
        return None


def gemm_gflops() -> float:
    """Best of three 512^3 float64 matmuls: a host-speed probe."""
    n = 512
    a = np.ones((n, n))
    a @ a
    best = min(_elapsed(lambda: a @ a) for _ in range(3))
    return 2.0 * n ** 3 / best / 1e9


def _elapsed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_bytes(path: str) -> tuple[int, int, dict[str, int]]:
    """(bytes, files, {relative path: size}) under `path`."""
    total, files, sizes = 0, 0, {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            s = os.path.getsize(p)
            total += s
            files += 1
            sizes[os.path.relpath(p, path)] = s
    return total, files, sizes


def pctl(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Model:
    """The live rows as the benchmark expects the table to hold them."""

    def __init__(self):
        self.rows: dict[int, dict] = {}

    @staticmethod
    def rows_of(table) -> dict[int, dict]:
        cols = table.to_pydict()
        return {rid: {c: cols[c][i] for c in
                      ("vector", "category", "price", "text", "missing_field",
                       "tags", "payload")}
                for i, rid in enumerate(cols["id"])}

    def put(self, table) -> None:
        self.rows.update(self.rows_of(table))

    def drop(self, ids) -> None:
        for i in ids:
            self.rows.pop(i, None)

    def topk(self, q, flt: str = "none"):
        pred = gen.FILTERS[flt][1]
        ids = [i for i, r in self.rows.items() if pred(r["category"], r["price"])]
        vecs = np.array([self.rows[i]["vector"] for i in ids], dtype=np.float32)
        return gen.exact_topk(vecs.reshape(len(ids), -1), np.array(ids, np.int64),
                              np.asarray(q, np.float32))

    def sqdist(self, rid: int, q) -> float:
        v = np.asarray(self.rows[rid]["vector"], np.float64)
        return float(((v - np.asarray(q, np.float64)) ** 2).sum())

    def user_bytes(self) -> int:
        return user_bytes(self.rows.values())


def user_bytes(rows) -> int:
    """Bytes of the rows' user columns as raw values: id, price, score_i
    and ts at 8 bytes, flag at 1, float32 vectors, strings and binaries by
    length; NULLs cost nothing."""
    n = 0
    for r in rows:
        n += 4 * 8 + 1 + 4 * len(r["vector"])
        n += 8 if r["missing_field"] is not None else 0
        n += len(r["category"] or "") + len(r["text"].encode()) + len(r["payload"])
        n += sum(len(t) for t in r["tags"] or ())
    return n


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 tmp: str, smoke: bool = False):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.smoke = smoke
        self.spec = gen.spec_for(workload, smoke)
        self.data = os.path.join(tmp, "inputs")
        self.path = os.path.join(tmp, "table")
        self.trace_on = trace
        self.lat: dict[str, list[float]] = {}     # read kind -> seconds
        self.commit_s: list[float] = []
        self.write_s = 0.0
        self.rows_committed = 0
        self.recall: list[float] = []
        self.sq8_recall: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, list[float]] = {}   # traced sub-timings (s)
        self.version_counts: dict[int, int] = {}
        self.written: dict[str, int] = {}         # every file ever seen
        self.user_bytes_in = 0
        self.tracer_s = 0.0
        self.et_skipped = 0
        self.m: dict[str, float] = {}
        self.pooling = False  # latency and recall pools fill in the window only
        self.qpos = -1
        self.tracer = None
        self.spark = None

    # ----------------------------------------------------------- plumbing

    def note(self, name: str, seconds: float) -> None:
        self.layer.setdefault(name, []).append(seconds)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def timed(self, name: str, fn):
        """Run one engine call, noting its duration under `name`."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn()
        self.note(name, time.perf_counter() - t0)
        return out

    def read(self, kind: str, build, check) -> None:
        """One timed read: build the frame, execute it, check the rows.
        Traced runs split the call into driver build, Catalyst planning and
        Spark execution, under the call's own job group."""
        try:
            if not self.trace_on:
                t0 = time.perf_counter()
                rows = build().collect()
                dt = time.perf_counter() - t0
            else:
                rows, dt = self._traced_read(kind, build)
            ok = check(rows)
        except Exception as e:  # a failed call is counted, the run goes on
            self.check(False, f"{kind}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return
        if self.pooling:
            self.lat.setdefault(kind, []).append(dt)
        self.check(bool(ok), f"{kind}: wrong result")

    def _traced_read(self, kind, build):
        tr = self.tracer
        layer = "get" if kind == "get" else CLASS[kind]
        with tr.job_group(kind) as g:
            t0 = time.perf_counter()
            with tr.span(f"call.{kind}"):
                with tr.span(f"plans.table.build.{layer}"):
                    tb = time.perf_counter()
                    df = build()
                    self.note(f"read.build.{layer}", time.perf_counter() - tb)
                with tr.span("catalyst.plan"):
                    tp = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    self.note("read.plan", time.perf_counter() - tp)
                with tr.span("spark.exec"):
                    te = time.perf_counter()
                    rows = df.collect()
                    self.note("read.exec", time.perf_counter() - te)
            dt = time.perf_counter() - t0
            tc = time.perf_counter()
            g["python_nodes"] = python_nodes(df)
            g["read"] = True
        self.tracer_s += time.perf_counter() - tc
        return rows, dt

    # -------------------------------------------------------------- phases

    def start_session(self) -> None:
        from vecgo_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.m["session.start_s"] = time.perf_counter() - t0
        self.tracer = Tracer(self.trace_on, self.spark)
        self.rdds0 = self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def load_inputs(self) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        gen.generate(self.workload, self.seed, self.data, self.smoke)
        with open(os.path.join(self.data, "plan.json")) as fh:
            self.plan = json.load(fh)
        self.truth = dict(np.load(os.path.join(self.data, "truth.npz")))
        t2 = pq.read_table(os.path.join(self.data, "t2.parquet")).to_pydict()
        self.queries = [(list(map(float, v)), t) for v, t in
                        zip(t2["qvector"], t2["qtext"])]
        self.model = Model()
        self.model.put(pq.read_table(os.path.join(self.data, "t1.parquet")))

    def load_table(self) -> None:
        """Create the table and load the base rows with one insert, the T3
        tombstones and one commit. On a workload without write rounds this
        load is its only write round: one sample, and the first insert in
        a fresh JVM, so mostly JVM warm-up."""
        from vecgo_spark.plans.table import VectorTable

        sp, spec = self.spark, self.spec
        self.table = t = VectorTable.create(sp, self.path, dim=spec.dim)
        t1 = sp.read.parquet(os.path.join(self.data, "t1.parquet"))
        as_round = spec.rounds == 0
        call = self.timed if as_round else (lambda name, fn: fn())
        t0 = time.perf_counter()
        call("plans.table.insert_ms", lambda: t.insert(t1))
        if self.plan["base_deletes"]:
            call("plans.table.delete_ms", lambda: t.delete(self.plan["base_deletes"]))
        v = call("plans.table.commit_ms", t.commit)
        self.m["load_s"] = time.perf_counter() - t0
        if as_round:
            self.commit_s.append(self.m["load_s"])
            self.write_s += self.m["load_s"]
            self.rows_committed += spec.rows
        self.user_bytes_in += self.model.user_bytes()
        self.model.drop(self.plan["base_deletes"])
        self.version_counts[v] = len(self.model.rows)
        self.snap_files()

    def build_index(self) -> None:
        """The IVF layout by compaction (index_build_s). A read-only
        workload also stores SQ8 codes, then builds and refreshes the
        lexical index and cleans up: its maintenance (compact_s). A churned
        table serves BM25 from text."""
        t = self.table
        serving = self.spec.rounds == 0
        t0 = time.perf_counter()
        self.timed("plans.table.compact_ms", lambda: t.compact(
            cluster_by=self.spec.clusters, quantize="sq8" if serving else None))
        self.m["index_build_s"] = time.perf_counter() - t0
        self.version_counts[t.manifest.version] = len(self.model.rows)
        if serving:
            self.maintain("plans.table.build_lexical_index_ms", t.build_lexical_index)
            self.maintain("plans.table.refresh_lexical_index_ms", t.refresh_lexical_index)
            self.maintain("plans.table.vacuum_ms", lambda: t.vacuum(keep_versions=2))
            self.after_vacuum()
        self.base_version = t.manifest.version
        self.snap_files()

    def maintain(self, name: str, fn) -> None:
        """A maintenance call; their total is compact_s."""
        t0 = time.perf_counter()
        self.timed(name, fn)
        self.m["compact_s"] = self.m.get("compact_s", 0.0) + time.perf_counter() - t0
        self.version_counts[self.table.manifest.version] = len(self.model.rows)

    def after_vacuum(self) -> None:
        t = self.table
        kept = set(t.versions())
        self.version_counts = {v: c for v, c in self.version_counts.items() if v in kept}
        self.snap_files()
        live_bytes, files, _ = tree_bytes(self.path)
        self.m["space_amp"] = live_bytes / self.model.user_bytes()
        self.m["storage.files"] = files
        self.m["storage.segments"] = len(t.manifest.segments)

    def snap_files(self) -> None:
        self.written.update(tree_bytes(self.path)[2])

    # ---------------------------------------------------------------- reads

    def issue(self, kind: str, qi: int) -> None:
        """One read of `kind` for pool query `qi`, with its check."""
        t = self.table
        q, text = self.queries[qi]
        k = 10
        base = t.manifest.version == self.base_version
        rows = self.model.rows
        if kind in FILTER_OF:
            flt = FILTER_OF[kind]
            sql = gen.FILTERS[flt][0]
            if base:
                want = (self.truth[f"{flt}/{qi}/ids"], self.truth[f"{flt}/{qi}/d"])
            else:
                want = self.model.topk(q, flt)
            self.read(kind, lambda: t.search(q, k=k, filter=sql),
                      lambda got: self.knn_ok(got, want, q, flt))
        elif kind == "get":
            rid = sorted(rows)[(qi * 7919) % len(rows)]
            price = rows[rid]["price"]
            self.read(kind, lambda: t.get(rid),
                      lambda got: len(got) == 1 and got[0]["id"] == rid
                      and got[0]["price"] == price)
        elif kind in ("ivf", "et", "sq8"):
            build = {
                "ivf": lambda: t.search(q, k=k, nprobe=NPROBE),
                "et": lambda: t.search_early_terminate(q, k=k, nprobe=NPROBE),
                # no probe pruning, so the floor judges quantization alone
                "sq8": lambda: t.search_quantized(q, k=k, refine=REFINE),
            }[kind]
            truth = (self.truth[f"none/{qi}/ids"] if base else self.model.topk(q)[0])
            self.read(kind, build, lambda got: self.ann_ok(kind, got, truth))
        elif kind == "bm25":
            self.read(kind, lambda: t.bm25_search(text, k=k),
                      lambda got: self.bm25_ok(got, text))
        elif kind == "hybrid":
            self.read(kind, lambda: t.hybrid_search(q, text, k=k),
                      lambda got: len(got) == min(k, len(rows))
                      and all(r["id"] in rows for r in got))
            if self.trace_on:
                tc = time.perf_counter()
                n = max(2 * k, 50)
                self.layer.setdefault("read.hybrid.vector", []).append(
                    _elapsed(lambda: t.search(q, k=n).collect()))
                self.layer.setdefault("read.hybrid.lexical", []).append(
                    _elapsed(lambda: t.bm25_search(text, k=n).collect()))
                self.tracer_s += time.perf_counter() - tc
        elif kind == "tt":
            from vecgo_spark.plans.table import VectorTable

            v = max(x for x in self.version_counts if x < t.manifest.version)
            want = self.version_counts[v]

            def travel():
                tb = time.perf_counter()
                old = VectorTable.open(self.spark, self.path, version=v)
                self.note("plans.manifest.open_ms", time.perf_counter() - tb)
                return old.df().groupBy().count()

            self.read(kind, travel, lambda got: got[0][0] == want)
        else:
            raise ValueError(kind)

    def knn_ok(self, got, want, q, flt: str) -> bool:
        """Exact top-k: the returned ids' true distances equal the ground
        truth's, in order, so equal-distance ties may swap; a swapped-in row
        must be live and satisfy the filter."""
        ids, dist = want
        if [r["id"] for r in got] == [int(i) for i in ids]:
            return True
        pred, rows = gen.FILTERS[flt][1], self.model.rows
        if len(got) != len(ids) or not all(
                r["id"] in rows and pred(rows[r["id"]]["category"], rows[r["id"]]["price"])
                for r in got):
            return False
        mine = [self.model.sqdist(r["id"], q) for r in got]
        return all(abs(a - b) <= 1e-6 * max(1.0, b) for a, b in zip(mine, dist))

    def ann_ok(self, kind: str, got, truth) -> bool:
        ids = [r["id"] for r in got]
        rec = len(set(ids) & {int(i) for i in truth}) / max(1, len(truth))
        if self.pooling:
            self.recall.append(rec)
        if kind == "sq8":
            self.sq8_recall.append(rec)
        return (len(ids) == len(set(ids)) and len(ids) == len(truth)
                and all(i in self.model.rows for i in ids))

    def bm25_ok(self, got, text: str) -> bool:
        """Every hit is live and holds a query term."""
        terms = set(text.lower().split())
        return len(got) > 0 and all(
            r["id"] in self.model.rows
            and terms & set(self.model.rows[r["id"]]["text"].lower().split())
            for r in got)

    # --------------------------------------------------------------- writes

    def write_round(self, r: int) -> None:
        """Insert new rows and upserts, tombstone a slice, commit; then
        check count, visibility and time travel."""
        import pyarrow.parquet as pq

        spec = self.plan["rounds"][r]
        f = os.path.join(self.data, f"churn-{r:02d}.parquet")
        batch = pq.read_table(f)
        t = self.table
        t0 = time.perf_counter()
        try:
            self.timed("plans.table.insert_ms", lambda: t.insert(self.spark.read.parquet(f)))
            self.timed("plans.table.delete_ms", lambda: t.delete(spec["deletes"]))
            v = self.timed("plans.table.commit_ms", t.commit)
        except Exception as e:
            self.check(False, f"write round {r}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return
        dt = time.perf_counter() - t0
        self.commit_s.append(dt)
        self.write_s += dt
        self.rows_committed += batch.num_rows
        self.model.put(batch)
        self.model.drop(spec["deletes"])
        self.user_bytes_in += user_bytes(Model.rows_of(batch).values())
        self.version_counts[v] = len(self.model.rows)
        self.snap_files()
        self.check(t.count() == len(self.model.rows), f"round {r}: live count")
        for kind in ROUND_READS:
            self.issue(kind, self.next_query())
        up = spec["upserts"][0]
        self.read("get", lambda: t.get(up),
                  lambda got: len(got) == 1 and got[0]["price"] == self.model.rows[up]["price"])
        gone = spec["deletes"][0]
        self.read("get", lambda: t.get(gone), lambda got: len(got) == 0)

    def maintenance(self) -> None:
        """Policy compaction and vacuum after the write rounds, then the
        visibility checks on the compacted table."""
        from vecgo_spark.plans.policy import TieredPolicy

        t = self.table
        self.maintain("plans.table.maybe_compact_ms",
                      lambda: t.maybe_compact(TieredPolicy(min_segments=4)))
        self.maintain("plans.table.vacuum_ms", lambda: t.vacuum(keep_versions=2))
        self.after_vacuum()
        self.check(t.count() == len(self.model.rows), "after maintenance: live count")
        for kind in ("knn", "bm25", "ivf"):
            self.issue(kind, self.next_query())

    def batch(self) -> None:
        """batch_search over the whole pool, BATCH_REPEATS times; every
        repeat is checked, recall is taken from the first."""
        t = self.table
        qdf = self.spark.read.parquet(os.path.join(self.data, "t2.parquet")).select(
            "qid", "qvector")
        truth = [{int(i) for i in self.model.topk(q)[0]} for q, _ in self.queries]
        dts = []
        for rep in range(BATCH_REPEATS):
            try:
                t0 = time.perf_counter()
                with self.tracer.job_group("batch_search"):
                    rows = self.timed("operators.ivf.batch_search_ms",
                                      lambda: t.batch_search(qdf, k=10, nprobe=NPROBE).collect())
                dts.append(time.perf_counter() - t0)
            except Exception as e:
                self.check(False, f"batch_search: {type(e).__name__}: {e}")
                continue
            got: dict[int, list[int]] = {}
            for r in rows:
                got.setdefault(r["qid"], []).append(r["id"])
            for qi, want in enumerate(truth):
                ids = got.get(qi, [])
                if rep == 0:
                    self.recall.append(len(set(ids) & want) / len(want))
                self.check(len(ids) == 10 and all(i in self.model.rows for i in ids),
                           f"batch_search q{qi}")
        if dts:
            # host interference only adds time, so the fastest repeat is
            # the steadiest figure
            self.m["batch_qps"] = len(self.queries) / min(dts)

    def next_query(self) -> int:
        sched = self.plan["schedule"]
        self.qpos += 1
        return sched[self.qpos % len(sched)]

    # ------------------------------------------------------------------ run

    def run(self) -> None:
        t0 = time.perf_counter()
        self.start_session()
        with self.tracer.span("setup"):
            with self.tracer.span("inputs"):
                self.load_inputs()
            self.load_table()
            self.build_index()
            if self.trace_on:
                from vecgo_spark.observer import MetricsObserver

                bench = self

                class SkipCounter(MetricsObserver):
                    def on_search(self, latency_s, strategy, k, segments_searched,
                                  error=None):
                        if strategy == "ivf-early-terminate":
                            bench.et_skipped += segments_searched

                self.table.set_observer(SkipCounter())
            self.warmup()
        self.m["setup_s"] = time.perf_counter() - t0
        if self.trace_on:
            from vecgo_spark.plans.table import VectorTable

            self.cache0 = VectorTable.cache_stats_detail()
        self.sq8_recall.clear()
        self.tracer.calls.clear()
        self.layer = {k: v for k, v in self.layer.items() if not k.startswith("read.")}

        t_win = time.perf_counter()
        deadline = t_win + self.seconds
        mix = READ_MIX[self.workload]
        r = 0
        self.pooling = True
        with self.tracer.span("window"):
            if mix:
                cycles = 0
                while time.perf_counter() < deadline or cycles < MIN_CYCLES:
                    for kind in mix:
                        self.issue(kind, self.next_query())
                    cycles += 1
            else:
                while (time.perf_counter() < deadline or r < MIN_ROUNDS) \
                        and r < len(self.plan["rounds"]):
                    self.write_round(r)
                    r += 1
        self.m["window_s"] = time.perf_counter() - t_win
        with self.tracer.span("tail"):
            if self.trace_on:
                self.pruning_probe()
            if r:
                self.maintenance()  # its checking reads join the pools
            self.pooling = False
            self.batch()
        self.m["rounds"] = r
        self.finish(t0)

    def warmup(self) -> None:
        """One untimed call of every read kind the window issues. serve_warm
        also runs BM25 once for every pool query, so its window finds the
        lexical candidate cache warm: a miss costs 3-5x a hit."""
        for kind in dict.fromkeys(READ_MIX[self.workload] or ROUND_READS):
            self.issue(kind, self.next_query())
        if READ_MIX[self.workload]:
            for qi in range(self.spec.queries):
                self.issue("bm25", qi)

    def pruning_probe(self) -> None:
        """search_with_stats under a ts filter that only the write-round
        segments' stats can rule out."""
        from vecgo_spark.filters import Filter, FilterSet

        tc = time.perf_counter()
        q = self.queries[0][0]
        fs = FilterSet([Filter("ts", "lt", 1_750_000_000_000)])
        _, st = self.table.search_with_stats(q, k=10, filter=fs)
        self.m["plans.pruning.segments_scanned_ratio"] = (
            st.segments_searched / max(1, st.segments_total))
        self.tracer_s += time.perf_counter() - tc

    def finish(self, t0: float) -> None:
        m = self.m
        reads = [x for xs in self.lat.values() for x in xs]
        m["search_reads"] = len(reads)
        if reads:
            m["search_p50_ms"] = 1000 * statistics.median(reads)
            m["search_p90_ms"] = 1000 * pctl(reads, 0.9)
        for c in ("knn", "ann", "text"):
            # each kind's median, averaged over the class's kinds: a median
            # of the pooled reads would jump between the kinds' latencies
            meds = [statistics.median(xs) for kind, xs in self.lat.items()
                    if CLASS[kind] == c]
            if meds:
                m[f"{c}_p50_ms"] = 1000 * statistics.fmean(meds)
        if self.commit_s:
            m["commit_p50_ms"] = 1000 * statistics.median(self.commit_s)
            m["ingest_rows_per_s"] = self.rows_committed / self.write_s
        if self.recall:
            m["recall_at_10"] = statistics.fmean(self.recall)
        if self.sq8_recall:
            sq = statistics.fmean(self.sq8_recall)
            m["sq8_recall_at_10"] = sq
            self.check(sq >= SQ8_FLOOR, f"SQ8 recall {sq:.3f} below {SQ8_FLOOR}")
        sc = self.spark.sparkContext
        jvm_pid = getattr(getattr(sc._gateway, "proc", None), "pid", None)
        m["peak_rss_mb"] = vm_hwm_mb("self") + (vm_hwm_mb(jvm_pid) if jvm_pid else 0.0)
        m["cache.persisted_rdds_growth"] = sc._jsc.getPersistentRDDs().size() - self.rdds0
        m["plans.manifest.versions"] = len(self.table.versions())
        written = sum(self.written.values())
        m["storage.bytes_written"] = written
        m["storage.write_amp"] = written / max(1, self.user_bytes_in)
        m["wall_s"] = time.perf_counter() - t0
        if self.trace_on:
            self.layers()

    def layers(self) -> None:
        from vecgo_spark.plans.table import VectorTable

        m, L = self.m, self.layer

        def med_ms(key):
            return 1000 * statistics.median(L[key]) if L.get(key) else 0.0

        for c in ("knn", "ann", "text", "get"):
            m[f"plans.table.build_ms.{c}"] = med_ms(f"read.build.{c}")
        for name in ("plans.table.insert_ms", "plans.table.delete_ms",
                     "plans.table.commit_ms", "plans.table.maybe_compact_ms",
                     "plans.table.refresh_lexical_index_ms", "plans.table.vacuum_ms",
                     "plans.table.compact_ms", "plans.table.build_lexical_index_ms",
                     "plans.manifest.open_ms", "operators.ivf.batch_search_ms"):
            m[name] = med_ms(name)
        m["operators.hybrid.vector_leg_ms"] = med_ms("read.hybrid.vector")
        m["operators.hybrid.lexical_leg_ms"] = med_ms("read.hybrid.lexical")
        m["catalyst.plan_ms"] = med_ms("read.plan")
        m["spark.exec_ms"] = med_ms("read.exec")
        m["plans.pruning.et_skipped_segments"] = self.et_skipped
        reads = [c for c in self.tracer.calls if c.get("read")]
        for key in ("jobs", "stages", "tasks", "python_nodes"):
            m[f"spark.{key}"] = (statistics.fmean(c[key] for c in reads) if reads else 0.0)
        calls = self.tracer.calls
        m["spark.executor_cpu_ms"] = sum(c["executor_cpu_ns"] for c in calls) / 1e6
        m["spark.gc_ms"] = sum(c["gc_ms"] for c in calls)
        for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                    "input_bytes"):
            m[f"spark.{key}"] = sum(c[key] for c in calls)
        ann = [c for c in reads if CLASS.get(c["kind"]) == "ann"]
        m["operators.knn.rows_scored_per_result"] = (
            statistics.median(c["input_records"] for c in ann) / 10 if ann else 0.0)
        # lookups after set-up only: warm-up misses are set-up cost
        detail = VectorTable.cache_stats_detail()
        for c in CACHES:
            d, d0 = detail.get(c) or {}, self.cache0.get(c) or {}
            h = d.get("hits", 0) - d0.get("hits", 0)
            mi = d.get("misses", 0) - d0.get("misses", 0)
            m[f"cache.{c}.hit_rate"] = h / (h + mi) if h + mi else 0.0
        m["trace.overhead_pct"] = 100 * (self.tracer_s + self.tracer.overhead_s) / m["wall_s"]

    def result(self) -> dict:
        names = LAYER_UNITS if self.trace_on else E2E_UNITS
        missing = [n for n in names if n not in self.m]
        for n in missing:
            self.check(False, f"metric {n} not measured")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {n: {"value": self.m[n], "unit": u} for n, u in names.items()
                        if n in self.m},
        }

    def disclosure(self, host: dict) -> dict:
        sc = self.spark.sparkContext
        return {
            "workload": self.workload, "seed": self.seed,
            "host": {**host, "spark_master": sc.master,
                     "default_parallelism": sc.defaultParallelism},
            "samples": {"search_reads": self.m.get("search_reads"),
                        "rounds": self.m.get("rounds"),
                        "reads_per_kind": {c: len(v) for c, v in self.lat.items()}},
            "extra": {k: self.m[k] for k in ("load_s", "window_s", "wall_s",
                                             "sq8_recall_at_10") if k in self.m},
            "errors": self.errors[:20],
        }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit: the gateway JVM ends when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="vecgo_spark benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (tests)")
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "vecgo_spark", "__init__.py")):
        print(f"vecgo_spark not found under {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = nproc()
    tmp = os.path.join(ROOT, ".perfbench_tmp", uuid.uuid4().hex)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in ("spark", "py", "java"):
        os.makedirs(os.path.join(tmp, d))
    os.makedirs(out_dir, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
        "TMPDIR": os.path.join(tmp, "py"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(tmp, 'java')} "
                             "-XX:-UsePerfData",
    })
    stat0 = cpu_stat()
    host = {"nproc": cores, "gemm_gflops": gemm_gflops()}
    bench = Bench(a.workload, a.seed, a.seconds, bool(a.trace), tmp, a.smoke)
    try:
        bench.run()
        stat1 = cpu_stat()
        if stat0 and stat1 and stat1[0] > stat0[0]:
            host["steal_pct"] = 100 * (stat1[1] - stat0[1]) / (stat1[0] - stat0[0])
        info = bench.disclosure(host)
        if a.trace:
            bench.tracer.dump(os.path.join(
                out_dir, f"trace-{a.workload}-{a.seed}.json"), info)
        result = bench.result()
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
