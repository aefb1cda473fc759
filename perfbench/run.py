"""The engine's benchmark: one workload per process, every output checked.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 14 --trace 0

Run it from the repository root. It starts a session on ``local[<cores>]``,
loads the query registry and makes one untimed warm pass, which also spawns
the Python workers (together: ``setup_s``), then runs the workload's ops for
``--seconds`` and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.

Workloads (``workloads.py`` holds the op lists):

- ``etl_ingest``: the paper's pipeline. A seeded OTX-shaped feed is served by
  a local HTTP stub in pages of 50 (with malformed records and 429s); each op
  ingests one batch through ``sources.pulses_df`` -> ``pipeline.run_batch``
  into a parquet target that later batches overwrite in part.
- ``query_mix``: four registry queries, one per cost profile: relational,
  Python UDF, shuffle-bound graph kernel, index-store lifecycle.

The timed window is a whole number of passes over the workload's ops, as
many as fit in ``--seconds`` on a 4-core host (``NOMINAL_PASS_S``), so
two commits always measure the same work. Registry passes run in a seeded
random order. ``wall_s`` is the sum over ops of each op's typical latency
(``typical``: the mean after dropping the slowest quarter of its samples).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced passes with passes that put a span around every call into a layer,
and prints the per-layer metrics and the tracing overhead.

Each run keeps its scratch (``TMPDIR``, ``SPARK_LOCAL_DIRS``, the JVM's
``java.io.tmpdir``) under ``.perfbench/`` in the repository, measures what
the engine left there once the session has stopped, and deletes it.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import defaultdict  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import otxgen  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = ("etl_ingest", "query_mix")
MB = 1024 * 1024
# The engine's default driver heap (16g) is sized for a large host; the
# benchmark caps it so a run fits beside other work on a small machine.
DRIVER_MEM = "4g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_geomean_s": "s",
    "records_per_s": "1/s",
    "live_mem_mb": "MB",
    "scratch_left_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s", "session.registry_s": "s", "session.warm_s": "s",
    "construct.s": "s", "construct.jobs": "count", "construct.tasks": "count",
    "tables.load_s": "s", "tables.load_calls": "count",
    "plan.s": "s",
    "execute.s": "s", "execute.jobs": "count", "execute.tasks": "count",
    "execute.task_s": "s", "execute.slot_util": "ratio",
    "execute.shuffle_write_mb": "MB", "execute.spill_mb": "MB",
    "execute.max_task_ratio": "ratio", "execute.python_nodes": "count",
    "sources.requests": "count", "sources.fetches_per_page": "ratio",
    "sources.retries": "count", "sources.stub_busy_s": "s",
    "pipeline.nonobject_upserted": "count",
    "upsert.s": "s", "upsert.bytes_written_mb": "MB", "upsert.write_amp": "ratio",
    "store.build_s": "s", "store.mutate_s": "s", "store.serve_s": "s",
    "store.jobs": "count", "store.bytes_written_mb": "MB", "store.files_written": "count",
    "genstore.cas_updates": "count", "genstore.lock_wait_s": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s", "trace.layer_cover": "ratio",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def file_index(path: str, skip: str | None = None) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every regular file under ``path``."""
    out = {}
    for d, dirs, files in os.walk(path):
        if skip is not None and d == skip:
            dirs[:] = []
            continue
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def cpu_steal() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot: a busy hypervisor
    slows every timing of a run alike, and shows here."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]  # user .. steal
    return ticks[7], sum(ticks)


def steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float:
    return 100.0 * (b[0] - a[0]) / max(1, b[1] - a[1])


_STEAL_PROCESS = cpu_steal()


def typical(samples: list[float]) -> float:
    """An op's typical latency: the mean of its samples once the slowest
    quarter (rounded up) is dropped. A burst of host load or the JIT still
    compiling only ever slows a sample down, so this is as robust to them as
    the median, and it averages the remaining samples instead of reading one.
    """
    kept = sorted(samples)[: len(samples) - math.ceil(len(samples) / 4)]
    return statistics.fmean(kept or samples)


def vm_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmRSS in /proc/self/status")


class Run:
    """One benchmark run: scratch root, session, setup, window, checks."""

    def __init__(self, args):
        self.args = args
        self.rng = random.Random(args.seed)
        self.cores = cores()
        self.work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.local = os.path.join(self.tmp, "spark-local")
        self.out = os.path.join(self.work, "out")
        self.excluded = 0.0  # benchmark-only time inside setup (inputs, oracles, checks)
        self.phase: dict[str, float] = {}
        self.spark = None
        self.tracer = spans.Tracer()
        self.execs: list[dict] = []  # one record per op execution, warm pass included
        self.deviations: set[str] = set()  # checks that matched otxgen.DEVIATION
        self._n = 0

    # -- environment ----------------------------------------------------
    def prepare(self) -> None:
        for d in (self.local, self.out):
            os.makedirs(d)
        os.environ.update({
            "TMPDIR": self.tmp,
            "SPARK_LOCAL_DIRS": self.local,
            "SPARK_GRAFT_CPUS": str(self.cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            # spark-submit's launcher is a JVM of its own
            "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options '-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData' "
                f"--conf spark.sql.warehouse.dir={os.path.join(self.work, 'warehouse')} "
                "pyspark-shell"
            ),
        })
        tempfile.tempdir = None  # re-read TMPDIR

    @contextmanager
    def benchmark_only(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.excluded += time.perf_counter() - t0

    def stop(self) -> float:
        """Stop the session and its JVM; returns MB left under the scratch
        root, then deletes the run's directory."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                gateway = SparkContext._gateway
                self.spark.stop()
                gateway.shutdown()
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)
            left = sum(s for s, _ in file_index(self.tmp).values()) / MB
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            parent = os.path.dirname(self.work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
        return left

    # -- setup ------------------------------------------------------------
    def setup(self):
        t = time.perf_counter()
        from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")
        self.phase["session.start_s"] = time.perf_counter() - t
        if self.args.trace:
            self.tracer = spans.Tracer(self.spark.sparkContext)
            self.swaps = spans.install(self.tracer)
        t = time.perf_counter()
        from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans import registry

        self.queries = registry.queries()
        if self.args.trace:
            spans.rebind(self.swaps)
        self.phase["session.registry_s"] = time.perf_counter() - t

    # -- op execution -----------------------------------------------------
    def timed(self, name: str, traced: bool, fn) -> dict:
        """Run one op; returns its execution record."""
        self._n += 1
        rec = {"name": name, "id": f"{name}#{self._n}", "records": 0}
        self.execs.append(rec)
        self.tracer.enabled = traced
        self.tracer.op = rec["id"]
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, "op"):
                rec["out"] = fn()
        except Exception as e:  # an op that raises counts as failed; the run goes on
            rec["error"] = f"{name}: {type(e).__name__}: {e}".splitlines()[0]
        finally:
            rec["lat"] = time.perf_counter() - t0
            self.tracer.enabled = False
        return rec

    def window(self, names: list[str], passes: int, traced: bool, run_op) -> list[dict]:
        recs = []
        for i in range(passes):
            for name in self.pass_order(names):
                recs.append(run_op(name, traced))
                recs[-1]["pass"] = i
        return recs

    def pass_order(self, names: list[str]) -> list[str]:
        return names

    # -- reporting --------------------------------------------------------
    @staticmethod
    def end_to_end(recs: list[dict]) -> dict:
        """Per op, the typical latency and the median records delivered."""
        lat, records = defaultdict(list), defaultdict(list)
        for r in recs:
            lat[r["name"]].append(r["lat"])
            records[r["name"]].append(r["records"])
        per_op = [typical(v) for v in lat.values()]
        wall = sum(per_op)
        return {
            "wall_s": wall,
            "op_geomean_s": statistics.geometric_mean(per_op),
            "records_per_s": sum(statistics.median(v) for v in records.values()) / wall,
        }

    def per_layer(self, recs: list[dict]) -> dict:
        by_op = defaultdict(list)
        for s in self.tracer.spans:
            by_op[s.op].append(s)
        values = defaultdict(lambda: defaultdict(list))  # metric -> op name -> [v]
        ratio_parts = defaultdict(float)
        max_task_ratio = 0.0
        cover = []
        for r in recs:
            v = defaultdict(float)
            v.update(r.get("extra", {}))
            op_spans = by_op[r["id"]]
            st = spans.self_times(op_spans)
            layer_self = 0.0
            for s in op_spans:
                c, self_s = s.counts, st[s.sid]
                if s.layer != "op":
                    layer_self += self_s
                if s.layer in ("construct", "tables.load"):
                    v["construct.jobs"] += c["jobs"]
                    v["construct.tasks"] += c["tasks"]
                if s.layer == "construct":
                    v["construct.s"] += self_s
                elif s.layer == "tables.load":
                    v["tables.load_s"] += self_s
                    v["tables.load_calls"] += 1
                elif s.layer == "plan":
                    v["plan.s"] += self_s
                elif s.layer == "execute":
                    v["execute.s"] += self_s
                    v["execute.jobs"] += c["jobs"]
                    v["execute.tasks"] += c["tasks"]
                    v["execute.task_s"] += c["task_s"]
                    v["execute.shuffle_write_mb"] += c["shuffle_write_b"] / MB
                    v["execute.spill_mb"] += c["spill_b"] / MB
                    max_task_ratio = max(max_task_ratio, c["max_task_ratio"])
                elif s.layer == "upsert":
                    v["upsert.s"] += self_s
                elif s.layer.startswith("store."):
                    v[f"{s.layer}_s"] += self_s
                    v["store.jobs"] += c["jobs"]
                elif s.layer == "genstore.cas":
                    v["genstore.cas_updates"] += 1
                elif s.layer == "genstore.lock_wait":
                    v["genstore.lock_wait_s"] += self_s
            cover.append(layer_self / r["lat"])
            for k in ("upsert.bytes_written_b", "upsert.valid_b",
                      "sources.fetches", "sources.pages"):
                ratio_parts[k] += v.pop(k, 0.0)
            for k, x in v.items():
                values[k][r["name"]].append(x)
        out = {k: 0.0 for k in PER_LAYER}
        out.update(self.phase)
        for k, per_op in values.items():
            out[k] = sum(statistics.median(xs) for xs in per_op.values())
        out["execute.max_task_ratio"] = max_task_ratio
        if out["execute.s"] > 0:
            out["execute.slot_util"] = out["execute.task_s"] / (out["execute.s"] * self.cores)
        out["upsert.bytes_written_mb"] = ratio_parts["upsert.bytes_written_b"] / MB
        if ratio_parts["upsert.valid_b"]:
            out["upsert.write_amp"] = (
                ratio_parts["upsert.bytes_written_b"] / ratio_parts["upsert.valid_b"]
            )
        if ratio_parts["sources.pages"]:
            out["sources.fetches_per_page"] = (
                ratio_parts["sources.fetches"] / ratio_parts["sources.pages"]
            )
        out["trace.layer_cover"] = statistics.median(cover)
        return out

    def execute(self) -> dict:
        self.prepare()
        self.setup()
        return self.run_workload()

    def measure(self, ops, run_op) -> dict:
        """Warm pass, timed window (and traced window), metrics."""
        t = time.perf_counter()
        excluded0 = self.excluded
        for name in ops:
            print(f"warm {name}: {run_op(name, False)['lat']:.3f}", file=sys.stderr)
        self.check_all()
        self.phase["session.warm_s"] = time.perf_counter() - t - (self.excluded - excluded0)
        setup_s = time.perf_counter() - _T_PROCESS - self.excluded
        steal0 = cpu_steal()
        passes = max(1, int(self.args.seconds // wl.NOMINAL_PASS_S[self.args.workload]))
        if self.args.trace:  # ABBA order, so warm-up drift does not read as overhead
            plain, traced = [], []
            for i in range(4 * -(-passes // 4)):
                on = i % 4 in (1, 2)
                (traced if on else plain).extend(self.window(ops, 1, on, run_op))
        else:
            plain, traced = self.window(ops, passes, False, run_op), []
        for name in ops:
            print(f"op {name}: " + " ".join(
                f"{r['lat']:.3f}" for r in self.execs if r["name"] == name and "pass" in r
            ), file=sys.stderr)
        metrics = {"setup_s": setup_s, **self.end_to_end(plain)}
        if traced:
            layer = self.per_layer(traced)
            layer["trace.wall_s"] = self.end_to_end(traced)["wall_s"]
            layer["trace.overhead_s"] = layer["trace.wall_s"] - metrics["wall_s"]
            metrics["layer"] = layer
        print(f"benchmark-only (oracles, checks) {self.excluded:.1f} s", file=sys.stderr)
        print(f"host steal_pct setup={steal_pct(_STEAL_PROCESS, steal0):.1f} "
              f"window={steal_pct(steal0, cpu_steal()):.1f}", file=sys.stderr)
        metrics["live_mem_mb"] = self.live_mem_mb()
        self.check_all()
        return metrics

    def live_mem_mb(self) -> float:
        """Memory the driver holds once the window is done: JVM heap in use
        after a full GC plus JVM non-heap in use, plus the Python driver's
        resident set. (The JVM's resident set is not used: under G1's
        adaptive heap sizing it varied by a quarter between identical runs.)"""
        jvm = self.spark.sparkContext._jvm
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        # Python first, so the JVM objects it held become garbage; later JVM
        # collections follow the ContextCleaner's removal of the blocks and
        # shuffles an earlier one found unreachable. Collect until the heap
        # stops shrinking.
        heap = float("inf")
        for _ in range(6):
            gc.collect()
            jvm.java.lang.System.gc()
            used = mem.getHeapMemoryUsage().getUsed() / MB
            if used > heap - 1.0:
                break
            heap = used
            time.sleep(0.5)
        heap = min(heap, used)
        non_heap = mem.getNonHeapMemoryUsage().getUsed() / MB
        py = vm_rss_mb()
        print(f"mem heap_mb={heap:.1f} non_heap_mb={non_heap:.1f} py_rss_mb={py:.1f}",
              file=sys.stderr)
        return heap + non_heap + py


class RegistryRun(Run):
    """``query_mix``: registry queries; an op's records are its result rows."""

    def pass_order(self, names):
        order = list(names)
        self.rng.shuffle(order)
        return order

    def run_op(self, name: str, traced: bool) -> dict:
        fn = self.queries[name]
        rec = self.timed(name, traced, lambda: wl.registry_op(self.spark, fn, self.tracer, name))
        if "out" in rec:
            pdf, df = rec.pop("out")
            rec["pdf"], rec["records"] = pdf, len(pdf)
            if traced:
                rec["extra"] = {"execute.python_nodes": spans.python_nodes(df)}
        if traced:
            self.attribute_store_files(rec)
        return rec

    def attribute_store_files(self, rec: dict) -> None:
        """Files the op's store verbs wrote under the scratch root."""
        before, self._tree = self._tree, file_index(self.tmp, self.local)
        if not any(s.layer.startswith("store.") for s in self.tracer.spans
                   if s.op == rec["id"]):
            return
        new = [p for p, meta in self._tree.items() if before.get(p) != meta]
        extra = rec.setdefault("extra", {})
        extra["store.files_written"] = len(new)
        extra["store.bytes_written_mb"] = sum(self._tree[p][0] for p in new) / MB

    def check_all(self) -> None:
        with self.benchmark_only():
            for r in self.execs:
                if "pdf" in r:
                    err = self.checker.check(r["name"], r.pop("pdf"))
                    if err:
                        r["error"] = err

    def run_workload(self) -> dict:
        ops = wl.registry_ops(list(self.queries))
        with self.benchmark_only():
            self.checker = wl.RegistryChecker(ops)
        if self.args.trace:
            self._tree = file_index(self.tmp, self.local)
        return self.measure(ops, self.run_op)


class IngestRun(Run):
    """``etl_ingest``: batches from the feed stub into a parquet target; an
    op's records are the valid records it upserted."""

    def run_workload(self) -> dict:
        with self.benchmark_only():
            self.feed = otxgen.make_feed(self.args.seed, wl.ETL_BATCHES, wl.ETL_PAGES)
            self.valid_bytes = [
                sum(len(json.dumps(it)) for it in items if isinstance(it, dict))
                for items in self.feed.records
            ]
            self.server = otxgen.FeedServer(self.feed, workers=self.cores)
        self.targets: list[tuple[str, dict]] = []  # (target, record of its last batch)
        ops = [f"batch{b}" for b in range(wl.ETL_BATCHES)]
        with self.server:
            return self.measure(ops, self.run_op)

    def run_op(self, name: str, traced: bool) -> dict:
        b = int(name[len("batch"):])
        if b == 0:
            self.targets.append((os.path.join(self.out, f"t{len(self.targets)}"), None))
        target, _ = self.targets[-1]
        self.server.reset()
        rec = self.timed(name, traced, lambda: wl.ingest_op(
            self.spark, self.server, b, target, self.tracer))
        stats = self.server.reset()
        rec["batch"] = b
        self.targets[-1] = (target, rec)
        if "out" in rec:
            counts = rec.pop("out")
            items = self.feed.records[b]
            want = otxgen.batch_counts(items)
            rec["records"] = want["records_upserted"]
            rec["nonobject_upserted"] = counts["records_upserted"] - want["records_upserted"]
            if counts == otxgen.batch_counts(items, deviation=True) != want:
                self.deviations.add(f"{name} run_batch counters")
            elif counts != want:
                rec["error"] = f"{name}: run_batch counters {counts}, want {want}"
        if traced:
            rec["extra"] = {
                "sources.requests": stats.requests,
                "sources.retries": stats.retries,
                "sources.stub_busy_s": stats.busy_s,
                "sources.fetches": sum(stats.fetches.values()),
                "sources.pages": len(stats.fetches),
                "upsert.bytes_written_b": sum(s for s, _ in file_index(target).values()),
                "upsert.valid_b": self.valid_bytes[b],
                "pipeline.nonobject_upserted": rec["nonobject_upserted"],
            }
        return rec

    def check_all(self) -> None:
        with self.benchmark_only():
            for target, last in self.targets:
                n = last["batch"] + 1
                err = wl.check_target(self.spark, target, otxgen.expected_state(self.feed, n))
                if err and not wl.check_target(
                    self.spark, target, otxgen.expected_state(self.feed, n, deviation=True)
                ):
                    self.deviations.add("target")
                    err = None
                if err:
                    last.setdefault("error", err)
                shutil.rmtree(target, ignore_errors=True)
            self.targets = []


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    run = (IngestRun if args.workload == "etl_ingest" else RegistryRun)(args)
    try:
        metrics = run.execute()
    finally:
        left = run.stop()
    metrics["scratch_left_mb"] = left
    names = PER_LAYER if args.trace else END_TO_END
    source = metrics.pop("layer") if args.trace else metrics
    errors = [r["error"] for r in run.execs if "error" in r]
    for msg in errors:
        print(f"FAILED {msg}", file=sys.stderr)
    for where in sorted(run.deviations):
        print(f"DEVIATION {where}: {otxgen.DEVIATION}", file=sys.stderr)
    print(json.dumps({
        "correct": not errors,
        "attempted": len(run.execs),
        "failed": len(errors),
        "metrics": {k: {"value": source[k], "unit": u} for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
