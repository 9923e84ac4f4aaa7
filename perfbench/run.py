#!/usr/bin/env python3
"""End-to-end benchmark of the engine; one run is one fresh process.

    python3 perfbench/run.py --workload {dbt_daily,corpus_session}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. A run deletes the engine's derived
directories, builds the tuned session (``setup_s``), then makes one cold
pass over the workload's operations and ``S // 5`` warm passes (at least
one), so the same arguments always do the same work. The seed sets the
order of the operation groups after the first (see ``workloads.py``).
Every result is fetched inside its measured window and, outside it,
hashed and compared with the DuckDB oracle hash in ``oracle_hashes.json``
(see ``oracle.py``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns the
layer readers on and prints the per-layer metrics, after one JSON line
per operation of the cold pass. The last stdout line is the result JSON.
See README.md for what each metric is.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "gcp_dbt_data_engineering_spark"

#: Directories the engine derives from its inputs, relative to the root.
#: Each run starts without them, so staging, layout builds and catalog
#: stats land in its cold pass. The engine names most of them as
#: absolute paths fixed at development time; ``_redirect_engine_paths``
#: points them at this checkout instead.
DERIVED_DIRS = (
    ".artifacts/staged",  # sources/registry.py STAGE_DIR
    ".artifacts/layout",  # plans/layout.py ART
    ".artifacts/warehouse",  # plans/models.py ModelGraph, seeds, builds
    ".artifacts/warehouse_incr",  # model_incremental_daily_revenue
    ".artifacts/warehouse_merge",  # model_merge_customer_state
    ".artifacts/warehouse_incr_guard",  # model_incremental_late_data
    ".artifacts/target",  # dbt compile target/
    ".artifacts/dq_stream_results",  # streaming/events.py
)
STATE = ".bench_state"  # Spark local dirs and temp files of a run
DRIVER_MEMORY = "4g"
SECONDS_PER_WARM_PASS = 5


def _process_start_epoch() -> float:
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _pin_environment() -> None:
    """Environment of the run, recorded in README.md."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            # Python workers import the engine from the working directory
            "PYTHONPATH": ROOT,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(ROOT, STATE, "spark-local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        }
    )
    for var in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE"):
        os.environ.pop(var, None)


def _redirect_engine_paths() -> None:
    """Re-root the engine's absolute ``<dir>/.artifacts/...`` paths at ROOT.

    Module constants and function defaults only; the engine's code
    paths are unchanged, and in the checkout they were written for this
    is the identity.
    """

    def fix(v):
        if isinstance(v, str) and v.startswith("/") and "/.artifacts/" in v:
            return ROOT + v[v.index("/.artifacts/") :]
        return v

    for name, mod in list(sys.modules.items()):
        if not name.startswith(ENGINE):
            continue
        for attr, val in list(vars(mod).items()):
            if isinstance(val, str):
                setattr(mod, attr, fix(val))
            fns = [val] if callable(val) else []
            if isinstance(val, type) and val.__module__ == name:
                fns = [f for f in vars(val).values() if callable(f)]
            for fn in fns:
                if getattr(fn, "__module__", None) != name:
                    continue
                if getattr(fn, "__defaults__", None):
                    fn.__defaults__ = tuple(fix(d) for d in fn.__defaults__)
                if getattr(fn, "__kwdefaults__", None):
                    fn.__kwdefaults__ = {
                        k: fix(d) for k, d in fn.__kwdefaults__.items()
                    }


def _import_engine() -> dict:
    import __spark_entry__ as entry

    specs = entry._all_specs()
    _redirect_engine_paths()
    return specs


def _du_mb(path: str) -> tuple[float, int]:
    total, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
            except OSError:
                continue
            files += n.endswith(".parquet")
    return total / 1e6, files


class LoadTimer:
    """Times calls into ``sources.load_table`` (traced runs only)."""

    def __init__(self):
        self.seconds = 0.0

    def install(self) -> None:
        from gcp_dbt_data_engineering_spark.sources import registry

        orig = registry.load_table

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                self.seconds += time.perf_counter() - t0

        for name, mod in list(sys.modules.items()):
            if (name.startswith(ENGINE) or name == "__spark_entry__") and getattr(
                mod, "load_table", None
            ) is orig:
                mod.load_table = timed


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    t_proc = _process_start_epoch()

    sys.path.insert(0, HERE)
    from probes import host_cpu_times
    from workloads import WORKLOADS

    host0 = host_cpu_times()

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "session.py")):
        return _fail(f"no engine package {ENGINE}/ under {ROOT}")
    with open(os.path.join(HERE, "oracle_hashes.json")) as fh:
        oracle = json.load(fh)
    sys.path.insert(0, ROOT)
    from gcp_dbt_data_engineering_spark.cli import DEFAULT_DATA_DIR as sf_dir

    if not os.path.isdir(sf_dir):
        return _fail(f"no data directory {sf_dir} (set SPARK_GRAFT_SF_DIR)")

    os.chdir(ROOT)
    for d in (*DERIVED_DIRS, STATE):
        shutil.rmtree(os.path.join(ROOT, d), ignore_errors=True)
    _pin_environment()
    try:
        return Run(args, oracle, sf_dir, t_proc, host0).main()
    finally:
        shutil.rmtree(os.path.join(ROOT, STATE), ignore_errors=True)


class Run:
    def __init__(self, args, oracle: dict, sf_dir: str, t_proc: float, host0):
        from workloads import WORKLOADS, operations

        self.args = args
        self.groups = WORKLOADS[args.workload]
        self.ops = operations(args.workload)
        self.oracle = oracle
        self.sf_dir = sf_dir
        self.t_proc = t_proc
        self.host0 = host0
        self.traced = bool(args.trace)

    # ------------------------------------------------------------------ set-up
    def setup(self) -> None:
        self.specs = _import_engine()
        from gcp_dbt_data_engineering_spark.session import get_spark
        from gcp_dbt_data_engineering_spark.sources import load_table

        t0 = time.time()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}")
        t1 = time.time()
        load_table(self.spark, self.sf_dir, "nation").count()
        sc = self.spark.sparkContext
        sc.parallelize([0], 1).map(lambda x: x + 1).collect()  # a Python worker
        t2 = time.time()
        # CPU time, not wall-clock: the wall-clock follows the host's steal
        from probes import ProcessTree, host_cpu_times

        self.setup_s = ProcessTree(sc._gateway.proc.pid).sample().total
        host1 = host_cpu_times()
        steal = (host1[0] - self.host0[0]) / max(1, host1[1] - self.host0[1])
        self.layer = {
            "session.start_s": t1 - t0,
            "session.warmup_s": t2 - t1,
            "wall.setup_s": t2 - self.t_proc,
        }
        _log(
            f"setup: {self.setup_s:.2f} CPU-s, wall {t2 - self.t_proc:.2f} s, "
            f"host steal {100 * steal:.1f}%"
        )

    def check_data(self) -> str | None:
        from oracle import data_fingerprint

        want = self.oracle["data"]
        if data_fingerprint(self.sf_dir, want) != want:
            return f"data under {self.sf_dir} differs from the oracle's"
        missing = [n for n in self.ops if n != "daily_pipeline" and n not in self.specs]
        if missing:
            return f"specs missing from the engine: {missing}"
        return None

    # ------------------------------------------------------------------ passes
    def main(self) -> int:
        try:
            self.setup()
            err = self.check_data()
            if err:
                return _fail(err)
            from gcp_dbt_data_engineering_spark.session import _CATALOG_CACHES
            from probes import JobReader, JvmGauges, MemoTracker, ProcessTree

            self.tree = ProcessTree(self.spark.sparkContext._gateway.proc.pid)
            self.reader = JobReader(self.spark)
            self.gauges = JvmGauges(self.spark)
            self.loads = LoadTimer()
            self.memos = MemoTracker(self.spark, _CATALOG_CACHES)
            if self.traced:
                self.loads.install()
            self.attempted = self.failed = self.mismatched = 0
            # the same settings always make the same passes
            warm = max(1, int(self.args.seconds // SECONDS_PER_WARM_PASS))
            passes = [self.run_pass(k) for k in range(1 + warm)]
            self.report(passes)
            return 0
        finally:
            if hasattr(self, "spark"):
                self.stop()

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and so its workers) to end."""
        t0 = time.time()
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway server exits on EOF
        gateway.proc.wait(timeout=60)
        _log(f"stopped Spark in {time.time() - t0:.2f} s")

    def run_pass(self, k: int) -> dict:
        from gcp_dbt_data_engineering_spark.session import clear_caches
        from probes import CpuSample, host_cpu_times, now_ms, total
        from workloads import Fetcher, run_op

        head, *rest = self.groups
        random.Random(f"{self.args.seed}:{k}").shuffle(rest)
        order = [op for group in (head, *rest) for op in group]
        t0 = time.perf_counter()
        clear_caches(self.spark, keep_table_handles=True)  # the last pass's memos
        clear_s = time.perf_counter() - t0
        steal0 = host_cpu_times()
        cpu = CpuSample(0.0, 0.0, 0.0)
        wall_ms = 0.0
        ops = []
        t_start = time.time()
        for name in order:
            fetch = Fetcher(now_ms, phases=self.traced)
            if self.traced:
                jvm0, load0 = self.gauges.sample(), self.loads.seconds
                self.memos.start(name)
            c0 = self.tree.sample()
            t0 = now_ms()
            results = run_op(name, self.spark, self.sf_dir, self.specs, fetch)
            t1 = now_ms()
            d = self.tree.sample() - c0
            cpu = cpu + d
            wall_ms += t1 - t0
            rec = {"op": name, "wall_ms": t1 - t0, "cpu": d}
            if self.traced:
                rec.update(self.trace_op(name, t0, t1, fetch, jvm0, load0))
            rec["checks"] = [self.check(r) for r in results]
            ops.append(rec)
        elapsed_s = time.time() - t_start
        steal1 = host_cpu_times()
        counts = total(self.reader.read(details=k == 0 and not self.traced))
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        _log(
            f"pass {k}: {len(order)} ops, wall {wall_ms / 1e3:.2f} s, "
            f"cpu {cpu.total:.2f} CPU-s, host steal {100 * steal:.1f}%"
        )
        return {
            "elapsed_s": elapsed_s,
            "clear_s": clear_s,
            "wall_s": wall_ms / 1e3,
            "cpu": cpu,
            "steal": steal,
            "counts": counts,
            "ops": ops,
        }

    def check(self, r) -> str:
        from canon import result_hash

        self.attempted += 1
        if r.error is not None:
            self.failed += 1
            _log(f"FAILED {r.label}: {r.error[:300]}")
            return "error"
        if r.oracle is None:
            return "ok"
        got = result_hash(r.cols, r.rows)
        if got != self.oracle["specs"][r.oracle]["sha"]:
            self.failed += 1
            self.mismatched += 1
            _log(f"MISMATCH {r.label}: {got} != oracle {self.oracle['specs'][r.oracle]['sha']}")
            return "mismatch"
        return "ok"

    # ------------------------------------------------------------------ tracing
    def trace_op(self, name, t0, t1, fetch, jvm0, load0) -> dict:
        from probes import clip, total, union_ms

        jvm1 = self.gauges.sample()
        per_job = self.reader.read(intervals=True)
        jobs = total(per_job)
        window = [(t0, t1)]
        exec_ms = union_ms(clip(jobs.intervals, window))
        exec_in_fetch = union_ms(clip(jobs.intervals, fetch.windows))
        fetch_ms = sum(e - s for s, e in fetch.windows)
        memo_hits = self.memos.finish(name)
        memo_entries, persisted_mb = self.memo_state()
        return {
            "family": self.family(name),
            "build_s": ((t1 - t0) - fetch_ms - (exec_ms - exec_in_fetch)) / 1e3,
            "exec_s": exec_ms / 1e3,
            "fetch_s": (fetch_ms - exec_in_fetch) / 1e3,
            "fetch_mb": fetch.bytes / 1e6,
            "load_s": self.loads.seconds - load0,
            "phases_ms": fetch.phases,
            "jobs": jobs,
            "spans": {
                sub: (
                    (e - s) / 1e3,
                    total(
                        j for j in per_job if j.intervals and s <= j.intervals[0][0] < e
                    ),
                )
                for sub, (s, e) in fetch.spans.items()
            },
            "jit_ms": jvm1.jit_ms - jvm0.jit_ms,
            "gc_ms": jvm1.gc_ms - jvm0.gc_ms,
            "codegen_ms": (jvm1.codegen_ns - jvm0.codegen_ns) / 1e6,
            "codegen_classes": jvm1.codegen_classes - jvm0.codegen_classes,
            "memo_entries": memo_entries,
            "memo_hits": memo_hits,
            "persisted_mb": persisted_mb,
        }

    def family(self, name: str) -> str:
        if name == "daily_pipeline":
            return "orchestration"
        spec = self.specs[name]
        if spec.kind == "materialization":
            return "models"
        return spec.spark.__module__.rsplit(".", 1)[-1]

    def memo_state(self) -> tuple[int, float]:
        entries = sum(len(v) for v in self.memos.memos().values())
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
        return entries, mb

    # ------------------------------------------------------------------ report
    def report(self, passes: list[dict]) -> None:
        cold, warm = passes[0], passes[1:]
        warm_steal = ", ".join(f"{100 * p['steal']:.1f}%" for p in warm)
        _log(
            f"wall.cold_s {cold['wall_s']:.2f} (steal {100 * cold['steal']:.1f}%), "
            f"wall.warm_s {statistics.median(p['wall_s'] for p in warm):.2f} "
            f"(steal {warm_steal}), {len(warm)} warm passes"
        )
        if self.traced:
            metrics = self.layer_metrics(passes)
        else:
            c = cold["counts"]
            metrics = {
                # CPU seconds; the benchmark's set-up metric is declared in s
                "setup_s": (self.setup_s, "s"),
                "cold_cpu_s": (cold["cpu"].total, "CPU-s"),
                "warm_cpu_s": (statistics.median(p["cpu"].total for p in warm), "CPU-s"),
                "spark_jobs": (c.jobs, "count"),
                "shuffle_mb": (c.shuffle_write_b / 1e6, "MB"),
                "scan_mb": (c.input_b / 1e6, "MB"),
            }
        print(
            json.dumps(
                {
                    "correct": self.mismatched == 0,
                    "attempted": self.attempted,
                    "failed": self.failed,
                    "metrics": {
                        k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()
                    },
                }
            ),
            flush=True,
        )

    def layer_metrics(self, passes: list[dict]) -> dict:
        from probes import total
        from workloads import FAMILIES

        cold = passes[0]
        ops = cold["ops"]
        m: dict[str, tuple[float, str]] = {}
        for rec in ops:  # one line per operation of the cold pass
            j = rec["jobs"]
            print(
                json.dumps(
                    {
                        "op": rec["op"],
                        "family": rec["family"],
                        "wall_s": round(rec["wall_ms"] / 1e3, 4),
                        "build_s": round(rec["build_s"], 4),
                        "exec_s": round(rec["exec_s"], 4),
                        "fetch_s": round(rec["fetch_s"], 4),
                        "cpu_s": round(rec["cpu"].total, 3),
                        "jobs": j.jobs,
                        "stages": j.stages,
                        "tasks": j.tasks,
                        "shuffle_mb": round(j.shuffle_write_b / 1e6, 3),
                        "scan_mb": round(j.input_b / 1e6, 3),
                        "codegen_ms": round(rec["codegen_ms"], 1),
                        "memo_hits": rec["memo_hits"],
                        "phases_ms": rec["phases_ms"],
                        "spans": {
                            k: {"wall_s": round(w, 4), "jobs": js.jobs}
                            for k, (w, js) in rec["spans"].items()
                        },
                        "checks": rec["checks"],
                    }
                )
            )
        tot = total(r["jobs"] for r in ops)

        def fam(names):
            sel = [r for r in ops if r["family"] in names]
            return sum(r["wall_ms"] for r in sel) / 1e3, total(r["jobs"] for r in sel)

        def spans(prefix):  # scheduler jobs of daily_pipeline
            sel = [v for r in ops for k, v in r["spans"].items() if k.startswith(prefix)]
            return sum(w for w, _ in sel), total(js for _, js in sel)

        def ops_sum(key):
            return sum(r[key] for r in ops)

        m["session.start_s"] = (self.layer["session.start_s"], "s")
        m["session.warmup_s"] = (self.layer["session.warmup_s"], "s")
        m["wall.setup_s"] = (self.layer["wall.setup_s"], "s")
        m["session.clear_caches_s"] = (passes[1]["clear_s"], "s")
        m["memo.entries"] = (max(r["memo_entries"] for r in ops), "count")
        m["memo.persisted_mb"] = (max(r["persisted_mb"] for r in ops), "MB")
        m["memo.cross_op_hits"] = (ops_sum("memo_hits"), "count")
        m["sources.load_s"] = (ops_sum("load_s"), "s")
        m["sources.staged_mb"] = (_du_mb(os.path.join(ROOT, DERIVED_DIRS[0]))[0], "MB")
        m["plans.build_s"] = (ops_sum("build_s"), "s")
        for phase in ("analysis", "optimization", "planning"):
            m[f"plans.{phase}_ms"] = (
                sum(r["phases_ms"].get(phase, 0) for r in ops),
                "ms",
            )
        m["codegen.compile_ms"] = (ops_sum("codegen_ms"), "ms")
        m["codegen.classes"] = (ops_sum("codegen_classes"), "count")
        wall, js = fam({"models"})
        files = sum(_du_mb(os.path.join(ROOT, d))[1] for d in DERIVED_DIRS[2:6])
        m["models.run_s"] = (wall, "s")
        m["models.jobs"] = (js.jobs, "count")
        m["models.write_mb"] = (js.output_b / 1e6, "MB")
        m["models.files"] = (files, "count")
        wall, js = spans("dq_")
        m["dq.run_s"] = (wall, "s")
        m["dq.jobs"] = (js.jobs, "count")
        wall, js = spans("data_profiling")
        m["profile.run_s"] = (wall, "s")
        m["profile.scan_mb"] = (js.input_b / 1e6, "MB")
        for f in FAMILIES:
            wall, js = fam({f})
            m[f"{f}.wall_s"] = (wall, "s")
            m[f"{f}.jobs"] = (js.jobs, "count")
            m[f"{f}.shuffle_mb"] = (js.shuffle_write_b / 1e6, "MB")
        m["python.worker_cpu_s"] = (sum(r["cpu"].workers for r in ops), "CPU-s")
        m["fetch.arrow_s"] = (ops_sum("fetch_s"), "s")
        m["fetch.mb"] = (ops_sum("fetch_mb"), "MB")
        m["exec.jobs_s"] = (ops_sum("exec_s"), "s")
        m["exec.stages"] = (tot.stages, "count")
        m["exec.tasks"] = (tot.tasks, "count")
        m["exec.task_attempts"] = (tot.task_attempts, "count")
        m["exec.executor_run_s"] = (tot.executor_run_ms / 1e3, "s")
        m["exec.gc_s"] = (tot.gc_ms / 1e3, "s")
        m["exec.shuffle_read_mb"] = (tot.shuffle_read_b / 1e6, "MB")
        m["exec.spill_mb"] = (tot.spill_b / 1e6, "MB")
        m["jvm.cpu_s"] = (sum(r["cpu"].jvm for r in ops), "CPU-s")
        m["jvm.jit_ms"] = (ops_sum("jit_ms"), "ms")
        m["jvm.gc_ms"] = (ops_sum("gc_ms"), "ms")
        m["jvm.peak_rss_mb"] = (self.tree.peak_rss_mb(), "MB")
        m["wall.cold_s"] = (cold["wall_s"], "s")
        m["wall.warm_s"] = (statistics.median(p["wall_s"] for p in passes[1:]), "s")
        m["host.steal_pct"] = (100 * cold["steal"], "%")
        m["layers.coverage"] = (
            (ops_sum("build_s") + ops_sum("exec_s") + ops_sum("fetch_s"))
            / cold["elapsed_s"],
            "ratio",
        )
        return m


if __name__ == "__main__":
    sys.exit(main())
