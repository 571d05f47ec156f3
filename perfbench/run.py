"""Benchmark of the query registry: one workload, timed from set-up to a checked result.

Run from the repository root:

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 15 --trace 0

One process, one client, one query at a time (a closed loop), as the
verification driver and the daily cron job run the registry:

1. generate the workload's input tables from ``--seed`` (perfbench/datagen.py);
2. set up, timed as ``setup_s``: import the engine, start a host-sized
   session (``session.get_spark``), ``registry.load_all_queries()``, and run
   the warm-up query (``flagship``);
3. the check pass, untimed: ``oracle.check_query`` against DuckDB for every
   oracle-backed workload query, a plain execution for the others;
4. one warm-up pass: every pass resets the graph edge memo and builds and
   materializes (noop sink) every workload query once, in one order fixed by
   the seed for the whole run;
5. measured passes until ``--seconds`` have passed and at least three ran;
   their median is ``wall_s``. Every pass must return the same row count per
   query as the first;
6. stop Spark and its JVM, count what the run left in its private TMPDIR,
   and remove the run's directory.

``--trace 1`` records spans around each of those calls, turns on Spark's
event log, and reports the per-layer metrics named in BENCHMARK.json in
place of the end-to-end ones. It adds the cold pass (``cold_wall_s``), a
plain pass right after set-up, before the check pass. Traced and untraced
measured passes alternate so that the run also reports its own tracing
overhead.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pathlib
import platform
import random
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
sys.path.insert(1, str(pathlib.Path(__file__).resolve().parent.parent))

import datagen  # noqa: E402
import tracing as tr  # noqa: E402

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "air_quality_data_pipeline_spark"
WARMUP_QUERY = "flagship"
MIN_MEASURED_PASSES = 3
# A run takes about a minute on four quiet cores, so that 22 runs of each
# workload fit in under an hour. On a slowed host, no further measured pass
# starts once the elapsed time plus that many passes (one to run, the rest for
# shutdown) would pass this budget; the first measured pass always runs.
RUN_BUDGET_S = 80.0
BUDGET_PASSES_AHEAD = 1.5


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]


# Why each workload exists is recorded in BENCHMARK.json and perfbench/README.md.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_pipeline",
            0.01,
            (
                "flagship",
                "join_dim",
                "agg_cube",
                "topk",
                "win_latest",
                "flt_geo",
                "f_haversine",
                "snk_csv",
                "st_ingest",
                "udf_scalar",
            ),
        ),
        Workload(
            "llm_graph",
            0.01,
            ("agg_spearman", "graph_triangles", "mm_decode"),
        ),
    )
}


@dataclass
class QueryRun:
    name: str
    build_s: float
    exec_s: float
    rows: int | None
    error: str | None = None


@dataclass
class PassRun:
    index: int
    kind: str  # "cold", "warmup" or "measured"
    traced: bool
    wall_s: float
    queries: list[QueryRun]
    cpu_s: float  # CPU seconds of the run's processes during the pass
    steal: float  # the host's CPU steal share during the pass


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the host's CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[1] - before[1]) / max(1, after[0] - before[0])


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by process ``root`` and every
    live process below it, plus what they have reaped from their children."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / tick


def git_commit() -> str:
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return "unknown"
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        ref_file = ROOT / ".git" / ref[5:]
        return ref_file.read_text().strip() if ref_file.is_file() else "unknown"
    return ref


def declared_metrics() -> dict[str, dict[str, str]]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def module_of(builder) -> str:
    return builder.__module__.removeprefix(PACKAGE + ".")


class Run:
    """One benchmark run: owns the private directories, the session and the JVM."""

    def __init__(self, workload: Workload, seed: int, seconds: float, trace: bool):
        self.workload, self.seconds, self.trace = workload, seconds, trace
        self.cores = host_cores()
        self.mem_gb = host_mem_gb()
        self.tracer = tr.Tracer(trace)
        self.dir = ROOT / ".perfbench" / f"run-{workload.name}-{seed}-{os.getpid()}"
        self.tmp = self.dir / "tmp"
        self.events = self.dir / "events"
        self.attempted = 0
        self.failures: list[str] = []
        self.passes: list[PassRun] = []
        self.layer: dict[str, float] = {}
        self.query_layers: dict[str, list[dict[str, float]]] = {}
        self.spark = None
        self.cold: PassRun | None = None
        self.n_unmeasured = 0
        self.proc_start = time.monotonic()

    # -- environment -----------------------------------------------------------

    def make_hermetic(self) -> None:
        """Keep every file the run writes inside its own directory."""
        for sub in ("tmp", "local", "warehouse", "events", "data"):
            (self.dir / sub).mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(self.tmp)
        tempfile.tempdir = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.dir / "local")
        driver_mem_gb = max(1, int(self.mem_gb / 4))
        os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_mem_gb}g"
        # Every JVM the run starts (the spark-submit launcher and the driver)
        # keeps its temp files here; without -UsePerfData HotSpot writes
        # /tmp/hsperfdata_<user> whatever java.io.tmpdir says.
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.dir / "warehouse"),
        }
        if self.trace:
            confs |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.events.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> float:
        t0 = time.perf_counter()
        span = self.tracer.span
        with span("setup", qid="setup"):
            import pyspark.sql.functions as F
            from pyspark.sql import Observation

            from air_quality_data_pipeline_spark import oracle, registry, session
            from air_quality_data_pipeline_spark.operators import graph

            self.F, self.Observation = F, Observation
            self.oracle, self.graph = oracle, graph
            with span("session.get_spark"):
                self.spark = session.get_spark(
                    app_name="perfbench",
                    master=f"local[{self.cores}]",
                    shuffle_partitions=self.cores,
                )
            self.sc = self.spark.sparkContext
            self.sc.setLogLevel("ERROR")
            with span("registry.load_all_queries"):
                self.specs = registry.load_all_queries()
            if self.trace:
                self.wrap_apply_engine_conf(session)
            with span("warmup"):
                warm = self.run_query(WARMUP_QUERY, "warmup")
            self.count(warm, None)
        setup_s = time.perf_counter() - t0
        if self.trace:
            for s in self.tracer.spans:
                if s.name in ("session.get_spark", "registry.load_all_queries"):
                    self.layer[f"{s.name}_s"] = s.end - s.start
        return setup_s

    def wrap_apply_engine_conf(self, session) -> None:
        """Span every call of session.apply_engine_conf, which builders make
        through the name each module imported."""
        original = session.apply_engine_conf
        tracer = self.tracer

        def traced_apply_engine_conf(*args, **kwargs):
            with tracer.span("session.apply_engine_conf"):
                return original(*args, **kwargs)

        for name, mod in list(sys.modules.items()):
            if name.startswith(PACKAGE) and getattr(mod, "apply_engine_conf", None) is original:
                mod.apply_engine_conf = traced_apply_engine_conf

    # -- timed work ------------------------------------------------------------

    def run_query(self, name: str, qid: str) -> QueryRun:
        spec = self.specs[name]
        module = module_of(spec.builder)
        span = self.tracer.span
        traced = self.tracer.enabled
        if traced:
            self.sc.setLocalProperty(tr.QID_PROPERTY, qid)
        try:
            with span("query", qid=qid):
                t0 = time.perf_counter()
                with span(f"{module}.build"):
                    df = spec.builder(self.spark, self.data_dir)
                t1 = time.perf_counter()
                with span(f"{module}.exec"):
                    obs = self.Observation()
                    counted = df.observe(obs, self.F.count(self.F.lit(1)).alias("rows"))
                    counted.write.format("noop").mode("overwrite").save()
                    rows = obs.get["rows"]
                t2 = time.perf_counter()
            if traced:
                self.sample_storage()
            return QueryRun(name, t1 - t0, t2 - t1, rows)
        except Exception as exc:  # one failing query must not end the run
            return QueryRun(name, math.nan, math.nan, None, f"{type(exc).__name__}: {exc}"[:300])
        finally:
            if traced:
                self.sc.setLocalProperty(tr.QID_PROPERTY, None)

    def sample_storage(self) -> None:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        cached = sum(i.memSize() + i.diskSize() for i in infos) / tr.MB
        self.layer["storage.cached_mb_peak"] = max(self.layer.get("storage.cached_mb_peak", 0.0), cached)
        self.layer["storage.persisted_rdds"] = max(self.layer.get("storage.persisted_rdds", 0), len(infos))

    def count(self, q: QueryRun, expected_rows: int | None) -> None:
        """Count one execution; a failure or a changed row count fails it."""
        self.attempted += 1
        if q.error:
            self.failures.append(f"{q.name}: {q.error}")
        elif expected_rows is not None and q.rows != expected_rows:
            self.failures.append(f"{q.name}: {q.rows} rows, first pass had {expected_rows}")

    def run_pass(self, index: int, order: list[str], kind: str, traced: bool) -> PassRun:
        self.tracer.enabled = traced
        ticks0 = cpu_ticks()
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        results = []
        with self.tracer.span("pass", qid=f"pass{index}"):
            with self.tracer.span("operators.graph.reset_edge_memo"):
                self.graph.reset_edge_memo()
            for name in order:
                results.append(self.run_query(name, f"{index}:{name}"))
        wall_s = time.perf_counter() - t0
        cpu_s = tree_cpu_s(os.getpid()) - cpu0
        steal = steal_share(ticks0, cpu_ticks())
        run = PassRun(index, kind, traced, wall_s, results, cpu_s, steal)
        first = self.passes[0].queries if self.passes else results
        for q, q0 in zip(results, first):
            self.count(q, q0.rows if self.passes else None)
        self.tracer.enabled = self.trace
        return run

    def timed_passes(self, order: list[str]) -> None:
        """Run the passes: in a traced run the cold pass first; then the
        untimed check pass, one warm-up pass, and measured passes until
        ``seconds`` have passed and at least MIN_MEASURED_PASSES have run.

        Passes keep speeding up for several passes after the first (JIT), so
        the pass after the check pass only warms. An untraced run leaves out
        the cold pass, whose time is a per-layer metric, and its check pass
        is the first execution of every query. In a traced run, measured
        passes alternate traced and untraced, starting with a traced one, so
        that the run also reports its tracing overhead."""
        if self.trace:
            self.cold = self.run_pass(0, order, "cold", traced=True)
            self.passes.append(self.cold)
        t_start = time.monotonic()
        self.check_pass(order)
        self.check_s = time.monotonic() - t_start
        self.passes.append(self.run_pass(len(self.passes), order, "warmup", traced=False))
        self.n_unmeasured = len(self.passes)
        t_start = time.monotonic()
        while True:
            measured = len(self.passes) - self.n_unmeasured
            traced = self.trace and measured % 2 == 0
            self.passes.append(self.run_pass(len(self.passes), order, "measured", traced))
            now = time.monotonic()
            if measured + 1 >= MIN_MEASURED_PASSES and now - t_start >= self.seconds:
                break
            ahead = BUDGET_PASSES_AHEAD * self.passes[-1].wall_s
            if now - self.proc_start + ahead > RUN_BUDGET_S:
                break

    @property
    def measured(self) -> list[PassRun]:
        return self.passes[self.n_unmeasured :]

    def check_pass(self, order: list[str]) -> None:
        """Untimed pass before the warm-up pass: oracle-check every
        oracle-backed query and materialize the others. It also warms every
        query before the measured passes."""
        self.tracer.enabled = self.trace
        self.graph.reset_edge_memo()
        cold_rows = {q.name: q.rows for q in self.cold.queries} if self.cold else {}
        for name in order:
            spec = self.specs[name]
            if spec.oracle is None:
                self.count(self.run_query(name, f"check:{name}"), cold_rows.get(name))
                continue
            self.attempted += 1
            try:
                with self.tracer.span("oracle.check_query", qid=f"check:{name}"):
                    problems = self.oracle.check_query(
                        spec.builder(self.spark, self.data_dir), spec.oracle, self.data_dir
                    )
            except Exception as exc:  # a crashing check is a failed check
                problems = [f"{type(exc).__name__}: {str(exc)[:300]}"]
            if problems:
                self.failures.append(f"oracle {name}: {'; '.join(problems)}")

    def scan_tables(self) -> None:
        """Time tables.table() + noop for every fixture table, once per run."""
        from air_quality_data_pipeline_spark import tables

        for name in tables.TABLE_NAMES:
            qid = f"scan:{name}"
            self.sc.setLocalProperty(tr.QID_PROPERTY, qid)
            t0 = time.perf_counter()
            with self.tracer.span("tables.table", qid=qid):
                tables.table(self.spark, self.data_dir, name).write.format("noop").mode(
                    "overwrite"
                ).save()
            self.layer[f"tables.scan_s.{name}"] = time.perf_counter() - t0
        self.sc.setLocalProperty(tr.QID_PROPERTY, None)

    # -- shutdown --------------------------------------------------------------

    def stop(self) -> None:
        """Stop the session and wait for its JVM (and the JVM's Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.trace:
            pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
            self.layer["session.jvm_peak_rss_mb"] = vm_hwm_mb(pid)
        java = self.spark._jvm.java.lang.System.getProperty("java.version")
        self.versions = {"spark": self.spark.version, "java": java}
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    # -- results ---------------------------------------------------------------

    def timings(self, setup_s: float) -> dict[str, float]:
        per_query = {}
        for name in self.workload.queries:
            ok = [q.build_s + q.exec_s for p in self.measured for q in p.queries if q.name == name and not q.error]
            if ok:
                per_query[name] = statistics.median(ok)
        out = {
            "setup_s": setup_s,
            "wall_s": statistics.median(p.wall_s for p in self.measured),
            "query_geomean_s": math.exp(
                statistics.fmean(math.log(v) for v in per_query.values())
            ),
        }
        if self.cold:
            out["cold_wall_s"] = self.cold.wall_s
        return out

    def layer_metrics(self, specs_module: dict[str, str]) -> None:
        """Fill self.layer from the spans and the event log of the traced passes."""
        (log_file,) = [f for f in self.events.iterdir() if not f.name.startswith(".")]
        log = tr.read_event_log(log_file)
        spans = self.tracer.spans
        traced = [p for p in self.measured if p.traced]
        untraced = [p for p in self.measured if not p.traced]
        self.layer["trace.overhead_s"] = statistics.median(p.wall_s for p in traced) - statistics.median(
            p.wall_s for p in untraced
        )
        scan_tasks = [t for t in log.tasks if (t["qid"] or "").startswith("scan:")]
        self.layer["tables.scan_rows"] = sum(t["input_rows"] for t in scan_tasks)

        per_pass: list[dict[str, float]] = []
        for p in traced:
            qids = {f"{p.index}:{q}" for q in self.workload.queries}
            m = tr.pass_counters(log, qids, p.wall_s, self.cores)
            windows = []
            for s in spans:
                if s.name != "query" or s.qid not in qids:
                    continue
                windows.append((s.start, s.end))
                name = s.qid.split(":", 1)[1]
                mod = specs_module[name]
                qc = tr.query_counters(log, s.qid, s.start, s.end)
                q_spans = [x for x in spans if x.qid == s.qid]
                build = sum(x.end - x.start for x in q_spans if x.name.endswith(".build"))
                exe = sum(x.end - x.start for x in q_spans if x.name.endswith(".exec"))
                row = {"build_s": build, "exec_s": exe, **qc}
                busy = sum(t["run_ms"] for t in log.tasks if t["qid"] == s.qid) / 1000
                self.query_layers.setdefault(name, []).append({**row, "task_busy_s": busy})
                for k, v in row.items():
                    m[f"{mod}.{k}"] = m.get(f"{mod}.{k}", 0) + v
            m |= tr.streaming_counters(log, windows)
            m["session.apply_engine_conf_s"] = sum(
                s.end - s.start
                for s in spans
                if s.name == "session.apply_engine_conf" and s.qid in qids
            )
            per_pass.append(m)
        for key in {k for m in per_pass for k in m}:
            self.layer[key] = statistics.median(m.get(key, 0) for m in per_pass)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", type=float, default=None, help="override the workload's scale factor (self-test)"
    )
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "registry.py").is_file():
        print(f"perfbench: the program ({PACKAGE}/) is missing from {ROOT}", file=sys.stderr)
        return 2
    declared = declared_metrics()
    workload = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else workload.sf
    run = Run(workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(run.dir, ignore_errors=True)
    run.make_hermetic()
    order = list(workload.queries)
    random.Random(args.seed).shuffle(order)
    ticks0 = cpu_ticks()
    try:
        try:
            t0 = time.monotonic()
            run.data_dir = str(datagen.write_tables(run.dir / "data", args.seed, sf))
            datagen_s = time.monotonic() - t0
            setup_s = run.setup()
            if run.trace:
                run.scan_tables()
            run.timed_passes(order)
        finally:
            run.stop()
        tmp_left = sum(1 for _ in run.tmp.iterdir())
        specs_module = {n: module_of(run.specs[n].builder) for n in workload.queries}
        if run.trace:
            run.layer_metrics(specs_module)
            run.tracer.write(ROOT / ".perfbench" / "traces" / f"{workload.name}-seed{args.seed}.jsonl")
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)

    e2e = run.timings(setup_s)
    host = {
        "cores": run.cores,
        "mem_gb": round(run.mem_gb, 1),
        "sf": sf,
        "python": platform.python_version(),
        **run.versions,
        "commit": git_commit(),
    }
    steal = steal_share(ticks0, cpu_ticks())
    print(f"host {json.dumps(host)}")
    print(
        f"run datagen_s {datagen_s:.3f} check_s {run.check_s:.3f} total_s {time.monotonic() - run.proc_start:.3f} "
        f"host_steal_share {steal:.3f}"
    )
    print(f"workload {workload.name} seed {args.seed} order {' '.join(order)}")
    for p in run.passes:
        per_query = " ".join(f"{q.name}={q.build_s + q.exec_s:.3f}" for q in p.queries)
        print(
            f"pass {p.index} {p.kind} {'traced' if p.traced else 'untraced'} wall_s {p.wall_s:.3f} "
            f"steal {p.steal:.3f} cpu_s {p.cpu_s:.2f} {per_query}"
        )
    for name in order:
        runs = [q for p in run.measured for q in p.queries if q.name == name and not q.error]
        if runs:
            print(
                f"query {name} module {specs_module[name]} rows {runs[0].rows} "
                f"build_s {statistics.median(q.build_s for q in runs):.3f} "
                f"exec_s {statistics.median(q.exec_s for q in runs):.3f}"
            )
        if run.trace and name in run.query_layers:
            med = {k: statistics.median(r[k] for r in run.query_layers[name]) for k in run.query_layers[name][0]}
            print(f"layers {name} " + " ".join(f"{k} {v:.3f}" for k, v in med.items()))
    for f in run.failures:
        print(f"FAILED {f}")
    shown = {**e2e, "error_rate": len(run.failures) / run.attempted, "tmp_entries_left": tmp_left}
    units = {**declared["end_to_end"], **declared["per_layer"]}
    for k, v in shown.items():
        print(f"metric {k} {v:.6g} {units.get(k, '')}")

    kind = "per_layer" if run.trace else "end_to_end"
    values = {**run.layer, **shown}
    unknown = sorted(set(values) - set(units))
    if unknown:
        print(f"perfbench: metrics not declared in BENCHMARK.json: {unknown}", file=sys.stderr)
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in declared[kind].items()
    }
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": run.attempted,
                "failed": len(run.failures),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
