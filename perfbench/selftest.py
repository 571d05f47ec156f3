"""Fast self-test of the benchmark harness.

    python3 perfbench/selftest.py

Checks, in about two minutes on four cores:

1. span arithmetic on a synthetic span tree: nesting checks and self time
   (a span's duration minus the part its children cover);
2. every workload, traced, at sf0.001 for one short run: the last stdout
   line has exactly the result keys, its metrics are exactly the per-layer
   metrics of BENCHMARK.json with their units, the end-to-end metrics are
   printed by name and unit, every check passed, and the span file nests;
3. a directory holding only BENCHMARK.json and perfbench/ makes the
   benchmark exit non-zero without printing a result.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import math
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def check_span_arithmetic() -> None:
    spans = [
        Span("root", 0.0, 10.0, None, "q"),
        Span("a", 1.0, 4.0, 0, "q"),
        Span("b", 5.0, 9.0, 0, "q"),
        Span("b1", 6.0, 7.0, 2, "q"),
        Span("b2", 6.5, 8.0, 2, "q"),  # overlaps b1: covered once
    ]
    expect(tracing.check_nesting(spans) == [], "valid tree reported as malformed")
    expect(
        [round(t, 9) for t in tracing.self_times(spans)] == [3.0, 3.0, 2.0, 1.0, 1.5],
        f"self times {tracing.self_times(spans)}",
    )
    expect(tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4, "interval union")
    outside = spans[:2] + [Span("late", 9.5, 11.0, 0, "q")]
    expect(len(tracing.check_nesting(outside)) == 1, "child outside its parent not reported")
    backwards = [Span("c", 1.0, 2.0, 1, "q"), Span("p", 0.0, 3.0, None, "q")]
    expect(len(tracing.check_nesting(backwards)) == 1, "parent after child not reported")


def check_workload(name: str, declared: dict[str, dict[str, str]]) -> None:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", name, "--seed", "1"]
    cmd += ["--seconds", "1", "--trace", "1", "--sf", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    expect(out.returncode == 0, f"{name}: exit {out.returncode}\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    expect(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{name}: keys {set(result)}")
    expect(result["correct"] is True and result["failed"] == 0, f"{name}: {lines[:-1]}")
    expect(isinstance(result["attempted"], int) and result["attempted"] >= 1, f"{name}: attempted")
    metrics = result["metrics"]
    expect(set(metrics) == set(declared["per_layer"]), f"{name}: per-layer names differ")
    for key, m in metrics.items():
        expect(m["unit"] == declared["per_layer"][key], f"{name}: unit of {key}")
        expect(math.isfinite(m["value"]), f"{name}: {key} = {m['value']}")
    expect("not declared" not in out.stderr, f"{name}: undeclared metrics\n{out.stderr[-500:]}")
    shown = {ln.split()[1]: ln.split()[3:] for ln in lines if ln.startswith("metric ")}
    for key, unit in declared["end_to_end"].items():
        expect(shown.get(key) == [unit], f"{name}: end-to-end metric {key} not printed with {unit}")
    spans_file = ROOT / ".perfbench" / "traces" / f"{name}-seed1.jsonl"
    spans = [
        Span(d["name"], d["start"], d["end"], d["parent"], d["qid"])
        for d in map(json.loads, spans_file.read_text().splitlines())
    ]
    expect(spans and tracing.check_nesting(spans) == [], f"{name}: span file does not nest")
    expect(
        all(s.qid for s in spans if s.name.endswith((".build", ".exec"))),
        f"{name}: query spans without a query id",
    )
    print(f"selftest: {name} ok ({result['attempted']} operations, {len(spans)} spans)")


def check_bare_directory() -> None:
    bare = ROOT / ".perfbench" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    cmd = [sys.executable, "perfbench/run.py", "--workload", "etl_pipeline", "--seed", "1"]
    cmd += ["--seconds", "1", "--trace", "0"]
    out = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    expect(out.returncode != 0 and not out.stdout.strip(), "bare directory did not fail cleanly")


def main() -> None:
    check_span_arithmetic()
    print("selftest: span arithmetic ok")
    check_bare_directory()
    print("selftest: bare directory fails ok")
    declared = run.declared_metrics()
    for name in run.WORKLOADS:
        check_workload(name, declared)
    print("selftest: all checks passed")


if __name__ == "__main__":
    main()
