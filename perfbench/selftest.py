"""Self-test of the benchmark: every workload at the small corpus.

    python3 perfbench/selftest.py

Run from the repository root. For each workload it runs
perfbench/run.py on perfbench/data/sf0.001, untraced and traced, and
asserts that every output check passed with no failed operation, that
the result line carries every metric BENCHMARK.json names (end-to-end
untraced, per-layer traced) with its unit, and that the line before it
carries the workload's own metrics with their units. It also checks
that the benchmark refuses to run, without printing a result, from a
directory that holds only BENCHMARK.json and perfbench/.
"""
import json
import numbers
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
SMALL = BENCH / "data" / "sf0.001"

# The metrics each workload prints on the line before its result.
OWN = {
    "rag": {"chunks_per_s": "1/s", "index_bytes_per_chunk": "B",
            "answer_p50_ms": "ms", "Index.extra_points": "count",
            "Rag.search.extra_citations": "count"},
    "ann": {"ann_build_s": "s", "recall_at_10": "ratio"},
}
ALWAYS = {"setup_s": "s", "peak_storage_mb": "MB"}


def run(workload, trace, cwd=ROOT, runner=BENCH / "run.py", small=True):
    data = ["--data", str(SMALL)] if small else []
    return subprocess.run(
        [sys.executable, str(runner), "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", trace, *data],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def has(metrics, name, unit, where):
    m = metrics.get(name)
    assert m is not None, f"{where}: {name} missing"
    assert m["unit"] == unit, f"{where}: {name} unit {m['unit']} != {unit}"
    assert isinstance(m["value"], numbers.Number), f"{where}: {name} value"


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for workload in OWN:
        for trace in ("0", "1"):
            where = f"{workload} trace={trace}"
            p = run(workload, trace)
            assert p.returncode == 0, f"{where}: exit {p.returncode}\n{p.stderr}"
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            side = json.loads(lines[-2])["perfbench"]
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] and result["failed"] == 0, \
                f"{where}: output check failed\n{p.stderr}"
            assert result["attempted"] >= 1
            names = spec["per_layer"] if trace == "1" else spec["end_to_end"]
            for m in names:
                has(result["metrics"], m["name"], m["unit"], where)
            for name, unit in OWN[workload].items():
                has(side["workload_metrics"], name, unit, where)
            for name, unit in ALWAYS.items():
                has(side["end_to_end"], name, unit, where)
            for key in ("calib_pre_s", "calib_post_s"):
                assert isinstance(side[key], numbers.Number), where
            print(f"ok  {where}: {result['attempted']} operations")

    # a checkout holding only the benchmark must fail, printing no result
    bare = BENCH / ".work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(BENCH, bare / "perfbench",
                    ignore=shutil.ignore_patterns(".build", ".work",
                                                  "__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    p = run("ann", "0", cwd=bare, runner=bare / "perfbench" / "run.py",
            small=False)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0, "bare checkout: benchmark ran"
    assert '"metrics"' not in p.stdout, "bare checkout: printed a result"
    print("ok  bare checkout refused")


if __name__ == "__main__":
    main()
