"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <rag|ann> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark
from source on first use (perfbench/build.py), then runs
perfbench.Main in one JVM with Spark in local mode. Everything the run
writes stays under perfbench/.work/ and is removed when it ends.
`--data <dir>` picks another corpus directory (the self-test uses the
small one).
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402

TIMEOUT_S = 170
WORKLOADS = ("rag", "ann")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
# Spark runs local[CORES] on half the machine's cores, so that its
# executor threads do not compete with the driver thread, the JIT and
# the collector. On a 4-vCPU host two executor threads work as fast as
# four (see README.md).
CORES = max(1, (os.cpu_count() or 2) // 2)


def parse():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--data", default=str(BENCH / "data" / "sf0.1"))
    return p.parse_args()


def main():
    a = parse()
    data = pathlib.Path(a.data).resolve()
    if not (data / "documents.parquet").exists():
        raise SystemExit(f"run: no corpus under {data}")
    classpath = build.build()
    work = BENCH / ".work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xms2g", "-Xmx2g",
           *[x for o in JDK_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'tmp'}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--data", str(data), "--work", str(work),
           "--cores", str(CORES)]
    log = work.parent / f"{a.workload}-{os.getpid()}.log"
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                    text=True)
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                out, _ = proc.communicate()
                sys.stderr.write(f"run: timed out after {TIMEOUT_S} s\n")
        lines = [l for l in out.splitlines() if l.strip()]
        for l in log.read_text().splitlines():
            if l.startswith("[perfbench]"):
                sys.stderr.write(l + "\n")
        result = None
        if proc.returncode == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if not isinstance(result, dict) or set(result) != RESULT_KEYS:
            sys.stderr.write(log.read_text()[-6000:])
            raise SystemExit(f"run: no result (exit {proc.returncode})")
        if a.trace == "1":
            spans = work / "spans.json"
            if spans.exists():
                shutil.copy(spans, BENCH / ".work" / f"spans-{a.workload}.json")
        for line in lines[:-1]:
            print(line)
        print(json.dumps(result, separators=(",", ":")))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        log.unlink(missing_ok=True)


if __name__ == "__main__":
    main()
