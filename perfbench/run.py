"""Intake benchmark: the paper's own run (VCO extract -> gold transform
-> JDBC upsert), one workload per invocation.

    python3 perfbench/run.py --workload gold_load --seed 1 --seconds 10 --trace 0

builds the library and the benchmark from source (see build.py), runs
one JVM on local[nproc], and prints as its last stdout line one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1.

    python3 perfbench/run.py --summary [--runs 5] [--seconds 10]

runs every workload --runs times on seeds 1..runs plus one traced run
each, and prints every end-to-end metric by name with its unit,
median, high value and sample count, fail_frac, and the per-layer
metrics.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One JVM run; returns the parsed result or raises RuntimeError."""
    _, cp = build.build()
    work = build.OUT / "work" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xss8m",
        "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dderby.stream.error.file={work / 'derby.log'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.PipelineBench",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", str(work), "--cores", str(cores()),
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True, cwd=str(work))
    try:
        out, err = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise RuntimeError(f"{workload} seed {seed}: timed out after {TIMEOUT_S}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    return json.loads(lines[-1])


def result_line(res: dict, trace: int) -> dict:
    """The contract's result object, its metrics checked against
    BENCHMARK.json."""
    want = spec()["per_layer" if trace else "end_to_end"]
    metrics = {}
    for m in want:
        got = res["metrics"].get(m["name"])
        if got is None:
            raise RuntimeError(f"metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def high(values: list) -> tuple:
    """The highest percentile with at least ten samples beyond it, or the
    maximum when there are too few samples for one."""
    n = len(values)
    if n >= 20:
        q = 100 * (1 - 10 / n)
        return f"p{q:.0f}", statistics.quantiles(values, n=100)[int(q) - 1]
    return "max", max(values)


def summary(runs: int, seconds: int) -> int:
    s = spec()
    rc = 0
    for w in s["workloads"]:
        name = w["name"]
        results = []
        for seed in range(1, runs + 1):
            try:
                results.append(run_once(name, seed, seconds, 0))
            except RuntimeError as e:
                print(f"FAILED {e}")
                rc = 1
        attempted = sum(r["attempted"] for r in results)
        failed = sum(r["failed"] for r in results)
        print(f"\n== {name}: {w['why']}")
        print(f"{'metric':<14}{'unit':<6}{'n':>3}{'median':>12}  high")
        for m in s["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            if vals:
                label, hv = high(vals)
                print(f"{m['name']:<14}{m['unit']:<6}{len(vals):>3}"
                      f"{statistics.median(vals):>12.4f}  {label} {hv:.4f}")
        frac = failed / attempted if attempted else 1.0
        print(f"{'fail_frac':<14}{'ratio':<6}{len(results):>3}{frac:>12.4f}"
              f"  ({failed} of {attempted} operations)")
        if failed or not all(r["correct"] for r in results):
            rc = 1
        try:
            t = run_once(name, 1, seconds, 1)
            print(f"-- traced (seed 1): " + ", ".join(
                f"{k}={v}" for k, v in t.get("info", {}).items()))
            for k, v in t["metrics"].items():
                print(f"   {k:<40}{v['value']:>16.4f} {v['unit']}")
        except RuntimeError as e:
            print(f"FAILED traced {e}")
            rc = 1
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec_seconds())
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--summary", action="store_true")
    ap.add_argument("--runs", type=int, default=5)
    a = ap.parse_args()
    if a.summary:
        return summary(a.runs, a.seconds)
    names = [w["name"] for w in spec()["workloads"]]
    if a.workload not in names:
        ap.error(f"--workload must be one of {names}")
    try:
        res = run_once(a.workload, a.seed, a.seconds, a.trace)
        line = result_line(res, a.trace)
    except (RuntimeError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(res.get("info", {})), file=sys.stderr)
    print(json.dumps(line), flush=True)
    return 0


def spec_seconds() -> int:
    try:
        return int(spec()["run_seconds"])
    except (OSError, KeyError, ValueError):
        return 10


if __name__ == "__main__":
    sys.exit(main())
