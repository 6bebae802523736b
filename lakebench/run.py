"""The lakehouse benchmark: one command per (workload, seed) run.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 lakebench/run.py --self-check

Builds the program from source (lakebench/build.py), then runs the
workload in one JVM with one Spark session, `local[N]` with N the usable
cores. All state lives under `.bench_run/<workload>` in the checkout and
is wiped at the start of each run. The last stdout line is the result:
`{"correct", "attempted", "failed", "metrics"}`, the end-to-end metrics
with `--trace 0` and the per-layer ones with `--trace 1`. The line before
it stamps the environment (cores, heap, JVM, commit, storage medium).

`--self-check` runs every workload of BENCHMARK.json at a tiny size,
traced and untraced, and fails unless each run passes its output checks
and prints exactly the metrics BENCHMARK.json names, with their units.
Workloads, metrics and the layer → end-to-end mapping: lakebench/DESIGN.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
# fixed heap (-Xms = -Xmx): no adaptive heap growth, so the resident set
# does not depend on when the collector chose to expand
HEAP = "2g"
# a run must end within 180 s; leave room to stop the JVM and report
JVM_TIMEOUT_S = 170

OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def storage_medium(path: Path) -> str:
    """Filesystem type and source of the mount holding `path`."""
    best = ("", "unknown", "unknown")
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, fstype = line.split()[:3]
            inside = str(path) == mnt or str(path).startswith(mnt.rstrip("/") + "/")
            if inside and len(mnt) >= len(best[0]):
                best = (mnt, fstype, dev)
    return f"{best[1]} ({best[2]} on {best[0]})"


def commit() -> str:
    if not (ROOT / ".git").exists():
        return "none (not a git checkout)"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "none (not a git checkout)"


def jvm_version() -> str:
    out = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True)
    return out.stderr.splitlines()[0] if out.stderr else "unknown"


def run_jvm(classpath: str, workload: str, seed: int, seconds: float, trace: bool,
            small: bool) -> dict:
    """One JVM run of `workload`; returns the parsed result line."""
    work = ROOT / ".bench_run" / workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = (["java"] + [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # no hsperfdata file: the run writes only inside the checkout
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dgraft.scratch.dir={work / 'scratch'}",
            "-cp", classpath, "lakebench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", str(work), "--out", str(out),
            "--small", "1" if small else "0"])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    # a benchmark stopped from outside stops its JVM too
    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"{workload} did not finish within {JVM_TIMEOUT_S} s")
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    if code != 0 or not out.is_file():
        raise RuntimeError(f"{workload} JVM exited with code {code}")
    return json.loads(out.read_text())


def expected_metrics(bench: dict, trace: bool) -> dict:
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def self_check(classpath: str, bench: dict) -> int:
    problems = []
    for w in bench["workloads"]:
        for trace in (False, True):
            res = run_jvm(classpath, w["name"], seed=1, seconds=1, trace=trace, small=True)
            label = f"{w['name']} trace={int(trace)}"
            if not res["correct"] or res["failed"]:
                problems.append(f"{label}: output checks failed ({res['failed']} failed ops)")
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            want = expected_metrics(bench, trace)
            if got != want:
                missing = sorted(set(want) - set(got))
                extra = sorted(set(got) - set(want))
                units = sorted(n for n in set(got) & set(want) if got[n] != want[n])
                problems.append(f"{label}: missing {missing}, unexpected {extra}, wrong unit {units}")
            print(f"self-check {label}: {res['attempted']} ops, {len(got)} metrics", file=sys.stderr)
    for p in problems:
        print(f"self-check FAILED: {p}", file=sys.stderr)
    if not problems:
        print("self-check passed")
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    try:
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        classpath = build.build(ROOT)
        if args.self_check:
            return self_check(classpath, bench)
        names = [w["name"] for w in bench["workloads"]]
        if args.workload not in names:
            raise RuntimeError(f"--workload must be one of {names}")
        env = {"nproc": cores(), "master": f"local[{cores()}]", "heap": HEAP,
               "jvm": jvm_version(), "commit": commit(),
               "source_sha256": (ROOT / ".bench_build" / "stamp").read_text(),
               "storage": storage_medium(ROOT / ".bench_run"),
               "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace}
        result = run_jvm(classpath, args.workload, args.seed, args.seconds,
                         bool(args.trace), small=False)
    except (RuntimeError, OSError, ValueError, KeyError) as e:
        print(f"lakebench: {e}", file=sys.stderr)
        return 2
    (ROOT / ".bench_run" / args.workload / "env.json").write_text(json.dumps(env))
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
