"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload live_1k --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke
    python3 perfbench/run.py --workload suite_sf0.1 --seed 1 --seconds 1 \\
        --trace 0 --data /path/to/sf0.1

The workloads and metrics are declared in BENCHMARK.json at the root of
the checkout. The engine is built from source first (see build.py). The
last line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; with `--trace 0` the metrics are the
end-to-end ones, with `--trace 1` the per-layer ones. Every metric is also
printed on its own line with its unit and better-direction.

`--smoke` is the benchmark's own test: a short run of each workload in
both modes, checking that every metric named in BENCHMARK.json is printed
with its unit and direction.

`suite_sf0.1` needs the declared-query test tables (TESTDATA.md) and is not
in BENCHMARK.json; after
its timed pass it writes every query's output with `graft.Verify` and
compares it with the DuckDB oracle using `tools/check.py`.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the package directory free of caches
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
STATE = build.STATE
JVM_MEM = "3g"
RUN_TIMEOUT_S = 170

# Metrics of the hand-run suite workload (not in BENCHMARK.json).
SUITE_E2E = {"setup_s": ("s", "lower"), "peak_rss_mb": ("MB", "lower"),
             "suite_s": ("s", "lower"), "query_p50_s": ("s", "lower"),
             "query_p90_s": ("s", "lower"), "failed_frac": ("fraction", "lower")}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def declared():
    path = ROOT / "BENCHMARK.json"
    if not path.exists():
        fail("BENCHMARK.json not found")
    return json.loads(path.read_text())


def expected_metrics(bench, workload: str, trace: bool):
    """name -> (unit, better) the run must report."""
    if workload == "suite_sf0.1":
        if trace:
            return None  # per-module names come from the engine's module list
        return SUITE_E2E
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: (m["unit"], m["better"]) for m in bench[key]}


def unit_of(name: str) -> tuple:
    """Unit and direction of a suite per-layer metric."""
    if name.endswith("_s"):
        return "s", "lower"
    if name.endswith("bytes"):
        return "bytes", "lower"
    return "count", "lower"


def run_jvm(args, classpath: str, work: Path, log: Path, budget: float) -> dict:
    out = work / "result.json"
    cmd = (["java", f"-Xms{JVM_MEM}", f"-Xmx{JVM_MEM}", "-Xss8m"] + ADD_OPENS + [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dderby.system.home={work / 'derby'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", str(out), "--work", str(work)])
    if args.ticks:
        cmd += ["--ticks", str(args.ticks)]
    if args.data:
        cmd += ["--data", str(Path(args.data).resolve())]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        deadline = time.monotonic() + budget
        try:
            for line in proc.stdout:
                print(line.rstrip("\n"), flush=True)
                if time.monotonic() > deadline:
                    raise subprocess.TimeoutExpired(cmd, budget)
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {budget:.0f} s; log: {log}")
    if proc.returncode != 0 or not out.exists():
        tail = log.read_text(errors="replace").splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"benchmark process exited {proc.returncode}; log: {log}")
    return json.loads(out.read_text())


def oracle_check(args, classpath: str, work: Path, log: Path) -> int:
    """suite_sf0.1: write each query's output and compare with DuckDB."""
    out = work / "verify"
    data = str(Path(args.data).resolve())
    with open(log, "a") as err:
        subprocess.run(["java", f"-Xmx{JVM_MEM}", "-Xss8m"] + ADD_OPENS + [
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.Verify", data, str(out)],
            cwd=ROOT, stdout=err, stderr=err, check=False)
        r = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"), str(out), data],
                           cwd=ROOT, capture_output=True, text=True)
    for line in r.stdout.splitlines():
        if not line.startswith("PASS"):
            print(f"[check] {line}")
    m = re.search(r"== (\d+) pass / (\d+) fail ==", r.stdout)
    if not m:
        fail(f"oracle check produced no summary: {r.stderr[-500:]}")
    return int(m.group(2))


def run(args) -> None:
    bench = declared()
    names = [w["name"] for w in bench["workloads"]] + ["suite_sf0.1"]
    if args.workload not in names:
        fail(f"unknown workload {args.workload}; declared: {', '.join(names)}")
    if args.workload == "suite_sf0.1" and not args.data:
        fail("suite_sf0.1 needs --data DIR with the declared-query test tables")
    classpath = build.build()
    started = time.monotonic()
    tag = f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    work = STATE / "run" / tag
    logs = STATE / "logs"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{tag}.log"
    try:
        budget = 3600 if args.workload == "suite_sf0.1" else \
            RUN_TIMEOUT_S - (time.monotonic() - started)
        res = run_jvm(args, classpath, work, log, budget)
        for spans in work.glob("spans-*.json"):
            (STATE / "out").mkdir(exist_ok=True)
            shutil.move(str(spans), STATE / "out" / spans.name)
            print(f"[trace] span tree: {STATE / 'out' / spans.name}")
        if args.workload == "suite_sf0.1" and not args.trace:
            bad = oracle_check(args, classpath, work, log)
            res["failed"] += bad
            res["correct"] = res["failed"] == 0
            res["metrics"]["failed_frac"] = res["failed"] / res["attempted"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log.unlink()  # kept only when the run fails
    want = expected_metrics(bench, args.workload, bool(args.trace))
    if want is None:
        want = {k: unit_of(k) for k in res["metrics"]}
    missing = [k for k in want if k not in res["metrics"]]
    if missing:
        fail(f"run did not report {', '.join(missing)}")
    metrics = {}
    for k, (unit, better) in want.items():
        v = res["metrics"][k]
        if v is None:
            fail(f"metric {k} has no value")
        metrics[k] = {"value": v, "unit": unit}
        print(f"[metric] {k} = {v} {unit} ({better} is better)")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


def smoke() -> None:
    """Short run of each declared workload in both modes."""
    bench = declared()
    ok = True
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, __file__, "--workload", w["name"], "--seed", "7",
                   "--seconds", "4", "--trace", str(trace), "--ticks", "250000"]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            problems = []
            if r.returncode != 0 or not lines:
                problems.append(f"exit {r.returncode}: {r.stderr.strip()[-300:]}")
            else:
                res = json.loads(lines[-1])
                if set(res) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"result keys {sorted(res)}")
                if not res.get("correct"):
                    problems.append(f"incorrect: {res.get('failed')} of {res.get('attempted')} failed")
                for m in bench["per_layer" if trace else "end_to_end"]:
                    got = res.get("metrics", {}).get(m["name"])
                    line = f"[metric] {m['name']} = "
                    shown = [x for x in lines if x.startswith(line)]
                    if not got or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                        problems.append(f"{m['name']}: {got}")
                    elif not shown or not shown[0].endswith(f"{m['unit']} ({m['better']} is better)"):
                        problems.append(f"{m['name']}: not printed with unit and direction")
            status = "PASS" if not problems else "FAIL"
            print(f"{status} {w['name']} trace={trace}" + "".join(f"\n  {p}" for p in problems),
                  flush=True)
            ok = ok and not problems
    sys.exit(0 if ok else 1)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="suite_sf0.1: directory of the declared-query test tables")
    ap.add_argument("--ticks", type=int, help="replay_day: ticks in the day (smoke runs)")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        smoke()
    if not args.workload:
        fail("--workload is required")
    run(args)


if __name__ == "__main__":
    main()
