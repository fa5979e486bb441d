"""One run of graft's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload search-small --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest --seed 1

Builds graft from source if needed (perfbench/build.py), runs the
workload in a fresh JVM on local[nproc] with every graft.* property at
its default, and prints as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the `end_to_end` metrics of
BENCHMARK.json, or with `--trace 1` its `per_layer` metrics. The full
result of the run, with the host's CPU steal, other-process CPU and load
average, is kept under `.bench_out/results/`.

`--selftest` runs the search-small checks on an nprobe-1 search and
exits 0 only if they fail.
"""
import argparse
import json
import os
import pathlib
import resource
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORKLOADS = ("search-small", "prepare-fuzzy")
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def host_sample() -> dict:
    """Whole-host CPU counters (seconds) and the 1-minute load."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = cpu[:8]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    own = resource.getrusage(resource.RUSAGE_CHILDREN)
    return {"busy_s": (user + nice + system + irq + softirq) / hz,
            "steal_s": steal / hz, "load1": load1,
            "own_s": own.ru_utime + own.ru_stime, "t": time.monotonic()}


def host_noise(before: dict, after: dict) -> dict:
    wall = after["t"] - before["t"]
    own = after["own_s"] - before["own_s"]
    other = max(0.0, after["busy_s"] - before["busy_s"] - own)
    cpus = os.cpu_count()
    return {"wall_s": wall, "steal_s": after["steal_s"] - before["steal_s"],
            "run_cpu_s": own, "other_cpu_s": other,
            "other_cpu_share": other / (wall * cpus) if wall > 0 else 0.0,
            "loadavg_before": before["load1"], "loadavg_after": after["load1"]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, default="search-small")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest and a.workload != "search-small":
        ap.error("--selftest runs on search-small")

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes = build.build()
    run_id = (f"{a.workload}-seed{a.seed}-trace{a.trace}"
              f"{'-selftest' if a.selftest else ''}-{time.strftime('%Y%m%dT%H%M%S')}"
              f"-{os.getpid()}")
    results = ROOT / ".bench_out" / "results"
    results.mkdir(parents=True, exist_ok=True)
    work = ROOT / ".bench_out" / "tmp" / run_id
    (work / "jtmp").mkdir(parents=True)
    out = results / f"{run_id}.json"
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
           f"-Djava.io.tmpdir={work / 'jtmp'}", *ADD_OPENS,
           "-cp", f"{classes}:{build.spark_jars()}", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--selftest", "1" if a.selftest else "0",
           "--work", str(work), "--out", str(out)]
    before = host_sample()
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work, env=env)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    after = host_sample()
    if rc != 0 or not out.exists():
        print(f"benchmark JVM failed (exit {rc})", file=sys.stderr)
        return 1
    res = json.loads(out.read_text())
    res["host"] = host_noise(before, after)
    out.write_text(json.dumps(res, indent=1, sort_keys=True))

    if a.selftest:
        failed = res["selftest_check_failed"]
        print(json.dumps({"selftest_check_failed": failed,
                          "reason": res["selftest_reason"],
                          "recall_mean": res["recall_mean"]["value"]}))
        return 0 if failed else 1

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in res]
    if missing:
        print(f"result lacks metrics {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]["value"]),
        "failed": int(res["failed"]["value"]),
        "metrics": {m["name"]: {"value": res[m["name"]]["value"], "unit": m["unit"]}
                    for m in names}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
