#!/usr/bin/env python3
"""The repository's benchmark: one workload, one local-mode Spark JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source when they changed
(build.py), runs perfbench.Main for the workload, compares catalog results
with their DuckDB oracles, and prints as its last stdout line one JSON
object: correct, attempted, failed and the metrics named in BENCHMARK.json
(end-to-end ones with --trace 0, per-layer ones with --trace 1). See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
CATALOG = BENCH / "data" / "catalog"
DEADLINE_S = 170  # the run, build included, ends well within 180 s

# The layers each workload calls. A per-layer metric of a layer that a
# workload does not call is reported as 0: no work was done there.
LAYERS = {
    "ingest_microbatch": {"sources", "parse", "route", "ingest", "ddl", "compact", "cli",
                          "spark", "trace", "run", "host"},
    "ingest_bulk": {"sources", "parse", "route", "ingest", "ddl", "reports",
                    "spark", "trace", "run", "host"},
    "catalog_mix": {"analytics", "spark", "trace", "run", "host"},
}
JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def loadavg() -> float:
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except (OSError, ValueError, IndexError):
        return -1.0


def cpu_jiffies() -> list[int]:
    """The aggregate cpu line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    except (OSError, ValueError, IndexError):
        return []


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_jvm(cmd: list[str], deadline: float) -> int:
    """Run the JVM in its own process group; kill the group at the deadline."""
    # Spark binds to the loopback address only: a run needs no network
    env = {**os.environ, "SPARK_LOCAL_IP": "127.0.0.1", "SPARK_LOCAL_HOSTNAME": "localhost"}
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("workload exceeded its deadline")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def oracle_compare(dump: Path, deadline: float) -> dict[str, str | None]:
    """Compare every dumped catalog result with its DuckDB oracle by the
    repository's own compare, tools/check.py; query name -> None when it
    matches, else the difference check.py reports."""
    names = json.loads((dump / "oracle_sql.json").read_text())
    try:
        p = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"), str(CATALOG), str(dump)],
                           capture_output=True, text=True,
                           timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        fail("oracle compare exceeded the deadline")
    sys.stderr.write(p.stdout + p.stderr)
    verdicts = {name: None for name in names}
    for line in p.stdout.splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            verdicts[name] = why
    if p.returncode != 0 and all(why is None for why in verdicts.values()):
        # check.py failed before it compared anything
        verdicts = {name: f"tools/check.py exited with {p.returncode}" for name in names}
    return verdicts


def main() -> None:
    start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in LAYERS:
        fail(f"unknown workload {a.workload}; one of {sorted(LAYERS)}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classes = build.build()
    # builds may take long; the measured run gets its own deadline
    deadline = time.monotonic() + DEADLINE_S - min(time.monotonic() - start, 10)
    out = build.build_dir()
    work = out / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (out / "traces").mkdir(exist_ok=True)
    result = work / "result.json"
    trace_out = out / "traces" / f"{a.workload}-seed{a.seed}.json"
    cpus = min(os.cpu_count() or 1, 4)
    host = {"nproc": os.cpu_count(), "local_n": cpus, "loadavg_start": loadavg()}
    jiffies = cpu_jiffies()
    t0_ms = int(time.time() * 1000)
    # a fixed-size heap and the parallel collector: on a 4-core host the
    # ingest drains ran about 20% faster than with a growing G1 heap
    cmd = ["java", *JAVA_OPENS, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", build.classpath(classes), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work), "--catalog", str(CATALOG),
           "--t0-ms", str(t0_ms), "--cpus", str(cpus), "--out", str(result)]
    if a.trace:
        cmd += ["--trace-out", str(trace_out)]
    try:
        rc = run_jvm(cmd, deadline)
        if rc != 0 or not result.is_file():
            fail(f"workload JVM exited with {rc}")
        res = json.loads(result.read_text())
        problems = list(res["failed_checks"])
        if a.workload == "catalog_mix":
            verdicts = oracle_compare(work / "dump", deadline)
            res["attempted"]["oracle"] = len(verdicts)
            res["failed"]["oracle"] = sum(why is not None for why in verdicts.values())
            problems += [f"{name}: {why}" for name, why in verdicts.items() if why is not None]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(res["attempted"].values())
    failed = sum(res["failed"].values())
    host["loadavg_end"] = loadavg()
    # the share of CPU time the hypervisor gave to other guests: host
    # contention that a slower run would otherwise hide
    spent = [b - a for a, b in zip(jiffies, cpu_jiffies())]
    host["steal_share"] = spent[7] / sum(spent) if len(spent) > 7 and sum(spent) else -1.0
    layer = dict(res["per_layer"])
    layer["run.failed_share"] = failed / max(attempted, 1)
    layer.update({f"host.{k}": float(v) for k, v in host.items()})
    values = res["end_to_end"] if not a.trace else layer
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None and a.trace and m["name"].split(".")[0] not in LAYERS[a.workload]:
            v = 0.0
        if v is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"host": host, "attempted": res["attempted"], "failed": res["failed"],
                      "checks": res["checks"], "problems": problems[:20]}))
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
