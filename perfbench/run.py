"""Benchmark of the real-time warehouse, driven from outside the program.

Usage (from the repository root)::

    python3 perfbench/run.py --workload replay_join --seed 1 --seconds 10 --trace 0

Workloads:

- ``replay_join``: availableNow catch-up of three restarted jobs
  (``streaming_order_pre_process``, ``streaming_order_info_upsert``,
  ``streaming_pay_detail_suc``) over a full topic, from warm ODS caches
  and cold memos; checked against each job's batch twin.
- ``live_uv``: a seeded open-loop page-log generator (one process, one
  file per period) feeding the live unique-visitor job
  (``read_stream`` -> ``first_per_day_stream`` -> the benchmark's own
  ``foreachBatch`` sink); checked against the batch unique-visitor plan.
- ``batch_spine``: one refresh of the 41 DWD/DIM/DWS entries through the
  ``noop`` sink from cold memos; checked against the DuckDB oracles. A
  run takes about a minute and a half on 4 cores, too long to fit the
  gated run budget beside the other two, so it is not in
  ``BENCHMARK.json``.

``replay_join`` and ``batch_spine`` do a fixed amount of work (one pass,
however long ``--seconds`` is); ``live_uv`` generates input for
``--seconds`` seconds.

Each run generates its inputs from ``--seed`` (see ``gen.py``), starts a
child Spark process with a pinned environment, and prints one line per
metric followed by the result as one JSON line. ``--trace 1`` reports the
per-layer metrics instead of the end-to-end ones and keeps the spans in
``.bench_out/``. A run that passes its deadline is killed and reported
as failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "flink_realtime_datawarehouse_v3_spark"
HEAP = "3g"
DEADLINE_S = 170.0


def declared_metrics(trace: int) -> dict[str, str]:
    """Metric names and units, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def program_digest() -> str:
    """Hash of the program's sources: the checkout is not a git repository."""
    h = hashlib.sha1()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:12]


def commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    except OSError:
        return None
    return out.stdout.strip() or None


def environment(cpus: int, seed: int) -> dict:
    import pyspark

    from gen import SIZES

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "cpus": cpus,
        "mem_gb": round(mem_kb / 2**20, 1),
        "heap": HEAP,
        "sf": f"fixture sf0.001 row counts (orders {SIZES['orders']}, lineitem {SIZES['lineitem']})",
        "seed": seed,
        "spark": pyspark.__version__,
        "commit": commit(),
        "program": program_digest(),
    }


def stop_group(pgid: int) -> None:
    """Kill every process of the child's session and wait until none is left."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    end = time.time() + 20
    while time.time() < end:
        alive = False
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                if int(fields[2]) == pgid and fields[0] != "Z":
                    alive = True
                    break
        if not alive:
            return
        time.sleep(0.1)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["replay_join", "live_uv", "batch_spine"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    t0 = time.time()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: the program ({PACKAGE}/) is not in {ROOT}", file=sys.stderr)
        return 2

    sys.path.insert(0, HERE)
    import gen

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    for d in ("data", "local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    gen.write_tables(os.path.join(work, "data"), args.seed)
    tmp = os.path.join(work, "tmp")
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "PYTHONPATH": ROOT,
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
            "PERFBENCH_T0": repr(time.time()),
        }
    )
    env.pop("OMP_NUM_THREADS", None)
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(out_dir, f"{args.workload}-{args.seed}-t{args.trace}.log")
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", result_path,
    ]
    killed = False
    with open(log_path, "w") as log:
        child = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log, start_new_session=True)
        try:
            child.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            killed = True
        stop_group(child.pid)
        child.wait()

    rec = {}
    if os.path.exists(result_path):
        with open(result_path) as f:
            rec = json.load(f)
    env_rec = environment(cpus, args.seed)
    rec["env"] = env_rec
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print("env " + json.dumps(env_rec))
    units = declared_metrics(args.trace)
    values = rec.get("per_layer" if args.trace else "end_to_end") or {}
    if killed or not values:
        why = "killed at the deadline" if killed else "; ".join(rec.get("failures", ["no result"]))
        print(f"FAILED {args.workload}: {why} (log: {log_path})")
        attempted = max(1, rec.get("attempted", 1))
        print(json.dumps({"correct": False, "attempted": attempted, "failed": attempted, "metrics": {}}))
        return 0
    for name, value in values.items():
        unit = units.get(name) or ("s" if name.endswith("_s") else "")
        print(f"{args.workload} {name} = {value:.6g} {unit}".rstrip())
    if not args.trace:
        for name, (value, unit) in rec["aliases"].items():
            print(f"{args.workload} {name} = {value:.6g} {unit}")
        pct, _, n = rec["fresh"]["tail"]
        print(f"{args.workload} fresh_p90_ms is the p{pct:g} of {n} rows")
    print(f"{args.workload} fail_ratio = {rec['failed'] / rec['attempted']:.6g} ({rec['failed']}/{rec['attempted']})")
    for why in rec.get("failures", []):
        print(f"FAILED {why}")
    metrics = {n: {"value": values[n], "unit": u} for n, u in units.items()}
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"], "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
