"""Benchmark entry point.

    python3 perfbench/run.py --workload <daily_etl|dedup_stream>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the seed's inputs (cached under
``.perfbench/inputs``; not timed), makes a fresh run directory under
``.perfbench/runs`` for ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the
workload's outputs, and runs ``worker.py`` in its own process group on
``local[2]``. When the worker is done every process left in its group
(the driver JVM, Python workers) is killed and waited for, and the run
directory is removed. ``--trace 1`` runs the
seed twice, untraced then traced, and reports the difference of their
``wall_s`` as ``trace.overhead_s``.

Prints one line per metric (name, value, unit) and the correctness
verdict, then, as the last line of stdout, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits non-zero, printing no result, when the program
under test is missing or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from fold import per_layer_units  # noqa: E402
from inputs import generate, seed_dir_name  # noqa: E402
from stats import check_name, check_unit  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}
# a worker takes 30-40 s; two of them (--trace 1) stay under 180 s
WORKER_TIMEOUT_S = 85
# local[2] on hosts with 4+ cores: the rest is left to the JVM's JIT and
# GC threads, the Python workers and whatever else shares the host. On a
# shared 4-core host, dedup_stream's wall_s spread 17 % over 5 seeds at
# local[4] and 4-8 % over 10 seeds at local[2]; at this input size the
# workloads are job-bound, not core-bound.
CPUS = 2
DRIVER_MEM = "1g"
KEEP_SEEDS = 4


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def stop_group(pgid: int) -> None:
    """Kill every process left in the worker's group (the driver JVM
    and its Python workers; their files are all under the run directory,
    which is removed next) and wait until none is left."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 30.0
    while _group_alive(pgid):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes of group {pgid} survived SIGKILL")
        time.sleep(0.05)


def prune_inputs(root: str, keep: str) -> None:
    """Keep the cached inputs of the most recent seeds only."""
    dirs = sorted(
        (os.path.join(root, d) for d in os.listdir(root) if d != keep),
        key=os.path.getmtime,
    )
    for d in dirs[: max(0, len(dirs) - (KEEP_SEEDS - 1))]:
        shutil.rmtree(d, ignore_errors=True)


def report(result: dict, units: dict[str, str]) -> None:
    metrics = {
        check_name(name): {
            "value": float(result["metrics"][name]), "unit": check_unit(unit),
        }
        for name, unit in units.items()
    }
    d = result.get("details", {})
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:.6g} {m['unit']}")
    print(
        f"# rounds={d.get('rounds')} ops_timed={d.get('ops_timed')} "
        f"op_tail=p{d.get('op_tail_percentile'):g} "
        f"({d.get('op_tail_beyond')} ops beyond) "
        f"setups_s={[round(x, 3) for x in d.get('setups_s', [])]} "
        f"timed_s={d.get('timed_s', 0):.1f}"
    )
    if "untraced_wall_s" in d:
        print(
            f"# traced wall_s={d['wall_s']:.4f} "
            f"untraced wall_s={d['untraced_wall_s']:.4f} "
            f"untagged_jobs={d['untagged_jobs']} "
            f"unattributed_jobs={d['unattributed_jobs']}"
        )
    verdict = "correct" if result["correct"] else "INCORRECT"
    print(
        f"# {verdict}: {result['failed']} of {result['attempted']} ops failed "
        f"(failed_frac={result['failed'] / result['attempted']:.4f})"
    )
    for msg in d.get("failures", []):
        print(f"#   {msg}")
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))


def run_worker(args, data: str, trace: int) -> dict | None:
    """One worker process in a fresh run directory; its result, or None
    when it failed. Every process it started is stopped and waited for,
    and the run directory is removed."""
    run_dir = os.path.join(ROOT, ".perfbench", "runs", uuid.uuid4().hex[:12])
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    result_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(max(1, min(CPUS, os.cpu_count() or 1))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "TZ": "UTC",
    })
    for k in ("SPARK_GRAFT_SPARK_CONF", "SPARK_GRAFT_SKIP_ORACLE_SIDE_WRITE"):
        env.pop(k, None)
    t0 = time.time()
    result = None
    try:
        proc = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "worker.py"),
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(trace),
                "--data", data, "--run-dir", run_dir, "--result", result_path,
                "--t0", repr(t0),
            ],
            cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print("perfbench: worker timed out", file=sys.stderr)
            code = -1
        finally:
            # also on SIGTERM / Ctrl-C of this process
            stop_group(proc.pid)
            proc.wait()
        if code == 0 and os.path.exists(result_path):
            with open(result_path) as f:
                result = json.load(f)
    finally:
        t_exit = time.time()
        shutil.rmtree(run_dir, ignore_errors=True)
        print(
            f"# run: worker {t_exit - t0:.1f}s, cleanup {time.time() - t_exit:.1f}s",
            file=sys.stderr,
        )
    if result is None:
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
    return result


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("__spark_entry__.py", os.path.join("etl_gcp_spark", "__init__.py")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    inputs_root = os.path.join(ROOT, ".perfbench", "inputs")
    os.makedirs(inputs_root, exist_ok=True)
    data = generate(args.seed, inputs_root)
    prune_inputs(inputs_root, seed_dir_name(args.seed))

    if args.trace == 0:
        result = run_worker(args, data, 0)
        if result is None:
            return 1
        report(result, END_TO_END)
        return 0
    # tracing overhead: the same seed untraced, then traced, each in a
    # fresh process
    plain = run_worker(args, data, 0)
    result = run_worker(args, data, 1) if plain is not None else None
    if result is None:
        return 1
    result["metrics"]["trace.overhead_s"] = (
        result["details"]["wall_s"] - plain["details"]["wall_s"]
    )
    result["attempted"] += plain["attempted"]
    result["failed"] += plain["failed"]
    result["correct"] = result["correct"] and plain["correct"]
    result["details"]["untraced_wall_s"] = plain["details"]["wall_s"]
    report(result, per_layer_units())
    return 0


if __name__ == "__main__":
    sys.exit(main())
