"""One benchmark run inside its own process: three set-ups, then the
closed loop on the last session, every result checked between ops.
With ``--trace 1`` the last session logs its Spark events, the layer
spans, job tags and leak probe are on, and the log is folded into
per-layer numbers after the session stops.

Started by ``run.py``, which owns the process group, the run directory
(``TMPDIR``, ``SPARK_LOCAL_DIRS``) and the printed result. The result
goes to the JSON file named by ``--result``.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import glob
import json
import os
import resource
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import frame_digest, median, tail  # noqa: E402
from workloads import WORKLOADS, Mismatch  # noqa: E402

SETUPS = 3
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


class Oracle:
    """DuckDB digests of ``oracle_sql()`` on the seed's tables, cached
    in the seed directory so later runs of the seed skip DuckDB."""

    def __init__(self, data: str, entry):
        self.data = data
        self.entry = entry
        self.path = os.path.join(data, "oracle_digests.json")
        self.cache: dict = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.cache = json.load(f)
        self._sql = None

    def __call__(self, name: str) -> dict:
        if name not in self.cache:
            import duckdb

            if self._sql is None:
                self._sql = self.entry.oracle_sql()
            con = duckdb.connect()
            try:
                con.execute("SET threads TO 2")
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')"
                    )
                res = con.execute(self._sql[name])
                cols = [d[0] for d in res.description]
                self.cache[name] = frame_digest(cols, res.fetchall())
            finally:
                con.close()
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f, indent=1, sort_keys=True)
            os.replace(tmp, self.path)
        return self.cache[name]


class Ctx:
    def __init__(self, args):
        import __spark_entry__ as entry

        from inputs import load_manifest

        self.workload = args.workload
        self.data = args.data
        self.run_dir = args.run_dir
        self.out = os.path.join(args.run_dir, "out")
        self.events = os.path.join(args.run_dir, "events")
        for d in (self.out, self.events):
            os.makedirs(d, exist_ok=True)
        self.registry = entry.queries()
        self.release_pins = entry.release_pins
        self.oracle = Oracle(args.data, entry)
        self.cdc = load_manifest(args.data)["cdc"]
        self.state: dict = {}
        self.spark = None

    def conf(self, traced: bool) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf


def setup(ctx: Ctx, traced: bool = False) -> dict[str, float]:
    """Session build and warm-up."""
    from etl_gcp_spark.session import get_spark

    t0 = time.perf_counter()
    ctx.spark = spark = get_spark("perfbench", extra_conf=ctx.conf(traced))
    t1 = time.perf_counter()
    # executor threads and codegen, then the Python worker pool
    spark.range(200_000).selectExpr("sum(id)").collect()
    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus).repartition(cpus).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return {"build_s": t1 - t0, "warmup_s": t2 - t1}


def teardown(ctx: Ctx) -> None:
    ctx.release_pins()
    for q in ctx.spark.streams.active:
        q.stop()
    ctx.spark.catalog.clearCache()
    ctx.spark.stop()
    ctx.spark = None


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this process's max RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


class Tally:
    """Ops attempted and failed. An op fails when it raises or when its
    result does not match its reference."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, op, err: BaseException) -> None:
        if isinstance(err, Mismatch):
            msg = f"{op.name}: {err}"
        else:
            traceback.print_exception(err, file=sys.stderr)
            msg = f"{op.name}: raised {type(err).__name__}: {str(err)[:200]}"
        self.failed += 1
        self.failures.append(msg)
        print(f"# FAILED {msg}", file=sys.stderr, flush=True)

    def run(self, op, ctx, span=contextlib.nullcontext):
        """Run and verify one op; return its forced-result latency in
        seconds, or None when it raised. Verification is not timed."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with span():
                verify = op.run(ctx)
        except Exception as e:  # an op that raises counts as failed
            self.fail(op, e)
            return None
        dt = time.perf_counter() - t
        try:
            if verify is not None:
                verify()
        except Exception as e:
            self.fail(op, e)
        return dt


def timed_loop(ctx: Ctx, seconds: float, tally: Tally, tracer=None, probe=None):
    """Closed loop, one client: each op starts when the previous one has
    returned its forced result (checks and probes run in between,
    outside the timed intervals). Whole rounds run until ``seconds`` of
    op time have been measured (at least one round); the first round is
    the process's first execution of each op, as a daily batch is."""
    from etl_gcp_spark import metering

    sc = ctx.spark.sparkContext
    rounds: list[float] = []
    lat: list[float] = []
    phases = {"functions.similarity": [0.0, 0.0], "functions.text": [0.0, 0.0]}
    while not rounds or sum(rounds) < seconds:
        spent = 0.0
        for op in WORKLOADS[ctx.workload]():
            if probe is not None:
                probe.before()
            span = contextlib.nullcontext
            if tracer is not None:
                sc.setJobGroup(f"{ctx.workload}/{op.name}", op.name)
                metering.reset()
                span = functools.partial(tracer.span, op.layer)
            dt = tally.run(op, ctx, span)
            if tracer is not None:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    sc.setLocalProperty(key, None)
            if probe is not None:
                probe.after()
            if dt is None:
                continue
            spent += dt
            lat.append(dt)
            if tracer is not None and op.layer in phases:
                ph = metering.snapshot()
                build = ph.get("build", 0.0)
                phases[op.layer][0] += build
                phases[op.layer][1] += max(dt - build - ph.get("verify", 0.0), 0.0)
        rounds.append(spent)
    return rounds, lat, phases


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args()
    traced = args.trace == 1

    t_start = time.perf_counter()
    ctx = Ctx(args)
    setups = [setup(ctx)]
    setup_totals = [time.time() - args.t0]
    for n in range(1, SETUPS):
        teardown(ctx)
        # the last session is the measured one; traced runs log its events
        setups.append(setup(ctx, traced=traced and n == SETUPS - 1))
        setup_totals.append(sum(setups[-1].values()))

    tally = Tally()
    tracer = probe = None
    if traced:
        from tracing import LeakProbe, Tracer

        tracer = Tracer(ctx.spark)
        probe = LeakProbe(ctx.spark, os.environ["TMPDIR"])
        tracer.install()
    t_timed = time.perf_counter()
    try:
        rounds, lat, phases = timed_loop(ctx, args.seconds, tally, tracer, probe)
    finally:
        if tracer is not None:
            tracer.uninstall()
    timed_s = time.perf_counter() - t_timed
    if not lat:
        raise RuntimeError("every op raised")
    wall = median(rounds)
    tail_v, tail_p, tail_n = tail(lat)
    details = {
        "rounds": len(rounds),
        "ops_timed": len(lat),
        "op_tail_percentile": tail_p,
        "op_tail_beyond": tail_n,
        "setups_s": setup_totals,
        "timed_s": timed_s,
        "wall_s": wall,
        "failures": tally.failures[:20],
    }
    if not traced:
        metrics = {
            "setup_s": median(setup_totals),
            "wall_s": wall,
            "op_p50_s": median(lat),
            "op_tail_s": tail_v,
            "peak_rss_mb": peak_rss_mb(ctx.spark),
        }
        # no teardown: run.py kills the JVM and removes the run directory
    else:
        from fold import fold_file

        teardown(ctx)  # stopping the context flushes the event log
        logs = glob.glob(os.path.join(ctx.events, "*"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        folded = fold_file(logs[0], tracer.spans)
        metrics = folded.metrics
        metrics["session.build_s"] = setups[-1]["build_s"]
        metrics["session.warmup_s"] = setups[-1]["warmup_s"]
        for layer, (build, serve) in phases.items():
            metrics[f"{layer}.build_s"] = build
            metrics[f"{layer}.serve_s"] = serve
        for k, v in probe.totals.items():
            metrics[f"caching.leaked_{k}"] = v
        details["untagged_jobs"] = folded.untagged_jobs
        details["unattributed_jobs"] = folded.unattributed_jobs

    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
        "details": details,
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    print(
        f"# worker: setups done {t_timed - t_start:.1f}s, timed loop "
        f"{timed_s:.1f}s, total {time.perf_counter() - t_start:.1f}s",
        file=sys.stderr, flush=True,
    )
    return 0


if __name__ == "__main__":
    code = main()
    sys.stderr.flush()
    # skip interpreter teardown of the Py4J gateway; run.py kills the
    # JVM and removes the run directory
    os._exit(code)
