"""Benchmark of the hive_cassandra_spark engine.

    python3 perfbench/run.py --workload {cell_scan,occ_ingest}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds a Spark session on
``local[<nproc>]``, makes the workload's inputs from ``--seed``, sets up,
then runs whole op cycles (a single client in a closed loop) until
``--seconds`` have passed. Every op's result is checked against an
expectation computed without Spark. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. The line before it holds the ungated figures:
wall-clock percentiles, host stamps, the failures seen and what the
known-defect probes (run once after the timed phase, not counted) did.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout; the run's own directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# The timed phase runs whole op cycles until --seconds have passed, but
# never fewer than this many; count metrics are taken after exactly this
# many cycles, so they cover the same ops on every run with one seed.
MIN_CYCLES = 3
# Set-up builds the stores this many times; setup_s counts the median.
SETUP_BUILDS = 3
# JVM settings that make one run's CPU and memory repeat. C1-only JIT:
# under the default tiered C2 compiler the tree CPU of one cell_scan op
# cycle falls from 15.7 s to 9.3 s over the first five cycles (C2 threads
# alone burn 4 s a cycle at first), so CPU per op would depend on how far
# the run got; under C1 it is flat from the first cycle. Serial GC on a
# fixed-size heap: with G1's adaptive heap the JVM's peak RSS spread by
# 10-16% (IQR/median) between runs of one seed, with this by about 1%.
# No perf-data file, which the JVM would write under /tmp, outside the
# checkout.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xms1g -XX:-UsePerfData"
OP_CLASSES = ("scan", "lookup", "write", "maint")
SPARK_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "driver_idle_s",
)


class Context:
    """What every workload gets: the session, a private work directory,
    the seed, the tracer, and the op runner that meters each op."""

    def __init__(self, spark, seed, workdir, meter, tracer, status=None):
        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.meter, self.tracer, self.status = meter, tracer, status
        self.records: list[dict] = []

    def execute(self, op, op_id: int, cycle: int | None) -> None:
        """Run, meter and check one op; keep its record unless ``cycle``
        is None (warm-up)."""
        import meter as m

        self.tracer.op_id = op_id
        j0, w0, c0 = m.cpu_jiffies(), time.time(), self.meter.split()
        err = None
        try:
            result = op.run()
        except Exception as e:  # an op that raises counts as failed
            err = f"{op.kind}: {type(e).__name__}: {str(e).strip().splitlines()[-1][:200]}"
        w1, c1, j1 = time.time(), self.meter.split(), m.cpu_jiffies()
        wrong = False
        if err is None:
            try:
                wrong = not op.check(result)
            except Exception:
                wrong = True
                traceback.print_exc(file=sys.stderr)
            if wrong:
                err = f"{op.kind}: wrong result"
        rec = {
            "cls": op.cls, "kind": op.kind, "units": op.units, "op": op_id,
            "cycle": cycle, "wall_s": w1 - w0, "cpu_s": sum(c1.values()) - sum(c0.values()),
            **{f"{k}_cpu_s": c1[k] - c0[k] for k in c0},
            "jiffies": sum(j1) - sum(j0), "steal_jiffies": j1[m.STEAL] - j0[m.STEAL],
            "error": err, "wrong": wrong, "traced": self.tracer.enabled, **op.detail,
        }
        if self.status is not None:
            # Spark's own accounting, read outside the op's timed window
            _settle(self.spark)
            acct = self.status.new_since_last()
            rec.update({k: v for k, v in acct.items() if k != "intervals"})
            rec["driver_idle_s"] = rec["wall_s"] - m.covered_s(acct["intervals"], w0, w1)
        if cycle is not None:
            self.records.append(rec)


def _settle(spark) -> None:
    """Wait until Spark's status store has seen the op's stages end."""
    tracker = spark.sparkContext.statusTracker()
    for _ in range(50):
        if not tracker.getActiveStageIds():
            break
        time.sleep(0.02)
    time.sleep(0.15)


def start_session(workdir: str, trace: bool):
    """Session on local[<nproc>] whose scratch space, temp files and
    Python workers all live under ``workdir``. Only the traced run starts
    the UI server, whose REST API serves Spark's task accounting."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = tmp
    from hive_cassandra_spark.session import get_spark

    extra = {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions":
            f"{JVM_OPTIONS} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        extra.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                      "spark.ui.retainedStages": "100000",
                      "spark.ui.retainedJobs": "100000"})
    nproc = len(os.sched_getaffinity(0))
    return get_spark("perfbench", master=f"local[{nproc}]", extra_conf=extra)


def _spark_status(spark):
    import meter as m
    from urllib.parse import urlparse

    port = urlparse(spark.sparkContext.uiWebUrl).port
    return m.SparkStatus(f"http://127.0.0.1:{port}", spark.sparkContext.applicationId)


def _by_cycle(recs) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for r in recs:
        out.setdefault(r["cycle"], []).append(r)
    return out


def _steal_share(recs) -> float:
    return sum(r["steal_jiffies"] for r in recs) / max(1, sum(r["jiffies"] for r in recs))


def per_cycle(recs, cls: str | None = None, per_unit: bool = False,
              field: str = "cpu_s") -> list[float]:
    """Per timed cycle, the ops' ``field`` summed and divided by the
    number of ops (or, with ``per_unit``, by their units of work) of
    class ``cls`` (all ops if None)."""
    vals = []
    for rs in _by_cycle(r for r in recs if cls is None or r["cls"] == cls).values():
        n = sum(r["units"] for r in rs) if per_unit else len(rs)
        if n:
            vals.append(sum(r[field] for r in rs) / n)
    return vals


def cycle_median(recs, cls: str | None = None, per_unit: bool = False,
                 scale: float = 1.0, field: str = "cpu_s") -> float:
    """Median over the timed cycles of ``per_cycle``, times ``scale``."""
    vals = per_cycle(recs, cls, per_unit, field)
    return statistics.median(vals) * scale if vals else 0.0


def class_metrics(recs) -> dict:
    """CPU per unit of work of each op class the workload runs."""
    return {
        "scan_cpu_s_per_mcell": cycle_median(recs, "scan", True, 1e6),
        "write_cpu_s_per_mcell": cycle_median(recs, "write", True, 1e6),
        "maint_cpu_s_per_mcell": cycle_median(recs, "maint", True, 1e6),
        "lookup_cpu_s": cycle_median(recs, "lookup", True),
    }


def _per_layer(wl, recs, tracer, setup: dict) -> dict:
    """Per-layer metrics from the traced cycles, plus the tracing overhead
    against the untraced cycles of the same run."""
    traced = [r for r in recs if r["traced"]]
    plain = [r for r in recs if not r["traced"]]
    out = dict(setup)
    for cls in OP_CLASSES:
        rs = [r for r in traced if r["cls"] == cls]
        n = len(rs) or 1
        for f in SPARK_FIELDS:
            out[f"spark.{cls}.{f}"] = sum(r.get(f, 0) for r in rs) / n
        out[f"driver.{cls}.cpu_s"] = sum(r["cpu_s"] - r.get("executor_cpu_s", 0) for r in rs) / n
    out.update(class_metrics(traced))
    out.update({f"cpu.{k}_s_per_op": cycle_median(traced, field=f"{k}_cpu_s")
                for k in ("driver", "python", "jvm")})
    out.update(wl.layer_metrics(tracer, traced))
    out["failed_op_share"] = sum(r["error"] is not None for r in recs) / len(recs)
    out["trace.cpu_s_per_op"] = cycle_median(traced)
    out["trace.overhead_cpu_s_per_op"] = cycle_median(traced) - cycle_median(plain)
    return out


def _stop(spark, gateway) -> None:
    if spark is not None:
        spark.stop()
    if gateway is not None:
        # the JVM exits when its stdin closes; wait until it has
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hive_cassandra_spark")):
        print(f"engine package hive_cassandra_spark not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    import meter as m
    from cell_scan import CellScan
    from occ_ingest import OccIngest

    workloads = {"cell_scan": CellScan, "occ_ingest": OccIngest}
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    workdir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    spark = gateway = None
    try:
        spark = start_session(workdir, bool(args.trace))
        gateway = spark.sparkContext._gateway
        t_session = time.perf_counter() - T_START
        meter = m.CpuMeter(gateway.proc.pid)
        tracer = m.Tracer(False)
        status = _spark_status(spark) if args.trace else None
        ctx = Context(spark, args.seed, workdir, meter, tracer, status)
        wl = workloads[args.workload](ctx)

        builds = []
        for i in range(SETUP_BUILDS):
            t0 = time.perf_counter()
            wl.build(i)
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for op in wl.warmup_ops():
            ctx.execute(op, -1, None)
        t_warm = time.perf_counter() - t0
        # wall from process start to the first timed op, the repeated
        # store builds counted once, at their median
        setup_s = time.perf_counter() - T_START - sum(builds) + statistics.median(builds)

        host = m.HostStamp()
        host.start()
        t_begin = time.perf_counter()
        op_id, cycle = 0, 0
        while cycle < MIN_CYCLES or time.perf_counter() - t_begin < args.seconds:
            # the traced run alternates untraced and traced cycles, so the
            # tracing overhead is measured inside one run
            tracer.enabled = bool(args.trace) and cycle % 2 == 1
            for op in wl.cycle_ops(cycle):
                ctx.execute(op, op_id, cycle)
                op_id += 1
            cycle += 1
            if cycle == MIN_CYCLES:
                wl.snapshot_counts()
        timed_s = time.perf_counter() - t_begin
        stamps = host.stop()
        tracer.enabled = False
        t0 = time.perf_counter()
        final_ok = wl.final_check()
        t_final = time.perf_counter() - t0

        recs = ctx.records
        walls: dict[str, list[float]] = {}
        for r in recs:
            walls.setdefault(r["cls"], []).append(r["wall_s"])
        errors = [r["error"] for r in recs if r["error"]]
        info = {
            "workload": args.workload, "seed": args.seed, "cycles": cycle,
            "timed_s": timed_s, "wall.ops_per_s": len(recs) / timed_s,
            **stamps, **m.wall_summary(walls), **wl.counts,
            "cpu.cycle_s_per_op": per_cycle(recs),
            "cpu.cycle_steal_pct": [100 * _steal_share(rs) for rs in _by_cycle(recs).values()],
            **class_metrics(recs),
            **{f"cpu.{k}_s_per_op": cycle_median(recs, field=f"{k}_cpu_s")
               for k in ("driver", "python", "jvm")},
            "failures": {e: errors.count(e) for e in sorted(set(errors))},
            "final_state_ok": final_ok, "final_check_s": t_final, "setup_s": setup_s,
        }
        if args.trace:
            setup = {"session.start_s": t_session,
                     "session.build_s": statistics.median(builds),
                     "session.warm_s": t_warm}
            metrics = _per_layer(wl, recs, tracer, setup)
            tracer.write(os.path.join(WORK, f"trace-{args.workload}.json"))
            wanted = spec["per_layer"]
        else:
            metrics = {
                "setup_s": setup_s,
                "cpu_s_per_op": cycle_median(recs),
                "peak_rss_mb": meter.peak_rss_mb(),
                **wl.counts,
            }
            wanted = spec["end_to_end"]
        missing = [w["name"] for w in wanted if w["name"] not in metrics]
        if missing and not args.trace:
            raise RuntimeError(f"metrics not computed: {missing}")
        # known engine defects, run outside the timed phase and the counts
        t0 = time.perf_counter()
        info["known_defects"] = wl.probe_defects()
        info["known_defects_s"] = time.perf_counter() - t0
        for name, outcome in info["known_defects"].items():
            print(f"known defect probe {name}: {outcome}", file=sys.stderr)
        _stop(spark, gateway)
        spark = gateway = None
        print(json.dumps(info, sort_keys=True))
        print(json.dumps({
            "correct": final_ok and not any(r["wrong"] for r in recs),
            "attempted": len(recs),
            "failed": len(errors),
            "metrics": {
                w["name"]: {"value": float(metrics.get(w["name"], 0.0)), "unit": w["unit"]}
                for w in wanted
            },
        }))
        return 0
    finally:
        _stop(spark, gateway)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
