"""Benchmark of the mevi_spark dataflow.

    python3 perfbench/run.py --workload retrieval_sweep --seed 1 --seconds 4 --trace 0

Run from the repository root. One run sets up once, from a cold JVM:
start one Spark session (``local[nproc]``), generate the seeded inputs,
stage them, and warm up with ``warm_ops`` ops. It then runs ops back to
back — a closed loop with one client — until ``--seconds`` have passed
(or the workload's inputs run out), and checks every op's outputs
against references computed apart from the op. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. A traced run traces every op and reports their median
latency as ``trace.op_p50_s``; the tracing overhead is that minus
``op_p50_s`` of an untraced run.

Workloads, sizes and seeds are in ``spec.json``.
Everything a run writes stays under ``perfbench/.work/`` and is removed
when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARM_OP = 1_000_000
# the driver heap starts at its maximum: left to grow, its size at the
# peak depends on when the collector ran, and peak RSS swung by a third
HEAP = "2g"


def load_json(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def parse_args(argv, spec, bench):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    ap.add_argument("--seed", type=int, default=spec["default_seed"])
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke-test sizes of spec.json")
    ap.add_argument("--plant-error", action="store_true",
                    help="corrupt the first op's output before the checks")
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Point every temporary and staging location of Python, Spark and
    the package inside the run's work directory (before pyspark loads)."""
    for sub in ("tmp", "local", "stage", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_STAGE_DIR"] = os.path.join(work, "stage")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(work: str, nproc: int):
    """The package's own session (AQE on, ``nproc`` shuffle partitions),
    with its log and scratch files kept in ``work``."""
    from mevi_spark.session import get_spark

    os.environ["MEVI_SPARK_DRIVER_MEM"] = HEAP
    java = (
        f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')} "
        f"-Dperfbench.log={os.path.join(work, 'spark.log')}"
    )
    return get_spark(
        app_name="perfbench",
        cpus=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java,
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for both and for the
    JVM's Python workers to end."""
    from pyspark import SparkContext

    from probe import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


def checked(wl, out, con) -> bool:
    """``wl.check``, with an output too malformed to check counted wrong."""
    try:
        return wl.check(out, con)
    except (KeyError, IndexError, TypeError, ValueError):
        traceback.print_exc()
        return False


def main(argv=None) -> int:
    spec = load_json(os.path.join(HERE, "spec.json"))
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    args = parse_args(argv, spec, bench)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    sys.path.insert(0, ROOT)
    import mevi_spark  # noqa: F401  (fails here when the package is absent)

    import generate as G
    from probe import LogCounter, RssPeak, Tracer, job_stats
    from workloads import WORKLOADS

    cfg = spec["workloads"][args.workload]
    sizes_cfg = cfg["tiny_sizes" if args.size == "tiny" else "sizes"]
    nproc = len(os.sched_getaffinity(0))
    data_dir = os.path.join(work, "data")
    wl = WORKLOADS[args.workload](sizes_cfg, args.seed, data_dir, work)
    spark = None
    try:
        # -- setup, once, from a cold JVM ----------------------------------
        t0 = time.perf_counter()
        spark = start_session(work, nproc)
        t1 = time.perf_counter()
        tables, manifest = G.generate(args.seed, wl.sizes)
        G.write(tables, manifest, data_dir)
        wl.generated(tables)
        t2 = time.perf_counter()
        wl.stage(spark)
        t3 = time.perf_counter()
        for w in range(cfg["warm_ops"]):  # op numbers no timed op uses
            wl.op(spark, WARM_OP + w, Tracer(spark, False, "warm"))
        t4 = time.perf_counter()
        setup = {"start": t1 - t0, "generate": t2 - t1, "stage": t3 - t2, "warm": t4 - t3}
        max_ops = getattr(wl, "max_ops", None)
        if max_ops is not None:
            max_ops -= cfg["warm_ops"]

        # -- timed phase ---------------------------------------------------
        from pyspark import SparkContext

        rss = RssPeak(SparkContext._gateway.proc.pid)
        log = LogCounter(os.path.join(work, "spark.log"))
        rss.start()
        log.take()
        outs, lat = [], []
        rows = errors = 0
        layer_sum: dict[str, float] = {}
        fallbacks = []
        t_start = time.perf_counter()
        i = 0
        while (i == 0 or time.perf_counter() - t_start < args.seconds) and (
            max_ops is None or i < max_ops
        ):
            tr = Tracer(spark, bool(args.trace), f"op{i}")
            t0 = time.perf_counter()
            try:
                out, n = wl.op(spark, i, tr)
            except Exception:  # an op that raises is a failed op
                traceback.print_exc()
                errors += 1
                i += 1
                continue
            dt = time.perf_counter() - t0
            tr.close()
            rss.sample()
            fallbacks.append(log.take())
            lat.append(dt)
            rows += n
            outs.append(out)
            if args.trace:
                stats = job_stats(spark, tr.groups, dt)
                stats.update(tr.layer_s)
                stats["driver.plan_build_s"] = tr.build_s
                stats["trace.layer_coverage_frac"] = sum(tr.layer_s.values()) / dt
                stats.update(wl.op_counts(out, tr))
                for k, v in stats.items():
                    layer_sum[k] = layer_sum.get(k, 0.0) + v
            i += 1
        elapsed = time.perf_counter() - t_start
        peak_mb = rss.peak_mb()

        # -- checks, outside the timed phase -------------------------------
        if args.plant_error:
            wl.plant_error(outs[0])
        con = wl.checker()
        failed = errors + sum(0 if checked(wl, out, con) else 1 for out in outs)
        if con is not None:
            con.close()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if args.trace:
        values = {k: v / len(lat) for k, v in layer_sum.items()}
        values["spark.codegen_fallbacks"] = statistics.mean(fallbacks)
        for part, secs in setup.items():
            values[f"session.setup.{part}_s"] = secs
        values["trace.op_p50_s"] = statistics.median(lat)
        names = [m["name"] for m in bench["per_layer"]]
    else:
        values = {
            "op_p50_s": statistics.median(lat),
            "op_tail_s": max(lat),
            "rows_per_s": rows / elapsed,
            "peak_rss_mb": peak_mb,
            "setup_s": sum(setup.values()),
        }
        names = [m["name"] for m in bench["end_to_end"]]
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}
    print("op latencies (s): " + " ".join(f"{x:.3f}" for x in lat)
          + "; setup (s): " + " ".join(f"{k} {v:.3f}" for k, v in setup.items()),
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(outs) + errors,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
