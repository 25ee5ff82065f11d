"""lakebench: one workload of the lakeflow engine, seeded, closed loop.

    python3 lakebench/run.py --workload lake_upsert --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
the seed, starts a Spark session sized to the machine, sets the workload
up (``setup_s``), drives it for ``--seconds`` of timed operations with one
client, checks every answer, and prints the end-to-end metrics named in
``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics (``--trace 1``)
as the last line of stdout. Everything it writes stays under
``.lakebench/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import harness  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "lakehouse_architecture_for_realestatedata_spark"
DRIVER_MEMORY = "4g"
OUT_DIR = os.path.join(ROOT, ".lakebench")


def log(msg: str) -> None:
    print(f"[lakebench {time.time() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str, cores: int, jvm_flags: str) -> dict[str, str]:
    """Environment and session conf that keep the run inside ``work`` and
    let Python workers import the engine from this checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM (the launcher and the driver) keeps its temp files in the
    # run dir and writes no perf data to /tmp
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java} {jvm_flags}".strip()
    return {
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers
    and the thrift server) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        log(f"no {ENGINE} package next to {HERE}: run from a full checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        log(f"unknown workload {args.workload!r}; choose from {names}")
        return 2
    sys.path.insert(0, ROOT)  # the engine under test is this checkout's

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    from workloads import WORKLOADS, Context

    conf = prepare_env(work, cores, WORKLOADS[args.workload].jvm_flags)
    os.chdir(work)  # stray relative files (derby, metastore) land in the run dir

    h = harness.Harness(args.seconds, bool(args.trace))
    spark = None
    wl = None
    result = None
    try:
        session = importlib.import_module(f"{ENGINE}.session")
        clock = harness.Clock()
        spark = session.get_spark(app_name="lakebench", extra_conf=conf)
        session_s = clock.read()[1]
        h.attach(spark)
        log(f"session up in {session_s:.2f}s on local[{cores}]")

        ctx = Context(spark, args.seed, work, h, cores)
        wl = WORKLOADS[args.workload](ctx)
        builds = []
        for i in range(wl.setup_repeats):
            clock = harness.Clock()
            with h.op("setup", "build"):
                wl.build(os.path.join(work, "tables", str(i)))
            builds.append(clock.read()[1])
        clock = harness.Clock()
        wl.warmup()
        warmup_s = clock.read()[1]
        setup_s = session_s + harness.median(builds) + warmup_s
        log(f"set-up {setup_s:.2f}s: session {session_s:.2f}, builds "
            f"{', '.join(f'{b:.2f}' for b in builds)}, warm-up {warmup_s:.2f}")

        h.measuring = True
        wl.start()
        try:
            while h.running():
                wl.round()
        except Exception:  # noqa: BLE001 - already counted by the failing op
            traceback.print_exc()
        log(f"loop done: {h.attempted} operations, {h.timed_s:.1f}s timed")
        try:
            extra = wl.finish()
        except Exception as exc:  # noqa: BLE001
            traceback.print_exc()
            h.check(False, f"final check raised {type(exc).__name__}: {exc}")
            extra = {}
        result = report(args, bench, h, wl, extra, setup_s, session_s, spark)
    finally:
        if wl is not None:
            try:
                wl.close()
            except Exception:  # noqa: BLE001
                traceback.print_exc()
        if spark is not None:
            stop_session(spark)
        os.chdir(ROOT)
        if h.trace and h.spans:
            spans_path = os.path.join(OUT_DIR, f"spans_{args.workload}_{args.seed}.json")
            with open(spans_path, "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed, "spans": h.spans}, fh)
            log(f"{len(h.spans)} spans written to {spans_path}")
        shutil.rmtree(work, ignore_errors=True)
    for e in h.errors[:20]:
        log(f"error: {e}")
    if result is None:
        return 1
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _jvm_pid(spark) -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def figures(h, extra: dict, e2e: dict, rss_mb: float) -> dict[str, tuple[float, str]]:
    """Every end-to-end figure of the run with its unit, the gated ones and
    those of each operation kind the workload has."""
    out = {"setup_s": (e2e["setup_s"], "s"),
           "error_rate": (h.failed / max(1, h.attempted), "ratio"),
           "query_gm_p50_ms": (e2e["query_gm_p50_ms"], "ms"),
           "rows_per_s": (e2e["rows_per_s"], "rows/s"),
           "peak_rss_mb": (rss_mb, "MiB")}
    for kind, unit, scale in (("query", "ms", 1.0), ("commit", "ms", 1.0),
                              ("refresh", "s", 1000.0), ("maintenance", "ms", 1.0)):
        xs = h.samples.get(kind)
        if not xs:
            continue
        out[f"{kind}_p50_{unit}"] = (harness.median(xs) / scale, unit)
        if kind in ("query", "commit"):
            value, pct = harness.tail(xs)
            out[f"{kind}_tail_ms"] = (value, f"ms (p{pct:.0f} of {len(xs)})")
    for k in ("write_amp", "space_amp"):
        if k in extra:
            out[k] = (extra[k], "ratio")
    return out


def report(args, bench, h, wl, extra, setup_s, session_s, spark) -> dict:
    py_hwm = harness.hwm_mb()
    jvm_pid = _jvm_pid(spark)
    jvm_hwm = harness.hwm_mb(jvm_pid) if jvm_pid else 0.0
    templates = [v for (kind, _name), v in h.own_by_op.items() if kind == "query"]
    e2e = {
        "setup_s": setup_s,
        "query_gm_p50_ms": harness.geomean_of_medians(templates),
        "rows_per_s": wl.rows / (sum(h.own["commit"]) / 1000.0),
    }
    shown = figures(h, extra, e2e, py_hwm + jvm_hwm)
    log("figures: " + json.dumps({k: [round(v, 4), u] for k, (v, u) in shown.items()}))
    wall_gm = harness.geomean_of_medians(
        [v for (kind, _name), v in h.by_op.items() if kind == "query"])
    log(f"the host took {h.stolen_ms / 10.0 / h.timed_s:.1f}% of the timed operations' wall "
        f"time; in wall time query_gm_p50_ms reads {wall_gm:.1f}, "
        f"rows_per_s {wl.rows / (sum(h.samples['commit']) / 1000.0):.1f}")
    log("ms by operation: " + json.dumps(
        {name: [round(x) for x in v] for (_k, name), v in h.by_op.items()}))
    log("median ms by operation: " + json.dumps(
        {name: [round(harness.median(v), 1), len(v)] for (_k, name), v in h.by_op.items()}))

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if not args.trace:
        metrics = {m["name"]: e2e[m["name"]] for m in bench["end_to_end"]}
    else:
        layer = dict(h.layer)
        layer.update(extra.get("layer", {}))
        layer["spark.core_util"] = (layer.get("spark.executor_run_ms", 0.0)
                                    / max(1e-9, layer.get("spark.wall_ms", 0.0) * wl.ctx.cores))
        layer["session.start_ms"] = session_s * 1000.0
        layer["proc.jvm_hwm_mb"] = jvm_hwm
        layer["proc.py_hwm_mb"] = py_hwm
        layer["trace.fold_ms"] = h.fold_s * 1000.0
        layer["trace.hook_ms"] = h.hook_s * 1000.0
        layer["trace.overhead_share"] = h.hook_s / h.timed_s
        layer["trace.query_gm_p50_ms"] = e2e["query_gm_p50_ms"]
        layer["trace.rows_per_s"] = e2e["rows_per_s"]
        metrics = {m["name"]: float(layer.get(m["name"], 0.0)) for m in bench["per_layer"]}
    return {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
