"""Seeded benchmark of the XML→Parquet star-schema engine.

    python3 perfbench/run.py --workload etl_query --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1

One run measures one workload in a fresh Spark session: it generates the
workload's inputs from the seed, starts the session, warms up, measures
for ``--seconds``, checks the outputs, and prints every metric with its
unit and sample count. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of the traced replay with
``--trace 1``. The exit code is non-zero when an output check fails.
``--workload all`` runs every workload, each in its own process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from statistics import median

import spec

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _prepare_env(work: str) -> None:
    """Keep the engine's scratch files inside the run's work dir, size the
    session to the machine, and make the package importable."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _start_session(work: str):
    """``get_spark`` with the JVM's scratch inside the work dir; the JIT,
    the driver memory and every other setting are the package's own."""
    from xml_to_parquet_spark.session import get_spark, set_log_level

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    set_log_level(spark, "ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait for its worker processes."""
    from measure import process_tree

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - e.g. a signal broke the gateway link
        pass  # the JVM itself is shut down below either way
    if proc is None:
        return
    tree = process_tree(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def _job_probe(spark):
    from xml_to_parquet_spark.logging_utils import engine_cpu_ms

    tracker = spark.sparkContext.statusTracker()

    def probe():
        return engine_cpu_ms(spark), tracker.getJobIdsForGroup(None)

    def job_info(jid):
        job = tracker.getJobInfo(jid)
        tasks = failed = 0
        for sid in (job.stageIds if job else ()):
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
                failed += st.numFailedTasks
        return tasks, failed

    return probe, job_info


def _measure_window(wl, ctx, seconds: float):
    """Run the workload's passes for ``seconds``.

    It runs ``min_ops`` passes, then another only while one more pass of
    the last pass's length still ends within ``seconds``, so a run
    measures the same number of passes whatever the machine's speed."""
    from workloads import Op

    ops = []
    t = time.perf_counter()
    last = 0.0
    while len(ops) < wl.min_ops or time.perf_counter() - t + last <= seconds:
        t_op = time.perf_counter()
        try:
            ops += wl.run_op(ctx)
        except Exception as e:  # noqa: BLE001 - counted by exception name
            ops.append(Op(time.perf_counter() - t_op, type(e).__name__))
        last = time.perf_counter() - t_op
    return ops


def _end_to_end(wl, ctx, setup_s, ops) -> dict[str, tuple]:
    """Metric → (value, samples) for the measured window. A failed pass
    keeps its time in the median and adds no MB to the throughput."""
    p50 = median(o.seconds for o in ops)
    mb = sum(o.mb for o in ops if o.error is None) / len(ops)
    return {
        "setup_s": (setup_s, 1),
        "latency_ms_p50": (p50 * 1000, len(ops)),
        "throughput_mb_s": (mb / p50, len(ops)),
        "out_bytes_per_in_byte": (wl.out_ratio(ctx), 1),
    }


def _layer_values(tr, pass_id: int) -> dict[str, float]:
    """One traced pass's spans as per-layer metric values."""
    by_name, by_layer = tr.pass_totals(pass_id)
    vals: dict[str, float] = {}
    for name, d in by_name.items():
        if name == "pass":
            vals["trace.glue_s"] = d["self_s"]
            continue
        layer = name.split(".")[0]
        if layer == "operators":
            vals[f"{name}_ms_p50"] = d["self_s"] * 1000
        else:
            vals[f"{name}_s"] = d["self_s"]
        for k, v in d.items():
            if k not in ("self_s", "cpu_s", "jobs", "tasks", "tasks_failed"):
                vals[f"{layer}.{k}"] = vals.get(f"{layer}.{k}", 0) + v
    for layer, d in by_layer.items():
        for k in ("cpu_s", "jobs", "tasks", "tasks_failed"):
            if layer != "pass":
                vals[f"{layer}.{k}"] = d.get(k, 0)
    return vals


def _traced(wl, ctx, tr, seconds: float, setup_vals: dict) -> dict:
    """Alternate untraced and traced operations for ``seconds``; per-layer
    values are medians over the traced operations."""
    untraced, traced, per_pass = [], [], []
    t = time.perf_counter()
    while not traced or time.perf_counter() - t < seconds:
        t_op = time.perf_counter()
        wl.run_op(ctx)
        untraced.append(time.perf_counter() - t_op)
        tr.pass_id += 1
        with tr.span("pass") as root:
            wl.traced_op(ctx, tr)
        traced.append(root.end - root.start)
        per_pass.append(_layer_values(tr, tr.pass_id))
    names = sorted({k for p in per_pass for k in p})
    vals = {k: median([p.get(k, 0.0) for p in per_pass]) for k in names}
    vals.update(setup_vals)
    vals["trace.traced_pass_s"] = median(traced)
    vals["trace.untraced_pass_s"] = median(untraced)
    vals["trace.overhead_s"] = median(traced) - median(untraced)
    vals["_samples"] = len(traced)
    return vals


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    spark = None
    try:
        _prepare_env(work)
        import gen

        from xml_to_parquet_spark.logging_utils import engine_cpu_ms

        from measure import PeakRss, Tracer
        from workloads import WORKLOADS, Ctx

        names = spec.load()

        wl = WORKLOADS[name]()
        corpus = os.path.join(work, "corpus")
        gen.GENERATORS[wl.corpus](seed, corpus)
        with open(os.path.join(corpus, "expected.json")) as fh:
            expected = json.load(fh)
        print(f"workload {name} seed {seed} seconds {seconds} trace "
              f"{int(trace)} cpus {os.environ['SPARK_GRAFT_CPUS']} "
              f"input {expected['input_bytes'] / 1e6:.2f} MB", flush=True)

        cpu0 = engine_cpu_ms(None)
        t0 = time.perf_counter()
        spark = _start_session(work)
        session_s = time.perf_counter() - t0
        session_cpu_s = (engine_cpu_ms(spark) - cpu0) / 1000
        ctx = Ctx(spark=spark, seed=seed, corpus=corpus,
                  out=os.path.join(work, "out"), expected=expected)
        wl.setup(ctx)
        setup_s = time.perf_counter() - t0
        with PeakRss() as rss:
            if trace:
                tr = Tracer(*_job_probe(spark))
                vals = _traced(wl, ctx, tr, seconds,
                               {"session.start_s": session_s,
                                "session.cpu_s": session_cpu_s})
            else:
                ops = _measure_window(wl, ctx, seconds)
        try:
            problems = wl.check(ctx)
        except Exception as e:  # noqa: BLE001 - a crashing check is a failure
            problems = [f"check raised {type(e).__name__}: {e}"]
        if trace:
            vals["peak_rss_mb"] = rss.peak / 1e6
            n = vals.pop("_samples")
            metrics = _report(names.per_layer,
                              {k: (vals.get(k, 0.0), n)
                               for k in names.per_layer})
            attempted, failed = n, 0
            for k, v in wl.probe(ctx).items() if hasattr(wl, "probe") else ():
                print(f"  known-defect probe {k}: {v}")
        else:
            values = _end_to_end(wl, ctx, setup_s, ops)
            metrics = _report(names.end_to_end, values)
            attempted = len(ops)
            failed = sum(o.error is not None for o in ops)
            _report_tail(ops, rss.peak)
        for p in problems:
            print(f"  CHECK FAILED: {p}")
        print(f"  run wall {time.perf_counter() - t0:.1f} s after corpus "
              "generation")
        print(json.dumps({"correct": not problems, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0 if not problems else 1
    finally:
        try:
            if spark is not None:
                _stop_session(spark)
        finally:
            _remove_scratch(work)


def _remove_scratch(work: str) -> None:
    zip_path = os.path.join("/tmp", f"xml_to_parquet_spark_{os.getpid()}.zip")
    if os.path.exists(zip_path):  # written by the package's own shipping
        os.remove(zip_path)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another run's work dir is still there
        pass


def _report(units: dict[str, str], values: dict[str, tuple]) -> dict:
    """Print each metric with unit and sample count; return the JSON form."""
    for k, u in units.items():
        print(f"  {k} {values[k][0]:.6g} {u} (n={values[k][1]})")
    return {k: {"value": float(values[k][0]), "unit": u}
            for k, u in units.items()}


def _report_tail(ops, peak_rss: int) -> None:
    """The human-only lines: tail latency, memory and the error rate."""
    from measure import tail_percentile

    lat = [o.seconds * 1000 for o in ops if o.error is None]
    p90 = tail_percentile(lat, 90)
    if p90 is None:
        print(f"  latency_ms_p90 not reported: fewer than 10 of {len(lat)} "
              "samples beyond it")
    else:
        print(f"  latency_ms_p90 {p90:.6g} ms (n={len(lat)})")
    print(f"  peak_rss_mb {peak_rss / 1e6:.6g} MB (n=1)")
    errors: dict[str, int] = {}
    for o in ops:
        if o.error:
            errors[o.error] = errors.get(o.error, 0) + 1
    failed = sum(errors.values())
    print(f"  error_rate {failed / max(1, len(ops)):.4g} ratio (n={len(ops)})"
          + (f" failures {errors}" if errors else ""))


def run_all(seed: int, seconds: float, trace: bool) -> int:
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in spec.load().workloads:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(int(trace))],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        code = code or proc.returncode
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            merged["correct"] = False
            code = code or 1
            continue
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return code


def main(argv: list[str] | None = None) -> int:
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    ap = argparse.ArgumentParser(description="Seeded engine benchmark.")
    ap.add_argument("--workload", required=True,
                    choices=spec.load().workloads + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace))
    return run_workload(args.workload, args.seed, args.seconds,
                        bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
