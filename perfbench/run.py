"""Layered CDC benchmark: run one workload for one seed, print one JSON line.

    python3 perfbench/run.py --workload serve_and_follow --seed 1 \
        --seconds 17 --trace 0

Works from any directory: the engine is imported from the checkout that
holds this file, and all working state lives under ``.perfbench_work/`` in
that checkout and is removed at exit. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` wraps the engine's public methods in spans, records a
Spark event log and prints the per-layer metrics instead, with the window's
wall-clock medians and the traced run's own end-to-end numbers (prefixed
``traced.``). Every run prints the wall-clock medians and their samples on
stderr. The last stdout line is the result; a failed output check exits
non-zero without printing one. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from spantrace import Tracer, layer_metrics, read_event_log  # noqa: E402
from workloads import (  # noqa: E402
    SHAPES,
    check,
    failed_tasks,
    lake_bytes,
    make_log,
    neardup_phase,
    prepare,
    rounds_for,
    run_window,
    set_up,
)

#: lake set-ups per run; setup_s is session start + preparation (the log
#: and the history, once) + the set-ups' median
SETUP_REPS = 3
#: before the session starts, wait (at most this long) until load1 is below
#: 1.25 × the host's CPUs: a busy host makes every timing slower
SETTLE_TIMEOUT_S = 10.0


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_probe_s() -> float:
    """Wall of a fixed pure-Python loop: a gauge of how fast the shared host
    runs right now, for reading a run's timings against another's."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


def settle(limit: float, timeout: float) -> float:
    """Block until load1 < ``limit`` or ``timeout``; returns seconds waited."""
    t0 = time.monotonic()
    while load1() >= limit and time.monotonic() - t0 < timeout:
        time.sleep(1.0)
    return time.monotonic() - t0


def start_session(work: Path, cores: int, event_log: Path | None):
    """A ``local[cores]`` session whose temporary files stay under ``work``
    and whose Python workers can import the engine."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = None
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_log is not None:
        event_log.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from data_pipelines_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for all."""
    proc = spark.sparkContext._gateway.proc
    procs = [proc.pid, *_descendants(proc.pid)]
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in procs:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def peak_rss_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def end_to_end(setup_s: float, bytes_: int) -> dict[str, float]:
    return {"setup_s": setup_s, "lake_bytes": float(bytes_)}


def window_metrics(w) -> dict[str, float]:
    """The window's wall-clock medians. They are reported, on stderr and by
    the traced run, but not gated: see "What is gated" in README.md."""
    return {
        "ingest_events_per_s": statistics.median(
            n / s for n, s in zip(w.batch_events, w.batch_s)
        ),
        "batch_p50_s": statistics.median(w.batch_s),
        "silver_lag_p50_s": statistics.median(w.lag_s),
        "lookup_p50_s": statistics.median(w.lookup_s),
    }


def declared_units(trace: bool) -> dict[str, str]:
    """Metric name → unit, as BENCHMARK.json declares them for this mode."""
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run(args, work: Path) -> tuple[list[str], dict, int, int]:
    shape = SHAPES[args.workload]
    rounds = rounds_for(shape, args.seconds)
    event_log = work / "eventlog" if args.trace else None
    spark, session_s = start_session(work, args.cores, event_log)
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    try:
        t0 = time.perf_counter()
        log = make_log(spark, shape, args.seed, rounds, str(work / "log"))
        log_s = time.perf_counter() - t0
        history = prepare(spark, shape, log, str(work))
        prep_s = time.perf_counter() - t0
        reps = []
        for k in range(SETUP_REPS):
            t0 = time.perf_counter()
            lake = set_up(spark, shape, log, history, str(work / f"rep{k}"))
            reps.append(time.perf_counter() - t0)
            if k < SETUP_REPS - 1:
                shutil.rmtree(lake.root)
        # the kept lake's warm-up round pays the window's one-off costs
        # (codegen, JIT, Python-worker start) before the clock starts
        t0 = time.perf_counter()
        warm = run_window(spark, lake, Tracer(sc, enabled=False), range(1))
        warm_s = time.perf_counter() - t0
        load_start, probe_start = load1(), cpu_probe_s()
        tracer = Tracer(sc, enabled=bool(args.trace))
        tracer.install()
        t0 = time.perf_counter()
        try:
            w = run_window(spark, lake, tracer, range(1, 1 + rounds))
        finally:
            tracer.uninstall()
        window_s = time.perf_counter() - t0
        load_end, probe_end = load1(), cpu_probe_s()
        e2e = end_to_end(session_s + prep_s + statistics.median(reps) + warm_s, lake_bytes(lake))
        walls = window_metrics(w)
        rss = peak_rss_mb(jvm_pid)
        w.failed_calls += warm.failed_calls
        w.calls += warm.calls
        failed = w.failed_calls + failed_tasks(sc, [None] + [s.id for s in tracer.spans])
        t0 = time.perf_counter()
        errors = check(spark, lake, w)
        check_s = time.perf_counter() - t0
        n_window_spans = len(tracer.spans)
        kept_ratio = 0.0
        if args.trace and shape.traced_neardup:
            tracer.install()
            try:
                kept_ratio = neardup_phase(spark, args.seed, str(work / "neardup"))
            finally:
                tracer.uninstall()
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        stop_s = time.perf_counter() - t0
    print(
        f"perfbench: {args.workload} seed={args.seed} rounds={len(w.batch_s)} "
        f"window={window_s:.2f}s session={session_s:.2f}s prepare={prep_s:.2f}s (log {log_s:.2f}s) setups={[round(r, 2) for r in reps]} warmup={warm_s:.2f}s "
        f"load1 start={load_start} end={load_end} cpu_probe start={probe_start:.3f}s "
        f"end={probe_end:.3f}s check={check_s:.2f}s stop={stop_s:.2f}s peak_rss={rss:.0f}MB",
        file=sys.stderr,
    )
    # samples for the record; a tail percentile with ten samples beyond it
    # needs n >= 20, more than a run of either workload takes
    for name, xs in (("batch", w.batch_s), ("silver_lag", w.lag_s), ("lookup", w.lookup_s)):
        print(f"perfbench: {name}_s n={len(xs)} samples={[round(x, 3) for x in xs]}", file=sys.stderr)
    print(f"perfbench: window {json.dumps(walls)}", file=sys.stderr)
    if not args.trace:
        return errors, e2e, w.calls, failed
    log_events = read_event_log(str(event_log))
    metrics = layer_metrics(tracer.spans[:n_window_spans], log_events, len(w.batch_s), w.events)
    phase = layer_metrics(tracer.spans[n_window_spans:], log_events, 0, 0)
    for k in phase:
        if k.startswith("incremental.minhash."):
            metrics[k] = phase[k]
    metrics["incremental.minhash.kept_ratio"] = kept_ratio
    metrics["sources.read.bytes"] = float(sum(
        os.path.getsize(s) for segs in log.rounds[1:] for s in segs
    ))
    metrics["ops_failed_frac"] = failed / max(1, w.calls)
    metrics["peak_rss_mb"] = rss
    metrics.update(walls)
    metrics.update({f"traced.{k}": v for k, v in e2e.items()})
    return errors, metrics, w.calls, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4, help="local[N] parallelism")
    args = ap.parse_args(argv)
    if not (ROOT / "data_pipelines_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    waited = settle(limit=1.25 * (os.cpu_count() or 1), timeout=SETTLE_TIMEOUT_S)
    print(f"perfbench: settled {waited:.1f}s, load1={load1()}", file=sys.stderr)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        errors, metrics, attempted, failed = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    if errors:
        for e in errors:
            print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
        return 1
    units = declared_units(bool(args.trace))
    if set(units) != set(metrics):
        print(
            f"perfbench: metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(metrics))}",
            file=sys.stderr,
        )
        return 3
    print(json.dumps({
        "correct": True,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
