"""Benchmark entry point.

    python3 perfbench/run.py --workload medallion|serve \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the workload's inputs from
``--seed``, sets the workload up three times (``setup_s`` is the
median), runs one op of each kind on the first set-up to warm up, runs
a fixed, seeded schedule of closed-loop ops sized to take about
``--seconds`` on a 4-core host on the last one, checks the results
against a DuckDB model, and prints one JSON object as the last line of
stdout. ``--trace 0`` reports the end-to-end metrics. ``--trace 1``
sets up four times, warms up on the first set-up, runs the same
schedule untraced, traced and untraced again on the other three, and
reports the per-layer metrics. See ``perfbench/NOTES.md``.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_s.p50": "s",
             "pass_s": "s", "ingest_rows_per_s": "1/s", "write_amp": "ratio",
             "space_amp": "ratio"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["medallion", "serve"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _cpu_s(pids) -> float:
    """User + system CPU seconds used so far by ``pids``."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / tick


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _gc_s(spark) -> float:
    """Collection time of the JVM's garbage collectors so far."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def start_session(work: str):
    from emr_hudi_example_spark.session import get_spark_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark_session(
        app_name="perfbench", master="local[4]", shuffle_partitions=4,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # heap and GC stay at the program's defaults, so that
            # peak_rss_mb shows the program's own memory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    sc = spark.sparkContext
    gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    except Exception as e:  # e.g. a py4j call cut short by SIGTERM
        print(f"perfbench: session stop: {e}", file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def make_workload(name, spark, work, seed, seconds):
    if name == "medallion":
        from medallion import Medallion as W
    else:
        from serve import Serve as W
    return W(spark, work, seed, seconds)


def run_pass(wl, st, rec=None):
    """Run the workload's fixed schedule on set-up state ``st``; returns
    the op records. ``rec`` (traced run) opens a span per op."""
    import storage

    ledger = storage.Ledger([t.path for t in wl.tables(st)])
    ops: list[dict] = []

    def clock(kind, fn):
        op = {"kind": kind, "ok": True}
        t0 = time.perf_counter()
        try:
            if rec is None:
                op["result"] = fn()
            else:
                rec.op = len(ops)
                with rec.span(f"op.{kind}"):
                    op["result"] = fn()
        except Exception as e:  # counted in `failed`, never filtered
            op["ok"] = False
            op["error"] = f"{type(e).__name__}: {e}"[:300]
        op["s"] = time.perf_counter() - t0
        ops.append(op)
        return op

    def account():
        return ledger.step()

    wl.run(st, clock, account)
    return ops, ledger


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally below: stop the JVM, clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import emr_hudi_example_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program package not found: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = None
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_start_s = time.perf_counter() - t0
        wl = make_workload(args.workload, spark, work, args.seed, args.seconds)
        wl.generate()
        setup_times, states = [], []
        for k in range(SETUPS + args.trace):
            t0 = time.perf_counter()
            states.append(wl.setup(os.path.join(work, f"setup-{k}")))
            setup_times.append(time.perf_counter() - t0)
        # first-use costs of every op path are paid here, on a set-up
        # that is not measured, so they do not land in the first ops
        try:  # a failure here recurs in the measured pass and counts there
            wl.warmup(states[0])
        except Exception as e:
            print(f"perfbench: warm-up failed: {e}", file=sys.stderr)
        if args.trace:
            result = traced_run(wl, states, session_start_s, spark)
        else:
            result = untraced_run(wl, states[-1], setup_times, spark)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    info, line = result
    print(json.dumps(info, default=str))
    print(json.dumps(line))
    return 0


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(spark) -> tuple[float, float]:
    """VmHWM of this process and of its JVM, in MB."""
    return _hwm_kb(os.getpid()) / 1024.0, _hwm_kb(jvm_pid(spark)) / 1024.0


def summarize(wl, ops, ledger, st) -> dict:
    """End-to-end figures of one pass (the untraced run's metrics)."""
    import layers

    walls = [o["s"] for o in ops]
    primary = [o["s"] for o in ops if o["kind"] == wl.primary]
    out = {"op_s.p50": statistics.median(primary), "pass_s": sum(walls)}
    out.update(wl.summarize(ops, ledger, st))
    out.update(layers.latencies(ops))
    commits = sum(o.get("commits", 0) for o in ops)
    out.update({
        "storage.commits": commits,
        "storage.bytes_written": ledger.bytes_written,
        "storage.bytes_per_commit": ledger.bytes_written / max(1, commits),
        "storage.files_written": ledger.files_written,
        "storage.index_bytes_written": ledger.index_bytes_written,
        "storage.files_deleted": ledger.files_deleted,
    })
    return out


def untraced_run(wl, st, setup_times, spark):
    pids = [os.getpid(), jvm_pid(spark)]
    cpu0, gc0, (steal0, total0) = _cpu_s(pids), _gc_s(spark), _steal_ticks()
    ops, ledger = run_pass(wl, st)
    pass_cpu_s = _cpu_s(pids) - cpu0
    pass_gc_s = _gc_s(spark) - gc0
    steal1, total1 = _steal_ticks()
    py_mb, jvm_mb = peak_rss_mb(spark)
    attempted, failed, info = wl.check(st)
    attempted += len(ops)
    failed += sum(1 for o in ops if not o["ok"])
    m = summarize(wl, ops, ledger, st)
    m["setup_s"] = statistics.median(setup_times)
    m["peak_rss_mb"] = py_mb + jvm_mb
    m["peak_rss_mb.python"], m["peak_rss_mb.jvm"] = py_mb, jvm_mb
    m["pass_cpu_s"] = pass_cpu_s
    m["pass_gc_s"] = pass_gc_s
    # a shared host shows up here: CPU time its other tenants took
    m["host_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    info.update(workload=wl.name, ops=len(ops), setup_runs=setup_times,
                errors=[o["error"] for o in ops if not o["ok"]][:5],
                detail={k: v for k, v in m.items() if k not in E2E_UNITS})
    metrics = {k: {"value": m[k], "unit": u} for k, u in E2E_UNITS.items()}
    return info, {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}


def traced_run(wl, states, session_start_s, spark):
    import layers
    import spans

    # untraced, traced, untraced: the mean of the two untraced passes
    # cancels the drift that JIT warm-up still causes from pass to pass
    before, _ = run_pass(wl, states[1])
    rec = spans.Recorder(spark)
    patcher = layers.install(rec)
    try:
        ops, ledger = run_pass(wl, states[2], rec)
    finally:
        patcher.restore()
    unattributed = rec.finish()
    after, _ = run_pass(wl, states[3])
    base_ops = before + after
    attempted, failed, info = wl.check(states[2])
    attempted += len(ops) + len(base_ops)
    failed += sum(1 for o in ops + base_ops if not o["ok"])
    m = layers.per_layer(rec, wl, ops, ledger, states[2])
    m.update(layers.latencies(base_ops))
    m["session.start_s"] = session_start_s
    m["spans.unattributed_jobs"] = unattributed
    untraced_s = sum(o["s"] for o in base_ops) / 2
    traced_s = sum(o["s"] for o in ops)
    m["trace.overhead_s"] = traced_s - untraced_s
    m["trace.overhead_share"] = (traced_s - untraced_s) / untraced_s
    info.update(workload=wl.name, spans=len(rec.spans),
                untraced_pass_s=untraced_s, traced_pass_s=traced_s)
    metrics = {k: {"value": v, "unit": layers.unit(k)}
               for k, v in sorted(m.items())}
    return info, {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
