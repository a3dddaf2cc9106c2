"""Benchmark of the gcpde_spark engine: one workload per run.

Usage, from the repository root::

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, no client threads; see workloads.py):
``sql_analytics``, ``etl_upsert`` and ``llm_curate``. A run

1. generates its input tables from ``--seed`` under a fresh run directory
   inside the checkout (``.perfbench_run/``, removed at exit);
2. builds the session with ``build_session`` on ``local[<cpus>]``, its
   heap, local dir, warehouse and temp dirs sized and placed by the
   benchmark;
3. seeds the workload's fixtures and oracle, and runs one untimed warm-up
   round — ``setup_s`` ends here;
4. runs a fixed number of rounds of ops, the workload's ``rounds`` per
   10 s of ``--seconds`` (whole rounds, so every run does the same work),
   checking every result in the untimed gap after its op;
5. stops the session and waits until the JVM and its workers have exited.

It prints a diagnostics line, then the result as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics under ``--trace 0`` and the per-layer metrics under ``--trace 1``.
A traced run also writes its spans and per-layer summary to
``.perfbench_out/trace-<workload>-<seed>.json``. ``--smoke`` runs a few
ops on tiny inputs (the benchmark's own tests use it).
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402 — setup_s counts from the first line above
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
RUN_ROOT = ROOT / ".perfbench_run"
OUT_DIR = ROOT / ".perfbench_out"

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "records_per_s": "1/s",
    "ok_op_ratio": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.build_s": "s",
    "session.noop_job_s": "s",
    "session.jobs_per_op": "count",
    "session.tasks_per_op": "count",
    "session.gc_s": "s",
    "queries.build_s": "s",
    "queries.collect_s": "s",
    "queries.rows_out": "count",
    "datasets.add_records_s": "s",
    "datasets.bytes_written": "bytes",
    "datasets.read_df_s": "s",
    "datasets.rows_read": "count",
    "datasets.files_total": "count",
    "records.to_dataframe_s": "s",
    "tables.upsert_s": "s",
    "tables.bytes_written": "bytes",
    "tables.write_amp": "ratio",
    "tables.select_s": "s",
    "tables.page_first_s": "s",
    "tables.page_next_s": "s",
    "txn.merge_s": "s",
    "txn.files_rewritten": "count",
    "txn.files_kept": "count",
    "txn.rewrite_ratio": "ratio",
    "txn.bytes_written": "bytes",
    "txn.read_s": "s",
    "llm.curate_s": "s",
    "llm.dedup_s": "s",
    "llm.topk_s": "s",
    "llm.docs_kept_ratio": "ratio",
    "trace.ops_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
}

# Median of a bare ``spark.range(1).count()`` job on a quiet 4-core,
# 15 GiB VM once the session is warm; a run whose probes read above twice
# this is flagged ``noisy_host`` in its diagnostics.
QUIET_NOOP_S = 0.07


def _heap_mb() -> int:
    """Driver heap for this machine: a quarter of RAM, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(2048, total_kb // 4096)


def tail(latencies: list[float]) -> tuple[float, float]:
    """``(value, percentile)`` of the highest percentile that leaves at
    least ten ops beyond it: the 11th-slowest op. Below eleven ops no
    percentile qualifies and the slowest op stands in (percentile 100)."""
    s = sorted(latencies)
    if len(s) < 11:
        return s[-1], 100.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def _session(run_dir: Path, cpus: int):
    from gcpde_spark.session import build_session

    tmp, heap = run_dir / "tmp", _heap_mb()
    return build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_confs={
            "spark.driver.memory": f"{heap}m",
            # the library's local-mode collector; the heap starts at full
            # size, so peak RSS does not hinge on when the collector
            # chose to grow it; temp files stay in the run dir
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseParallelGC -Xms{heap}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": str(run_dir / "local"),
            "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def run(args: argparse.Namespace, run_dir: Path) -> tuple[dict, dict]:
    import numpy as np

    from host import Host
    from spans import NullTracer, Tracer
    from workloads import WORKLOADS, Context

    cpus = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = _session(run_dir, cpus)
    build_s = time.perf_counter() - t
    host = Host(spark)
    tracer = Tracer() if args.trace else NullTracer()
    ctx = Context(
        spark=spark,
        run_dir=run_dir,
        seed=args.seed,
        rng=np.random.default_rng(args.seed),
        smoke=args.smoke,
        tracer=NullTracer(),
    )
    try:
        wl = WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        wl.setup()
        fixtures_s = time.perf_counter() - t
        warm_ok = True
        for op in wl.round():
            warm_ok &= op.check(op.run())[0]
        setup_s = time.perf_counter() - _T0
        warmup_s = time.perf_counter() - t - fixtures_s

        ctx.tracer = tracer
        probes = [host.noop_s() for _ in range(3)]
        gc0 = host.gc_s()
        lat: list[float] = []
        attempted = failed = records = 0
        timed = trace_s = 0.0
        if args.smoke:
            rounds = wl.smoke_rounds
        else:
            rounds = max(1, round(wl.rounds * args.seconds / 10))
        for _ in range(rounds):
            for op in wl.round():
                tracer.begin_op(attempted)
                if tracer.enabled:
                    t = time.perf_counter()
                    j0 = host.next_job_id()
                    trace_s += time.perf_counter() - t
                t = time.perf_counter()
                try:
                    # the op's own span: its self time is what the op
                    # spends outside every gcpde_spark call
                    with tracer.span("op", args.workload):
                        res = op.run()
                    err = None
                except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                    err = traceback.format_exc()
                dt = time.perf_counter() - t
                if tracer.enabled:
                    t = time.perf_counter()
                    host.note_jobs(j0)
                    trace_s += time.perf_counter() - t
                timed += dt
                attempted += 1
                ok, n = False, 0
                if err is None:
                    try:
                        ok, n = op.check(res)
                    except Exception:  # noqa: BLE001
                        err = traceback.format_exc()
                if ok:
                    lat.append(dt)
                    records += n
                else:
                    failed += 1
                    print(f"op {attempted - 1} ({op.label}) failed: {err or 'wrong result'}", file=sys.stderr)
                host.sample_rss()
                if attempted % wl.probe_every == 0:
                    probes.append(host.noop_s())
        gc_s = host.gc_s() - gc0
        finish_ok = wl.finish()
        host.sample_rss()
        tasks = host.tasks_per_op() if tracer.enabled else []
    finally:
        host.close()

    if not lat:
        raise RuntimeError(f"no op of {args.workload} completed correctly")
    tail_s, tail_pct = tail(lat)
    ops_per_s = len(lat) / timed
    noop_med = statistics.median(probes)
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": len(lat),
        "rounds": rounds,
        "timed_s": timed,
        "setup_phases_s": {"session": build_s, "fixtures": fixtures_s, "warmup": warmup_s},
        "tail_percentile": tail_pct,
        "tail_ops_beyond": min(10, len(lat) - 1),
        "noop_job_med_s": noop_med,
        "noop_job_max_s": max(probes),
        "noisy_host": noop_med > 2 * QUIET_NOOP_S,
        "jvm_gc_s": gc_s,
        "warmup_ok": warm_ok,
        "finish_ok": finish_ok,
    }
    if args.trace:
        metrics = {
            "session.build_s": build_s,
            "session.noop_job_s": noop_med,
            "session.jobs_per_op": statistics.fmean(len(j) for j in host.job_ids),
            "session.tasks_per_op": statistics.fmean(tasks),
            "session.gc_s": gc_s,
            "trace.ops_per_s": ops_per_s,
            "trace.overhead_ratio": (tracer.overhead_s + trace_s) / timed,
            **wl.layer_metrics(tracer),
        }
        # layers this workload never calls read zero
        metrics = {k: metrics.get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
        OUT_DIR.mkdir(exist_ok=True)
        tracer.dump(
            OUT_DIR / f"trace-{args.workload}-{args.seed}.json",
            {"diagnostics": diag, "metrics": metrics, "tasks_per_op": tasks},
        )
    else:
        metrics = {
            "setup_s": setup_s,
            "ops_per_s": ops_per_s,
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_s,
            "records_per_s": records / timed,
            "ok_op_ratio": (attempted - failed) / attempted,
            "peak_rss_mb": host.peak_rss_mb(),
        }
        units = END_TO_END
    result = {
        "correct": warm_ok and finish_ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return diag, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["sql_analytics", "etl_upsert", "llm_curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, a few ops")
    args = ap.parse_args(argv)
    if not (ROOT / "gcpde_spark" / "__init__.py").is_file():
        print(f"gcpde_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    run_dir = RUN_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # everything the run writes stays in its run dir: managed tables
    # (read when gcpde_spark.tables is imported), Spark's scratch space
    # (SPARK_LOCAL_DIRS overrides spark.local.dir), Python and JVM temp
    # files
    os.environ["GCPDE_SPARK_WAREHOUSE"] = str(run_dir / "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    # the short-lived JVM spark-submit starts to assemble the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    try:
        diag, result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            RUN_ROOT.rmdir()
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
