"""One fresh benchmark process: set up, run the timed passes, verify.

Started by run.py, never imported by it: everything a process pays once
(the JVM, the session, the registry import, shipping the package zip, the
first footer scan) belongs to ``setup_s`` and only a new process pays it
again.  Writes one JSON record to ``--result``.

    PYTHONPATH=. python3 perfbench/worker.py --workload build-heavy --seed 1 --trace 0 \\
        --sf-dir perfbench/data/sf0.01 --work .perfbench/work --seconds 10 \\
        --spawned-at "$(python3 -c 'import time; print(time.monotonic())')" \\
        --result out.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

from spans import Tracer
from stats import failed_ops, op_order
from workloads import WORKLOADS

T_IMPORTED = time.monotonic()


def _args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--spawned-at", type=float, required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--cold-only", action="store_true")
    return p.parse_args(argv)


def _wrap_catalog(tracer: Tracer, holder: dict) -> None:
    """Time ``Catalog.table``, ``catalog.read_events`` and
    ``ensure_package_on_executors`` from outside the package, and count the
    jobs a table lookup starts (parquet schema inference)."""
    import hackatonbigdata_spark.catalog as cat  # noqa: PLC0415

    table, read_events, ship = cat.Catalog.table, cat.read_events, cat.ensure_package_on_executors

    def traced_table(self, name):
        c = holder["rec"].setdefault("catalog", dict.fromkeys(("table_calls", "table_s", "schema_jobs"), 0))
        before = tracer.jobs_seen_now()
        t = time.perf_counter()
        with tracer.span("catalog.table", table=name):
            df = table(self, name)
        c["table_s"] += time.perf_counter() - t
        c["table_calls"] += 1
        c["schema_jobs"] += len(tracer.jobs_seen_now() - before)
        return df

    def traced_read_events(spark, sf_dir):
        with tracer.span("catalog.read_events"):
            return read_events(spark, sf_dir)

    def traced_ship(spark):
        t = time.perf_counter()
        with tracer.span("catalog.ship"):
            ship(spark)
        holder["ship_s"] = holder.get("ship_s", 0.0) + time.perf_counter() - t

    cat.Catalog.table = traced_table
    cat.read_events = traced_read_events
    cat.ensure_package_on_executors = traced_ship


def _stop(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it here, so
    no JVM is still shutting down once this process has exited.  The gateway
    exits when its stdin closes."""
    from pyspark import SparkContext  # noqa: PLC0415

    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def main(argv=None) -> int:
    a = _args(argv)
    tracer = Tracer(bool(a.trace))
    holder: dict = {"rec": {}}
    setup: dict = {}
    with tracer.span("setup", op="setup"):
        with tracer.span("session.start"):
            t = time.perf_counter()
            from hackatonbigdata_spark.session import get_spark  # noqa: PLC0415

            spark = get_spark()
            setup["session.start_s"] = time.perf_counter() - t
        tracer.bind(spark)
        if a.trace:
            _wrap_catalog(tracer, holder)
        with tracer.span("registry.load"):
            t = time.perf_counter()
            from hackatonbigdata_spark.catalog import Catalog  # noqa: PLC0415
            from hackatonbigdata_spark.registry import all_oracles, all_queries  # noqa: PLC0415

            queries, oracles = all_queries(), all_oracles()
            setup["registry.load_s"] = time.perf_counter() - t
        import ops as O  # noqa: PLC0415 — imports the package's sinks

        # shipping the package zip and the first footer scan
        Catalog(spark, a.sf_dir).table("lineitem")
    setup_s = time.monotonic() - a.spawned_at
    tracer.end_setup()
    setup["catalog.ship_s"] = holder.get("ship_s", 0.0)

    ops = [O.make_op(n) for n in op_order(list(WORKLOADS[a.workload]), a.seed)]
    ctx = O.Ctx(spark, a.sf_dir, queries, oracles, os.path.join(a.work, "out"), tracer)
    gc0 = tracer.jvm_gc_ms() if a.trace else 0.0
    records, pass_s = [], []
    t_window = time.perf_counter()
    while True:
        p = len(pass_s) + 1
        # every pass starts from the same disk state: the previous pass's
        # outputs go before this one starts (the last pass's after verifying)
        O.remove([os.path.join(ctx.out_root, f"pass{p - 1}")])
        O.remove([path for op in ops for path in op.outputs(ctx)])
        t_pass = time.perf_counter()
        for op in ops:
            rec = {"op": op.name, "pass": p, "ok": True, "writes": op.writes}
            holder["rec"] = rec
            t = time.perf_counter()
            try:
                with tracer.span("op", op=op.name, pass_no=p):
                    op.run(ctx, p, rec)
            except Exception as e:  # an op that raises is a failed op; go on
                rec["ok"], rec["error"] = False, f"{type(e).__name__}: {e}"[:2000]
                traceback.print_exc()
            rec["s"] = time.perf_counter() - t
            records.append(rec)
        pass_s.append(time.perf_counter() - t_pass)
        # the cold pass always runs; warm passes only while the measured
        # window is shorter than --seconds
        if a.cold_only or time.perf_counter() - t_window >= a.seconds:
            break
    gc_ms = tracer.jvm_gc_ms() - gc0 if a.trace else 0.0

    t_verify = time.perf_counter()
    verified = {}
    if not a.cold_only:
        for op in ops:
            if not all(r["ok"] for r in records if r["op"] == op.name):
                continue  # already failed by raising
            t = time.perf_counter()
            with tracer.span("verify", op=op.name):
                try:
                    ok, detail = op.verify(ctx)
                except Exception as e:
                    ok, detail = False, f"{type(e).__name__}: {e}"[:2000]
                    traceback.print_exc()
            verified[op.name] = {
                "ok": bool(ok), "detail": detail[:2000], "s": time.perf_counter() - t
            }
    verify_s = time.perf_counter() - t_verify
    O.remove([ctx.out_root] + [path for op in ops for path in op.outputs(ctx)])

    result = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "order": [op.name for op in ops],
        "setup_s": setup_s,
        "import_s": T_IMPORTED - a.spawned_at,
        "pass_s": pass_s,
        "verify_s": verify_s,
        "ops": records,
        "verified": verified,
        "attempted": len(ops),
        "failed": failed_ops(records, verified),
    }
    if a.trace:
        result["setup"] = setup
        result["session"] = {"gc_ms": gc_ms, "jvm_peak_rss_mb": tracer.jvm_peak_rss_mb()}
        result["spans"] = tracer.spans
    t = time.perf_counter()
    _stop(spark)
    result["stop_s"] = time.perf_counter() - t
    with open(a.result, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
