"""The ops the workloads run.

An op is one public call chain of the package, timed from the call that
builds its DataFrame to the end of its sink.  Each op keeps what its last
pass produced so it can be verified after the timed passes.
"""

from __future__ import annotations

import csv
import glob
import os
import shutil

import pandas as pd

from hackatonbigdata_spark.oracle import check_query, duckdb_connection
from hackatonbigdata_spark.plans.submission import N_WEEKS, build_submission
from hackatonbigdata_spark.sources.io import SUBMISSION_COLS, write_submission
from hackatonbigdata_spark.streaming import jobs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def io_scratch(sf_dir: str) -> str:
    """Where the package's ``io_*`` queries write (``operators.io_queries``
    keeps its scratch under ``<repo>/.scratch/io/<sf dir name>``)."""
    return os.path.join(ROOT, ".scratch", "io", os.path.basename(sf_dir.rstrip("/")))


class Ctx:
    """What every op needs: the session, the inputs and the output root."""

    def __init__(self, spark, sf_dir, queries, oracles, out_root, tracer):
        self.spark = spark
        self.sf_dir = sf_dir
        self.queries = queries
        self.oracles = oracles
        self.out_root = out_root
        self.tracer = tracer

    def out(self, pass_no: int, leaf: str) -> str:
        return os.path.join(self.out_root, f"pass{pass_no}", leaf)


class QueryOp:
    """A registered query (``Engine.query``'s path) run to the noop sink."""

    writes = False

    def __init__(self, name: str):
        self.name = name
        self.df = None

    def build(self, ctx):
        return ctx.queries[self.name](ctx.spark, ctx.sf_dir)

    def run(self, ctx, pass_no: int, rec: dict) -> None:
        tr = ctx.tracer
        with tr.phase(self.name, "build", rec):
            df = self.build(ctx)
        if tr.enabled:
            with tr.phase(self.name, "plan", rec):
                rec["catalyst"] = tr.catalyst_phases(df)
        with tr.phase(self.name, "execute", rec):
            self.sink(ctx, pass_no, df, rec)
        self.df = df

    def sink(self, ctx, pass_no, df, rec) -> None:
        df.write.format("noop").mode("overwrite").save()

    def outputs(self, ctx) -> list[str]:
        """Paths outside the pass directory that the op writes."""
        return []

    def verify(self, ctx) -> tuple[bool, str]:
        """``oracle.check_query`` on the DataFrame the last pass built."""
        res = check_query(
            ctx.spark, ctx.sf_dir, self.name, lambda *_: self.df, ctx.oracles[self.name]
        )
        return res.ok, res.detail


class IoQueryOp(QueryOp):
    """An ``io_*`` round-trip query: it writes its table while being built."""

    writes = True

    def outputs(self, ctx) -> list[str]:
        return [io_scratch(ctx.sf_dir)]


class SubmissionOp(QueryOp):
    """``plans.submission.build_submission`` -> ``sources.io.write_submission``."""

    writes = True

    def build(self, ctx):
        return build_submission(ctx.spark, ctx.sf_dir)

    def sink(self, ctx, pass_no, df, rec) -> None:
        self.path = ctx.out(pass_no, "submission")
        self.rows = write_submission(df, self.path)

    def verify(self, ctx) -> tuple[bool, str]:
        parts = glob.glob(os.path.join(self.path, "part-*.csv"))
        if len(parts) != 1:
            return False, f"expected one CSV part file, found {len(parts)}"
        con = duckdb_connection(ctx.sf_dir)
        try:
            base = con.execute(
                f"SELECT count(*) FROM ({ctx.oracles['heuristic_blend_forecast']})"
            ).fetchone()[0]
        finally:
            con.close()
        with open(parts[0], encoding="utf-8", newline="") as fh:
            header = fh.readline().rstrip("\r\n")
            if header != ";".join(SUBMISSION_COLS):
                return False, f"bad header {header!r}"
            n = 0
            for row in csv.reader(fh, delimiter=";"):
                n += 1
                if len(row) != len(SUBMISSION_COLS):
                    return False, f"row {n} has {len(row)} fields: {row!r}"
                if not row[3].isdigit():
                    return False, f"row {n} quantity {row[3]!r} is not a non-negative integer"
        if not n == self.rows == N_WEEKS * base:
            return False, (
                f"rows: csv={n} returned={self.rows} expected={N_WEEKS}x{base}"
            )
        return True, ""


class StreamOp(QueryOp):
    """A ``streaming.jobs`` transformation over the events file stream,
    drained with ``availableNow`` into a fresh parquet sink and checkpoint."""

    writes = True

    def build(self, ctx):
        return getattr(jobs, self.name)(jobs.read_events_stream(ctx.spark, ctx.sf_dir))

    def run(self, ctx, pass_no: int, rec: dict) -> None:
        tr = ctx.tracer
        with tr.phase(self.name, "build", rec):
            stream = self.build(ctx)
        self.path = ctx.out(pass_no, self.name)
        w = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", self.path)
            .option("checkpointLocation", ctx.out(pass_no, f"{self.name}.ckpt"))
            .trigger(availableNow=True)
        )
        with tr.phase(self.name, "execute", rec):
            q = w.start()
            tr.add_job_group(q.runId)  # the micro-batch jobs run in this group
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream {self.name} failed: {q.exception()}")
        if tr.enabled:
            rec["streaming"] = stream_progress(q.recentProgress)
        self.df = stream

    def verify(self, ctx) -> tuple[bool, str]:
        """Compare the sink with the same function over a batch read."""
        twin = getattr(jobs, self.name)(jobs.read_events_batch(ctx.spark, ctx.sf_dir))
        return dedup_subset(ctx.spark.read.parquet(self.path).toPandas(), twin.toPandas())


def dedup_subset(got: pd.DataFrame, twin: pd.DataFrame) -> tuple[bool, str]:
    """Append-mode dedup: every emitted row is the batch survivor of its
    bucket, and every bucket closed by the final watermark was emitted."""
    cols = ["event_id", "user_id", "event_type", "ts", "value"]
    if not got["event_id"].is_unique:
        return False, "stream emitted an event twice"
    merged = got.merge(twin, on=cols, how="left", indicator=True)
    if len(merged) != len(got) or (merged["_merge"] != "both").any():
        return False, "stream emitted a row the batch dedup does not keep"
    watermark = twin["ts"].max() - pd.Timedelta(jobs.WATERMARK)
    bucket_end = twin["ts"].dt.floor("10min") + pd.Timedelta(minutes=10)
    closed = twin[bucket_end <= watermark]
    missing = len(closed) - len(closed.merge(got, on=cols))
    if missing:
        return False, f"{missing} closed buckets missing from the stream sink"
    return True, ""


def stream_progress(progress: list[dict]) -> dict:
    """Sums over a query's ``recentProgress``; state from the last batch."""
    out = {
        "batches": len(progress), "input_rows": 0, "trigger_ms": 0, "add_batch_ms": 0,
        "commit_ms": 0, "state_rows": 0, "state_memory_bytes": 0,
    }
    for p in progress:
        d = p.get("durationMs", {})
        out["input_rows"] += p.get("numInputRows", 0)
        out["trigger_ms"] += d.get("triggerExecution", 0)
        out["add_batch_ms"] += d.get("addBatch", 0)
        out["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
    if progress:
        for s in progress[-1].get("stateOperators", []):
            out["state_rows"] += s.get("numRowsTotal", 0)
            out["state_memory_bytes"] += s.get("memoryUsedBytes", 0)
    return out


def make_op(name: str):
    if name == "build_submission":
        return SubmissionOp(name)
    if name == "dedup_stream":
        return StreamOp(name)
    if name.startswith("io_"):
        return IoQueryOp(name)
    return QueryOp(name)


def remove(paths: list[str]) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)
