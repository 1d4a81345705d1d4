"""``stream_patterns``: the stateful pattern matchers over a replayed log.

The seed draws an event log in the ``events.parquet`` layout. It holds the
funnel steps view → click → purchase plus error and search events, and a
fixed number of rows without user or timestamp. Users have skewed (Zipf)
activity. The number of events each user has in each slice of the log is
fixed, and so are the row counts of every microbatch: at each cut between
slices sits a block of events with the same timestamp, wider than the error
of the quantile the replay cuts at, so the cut always falls on it. The seed
draws user ids, event types, times within each slice and values.

A round replays the log through streaming_pattern_spans on the in-order
time-split replay, then through streaming_funnel_trajectories_ooo on the
late-shifted replay (every fifth event one microbatch late, two sentinel
batches at the end), each via run_stream_to_memory: scalar state in order,
buffered state out of order. A *full* operation is one whole replay, stream
start included. The *delta* samples are its steady-state microbatches:
every data microbatch but the first, read from the query's progress.
Results are checked against DuckDB running the oracle SQL the registry
gives their gates (q145, q158) over the same file.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import DELTA, FULL, Op, Workload
from probes import MB
from trace import Tracer

N_SPLITS = 4
PER_SLICE = 1000  # timed events per microbatch of the in-order replay
N_USERS = 300
NULL_TS = 12  # rows without a timestamp, all in the first microbatch
NULL_USER = 18  # rows without a user
LATE_MOD = 5
# half-width of the same-timestamp block at each cut: more than the rank
# error of approxQuantile(relativeError=0.001) the replays cut with
BLOCK = int(0.001 * N_SPLITS * PER_SLICE) + 8
STEPS = ["view", "click", "purchase"]
TYPES = np.array(["view", "click", "purchase", "error", "search"])
TYPE_P = np.array([0.4, 0.25, 0.12, 0.08, 0.15])
# kind: (matcher, late-shifted replay, registry gate). One matcher on each
# replay: scalar state in order, buffered state out of order.
QUERIES = {
    "spans": ("streaming_pattern_spans", False, "q145_streaming_pattern_spans"),
    "funnel_ooo": ("streaming_funnel_trajectories_ooo", True, "q158_streaming_funnel_ooo"),
}


def slice_sizes() -> list[int]:
    """Timed events per slice. Every slice but the last ends with the
    2 * BLOCK + 1 events of its cut's block; the first is BLOCK + 1 longer
    and the last BLOCK + 1 shorter, so each cut's target rank sits
    mid-block."""
    return [PER_SLICE + BLOCK + 1] + [PER_SLICE] * (N_SPLITS - 2) + [PER_SLICE - BLOCK - 1]


def expected_batches(late: bool) -> list[int]:
    """Input rows of each microbatch, fixed for every seed: event ids run
    in time order after the untimed rows, so which events are late is
    fixed too."""
    sizes = slice_sizes()
    first_ids = np.cumsum([NULL_TS] + sizes)[:-1]
    rows = [s + (NULL_TS if i == 0 else 0) for i, s in enumerate(sizes)]
    if not late:
        return rows
    lates = [int(np.sum(np.arange(lo, lo + s) % LATE_MOD == 0)) for lo, s in zip(first_ids, sizes)]
    shifted = [r - (lates[i] if i < N_SPLITS - 1 else 0) + (lates[i - 1] if i else 0) for i, r in enumerate(rows)]
    return shifted + [1, 1]  # the two sentinel batches


def user_counts(n: int) -> np.ndarray:
    """Events of each user in a slice of ``n``: Zipf shares, rounded by
    largest remainder so they sum to ``n``."""
    share = 1.0 / np.arange(1, N_USERS + 1) ** 1.1
    exact = share / share.sum() * n
    counts = np.floor(exact).astype(int)
    counts[np.argsort(counts - exact)[: n - counts.sum()]] += 1
    return counts


def funnel_report(traj) -> list[tuple]:
    """The gates' report over final trajectories: users reaching each step
    and the mean seconds from step 1, integer µs summed, one division."""
    final = traj.sort_values("reached").groupby("user_id").tail(1)
    rows = []
    for j, step in enumerate(STEPS, start=1):
        hit = final[final["reached"] >= j]
        n = len(hit)
        gap = int((hit[f"us{j}"] - hit["us1"]).sum()) if n else 0
        rows.append((j, step, n, round(gap / (n * 1_000_000.0), 4) if n else 0.0))
    return rows


class StreamPatterns(Workload):
    name = "stream_patterns"

    def generate(self, seed: int) -> dict:
        rng = np.random.default_rng(seed)
        user_of = rng.permutation(N_USERS) + 1
        t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
        day = 86400 * 1_000_000
        ts, users = [], []
        for i, size in enumerate(slice_sizes()):
            end = t0 + (i + 1) * day
            block = 2 * BLOCK + 1 if i < N_SPLITS - 1 else 0
            # millisecond times strictly before the slice's end, then the block at it
            times = np.sort(t0 + i * day + rng.integers(1, day // 1000 - 1, size - block) * 1000)
            ts.extend(times.tolist() + [end] * block)
            slice_users = np.repeat(user_of, user_counts(size))
            users.extend(rng.permutation(slice_users).tolist())
        n = NULL_TS + len(ts)
        ts_arr = np.array([0] * NULL_TS + ts, dtype=np.int64)
        users_arr = np.array(rng.integers(1, N_USERS + 1, NULL_TS).tolist() + users, dtype=np.int64)
        no_user = np.zeros(n, dtype=bool)
        no_user[rng.choice(n, NULL_USER, replace=False)] = True
        table = pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_arr, pa.timestamp("us"), mask=np.arange(n) < NULL_TS),
            "user_id": pa.array(users_arr, pa.int64(), mask=no_user),
            "event_type": pa.array(rng.choice(TYPES, n, p=TYPE_P).tolist(), pa.string()),
            "value": pa.array(np.round(rng.random(n) * 100, 2)),
            "props": pa.array([None if i % 3 else "{}" for i in range(n)], pa.string()),
        })
        os.makedirs(self.data_dir, exist_ok=True)
        path = os.path.join(self.data_dir, "events.parquet")
        pq.write_table(table, path)
        self.expected = self._oracle(path)
        return {"events": {"rows": n, "bytes": os.path.getsize(path)}, "users": N_USERS,
                "batches": {"in_order": expected_batches(False), "late_shifted": expected_batches(True)}}

    @staticmethod
    def _oracle(path: str) -> dict[str, list[tuple]]:
        import duckdb

        from kf_task_fhir_etl_spark import queries

        sql = queries.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
            out = {}
            for kind, (_, _, gate) in QUERIES.items():
                rows = con.execute(sql[gate]).fetchall()
                if kind.startswith("spans"):
                    out[kind] = sorted(tuple(int(x) for x in r) for r in rows)
                else:
                    out[kind] = [(int(a), b, int(c), round(float(d), 4)) for a, b, c, d in rows]
        finally:
            con.close()
        return out

    def install_tracing(self, tracer: Tracer) -> None:
        from kf_task_fhir_etl_spark.streaming import events, patterns

        super().install_tracing(tracer)
        for matcher, _, _ in QUERIES.values():
            tracer.wrap(patterns, matcher, f"streaming.{matcher}")
        tracer.wrap(events, "run_stream_to_memory", "streaming.run_stream_to_memory")

    def replay(self, kind: str):
        from pyspark.sql import functions as F

        from kf_task_fhir_etl_spark.streaming import events, patterns

        spark = self.spark
        matcher, late, _ = QUERIES[kind]
        kwargs = {}
        if late:
            flush = "error" if kind.startswith("spans") else "view"
            stream, kwargs["watermark"] = events.read_events_stream_late_shifted(
                spark, self.data_dir, n_splits=N_SPLITS, late_mod=LATE_MOD, flush_type=flush
            )
        else:
            stream = events.read_events_stream_time_split(spark, self.data_dir, n_splits=N_SPLITS)
        if kind.startswith("spans"):
            df = getattr(patterns, matcher)(stream, "view", "purchase", ["error"], **kwargs)
            mode = "append"
        else:
            df = getattr(patterns, matcher)(stream, STEPS, **kwargs)
            mode = "update"
        name = f"perfbench_{kind}"
        started = dt.datetime.now(dt.timezone.utc)
        query = events.run_stream_to_memory(df, name, output_mode=mode)
        pdf = spark.table(name).filter(F.col("user_id") != -1).toPandas()
        spark.catalog.dropTempView(name)
        return pdf, query.recentProgress, started

    def operations(self, index: int):
        return [(kind, FULL, lambda k=kind: self.replay(k)) for kind in QUERIES]

    def check(self, op: Op, payload) -> str | None:
        pdf, progress, started = payload
        batches = [_progress_summary(p, started) for p in progress]
        op.extra["batches"] = batches
        rows = [b["rows"] for b in batches if b["rows"]]
        want = expected_batches(QUERIES[op.kind][1])
        if rows != want:
            return f"microbatch rows {rows} != the log's fixed {want}"
        if op.kind.startswith("spans"):
            got = sorted(tuple(int(x) for x in r) for r in pdf[["user_id", "start_us", "end_us"]].itertuples(index=False))
        else:
            got = funnel_report(pdf)
        want = self.expected[op.kind]
        return None if got == want else f"{len(got)} rows differ from the oracle's {len(want)}"

    def steady(self, op: Op) -> list[dict]:
        """Data microbatches after the query's first; sentinels and batches
        without input are left out."""
        return [b for b in op.extra.get("batches", []) if b["rows"] > 1][1:]

    def samples(self, op: Op) -> list[tuple[str, str, float]]:
        return [(FULL, op.kind, op.seconds)] + [(DELTA, op.kind, b["trigger_s"]) for b in self.steady(op)]

    def work(self, op: Op) -> dict:
        return {"microbatches": [b["rows"] for b in op.extra.get("batches", [])]}

    def layer_values(self, ops: list[Op], ledger) -> dict[str, float]:
        out = dict.fromkeys(
            ("streaming.start_s", "streaming.batches", "streaming.add_batch_s", "streaming.query_planning_s",
             "streaming.state_update_s", "streaming.state_commit_s", "streaming.groups_updated",
             "streaming.state_rows", "streaming.state_mb"), 0.0)
        for op in ops:
            batches = op.extra.get("batches", [])
            if not batches:
                continue
            out["streaming.start_s"] += batches[0]["end_s"]
            out["streaming.batches"] += len(batches)
            for b in self.steady(op):
                out["streaming.add_batch_s"] += b["add_batch_s"]
                out["streaming.query_planning_s"] += b["planning_s"]
                out["streaming.state_update_s"] += b["update_s"]
                out["streaming.state_commit_s"] += b["commit_s"]
                out["streaming.groups_updated"] += b["rows_updated"]
            out["streaming.state_rows"] += batches[-1]["state_rows"]
            out["streaming.state_mb"] += batches[-1]["state_bytes"] / MB
        return out


def _progress_summary(p, started: dt.datetime) -> dict:
    d = p.durationMs or {}
    ops = p.stateOperators or []
    began = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
    trigger = d.get("triggerExecution", 0) / 1000.0
    return {
        "rows": p.numInputRows,
        "trigger_s": trigger,
        "add_batch_s": d.get("addBatch", 0) / 1000.0,
        "planning_s": d.get("queryPlanning", 0) / 1000.0,
        "update_s": sum(o.allUpdatesTimeMs for o in ops) / 1000.0,
        "commit_s": sum(o.commitTimeMs for o in ops) / 1000.0,
        "rows_updated": sum(o.numRowsUpdated for o in ops),
        "state_rows": sum(o.numRowsTotal for o in ops),
        "state_bytes": sum(o.memoryUsedBytes for o in ops),
        # from start() to the end of this batch
        "end_s": (began - started).total_seconds() + trigger,
    }
