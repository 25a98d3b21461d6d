"""The benchmark's workloads.

Each workload is a closed loop with one client: the benchmark issues a call
into the package, waits for it, and only then issues the next.  A workload
sets up (``setup``, ``SETUP_REPS`` times; only the last set-up is kept),
runs whole units of work (a replay call and its reads, or a sweep) while
another one fits before a deadline (``run``), and checks the program's
outputs against an independent reference outside the timed region
(``check``).

Every call the client makes (a batch apply, a read, a query) and every
correctness check is an *operation*; ``attempted``/``failed`` count them.
"""

from __future__ import annotations

import collections
import glob
import os
import shutil
import statistics
import time
import traceback

from feed import Feed
from sweepdata import write_sweep_tables

#: the 12 registry queries the repository's bench.py times, in its order
SWEEP_QUERIES = (
    "w4_max_lsn_dedup",
    "cdc_replay_final_state",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "text_quality_score",
    "text_lang_id",
    "magneto_get_matches_f4",
    "magneto_e2e_matches",
    "w_sessionize_gaps",
)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(path)
        for f in files
    )


def parquet_files(batch_dirs: list[str]) -> list[str]:
    return sorted(f for d in batch_dirs for f in glob.glob(os.path.join(d, "*.parquet")))


class Workload:
    """Shared bookkeeping: operations, failures and the run's samples."""

    name = ""
    SETUP_REPS = 3  # setup_s is the median of this many set-ups
    MIN_UNITS = 1  # a run measures at least this many units of work

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.notes: dict[str, object] = {}

    def op(self, label: str, fn):
        """Run one client operation; an exception counts as a failed op and
        ends the timed loop (later calls would run on a broken state)."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:  # noqa: BLE001 — the run must report, not crash
            self.failed += 1
            self.failures.append(f"{label}: {traceback.format_exc(limit=3)}")
            return False, None

    def expect(self, label: str, ok: bool, detail: str = "") -> None:
        """A correctness check is an operation too; a mismatch fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{label}: {detail}")

    def workdir(self, rep: int) -> str:
        base = os.path.join(self.ctx.workdir, self.name)
        shutil.rmtree(base, ignore_errors=True)  # keep only the last set-up
        path = os.path.join(base, f"rep{rep}")
        os.makedirs(path)
        return path

    def warm_up(self) -> None:
        """Untimed work after the last set-up and before the timed loop."""

    def check(self) -> None:
        """Correctness checks after the timed loop."""

    def fits(self, deadline: float, start: float, units: int) -> bool:
        """Whether to run one more unit of work: always while fewer than
        ``MIN_UNITS`` are done, then if one as long as the mean of the
        ``units`` done since ``start`` would end by ``deadline``."""
        now = time.perf_counter()
        return units < self.MIN_UNITS or now + (now - start) / units <= deadline


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class BackfillMor(Workload):
    """Backfill into a merge-on-read table: concurrent staging, salted dedup
    of a hot-key feed, auto-compaction and snapshot expiry, with full
    resolved reads after every replay call.

    Sizing.  The feed's head inserts every one of ``2 * N_CONVS`` keys once
    and is loaded as the table's first snapshot; ``PRELOAD_BATCHES`` change
    batches are then replayed untimed.  With ``auto_compact_ratio=0.3`` the
    engine compacts once 0.3 × the table's rows have piled up as deltas:
    here that is 3.75 batches' worth, so compaction fires on the 2nd batch
    of every timed group of ``nproc`` (= 4) batches, for every seed, and each
    read sees the deltas of two batches."""

    name = "backfill_mor"
    BATCH_EVENTS = 10_000
    N_CONVS = 48_000
    TURNS = 2  # each of the hot conversation's 2 keys carries ~10% of a batch
    PRELOAD_BATCHES = 2
    MAX_GROUPS = 12  # the feed is generated for this many timed groups
    MIN_UNITS = 2  # replay calls per run, so each run spans two compactions
    READS_PER_CALL = 2
    #: 'auto' dedup only considers salting batches of at least this many
    #: events (engine default 50,000); lowered so the 10k-event batches
    #: take the salted path their hot keys call for
    AUTO_MIN_EVENTS = BATCH_EVENTS // 2

    def __init__(self, ctx):
        super().__init__(ctx)
        self.replay_s: list[float] = []
        self.read_s: list[float] = []
        self.events = 0
        self.applied: list[str] = []  # batch dirs the table has consumed
        self.strategies: list[str] = []  # dedup strategy of every batch
        self._record_strategies()

    def _record_strategies(self) -> None:
        """Record the strategy the engine hands its dedup builder, so the
        run shows that 'auto' salted the hot-key batches."""
        from magneto_matcher_spark.streaming import engine

        build = engine.dedup_max_lsn

        def recorded(*args, **kwargs):
            self.strategies.append(kwargs.get("strategy", "agg"))
            return build(*args, **kwargs)

        engine.dedup_max_lsn = recorded

    def table_schema(self):
        from pyspark.sql import types as T

        from magneto_matcher_spark.schemas import CHANGE_FEED_SCHEMA

        return T.StructType([f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"])

    def setup(self, rep: int) -> None:
        from magneto_matcher_spark.schemas import TRANSCRIPT_KEY
        from magneto_matcher_spark.sources.lake import LakeTable
        from magneto_matcher_spark.streaming.engine import CdcEngine

        d = self.workdir(rep)
        k = self.ctx.nproc
        n_keys = self.N_CONVS * self.TURNS
        preload_end = n_keys + self.PRELOAD_BATCHES * self.BATCH_EVENTS
        total = preload_end + self.MAX_GROUPS * k * self.BATCH_EVENTS
        self.feed = Feed(self.ctx.seed, total, self.N_CONVS, self.TURNS, hot_frac=0.2)
        self.feed_dir = f"{d}/feed"
        self.next_lsn = preload_end
        head = self.feed.write_batches(f"{d}/head", 0, n_keys, 1, k)
        self.preload = self.feed.write_batches(
            f"{d}/preload", n_keys, preload_end, self.PRELOAD_BATCHES, k
        )
        self.table = LakeTable.create(
            self.spark, f"{d}/lake", self.table_schema(), key=TRANSCRIPT_KEY,
            n_buckets=16, write_mode="mor",
        )
        # the head is an initial snapshot (one insert per key): load it as
        # the table's first data files, stamped with its LSN range
        self.table.append(
            self.spark.read.parquet(*head).drop("op"),
            summary={"offsets.start": 0, "offsets.end": n_keys - 1},
        )
        self.engine = CdcEngine(
            self.table, dedup_strategy="auto", auto_compact_ratio=0.3,
            expire_keep=8, auto_min_events=self.AUTO_MIN_EVENTS,
        )
        self.applied = list(head)

    def warm_up(self) -> None:
        """Replay the preload batches: the engine's first staging, salted
        dedup and commits, which also leave two batches of deltas in the
        table for the timed loop's compaction cadence."""
        self.engine.replay(self.preload, concurrency=self.ctx.nproc)
        self.applied += self.preload
        self.first_timed = len(self.applied)
        self.engine.metrics_log.clear()
        self.strategies.clear()

    def next_group(self) -> list[str]:
        """Write the next ``nproc`` batches of the feed (outside the timers):
        a run writes only the batches it replays."""
        k = self.ctx.nproc
        hi = self.next_lsn + k * self.BATCH_EVENTS
        first = len(self.applied) - self.first_timed
        paths = self.feed.write_batches(self.feed_dir, self.next_lsn, hi, k, k, first)
        self.next_lsn = hi
        return paths

    def run(self, deadline: float) -> None:
        k = self.ctx.nproc
        start = time.perf_counter()
        for n in range(1, self.MAX_GROUPS + 1):
            group = self.next_group()

            def replay(group=group):
                t0 = time.perf_counter()
                with self.tracer.client("client.replay"):
                    out = self.engine.replay(group, concurrency=k)
                return time.perf_counter() - t0, out

            self.attempted += len(group) - 1  # op() counts the call once
            ok, res = self.op("replay", replay)
            if not ok:
                return
            dt, out = res
            self.applied.extend(group)
            self.replay_s.append(dt)
            self.events += sum(m["events_in"] for m in out)
            if not self.timed_reads() or not self.fits(deadline, start, n):
                break
        log = self.engine.metrics_log
        self.notes["replay_calls"] = len(self.replay_s)
        self.notes["batches"] = len(log)
        self.notes["compacted_batches"] = [
            i for i, m in enumerate(log, 1) if m.get("compacted")
        ]
        self.notes["dedup_strategies"] = dict(collections.Counter(self.strategies))

    def timed_reads(self) -> bool:
        """A reader's full snapshot reads of the current table state."""

        def read():
            t0 = time.perf_counter()
            with self.tracer.client("client.read"):
                self.table.read().write.format("noop").mode("overwrite").save()
            self.read_s.append(time.perf_counter() - t0)

        return all(self.op("read", read)[0] for _ in range(self.READS_PER_CALL))

    def end_to_end(self) -> dict:
        return {
            "work_per_s": self.events / sum(self.replay_s),
            "read_s_p50": statistics.median(self.read_s),
        }

    # ---------------- correctness ----------------

    def reference(self, cols: list[str]) -> tuple[int, int, str]:
        """DuckDB's max-LSN-per-key state over the applied feed files:
        (the feed's max LSN, row count, fingerprint)."""
        import duckdb

        from magneto_matcher_spark.oracle_gate import frame_fingerprint

        listed = ", ".join(f"'{f}'" for f in parquet_files(self.applied))
        select = ", ".join("epoch_us(ts) AS ts" if c == "ts" else c for c in cols)
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW feed AS SELECT * FROM "
                f"read_parquet([{listed}], union_by_name=true)"
            )
            max_lsn = con.execute("SELECT max(lsn) FROM feed").fetchone()[0]
            ref = con.execute(
                f"""
                SELECT {select} FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
                  FROM feed)
                WHERE rn = 1 AND op <> 'D'
                """
            ).df()
        finally:
            con.close()
        # both sides as pandas frames, so cells reach the fingerprint as the
        # same numpy types
        return max_lsn, len(ref), frame_fingerprint(cols, list(ref.itertuples(index=False)))

    def check(self) -> None:
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import functions as F

        from magneto_matcher_spark.oracle_gate import frame_fingerprint

        cols = self.table.column_names
        with ThreadPoolExecutor(max_workers=1) as pool:
            # the reference runs while Spark reads the table
            reference = pool.submit(self.reference, cols)
            got = (
                self.table.read()
                .select(*[F.unix_micros("ts").alias("ts") if c == "ts" else c for c in cols])
                .toPandas()
            )
            got_fp = frame_fingerprint(cols, list(got[cols].itertuples(index=False)))
            max_lsn, n_ref, ref_fp = reference.result()
        self.expect(
            "final state equals the max-LSN reference",
            len(got) == n_ref and got_fp == ref_fp,
            f"rows {len(got)} vs {n_ref}, fingerprint {got_fp} vs {ref_fp}",
        )
        committed = self.table.committed_offset_end()
        self.expect(
            "committed offset equals the feed's max LSN",
            committed == max_lsn,
            f"{committed} vs {max_lsn}",
        )


# ---------------------------------------------------------------------------
# operator sweep
# ---------------------------------------------------------------------------


class OperatorSweep(Workload):
    """Repeated sweeps over the 12 registry queries, each split into build
    (the registry call), plan (forcing the executed plan) and execute (a
    noop-sink write)."""

    name = "operator_sweep"
    SETUP_REPS = 1
    SF = 0.01

    def __init__(self, ctx):
        super().__init__(ctx)
        from magneto_matcher_spark.queries import build_oracles, build_queries

        self.queries = build_queries()
        self.oracles = build_oracles()
        self.steps = {n: {"build": [], "plan": [], "exec": []} for n in SWEEP_QUERIES}
        self.query_s: list[float] = []
        self.sweep_s: list[float] = []
        self.baseline_fp: dict[str, str] = {}

    def rows_fingerprint(self, df) -> tuple[int, str]:
        from magneto_matcher_spark.oracle_gate import frame_fingerprint

        rows = [tuple(r) for r in df.collect()]
        return len(rows), frame_fingerprint(df.columns, rows)

    def setup(self, rep: int) -> None:
        """Seeded tables, then a first pass of every query through the same
        build, plan and execute steps as a timed sweep; the rows-only
        queries are fingerprinted for the per-sweep stability check.  The
        first executions are the session's cold start, which one run cannot
        repeat, so this set-up runs once (``SETUP_REPS = 1``)."""
        self.sf_dir = write_sweep_tables(self.workdir(rep), self.ctx.seed, self.SF)
        for name in SWEEP_QUERIES:
            self.one_query(name)
        for steps in self.steps.values():  # the first pass is not a sample
            for xs in steps.values():
                xs.clear()

    def one_query(self, name: str) -> float:
        fn = self.queries[name]
        with self.tracer.client(f"client.query.{name}"):
            t0 = time.perf_counter()
            with self.tracer.span(f"query.{name}.build", "client"):
                df = fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            with self.tracer.span(f"query.{name}.plan", "client"):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with self.tracer.span(f"query.{name}.exec", "client"):
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        steps = self.steps[name]
        steps["build"].append(t1 - t0)
        steps["plan"].append(t2 - t1)
        steps["exec"].append(t3 - t2)
        if self.oracles.get(name) is None:  # untimed: the stability check
            n, fp = self.rows_fingerprint(df)
            first = self.baseline_fp.setdefault(name, fp)
            self.expect(
                f"{name} returns rows, fingerprint stable",
                n > 0 and fp == first,
                f"{n} rows, {fp} vs {first}",
            )
        return t3 - t0

    def run(self, deadline: float) -> None:
        start = time.perf_counter()
        while True:
            total = 0.0
            for name in SWEEP_QUERIES:
                ok, dt = self.op(name, lambda name=name: self.one_query(name))
                if not ok:
                    return
                self.query_s.append(dt)
                total += dt
            self.sweep_s.append(total)
            if not self.fits(deadline, start, len(self.sweep_s)):
                break
        self.notes["sweeps"] = len(self.sweep_s)
        self.notes["sweep_s"] = [round(s, 3) for s in self.sweep_s]

    def check(self) -> None:
        """The 8 oracle-backed queries against DuckDB over the same files."""
        import duckdb

        from magneto_matcher_spark.oracle_gate import check_query

        con = duckdb.connect()
        try:
            for t in ("events", "documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for name in SWEEP_QUERIES:
                oracle = self.oracles.get(name)
                if oracle is not None:
                    res = check_query(
                        self.spark, con, name, self.queries[name], oracle, self.sf_dir
                    )
                    self.expect(f"{name} matches DuckDB", res["ok"], res["detail"])
        finally:
            con.close()

    def end_to_end(self) -> dict:
        # a sweep's execute time: its 12 execute steps summed
        exec_s = [sum(xs) for xs in zip(*(s["exec"] for s in self.steps.values()))]
        return {
            "work_per_s": len(self.query_s) / sum(self.query_s),
            "read_s_p50": statistics.median(exec_s),
        }

WORKLOADS = {w.name: w for w in (BackfillMor, OperatorSweep)}
