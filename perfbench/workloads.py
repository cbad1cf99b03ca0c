"""The benchmark's workloads.  Each one drives the engine's public API
with the CLI's defaults (64 buckets, ``salts="auto"``, ``mode="auto"``,
``backfill`` pinned to copy-on-write) and splits its run into:

``setup()``    make inputs; returns setup_s and leaves the time of
               each step in ``setup_times``
``prepare()``  expected results from the inputs (untimed)
``warmup()``   the workload's own code path, untimed, checked
``step(k)``    one closed-loop iteration; returns its timed operations
``check(k)``   verify what ``step(k)`` produced (untimed)
``finish()``   optional final checks

``steps(seconds)`` is the fixed number of timed iterations a run makes:
enough to fill about ``seconds`` on a 4-core host, and the same however
fast the host is, so every run walks the same sequence of table states.
``op`` is the workload's unit operation; ``loop`` is one whole
iteration (see README.md for what each is per workload).
"""

from __future__ import annotations

import glob
import math
import os
import random
import shutil
import statistics
import time

import reference as ref
from bench import HEADLINE

#: ledger shape: 8 source partitions, two schema eras, duplicates,
#: ts jitter and long-tailed hot keys come from the engine's generator
N_CONVS = 2000
PARTS = 8
NUM_BUCKETS = 64
#: serve: events per drip epoch, lookups per cycle
DRIP_EVENTS = 1000
LOOKUPS = 80
#: serve: untimed epochs before timing.  ``mode="auto"`` folds a bucket
#: once it holds 8 delta commits, at most 8 buckets an epoch; each drip
#: touches all 64 buckets, so the 8th MoR epoch is the first to fold and
#: every later one folds 8 buckets too.  Warm-up ends with that epoch, so
#: the fold's code is warm when timing starts (in a probe the first timed
#: cycle was the slowest of three in 8 of 10 runs when it was the first
#: to fold).
#: The periodic state, depths 0..7, follows about 8 epochs later, more
#: than a run can afford.
WARM_EPOCHS = 8
#: queries: scale of the generated TPC-H-style tables
QUERY_SF = 0.02


class Workload:
    """Shared plumbing: ``ctx`` carries the session, work dir, seed,
    tracer and the failure count."""

    #: wall of one timed iteration on a 4-core host, and the fewest a
    #: run makes
    NOMINAL_S = 1.0
    MIN_STEPS = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.work = ctx.work

    @classmethod
    def steps(cls, seconds: float) -> int:
        return max(cls.MIN_STEPS, math.ceil(seconds / cls.NOMINAL_S))

    def span(self, name, fn, *args, **kwargs):
        return self.ctx.tracer.call(name, fn, *args, **kwargs) if self.ctx.tracer else fn(*args, **kwargs)

    def notes(self) -> dict[str, float]:
        return {}


def _timed(fn, *args) -> float:
    a = time.monotonic()
    fn(*args)
    return time.monotonic() - a


def _gen_ledger(spark, out: str, seed: int) -> None:
    from stellar_ingest.gen.changelog import gen_events, keyspace, write_ledger

    ev = gen_events(spark, N_CONVS, parts=PARTS, seed=seed)
    write_ledger(ev, out, n_convs=N_CONVS, seg_span=16 * keyspace(N_CONVS))


def _ledger_glob(ledger: str) -> str:
    return os.path.join(ledger, "part=*", "seg=*", "*.parquet")


def _table_state(table) -> dict[str, float]:
    from stellar_ingest.lake.maintain import delta_counts

    meta = sorted(glob.glob(os.path.join(table.root, "metadata", "*.json")), key=os.path.getmtime)
    depth = delta_counts(table)
    return {
        "core.metadata_bytes": float(os.path.getsize(meta[-1])) if meta else 0.0,
        "core.snapshots": float(len(table.snapshots())),
        "maintain.delta_depth_max": float(max((c["commits"] for c in depth.values()), default=0)),
        "read.resolve_buckets": float(sum(1 for c in depth.values() if c["commits"] > 0)),
    }


class Serve(Workload):
    """Reads beside a write drip on a preloaded table.  Each cycle
    renames the next pre-generated update segment into the ledger,
    applies it as one merge-on-read epoch, with the fold ``mode="auto"``
    decides on, then issues point lookups (half on keys the drip just
    wrote, half uniform) and one full live read.  Warm-up applies the
    epochs up to the auto fold's first (``WARM_EPOCHS``), so every timed
    epoch folds, and a change that leaves more deltas behind shows as
    slower reads.
    op = one lookup; loop = one cycle."""

    NOMINAL_S = 5.0
    MIN_STEPS = 3

    def setup(self) -> float:
        """Generate the preload ledger and every drip segment, then drain
        the ledger into an empty table.  Done once, unlike the queries'
        set-up: repeating a drain costs more of a run's budget than it
        steadies a median over runs."""
        self.setup_times = [_timed(self._generate), _timed(self._drain)]
        return sum(self.setup_times)

    def _generate(self) -> None:
        from pyspark.sql import functions as F

        from stellar_ingest.gen.changelog import gen_update_stream, keyspace

        seed = self.ctx.seed
        _gen_ledger(self.spark, os.path.join(self.work, "ledger"), seed)
        # every preload lsn is below 64 * keyspace (mutation index < 64)
        base = -(-64 * keyspace(N_CONVS) // DRIP_EVENTS) * DRIP_EVENTS
        ups = gen_update_stream(
            self.spark,
            N_CONVS,
            n_events=DRIP_EVENTS * (WARM_EPOCHS + self.ctx.iterations),
            lsn_base=base,
            parts=PARTS,
            seed=seed + 1,
            preload_seed=seed,
        )
        # the ledger layout of append_update_segment, one segment per
        # DRIP_EVENTS lsns, all written by one job
        (
            ups.withColumn("part", F.col("src_part"))
            .withColumn("seg", F.floor(F.col("lsn") / DRIP_EVENTS).cast("int"))
            .repartition("part", "seg")
            .sortWithinPartitions("lsn")
            .write.partitionBy("part", "seg")
            .parquet(os.path.join(self.work, "drip"))
        )

    def _drain(self) -> None:
        from stellar_ingest.cdc import runner

        runner.backfill(
            self.spark,
            os.path.join(self.work, "ledger"),
            os.path.join(self.work, "table"),
            os.path.join(self.work, "ck"),
            num_buckets=NUM_BUCKETS,
            salts="auto",
        )

    def prepare(self) -> None:
        from stellar_ingest.lake.core import IceboxTable

        self.ledger = os.path.join(self.work, "ledger")
        self.table = IceboxTable(os.path.join(self.work, "table"))
        self.ck = os.path.join(self.work, "ck")
        self.state = ref.winners(_ledger_glob(self.ledger))
        self.keys = sorted({k[0] for k in self.state})
        self.drip_root = os.path.join(self.work, "drip")
        segs = glob.glob(os.path.join(self.drip_root, "part=*", "seg=*"))
        self.drips = sorted({int(s.rsplit("=", 1)[1]) for s in segs})
        self.rng = random.Random(self.ctx.seed)
        self.next_drip = 0
        self.pending = self._arrive()

    def _arrive(self) -> list[str] | None:
        """Rename the next drip segment of every partition into the
        ledger; returns the conversations it updates, or None once every
        pre-generated segment has arrived."""
        if self.next_drip >= len(self.drips):
            return None
        seg = f"seg={self.drips[self.next_drip]}"
        self.next_drip += 1
        for src in glob.glob(os.path.join(self.drip_root, "part=*", seg)):
            part = os.path.basename(os.path.dirname(src))
            os.makedirs(os.path.join(self.ledger, part), exist_ok=True)
            os.rename(src, os.path.join(self.ledger, part, seg))
        newer = ref.winners(os.path.join(self.ledger, "part=*", seg, "*.parquet"))
        ref.apply(self.state, newer)
        return sorted({k[0] for k in newer})

    def _epochs(self, n: int = 1) -> None:
        """Apply the staged segments as ``n`` epochs, one segment of each
        source partition per epoch."""
        from stellar_ingest.cdc import runner

        runner.run_increment(
            self.spark, self.ledger, self.table.root, self.ck,
            num_buckets=NUM_BUCKETS, salts="auto", mode="auto",
            max_segments_per_part=1, max_epochs=n,
        )

    def _pick_keys(self, written: list[str]) -> list[str]:
        keys = [self.rng.choice(written) for _ in range(LOOKUPS // 2)]
        return keys + [self.rng.choice(self.keys) for _ in range(LOOKUPS - len(keys))]

    def _reads(self, keys: list[str]) -> list[float]:
        """The lookups and the full live read; returns each lookup's
        latency."""
        from stellar_ingest.lake.read import lookup_fast, read_live

        ops, self.looked = [], []
        for key in keys:
            a = time.perf_counter()
            self.looked.append((key, self.span("read.lookup", lookup_fast, self.spark, self.table, key)))
            ops.append(time.perf_counter() - a)
        df = self.span("read.scan_plan", read_live, self.spark, self.table)
        self.rows = self.span("read.scan_exec", df.count)
        return ops

    def warmup(self) -> None:
        """The epochs up to and including the first fold, then one
        untimed round of reads, so the timed cycles start with warm fold
        and read paths."""
        for _ in range(WARM_EPOCHS - 1):
            self.pending = self._arrive()
        self._epochs(WARM_EPOCHS)
        self._reads(self._pick_keys(self.pending))
        self.check(-1)

    def step(self, k: int) -> dict:
        keys = self._pick_keys(self.pending)
        t0 = time.perf_counter()
        self._epochs()
        ops = self._reads(keys)
        return {"op": ops, "loop": time.perf_counter() - t0, "events": DRIP_EVENTS}

    def check(self, k: int) -> None:
        """Verify the cycle, then stage the next drip outside the timed
        region.  Traced runs also read the table's shape here, which is
        what the cycle's reads saw: the fold ran inside its epoch."""
        if self.ctx.tracer is not None:
            self.shape = _table_state(self.table)
        live = ref.live_rows(self.state)
        self.ctx.check(self.rows == len(live), "serve: live row count differs from the reference")
        by_conv: dict[str, set] = {}
        for row in live:
            by_conv.setdefault(row[0], set()).add(row)
        for key, pdf in self.looked:
            self.ctx.check(
                ref.canon_frame(pdf) == by_conv.get(key, set()),
                f"serve: lookup of {key} differs from the reference",
            )
        self.pending = self._arrive()

    def finish(self) -> None:
        from stellar_ingest.lake.read import read_live

        if self.pending is not None:  # staged but never applied: take it back out
            seg = f"seg={self.drips[self.next_drip - 1]}"
            for path in glob.glob(os.path.join(self.ledger, "part=*", seg)):
                shutil.rmtree(path)
            self.state = ref.winners(_ledger_glob(self.ledger))
        got = ref.canon_frame(read_live(self.spark, self.table).toPandas())
        self.ctx.check(got == ref.live_rows(self.state), "serve: final table differs from the reference")

    def notes(self) -> dict[str, float]:
        return getattr(self, "shape", {})


class Queries(Workload):
    """The headline keys of ``registry.queries()`` on seeded TPC-H-style
    tables, each forced with ``count()``.  op = one query; loop = one
    pass, taken as the sum over keys of each key's median.  Set-up is
    the benchmark's own table generation, not engine work."""

    NOMINAL_S = 3.5
    MIN_STEPS = 3

    def setup(self) -> float:
        """Write the tables five times; set-up time is the median (one
        write takes about 0.25 s and spread 0.27 of that between runs
        when the median was of three)."""
        import sfgen

        times = [
            _timed(sfgen.write, os.path.join(self.work, f"sf{i}"), QUERY_SF, self.ctx.seed)
            for i in range(5)
        ]
        self.setup_times = times
        return statistics.median(times)

    def prepare(self) -> None:
        from stellar_ingest import registry

        self.sf = os.path.join(self.work, "sf0")
        self.qs = registry.queries()
        self.oracle = registry.oracle_sql()
        self.expected_rows: dict[str, int] = {}

    def warmup(self) -> None:
        from stellar_ingest.verify.oracle import check_key, duckdb_connect

        con = duckdb_connect(self.sf)
        try:
            for key in HEADLINE:
                res = check_key(self.spark, con, self.sf, key, self.qs[key], self.oracle.get(key))
                self.ctx.check(bool(res["ok"]), f"queries: {key} differs from its oracle")
                self.expected_rows[key] = res.get("rows_spark", -1)
        finally:
            con.close()
        # the pass after the checked one is still warming up (in a probe
        # 4.5 s against 3.3-3.5 s for the passes after it)
        for key in HEADLINE:
            self.qs[key](self.spark, self.sf).count()

    def step(self, k: int) -> dict:
        times, self.rows = {}, {}
        t0 = time.perf_counter()
        for key in HEADLINE:
            a = time.perf_counter()
            self.rows[key] = self.span(f"query.{key}", lambda: self.qs[key](self.spark, self.sf).count())
            times[key] = time.perf_counter() - a
        return {"op": list(times.values()), "loop": time.perf_counter() - t0, "events": 0, "keys": times}

    def check(self, k: int) -> None:
        for key, n in self.rows.items():
            self.ctx.check(n == self.expected_rows.get(key), f"queries: {key} row count changed")

    @staticmethod
    def _medians(steps: list[dict]) -> list[float]:
        return [statistics.median(r["keys"][key] for r in steps) for key in HEADLINE]

    def op_value(self, steps: list[dict]) -> float:
        """The geometric mean of the keys' medians: each key weighs the
        same, however long it runs."""
        return statistics.geometric_mean(self._medians(steps))

    def loop_value(self, steps: list[dict]) -> float:
        return sum(self._medians(steps))


WORKLOADS = {"serve": Serve, "queries": Queries}
