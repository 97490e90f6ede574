"""The CDC workloads: ``cdc_view`` (reference default, consumers read the
``<t>`` latest-per-key view) and ``cdc_fold`` (W25 materialized
current-state table, maintained every ``MAINTAIN_EVERY`` ticks;
consumers read it through ``streaming.current_state_lookup`` and the
still-refreshed view, alternately).

Unit op: one tick's ``Engine.run_cycle``. The tick's rows land before
it starts and are visible when it returns, so the op latency is the
time from landing to visibility. Each tick then makes seeded point
lookups of one key's current state.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from . import datagen
from .harness import Sample

BUFFER_SECS = 180
MAINTAIN_EVERY = 8  # the K21 cadence: Engine.maintain_state every N ticks

SIZES = {
    # sf: source scale (1.0 ≈ 1M events / 1.5M orders); tick_rows: changed
    # rows landed per table per tick, below the 8 × 4096 backlog trigger;
    # lookups: consumer point lookups per tick (eight ticks give the forty
    # reads the read tail needs for a p75)
    "bench": {"sf": 0.01, "tick_rows": 500, "lookups": 5},
    "smoke": {"sf": 0.001, "tick_rows": 20, "lookups": 5},
}
# source tables per workload: one fold costs ~1.4 s of fixed Spark
# overhead per table per tick on a 4-core host, so cdc_fold captures
# orders alone (see NOTES.md)
TABLES = {"cdc_view": ("events", "orders"), "cdc_fold": ("orders",)}


LAYER_METRICS = (
    "engine.run_cycle.s",
    "engine.run_cycle.self_s",
    "controller.next_window.s",
    "controller.capture_ratio",
    "sources.read_parquet_normalized.s",
    "snapshot.build_capture.s",
    "sinks.append_snapshot.s",
    "sinks.append_snapshot.jobs",
    "sinks.append_snapshot.tasks",
    "sinks.append_snapshot.files_written",
    "sinks.append_snapshot.bytes_written",
    "sinks.append_snapshot.input_bytes",
    "state.commit_watermark.s",
    "views.refresh_view.s",
    "views.lookup.s",
    "views.lookup.tasks",
    "views.lookup.input_bytes",
    "streaming.maintain_current_state.s",
    "streaming.maintain_current_state.jobs",
    "streaming.maintain_current_state.shuffle_write_bytes",
    "streaming.maintain_current_state.bytes_written",
    "statestore.commit_fold.s",
    "statestore.commit_fold.calls",
    "statestore.write_amp",
    "statestore.maintain_store.s",
    "statestore.maintain_store.bytes_rewritten",
    "statestore.maintain_store.lost_races",
    "statestore.maintain_store.vacuumed",
    "statestore.live_files",
    "statestore.read_state.s",
    "statestore.read_state.tasks",
    "statestore.read_state.input_bytes",
)


class CdcWorkload:
    round_len = 1

    def __init__(self, spark, tracer, seed: int, scale: str, fold: bool = False):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.fold = fold
        self.size = SIZES[scale]
        self.tables = TABLES["cdc_fold" if fold else "cdc_view"]
        self.problems: list[str] = []
        self.decisions = self.windows_captured = self.traced_files = 0

    # ------------------------------------------------------------ set-up
    def prepare(self, root: str) -> None:
        """Generate the sources, seed the engine and create the sinks,
        in a fresh directory."""
        from leftshove_spark.engine import Engine
        from leftshove_spark.session import EngineConfig

        self.feed = datagen.CdcFeed(
            os.path.join(root, "src"), self.seed, sf=self.size["sf"],
            tick_rows=self.size["tick_rows"], buffer_secs=BUFFER_SECS, tables=self.tables,
        )
        self.rng = np.random.default_rng([self.seed, 3])
        self.lookups = 0  # every lookup so far; with the fold, even ones read the W25 table
        self.feed.backlog()
        cfg = EngineConfig(
            replication_buffer_secs=BUFFER_SECS,
            concurrent_streams=1,
            materialize_current_state=self.fold,
            warehouse_dir=os.path.join(root, "warehouse"),
        )
        self.engine = Engine(
            self.spark, cfg, state_path=os.path.join(root, "state.json"),
            sink_root=os.path.join(root, "sink"),
        )
        self.engine.seed(
            [{"name": t.name, "path": t.path, "nms_column": "updated_at",
              "pkey_column": t.pkey} for t in self.feed.tables],
            now=self.feed.now(0),
        )
        self.engine.create_sinks()
        self.sink_files: dict[str, set] = {t.name: set() for t in self.feed.tables}

    def start(self) -> None:
        """Capture the backlog (with the fold on, fold it too)."""
        landed = {t.name: t.landed_rows for t in self.feed.tables}
        self._cycle(0, landed)

    def discard(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)

    def compacts(self, tick: int) -> bool:
        """Whether tick ``tick`` ends with ``Engine.maintain_state``."""
        return self.fold and tick > 0 and tick % MAINTAIN_EVERY == 0

    def must_trace(self, i: int) -> bool:
        """A traced run traces op ``i`` (tick ``i + 1``) whatever its
        round, when it compacts: the statestore.maintain_store metrics
        come from that tick alone."""
        return self.compacts(i + 1)

    # -------------------------------------------------------------- ops
    def _cycle(self, i: int, landed: dict) -> tuple[float, bool]:
        now = self.feed.now(i)
        t0 = time.perf_counter()
        with self.tracer.span("engine.run_cycle"):
            res = self.engine.run_cycle(now=now, snapshot_at=now)
            if self.compacts(i):
                for t in self.feed.tables:
                    with self.tracer.span("engine.maintain_state"):
                        self.engine.maintain_state(t.name)
        dt = time.perf_counter() - t0
        ok = all(res.get(t.name) is not None for t in self.feed.tables)
        ok = self._check_captured(i, landed) and ok
        return dt, ok

    def _check_captured(self, i: int, landed: dict) -> bool:
        """Captured rows equal landed rows: the sink's new files (by
        parquet footer, no Spark job) hold exactly this tick's rows."""
        ok = True
        self.new_files = 0
        for st in self.engine.state.all():
            path = self.engine.sink_path(st)
            files = {f for f in os.listdir(path) if f.endswith(".parquet")}
            new = files - self.sink_files[st.name]
            rows = sum(pq.read_metadata(os.path.join(path, f)).num_rows for f in new)
            self.sink_files[st.name] = files
            self.new_files += len(new)
            if rows != landed[st.name]:
                self.problems.append(
                    f"tick {i} {st.name}: captured {rows} rows, landed {landed[st.name]}"
                )
                ok = False
        return ok

    def _lookup(self, table, key, state: bool) -> tuple[float, bool]:
        """One key's current state, from the W25 table (``state``) or
        the ``<t>`` view."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        with self.tracer.span("statestore.read_state" if state else "views.lookup"):
            if state:
                from leftshove_spark import streaming

                st = next(s for s in self.engine.state.all() if s.name == table.name)
                rows = streaming.current_state_lookup(
                    self.spark, self.engine.current_state_path(st), {table.pkey: key},
                    n_buckets=self.engine.config.current_state_buckets,
                ).collect()
            else:
                rows = (
                    self.engine.current_state(table.name)
                    .filter(F.col(table.pkey) == key).collect()
                )
        dt = time.perf_counter() - t0
        want = table.latest[key]
        got = [datagen._us(r["updated_at"]) for r in rows]
        if got != [want]:
            self.problems.append(f"lookup {table.name}[{key}]: got {got}, want [{want}]")
            return dt, False
        return dt, True

    def step(self, i: int, reads: int | None = None) -> Sample:
        """Tick ``i + 1``: land, capture, then ``reads`` point lookups
        (default: the size's ``lookups``)."""
        tick = i + 1
        landed = self.feed.tick(tick)
        reads = []
        with self.tracer.op_span("tick"):
            cycle_s, ok = self._cycle(tick, landed)
            for j in range(reads or self.size["lookups"]):
                table = self.feed.tables[j % len(self.feed.tables)]
                key = table.keys[int(self.rng.integers(0, len(table.keys)))]
                dt, good = self._lookup(table, key, state=self.fold and self.lookups % 2 == 0)
                self.lookups += 1
                reads.append(dt)
                ok = ok and good
        if self.tracer.enabled:
            self.traced_files += self.new_files
        return Sample(
            latency=cycle_s if ok else float("inf"),
            reads=reads,
            work=sum(landed.values()),
            ok=ok,
        )

    # ---------------------------------------------------------- checks
    def check_final(self) -> bool:
        """Each table's current state (the view, or the W25 table)
        equals a DuckDB latest-per-key over every landed row."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        ok = True
        for t in self.feed.tables:
            df = (self.engine.current_state_table(t.name) if self.fold
                  else self.engine.current_state(t.name))
            con.register("got", df.drop("snapshot_tm").toArrow())
            con.execute(
                f"""CREATE OR REPLACE TEMP TABLE want AS
                    SELECT * EXCLUDE (rn) FROM (
                      SELECT *, row_number() OVER (
                        PARTITION BY {t.pkey} ORDER BY updated_at DESC) AS rn
                      FROM read_parquet('{t.path}/*.parquet')) WHERE rn = 1"""
            )
            cols = ", ".join(con.execute("SELECT * FROM want LIMIT 0").fetch_arrow_table().column_names)
            diff = con.execute(
                f"""SELECT (SELECT count(*) FROM (SELECT {cols} FROM want
                                                  EXCEPT ALL SELECT {cols} FROM got)),
                           (SELECT count(*) FROM (SELECT {cols} FROM got
                                                  EXCEPT ALL SELECT {cols} FROM want)),
                           (SELECT count(*) FROM got), (SELECT count(*) FROM want)"""
            ).fetchone()
            if diff[:2] != (0, 0) or diff[2] != diff[3]:
                self.problems.append(
                    f"final state of {t.name} differs from DuckDB: missing {diff[0]}, "
                    f"extra {diff[1]}, rows {diff[2]} vs {diff[3]}"
                )
                ok = False
        con.close()
        return ok

    def instrument(self) -> None:
        """Wrap the module attributes and methods each caller resolves."""
        from leftshove_spark import engine, statestore, streaming

        tr = self.tracer

        def decided(sp, args, kwargs, result):
            self.decisions += 1
            self.windows_captured += not result.skip

        def maintained(sp, args, kwargs, result):
            sp.counts["lost_races"] = result["lost_races"]
            sp.counts["vacuumed"] = len(result["vacuumed"])

        tr.wrap(engine, "next_window", "controller.next_window", after=decided)
        tr.wrap(engine, "read_parquet_normalized", "sources.read_parquet_normalized")
        tr.wrap(engine, "build_capture", "snapshot.build_capture")
        tr.wrap(engine, "append_snapshot", "sinks.append_snapshot")
        tr.wrap(streaming, "maintain_current_state", "streaming.maintain_current_state")
        tr.wrap(statestore, "commit_fold", "statestore.commit_fold")
        tr.wrap(statestore, "maintain_store", "statestore.maintain_store", after=maintained)
        tr.wrap(self.engine.state, "commit_watermark", "state.commit_watermark")
        tr.wrap(self.engine, "refresh_view", "views.refresh_view")

    def layer_metrics(self) -> dict:
        return cdc_layer_metrics(self.tracer, self)


def cdc_layer_metrics(tr, wl) -> dict:
    """Per-layer metrics of the CDC path, per traced op."""
    from leftshove_spark import statestore

    captured_bytes = tr.per_op("sinks.append_snapshot", "outputBytes")
    fold_bytes = tr.per_op("streaming.maintain_current_state", "outputBytes", tree=True)
    live_files = 0
    if wl.fold:
        for st in wl.engine.state.all():
            m = statestore.load_manifest(wl.engine.current_state_path(st))
            live_files += sum(len(v) for v in (m or {}).get("files", {}).values())
    return {
        "engine.run_cycle.s": tr.per_op("engine.run_cycle"),
        "engine.run_cycle.self_s": tr.self_time("engine.run_cycle"),
        "controller.next_window.s": tr.per_op("controller.next_window"),
        "controller.capture_ratio": wl.windows_captured / max(1, wl.decisions),
        "sources.read_parquet_normalized.s": tr.per_op("sources.read_parquet_normalized"),
        "snapshot.build_capture.s": tr.per_op("snapshot.build_capture"),
        "sinks.append_snapshot.s": tr.per_op("sinks.append_snapshot"),
        "sinks.append_snapshot.jobs": tr.per_op("sinks.append_snapshot", "jobs"),
        "sinks.append_snapshot.tasks": tr.per_op("sinks.append_snapshot", "numCompleteTasks"),
        "sinks.append_snapshot.files_written": wl.traced_files / max(1, len(tr.ops())),
        "sinks.append_snapshot.bytes_written": captured_bytes,
        "sinks.append_snapshot.input_bytes": tr.per_op("sinks.append_snapshot", "inputBytes"),
        "state.commit_watermark.s": tr.per_op("state.commit_watermark"),
        "views.refresh_view.s": tr.per_op("views.refresh_view"),
        "views.lookup.s": tr.per_op("views.lookup"),
        "views.lookup.tasks": tr.per_op("views.lookup", "numCompleteTasks"),
        "views.lookup.input_bytes": tr.per_op("views.lookup", "inputBytes"),
        "streaming.maintain_current_state.s": tr.per_op("streaming.maintain_current_state"),
        "streaming.maintain_current_state.jobs":
            tr.per_op("streaming.maintain_current_state", "jobs", tree=True),
        "streaming.maintain_current_state.shuffle_write_bytes":
            tr.per_op("streaming.maintain_current_state", "shuffleWriteBytes", tree=True),
        "streaming.maintain_current_state.bytes_written": fold_bytes,
        "statestore.commit_fold.s": tr.per_op("statestore.commit_fold"),
        "statestore.commit_fold.calls": tr.per_op("statestore.commit_fold", "calls"),
        "statestore.write_amp": fold_bytes / captured_bytes if captured_bytes else 0.0,
        "statestore.maintain_store.s": tr.per_op("statestore.maintain_store"),
        "statestore.maintain_store.bytes_rewritten":
            tr.per_op("statestore.maintain_store", "outputBytes", tree=True),
        "statestore.maintain_store.lost_races": tr.per_op("statestore.maintain_store", "lost_races"),
        "statestore.maintain_store.vacuumed": tr.per_op("statestore.maintain_store", "vacuumed"),
        "statestore.live_files": float(live_files),
        "statestore.read_state.s": tr.per_op("statestore.read_state"),
        "statestore.read_state.tasks": tr.per_op("statestore.read_state", "numCompleteTasks"),
        "statestore.read_state.input_bytes": tr.per_op("statestore.read_state", "inputBytes"),
    }
