"""Engine orchestration — the reference's three entry points, Spark-first.

  -seed      → :meth:`Engine.seed`          (§3.1: discover + bootstrap state)
  -bq        → :meth:`Engine.create_sinks`  (§3.2: sink DDL + current-state views)
  -cdc       → :meth:`Engine.run_cycle` / :meth:`Engine.run`  (§3.3: capture loop)

The data plane is pure DataFrame (scan→filter→project→append, no shuffle);
the control plane (controller, state commits, per-table fan-out) is
driver-side Python exactly as it is driver-side Go in the reference
(cdc.go:16-145). Failure isolation matches cdc.go:128-131: a failed table
stream logs, skips its watermark commit (so its window is re-captured next
cycle), and never aborts the cycle.

Per-table concurrency (W4, cdc.go:115-140): tables are submitted to a
bounded thread pool; each thread only *drives* a Spark job, so N threads =
N concurrent Spark jobs sharing the executor pool — Spark's scheduler does
what the reference's sizedwaitgroup + Benthos threads did.
"""

from __future__ import annotations

import concurrent.futures as cf
import functools
import logging
import os
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schema as sch
from .controller import next_window
from .sources import read_parquet_normalized
from .session import EngineConfig
from .sinks import append_snapshot
from .snapshot import build_capture
from .state import StateStore, TableState
from .views import latest_per_key_window

log = logging.getLogger("leftshove_spark")


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig | None = None,
        state_path: str | None = None,
        sink_root: str = "/tmp/leftshove_spark_sink",
    ):
        self.spark = spark
        self.config = config or EngineConfig()
        self.state = StateStore(state_path)
        self.sink_root = sink_root
        # §2.11 processor hooks — the Bloblang-slot analog
        # (benthos.go:39-44): per-table DataFrame→DataFrame transforms
        # applied between the capture projection and the sink append.
        self.transforms: dict[str, object] = {}

    def set_transform(self, table: str, fn) -> None:
        """Install the per-table mid-capture transform (AddProcessorYAML
        analog, benthos.go:39-44). ``fn(df) -> df`` runs inside the
        capture plan — still one fused stage when fn is expression-only."""
        self.transforms[table] = fn

    # ------------------------------------------------------------- discover
    def discover(
        self, source_dir: str, nms_column: str, pkey_columns: dict[str, str] | None = None
    ) -> list[dict]:
        """F7 — catalog discovery (postgres.go:201-269): find every table
        in a source directory that OWNS the NMS column, from parquet
        footers only (the information_schema.columns scan analog,
        postgres.go:208). Returns seed-ready source dicts; pass straight
        to :meth:`seed` for the full ``-seed`` flow without an explicit
        table list."""
        import pyarrow.parquet as pq

        pkey_columns = pkey_columns or {}
        found = []
        for fname in sorted(os.listdir(source_dir)):
            if not fname.endswith(".parquet"):
                continue
            path = os.path.join(source_dir, fname)
            name = fname[: -len(".parquet")]
            schema = pq.read_schema(path)
            if nms_column in schema.names:
                found.append(
                    {
                        "name": name,
                        "path": path,
                        "nms_column": nms_column,
                        "pkey_column": pkey_columns.get(name),
                    }
                )
        return found

    # ------------------------------------------------------------------ seed
    def seed(
        self,
        sources: list[dict],
        now: datetime | None = None,
    ) -> list[TableState]:
        """§3.1 ``-seed`` analog. Each source dict: ``{name, path, nms_column,
        pkey_column?, dsn?}``.

        Per table (seed.go:10-62 → postgres.go:117-269): infer schema
        (getTableSchemaJSON), initial watermark = MIN(nms)−ε so the first
        window's strict lower bound doesn't exclude the oldest row
        (getTableSeedNMS, postgres.go:186-199), row count (A5,
        postgres.go:137-156), pkey, then upsert state (W6). Schema read +
        one tiny agg per table; no shuffle.
        """
        now = now or datetime.now(timezone.utc).replace(tzinfo=None)
        seeded = []
        for src in sources:
            df = read_parquet_normalized(self.spark, src["path"])
            nms_col = src["nms_column"]
            # MIN(nms) (A1); subtract 1µs because F1's lower bound is strict
            # — the reference seeds with MIN itself and relies on its first
            # window being (MIN, hi], which would skip rows AT the minimum;
            # we keep capture-everything semantics instead.
            row = df.agg(
                F.min(nms_col).alias("lo"), F.count(F.lit(1)).alias("n")
            ).collect()[0]
            src_schema = sch.infer_schema(df)
            st = TableState(
                name=src["name"],
                dsn=str(src.get("dsn", "0")),
                nms_column=nms_col,
                pkey_column=src.get("pkey_column"),
                nms=row["lo"] - timedelta(microseconds=1) if row["lo"] else now,
                last_row_count=0,  # 0 so the first cycle sees the full backlog
                source_schema_json=sch.schema_to_json(src_schema),
                sink_schema_json=sch.schema_to_json(sch.sink_schema(src_schema)),
                path=src["path"],
            )
            self.state.upsert(st)
            seeded.append(st)
            log.info("seeded %s nms=%s rows=%s", st.name, st.nms, row["n"])
        return seeded

    # ---------------------------------------------------------- create_sinks
    def create_sinks(self) -> None:
        """§3.2 ``-bq`` analog: ensure each ``<t>_cdc`` sink exists with the
        translated schema (D1–D4), diff cached vs live schema (D6), and
        register the current-state view (D5). Driver-only; no shuffle."""
        os.makedirs(self.sink_root, exist_ok=True)
        for st in self.state.all():
            path = self.sink_path(st)
            expected = sch.schema_from_json(st.sink_schema_json)
            if not os.path.exists(path):
                # CREATE TABLE with explicit schema (D4): write an empty
                # frame so the sink exists with the right shape.
                empty = self.spark.createDataFrame([], expected)
                empty.write.mode("overwrite").parquet(path)
            else:
                # merge footers only when evolution can produce mixed-schema
                # sinks; the default log-only sink is single-schema and one
                # footer suffices (a merge is a distributed O(files) job)
                if self.config.evolve_schema:
                    live = self._read_sink_evolved(path).schema
                else:
                    live = self._read_sink_raw(path).schema
                if not sch.schemas_equal(live, expected):
                    if self.config.evolve_schema:
                        # D7 apply path: additive evolution (ADD COLUMN
                        # analog, bigquery.go:366-389) — O(1) zero-row
                        # schema append, no data rewrite. Failure (e.g.
                        # destructive drift) is isolated per table, same
                        # as run_cycle's stream isolation (cdc.go:128-131).
                        try:
                            applied = sch.apply_schema_diff(
                                self.spark, path, expected, live=live
                            )
                            log.info("evolved schema on %s: %s", st.name, applied)
                        except ValueError as e:
                            log.error("schema evolution failed on %s: %s", st.name, e)
                    else:
                        # reference default: only log drift (bigquery.go:97-99)
                        log.warning(
                            "schema drift on %s: %s",
                            st.name,
                            sch.diff_schemas(live, expected),
                        )
            self.refresh_view(st)

    def sink_path(self, st: TableState) -> str:
        return os.path.join(self.sink_root, f"{st.name}_cdc")

    def _read_sink_raw(self, path: str) -> DataFrame:
        """Non-evolved sink read with the mandatory staged-swap healing
        — EVERY sink read funnels through here or
        :meth:`_read_sink_evolved` so no read path can be left listing
        a crashed swap's partial files (the class of bug that has now
        been found twice on unfunneled reads)."""
        from .sinks import recover_staged

        recover_staged(path)
        return self.spark.read.parquet(path)

    def _read_sink_evolved(self, path: str) -> DataFrame:
        """mergeSchema read with the D7b widening fallback: a sink
        mixing pre- and post-widening files makes Spark's schema MERGE
        throw even though its READER up-casts those same files when
        handed the widened schema explicitly — so on
        CANNOT_MERGE_SCHEMAS, derive the widest schema from the footers
        (pure pyarrow) and read with it. Every evolved-sink read path
        (capture views, consumer API, create_sinks diff) funnels
        through here so widening cannot strand one of them (r9 review:
        _cdc_df had the fallback, refresh_view/create_sinks did not)."""
        from .sinks import recover_staged

        recover_staged(path)
        reader = self.spark.read.option("mergeSchema", "true")
        try:
            return reader.parquet(path)
        except Exception as e:
            if "CANNOT_MERGE_SCHEMAS" not in str(e):
                raise
            from .schema import widened_live_schema

            return self.spark.read.schema(widened_live_schema(path)).parquet(path)

    def refresh_view(self, st: TableState) -> None:
        """Register ``<t>`` = latest-per-pkey view over ``<t>_cdc`` (D5,
        bigquery.go:187-207); only when a pkey is known, as in
        bigquery.go:101-110."""
        if not st.pkey_column or not os.path.exists(self.sink_path(st)):
            return  # sink not created yet (create_sinks not run / failed table)
        # mergeSchema only under evolution: an evolved sink (D7) holds
        # files with both the old and the widened schema and the view
        # must surface the union; the default sink is single-schema and
        # a footer-merge job per refresh would cost O(files) per cycle.
        if self.config.evolve_schema:
            cdc = self._read_sink_evolved(self.sink_path(st))
        else:
            cdc = self._read_sink_raw(self.sink_path(st))
        latest_per_key_window(
            cdc,
            st.pkey_column,
            tiebreak_cols=self._tiebreaks(cdc, st),
        ).createOrReplaceTempView(st.name)

    # ----------------------------------------------------------- row counts
    def _source_row_count(self, st: TableState) -> int:
        """A5 analog with the reference's *estimate* philosophy
        (postgres.go:144-149 reads pg_class stats to avoid a scan): sum
        parquet footer row counts driver-side, caching per file so an
        unchanged file is never re-read. No Spark job is launched — at
        thousands of files this is a metadata listing, not a count query.
        (Local-fs listing; on object stores swap in the store's list API.)"""
        import pyarrow.parquet as pq

        cache: dict = st.extra.setdefault("file_counts", {})
        if os.path.isdir(st.path):
            files = [
                os.path.join(st.path, f)
                for f in os.listdir(st.path)
                if f.endswith(".parquet")
            ]
        else:
            files = [st.path]
        total = 0
        live_keys = set()
        for f in files:
            key = f"{f}:{os.path.getmtime(f)}"
            live_keys.add(key)
            if key not in cache:
                cache[key] = pq.read_metadata(f).num_rows
            total += cache[key]
        # evict keys for vanished/rewritten files — the cache persists in
        # the state JSON, and a file rewritten each cycle would otherwise
        # add one dead key per cycle (unbounded state growth on long CDC
        # loops).
        for dead in set(cache) - live_keys:
            del cache[dead]
        return total

    # -------------------------------------------------------------- run_cycle
    def capture_table(
        self, st: TableState, now: datetime, snapshot_at: datetime | None = None
    ) -> int | None:
        """One table's capture: controller → build_capture → [transform
        hook] → append → commit. Returns rows captured, or None on skip.
        Watermark commits ONLY after the sink write returns (W5)."""
        src = read_parquet_normalized(self.spark, st.path)
        if self.config.evolve_schema:
            self._evolve_on_drift(st, src)
        current_count = self._source_row_count(st)
        decision = next_window(
            now,
            st.nms,
            st.last_shoved_on,
            st.last_row_count,
            current_count,
            replication_buffer_secs=self.config.replication_buffer_secs,
            batch_count=self.config.batch_count,
            backlog_batches=self.config.backlog_batches,
            max_step_hours=self.config.max_step_hours,
        )
        if decision.skip:
            log.info("cycle %s: skip", st.name)
            return None
        cap = build_capture(
            src,
            st.nms_column,
            decision.lo,
            decision.hi,
            munge_to_null=self.config.munge_invalid_ts_to_null,
            munge_to_min=self.config.munge_invalid_ts_to_min,
            min_ts=self.config.munge_min_timestamp,
            snapshot_at=snapshot_at,
        )
        hook = self.transforms.get(st.name)
        if hook is not None:
            cap = hook(cap)  # §2.11 processor slot (benthos.go:39-44)
        append_snapshot(
            cap,
            self.sink_path(st),
            max_records_per_file=max(self.config.batch_count * 64, 1_000_000),
        )
        if self.config.materialize_current_state and st.pkey_column:
            # W25: fold this capture's delta into the compacted
            # current-state table BEFORE the watermark commit — a crash
            # between append and fold re-captures the window next cycle
            # and both the sink (append + newest-wins view) and the
            # fold (associative latest-per-key upsert) converge under
            # the redelivery. Version order = (snapshot_tm, nms): rows
            # within one capture share the cycle stamp and order by
            # their true event time; later cycles stamp later.
            from .streaming import maintain_current_state

            maintain_current_state(
                self.spark,
                self.current_state_path(st),
                cap,
                st.pkey_column,
                sch.SNAPSHOT_COL,
                tiebreak_cols=self._tiebreaks(cap, st),
                n_buckets=self.config.current_state_buckets,
            )
        # W5: commit only after a successful write. Row count from the
        # sink-side is not re-counted (the write succeeded); state carries
        # the source count for the next controller decision.
        self.state.commit_watermark(st.name, st.dsn, decision.hi, current_count, now)
        log.info(
            "cycle %s: case=%s window=(%s, %s]", st.name, decision.case.value,
            decision.lo, decision.hi,
        )
        return current_count

    def _evolve_on_drift(self, st: TableState, src: DataFrame) -> None:
        """Mid-loop D6→D7 composition (VERDICT r10 #9): when the SOURCE
        schema drifts from the cached sink schema during the capture
        loop — a column added upstream, or a type widened (int→long,
        float→double) — apply the additive/widening evolution to the
        sink BEFORE capturing, and refresh the cached schemas, so the
        cycle lands the new shape instead of writing a mixed sink the
        views can't merge. Previously drift was only handled when the
        operator re-ran ``create_sinks`` by hand. Destructive drift
        (dropped/retyped-non-widening columns) raises — run_cycle's
        per-table isolation logs it and skips the watermark, exactly a
        failed stream (cdc.go:128-131). Cost: one driver-side schema
        compare per cycle; the apply itself is the O(1) zero-row
        schema append (schema.apply_schema_diff)."""
        expected = sch.sink_schema(src.schema)
        cached = (
            sch.schema_from_json(st.sink_schema_json)
            if st.sink_schema_json
            else None
        )
        if cached is not None and sch.schemas_equal(cached, expected):
            return
        path = self.sink_path(st)
        if os.path.exists(path):
            applied = sch.apply_schema_diff(
                self.spark,
                path,
                expected,
                allow_widening=True,
            )
            log.info("cycle %s: schema drift auto-applied: %s", st.name, applied)
        self.state.update_schemas(
            st.name,
            st.dsn,
            source_schema_json=sch.schema_to_json(src.schema),
            sink_schema_json=sch.schema_to_json(expected),
        )

    def run_cycle(self, now: datetime | None = None, snapshot_at: datetime | None = None) -> dict[str, int | None]:
        """One CDC cycle over all tracked tables (cdc.go:16-145) with W4
        bounded fan-out. Returns {table: captured_source_count|None}."""
        now = now or datetime.now(timezone.utc).replace(tzinfo=None)
        results: dict[str, int | None] = {}
        workers = max(1, self.config.concurrent_streams)

        def one(st: TableState):
            try:
                return st.name, self.capture_table(st, now, snapshot_at)
            except Exception as e:  # failure isolation (cdc.go:128-131)
                log.error("stream %s failed: %s — watermark NOT committed", st.name, e)
                return st.name, None

        if workers == 1:
            for st in self.state.all():
                name, n = one(st)
                results[name] = n
        else:
            with cf.ThreadPoolExecutor(max_workers=workers) as ex:
                for name, n in ex.map(one, self.state.all()):
                    results[name] = n
        for st in self.state.all():
            self.refresh_view(st)
        return results

    def maintain_state(
        self,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        min_files: int = 8,
    ) -> dict:
        """One maintenance pass over ``table``'s current-state store —
        compaction + orphan vacuum via :func:`statestore.maintain_store`.
        This is the engine's one control for a state store's file count
        and debris: a fold writes whatever layout its shuffle produces
        (one file per write task × touched bucket), and this pass
        rewrites buckets at least ``min_files`` deep into
        ~``target_file_bytes`` files and sweeps past-grace orphans.

        Safe to run WHILE a live capture loop / W26 stream folds the
        same store: a lost generation race is absorbed (re-planned
        once, then deferred to the next pass), never surfaced as an
        error, and the fold side retries over the contents-preserving
        maintenance commit (statestore.commit_fold_retrying). Runs every
        ``config.maintain_state_every_cycles`` cycles of :meth:`run`, or
        whenever a caller invokes it. Returns the maintain_store result
        dict (``compacted`` / ``lost_races`` / ``vacuumed``); all-empty
        for tables without a manifest store (W25 off, or never folded);
        KeyError for a table that was never seeded."""
        from . import statestore

        st = next((s for s in self.state.all() if s.name == table), None)
        if st is None:
            raise KeyError(f"{table}: not a seeded capture table")
        return statestore.maintain_store(
            self.spark,
            self.current_state_path(st),
            target_file_bytes=target_file_bytes,
            min_files=min_files,
        )

    # -------------------------------------------------------------------- run
    def run(
        self,
        max_cycles: int | None = None,
        sleep_secs: float = 0.0,
        now_fn=None,
        snapshot_at: datetime | None = None,
    ) -> list[dict[str, int | None]]:
        """W1 — the continuous capture loop (``-cdc`` without ``-runonce``
        runs ``for { cdc() }`` forever, main.go:56-64). ``max_cycles``
        bounds it for tests/runonce (None = run until interrupted);
        ``sleep_secs`` is the inter-cycle pause (the reference relies on
        the controller's SKIP case for idle tables rather than sleeping —
        both are supported). ``now_fn`` injects the clock for determinism."""
        import time as _time

        results = []
        cycle = 0
        every = self.config.maintain_state_every_cycles
        while max_cycles is None or cycle < max_cycles:
            now = now_fn() if now_fn else None
            results.append(self.run_cycle(now=now, snapshot_at=snapshot_at))
            cycle += 1
            if every and cycle % every == 0:
                # K21 maintenance cadence (r16): compaction + vacuum
                # with the loss discipline — a race with the next
                # cycle's fold is absorbed, never an engine error
                for st in self.state.all():
                    self.maintain_state(st.name)
            if sleep_secs and (max_cycles is None or cycle < max_cycles):
                _time.sleep(sleep_secs)
        return results

    def current_state(self, table: str) -> DataFrame:
        """Read the current-state view — what reference users query."""
        return self.spark.table(table)

    def current_state_path(self, st: TableState) -> str:
        return os.path.join(self.sink_root, f"{st.name}_current")

    def current_state_table(self, table: str) -> DataFrame:
        """Read the MATERIALIZED current-state table (W25) — the hot
        consumer path when ``config.materialize_current_state`` is on:
        a plain scan of O(live keys) rows, versus :meth:`current_state`
        whose latest-per-key window re-pays the full sink history on
        every read. Pytest pins table ≡ view after every cycle."""
        _, st = self._cdc_df(table)
        path = self.current_state_path(st)
        if not os.path.isdir(path):
            raise ValueError(
                f"{table}: no materialized current-state table at {path} — "
                "seed + run_cycle with materialize_current_state=True first"
            )
        from .streaming import current_state_table

        return current_state_table(self.spark, path)

    def _cdc_df(self, table: str):
        st = next((s for s in self.state.all() if s.name == table), None)
        if st is None:
            raise KeyError(f"{table}: not a seeded capture table")
        if not st.pkey_column:
            raise ValueError(f"{table}: no pkey — history is undefined")
        path = self.sink_path(st)
        if self.config.evolve_schema:
            return self._read_sink_evolved(path), st
        return self._read_sink_raw(path), st

    @staticmethod
    def _version_tiebreaks(cdc: DataFrame, pkey: str) -> list[str]:
        """Deterministic version order when two captured versions of a
        pkey share ``snapshot_tm`` (a same-cycle duplicate in the
        source): tiebreak on the remaining payload columns, sorted by
        name — views.history_view's contract requires a total order for
        a deterministic interval chain, and without it history /
        state_as_of / state_at could disagree run-to-run. Columns whose
        type contains a map ANYWHERE (top-level, or nested in an
        array/struct — Spark rejects both in orderBy) are skipped;
        map-free arrays/structs order lexicographically."""
        from .schema import type_contains_map

        return sorted(
            f.name
            for f in cdc.schema.fields
            if f.name not in (pkey, "snapshot_tm")
            and not type_contains_map(f.dataType)
        )

    def _tiebreaks(self, df: DataFrame, st: TableState) -> list[str]:
        """The ONE version-order convention (ADVICE r11 medium): the
        nms column FIRST (within a shared snapshot stamp, true event
        time is the meaningful order), then the remaining orderable
        payload columns sorted by name (a total order even when nms
        ties too). The registered current-state view, history /
        state_at / vacuum retention, and the W25 materialized folds all
        order by exactly this list — previously the view had NO
        tiebreak, the folds used [nms] alone, and vacuum used the
        alphabetical payload list, so a pkey with two versions in one
        capture could make the view nondeterministic vs the table and
        let vacuum retain a different 'latest' than the fold kept
        (permanent table ≠ view divergence). One consequence worth
        naming: the folds' version-stamp conflict check now fires only
        for rows this total order cannot separate (map-typed-column
        differences) — any orderable payload difference is RESOLVED
        deterministically instead, exactly as the view resolves it."""
        rest = [
            c
            for c in self._version_tiebreaks(df, st.pkey_column)
            if c != st.nms_column
        ]
        return [st.nms_column] + rest

    def history(self, table: str) -> DataFrame:
        """SCD-Type-2 history over the ``<t>_cdc`` sink: every captured
        version per pkey with [valid_from, valid_to) intervals and an
        is_current flag (views.history_view) — the full-history
        companion of :meth:`current_state`. Same single window cost as
        the current-state view."""
        from .views import history_view

        cdc, st = self._cdc_df(table)
        return history_view(
            cdc,
            st.pkey_column,
            order_col="snapshot_tm",
            tiebreak_cols=self._tiebreaks(cdc, st),
        )

    def state_as_of(self, table: str, ts) -> DataFrame:
        """Point-in-time state WITH validity intervals (views.as_of over
        :meth:`history`) — "what did the table say at T", the third leg
        of the current/history/as-of triad. When the interval columns
        aren't needed, prefer :meth:`state_at`: same rows, but the time
        predicate reaches the sink scan."""
        from .views import as_of

        return as_of(self.history(table), ts)

    def state_at(self, table: str, ts) -> DataFrame:
        """Point-in-time state via the pushdown fast path
        (views.state_at: filter ``snapshot_tm <= T`` at the scan, then
        latest-per-key) — provably the same rows as
        :meth:`state_as_of` minus the interval columns, with file/
        row-group pruning on a clustered sink."""
        from .views import state_at

        cdc, st = self._cdc_df(table)
        return state_at(
            cdc,
            st.pkey_column,
            ts,
            order_col="snapshot_tm",
            tiebreak_cols=self._tiebreaks(cdc, st),
        )

    def vacuum_snapshots(self, table: str, horizon) -> int:
        """Retention purge of the ``<t>_cdc`` sink: drop versions older
        than ``horizon`` EXCEPT each pkey's latest pre-horizon version —
        the baseline that keeps every :meth:`state_at` /
        :meth:`state_as_of` at ``ts >= horizon`` byte-identical after
        the purge (pytest-pinned); history before the horizon is
        forfeited, which is the point. Rewrites the sink via the
        crash-recoverable staged swap (sinks.rewrite_dir_staged).
        Returns the number of retained rows."""
        from .sinks import rewrite_dir_staged
        from .views import retention_select

        cdc, st = self._cdc_df(table)
        keep = retention_select(
            cdc,
            horizon,
            st.pkey_column,
            order_col="snapshot_tm",
            tiebreak_cols=self._tiebreaks(cdc, st),
        )
        rewrite_dir_staged(keep, self.sink_path(st))
        # the registered current-state view wraps a plan whose file
        # listing predates the swap — re-register it or the next
        # spark.table(t) read dies on the deleted files (found by the
        # demo's post-vacuum W25 assertion, r11)
        self.refresh_view(st)
        return self.spark.read.parquet(self.sink_path(st)).count()

    def backfill(self, table: str, lo: datetime, hi: datetime) -> int:
        """K11 — idempotent historical re-capture: re-read the source
        window ``(lo, hi]`` and fold only the versions the sink is
        MISSING into it — the gap-repair op every CDC deployment
        eventually needs (source outage, bug-window purge, late data
        beyond the replication buffer). Returns rows appended.

        Idempotent by construction: incoming versions anti-join the
        sink on (pkey, nms) before the append, so re-running the same
        backfill appends zero rows and partial failures are safe to
        retry. Version stamping: backfilled rows carry
        ``snapshot_tm = their own nms value`` — a historical version
        must interleave into SCD2 history at its HISTORICAL position;
        a repair-time stamp would make every backfilled version the
        per-key "latest" and corrupt history()/state_as_of(). The
        interleave is exact when captures are timely (snapshot_tm
        tracks nms up to the replication buffer — the normal
        deployment); a sink whose original stamps lag their nms by
        more than the repaired gap orders the backfilled version by
        its nms stamp, which is then the best-available position. The
        watermark is NOT advanced: backfill repairs the past, the
        controller's forward window is untouched.

        Scale shape: both sides prune — the source read pushes the
        half-open window predicate to its scan, the sink side reads
        only (pkey, nms) projections of the same window — and the
        anti-join keys on (pkey, nms), so cost ∝ window size, never
        sink size."""
        from .snapshot import window_predicate

        existing_df, st = self._cdc_df(table)
        src = read_parquet_normalized(self.spark, st.path)
        cap = build_capture(
            src,
            st.nms_column,
            lo,
            hi,
            munge_to_null=self.config.munge_invalid_ts_to_null,
            munge_to_min=self.config.munge_invalid_ts_to_min,
            min_ts=self.config.munge_min_timestamp,
        ).withColumn(
            sch.SNAPSHOT_COL, F.col(st.nms_column).cast("timestamp")
        )
        hook = self.transforms.get(st.name)
        if hook is not None:
            cap = hook(cap)
        keys = [st.pkey_column, st.nms_column]
        # Null-safe idempotence: a munge_invalid_ts_to_null capture can
        # carry nms = NULL (build_capture filters on the RAW nms, then
        # munges), and such a row lands in the sink with NULL nms +
        # NULL snapshot_tm.  Two consequences for re-runs: (a) the sink
        # side must ADMIT those rows (the window predicate drops NULLs),
        # (b) the anti-join must match NULL keys (plain `=` never does).
        # The null-nms side is BOUNDED to pkeys present in THIS capture
        # (one null-safe semi-join): null-nms rows accumulate in the
        # sink over the table's whole lifetime with no window column to
        # prune on, so admitting them all would grow the anti-join's
        # build side without bound across the sink's life (ADVICE r10);
        # only the capture's own keys can collide in the anti-join, so
        # the semi-join capping is lossless.
        in_window = existing_df.filter(window_predicate(st.nms_column, lo, hi))
        cap_keys = cap.select(F.col(st.pkey_column).alias("__bf_ck")).distinct()
        null_nms = (
            existing_df.filter(F.col(st.nms_column).isNull())
            .join(
                cap_keys,
                F.col(st.pkey_column).eqNullSafe(F.col("__bf_ck")),
                "left_semi",
            )
        )
        existing = in_window.unionByName(null_nms).select(
            *[F.col(k).alias(f"__bf_{k}") for k in keys]
        )
        anti_cond = functools.reduce(
            lambda a, b: a & b,
            [cap[k].eqNullSafe(existing[f"__bf_{k}"]) for k in keys],
        )
        # localCheckpoint, not persist: fresh's plan anti-joins against
        # the SINK it is about to repair, and the append invalidates any
        # cached plan that reads the target path — a persisted fresh
        # would silently RECOMPUTE against the already-repaired sink
        # (anti-join then drops everything) for any consumer after the
        # append; checkpointing materializes the rows and cuts the
        # path dependency (found by the r11 W25 backfill fold, whose
        # post-append fold saw 0 rows).
        fresh = cap.join(existing, anti_cond, "left_anti").localCheckpoint()
        n = fresh.count()
        if n:
            append_snapshot(fresh, self.sink_path(st))
            # appended files postdate the registered view's listing
            # — re-register so consumers see the repair immediately
            self.refresh_view(st)
            if self.config.materialize_current_state and st.pkey_column:
                # W25: a backfilled version folds by its HISTORICAL
                # stamp (snapshot_tm = its own nms) — it only
                # becomes the live row when it genuinely is the
                # newest version of its key, exactly the view's
                # answer
                from .streaming import maintain_current_state

                maintain_current_state(
                    self.spark,
                    self.current_state_path(st),
                    fresh,
                    st.pkey_column,
                    sch.SNAPSHOT_COL,
                    tiebreak_cols=self._tiebreaks(fresh, st),
                    n_buckets=self.config.current_state_buckets,
                )
        return n

    def changes_between(
        self, table: str, t1, t2, include_payload: bool = False
    ) -> DataFrame:
        """Change feed between two instants: per pkey, was the row
        ``added``, ``removed`` or ``changed`` from the state at ``t1``
        to the state at ``t2``? Composes the two pushdown point-in-time
        states through views.snapshot_diff (full outer null-safe key
        join, per-column IS-DISTINCT-FROM on native types, output
        O(changes)) — the "what did this capture cycle do" audit query
        a CDC consumer replays. Both sides prune the sink scan with
        their ``snapshot_tm <=`` predicate; with an append-only source
        'removed' rows indicate sink corruption, which is exactly why
        the category exists. With ``include_payload`` the feed carries
        the new-side values, making it APPLYABLE to a downstream
        replica (views.apply_changes) — the pytest-pinned invariant:
        apply(state_at(t1), changes_between(t1, t2)) ≡ state_at(t2)."""
        from .views import snapshot_diff

        _, st = self._cdc_df(table)
        return snapshot_diff(
            self.state_at(table, t1).drop("snapshot_tm"),
            self.state_at(table, t2).drop("snapshot_tm"),
            st.pkey_column,
            include_payload=include_payload,
        )

    # ------------------------------------------------------- S7 config sink
    def write_stream_configs(self, config_dir: str) -> None:
        """S7 — stream-config sink (benthos.go:146-160: every built
        pipeline config is persisted to ``stream_configs/<dsn>_<t>.json``
        for observability). Our per-table "pipeline config" is the
        engine's plan for that table: source path, NMS/pkey columns,
        current watermark, batching knobs, sink path, transform-hook
        presence, and the cached sink schema. Driver-side file writes —
        never a data-plane step."""
        import json as _json

        os.makedirs(config_dir, exist_ok=True)
        for st in self.state.all():
            conf = {
                "table": st.name,
                "dsn": st.dsn,
                "source_path": st.path,
                "nms_column": st.nms_column,
                "pkey_column": st.pkey_column,
                "watermark": st.nms.isoformat() if st.nms else None,
                "last_row_count": st.last_row_count,
                "sink_path": self.sink_path(st),
                "batch": {"count": self.config.batch_count},
                "replication_buffer_secs": self.config.replication_buffer_secs,
                "has_transform": st.name in self.transforms,
                "sink_schema": st.sink_schema_json,
            }
            out = os.path.join(config_dir, f"{st.dsn}_{st.name}.json")
            with open(out, "w") as f:
                _json.dump(conf, f, indent=2, sort_keys=True)
