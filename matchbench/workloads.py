"""The three closed-loop workloads: one client, one operation at a time,
each driven through the engine's public functions.

Every workload has the same life cycle, run by ``run.py``:

- ``make_inputs``: seeded inputs, cached per seed under the work dir;
- ``setup``: subscription registration, plan/broadcast and the fixed
  warm-up (timed as ``setup_s``);
- ``reference``: the independent expected output, cached per seed;
- ``op``: one timed operation; ``check``: its output vs the reference;
- ``replay``: in-process per-layer timings (traced runs only).
"""

from __future__ import annotations

import json
import os
import pickle
import statistics
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from a_tree_spark.engine.eventize import (
    EVENT_ATTRIBUTES,
    STANDING_SUBSCRIPTIONS,
    eventize_events,
)
from a_tree_spark.engine.matcher import choose_access_pruning, match_events
from a_tree_spark.expr import ForestBuilder, evaluate_event, normalize_event, parse
from a_tree_spark.expr.vector import DECIMAL_SCALE, BatchEvaluator
from a_tree_spark.spatial.cells import cell_id
from a_tree_spark.web.pipeline import (
    PAGE_ATTRIBUTES,
    build_page_forest,
    cell_stats_from_root_partials,
    diverse_page_subscriptions,
    eventize_pages,
    fused_match_pages,
    match_pages,
    root_subscription_map,
    standing_page_subscriptions,
)
from a_tree_spark.web.synth import synth_batch

#: rows of the workload's own eventized input replayed in-process
REPLAY_ROWS = 8192
#: pages whose eventized attributes are checked against expr.oracle
ORACLE_SAMPLE = 16


class Spans:
    """Named wall-time samples, kept in memory until the run ends."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.samples.setdefault(name, []).append(time.perf_counter() - t0)

    def median(self, name: str, default: float = 0.0) -> float:
        values = self.samples.get(name)
        return statistics.median(values) if values else default


def _write_pages(path: str, ids: np.ndarray, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(ids, n_files)):
        table = pa.Table.from_pandas(synth_batch(chunk), preserve_index=False)
        table = table.append_column("page_id", pa.array(chunk, type=pa.int64()))
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))


def _eventized_rows(eventized, urls: list[str]) -> dict[str, dict]:
    """Eventized attribute values of the given pages, as oracle events."""
    from pyspark.sql import functions as F

    names = PAGE_ATTRIBUTES.names()
    rows = eventized.where(F.col("url").isin(urls)).select("url", *names).collect()
    return {r["url"]: {n: r[n] for n in names} for r in rows}


def _oracle(forest, event: dict) -> list[int]:
    return evaluate_event(forest, normalize_event(forest.attributes, event))


class Workload:
    name = ""
    attributes = PAGE_ATTRIBUTES
    spark_conf: dict[str, str] = {}
    #: input rows matched by one operation
    rows_per_op = 0
    #: cap on operations per run (None: bounded by time only)
    max_ops: int | None = None

    def __init__(self, seed: int, work_dir: str, corrupt_reference: bool = False):
        self.seed = seed
        self.cache = os.path.join(work_dir, "cache", self.name, f"seed{seed}")
        os.makedirs(self.cache, exist_ok=True)
        self.corrupt_reference = corrupt_reference
        self.spans = Spans()
        self.broadcast_sizes: list[int] = []
        self.fallback_rows: list[int] = []

    # hooks ---------------------------------------------------------------
    def make_inputs(self) -> dict:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def release(self) -> None:
        """Drop session-bound state before the session stops."""

    def after_op(self) -> None:
        """Clean-up after one operation, outside its timed window."""

    def reference(self, session, want_sample: bool) -> bool:
        """Load or compute the expected output; True when the reference
        itself agreed with expr.oracle. ``session()`` returns a Spark
        session; it is called only for what is not cached yet."""
        raise NotImplementedError

    def op(self, i: int):
        """One timed operation. Returns (DataFrame run, collected output)."""
        raise NotImplementedError

    def check(self, i: int, out) -> bool:
        raise NotImplementedError

    def live_subscriptions(self) -> dict[int, str]:
        raise NotImplementedError

    # shared helpers --------------------------------------------------------
    def _cached_json(self, name: str, build):
        path = os.path.join(self.cache, name)
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = build()
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(value, f)
        os.replace(tmp, path)
        return value

    def _save_sample(self, eventized) -> None:
        """Cache REPLAY_ROWS rows of ``eventized()`` for the kernel replay."""
        path = os.path.join(self.cache, "replay.arrow")
        if os.path.exists(path):
            return
        table = eventized().limit(REPLAY_ROWS).toArrow()
        with pa.OSFile(path + ".tmp", "wb") as sink:
            with pa.ipc.new_file(sink, table.schema) as writer:
                writer.write_table(table)
        os.replace(path + ".tmp", path)

    def _sample_batch(self) -> pa.RecordBatch:
        with pa.memory_map(os.path.join(self.cache, "replay.arrow")) as source:
            table = pa.ipc.open_file(source).read_all()
        return table.combine_chunks().to_batches()[0]

    def _record_pass(self, bcs: list, acc, fallback_before: int) -> None:
        """Record the evaluator broadcast's pickled size and the rows the
        fast extract path could not handle during one pass."""
        self.broadcast_sizes.append(os.path.getsize(bcs[-1]._path))
        self.fallback_rows.append(acc.value - fallback_before)

    def replay(self) -> dict[str, float]:
        """Per-layer timings of the expression layers, in process, on the
        live subscription set and a fixed sample of the workload's rows."""
        subs = self.live_subscriptions()
        reps = max(1, 2000 // len(subs))
        t0 = time.perf_counter()
        for _ in range(reps):
            nnf = {k: parse(v, self.attributes).optimize() for k, v in subs.items()}
        parse_us = 1e6 * (time.perf_counter() - t0) / (reps * len(subs))

        insert_s = delete_s = 0.0
        victims = list(subs)[: max(1, len(subs) // 100)]
        for _ in range(reps):
            builder = ForestBuilder(self.attributes)
            t0 = time.perf_counter()
            for k, node in nnf.items():
                builder.insert(k, node)
            t1 = time.perf_counter()
            for k in victims:
                builder.delete(k)
            t2 = time.perf_counter()
            insert_s += t1 - t0
            delete_s += t2 - t1

        forest = self.builder.compile()
        plans = []
        for _ in range(3):
            t0 = time.perf_counter()
            ev = BatchEvaluator(forest)
            plans.append(time.perf_counter() - t0)
        ev.access_pruning = choose_access_pruning(ev)
        blob = pickle.dumps(ev, protocol=pickle.HIGHEST_PROTOCOL)
        loads = []
        for _ in range(3):
            t0 = time.perf_counter()
            pickle.loads(blob)
            loads.append(time.perf_counter() - t0)

        kernel = self._kernel_replay(ev)
        lat, lon = self._sample_points()
        cells = []
        for _ in range(5):
            t0 = time.perf_counter()
            cell_id(lat, lon)
            cells.append(time.perf_counter() - t0)

        return {
            "expr.parse_us_per_sub": parse_us,
            "compiler.insert_us_per_sub": 1e6 * insert_s / (reps * len(nnf)),
            "compiler.delete_us_per_sub": 1e6 * delete_s / (reps * len(victims)),
            "compiler.compile_s": self.spans.median("compiler.compile"),
            "compiler.live_nodes": self.live_nodes,
            "compiler.subs_per_root": len(ev.sub_ids) / max(1, len(ev.root_nodes)),
            "vector.plan_s": statistics.median(plans),
            "vector.unpickle_s": statistics.median(loads),
            "vector.access_pruning": int(bool(ev.access_pruning)),
            "cells.encode_ns_per_row": 1e9 * statistics.median(cells) / len(lat),
            "web.extract_fallback_rows": max(self.fallback_rows, default=0),
            # the shipped broadcast where the benchmark holds it (fused
            # kernel); match_events keeps its own, so pickle the same object
            "vector.broadcast_bytes": (
                self.broadcast_sizes[0] if self.broadcast_sizes else len(blob)
            ),
            **kernel,
        }

    def _kernel_replay(self, ev: BatchEvaluator) -> dict[str, float]:
        batch = self._sample_batch()
        n = batch.num_rows
        chunk = ev._chunk_rows(n)
        best = None
        for _ in range(3):
            ingest = evaluate = expand = 0.0
            root_hits = matches = 0
            for start in range(0, n, chunk):
                piece = batch.slice(start, min(chunk, n - start))
                t0 = time.perf_counter()
                cache = ev.arrow_columns(piece)
                t1 = time.perf_counter()
                rows, roots = ev.evaluate_prepared_roots(cache, piece.num_rows)
                t2 = time.perf_counter()
                rows_out, _ = ev.expand_roots(rows, roots)
                t3 = time.perf_counter()
                ingest, evaluate, expand = ingest + t1 - t0, evaluate + t2 - t1, expand + t3 - t2
                root_hits += len(rows)
                matches += len(rows_out)
            total = ingest + evaluate + expand
            if best is None or total < best[0]:
                best = (total, ingest, evaluate, expand, root_hits, matches)
        _, ingest, evaluate, expand, root_hits, matches = best
        return {
            "vector.ingest_us_per_row": 1e6 * ingest / n,
            "vector.eval_us_per_row": 1e6 * evaluate / n,
            "vector.expand_us_per_row": 1e6 * expand / n,
            "vector.root_hits_per_row": root_hits / n,
            "vector.matches_per_row": matches / n,
        }

    def _sample_points(self) -> tuple[np.ndarray, np.ndarray]:
        """Positions the cell encoder sees on this workload, tiled to 1M."""
        batch = self._sample_batch()
        lat = batch.column(batch.schema.get_field_index("lat"))
        lon = batch.column(batch.schema.get_field_index("lon"))
        keep = pc.and_(pc.is_valid(lat), pc.is_valid(lon))
        lat = pc.filter(lat, keep).to_numpy()
        lon = pc.filter(lon, keep).to_numpy()
        reps = -(-1_000_000 // max(1, len(lat)))
        return np.tile(lat, reps), np.tile(lon, reps)


class PagesUniform(Workload):
    """Flagship pass: fused extract + match + in-kernel combine, then the
    per-cell statistics, over a seeded synthetic pages table."""

    name = "pages_uniform"
    N_PAGES = 20_000
    N_FILES = 8
    N_SUBS = 10_000
    rows_per_op = N_PAGES
    # one scan split per file: two splits per core on a 4-core host
    spark_conf = {
        "spark.sql.files.maxPartitionBytes": "2m",
        "spark.sql.files.openCostInBytes": "512k",
    }

    def make_inputs(self) -> dict:
        self.pages_path = os.path.join(self.cache, "pages")
        marker = os.path.join(self.pages_path, "_DONE")
        if not os.path.exists(marker):
            base = (self.seed + 1) * 1_000_000_000
            _write_pages(self.pages_path, base + np.arange(self.N_PAGES), self.N_FILES)
            open(marker, "w").close()
        return {"pages": self.N_PAGES, "subscriptions": self.N_SUBS}

    def live_subscriptions(self) -> dict[int, str]:
        return standing_page_subscriptions(self.N_SUBS)

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        with self.spans.span("setup.register"):
            self.builder = build_page_forest(self.N_SUBS)
        with self.spans.span("compiler.compile"):
            self.builder.compile()
        self.live_nodes = self.builder.live_node_count
        self.root_map = root_subscription_map(spark, self.builder).cache()
        self.root_map.count()
        pages = spark.read.parquet(self.pages_path).withColumn(
            "page_key", F.monotonically_increasing_id()
        )
        self.acc = spark.sparkContext.accumulator(0)
        self.bcs: list = []
        with self.spans.span("matcher.call"):
            partials = fused_match_pages(
                pages, self.builder, emit="cell_root_partials",
                fallback_counter=self.acc, broadcast_out=self.bcs,
            )
        self.query = cell_stats_from_root_partials(partials, self.root_map)
        self.broadcast_sizes = []
        self.fallback_rows = []
        self.op(-1)  # fixed warm-up: one full pass

    def release(self) -> None:
        self.root_map.unpersist()

    def op(self, i: int):
        # a fresh Dataset over the same plan: re-executes every stage
        # (a re-collect of one Dataset would reuse its shuffle files)
        # while keeping the one evaluator broadcast
        before = self.acc.value
        df = self.query.select("*")
        rows = df.collect()
        self._record_pass(self.bcs, self.acc, before)
        return df, rows

    def reference(self, session, want_sample: bool) -> bool:
        from pyspark.sql import functions as F

        def eventized():
            return eventize_pages(session().read.parquet(self.pages_path))

        def build():
            forest = build_page_forest(self.N_SUBS)
            pages = eventized().cache()
            stats = (
                match_pages(pages, forest)
                .groupBy("cell_id")
                .agg(
                    F.count("*").alias("n_matches"),
                    F.countDistinct("sub_id").alias("n_distinct_subs"),
                )
                .collect()
            )
            return {
                "cells": [[r.cell_id, r.n_matches, r.n_distinct_subs] for r in stats],
                "oracle_ok": self._oracle_sample(pages, forest),
            }

        ref = self._cached_json("reference.json", build)
        self.expected = {c: (n, d) for c, n, d in ref["cells"]}
        if self.corrupt_reference:
            cell = sorted(self.expected, key=str)[0]
            n, d = self.expected[cell]
            self.expected[cell] = (n + 1, d)
        if want_sample:
            self._save_sample(eventized)
        return ref["oracle_ok"]

    def _oracle_sample(self, eventized, builder) -> bool:
        """The reference path's matches on sampled pages == expr.oracle."""
        from pyspark.sql import functions as F

        urls = pq.read_table(self.pages_path, columns=["url"]).column("url").to_pylist()
        rng = np.random.default_rng(self.seed)
        sample = [urls[i] for i in rng.choice(len(urls), ORACLE_SAMPLE, replace=False)]
        events = _eventized_rows(eventized, sample)
        got: dict[str, set] = {u: set() for u in sample}
        matched = (
            match_pages(eventized.where(F.col("url").isin(sample)), builder, carry=("url",))
            .select("url", "sub_id")
            .collect()
        )
        for r in matched:
            got[r.url].add(r.sub_id)
        forest = builder.compile()
        return len(events) == len(sample) and all(
            got[u] == set(_oracle(forest, events[u])) for u in sample
        )

    def check(self, i: int, out) -> bool:
        _, rows = out
        got = {r.cell_id: (r.n_matches, r.n_distinct_subs) for r in rows}
        return got == self.expected


class EventsMatch(Workload):
    """match_agg_by_sub over a seeded 100k-event table with one row group:
    match_events (auto strategy) -> per-subscription count and distinct
    events, collected."""

    name = "events_match"
    attributes = EVENT_ATTRIBUTES
    N_EVENTS = 100_000
    rows_per_op = N_EVENTS
    EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

    def make_inputs(self) -> dict:
        self.events_path = os.path.join(self.cache, "events.parquet")
        if not os.path.exists(self.events_path):
            self._write_events()
        return {"events": self.N_EVENTS, "subscriptions": len(STANDING_SUBSCRIPTIONS)}

    def _write_events(self) -> None:
        """Same schema and value distributions as the test data's events
        table: 30 days of sorted timestamps, 1,500 users, 5 event types,
        exponential values in cents, props {"k": 0..99}."""
        n = self.N_EVENTS
        rng = np.random.default_rng(self.seed)
        epoch = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
        ts = epoch + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
        kinds = np.array(self.EVENT_TYPES)[rng.integers(0, 5, n)]
        props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]
        table = pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(kinds.tolist(), type=pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(props, type=pa.string()),
        })
        pq.write_table(table, self.events_path + ".tmp", row_group_size=n)
        os.replace(self.events_path + ".tmp", self.events_path)

    def live_subscriptions(self) -> dict[int, str]:
        return dict(STANDING_SUBSCRIPTIONS)

    def setup(self, spark) -> None:
        with self.spans.span("setup.register"):
            self.builder = ForestBuilder(EVENT_ATTRIBUTES)
            for sub_id, expression in STANDING_SUBSCRIPTIONS.items():
                self.builder.insert(sub_id, expression)
        with self.spans.span("compiler.compile"):
            self.builder.compile()
        self.live_nodes = self.builder.live_node_count
        self.events = eventize_events(spark.read.parquet(self.events_path))
        self.op(-1)  # fixed warm-up: one operation

    def op(self, i: int):
        from pyspark.sql import functions as F

        with self.spans.span("matcher.call"):
            matches = match_events(self.events, self.builder)
        df = matches.groupBy("sub_id").agg(
            F.count("*").alias("n_matches"),
            F.countDistinct("event_id").alias("n_events"),
        )
        return df, df.collect()

    def reference(self, session, want_sample: bool) -> bool:
        def build():
            import duckdb

            import __spark_entry__

            sql = __spark_entry__.oracle_sql()["match_agg_by_sub"]
            con = duckdb.connect()
            try:
                con.execute(
                    "CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{self.events_path}')"
                )
                return [list(r) for r in con.execute(sql).fetchall()]
            finally:
                con.close()

        rows = self._cached_json("reference.json", build)
        self.expected = {s: (n, e) for s, n, e in rows}
        if self.corrupt_reference:
            s = min(self.expected)
            self.expected[s] = (self.expected[s][0] + 1, self.expected[s][1])
        if want_sample:
            from pyspark.sql import functions as F

            # the matcher's own fixed-point projection of Float attributes
            self._save_sample(lambda: eventize_events(
                session().read.parquet(self.events_path)
            ).withColumn(
                "amount", (F.col("amount") * (10**DECIMAL_SCALE)).cast("long")
            ))
        return True  # the reference is the oracle itself

    def check(self, i: int, out) -> bool:
        _, rows = out
        return {r.sub_id: (r.n_matches, r.n_events) for r in rows} == self.expected

    def _sample_points(self) -> tuple[np.ndarray, np.ndarray]:
        # events carry no position; encode seeded points over the globe
        rng = np.random.default_rng(self.seed)
        return rng.uniform(-90, 90, 1_000_000), rng.uniform(-180, 180, 1_000_000)


class SubChurn(Workload):
    """One publish cycle on a live forest of diverse subscriptions: delete
    the oldest 1%, insert 1% fresh, compile, match a cached probe page
    set with the fused kernel, collect the matches."""

    name = "sub_churn"
    N_SUBS = 10_000
    CHURN = 100
    MAX_CYCLES = 150
    N_PROBE = 4_000
    rows_per_op = N_PROBE
    max_ops = MAX_CYCLES

    def make_inputs(self) -> dict:
        # the seed picks the subscription index range of the generator
        self.base = (self.seed % 16) * self.N_SUBS
        n = self.base + self.N_SUBS + self.CHURN * (self.MAX_CYCLES + 1)

        def build():
            subs = diverse_page_subscriptions(n)
            return [subs[i] for i in range(self.base, n)]

        self.subs = self._cached_json("subscriptions.json", build)
        self.probe_path = os.path.join(self.cache, "probe")
        marker = os.path.join(self.probe_path, "_DONE")
        if not os.path.exists(marker):
            base = (self.seed + 1) * 1_000_000_000 + 500_000_000
            _write_pages(self.probe_path, base + np.arange(self.N_PROBE), 4)
            open(marker, "w").close()
        return {"subscriptions": self.N_SUBS, "churn_per_op": self.CHURN,
                "probe_pages": self.N_PROBE, "index_base": self.base}

    def expression(self, sub_id: int) -> str:
        return self.subs[sub_id - self.base]

    def live_range(self, cycle: int) -> tuple[int, int]:
        """Live sub ids after ``cycle`` (cycle 0 is the warm-up)."""
        lo = self.base + (cycle + 1) * self.CHURN
        return lo, lo + self.N_SUBS

    def live_subscriptions(self) -> dict[int, str]:
        lo, hi = self.live_range(self.cycle)
        return {s: self.expression(s) for s in range(lo, hi)}

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        with self.spans.span("setup.register"):
            self.builder = ForestBuilder(PAGE_ATTRIBUTES)
            for s in range(self.base, self.base + self.N_SUBS):
                self.builder.insert(s, self.expression(s))
        self.live_nodes = self.builder.live_node_count
        self.probe = (
            spark.read.parquet(self.probe_path)
            .select("url", "html", "lang", F.col("page_id").alias("page_key"))
            .cache()
        )
        self.probe.count()
        self.acc = spark.sparkContext.accumulator(0)
        self.bcs = []
        self.broadcast_sizes = []
        self.fallback_rows = []
        self.cycle = -1
        self.op(-1)  # fixed warm-up: cycle 0
        self.after_op()
        self.broadcast_sizes = []
        self.fallback_rows = []

    def release(self) -> None:
        self.after_op()
        self.probe.unpersist()

    def after_op(self) -> None:
        # each cycle ships a new evaluator; free the old one everywhere
        while self.bcs:
            self.bcs.pop().destroy()

    def op(self, i: int):
        self.cycle = cycle = i + 1
        lo, hi = self.live_range(cycle - 1)
        with self.spans.span("compiler.churn"):
            for s in range(lo, lo + self.CHURN):
                self.builder.delete(s)
            for s in range(hi, hi + self.CHURN):
                self.builder.insert(s, self.expression(s))
        with self.spans.span("compiler.compile"):
            self.builder.compile()
        before = self.acc.value
        with self.spans.span("matcher.call"):
            df = fused_match_pages(
                self.probe, self.builder, emit="matches",
                fallback_counter=self.acc, broadcast_out=self.bcs,
            ).select("page_key", "sub_id")
        table = df.toArrow()
        self._record_pass(self.bcs, self.acc, before)
        return df, table

    def reference(self, session, want_sample: bool) -> bool:
        def eventized():
            return eventize_pages(session().read.parquet(self.probe_path))

        def build():
            ids = pq.read_table(self.probe_path, columns=["url", "page_id"])
            rng = np.random.default_rng(self.seed)
            pick = rng.choice(ids.num_rows, ORACLE_SAMPLE, replace=False)
            urls = [ids.column("url")[int(i)].as_py() for i in pick]
            page_ids = {u: ids.column("page_id")[int(i)].as_py() for u, i in zip(urls, pick)}
            events = _eventized_rows(eventized(), urls)
            return [[page_ids[u], events[u]] for u in urls if u in events]

        self.sample = self._cached_json("probe_sample.json", build)
        if want_sample:
            self._save_sample(eventized)
        return len(self.sample) == ORACLE_SAMPLE

    def check(self, i: int, out) -> bool:
        """Deleted subscriptions are gone; the inserted ones match the
        sampled probe pages exactly as expr.oracle says."""
        _, table = out
        cycle = i + 1
        lo, hi = self.live_range(cycle)
        subs = table.column("sub_id")
        if table.num_rows and (pc.min(subs).as_py() < lo or pc.max(subs).as_py() >= hi):
            return False
        inserted = range(hi - self.CHURN, hi)
        oracle = ForestBuilder(PAGE_ATTRIBUTES)
        for s in inserted:
            oracle.insert(s, self.expression(s))
        forest = oracle.compile()
        expected = {
            (page, s) for page, event in self.sample for s in _oracle(forest, event)
        }
        if self.corrupt_reference:
            expected.add((self.sample[0][0], hi - 1))
        pages = pa.array([p for p, _ in self.sample], type=pa.int64())
        keep = pc.and_(
            pc.is_in(table.column("page_key"), value_set=pages),
            pc.greater_equal(subs, hi - self.CHURN),
        )
        got = table.filter(keep)
        return set(zip(got.column("page_key").to_pylist(),
                       got.column("sub_id").to_pylist())) == expected


WORKLOADS = {w.name: w for w in (PagesUniform, EventsMatch, SubChurn)}
