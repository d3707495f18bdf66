"""The benchmark's workloads. Each drives the package only through its
public functions, as one closed-loop client, and checks every result
against the independent expectation its generator produced.

A workload object is built on a live session and a private work
directory. ``setup`` generates inputs, warms the JIT and makes the set-up
commits; ``step`` runs one timed unit of work; ``finish`` runs the final
correctness checks. Operations that raise or return a wrong result are
counted as failed, never retried.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import importlib
import os
import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.trace import PKG

_O = importlib.import_module(f"{PKG}.etl.orchestrator")
_C = importlib.import_module(f"{PKG}.plans.catalog")
_S = importlib.import_module(f"{PKG}.sources.snapshots")
_AGG = importlib.import_module(f"{PKG}.streaming.aggmaint")
_T = importlib.import_module(f"{PKG}.tables")
_DP = importlib.import_module(f"{PKG}.etl.datapipe")


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _new_bytes(before: dict, after: dict) -> int:
    return sum(sz for p, (sz, m) in after.items() if before.get(p) != (sz, m))


def _bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


@dataclass
class Outcome:
    """What a workload reports to the harness."""

    attempted: int = 0
    failed: int = 0
    latencies: list[float] = field(default_factory=list)  # primary op, s
    op_s_p50: float | None = None  # set when the plain median would mislead
    items: int = 0  # rows / operations / changes processed
    items_s: float = 0.0  # time those items took
    written: int = 0  # bytes the system wrote
    input_bytes: int = 0  # bytes of input the writes came from
    live: int = 0  # bytes the tables hold at the end
    absorbed: int = 0  # bytes of input those tables absorbed
    details: dict = field(default_factory=dict)
    extras: dict = field(default_factory=dict)  # per-layer values only a workload knows
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str, exc: BaseException | None = None, n: int = 1) -> None:
        """Count ``n`` failed operations and keep the reason."""
        self.failed += n
        msg = what if exc is None else f"{what}: {exc!r}"
        if exc is not None:
            msg += "\n" + "".join(traceback.format_exception(exc)[-3:])
        self.errors.append(msg)

    def absorb(self, other: "Outcome", tag: str) -> None:
        """Fold in the operations of a workload run as part of this one:
        its counts, errors and per-layer values, and its details under
        ``tag``. The item, byte and latency figures stay this workload's."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.errors += [f"{tag}: {e}" for e in other.errors]
        self.extras.update(other.extras)
        self.details[tag] = {**other.details, "op_s": [round(x, 3) for x in other.latencies]}


class Workload:
    name = ""
    min_steps = 1
    # seconds one step takes on the reference host; ``--seconds`` maps to
    # a fixed step count through it, so both sides of a comparison time
    # the same work however fast the code under test is
    step_s = 10.0

    def __init__(self, spark, work: str, seed: int, size: dict, tracer=None):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.tracer = tracer
        self.out = Outcome()
        self.rng = random.Random(seed)

    def mark(self, phase: str) -> None:
        """Record the time a set-up phase ended (seconds since the last mark)."""
        now = time.perf_counter()
        phases = self.out.details.setdefault("setup_phases", {})
        phases[phase] = round(now - getattr(self, "_mark", now), 3)
        self._mark = now

    def span(self, name: str):
        """A benchmark-side span (no-op when untraced)."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def setup(self) -> None:  # pragma: no cover - abstract
        raise NotImplementedError

    def step(self) -> None:  # pragma: no cover - abstract
        raise NotImplementedError

    def finish(self) -> None:
        pass


# --------------------------------------------------------------------------


class EtlUpsert(Workload):
    """Seeded raw CSV batches through ``etl.orchestrator.run_pipeline`` into
    one growing warehouse. Set-up lands the table-creating batch; every
    timed batch is an upsert. Each step also runs one
    ``etl.datapipe.run_curation_job`` over a small seeded corpus (the
    package's other batch ETL job), so the curation layers are measured."""

    name = "etl_upsert"
    step_s = 14.0

    def setup(self) -> None:
        self.mark("start")
        self.gen = gen.EtlGenerator(self.seed, self.size["products"])
        self.wh = os.path.join(self.work, "warehouse")
        self.rej = os.path.join(self.work, "quarantine")
        self.n = 0
        self.absorbed = 0
        self._run_batch(timed=False)  # creates the tables
        self.mark("first_batch")
        self.curate = CurateCorpus(self.spark, self.work, self.seed, self.size["curate"],
                                   self.tracer)
        self.curate.setup()
        self.mark("curate_setup")

    def _cfg(self, raw: str):
        return _O.PipelineConfig(
            raw_path=raw,
            warehouse_path=self.wh,
            rejected_path=self.rej,
            archive_path=os.path.join(self.work, "archive"),
            retry=_O.RetryPolicy(attempts=1),
            notifier=lambda status, message: None,
        )

    def _run_batch(self, timed: bool) -> None:
        b = self.gen.batch()
        self.n += 1
        raw = os.path.join(self.work, f"raw{self.n}")  # a fresh raw zone
        for table, text in b.csv.items():
            os.makedirs(os.path.join(raw, table))
            with open(os.path.join(raw, table, f"batch{self.n}.csv"), "w") as f:
                f.write(text)
        self.absorbed += b.accepted_bytes
        before = _files(self.wh) | _files(self.rej)
        t0 = time.perf_counter()
        results = _O.run_pipeline(self.spark, self._cfg(raw), f"b{self.n}")
        took = time.perf_counter() - t0
        o = self.out
        if not timed:
            bad = self._check(b, results)
            if bad:
                o.attempted += 1
                o.fail(f"set-up batch: {bad}")
            return
        o.attempted += 1
        if not o.latencies:
            # write amplification from the first timed batch only: later
            # batches rewrite a bigger warehouse, and how many fit in a run
            # depends on speed
            o.written = _new_bytes(before, _files(self.wh) | _files(self.rej))
            o.input_bytes = b.raw_bytes
        o.latencies.append(took)
        o.items += b.raw_rows
        o.items_s += took
        bad = self._check(b, results)
        if bad:
            o.fail(f"batch {self.n}: {bad}")

    @staticmethod
    def _check(b: gen.EtlBatch, results) -> str:
        for table, want in b.expected.items():
            r = results[table]
            got = {"rows_in": r.rows_in, "rows_rejected": r.rows_rejected,
                   "rows_written": r.rows_written}
            if got != want:
                return f"{table}: got {got}, expected {want}"
        return ""

    def step(self) -> None:
        try:
            self._run_batch(timed=True)
        except Exception as e:  # noqa: BLE001 - a failed batch is counted
            self.out.attempted += 1
            self.out.fail(f"batch {self.n}", e)
        if not self.out.live:  # space amplification after the first step
            self.out.live = sum(sz for sz, _ in _files(self.wh).values())
            self.out.absorbed = self.absorbed
        self.curate.step()

    def finish(self) -> None:
        """Read the curated parquet with DuckDB and compare every table with
        the generator's survivors, content and counts."""
        self.curate.finish()
        self.out.absorb(self.curate.out, "curate")
        o = self.out
        o.attempted += 1
        want = self.gen.expected_tables()
        con = duckdb.connect()
        try:
            for table, cols in gen.TABLE_COLS.items():
                names = ", ".join(c for c, _, _ in cols)
                rows = con.execute(
                    f"SELECT {names} FROM read_parquet('{self.wh}/{table}/**/*.parquet', "
                    "hive_partitioning = true, hive_types_autocast = false)"
                ).fetchall()
                rows = [_duck_row(table, r) for r in rows]
                n, h = gen.table_fingerprint(rows)
                pk = [c for c, _, _ in cols].index(gen.PRIMARY_KEY[table])
                keys = hashlib.sha256(
                    ",".join(map(str, sorted(r[pk] for r in rows))).encode()
                ).hexdigest()
                if (n, h, keys) != want[table]:
                    o.fail(f"final {table}: {n} rows, content/key hash mismatch "
                           f"(expected {want[table][0]} rows)")
                    break
        finally:
            con.close()


def _duck_row(table: str, row: tuple) -> tuple:
    # hive partition values arrive as text; retype them as the schema says
    kinds = [k for _, k, _ in gen.TABLE_COLS[table]]
    return tuple(
        int(v) if k == "int" and isinstance(v, str) else v
        for v, k in zip(row, kinds)
    )


# --------------------------------------------------------------------------

HEADLINE = (
    "pricing_summary", "shipping_priority", "local_supplier_volume",
    "nation_market_share", "promo_revenue_monthly", "customer_order_stats",
    "fk_semi_join", "latest_order_per_customer", "scan_filter_project",
    "validation_reasons",
)


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def result_hash(rows: list[tuple], cols: list[str]) -> str:
    """Order-insensitive value hash of a query result (columns by name)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _catalyst_s(df) -> float:
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for p in ("analysis", "optimization", "planning"):
        if phases.contains(p):
            total += phases.apply(p).durationMs()
    return total / 1000.0


class QueryMix(Workload):
    """Reads dominate, writes run beside them: headline catalog queries,
    selective snapshot lookups, a small MERGE upsert and an OPTIMIZE
    (``compact``) of the upserted table, in seeded blocks of 16."""

    name = "query_mix"
    min_steps = 16  # one whole block: every query once, an upsert, a compaction
    step_s = 0.6

    def setup(self) -> None:
        self.mark("start")
        sf = self.size["sf"]
        self.sf_dir = os.path.join(self.work, "star")
        gen.write_star_schema(self.sf_dir, self.seed, sf)
        self.mark("generate")
        self.builders = _C.queries()
        oracle = _C.oracle_sql()
        con = duckdb.connect()
        for t in gen.STAR_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        # each query checked once against its DuckDB oracle; later runs are
        # checked by result fingerprint (this pass also warms the JIT)
        self.fingerprints: dict[str, str] = {}
        for q in HEADLINE:
            df = self.builders[q](self.spark, self.sf_dir)
            s_hash = result_hash([tuple(r) for r in df.collect()], df.columns)
            res = con.execute(oracle[q])
            d_hash = result_hash(res.fetchall(), [d[0] for d in res.description])
            if s_hash != d_hash:
                self.out.attempted += 1
                self.out.fail(f"{q}: Spark result differs from the DuckDB oracle")
            self.fingerprints[q] = s_hash
        con.close()
        self.mark("oracle_check")

        # snapshot copies with stats + clustering for the selective lookups
        load = lambda t: self.spark.read.parquet(f"{self.sf_dir}/{t}.parquet")  # noqa: E731
        self.orders_path = os.path.join(self.work, "snap_orders")
        self.items_path = os.path.join(self.work, "snap_lineitem")
        n_files = self.size["snapshot_files"]
        _S.commit(self.spark, load("orders"), self.orders_path,
                  stats_for=["o_orderkey", "o_orderdate"], cluster_by=["o_orderkey"],
                  n_files=n_files)
        _S.commit(self.spark, load("lineitem"), self.items_path,
                  stats_for=["l_orderkey", "l_shipdate"], cluster_by=["l_orderkey"],
                  n_files=n_files)
        self.setup_bytes = _bytes(_S.data_files(self.orders_path))
        self.mark("snapshot_commits")
        orders_schema = load("orders").schema
        self.spec = _T.TableSpec(name="snap_orders", schema=orders_schema,
                                 primary_key="o_orderkey")
        # the lookup model: the generated tables (key-ordered) plus the rows
        # upserted since
        self.orders_tbl = pq.read_table(f"{self.sf_dir}/orders.parquet")
        self.items_tbl = pq.read_table(f"{self.sf_dir}/lineitem.parquet")
        self.order_cols = self.orders_tbl.column_names
        self.item_cols = self.items_tbl.column_names
        self.item_keys = self.items_tbl.column("l_orderkey").to_numpy()
        self.n_orders = self.orders_tbl.num_rows  # keys are 0..n-1
        self.upserted: dict[int, tuple] = {}
        self.next_key = self.n_orders
        self.orders_schema = orders_schema
        self.mark("model")
        # warm the lookup path once, untimed
        bad = self._lookup(check_only=True)
        if bad:
            self.out.attempted += 1
            self.out.fail(f"set-up lookup: {bad}")
        self.block: list[str] = []
        self.mark("warm_lookup")
        self.lat = {"query": [], "lookup": [], "upsert": [], "compact": []}
        self.catalyst: list[float] = []
        self.upsert_src_bytes = 0
        self.table_written = 0
        self.t_loop = None

    def step(self) -> None:
        if self.t_loop is None:
            self.t_loop = time.perf_counter()
        if not self.block:
            # ops come in seeded shuffles of sixteen: every headline query
            # once, four lookups, one upsert, one compaction
            self.block = list(HEADLINE) + ["lookup"] * 4 + ["upsert", "compact"]
            self.rng.shuffle(self.block)
        kind = self.block.pop()
        query = kind if kind in HEADLINE else None
        kind = "query" if query else kind
        o = self.out
        o.attempted += 1
        try:
            if kind == "query":
                bad = self._query(query)
            elif kind == "lookup":
                bad = self._lookup()
            elif kind == "upsert":
                bad = self._upsert()
            else:
                bad = self._compact()
        except Exception as e:  # noqa: BLE001
            o.fail(kind, e)
            return
        if bad:
            o.fail(f"{kind}: {bad}")

    def _query(self, q: str) -> str:
        with self.span("plans.catalog"):
            t0 = time.perf_counter()
            with self.span("plans.catalog.build"):
                df = self.builders[q](self.spark, self.sf_dir)
            with self.span("plans.catalog.collect"):
                rows = df.collect()
            took = time.perf_counter() - t0
        self.lat["query"].append(took)
        self.out.latencies.append(took)
        if self.tracer is not None:
            self.catalyst.append(_catalyst_s(df))
        if result_hash([tuple(r) for r in rows], df.columns) != self.fingerprints[q]:
            return f"{q}: result fingerprint changed"
        return ""

    def _lookup(self, check_only: bool = False) -> str:
        r = self.rng
        if r.random() < 0.5:
            lo = r.randrange(0, self.next_key)
            if self.upserted and r.random() < 0.5:  # make upserted rows show
                lo = max(0, r.choice(sorted(self.upserted)) - r.randint(0, 50))
            hi = lo + r.randint(20, 400)
            d = dt.datetime(1995, 1, 1) + dt.timedelta(days=r.randint(0, 1500))
            preds = [("o_orderkey", ">=", lo), ("o_orderkey", "<", hi), ("o_orderdate", ">=", d)]
            path, cols = self.orders_path, self.order_cols
            rows = {x[0]: x for x in _rows(self.orders_tbl.slice(lo, max(0, hi - lo)))}
            rows.update((k, x) for k, x in self.upserted.items() if lo <= k < hi)
            want = [x for x in rows.values() if x[4] >= d]
        else:
            lo = r.randrange(0, self.next_key)
            hi = lo + r.randint(10, 200)
            d = dt.datetime(1995, 1, 1) + dt.timedelta(days=r.randint(0, 1500))
            preds = [("l_orderkey", ">=", lo), ("l_orderkey", "<", hi), ("l_shipdate", "<", d)]
            path, cols = self.items_path, self.item_cols
            a, b = np.searchsorted(self.item_keys, [lo, hi])
            want = [x for x in _rows(self.items_tbl.slice(a, b - a)) if x[10] < d]
        t0 = time.perf_counter()
        got = _S.read_where(self.spark, path, preds).select(*cols).collect()
        took = time.perf_counter() - t0
        if not check_only:
            self.lat["lookup"].append(took)
        if result_hash([tuple(x) for x in got], cols) != result_hash(want, cols):
            return f"lookup {preds}: {len(got)} rows, expected {len(want)}"
        return ""

    def _upsert(self) -> str:
        r = self.rng
        n_upd = self.size["upsert_rows"] * 3 // 4
        rows = []
        for k in r.sample(range(self.n_orders), n_upd):
            old = self.upserted.get(k) or _rows(self.orders_tbl.slice(k, 1))[0]
            rows.append((k, old[1], r.choice("FOP"), round(r.uniform(1000, 500000), 2), old[4], old[5]))
        for _ in range(self.size["upsert_rows"] - n_upd):
            k = self.next_key
            self.next_key += 1
            day = dt.datetime(1995, 1, 1) + dt.timedelta(days=r.randint(0, 2400))
            rows.append((k, r.randrange(0, 1000), "O", round(r.uniform(1000, 500000), 2), day, "3-MEDIUM"))
        df = self.spark.createDataFrame(rows, self.orders_schema)
        self.upsert_src_bytes += sum(len(",".join(map(str, x))) + 1 for x in rows)
        before = _files(self.orders_path)
        v_before = _S.load_snapshot(self.orders_path).version
        t0 = time.perf_counter()
        v = _S.merge_commit(self.spark, df, self.orders_path, self.spec)
        took = time.perf_counter() - t0
        self.lat["upsert"].append(took)
        self.table_written += _new_bytes(before, _files(self.orders_path))
        for x in rows:
            self.upserted[x[0]] = x
        if v != v_before + 1:
            return f"merge_commit published version {v} after {v_before}"
        return ""

    def _compact(self) -> str:
        before = _files(self.orders_path)
        v_before = _S.load_snapshot(self.orders_path).version
        t0 = time.perf_counter()
        v = _S.compact(self.spark, self.orders_path, cluster_by=["o_orderkey"],
                       n_files=self.size["snapshot_files"])
        self.lat["compact"].append(time.perf_counter() - t0)
        self.table_written += _new_bytes(before, _files(self.orders_path))
        if v != v_before + 1:
            return f"compact published version {v} after {v_before}"
        n = _S.read(self.spark, self.orders_path).count()
        if n != self.next_key:  # keys are 0..next_key-1
            return f"compact left {n} rows, expected {self.next_key}"
        return ""

    def finish(self) -> None:
        o = self.out
        wall = time.perf_counter() - self.t_loop
        o.items = sum(len(v) for v in self.lat.values())
        o.items_s = wall
        o.written = self.table_written
        o.input_bytes = max(1, self.upsert_src_bytes)
        o.live = _bytes(_S.data_files(self.orders_path))
        o.absorbed = self.setup_bytes
        tail = tail_percentile(self.lat["query"])
        o.details.update({
            "query_s_p50": _p50(self.lat["query"]),
            "query_s_tail": tail,
            "lookup_s_p50": _p50(self.lat["lookup"]),
            "upsert_s_p50": _p50(self.lat["upsert"]),
            "counts": {k: len(v) for k, v in self.lat.items()},
        })
        o.extras = {
            "query_mix.query_s_tail": tail["value"],
            "query_mix.lookup_s_p50": o.details["lookup_s_p50"],
            "query_mix.upsert_s_p50": o.details["upsert_s_p50"],
            "plans.catalog.catalyst_s": statistics.mean(self.catalyst) if self.catalyst else 0.0,
            "sources.snapshots.versions": len(_S.history(self.orders_path)),
        }


def _rows(t) -> list[tuple]:
    return list(zip(*(c.to_pylist() for c in t.columns)))


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs: list[float]) -> dict:
    """The highest whole percentile with at least ten samples beyond it
    (nearest-rank); the median when there are too few samples."""
    n = len(xs)
    if n == 0:
        return {"value": 0.0, "pct": 50, "n": 0}
    s = sorted(xs)
    best = None
    for pct in range(50, 100):
        idx = max(0, -(-pct * n // 100) - 1)
        if n - 1 - idx >= 10:
            best = (pct, s[idx])
    if best is None:
        return {"value": statistics.median(s), "pct": 50, "n": n}
    return {"value": best[1], "pct": best[0], "n": n}


# --------------------------------------------------------------------------


class StreamMaintain(Workload):
    """The exactly-once MIN/MAX and TOP-K twins draining a seeded change
    feed, one paced availableNow query (one file per micro-batch) per twin,
    each twin in fresh directories, compacting its tables every
    ``COMPACT_EVERY`` micro-batches. Beside the twins, each step serves one
    ``query_mix`` block over a small star schema (the headline catalog
    queries, ``read_where`` lookups, a ``merge_commit`` upsert and a
    ``compact``), so the catalog and snapshot read, upsert and compaction
    layers are measured too."""

    name = "stream_maintain"
    step_s = 20.0
    TOPK = 3
    COMPACT_EVERY = 3

    def setup(self) -> None:
        self.round = 0
        self.progress: list[dict] = []
        self.last_state: list[str] = []
        self.mark("start")
        # the serving block's set-up (its oracle pass, snapshot commits and
        # a lookup) is also the JIT warm-up of the twins' scans, joins and
        # snapshot commits
        self.serve = QueryMix(self.spark, self.work, self.seed, self.size["serve"], self.tracer)
        self.serve.setup()
        self.mark("serve_setup")

    def _start(self, twin: str, raw: str, d: str):
        reader = (
            self.spark.readStream.schema(_AGG.CHANGE_STREAM_SCHEMA)
            .option("header", True)
            .option("maxFilesPerTrigger", "1")
            .csv(raw)
        )
        fact, state, ck = (os.path.join(d, x) for x in ("fact", "state", "ckpt"))
        if twin == "minmax":
            q = _AGG.stream_minmax_maintenance(self.spark, reader, fact, state, ck,
                                               compact_every=self.COMPACT_EVERY)
        else:
            q = _AGG.stream_topk_maintenance(self.spark, reader, fact, state, ck,
                                             k=self.TOPK, buffer=2,
                                             compact_every=self.COMPACT_EVERY)
        return q, state

    def _write_feed(self, raw: str, feed: gen.ChangeFeed) -> int:
        # mtimes staggered so the file source replays them in order
        os.makedirs(raw)
        now = time.time()
        total = 0
        for i, text in enumerate(feed.files):
            p = os.path.join(raw, f"c{i:04d}.csv")
            with open(p, "w") as f:
                f.write(text)
            os.utime(p, (now, now - 2.0 * (len(feed.files) - i)))
            total += len(text.encode())
        return total

    def _drain(self, twin: str, feed: gen.ChangeFeed, tag: str) -> None:
        d = os.path.join(self.work, f"{twin}-{tag}")
        raw = os.path.join(d, "raw")
        feed_bytes = self._write_feed(raw, feed)
        t0 = time.perf_counter()
        q, state = self._start(twin, raw, d)
        try:
            q.awaitTermination(150)
        finally:
            if q.isActive:
                q.stop()
        took = time.perf_counter() - t0
        prog = q.recentProgress
        if q.exception() is not None:
            raise RuntimeError(f"{twin} stream failed: {q.exception()}")
        if len(prog) != len(feed.files):
            raise RuntimeError(f"{twin}: {len(prog)} micro-batches for {len(feed.files)} files")
        bad = self._check(twin, state, feed)
        o = self.out
        o.attempted += len(prog)
        if bad:  # every micro-batch of the drain fed the wrong state
            o.fail(f"{twin} round {tag}: {bad}", n=len(prog))
        for p in prog:
            if p["batchId"] > 0:  # the seed batch builds state; not a steady-state batch
                o.latencies.append(p["durationMs"]["triggerExecution"] / 1000.0)
            self.progress.append({"twin": twin, "batch": p["batchId"],
                                  "trigger_s": p["durationMs"]["triggerExecution"] / 1000.0,
                                  "add_batch_s": p["durationMs"].get("addBatch", 0) / 1000.0})
        o.items += feed.n_changes
        o.items_s += took
        written = sum(sz for sz, _ in _files(os.path.join(d, "fact")).values())
        written += sum(sz for sz, _ in _files(state).values())
        o.written += written
        o.input_bytes += feed_bytes
        live = [state, os.path.join(d, "fact")]
        o.live += sum(_bytes(_S.data_files(p)) for p in live)
        o.absorbed += feed_bytes
        self.last_state.append(state)

    def _check(self, twin: str, state: str, feed: gen.ChangeFeed) -> str:
        if twin == "minmax":
            got = {r["k"]: (r["min_scaled"], r["max_scaled"])
                   for r in _AGG.read_maintained_minmax(self.spark, state).collect()}
            want = feed.minmax
        else:
            got: dict[str, list[int]] = {}
            for r in _AGG.read_maintained_topk(self.spark, state, self.TOPK).collect():
                got.setdefault(r["k"], []).append((r["pos"], r["val_scaled"]))
            got = {k: [v for _, v in sorted(xs)] for k, xs in got.items()}
            want = feed.topk
        diff = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
        if diff:
            return f"state differs from the plain-Python recompute on {len(diff)} keys"
        return ""

    def step(self) -> None:
        self.round += 1
        feed = gen.change_feed(self.seed * 1000 + self.round, self.size["files"],
                               self.size["changes"], self.size["keys"], self.TOPK)
        for twin in ("minmax", "topk"):
            try:
                self._drain(twin, feed, f"r{self.round}")
            except Exception as e:  # noqa: BLE001
                self.out.attempted += len(feed.files)
                self.out.fail(f"{twin} round {self.round}", e, n=len(feed.files))
        for _ in range(QueryMix.min_steps):
            self.serve.step()

    def finish(self) -> None:
        self.serve.finish()
        o = self.out
        o.absorb(self.serve.out, "serve")
        steady = [p for p in self.progress if p["batch"] > 0]
        # the TOP-K twin's batches run slower than MIN/MAX's, so a median
        # over both would sit in the gap between them: average the twins'
        # own medians instead
        medians = [
            statistics.median(xs) for twin in ("minmax", "topk")
            if (xs := [p["trigger_s"] for p in steady if p["twin"] == twin])
        ]
        o.op_s_p50 = statistics.mean(medians) if medians else None
        o.extras |= {
            "streaming.aggmaint.batch.trigger_s": _p50([p["trigger_s"] for p in steady]),
            "streaming.aggmaint.batch.add_batch_s": _p50([p["add_batch_s"] for p in steady]),
        }
        if self.last_state:
            st = self.last_state[-1]
            files = _S.data_files(st)
            o.extras.update({
                "streaming.aggmaint.state_files": len(files),
                "streaming.aggmaint.state_bytes": _bytes(files),
                "streaming.aggmaint.state_versions": len(_S.history(st)),
            })


class CurateCorpus(Workload):
    """One ``etl.datapipe.run_curation_job`` per step over a seeded corpus
    with exact and near duplicates and an eval split, each job into a
    fresh output path."""

    name = "curate_corpus"
    step_s = 4.0

    def setup(self) -> None:
        self.mark("start")
        c = gen.corpus(self.seed, self.size["base_docs"], self.size["replicas"])
        self.n_near_seeded = len(c.near_dups)
        path = os.path.join(self.work, "corpus")
        os.makedirs(path)
        pq.write_table(c.docs, os.path.join(path, "docs.parquet"))
        pq.write_table(c.eval_docs, os.path.join(path, "eval.parquet"))
        self.docs = self.spark.read.parquet(os.path.join(path, "docs.parquet"))
        self.eval_docs = self.spark.read.parquet(os.path.join(path, "eval.parquet"))
        self.n_docs = c.docs.num_rows
        self.input_bytes = sum(len(t.encode()) for t in c.docs.column("text").to_pylist())
        self.mark("generate")
        self.jobs = 0
        self.first = self._job()  # warm-up; later jobs must match its counts
        self.mark("warm_job")

    def _job(self):
        self.jobs += 1
        out = os.path.join(self.work, f"curated{self.jobs}")
        t0 = time.perf_counter()
        res = _DP.run_curation_job(self.spark, self.docs, out, eval_docs=self.eval_docs)
        took = time.perf_counter() - t0
        return res, took, out

    def step(self) -> None:
        o = self.out
        o.attempted += 1
        try:
            res, took, out = self._job()
        except Exception as e:  # noqa: BLE001
            o.fail(f"job {self.jobs}", e)
            return
        o.latencies.append(took)
        o.items += self.n_docs
        o.items_s += took
        o.written = sum(sz for sz, _ in _files(out).values())
        o.input_bytes = o.absorbed = self.input_bytes
        o.live = _bytes(_S.data_files(out))
        if res != self.first[0]:
            o.fail(f"job {self.jobs}: counts {res} differ from the first job's {self.first[0]}")
        shutil.rmtree(self.first[2], ignore_errors=True)
        self.first = (self.first[0], None, out)

    def finish(self) -> None:
        self.out.extras |= {
            "operators.textdedup.seeded_dup_recall":
                self.first[0].n_near_dups / max(1, self.n_near_seeded),
        }


WORKLOADS = {w.name: w for w in (EtlUpsert, QueryMix, StreamMaintain, CurateCorpus)}
