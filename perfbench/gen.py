"""Seeded input generators, each paired with an independent expected result.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs, another seed gives different inputs with the same
shape properties (sizes, dirty/duplicate/orphan shares, key skew). The
expected results are computed here in plain Python from the generated rows,
never by the engine under test.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# etl_upsert: raw CSV batches for products, orders, order_items
# --------------------------------------------------------------------------

DEPARTMENTS = ("Books", "Clothing", "Electronics", "Home", "Sports", "Toys")
DAYS = tuple(f"2025-04-{d:02d}" for d in range(1, 31))

# column layout of the three reference tables (tables.py): name, kind, required
PRODUCT_COLS = (
    ("product_id", "int", True),
    ("department_id", "int", True),
    ("department", "str", True),
    ("product_name", "str", True),
)
ORDER_COLS = (
    ("order_num", "int", True),
    ("order_id", "int", True),
    ("user_id", "int", True),
    ("order_timestamp", "ts", True),
    ("total_amount", "float", True),
    ("date", "str", True),
)
ITEM_COLS = (
    ("id", "int", True),
    ("order_id", "int", True),
    ("user_id", "int", True),
    ("days_since_prior_order", "int", False),
    ("product_id", "int", True),
    ("add_to_cart_order", "int", True),
    ("reordered", "int", True),
    ("order_timestamp", "ts", True),
    ("date", "str", True),
)
TABLE_COLS = {
    "products": PRODUCT_COLS,
    "orders": ORDER_COLS,
    "order_items": ITEM_COLS,
}
PRIMARY_KEY = {"products": "product_id", "orders": "order_id", "order_items": "id"}

DIRTY_SHARE = 0.05
DUP_SHARE = 0.03
ORPHAN_SHARE = 0.02
UPDATE_SHARE = 0.20


def _fmt(v, kind: str) -> str:
    if v is None:
        return ""
    if kind == "float":
        return f"{v:.2f}"
    return str(v)


def canon(v) -> str:
    """Engine-independent text form of one cell, shared by the expectation
    and by the DuckDB read of the curated tables."""
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def table_fingerprint(rows) -> tuple[int, str]:
    """(row count, sha256 over the sorted canonical rows)."""
    lines = sorted("|".join(canon(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def _tiebreak(row: tuple, pk_i: int) -> tuple:
    # dedup_deterministic keeps the row with the smallest non-key columns
    # in schema order, nulls first
    return tuple(
        (0,) if v is None else (1, v) for i, v in enumerate(row) if i != pk_i
    )


@dataclass
class EtlBatch:
    csv: dict[str, str]  # table -> file text
    raw_rows: int
    raw_bytes: int
    accepted_bytes: int
    expected: dict[str, dict]  # table -> rows_in / rows_rejected / rows_written


@dataclass
class EtlGenerator:
    """Stateful batch source: each batch upserts into the model tables the
    generator keeps, so the expectation follows the warehouse batch by
    batch."""

    seed: int
    n_products: int
    rng: random.Random = field(init=False)
    model: dict[str, dict[int, tuple]] = field(init=False)
    _next: dict[str, int] = field(init=False)
    _orphan_id: int = field(init=False, default=1_900_000_000)

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        self.model = {t: {} for t in TABLE_COLS}
        self._next = {"products": 1, "orders": 10_000, "order_items": 1}

    def _new_key(self, table: str) -> int:
        k = self._next[table]
        self._next[table] += 1
        return k

    def _product(self, pid: int) -> tuple:
        r = self.rng
        dept = pid % len(DEPARTMENTS)
        word = r.choice(("Alpha", "Beta", "Gamma", "Delta", "Omega", "Sigma"))
        return (pid, dept + 1, DEPARTMENTS[dept], f"Product_{pid}_{word}{r.randint(0, 99)}")

    def _order(self, oid: int, day: str | None = None) -> tuple:
        r = self.rng
        day = day or r.choice(DAYS)
        ts = f"{day}T{r.randint(0, 23):02d}:{r.randint(0, 59):02d}:{r.randint(0, 59):02d}"
        return (r.randint(1, 99), oid, r.randint(1001, 9999), ts,
                round(r.uniform(20.0, 500.0), 2), day)

    def _item(self, iid: int, order: tuple, pid: int) -> tuple:
        r = self.rng
        dspo = None if r.random() < 0.04 else r.randint(0, 30)
        return (iid, order[1], order[2], dspo, pid, r.randint(1, 10),
                r.randint(0, 1), order[3], order[5])

    def _rows(self, table: str, n: int, make_new, make_update) -> list[tuple]:
        """n clean rows: UPDATE_SHARE updates of existing keys (kept in
        their partition), the rest new keys."""
        existing = list(self.model[table])
        n_upd = int(n * UPDATE_SHARE) if existing else 0
        upd_keys = self.rng.sample(existing, min(n_upd, len(existing)))
        rows = [make_update(self.model[table][k]) for k in upd_keys]
        rows += [make_new(self._new_key(table)) for _ in range(n - len(rows))]
        return rows

    def _dirty(self, table: str, row: tuple) -> list:
        """Corrupt one cell: bad int, bad timestamp or null key."""
        cols = TABLE_COLS[table]
        cells = [_fmt(v, kind) for v, (_, kind, _) in zip(row, cols)]
        kinds = ["null_key", "bad_int"]
        if any(kind == "ts" for _, kind, _ in cols):
            kinds.append("bad_ts")
        how = self.rng.choice(kinds)
        if how == "null_key":
            cells[[c for c, _, _ in cols].index(PRIMARY_KEY[table])] = ""
        elif how == "bad_ts":
            cells[[k for _, k, _ in cols].index("ts")] = "invalid_timestamp"
        else:
            ints = [i for i, (_, k, req) in enumerate(cols) if k == "int" and req]
            cells[self.rng.choice(ints)] = f"x{self.rng.randint(0, 999)}"
        return cells

    def _emit(self, table: str, clean: list[tuple]) -> tuple[list[list[str]], list[tuple | None]]:
        """Shuffle in duplicates and dirty rows. Returns the CSV cells and,
        per line, the typed row the engine should parse (None = rejected
        by validation)."""
        r = self.rng
        cols = TABLE_COLS[table]
        pk_i = [c for c, _, _ in cols].index(PRIMARY_KEY[table])
        lines: list[tuple[list[str], tuple | None]] = []
        for row in clean:
            lines.append(([_fmt(v, k) for v, (_, k, _) in zip(row, cols)], row))
        for row in r.sample(clean, int(len(clean) * DUP_SHARE)):
            # payload columns a conflicting duplicate may change (not keys,
            # foreign keys or partition columns)
            free = [i for i, (c, k, _) in enumerate(cols)
                    if k in ("int", "float") and i != pk_i
                    and c not in ("order_id", "product_id", "department_id")]
            if not free or r.random() < 0.5:  # exact copy
                dup = row
            else:  # conflicting payload: the smaller tiebreak must survive
                j = r.choice(free)
                v = row[j]
                dup = row[:j] + ((v + 1) if isinstance(v, int) else round(v + 1.0, 2) if v is not None else 1,) + row[j + 1:]
            lines.append(([_fmt(v, k) for v, (_, k, _) in zip(dup, cols)], dup))
        for row in r.sample(clean, int(len(clean) * DIRTY_SHARE)):
            lines.append((self._dirty(table, row), None))
        r.shuffle(lines)
        return [c for c, _ in lines], [t for _, t in lines]

    def _apply(self, table: str, typed: list[tuple | None], fk=None) -> dict:
        cols = TABLE_COLS[table]
        pk_i = [c for c, _, _ in cols].index(PRIMARY_KEY[table])
        valid = [t for t in typed if t is not None]
        best: dict[int, tuple] = {}
        for t in valid:
            cur = best.get(t[pk_i])
            if cur is None or _tiebreak(t, pk_i) < _tiebreak(cur, pk_i):
                best[t[pk_i]] = t
        orphans = 0
        if fk is not None:
            kept = {}
            for k, t in best.items():
                if fk(t):
                    kept[k] = t
                else:
                    orphans += 1
            best = kept
        self.model[table].update(best)
        return {
            "rows_in": len(typed),
            "rows_rejected": len(typed) - len(valid) + orphans,
            "rows_written": len(self.model[table]),
            "accepted": list(best.values()),
        }

    def batch(self) -> EtlBatch:
        r = self.rng
        n_p = self.n_products
        n_o = int(n_p * 7.5)
        n_i = int(n_p * 41)
        expected: dict[str, dict] = {}
        csv: dict[str, str] = {}
        typed_by: dict[str, list] = {}

        prods = self._rows(
            "products", n_p, self._product,
            lambda old: self._product(old[0]),
        )
        orders = self._rows(
            "orders", n_o, self._order,
            lambda old: self._order(old[1], old[5]),
        )
        # items reference this batch's and earlier orders/products; a share
        # points at keys that exist nowhere (FK orphans)
        order_pool = orders + r.sample(
            list(self.model["orders"].values()),
            min(len(self.model["orders"]), n_o),
        )
        prod_pool = [p[0] for p in prods] + list(self.model["products"])

        def new_item(iid: int) -> tuple:
            if r.random() < ORPHAN_SHARE:
                self._orphan_id += 1
                if r.random() < 0.5:
                    ghost = self._order(self._orphan_id)
                    return self._item(iid, ghost, r.choice(prod_pool))
                return self._item(iid, r.choice(order_pool), self._orphan_id)
            return self._item(iid, r.choice(order_pool), r.choice(prod_pool))

        def upd_item(old: tuple) -> tuple:
            dspo = None if r.random() < 0.04 else r.randint(0, 30)
            return old[:3] + (dspo,) + old[4:5] + (r.randint(1, 10), r.randint(0, 1)) + old[7:]

        items = self._rows("order_items", n_i, new_item, upd_item)

        raw_bytes = accepted_bytes = raw_rows = 0
        for table, clean in (("products", prods), ("orders", orders), ("order_items", items)):
            cells, typed = self._emit(table, clean)
            header = ",".join(c for c, _, _ in TABLE_COLS[table])
            text = header + "\n" + "".join(",".join(c) + "\n" for c in cells)
            csv[table] = text
            typed_by[table] = typed
            raw_bytes += len(text.encode())
            raw_rows += len(cells)

        # the job order of run_pipeline: products, orders, then order_items
        # probing the curated tables as they stand after this batch
        expected["products"] = self._apply("products", typed_by["products"])
        expected["orders"] = self._apply("orders", typed_by["orders"])
        expected["order_items"] = self._apply(
            "order_items", typed_by["order_items"],
            fk=lambda t: t[1] in self.model["orders"] and t[4] in self.model["products"],
        )
        for table in TABLE_COLS:
            acc = expected[table].pop("accepted")
            kinds = [k for _, k, _ in TABLE_COLS[table]]
            accepted_bytes += sum(
                len(",".join(_fmt(v, k) for v, k in zip(t, kinds))) + 1 for t in acc
            )
        return EtlBatch(csv, raw_rows, raw_bytes, accepted_bytes, expected)

    def expected_tables(self) -> dict[str, tuple[int, str, int]]:
        """table -> (row count, content hash, hash of the survivor keys)."""
        out = {}
        for table, rows in self.model.items():
            n, h = table_fingerprint(_typed_for_compare(table, rows.values()))
            keys = hashlib.sha256(
                ",".join(map(str, sorted(rows))).encode()
            ).hexdigest()
            out[table] = (n, h, keys)
        return out


def _typed_for_compare(table: str, rows) -> list[tuple]:
    kinds = [k for _, k, _ in TABLE_COLS[table]]
    return [
        tuple(
            dt.datetime.fromisoformat(v) if k == "ts" and v is not None else v
            for v, k in zip(row, kinds)
        )
        for row in rows
    ]


# --------------------------------------------------------------------------
# query_mix: a TPC-H-shaped star schema at a given scale factor
# --------------------------------------------------------------------------

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
_EPOCH_1995 = dt.datetime(1995, 1, 1)
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - _EPOCH_1995).days


def _ts_col(days: np.ndarray) -> pa.Array:
    us = (days.astype("int64") * 86_400 + int(_EPOCH_1995.replace(tzinfo=dt.timezone.utc).timestamp())) * 1_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``{table}.parquet`` for the seven star tables; returns row
    counts. Value domains follow the literals the headline catalog queries
    filter on (segments, ASIA, NATION_3, PROMO, 1995-2001 dates)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype="int32")),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype="int32")),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    colors = np.array(["blue", "hot", "large", "red", "green", "small"])
    nouns = np.array(["ring", "bolt", "gear", "nut", "pipe", "cable"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": np.char.add(np.char.add(colors[rng.integers(0, 6, n_part)], " "),
                              nouns[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype="int32")),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    o_days = rng.integers(0, _ORDER_DAYS + 1, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype="int64")),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_col(o_days),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    per_order = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype="int64"), per_order)
    n_li = len(l_ok)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype="int64")),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype("int32")),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 100000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_col(np.repeat(o_days, per_order) + rng.integers(1, 122, n_li)),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------------------
# stream_maintain: a skewed change feed with its plain-Python state
# --------------------------------------------------------------------------

CHANGE_HEADER = "k,op,old_val,new_val"


@dataclass
class ChangeFeed:
    files: list[str]  # CSV text per micro-batch, in order
    n_changes: int
    minmax: dict[str, tuple[int, int]]  # k -> (min_scaled, max_scaled)
    topk: dict[str, list[int]]  # k -> top values, descending


def _scaled(v: float, scale: int = 100) -> int:
    return int(np.floor(v * scale + 0.5))


def change_feed(seed: int, n_files: int, per_file: int, n_keys: int, topk: int) -> ChangeFeed:
    """Inserts, updates and deletes over ``n_keys`` Zipf-skewed keys. The
    first file is insert-only (the seed batch that builds state); later
    files mix all three ops, touching only values that exist."""
    rng = random.Random(seed)
    live: dict[str, list[float]] = {}
    files = []
    n = 0
    weights = [1.0 / (i + 1) for i in range(n_keys)]
    keys = [f"k{i:04d}" for i in range(n_keys)]
    for b in range(n_files):
        rows = []
        for k in rng.choices(keys, weights, k=per_file):
            vals = live.setdefault(k, [])
            op = "I" if b == 0 or not vals else rng.choices("IUD", (5, 3, 2))[0]
            if op == "I":
                v = round(rng.uniform(0.0, 1000.0), 2)
                vals.append(v)
                rows.append(f"{k},I,,{v!r}")
            else:
                old = vals.pop(rng.randrange(len(vals)))
                if op == "U":
                    v = round(rng.uniform(0.0, 1000.0), 2)
                    vals.append(v)
                    rows.append(f"{k},U,{old!r},{v!r}")
                else:
                    rows.append(f"{k},D,{old!r},")
        n += len(rows)
        files.append(CHANGE_HEADER + "\n" + "\n".join(rows) + "\n")
    minmax = {}
    top = {}
    for k, vals in live.items():
        if vals:
            sv = sorted((_scaled(v) for v in vals), reverse=True)
            minmax[k] = (sv[-1], sv[0])
            top[k] = sv[:topk]
    return ChangeFeed(files, n, minmax, top)


# --------------------------------------------------------------------------
# curate_corpus: documents with seeded exact and near duplicates
# --------------------------------------------------------------------------

_VOCAB = (
    "spark table query join scan filter group order key value hash sort "
    "stream batch window data column vector part line customer fast slow "
    "small big agg index merge commit snapshot file page cache lake house "
    "schema partition shuffle task stage driver worker memory disk network "
    "plan cost rule tree node edge graph token text word model train eval"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")


@dataclass
class Corpus:
    docs: pa.Table  # doc_id, text, lang, source, n_chars
    eval_docs: pa.Table
    exact_dups: set[int]  # ids of seeded exact copies
    near_dups: set[int]  # ids of seeded near-duplicates


def corpus(seed: int, n_base: int, replicas: int, dup_share: float = 0.05,
           near_share: float = 0.05, eval_share: float = 0.02) -> Corpus:
    """``n_base`` documents drawn from a small vocabulary, replicated with a
    per-replica word suffix (token sets stay disjoint across replicas, as
    scripts/make_scaled_sf.py does), plus seeded exact copies, near
    duplicates (one or two words edited) and an eval split drawn from the
    base documents."""
    rng = random.Random(seed)
    weights = [1.0 / (i + 1) ** 0.5 for i in range(len(_VOCAB))]
    base = [rng.choices(_VOCAB, weights, k=rng.randint(12, 90)) for _ in range(n_base)]
    texts: list[list[str]] = []
    for r in range(replicas):
        suffix = "" if r == 0 else f"~r{r}"
        texts += [[w + suffix for w in words] for words in base]
    exact, near = set(), set()
    originals = list(range(len(texts)))
    for i in rng.sample(originals, int(len(originals) * dup_share)):
        exact.add(len(texts))
        texts.append(list(texts[i]))
    for i in rng.sample(originals, int(len(originals) * near_share)):
        words = list(texts[i])
        for _ in range(rng.randint(1, 2)):
            words[rng.randrange(len(words))] = rng.choice(_VOCAB)
        near.add(len(texts))
        texts.append(words)
    joined = [" ".join(w) for w in texts]
    docs = pa.table({
        "doc_id": pa.array(range(len(joined)), pa.int64()),
        "text": joined,
        "lang": [rng.choice(_LANGS) for _ in joined],
        "source": [f"src{rng.randrange(20)}" for _ in joined],
        "n_chars": pa.array([len(t) for t in joined], pa.int64()),
    })
    ev = sorted(rng.sample(range(n_base), max(1, int(n_base * eval_share))))
    eval_docs = docs.take(ev)
    return Corpus(docs, eval_docs, exact, near)
