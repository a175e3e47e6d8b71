"""Seeded inputs and the expected-state model for the sink benchmark.

Everything here is plain Python (numpy/pyarrow for the fixture tables):
the program under test only ever sees the files these functions write.

Change sequences are valid by construction: a pk is CREATEd once, the
first time it is touched, then only UPDATEd while alive, and never
touched again after its DELETE.  That keeps every window clear of the
merge guard's errors (duplicate CREATE, UPDATE after DELETE).
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

#: Column types of the benchmark tables: name -> [(column, kind)], where
#: kind is "string", "double" or "long".  The pk column is always "id".
TABLES: dict[str, list[tuple[str, str]]] = {
    # backfill: UPDATE/DELETE-heavy, Zipf-skewed pks
    "orders_b": [("id", "string"), ("status", "string"), ("price", "double"), ("qty", "long")],
    # backfill: append-only
    "events_b": [("id", "string"), ("kind", "string"), ("value", "double"), ("user_id", "long")],
    # live_mixed: the tail of a populated table
    "live_t": [("id", "string"), ("status", "string"), ("price", "double"), ("qty", "long")],
}

STATUSES = ["new", "paid", "packed", "shipped", "closed"]
KINDS = ["click", "view", "purchase", "signup", "error"]


def _value(rng: np.random.Generator, kind: str, column: str) -> str:
    if column == "status":
        return STATUSES[int(rng.integers(len(STATUSES)))]
    if column == "kind":
        return KINDS[int(rng.integers(len(KINDS)))]
    if kind == "double":
        return f"{int(rng.integers(100, 10_000_000)) / 100:.2f}"
    if kind == "long":
        return str(int(rng.integers(0, 1_000_000)))
    return f"s{int(rng.integers(1_000_000))}"


def _values(rng: np.random.Generator, kind: str, column: str, n: int) -> list[str]:
    """``n`` draws of ``_value``'s distribution, drawn column-wise."""
    if column in ("status", "kind"):
        choices = np.array(STATUSES if column == "status" else KINDS, dtype=object)
        return choices[rng.integers(len(choices), size=n)].tolist()
    if kind == "double":
        return [f"{v / 100:.2f}" for v in rng.integers(100, 10_000_000, size=n).tolist()]
    if kind == "long":
        return [str(v) for v in rng.integers(0, 1_000_000, size=n).tolist()]
    return [f"s{v}" for v in rng.integers(1_000_000, size=n).tolist()]


@dataclass
class Model:
    """Expected table state: table -> pk -> {column: wire string}."""

    tables: dict[str, dict[str, dict[str, str]]] = field(default_factory=dict)

    def apply(self, change: dict) -> None:
        rows = self.tables.setdefault(change["table"], {})
        pk, op = change["pk"], change["op"]
        if op == "CREATE":
            if pk in rows:
                raise ValueError(f"generator bug: CREATE of live pk {pk}")
            rows[pk] = {**change["fields"], "id": pk}
        elif op == "UPDATE":
            rows[pk].update(change["fields"])
        elif op == "DELETE":
            del rows[pk]
        else:
            raise ValueError(f"unknown op {op!r}")

    def typed_rows(self, table: str) -> tuple[list[str], list[tuple]]:
        """(columns, rows) with values typed the way the engine's state
        returns them, for ``value_hash``."""
        cols = TABLES[table]
        cast = {"string": str, "double": float, "long": int}
        rows = [
            tuple(cast[kind](row[c]) if c in row else None for c, kind in cols)
            for row in self.tables.get(table, {}).values()
        ]
        return [c for c, _ in cols], rows

    def status_counts(self, table: str) -> dict[str, int]:
        return dict(Counter(r["status"] for r in self.tables.get(table, {}).values()))


def reduced_counts(changes: list[dict]) -> Counter:
    """What the ClickHouse sink must emit for one flush window: one op
    per (table, pk) after the reference's fold (a DELETE wins; a window
    that starts with CREATE inserts; otherwise it updates)."""
    first: dict[tuple, str] = {}
    last: dict[tuple, str] = {}
    for c in changes:
        key = (c["table"], c["pk"])
        first.setdefault(key, c["op"])
        last[key] = c["op"]
    out: Counter = Counter()
    for key, op in last.items():
        if op == "DELETE":
            out["DELETE"] += 1
        elif first[key] == "CREATE":
            out["INSERT_ROWS"] += 1
        else:
            out["UPDATE"] += 1
    return out


class ChangeGen:
    """Valid CDC op stream for one table.

    ``mix`` gives the weights of CREATE/UPDATE/DELETE once the table has
    live rows; ``zipf`` > 1 skews UPDATEs towards low-ranked pks (hot
    keys, so a window folds long per-pk chains), ``zipf`` = 0 picks
    uniformly.  DELETEs always pick uniformly: skewed deletes would
    kill the hot keys within a few ops."""

    def __init__(self, rng, model: Model, table: str, mix: dict[str, float], zipf: float = 0.0):
        self.rng = rng
        self.model = model
        self.table = table
        self.ops = list(mix)
        p = np.array([mix[o] for o in self.ops], dtype=float)
        self.p = p / p.sum()
        self.zipf = zipf
        self.alive: list[str] = list(model.tables.get(table, {}))
        self.next_id = len(self.alive)
        self.cols = TABLES[table]

    def _pick(self, skewed: bool) -> int:
        n = len(self.alive)
        if skewed and self.zipf:
            while True:
                i = int(self.rng.zipf(self.zipf)) - 1
                if i < n:
                    return i
        return int(self.rng.integers(n))

    def _fields(self, k: int | None = None) -> dict[str, str]:
        cols = [(c, kind) for c, kind in self.cols if c != "id"]
        if k is not None:
            idx = self.rng.choice(len(cols), size=k, replace=False)
            cols = [cols[int(i)] for i in sorted(idx)]
        return {c: _value(self.rng, kind, c) for c, kind in cols}

    def create(self) -> dict:
        pk = f"{self.table}-{self.next_id}"
        self.next_id += 1
        self.alive.append(pk)
        return {"table": self.table, "pk": pk, "op": "CREATE", "fields": self._fields()}

    def next(self) -> dict:
        op = self.ops[int(self.rng.choice(len(self.ops), p=self.p))] if self.alive else "CREATE"
        if op == "CREATE":
            return self.create()
        i = self._pick(skewed=op == "UPDATE")
        pk = self.alive[i]
        if op == "DELETE":
            # order-keeping removal: the hot ranks stay hot; the pk is
            # never touched again
            self.alive.pop(i)
            return {"table": self.table, "pk": pk, "op": "DELETE", "fields": {}}
        return {"table": self.table, "pk": pk, "op": "UPDATE", "fields": self._fields(1 + int(self.rng.integers(2)))}


def make_blocks(gens: list[tuple[ChangeGen, int]], n_blocks: int, first_block: int, model: Model) -> list[tuple[int, str, list[dict]]]:
    """``n_blocks`` blocks, each holding ``n`` ops from every
    ``(generator, n)``; the model follows every op."""
    blocks = []
    for b in range(first_block, first_block + n_blocks):
        changes = []
        for gen, n in gens:
            for _ in range(n):
                c = gen.next()
                c["ordinal"] = len(changes) + 1
                model.apply(c)
                changes.append(c)
        blocks.append((b, f"blk{b}", changes))
    return blocks


def initial_load(rng, model: Model, table: str, n_rows: int, block: int) -> tuple[int, str, list[dict]]:
    """One block that CREATEs ``n_rows`` new rows (of a table that has
    seen no DELETE yet, so ids continue from its row count)."""
    first = len(model.tables.get(table, {}))
    cols = [c for c, _ in TABLES[table] if c != "id"]
    values = [_values(rng, kind, c, n_rows) for c, kind in TABLES[table] if c != "id"]
    changes = []
    for i, row in enumerate(zip(*values)):
        c = {"table": table, "pk": f"{table}-{first + i}", "op": "CREATE",
             "fields": dict(zip(cols, row)), "ordinal": i + 1}
        model.apply(c)
        changes.append(c)
    return (block, f"blk{block}", changes)


# ------------------------------------------------------------- writers

#: DatabaseChanges messages per block in the JSONL backlog are split to
#: at most this many changes each.  The JSON decode copies the raw line
#: into every exploded change, so a 20k-change line needs ~20k copies of
#: itself in memory (a 3 GB heap ran out on one such block); real
#: producers emit many small messages per block.
JSONL_CHANGES_PER_LINE = 10


def block_json(block: tuple[int, str, list[dict]]) -> list[str]:
    """One block as DatabaseChanges messages in the JSONL ingest format."""
    num, bid, changes = block
    return [
        json.dumps(
            {
                "block_num": num,
                "block_id": bid,
                "table_changes": [
                    {
                        "table": c["table"],
                        "pk": c["pk"],
                        "ordinal": c["ordinal"],
                        "operation": c["op"],
                        "fields": [
                            {"name": k, "new_value": v, "old_value": None}
                            for k, v in c["fields"].items()
                        ],
                    }
                    for c in changes[i : i + JSONL_CHANGES_PER_LINE]
                ],
            },
            separators=(",", ":"),
        )
        for i in range(0, len(changes), JSONL_CHANGES_PER_LINE)
    ]


def write_jsonl(blocks: list, directory: str, blocks_per_file: int) -> int:
    """Write the backlog as JSONL files; returns the file count."""
    os.makedirs(directory, exist_ok=True)
    n = 0
    for i in range(0, len(blocks), blocks_per_file):
        with open(os.path.join(directory, f"changes-{n:05d}.jsonl"), "w", encoding="utf-8") as fh:
            for block in blocks[i : i + blocks_per_file]:
                for line in block_json(block):
                    fh.write(line + "\n")
        n += 1
    return n


def encode_changes(changes: list[dict], chunk: int = 500) -> bytes:
    """DatabaseChanges wire bytes of ``changes``.  The message is one
    repeated field, so encoded chunks concatenate into the encoding of
    the whole list; chunking keeps the encoder's byte appends short
    (it copies its output on every change: quadratic on large blocks)."""
    from substreams_sink_clickhouse_spark.sources.protobuf_wire import encode_database_changes

    return b"".join(encode_database_changes(changes[i : i + chunk]) for i in range(0, len(changes), chunk))


def write_spool(blocks: list[tuple[int, str, list[dict]]], directory: str, seq: int) -> None:
    """Blocks as one spool file (one row per block), in the layout and
    with the atomic rename ``SubstreamsLiveSource`` uses."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    table = pa.table(
        {
            "block_num": pa.array([b[0] for b in blocks], pa.int64()),
            "block_id": pa.array([b[1] for b in blocks], pa.string()),
            "value": pa.array([encode_changes(b[2]) for b in blocks], pa.binary()),
        }
    )
    tmp = os.path.join(directory, f".spool-{seq:08d}.parquet.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, f"spool-{seq:08d}.parquet"))


# ------------------------------------------------------ fixture tables

_WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector the and of to in is el la de der die und le les et"
).split()


def write_fixtures(seed: int, directory: str, sf: float = 0.1) -> None:
    """The ten query-surface tables (TESTDATA.md shapes) at scale ``sf``,
    one row group per parquet file like the TESTDATA.md fixtures."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        table = pa.table(cols)
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"), row_group_size=table.num_rows or 1)

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: str, span: int, n: int) -> pa.Array:
        base = np.datetime64(start, "us")
        return pa.array(base + rng.integers(0, span, n) * np.timedelta64(86_400_000_000, "us"), pa.timestamp("us"))

    def pick(values: list[str], n: int) -> pa.Array:
        return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {"c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    put("supplier", {"s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)})
    put("part", {"p_partkey": pa.array(np.arange(n_part), pa.int64()),
                 "p_name": [f"{_WORDS[i % 23]} {_WORDS[(i * 7) % 29]}" for i in range(n_part)],
                 "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
                 "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                 "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                 "p_retailprice": money(900, 2100, n_part)})
    put("orders", {"o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                   "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                   "o_orderstatus": pick(["F", "O", "P"], n_ord),
                   "o_totalprice": money(1000, 400_000, n_ord),
                   "o_orderdate": days("1995-01-01", 2404, n_ord),
                   "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    put("lineitem", {"l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                     "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                     "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                     "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                     "l_quantity": rng.integers(1, 51, n_line).astype(float),
                     "l_extendedprice": money(900, 105_000, n_line),
                     "l_discount": rng.integers(0, 11, n_line) / 100,
                     "l_tax": rng.integers(0, 9, n_line) / 100,
                     "l_returnflag": pick(["A", "N", "R"], n_line),
                     "l_linestatus": pick(["F", "O"], n_line),
                     "l_shipdate": days("1995-01-02", 2498, n_line)})
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) * np.timedelta64(1, "us")
    put("events", {"event_id": pa.array(np.arange(n_ev), pa.int64()),
                   "ts": pa.array(ts, pa.timestamp("us")),
                   "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
                   "event_type": pick(["signup", "click", "error", "view", "purchase"], n_ev),
                   "value": money(0, 560, n_ev),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if texts and r < 0.05:  # exact duplicate
            texts.append(texts[int(rng.integers(len(texts)))])
        elif texts and r < 0.15:  # near duplicate: one word replaced
            words = texts[int(rng.integers(len(texts)))].split(" ")
            words[int(rng.integers(len(words)))] = _WORDS[int(rng.integers(len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(5, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_words)))
    put("documents", {"doc_id": pa.array(np.arange(n_doc), pa.int64()),
                      "text": texts,
                      "lang": pick(["en", "de", "es", "fr", "zh"], n_doc),
                      "source": pick([f"src{i}" for i in range(20)], n_doc),
                      "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(0, 0.1, (n_emb, 64)).astype(np.float32)
    put("embeddings", {"vec_id": pa.array(np.arange(n_emb), pa.int64()),
                       "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                       "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
