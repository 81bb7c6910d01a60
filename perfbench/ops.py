"""Seeded operation generators. Pure Python: no Spark, no I/O.

Everything the program under test receives is built here: the generated
join graphs and their filter constants, the 11-table join-ordering
shapes, and the transactional operation stream. The run's ``--seed``
chooses the filter constants, the shuffles, the chain cardinalities and
the keys the transactional ops touch; the input tables and the amount of
work per operation slot are the same for every seed. The same seed
yields byte-identical lists (``workloads.fingerprint``).
"""

from __future__ import annotations

import datetime
import random
from dataclasses import dataclass

# The TPC-H foreign-key graph over the seven relational tables:
# (left table, right table, left column, right column).
FK_EDGES = [
    ("region", "nation", "r_regionkey", "n_regionkey"),
    ("nation", "customer", "n_nationkey", "c_nationkey"),
    ("nation", "supplier", "n_nationkey", "s_nationkey"),
    ("customer", "orders", "c_custkey", "o_custkey"),
    ("orders", "lineitem", "o_orderkey", "l_orderkey"),
    ("part", "lineitem", "p_partkey", "l_partkey"),
    ("supplier", "lineitem", "s_suppkey", "l_suppkey"),
]


def filter_columns(counts: dict[str, int]) -> list[tuple[str, str, int, int]]:
    """Integer columns a generated filter may constrain, with their domain
    at the given table row counts: (table, column, lo, hi inclusive)."""
    return [
        ("region", "r_regionkey", 0, 4),
        ("nation", "n_nationkey", 0, 24),
        ("nation", "n_regionkey", 0, 4),
        ("customer", "c_custkey", 0, counts["customer"] - 1),
        ("customer", "c_nationkey", 0, 24),
        ("supplier", "s_suppkey", 0, counts["supplier"] - 1),
        ("part", "p_partkey", 0, counts["part"] - 1),
        ("part", "p_size", 1, 50),
        ("orders", "o_orderkey", 0, counts["orders"] - 1),
        ("orders", "o_custkey", 0, counts["customer"] - 1),
        ("lineitem", "l_linenumber", 1, 7),
        ("lineitem", "l_partkey", 0, counts["part"] - 1),
        ("lineitem", "l_suppkey", 0, counts["supplier"] - 1),
    ]


# the integer column every generated query sums (they all hold lineitem)
SUM_COLUMN = "l_partkey"

OPS = ("<", "<=", ">", ">=", "=", "<>")


@dataclass(frozen=True)
class JoinQuery:
    """A connected subset of the FK graph with integer filters, returning
    ``COUNT(*)`` and ``SUM(l_partkey)``."""

    tables: tuple[str, ...]
    edges: tuple[tuple[str, str, str, str], ...]
    filters: tuple[tuple[str, str, str, int], ...]

    def sql(self) -> str:
        where = [f"{lc} = {rc}" for _, _, lc, rc in self.edges]
        where += [f"{c} {op} {v}" for _, c, op, v in self.filters]
        return (
            f"SELECT COUNT(*) AS n, SUM({SUM_COLUMN}) AS s "
            f"FROM {', '.join(self.tables)} WHERE {' AND '.join(where)}"
        )


def join_query(
    shape_rng: random.Random, rng: random.Random, counts: dict[str, int], size: int
) -> JoinQuery:
    """One connected ``size``-table subset (3-7) with 1-3 filters. Every
    subset holds the fact table ``lineitem``, as star joins do.

    The graph, the filtered columns and their operators come from
    ``shape_rng``, the filter constants from ``rng``: a caller that seeds
    ``shape_rng`` by slot and ``rng`` by run gets the same statistics work
    in every run and seed-dependent selectivities."""
    tables = {"lineitem"}
    while len(tables) < size:
        frontier = sorted(
            {e[1] for e in FK_EDGES if e[0] in tables and e[1] not in tables}
            | {e[0] for e in FK_EDGES if e[1] in tables and e[0] not in tables}
        )
        tables.add(shape_rng.choice(frontier))
    edges = tuple(e for e in FK_EDGES if e[0] in tables and e[1] in tables)
    candidates = [c for c in filter_columns(counts) if c[0] in tables]
    filters = []
    for table, column, lo, hi in shape_rng.sample(
        candidates, min(len(candidates), shape_rng.randint(1, 3))
    ):
        op = shape_rng.choice(OPS)
        if op in ("=", "<>") and hi - lo > 60:
            op = shape_rng.choice(("<", ">="))  # keep equality on small domains only
        span = hi - lo
        value = lo + (rng.randint(span // 10, span - span // 10) if span >= 10 else rng.randint(0, span))
        filters.append((table, column, op, value))
    return JoinQuery(
        tables=tuple(sorted(tables)),
        edges=edges,
        filters=tuple(filters),
    )


@dataclass(frozen=True)
class ChainShape:
    """The reference's BigOrderJoinsTest shape: ten equi-joins chaining
    tables ``a``..``j`` and a 100k-row ``big_table``, in shuffled order,
    with seeded small-table cardinalities."""

    joins: tuple[tuple[str, str, str, str], ...]
    cards: tuple[tuple[str, int], ...]


def chain_shape(rng: random.Random) -> ChainShape:
    names = [chr(ord("a") + i) for i in range(10)]
    joins = [
        (names[i], names[i + 1], f"c{(i + 1) % 2}", f"c{(i + 1) % 2}")
        for i in range(9)
    ] + [("j", "big_table", "c2", "c2")]
    rng.shuffle(joins)
    cards = [(n, rng.randint(50, 200)) for n in names]
    return ChainShape(joins=tuple(joins), cards=tuple(cards + [("big_table", 100_000)]))


# ------------------------------------------------------------ txn stream

@dataclass(frozen=True)
class TxnOp:
    """One operation on the transactional ``orders`` table.

    kind: ``point`` (o_orderkey = lo), ``range`` (lo <= o_orderkey < hi),
    ``insert`` (new keys lo..hi-1), ``merge`` (upsert keys lo..hi-1, new
    price ``price``), ``delete`` (merge-on-read delete of lo <= key < hi),
    ``compact`` (compact sorted by o_orderkey).
    """

    kind: str
    lo: int = 0
    hi: int = 0
    price: float = 0.0


WRITE_KINDS = ("insert", "merge", "delete", "compact")
READ_KINDS = ("point", "range")

# One cycle of the stream: every cycle holds this mix, in seeded order,
# and ends with a compaction, so each finished cycle leaves the table in
# the same layout class whatever the seed. Reads are four fifths of the
# ops, so the median latency falls in the middle of the reads' band, not
# in its tail, where one slow read moves it.
CYCLE_MIX = ("point",) * 12 + ("range",) * 4 + ("insert", "merge", "delete")


# rows each write touches and keys each range read spans: fixed, so that
# the seed moves where the ops land in the key space, not how much they do
INSERT_ROWS = 250
MERGE_ROWS = 100
DELETE_ROWS = 30
RANGE_KEYS = 200


def txn_cycle(rng: random.Random, next_key: int) -> tuple[list[TxnOp], int]:
    """One cycle of operations; returns (ops, next unused insert key).

    Keys for reads, merges and deletes are drawn over everything inserted
    so far (base keys and earlier inserts), so they hit live rows, rows
    another op deleted, and keys never written."""
    kinds = list(CYCLE_MIX)
    rng.shuffle(kinds)
    ops: list[TxnOp] = []
    for kind in kinds:
        if kind == "point":
            k = rng.randrange(next_key + 10)
            ops.append(TxnOp("point", k, k + 1))
        elif kind == "range":
            lo = rng.randrange(next_key)
            ops.append(TxnOp("range", lo, lo + RANGE_KEYS))
        elif kind == "insert":
            ops.append(TxnOp("insert", next_key, next_key + INSERT_ROWS))
            next_key += INSERT_ROWS
        elif kind == "merge":
            # keys stay below next_key: a merged-in key must never collide
            # with a later insert, which appends without deduplication
            lo = rng.randrange(next_key - MERGE_ROWS)
            ops.append(TxnOp("merge", lo, lo + MERGE_ROWS, round(rng.uniform(1000, 500000), 2)))
        else:
            lo = rng.randrange(next_key)
            ops.append(TxnOp("delete", lo, lo + DELETE_ROWS))
    ops.append(TxnOp("compact"))
    return ops, next_key


def inserted_row(key: int, price: float | None = None) -> tuple:
    """The ``orders`` row an ``insert`` (or, with ``price``, a ``merge``)
    writes for ``key``: a pure function of the key, built from integer
    arithmetic so the model and the engine's Spark expressions
    (``perfbench/workloads.py``) produce identical values."""
    cents = 100_000 + (key * 7919) % 49_900_000
    return (
        key,
        key % 1000,
        "OFP"[key % 3],
        cents / 100.0 if price is None else price,
        datetime.date(1995, 1, 1) + datetime.timedelta(days=key % 2400),
        f"{key % 5 + 1}-GEN",
    )
