"""The seeded generators: determinism, and inputs that are well formed."""

import os
import random

import duckdb
import pytest
from ops import FK_EDGES, chain_shape, filter_columns, join_query, txn_cycle
from workloads import DATA_DIR, WORKLOADS, fingerprint, row_counts

SF_DIR = os.path.join(DATA_DIR, "sf0.001")
COUNTS = row_counts(SF_DIR)


def test_filter_domains_hold_in_the_shipped_tables():
    con = duckdb.connect()
    for table, column, lo, hi in filter_columns(COUNTS):
        got = con.execute(
            f"SELECT MIN({column}), MAX({column}) FROM read_parquet('{SF_DIR}/{table}.parquet')"
        ).fetchone()
        assert got == (lo, hi), (table, column)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_op_lists_are_a_function_of_the_seed(name):
    assert fingerprint(WORKLOADS[name], 3, COUNTS) == fingerprint(WORKLOADS[name], 3, COUNTS)
    assert fingerprint(WORKLOADS[name], 3, COUNTS) != fingerprint(WORKLOADS[name], 4, COUNTS)


def test_join_shapes_do_not_depend_on_the_seed():
    a = join_query(random.Random("slot"), random.Random(1), COUNTS, 6)
    b = join_query(random.Random("slot"), random.Random(2), COUNTS, 6)
    assert (a.tables, a.edges) == (b.tables, b.edges)
    assert [f[:3] for f in a.filters] == [f[:3] for f in b.filters]


def test_join_queries_are_connected_and_in_domain():
    rng = random.Random(0)
    domains = {(t, c): (lo, hi) for t, c, lo, hi in filter_columns(COUNTS)}
    con = duckdb.connect()
    for t in {t for e in FK_EDGES for t in e[:2]}:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    for i in range(50):
        q = join_query(random.Random(i), rng, COUNTS, 3 + i % 5)
        assert len(q.tables) == 3 + i % 5 and "lineitem" in q.tables
        # connected: a walk over the edges from one table reaches all
        seen, todo = set(), [q.tables[0]]
        while todo:
            t = todo.pop()
            seen.add(t)
            todo += [b if a == t else a for a, b, _, _ in q.edges if t in (a, b) and
                     (b if a == t else a) not in seen]
        assert seen == set(q.tables)
        assert 1 <= len(q.filters) <= 3
        for t, c, op, v in q.filters:
            lo, hi = domains[(t, c)]
            assert t in q.tables and lo <= v <= hi and op in ("<", "<=", ">", ">=", "=", "<>")
        n, _ = con.execute(q.sql()).fetchone()
        assert n >= 0


def test_chain_shape_is_the_reference_shape():
    c = chain_shape(random.Random(1))
    tables = {t for j in c.joins for t in j[:2]}
    assert len(c.joins) == 10 and len(tables) == 11 and "big_table" in tables
    assert dict(c.cards)["big_table"] == 100_000


def test_txn_cycle_mix_and_keys():
    rng, next_key = random.Random(5), COUNTS["orders"]
    for _ in range(20):
        ops, new_next = txn_cycle(rng, next_key)
        kinds = [o.kind for o in ops]
        assert kinds[-1] == "compact"
        assert sorted(kinds[:-1]) == sorted(
            ["point"] * 12 + ["range"] * 4 + ["insert", "merge", "delete"]
        )
        ins = [o for o in ops if o.kind == "insert"]
        assert ins[0].lo == next_key and ins[0].hi == new_next
        # merges never create keys a later insert would append again
        assert all(o.hi <= new_next for o in ops if o.kind == "merge")
        next_key = new_next
