"""In-memory model of the transactional ``orders`` table.

Replays the same :class:`~ops.TxnOp` stream the engine ran and predicts
every read and the final table, so each engine result can be checked
against it after the timed window.
"""

from __future__ import annotations

from ops import TxnOp, inserted_row


class TxnModel:
    """``o_orderkey`` -> full row tuple, in the column order of
    :data:`COLUMNS`."""

    COLUMNS = (
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )

    def __init__(self, base_rows: list[tuple]) -> None:
        self.rows = {r[0]: tuple(r) for r in base_rows}

    def apply(self, op: TxnOp) -> list[tuple] | None:
        """Apply ``op``; return the rows a read must see, sorted by key, or
        None for a write."""
        if op.kind in ("point", "range"):
            return sorted(
                (r for k, r in self.rows.items() if op.lo <= k < op.hi),
                key=lambda r: r[0],
            )
        if op.kind == "insert":
            for k in range(op.lo, op.hi):
                self.rows[k] = inserted_row(k)
        elif op.kind == "merge":
            for k in range(op.lo, op.hi):
                self.rows[k] = inserted_row(k, op.price)
        elif op.kind == "delete":
            for k in range(op.lo, op.hi):
                self.rows.pop(k, None)
        elif op.kind != "compact":
            raise ValueError(f"unknown txn op {op.kind!r}")
        return None

    def snapshot(self) -> list[tuple]:
        return [self.rows[k] for k in sorted(self.rows)]

    def user_bytes(self) -> int:
        """Bytes of live user data: 8 per numeric or date cell plus the
        UTF-8 length of each string cell."""
        total = 0
        for r in self.rows.values():
            for v in r:
                total += len(v.encode()) if isinstance(v, str) else 8
        return total
