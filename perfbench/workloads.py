"""The four workloads: what one pass runs, and how its outputs are checked.

Each workload is a closed loop: one client sends the next operation only
after the previous one returns. A *pass* is a fixed mix of operations in
a seeded order; the timed window runs whole passes, so every run measures
the same mix whatever its seed. Every workload reads the engine's test
tables, shipped under ``data/`` and the same for every seed. Outputs are
checked outside the timed window: catalog queries in the untimed warm-up
pass (their plans do not change between passes), generated join queries
and transactional reads from results kept during the window.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass

from ops import SUM_COLUMN, JoinQuery, TxnOp, chain_shape, join_query, txn_cycle
from txn_model import TxnModel

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "embeddings", "documents",
)


def row_counts(sf_dir: str) -> dict[str, int]:
    """Row count per engine table of ``sf_dir``, from the parquet footers."""
    import pyarrow.parquet as pq

    return {t: pq.read_metadata(f"{sf_dir}/{t}.parquet").num_rows for t in TABLES}


@dataclass
class Op:
    """One closed-loop operation. ``run`` returns what the check needs."""

    name: str
    kind: str  # catalog | join | chain | point | range | insert | merge | delete | compact
    arg: object = None


@dataclass
class OpResult:
    op: Op
    seconds: float
    value: object = None
    error: str | None = None


@dataclass
class Context:
    spark: object
    sf_dir: str
    tracer: object
    work_dir: str
    counts: dict
    duck: object = None  # DuckDB over the same parquet, for the checks
    released: int = 0


class Workload:
    """Base: a fixed list of catalog entries run once per pass."""

    catalog: tuple[str, ...] = ()
    # the timed window is round(--seconds / pass_seconds) whole passes;
    # nominal values that give olap_planned three passes (21 ops) and
    # txn_ingest_read three cycles (60 ops) at the listed run length, so
    # that 22 runs of each fit the regression check's hour
    pass_seconds = 5.0

    def __init__(self, seed: int, counts: dict) -> None:
        self.counts = counts
        self.rng = random.Random(f"{type(self).__name__}:{seed}")
        self.failures: list[str] = []
        self.bad_catalog: set[str] = set()

    # --------------------------------------------------------- structure
    def pass_ops(self) -> list[Op]:
        ops = [Op(n, "catalog", n) for n in self.catalog]
        self.rng.shuffle(ops)
        return ops

    def setup(self, ctx: Context) -> None:
        """Work repeated in every set-up repetition, on a fresh session:
        load (register) the engine tables."""
        from dbms_query_optimizer_spark.engine import load_tables

        load_tables(ctx.spark, ctx.sf_dir)

    # ------------------------------------------------------------- run
    def run(self, ctx: Context, op: Op, timed: bool) -> object:
        if op.kind == "catalog":
            return self._run_catalog(ctx, op.arg, timed)
        raise ValueError(op.kind)

    def _run_catalog(self, ctx: Context, name: str, timed: bool):
        from dbms_query_optimizer_spark.cache import release_tracked
        from dbms_query_optimizer_spark.operators import catalog

        tr = ctx.tracer
        try:
            with tr.span("operators.construct", group=True):
                df = catalog.queries()[name](ctx.spark, ctx.sf_dir)
            with tr.span("execution.execute", group=True, execution=True):
                if timed:
                    df.write.mode("overwrite").format("noop").save()
                    return None
                # the untimed warm-up pass: the output against the oracle
                return _catalog_mismatch(ctx, name, df)
        finally:
            with tr.span("cache.release"):
                ctx.released += release_tracked()

    # ----------------------------------------------------------- checks
    def check(self, ctx: Context, results: list[OpResult], warmup: bool) -> int:
        """Check ``results`` and return how many are wrong or failed. The
        warm-up pass is checked first; the timed window after it."""
        bad = 0
        for r in results:
            why = r.error or self.verify(ctx, r, warmup)
            if why:
                bad += 1
                self.failures.append(f"{r.op.name}: {why}")
        return bad

    def verify(self, ctx: Context, r: OpResult, warmup: bool) -> str | None:
        """Why ``r`` is wrong, or None. A catalog entry's output is compared
        in the warm-up pass (its value is the mismatch found there); the
        timed window runs the same plans into the noop sink, so an entry
        wrong there is wrong in every pass."""
        name = r.op.arg
        if not warmup:
            return "output mismatched in the warm-up pass" if name in self.bad_catalog else None
        if r.value:
            self.bad_catalog.add(name)
        return r.value

    def finish(self, ctx: Context) -> dict:
        """Workload-specific end-of-run metrics."""
        return {}


def _catalog_mismatch(ctx: Context, name: str, df) -> str | None:
    """Why catalog entry ``name``'s output ``df`` is wrong, or None: the
    oracle tests' comparison (``tests/oracle_utils.compare``) against its
    ``oracle_sql()`` in DuckDB; an entry without oracle must return rows."""
    from dbms_query_optimizer_spark.operators import catalog
    from tests.oracle_utils import compare

    sql = catalog.oracles().get(name)
    if sql is None:
        return None if len(df.toPandas()) else "no oracle and no rows"
    ok, why = compare(df, ctx.duck, sql)
    return None if ok else why


# ------------------------------------------------------------------ olap

# table counts of the generated joins: every pass plans and runs one join
# of each size
JOIN_SIZES = (3, 5, 7)


class OlapPlanned(Workload):
    """Read-only joins and aggregates through the planner, plus generated
    join graphs through ``plan_and_emit`` and plan-only join ordering. A
    pandas-UDF query keeps the Python/Arrow boundary measured."""

    catalog = (
        "flagship_join_agg",
        "cbo_ordered_join",
        "udf_price_score",
    )
    chains_per_op = 20

    def __init__(self, seed: int, counts: dict) -> None:
        super().__init__(seed, counts)
        self.passes = 0

    def pass_ops(self) -> list[Op]:
        # the join graphs and filtered columns of pass k are the same in
        # every run, so every run computes (and caches) the same statistics;
        # the seed picks the filter constants
        ops = [Op(n, "catalog", n) for n in self.catalog]
        for size in JOIN_SIZES:
            shape = random.Random(f"join-shape:{self.passes}:{size}")
            ops.append(
                Op("generated_join", "join", join_query(shape, self.rng, self.counts, size))
            )
        self.passes += 1
        ops.append(
            Op("order_joins_chain", "chain",
               [chain_shape(self.rng) for _ in range(self.chains_per_op)])
        )
        self.rng.shuffle(ops)
        return ops

    def run(self, ctx: Context, op: Op, timed: bool):
        if op.kind == "join":
            return self._run_join(ctx, op.arg)
        if op.kind == "chain":
            return self._run_chains(ctx, op.arg)
        return super().run(ctx, op, timed)

    def _run_join(self, ctx: Context, q: JoinQuery):
        """The program's own path: ``plan_and_emit`` (statistics, DP and
        emit in one call), then its DataFrame aggregated and collected."""
        from pyspark.sql import functions as F

        from dbms_query_optimizer_spark.engine import TABLES, load_tables
        from dbms_query_optimizer_spark.plans.pipeline import FilterSpec, plan_and_emit
        from dbms_query_optimizer_spark.plans.planner import LogicalJoinNode
        from dbms_query_optimizer_spark.plans.stats import PredicateType

        tr = ctx.tracer
        tables = load_tables(ctx.spark, ctx.sf_dir)
        joins = [LogicalJoinNode(a, b, x, y, PredicateType.EQ) for a, b, x, y in q.edges]
        specs = [FilterSpec(t, c, PredicateType(op), v) for t, c, op, v in q.filters]
        with tr.span("plans.plan_and_emit", group=True):
            planned = plan_and_emit(tables, joins, filters=specs, pk_columns=TABLES)
        with tr.span("execution.execute", group=True, execution=True):
            row = planned.df.agg(F.count(F.lit(1)), F.sum(SUM_COLUMN)).collect()[0]
        return (int(row[0]), None if row[1] is None else int(row[1]))

    def _run_chains(self, ctx: Context, shapes):
        from dbms_query_optimizer_spark.plans.planner import JoinOptimizer, LogicalJoinNode
        from dbms_query_optimizer_spark.plans.stats import PredicateType, TableStats

        out = []
        for shape in shapes:
            stats = {
                n: TableStats(num_tuples=k, num_pages=max(1, k // 200), io_cost_per_page=100)
                for n, k in shape.cards
            }
            nodes = [LogicalJoinNode(a, b, x, y, PredicateType.EQ) for a, b, x, y in shape.joins]
            with ctx.tracer.span("plans.order_joins") as sp:
                opt = JoinOptimizer(nodes, {n: "c0" for n in stats})
                plan = opt.order_joins(stats, {n: 1.0 for n in stats})
            if sp is not None:
                sp.counters["subsets"] = _memo_size(opt)
            out.append([(j.left_table, j.right_table) for j in plan])
        return out

    def verify(self, ctx: Context, r: OpResult, warmup: bool) -> str | None:
        if r.op.kind == "join":
            row = ctx.duck.execute(r.op.arg.sql()).fetchone()
            want = (int(row[0]), None if row[1] is None else int(row[1]))
            return None if r.value == want else f"{r.value} vs oracle {want} for {r.op.arg.sql()}"
        if r.op.kind == "chain":
            return _chain_violation(r.value)
        return super().verify(ctx, r, warmup)


def _memo_size(opt) -> int:
    """Join subsets the DP kept a plan for (its memo entries)."""
    memo = getattr(getattr(opt, "last_plan_cache", None), "_best", None)
    return len(memo) if memo is not None else 0


def _chain_violation(plans) -> str | None:
    """BigOrderJoinsTest (optimizer_test.cc:507-571): all ten joins are
    planned and ``big_table`` is joined last, as the outermost relation."""
    for plan in plans:
        if len(plan) != 10:
            return f"planned {len(plan)} of 10 joins"
        if "big_table" not in plan[-1] or any("big_table" in j for j in plan[:-1]):
            return f"big_table not outermost: {plan}"
    return None


# ------------------------------------------------------------ iterative

class IterativeLoops(Workload):
    """Driver-side iterative loops: most of each op is construction jobs."""

    catalog = (
        "graph_wcc",
        "graph_kcore",
        "graph_pagerank",
    )
    pass_seconds = 8.0


# ---------------------------------------------------------------- arrow

class ArrowUdf(Workload):
    """Python workers behind mapInPandas / applyInPandas do the work."""

    catalog = (
        "udf_price_score",
        "udaf_geomean",
        "udtf_split_sentences",
        "arrow_map_stats",
        "text_rolling_fingerprint",
        "dedup_minhash_lsh",
        "multimodal_audio_features",
    )
    pass_seconds = 7.0


# ------------------------------------------------------------------ txn

class TxnIngestRead(Workload):
    """A seeded stream of reads and writes on one transactional table."""

    bloom = ["o_orderkey"]
    compact_files = 4
    pass_seconds = 5.0

    def __init__(self, seed: int, counts: dict) -> None:
        super().__init__(seed, counts)
        self.next_key = counts["orders"]
        self.table = None
        self.base_rows: list[tuple] = []

    def pass_ops(self) -> list[Op]:
        ops, self.next_key = txn_cycle(self.rng, self.next_key)
        return [Op(o.kind, o.kind, o) for o in ops]

    def setup(self, ctx: Context) -> None:
        """Create the table and load the base ``orders`` rows into it (the
        other engine tables are not read)."""
        from pyspark.sql import functions as F

        from dbms_query_optimizer_spark.sources.manifest import TransactionalTable

        root = os.path.join(ctx.work_dir, "txn_orders")
        shutil.rmtree(root, ignore_errors=True)
        base = ctx.spark.read.parquet(f"{ctx.sf_dir}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        table = TransactionalTable.create(root, base.schema, bloom_columns=self.bloom)
        txn = table.begin()
        txn.insert(base.repartitionByRange(self.compact_files, "o_orderkey"))
        txn.commit()
        self.table = table
        self.start_version = table.latest_version()
        if not self.base_rows:
            import pyarrow.parquet as pq

            t = pq.read_table(f"{ctx.sf_dir}/orders.parquet").to_pandas()
            self.base_rows = [
                (int(r[0]), int(r[1]), r[2], float(r[3]), r[4].date(), r[5])
                for r in t.itertuples(index=False, name=None)
            ]

    def _rows_df(self, ctx: Context, op: TxnOp):
        """The rows ``ops.inserted_row`` defines, built by Spark."""
        from pyspark.sql import functions as F

        key = F.col("id")
        price = (
            (F.lit(100_000) + (key * 7919) % 49_900_000) / 100.0
            if op.kind == "insert"
            else F.lit(op.price)
        )
        return ctx.spark.range(op.lo, op.hi, numPartitions=1).select(
            key.alias("o_orderkey"),
            (key % 1000).alias("o_custkey"),
            F.substring(F.lit("OFP"), (key % 3 + 1).cast("int"), 1).alias("o_orderstatus"),
            price.cast("double").alias("o_totalprice"),
            F.date_add(F.lit("1995-01-01").cast("date"), (key % 2400).cast("int")).alias(
                "o_orderdate"
            ),
            F.concat((key % 5 + 1).cast("string"), F.lit("-GEN")).alias("o_orderpriority"),
        )

    def run(self, ctx: Context, op: Op, timed: bool):
        o: TxnOp = op.arg
        tr = ctx.tracer
        t = self.table
        if o.kind in ("point", "range"):
            where = (
                ("o_orderkey", "=", o.lo)
                if o.kind == "point"
                else [("o_orderkey", ">=", o.lo), ("o_orderkey", "<", o.hi)]
            )
            with tr.span("sources.read_plan") as sp:
                df = t.read(ctx.spark, where=where)
            if sp is not None:
                sp.counters.update(t.last_scan)
            with tr.span("execution.execute", group=True, execution=True):
                rows = df.collect()
            return sorted((tuple(r) for r in rows), key=lambda r: r[0])
        if o.kind == "compact":
            with tr.span("sources.compact", group=True):
                t.compact(ctx.spark, target_files=self.compact_files, sort_by="o_orderkey")
            return None
        txn = t.begin()
        with tr.span("sources.stage", group=True):
            if o.kind == "insert":
                txn.insert(self._rows_df(ctx, o))
            elif o.kind == "merge":
                txn.merge(ctx.spark, self._rows_df(ctx, o), "o_orderkey")
            else:
                txn.delete_mor(
                    ctx.spark, [("o_orderkey", ">=", o.lo), ("o_orderkey", "<", o.hi)]
                )
        with tr.span("sources.commit"):
            txn.commit()
        return None

    def check(self, ctx: Context, results: list[OpResult], warmup: bool) -> int:
        """Replay the warm-up cycle and the window through the model, in
        order, comparing every read; then compare the final table."""
        if warmup:
            self.model = TxnModel(self.base_rows)
        bad = 0
        for r in results:
            want = self.model.apply(r.op.arg)
            why = r.error
            if why is None and want is not None and r.value != want:
                why = f"[{r.op.arg.lo}, {r.op.arg.hi}): {len(r.value)} rows vs model {len(want)}"
            if why:
                bad += 1
                self.failures.append(f"{r.op.name}: {why}")
        if not warmup:
            final = sorted(
                (tuple(x) for x in self.table.read(ctx.spark).collect()), key=lambda r: r[0]
            )
            if final != self.model.snapshot():
                bad += 1
                self.failures.append(
                    f"final table: {len(final)} rows vs model {len(self.model.snapshot())}"
                )
        return bad

    def finish(self, ctx: Context) -> dict:
        """Space use of the live snapshot against the model's user bytes."""
        from urllib.parse import urlparse

        snap = self.table.snapshot()
        files = {urlparse(f).path or f for f in snap["files"]}
        for dirs in snap.get("dvs", {}).values():
            files.update(urlparse(d).path or d for d in dirs)
        disk = 0
        for f in files:
            if os.path.isdir(f):
                disk += sum(
                    os.path.getsize(os.path.join(f, x))
                    for x in os.listdir(f)
                    if x.startswith("part-") and not x.endswith(".crc")
                )
            elif os.path.exists(f):
                disk += os.path.getsize(f)
        mdir = os.path.join(self.table.root, "manifest")
        latest = max(
            (x for x in os.listdir(mdir) if x.endswith(".json")),
            key=lambda x: int(x.split(".")[0]),
        )
        manifest_bytes = os.path.getsize(os.path.join(mdir, latest))
        return {
            "bytes_per_user_byte": (disk + manifest_bytes) / self.model.user_bytes(),
            "manifest_bytes": manifest_bytes,
            "manifest_versions": self.table.latest_version() - self.start_version,
        }


WORKLOADS = {
    "olap_planned": OlapPlanned,
    "iterative_loops": IterativeLoops,
    "arrow_udf": ArrowUdf,
    "txn_ingest_read": TxnIngestRead,
}


def fingerprint(cls: type[Workload], seed: int, counts: dict, passes: int = 5) -> str:
    """sha256 over the first ``passes`` passes of operations ``cls`` generates
    for ``seed``: equal seeds give equal digests."""
    wl = cls(seed, counts)
    h = hashlib.sha256()
    for _ in range(passes):
        for op in wl.pass_ops():
            h.update(repr(op).encode())
    return h.hexdigest()
