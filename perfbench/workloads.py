"""The benchmark workloads: inputs, the ops of one timed round, verification.

Each workload generates its inputs from the seed, then runs rounds of ops
as a closed loop with one client: the next op starts when the previous one
returns.  There is no warm-up round: the timed round is the first one in a
fresh session, as in a one-shot migration or curation job, so it pays class
loading, codegen, JIT and the Python workers' start.
Each op's outputs are verified right after it returns, outside the timed
region, against DuckDB over the generated inputs; a mismatch fails that op.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs

#: Near-duplicate share appended to the curate input (doc_id-fresh copies
#: with 1-3 token edits): it fixes how much work the dedup stages share.
NEAR_DUP_SHARE = 0.10
#: Doomed keys per delete: below SINGLE_DELETE_THRESHOLD (10,000) for
#: orders, above it for lineitem, so both delete_pipeline paths run.
ORDERS_DOOMED = 5_000
LINEITEM_DOOMED = 20_000

#: Known gaps in what the package lets a workload cover, printed with every
#: result.  The change that closes one extends the workload in a benchmark
#: change of its own.
GAP_EMBEDDINGS = (
    "embeddings is not migrated: convert_all over it raises UnknownTypeError "
    "'no JDBC mapping for Spark type array<float>' (spanner_jdbc_converter_spark/types.py:233)"
)
GAP_DOUBLE_PROBE = (
    "the resync pass probes each parquet destination twice, "
    "spanner_jdbc_converter_spark/converter.py:87 and spanner_jdbc_converter_spark/copy.py:277 "
    "(_dest_state), then counts it at spanner_jdbc_converter_spark/converter.py:110; "
    "copy.dest_probe.calls in the traced run shows it"
)


class Workload:
    """``setup`` makes the inputs at ``scale``; ``round`` returns
    the ops of one round as ``(name, fn)`` pairs; ``check(name)`` returns
    one message per mismatching output of the op just run."""

    name = ""
    scale: float
    gaps: tuple[str, ...] = ()

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = np.random.default_rng(ctx.seed)

    def setup(self) -> None:
        raise NotImplementedError

    def round(self, k: int) -> list[tuple[str, object]]:
        raise NotImplementedError

    def check(self, op: str) -> list[str]:
        raise NotImplementedError


# -- order-independent checksums ---------------------------------------------


def _canon_row(con: duckdb.DuckDBPyConnection, relation: str) -> str:
    """Row expression with engine-neutral types: integers as BIGINT,
    timestamps as epoch microseconds (Spark may write them UTC-adjusted,
    the generator writes them naive)."""
    cols = []
    for name, typ, *_ in con.sql(f"DESCRIBE SELECT * FROM {relation}").fetchall():
        typ = typ.upper()
        if typ.startswith("TIMESTAMP"):
            cols.append(f"epoch_us({name})")
        elif typ in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"):
            cols.append(f"CAST({name} AS BIGINT)")
        else:
            cols.append(name)
    return "row(" + ", ".join(cols) + ")"


def checksum(con: duckdb.DuckDBPyConnection, relation: str) -> tuple[int, int]:
    """(row count, sum of row hashes): equal for equal multisets of rows."""
    n, h = con.sql(
        f"SELECT count(*), sum((hash({_canon_row(con, relation)}) >> 11)::BIGINT) FROM {relation}"
    ).fetchone()
    return int(n), int(h or 0)


def _parquet(path: str) -> str:
    """A parquet file (generator) or a Spark-written parquet directory."""
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"read_parquet('{path}')"


#: The three tables that hold 96 % of the rows, largest first.  They lead
#: the table order, so with four table workers they start together and the
#: round's critical path (lineitem) does not depend on the seed; placed
#: behind the small tables, lineitem made a round up to 20 % longer.
LARGE_TABLES = ("lineitem", "orders", "events")


def _seeded_order(rng) -> list[str]:
    """The large tables, then the seed's order of the small ones."""
    small = [t for t in inputs.MIGRATION_TABLES if t not in LARGE_TABLES]
    return list(LARGE_TABLES) + [str(t) for t in rng.permutation(small)]


# -- migrate_parquet ---------------------------------------------------------


class MigrateParquet(Workload):
    """convert_all of the nine mappable tables into a fresh parquet tree,
    a DROP_AND_RECREATE resync over it, then seeded key deletes."""

    name = "migrate_parquet"
    scale = 0.1
    gaps = (GAP_EMBEDDINGS, GAP_DOUBLE_PROBE)

    def setup(self) -> None:
        self.dir = self.ctx.tmp
        tables = inputs.migration_tables(self.ctx.seed, self.scale)
        self.src = os.path.join(self.dir, "source")
        inputs.write_tables(tables, self.src)
        self.order = _seeded_order(self.rng)
        self.doomed = os.path.join(self.dir, "doomed")
        os.makedirs(self.doomed)
        orders = tables["orders"].column("o_orderkey").to_numpy()
        pick = self.rng.choice(len(orders), ORDERS_DOOMED, replace=False)
        pq.write_table(pa.table({"o_orderkey": orders[pick]}), f"{self.doomed}/orders.parquet")
        lineitem = tables["lineitem"]
        pick = self.rng.choice(lineitem.num_rows, LINEITEM_DOOMED, replace=False)
        pq.write_table(
            lineitem.select(["l_orderkey", "l_linenumber"]).take(pa.array(pick)),
            f"{self.doomed}/lineitem.parquet",
        )
        self.dest = self.deleted = self.src_sums = None

    def round(self, k: int):
        from spanner_jdbc_converter_spark import converter, copy, delete
        from spanner_jdbc_converter_spark.catalog import PRIMARY_KEYS
        from spanner_jdbc_converter_spark.modes import ConvertMode

        for old in (self.dest, self.deleted):
            if old is not None:
                shutil.rmtree(old, ignore_errors=True)
        dest = self.dest = os.path.join(self.dir, f"dest{k}")
        deleted = self.deleted = os.path.join(self.dir, f"deleted{k}")
        drop = ConvertMode.DROP_AND_RECREATE
        spark, nproc = self.spark, self.ctx.nproc

        def convert(**modes):
            converter.convert_all(
                spark, self.src, dest, self.order, max_table_workers=nproc, **modes
            )

        def delete_keys():
            for table in ("orders", "lineitem"):
                survivors = delete.delete_pipeline(
                    spark.read.parquet(f"{dest}/{table}.parquet"),
                    list(PRIMARY_KEYS[table]),
                    spark.read.parquet(f"{self.doomed}/{table}.parquet"),
                    num_workers=nproc,
                )
                copy.copy_table(spark, survivors, f"{deleted}/{table}.parquet", mode=drop)

        return [
            ("create_pass", convert),
            ("resync_pass", lambda: convert(ddl_mode=drop, data_mode=drop)),
            ("delete", delete_keys),
        ]

    def check(self, op: str) -> list[str]:
        con = duckdb.connect()
        try:
            return self._check_deletes(con) if op == "delete" else self._check_tables(con)
        finally:
            con.close()

    def _check_tables(self, con) -> list[str]:
        """After either pass: every destination table equals its source."""
        if self.src_sums is None:
            self.src_sums = {t: checksum(con, _parquet(f"{self.src}/{t}.parquet")) for t in self.order}
        bad = []
        for table in self.order:
            got = checksum(con, _parquet(f"{self.dest}/{table}.parquet"))
            if got != self.src_sums[table]:
                bad.append(f"{table}: dest {got} != source {self.src_sums[table]}")
        return bad

    def _check_deletes(self, con) -> list[str]:
        """The survivors equal the source minus the doomed keys."""
        from spanner_jdbc_converter_spark.catalog import PRIMARY_KEYS

        bad = []
        for table in ("orders", "lineitem"):
            want = checksum(
                con,
                f"(SELECT s.* FROM {_parquet(f'{self.src}/{table}.parquet')} s "
                f"ANTI JOIN {_parquet(f'{self.doomed}/{table}.parquet')} d "
                f"USING ({', '.join(PRIMARY_KEYS[table])}))",
            )
            got = checksum(con, _parquet(f"{self.deleted}/{table}.parquet"))
            if got != want:
                bad.append(f"{table} delete: survivors {got} != expected {want}")
        self.range_precision = self._range_precision(con)
        return bad

    def _range_precision(self, con) -> float:
        """Doomed lineitem rows ÷ source rows inside the planned delete
        ranges: how far the ranges narrow the anti-join's input."""
        from spanner_jdbc_converter_spark import delete

        pk = ["l_orderkey", "l_linenumber"]
        doomed = self.spark.read.parquet(f"{self.doomed}/lineitem.parquet")
        ranges = delete.plan_delete_ranges(doomed, pk, self.ctx.nproc)
        pred = " OR ".join(delete.lexicographic_range_sql(pk, r.begin_key, r.end_key) for r in ranges)
        inside = con.sql(
            f"SELECT count(*) FROM {_parquet(f'{self.src}/lineitem.parquet')} WHERE {pred or 'false'}"
        ).fetchone()[0]
        return LINEITEM_DOOMED / inside if inside else 0.0


# -- curate ------------------------------------------------------------------

#: The corpus entries that certify one curate_documents execution; the
#: first runs the pipeline, the other two read its session store.
CURATE_ENTRIES = (
    "pipeline_curate_documents",
    "pipeline_curate_report",
    "pipeline_pack_invariants",
)


class Curate(Workload):
    """The corpus's curation pipeline entries over generated documents.

    The first entry runs ``curate_documents`` with the corpus's parameters
    whenever a (session, fixture dir) pair is new; each round reads the
    documents through a directory of its own, so every round starts with
    nothing persisted and ends with one noop write of the packed frame."""

    name = "curate"
    #: Documents before the near-duplicate copies are appended.
    scale = 5_000

    def setup(self) -> None:
        self.dir = self.ctx.tmp
        docs = inputs.documents_table(self.rng, self.scale, NEAR_DUP_SHARE)
        self.docs = os.path.join(self.dir, "documents.parquet")
        pq.write_table(docs, self.docs)
        self.sf_dir = None

    def round(self, k: int):
        from spanner_jdbc_converter_spark.plans import QUERIES

        sf_dir = self.sf_dir = os.path.join(self.dir, f"round{k}")
        os.makedirs(sf_dir)
        os.symlink(self.docs, os.path.join(sf_dir, "documents.parquet"))

        def entry(name: str) -> None:
            df = self.ctx.span(f"plans.{name}.build", lambda: QUERIES[name](self.spark, sf_dir))
            self.ctx.span(f"plans.{name}.exec", lambda: df.write.format("noop").mode("overwrite").save())

        return [("curate", lambda: entry(CURATE_ENTRIES[0]))] + [
            (n, lambda n=n: entry(n)) for n in CURATE_ENTRIES[1:]
        ]

    def check(self, op: str) -> list[str]:
        from spanner_jdbc_converter_spark.oracle import compare_frames
        from spanner_jdbc_converter_spark.plans import ORACLE, QUERIES

        name = CURATE_ENTRIES[0] if op == "curate" else op
        if name == CURATE_ENTRIES[0]:
            # Each oracle replays the whole pipeline with a recursive CTE;
            # all three run side by side, one cursor each, while Spark
            # collects the first entry, and are kept for the next two ops.
            con = duckdb.connect()
            con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.docs}')")
            with ThreadPoolExecutor(len(CURATE_ENTRIES)) as pool:
                pending = {n: pool.submit(lambda n=n: con.cursor().sql(ORACLE[n]).df()) for n in CURATE_ENTRIES}
                got = QUERIES[name](self.spark, self.sf_dir).toPandas()
                self.oracles = {n: f.result() for n, f in pending.items()}
            con.close()
        else:
            got = QUERIES[name](self.spark, self.sf_dir).toPandas()
        if name == "pipeline_curate_report":
            self.stage_rows = dict(zip(got["stage"], got["n_rows"]))
        res = compare_frames(name, got, self.oracles[name])
        return [] if res.ok else [f"{name}: {'; '.join(res.reasons)}"]


WORKLOADS = {w.name: w for w in (MigrateParquet, Curate)}
