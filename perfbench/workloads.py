"""The workloads: inputs, op lists, per-pass reset and output checks.

Each op is one call into the engine's public surface, attributed to the
layer it enters (``layer_of``):

- ``lead_ingest``: one ``ingest_directory`` per landing day with an
  ``IngestLedger`` (``run_pipeline`` wraps the same call but takes no
  ledger) -> ``sources.ingest``;
- ``registry_mix``: ``QUERIES[q](spark, dir)`` (span ``build``) and an
  Arrow collect of its result (span ``exec``), which the checks then
  compare with the query's DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from datetime import date

from . import gen

# One op per engine layer, each a cheap registry query that enters it,
# so that a run's time budget holds two warm-up passes and three timed
# ones: a TxTable copy-on-write delete (create, append, rewrite, empty
# commit), SQL over a TxTable, a relational join, SimHash near-dup
# pairs, transitive closure, duplicated-span coverage and exact cosine
# top-k.
REGISTRY_OPS = [
    "q_txtable_delete", "q_txtable_sql_select", "q_join_inner",
    "q_dedup_simhash", "q_graph_closure", "q_text_dup_spans", "q_sim_topk",
]

LAYERS = [
    "sources.ingest", "queries", "sources.txtable", "sources.sqldml",
    "operators.dedup", "operators.graph", "operators.text",
    "operators.similarity",
]


def layer_of(op: str) -> str:
    if op.startswith("day_"):
        return "sources.ingest"
    if op.startswith("q_txtable_sql_"):
        return "sources.sqldml"
    for prefix, layer in (
        ("q_txtable_", "sources.txtable"), ("q_dedup_", "operators.dedup"),
        ("q_graph_", "operators.graph"), ("q_text_", "operators.text"),
        ("q_sim_", "operators.similarity"),
    ):
        if op.startswith(prefix):
            return layer
    return "queries"


@dataclass
class Workload:
    name: str
    why: str
    ops: list[str] = field(default_factory=list)
    inputs: dict = field(default_factory=dict)

    def prepare(self, seed: int, work: str) -> None:
        raise NotImplementedError

    def reset(self, spark, pass_no: int) -> None:
        """Untimed: restore the state a pass starts from."""

    def run(self, spark, op: str, tracer):
        raise NotImplementedError

    def check(self, op: str, out) -> list[str]:
        """Problems with one op's output (empty when correct)."""
        return []

    def check_final(self, spark) -> dict[str, list[str]]:
        """Problems visible only in the state the last pass left."""
        return {}


# -------------------------------------------------------- registry --

class RegistryWorkload(Workload):
    """Registry queries over the shifted, ``copies``-fold replica of a
    generated sf0.01-sized star schema."""

    def __init__(self, name, why, ops, copies):
        super().__init__(name, why, list(ops))
        self._copies = copies
        self._expected: dict[str, object] = {}
        self._first: dict[str, object] = {}

    def prepare(self, seed, work):
        t = gen.shifted(gen.replicate(gen.star_schema(seed), self._copies))
        self.data_dir = os.path.join(work, "inputs", self.name)
        nbytes = gen.write_tables(t, self.data_dir)
        self.inputs = {
            "dir": os.path.relpath(self.data_dir, os.path.dirname(work)),
            "rows": {k: v.num_rows for k, v in sorted(t.items())},
            "parquet_mb": round(nbytes / 1e6, 2),
            "copies": self._copies,
            "shifted": True,
        }

    def run(self, spark, op, tracer):
        from etl_pipeline_fresh_picked_leads_spark.queries import QUERIES

        with tracer.span("build", op=op):
            df = QUERIES[op](spark, self.data_dir)
        with tracer.span("exec", op=op):
            return df.toArrow()

    def _oracle(self, op):
        if op not in self._expected:
            import duckdb

            from etl_pipeline_fresh_picked_leads_spark.queries import ORACLE

            con = duckdb.connect()
            for f in sorted(os.listdir(self.data_dir)):
                path = os.path.join(self.data_dir, f)
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
            self._expected[op] = con.sql(ORACLE[op]).arrow()
            con.close()
        return self._expected[op]

    def check(self, op, out):
        """The first output of each op is compared with the oracle the
        way ``tools/check_oracle.py`` does; later outputs of the same
        op must equal that first one as a multiset of rows."""
        from tools.check_oracle import compare, compare_types

        rows = _sorted_rows(out)
        if op not in self._first:
            expected = self._oracle(op)
            self._first[op] = rows
            return compare_types(out, expected) + compare(
                op, out.to_pandas(), expected.to_pandas())
        if not rows.equals(self._first[op]):
            return ["rows differ from the op's first output"]
        return []


def _sorted_rows(tbl):
    return tbl.sort_by([(c, "ascending") for c in tbl.column_names])


# ----------------------------------------------------------- ingest --

class LeadIngest(Workload):
    """D landing days of four lead CSVs, one ingest per day."""

    def __init__(self, name, why, days, rows, every_kth):
        super().__init__(name, why, [f"day_{d:02d}" for d in range(1, days + 1)])
        self._days, self._rows, self._k = days, rows, every_kth

    def prepare(self, seed, work):
        self.work = work
        self.src = os.path.join(work, "inputs", self.name)
        self.leads = gen.lead_days(seed, self.src, self._days, self._rows, self._k)
        self.inputs = {
            "dir": os.path.relpath(self.src, os.path.dirname(work)),
            "days": self._days,
            "tables": gen.N_TABLES,
            "rows_per_file": self._rows,
            "csv_mb": round(self.leads.input_bytes / 1e6, 2),
            "dirty_every_kth_row": self._k,
        }

    def reset(self, spark, pass_no):
        from etl_pipeline_fresh_picked_leads_spark.sources.ledger import IngestLedger

        for t in self.leads.expected_rows:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        self.warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(self.warehouse, ignore_errors=True)
        land = os.path.join(self.work, "landing")
        shutil.rmtree(land, ignore_errors=True)
        for d in range(1, self._days + 1):
            day = f"day_{d:02d}"
            os.makedirs(os.path.join(land, day))
            for f in os.listdir(os.path.join(self.src, day)):
                os.link(os.path.join(self.src, day, f), os.path.join(land, day, f))
        self.landing = land
        self.ledger = IngestLedger(os.path.join(land, "_ledger.jsonl"))

    def run(self, spark, op, tracer):
        from etl_pipeline_fresh_picked_leads_spark.sources.ingest import ingest_directory

        d = int(op.split("_")[1])
        return ingest_directory(
            spark, os.path.join(self.landing, op),
            run_date=date(2024, 1, d), ledger=self.ledger,
        )

    def loaded_bytes(self, op, out) -> int:
        day = os.path.join(self.src, op)
        return sum(os.path.getsize(os.path.join(day, f)) for f in out.loaded)

    def output_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(self.warehouse)
            for f in files
        )

    def check(self, op, out):
        files = self.leads.days[int(op.split("_")[1]) - 1]
        want_loaded = sorted(f.name for f in files if not f.relanded)
        want_skipped = sorted(f.name for f in files if f.relanded)
        problems = []
        if out.failed:
            problems.append(f"failed: {sorted(out.failed)}")
        if sorted(out.loaded) != want_loaded:
            problems.append(f"loaded {sorted(out.loaded)} != {want_loaded}")
        if sorted(out.skipped) != want_skipped:
            problems.append(f"skipped {sorted(out.skipped)} != {want_skipped}")
        return problems

    def check_final(self, spark):
        """Per table: row count = generated rows, NULL est_value = the
        planted un-castable cells, Ingestion_date never NULL."""
        from pyspark.sql import functions as F

        problems = []
        for t, rows in sorted(self.leads.expected_rows.items()):
            r = spark.table(t).agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col(gen.CORRUPT_COL).isNull(), 1)).alias("nulls"),
                F.count(F.when(F.col("Ingestion_date").isNull(), 1)).alias("undated"),
            ).first()
            want = (rows, self.leads.expected_nulls[t], 0)
            if (r.n, r.nulls, r.undated) != want:
                problems.append(f"{t}: (rows, nulls, undated)={tuple(r)} != {want}")
        return {self.ops[-1]: problems} if problems else {}


def make_workloads() -> dict[str, Workload]:
    """Fresh workload objects by name, in BENCHMARK.json order."""
    return {
        w.name: w
        for w in (
            LeadIngest(
                "lead_ingest",
                "the paper's write path: CSV inference, SAFE_CAST reconcile, "
                "date stamp, saveAsTable and ledger skips, with no query work",
                days=4, rows=20000, every_kth=50,
            ),
            RegistryWorkload(
                "registry_mix",
                "one registry op per engine layer (TxTable, SQL, joins, "
                "dedup, graph, text, similarity) on a shifted 2x star "
                "schema; never enters the ingest path",
                REGISTRY_OPS, copies=2,
            ),
        )
    }
