"""The three benchmark workloads: inputs, ops and output checks.

An op is one closed-loop request. Each op runs in named phases whose
wall-clock windows are recorded, so the event-log reader can attribute
every Spark job to the phase that started it:

* ``org_extract`` ops run the CLI ``extract`` path for one organization:
  ``load`` (``__main__.load_sources``), ``build``
  (``entities.assemble.build_payload``) and ``write``
  (``write_payload_json``).
* registry ops run one query of ``g1_etl_spark.plans.registry``:
  ``build`` (the registered fn), ``plan``
  (``queryExecution().executedPlan()``) and ``exec`` (``collect()``).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import datagen

# Registry queries whose time at sf0.01 is mostly exec (shuffle,
# aggregation, Python workers) ... The slowest op runs first: the first op
# of a pass pays most of the JIT warm-up, and on an op far from the
# median latency that cost leaves op_p50_s alone.
ANALYTIC_EXEC = [
    "fuzzy_id_transpositions", "q1_pricing_summary",
    "q5_local_supplier_volume", "q21_late_supplier_blame",
    "revenue_by_nation", "agg_cube", "window_analytics", "join_salted_skew",
    "orders_basket_triples", "orders_rule_lift", "multimodal_features",
]
# ... and mostly build (eager checkpoints, driver collects, thread pools).
CURATION_BUILD = [
    "pipeline_curate_select", "dedup_canonical_keep",
    "stats_spearman_qty_price", "graph_betweenness_trade",
    "dq_drift_report", "entity_org_payload_json",
]

# The extract fixture does not vary with the seed, so that every payload
# can be checked against a hash recorded from a known-good commit; the
# seed picks which organizations are extracted and in which order.
FIXTURES = {
    "full": {"n_orgs": 12, "members_per_org": 1000, "seed": 0},
    "tiny": {"n_orgs": 2, "members_per_org": 50, "seed": 0},
}
EXTRACTS_PER_PASS = 3
EXTRACTED_DATE = 1_600_000_000  # pinned so payload bytes are stable
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "expected.json")


class Phases:
    """Records ``(op, phase, start, end)`` windows around layer calls."""

    def __init__(self, windows: list, op: str):
        self.windows, self.op, self.times = windows, op, {}

    def run(self, phase: str, fn, *args):
        start = time.time()
        try:
            return fn(*args)
        finally:
            end = time.time()
            self.windows.append((self.op, phase, start, end))
            self.times[phase] = end - start



class Workload:
    """Base: ``prepare`` writes inputs, ``ops`` lists one pass,
    ``run_op`` runs one op, ``check`` verifies the outputs of a pass."""

    def __init__(self, name: str, seed: int, tiny: bool, work_dir: str):
        self.name, self.seed, self.tiny = name, seed, tiny
        self.work_dir = work_dir
        self.outputs: dict = {}

    def ops(self) -> list[str]:
        raise NotImplementedError


class OrgExtract(Workload):
    def prepare(self) -> None:
        self.fixture = FIXTURES["tiny" if self.tiny else "full"]
        self.data = os.path.join(self.work_dir, "mmj")
        self.orgs = datagen.mmj_fixture(self.data, **self.fixture)
        self.out_dir = os.path.join(self.work_dir, "out")
        os.makedirs(self.out_dir, exist_ok=True)

    def ops(self) -> list[str]:
        orgs = random.Random(self.seed).sample(self.orgs, len(self.orgs))
        return [str(d) for d in orgs[:1 if self.tiny else EXTRACTS_PER_PASS]]

    def run_op(self, spark, op: str, phases: Phases) -> dict:
        from g1_etl_spark.__main__ import load_sources
        from g1_etl_spark.entities.assemble import build_payload, write_payload_json

        dispensary = int(op)
        path = os.path.join(self.out_dir, f"mmj-{1000 + dispensary}.json")
        sources = phases.run("load", load_sources, spark, self.data)
        payload = phases.run("build", build_payload, sources, dispensary,
                             str(1000 + dispensary), False, EXTRACTED_DATE)
        phases.run("write", write_payload_json, payload, path)
        self.outputs[op] = path
        return {"write_mb": os.path.getsize(path) / 2**20}

    def check(self) -> dict[str, bool]:
        expected = expected_hashes(self.fixture)
        return {op: expected.get(op) == _sha256(path)
                for op, path in self.outputs.items()}

    def record(self) -> None:
        """Store the payload hashes of this run as the expected ones."""
        with open(EXPECTED) as f:
            table = json.load(f)
        key = _fixture_key(self.fixture)
        table.setdefault(key, {}).update(
            {op: _sha256(path) for op, path in self.outputs.items()})
        with open(EXPECTED, "w") as f:
            json.dump(table, f, indent=2, sort_keys=True)
            f.write("\n")


class RegistryQueries(Workload):
    def prepare(self) -> None:
        self.sf = 0.001 if self.tiny else 0.01
        self.data = os.path.join(self.work_dir, f"sf{self.sf}")
        datagen.star_schema(self.data, self.sf, self.seed)
        # the DuckDB oracle needs only the inputs: run it while the JVM
        # starts, on two threads, so that it adds no time to the run
        pool = ThreadPoolExecutor(1)
        self.oracle = pool.submit(self._oracle_rows, self.ops())
        pool.shutdown(wait=False)

    def ops(self) -> list[str]:
        # a fixed order: a seeded one would move the warm-up cost of the
        # first ops between ops from run to run
        names = ANALYTIC_EXEC if self.name == "analytic_exec" else CURATION_BUILD
        return names[:1] if self.tiny else list(names)

    def run_op(self, spark, op: str, phases: Phases) -> dict:
        from g1_etl_spark.plans.registry import REGISTRY

        df = phases.run("build", REGISTRY[op].fn, spark, self.data)
        phases.run("plan", lambda: df._jdf.queryExecution().executedPlan())
        rows = phases.run("exec", df.collect)
        self.outputs[op] = (df.columns, [tuple(r) for r in rows])
        return {}

    def _oracle_rows(self, ops: list[str]) -> dict:
        import duckdb
        from oracle_utils import canon_rows

        from g1_etl_spark.catalog import TABLES
        from g1_etl_spark.plans.registry import REGISTRY

        con = duckdb.connect(config={"threads": 2})
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.data, t)}.parquet')")
        out = {}
        for op in ops:
            cur = con.execute(REGISTRY[op].oracle)
            out[op] = canon_rows([d[0] for d in cur.description], cur.fetchall())
        con.close()
        return out

    def check(self) -> dict[str, bool]:
        from oracle_utils import canon_rows

        expected = self.oracle.result()
        return {op: canon_rows(cols, rows) == expected[op]
                for op, (cols, rows) in self.outputs.items()}


def make(name: str, seed: int, tiny: bool, work_dir: str) -> Workload:
    cls = OrgExtract if name == "org_extract" else RegistryQueries
    return cls(name, seed, tiny, work_dir)


def _sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _fixture_key(fixture: dict) -> str:
    return "mmj_orgs{n_orgs}_members{members_per_org}_seed{seed}".format(**fixture)


def expected_hashes(fixture: dict) -> dict:
    with open(EXPECTED) as f:
        return json.load(f).get(_fixture_key(fixture), {})
