"""Probe mixes: read-only query plans from ``plans.all_probes()``.

One client runs the mix closed-loop: build the probe's DataFrame, write
it to the noop sink, next probe. The seed permutes the order within
each pass. Inputs are the stored sf tables under ``data/``; the checks
compare each probe's collected result, order-insensitively, with the
hash of its DuckDB oracle stored in ``oracle.json`` (``make_oracle.py``).
The checks run in the warm-up pass, outside the timed window.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import traceback
from datetime import date, datetime
from decimal import Decimal
from fractions import Fraction

from ark_invest_api_rust_data_spark.plans import all_probes

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = {"bench": f"{HERE}/data/sf0.01", "tiny": f"{HERE}/data/sf0.001"}
ORACLE = f"{HERE}/oracle.json"

MIXES = {
    # Python/Arrow boundary and iterative driver loops, one probe per
    # operator family, plus the company-cleanup chain at corpus scale
    "llm_curation": [
        "llm_minhash_lsh", "llm_kmeans", "llm_similarity_topk", "llm_pq_topk",
        "llm_quality_filter", "llm_multimodal_jpeg", "graph_pagerank",
        "llm_bm25_topk", "parity_company_bulk",
    ],
    # executor, shuffle and scan, no Python: the control for holdings-side
    # changes and the target for engine-level ones
    "warehouse_queries": [
        "b02_star_join", "b02_q3_shipping_priority", "b03_full_outer",
        "b05_theta_join", "b06_asof_join", "b07_agg_q1", "b08_percentile",
        "b11_window_rank", "b12_window_running", "b21_window_tumbling",
        "b13_topk", "b22_sessionize", "b07_robust_outliers",
        "w02_matview_refresh", "s02_lake_pruned_read", "s08_agg_pushdown",
    ],
}


def _cell(v):
    """Canonical text of one value. Numbers go through Fraction, so an int,
    a float and a Decimal of equal value read the same, as they compare
    equal in the oracle gate."""
    if isinstance(v, bool) or v is None:
        return repr(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (int, float, Decimal)):
        return f"n:{Fraction(v)}"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _cell(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return f"s:{v}"


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    sorted by their canonical text."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(json.dumps([_cell(r[i]) for i in order]) for r in rows)
    h = hashlib.sha256(json.dumps([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest()


class ProbeMix:
    def __init__(self, name, spark, rec, seed: int, scale: str):
        self.spark, self.rec = spark, rec
        self.sf, self.scale = SF_DIR[scale], scale
        self.rng = random.Random(seed)
        probes = all_probes()
        self.probes = [probes[n] for n in MIXES[name]]
        self.wrong: set[str] = set()

    def inputs(self) -> None:
        with open(ORACLE) as f:
            self.oracle = json.load(f)[self.scale]

    def warmup(self) -> None:
        """One pass that collects every result and checks it."""
        for p in self._order():
            try:
                df = p.spark(self.spark, self.sf)
                ok = result_hash(df.columns, df.collect()) == self.oracle[p.name]
            except Exception:  # noqa: BLE001 - a probe that raises fails its ops
                traceback.print_exc()
                ok = False
            if not ok:
                self.wrong.add(p.name)

    def one_pass(self) -> None:
        for p in self._order():
            with self.rec.op(p.name):
                with self.rec.span("plans.build"):
                    df = p.spark(self.spark, self.sf)
                with self.rec.span("plans.exec"):
                    df.write.format("noop").mode("overwrite").save()

    def finish(self) -> None:
        pass

    def _order(self):
        order = list(self.probes)
        self.rng.shuffle(order)
        return order

    def check(self) -> tuple[set[str], dict]:
        return self.wrong, {}

    def op_failed(self, op: dict, bad: set[str]) -> bool:
        return op["name"] in bad
