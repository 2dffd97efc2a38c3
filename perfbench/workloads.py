"""The two workloads: their operations and the checks of their
outputs.

Each operation is timed from the call until its result is fully
consumed. Phases are tagged through the tracer: ``construct`` (the
``parse()`` call or the registry callable), ``info`` (``parse_info``)
and ``exec`` (the sink). Every operation returns what its check needs,
so no check re-runs an operation on the timed path.
"""

from __future__ import annotations

import re
import sys
from dataclasses import dataclass
from pathlib import Path
from typing import Callable, Optional

# Registry queries of the operators workload: the six rows that
# regressed in round 10, one query of each family those six do not
# cover (relational, graph, multimodal), and the two small-side regime
# operators forced onto their distributed path (driver_cap=0).
FAMILY_QUERIES = (
    "q18_large_orders",  # TPC-H relational
    "graph_kcore_trajectory",  # graph
    "mm_png_decode_census",  # multimodal
)
REGRESSED_QUERIES = (
    "sim_ivfpq_topk",  # similarity
    "retrieval_bm25_rational_topk",  # retrieval
    "events_funnel_ordered",  # events
    "dedup_ngram_jaccard",  # dedup
    "dedup_containment",  # dedup
    "text_vocab_coverage_curve",  # text
)
KMEANS_K = 16


@dataclass
class IngestOp:
    """parse(path) → parse_info on every result → each result written
    to parquet through ``sinks.write`` (the file→parquet conversion).
    Returns the parquet paths written."""

    name: str
    path: str
    nbytes: int
    out_dir: Path

    def run(self, ctx, tr):
        parse_mod = sys.modules["almost_any_file_to_pandas_spark.parse"]
        with tr.phase(self.name, "construct"):
            results = parse_mod.parse(ctx.spark, self.path)
        with tr.phase(self.name, "info"):
            failed = [r for r in results if r.parse_info != "OK"]
        tr.count("parse.results", len(results))
        tr.count("parse.ok", len(results) - len(failed))
        tr.count("file.bytes", self.nbytes)
        if failed:
            raise RuntimeError(f"parse_info Failed on {len(failed)} of {len(results)}")
        written = []
        with tr.phase(self.name, "exec"):
            for i, r in enumerate(results):
                written.append(ctx.sinks.write(
                    r.data, self.out_dir / f"{self.name}_{i}.parquet", mode="overwrite"))
        return written


@dataclass
class QueryOp:
    """A registry callable, or a regime-forced operator call, consumed
    by collecting its rows. Returns (columns, rows)."""

    name: str
    build: Callable  # (spark, sf_dir) -> DataFrame
    oracle_name: Optional[str]  # registry name whose oracle applies
    reference: Optional[Callable] = None  # default-regime twin
    nbytes: int = 0

    def run(self, ctx, tr):
        with tr.phase(self.name, "construct"):
            df = self.build(ctx.spark, ctx.sf_dir)
        with tr.phase(self.name, "exec"):
            rows = df.collect()
        return df.columns, [tuple(r) for r in rows]


# ----------------------------------------------------------- operators


def _cc_cap0(spark, sf_dir):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from almost_any_file_to_pandas_spark.operators.dedup import (
        connected_components_alternating,
    )
    from almost_any_file_to_pandas_spark.plans import table
    from almost_any_file_to_pandas_spark.session import apply_engine_conf

    # the edge set of the registered connected_components_alternating
    # query, with the driver union-find regime switched off
    apply_engine_conf(spark)
    docs = table(spark, sf_dir, "documents")
    w = W.partitionBy("source", "lang").orderBy("doc_id")
    edges = docs.select(
        F.col("doc_id").alias("u"), F.lead("doc_id").over(w).alias("v")
    ).filter(F.col("v").isNotNull())
    comp = connected_components_alternating(edges, "u", "v", driver_cap=0)
    return comp.select(F.col("u").alias("doc_id"), F.col("lbl").alias("component_id"))


def _kmeans(driver_cap):
    def build(spark, sf_dir):
        from pyspark.sql import functions as F

        from almost_any_file_to_pandas_spark.operators.ivf_kmeans import (
            KMEANS_DRIVER_ROW_CAP,
            deterministic_kmeans_centroids,
        )
        from almost_any_file_to_pandas_spark.plans import table_wide
        from almost_any_file_to_pandas_spark.session import apply_engine_conf

        apply_engine_conf(spark)
        emb = table_wide(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        cap = KMEANS_DRIVER_ROW_CAP if driver_cap is None else driver_cap
        return deterministic_kmeans_centroids(spark, emb, KMEANS_K, driver_cap=cap)

    return build


def _table_bytes(sf_dir: str, sql: str, tables) -> int:
    """Bytes of the testdata tables a query reads, named in its oracle."""
    import os

    names = {t for t in tables if re.search(rf"\b{t}\b", sql)}
    return sum(os.path.getsize(f"{sf_dir}/{t}.parquet") for t in names)


def operator_ops(sf_dir: str) -> list:
    from check_oracle import TABLES

    from almost_any_file_to_pandas_spark import plans

    ops = []
    for name in FAMILY_QUERIES + REGRESSED_QUERIES:
        ops.append(QueryOp(
            name, lambda spark, sf, n=name: plans.QUERIES[n](spark, sf), name,
            nbytes=_table_bytes(sf_dir, plans.ORACLES.get(name, ""), TABLES),
        ))
    cc = "connected_components_alternating"
    ops.append(QueryOp(
        f"{cc}.cap0", _cc_cap0, cc,
        reference=lambda spark, sf: plans.QUERIES[cc](spark, sf),
        nbytes=_table_bytes(sf_dir, "documents", TABLES),
    ))
    ops.append(QueryOp(
        "deterministic_kmeans_centroids.cap0", _kmeans(0), None,
        reference=_kmeans(None),
        nbytes=_table_bytes(sf_dir, "embeddings", TABLES),
    ))
    return ops


def expected_prints(ctx, ops, cache: Path) -> dict:
    """{op name: {"oracle": print or None, "reference": print or None}}.

    A print is check_oracle's (sha256, rows, sorted columns). The DuckDB
    oracle and the default-regime twin do not change while the code and
    testdata do not, so their prints are computed once and kept in
    ``cache`` (a file named by the caller after that state)."""
    import json

    if cache.is_file():
        return json.loads(cache.read_text())
    from check_oracle import frame_fingerprint, make_duckdb_views

    from almost_any_file_to_pandas_spark import plans

    con = make_duckdb_views(ctx.sf_dir)
    prints = {}
    try:
        for op in ops:
            entry = {"oracle": None, "reference": None}
            oracle = plans.ORACLES.get(op.oracle_name) if op.oracle_name else None
            if oracle is not None:
                cur = con.execute(oracle)
                entry["oracle"] = frame_fingerprint(
                    [d[0] for d in cur.description], cur.fetchall())
            if op.reference is not None:
                ref = op.reference(ctx.spark, ctx.sf_dir)
                entry["reference"] = frame_fingerprint(
                    ref.columns, [tuple(r) for r in ref.collect()])
            prints[op.name] = entry
    finally:
        con.close()
    tmp = cache.with_suffix(".tmp")
    tmp.write_text(json.dumps(prints))
    tmp.replace(cache)
    return json.loads(cache.read_text())


def check_operators(ctx, ops, outputs: dict, cache: Path) -> list:
    """Compare each operation's collected rows with its DuckDB oracle
    (the fingerprint rule of tools/check_oracle.py); a regime-forced
    operation must also equal its default-regime twin; a query with
    neither (sim_ivfpq_topk) must return rows. Returns one error string
    per failing operation."""
    from check_oracle import frame_fingerprint

    expected = expected_prints(ctx, ops, cache)
    errors = []
    for op in ops:
        if op.name not in outputs:
            continue
        got = list(frame_fingerprint(*outputs[op.name]))
        want = expected[op.name]
        if want["oracle"] is not None and got != want["oracle"]:
            errors.append(f"{op.name}: (rows, columns) {got[1:]} != oracle "
                          f"{want['oracle'][1:]} or values differ")
        elif want["reference"] is not None and got != want["reference"]:
            errors.append(f"{op.name}: differs from the default regime")
        elif want["oracle"] is None and want["reference"] is None and not got[1]:
            errors.append(f"{op.name}: no oracle, and no rows")
    return errors


def check_ingest(manifest, outputs: dict) -> list:
    """Read back every parquet file an ingest op wrote and compare
    (rows, cols, crc) per result with the manifest."""
    import verify

    got = {path: [verify.parquet_print(Path(p)) for p in written]
           for path, written in outputs.items()}
    return verify.compare(manifest, got)
