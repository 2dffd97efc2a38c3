"""Round-10 optimization tests: internals changed by the r10 round
(schema-cached parquet reads, the small-side driver regime of four
operators behind ``plans.bounded_collect``) pinned against their
prior semantics."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def spark():
    from almost_any_file_to_pandas_spark.session import get_spark

    return get_spark("test_round10_opt")


def test_schema_cache_matches_inference_and_invalidates(spark, tmp_path):
    """plans._read_parquet must return the SAME schema the inference
    path returns (for every testdata table, including the
    TIMESTAMP(NANOS) events file), hit its cache on a second read,
    and invalidate when the file changes underneath it."""
    from almost_any_file_to_pandas_spark import plans
    from almost_any_file_to_pandas_spark.session import apply_engine_conf

    apply_engine_conf(spark)
    for name in plans.TABLES:
        path = f"{SF_DIR}/{name}.parquet"
        plans._SCHEMA_CACHE.clear()
        cold = plans._read_parquet(spark, path)
        assert plans._SCHEMA_CACHE, "first read must populate the cache"
        warm = plans._read_parquet(spark, path)
        inferred = spark.read.parquet(path)
        assert warm.schema == inferred.schema, name
        assert cold.schema == inferred.schema, name

    # rewriting the file must invalidate the cached entry (key carries
    # size + mtime_ns): write a one-column file, read it, then replace
    # it with a DIFFERENT schema at the same path
    p = str(tmp_path / "t.parquet")
    spark.range(3).toDF("a").coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "src1")
    )
    src1 = [
        f for f in os.listdir(tmp_path / "src1") if f.endswith(".parquet")
    ][0]
    shutil.copyfile(str(tmp_path / "src1" / src1), p)
    assert plans._read_parquet(spark, p).columns == ["a"]
    spark.range(3).selectExpr("id AS b", "id AS c").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "src2"))
    src2 = [
        f for f in os.listdir(tmp_path / "src2") if f.endswith(".parquet")
    ][0]
    shutil.copyfile(str(tmp_path / "src2" / src2), p)
    os.utime(p, ns=(1, 1))  # force a distinct mtime even on fast fs
    assert plans._read_parquet(spark, p).columns == ["b", "c"]


def test_schema_cache_keys_on_binary_as_string(spark, tmp_path):
    """Toggling a conf that changes parquet inference must not serve the
    schema cached under the other setting: an unannotated BINARY column
    reads as binary, then as string under
    ``spark.sql.parquet.binaryAsString``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from almost_any_file_to_pandas_spark import plans

    p = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}), p)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert dict(plans._read_parquet(spark, p).dtypes)["b"] == "binary"
        spark.conf.set(key, "true")
        assert dict(plans._read_parquet(spark, p).dtypes)["b"] == "string"
        spark.conf.set(key, "false")
        assert dict(plans._read_parquet(spark, p).dtypes)["b"] == "binary"
    finally:
        spark.conf.set(key, old)


# --------------------------------------------- small-side driver regime
#
# Four operators split into a driver regime under a row cap and a
# distributed regime above it, both gated by plans.bounded_collect.
# Every case runs the operator twice — default cap, then cap 0 — and
# the two must give identical rows or raise the same exception type.


def _edges(spark, pairs, src="u", dst="v"):
    return spark.createDataFrame(pairs, f"{src} long, {dst} long")


def _vectors(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def _doc_chain_edges(spark):
    """The edge set of the registered connected_components_alternating
    query (one chain per (source, lang))."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from almost_any_file_to_pandas_spark.plans import table

    docs = table(spark, SF_DIR, "documents")
    w = W.partitionBy("source", "lang").orderBy("doc_id")
    return docs.select(
        F.col("doc_id").alias("u"), F.lead("doc_id").over(w).alias("v")
    ).filter(F.col("v").isNotNull())


def _embeddings(spark, read=None):
    from pyspark.sql import functions as F

    from almost_any_file_to_pandas_spark.plans import table_wide

    return (read or table_wide)(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _small_vectors(n=40):
    return [
        (i, [((i * 7) % 13) / 13.0, ((i * 5) % 11) / 11.0, i / n])
        for i in range(n)
    ]


# duplicate edges, self-loops, a triangle (survives the 2-core) and
# a pendant path (peels away)
_DUP_EDGES = [
    (1, 2), (2, 3), (3, 1), (1, 2), (2, 1), (3, 3), (7, 7),
    (3, 4), (4, 5), (5, 6), (9, 8), (9, 8),
]


def _cc(spark, monkeypatch, dist, case):
    from almost_any_file_to_pandas_spark.operators.dedup import (
        connected_components_alternating,
    )

    edges = {
        "corpus": lambda: _doc_chain_edges(spark),
        "empty": lambda: _edges(spark, []),
        "dup_selfloop": lambda: _edges(spark, _DUP_EDGES),
    }[case]()
    kwargs = {"driver_cap": 0} if dist else {}
    return connected_components_alternating(edges, "u", "v", **kwargs)


def _kcore(spark, monkeypatch, dist, case):
    from almost_any_file_to_pandas_spark import plans
    from almost_any_file_to_pandas_spark.operators import dedup, graph

    if dist:
        monkeypatch.setattr(dedup, "CC_DRIVER_EDGE_CAP", 0)
    if case == "corpus":
        return plans.QUERIES["graph_kcore_trajectory"](spark, SF_DIR)
    pairs = [] if case == "empty" else _DUP_EDGES
    return graph.kcore_peel(_edges(spark, pairs, "u1", "u2"))


_VECTOR_CASES = {
    "empty": lambda: [],
    "null_first": lambda: [(-1, None)] + _small_vectors(),
    "null_other": lambda: _small_vectors()[:20] + [(20, None)]
    + _small_vectors()[21:],
    "ragged": lambda: _small_vectors() + [(99, [0.5, 0.5])],
    "over_q12": lambda: [(-1, [10.0, 0.0, 0.0])] + _small_vectors(),
}


def _kmeans(spark, monkeypatch, dist, case):
    from almost_any_file_to_pandas_spark.operators.features import (
        RFM_K,
        rfm_features,
    )
    from almost_any_file_to_pandas_spark.operators.ivf_kmeans import (
        deterministic_kmeans_centroids,
    )

    if case == "corpus":
        frame, k = _embeddings(spark), 8
    elif case == "rfm":
        frame, k = rfm_features(spark, SF_DIR), RFM_K
    else:
        frame, k = _vectors(spark, _VECTOR_CASES[case]()), 4
    kwargs = {"driver_cap": 0} if dist else {}
    return deterministic_kmeans_centroids(spark, frame, k, **kwargs)


def _kcenter(spark, monkeypatch, dist, case):
    from almost_any_file_to_pandas_spark.operators import (
        ivf_kmeans,
        similarity,
    )

    if dist:
        monkeypatch.setattr(ivf_kmeans, "KMEANS_DRIVER_ROW_CAP", 0)
    if case == "corpus":
        return similarity.sim_kcenter_greedy_coreset(spark, SF_DIR)
    return similarity.greedy_kcenter(
        _vectors(spark, _VECTOR_CASES[case]())
    )


_OPERATORS = {
    "cc": (_cc, ["corpus", "empty", "dup_selfloop"]),
    "kcore": (_kcore, ["corpus", "empty", "dup_selfloop"]),
    "kmeans": (_kmeans, ["corpus", "rfm", *_VECTOR_CASES]),
    "kcenter": (_kcenter, ["corpus", *_VECTOR_CASES]),
}


def _outcome(build):
    """Sorted result rows, or the type of the exception raised while
    building or collecting the result."""
    try:
        rows = build().collect()
    except Exception as exc:  # noqa: BLE001 — the type IS the outcome
        return ("raised", type(exc).__name__)
    return ("rows", sorted((tuple(r) for r in rows), key=repr))


@pytest.mark.parametrize(
    "op,case",
    [(op, case) for op, (_, cases) in _OPERATORS.items() for case in cases],
    ids=lambda x: x,
)
def test_driver_regime_matches_distributed(spark, monkeypatch, op, case):
    """Default cap vs cap 0: identical rows (bit-identical centroids,
    labels, trajectories) or the same exception type — on the sf0.01
    corpus, on empty input, on duplicate edges and self-loops, and on
    null, ragged and out-of-contract vectors (which the driver arms
    hand to the distributed loop)."""
    import almost_any_file_to_pandas_spark.operators.similarity  # noqa: F401
    from almost_any_file_to_pandas_spark import plans
    from almost_any_file_to_pandas_spark.session import apply_engine_conf

    plans.load_all()
    apply_engine_conf(spark)
    run = _OPERATORS[op][0]
    default = _outcome(lambda: run(spark, monkeypatch, False, case))
    forced = _outcome(lambda: run(spark, monkeypatch, True, case))
    assert default == forced
    if case in ("corpus", "rfm", "dup_selfloop"):
        assert default[0] == "rows" and default[1], default
    if case == "over_q12":
        assert default == ("raised", "ValueError")
    if (op, case) == ("kcenter", "corpus"):
        from almost_any_file_to_pandas_spark.operators import similarity

        assert len(default[1]) == similarity.KCENTER_K


def test_driver_lloyd_decimal_path_matches_jvm(spark):
    """``_driver_lloyd`` reproduces the JVM's double→decimal steps with
    ``Decimal(repr(x))``, which matches ``Double.toString`` only from
    JDK 19 on. Pin both steps over every vector component of the
    sf0.01 embeddings and of the RFM feature frame, in one job:
    ``CAST(val AS DECIMAL(30,15))`` (the distributed mean sum's cast)
    against ``Decimal(repr(float(val))).quantize(1e-15, HALF_UP)``,
    and ``round(x, 12)`` against its driver twin."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    # similarity must import before ivf_kmeans (module-level oracle
    # strings in similarity import back from ivf_kmeans)
    import almost_any_file_to_pandas_spark.operators.similarity  # noqa: F401
    from almost_any_file_to_pandas_spark.operators.features import (
        rfm_features,
    )
    from almost_any_file_to_pandas_spark.plans import table
    from almost_any_file_to_pandas_spark.session import apply_engine_conf

    apply_engine_conf(spark)

    def components(frame):
        val = frame.select(F.explode("v").alias("val"))
        x = F.col("val").cast("double")
        return val.select(
            x.alias("x"),
            F.col("val").cast("decimal(30,15)").alias("d15"),
            F.round(x, 12).alias("r12"),
        )

    emb = components(_embeddings(spark, table))  # no fan-out shuffle
    rfm = components(rfm_features(spark, SF_DIR))
    sc = spark.sparkContext
    sc.setJobGroup("decimal-pin", "compare components")
    try:
        rows = emb.unionByName(rfm).collect()
        jobs = list(sc.statusTracker().getJobIdsForGroup("decimal-pin"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 1
    assert len(rows) > 10_000
    q15 = Decimal(1).scaleb(-15)
    q12 = Decimal(1).scaleb(-12)
    bad15 = [
        r for r in rows
        if Decimal(repr(r["x"])).quantize(q15, ROUND_HALF_UP) != r["d15"]
    ]
    bad12 = [
        r for r in rows
        if float(Decimal(repr(r["x"])).quantize(q12, ROUND_HALF_UP))
        != r["r12"]
    ]
    assert not bad15, bad15[:5]
    assert not bad12, bad12[:5]


def test_bounded_collect_jobs(spark):
    """cap 0 starts no job; under the cap the gate starts no more jobs
    than the count + collect it replaced, and returns every row; at
    the cap it returns None."""
    from pyspark.sql import functions as F

    from almost_any_file_to_pandas_spark.plans import bounded_collect

    sc = spark.sparkContext
    df = spark.range(0, 500, numPartitions=4).withColumn(
        "g", F.col("id") % 7
    ).groupBy("g").agg(F.count("*").alias("n"))

    def jobs(fn):
        group = f"bounded-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "bounded_collect")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    for frame in (df, spark.range(0, 500, numPartitions=4)):
        none, n0 = jobs(lambda: bounded_collect(frame, 0))
        assert none is None and n0 == 0
        small, n_gate = jobs(lambda: bounded_collect(frame, 1 << 16))
        old, n_old = jobs(lambda: (frame.count(), frame.collect())[1])
        assert sorted(small) == sorted(old)
        assert n_gate <= n_old, (n_gate, n_old)
        n = len(old)
        assert bounded_collect(frame, n) is None
        assert len(bounded_collect(frame, n + 1)) == n


def test_no_hand_rolled_regime_gate():
    """``if … .count() < cap`` (or ``n = df.count()`` … ``if n < cap``)
    outside plans.bounded_collect is a fifth hand-rolled driver/
    distributed split — route it through the helper. Comparisons
    against a literal (``n <= 1`` degenerate guards) are not gates."""
    import ast
    from pathlib import Path

    import almost_any_file_to_pandas_spark

    pkg = Path(almost_any_file_to_pandas_spark.__file__).parent

    def is_count(node):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "count"
            and not node.args
            and not node.keywords
        )

    order = (ast.Lt, ast.LtE, ast.Gt, ast.GtE)
    offenders = set()
    for path in sorted([*pkg.glob("operators/*.py"), *pkg.glob("plans/*.py")]):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if fn.name == "bounded_collect":
                continue
            counted = {
                t.id
                for n in ast.walk(fn)
                if isinstance(n, ast.Assign) and is_count(n.value)
                for t in n.targets
                if isinstance(t, ast.Name)
            }

            def size(x):
                return is_count(x) or (
                    isinstance(x, ast.Name) and x.id in counted
                )

            for n in ast.walk(fn):
                if not isinstance(n, (ast.If, ast.IfExp, ast.While)):
                    continue
                for c in ast.walk(n.test):
                    if not isinstance(c, ast.Compare):
                        continue
                    sides = [c.left, *c.comparators]
                    for op, lhs, rhs in zip(c.ops, sides, sides[1:]):
                        if isinstance(op, order) and any(
                            size(a) and not isinstance(b, ast.Constant)
                            for a, b in ((lhs, rhs), (rhs, lhs))
                        ):
                            offenders.add(f"{path.name}:{c.lineno}")
    assert not offenders, sorted(offenders)


def test_table_events_ts_conversion_survives_schema_cache(spark):
    """The nanos→timestamp conversion in plans.table() keys off the
    arriving dtype — with the schema cache the cached dtype must take
    the same branch and produce identical rows."""
    from almost_any_file_to_pandas_spark import plans
    from almost_any_file_to_pandas_spark.session import apply_engine_conf

    apply_engine_conf(spark)
    plans._SCHEMA_CACHE.clear()
    cold = plans.table(spark, SF_DIR, "events").select("ts").limit(5)
    cold_rows = [r["ts"] for r in cold.collect()]
    warm = plans.table(spark, SF_DIR, "events").select("ts").limit(5)
    warm_rows = [r["ts"] for r in warm.collect()]
    assert cold_rows == warm_rows
    assert dict(warm.dtypes)["ts"] == "timestamp"
