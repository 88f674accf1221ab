"""Behaviour pins for the iterative operators: ``connected_components``
against a pure-Python union-find, and ``kmeans_centroids`` against the
exact centroids (as ``float.hex``) of the distributed Lloyd trainer.

Inputs are Arrow tables or ``spark.range`` projections, so building them
forks no Python worker.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from hiv_data_integration_spark.operators import dedup as dd
from hiv_data_integration_spark.operators import similarity as sim

# name -> (edges, arrow id type)
GRAPHS = {
    "chain": ([(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], pa.int64()),
    "self_pair_only": ([(7, 7), (1, 2)], pa.int64()),
    "reversed_and_duplicate": (
        [(2, 1), (1, 2), (1, 2), (3, 2), (9, 8), (8, 9)],
        pa.int64(),
    ),
    "null_endpoint": ([(1, None), (2, 3), (None, None), (3, 4)], pa.int64()),
    "int_ids": ([(30, 20), (20, 10), (5, 5), (40, 41)], pa.int32()),
}


def graph_frame(spark, name):
    edges, id_type = GRAPHS[name]
    table = pa.table(
        {
            "id_a": pa.array([a for a, _ in edges], id_type),
            "id_b": pa.array([b for _, b in edges], id_type),
        }
    )
    return spark.createDataFrame(table)


def reference_components(edges) -> dict:
    """Node -> smallest id reachable through the edges. A null endpoint is
    a node of its own that joins nothing (its component is null)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        for x in (a, b):
            parent.setdefault(x, x)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: (None if x is None else find(x)) for x in parent}


# the null-endpoint graph under propagation is checked on both paths in
# test_connected_components_paths_agree
CASES = [
    (name, algorithm)
    for name in sorted(GRAPHS)
    for algorithm in ("propagation", "star")
    if (name, algorithm) != ("null_endpoint", "propagation")
]


@pytest.mark.parametrize(("name", "algorithm"), CASES)
def test_connected_components_matches_reference(spark, name, algorithm):
    pairs = graph_frame(spark, name)
    out = dd.connected_components(pairs, algorithm=algorithm)
    id_type = "int" if name == "int_ids" else "bigint"
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        id_type,
        id_type,
    ]
    rows = out.collect()
    assert len(rows) == len({r["id"] for r in rows})
    assert {r["id"]: r["component"] for r in rows} == reference_components(
        GRAPHS[name][0]
    )


def _vectors(spark, rows):
    return spark.createDataFrame(
        pa.table(
            {
                "vec_id": pa.array([i for i, _ in rows], pa.int64()),
                "embedding": pa.array([v for _, v in rows], pa.list_(pa.float32())),
            }
        )
    )


def kmeans_case(spark, name):
    """(corpus, kmeans kwargs) for one pinned training set."""
    if name == "distance_tie":
        # id 2 sits halfway between the two init centroids: the tie goes
        # to index 0
        rows = [(0, [0.0, 0.0]), (1, [2.0, 0.0]), (2, [1.0, 0.0]),
                (3, [1.0, 0.5]), (4, [3.0, 1.0]), (5, [-1.0, 0.25])]
        return _vectors(spark, rows), {"n_clusters": 2, "iters": 3}
    if name == "empty_cluster":
        # two identical init vectors: every distance ties, cluster 1 stays
        # empty and keeps its centroid
        rows = [(0, [0.5, 0.5, 0.5]), (1, [0.5, 0.5, 0.5]), (2, [1.0, 2.0, 3.0]),
                (3, [4.0, 5.0, 6.0]), (4, [0.1, 0.2, 0.3])]
        return _vectors(spark, rows), {"n_clusters": 3, "iters": 2}
    if name == "non_finite":
        rows = [(0, [0.0, 1.0]), (1, [5.0, 5.0]), (2, [float("nan"), 1.0]),
                (3, [float("inf"), 2.0]), (4, [4.5, 5.5]), (5, [0.25, 0.75]),
                (6, [-float("inf"), 0.0])]
        return _vectors(spark, rows), {"n_clusters": 3, "iters": 3}
    if name == "sampled":
        corpus = spark.range(60).selectExpr(
            "id AS vec_id",
            "array(cast(id % 7 AS float) / 3, cast(id % 5 AS float) * 1.1,"
            " cast(id AS float) / 10) AS embedding",
        )
        return corpus, {"n_clusters": 3, "iters": 3, "sample_fraction": 0.5}
    raise KeyError(name)


# float.hex of the centroids the distributed Lloyd trainer returns
KMEANS_PINS = {
    "distance_tie": [
        ["0x1.0000000000000p-2", "0x1.8000000000000p-3"],
        ["0x1.4000000000000p+1", "0x1.0000000000000p-1"],
    ],
    "empty_cluster": [
        ["0x1.99999a0000000p-4", "0x1.99999a0000000p-3", "0x1.3333340000000p-2"],
        ["0x1.0000000000000p-1", "0x1.0000000000000p-1", "0x1.0000000000000p-1"],
        ["0x1.4000000000000p+1", "0x1.c000000000000p+1", "0x1.2000000000000p+2"],
    ],
    "non_finite": [
        ["nan", "0x1.16db6db6db6dbp+1"],
        ["nan", "0x1.9000000000000p+1"],
        ["nan", "0x1.0000000000000p+0"],
    ],
    "sampled": [
        ["0x1.1555555555555p+0", "0x1.c99999999999bp+1", "0x1.3333333333334p+0"],
        ["0x1.0e38e38e38e39p+0", "0x1.e111111111111p+1", "0x1.0333333333333p+2"],
        ["0x1.5555555555555p-1", "0x1.a666666666666p-1", "0x1.a19999999999ap+1"],
    ],
}


@pytest.mark.parametrize("name", sorted(KMEANS_PINS))
def test_kmeans_centroids_pinned(spark, name):
    corpus, kwargs = kmeans_case(spark, name)
    got = [[float(x).hex() for x in c] for c in sim.kmeans_centroids(corpus, **kwargs)]
    assert got == KMEANS_PINS[name]


def test_centroid_norm_is_a_left_fold(spark):
    """``c·c`` enters the distance plan as a literal and must be the same
    left fold from 0.0 that ``F.aggregate`` computes: for [1e8, 1, 1] that
    is 1e16 (a compensated sum would give 1e16 + 2)."""
    c = [1e8, 1.0, 1.0]
    d = sim._centroid_dist_structs(F.array(*[F.lit(0.0)] * 3), [c])
    row = spark.range(1).select(
        d[0]["d"].alias("d"), sim.dot(F.lit(c), F.lit(c)).alias("in_plan")
    ).first()
    assert row["in_plan"] == 1e16
    assert row["d"] == 1e16


@pytest.mark.parametrize("algorithm", ["propagation", "star"])
@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_connected_components_paths_agree(spark, monkeypatch, name, algorithm):
    """The driver union-find and the distributed rounds (budget -1: even
    an empty graph overflows it) give the reference components in the
    same schema."""
    pairs = graph_frame(spark, name)
    driver = dd.connected_components(pairs, algorithm=algorithm)
    monkeypatch.setattr(dd, "MAX_DRIVER_EDGES", -1)
    distributed = dd.connected_components(pairs, algorithm=algorithm)
    assert driver.schema == distributed.schema
    expected = reference_components(GRAPHS[name][0])
    for out in (driver, distributed):
        rows = out.collect()
        assert len(rows) == len(expected)
        assert {r["id"]: r["component"] for r in rows} == expected


def test_connected_components_empty_graph(spark, monkeypatch):
    pairs = spark.range(0).selectExpr("id AS id_a", "id + 1 AS id_b")
    driver = dd.connected_components(pairs)
    monkeypatch.setattr(dd, "MAX_DRIVER_EDGES", -1)
    distributed = dd.connected_components(pairs)
    assert driver.schema == distributed.schema
    assert driver.collect() == distributed.collect() == []


def _build_jobs(spark, build):
    """(result, Spark jobs launched by ``build()``, persisted RDDs it left)."""
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs().size()
    group = f"iterative-operator-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build one operator")
    try:
        out = build()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, jobs, sc._jsc.getPersistentRDDs().size() - persisted


def test_connected_components_one_job_under_budget(spark, python_eval_nodes):
    """Within MAX_DRIVER_EDGES the components cost one bounded collect:
    no propagation round, no Python worker, nothing left persisted."""
    # 3,000 edges, 1,000 chains of 4 nodes
    pairs = spark.range(4000).filter("id % 4 != 3").selectExpr(
        "id AS id_a", "id + 1 AS id_b"
    )
    out, jobs, persisted = _build_jobs(spark, lambda: dd.connected_components(pairs))
    assert jobs == 1
    assert persisted == 0
    assert python_eval_nodes(out) == []
    comps = {r["id"]: r["component"] for r in out.collect()}
    assert comps == {i: i - i % 4 for i in range(4000)}


def test_kmeans_one_job_under_budget(spark):
    """Within MAX_DRIVER_KMEANS_WORK the trainer costs one bounded collect,
    which also serves the max_train_rows guard and the init, and leaves
    nothing persisted."""
    corpus = spark.range(2000).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 16), j -> cast((id * j) % 97 AS float) / 7)"
        " AS embedding",
    )
    out, jobs, persisted = _build_jobs(
        spark, lambda: sim.kmeans_centroids(corpus, n_clusters=8, iters=3)
    )
    assert jobs == 1
    assert persisted == 0
    assert len(out) == 8 and {len(c) for c in out} == {16}


@pytest.mark.parametrize("name", sorted(KMEANS_PINS))
def test_kmeans_distributed_matches_pins(spark, monkeypatch, name):
    """Budget 0 sends every training set to the distributed trainer,
    whose centroids the driver passes must reproduce bit for bit."""
    monkeypatch.setattr(sim, "MAX_DRIVER_KMEANS_WORK", 0)
    corpus, kwargs = kmeans_case(spark, name)
    got = [[float(x).hex() for x in c] for c in sim.kmeans_centroids(corpus, **kwargs)]
    assert got == KMEANS_PINS[name]


@pytest.mark.parametrize(("budget", "driver"), [(960, True), (959, False)])
def test_kmeans_budget_boundary(spark, monkeypatch, budget, driver):
    """5 vectors x 3 clusters x 3 dims, the dimension charged as one
    64-double block, is 960 work: it fits a budget of 960 (one job) and
    trains distributed under 959, to the same centroids."""
    monkeypatch.setattr(sim, "MAX_DRIVER_KMEANS_WORK", budget)
    corpus, kwargs = kmeans_case(spark, "empty_cluster")
    out, jobs, persisted = _build_jobs(
        spark, lambda: sim.kmeans_centroids(corpus, **kwargs)
    )
    assert (jobs == 1) is driver and persisted == 0
    assert [[float(x).hex() for x in c] for c in out] == KMEANS_PINS["empty_cluster"]


def test_kmeans_duplicate_ids_fold_in_vector_order(spark, monkeypatch):
    """Rows sharing an id fold in ``array_sort(struct(id, vector))``
    order on both paths: -2^54, 1, 2^54 sums to 0 (2^54 - 1 rounds to
    2^54), where the input order 2^54, -2^54, 1 would give 1."""
    big = 2.0**54
    corpus = _vectors(
        spark,
        [(0, [0.0, 0.0]), (1, [0.0, 2.0**66]), (5, [big, 0.0]), (5, [-big, 0.0]),
         (5, [1.0, 0.0])],
    )
    driver = sim.kmeans_centroids(corpus, n_clusters=2, iters=1)
    monkeypatch.setattr(sim, "MAX_DRIVER_KMEANS_WORK", 0)
    distributed = sim.kmeans_centroids(corpus, n_clusters=2, iters=1)
    assert driver == distributed == [[0.0, 0.0], [0.0, 2.0**66]]


def test_kmeans_driver_rejects_ragged_vectors(spark):
    corpus = _vectors(spark, [(0, [1.0, 2.0]), (1, [3.0]), (2, [4.0, 5.0])])
    with pytest.raises(ValueError, match="one dimension"):
        sim.kmeans_centroids(corpus, n_clusters=2, iters=1)


def test_fold_dot_is_a_left_fold():
    assert sim._fold_dot([1e8, 1.0, 1.0], [1e8, 1.0, 1.0]) == 1e16
