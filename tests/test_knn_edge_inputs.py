"""Exact kNN on edge inputs: NULL-coordinate queries and neighbors on
every kNN operator, NaN coordinates in the numpy kernel."""

import pytest

from osm2garmin_spark.operators.knn import (knn_broadcast, knn_bruteforce_np,
                                            knn_grid, knn_grid_stratified)
from osm2garmin_spark.operators.knn_hex import knn_hex_kring

_QS = "q_id long, q_lat double, q_lon double"
_NS = "n_id long, n_lat double, n_lon double"


def _null_query_ops():
    # the same paths as _null_neighbor_ops below
    return {
        "broadcast": lambda q, n: knn_broadcast(q, n, 2),
        "bruteforce_np": lambda q, n: knn_bruteforce_np(q, n, 2),
        "grid_cell": lambda q, n: knn_grid(q, n, 2, cell_deg=0.5),
        "grid_auto": lambda q, n: knn_grid(q, n, 2),
        "hex_res": lambda q, n: knn_hex_kring(q, n, 2, res=9),
        "hex_auto": lambda q, n: knn_hex_kring(q, n, 2),
        "stratified": lambda q, n: knn_grid_stratified(q, n, 2),
    }


@pytest.mark.parametrize("op", sorted(_null_query_ops()))
def test_null_coordinate_queries_get_no_rows(spark, op):
    """A query with a NULL coordinate returns no rows on every path: the
    escalation loop raised TypeError on the NULL extent once only such
    queries were left, and the small-table kernel returned k rows, as
    knn_broadcast and knn_bruteforce_np called directly did."""
    q = spark.createDataFrame([(0, 0.0, 0.0), (1, None, 0.0)], _QS)
    nb = spark.createDataFrame(
        [(5, 0.1, 0.0), (6, 0.2, 0.0), (7, 0.3, 0.0)], _NS)
    got = sorted(map(tuple, _null_query_ops()[op](q, nb).collect()))
    assert got == [(0, 5, 1), (0, 6, 2)]


@pytest.mark.parametrize("k", [2, 3])
def test_bruteforce_nan_coordinates_match_broadcast(spark, k):
    """ADVICE (ii): np.argmin returns the first NaN, so a NaN-coordinate
    neighbor ranked first for every query. NaN distances now rank last,
    tied by n_id, like the window twin; k=3 needs the NaN neighbor, and
    the NaN query has only NaN distances."""
    q = spark.createDataFrame([(0, 0.0, 0.0), (1, float("nan"), 0.0)], _QS)
    nb = spark.createDataFrame(
        [(5, 0.1, 0.0), (6, float("nan"), 0.0), (7, 0.3, 0.0)], _NS)
    got = sorted(map(tuple, knn_bruteforce_np(q, nb, k).collect()))
    want = sorted(map(tuple, knn_broadcast(q, nb, k).collect()))
    assert got == want
    ranked = sorted((rnk, n) for qid, n, rnk in got if qid == 0)
    assert ranked[:2] == [(1, 5), (2, 7)]


def _null_neighbor_ops():
    # the two single-table operators, the escalation loop (explicit
    # cell/res), its small-table dispatch (auto) and the stratified plan
    return {
        "broadcast": lambda q, n, k: knn_broadcast(q, n, k),
        "bruteforce_np": lambda q, n, k: knn_bruteforce_np(q, n, k),
        "grid_cell": lambda q, n, k: knn_grid(q, n, k, cell_deg=0.5),
        "grid_auto": lambda q, n, k: knn_grid(q, n, k),
        "hex_res": lambda q, n, k: knn_hex_kring(q, n, k, res=9),
        "hex_auto": lambda q, n, k: knn_hex_kring(q, n, k),
        "stratified": lambda q, n, k: knn_grid_stratified(q, n, k),
    }


@pytest.mark.parametrize("k", [2, 3])
@pytest.mark.parametrize("op", sorted(_null_neighbor_ops()))
def test_null_coordinate_neighbors_are_dropped(spark, op, k):
    """A neighbor with a NULL coordinate is never ranked, on every path:
    knn_broadcast ranked it first and knn_bruteforce_np last, while the
    escalation loop dropped it."""
    q = spark.createDataFrame([(0, 0.0, 0.0)], _QS)
    nb = spark.createDataFrame(
        [(5, 0.1, 0.0), (6, None, 0.0), (7, 0.3, 0.0)], _NS)
    got = sorted(map(tuple, _null_neighbor_ops()[op](q, nb, k).collect()))
    assert got == [(0, 5, 1), (0, 7, 2)]
