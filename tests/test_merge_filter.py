"""Merge (latest-wins / change application) and spatial filter operators."""

import numpy as np
import pytest

import oracle_qt as O
from osmquadtree_rust_spark.operators import filter as FL
from osmquadtree_rust_spark.operators import merge as M


def _snapshots(spark):
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0), (4, "d", 0)],
        "id long, val string, changetype int",
    )
    chg1 = spark.createDataFrame(
        [(2, "b2", M.MODIFY), (5, "e", M.CREATE), (3, None, M.DELETE)],
        "id long, val string, changetype int",
    )
    chg2 = spark.createDataFrame(
        [(2, "b3", M.MODIFY), (3, "c3", M.CREATE), (4, None, M.REMOVE)],
        "id long, val string, changetype int",
    )
    return base, chg1, chg2


def test_apply_changes_matches_oracle(spark):
    base, chg1, chg2 = _snapshots(spark)

    def rows(df):
        return sorted(
            [{"id": r.id, "val": r.val, "changetype": r.changetype} for r in df.collect()],
            key=lambda e: e["id"],
        )

    got = rows(M.merge_changes(base, [chg1, chg2]))
    exp = O.apply_change(
        O.combine(rows(base), rows(chg1)), rows(chg2)
    )
    # oracle folds newest-last then applies; merge_changes single-window is
    # equivalent because only the newest version survives
    exp = sorted(exp, key=lambda e: e["id"])
    assert [(e["id"], e["val"], e["changetype"]) for e in got] == [
        (e["id"], e["val"], e["changetype"]) for e in exp
    ]


def test_apply_changes_drops_and_resets(spark):
    base, chg1, chg2 = _snapshots(spark)
    out = {r.id: (r.val, r.changetype) for r in M.merge_changes(base, [chg1, chg2]).collect()}
    assert out == {1: ("a", 0), 2: ("b3", 0), 3: ("c3", 0), 5: ("e", 0)}


def test_dedup_max_version(spark):
    df = spark.createDataFrame(
        [(1, 1, "x"), (1, 3, "z"), (1, 2, "y"), (2, 1, "a")],
        "id long, version long, val string",
    )
    out = {r.id: (r.version, r.val) for r in M.dedup_max_version(df).collect()}
    assert out == {1: (3, "z"), 2: (1, "a")}


# ---------------------------------------------------------------------------
# polygon / pnpoly
# ---------------------------------------------------------------------------

def _scalar_pnpoly(vx, vy, testx, testy):
    """Direct transliteration of the reference contains_point
    (filter_elements.rs:89-129)."""
    c = False
    n = len(vx)
    for i in range(n):
        j = n - 1 if i == 0 else i - 1
        if (vy[i] > testy) != (vy[j] > testy):
            if testx < (vx[j] - vx[i]) * (testy - vy[i]) / (vy[j] - vy[i]) + vx[i]:
                c = not c
    return c


def test_pnpoly_vs_scalar_lshape_and_edges():
    # concave L-shape; probe grid incl. points exactly on edges/vertices
    vx = np.array([0.0, 4.0, 4.0, 2.0, 2.0, 0.0])
    vy = np.array([0.0, 0.0, 2.0, 2.0, 4.0, 4.0])
    xs, ys = np.meshgrid(np.linspace(-1, 5, 25), np.linspace(-1, 5, 25))
    px, py = xs.ravel(), ys.ravel()
    got = FL.pnpoly(vx, vy, px, py)
    exp = np.array([_scalar_pnpoly(vx, vy, a, b) for a, b in zip(px, py)])
    assert (got == exp).all()


def test_poly_check_box_and_filter(spark):
    poly = FL.Poly([0.0, 10.0, 10.0, 0.0], [0.0, 0.0, 10.0, 10.0])
    assert poly.check_box((10000000, 10000000, 90000000, 90000000))
    assert not poly.check_box((-10000000, 10000000, 90000000, 90000000))

    df = spark.createDataFrame(
        [(1, 50000000, 50000000), (2, 150000000, 50000000), (3, -50000000, 0)],
        "id long, lon long, lat long",
    )
    got = sorted(
        r.id
        for r in FL.filter_points(df, (0, 0, 100000000, 100000000), poly).collect()
    )
    assert got == [1]


def test_id_closure(spark):
    # nodes 1..6 on a line; way A=(1,2), B=(3,4), C=(5,6); bbox covers nodes 1,3
    nodes = spark.createDataFrame(
        [(i, i * 10000000, 0) for i in range(1, 7)], "id long, lon long, lat long"
    )
    ways = spark.createDataFrame(
        [(101, [1, 2]), (102, [3, 4]), (103, [5, 6])], "id long, refs array<long>"
    )
    rels = spark.createDataFrame(
        [
            (201, [{"mem_type": 1, "mem_ref": 101}]),
            (202, [{"mem_type": 2, "mem_ref": 201}]),
            (203, [{"mem_type": 0, "mem_ref": 6}]),
            (204, [{"mem_type": 2, "mem_ref": 205}]),
            (205, [{"mem_type": 2, "mem_ref": 202}]),
        ],
        "id long, members array<struct<mem_type:int, mem_ref:long>>",
    )
    res = FL.id_closure(nodes, ways, rels, (5000000, -1, 35000000, 1))
    assert sorted(r.id for r in res["nodes"].collect()) == [1, 2, 3]
    assert sorted(r.id for r in res["ways"].collect()) == [101, 102]
    assert sorted(r.id for r in res["exnodes"].collect()) == [4]
    # 203 not selected (node 6 outside closure); 202 via rel-rel iter 1,
    # 205 via iter 2, 204 via iter 3
    assert sorted(r.id for r in res["relations"].collect()) == [201, 202, 204, 205]


def test_id_closure_rel_chain_stops_after_five_passes(spark, rel_chain):
    # node 1 is in the box; relation 300+k is k rel->rel hops from 300
    nodes = spark.createDataFrame(
        [(1, 0, 0), (2, 500000000, 0)], "id long, lon long, lat long"
    )
    ways = spark.createDataFrame([], "id long, refs array<long>")
    res = FL.id_closure(nodes, ways, rel_chain, (-1, -1, 1, 1))
    assert sorted(r.id for r in res["relations"].collect()) == [
        300, 301, 302, 303, 304, 305
    ]


def test_classify_tiles_keeps_the_tile_of_every_routed_footprint():
    """A box meeting a footprint must keep every tile the footprint can be
    routed to (any ancestor of its cell).  Cell assignment buffers in
    Mercator y, so a degree-buffered extent misses footprints on the
    equator side of a cell."""
    from osmquadtree_rust_spark.functions import qt_numpy as Q

    named = [
        # crosses the equator, lands in depth-1 cell A
        ((-129563052, -76204429, 75236948, 77395571), "A"),
        # beyond the Mercator edge, lands in the root
        ((100000000, 860000000, 120000000, 895000000), ""),
    ]
    for fp, path in named:
        qt = int(Q.calculate(*(np.array([v]) for v in fp))[0])
        assert Q.as_string(qt) == path
        for x in (fp[0], fp[2]):
            for y in (fp[1], fp[3]):
                interior, boundary = FL.classify_tiles(np.array([qt]), (x, y, x, y))
                assert qt in set(interior) | set(boundary), (fp, x, y)

    rng = np.random.default_rng(20261018)
    n = 20000
    lon = rng.integers(-1800000000, 1800000000, n)
    lat = rng.integers(-900000000, 900000000, n)
    hx = (10 ** rng.uniform(1, 9, n)).astype(np.int64)
    hy = (10 ** rng.uniform(1, 9, n)).astype(np.int64)
    mn = np.maximum(lon - hx, -1800000000)
    mt = np.maximum(lat - hy, -900000000)
    Mn = np.minimum(lon + hx, 1800000000)
    Mt = np.minimum(lat + hy, 900000000)
    qt = Q.calculate(mn, mt, Mn, Mt)
    d = Q.depth(qt)
    for level in range(int(d.max()) + 1):
        m = d >= level
        a, b, c, e = Q.assignment_bbox(Q.qt_round(qt[m], level))
        inside = (a <= mn[m]) & (b <= mt[m]) & (Mn[m] <= c) & (Mt[m] <= e)
        assert inside.all(), (level, int((~inside).sum()))


# ---------------------------------------------------------------------------
# property tests: window-dedup merge == sequential sorted-merge oracle
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),            # which snapshot
            st.integers(1, 12),           # id
            st.integers(0, 5),            # changetype
        ),
        min_size=0,
        max_size=30,
    )
)
def test_merge_property_vs_oracle(_spark_holder, rows):
    spark = _spark_holder
    import oracle_qt as O

    # dedupe (snapshot, id) pairs — one version of an id per snapshot
    seen = set()
    clean = []
    for s, i, ct in rows:
        if (s, i) not in seen:
            seen.add((s, i))
            clean.append((s, i, ct))
    snaps = []
    for s in range(3):
        data = sorted(
            [(i, ct, f"v{s}_{i}") for (sx, i, ct) in clean if sx == s]
        )
        snaps.append(
            spark.createDataFrame(
                data or [(None, None, None)], "id long, changetype int, val string"
            ).filter("id IS NOT NULL")
        )
    got = sorted(
        (r.id, r.changetype, r.val)
        for r in __import__(
            "osmquadtree_rust_spark.operators.merge", fromlist=["merge_changes"]
        ).merge_changes(snaps[0], snaps[1:]).collect()
    )
    # oracle: sequential sorted merges then apply
    def rows_of(s):
        return sorted(
            [
                {"id": i, "changetype": ct, "val": f"v{s}_{i}"}
                for (sx, i, ct) in clean
                if sx == s
            ],
            key=lambda e: e["id"],
        )

    merged = O.combine(rows_of(0), rows_of(1))
    exp = O.apply_change(merged, rows_of(2))
    exp = sorted((e["id"], e["changetype"], e["val"]) for e in exp)
    assert got == exp


import pytest as _pt


@_pt.fixture(scope="module")
def _spark_holder(spark):
    return spark


def test_connected_components_transitive(spark):
    """Min-label propagation must close transitively (a chain needs
    multiple rounds) and leave isolated vertices in their own component."""
    from pyspark.sql import functions as F

    from osmquadtree_rust_spark.operators.dedup import connected_components

    verts = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
    # chain 1-2-3-4-5 (diameter 4), pair 7-9, isolated 6, 8, 10
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (9, 7)], "a long, b long"
    )
    got = {
        (r.doc_id, r.comp)
        for r in connected_components(verts, pairs).collect()
    }
    exp = {(i, 1) for i in (1, 2, 3, 4, 5)} | {(7, 7), (9, 7), (6, 6), (8, 8), (10, 10)}
    assert got == exp
