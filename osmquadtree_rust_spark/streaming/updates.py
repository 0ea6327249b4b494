"""Incremental update (reference src/update/find_update.rs).

The reference has no streaming runtime — updates are batch micro-merges:
harvest touched ids, recompute cells for them, then emit a per-id decision
table of (new tile row, optional Remove tombstone in the old tile).  Here
each step is a DataFrame op; the decision table reproduces the reference's
match arms (find_update.rs:536-668):

| changetype | old alloc | new qt | emit |
|---|---|---|---|
| Normal (harvested) | yes | changed | (new tile, qt, Unchanged) + tombstone if moved |
| Normal | yes | same | nothing |
| Delete | yes | -   | (old tile, qt=0, Delete) |
| Delete | no  | -   | nothing |
| Modify | yes | any | (new tile, qt, Modify) + tombstone if moved |
| Modify/Create | no | any | (new tile, qt, as-is) |

Applying the delta to the store is MERGE INTO semantics =
operators.merge.merge_changes (latest-wins, Delete/Remove drop).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import calcqts as C
from ..operators import merge as M
from ..operators.merge import CREATE, DELETE, MODIFY, NORMAL, REMOVE, UNCHANGED


def touched_way_ids(ways: DataFrame, changed_node_ids: DataFrame) -> DataFrame:
    """Ways containing any changed node (index semi-join,
    find_update.rs:22-137)."""
    return C.ways_touching(ways, changed_node_ids)


def update_decision_table(
    changes: DataFrame,
    stored: DataFrame,
    new_qts: DataFrame,
    route_udf,
) -> DataFrame:
    """Emit the delta rows (id, tile, qt, changetype) per the reference's
    decision table.

    changes: (id, changetype) — Normal rows are harvested unchanged
    elements whose cell may have moved.
    stored:  (id, qt AS qt_old, alloc) — current assignment (per-snapshot
    checkpoint table).
    new_qts: (id, qt AS qt_new) — recomputed cells for touched ids.
    """
    j = (
        changes.join(stored.select("id", "qt_old", "alloc"), "id", "left")
        .join(new_qts.select("id", F.col("qt").alias("qt_new")), "id", "left")
        # routing input coalesced: `na` is only consulted on branches where
        # qt_new is non-null, but the vectorized UDF must not see nulls
        .withColumn("na", route_udf(F.coalesce(F.col("qt_new"), F.lit(0))))
    )
    ct = F.col("changetype")
    has_alloc = F.col("alloc").isNotNull()
    has_q = F.col("qt_new").isNotNull()

    main = j.withColumn(
        "emit",
        F.when(
            (ct == NORMAL) & has_alloc & has_q & (F.col("qt_new") != F.col("qt_old")),
            F.struct(
                F.col("na").alias("tile"),
                F.col("qt_new").alias("qt"),
                F.lit(UNCHANGED).alias("changetype"),
            ),
        )
        .when(
            (ct == DELETE) & has_alloc,
            F.struct(
                F.col("alloc").alias("tile"),
                F.lit(0).cast("long").alias("qt"),
                F.lit(DELETE).alias("changetype"),
            ),
        )
        .when(
            (ct == MODIFY) & has_alloc & has_q,
            F.struct(
                F.col("na").alias("tile"),
                F.col("qt_new").alias("qt"),
                F.lit(MODIFY).alias("changetype"),
            ),
        )
        .when(
            ct.isin(MODIFY, CREATE) & ~has_alloc & has_q,
            F.struct(
                F.col("na").alias("tile"),
                F.col("qt_new").alias("qt"),
                ct.alias("changetype"),
            ),
        ),
    ).filter(F.col("emit").isNotNull())

    rows = main.select("id", "emit.tile", "emit.qt", "emit.changetype")

    # Remove tombstone in the old tile when the element moved tiles
    # (find_update.rs:552-560)
    moved = j.filter(
        ct.isin(NORMAL, MODIFY)
        & has_alloc
        & has_q
        & (F.col("na") != F.col("alloc"))
        & ((ct == MODIFY) | (F.col("qt_new") != F.col("qt_old")))
    )
    tombstones = moved.select(
        "id",
        F.col("alloc").alias("tile"),
        F.lit(0).cast("long").alias("qt"),
        F.lit(REMOVE).alias("changetype"),
    )
    return rows.unionByName(tombstones)


def run_update(
    nodes: DataFrame,
    ways: DataFrame,
    change_nodes: DataFrame,
    change_ways: DataFrame,
    stored: DataFrame,
    group_cells: np.ndarray,
):
    """Node/way micro-update: apply changes to the element tables, harvest
    touched ids, recompute their cells, emit the decision-table delta.

    Returns (delta DataFrame, merged nodes, merged ways).  Relations
    follow the same pattern in run_update_relations.
    """
    from ..plans.pipeline import make_route_udf

    spark = nodes.sparkSession
    merged_nodes = M.apply_changes(nodes.withColumn("changetype", F.lit(0)), change_nodes)
    merged_ways = M.apply_changes(ways.withColumn("changetype", F.lit(0)), change_ways)

    changed_nodes = change_nodes.select("id").distinct()
    t_ways = touched_way_ids(merged_ways, changed_nodes).unionByName(
        change_ways.select("id")
    ).distinct()
    sub_ways = merged_ways.join(t_ways, "id", "left_semi")
    # nodes needed: changed + all refs of touched ways
    ref_nodes = C.nodes_of_ways(merged_ways, t_ways)
    t_nodes = changed_nodes.unionByName(ref_nodes).distinct()
    sub_nodes = merged_nodes.join(t_nodes, "id", "left_semi")

    wq = C.way_qts(sub_nodes, sub_ways)
    nq = C.node_qts(sub_nodes, sub_ways, wq)

    route = make_route_udf(spark, group_cells)
    node_changes = change_nodes.select("id", "changetype").unionByName(
        ref_nodes.join(change_nodes.select("id"), "id", "left_anti")
        .select("id")
        .withColumn("changetype", F.lit(NORMAL))
    )
    way_changes = change_ways.select("id", "changetype").unionByName(
        t_ways.join(change_ways.select("id"), "id", "left_anti")
        .select("id")
        .withColumn("changetype", F.lit(NORMAL))
    )
    node_delta = update_decision_table(
        node_changes,
        stored.filter(F.col("etype") == 0).select(
            "id", F.col("qt").alias("qt_old"), "alloc"
        ),
        nq,
        route,
    ).withColumn("etype", F.lit(0))
    way_delta = update_decision_table(
        way_changes,
        stored.filter(F.col("etype") == 1).select(
            "id", F.col("qt").alias("qt_old"), "alloc"
        ),
        wq,
        route,
    ).withColumn("etype", F.lit(1))
    return node_delta.unionByName(way_delta), merged_nodes, merged_ways


def run_update_relations(
    relations: DataFrame,
    change_rels: DataFrame,
    node_qts: DataFrame,
    way_qts: DataFrame,
    changed_node_ids: DataFrame,
    changed_way_ids: DataFrame,
    stored: DataFrame,
    group_cells: np.ndarray,
) -> DataFrame:
    """Relation leg of the micro-update: harvest relations touched by
    changed members or changed themselves, recompute their cells (LCA +
    REL_PASSES-pass rel->rel, operators.calcqts.rel_qts), emit the decision
    table."""
    from ..plans.pipeline import make_route_udf

    merged = M.apply_changes(
        relations.withColumn("changetype", F.lit(0)), change_rels
    )
    # rel->rel propagation can touch ancestors of touched rels
    touched = C.rel_ancestors(
        merged,
        C.rels_with_members(merged, changed_node_ids, 0)
        .unionByName(C.rels_with_members(merged, changed_way_ids, 1))
        .unionByName(change_rels.select("id")),
    )
    sub = merged.join(touched, "id", "left_semi")
    rq = C.rel_qts(sub, node_qts, way_qts)

    route = make_route_udf(relations.sparkSession, group_cells)
    rel_changes = change_rels.select("id", "changetype").unionByName(
        touched.join(change_rels.select("id"), "id", "left_anti")
        .select("id")
        .withColumn("changetype", F.lit(NORMAL))
    )
    return update_decision_table(
        rel_changes,
        stored.filter(F.col("etype") == 2).select(
            "id", F.col("qt").alias("qt_old"), "alloc"
        ),
        rq,
        route,
    ).withColumn("etype", F.lit(2))
