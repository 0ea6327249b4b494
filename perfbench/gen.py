"""Seeded input generators for the benchmark.

Every table and request sequence is a pure function of a
``numpy.random.Generator`` built from the ``--seed`` argument; the program
under test only ever sees the files written here.

Coordinates are fixed-point 1e-7 degrees (int64), the package's convention.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from osmquadtree_rust_spark.sources import synth

DEG = 10_000_000

# The image skew region is packed inside one level-17 cell (~0.0027 deg) so
# that its tiles outweigh the salting threshold: a sparse 1-degree square
# would split into ordinary-sized tiles and never exercise the salted write.
SKEW_DENSE_SPAN = 1_000

CREATE_ID_BASE = 1 << 40  # ids of created nodes, far above the base world


def write_parquet(rows: dict, path: str, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pydict(rows, schema=schema), path)


# ---------------------------------------------------------------------------
# image footprints (tile_images)
# ---------------------------------------------------------------------------

IMAGE_SCHEMA = pa.schema(
    [(c, pa.int64()) for c in ("id", "minlon", "minlat", "maxlon", "maxlat")]
)


def images(rng: np.random.Generator, n: int) -> dict:
    """Image footprints with the mix of ``sources/synth``: 90% of rows around
    ``N_HOTSPOTS`` city centres with ``JITTER`` spread, 10% in one dense skew
    region, pixel sizes 16..128, and the footprint-size multiplier mix whose
    large footprints give ``find_tree_groups`` its weighted interior cells."""
    hs_lon = rng.integers(-177 * DEG, 177 * DEG, synth.N_HOTSPOTS)
    hs_lat = rng.integers(-87 * DEG, 87 * DEG, synth.N_HOTSPOTS)
    hs = rng.integers(0, synth.N_HOTSPOTS, n)
    skew = rng.random(n) < 0.1
    jit = synth.JITTER
    lon = np.where(
        skew,
        synth.SKEW_LON0 + rng.integers(0, SKEW_DENSE_SPAN, n),
        hs_lon[hs] + rng.integers(-jit // 2, jit // 2, n),
    )
    lat = np.where(
        skew,
        synth.SKEW_LAT0 + rng.integers(0, SKEW_DENSE_SPAN, n),
        hs_lat[hs] + rng.integers(-jit // 2, jit // 2, n),
    )
    k = rng.integers(0, 4, n)
    w = np.array([16, 32, 64, 128])[k]
    h = np.array([16, 24, 48, 96])[k]
    u = rng.random(n)
    mult = np.select(
        [u < 1 / 211, u < 1 / 211 + 1 / 37, u < 1 / 211 + 1 / 37 + 1 / 7],
        [8000, 500, 20],
        1,
    )
    ext_w = synth.FOOTPRINT_SCALE * w * mult
    ext_h = synth.FOOTPRINT_SCALE * h * mult
    return {
        "id": rng.permutation(n).astype(np.int64),
        "minlon": np.maximum(lon - ext_w, -180 * DEG),
        "minlat": np.maximum(lat - ext_h, -90 * DEG),
        "maxlon": np.minimum(lon + ext_w, 180 * DEG),
        "maxlat": np.minimum(lat + ext_h, 90 * DEG),
    }


# ---------------------------------------------------------------------------
# OSM-shaped world (osm_store)
# ---------------------------------------------------------------------------

NODE_SCHEMA = pa.schema(
    [("id", pa.int64()), ("lon", pa.int64()), ("lat", pa.int64()),
     ("changetype", pa.int32())]
)
WAY_SCHEMA = pa.schema(
    [("id", pa.int64()), ("refs", pa.list_(pa.int64())), ("changetype", pa.int32())]
)
MEMBER = pa.struct([("mem_type", pa.int32()), ("mem_ref", pa.int64())])
REL_SCHEMA = pa.schema(
    [("id", pa.int64()), ("members", pa.list_(MEMBER)), ("changetype", pa.int32())]
)


class World:
    """Towns of nodes; ways are random walks through nearby nodes (a third
    start on a node of an earlier way in the same town, making junctions);
    a share of nodes are points of interest outside any way; relations
    group ways and nodes of one town, and rel->rel chains reach depth 6.

    Mutable: ``change_batch`` edits it in place so a sequence of batches
    stays consistent with the world it changes."""

    def __init__(self, rng: np.random.Generator, n_ways: int, n_pois: int,
                 n_rels: int, n_towns: int = 48):
        self.town_lon = rng.integers(-170 * DEG, 170 * DEG, n_towns)
        self.town_lat = rng.integers(-70 * DEG, 70 * DEG, n_towns)
        lon, lat, refs, way_town, poi = [], [], [], [], []
        town_nodes: list[list[int]] = [[] for _ in range(n_towns)]
        lengths = rng.integers(2, 13, n_ways)
        towns = rng.integers(0, n_towns, n_ways)
        for wi in range(n_ways):
            t = int(towns[wi])
            walk = []
            if town_nodes[t] and rng.random() < 0.33:
                start = town_nodes[t][int(rng.integers(len(town_nodes[t])))]
                walk.append(start)
                x, y = lon[start], lat[start]
            else:
                x = int(self.town_lon[t] + rng.normal(0, 0.03 * DEG))
                y = int(self.town_lat[t] + rng.normal(0, 0.03 * DEG))
            while len(walk) < lengths[wi]:
                walk.append(len(lon))
                town_nodes[t].append(len(lon))
                lon.append(x)
                lat.append(y)
                poi.append(False)
                x += int(rng.normal(0, 0.0008 * DEG))
                y += int(rng.normal(0, 0.0008 * DEG))
            refs.append(walk)
            way_town.append(t)
        for _ in range(n_pois):
            t = int(rng.integers(n_towns))
            town_nodes[t].append(len(lon))
            lon.append(int(self.town_lon[t] + rng.normal(0, 0.04 * DEG)))
            lat.append(int(self.town_lat[t] + rng.normal(0, 0.04 * DEG)))
            poi.append(True)
        self.node_id = np.arange(len(lon), dtype=np.int64)
        self.node_lon = np.array(lon, dtype=np.int64)
        self.node_lat = np.array(lat, dtype=np.int64)
        self.node_alive = np.ones(len(lon), dtype=bool)
        self.node_poi = np.array(poi)
        self.way_refs = refs
        self.way_alive = np.ones(n_ways, dtype=bool)
        self.next_node_id = CREATE_ID_BASE

        ways_by_town: list[list[int]] = [[] for _ in range(n_towns)]
        for wi, t in enumerate(way_town):
            ways_by_town[t].append(wi)
        members = []
        n_chain = n_rels // 4
        for ri in range(n_rels):
            t = int(rng.integers(n_towns))
            mem = []
            if ways_by_town[t]:
                pick = rng.choice(ways_by_town[t], int(rng.integers(1, 5)))
                mem += [(1, int(w)) for w in pick]
            nodes_t = town_nodes[t]
            for _ in range(int(rng.integers(0, 3))):
                mem.append((0, int(nodes_t[int(rng.integers(len(nodes_t)))])))
            # chains: rel i -> rel i+1 for runs of 6, so closure needs all
            # five rel->rel passes
            if ri < n_chain and ri % 6 != 5:
                mem.append((2, ri + 1))
            elif rng.random() < 0.1:
                mem.append((2, int(rng.integers(n_rels))))
            members.append(mem)
        self.rel_members = members

    # -- tables ------------------------------------------------------------

    def write_nodes(self, path: str) -> None:
        alive = self.node_alive
        write_parquet(
            {"id": self.node_id[alive], "lon": self.node_lon[alive],
             "lat": self.node_lat[alive],
             "changetype": np.zeros(int(alive.sum()), np.int32)},
            path, NODE_SCHEMA)

    def write_ways(self, path: str) -> None:
        ids = np.flatnonzero(self.way_alive)
        write_parquet(
            {"id": ids.astype(np.int64),
             "refs": [self.way_refs[i] for i in ids],
             "changetype": np.zeros(ids.size, np.int32)},
            path, WAY_SCHEMA)

    def write_rels(self, path: str) -> None:
        write_parquet(
            {"id": np.arange(len(self.rel_members), dtype=np.int64),
             "members": [[{"mem_type": t, "mem_ref": r} for t, r in m]
                         for m in self.rel_members],
             "changetype": np.zeros(len(self.rel_members), np.int32)},
            path, REL_SCHEMA)

    # -- changes -----------------------------------------------------------

    def change_batch(self, rng: np.random.Generator, n_moves: int,
                     n_modifies: int, n_creates: int, n_deletes: int,
                     n_way_deletes: int, node_path: str, way_path: str) -> None:
        """Draw one change batch, apply it to this world, and write it as
        change tables (modify=4, create=5, delete=1, the package's codes).

        Moves carry a node up to 0.02 degrees, so it and its ways usually
        change cells and often tiles; modifies nudge a node within its cell neighbourhood.
        Only points of interest are deleted: a node a live way still uses is
        never deleted, as in OSM."""
        from osmquadtree_rust_spark.operators.merge import CREATE, DELETE, MODIFY

        live = np.flatnonzero(self.node_alive)
        pois = np.flatnonzero(self.node_alive & self.node_poi)
        picked = rng.choice(live, n_moves + n_modifies, replace=False)
        dels = rng.choice(np.setdiff1d(pois, picked), n_deletes, replace=False)
        moves, mods = picked[:n_moves], picked[n_moves:]
        self.node_lon[moves] += rng.integers(-DEG // 50, DEG // 50, n_moves)
        self.node_lat[moves] += rng.integers(-DEG // 50, DEG // 50, n_moves)
        self.node_lon[mods] += rng.integers(-2000, 2000, n_modifies)
        self.node_lat[mods] += rng.integers(-2000, 2000, n_modifies)
        # creates: new points of interest next to existing live nodes
        near = rng.choice(live, n_creates)
        new_lon = self.node_lon[near] + rng.integers(-5000, 5000, n_creates)
        new_lat = self.node_lat[near] + rng.integers(-5000, 5000, n_creates)
        first_new = self.node_lon.size
        self.node_id = np.concatenate(
            [self.node_id, self.next_node_id + np.arange(n_creates, dtype=np.int64)])
        self.next_node_id += n_creates
        self.node_lon = np.concatenate([self.node_lon, new_lon])
        self.node_lat = np.concatenate([self.node_lat, new_lat])
        self.node_alive = np.concatenate([self.node_alive, np.ones(n_creates, bool)])
        self.node_poi = np.concatenate([self.node_poi, np.ones(n_creates, bool)])
        self.node_alive[dels] = False
        idx = np.concatenate([picked, dels, np.arange(first_new, first_new + n_creates)])
        ct = np.concatenate([np.full(picked.size, MODIFY), np.full(dels.size, DELETE),
                             np.full(n_creates, CREATE)]).astype(np.int32)
        write_parquet(
            {"id": self.node_id[idx], "lon": self.node_lon[idx], "lat": self.node_lat[idx],
             "changetype": ct},
            node_path, NODE_SCHEMA)

        wdel = rng.choice(np.flatnonzero(self.way_alive), n_way_deletes, replace=False)
        self.way_alive[wdel] = False
        write_parquet(
            {"id": wdel.astype(np.int64), "refs": [self.way_refs[i] for i in wdel],
             "changetype": np.full(wdel.size, DELETE, np.int32)},
            way_path, WAY_SCHEMA)

    def live_nodes(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        a = self.node_alive
        return self.node_id[a], self.node_lon[a], self.node_lat[a]


# ---------------------------------------------------------------------------
# request sequences
# ---------------------------------------------------------------------------

def extract_request(rng: np.random.Generator, world: World) -> dict:
    """One seeded small extract request: a hexagon around one live point of
    interest that no relation holds, inside a box whose half-diagonal stays
    below the distance to the nearest other live node, so the request
    returns exactly that node.

    The box is small, so it measures the fixed per-request cost.  Its result
    has the same shape on every seed because an extract's cost follows which
    closure sets come out empty (on 4 cores, over a base world with a change
    batch merged in: ~19 s with no node, ~21 s with one, 30-38 s when ways
    and relations follow)."""
    in_rel = {r for m in world.rel_members for t, r in m if t == 0}
    pois = [int(i) for i in np.flatnonzero(world.node_alive & world.node_poi)
            if int(i) not in in_rel]
    poi = pois[int(rng.integers(len(pois)))]
    cx, cy = int(world.node_lon[poi]), int(world.node_lat[poi])
    others = world.node_alive.copy()
    others[poi] = False
    nearest = np.hypot(world.node_lon[others] - cx, world.node_lat[others] - cy).min()
    half = int(min(nearest * 0.7, DEG // 200))
    ang = np.sort(rng.uniform(0, 2 * np.pi, 6))
    r = half * rng.uniform(0.5, 1.0, 6)
    return {"bbox": (cx - half, cy - half, cx + half, cy + half),
            "poly": ((cx + r * np.cos(ang)) / DEG, (cy + r * np.sin(ang)) / DEG)}


def image_read_boxes(rng: np.random.Generator, rows: dict, n: int) -> list[tuple]:
    """Boxes of 0.2 to 2 degrees around randomly chosen image footprints."""
    pick = rng.integers(0, rows["id"].size, n)
    cx = (rows["minlon"][pick] + rows["maxlon"][pick]) // 2
    cy = (rows["minlat"][pick] + rows["maxlat"][pick]) // 2
    half = rng.integers(DEG // 10, DEG, n)
    return [(int(x - h), int(y - h), int(x + h), int(y + h)) for x, y, h in zip(cx, cy, half)]


def asof_boxes(rng: np.random.Generator, world: World, n: int) -> list[tuple]:
    """Town-centred boxes for as-of reads."""
    out = []
    for _ in range(n):
        t = int(rng.integers(world.town_lon.size))
        half = int(rng.integers(DEG // 100, DEG // 30))
        cx, cy = int(world.town_lon[t]), int(world.town_lat[t])
        out.append((cx - half, cy - half, cx + half, cy + half))
    return out
