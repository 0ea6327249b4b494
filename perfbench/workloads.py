"""The benchmark's workloads.  Each drives the package from outside through
its public functions, times closed-loop operations with ``Telemetry.op``
and checks every output it produces.

Both workloads keep a tiled store and run the same operation kinds, so
every end-to-end metric exists on each of them:

- ``build``: rows tiled and written to a new store (osm_store: calcqts +
  grouping + the checkpointed base snapshot, in set-up; tile_images has no
  separate build, its tiling job is its write);
- ``write``: a write to the store (tile_images: one bulk tiling job over
  the image table; osm_store: one update cycle, change batch to committed
  change snapshot);
- ``read``: the rows of the tiles a bbox touches (tile_images: a
  tile-pruned read; osm_store: an as-of read);
- ``query``: an exact spatial query (tile_images: footprints intersecting a
  bbox; osm_store: an ``extract`` with its reference closure).
"""

from __future__ import annotations

import glob
import importlib.util
import os
import shutil
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pa_ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from osmquadtree_rust_spark.functions import qt_spark as qs
from osmquadtree_rust_spark.operators import calcqts as C
from osmquadtree_rust_spark.operators import filter as FL
from osmquadtree_rust_spark.operators import merge as M
from osmquadtree_rust_spark.operators import tiles as T
from osmquadtree_rust_spark.plans import checkpoint as CK
from osmquadtree_rust_spark.plans import extract as EX
from osmquadtree_rust_spark.plans import osm_pipeline as OP
from osmquadtree_rust_spark.plans import pipeline as P
from osmquadtree_rust_spark.streaming import updates as U
from telemetry import Telemetry, dir_bytes, median, tail

UNITS = {"setup_s": "s", "tile_rows_per_s": "1/s", "write_p50_s": "s", "read_p50_s": "s",
         "query_p50_s": "s", "bytes_stored_per_row": "B", "peak_rss_mb": "MB"}


def _oracle_tiles():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tests", "oracle_tiles.py")
    spec = importlib.util.spec_from_file_location("oracle_tiles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def rate(rows: int, seconds: float) -> float:
    return rows / seconds if seconds else 0.0  # 0 when every timed op failed


def is_ancestor(tile: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """tile is an ancestor-or-self cell of qt (qt bit layout: level-i digit at
    bit 63-2i, depth in the low 5 bits)."""
    d = tile & 31
    shift = 63 - 2 * d
    rounded = np.where(d == 0, 0, ((qt >> shift) << shift) + d)
    return (d <= (qt & 31)) & (rounded == tile)


def pnpoly(vx: np.ndarray, vy: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Even-odd crossing test, one loop over edges (the check's own copy)."""
    inside = np.zeros(px.shape, dtype=bool)
    j = len(vx) - 1
    for i in range(len(vx)):
        crosses = (vy[i] > py) != (vy[j] > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (vx[j] - vx[i]) * (py - vy[i]) / (vy[j] - vy[i]) + vx[i]
        inside ^= crosses & (px < xint)
        j = i
    return inside


class Workload:
    NAMES: dict = {}  # end-to-end metric -> the workload-specific name it stands for

    def __init__(self, spark, tmp: str, seed: int, traced: bool):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.tel = Telemetry(spark, traced)
        self.report: dict = {}
        self._flip = False  # which twin of a traced op pair runs first

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def rng(self, stream: int) -> np.random.Generator:
        """Independent generator per input stream, all from the one seed."""
        return np.random.default_rng([self.seed, stream])

    # -- skeleton -------------------------------------------------------------

    def run(self, seconds: float, session_s: float) -> dict:
        t0 = time.perf_counter()
        self.generate()
        gen_s = time.perf_counter() - t0
        self.set_up()
        setup_s = session_s + time.perf_counter() - t0
        self.report.update(session_s=session_s, gen_s=gen_s, setup_s=setup_s)
        self.measure(seconds)

        tel = self.tel
        lat = tel.latencies
        e2e = {
            "setup_s": setup_s,
            "tile_rows_per_s": rate(self.tiled_rows, median(lat["build"] or lat["write"])),
            "write_p50_s": median(lat["write"]),
            "read_p50_s": median(lat["read"]),
            "query_p50_s": median(lat["query"]),
            "bytes_stored_per_row": self.stored_bytes / self.stored_rows,
            "peak_rss_mb": tel.peak_rss_mb(),
        }
        self.report.update(
            failed_op_ratio=tel.failed / tel.attempted,
            latencies=dict(lat),
            # a tail needs at least eleven samples of one kind in one run
            tails={k: tail(v) for k, v in lat.items() if tail(v)},
        )
        self.report.update({self.NAMES[k]: e2e[k] for k in self.NAMES})
        return {
            "attempted": tel.attempted,
            "failed": tel.failed,
            "e2e": {k: (v, UNITS[k]) for k, v in e2e.items()},
            "layers": self.layer_metrics() if tel.traced else {},
            "report": self.report,
        }

    def op_pair(self, kind: str, fn, check=None):
        """Run ``fn`` as one op; a traced run also runs it untraced, so it can
        report tracing overhead on identical work.  Which twin goes first
        alternates: the second run of the same work finds warmer caches."""
        if not self.tel.traced:
            return self.guarded(kind, fn, check)
        self._flip = not self._flip
        first = self.guarded(kind, fn, check, trace=not self._flip)
        second = self.guarded(kind, fn, check, trace=self._flip)
        return second if self._flip else first

    def guarded(self, kind: str, fn, check=None, trace: bool = True):
        """Time ``fn()`` as one op, then run ``check(result)`` untimed.  An
        exception or any failed check counts the op as failed once."""
        failed = self.tel.failed
        try:
            with self.tel.op(kind, trace=trace):
                result = fn()
            if check is not None:
                t0 = time.perf_counter()
                check(result)
                self.report["check_s"] = self.report.get("check_s", 0.0) + time.perf_counter() - t0
            return result
        except Exception:  # an operation failing is a measured outcome
            traceback.print_exc()
            self.tel.failed += 1
        finally:
            self.tel.failed = min(self.tel.failed, failed + 1)

    # -- shared layer compositions ----------------------------------------------

    def assign(self, df, weight_col, target):
        """``pipeline.assign_tiles`` split at its layer boundaries:
        histogram -> driver grouping -> routed tile column.  Returns the routed
        frame, group cells and the exact per-tile weights (histogram cells
        routed like their rows: groups sit at or above the histogram level)."""
        tel = self.tel
        with tel.span("pipeline.histogram"):
            hist = P.cell_histogram(df, "qt", weight_col).toPandas()
        cells = hist["cell"].to_numpy(np.int64)
        weights = hist["weight"].to_numpy(np.int64)
        with tel.span("tiles.grouping"):
            groups = P.compute_groups(cells, weights, target)
        with tel.span("pipeline.route"):
            route = P.make_route_udf(self.spark, groups)
            routed = tel.force(df.withColumn("tile", route(F.col("qt"))))
        tile_w = pd.Series(weights).groupby(T.route_cells(cells, groups)).sum()
        if tel.traced:  # the tree compute_groups built, rebuilt outside its span
            tel.count("tiles.tree_nodes", len(T.build_tree_from_histogram(cells, weights)))
        tel.count("pipeline.histogram_cells", len(cells))
        tel.count("tiles.groups", len(groups))
        tel.count("pipeline.max_over_mean_tile_rows", tile_w.max() / tile_w.mean())
        return routed, groups, hist, tile_w

    def layer_metrics(self) -> dict:
        tel = self.tel
        self_t = tel.self_times()
        n_spans: dict[str, int] = {}
        for s in tel.spans:
            n_spans[s["name"]] = n_spans.get(s["name"], 0) + 1

        def per(name):  # mean self time per occurrence of the span
            return self_t.get(name, 0.0) / n_spans[name] if name in n_spans else 0.0

        def cnt(name):
            v = tel.counts.get(name)
            return float(np.mean(v)) if v else 0.0

        def jobs(name, key):  # per occurrence of the span
            v = [s[key] for s in tel.spans if s["name"] == name]
            return float(np.mean(v)) if v else 0.0

        enc_s = per("functions.encode")
        enc_cpu = tel.span_cpu("functions.encode")
        enc_wall = self_t.get("functions.encode", 0.0)
        # job counts without the forcing spans add, where the run has them
        ops = [o for o in tel.op_counters if not o["traced"]] or tel.op_counters
        extra, pairs = 0.0, 0
        for kind, lat in tel.latencies.items():
            twin = tel.latencies.get(f"{kind}.untraced")
            if twin:
                p = min(len(lat), len(twin))
                extra += sum(lat[:p]) - sum(twin[:p])
                pairs += p
        out = {
            "functions.encode_s": (enc_s, "s"),
            "functions.encode_rows_per_s": (cnt("functions.encode_rows") / enc_s if enc_s else 0.0, "1/s"),
            "functions.encode_cpu_util": (enc_cpu / (enc_wall * tel.cores) if enc_wall else 0.0, "ratio"),
            "pipeline.histogram_s": (per("pipeline.histogram"), "s"),
            "pipeline.histogram_cells": (cnt("pipeline.histogram_cells"), "count"),
            "pipeline.route_s": (per("pipeline.route"), "s"),
            "pipeline.write_s": (per("pipeline.write"), "s"),
            "pipeline.write_bytes": (cnt("pipeline.write_bytes"), "B"),
            "pipeline.write_files": (cnt("pipeline.write_files"), "count"),
            "pipeline.salted_tiles": (cnt("pipeline.salted_tiles"), "count"),
            "pipeline.max_over_mean_tile_rows": (cnt("pipeline.max_over_mean_tile_rows"), "ratio"),
            "tiles.grouping_s": (per("tiles.grouping"), "s"),
            "tiles.tree_nodes": (cnt("tiles.tree_nodes"), "count"),
            "tiles.groups": (cnt("tiles.groups"), "count"),
            "calcqts.way_s": (per("calcqts.way"), "s"),
            "calcqts.node_s": (per("calcqts.node"), "s"),
            "calcqts.rel_s": (per("calcqts.rel"), "s"),
            "calcqts.rel_edges": (cnt("calcqts.rel_edges"), "count"),
            "calcqts.jobs": (sum(jobs(f"calcqts.{k}", "jobs") for k in ("way", "node", "rel")), "count"),
            "filter.closure_s": (per("filter.closure"), "s"),
            "filter.closure_jobs": (jobs("filter.closure", "jobs"), "count"),
            "filter.closure_stages": (jobs("filter.closure", "stages"), "count"),
            "filter.rows_examined_per_result": (cnt("filter.rows_examined_per_result"), "ratio"),
            "filter.pip_rows": (cnt("filter.pip_rows"), "count"),
            "merge.s": (per("merge"), "s"),
            "merge.rows_in": (cnt("merge.rows_in"), "count"),
            "merge.rows_out": (cnt("merge.rows_out"), "count"),
            "extract.sort_s": (per("extract.sort"), "s"),
            "updates.run_s": (per("updates.run"), "s"),
            "updates.touched_rows": (cnt("updates.touched_rows"), "count"),
            "updates.delta_rows": (cnt("updates.delta_rows"), "count"),
            "updates.delta_per_touched": (cnt("updates.delta_per_touched"), "ratio"),
            "checkpoint.write_s": (per("checkpoint.write"), "s"),
            "checkpoint.bytes_written": (cnt("checkpoint.bytes_written"), "B"),
            "checkpoint.write_amplification": (cnt("checkpoint.write_amplification"), "ratio"),
            "checkpoint.asof_s": (per("checkpoint.asof"), "s"),
            "checkpoint.snapshots_folded": (cnt("checkpoint.snapshots_folded"), "count"),
            "checkpoint.changes_between_s": (per("checkpoint.changes_between"), "s"),
            "checkpoint.squash_s": (per("checkpoint.squash"), "s"),
            "checkpoint.bytes_rewritten": (cnt("checkpoint.bytes_rewritten"), "B"),
            "checkpoint.vacuum_bytes_freed": (cnt("checkpoint.vacuum_bytes_freed"), "B"),
            "spark.jobs": (float(np.mean([o["jobs"] for o in ops])), "count"),
            "spark.stages": (float(np.mean([o["stages"] for o in ops])), "count"),
            "spark.tasks": (float(np.mean([o["tasks"] for o in ops])), "count"),
            "spark.failed_tasks": (float(np.mean([o["failed_tasks"] for o in ops])), "count"),
            "proc.cpu_s": (float(np.mean([o["cpu_s"] for o in ops])), "s"),
            "proc.read_bytes": (float(np.mean([o["read_bytes"] for o in ops])), "B"),
            "proc.write_bytes": (float(np.mean([o["write_bytes"] for o in ops])), "B"),
            "trace.overhead_s": (extra / pairs if pairs else 0.0, "s"),
        }
        return out


# ===========================================================================
# tile_images
# ===========================================================================

class TileImages(Workload):
    """Closed loop of bulk tiling jobs over one seeded image table; after each
    job, one tile read and one exact query of the store it wrote."""

    N_IMAGES = 100_000
    N_FILES = 8  # input split so the scan (and the encode) uses every core
    TARGET = 1500
    # the skew region's two heaviest tiles hold ~4,000 rows each (the
    # footprint-size mix splits its rows between depth-16 and depth-18 cells)
    SALT_THRESHOLD = 2 * TARGET
    MIN_STEPS = 3
    NAMES = {"tile_rows_per_s": "tile_rows_per_s (images)",
             "read_p50_s": "tile_read_p50_s", "query_p50_s": "bbox_query_p50_s"}

    def generate(self):
        d = f"{self.tmp}/images"
        os.makedirs(d)
        self.images = gen.images(self.rng(0), self.N_IMAGES)
        for k, idx in enumerate(np.array_split(np.arange(self.N_IMAGES), self.N_FILES)):
            gen.write_parquet({c: v[idx] for c, v in self.images.items()},
                              f"{d}/part-{k}.parquet", gen.IMAGE_SCHEMA)
        self.bboxes = gen.image_read_boxes(self.rng(1), self.images, 64)

    def set_up(self):
        """Warm the Python worker pool, the JIT and the plan caches with one
        untimed step over the whole table: the first job in a fresh JVM costs
        ~13 s more than later ones whatever its size, after a smaller warm-up
        the first timed jobs still run 1.5-2x slower, and a first tile read
        ~1.5x slower than the next."""
        out = f"{self.tmp}/warm-out"
        with self.tel.untraced():
            groups, _hist, _tw = self.tile_job(f"{self.tmp}/images", out)
            self.read_tiles(out, groups, self.bboxes[-1])
            self.read_tiles(out, groups, self.bboxes[-1], exact=True)
        shutil.rmtree(out)
        self.tiled_rows = self.stored_rows = self.N_IMAGES

    def measure(self, seconds):
        """At least MIN_STEPS steps, more while ``seconds`` last."""
        deadline = time.perf_counter() + seconds
        n = 0
        while n < self.MIN_STEPS or time.perf_counter() < deadline:
            self.step(n)
            n += 1

    def tile_job(self, src, out):
        tel = self.tel
        images = self.read(src)
        with tel.span("functions.encode"):
            enc = tel.force(qs.with_bbox_qt(images, "minlon", "minlat", "maxlon", "maxlat"))
        # histogram and write both consume the encode (as assign_tiles does)
        enc = enc.persist()
        routed, groups, hist, tile_w = self.assign(enc, None, self.TARGET)
        with tel.span("pipeline.write"):
            P.write_tiles(routed, out, tile_weights=tile_w.to_dict(),
                          salt_threshold=self.SALT_THRESHOLD, salt_rows=self.TARGET)
        routed.unpersist()
        enc.unpersist()
        nbytes, nfiles = dir_bytes(out)
        tel.count("functions.encode_rows", self.N_IMAGES)
        tel.count("pipeline.write_bytes", nbytes)
        tel.count("pipeline.write_files", nfiles)
        tel.count("pipeline.salted_tiles", int((tile_w > self.SALT_THRESHOLD).sum()))
        return groups, hist, tile_w

    def step(self, n):
        out = f"{self.tmp}/tiles-{n}"
        job = self.op_pair("write", lambda: self.tile_job(f"{self.tmp}/images", out),
                           lambda res: self.check_store(out, *res, oracle=(n == 0)))
        if job is not None:
            groups, _hist, tile_w = job
            bbox = self.bboxes[n % len(self.bboxes)]
            self.op_pair("read", lambda: self.read_tiles(out, groups, bbox),
                         lambda res: self.check_read(res, tile_w))
            self.op_pair("query", lambda: self.read_tiles(out, groups, bbox, exact=True),
                         lambda res: self.check_query(res, bbox))
        self.stored_bytes = dir_bytes(out)[0]
        shutil.rmtree(f"{self.tmp}/tiles-{n - 1}", ignore_errors=True)

    def read_tiles(self, store, groups, bbox, exact=False):
        interior, boundary = FL.classify_tiles(groups, bbox)
        tiles = [int(t) for t in np.concatenate([interior, boundary])]
        df = self.read(store).filter(F.col("tile").isin(tiles))
        if exact:
            df = df.filter(FL.bbox_overlaps(bbox))
        return tiles, df.select("id", "qt", "tile").toPandas()

    def check_read(self, res, tile_w):
        tiles, got = res
        self.tel.check(len(got) == int(tile_w.reindex(tiles).fillna(0).sum()),
                       f"tile read of {len(tiles)} tiles returned {len(got)} rows")

    def check_query(self, res, bbox):
        a, b, c, d = bbox
        im = self.images
        hit = (im["minlon"] <= c) & (im["minlat"] <= d) & (im["maxlon"] >= a) & (im["maxlat"] >= b)
        exp = np.sort(im["id"][hit])
        got = np.sort(res[1]["id"].to_numpy())
        self.tel.check(np.array_equal(got, exp),
                       f"bbox query returned {got.size} footprints, {exp.size} intersect")

    def check_store(self, out, groups, hist, tile_w, oracle):
        tel = self.tel
        t = pq.read_table(out, columns=["id", "qt", "tile"])
        ids = t["id"].to_numpy()
        qt = t["qt"].to_numpy().astype(np.int64)
        tile = t["tile"].to_numpy().astype(np.int64)
        tel.check(len(ids) == self.N_IMAGES, f"wrote {len(ids)} of {self.N_IMAGES} rows")
        tel.check(np.unique(ids).size == len(ids), "duplicate ids in the tile store")
        tel.check(bool(is_ancestor(tile, qt).all()), "a row's tile is not an ancestor of its qt")
        if oracle:
            otree = _oracle_tiles().OracleTree()
            for c, w in zip(hist["cell"].tolist(), hist["weight"].tolist()):
                otree.add(int(c), int(w))
            exp = otree.find_tree_groups(self.TARGET, self.TARGET // 2)
            got = [(int(c), int(tile_w.get(c, 0))) for c in groups]
            tel.check(got == exp, f"groups differ from OracleTree ({len(got)} vs {len(exp)})")


# ===========================================================================
# osm_store
# ===========================================================================

class OsmStore(Workload):
    """Build a checkpointed store of an OSM-shaped world in set-up, then one
    fixed pass: an update cycle (change batch -> run_update -> checkpointed
    change snapshot -> filelist), three as-of reads, one extract of the base
    world, compaction, and one more as-of read.

    Every operation here is dominated by a fixed Spark job, stage and
    planning cost (on 4 cores ~0.5 s for an as-of read, 10-40 s for the
    rest), so the pass outlasts any ``--seconds`` the benchmark runs with,
    and one run holds one build, one cycle, one extract and four as-of
    reads."""

    N_WAYS = 1500
    N_POIS = 3000
    N_RELS = 150
    TARGET = 3000  # ~5 tiles: each tile and batch adds files to every store scan
    N_BATCHES = 2
    # as-of reads before compaction (base + change snapshot) and after it
    # (the squashed base alone); the median falls on the former
    READS_BEFORE, READS_AFTER = 3, 1
    BATCH = dict(n_moves=60, n_modifies=120, n_creates=60, n_deletes=30, n_way_deletes=10)
    NAMES = {"tile_rows_per_s": "tile_rows_per_s (elements, base build)",
             "write_p50_s": "update_p50_s", "read_p50_s": "asof_read_p50_s",
             "query_p50_s": "extract_p50_s"}

    def generate(self):
        d = f"{self.tmp}/world"
        os.makedirs(d)
        self.world = gen.World(self.rng(0), self.N_WAYS, self.N_POIS, self.N_RELS)
        self.world.write_nodes(f"{d}/nodes.parquet")
        self.world.write_ways(f"{d}/ways.parquet")
        self.world.write_rels(f"{d}/rels.parquet")
        self.tiled_rows = (int(self.world.node_alive.sum()) + int(self.world.way_alive.sum())
                           + len(self.world.rel_members))
        self.rel_edges = sum(t == 2 for m in self.world.rel_members for t, _ in m)
        self.read_boxes = gen.asof_boxes(self.rng(1), self.world,
                                         self.READS_BEFORE + self.READS_AFTER)
        self.request = gen.extract_request(self.rng(2), self.world)
        self.base_nodes = self.world.live_nodes()  # copies: the change batch edits the world

    # -- build ---------------------------------------------------------------

    def set_up(self):
        """The base build is set-up.  Being the first Spark work of the run,
        it also starts the Python worker pool and warms code generation for
        the timed operations."""
        self.base = f"{self.tmp}/store"
        self.ts = 0
        self.stored_rows = self.tiled_rows  # until compaction counts the live rows
        d = f"{self.tmp}/world"
        frames = [self.read(f"{d}/{k}.parquet").drop("changetype")
                  for k in ("nodes", "ways", "rels")]
        self.guarded("build", lambda: self.build_store(*frames), self.check_build)

    def build_store(self, nodes, ways, rels):
        assigned, self.groups = self.tile_world(nodes, ways, rels)
        rows = assigned.select((F.col("id") * 4 + F.col("etype")).alias("id"), "tile", "qt",
                               F.lit(0).alias("changetype"))
        with self.tel.span("checkpoint.write"):
            CK.write_tiles_checkpointed(rows, self.base, "s0", n_batches=self.N_BATCHES)
        CK.append_filelist(self.base, "s0", 0, kind="base")

    def check_build(self, _):
        """Read the base snapshot's files directly (pyarrow): at timestamp 0
        the store is that one snapshot, nothing to fold."""
        dirs = pa_ds.partitioning(pa.schema([("batch", pa.int64()), ("tile", pa.int64())]),
                                  flavor="hive")
        t = pq.read_table(f"{self.base}/snapshot=s0", columns=["id", "qt", "tile"],
                          partitioning=dirs)
        got = pd.DataFrame({c: t[c].to_numpy().astype(np.int64) for c in ("id", "qt", "tile")})
        self.tel.check(len(got) == self.tiled_rows and got["id"].is_unique,
                       f"base snapshot holds {len(got)} of {self.tiled_rows} elements")
        self.tel.check(bool(is_ancestor(got["tile"].to_numpy(), got["qt"].to_numpy()).all()),
                       "an element's tile is not an ancestor of its qt")

    def tile_world(self, nodes, ways, rels):
        """``osm_pipeline.tile_elements`` untraced; traced, the same layer
        calls (calc_qts's three legs, then assign_tiles) with a span each."""
        tel = self.tel
        if not tel.traced:
            return OP.tile_elements(nodes, ways, rels, target=self.TARGET)
        with tel.span("calcqts.way"):
            wq = tel.force(C.way_qts(nodes, ways))
        with tel.span("calcqts.node"):
            nq = tel.force(C.node_qts(nodes, ways, wq))
        with tel.span("calcqts.rel"):
            rq = tel.force(C.rel_qts(rels, nq, wq))
        tel.count("calcqts.rel_edges", self.rel_edges)
        eq = (nq.select(F.lit(0).alias("etype"), "id", "qt")
              .unionByName(wq.select(F.lit(1).alias("etype"), "id", "qt"))
              .unionByName(rq.select(F.lit(2).alias("etype"), "id", "qt")))
        weight = F.lit(OP.WEIGHTS[2])
        for etype in (1, 0):
            weight = F.when(F.col("etype") == etype, OP.WEIGHTS[etype]).otherwise(weight)
        eq = eq.withColumn("w", weight).persist()
        routed, groups, _hist, _tw = self.assign(eq, "w", self.TARGET)
        return routed.select("etype", "id", "qt", "tile"), groups

    # -- the timed pass ------------------------------------------------------

    def measure(self, seconds):
        d = f"{self.tmp}/cycle-1"
        os.makedirs(d)
        self.world.change_batch(self.rng(10), **self.BATCH,
                                node_path=f"{d}/cn.parquet", way_path=f"{d}/cw.parquet")
        self.guarded("write", lambda: self.update(d, 1))
        self.ts = 1
        self.asof_reads(self.read_boxes[:self.READS_BEFORE])
        out_dir = f"{self.tmp}/extract"
        self.guarded("query", lambda: self.extract(self.request, out_dir),
                     lambda _: self.check_extract(self.request, out_dir))
        shutil.rmtree(out_dir, ignore_errors=True)
        self.guarded("compact", self.compact)
        self.asof_reads(self.read_boxes[self.READS_BEFORE:])
        self.stored_bytes, _ = dir_bytes(self.base)

    def update(self, d, ts):
        tel = self.tel
        cur = CK.read_snapshot_as_of(self.spark, self.base, ts - 1, keys=("tile", "id"))
        stored = cur.select((F.col("id") % 4).alias("etype"), F.expr("id DIV 4").alias("id"),
                            "qt", F.col("tile").alias("alloc"))
        nodes = self.read(f"{self.tmp}/world/nodes.parquet").drop("changetype")
        ways = self.read(f"{self.tmp}/world/ways.parquet").drop("changetype")
        cn, cw = self.read(f"{d}/cn.parquet"), self.read(f"{d}/cw.parquet")
        with tel.span("updates.run"):
            delta, _, _ = U.run_update(nodes, ways, cn, cw, stored, self.groups)
            delta = tel.force(delta)
        if tel.traced:
            touched = (cn.count() + cw.count()
                       + U.touched_way_ids(ways, cn.select("id")).count())
            n_delta = delta.count()
            tel.count("updates.touched_rows", touched)
            tel.count("updates.delta_rows", n_delta)
            tel.count("updates.delta_per_touched", n_delta / touched)
        rows = delta.select((F.col("id") * 4 + F.col("etype")).alias("id"), "tile", "qt",
                            "changetype")
        before = dir_bytes(self.base)[0] if tel.traced else 0
        with tel.span("checkpoint.write"):
            CK.write_tiles_checkpointed(rows, self.base, f"c{ts}", n_batches=self.N_BATCHES)
        CK.append_filelist(self.base, f"c{ts}", ts, kind="change")
        delta.unpersist()
        if tel.traced:
            written = dir_bytes(self.base)[0] - before
            data = sum(os.path.getsize(f) for f in
                       glob.glob(f"{self.base}/snapshot=c{ts}/batch=*/tile=*/*.parquet"))
            tel.count("checkpoint.bytes_written", written)
            tel.count("checkpoint.write_amplification", written / max(data, 1))

    def asof_reads(self, boxes):
        for bbox in boxes:
            self.op_pair("read", lambda: self.asof_read(bbox),
                         lambda got: self.tel.check(got["id"].is_unique,
                                                    "as-of read returned an element twice"))

    def asof_read(self, bbox):
        """``read_snapshot_as_of`` of a bbox's tiles; traced, split at its
        layer boundary: the tile-pruned snapshot reads, then their fold."""
        tel = self.tel
        interior, boundary = FL.classify_tiles(self.groups, bbox)
        tiles = [int(t) for t in np.concatenate([interior, boundary])]
        if not tel.traced:
            return CK.read_snapshot_as_of(self.spark, self.base, self.ts, tiles=tiles,
                                          keys=("tile", "id")).toPandas()
        entries = sorted((e for e in CK.read_filelist(self.base) if e["timestamp"] <= self.ts),
                         key=lambda e: e["timestamp"])
        with tel.span("checkpoint.asof"):
            frames = [tel.force(CK.read_snapshot(self.spark, self.base, e["snapshot"])
                                .filter(F.col("tile").isin(tiles))) for e in entries]
        with tel.span("merge"):
            got = M.merge_changes(frames[0], frames[1:], keys=("tile", "id")).toPandas()
        tel.count("checkpoint.snapshots_folded", len(frames))
        tel.count("merge.rows_in", sum(f.count() for f in frames))
        tel.count("merge.rows_out", len(got))
        for f in frames:
            f.unpersist()
        return got

    # -- extract -------------------------------------------------------------

    def extract(self, req, out_dir):
        """``plans.extract.extract`` of one polygon request over the base
        world, then the global sort + ``regroup_blocks`` + write of each
        output.  A traced run splits the same request at its layer
        boundaries; it has no untraced twin."""
        tel = self.tel
        d = f"{self.tmp}/world"
        nodes, ways, rels = (self.read(f"{d}/{k}.parquet") for k in ("nodes", "ways", "rels"))
        poly = FL.Poly(*req["poly"])
        persisted = []
        if not tel.traced:
            out = EX.extract([nodes], [ways], [rels], req["bbox"], poly)
        else:
            out, persisted = self.extract_traced(nodes, ways, rels, req["bbox"], poly)
        with tel.span("extract.sort"):
            for k, df in out.items():
                EX.regroup_blocks(df).write.mode("overwrite").parquet(f"{out_dir}/{k}")
        for df in persisted:
            df.unpersist()

    def extract_traced(self, nodes, ways, rels, bbox, poly):
        """``plans.extract.extract`` split at its layer boundaries."""
        tel = self.tel
        with tel.span("filter.closure"):
            ids = {k: tel.force(v) for k, v in FL.id_closure(nodes, ways, rels, bbox, poly).items()}
        # the UDF sees only rows the bbox conjunct passes (Spark evaluates the
        # plain predicate below the Python one)
        tel.count("filter.pip_rows", nodes.filter(FL.bbox_contains_point(bbox)).count())
        examined = nodes.count() + ways.count() + rels.count()
        result = sum(df.count() for df in ids.values())
        tel.count("filter.rows_examined_per_result", examined / max(result, 1))
        out = {
            "nodes": nodes.join(ids["nodes"].unionByName(ids["exnodes"]), "id", "left_semi"),
            "ways": ways.join(ids["ways"], "id", "left_semi"),
            "relations": rels.join(ids["relations"], "id", "left_semi"),
        }
        out = {k: df.repartitionByRange("id").sortWithinPartitions("id") for k, df in out.items()}
        return out, list(ids.values())

    def check_extract(self, req, out_dir):
        tel = self.tel
        nodes = pq.read_table(f"{out_dir}/nodes", columns=["id"])["id"].to_numpy()
        ways = pq.read_table(f"{out_dir}/ways", columns=["id", "refs"])
        rels = pq.read_table(f"{out_dir}/relations", columns=["id"])["id"].to_numpy()
        node_set = set(nodes.tolist())
        refs = {r for lst in ways["refs"].to_pylist() for r in lst}
        tel.check(refs <= node_set, f"{len(refs - node_set)} way refs missing from the extract")
        ids, lon, lat = self.base_nodes
        a, b, c, d = req["bbox"]
        vx, vy = (np.asarray(v, np.float64) for v in req["poly"])
        inside = ((lon >= a) & (lon <= c) & (lat >= b) & (lat <= d)
                  & pnpoly(vx, vy, lon * 1e-7, lat * 1e-7))
        missing = set(ids[inside].tolist()) - node_set
        tel.check(not missing, f"{len(missing)} nodes inside the filter not returned")
        exp = self.duckdb_extract(req)
        got = {"nodes": node_set, "ways": set(ways["id"].to_numpy().tolist()),
               "relations": set(rels.tolist())}
        for k in got:
            tel.check(got[k] == exp[k], f"extract {k} differ from DuckDB "
                      f"({len(got[k])} vs {len(exp[k])})")

    def duckdb_extract(self, req) -> dict:
        """The same extract as one DuckDB query over the generated parquet:
        the bbox and an even-odd crossing test against the polygon's edges,
        then the reference closure."""
        import duckdb

        a, b, c, d = req["bbox"]
        vx, vy = ([float(x) for x in v] for v in req["poly"])
        # edge i runs from vertex i-1 to vertex i, as in the package's pnpoly
        edges = ", ".join(f"('{vx[i]!r}'::DOUBLE, '{vy[i]!r}'::DOUBLE, "
                          f"'{vx[i - 1]!r}'::DOUBLE, '{vy[i - 1]!r}'::DOUBLE)"
                          for i in range(len(vx)))
        rel_steps = "".join(
            f", r{k + 1} AS (SELECT id FROM r{k} UNION SELECT rel_id FROM m "
            f"WHERE mem_type = 2 AND mem_ref IN (SELECT id FROM r{k}))"
            for k in range(5))
        px, py = "(n.lon::DOUBLE * '1e-7'::DOUBLE)", "(n.lat::DOUBLE * '1e-7'::DOUBLE)"
        w = f"{self.tmp}/world"
        sql = f"""
WITH n AS (SELECT * FROM read_parquet('{w}/nodes.parquet')),
w AS (SELECT * FROM read_parquet('{w}/ways.parquet')),
r AS (SELECT * FROM read_parquet('{w}/rels.parquet')),
pe(xi, yi, xj, yj) AS (VALUES {edges}),
inr AS (SELECT n.id FROM n CROSS JOIN pe
        WHERE n.lon BETWEEN {a} AND {c} AND n.lat BETWEEN {b} AND {d}
        GROUP BY n.id
        HAVING sum(CASE WHEN (pe.yi > {py}) <> (pe.yj > {py})
                         AND {px} < (pe.xj - pe.xi) * ({py} - pe.yi) / (pe.yj - pe.yi) + pe.xi
                        THEN 1 ELSE 0 END) % 2 = 1),
e AS (SELECT id AS way_id, unnest(refs) AS node_id FROM w),
sw AS (SELECT DISTINCT way_id AS id FROM e WHERE node_id IN (SELECT id FROM inr)),
alln AS (SELECT id FROM inr UNION SELECT node_id FROM e WHERE way_id IN (SELECT id FROM sw)),
m AS (SELECT id AS rel_id, mm.mem_type, mm.mem_ref FROM (SELECT id, unnest(members) AS mm FROM r)),
r0 AS (SELECT DISTINCT rel_id AS id FROM m WHERE (mem_type = 0 AND mem_ref IN (SELECT id FROM alln))
       OR (mem_type = 1 AND mem_ref IN (SELECT id FROM sw))){rel_steps}
SELECT 'nodes' AS k, id FROM n WHERE id IN (SELECT id FROM alln)
UNION ALL SELECT 'ways', id FROM sw
UNION ALL SELECT 'relations', id FROM r5
"""
        out = {"nodes": set(), "ways": set(), "relations": set()}
        with duckdb.connect() as con:
            for k, i in con.execute(sql).fetchall():
                out[k].add(i)
        return out

    # -- compaction ----------------------------------------------------------

    def world_at(self, ts) -> pd.DataFrame:
        df = CK.read_snapshot_as_of(self.spark, self.base, ts, keys=("tile", "id"))
        return self.canon(df)

    @staticmethod
    def canon(df) -> pd.DataFrame:
        return (df.select("id", "tile", "qt").toPandas()
                .sort_values(["id", "tile"]).reset_index(drop=True))

    def compact(self):
        """Incremental read, squash and vacuum of the change cycle, each
        checked against the as-of world it must preserve."""
        tel = self.tel
        lo, hi = 0, self.ts
        hi_world = self.world_at(hi)
        with tel.span("checkpoint.changes_between"):
            changes = CK.read_changes_between(self.spark, self.base, lo, hi,
                                              keys=("tile", "id")).persist()
            changes.count()
        lo_frame = CK.read_snapshot_as_of(self.spark, self.base, lo, keys=("tile", "id"))
        applied = self.canon(M.apply_changes(lo_frame, changes, keys=("tile", "id")))
        changes.unpersist()
        tel.check(applied.equals(hi_world),
                  f"as_of({hi}) != apply(as_of({lo}), changes({lo}, {hi}))")
        before, _ = dir_bytes(self.base)
        with tel.span("checkpoint.squash"):
            CK.squash_snapshots(self.spark, self.base, hi, f"b{hi}", keys=("tile", "id"),
                                n_batches=self.N_BATCHES)
        mid, _ = dir_bytes(self.base)
        with tel.span("checkpoint.vacuum"):
            CK.vacuum(self.base, grace_seconds=0)
        after, _ = dir_bytes(self.base)
        tel.count("checkpoint.bytes_rewritten", mid - before)
        tel.count("checkpoint.vacuum_bytes_freed", mid - after)
        tel.check(self.world_at(hi).equals(hi_world), "squash + vacuum changed the as-of world")
        self.stored_rows = len(hi_world)


WORKLOADS = {"tile_images": TileImages, "osm_store": OsmStore}
