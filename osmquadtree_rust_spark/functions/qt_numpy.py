"""Vectorized (numpy) quadtree-cell math.

Re-implements, from its observable behaviour, the cell arithmetic of the
reference engine (jharris2268/osmquadtree-rust):

- fixed-point coordinates: degrees x 1e7 as int32, round-half-away
  (reference src/elements/quadtree.rs:9-18)
- cell encoding: i64 with two bits per level packed from bit 61 downward and
  the depth (0..20) in the low 5 bits (quadtree.rs:324-406)
- `calculate` picks the deepest cell whose (buffer-tolerant) extent contains
  the whole box, descending in *Mercator* y (quadtree.rs:558-672)
- quadrant numbering 0=NW 1=NE 2=SW 3=SE in Mercator y (quadtree.rs:509-519)

Everything here is pure numpy over flat arrays so it can back Arrow-batched
pandas UDFs (zero per-row Python) and double as the reference oracle for
property tests (tests/oracle_qt.py holds an independent scalar
transliteration used to cross-check this module).
"""

from __future__ import annotations

import numpy as np

QT_MAX_LEVEL = 18  # reference utils/src/commands/mod.rs:28
QT_GRAPH_LEVEL = 17  # reference utils/src/commands/mod.rs:29
QT_BUFFER = 0.05  # reference utils/src/commands/mod.rs:30

PLANET_BBOX = (-1800000000, -900000000, 1800000000, 900000000)


# ---------------------------------------------------------------------------
# coordinate conversions (quadtree.rs:9-29)
# ---------------------------------------------------------------------------

def coordinate_as_integer(v: np.ndarray) -> np.ndarray:
    """degrees (f64) -> fixed-point 1e-7 deg, round half away from zero.

    Mirrors `coordinate_as_integer` (quadtree.rs:9-14): `(v*1e7 + 0.5) as i32`
    for positive v (truncation toward zero), `(v*1e7 - 0.5) as i32` otherwise.
    """
    v = np.asarray(v, dtype=np.float64)
    shifted = np.where(v > 0.0, v * 1e7 + 0.5, v * 1e7 - 0.5)
    return np.trunc(shifted).astype(np.int64)


def coordinate_as_float(v: np.ndarray) -> np.ndarray:
    return np.asarray(v, dtype=np.float64) * 0.0000001


def latitude_mercator(y: np.ndarray, scale: float = 1.0) -> np.ndarray:
    """ln(tan(pi*(1+y/90)/4)) * scale/pi (quadtree.rs:19-23)."""
    y = np.asarray(y, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.log(np.tan(np.pi * (1.0 + y / 90.0) / 4.0)) * scale / np.pi


def latitude_un_mercator(d: np.ndarray, scale: float = 1.0) -> np.ndarray:
    """(atan(exp(d*pi/scale))*4/pi - 1)*90 (quadtree.rs:25-29)."""
    d = np.asarray(d, dtype=np.float64)
    return (np.arctan(np.exp(d * np.pi / scale)) * 4.0 / np.pi - 1.0) * 90.0


# ---------------------------------------------------------------------------
# cell encoding (quadtree.rs:558-672)
# ---------------------------------------------------------------------------

def _find_quad(mx, my, Mx, My, buffer: float) -> np.ndarray:
    """Vectorized quadrant chooser; exact branch ladder of find_quad
    (quadtree.rs:558-601). Returns int64 in {-1,0,1,2,3}.

    Two-phase for throughput: the four strict-quadrant branches decide
    almost every box; the buffer-tolerance ladder (which needs the |.|
    comparisons) runs only on the residual rows, gathered/scattered.
    """
    out = np.full(mx.shape, -1, dtype=np.int64)
    xneg = Mx <= 0.0
    xpos = mx >= 0.0
    ypos = my >= 0.0
    yneg = My <= 0.0
    in_range = ~(
        (mx < (-1.0 - buffer))
        | (my < (-1.0 - buffer))
        | (Mx > (1.0 + buffer))
        | (My > (1.0 + buffer))
    )
    q = np.where(
        xneg & ypos,
        0,
        np.where(
            xpos & ypos,
            1,
            np.where(xneg & yneg, 2, np.where(xpos & yneg, 3, -1)),
        ),
    )
    decided = q >= 0
    out[in_range & decided] = q[in_range & decided]

    rest = in_range & ~decided
    if rest.any():
        idx = np.where(rest)[0]
        rmx, rmy, rMx, rMy = mx[idx], my[idx], Mx[idx], My[idx]
        aMx, amx = np.abs(rMx), np.abs(rmx)
        aMy, amy = np.abs(rMy), np.abs(rmy)
        x0 = (rMx < buffer) & (aMx < amx)   # buffered west
        x1 = (rmx > -buffer) & (aMx >= amx)  # buffered east
        y0 = (rmy > -buffer) & (aMy >= amy)  # buffered north
        y1 = (rMy < buffer) & (aMy < amy)   # buffered south
        rq = np.where(
            x0 & y0, 0, np.where(x1 & y0, 1, np.where(x0 & y1, 2, np.where(x1 & y1, 3, -1)))
        )
        out[idx] = rq
    return out


def calculate(
    minlon,
    minlat,
    maxlon,
    maxlat,
    maxlevel: int = QT_MAX_LEVEL,
    buffer: float = QT_BUFFER,
) -> np.ndarray:
    """Cell for an int32-fixed-point bbox: the deepest cell whose
    buffer-tolerant extent contains the whole box.

    Vectorized equivalent of `Quadtree::calculate_vals` -> the recursive
    make_quad_tree_floating/make_quad_tree_internal descent
    (quadtree.rs:351-367,603-672).  Returns int64 cells; -1 for inverted
    (min>max) boxes.
    """
    minx = coordinate_as_float(np.asarray(minlon, dtype=np.int64))
    miny = coordinate_as_float(np.asarray(minlat, dtype=np.int64))
    maxx = coordinate_as_float(np.asarray(maxlon, dtype=np.int64))
    maxy = coordinate_as_float(np.asarray(maxlat, dtype=np.int64))

    invalid = (minx > maxx) | (miny > maxy)
    maxx = np.where(maxx == minx, maxx + 0.0000001, maxx)
    maxy = np.where(maxy == miny, maxy + 0.0000001, maxy)

    my = latitude_mercator(miny, 1.0)
    My = latitude_mercator(maxy, 1.0)
    mx = minx / 180.0
    Mx = maxx / 180.0

    qt = np.zeros(np.broadcast(mx, my).shape, dtype=np.int64)
    done = invalid.copy()

    for level in range(int(maxlevel)):
        q = _find_quad(mx, my, Mx, My, buffer)
        step = (~done) & (q >= 0)
        qt = qt + np.where(step, ((q & 3) << (61 - 2 * level)) + 1, 0)
        done = done | (q < 0)
        # recentre on the chosen quadrant and double (quadtree.rs:620-644);
        # values on done rows are garbage but never read
        dx = 0.5 - (q & 1).astype(np.float64)
        dy = ((q >> 1) & 1).astype(np.float64) - 0.5
        mx = 2.0 * (mx + dx)
        Mx = 2.0 * (Mx + dx)
        my = 2.0 * (my + dy)
        My = 2.0 * (My + dy)

    return np.where(invalid, np.int64(-1), qt)


def calculate_point(
    lon, lat, maxlevel: int = QT_MAX_LEVEL, buffer: float = QT_BUFFER
) -> np.ndarray:
    """Cell for a point: `calculate` on the 1-ulp box (lon,lat,lon+1,lat+1)
    (quadtree.rs:369-378)."""
    lon = np.asarray(lon, dtype=np.int64)
    lat = np.asarray(lat, dtype=np.int64)
    return calculate(lon, lat, lon + 1, lat + 1, maxlevel, buffer)


# ---------------------------------------------------------------------------
# pure-integer cell ops (quadtree.rs:392-496)
# ---------------------------------------------------------------------------

def depth(qt) -> np.ndarray:
    """Low 5 bits (quadtree.rs:408-410)."""
    return (np.asarray(qt, dtype=np.int64) & 31).astype(np.int64)


def qt_round(qt, level: int) -> np.ndarray:
    """Truncate to ancestor at `level`; identity when depth<=level
    (quadtree.rs:450-458)."""
    qt = np.asarray(qt, dtype=np.int64)
    lv = np.int64(level)
    shift = np.int64(63 - 2 * int(level))
    trunc = ((qt >> shift) << shift) + lv
    return np.where(depth(qt) <= lv, qt, trunc)


def quad(qt, d) -> np.ndarray:
    """Quadrant at level d (quadtree.rs:442-448)."""
    qt = np.asarray(qt, dtype=np.int64)
    d = np.asarray(d, dtype=np.int64)
    return (qt >> (61 - 2 * d)) & 3


def is_parent(a, b) -> np.ndarray:
    """True if the shallower of a,b is an ancestor-or-self of the other
    (quadtree.rs:460-469)."""
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    da, db = depth(a), depth(b)
    lo = np.where(da <= db, a, b)
    hi = np.where(da <= db, b, a)
    dlo = np.minimum(da, db)
    shift = 63 - 2 * dlo
    rounded = ((hi >> shift) << shift) + dlo
    return (lo == rounded) | (a == b)


def _first_diff_level(a, b) -> np.ndarray:
    """First level (0-based) at which the 2-bit path chunks of a and b
    differ; 32 when the packed paths are identical.

    Level i occupies bits (62-2i, 61-2i); chunk compare == the
    round(i+1)-equality loop in `common` (quadtree.rs:487-493).
    """
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    x = (a ^ b) & ~np.int64(31)  # path bits only
    out = np.full(x.shape if x.shape else (1,), 32, dtype=np.int64)
    x_ = np.atleast_1d(x)
    found = np.zeros(x_.shape, dtype=bool)
    for i in range(21):
        chunk = (x_ >> (61 - 2 * i)) & 3
        hit = (~found) & (chunk != 0)
        out = np.where(hit, i, out)
        found = found | hit
    return out if np.asarray(a).shape else out


def common(a, b) -> np.ndarray:
    """Lowest common ancestor of two cells; negative (null) inputs act as
    identity (quadtree.rs:471-496)."""
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    a_, b_ = np.atleast_1d(a), np.atleast_1d(b)
    d = np.minimum(np.minimum(depth(a_), depth(b_)), _first_diff_level(a_, b_))
    shift = 63 - 2 * d
    lca = ((a_ >> shift) << shift) + d
    res = np.where(a_ < 0, b_, np.where(b_ < 0, a_, np.where(a_ == b_, a_, lca)))
    return res if a.shape or b.shape else res[0]


def common_scalar(a: int, b: int) -> int:
    """Pure-Python-int LCA — same semantics as `common`, ~50x faster per
    call than the numpy path for scalar use (driver-side loops like the
    rel->rel fixed point call this 10^5-10^6 times)."""
    if a < 0:
        return b
    if b < 0:
        return a
    if a == b:
        return a
    d = min(a & 31, b & 31)
    x = (a ^ b) & ~31
    for i in range(21):
        if i >= d:
            break
        if (x >> (61 - 2 * i)) & 3:
            d = i
            break
    shift = 63 - 2 * d
    return ((a >> shift) << shift) + d


def common_reduce(qts: np.ndarray) -> int:
    """LCA of a set = common(min, max) over non-negative members.

    Valid because numeric i64 order == (padded path, depth) lexicographic
    order, so the set's longest common path prefix is the prefix shared by
    its numeric min and max (property-tested against a sequential fold of
    `common` in tests/test_qt.py).
    """
    qts = np.asarray(qts, dtype=np.int64)
    valid = qts[qts >= 0]
    if valid.size == 0:
        return -2
    return int(common(valid.min(), valid.max()))


# ---------------------------------------------------------------------------
# xyz / string / bbox conversions (quadtree.rs:61-106,392-432,498-541)
# ---------------------------------------------------------------------------

def from_xyz(x, y, z) -> np.ndarray:
    """Web-mercator tile (x,y,z) -> cell (quadtree.rs:392-406)."""
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    z = np.asarray(z, dtype=np.int64)
    ans = np.zeros(np.broadcast(x, y, z).shape, dtype=np.int64)
    for i in range(20):
        bit = ((x >> i) & 1) | (((y >> i) & 1) << 1)
        ans = np.where(z > i, ans + (bit << (2 * i)), ans)
    ans = ans << (63 - 2 * np.minimum(z, 20))
    out = ans + z
    return np.where(z > 20, np.int64(-2), out)


def to_xyz(qt) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cell -> (x, y, z) (quadtree.rs:61-87)."""
    qt = np.asarray(qt, dtype=np.int64)
    z = depth(qt)
    x = np.zeros(np.atleast_1d(qt).shape, dtype=np.int64)
    y = np.zeros_like(x)
    q_ = np.atleast_1d(qt)
    z_ = np.atleast_1d(z)
    for i in range(20):
        act = z_ > i
        t = (q_ >> (61 - 2 * i)) & 3
        x = np.where(act, (x << 1) | (t & 1), x)
        y = np.where(act, (y << 1) | ((t >> 1) & 1), y)
    if qt.shape:
        return x, y, z
    return x[0], y[0], z_[0]


def as_string(qt: int) -> str:
    """Base-4 'ABCD' path (quadtree.rs:412-432)."""
    qt = int(qt)
    if qt < 0:
        return "NULL"
    return "".join("ABCD"[(qt >> (61 - 2 * i)) & 3] for i in range(qt & 31))


def from_string(s: str) -> int:
    """'ABCD' path -> cell (quadtree.rs C++ comment from_string)."""
    ans = 0
    for i, ch in enumerate(s):
        ans |= "ABCD".index(ch) << (61 - 2 * i)
    return ans | len(s)


def assignment_bbox(qt) -> tuple[np.ndarray, ...]:
    """Cells -> fixed-point bboxes (minlon,minlat,maxlon,maxlat) holding
    every box that `calculate` assigns to the cell or to a descendant.

    `calculate` lets a box reach QT_BUFFER cell widths past each edge in
    (lon/180, Mercator y) space, so the buffer is applied there before
    un-projecting (`as_bbox` buffers in degrees, which falls short on the
    equator side of a cell).  A buffered edge at or past the Mercator edge
    reaches the pole: the root holds boxes beyond +-85 deg.  Rounded
    outward to whole fixed-point units."""
    x, y, z = to_xyz(np.atleast_1d(np.asarray(qt, dtype=np.int64)))
    w = 2.0 / (2.0 ** z)  # cell side in normalized units (the planet is 2)
    pad = w * QT_BUFFER
    minx = -1.0 + x * w - pad
    maxx = -1.0 + (x + 1) * w + pad
    miny = 1.0 - (y + 1) * w - pad
    maxy = 1.0 - y * w + pad
    minlat = np.where(miny <= -1.0, -90.0, latitude_un_mercator(miny, 1.0))
    maxlat = np.where(maxy >= 1.0, 90.0, latitude_un_mercator(maxy, 1.0))
    return (
        np.floor(minx * 180.0 * 1e7).astype(np.int64),
        np.floor(minlat * 1e7).astype(np.int64),
        np.ceil(maxx * 180.0 * 1e7).astype(np.int64),
        np.ceil(maxlat * 1e7).astype(np.int64),
    )


def as_bbox(qt, buffer: float = 0.0) -> tuple[np.ndarray, ...]:
    """Cell -> buffered fixed-point bbox (minlon,minlat,maxlon,maxlat)
    (quadtree.rs:498-541)."""
    qt = np.asarray(qt, dtype=np.int64)
    q_ = np.atleast_1d(qt)
    z = depth(q_)
    min_x = np.full(q_.shape, -180.0)
    min_y = np.full(q_.shape, -90.0)
    max_x = np.full(q_.shape, 180.0)
    max_y = np.full(q_.shape, 90.0)
    for i in range(20):
        act = z > i
        v = (q_ >> (61 - 2 * i)) & 3
        left = act & ((v == 0) | (v == 2))
        right = act & ~((v == 0) | (v == 2))
        bottom = act & ((v == 2) | (v == 3))
        top = act & ~((v == 2) | (v == 3))
        half_x = (max_x - min_x) / 2.0
        half_y = (max_y - min_y) / 2.0
        max_x = np.where(left, max_x - half_x, max_x)
        min_x = np.where(right, min_x + half_x, min_x)
        max_y = np.where(bottom, max_y - half_y, max_y)
        min_y = np.where(top, min_y + half_y, min_y)
    min_y_m = latitude_un_mercator(min_y, 90.0)
    max_y_m = latitude_un_mercator(max_y, 90.0)
    if buffer > 0.0:
        xx = (max_x - min_x) * buffer
        yy = (max_y_m - min_y_m) * buffer
        min_x = min_x - xx
        min_y_m = min_y_m - yy
        max_x = max_x + xx
        max_y_m = max_y_m + yy
    res = (
        coordinate_as_integer(min_x),
        coordinate_as_integer(min_y_m),
        coordinate_as_integer(max_x),
        coordinate_as_integer(max_y_m),
    )
    if qt.shape:
        return res
    return tuple(r[0] for r in res)
