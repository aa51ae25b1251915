"""Spatial function pack: the reference engine's ST_* surface
(hyparam/squirreling src/spatial/spatial.js:20-69 — constructors
ST_GeomFromText / ST_MakeEnvelope / ST_AsText; predicates ST_Intersects,
ST_Contains, ST_ContainsProperly, ST_Within, ST_Overlaps, ST_Touches,
ST_Equals, ST_Crosses, ST_Covers, ST_CoveredBy, ST_DWithin).

Geometries are GeoJSON-shaped dicts with WKT parse/serialize
(reference src/spatial/wkt.js). Epsilon-based planar geometry, independently
implemented from the textbook algorithms (orientation predicates, ray-cast
point-in-polygon, segment distance). Like the reference, ST_Covers is
approximated as ST_Contains (reference src/spatial/spatial.js:60-61 TODO).

Execution model: geometry predicates are inherently row-wise Python →
registered as Arrow-batched pandas UDFs over WKT/GeoJSON strings. At scale,
pre-filter with a cheap JVM-side bounding-box test (st_bbox_* columns) so
the Python path sees only candidate pairs (the classic spatial-join
pattern: bbox grid-join JVM-side, exact predicate Python-side).
"""

from __future__ import annotations

import json
import math
import re

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, StringType

EPS = 1e-9

# ---------------------------------------------------------------------------
# WKT <-> GeoJSON
# ---------------------------------------------------------------------------

_WKT_TYPES = {
    "POINT": "Point",
    "MULTIPOINT": "MultiPoint",
    "LINESTRING": "LineString",
    "MULTILINESTRING": "MultiLineString",
    "POLYGON": "Polygon",
    "MULTIPOLYGON": "MultiPolygon",
    "GEOMETRYCOLLECTION": "GeometryCollection",
}


def _parse_coords(body: str):
    """Parse a parenthesized WKT coordinate body into nested lists."""
    body = body.strip()
    if not body.startswith("("):
        # bare coordinate pair(s): "1 2" or "1 2, 3 4"
        parts = [p.strip() for p in body.split(",")]
        coords = [[float(x) for x in p.split()] for p in parts if p]
        return coords[0] if len(coords) == 1 else coords
    # split top-level comma groups inside the outer parens
    depth, start, groups = 0, 1, []
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
            if depth == 1:
                start = i + 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                inner = body[start:i]
                return _split_groups(inner)
    raise ValueError(f"unbalanced WKT coords: {body[:40]}")


def _split_groups(inner: str):
    depth = 0
    parts, cur = [], []
    for ch in inner:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    out = []
    for p in parts:
        p = p.strip()
        if p.startswith("("):
            out.append(_parse_coords(p))
        else:
            out.append([float(x) for x in p.split()])
    return out


def parse_wkt(text: str) -> dict:
    """WKT → GeoJSON dict (reference src/spatial/wkt.js:11)."""
    if text is None:
        return None
    s = text.strip()
    if s.startswith("{"):
        return json.loads(s)
    m = re.match(r"^\s*([A-Za-z]+)\s*(EMPTY|\(.*\))\s*$", s, re.S)
    if not m:
        raise ValueError(f"invalid WKT: {text[:60]}")
    kind = m.group(1).upper()
    gtype = _WKT_TYPES.get(kind)
    if gtype is None:
        raise ValueError(f"unknown WKT type: {kind}")
    body = m.group(2)
    if body == "EMPTY":
        return {"type": gtype, "coordinates": []}
    if gtype == "GeometryCollection":
        inner = body[1:-1]
        geoms, depth, cur = [], 0, []
        for ch in inner:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                geoms.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        geoms.append("".join(cur))
        return {
            "type": "GeometryCollection",
            "geometries": [parse_wkt(g) for g in geoms if g.strip()],
        }
    coords = _parse_coords(body)
    if gtype == "Point":
        if isinstance(coords[0], list):
            coords = coords[0]
    elif gtype in ("MultiPoint", "LineString"):
        if not isinstance(coords[0], list):
            coords = [coords]
        # MULTIPOINT ((1 2), (3 4)) → flatten one nesting level
        if gtype == "MultiPoint" and isinstance(coords[0][0], list):
            coords = [c[0] if isinstance(c[0], list) else c for c in coords]
    elif gtype in ("MultiLineString", "Polygon"):
        if not isinstance(coords[0][0], list):
            coords = [coords]
    elif gtype == "MultiPolygon":
        if not isinstance(coords[0][0][0], list):
            coords = [coords]
    return {"type": gtype, "coordinates": coords}


def _fmt_num(x: float) -> str:
    return f"{x:g}"


def _fmt_point(c) -> str:
    return " ".join(_fmt_num(v) for v in c)


def to_wkt(geom: dict) -> str:
    """GeoJSON dict → WKT (reference src/spatial/wkt.js:70)."""
    if geom is None:
        return None
    t = geom["type"]
    if t == "GeometryCollection":
        inner = ", ".join(to_wkt(g) for g in geom["geometries"])
        return f"GEOMETRYCOLLECTION ({inner})" if inner else "GEOMETRYCOLLECTION EMPTY"
    c = geom.get("coordinates")
    if c is None or c == []:
        return f"{t.upper()} EMPTY"
    if t == "Point":
        return f"POINT ({_fmt_point(c)})"
    if t == "MultiPoint":
        return "MULTIPOINT (" + ", ".join(f"({_fmt_point(p)})" for p in c) + ")"
    if t == "LineString":
        return "LINESTRING (" + ", ".join(_fmt_point(p) for p in c) + ")"
    if t == "MultiLineString":
        return (
            "MULTILINESTRING ("
            + ", ".join("(" + ", ".join(_fmt_point(p) for p in ls) + ")" for ls in c)
            + ")"
        )
    if t == "Polygon":
        return (
            "POLYGON ("
            + ", ".join("(" + ", ".join(_fmt_point(p) for p in r) + ")" for r in c)
            + ")"
        )
    if t == "MultiPolygon":
        return (
            "MULTIPOLYGON ("
            + ", ".join(
                "("
                + ", ".join("(" + ", ".join(_fmt_point(p) for p in r) + ")" for r in poly)
                + ")"
                for poly in c
            )
            + ")"
        )
    raise ValueError(f"unknown geometry type {t}")


# ---------------------------------------------------------------------------
# planar primitives
# ---------------------------------------------------------------------------


def _orient(p, q, r) -> int:
    v = (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])
    if v > EPS:
        return 1
    if v < -EPS:
        return -1
    return 0


def _on_segment(p, a, b) -> bool:
    if _orient(a, b, p) != 0:
        return False
    return (
        min(a[0], b[0]) - EPS <= p[0] <= max(a[0], b[0]) + EPS
        and min(a[1], b[1]) - EPS <= p[1] <= max(a[1], b[1]) + EPS
    )


def _segments_intersect(a, b, c, d) -> bool:
    o1, o2 = _orient(a, b, c), _orient(a, b, d)
    o3, o4 = _orient(c, d, a), _orient(c, d, b)
    if o1 != o2 and o3 != o4:
        return True
    return (
        _on_segment(c, a, b)
        or _on_segment(d, a, b)
        or _on_segment(a, c, d)
        or _on_segment(b, c, d)
    )


def _segments_cross_properly(a, b, c, d) -> bool:
    o1, o2 = _orient(a, b, c), _orient(a, b, d)
    o3, o4 = _orient(c, d, a), _orient(c, d, b)
    return o1 != o2 and o3 != o4 and 0 not in (o1, o2, o3, o4)


def _point_in_ring(p, ring) -> str:
    """'in' | 'out' | 'boundary' via ray casting."""
    n = len(ring)
    inside = False
    for i in range(n - 1):
        a, b = ring[i], ring[i + 1]
        if _on_segment(p, a, b):
            return "boundary"
        if (a[1] > p[1]) != (b[1] > p[1]):
            x = a[0] + (p[1] - a[1]) * (b[0] - a[0]) / (b[1] - a[1])
            if x > p[0]:
                inside = not inside
    return "in" if inside else "out"


def _point_in_polygon(p, poly) -> str:
    """Polygon with holes: coordinates = [outer, hole1, ...]."""
    res = _point_in_ring(p, poly[0])
    if res != "in":
        return res
    for hole in poly[1:]:
        r = _point_in_ring(p, hole)
        if r == "boundary":
            return "boundary"
        if r == "in":
            return "out"
    return "in"


def _seg_point_dist(p, a, b) -> float:
    ax, ay, bx, by, px, py = a[0], a[1], b[0], b[1], p[0], p[1]
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    if L2 < EPS * EPS:
        return math.hypot(px - ax, py - ay)
    t = max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / L2))
    return math.hypot(px - (ax + t * dx), py - (ay + t * dy))


def _seg_seg_dist(a, b, c, d) -> float:
    if _segments_intersect(a, b, c, d):
        return 0.0
    return min(
        _seg_point_dist(c, a, b),
        _seg_point_dist(d, a, b),
        _seg_point_dist(a, c, d),
        _seg_point_dist(b, c, d),
    )


# ---------------------------------------------------------------------------
# geometry decomposition
# ---------------------------------------------------------------------------


def _decompose(geom):
    """→ (points, segments, polygons): primitive parts of any geometry."""
    pts, segs, polys = [], [], []
    t = geom["type"]
    c = geom.get("coordinates")
    if t == "Point":
        pts.append(c)
    elif t == "MultiPoint":
        pts.extend(c)
    elif t == "LineString":
        segs.extend((c[i], c[i + 1]) for i in range(len(c) - 1))
    elif t == "MultiLineString":
        for ls in c:
            segs.extend((ls[i], ls[i + 1]) for i in range(len(ls) - 1))
    elif t == "Polygon":
        polys.append(c)
    elif t == "MultiPolygon":
        polys.extend(c)
    elif t == "GeometryCollection":
        for g in geom["geometries"]:
            p2, s2, g2 = _decompose(g)
            pts.extend(p2)
            segs.extend(s2)
            polys.extend(g2)
    return pts, segs, polys


def _poly_segments(poly):
    for ring in poly:
        for i in range(len(ring) - 1):
            yield ring[i], ring[i + 1]


def _all_points(geom):
    pts, segs, polys = _decompose(geom)
    out = list(pts)
    for a, b in segs:
        out.extend((a, b))
    for poly in polys:
        for ring in poly:
            out.extend(ring)
    return out


# ---------------------------------------------------------------------------
# predicates
# ---------------------------------------------------------------------------


def intersects(ga: dict, gb: dict) -> bool:
    pa, sa, qa = _decompose(ga)
    pb, sb, qb = _decompose(gb)
    for p in pa:
        if any(math.hypot(p[0] - q[0], p[1] - q[1]) <= EPS for q in pb):
            return True
        if any(_on_segment(p, a, b) for a, b in sb):
            return True
        if any(_point_in_polygon(p, poly) != "out" for poly in qb):
            return True
    for a, b in sa:
        if any(_on_segment(p, a, b) for p in pb):
            return True
        if any(_segments_intersect(a, b, c, d) for c, d in sb):
            return True
        for poly in qb:
            if _point_in_polygon(a, poly) != "out" or _point_in_polygon(b, poly) != "out":
                return True
            if any(_segments_intersect(a, b, c, d) for c, d in _poly_segments(poly)):
                return True
    for poly in qa:
        for p in pb:
            if _point_in_polygon(p, poly) != "out":
                return True
        for c, d in sb:
            if _point_in_polygon(c, poly) != "out" or _point_in_polygon(d, poly) != "out":
                return True
            if any(_segments_intersect(c, d, a, b) for a, b in _poly_segments(poly)):
                return True
        for polyb in qb:
            if any(
                _segments_intersect(a, b, c, d)
                for a, b in _poly_segments(poly)
                for c, d in _poly_segments(polyb)
            ):
                return True
            if _point_in_polygon(polyb[0][0], poly) != "out":
                return True
            if _point_in_polygon(poly[0][0], polyb) != "out":
                return True
    return False


def contains(ga: dict, gb: dict, proper: bool = False) -> bool:
    """Every point of b inside a (``proper``: strictly interior).

    Pragmatic check (like the reference's epsilon geometry): all vertices of
    b inside + b's edges don't properly cross a's boundary."""
    bpts = _all_points(gb)
    if not bpts:
        return False
    for p in bpts:
        pts, segs, polys = _decompose(ga)
        ok = False
        for q in pts:
            if math.hypot(p[0] - q[0], p[1] - q[1]) <= EPS:
                ok = True
        for a, b in segs:
            if _on_segment(p, a, b):
                ok = True
        for poly in polys:
            r = _point_in_polygon(p, poly)
            if r == "in" or (not proper and r == "boundary"):
                ok = True
        if not ok:
            return False
    # b's segments must not properly cross a's boundary
    _, sb, qb = _decompose(gb)
    edges_b = list(sb)
    for poly in qb:
        edges_b.extend(_poly_segments(poly))
    _, sa, qa = _decompose(ga)
    boundary_a = list(sa)
    for poly in qa:
        boundary_a.extend(_poly_segments(poly))
    for c, d in edges_b:
        for a, b in boundary_a:
            if _segments_cross_properly(a, b, c, d):
                return False
    return True


def within(ga, gb):
    return contains(gb, ga)


def equals(ga, gb):
    return contains(ga, gb) and contains(gb, ga)


def _dim(geom):
    pts, segs, polys = _decompose(geom)
    if polys:
        return 2
    if segs:
        return 1
    return 0


def touches(ga, gb):
    """Boundary contact without interior overlap (approximate: intersects
    but no interior point of one is strictly inside the other)."""
    if not intersects(ga, gb):
        return False
    for p in _all_points(ga):
        if _point_in_geom_strict(p, gb):
            return False
    for p in _all_points(gb):
        if _point_in_geom_strict(p, ga):
            return False
    # line-line: a proper crossing is interior-interior contact
    _, sa, _ = _decompose(ga)
    _, sb, _ = _decompose(gb)
    for a, b in sa:
        for c, d in sb:
            if _segments_cross_properly(a, b, c, d):
                return False
    return True


def _point_in_geom_strict(p, geom) -> bool:
    _, _, polys = _decompose(geom)
    return any(_point_in_polygon(p, poly) == "in" for poly in polys)


def overlaps(ga, gb):
    """Same-dimension interiors intersect, neither contains the other."""
    if _dim(ga) != _dim(gb):
        return False
    if not intersects(ga, gb):
        return False
    return not contains(ga, gb) and not contains(gb, ga)


def crosses(ga, gb):
    """Interiors intersect and dimensions differ (or proper line crossing)."""
    if _dim(ga) == _dim(gb) == 1:
        _, sa, _ = _decompose(ga)
        _, sb, _ = _decompose(gb)
        return any(
            _segments_cross_properly(a, b, c, d) for a, b in sa for c, d in sb
        )
    if not intersects(ga, gb):
        return False
    if _dim(ga) == _dim(gb):
        return False
    return not contains(ga, gb) and not contains(gb, ga)


def covers(ga, gb):
    """Approximated as contains — same approximation the reference ships
    (src/spatial/spatial.js:60-61)."""
    return contains(ga, gb)


def covered_by(ga, gb):
    return covers(gb, ga)


def distance(ga, gb) -> float:
    if intersects(ga, gb):
        return 0.0
    pa, sa, qa = _decompose(ga)
    pb, sb, qb = _decompose(gb)
    for poly in qa:
        sa = list(sa) + list(_poly_segments(poly))
    for poly in qb:
        sb = list(sb) + list(_poly_segments(poly))
    best = math.inf
    for p in pa:
        for q in pb:
            best = min(best, math.hypot(p[0] - q[0], p[1] - q[1]))
        for c, d in sb:
            best = min(best, _seg_point_dist(p, c, d))
    for a, b in sa:
        for q in pb:
            best = min(best, _seg_point_dist(q, a, b))
        for c, d in sb:
            best = min(best, _seg_seg_dist(a, b, c, d))
    return best


def dwithin(ga, gb, d) -> bool:
    return distance(ga, gb) <= d + EPS


def make_envelope(xmin, ymin, xmax, ymax) -> dict:
    return {
        "type": "Polygon",
        "coordinates": [
            [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]]
        ],
    }


# ---------------------------------------------------------------------------
# Spark UDF registration
# ---------------------------------------------------------------------------

_PREDICATES = {
    "st_intersects": intersects,
    "st_contains": contains,
    "st_containsproperly": lambda a, b: contains(a, b, proper=True),
    "st_within": within,
    "st_overlaps": overlaps,
    "st_touches": touches,
    "st_equals": equals,
    "st_crosses": crosses,
    "st_covers": covers,
    "st_coveredby": covered_by,
}


def _pairwise(fn):
    def batch(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            if x is None or y is None:
                out.append(None)
            else:
                out.append(bool(fn(parse_wkt(x), parse_wkt(y))))
        return pd.Series(out, dtype=object)

    return batch


def register_spatial(spark: SparkSession) -> None:
    """Register the ST_* pack as SQL functions over WKT/GeoJSON strings."""
    for name, fn in _PREDICATES.items():
        spark.udf.register(name, F.pandas_udf(_pairwise(fn), BooleanType()))

    def _dwithin(a: pd.Series, b: pd.Series, d: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if x is None or y is None else bool(dwithin(parse_wkt(x), parse_wkt(y), dd))
                for x, y, dd in zip(a, b, d)
            ],
            dtype=object,
        )

    spark.udf.register("st_dwithin", F.pandas_udf(_dwithin, BooleanType()))

    def _distance(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if x is None or y is None else distance(parse_wkt(x), parse_wkt(y))
                for x, y in zip(a, b)
            ]
        )

    spark.udf.register("st_distance", F.pandas_udf(_distance, DoubleType()))

    def _astext(a: pd.Series) -> pd.Series:
        return pd.Series([None if x is None else to_wkt(parse_wkt(x)) for x in a])

    spark.udf.register("st_astext", F.pandas_udf(_astext, StringType()))

    def _geomfromtext(a: pd.Series) -> pd.Series:
        return pd.Series(
            [None if x is None else json.dumps(parse_wkt(x)) for x in a]
        )

    spark.udf.register("st_geomfromtext", F.pandas_udf(_geomfromtext, StringType()))

    def _envelope(
        xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series
    ) -> pd.Series:
        return pd.Series(
            [
                None
                if any(v is None or pd.isna(v) for v in (a, b, c, d))
                else to_wkt(make_envelope(a, b, c, d))
                for a, b, c, d in zip(xmin, ymin, xmax, ymax)
            ],
            dtype=object,
        )

    spark.udf.register("st_makeenvelope", F.pandas_udf(_envelope, StringType()))
