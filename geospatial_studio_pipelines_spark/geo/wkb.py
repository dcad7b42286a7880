"""Minimal WKB (well-known binary) codec for Point / LineString / Polygon /
MultiPolygon, little-endian, 2-D.

The reference stores geometry through GeoPandas/shapely (``GeoDataFrame``
columns, e.g. planner footprints at ``inference_planner.py:240-242``); neither
is installed here, so the engine carries geometry as WKB ``binary`` columns
(the Spark-native choice — binary survives shuffles, parquet, and Arrow
batches untouched) and decodes to plain numpy vertex arrays inside vectorized
UDFs via this module.

Only the subset of WKB the engine needs; ISO WKB byte layout, so outputs are
readable by shapely/PostGIS/DuckDB-spatial when available.
"""

from __future__ import annotations

import struct

import numpy as np

POINT = 1
LINESTRING = 2
POLYGON = 3
MULTILINESTRING = 5
MULTIPOLYGON = 6


def dumps_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, POINT, x, y)


def dumps_linestring(pts: np.ndarray) -> bytes:
    """pts: (N,2) float64 array."""
    pts = np.asarray(pts, dtype=np.float64)
    return struct.pack("<BII", 1, LINESTRING, len(pts)) + pts.astype("<f8").tobytes()


def dumps_multilinestring(parts: list[np.ndarray]) -> bytes:
    out = [struct.pack("<BII", 1, MULTILINESTRING, len(parts))]
    for pts in parts:
        out.append(dumps_linestring(pts))
    return b"".join(out)


def dumps_polygon(rings: list[np.ndarray]) -> bytes:
    """rings: list of (N,2) float64 arrays, first = exterior; auto-closes rings."""
    out = [struct.pack("<BII", 1, POLYGON, len(rings))]
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(ring[0], ring[-1]):
            ring = np.vstack([ring, ring[:1]])
        out.append(struct.pack("<I", len(ring)))
        out.append(ring.astype("<f8").tobytes())
    return b"".join(out)


def dumps_multipolygon(polys: list[list[np.ndarray]]) -> bytes:
    out = [struct.pack("<BII", 1, MULTIPOLYGON, len(polys))]
    for rings in polys:
        out.append(dumps_polygon(rings))
    return b"".join(out)


def dumps_bbox_polygon(minx: float, miny: float, maxx: float, maxy: float) -> bytes:
    return dumps_polygon(
        [np.array([[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]])]
    )


def loads(buf: bytes):
    """Parse WKB -> (geom_type, payload).

    payload: POINT -> (x, y); POLYGON -> list[(N,2) ndarray] rings (closed);
    MULTIPOLYGON -> list[list[rings]]; LINESTRING -> (N,2) ndarray.
    """
    geom_type, off = _header(buf, 0)
    if geom_type == POINT:
        x, y = struct.unpack_from("<dd", buf, off)
        return POINT, (x, y)
    if geom_type == LINESTRING:
        pts, _ = _read_ring(buf, off)
        return LINESTRING, pts
    if geom_type == MULTILINESTRING:
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        parts = []
        for _ in range(n):
            gt, off2 = _header(buf, off)
            if gt != LINESTRING:
                raise ValueError(f"multilinestring member type {gt}")
            pts, off = _read_ring(buf, off2)
            parts.append(pts)
        return MULTILINESTRING, parts
    if geom_type == POLYGON:
        rings, _ = _read_polygon_body(buf, off)
        return POLYGON, rings
    if geom_type == MULTIPOLYGON:
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        polys = []
        for _ in range(n):
            gt, off2 = _header(buf, off)
            if gt != POLYGON:
                raise ValueError(f"multipolygon member type {gt}")
            rings, off = _read_polygon_body(buf, off2)
            polys.append(rings)
        return MULTIPOLYGON, polys
    raise ValueError(f"unsupported WKB geometry type {geom_type}")


def polygon_rings(buf: bytes) -> list[np.ndarray]:
    """Rings of a POLYGON, or all rings of a MULTIPOLYGON flattened with the
    convention exterior-first per member."""
    gt, payload = loads(buf)
    if gt == POLYGON:
        return payload
    if gt == MULTIPOLYGON:
        return [r for rings in payload for r in rings]
    raise ValueError(f"not a polygon: type {gt}")


def exterior_ring(buf: bytes) -> np.ndarray:
    """``polygon_rings(buf)[0]`` without decoding the other rings: the
    exterior of a POLYGON, or of the first non-empty MULTIPOLYGON member.
    Raises ``ValueError`` for other geometry types and ``IndexError`` when
    there is no ring, as that expression does. Bytes after the first ring
    are not read, so damage there goes unnoticed."""
    geom_type, off = _header(buf, 0)
    if geom_type == POLYGON:
        members = 1
    elif geom_type == MULTIPOLYGON:
        (members,) = struct.unpack_from("<I", buf, off)
        off += 4
    else:
        raise ValueError(f"not a polygon: type {geom_type}")
    for _ in range(members):
        if geom_type == MULTIPOLYGON:
            gt, off = _header(buf, off)
            if gt != POLYGON:
                raise ValueError(f"multipolygon member type {gt}")
        (nrings,) = struct.unpack_from("<I", buf, off)
        off += 4
        if nrings:
            return _read_ring(buf, off)[0]
    raise IndexError("polygon has no rings")


def envelope(buf: bytes) -> tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy) of any supported geometry."""
    gt, payload = loads(buf)
    if gt == POINT:
        x, y = payload
        return x, y, x, y
    if gt == LINESTRING:
        pts = payload
        return pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max()
    if gt == MULTILINESTRING:
        allpts = np.vstack(payload)
        return (
            float(allpts[:, 0].min()),
            float(allpts[:, 1].min()),
            float(allpts[:, 0].max()),
            float(allpts[:, 1].max()),
        )
    rings = payload if gt == POLYGON else [r for rs in payload for r in rs]
    allpts = np.vstack(rings)
    return (
        float(allpts[:, 0].min()),
        float(allpts[:, 1].min()),
        float(allpts[:, 0].max()),
        float(allpts[:, 1].max()),
    )


def _header(buf: bytes, off: int) -> tuple[int, int]:
    (byte_order,) = struct.unpack_from("<B", buf, off)
    fmt = "<I" if byte_order == 1 else ">I"
    (geom_type,) = struct.unpack_from(fmt, buf, off + 1)
    if byte_order != 1:
        raise ValueError("big-endian WKB not supported")
    return geom_type & 0xFFFF, off + 5


def _read_ring(buf: bytes, off: int) -> tuple[np.ndarray, int]:
    (n,) = struct.unpack_from("<I", buf, off)
    off += 4
    pts = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    return pts.astype(np.float64), off + 16 * n


def _read_polygon_body(buf: bytes, off: int) -> tuple[list[np.ndarray], int]:
    (nrings,) = struct.unpack_from("<I", buf, off)
    off += 4
    rings = []
    for _ in range(nrings):
        ring, off = _read_ring(buf, off)
        rings.append(ring)
    return rings, off
