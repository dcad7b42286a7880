"""Raster↔vector conversion (SURVEY.md §2.8 F15/F16) — pure numpy, no GDAL.

* ``raster_to_polygons`` reproduces ``rasterio.features.shapes`` semantics
  (used by ``raster_to_vector``, postprocess_regularization.py:42-167):
  4-connected components of the mask, each traced into an **exact pixel-edge
  polygon** (exterior ring CCW, holes CW), optional min-area filter,
  Douglas–Peucker simplification, class filtering.
* ``rasterize_polygons`` reproduces ``rasterio.features.rasterize``
  (geojson_to_tiff, postprocess_generic_helper_functions.py:485-527):
  burn values onto a grid; ``all_touched=False`` = pixel-center-in-polygon
  (exact); ``all_touched=True`` approximated by center + 4 corner samples
  (exact for the rectilinear polygons this engine's vectorizer emits).

Polygonizing runs array-at-a-time: no Python loop visits a pixel, run, edge
or vertex.

* Labelling (``connected_components``): every horizontal run of the mask
  gets an id from one cumsum; runs that overlap vertically are merged by
  hook-to-min plus pointer jumping, so each component's label is its
  smallest run id (components keep row-major order of their first pixel).
* Tracing (``_trace``, all components of a labelling at once): every open
  pixel side is a unit boundary edge, directed with the component on its
  left. Its key ``pixel_index*4 + side`` (sides top, bottom, left, right)
  orders edges the way a row-major pixel scan would meet them. An edge's
  successor is the edge of the same component that starts at its end
  vertex (a sorted (label, start vertex) lookup). At a *pinch vertex*, where
  two pixels of one component touch only diagonally, two such edges start;
  the successor is the one bordering the same background cell, so rings
  touch at the vertex but never touch themselves. Pointer doubling finds
  each ring's smallest key (its id and start edge) and every edge's
  distance to it; rings are ordered by label, then by decreasing |area|
  (exterior first), ties by id; vertices are kept where the edge direction
  changes, plus the ring start. Ring order and start vertices are those of a
  sequential edge-chaining tracer, so output bytes do not depend on this
  being done in bulk.

Coordinates: pixel space (x=col, y=row), y increasing downward; an affine
transform (a,b,c,d,e,f) maps to world space like rasterio's Affine.

Spark wrapper: ``vectorize(df)`` is a ``mapInPandas`` stage emitting one row
per polygon (image_id, class value, WKB, area) — a raster-in/vector-out
flatMap, the engine's F15.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..codecs.image import decode_image
from ..geo import geometry as G
from ..geo import wkb


def connected_components(mask: np.ndarray) -> np.ndarray:
    """4-connected labeling (int64 labels, 0 = bg), each component labelled
    with its smallest row-major run id.

    Horizontal runs are numbered with one cumsum over run starts. Each pair
    of vertically overlapping runs is listed once (at the first column of
    the overlap); rounds of hook-to-min (every root takes the smallest root
    it is paired with) followed by pointer jumping to the roots merge them
    until no pair spans two roots. Pairs already inside one root are dropped
    each round, so a snaking component costs a few whole-array passes, not
    one per turn."""
    h, w = mask.shape
    m = mask.astype(bool, copy=False)
    starts = m.copy()
    starts[:, 1:] &= ~m[:, :-1]
    # run id at each masked pixel = #run-starts at or before it (row-major)
    run_of_pixel = np.where(m, np.cumsum(starts.ravel()).reshape(h, w), 0)
    n_runs = int(run_of_pixel.max()) if m.any() else 0
    if n_runs == 0:
        return np.zeros((h, w), dtype=np.int64)
    parent = np.arange(n_runs + 1, dtype=np.int64)
    vert = m[1:] & m[:-1]
    first = vert.copy()
    first[:, 1:] &= ~vert[:, :-1]
    a, b = run_of_pixel[1:][first], run_of_pixel[:-1][first]
    while a.size:
        ra, rb = parent[a], parent[b]
        split = ra != rb
        a, b, ra, rb = a[split], b[split], ra[split], rb[split]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
    return parent[run_of_pixel]


# Unit boundary edge of each pixel side, in key order top, bottom, left,
# right: start vertex offset, end vertex offset and the offset of the
# background cell across the edge, all (dx, dy) from the pixel's top-left.
_START_X, _START_Y = np.array([0, 1, 0, 1]), np.array([0, 1, 1, 0])
_END_X, _END_Y = np.array([1, 0, 0, 1]), np.array([0, 1, 0, 1])
_CELL_X, _CELL_Y = np.array([0, 0, -1, 1]), np.array([-1, 1, 0, 0])


def _trace(labels: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Pixel-edge rings of every labelled region (label 0 = background).

    Returns ``(verts, ring_sizes, ring_labels, ring_areas)``: the (N, 2)
    float64 vertices of all rings back to back, each ring closed; its vertex
    count, label and signed shoelace area. Rings come grouped by label
    (ascending), the exterior (largest |area|) first, then holes by
    decreasing |area|, ties in ring-id order."""
    h, w = labels.shape
    fg = labels != 0
    pad = np.pad(fg, 1)
    open_side = np.stack(
        [~pad[:-2, 1:-1], ~pad[2:, 1:-1], ~pad[1:-1, :-2], ~pad[1:-1, 2:]], axis=-1
    )
    open_side &= fg[..., None]
    key = np.flatnonzero(open_side)  # pixel*4 + side, ascending
    n = key.size
    if n == 0:
        return np.empty((0, 2)), np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
    side = key & 3
    y, x = np.divmod(key >> 2, w)
    lab = labels.ravel()[key >> 2].astype(np.int64)
    sx, sy = x + _START_X[side], y + _START_Y[side]
    ex, ey = x + _END_X[side], y + _END_Y[side]
    cell = (y + _CELL_Y[side]) * (w + 2) + (x + _CELL_X[side])

    # successor: the edge of the same label starting at this edge's end
    n_vert = (h + 1) * (w + 1)
    start_key = lab * n_vert + sy * (w + 1) + sx
    by_start = np.argsort(start_key)
    sorted_start = start_key[by_start]
    target = lab * n_vert + ey * (w + 1) + ex
    pos = np.searchsorted(sorted_start, target)
    # pinch vertex: two edges start there; take the one bordering our cell
    alt = np.minimum(pos + 1, n - 1)
    pinch = (alt != pos) & (sorted_start[alt] == target)
    pos += pinch & (cell[by_start[pos]] != cell)
    nxt = by_start[pos]

    # pointer doubling: ``head`` = smallest edge index in the window of
    # ``step`` edges starting at each edge, ``dist`` = steps to reach it.
    # Keys ascend with edge index, so at the fixpoint ``head`` is the ring's
    # first-scanned edge (its id and start) for every edge of the ring.
    head = np.arange(n)
    dist = np.zeros(n, np.int64)
    jump, step = nxt, 1
    while True:
        ahead = head[jump]
        better = ahead < head
        if not better.any():
            break
        head = np.where(better, ahead, head)
        dist = np.where(better, dist[jump] + step, dist)
        jump, step = jump[jump], 2 * step
    is_head = head == np.arange(n)
    ring_index = np.cumsum(is_head) - 1  # ring number of each head, by id
    ring = ring_index[head]
    ring_len = np.bincount(ring)
    pos_in_ring = (ring_len[ring] - dist) % ring_len[ring]
    area = 0.5 * np.bincount(ring, sx * ey - ex * sy)
    ring_lab = lab[is_head]
    order = np.lexsort((-np.abs(area), ring_lab))  # stable: ties keep id order
    rank = np.empty_like(order)
    rank[order] = np.arange(order.size)

    # lay every edge out in output order, then keep ring starts and turns
    edge_off = np.cumsum(ring_len[order]) - ring_len[order]
    seq = np.empty(n, np.int64)
    seq[edge_off[rank[ring]] + pos_in_ring] = np.arange(n)
    prev = np.empty(n, np.int64)
    prev[nxt] = np.arange(n)
    keep = is_head | (side != side[prev])
    seq = seq[keep[seq]]
    sizes = np.bincount(ring[keep], minlength=order.size)[order] + 1
    close = np.cumsum(sizes) - 1  # each ring ends on its start vertex
    body = np.ones(close[-1] + 1, bool)
    body[close] = False
    start = np.stack([sx, sy], axis=1).astype(np.float64)
    verts = np.empty((body.size, 2))
    verts[body] = start[seq]
    verts[close] = start[np.flatnonzero(is_head)[order]]
    return verts, sizes, ring_lab[order], area[order]


def _split(verts: np.ndarray, sizes) -> list[np.ndarray]:
    ends = np.cumsum(sizes).tolist()
    return [verts[a:b] for a, b in zip([0] + ends[:-1], ends)]


def trace_component(comp_mask: np.ndarray) -> list[np.ndarray]:
    """Exact pixel-edge rings of the mask's pixels traced as one region:
    [exterior (CCW in y-down = CW visually), holes...] in decreasing
    |area|, each a closed (N, 2) float64 array. Collinear runs are merged
    so rectangles come back as 5-point rings; each ring starts at the
    corner of its first boundary edge in a row-major pixel scan. Diagonal
    pinches split into rings touching at a vertex (see the module doc)."""
    verts, sizes, _, _ = _trace(np.asarray(comp_mask).astype(bool).astype(np.int64))
    return _split(verts, sizes)


def raster_to_polygons(
    data: np.ndarray,
    threshold: float = 0.0,
    min_area: float = 10.0,
    simplify_tolerance: float | None = None,
    class_values: list[int] | None = None,
) -> list[dict]:
    """raster_to_vector twin (postprocess_regularization.py:42-167): masks by
    class value (or > threshold), labels components, traces polygons, drops
    area < min_area, optionally simplifies. Returns
    [{class, rings, area}, ...] in pixel coordinates, by class, then by
    component label."""
    plane = data[:, :, 0] if data.ndim == 3 else data
    if class_values is not None:
        masks = {int(v): plane == v for v in class_values}
    else:
        masks = {1: plane > threshold}
    out = []
    for cls, mask in masks.items():
        verts, sizes, ring_lab, ring_area = _trace(connected_components(mask))
        rings = _split(verts, sizes)
        # one polygon per label: area = exterior minus holes
        new_poly = np.r_[True, ring_lab[1:] != ring_lab[:-1]][: len(rings)]
        a = np.abs(ring_area)
        exterior = a[new_poly]
        areas = exterior - (np.bincount(np.cumsum(new_poly) - 1, a) - exterior)
        bounds = np.r_[np.flatnonzero(new_poly), len(rings)].tolist()
        for lo, hi, area in zip(bounds[:-1], bounds[1:], areas.tolist()):
            if area < min_area:
                continue
            poly = rings[lo:hi]
            if simplify_tolerance is not None:
                poly = [G.simplify_ring(r, simplify_tolerance) for r in poly]
            out.append({"class": cls, "rings": poly, "area": area})
    return out


def rasterize_polygons(
    shapes: list[tuple[list[np.ndarray], float]],
    out_shape: tuple[int, int],
    fill: float = 0.0,
    all_touched: bool = True,
) -> np.ndarray:
    """rasterize twin (geojson_to_tiff :485-527): burn (rings, value) pairs
    onto an (h, w) grid, later shapes overwrite earlier (rasterio default)."""
    h, w = out_shape
    out = np.full((h, w), fill, dtype=np.float32)
    yy, xx = np.mgrid[0:h, 0:w]
    cx = (xx + 0.5).ravel().astype(np.float64)
    cy = (yy + 0.5).ravel().astype(np.float64)
    for rings, value in shapes:
        minx, miny = rings[0][:, 0].min(), rings[0][:, 1].min()
        maxx, maxy = rings[0][:, 0].max(), rings[0][:, 1].max()
        sel = (cx >= minx - 1) & (cx <= maxx + 1) & (cy >= miny - 1) & (cy <= maxy + 1)
        if not sel.any():
            continue
        hit = G.points_in_polygon(cx[sel], cy[sel], rings)
        if all_touched:
            for dx, dy in ((-0.5, -0.5), (0.5, -0.5), (-0.5, 0.5), (0.5, 0.5)):
                hit |= G.points_in_polygon(cx[sel] + dx, cy[sel] + dy, rings)
        m = np.zeros(h * w, dtype=bool)
        m[np.nonzero(sel)[0][hit]] = True
        out[m.reshape(h, w)] = value
    return out


def vectorize(
    df: DataFrame,
    in_col: str = "masked_bytes",
    threshold: float = 0.0,
    min_area: float = 10.0,
    simplify_tolerance: float | None = None,
    class_values: list[int] | None = None,
) -> DataFrame:
    """F15 as a Spark stage: one output row per extracted polygon."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                arr = decode_image(bytes(row[in_col]))
                for k, feat in enumerate(
                    raster_to_polygons(arr, threshold, min_area, simplify_tolerance, class_values)
                ):
                    rows.append(
                        {
                            "image_id": row["image_id"],
                            "shape_idx": k,
                            "class": feat["class"],
                            "geom_wkb": wkb.dumps_polygon(feat["rings"]),
                            "area_px": feat["area"],
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["image_id", "shape_idx", "class", "geom_wkb", "area_px"]
            )

    return df.mapInPandas(
        run, "image_id string, shape_idx int, class int, geom_wkb binary, area_px double"
    )
