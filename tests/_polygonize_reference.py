"""Frozen sequential polygonizer: the dict-chaining boundary tracer and the
run union-find labeller that ``operators.vectorize`` replaced with
array-at-a-time kernels. Test-only oracle for byte identity; the library
never imports it.

It raises ``KeyError`` on a component with a pinch vertex (two of its
pixels touching only diagonally): two edges start at that vertex and the
dict keeps one.
"""

from __future__ import annotations

import numpy as np

from geospatial_studio_pipelines_spark.geo import geometry as G


def connected_components(mask: np.ndarray) -> np.ndarray:
    """4-connected labeling (int64 labels, 0 = bg) via run-based union-find.

    Two passes, both O(pixels): horizontal runs are identified with one
    vectorized cumsum (every masked pixel gets its run id), vertical
    adjacencies between runs become union-find merges (deduplicated, so the
    Python loop is O(#distinct run adjacencies), not O(pixels)). The
    previous min-label propagation rescanned the full plane once per
    component-diameter step — a snaking region on a 2400² tile ran thousands
    of full-array passes (worst case O(area × diameter)); this is the
    classic two-pass CCL bound instead. Label values are arbitrary positive
    ids (only the partition matters to callers)."""
    h, w = mask.shape
    m = mask.astype(bool, copy=False)
    left = np.zeros_like(m)
    left[:, 1:] = m[:, :-1]
    starts = m & ~left
    # run id at each masked pixel = #run-starts at or before it (row-major)
    run_of_pixel = np.where(m, np.cumsum(starts.ravel()).reshape(h, w), 0)
    n_runs = int(run_of_pixel.max()) if m.any() else 0
    if n_runs == 0:
        return np.zeros((h, w), dtype=np.int64)
    parent = np.arange(n_runs + 1, dtype=np.int64)
    vert = m[1:] & m[:-1]
    pairs = np.unique(
        np.stack([run_of_pixel[1:][vert], run_of_pixel[:-1][vert]], axis=1), axis=0
    )

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = int(parent[x])
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # collapse parent pointers to roots (vectorized pointer jumping)
    while True:
        nxt = parent[parent]
        if np.array_equal(nxt, parent):
            break
        parent = nxt
    return parent[run_of_pixel]


def trace_component(comp_mask: np.ndarray) -> list[np.ndarray]:
    """Exact pixel-edge rings of a single component: collects boundary edges
    oriented with the interior on the left, then chains them into closed
    loops. Returns [exterior (CCW in y-down = CW visually), holes...].
    Collinear runs are merged so rectangles come back as 5-point rings."""
    h, w = comp_mask.shape
    pad = np.pad(comp_mask, 1)
    edges: dict[tuple[int, int], tuple[int, int]] = {}
    ys, xs = np.nonzero(comp_mask)
    for y, x in zip(ys.tolist(), xs.tolist()):
        if not pad[y, x + 1]:  # open above → edge runs +x along top
            edges[(x, y)] = (x + 1, y)
        if not pad[y + 2, x + 1]:  # open below → edge runs -x along bottom
            edges[(x + 1, y + 1)] = (x, y + 1)
        if not pad[y + 1, x]:  # open left → edge runs -y... (y-down: downward)
            edges[(x, y + 1)] = (x, y)
        if not pad[y + 1, x + 2]:  # open right
            edges[(x + 1, y)] = (x + 1, y + 1)
    rings = []
    while edges:
        start = next(iter(edges))
        loop = [start]
        cur = edges.pop(start)
        while cur != start:
            loop.append(cur)
            cur = edges.pop(cur)
        loop.append(start)
        ring = np.asarray(loop, dtype=np.float64)
        # merge collinear runs
        keep = [0]
        for i in range(1, len(ring) - 1):
            d0 = ring[i] - ring[keep[-1]]
            d1 = ring[i + 1] - ring[i]
            if d0[0] * d1[1] - d0[1] * d1[0] != 0:
                keep.append(i)
        keep.append(len(ring) - 1)
        rings.append(ring[keep])
    # exterior = ring with max |area|
    rings.sort(key=lambda r: -abs(G.ring_area(r)))
    return rings


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
    [{class, rings, area}, ...] in pixel coordinates."""
    plane = data[:, :, 0] if data.ndim == 3 else data
    if class_values is not None:
        masks = {int(v): plane == v for v in class_values}
    else:
        masks = {1: plane > threshold}
    out = []
    for cls, mask in masks.items():
        labels = connected_components(mask)
        for lab in np.unique(labels):
            if lab == 0:
                continue
            rings = trace_component(labels == lab)
            area = abs(G.ring_area(rings[0])) - sum(abs(G.ring_area(r)) for r in rings[1:])
            if area < min_area:
                continue
            if simplify_tolerance is not None:
                rings = [G.simplify_ring(r, simplify_tolerance) for r in rings]
            out.append({"class": cls, "rings": rings, "area": float(area)})
    return out
