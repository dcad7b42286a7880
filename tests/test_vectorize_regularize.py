"""Raster→vector→raster round-trip and regularization behavior (FIXTURES T4)."""

import time

import _polygonize_reference as oracle
import numpy as np
import pandas as pd
import pytest

from geospatial_studio_pipelines_spark import contracts, datagen
from geospatial_studio_pipelines_spark.codecs.image import decode_image
from geospatial_studio_pipelines_spark.geo import geometry as G
from geospatial_studio_pipelines_spark.geo import wkb
from geospatial_studio_pipelines_spark.operators import regularize, vectorize


def test_connected_components_counts():
    m = np.zeros((10, 10), dtype=bool)
    m[1:3, 1:4] = True
    m[5:9, 5:9] = True
    m[0, 9] = True
    labels = vectorize.connected_components(m)
    assert len(np.unique(labels)) == 4  # bg + 3 components


def test_trace_rectangle_exact():
    m = np.zeros((10, 12), dtype=bool)
    m[2:5, 3:9] = True  # 6x3 rectangle
    rings = vectorize.trace_component(m)
    assert len(rings) == 1
    assert len(rings[0]) == 5  # collinear merged: 4 corners + close
    assert abs(G.ring_area(rings[0])) == 18.0
    xs, ys = rings[0][:, 0], rings[0][:, 1]
    assert xs.min() == 3 and xs.max() == 9 and ys.min() == 2 and ys.max() == 5


def test_trace_with_hole():
    m = np.ones((8, 8), dtype=bool)
    m[3:5, 3:5] = False
    rings = vectorize.trace_component(m)
    assert len(rings) == 2
    assert abs(G.ring_area(rings[0])) == 64.0
    assert abs(G.ring_area(rings[1])) == 4.0


def test_roundtrip_rectilinear_exact():
    # vectorize → rasterize reproduces the mask exactly for rectilinear shapes
    for i in [0, 10, 20, 50]:
        row = datagen.label_row(i)
        mask = decode_image(row["label_bytes"])[:, :, 0] > 0
        feats = vectorize.raster_to_polygons(mask.astype(np.uint8), min_area=1.0)
        assert len(feats) == row["n_shapes"]
        back = vectorize.rasterize_polygons(
            [(f["rings"], 1.0) for f in feats], mask.shape, all_touched=False
        )
        inter = ((back > 0) & mask).sum()
        union = ((back > 0) | mask).sum()
        assert inter / union == 1.0, i  # exact round-trip


def test_min_area_filter_and_classes():
    m = np.zeros((20, 20), dtype=np.uint8)
    m[1:3, 1:3] = 1  # area 4 — dropped at min_area 10
    m[5:15, 5:15] = 2  # area 100, class 2
    feats = vectorize.raster_to_polygons(m, min_area=10.0, class_values=[1, 2])
    assert len(feats) == 1 and feats[0]["class"] == 2
    feats_all = vectorize.raster_to_polygons(m, min_area=1.0, class_values=[1, 2])
    assert len(feats_all) == 2


def test_vectorize_spark_stage(spark):
    labels = datagen.label_df(spark, 60)
    out = vectorize.vectorize(labels.withColumnRenamed("label_bytes", "masked_bytes"), min_area=1.0).toPandas()
    exp_counts = {r["image_id"]: r["n_shapes"] for r in (datagen.label_row(i) for i in range(0, 60, 10))}
    got_counts = out.groupby("image_id").size().to_dict()
    assert got_counts == exp_counts
    # every polygon rasterizes back into its own bbox
    for _, row in out.iterrows():
        rings = wkb.polygon_rings(bytes(row["geom_wkb"]))
        assert abs(G.ring_area(rings[0])) == row["area_px"]


def test_adaptive_regularization_rectangle_stays_rectangle():
    rect = np.array([[0, 0], [10, 0], [10, 6], [0, 6], [0, 0]], dtype=float)
    out = regularize.adaptive_regularization(rect)
    assert len(out) == 5
    assert np.isclose(abs(G.ring_area(out)), 60.0)


def test_adaptive_regularization_rotated_rectangle():
    rect = np.array([[0, 0], [10, 0], [10, 6], [0, 6], [0, 0]], dtype=float)
    rot = G.rotate_ring(rect, 30.0, (5, 3))
    out = regularize.adaptive_regularization(rot)
    # recovered as a 4-vertex polygon with ~same area
    assert len(out) == 5
    assert abs(abs(G.ring_area(out)) - 60.0) < 3.0


def test_orthogonal_regularization_inserts_right_angles():
    # L-shape with one slightly-off vertex gets orthogonalized
    ring = np.array(
        [[0, 0], [10, 0.4], [10, 5], [5, 5], [5, 10], [0, 10], [0, 0]], dtype=float
    )
    out = regularize.regularization(ring, angle_tolerance=10.0, simplify_tolerance=0.1)
    seg = np.diff(out, axis=0)
    ang = np.abs(np.rad2deg(np.arctan2(seg[:, 1], seg[:, 0]))) % 90
    # most segments near 0/90 after regularization
    assert (np.minimum(ang, 90 - ang) < 12).mean() >= 0.7


def test_hybrid_regularization_branches():
    rect = np.array([[0, 0], [10, 0], [10, 6], [0, 6], [0, 0]], dtype=float)
    out = regularize.hybrid_regularization(rect)
    # 36-bin histogram centers quantize the dominant angle to 2.5° (the
    # reference does the same), inflating the ortho hull slightly
    assert len(out) == 5
    assert np.isclose(abs(G.ring_area(out)), 60.0, rtol=0.15)
    # high-complexity shape → min rotated rectangle branch
    theta = np.linspace(0, 2 * np.pi, 41)
    star_r = np.where(np.arange(41) % 2 == 0, 5.0, 1.0)
    star = np.column_stack([star_r * np.cos(theta), star_r * np.sin(theta)])
    star[-1] = star[0]
    out2 = regularize.hybrid_regularization(star)
    assert len(out2) == 5


def test_regularize_spark_stage(spark):
    labels = datagen.label_df(spark, 40)
    polys = vectorize.vectorize(labels.withColumnRenamed("label_bytes", "masked_bytes"), min_area=1.0)
    out = regularize.regularize(polys, "adaptive_regularization").toPandas()
    assert len(out) > 0
    for _, row in out.iterrows():
        rings = wkb.polygon_rings(bytes(row["reg_wkb"]))
        # axis-aligned rectangles regularize to 4-vertex polygons (T4 contract)
        assert len(rings[0]) == 5


def test_connected_components_spiral_worst_case():
    """Perf regression guard: a snaking spiral (max component diameter) on a
    1200x1200 plane must label in seconds, not O(area x diameter) passes —
    the pre-union-find propagation took minutes here."""
    h = w = 1200
    m = np.zeros((h, w), bool)
    x0, x1, y0, y1 = 0, w - 1, 0, h - 1
    while x0 < x1 and y0 < y1:
        m[y0, x0 : x1 + 1] = True
        m[y0 : y1 + 1, x1] = True
        x0 += 4
        x1 -= 4
        y0 += 4
        y1 -= 4
    t0 = time.time()
    labels = vectorize.connected_components(m)
    assert time.time() - t0 < 10.0
    # one long snake per two spiral arms joined at corners: partition sanity
    assert labels[m].min() > 0 and (labels[~m] == 0).all()


def test_connected_components_matches_bfs():
    from collections import deque

    rng = np.random.default_rng(3)
    mm = rng.random((60, 70)) < 0.45
    labels = vectorize.connected_components(mm)
    seen = np.zeros_like(mm, dtype=int)
    c = 0
    for i in range(mm.shape[0]):
        for j in range(mm.shape[1]):
            if mm[i, j] and not seen[i, j]:
                c += 1
                q = deque([(i, j)])
                seen[i, j] = c
                while q:
                    a, b = q.popleft()
                    for da, db in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                        na, nb = a + da, b + db
                        if (
                            0 <= na < mm.shape[0]
                            and 0 <= nb < mm.shape[1]
                            and mm[na, nb]
                            and not seen[na, nb]
                        ):
                            seen[na, nb] = c
                            q.append((na, nb))
    remap = {}
    for lab, ref in zip(labels[mm], seen[mm]):
        assert remap.setdefault(lab, ref) == ref  # same partition
    assert len(remap) == c


def test_connected_components_snake_worst_case():
    """Perf regression guard: every other column set, the columns joined
    alternately at the top and bottom rows — one 1200-turn snake."""
    h = w = 1200
    m = np.zeros((h, w), bool)
    m[:, ::2] = True
    m[0, 1::4] = True
    m[-1, 3::4] = True
    t0 = time.time()
    labels = vectorize.connected_components(m)
    assert time.time() - t0 < 2.0
    assert (labels[m] == 1).all() and (labels[~m] == 0).all()


PINCH = np.array([[1, 1, 1, 1], [1, 0, 1, 1], [1, 1, 0, 1], [1, 1, 1, 1]], dtype=np.uint8)


def test_pinch_vertex_splits_into_touching_holes():
    """Two background pixels touching only at a corner are two holes that
    share that vertex, not one self-touching ring."""
    feats = vectorize.raster_to_polygons(PINCH, min_area=0.0)
    assert len(feats) == 1 and feats[0]["area"] == 14.0
    ext, *holes = feats[0]["rings"]
    np.testing.assert_array_equal(ext, [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]])
    assert sorted(G.ring_area(r) for r in holes) == [-1.0, -1.0]
    assert {tuple(v) for v in holes[0][:-1]} & {tuple(v) for v in holes[1][:-1]} == {(2.0, 2.0)}


def _random_masks(n: int, seed: int):
    """Seeded random masks, up to 24x24, foreground density 0.2-0.9."""
    rng = np.random.default_rng(seed)
    for _ in range(n):
        h, w = rng.integers(1, 25, 2)
        yield rng.random((h, w)) < rng.uniform(0.2, 0.9)


def test_polygonize_random_masks_round_trip():
    """Every mask, pinches included: polygon areas sum to the pixel count,
    rasterizing the polygons gives the mask back, no ring repeats a vertex."""
    for i, m in enumerate(_random_masks(1000, seed=11)):
        feats = vectorize.raster_to_polygons(m.astype(np.uint8), min_area=0.0)
        assert sum(G.polygon_area(f["rings"]) for f in feats) == m.sum(), i
        assert all(f["area"] == G.polygon_area(f["rings"]) for f in feats), i
        for f in feats:
            for r in f["rings"]:
                assert (r[0] == r[-1]).all() and len(np.unique(r[:-1], axis=0)) == len(r) - 1, i
        back = vectorize.rasterize_polygons(
            [(f["rings"], 1.0) for f in feats], m.shape, all_touched=False
        )
        np.testing.assert_array_equal(back > 0, m, err_msg=str(i))


def _polys(fn, plane, min_area):
    return [
        (f["class"], wkb.dumps_polygon(f["rings"]), f["area"])
        for f in fn(plane, 0.0, min_area)
    ]


def _assert_matches_reference(plane, min_area):
    """Equal labels, and equal (class, WKB, area) unless the reference
    raises on a pinch vertex; returns whether the polygons were compared."""
    mask = (plane[:, :, 0] if plane.ndim == 3 else plane) > 0
    np.testing.assert_array_equal(
        vectorize.connected_components(mask), oracle.connected_components(mask)
    )
    try:
        want = _polys(oracle.raster_to_polygons, plane, min_area)
    except KeyError:
        return False
    assert _polys(vectorize.raster_to_polygons, plane, min_area) == want
    return True


def test_polygons_match_reference_on_label_fixtures():
    for i in range(0, 160, 10):
        assert _assert_matches_reference(decode_image(datagen.label_row(i)["label_bytes"]), 1.0)


def test_polygons_match_reference_on_random_masks():
    """Byte-identical WKB, areas and labels wherever the sequential tracer
    returns (it raises KeyError on pinch vertices); trace_component also
    matches on whole masks traced as one region."""
    compared = traced = 0
    for m in _random_masks(2500, seed=5):
        compared += _assert_matches_reference(m.astype(np.uint8), 1.0)
        try:
            want = oracle.trace_component(m)
        except KeyError:
            continue
        got = vectorize.trace_component(m)
        assert len(got) == len(want)
        assert all(np.array_equal(a, b) for a, b in zip(got, want))
        traced += 1
    assert compared >= 1000 and traced >= 300


def test_image_pipeline_polygons_match_reference(spark, monkeypatch):
    """The vectorize stage on the final masks of q_image_pipeline's chain
    equals the sequential reference, row for row and byte for byte."""
    stage, final = vectorize.vectorize, []

    def spy(df, *args, **kwargs):
        final.append(df)
        return stage(df, *args, **kwargs)

    monkeypatch.setattr(vectorize, "vectorize", spy)
    contracts.q_image_pipeline(spark, None)
    masks = final[0].select("image_id", "final_bytes").toPandas()
    assert len(masks) > 0
    got = (
        stage(spark.createDataFrame(masks), in_col="final_bytes", min_area=4.0)
        .toPandas()
        .sort_values(["image_id", "shape_idx"])
    )
    want = []
    for image_id, blob in zip(masks["image_id"], masks["final_bytes"]):
        plane = decode_image(bytes(blob))
        assert _assert_matches_reference(plane, 4.0)
        want += [(image_id, k, *p) for k, p in enumerate(_polys(oracle.raster_to_polygons, plane, 4.0))]
    assert want
    assert [
        (r.image_id, r.shape_idx, r["class"], bytes(r.geom_wkb), r.area_px) for _, r in got.iterrows()
    ] == sorted(want)


_SQUARE = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
_HOLE = np.array([[2, 2], [2, 4], [4, 4], [4, 2], [2, 2]], dtype=float)
_POLYGONS = [
    wkb.dumps_polygon([_SQUARE, _HOLE, _HOLE + 4]),
    wkb.dumps_multipolygon([[_SQUARE + 20], [_SQUARE, _HOLE]]),
    wkb.dumps_multipolygon([[], [_SQUARE * 2, _HOLE]]),
]
_NOT_POLYGONS = [
    wkb.dumps_point(1.0, 2.0),
    wkb.dumps_linestring(_SQUARE),
    wkb.dumps_polygon([]),
    wkb.dumps_multipolygon([]),
    wkb.dumps_multipolygon([[], []]),
    b"\x01\x07\x00\x00\x00\x00\x00\x00\x00",  # geometry collection
]


def test_exterior_ring_matches_first_polygon_ring():
    for blob in _POLYGONS:
        np.testing.assert_array_equal(wkb.exterior_ring(blob), wkb.polygon_rings(blob)[0])
    for blob in _NOT_POLYGONS:
        with pytest.raises((ValueError, IndexError)) as want:
            wkb.polygon_rings(blob)[0]
        with pytest.raises(want.type):
            wkb.exterior_ring(blob)


def test_regularize_output_unchanged_for_holes_multipolygons_and_invalid(spark):
    """reg_wkb is what regularizing the first decoded ring gave, and invalid
    geometry still passes through."""
    m = np.ones((8, 8), bool)
    m[2:4, 2:4] = m[5, 5] = False
    blobs = [wkb.dumps_polygon(vectorize.trace_component(m))] + _POLYGONS + _NOT_POLYGONS
    df = spark.createDataFrame(pd.DataFrame({"k": range(len(blobs)), "geom_wkb": blobs}))
    got = regularize.regularize(df).toPandas().sort_values("k")
    want = []
    for blob in blobs:
        try:
            rings = wkb.polygon_rings(blob)
            want.append(wkb.dumps_polygon([regularize.adaptive_regularization(rings[0])]))
        except (ValueError, IndexError):
            want.append(blob)
    assert [bytes(b) for b in got["reg_wkb"]] == want
