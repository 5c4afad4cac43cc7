"""Geometry kernels (pure numpy, float64).

Behavioral parity targets in the reference:
- resolve_enclosing_bbox : doctr/utils/geometry.py:77-96 (min/max over boxes)
- quad -> straight bbox   : doctr/models/builder.py:62 (min(1)/max(1) concat)
- estimate_page_angle     : doctr/utils/geometry.py:350-365 (median arctan)
- extract_crops           : doctr/utils/geometry.py:393-422 (relative->abs slice)
- convert_to_relative     : doctr/utils/geometry.py:368-390 (clip to [0,1])
"""

from __future__ import annotations

import numpy as np


def resolve_enclosing_bbox(boxes: np.ndarray) -> np.ndarray:
    """(N,4) [xmin,ymin,xmax,ymax] -> enclosing (4,) bbox."""
    b = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
    return np.array([b[:, 0].min(), b[:, 1].min(), b[:, 2].max(), b[:, 3].max()])


def quads_to_straight(quads: np.ndarray) -> np.ndarray:
    """(N,4,2) polygons -> (N,4) straight boxes via per-quad min/max."""
    q = np.asarray(quads, dtype=np.float64)
    return np.concatenate((q.min(axis=1), q.max(axis=1)), axis=-1)


def convex_hull(points: np.ndarray) -> np.ndarray:
    """(N,2) points -> counter-clockwise convex hull (Andrew monotone
    chain; no scipy/cv2 in this container).

    Only the lowest and highest point of each column (each x) can be a
    hull vertex, so the chain runs over those alone: a pixel blob of N
    points costs twice its width, not N. The turn test runs on Python
    floats, the same float64 arithmetic as ``np.cross`` at a fraction of
    its per-call cost."""
    pts = np.asarray(points, dtype=np.float64).reshape(-1, 2)
    # the distinct points in (x, y) order, as np.unique(axis=0) gives them
    # at a fraction of its sort cost; each column is a run of rising y
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]
    pts = pts[np.concatenate(([True], (pts[1:] != pts[:-1]).any(axis=1)))[: len(pts)]]
    if len(pts) <= 2:
        return pts
    new_x = pts[1:, 0] != pts[:-1, 0]
    pts = pts[np.concatenate(([True], new_x)) | np.concatenate((new_x, [True]))].tolist()

    def half(points):
        chain: list[list[float]] = []
        for p in points:
            while len(chain) >= 2:
                (ox, oy), (ax, ay) = chain[-2], chain[-1]
                if (ax - ox) * (p[1] - oy) - (ay - oy) * (p[0] - ox) > 0:
                    break
                chain.pop()
            chain.append(p)
        return chain

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def min_area_rect(points: np.ndarray) -> np.ndarray:
    """Minimum-area enclosing rotated rectangle of a point cloud, as (4,2)
    corner points — the cv2.minAreaRect + boxPoints pair re-implemented
    with rotating calipers over the convex hull (the optimal rectangle
    shares a side with some hull edge). Corners are returned in
    counter-clockwise order starting from the corner with the smallest
    (y, x) — a deterministic convention where cv2's start corner is
    representation-dependent."""
    hull = convex_hull(points)
    if len(hull) == 1:
        return np.repeat(hull, 4, axis=0)
    if len(hull) == 2:
        a, b = hull
        return np.array([a, b, b, a])
    edges = np.roll(hull, -1, axis=0) - hull
    angles = np.arctan2(edges[:, 1], edges[:, 0])
    best = None
    for theta in angles:
        c, s = np.cos(-theta), np.sin(-theta)
        rot = np.array([[c, -s], [s, c]])
        proj = hull @ rot.T
        mn, mx = proj.min(axis=0), proj.max(axis=0)
        area = float((mx[0] - mn[0]) * (mx[1] - mn[1]))
        if best is None or area < best[0] - 1e-15:
            corners_local = np.array(
                [[mn[0], mn[1]], [mx[0], mn[1]], [mx[0], mx[1]], [mn[0], mx[1]]]
            )
            best = (area, corners_local @ rot)
    corners = best[1]
    start = np.lexsort((corners[:, 0], corners[:, 1]))[0]
    return np.roll(corners, -start, axis=0)


def resolve_enclosing_rbbox(rbboxes: list[np.ndarray] | np.ndarray) -> np.ndarray:
    """Enclosing ROTATED bbox of a set of (*, 4, 2) polys: min-area
    rectangle over the merged point cloud — reference
    utils/geometry.py:99-118 semantics (which round-trips through a
    1024-px int grid for cv2; this exact float version skips the
    quantization)."""
    cloud = np.concatenate([np.asarray(b, dtype=np.float64).reshape(-1, 2) for b in rbboxes], axis=0)
    return min_area_rect(cloud)


def estimate_page_angle(polys: np.ndarray) -> float:
    """Median skew angle (degrees) over (N,4,2) polys whose points are ordered
    top-left, top-right, bottom-right, bottom-left: arctan of the top edge."""
    p = np.asarray(polys, dtype=np.float64)
    xleft = p[:, 0, 0] + p[:, 3, 0]
    yleft = p[:, 0, 1] + p[:, 3, 1]
    xright = p[:, 1, 0] + p[:, 2, 0]
    yright = p[:, 1, 1] + p[:, 2, 1]
    with np.errstate(divide="raise", invalid="raise"):
        try:
            return float(
                np.median(np.arctan((yleft - yright) / (xright - xleft))) * 180 / np.pi
            )
        except FloatingPointError:
            return 0.0


def convert_to_relative(abs_boxes: np.ndarray, height: int, width: int) -> np.ndarray:
    """Absolute pixel (N,4) boxes -> relative [0,1], clipped."""
    b = np.asarray(abs_boxes, dtype=np.float64).copy()
    b[:, [0, 2]] /= width
    b[:, [1, 3]] /= height
    return np.clip(b, 0.0, 1.0)


def to_absolute(rel_boxes: np.ndarray, height: int, width: int) -> np.ndarray:
    """Relative (N,4) boxes -> integer pixel boxes (round half to even,
    clip to the page)."""
    size = (width, height, width, height)
    b = np.rint(np.asarray(rel_boxes, dtype=np.float64) * size).astype(np.int64)
    return np.clip(b, 0, size, out=b)


def extract_crops(img: np.ndarray, rel_boxes: np.ndarray) -> list[np.ndarray]:
    """Slice relative straight boxes out of an (H,W[,C]) image. Zero-area
    crops are returned as empty arrays (caller filters them, mirroring the
    reference's zero-size drop in models/predictor/base.py:115-153)."""
    h, w = img.shape[:2]
    out = []
    for xmin, ymin, xmax, ymax in to_absolute(np.asarray(rel_boxes).reshape(-1, 4), h, w).tolist():
        out.append(img[ymin:ymax, xmin:xmax])
    return out


def rotate_boxes(quads: np.ndarray, angle_deg: float, min_angle: float = 1.0) -> np.ndarray:
    """Rotate (N,4,2) relative polygons by -angle around the page center
    (0.5, 0.5) — the de-skew step the rotated _sort_boxes path applies
    before collapsing quads to straight boxes. Angles below ``min_angle``
    are a no-op (the reference's small-angle fast path)."""
    q = np.asarray(quads, dtype=np.float64)
    if abs(angle_deg) < min_angle:
        return q.copy()
    theta = np.deg2rad(angle_deg)
    rot = np.array([[np.cos(theta), -np.sin(theta)], [np.sin(theta), np.cos(theta)]])
    centered = q - 0.5
    return centered @ rot.T + 0.5


def deskewed_straight_boxes(quads: np.ndarray, min_angle: float = 5.0) -> np.ndarray:
    """Rotated (N,4,2) polys -> straight (N,4) boxes after removing the
    estimated page skew (the full _sort_boxes rotated-input reduction)."""
    q = np.asarray(quads, dtype=np.float64)
    # estimate_page_angle(rotate_boxes(q, +a)) == -a in this module's
    # conventions, so rotating by +estimate undoes the skew
    angle = estimate_page_angle(q)
    if abs(angle) >= min_angle:
        q = rotate_boxes(q, angle, min_angle=0.0)
    return quads_to_straight(q)


def extract_rotated_crop(img: np.ndarray, quad_rel: np.ndarray) -> np.ndarray:
    """Warp a rotated quad (4,2 relative coords, ordered top-left, top-right,
    bottom-right, bottom-left) out of the page — the extract_rcrops
    equivalent without cv2: inverse bilinear mapping of the output grid onto
    the quad, nearest-neighbor sampling."""
    h, w = img.shape[:2]
    q = np.asarray(quad_rel, dtype=np.float64) * np.array([w, h])
    tl, tr, br, bl = q
    out_w = max(1, int(round(max(np.linalg.norm(tr - tl), np.linalg.norm(br - bl)))))
    out_h = max(1, int(round(max(np.linalg.norm(bl - tl), np.linalg.norm(br - tr)))))
    u = (np.arange(out_w) + 0.5) / out_w
    v = (np.arange(out_h) + 0.5) / out_h
    uu, vv = np.meshgrid(u, v)
    # bilinear interpolation of the quad corners
    xs = (1 - uu) * (1 - vv) * tl[0] + uu * (1 - vv) * tr[0] + uu * vv * br[0] + (1 - uu) * vv * bl[0]
    ys = (1 - uu) * (1 - vv) * tl[1] + uu * (1 - vv) * tr[1] + uu * vv * br[1] + (1 - uu) * vv * bl[1]
    # floor of continuous coords (not round: banker's rounding on exact .5
    # centers would alternate pixels and break axis-aligned exactness)
    xi = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    yi = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    return img[yi, xi]


def box_iou_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(N,4) x (M,4) -> (N,M) IoU. (doctr/utils/metrics.py:124-149 semantics)"""
    a = np.asarray(a, dtype=np.float64).reshape(-1, 4)
    b = np.asarray(b, dtype=np.float64).reshape(-1, 4)
    ix = np.maximum(
        0.0,
        np.minimum(a[:, None, 2], b[None, :, 2]) - np.maximum(a[:, None, 0], b[None, :, 0]),
    )
    iy = np.maximum(
        0.0,
        np.minimum(a[:, None, 3], b[None, :, 3]) - np.maximum(a[:, None, 1], b[None, :, 1]),
    )
    inter = ix * iy
    area_a = (a[:, 2] - a[:, 0]) * (a[:, 3] - a[:, 1])
    area_b = (b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1])
    union = area_a[:, None] + area_b[None, :] - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(union > 0, inter / union, 0.0)


def nms(boxes: np.ndarray, thresh: float = 0.5) -> list[int]:
    """Greedy non-max suppression on (N,5) [x1,y1,x2,y2,score].
    (doctr/utils/metrics.py:181-216 semantics)"""
    b = np.asarray(boxes, dtype=np.float64).reshape(-1, 5)
    order = b[:, 4].argsort()[::-1]
    keep: list[int] = []
    while order.size > 0:
        i = int(order[0])
        keep.append(i)
        if order.size == 1:
            break
        ious = box_iou_matrix(b[i : i + 1, :4], b[order[1:], :4])[0]
        order = order[1:][ious <= thresh]
    return keep


def _shoelace_area(pts: np.ndarray) -> float:
    x, y = pts[:, 0], pts[:, 1]
    return 0.5 * abs(float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))))


def _clip_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland-Hodgman clip of convex polygon `subject` by convex `clip`
    (both (K,2), CCW). Returns the intersection polygon (possibly empty)."""
    # ensure clip is CCW (cross(e1, e2) > 0) so "inside" = left of each edge
    e1, e2 = clip[1] - clip[0], clip[2] - clip[1]
    if e1[0] * e2[1] - e1[1] * e2[0] < 0:
        clip = clip[::-1]
    out = subject.astype(np.float64)
    n = len(clip)
    for i in range(n):
        if len(out) == 0:
            break
        a, b = clip[i], clip[(i + 1) % n]
        edge = b - a
        d = (out - a) @ np.array([-edge[1], edge[0]])  # >0 = inside (left)
        nxt: list[np.ndarray] = []
        m = len(out)
        for j in range(m):
            cur, dn = out[j], d[j]
            prv, dp = out[j - 1], d[j - 1]
            if dn >= 0:
                if dp < 0:
                    t = dp / (dp - dn)
                    nxt.append(prv + t * (cur - prv))
                nxt.append(cur)
            elif dp >= 0:
                t = dp / (dp - dn)
                nxt.append(prv + t * (cur - prv))
        out = np.asarray(nxt, dtype=np.float64).reshape(-1, 2)
    return out


def polygon_iou(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(N,4,2) x (M,4,2) -> (N,M) pairwise IoU of convex quads — exact
    Sutherland-Hodgman clip + shoelace, no shapely.
    (doctr/utils/metrics.py:152-178 semantics; detection quads are rotated
    rectangles, hence convex, so the clip is exact.)"""
    a = np.asarray(a, dtype=np.float64).reshape(-1, 4, 2)
    b = np.asarray(b, dtype=np.float64).reshape(-1, 4, 2)
    out = np.zeros((len(a), len(b)), dtype=np.float64)
    areas_a = [_shoelace_area(p) for p in a]
    areas_b = [_shoelace_area(p) for p in b]
    for i, pa in enumerate(a):
        for j, pb in enumerate(b):
            inter_poly = _clip_convex(pa, pb)
            inter = _shoelace_area(inter_poly) if len(inter_poly) >= 3 else 0.0
            union = areas_a[i] + areas_b[j] - inter
            out[i, j] = inter / union if union > 0 else 0.0
    return out
