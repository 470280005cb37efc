"""Polygonize kernels: connected-component labeling + boundary ring
tracing.

Semantics target: gdal_polygonize — two-pass connected components
over equal-valued pixels, 4- or 8-connected
(/root/reference/alg/polygonize.cpp:487-576, enumerator
/root/reference/alg/gdalrasterpolygonenumerator.cpp:75), then ring
assembly into polygons whose vertices are pixel corners
(/root/reference/alg/polygonize_polygonizer.cpp).  Hole nesting uses
the winding/orientation of traced rings (cf. the marching-squares
ring appender /root/reference/alg/marching_squares/
polygon_ring_appender.h:50-87).

Pure numpy + dict union-find; no scipy.  These kernels run per tile
(and per component) inside Arrow-batched UDFs of the distributed
polygonize operator.
"""

from __future__ import annotations

import numpy as np


# ------------------------------------------------------------ labeling
def label_components(arr, connect8: bool = False, nodata=None):
    """Two-pass CC labeling of equal-valued regions.

    arr: 2-D array of values.  Pixels with value == nodata get label
    0; every other pixel gets a label >= 1, shared iff there's a 4-
    (or 8-) connected path of equal-valued pixels.  Labels are
    assigned in raster order (deterministic).
    Returns (labels int32 array, n_labels).
    """
    a = np.asarray(arr)
    h, w = a.shape
    labels = np.zeros((h, w), dtype=np.int32)
    parent = [0]  # union-find; parent[i] == i for roots

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    def union(i, j):
        ri, rj = find(i), find(j)
        if ri != rj:
            if ri < rj:
                parent[rj] = ri
            else:
                parent[ri] = rj

    nxt = 1
    for y in range(h):
        for x in range(w):
            v = a[y, x]
            if nodata is not None and v == nodata:
                continue
            cands = []
            if x > 0 and a[y, x - 1] == v:
                cands.append(labels[y, x - 1])
            if y > 0 and a[y - 1, x] == v:
                cands.append(labels[y - 1, x])
            if connect8 and y > 0:
                if x > 0 and a[y - 1, x - 1] == v:
                    cands.append(labels[y - 1, x - 1])
                if x + 1 < w and a[y - 1, x + 1] == v:
                    cands.append(labels[y - 1, x + 1])
            if not cands:
                labels[y, x] = nxt
                parent.append(nxt)
                nxt += 1
            else:
                m = min(cands)
                labels[y, x] = m
                for c in cands:
                    union(m, c)

    # flatten + renumber in first-appearance order
    remap = {}
    out = labels
    n = 0
    for y in range(h):
        for x in range(w):
            l0 = labels[y, x]
            if l0 == 0:
                continue
            r = find(l0)
            if r not in remap:
                n += 1
                remap[r] = n
            out[y, x] = remap[r]
    return out, n


def runs_of_labels(labels):
    """Row runs (label, y, x0, x1 inclusive) of a label array —
    the compressed per-tile representation shuffled by the
    distributed polygonize operator."""
    h, w = labels.shape
    out = []
    for y in range(h):
        row = labels[y]
        x = 0
        while x < w:
            l0 = row[x]
            x1 = x
            while x1 + 1 < w and row[x1 + 1] == l0:
                x1 += 1
            if l0 != 0:
                out.append((int(l0), y, x, x1))
            x = x1 + 1
    return out


# ------------------------------------------------------------- tracing
# directed boundary edges keep the region on the LEFT (screen coords,
# y down): outer rings come out clockwise-on-screen, holes opposite —
# orientation distinguishes them (shoelace sign).
_TURN_ORDER_4 = {  # incoming dir -> candidate outgoing dirs, left turn first
    (1, 0): [(0, -1), (1, 0), (0, 1)],
    (-1, 0): [(0, 1), (-1, 0), (0, -1)],
    (0, 1): [(1, 0), (0, 1), (-1, 0)],
    (0, -1): [(-1, 0), (0, -1), (1, 0)],
}


def boundary_edges(mask):
    """Directed unit edges of a binary mask, region on the left.

    Returns dict start_corner -> list of end_corners (sorted for
    determinism).  Corners are (cx, cy) pixel-corner coordinates.
    """
    h, w = mask.shape
    m = np.zeros((h + 2, w + 2), dtype=bool)
    m[1:-1, 1:-1] = mask.astype(bool)
    edges = {}

    def add(a, b):
        edges.setdefault(a, []).append(b)

    ys, xs = np.nonzero(m[1:-1, 1:-1])
    for y, x in zip(ys.tolist(), xs.tolist()):
        iy, ix = y + 1, x + 1
        if not m[iy - 1, ix]:          # top edge, direction -x
            add((x + 1, y), (x, y))
        if not m[iy + 1, ix]:          # bottom edge, direction +x
            add((x, y + 1), (x + 1, y + 1))
        if not m[iy, ix - 1]:          # left edge, direction +y
            add((x, y), (x, y + 1))
        if not m[iy, ix + 1]:          # right edge, direction -y
            add((x + 1, y + 1), (x + 1, y))
    for k in edges:
        edges[k].sort()
    return edges


def trace_rings(mask, connect8: bool = False):
    """Closed boundary rings of a binary mask, vertices at pixel
    corners, collinear runs collapsed.

    Saddle rule: at a corner with two outgoing candidates, 4-conn
    takes the sharpest LEFT turn (diagonal neighbors stay separate),
    8-conn the sharpest RIGHT turn (diagonals stay joined) — the
    standard marching-squares disambiguation, deterministic.
    Rings are emitted in order of their smallest starting corner.
    """
    edges = boundary_edges(mask)
    used = set()
    rings = []
    starts = sorted(edges.keys())
    for s in starts:
        for e in edges[s]:
            if (s, e) in used:
                continue
            ring = [s]
            cur, prev_dir = s, None
            nxt = e
            while True:
                used.add((cur, nxt))
                d = (nxt[0] - cur[0], nxt[1] - cur[1])
                ring.append(nxt)
                cur, prev_dir = nxt, d
                if cur == s:
                    break
                cands = [c for c in edges.get(cur, ())
                         if (cur, c) not in used or c == s]
                if not cands:
                    cands = [c for c in edges.get(cur, ()) if c == s]
                if len(cands) == 1:
                    nxt = cands[0]
                else:
                    order = _TURN_ORDER_4[prev_dir]
                    if connect8:
                        order = list(reversed(order))
                    by_dir = {(c[0] - cur[0], c[1] - cur[1]): c for c in cands}
                    nxt = next(by_dir[d2] for d2 in order if d2 in by_dir)
            rings.append(_collapse(ring))
    return rings


def _collapse(ring):
    """Drop collinear intermediate vertices; keep closure."""
    pts = ring[:-1]
    out = []
    n = len(pts)
    for i in range(n):
        a = pts[i - 1]
        b = pts[i]
        c = pts[(i + 1) % n]
        if (b[0] - a[0]) * (c[1] - b[1]) != (b[1] - a[1]) * (c[0] - b[0]):
            out.append(b)
    out.append(out[0])
    return np.array(out, dtype=np.float64)
