"""Driver-side Delaunay triangulation (Bowyer-Watson).

Fills the qhull role behind GDALTriangulationCreateDelaunay
(/root/reference/alg/delaunay.c:107): the reference triangulates the
whole in-memory point array serially before gridding; this kernel
has the same bounded, driver-side place in the plan (see
operators/grid_interp.py::grid_linear for the distributed split).

Original incremental Bowyer-Watson over numpy doubles:

* points are inserted in INDEX order — fully deterministic;
* the super-triangle is sized from the data bbox so every point is
  strictly interior;
* the incircle predicate is the standard 3x3 determinant evaluated
  against the triangle's orientation sign, in float64.  For point
  sets in general position (no 4 cocircular points — asserted by
  the brute-force cross-check in tests) the result is the unique
  Delaunay triangulation: exactly the set of triangles whose
  circumcircle is empty, which is what the independent SQL oracle
  re-derives by enumeration.

Facets are returned as ascending vertex-index triples, sorted
lexicographically — a canonical form both engines can agree on.
"""

from __future__ import annotations

import numpy as np


def _circumcircle_contains(ax, ay, bx, by, cx, cy, px, py) -> bool:
    """True iff (px, py) lies strictly inside the circumcircle of
    (a, b, c), regardless of the triangle's orientation."""
    adx, ady = ax - px, ay - py
    bdx, bdy = bx - px, by - py
    cdx, cdy = cx - px, cy - py
    det = ((adx * adx + ady * ady) * (bdx * cdy - cdx * bdy)
           - (bdx * bdx + bdy * bdy) * (adx * cdy - cdx * ady)
           + (cdx * cdx + cdy * cdy) * (adx * bdy - bdx * ady))
    orient = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    return det * orient > 0.0


def delaunay_triangles(xs, ys) -> list[tuple[int, int, int]]:
    """Bowyer-Watson: returns the Delaunay facets as sorted
    ascending (i, j, k) vertex-index triples in lexicographic
    order.

    Wraps the vectorized core (``_bw_core``) in an adaptive
    super-triangle loop: a FINITE super-triangle silently loses any
    true hull-sliver facet whose circumdisk reaches a super vertex
    (the facet's cavity connects to the super vertices instead of
    closing the sliver), while every facet the core does emit is
    empty-circumdisk against all real points by the algorithm's own
    invariant.  So the core can only UNDER-produce, and the exact
    facet count is known a priori — Euler: 2n - 2 - h for h
    convex-hull vertices.  The wrapper re-runs with the super
    vertices pushed 8x further until the count is reached, the facet
    set stops changing (degenerate input: duplicates, collinear or
    cocircular sets — best effort, same as the fixed-scale behavior),
    or the scale cap where float64 incircle precision would degrade.
    Uniform random data typically needs one re-run; the lattice-free
    hashed layouts the engine grids need none."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    n = len(xs)
    if n < 3:
        return []
    out = _bw_core(xs, ys, 30.0)
    from .geom import convex_hull
    ring = convex_hull(np.column_stack([xs, ys]))[:-1]
    h = len(ring)
    expect = 2 * n - 2 - h
    scale = 30.0
    while len(out) < expect and scale < 2.0e5:
        scale *= 8.0
        nxt = _bw_core(xs, ys, scale)
        if nxt == out:
            # identical incomplete sets at consecutive scales: the
            # missing facet's circumdisk still reaches the super
            # vertices (a flat hull sliver can have circumradius
            # thousands of spans — chasing it with ever-larger scales
            # degrades incircle precision instead).  Fall through to
            # the structural repair below.
            break
        out = nxt
    if len(out) < expect:
        out = _repair_gaps(xs, ys, out, expect, ring)
    return out


def _repair_gaps(xs, ys, out, expect: int,
                 ring) -> list[tuple[int, int, int]]:
    """Structural completion of an under-produced Bowyer-Watson run.

    A missing facet leaves a footprint: its region's boundary edges
    appear in exactly ONE kept facet instead of two (or are hull
    edges covered zero times), and a fully-swallowed vertex appears
    in no facet at all.  Gap repair re-triangulates just that vertex
    set (brute-force enumeration — gaps are slivers, a handful of
    points) and accepts a candidate only if its circumdisk is empty
    against ALL points under the kernel's own incircle expression —
    a triangle that passes IS a facet of DT(S) by definition, so the
    repair is sound regardless of how the gap arose; completeness
    comes from the Euler count ``expect`` the caller checks.  Best
    effort on genuinely degenerate inputs (duplicates / cocircular):
    bounded rounds, stops when no candidate verifies."""
    n = len(xs)
    hull_edges = set()
    hidx = [int(np.nonzero((xs == vx) & (ys == vy))[0][0])
            for vx, vy in ring]
    for i in range(len(hidx)):
        a, b = hidx[i], hidx[(i + 1) % len(hidx)]
        hull_edges.add((a, b) if a < b else (b, a))

    out = list(out)
    for _ in range(8):
        if len(out) >= expect:
            break
        edge_count: dict[tuple[int, int], int] = {}
        seen = set()
        for a, b, c in out:
            seen.update((a, b, c))
            for e in ((a, b), (b, c), (a, c)):
                edge_count[e] = edge_count.get(e, 0) + 1
        defect = {e for e, cnt in edge_count.items() if cnt == 1}
        defect ^= hull_edges          # true once-edges ARE hull edges
        vgap = {v for e in defect for v in e}
        vgap |= set(range(n)) - seen
        vgap = sorted(vgap)
        if len(vgap) < 3 or len(vgap) > 256:
            break
        sub = brute_force_delaunay(xs[vgap], ys[vgap])
        have = set(out)
        cand = [tuple(sorted((vgap[i], vgap[j], vgap[k])))
                for i, j, k in sub]
        cand = [t for t in cand if t not in have]
        added = 0
        for a, b, c in cand:
            adx, ady = xs[a] - xs, ys[a] - ys
            bdx, bdy = xs[b] - xs, ys[b] - ys
            cdx, cdy = xs[c] - xs, ys[c] - ys
            det = ((adx * adx + ady * ady) * (bdx * cdy - cdx * bdy)
                   - (bdx * bdx + bdy * bdy) * (adx * cdy - cdx * ady)
                   + (cdx * cdx + cdy * cdy) * (adx * bdy - bdx * ady))
            orient = ((xs[b] - xs[a]) * (ys[c] - ys[a])
                      - (ys[b] - ys[a]) * (xs[c] - xs[a]))
            inside = det * orient > 0.0
            inside[[a, b, c]] = False
            if not inside.any():
                out.append((a, b, c))
                added += 1
        if not added:
            break
    return sorted(out)


def _bw_core(xs, ys, scale: float) -> list[tuple[int, int, int]]:
    """One vectorized Bowyer-Watson run with super vertices at
    ``scale`` x span.

    The per-insertion bad-triangle scan is vectorized: all live
    triangles' incircle determinants evaluate in one numpy pass per
    inserted point, with the triangle orientation precomputed at
    creation (it does not depend on the query point).  Every
    floating-point operation is the same IEEE-double expression the
    scalar ``_circumcircle_contains`` evaluates, in the same order,
    so the facet set is bit-identical to the scalar path (asserted
    by ``test_vectorized_scan_matches_scalar``); only the constant
    factor changes (~100x: a 5,000-point TIN drops from ~40 s of
    Python-level determinant calls to well under a second).  Work is
    still O(n^2) overall — within MAX_DRIVER_TIN_POINTS this is the
    reference's own serial-qhull place in the plan
    (alg/delaunay.c:107); operators/delaunay_dist.py is the tiled
    distributed path."""
    n = len(xs)
    minx, maxx = float(xs.min()), float(xs.max())
    miny, maxy = float(ys.min()), float(ys.max())
    span = max(maxx - minx, maxy - miny, 1.0)
    midx, midy = (minx + maxx) / 2.0, (miny + maxy) / 2.0
    # super-triangle far outside the data (indices n, n+1, n+2);
    # scale=30 keeps the historical 30/20/30 proportions
    px = np.concatenate([xs, [midx - scale * span, midx,
                              midx + scale * span]])
    py = np.concatenate([ys, [midy - scale * span * (2.0 / 3.0),
                              midy + scale * span,
                              midy - scale * span * (2.0 / 3.0)]])

    # triangle store: growing parallel arrays in creation order
    # (compaction preserves that order, matching the list semantics
    # of the scalar algorithm)
    cap = 256
    tv = np.empty((cap, 3), dtype=np.int64)          # vertex triples
    tc = np.empty((cap, 6), dtype=np.float64)        # ax ay bx by cx cy
    tor = np.empty(cap, dtype=np.float64)            # orientation
    alive = np.zeros(cap, dtype=bool)
    m = 0

    def add(a: int, b: int, c: int):
        nonlocal m, cap, tv, tc, tor, alive
        if m == cap:
            cap *= 2
            tv = np.resize(tv, (cap, 3))
            tc = np.resize(tc, (cap, 6))
            tor = np.resize(tor, cap)
            alive = np.resize(alive, cap)
        tv[m] = (a, b, c)
        ax, ay, bx, by, cx, cy = px[a], py[a], px[b], py[b], px[c], py[c]
        tc[m] = (ax, ay, bx, by, cx, cy)
        tor[m] = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
        alive[m] = True
        m += 1

    add(n, n + 1, n + 2)
    n_dead = 0
    for p in range(n):
        qx, qy = px[p], py[p]
        adx = tc[:m, 0] - qx
        ady = tc[:m, 1] - qy
        bdx = tc[:m, 2] - qx
        bdy = tc[:m, 3] - qy
        cdx = tc[:m, 4] - qx
        cdy = tc[:m, 5] - qy
        det = ((adx * adx + ady * ady) * (bdx * cdy - cdx * bdy)
               - (bdx * bdx + bdy * bdy) * (adx * cdy - cdx * ady)
               + (cdx * cdx + cdy * cdy) * (adx * bdy - bdx * ady))
        bad = np.nonzero(alive[:m] & (det * tor[:m] > 0.0))[0]
        # boundary = edges of the bad-triangle cavity that appear once
        edge_count: dict[tuple[int, int], int] = {}
        for t_idx in bad:
            a, b, c = tv[t_idx]
            for e in ((a, b), (b, c), (c, a)):
                key = (min(e), max(e)) if e[0] > e[1] else (e[0], e[1])
                edge_count[key] = edge_count.get(key, 0) + 1
        alive[bad] = False
        n_dead += len(bad)
        for (u, v), cnt in sorted(edge_count.items()):
            if cnt == 1:
                add(*sorted((int(u), int(v), p)))
        # keep the scan over live slots tight
        if n_dead > 256 and n_dead * 2 > m:
            keep = np.nonzero(alive[:m])[0]
            k = len(keep)
            tv[:k] = tv[keep]
            tc[:k] = tc[keep]
            tor[:k] = tor[keep]
            alive[:k] = True
            alive[k:m] = False
            m, n_dead = k, 0

    live = np.nonzero(alive[:m])[0]
    out = sorted(tuple(int(v) for v in tv[t]) for t in live
                 if int(tv[t].max()) < n)
    return out


def brute_force_delaunay(xs, ys) -> list[tuple[int, int, int]]:
    """The enumeration definition — every ascending triple whose
    circumcircle contains no other point (the SQL oracle's exact
    construction, restated in numpy for tests).  O(n^4): test-scale
    only."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    n = len(xs)
    out = []
    for i in range(n):
        for j in range(i + 1, n):
            for k in range(j + 1, n):
                orient = ((xs[j] - xs[i]) * (ys[k] - ys[i])
                          - (ys[j] - ys[i]) * (xs[k] - xs[i]))
                if orient == 0.0:
                    continue
                if not any(
                    _circumcircle_contains(xs[i], ys[i], xs[j], ys[j],
                                           xs[k], ys[k], xs[m], ys[m])
                    for m in range(n) if m not in (i, j, k)
                ):
                    out.append((i, j, k))
    return out
