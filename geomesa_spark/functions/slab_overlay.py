"""Slab-sweep boolean overlay for (MULTI)POLYGON pairs — the primary
areal path of st_intersection / st_union / st_difference /
st_symDifference (st_functions._areal_overlay).

Crossing-based kernels (Greiner–Hormann, half-plane clips, boundary
rechaining) must special-case boundaries that interact degenerately
(partially shared edges, vertex-on-edge chains, checkerboard corners).
This module computes the boolean by vertical trapezoidal decomposition
instead, which has NO special cases for degeneracy:

1. Cut the plane into vertical slabs at every vertex x of either
   operand plus every proper A×B edge-crossing x. Inside a slab no two
   edges cross, so the covering edges are totally ordered by their
   midline y.
2. Walk each slab bottom-up accumulating even-odd parity for A and B
   separately (holes need no special handling — OGC-valid rings are
   even-odd compatible); coincident edge groups (shared boundary)
   toggle both parities at once. The op's indicator (∩, ∪, \\, Δ) over
   (inA, inB) marks result trapezoids.
3. The result boundary = edge pieces where the indicator flips across
   an edge (a piece going straight on into the next slab extends, so
   slab cuts add no vertices to straight runs), plus the XOR of
   left/right vertical coverage at each slab border. Pieces chain into closed
   rings (chain_closed_rings: every junction must have degree 2;
   degree-4 crossings go to a planar face walk), shells/holes recover
   by containment parity, and the assembled area must match the
   trapezoid-accumulated area exactly (1e-9 relative) — the same
   honest gate the rechainer uses. Wrong answers are structurally
   excluded; failure modes return None.

The result is areal by construction: lower-dimensional contact (the
shared edge of two touching squares) is invisible here, and the caller
asks the DE-9IM relate fallback for it.

Cost: O((V + K)·V) per pair with tiny constants — the same
dimension-table cost class as the GH fold documented in PLANS.md.
"""

from __future__ import annotations

import numpy as np

from geomesa_spark.functions import geometry as geo

_OPS = {
    "intersection": lambda a, b: a and b,
    "union": lambda a, b: a or b,
    "difference": lambda a, b: a and not b,
    "symdifference": lambda a, b: a != b,
}


def _edges(coords, offs):
    out = []
    for r in range(len(offs) - 1):
        ring = coords[offs[r]:offs[r + 1]]
        for i in range(len(ring) - 1):
            p, q = ring[i], ring[i + 1]
            if p[0] != q[0] or p[1] != q[1]:
                out.append((float(p[0]), float(p[1]), float(q[0]), float(q[1])))
    return out


def _crossing_xs(ea, eb):
    xs = []
    for x1, y1, x2, y2 in ea:
        for x3, y3, x4, y4 in eb:
            if max(x1, x2) < min(x3, x4) or max(x3, x4) < min(x1, x2):
                continue
            d = (x2 - x1) * (y4 - y3) - (y2 - y1) * (x4 - x3)
            if d == 0.0:
                continue  # parallel/collinear: endpoints are already cuts
            t = ((x3 - x1) * (y4 - y3) - (y3 - y1) * (x4 - x3)) / d
            u = ((x3 - x1) * (y2 - y1) - (y3 - y1) * (x2 - x1)) / d
            if 0.0 < t < 1.0 and 0.0 < u < 1.0:
                xs.append(x1 + t * (x2 - x1))
    return xs


def _trace_faces(pieces: list, tol: float):
    """Closed rings from DIRECTED boundary segments (region on the
    LEFT of each, known at emission from the parity flips) with
    even-degree junctions — degree 4 where the operand boundaries
    cross, e.g. every symmetric difference of properly-crossing
    polygons. The planar face walk over the directed edges (next = the
    outgoing edge clockwise-adjacent to the arriving edge's reverse)
    traces exactly the REGION faces: outer boundaries CCW, hole loops
    CW, void faces between regions never (no edge has them on its
    left). Containment parity downstream re-derives shells vs holes.
    Returns None on unbalanced nodes or exact angular ties (ambiguous
    input — honesty over guessing)."""
    # neighbor-aware node pooling, NOT bare grid rounding: two endpoints
    # 1e-12 apart can straddle a grid boundary and round to different
    # cells (observed: 0.288228115 vs ...1160 → an unbalanced node and a
    # refused graph). The pool reuses any existing node within tol by
    # checking the 3x3 neighboring grid cells.
    pool: dict = {}

    def snap(p):
        x, y = float(p[0]), float(p[1])
        gx, gy = round(x / tol), round(y / tol)
        for dx in (0, -1, 1):
            for dy in (0, -1, 1):
                q = pool.get((gx + dx, gy + dy))
                if q is not None and abs(q[0] - x) <= tol and abs(q[1] - y) <= tol:
                    return q
        q = (x, y)
        pool[(gx, gy)] = q
        return q

    edges: list = []  # directed (tail_key, head_key)
    for seg in pieces:
        a, b = snap(seg[0]), snap(seg[-1])
        if a != b:
            edges.append((a, b))
    out_at: dict = {}
    in_deg: dict = {}
    for i, (a, b) in enumerate(edges):
        out_at.setdefault(a, []).append(i)
        in_deg[b] = in_deg.get(b, 0) + 1
    order: dict = {}
    for node, ids in out_at.items():
        if in_deg.get(node, 0) != len(ids):
            return None  # boundary of a region alternates in/out
        angs = []
        for i in ids:
            a, b = edges[i]
            angs.append((np.arctan2(b[1] - a[1], b[0] - a[0]), i))
        angs.sort()
        if any(angs[k][0] == angs[k + 1][0] for k in range(len(angs) - 1)):
            return None  # exact angular tie: ambiguous
        order[node] = angs
    used = [False] * len(edges)
    rings: list = []
    for start in range(len(edges)):
        if used[start]:
            continue
        ring = [edges[start][0]]
        cur = start
        for _guard in range(len(edges) + 1):
            used[cur] = True
            tail, head = edges[cur]
            ring.append(head)
            back = np.arctan2(tail[1] - head[1], tail[0] - head[0])
            angs = order.get(head)
            if not angs:
                return None
            # outgoing edge immediately CLOCKWISE of `back` in CCW order
            idx = None
            for k, (th, _i) in enumerate(angs):
                if th >= back:
                    idx = k - 1
                    break
            if idx is None:
                idx = len(angs) - 1
            nxt = angs[idx][1]
            if nxt == start:
                break
            if used[nxt]:
                return None  # corrupt graph: an edge in two faces
            cur = nxt
        else:
            return None
        rings.append(np.asarray(ring, dtype=np.float64))
    return rings or None


def slab_boolean(ga, gb, op: str, tol: float = 1e-9):
    """Boolean of two areal geometries by trapezoidal sweep.
    Returns a list of (coords, ring_offsets) members (possibly empty),
    or None when ring assembly or the area identity fails."""
    ind = _OPS[op]
    ea = _edges(ga[1], ga[2])
    eb = _edges(gb[1], gb[2])
    if not ea or not eb:
        return None
    xs = sorted(
        set(
            [e[0] for e in ea] + [e[2] for e in ea]
            + [e[0] for e in eb] + [e[2] for e in eb]
            + _crossing_xs(ea, eb)
        )
    )
    tagged = [(e, True) for e in ea] + [(e, False) for e in eb]
    edge_pieces: list = []          # [tail, head] result boundary on edges
    # a boundary piece that goes straight on from the previous slab's
    # piece in the same direction — along an edge the whole piece lies
    # on, or exactly collinear with it — extends that piece instead of
    # starting a new one, so slab cuts and collinear edge joins leave no
    # vertices on straight runs. Only a joint no other boundary piece
    # meets is joined: the ring chaining and the face walk need every
    # piece split where boundaries touch. Along a shared edge the joint
    # is computed from that edge on both sides, so the join is exact;
    # with the region on the same side before and after the joint no
    # vertical piece ends there
    ends: dict = {}                 # y at x0 -> [(piece index, region above, edges it lies on)]
    vleft: dict = {}                # border x -> intervals approaching from the left slab
    vright: dict = {}               # border x -> intervals from the right slab
    area = 0.0
    for si in range(len(xs) - 1):
        x0, x1 = xs[si], xs[si + 1]
        if x1 <= x0:
            continue
        groups: dict = {}
        for k, ((ex1, ey1, ex2, ey2), is_a) in enumerate(tagged):
            lo, hi = (ex1, ex2) if ex1 < ex2 else (ex2, ex1)
            if lo > x0 or hi < x1 or lo == hi:
                continue  # doesn't cover the slab, or vertical
            s = (ey2 - ey1) / (ex2 - ex1)
            y0 = ey1 + (x0 - ex1) * s
            y1 = ey1 + (x1 - ex1) * s
            g = groups.setdefault((y0, y1), [0, 0, []])
            g[0 if is_a else 1] += 1
            g[2].append(k)
        order = sorted(groups.items(), key=lambda kv: kv[0][0] + kv[0][1])
        in_a = in_b = False
        prev = None  # (y0, y1) of the last group, if status below..above it True
        flips: list = []            # (y0, y1, edge ids, region above) boundary groups
        for (y0, y1), (na, nb, ids) in order:
            below = ind(in_a, in_b)
            if na % 2:
                in_a = not in_a
            if nb % 2:
                in_b = not in_b
            above = ind(in_a, in_b)
            if below != above:
                flips.append((y0, y1, ids, above))
            if below and prev is not None:
                p0, p1 = prev
                area += (x1 - x0) * ((y0 - p0) + (y1 - p1)) / 2.0
                if y0 - p0 > tol:
                    vright.setdefault(x0, []).append((p0, y0))
                if y1 - p1 > tol:
                    vleft.setdefault(x1, []).append((p1, y1))
            prev = (y0, y1) if above else None
        starts: dict = {}
        for f in flips:
            starts[f[0]] = starts.get(f[0], 0) + 1
        next_ends: dict = {}
        for y0, y1, ids, above in flips:
            # direct the piece with the REGION ON ITS LEFT: region above
            # a left-to-right edge is on the left
            end = 1 if above else 0  # a run's endpoint at this x0
            on = set(ids)
            at = ends.get(y0, ())
            run = at[0] if len(at) == 1 and starts[y0] == 1 and at[0][1] == above else None
            if run is not None:
                if on & run[2]:
                    on &= run[2]
                else:
                    fx, fy = edge_pieces[run[0]][1 - end]
                    if (x0 - fx) * (y1 - y0) != (y0 - fy) * (x1 - x0):
                        run = None  # another edge, turning: a real vertex
            if run is not None:
                j = run[0]
                edge_pieces[j][end] = (x1, y1)
            elif above:
                j = len(edge_pieces)
                edge_pieces.append([(x0, y0), (x1, y1)])
            else:
                j = len(edge_pieces)
                edge_pieces.append([(x1, y1), (x0, y0)])
            next_ends.setdefault(y1, []).append((j, above, on))
        ends = next_ends
        if in_a or in_b or prev is not None:
            return None  # open parity: numerically inconsistent slab
    pieces = [np.asarray(p, dtype=np.float64) for p in edge_pieces]
    for x in set(vleft) | set(vright):
        evs: list = []
        for lo, hi in vleft.get(x, []):
            evs.append((lo, 1, 0))
            evs.append((hi, -1, 0))
        for lo, hi in vright.get(x, []):
            evs.append((lo, 0, 1))
            evs.append((hi, 0, -1))
        evs.sort()
        cl = cr = 0
        start = None
        start_left = False
        last = None  # (start, end, left side) of the last piece emitted at x
        for y, dl, dr in evs:
            was = (cl % 2) != (cr % 2)
            cl += dl
            cr += dr
            now = (cl % 2) != (cr % 2)
            if not was and now:
                start, start_left = y, (cl % 2 == 1)
                if last is not None and last[1] == y and last[2] == start_left:
                    # coverage split at a non-boundary edge: same piece
                    start = last[0]
                    pieces.pop()
            elif was and not now and start is not None:
                if y - start > tol:
                    # region-left direction: region on the LEFT slab
                    # side (x-) → upward; on the right → downward
                    p = [(x, start), (x, y)] if start_left else [(x, y), (x, start)]
                    pieces.append(np.asarray(p, dtype=np.float64))
                    last = (start, y, start_left)
                start = None
    if not pieces:
        return [] if abs(area) <= tol else None
    rings = geo.chain_closed_rings(pieces, tol=tol)
    if rings is None:
        # degree-4 junctions (boundaries crossing at a point — e.g. the
        # symmetric difference of any two properly-crossing polygons)
        # are UNAMBIGUOUS for a region boundary: the planar face walk
        # resolves them deterministically
        rings = _trace_faces(pieces, tol)
    if rings is None or not rings:
        return None
    coords = np.concatenate(rings)
    offs = np.concatenate([[0], np.cumsum([len(r) for r in rings])])
    out: list = []
    total = 0.0
    for shell_idx, hole_idxs in geo.multipolygon_parts(coords, offs):
        member = [geo._ccw_ring(rings[shell_idx])] + [
            geo._ccw_ring(rings[h])[::-1] for h in hole_idxs
        ]
        mc = np.concatenate(member)
        mo = np.concatenate([[0], np.cumsum([len(r) for r in member])])
        total += geo.polygon_area_deg2(mc, mo)
        out.append((mc, mo))
    if abs(total - area) > 1e-9 * max(1.0, abs(area)):
        return None  # area identity gate: never a wrong polygon
    return out
