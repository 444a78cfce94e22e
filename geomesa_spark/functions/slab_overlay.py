"""Slab-sweep region kernel: the whole areal path of st_intersection
/ st_union / st_difference / st_symDifference (st_functions._areal_overlay,
via slab_boolean, and the areal part of a GEOMETRYCOLLECTION operand,
st_functions._gc_normalized via slab_union), the whole of st_buffer
(st_functions._buffer_geom, via slab_region) and the DE-9IM matrix of
two (MULTI)POLYGONs behind every relation predicate
(geometry.relate_geoms, via slab_relate, which reads the matrix off the
same slab walk without assembling rings).

Crossing-based kernels (Greiner–Hormann, half-plane clips) must
special-case boundaries that interact degenerately
(partially shared edges, vertex-on-edge chains, checkerboard corners).
This module computes the region by vertical trapezoidal decomposition
instead, which has NO special cases for degeneracy:

1. Cut the plane into vertical slabs at every vertex x plus every
   proper edge-crossing x (crossings within one edge set too: buffer
   capsules cross each other). Inside a slab no two edges cross, so
   the covering edges are totally ordered by their midline y.
2. Walk each slab bottom-up accumulating the WINDING NUMBER of each of
   the two directed edge sets A and B (crossing an edge upward adds +1
   when it runs left to right, −1 otherwise); coincident edge groups
   (shared boundary) add all their members at once. A caller's
   indicator over (wa, wb) marks result trapezoids: slab_boolean takes
   the op (∩, ∪, \\, Δ) over the parities — OGC-valid rings are
   even-odd compatible, so holes need no special handling — and the
   buffer takes wa > 0 (dilation: shell convolution cycles, CW holes,
   capsules and discs) or wa > 0 and wb == 0 (erosion: the polygon
   minus its boundary capsules); slab_union takes wa > 0 over the fill
   rings of a GEOMETRYCOLLECTION's polygon members.
3. The result boundary = edge pieces where the indicator flips across
   an edge (a piece going straight on into the next slab extends, so
   slab cuts add no vertices to straight runs), plus the XOR of
   left/right vertical coverage at each slab border. One planar face
   walk (_trace_faces) joins the pieces into closed rings: it goes
   straight on at a degree-2 junction and takes the next piece
   clockwise at a higher even degree, where boundaries cross. Shells
   and holes recover by containment parity — once, from the rings
   rounded as the WKT writer rounds them (_members) — and the
   assembled area must match the trapezoid-accumulated area exactly
   (1e-9 relative), and after that rounding within the writer's
   rounding bound. Wrong answers are structurally excluded; failure
   modes return None.

The result is areal by construction: lower-dimensional contact (the
shared edge of two touching squares) is invisible here. When an
intersection has no area, the caller returns the line × line overlay of
the operands' rings; a refusal here is the caller's honest null.

Cost: O(E²) vectorized crossing tests, then O(S·W) Python work for S
slabs with W edges active in each (an active-edge list, entered by
left end) — see PLANS.md.
"""

from __future__ import annotations

import bisect

import numpy as np

from geomesa_spark.functions import geometry as geo

# indicators over the two winding numbers' parities
_OPS = {
    "intersection": lambda wa, wb: wa % 2 == 1 and wb % 2 == 1,
    "union": lambda wa, wb: wa % 2 == 1 or wb % 2 == 1,
    "difference": lambda wa, wb: wa % 2 == 1 and wb % 2 == 0,
    "symdifference": lambda wa, wb: wa % 2 != wb % 2,
}

_BLOCK = 256  # edge rows per crossing-test block (bounds the pair arrays' memory)
_TOL = 1e-9  # the face walk's endpoint snap grid; the least vertical piece and empty-result area


def ring_edges(coords: np.ndarray, offs) -> np.ndarray:
    """Directed (x1, y1, x2, y2) edges of the closed rings
    coords[offs[r]:offs[r + 1]], zero-length edges dropped."""
    e = np.hstack([coords[:-1], coords[1:]])
    keep = (e[:, 0] != e[:, 2]) | (e[:, 1] != e[:, 3])
    keep[np.asarray(offs[1:-1], dtype=int) - 1] = False  # joins between rings
    return e[keep]


def crossings(e: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(i, j, x) of every proper crossing (interior to both edges)
    between two edges e[i], e[j], i < j, in the order of the pairs. Two
    edges with a common endpoint do not cross (they meet only there
    unless collinear), whatever the rounding of t and u says."""
    tab = np.empty((len(e), 6))  # per edge: x1, y1, dx, dy, min x, max x
    tab[:, :2] = e[:, :2]
    np.subtract(e[:, 2:], e[:, :2], out=tab[:, 2:4])
    np.minimum(e[:, 0], e[:, 2], out=tab[:, 4])
    np.maximum(e[:, 0], e[:, 2], out=tab[:, 5])
    out = []
    idx = np.arange(len(e))
    for b0 in range(0, len(e), _BLOCK):
        i, j = np.nonzero(idx[b0:b0 + _BLOCK, None] < idx[None, :])
        i = i + b0
        a, b = tab[i], tab[j]
        d = a[:, 2] * b[:, 3] - a[:, 3] * b[:, 2]
        # d == 0: parallel/collinear, the endpoints are already cuts
        m = (d != 0.0) & (a[:, 5] >= b[:, 4]) & (b[:, 5] >= a[:, 4])
        i, j, a, b, d = i[m], j[m], a[m], b[m], d[m]
        qx, qy = b[:, 0] - a[:, 0], b[:, 1] - a[:, 1]
        t = (qx * b[:, 3] - qy * b[:, 2]) / d
        u = (qx * a[:, 3] - qy * a[:, 2]) / d
        ok = (np.minimum(t, u) > 0.0) & (np.maximum(t, u) < 1.0)
        ok[ok] = ~(e[i[ok]].reshape(-1, 2, 1, 2) == e[j[ok]].reshape(-1, 1, 2, 2)).all(axis=3).any(axis=(1, 2))
        out.append((i[ok], j[ok], (a[:, 0] + t * a[:, 2])[ok]))
    if len(out) == 1:
        return out[0]
    if not out:
        return np.empty(0, int), np.empty(0, int), np.empty(0)
    return tuple(np.concatenate(c) for c in zip(*out))


def _trace_faces(pieces: list):
    """Closed rings from DIRECTED boundary segments (region on the
    LEFT of each, known at emission from the indicator flips) with
    even-degree junctions — degree 4 where the operand boundaries
    cross, e.g. every symmetric difference of properly-crossing
    polygons. The planar face walk over the directed edges (next = the
    outgoing edge clockwise-adjacent to the arriving edge's reverse)
    traces exactly the REGION faces: outer boundaries CCW, hole loops
    CW, void faces between regions never (no edge has them on its
    left). Containment parity downstream re-derives shells vs holes.
    Returns None on unbalanced nodes or exact angular ties (ambiguous
    input — honesty over guessing)."""
    snap = geo.endpoint_snapper(_TOL)
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
    order: dict = {}  # node with several outgoing edges -> [(angle, edge)] CCW
    for node, ids in out_at.items():
        if in_deg.get(node, 0) != len(ids):
            return None  # boundary of a region alternates in/out
        if len(ids) == 1:
            continue  # degree 2: the walk goes straight on, no angles needed
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
            ids = out_at.get(head)
            if not ids:
                return None
            if len(ids) == 1:
                nxt = ids[0]
            else:
                # outgoing edge immediately CLOCKWISE of the arriving
                # edge's reverse in CCW order
                back = np.arctan2(tail[1] - head[1], tail[0] - head[0])
                angs = order[head]
                idx = len(angs) - 1
                for k, (th, _i) in enumerate(angs):
                    if th >= back:
                        idx = k - 1
                        break
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


def slab_region(ea: np.ndarray, eb: np.ndarray, ind):
    """The region where ``ind(wa, wb)`` holds, wa and wb being the
    winding numbers of the directed edge sets ``ea`` and ``eb`` (n×4
    arrays of x1, y1, x2, y2 from closed rings), by trapezoidal sweep.
    Returns a list of (coords, ring_offsets) members (possibly empty),
    or None when ring assembly or the area identity fails."""
    c = _cuts(ea, eb)
    return None if c is None else _sweep(ea, eb, c[2], ind)


def _cuts(ea: np.ndarray, eb: np.ndarray):
    """crossings() of the edges of both sets, or None when a coordinate
    is not finite or lies beyond the range of the endpoint snap grid
    (x / _TOL overflows)."""
    e = np.concatenate([ea, eb])
    return crossings(e) if np.abs(e).max(initial=0.0) < np.finfo(np.float64).max * _TOL else None


def _slabs(ea: np.ndarray, eb: np.ndarray, cuts: np.ndarray):
    """The one slab walk of the sweep's consumers (_sweep, slab_relate):
    for each slab between consecutive cuts — every endpoint x of the
    edges of both sets plus the x of every crossing between them
    (``cuts``) — yield (x0, x1, groups), the edges spanning the slab
    grouped by their (y at x0, y at x1) and ordered by midline, each
    group ((y0, y1), [A winding step, B winding step, edge ids]); edge
    ids below len(ea) are A's."""
    e = np.concatenate([ea, eb])
    xs = sorted(
        set(
            ea[:, 0].tolist() + ea[:, 2].tolist() + eb[:, 0].tolist() + eb[:, 2].tolist()
            + cuts.tolist()
        )
    )
    # active-edge list, kept in edge order (so ties in the midline sort
    # below stay fixed): non-vertical edges enter in order of their left
    # end and leave once they end left of the slab
    rows = e.tolist()
    lo = np.minimum(e[:, 0], e[:, 2]).tolist()
    hi = np.maximum(e[:, 0], e[:, 2]).tolist()
    entering = sorted((k for k in range(len(rows)) if lo[k] != hi[k]), key=lo.__getitem__)
    na = len(ea)
    nxt = 0
    active: list = []
    for x0, x1 in zip(xs, xs[1:]):
        while nxt < len(entering) and lo[entering[nxt]] <= x0:
            bisect.insort(active, entering[nxt])
            nxt += 1
        active = [k for k in active if hi[k] >= x1]
        groups: dict = {}
        for k in active:
            ex1, ey1, ex2, ey2 = rows[k]
            s = (ey2 - ey1) / (ex2 - ex1)
            y0 = ey1 + (x0 - ex1) * s
            y1 = ey1 + (x1 - ex1) * s
            g = groups.setdefault((y0, y1), [0, 0, []])
            # crossing the edge upward enters the ring's left side when
            # the edge runs left to right
            g[0 if k < na else 1] += 1 if ex2 > ex1 else -1
            g[2].append(k)
        yield x0, x1, sorted(groups.items(), key=lambda kv: kv[0][0] + kv[0][1])


def _sweep(ea: np.ndarray, eb: np.ndarray, cuts: np.ndarray, ind):
    """slab_region with the x of every crossing between its edges
    (``cuts``) given."""
    edge_pieces: list = []          # [tail, head] result boundary on edges
    # a boundary piece that goes straight on from the previous slab's
    # piece in the same direction — along an edge the whole piece lies
    # on, or exactly collinear with it — extends that piece instead of
    # starting a new one, so slab cuts and collinear edge joins leave no
    # vertices on straight runs. Only a joint no other boundary piece
    # meets is joined: the face walk needs every piece split where
    # boundaries touch. Along a shared edge the joint is computed from
    # that edge on both sides, so the join is exact; with the region on
    # the same side before and after the joint no vertical piece ends
    # there
    ends: dict = {}                 # y at x0 -> [(piece index, region above, edges it lies on)]
    vleft: dict = {}                # border x -> intervals approaching from the left slab
    vright: dict = {}               # border x -> intervals from the right slab
    area = 0.0
    for x0, x1, order in _slabs(ea, eb, cuts):
        wa = wb = 0
        above = ind(wa, wb)
        prev = None  # (y0, y1) of the last group, if status below..above it True
        flips: list = []            # (y0, y1, edge ids, region above) boundary groups
        for (y0, y1), (da, db, ids) in order:
            below = above
            wa += da
            wb += db
            above = ind(wa, wb)
            if below != above:
                flips.append((y0, y1, ids, above))
            if below and prev is not None:
                p0, p1 = prev
                area += (x1 - x0) * ((y0 - p0) + (y1 - p1)) / 2.0
                if y0 - p0 > _TOL:
                    vright.setdefault(x0, []).append((p0, y0))
                if y1 - p1 > _TOL:
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
        if wa or wb or prev is not None:
            return None  # open winding: numerically inconsistent slab
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
                if y - start > _TOL:
                    # region-left direction: region on the LEFT slab
                    # side (x-) → upward; on the right → downward
                    p = [(x, start), (x, y)] if start_left else [(x, y), (x, start)]
                    pieces.append(np.asarray(p, dtype=np.float64))
                    last = (start, y, start_left)
                start = None
    if not pieces:
        return [] if abs(area) <= _TOL else None
    rings = _trace_faces(pieces)
    return None if rings is None else _members(rings, area)


def _members(rings: list, area: float):
    """The sweep's rings grouped ONCE into members (shell CCW, holes
    CW), as a consumer of the written WKT groups them.

    The %.10g WKT writer rounds coordinates ~1e-10-relative. That is
    normally invisible, but a sliver ring sitting exactly on another
    ring's boundary can flip its containment depth under that rounding
    (observed: a 0.02-area island inside a hole re-reading as a hole of
    the outer shell, silently subtracting twice). So the rings are
    rounded to the writer's values first (read back from the writer's
    own text, geo.wkt_coords) and grouped by containment
    depth from those: the WKT (the same text whether written from the
    rounded or the unrounded coordinates) parses back to exactly these
    rings, so a consumer re-derives exactly this grouping. Two area
    identities then gate it:
    - the unrounded rings under that grouping give the sweep's
      trapezoid area to 1e-9 relative;
    - the rounded rings move that area only by the writer's own
      rounding bound: each coordinate moves at most 5e-10·max|coord|,
      which moves a ring's area by at most its perimeter times that
      (times √2 for the two axes).
    Returns the members with their unrounded coordinates, or None when
    either identity fails (never a wrong polygon)."""
    coords = np.concatenate(rings)
    offs = np.concatenate([[0], np.cumsum([len(r) for r in rings])])
    written = np.asarray(geo.wkt_coords(coords).replace(",", "").split(), dtype=np.float64).reshape(coords.shape)
    signed, _ = _ring_sums(coords, offs)
    signed_w, length_w = _ring_sums(written, offs)
    out: list = []
    total = rounded = perimeter = 0.0
    for shell_idx, hole_idxs in geo.multipolygon_parts(written, offs):
        ids = [shell_idx] + hole_idxs
        member = [rings[i] if (signed[i] >= 0) == (i == shell_idx) else rings[i][::-1] for i in ids]
        out.append((np.concatenate(member), np.cumsum([0] + [len(r) for r in member])))
        total += abs(signed[shell_idx]) - sum(abs(signed[h]) for h in hole_idxs)
        rounded += abs(signed_w[shell_idx]) - sum(abs(signed_w[h]) for h in hole_idxs)
        perimeter += sum(length_w[i] for i in ids)
    if not abs(total - area) <= 1e-9 * max(1.0, abs(area)):
        return None  # area identity gate (NaN fails it): never a wrong polygon
    bound = 1e-9 * max(1.0, abs(total)) + perimeter * np.sqrt(2.0) * 5e-10 * np.abs(written).max()
    if not abs(rounded - total) <= bound:
        return None  # the writer's rounding moved the area past its own bound
    return out


def _ring_sums(c: np.ndarray, offs: np.ndarray) -> tuple[list, list]:
    """(signed shoelace area, perimeter) of each closed ring
    c[offs[i]:offs[i + 1]]."""
    d = c[1:] - c[:-1]
    cross = c[:-1, 0] * c[1:, 1] - c[1:, 0] * c[:-1, 1]
    length = np.hypot(d[:, 0], d[:, 1])
    cross[offs[1:-1] - 1] = length[offs[1:-1] - 1] = 0.0  # joins between rings
    return (0.5 * np.add.reduceat(cross, offs[:-1])).tolist(), np.add.reduceat(length, offs[:-1]).tolist()


def slab_union(members: list):
    """Union of polygons, each given as its rings for a winding-count
    fill (shell CCW, holes CW): the region where the winding over all
    rings is positive, in one sweep. Overlapping members and a member
    nested in another's hole need no special case. Returns its members,
    or None when one member's own edges cross properly (an invalid
    polygon, as slab_boolean refuses an operand) or the sweep refuses."""
    es = [ring_edges(np.concatenate(rings), np.cumsum([0] + [len(r) for r in rings])) for rings in members]
    e = np.concatenate(es)
    owner = np.repeat(np.arange(len(es)), [len(x) for x in es])
    c = _cuts(e, e[:0])
    if c is None or (owner[c[0]] == owner[c[1]]).any():
        return None
    return _sweep(e, e[:0], c[2], lambda w, _w: w > 0)


def _pair_cuts(ea: np.ndarray, eb: np.ndarray):
    """_cuts of two operands' edges, or None when one operand's own
    edges cross properly (a self-crossing ring is an invalid polygon)."""
    c = _cuts(ea, eb)
    if c is None or ((c[0] < len(ea)) == (c[1] < len(ea))).any():
        return None
    return c


def slab_boolean(ga, gb, op: str):
    """Boolean ``op`` of two areal geometries: the even-odd region of
    slab_region. Returns its members, or None when an operand has no
    edges or its own edges cross properly, or the sweep refuses."""
    ea = ring_edges(ga[1], ga[2])
    eb = ring_edges(gb[1], gb[2])
    if not len(ea) or not len(eb):
        return None
    c = _pair_cuts(ea, eb)
    return None if c is None else _sweep(ea, eb, c[2], _OPS[op])


# DE-9IM cell (index into II IB IE BI BB BE EI EB) of a trapezoid by its
# (A, B) parities, and the dimension of each cell when it is not empty
_AREA_CELL = {(1, 1): 0, (1, 0): 2, (0, 1): 6}
_CELL_DIM = "21211121"


def slab_relate(ga, gb) -> str | None:
    """The DE-9IM matrix of two areal geometries from one slab walk
    (_slabs), without ring assembly. Each edge group of a slab lies on
    ∂A, ∂B or both, by the edge ids it holds (not by the net winding:
    coincident edges of opposite direction cancel there), and the even-odd
    parities of A and B below and above it follow from the counts of
    those ids:
    - II, IE, EI are '2' when a trapezoid between two groups has area
      with parities (odd, odd), (odd, even), (even, odd);
    - BB is '1' when a group, or a vertical piece, holds edges of both;
      otherwise '0' when the boundaries cross or touch
      (geo.segment_contact_matrices), else 'F';
    - BI / BE are '1' when a group of A's edges alone lies where B's
      parity is odd / even, and IB / EB likewise for B's edges in A;
      a vertical edge is split at the other operand's boundary points
      on its border and each piece classified by the other's parity in
      the adjacent slab (_vertical_cells).
    Returns the 9-character matrix, or None when an operand's own edges
    cross properly or a slab's parities do not close (numerically
    inconsistent)."""
    ea = ring_edges(ga[1], ga[2])
    eb = ring_edges(gb[1], gb[2])
    c = _pair_cuts(ea, eb)
    if c is None:
        return None
    na = len(ea)
    e = np.concatenate([ea, eb])
    vert: dict = {}  # border x -> [(y low, y high, is B's)] vertical edges
    for k in np.flatnonzero(e[:, 0] == e[:, 2]).tolist():
        vert.setdefault(e[k, 0], []).append((min(e[k, 1], e[k, 3]), max(e[k, 1], e[k, 3]), k >= na))
    cells: set = set()
    left: dict = {}  # border x -> [(y, A edges, B edges)] of the groups of the slab left of it
    right: dict = {}  # ... of the slab right of it
    for x0, x1, order in _slabs(ea, eb, c[2]):
        pa = pb = 0
        p0 = p1 = 0.0
        for (y0, y1), (_da, _db, ids) in order:
            ka = bisect.bisect_left(ids, na)  # ids ascend: A's come first
            kb = len(ids) - ka
            if (pa or pb) and (y0 - p0) + (y1 - p1) > 0.0:
                cells.add(_AREA_CELL[pa, pb])
            cells.add(4 if ka and kb else (3 if pb else 5) if ka else (1 if pa else 7))
            if x0 in vert:
                right.setdefault(x0, []).append((y0, ka, kb))
            if x1 in vert:
                left.setdefault(x1, []).append((y1, ka, kb))
            pa ^= ka & 1
            pb ^= kb & 1
            p0, p1 = y0, y1
        if pa or pb:
            return None
    for x, vs in vert.items():
        _vertical_cells(vs, left.get(x), right.get(x, ()), cells)
    m = [_CELL_DIM[i] if i in cells else "F" for i in range(8)]
    if m[4] == "F" and (len(c[0]) or geo.segment_contact_matrices(ea.T, eb.T)[1].any()):
        m[4] = "0"
    return "".join(m) + "2"


def _vertical_cells(vs: list, left, right, cells: set) -> None:
    """Add the cells of the vertical edges ``vs`` [(y low, y high, is
    B's)] at one border: each is split at the other operand's boundary
    points on the border (its group ends from the ``left`` and ``right``
    slabs, [(y, A edges, B edges)], and its vertical edge ends), and a
    piece lies on the other's vertical edge (BB), or inside or outside
    the other by its parity in the left slab (the right one at the
    leftmost border)."""
    side = left if left is not None else right
    for lo, hi, is_b in vs:
        o = 1 if is_b else 2  # the other operand's count in a group tuple
        on = [(u, v) for u, v, ob in vs if ob != is_b]
        ys = {g[0] for g in (left or ()) if g[o]} | {g[0] for g in right if g[o]}
        ys.update(y for u, v in on for y in (u, v))
        ys = sorted({lo, hi} | {y for y in ys if lo < y < hi})
        for u, v in zip(ys, ys[1:]):
            if any(a <= u and v <= b for a, b in on):
                cells.add(4)
            elif sum(g[o] for g in side if g[0] <= u) % 2:
                cells.add(1 if is_b else 3)
            else:
                cells.add(7 if is_b else 5)
