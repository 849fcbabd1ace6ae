"""Independent re-derivations for the graph-signal and geo families —
same contract as test_stats_reference: plain pandas/python recomputes
each statistic FROM THE RAW PARQUET with different code (explicit
adjacency sets, queue BFS, brute-force triangle enumeration), so a
wrong shared formulation cannot pass both the oracle gate and these.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_SMOKE
from ukis_kafka_spark import api


def _rows(spark, name):
    return api.queries()[name](spark, SF_SMOKE).collect()


@pytest.fixture(scope="module")
def edges_ref():
    """The co-order graph re-derived in pandas: distinct id-oriented
    (src < dst) part pairs sharing an order."""
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    pairs = set()
    for _, grp in li.groupby("l_orderkey")["l_partkey"]:
        ps = sorted(set(grp))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pairs.add((ps[i], ps[j]))
    return pairs


@pytest.fixture(scope="module")
def adj_ref(edges_ref):
    adj: dict[int, set[int]] = {}
    for u, v in edges_ref:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    return adj


def test_graph_degree_reference(spark, adj_ref):
    rows = _rows(spark, "m_graph_degree")
    by_deg: dict[int, list[int]] = {}
    for node, nbrs in adj_ref.items():
        by_deg.setdefault(len(nbrs), []).append(node)
    assert {r["degree"]: (r["n_nodes"], r["sample_node"]) for r in rows} == {
        d: (len(ns), min(ns)) for d, ns in by_deg.items()
    }


def test_graph_bfs_reference(spark, adj_ref):
    """Queue BFS from the p_size=1 seed set, 3 hops, min distance."""
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet", columns=["p_partkey", "p_size"])
    seeds = set(part.loc[part.p_size == 1, "p_partkey"])
    dist = {s: 0 for s in seeds}
    frontier = seeds
    for k in range(1, 4):
        nxt = set()
        for u in frontier:
            nxt |= adj_ref.get(u, set())
        for v in nxt:
            dist.setdefault(v, k)
        frontier = nxt  # the query re-expands the FULL reachable set;
        # min-reduce makes that equivalent to classic frontier BFS
    got = {r["node"]: r["dist"] for r in _rows(spark, "m_graph_bfs")}
    assert got == dist


def test_graph_kcore_reference(spark, adj_ref, edges_ref):
    """3 peel rounds at k=90, replicated with explicit edge sets."""
    rows = {r["round"]: r for r in _rows(spark, "m_graph_kcore")}
    sym = {(u, v) for u, v in edges_ref} | {(v, u) for u, v in edges_ref}
    for rnd in range(1, 4):
        deg: dict[int, int] = {}
        for u, _ in sym:
            deg[u] = deg.get(u, 0) + 1
        alive = {u for u, d in deg.items() if d >= 90}
        sym = {(u, v) for u, v in sym if u in alive and v in alive}
        assert rows[rnd]["n_alive"] == len(alive)
        assert rows[rnd]["n_edges"] == len(sym) // 2
    assert set(rows) == {1, 2, 3}


def test_graph_triangles_reference(spark, adj_ref, edges_ref):
    """Per-node triangle membership by brute-force edge+common-neighbor
    enumeration; the emitted top-20 under (n_tri desc, node asc) must
    match exactly."""
    counts: dict[int, int] = {}
    for u, v in edges_ref:
        for w in adj_ref[u] & adj_ref[v]:
            if w > v:  # each triangle u<v<w counted once
                for x in (u, v, w):
                    counts[x] = counts.get(x, 0) + 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r["node"], r["n_tri"]) for r in _rows(spark, "m_graph_triangles")]
    assert got == top


def test_graph_assortativity_reference(spark, adj_ref, edges_ref):
    """Whatever exact integer statistics the operator emits must be
    consistent with the textbook degree-degree correlation: assemble r
    from them and compare against a float computation over the raw
    degree pairs (both edge directions, the standard convention)."""
    rows = _rows(spark, "m_graph_assortativity")
    deg = {u: len(ns) for u, ns in adj_ref.items()}
    xs, ys = [], []
    for u, v in edges_ref:
        xs += [deg[u], deg[v]]
        ys += [deg[v], deg[u]]
    xs, ys = np.array(xs, dtype=np.float64), np.array(ys, dtype=np.float64)
    ref = np.corrcoef(xs, ys)[0, 1]
    (row,) = rows
    # emitted: m2 = directed edge count, sum_prod = Σ d_s·d_d,
    # sum_sum = Σ(d_s + d_d), sum_sq = Σ(d_s² + d_d²).  Over the
    # symmetric pair population Σx = Σy = sum_sum/2, Σx² = sum_sq/2.
    m, sxy = row["m2"], row["sum_prod"]
    sx, sxx = row["sum_sum"] / 2.0, row["sum_sq"] / 2.0
    num = m * sxy - sx * sx
    den = m * sxx - sx * sx
    assert abs(num / den - ref) < 1e-9


def test_haversine_reference(spark):
    """Great-circle distances recomputed with python math; agreement
    within half a 4-dp grid step (the operator rounds to 4 dp)."""
    events = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    p = events[events.event_type == "purchase"]
    got = {r["event_id"]: r["dist_berlin_km"] for r in _rows(spark, "g_haversine")}
    assert len(got) == len(p)
    for _, row in p.iterrows():
        lon = row["value"] * 3.6 - 180
        lat = (row["user_id"] * 7 % 180) - 90
        la1, la2 = math.radians(lat), math.radians(52.52)
        dla = math.radians(lat - 52.52)
        dlo = math.radians(lon - 13.405)
        a = math.sin(dla / 2) ** 2 + math.cos(la1) * math.cos(la2) * math.sin(dlo / 2) ** 2
        d = 2 * 6371.0088 * math.asin(math.sqrt(a))
        assert abs(got[row["event_id"]] - d) <= 5.1e-5


def test_cosine_topk_reference(spark):
    """The exact-by-spec top-20 cosine pairs recomputed by a full
    numpy all-pairs GEMM with the replicated 6 dp HALF_UP grid and id
    tiebreaks — the blocked/pruned kernel must select identically."""
    from decimal import ROUND_HALF_UP, Decimal

    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet").sort_values("vec_id")
    ids = emb.vec_id.to_numpy()
    M = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    nrm = np.sqrt((M * M).sum(axis=1))
    cos = (M @ M.T) / np.outer(nrm, nrm)
    cand = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            r = float(Decimal(repr(cos[i, j])).quantize(Decimal("1e-6"), ROUND_HALF_UP))
            cand.append((-r, int(ids[i]), int(ids[j])))
    cand.sort()
    expect = [(a, b, -negr) for negr, a, b in cand[:20]]
    got = [(r["id_a"], r["id_b"], r["cos_sim"]) for r in _rows(spark, "m_cosine_topk")]
    assert got == expect


def test_track_length_reference(spark):
    """Per-user haversine track length: python loop over the ordered
    timeline, each hop on the replicated HALF_UP 4-dp grid, then the
    exact-decimal sum compared within its lattice budget."""
    from decimal import ROUND_HALF_UP, Decimal

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet").sort_values("event_id")
    got = {r["user_id"]: r for r in _rows(spark, "g_track_length")}
    for uid, grp in ev.groupby("user_id"):
        lons = (grp["value"] * 3.6 - 180).to_numpy()
        lats = ((grp["user_id"] * 7 % 180) - 90).to_numpy()
        hops = []
        for i in range(1, len(grp)):
            la1, la2 = math.radians(lats[i - 1]), math.radians(lats[i])
            a = (
                math.sin(math.radians(lats[i] - lats[i - 1]) / 2) ** 2
                + math.cos(la1) * math.cos(la2)
                * math.sin(math.radians(lons[i] - lons[i - 1]) / 2) ** 2
            )
            d = 2 * 6371.0088 * math.asin(math.sqrt(a))
            hops.append(float(Decimal(repr(d)).quantize(Decimal("1e-4"), ROUND_HALF_UP)))
        if not hops:
            assert uid not in got
            continue
        g = got[uid]
        assert g["n_hops"] == len(hops)
        assert abs(g["track_km"] - sum(hops)) < 1e-6
    assert len(got) == sum(1 for _, g in ev.groupby("user_id") if len(g) > 1)


def test_track_area_reference(spark):
    """Shoelace area on the 1e-4-degree integer grid, closed loop, as
    a python big-int sum; plus the translation-invariance identity and
    the NON-degeneracy guard the round-5 audit added (per-user rings
    were silently zero: constant per-user latitude telescopes the
    cross sum — the operator now rings each event stream instead)."""
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet").sort_values("event_id")
    got = {r["event_type"]: r for r in _rows(spark, "g_track_area")}
    for etype, grp in ev.groupby("event_type"):
        xs = [int(math.floor((v * 3.6 - 180) * 10000)) for v in grp["value"]]
        ys = [int(math.floor(((u * 7 % 180) - 90) * 10000)) for u in grp["user_id"]]
        n = len(xs)
        s = sum(xs[i] * ys[(i + 1) % n] - xs[(i + 1) % n] * ys[i] for i in range(n))
        g = got[etype]
        assert g["n_pts"] == n
        assert g["area2_signed"] == s and g["area2_abs"] == abs(s)
        assert s != 0  # the ring is non-degenerate
        # shoelace is translation-invariant: shifting the grid origin
        # must not change the signed area
        xs2 = [x + 12345 for x in xs]
        s2 = sum(xs2[i] * ys[(i + 1) % n] - xs2[(i + 1) % n] * ys[i] for i in range(n))
        assert s2 == s


def test_geohash_reference(spark):
    """Geohash re-encoded with an independent textbook implementation
    (successive interval halving, not bit interleave arithmetic)."""
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    got = {r["event_id"]: r["geohash"] for r in _rows(spark, "g_geohash")}
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"

    def encode(lon, lat, n_chars=6):
        lo = [-180.0, -90.0]
        hi = [180.0, 90.0]
        bits, out, axis = [], [], 0  # even bit = lon
        while len(out) < n_chars:
            mid = (lo[axis] + hi[axis]) / 2
            if (lon if axis == 0 else lat) >= mid:
                bits.append(1)
                lo[axis] = mid
            else:
                bits.append(0)
                hi[axis] = mid
            axis ^= 1
            if len(bits) == 5:
                out.append(b32[int("".join(map(str, bits)), 2)])
                bits = []
        return "".join(out)

    mismatch = 0
    for r in ev.itertuples():
        lon = r.value * 3.6 - 180
        lat = (r.user_id * 7 % 180) - 90
        if got[r.event_id] != encode(lon, lat):
            mismatch += 1
    # the operator's 15-bit-per-axis grid floor and the interval
    # halving can disagree only when a coordinate sits within one
    # float ulp of a cell boundary; on this corpus they must agree
    # everywhere
    assert mismatch == 0


def test_link_predict_reference(spark, adj_ref, edges_ref):
    """Common-neighbor link scores by explicit wedge enumeration with
    the degree-64 center cap; the emitted top-20 non-adjacent pairs
    must match exactly."""
    deg = {u: len(ns) for u, ns in adj_ref.items()}
    common: dict[tuple, int] = {}
    for center, nbrs in adj_ref.items():
        if deg[center] > 64:  # _LINK_CENTER_CAP
            continue
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                common[(ns[i], ns[j])] = common.get((ns[i], ns[j]), 0) + 1
    cand = [
        (-c, a, b, deg[a] + deg[b] - c)
        for (a, b), c in common.items()
        if (a, b) not in edges_ref
    ]
    cand.sort()
    expect = [(a, b, -negc, u) for negc, a, b, u in cand[:20]]
    got = [
        (r["a"], r["b"], r["common"], r["union_size"])
        for r in _rows(spark, "m_link_predict")
    ]
    assert got == expect


def test_churn_labels_reference(spark):
    """Forward-looking purchase-churn labels replayed with python
    sets; the final (unknowable-label) week must be absent — the peek
    guard — and the label must fire at least once (the any-activity
    variant never did)."""
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev["ts"] = pd.to_datetime(ev["ts"]).astype("datetime64[ns]")
    wk = (ev["ts"].dt.floor("d").astype("int64") // 10**9 // 604800)
    active: dict[tuple, int] = {}
    purch = set()
    for uid, w, et in zip(ev["user_id"], wk, ev["event_type"]):
        active[(uid, int(w))] = active.get((uid, int(w)), 0) + 1
        if et == "purchase":
            purch.add((uid, int(w)))
    max_wk = max(w for _, w in active)
    expect = {
        (u, w): (n, 0 if (u, w + 1) in purch else 1)
        for (u, w), n in active.items()
        if w < max_wk
    }
    got = {
        (r["user_id"], r["wk"]): (r["n_events"], r["churned_next_week"])
        for r in _rows(spark, "m_churn_labels")
    }
    assert got == expect
    assert all(w < max_wk for _, w in got)
    assert any(c for _, c in expect.values())  # the label fires


def test_record_linkage_reference(spark):
    """Numeric-tolerance duplicate-suspect pairs replayed with an
    explicit per-customer scan."""
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    orders["day_num"] = (
        pd.to_datetime(orders["o_orderdate"]).astype("datetime64[ns]").astype("int64")
        // 10**9 // 86400
    )
    orders["pc"] = (orders["o_totalprice"] * 100).apply(math.floor).astype("int64")
    expect = {}
    for _, grp in orders.groupby("o_custkey"):
        rows = list(grp.itertuples())
        for i in range(len(rows)):
            for j in range(len(rows)):
                a, b = rows[i], rows[j]
                if b.o_orderkey > a.o_orderkey and abs(b.day_num - a.day_num) <= 1:
                    expect[(a.o_orderkey, b.o_orderkey)] = (
                        abs(a.day_num - b.day_num),
                        abs(a.pc - b.pc),
                        1 if abs(a.pc - b.pc) <= 2_000_000 else 0,
                    )
    got = {
        (r["id_a"], r["id_b"]): (r["day_gap"], r["price_gap_centi"], r["suspect"])
        for r in _rows(spark, "m_record_linkage_numeric")
    }
    assert got == expect


def test_grid_agg_reference(spark):
    """5-degree cell binning replayed with python floor arithmetic."""
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    agg: dict[tuple, list] = {}
    for r in ev.itertuples():
        cx = int(math.floor((r.value * 3.6 - 180 + 180) / 5))
        cy = int((r.user_id * 7 % 180 - 90 + 90) // 5)
        agg.setdefault((cx, cy), [0, 0.0])[0] += 1
        agg[(cx, cy)][1] += r.value
    got = {
        (r["cell_x"], r["cell_y"]): (r["n_points"], r["sum_value"])
        for r in _rows(spark, "g_grid_agg")
    }
    assert set(got) == set(agg)
    for k, (n, s) in agg.items():
        assert got[k][0] == n
        assert abs(got[k][1] - s) < 1e-6
    # latitude derives from user_id mod 180, so cell_y is bounded by
    # the 36-cell grid; longitude is value-driven and unbounded above
    assert all(0 <= y < 36 for _, y in got)


def test_bearing_and_rose_reference(spark):
    """Initial bearings via python math.atan2 (half-grid agreement)
    and the 8-sector rose recomputed from those bearings — the rose
    totals must also partition the purchase count."""
    from decimal import ROUND_HALF_UP, Decimal

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    p = ev[ev.event_type == "purchase"]
    got_b = {r["event_id"]: r["bearing_deg"] for r in _rows(spark, "g_bearing")}
    sectors: dict[int, list] = {}
    for r in p.itertuples():
        lon = r.value * 3.6 - 180
        lat = (r.user_id * 7 % 180) - 90
        dlon = math.radians(13.405 - lon)
        la1, la2 = math.radians(lat), math.radians(52.52)
        y = math.sin(dlon) * math.cos(la2)
        x = math.cos(la1) * math.sin(la2) - math.sin(la1) * math.cos(la2) * math.cos(dlon)
        b = math.degrees(math.atan2(y, x))
        assert abs(got_b[r.event_id] - b) <= 5.1e-5
        grid_b = float(Decimal(repr(b)).quantize(Decimal("1e-4"), ROUND_HALF_UP)) + 0.0
        sec = int(math.floor(((grid_b + 360.0) % 360.0) / 45.0))
        sectors.setdefault(sec, [0, set()])[0] += 1
        sectors[sec][1].add(r.user_id)
    got_r = {r["sector"]: (r["n"], r["n_users"]) for r in _rows(spark, "g_rose_histogram")}
    assert got_r == {s: (n, len(us)) for s, (n, us) in sectors.items()}
    assert sum(n for n, _ in got_r.values()) == len(p)
    assert set(got_r) <= set(range(8))


def test_hex_bin_reference(spark):
    """Hex binning re-derived with the textbook float cube-round in
    plain python (round half toward +inf via floor(v+0.5), largest-
    diff fix) — cell assignment, counts, distinct users and first ids
    must all match, and every cell must satisfy the cube invariant
    q + (-q-r) + r = 0 trivially plus mass conservation."""
    import math

    pdf = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    cells = {}
    for r in pdf.itertuples():
        x = r.value * 3.6 - 180
        y = float((r.user_id * 7 % 180) - 90)
        xf = (math.sqrt(3.0) / 3.0 * x - y / 3.0) / 3.0
        zf = (2.0 / 3.0 * y) / 3.0
        yf = -xf - zf
        rx, ry, rz = (math.floor(v + 0.5) for v in (xf, yf, zf))
        dx, dy, dz = abs(rx - xf), abs(ry - yf), abs(rz - zf)
        if dx > dy and dx > dz:
            rx = -ry - rz
        elif not (dy > dz):
            rz = -rx - ry
        key = (int(rx), int(rz))
        c = cells.setdefault(key, [0, set(), None])
        c[0] += 1
        c[1].add(int(r.user_id))
        c[2] = int(r.event_id) if c[2] is None else min(c[2], int(r.event_id))
    got = {
        (r.hq, r.hr): (r.n, r.n_users, r.first_id)
        for r in _rows(spark, "g_hex_bin")
    }
    exp = {k: (v[0], len(v[1]), v[2]) for k, v in cells.items()}
    assert got == exp
    assert sum(v[0] for v in exp.values()) == len(pdf)  # mass conserved


def test_zorder_key_reference(spark):
    """Z-order keys re-derived with python's bit-interleave over the
    textbook cell math: 16-bit cells from lon/lat, odd/even bit lanes."""

    def interleave(cx: int, cy: int) -> int:
        z = 0
        for i in range(16):
            z |= ((cx >> i) & 1) << (2 * i)
            z |= ((cy >> i) & 1) << (2 * i + 1)
        return z

    pdf = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    exp = {}
    for r in pdf.itertuples():
        lon = r.value * 3.6 - 180
        lat = float((r.user_id * 7 % 180) - 90)
        cx = min(int(math.floor((lon + 180.0) / 360.0 * 65536.0)), 65535)
        cy = min(int(math.floor((lat + 90.0) / 180.0 * 65536.0)), 65535)
        exp[int(r.event_id)] = (cx, cy, interleave(cx, cy))
    got = {
        r.event_id: (r.cx, r.cy, r.zkey) for r in _rows(spark, "g_zorder_key")
    }
    assert got == exp
    # the locality property z-order exists for: equal keys <=> equal cells
    inv = {}
    for eid, (cx, cy, z) in exp.items():
        assert inv.setdefault(z, (cx, cy)) == (cx, cy)


def test_reproject_mercator_reference(spark):
    """Web-Mercator reprojection re-derived with python math: both
    engines share the textbook spherical formula, so this is the
    independent check that the formula IS Snyder's — plus the exact
    round-trip identity against g_reproject_inverse's machinery:
    lat(y(lat)) == lat to within the cm grid."""
    pdf = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    got = {r.event_id: (r.mercator_x, r.mercator_y) for r in _rows(spark, "g_reproject")}
    R = 6378137.0
    n_checked = 0
    for r in pdf.itertuples():
        lon = r.value * 3.6 - 180
        lat = float((r.user_id * 7 % 180) - 90)
        if not (-85 <= lat <= 85):
            assert int(r.event_id) not in got
            continue
        x = R * math.radians(lon)
        y = R * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))
        gx, gy = got[int(r.event_id)]
        # engines round on their own libm bits; python's libm may be a
        # third — compare within one 2 dp grid step, and bit-exact on
        # the x axis (radians/multiply are exact-input IEEE ops)
        assert abs(gx - round(x, 2)) <= 0.011
        assert abs(gy - round(y, 2)) <= 0.011
        # round-trip: invert the emitted y and recover lat to ~cm scale
        lat_rt = math.degrees(2 * (math.atan(math.exp(gy / R)) - math.pi / 4))
        assert abs(lat_rt - lat) < 1e-6
        n_checked += 1
    assert n_checked == len(got)


def test_reproject_epsg_reference(spark):
    """Multi-SRID reprojection re-derived with an INDEPENDENT Snyder
    implementation: my own transverse-Mercator (eq. 8-5/8-6) and
    Lambert-conformal-conic (eq. 15-1..15-4) code, constants recomputed
    from first principles rather than imported — routing, easting and
    northing must agree within one cm-grid step for every point."""
    R = 6378137.0
    k0 = 0.9996

    def tm(lon, lat, lon0):
        B = math.cos(math.radians(lat)) * math.sin(math.radians(lon - lon0))
        x = 500000.0 + k0 * R * 0.5 * math.log((1 + B) / (1 - B))
        y = k0 * R * math.atan2(
            math.tan(math.radians(lat)), math.cos(math.radians(lon - lon0))
        )
        return x, y

    sp1, sp2 = math.radians(35.0), math.radians(65.0)
    lat0, lon0_lcc = math.radians(52.0), 10.0
    n = math.log(math.cos(sp1) / math.cos(sp2)) / math.log(
        math.tan(math.pi / 4 + sp2 / 2) / math.tan(math.pi / 4 + sp1 / 2)
    )
    rf = R * math.cos(sp1) * math.tan(math.pi / 4 + sp1 / 2) ** n / n
    rho0 = rf / math.tan(math.pi / 4 + lat0 / 2) ** n

    def lcc(lon, lat):
        rho = rf / math.tan(math.pi / 4 + math.radians(lat) / 2) ** n
        th = n * math.radians(lon - lon0_lcc)
        return rho * math.sin(th), rho0 - rho * math.cos(th)

    pdf = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    got = {
        r.event_id: (r.epsg, r.easting, r.northing)
        for r in _rows(spark, "g_reproject_epsg")
    }
    n_checked = 0
    for r in pdf.itertuples():
        lon = r.value * 3.6 - 180
        lat = float((r.user_id * 7 % 180) - 90)
        if not (-80 <= lat <= 84):
            assert int(r.event_id) not in got
            continue
        if 6 <= lon < 12:
            epsg, (x, y) = 32632, tm(lon, lat, 9.0)
        elif 12 <= lon < 18:
            epsg, (x, y) = 32633, tm(lon, lat, 15.0)
        else:
            epsg, (x, y) = 3034, lcc(lon, lat)
        ge, gx, gy = got[int(r.event_id)]
        assert ge == epsg
        assert abs(gx - x) <= 0.011 and abs(gy - y) <= 0.011
        n_checked += 1
    assert n_checked == len(got)
    assert {e for e, _, _ in got.values()} == {32632, 32633, 3034}


def test_morans_i_reference(spark):
    """Moran's I sufficient statistics re-derived with an explicit
    python dict grid and a direct double loop over rook neighbors —
    plus the statistic itself assembled from the integers and checked
    against the textbook formula on floats."""
    pdf = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    grid = {}
    for r in pdf.itertuples():
        lon = r.value * 3.6 - 180
        lat = float((r.user_id * 7 % 180) - 90)
        key = (int(math.floor(lon / 2)), int(math.floor(lat / 2)))
        grid[key] = grid.get(key, 0) + 1
    n = len(grid)
    s = sum(grid.values())
    w_pairs = 0
    cross = 0
    for (cx, cy), xa in grid.items():
        for nb in ((cx + 1, cy), (cx - 1, cy), (cx, cy + 1), (cx, cy - 1)):
            if nb in grid:
                w_pairs += 1
                cross += (n * xa - s) * (n * grid[nb] - s)
    sq = sum((n * x - s) ** 2 for x in grid.values())
    (row,) = _rows(spark, "g_morans_i")
    assert (row.n_cells, row.w_pairs, row.cross_dev_scaled, row.sq_dev_scaled) == (
        n, w_pairs, cross, sq,
    )
    # assemble I and sanity-check against the float textbook formula
    I = (n / w_pairs) * (cross / sq)
    mean = s / n
    num = sum(
        (grid[a] - mean) * (grid[b] - mean)
        for a in grid
        for b in (
            (a[0] + 1, a[1]), (a[0] - 1, a[1]), (a[0], a[1] + 1), (a[0], a[1] - 1)
        )
        if b in grid
    )
    den = sum((x - mean) ** 2 for x in grid.values())
    assert abs(I - (n / w_pairs) * (num / den)) < 1e-9
    assert -1.5 <= I <= 1.5  # Moran's I plausible band


def test_heat_decay_reference(spark):
    """Recency-decayed heat re-derived with python math.exp on the
    replicated 6 dp HALF_UP lattice; counts exact, heat within the
    lattice's accumulation budget, and the decay DIRECTION asserted:
    every cell's heat is at most its event count and positive."""
    from decimal import ROUND_HALF_UP, Decimal

    pdf = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ep = (
        pd.to_datetime(pdf["ts"]).astype("datetime64[ns]").dt.floor("s").astype("int64")
        // 10**9
    )
    mep = int(ep.max())
    cells = {}
    for (e, r) in zip(ep, pdf.itertuples()):
        lon = r.value * 3.6 - 180
        lat = float((r.user_id * 7 % 180) - 90)
        cell = int(math.floor((lat + 90.0) / 6.0)) * 60 + int(
            math.floor((lon + 180.0) / 6.0)
        )
        w = math.exp(-((mep - int(e)) / 3600.0) / 24.0)
        w6 = Decimal(repr(w)).quantize(Decimal("1e-6"), ROUND_HALF_UP)
        n, h = cells.get(cell, (0, Decimal(0)))
        cells[cell] = (n + 1, h + w6)
    got = {r.cell: (r.n_events, r.heat) for r in _rows(spark, "g_heat_decay")}
    assert set(got) == set(cells)
    for cell, (n, h) in cells.items():
        gn, gh = got[cell]
        assert gn == n
        # python libm vs JVM libm: each 6 dp term can flip one grid
        # step near a midpoint — budget n * 1e-6
        assert abs(gh - float(h)) <= n * 1.1e-6
        # events older than ~14.5 days round to a 0.0 contribution, so
        # a stale-only cell can legitimately sit at exactly 0.0
        assert 0.0 <= gh <= n


def test_tile_rollup_reference(spark):
    """Tile pyramid re-derived with python dict counting, plus the
    structural pyramid invariants: every level conserves total mass,
    and each z+1 tile's count equals the sum of its <= 4 children."""
    from collections import Counter

    pdf = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    levels = Counter()
    for r in pdf.itertuples():
        cx = int(math.floor(((r.value * 3.6 - 180) + 180) / 5))
        cy = int((r.user_id * 7 % 180) - 90 + 90) // 5
        for z in range(4):
            levels[(z, cx >> z, cy >> z)] += 1
    got = Counter(
        {(r.z, r.tx, r.ty): r.n_points for r in _rows(spark, "g_tile_rollup")}
    )
    assert got == levels
    total = len(pdf)
    for z in range(4):
        assert sum(n for (zz, _, _), n in levels.items() if zz == z) == total
    for (z, tx, ty), n in levels.items():
        if z > 0:
            kids = sum(
                levels.get((z - 1, tx * 2 + dx, ty * 2 + dy), 0)
                for dx in (0, 1)
                for dy in (0, 1)
            )
            assert kids == n


def test_cell_transitions_reference(spark):
    """Grid-cell transition counts re-derived with a python loop over
    each user's ordered timeline (self-loops excluded, support >= 3)."""
    from collections import Counter

    pdf = pd.read_parquet(f"{SF_SMOKE}/events.parquet").sort_values(
        ["user_id", "event_id"]
    )
    trans = Counter()
    for _, g in pdf.groupby("user_id"):
        cells = [
            int(math.floor((r.value * 3.6 - 180 + 180.0) / 6.0)) * 60
            + int(math.floor((float((r.user_id * 7 % 180) - 90) + 90.0) / 6.0))
            for r in g.itertuples()
        ]
        for a, b in zip(cells, cells[1:]):
            if a != b:
                trans[(a, b)] += 1
    exp = {k: n for k, n in trans.items() if n >= 3}
    got = {
        (r.from_cell, r.to_cell): r.n for r in _rows(spark, "g_cell_transitions")
    }
    assert got == exp
    # at the smoke scale no pair reaches support 3 (the driver gate at
    # sf0.01+ sees non-empty output); the UNDERLYING movement graph
    # must still be rich, so the empty result is threshold, not bug
    assert len(trans) > 100


def test_speed_anomaly_reference(spark):
    """Impossible-speed flags re-derived with python haversine hops on
    the replicated HALF_UP 4 dp grid and truncated-second epochs; exact
    row-set equality plus: every flagged hop really exceeds the cap."""
    from decimal import ROUND_HALF_UP, Decimal

    from ukis_kafka_spark.spatial.geo import _SPEED_MAX_KMH

    pdf = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    pdf = pdf.assign(
        ep=pd.to_datetime(pdf["ts"]).astype("datetime64[ns]").dt.floor("s").astype("int64")
        // 10**9
    ).sort_values(["user_id", "event_id"])
    exp = {}
    for _, g in pdf.groupby("user_id"):
        prev = None
        for r in g.itertuples():
            lon = r.value * 3.6 - 180
            lat = float((r.user_id * 7 % 180) - 90)
            if prev is not None:
                plon, plat, pep = prev
                a = (
                    math.sin(math.radians(lat - plat) / 2) ** 2
                    + math.cos(math.radians(plat))
                    * math.cos(math.radians(lat))
                    * math.sin(math.radians(lon - plon) / 2) ** 2
                )
                hop = float(
                    Decimal(repr(2 * 6371.0088 * math.asin(math.sqrt(a)))).quantize(
                        Decimal("1e-4"), ROUND_HALF_UP
                    )
                )
                dt = int(r.ep) - pep
                if (dt == 0 and hop > 0) or (dt > 0 and 3600.0 * hop / dt > _SPEED_MAX_KMH):
                    speed = int(math.floor(3600.0 * hop / dt)) if dt > 0 else None
                    exp[int(r.event_id)] = (int(r.user_id), hop, dt, speed)
            prev = (lon, lat, int(r.ep))
    got = {
        r.event_id: (r.user_id, r.hop_km, r.dt, r.speed_kmh)
        for r in _rows(spark, "g_speed_anomaly")
    }
    assert got == exp
    assert exp  # global teleports exist by construction
    for _, hop, dt, speed in exp.values():
        assert dt == 0 or speed >= _SPEED_MAX_KMH


def test_trajectory_stops_reference(spark):
    """Dwell detection re-derived with an explicit run-length walk per
    user: maximal same-cell runs of >= 3 points with their enter/leave
    ids and truncated-second dwell."""
    pdf = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    pdf = pdf.assign(
        ep=pd.to_datetime(pdf["ts"]).astype("datetime64[ns]").dt.floor("s").astype("int64")
        // 10**9
    ).sort_values(["user_id", "event_id"])
    exp = set()
    for uid, g in pdf.groupby("user_id"):
        run = []
        prev_cell = None
        for r in g.itertuples():
            cell = int(math.floor((r.value * 3.6 - 180 + 180.0) / 6.0)) * 60 + int(
                math.floor((float((r.user_id * 7 % 180) - 90) + 90.0) / 6.0)
            )
            if cell != prev_cell and run:
                if len(run) >= 3:
                    exp.add(
                        (int(uid), prev_cell, len(run), run[0][0], run[-1][0],
                         max(e for _, e in run) - min(e for _, e in run))
                    )
                run = []
            run.append((int(r.event_id), int(r.ep)))
            prev_cell = cell
        if len(run) >= 3:
            exp.add(
                (int(uid), prev_cell, len(run), run[0][0], run[-1][0],
                 max(e for _, e in run) - min(e for _, e in run))
            )
    got = {
        (r.user_id, r.cell, r.n_points, r.enter_event, r.leave_event, r.dwell_s)
        for r in _rows(spark, "g_trajectory_stops")
    }
    assert got == exp


def test_graph_cc_reference(spark):
    """6-round min-label components re-derived with a python dict
    simulation over the q45 co-order graph, PLUS a union-find
    cross-check: every 6-hop label must lie inside the node's TRUE
    component, and component counting must be consistent."""
    from collections import defaultdict

    from ukis_kafka_spark.ml.graph import _CC_ITERS

    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_orderkey", "l_partkey", "l_quantity"],
    )
    li = li[li["l_quantity"] > 45]
    adj = defaultdict(set)
    for _, grp in li.groupby("l_orderkey")["l_partkey"]:
        ps = sorted(set(grp))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                adj[ps[i]].add(ps[j])
                adj[ps[j]].add(ps[i])
    lbl = {v: v for v in adj}
    for _ in range(_CC_ITERS):
        nxt = {}
        for v in adj:
            nxt[v] = min(lbl[v], min(lbl[u] for u in adj[v]))
        lbl = nxt
    comp = defaultdict(list)
    for v, l in lbl.items():
        comp[l].append(v)
    exp = {
        l: (len(vs), min(vs), max(vs)) for l, vs in comp.items()
    }
    got = {
        r.component: (r.n_nodes, r.min_node, r.max_node)
        for r in _rows(spark, "m_graph_cc")
    }
    assert got == exp

    # union-find ground truth: labels must refine true components
    parent = {v: v for v in adj}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for v, ns in adj.items():
        for u in ns:
            parent[find(u)] = find(v)
    for v, l in lbl.items():
        assert find(v) == find(l)  # the label is in v's true component
    assert len({find(v) for v in adj}) <= len(comp)


def test_graph_pagerank_reference(spark, adj_ref):
    """Fixed-point PageRank re-derived with a python dict loop: the
    exact micro-unit update rank' = U*15//100 + 850*Σ(r//d)//1000 over
    the full co-order graph, same iteration count — the top-50 must be
    identical, and mass conservation must hold approximately (floor
    divisions only ever LOSE mass, never create it)."""
    from ukis_kafka_spark.ml.graph import _ITERS, _UNIT

    deg = {v: len(ns) for v, ns in adj_ref.items()}
    rank = {v: _UNIT for v in adj_ref}
    total0 = sum(rank.values())
    for _ in range(_ITERS):
        contrib = {v: rank[v] // deg[v] for v in adj_ref}
        nxt = {}
        for v, ns in adj_ref.items():
            nxt[v] = _UNIT * 15 // 100 + 850 * sum(contrib[u] for u in ns) // 1000
        rank = nxt
        assert sum(rank.values()) <= total0 + len(rank)  # no mass created
    top = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = [(r.node, r.rank_u) for r in _rows(spark, "m_graph_pagerank")]
    assert got == top


def test_graph_lpa_reference(spark):
    """3-round synchronous label propagation re-derived with a python
    dict simulation over the q45 co-order graph: each round every node
    adopts its neighbors' MODE label (ties -> min).  Also checks the
    refinement property: every LPA community must lie inside one true
    connected component (a propagated label is always a reachable
    node's id), and the node universe must match m_graph_cc's."""
    from collections import Counter, defaultdict

    from ukis_kafka_spark.ml.graph import _LPA_ITERS

    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_orderkey", "l_partkey", "l_quantity"],
    )
    li = li[li["l_quantity"] > 45]
    adj = defaultdict(set)
    for _, grp in li.groupby("l_orderkey")["l_partkey"]:
        ps = sorted(set(grp))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                adj[ps[i]].add(ps[j])
                adj[ps[j]].add(ps[i])
    lbl = {v: v for v in adj}
    for _ in range(_LPA_ITERS):
        nxt = {}
        for v in adj:
            cnt = Counter(lbl[u] for u in adj[v])
            top = max(cnt.values())
            nxt[v] = min(l for l, c in cnt.items() if c == top)
        lbl = nxt
    comm = defaultdict(list)
    for v, l in lbl.items():
        comm[l].append(v)
    exp = {l: (len(vs), min(vs), max(vs)) for l, vs in comm.items()}
    got = {
        r.community: (r.n_nodes, r.min_node, r.max_node)
        for r in _rows(spark, "m_graph_lpa")
    }
    assert got == exp
    # node conservation vs the component query (same subgraph)
    assert sum(n for n, _, _ in got.values()) == len(adj)
    # refinement: a community's label is a member of the community's
    # component (labels only travel along edges)
    parent = {v: v for v in adj}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for v, ns in adj.items():
        for u in ns:
            parent[find(u)] = find(v)
    for v, l in lbl.items():
        assert find(v) == find(l), f"label {l} escaped {v}'s component"


def test_hash_walks_reference(spark):
    """3-step hash-walks re-derived with python dicts + hashlib.md5:
    every hop must equal the argmin-hash neighbor, every step must
    follow a real edge, and the walk distribution must be non-trivial
    (walkers do not all collapse onto one node)."""
    import hashlib
    from collections import defaultdict

    from ukis_kafka_spark.ml.graph import _WALK_STEPS

    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_orderkey", "l_partkey", "l_quantity"],
    )
    li = li[li["l_quantity"] > 45]
    adj = defaultdict(set)
    for _, grp in li.groupby("l_orderkey")["l_partkey"]:
        ps = sorted(set(grp))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                adj[ps[i]].add(ps[j])
                adj[ps[j]].add(ps[i])

    def h(start, k, nbr):
        return int(hashlib.md5(f"{start}:{k}:{nbr}".encode()).hexdigest()[:8], 16)

    exp = {}
    for start in adj:
        cur, hops = start, []
        for k in range(1, _WALK_STEPS + 1):
            cur = min(adj[cur], key=lambda n: (h(start, k, n), n))
            hops.append(cur)
        exp[start] = tuple(hops)
    got = {
        r.start_node: (r.hop1, r.hop2, r.hop3)
        for r in _rows(spark, "m_hash_walks")
    }
    assert got == exp
    for start, hops in exp.items():
        path = [start, *hops]
        for a, b in zip(path, path[1:]):
            assert b in adj[a], f"walk {start} left the graph at {a}->{b}"
    # non-degenerate: more than one distinct endpoint across walkers
    assert len({hops[-1] for hops in exp.values()}) > 1


def test_simplify_split_reference(spark):
    """One Douglas-Peucker level recomputed with explicit loops:
    integer cross products on the (epoch-second, centi-lon) grid,
    chord from min/max event_id, split = smallest id attaining the
    max deviation; both verdict branches must fire."""
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    got = {r["user_id"]: r for r in _rows(spark, "g_simplify_split")}
    n_split = n_keep = 0
    for uid, grp in ev.groupby("user_id"):
        grp = grp.sort_values("event_id")
        if len(grp) < 3:
            assert uid not in got
            continue
        xs = (grp["ts"].astype("datetime64[s]").astype("int64")).to_numpy()
        ys = np.floor((grp["value"].to_numpy() * 3.6 - 180) * 100).astype("int64")
        eids = grp["event_id"].to_numpy()
        x0, y0, xe, ye = int(xs[0]), int(ys[0]), int(xs[-1]), int(ys[-1])
        devs = [
            abs((xe - x0) * (int(y) - y0) - (ye - y0) * (int(x) - x0))
            for x, y in zip(xs, ys)
        ]
        mx = max(devs)
        split_id = min(int(e) for e, d in zip(eids, devs) if d == mx)
        g = got[uid]
        assert (g["n_pts"], g["max_dev"], g["split_event_id"]) == (len(grp), mx, split_id)
        assert g["needs_split"] == (1 if mx > 167_000_000_000 else 0)
        n_split += g["needs_split"]
        n_keep += 1 - g["needs_split"]
    assert n_split and n_keep, "tolerance gate vacuous at smoke scale"


def test_active_learning_margin_reference(spark):
    """Margin-based uncertainty sampling recomputed by explicit
    loops: fixed-point centroids (1e4 grid, milli-scaled truncating
    signed means), exact integer L2 to every centroid, margin =
    second-best minus best, global top-20 by (margin, vec_id)."""
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet").sort_values("vec_id")
    V = {
        int(r.vec_id): (
            int(r.label),
            [int(math.floor(float(x) * 10000)) for x in r.embedding],
        )
        for r in emb.itertuples()
    }
    by_label: dict[int, list[list[int]]] = {}
    for lab, vec in V.values():
        by_label.setdefault(lab, []).append(vec)
    cents = {}
    for lab, vecs in by_label.items():
        n = len(vecs)
        cents[lab] = [
            (s * 1000) // n if s >= 0 else -(((-s) * 1000) // n)
            for s in (sum(col) for col in zip(*vecs))
        ]
    rows = []
    for vid, (lab, vec) in V.items():
        d2s = sorted(
            (
                sum((v * 1000 - c) ** 2 for v, c in zip(vec, cvec)),
                clab,
            )
            for clab, cvec in cents.items()
        )
        (best_d2, best_lab), (second_d2, _) = d2s[0], d2s[1]
        rows.append((second_d2 - best_d2, vid, lab, best_lab, best_d2))
    rows.sort()
    expect = [
        (vid, lab, best_lab, best_d2, margin)
        for margin, vid, lab, best_lab, best_d2 in rows[:20]
    ]
    got = [
        (r["vec_id"], r["true_label"], r["best_label"], r["best_d2"], r["margin"])
        for r in _rows(spark, "m_active_learning_margin")
    ]
    assert sorted(got) == sorted(expect)


def test_graph_hits_reference(spark):
    """Dict-based integer HITS over the customer→supplier bipartite
    graph re-derived from raw parquet: 3 rounds of the exact
    divide-first micro-unit procedure, then top-20 per role."""
    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet", columns=["o_orderkey", "o_custkey"])
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"])
    m = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    weights: dict[tuple[int, int], set[int]] = {}
    for c, s, ok in zip(
        m.o_custkey.astype(int), m.l_suppkey.astype(int), m.o_orderkey.astype(int)
    ):
        weights.setdefault((c, s), set()).add(ok)
    edges = {cs: len(orders) for cs, orders in weights.items()}
    custs = sorted({c for c, _ in edges})
    supps = sorted({s for _, s in edges})
    nc, ns, unit = len(custs), len(supps), 1_000_000
    h = {c: unit for c in custs}
    for _ in range(3):
        raw_a = {s: 0 for s in supps}
        for (c, s), w in edges.items():
            raw_a[s] += w * h[c]
        # structural mass invariant (ml/graph.py m_graph_hits docstring):
        # the normalization cap engages every round on any graph where
        # every node keeps an edge — and post-round mass < 2·n·UNIT
        # regardless, so the clamp can never compound into overflow.
        assert sum(raw_a.values()) >= ns * unit
        div = max(sum(raw_a.values()) // (ns * unit), 1)
        a = {s: v // div for s, v in raw_a.items()}
        assert sum(a.values()) < 2 * ns * unit
        raw_h = {c: 0 for c in custs}
        for (c, s), w in edges.items():
            raw_h[c] += w * a[s]
        assert sum(raw_h.values()) >= nc * unit
        div = max(sum(raw_h.values()) // (nc * unit), 1)
        h = {c: v // div for c, v in raw_h.items()}
        assert sum(h.values()) < 2 * nc * unit
    top_auth = sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    top_hub = sorted(h.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = _rows(spark, "m_graph_hits")
    got_auth = [(r["node"], r["score_u"]) for r in rows if r["role"] == "auth"]
    got_hub = [(r["node"], r["score_u"]) for r in rows if r["role"] == "hub"]
    assert got_auth == top_auth
    assert got_hub == top_hub
    # non-vacuity: scores genuinely vary inside each top-k
    assert len({s for _, s in top_auth}) > 5
    assert len({s for _, s in top_hub}) > 5


def test_graph_closeness_reference(spark, adj_ref):
    """Queue BFS per seed (top-8 degree, node-asc ties) re-derives the
    truncated harmonic closeness in sixths."""
    from collections import deque

    deg = {n: len(ns) for n, ns in adj_ref.items()}
    seeds = sorted(deg, key=lambda n: (-deg[n], n))[:8]
    want = {}
    for s in seeds:
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] == 3:
                continue
            for v in adj_ref.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        n = [0, 0, 0, 0]
        for d in dist.values():
            n[d] += 1
        want[s] = (deg[s], n[1], n[2], n[3], 6 * n[1] + 3 * n[2] + 2 * n[3])
    rows = _rows(spark, "m_graph_closeness")
    got = {
        r["seed"]: (r["degree"], r["n1"], r["n2"], r["n3"], r["harm_sixths"]) for r in rows
    }
    assert got == want
    # non-vacuity: hop-2/3 frontiers genuinely fire and differ by seed
    assert any(v[2] > 0 for v in want.values())
    assert len({v[4] for v in want.values()}) > 1


def test_mcc_reference(spark):
    """One-vs-rest MCC re-derived from m_confusion_matrix's own cells
    (a different already-verified operator), assembling the float MCC
    and checking sign(num)*sqrt(mcc2/1e9) against it."""
    conf = {(r["true_label"], r["pred_label"]): r["n"] for r in _rows(spark, "m_confusion_matrix")}
    labels = sorted({t for t, _ in conf} | {p for _, p in conf})
    rows = {r["label"]: r for r in _rows(spark, "m_mcc")}
    assert set(rows) == {t for t, _ in conf}
    mccs = set()
    for lab, r in rows.items():
        tp = conf.get((lab, lab), 0)
        fp = sum(n for (t, p), n in conf.items() if t != lab and p == lab)
        fn = sum(n for (t, p), n in conf.items() if t == lab and p != lab)
        tn = sum(n for (t, p), n in conf.items() if t != lab and p != lab)
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (tp, fp, fn, tn)
        num = tp * tn - fp * fn
        den = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
        assert r["mcc_num"] == num
        assert r["mcc2_ppb"] == num * num * 1_000_000_000 // max(den, 1)
        mcc = (1 if num > 0 else -1 if num < 0 else 0) * math.sqrt(r["mcc2_ppb"] / 1e9)
        ref = num / math.sqrt(den) if den else 0.0
        assert abs(mcc - ref) < 1e-4
        mccs.add(r["mcc2_ppb"])
    assert len(mccs) == len(rows)  # per-label skill genuinely varies


def test_knn_join_matches_brute_force(spark):
    ev = list(pd.read_parquet(f"{SF_SMOKE}/events.parquet").itertuples())
    ids = np.array([r.event_id for r in ev])
    lon = np.array([r.value * 3.6 - 180 for r in ev])
    lat = np.array([float((r.user_id * 7) % 180 - 90) for r in ev])
    rows = {r.event_id: r for r in _rows(spark, "g_knn_join")}
    assert set(rows) == set(ids.tolist())
    order = np.argsort(ids)
    within = (np.abs(lon[:, None] - lon[None, :]) <= 2.0) & (
        np.abs(lat[:, None] - lat[None, :]) <= 2.0
    )
    np.fill_diagonal(within, False)
    for i in range(len(ids)):
        r = rows[ids[i]]
        nb = np.where(within[i])[0]
        assert r.n_within == len(nb)
        if len(nb) >= 4:
            d2 = (lon[i] - lon[nb]) ** 2 + (lat[i] - lat[nb]) ** 2
            cand = sorted(zip(d2.tolist(), ids[nb].tolist()))
            assert (r.knn4_d2, r.knn4_id) == cand[3]
        else:
            assert r.knn4_id is None and r.knn4_d2 is None
    # both branches fire at smoke scale
    assert any(v.knn4_id is not None for v in rows.values())
    assert any(v.knn4_id is None for v in rows.values())
    del order
