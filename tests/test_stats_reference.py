"""Independent re-derivations of the nonparametric statistics battery
(q_ks_test / q_mann_whitney / q_wilcoxon / q_kendall_tau / q_theil_sen /
q_spearman_stats / q_runs_test / q_seasonal_decompose / q_rolling_corr).

The oracle gate proves *engine parity* — Spark and DuckDB compute the
same thing.  These tests close the other half for the statistics
family: a plain pandas/numpy re-derivation FROM THE RAW PARQUET (no
Spark, no shared SQL formulation — different ranking code, different
pair enumeration) proves the thing computed matches the textbook
definition, guarding against both-engines-wrong-the-same-way bugs in
the shared integer-lattice formulations.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_SMOKE
from ukis_kafka_spark import api


@pytest.fixture(scope="module")
def events_pdf():
    pdf = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    # normalize to ns precision: pandas reads the TIMESTAMP(NANOS)
    # parquet as datetime64[us], and the epoch arithmetic below divides
    # by 10**9 (int64 view of a datetime64[ns])
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[ns]")
    pdf["vc"] = np.floor(pdf["value"].to_numpy() * 100).astype(np.int64)
    return pdf


def _rows(spark, name):
    return api.queries()[name](spark, SF_SMOKE).collect()


def _hour_index(pdf):
    return (pdf["ts"].dt.floor("h").astype("int64") // 10**9 // 3600).to_numpy()


def test_ks_reference(spark, events_pdf):
    """D·n_a·n_b must equal the sup of |n_b·CDFcounts_a − n_a·CDFcounts_b|
    computed by brute-force ECDF evaluation over the merged support."""
    (row,) = _rows(spark, "q_ks_test")
    a = np.sort(events_pdf.loc[events_pdf.event_type == "click", "vc"].to_numpy())
    b = np.sort(events_pdf.loc[events_pdf.event_type == "purchase", "vc"].to_numpy())
    support = np.unique(np.concatenate([a, b]))
    ca = np.searchsorted(a, support, side="right")  # #a <= v
    cb = np.searchsorted(b, support, side="right")
    d_scaled = int(np.max(np.abs(ca * len(b) - cb * len(a))))
    assert (row["n_a"], row["n_b"]) == (len(a), len(b))
    assert row["d_scaled"] == d_scaled
    # and the assembled D is a valid probability distance
    assert 0.0 < d_scaled / (len(a) * len(b)) <= 1.0


def test_mann_whitney_pairwise(spark, events_pdf):
    """u_a_doubled must equal 2·#{a>b} + #{a==b} — the DEFINITION of
    the U statistic by pair counting, not via rank sums."""
    (row,) = _rows(spark, "q_mann_whitney")
    a = events_pdf.loc[events_pdf.event_type == "click", "vc"].to_numpy()
    b = np.sort(events_pdf.loc[events_pdf.event_type == "purchase", "vc"].to_numpy())
    n_gt = int(np.searchsorted(b, a, side="left").sum())  # b strictly below each a
    n_eq = int(
        (np.searchsorted(b, a, side="right") - np.searchsorted(b, a, side="left")).sum()
    )
    assert (row["n_a"], row["n_b"]) == (len(a), len(b))
    assert row["u_a_doubled"] == 2 * n_gt + n_eq


def test_wilcoxon_reference(spark, events_pdf):
    """W⁺ via pandas average-ranking of |d| must match; plus the
    exhaustiveness identity W⁺ + W⁻ = n(n+1)/2 on the doubled lattice."""
    (row,) = _rows(spark, "q_wilcoxon")
    pdf = events_pdf.copy()
    day = (pdf["ts"].dt.floor("d").astype("int64") // 10**9 // 86400) % 30
    pdf["half"] = np.where(day < 15, "first", "second")
    halves = pdf.pivot_table(
        index="user_id", columns="half", values="vc", aggfunc="sum"
    )
    halves = halves.dropna()
    d = (halves["second"] - halves["first"]).astype(np.int64)
    d = d[d != 0]
    ranks = pd.Series(np.abs(d.to_numpy())).rank(method="average")
    w_plus2 = int((2 * ranks[np.asarray(d > 0)]).sum())
    w_minus2 = int((2 * ranks[np.asarray(d < 0)]).sum())
    n = len(d)
    assert row["n_pairs"] == n
    assert row["w_plus_doubled"] == w_plus2
    assert w_plus2 + w_minus2 == n * (n + 1)


def test_kendall_reference(spark, events_pdf):
    """Concordant/discordant/tied by brute-force pair enumeration over
    the hourly series; the three must partition binom(k,2)."""
    (row,) = _rows(spark, "q_kendall_tau")
    h = _hour_index(events_pdf)
    counts = pd.Series(h).value_counts().sort_index().to_numpy()
    k = len(counts)
    conc = disc = tied = 0
    for i in range(k):
        for j in range(i + 1, k):
            if counts[j] > counts[i]:
                conc += 1
            elif counts[j] < counts[i]:
                disc += 1
            else:
                tied += 1
    assert (row["concordant"], row["discordant"], row["tied"]) == (conc, disc, tied)
    assert row["n_pairs"] == conc + disc + tied == k * (k - 1) // 2


def test_theil_sen_reference(spark, events_pdf):
    """The median pairwise slope by explicit enumeration + total-order
    selection, bit-identical (each slope is one exact-int division)."""
    (row,) = _rows(spark, "q_theil_sen")
    ser = pd.Series(_hour_index(events_pdf)).value_counts().sort_index()
    hs, cs = ser.index.to_numpy(), ser.to_numpy()
    slopes = []
    for i in range(len(hs)):
        for j in range(i + 1, len(hs)):
            slopes.append(
                (float(int(cs[j]) - int(cs[i])) / float(int(hs[j]) - int(hs[i])),
                 int(hs[i]), int(hs[j]))
            )
    slopes.sort()
    n = len(slopes)
    assert row["n_pairs"] == n
    assert row["median_slope"] == slopes[(n + 1) // 2 - 1][0]


def test_spearman_reference(spark, events_pdf):
    """Assemble ρ from the emitted sufficient statistics and compare to
    numpy's Pearson correlation of (pandas midranks, time ranks)."""
    (row,) = _rows(spark, "q_spearman_stats")
    v = events_pdf.loc[events_pdf.event_type == "view"].sort_values("event_id")
    rx = v["vc"].rank(method="average").to_numpy()
    ry = np.arange(1, len(v) + 1, dtype=np.float64)
    ref = np.corrcoef(rx, ry)[0, 1]
    n = row["n"]
    assert n == len(v)
    # ΣRy = n(n+1)/2, ΣRy² = n(n+1)(2n+1)/6 (time ranks are 1..n);
    # emitted stats are on the ×2 (x) and ×2 (y) lattices.
    sxy = row["sxy4"] / 4.0
    sxx = row["sxx4"] / 4.0
    sx = n * (n + 1) / 2.0  # ΣRx == ΣRy for midranks of n values
    syy = n * (n + 1) * (2 * n + 1) / 6.0
    num = n * sxy - sx * sx
    den = np.sqrt(n * sxx - sx * sx) * np.sqrt(n * syy - sx * sx)
    assert abs(num / den - ref) < 1e-9


def test_runs_reference(spark, events_pdf):
    """Runs = maximal same-sign streaks, counted by a plain scan."""
    rows = {r["event_type"]: r for r in _rows(spark, "q_runs_test")}
    for etype, grp in events_pdf.sort_values("event_id").groupby("event_type"):
        sgn = (grp["value"].to_numpy() >= 50.0).astype(int)
        runs = 1 + int(np.sum(sgn[1:] != sgn[:-1])) if len(sgn) else 0
        r = rows[etype]
        assert r["n_above"] == int(sgn.sum())
        assert r["n_below"] == int((1 - sgn).sum())
        assert r["n_runs"] == runs


def test_seasonal_reference(spark, events_pdf):
    """Scaled residuals recomputed from a pandas groupby; residuals of
    each weekday must sum to zero (the decomposition identity)."""
    rows = _rows(spark, "q_seasonal_decompose")
    day = events_pdf["ts"].dt.floor("d")
    daily = events_pdf.groupby(day.astype("int64") // 10**9).size()
    # Spark dayofweek: 1=Sunday..7=Saturday; pandas dayofweek: 0=Monday
    dow = {int(d): (pd.Timestamp(d, unit="s").dayofweek + 1) % 7 + 1 for d in daily.index}
    by_dow: dict[int, list[int]] = {}
    for d, c in daily.items():
        by_dow.setdefault(dow[int(d)], []).append(int(c))
    assert len(rows) == len(daily)
    resid_by_dow: dict[int, int] = {}
    for r in rows:
        cs = by_dow[r["dow"]]
        assert r["dow_days"] == len(cs) and r["dow_total"] == sum(cs)
        assert r["c"] == daily[r["day_start"]]
        assert r["resid_scaled"] == r["c"] * len(cs) - sum(cs)
        resid_by_dow[r["dow"]] = resid_by_dow.get(r["dow"], 0) + r["resid_scaled"]
    assert all(v == 0 for v in resid_by_dow.values())


def test_rolling_corr_reference(spark, events_pdf):
    """Sufficient statistics recomputed with pandas .rolling over the
    same hour-grain series; every assembled r² must be a valid [0, 1]."""
    rows = sorted(_rows(spark, "q_rolling_corr"), key=lambda r: r["h"])
    pdf = events_pdf
    hsec = pdf["ts"].dt.floor("h").astype("int64") // 10**9
    g = pd.DataFrame(
        {
            "h": hsec,
            "x": np.where(pdf.event_type == "click", pdf["vc"], 0),
            "y": np.where(pdf.event_type == "purchase", pdf["vc"], 0),
        }
    ).groupby("h")[["x", "y"]].sum().sort_index()
    roll = lambda s: s.rolling(24, min_periods=1).sum()  # noqa: E731
    n = g["x"].rolling(24, min_periods=1).count()
    sx, sy = roll(g["x"]), roll(g["y"])
    sxy = roll(g["x"] * g["y"])
    sxx, syy = roll(g["x"] * g["x"]), roll(g["y"] * g["y"])
    assert len(rows) == len(g)
    for i, r in enumerate(rows):
        h = g.index[i]
        assert r["h"] == h and r["n"] == int(n.iloc[i])
        assert r["corr_num"] == int(r["n"] * sxy.iloc[i] - sx.iloc[i] * sy.iloc[i])
        assert r["var_x_scaled"] == int(r["n"] * sxx.iloc[i] - sx.iloc[i] ** 2)
        assert r["var_y_scaled"] == int(r["n"] * syy.iloc[i] - sy.iloc[i] ** 2)
        if r["var_x_scaled"] > 0 and r["var_y_scaled"] > 0:
            r2 = r["corr_num"] ** 2 / (r["var_x_scaled"] * r["var_y_scaled"])
            assert 0.0 <= r2 <= 1.0 + 1e-12


# ---- fixed-point ML iterations (m_kmeans_step / m_pca_power /
# m_scaling_fit): integer re-derivations in plain numpy ----


@pytest.fixture(scope="module")
def embeddings_pdf():
    return pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_kmeans_reference(spark, embeddings_pdf):
    """Two Lloyd rounds re-run in numpy int64 (same quantization, same
    argmin tiebreak, same integer-mean update) must reproduce the
    emitted cluster sizes and centroid masses exactly."""
    rows = {r["cluster"]: r for r in _rows(spark, "m_kmeans_step")}
    E = np.stack(embeddings_pdf.sort_values("vec_id").embedding.to_numpy())
    ids = embeddings_pdf.sort_values("vec_id").vec_id.to_numpy()
    Q = np.floor(E.astype(np.float64) * 1_000_000).astype(np.int64) + 1_000_000
    cent = Q[ids < 4]  # seed: vec_id < k, cluster = vec_id
    for _ in range(2):
        d2 = ((Q[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)  # ties -> lowest cluster id (argmin rule)
        cent = np.stack([
            Q[assign == c].sum(axis=0) // np.int64((assign == c).sum())
            for c in range(4)
        ])
    for c in range(4):
        assert rows[c]["n"] == int((assign == c).sum())
        assert rows[c]["centroid_mass"] == int(cent[c].sum())


def test_pca_power_reference(spark, embeddings_pdf):
    """The fixed-point power iteration re-run in numpy int64 (integer
    covariance mass, 1e9 downscale with the sign factored out, max-abs
    renormalization) must reproduce pc1_micro for every dimension."""
    got = {r["d"]: r["pc1_micro"] for r in _rows(spark, "m_pca_power")}
    E = np.stack(embeddings_pdf.embedding.to_numpy())
    V = np.floor(E.astype(np.float64) * 10_000).astype(np.int64)
    n = np.int64(len(V))
    s = V.sum(axis=0)
    sxy = V.T @ V
    raw = n * sxy - np.outer(s, s)
    cs = np.sign(raw) * (np.abs(raw) // 1_000_000_000)
    v = np.zeros(V.shape[1], dtype=np.int64)
    v[0] = 1_000_000
    for _ in range(2):
        u = cs @ v
        m = np.abs(u).max()
        v = np.sign(u) * ((np.abs(u) * 1_000_000) // m)
    assert got == {d + 1: int(v[d]) for d in range(V.shape[1])}


def test_scaling_fit_reference(spark):
    """Assemble the per-language log-log slope from the emitted integer
    sufficient statistics and compare to an independent float
    least-squares fit on the raw columns (1e-4 tolerance — the stats
    ride a 6 dp lattice)."""
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    rows = _rows(spark, "m_scaling_fit")
    assert {r["lang"] for r in rows} == set(docs.lang.unique())
    for r in rows:
        sub = docs[docs.lang == r["lang"]]
        x = np.log(sub.n_chars.to_numpy(dtype=np.float64))
        y = np.log(np.array([len(t.split(" ")) for t in sub.text], dtype=np.float64))
        n = r["n"]
        assert n == len(sub)
        num = n * r["sxy_pico"] / 1e12 - (r["sx_micro"] / 1e6) * (r["sy_micro"] / 1e6)
        den = n * r["sxx_pico"] / 1e12 - (r["sx_micro"] / 1e6) ** 2
        slope_stats = num / den
        slope_ref = np.polyfit(x, y, 1)[0]
        assert abs(slope_stats - slope_ref) < 1e-4


def test_benford_reference(spark):
    """First-digit counts by string slicing in python; expected
    Benford micros must equal floor(1e6·log10(1+1/d))."""
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    digits = [int(str(int(math.floor(v)))[0]) for v in orders.o_totalprice]
    counts = Counter(digits)
    total = len(digits)
    got = {r["digit"]: r for r in _rows(spark, "q_benford")}
    assert set(got) == set(counts)
    for d, c in counts.items():
        r = got[d]
        assert r["cnt"] == c
        assert r["obs_micro"] == c * 1_000_000 // total
        assert r["benford_micro"] == int(1_000_000 * math.log10(1 + 1 / d))


def test_lorenz_reference(spark):
    """Decile cumulative revenue shares recomputed with an explicit
    sort + ntile cut; the curve must be monotone, convex-ish (each
    decile's share nondecreasing), and end at exactly 1e6 ppm."""
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    per_cust = (
        orders.assign(centi=(orders.o_totalprice * 100).apply(math.floor).astype("int64"))
        .groupby("o_custkey")["centi"].sum().reset_index()
        .sort_values(["centi", "o_custkey"])
    )
    n = len(per_cust)
    # ntile: first (n % 10) tiles get ceil(n/10) rows
    sizes = [(n + 9 - i) // 10 for i in range(10)]
    revs = per_cust["centi"].to_list()
    total = sum(revs)
    got = {r["decile"]: r for r in _rows(spark, "q_lorenz_deciles")}
    pos, cum, prev_share = 0, 0, -1
    for d in range(1, 11):
        chunk = revs[pos : pos + sizes[d - 1]]
        pos += sizes[d - 1]
        cum += sum(chunk)
        r = got[d]
        assert r["n_customers"] == len(chunk)
        assert r["dec_centi"] == sum(chunk)
        assert r["cum_share_ppm"] == cum * 1_000_000 // total
        assert sum(chunk) >= prev_share  # ascending-rank deciles
        prev_share = sum(chunk)
    assert got[10]["cum_share_ppm"] == 1_000_000


def test_winsorize_reference(spark, events_pdf):
    """Clip bounds via explicit rank selection and the clipped sum
    recomputed per group; clip counts must match and the clipped sum
    must never exceed the raw sum's spread."""
    got = {r["event_type"]: r for r in _rows(spark, "q_winsorize")}
    for etype, grp in events_pdf.groupby("event_type"):
        vals = grp.sort_values(["value", "event_id"])["value"].to_list()
        n = len(vals)
        lo = vals[math.ceil(0.05 * n) - 1]
        hi = vals[math.ceil(0.95 * n) - 1]
        clipped = [min(max(v, lo), hi) for v in grp["value"]]
        r = got[etype]
        assert r["n"] == n
        assert r["n_clip_lo"] == sum(1 for v in grp["value"] if v < lo)
        assert r["n_clip_hi"] == sum(1 for v in grp["value"] if v > hi)
        assert abs(r["clipped_sum"] - sum(clipped)) < 1e-6
        assert lo <= hi


def test_changepoint_reference(spark, events_pdf):
    """CUSUM top-5 recomputed with explicit prefix sums over the
    hourly series."""
    hourly = (
        pd.Series(events_pdf["ts"].dt.floor("h").astype("int64") // 10**9)
        .value_counts()
        .sort_index()
    )
    n, total = len(hourly), int(hourly.sum())
    prefix = 0
    devs = []
    for i, (h, c) in enumerate(hourly.items(), start=1):
        prefix += int(c)
        devs.append((-(abs(n * prefix - i * total)), h, int(c), n * prefix - i * total))
    devs.sort()
    expect = [(h, c, d) for _, h, c, d in devs[:5]]
    got = [(r["hour_start"], r["c"], r["dev_scaled"]) for r in _rows(spark, "q_changepoint")]
    assert got == expect
    # the last prefix equals the total: CUSUM returns to zero
    assert n * prefix - n * total == 0


def test_parallel_variance_reference(spark, events_pdf):
    """The merged sufficient statistics must equal a direct single-pass
    computation AND assemble to numpy's population variance."""
    got = {r["event_type"]: r for r in _rows(spark, "q_parallel_variance")}
    for etype, grp in events_pdf.groupby("event_type"):
        x = grp["vc"].to_numpy()
        n, s, ss = len(x), int(x.sum()), int((x.astype(object) ** 2).sum())
        r = got[etype]
        assert (r["n"], r["s"], r["ss"]) == (n, s, ss)
        assert r["var_scaled"] == n * ss - s * s
        var = r["var_scaled"] / (n * n)
        assert abs(var - float(np.var(x))) < 1e-6


def test_ndcg_mrr_reference(spark, embeddings_pdf):
    """MRR@10 / NDCG@10 re-derived in numpy + Decimal: exact integer
    L2 on the 1e-4 grid, lexsort (d2, oid) ranking, replicated HALF_UP
    6 dp discount grid, exact Decimal mass, truncating integer divs."""
    from decimal import ROUND_HALF_UP, Decimal

    def round_spark(x, dp):
        return float(Decimal(repr(x)).quantize(Decimal(f"1e-{dp}"), ROUND_HALF_UP))

    disc = {
        k: Decimal(repr(round_spark(1.0 / math.log2(k + 1), 6)))
        for k in range(1, 11)
    }
    pdf = embeddings_pdf.sort_values("vec_id")
    V = np.floor(np.stack(pdf.embedding.to_numpy()).astype(np.float64) * 10_000).astype(np.int64)
    ids = pdf.vec_id.to_numpy()
    labels = pdf.label.to_numpy()
    got = {r["tid"]: r for r in _rows(spark, "m_ndcg_mrr")}
    probe_rows = np.flatnonzero(ids < 40)
    assert set(got) == {int(ids[i]) for i in probe_rows}
    for i in probe_rows:
        d2 = ((V - V[i]) ** 2).sum(axis=1)
        mask = np.arange(len(ids)) != i
        order = np.lexsort((ids[mask], d2[mask]))
        top = order[:10]
        rel = labels[mask][top] == labels[i]
        first = int(np.flatnonzero(rel)[0]) + 1 if rel.any() else 0
        dcg = sum(disc[k + 1] for k in range(len(top)) if rel[k])
        n_rel = int(((labels == labels[i]) & mask).sum())
        idcg = sum(disc[k] for k in range(1, min(n_rel, 10) + 1))
        r = got[int(ids[i])]
        assert r["label"] == int(labels[i])
        assert r["first_rel_rank"] == first
        assert r["rr_micro"] == (10**6 // first if first else 0)
        assert r["dcg_micro"] == int(dcg * 10**6)
        assert r["idcg_micro"] == int(idcg * 10**6)
        expect_ndcg = (
            (int(dcg * 10**6) * 1000) // int(idcg * 10**6)
            if int(idcg * 10**6) else 0
        )
        assert r["ndcg_permille"] == expect_ndcg
        assert 0 <= r["ndcg_permille"] <= 1000


def _dec10(v: float):
    """Spark's double→DECIMAL(28,10) cast: shortest-repr, HALF_UP."""
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(repr(float(v))).quantize(Decimal("1e-10"), ROUND_HALF_UP)


def test_agg_groupby_flagship_reference(spark):
    """The FLAGSHIP TPC-H-Q1 pricing summary re-derived with python
    decimals: per (returnflag, linestatus), exact DECIMAL(28,10) sums
    of qty/price/disc_price/charge (the repo's hashsafe.money_sum) and
    the one-double-division means — every float must match the Spark
    result bit-for-bit."""
    from collections import defaultdict
    from decimal import Decimal

    pdf = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    pdf = pdf[pdf["l_shipdate"] <= pd.Timestamp("1998-09-02")]

    zero = Decimal(0)
    sums = defaultdict(lambda: [zero, zero, zero, zero, 0])
    for r in pdf.itertuples():
        k = (r.l_returnflag, r.l_linestatus)
        disc_price = r.l_extendedprice * (1.0 - r.l_discount)
        charge = disc_price * (1.0 + r.l_tax)
        s = sums[k]
        s[0] += _dec10(r.l_quantity)
        s[1] += _dec10(r.l_extendedprice)
        s[2] += _dec10(disc_price)
        s[3] += _dec10(charge)
        s[4] += 1
    exp = {
        k: (
            float(s[0]), float(s[1]), float(s[2]), float(s[3]),
            float(s[0]) / s[4], float(s[1]) / s[4],
        )
        for k, s in sums.items()
    }
    got = {}
    for r in api.queries()["q_agg_groupby"](spark, SF_SMOKE).collect():
        got[(r.l_returnflag, r.l_linestatus)] = (
            r.sum_qty, r.sum_base_price, r.sum_disc_price, r.sum_charge,
            r.avg_qty, r.avg_price,
        )
        assert r.count_order == sums[(r.l_returnflag, r.l_linestatus)][4]
    assert got == exp


def test_weighted_median_reference(spark):
    """Weighted median re-derived with a plain sorted scan: per flag,
    the centi-price where cumulative integral quantity first reaches
    half the total (2*cw >= tw crossing rule, all integers)."""
    import math as _m
    from collections import defaultdict

    pdf = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    wt = defaultdict(lambda: defaultdict(int))
    for r in pdf.itertuples():
        wt[r.l_returnflag][int(_m.floor(r.l_extendedprice * 100))] += int(
            _m.floor(r.l_quantity)
        )
    exp = {}
    for flag, prices in wt.items():
        total = sum(prices.values())
        cw = 0
        for p in sorted(prices):
            cw += prices[p]
            if 2 * cw >= total:
                exp[flag] = (p, total)
                break
    got = {
        r.flag: (r.wmedian_centi, r.total_weight)
        for r in api.queries()["q_weighted_median"](spark, SF_SMOKE).collect()
    }
    assert got == exp


def test_agg_stats_reference(spark):
    """Variance / stddev / correlation re-derived with numpy's own
    (different) formulations — ddof=1 variance and np.corrcoef over the
    raw columns — agreeing to float precision, plus exact replication
    of the engine's decimal moment sums for the bit-level check."""
    from decimal import ROUND_HALF_UP, Decimal

    pdf = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    got = {
        r.l_returnflag: (r.var_price, r.std_price, r.corr_price_qty)
        for r in api.queries()["q_agg_stats"](spark, SF_SMOKE).collect()
    }

    def dec(v, q):
        return Decimal(repr(float(v))).quantize(Decimal(q), ROUND_HALF_UP)

    for flag, g in pdf.groupby("l_returnflag"):
        x = g["l_extendedprice"].to_numpy(dtype=np.float64)
        y = g["l_quantity"].to_numpy(dtype=np.float64)
        # numpy's textbook values — agreement to relative 1e-9
        v, s, c = got[flag]
        assert abs(v - x.var(ddof=1)) <= 1e-9 * abs(v)
        assert abs(s - x.std(ddof=1)) <= 1e-9 * abs(s)
        assert abs(c - np.corrcoef(x, y)[0, 1]) <= 1e-9
        # bit-level: replicate the exact decimal moment pipeline
        n = float(len(x))
        sx = float(sum(dec(t, "1e-10") for t in x))
        sxx = float(sum(dec(t * t, "1e-8") for t in x))
        sy = float(sum(dec(t, "1e-10") for t in y))
        syy = float(sum(dec(t * t, "1e-8") for t in y))
        sxy = float(sum(dec(a * b, "1e-8") for a, b in zip(x, y)))
        var = (sxx - sx * sx / n) / (n - 1)
        corr = (sxy - sx * sy / n) / math.sqrt(
            (sxx - sx * sx / n) * (syy - sy * sy / n)
        )
        assert v == var and s == math.sqrt(var) and c == corr


def test_chi_square_reference(spark):
    """Pearson chi-square contingency terms re-derived with exact
    Fraction arithmetic from raw parquet (textbook (O-E)^2/E), floored
    to micro-units — proves the integer-lattice formulation equals the
    definition, not just engine parity."""
    from fractions import Fraction

    o = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet", columns=["o_orderpriority", "o_orderstatus"]
    )
    obs = Counter(zip(o.o_orderpriority, o.o_orderstatus))
    rm = Counter(o.o_orderpriority)
    cm = Counter(o.o_orderstatus)
    n = len(o)
    rows = api.queries()["q_chi_square"](spark, SF_SMOKE).collect()
    assert len(rows) == len(obs)
    for r in rows:
        k = (r["priority"], r["status"])
        e = Fraction(rm[k[0]] * cm[k[1]], n)
        term = (Fraction(obs[k]) - e) ** 2 / e
        assert r["observed"] == obs[k]
        assert r["expected_micro"] == (e * 1_000_000).__floor__()
        assert r["chi2_term_micro"] == (term * 1_000_000).__floor__()
    # non-vacuity: contributions spread across cells
    assert len({r["chi2_term_micro"] for r in rows}) > 10


def test_cuped_reference(spark):
    """CUPED recomputed with exact python integers from raw parquet:
    per-user centi masses split at the epoch midpoint, HUGEINT-style
    moment sums, sign-factored theta_ppm, and the per-arm adjusted
    means must match the operator bit for bit."""
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet", columns=["user_id", "ts", "value"]
    )
    ep = ev.ts.astype("datetime64[s]").astype("int64")
    cent = np.floor(ev.value.to_numpy() * 100).astype("int64")
    mid = (int(ep.min()) + int(ep.max())) // 2
    per: dict[int, list[int]] = {}
    for u, e, c in zip(ev.user_id.astype(int), ep, cent):
        x, y = per.setdefault(u, [0, 0])
        if e <= mid:
            per[u][0] = x + int(c)
        else:
            per[u][1] = y + int(c)
    n = len(per)
    sx = sum(x for x, _ in per.values())
    sy = sum(y for _, y in per.values())
    sxx = sum(x * x for x, _ in per.values())
    sxy = sum(x * y for x, y in per.values())
    num, den = n * sxy - sx * sy, max(n * sxx - sx * sx, 1)
    theta_ppm = (
        num * 1_000_000 // den if num >= 0 else -((-num) * 1_000_000 // den)
    )
    x_all = sx * 1_000_000 // n
    want = {}
    for arm in (0, 1):
        xs = [
            (x, y)
            for u, (x, y) in per.items()
            if (u * 2654435761 % 2147483648) % 2 == arm
        ]
        na = len(xs)
        xm = sum(x for x, _ in xs) * 1_000_000 // na
        ym = sum(y for _, y in xs) * 1_000_000 // na
        adj_num = theta_ppm * (xm - x_all)
        adj = (
            adj_num // 1_000_000
            if adj_num >= 0
            else -((-adj_num) // 1_000_000)
        )
        want[arm] = (na, xm, ym, theta_ppm, ym - adj)
    rows = api.queries()["m_cuped"](spark, SF_SMOKE).collect()
    got = {
        int(r["arm"]): (
            int(r["n_users"]),
            int(r["x_mean_micro"]),
            int(r["y_mean_micro"]),
            int(r["theta_ppm"]),
            int(r["y_adj_micro"]),
        )
        for r in rows
    }
    assert got == want
    # non-vacuity: theta engaged and the two arms' adjustments differ
    assert want[0][4] != want[0][2] or want[1][4] != want[1][2]
    assert want[0][1] != want[1][1]


def test_anova_matches_numpy(spark, docs_pdf):
    docs = list(docs_pdf.itertuples())
    groups = defaultdict(list)
    for r in docs:
        groups[r.doc_id % 5].append(len(r.text.split(" ")))
    assert len(groups) == 5
    sizes = {len(v) for v in groups.values()}
    assert len(sizes) == 1, "design must be balanced"
    all_v = np.array([v for g in groups.values() for v in g], dtype=np.float64)
    n, k = len(all_v), 5
    grand = all_v.mean()
    ssb = sum(len(v) * (np.mean(v) - grand) ** 2 for v in groups.values())
    ssw = sum(((np.array(v, dtype=np.float64) - np.mean(v)) ** 2).sum() for v in groups.values())
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    (row,) = _rows(spark, "q_anova")
    assert row.k == 5 and row.n == n
    # exact integer sufficient statistics: n*SSB and n*SSW
    assert row.ssb_scaled == pytest.approx(n * ssb, rel=1e-9)
    assert row.ssw_scaled == pytest.approx(n * ssw, rel=1e-9)
    assert row.f_stat == pytest.approx(f_ref, rel=1e-12)
    assert row.ssb_scaled > 0 and row.ssw_scaled > 0  # non-vacuous


def test_bandit_ucb_matches_numpy(spark, docs_pdf):
    stats = defaultdict(lambda: [0, 0])
    for r in docs_pdf.itertuples():
        st = stats[r.lang]
        st[0] += 1
        st[1] += len(r.text.split(" ")) >= 60
    scores = {
        lang: w / n + 2.0 / math.sqrt(n) for lang, (n, w) in stats.items()
    }
    best = max(scores, key=lambda l: scores[l])
    got = {r.lang: r for r in _rows(spark, "m_bandit_ucb")}
    assert set(got) == set(stats)
    for lang, (n, w) in stats.items():
        r = got[lang]
        assert (r.n_docs, r.n_pass) == (n, w)
        assert r.ucb_score == scores[lang]  # bit-exact: IEEE-only ops
        assert r.is_next == (1 if lang == best else 0)
    assert sum(r.is_next for r in got.values()) == 1
    # partial firing at smoke scale too
    assert all(0 < w < n for n, w in stats.values())
