"""Independent re-derivations for the sketch family (HLL register
bank, count-min, inverted index, frequency drift) — python hashlib and
Counters over the raw parquet, same contract as test_stats_reference.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import pandas as pd
import pytest

from tests.conftest import SF_SMOKE
from ukis_kafka_spark import api


def _rows(spark, name):
    return api.queries()[name](spark, SF_SMOKE).collect()


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_hll_registers_reference(spark):
    """Register bank recomputed with python hashlib; the recovered HLL
    estimate must land inside the published error envelope."""
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet", columns=["l_orderkey"])
    distinct = set(li.l_orderkey)
    regs: dict[int, int] = {}
    nh: dict[int, int] = {}
    for k in {_h60(str(int(o))) for o in distinct}:
        bucket, rest = k % 64, k // 64
        rho = 55 if rest == 0 else 55 - rest.bit_length()
        regs[bucket] = max(regs.get(bucket, 0), rho)
        nh[bucket] = nh.get(bucket, 0) + 1
    got = {r["bucket"]: (r["register"], r["n_hashes"]) for r in _rows(spark, "m_hll_registers")}
    assert got == {b: (regs[b], nh[b]) for b in regs}
    # recover the cardinality: alpha_64 * m^2 / sum(2^-M), small-range
    # corrected — must sit within ~3 sigma of 1.04/sqrt(64) = 13%
    m = 64
    alpha = 0.709
    full = {b: regs.get(b, 0) for b in range(m)}
    raw = alpha * m * m / sum(2.0 ** -v for v in full.values())
    zeros = sum(1 for v in full.values() if v == 0)
    import math

    est = m * math.log(m / zeros) if (raw < 2.5 * m and zeros) else raw
    assert abs(est - len(distinct)) / len(distinct) < 0.4


def test_countmin_reference(spark):
    """All 192 counters and the heavy-hitter readback recomputed in
    python; CMS estimates must equal the min-of-rows and can never
    under-count (the sketch's defining guarantee)."""
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["user_id"])
    counts = Counter(int(u) for u in ev.user_id)
    P, W = 2_147_483_647, 64
    hashers = [(1_103_515_245, 12_345), (69_069, 362_437), (214_013, 2_531_011)]
    tables = [defaultdict(int) for _ in hashers]
    slots = {}
    for u, c in counts.items():
        hv = _h60(str(u))
        ss = [(((hv % P) * a + b) % P) % W for a, b in hashers]
        slots[u] = ss
        for r, s in enumerate(ss):
            tables[r][s] += c
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    expect = {
        u: (c, min(tables[r][slots[u][r]] for r in range(3))) for u, c in top
    }
    got = {r["user_id"]: (r["true_count"], r["cms_estimate"]) for r in _rows(spark, "m_countmin")}
    assert got == expect
    for u, (c, e) in got.items():
        assert e >= c  # CMS never under-counts


def test_inverted_index_reference(spark):
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    post: dict[str, set] = defaultdict(set)
    for r in docs.itertuples():
        for t in set(r.text.split(" ")):
            post[t].add(r.doc_id)
    ranked = sorted(post.items(), key=lambda kv: (-len(kv[1]), kv[0]))[:20]
    expect = [
        (t, len(ds), ",".join(str(i) for i in sorted(ds)[:50])) for t, ds in ranked
    ]
    got = [(r["tok"], r["df"], r["postings_head"]) for r in _rows(spark, "m_inverted_index")]
    assert got == expect


def test_freq_drift_reference(spark):
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    a, b = Counter(), Counter()
    for r in docs.itertuples():
        (a if r.doc_id % 2 == 0 else b).update(r.text.split(" "))
    ta, tb = sum(a.values()), sum(b.values())
    drift = []
    for t in set(a) | set(b):
        pa = 1_000_000 * a[t] // ta
        pb = 1_000_000 * b[t] // tb
        drift.append((-abs(pa - pb), t, a[t], b[t], pa, pb))
    drift.sort()
    expect = [(t, na, nb, pa, pb, -d) for d, t, na, nb, pa, pb in drift[:20]]
    got = [
        (r["tok"], r["n_a"], r["n_b"], r["ppm_a"], r["ppm_b"], r["drift_ppm"])
        for r in _rows(spark, "m_freq_drift")
    ]
    assert got == expect


def test_hll_merge_equals_direct(spark):
    """The segment-merged register bank must equal the directly-built
    one from m_hll_registers (merge associativity on real data)."""
    direct = {
        r["bucket"]: r["register"] for r in _rows(spark, "m_hll_registers")
    }
    merged_rows = _rows(spark, "m_hll_merge")
    cols = merged_rows[0].asDict().keys()
    bcol = "bucket"
    rcol = [c for c in cols if "reg" in c][0]
    merged = {r[bcol]: r[rcol] for r in merged_rows}
    assert merged == direct


def test_embed_centroid_reference(spark):
    """Per-label centroid norms recomputed with python Decimal sums on
    the 6-dp grid and integer division."""
    from decimal import ROUND_HALF_UP, Decimal

    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    per: dict[int, list] = {}
    for r in emb.itertuples():
        per.setdefault(r.label, []).append(r.embedding)
    got = {r["label"]: r for r in _rows(spark, "m_embed_centroid")}
    assert set(got) == set(per)
    for lbl, vecs in per.items():
        n = len(vecs)
        micro = []
        for d in range(len(vecs[0])):
            # engine: round(v, 6) on the double (HALF_UP shortest-
            # decimal), then CAST to DECIMAL(28,10) — replicate both
            s = sum(
                Decimal(
                    repr(
                        float(
                            Decimal(repr(float(v[d]))).quantize(
                                Decimal("1e-6"), ROUND_HALF_UP
                            )
                        )
                    )
                ).quantize(Decimal("1e-10"), ROUND_HALF_UP)
                for v in vecs
            )
            scaled = int(s * 1_000_000)  # exact: decimal lattice
            # BIGINT div truncates toward zero in Spark for the
            # (possibly negative) sum — replicate sign-aware
            q = abs(scaled) // n
            micro.append(q if scaled >= 0 else -q)
        g = got[lbl]
        assert g["n_vectors"] == n
        assert g["l1_micro"] == sum(abs(x) for x in micro)
        assert g["linf_micro"] == max(abs(x) for x in micro)


def test_token_count_reference(spark):
    import re

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    pat = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9 ]")
    got = {r["doc_id"]: r for r in _rows(spark, "m_token_count")}
    for r in docs.itertuples():
        ws = len(r.text.split(" "))
        bpe = len(pat.findall(r.text))
        g = got[r.doc_id]
        assert g["ws_tokens"] == ws and g["bpe_ish_tokens"] == bpe
        assert g["fertility"] == bpe / ws


def test_kmv_distinct_reference(spark):
    """KMV re-derived with hashlib: bottom-64 md5-60bit hashes per
    parity shard, estimator (k-1)*2^60 // v_k, merge from sketch
    state only; and the estimate must sit inside the published KMV
    error envelope (~1/sqrt(k-2) relative std, pinned at 4 sigma)."""
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet", columns=["l_partkey"])
    keys = sorted(set(int(k) for k in li.l_partkey))

    def h60(v: int) -> int:
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    sketches = {}
    for half in (0, 1):
        hs = sorted({h60(k) for k in keys if k % 2 == half})[:64]
        sketches[half] = hs
    merged = sorted(sketches[0] + sketches[1])[:64]

    def est(hs):
        return len(hs) if len(hs) < 64 else (63 << 60) // max(hs[-1], 1)

    lns = sorted(set(int(v) for v in pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet", columns=["l_linenumber"]).l_linenumber))
    tiny = sorted({h60(v) for v in lns})[:64]
    want = {
        "half0": (len(sketches[0]), sketches[0][-1], len([k for k in keys if k % 2 == 0])),
        "half1": (len(sketches[1]), sketches[1][-1], len([k for k in keys if k % 2 == 1])),
        "merged": (len(merged), merged[-1], len(keys)),
        "tiny": (len(tiny), tiny[-1], len(lns)),
    }
    by_scope = {"half0": sketches[0], "half1": sketches[1], "merged": merged, "tiny": tiny}
    rows = api.queries()["m_kmv_distinct"](spark, SF_SMOKE).collect()
    assert len(rows) == 4
    for r in rows:
        n, kth, tru = want[r["scope"]]
        assert (r["n_sketch"], r["kth"], r["true_distinct"]) == (n, kth, tru)
        assert r["est_distinct"] == est(by_scope[r["scope"]])
        # error envelope: 4 sigma of 1/sqrt(k-2) ~ 51% relative
        if n == 64:
            assert abs(r["est_distinct"] - tru) <= 0.51 * tru
    # the under-capacity branch genuinely fires: tiny is exact
    assert want["tiny"][0] < 64
    assert {r["scope"]: r["est_distinct"] for r in rows}["tiny"] == len(lns)


def test_theta_intersect_reference(spark):
    """Theta-sketch set algebra recomputed with python hashlib: per
    lang pair the bottom-64 trigram-hash states, theta = min rule,
    survivor count, and both estimators must match the operator
    exactly; the estimates must also land near the exact truths."""
    d = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["lang", "text"])
    sets: dict[str, set[str]] = {l: set() for l in ("en", "fr", "de")}
    for lang, text in zip(d.lang, d.text):
        if lang not in sets:
            continue
        toks = text.split(" ")
        sets[lang].update(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        )
    K, M = 64, 1 << 60
    sk = {f: sorted(_h60(g) for g in sets[f])[:K] for f in sets}
    got = {r["pair"]: r for r in _rows(spark, "m_theta_intersect")}
    assert set(got) == {"en|fr", "en|de", "fr|de"}
    for f1, f2 in (("en", "fr"), ("en", "de"), ("fr", "de")):
        s1, s2 = sk[f1], sk[f2]
        th1 = M if len(s1) < K else max(s1)
        th2 = M if len(s2) < K else max(s2)
        theta = min(th1, th2)
        surv = [h for h in set(s1) & set(s2) if h < theta]
        est_i = len(surv) * M // max(theta, 1)
        u = sorted(set(s1) | set(s2))[:K]
        est_u = len(u) if len(u) < K else (K - 1) * M // max(max(u), 1)
        true_i = len(sets[f1] & sets[f2])
        true_u = len(sets[f1] | sets[f2])
        r = got[f"{f1}|{f2}"]
        assert (
            int(r["theta"]),
            int(r["n_inter"]),
            int(r["est_inter"]),
            int(r["true_inter"]),
            int(r["est_union"]),
            int(r["true_union"]),
        ) == (theta, len(surv), est_i, true_i, est_u, true_u)
        # estimator quality: union is the plain KMV bound
        # (~1/sqrt(k-2) ≈ 13%); the intersection estimator compounds
        # both sketches' noise on partially-overlapping sets — allow
        # a generous envelope, the exact-match assertions above are
        # the real check.
        assert abs(est_u - true_u) <= 0.4 * true_u
        assert abs(est_i - true_i) <= 0.9 * true_i


def test_ams_f2_matches_python_md5(spark, docs_pdf):
    from ukis_kafka_spark.ml.sketch import _AMS_ROWS

    freqs = defaultdict(Counter)
    for r in docs_pdf.itertuples():
        for t in r.text.split(" "):
            freqs[r.lang][t] += 1
    got = {(r.lang, r.r): r for r in _rows(spark, "m_ams_f2")}
    assert len(got) == len(freqs) * _AMS_ROWS
    for lang, c in freqs.items():
        exact = sum(f * f for f in c.values())
        for rr in range(_AMS_ROWS):
            s = 0
            for tok, f in c.items():
                h = hashlib.md5(f"{tok}:{rr}".encode()).hexdigest()[0]
                s += f if h in "13579bdf" else -f
            row = got[(lang, rr)]
            assert (row.s_signed, row.f2_exact) == (s, exact)
            assert row.f2_est == s * s
            assert row.err_ppm == abs(s * s - exact) // max(exact // 1_000_000, 1)
    # the estimator is actually informative at smoke scale: the median
    # estimate lands within 2x of exact for every lang
    for lang, c in freqs.items():
        exact = sum(f * f for f in c.values())
        ests = sorted(got[(lang, rr)].f2_est for rr in range(_AMS_ROWS))
        med = (ests[_AMS_ROWS // 2 - 1] + ests[_AMS_ROWS // 2]) // 2
        assert 0 < med < 4 * exact
