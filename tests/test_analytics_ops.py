"""Reference-implementation tests for the round-4 analytics / ML
additions (RFM, Pareto, autocorr, BPE, stump, naive Bayes, centroid
eval, feature hashing, parquet-footer scan).

The oracle gate proves *engine parity* — Spark and DuckDB compute the
same thing.  These tests close the other half: an independent plain
Python / numpy re-derivation proves the thing computed is the thing
the algorithm's definition says (guards against both-engines-wrong-
the-same-way bugs in the shared formulation).
"""

from __future__ import annotations

import collections
import hashlib
import math

import numpy as np
import pytest

from tests.conftest import SF_SMOKE
from ukis_kafka_spark import api


def _rows(spark, name, sf=SF_SMOKE):
    return api.queries()[name](spark, sf).collect()


def _events(spark):
    from ukis_kafka_spark.sources import load_table

    return load_table(spark, SF_SMOKE, "events").collect()


def _docs(spark):
    from ukis_kafka_spark.sources import load_table

    return [
        (r.doc_id, r.lang, r.text)
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    ]


# ---------------------------------------------------------------- BPE


def _ref_bpe(word_counts, rounds):
    """Plain-Python BPE trainer mirroring the declared merge rule:
    count ALL adjacent pairs, argmax (count desc, pair asc), merge via
    two-pass non-overlapping space-guarded replace."""
    words = {w: " ".join(w) for w in word_counts}
    merges = []
    for _ in range(rounds):
        pair_w = collections.Counter()
        for w, s in words.items():
            syms = s.split(" ")
            for a, b in zip(syms, syms[1:]):
                pair_w[(a, b)] += word_counts[w]
        best = min(pair_w.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        pat, rep = f" {a} {b} ", f" {a}{b} "
        for w, s in words.items():
            padded = f" {s} "
            padded = padded.replace(pat, rep).replace(pat, rep)
            words[w] = padded.strip()
        nsym = len({sym for s in words.values() for sym in s.split(" ")})
        merges.append((a, b, cnt, nsym))
    return words, merges


def test_bpe_merges_match_reference_trainer(spark):
    docs = _docs(spark)
    wc = collections.Counter(t for _, _, text in docs for t in text.split(" "))
    _, ref = _ref_bpe(wc, 3)
    got = sorted(_rows(spark, "m_bpe_merges"), key=lambda r: r["round"])
    assert [(r.sym_a, r.sym_b, r.merge_count, r.n_symbols_after) for r in got] == ref


def test_bpe_apply_counts_match_reference(spark):
    docs = _docs(spark)
    wc = collections.Counter(t for _, _, text in docs for t in text.split(" "))
    words, _ = _ref_bpe(wc, 3)
    wordlen = {w: len(s.split(" ")) for w, s in words.items()}
    got = {r.doc_id: (r.n_words, r.n_bpe_tokens) for r in _rows(spark, "m_bpe_apply")}
    for doc_id, _, text in docs:
        toks = text.split(" ")
        assert got[doc_id] == (len(toks), sum(wordlen[t] for t in toks))


# -------------------------------------------------------- decision stump


def test_decision_stump_matches_bruteforce_gini(spark):
    from ukis_kafka_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events").collect()
    v = np.array([math.floor(r.value * 1_000_000) for r in ev], dtype=np.int64)
    y = np.array([1 if r.event_type == "click" else 0 for r in ev], dtype=np.int64)
    vmin, vmax = int(v.min()), int(v.max())
    cell = (v - vmin) * 32 // (vmax - vmin + 1)
    best = None
    for t in range(1, 33):
        left = cell < t
        n_l, n_r = int(left.sum()), int((~left).sum())
        if n_l == 0 or n_r == 0:
            continue
        pos_l, pos_r = int(y[left].sum()), int(y[~left].sum())
        num = (n_l * n_l - pos_l**2 - (n_l - pos_l) ** 2) * n_r + (
            n_r * n_r - pos_r**2 - (n_r - pos_r) ** 2
        ) * n_l
        key = (num / (n_l * n_r), t)
        if best is None or key < best[0]:
            best = (key, t, n_l, pos_l, n_r, pos_r)
    got = [r for r in _rows(spark, "m_decision_stump") if r["rank"] == 1][0]
    assert (got.t, got.n_l, got.pos_l, got.n_r, got.pos_r) == best[1:]


# ---------------------------------------------------------- naive Bayes


def test_naive_bayes_confusion_matches_reference(spark):
    docs = _docs(spark)
    lang_tok = collections.Counter()
    lang_tot = collections.Counter()
    vocab = set()
    for _, lang, text in docs:
        for t in text.split(" "):
            lang_tok[(lang, t)] += 1
            lang_tot[lang] += 1
            vocab.add(t)
    langs = sorted(lang_tot)
    V = len(vocab)
    conf = collections.Counter()
    for _, lang, text in docs:
        cnt = collections.Counter(text.split(" "))
        scores = {}
        for L in langs:
            s = 0.0
            for t, c in cnt.items():
                term = round(c * math.log((lang_tok[(L, t)] + 1) / (lang_tot[L] + V)), 6)
                s += term  # float sum adequate for a strict-argmax check
            scores[L] = s
        pred = min(langs, key=lambda L: (-scores[L], L))
        # margin must exceed float-summation error (~1e-12 for ~100
        # six-dp terms) so the float reference can't flip the argmax
        runner = sorted(scores.values(), reverse=True)
        assert runner[0] - runner[1] > 1e-6
        conf[(lang, pred)] += 1
    got = {(r.true_lang, r.pred_lang): r.n for r in _rows(spark, "m_naive_bayes")}
    assert got == dict(conf)


# --------------------------------------------------------- centroid eval


def test_centroid_eval_matches_numpy(spark):
    from ukis_kafka_spark.sources import load_table

    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    V = {r.vec_id: (r.label, np.floor(np.array(r.embedding, dtype=np.float64) * 10_000).astype(np.int64)) for r in rows}
    sums = collections.defaultdict(lambda: None)
    counts = collections.Counter()
    for lbl, v in V.values():
        sums[lbl] = v.copy() if sums[lbl] is None else sums[lbl] + v
        counts[lbl] += 1
    cents = {}
    for lbl, s in sums.items():
        n = counts[lbl]
        scaled = s * 1000
        cents[lbl] = np.where(scaled >= 0, scaled // n, -((-scaled) // n))
    conf = collections.Counter()
    for lbl, v in V.values():
        d2 = {c: int(((v * 1000 - cv) ** 2).sum()) for c, cv in cents.items()}
        pred = min(d2, key=lambda c: (d2[c], c))
        conf[(lbl, pred)] += 1
    per_true = collections.Counter()
    per_pred = collections.Counter()
    for (t, p), n in conf.items():
        per_true[t] += n
        per_pred[p] += n
    got = {r.label: r for r in _rows(spark, "m_centroid_eval")}
    assert set(got) == set(per_true)
    for lbl, r in got.items():
        tp = conf.get((lbl, lbl), 0)
        assert r.n_true == per_true[lbl]
        assert r.n_pred == per_pred.get(lbl, 0)
        assert r.tp == tp
        if r.n_pred:
            assert r.precision_ppm == tp * 1_000_000 // r.n_pred
        assert r.recall_ppm == tp * 1_000_000 // r.n_true


# ------------------------------------------------------- feature hashing


def test_feature_hashing_matches_md5_reference(spark):
    docs = _docs(spark)
    got = {r.doc_id: r for r in _rows(spark, "m_feature_hashing")}
    for doc_id, _, text in docs:
        buckets = collections.Counter(
            int(hashlib.md5(t.encode()).hexdigest()[:2], 16) % 64
            for t in text.split(" ")
        )
        r = got[doc_id]
        assert r.nnz == len(buckets)
        assert r.n_tokens == sum(buckets.values())
        assert r.fvec == ",".join(f"{b}:{c}" for b, c in sorted(buckets.items()))


# ------------------------------------------------------------- analytics


def test_rfm_bucket_sizes_and_extremes(spark):
    rows = _rows(spark, "q_rfm")
    n = len(rows)
    for col in ("r_bucket", "f_bucket", "m_bucket"):
        sizes = collections.Counter(r[col] for r in rows)
        assert set(sizes) == {1, 2, 3, 4, 5}
        # ntile: first (n mod 5) buckets get the extra row
        base, extra = divmod(n, 5)
        assert sizes == {b: base + (1 if b <= extra else 0) for b in range(1, 6)}
    top_m = max(rows, key=lambda r: (r.monetary_micros, -r.custkey))
    assert top_m.m_bucket == 1


def test_pareto_abc_class_boundaries(spark):
    rows = sorted(_rows(spark, "q_pareto_abc"), key=lambda r: r.rnk)
    total = sum(r.revenue_micros for r in rows)
    cum = 0
    for r in rows:
        cum += r.revenue_micros
        expected = "A" if cum * 5 <= total * 4 else ("B" if cum * 20 <= total * 19 else "C")
        assert r.abc_class == expected
    assert rows[0].abc_class == "A" and rows[-1].abc_class == "C"


def test_autocorr_matches_numpy(spark):
    from ukis_kafka_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events").collect()
    from datetime import datetime, timedelta

    epoch = datetime(1970, 1, 1)
    hours = collections.Counter(
        (r.ts.replace(minute=0, second=0, microsecond=0) - epoch)
        // timedelta(hours=1)
        for r in ev
    )
    got = {r.lag_hours: r for r in _rows(spark, "q_autocorr")}
    for k, r in got.items():
        pairs = [(hours[h], hours[h + k]) for h in hours if h + k in hours]
        xs = np.array([p[0] for p in pairs], dtype=np.int64)
        ys = np.array([p[1] for p in pairs], dtype=np.int64)
        assert r.n_pairs == len(pairs)
        assert r.s_xy == int((xs * ys).sum())
        assert r.corr_num == len(pairs) * int((xs * ys).sum()) - int(xs.sum()) * int(ys.sum())
        # derived Pearson r agrees with numpy's (guards the identity itself)
        if r.corr_den_x > 0 and r.corr_den_y > 0 and len(pairs) > 2:
            mine = r.corr_num / math.sqrt(r.corr_den_x * r.corr_den_y)
            ref = np.corrcoef(xs, ys)[0, 1]
            assert abs(mine - ref) < 1e-9


def test_hierarchy_rollup_prefix_equals_div_chain(spark):
    rows = {r.node: r for r in _rows(spark, "q_hierarchy_rollup")}
    # closed form check: node k's subtree == parts whose div-10 chain hits k
    from ukis_kafka_spark.sources import load_table

    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    parts = {r.l_partkey for r in li}
    for node in list(rows)[:20]:
        members = set()
        for p in parts:
            q = p
            while q >= 1:
                if q == node:
                    members.add(p)
                    break
                q //= 10
        assert rows[node].n_parts == len(members)


def test_parquet_meta_row_groups(spark):
    rows = sorted(_rows(spark, "src_parquet_meta"), key=lambda r: r.rg)
    from ukis_kafka_spark.sources import load_table

    keys = sorted(
        r.o_orderkey for r in load_table(spark, SF_SMOKE, "orders").collect()
    )
    assert sum(r.rg_rows for r in rows) == len(keys)
    assert rows[0].min_key == keys[0] and rows[-1].max_key == keys[-1]
    off = 0
    for r in rows:
        assert r.min_key == keys[off]
        assert r.max_key == keys[off + r.rg_rows - 1]
        off += r.rg_rows


def test_quantile_hist_brackets_true_percentile(spark):
    from ukis_kafka_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events").collect()
    v = sorted(math.floor(r.value * 1_000_000) for r in ev)
    got = {r.p: r for r in _rows(spark, "q_quantile_hist")}
    assert set(got) == {50, 90, 95, 99}
    for p, r in got.items():
        target = (len(v) * p + 99) // 100
        assert r.target_rank == target
        true_pct = v[target - 1]  # ceil-rank order statistic
        assert r.lo_micro <= true_pct < r.hi_micro
        assert r.n == len(v)


def test_calibration_curve_is_informative(spark):
    rows = {r.decile: r for r in _rows(spark, "m_calibration_curve")}
    assert set(rows) == set(range(1, 11))
    # margins partition cleanly and accuracy rises with confidence
    for d in range(1, 10):
        assert rows[d].max_margin <= rows[d + 1].min_margin
    assert rows[10].acc_ppm >= rows[1].acc_ppm
    for r in rows.values():
        assert r.acc_ppm == r.n_correct * 1_000_000 // r.n


def test_bitmap_distinct_matches_set_counting(spark):
    from datetime import datetime

    ev = _events(spark)
    hourly, daily = collections.defaultdict(set), collections.defaultdict(set)
    for r in ev:
        day = int(r.ts.replace(hour=0, minute=0, second=0, microsecond=0)
                  .timestamp())
        hour = int(r.ts.replace(minute=0, second=0, microsecond=0).timestamp())
        hourly[(day, hour)].add(r.user_id)
        daily[day].add(r.user_id)
    rows = _rows(spark, "q_bitmap_distinct")
    assert len(rows) == len(hourly)
    for r in rows:
        assert r.hourly_users == len(hourly[(r.day_start, r.hour_start)])
        assert r.daily_users == len(daily[r.day_start])


def test_changepoint_matches_python_cusum(spark):
    ev = _events(spark)
    counts = collections.Counter(
        int(r.ts.replace(minute=0, second=0, microsecond=0).timestamp())
        for r in ev
    )
    hours = sorted(counts)
    n, total = len(hours), sum(counts.values())
    prefix, devs = 0, {}
    for i, h in enumerate(hours, start=1):
        prefix += counts[h]
        devs[h] = n * prefix - i * total
    top = sorted(devs.items(), key=lambda kv: (-abs(kv[1]), kv[0]))[:5]
    rows = _rows(spark, "q_changepoint")
    assert sorted((r.hour_start, r.dev_scaled) for r in rows) == sorted(top)
    for r in rows:
        assert r.c == counts[r.hour_start]


def test_incremental_agg_merge_equals_direct(spark):
    from decimal import Decimal

    ev = _events(spark)
    n = collections.Counter(r.event_type for r in ev)
    mass = collections.defaultdict(Decimal)
    for r in ev:
        mass[r.event_type] += Decimal(str(r.value))
    for r in _rows(spark, "q_incremental_agg"):
        assert r.n == n[r.event_type]
        assert r.mass_micros == int(mass[r.event_type] * 1_000_000)


def test_benford_digits_and_constants(spark):
    from ukis_kafka_spark.sources import load_table

    orders = load_table(spark, SF_SMOKE, "orders").collect()
    counts = collections.Counter(str(int(r.o_totalprice))[0] for r in orders)
    total = sum(counts.values())
    rows = _rows(spark, "q_benford")
    assert {r.digit for r in rows} <= set(range(1, 10))
    for r in rows:
        assert r.cnt == counts[str(r.digit)]
        assert r.obs_micro == r.cnt * 1_000_000 // total
        assert r.benford_micro == int(math.floor(math.log10(1 + 1 / r.digit) * 1e6))


def test_ab_test_counts_and_rates(spark):
    ev = _events(spark)
    per = collections.defaultdict(lambda: [0, 0, 0, 0])  # n_a n_b k_a k_b
    for r in ev:
        v = r.user_id % 2
        p = per[r.event_type]
        p[v] += 1
        if r.value > 50:
            p[2 + v] += 1
    rows = _rows(spark, "q_ab_test")
    assert rows and all(r.n_a > 0 and r.n_b > 0 for r in rows)
    # conversion threshold must be non-vacuous on the measured corpus
    assert any(r.k_a > 0 for r in rows) and any(r.k_b > 0 for r in rows)
    for r in rows:
        n_a, n_b, k_a, k_b = per[r.event_type]
        assert (r.n_a, r.n_b, r.k_a, r.k_b) == (n_a, n_b, k_a, k_b)
        assert r.lift_micro == k_a * 1_000_000 // n_a - k_b * 1_000_000 // n_b


def _np_km_fit(spark):
    """Integer-exact numpy replica of similarity._km_fit (quantize ->
    seed first K -> 2 Lloyd rounds with truncating integer division)."""
    from ukis_kafka_spark.ml import similarity as S
    from ukis_kafka_spark.sources import load_table

    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    X = np.stack([
        np.floor(np.asarray(r.embedding, dtype=np.float64) * 1_000_000).astype(np.int64)
        + S._KM_OFF
        for r in rows
    ])
    cent = X[ids < S._KM_K].copy()
    assign = None
    for _ in range(S._KM_ROUNDS):
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # ties broken by lowest cluster id
        cent = np.stack([
            X[assign == k].sum(axis=0) // max((assign == k).sum(), 1)
            for k in range(S._KM_K)
        ])
    return ids, X, assign, cent, [r.label for r in rows]


def test_cluster_purity_matches_numpy_kmeans(spark):
    ids, X, assign, cent, labels = _np_km_fit(spark)
    per = collections.defaultdict(collections.Counter)
    for a, lab in zip(assign, labels):
        per[int(a)][lab] += 1
    rows = {r.cluster: r for r in _rows(spark, "m_cluster_purity")}
    assert set(rows) == set(per)
    for k, r in rows.items():
        n = sum(per[k].values())
        maj_label, maj_n = min(per[k].items(), key=lambda kv: (-kv[1], kv[0]))
        assert (r.n, r.major_label, r.major_n) == (n, maj_label, maj_n)
        assert r.purity_micro == maj_n * 1_000_000 // n


def test_coreset_sample_is_top_sensitivity(spark):
    ids, X, assign, cent, _ = _np_km_fit(spark)
    d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    best = d2.argmin(axis=1)
    sens = d2[np.arange(len(X)), best]
    expected = collections.defaultdict(list)
    for vid, k, s in zip(ids, best, sens):
        expected[int(k)].append((-int(s), int(vid)))
    rows = _rows(spark, "m_coreset_sample")
    got = collections.defaultdict(list)
    for r in rows:
        got[r.cluster].append((r.vec_id, r.sensitivity))
    for k, cand in expected.items():
        top = [(vid, -negs) for negs, vid in sorted(cand)[:5]]
        assert sorted(got[k]) == sorted(top)


def test_mmr_select_matches_greedy(spark):
    from ukis_kafka_spark.ml import similarity as S
    from ukis_kafka_spark.sources import load_table

    rows = [
        r for r in load_table(spark, SF_SMOKE, "embeddings").collect()
        if r.vec_id < S._MMR_POOL
    ]
    rows.sort(key=lambda r: r.vec_id)
    V = np.stack([
        np.floor(np.asarray(r.embedding, dtype=np.float64) * 1000).astype(np.int64)
        for r in rows
    ])
    ids = [r.vec_id for r in rows]
    dots = V @ V.T
    rel = np.diag(dots)
    selected, scores = [], []
    for _ in range(3):
        best = None
        for i, vid in enumerate(ids):
            if vid in selected:
                continue
            score = rel[i] - (max(dots[i][ids.index(s)] for s in selected)
                              if selected else 0)
            cand = (-score, vid)
            if best is None or cand < best:
                best = cand
        selected.append(best[1])
        scores.append(-best[0])
    got = sorted(_rows(spark, "m_mmr_select"), key=lambda r: r.rank)
    assert [r.vec_id for r in got] == selected
    assert [r.score for r in got] == scores


def test_suffix_prefix_dup_matches_python(spark):
    import re

    pairs = set()
    docs = [(d, re.sub(r"[^a-z0-9]", "", t.lower())) for d, _, t in _docs(spark)]
    keyed = [(d, t[:12], t[-12:]) for d, t in docs if len(t) >= 12]
    for a_id, _, a_suf in keyed:
        for b_id, b_pref, _ in keyed:
            if a_id != b_id and a_suf == b_pref:
                pairs.add((a_id, b_id, a_suf))
    got = {(r.src_id, r.dst_id, r.glue) for r in _rows(spark, "m_suffix_prefix_dup")}
    assert got == pairs


def test_confusion_matrix_consistent_with_centroid_eval(spark):
    conf = _rows(spark, "m_confusion_matrix")
    ev = {r.label: r for r in _rows(spark, "m_centroid_eval")}
    row_sums = collections.Counter()
    col_sums = collections.Counter()
    diag = {}
    for r in conf:
        row_sums[r.true_label] += r.n
        col_sums[r.pred_label] += r.n
        if r.true_label == r.pred_label:
            diag[r.true_label] = r.n
    for label, e in ev.items():
        assert row_sums[label] == e.n_true
        assert col_sums.get(label, 0) == e.n_pred
        assert diag.get(label, 0) == e.tp
    assert sum(r.n for r in conf) == sum(e.n_true for e in ev.values())


def test_radius_neighbors_matches_brute_force(spark):
    ev = _events(spark)
    lon = np.array([r.value * 3.6 - 180 for r in ev])
    lat = np.array([float((r.user_id * 7) % 180 - 90) for r in ev])
    dl = np.abs(lon[:, None] - lon[None, :])
    dm = np.abs(lat[:, None] - lat[None, :])
    within = (dl <= 2.0) & (dm <= 2.0)
    np.fill_diagonal(within, False)
    counts = within.sum(axis=1)
    expected = collections.Counter(int(c) for c in counts)
    rows = _rows(spark, "g_radius_neighbors")
    assert {r.n_neighbors: r.n_points for r in rows} == dict(expected)
    assert sum(r.n_points for r in rows) == len(ev)


def test_rolling_variance_matches_python(spark):
    ev = _events(spark)
    import math as _math

    hourly = collections.defaultdict(lambda: [0, 0, 0])
    for r in ev:
        h = int(r.ts.replace(minute=0, second=0, microsecond=0).timestamp())
        x = int(_math.floor(r.value * 100))
        p = hourly[h]
        p[0] += 1
        p[1] += x
        p[2] += x * x
    hours = sorted(hourly)
    rows = {r.hour_start: r for r in _rows(spark, "q_rolling_variance")}
    assert set(rows) == set(hours)
    for i, h in enumerate(hours):
        win = hours[max(0, i - 23): i + 1]
        N = sum(hourly[w][0] for w in win)
        S = sum(hourly[w][1] for w in win)
        SS = sum(hourly[w][2] for w in win)
        r = rows[h]
        assert (r.big_n, r.big_s, r.big_ss) == (N, S, SS)
        assert r.var_scaled == N * SS - S * S
        assert r.var_scaled >= 0  # N*SS - S^2 = N^2 * var_pop >= 0


def test_parallel_variance_equals_two_pass(spark):
    import math as _math

    ev = _events(spark)
    per = collections.defaultdict(list)
    for r in ev:
        per[r.event_type].append(int(_math.floor(r.value * 100)))
    for r in _rows(spark, "q_parallel_variance"):
        xs = per[r.event_type]
        n, s, ss = len(xs), sum(xs), sum(x * x for x in xs)
        assert (r.n, r.s, r.ss) == (n, s, ss)
        assert r.var_scaled == n * ss - s * s
        mean = s / n
        two_pass = sum((x - mean) ** 2 for x in xs)
        assert abs(r.var_scaled / (n * n) - two_pass / n) < 1e-6 * max(two_pass, 1)


def test_lorenz_deciles_monotone_and_complete(spark):
    rows = sorted(_rows(spark, "q_lorenz_deciles"), key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(1, 11))
    assert rows[-1].cum_share_ppm == 1_000_000
    shares = [r.cum_share_ppm for r in rows]
    assert shares == sorted(shares)
    # Lorenz curve lies under the diagonal (revenue-ranked ascending)
    for i, r in enumerate(rows[:-1], start=1):
        assert r.cum_share_ppm <= i * 100_000
    total = sum(r.dec_centi for r in rows)
    cum = 0
    for r in rows:
        cum += r.dec_centi
        assert r.cum_share_ppm == cum * 1_000_000 // total


def test_dataset_card_matches_python(spark):
    docs = _docs(spark)
    from ukis_kafka_spark.sources import load_table

    full = load_table(spark, SF_SMOKE, "documents").collect()
    texts = [r.text for r in full]
    (card,) = _rows(spark, "m_dataset_card")
    assert card.n_docs == len(full)
    assert card.n_dup_docs == len(texts) - len(set(texts))
    assert card.dup_ppm == card.n_dup_docs * 1_000_000 // card.n_docs
    assert card.n_langs == len({r.lang for r in full})
    assert card.n_sources == len({r.source for r in full})
    assert card.total_chars == sum(r.n_chars for r in full)
    assert card.mean_chars == card.total_chars // card.n_docs


def test_graph_modularity_matches_python(spark):
    from ukis_kafka_spark.sources import load_table

    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    brand = {
        r.p_partkey: r.p_brand
        for r in load_table(spark, SF_SMOKE, "part").collect()
    }
    per_order = collections.defaultdict(set)
    for r in li:
        per_order[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for ps in per_order.values():
        ps = sorted(ps)
        for i, a in enumerate(ps):
            for b in ps[i + 1:]:
                edges.add((a, b))
    m = len(edges)
    deg = collections.Counter()
    e_in = collections.Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
        if brand[a] == brand[b]:
            e_in[brand[a]] += 1
    deg_b = collections.Counter()
    n_nodes = collections.Counter()
    for node, d in deg.items():
        deg_b[brand[node]] += d
        n_nodes[brand[node]] += 1
    rows = _rows(spark, "m_graph_modularity")
    assert {r.brand for r in rows} == set(deg_b)
    q_scaled = 0
    for r in rows:
        assert r.n_nodes == n_nodes[r.brand]
        assert r.deg_sum == deg_b[r.brand]
        assert r.e_in == e_in.get(r.brand, 0)
        assert r.contrib_scaled == 4 * m * r.e_in - r.deg_sum * r.deg_sum
        q_scaled += r.contrib_scaled
    assert -4 * m * m <= q_scaled <= 4 * m * m  # Q in [-1, 1]


def test_dbscan_classify_matches_brute_force(spark):
    ev = _events(spark)
    ids = [r.event_id for r in ev]
    lon = np.array([r.value * 3.6 - 180 for r in ev])
    lat = np.array([float((r.user_id * 7) % 180 - 90) for r in ev])
    within = (np.abs(lon[:, None] - lon[None, :]) <= 2.0) & (
        np.abs(lat[:, None] - lat[None, :]) <= 2.0
    )
    np.fill_diagonal(within, False)
    counts = within.sum(axis=1)
    is_core = counts >= 4
    # border: non-core with at least one core neighbor
    has_core_nb = (within & is_core[None, :]).any(axis=1)
    cls = np.where(is_core, "core", np.where(has_core_nb, "border", "noise"))
    expected = collections.Counter(cls.tolist())
    got = {r.cls: r.n_points for r in _rows(spark, "g_dbscan_classify")}
    assert got == dict(expected)
    assert set(got) == {"core", "border", "noise"}  # non-vacuous at smoke scale


def test_share_of_total_sums_and_top(spark):
    rows = _rows(spark, "q_share_of_total")
    assert len(rows) == len({r.nation for r in rows})
    total = sum(r.rev_micros for r in rows)
    top = max(r.rev_micros for r in rows)
    for r in rows:
        assert r.share_permille == r.rev_micros * 1000 // total
        assert r.vs_top_permille == r.rev_micros * 1000 // top
    assert max(r.vs_top_permille for r in rows) == 1000
    # permille shares sum to ~1000 (floor rounding loses < |rows|)
    s = sum(r.share_permille for r in rows)
    assert 1000 - len(rows) <= s <= 1000


def test_cumulative_distinct_matches_set_union(spark):
    ev = _events(spark)
    per_day = collections.defaultdict(set)
    for r in ev:
        d = int(r.ts.replace(hour=0, minute=0, second=0, microsecond=0).timestamp())
        per_day[d].add(r.user_id)
    seen, expected = set(), {}
    for d in sorted(per_day):
        seen |= per_day[d]
        expected[d] = len(seen)
    got = {r.day_start: r.cum_users for r in _rows(spark, "q_cumulative_distinct")}
    assert got == expected


def _np_centroid_dist(spark):
    """Integer-exact numpy replica of similarity._centroid_dist."""
    from ukis_kafka_spark.sources import load_table

    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    labels = np.array([r.label for r in rows], dtype=np.int64)
    V = np.stack([
        np.floor(np.asarray(r.embedding, dtype=np.float64) * 10_000).astype(np.int64)
        for r in rows
    ])
    n_labels = labels.max() + 1
    cent = np.zeros((n_labels, V.shape[1]), dtype=np.int64)
    for lab in range(n_labels):
        s = V[labels == lab].sum(axis=0)
        n = (labels == lab).sum()
        cent[lab] = np.where(s >= 0, (s * 1000) // n, -((-s * 1000) // n))
    d2 = ((V[:, None, :] * 1000 - cent[None, :, :]) ** 2).sum(axis=2)
    return ids, labels, d2


def test_active_learning_select_is_min_margin(spark):
    ids, labels, d2 = _np_centroid_dist(spark)
    srt = np.sort(d2, axis=1)
    margin = srt[:, 1] - srt[:, 0]
    expected = sorted(zip(margin.tolist(), ids.tolist()))[:20]
    rows = sorted(_rows(spark, "m_active_learning_select"),
                  key=lambda r: (r.margin, r.vec_id))
    assert [(r.margin, r.vec_id) for r in rows] == expected
    lab = dict(zip(ids.tolist(), labels.tolist()))
    assert all(r.true_label == lab[r.vec_id] for r in rows)


def test_decile_lift_identities(spark):
    rows = sorted(_rows(spark, "m_decile_lift"), key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(1, 11))
    total_n = sum(r.n for r in rows)
    total_pos = sum(r.n_pos for r in rows)
    cum = 0
    for r in rows:
        cum += r.n_pos
        assert r.cum_capture_ppm == cum * 1_000_000 // total_pos
        assert r.lift_permille == r.n_pos * total_n * 1000 // (r.n * total_pos)
    assert rows[-1].cum_capture_ppm == 1_000_000
    # the scorer must actually rank: top decile beats the bottom one
    assert rows[0].lift_permille > rows[-1].lift_permille


# ---- round-4 continuation-2 invariants -------------------------------


def test_neyman_allocation_exhausts_budget(spark):
    from ukis_kafka_spark import api

    rows = api.queries()["m_neyman_allocation"](spark, SF_SMOKE).collect()
    assert sum(r.alloc for r in rows) == 1000
    # largest-remainder never strays more than 1 seat from the real quota
    tot_w = sum(r.neyman_weight for r in rows)
    for r in rows:
        exact = 1000 * r.neyman_weight / tot_w
        assert abs(r.alloc - exact) < 1.0


def test_weighted_median_crossing_rule(spark):
    from ukis_kafka_spark import api
    from ukis_kafka_spark.sources import load_table
    from pyspark.sql import functions as F

    med = {
        r.flag: r.wmedian_centi
        for r in api.queries()["q_weighted_median"](spark, SF_SMOKE).collect()
    }
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
        F.floor(F.col("l_quantity")).cast("long").alias("wt"),
    )
    for flag, m in med.items():
        below, total = (
            li.where(F.col("flag") == flag)
            .agg(
                F.sum(F.when(F.col("pc") <= m, F.col("wt")).otherwise(0)),
                F.sum("wt"),
            )
            .first()
        )
        strictly_below = (
            li.where((F.col("flag") == flag) & (F.col("pc") < m))
            .agg(F.sum("wt"))
            .first()[0]
            or 0
        )
        assert 2 * below >= total, "median price does not reach half the mass"
        assert 2 * strictly_below < total, "a smaller price already crosses half"


def test_adaboost_beats_coin_flip_and_reweights(spark):
    from ukis_kafka_spark import api

    rows = {r.round: r for r in api.queries()["m_adaboost_round"](spark, SF_SMOKE).collect()}
    assert set(rows) == {1, 2}
    for r in rows.values():
        # optimal polarity choice bounds weighted error at half the mass
        assert 2 * r.werr <= r.wtot
    # round 2's total weight = round 1 total + misclassified mass
    assert rows[2].wtot == rows[1].wtot + rows[1].werr


def test_sliding_distinct_matches_bruteforce(spark):
    from ukis_kafka_spark import api
    from ukis_kafka_spark.sources import load_table
    from pyspark.sql import functions as F

    got = {
        r.day_num: r.users_7d
        for r in api.queries()["q_sliding_distinct"](spark, SF_SMOKE).collect()
    }
    days_users = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            (F.unix_timestamp(F.date_trunc("day", "ts")) / 86400)
            .cast("bigint")
            .alias("d"),
            "user_id",
        )
        .distinct()
        .collect()
    )
    by_day = {}
    for r in days_users:
        by_day.setdefault(r.d, set()).add(r.user_id)
    for d, expect in got.items():
        brute = set()
        for k in range(d - 6, d + 1):
            brute |= by_day.get(k, set())
        assert expect == len(brute)


def test_cdc_chunks_shift_invariance():
    """Inserting a prefix re-aligns chunking after the first boundary:
    every chunk digest of the original text except (at most) the first
    chunk must survive in the prefixed text — the property fixed-
    stride passage dedup lacks and the whole reason CDC exists."""
    import hashlib

    def chunks(raw: bytes) -> list[str]:
        out, prev, n = [], 0, len(raw)
        for i in range(8, n + 1):
            if hashlib.md5(raw[i - 8 : i]).hexdigest()[-1] == "0":
                out.append(hashlib.md5(raw[prev:i]).hexdigest())
                prev = i
        if prev < n:
            out.append(hashlib.md5(raw[prev:n]).hexdigest())
        return out

    base = ("the quick brown fox jumps over the lazy dog " * 20).encode("ascii")
    shifted = b"INSERTED PREAMBLE 123 " + base
    c0, c1 = chunks(base), chunks(shifted)
    # all interior chunks of the original reappear verbatim
    assert len(set(c0[1:]) - set(c1)) == 0
    assert len(c0) > 3  # the fixture actually produced boundaries


def test_kappa_bounds(spark):
    from ukis_kafka_spark import api

    r = api.queries()["m_rater_kappa"](spark, SF_SMOKE).first()
    assert -1000 <= r.kappa_permille <= 1000
    assert r.n == r.n11 + r.n10 + r.n01 + r.n00


def test_lsh_sweep_s_curve_monotone(spark):
    """More bands (fewer rows per band) can only ADD candidate pairs:
    a band match at r rows implies a match on each of its sub-bands."""
    from ukis_kafka_spark import api

    rows = {
        r.rows_per_band: r.n_candidate_pairs
        for r in api.queries()["m_lsh_sweep"](spark, SF_SMOKE).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1] >= rows[2] >= rows[3]
    assert rows[1] > 0


def test_upsample_plan_reaches_targets(spark):
    from ukis_kafka_spark import api

    rows = api.queries()["m_upsample_plan"](spark, SF_SMOKE).collect()
    tot_planned = sum(r.planned_toks for r in rows)
    tot_natural = sum(r.toks for r in rows)
    assert tot_planned >= tot_natural
    # upsampled (even) sources must gain share vs their natural mix;
    # the others dilute — the direction of every repeat is toward the
    # 2:1 target even though simultaneous ceil-rounding keeps absolute
    # targets approximate
    for r in rows:
        assert r.repeats >= 1
        natural_permille = r.toks * 1000 // tot_natural
        even = int(r.source[3:]) % 2 == 0
        if even:
            assert r.achieved_permille >= natural_permille, r.source
            assert r.repeats >= 2
        else:
            assert r.achieved_permille <= natural_permille + 1, r.source


def test_adaptive_grid_conserves_mass_and_refines_hot(spark):
    from pyspark.sql import functions as F

    from ukis_kafka_spark import api
    from ukis_kafka_spark.sources import load_table

    from .conftest import SF_ORACLE

    # sf0.01: the capacity threshold is tuned to populate BOTH levels
    rows = api.queries()["g_adaptive_grid"](spark, SF_ORACLE).collect()
    total = load_table(spark, SF_ORACLE, "events").count()
    assert sum(r.n for r in rows) == total, "refinement lost or doubled points"
    assert any(r.level == 1 for r in rows) and any(r.level == 2 for r in rows)
    for r in rows:
        if r.level == 1:
            assert r.n <= 8, "a hot cell escaped refinement"


def test_filtered_knn_respects_label_constraint(spark):
    from ukis_kafka_spark import api
    from ukis_kafka_spark.sources import load_table

    rows = api.queries()["m_filtered_knn"](spark, SF_SMOKE).collect()
    labels = {
        r.vec_id: r.label
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }
    assert rows
    for r in rows:
        assert labels[r.cand] == labels[r.qid], "constraint violated"
        assert 1 <= r.rk <= 3


def test_max_concurrency_bounds(spark):
    from pyspark.sql import functions as F

    from ukis_kafka_spark import api
    from ukis_kafka_spark.sources import load_table

    rows = api.queries()["q_max_concurrency"](spark, SF_SMOKE).collect()
    e = load_table(spark, SF_SMOKE, "events")
    per_day = {
        r.d: r.n
        for r in e.groupBy(
            F.expr(
                "CAST(unix_timestamp(date_trunc('second', ts)) div 86400"
                " AS BIGINT)"
            ).alias("d")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert rows
    for r in rows:
        assert 1 <= r.peak_concurrency
        # peak cannot exceed events opening that day + carryover from
        # the previous day's last half hour
        cap = per_day.get(r.day_num, 0) + per_day.get(r.day_num - 1, 0)
        assert r.peak_concurrency <= cap


def test_doubled_midrank_identity_property():
    """The doubled-midrank device used by q_mann_whitney / q_wilcoxon /
    q_spearman_stats: 2·midrank(v) = 2·|{x < v}| + |{x = v}| + 1 must
    equal twice the classical average-of-positions midrank for every
    multiset — property-checked against a brute-force ranking."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=40))
    def check(xs):
        xs_sorted = sorted(xs)
        for v in set(xs):
            positions = [i + 1 for i, x in enumerate(xs_sorted) if x == v]
            classical_doubled = 2 * sum(positions) / len(positions)
            below = sum(1 for x in xs if x < v)
            at = sum(1 for x in xs if x == v)
            lattice = 2 * below + at + 1
            assert lattice == classical_doubled
    check()


def test_floored_running_sum_identity_property():
    """q_capped_running_sum's closed form — b_i = run_i − min(0,
    prefix-min(run)) — must equal the sequential recurrence
    b_i = max(0, b_{i-1} + x_i) on every flow sequence (the Skorokhod
    reflection identity the operator's two-window plan rests on)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.integers(min_value=-100, max_value=100), min_size=1, max_size=60))
    def check(xs):
        b, seq = 0, []
        for x in xs:
            b = max(0, b + x)
            seq.append(b)
        run, pmin, closed = 0, 0, []
        for x in xs:
            run += x
            pmin = min(pmin, run)
            closed.append(run - min(0, pmin))
        assert closed == seq
    check()


def test_pps_sample_one_per_boundary(spark):
    from ukis_kafka_spark import api

    rows = api.queries()["m_pps_sample"](spark, SF_SMOKE).collect()
    idxs = [r.boundary_idx for r in rows]
    # boundary indices strictly increase: each selected customer's
    # interval contains at least one boundary, none contain the SAME
    # first boundary twice
    assert idxs == sorted(idxs)
    assert len(rows) >= 90  # ~100 strides; big accounts can absorb >1
    # the heaviest account must be selected (its interval spans >= 1
    # stride with near-certainty on this corpus)
    heaviest = max(rows, key=lambda r: r.rev_centi)
    assert heaviest.rev_centi > 0


def test_pps_systematic_selection_property():
    """Systematic PPS on any positive weight list selects one unit per
    crossed stride boundary: sample size is within 1 of mass/stride,
    and any unit with weight >= stride is ALWAYS selected (the
    certainty-selection property PPS is chosen for)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(min_value=1, max_value=10_000), min_size=5, max_size=80))
    def check(ws):
        total = sum(ws)
        stride = total // min(10, len(ws))
        if stride == 0:
            return
        picked, c = [], 0
        for i, w in enumerate(ws):
            before = c
            c += w
            if c // stride > before // stride:
                picked.append(i)
        n_boundaries = total // stride
        # a heavy unit can absorb SEVERAL boundaries in one pick, so
        # the sample never exceeds the boundary count (+1 for the
        # final partial stride) but may be smaller
        assert len(picked) <= n_boundaries + 1
        assert len(picked) >= 1
        for i, w in enumerate(ws):
            if w >= stride:
                assert i in picked, "a certainty unit was skipped"
    check()


def test_bitmap_coordinates_bijective():
    """q_sliding_distinct's (word, bit) mapping: every user id maps to
    a unique coordinate with the mask never touching bit 62/63."""
    seen = set()
    for uid in range(0, 5000):
        word, bit = uid // 62, uid % 62
        assert 0 <= bit < 62
        mask = 1 << bit
        assert mask > 0 and mask < (1 << 62)
        assert (word, bit) not in seen
        seen.add((word, bit))


def test_checkpoint_modes_agree(spark, tmp_path, monkeypatch):
    """checkpoint_df must yield IDENTICAL results in both modes —
    local (default) and reliable (UKIS_CHECKPOINT_DIR set) — on an
    iterative query that carries state through it (connected
    components: 6 label-propagation rounds, every round checkpointed).
    Only the fault-tolerance story changes at cluster scale, never the
    data."""
    name = "m_graph_cc"
    base = sorted(map(tuple, api.queries()[name](spark, SF_SMOKE).collect()))
    monkeypatch.setenv("UKIS_CHECKPOINT_DIR", str(tmp_path / "ck"))
    reliable = sorted(map(tuple, api.queries()[name](spark, SF_SMOKE).collect()))
    assert base == reliable
    # the reliable run must actually have used the checkpoint dir
    import os

    assert os.path.isdir(tmp_path / "ck") and any(os.scandir(tmp_path / "ck"))


def test_sql_scripting_reference(spark):
    """The scripted coverage search re-derived with a plain python
    loop over pandas nation counts: same doubling schedule, same
    cross-multiplied threshold, same terminating (k, covered, total).
    Also pins the guarantee class: covered(k) >= 60% and, when k > 4,
    covered(k/2) < 60% (the script stopped at the FIRST passing k)."""
    import pandas as pd

    from tests.conftest import SF_SMOKE
    from ukis_kafka_spark import api

    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    c = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")
    m = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    counts = (
        m.groupby("c_nationkey").size().reset_index(name="n")
        .sort_values(["n", "c_nationkey"], ascending=[False, True])
    )
    total = len(o)

    def cov(k):
        return int(counts.head(k)["n"].sum())

    k = 4
    while cov(k) * 5 < total * 3:
        k *= 2
    row = api.queries()["q_sql_scripting"](spark, SF_SMOKE).collect()[0]
    assert (row.k, row.covered, row.total) == (k, cov(k), total)
    assert cov(k) * 5 >= total * 3
    if k > 4:
        assert cov(k // 2) * 5 < total * 3


def test_tpch_q5_q18_reference(spark):
    """The two headline TPC-H shapes re-derived with pandas merges +
    python decimals (different join order, different accumulation):
    Q5's 6-table local-supplier revenue and Q18's large-order
    customers, both bit-exact against the Spark results."""
    from decimal import ROUND_HALF_UP, Decimal

    from tests.conftest import SF_SMOKE
    from ukis_kafka_spark import api

    import pandas as pd

    def dec10(v):
        return Decimal(repr(float(v))).quantize(Decimal("1e-10"), ROUND_HALF_UP)

    d = {
        t: pd.read_parquet(f"{SF_SMOKE}/{t}.parquet")
        for t in ("customer", "orders", "lineitem", "supplier", "nation", "region")
    }
    # --- Q5 ---
    m = (
        d["lineitem"]
        .merge(d["orders"], left_on="l_orderkey", right_on="o_orderkey")
        .merge(d["customer"], left_on="o_custkey", right_on="c_custkey")
        .merge(d["supplier"], left_on="l_suppkey", right_on="s_suppkey")
        .merge(d["nation"], left_on="s_nationkey", right_on="n_nationkey")
        .merge(d["region"], left_on="n_regionkey", right_on="r_regionkey")
    )
    m = m[
        (m["r_name"] == "ASIA")
        & (m["c_nationkey"] == m["s_nationkey"])
        & (m["o_orderdate"] >= pd.Timestamp("1996-01-01"))
        & (m["o_orderdate"] < pd.Timestamp("1998-01-01"))
    ]
    exp5 = {}
    for r in m.itertuples():
        rev, n = exp5.get(r.n_name, (Decimal(0), 0))
        exp5[r.n_name] = (
            rev + dec10(r.l_extendedprice * (1.0 - r.l_discount)),
            n + 1,
        )
    got5 = {
        r.n_name: (r.revenue, r.n_items)
        for r in api.queries()["q_sql_q5"](spark, SF_SMOKE).collect()
    }
    assert got5 == {k: (float(v), n) for k, (v, n) in exp5.items()}
    assert got5  # non-vacuous

    # --- Q18 ---
    li = d["lineitem"]
    per_order = {}
    for r in li.itertuples():
        per_order[r.l_orderkey] = per_order.get(r.l_orderkey, Decimal(0)) + dec10(
            r.l_quantity
        )
    big = {k for k, s in per_order.items() if s > 300}
    o = d["orders"].merge(d["customer"], left_on="o_custkey", right_on="c_custkey")
    exp18 = {}
    for r in o.itertuples():
        if r.o_orderkey in big:
            exp18[(r.c_name, int(r.c_custkey), int(r.o_orderkey))] = (
                str(r.o_orderdate.date()),
                float(r.o_totalprice),
                float(per_order[r.o_orderkey]),
            )
    got18 = {
        (r.c_name, r.c_custkey, r.o_orderkey): (r.orderdate, r.o_totalprice, r.sum_qty)
        for r in api.queries()["q_sql_q18"](spark, SF_SMOKE).collect()
    }
    assert got18 == exp18
    assert got18  # non-vacuous at the smoke scale


def test_pivot_and_cohort_matrix_reference(spark):
    """PIVOT spread and the cohort retention matrix re-derived with
    plain dict accumulation + python decimals."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    from tests.conftest import SF_SMOKE
    from ukis_kafka_spark import api

    def dec10(v):
        return Decimal(repr(float(v))).quantize(Decimal("1e-10"), ROUND_HALF_UP)

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    acc = defaultdict(lambda: [Decimal(0), Decimal(0), 0, 0])
    for r in li.itertuples():
        a = acc[r.l_returnflag]
        if r.l_linestatus == "F":
            a[0] += dec10(r.l_quantity)
            a[2] += 1
        elif r.l_linestatus == "O":
            a[1] += dec10(r.l_quantity)
            a[3] += 1
    got = {
        r.l_returnflag: (r.qty_f, r.qty_o, r.n_f, r.n_o)
        for r in api.queries()["q_pivot"](spark, SF_SMOKE).collect()
    }
    assert got == {k: (float(a[0]), float(a[1]), a[2], a[3]) for k, a in acc.items()}

    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    om = {}
    for r in o.itertuples():
        m = r.o_orderdate.year * 12 + r.o_orderdate.month
        om.setdefault(int(r.o_custkey), []).append(m)
    cells = defaultdict(set)
    for cust, months in om.items():
        c = min(months)
        label = f"{(c - 1) // 12:04d}-{((c - 1) % 12) + 1:02d}"
        for m in months:
            cells[(label, m - c)].add(cust)
    exp = {k: len(v) for k, v in cells.items()}
    gotc = {
        (r.cohort_month, r.month_offset): r.n_active
        for r in api.queries()["q_cohort_matrix"](spark, SF_SMOKE).collect()
    }
    assert gotc == exp
    assert any(off > 0 for _, off in exp)  # retention beyond month 0 exists


def test_cohort_ltv_and_date_spine_reference(spark):
    """LTV curve and the calendar-spine sparse hours re-derived with
    python loops: week arithmetic on truncated-day epochs, centi-unit
    spend accumulation, and an explicitly generated hourly spine."""
    import math as _m
    from collections import defaultdict

    import pandas as pd

    from tests.conftest import SF_SMOKE
    from ukis_kafka_spark import api

    pdf = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    day_ep = (
        pd.to_datetime(pdf["ts"]).astype("datetime64[ns]").dt.floor("D").astype("int64")
        // 10**9
    )
    pdf = pdf.assign(wk=day_ep // 604800)
    first_wk = pdf.groupby("user_id")["wk"].min().to_dict()
    cell_val = defaultdict(int)
    cell_users = defaultdict(set)
    for r in pdf.itertuples():
        key = (first_wk[r.user_id], int(r.wk) - first_wk[r.user_id])
        cell_val[key] += int(_m.floor(r.value * 100))
        cell_users[key].add(int(r.user_id))
    exp = {}
    for cohort in {c for c, _ in cell_val}:
        cum = 0
        for age in sorted(a for c, a in cell_val if c == cohort):
            cum += cell_val[(cohort, age)]
            exp[(cohort, age)] = (
                cell_val[(cohort, age)],
                len(cell_users[(cohort, age)]),
                cum,
            )
    got = {
        (r.cohort_wk, r.age_wk): (r.wk_value, r.active_users, r.cum_value)
        for r in api.queries()["q_cohort_ltv_curve"](spark, SF_SMOKE).collect()
    }
    assert got == exp

    # --- date spine: 10 sparsest hours over the FULL generated range
    hr_ep = (
        pd.to_datetime(pdf["ts"]).astype("datetime64[ns]").dt.floor("h").astype("int64")
        // 10**9
    )
    purch = pdf.assign(h=hr_ep)[pdf["event_type"].to_numpy() == "purchase"]
    per_hour = purch.groupby("h").size().to_dict()
    lo, hi = int(hr_ep.min()), int(hr_ep.max())
    spine = [(per_hour.get(h, 0), h) for h in range(lo, hi + 1, 3600)]
    spine.sort()
    exp10 = [(h, n) for n, h in spine[:10]]
    got10 = [
        (r.hour_start, r.n)
        for r in api.queries()["q_date_spine"](spark, SF_SMOKE).collect()
    ]
    assert got10 == exp10
    assert any(n == 0 for _, n in exp10)  # the spine generates MISSING hours


def test_agg_mode_reference(spark):
    """Per-group mode re-derived with a Counter + explicit tiebreak."""
    from collections import Counter

    import pandas as pd

    from tests.conftest import SF_SMOKE
    from ukis_kafka_spark import api

    pdf = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    exp = {}
    for status, g in pdf.groupby("o_orderstatus"):
        c = Counter(g["o_orderpriority"])
        prio, n = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        exp[status] = (prio, n)
    got = {
        r.o_orderstatus: (r.mode_priority, r.n)
        for r in api.queries()["q_agg_mode"](spark, SF_SMOKE).collect()
    }
    assert got == exp


def test_facility_select_matches_numpy_greedy(spark):
    """Full greedy re-run in numpy from the raw embeddings: candidate
    seeding, micro-cosine quantization, 6 greedy argmax rounds and the
    running coverage total must all reproduce."""
    from ukis_kafka_spark.ml.similarity import (
        _FAC_CANDS,
        _FAC_K,
        _IVF_HASH_A,
        _IVF_HASH_P,
    )
    from ukis_kafka_spark.sources import load_table

    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    M = np.floor(
        np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows]) * 10000
    ).astype(np.int64)
    order = np.lexsort((ids, (ids * _IVF_HASH_A) % _IVF_HASH_P))[:_FAC_CANDS]
    cand_ids = ids[order]
    C = M[order]
    mn = np.sqrt((M * M).sum(axis=1).astype(np.float64))
    cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
    uc = np.floor((M @ C.T).astype(np.float64) / np.outer(mn, cn) * 1e6).astype(
        np.int64
    )
    best = np.zeros(len(ids), dtype=np.int64)
    picked: list[int] = []
    expect = []
    covered = 0
    for r in range(1, _FAC_K + 1):
        gains = np.maximum(uc - best[:, None], 0).sum(axis=0)
        pick = max(
            (i for i in range(_FAC_CANDS) if i not in picked),
            key=lambda i: (gains[i], -cand_ids[i]),
        )
        picked.append(pick)
        covered += int(gains[pick])
        expect.append((r, int(cand_ids[pick]), int(gains[pick]), covered))
        best = np.maximum(best, uc[:, pick])
    got = sorted(
        (r.round, r.picked, r.gain, r.covered)
        for r in _rows(spark, "m_facility_select")
    )
    assert got == expect
    # greedy sanity: gains non-increasing, coverage strictly growing
    gains_seq = [g for _, _, g, _ in expect]
    assert gains_seq == sorted(gains_seq, reverse=True)
    assert all(g > 0 for g in gains_seq)
    assert len({p for _, p, _, _ in expect}) == _FAC_K
