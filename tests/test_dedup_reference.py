"""Independent re-derivations for the dedup / deterministic-sampling
family (m_exact_dedup, m_subsample, m_crossval_folds, m_fingerprint,
m_class_balance) — plain python dicts and modular arithmetic over the
raw parquet, same contract as test_stats_reference.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

from tests.conftest import SF_SMOKE
from ukis_kafka_spark import api


def _rows(spark, name):
    return api.queries()[name](spark, SF_SMOKE).collect()


def test_exact_dedup_reference(spark, docs_pdf):
    groups: dict[str, list] = defaultdict(list)
    for r in docs_pdf.itertuples():
        groups[r.text].append((int(r.doc_id), int(r.n_chars)))
    expect = {
        (min(i for i, _ in g), len(g), min(c for _, c in g))
        for g in groups.values()
    }
    got = {(r["keep_id"], r["n_copies"], r["n_chars"]) for r in _rows(spark, "m_exact_dedup")}
    assert got == expect


def test_subsample_reference(spark, docs_pdf):
    """Multiplicative-hash 30% sample: membership recomputed with
    python big-int arithmetic — and it must be the SAME subset the
    operator's docstring promises on every engine."""
    a, m = 2654435761, 1_000_003
    expect = {
        int(d): (d * a % m) % 10
        for d in docs_pdf.doc_id
        if (d * a % m) % 10 < 3
    }
    got = {r["doc_id"]: r["bucket"] for r in _rows(spark, "m_subsample")}
    assert got == expect
    # sanity: the sample is a real subsample, not empty or everything
    assert 0 < len(got) < len(docs_pdf)


def test_crossval_folds_reference(spark, docs_pdf):
    a, m, k = 2654435761, 1_000_003, 5
    agg: dict[tuple, list] = defaultdict(list)
    for r in docs_pdf.itertuples():
        fold = (int(r.doc_id) * a % m) % k
        agg[(fold, r.lang)].append((int(r.doc_id), int(r.n_chars)))
    expect = {
        key: (len(v), sum(c for _, c in v), min(i for i, _ in v), max(i for i, _ in v))
        for key, v in agg.items()
    }
    got = {
        (r["fold"], r["lang"]): (r["n"], r["chars"], r["min_id"], r["max_id"])
        for r in _rows(spark, "m_crossval_folds")
    }
    assert got == expect
    # every fold exists: the hash spreads keys across all 5
    assert {f for f, _ in got} == set(range(k))


def test_fingerprint_reference(spark, docs_pdf):
    """Order-sensitive polynomial rolling hash refolded in python; a
    token swap must change the fingerprint (the property the operator
    exists for)."""
    mod = 1_000_000_007
    got = {r["doc_id"]: r["fp"] for r in _rows(spark, "m_fingerprint")}

    def fold(text: str) -> int:
        acc = 0
        for t in text.split(" "):
            v = (ord(t[0]) if t else 0) * 131 + len(t)
            acc = (acc * 31 + v) % mod
        return acc

    for r in docs_pdf.itertuples():
        assert got[r.doc_id] == fold(r.text)
    sample = docs_pdf.iloc[0].text.split(" ")
    if len(set(sample[:2])) == 2:
        swapped = " ".join([sample[1], sample[0]] + sample[2:])
        assert fold(swapped) != fold(" ".join(sample))


def test_class_balance_reference(spark, docs_pdf):
    counts = Counter(docs_pdf.lang)
    mx, tot = max(counts.values()), sum(counts.values())
    got = {r["lang"]: r for r in _rows(spark, "m_class_balance")}
    assert set(got) == set(counts)
    for lang, n in counts.items():
        r = got[lang]
        assert r["n"] == n
        assert r["upsample_factor"] == mx / n
        assert r["frac"] == n / tot
    # resampling to the factors equalizes classes by construction
    assert all(abs(got[l]["upsample_factor"] * c - mx) < 1e-9 for l, c in counts.items())


def test_chunk_tokens_reference(spark, docs_pdf):
    """Sliding-window chunking re-derived with python slices: chunk
    count, per-chunk lengths, and md5 digests of the joined tokens."""
    import hashlib

    got: dict[tuple, tuple] = {}
    for r in _rows(spark, "m_chunk_tokens"):
        got[(r["doc_id"], r["start"])] = (r["chunk_len"], r["chunk_hash"])
    n_expected = 0
    for r in docs_pdf.itertuples():
        toks = r.text.split(" ")
        for s in range(0, len(toks), 24):  # STRIDE
            chunk = toks[s : s + 32]  # CHUNK
            n_expected += 1
            digest = hashlib.md5(" ".join(chunk).encode()).hexdigest()
            assert got[(r.doc_id, s)] == (len(chunk), digest)
    assert len(got) == n_expected


def test_seq_pack_reference(spark, docs_pdf):
    """Greedy concat-and-chunk packing re-derived with a running token
    offset per (source, shard) stream; bin totals must cover every
    document exactly once (mass conservation)."""
    from ukis_kafka_spark.ml.chunking import CTX, SHARD
    agg: dict[tuple, list] = defaultdict(list)
    for _, grp in docs_pdf.groupby("source"):
        grp = grp.sort_values("doc_id")
        offsets: dict[int, int] = defaultdict(int)
        for r in grp.itertuples():
            shard = r.doc_id // SHARD
            n_tok = len(r.text.split(" "))
            b = offsets[shard] // CTX
            offsets[shard] += n_tok
            agg[(r.source, shard, b)].append((r.doc_id, n_tok))
    expect = {
        k: (len(v), sum(n for _, n in v), min(i for i, _ in v), max(i for i, _ in v))
        for k, v in agg.items()
    }
    got = {
        (r["source"], r["shard"], r["bin"]): (
            r["n_docs"], r["bin_tokens"], r["first_doc"], r["last_doc"],
        )
        for r in _rows(spark, "m_seq_pack")
    }
    assert got == expect
    # conservation: every document's tokens land in exactly one bin
    assert sum(v[1] for v in got.values()) == sum(
        len(t.split(" ")) for t in docs_pdf.text
    )
    # non-vacuity (round-6 dead-column audit): the packing must
    # actually CUT — multiple bins and multiple shards at this scale
    assert len({k[2] for k in got}) > 1, "bin never advanced"
    assert len({k[1] for k in got}) > 1, "shard never split"


def test_embed_quantize_reference(spark):
    """int8 symmetric quantization re-derived in numpy: scale, checksum
    and saturation count per vector, exact."""
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    got = {r["vec_id"]: r for r in _rows(spark, "m_embed_quantize")}
    assert len(got) == len(emb)
    for r in emb.itertuples():
        x = np.asarray(r.embedding, dtype=np.float64)
        scale = np.abs(x).max()
        q = np.clip(np.floor(x / scale * 127 + 0.5).astype(np.int64), -127, 127)
        g = got[r.vec_id]
        assert g["scale"] == scale
        assert g["q_sum"] == int(q.sum())
        assert g["n_sat"] == int((np.abs(q) == 127).sum())
        assert g["label"] == r.label
        # reconstruction sanity: dequantized vector is close in angle
        xr = q.astype(np.float64) * scale / 127
        cos = (x @ xr) / (np.linalg.norm(x) * np.linalg.norm(xr))
        assert cos > 0.99


def test_embed_norm_stats_reference(spark):
    """Per-label norm statistics re-derived with numpy norms on the
    6 dp grid (HALF_UP replication for min/max; the decimal-lattice
    sum is compared within its error budget)."""
    from decimal import ROUND_HALF_UP, Decimal

    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    got = {r["label"]: r for r in _rows(spark, "m_embed_norm_stats")}
    by_label: dict[int, list[float]] = defaultdict(list)
    for r in emb.itertuples():
        x = np.asarray(r.embedding, dtype=np.float64)
        n = math.sqrt(float((x * x).sum()))
        by_label[r.label].append(
            float(Decimal(repr(n)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
        )
    assert set(got) == set(by_label)
    for lbl, norms in by_label.items():
        g = got[lbl]
        assert g["n"] == len(norms)
        assert g["norm_min"] == min(norms)
        assert g["norm_max"] == max(norms)
        assert abs(g["norm_sum"] - sum(norms)) < 1e-6


def test_ngram_jaccard_reference(spark, docs_pdf):
    toksets = {
        int(r.doc_id): set(r.text.split(" ")) for r in docs_pdf.itertuples()
    }
    expect = {}
    for d, s in toksets.items():
        nxt = toksets.get(d + 1)
        if nxt and s & nxt:
            expect[(d, d + 1)] = len(s & nxt) / len(s | nxt)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in _rows(spark, "m_ngram_jaccard")
    }
    assert got == expect


def test_dup_ngram_frac_reference(spark, docs_pdf):
    """Per-doc duplicated-5-gram fraction recomputed with python sets
    and a corpus document-frequency Counter."""
    doc_grams = {}
    for r in docs_pdf.itertuples():
        toks = r.text.split(" ")
        doc_grams[r.doc_id] = {
            " ".join(toks[i : i + 5]) for i in range(len(toks) - 4)
        }
    df = Counter()
    for gs in doc_grams.values():
        df.update(gs)
    got = {r["doc_id"]: r for r in _rows(spark, "m_dup_ngram_frac")}
    for d, gs in doc_grams.items():
        if not gs:
            assert d not in got
            continue
        dup = sum(1 for g in gs if df[g] > 1)
        r = got[d]
        assert r["n_grams"] == len(gs)
        assert r["n_dup"] == dup
        assert r["dup_frac"] == dup / len(gs)


def test_suffix_prefix_dup_reference(spark, docs_pdf):
    import re

    norm = {
        int(r.doc_id): re.sub(r"[^a-z0-9]", "", r.text.lower())
        for r in docs_pdf.itertuples()
    }
    norm = {d: t for d, t in norm.items() if len(t) >= 12}
    by_pref: dict[str, list] = defaultdict(list)
    for d, t in norm.items():
        by_pref[t[:12]].append(d)
    expect = set()
    for d, t in norm.items():
        for other in by_pref.get(t[-12:], []):
            if other != d:
                expect.add((d, other, t[-12:]))
    got = {
        (r["src_id"], r["dst_id"], r["glue"])
        for r in _rows(spark, "m_suffix_prefix_dup")
    }
    assert got == expect


def test_ngram_novelty_reference(spark, docs_pdf):
    """First-seen trigram novelty replayed in arrival (doc_id) order;
    the cumulative novel count must equal the corpus's distinct
    trigram total (conservation)."""
    seen: set = set()
    expect = {}
    total_novel = 0
    for r in docs_pdf.sort_values("doc_id").itertuples():
        toks = r.text.split(" ")
        if len(toks) < 3:
            continue
        gs = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        novel = len(gs - seen)
        seen |= gs
        expect[r.doc_id] = (len(gs), novel)
        total_novel += novel
    got = {
        r["doc_id"]: (r["n_trigrams"], r["n_novel"])
        for r in _rows(spark, "m_ngram_novelty")
    }
    assert got == expect
    assert total_novel == len(seen)  # conservation of first-occurrences


def test_minmax_scale_reference(spark):
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev["ts"] = pd.to_datetime(ev["ts"]).astype("datetime64[ns]")
    ev["day"] = ev["ts"].dt.floor("d").astype("int64") // 10**9
    ev["vc"] = (ev["value"] * 100).apply(math.floor).astype("int64")
    got = {r["event_id"]: r for r in _rows(spark, "m_minmax_scale")}
    for day, grp in ev.groupby("day"):
        lo, hi = int(grp["vc"].min()), int(grp["vc"].max())
        for r in grp.itertuples():
            g = got[r.event_id]
            assert g["day_start"] == day
            want = 500 if hi == lo else (int(r.vc) - lo) * 1000 // (hi - lo)
            assert g["scaled_permille"] == want
            assert 0 <= g["scaled_permille"] <= 1000


def test_quantile_bins_reference(spark, docs_pdf):
    got = {r["doc_id"]: (r["lang"], r["length_bucket"]) for r in _rows(spark, "m_quantile_bins")}
    for lang, grp in docs_pdf.groupby("lang"):
        order = sorted(grp.itertuples(), key=lambda r: (r.n_chars, r.doc_id))
        n = len(order)
        from collections import Counter as _C

        sizes = _C()
        for rk, r in enumerate(order, start=1):
            bucket = 4 * (rk - 1) // n
            assert got[r.doc_id] == (lang, bucket)
            sizes[bucket] += 1
        # equal-frequency property: quartile sizes differ by at most 1
        assert max(sizes.values()) - min(sizes.values()) <= 1


def test_shard_balance_reference(spark, docs_pdf):
    per = docs_pdf.groupby(docs_pdf.doc_id % 64).agg(
        docs=("doc_id", "size"), chars=("n_chars", "sum")
    )
    total = int(per["chars"].sum())
    got = {r["shard"]: r for r in _rows(spark, "m_shard_balance")}
    assert set(got) == set(per.index)
    for shard, row in per.iterrows():
        g = got[shard]
        assert g["docs"] == row["docs"] and g["chars"] == row["chars"]
        assert g["load_vs_even_permille"] == int(row["chars"]) * len(per) * 1000 // total


def test_temperature_mix_reference(spark, docs_pdf):
    from decimal import ROUND_HALF_UP, Decimal

    counts = Counter(docs_pdf.lang)
    w = {
        s: int(
            math.floor(
                float(Decimal(repr(n ** 0.7)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
                * 1_000_000
                + 0.5
            )
        )
        for s, n in counts.items()
    }
    total = sum(w.values())
    got = {r["lang"]: r for r in _rows(spark, "m_temperature_mix")}
    assert set(got) == set(counts)
    for s, n in counts.items():
        g = got[s]
        assert g["n_docs"] == n and g["w_micro"] == w[s]
        assert g["share_ppm"] == w[s] * 1_000_000 // total
    # temperature < 1 compresses shares: smallest source gets MORE than
    # its raw share, largest gets less (the operator's reason to exist)
    smallest = min(counts, key=lambda s: (counts[s], s))
    largest = max(counts, key=lambda s: (counts[s], s))
    n_tot = sum(counts.values())
    # langs are measured SKEWED in this corpus (rekeyed from uniform
    # sources in round 6 — the dead-column audit showed equal masses
    # made this assertion vacuous), so the property must always fire
    assert counts[smallest] != counts[largest]
    assert got[smallest]["share_ppm"] > 1_000_000 * counts[smallest] // n_tot
    assert got[largest]["share_ppm"] < 1_000_000 * counts[largest] // n_tot


def test_source_mixture_reference(spark, docs_pdf):
    a, m = 2654435761, 1_000_003
    agg: dict[tuple, list] = defaultdict(lambda: [0, 0])
    for r in docs_pdf.itertuples():
        keep_pct = (int(r.source[3:]) % 4 + 1) * 20
        key = (r.source, keep_pct)
        agg[key][0] += 1
        if (int(r.doc_id) * a % m) % 100 < keep_pct:
            agg[key][1] += 1
    got = {
        (r["source"], r["keep_pct"]): (r["n_docs"], r["n_kept"])
        for r in _rows(spark, "m_source_mixture")
    }
    assert got == {k: tuple(v) for k, v in agg.items()}
    # observed keep rates track the configured rates (binomial-ish)
    for (src, pct), (n, k) in got.items():
        assert abs(k / n - pct / 100) < 0.25


def test_quality_sample_reference(spark, docs_pdf):
    a, m = 2654435761, 1_000_003
    stopset = {"spark", "join", "filter", "window"}
    agg: dict[str, list] = defaultdict(lambda: [0, 0, 0])
    for r in docs_pdf.itertuples():
        toks = r.text.split(" ")
        n, s = len(toks), sum(1 for t in toks if t in stopset)
        q = int(math.floor((0.5 * min(n, 50) / 50.0 + 0.5 * s / n) * 1_000_000))
        h = (int(r.doc_id) * a % m) % 1_000_000
        agg[r.lang][0] += 1
        if h < q:
            agg[r.lang][1] += 1
            agg[r.lang][2] += q
    got = {
        r["lang"]: (r["n_docs"], r["n_kept"], r["kept_quality_mass"])
        for r in _rows(spark, "m_quality_sample")
    }
    assert got == {k: tuple(v) for k, v in agg.items()}


def test_budget_select_reference(spark, docs_pdf):
    """The greedy token-budget knapsack replayed with an explicit sort;
    the kept prefix must respect both the budget and the ranking, and
    adding the next-ranked doc must exceed the budget (maximality)."""
    stopset = {"spark", "join", "filter", "window"}
    scored = []
    for r in docs_pdf.itertuples():
        toks = r.text.split(" ")
        n, s = len(toks), sum(1 for t in toks if t in stopset)
        q = 500 * min(n, 50) // 50 + 500 * s // n
        scored.append((-q, r.doc_id, n))
    scored.sort()
    budget = sum(n for _, _, n in scored) // 4
    cum = 0
    expect = {}
    cut_next = None
    for rnk, (negq, d, n) in enumerate(scored, start=1):
        cum += n
        if cum <= budget:
            expect[d] = (rnk, -negq, n, cum)
        elif cut_next is None:
            cut_next = cum
    got = {
        r["doc_id"]: (r["rnk"], r["quality_milli"], r["n_tokens"], r["cum_tokens"])
        for r in _rows(spark, "m_budget_select")
    }
    assert got == expect
    assert cut_next is not None and cut_next > budget  # maximal prefix


def test_capped_running_sum_reference(spark):
    """The two-window closed form must equal the DIRECT sequential
    recurrence b_i = max(0, b_{i-1} + x_i) — the identity the operator
    rests on, replayed per user."""
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet").sort_values("event_id")
    got = {r["event_id"]: r["balance_centi"] for r in _rows(spark, "q_capped_running_sum")}
    for _, grp in ev.groupby("user_id"):
        bal = 0
        for r in grp.itertuples():
            x = int(math.floor(r.value * 100)) - 5000
            bal = max(0, bal + x)
            assert got[r.event_id] == bal
            assert bal >= 0


def test_stratified_split_reference(spark, docs_pdf):
    agg: dict[tuple, list] = defaultdict(lambda: [0, 0])
    for r in docs_pdf.itertuples():
        bucket = ((int(r.doc_id) % 1000003) * 2654435761 % 2147483647) % 1000
        split = "train" if bucket < 800 else ("val" if bucket < 900 else "test")
        agg[(split, r.lang)][0] += 1
        agg[(split, r.lang)][1] += int(r.n_chars)
    got = {
        (r["split"], r["lang"]): (r["n_docs"], r["total_chars"])
        for r in _rows(spark, "m_stratified_split")
    }
    assert got == {k: tuple(v) for k, v in agg.items()}
    # the hash split lands near 80/10/10 overall
    tot = Counter()
    for (split, _), (n, _) in got.items():
        tot[split] += n
    n_all = sum(tot.values())
    assert abs(tot["train"] / n_all - 0.8) < 0.05
    assert abs(tot["val"] / n_all - 0.1) < 0.04
    assert abs(tot["test"] / n_all - 0.1) < 0.04


def test_filter_venn_reference(spark, docs_pdf):
    agg: dict[tuple, list] = defaultdict(lambda: [0, 0])
    for r in docs_pdf.itertuples():
        cell = (
            1 if r.n_chars >= 200 else 0,
            1 if len(r.text.split(" ")) >= 30 else 0,
            1 if ("spark" in r.text or "filter" in r.text) else 0,
        )
        agg[cell][0] += 1
        agg[cell][1] += int(r.n_chars)
    got = {
        (r["pass_len"], r["pass_tok"], r["pass_kw"]): (r["n"], r["chars"])
        for r in _rows(spark, "m_filter_venn")
    }
    assert got == {k: tuple(v) for k, v in agg.items()}
    assert sum(n for n, _ in got.values()) == len(docs_pdf)  # cells partition


def test_winnowing_reference(spark):
    """Winnowing pairs re-derived with hashlib + explicit window-min
    loops, plus the paper's guarantee probed directly: for the
    reported pairs, shared fingerprints imply a shared 5-token k-gram
    (winnowing selects REAL k-gram hashes, no false fingerprints)."""
    import hashlib

    pdf = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    fps = {}
    grams = {}
    for r in pdf.itertuples():
        toks = r.text.split(" ")
        if len(toks) < 5:
            continue
        g = [
            hashlib.md5(" ".join(toks[i : i + 5]).encode()).hexdigest()
            for i in range(len(toks) - 4)
        ]
        if len(g) < 4:
            continue
        sel = {min(g[j : j + 4]) for j in range(len(g) - 3)}
        fps[int(r.doc_id)] = sel
        grams[int(r.doc_id)] = set(g)
    pairs = {}
    docs = sorted(fps)
    from collections import defaultdict

    by_fp = defaultdict(list)
    for d in docs:
        for f in fps[d]:
            by_fp[f].append(d)
    for f, ds in by_fp.items():
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                pairs[(ds[i], ds[j])] = pairs.get((ds[i], ds[j]), 0) + 1
    exp = {
        (a, b): (n, len(fps[a]), len(fps[b]))
        for (a, b), n in pairs.items()
        if n >= 3
    }
    got = {
        (r.id_a, r.id_b): (r.shared, r.n_a, r.n_b)
        for r in _rows(spark, "m_winnowing")
    }
    assert got == exp
    assert exp  # non-vacuous
    # every selected fingerprint IS one of the doc's k-gram hashes
    for a, b in list(exp)[:5]:
        assert fps[a] <= grams[a] and fps[b] <= grams[b]
        assert fps[a] & fps[b]


def test_incremental_dedup_reference(spark):
    """Incremental near-dedup re-derived end-to-end with hashlib +
    python sets (shingles → md5-60-bit → 12 MinHashes → 4 bands →
    new×old collisions → exact permille Jaccard): the production
    incremental shape's full chain, independently."""
    import hashlib

    from ukis_kafka_spark.ml.dedup import _AS, _BS, _N_HASH, _P, _ROWS

    pdf = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    shl, sigs = {}, {}
    for r in pdf.itertuples():
        toks = r.text.split(" ")
        sh = list(dict.fromkeys(
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
        ))
        shl[int(r.doc_id)] = set(sh)
        hv = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in sh]
        sigs[int(r.doc_id)] = [
            min(((h % _P) * _AS[j] + _BS[j]) % _P for h in hv)
            for j in range(_N_HASH)
        ]
    bands = {}
    for d, sig in sigs.items():
        for b in range(_N_HASH // _ROWS):
            key = (b, "_".join(str(s) for s in sig[b * _ROWS : (b + 1) * _ROWS]))
            bands.setdefault(key, []).append(d)
    exp = {}
    for ds in bands.values():
        for n in ds:
            if n % 7 != 0:
                continue
            for o in ds:
                if o % 7 == 0:
                    continue
                j = (
                    len(shl[n] & shl[o]) * 1000 // len(shl[n] | shl[o])
                )
                if j >= 500:
                    exp[(n, o)] = j
    got = {
        (r.id_new, r.id_old): r.jacc_permille
        for r in _rows(spark, "m_incremental_dedup")
    }
    assert got == exp
    assert exp  # planted panel overlap keeps this non-vacuous


def test_entity_match_reference(spark):
    """Entity matching re-derived with a textbook Wagner-Fischer edit
    distance + brute-force ALL-pairs scan (no deletion-key blocking),
    proving the blocking scheme misses nothing at distance <= 1."""

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    pdf = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")
    rows = sorted(
        (int(r.c_custkey), r.c_name, int(r.c_nationkey)) for r in pdf.itertuples()
    )
    agg = {}
    for i in range(len(rows)):
        ka, na, xa = rows[i]
        for j in range(i + 1, len(rows)):
            kb, nb, xb = rows[j]
            if abs(len(na) - len(nb)) > 1 or lev(na, nb) > 1:
                continue
            blk = ka % 16
            a = agg.setdefault(blk, [0, 0, None, None])
            code = ka * 100000000 + kb
            a[0] += 1
            a[1] += xa != xb
            a[2] = code if a[2] is None else min(a[2], code)
            a[3] = code if a[3] is None else max(a[3], code)
    got = {
        r.block: (r.n_pairs, r.n_cross_nation, r.min_pair_code, r.max_pair_code)
        for r in _rows(spark, "m_entity_match")
    }
    assert got == {k: tuple(v) for k, v in agg.items()}
    assert agg  # customer names contain <=1-edit neighbors by construction


def test_dp_count_reference(spark):
    """DP-style count release re-derived with hashlib: the md5-60-bit
    cell noise, the [-10, 10] band, the non-negativity clamp — and the
    mechanism's accuracy contract |released - true| <= 10 wherever the
    clamp is inactive."""
    import hashlib

    pdf = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    true_n = pdf.groupby(["lang", "source"]).size().to_dict()
    exp = {}
    for (lang, src), n in true_n.items():
        h = int(
            hashlib.md5(f"{lang}|{src}|dp-v1".encode()).hexdigest()[:15], 16
        )
        noise = h % 21 - 10
        exp[(lang, src)] = (noise, max(0, n + noise))
    got = {
        (r.lang, r.source): (r.noise, r.released_n)
        for r in _rows(spark, "m_dp_count")
    }
    assert got == exp
    for (k, (noise, rel)), n in zip(sorted(exp.items()), (true_n[k] for k in sorted(exp))):
        if rel > 0:
            assert abs(rel - n) <= 10
    assert any(noise != 0 for noise, _ in exp.values())


def test_embed_drift_reference(spark):
    """Embedding drift re-derived with numpy: fixed-point centi-micro
    centroids per (label, parity snapshot), sign-factored integer
    means, L1/Linf displacement — exact equality per label, plus the
    norm inequality Linf <= L1."""
    import numpy as np

    pdf = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = {}
    counts = {}
    for r in pdf.itertuples():
        key = (int(r.label), int(r.vec_id) % 2)
        v = np.floor(np.asarray(r.embedding, dtype=np.float64) * 10000).astype(object)
        if key in cents:
            cents[key] = cents[key] + v
            counts[key] += 1
        else:
            cents[key] = v
            counts[key] = 1

    def milli_mean(s: int, n: int) -> int:
        return (s * 1000) // n if s >= 0 else -(((-s) * 1000) // n)

    exp = {}
    for label in {k for k, _ in cents}:
        a, b = cents[(label, 0)], cents[(label, 1)]
        na, nb = counts[(label, 0)], counts[(label, 1)]
        diffs = [
            abs(milli_mean(int(sa), na) - milli_mean(int(sb), nb))
            for sa, sb in zip(a, b)
        ]
        exp[label] = (na, nb, sum(diffs), max(diffs))
    got = {
        r.label: (r.n_a, r.n_b, r.l1_milli, r.linf_milli)
        for r in _rows(spark, "m_embed_drift")
    }
    assert got == exp
    for _, _, l1, linf in exp.values():
        assert 0 <= linf <= l1


def test_bloom_membership_reference(spark):
    """Bloom membership re-derived with a python set-of-bits: same
    double-hash positions, explicit per-key probe loop — exact counts,
    the zero-false-negative guarantee asserted directly, and the FP
    count within the design's expectation band."""
    from ukis_kafka_spark.ml.dedup import (
        _BLOOM_BITS_PER_KEY,
        _BLOOM_HASHES,
        _BLOOM_P,
    )

    pdf = pd.read_parquet(f"{SF_SMOKE}/part.parquet")
    seeds = [int(r.p_partkey) for r in pdf.itertuples() if r.p_size < 10]
    m = _BLOOM_BITS_PER_KEY * len(seeds)
    bits = {
        ((x * a + b) % _BLOOM_P) % m for x in seeds for a, b in _BLOOM_HASHES
    }
    hits = fps = 0
    for r in pdf.itertuples():
        x = int(r.p_partkey)
        member = r.p_size < 10
        hit = all(((x * a + b) % _BLOOM_P) % m in bits for a, b in _BLOOM_HASHES)
        if member:
            assert hit  # a Bloom filter NEVER false-negatives
        hits += hit
        fps += hit and not member
    row = _rows(spark, "m_bloom_membership")[0]
    assert (row.n_probes, row.n_members, row.n_bloom_hits, row.n_false_pos) == (
        len(pdf), len(seeds), hits, fps,
    )
    # 3 hashes at 16 bits/key → fpr ≈ (1-e^(-3/16))^3 ≈ 0.5%; allow 5x
    assert fps <= max(10, int(0.025 * (len(pdf) - len(seeds))))


def test_ann_recall_eval_reference(spark):
    """The full IVF recall audit re-derived in numpy: hash-sampled
    centroids, nearest-list assignment, multi-probe candidates, exact
    integer-L2 ground truth, per-query recall@k — exact equality, plus
    the structural bound hits <= k and candidate-set sanity."""
    import numpy as np

    from ukis_kafka_spark.ml.similarity import (
        _IVF_HASH_A,
        _IVF_HASH_P,
        _IVF_LISTS,
        _IVF_PROBES,
        _RECALL_K,
        _RECALL_NQ,
    )

    pdf = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet").sort_values("vec_id")
    ids = pdf.vec_id.to_numpy()
    V = np.floor(np.stack(pdf.embedding.to_numpy()).astype(np.float64) * 10000).astype(
        np.int64
    )
    idx_of = {int(v): i for i, v in enumerate(ids)}
    cents = sorted(ids, key=lambda v: ((int(v) * _IVF_HASH_A) % _IVF_HASH_P, int(v)))[
        :_IVF_LISTS
    ]
    C = np.stack([V[idx_of[int(c)]] for c in cents])

    def list_ranks(vec):
        d = ((C - vec) ** 2).sum(axis=1)
        return sorted(range(_IVF_LISTS), key=lambda l: (d[l], l))

    assign = {int(v): list_ranks(V[idx_of[int(v)]])[0] for v in ids}
    exp = {}
    for q in (int(v) for v in ids if v < _RECALL_NQ):
        qv = V[idx_of[q]]
        d2 = ((V - qv) ** 2).sum(axis=1)
        order = sorted(
            (int(v) for v in ids if int(v) != q),
            key=lambda v: (d2[idx_of[v]], v),
        )
        truth = set(order[:_RECALL_K])
        probes = set(list_ranks(qv)[:_IVF_PROBES])
        cand = {int(v) for v in ids if int(v) != q and assign[int(v)] in probes}
        approx = set(
            sorted(cand, key=lambda v: (d2[idx_of[v]], v))[:_RECALL_K]
        )
        exp[q] = (len(cand), len(truth & approx))
    got = {
        r.qid: (r.n_cand, r.n_hits) for r in _rows(spark, "m_ann_recall_eval")
    }
    assert got == exp
    assert all(h <= _RECALL_K for _, h in exp.values())
    assert sum(h for _, h in exp.values()) > 0  # the index finds SOMETHING


def test_covariance_topk_reference(spark):
    """Top-|cov| dimension pairs re-derived with one numpy outer-product
    accumulation over object-dtype ints (exact n*Sxy - Sx*Sy masses),
    plus a float sanity check against np.cov's own estimator sign."""
    import numpy as np

    pdf = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet").sort_values("vec_id")
    V = np.floor(np.stack(pdf.embedding.to_numpy()).astype(np.float64) * 10000).astype(
        np.int64
    )
    n, D = V.shape
    Vo = V.astype(object)
    S = Vo.sum(axis=0)
    G = Vo.T @ Vo  # exact python-int gram
    cand = []
    for i in range(D):
        for j in range(i + 1, D):
            cand.append((int(n * G[i, j] - S[i] * S[j]), i + 1, j + 1))
    cand.sort(key=lambda t: (-abs(t[0]), t[1], t[2]))
    exp = [(di, dj, cm) for cm, di, dj in cand[:10]]
    got = [(r.di, r.dj, r.cov_mass) for r in _rows(spark, "m_covariance_topk")]
    assert got == exp
    # sign sanity vs numpy's float covariance on the top pair
    cm, di, dj = cand[0]
    c = np.cov(V[:, di - 1].astype(float), V[:, dj - 1].astype(float))[0, 1]
    assert (cm > 0) == (c > 0)


def test_embed_dup_reference(spark):
    """Embedding near-dup detection (planted perturbed copies) re-derived
    with a numpy all-pairs cosine over the augmented corpus: every
    planted copy must pair with its source at >= 0.99, and the full
    >= 0.99 pair set must match exactly on the 6 dp grid."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    pdf = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet").sort_values("vec_id")
    ids = [int(v) for v in pdf.vec_id]
    M = np.stack(pdf.embedding.to_numpy()).astype(np.float32)
    aug_ids, aug = list(ids), [M[i] for i in range(len(ids))]
    planted = []
    for i, v in enumerate(ids):
        if v % 100 == 0:
            e = M[i].copy()
            e[0] = np.float32(np.float64(e[0]) + 0.1)
            aug_ids.append(v + 10000000)
            aug.append(e)
            planted.append((v, v + 10000000))
    A = np.stack(aug).astype(np.float64)
    nrm = np.sqrt((A * A).sum(axis=1))
    cos = (A @ A.T) / np.outer(nrm, nrm)
    exp = {}
    for i in range(len(aug_ids)):
        for j in range(len(aug_ids)):
            if aug_ids[i] < aug_ids[j]:
                r = float(
                    Decimal(repr(cos[i, j])).quantize(Decimal("1e-6"), ROUND_HALF_UP)
                )
                if r >= 0.99:
                    exp[(aug_ids[i], aug_ids[j])] = r
    got = {(r.id_a, r.id_b): r.cos_sim for r in _rows(spark, "m_embed_dup")}
    assert got == exp
    for a, b in planted:
        assert (a, b) in got  # every planted copy is caught


def test_passage_dedup_reference(spark):
    """Aligned-passage exact dedup re-derived with hashlib over python
    slices: non-overlapping PASSAGE-token blocks, md5 digests, corpus
    counts, only duplicated digests reported."""
    import hashlib
    from collections import defaultdict

    from ukis_kafka_spark.ml.chunking import PASSAGE

    pdf = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    occ = defaultdict(lambda: [0, set(), None])
    for r in pdf.itertuples():
        toks = r.text.split(" ")
        for s in range(0, len(toks), PASSAGE):
            h = hashlib.md5(" ".join(toks[s : s + PASSAGE]).encode()).hexdigest()
            o = occ[h]
            o[0] += 1
            o[1].add(int(r.doc_id))
            o[2] = int(r.doc_id) if o[2] is None else min(o[2], int(r.doc_id))
    exp = {
        h: (n, len(ds), first)
        for h, (n, ds, first) in occ.items()
        if n > 1
    }
    got = {
        r.passage_hash: (r.n_occurrences, r.n_docs, r.first_doc)
        for r in _rows(spark, "m_passage_dedup")
    }
    assert got == exp
    assert exp  # duplicated passages exist by corpus construction


def test_knn_label_reference(spark):
    """5-NN majority vote re-derived with a numpy all-pairs cosine on
    the replicated 6 dp grid: neighbor selection, vote counting and
    the (votes desc, label asc) tiebreak."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    pdf = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet").sort_values("vec_id")
    ids = [int(v) for v in pdf.vec_id]
    labels = {int(v): int(l) for v, l in zip(pdf.vec_id, pdf.label)}
    M = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    nrm = np.sqrt((M * M).sum(axis=1))
    cos = (M @ M.T) / np.outer(nrm, nrm)
    idx = {v: i for i, v in enumerate(ids)}
    exp = {}
    for q in (v for v in ids if v < 20):
        scored = sorted(
            (
                (
                    -float(
                        Decimal(repr(cos[idx[q], idx[o]])).quantize(
                            Decimal("1e-6"), ROUND_HALF_UP
                        )
                    ),
                    o,
                )
                for o in ids
                if o != q
            )
        )[:5]
        votes = Counter(labels[o] for _, o in scored)
        exp[q] = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    got = {r.qid: r.knn_label for r in _rows(spark, "m_knn_label")}
    assert got == exp


def test_semdedup_reference(spark):
    """SemDeDup re-derived end-to-end in numpy: the planted-clone
    augmentation, hash-sampled centroids (from the ORIGINAL corpus
    only), exact integer-L2 home assignment, bucket-LOCAL integer-dot
    pairs at the 9e7 threshold, lowest-qualifying keeper — exact
    equality, and every planted clone must be dropped against a keeper
    in its own cluster."""
    import numpy as np

    from ukis_kafka_spark.ml.similarity import (
        _IVF_HASH_A,
        _IVF_HASH_P,
        _SEM_LISTS,
        _SEM_T,
    )

    pdf = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet").sort_values("vec_id")
    ids = [int(v) for v in pdf.vec_id]
    M32 = np.stack(pdf.embedding.to_numpy()).astype(np.float32)
    aug_ids, aug = list(ids), [M32[i] for i in range(len(ids))]
    for i, v in enumerate(ids):
        if v % 50 == 0:
            e = M32[i].copy()
            e[0] = np.float32(np.float64(e[0]) + 0.1)
            aug_ids.append(v + 10_000_000)
            aug.append(e)
    V = np.floor(np.stack(aug).astype(np.float64) * 10000).astype(np.int64)
    idx = {v: i for i, v in enumerate(aug_ids)}
    cents = sorted(ids, key=lambda v: ((v * _IVF_HASH_A) % _IVF_HASH_P, v))[:_SEM_LISTS]
    C = np.stack([V[idx[c]] for c in cents])
    home = {}
    for v in aug_ids:
        d = ((C - V[idx[v]]) ** 2).sum(axis=1)
        home[v] = min(range(_SEM_LISTS), key=lambda l: (d[l], l))
    pairs = {}
    by_list = {}
    for v in aug_ids:
        by_list.setdefault(home[v], []).append(v)
    for l, vs in by_list.items():
        vs = sorted(vs)
        for i in range(len(vs)):
            for j in range(i + 1, len(vs)):
                dot = int(V[idx[vs[i]]] @ V[idx[vs[j]]])
                if dot >= _SEM_T:
                    pairs.setdefault(vs[j], []).append((vs[i], l, dot))
    exp = {}
    for dup, cand in pairs.items():
        keeper, l, dot = min(cand)
        exp[dup] = (keeper, l, dot)
    got = {
        r.dup_id: (r.keeper_id, r.list_id, r.dot_keeper)
        for r in _rows(spark, "m_semdedup")
    }
    assert got == exp
    for v in ids:
        if v % 50 == 0:
            clone = v + 10_000_000
            assert clone in exp  # every planted near-dup is caught
            assert home[clone] == home[exp[clone][0]]


def test_triplet_mining_reference(spark):
    """Triplet mining re-derived with numpy integer L2 over the grid:
    nearest same-label positive, nearest other-label negative, margin
    and satisfaction flag — exact equality, plus the metric identity
    margin == d_neg - d_pos and flag consistency."""
    import numpy as np

    from ukis_kafka_spark.ml.similarity import _TRIPLET_NQ

    pdf = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet").sort_values("vec_id")
    ids = [int(v) for v in pdf.vec_id]
    labels = {int(v): int(l) for v, l in zip(pdf.vec_id, pdf.label)}
    V = np.floor(np.stack(pdf.embedding.to_numpy()).astype(np.float64) * 10000).astype(
        np.int64
    )
    idx = {v: i for i, v in enumerate(ids)}
    exp = {}
    for a in (v for v in ids if v < _TRIPLET_NQ):
        d2 = ((V - V[idx[a]]) ** 2).sum(axis=1)
        same = [(int(d2[idx[o]]), o) for o in ids if o != a and labels[o] == labels[a]]
        other = [(int(d2[idx[o]]), o) for o in ids if labels[o] != labels[a]]
        dp, pid = min(same)
        dn, nid = min(other)
        exp[a] = (pid, nid, dp, dn, dn - dp, dn > dp)
    got = {
        r.anchor_id: (r.pos_id, r.neg_id, r.d_pos, r.d_neg, r.margin, r.is_satisfied)
        for r in _rows(spark, "m_triplet_mining")
    }
    assert got == exp
    for _, _, dp, dn, m, sat in exp.values():
        assert m == dn - dp and sat == (m > 0)


def test_dedup_survivorship_reference(spark):
    """Survivorship must be consistent with m_dedup_clusters' own
    resolution: same clusters, canonical = the member with max n_chars
    (doc_id tiebreak), and kept+dropped must equal the cluster's total
    content mass. Re-derived from the two queries' outputs plus the
    raw parquet — no shared code with the operator."""
    import pandas as pd

    from tests.conftest import SF_SMOKE
    from ukis_kafka_spark import api

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "n_chars"])
    chars = dict(zip(docs["doc_id"], docs["n_chars"]))
    clusters: dict[int, list[int]] = {}
    for r in api.queries()["m_dedup_clusters"](spark, SF_SMOKE).collect():
        clusters.setdefault(r.cluster_id, []).append(r.doc_id)
    exp = {}
    for cid, members in clusters.items():
        canon = max(members, key=lambda d: (chars[d], -d))
        exp[cid] = (
            len(members),
            canon,
            chars[canon],
            sum(chars[m] for m in members) - chars[canon],
        )
    got = {
        r.cluster_id: (r.n_members, r.canonical_doc, r.kept_chars, r.dropped_chars)
        for r in api.queries()["m_dedup_survivorship"](spark, SF_SMOKE).collect()
    }
    assert got == exp
    # the policy must differ from min-id somewhere, else it's the same
    # operator twice
    assert any(exp[c][1] != min(m) for c, m in clusters.items()), (
        "longest-text canonical always equals min-id — policy vacuous"
    )


def test_prefix_dedup_reference(spark, docs_pdf):
    """Brute-force O(n^2) prefix containment over the raw parquet —
    the banded Spark plan must find exactly these pairs, folded into
    the same 8-block audit."""
    docs = [(int(r.doc_id), r.text) for r in docs_pdf.itertuples()]
    pairs = [
        (a, b, len(ta))
        for a, ta in docs
        for b, tb in docs
        if a != b and tb.startswith(ta + " ")
    ]
    assert pairs, "no prefix pairs at smoke scale — operator untestable"
    expect: dict[int, list] = {}
    for a, b, chars in pairs:
        expect.setdefault(a % 8, []).append((a * 100000000 + b, chars))
    want = {
        blk: (
            len(v),
            sum(c for _, c in v),
            min(code for code, _ in v),
            max(code for code, _ in v),
        )
        for blk, v in expect.items()
    }
    got = {
        int(r["block"]): (
            int(r["n_pairs"]),
            int(r["chars_redundant"]),
            int(r["min_pair_code"]),
            int(r["max_pair_code"]),
        )
        for r in _rows(spark, "m_prefix_dedup")
    }
    assert got == want
    # band completeness argument is only valid if every doc has >= 3
    # tokens (the first-3-token band) — pin the measured corpus fact
    assert all(len(t.split(" ")) >= 3 for _, t in docs)
