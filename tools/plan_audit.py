"""Registry-wide physical-plan audit: build every batch query's plan
and count the anti-patterns that matter at 100 TB — Python eval
nodes, cartesian products, nested-loop joins, exchange counts.

tests/test_plans.py pins individual load-bearing shapes; this tool is
the SWEEP — it catches a regression in any of the ~300 batch queries
without hand-writing 300 tests, and writes the evidence the at-scale
claims rest on to PLANS_AUDIT.json.

Streaming (s_*) and sink_* queries execute jobs at plan-build time, so
they are audited by their tests instead and skipped here.

Usage: python tools/plan_audit.py   (writes PLANS_AUDIT.json)
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ukis_kafka_spark import api  # noqa: E402
from ukis_kafka_spark.plans import get_spark  # noqa: E402

SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR", os.environ.get("SF_DIR", "/root/testdata/sf0.001")
)

# Python eval is the sanctioned boundary for the u_* surface and for
# m_* Arrow kernels; cartesian/BNLJ appear legitimately where a tiny
# broadcast side makes them linear (theta joins, literal dims).  The
# audit therefore reports COUNTS per family and flags only the
# combinations that are never acceptable: EvalPython in q_/g_/src_
# plans, or a CartesianProduct anywhere.
NEVER_PY = ("q_", "g_", "src_")
# Documented escape hatches (README design rule 3: binary codecs and
# ray casting are sanctioned Arrow kernels even in the g_/src_
# families). src_gpkg_roundtrip decodes msgpack envelopes + WKB — the
# same codec kernel class as g_wkb_serde.
PY_ALLOWLIST = {
    "g_wkb_serde",
    "g_point_in_poly",
    "g_geom_valid",
    "src_gpkg_roundtrip",
    # LEB128 varint framing is a variable-length binary codec — same
    # sanctioned Arrow-kernel class as the WKB/GPKG decoders above
    "src_varint_frames",
}

# A partition-less (global) Window is a single-task funnel — fatal on
# an unbounded input at 100 TB, fine on a provably tiny one. Every
# sanctioned site below rides an input bounded by CONSTRUCTION —
# post-limit rank stamps, fixed histogram grids, calendar-grain
# aggregates, or value-domain supports (VERDICT r5 item 7: count them
# explicitly so the WindowExec warning from an 8-row pattern seed
# can't mask a real global window introduced later). Corpus-growing
# grains (customer/part/user/doc/token/vector/second) were migrated
# to functions.ranks.with_global_order instead. Flag any OTHER query
# whose plan contains one.
GLOBAL_WINDOW_ALLOWLIST: dict[str, str] = {
    # post-limit rank stamps (input is a LIMIT k result)
    "q_sort_multi": "rank stamp on the top-500 TakeOrdered result",
    "q_subseq_search": "rank stamp on the top-10 TakeOrdered result",
    "q_subseq_znorm": "rank stamp on the top-10 TakeOrdered result",
    "m_importance_resample": "rank stamp on the top-50 TakeOrdered result",
    "m_rank_fusion": "rank stamp on the top-10 TakeOrdered result",
    "m_ann_recall_eval": "list-id stamp on the 16-row LIMIT'd centroid seed",
    # fixed-grid / bounded-report windows
    "m_adaboost_round": "cumsums/argmax over the 32-cell stump grid (x2 rounds)",
    "m_decision_stump": "cumsum/rank over the 32-cell threshold grid",
    "m_decile_lift": "cumulative capture over the 10-row decile report",
    "q_lorenz_deciles": "cumulative share over the 10-row decile report",
    "q_quantile_hist": "cumsum over the fixed histogram bin grid",
    "m_neyman_allocation": "largest-remainder rank over |langs| strata",
    # calendar-grain aggregates (one row per hour/day/month)
    "q_changepoint": "deviation scan over hour-grain aggregate",
    "q_cumulative_distinct": "running union over day-grain aggregate",
    "q_mom_growth": "lag over month-grain aggregate",
    "q_rolling_corr": "24h frame over hour-grain aggregate",
    "q_rolling_variance": "24h frame over hour-grain aggregate",
}
# round-6 note: q_ks_test / q_mann_whitney / q_wilcoxon / q_skyline
# were first allowlisted as value-domain-bounded, then migrated to
# with_global_order anyway (cumsum / cummax_before) — the primitive
# costs nothing extra and removes the justification burden.

# ---- broadcast-lineage audit (VERDICT r7 item 4) -------------------
# A compile-time F.broadcast hint is a PROMISE that the hinted frame
# stays executor-memory-sized at any corpus scale. m_backoff_lm broke
# that promise (corpus-growing trigram tables, fixed round 8); this
# sweep catches the whole class: every ResolvedHint subtree in the
# ANALYZED logical plan that reaches a corpus-table relation must
# pass through a BOUNDING node on the way — a scalar aggregate, a
# LIMIT, or an aggregate whose every grouping key is a bounded
# domain. Anything else needs an entry here with a justification.
#
# Bounded domains on this corpus (measured, see CLAUDE.md): lang
# (skewed, 8 values), source (uniform round-robin), event_type,
# nation/region keys, calendar grains (hour/day/month of a fixed
# window), fixed grids (cell/band/bucket/shard/list ids), fold ids,
# shuffle-partition ids. Token-keyed (vocabulary) aggregates are NOT
# auto-bounded — Heaps-law growth is sublinear but real — so
# vocabulary broadcasts carry explicit allowlist entries.
# fullmatch alternation over the LOWERCASED key name (prefix/suffix
# wildcards where a family of derived names shares a bounded domain,
# e.g. cell_x/cell_y, bin_id/bin_lo)
_BOUNDED_KEY_RE = (
    r"\w*lang\w*|language|source|src|event_type|etype|fold|pid|__go_pid|"
    r"bucket\w*|band\w*|cell\w*|gx|gy|c\d*[xy]|shard\w*|list_id|"
    r"(?:\w+_)?(?:hour|day|dow|month|year|week|date)(?:_\w+)?|"
    r"grid\w*|bin\w*|tile\w*|level|lvl|round|"
    r"r_regionkey|n_nationkey|n_name|r_name|region\w*|nation\w*|"
    # p_brand is a 25-value TPC-H categorical (sb/db = src/dst brand)
    r"\w*brand\w*|sb|db|"
    r"label|cls|topic|period|half|q|k|i|j|idx|dim|d|code|"
    # k-seeded assignment ids: every `cluster`/`cl` column in this
    # codebase is an argmin over a literal-bounded seed block
    # (vec_id < k), so the key domain is k, not the corpus
    r"cluster\w*|cl|cid"
)

BROADCAST_HINT_ALLOWLIST: dict[str, str] = {
    # vocabulary-keyed count tables: distinct-token growth is
    # Heaps-law sublinear (measured vocab 31 on the synthetic corpus;
    # ~millions on real text — broadcastable far beyond the point
    # where the corpus itself is 100 TB). The n-gram tables that are
    # NOT sublinear (trigram/bigram types) were de-hinted in round 8
    # (m_backoff_lm) — these entries cover unigram/word tables only.
    "m_backoff_lm": "c1/c1f unigram tables — vocabulary-sized (Heaps)",
    "m_naive_bayes": "lang x vocab token count table (Heaps)",
    "m_collocations": "unigram document-frequency table (Heaps)",
    "m_lm_cross_entropy": "unigram count table (Heaps)",
    "m_ccnet_buckets": "unigram count table for the held-out LM (Heaps)",
    "m_position_bias": "token->common/rare class map (Heaps)",
    "m_tok_fertility": "BPE word->segmentation map — distinct WORDS (Heaps)",
    "m_bpe_apply": "BPE word->segmentation map — distinct WORDS (Heaps)",
    "q_sliding_distinct": "distinct-word dim for the day x word grid (Heaps)",
    # sanctioned quadratic baselines: the block-pair dim grows as
    # (n/B)^2 — these two are the EXACT all-pairs references whose
    # 64x curve SCALE.json publishes precisely to justify the ANN/LSH
    # operators as the 100 TB path; the broadcast dies with the rest
    # of the quadratic long before the hint is the problem.
    "m_cosine_topk": "block-pair dim of the documented exact-GEMM baseline",
    "m_embed_dup": "block-pair dim of the documented exact-GEMM baseline",
    # bounded-by-join shapes the lineage walker cannot see: the
    # corpus relation is pinned to a k-row id list by an equi-join
    # (vec_id = cid, cid from a <16-row literal/limit seed)
    "m_ivf_balance": "16 centroid vectors fetched by vec_id=cid pin join",
    "m_ann_recall_eval": "16 centroid vectors fetched by vec_id=cid pin join",
    # value-domain supports
    "m_filter_sweep": "doc-length support table (distinct n_chars values)",
    "q_null_routed_join": "floor(value) in [50,100) — 50-row dim",
    # bounded by operation semantics, not by the corpus
    "q_scd2_merge": "per-merge CDC change-batch key set — bounded by "
    "the batch size contract, not corpus mass",
    "m_bradley_terry": "every broadcast is source-keyed (players <= "
    "|sources|, 20 on this corpus; leaderboards are player-bounded)",
}


# ---- physical-plan fingerprints (VERDICT r10 stretch item 7) ------
# _REFLOAT_MIN_ROUND is a manual discipline ("when refactoring a
# shipped operator's plan, add an entry so its stale driver row stops
# counting; delete the entry once a satisfying CORRECTNESS row lands").
# This sweep makes the harness catch a missed entry: each
# batch query's canonicalized physical-plan hash is committed to
# PLAN_FINGERPRINTS.json; a query whose CURRENT fingerprint differs
# from the committed one while it still counts as driver-green means
# its green row tested a DIFFERENT plan — flagged until the builder
# either adds the refloat entry (the ID then drops out of green and
# the flag clears) or re-records with --write-fingerprints (for
# no-op/cosmetic plan-string changes, e.g. a Spark upgrade).
import hashlib  # noqa: E402
import re as _re  # noqa: E402

_FP_STRIP: list[tuple] = [
    (_re.compile(r"#\d+"), "#"),  # expression IDs vary by alloc order
    (_re.compile(r"plan_id=\d+"), "plan_id="),
    (_re.compile(r"\[id=#?\d+\]"), "[id=]"),
    (_re.compile(r"@[0-9a-fA-F]{6,}"), "@"),
    (_re.compile(r"0x[0-9a-fA-F]+"), "0x"),
    (_re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (_re.compile(r"rdd_\d+_\d+"), "rdd_"),
    (_re.compile(r"Statistics\([^)]*\)"), "Statistics()"),
    (_re.compile(r"(sizeInBytes|size|rowCount|numFiles)=\d+(\.\d+)?\s?\w*"), r"\1="),
    # build-once cache + tmp staging paths carry corpus-fingerprint
    # digest directories (testdata regeneration re-keys them); the
    # LOGICAL identity is "reads the cache", not which incarnation
    (_re.compile(r"replay_cache/[0-9a-f]{16}"), "replay_cache/_"),
    (_re.compile(r"/tmp/[^\s,\]\)]+"), "/tmp/_"),
    (_re.compile(r"Location:? [A-Za-z]*FileIndex\([^)]*\)\[[^\]]*\]"), "Location[]"),
]


def _sort_bracket_groups(line: str, parens: bool = False) -> str:
    """Sort top-level comma-separated items inside every [...] group
    (and, with ``parens``, every (...) group too). Spark's
    RewriteDistinctAggregates (count(DISTINCT a), count(DISTINCT b) →
    Expand + gid) emits its grouping keys in HASH-SET order — in
    aggregate key lists, Expand projections AND hashpartitioning
    argument lists — which varies call to call (measured on
    q_multi_distinct / q_profile_cardinality / m_corpus_stats, the
    only 3/466 unstable fingerprints). Sorting makes the hash
    order-insensitive while keeping expression content; paren sorting
    is only applied on gid-rewrite lines, where every paren group is
    a key list or a deterministic expression."""
    opens = "[(" if parens else "["
    close_of = {"[": "]", "(": ")"}
    out = []
    i = 0
    while i < len(line):
        ch = line[i]
        if ch not in opens:
            out.append(ch)
            i += 1
            continue
        closer = close_of[ch]
        depth, j = 1, i + 1
        while j < len(line) and depth:
            depth += line[j] == ch
            depth -= line[j] == closer
            j += 1
        inner = line[i + 1 : j - 1]
        parts, d, cur = [], 0, ""
        for c in inner:
            if c == "," and d == 0:
                parts.append(cur)
                cur = ""
            else:
                d += c in "([<"
                d -= c in ")]>"
                cur += c
        parts.append(cur)
        # strip() before sorting: ", "-separated lists leave every
        # item but the first space-prefixed, so which item lacks the
        # space would otherwise leak the original order into the sort
        out.append(
            ch
            + ",".join(sorted(_sort_bracket_groups(p, parens).strip() for p in parts))
            + closer
        )
        i = j
    return "".join(out)


def plan_fingerprint(plan: str) -> str:
    """16-hex canonical hash of a physical-plan string: expression
    IDs, RDD numbers, statistics, and staging paths stripped, and
    bracket-group item order canonicalized, so the hash is stable
    across sessions and data incarnations but changes whenever the
    OPERATOR TREE changes."""
    for rx, rep in _FP_STRIP:
        plan = rx.sub(rep, plan)
    lines = []
    for ln in plan.splitlines():
        if "gid#" in ln:
            # the distinct-rewrite's group-id LITERALS (FILTER gid=N,
            # Expand row tags) are assigned in the same hash-set order
            # as the keys — strip digits on those lines entirely and
            # sort paren groups too (hashpartitioning key lists)
            ln = _re.sub(r"\d+", "", ln)
            lines.append(_sort_bracket_groups(ln, parens=True))
            continue
        lines.append(_sort_bracket_groups(ln))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def _node_col(line: str) -> int:
    """Column where the node name starts (tree depth proxy)."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


_CORPUS_FIRST_COLS = (
    "c_custkey",
    "s_suppkey",
    "p_partkey",
    "o_orderkey",
    "l_orderkey",
    "event_id",
    "doc_id",
    "emb_id",
)


def _is_corpus_relation(line: str) -> bool:
    s = line.strip().lstrip("+-: ")
    if not s.startswith(("Relation", "LogicalRelation")):
        return False
    cols = s.split("[", 1)[1] if "[" in s else ""
    first = cols.split(",", 1)[0].split("#", 1)[0].strip()
    # region/nation are fixed 5/25-row dims — bounded by construction
    return first in _CORPUS_FIRST_COLS or (
        first not in ("r_regionkey", "n_nationkey") and "parquet" in s
    )


def _is_bounding(line: str) -> bool:
    import re

    s = line.strip().lstrip("+-: ").rstrip()
    if s.startswith(("GlobalLimit", "LocalLimit")):
        return True
    if s.startswith("Filter ") and re.search(
        r"\w+#\d+L? (?:<|<=|=) (?:\d+|cast\(\d+ as \w+\))(?:\)|$| )", s
    ):
        # value-domain bound: a literal upper bound / pin on an id
        # column (the 20-query ANN blocks, fixed seed sets). Modular
        # predicates (% k = 0) deliberately do NOT match — they keep
        # a constant FRACTION, not a constant COUNT.
        return True
    if s.startswith("Aggregate ["):
        body = s[len("Aggregate ") :]
        # split top-level "], [" — scalar aggregates print ONE group
        depth, groups, start = 0, [], 0
        for i, ch in enumerate(body):
            if ch == "[":
                depth += 1
                if depth == 1:
                    start = i + 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(body[start:i])
        if len(groups) <= 1:
            return True  # scalar aggregate — one row
        keys = groups[0]
        if not keys.strip():
            return True
        parts = []
        d = 0
        cur = ""
        for ch in keys:
            if ch == "," and d == 0:
                parts.append(cur)
                cur = ""
            else:
                d += ch in "([<"
                d -= ch in ")]>"
                cur += ch
        parts.append(cur)
        for p in parts:
            # calendar-grain expression keys (date_trunc(...)) are
            # bounded by the data's time window regardless of name
            if "date_trunc(" in p:
                continue
            # a grouping key is bounded if its NAME (last identifier
            # before the #id) matches the bounded-domain patterns
            name = re.split(r"[#(]", p.strip().split(" AS ")[-1].strip())[0]
            name = name.split(".")[-1].strip().lower()
            if not re.fullmatch(_BOUNDED_KEY_RE, name):
                return False
        return True
    return False


def broadcast_hint_findings(analyzed: str) -> list[str]:
    """Unbounded-broadcast findings for one query's analyzed plan:
    each ResolvedHint(broadcast) subtree reaching a corpus relation
    with no bounding ancestor on the path hint→relation."""
    lines = analyzed.splitlines()
    findings = []
    for hi, line in enumerate(lines):
        if "ResolvedHint" not in line or "broadcast" not in line:
            continue
        hcol = _node_col(line)
        # subtree = following lines until depth returns to <= hcol
        sub = []
        for j in range(hi + 1, len(lines)):
            if _node_col(lines[j]) <= hcol and lines[j].strip():
                break
            sub.append(j)
        for j in sub:
            if not _is_corpus_relation(lines[j]):
                continue
            # ancestor chain: walk up through strictly-decreasing
            # node columns from the relation back to the hint
            col = _node_col(lines[j])
            bounded = False
            for k in range(j - 1, hi, -1):
                c = _node_col(lines[k])
                if c < col:
                    col = c
                    if _is_bounding(lines[k]):
                        bounded = True
                        break
            if not bounded:
                findings.append(
                    "broadcast hint over unbounded corpus lineage: "
                    + lines[j].strip()[:90]
                )
                break  # one finding per hint is enough
    return findings


def _count_global_windows(plan: str) -> int:
    """Window nodes print as ``Window [fns], [partition], [order]``
    when fully specified, ``Window [fns], [partition]`` when
    partition-only (NOT a funnel — it distributes), and
    ``Window [fns], [order]`` when global.  Classify by counting
    top-level bracket groups AND checking the last group for a sort
    direction (ASC/DESC only appear in order specs)."""
    n = 0
    for line in plan.splitlines():
        idx = line.find("Window [")
        if idx < 0:
            continue
        rest = line[idx + len("Window ") :]
        if "more fields" in rest:
            # spark.sql.debug.maxToStringFields truncation ("... N
            # more fields") can swallow the spec groups — count it
            # conservatively so the sweep FLAGS it for a human rather
            # than silently passing a possibly-global window (ADVICE
            # r6: the old wholesale skip was a silent false negative)
            n += 1
            continue
        groups, depth, start = [], 0, None
        for i, ch in enumerate(rest):
            if ch == "[":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(rest[start : i + 1])
        if depth != 0:
            n += 1  # unbalanced/cut-off spec — flag, don't skip
            continue
        if len(groups) != 2 or not (" ASC" in groups[1] or " DESC" in groups[1]):
            continue  # partitioned or partition-only window — distributes
        # the ONE sanctioned global window: with_global_order's
        # internal offsets cumulation — one row per shuffle partition
        # by construction, SUM/MAX over __go_cnt/__go_tot*/__go_totmx*
        # ordered by __go_pid. Scoped to the PARSED groups: a genuine
        # global window whose expressions merely mention __go_ columns
        # is still counted (ADVICE r6 scoped this down from a
        # line-wide substring skip).
        if "__go_pid" in groups[1] and (
            "__go_cnt" in groups[0]
            or "__go_tot" in groups[0]
            or "__go_totmx" in groups[0]
        ):
            continue
        n += 1
    return n


def main() -> int:
    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    write_fps = "--write-fingerprints" in sys.argv
    fp_path = os.path.join(REPO, "PLAN_FINGERPRINTS.json")
    prev_fps: dict[str, str] = {}
    if os.path.exists(fp_path):
        with open(fp_path) as fh:
            prev_fps = json.load(fh)
    cur_fps: dict[str, str] = {}
    green = api._driver_evidence()[0]

    rows: dict[str, dict[str, int]] = {}
    flags: list[str] = []
    skipped: list[str] = []
    for name, fn in api.queries().items():
        if name.startswith(("s_", "sink_")):
            skipped.append(name)
            continue
        try:
            qe = fn(spark, SF_DIR)._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            analyzed = qe.analyzed().toString()
        except Exception as exc:  # pragma: no cover - audit robustness
            flags.append(f"{name}: plan build failed: {exc}")
            continue
        cur_fps[name] = plan_fingerprint(plan)
        if (
            not write_fps
            and name in prev_fps
            and prev_fps[name] != cur_fps[name]
            and name in green
        ):
            flags.append(
                f"{name}: physical plan changed since PLAN_FINGERPRINTS.json "
                "was recorded but the ID still counts as driver-green — its "
                "green row tested the OLD plan. Add it to "
                "api._REFLOAT_MIN_ROUND (upcoming round) and re-record with "
                "--write-fingerprints, or re-record alone if the change is "
                "cosmetic (plan-string only)."
            )
        bcast = broadcast_hint_findings(analyzed)
        info = {
            "eval_python": plan.count("EvalPython"),
            "cartesian": plan.count("CartesianProduct"),
            "bnlj": plan.count("BroadcastNestedLoopJoin"),
            "exchanges": plan.count("Exchange"),
            "global_windows": _count_global_windows(plan),
            "unbounded_broadcast_hints": len(bcast),
        }
        rows[name] = info
        if info["cartesian"]:
            flags.append(f"{name}: CartesianProduct in plan")
        if info["global_windows"] and name not in GLOBAL_WINDOW_ALLOWLIST:
            flags.append(
                f"{name}: {info['global_windows']} partition-less Window "
                "node(s) — single-task funnel unless the input is bounded; "
                "add to GLOBAL_WINDOW_ALLOWLIST with a justification"
            )
        if (
            info["eval_python"]
            and name.startswith(NEVER_PY)
            and name not in PY_ALLOWLIST
        ):
            flags.append(f"{name}: Python eval in a JVM-only family")
        if bcast and name not in BROADCAST_HINT_ALLOWLIST:
            for b in bcast:
                flags.append(
                    f"{name}: {b} — drop the hint (AQE converts small "
                    "sides at runtime) or add to BROADCAST_HINT_ALLOWLIST "
                    "with a justification"
                )

    out = {
        "sf_dir": SF_DIR,
        "n_audited": len(rows),
        "n_skipped_streaming": len(skipped),
        "flags": flags,
        "global_window_allowlist": GLOBAL_WINDOW_ALLOWLIST,
        "broadcast_hint_allowlist": BROADCAST_HINT_ALLOWLIST,
        "totals": {
            "eval_python_plans": sum(1 for r in rows.values() if r["eval_python"]),
            "bnlj_plans": sum(1 for r in rows.values() if r["bnlj"]),
            "cartesian_plans": sum(1 for r in rows.values() if r["cartesian"]),
            "global_window_plans": sum(
                1 for r in rows.values() if r["global_windows"]
            ),
        },
        "queries": rows,
    }
    with open(os.path.join(REPO, "PLANS_AUDIT.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    if write_fps or not os.path.exists(fp_path):
        with open(fp_path, "w") as fh:
            json.dump(cur_fps, fh, indent=1, sort_keys=True)
        print(f"wrote PLAN_FINGERPRINTS.json ({len(cur_fps)} fingerprints)")
    print(
        f"audited {len(rows)} plans, skipped {len(skipped)} streaming/sink; "
        f"flags: {len(flags)}"
    )
    for f in flags:
        print("FLAG", f)
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
