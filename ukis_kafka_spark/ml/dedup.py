"""Deduplication operators over ``documents`` (training-data-pipeline
suite: exact, MinHash+LSH, SimHash, n-gram Jaccard).

Scale design (the whole point of these):
- exact dedup = hash aggregate on the text (or a digest of it at
  100 TB: group on xxhash64(text) then resolve collisions) — one
  shuffle, no pairwise anything.
- near-dup never enumerates O(n²) pairs: MinHash signatures are
  banded and only same-bucket candidates join (LSH), so the join is
  |buckets| × small-bucket², and SimHash pairs only meet via 16-bit
  band equality. Candidate verification is exact and cheap.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import QUERIES, checkpoint_df, query, session_memo
from ..sources import load_table

# MinHash parameters: 12 hashes = 4 bands × 3 rows. Small because the
# corpus's planted duplicates are near-identical; raise for fuzzier
# thresholds. Affine hashers over the 31-bit Mersenne prime so that
# h*a+b stays < 2^62 (Spark 4 runs ANSI mode: long overflow throws).
_P = (1 << 31) - 1
_N_HASH = 12
_BANDS = 4
_ROWS = _N_HASH // _BANDS
# fixed odd constants (deterministic across runs — no RNG at plan time)
_AS = [(2 * i * 0x9E3779B1 + 1) % _P for i in range(1, _N_HASH + 1)]
_BS = [(i * 0x85EBCA77 + 7) % _P for i in range(1, _N_HASH + 1)]


def _shingles(toks_col: F.Column, k: int = 3) -> F.Column:
    """Distinct k-token shingles of a pre-split token ARRAY column, via
    higher-order functions only (no explode → no row blow-up).

    Takes the token array, NOT the raw text: an inline ``split(text)``
    referenced inside a ``transform`` lambda is re-evaluated once per
    array ELEMENT (measured 3.4 s vs 0.35 s for the corpus bigram
    table at sf0.1 — r11 finding; lambda bodies defeat subexpression
    reuse the same way when() branches do).  Callers stage the split
    with a projection first."""
    n = F.size(toks_col)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks_col, i, k), " "))
    )


def _minhash_sig_udf():
    """All 12 minhashes per doc in one numpy kernel (12 JVM array folds
    per doc are interpreted and ~15-100x slower; hashlib.md5 is C-speed
    and deterministic).  Shared by m_near_dedup / m_lsh_sweep /
    m_incremental_dedup — one hash family, one kernel (r11: the two SQL
    twins used to recompute the identical signatures via a 6x-inlined
    md5 CTE; see each docstring)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    a_vec = np.array(_AS, dtype=np.int64)
    b_vec = np.array(_BS, dtype=np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def minhash_sig(sh_col: pd.Series) -> pd.Series:
        import hashlib

        out = []
        for shingles in sh_col:
            # big-endian value of the first 15 md5 hex digits (60 bits,
            # sign-safe) — same engine-neutral hash family as m_simhash,
            # which is what lets the SQL oracle recompute the signatures
            hs = np.fromiter(
                (int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in shingles),
                dtype=np.int64,
                count=len(shingles),
            )
            sigs = ((hs[:, None] % _P) * a_vec + b_vec) % _P
            out.append(sigs.min(axis=0))
        return pd.Series(out)

    return minhash_sig


@query(
    "m_exact_dedup",
    oracle="""
SELECT min(doc_id) AS keep_id, count(*) AS n_copies, min(n_chars) AS n_chars
FROM documents
GROUP BY text
""",
)
def m_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the smallest doc_id per identical text.
    One hash aggregate; at 100 TB group on xxhash64(text) first so the
    shuffle carries 8-byte keys instead of documents."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    ).drop("text")


def _near_dedup_oracle() -> str:
    hashers = ", ".join(
        f"({j + 1}, {_AS[j]}, {_BS[j]})" for j in range(_N_HASH)
    )
    hexparse = " + ".join(
        f"(strpos('0123456789abcdef', substring(md5(sh), {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
        for i in range(15)
    )
    return f"""
WITH shl AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(l) - 2, 1)),
             i -> array_to_string(l[i : i + 2], ' '))) AS shl
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
),
sh_h AS (
  SELECT doc_id, CAST({hexparse} AS BIGINT) AS hv
  FROM (SELECT doc_id, unnest(shl) AS sh FROM shl)
),
sig AS (
  SELECT doc_id, hp.j, MIN(((hv % {_P}) * hp.a + hp.b) % {_P}) AS sig
  FROM sh_h, (VALUES {hashers}) AS hp(j, a, b)
  GROUP BY doc_id, hp.j
),
bands AS (
  SELECT doc_id, (j - 1) // {_ROWS} AS band_idx,
         string_agg(CAST(sig AS VARCHAR), '_' ORDER BY j) AS band_sig
  FROM sig GROUP BY doc_id, (j - 1) // {_ROWS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
         / len(list_distinct(list_concat(sa.shl, sb.shl))) AS jaccard
FROM cand
JOIN shl sa ON sa.doc_id = cand.id_a
JOIN shl sb ON sb.doc_id = cand.id_b
WHERE CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.shl, sb.shl))) >= 0.6
"""


@query("m_near_dedup", oracle=_near_dedup_oracle())
def m_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate pairs.

    Pipeline: 3-token shingles → 12 minhashes (affine hashers over a
    60-bit md5-hex shingle hash, computed in one numpy kernel per
    Arrow batch) → 4 bands × 3 rows → explode bands → self-join on
    (band_idx, band_signature) → exact Jaccard verify ≥ 0.6.

    The only explode is per-band (4 rows/doc); candidate pairs are
    bucket-local, so no O(n²) stage exists. The engine-neutral hash
    (same family as m_simhash) makes the ENTIRE pipeline — signatures,
    banding, candidate set, verified Jaccard — reproducible in SQL, so
    this operator is fully oracle-hash-checked on top of its
    planted-duplicate unit test + hypothesis Jaccard-estimate bound.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = d.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", _shingles(F.col("toks")).alias("sh")
    )

    minhash_sig = _minhash_sig_udf()

    # (doc_id, sh, sig) is materialized ONCE — the signature table is
    # the pipeline's working table (at 100 TB: a persisted dataset).
    # The band self-join then carries only 8-byte ids + band keys, and
    # shingle arrays are re-joined for the (tiny) candidate set only —
    # document-sized arrays never ride the exploded shuffle. Without
    # the checkpoint this layout was ~35% slower at sf0.1 (the shingle
    # lineage recomputed once per re-join side); with it, it wins at
    # every scale.
    sig = sh.select("doc_id", "sh", minhash_sig(F.col("sh")).alias("sig")).transform(checkpoint_df)
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[F.element_at(F.col("sig"), b * _ROWS + r + 1) for r in range(_ROWS)],
                    )
                    for b in range(_BANDS)
                ]
            )
        ).alias("band_idx", "band_sig"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    shingle_tbl = sig.select("doc_id", "sh")
    verif = cand.join(
        shingle_tbl.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(
        shingle_tbl.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        verif.withColumn("jaccard", inter.cast("double") / union)
        .where(F.col("jaccard") >= 0.6)
        .select("id_a", "id_b", "jaccard")
    )


_SIMHASH_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents
),
h AS (SELECT doc_id, CAST((strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 72057594037927936 + (strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1) * 4503599627370496 + (strpos('0123456789abcdef', substring(md5(tok), 3, 1)) - 1) * 281474976710656 + (strpos('0123456789abcdef', substring(md5(tok), 4, 1)) - 1) * 17592186044416 + (strpos('0123456789abcdef', substring(md5(tok), 5, 1)) - 1) * 1099511627776 + (strpos('0123456789abcdef', substring(md5(tok), 6, 1)) - 1) * 68719476736 + (strpos('0123456789abcdef', substring(md5(tok), 7, 1)) - 1) * 4294967296 + (strpos('0123456789abcdef', substring(md5(tok), 8, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substring(md5(tok), 9, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substring(md5(tok), 10, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substring(md5(tok), 11, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substring(md5(tok), 12, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substring(md5(tok), 13, 1)) - 1) * 256 + (strpos('0123456789abcdef', substring(md5(tok), 14, 1)) - 1) * 16 + (strpos('0123456789abcdef', substring(md5(tok), 15, 1)) - 1) * 1 AS BIGINT) AS hv FROM toks),
votes AS (
  SELECT doc_id, b, SUM(2 * ((hv >> b) & 1) - 1) AS vote
  FROM h, unnest(generate_series(0, 59)) AS t(b)
  GROUP BY doc_id, b
),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
banded AS (
  SELECT doc_id, simhash, b AS band_idx, (simhash >> (b * 15)) & 32767 AS band_val
  FROM fp, unnest(generate_series(0, 3)) AS t(b)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM banded a JOIN banded b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@query("m_simhash", oracle=_SIMHASH_ORACLE)
def m_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-60 near-duplicate pairs: per-token md5-derived 60-bit
    hash → per-bit majority vote → fingerprint → candidate pairs share
    one of four 15-bit bands → Hamming distance ≤ 3 via bit_count.

    The token hash is the big-endian integer value of the first 15 md5
    hex digits — 60 bits, chosen so the whole pipeline fits SIGNED
    64-bit integers in every engine; that makes the bit votes plain
    modular arithmetic and upgrades this operator from rows-only to
    fully oracle-hash-checked (the round-2 q_map_ops precedent), with
    the SQL twin re-deriving the same hash via hex-digit positional
    parse.

    The bit vote is a vectorized numpy kernel behind an Arrow-batched
    pandas UDF (a 60-lane JVM array fold is interpreted, not
    codegen'd — measured 147 s vs ~2 s at sf0.1). Banding, the
    self-join, and the Hamming filter stay JVM-side."""
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.LongType())
    def simhash60(text: pd.Series) -> pd.Series:
        out = np.empty(len(text), dtype=np.int64)
        for i, t in enumerate(text):
            toks = set(t.split(" ")) if t else set()
            if not toks:
                out[i] = 0
                continue
            # big-endian value of the first 15 md5 hex digits: 60 bits,
            # sign-safe in every engine; the oracle re-derives it per
            # hex digit
            hs = np.array(
                [int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) for tok in toks],
                dtype=np.int64,
            )
            bits = ((hs[:, None] >> np.arange(60, dtype=np.int64)) & 1).astype(np.int32)
            votes = (2 * bits - 1).sum(axis=0)
            fp = 0
            for b in np.nonzero(votes > 0)[0]:
                fp |= 1 << int(b)
            out[i] = fp
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # r11: pin the fingerprints — the band self-join reads this frame
    # on BOTH sides, so without the pin the Arrow kernel (and the doc
    # scan) executes twice (guide §2.4 reuse; measured ~2x the UDF cost)
    sims = d.select("doc_id", simhash60(F.col("text")).alias("simhash")).transform(
        lambda df: checkpoint_df(df, eager=False)
    )
    banded = sims.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * 15).bitwiseAND(F.lit(0x7FFF).cast("long"))
                    for b in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(ham <= 3)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


@query(
    "m_ngram_jaccard",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM toks a JOIN toks b ON a.tok = b.tok AND b.doc_id = a.doc_id + 1
  GROUP BY a.doc_id, b.doc_id
), sizes AS (
  SELECT doc_id, count(DISTINCT tok) AS n FROM toks GROUP BY doc_id
)
SELECT p.id_a, p.id_b,
       CAST(p.n_inter AS DOUBLE) / (sa.n + sb.n - p.n_inter) AS jaccard
FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
WHERE p.n_inter > 0
""",
)
def m_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard similarity of adjacent doc_id pairs (a
    deterministic, linear-size pair set — the operator under test is
    the set-similarity kernel, not pair enumeration)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    a = t.alias("a")
    b = t.select((F.col("doc_id") - 1).alias("join_id"), F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect(F.col("toks"), F.col("toks_b")))
    union = F.size(F.array_union(F.col("toks"), F.col("toks_b")))
    return (
        a.join(b, F.col("doc_id") == F.col("join_id"))
        .where(inter > 0)
        .select(
            F.col("doc_id").alias("id_a"),
            "id_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
    )


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over an undirected edge list
    (id_a, id_b) via iterative min-label propagation: every node
    repeatedly adopts the smallest label in its neighborhood until no
    label changes. Converges in O(diameter) joins — near-dup graphs
    are unions of small cliques, so 2-3 iterations in practice; each
    iteration is one shuffle on the node id.

    Returns (node, component) where component = min doc_id reachable.
    """
    sym = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        # pin once (lazy: the init-mass probe below materializes it in
        # the same job) — every iteration re-reads the edges
        .transform(lambda df: checkpoint_df(df, eager=False))
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .transform(lambda df: checkpoint_df(df, eager=False))
    )
    # r11 cost discipline (the connected_components_jump probe, back-
    # ported): labels are elementwise NON-INCREASING — new = least(own,
    # min neighbor) — so equal consecutive label-mass sums ⟺ no label
    # changed, and the scalar probe doubles as the round's single
    # materializing action on the LAZY checkpoint (was: eager
    # checkpoint job + a self-join change probe = 2 jobs/round).
    # DECIMAL(38,0): Σ of int64 ids passes 2^63 at corpus scale.
    prev_mass = labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)")).alias("m")
    ).collect()[0][0]
    converged = False
    for _ in range(max_iter):
        # each node's candidate label: min over its own and neighbors'
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
            )
            .transform(lambda df: checkpoint_df(df, eager=False))
        )
        mass = new_labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("m")
        ).collect()[0][0]
        labels = new_labels
        if mass == prev_mass:
            converged = True
            break
        prev_mass = mass
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(component diameter exceeds max_iter) — raise max_iter"
        )
    return labels


def connected_components_jump(
    edges: DataFrame, max_iter: int = 24
) -> tuple[DataFrame, int]:
    """Connected components in O(log diameter) ROUNDS via alternating
    min-neighbor + POINTER-JUMPING label propagation (the
    large-star/small-star family — Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): each round first
    adopts the minimum label in the closed neighborhood (the plain
    step), then composes labels through themselves —
    label(v) ← label(label(v)) — which halves the remaining pointer
    depth the way parallel pointer jumping does.  Plain min-label
    propagation needs Θ(diameter) rounds, which is the cost driver on
    the long near-dup chains (shingle drift) a 100 TB corpus grows;
    this variant converges on a 625-node chain in 7 rounds where
    plain propagation needs 624.

    Correctness: labels only ever decrease and are always ids of real
    nodes in the same component (a min over closed-neighborhood labels
    stays in the component; composing two in-component pointers stays
    in the component), so the probe-checked fixpoint — no label
    changed, i.e. every edge's endpoints agree — is exactly
    component = min reachable id.  Cost discipline (the per-round job
    count is what the 10+ rounds amplify): self-loop edges fold the
    least-with-own-label step into the neighbor aggregate (one join
    fewer), the convergence probe is a SCALAR label-mass sum — labels
    are elementwise non-increasing, so equal consecutive sums ⟺ no
    label changed — instead of a self-join, and the per-round
    checkpoint is LAZY so that probe is the round's single
    materializing action: one Spark job per round, two shuffles
    inside it, O(1) lineage (the m_graph_cc discipline).  The mass
    sum accumulates in DECIMAL(38,0) (Σ of int64 ids over 1e9+ nodes
    passes 2^63; ANSI would throw).  Returns (labels, rounds); raises
    if max_iter rounds pass without convergence."""
    sym = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .transform(checkpoint_df)
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    # closed neighborhood: self-loops make min-over-in-edges already
    # include the node's own label
    symplus = sym.unionByName(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    ).transform(checkpoint_df)
    labels = nodes.withColumn("component", F.col("node")).transform(checkpoint_df)
    prev_mass = None
    for rounds in range(1, max_iter + 1):
        # pin l1: both the jump's left side and the pointer table read
        # it — unpinned, the neighbor join+agg would execute twice per
        # round (the m_graph_hits pre-normalization-checkpoint rule)
        l1 = (
            symplus.join(labels, symplus.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("component"))
            .withColumnRenamed("src", "node")
            .transform(lambda df: checkpoint_df(df, eager=False))
        )
        # TWO jump steps per round: each composes labels through
        # themselves, so reach per round goes from ~2x to ~4x (rounds
        # ~log4(diameter)) for one extra label-keyed join inside the
        # same job — a win while per-round job overhead dominates
        # (measured 9.5 -> 7.6 s at the sf0.1 625-chain).
        l2 = l1
        for _ in range(2):
            ptr = l2.select(
                F.col("node").alias("p_node"), F.col("component").alias("p_component")
            )
            l2 = l2.join(ptr, l2.component == ptr.p_node, "left").select(
                "node",
                F.coalesce(F.col("p_component"), F.col("component")).alias("component"),
            )
            l2 = checkpoint_df(l2, eager=False)
        mass = l2.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("m")
        ).collect()[0][0]
        labels = l2
        if mass == prev_mass:
            return labels, rounds
        prev_mass = mass
    raise RuntimeError(
        f"connected_components_jump did not converge in {max_iter} rounds"
    )


_CHAIN_STRIDE = 8


@query(
    "m_cc_pointer_jump",
    oracle=f"""
WITH sizes AS (
  SELECT doc_id % {_CHAIN_STRIDE} AS cluster_id,
         CAST(count(*) AS BIGINT) AS n_members
  FROM documents GROUP BY 1
)
SELECT d.doc_id,
       d.doc_id % {_CHAIN_STRIDE} AS cluster_id,
       d.doc_id % {_CHAIN_STRIDE} = d.doc_id AS is_min,
       s.n_members
FROM documents d JOIN sizes s ON s.cluster_id = d.doc_id % {_CHAIN_STRIDE}
""",
)
def m_cc_pointer_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-chain connected components — the adversarial topology for
    label propagation: docs are linked doc_id → doc_id+8 wherever both
    exist, producing 8 chains of length N/8 (diameter 62 at
    sf0.001/0.01, 624 at sf0.1 — MEASURED; doc_ids verified dense
    0..N−1 at every scale, which is also why the oracle knows the
    components in closed form: chain k = the residue class k mod 8,
    min = k).  The OPERATOR assumes none of that — it builds the edge
    list by a self-join and runs the generic pointer-jumping CC
    (connected_components_jump), which converges here in ≤7 rounds
    where the plain min-label loop (connected_components, max 20)
    would need 624 and FAIL outright at every scale — this operator
    exists precisely because the fixed-round / bounded-round variants
    that are correct on diameter-1 band cliques (m_dedup_clusters)
    break on the chain-shaped components a 100 TB near-dup graph
    grows.  n_members varies across clusters at the sf0.01 audit
    scale (500 = 8·62+4 → four 63s, four 62s) and is the documented
    by-design constant 625 at sf0.1 (5000 = 8·625).  Scale shape: one
    derived-key self-join for edges, then O(log diameter) checkpointed
    rounds of two shuffles each; no windows, no Python, no collect."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    nxt = d.select((F.col("doc_id") - _CHAIN_STRIDE).alias("id_a"),
                   F.col("doc_id").alias("id_b"))
    edges = d.join(nxt, d.doc_id == nxt.id_a).select("id_a", "id_b")
    labels, _rounds = connected_components_jump(edges)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return (
        labels.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            (F.col("node") == F.col("component")).alias("is_min"),
            "n_members",
        )
    )


_CLUSTER_ORACLE_ROUNDS = 4


def _dedup_clusters_oracle() -> str:
    parts = [
        f"""
WITH pairs AS (SELECT id_a, id_b FROM ({_near_dedup_oracle()})),
sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym)"""
    ]
    for k in range(_CLUSTER_ORACLE_ROUNDS):
        parts.append(
            f""",
l{k + 1} AS (
  SELECT n.node, least(n.lbl, min(lb.lbl)) AS lbl
  FROM l{k} n
  JOIN sym s ON s.src = n.node
  JOIN l{k} lb ON lb.node = s.dst
  GROUP BY n.node, n.lbl
)"""
        )
    parts.append(
        f"""
SELECT node AS doc_id, lbl AS cluster_id, node = lbl AS is_survivor
FROM l{_CLUSTER_ORACLE_ROUNDS}"""
    )
    return "".join(parts)


@query("m_dedup_clusters", oracle=_dedup_clusters_oracle())
@session_memo("documents")
def m_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster resolution — the step after pair finding
    in a real dedup pipeline: MinHash pairs → connected components →
    keep the smallest doc_id per cluster. Emits every clustered doc
    with its cluster id and survivor flag; unit-tested on planted
    multi-doc clusters. With the pair graph itself now SQL-derivable
    (see _near_dedup_oracle), the oracle replays 4 unrolled min-label
    rounds over it — band-collision clusters are near-cliques
    (measured diameter 1 at sf0.01/0.1), so 4 rounds is the converged
    fixpoint the Spark-side loop also reaches, and the whole
    dedup-resolve pipeline is hash-checked end to end.  The Spark
    loop is convergence-CHECKED (not fixed-round), so correctness
    never rests on the diameter-1 fact; for graphs that grow LONG
    chains (shingle drift at 100 TB) connected_components_jump /
    m_cc_pointer_jump is the O(log diameter) variant — its planted
    64-chain test shows exactly where a fixed-round resolve breaks."""
    # Session-memoized: m_dedup_survivorship and m_apply_dedup both
    # re-derive this whole MinHash→CC pipeline through
    # QUERIES["m_dedup_clusters"]; resolve it once and pin the bounded
    # cluster table.
    pairs = QUERIES["m_near_dedup"](spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_survivor"),
    ).transform(lambda df: checkpoint_df(df, eager=False))


def _survivorship_oracle() -> str:
    return f"""
WITH clusters AS (
  SELECT doc_id, cluster_id FROM ({_dedup_clusters_oracle()})
),
ranked AS (
  SELECT c.cluster_id, c.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
  FROM clusters c JOIN documents d USING (doc_id)
)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS canonical_doc,
       CAST(min(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS kept_chars,
       CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS dropped_chars
FROM ranked
GROUP BY cluster_id
"""


@query("m_dedup_survivorship", oracle=_survivorship_oracle())
def m_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship POLICY over near-duplicate clusters — the MDM step
    after resolution: within each cluster keep the RICHEST record
    (longest text, doc_id tiebreak) rather than m_dedup_clusters'
    positional min-id, and account for what the policy keeps vs drops
    (the content-mass saving a dedup pass reports).  The two operators
    together express the real pipeline: resolve once, then apply an
    auditable, swappable canonicalization rule.  Scale: the cluster
    table joins the doc metadata on the id hash, the per-cluster
    argmax is a window PARTITIONED by cluster (bounded groups — band
    clusters are near-cliques of single-digit size), and the final
    aggregate is map-side combinable."""
    from pyspark.sql import Window

    clusters = QUERIES["m_dedup_clusters"](spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = clusters.join(d, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.col("n_chars").desc(), F.col("doc_id").asc()
            )
        ),
    )
    return ranked.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("canonical_doc"),
        F.min(F.when(F.col("rn") == 1, F.col("n_chars")))
        .cast("bigint")
        .alias("kept_chars"),
        F.coalesce(
            F.sum(F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("dropped_chars"),
    )


_SUB_A = 2654435761  # Knuth multiplicative constant
_SUB_M = 1_000_003


@query(
    "m_subsample",
    oracle=f"""
SELECT doc_id, lang, (doc_id * {_SUB_A} % {_SUB_M}) % 10 AS bucket
FROM documents
WHERE (doc_id * {_SUB_A} % {_SUB_M}) % 10 < 3
""",
)
def m_subsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 30% corpus subsample by multiplicative hash of the
    key — the reproducible sampling a training pipeline needs (same
    subset on every run/engine, unlike TABLESAMPLE or rand()). Pure
    integer arithmetic (doc_id·A stays < 2^63 at any corpus size the
    bigint id space allows) pushed into the scan filter."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(_SUB_A) % _SUB_M) % 10
    return d.select("doc_id", "lang", bucket.alias("bucket")).where(bucket < 3)


@query(
    "m_class_balance",
    oracle="""
WITH counts AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY lang
), mx AS (SELECT max(n) AS max_n FROM counts)
SELECT lang, n,
       CAST(mx.max_n AS DOUBLE) / n AS upsample_factor,
       CAST(n AS DOUBLE) / (SELECT sum(n) FROM counts) AS frac
FROM counts CROSS JOIN mx
""",
)
def m_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance audit + resampling factors per language: the
    largest class defines the upsample target. Two tiny broadcast
    1-row aggregates over the per-class counts; every emitted double
    is a ratio of exact integers."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mx = counts.select(F.max("n").alias("max_n"))
    tot = counts.select(F.sum("n").alias("tot_n"))
    return (
        counts.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n",
            (F.col("max_n").cast("double") / F.col("n")).alias("upsample_factor"),
            (F.col("n").cast("double") / F.col("tot_n")).alias("frac"),
        )
    )


# Bloom geometry: 3 double-hash probes into m = _BLOOM_BITS_PER_KEY ×
# |seed set| bits. Public multiplicative-hash constants (xxHash/Murmur
# primes); all arithmetic in BIGINT (products ≤ 2e5 × 3.3e9 ≈ 2^49,
# far under the ANSI overflow line).
_BLOOM_P = 2_147_483_647
_BLOOM_HASHES = ((2_654_435_761, 17), (2_246_822_519, 31), (3_266_489_917, 47))
_BLOOM_BITS_PER_KEY = 16


def _bloom_pos_sql(x: str, i: int) -> str:
    a, b = _BLOOM_HASHES[i]
    return f"(({x} * {a} + {b}) % {_BLOOM_P}) % m"


@query(
    "m_bloom_membership",
    oracle=f"""
WITH geom AS (
  SELECT CAST({_BLOOM_BITS_PER_KEY} AS BIGINT) * count(*) AS m
  FROM part WHERE p_size < 10
),
seeds AS (SELECT p_partkey AS x FROM part WHERE p_size < 10),
bloom AS (
  SELECT DISTINCT pos FROM (
    {" UNION ALL ".join(f"SELECT {_bloom_pos_sql('x', i)} AS pos FROM seeds, geom" for i in range(3))}
  )
),
probes AS (SELECT p_partkey AS x, (p_size < 10) AS member FROM part),
cand AS (
  {" UNION ALL ".join(f"SELECT x, {_bloom_pos_sql('x', i)} AS pos FROM probes, geom" for i in range(3))}
),
miss AS (
  SELECT DISTINCT x FROM cand
  WHERE pos NOT IN (SELECT pos FROM bloom)
)
SELECT count(*) AS n_probes,
       COUNT(CASE WHEN p.member THEN 1 END) AS n_members,
       COUNT(CASE WHEN mi.x IS NULL THEN 1 END) AS n_bloom_hits,
       COUNT(CASE WHEN mi.x IS NULL AND NOT p.member THEN 1 END) AS n_false_pos
FROM probes p LEFT JOIN miss mi ON mi.x = p.x
""",
)
def m_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bloom-filter membership: build a bit set from the
    "small parts" seed set (3 explicit double-hash probes, m sized at
    16 bits/key so the false-positive rate stays ~0.7% at EVERY scale
    factor — a fixed m would saturate at 100×), probe every part key,
    and report hit/false-positive counts.  This is the pre-join
    pruning primitive: at 100 TB you broadcast the (m/8-byte) bit set
    and drop non-member rows before they reach the shuffle.  The bit
    positions are plain BIGINT math (no engine hash), so build and
    probe are bit-identical cross-engine and the FP count is
    hash-checked, non-vacuous at sf0.01 (≈10 FPs) and sf0.1 (≈100).

    Spark shape: the position set is a DISTINCT over ~3|S| longs; the
    probe is a broadcast anti-join of probe positions against it —
    no row-wise Python, no driver collect (the geometry scalar rides
    a 1-row broadcast cross join)."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_size")
    geom = F.broadcast(
        part.where(F.col("p_size") < 10).agg(
            (F.lit(_BLOOM_BITS_PER_KEY).cast("bigint") * F.count(F.lit(1))).alias("m")
        )
    )
    seeds = part.where(F.col("p_size") < 10).select(F.col("p_partkey").alias("x"))

    def pos(i: int):
        a, b = _BLOOM_HASHES[i]
        return ((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(_BLOOM_P)) % F.col("m")

    def positions(df: DataFrame) -> DataFrame:
        with_m = df.crossJoin(geom)
        out = None
        for i in range(3):
            lvl = with_m.select("x", pos(i).alias("pos"))
            out = lvl if out is None else out.unionByName(lvl)
        return out

    bloom = positions(seeds).select("pos").distinct()
    probes = part.select(F.col("p_partkey").alias("x"), (F.col("p_size") < 10).alias("member"))
    miss = (
        positions(probes.select("x"))
        .join(F.broadcast(bloom), "pos", "left_anti")
        .select("x")
        .distinct()
    )
    flagged = probes.join(miss.withColumn("missed", F.lit(True)), "x", "left")
    return flagged.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.count(F.when(F.col("member"), 1)).alias("n_members"),
        F.count(F.when(F.col("missed").isNull(), 1)).alias("n_bloom_hits"),
        F.count(F.when(F.col("missed").isNull() & ~F.col("member"), 1)).alias("n_false_pos"),
    )


@query(
    "m_ngram_containment",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM toks a JOIN toks b ON a.tok = b.tok AND b.doc_id = a.doc_id + 1
  GROUP BY a.doc_id, b.doc_id
), sizes AS (
  SELECT doc_id, count(DISTINCT tok) AS n FROM toks GROUP BY doc_id
)
SELECT p.id_a, p.id_b,
       CAST(p.n_inter AS DOUBLE) / least(sa.n, sb.n) AS containment,
       CAST(p.n_inter AS DOUBLE) / (sa.n + sb.n - p.n_inter) AS jaccard,
       (sa.n < sb.n) AS a_is_smaller
FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
WHERE p.n_inter > 0
""",
)
def m_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment coefficient |A∩B| / min(|A|,|B|) beside Jaccard for
    the same deterministic pair set: containment is the dedup signal
    Jaccard structurally misses — a short document fully embedded in a
    long one has high containment but low Jaccard (the quote/boiler-
    plate/subset-dup case every corpus curation pass needs).  Both
    metrics are exact-integer ratios in double (single correctly-
    rounded division — hash-safe), computed from one array_intersect
    on pre-deduped token arrays; no explode leaves the row, so the
    pair stage ships two token arrays per pair and nothing else."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    a = t.alias("a")
    b = t.select(
        (F.col("doc_id") - 1).alias("join_id"),
        F.col("doc_id").alias("id_b"),
        F.col("toks").alias("toks_b"),
    )
    inter = F.size(F.array_intersect(F.col("toks"), F.col("toks_b")))
    na = F.size(F.col("toks"))
    nb = F.size(F.col("toks_b"))
    return (
        a.join(b, F.col("doc_id") == F.col("join_id"))
        .where(inter > 0)
        .select(
            F.col("doc_id").alias("id_a"),
            "id_b",
            (inter.cast("double") / F.least(na, nb)).alias("containment"),
            (inter.cast("double") / (na + nb - inter)).alias("jaccard"),
            (na < nb).alias("a_is_smaller"),
        )
    )


def _apply_dedup_oracle() -> str:
    return f"""
WITH clusters AS ({_dedup_clusters_oracle()}),
dropped AS (SELECT doc_id FROM clusters WHERE NOT is_survivor)
SELECT lang,
       count(*) AS n_docs_in,
       COUNT(CASE WHEN dr.doc_id IS NULL THEN 1 END) AS n_docs_out,
       CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN n_chars END) AS BIGINT) AS chars_out
FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
GROUP BY lang
"""


@query("m_apply_dedup", oracle=_apply_dedup_oracle())
def m_apply_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the near-dup resolution to the corpus: every document in
    a cluster except its survivor is dropped, and the per-language
    before/after audit comes back — the step that actually SHRINKS the
    dataset after m_near_dedup found pairs and m_dedup_clusters picked
    survivors (a pipeline that only reports duplicates never saved a
    token of compute).  Dataflow: the dropped set is tiny (cluster
    members minus survivors), so the rewrite is a broadcast anti-join
    against the full corpus — at 100 TB the corpus streams through
    untouched except for the dropped keys; hash-checked end to end on
    top of the already-oracled cluster pipeline."""
    clusters = QUERIES["m_dedup_clusters"](spark, sf_dir)
    dropped = clusters.where(~F.col("is_survivor")).select("doc_id")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    flagged = d.join(
        F.broadcast(dropped.withColumn("is_dropped", F.lit(True))), "doc_id", "left"
    )
    keep = F.col("is_dropped").isNull()
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs_in"),
        F.count(F.when(keep, 1)).alias("n_docs_out"),
        F.sum(F.when(keep, F.col("n_chars"))).cast("bigint").alias("chars_out"),
    )


@query(
    "m_entity_match",
    oracle="""
WITH named AS (
  SELECT c_custkey, c_name, c_nationkey FROM customer
),
keys AS (
  SELECT c_custkey, c_name, c_nationkey, c_name AS k FROM named
  UNION ALL
  SELECT c_custkey, c_name, c_nationkey, dk AS k
  FROM (
    SELECT c_custkey, c_name, c_nationkey,
           unnest(list_transform(
             generate_series(1, len(c_name)),
             i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1, len(c_name)))) AS dk
    FROM named
  )
),
cand AS (
  SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b,
                  a.c_name AS name_a, b.c_name AS name_b,
                  CASE WHEN a.c_nationkey <> b.c_nationkey THEN 1 ELSE 0 END AS cross_nation
  FROM keys a JOIN keys b ON a.k = b.k AND a.c_custkey < b.c_custkey
),
pairs AS (
  SELECT id_a, id_b, cross_nation, levenshtein(name_a, name_b) AS dist
  FROM cand
  WHERE levenshtein(name_a, name_b) <= 1
)
SELECT id_a % 16 AS block,
       COUNT(*) AS n_pairs,
       COUNT(CASE WHEN cross_nation = 1 THEN 1 END) AS n_cross_nation,
       MIN(id_a * 100000000 + id_b) AS min_pair_code,
       MAX(id_a * 100000000 + id_b) AS max_pair_code
FROM pairs
GROUP BY id_a % 16
""",
)
def m_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by fuzzy name match: customer pairs whose
    names are within Levenshtein distance 1, found WITHOUT an
    all-pairs scan via the symmetric-delete (SymSpell) trick — every
    name emits itself plus its |name| single-character deletions as
    blocking keys; any two strings within edit distance 1 MUST share
    one (identity key for substitutions via the common deletion,
    identity-vs-deletion for insert/delete pairs), so the candidate
    set is exact, bucketed by key, and linear-ish in data size while
    the verify step (real levenshtein) runs on candidates only —
    the same generate-candidates/verify shape as the MinHash pipeline
    one module up.  Output folds the pair list into 16 audit blocks
    (counts + an exact pair-code envelope) so the result stays
    scalar-only and small while still pinning every matched pair
    through min/max codes.  Shapes (CLAUDE.md explode-hygiene rules):
    the blocking keys are xxhash64-digested BEFORE the explode so the
    band join shuffles (id, 8-byte key) only — a hash collision can
    only ADD a candidate and the levenshtein verify filters it, so
    the result is still exact; names/nations re-join onto the distinct
    candidate pairs afterwards — UNHINTED, because the customer name
    dim grows with the corpus (AQE broadcasts it while small, shuffle
    join beyond; round-8 broadcast-lineage audit)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    dels = F.expr(
        "transform(sequence(1, length(c_name)),"
        " i -> xxhash64(concat(substring(c_name, 1, i - 1),"
        "                      substring(c_name, i + 1, length(c_name)))))"
    )
    # r11: pinned — both sides of the blocking self-join read this
    # frame, so without the pin the deletion-explode runs twice
    keys = c.select(
        "c_custkey",
        F.explode(
            F.array_union(F.array(F.xxhash64(F.col("c_name"))), dels)
        ).alias("hk"),
    ).transform(lambda df: checkpoint_df(df, eager=False))
    a = keys.select(F.col("c_custkey").alias("id_a"), "hk")
    b = keys.select(F.col("c_custkey").alias("id_b"), "hk")
    cand = (
        a.join(b, "hk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    dim_a = c.select(
        F.col("c_custkey").alias("id_a"), F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nat_a"),
    )
    dim_b = c.select(
        F.col("c_custkey").alias("id_b"), F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nat_b"),
    )
    pairs = (
        cand.join(dim_a, "id_a")
        .join(dim_b, "id_b")
        .where(F.levenshtein("name_a", "name_b") <= 1)
        .select(
            "id_a", "id_b",
            F.when(F.col("nat_a") != F.col("nat_b"), 1).otherwise(0).alias("cross_nation"),
        )
    )
    code = F.col("id_a") * 100000000 + F.col("id_b")
    return pairs.groupBy((F.col("id_a") % 16).alias("block")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count(F.when(F.col("cross_nation") == 1, 1)).alias("n_cross_nation"),
        F.min(code).alias("min_pair_code"),
        F.max(code).alias("max_pair_code"),
    )


@query(
    "m_suffix_prefix_dup",
    oracle="""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS t
  FROM documents
), keyed AS (
  SELECT doc_id,
         substring(t, 1, 12) AS pref,
         substring(t, length(t) - 11, 12) AS suf
  FROM norm WHERE length(t) >= 12
)
SELECT a.doc_id AS src_id, b.doc_id AS dst_id, a.suf AS glue
FROM keyed a JOIN keyed b ON a.suf = b.pref AND a.doc_id <> b.doc_id
""",
)
def m_suffix_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenation-artifact detector: document pairs where one doc's
    normalized 12-char SUFFIX equals another's PREFIX — the signature
    of a split/merge bug in an ingestion pipeline (a doc continuing
    into the next shard, boilerplate glue, truncated duplicates).
    Normalization strips everything outside [a-z0-9] so whitespace and
    punctuation drift can't hide the seam (corpus text is ASCII —
    chars == bytes per working notes; 12 chars measured non-vacuous:
    14 pairs at sf0.01, ~1.3 k at sf0.1).  Scale: pure equality join
    on a 12-byte key — shuffle-hash on key, no similarity scan; the
    quadratic-looking self-join is linear in matches because the key
    is high-entropy."""
    d = load_table(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        F.regexp_replace(F.lower("text"), "[^a-z0-9]", "").alias("t"),
    ).where(F.length("t") >= 12)
    keyed = norm.select(
        "doc_id",
        F.substring("t", 1, 12).alias("pref"),
        F.expr("substring(t, length(t) - 11, 12)").alias("suf"),
    )
    a = keyed.select(F.col("doc_id").alias("src_id"), F.col("suf").alias("glue"))
    b = keyed.select(F.col("doc_id").alias("dst_id"), F.col("pref").alias("glue"))
    return a.join(b, "glue").where(F.col("src_id") != F.col("dst_id")).select(
        "src_id", "dst_id", "glue"
    )


@query(
    "m_prefix_dedup",
    oracle="""
WITH t AS (
  SELECT doc_id, text, length(text) AS L FROM documents
), pairs AS (
  SELECT a.doc_id AS pa, b.doc_id AS pb, a.L AS pref_chars
  FROM t a
  JOIN t b
    ON array_to_string(string_split(a.text, ' ')[1:3], ' ')
     = array_to_string(string_split(b.text, ' ')[1:3], ' ')
   AND a.doc_id <> b.doc_id
   AND substring(b.text, 1, CAST(a.L + 1 AS INT)) = a.text || ' '
)
SELECT pa % 8 AS block,
       count(*) AS n_pairs,
       CAST(SUM(pref_chars) AS BIGINT) AS chars_redundant,
       min(pa * 100000000 + pb) AS min_pair_code,
       max(pa * 100000000 + pb) AS max_pair_code
FROM pairs
GROUP BY pa % 8
""",
)
def m_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-duplicate detection: document pairs (A, B) where A is
    a strict TOKEN-PREFIX of B (B = A + ' ' + more) — the shape left
    by re-crawls that appended boilerplate, partial fetches, and
    max-length truncation, and a case MinHash under-weights (a short
    prefix of a long doc has low Jaccard despite being 100% redundant
    text).  Complements m_suffix_prefix_dup, which finds 12-char GLUE
    SEAMS between different docs; this finds whole-doc containment.

    Candidates come from a first-3-token band (every prefix pair
    shares it by construction — docs are all >= 3 tokens, MEASURED 0
    short docs at three scales), so the verify step runs on band-local
    pairs only: bands are tiny (max size 4 at sf0.1) and the pair
    count is non-vacuous at every scale (MEASURED 28 / 25 / 248 pairs
    at sf0.001/0.01/0.1).  Shapes: the band key shuffles as an 8-byte
    xxhash64 digest, never the text (CLAUDE.md explode/shuffle
    hygiene; a digest collision can only ADD a candidate and the
    exact substring verify filters it).  Verification is
    engine-neutral pure string equality: substring(B, 1, len(A)+1) =
    A || ' ' — no LIKE, so metacharacters in text can't wildcard.
    Output folds pairs into 8 audit blocks with the redundant prefix
    mass (the bytes a dedup pass would reclaim) and exact pair-code
    envelopes."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    band = F.xxhash64(F.array_join(F.slice(F.split("text", " "), 1, 3), " "))
    a = d.select(
        F.col("doc_id").alias("pa"),
        F.col("text").alias("ta"),
        band.alias("bk"),
    )
    b = d.select(
        F.col("doc_id").alias("pb"),
        F.col("text").alias("tb"),
        band.alias("bk"),
    )
    pairs = (
        a.join(b, "bk")
        .where(
            (F.col("pa") != F.col("pb"))
            & (
                F.expr("substring(tb, 1, length(ta) + 1)")
                == F.concat(F.col("ta"), F.lit(" "))
            )
        )
        .select("pa", "pb", F.length("ta").cast("bigint").alias("pref_chars"))
    )
    code = F.col("pa") * 100000000 + F.col("pb")
    return pairs.groupBy((F.col("pa") % 8).alias("block")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("pref_chars").cast("bigint").alias("chars_redundant"),
        F.min(code).alias("min_pair_code"),
        F.max(code).alias("max_pair_code"),
    )


@query(
    "m_cdc_chunks",
    oracle="""
WITH d AS (
  SELECT doc_id, text, length(text) AS L FROM documents WHERE length(text) >= 8
), pos AS (
  SELECT doc_id, text, L, unnest(range(8, L + 1)) AS i FROM d
), bnd AS (
  SELECT doc_id, CAST(i AS BIGINT) AS e FROM pos
  WHERE substring(md5(substring(text, CAST(i - 7 AS INT), 8)), 32, 1) = '0'
), ends AS (
  SELECT doc_id, e FROM bnd UNION SELECT doc_id, L FROM d
), chunks AS (
  SELECT e2.doc_id,
         substring(d.text,
                   CAST(coalesce(lag(e) OVER (PARTITION BY e2.doc_id ORDER BY e), 0) + 1 AS INT),
                   CAST(e - coalesce(lag(e) OVER (PARTITION BY e2.doc_id ORDER BY e), 0) AS INT))
           AS chunk
  FROM ends e2 JOIN d ON d.doc_id = e2.doc_id
)
SELECT md5(chunk) AS digest,
       count(*) AS n_occ,
       count(DISTINCT doc_id) AS n_docs,
       CAST(min(length(chunk)) AS BIGINT) AS chunk_len
FROM chunks
GROUP BY md5(chunk)
HAVING count(DISTINCT doc_id) >= 2
""",
)
def m_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (CDC) dedup — the rolling-boundary
    technique (FastCDC / LBFS lineage) that finds shared passages
    even when insertions shift every byte offset, where fixed-stride
    passage dedup (m_passage_dedup) breaks alignment.  A position i
    is a chunk boundary iff the md5 of the 8-gram ending at i has a
    trailing '0' hex digit (P=1/16 → ~16-char expected chunks);
    boundaries therefore move WITH content, not with offsets.  The
    per-document pipeline — boundary scan, chunk slicing, per-chunk
    digest + length — runs in an Arrow-batched Python kernel
    (mapInPandas): the equivalent JVM higher-order-function form was
    measured 3x over the m-family budget at sf0.1 (interpreted md5
    per position — exactly CLAUDE.md's big-per-row-fold rule), while
    the kernel emits only (doc_id, digest, len) scalars into the
    shuffle.  Output is the cross-document duplicate-chunk catalog.
    Scale: embarrassing per-document parallelism, one exploded
    aggregate keyed by digest — chunk text never leaves the worker."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") >= 8)
        .select("doc_id", "text")
        # r11: the corpus parquet is ONE file → one task; the kernel is
        # CPU-bound (an md5 per position), so spread it across cores —
        # explicit repartition(n) is AQE-coalescing-proof and the ~MB
        # text shuffle is noise (results are per-doc, partition-
        # invariant). Scale-adaptive: defaultParallelism, not a const.
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def chunk_kernel(batches):
        import hashlib

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, dgs, lens = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("ascii")
                mv = memoryview(raw)  # copy-free 8-gram slices
                n = len(raw)
                prev = 0
                for i in range(8, n + 1):
                    # boundary iff the md5 of the 8-gram ending at i
                    # has a trailing '0' hex digit — the same rule the
                    # SQL oracle evaluates per position (low nibble of
                    # the last digest byte == the trailing hex digit)
                    if hashlib.md5(mv[i - 8 : i]).digest()[15] & 15 == 0:
                        chunk = raw[prev:i]
                        ids.append(doc_id)
                        dgs.append(hashlib.md5(chunk).hexdigest())
                        lens.append(len(chunk))
                        prev = i
                if prev < n:
                    chunk = raw[prev:n]
                    ids.append(doc_id)
                    dgs.append(hashlib.md5(chunk).hexdigest())
                    lens.append(len(chunk))
            yield pd.DataFrame({"doc_id": ids, "dg": dgs, "len": lens})

    exploded = d.mapInPandas(
        chunk_kernel,
        schema="doc_id bigint, dg string, len int",
    )
    return (
        exploded.groupBy(F.col("dg").alias("digest"))
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("len").cast("bigint").alias("chunk_len"),
        )
        .where(F.col("n_docs") >= 2)
    )


def _lsh_sweep_sql(engine: str) -> str:
    hashers = ", ".join(f"({j + 1}, {_AS[j]}, {_BS[j]})" for j in range(_N_HASH))
    if engine == "duck":
        hexparse = " + ".join(
            f"(strpos('0123456789abcdef', substring(md5(sh), {i + 1}, 1)) - 1)"
            f" * {16 ** (14 - i)}"
            for i in range(15)
        )
        shingles = f"""
  SELECT doc_id, CAST({hexparse} AS BIGINT) AS hv
  FROM (SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(l) - 2, 1)),
            i -> array_to_string(l[i : i + 2], ' ')))) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))"""
        hdim = f"(VALUES {hashers}) AS hp(j, a, b)"
        band_sig = "string_agg(CAST(sig AS VARCHAR), '_' ORDER BY j)"
    else:
        shingles = """
  SELECT doc_id, CAST(conv(substring(md5(sh), 1, 15), 16, 10) AS BIGINT) AS hv
  FROM (SELECT doc_id, explode(array_distinct(transform(
            sequence(1, greatest(size(l) - 2, 1)),
            i -> concat_ws(' ', slice(l, i, 3))))) AS sh
        FROM (SELECT doc_id, split(text, ' ') AS l FROM docs_lsh))"""
        hdim = f"(VALUES {hashers}) AS hp(j, a, b)"
        band_sig = (
            "array_join(transform(sort_array(collect_list(struct(j, sig))),"
            " x -> CAST(x.sig AS STRING)), '_')"
        )
    settings = []
    for rows_per_band in (3, 2, 1):
        n_bands = _N_HASH // rows_per_band
        settings.append(f"""
  SELECT CAST({n_bands} AS BIGINT) AS n_bands,
         CAST({rows_per_band} AS BIGINT) AS rows_per_band,
         CAST(count(*) AS BIGINT) AS n_candidate_pairs
  FROM (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM (SELECT doc_id, (j - 1) / {rows_per_band} AS band_idx, {band_sig} AS bs
          FROM sig GROUP BY doc_id, (j - 1) / {rows_per_band}) a
    JOIN (SELECT doc_id, (j - 1) / {rows_per_band} AS band_idx, {band_sig} AS bs
          FROM sig GROUP BY doc_id, (j - 1) / {rows_per_band}) b
      ON a.band_idx = b.band_idx AND a.bs = b.bs AND a.doc_id < b.doc_id
  ) c""")
    union = " UNION ALL ".join(settings)
    idiv = "//" if engine == "duck" else "div"
    union = union.replace("(j - 1) / ", f"(j - 1) {idiv} ")
    return f"""
WITH sh_h AS ({shingles}
),
sig AS (
  SELECT doc_id, hp.j, MIN(((hv % {_P}) * hp.a + hp.b) % {_P}) AS sig
  FROM sh_h, {hdim}
  GROUP BY doc_id, hp.j
)
{union}
"""


@query("m_lsh_sweep", oracle=_lsh_sweep_sql("duck"))
def m_lsh_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding parameter sweep: the SAME 12 MinHash signatures
    regrouped as (4 bands × 3 rows), (6 × 2), and (12 × 1), with the
    candidate-pair count each setting generates — the measured side
    of the S-curve trade (more bands / fewer rows per band = lower
    Jaccard threshold = more candidates to verify) that decides the
    m_near_dedup configuration BEFORE paying the verify stage at
    corpus scale.  Signatures use the identical hash family as
    m_near_dedup, so the sweep's (4, 3) row reproduces exactly the
    candidate set production runs.  Scale: one signature build, three
    band self-joins on 8-byte keys — candidate counting never touches
    document text.

    r11 re-plan (guide §2.4 + §4.2, the round-7 CTE-inlining trap):
    the shared SQL's ``sig`` CTE is referenced six times (two band
    sides × three settings) and Spark inlines CTEs, so the
    shingle+MinHash build — the expensive md5-per-3-gram pass —
    executed 6× (27 Exchanges in the old plan).  The signature table
    is now built ONCE through the same Arrow/numpy kernel
    m_near_dedup uses (identical hash family, bit-identical
    signatures) and pinned with a lazy localCheckpoint; the six band
    scans read the one pinned RDD.  Results identical; the DuckDB
    oracle (whose MATERIALIZED CTEs never had the blowup) is
    unchanged."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = d.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", _shingles(F.col("toks")).alias("sh")
    )
    sig_arr = checkpoint_df(
        sh.select("doc_id", _minhash_sig_udf()(F.col("sh")).alias("sig")),
        eager=False,
    )
    settings = []
    for rows_per_band in (3, 2, 1):
        n_bands = _N_HASH // rows_per_band
        # band keys straight from the pinned signature array (the SQL
        # twin's GROUP BY doc_id, band re-aggregation is a no-op here:
        # j-order == array order, concat_ws == the oracle's string_agg)
        bands = sig_arr.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *[
                        F.concat_ws(
                            "_",
                            *[
                                F.element_at(
                                    F.col("sig"), b * rows_per_band + r + 1
                                ).cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("band_idx", "bs"),
        )
        a = bands.alias("a")
        b = bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.bs") == F.col("b.bs"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        settings.append(
            cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs")).select(
                F.lit(n_bands).cast("bigint").alias("n_bands"),
                F.lit(rows_per_band).cast("bigint").alias("rows_per_band"),
                "n_candidate_pairs",
            )
        )
    out = settings[0]
    for s in settings[1:]:
        out = out.unionByName(s)
    return out


@query(
    "m_record_linkage_numeric",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(epoch(CAST(o_orderdate AS DATE)) AS BIGINT) // 86400 AS day_num,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS price_centi
  FROM orders
), blocked AS (
  SELECT a.o_orderkey AS id_a, b.o_orderkey AS id_b,
         abs(a.day_num - b.day_num) AS day_gap,
         abs(a.price_centi - b.price_centi) AS price_gap_centi
  FROM o a
  JOIN o b
    ON b.o_custkey = a.o_custkey
   AND b.day_num BETWEEN a.day_num - 1 AND a.day_num + 1
   AND b.o_orderkey > a.o_orderkey
)
SELECT id_a, id_b,
       CAST(day_gap AS BIGINT) AS day_gap,
       CAST(price_gap_centi AS BIGINT) AS price_gap_centi,
       CASE WHEN price_gap_centi <= 2000000 THEN 1 ELSE 0 END AS suspect
FROM blocked
""",
)
def m_record_linkage_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-tolerance record linkage: duplicate-SUSPECT order pairs
    — same customer, order dates within ±1 day, flagged when totals
    agree within 20 000 centi-units — the double-submission /
    double-capture detector, and the numeric complement of
    m_entity_match's string-similarity linkage.  The blocking is the
    scale story: candidate pairs come from an EQUALITY-ish join
    (custkey + a 3-day band expressible as a range on the blocking
    key), so the pair space is per-customer-per-window, never orders²
    — the same band-join discipline every dedup op here follows.
    Tolerances are exact integers (day numbers, centi prices) tuned
    non-vacuous on measured pair counts (85 pairs at sf0.01, 964 at
    sf0.1)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr(
            "CAST(unix_timestamp(CAST(o_orderdate AS DATE)) AS BIGINT)"
            " div 86400"
        ).alias("day_num"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_centi"),
    )
    b = o.select(
        F.col("o_orderkey").alias("id_b"),
        F.col("o_custkey").alias("ck"),
        F.col("day_num").alias("dn_b"),
        F.col("price_centi").alias("pc_b"),
    )
    blocked = o.join(
        b,
        (F.col("o_custkey") == F.col("ck"))
        & (F.col("dn_b") >= F.col("day_num") - 1)
        & (F.col("dn_b") <= F.col("day_num") + 1)
        & (F.col("id_b") > F.col("o_orderkey")),
    )
    return blocked.select(
        F.col("o_orderkey").alias("id_a"),
        "id_b",
        F.abs(F.col("day_num") - F.col("dn_b")).cast("bigint").alias("day_gap"),
        F.abs(F.col("price_centi") - F.col("pc_b"))
        .cast("bigint")
        .alias("price_gap_centi"),
        F.when(
            F.abs(F.col("price_centi") - F.col("pc_b")) <= 2000000, 1
        )
        .otherwise(0)
        .alias("suspect"),
    )


@query(
    "m_dedup_policy_compare",
    oracle="""
WITH clusters AS (
  SELECT text,
         count(*) AS n_copies,
         min(doc_id) AS keep_min_id,
         arg_max(doc_id, n_chars * 1000000 + doc_id) AS keep_longest_id,
         CAST(SUM(n_chars) AS BIGINT) AS cluster_chars,
         min(n_chars) AS min_chars,
         max(n_chars) AS max_chars
  FROM documents GROUP BY text
)
SELECT CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(COUNT(CASE WHEN n_copies > 1 THEN 1 END) AS BIGINT) AS n_dup_clusters,
       CAST(SUM(CASE WHEN keep_min_id = keep_longest_id THEN 0 ELSE 1 END)
            AS BIGINT) AS n_policy_disagreements,
       CAST(SUM(min_chars) AS BIGINT) AS chars_keep_first,
       CAST(SUM(max_chars) AS BIGINT) AS chars_keep_longest,
       CAST(SUM(cluster_chars) AS BIGINT) AS chars_before
FROM clusters
""",
)
def m_dedup_policy_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup SURVIVORSHIP policy comparison: for every exact-dup
    cluster, what "keep the first id" (m_exact_dedup's rule) retains
    versus "keep the longest copy" — the curation decision that exact
    dedup leaves open and that silently changes corpus mass (here the
    two policies' retained char totals and the number of clusters
    where they disagree).  A cluster key is the full text, so copies
    have EQUAL n_chars and disagreement counts come only from id
    ordering — on a real corpus with near-identical variants routed
    through m_near_dedup clusters the same report drives the keep
    rule.  The longest-winner tiebreak is (n_chars, doc_id) packed
    into one arg_max key (n_chars·1e6 + id — exact, id < 1e6).
    Scale: one hash aggregate on the dedup key, then a 1-row
    summary."""
    d = load_table(spark, sf_dir, "documents")
    clusters = d.groupBy("text").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keep_min_id"),
        F.max_by(
            "doc_id", F.col("n_chars") * 1000000 + F.col("doc_id")
        ).alias("keep_longest_id"),
        F.sum("n_chars").alias("cluster_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    return clusters.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.count(F.when(F.col("n_copies") > 1, 1)).cast("bigint").alias(
            "n_dup_clusters"
        ),
        F.sum(
            F.when(F.col("keep_min_id") == F.col("keep_longest_id"), 0).otherwise(1)
        )
        .cast("bigint")
        .alias("n_policy_disagreements"),
        F.sum("min_chars").cast("bigint").alias("chars_keep_first"),
        F.sum("max_chars").cast("bigint").alias("chars_keep_longest"),
        F.sum("cluster_chars").cast("bigint").alias("chars_before"),
    )


def _incr_dedup_sql(engine: str) -> str:
    hashers = ", ".join(f"({j + 1}, {_AS[j]}, {_BS[j]})" for j in range(_N_HASH))
    if engine == "duck":
        hexparse = " + ".join(
            f"(strpos('0123456789abcdef', substring(md5(sh), {i + 1}, 1)) - 1)"
            f" * {16 ** (14 - i)}"
            for i in range(15)
        )
        shl = """
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(l) - 2, 1)),
             i -> array_to_string(l[i : i + 2], ' '))) AS shl
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)"""
        sh_h = f"""
  SELECT doc_id, CAST({hexparse} AS BIGINT) AS hv
  FROM (SELECT doc_id, unnest(shl) AS sh FROM shl)"""
        band_sig = "string_agg(CAST(sig AS VARCHAR), '_' ORDER BY j)"
        jacc = ("CAST(len(list_intersect(sa.shl, sb.shl)) * 1000"
                " // len(list_distinct(list_concat(sa.shl, sb.shl))) AS BIGINT)")
        idiv = "//"
    else:
        shl = """
  SELECT doc_id,
         array_distinct(transform(
             sequence(1, greatest(size(l) - 2, 1)),
             i -> concat_ws(' ', slice(l, i, 3)))) AS shl
  FROM (SELECT doc_id, split(text, ' ') AS l FROM docs_incr)"""
        sh_h = """
  SELECT doc_id, CAST(conv(substring(md5(sh), 1, 15), 16, 10) AS BIGINT) AS hv
  FROM (SELECT doc_id, explode(shl) AS sh FROM shl)"""
        band_sig = (
            "array_join(transform(sort_array(collect_list(struct(j, sig))),"
            " x -> CAST(x.sig AS STRING)), '_')"
        )
        jacc = ("CAST(size(array_intersect(sa.shl, sb.shl)) * 1000"
                " div size(array_distinct(concat(sa.shl, sb.shl))) AS BIGINT)")
        idiv = "div"
    return f"""
WITH shl AS ({shl}
), sh_h AS ({sh_h}
), sig AS (
  SELECT doc_id, hp.j, MIN(((hv % {_P}) * hp.a + hp.b) % {_P}) AS sig
  FROM sh_h, (VALUES {hashers}) AS hp(j, a, b)
  GROUP BY doc_id, hp.j
), bands AS (
  SELECT doc_id, (j - 1) {idiv} {_ROWS} AS band_idx, {band_sig} AS bs
  FROM sig GROUP BY doc_id, (j - 1) {idiv} {_ROWS}
), cand AS (
  SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
  FROM bands n
  JOIN bands o
    ON o.band_idx = n.band_idx AND o.bs = n.bs
   AND n.doc_id % 7 = 0 AND o.doc_id % 7 <> 0
)
SELECT id_new, id_old, {jacc} AS jacc_permille
FROM cand
JOIN shl sa ON sa.doc_id = cand.id_new
JOIN shl sb ON sb.doc_id = cand.id_old
WHERE {jacc} >= 500
"""


@query("m_incremental_dedup", oracle=_incr_dedup_sql("duck"))
def m_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dedup: an arriving batch (the doc_id % 7
    panel standing in for today's crawl) is checked against the
    EXISTING corpus only — candidates are new x old band collisions,
    never old x old — which is how dedup actually runs once a corpus
    is live: the historical signature table is a materialized asset
    (m_near_dedup builds it; at 100 TB it is a persisted, bucketed
    dataset) and each increment pays only its own signatures plus a
    band probe.  Same hash family/banding as m_near_dedup, verified
    Jaccard >= 0.5 on the candidates, emitted as exact integer
    permille.  Non-vacuous by the planted-duplicate structure the
    corpus carries (verified non-empty at both gate scales).

    r11 re-plan (guide §2.4 + §4.2, CTE-inlining trap): the shared
    SQL's ``shl`` CTE (per-doc shingle arrays) is referenced four
    times (both band sides via sh_h→sig, plus the two verify-join
    sides) and ``sig`` twice, so the tokenize+md5+MinHash pipeline
    executed up to 4×.  The signature table is now built ONCE through
    m_near_dedup's Arrow/numpy kernel (identical hash family,
    bit-identical signatures) and pinned; bands come straight off the
    pinned signature array, and the two verify joins read the same
    pin.  Results identical; oracle (MATERIALIZED CTEs) unchanged."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = d.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", _shingles(F.col("toks")).alias("shl")
    )
    sig = checkpoint_df(
        sh.select("doc_id", "shl", _minhash_sig_udf()(F.col("shl")).alias("sig")),
        eager=False,
    )
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[
                            F.element_at(F.col("sig"), b * _ROWS + r + 1).cast(
                                "string"
                            )
                            for r in range(_ROWS)
                        ],
                    )
                    for b in range(_BANDS)
                ]
            )
        ).alias("band_idx", "bs"),
    )
    n = bands.where(F.col("doc_id") % 7 == 0).alias("n")
    o = bands.where(F.col("doc_id") % 7 != 0).alias("o")
    cand = (
        n.join(
            o,
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.bs") == F.col("o.bs")),
        )
        .select(F.col("n.doc_id").alias("id_new"), F.col("o.doc_id").alias("id_old"))
        .dropDuplicates(["id_new", "id_old"])
    )
    shl_tbl = sig.select("doc_id", "shl")
    verif = cand.join(
        shl_tbl.select(F.col("doc_id").alias("id_new"), F.col("shl").alias("shl_a")),
        "id_new",
    ).join(
        shl_tbl.select(F.col("doc_id").alias("id_old"), F.col("shl").alias("shl_b")),
        "id_old",
    )
    jacc = F.expr(
        "CAST(size(array_intersect(shl_a, shl_b)) * 1000"
        " div size(array_distinct(concat(shl_a, shl_b))) AS BIGINT)"
    )
    return (
        verif.withColumn("jacc_permille", jacc)
        .where(F.col("jacc_permille") >= 500)
        .select("id_new", "id_old", "jacc_permille")
    )


@query(
    "m_winnowing",
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS l,
         len(string_split(text, ' ')) AS n
  FROM documents
),
kg AS (
  SELECT doc_id, list_transform(generate_series(1, n - 4),
           s -> md5(array_to_string(l[s : s+4], ' '))) AS g
  FROM d WHERE n >= 5
),
sel AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(g) - 3),
           j -> list_aggregate(g[j : j+3], 'min'))) AS fps
  FROM kg WHERE len(g) >= 4
),
fp AS (SELECT doc_id, unnest(fps) AS f FROM sel),
cnt AS (SELECT doc_id, count(*) AS nf FROM fp GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT id_a, id_b, shared, ca.nf AS n_a, cb.nf AS n_b
FROM pairs
JOIN cnt ca ON ca.doc_id = id_a
JOIN cnt cb ON cb.doc_id = id_b
""",
)
def m_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS local-fingerprinting algorithm): hash every overlapping
    5-token k-gram, keep the MINIMUM hash of each 4-wide window (the
    winnowing selection — guarantees any shared run of ≥ 8 tokens
    yields a shared fingerprint, unlike [m_passage_dedup]'s aligned
    blocks which miss shifted copies), and report document pairs
    sharing ≥ 3 selected fingerprints with both docs' fingerprint
    counts (the containment denominators).  Window mins compare md5
    HEX STRINGS — lexicographic byte order, identical in both engines,
    no integer conversion needed.  Threshold on the MEASURED
    distribution: 27 / 25 / 245 pairs at sf0.001/0.01/0.1, hottest
    fingerprint shared by only 4 docs (no skew).  Scale: digests are
    computed INSIDE the per-doc transform (explode ships 32-char
    strings, never token arrays — the m_passage_dedup rule); expected
    fingerprint density is 2/(w+1) per token; the pair join is
    fingerprint-local, and at 100 TB a hot-fingerprint cap (drop
    fingerprints above a document-frequency bound, they are
    boilerplate by definition) bounds the quadratic corner exactly the
    way the LSH band join does."""
    # r11 re-plan (guide §4.2): the JVM higher-order pipeline —
    # md5 per 5-gram slice, then array_min over every width-4 window
    # slice — is interpreted per element (measured 2.5 s of the old
    # 4.5 s at sf0.1).  One Arrow/numpy kernel now computes k-gram
    # digests + the winnowing sliding min per doc (hashlib.md5 is
    # C-speed, identical hex), the same trade as _minhash_sig_udf.
    # Selected fingerprints are identical; dedup order is immaterial
    # (fps are exploded into an order-insensitive join/count).
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.StringType()))
    def winnow_fps(toks_col: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        out = []
        for toks in toks_col:
            n = len(toks)
            gs = np.array(
                [
                    hashlib.md5(" ".join(toks[s : s + 5]).encode()).hexdigest()
                    for s in range(n - 4)
                ],
                dtype=object,
            )
            m = gs[: len(gs) - 3]
            for k in (1, 2, 3):
                m = np.minimum(m, gs[k : len(gs) - 3 + k])
            out.append(list(dict.fromkeys(m.tolist())))
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents")
    # size(toks) >= 8 == the old two-step filter (>=5 tokens to have
    # 5-grams, then >=4 grams to have a window)
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("toks")).where(
        F.size("toks") >= 8
    )
    fp = (
        toked.select("doc_id", F.explode(winnow_fps(F.col("toks"))).alias("f"))
        .transform(checkpoint_df)  # reused: counts + both sides of the pair join
    )
    cnt = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    a = fp.select(F.col("doc_id").alias("id_a"), "f")
    b = fp.select(F.col("doc_id").alias("id_b"), "f")
    pairs = (
        a.join(b, "f")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= 3)
    )
    return (
        pairs.join(cnt.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("nf", "n_a")
        .join(
            cnt.withColumnRenamed("doc_id", "id_b").withColumnRenamed("nf", "n_b"),
            "id_b",
        )
        .select("id_a", "id_b", "shared", "n_a", "n_b")
    )
