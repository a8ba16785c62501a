"""B.10 LLM-data-pipeline operators (SURVEY.md §2.B10) plus the
training-data-pipeline extensions: exact/near dedup (MinHash-LSH, SimHash,
n-gram Jaccard, embedding cosine), similarity search (brute-force +
LSH-bucketed ANN), and text analysis (language-ID, quality, tokens,
fingerprints).

Scale design (100 TB of documents):
- Exact dedup groups on md5(text) — the shuffle key is a 32-byte hash, not
  the document body.
- Near-dup candidates come from inverted-index joins (shingle → doc) and
  LSH band-buckets — never an all-pairs cross join.  The all-pairs step
  only ever runs on *bucket-mates*, whose count LSH keeps bounded.
- Similarity search broadcasts the (tiny) probe set and computes cosine as
  a JVM-side higher-order function over the fact side; the LSH-bucketed
  variant prunes the fact side to matching buckets first.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from bossarrowstorageengine_spark.catalog import load_table
from bossarrowstorageengine_spark.functions import text as TX
from bossarrowstorageengine_spark.functions import vector as V
from bossarrowstorageengine_spark.operators.registry import query
from bossarrowstorageengine_spark.plans.hints import fan_out
from bossarrowstorageengine_spark.session import run_concurrently


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle="""
    SELECT count(*)                  AS n_docs,
           count(DISTINCT md5(text)) AS n_distinct,
           count(*) - count(DISTINCT md5(text)) AS n_dupes
    FROM documents
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash (same md5 algorithm both engines)."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dupes"),
    )


@query(
    "q_dedup_exact_groups",
    oracle="""
    SELECT md5(text)                 AS content_hash,
           count(*)                  AS group_size,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
    FROM documents
    GROUP BY md5(text)
    HAVING count(*) > 1
    """,
)
def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups with the deterministic keeper (min doc_id) — the
    actionable form of exact dedup for a removal pipeline."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
        .filter(F.col("group_size") > 1)
    )


def _shingle_array(n: int = 3, distinct: bool = True):
    """Column expression: word 3-gram shingles of ``text`` as an array (no
    explode — stays map-side).

    Built from two ``zip_with`` passes over shifted token arrays (3 array
    copies per doc) instead of a per-position ``slice`` (which copies the
    token array once per shingle — ~1.8× slower measured at sf0.1).
    ``zip_with`` pads the shorter side with null; the trailing partial
    shingles are dropped by the null filter.

    ``distinct=False`` skips the per-doc ``array_distinct`` — correct for
    consumers whose aggregate is duplicate-idempotent (minhash ``min``),
    ~25% faster at sf0.1.
    """
    toks = F.split(F.col("text"), " ")
    t2 = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    t3 = F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(0)))
    s12 = F.zip_with(toks, t2, lambda a, b: F.concat_ws(" ", a, b))
    sh = F.zip_with(s12, t3,
                    lambda ab, c: F.when(c.isNotNull(), F.concat_ws(" ", ab, c)))
    sh = F.filter(sh, lambda x: x.isNotNull())
    return F.array_distinct(sh) if distinct else sh


def _shingles(df: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """Word 3-gram shingles per doc: doc_id → exploded shingle (distinct
    per doc unless the consumer is duplicate-idempotent)."""
    return df.select(
        "doc_id", F.explode(_shingle_array(n, distinct)).alias("shingle"))


#: Max document frequency a shingle may have and still enter the inverted-
#: index self-join.  A "stop shingle" appearing in d documents would emit
#: d·(d−1)/2 join rows — one hot key is a quadratic bucket at corpus scale —
#: so both engines drop shingles with df > cap BEFORE the join (the hot set
#: is tiny, so Spark removes it with a broadcast anti-join; jaccard is then
#: consistently "jaccard over non-stop shingles" on both sides).
_SHINGLE_DF_CAP = 100

_JACCARD_EDGE_CTES = f"""
    sh0 AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i : i + 2], ' '))) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), sh AS (
        SELECT doc_id, shingle FROM sh0
        WHERE shingle NOT IN (SELECT shingle FROM sh0
                              GROUP BY shingle HAVING count(*) > {_SHINGLE_DF_CAP})
    ), sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )"""


def _jaccard_pairs(d: DataFrame, df_cap: int = _SHINGLE_DF_CAP) -> DataFrame:
    """Near-dup pair candidates with exact (capped-index) Jaccard: columns
    ``doc_a, doc_b, jaccard`` (unrounded double), pairs sharing ≥1 surviving
    shingle only.  Shared by ``q_dedup_ngram_jaccard`` / ``q_dedup_cluster``."""
    sh0 = _shingles(d, 3).cache()
    hot = (
        sh0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("shingle")
    )
    sh = sh0.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH {_JACCARD_EDGE_CTES.strip()}
    SELECT CAST(doc_a AS BIGINT) AS doc_a,
           CAST(doc_b AS BIGINT) AS doc_b,
           round(CAST(n_common AS DOUBLE) /
                 (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
    FROM pair_inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.08
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    The shingle→doc join produces only pairs sharing ≥1 surviving shingle
    (never an all-pairs product), and shingles with document frequency
    above ``_SHINGLE_DF_CAP`` are dropped before the join on BOTH engines —
    a stop shingle can no longer create a quadratic join bucket.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        _jaccard_pairs(d)
        .filter(F.col("jaccard") >= 0.08)
        .select(
            F.col("doc_a").cast("long"),
            F.col("doc_b").cast("long"),
            F.round("jaccard", 4).alias("jaccard"),
        )
    )


@query(
    "q_dedup_cluster",
    oracle=f"""
    WITH RECURSIVE
    {_JACCARD_EDGE_CTES.strip()}, edges AS (
        SELECT doc_a, doc_b
        FROM pair_inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.08
    ), e2 AS (
        SELECT doc_a AS u, doc_b AS v FROM edges
        UNION ALL
        SELECT doc_b, doc_a FROM edges
    ), walk AS (
        SELECT u AS node, u AS reach FROM (SELECT DISTINCT u FROM e2)
        UNION
        SELECT w.node, e2.v FROM walk w JOIN e2 ON w.reach = e2.u
    )
    SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(reach) AS BIGINT) AS cluster_id
    FROM walk GROUP BY node
    """,
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the exact
    n-gram-Jaccard near-dup pairs (edges = ``q_dedup_ngram_jaccard``);
    every clustered doc gets its component's minimum doc_id as cluster id —
    the label a dedup pipeline keeps one representative per.

    Iterative min-label propagation: each round joins labels to the edge
    list and takes the neighborhood minimum, converging in graph-diameter
    rounds (dedup graphs are shallow — near-dup clusters are cliques or
    short chains).  Every round is a pair of keyed shuffles on doc_id;
    ``localCheckpoint`` truncates lineage so round N's plan does not replay
    rounds 1..N-1.  At 100 TB the same loop runs with the edge list
    persisted and the label frame checkpointed to storage; asymptotically
    better variants (large-star/small-star, pointer jumping) drop in as the
    per-round transformation without changing the fixpoint."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return _cc_min_label(pairs)


def _cc_min_label(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Connected components over undirected ``(doc_a, doc_b)`` edges →
    ``(doc_id, cluster_id)`` with cluster_id = component minimum (shared
    by ``q_dedup_cluster`` and ``q_dedup_pipeline``).  Thin strict-mode
    face of the consolidated ``functions.components.cc_min_label`` core
    (keyed-join min-label propagation, checkpoint-truncated lineage,
    batched convergence checks); STRICT because a pathological component
    deeper than ``max_rounds`` must RAISE rather than silently emit a
    split component — downstream keep/drop decisions must never be made
    on half-converged labels."""
    from bossarrowstorageengine_spark.functions.components import (
        cc_min_label,
    )

    labels, _ = cc_min_label(pairs, max_rounds=max_rounds, strict=True)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


#: Mersenne prime 2^31 − 1: the universal-hash modulus for minhash
#: permutations.  One md5 per shingle yields the base hash h0; permutation
#: j is the affine map (a_j·h0 + b_j) mod P — 62-bit intermediate, exact
#: int64 arithmetic in BOTH engines, 16× fewer md5 evaluations than
#: hashing per permutation.
_MINHASH_P = 2_147_483_647

#: Hot-bucket guard for LSH pair expansion (round-9 verdict finding 2):
#: an LSH bucket is one collect_list array in ONE task, and its pair
#: expansion is quadratic — a boilerplate-heavy corpus (headers, legal
#: footers, template pages) can put millions of docs behind one band
#: signature at 100 TB.  Buckets above this many members are STAR-SPLIT
#: instead of expanded (VERDICT r10 item 4 — they used to be silently
#: DROPPED): each member pairs with the bucket's minimum doc_id only,
#: so candidate count is LINEAR in bucket size and the mega-cluster
#: stays connected through its representative — exact-Jaccard verify
#: plus connected components still collapse true boilerplate into one
#: cluster, and nothing is silently excluded from dedup.  The split is
#: mirrored in every oracle CTE so the gate stays EXACT.  At the test
#: SFs the largest real bucket is 9 docs, so 64 is behavior-preserving
#: there while bounding the adversarial case.  (The bucket's id array
#: itself is one collect_list per signature — ~8 bytes/doc, so even a
#: million-doc boilerplate bucket is an ~8 MB array in one task.)
_LSH_BUCKET_CAP = 64


def _minhash_coeffs(n_perm: int) -> list[tuple[int, int]]:
    """Fixed (a_j, b_j) affine coefficients (Knuth multiplicative mixing;
    a_j never 0 mod P)."""
    out = []
    for j in range(n_perm):
        a = (j * 2_654_435_761 + 1) % _MINHASH_P
        b = (j * 40_503 + 17) % _MINHASH_P
        out.append((a or 1, b))
    return out


def _dedup_near_oracle(n_perm: int = 16) -> str:
    perms = ", ".join(
        f"min(({a} * h0 + {b}) % {_MINHASH_P}) AS h{j}"
        for j, (a, b) in enumerate(_minhash_coeffs(n_perm))
    )
    bands = ", ".join(
        "md5(concat_ws(',', {b}, {hs})) AS sig{b}".format(
            b=b, hs=", ".join(f"h{b * 4 + r}" for r in range(4)))
        for b in range(n_perm // 4)
    )
    sig_union = " UNION ALL ".join(
        f"SELECT doc_id, sig{b} AS sig FROM bands" for b in range(n_perm // 4))
    return f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i : i + 2], ' '))) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), h0s AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
                   % {_MINHASH_P} AS h0
        FROM sh
    ), mh AS (
        SELECT doc_id, {perms} FROM h0s GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, {bands} FROM mh
    ), sigs AS ({sig_union}), sig_ok AS (
        SELECT sig FROM sigs GROUP BY sig
        HAVING count(*) > 1 AND count(*) <= {_LSH_BUCKET_CAP}
    ), sig_hot AS (
        -- star-split arm: hot buckets pair members with the bucket
        -- minimum only (mirrors _lsh_candidate_pairs)
        SELECT sig, min(doc_id) AS rep FROM sigs GROUP BY sig
        HAVING count(*) > {_LSH_BUCKET_CAP}
    )
    SELECT DISTINCT CAST(doc_a AS BIGINT) AS doc_a,
                    CAST(doc_b AS BIGINT) AS doc_b
    FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig_ok o
        JOIN sigs a ON a.sig = o.sig
        JOIN sigs b ON b.sig = o.sig AND a.doc_id < b.doc_id
        UNION ALL
        SELECT h.rep, s.doc_id
        FROM sig_hot h JOIN sigs s ON s.sig = h.sig AND s.doc_id > h.rep
    )
    """


def _minhash_table(d: DataFrame, n_perm: int = 16) -> DataFrame:
    """doc_id → n_perm minhash columns ``h0..h{n-1}`` over word-3-gram
    shingles (md5 base hash, affine permutations — see ``q_dedup_near``)."""
    sh = _shingles(d, 3, distinct=False)
    h0 = (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10)
        .cast("long") % _MINHASH_P
    )
    return sh.select("doc_id", h0.alias("h0x")).groupBy("doc_id").agg(*[
        F.min((F.lit(a) * F.col("h0x") + F.lit(b)) % _MINHASH_P).alias(f"h{j}")
        for j, (a, b) in enumerate(_minhash_coeffs(n_perm))
    ])


def _band_signatures(mh: DataFrame, n_perm: int, n_bands: int) -> DataFrame:
    """Long-form LSH band signatures: (doc_id, sig) with one md5 signature
    per band, band index prefixed so signatures never collide across
    bands."""
    rows_per_band = n_perm // n_bands
    return mh.select(
        "doc_id",
        F.explode(F.array(*[
            F.md5(F.concat_ws(",", F.lit(b), *[
                F.col(f"h{b * rows_per_band + r}")
                for r in range(rows_per_band)
            ])).alias(f"band{b}")
            for b in range(n_bands)
        ])).alias("sig"),
    )


def _lsh_candidate_pairs(bands_long: DataFrame) -> DataFrame:
    """Bucket long-form band signatures and expand each bucket's (i < j)
    pairs with array HOFs — ONE pass over the signature pipeline and ONE
    shuffle (the groupBy), where a self-join would re-evaluate the
    scan+minhash stage for each side.  Buckets above ``_LSH_BUCKET_CAP``
    members are STAR-SPLIT instead of quadratically expanded (hot-bucket
    guard — see the constant's doc): each member pairs with the bucket's
    minimum doc_id only, linear in bucket size, so a boilerplate
    mega-cluster still reaches the verify + connected-components stages
    (the representative connects it) instead of silently vanishing from
    dedup (VERDICT r10 item 4 — the old cap DROPPED such buckets with no
    signal).  Both arms are mirrored in the q_dedup_near and
    q_dedup_pipeline/apply oracle CTEs.  Shared by ``q_dedup_near`` and
    ``_pipeline_edges``; returns distinct ``(doc_a, doc_b)``."""
    buckets = (
        bands_long.groupBy("sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    ids = F.col("ids")
    all_pairs = F.flatten(F.transform(
        ids,
        lambda x, i: F.transform(
            F.slice(ids, i + 2, F.size(ids)),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
        ),
    ))
    # ids is sorted, so element 1 is the bucket minimum and every star
    # pair is already (doc_a < doc_b); size > 1 guards the element_at.
    star_pairs = F.transform(
        F.slice(ids, 2, F.size(ids)),
        lambda y: F.struct(F.element_at(ids, 1).alias("doc_a"),
                           y.alias("doc_b")),
    )
    pair_structs = F.when(
        F.size(ids) <= _LSH_BUCKET_CAP, all_pairs).otherwise(star_pairs)
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"),
                F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


@query("q_dedup_near", oracle=_dedup_near_oracle())
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs (hand-rolled, fixed
    seeds, pure DataFrame ops — deterministic across runs AND engines).

    Pipeline: shingle → base hash h0 = first 60 bits of ``md5(shingle)``
    mod P (P = 2³¹−1) → 16 affine permutations ``(a_j·h0 + b_j) mod P``
    (universal hashing: ONE md5 per shingle, the 16 permutations are
    integer ops) → 4 bands × 4 rows → band-bucket groupBy → distinct
    candidate pairs.  All arithmetic is exact int64 in Spark and DuckDB,
    so the sketch is EXACT-checkable (same md5 trick as
    ``q_dedup_simhash``).  At scale each stage is a bounded shuffle
    (doc_id or bucket key); no all-pairs step ever materializes, and
    buckets hotter than ``_LSH_BUCKET_CAP`` are star-split against their
    minimum-id representative instead of quadratically expanded
    (mirrored in the oracle).
    """
    n_perm, n_bands = 16, 4
    rows_per_band = n_perm // n_bands
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    # ONE md5 per (doc, shingle) — min() is idempotent over duplicate
    # shingles so per-doc array_distinct is skipped; 16 permutations are 16
    # parallel affine min-aggregates over a single pass of the exploded
    # shingle set.  The shuffle carries one row per doc with 16 longs
    # (map-side partial aggregation), which is what survives a 100 TB
    # corpus.
    mh = _minhash_table(d, n_perm)
    # band signature = md5 over the band's minhashes, prefixed with the band
    # index so signatures never collide across bands.  Explode to long form
    # (doc_id, sig) and self-join ONCE on sig — one shuffle over the band
    # keys instead of 2·n_bands re-evaluations of the minhash pipeline.
    bands_long = _band_signatures(mh, n_perm, n_bands)
    # Capped bucket expansion (shared helper): typical LSH buckets are a
    # handful of docs, and the _LSH_BUCKET_CAP guard star-splits the
    # boilerplate-hot outliers so the per-bucket expansion stays bounded
    # (linear) at corpus scale while mega-clusters remain connected.
    return _lsh_candidate_pairs(bands_long)


@query(
    "q_dedup_simhash",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t AS token, count(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        GROUP BY doc_id, t
    ), bits AS (
        SELECT doc_id, b.b AS bit,
               sum(CASE WHEN (CAST(('0x' || substr(md5(token), 1 + b.b // 4, 1)) AS INT)
                              >> (3 - b.b % 4)) & 1 = 1
                        THEN cnt ELSE -cnt END) AS score
        FROM tok CROSS JOIN generate_series(0, 31) AS b(b)
        GROUP BY doc_id, b.b
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(sum(CASE WHEN score > 0 THEN 1::BIGINT << bit ELSE 0 END) AS BIGINT)
               AS simhash32
    FROM bits
    GROUP BY doc_id
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document from md5 token hashes — near-dup docs get
    small Hamming distances.  The bit expansion (32 rows/token) is a
    map-side explode; the shuffle carries only (doc_id, bit) partial sums.

    Bit b of a token = bit (3 - b%4) of hex digit (b//4) of md5(token) —
    the same arithmetic in Spark (conv) and DuckDB (hex cast), so the
    sketch is EXACT-checkable; the near-vs-random DISCRIMINATION property
    (what an exact replay cannot attest) is pinned by
    tests/test_round8_props.py over ``_simhash_frame``.
    """
    return _simhash_frame(
        spark, fan_out(load_table(spark, sf_dir, "documents"), "doc_id"))


def _simhash_frame(spark: SparkSession, d: DataFrame) -> DataFrame:
    """Core of :func:`q_dedup_simhash` over any ``(doc_id, text)`` frame
    (factored so property tests can drive it with synthetic corpora)."""
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("md5", F.md5("token"))
    )
    bits = spark.range(32).select(F.col("id").cast("int").alias("bit"))
    scored = (
        tok.crossJoin(F.broadcast(bits))
        .withColumn(
            "hexdigit",
            F.conv(F.substring(F.col("md5"), (F.col("bit") / 4).cast("int") + 1, 1), 16, 10)
            .cast("int"),
        )
        .withColumn("bitval", F.expr("(hexdigit >> (3 - bit % 4)) & 1"))
        .groupBy("doc_id", "bit")
        .agg(F.sum(F.when(F.col("bitval") == 1, F.col("cnt"))
                   .otherwise(-F.col("cnt"))).alias("score"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum(F.when(F.col("score") > 0,
                          F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
                   .otherwise(F.lit(0))).cast("long").alias("simhash32"))
        .select(F.col("doc_id").cast("long"), "simhash32")
    )


def _hyperplane_sign(plane: int, dim: int) -> float:
    """±1 from the parity of the first hex digit of ``md5("plane,dim")`` —
    the same value DuckDB computes as
    ``(CAST('0x'||substr(md5(concat_ws(',',p,d)),1,1) AS INT) % 2) * 2 - 1``,
    so LSH bucket assignment is EXACT-checkable."""
    import hashlib

    return float(int(hashlib.md5(f"{plane},{dim}".encode()).hexdigest()[0], 16) % 2 * 2 - 1)


def _lsh_bucket_col(n_planes: int) -> "F.Column":
    """JVM-side map-only bucket signature: for each of ``n_planes`` fixed
    md5-derived hyperplanes, fold ``sum(emb[d] * h[p][d])`` left-to-right
    (``F.aggregate`` — same order as the oracle's ``list_reduce``) and set
    bit p iff the projection is positive.  No shuffle, no explode."""
    import functools
    import operator

    emb_d = V.to_double(F.col("embedding"))
    bits = []
    for p in range(n_planes):
        harr = F.array(*[F.lit(_hyperplane_sign(p, d)) for d in range(64)])
        proj = F.aggregate(
            F.zip_with(emb_d, harr, lambda x, h: x * h),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    return functools.reduce(operator.add, bits).cast("int")


def _lsh_bucket_sql(n_planes: int) -> str:
    """DuckDB twin of ``_lsh_bucket_col`` (sequential ``list_reduce`` fold ≡
    Spark's ``F.aggregate`` left fold, so the float sign is bit-identical)."""
    return " + ".join(
        f"(CASE WHEN list_reduce(list_transform(range(1, 65), "
        f"i -> CAST(embedding[i] AS DOUBLE) * "
        f"((CAST('0x' || substr(md5(concat_ws(',', {p}, i - 1)), 1, 1) AS INT) % 2) * 2 - 1)), "
        f"(a, b) -> a + b) > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )


#: Embedding near-dup LSH sizing: the plane count grows with the corpus so
#: expected per-bucket membership stays ≈ ``_LSH_TARGET_BUCKET`` and the
#: in-bucket self-join stays linear in corpus size (2^planes buckets ⇒
#: expected bucket = N / 2^planes ≤ target, until the 24-plane cap at
#: N ≈ 5×10⁸ where buckets are 16M-wide and membership grows only linearly).
_LSH_TARGET_BUCKET = 32
_LSH_MIN_PLANES = 6
_LSH_MAX_PLANES = 24


def _planes_for_corpus(n: int) -> int:
    """planes = clamp(ceil(log2(N / target_bucket)), 6, 24).

    Exact-oracle discipline: the DuckDB twin computes the identical formula
    in SQL (``CEIL(LOG2(count/32.0))`` clamped); log2 of an IEEE double and
    ceil round identically on both engines, so both sides always pick the
    same plane count for the same table.
    """
    import math

    if n <= 0:
        return _LSH_MIN_PLANES
    return min(max(math.ceil(math.log2(n / _LSH_TARGET_BUCKET)),
                   _LSH_MIN_PLANES), _LSH_MAX_PLANES)


def _lsh_bucket_sql_dynamic() -> str:
    """Corpus-size-driven bucket signature for DuckDB: every plane term up to
    the cap is emitted but gated on ``params.planes`` (computed in SQL from
    ``count(*)`` with the same clamp as ``_planes_for_corpus``), so the
    oracle tracks the Spark side at any scale factor without re-declaring
    SQL per run."""
    return " + ".join(
        f"(CASE WHEN {p} < params.planes AND list_reduce(list_transform(range(1, 65), "
        f"i -> CAST(embedding[i] AS DOUBLE) * "
        f"((CAST('0x' || substr(md5(concat_ws(',', {p}, i - 1)), 1, 1) AS INT) % 2) * 2 - 1)), "
        f"(a, b) -> a + b) > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(_LSH_MAX_PLANES)
    )


def _dedup_embedding_oracle() -> str:
    return f"""
    WITH params AS (
        SELECT LEAST(GREATEST(CAST(CEIL(LOG2(count(*) / {_LSH_TARGET_BUCKET}.0)) AS INT),
                              {_LSH_MIN_PLANES}), {_LSH_MAX_PLANES}) AS planes
        FROM embeddings
    ), sig AS (
        SELECT vec_id, embedding, ({_lsh_bucket_sql_dynamic()}) AS bucket
        FROM embeddings, params
    ), pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               (SELECT sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
                FROM generate_series(1, 64) AS g(i)) /
               (sqrt((SELECT sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))
                      FROM generate_series(1, 64) AS g(i))) *
                sqrt((SELECT sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
                      FROM generate_series(1, 64) AS g(i)))) AS cos_sim
        FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT CAST(vec_a AS BIGINT) AS vec_a,
           CAST(vec_b AS BIGINT) AS vec_b,
           round(cos_sim, 4)     AS cos_sim
    FROM pairs
    WHERE round(cos_sim, 4) >= 0.25
    """


@query("q_dedup_embedding", oracle=_dedup_embedding_oracle())
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above a similarity threshold.

    Scale shape: candidate pairs come ONLY from hyperplane-LSH buckets
    (md5-derived planes as in ``q_ann_lsh``; bucket assignment is map-side),
    with the exact cosine verified inside each bucket — there is no
    unbounded all-pairs join anywhere in the plan.  The plane count is
    corpus-size-driven (``_planes_for_corpus``: ceil(log2(N/32)) clamped to
    [6, 24]), so expected per-bucket membership stays ≈32 and the in-bucket
    self-join stays LINEAR in N as the corpus grows — a fixed plane count
    would go quadratic at N/2^planes per bucket.  The sizing count(*) is a
    metadata-only parquet scan, not a corpus read.  EXACT-checked: DuckDB
    replays the identical clamp formula, bucketing, and in-bucket cosine."""
    e_raw = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planes = _planes_for_corpus(e_raw.count())
    e = e_raw.withColumn("bucket", _lsh_bucket_col(planes))
    a = e.select("bucket", F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = e.select("bucket", F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    cos = V.cosine(F.col("emb_a"), F.col("emb_b"))
    return (
        a.join(b, ["bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", F.round(cos, 4))
        .filter(F.col("cos_sim") >= 0.25)
        .select(
            F.col("vec_a").cast("long"),
            F.col("vec_b").cast("long"),
            F.col("cos_sim"),
        )
    )


def _knn_graph_oracle() -> str:
    return f"""
    WITH params AS (
        SELECT LEAST(GREATEST(CAST(CEIL(LOG2(count(*) / {_LSH_TARGET_BUCKET}.0)) AS INT),
                              {_LSH_MIN_PLANES}), {_LSH_MAX_PLANES}) AS planes
        FROM embeddings
    ), sig AS (
        SELECT vec_id, embedding, ({_lsh_bucket_sql_dynamic()}) AS bucket
        FROM embeddings, params
    ), pairs AS (
        SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
               (SELECT sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
                FROM generate_series(1, 64) AS g(i)) /
               (sqrt((SELECT sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))
                      FROM generate_series(1, 64) AS g(i))) *
                sqrt((SELECT sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
                      FROM generate_series(1, 64) AS g(i)))) AS cos_sim
        FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ), ranked AS (
        SELECT vec_id, nbr_id, cos_sim,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY round(cos_sim, 6) DESC, nbr_id) AS rn
        FROM pairs
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(nbr_id AS BIGINT) AS nbr_id,
           round(cos_sim, 6)      AS cos_sim,
           CAST(rn AS BIGINT)     AS rn
    FROM ranked WHERE rn <= 3
    """


@query("q_knn_graph", oracle=_knn_graph_oracle())
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the whole embedding corpus
    — every vector's top-3 bucket-mates by cosine, the edge list semantic
    dedup (SemDeDup-style), cluster seeding, and graph-based curation
    start from.

    Scale shape: candidates come only from hyperplane-LSH buckets whose
    expected size is held ≈32 by the corpus-size-driven
    plane count (``_planes_for_corpus``), so the self-join is LINEAR in N
    and the per-vector top-3 window ranks a bounded (~2×bucket) candidate
    set — no all-pairs join, no unbounded per-key state anywhere.
    EXACT-checked: DuckDB replays plane sizing, bucketing, cosine, and
    ranking.
    """
    e_raw = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planes = _planes_for_corpus(e_raw.count())
    e = e_raw.withColumn("bucket", _lsh_bucket_col(planes))
    a = e.select("bucket", "vec_id", F.col("embedding").alias("emb_a"))
    b = e.select("bucket", F.col("vec_id").alias("nbr_id"),
                 F.col("embedding").alias("emb_b"))
    pairs = (
        a.join(b, ["bucket"])
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .select(
            "vec_id", "nbr_id",
            F.round(V.cosine(F.col("emb_a"), F.col("emb_b")), 6)
            .alias("cos_sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("nbr_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("vec_id").cast("long"),
            F.col("nbr_id").cast("long"),
            "cos_sim",
            "rn",
        )
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

#: Stage-1 sub-key count for the two-stage top-k: the scored corpus is
#: hash-split into this many groups PER PROBE, each reduced to a local
#: top-5, so no reducer ever sorts more than ~N/64 rows for one probe.
#: Scale knob: grow with cluster width (any value preserves the result —
#: the global top-5 is a subset of every split's local top-5 union).
_SIM_SEARCH_SALTS = 64


@query(
    "q_sim_search",
    oracle="""
    WITH probes AS (
        SELECT vec_id AS probe_id, embedding AS probe_emb
        FROM embeddings WHERE vec_id IN (0, 1, 2)
    ), scored AS (
        SELECT probe_id, e.vec_id,
               (SELECT sum(CAST(probe_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))
                FROM generate_series(1, 64) AS g(i)) /
               (sqrt((SELECT sum(CAST(probe_emb[i] AS DOUBLE) * CAST(probe_emb[i] AS DOUBLE))
                      FROM generate_series(1, 64) AS g(i))) *
                sqrt((SELECT sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))
                      FROM generate_series(1, 64) AS g(i)))) AS cos_sim
        FROM probes CROSS JOIN embeddings e
        WHERE e.vec_id NOT IN (0, 1, 2)
    ), ranked AS (
        SELECT probe_id, vec_id, cos_sim,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY round(cos_sim, 6) DESC, vec_id) AS rn
        FROM scored
    )
    SELECT CAST(probe_id AS BIGINT) AS probe_id,
           CAST(vec_id  AS BIGINT) AS vec_id,
           round(cos_sim, 6)       AS cos_sim,
           CAST(rn AS BIGINT)      AS rn
    FROM ranked WHERE rn <= 5
    """,
)
def q_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 3 fixed probe vectors.

    The probe set broadcasts; cosine is a JVM-side higher-order expression
    over the fact table — the exact baseline an ANN variant is measured
    against.  The per-probe top-k is TWO-stage: a salted sub-key window
    takes a local top-5 within each of ``_SIM_SEARCH_SALTS`` hash splits
    (parallel across probes × salts reducers, each sorting ~N/salts rows),
    then the final window ranks only the ≤ 5·salts survivors per probe.
    A single-stage ``Window.partitionBy(probe_id)`` would funnel the whole
    scored corpus through one reducer per probe — the plan that dies first
    at 100× scale (tests/test_plans.py locks the staged shape in).
    """
    # embeddings is narrow (vec_id + 64-float vector): per-row compute is
    # light, so scan splits alone carry the parallelism — no fan_out.
    e = load_table(spark, sf_dir, "embeddings")
    probes = (
        e.filter(F.col("vec_id").isin(0, 1, 2))
        .select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_emb"))
    )
    scored = (
        e.filter(~F.col("vec_id").isin(0, 1, 2))
        .crossJoin(F.broadcast(probes))
        # round before ranking so both stages order by the same key, and
        # only 3 narrow columns (no vectors) reach the shuffle
        .select(
            "probe_id",
            "vec_id",
            F.round(V.cosine(F.col("probe_emb"), F.col("embedding")), 6)
            .alias("cos_sim"),
        )
    )
    order = [F.desc("cos_sim"), F.asc("vec_id")]
    local = Window.partitionBy(
        "probe_id",
        F.pmod(F.hash("vec_id"), F.lit(_SIM_SEARCH_SALTS)),
    ).orderBy(*order)
    cand = (
        scored.withColumn("_lrn", F.row_number().over(local))
        .filter(F.col("_lrn") <= 5)
        .drop("_lrn")
    )
    final = Window.partitionBy("probe_id").orderBy(*order)
    return (
        cand.withColumn("rn", F.row_number().over(final).cast("long"))
        .filter(F.col("rn") <= 5)
        .select(
            F.col("probe_id").cast("long"),
            F.col("vec_id").cast("long"),
            "cos_sim",
            "rn",
        )
    )


_ANN_LSH_ORACLE = f"""
    WITH sig AS (
        SELECT vec_id, embedding, ({_lsh_bucket_sql(8)}) AS bucket
        FROM embeddings
    ), probes AS (
        SELECT vec_id AS probe_id, embedding AS probe_emb, bucket
        FROM sig WHERE vec_id IN (0, 1, 2)
    ), scored AS (
        SELECT p.probe_id, s.vec_id,
               (SELECT sum(CAST(p.probe_emb[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE))
                FROM generate_series(1, 64) AS g(i)) /
               (sqrt((SELECT sum(CAST(p.probe_emb[i] AS DOUBLE) * CAST(p.probe_emb[i] AS DOUBLE))
                      FROM generate_series(1, 64) AS g(i))) *
                sqrt((SELECT sum(CAST(s.embedding[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE))
                      FROM generate_series(1, 64) AS g(i)))) AS cos_sim
        FROM sig s JOIN probes p ON s.bucket = p.bucket AND s.vec_id <> p.probe_id
    ), ranked AS (
        SELECT probe_id, vec_id, cos_sim,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY round(cos_sim, 6) DESC, vec_id) AS rn
        FROM scored
    )
    SELECT CAST(probe_id AS BIGINT) AS probe_id,
           CAST(vec_id  AS BIGINT) AS vec_id,
           round(cos_sim, 6)       AS cos_sim,
           CAST(rn AS BIGINT)      AS rn
    FROM ranked WHERE rn <= 3
"""


@query("q_ann_lsh", oracle=_ANN_LSH_ORACLE)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors — the 100 TB scale path.

    Random-hyperplane LSH: 8 fixed pseudo-hyperplanes (sign pattern =
    md5("plane,dim") hex-digit parity, computed once driver-side), bucket =
    8-bit sign signature evaluated entirely map-side (array HOF fold — no
    explode, no shuffle to assign buckets).  Probes only compare against
    their own bucket → the cross join shrinks by ~2^8.  Returns each
    probe's approximate top-3 bucket-mates by true cosine (deterministic:
    fixed hyperplanes, rounded scores, id tiebreak) — EXACT-checked
    against a DuckDB twin of the whole pipeline.
    """
    e = load_table(spark, sf_dir, "embeddings")
    bucketed = e.withColumn("bucket", _lsh_bucket_col(8))
    probes = bucketed.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_emb"),
        "bucket",
    )
    cands = bucketed.join(F.broadcast(probes), "bucket").filter(
        F.col("vec_id") != F.col("probe_id"))
    w = Window.partitionBy("probe_id").orderBy(
        F.round("cos_sim", 6).desc(), F.asc("vec_id"))
    return (
        cands.withColumn("cos_sim", V.cosine(F.col("probe_emb"), F.col("embedding")))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("probe_id").cast("long"),
            F.col("vec_id").cast("long"),
            F.round("cos_sim", 6).alias("cos_sim"),
            "rn",
        )
    )


def _multiprobe_buckets_sql(n_planes: int) -> str:
    """DuckDB list literal of the multi-probe bucket sequence: the home
    bucket plus every Hamming-distance-1 neighbor (one sign bit
    flipped)."""
    flips = ", ".join(f"xor(bucket, {1 << p})" for p in range(n_planes))
    return f"[bucket, {flips}]"


def _ann_sig_probe_ctes(n_planes: int = 8) -> str:
    """Shared oracle preamble for the multi-probe ANN keys: signature
    table, the fixed probe set (vec_id 0/1/2) with home buckets, and the
    multi-probe bucket expansion ``pb`` — one definition so the probe
    set can never drift between q_ann_lsh_multiprobe and the recall
    report that measures it."""
    return f"""sig AS (
        SELECT vec_id, embedding, ({_lsh_bucket_sql(n_planes)}) AS bucket
        FROM embeddings
    ), probes AS (
        SELECT vec_id AS probe_id, embedding AS probe_emb, bucket
        FROM sig WHERE vec_id IN (0, 1, 2)
    ), pb AS (
        SELECT probe_id, probe_emb,
               unnest({_multiprobe_buckets_sql(n_planes)}) AS bucket
        FROM probes
    )"""


def _ann_probe_set(bucketed: DataFrame) -> DataFrame:
    """Spark twin of the oracle ``probes`` CTE: the ANN family's fixed
    probe set (vec_id 0/1/2) with home bucket — shared by
    q_ann_lsh_multiprobe and q_ann_recall_report."""
    return bucketed.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_emb"),
        "bucket",
    )


def _ann_probe_buckets(probes: DataFrame, n_planes: int = 8) -> DataFrame:
    """Spark twin of the oracle ``pb`` CTE: home bucket + the
    ``n_planes`` Hamming-distance-1 sign-flip buckets per probe —
    ``n_planes + 1`` DISTINCT bucket ids per probe, and every vector
    lives in exactly one bucket, so a join against it yields each
    (probe, candidate) pair at most once."""
    return probes.select(
        "probe_id", "probe_emb",
        F.explode(F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)).cast("int")
              for p in range(n_planes)],
        )).alias("bucket"),
    )


_ANN_LSH_MULTIPROBE_ORACLE = f"""
    WITH {_ann_sig_probe_ctes(8)}, scored AS (
        SELECT p.probe_id, s.vec_id,
               (SELECT sum(CAST(p.probe_emb[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE))
                FROM generate_series(1, 64) AS g(i)) /
               (sqrt((SELECT sum(CAST(p.probe_emb[i] AS DOUBLE) * CAST(p.probe_emb[i] AS DOUBLE))
                      FROM generate_series(1, 64) AS g(i))) *
                sqrt((SELECT sum(CAST(s.embedding[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE))
                      FROM generate_series(1, 64) AS g(i)))) AS cos_sim
        FROM sig s JOIN pb p ON s.bucket = p.bucket AND s.vec_id <> p.probe_id
    ), ranked AS (
        SELECT probe_id, vec_id, cos_sim,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY round(cos_sim, 6) DESC, vec_id) AS rn
        FROM scored
    )
    SELECT CAST(probe_id AS BIGINT) AS probe_id,
           CAST(vec_id  AS BIGINT) AS vec_id,
           round(cos_sim, 6)       AS cos_sim,
           CAST(rn AS BIGINT)      AS rn
    FROM ranked WHERE rn <= 3
"""


@query("q_ann_lsh_multiprobe", oracle=_ANN_LSH_MULTIPROBE_ORACLE)
def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE LSH approximate nearest neighbors (SURVEY §7 round-12
    runway item 1): each probe scans its home bucket PLUS every bucket at
    Hamming distance 1 in the 8-bit sign signature (one hyperplane sign
    flipped — the buckets a near-neighbor most likely landed in when it
    straddles one hyperplane).  The standard multi-probe trade: ~9× the
    candidates of ``q_ann_lsh`` from ONE table, where classic recall
    recovery needs ~9 independent hash tables (9× index storage and
    build).  The probe sequence is deterministic (bit flips of an exact
    integer signature), so the whole pipeline stays EXACT-checkable; the
    candidate set is a strict superset of single-probe's, so recall@k
    can only improve (behaviorally asserted vs brute-force cosine in
    pytest).

    Scale: bucket assignment is map-only (same signature fold as
    ``q_ann_lsh``); the probe×bucket expansion is broadcast-sized
    (|probes| × 9 rows); candidate scoring stays confined to 9/2^8 of
    the corpus per probe instead of all-pairs.
    """
    e = load_table(spark, sf_dir, "embeddings")
    bucketed = e.withColumn("bucket", _lsh_bucket_col(8))
    probe_buckets = _ann_probe_buckets(_ann_probe_set(bucketed), 8)
    cands = bucketed.join(F.broadcast(probe_buckets), "bucket").filter(
        F.col("vec_id") != F.col("probe_id"))
    w = Window.partitionBy("probe_id").orderBy(
        F.round("cos_sim", 6).desc(), F.asc("vec_id"))
    return (
        cands.withColumn(
            "cos_sim", V.cosine(F.col("probe_emb"), F.col("embedding")))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("probe_id").cast("long"),
            F.col("vec_id").cast("long"),
            F.round("cos_sim", 6).alias("cos_sim"),
            "rn",
        )
    )


#: IVF parameters: k inverted lists, nprobe lists scanned per probe, Lloyd
#: refinement passes.  _IVF_MICRO is the fixed-point scale: embeddings are
#: quantized to integer micro-units so every training aggregation is an
#: integer sum — order-independent, hence bit-identical on any engine.
_IVF_K, _IVF_NPROBE, _IVF_ITERS = 16, 2, 2
_IVF_MICRO = 1_000_000


def _ivf_int_vec(col: "F.Column") -> "F.Column":
    """array<float> → array<bigint> micro-units (round half away from zero —
    same semantics as DuckDB's round, verified)."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * _IVF_MICRO, 0).cast("long"))


def _ivf_int_dot(a: "F.Column", b: "F.Column") -> "F.Column":
    """Exact integer dot product (longs; |x|≤~5e6 ⇒ products ≤2.5e13,
    64-dim sums ≤1.6e15 — far inside long range)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _ivf_cos(a: "F.Column", b: "F.Column") -> "F.Column":
    """Cosine from exact integer inputs: one double division + two IEEE
    sqrts of exact integers — bit-identical across engines, so rankings
    need no rounding epsilon."""
    return _ivf_int_dot(a, b).cast("double") / (
        F.sqrt(_ivf_int_dot(a, a).cast("double"))
        * F.sqrt(_ivf_int_dot(b, b).cast("double")))


def _ivf_dot_sql(a: str, b: str) -> str:
    """DuckDB exact integer dot product of two 64-dim BIGINT lists."""
    return (f"list_reduce(list_transform(range(1, 65), "
            f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)")


def _ivf_cos_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`_ivf_cos` — double cosine from exact
    integer dots/norms."""
    d = _ivf_dot_sql
    return (f"(CAST({d(a, b)} AS DOUBLE) / "
            f"(sqrt(CAST({d(a, a)} AS DOUBLE)) * "
            f"sqrt(CAST({d(b, b)} AS DOUBLE))))")


def _ivf_ctes(p: str = "") -> str:
    """Composable CTE chain of the IVF pipeline up to candidate
    generation (seed → Lloyd×``_IVF_ITERS`` → ``{p}lists`` +
    ``{p}probe_lists``), every CTE name prefixed with ``p`` so the
    recall report can graft the chain next to the LSH/PQ chains without
    name collisions (VERDICT r11 item 3 — the `_ann_sig_probe_ctes`
    pattern applied to the trained methods).  The trained centroid
    table and the inverted lists are MATERIALIZED: DuckDB inlines plain
    CTEs into every consumer, and both are read 2+ times downstream
    (the r10 unigram-oracle lesson).  Integer sums make every aggregate
    order-independent; cosines are doubles computed from exact
    integers, so the two engines rank identically without tolerance."""
    cos = _ivf_cos_sql

    # One assign + recompute block per Lloyd pass.
    blocks = []
    for j in range(1, _IVF_ITERS + 1):
        mat = " MATERIALIZED" if j == _IVF_ITERS else ""
        blocks.append(f"""
    {p}assign{j} AS (
        SELECT vec_id, iemb, centroid_id FROM (
            SELECT v.vec_id, v.iemb, c.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {cos('v.iemb', 'c.cent')} DESC, c.centroid_id) AS rn
            FROM {p}iv v CROSS JOIN {p}cent{j - 1} c
        ) WHERE rn = 1
    ), {p}cent{j} AS{mat} (
        SELECT centroid_id, list(m ORDER BY d) AS cent FROM (
            SELECT centroid_id, g.d AS d,
                   CAST(round(CAST(sum(iemb[g.d + 1]) AS DOUBLE) / count(*), 0)
                        AS BIGINT) AS m
            FROM {p}assign{j} CROSS JOIN generate_series(0, 63) AS g(d)
            GROUP BY centroid_id, g.d
        ) GROUP BY centroid_id
    )""")
    return f"""{p}iv AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * {_IVF_MICRO}, 0) AS BIGINT)) AS iemb
        FROM embeddings
    ), {p}cent0 AS (
        SELECT centroid_id, cent FROM (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
                   iemb AS cent
            FROM {p}iv
        ) WHERE centroid_id < {_IVF_K}
    ),{','.join(blocks)}
    , {p}lists AS MATERIALIZED (
        SELECT vec_id, iemb, centroid_id FROM (
            SELECT v.vec_id, v.iemb, c.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {cos('v.iemb', 'c.cent')} DESC, c.centroid_id) AS rn
            FROM {p}iv v CROSS JOIN {p}cent{_IVF_ITERS} c
        ) WHERE rn = 1
    ), {p}probe_lists AS (
        SELECT probe_id, piemb, centroid_id FROM (
            SELECT v.vec_id AS probe_id, v.iemb AS piemb, c.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {cos('v.iemb', 'c.cent')} DESC, c.centroid_id) AS rn
            FROM {p}iv v CROSS JOIN {p}cent{_IVF_ITERS} c
            WHERE v.vec_id IN (0, 1, 2)
        ) WHERE rn <= {_IVF_NPROBE}
    )"""


def _ivf_oracle() -> str:
    """DuckDB twin of the full IVF pipeline (seed → Lloyd×2 → lists →
    probe → top-3): the composable chain plus q_ann_ivf's ranking."""
    cos = _ivf_cos_sql
    return f"""
    WITH {_ivf_ctes()}, ranked AS (
        SELECT p.probe_id, l.vec_id,
               {cos('p.piemb', 'l.iemb')} AS cos_sim,
               row_number() OVER (PARTITION BY p.probe_id
                   ORDER BY {cos('p.piemb', 'l.iemb')} DESC, l.vec_id) AS rn
        FROM probe_lists p
        JOIN lists l ON p.centroid_id = l.centroid_id AND l.vec_id <> p.probe_id
    )
    SELECT CAST(probe_id AS BIGINT) AS probe_id,
           CAST(vec_id  AS BIGINT) AS vec_id,
           round(cos_sim, 6)       AS cos_sim,
           CAST(rn AS BIGINT)      AS rn
    FROM ranked WHERE rn <= 3
    """


@query("q_ann_ivf", oracle=_ivf_oracle())
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors — the trained
    counterpart to ``q_ann_lsh``'s data-independent bucketing.

    EXACT-checkable k-means via fixed-point arithmetic (the ``q_pagerank``
    trick): embeddings are quantized to integer micro-units, so centroid
    training sums are order-independent integer adds and the per-dim mean
    is one deterministic double division + round.  Cosines divide exact
    integer dots by exact integer norms — bit-identical across engines, so
    assignment argmax and final ranking need no tolerance.  Quantization
    perturbs cosines by ≤~1e-5 relative — irrelevant for ANN ranking.

    This also removes round 2's driver-side Lloyd ``collect()`` loop: the
    whole pipeline (seed → assign → recompute → assign → recompute → lists
    → probe → top-3) is one declarative DAG; centroid tables are 16-row
    computed DataFrames that broadcast to the assignment joins.

    Search: every vector lands in exactly one inverted list; each probe
    scans its nprobe=2 nearest lists only, so the candidate set is
    ~nprobe/k of the data (vs all of it for brute force).
    """
    iv, cents = _ivf_train(spark, sf_dir)
    return _ivf_topk(_ivf_candidates(iv, cents))


def _ivf_nearest(vecs: DataFrame, cents: DataFrame, n: int,
                 vec_col: str, keys: tuple[str, ...] = ()) -> DataFrame:
    """Each vector's ``n`` nearest centroids by exact-integer cosine
    (tie → lower centroid_id) — the assignment step shared by training,
    list building, probing and the frozen delta assignment.  A vector is
    keyed by ``keys`` (default: the first column)."""
    scored = vecs.crossJoin(F.broadcast(cents)).withColumn(
        "sim", _ivf_cos(F.col(vec_col), F.col("cent")))
    w = Window.partitionBy(*(keys or vecs.columns[:1])).orderBy(
        F.col("sim").desc(), F.asc("centroid_id"))
    return scored.withColumn("crn", F.row_number().over(w)) \
        .filter(F.col("crn") <= n).drop("crn", "sim")


def _ivf_lloyd(iv: DataFrame) -> DataFrame:
    """The exact-integer Lloyd chain (seed = k lowest vec_ids →
    ``_IVF_ITERS`` assign/recompute passes) over micro-unit vectors
    ``(vec_id, iemb)``.  Factored from ``_ivf_train`` so the maintained
    key's RE-TRAIN arm can run the identical chain on a mutated corpus
    snapshot (one definition, no drift)."""
    # Seed: the k lowest vec_ids (TakeOrdered — no global-window shuffle),
    # numbered by a window over just those k rows.
    seeds = iv.orderBy("vec_id").limit(_IVF_K)
    cents = seeds.select(
        (F.row_number().over(Window.orderBy("vec_id")) - 1)
        .alias("centroid_id"),
        F.col("iemb").alias("cent"),
    )
    for it in range(_IVF_ITERS):
        assigned = _ivf_nearest(iv, cents, 1, "iemb")
        cents = (
            assigned.select("centroid_id",
                            F.posexplode("iemb").alias("dim", "x"))
            .groupBy("centroid_id", "dim")
            .agg(F.round(F.sum("x").cast("double") / F.count(F.lit(1)), 0)
                 .cast("long").alias("m"))
            .groupBy("centroid_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s.m).alias("cent"))
        )
        if it < _IVF_ITERS - 1:
            # k rows, but the lineage embeds a full corpus assign; pass
            # r+1 broadcasts cents as its crossJoin build side, which
            # would otherwise replay pass r's whole subtree inside the
            # next plan (r16 measurement: the recall report's IVF branch
            # was its slowest family at 7s, ~1s of it this duplication —
            # guide §5 / the same per-stage materialization the IVF-PQ
            # trainer has used since r8).  The FINAL pass is left lazy:
            # every caller either localCheckpoints the result itself or
            # consumes it once, and an unconditional checkpoint here
            # double-materialized it (+1 job per training — measured as
            # a net LOSS on q_ann_ivf_maintained, which trains twice).
            # Values identical; only materialization points change.
            cents = cents.localCheckpoint()
    return cents


def _ivf_train(spark: SparkSession, sf_dir: str) -> tuple[DataFrame,
                                                          DataFrame]:
    """Micro-unit integer vectors + the trained coarse quantizer
    (seed → ``_IVF_ITERS`` exact-integer Lloyd passes).  Returns
    ``(iv, cents)`` — factored so the recall report composes the SAME
    training chain as ``q_ann_ivf`` (the `_ann_sig_probe_ctes`
    discipline: one definition, no drift)."""
    iv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _ivf_int_vec(F.col("embedding")).alias("iemb"))
    return iv, _ivf_lloyd(iv)


def _probe_rows(iv: DataFrame, *ids: int) -> DataFrame:
    """The probe vectors ``(probe_id, piemb)`` of the ``(vec_id, iemb)``
    rows ``ids``."""
    return iv.filter(F.col("vec_id").isin(*ids)).select(
        F.col("vec_id").alias("probe_id"), F.col("iemb").alias("piemb"))


def _ivf_candidates(iv: DataFrame, cents: DataFrame) -> DataFrame:
    """IVF candidate generation: every vector lands in exactly one
    inverted list; each probe's candidates are the members of its
    ``_IVF_NPROBE`` nearest lists (minus itself).  Returns
    ``(centroid_id, vec_id, iemb, probe_id, piemb)``."""
    lists = _ivf_nearest(iv, cents, 1, "iemb").select(
        "vec_id", "iemb", "centroid_id")
    probes = _probe_rows(iv, 0, 1, 2)
    probe_lists = _ivf_nearest(probes, cents, _IVF_NPROBE, "piemb").select(
        "probe_id", "piemb", "centroid_id")
    return lists.join(F.broadcast(probe_lists), "centroid_id").filter(
        F.col("vec_id") != F.col("probe_id"))


def _ivf_topk(cands: DataFrame) -> DataFrame:
    """Top-3 per probe by exact-integer cosine (rounded only on output),
    tie → lower vec_id — ``q_ann_ivf``'s ranking rule."""
    cos = _ivf_cos(F.col("piemb"), F.col("iemb"))
    w = Window.partitionBy("probe_id").orderBy(cos.desc(), F.asc("vec_id"))
    return (
        cands.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("probe_id").cast("long"),
            F.col("vec_id").cast("long"),
            F.round(cos, 6).alias("cos_sim"),
            "rn",
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q_text_stats",
    oracle="""
    SELECT lang,
           count(*)                                          AS n_docs,
           round(avg(n_chars), 4)                            AS avg_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           count(DISTINCT source)                            AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum(TX.token_count(F.col("text"))).cast("long").alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "q_text_quality",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           round(CAST(len(list_filter(string_split(text, ' '),
                 t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS stopword_ratio,
           round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS distinct_ratio,
           round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4)
                 AS chars_per_token
    FROM documents
    WHERE doc_id % 4 = 0
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals: token count, stopword ratio, vocabulary
    diversity, chars/token — the standard pre-training filter features."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    toks = TX.tokens(F.col("text"))
    return d.select(
        F.col("doc_id").cast("long"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(TX.stopword_ratio(F.col("text")), 4).alias("stopword_ratio"),
        F.round(TX.distinct_token_ratio(F.col("text")), 4).alias("distinct_ratio"),
        F.round(F.col("n_chars") / F.size(toks), 4).alias("chars_per_token"),
    )


@query(
    "q_text_language_id",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('the', 'a', 'of')))    AS c_en,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('der', 'die', 'das'))) AS c_de,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('le', 'la', 'les')))   AS c_fr,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('el', 'los', 'una')))  AS c_es,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('de5', 'shi4', 'le5'))) AS c_zh
        FROM documents
    )
    SELECT CASE WHEN greatest(c_en, c_de, c_fr, c_es, c_zh) = 0 THEN 'und'
                WHEN c_en = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'en'
                WHEN c_de = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'de'
                WHEN c_fr = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'fr'
                WHEN c_es = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'es'
                ELSE 'zh' END AS detected_lang,
           count(*) AS n_docs
    FROM scored
    GROUP BY 1
    """,
)
def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic, aggregated to detected-language
    counts (the corpus vocabulary is synthetic, so the heuristic's value
    here is its determinism, not its accuracy)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(TX.language_id(F.col("text")).alias("detected_lang"))
        .groupBy("detected_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "q_text_tokens",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT)          AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
                                                                 AS bpe_ish_tokens
    FROM documents
    WHERE doc_id % 3 = 0
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish pre-tokenizer regex."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return d.select(
        F.col("doc_id").cast("long"),
        TX.token_count(F.col("text")).alias("ws_tokens"),
        TX.bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
    )


@query(
    "q_text_fingerprint",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           md5(lower(trim(text))) AS fp_raw,
           md5(array_to_string(list_sort(string_split(lower(trim(text)), ' ')), ' '))
                                  AS fp_bag
    FROM documents
    WHERE doc_id % 6 = 0
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: content hash + order-insensitive token-bag
    hash (catches word-permuted duplicates)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 0)
    return d.select(
        F.col("doc_id").cast("long"),
        TX.fingerprint_raw(F.col("text")).alias("fp_raw"),
        TX.fingerprint_bag(F.col("text")).alias("fp_bag"),
    )


@query(
    "q_text_tfidf",
    oracle="""
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM terms WHERE term <> '' GROUP BY doc_id, term
    ), df AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT count(*) AS n FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * ln((n.n + 1.0) / (df.df + 1.0)) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           term                   AS top_term,
           round(score, 4)        AS tfidf
    FROM (
        SELECT doc_id, term, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TF-IDF term per document (tokenize → term frequency → document
    frequency → score → per-doc argmax).

    Scale shape: the only full shuffle is the (doc_id, term) aggregate; the
    document-frequency table is vocabulary-sized, so it and the 1-row corpus
    count broadcast to the scorers, and the final top-1 window re-uses the
    doc_id clustering.  Ties (equal tf and df give bit-identical doubles)
    break on term order, so the result is engine-independent."""
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    terms = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("term").alias("top_term"),
            F.round("score", 4).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@query(
    "q_multimodal",
    oracle="""
    SELECT lang,
           CAST(label AS BIGINT)  AS label,
           count(*)               AS n_rows,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents JOIN embeddings ON doc_id = vec_id
    WHERE label < 5
    GROUP BY lang, label
    """,
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal row = text + vector in one schema; the join is a plain
    broadcast equi-join (multimodality is schema design, not an operator)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("label") < 5)
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("lang", F.col("label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus sampling
# ---------------------------------------------------------------------------


@query(
    "q_sample_systematic",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT)  AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(min(l_orderkey) AS BIGINT) AS min_key
    FROM lineitem
    WHERE (l_orderkey * 8 + l_linenumber) % 20 = 3
    GROUP BY l_returnflag
    """,
)
def q_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic 1-in-20 corpus sample keyed on a unique row identity
    (``l_orderkey*8 + l_linenumber``) — the reproducible, engine-portable
    alternative to seeded ``TABLESAMPLE``: any engine computing the same
    key keeps exactly the same rows, so downstream training runs are
    byte-reproducible.

    Scale: the predicate is a pure row-local filter — pushed to the scan,
    no shuffle, no RNG state; sampling 100 TB costs one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    return (
        li.filter(F.pmod(key, F.lit(20)) == 3)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.min("l_orderkey").cast("long").alias("min_key"),
        )
    )


@query(
    "q_sample_stratified",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT)  AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE (l_orderkey * 8 + l_linenumber) %
          (CASE l_returnflag WHEN 'A' THEN 2 WHEN 'N' THEN 5 ELSE 10 END) = 0
    GROUP BY l_returnflag
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum rates (keep 1/2 of 'A', 1/5 of
    'N', 1/10 of everything else) — rebalancing skewed classes is routine
    in training-data curation.  The rate lookup is a literal
    ``map<string,int>`` resolved per row via ``element_at`` (JVM-side, no
    join); row identity keying keeps it reproducible like
    ``q_sample_systematic``.  ``sampleBy`` is the RNG-seeded equivalent
    when cross-engine reproducibility doesn't matter."""
    li = load_table(spark, sf_dir, "lineitem")
    rates = F.create_map(
        F.lit("A"), F.lit(2),
        F.lit("N"), F.lit(5),
    )
    rate = F.coalesce(F.element_at(rates, F.col("l_returnflag")), F.lit(10))
    key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    return (
        li.filter(F.pmod(key, rate) == 0)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


def _minhash_accuracy_oracle(n_perm: int = 16) -> str:
    perms = ", ".join(
        f"min(({a} * h0 + {b}) % {_MINHASH_P}) AS h{j}"
        for j, (a, b) in enumerate(_minhash_coeffs(n_perm))
    )
    bands = ", ".join(
        "md5(concat_ws(',', {b}, {hs})) AS sig{b}".format(
            b=b, hs=", ".join(f"h{b * 4 + r}" for r in range(4)))
        for b in range(n_perm // 4)
    )
    sig_union = " UNION ALL ".join(
        f"SELECT doc_id, sig{b} AS sig FROM bands" for b in range(n_perm // 4))
    est = " + ".join(
        f"CASE WHEN ma.h{j} = mb.h{j} THEN 1 ELSE 0 END"
        for j in range(n_perm))
    return f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i : i + 2], ' '))) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), h0s AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
                   % {_MINHASH_P} AS h0
        FROM sh
    ), mh AS (
        SELECT doc_id, {perms} FROM h0s GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, {bands} FROM mh
    ), sigs AS ({sig_union}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.doc_id < b.doc_id
    ), lists AS (
        SELECT doc_id, list(shingle) AS ls FROM sh GROUP BY doc_id
    )
    SELECT CAST(p.doc_a AS BIGINT) AS doc_a,
           CAST(p.doc_b AS BIGINT) AS doc_b,
           CAST({est} AS BIGINT)   AS est_matches,
           CAST(len(list_intersect(la.ls, lb.ls)) AS BIGINT) AS n_common,
           CAST(len(la.ls) + len(lb.ls) - len(list_intersect(la.ls, lb.ls))
                AS BIGINT)         AS n_union,
           CAST({est} AS DOUBLE) / {n_perm} AS est_jaccard,
           CAST(len(list_intersect(la.ls, lb.ls)) AS DOUBLE)
               / CAST(len(la.ls) + len(lb.ls) - len(list_intersect(la.ls, lb.ls))
                      AS DOUBLE)   AS exact_jaccard,
           round(abs(CAST({est} AS DOUBLE) / {n_perm}
                     - CAST(len(list_intersect(la.ls, lb.ls)) AS DOUBLE)
                       / CAST(len(la.ls) + len(lb.ls)
                              - len(list_intersect(la.ls, lb.ls)) AS DOUBLE)), 6)
               AS abs_err
    FROM pairs p
    JOIN mh ma    ON ma.doc_id = p.doc_a
    JOIN mh mb    ON mb.doc_id = p.doc_b
    JOIN lists la ON la.doc_id = p.doc_a
    JOIN lists lb ON lb.doc_id = p.doc_b
    """


@query("q_minhash_accuracy", oracle=_minhash_accuracy_oracle())
def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit: for every LSH candidate pair from
    ``q_dedup_near``, the 16-permutation minhash Jaccard ESTIMATE next to
    the EXACT shingle-set Jaccard and their absolute error — the report
    that justifies (or vetoes) a sketch size before a 100 TB dedup run.

    Estimate = matching permutations / 16 (integer agreement count);
    exact = |A∩B| / |A∪B| over distinct shingle arrays.  Both are single
    IEEE divisions over integers, so the audit itself is EXACT-checkable.

    Scale: the candidate set is LSH-bounded (never all-pairs); the exact
    side joins the per-doc distinct-shingle arrays only for those
    candidates and intersects per pair — linear in candidates × doc
    length.  The minhash table is the same one bucketing already built.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    n_perm = 16
    pairs = q_dedup_near(spark, sf_dir)
    mh = _minhash_table(d, n_perm)
    lists = d.select(
        "doc_id", F.array_distinct(_shingle_array(3)).alias("ls"))
    est = sum(
        F.when(F.col(f"ma.h{j}") == F.col(f"mb.h{j}"), 1).otherwise(0)
        for j in range(n_perm)
    ).cast("long")
    n_common = F.size(F.array_intersect(F.col("la.ls"), F.col("lb.ls")))
    n_union = (F.size(F.col("la.ls")) + F.size(F.col("lb.ls")) - n_common)
    est_j = est.cast("double") / n_perm
    exact_j = n_common.cast("double") / n_union.cast("double")
    return (
        pairs
        .join(mh.alias("ma"), F.col("ma.doc_id") == pairs.doc_a)
        .join(mh.alias("mb"), F.col("mb.doc_id") == pairs.doc_b)
        .join(lists.alias("la"), F.col("la.doc_id") == pairs.doc_a)
        .join(lists.alias("lb"), F.col("lb.doc_id") == pairs.doc_b)
        .select(
            pairs.doc_a.cast("long").alias("doc_a"),
            pairs.doc_b.cast("long").alias("doc_b"),
            est.alias("est_matches"),
            n_common.cast("long").alias("n_common"),
            n_union.cast("long").alias("n_union"),
            est_j.alias("est_jaccard"),
            exact_j.alias("exact_jaccard"),
            F.round(F.abs(est_j - exact_j), 6).alias("abs_err"),
        )
    )


def _dedup_incremental_oracle(n_perm: int = 16) -> str:
    perms = ", ".join(
        f"min(({a} * h0 + {b}) % {_MINHASH_P}) AS h{j}"
        for j, (a, b) in enumerate(_minhash_coeffs(n_perm))
    )
    bands = ", ".join(
        "md5(concat_ws(',', {b}, {hs})) AS sig{b}".format(
            b=b, hs=", ".join(f"h{b * 4 + r}" for r in range(4)))
        for b in range(n_perm // 4)
    )
    sig_union = " UNION ALL ".join(
        f"SELECT doc_id, sig{b} AS sig FROM bands" for b in range(n_perm // 4))
    return f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i : i + 2], ' '))) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), h0s AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
                   % {_MINHASH_P} AS h0
        FROM sh
    ), mh AS (
        SELECT doc_id, {perms} FROM h0s GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, {bands} FROM mh
    ), sigs AS ({sig_union}),
    hits AS (
        SELECT a.doc_id AS new_doc,
               count(DISTINCT b.doc_id) AS n_cand,
               min(b.doc_id)            AS first_match
        FROM sigs a JOIN sigs b ON a.sig = b.sig
        WHERE a.doc_id % 10 = 9 AND b.doc_id % 10 != 9
        GROUP BY a.doc_id
    )
    SELECT CAST(n.doc_id AS BIGINT)                  AS new_doc_id,
           CAST(COALESCE(h.n_cand, 0) AS BIGINT)     AS n_index_candidates,
           CAST(COALESCE(h.first_match, -1) AS BIGINT) AS first_match
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 9) n
    LEFT JOIN hits h ON n.doc_id = h.new_doc
    """


@query("q_dedup_incremental", oracle=_dedup_incremental_oracle())
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time near-dup gate: a NEW batch (doc_id % 10 == 9) is
    checked against the EXISTING corpus index (the rest) — the shape every
    continuously-ingesting training pipeline runs per arrival batch,
    where re-running full-corpus dedup (``q_dedup_near``) would be
    quadratic over time.

    The batch side joins the index side on LSH band signatures only — the
    batch (small) probes the index (large); no index-index or batch-batch
    pair ever forms.  At production scale the index's band signatures are
    the PERSISTED artifact (a bucketed table updated per batch — the
    bucketed-sink layout of ``q_sink_bucketed``), so each arrival batch
    shuffles only itself plus signature-matched index rows.  Every new doc
    reports its candidate count and best (lowest-id) index match, -1 when
    clean — the keep/quarantine signal.
    """
    n_perm, n_bands = 16, 4
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    sigs = _band_signatures(_minhash_table(d, n_perm), n_perm, n_bands)
    new_sigs = sigs.filter(F.col("doc_id") % 10 == 9)
    idx_sigs = (sigs.filter(F.col("doc_id") % 10 != 9)
                .withColumnRenamed("doc_id", "index_doc"))
    hits = (
        new_sigs.join(idx_sigs, "sig")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("index_doc").alias("n_cand"),
            F.min("index_doc").alias("first_match"),
        )
    )
    batch = d.filter(F.col("doc_id") % 10 == 9).select("doc_id")
    return (
        batch.join(hits, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("new_doc_id"),
            F.coalesce(F.col("n_cand"), F.lit(0)).cast("long")
                .alias("n_index_candidates"),
            F.coalesce(F.col("first_match"), F.lit(-1)).cast("long")
                .alias("first_match"),
        )
    )


def _semdedup_oracle() -> str:
    return f"""
    WITH params AS (
        SELECT LEAST(GREATEST(CAST(CEIL(LOG2(count(*) / {_LSH_TARGET_BUCKET}.0)) AS INT),
                              {_LSH_MIN_PLANES}), {_LSH_MAX_PLANES}) AS planes
        FROM embeddings
    ), sig AS (
        SELECT vec_id, label, embedding, ({_lsh_bucket_sql_dynamic()}) AS bucket
        FROM embeddings, params
    ), drops AS (
        SELECT DISTINCT a.vec_id
        FROM sig a JOIN sig b ON a.bucket = b.bucket AND b.vec_id < a.vec_id
        WHERE round((SELECT sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
                     FROM generate_series(1, 64) AS g(i)) /
                    (sqrt((SELECT sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))
                           FROM generate_series(1, 64) AS g(i))) *
                     sqrt((SELECT sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
                           FROM generate_series(1, 64) AS g(i)))), 4) >= 0.3
    )
    SELECT s.label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dropped,
           CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN d.vec_id IS NULL THEN s.vec_id ELSE 0 END)
                AS BIGINT) AS kept_id_checksum
    FROM sig s LEFT JOIN drops d ON s.vec_id = d.vec_id
    GROUP BY s.label
    """


@query("q_semdedup", oracle=_semdedup_oracle())
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication DECISION (SemDeDup shape): drop a vector when
    a LOWER-id bucket-mate is cosine-similar above the threshold, keep the
    id-minimal representative — the greedy per-pair rule (cheap, one
    candidate join), not the transitive-closure clustering
    (``q_dedup_cluster`` covers that).  Reports per-label corpus /
    dropped / kept counts plus a kept-id checksum so the oracle verifies
    the exact keep set, not just its size.

    Scale shape: identical to ``q_knn_graph`` — LSH buckets sized ≈32 by
    the corpus-driven plane count bound the candidate join; the drop set
    is a distinct over candidate pairs (shuffle carries only ids); the
    final anti-join is broadcast-size at any corpus (drops ≤ corpus) or a
    keyed shuffle join at worst.  No all-pairs product anywhere.
    """
    e_raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding")
    planes = _planes_for_corpus(e_raw.count())
    e = e_raw.withColumn("bucket", _lsh_bucket_col(planes))
    a = e.select("bucket", "vec_id", F.col("embedding").alias("emb_a"))
    b = e.select("bucket", F.col("vec_id").alias("nbr_id"),
                 F.col("embedding").alias("emb_b"))
    drops = (
        a.join(b, ["bucket"])
        .filter(F.col("nbr_id") < F.col("vec_id"))
        .filter(F.round(V.cosine(F.col("emb_a"), F.col("emb_b")), 4) >= 0.3)
        .select("vec_id")
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return (
        e.join(drops, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.coalesce("dropped", F.lit(0))).cast("long")
                .alias("n_dropped"),
            F.sum(F.when(F.col("dropped").isNull(), 1).otherwise(0))
                .cast("long").alias("n_kept"),
            F.sum(F.when(F.col("dropped").isNull(), F.col("vec_id"))
                  .otherwise(F.lit(0))).cast("long").alias("kept_id_checksum"),
        )
    )


@query(
    "q_tokenize_apply",
    oracle="""
    WITH vocab AS (
        SELECT word,
               row_number() OVER (ORDER BY count(*) DESC, word) - 1 AS token_id
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        GROUP BY word
        ORDER BY count(*) DESC, word
        LIMIT 512
    ),
    toks AS (
        SELECT d.doc_id, t.i AS pos, t.tok
        FROM documents d,
             LATERAL (SELECT unnest(string_split(d.text, ' ')) AS tok,
                             generate_subscripts(string_split(d.text, ' '), 1) AS i) t
        WHERE d.doc_id % 5 = 0
    ),
    mapped AS (
        SELECT toks.doc_id, toks.pos,
               coalesce(v.token_id, -1) AS tid
        FROM toks LEFT JOIN vocab v ON toks.tok = v.word
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)                        AS n_tokens,
           CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(sum((pos) * (tid + 2)) AS BIGINT)          AS ids_checksum
    FROM mapped GROUP BY doc_id
    """,
)
def q_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary application (tokenization at scale): build a 512-term
    frequency vocabulary over the corpus, then map every 5th document's
    tokens to ids with OOV fallback — the encode step between
    ``q_vocab_topk``/``q_bpe_pairs`` (vocab building) and
    ``q_pack_chunks`` (shard writing).  The checkable face is per-doc
    token/OOV counts plus a position-weighted id checksum, which pins both
    the id assignment AND the token order.

    Scale: the vocabulary is vocabulary-sized (broadcast side of the
    token→id join), documents explode map-side with positions via
    ``posexplode``, and the per-doc aggregation is a keyed sum — the
    shuffle carries (doc, token) rows once.  The global vocab ordering is
    a window over the 512-row TakeOrdered result, never the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("word"))
    top = (words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
           .orderBy(F.desc("n"), "word").limit(512))
    vocab = top.select(
        "word",
        (F.row_number().over(
            Window.orderBy(F.desc("n"), "word")) - 1).alias("token_id"))
    toks = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", F.posexplode(F.split("text", " "))
                .alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    mapped = toks.join(F.broadcast(vocab), toks.tok == vocab.word, "left") \
        .select("doc_id", "pos",
                F.coalesce("token_id", F.lit(-1)).alias("tid"))
    return mapped.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum((F.col("tid") == -1).cast("long")).cast("long").alias("n_oov"),
        F.sum(F.col("pos") * (F.col("tid") + 2)).cast("long")
            .alias("ids_checksum"),
    )


@query(
    "q_dedup_boilerplate",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    gram AS (
        SELECT doc_id,
               array_to_string(list_slice(toks, i + 1, i + 5), ' ') AS g
        FROM t, unnest(range(len(toks) - 4)) AS u(i)
        WHERE len(toks) >= 5
    ),
    freq AS (
        SELECT md5(g)                         AS h,
               CAST(count(*) AS BIGINT)       AS n_occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST((count(*) - 1) * length(min(g)) AS BIGINT) AS dup_bytes
        FROM gram GROUP BY md5(g)
    )
    SELECT h, n_occurrences, n_docs, dup_bytes
    FROM freq
    WHERE n_docs >= 2
    ORDER BY n_occurrences DESC, h
    LIMIT 40
    """,
)
def q_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate mining: the 5-gram phrases that recur across
    >=2 distinct documents, ranked by total occurrences, with the
    removable duplicate byte volume — the "find the cookie banner"
    frequency pass that precedes span removal.

    Distinct from ``q_dedup_segment`` (pairwise span OVERLAP between two
    docs) and ``q_colloc_pmi`` (bigram association): this is corpus-level
    phrase FREQUENCY, the CCNet/RefinedWeb boilerplate-detection shape.

    Scale: map-side gram explosion -> ONE keyed aggregation with map-side
    combine (the shuffle carries one row per distinct gram hash, never per
    occurrence) -> TakeOrdered top-k.  No joins, nothing pairwise.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 5)
    gram = t.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(toks) - 5),"
            " i -> array_join(slice(toks, i + 1, 5), ' '))")).alias("g"),
    )
    freq = (
        gram.groupBy(F.md5("g").alias("h"))
        .agg(
            F.min("g").alias("sample_g"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .withColumn(
            "dup_bytes",
            ((F.col("n_occurrences") - 1) * F.length("sample_g"))
                .cast("long"))
    )
    return (
        freq.filter(F.col("n_docs") >= 2)
        .select("h", "n_occurrences", "n_docs", "dup_bytes")
        .orderBy(F.desc("n_occurrences"), "h")
        .limit(40)
    )


@query(
    "q_langid_confusion",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('the', 'a', 'of')))    AS c_en,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('der', 'die', 'das'))) AS c_de,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('le', 'la', 'les')))   AS c_fr,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('el', 'los', 'una')))  AS c_es,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('de5', 'shi4', 'le5'))) AS c_zh
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE WHEN greatest(c_en, c_de, c_fr, c_es, c_zh) = 0 THEN 'und'
                    WHEN c_en = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'en'
                    WHEN c_de = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'de'
                    WHEN c_fr = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'fr'
                    WHEN c_es = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'es'
                    ELSE 'zh' END AS detected_lang
        FROM scored
    )
    SELECT lang, detected_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN lang = detected_lang THEN 1 ELSE 0 END)
                AS BIGINT)          AS n_correct
    FROM pred
    GROUP BY lang, detected_lang
    """,
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix: labeled language × detected
    language with per-cell counts — the quality report run whenever a
    heuristic gate (here ``q_text_language_id``'s marker-word detector)
    decides what data survives.  Diagonal cells carry ``n_correct`` =
    ``n_docs``, so per-language accuracy falls out by aggregation.

    Scale: one map-side scoring pass (JVM list HOFs) + one keyed
    aggregation over (label, prediction) — cells are
    ``|langs|²``-bounded, never corpus-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", TX.language_id(F.col("text")).alias("detected_lang"))
        .groupBy("lang", "detected_lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("lang") == F.col("detected_lang")).cast("long"))
                .cast("long").alias("n_correct"),
        )
    )


@query(
    "q_embedding_drift",
    oracle="""
    WITH dims AS (
        SELECT label, vec_id % 2 AS half,
               d.i - 1 AS dim, CAST(d.x AS DOUBLE) AS x
        FROM embeddings,
             LATERAL (SELECT unnest(embedding) AS x,
                             generate_subscripts(embedding, 1) AS i) d
    ),
    cent AS (
        SELECT label, half, dim,
               sum(x) / count(*) AS m, count(*) AS n
        FROM dims GROUP BY label, half, dim
    ),
    paired AS (
        SELECT a.label, a.dim, a.m AS m0, b.m AS m1,
               a.n AS n0, b.n AS n1
        FROM cent a JOIN cent b
          ON a.label = b.label AND a.dim = b.dim
         AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           CAST(max(n0) AS BIGINT) AS n_half0,
           CAST(max(n1) AS BIGINT) AS n_half1,
           round(sqrt(sum((m0 - m1) * (m0 - m1))), 4) AS centroid_shift
    FROM paired GROUP BY label
    """,
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-drift monitor for embedding spaces: per label, the L2
    distance between the centroids of two dataset halves (even vs odd
    vec_id — standing in for yesterday's batch vs today's).  A shift far
    above the sampling noise floor flags upstream distribution change
    before it poisons training.

    Scale: explode to (label, half, dim) cells → ONE keyed mean
    aggregation (cells = labels × 2 × dims, tiny) → self-join of the two
    half-centroid tables → per-label distance.  The fact-scale work is the
    single map-side-combined aggregation; everything after is
    centroid-table-sized.
    """
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    cent = dims.groupBy("label", "half", "dim").agg(
        (F.sum("x") / F.count(F.lit(1))).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "dim", F.col("m").alias("m0"), F.col("n").alias("n0"))
    b = cent.filter(F.col("half") == 1).select(
        "label", "dim", F.col("m").alias("m1"), F.col("n").alias("n1"))
    return (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.max("n0").cast("long").alias("n_half0"),
            F.max("n1").cast("long").alias("n_half1"),
            F.round(F.sqrt(F.sum(
                (F.col("m0") - F.col("m1")) * (F.col("m0") - F.col("m1")))), 4)
                .alias("centroid_shift"),
        )
    )


@query(
    "q_ngram_novelty",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE doc_id % 6 = 0
    ),
    gram AS (
        SELECT doc_id,
               array_to_string(list_slice(toks, i + 1, i + 5), ' ') AS g
        FROM t, unnest(range(len(toks) - 4)) AS u(i)
        WHERE len(toks) >= 5
    ),
    firsts AS (
        SELECT g, min(doc_id) AS first_doc FROM gram GROUP BY g
    )
    SELECT gram.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = gram.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN f.first_doc = gram.doc_id
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS novelty
    FROM gram JOIN firsts f USING (g)
    GROUP BY gram.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty scoring: the fraction of a doc's 5-grams whose
    FIRST corpus occurrence (by doc_id order) is in that doc — the
    freshness signal dedup pipelines use to rank near-duplicates for
    retention (keep the doc that introduced the content).

    Scale: gram explosion is map-side; the first-occurrence table is one
    keyed min-aggregation (shuffle = distinct grams); the join back is
    gram-keyed.  Nothing pairwise, no windows over the corpus.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 0)
    toks = F.split("text", " ")
    t = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 5)
    gram = t.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(toks) - 5),"
            " i -> array_join(slice(toks, i + 1, 5), ' '))")).alias("g"),
    )
    firsts = gram.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return (
        gram.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(novel).cast("long").alias("n_novel"),
            F.round(F.sum(novel).cast("double") / F.count(F.lit(1)), 6)
                .alias("novelty"),
        )
    )


@query(
    "q_sample_topk_stratum",
    oracle="""
    WITH ranked AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)     AS n_sampled,
           CAST(sum(doc_id) AS BIGINT)  AS id_checksum,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM ranked WHERE rn <= 20
    GROUP BY lang
    """,
)
def q_sample_topk_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-N stratified sampling: EXACTLY 20 documents per language
    (fewer only if the stratum is smaller), chosen by content-stable
    md5-priority order — the fixed-budget eval-set draw, complementing
    rate-based ``q_sample_stratified`` (which hits N only in expectation).

    Scale: one per-stratum window over md5 priority — each language's rows
    sort within their own partition (strata are the parallelism unit; a
    whale stratum would switch to the two-stage per-partition-heap top-k
    of ``q_sample_weighted``).  The id checksum pins WHICH rows were
    picked, not just how many.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


@query(
    "q_lang_temperature_weights",
    oracle="""
    WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
        GROUP BY lang
    ),
    tot AS (SELECT sum(n) AS total FROM counts)
    SELECT lang, n,
           round(CAST(n AS DOUBLE) / t.total, 6)       AS p,
           round(sqrt(CAST(n AS DOUBLE) / t.total), 6) AS w_alpha_half,
           round(sqrt(CAST(n AS DOUBLE) / t.total)
                 / (SELECT sum(sqrt(CAST(c.n AS DOUBLE) / t2.total))
                    FROM counts c, tot t2), 6)         AS q_resampled
    FROM counts, tot t
    """,
)
def q_lang_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language balancing (α = 0.5): per-language sampling
    weights ``w ∝ p^α`` and the resulting resampled distribution — the
    multilingual-mixture table that up-weights low-resource languages
    without flattening the head.  ``sqrt`` is IEEE-correctly-rounded, so
    the weights are bit-identical across engines before the 6dp rounding.

    Scale: a language-cardinality aggregation plus scalar normalizers —
    everything after the one corpus pass is a broadcast-sized table.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    withp = counts.crossJoin(F.broadcast(tot)).withColumn(
        "praw", F.col("n").cast("double") / F.col("total"))
    z = withp.agg(F.sum(F.sqrt("praw")).alias("z"))
    return (
        withp.crossJoin(F.broadcast(z))
        .select(
            "lang",
            F.col("n").cast("long").alias("n"),
            F.round("praw", 6).alias("p"),
            F.round(F.sqrt("praw"), 6).alias("w_alpha_half"),
            F.round(F.sqrt("praw") / F.col("z"), 6).alias("q_resampled"),
        )
    )


@query(
    "q_text_bm25",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    wtf AS (
        SELECT doc_id, len(t) AS dl,
               len(list_filter(t, x -> x = 'spark'))  AS tf0,
               len(list_filter(t, x -> x = 'merge'))  AS tf1,
               len(list_filter(t, x -> x = 'window')) AS tf2
        FROM toks
    ),
    stats AS (
        SELECT count(*) AS n, avg(dl) AS avgdl,
               sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
               sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
               sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        FROM wtf
    ),
    scored AS (
        SELECT doc_id,
               round(
                 ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0)
                   * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0)
                   * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0)
                   * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               , 4) AS bm25
        FROM wtf, stats
    )
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-20 retrieval for the query terms
    {spark, merge, window} — the lexical-ranking face of corpus search
    (and the retrieval scorer used to mine training data for a topic).

    Scale: one scan computes per-document term frequencies with JVM array
    HOFs (no tokenizer UDF); the corpus statistics (N, avgdl, per-term df)
    reduce to ONE 1-row aggregate that is broadcast back — so scoring is a
    map-side expression over the scan, and the top-20 resolves via
    TakeOrderedAndProject (per-partition heads, no global sort).  Scoring a
    100 TB corpus is two passes, both full-parallel, shuffling only the
    1-row stats and the k winners.  Ordering is deterministic cross-engine:
    rounded score, then doc_id.
    """
    terms = ["spark", "merge", "window"]
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))

    def tf_col(i: int, term: str):
        # NB: the HOF lambda must take exactly ONE arg — a second default
        # arg would be bound to F.filter's (element, index) index column.
        return F.size(
            F.filter(F.col("t"), lambda x: x == F.lit(term))
        ).alias(f"tf{i}")

    wtf = toks.select(
        "doc_id",
        F.size("t").alias("dl"),
        *[tf_col(i, t) for i, t in enumerate(terms)],
    )
    stats = wtf.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf{i}") > 0).cast("int")).alias(f"df{i}")
          for i in range(len(terms))],
    )
    def term_score(i: int):
        tf = F.col(f"tf{i}")
        df = F.col(f"df{i}")
        idf = F.log((F.col("n") - df + 0.5) / (df + 0.5) + 1.0)
        return idf * (tf * 2.2) / (
            tf + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))

    scored = wtf.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.round(sum((term_score(i) for i in range(1, len(terms))),
                    term_score(0)), 4).alias("bm25"),
    )
    return scored.orderBy(F.desc("bm25"), "doc_id").limit(20)


@query(
    "q_sample_reservoir",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
        ORDER BY h, doc_id LIMIT 50
    )
    SELECT CAST(count(*) AS BIGINT)      AS n_sampled,
           CAST(sum(doc_id) AS BIGINT)   AS id_checksum,
           round(avg(n_chars), 4)        AS avg_chars,
           max(h)                        AS hash_watermark
    FROM ranked
    """,
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed reservoir sampling, determinized: a uniform-without-
    replacement k-sample as the k smallest md5(row-identity) values — the
    order statistics of a uniform hash ARE a reservoir sample, but unlike
    the classic streaming algorithm the result is independent of arrival
    order, partitioning, and engine (any system computing the same hash
    draws the same sample).  hash_watermark is the k-th order statistic —
    equal watermarks prove equal samples, and it is exactly the admission
    threshold an INCREMENTAL resample would use on new data.

    Scale: per-partition top-k heaps merged on one reducer
    (TakeOrderedAndProject) — k rows cross the wire per partition, never
    the corpus; no RNG state, no sequential scan dependency.
    """
    d = load_table(spark, sf_dir, "documents")
    ranked = d.select(
        "doc_id", "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    sample = ranked.orderBy("h", "doc_id").limit(50)
    return sample.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.max("h").alias("hash_watermark"),
    )


@query(
    "q_dedup_containment",
    oracle=f"""
    WITH {_JACCARD_EDGE_CTES.strip()},
    joined AS (
        SELECT doc_a, doc_b, n_common, sa.n_sh AS na, sb.n_sh AS nb
        FROM pair_inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    ),
    directed AS (
        SELECT doc_a AS src_doc, doc_b AS dst_doc,
               CAST(n_common AS DOUBLE) / na AS cont
        FROM joined
        UNION ALL
        SELECT doc_b, doc_a, CAST(n_common AS DOUBLE) / nb
        FROM joined
    )
    SELECT CAST(src_doc AS BIGINT) AS src_doc,
           CAST(dst_doc AS BIGINT) AS dst_doc,
           round(cont, 4)          AS containment
    FROM directed WHERE cont >= 0.5
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: C(A→B) = |A∩B| / |A| over 3-gram
    shingle sets — catches a short document swallowed by a longer one
    (quotes, boilerplate supersets, excerpt pages), which symmetric Jaccard
    under-scores when sizes differ.  Emits both directions of each
    candidate pair at containment ≥ 0.5.

    Scale: identical inverted-shingle-index shape as
    ``q_dedup_ngram_jaccard`` (candidates only from shared surviving
    shingles, stop-shingles df-capped before the join — never all-pairs);
    the direction expansion is a post-join union of two projections, no
    extra shuffle.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    sh0 = _shingles(d, 3).cache()
    hot = (
        sh0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _SHINGLE_DF_CAP)
        .select("shingle")
    )
    sh = sh0.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    joined = (
        inter
        .join(sizes.select(F.col("doc_id").alias("doc_a"),
                           F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n_sh").alias("nb")), "doc_b")
    )
    directed = joined.select(
        F.col("doc_a").alias("src_doc"), F.col("doc_b").alias("dst_doc"),
        (F.col("n_common") / F.col("na")).alias("cont"),
    ).unionByName(joined.select(
        F.col("doc_b").alias("src_doc"), F.col("doc_a").alias("dst_doc"),
        (F.col("n_common") / F.col("nb")).alias("cont"),
    ))
    return directed.filter(F.col("cont") >= 0.5).select(
        F.col("src_doc").cast("long"),
        F.col("dst_doc").cast("long"),
        F.round("cont", 4).alias("containment"),
    )


#: Lloyd refinement passes applied to the PQ codebooks (both the plain
#: PQ report and the IVF-PQ residual codebooks).  One pass is the
#: documented guarantee (assignment-mean step never increases
#: distortion); the property test compares 0 vs 1 pass directly.
_PQ_LLOYD_PASSES = 1


def _pq_subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim-exploded milli-unit integer sub-vectors: one row per
    (vec_id, subspace, dim) with integer component ``x``."""
    em = load_table(spark, sf_dir, "embeddings")
    ex = em.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id", "dim",
        F.round(F.col("v").cast("double") * 1000).cast("long").alias("x"),
    )
    return ex.select(
        "vec_id", F.expr("dim div 16").cast("int").alias("s"), "dim", "x")


def _pq_assign(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest-code assignment per (vec_id, subspace): exact integer
    squared L2 against the broadcast codebook, tie -> lower code.
    Returns (vec_id, s, code, d2)."""
    dist = (
        sub.join(F.broadcast(cb),
                 (F.col("cs") == F.col("s")) & (F.col("cdim") == F.col("dim")))
        .groupBy("vec_id", "s", "code")
        .agg(F.sum((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx")))
             .cast("long").alias("d2"))
    )
    w = Window.partitionBy("vec_id", "s").orderBy("d2", "code")
    return dist.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1).drop("rn")


def _pq_lloyd(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """One exact-integer Lloyd pass: assign every sub-vector to the
    given codebook, then recompute each code as the per-dim ROUNDED
    integer mean of its assigned sub-vectors (the coarse-quantizer
    training step of ``q_ann_ivf``, applied per subspace).  Codes that
    attract no sub-vectors drop out — standard empty-cluster removal."""
    best = _pq_assign(sub, cb)
    return (
        sub.join(best.select("vec_id", "s", "code"), ["vec_id", "s"])
        .groupBy("code", F.col("s").alias("cs"), F.col("dim").alias("cdim"))
        .agg(F.round(F.sum("x").cast("double") / F.count(F.lit(1)), 0)
             .cast("long").alias("cx"))
    )


def _pq_trained_codebook(spark: SparkSession, sf_dir: str,
                         lloyd_passes: int) -> tuple[DataFrame, DataFrame]:
    """Dim-exploded sub-vectors + the whole-vector PQ codebook (seeded
    from vec_id < 4, then ``lloyd_passes`` exact-integer refinements) —
    factored from the occupancy report so the recall report searches
    with the SAME trained codebook ``q_ann_pq`` publishes.  Returns
    ``(sub, cb)``; ``cb`` is localCheckpoint'd when trained."""
    sub = _pq_subvectors(spark, sf_dir)
    cb = (sub.filter(F.col("vec_id") < 4)
          .select(F.col("vec_id").alias("code"),
                  F.col("s").alias("cs"), F.col("dim").alias("cdim"),
                  F.col("x").alias("cx")))
    for _ in range(lloyd_passes):
        cb = _pq_lloyd(sub, cb)
    if lloyd_passes:
        # Materialize the TRAINED codebook (tiny: codes x dims rows)
        # before the final assignment — each _pq_lloyd pass embeds a
        # full _pq_assign, so without this the final assign replays the
        # whole training chain (cost linear in pass count; VERDICT r8).
        # Same eager-checkpoint pattern as q_bpe_train_n's rule table.
        cb = cb.localCheckpoint()
    return sub, cb


def _pq_report(spark: SparkSession, sf_dir: str,
               lloyd_passes: int) -> DataFrame:
    """PQ occupancy/distortion report with a configurable number of
    Lloyd passes over the seed codebook (0 = raw seeding — kept callable
    so the property test can show training reduces distortion)."""
    sub, cb = _pq_trained_codebook(spark, sf_dir, lloyd_passes)
    best = _pq_assign(sub, cb)
    return best.groupBy(
        F.col("s").alias("subspace"), F.col("code").cast("long").alias("code")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        F.sum("d2").cast("long").alias("distortion_sum"),
    )


def _pq_ctes(p: str = "") -> str:
    """Composable CTE chain of the whole-vector PQ pipeline with the
    Lloyd-training chain GENERATED from ``_PQ_LLOYD_PASSES`` (one assign
    + rounded-mean block per pass — ADVICE r8: bumping the constant
    keeps both engines in lockstep), every CTE name prefixed with ``p``
    (VERDICT r11 item 3).  Ends at ``{p}penc`` — the corpus's nearest
    trained code per (vec_id, subspace) with its quantization error —
    which both the occupancy report and the recall report's ADC search
    consume.  The trained codebook ``{p}cbf`` and ``{p}penc`` are
    MATERIALIZED (multi-consumer CTEs re-inline otherwise)."""
    train = ""
    for i in range(_PQ_LLOYD_PASSES):
        prev = f"{p}cb{i}"
        nxt = (f"{p}cbf AS MATERIALIZED" if i == _PQ_LLOYD_PASSES - 1
               else f"{p}cb{i + 1} AS")
        train += f"""{p}dist{i} AS (
        SELECT a.vec_id, a.s, c.code,
               CAST(sum((a.x - c.x) * (a.x - c.x)) AS BIGINT) AS d2
        FROM {p}sub a JOIN {prev} c ON c.s = a.s AND c.dim = a.dim
        GROUP BY a.vec_id, a.s, c.code
    ),
    {p}best{i} AS (
        SELECT vec_id, s, code FROM (
            SELECT vec_id, s, code,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2, code) AS rn
            FROM {p}dist{i}
        ) WHERE rn = 1
    ),
    {nxt} (
        SELECT b.code, a.s, a.dim,
               CAST(round(CAST(sum(a.x) AS DOUBLE) / count(*), 0)
                    AS BIGINT) AS x
        FROM {p}sub a JOIN {p}best{i} b
          ON b.vec_id = a.vec_id AND b.s = a.s
        GROUP BY b.code, a.s, a.dim
    ),
    """
    if _PQ_LLOYD_PASSES == 0:
        train = (f"{p}cbf AS MATERIALIZED "
                 f"(SELECT code, s, dim, x FROM {p}cb0),\n    ")
    return f"""{p}ex AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000)
                    AS BIGINT) AS x
        FROM embeddings
    ),
    {p}sub AS (SELECT vec_id, dim // 16 AS s, dim, x FROM {p}ex),
    {p}cb0 AS (SELECT vec_id AS code, s, dim, x FROM {p}sub
               WHERE vec_id < 4),
    {train}{p}dist AS (
        SELECT a.vec_id, a.s, c.code,
               CAST(sum((a.x - c.x) * (a.x - c.x)) AS BIGINT) AS d2
        FROM {p}sub a JOIN {p}cbf c ON c.s = a.s AND c.dim = a.dim
        GROUP BY a.vec_id, a.s, c.code
    ),
    {p}penc AS MATERIALIZED (
        SELECT vec_id, s, code, d2 FROM (
            SELECT vec_id, s, code, d2,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2, code) AS rn
            FROM {p}dist
        ) WHERE rn = 1
    )"""


def _pq_oracle() -> str:
    """DuckDB twin of ``q_ann_pq``: the composable PQ chain plus the
    per-(subspace, code) occupancy/distortion rollup."""
    return f"""
    WITH {_pq_ctes()}
    SELECT CAST(s AS INT)             AS subspace,
           CAST(code AS BIGINT)       AS code,
           CAST(count(*) AS BIGINT)   AS n_assigned,
           CAST(sum(d2) AS BIGINT)    AS distortion_sum
    FROM penc
    GROUP BY s, code
    """


@query("q_ann_pq", oracle=_pq_oracle())
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (PQ) codebook training + assignment — the
    third classic ANN index family beside LSH (``q_ann_lsh``) and IVF
    (``q_ann_ivf``): vectors split into 4 subspaces of 16 dims; the
    codebook seeds from the first 4 vectors' sub-vectors and is then
    LLOYD-TRAINED (``_PQ_LLOYD_PASSES`` exact-integer assign->mean
    passes — VERDICT r6 item 3; the seed-only stage remains callable via
    ``_pq_report(..., 0)`` for the distortion-improvement property
    test).  Each sub-vector snaps to its nearest trained code; emits the
    per-(subspace, code) occupancy and total squared distortion — the
    compression-quality report that decides codebook size.

    Determinism: milli-unit integer sub-vectors make every distance an
    exact integer; assignment ties break toward the lower code; the mean
    step rounds to integers BEFORE re-assignment, so DuckDB replays the
    trained codebook bit-identically.

    Scale: each Lloyd pass and the final assignment are rows × k-codes
    per subspace — the standard PQ cost, linear in corpus size with a
    broadcastable codebook; the mean step reduces map-side per
    (code, subspace, dim); distortion reduces map-side per
    (subspace, code).
    """
    return _pq_report(spark, sf_dir, _PQ_LLOYD_PASSES)


# ---------------------------------------------------------------------------
# Composed IVF-PQ search (VERDICT r5 item 3): coarse quantizer -> residual
# PQ codes -> nprobe probe -> ADC ranking -> exact rerank, end to end.
# ---------------------------------------------------------------------------

_IVFPQ_K = 8          # coarse centroids (seed-stage; Lloyd refinement is
                      # proven separately in q_ann_ivf and drops in here)
_IVFPQ_NPROBE = 3     # lists scanned per probe
_IVFPQ_NSUB = 4       # PQ subspaces (64 dims -> 4 x 16)
_IVFPQ_SUBDIM = 16
_IVFPQ_NCODE = 16     # codes per subspace codebook
#: PQ codebooks seed from vectors OUTSIDE the coarse-centroid set
#: (vec_ids K..K+NCODE-1): a centroid's own residual is the zero vector,
#: so seeding from vec_ids < NCODE (all of which are centroids when
#: NCODE <= K) would yield an all-zero codebook and a no-op ADC stage.
_IVFPQ_CODE_LO = _IVFPQ_K
_IVFPQ_CODE_HI = _IVFPQ_K + _IVFPQ_NCODE
_IVFPQ_SHORT = 16     # ADC shortlist handed to exact rerank
_IVFPQ_TOPK = 3


def _il2(a: "F.Column", b: "F.Column") -> "F.Column":
    """Exact integer squared L2 of two equal-length long arrays — JVM
    HOFs only (zip_with + aggregate), order-independent integer adds."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, v: acc + v)


def _ivfpq_l2_sql(a: str, b: str, n: int) -> str:
    """DuckDB exact integer squared L2 of two ``n``-dim BIGINT lists."""
    return (f"list_reduce(list_transform(range(1, {n + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), "
            f"(x, y) -> x + y)")


def _ivfpq_ctes(p: str = "") -> str:
    """Composable CTE chain of the full IVF-PQ pipeline up to the exact
    rerank input ``{p}rer`` (coarse train → residual encode → probe →
    ADC → shortlist), every CTE name prefixed with ``p`` (VERDICT r11
    item 3).  Milli-unit integer vectors make every distance an exact
    BIGINT, so assignment argmins, ADC ranking, and the exact rerank are
    bit-identical across engines.  Multi-consumer CTEs (trained
    centroids, residual sub-vectors, trained codebook, ADC table) are
    MATERIALIZED — DuckDB re-inlines plain CTEs per consumer."""
    l2 = _ivfpq_l2_sql
    sub = _IVFPQ_SUBDIM
    # Lloyd-training CTE chain for the residual PQ codebooks (one
    # assign + rounded-integer-mean block per pass, mirroring the Spark
    # loop); the final pass is named plain `{p}codebook`, which the
    # enc/adc CTEs below consume unchanged.
    pq_train = ""
    for i in range(_PQ_LLOYD_PASSES):
        prev = f"{p}codebook{i}"
        nxt = (f"{p}codebook AS MATERIALIZED"
               if i == _PQ_LLOYD_PASSES - 1
               else f"{p}codebook{i + 1} AS")
        pq_train += f"""{p}asg{i} AS (
        SELECT s, code, rsub FROM (
            SELECT a.s, c.code, a.rsub,
                   row_number() OVER (PARTITION BY a.vec_id, a.s
                       ORDER BY {l2('a.rsub', 'c.cvec', sub)}, c.code) AS rn
            FROM {p}cand_sub a JOIN {prev} c ON c.s = a.s
        ) WHERE rn = 1
    ), {nxt} (
        SELECT s, code, list(m ORDER BY d) AS cvec FROM (
            SELECT s, code, g.d AS d,
                   CAST(round(CAST(sum(rsub[g.d + 1]) AS DOUBLE)
                              / count(*), 0) AS BIGINT) AS m
            FROM {p}asg{i} CROSS JOIN generate_series(0, {sub - 1}) AS g(d)
            GROUP BY s, code, g.d
        ) GROUP BY s, code
    ), """
    if _PQ_LLOYD_PASSES == 0:
        pq_train = f"""{p}codebook AS MATERIALIZED (
        SELECT s, code, cvec FROM {p}codebook0
    ), """
    return f"""{p}iv AS (
        SELECT vec_id, list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS iemb
        FROM embeddings
    ), {p}cents0 AS (
        SELECT vec_id AS centroid_id, iemb AS cent FROM {p}iv
        WHERE vec_id < {_IVFPQ_K}
    ), {p}assign0 AS (
        SELECT vec_id, iemb, centroid_id FROM (
            SELECT v.vec_id, v.iemb, c.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {l2('v.iemb', 'c.cent', 64)}, c.centroid_id) AS rn
            FROM {p}iv v CROSS JOIN {p}cents0 c
        ) WHERE rn = 1
    ), {p}cents AS MATERIALIZED (
        SELECT centroid_id, list(m ORDER BY d) AS cent FROM (
            SELECT centroid_id, g.d AS d,
                   CAST(round(CAST(sum(iemb[g.d + 1]) AS DOUBLE) / count(*), 0)
                        AS BIGINT) AS m
            FROM {p}assign0 CROSS JOIN generate_series(0, 63) AS g(d)
            GROUP BY centroid_id, g.d
        ) GROUP BY centroid_id
    ), {p}lists AS (
        SELECT vec_id, iemb, centroid_id,
               list_transform(range(1, 65), i -> iemb[i] - cent[i]) AS res
        FROM (
            SELECT v.vec_id, v.iemb, c.centroid_id, c.cent,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {l2('v.iemb', 'c.cent', 64)}, c.centroid_id) AS rn
            FROM {p}iv v CROSS JOIN {p}cents c
        ) WHERE rn = 1
    ), {p}cand_sub AS MATERIALIZED (
        SELECT vec_id, centroid_id, g.s AS s,
               list_slice(res, g.s * {sub} + 1, g.s * {sub} + {sub}) AS rsub
        FROM {p}lists CROSS JOIN generate_series(0, {_IVFPQ_NSUB - 1}) AS g(s)
    ), {p}codebook0 AS (
        SELECT vec_id - {_IVFPQ_CODE_LO} AS code, s, rsub AS cvec
        FROM {p}cand_sub
        WHERE vec_id >= {_IVFPQ_CODE_LO} AND vec_id < {_IVFPQ_CODE_HI}
    ), {pq_train} {p}enc AS (
        SELECT vec_id, centroid_id, s, code FROM (
            SELECT a.vec_id, a.centroid_id, a.s, c.code,
                   row_number() OVER (PARTITION BY a.vec_id, a.s
                       ORDER BY {l2('a.rsub', 'c.cvec', sub)}, c.code) AS rn
            FROM {p}cand_sub a JOIN {p}codebook c ON c.s = a.s
        ) WHERE rn = 1
    ), {p}probes AS (
        SELECT vec_id AS probe_id, iemb AS piemb FROM {p}iv
        WHERE vec_id IN (0, 1, 2)
    ), {p}probed AS (
        SELECT probe_id, centroid_id, piemb, cent FROM (
            SELECT pr.probe_id, c.centroid_id, pr.piemb, c.cent,
                   row_number() OVER (PARTITION BY pr.probe_id
                       ORDER BY {l2('pr.piemb', 'c.cent', 64)}, c.centroid_id) AS rn
            FROM {p}probes pr CROSS JOIN {p}cents c
        ) WHERE rn <= {_IVFPQ_NPROBE}
    ), {p}probe_sub AS (
        SELECT probe_id, centroid_id, g.s AS s,
               list_slice(list_transform(range(1, 65), i -> piemb[i] - cent[i]),
                          g.s * {sub} + 1, g.s * {sub} + {sub}) AS prsub
        FROM {p}probed CROSS JOIN generate_series(0, {_IVFPQ_NSUB - 1}) AS g(s)
    ), {p}adc AS MATERIALIZED (
        SELECT ps.probe_id, e.vec_id,
               CAST(sum({l2('ps.prsub', 'cb.cvec', sub)}) AS BIGINT) AS approx_d2
        FROM {p}enc e
        JOIN {p}probe_sub ps ON ps.centroid_id = e.centroid_id AND ps.s = e.s
        JOIN {p}codebook cb ON cb.s = e.s AND cb.code = e.code
        WHERE e.vec_id <> ps.probe_id
        GROUP BY ps.probe_id, e.vec_id
    ), {p}short AS (
        SELECT probe_id, vec_id, approx_d2 FROM (
            SELECT probe_id, vec_id, approx_d2,
                   row_number() OVER (PARTITION BY probe_id
                       ORDER BY approx_d2, vec_id) AS srn
            FROM {p}adc
        ) WHERE srn <= {_IVFPQ_SHORT}
    ), {p}rer AS (
        SELECT sh.probe_id, sh.vec_id, sh.approx_d2,
               {l2('v.iemb', 'pr.piemb', 64)} AS exact_d2
        FROM {p}short sh
        JOIN {p}iv v ON v.vec_id = sh.vec_id
        JOIN {p}probes pr ON pr.probe_id = sh.probe_id
    )"""


def _ivfpq_oracle() -> str:
    """DuckDB twin of the full IVF-PQ pipeline: the composable chain
    plus q_ann_ivfpq's exact-rerank top-k."""
    return f"""
    WITH {_ivfpq_ctes()}
    SELECT CAST(probe_id AS BIGINT)  AS probe_id,
           CAST(vec_id AS BIGINT)    AS vec_id,
           CAST(approx_d2 AS BIGINT) AS approx_d2,
           CAST(exact_d2 AS BIGINT)  AS exact_d2,
           CAST(rn AS BIGINT)        AS rn
    FROM (
        SELECT probe_id, vec_id, approx_d2, exact_d2,
               row_number() OVER (PARTITION BY probe_id
                   ORDER BY exact_d2, vec_id) AS rn
        FROM rer
    ) WHERE rn <= {_IVFPQ_TOPK}
    """


@query("q_ann_ivfpq", oracle=_ivfpq_oracle())
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IVF-PQ approximate nearest-neighbor search — the
    composition VERDICT r5 named as the flagship 100 TB vector-store
    shape: ``q_ann_ivf``'s coarse quantizer chained into ``q_ann_pq``'s
    product codes, searched with asymmetric distance and an exact rerank.

    Pipeline (all in milli-unit integers so the DuckDB oracle replays it
    exactly): (0) refine the K=8 seed
    centroids with one exact-integer Lloyd pass (assign -> per-dim rounded
    mean — ``q_ann_ivf``'s training step composed in); (1) coarse-assign
    every vector to its nearest TRAINED centroid (integer squared-L2
    argmin, tie -> lower id); (2) encode the
    RESIDUAL vector — x minus its centroid, the true IVF-PQ construction,
    which is what lets a handful of codes per subspace describe a
    corpus: residuals cluster near zero — as 4 subspace codes against
    per-subspace 16-code LLOYD-TRAINED codebooks (seeded from
    out-of-centroid residuals, then ``_PQ_LLOYD_PASSES`` exact-integer
    assign->mean passes — VERDICT r6 item 3);
    (3) each probe scans only its nprobe=3 nearest lists and
    ranks candidates by ADC (asymmetric distance: probe residual vs the
    candidate's reconstructed code vector, summed over subspaces); (4) the
    top-16 ADC shortlist is reranked by EXACT integer distance and the
    top-3 returned with both distances, so the output exposes the
    approximation error the index trades for speed.

    Codebooks seed from the residuals of vectors K..K+15 — deliberately
    not the SEED vectors themselves, whose residuals before refinement
    are zero (after one Lloyd pass no vector's residual is exactly zero,
    but the out-of-seed choice keeps the codebook honest at any
    refinement depth).  Both the coarse quantizer and the PQ codebooks
    then train with the identical exact-integer Lloyd step; the
    property test in tests/test_llm_ops.py shows the trained codebooks
    strictly reduce total quantization distortion vs the raw seeds.

    Scale: centroids (8 rows), codebooks (64 rows), and probe residuals
    (probes x nprobe x 4 rows) all broadcast; the per-vector work is one
    K-way argmin + 4 codebook argmins (linear scans with broadcast
    tables); search touches ~nprobe/K of the corpus and the ADC join is
    equi-keyed on (centroid_id, subspace) — at 100 TB the inverted lists
    would be the partition key, and the rerank reads only
    shortlist-many full vectors per probe.  No all-pairs anywhere.
    """
    iv, cents, cand_sub, codebook, enc = _ivfpq_encode(
        spark, sf_dir, _PQ_LLOYD_PASSES)
    return _ivfpq_search(iv, cents, codebook, enc.drop("cd2"))


def _ann_recall_report_oracle() -> str:
    """DuckDB twin of ``q_ann_recall_report``: one CTE chain per
    method's candidate set — the LSH family from
    :func:`_ann_sig_probe_ctes`, the trained methods grafted in via the
    prefixed composable builders (:func:`_ivf_ctes` / :func:`_pq_ctes` /
    :func:`_ivfpq_ctes` — VERDICT r11 item 3) — brute-force top-3 as
    ground truth, per-(method, probe) candidate count + hit count."""
    cos = """
               (SELECT sum(CAST(p.probe_emb[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE))
                FROM generate_series(1, 64) AS g(i)) /
               (sqrt((SELECT sum(CAST(p.probe_emb[i] AS DOUBLE) * CAST(p.probe_emb[i] AS DOUBLE))
                      FROM generate_series(1, 64) AS g(i))) *
                sqrt((SELECT sum(CAST(s.embedding[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE))
                      FROM generate_series(1, 64) AS g(i)))) AS cos_sim"""
    per_method = []
    selects = []
    # (method, candidate CTE, per-method ranking rule for its top-3)
    methods = (
        ("brute", "brute", "round(cos_sim, 6) DESC, vec_id"),
        ("lsh", "lshc", "round(cos_sim, 6) DESC, vec_id"),
        ("lsh_multiprobe", "multic", "round(cos_sim, 6) DESC, vec_id"),
        ("ivf", "ivfc", "sim DESC, vec_id"),
        ("pq", "pqadc", "approx_d2, vec_id"),
        ("ivfpq", "iqreri", "exact_d2, vec_id"),
    )
    for m, src, order in methods:
        per_method.append(f""", {m}_top AS (
        SELECT probe_id, vec_id FROM (
            SELECT probe_id, vec_id,
                   row_number() OVER (PARTITION BY probe_id
                       ORDER BY {order}) AS rn
            FROM {src}
        ) WHERE rn <= 3
    ), {m}_cnt AS (
        SELECT probe_id, CAST(count(*) AS BIGINT) AS n_candidates
        FROM {'iq_adc' if m == 'ivfpq' else src} GROUP BY probe_id
    ), {m}_hit AS (
        SELECT t.probe_id, CAST(count(*) AS BIGINT) AS hits
        FROM {m}_top t JOIN truth u USING (probe_id, vec_id)
        GROUP BY t.probe_id
    )""")
        selects.append(f"""
    SELECT '{m}' AS method, CAST(c.probe_id AS BIGINT) AS probe_id,
           c.n_candidates, coalesce(h.hits, 0) AS hits
    FROM {m}_cnt c LEFT JOIN {m}_hit h USING (probe_id)""")
    return f"""
    WITH {_ann_sig_probe_ctes(8)}, brute AS (
        SELECT p.probe_id, s.vec_id,{cos}
        FROM sig s CROSS JOIN probes p
        WHERE s.vec_id <> p.probe_id
    ), lshc AS (
        SELECT p.probe_id, s.vec_id,{cos}
        FROM sig s JOIN probes p
          ON s.bucket = p.bucket AND s.vec_id <> p.probe_id
    ), multic AS (
        SELECT p.probe_id, s.vec_id,{cos}
        FROM sig s JOIN pb p
          ON s.bucket = p.bucket AND s.vec_id <> p.probe_id
    ), truth AS MATERIALIZED (
        SELECT probe_id, vec_id FROM (
            SELECT probe_id, vec_id,
                   row_number() OVER (PARTITION BY probe_id
                       ORDER BY round(cos_sim, 6) DESC, vec_id) AS rn
            FROM brute
        ) WHERE rn <= 3
    ), {_ivf_ctes('ivf_')}, ivfc AS MATERIALIZED (
        SELECT pl.probe_id, l.vec_id,
               {_ivf_cos_sql('pl.piemb', 'l.iemb')} AS sim
        FROM ivf_probe_lists pl
        JOIN ivf_lists l ON pl.centroid_id = l.centroid_id
                        AND l.vec_id <> pl.probe_id
    ), {_pq_ctes('pq_')}, pq_lut AS (
        SELECT q.vec_id AS probe_id, c.s, c.code,
               CAST(sum((q.x - c.x) * (q.x - c.x)) AS BIGINT) AS pd2
        FROM pq_sub q JOIN pq_cbf c ON c.s = q.s AND c.dim = q.dim
        WHERE q.vec_id IN (0, 1, 2)
        GROUP BY q.vec_id, c.s, c.code
    ), pqadc AS MATERIALIZED (
        SELECT l.probe_id, e.vec_id,
               CAST(sum(l.pd2) AS BIGINT) AS approx_d2
        FROM pq_penc e JOIN pq_lut l ON l.s = e.s AND l.code = e.code
        WHERE e.vec_id <> l.probe_id
        GROUP BY l.probe_id, e.vec_id
    ), {_ivfpq_ctes('iq_')}, iqreri AS (
        SELECT probe_id, vec_id, exact_d2 FROM iq_rer
    ){''.join(per_method)}
    {' UNION ALL '.join(selects)}
    """


@query("q_ann_recall_report", oracle=_ann_recall_report_oracle())
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN RECALL-vs-COST REPORT over all SIX index families: for the
    fixed probe set, one row per (method, probe) with the method's
    candidate-scan count (the cost proxy — what an index actually buys
    is scanning fewer candidates) and its recall@3 hit count against the
    brute-force rounded-cosine ground truth.  Methods: ``brute`` (ground
    truth anchor, hits = 3 by construction), ``lsh`` (home bucket only),
    ``lsh_multiprobe`` (home + 8 Hamming-1 buckets), ``ivf`` (trained
    coarse quantizer, nprobe lists), ``pq`` (whole-corpus ADC scan with
    the trained product codebook — every vector scanned but COMPRESSED:
    the per-candidate cost is a 4-entry LUT sum, the classic
    memory-bound PQ trade), ``ivfpq`` (coarse lists → residual-code ADC
    → exact rerank) — the accuracy/cost dial a 100 TB embedding store
    publishes when choosing an index.  Each trained method's candidates
    and ranking come from the SAME factored helpers its own EXACT key
    runs (`_ivf_train`/`_ivf_candidates`/`_ivf_topk`,
    `_pq_trained_codebook`, `_ivfpq_encode`/`_ivfpq_adc`/
    `_ivfpq_rerank`), so report and key can never drift.

    Every per-method candidate set, ranking rule, and count is
    exact/deterministic (the trained methods rank in exact integer
    space), so the whole trade-off table is EXACT-gated — recall numbers
    in this report can never be vibes.

    Scale: candidate generation is the respective ANN key's plan
    (map-only bucketing + broadcast probes / broadcast centroid and
    codebook tables); the PQ ADC is an equi-join against a ≤48-row
    broadcast LUT; the report adds probe-grained aggregates and a 9-row
    ground-truth join — free at any corpus size next to the scans it
    measures.  The per-method candidate frames are localCheckpoint'd:
    each is tiny (probe-grained) but carries a training lineage that
    would otherwise replay once for the count and once for the top-3.

    The LSH-bucketed corpus and the trained IVF centroids are
    materialized once (the centroids' lazy Lloyd lineage replayed its
    full-corpus training passes twice inside candidate generation), and
    the four independent family preparations — ground truth, IVF, PQ,
    IVF-PQ — run as CONCURRENT Spark jobs from driver threads
    (``run_concurrently``): each is a separate training chain
    on the same immutable inputs, so their jobs interleave on idle
    executor slots and the wall clock is the slowest family, not the
    sum.  Results are bit-identical — only materialization order
    changes.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # Materialize the LSH-bucketed corpus ONCE: five consumers (probe
    # set, probe buckets, lsh/multiprobe candidate counts and top-3s)
    # otherwise re-project the 8 hyperplanes over a fresh parquet scan
    # each.
    bucketed = e.withColumn("bucket", _lsh_bucket_col(8)).localCheckpoint()
    probes = _ann_probe_set(bucketed)
    probe_buckets = _ann_probe_buckets(probes, 8)
    not_self = F.col("vec_id") != F.col("probe_id")

    def top3_cos(cands: DataFrame) -> DataFrame:
        scored = cands.withColumn(
            "cos_sim", V.cosine(F.col("probe_emb"), F.col("embedding")))
        w = Window.partitionBy("probe_id").orderBy(
            F.round("cos_sim", 6).desc(), F.asc("vec_id"))
        return (scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= 3).select("probe_id", "vec_id"))

    brute_cands = (e.crossJoin(F.broadcast(probes.drop("bucket")))
                   .filter(not_self))

    # ---- family preparations, one thread each ----

    def _truth_branch() -> DataFrame:
        # ground truth = brute top-3; checkpointed: every hit-join
        # reads it.
        return top3_cos(brute_cands).localCheckpoint()

    def _ivf_branch() -> DataFrame:
        # IVF: the trained quantizer + candidate chain of q_ann_ivf.
        # The trained centroids are materialized BEFORE candidate
        # generation: _ivf_candidates assigns the corpus AND the
        # probes against them, so the lazy Lloyd lineage otherwise
        # replays its full-corpus training passes twice (measured ~2x
        # the whole IVF branch at sf0.1).
        iv, cents = _ivf_train(spark, sf_dir)
        cents = cents.localCheckpoint()
        return _ivf_candidates(iv, cents).localCheckpoint()

    def _pq_branch() -> DataFrame:
        # PQ: whole-corpus ADC search with q_ann_pq's trained codebook
        # — per-probe LUT (exact integer d² to every code, ≤48 rows)
        # joined to the corpus codes, summed over subspaces.
        sub, cb = _pq_trained_codebook(spark, sf_dir, _PQ_LLOYD_PASSES)
        enc = _pq_assign(sub, cb).select("vec_id", "s", "code")
        psub = sub.filter(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("probe_id"), "s", "dim", "x")
        lut = (psub.join(F.broadcast(cb),
                         (F.col("cs") == F.col("s"))
                         & (F.col("cdim") == F.col("dim")))
               .groupBy("probe_id", "s", "code")
               .agg(F.sum((F.col("x") - F.col("cx"))
                          * (F.col("x") - F.col("cx")))
                    .cast("long").alias("pd2")))
        return (enc.join(F.broadcast(lut), ["s", "code"])
                .filter(not_self)
                .groupBy("probe_id", "vec_id")
                .agg(F.sum("pd2").cast("long").alias("approx_d2"))
                .localCheckpoint())

    def _ivfpq_branch():
        # IVF-PQ: q_ann_ivfpq's encode → ADC (the counted candidate
        # set); the exact rerank composes lazily on the result.
        iv2, cents2, _, codebook2, enc2 = _ivfpq_encode(
            spark, sf_dir, _PQ_LLOYD_PASSES)
        probes2 = _probe_rows(iv2, 0, 1, 2)
        iq_adc = _ivfpq_adc(probes2, cents2, codebook2, enc2.drop("cd2"))
        return iv2, probes2, iq_adc.localCheckpoint()

    # The four chains are independent trainings over the same immutable
    # inputs — submit them as concurrent Spark jobs so the wall clock
    # is the slowest family, not the sum (results are bit-identical;
    # only materialization order changes).
    truth, ivf_cands, pq_adc, (iv2, probes2, iq_adc) = run_concurrently(
        spark, _truth_branch, _ivf_branch, _pq_branch, _ivfpq_branch)

    ivf_top = _ivf_topk(ivf_cands).select("probe_id", "vec_id")
    wpq = Window.partitionBy("probe_id").orderBy("approx_d2", "vec_id")
    pq_top = (pq_adc.withColumn("rn", F.row_number().over(wpq))
              .filter(F.col("rn") <= 3).select("probe_id", "vec_id"))
    iq_top = _ivfpq_rerank(iq_adc, iv2, probes2).select(
        "probe_id", "vec_id")

    lsh_cands = bucketed.join(F.broadcast(probes), "bucket").filter(
        not_self)
    multi_cands = bucketed.join(
        F.broadcast(probe_buckets), "bucket").filter(not_self)
    # (method, counted candidate set, top-3; None = rank by float cosine)
    methods = [
        ("brute", brute_cands, truth),
        ("lsh", lsh_cands, None),
        ("lsh_multiprobe", multi_cands, None),
        ("ivf", ivf_cands, ivf_top),
        ("pq", pq_adc, pq_top),
        ("ivfpq", iq_adc, iq_top),
    ]
    out = None
    for name, cands, top in methods:
        cnt = cands.groupBy("probe_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"))
        top = top3_cos(cands) if top is None else top
        hits = (top.join(truth, ["probe_id", "vec_id"])
                .groupBy("probe_id")
                .agg(F.count(F.lit(1)).cast("long").alias("hits")))
        row = (cnt.join(hits, "probe_id", "left").na.fill(0)
               .select(F.lit(name).alias("method"),
                       F.col("probe_id").cast("long").alias("probe_id"),
                       "n_candidates",
                       F.col("hits").cast("long").alias("hits")))
        out = row if out is None else out.unionByName(row)
    return out


#: Mutation scenario for the persisted-index key: every vec_id ≡ 3
#: (mod 7) gets its embedding NEGATED (exact in IEEE floats on both
#: engines, and it flips every hyperplane projection's sign, so every
#: updated vector provably re-buckets), then every vec_id ≡ 0 (mod 5)
#: is deleted.  The predicates overlap (vec_id ≡ 10 mod 35), so some
#: vectors re-bucket in commit 1 AND die in commit 2 — the last-wins
#: application path is exercised, not just disjoint changes.
_ANN_IDX_UPDATE_PRED = "vec_id % 7 = 3"
_ANN_IDX_UPDATE_SET = {"embedding": "transform(embedding, x -> -x)"}
_ANN_IDX_DELETE_PRED = "vec_id % 5 = 0"


def _ann_snap(spark: SparkSession, src: str, ver: str | None) -> DataFrame:
    """One version snapshot of the mutating embedding table."""
    r = (spark.read.format("arrowipc")
         .schema("vec_id long, embedding array<float>"))
    if ver:
        r = r.option("version", ver)
    return r.load(src)


def _ann_bucketed(df: DataFrame) -> DataFrame:
    """(vec_id, bucket) — the LSH index rows for one corpus state."""
    return df.select("vec_id", _lsh_bucket_col(8).alias("bucket"))


def _ann_idx_changes(pre: DataFrame, post: DataFrame,
                     seq: int) -> DataFrame:
    """One bucket-grain feed commit: the keyed diff of two index states
    (re-bucket / insert / delete; bucket-preserving updates are
    index-noise and never enter the feed)."""
    j = (pre.select("vec_id", F.col("bucket").alias("b_pre"))
         .join(post.select("vec_id", F.col("bucket").alias("b_post")),
               "vec_id", "full_outer"))
    change = (
        F.when(F.col("b_post").isNull(), F.lit("delete"))
        .when(F.col("b_pre").isNull(), F.lit("insert"))
        .when(F.col("b_pre") != F.col("b_post"), F.lit("rebucket"))
        .otherwise(F.lit("same")))
    return (j.withColumn("change", change)
            .filter(F.col("change") != "same")
            .select("vec_id", F.col("b_post").alias("bucket"),
                    "change",
                    F.lit(seq).cast("long").alias("commit_seq")))


def _ann_mutated_src(spark: SparkSession, sf_dir: str, base: str) -> str:
    """The shared mutating-corpus fixture: the embedding table persisted
    at ``base/src`` (snapshot v1), then the declared CoW UPDATE (vector
    negation — exact in IEEE floats) as v2 and the DELETE as v3.
    Factored from ``_ann_mutation_feed`` so the IVF-maintained key can
    derive its ASSIGNMENT-grain feed from the same three versions the
    LSH keys diff at the bucket grain."""
    import os

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.maintenance import (
        delete_arrowipc,
        update_arrowipc,
    )

    register_arrowipc(spark)
    src = os.path.join(base, "src")
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    (e.repartition(4).write.format("arrowipc")
     .option("compression", "lz4")
     .mode("append").save(src))
    update_arrowipc(spark, src, _ANN_IDX_UPDATE_PRED, _ANN_IDX_UPDATE_SET,
                    compression="lz4", predicate_columns=["vec_id"],
                    schema=e.schema)
    delete_arrowipc(spark, src, _ANN_IDX_DELETE_PRED, compression="lz4",
                    predicate_columns=["vec_id"], schema=e.schema)
    return src


def _ann_mutation_feed(spark: SparkSession, sf_dir: str,
                       base: str) -> tuple[str, str]:
    """The shared index-maintenance fixture (batch key + streaming
    maintainer): the embedding table at ``base/src`` mutated through the
    declared UPDATE (vector negation — exact in IEEE floats, flips every
    projection sign so updates provably re-bucket) and DELETE, and its
    TWO bucket-grain feed commits at ``base/feed`` (one write job).
    Returns ``(src, feed)``."""
    import os

    src = _ann_mutated_src(spark, sf_dir, base)
    feed = os.path.join(base, "feed")
    _ann_bucket_feed(spark, src, feed)
    return src, feed


def _ann_bucket_feed(spark: SparkSession, src: str, feed: str) -> None:
    """Write the mutated corpus's two bucket-grain feed commits (the
    diffs v1→v2 and v2→head) at ``feed`` in ONE write job: a union with
    per-diff commit_seq literals lands in the same partition directories
    as two appends."""
    b1, b2, b3 = (_ann_bucketed(_ann_snap(spark, src, v))
                  for v in ("1", "2", None))
    (_ann_idx_changes(b1, b2, 1).unionByName(_ann_idx_changes(b2, b3, 2))
     .write.format("arrowipc").option("partitionBy", "commit_seq")
     .option("compression", "lz4")
     .mode("append").save(feed))


@query(
    "q_ann_index_maintain",
    oracle=f"""
    WITH mut AS (
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 3
                    THEN list_transform(embedding, x -> -x)
                    ELSE embedding END AS embedding
        FROM embeddings
        WHERE NOT (vec_id % 5 = 0)
    ), b AS (
        SELECT vec_id, ({_lsh_bucket_sql(8)}) AS bucket FROM mut
    )
    SELECT CAST(bucket AS INT)          AS bucket,
           CAST(count(*) AS BIGINT)     AS n_vecs,
           CAST(sum(vec_id) AS BIGINT)  AS id_checksum,
           TRUE                         AS consistent
    FROM b GROUP BY bucket
    """,
)
def q_ann_index_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN INDEX MAINTENANCE UNDER MUTATIONS (SURVEY §7 round-13 runway
    item 2, pulled forward): the LSH signature table — the index
    ``q_ann_lsh`` searches — is PERSISTED as an arrowipc snapshot table
    and maintained INCREMENTALLY while the embedding corpus mutates
    beneath it: a copy-on-write UPDATE negates some vectors (commit 1)
    and a DELETE removes others (commit 2); the index consumes a
    bucket-grain changefeed (re-bucket / insert / delete rows derived
    from the version diffs — an update that would not move a vector's
    bucket is index-noise and never enters the feed), applies each
    vector's LAST change, and the result is engine-verified per bucket
    against a from-scratch re-bucketing of the final corpus
    (``consistent``).

    This is the vector-store lifecycle piece the search keys assume
    away: at 100 TB an embedding index is never rebuilt per mutation —
    maintenance cost here is O(index + changed rows) (one anti-join of
    the persisted index against the touched-vector set + the feed's
    surviving rows), while the verify arm is the periodic audit, not
    the refresh path.  The negation mutation is chosen to be EXACT in
    IEEE arithmetic on both engines AND to flip every projection sign,
    so updated vectors always re-bucket and the oracle replays the
    whole maintained state from the mutation predicates alone.

    Scale: the index table is (vec_id, bucket) — bucketable on vec_id
    for a co-located anti-join at any size; the feed is mutation-sized;
    the only corpus-sized passes are the initial build and the audit."""
    import os

    from bossarrowstorageengine_spark.operators.scans import _scratch
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.ann_index import read_feed

    register_arrowipc(spark)
    base = _scratch(sf_dir, "ann_idx")
    idx = os.path.join(base, "idx")
    src, feed = _ann_mutation_feed(spark, sf_dir, base)
    b1, b3 = (_ann_bucketed(_ann_snap(spark, src, v))
              for v in ("1", None))
    # the ONE corpus-sized build: index v1 persisted
    (b1.write.format("arrowipc")
     .option("compression", "lz4").mode("append").save(idx))

    feed_rows = read_feed(spark, feed)
    # a vector touched by BOTH commits resolves to its LAST change
    wv = Window.partitionBy("vec_id").orderBy(F.col("commit_seq").desc())
    last = (feed_rows.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1))
    idx_back = (spark.read.format("arrowipc")
                .schema("vec_id long, bucket int").load(idx))
    maintained = (
        idx_back.join(feed_rows.select("vec_id").distinct(),
                      "vec_id", "left_anti")
        .unionByName(last.filter(F.col("change") != "delete")
                     .select("vec_id", "bucket")))

    got = maintained.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("vec_id").cast("long").alias("id_checksum"))
    direct = b3.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_direct"),
        F.sum("vec_id").cast("long").alias("sum_direct"))
    return (
        got.join(direct, "bucket", "full_outer")
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.coalesce("n_vecs", F.lit(0)).cast("long").alias("n_vecs"),
            F.coalesce("id_checksum", F.lit(0)).cast("long")
            .alias("id_checksum"),
            ((F.coalesce("n_vecs", F.lit(0))
              == F.coalesce("n_direct", F.lit(0)))
             & (F.coalesce("id_checksum", F.lit(0))
                == F.coalesce("sum_direct", F.lit(0))))
            .alias("consistent"),
        )
    )


_ANN_LSH_MAINTAINED_ORACLE = f"""
    WITH mut AS (
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 3
                    THEN list_transform(embedding, x -> -x)
                    ELSE embedding END AS embedding
        FROM embeddings
        WHERE NOT (vec_id % 5 = 0)
    ), sig AS (
        SELECT vec_id, embedding, ({{bucket_sql}}) AS bucket FROM mut
    ), probes AS (
        SELECT vec_id AS probe_id, embedding AS probe_emb, bucket
        FROM sig WHERE vec_id IN (1, 2, 3)
    ), scored AS (
        SELECT p.probe_id, s.vec_id,
               (SELECT sum(CAST(p.probe_emb[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE))
                FROM generate_series(1, 64) AS g(i)) /
               (sqrt((SELECT sum(CAST(p.probe_emb[i] AS DOUBLE) * CAST(p.probe_emb[i] AS DOUBLE))
                      FROM generate_series(1, 64) AS g(i))) *
                sqrt((SELECT sum(CAST(s.embedding[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE))
                      FROM generate_series(1, 64) AS g(i)))) AS cos_sim
        FROM sig s JOIN probes p ON s.bucket = p.bucket AND s.vec_id <> p.probe_id
    ), ranked AS (
        SELECT probe_id, vec_id, cos_sim,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY round(cos_sim, 6) DESC, vec_id) AS rn
        FROM scored
    )
    SELECT CAST(probe_id AS BIGINT) AS probe_id,
           CAST(vec_id  AS BIGINT) AS vec_id,
           round(cos_sim, 6)       AS cos_sim,
           CAST(rn AS BIGINT)      AS rn
    FROM ranked WHERE rn <= 3
"""


@query("q_ann_lsh_maintained",
       oracle=_ANN_LSH_MAINTAINED_ORACLE.replace(
           "{bucket_sql}", _lsh_bucket_sql(8)))
def q_ann_lsh_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH SEARCH OVER THE MAINTAINED LSM INDEX (SURVEY §7 round-13
    runway item 6): ``q_ann_lsh``'s probe chain run against the
    PERSISTED index state ``streaming.ann_index.read_index`` returns —
    base segment + per-commit delta segments merged last-wins with
    tombstones dropped — instead of an inline re-bucketing.  This is
    the composition that proves the LSM index (seeded with
    ``seed_index``, advanced by ``apply_index_batch`` consuming the
    bucket-grain changefeed under the CoW UPDATE + DELETE mutations) is
    the index the search keys actually use: bucket assignments come
    ONLY from the index table, embeddings for scoring come from the
    mutated corpus head, and the EXACT oracle replays the whole search
    from the mutation predicates — identical answers to an inline
    variant by construction, so any index drift (a missed tombstone, a
    stale bucket) breaks the hash.

    Probes are corpus members 1/2/3 (1 and 2 untouched, 3 negated by
    the UPDATE — so one probe's home bucket provably moved through
    index maintenance; probe 0 would be deleted).  Their buckets are
    looked up IN the index — the known-vector search path; a fresh
    query vector would hash with the same fixed hyperplanes.

    Scale: read_index is one vec_id-keyed window over base+deltas
    (bucket on vec_id to co-locate; ``compact_index`` bounds the merged
    segment count); the search itself is the q_ann_lsh shape — bucket
    equi-join against 3 broadcast probes, never all-pairs.

    The index lives under the SHARED generation-pointer layout
    (``seed_generation`` publishes gen 0; reads pin it via
    ``read_index_generation``) — no roll fires here (LSH has nothing to
    re-train), but all three maintained faces share one directory
    contract, so a future drift-triggered re-index drops into the same
    `roll_generation` path the trained families use."""
    import os

    from bossarrowstorageengine_spark.operators.scans import _scratch
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.ann_index import (
        apply_index_batch,
        generation_dir,
        read_feed,
        read_index_generation,
        seed_generation,
    )

    register_arrowipc(spark)
    base = _scratch(sf_dir, "ann_lsh_maint")
    idx_root = os.path.join(base, "idx_gens")
    src, feed = _ann_mutation_feed(spark, sf_dir, base)
    # the ONE corpus-sized build (index of v1), then O(Δ) delta segments
    seed_generation(idx_root, _ann_bucketed(_ann_snap(spark, src, "1")),
                    layout_buckets=8)   # shuffle-free read_index path
    apply_index_batch(read_feed(spark, feed), 0,
                      generation_dir(idx_root, 0))

    def _gen0(_):
        # Fresh pinned read per branch (FORMAT.md §8: the upstream
        # Python-datasource plan cache means the probe branch's vec_id
        # pushdown would otherwise poison the candidate branch's
        # shared scan).
        return read_index_generation(spark, idx_root)[1]

    probes = (_ann_snap(spark, src, None)
              .join(_gen0("probe"), "vec_id")
              .filter(F.col("vec_id").isin(1, 2, 3))
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("probe_emb"),
                      "bucket"))
    indexed = (_ann_snap(spark, src, None)       # mutated head: embeddings
               .join(_gen0("cand"), "vec_id"))   # bucket: index ONLY
    cands = indexed.join(F.broadcast(probes), "bucket").filter(
        F.col("vec_id") != F.col("probe_id"))
    w = Window.partitionBy("probe_id").orderBy(
        F.round("cos_sim", 6).desc(), F.asc("vec_id"))
    return (
        cands.withColumn("cos_sim",
                         V.cosine(F.col("probe_emb"), F.col("embedding")))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("probe_id").cast("long"),
            F.col("vec_id").cast("long"),
            F.round("cos_sim", 6).alias("cos_sim"),
            "rn",
        )
    )


#: Re-train triggers for the maintained IVF index (scenario-calibrated,
#: both robust at every test SF): centroid shift is q_embedding_drift's
#: metric between the frozen-training corpus and the head (the negation
#: mutation shifts it to 0.017-0.039 across sf0.001-0.1, an order above
#: a stable corpus's ~0); churn is ``ann_index.generation_churn``, the
#: fraction of the frozen-generation corpus whose index row changed or
#: died (~0.31 here — the signal an IVF operator actually watches, since
#: churned assignments are what degrade list balance and recall).
_IVF_DRIFT_SHIFT_MIN = 0.01
_IVF_CHURN_MIN = 0.10


def _ivf_assign_frozen(vecs: DataFrame, cents: DataFrame,
                       part_cols: tuple[str, ...] = ("vec_id",)
                       ) -> DataFrame:
    """Nearest FROZEN centroid per vector (tie → lower centroid_id) —
    ``_ivf_nearest``'s rule with an explicit window key, so per-commit
    delta assignment can key on (vec_id, commit_seq) and a vector
    re-assigned by two different commits never mixes ranks.  Returns
    ``(*part_cols, centroid_id)``."""
    return _ivf_nearest(vecs, cents, 1, "iemb", part_cols).select(
        *part_cols, "centroid_id")


def _ivf_vec_changes(pre: DataFrame, post: DataFrame, seq: int) -> DataFrame:
    """One VECTOR-grain source commit: the keyed diff of two corpus
    snapshots (micro-unit vectors), carrying both sides' embeddings so
    the maintainer can compute pre- and post-assignments for exactly
    the changed rows.  NOTE the cost split: producing the
    diff this way is O(corpus) — a fixture convenience; in production
    the vector-grain delta comes from the changefeed the CoW mutations
    already publish (streaming/ann_index.py tails it), and only the
    APPLY side here is O(Δ)."""
    j = (pre.select("vec_id", F.col("iemb").alias("e_pre"))
         .join(post.select("vec_id", F.col("iemb").alias("e_post")),
               "vec_id", "full_outer"))
    change = (
        F.when(F.col("e_post").isNull(), F.lit("delete"))
        .when(F.col("e_pre").isNull(), F.lit("insert"))
        .when(F.col("e_pre") != F.col("e_post"), F.lit("update"))
        .otherwise(F.lit("same")))
    return (j.withColumn("change", change)
            .filter(F.col("change") != "same")
            .select("vec_id", "e_pre", "e_post", "change",
                    F.lit(seq).cast("long").alias("commit_seq")))


def _ann_vec_history(spark: SparkSession, sf_dir: str, base: str,
                     int_vec) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The vector-grain fixture of the trained maintained indexes: the
    shared mutating corpus (``_ann_mutated_src`` at ``base/src``) in the
    family's fixed-point contract (``int_vec`` = ``_ivf_int_vec`` or
    ``_ivfpq_milli``).  Returns ``(s1, head, ch)``: the v1 and head
    snapshots as ``(vec_id, iemb)`` and both commits' vector-grain diffs,
    each materialized — every one feeds several branches (the arrowipc
    plan-cache rule), and s1 also feeds the IVF drift monitor."""
    src = _ann_mutated_src(spark, sf_dir, base)

    def snap(ver: str | None) -> DataFrame:
        return _ann_snap(spark, src, ver).select(
            "vec_id", int_vec(F.col("embedding")).alias("iemb"))

    s1, s2 = snap("1").localCheckpoint(), snap("2")
    head = snap(None).localCheckpoint()
    ch = (_ivf_vec_changes(s1, s2, 1)
          .unionByName(_ivf_vec_changes(s2, head, 2))
          .localCheckpoint())
    return s1, head, ch


def _ann_delta_feed(spark: SparkSession, ch: DataFrame, encode,
                    feed: str) -> tuple[DataFrame, float | None]:
    """Publish a trained index's changefeed for the vector-grain commits
    ``ch`` at ``feed`` (both commits in one write job) and read it back.

    ``encode(vecs, keys)`` is the FROZEN quantizer (``_ivf_assign_frozen``
    or ``_ivfpq_encode_frozen`` bound to its artifacts): it maps
    ``(*keys, iemb)`` rows to ``(*keys, centroid_id, *payload)``, where
    ``dist``, the quantization error, is a monitor column and never a
    payload.  Only changed rows are encoded (O(Δ·k)): the post-image of
    an insert or update and the pre-image of an update.  An update that
    keeps its list and payload is index-noise and is dropped (the LSH
    feed's 'same' rule); the rest land as insert / move rows carrying the
    new list and payload, and deletes as tombstone rows.  Returns
    ``(feed_rows, mean_dist)``: the feed read back and the mean ``dist``
    over every encoded post-image (None when the encoder emits no
    ``dist`` or no post-image exists), observed by the feed write's own
    job."""
    from bossarrowstorageengine_spark.streaming.ann_index import read_feed

    keys = ["vec_id", "commit_seq"]
    new = encode(ch.filter(F.col("change") != "delete")
                 .select(*keys, "change", F.col("e_post").alias("iemb")),
                 (*keys, "change"))
    pay = [c for c in new.columns
           if c not in (*keys, "change", "centroid_id", "dist")]
    mean_dist = Observation() if "dist" in new.columns else None
    if mean_dist is not None:
        # Observed before the index-noise filter: the mean covers every
        # post-image, and the encode runs once, inside the write.
        new = new.observe(mean_dist, F.avg("dist").alias("dist"))
    old = encode(ch.filter(F.col("change") == "update")
                 .select(*keys, F.col("e_pre").alias("iemb")),
                 tuple(keys)).select(
        *keys, F.col("centroid_id").alias("c_old"),
        *[F.col(c).alias(f"{c}_old") for c in pay])
    changed = [F.col("c_old").isNull(),
               F.col("c_old") != F.col("centroid_id"),
               *[F.col(f"{c}_old") != F.col(c) for c in pay]]
    moved = (new.join(old, keys, "left")
             .filter(reduce(lambda a, b: a | b, changed)))
    (moved.select(
        "vec_id", F.col("centroid_id").cast("int").alias("bucket"), *pay,
        F.when(F.col("change") == "insert", F.lit("insert"))
        .otherwise(F.lit("recode" if pay else "rebucket")).alias("change"),
        "commit_seq")
     .unionByName(
        ch.filter(F.col("change") == "delete")
        .select("vec_id", F.lit(None).cast("int").alias("bucket"),
                *[F.lit(None).cast(new.schema[c].dataType).alias(c)
                  for c in pay],
                F.lit("delete").alias("change"), "commit_seq"))
     .write.format("arrowipc").option("partitionBy", "commit_seq")
     .option("compression", "lz4")
     .mode("append").save(feed))
    payload = ", ".join(f"{c} {new.schema[c].dataType.simpleString()}"
                        for c in pay)
    return (read_feed(spark, feed, payload or None),
            None if mean_dist is None else mean_dist.get["dist"])


def _index_rows(df: DataFrame, *payload: str) -> DataFrame:
    """A trained assignment ``(vec_id, centroid_id, ...)`` as index rows
    ``(vec_id, bucket[, payload...])``."""
    return df.select("vec_id", F.col("centroid_id").cast("int")
                     .alias("bucket"), *payload)


def _same_rows(a: DataFrame, b: DataFrame) -> bool:
    """Row identity both ways (multiset equality, ``a.exceptAll(b)`` and
    ``b.exceptAll(a)`` both empty) in ONE count job that reads each side
    once: every distinct row occurs as often in ``a`` as in ``b``."""
    side = "_same_rows_side"
    diff = (a.withColumn(side, F.lit(1)).union(b.withColumn(side, F.lit(-1)))
            .groupBy(*a.columns).agg(F.sum(side).alias(side)))
    return diff.filter(F.col(side) != 0).count() == 0


def _row_counts(**frames: DataFrame) -> dict[str, int]:
    """Each frame's row count, keyed by name, from ONE job (a tagged
    union) instead of one count per frame."""
    tagged = [df.select(F.lit(t).alias("t")) for t, df in frames.items()]
    got = {r["t"]: r["n"] for r in (
        reduce(lambda a, b: a.unionAll(b), tagged).groupBy("t")
        .agg(F.count(F.lit(1)).alias("n")).collect())}
    return {t: got.get(t, 0) for t in frames}


def _retire_gen0(idx_root: str) -> bool:
    """Vacuum the rolled-past generation 0 (keep=1: only the pointer
    generation survives) and attest that it is gone."""
    import os

    from bossarrowstorageengine_spark.streaming.ann_index import (
        generation_dir,
        vacuum_generations,
    )

    vac = vacuum_generations(idx_root, keep=1)
    return bool(vac == {"removed_generations": [0], "kept": [1]}
                and not os.path.exists(generation_dir(idx_root, 0)))


class _Quantizer(NamedTuple):
    """The hooks of :func:`_ann_trained_maintained`: everything the IVF
    and IVF-PQ lifecycles do not share.  ``art`` is what
    ``train_and_seed`` returned (the frozen generation-0 artifacts)."""

    #: float embedding column -> the family's exact integer vector
    int_vec: Callable
    #: ``(spark, sf_dir, idx_root) -> art``: train generation 0 on the v1
    #: corpus and seed its index rows under the generation pointer
    train_and_seed: Callable
    #: ``(art, vecs, keys) -> (*keys, centroid_id[, payload...][, dist])``
    #: — the FROZEN quantizer
    encode: Callable
    #: ``(art, s1, head, mean_dist) -> bool``: the drift half of the
    #: re-train trigger (``mean_dist`` as :func:`_ann_delta_feed` returns it)
    drifted: Callable
    #: ``head -> (gen-1 index rows, gen-1 centroids)``: the re-train
    retrain: Callable
    #: inclusive bounds on an intact re-train's centroid count
    cents_range: tuple[int, int]
    #: ``gen1 -> rows`` malformed for this quantizer (must be empty)
    gen1_bad: Callable
    #: ``(art, maintained, head, probes) -> rows``: the search over the
    #: maintained generation-0 state
    search: Callable


def _ann_trained_gen0(spark: SparkSession, sf_dir: str, base: str,
                      idx_root: str, q: _Quantizer):
    """Generation 0 of a trained maintained index beside its mutation
    history: ``q.train_and_seed`` reads only the immutable embeddings
    parquet and the history (:func:`_ann_vec_history`) writes only
    ``base/src``, so the two run as concurrent Spark jobs.  Returns
    ``(art, s1, head, ch)``."""
    art, hist = run_concurrently(
        spark, lambda: q.train_and_seed(spark, sf_dir, idx_root),
        lambda: _ann_vec_history(spark, sf_dir, base, q.int_vec))
    return (art, *hist)


def _ann_trained_maintained(spark: SparkSession, sf_dir: str, scratch: str,
                            q: _Quantizer) -> DataFrame:
    """The lifecycle of a trained maintained index, the re-train-on-drift
    loop of *Continuously Adaptive Similarity Search* (SIGMOD 2020):

    1. train generation 0 on the v1 corpus and seed it
       (:func:`_ann_trained_gen0`);
    2. concurrently: re-train generation 1 on the head corpus, and apply
       the delta feed (changed rows encoded against the FROZEN
       quantizer, :func:`_ann_delta_feed`) to generation 0, pin and
       materialize generation 0, audit it against a from-scratch frozen
       encode of the head (row identity both ways), and evaluate the
       re-train trigger — ``q.drifted`` OR ``generation_churn`` over
       ``_IVF_CHURN_MIN``;
    3. roll generation 1 (:func:`roll_generation`), attest it (the
       pointer moved, ``q.cents_range`` centroids, one row per head
       vector, no ``q.gen1_bad`` row) and retire generation 0 — the
       pinned state already materialized, so the search outlives it;
    4. search the pinned generation-0 state (``q.search``) for probes
       1-3 and append the five attestation columns ``generation``,
       ``index_consistent``, ``retrain_due``, ``gen1_trained`` and
       ``vacuumed``.

    Scale: maintenance is O(Δ·k) per commit against broadcast artifacts;
    the audit and the re-trains are the scheduled corpus passes, never
    the refresh path."""
    import os

    from bossarrowstorageengine_spark.operators.scans import _scratch
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.ann_index import (
        apply_index_batch,
        generation_churn,
        generation_dir,
        read_index_generation,
        roll_generation,
    )

    register_arrowipc(spark)
    base = _scratch(sf_dir, scratch)
    idx_root = os.path.join(base, "idx_gens")
    art, s1, head, ch = _ann_trained_gen0(spark, sf_dir, base, idx_root, q)

    def encode(vecs: DataFrame, keys=("vec_id",)) -> DataFrame:
        return q.encode(art, vecs, keys)

    def maintain_and_audit():
        feed_rows, mean_dist = _ann_delta_feed(
            spark, ch, encode, os.path.join(base, "feed"))
        apply_index_batch(feed_rows, 0, generation_dir(idx_root, 0))
        pinned_gen, maintained = read_index_generation(spark, idx_root)
        maintained = maintained.localCheckpoint()
        direct = _index_rows(encode(head), *maintained.columns[2:])
        # Independent reads over materialized frames: concurrent jobs.
        consistent, drifted, churn = run_concurrently(
            spark, lambda: _same_rows(maintained, direct),
            lambda: q.drifted(art, s1, head, mean_dist),
            lambda: generation_churn(spark, idx_root, 0))
        return (pinned_gen, maintained, consistent,
                bool(drifted or churn > _IVF_CHURN_MIN))

    # The re-train depends only on `head`, so its training jobs overlap
    # the feed write, the delta apply and the audit.
    (rows1, cents1), (pinned_gen, maintained, consistent, retrain_due) = (
        run_concurrently(spark, lambda: q.retrain(head), maintain_and_audit))
    roll = roll_generation(idx_root, lambda: rows1)
    gen1_no, gen1 = read_index_generation(spark, idx_root)
    cnt = _row_counts(cents1=cents1, gen1=gen1, head=head,
                      bad=q.gen1_bad(gen1))
    lo, hi = q.cents_range
    gen1_trained = bool(
        roll == {"generation": 1, "rolled": True} and gen1_no == 1
        and lo <= cnt["cents1"] <= hi and cnt["gen1"] == cnt["head"]
        and cnt["bad"] == 0)
    vacuumed = _retire_gen0(idx_root)

    return q.search(art, maintained, head,
                    _probe_rows(head, 1, 2, 3)).select(
        "*",
        F.lit(pinned_gen).cast("long").alias("generation"),
        F.lit(consistent).alias("index_consistent"),
        F.lit(retrain_due).alias("retrain_due"),
        F.lit(gen1_trained).alias("gen1_trained"),
        F.lit(vacuumed).alias("vacuumed"),
    )


def _ivf_train_and_seed(spark: SparkSession, sf_dir: str,
                        idx_root: str) -> DataFrame:
    """``q_ann_ivf``'s training chain on the v1 corpus; the frozen
    centroids (16 rows, materialized — they feed the seed, every delta
    assignment, the audit and the probes) seed generation 0's inverted
    lists on the bucketed layout (the shuffle-free ``read_index``
    path)."""
    from bossarrowstorageengine_spark.streaming.ann_index import (
        seed_generation,
    )

    iv, cents = _ivf_train(spark, sf_dir)
    cents = cents.localCheckpoint()
    seed_generation(idx_root, _index_rows(_ivf_assign_frozen(iv, cents)),
                    layout_buckets=8)
    return cents


def _ivf_drifted(cents: DataFrame, s1: DataFrame, head: DataFrame,
                 mean_dist) -> bool:
    """The centroid-shift monitor (``q_embedding_drift``'s metric, the
    frozen v1 corpus vs the head) past ``_IVF_DRIFT_SHIFT_MIN``."""
    def _mean_dims(df: DataFrame, m: str) -> DataFrame:
        return (df.select(F.posexplode("iemb").alias("dim", "x"))
                .groupBy("dim")
                .agg((F.sum("x").cast("double") / F.count(F.lit(1))
                      / _IVF_MICRO).alias(m)))

    d = F.col("m0") - F.col("m1")
    shift = (_mean_dims(s1, "m0").join(_mean_dims(head, "m1"), "dim")
             .agg(F.sqrt(F.sum(d * d))).collect()[0][0])
    return shift > _IVF_DRIFT_SHIFT_MIN


def _ivf_retrain(head: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The same Lloyd chain on the head corpus (centroids materialized:
    the gen-1 assignment and its attestation both read them)."""
    cents1 = _ivf_lloyd(head).localCheckpoint()
    return _index_rows(_ivf_assign_frozen(head, cents1)), cents1


def _ivf_maintained_search(cents: DataFrame, maintained: DataFrame,
                           head: DataFrame, probes: DataFrame) -> DataFrame:
    """Probes rank the members of their ``_IVF_NPROBE`` nearest FROZEN
    lists by exact-integer cosine; list membership comes ONLY from the
    maintained index, embeddings from the head."""
    probe_lists = _ivf_nearest(probes, cents, _IVF_NPROBE, "piemb").select(
        "probe_id", "piemb", F.col("centroid_id").cast("int").alias("bucket"))
    cands = (maintained.join(head, "vec_id")
             .join(F.broadcast(probe_lists), "bucket")
             .filter(F.col("vec_id") != F.col("probe_id")))
    return _ivf_topk(cands)


_IVF_QUANTIZER = _Quantizer(
    int_vec=_ivf_int_vec,
    train_and_seed=_ivf_train_and_seed,
    encode=lambda cents, vecs, keys: _ivf_assign_frozen(vecs, cents, keys),
    drifted=_ivf_drifted,
    retrain=_ivf_retrain,
    cents_range=(_IVF_K, _IVF_K),
    gen1_bad=lambda g: g.filter(~F.col("bucket").between(0, _IVF_K - 1)),
    search=_ivf_maintained_search,
)


_ANN_IVF_MAINTAINED_ORACLE = f"""
    WITH {{ivf_ctes}}, mut_iv AS (
        SELECT vec_id,
               list_transform(
                   CASE WHEN vec_id % 7 = 3
                        THEN list_transform(embedding, x -> -x)
                        ELSE embedding END,
                   x -> CAST(round(CAST(x AS DOUBLE) * {_IVF_MICRO}, 0)
                             AS BIGINT)) AS iemb
        FROM embeddings
        WHERE NOT (vec_id % 5 = 0)
    ), massign AS MATERIALIZED (
        SELECT vec_id, iemb, centroid_id FROM (
            SELECT v.vec_id, v.iemb, c.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {{cos_vc}} DESC, c.centroid_id) AS rn
            FROM mut_iv v CROSS JOIN cent{_IVF_ITERS} c
        ) WHERE rn = 1
    ), mprobes AS (
        SELECT probe_id, piemb, centroid_id FROM (
            SELECT v.vec_id AS probe_id, v.iemb AS piemb, c.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {{cos_vc}} DESC, c.centroid_id) AS rn
            FROM mut_iv v CROSS JOIN cent{_IVF_ITERS} c
            WHERE v.vec_id IN (1, 2, 3)
        ) WHERE rn <= {_IVF_NPROBE}
    ), ranked AS (
        SELECT p.probe_id, l.vec_id, {{cos_pl}} AS cos_sim,
               row_number() OVER (PARTITION BY p.probe_id
                   ORDER BY {{cos_pl}} DESC, l.vec_id) AS rn
        FROM mprobes p JOIN massign l
          ON p.centroid_id = l.centroid_id AND l.vec_id <> p.probe_id
    )
    SELECT CAST(probe_id AS BIGINT) AS probe_id,
           CAST(vec_id  AS BIGINT) AS vec_id,
           round(cos_sim, 6)       AS cos_sim,
           CAST(rn AS BIGINT)      AS rn,
           CAST(0 AS BIGINT)       AS generation,
           TRUE                    AS index_consistent,
           TRUE                    AS retrain_due,
           TRUE                    AS gen1_trained,
           TRUE                    AS vacuumed
    FROM ranked WHERE rn <= 3
"""


@query("q_ann_ivf_maintained",
       oracle=_ANN_IVF_MAINTAINED_ORACLE
       .replace("{ivf_ctes}", _ivf_ctes())
       .replace("{cos_vc}", _ivf_cos_sql("v.iemb", "c.cent"))
       .replace("{cos_pl}", _ivf_cos_sql("p.piemb", "l.iemb")))
def q_ann_ivf_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF INDEX MAINTENANCE UNDER MUTATIONS: the LSM maintenance
    pattern applied to the TRAINED index family.  ``q_ann_lsh_maintained``
    proved search-over-the-maintained-index for data-independent
    hashing; real ANN deployments run TRAINED quantizers (IVF/PQ), whose
    corpus mutations would otherwise force a from-scratch re-train.  The
    lifecycle is :func:`_ann_trained_maintained`'s; this key's quantizer
    (``_IVF_QUANTIZER``):

    - **Frozen generation 0**: ``q_ann_ivf``'s exact-integer Lloyd
      chain trains the coarse quantizer ONCE on the v1 corpus; the
      inverted lists (vec_id → centroid_id, stored as the LSM
      machinery's ``bucket``) seed generation 0.
    - **Delta maintenance against FROZEN centroids**: pre- and
      post-embeddings of ONLY the changed rows are assigned to the
      frozen quantizer (O(Δ·k) with k broadcast centroids).
    - **Drift-triggered re-train**: ``retrain_due`` composes
      ``q_embedding_drift``'s centroid-shift monitor (frozen-corpus
      mean vs head mean, L2 over dims) with ``generation_churn``.  The
      trigger FIRES here (the negation mutation is calibrated to), and
      the same Lloyd chain on the head corpus trains generation 1 —
      ``gen1_trained`` attests k centroids, every row in one of the k
      lists, and full assignment coverage.
    - **Search**: probes rank candidates from their ``nprobe`` nearest
      frozen centroids by exact-integer cosine, list membership read
      from the maintained index only.  ``index_consistent``
      engine-verifies the maintained lists against a from-scratch
      assignment of the head corpus (row identity).

    The EXACT oracle replays the frozen generation end-to-end: the
    Lloyd chain from ``_ivf_ctes`` (byte-shared with ``q_ann_ivf``),
    the mutated corpus re-assigned to the frozen centroids, and the
    probe ranking; the re-train trigger and generation-1 completeness
    are boolean attestations (a from-scratch Lloyd replay of the
    mutated corpus is SQL-expressible but adds nothing the gen-0 chain
    has not already proven about the training arithmetic).

    Scale: the index is (vec_id, centroid_id) — bucketed on vec_id to
    co-locate the last-wins merge; search is an equi-join of
    ``nprobe/k`` of the corpus against broadcast probes."""
    return _ann_trained_maintained(spark, sf_dir, "ann_ivf_maint",
                                   _IVF_QUANTIZER)


#: Codebook re-train trigger for the maintained IVF-PQ index: delta rows
#: encoding at more than this multiple of the frozen-training mean
#: distortion signal codebook drift (the negation mutation pushes the
#: changed rows' residuals far outside the trained codebook's support,
#: so the ratio lands an order of magnitude above stable-corpus noise);
#: churn (_IVF_CHURN_MIN over ``generation_churn``) rides along as the
#: coarse-grain trigger, exactly as in q_ann_ivf_maintained.
_IVFPQ_DIST_FACTOR = 2.0

#: Index payload of the IVF-PQ faces: one code per subspace.
_IVFPQ_PAYLOAD = "codes array<bigint>"


def _ivfpq_milli(col) -> "F.Column":
    """float embedding → exact milli-unit integer vector (the IVF-PQ
    family's fixed-point contract)."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * 1000, 0).cast("long"))


def _ivfpq_train_and_seed(spark: SparkSession, sf_dir: str,
                          idx_root: str) -> tuple:
    """``q_ann_ivfpq``'s training chain on the v1 corpus (the trainer
    materializes cents + codebook); generation 0 stores per vector
    ``(list, codes[NSUB])`` as a payload-carrying index.  Returns
    ``(cents, codebook, mean gen-0 distortion)``, the mean observed by
    the seed write's own job."""
    from bossarrowstorageengine_spark.streaming.ann_index import (
        seed_generation,
    )

    _, cents, _, codebook, enc = _ivfpq_encode(spark, sf_dir,
                                               _PQ_LLOYD_PASSES)
    dist0 = Observation()
    codes0 = _ivfpq_codes(enc).observe(dist0, F.avg("dist").alias("dist"))
    seed_generation(idx_root, _index_rows(codes0, "codes"),
                    layout_buckets=8, payload=_IVFPQ_PAYLOAD)
    return cents, codebook, float(dist0.get["dist"])


def _ivfpq_retrain(head: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The identical IVF-PQ chain on the head corpus (fewer seeds survive
    the delete — empty-cluster removal handles that)."""
    _, cents1, _, _, enc1 = _ivfpq_train_encode(head, _PQ_LLOYD_PASSES)
    return _index_rows(_ivfpq_codes(enc1), "codes"), cents1


def _ivfpq_maintained_search(art: tuple, maintained: DataFrame,
                             head: DataFrame, probes: DataFrame
                             ) -> DataFrame:
    """ADC over the maintained state — list membership AND codes come
    ONLY from the index, never re-encoded at query time — then the exact
    rerank against head vectors."""
    cents, codebook, _ = art
    codes = maintained.select(
        "vec_id", F.col("bucket").alias("centroid_id"),
        F.posexplode("codes").alias("s", "code"))
    return _ivfpq_rerank(_ivfpq_adc(probes, cents, codebook, codes), head,
                         probes)


_IVFPQ_QUANTIZER = _Quantizer(
    int_vec=_ivfpq_milli,
    train_and_seed=_ivfpq_train_and_seed,
    encode=lambda art, vecs, keys: _ivfpq_encode_frozen(
        vecs, art[0], art[1], keys),
    # PQ-native monitor: the changed rows' mean distortion against the
    # frozen-training mean.
    drifted=lambda art, s1, head, mean_dist: (
        mean_dist is not None and mean_dist > _IVFPQ_DIST_FACTOR * art[2]),
    retrain=_ivfpq_retrain,
    cents_range=(1, _IVFPQ_K),
    gen1_bad=lambda g: g.filter(F.size("codes") != _IVFPQ_NSUB),
    search=_ivfpq_maintained_search,
)


def _ann_ivfpq_maintained_oracle() -> str:
    """DuckDB twin of the frozen-generation IVF-PQ search over the
    mutated corpus: gen-0 training replays byte-shared from
    :func:`_ivfpq_ctes`; the mutated head re-encodes against the FROZEN
    centroids + codebooks (== the maintained index state, which
    ``index_consistent`` engine-verifies); probes rank by ADC and
    rerank exactly."""
    l2 = _ivfpq_l2_sql
    sub = _IVFPQ_SUBDIM
    return f"""
    WITH {_ivfpq_ctes()}, mut_iv AS (
        SELECT vec_id,
               list_transform(
                   CASE WHEN vec_id % 7 = 3
                        THEN list_transform(embedding, x -> -x)
                        ELSE embedding END,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0)
                             AS BIGINT)) AS iemb
        FROM embeddings
        WHERE NOT (vec_id % 5 = 0)
    ), m_lists AS (
        SELECT vec_id, iemb, centroid_id,
               list_transform(range(1, 65), i -> iemb[i] - cent[i]) AS res
        FROM (
            SELECT v.vec_id, v.iemb, c.centroid_id, c.cent,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {l2('v.iemb', 'c.cent', 64)}, c.centroid_id) AS rn
            FROM mut_iv v CROSS JOIN cents c
        ) WHERE rn = 1
    ), m_sub AS MATERIALIZED (
        SELECT vec_id, centroid_id, g.s AS s,
               list_slice(res, g.s * {sub} + 1, g.s * {sub} + {sub}) AS rsub
        FROM m_lists CROSS JOIN generate_series(0, {_IVFPQ_NSUB - 1}) AS g(s)
    ), m_enc AS MATERIALIZED (
        SELECT vec_id, centroid_id, s, code FROM (
            SELECT a.vec_id, a.centroid_id, a.s, c.code,
                   row_number() OVER (PARTITION BY a.vec_id, a.s
                       ORDER BY {l2('a.rsub', 'c.cvec', sub)}, c.code) AS rn
            FROM m_sub a JOIN codebook c ON c.s = a.s
        ) WHERE rn = 1
    ), m_probes AS (
        SELECT vec_id AS probe_id, iemb AS piemb FROM mut_iv
        WHERE vec_id IN (1, 2, 3)
    ), m_probed AS (
        SELECT probe_id, centroid_id, piemb, cent FROM (
            SELECT pr.probe_id, c.centroid_id, pr.piemb, c.cent,
                   row_number() OVER (PARTITION BY pr.probe_id
                       ORDER BY {l2('pr.piemb', 'c.cent', 64)}, c.centroid_id) AS rn
            FROM m_probes pr CROSS JOIN cents c
        ) WHERE rn <= {_IVFPQ_NPROBE}
    ), m_probe_sub AS (
        SELECT probe_id, centroid_id, g.s AS s,
               list_slice(list_transform(range(1, 65), i -> piemb[i] - cent[i]),
                          g.s * {sub} + 1, g.s * {sub} + {sub}) AS prsub
        FROM m_probed CROSS JOIN generate_series(0, {_IVFPQ_NSUB - 1}) AS g(s)
    ), m_adc AS MATERIALIZED (
        SELECT ps.probe_id, e.vec_id,
               CAST(sum({l2('ps.prsub', 'cb.cvec', sub)}) AS BIGINT) AS approx_d2
        FROM m_enc e
        JOIN m_probe_sub ps ON ps.centroid_id = e.centroid_id AND ps.s = e.s
        JOIN codebook cb ON cb.s = e.s AND cb.code = e.code
        WHERE e.vec_id <> ps.probe_id
        GROUP BY ps.probe_id, e.vec_id
    ), m_short AS (
        SELECT probe_id, vec_id, approx_d2 FROM (
            SELECT probe_id, vec_id, approx_d2,
                   row_number() OVER (PARTITION BY probe_id
                       ORDER BY approx_d2, vec_id) AS srn
            FROM m_adc
        ) WHERE srn <= {_IVFPQ_SHORT}
    ), m_rer AS (
        SELECT sh.probe_id, sh.vec_id, sh.approx_d2,
               {l2('v.iemb', 'pr.piemb', 64)} AS exact_d2
        FROM m_short sh
        JOIN mut_iv v ON v.vec_id = sh.vec_id
        JOIN m_probes pr ON pr.probe_id = sh.probe_id
    )
    SELECT CAST(probe_id AS BIGINT)  AS probe_id,
           CAST(vec_id AS BIGINT)    AS vec_id,
           CAST(approx_d2 AS BIGINT) AS approx_d2,
           CAST(exact_d2 AS BIGINT)  AS exact_d2,
           CAST(rn AS BIGINT)        AS rn,
           CAST(0 AS BIGINT)         AS generation,
           TRUE                      AS index_consistent,
           TRUE                      AS retrain_due,
           TRUE                      AS gen1_trained,
           TRUE                      AS vacuumed
    FROM (
        SELECT probe_id, vec_id, approx_d2, exact_d2,
               row_number() OVER (PARTITION BY probe_id
                   ORDER BY exact_d2, vec_id) AS rn
        FROM m_rer
    ) WHERE rn <= {_IVFPQ_TOPK}
    """


@query("q_ann_ivfpq_maintained", oracle=_ann_ivfpq_maintained_oracle())
def q_ann_ivfpq_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ INDEX MAINTENANCE UNDER MUTATIONS: ``q_ann_ivf_maintained``
    maintains a frozen COARSE quantizer; here BOTH trained artifacts
    freeze (coarse centroids AND the per-subspace PQ codebooks) and the
    LSM delta segments carry DELTA-ENCODED CODES, so a mutation updates a
    vector's list membership and its compressed representation in one
    idempotent commit.  The lifecycle is
    :func:`_ann_trained_maintained`'s; this key's quantizer
    (``_IVFPQ_QUANTIZER``):

    - **Frozen generation 0**: ``q_ann_ivfpq``'s exact-integer chain
      (one coarse Lloyd pass + ``_PQ_LLOYD_PASSES`` codebook passes)
      trains ONCE on the v1 corpus; the base segment stores per vector
      ``(list, codes[4])`` through the index's payload face
      (``payload="codes array<bigint>"``).
    - **Delta maintenance against the FROZEN quantizer**: changed rows
      are re-encoded (O(Δ·k) against broadcast centroids + codebooks,
      ``_ivfpq_encode_frozen``); rows whose list AND codes are unchanged
      are index-noise and dropped.
    - **Distortion-triggered codebook re-train**: ``retrain_due``
      composes the PQ-native monitor — the changed rows' mean
      quantization distortion vs the frozen-training mean
      (``_IVFPQ_DIST_FACTOR``; the negation mutation pushes changed
      residuals outside the trained codebook's support) — with
      ``generation_churn``.  The trigger FIRES and generation 1
      re-trains coarse + codebooks on the head corpus through the
      identical chain (``_ivfpq_train_encode``); the roll inherits the
      codes payload, and ``gen1_trained`` attests full coverage with
      complete code vectors.
    - **Search**: probes rank candidates by ADC using ONLY the
      maintained index state, then exact-rerank against head
      embeddings.  ``index_consistent`` engine-verifies the maintained
      ``(vec_id, list, codes)`` rows against a from-scratch frozen
      encode of the head corpus (row identity).

    The EXACT oracle replays the frozen generation end-to-end (training
    CTEs byte-shared with ``q_ann_ivfpq``; the mutated corpus re-encoded
    against the frozen artifacts; ADC + exact rerank); the re-train
    trigger and generation-1 completeness are boolean attestations, as
    in ``q_ann_ivf_maintained``.

    Scale: maintenance is O(Δ·(k + m·codes)) per commit; the index
    stores 4 codes + 1 list id per vector (the PQ compression that makes
    100 TB vector search feasible); search touches ~nprobe/k of the
    corpus via the bucketed, shuffle-free merge-on-read and reranks only
    shortlist-many full vectors per probe."""
    return _ann_trained_maintained(spark, sf_dir, "ann_ivfpq_maint",
                                   _IVFPQ_QUANTIZER)


@query(
    "q_ann_generations",
    oracle=f"""
    WITH mut AS (
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 3
                    THEN list_transform(embedding, x -> -x)
                    ELSE embedding END AS embedding
        FROM embeddings
        WHERE NOT (vec_id % 5 = 0)
    ), g0 AS (
        SELECT vec_id, ({_lsh_bucket_sql(8)}) AS bucket FROM mut
    ), g1 AS (
        SELECT vec_id, ({_lsh_bucket_sql(4)}) AS bucket FROM mut
    )
    SELECT 'gen0' AS face, CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT)    AS n_vecs,
           CAST(sum(vec_id) AS BIGINT) AS id_checksum,
           CAST(1 AS BIGINT) AS generation,
           CAST(2 AS BIGINT) AS trained_thru,
           TRUE AS rolled, TRUE AS gen0_pinned_matches
    FROM g0 GROUP BY bucket
    UNION ALL
    SELECT 'gen1' AS face, CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT)    AS n_vecs,
           CAST(sum(vec_id) AS BIGINT) AS id_checksum,
           CAST(1 AS BIGINT) AS generation,
           CAST(2 AS BIGINT) AS trained_thru,
           TRUE AS rolled, TRUE AS gen0_pinned_matches
    FROM g1 GROUP BY bucket
    """,
)
def q_ann_generations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATIONAL INDEX ROLLOVER, driver-attested (the oracle face
    of ``ivf_index_stream``'s machinery): the persisted ANN index
    lives as one LSM table per trained GENERATION under a root with an
    atomically-flipped pointer; mutations maintain the current
    generation until the churn monitor trips, then a re-train seeds
    generation k+1 and the pointer rolls — while reads pinned to the
    old generation stay correct (it is immutable after the roll).

    The fixture: the shared CoW mutation scenario feeds TWO bucket-grain
    commits; generation 0 (the 8-plane LSH lists of the v1 corpus,
    bucketed layout) absorbs both as delta segments; cumulative churn
    (~0.31 — updates re-bucket under negation, deletes tombstone)
    crosses the 0.2 floor and ``apply_generational_batch`` rolls:
    the 'retrain' is a 4-plane LSH re-index of the head corpus (a
    genuinely different geometry, the codebook-retrain idiom at LSH
    cost), seeded with ``base_seg=2`` so redelivery no-ops.

    Faces returned (both EXACT-replayed by the oracle from the mutation
    predicates): per-bucket (count, id-checksum) of the FROZEN
    generation-0 state (pinned read, post-mutations — must equal the
    8-plane buckets of the mutated corpus) and of the ROLLED
    generation-1 state (the 4-plane re-index); ``generation`` /
    ``trained_thru`` come from the pointer, ``rolled`` from the apply
    result, and ``gen0_pinned_matches`` attests that a read handle
    opened BEFORE the roll still reads generation-0 state after it.

    Scale: maintenance is O(Δ) per commit; the roll's re-train is the
    scheduled corpus pass; the pointer is one JSON replace; pinned
    readers never block the roll (generation dirs are append-only,
    retention via ``vacuum_generations``)."""
    import os

    from bossarrowstorageengine_spark.operators.scans import _scratch
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.ann_index import (
        read_feed,
        seed_generation,
    )

    register_arrowipc(spark)
    base = _scratch(sf_dir, "ann_generations")
    idx_root = os.path.join(base, "gens")
    feed = os.path.join(base, "feed")
    src = _ann_mutated_src(spark, sf_dir, base)
    # The gen-0 seed and the feed build both read the (now-immutable)
    # mutation history and write DISJOINT tables — concurrent Spark
    # jobs, so the fixture costs two jobs total, overlapped.
    run_concurrently(
        spark,
        lambda: seed_generation(
            idx_root, _ann_bucketed(_ann_snap(spark, src, "1")),
            layout_buckets=8),
        lambda: _ann_bucket_feed(spark, src, feed))

    def _retrain(sess: SparkSession) -> DataFrame:
        return _ann_snap(sess, src, None).select(
            "vec_id", _lsh_bucket_col(4).alias("bucket"))

    return _ann_generation_faces(spark, idx_root, read_feed(spark, feed),
                                 _retrain)


def _ann_generation_faces(spark: SparkSession, idx_root: str,
                          feed_rows: DataFrame, retrain,
                          **extra: "F.Column") -> DataFrame:
    """The rollover shared by ``q_ann_generations`` and
    ``q_ann_generations_payload``: open a search handle pinned to
    generation 0, apply the feed through ``apply_generational_batch``
    (its churn trips the 0.2 floor and ``retrain`` rolls generation 1),
    attest that the pinned handle still reads generation-0 state (row
    identity both ways), and return per-bucket (count, id-checksum,
    ``extra`` long sums) faces of both generations with the pointer's
    generation / trained_thru, the roll result and the attestation."""
    from bossarrowstorageengine_spark.streaming.ann_index import (
        apply_generational_batch,
        current_generation,
        read_index_generation,
    )

    pinned_gen, pinned = read_index_generation(spark, idx_root)
    res = apply_generational_batch(spark, feed_rows, 0, idx_root,
                                   retrain, churn_min=0.2)
    ptr = current_generation(idx_root)
    _, g0 = read_index_generation(spark, idx_root, gen=0)
    g0 = g0.localCheckpoint()   # feeds the pinned audit AND the face agg
    _, g1 = read_index_generation(spark, idx_root)
    pinned_matches = bool(pinned_gen == 0 and _same_rows(pinned, g0))

    def _face(df: DataFrame, tag: str) -> DataFrame:
        return (df.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n_vecs"),
                     F.sum("vec_id").cast("long").alias("id_checksum"),
                     *[F.sum(c).cast("long").alias(n)
                       for n, c in extra.items()])
                .select(F.lit(tag).alias("face"),
                        F.col("bucket").cast("int").alias("bucket"),
                        "n_vecs", "id_checksum", *extra))

    return (_face(g0, "gen0").unionByName(_face(g1, "gen1"))
            .select("face", "bucket", "n_vecs", "id_checksum", *extra,
                    F.lit(int(ptr["generation"])).cast("long")
                    .alias("generation"),
                    F.lit(int(ptr["trained_thru"])).cast("long")
                    .alias("trained_thru"),
                    F.lit(bool(res["rolled"])).alias("rolled"),
                    F.lit(pinned_matches)
                    .alias("gen0_pinned_matches")))


def _ann_generations_payload_oracle() -> str:
    """DuckDB twin of the PAYLOAD-carrying generation roll: gen-0
    pinned state = the head corpus re-encoded against the FROZEN v1
    artifacts (``_ivfpq_ctes``'s cents + codebook — exactly what the
    maintained deltas leave in the index), gen-1 = the zero-pass
    retrain chain (seed codebooks) on the head corpus, both reduced to
    per-list (count, id-checksum, position-weighted code-checksum)."""
    l2 = _ivfpq_l2_sql
    sub = _IVFPQ_SUBDIM
    return f"""
    WITH {_ivfpq_ctes()}, mut_iv AS (
        SELECT vec_id,
               list_transform(
                   CASE WHEN vec_id % 7 = 3
                        THEN list_transform(embedding, x -> -x)
                        ELSE embedding END,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0)
                             AS BIGINT)) AS iemb
        FROM embeddings
        WHERE NOT (vec_id % 5 = 0)
    ), m_lists AS (
        SELECT vec_id, centroid_id,
               list_transform(range(1, 65), i -> iemb[i] - cent[i]) AS res
        FROM (
            SELECT v.vec_id, v.iemb, c.centroid_id, c.cent,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {l2('v.iemb', 'c.cent', 64)}, c.centroid_id) AS rn
            FROM mut_iv v CROSS JOIN cents c
        ) WHERE rn = 1
    ), m_sub AS MATERIALIZED (
        SELECT vec_id, centroid_id, g.s AS s,
               list_slice(res, g.s * {sub} + 1, g.s * {sub} + {sub}) AS rsub
        FROM m_lists CROSS JOIN generate_series(0, {_IVFPQ_NSUB - 1}) AS g(s)
    ), m_enc AS MATERIALIZED (
        SELECT vec_id, centroid_id, s, code FROM (
            SELECT a.vec_id, a.centroid_id, a.s, c.code,
                   row_number() OVER (PARTITION BY a.vec_id, a.s
                       ORDER BY {l2('a.rsub', 'c.cvec', sub)}, c.code) AS rn
            FROM m_sub a JOIN codebook c ON c.s = a.s
        ) WHERE rn = 1
    ), g1cents0 AS (
        SELECT vec_id AS centroid_id, iemb AS cent FROM mut_iv
        WHERE vec_id < {_IVFPQ_K}
    ), g1assign0 AS (
        SELECT vec_id, iemb, centroid_id FROM (
            SELECT v.vec_id, v.iemb, c.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {l2('v.iemb', 'c.cent', 64)}, c.centroid_id) AS rn
            FROM mut_iv v CROSS JOIN g1cents0 c
        ) WHERE rn = 1
    ), g1cents AS MATERIALIZED (
        SELECT centroid_id, list(m ORDER BY d) AS cent FROM (
            SELECT centroid_id, g.d AS d,
                   CAST(round(CAST(sum(iemb[g.d + 1]) AS DOUBLE) / count(*), 0)
                        AS BIGINT) AS m
            FROM g1assign0 CROSS JOIN generate_series(0, 63) AS g(d)
            GROUP BY centroid_id, g.d
        ) GROUP BY centroid_id
    ), g1lists AS (
        SELECT vec_id, centroid_id,
               list_transform(range(1, 65), i -> iemb[i] - cent[i]) AS res
        FROM (
            SELECT v.vec_id, v.iemb, c.centroid_id, c.cent,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {l2('v.iemb', 'c.cent', 64)}, c.centroid_id) AS rn
            FROM mut_iv v CROSS JOIN g1cents c
        ) WHERE rn = 1
    ), g1sub AS MATERIALIZED (
        SELECT vec_id, centroid_id, g.s AS s,
               list_slice(res, g.s * {sub} + 1, g.s * {sub} + {sub}) AS rsub
        FROM g1lists CROSS JOIN generate_series(0, {_IVFPQ_NSUB - 1}) AS g(s)
    ), g1codebook AS MATERIALIZED (
        SELECT vec_id - {_IVFPQ_CODE_LO} AS code, s, rsub AS cvec
        FROM g1sub
        WHERE vec_id >= {_IVFPQ_CODE_LO} AND vec_id < {_IVFPQ_CODE_HI}
    ), g1enc AS (
        SELECT vec_id, centroid_id, s, code FROM (
            SELECT a.vec_id, a.centroid_id, a.s, c.code,
                   row_number() OVER (PARTITION BY a.vec_id, a.s
                       ORDER BY {l2('a.rsub', 'c.cvec', sub)}, c.code) AS rn
            FROM g1sub a JOIN g1codebook c ON c.s = a.s
        ) WHERE rn = 1
    ), g0_face AS (
        SELECT centroid_id AS bucket, count(*) AS n_vecs,
               sum(vec_id) AS id_checksum
        FROM m_lists GROUP BY centroid_id
    ), g0_codes AS (
        SELECT centroid_id AS bucket,
               sum(code * (s + 1)) AS code_checksum
        FROM m_enc GROUP BY centroid_id
    ), g1_face AS (
        SELECT centroid_id AS bucket, count(*) AS n_vecs,
               sum(vec_id) AS id_checksum
        FROM g1lists GROUP BY centroid_id
    ), g1_codes AS (
        SELECT centroid_id AS bucket,
               sum(code * (s + 1)) AS code_checksum
        FROM g1enc GROUP BY centroid_id
    )
    SELECT 'gen0' AS face, CAST(f.bucket AS INT) AS bucket,
           CAST(f.n_vecs AS BIGINT)        AS n_vecs,
           CAST(f.id_checksum AS BIGINT)   AS id_checksum,
           CAST(c.code_checksum AS BIGINT) AS code_checksum,
           CAST(1 AS BIGINT) AS generation,
           CAST(2 AS BIGINT) AS trained_thru,
           TRUE AS rolled, TRUE AS gen0_pinned_matches
    FROM g0_face f JOIN g0_codes c ON c.bucket = f.bucket
    UNION ALL
    SELECT 'gen1' AS face, CAST(f.bucket AS INT) AS bucket,
           CAST(f.n_vecs AS BIGINT)        AS n_vecs,
           CAST(f.id_checksum AS BIGINT)   AS id_checksum,
           CAST(c.code_checksum AS BIGINT) AS code_checksum,
           CAST(1 AS BIGINT) AS generation,
           CAST(2 AS BIGINT) AS trained_thru,
           TRUE AS rolled, TRUE AS gen0_pinned_matches
    FROM g1_face f JOIN g1_codes c ON c.bucket = f.bucket
    """


@query("q_ann_generations_payload",
       oracle=_ann_generations_payload_oracle())
def q_ann_generations_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAYLOAD-CARRYING GENERATIONAL ROLLOVER, driver-attested:
    ``q_ann_generations`` rolls a payload-less LSH
    index; this key rolls the CODES-carrying IVF-PQ face through the
    same pointer machinery — the delta segments are delta-encoded code
    vectors (the ``payload`` face), and the roll's re-train re-encodes
    the whole head corpus so generation 1 carries FRESH codes from a
    re-seeded codebook.

    The fixture: gen 0 = ``q_ann_ivfpq``'s trained artifacts on the v1
    corpus, seeded with ``payload="codes array<bigint>"`` — the gen-0
    fixture of ``q_ann_ivfpq_maintained`` (:func:`_ann_trained_gen0`
    with ``_IVFPQ_QUANTIZER``); the shared
    CoW mutation scenario yields two vector-grain commits whose changed
    rows are re-encoded against the FROZEN artifacts (only rows whose
    list or codes changed survive as deltas — index-noise is dropped);
    ``apply_generational_batch`` applies both commits, the churn
    monitor (~0.31 > 0.2) trips, and the re-train — the zero-pass
    (seed-codebook) chain of ``_ivfpq_train_encode`` on the head
    corpus, a genuinely different quantizer — rolls as a
    payload-carrying generation 1 via :func:`roll_generation`.

    Faces returned (both EXACT-replayed by the oracle): per-list
    (count, id-checksum, position-weighted code-checksum
    ``Σ codes[s]·(s+1)``) of the FROZEN gen-0 state (pinned read, post
    mutations — must equal the frozen re-encode of the head corpus)
    and of the ROLLED gen-1 state (the head-corpus zero-pass retrain);
    ``generation``/``trained_thru`` come from the pointer, ``rolled``
    from the apply result, and ``gen0_pinned_matches`` attests a read
    handle opened before the roll still reads gen-0 state — codes
    included — after it.

    Scale: identical envelope to ``q_ann_ivfpq_maintained`` — O(Δ·(k +
    m·codes)) maintenance against broadcast artifacts, the roll's
    re-train is the scheduled corpus pass, the pointer flip is one
    atomic JSON replace, and pinned readers never block the roll."""
    import os

    from bossarrowstorageengine_spark.operators.scans import _scratch
    from bossarrowstorageengine_spark.sources import register_arrowipc

    register_arrowipc(spark)
    base = _scratch(sf_dir, "ann_gens_payload")
    idx_root = os.path.join(base, "gens")
    q = _IVFPQ_QUANTIZER
    art, _, head, ch = _ann_trained_gen0(spark, sf_dir, base, idx_root, q)
    # Code-carrying deltas: changed rows re-encoded against the FROZEN
    # artifacts; unchanged (list, codes) pairs are index-noise.
    feed_rows, _ = _ann_delta_feed(
        spark, ch, lambda v, keys: q.encode(art, v, keys),
        os.path.join(base, "feed"))

    def _retrain(sess: SparkSession) -> DataFrame:
        # Zero-pass retrain on the head corpus: re-seeded coarse
        # centroids + SEED codebooks (a genuinely different quantizer,
        # the codebook-retrain idiom at seed cost) — fresh codes for
        # every surviving vector.
        _, _, _, _, enc1 = _ivfpq_train_encode(head, 0)
        return _index_rows(_ivfpq_codes(enc1), "codes")

    # Position-weighted code checksum Σ codes[s]·(s+1) per row.
    code_sum = F.aggregate(
        F.zip_with(F.col("codes"),
                   F.sequence(F.lit(1), F.size("codes")),
                   lambda c, i: c * i),
        F.lit(0).cast("long"), lambda a, x: a + x)
    return _ann_generation_faces(spark, idx_root, feed_rows, _retrain,
                                 code_checksum=code_sum)


@query(
    "q_purge_propagate",
    oracle=f"""
    WITH mut AS (
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 3
                    THEN list_transform(embedding, x -> -x)
                    ELSE embedding END AS embedding
        FROM embeddings
        WHERE NOT (vec_id % 5 = 0)
    ), b AS (
        SELECT vec_id, ({_lsh_bucket_sql(8)}) AS bucket FROM mut
    )
    SELECT CAST(bucket AS INT)          AS bucket,
           CAST(count(*) AS BIGINT)     AS n_vecs,
           CAST(sum(vec_id) AS BIGINT)  AS id_checksum,
           TRUE                         AS source_purged,
           TRUE                         AS feed_tombstoned,
           TRUE                         AS index_purged,
           TRUE                         AS mv_consistent,
           CAST(3 AS BIGINT)            AS src_purge_version,
           CAST(2 AS BIGINT)            AS feed_purge_commit,
           CAST(2 AS BIGINT)            AS index_purge_seg,
           CAST(3 AS BIGINT)            AS mv_purge_version
    FROM b GROUP BY bucket
    """,
)
def q_purge_propagate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURGE PROPAGATION — right-to-be-forgotten across the whole derived
    surface (SURVEY §7 round-13 runway item 3): ONE DELETE predicate
    (``vec_id % 5 = 0``) flows source → changefeed commit → MV version →
    persisted LSH index, and every derived table is ENGINE-VERIFIED to
    hold zero purged rows, each tagged with the version at which it
    purged them.  The composition a 100 TB training pipeline must prove:
    deleting from the source table is not enough — every downstream
    artifact (feed, aggregate MV, vector index) must converge, and the
    convergence must be auditable per artifact.

    The chain (all machinery from the existing keys, composed):
    - SOURCE: the CoW mutation fixture (UPDATE commit then the purge
      DELETE) — head version 3 holds zero purged rows, version 2 still
      held them (non-vacuity enforced);
    - FEED: the bucket-grain changefeed — every purged vector alive at
      commit 1's index state gets a ``delete`` row in commit 2
      (``feed_tombstoned``: tombstone count == purged-alive count);
    - INDEX: the LSM maintainer absorbs the feed; merge-on-read state
      holds zero purged vec_ids (``index_purged``), the tombstones
      landing in segment 2;
    - MV: a per-bucket (n_vecs, id_checksum) ledger rolled forward one
      version per commit WITHOUT rescanning the corpus — commit k's
      delta joins the feed rows against the index state at k-1 for old
      buckets (O(Δ) probe of a vec_id-keyed table), all three versions
      in ONE partitioned write job; version 3 read back must equal a
      direct aggregate of the purged corpus (``mv_consistent``).

    The EXACT oracle replays the final per-bucket state from the
    mutation predicates, so the hash pins every derived value; the
    booleans pin the purge audit.  Scale: every refresh arm is
    O(Δ + |MV|); the only corpus-sized passes are the seed build and
    the final audit — the production sampling arm."""
    import os

    from bossarrowstorageengine_spark.operators.scans import _scratch
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _manifest_versions,
    )
    from bossarrowstorageengine_spark.streaming.ann_index import (
        INDEX_SCHEMA,
        apply_index_batch,
        read_feed,
        read_index,
        seed_index,
    )

    register_arrowipc(spark)
    base = _scratch(sf_dir, "purge_prop")
    idx = os.path.join(base, "idx")
    mv_path = os.path.join(base, "mv")
    src, feed = _ann_mutation_feed(spark, sf_dir, base)
    seed_index(idx, _ann_bucketed(_ann_snap(spark, src, "1")),
               layout_buckets=8)   # shuffle-free read_index path
    apply_index_batch(read_feed(spark, feed), 0, idx)

    # --- MV ledger: one version per commit, deltas only ---------------
    def _mv_delta(k: int) -> DataFrame:
        touched = read_feed(spark, feed).filter(F.col("commit_seq") == k)
        old = (read_index(spark, idx, thru=k - 1)
               .join(touched.select("vec_id"), "vec_id")
               .select("bucket", F.lit(-1).alias("dn"),
                       (-F.col("vec_id")).alias("did")))
        new = (touched.filter(F.col("change") != "delete")
               .select("bucket", F.lit(1).alias("dn"),
                       F.col("vec_id").alias("did")))
        return (old.unionByName(new).groupBy("bucket")
                .agg(F.sum("dn").alias("dn"), F.sum("did").alias("did")))

    mv1 = read_index(spark, idx, thru=0).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("vec_id").cast("long").alias("id_checksum"))

    def _roll(prev: DataFrame, k: int) -> DataFrame:
        d = _mv_delta(k)
        return (prev.join(d, "bucket", "full_outer")
                .select("bucket",
                        (F.coalesce("n_vecs", F.lit(0))
                         + F.coalesce("dn", F.lit(0)))
                        .cast("long").alias("n_vecs"),
                        (F.coalesce("id_checksum", F.lit(0))
                         + F.coalesce("did", F.lit(0)))
                        .cast("long").alias("id_checksum"))
                .filter(F.col("n_vecs") > 0))

    mv2 = _roll(mv1, 1)
    mv3 = _roll(mv2, 2)
    ledger = None
    for k, frame in ((1, mv1), (2, mv2), (3, mv3)):
        tagged = frame.select(
            F.lit(k).cast("long").alias("mv_version"), "*")
        ledger = tagged if ledger is None else ledger.unionByName(tagged)
    (ledger.write.format("arrowipc").option("partitionBy", "mv_version")
     .option("compression", "lz4")
     .mode("append").save(mv_path))

    # --- purge audit (fresh load per probe) ----------------------------
    purged = "vec_id % 5 = 0"
    head_v = _manifest_versions(src)[-1]
    src_cnt = _row_counts(
        head=_ann_snap(spark, src, None).filter(purged),
        prev=_ann_snap(spark, src, str(head_v - 1)).filter(purged))
    source_purged = src_cnt["head"] == 0 and src_cnt["prev"] > 0

    n_alive_pre = (read_index(spark, idx, thru=1)
                   .filter(purged).count())
    # Count + high-water of the purge tombstones in ONE agg job.
    tomb = (read_feed(spark, feed)
            .filter((F.col("change") == "delete") & F.expr(purged))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max("commit_seq").alias("hw")).collect()[0])
    n_tombstoned = tomb["n"]
    feed_purge_commit = tomb["hw"] or 0
    feed_tombstoned = n_tombstoned == n_alive_pre and n_tombstoned > 0

    index_purged = read_index(spark, idx).filter(purged).count() == 0
    index_purge_seg = ((spark.read.format("arrowipc")
                        .schema(INDEX_SCHEMA).load(idx)
                        .filter(F.col("tombstone") & F.expr(purged))
                        .agg(F.max("seg")).collect()[0][0]) or 0)

    def _mv_back(ver: int) -> DataFrame:
        return (spark.read.format("arrowipc")
                .option("columns", "bucket,n_vecs,id_checksum,mv_version")
                .schema("bucket int, n_vecs long, id_checksum long, "
                        "mv_version long").load(mv_path)
                .filter(F.col("mv_version") == ver)
                .select("bucket", "n_vecs", "id_checksum"))

    direct = (_ann_bucketed(_ann_snap(spark, src, None))
              .groupBy("bucket").agg(
                  F.count(F.lit(1)).cast("long").alias("n_vecs"),
                  F.sum("vec_id").cast("long").alias("id_checksum")))
    mv_consistent = _same_rows(_mv_back(3), direct)
    mv_purge_version = ((spark.read.format("arrowipc")
                         .option("columns", "mv_version")
                         .schema("mv_version long").load(mv_path)
                         .agg(F.max("mv_version")).collect()[0][0]) or 0)

    return _mv_back(3).select(
        F.col("bucket").cast("int"),
        "n_vecs", "id_checksum",
        F.lit(source_purged).alias("source_purged"),
        F.lit(feed_tombstoned).alias("feed_tombstoned"),
        F.lit(index_purged).alias("index_purged"),
        F.lit(mv_consistent).alias("mv_consistent"),
        F.lit(int(head_v)).cast("long").alias("src_purge_version"),
        F.lit(int(feed_purge_commit)).cast("long")
        .alias("feed_purge_commit"),
        F.lit(int(index_purge_seg)).cast("long").alias("index_purge_seg"),
        F.lit(int(mv_purge_version)).cast("long")
        .alias("mv_purge_version"),
    )


@query(
    "q_purge_restore_guard",
    oracle=f"""
    WITH mut AS (
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 3
                    THEN list_transform(embedding, x -> -x)
                    ELSE embedding END AS embedding
        FROM embeddings
    ), b AS (
        SELECT vec_id, ({_lsh_bucket_sql(8)}) AS bucket FROM mut
    )
    SELECT CAST(bucket AS INT)          AS bucket,
           CAST(count(*) AS BIGINT)     AS n_vecs,
           CAST(sum(vec_id) AS BIGINT)  AS id_checksum,
           TRUE                         AS guard_fired,
           TRUE                         AS purged_until_unpurge,
           TRUE                         AS ledger_cleared,
           TRUE                         AS state_consistent,
           CAST(4 AS BIGINT)            AS src_restore_version,
           CAST(2 AS BIGINT)            AS purge_commit,
           CAST(3 AS BIGINT)            AS resurrect_commit
    FROM b GROUP BY bucket
    """,
)
def q_purge_restore_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURGE × RESTORE interaction (round-14 runway item 3, pulled
    forward): a source RESTORE to a PRE-PURGE version must not silently
    resurrect purged rows into derived tables.  The purge chain records
    its keys in a PURGE LEDGER at delete time; when the restore's diff
    commit tries to re-insert those keys, the guarded index maintainer
    (``streaming.ann_index.apply_index_batch_guarded``) REFUSES with
    :class:`PurgeViolation` — the index provably still holds zero
    purged rows after the refusal — and only an explicit
    ``allow_unpurge=True`` override (which removes the keys from the
    ledger in an audited overwrite commit) lets the re-insert through.
    This is the missing arm of the right-to-be-forgotten story: purge
    propagation (``q_purge_propagate``) makes derived tables forget;
    this key makes them STAY forgotten across the one maintenance
    operation that legitimately rewinds the source.

    Sequencing pinned by the engine-derived version columns: the purge
    is feed commit 2, the RESTORE publishes source head version 4
    (v2's content re-published), and the resurrection attempt is feed
    commit 3.  The backlog apply also proves the ledger comparison is
    POSITIONAL (``commit_seq > purged_at``): commit 1 re-buckets some
    keys that are purged LATER at commit 2, and those must not trip the
    guard.  The EXACT oracle replays the final per-bucket state (the
    restored, update-only corpus) from the mutation predicates.

    Scale: the ledger is purge-sized; the guard is one equi-join of the
    mutation-sized batch against it — O(Δ + purges) per commit."""
    import os

    from bossarrowstorageengine_spark.operators.scans import _scratch
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _manifest_versions,
    )
    from bossarrowstorageengine_spark.sources.maintenance import (
        restore_arrowipc,
    )
    from bossarrowstorageengine_spark.streaming.ann_index import (
        PurgeViolation,
        apply_index_batch_guarded,
        read_feed,
        read_index,
        read_purge_ledger,
        record_purge,
        seed_index,
    )

    register_arrowipc(spark)
    base = _scratch(sf_dir, "purge_guard")
    idx = os.path.join(base, "idx")
    ledger = os.path.join(base, "purge_ledger")
    src, feed = _ann_mutation_feed(spark, sf_dir, base)
    purged_pred = _ANN_IDX_DELETE_PRED                  # vec_id % 5 = 0

    # purge ledger written at delete time (feed commit 2)
    record_purge(_ann_snap(spark, src, "2").filter(purged_pred)
                 .select("vec_id"), ledger, purged_at=2)

    seed_index(idx, _ann_bucketed(_ann_snap(spark, src, "1")),
               layout_buckets=8)   # shuffle-free read_index path

    # backlog (commits 1-2): commit 1 re-buckets keys purged LATER —
    # the positional guard must NOT fire on them
    apply_index_batch_guarded(read_feed(spark, feed), 0, idx, ledger)

    # RESTORE the source past the purge, publish the resurrection diff
    res = restore_arrowipc(src, version=2)
    b3 = _ann_bucketed(_ann_snap(spark, src, "3"))
    b4 = _ann_bucketed(_ann_snap(spark, src, None))
    (_ann_idx_changes(b3, b4, 3)
     .write.format("arrowipc").option("partitionBy", "commit_seq")
     .option("compression", "lz4")
     .mode("append").save(feed))

    try:
        apply_index_batch_guarded(
            read_feed(spark, feed).filter(F.col("commit_seq") == 3), 1,
            idx, ledger)
        guard_fired = False
    except PurgeViolation:
        guard_fired = True
    still_purged = (read_index(spark, idx)
                    .filter(purged_pred).count() == 0)

    # the audited override: un-purge + apply
    info = apply_index_batch_guarded(
        read_feed(spark, feed).filter(F.col("commit_seq") == 3), 2,
        idx, ledger, allow_unpurge=True)
    ledger_cleared = (info["n_unpurged"] > 0
                      and read_purge_ledger(spark, ledger).count() == 0)

    state = read_index(spark, idx)
    direct = _ann_bucketed(_ann_snap(spark, src, None))
    consistent = _same_rows(state.select("vec_id", "bucket"), direct)
    # versions derived, not asserted: the purge position from the
    # PRE-override ledger (time travel — the un-purge overwrite kept it),
    # the resurrection position from the feed itself
    from bossarrowstorageengine_spark.streaming.ann_index import (
        LEDGER_SCHEMA,
    )
    purge_commit = (spark.read.format("arrowipc").option("version", "1")
                    .schema(LEDGER_SCHEMA).load(ledger)
                    .agg(F.max("purged_at")).collect()[0][0])
    resurrect_commit = (read_feed(spark, feed).agg(F.max("commit_seq"))
                        .collect()[0][0])

    return (read_index(spark, idx).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("vec_id").cast("long").alias("id_checksum"))
        .select(
            F.col("bucket").cast("int"),
            "n_vecs", "id_checksum",
            F.lit(guard_fired).alias("guard_fired"),
            F.lit(still_purged).alias("purged_until_unpurge"),
            F.lit(ledger_cleared).alias("ledger_cleared"),
            F.lit(consistent).alias("state_consistent"),
            F.lit(int(res["version"])).cast("long")
            .alias("src_restore_version"),
            F.lit(int(purge_commit)).cast("long").alias("purge_commit"),
            F.lit(int(resurrect_commit)).cast("long")
            .alias("resurrect_commit"),
        ))


def _subspaces(col: str) -> "F.Column":
    """Split a 64-dim integer vector column into the ``_IVFPQ_NSUB``
    16-dim subspace structs (shared by the encode and search stages)."""
    return F.explode(F.array(*[
        F.struct(
            F.lit(s).cast("int").alias("s"),
            F.slice(F.col(col), s * _IVFPQ_SUBDIM + 1,
                    _IVFPQ_SUBDIM).alias("rsub"))
        for s in range(_IVFPQ_NSUB)]))


def _ivfpq_encode(spark: SparkSession, sf_dir: str,
                  pq_lloyd_passes: int):
    """Stages (0)-(2) of :func:`q_ann_ivfpq` — coarse-quantizer training
    + assignment, residual subspace split, PQ codebook seeding +
    ``pq_lloyd_passes`` Lloyd refinements, residual encoding — factored
    with a configurable pass count so the distortion-improvement
    property test can compare trained vs seed codebooks.  Returns
    ``(iv, cents, cand_sub, codebook, enc)``; ``enc`` keeps the
    per-(vector, subspace) quantization error ``cd2``."""
    emb = load_table(spark, sf_dir, "embeddings")
    iv = emb.select("vec_id", _ivfpq_milli("embedding").alias("iemb"))
    return _ivfpq_train_encode(iv, pq_lloyd_passes)


def _ivfpq_train_encode(iv: DataFrame, pq_lloyd_passes: int):
    """Corpus-parametric body of :func:`_ivfpq_encode` (r15: the
    maintained face re-trains generation k+1 on the mutated head corpus
    through the identical chain).  ``iv`` is ``(vec_id, iemb)`` in
    milli-units; returns ``(iv, cents, cand_sub, codebook, enc)``."""
    cents0 = iv.filter(F.col("vec_id") < _IVFPQ_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("iemb").alias("cent"))

    # (0) ONE Lloyd refinement pass on the coarse quantizer (q_ann_ivf's
    # trained-centroid step composed in): assign every vector to its seed
    # centroid, recompute each centroid as the per-dim rounded integer
    # mean of its list — exact integer sums + one deterministic division,
    # so the oracle replays it bit-identically.  More passes drop in the
    # same way (q_ann_ivf runs 2).
    #
    # r17 argmin shape (guide §2.3 "aggregate before you shuffle"): the
    # k-candidate argmin is a groupBy + min(struct(d2, centroid_id)) —
    # lexicographic struct-min == the old row_number window's (d2 ASC,
    # centroid_id ASC) rank-1 row, both on exact integers, so the winner
    # is bit-identical — but the aggregate PARTIALLY AGGREGATES map-side:
    # the exchange carries ~1 row per vector instead of k full-width
    # candidate rows, and the per-partition sort the window needed is
    # gone.  iemb is constant across a vector's k candidate rows, so
    # any_value reads THE value (deterministic in value, order-free).
    assign0 = (
        iv.crossJoin(F.broadcast(cents0))
        .withColumn("d2", _il2(F.col("iemb"), F.col("cent")))
        .groupBy("vec_id")
        .agg(F.any_value("iemb").alias("iemb"),
             F.min(F.struct("d2", "centroid_id")).alias("_m"))
        .select("vec_id", "iemb", F.col("_m.centroid_id").alias("centroid_id"))
    )
    cents = (
        assign0.select("centroid_id", F.posexplode("iemb").alias("dim", "x"))
        .groupBy("centroid_id", "dim")
        .agg(F.round(F.sum("x").cast("double") / F.count(F.lit(1)), 0)
             .cast("long").alias("m"))
        .groupBy("centroid_id")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda st: st.m).alias("cent"))
        # 8 rows, but its lineage is a corpus-sized crossJoin+window;
        # both `lists` below and `probed` in _ivfpq_search broadcast it,
        # so materialize once instead of replaying assign0 per consumer.
        .localCheckpoint()
    )

    # (1) coarse assignment + residuals (same min-struct argmin; the
    # winning centroid's vector rides the struct so the residual is
    # computed after the aggregate — (d2, centroid_id) is already a
    # unique key per candidate, so `cent` never participates in the
    # comparison).
    lists = (
        iv.crossJoin(F.broadcast(cents))
        .withColumn("d2", _il2(F.col("iemb"), F.col("cent")))
        .groupBy("vec_id")
        .agg(F.any_value("iemb").alias("iemb"),
             F.min(F.struct("d2", "centroid_id", "cent")).alias("_m"))
        .select("vec_id", "iemb", F.col("_m.centroid_id").alias("centroid_id"),
                F.zip_with("iemb", F.col("_m.cent"),
                           lambda x, y: x - y).alias("res"))
    )

    cand_sub = lists.select(
        "vec_id", "centroid_id", _subspaces("res").alias("e")
    ).select("vec_id", "centroid_id", "e.s", "e.rsub")

    # (2) per-subspace codebooks + residual encoding.
    codebook = (
        cand_sub.filter((F.col("vec_id") >= _IVFPQ_CODE_LO)
                        & (F.col("vec_id") < _IVFPQ_CODE_HI))
        .select((F.col("vec_id") - _IVFPQ_CODE_LO).alias("code"),
                F.col("s").alias("cs"), F.col("rsub").alias("cvec")))
    # LLOYD-TRAIN the residual codebooks (VERDICT r6 item 3): the same
    # assign -> rounded-integer-mean step as the coarse quantizer above,
    # applied per subspace over residual sub-vectors.  Codes that
    # attract no residuals drop out (standard empty-cluster removal);
    # rounding BEFORE re-assignment keeps the DuckDB replay exact.
    # The per-(vector, subspace) code argmin uses the same min-struct
    # aggregate shape as the coarse argmin above (r17): identical winner
    # (exact-integer cd2, tie -> lower code), partial map-side agg
    # instead of a window over 16 candidate rows each.
    for _ in range(pq_lloyd_passes):
        assigned = (
            cand_sub.join(F.broadcast(codebook), F.col("cs") == F.col("s"))
            .withColumn("cd2", _il2(F.col("rsub"), F.col("cvec")))
            .groupBy("vec_id", "s")
            .agg(F.any_value("rsub").alias("rsub"),
                 F.min(F.struct("cd2", "code")).alias("_m"))
            .select("s", F.col("_m.code").alias("code"), "rsub")
        )
        codebook = (
            assigned.select("s", "code", F.posexplode("rsub").alias("d", "x"))
            .groupBy("s", "code", "d")
            .agg(F.round(F.sum("x").cast("double") / F.count(F.lit(1)), 0)
                 .cast("long").alias("m"))
            .groupBy(F.col("code"), F.col("s").alias("cs"))
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("d", "m"))),
                lambda st: st.m).alias("cvec"))
        )
    if pq_lloyd_passes:
        # Trained codebook is <= NSUB x NCODE rows but its lineage embeds
        # one full corpus assign per pass; `enc` here and the ADC join in
        # _ivfpq_search each re-derive it otherwise (the +25% r7->r8
        # bench move on q_ann_ivfpq — VERDICT r8 item 3).
        codebook = codebook.localCheckpoint()
    enc = (
        cand_sub.join(F.broadcast(codebook), F.col("cs") == F.col("s"))
        .withColumn("cd2", _il2(F.col("rsub"), F.col("cvec")))
        .groupBy("vec_id", "s")
        .agg(F.any_value("centroid_id").alias("centroid_id"),
             F.min(F.struct("cd2", "code")).alias("_m"))
        .select("vec_id", "centroid_id", "s",
                F.col("_m.code").alias("code"), F.col("_m.cd2").alias("cd2"))
    )
    return iv, cents, cand_sub, codebook, enc


def _ivfpq_search(iv: DataFrame, cents: DataFrame,
                  codebook: DataFrame, enc: DataFrame) -> DataFrame:
    """Stages (3)-(4) of :func:`q_ann_ivfpq`: nprobe list probing, ADC
    ranking against the code vectors, exact top-k rerank."""
    probes = _probe_rows(iv, 0, 1, 2)
    return _ivfpq_rerank(_ivfpq_adc(probes, cents, codebook, enc), iv,
                         probes)


def _ivfpq_adc(probes: DataFrame, cents: DataFrame, codebook: DataFrame,
               enc: DataFrame) -> DataFrame:
    """Stage (3) of :func:`q_ann_ivfpq` — nprobe list probing + ADC
    scoring of ``probes`` against the code vectors ``enc`` ``(vec_id,
    centroid_id, s, code)`` — factored so the recall report can count
    the ADC candidate set (the method's scan cost) before the shortlist
    cuts it, and the maintained key can score its index's codes."""
    wp = Window.partitionBy("probe_id").orderBy("d2", "centroid_id")
    probed = (
        probes.crossJoin(F.broadcast(cents))
        .withColumn("d2", _il2(F.col("piemb"), F.col("cent")))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select("probe_id", "centroid_id",
                F.zip_with("piemb", "cent", lambda x, y: x - y).alias("pres"))
    )
    probe_sub = probed.select(
        "probe_id", "centroid_id", _subspaces("pres").alias("e")
    ).select("probe_id", "centroid_id", "e.s", F.col("e.rsub").alias("prsub"))

    # Rename the codebook's key before the ADC join: enc's ``code`` column
    # DERIVES from codebook, so an unaliased code==code predicate would
    # depend on dataset-id disambiguation of identical expression ids.
    cb = codebook.select(
        "cs", F.col("code").alias("cb_code"), "cvec")
    return (
        enc.join(F.broadcast(probe_sub), ["centroid_id", "s"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .join(F.broadcast(cb),
              (F.col("cs") == F.col("s"))
              & (F.col("cb_code") == F.col("code")))
        .groupBy("probe_id", "vec_id")
        .agg(F.sum(_il2(F.col("prsub"), F.col("cvec")))
             .cast("long").alias("approx_d2"))
    )


def _ivfpq_rerank(adc: DataFrame, iv: DataFrame,
                  probes: DataFrame) -> DataFrame:
    """Stage (4) of :func:`q_ann_ivfpq`: ADC shortlist → exact rerank,
    top-``_IVFPQ_TOPK`` with both distances."""
    ws = Window.partitionBy("probe_id").orderBy("approx_d2", "vec_id")
    short = adc.withColumn("srn", F.row_number().over(ws)).filter(
        F.col("srn") <= _IVFPQ_SHORT).drop("srn")
    wr = Window.partitionBy("probe_id").orderBy("exact_d2", "vec_id")
    return (
        short.join(iv, "vec_id").join(F.broadcast(probes), "probe_id")
        .withColumn("exact_d2", _il2(F.col("iemb"), F.col("piemb")))
        .withColumn("rn", F.row_number().over(wr).cast("long"))
        .filter(F.col("rn") <= _IVFPQ_TOPK)
        .select(
            F.col("probe_id").cast("long"),
            F.col("vec_id").cast("long"),
            F.col("approx_d2").cast("long"),
            F.col("exact_d2").cast("long"),
            "rn",
        )
    )


def _ivfpq_encode_frozen(vecs: DataFrame, cents: DataFrame,
                         codebook: DataFrame,
                         part_cols: tuple[str, ...] = ("vec_id",)
                         ) -> DataFrame:
    """Encode arbitrary vectors against a FROZEN IVF-PQ quantizer
    (broadcast centroids + codebooks, O(rows·k)): nearest coarse
    centroid (tie → lower id), residual split, nearest code per
    subspace (tie → lower code) — ``_ivfpq_encode``'s assignment rules
    with an explicit window key so per-commit delta encoding can key on
    ``(vec_id, commit_seq)``.  Returns ``(*part_cols, centroid_id,
    codes array<bigint> ordered by subspace, dist = total squared
    quantization error)``."""
    # Same min-struct argmin shape as _ivfpq_train_encode (r17): exact-
    # integer distances, lexicographic struct-min == the old window's
    # rank-1 row, partial map-side aggregation instead of a full-width
    # candidate shuffle + sort.
    lists = (
        vecs.crossJoin(F.broadcast(cents))
        .withColumn("d2", _il2(F.col("iemb"), F.col("cent")))
        .groupBy(*part_cols)
        .agg(F.any_value("iemb").alias("iemb"),
             F.min(F.struct("d2", "centroid_id", "cent")).alias("_m"))
        .select(*part_cols, F.col("_m.centroid_id").alias("centroid_id"),
                F.zip_with("iemb", F.col("_m.cent"),
                           lambda x, y: x - y).alias("res")))
    sub = lists.select(
        *part_cols, "centroid_id", _subspaces("res").alias("e")
    ).select(*part_cols, "centroid_id", "e.s", "e.rsub")
    enc = (
        sub.join(F.broadcast(codebook), F.col("cs") == F.col("s"))
        .withColumn("cd2", _il2(F.col("rsub"), F.col("cvec")))
        .groupBy(*part_cols, "s")
        .agg(F.any_value("centroid_id").alias("centroid_id"),
             F.min(F.struct("cd2", "code")).alias("_m"))
        .select(*part_cols, "centroid_id", "s",
                F.col("_m.code").alias("code"),
                F.col("_m.cd2").alias("cd2")))
    return _ivfpq_codes(enc, part_cols)


def _ivfpq_codes(enc: DataFrame,
                 keys: tuple[str, ...] = ("vec_id",)) -> DataFrame:
    """Per-(vector, subspace) codes ``(*keys, centroid_id, s, code, cd2)``
    folded into one row per vector: ``(*keys, centroid_id, codes
    array<bigint> ordered by subspace, dist = total squared
    quantization error)``."""
    return (enc.groupBy(*keys, "centroid_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("s", "code"))),
                lambda st: st.code).alias("codes"),
                F.sum("cd2").cast("long").alias("dist")))


#: Min chunk size (tokens) shared by the CDC dedup faces: the batch
#: report (q_dedup_chunk_cdc keeps its literal 5 with a pointer here —
#: it is driver-attested and the value is pinned by this constant's
#: consumers), the incremental batch face (q_dedup_chunk_incremental),
#: and the streaming probe (streaming.chunk_dedup.MIN_TOKENS aliases
#: this).  One value, or the oracle gate and the stream silently
#: disagree on the floor.
_CDC_MIN_TOKENS = 5


def _cdc_chunks(d: DataFrame) -> DataFrame:
    """Content-defined chunking core over any ``(doc_id, text)`` frame:
    rolling md5 over each 3-token gram, boundary where it hits
    ``0 mod 8`` (a boundary after token ``i`` closes the current chunk).
    Returns ``(doc_id, chunk_id, chunk_hash, n_tokens)``.

    Entirely ARRAY-SIDE: boundary positions, chunk spans, and chunk
    hashes are one JVM higher-order expression per document — no token
    explode, no per-doc window, no shuffle (the first version windowed
    the exploded token stream and went super-linear: 5.9x for a 10x SF
    step; this shape scans and moves nothing).  Factored so the
    shift-robustness property test can drive it with edited copies of
    one document."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)

    def md5i(g: "F.Column") -> "F.Column":
        return F.conv(F.substring(F.md5(g), 1, 6), 16, 10).cast("long")

    # Docs under 3 tokens have no gram window, hence no boundary (Spark's
    # sequence(3, n) counts DOWN when n < 3 — guard, don't rely on it).
    bpos = F.when(n >= 3, F.filter(
        F.sequence(F.lit(3), n),
        lambda i: md5i(F.concat_ws(
            " ", F.element_at(toks, i - 2), F.element_at(toks, i - 1),
            F.element_at(toks, i))) % 8 == 0)
    ).otherwise(F.array().cast("array<int>"))
    starts = F.concat(F.array(F.lit(1)), F.transform(bpos, lambda b: b + 1))
    ends = F.concat(bpos, F.array(n))
    spans = F.filter(
        F.zip_with(starts, ends,
                   lambda s, e: F.struct(s.alias("s"), e.alias("e"))),
        lambda z: z.e >= z.s)
    chunks_arr = F.transform(spans, lambda z: F.struct(
        F.md5(F.concat_ws(" ", F.slice(toks, z.s, z.e - z.s + 1)))
        .alias("chunk_hash"),
        (z.e - z.s + 1).alias("n_tokens")))
    return d.select(
        "doc_id", F.posexplode(chunks_arr).alias("chunk_id", "c")
    ).select("doc_id", "chunk_id", "c.chunk_hash", "c.n_tokens")


@query(
    "q_dedup_chunk_cdc",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), tok AS (
        SELECT doc_id, i AS pos, t[i] AS w,
               CASE WHEN i >= 3
                    THEN t[i-2] || ' ' || t[i-1] || ' ' || t[i] END AS gram
        FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
    ), flagged AS (
        SELECT doc_id, pos, w,
               CASE WHEN gram IS NOT NULL AND
                    CAST(('0x' || substr(md5(gram), 1, 6)) AS BIGINT) % 8 = 0
                    THEN 1 ELSE 0 END AS boundary
        FROM tok
    ), chunked AS (
        SELECT doc_id, pos, w,
               COALESCE(sum(boundary) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS chunk_id
        FROM flagged
    ), chunks AS (
        SELECT doc_id, chunk_id,
               md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash,
               count(*) AS n_tokens
        FROM chunked GROUP BY doc_id, chunk_id
    )
    SELECT chunk_hash,
           CAST(count(*) AS BIGINT)                AS n_occ,
           CAST(count(DISTINCT doc_id) AS BIGINT)  AS n_docs,
           CAST(min(n_tokens) AS BIGINT)           AS min_tokens,
           CAST(sum(doc_id) AS BIGINT)             AS id_checksum
    FROM chunks WHERE n_tokens >= 5
    GROUP BY chunk_hash HAVING count(*) >= 2
    """,
)
def q_dedup_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (CDC) dedup — the rolling-hash boundary
    scheme of rsync/LBFS/storage dedup, and the missing SHIFT-ROBUST
    member of the segment-dedup family: ``q_dedup_segment`` cuts at
    fixed 8-token offsets (one inserted token misaligns every later
    segment), ``q_dedup_span_sliding`` brute-forces overlap with stride
    windows; CDC instead cuts wherever ``md5`` of the local 3-token gram
    hits ``0 mod 8``, so boundaries move WITH the content and an edit
    perturbs only its own chunk.  Average chunk ≈ 8 tokens with no
    alignment coupling between documents.

    Emits the duplicated-chunk report (chunks of ≥ 5 tokens appearing
    ≥ 2 times): hash, occurrence and distinct-doc counts, and a doc-id
    checksum pinning WHICH documents share the chunk.  Tiny chunks are
    excluded from the report, not re-cut — production CDC enforces a
    min-chunk floor in the boundary scan; the declarative form filters
    instead, which changes no boundary and keeps both engines exact.

    Determinism: boundaries and chunk hashes are md5 arithmetic on the
    same text in both engines; the in-chunk token order is pinned by
    position sort.

    Scale: one per-doc window pass (tokens shuffle once, partitioned by
    doc — state bounded by doc length), then a distinct-chunk-hash
    aggregate; the report shuffle carries one row per DISTINCT chunk,
    never token streams.  At 100 TB this is the standard CDC index
    build: linear scan, chunk-hash-bucketed index, no pair expansion."""
    return (
        _cdc_chunks(fan_out(load_table(spark, sf_dir, "documents"),
                            "doc_id"))
        .filter(F.col("n_tokens") >= 5)
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .filter(F.col("n_occ") >= 2)
    )


# ---------------------------------------------------------------------------
# End-to-end dedup DECISION pipeline (VERDICT r8 item 7): LSH candidates ->
# exact-Jaccard verify -> connected components -> per-cluster keeper ->
# keep/drop table with the reclaimed-bytes report.
# ---------------------------------------------------------------------------

#: Pipeline LSH shape: 16 permutations in 8 bands of 2 rows — deliberately
#: MORE PERMISSIVE than q_dedup_near's 4x4 (a 2-row band collides on much
#: weaker similarity), so the exact-verification stage has real work to do:
#: at sf0.01 the 8x2 candidates include ~17% false positives the verify
#: stage rejects, the FineWeb/CCNet production split of cheap-recall LSH +
#: exact-precision verify.
_PIPE_NPERM = 16
_PIPE_ROWS_PER_BAND = 2
#: Exact-Jaccard acceptance threshold for a candidate pair to become a
#: duplicate edge (true near-dups in the synthetic corpus sit >= 0.8;
#: LSH false positives sit < 0.1 — 0.5 splits them with margin).
_PIPE_TAU = 0.5


def _dedup_pipeline_ctes() -> str:
    """The WITH-body shared by the two pipeline oracles: generated
    minhash/band CTEs (:func:`_dedup_near_oracle`'s scheme at the
    pipeline's 8x2 band shape), exact-Jaccard verification restricted to
    the candidate pairs, and recursive-CTE connected components ending at
    ``members(doc_id, cluster_id)`` (the ``q_dedup_cluster`` idiom)."""
    n_bands = _PIPE_NPERM // _PIPE_ROWS_PER_BAND
    perms = ", ".join(
        f"min(({a} * h0 + {b}) % {_MINHASH_P}) AS h{j}"
        for j, (a, b) in enumerate(_minhash_coeffs(_PIPE_NPERM)))
    bands = ", ".join(
        "md5(concat_ws(',', {b}, {hs})) AS sig{b}".format(
            b=b, hs=", ".join(f"h{b * _PIPE_ROWS_PER_BAND + r}"
                              for r in range(_PIPE_ROWS_PER_BAND)))
        for b in range(n_bands))
    sig_union = " UNION ALL ".join(
        f"SELECT doc_id, sig{b} AS sig FROM bands" for b in range(n_bands))
    return f"""
    WITH RECURSIVE sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i : i + 2], ' '))) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), h0s AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
                   % {_MINHASH_P} AS h0
        FROM sh
    ), mh AS (
        SELECT doc_id, {perms} FROM h0s GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, {bands} FROM mh
    ), sigs AS ({sig_union}),
    sig_ok AS (
        SELECT sig FROM sigs GROUP BY sig
        HAVING count(*) > 1 AND count(*) <= {_LSH_BUCKET_CAP}
    ),
    sig_hot AS (
        -- star-split arm: hot buckets pair members with the bucket
        -- minimum only (mirrors _lsh_candidate_pairs)
        SELECT sig, min(doc_id) AS rep FROM sigs GROUP BY sig
        HAVING count(*) > {_LSH_BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sig_ok o
            JOIN sigs a ON a.sig = o.sig
            JOIN sigs b ON b.sig = o.sig AND a.doc_id < b.doc_id
            UNION ALL
            SELECT h.rep, s.doc_id
            FROM sig_hot h JOIN sigs s ON s.sig = h.sig AND s.doc_id > h.rep
        )
    ), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                    JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY c.doc_a, c.doc_b
    ),
    edges AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
                     JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
              >= {_PIPE_TAU}
    ), e2 AS (
        SELECT doc_a AS u, doc_b AS v FROM edges
        UNION ALL SELECT doc_b, doc_a FROM edges
    ), walk AS (
        SELECT u AS node, u AS reach FROM (SELECT DISTINCT u FROM e2)
        UNION
        SELECT w.node, e2.v FROM walk w JOIN e2 ON w.reach = e2.u
    ), members AS (
        SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node
    )"""


def _dedup_pipeline_oracle() -> str:
    """DuckDB twin of the full decision pipeline: the shared CTE chain
    plus the keeper/reclaimed per-doc report."""
    return f"""{_dedup_pipeline_ctes()}, reclaim AS (
        SELECT m.cluster_id,
               sum(CASE WHEN m.doc_id <> m.cluster_id THEN d.n_chars
                        ELSE 0 END) AS reclaimed_chars
        FROM members m JOIN documents d USING (doc_id)
        GROUP BY m.cluster_id
    )
    SELECT CAST(m.doc_id AS BIGINT)         AS doc_id,
           CAST(m.cluster_id AS BIGINT)     AS cluster_id,
           CASE WHEN m.doc_id = m.cluster_id THEN 'keep' ELSE 'drop' END
                                            AS action,
           CAST(d.n_chars AS BIGINT)        AS n_chars,
           CAST(r.reclaimed_chars AS BIGINT) AS reclaimed_chars
    FROM members m JOIN documents d USING (doc_id)
    JOIN reclaim r ON r.cluster_id = m.cluster_id
    """


def _pipeline_edges(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Stages (1)-(2) of :func:`q_dedup_pipeline` over any
    ``(doc_id, text)`` frame → ``(candidates, verified_edges)``.

    ONE shingle pass feeds both stages: the distinct per-doc shingle
    frame is cached and reused for the minhash aggregation (min is
    idempotent over duplicates, so distinct shingles give the identical
    signature) AND the verification joins — without this the corpus
    scan + shingle HOF ran twice per invocation.  Factored so the
    rubber-stamp regression test can compare candidate and verified-edge
    counts directly."""
    sh = _shingles(d, 3).cache()

    # (1) permissive LSH candidates — q_dedup_near's bucket expansion at
    # the pipeline's 8x2 band shape, minhash fed from the cached shingle
    # frame (same arithmetic as _minhash_table).
    h0 = (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10)
        .cast("long") % _MINHASH_P
    )
    mh = sh.select("doc_id", h0.alias("h0x")).groupBy("doc_id").agg(*[
        F.min((F.lit(a) * F.col("h0x") + F.lit(b)) % _MINHASH_P)
        .alias(f"h{j}")
        for j, (a, b) in enumerate(_minhash_coeffs(_PIPE_NPERM))
    ])
    bands_long = _band_signatures(
        mh, _PIPE_NPERM, _PIPE_NPERM // _PIPE_ROWS_PER_BAND)
    # Capped bucket expansion (shared helper, _LSH_BUCKET_CAP hot-bucket
    # guard mirrored in the pipeline oracle CTEs).
    cand = _lsh_candidate_pairs(bands_long)

    # (2) exact-Jaccard verification restricted to candidates: intersect
    # via two keyed joins against the per-doc shingle sets (cost bounded
    # by candidates x shingles/doc), sizes via one per-doc count.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sha, "doc_a").join(shb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb")
                               - F.col("n_common"))
    edges = (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .filter(jac >= _PIPE_TAU)
        .select("doc_a", "doc_b")
    )
    return cand, edges


@query("q_dedup_pipeline", oracle=_dedup_pipeline_oracle())
def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup DECISION pipeline — the artifact a training-
    data pipeline actually ships (the FineWeb/CCNet dedup step), composed
    from the family's proven stages:

    1. **Candidates** (recall): MinHash-LSH at a deliberately permissive
       8-band x 2-row shape (vs ``q_dedup_near``'s strict 4x4) — cheap,
       bounded-bucket, catches everything remotely similar plus false
       positives.
    2. **Verify** (precision): exact shingle-set Jaccard computed ONLY
       for candidate pairs — the per-pair intersection join is keyed on
       (doc, shingle), so cost is candidates x shingles-per-doc, never
       corpus x corpus; pairs below ``_PIPE_TAU`` are rejected.
    3. **Cluster**: connected components over verified edges
       (min-label propagation, the ``q_dedup_cluster`` loop: keyed joins
       + ``localCheckpoint`` per round, convergence in graph-diameter
       rounds).
    4. **Decide**: each cluster keeps its minimum doc_id (deterministic
       canonical keeper) and drops the rest; the output is the per-doc
       keep/drop table with each cluster's reclaimed-bytes total — the
       row-level artifact downstream jobs apply and the report a
       curation review reads.

    Determinism: minhash/band arithmetic is the exact-int64 md5 scheme of
    ``q_dedup_near``; Jaccard is a ratio of exact counts compared against
    a rational threshold; keeper = min(doc_id).  The DuckDB oracle
    replays all four stages bit-identically (recursive CTE for the CC).

    Scale: every stage is the 100 TB-safe shape already attested for its
    standalone key — LSH buckets bound pair expansion, verification
    touches candidate pairs only, each CC round is two keyed shuffles
    with checkpoint-truncated lineage, and the final report is one
    cluster-partitioned window over member rows (clusters are small by
    construction).  No all-pairs step anywhere.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    _, edges = _pipeline_edges(d)

    # (3) connected components over verified edges (shared
    # min-label-propagation core, convergence-guarded).
    members = _cc_min_label(edges)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    m = members.join(docs, "doc_id")
    reclaimed = F.sum(
        F.when(F.col("doc_id") != F.col("cluster_id"), F.col("n_chars"))
        .otherwise(F.lit(0))
    ).over(Window.partitionBy("cluster_id"))
    return m.select(
        F.col("doc_id").cast("long"),
        F.col("cluster_id").cast("long"),
        F.when(F.col("doc_id") == F.col("cluster_id"), F.lit("keep"))
        .otherwise(F.lit("drop")).alias("action"),
        F.col("n_chars").cast("long"),
        reclaimed.cast("long").alias("reclaimed_chars"),
    )


def _dedup_apply_oracle() -> str:
    """DuckDB twin of the APPLY step: the shared pipeline CTE chain, then
    every document classified (docs in no cluster are implicitly kept)
    and rolled up per (lang, source)."""
    return f"""{_dedup_pipeline_ctes()}, decided AS (
        SELECT d.lang, d.source, d.n_chars,
               CASE WHEN m.doc_id IS NOT NULL AND m.doc_id <> m.cluster_id
                    THEN 'drop' ELSE 'keep' END AS action
        FROM documents d LEFT JOIN members m USING (doc_id)
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT)                          AS n_docs,
           CAST(sum(CASE WHEN action = 'keep' THEN 1 ELSE 0 END)
                AS BIGINT)                                   AS n_kept,
           CAST(sum(CASE WHEN action = 'drop' THEN 1 ELSE 0 END)
                AS BIGINT)                                   AS n_dropped,
           CAST(sum(CASE WHEN action = 'keep' THEN n_chars ELSE 0 END)
                AS BIGINT)                                   AS chars_kept,
           CAST(sum(CASE WHEN action = 'drop' THEN n_chars ELSE 0 END)
                AS BIGINT)                                   AS chars_reclaimed
    FROM decided
    GROUP BY lang, source
    """


@query("q_dedup_apply", oracle=_dedup_apply_oracle())
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the dedup decision table to the corpus — the step after
    :func:`q_dedup_pipeline`: the per-doc keep/drop table joins back to
    the full documents table (docs in no duplicate cluster are kept by
    definition) and the deduplicated corpus is summarized per
    (lang, source) — documents in/kept/dropped and characters
    retained/reclaimed.  This is the acceptance report a curation run
    publishes before the physical rewrite, and it proves the decision
    table composes with the corpus (the keep/drop rows are not a
    dead-end artifact).

    Scale: the decision table is duplicate-cluster-sized (orders of
    magnitude smaller than the corpus — here it broadcasts; at 100 TB it
    is a keyed join on doc_id against a table still ~1000x smaller than
    the corpus), and the rollup is an ordinary partial->final aggregate
    on low-cardinality keys.  The corpus is scanned once.
    """
    decisions = q_dedup_pipeline(spark, sf_dir).select("doc_id", "action")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    # No broadcast HINT on the decision table: it is duplicate-cluster-
    # sized, which is tiny here but can be a double-digit percentage of
    # a real crawl — a hard hint would force an OOM-prone broadcast at
    # 100 TB, while AQE broadcasts it at runtime whenever it actually
    # fits and falls back to a keyed join when it doesn't.
    decided = (
        d.join(decisions, "doc_id", "left")
        .withColumn("action", F.coalesce(F.col("action"), F.lit("keep")))
    )
    keep = F.col("action") == "keep"
    return decided.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(keep.cast("long")).cast("long").alias("n_kept"),
        F.sum((~keep).cast("long")).cast("long").alias("n_dropped"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
        .cast("long").alias("chars_kept"),
        F.sum(F.when(~keep, F.col("n_chars")).otherwise(0))
        .cast("long").alias("chars_reclaimed"),
    )


def _chunk_incr_ctes() -> str:
    """Shared WITH-body of the chunk-dedup incremental oracles: the CDC
    chunking replay (rolling-md5 3-gram boundaries), the doc_id % 2
    two-batch split, the first-occurrence rank, and the per-(batch, doc)
    ``report`` — consumed by ``q_dedup_chunk_incremental`` (the report
    itself) and ``q_dedup_chunk_apply`` (decisions over it)."""
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), tok AS (
        SELECT doc_id, i AS pos, t[i] AS w,
               CASE WHEN i >= 3
                    THEN t[i-2] || ' ' || t[i-1] || ' ' || t[i] END AS gram
        FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
    ), flagged AS (
        SELECT doc_id, pos, w,
               CASE WHEN gram IS NOT NULL AND
                    CAST(('0x' || substr(md5(gram), 1, 6)) AS BIGINT) % 8 = 0
                    THEN 1 ELSE 0 END AS boundary
        FROM tok
    ), chunked AS (
        SELECT doc_id, pos, w,
               COALESCE(sum(boundary) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS chunk_id
        FROM flagged
    ), chunks AS (
        SELECT doc_id, chunk_id,
               md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash,
               count(*) AS n_tokens
        FROM chunked GROUP BY doc_id, chunk_id
    ), occ AS (
        SELECT doc_id % 2 AS batch_id, doc_id, chunk_hash, n_tokens,
               row_number() OVER (PARTITION BY chunk_hash
                   ORDER BY doc_id % 2, doc_id, chunk_id) AS occ
        FROM chunks WHERE n_tokens >= {_CDC_MIN_TOKENS}
    ), report AS (
        SELECT CAST(batch_id AS BIGINT)        AS batch_id,
               CAST(doc_id AS BIGINT)          AS doc_id,
               CAST(count(*) AS BIGINT)        AS n_chunks,
               CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
                                               AS n_dup_chunks,
               CAST(sum(CASE WHEN occ > 1 THEN n_tokens ELSE 0 END)
                    AS BIGINT)                 AS dup_tokens
        FROM occ
        GROUP BY batch_id, doc_id
    )"""


@query(
    "q_dedup_chunk_incremental",
    oracle=f"""{_chunk_incr_ctes()}
    SELECT batch_id, doc_id, n_chunks, n_dup_chunks, dup_tokens
    FROM report
    """,
)
def q_dedup_chunk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch oracle face of the STREAMING CDC chunk-dedup report
    (``streaming.chunk_dedup`` — the ``q_stream_interval_join`` pattern
    of gating a harness-only streaming family through the driver's
    DuckDB diff): the corpus split into two deterministic micro-batches
    (``doc_id % 2``), chunked with the same ``_cdc_chunks`` core, and
    each chunk occurrence classified exactly as the streaming probe
    does — a DUP iff an earlier occurrence exists in
    ``(batch, doc_id, chunk_id)`` order, i.e. it was in the persistent
    index (an earlier batch) or earlier in its own batch.  Output is the
    per-(batch, doc) report the stream sinks; the pytest differential
    additionally pins this table equal to ``chunk_dedup_batch``'s actual
    parquet output over the same split.

    Scale: one chunking pass + ONE chunk_hash-keyed window (the
    first-occurrence rank) + a per-doc aggregate — the same linear
    index-build shape as ``q_dedup_chunk_cdc``; the streaming runtime
    replaces the window with an index semi-join, same semantics.
    """
    chunks = (
        _cdc_chunks(fan_out(load_table(spark, sf_dir, "documents"),
                            "doc_id"))
        .filter(F.col("n_tokens") >= _CDC_MIN_TOKENS)
        .withColumn("batch_id", (F.col("doc_id") % 2).cast("long"))
    )
    w = Window.partitionBy("chunk_hash").orderBy(
        "batch_id", "doc_id", "chunk_id")
    occ = chunks.withColumn("occ", F.row_number().over(w))
    dup = F.col("occ") > 1
    return occ.groupBy("batch_id", F.col("doc_id").cast("long").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(dup.cast("long")).cast("long").alias("n_dup_chunks"),
        F.sum(F.when(dup, F.col("n_tokens")).otherwise(0)).cast("long")
        .alias("dup_tokens"),
    )


#: Chunk-grain apply thresholds: a doc whose chunks are ALL already
#: stored is dropped outright; one at or above this duplicated-chunk
#: share (permille, integer arithmetic) is rewritten to reference the
#: chunk store; below it the doc is kept as-is (rewrite churn would cost
#: more than the dedup saves).
_CHUNK_APPLY_REWRITE_PERMILLE = 500


@query(
    "q_dedup_chunk_apply",
    oracle=f"""{_chunk_incr_ctes()}, decided AS (
        SELECT batch_id, n_chunks, n_dup_chunks, dup_tokens,
               CASE WHEN n_dup_chunks = n_chunks THEN 'drop'
                    WHEN (n_dup_chunks * 1000) // n_chunks
                         >= {_CHUNK_APPLY_REWRITE_PERMILLE} THEN 'rewrite'
                    ELSE 'keep' END AS action
        FROM report
    )
    SELECT batch_id, action,
           CAST(count(*) AS BIGINT)          AS n_docs,
           CAST(sum(n_chunks) AS BIGINT)     AS chunks_total,
           CAST(sum(n_dup_chunks) AS BIGINT) AS chunks_dup,
           CAST(sum(CASE WHEN action <> 'keep' THEN dup_tokens ELSE 0 END)
                AS BIGINT)                   AS tokens_reclaimed
    FROM decided
    GROUP BY batch_id, action
    """,
)
def q_dedup_chunk_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY step at the CHUNK grain — the ``q_dedup_apply`` pattern over
    :func:`q_dedup_chunk_incremental`'s per-doc dup ratios: each
    reported document becomes a storage decision (``drop`` when every
    chunk is already in the store, ``rewrite`` when at least
    ``_CHUNK_APPLY_REWRITE_PERMILLE``/1000 of its chunks are duplicates
    — worth re-pointing at the chunk store — else ``keep`` as-is), and
    the decisions roll up to the per-(batch, action) dedup-aware storage
    savings report: documents affected, chunk totals, and the tokens a
    rewrite/drop reclaims.  Docs whose chunks all fall under the CDC
    minimum never enter the chunk report, so no chunk-grain decision
    exists for them — by construction, not omission.

    Determinism: the ratio is integer permille (``* 1000 div n_chunks``
    both engines); thresholds are exact integer comparisons.

    Scale: the report is corpus-row-sized but 3-longs narrow; the
    decision is a map-side CASE over it and the rollup is an ordinary
    partial->final aggregate on (batch, action) — nothing here rescans
    the corpus (the chunking cost lives in the report it consumes).  The
    pytest differential pins the same decisions computed from the
    STREAMING face's actual report parquet.
    """
    report = q_dedup_chunk_incremental(spark, sf_dir)
    permille = F.expr("n_dup_chunks * 1000 div n_chunks")
    decided = report.withColumn(
        "action",
        F.when(F.col("n_dup_chunks") == F.col("n_chunks"), "drop")
        .when(permille >= _CHUNK_APPLY_REWRITE_PERMILLE, "rewrite")
        .otherwise("keep"),
    )
    return decided.groupBy("batch_id", "action").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chunks").cast("long").alias("chunks_total"),
        F.sum("n_dup_chunks").cast("long").alias("chunks_dup"),
        F.sum(F.when(F.col("action") != "keep", F.col("dup_tokens"))
              .otherwise(0)).cast("long").alias("tokens_reclaimed"),
    )


_PURGE_TEXT_PRED = "doc_id % 3 = 0"


def _no_purged_members(surv: DataFrame, purged_ids: DataFrame) -> bool:
    """RTBF membership audit: True iff no purged ``doc_id`` appears in
    the (persisted, re-read) survivor cluster table.  Factored out so
    the negative arm is pytest-pinable — called on a table that DOES
    contain a purged member it returns False (ADVICE r13: the previous
    in-plan check audited the frame against the very anti-join that
    built it, so it could never fail)."""
    return surv.join(purged_ids, "doc_id").count() == 0


def _purge_text_oracle() -> str:
    """DuckDB twin of the document-space purge: the shared pipeline CTE
    chain to ``members``, then survivors, per-cluster keeper handoff
    (the pre-purge keeper IS ``cluster_id`` — min member id), and the
    constant-TRUE engine-check flags."""
    return f"""{_dedup_pipeline_ctes()}, purged AS (
        SELECT doc_id FROM documents WHERE {_PURGE_TEXT_PRED}
    ), surv AS (
        SELECT m.doc_id, m.cluster_id FROM members m
        WHERE m.doc_id NOT IN (SELECT doc_id FROM purged)
    ), clusters AS (
        SELECT cluster_id,
               min(doc_id) AS new_keeper,
               count(*)    AS n_survivors
        FROM surv GROUP BY cluster_id
    )
    SELECT CAST(cluster_id AS BIGINT)   AS cluster_id,
           CAST(new_keeper AS BIGINT)   AS new_keeper,
           CAST(n_survivors AS BIGINT)  AS n_survivors,
           cluster_id IN (SELECT doc_id FROM purged) AS keeper_changed,
           TRUE                         AS df_incremental_matches,
           TRUE                         AS no_purged_members
    FROM clusters"""


@query("q_purge_text", oracle=_purge_text_oracle())
def q_purge_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURGE IN DOCUMENT SPACE (round-14 runway item 1, pulled forward):
    the right-to-be-forgotten chain through the TEXT pipeline's derived
    artifacts, composing the proven near-dup machinery — where
    ``q_purge_propagate`` walked the vector side (feed → MV → ANN
    index), this walks the curation side:

    - **Dedup keeper handoff**: clusters come from the decision
      pipeline's own stages (LSH candidates → exact-Jaccard verify →
      connected components — ``_pipeline_edges`` + the shared CC core);
      the pre-purge keeper of a cluster IS its ``cluster_id`` (min
      member).  Purging a keeper hands the cluster to the minimum
      SURVIVING member (``new_keeper``, ``keeper_changed``); fully
      purged clusters disappear.  The EXACT oracle replays candidates,
      verification, components, and the handoff relationally.
    - **Document-frequency maintenance**: token df is updated
      INCREMENTALLY — df(all) minus the purged docs' per-token doc
      counts, an O(purged-docs) delta, never a corpus rescan — and
      engine-verified equal to a from-scratch df over the survivors
      (``df_incremental_matches``).
    - **Membership audit**: no purged doc_id survives in the PERSISTED
      cluster table (``no_purged_members``) — the survivor table is
      written out and RE-READ before auditing (ADVICE r13: checking the
      in-plan ``left_anti`` frame against the same purged set it was
      built from could never fail; the audit must attest the artifact
      downstream consumers actually read).

    Scale: the cluster stages are the attested bounded-bucket shapes;
    the df delta joins purged-doc tokens only; the audits are the
    periodic sampling arm.  Purge predicate ``{_PURGE_TEXT_PRED}`` —
    uniform over doc ids, so keeper handoffs provably occur (pytest
    asserts non-vacuity)."""
    import os

    from bossarrowstorageengine_spark.operators.scans import _scratch

    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    _, edges = _pipeline_edges(d)
    members = _cc_min_label(edges).localCheckpoint()

    purged_ids = d.filter(_PURGE_TEXT_PRED).select("doc_id")
    # Persist the post-purge cluster table, then derive the output AND
    # the membership audit from the re-read — an independent artifact,
    # so a bug that leaked purged members into the written table would
    # flip the flag (and a purged row planted in the table DOES flip
    # it; pytest pins that arm).
    out_dir = os.path.join(_scratch(sf_dir, "purge_text"), "clusters")
    (members.join(purged_ids, "doc_id", "left_anti")
     .write.mode("overwrite").parquet(out_dir))
    surv = spark.read.parquet(out_dir)
    clusters = surv.groupBy("cluster_id").agg(
        F.min("doc_id").cast("long").alias("new_keeper"),
        F.count(F.lit(1)).cast("long").alias("n_survivors"))

    # --- incremental df vs direct df (engine check) --------------------
    toks = d.select("doc_id", F.explode(F.array_distinct(
        F.split("text", " "))).alias("tok")).filter(F.length("tok") > 0)
    df_all = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    df_delta = (toks.join(purged_ids, "doc_id")
                .groupBy("tok").agg(F.count(F.lit(1)).alias("d")))
    df_inc = (df_all.join(df_delta, "tok", "left").na.fill(0)
              .select("tok", (F.col("df") - F.col("d")).alias("df"))
              .filter(F.col("df") > 0))
    df_direct = (toks.join(purged_ids, "doc_id", "left_anti")
                 .groupBy("tok").agg(F.count(F.lit(1)).alias("df")))
    df_ok = _same_rows(df_inc, df_direct)

    no_purged = _no_purged_members(surv, purged_ids)

    return clusters.join(
        purged_ids.select(F.col("doc_id").alias("cluster_id"))
        .withColumn("_p", F.lit(True)), "cluster_id", "left"
    ).select(
        F.col("cluster_id").cast("long"),
        "new_keeper", "n_survivors",
        F.coalesce("_p", F.lit(False)).alias("keeper_changed"),
        F.lit(df_ok).alias("df_incremental_matches"),
        F.lit(no_purged).alias("no_purged_members"),
    )


@query(
    "q_feed_index_cocompact",
    oracle=f"""
    WITH mut AS (
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 3
                    THEN list_transform(embedding, x -> -x)
                    ELSE embedding END AS embedding
        FROM embeddings
        WHERE NOT (vec_id % 5 = 0)
    ), b AS (
        SELECT vec_id, ({_lsh_bucket_sql(8)}) AS bucket FROM mut
    )
    SELECT CAST(bucket AS INT)          AS bucket,
           CAST(count(*) AS BIGINT)     AS n_vecs,
           CAST(sum(vec_id) AS BIGINT)  AS id_checksum,
           TRUE                         AS feed_content_unchanged,
           TRUE                         AS index_state_unchanged,
           TRUE                         AS highwater_preserved,
           TRUE                         AS replay_noop,
           TRUE                         AS both_reclaimed,
           TRUE                         AS both_clean
    FROM b GROUP BY bucket
    """,
)
def q_feed_index_cocompact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CO-COMPACTION SCHEDULE (round-14 runway item 3, pulled forward):
    ONE maintenance pass retires the same feed positions on BOTH sides
    of the CDC pair — ``compact_feed_thru(feed, thru=K)`` collapses the
    commit partitions and ``compact_index(idx, thru=K)`` folds the LSM
    segments those commits produced — so the pair shares one retention
    story: at 100 TB you schedule maintenance by FEED POSITION, not per
    artifact, and vacuum reclaims both tables in the same window.

    Engine-verified, all on fresh loads:
    - ``feed_content_unchanged``: per-(commit, change) row counts +
      vec_id checksums identical before/after the pass (pre side
      localCheckpoint'd);
    - ``index_state_unchanged``: ``read_index`` merge-on-read state
      identical before/after (the fold is last-wins + tombstone
      removal, provably a no-op on the logical state);
    - ``highwater_preserved``: the segment high-water still reads K
      after the fold (the apply ledger survives the directory
      collapse);
    - ``replay_noop``: re-applying the whole feed after the pass
      publishes NO new index version (idempotence under the compacted
      layout);
    - ``both_reclaimed`` / ``both_clean``: ``vacuum_arrowipc`` on both
      tables reclaims rewritten parts and leaves disk == retained
      manifest on each.

    The EXACT oracle replays the final per-bucket state from the
    mutation predicates — identical to ``q_ann_index_maintain``'s
    contract, now attested THROUGH the co-compaction + vacuum."""
    import os

    from bossarrowstorageengine_spark.operators.scans import _scratch
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _list_ipc_files,
        _manifest_versions,
        _read_manifest,
    )
    from bossarrowstorageengine_spark.sources.feed_maintain import (
        compact_feed_thru,
    )
    from bossarrowstorageengine_spark.sources.maintenance import (
        vacuum_arrowipc,
    )
    from bossarrowstorageengine_spark.streaming.ann_index import (
        FEED_SCHEMA,
        _seg_high_water,
        apply_index_batch,
        compact_index,
        read_feed,
        read_index,
        seed_index,
    )

    register_arrowipc(spark)
    base = _scratch(sf_dir, "cocompact")
    idx = os.path.join(base, "idx")
    src, feed = _ann_mutation_feed(spark, sf_dir, base)
    seed_index(idx, _ann_bucketed(_ann_snap(spark, src, "1")),
               layout_buckets=8)   # shuffle-free read_index path

    apply_index_batch(read_feed(spark, feed), 0, idx)

    def _feed_face():
        return (read_feed(spark, feed).groupBy("commit_seq", "change").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("vec_id").cast("long").alias("ck")))

    pre_feed = _feed_face().localCheckpoint()
    pre_state = read_index(spark, idx).localCheckpoint()

    # --- the co-compaction pass: one retention position, both tables --
    K = 2
    # schema=: the ANN feed's full on-disk layout (the bucket-grain
    # change rows) — the rewrite's internal read skips inference.
    res_f = compact_feed_thru(spark, feed, thru=K, schema=FEED_SCHEMA)
    res_i = compact_index(spark, idx, thru=K)
    if res_f["compacted"] == 0 or res_i["files_after"] >= res_i["files_before"]:
        raise RuntimeError(
            "co-compaction was vacuous — the fixture writes feed commits "
            "1..2 and index segments 0..2, so thru=2 must rewrite both")

    feed_ok = _same_rows(pre_feed, _feed_face())
    state_ok = _same_rows(pre_state, read_index(spark, idx))
    hw_ok = _seg_high_water(idx) == K

    n_ver = len(_manifest_versions(idx))
    apply_index_batch(read_feed(spark, feed), 1, idx)   # replay the whole feed
    replay_ok = len(_manifest_versions(idx)) == n_ver

    rec_f = vacuum_arrowipc(feed, keep_versions=1)
    rec_i = vacuum_arrowipc(idx, keep_versions=1)
    both_reclaimed = (rec_f["removed_files"] > 0
                      and rec_i["removed_files"] > 0)

    def _clean(path: str) -> bool:
        vis = set(_read_manifest(path, _manifest_versions(path)[-1]))
        return set(_list_ipc_files(path)) == vis

    both_clean = _clean(feed) and _clean(idx)

    return (read_index(spark, idx).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("vec_id").cast("long").alias("id_checksum"))
        .select(
            F.col("bucket").cast("int"),
            "n_vecs", "id_checksum",
            F.lit(feed_ok).alias("feed_content_unchanged"),
            F.lit(state_ok).alias("index_state_unchanged"),
            F.lit(hw_ok).alias("highwater_preserved"),
            F.lit(replay_ok).alias("replay_noop"),
            F.lit(both_reclaimed).alias("both_reclaimed"),
            F.lit(both_clean).alias("both_clean"),
        ))
