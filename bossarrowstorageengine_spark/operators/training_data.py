"""Training-data curation operators (SURVEY.md §2.B10 extensions): weighted
corpus sampling, sequence packing, train/val/test splitting, span-level
(segment) dedup, and embedding quantization.

These are the steps between "raw corpus" and "training shards" that the
B.10 dedup/similarity family doesn't cover.  Determinism discipline: every
pseudo-random choice derives from md5 arithmetic both engines replay
bit-identically (the trick proven by q_dedup_simhash/q_dedup_near), so each
query carries an EXACT DuckDB oracle.

Scale design (100 TB of documents):
- Weighted sampling is a distributed top-k by integer priority
  (``TakeOrderedAndProject``: per-partition heaps, driver merges k rows) —
  no global sort, no shuffle of the corpus.
- Sequence packing is per-shard (hash-bucketed): the running-offset window
  partitions by bucket, so no global ordering bottleneck exists and shards
  pack independently — exactly how production pipelines shard token streams.
- Segment dedup is an inverted-index join (segment-hash → doc), linear in
  postings; per-doc counting never expands pairs, so a stop-segment cannot
  create a quadratic bucket.
- Quantization is a pure map (JVM higher-order functions, no Python, no
  shuffle); output int8-ranged vectors are the ANN-at-scale storage format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bossarrowstorageengine_spark.catalog import load_table
from bossarrowstorageengine_spark.operators.registry import query

#: Portable 60-bit uniform hash of a document id: first 15 hex digits of
#: md5(doc_id-as-string), identical in Spark (`conv(substring(md5(..)))`)
#: and DuckDB (`CAST('0x' || substr(md5(..),1,15) AS BIGINT)`).
_H60 = "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
_H60_DUCK = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"


@query(
    "q_sample_weighted",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT)  AS doc_id,
           lang,
           CAST(n_chars AS BIGINT) AS n_chars,
           {_H60_DUCK} // n_chars  AS priority
    FROM documents
    ORDER BY priority, doc_id
    LIMIT 100
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement: k=100 docs, weight = n_chars.

    Priority sampling (Duffield–Lund–Thorup): each item draws a uniform
    u and keeps priority u/weight; the k smallest priorities form the
    weighted sample.  The uniform here is a 60-bit md5 integer and the
    division integer division, so both engines rank identically — a
    deterministic, resumable sample (re-running on an appended corpus
    keeps prior picks unless displaced).

    Scale: `ORDER BY .. LIMIT k` compiles to TakeOrderedAndProject —
    per-partition top-k heaps, only k rows per partition reach the driver
    merge.  No shuffle of the corpus, no global sort.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.expr(_H60).alias("h60"),
        )
        .withColumn("priority", F.expr("h60 div n_chars"))
        .orderBy("priority", "doc_id")
        .limit(100)
        .select("doc_id", "lang", "n_chars", "priority")
    )


@query(
    "q_pack_chunks",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               {_H60_DUCK}                               AS h60,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
        FROM documents
    ), placed AS (
        SELECT h60 % 32 AS bucket, doc_id, tokens,
               COALESCE(sum(tokens) OVER (
                   PARTITION BY h60 % 32 ORDER BY h60, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS tok_offset
        FROM t
    )
    SELECT CAST(bucket AS BIGINT)       AS bucket,
           CAST(tok_offset // 2048 AS BIGINT) AS chunk_id,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(tokens) AS BIGINT)  AS sum_tokens
    FROM placed
    GROUP BY 1, 2
    """,
)
def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate documents into fixed-size (2048-token)
    training chunks, sharded into 32 hash buckets.

    Per shard, docs are laid out in deterministic (md5, doc_id) order; a
    running token offset assigns each doc to chunk ``offset div 2048`` —
    the GPT-style "concatenate then split every L tokens" packing, with
    shard-local order replacing a (non-scalable) global order.

    Scale: the window partitions by bucket — with B buckets sized to the
    cluster there is exactly one shuffle (by bucket) and each task packs
    its shard sequentially, which is how token-shard writers behave in
    production.  No global sort; no driver involvement.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.expr(_H60).alias("h60"),
        F.size(F.split("text", " ")).cast("long").alias("tokens"),
    ).withColumn("bucket", F.expr("h60 % 32"))
    w = (
        Window.partitionBy("bucket")
        .orderBy("h60", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = t.withColumn(
        "tok_offset", F.coalesce(F.sum("tokens").over(w), F.lit(0)))
    return (
        placed.groupBy(
            F.col("bucket").cast("long").alias("bucket"),
            F.expr("tok_offset div 2048").alias("chunk_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").cast("long").alias("sum_tokens"),
        )
    )


@query(
    "q_train_test_split",
    oracle=f"""
    SELECT lang,
           CASE WHEN {_H60_DUCK} % 100 < 80 THEN 'train'
                WHEN {_H60_DUCK} % 100 < 90 THEN 'val'
                ELSE 'test' END          AS split,
           CAST(count(*) AS BIGINT)      AS n_docs,
           CAST(sum(n_chars) AS BIGINT)  AS sum_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-stable hash.

    Hash-range splitting (not row numbering) keeps the assignment stable
    under corpus growth and across engines — a doc's split never depends
    on what other docs exist.  Reported per language to expose stratum
    balance.

    Scale: a pure map plus one aggregation on (lang, split) — cardinality
    ≤ 3 × languages, so the final shuffle is trivially small.
    """
    d = load_table(spark, sf_dir, "documents")
    split = (
        F.when(F.expr(_H60) % 100 < 80, "train")
        .when(F.expr(_H60) % 100 < 90, "val")
        .otherwise("test")
    )
    return (
        d.groupBy("lang", split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


@query(
    "q_dedup_segment",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), seg AS (
        SELECT doc_id,
               md5(array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' ')) AS seg_hash
        FROM t, unnest(range((len(toks) + 7) // 8)) AS u(i)
    ), df AS (
        SELECT seg_hash, count(DISTINCT doc_id) AS n_docs
        FROM seg GROUP BY seg_hash
    ), per_doc AS (
        SELECT s.doc_id,
               count(DISTINCT s.seg_hash) AS n_dup_segments
        FROM seg s JOIN df ON s.seg_hash = df.seg_hash
        WHERE df.n_docs >= 2
        GROUP BY s.doc_id
    ), totals AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments
        FROM seg GROUP BY doc_id
    )
    SELECT CAST(t.doc_id AS BIGINT)        AS doc_id,
           t.n_segments,
           CAST(p.n_dup_segments AS BIGINT) AS n_dup_segments
    FROM totals t JOIN per_doc p ON t.doc_id = p.doc_id
    """,
)
def q_dedup_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup: find documents sharing exact 8-word segments.

    Fixed-granularity approximation of suffix-array substring dedup (the
    C4/RefinedWeb "repeated span" pass): each doc splits into consecutive
    non-overlapping 8-token segments, each segment hashes to md5, and a
    segment present in ≥2 distinct docs marks all its holders.  Output:
    per affected doc, total segments and how many distinct segments of it
    are shared.

    Scale: one shuffle builds the (seg_hash → doc) inverted index; the
    document-frequency table and the per-doc rollup are linear in postings
    — no pair expansion exists anywhere, so even a stop-segment (a span in
    millions of docs) costs O(postings), never O(postings²).
    """
    d = load_table(spark, sf_dir, "documents")
    seg = (
        d.select(
            "doc_id",
            F.split("text", " ").alias("toks"),
        )
        .withColumn(
            "seg_hash",
            F.explode(F.expr(
                "transform(sequence(0, CAST(ceil(size(toks) / 8.0) AS INT) - 1),"
                " i -> md5(array_join(slice(toks, i * 8 + 1, 8), ' ')))")),
        )
        .select("doc_id", "seg_hash")
    )
    df_tbl = (
        seg.groupBy("seg_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("seg_hash")
    )
    per_doc = (
        seg.join(df_tbl, "seg_hash")
        .groupBy("doc_id")
        .agg(F.countDistinct("seg_hash").cast("long").alias("n_dup_segments"))
    )
    totals = seg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"))
    return (
        totals.join(per_doc, "doc_id")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_segments",
            "n_dup_segments",
        )
    )


@query(
    "q_embedding_quantize",
    oracle="""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ), m AS (
        SELECT vec_id, label, vec,
               list_max(list_transform(vec, x -> abs(x))) AS max_abs
        FROM v
    ), q AS (
        SELECT vec_id, label, max_abs,
               list_transform(vec,
                   x -> CAST(round(x * (127.0 / max_abs)) AS INTEGER)) AS qv
        FROM m WHERE max_abs > 0
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(label AS BIGINT)  AS label,
           round(max_abs, 6)      AS max_abs,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
           CAST(list_aggregate(list_transform(qv, x -> abs(x)), 'sum')
                AS BIGINT)        AS q_l1
    FROM q
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage
    format ANN serving uses at scale (4× smaller, SIMD-friendly dot
    products).  Per vector: scale = 127 / max|x|, q[i] = round(x[i]·scale).
    Emits integer checksums (sum, L1) of the quantized vector so the
    oracle verifies every component without shipping arrays.

    Determinism: float32 components are widened to float64 before any
    arithmetic; *, /, abs, max and round-half-away are bit-identical IEEE
    operations in both engines, so the integer checksums match exactly.

    Scale: a pure JVM higher-order-function map — no Python, no shuffle;
    quantization throughput is scan-bound.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("vec"),
    )
    m = v.withColumn(
        "max_abs",
        F.expr("aggregate(vec, CAST(0.0 AS DOUBLE),"
               " (acc, x) -> greatest(acc, abs(x)))"),
    ).filter(F.col("max_abs") > 0)
    q = m.withColumn(
        "qv",
        F.expr("transform(vec, x -> CAST(round(x * (127.0D / max_abs)) AS INT))"),
    )
    return q.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("long").alias("label"),
        F.round("max_abs", 6).alias("max_abs"),
        F.expr("CAST(aggregate(qv, 0L, (acc, x) -> acc + x) AS BIGINT)")
        .alias("q_sum"),
        F.expr("CAST(aggregate(qv, 0L, (acc, x) -> acc + abs(x)) AS BIGINT)")
        .alias("q_l1"),
    )


@query(
    "q_split_contamination",
    oracle=f"""
    WITH split AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               CASE WHEN {_H60_DUCK} % 100 < 80 THEN 'train'
                    WHEN {_H60_DUCK} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ), seg AS (
        SELECT doc_id, split,
               md5(array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' ')) AS seg_hash
        FROM split, unnest(range((len(toks) + 7) // 8)) AS u(i)
    ), train_segs AS (
        SELECT DISTINCT seg_hash FROM seg WHERE split = 'train'
    ), test_hits AS (
        SELECT s.doc_id, s.seg_hash
        FROM seg s JOIN train_segs t ON s.seg_hash = t.seg_hash
        WHERE s.split = 'test'
    )
    SELECT CAST((SELECT count(*) FROM split WHERE split = 'test') AS BIGINT)
               AS n_test_docs,
           CAST((SELECT count(DISTINCT doc_id) FROM test_hits) AS BIGINT)
               AS n_contaminated,
           CAST((SELECT count(DISTINCT seg_hash) FROM test_hits) AS BIGINT)
               AS n_shared_segments
    """,
)
def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test contamination audit: test-split documents sharing an
    exact 8-token segment with any train-split document — the eval-leakage
    check every training corpus needs before a benchmark claim.  Composes
    the hash split of ``q_train_test_split`` with the segment index of
    ``q_dedup_segment``.

    Scale: one (seg_hash) shuffle joins test segments against the distinct
    train-segment index; counting is linear in postings.  The train index
    at 100 TB would be persisted once and probed by every eval batch."""
    d = load_table(spark, sf_dir, "documents")
    split = (
        F.when(F.expr(_H60) % 100 < 80, "train")
        .when(F.expr(_H60) % 100 < 90, "val")
        .otherwise("test")
    )
    seg = (
        d.select("doc_id", split.alias("split"),
                 F.split("text", " ").alias("toks"))
        .withColumn(
            "seg_hash",
            F.explode(F.expr(
                "transform(sequence(0, CAST(ceil(size(toks) / 8.0) AS INT) - 1),"
                " i -> md5(array_join(slice(toks, i * 8 + 1, 8), ' ')))")),
        )
        .select("doc_id", "split", "seg_hash")
    )
    train_segs = (
        seg.filter(F.col("split") == "train").select("seg_hash").distinct())
    test_hits = (
        seg.filter(F.col("split") == "test").join(train_segs, "seg_hash"))
    totals = seg.filter(F.col("split") == "test").agg(
        F.countDistinct("doc_id").cast("long").alias("n_test_docs"))
    hits = test_hits.agg(
        F.countDistinct("doc_id").cast("long").alias("n_contaminated"),
        F.countDistinct("seg_hash").cast("long").alias("n_shared_segments"))
    return totals.crossJoin(hits)


@query(
    "q_embedding_mrl",
    oracle="""
    WITH trunc AS (
        SELECT vec_id,
               list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS t
        FROM embeddings WHERE vec_id % 7 = 0
    ), normed AS (
        SELECT vec_id,
               sqrt(list_reduce(list_transform(t, x -> x * x),
                                (a, b) -> a + b)) AS nrm,
               t
        FROM trunc
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           round(nrm, 6)          AS trunc_norm,
           round(list_reduce(list_transform(t, x -> x / nrm),
                             (a, b) -> a + b), 6) AS unit_sum
    FROM normed
    """,
)
def q_embedding_mrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style embedding truncation: keep the first 16 dims and
    L2-renormalize — the serving-time prep for MRL-trained embeddings
    (smaller vectors, same index machinery).  Emits the pre-normalization
    norm and the unit-vector component sum as the checkable face.

    Scale: pure per-row JVM array HOFs (slice → fold) — no shuffle, no
    Python; the scan prunes to the two needed columns.  The sequential
    ``aggregate`` fold matches DuckDB's ``list_reduce`` order, so the
    doubles are bit-identical before rounding.
    """
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 7 == 0)
    t = F.transform(F.slice("embedding", 1, 16), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(
        F.transform(t, lambda x: x * x), F.lit(0.0), lambda a, b: a + b))
    d = e.select("vec_id", t.alias("t"), nrm.alias("nrm"))
    unit_sum = F.aggregate(
        F.transform(F.col("t"), lambda x: x / F.col("nrm")),
        F.lit(0.0), lambda a, b: a + b)
    return d.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round("nrm", 6).alias("trunc_norm"),
        F.round(unit_sum, 6).alias("unit_sum"),
    )


@query(
    "q_doc_chunk_overlap",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' '))    AS n
        FROM documents
        WHERE doc_id % 3 = 0
    ),
    k AS (
        SELECT doc_id, toks, n,
               unnest(range(0,
                   CAST(ceil(greatest(n - 64, 0) / 32.0) AS BIGINT) + 1))
                   AS chunk_idx
        FROM t
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT)      AS chunk_idx,
           CAST(chunk_idx * 32 AS BIGINT) AS start_token,
           CAST(least(64, n - chunk_idx * 32) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(
               list_slice(toks, chunk_idx * 32 + 1, chunk_idx * 32 + 64),
               ' '))                      AS chunk_md5
    FROM k
    """,
)
def q_doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: 64-token chunks on a 32-token
    stride (50% overlap) — the context-window prep that precedes embedding
    or retrieval indexing, distinct from ``q_pack_chunks``' concatenative
    packing.  Emits one row per (doc, chunk) with the token span and an
    md5 content fingerprint of the chunk.

    Chunk count per doc is ``1 + ceil(max(n-64,0)/32)``: every token is
    covered, consecutive chunks share 32 tokens, and only the final chunk
    may be short.

    Scale: pure map-side row expansion (split → sequence → explode →
    slice) with zero shuffles — the scan prunes to (doc_id, text) and the
    expansion factor is bounded by n/32 per doc, so a 100 TB corpus chunks
    embarrassingly parallel.  No Python; all JVM array HOFs.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    toks = F.split("text", " ")
    base = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).cast("long").alias("n"))
    n_chunks = F.greatest(
        F.ceil((F.col("n") - F.lit(64)) / F.lit(32.0)), F.lit(0)).cast("long")
    expanded = base.select(
        "doc_id", "toks", "n",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks))
            .alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * 32
    chunk = F.slice("toks", (start + 1).cast("int"), 64)
    return expanded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.cast("long").alias("start_token"),
        F.least(F.lit(64), F.col("n") - start).cast("long")
            .alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


@query(
    "q_embedding_dim_stats",
    oracle="""
    WITH ex AS (
        SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
               unnest(embedding) AS v
        FROM embeddings
    ),
    fixed AS (
        SELECT dim,
               CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS micro
        FROM ex
    )
    SELECT dim,
           CAST(count(*) AS BIGINT)   AS n,
           CAST(sum(micro) AS BIGINT) AS sum_micro,
           CAST(min(micro) AS BIGINT) AS min_micro,
           CAST(max(micro) AS BIGINT) AS max_micro,
           CAST(sum(micro) // count(*) AS BIGINT) AS mean_micro
    FROM fixed GROUP BY dim
    """,
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile (count / sum / min / max / mean in
    fixed-point micro-units) — the feature-health audit run before
    quantization or whitening: a dead dimension (min==max) or a scale
    outlier shows up immediately, and the micro-unit sums feed a
    drift-monitor diff between corpus snapshots.

    Determinism: each float32 value is widened to double and rounded to
    integer micro-units BEFORE aggregation, so every sum is
    order-independent integer addition — float Σ over a reshuffled corpus
    would differ in the last bits and break cross-engine equality.

    Scale: posexplode is map-side (rows × dims, streamed, never
    materialized wide); the shuffle carries one partial-agg row per
    (partition, dim) — dims-sized, not corpus-sized.
    """
    em = load_table(spark, sf_dir, "embeddings")
    ex = em.select(F.posexplode("embedding").alias("dim", "v"))
    fixed = ex.select(
        "dim",
        F.round(F.col("v").cast("double") * 1000000).cast("long")
            .alias("micro"),
    )
    return fixed.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("micro").cast("long").alias("sum_micro"),
        F.min("micro").cast("long").alias("min_micro"),
        F.max("micro").cast("long").alias("max_micro"),
        F.expr("sum(micro) div count(*)").cast("long").alias("mean_micro"),
    )


@query(
    "q_embedding_power_iter",
    oracle="""
    WITH ex AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000)
                    AS BIGINT) AS milli
        FROM embeddings
    ),
    dots AS (
        SELECT vec_id,
               CAST(sum(milli * ((dim * 37) % 7 - 3)) AS BIGINT) AS dot
        FROM ex GROUP BY vec_id
    )
    SELECT e.dim,
           CAST(sum(e.milli * d.dot) AS BIGINT) AS component_fixed,
           CAST(count(*) AS BIGINT)             AS n_vectors
    FROM ex e JOIN dots d USING (vec_id)
    GROUP BY e.dim
    """,
)
def q_embedding_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed power-iteration step toward the corpus's top
    principal direction: w = Σ_rows v·(v·s) for a fixed seed vector s —
    computed WITHOUT materializing the dims² Gramian (the classic
    covariance-free PCA step; iterating and re-normalizing w converges to
    the top eigenvector).

    Determinism: embeddings are fixed-pointed to integer milli-units and
    the seed is small integers, so the per-row dot product and the per-dim
    reduction are exact integer sums — order-independent, hence
    engine-identical (a float Gramian would drift with partitioning).

    Scale: two map-side passes over (vec_id, dim, value) triples — a
    per-vector keyed dot product, then a per-dim keyed reduction.  Both
    shuffles carry partial integer sums (vector- then dim-cardinality);
    nothing is quadratic in dims and nothing collects to the driver.
    """
    em = load_table(spark, sf_dir, "embeddings")
    ex = em.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id", "dim",
        F.round(F.col("v").cast("double") * 1000).cast("long").alias("milli"),
    )
    seed = (F.col("dim") * 37) % 7 - 3
    dots = ex.groupBy("vec_id").agg(
        F.sum(F.col("milli") * seed).cast("long").alias("dot"))
    return (
        ex.join(dots, "vec_id")
        .groupBy("dim")
        .agg(
            F.sum(F.col("milli") * F.col("dot")).cast("long")
                .alias("component_fixed"),
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
        )
    )


@query(
    "q_label_shift",
    oracle="""
    WITH halves AS (
        SELECT label, CAST(vec_id % 2 AS INT) AS half FROM embeddings
    ),
    counts AS (
        SELECT label,
               CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM halves GROUP BY label
    ),
    tot AS (
        SELECT CAST(sum(n_a) AS BIGINT) AS t_a,
               CAST(sum(n_b) AS BIGINT) AS t_b,
               CAST(count(*) AS BIGINT) AS n_labels
        FROM counts
    )
    SELECT c.label,
           c.n_a, c.n_b,
           CAST(floor(
               1000000.0 * ((c.n_a + 1) / CAST(t.t_a + t.n_labels AS DOUBLE))
               * ln(((c.n_a + 1) / CAST(t.t_a + t.n_labels AS DOUBLE))
                    / ((c.n_b + 1) / CAST(t.t_b + t.n_labels AS DOUBLE)))
           ) AS BIGINT) AS kl_term_micro
    FROM counts c, tot t
    """,
)
def q_label_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-distribution shift monitor: per-label KL(A‖B) terms between
    two dataset halves with add-one smoothing — the class-balance drift
    check run between corpus snapshots (a grown positive term means the
    label got relatively MORE frequent).  Σ of ``kl_term_micro`` is the
    total divergence in micro-nats.

    Determinism: counts are exact integers; each label's KL term is one
    fixed double expression truncated to integer micro-nats — no float
    accumulation anywhere (the total, if the caller sums it, is integer
    addition).

    Scale: one label-keyed count aggregation (map-side combined), a 1-row
    totals broadcast, and a label-cardinality output.
    """
    em = load_table(spark, sf_dir, "embeddings")
    counts = em.groupBy("label").agg(
        F.sum(((F.col("vec_id") % 2) == 0).cast("int")).cast("long")
            .alias("n_a"),
        F.sum(((F.col("vec_id") % 2) == 1).cast("int")).cast("long")
            .alias("n_b"),
    )
    tot = counts.agg(
        F.sum("n_a").cast("long").alias("t_a"),
        F.sum("n_b").cast("long").alias("t_b"),
        F.count(F.lit(1)).cast("long").alias("n_labels"),
    )
    p_a = (F.col("n_a") + 1) / (F.col("t_a") + F.col("n_labels")).cast("double")
    p_b = (F.col("n_b") + 1) / (F.col("t_b") + F.col("n_labels")).cast("double")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "label", "n_a", "n_b",
            F.floor(1000000.0 * p_a * F.log(p_a / p_b)).cast("long")
                .alias("kl_term_micro"),
        )
    )


@query(
    "q_dedup_span_sliding",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), seg AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice(toks, g.i * 8 + 1, g.i * 8 + 16), ' '))
                   AS win_hash
        FROM t, unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)))
                    AS g(i)
    ), df AS (
        SELECT win_hash FROM seg
        GROUP BY win_hash HAVING count(DISTINCT doc_id) >= 2
    ), per_doc AS (
        SELECT s.doc_id,
               count(DISTINCT s.win_hash) AS n_dup_windows
        FROM seg s JOIN df ON s.win_hash = df.win_hash
        GROUP BY s.doc_id
    ), totals AS (
        SELECT doc_id, count(*) AS n_windows FROM seg GROUP BY doc_id
    )
    SELECT CAST(t.doc_id AS BIGINT)        AS doc_id,
           CAST(t.n_windows AS BIGINT)     AS n_windows,
           CAST(p.n_dup_windows AS BIGINT) AS n_dup_windows
    FROM totals t JOIN per_doc p ON t.doc_id = p.doc_id
    """,
)
def q_dedup_span_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window span dedup (SURVEY §7 runway — the second
    granularity beside ``q_dedup_segment``): 16-token windows at stride 8,
    so consecutive windows OVERLAP by 8 tokens and a repeated span that
    straddles a fixed 8-token segment boundary — invisible to the
    non-overlapping pass — still lands fully inside some window.  This is
    the standard tiling argument of suffix-window dedup: any repeated run
    of ≥16 tokens contains a complete stride-aligned 16-token window.

    Each window hashes to md5; a hash held by ≥2 distinct docs marks all
    holders.  Output parallels ``q_dedup_segment``: per affected doc, the
    total window count and how many DISTINCT windows of it are shared.

    Scale: identical inverted-index shape — one shuffle builds the
    (win_hash → doc) postings, the document-frequency table and per-doc
    rollup are linear in postings (2× the segment pass's postings for the
    2× overlap), and no pair expansion exists anywhere, so a stop-span in
    millions of docs costs O(postings), never O(postings²)."""
    d = load_table(spark, sf_dir, "documents")
    seg = (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .withColumn(
            "win_hash",
            F.explode(F.expr(
                "transform(sequence(0, CAST(ceil(size(toks) / 8.0) AS INT)"
                " - 1), i -> md5(array_join(slice(toks, i * 8 + 1, 16),"
                " ' ')))")),
        )
        .select("doc_id", "win_hash")
    )
    df_tbl = (
        seg.groupBy("win_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("win_hash")
    )
    per_doc = (
        seg.join(df_tbl, "win_hash")
        .groupBy("doc_id")
        .agg(F.countDistinct("win_hash").cast("long")
             .alias("n_dup_windows"))
    )
    totals = seg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"))
    return (
        totals.join(per_doc, "doc_id")
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                "n_windows", "n_dup_windows")
    )


@query(
    "q_embedding_deflation",
    oracle="""
    WITH ex AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000)
                    AS BIGINT) AS milli
        FROM embeddings
    ), dots AS (
        SELECT vec_id,
               CAST(sum(milli * ((dim * 37) % 7 - 3)) AS BIGINT) AS dot
        FROM ex GROUP BY vec_id
    ), w AS (
        SELECT e.dim, CAST(sum(e.milli * d.dot) AS BIGINT) AS c
        FROM ex e JOIN dots d USING (vec_id) GROUP BY e.dim
    ), mx AS (
        SELECT max(abs(c)) AS max_abs FROM w
    ), wq AS (
        SELECT dim,
               CAST(round(CAST(c AS DOUBLE) * 1000 / max_abs) AS BIGINT)
                   AS q
        FROM w CROSS JOIN mx
    ), wn AS (
        SELECT CAST(sum(q * q) AS BIGINT) AS w2 FROM wq
    ), per_vec AS (
        SELECT e.vec_id,
               CAST(sum(e.milli * wq.q) AS BIGINT) AS dot_vw,
               CAST(sum(e.milli * e.milli) AS BIGINT) AS v2
        FROM ex e JOIN wq ON e.dim = wq.dim
        WHERE e.vec_id % 9 = 0
        GROUP BY e.vec_id
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           dot_vw,
           round(CAST(dot_vw AS DOUBLE)
                 / (sqrt(CAST(v2 AS DOUBLE)) * sqrt(CAST(w2 AS DOUBLE))),
                 6) AS cos_top,
           round(1 - (CAST(dot_vw AS DOUBLE)
                      / (sqrt(CAST(v2 AS DOUBLE)) * sqrt(CAST(w2 AS DOUBLE))))
                     * (CAST(dot_vw AS DOUBLE)
                        / (sqrt(CAST(v2 AS DOUBLE))
                           * sqrt(CAST(w2 AS DOUBLE)))),
                 6) AS resid_frac
    FROM per_vec CROSS JOIN wn
    """,
)
def q_embedding_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-component deflation profile (SURVEY §7 runway — applies
    ``q_embedding_power_iter``'s eigenvector): one covariance-free power
    step yields the corpus's dominant direction w; each vector then
    reports how much of it the top component explains — ``cos_top``
    (alignment with w) and ``resid_frac`` (1 − cos², the variance
    fraction SURVIVING deflation).  This is the anisotropy audit run
    before whitening embeddings for retrieval (a corpus whose vectors all
    lean on one direction ranks by that direction, not by content).

    Determinism: w's components are exact integer sums; quantizing to
    integer per-mille of the max component (one double division + round
    per dim, identical expression order both engines) gives an integer ŵ
    whose dots/norms are again exact, so the only floats are final
    divisions of exact integers — bit-identical across engines.

    Scale: two map-side passes for w (vector- then dim-keyed partial
    integer sums, nothing quadratic in dims), then ŵ (64 rows) broadcasts
    into one per-vector keyed aggregate.  No driver loop, no Gramian."""
    em = load_table(spark, sf_dir, "embeddings")
    ex = em.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id", "dim",
        F.round(F.col("v").cast("double") * 1000).cast("long").alias("milli"),
    )
    seed = (F.col("dim") * 37) % 7 - 3
    dots = ex.groupBy("vec_id").agg(
        F.sum(F.col("milli") * seed).cast("long").alias("dot"))
    w = (ex.join(dots, "vec_id").groupBy("dim")
         .agg(F.sum(F.col("milli") * F.col("dot")).cast("long").alias("c")))
    mx = w.agg(F.max(F.abs("c")).alias("max_abs"))
    wq = (w.crossJoin(F.broadcast(mx))
          .select("dim",
                  F.round(F.col("c").cast("double") * 1000
                          / F.col("max_abs")).cast("long").alias("q")))
    wn = wq.agg(F.sum(F.col("q") * F.col("q")).cast("long").alias("w2"))
    per_vec = (
        ex.filter(F.col("vec_id") % 9 == 0)
        .join(F.broadcast(wq), "dim")
        .groupBy("vec_id")
        .agg(F.sum(F.col("milli") * F.col("q")).cast("long").alias("dot_vw"),
             F.sum(F.col("milli") * F.col("milli")).cast("long").alias("v2"))
    )
    cos = (F.col("dot_vw").cast("double")
           / (F.sqrt(F.col("v2").cast("double"))
              * F.sqrt(F.col("w2").cast("double"))))
    return (
        per_vec.crossJoin(F.broadcast(wn))
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            "dot_vw",
            F.round(cos, 6).alias("cos_top"),
            F.round(1 - cos * cos, 6).alias("resid_frac"),
        )
    )


@query(
    "q_split_decontaminated",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, n_chars, text,
               CASE WHEN {_H60_DUCK} % 100 < 80 THEN 'train'
                    WHEN {_H60_DUCK} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ), seg AS (
        SELECT d.doc_id, d.split,
               md5(array_to_string(
                   string_split(text, ' ')[i * 8 + 1 : i * 8 + 8], ' '))
                   AS seg_hash
        FROM d, unnest(range((len(string_split(text, ' ')) + 7) // 8))
                    AS u(i)
    ), test_segs AS (
        SELECT DISTINCT seg_hash FROM seg WHERE split = 'test'
    ), dirty AS (
        SELECT DISTINCT s.doc_id
        FROM seg s JOIN test_segs t ON s.seg_hash = t.seg_hash
        WHERE s.split = 'train'
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_train_before,
           CAST(sum(CASE WHEN dirty.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT)          AS n_dropped,
           CAST(sum(CASE WHEN dirty.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)          AS n_train_after,
           CAST(sum(CASE WHEN dirty.doc_id IS NULL THEN d.n_chars ELSE 0 END)
                AS BIGINT)          AS clean_chars
    FROM d LEFT JOIN dirty ON d.doc_id = dirty.doc_id
    WHERE d.split = 'train'
    GROUP BY d.lang
    """,
)
def q_split_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-aware training split (SURVEY §7 runway — the ACTION
    composing ``q_train_test_split``'s hash split with
    ``q_split_contamination``'s segment index): any TRAIN document
    sharing an exact 8-token segment with the TEST split is DROPPED, and
    the per-language mixture report shows what decontamination cost —
    the step a benchmark-honest corpus runs between splitting and
    training, since auditing leakage (the contamination query) is only
    half the job.

    Scale: the test-segment index is distinct-hash-sized (test is ~10% of
    the corpus and the index carries hashes, never text); the probe is
    one equi-join on seg_hash against train postings, linear in postings;
    the drop decision is a semi-join-shaped mark per train doc.  At
    100 TB the test index persists once and every training-data refresh
    re-probes it."""
    d = load_table(spark, sf_dir, "documents")
    split = (
        F.when(F.expr(_H60) % 100 < 80, "train")
        .when(F.expr(_H60) % 100 < 90, "val")
        .otherwise("test")
    )
    seg = (
        d.select("doc_id", split.alias("split"), "lang", "n_chars",
                 F.split("text", " ").alias("toks"))
        .withColumn(
            "seg_hash",
            F.explode(F.expr(
                "transform(sequence(0, CAST(ceil(size(toks) / 8.0) AS INT)"
                " - 1), i -> md5(array_join(slice(toks, i * 8 + 1, 8),"
                " ' ')))")),
        )
    )
    test_segs = (seg.filter(F.col("split") == "test")
                 .select("seg_hash").distinct())
    dirty = (seg.filter(F.col("split") == "train")
             .join(test_segs, "seg_hash")
             .select("doc_id").distinct()
             .withColumn("_dirty", F.lit(1)))
    train = d.select("doc_id", "lang", "n_chars",
                     split.alias("split")).filter(F.col("split") == "train")
    return (
        train.join(dirty, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train_before"),
            F.sum(F.when(F.col("_dirty").isNotNull(), 1).otherwise(0))
                .cast("long").alias("n_dropped"),
            F.sum(F.when(F.col("_dirty").isNull(), 1).otherwise(0))
                .cast("long").alias("n_train_after"),
            F.sum(F.when(F.col("_dirty").isNull(),
                         F.col("n_chars")).otherwise(0))
                .cast("long").alias("clean_chars"),
        )
    )


#: RTBF predicate for the derived-artifact purge key: uniform over doc
#: ids (~11%), so every pack shard and fanout group is hit and the
#: incremental-repack arm is provably non-vacuous at every test SF.
_PURGE_DERIVED_PRED = "doc_id % 9 = 4"


@query(
    "q_purge_derived",
    oracle=f"""
    WITH surv AS (
        SELECT * FROM documents WHERE NOT ({_PURGE_DERIVED_PRED})
    ), t AS (
        SELECT doc_id, {_H60_DUCK} AS h60,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
        FROM surv
    ), placed AS (
        SELECT h60 % 32 AS bucket, doc_id, tokens,
               COALESCE(sum(tokens) OVER (
                   PARTITION BY h60 % 32 ORDER BY h60, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS tok_offset
        FROM t
    ), pack AS (
        SELECT 'pack' AS artifact,
               CAST(bucket AS VARCHAR)            AS k1,
               CAST(tok_offset // 2048 AS VARCHAR) AS k2,
               CAST(count(*) AS BIGINT)           AS n,
               CAST(sum(tokens) AS BIGINT)        AS m
        FROM placed GROUP BY 1, 2, 3
    ), fine AS (
        SELECT 'mv_lang_source' AS artifact, b.lang AS k1, b.source AS k2,
               CAST(coalesce(s.docs, 0) AS BIGINT)  AS n,
               CAST(coalesce(s.chars, 0) AS BIGINT) AS m
        FROM (SELECT lang, source FROM documents GROUP BY lang, source) b
        LEFT JOIN (SELECT lang, source, count(*) AS docs,
                          sum(n_chars) AS chars
                   FROM surv GROUP BY lang, source) s USING (lang, source)
    ), coarse AS (
        SELECT 'mv_lang' AS artifact, b.lang AS k1, '*' AS k2,
               CAST(coalesce(s.docs, 0) AS BIGINT)  AS n,
               CAST(coalesce(s.chars, 0) AS BIGINT) AS m
        FROM (SELECT lang FROM documents GROUP BY lang) b
        LEFT JOIN (SELECT lang, count(*) AS docs, sum(n_chars) AS chars
                   FROM surv GROUP BY lang) s USING (lang)
    ), u AS (
        SELECT * FROM pack
        UNION ALL SELECT * FROM fine
        UNION ALL SELECT * FROM coarse
    )
    SELECT artifact, k1, k2, n, m,
           TRUE                AS pack_purged,
           TRUE                AS pack_matches_scratch,
           TRUE                AS untouched_preserved,
           TRUE                AS fanout_consistent,
           TRUE                AS fanout_rollup_holds,
           CAST(2 AS BIGINT)   AS src_purge_version,
           CAST(1 AS BIGINT)   AS feed_purge_commit,
           CAST(2 AS BIGINT)   AS pack_purge_version,
           CAST(2 AS BIGINT)   AS mv_purge_version
    FROM u
    """,
)
def q_purge_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURGE THE REMAINING DERIVED FACES (SURVEY §7 round-14 runway item
    2c; VERDICT r13 next-round item 3): ``q_purge_propagate`` walked the
    vector side (feed → MV → LSH index) and ``q_purge_text`` the
    curation side (clusters + df); the two derived artifacts still
    without a purge face were the PACKED-CHUNK table (``q_pack_chunks``)
    and the MV-FANOUT ledgers (``q_mv_fanout``).  One document-space
    RTBF DELETE now flows through both, every artifact version-tagged:

    - **Packed chunks, CoW-incremental**: the doc-level pack map
      (bucket, doc_id, h60, tokens, chunk_id) is persisted partitioned
      by shard bucket.  A purged doc shifts the running token offsets of
      every LATER doc in its shard — so the purge repacks exactly the
      AFFECTED shards (``_cow_rewrite`` with the affected-bucket
      predicate: only part files of shards containing purged docs are
      rewritten; at 32-of-32 buckets hit the audit arm still proves the
      mechanism via file accounting).  Engine-verified: the head map
      holds zero purged docs (``pack_purged``), equals a from-scratch
      repack of the survivors (``pack_matches_scratch`` — catches any
      offset-recompute error), and rows of untouched shards are
      byte-identical to the v1 map (``untouched_preserved`` — the CoW
      boundary).
    - **Fanout ledgers, O(Δ)**: the purge's doc-grain feed commit rolls
      BOTH grains forward from ONE feed read — fine-grain deltas
      computed once, the coarse grain a rollup of them (the
      ``q_mv_fanout`` discipline); groups the purge empties stay at 0/0
      (the ``q_mv_maintain`` rule).  Engine-verified per (grain,
      version) against direct same-version snapshot aggregates
      (``fanout_consistent``) and the rollup identity at the purge
      version (``fanout_rollup_holds``).

    Version tags are ENGINE-DERIVED: source head version (2), the
    feed's purge commit (1), the pack table's CoW commit version (2),
    the ledgers' max ``mv_version`` (2).  The EXACT oracle replays all
    three artifacts' post-purge states from the predicate alone.

    Scale: repack cost is O(affected shards), ledger cost O(Δ + groups);
    the corpus-sized passes are the seed builds and the from-scratch
    audit — the production sampling arm, never the purge path."""
    import os

    from bossarrowstorageengine_spark.operators.scans import _scratch
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _manifest_versions,
        _partition_int,
        _read_manifest,
    )
    from bossarrowstorageengine_spark.sources.maintenance import (
        _cow_rewrite,
        delete_arrowipc,
    )
    from bossarrowstorageengine_spark.streaming.mv_maintain import (
        _append_ledger,
        _audit_ledger,
        _commit_deltas,
        _ledger_versions,
        _read_ledger,
        _rollup,
        _source_aggregate,
        _version_aggregates,
    )

    register_arrowipc(spark)
    base_dir = _scratch(sf_dir, "purge_derived")
    src = os.path.join(base_dir, "src")
    feed = os.path.join(base_dir, "feed")
    pack_path = os.path.join(base_dir, "pack")
    mv_a = os.path.join(base_dir, "mv_lang")
    mv_b = os.path.join(base_dir, "mv_lang_source")

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars",
        F.expr(_H60).alias("h60"),
        F.size(F.split("text", " ")).cast("long").alias("tokens"))
    (d.repartition(2).write.format("arrowipc")
     .option("compression", "lz4")
     .mode("append").save(src))

    src_schema = ("doc_id long, lang string, source string, n_chars long,"
                  " h60 long, tokens long")

    def _snap(ver: str | None, cols: str) -> DataFrame:
        ddl = ", ".join(c for c in src_schema.split(", ")
                        if c.split(" ")[0] in cols.split(","))
        r = (spark.read.format("arrowipc").option("columns", cols)
             .schema(ddl))
        if ver:
            r = r.option("version", ver)
        return r.load(src)

    # --- derived artifact seeds (v1, the corpus-sized builds) ----------
    def _pack_map(rows: DataFrame) -> DataFrame:
        w = (Window.partitionBy("bucket").orderBy("h60", "doc_id")
             .rowsBetween(Window.unboundedPreceding, -1))
        return (rows
                .withColumn("bucket", F.expr("h60 % 32").cast("int"))
                .withColumn("tok_offset",
                            F.coalesce(F.sum("tokens").over(w), F.lit(0)))
                .withColumn("chunk_id", F.expr("tok_offset div 2048")
                            .cast("long"))
                .select("bucket", "doc_id", "h60", "tokens", "chunk_id"))

    (_pack_map(_snap("1", "doc_id,h60,tokens"))
     .write.format("arrowipc").option("partitionBy", "bucket")
     .option("compression", "lz4")
     .mode("append").save(pack_path))
    pack_v1_paths = _read_manifest(
        pack_path, _manifest_versions(pack_path)[-1])

    fine, coarse = ["lang", "source"], ["lang"]
    base_fine = _source_aggregate(_snap("1", "lang,source,n_chars"), fine)
    base_coarse = _source_aggregate(_snap("1", "lang,n_chars"), coarse)

    # --- THE PURGE: one RTBF DELETE on the source -----------------------
    delete_arrowipc(spark, src, _PURGE_DERIVED_PRED, compression="lz4",
                    predicate_columns=["doc_id"], schema=d.schema)
    src_purge_version = _manifest_versions(src)[-1]

    # doc-grain feed commit: the keyed diff of the purge (deletes only)
    pre = _snap("1", "doc_id,lang,source,n_chars")
    post = _snap(None, "doc_id,lang,source,n_chars")
    diff = (pre.join(post.select("doc_id",
                                 F.col("n_chars").alias("chars_post")),
                     "doc_id", "left")
            .filter(F.col("chars_post").isNull())
            .select("doc_id", "lang", "source",
                    (-F.col("n_chars")).cast("long").alias("delta"),
                    F.lit("delete").alias("change"),
                    F.lit(1).cast("long").alias("commit_seq")))
    (diff.write.format("arrowipc").option("partitionBy", "commit_seq")
     .option("compression", "lz4")
     .mode("append").save(feed))

    feed_rows = (spark.read.format("arrowipc")
                 .option("columns", "doc_id,lang,source,change,delta,"
                         "commit_seq")
                 .schema("doc_id long, lang string, source string, "
                         "change string, delta long, commit_seq long")
                 .load(feed).localCheckpoint())   # purge-sized
    feed_purge_commit = (feed_rows.filter(F.col("change") == "delete")
                         .agg(F.max("commit_seq")).collect()[0][0] or 0)
    purged_ids = feed_rows.select("doc_id")

    # --- pack purge: CoW repack of ONLY the affected shards -------------
    affected = sorted(
        r.bucket for r in
        (spark.read.format("arrowipc")
         .option("columns", "bucket,doc_id")
         .schema("bucket int, doc_id long").load(pack_path)
         .join(purged_ids, "doc_id", "semi")
         .select("bucket").distinct().collect()))   # ≤32 rows, metadata

    def _repack(aff: DataFrame) -> DataFrame:
        surv = aff.join(purged_ids, "doc_id", "left_anti")
        w = (Window.partitionBy("bucket").orderBy("h60", "doc_id")
             .rowsBetween(Window.unboundedPreceding, -1))
        return (surv
                .withColumn("tok_offset",
                            F.coalesce(F.sum("tokens").over(w), F.lit(0)))
                .withColumn("chunk_id", F.expr("tok_offset div 2048")
                            .cast("long"))
                .select("bucket", "doc_id", "h60", "tokens", "chunk_id"))

    res = _cow_rewrite(
        spark, pack_path,
        affected_rows=lambda df: df.filter(F.col("bucket").isin(affected)),
        rewrite=_repack,
        compression="lz4", scan_columns=["bucket"])
    pack_purge_version = res["version"]

    # --- fanout purge: ONE feed read rolls BOTH grains forward ----------
    deltas_fine = _commit_deltas(feed_rows, fine, [1])
    _append_ledger(_ledger_versions(
        base_coarse, _rollup(deltas_fine, coarse), coarse, [1]), mv_a)
    _append_ledger(_ledger_versions(base_fine, deltas_fine, fine, [1]),
                   mv_b)

    # --- audits (fresh load per probe — FORMAT.md §8) -------------------
    pack_schema = ("bucket int, doc_id long, h60 long, tokens long, "
                   "chunk_id long")

    def _pack_back(ver: str | None) -> DataFrame:
        r = (spark.read.format("arrowipc")
             .option("columns", "bucket,doc_id,h60,tokens,chunk_id")
             .schema(pack_schema))
        if ver:
            r = r.option("version", ver)
        return r.load(pack_path)

    # ONE head-map materialization feeds the purge check, the scratch
    # comparison and the output aggregation (each arrowipc read is a
    # Python-datasource plan round — the q_changefeed_consume floor
    # lesson).  `affected` non-empty already attests purged docs existed
    # in the v1 map (it was computed BY probing it).
    head_map = _pack_back(None).localCheckpoint()
    pack_purged = (len(affected) > 0
                   and head_map.join(purged_ids, "doc_id", "semi")
                   .count() == 0)

    scratch = _pack_map(_snap(None, "doc_id,h60,tokens"))
    pack_matches_scratch = (
        head_map.exceptAll(scratch)
        .unionByName(scratch.exceptAll(head_map)).count() == 0)

    # The CoW boundary, pinned by FILE IDENTITY (ADVICE r14): every v1
    # part file of an UNAFFECTED bucket must still be referenced by the
    # post-purge head manifest — a repack that gratuitously rewrote
    # untouched shards (even into fewer files) fails this, where the old
    # files_rewritten < v1-count proxy did not.  (Row-level content of
    # untouched shards is covered by pack_matches_scratch.)
    aff_set = set(affected)
    unaffected_v1 = {p for p in pack_v1_paths
                     if _partition_int(pack_path, p, "bucket")
                     not in aff_set}
    head_paths = set(_read_manifest(pack_path, pack_purge_version))
    untouched_preserved = unaffected_v1 <= head_paths

    # ONE read-back per ledger feeds the audit, the rollup check, the
    # version tag and the output rows (ledgers are group-sized).
    back_a = _read_ledger(spark, mv_a, coarse).localCheckpoint()
    back_b = _read_ledger(spark, mv_b, fine).localCheckpoint()

    # Direct per-version aggregates: ONE snapshot read per version at
    # the fine grain; the coarse direct is its exact sum-decomposition.
    direct_fine = _version_aggregates(
        [_snap(v, "lang,source,n_chars") for v in ("1", None)],
        fine).localCheckpoint()
    fanout_consistent = all(
        _audit_ledger(back, direct, keys)
        .filter(~F.col("consistent")).count() == 0
        for back, direct, keys in (
            (back_a, _rollup(direct_fine, ["mv_version", *coarse]), coarse),
            (back_b, direct_fine, fine)))
    rolled = (back_b.filter(F.col("mv_version") == 2)
              .groupBy("lang").agg(
                  F.sum("docs").cast("long").alias("docs_r"),
                  F.sum("chars").cast("long").alias("chars_r")))
    fanout_rollup_holds = (
        back_a.filter(F.col("mv_version") == 2)
        .join(rolled, "lang", "full_outer")
        .filter((F.coalesce("docs", F.lit(-1))
                 != F.coalesce("docs_r", F.lit(-2)))
                | (F.coalesce("chars", F.lit(-1))
                   != F.coalesce("chars_r", F.lit(-2))))
        .count() == 0)
    mv_purge_version = (back_a.agg(F.max("mv_version"))
                        .collect()[0][0] or 0)

    # --- output: all three post-purge artifacts, EXACT ------------------
    pack_rows = (head_map.groupBy("bucket", "chunk_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("tokens").cast("long").alias("m"))
        .select(F.lit("pack").alias("artifact"),
                F.col("bucket").cast("string").alias("k1"),
                F.col("chunk_id").cast("string").alias("k2"), "n", "m"))
    fine_rows = (back_b.filter(F.col("mv_version") == 2)
                 .select(F.lit("mv_lang_source").alias("artifact"),
                         F.col("lang").alias("k1"),
                         F.col("source").alias("k2"),
                         F.col("docs").alias("n"),
                         F.col("chars").alias("m")))
    coarse_rows = (back_a.filter(F.col("mv_version") == 2)
                   .select(F.lit("mv_lang").alias("artifact"),
                           F.col("lang").alias("k1"),
                           F.lit("*").alias("k2"),
                           F.col("docs").alias("n"),
                           F.col("chars").alias("m")))
    return (pack_rows.unionByName(fine_rows).unionByName(coarse_rows)
            .select(
                "artifact", "k1", "k2", "n", "m",
                F.lit(pack_purged).alias("pack_purged"),
                F.lit(pack_matches_scratch).alias("pack_matches_scratch"),
                F.lit(untouched_preserved).alias("untouched_preserved"),
                F.lit(fanout_consistent).alias("fanout_consistent"),
                F.lit(fanout_rollup_holds).alias("fanout_rollup_holds"),
                F.lit(int(src_purge_version)).cast("long")
                .alias("src_purge_version"),
                F.lit(int(feed_purge_commit)).cast("long")
                .alias("feed_purge_commit"),
                F.lit(int(pack_purge_version)).cast("long")
                .alias("pack_purge_version"),
                F.lit(int(mv_purge_version)).cast("long")
                .alias("mv_purge_version"),
            ))
