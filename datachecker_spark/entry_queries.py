"""Driver-contract query registry.

Each entry pairs a Spark DataFrame implementation with an equivalent ANSI-SQL
oracle that DuckDB runs on the same parquet tables (CORRECTNESS gate, see
__spark_entry__.py). Conventions:

* Every computed column is aliased identically on both sides (the driver
  sorts columns by name before value-hashing).
* Sums over doubles are rounded/cast to integers — Spark's partial/final
  aggregation sums in a different order than DuckDB's sequential scan, so
  raw double sums differ in the last ulp.
* Queries that need duplicates/dangling refs plant them deterministically
  inside the query (key-shifted unions / modular filters), identically on
  both sides — the driver tables themselves are clean.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from datachecker_spark import cache

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# Validation-engine operators over the flat `documents` table
# ---------------------------------------------------------------------------

@query(
    "dup_exact",
    oracle="""
    WITH u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
    ),
    g AS (
      SELECT md5(text) AS k, count(*) AS dup_count
      FROM u GROUP BY 1 HAVING count(*) > 1
    )
    SELECT u.doc_id AS doc_id, g.dup_count AS dup_count
    FROM u JOIN g ON md5(u.text) = g.k
    """,
)
def dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate detection by content hash group (§2.2 pipeline over a
    flat text column; planted duplicates = key-shifted union)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.where(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    u = docs.unionByName(planted)
    keyed = u.withColumn("k", F.md5("text"))
    groups = (
        keyed.groupBy("k").agg(F.count("*").alias("dup_count")).where("dup_count > 1")
    )
    return keyed.join(groups, "k").select("doc_id", "dup_count")


@query(
    "stats_profile",
    oracle="""
    SELECT source AS source,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars,
           count(DISTINCT lang) AS n_langs,
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
           CAST((10000 * sum(n_chars)) // count(*) AS BIGINT) AS avg_chars_e4
    FROM documents GROUP BY source
    """,
)
def stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-stats block (§2.11): per-group null counts, min/max, distincts."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.col("text").isNull().cast("long")).alias("n_null_text"),
        # mean in exact fixed-point (chars × 1e-4): sums/counts of integers
        # are exact in both engines, and `div` avoids the double division
        # whose last-ulp / HUGEINT-formatting differences broke the value
        # hash when this was round(avg(n_chars), 4)
        F.expr("(10000 * sum(n_chars)) div count(*)").alias("avg_chars_e4"),
    )


@query(
    "referential_dangling",
    oracle="""
    WITH catalog AS (SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 <> 0)
    SELECT l.l_suppkey AS suppkey, count(*) AS n_refs
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM catalog c WHERE c.s_suppkey = l.l_suppkey)
    GROUP BY l.l_suppkey
    """,
)
def referential_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential check (§2.3): left-anti join of refs against a catalog
    (catalog thinned by a modular filter to plant dangling refs)."""
    li = _read(spark, sf_dir, "lineitem").select("l_suppkey")
    catalog = (
        _read(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") % 7 != 0)
        .select("s_suppkey")
    )
    dangling = li.join(
        F.broadcast(catalog), li.l_suppkey == catalog.s_suppkey, "left_anti"
    )
    return dangling.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count("*").alias("n_refs")
    )


@query(
    "empty_groups",
    oracle="""
    WITH o AS (SELECT o_custkey FROM orders WHERE o_custkey % 13 <> 0)
    SELECT c.c_custkey AS custkey
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM o WHERE o.o_custkey = c.c_custkey)
    """,
)
def empty_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-directory analog (§2.10): keys present in the dimension with
    zero rows in the fact — left-anti join (fact thinned by a modular filter
    so the planted empty groups are deterministic and non-empty)."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _read(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 13 != 0)
        .select("o_custkey")
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select(F.col("c_custkey").alias("custkey"))


@query(
    "group_size_bounds",
    oracle="""
    SELECT o_custkey AS custkey, count(*) AS n_orders,
           CASE WHEN count(*) = 1 THEN 'one_item'
                WHEN count(*) > 30 THEN 'many_items'
                ELSE 'ok' END AS verdict
    FROM orders GROUP BY o_custkey
    HAVING count(*) = 1 OR count(*) > 30
    """,
)
def group_size_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-items / one-item directory checks (§2.10) as HAVING predicates."""
    orders = _read(spark, sf_dir, "orders")
    g = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").alias("n_orders")
    )
    return g.where((F.col("n_orders") == 1) | (F.col("n_orders") > 30)).select(
        "custkey",
        "n_orders",
        F.when(F.col("n_orders") == 1, "one_item")
        .when(F.col("n_orders") > 30, "many_items")
        .otherwise("ok")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Generic relational operators (coverage of the Spark surface vs oracle)
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag AS l_returnflag, l_linestatus AS l_linestatus,
           CAST(ROUND(sum(l_quantity), 0) AS BIGINT) AS sum_qty,
           CAST(ROUND(sum(l_extendedprice), 0) AS BIGINT) AS sum_base_price,
           CAST(ROUND(sum(l_extendedprice * (1 - l_discount)), 0) AS BIGINT) AS sum_disc_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style scan+filter+agg (filter pushed to parquet, partial agg)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 0).cast("long").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 0).cast("long").alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 0)
            .cast("long")
            .alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "topk_orders_per_customer",
    oracle="""
    SELECT custkey, o_orderkey AS orderkey, rk
    FROM (
      SELECT o_custkey AS custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via window (deterministic tie-break on orderkey)."""
    orders = _read(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            "rk",
        )
    )


@query(
    "revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 0) AS BIGINT) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query: big-big sort-merge + small-dim broadcasts."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 0)
            .cast("long")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id AS user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag window + gap threshold + per-user aggregation."""
    ev = _read(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # ts is TIMESTAMP_NTZ in the driver parquet; session TZ is pinned to UTC
    # so the epoch-seconds conversion matches DuckDB's naive interval math
    secs = F.col("ts").cast("timestamp").cast("long")
    prev_secs = prev.cast("timestamp").cast("long")
    new_session = (prev.isNull() | (secs - prev_secs > 30 * 60)).cast("long")
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators (dedup family / text analysis / ANN)
# ---------------------------------------------------------------------------

@query(
    "ngram_jaccard_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id,
             list_filter(str_split_regex(lower(text), '\\s+'), w -> w <> '') AS words
      FROM documents
    ),
    sets AS (
      SELECT id,
             list_distinct(
               list_filter(
                 list_transform(list_zip(words, words[2:]),
                                x -> CASE WHEN x[2] IS NULL THEN NULL
                                          ELSE x[1] || ' ' || x[2] END),
                 v -> v IS NOT NULL)) AS sh
      FROM toks
    ),
    ex0 AS (SELECT id, unnest(sh) AS s FROM sets WHERE len(sh) > 0),
    hot AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) > 1000),
    ex AS (SELECT id, s FROM ex0 WHERE s NOT IN (SELECT s FROM hot)),
    sizes AS (SELECT id, count(*) AS n FROM ex GROUP BY id),
    pairs AS (
      SELECT x.id AS id_a, y.id AS id_b, count(*) AS inter
      FROM ex x JOIN ex y ON x.s = y.s AND x.id < y.id
      GROUP BY 1, 2
    )
    SELECT p.id_a AS id_a, p.id_b AS id_b,
           round(p.inter / (sa.n + sb.n - p.inter), 6) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.id = p.id_a
    JOIN sizes sb ON sb.id = p.id_b
    WHERE p.inter / (sa.n + sb.n - p.inter) >= 0.2
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs via common-shingle join,
    with the hot-shingle document-frequency guard active (max_df=1000,
    mirrored in the oracle's hot CTE) — the capped universe is the exact
    semantics at scale, where an uncapped stop-phrase shingle would make
    the self-join quadratic. hash_shingles=True is the production path
    (fixed-width long join keys + tokenize-once checkpoint of the hashed
    exploded table); values identical to the string-key oracle unless two
    shingles of the same doc collide in 64 bits (~S²/2⁶⁵ — the identity is
    also pytest-asserted on a mixed corpus). candidates="prefix" (All-Pairs
    prefix filtering, round-5) replaces the full common-shingle self-join
    with a prefix-token join — measured 23.7s → 12.9s (1.8×) at this
    query's t=0.2/max_df=1000 on sf0.1/local[32], clean sequential runs
    (tools/bench_ngram_modes.py), byte-identical output, so the
    count-join-shaped oracle still gates it."""
    from datachecker_spark.textops import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, threshold=0.2, max_df=1000, hash_shingles=True, candidates="prefix"
    )


@query(
    "ngram_prefix_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id,
             list_filter(str_split_regex(lower(text), '\\s+'), w -> w <> '') AS words
      FROM documents
      WHERE doc_id % 3 = 1
    ),
    sets AS (
      SELECT id,
             list_distinct(
               list_filter(
                 list_transform(list_zip(words, words[2:]),
                                x -> CASE WHEN x[2] IS NULL THEN NULL
                                          ELSE x[1] || ' ' || x[2] END),
                 v -> v IS NOT NULL)) AS sh
      FROM toks
    ),
    ex0 AS (SELECT id, unnest(sh) AS s FROM sets WHERE len(sh) > 0),
    hot AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) > 1000),
    ex AS (SELECT id, s FROM ex0 WHERE s NOT IN (SELECT s FROM hot)),
    sizes AS (SELECT id, count(*) AS n FROM ex GROUP BY id),
    pairs AS (
      SELECT x.id AS id_a, y.id AS id_b, count(*) AS inter
      FROM ex x JOIN ex y ON x.s = y.s AND x.id < y.id
      GROUP BY 1, 2
    )
    SELECT p.id_a AS id_a, p.id_b AS id_b,
           round(p.inter / (sa.n + sb.n - p.inter), 6) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.id = p.id_a
    JOIN sizes sb ON sb.id = p.id_b
    WHERE p.inter / (sa.n + sb.n - p.inter) >= 0.5
    """,
)
def ngram_prefix_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PREFIX-FILTERED exact-Jaccard path (All-Pairs/ppjoin candidate
    generation, textops._jaccard_prefix_filtered) at a dedup-grade
    threshold (0.5) — the regime the prefix filter exists for, where the
    (df asc)-ordered prefixes exclude the high-df shingles that dominate
    the count-join's Σ df² cost. The oracle is the SAME exact-Jaccard SQL
    as ngram_jaccard_pairs at t=0.5: prefix filtering is a candidate-
    pruning strategy, not a semantics change, so a hash-green row here
    verifies the whole alternative plan (global (df, s) ordering, prefix
    slice, length filter, array_intersect verify) end-to-end against an
    implementation-independent oracle. Runs on the deterministic doc_id%3==1
    third of the corpus (a different third than minhash_containment): the
    check is PLAN verification, and every quantity in it — document
    frequencies, the max_df hot-cap, the prefix order, and the oracle
    itself — is computed over the same subset, so the hash comparison is
    exactly as strong as the full-corpus form while not tripling the
    ngram family's share of the suite bench; full-corpus throughput of
    this plan family is already measured by the t=0.2 ngram_jaccard_pairs
    entry and tools/bench_ngram_modes.py."""
    from datachecker_spark.textops import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 1)
    return ngram_jaccard_pairs(
        docs, threshold=0.5, max_df=1000, hash_shingles=True, candidates="prefix"
    )


@query("minhash_lsh_dedup")  # rows-only: xxhash64 has no DuckDB equivalent
def minhash_lsh_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (shingle→minhash→band→bucket-join, exact
    Jaccard verify). Verified against ngram_jaccard_pairs in tests; the LSH
    prefilter is hash-dependent so the DuckDB oracle is the exact variant."""
    from datachecker_spark.textops import minhash_near_dup_pairs

    docs = _read(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(docs, threshold=0.2)


@query("simhash_dedup")  # rows-only: xxhash64/getbit not portable to DuckDB
def simhash_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash near-dup pairs, COMPLETE to hamming ≤ 6: 8 blocks with
    2-block composite keys (pigeonhole: ≤6 differing blocks of 8 leaves ≥2
    intact, so every qualifying pair shares one of the C(8,2)=28 exact
    key pairs). Round-3 shipped chunks=4 here, which only guarantees
    hamming ≤ 3 — pairs at distance 4–6 were found only by luck; the
    completeness is now asserted against a brute-force all-pairs
    bit_count(xor) join in tests/test_textops.py (row count grows vs r3
    accordingly — the old output was silently incomplete)."""
    from datachecker_spark.textops import simhash_near_dup_pairs

    docs = _read(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, max_hamming=6, chunks=8, key_chunks=2)


@query(
    "winnow_fingerprints",
    oracle="""
    WITH grams AS (
      SELECT doc_id AS id,
             [('0x' || substr(md5(substr(text, i, 8)), 1, 8))::BIGINT
              for i in range(1, greatest(length(text) - 8 + 2, 1))] AS hs
      FROM documents WHERE length(text) >= 8
    ),
    mins AS (
      SELECT id,
             CASE WHEN len(hs) >= 4
                  THEN [list_min(hs[j:j+3]) for j in range(1, len(hs) - 4 + 2)]
                  ELSE [list_min(hs)] END AS fps
      FROM grams
    )
    SELECT DISTINCT id AS id, unnest(fps) AS fp FROM mins
    """,
)
def winnow_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling-hash selection, oracle-checkable via
    md5-derived integers)."""
    from datachecker_spark.textops import winnow_fingerprints

    docs = _read(spark, sf_dir, "documents")
    return winnow_fingerprints(docs)


@query(
    "token_stats",
    oracle="""
    SELECT doc_id AS id,
           len(list_filter(str_split_regex(lower(text), '\\s+'), w -> w <> '')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens,
           length(text) AS n_chars
    FROM documents
    """,
)
def token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datachecker_spark.textops import token_stats

    return token_stats(_read(spark, sf_dir, "documents"))


@query(
    "lang_id",
    oracle="""
    WITH t AS (
      SELECT doc_id AS id,
             list_filter(str_split_regex(lower(text), '\\s+'), w -> w <> '') AS toks
      FROM documents
    ),
    s AS (
      SELECT id,
        len(list_filter(toks, w -> list_contains(['the','and','of','to','in','is','it','that','for','was','with','a'], w))) / greatest(len(toks), 1) AS s_en,
        len(list_filter(toks, w -> list_contains(['der','die','das','und','ist','nicht','ein','mit','von','zu','den'], w))) / greatest(len(toks), 1) AS s_de,
        len(list_filter(toks, w -> list_contains(['le','la','les','et','est','un','une','de','des','que','pas'], w))) / greatest(len(toks), 1) AS s_fr,
        len(list_filter(toks, w -> list_contains(['el','la','los','las','y','es','un','una','de','que','no'], w))) / greatest(len(toks), 1) AS s_es
      FROM t
    )
    SELECT id,
           CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
                WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
                ELSE 'fr' END AS lang_pred,
           round(greatest(s_en, s_de, s_fr, s_es), 6) AS lang_score
    FROM s
    """,
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datachecker_spark.textops import lang_id

    return lang_id(_read(spark, sf_dir, "documents"))


@query(
    "ann_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]), 6) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 10
    """,
)
def ann_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the exact ANN baseline; LSH path is the
    scale variant, verified by recall tests)."""
    from datachecker_spark.similarity import cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return cosine_topk(emb, queries, k=10)


@query("ann_lsh_topk")  # rows-only: candidate set depends on xxhash-free RNG planes but
def ann_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (recall vs exact asserted in tests)."""
    from datachecker_spark.similarity import lsh_cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return lsh_cosine_topk(emb, queries, k=10)


@query("ann_ivf_topk")  # rows-only: the k-means quantizer has no SQL analog
def ann_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-partitioned approximate top-k (similarity.ivf_cosine_topk).
    Recall vs exact AND exhaustive-probe equality (n_probe=n_cells ==
    brute force) asserted in tests/test_similarity.py; the cell column is
    the Iceberg-partition seam at warehouse scale."""
    from datachecker_spark.similarity import ivf_cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return ivf_cosine_topk(emb, queries, k=10, n_cells=32, n_probe=8)


@query(
    "embedding_near_dups",
    oracle="""
    WITH u AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(embedding::DOUBLE[], x -> x * 1.001)
      FROM embeddings WHERE vec_id % 50 = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos
    FROM u a JOIN u b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.9
    """,
)
def embedding_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with PLANTED near-duplicates (scaled copies
    for vec_id%50 — scaling preserves both cosine and every sign-random-
    projection bit, so the LSH candidate stage recovers each planted pair
    deterministically). The oracle brute-forces all pairs: random dim-64
    embeddings cannot reach cos≥0.9 (≈7σ), so oracle == planted set ==
    LSH output. Previously unplanted, this query returned 0 rows — vacuous."""
    from datachecker_spark.similarity import cosine_near_dup_pairs

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001)).alias("embedding"),
    )
    return cosine_near_dup_pairs(emb.unionByName(planted), threshold=0.9)


@query(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE raw AS (
      SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 100 < 10
      UNION ALL
      SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents WHERE doc_id % 10 = 0
    ),
    edges AS (SELECT a, b FROM raw UNION SELECT b, a FROM raw),
    walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, w.label FROM edges e JOIN walk w ON w.node = e.b AND w.label < e.a
    ),
    labels AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node)
    SELECT node AS doc_id, cluster_id AS cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM labels
    """,
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of a near-dup pair list -> cluster assignment
    (graph.dedup_clusters): the final stage of the dedup pipeline, after
    which keep-policy is `doc_id == cluster_id`. Edges are planted
    deterministically on both sides: near-dup CHAINS (doc_id ~ doc_id+1 for
    doc_id%100<10 — ten-hop paths that only a transitive algorithm closes;
    pairwise dedup would keep ~half of each chain) plus exact-copy links
    (doc_id ~ doc_id+1000000 for doc_id%10=0 — the dup_exact planting), so
    copies of chained docs land in the chain's cluster. The oracle is a
    recursive min-label CTE; Spark runs alternating large-star/small-star
    (O(log^2 n) rounds of groupBy-min — diameter-independent, unlike the
    CTE, which is why the CTE is the oracle and not the engine)."""
    from datachecker_spark.graph import dedup_clusters

    ids = _read(spark, sf_dir, "documents").select("doc_id")
    chain = ids.where(F.col("doc_id") % 100 < 10).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    copies = ids.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1000000).alias("id_b")
    )
    return dedup_clusters(chain.unionByName(copies))


@query(
    "keep_canonical",
    oracle="""
    WITH RECURSIVE raw AS (
      SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 100 < 10
      UNION ALL
      SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents WHERE doc_id % 10 = 0
    ),
    edges AS (SELECT a, b FROM raw UNION SELECT b, a FROM raw),
    walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, w.label FROM edges e JOIN walk w ON w.node = e.b AND w.label < e.a
    ),
    labels AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node)
    SELECT d.doc_id AS doc_id, d.n_chars AS n_chars
    FROM documents d
    LEFT JOIN labels l ON l.node = d.doc_id
    WHERE l.node IS NULL OR l.node = l.cluster_id
    """,
)
def keep_canonical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's last stage (graph.keep_canonical): given the
    SAME planted pair list as dedup_clusters (near-dup chains + exact-copy
    links), drop every clustered doc except its cluster's minimum-id
    canonical; docs with no edge are singletons and always kept. The
    synthetic copy nodes (doc_id+1000000) appear in the cluster map but not
    in the corpus, exercising the left-join keep path. Oracle: the same
    recursive min-label CTE, anti-filtered against the corpus. End-to-end
    this is pairs -> dedup_clusters -> keep_canonical, i.e. the reference's
    keep-first-of-group semantics (src/modules/duplicate_files/core.zig) lifted to
    transitive near-dup clusters."""
    from datachecker_spark.graph import dedup_clusters, keep_canonical

    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ids = docs.select("doc_id")
    chain = ids.where(F.col("doc_id") % 100 < 10).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    copies = ids.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1000000).alias("id_b")
    )
    clusters = dedup_clusters(chain.unionByName(copies))
    return keep_canonical(docs, clusters)


@query(
    "minhash_containment",
    oracle="""
    SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
           CAST(NULL AS VARCHAR) AS kind
    WHERE false
    """,
)
def minhash_containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment gate bounding the rows-only minhash_lsh_dedup family
    (VERDICT r4 #4): every LSH near-dup pair must appear in the
    oracle-hash-green exact operator's output at the matched threshold,
    with the identical (6-dp) Jaccard value — the emitted rows are the
    VIOLATIONS, so the oracle is the empty set and any false pair or value
    drift turns the gate red. Both directions of error are covered
    elsewhere: soundness here, completeness by the recall assertions in
    tests/test_textops.py (LSH is allowed to miss pairs, never to invent
    them). Runs on the deterministic doc_id%3 third of the corpus: the
    containment property is per-pair (subset-invariant), and the exact
    self-join on the full corpus would triple the suite bench for no
    additional coverage — pytest exercises full small corpora. Both
    pipelines consume ONE shared tokenization pass via the shingle_sets
    seam (the round-5 composition contract: tokenize once per corpus, not
    once per operator; output identical either way, pytest-asserted)."""
    from datachecker_spark.textops import (
        minhash_near_dup_pairs,
        ngram_jaccard_pairs,
        shingle_sets,
    )

    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 0)
    shared = cache.materialize(shingle_sets(docs))
    lsh = minhash_near_dup_pairs(docs, threshold=0.2, sets=shared)
    exact = ngram_jaccard_pairs(
        docs, threshold=0.2, hash_shingles=True, candidates="prefix", sets=shared
    )
    missing = (
        lsh.select("id_a", "id_b")
        .join(exact.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
        .select("id_a", "id_b", F.lit("pair_not_in_exact").alias("kind"))
    )
    mismatched = (
        lsh.select("id_a", "id_b", F.col("jaccard").alias("j_lsh"))
        .join(exact.select("id_a", "id_b", F.col("jaccard").alias("j_exact")), ["id_a", "id_b"])
        .where(F.abs(F.col("j_lsh") - F.col("j_exact")) > 1e-6)
        .select("id_a", "id_b", F.lit("jaccard_mismatch").alias("kind"))
    )
    return missing.unionByName(mismatched)


@query(
    "ann_recall",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
               FROM embeddings WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ),
    n AS (SELECT count(*) AS n_exact FROM ranked WHERE rank <= 10)
    SELECT 'ivf' AS method, n_exact AS n_exact, true AS recall_ok FROM n
    UNION ALL
    SELECT 'lsh' AS method, n_exact AS n_exact, true AS recall_ok FROM n
    """,
)
def ann_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate bounding the rows-only ANN families (VERDICT r4 #4):
    LSH and IVF top-10 recall against the oracle-hash-green brute-force
    baseline, emitted as a hash-checked row per method — n_exact (the
    denominator, independently recomputed by the DuckDB oracle's own
    brute-force SQL) plus a recall_ok boolean at a documented operating
    point. Targets carry margin over both measured SFs (lsh planes=24
    bands=8: recall 0.88 @sf0.01 / 0.855 @sf0.1, target 0.75; ivf
    n_cells=32 n_probe=24: 0.90 / 0.915, target 0.80); a regression in
    either index structure flips the boolean and the hash. The default
    entry-query operating points (ann_lsh_topk 16/4, ann_ivf_topk 32/8)
    trade recall ~0.44/0.56 for candidate-set size — this gate pins the
    higher-recall dial setting to show the recall/cost dial works."""
    from datachecker_spark.similarity import cosine_topk, ivf_cosine_topk, lsh_cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = cache.materialize(
        cosine_topk(emb, queries, k=10).select("query_id", "neighbor_id")
    )
    total = exact.agg(F.count("*").alias("n_exact"))

    def recall_row(approx: DataFrame, method: str, target: float) -> DataFrame:
        hits = (
            approx.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"])
            .agg(F.count("*").alias("h"))
        )
        return hits.crossJoin(total).select(
            F.lit(method).alias("method"),
            F.col("n_exact"),
            (F.col("h") / F.col("n_exact") >= target).alias("recall_ok"),
        )

    lsh = lsh_cosine_topk(emb, queries, k=10, planes=24, bands=8)
    ivf = ivf_cosine_topk(emb, queries, k=10, n_cells=32, n_probe=24)
    return recall_row(ivf, "ivf", 0.80).unionByName(recall_row(lsh, "lsh", 0.75))


@query(
    "dedup_e2e",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id AS id,
             list_filter(str_split_regex(lower(text), '\\s+'), w -> w <> '') AS words
      FROM documents
    ),
    sets AS (
      SELECT id,
             list_distinct(
               list_filter(
                 list_transform(list_zip(words, words[2:]),
                                x -> CASE WHEN x[2] IS NULL THEN NULL
                                          ELSE x[1] || ' ' || x[2] END),
                 v -> v IS NOT NULL)) AS sh
      FROM toks
    ),
    ex0 AS (SELECT id, unnest(sh) AS s FROM sets WHERE len(sh) > 0),
    hot AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) > 1000),
    ex AS (SELECT id, s FROM ex0 WHERE s NOT IN (SELECT s FROM hot)),
    sizes AS (SELECT id, count(*) AS n FROM ex GROUP BY id),
    cand AS (
      SELECT x.id AS id_a, y.id AS id_b, count(*) AS inter
      FROM ex x JOIN ex y ON x.s = y.s AND x.id < y.id
      GROUP BY 1, 2
    ),
    sim AS (
      SELECT p.id_a, p.id_b
      FROM cand p
      JOIN sizes sa ON sa.id = p.id_a
      JOIN sizes sb ON sb.id = p.id_b
      WHERE p.inter / (sa.n + sb.n - p.inter) >= 0.2
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM sim
              UNION SELECT id_b AS a, id_a AS b FROM sim),
    walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, w.label FROM edges e JOIN walk w ON w.node = e.b AND w.label < e.a
    ),
    labels AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node)
    SELECT d.doc_id AS doc_id, d.n_chars AS n_chars
    FROM documents d
    LEFT JOIN labels l ON l.node = d.doc_id
    WHERE l.node IS NULL OR l.node = l.cluster_id
    """,
)
def dedup_e2e_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup on REAL similarity pairs (VERDICT r4 top item): the
    flagship composition the engine exists for, run as ONE oracle-gated
    query with no planted edges anywhere —

        ngram_jaccard_pairs(docs, 0.2, max_df=1000)   exact candidate pairs
          -> dedup_clusters(pairs)                    transitive closure
          -> keep_canonical(docs, clusters)           drop all but min-id

    This is the reference's whole pipeline (walk -> group -> prune ->
    cluster -> keep-first, src/modules/duplicate_files/core.zig:17-94)
    lifted from byte-identical hash groups to exact-Jaccard similarity
    graphs. Every stage has been individually hash-green since r3/r4; this
    entry closes the last unverified seam — the stages COMPOSED, with the
    cluster input coming from the real similarity stage rather than a
    planted edge list. Oracle: the proven exact-Jaccard pair SQL (the
    ngram_jaccard_pairs oracle, same threshold and max_df) feeding the
    proven recursive min-label CTE (the dedup_clusters oracle), then the
    keep filter (singletons kept via left join, clustered docs kept iff
    node == cluster_id). The similarity stage runs candidates="prefix"
    (round-5: 1.8× faster standalone at this threshold, identical pairs;
    the composition itself measures flat at sf0.1 — cluster rounds + keep
    dominate — and keeps prefix for the at-scale df²-tail argument,
    BASELINE.md round-5 section)."""
    from datachecker_spark.graph import dedup_clusters, keep_canonical
    from datachecker_spark.textops import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.2, max_df=1000, hash_shingles=True, candidates="prefix"
    )
    clusters = dedup_clusters(pairs.select("id_a", "id_b"))
    return keep_canonical(docs.select("doc_id", "n_chars"), clusters)


# constraint-suite operators, part 2 (registers into QUERIES/ORACLES on import)
from datachecker_spark import entry_queries_suite as _suite  # noqa: E402,F401
