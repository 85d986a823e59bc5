"""Seeded inputs for the benchmark's workloads.

suite_full: datagen's span corpus (64 parts, 2% hot fingerprint) plus the
input_hint null cases and repeated doc_ids planted at seed-chosen rows,
written as partitioned parquet.

dedup_near: a Zipf-vocabulary corpus built in Python. datagen's 50-word
vocabulary puts every bigram over any useful max_df, so it has no real
near-duplicate pairs; this one has planted mutation chains (adjacent links
well above the Jaccard threshold, chain ends below it, so connected
components needs several rounds) and a boilerplate span above the max_df
cap.
"""

from __future__ import annotations

import hashlib
import json
import random

SUITE_DOCS = 50_000
SUITE_PARTS = 64
SUITE_HOT_FRAC = 0.02
# fixed 'now' for the timestamp checks: datagen's timestamps are Jan 2024
SUITE_NOW = "2024-06-01 00:00:00"
SUITE_MAX_AGE_DAYS = 365

# planted null cases of the input schema, two rows each; datagen itself plants
# media spans with a null media_ref (null_ref_rate)
NULL_CASES = ("null_spans", "null_doc_id", "null_part", "null_text", "null_kind", "null_offset")
# rows whose doc_id is overwritten with another row's id
REPEATED_IDS = 3

DEDUP_DOCS = 3_000
DEDUP_THRESHOLD = 0.5
DEDUP_MAX_DF = DEDUP_DOCS // 50
DEDUP_VOCAB = 20_000
DEDUP_ZIPF_S = 1.1
DEDUP_WORDS = 60  # words per document
# one planted chain per 75 documents (40 at DEDUP_DOCS), each CHAIN_LEN long;
# every link rewrites MUTATE word positions of the previous member
DEDUP_DOCS_PER_CHAIN = 75
DEDUP_CHAIN_LEN = 8
DEDUP_MUTATE = 3
DEDUP_BOILER_FRAC = 0.3  # share of documents that carry BOILERPLATE
BOILERPLATE = "all content on this page is provided as is without warranty of any kind"


def doc_id(i: int) -> str:
    return f"doc{i:010d}"


def suite_plants(seed: int, n_docs: int = SUITE_DOCS) -> dict[str, list[str]]:
    """case -> doc_ids of the rows it rewrites (seed-chosen, disjoint)."""
    rng = random.Random(seed)
    picks = rng.sample(range(n_docs), 2 * len(NULL_CASES) + 2 * REPEATED_IDS)
    out = {c: [doc_id(i) for i in picks[2 * k : 2 * k + 2]] for k, c in enumerate(NULL_CASES)}
    rest = picks[2 * len(NULL_CASES) :]
    out["repeated_id_from"] = [doc_id(i) for i in rest[:REPEATED_IDS]]
    out["repeated_id_to"] = [doc_id(i) for i in rest[REPEATED_IDS:]]
    return out


def suite_docs(spark, seed: int, n_docs: int = SUITE_DOCS):
    """datagen corpus with the plants applied (a lazy DataFrame)."""
    from pyspark.sql import functions as F

    from datachecker_spark import datagen

    docs = datagen.generate_documents(
        spark, n_docs, n_parts=SUITE_PARTS, hot_frac=SUITE_HOT_FRAC, seed=seed
    )
    p = suite_plants(seed, n_docs)

    def is_(case):
        return F.col("doc_id").isin(p[case])

    def extra_span(kind, text, offset):
        return F.array(
            F.struct(
                F.lit(kind).cast("string").alias("kind"),
                F.lit(text).cast("string").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(offset).cast("int").alias("offset"),
            )
        )

    spans = (
        F.when(is_("null_spans"), F.lit(None))
        .when(is_("null_text"), F.concat("spans", extra_span("text", None, 1000)))
        .when(is_("null_kind"), F.concat("spans", extra_span(None, "orphan span ", 1001)))
        .when(is_("null_offset"), F.concat("spans", extra_span("text", "unplaced span ", None)))
        .otherwise(F.col("spans"))
    )
    new_id = F.col("doc_id")
    for src, dst in zip(p["repeated_id_from"], p["repeated_id_to"]):
        new_id = F.when(F.col("doc_id") == src, F.lit(dst)).otherwise(new_id)
    new_id = F.when(is_("null_doc_id"), F.lit(None).cast("string")).otherwise(new_id)
    part = F.when(is_("null_part"), F.lit(None).cast("string")).otherwise(F.col("part"))
    # spans/part first: both conditions read the original doc_id
    return docs.select(
        spans.alias("spans"), part.alias("part"), new_id.alias("doc_id"),
        "ingest_ts", "modified_ts",
    )


def write_suite(spark, seed: int, path: str, n_docs: int = SUITE_DOCS) -> None:
    """One parquet file per part directory."""
    suite_docs(spark, seed, n_docs).repartition("part").write.mode("overwrite").partitionBy(
        "part"
    ).parquet(path)


def spark_digest(df) -> str:
    """Order-independent digest of a DataFrame's rows: row count plus the
    sum of per-row xxhash64 over the columns in name order."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")
    ).first()
    return hashlib.sha256(f"{row['n']}:{row['s']}:{','.join(cols)}".encode()).hexdigest()


def dedup_corpus(
    seed: int, n_docs: int = DEDUP_DOCS
) -> tuple[list[tuple], list[list[str]]]:
    """(rows, chains): rows are (doc_id, spans, part) in datagen's schema;
    chains lists each planted chain's doc_ids in mutation order. Adjacent
    members keep >= 0.7 capped bigram Jaccard while the ends of every chain
    fall well below 0.5."""
    import numpy as np

    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, DEDUP_VOCAB + 1) ** DEDUP_ZIPF_S
    p /= p.sum()

    def draw(k: int) -> list[str]:
        return [f"w{i}" for i in rng.choice(DEDUP_VOCAB, size=k, p=p)]

    texts: list[list[str]] = []
    chain_idx: list[list[int]] = []
    for _ in range(max(1, n_docs // DEDUP_DOCS_PER_CHAIN)):
        cur = draw(DEDUP_WORDS)
        # each link rewrites positions no earlier link of the chain touched,
        # so the ends differ in 3 x 7 = 21 of 60 words
        spots = rng.permutation(DEDUP_WORDS)[: DEDUP_MUTATE * (DEDUP_CHAIN_LEN - 1)]
        members = []
        for j in range(DEDUP_CHAIN_LEN):
            members.append(len(texts))
            texts.append(cur)
            cur = list(cur)
            for pos in spots[DEDUP_MUTATE * j : DEDUP_MUTATE * (j + 1)]:
                cur[pos] = draw(1)[0]
        chain_idx.append(members)
    while len(texts) < n_docs:
        texts.append(draw(DEDUP_WORDS))
    ids = [f"d{i:07d}" for i in rng.permutation(n_docs)]
    boiler = rng.random(n_docs) < DEDUP_BOILER_FRAC
    rows = []
    for i, w in enumerate(texts):
        cut = len(w) // 2
        spans = [
            ("text", " ".join(w[:cut]) + " ", None, 1),
            ("text", " ".join(w[cut:]), None, 2),
            ("media", None, f"m{i % 97}", 3),
        ]
        if boiler[i]:
            spans.insert(0, ("text", BOILERPLATE + " ", None, 0))
        if i % 5 == 0:
            spans.reverse()  # storage order differs from offset order
        rows.append((ids[i], spans, f"p{i % 8}"))
    chains = [[ids[i] for i in m] for m in chain_idx]
    return rows, chains


def write_rows(rows: list[tuple], path: str, files: int = 4) -> None:
    """rows in datagen's schema as `files` parquet files (one scan task
    each at local[4]), written by pyarrow: no Spark job in the set-up."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = ("kind", "text", "media_ref", "offset")
    span = pa.struct([(f, pa.int32() if f == "offset" else pa.string()) for f in fields])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span)), ("part", pa.string())])
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-len(rows) // files)
    for k in range(files):
        chunk = rows[k * step : (k + 1) * step]
        table = pa.Table.from_pylist(
            [
                {"doc_id": d, "spans": [dict(zip(fields, s)) for s in spans], "part": p}
                for d, spans, p in chunk
            ],
            schema=schema,
        )
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


def rows_digest(rows: list[tuple]) -> str:
    return hashlib.sha256(json.dumps(rows, sort_keys=True).encode()).hexdigest()
