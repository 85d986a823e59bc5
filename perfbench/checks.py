"""Output checks that do not trust the engine.

suite_full: per check family, the set of documents the engine flags must
equal the set that plain Spark SQL over the generated corpus says is
planted. Planted null cases (null spans, media refs, doc_id, part) whose
verdict the engine does not give yet are misses: counted under
`null_misses`, not failures.

dedup_near: DuckDB computes the exact capped-universe bigram Jaccard pairs
of the whole corpus, a Python union-find turns them into clusters, and the
engine's clusters must equal them; every planted chain must land in one
cluster, and keep_canonical must keep one row per cluster plus every
unclustered document.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

NULL_KEY = "<null>"

# check -> SQL over the `corpus` view giving (key, null_case): the documents
# that must carry that check's verdict. null_case rows are planted null
# inputs; the engine missing them is counted, not failed.
SIZE = "aggregate(spans, 0L, (a, s) -> a + coalesce(length(s.text), 0))"


def truth_sql(now: str, max_age_days: int) -> dict[str, str]:
    ts_now = f"CAST('{now}' AS TIMESTAMP)"
    future = f"(CAST(ingest_ts AS TIMESTAMP) > {ts_now} OR CAST(modified_ts AS TIMESTAMP) > {ts_now})"
    key = f"coalesce(doc_id, '{NULL_KEY}')"
    return {
        "empty_doc": f"""
            SELECT {key} AS key, spans IS NULL AS null_case FROM corpus
            WHERE spans IS NULL OR {SIZE} = 0""",
        "dangling_media_ref": f"""
            SELECT {key} AS key, bool_and(s.media_ref IS NULL) AS null_case
            FROM corpus LATERAL VIEW explode(spans) t AS s
            WHERE s.kind = 'media'
              AND (s.media_ref IS NULL OR startswith(s.media_ref, 'missing_'))
            GROUP BY {key}""",
        "duplicate_docs": f"""
            SELECT key, false AS null_case FROM (
              SELECT {key} AS key, count(*) OVER (PARTITION BY content) AS n
              FROM (SELECT doc_id, {SIZE} AS size,
                      transform(array_sort(transform(spans, s -> struct(
                        s.offset AS o, s.kind AS k, s.text AS t, s.media_ref AS m))),
                        x -> struct(x.k, x.t, x.m)) AS content
                    FROM corpus WHERE spans IS NOT NULL)
              WHERE size > 0)
            WHERE n > 1""",
        "unique_doc_id": """
            SELECT doc_id AS key, false AS null_case FROM corpus
            WHERE doc_id IN (SELECT doc_id FROM corpus WHERE doc_id IS NOT NULL
                             GROUP BY doc_id HAVING count(*) > 1)""",
        "future_timestamp": f"SELECT {key} AS key, false AS null_case FROM corpus WHERE {future}",
        "stale_doc": f"""
            SELECT {key} AS key, false AS null_case FROM corpus
            WHERE NOT {future} AND greatest(CAST(ingest_ts AS TIMESTAMP),
              CAST(modified_ts AS TIMESTAMP)) < {ts_now} - INTERVAL {int(max_age_days)} DAYS""",
        # no such check in the engine yet: every row here is a miss
        "null_key": f"SELECT {key} AS key, true AS null_case FROM corpus WHERE doc_id IS NULL OR part IS NULL",
    }


def suite_truth(spark, corpus, now: str, max_age_days: int) -> dict[str, dict[str, bool]]:
    """check -> {doc key: null_case}, from one UNION ALL job."""
    queries = truth_sql(now, max_age_days)
    sql = " UNION ALL ".join(
        f"SELECT '{check}' AS check, key, null_case FROM ({q})" for check, q in queries.items()
    )
    corpus.createOrReplaceTempView("corpus")
    out: dict[str, dict[str, bool]] = {c: {} for c in queries}
    try:
        for r in spark.sql(sql).collect():
            d = out[r["check"]]
            # a key with any non-null reason must be flagged
            d[r["key"]] = d.get(r["key"], True) and bool(r["null_case"])
    finally:
        spark.catalog.dropTempView("corpus")
    return out


def engine_flags(violations, checks) -> dict[str, set[str]]:
    from pyspark.sql import functions as F

    rows = (
        violations.where(F.col("check").isin(list(checks)))
        .select("check", F.coalesce("doc_id", F.lit(NULL_KEY)).alias("key"))
        .distinct()
        .collect()
    )
    out: dict[str, set[str]] = {c: set() for c in checks}
    for r in rows:
        out[r["check"]].add(r["key"])
    return out


@dataclass
class Verdict:
    null_misses: int = 0
    problems: list[str] = field(default_factory=list)
    counts: dict[str, list[int]] = field(default_factory=dict)


def compare(truth: dict[str, dict[str, bool]], flags: dict[str, set[str]]) -> Verdict:
    v = Verdict()
    for check, t in truth.items():
        e = flags.get(check, set())
        extra = e - t.keys()
        missing = [k for k in t if k not in e]
        hard = [k for k in missing if not t[k]]
        v.null_misses += len(missing) - len(hard)
        v.counts[check] = [len(e), len(t)]
        if extra or hard:
            v.problems.append(
                f"{check}: {len(extra)} unexpected, {len(hard)} missed "
                f"(e.g. {sorted(extra)[:3]} {hard[:3]})"
            )
    return v


def compare_verdicts(got, want) -> dict[str, int]:
    """Multiset difference of two violation tables. Extra rows whose part is
    NULL are counted apart: resuming re-processes null-part rows."""
    from pyspark.sql import functions as F

    cols = ["check", "severity", "doc_id", "part", "detail"]
    extra = got.select(cols).exceptAll(want.select(cols))
    missing = want.select(cols).exceptAll(got.select(cols)).count()
    row = extra.agg(
        F.count("*").alias("n"), F.sum(F.col("part").isNull().cast("int")).alias("null_part")
    ).first()
    null_part = row["null_part"] or 0
    return {"extra": row["n"] - null_part, "missing": missing, "null_part_repeats": null_part}


# --- dedup_near --------------------------------------------------------------


def bigrams(text: str) -> set[str]:
    """textops.tokens + word_shingles(k=2), in Python."""
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}


def flat_text(spans: list[tuple]) -> str:
    """fingerprint.flattened_text: text spans in offset order, concatenated."""
    return "".join(s[1] or "" for s in sorted(spans, key=lambda s: s[3]) if s[0] == "text")


def reference_pairs(rows: list[tuple], threshold: float, max_df: int) -> list[tuple]:
    """Exact bigram-Jaccard pairs over the max_df-capped shingle universe,
    computed by DuckDB: (id_a, id_b, jaccard) with id_a < id_b."""
    import duckdb
    import pandas as pd

    sh = pd.DataFrame(
        [(r[0], s) for r in rows for s in bigrams(flat_text(r[1]))], columns=["id", "s"]
    )
    con = duckdb.connect()
    try:
        con.register("sh", sh)
        return con.execute(
            f"""
            WITH d AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= {int(max_df)}),
            x AS (SELECT sh.id, sh.s FROM sh JOIN d USING (s)),
            n AS (SELECT id, count(*) AS n FROM x GROUP BY id),
            i AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
                  FROM x a JOIN x b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
            j AS (SELECT id_a, id_b, round(inter / (na.n + nb.n - inter), 6) AS jac
                  FROM i JOIN n na ON na.id = id_a JOIN n nb ON nb.id = id_b)
            SELECT id_a, id_b, jac FROM j WHERE jac >= {float(threshold)} ORDER BY 1, 2
            """
        ).fetchall()
    finally:
        con.close()


def clusters_of(pairs: list[tuple]) -> dict[str, str]:
    """Union-find over pairs: doc -> smallest doc id of its component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_dedup(
    expected: dict[str, str], got: dict[str, str], chains: list[list[str]],
    kept: int, n_docs: int,
) -> list[str]:
    problems = []
    if got != expected:
        diff = {k for k in expected.keys() | got.keys() if expected.get(k) != got.get(k)}
        problems.append(f"{len(diff)} docs clustered differently, e.g. {sorted(diff)[:3]}")
    split = [c for c in chains if len({got.get(d) for d in c}) != 1 or got.get(c[0]) is None]
    if split:
        problems.append(f"{len(split)} planted chains not in one cluster")
    want_kept = n_docs - len(expected) + len(set(expected.values()))
    if kept != want_kept:
        problems.append(f"keep_canonical kept {kept}, expected {want_kept}")
    return problems
