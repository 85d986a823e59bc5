"""Training-data pipeline text operators over a flat (id, text) table.

Everything here is pure Catalyst column algebra — token arrays, shingles,
minhash signatures, simhash bits, winnowing fingerprints are all built with
transform/aggregate/sequence over JVM built-ins (xxhash64, md5, conv), so the
whole pipeline stays inside whole-stage codegen with zero Python per row.

Scale notes (10^12 docs):
* Candidate generation for near-dup detection is always a bucket join
  (LSH band / simhash chunk / shared shingle), never an all-pairs product.
* Pair verification shuffles only (id_a, id_b) plus small per-doc summaries.
* The common-shingle exact-Jaccard path computes |A ∩ B| in the join and
  |A ∪ B| from per-doc distinct counts — no second pass over text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datachecker_spark import cache

# ---------------------------------------------------------------------------
# tokenization / shingles
# ---------------------------------------------------------------------------


def tokens(text: Column | str) -> Column:
    """Lowercased whitespace tokens."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(t), r"\s+"), lambda w: w != "")


def word_shingles(toks: Column, k: int = 2) -> Column:
    """k-word shingles joined by single spaces; [] when fewer than k tokens.

    Shingle i is row i of k shifted slices zipped side by side, so the
    lambda reads only its own struct element: a lambda that sliced `toks`
    would re-evaluate the whole `toks` expression once per shingle
    (interpreted higher-order functions get no common-subexpression
    elimination), quadratic in the document length."""
    n = F.size(toks)
    m = n - k + 1
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, m) for i in range(k)])
    return F.when(
        n >= k,
        F.transform(zipped, lambda z: F.concat_ws(" ", *[z[str(i)] for i in range(k)])),
    ).otherwise(F.array().cast("array<string>"))


def char_grams(text: Column | str, k: int = 8) -> Column:
    """Character k-grams; [] when the text is shorter than k."""
    t = F.col(text) if isinstance(text, str) else text
    n = F.length(t)
    return F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - k + 1), lambda i: t.substr(i, F.lit(k))),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection
# ---------------------------------------------------------------------------


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_k: int = 2,
) -> DataFrame:
    """(id, sh): per-doc DISTINCT word-shingle sets — the shared first stage
    of the minhash and exact-Jaccard pipelines (empty-set docs dropped, as
    both consumers require).

    Shingling is linear per document: `text_col` (often a derived
    expression such as fingerprint.flattened_text, which the optimizer
    inlines here) and its tokenization are evaluated exactly once per
    document. The token array comes from a one-element explode, a Generate
    node, which neither CollapseProject nor filter pushdown moves an
    expression across; over a plain projection the short-doc filter would
    be rewritten onto the projection's input and re-run the whole text
    expression (tests/test_plans.py guards the plan shape).

    A composition that runs BOTH pipelines over the same corpus should
    still compute this once, materialize it, and hand it to each consumer
    via their `sets=` parameter: one corpus scan + one tokenize pass total
    instead of one per operator. Contract: the CALLER owns the
    materialization (pass cache.materialize(shingle_sets(...))) and the
    disposal (the blocks surface as LogicalRDD leaves of every consumer's
    plan, so cache.release(result) on any consumer reaches them — same
    contract as the operators' internal blocks)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(tokens(text_col))).alias("toks"),
    ).where(F.size("toks") >= shingle_k)
    return toks.select(
        "id", F.array_distinct(word_shingles(F.col("toks"), shingle_k)).alias("sh")
    )


def band_keys(sig_cols: list[str], bands: int, rows: int) -> Column:
    """Band keys from signature columns: hash of each contiguous rows-slice."""
    return F.array(
        *[
            F.xxhash64(
                F.concat_ws(",", *[F.col(c).cast("string") for c in sig_cols[b * rows : (b + 1) * rows]])
            )
            for b in range(bands)
        ]
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_k: int = 2,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a, id_b, jaccard ≥ threshold).

    shingle → minhash → band → bucket-join for candidates, then EXACT
    Jaccard verification on the distinct shingle sets (estimated similarity
    never decides membership — the signature only prunes the pair space).

    The shingle sets are materialized once (cache.materialize) and read
    three times: signatures and both verify sides. Their block is a
    LogicalRDD leaf of the returned plan: dispose with cache.release(result).

    sets: pre-tokenized shingle_sets(...) output shared across operators in
    a composition (see that docstring). The caller owns its materialization
    and disposal; `shingle_k`/`text_col` are ignored for the shingle stage
    when provided."""
    rows = num_hashes // bands
    if sets is not None:
        base = sets
    else:
        base = cache.materialize(
            shingle_sets(df, id_col, text_col, shingle_k=shingle_k)
        )
    # signatures via the relational (codegen'd) path; candidates carry ONLY
    # ids through the band explode / self-join / dedup — shuffling the
    # shingle arrays 16× per doc is the data amplification that kills this
    # at scale. Shingle sets re-join once, keyed by id, for verification.
    # Signatures derive from the SAME persisted shingle sets (one
    # tokenization pass total — re-tokenizing here would scan and
    # tokenize the whole corpus again).
    sig_cols = [f"mh{h}" for h in range(num_hashes)]
    sig = (
        base.select("id", F.explode("sh").alias("s"))
        .groupBy("id")
        .agg(*[
            F.min(F.xxhash64(F.col("s"), F.lit(h))).alias(f"mh{h}")
            for h in range(num_hashes)
        ])
    )
    bucketed = sig.select(
        "id",
        F.posexplode(band_keys(sig_cols, bands, rows)).alias("band_idx", "band_key"),
    )
    cand = (
        bucketed.alias("x")
        .join(bucketed.alias("y"), ["band_idx", "band_key"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sets_a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sets_b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = cand.join(sets_a, "id_a").join(sets_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    return verified.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard via common-shingle join (SQL-expressible oracle path)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_k: int = 2,
    threshold: float = 0.5,
    max_df: int | None = None,
    hash_shingles: bool = False,
    candidates: str = "join",
    sets: DataFrame | None = None,
) -> DataFrame:
    """All pairs with exact shingle-set Jaccard ≥ threshold.

    |A ∩ B| falls out of the shingle equi-join's group count; |A ∪ B| =
    |A| + |B| − |A ∩ B| from per-doc set sizes. Pairs sharing no shingle
    (jaccard 0) never materialize — the join is the candidate filter.

    candidates="prefix" swaps the candidate stage for ALL-PAIRS prefix
    filtering with a length filter (Bayardo/Ma/Srikant WWW'07; Xiao et al.
    WWW'08 ppjoin — public algorithms), the standard next step beyond the
    blunt max_df cap when Σ df² still explodes: order the shingle universe
    globally by (document frequency asc, shingle asc) and self-join each
    doc's FIRST p = |A| − ⌈t·|A|⌉ + 1 shingles only. Completeness: for any
    pair with J ≥ t, the globally-smallest common shingle w must sit inside
    BOTH prefixes — if w fell outside A's prefix, every common shingle
    would lie in A's suffix of size ⌈t·|A|⌉ − 1 < t·|A| ≤ |A ∩ B|, a
    contradiction (symmetrically for B) — so the prefix self-join loses no
    qualifying pair, and the exact array_intersect verify keeps output
    byte-identical to candidates="join" (pytest-asserted). The win is NOT
    the 1−t prefix truncation; it is that the ordering pushes HIGH-df
    shingles (the d² cost centers) out of the prefixes entirely, so join
    cost concentrates on rare shingles. The price is carrying each doc's
    sorted shingle array through the verify join — and measurement says
    the price is small: on the sf0.1 corpus (local[32], best-of-2 cold,
    release_all between samples, sequential runs only,
    tools/bench_ngram_modes.py, 2026-08-20) prefix wins at EVERY
    threshold — t=0.2: 12.9s vs 23.7s, t=0.5: 10.5s vs 20.2s, t=0.7:
    10.0s vs 18.0s (1.8–1.9×, identical row counts asserted per cell; both
    modes then still paid quadratic shingling, see shingle_sets).
    "prefix" is therefore the production path for the standalone pair
    queries; "join" remains the count-based oracle-shaped plan. In the
    full dedup_e2e COMPOSITION the two modes measure flat at sf0.1
    (cluster rounds + keep join dominate there), see BASELINE.md.

    max_df is the HOT-SHINGLE GUARD: a shingle shared by d documents
    contributes d² rows to the self-join, so one stop-phrase shared by 10⁶
    docs makes the plan quadratic on that key. Shingles with document
    frequency > max_df are dropped from the universe — both from the
    intersection AND the set sizes, so the result is the exact Jaccard over
    the capped shingle universe (the standard IDF-style pruning: a shingle
    in >max_df docs carries ~no pair evidence). The hot set is tiny by
    construction (≤ |shingles|/max_df), so the exclusion is a broadcast
    anti-join. max_df=None keeps the uncapped oracle semantics.

    hash_shingles=True replaces each shingle string with xxhash64(shingle)
    BEFORE the self-join: the join/groupBy keys become fixed-width longs
    instead of variable-length strings, cutting shuffle bytes and hash/
    compare cost on the Σ df² joined rows — the dominant stage. The result
    is identical unless two distinct shingles of the SAME document collide
    in 64 bits (expected collisions across a corpus with S distinct
    shingles: S²/2⁶⁵ — ~10⁻⁷ even at S=10⁶; at 10¹²-doc scale this is the
    intended production path, as the same hashing underlies the minhash
    route). A same-doc collision would merge two shingles BEFORE
    array_distinct sees the hashes, leaving duplicate (id, hash) rows in
    the exploded table — inflating intersections multiplicatively in the
    self-join as well as set sizes; same negligible probability, noted for
    completeness. Default False: byte-exact oracle semantics.

    The exploded shingle table is materialized once (cache.materialize)
    and read by every consumer: the hot-shingle count, both self-join sides
    and the set sizes would otherwise each re-run the tokenization. The
    returned plan's LogicalRDD leaves are the operator's blocks: dispose
    with cache.release(result). The prefix path releases the exploded
    table itself once its sorted-array table is written.

    sets: pre-tokenized shingle_sets(...) output shared across operators in
    a composition (see that docstring). The caller owns its materialization
    and disposal; the exploded table is then re-derived from the caller's
    materialized blocks per consumer (codegen explode+hash over a block
    scan) instead of being checkpointed a second time here."""
    if candidates not in ("join", "prefix"):
        raise ValueError(f"candidates must be 'join' or 'prefix', got {candidates!r}")
    base = (
        sets
        if sets is not None
        else shingle_sets(df, id_col, text_col, shingle_k=shingle_k)
    )
    shingle = F.xxhash64(F.col("s")) if hash_shingles else F.col("s")
    ex = base.select("id", F.explode("sh").alias("s")).select(
        "id", shingle.alias("s")
    )
    # tokenize ONCE: every consumer below (hot-shingle count, both self-join
    # sides, set sizes) otherwise re-runs the shingling over the corpus —
    # 4 full tokenization passes per query. With caller-provided `sets` the
    # upstream is already materialized, so the second checkpoint is skipped.
    own = None
    if sets is None:
        ex = own = cache.materialize(ex)
    if max_df is not None:
        hot = (
            ex.groupBy("s").agg(F.count("*").alias("_df")).where(F.col("_df") > max_df)
        )
        ex = ex.join(F.broadcast(hot.select("s")), "s", "left_anti")
    if candidates == "prefix":
        try:
            return _jaccard_prefix_filtered(ex, threshold)
        finally:
            # the result reads only the sorted-array block written inside
            cache.release(own)
    # |capped shingle set| per doc == row count in ex (shingles are distinct
    # per doc); identical to size(sh) when max_df is None
    sizes = ex.groupBy("id").agg(F.count("*").alias("n"))
    pairs = (
        ex.alias("x")
        .join(ex.alias("y"), "s")
        .where(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6).alias(
                "jaccard"
            ),
        )
    )
    return out.where(F.col("jaccard") >= threshold)


def _jaccard_prefix_filtered(ex: DataFrame, threshold: float) -> DataFrame:
    """candidates="prefix" body of ngram_jaccard_pairs (see its docstring
    for the completeness proof): ex is the (id, s) exploded distinct-shingle
    table AFTER the hot-shingle guard.

    Plan shape: one groupBy(s) for document frequencies, one join to tag
    each (id, s) with its df, one groupBy(id) assembling the (df, s)-sorted
    shingle array (struct sort = the global order), then the self-join runs
    over EXPLODED PREFIXES ONLY. The doc table (sorted array + prefix) is
    materialized once and read three times (prefix explode + both verify
    sides) — same tokenize-once economics as the "join" path's checkpoint.
    The length filter (J ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|)) prunes
    candidates before the array-carrying verify join; verification is
    array_intersect on the sorted fixed-order arrays, exact by construction.
    """
    dfreq = ex.groupBy("s").agg(F.count("*").alias("_df"))
    exd = ex.join(dfreq, "s")
    docs_arr = exd.groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct(F.col("_df"), F.col("s")))).alias("arr")
    )
    n = F.size("arr")
    p = (n - F.ceil(F.lit(threshold) * n) + 1).cast("int")
    docs_arr = docs_arr.select(
        "id",
        n.alias("n"),
        F.transform("arr", lambda e: e["s"]).alias("ss"),
        F.transform(F.slice("arr", F.lit(1), p), lambda e: e["s"]).alias("pref"),
    )
    docs_arr = cache.materialize(docs_arr)
    pr = docs_arr.select("id", "n", F.explode("pref").alias("s"))
    cand = (
        pr.alias("x")
        .join(pr.alias("y"), "s")
        .where(F.col("x.id") < F.col("y.id"))
        .where(F.least("x.n", "y.n") >= F.lit(threshold) * F.greatest("x.n", "y.n"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = docs_arr.select(
        F.col("id").alias("id_a"), F.col("n").alias("n_a"), F.col("ss").alias("ss_a")
    )
    sb = docs_arr.select(
        F.col("id").alias("id_b"), F.col("n").alias("n_b"), F.col("ss").alias("ss_b")
    )
    ver = cand.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("ss_a", "ss_b"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    return ver.select("id_a", "id_b", F.round(jac, 6).alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# SimHash near-duplicate detection
# ---------------------------------------------------------------------------


def simhash(toks: Column, bits: int = 64) -> Column:
    """Charikar simhash over the token multiset: bit b of the result is set
    iff the sum of ±1 votes (bit b of each token's xxhash64 mapped to ±1) is
    positive. Single pass over the tokens: the fold accumulates a `bits`-wide
    vote array via zip_with/getbit, then the bit-assembly loop runs in Python
    over literal positions (shift amounts must be literals in Spark)."""
    zeros = F.transform(F.sequence(F.lit(0), F.lit(bits - 1)), lambda b: F.lit(0))
    votes = F.aggregate(
        toks,
        zeros,
        lambda acc, t: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda b: F.getbit(F.xxhash64(t), b),
            ),
            lambda a, v: a + F.when(v == 1, 1).otherwise(-1),
        ),
    )
    out = F.lit(0).cast("long")
    for b in range(bits):
        weight = (1 << b) if b < 63 else -(2**63)  # bit 63 = sign bit of a long
        out = out.bitwiseOR(
            F.when(F.element_at(votes, b + 1) > 0, F.lit(weight).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return out


def simhash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", *, bits: int = 64
) -> DataFrame:
    """(id, sh): simhash via explode + `bits` codegen'd vote-sum aggregates —
    the vectorized form of simhash() (identical values)."""
    ex = df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t"))
    ex = ex.select("id", F.xxhash64("t").alias("h"))
    aggs = [
        F.sum(F.when(F.getbit("h", F.lit(b)) == 1, 1).otherwise(-1)).alias(f"v{b}")
        for b in range(bits)
    ]
    votes = ex.groupBy("id").agg(*aggs)
    sh = F.lit(0).cast("long")
    for b in range(bits):
        weight = (1 << b) if b < 63 else -(2**63)
        sh = sh.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, F.lit(weight).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select("id", sh.alias("sh"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hamming: int = 3,
    chunks: int | None = None,
    key_chunks: int = 1,
) -> DataFrame:
    """ALL pairs with simhash hamming distance ≤ max_hamming (complete).

    Pigeonhole banding (Manku/Jain/Sarma, WWW'07): split the 64 bits into
    `chunks` contiguous blocks (widths as equal as possible). A pair within
    hamming ≤ max_hamming differs in at most max_hamming blocks, hence
    agrees on ≥ chunks − max_hamming blocks — so with chunks ≥ max_hamming+1
    the pair always shares at least one exact block, and candidates from the
    per-block equi-join are COMPLETE. Verification is exact
    bit_count(xor) on the joined fingerprints, so precision is always 1.

    chunks=None derives max(4, max_hamming+1): the minimal complete banding,
    floored at 4 so the default max_hamming=3 keeps 16-bit keys.

    key_chunks (r) is the SELECTIVITY dial for scale: joining on single
    blocks gives 64/chunks-bit keys (2^(64/chunks) buckets — weak when
    chunks is large). Since agreeing pairs share ≥ chunks − max_hamming
    whole blocks, joining instead on every r-combination of blocks
    (r ≤ chunks − max_hamming keeps completeness, asserted) widens the key
    to r·64/chunks bits at a C(chunks, r) explode factor. E.g. max_hamming=6:
    chunks=8, key_chunks=2 → 16-bit composite keys, 28 keys/doc — 128×
    more selective buckets than the minimal 7×9-bit banding for 4× the
    explode. Candidate volume per key table ~ n²/2^(key bits), so pick r to
    keep that sub-linear in n at the target corpus size."""
    if chunks is None:
        chunks = max(4, max_hamming + 1)
    assert max_hamming < chunks <= 64, (
        "pigeonhole completeness needs chunks >= max_hamming+1"
    )
    assert 1 <= key_chunks <= chunks - max_hamming, (
        "completeness of r-combination keys needs r <= chunks - max_hamming"
    )
    base = simhash_table(df, id_col, text_col)
    # as-equal-as-possible block widths (64 need not divide evenly)
    widths = [64 // chunks + (1 if c < 64 % chunks else 0) for c in range(chunks)]
    offsets = [sum(widths[:c]) for c in range(chunks)]

    def block(c: int) -> Column:
        if widths[c] >= 64:  # chunks=1: the whole fingerprint is the key
            return F.col("sh")
        return F.shiftrightunsigned(F.col("sh"), offsets[c]).bitwiseAND(
            F.lit((1 << widths[c]) - 1)
        )

    from itertools import combinations

    subsets = list(combinations(range(chunks), key_chunks))
    # composite key per r-subset: xxhash64 of the member blocks (fixed-width
    # long join keys regardless of r)
    keys = F.array(*[F.xxhash64(*[block(c) for c in sub]) for sub in subsets])
    chunked = base.select(
        "id", "sh", F.posexplode(keys).alias("chunk_idx", "chunk_val")
    )
    a = chunked.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "chunk_idx", "chunk_val")
    b = chunked.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "chunk_idx", "chunk_val")
    cand = (
        a.join(b, ["chunk_idx", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (rolling-hash selection)
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    gram_k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken): hash every char k-gram, keep
    the minimum hash of each sliding window — a deterministic ~1/window
    sample of positions that any sufficiently long shared substring must hit.

    Hash = first 8 hex chars of md5 as an integer (md5 agrees bit-for-bit
    between Spark and DuckDB, making the fingerprint oracle-checkable).
    Relational form — explode grams, hash in codegen, sliding-window min via
    a window function — higher-order-function folds are interpreted and ~10×
    slower. Returns distinct (id, fp)."""
    from pyspark.sql import Window as W

    grams = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(char_grams(F.col(text_col), gram_k)).alias("pos", "g"),
    )
    hashed = grams.select(
        "id", "pos", F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long").alias("h")
    )
    win = W.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    whole = W.partitionBy("id")
    mins = hashed.select(
        "id",
        "pos",
        F.min("h").over(win).alias("fp"),
        F.max("pos").over(whole).alias("maxpos"),
    )
    # only full windows select fingerprints (positions 0..n-window); a doc
    # shorter than one window keeps its single overall min (pos 0 row)
    full = mins.where(F.col("pos") <= F.greatest(F.col("maxpos") - window + 1, F.lit(0)))
    return full.select("id", "fp").distinct()


# ---------------------------------------------------------------------------
# Language ID / quality / token stats
# ---------------------------------------------------------------------------

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "for", "was", "with", "a"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "des", "que", "pas"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "de", "que", "no"],
}


def lang_scores(toks: Column) -> dict[str, Column]:
    """Per-language stopword-hit share of the token stream."""
    n = F.greatest(F.size(toks), F.lit(1))
    return {
        lang: F.size(F.filter(toks, lambda w: w.isin(words))) / n
        for lang, words in STOPWORDS.items()
    }


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """n-gram-heuristic language ID: argmax stopword share, 'unknown' when no
    language scores above zero."""
    toks = tokens(text_col)
    scores = lang_scores(toks)
    best = F.greatest(*scores.values())
    lang = F.lit("unknown")
    for code in sorted(STOPWORDS, reverse=True):  # deterministic tie-break: first alphabetically wins
        lang = F.when(scores[code] == best, F.lit(code)).otherwise(lang)
    lang = F.when(best > 0, lang).otherwise(F.lit("unknown"))
    return df.select(
        F.col(id_col).alias("id"),
        lang.alias("lang_pred"),
        F.round(best, 6).alias("lang_score"),
    )


BPE_ISH_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count + char count."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.size(tokens(text_col)).alias("ws_tokens"),
        F.regexp_count(t, F.lit(BPE_ISH_REGEX)).alias("bpe_tokens"),
        F.length(t).alias("n_chars"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic document-quality score in [0,1] from length, punctuation
    ratio, stopword ratio, and mean word length — the usual cheap pre-filter
    stack for web-scale corpus cleaning."""
    t = F.col(text_col)
    toks = tokens(text_col)
    n_chars = F.greatest(F.length(t), F.lit(1))
    n_toks = F.greatest(F.size(toks), F.lit(1))
    punct_ratio = F.regexp_count(t, F.lit(r"[^A-Za-z0-9\s]")) / n_chars
    stop_ratio = F.size(F.filter(toks, lambda w: w.isin(STOPWORDS["en"]))) / n_toks
    mean_wlen = F.aggregate(toks, F.lit(0), lambda a, w: a + F.length(w)) / n_toks
    len_component = F.least(F.length(t) / 500.0, F.lit(1.0))
    wlen_component = F.when((mean_wlen >= 3) & (mean_wlen <= 10), 1.0).otherwise(0.5)
    punct_component = F.when(punct_ratio <= 0.2, 1.0).otherwise(
        F.greatest(F.lit(0.0), 1.0 - (punct_ratio - 0.2) * 2)
    )
    stop_component = F.least(stop_ratio * 4, F.lit(1.0))
    score = (
        0.3 * len_component
        + 0.2 * wlen_component
        + 0.25 * punct_component
        + 0.25 * stop_component
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.round(score, 6).alias("quality"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
    )
