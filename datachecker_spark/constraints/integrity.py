"""Integrity: create-or-verify content fingerprints against an expectation
table — the engine's analog of the reference's hash-sidecar protocol
(/root/reference/src/modules/integrity.zig:145-199):

  sidecar empty      → compute and WRITE the hash (CHECK verdict)   :172-180
  sidecar non-empty  → compare, OK or "different hash" ERROR        :190-198
  base file missing  → ERROR                                        :163-170

Relational form: join of computed fingerprints with the
`expected_fingerprints` table (doc_id, algo, expected_hash):

  expected NULL/empty     → CHECK verdict + row in the write-back set
                            (caller MERGEs it into the expectation table)
  expected != computed    → ERROR violation
  doc absent              → ERROR (referential; FileNotFound analog)

Algorithm dispatch mirrors the reference's 26-entry sidecar-extension map
(/root/reference/src/modules/integrity.zig:46-73). The content being hashed
is the canonical offset-ordered span serialization (fingerprint module).
Three tiers:

* JVM built-ins (whole-stage codegen, the hot path): xxhash64 (canonical),
  md5, sha1, sha224/256/384/512 via F.sha2 — plus the reference's PLAIN-
  TRUNCATION variants, which Zig defines as the standard-IV hash cut to n
  bits (std.crypto.hash.sha2.Sha256T192 / Sha512T224 / Sha512T256): hex
  prefix of the JVM digest.
* hashlib via one Arrow pandas UDF: sha512_224/sha512_256 (the FIPS
  distinct-IV variants — NOT truncations), sha3_{224,256,384,512}, and the
  parameterized blake2b{128..512}/blake2s{128..256} (hashlib digest_size
  sets the BLAKE2 parameter block, matching Zig's Blake2b128 etc.).
  Hashing inside the UDF is OpenSSL C code over Arrow-batched rows.
* blake3 + ascon256 — the native `blake3` wheel when importable, else the
  pure-Python public-spec implementations in `datachecker_spark.hashes`
  (KAT-anchored to the reference's own fixtures,
  tests/integrity/ok.blake3 / ok.ascon256). Slow tier (~0.5 MB/s
  interpreted) but correct — full 26/26 parity with the reference's
  dispatch map; an algo string outside the map still degrades to an
  `unsupported_algo` CHECK verdict rather than a crash.

Only the algorithms actually present in the expectation table are compiled
into the plan (driver peeks at distinct(algo), a tiny aggregate), so the
common xxhash64/sha256 path reuses the runner's materialized derived columns
and never re-serializes spans.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datachecker_spark import cache
from datachecker_spark.contract import SEV_CHECK, SEV_ERROR, VIOLATION_COLS
from datachecker_spark.fingerprint import canonical_string, fingerprint

CHECK_NAME = "integrity"
CHECK_MISSING = "integrity_missing"
GLOBAL_PART = "__global__"  # corpus-level violations carry this pseudo-partition


def _jvm_hashes():
    """algo → (canon Column → hex/string Column), all whole-stage codegen."""
    return {
        "xxhash64": lambda c: F.xxhash64(c).cast("string"),
        "md5": F.md5,
        "sha1": F.sha1,
        "sha224": lambda c: F.sha2(c, 224),
        "sha256": lambda c: F.sha2(c, 256),
        "sha384": lambda c: F.sha2(c, 384),
        "sha512": lambda c: F.sha2(c, 512),
        # Zig's truncated variants keep the standard IV and cut the digest
        # (integrity.zig:61,65,67) — hex-prefix of the full JVM digest
        "sha256t192": lambda c: F.substring(F.sha2(c, 256), 1, 48),
        "sha512t224": lambda c: F.substring(F.sha2(c, 512), 1, 56),
        "sha512t256": lambda c: F.substring(F.sha2(c, 512), 1, 64),
    }


# algo → zero-arg constructor for the hashlib tier
_HASHLIB_SPECS = {
    "sha512_224": lambda: hashlib.new("sha512_224"),
    "sha512_256": lambda: hashlib.new("sha512_256"),
    "sha3_224": hashlib.sha3_224,
    "sha3_256": hashlib.sha3_256,
    "sha3_384": hashlib.sha3_384,
    "sha3_512": hashlib.sha3_512,
    "blake2b128": lambda: hashlib.blake2b(digest_size=16),
    "blake2b160": lambda: hashlib.blake2b(digest_size=20),
    "blake2b256": lambda: hashlib.blake2b(digest_size=32),
    "blake2b384": lambda: hashlib.blake2b(digest_size=48),
    "blake2b512": lambda: hashlib.blake2b(digest_size=64),
    "blake2s128": lambda: hashlib.blake2s(digest_size=16),
    "blake2s160": lambda: hashlib.blake2s(digest_size=20),
    "blake2s224": lambda: hashlib.blake2s(digest_size=28),
    "blake2s256": lambda: hashlib.blake2s(digest_size=32),
}

try:  # native wheel preferred when present (C/Rust, SIMD, multi-threaded)
    import blake3 as _blake3

    _HASHLIB_SPECS["blake3"] = _blake3.blake3
except ImportError:
    from datachecker_spark.hashes import blake3_ctor

    _HASHLIB_SPECS["blake3"] = blake3_ctor

from datachecker_spark.hashes import ascon256_ctor

_HASHLIB_SPECS["ascon256"] = ascon256_ctor

JVM_ALGOS = tuple(_jvm_hashes())
HASHLIB_ALGOS = tuple(_HASHLIB_SPECS)
SUPPORTED_ALGOS = JVM_ALGOS + HASHLIB_ALGOS
# full reference map for coverage accounting (integrity.zig:46-73)
REFERENCE_ALGOS = (
    "ascon256",
    "blake2b128", "blake2b160", "blake2b256", "blake2b384", "blake2b512",
    "blake2s128", "blake2s160", "blake2s224", "blake2s256",
    "blake3", "md5", "sha1", "sha224", "sha256", "sha256t192",
    "sha384", "sha512", "sha512_224", "sha512t224", "sha512_256",
    "sha512t256", "sha3_224", "sha3_256", "sha3_384", "sha3_512",
)


def hashlib_digest(algo: str, data: bytes) -> str | None:
    """Driver/test-side single-value digest via the same dispatch."""
    spec = _HASHLIB_SPECS.get(algo)
    if spec is None:
        return None
    h = spec()
    h.update(data)
    return h.hexdigest()


def hashlib_hash_udf():
    """Arrow pandas UDF: hex digest of `text` under `algo`, NULL when the
    algorithm has no local implementation (ascon256, blake3 without the
    wheel). The per-row loop is OpenSSL C hashing — the Python overhead is
    constructor + dispatch, amortized over Arrow batches."""
    specs = _HASHLIB_SPECS

    @F.pandas_udf("string")
    def _hx(algo: pd.Series, text: pd.Series) -> pd.Series:
        out = []
        for a, t in zip(algo, text):
            spec = specs.get(a)
            if spec is None or t is None:
                out.append(None)
                continue
            h = spec()
            h.update(t.encode("utf-8"))
            out.append(h.hexdigest())
        return pd.Series(out, dtype="object")

    return _hx


def computed_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, part, xxhash64, sha256) in one pass over the canonical form.

    Reuses runner-materialized derived columns (fp = xxhash64 of the
    canonical string, content_key = sha256 of it — fingerprint.annotate)
    when present, so the cached scan is not re-hashed per branch."""
    have = set(docs.columns)
    xx = (
        F.col("fp") if "fp" in have else fingerprint("spans")
    ).cast("string")
    sha = (
        F.col("content_key")
        if "content_key" in have
        else F.sha2(canonical_string("spans"), 256)
    )
    return docs.select(
        "doc_id",
        "part",
        xx.alias("xxhash64"),
        sha.alias("sha256"),
    )


def check_missing_expectations(docs: DataFrame, expected: DataFrame) -> DataFrame:
    """ERROR per expectation whose doc_id is absent from the corpus (the
    reference's FileNotFound branch, integrity.zig:163-170).

    This is a CORPUS-level check: the expectation table spans all partitions,
    so 'missing' is only decidable against the full document set — run it
    over the whole input, never a partition batch. Only doc_id is read from
    docs (column pruning keeps span payloads out of the scan)."""
    missing = expected.select("doc_id", "algo").join(
        docs.select("doc_id"), "doc_id", "left_anti"
    )
    return missing.select(
        F.lit(CHECK_MISSING).alias("check"),
        F.lit(SEV_ERROR).alias("severity"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(GLOBAL_PART).alias("part"),
        F.format_string("expected %s hash but document missing", F.col("algo")).alias(
            "detail"
        ),
    ).select(*VIOLATION_COLS)


def _computed_column(docs: DataFrame, algos_present: list[str]) -> Column:
    """Hash selected by the row's `algo`: a when-chain for the JVM tier
    (codegen), plus at most ONE pandas-UDF invocation for the whole hashlib
    tier. The UDF already dispatches per-row on the algo value — putting one
    hx(lit(algo), ...) call in each when-branch looks lazy but is not:
    Spark's ExtractPythonUDFs hoists every UDF call into an unconditional
    ArrowEvalPython projection, so K hashlib branches made every row pay K
    digests + K Arrow transfers of the canonical string. One call = one
    ArrowEvalPython node (asserted in tests/test_plans.py); rows whose algo
    is outside the hashlib tier cost a dict miss inside the UDF.
    Only branches for algorithms actually present are compiled into the
    plan; xxhash64/sha256 reuse materialized fp/content_key when available."""
    have = set(docs.columns)
    jvm = _jvm_hashes()
    canon = canonical_string("spans")
    expr = F.lit(None).cast("string")
    hashlib_present = [a for a in algos_present if a in HASHLIB_ALGOS]
    if hashlib_present:
        hx = hashlib_hash_udf()
        expr = F.when(
            F.col("algo").isin(hashlib_present), hx(F.col("algo"), canon)
        ).otherwise(expr)
    for a in algos_present:
        if a == "xxhash64" and "fp" in have:
            branch = F.col("fp").cast("string")
        elif a == "sha256" and "content_key" in have:
            branch = F.col("content_key")
        elif a in jvm:
            branch = jvm[a](canon)
        else:
            continue  # hashlib tier handled above; unsupported → stays NULL
        expr = F.when(F.col("algo") == a, branch).otherwise(expr)
    return expr


def verify_integrity(
    docs: DataFrame,
    expected: DataFrame,
    *,
    include_missing: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Returns (violations, write_back), each one materialized block.

    violations: ERROR rows for hash mismatches (plus, when include_missing,
    corpus-level rows for expectations whose doc_id is absent — see
    check_missing_expectations), CHECK rows for create-semantics entries and
    for expectations under an algorithm with no local implementation.
    write_back: (doc_id, algo, expected_hash=computed) rows the caller merges
    into the expectation table (the reference writes the sidecar in place).

    The expectation join is narrowed to the six fields the verdicts need
    and materialized ONCE; the violation branches AND write_back then read
    the same block instead of each re-running the corpus-scale join + hash
    compute (write_back's separate evaluation was a level-independent
    ~4-7s serial tail in run_suite's metrics phase — an Amdahl cap on N→4N
    scaling). The join block is released before returning, so the caller
    disposes of the two results alone (cache.release(violations,
    write_back))."""
    exp = expected.select("doc_id", "algo", "expected_hash")
    # tiny aggregate: compile only the hash branches the table actually uses
    algos_present = sorted(
        r["algo"] for r in exp.select("algo").distinct().collect() if r["algo"]
    )
    needs_canon = any(a not in ("xxhash64", "sha256") for a in algos_present)
    cols = ["doc_id", "part"]
    have = set(docs.columns)
    if "fp" in have:
        cols.append("fp")
    if "content_key" in have:
        cols.append("content_key")
    if needs_canon or not ({"fp", "content_key"} <= have):
        cols.append("spans")
    comp_side = docs.select(*cols)
    join_type = "left" if include_missing else "inner"
    j = exp.join(comp_side, "doc_id", join_type)
    # doc present iff the docs side matched (part is never NULL for real docs)
    j = j.withColumn("_present", F.col("part").isNotNull())
    j = j.withColumn("_computed", _computed_column(comp_side, algos_present))
    j = cache.materialize(
        j.select("doc_id", "algo", "expected_hash", "part", "_present", "_computed")
    )

    supported = F.col("algo").isin(list(SUPPORTED_ALGOS))
    create = j.where(
        F.col("_present")
        & supported
        & (F.col("expected_hash").isNull() | (F.col("expected_hash") == ""))
    )
    mismatch = j.where(
        F.col("_present")
        & supported
        & F.col("expected_hash").isNotNull()
        & (F.col("expected_hash") != "")
        & (F.col("_computed") != F.col("expected_hash"))
    )
    unsupported = j.where(F.col("_present") & ~supported)

    def v(df: DataFrame, severity: str, detail) -> DataFrame:
        return df.select(
            F.lit(CHECK_NAME).alias("check"),
            F.lit(severity).alias("severity"),
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("part").cast("string").alias("part"),
            detail.alias("detail"),
        ).select(*VIOLATION_COLS)

    violations = v(
        mismatch,
        SEV_ERROR,
        F.format_string(
            "%s mismatch: expected=%s computed=%s",
            F.col("algo"),
            F.col("expected_hash"),
            F.col("_computed"),
        ),
    ).unionByName(
        v(create, SEV_CHECK, F.format_string("created %s fingerprint", F.col("algo")))
    ).unionByName(
        v(
            unsupported,
            SEV_CHECK,
            F.format_string("unsupported algo %s (no local implementation)", F.col("algo")),
        )
    )
    if include_missing:
        violations = violations.unionByName(check_missing_expectations(docs, expected))
    write_back = create.select(
        "doc_id", "algo", F.col("_computed").alias("expected_hash")
    )
    try:
        return cache.materialize(violations), cache.materialize(write_back)
    finally:
        cache.release(j)
