"""MinHash-LSH banded blocking over 3-gram shingles (C8, SURVEY §2.6).

Not present in the reference (its blocking is key-equality only); the
north star mandates an LSH pass so near-duplicate texts that share no
exact key still become candidates. Implemented entirely with native
expressions — no Python on the hot path:

- shingles: word 3-grams of the cleaned text (``sequence`` +
  ``transform`` + ``element_at``), distinct;
- k minhashes: ONE xxhash64 pass over the shingles (staged as a
  column), then k universal-hash functions ``(a_i*h + b_i) mod
  (2^31-1)`` — multiply-adds over longs instead of k string-hash
  passes — each reduced with ``array_min``;
- bands: ``num_bands`` groups of ``rows_per_band`` signature slots,
  each hashed to one block key, ``posexplode`` to (id, band_key) rows.

Two docs collide on a band iff their signatures agree on all rows of
that band — the standard (b, r) S-curve; defaults (b=8, r=4, k=32)
put the 50% collision point at Jaccard ≈ (1/8)^(1/4) ≈ 0.59.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams of a whitespace-tokenized string column.

    Built from ``zip_with`` over shifted slices (functions.
    text_analysis.sliding_concat), NOT ``transform`` + ``element_at``:
    HOF lambdas evaluate interpreted, and an ``element_at(toks, i)``
    lambda body re-evaluates the whole split-of-full-text expression
    per shingle — O(tokens) full-text splits per document (measured
    ~6 s of the minhash queries' wall at sf0.1). Same gram values, so
    every downstream signature/band/oracle is unchanged."""
    from idd_hw6_record_linkage_spark.functions.text_analysis import (
        sliding_concat,
    )

    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(c), r"\s+")
    cnt = F.size(toks) - (n - 1)
    # shorter-than-n texts: fall back to the whitespace-normalized
    # token join as one shingle (NOT the raw string — short texts that
    # differ only in whitespace must still collide / verify equal).
    return F.when(cnt >= 1, F.array_distinct(sliding_concat(toks, n))).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


# Universal-hash family over one base hash: h_i(x) = (a_i*h(x) + b_i)
# mod P with P = 2^31-1 (Mersenne). The base xxhash64 runs ONCE per
# shingle; the 31 derived functions are a multiply-add each — ~30x
# less string hashing than seeding xxhash64 per function. Constants
# from a fixed LCG so signatures are deterministic across runs and
# partitionings. h < 2^31 and a_i < 2^31 keep a_i*h + b_i < 2^63
# (no ANSI-mode overflow).
_MERSENNE31 = (1 << 31) - 1


def _hash_family(n: int) -> list[tuple[int, int]]:
    state, out = 0x5DEECE66D, []
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (_MERSENNE31 - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE31
        out.append((a, b))
    return out


def base_hashes(shingles: Column) -> Column:
    """One xxhash64 per shingle, folded into [0, 2^31)."""
    return F.transform(
        shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE31))
    )


def base_hashes_md5(shingles: Column) -> Column:
    """One md5 per shingle — the first 15 hex chars (60 bits) parsed as
    an integer, folded into [0, 2^31). Costlier than xxhash64, but
    every downstream minhash value — and therefore every band key and
    candidate pair — is reproducible in plain SQL (DuckDB:
    ``('0x' || substr(md5(x),1,15))::BIGINT``), which upgrades the
    driver's dedup_minhash_lsh check from rows-only to value-exact.
    60 bits keep ``conv`` inside long range (no decimal path — a
    little-endian full-uint64 variant needed 8 substrings + a
    decimal(20,0) pmod and measured ~1.6x slower end-to-end). Use the
    xxhash64 basis where no SQL oracle is required (e.g. the flagship
    pipeline's LSH blocking pass)."""
    return F.transform(
        shingles,
        lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
            F.lit(_MERSENNE31),
        ),
    )


def minhash_signature_from_hashes(hbase: Column, num_hashes: int = 32) -> Column:
    """Array of num_hashes minhash values over a pre-hashed shingle
    array (stage `base_hashes` as a real column first so the base pass
    runs once, not num_hashes times)."""
    def _fn(a: int, b: int):
        # closure factory, NOT default args: Spark's transform() reads
        # the lambda's arity, and `lambda h, a=a, b=b` looks 3-ary.
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE31))

    sig = [
        F.array_min(F.transform(hbase, _fn(a, b)))
        for a, b in _hash_family(num_hashes)
    ]
    return F.array(*sig)


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """Array of num_hashes minhash values over a shingle array.
    Prefer staging :func:`base_hashes` + :func:`
    minhash_signature_from_hashes` when the expression is reused —
    inlined here the base hash would be folded into every slot by
    CollapseProject only if cheap; keep for small/ad-hoc use."""
    return minhash_signature_from_hashes(base_hashes(shingles), num_hashes)


def band_keys(signature: Column, num_bands: int = 8, rows_per_band: int = 4) -> Column:
    """Array of num_bands band keys 'lsh{band}:{hash of band slice}'."""
    bands = []
    for b in range(num_bands):
        slots = [
            F.element_at(signature, b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        bands.append(F.concat_ws(":", F.lit(f"lsh{b}"), F.xxhash64(*slots).cast("string")))
    return F.array(*bands)


def lsh_key_table(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text_clean",
    shingle_n: int = 3,
    num_bands: int = 8,
    rows_per_band: int = 4,
    salt_basis: Column | None = None,
    base: str = "xxhash64",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id, block_key, pass='lsh'[, *extra_cols]) rows — one per
    (record, band).

    Feed into blocking.candidate_pairs_self like any
    other blocking pass; empty/short texts still emit a degenerate
    shingle so they can only collide with identical texts.
    ``extra_cols`` pass through verbatim (see blocking.key_table) —
    they ride along every staged projection, so carry only what the
    consumer needs.
    """
    passthrough = list(extra_cols or [])
    # Stage the shingle array as a real column: the k=bands*rows hash
    # transforms then reference one attribute instead of inlining the
    # shingle expression k times (which explodes codegen size —
    # CollapseProject keeps multi-referenced non-cheap aliases staged).
    shingled = df.select(
        F.col(id_col).alias("id"),
        word_shingles(text_col, shingle_n).alias("shingles"),
        *([] if salt_basis is None else [salt_basis.alias("salt_basis")]),
        *[F.col(c) for c in passthrough],
    )
    # Stage the base-hash array as its own column: the k derived hash
    # functions then read longs instead of re-hashing shingle strings
    # (one string-hash pass total, not k).
    base_fn = {"xxhash64": base_hashes, "md5": base_hashes_md5}[base]
    hashed = shingled.select(
        "id",
        base_fn(F.col("shingles")).alias("hbase"),
        *([] if salt_basis is None else ["salt_basis"]),
        *passthrough,
    )
    signed = hashed.select(
        "id",
        minhash_signature_from_hashes(
            F.col("hbase"), num_bands * rows_per_band
        ).alias("sig"),
        *([] if salt_basis is None else ["salt_basis"]),
        *passthrough,
    )
    keys = signed.select(
        "id",
        F.explode(band_keys(F.col("sig"), num_bands, rows_per_band)).alias("block_key"),
        *([] if salt_basis is None else ["salt_basis"]),
        *passthrough,
    )
    return keys.withColumn("pass", F.lit("lsh"))
