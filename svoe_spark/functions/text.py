"""Text primitives for the LLM-data-pipeline operators: tokenization,
character shingles, and portable polynomial hashing.

The polynomial hash (h = h*31 + codepoint mod 1e9+7) is engine-portable:
it can be expressed with identical integer semantics in Spark and any
SQL engine, which is what makes the dedup/fingerprint operators
oracle-verifiable bit-for-bit. At production scale the same operators
accept `fast=True` to use JVM xxhash64 instead (one codegen'd
expression, no higher-order functions) — same algorithm shape, faster
constants, not cross-engine-reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from svoe_spark.functions import is_ident_path

P_HASH = 1_000_000_007  # fits every intermediate in int64 (acc*31+c < 3.2e10)
SHINGLE_BASE = 256  # text is ASCII; a char trigram packs into < 2^24


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# When the input is a plain column reference (str), every helper below
# returns ONE parsed SQL expression instead of composing Column objects:
# each Column operation is a py4j round trip (~0.6 ms), and these
# helpers sit under most text queries' plan construction (profiled at
# ~10-40 round trips per call). The SQL strings spell out the identical
# functions, literals and casts, so the parsed expression tree — and
# every value — matches the Column form bit-for-bit. Column inputs keep
# the original composition.


def _tokens_sql(text: str) -> str:
    return f"filter(split({text}, ' ', -1), t -> length(t) > 0)"


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, empties dropped (split on single space — the
    fixtures are single-space separated; no regex-engine variance)."""
    if is_ident_path(text):
        return F.expr(_tokens_sql(text))
    return F.filter(F.split(_col(text), " ", -1), lambda t: F.length(t) > 0)


def codepoints(text: Column | str) -> Column:
    """array<int> of character codepoints."""
    c = _col(text)
    return F.transform(
        F.sequence(F.lit(1), F.length(c)), lambda i: F.ascii(c.substr(i, F.lit(1)))
    )


def _md5_hash_sql(text: str) -> str:
    return (
        f"CAST(conv(substring(md5(encode({text}, 'UTF-8')), 1, 15), 16, 10)"
        " AS BIGINT)"
    )


def md5_hash(text: Column | str) -> Column:
    """Portable fast string hash: integer value of the first 15 hex
    digits of md5 -> bigint in [0, 2^60). One JVM-native call per value
    (~100x cheaper than the per-char polynomial fold) and bit-identical
    in any engine with md5 (value = the hex prefix read base-16)."""
    if is_ident_path(text):
        return F.expr(_md5_hash_sql(text))
    h = F.md5(F.encode(_col(text), "UTF-8"))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def char_shingles(text: Column | str, k: int = 3) -> Column:
    """All k-char shingles packed into ints (ASCII): array<int>, with
    multiplicity; wrap in array_distinct for set semantics."""
    c = _col(text)
    def pack(i: Column) -> Column:
        out = F.ascii(c.substr(i, F.lit(1)))
        for off in range(1, k):
            out = out * SHINGLE_BASE + F.ascii(c.substr(i + off, F.lit(1)))
        return out

    return F.when(
        F.length(c) >= k,
        F.transform(F.sequence(F.lit(1), F.length(c) - (k - 1)), pack),
    ).otherwise(F.array().cast("array<int>"))


# --- SQL (DuckDB) mirrors: generate the oracle-side expressions from the
# --- same constants so both engines compute identical integers.


def token_hashes(text: Column | str, fast: bool = False) -> Column:
    """array<bigint>: md5-based hash of each whitespace token, reduced
    mod P_HASH so downstream shingle combining stays in int64.
    ``fast=True`` uses JVM xxhash64 (pmod to stay non-negative) —
    cheaper, not cross-engine-reproducible."""
    if is_ident_path(text):
        t = _tokens_sql(text)
        if fast:
            return F.expr(
                f"transform({t}, t -> pmod(xxhash64(t), {P_HASH}))"
            )
        return F.expr(
            f"transform({t}, t -> {_md5_hash_sql('t')} % {P_HASH})"
        )
    if fast:
        return F.transform(
            tokens(text), lambda t: F.pmod(F.xxhash64(t), F.lit(P_HASH))
        )
    return F.transform(
        tokens(text),
        lambda t: F.conv(F.substring(F.md5(F.encode(t, "UTF-8")), 1, 15), 16, 10)
        .cast("long")
        % P_HASH,
    )


def word_shingles_from_hashes(th: Column | str) -> Column:
    """Word-trigram shingles from a precomputed token-hash array:
    s_i = ((h_i*31 + h_{i+1}) % P * 31 + h_{i+2}) % P.

    Word trigrams are the right dedup unit for natural-language corpora:
    the shingle space is effectively unbounded, so unrelated documents
    share almost none (char trigrams over a small alphabet saturate and
    turn LSH into an all-pairs join)."""
    if is_ident_path(th):
        return F.expr(
            f"CASE WHEN size({th}) >= 3 THEN "
            f"transform(sequence(1, size({th}) - 2), i -> "
            f"((element_at({th}, i) * 31 + element_at({th}, i + 1))"
            f" % {P_HASH} * 31 + element_at({th}, i + 2)) % {P_HASH}) "
            f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
        )
    c = _col(th)
    return F.when(
        F.size(c) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(c) - 2),
            lambda i: (
                (F.element_at(c, i) * 31 + F.element_at(c, i + 1)) % P_HASH * 31
                + F.element_at(c, i + 2)
            )
            % P_HASH,
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def kgram_hashes(th: Column | str, k: int, mult: int = 31) -> Column:
    """k-token rolling hashes from a precomputed token-hash array:
    the word-shingle fold generalized to any k (k=3 at the default
    multiplier is bit-identical to `word_shingles_from_hashes`).
    Positions are 0-based gram starts when paired with posexplode. The
    fold is unrolled at plan-build time (k is a literal), so the
    per-gram cost is k element_at reads — no nested aggregate per
    element.

    A single fold lives in [0, 1e9): at 1e8+ corpus grams, birthday
    collisions produce false "repeats" by the million (measured: a 2M-doc
    smoke flagged ~100% of docs instead of the planted 10%). Callers
    that key on gram identity at scale must pair folds over two
    INDEPENDENT token-hash families (`token_hashes_from_digests` start=1
    and start=16 — disjoint md5 bits) for an effective ~2^60 key; two
    bases over the SAME token hashes are NOT enough (single-token-diff
    grams collide in both folds at ~2^-30) — see
    `operators.dedup.repeated_ngram_spans`."""
    if is_ident_path(th):
        e = f"element_at({th}, i)"
        for j in range(1, k):
            e = f"({e} * {mult} + element_at({th}, i + {j})) % {P_HASH}"
        return F.expr(
            f"CASE WHEN size({th}) >= {k} THEN "
            f"transform(sequence(1, size({th}) - {k - 1}), i -> {e}) "
            f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
        )
    c = _col(th)

    def fold(i: Column) -> Column:
        e = F.element_at(c, i)
        for j in range(1, k):
            e = (e * mult + F.element_at(c, i + j)) % P_HASH
        return e

    return F.when(
        F.size(c) >= k,
        F.transform(F.sequence(F.lit(1), F.size(c) - (k - 1)), fold),
    ).otherwise(F.array().cast("array<bigint>"))


def sql_kgram_hashes(th: str, k: int, mult: int = 31) -> str:
    """DuckDB mirror of `kgram_hashes` (same unrolled fold)."""
    expr = f"{th}[i]"
    for j in range(1, k):
        expr = f"(({expr})*{mult} + {th}[i+{j}]) % {P_HASH}"
    # parenthesize the offset: k=1 would otherwise format as
    # "len(th)--1", which DuckDB parses as a line comment
    return (
        f"CASE WHEN len({th}) >= {k} "
        f"THEN list_transform(range(1, len({th}) - ({k - 2})), i -> {expr}) "
        f"ELSE [] END"
    )


def sql_codepoints(expr: str) -> str:
    return (
        f"list_transform(range(1, length({expr})+1), i -> ord(substr({expr}, i, 1)))"
    )


def sql_tokens(expr: str) -> str:
    return f"list_filter(string_split({expr}, ' '), t -> length(t) > 0)"


def sql_hex15_to_int(h: str, start: int = 1) -> str:
    """DuckDB: integer value of the 15 hex chars of expression ``h``
    (a lowercase hex string) beginning at 1-based ``start`` — the
    md5_hash mirror (start=1) and the independent second token hash
    (start=16: disjoint md5 bits)."""
    digit = (
        f"CASE WHEN ord(substr({h}, i, 1)) >= 97 "
        f"THEN ord(substr({h}, i, 1)) - 87 "
        f"ELSE ord(substr({h}, i, 1)) - 48 END"
    )
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range({start}, {start + 15}), i -> {digit})), "
        f"(acc, d) -> acc*16 + d)"
    )


def sql_md5_hash(expr: str) -> str:
    return sql_hex15_to_int(f"md5({expr})")


def md5_tokens(text: Column | str) -> Column:
    """array<string>: the md5 hex digest of each whitespace token — the
    shared base both independent token-hash families read from.
    Materialize this ONCE (explode barrier) when deriving more than one
    hash family, so md5 runs once per token, not once per family."""
    if is_ident_path(text):
        return F.expr(
            f"transform({_tokens_sql(text)}, t -> md5(encode(t, 'UTF-8')))"
        )
    return F.transform(tokens(text), lambda t: F.md5(F.encode(t, "UTF-8")))


def token_hashes_from_digests(d: Column | str, start: int = 1) -> Column:
    """array<bigint> from an `md5_tokens` array: hex chars
    [start, start+15) read base-16, mod P_HASH. start=1 reproduces
    `token_hashes`; start=16 is an INDEPENDENT second hash family
    (disjoint md5 bits) — required when keying on gram identity at
    1e8+ scale: two folds over the SAME token hashes collide together
    whenever a single token-hash pair collides (~2^-30), while
    independent families push the joint collision to ~2^-60."""
    if is_ident_path(d):
        return F.expr(
            f"transform({d}, h -> CAST(conv(substring(h, {start}, 15),"
            f" 16, 10) AS BIGINT) % {P_HASH})"
        )
    c = _col(d)
    return F.transform(
        c,
        lambda h: F.conv(F.substring(h, start, 15), 16, 10).cast("long")
        % P_HASH,
    )


def sql_md5_tokens(expr: str) -> str:
    return f"list_transform({sql_tokens(expr)}, t -> md5(t))"


def sql_token_hashes_from_digests(d: str, start: int = 1) -> str:
    return (
        f"list_transform({d}, h -> {sql_hex15_to_int('h', start)} % {P_HASH})"
    )


def sql_token_hashes(expr: str) -> str:
    # md5 once per token (outer transform), then hex->int (inner fold)
    return (
        f"list_transform(list_transform({sql_tokens(expr)}, t -> md5(t)), "
        f"h -> {sql_hex15_to_int('h')} % {P_HASH})"
    )


def sql_word_shingles_from_hashes(th: str) -> str:
    return (
        f"CASE WHEN len({th}) >= 3 "
        f"THEN list_transform(range(1, len({th})-1), "
        f"i -> (({th}[i]*31 + {th}[i+1]) % {P_HASH} * 31 + {th}[i+2]) % {P_HASH}) "
        f"ELSE [] END"
    )


def sql_char_shingles(expr: str, k: int = 3) -> str:
    parts = []
    for off in range(k):
        term = f"ord(substr({expr}, i+{off}, 1))"
        mult = SHINGLE_BASE ** (k - 1 - off)
        parts.append(f"{term}*{mult}" if mult > 1 else term)
    packed = " + ".join(parts)
    return (
        f"CASE WHEN length({expr}) >= {k} "
        f"THEN list_transform(range(1, length({expr})-{k-2}), i -> {packed}) "
        f"ELSE [] END"
    )
