"""Deduplication operators for large-scale text corpora: exact,
MinHash+LSH, SimHash, and n-gram Jaccard.

Scale design: every operator is a hash-shuffle over compact integer
keys — no driver-side state, no cross-product except within LSH
buckets/explicit groups (which is the point of LSH: the quadratic blow-
up is confined to tiny candidate buckets). Portable (oracle-
verifiable) hashing uses functions.text.md5_hash (JVM-native md5, the
same value in any engine with md5); ``fast=True`` swaps in xxhash64
where cross-engine verifiability isn't needed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from svoe_spark.functions.text import (
    P_HASH,
    md5_hash,
    token_hashes,
    tokens,
    word_shingles_from_hashes,
)


from svoe_spark.operators.util import spread as _spread


def _shingle_arrays(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(extra..., id, __sh): word-trigram shingle array per document —
    a fully NARROW pipeline (scan -> generate -> project, NO shuffle).

    The single-element explode is a materialization barrier: the token-
    hash array is computed once per document by the generator, and the
    shingle transform indexes the materialized attribute. Without it,
    projection collapse inlines token_hashes(...) into every element_at
    access — a full md5 pass over the document per shingle (quadratic).

    Docs with <3 tokens (empty shingle array) are dropped — identical
    to an exploded-row formulation where they produce no rows, and to
    the SQL oracle where their NULL band keys never equi-join.

    Same shingle values as the SQL oracle:
    s = ((h0*31+h1) % P * 31 + h2) % P.
    """
    extra_cols = extra_cols or []
    t = _spread(df).select(
        *extra_cols,
        F.col(id_col),
        F.explode(F.array(token_hashes(text))).alias("__th"),
    )
    return t.select(
        *extra_cols,
        F.col(id_col),
        word_shingles_from_hashes("__th").alias("__sh"),
    ).filter(F.size("__sh") > 0)


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", fast: bool = False
) -> DataFrame:
    """One row per distinct content: (fingerprint, keep_id, n_copies).

    Group key is (hash, length) — a compact shuffle key instead of the
    full text (at 100 TB you never shuffle document bodies to compare
    them). keep_id = min id, the survivor under "keep first" policy.
    """
    h = F.xxhash64(F.col(text)) if fast else md5_hash(text)
    return (
        _spread(df).select(
            h.alias("fingerprint"),
            F.length(text).alias("n_chars_key"),
            F.col(id_col),
        )
        .groupBy("fingerprint", "n_chars_key")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("n_chars_key")
    )


def drop_exact_duplicates(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", fast: bool = True
) -> DataFrame:
    """Keep the lowest-id row per distinct text (hash-based, no text
    comparison shuffle). The dedup key is (hash, length) — same
    hardening as exact_duplicate_groups: a bare 64-bit hash collides
    with ~50% probability around 5B documents (birthday bound), and a
    collision here silently DELETES a non-duplicate; requiring equal
    length too pushes the false-drop probability far past corpus
    scale for near-zero extra cost."""
    h = F.xxhash64(F.col(text)) if fast else md5_hash(text)
    keep = (
        df.select(
            h.alias("__fp"),
            F.length(text).alias("__len"),
            F.col(id_col).alias("__id"),
        )
        .groupBy("__fp", "__len")
        .agg(F.min("__id").alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class MinHashParams:
    """K = bands*rows universal-hash functions (a*x+b mod P), seeded so
    the Spark implementation and the SQL oracle share constants."""

    bands: int = 8
    rows: int = 2
    seed: int = 42

    @property
    def num_hashes(self) -> int:
        return self.bands * self.rows

    def coefficients(self) -> list[tuple[int, int]]:
        rng = random.Random(self.seed)
        return [
            (rng.randrange(1, P_HASH), rng.randrange(0, P_HASH))
            for _ in range(self.num_hashes)
        ]


def minhash_signature(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    params: MinHashParams = MinHashParams(),
    with_sets: bool = False,
) -> DataFrame:
    """(id, m0..m{K-1}): MinHash computed entirely ARRAY-SIDE —
    array_min over a transform of the per-document shingle array. ZERO
    shuffles: every document's signature is derived inside its scan
    task (the explode+groupBy formulation shuffles every shingle row).
    Min over the multiset equals min over the distinct set, so shingle
    multiplicity is irrelevant. ``with_sets=True`` adds a '__set' column
    (distinct shingles) in the same narrow pass for verification reuse."""
    rows = _shingle_arrays(df, text, id_col)
    # long cast: a*x exceeds int32 (ANSI mode makes that a hard error).
    # One selectExpr call: building K array_min/transform Column trees
    # through py4j cost ~10 round trips per hash (~0.4 s per call at
    # K=64); the SQL strings parse to the identical integer expressions
    # (INT literals, BIGINT cast, same promotion), so values match the
    # Column form bit-for-bit.
    mins = [
        f"array_min(transform(__sh, s -> (CAST({a} AS BIGINT) * s + {b})"
        f" % {P_HASH})) AS m{i}"
        for i, (a, b) in enumerate(params.coefficients())
    ]
    extra = ["array_distinct(__sh) AS __set"] if with_sets else []
    from svoe_spark.functions import is_ident_path

    if is_ident_path(id_col) and "." not in id_col:
        return rows.selectExpr(f"`{id_col}`", *mins, *extra)
    # exotic/dotted id columns keep F.col's resolution semantics
    return rows.select(
        F.col(id_col), *(F.expr(m) for m in mins), *(F.expr(x) for x in extra)
    )


def band_postings(
    sig: DataFrame, id_col: str, params: MinHashParams
) -> DataFrame:
    """(band, bkey, id) LSH postings from a signature relation — one
    generate (explode of `bands` little structs) instead of a bands-way
    union, so the signature is scanned once. THE banding expression:
    shared by the in-corpus pair join below and the persistent index
    (operators/dedup_index.py), which must agree bit-for-bit."""
    # one parsed expr instead of bands x (struct + lit + concat_ws)
    # Column builds (~6 py4j round trips per band); named_struct with an
    # INT literal and the same concat_ws is value- and type-identical
    band_structs = F.expr(
        "array(" + ",".join(
            f"named_struct('band', {b}, 'bkey', concat_ws('_', "
            + ",".join(f"m{b * params.rows + r}" for r in range(params.rows))
            + "))"
            for b in range(params.bands)
        ) + ")"
    )
    return sig.select(F.col(id_col), F.explode(band_structs).alias("__b")).select(
        F.col("__b.band").alias("band"), F.col("__b.bkey").alias("bkey"), F.col(id_col)
    )


def _band_pairs(
    sig: DataFrame, id_col: str, params: MinHashParams
) -> DataFrame:
    bands = band_postings(sig, id_col, params)
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    params: MinHashParams = MinHashParams(),
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidates verified by true shingle-set Jaccard >= threshold.

    ONE narrow pass produces both the signature and the verification
    sets (persisted); candidates then join back to the sets."""
    sig = minhash_signature(df, text, id_col, params, with_sets=True).persist()
    cands = _band_pairs(sig, id_col, params)
    sets = sig.select(F.col(id_col), "__set")
    j = (
        cands.join(sets.withColumnRenamed(id_col, "id_a").withColumnRenamed("__set", "sa"), "id_a")
        .join(sets.withColumnRenamed(id_col, "id_b").withColumnRenamed("__set", "sb"), "id_b")
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    out = j.select("id_a", "id_b", (inter / union).alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )
    # cached-signature handle for callers to release (docstring note)
    out._svoe_persisted = sig
    return out


# --------------------------------------------------------------------------
# n-gram Jaccard (exact, within explicit groups)
# --------------------------------------------------------------------------


#: A shingle appearing in more documents than this is treated as a
#: stop-shingle and excluded from the Jaccard universe. The inverted-
#: index join's per-key row count — and so the largest shuffle
#: partition and the worst-case pair fan-out (df^2) — is bounded by it.
#: At corpus sizes below the cap the result is exactly the uncapped
#: Jaccard.
DEFAULT_MAX_DOC_FREQ = 10_000


def ngram_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    group_cols: list[str] | None = None,
    threshold: float = 0.5,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Pairwise Jaccard over word-trigram sets via an inverted index:
    explode shingles, equi-join on the shingle, count matches per pair
    (|A∩B|), derive the union from the per-doc set sizes.

    This is the 100 TB shape: no all-pairs array comparison — work is
    proportional to the number of SHARED shingles, shuffled on compact
    integer keys with map-side partial counting. Pairs sharing nothing
    never materialize (with threshold > 0 that loses no output).
    ``group_cols`` further blocks the join.

    Skew: a stop-shingle shared by d documents contributes d rows to
    one shuffle key and O(d^2) candidate pairs — at 100 TB that alone
    can sink the job. ``max_doc_freq`` (default 10k) excludes such
    shingles from the universe: Jaccard is computed over the shingles
    appearing in at most that many documents (per blocking group), the
    standard stop-shingle remedy. Within-cap corpora get the exact
    uncapped answer; pass ``max_doc_freq=None`` to force exact
    semantics at any frequency (and accept the hot key)."""
    group_cols = group_cols or []
    # distinct shingles + set size derived array-side (narrow); the only
    # shuffles left are the inverted-index join and the pair-count agg
    # (plus, when the doc-frequency cap is active, the df/size windows)
    sets = _shingle_arrays(df, text, id_col, extra_cols=group_cols).select(
        *group_cols, F.col(id_col), F.array_distinct("__sh").alias("__ss")
    )
    if max_doc_freq is None:
        ex = sets.select(
            *group_cols,
            F.col(id_col),
            F.size("__ss").alias("__sz"),
            F.explode("__ss").alias("__sh"),
        )
    else:
        from pyspark.sql import Window

        ex = sets.select(
            *group_cols, F.col(id_col), F.explode("__ss").alias("__sh")
        )
        wdf = Window.partitionBy(*group_cols, "__sh")
        ex = ex.withColumn("__df", F.count(F.lit(1)).over(wdf)).filter(
            F.col("__df") <= max_doc_freq
        )
        # set sizes over the SURVIVING universe (self-consistent Jaccard)
        wsz = Window.partitionBy(*group_cols, id_col)
        ex = ex.select(
            *group_cols,
            F.col(id_col),
            F.count(F.lit(1)).over(wsz).cast("int").alias("__sz"),
            "__sh",
        )
    a, b = ex.alias("a"), ex.alias("b")
    cond = (F.col("a.__sh") == F.col("b.__sh")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for g in group_cols:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    inter = F.count(F.lit(1))
    return (
        a.join(b, cond)
        .groupBy(
            *[F.col(f"a.{g}").alias(g) for g in group_cols],
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__sz").alias("__sa"),
            F.col("b.__sz").alias("__sb"),
        )
        .agg(inter.alias("__inter"))
        .select(
            *group_cols,
            "id_a",
            "id_b",
            (F.col("__inter") / (F.col("__sa") + F.col("__sb") - F.col("__inter"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 30  # md5_hash folded mod 2^30; one bit-vote per hash bit


def simhash(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token-level SimHash fingerprint, array-side: the token-hash array
    is materialized once per document (explode barrier), then all
    SIMHASH_BITS bit-votes are counted with array filters in the same
    narrow task — no explode shuffle, no wide 30-sum groupBy. The ±1
    vote sum is positive iff 2*#set_bits > #tokens. Zero-token docs are
    dropped (no rows under the exploded formulation either)."""
    t = _spread(df).select(
        F.col(id_col),
        F.explode(
            F.array(F.transform(tokens(text), lambda tk: md5_hash(tk) % (1 << SIMHASH_BITS)))
        ).alias("__h"),
    ).filter(F.size("__h") > 0)
    # one parsed expr: the Column-per-bit loop cost ~10 py4j round
    # trips per bit (lambda construction included). Same integer ops
    # (INT shiftright/AND/size, CASE WHEN INT literals summed onto a
    # BIGINT accumulator), so the fingerprint is bit-identical.
    votes = " + ".join(
        f"(CASE WHEN size(filter(__h, h -> (shiftright(h, {j}) & 1) = 1))"
        f" * 2 > size(__h) THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    fp = F.expr(f"CAST(0 AS BIGINT) + {votes}")
    return t.select(id_col, fp.alias("simhash"))


# --------------------------------------------------------------------------
# Cross-corpus contamination (benchmark decontamination)
# --------------------------------------------------------------------------


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 1,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Benchmark decontamination: (corpus_id, bench_id, n_shared)
    pairs sharing >= min_shared distinct word-trigram shingles — the
    standard test-set-overlap scan run before training. Same inverted-
    index shape as ngram_jaccard_pairs, but across TWO corpora: work is
    proportional to shared shingles, shuffled on compact integer keys;
    disjoint documents never meet. At 100 TB the benchmark side is
    small — Spark broadcast-joins it automatically (or hint it).

    ``max_doc_freq`` bounds the CORPUS-side document frequency per
    shingle (the skewed side; the benchmark is small by construction):
    a stop-shingle in d corpus docs would meet every benchmark doc
    containing it, fanning out d x |bench| join rows on one key.
    Capped shingles don't count toward n_shared — stop-shingles are
    exactly the ones that carry no contamination signal. Exact below
    the cap; ``None`` forces uncapped."""
    c = _shingle_arrays(corpus, text, id_col).select(
        F.col(id_col).alias("corpus_id"), F.explode(F.array_distinct("__sh")).alias("__sh")
    )
    if max_doc_freq is not None:
        from pyspark.sql import Window

        wdf = Window.partitionBy("__sh")
        c = c.withColumn("__df", F.count(F.lit(1)).over(wdf)).filter(
            F.col("__df") <= max_doc_freq
        ).drop("__df")
    b = _shingle_arrays(benchmark, text, id_col).select(
        F.col(id_col).alias("bench_id"), F.explode(F.array_distinct("__sh")).alias("__sh")
    )
    return (
        c.join(b, "__sh")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 1,
) -> DataFrame:
    """Drop corpus documents that overlap the benchmark (left-anti on
    the contamination pairs)."""
    dirty = contamination_pairs(
        corpus, benchmark, text, id_col, min_shared
    ).select(F.col("corpus_id").alias(id_col)).distinct()
    return corpus.join(dirty, id_col, "left_anti")


# --------------------------------------------------------------------------
# Exact-substring (repeated k-gram span) detection
# --------------------------------------------------------------------------


def repeated_ngram_spans(
    docs: DataFrame,
    k: int = 5,
    min_count: int = 2,
    text: str = "text",
    id_col: str = "doc_id",
    fast: bool = False,
) -> DataFrame:
    """Corpus-wide repeated-substring detection in the style of
    suffix-array dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022): every maximal token span whose
    k-token grams each occur >= ``min_count`` times in the whole corpus.
    Training pipelines cut these spans out of documents (boilerplate,
    licenses, templated text) instead of dropping whole docs — the
    substring-level complement of document-level MinHash dedup. The
    reference stops at whole-block content hashes
    (common/pandas/df_utils.py:163-164); substring dedup is new surface.

    A suffix array is a single-machine construction; the distributed
    equivalent is this sliding-gram formulation:

    1. per document (narrow): token hashes -> k-gram rolling hashes
       with 0-based positions (posexplode);
    2. corpus gram frequency: groupBy gram (ONE shuffle on compact
       int64 keys, map-side partial counts) -> grams with
       count >= min_count;
    3. join positions back on gram (shuffle join; output bounded by the
       original position count, so a stop-phrase gram occurring
       everywhere cannot blow up the join — every position emits at
       most once);
    4. per-document gaps-and-islands merge: positions p1 < p2 whose
       spans [p, p+k-1] overlap or touch (p2 - p1 <= k) fuse into one
       maximal span. Per-doc window functions only — partitioned by
       doc, never a single-task global window.

    Rows: (id, span_start, span_end, span_tokens, n_gram_hits) with
    token-index bounds inclusive. Docs with < k tokens emit nothing.

    ``fast=True`` swaps the portable md5 token hash for xxhash64
    (not oracle-reproducible)."""
    from pyspark.sql import Window

    # gram identity = TWO rolling hashes over INDEPENDENT token-hash
    # families (disjoint md5 bits, start=1 and start=16): one 1e9-sized
    # fold suffers birthday collisions by the million at 1e8+ corpus
    # grams — a 2M-doc smoke flagged ~100% of docs as containing
    # "repeats" instead of the planted 10%. Two folds over the SAME
    # token hashes are NOT enough: grams differing in one token collide
    # in both folds whenever that token-hash pair collides (~2^-30);
    # independent families push the joint collision to ~2^-60. One md5
    # digest pass per token; both families read substrings of it
    # (see _doc_grams).
    grams = _doc_grams(docs, k, text, id_col, fast)
    # corpus frequency as a window over the gram-shuffled relation, not
    # a groupBy + self-join: ONE shuffle and ONE evaluation of the
    # expensive tokenize+hash lineage (the groupBy/join form recomputed
    # it for each branch)
    wg = Window.partitionBy("g1", "g2")
    hits = (
        grams.withColumn("__n_occ", F.count(F.lit(1)).over(wg))
        .filter(F.col("__n_occ") >= min_count)
        .select(id_col, "pos")
    )
    return _merge_spans(hits, id_col, k)


def _merge_spans(hits, id_col: str, k: int):
    """Gaps-and-islands merge of gram-start positions into maximal
    spans: starts p1 < p2 whose [p, p+k-1] windows overlap or touch
    (p2 - p1 <= k) fuse. Per-doc windows only."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    islands = hits.select(
        F.col(id_col),
        F.col("pos"),
        F.when(F.col("pos") - F.lag("pos", 1).over(w) <= k, F.lit(0))
        .otherwise(F.lit(1))
        .alias("__new_island"),
    ).withColumn("__island", F.sum("__new_island").over(w))
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_gram_hits"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_gram_hits",
        )
    )


def _doc_grams(docs, k: int, text: str, id_col: str, fast: bool = False):
    """(id, pos, g1, g2): dual-family k-gram stream per document (the
    shared front end of repeated_ngram_spans / contamination_spans)."""
    from svoe_spark.functions.text import (
        kgram_hashes,
        md5_tokens,
        token_hashes_from_digests,
        tokens as _tokens,
    )

    if fast:
        from svoe_spark.functions.text import P_HASH

        t = (
            _spread(docs)
            .select(
                F.col(id_col),
                F.explode(F.array(_tokens(text))).alias("__toks"),
            )
            .select(
                F.col(id_col),
                F.transform(
                    F.col("__toks"),
                    lambda x: F.pmod(F.xxhash64(x), F.lit(P_HASH)),
                ).alias("__h1"),
                F.transform(
                    F.col("__toks"),
                    lambda x: F.pmod(F.xxhash64(x, F.lit(1)), F.lit(P_HASH)),
                ).alias("__h2"),
            )
        )
    else:
        t = (
            _spread(docs)
            .select(
                F.col(id_col),
                F.explode(F.array(md5_tokens(text))).alias("__md"),
            )
            .select(
                F.col(id_col),
                token_hashes_from_digests("__md", start=1).alias("__h1"),
                token_hashes_from_digests("__md", start=16).alias("__h2"),
            )
        )
    return t.select(
        F.col(id_col),
        F.posexplode(
            F.arrays_zip(
                kgram_hashes("__h1", k, mult=31).alias("g1"),
                kgram_hashes("__h2", k, mult=37).alias("g2"),
            )
        ).alias("pos", "gram"),
    ).select(
        id_col,
        F.col("pos").cast("long").alias("pos"),
        F.col("gram.g1").alias("g1"),
        F.col("gram.g2").alias("g2"),
    )


def contamination_spans(
    corpus,
    benchmark,
    k: int = 5,
    text: str = "text",
    id_col: str = "doc_id",
    fast: bool = False,
):
    """Span-level benchmark decontamination (the GPT-3 recipe — Brown
    et al. 2020, Appendix C, removed 13-gram collisions with eval sets
    rather than whole documents): every maximal corpus-doc span whose
    k-grams all occur ANYWHERE in the benchmark corpus. Feed the spans
    to `remove_repeated_spans(corpus, spans=...)` to surgically cut the
    contaminated text while keeping the rest of the document —
    `decontaminate` (whole-doc drop) is the blunter sibling.

    Shape: the benchmark gram set is distinct-aggregated (benchmark-
    sized, usually broadcastable — Spark picks the broadcast join
    automatically under the threshold) and semi-joined against the
    corpus gram stream; then the shared per-doc gaps-and-islands merge.
    One corpus tokenize pass, one shuffle-or-broadcast join."""
    bench = (
        _doc_grams(benchmark, k, text, id_col, fast)
        .select("g1", "g2")
        .distinct()
    )
    hits = (
        _doc_grams(corpus, k, text, id_col, fast)
        .join(bench, ["g1", "g2"], "left_semi")
        .select(id_col, "pos")
    )
    return _merge_spans(hits, id_col, k)


def remove_repeated_spans(
    docs: DataFrame,
    spans: DataFrame | None = None,
    k: int = 5,
    min_count: int = 2,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut corpus-repeated spans OUT of the documents — the second half
    of substring-level dedup (Lee et al., ACL 2022 drop one copy of
    every duplicated substring; here every occurrence of a
    corpus-repeated region is removed, the conservative boilerplate-
    strip variant). Returns (id, clean_text, n_tokens, n_tokens_removed).

    ``spans`` defaults to `repeated_ngram_spans(docs, k, min_count)`;
    pass a precomputed/filtered span set (e.g. only spans above a
    length threshold) to control aggressiveness.

    Shape: spans collapse to one small array per document (groupBy on
    the doc key), ONE equi-join back to the docs, then a pure
    array-side filter — the per-token span scan is bounded by the
    handful of spans a document has. No shuffle beyond the span
    aggregation + join, both on the document key."""
    if spans is None:
        spans = repeated_ngram_spans(
            docs, k=k, min_count=min_count, text=text, id_col=id_col
        )
    agg = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    joined = docs.join(agg, id_col, "left")
    toks = tokens(text)
    covered = lambda i: F.exists(  # noqa: E731
        F.col("__spans"),
        lambda s: (s["span_start"] <= i) & (i <= s["span_end"]),
    )
    with_tok = joined.select(
        id_col,
        F.coalesce("__spans", F.array().cast(
            "array<struct<span_start:bigint,span_end:bigint>>"
        )).alias("__spans"),
        F.explode(F.array(toks)).alias("__toks"),
    )
    # name the filtered array before deriving from it twice: HOFs are
    # interpreted with no CSE, so an inlined `kept` would run the whole
    # span scan once per consuming expression (see quantize_embeddings)
    with_kept = with_tok.select(
        id_col,
        F.col("__toks"),
        F.filter(
            F.col("__toks"), lambda t, i: ~covered(i.cast("long"))
        ).alias("__kept"),
    )
    return with_kept.select(
        id_col,
        F.array_join("__kept", " ").alias("clean_text"),
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size("__kept")).cast("long").alias(
            "n_tokens_removed"
        ),
    )
