"""Incremental near-duplicate index: dedup a NEW batch of documents
against an already-indexed corpus without rescanning the corpus text.

The batch operators in operators/dedup.py answer "which pairs inside
this corpus are near-duplicates"; a production crawl pipeline asks a
different question every day: "which of TODAY's documents duplicate
anything already ingested". Recomputing the corpus-wide LSH join per
batch would rescan 100 TB per day. This module persists the two
derived relations the probe actually needs —

  bands: (band, bkey, id)      the LSH postings, partitioned by band
  sets:  (id, sset)            distinct hashed shingles, for exact
                               Jaccard verification of candidates

— and answers a probe by (1) computing the new batch's signatures and
band keys (one narrow pass over the BATCH only), (2) joining the
stored postings against the BROADCAST batch keys (the index side is
never shuffled; with the parquet layout partitioned by band the scan
is also partition-pruned), and (3) verifying the candidate pairs by
true Jaccard against the stored sets (a join that moves only
candidate-sized data). The surviving documents' postings/sets are then
APPENDED, so the index grows by one batch per day — the standard
inverted-index maintenance loop, expressed relationally.

Verification modes: ``verify="sets"`` (exact Jaccard over stored
shingle sets — what the DuckDB oracle checks); ``verify="signature"``
(the fraction of AGREEING BANDS — a step-quantized estimate of the
~Jaccard^rows band-collision probability, NOT of Jaccard itself; see
``probe_index`` for the threshold semantics — for deployments that
skip the sets table: storage drops from O(total shingles) to O(K) per
doc at the cost of coarser, differently-scaled verification).

Hash/shingle/band constants are shared with operators/dedup.py
(MinHashParams), so an index built here agrees bit-for-bit with the
batch LSH queries.

Reference parity: the reference dedups at ingest time via content
hashes in its data catalog (svoe/featurizer/sql/models.py data keys);
near-dup indexing generalizes that to similarity-level identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from svoe_spark.operators.dedup import (
    MinHashParams,
    band_postings,
    minhash_dedup_pairs,
    minhash_signature,
)


def index_tables(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    params: MinHashParams = MinHashParams(),
) -> tuple[DataFrame, DataFrame]:
    """Derive (bands, sets) for a document batch in ONE narrow pass
    (signature + distinct-shingle set from the same shingle array; the
    bands explode is a Generate, not a union — the batch is scanned
    once)."""
    sig = minhash_signature(docs, text, id_col, params, with_sets=True)
    bands = band_postings(sig, id_col, params)
    sets = sig.select(F.col(id_col), F.col("__set").alias("sset"))
    return bands, sets


def write_index(
    docs: DataFrame,
    path: str,
    text: str = "text",
    id_col: str = "doc_id",
    params: MinHashParams = MinHashParams(),
    batch_id: int = 0,
) -> None:
    """Materialize one batch of the index at ``path``: postings land in
    ``bands/batch=<id>/band=<b>/`` (band partitioning => a probe for
    one band key reads one partition's row groups), sets in
    ``sets/batch=<id>/``. Batch-scoped directories make every write
    IDEMPOTENT — a replayed batch overwrites its own subtree instead of
    appending duplicate postings — which is what lets
    ``apply_index_batch`` run exactly-once on top of foreachBatch's
    at-least-once delivery."""
    bands, sets = index_tables(docs, text, id_col, params)
    bands.write.mode("overwrite").partitionBy("band").parquet(
        f"{path}/bands/batch={batch_id}"
    )
    sets.write.mode("overwrite").parquet(f"{path}/sets/batch={batch_id}")


def read_index(
    spark: SparkSession, path: str, exclude_batch: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(bands, sets) across every ingested batch. ``exclude_batch``
    partition-prunes one batch subtree away — ``apply_index_batch``
    uses it so a REPLAYED batch never probes against its own crashed
    attempt's partial writes (which would make every document match
    itself and drop the whole batch)."""
    bands = spark.read.parquet(f"{path}/bands")
    sets = spark.read.parquet(f"{path}/sets")
    if exclude_batch is not None:
        bands = bands.where(F.col("batch") != exclude_batch)
        sets = sets.where(F.col("batch") != exclude_batch)
    return bands.drop("batch"), sets.drop("batch")


def probe_index(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame | None,
    text: str = "text",
    id_col: str = "doc_id",
    params: MinHashParams = MinHashParams(),
    threshold: float = 0.5,
    verify: str = "sets",
    broadcast_batch: bool = True,
) -> DataFrame:
    """(id_new, id_old, jaccard) for every new document colliding with
    an indexed one in >= 1 LSH band and passing verification.

    Scale shape: the batch's bands/sets are derived in one narrow pass
    and BROADCAST (a daily batch is small next to the corpus index);
    the index side is a partition-prunable scan that is filtered by the
    broadcast hash join — the 100 TB side never shuffles. Verification
    joins the stored sets only against candidate ids (candidate-sized
    shuffle). Set ``broadcast_batch=False`` for a backfill-sized batch
    to fall back to a sort-merge join on (band, bkey).

    ``verify="signature"`` needs no sets table (pass None): the
    ``jaccard`` column is the fraction of AGREEING BANDS
    (bands_agree / bands — a band agrees iff all its ``rows`` minhash
    components agree, so this is a step-quantized estimate of
    Jaccard^rows collision probability, granularity 1/bands). Coarser
    than exact verification, but the index shrinks from O(total
    shingles) to O(K ints) per document; threshold then applies to
    that fraction."""
    if verify not in ("sets", "signature"):
        raise ValueError(f"verify must be 'sets' or 'signature', got {verify!r}")
    if verify == "sets" and index_sets is None:
        raise ValueError("verify='sets' requires the index sets table")
    new_bands, new_sets = index_tables(new_docs, text, id_col, params)
    nb = new_bands.select(
        "band", "bkey", F.col(id_col).alias("id_new")
    )
    if broadcast_batch:
        nb = F.broadcast(nb)
    hits = index_bands.select(
        "band", "bkey", F.col(id_col).alias("id_old")
    ).join(nb, ["band", "bkey"])
    if verify == "signature":
        agree = hits.groupBy("id_new", "id_old").agg(
            (F.count_distinct("band") / F.lit(float(params.bands))).alias(
                "jaccard"
            )
        )
        return agree.filter(F.col("jaccard") >= threshold)
    cands = hits.select("id_new", "id_old").distinct()
    j = cands.join(
        new_sets.select(F.col(id_col).alias("id_new"), F.col("sset").alias("sa")),
        "id_new",
    ).join(
        index_sets.select(F.col(id_col).alias("id_old"), F.col("sset").alias("sb")),
        "id_old",
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return j.select(
        "id_new", "id_old", (inter / union).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def dedup_against_index(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame | None,
    text: str = "text",
    id_col: str = "doc_id",
    params: MinHashParams = MinHashParams(),
    threshold: float = 0.5,
    within_batch: bool = True,
    broadcast_batch: bool = True,
) -> DataFrame:
    """The new documents that SURVIVE incremental dedup: no verified
    match in the index, and (``within_batch=True``) no verified
    LOWER-ID duplicate inside the batch. The within-batch rule is
    transitive in effect — in a chain 1~2, 2~3 (1!~3), both 2 and 3
    are dropped, matching ``dedup_clusters``' keep-the-canonical-min
    semantics rather than a greedy keep-if-your-duplicate-also-died
    rule. The survivors are what ``write_index`` should ingest under the
    batch's own ``batch_id``."""
    dup_vs_index = probe_index(
        new_docs, index_bands, index_sets, text, id_col, params,
        threshold, "sets" if index_sets is not None else "signature",
        broadcast_batch,
    ).select(F.col("id_new").alias(id_col)).distinct()
    kept = new_docs.join(dup_vs_index, id_col, "left_anti")
    if not within_batch:
        return kept
    pairs = minhash_dedup_pairs(kept, text, id_col, params, threshold)
    dup_b = pairs.select(F.col("id_b").alias(id_col)).distinct()
    out = kept.join(dup_b, id_col, "left_anti")
    out._svoe_persisted = pairs._svoe_persisted
    return out


def apply_index_batch(
    path: str,
    batch_df: DataFrame,
    batch_id: int,
    text: str = "text",
    id_col: str = "doc_id",
    params: MinHashParams = MinHashParams(),
    threshold: float = 0.5,
) -> bool:
    """Idempotent ingest of one micro-batch into the index: dedup the
    batch against every PRIOR batch (and within itself), then write the
    survivors under ``batch=<batch_id>``. Exactly-once on top of
    at-least-once foreachBatch, by the same two guards as
    ``rollup.RollupStore.apply_batch``: a ``<path>._commits`` log
    short-circuits known-complete batches, and because each batch owns
    its directory subtree (and the probe excludes the batch's OWN
    subtree via partition pruning), a replay of a half-written batch
    recomputes the same survivor set and overwrites in place. Returns
    whether data work was done. Store paths may be driver-local OR any
    Hadoop filesystem (hdfs://, s3a://) — the commit log routes through
    ``util.read_commit_log``/``append_commit``."""
    from svoe_spark.operators.util import (
        append_commit,
        read_commit_log,
        store_path_exists,
    )

    spark = batch_df.sparkSession
    if batch_id in read_commit_log(spark, path):
        return False
    if store_path_exists(spark, f"{path}/bands"):
        bands, sets = read_index(spark, path, exclude_batch=batch_id)
        survivors = dedup_against_index(
            batch_df, bands, sets, text, id_col, params, threshold
        )
    else:
        # first batch: only within-batch dedup applies
        pairs = minhash_dedup_pairs(batch_df, text, id_col, params, threshold)
        dup_b = pairs.select(F.col("id_b").alias(id_col)).distinct()
        survivors = batch_df.join(dup_b, id_col, "left_anti")
        survivors._svoe_persisted = pairs._svoe_persisted
    write_index(survivors, path, text, id_col, params, batch_id=batch_id)
    handle = getattr(survivors, "_svoe_persisted", None)
    if handle is not None:
        handle.unpersist()
    append_commit(spark, path, batch_id)
    return True
