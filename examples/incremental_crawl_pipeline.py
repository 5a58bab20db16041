#!/usr/bin/env python
"""Day-over-day crawl ingestion with a persistent near-dup index:

    day 0: profile the first crawl -> dedup within itself -> seed the
           index -> BPE-tokenize the survivors (token accounting)
    day 1+: profile the new batch -> probe it against EVERYTHING
           already ingested (the corpus is never rescanned) -> index
           the survivors -> tokenize

This is the maintenance loop a 100 TB corpus actually runs: the
expensive relations (LSH postings, shingle sets) are derived once per
document ever, each day's work is proportional to the batch, and the
index read is a broadcast-filtered, partition-pruned scan. The same
loop runs unattended from a document stream by handing
``apply_index_batch`` to ``streaming.sinks.foreach_batch`` (see
tests/test_dedup_index.py).

Prints one JSON line of per-day counts.

    python examples/incremental_crawl_pipeline.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from svoe_spark.operators.dedup_index import (  # noqa: E402
    apply_index_batch,
    read_index,
)
from svoe_spark.operators.profiling import key_skew_report, profile_columns  # noqa: E402
from svoe_spark.operators.tokenizer import bpe_encode, bpe_train, word_frequencies  # noqa: E402
from svoe_spark.session import get_spark  # noqa: E402
from svoe_spark.sources.tables import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("incremental_crawl_pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, "documents", sf_dir)

    # three "days" of crawl, carved deterministically from the fixture
    days = [docs.where(F.col("doc_id") % 3 == d) for d in range(3)]
    out: dict = {}

    # the tokenizer is trained ONCE (on day 0) and frozen thereafter
    merges = bpe_train(word_frequencies(days[0]), num_merges=64)
    out["bpe_merges"] = len(merges)

    idx = tempfile.mkdtemp(prefix="crawl_idx_")
    try:
        for d, batch in enumerate(days):
            day: dict = {"arrived": batch.count()}
            # pre-ingest profile: nulls / distincts / source skew
            prof = {
                r["col_name"]: r["n_distinct"]
                for r in profile_columns(
                    batch, ["doc_id", "source"], distinct="exact"
                ).collect()
            }
            day["distinct_sources"] = prof["source"]
            skew = key_skew_report(batch, "source", top_k=1).collect()[0]
            day["hottest_source_share"] = round(skew["max_share"], 4)
            # ingest: dedup vs the whole indexed past + within the day
            apply_index_batch(idx, batch, d)
            survivors = batch.join(
                read_index(spark, idx)[1].select("doc_id"), "doc_id", "left_semi"
            )
            day["survived"] = survivors.count()
            day["dropped"] = day["arrived"] - day["survived"]
            # token accounting over the survivors with the frozen BPE
            toks = bpe_encode(survivors, merges)
            day["tokens"] = toks.agg(
                F.sum(F.size("tokens")).cast("bigint").alias("n")
            ).first()["n"]
            out[f"day{d}"] = day
        out["indexed_total"] = read_index(spark, idx)[1].count()
        print(json.dumps(out))
    finally:
        shutil.rmtree(idx, ignore_errors=True)


if __name__ == "__main__":
    main()
