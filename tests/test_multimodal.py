"""Multimodal plumbing: payload attachment, byte features, frame math."""

from svoe_spark.operators.multimodal import (
    attach_payload,
    byte_features,
    frame_sample,
)
from svoe_spark.sources.tables import load_table


def test_payload_and_features(spark, sf_small):
    docs = load_table(spark, "documents", sf_small)
    wp = attach_payload(docs)
    assert dict(wp.dtypes)["payload"] == "binary"
    row = byte_features(wp).orderBy("doc_id").first()
    text = docs.orderBy("doc_id").first()["text"]
    assert row["n_bytes"] == len(text)
    assert row["first_byte"] == ord(text[0])
    assert row["checksum"] == sum(text.encode())
    assert sum(row["byte_hist"]) == len(text)


def test_frame_sample_covers_payload(spark, sf_small):
    docs = attach_payload(load_table(spark, "documents", sf_small)).limit(10)
    frames = frame_sample(docs, frame_bytes=64, every_nth=1).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["frame_idx"])
        rebuilt = b"".join(bytes(r["frame"]) for r in rows)
        assert rebuilt.decode() == texts[doc_id]
