"""Compression codec + block roundtrip properties (SURVEY §5 item 5)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from web_based_search_engine_spark.operators import blocks as B


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(B.varint_decode(B.varint_encode(arr)), arr)


@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=200))
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(values):
    arr = np.sort(np.array(values, dtype=np.uint64))
    assert np.array_equal(B.delta_decode(B.delta_encode(arr)), arr)


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=10000), max_size=20).map(sorted),
        max_size=30,
    )
)
@settings(max_examples=100, deadline=None)
def test_nested_positions_roundtrip(pos_lists):
    # per-doc sorted position lists survive lengths+delta+varint packing
    lens_buf, pos_buf = B._encode_nested_positions(pos_lists)
    out = B._decode_nested_positions(lens_buf, pos_buf)
    assert len(out) == len(pos_lists)
    for got, want in zip(out, pos_lists):
        assert got.astype(int).tolist() == list(want)


def _fuzz_group_pdf(seed: int, n_terms: int = 7, max_docs: int = 40):
    """Random applyInPandas-shaped encoder input: several terms, unique
    sorted-able doc ids per term, random tfs and sorted position lists."""
    import pandas as pd

    rng = np.random.RandomState(seed)
    rows = []
    for t in range(n_terms):
        term_id = int(rng.randint(1, 1000))
        docs = np.sort(rng.choice(10_000, size=rng.randint(1, max_docs), replace=False))
        for d in docs:
            tpos = np.sort(rng.choice(500, size=rng.randint(0, 6), replace=False))
            bpos = np.sort(rng.choice(500, size=rng.randint(0, 9), replace=False))
            if len(tpos) == 0 and len(bpos) == 0:
                bpos = np.array([int(rng.randint(0, 500))])
            rows.append(
                {
                    "bucket": 3,
                    "term_id": term_id,
                    "doc_id": int(d),
                    "title_tf": len(tpos),
                    "body_tf": len(bpos),
                    "title_pos": tpos.astype(np.int64).tolist(),
                    "body_pos": bpos.astype(np.int64).tolist(),
                    "wtf": float(0.9 * len(tpos) + 0.1 * len(bpos)),
                    "len_d": int(rng.randint(1, 300)),
                }
            )
    return pd.DataFrame(rows).sample(frac=1.0, random_state=seed).reset_index(drop=True)


def test_encoders_byte_identical():
    """encode_group_arrow == row-wise reference encoder, byte-for-byte, on
    fuzzed groups (the equivalence both docstrings claim)."""
    import pyarrow as pa

    for seed in (1, 7, 42):
        pdf = _fuzz_group_pdf(seed)
        for block_size in (4, 128):
            want = B.encode_group_pdf_rowwise(pdf.copy(), block_size)
            tbl = pa.Table.from_pandas(pdf, preserve_index=False)
            got = B.encode_group_arrow(tbl, block_size).to_pandas()

            def norm(v):
                # list columns round-trip as ndarray cells via Arrow
                return [int(x) for x in v] if isinstance(v, (list, np.ndarray)) else v

            g = got.sort_values(["term_id", "block_id"]).reset_index(drop=True)
            w = want.sort_values(["term_id", "block_id"]).reset_index(drop=True)
            assert len(g) == len(w) and len(g) > 0
            for col in want.columns:
                assert [norm(v) for v in g[col]] == [norm(v) for v in w[col]], (
                    seed, block_size, col,
                )


def test_decoder_arrow_matches_pdf():
    """decode_blocks_arrow (cross-block vectorized) == decode_blocks_pdf
    (per-block loop oracle) on fuzzed encoded blocks, positions
    included (the Arrow decoder serves only the positional decode)."""
    import pyarrow as pa

    for seed in (3, 11, 42):
        pdf = _fuzz_group_pdf(seed)
        enc = B.encode_group_pdf_rowwise(pdf, block_size=8)
        want = B.decode_blocks_pdf(enc, with_positions=True)
        got = B.decode_blocks_arrow(
            pa.Table.from_pandas(enc, preserve_index=False)
        ).to_pandas()
        assert len(got) == len(want) and len(got) > 0
        for col in ("term_id", "doc_id", "title_tf", "body_tf"):
            assert got[col].astype(int).tolist() == want[col].astype(int).tolist(), (seed, col)
        for col in ("title_pos", "body_pos"):
            assert [list(x) for x in got[col]] == [list(x) for x in want[col]], (seed, col)


def test_block_roundtrip_against_postings(spark, built_index):
    """Stored compressed blocks decode back to exactly the postings table
    (ids, tfs, positions) — encode∘decode == id end-to-end through parquet."""
    storage = built_index["storage"]
    postings = storage.read_table(spark, "postings")
    blocks = storage.read_table(spark, "blocks")
    decoded = B.decode_blocks(blocks, with_positions=True)

    a = postings.select(
        "term_id", "doc_id", "title_tf", "body_tf", "title_pos", "body_pos"
    ).orderBy("term_id", "doc_id").collect()
    b = decoded.orderBy("term_id", "doc_id").collect()
    assert len(a) == len(b) and len(a) > 0
    for ra, rb in zip(a, b):
        assert (ra["term_id"], ra["doc_id"]) == (rb["term_id"], rb["doc_id"])
        assert ra["title_tf"] == rb["title_tf"] and ra["body_tf"] == rb["body_tf"]
        assert list(ra["title_pos"]) == list(rb["title_pos"])
        assert list(ra["body_pos"]) == list(rb["body_pos"])


def test_blocks_metadata_consistent(spark, built_index):
    storage = built_index["storage"]
    blocks = storage.read_table(spark, "blocks").collect()
    cfg = built_index["cfg"]
    for r in blocks:
        assert 0 < r["count"] <= cfg.block_size
        assert r["first_doc_id"] <= r["last_doc_id"]
        # stats-free skip bounds: weighted tf of an existing posting is
        # > 0 (min field weight 0.1), and a doc with a posting has >= 1 term
        assert r["max_wtf"] > 0
        assert r["min_len_d"] >= 1


def test_blocks_store_doc_lengths(spark, built_index):
    """The stored ``len_ds`` are the docs table's lengths, aligned with
    ``doc_ids``, and ``min_len_d`` is their minimum: BM25 scores from
    them without reading ``docs``."""
    from conftest import assert_block_doc_lengths

    assert assert_block_doc_lengths(spark, built_index["storage"]) > 0


def test_decoder_block_id_provenance(spark, built_index):
    """decode_doc_ids(with_block_ids=True) — the provenance the two-pass
    phrase block prune joins on — repeats each block's id onto exactly its
    own rows: regrouping the decoded rows by (term_id, block_id) must
    reproduce every stored block's count, first and last doc id."""
    from pyspark.sql import functions as F

    blocks = built_index["storage"].read_table(spark, "blocks")
    want = {
        (r["term_id"], r["block_id"]): (r["count"], r["first_doc_id"], r["last_doc_id"])
        for r in blocks.select(
            "term_id", "block_id", "count", "first_doc_id", "last_doc_id"
        ).collect()
    }
    got = {
        (r["term_id"], r["block_id"]): (r["n"], r["lo"], r["hi"])
        for r in B.decode_doc_ids(blocks, with_block_ids=True)
        .groupBy("term_id", "block_id")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("lo"),
             F.max("doc_id").alias("hi"))
        .collect()
    }
    assert len(want) > 1 and got == want
