"""Compressed posting blocks with block-max skip bounds.

The reference stores posting lists as Java-serialized ``List<Posting>``
sorted by docId (PostingIndex.java:19-21,74-83).  The rebuild's storage
format (north_star requirement) is per-term fixed-size blocks:

  (bucket, term_id, block_id, count, first/last_doc_id, max_wtf, min_len_d,
   doc_ids: array<long>, title/body tfs: array<int>, len_ds: array<int>,
   title/body positions: per-doc delta-gap varint + varint length list)

Why two compression regimes: the SCORING streams (doc ids, tfs, doc
lengths) are plain parquet list columns so the score-only decode is a
pure-JVM ``explode(arrays_zip(...))`` inside whole-stage codegen — parquet's native
page encodings (RLE/bit-pack/dict + zstd) do the integer compression, and
the WAND hot path never leaves the JVM (measured ~0.12-0.17 s/query of
Python-worker round trip eliminated at sf0.1).  The POSITION streams stay
custom varint inside binary columns: they are nested (list per posting),
read ONLY by phrase/proximity queries, and parquet column pruning keeps
their bytes unread for every scoring query — exactly where a bespoke codec
pays and a plain list<list<int>> column would not (per-value levels).

``len_ds`` holds each posting's doc length (title_len + body_len), aligned
with ``doc_ids``: BM25 needs it per posting, and storing it next to the tfs
(as Lucene keeps norms next to its postings) lets a BM25 query score from
this one table, with no join against ``docs``.

``max_wtf`` (max field-weighted tf in the block) and ``min_len_d`` (min doc
length among the block's postings) are the skip metadata for block-max WAND
pruning (operators/wand.py): the per-block BM25 upper bound
``idf(df) * (k1+1)*max_wtf / (max_wtf + k1*(1-b+b*min_len_d/avgdl))`` is
assembled AT QUERY TIME from these two stats-free scalars, because BM25 is
increasing in tf and decreasing in doc length.  Storing the raw pair instead
of a precomputed block-max score keeps every block a pure function of its
own postings + member-doc lengths: no df / corpus-size / avgdl / k1 / b is
baked into the index, so (a) scoring parameters can change without a
rebuild, and (b) an incremental upsert that changes global stats leaves
untouched term buckets byte-identical (partition-granular maintenance).
Encoding runs in ``applyInArrow`` over storage buckets after an in-group
(term_id, doc_id) sort; everything inside is vectorized numpy — no per-row
Python.

The varint codecs are vectorized: encode does <=10 masked passes (one per
byte position); decode segments the byte stream on terminator bytes
(high bit clear) and reconstructs values with per-segment shifts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import IndexConfig, ScoringConfig

# ---------------------------------------------------------------------------
# vectorized varint codec (LEB128, unsigned)
# ---------------------------------------------------------------------------


def varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """uint64 array -> (LEB128 bytes, bytes-per-value array), vectorized
    (<=10 masked passes).  The length array lets callers slice the single
    encoded buffer into per-block / per-list streams by cumsum offsets —
    the backbone of the fully-vectorized group encoder."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    # bytes needed per value: ceil(bit_length / 7), min 1
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 7
        tmp = tmp >> np.uint64(7)
    nbytes = np.maximum(nbits // 7, 1)
    ends = np.cumsum(nbytes)
    total = int(ends[-1])
    out = np.zeros(total, dtype=np.uint8)
    starts = ends - nbytes
    # pass k writes byte k of every value that has >= k+1 bytes
    max_b = int(nbytes.max())
    for k in range(max_b):
        mask = nbytes > k
        chunk = (v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        idx = starts[mask] + k
        cont = (nbytes[mask] - 1) > k  # continuation bit
        out[idx] = chunk.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out.tobytes(), nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """uint64 array -> LEB128 bytes, vectorized."""
    return varint_encode_with_lengths(values)[0]


def varint_decode(buf) -> np.ndarray:
    """LEB128 bytes (or uint8 ndarray view) -> uint64 array, vectorized."""
    b = buf if isinstance(buf, np.ndarray) else np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    ends = np.flatnonzero(is_end)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # shift of each byte = (index - start of its value) * 7
    value_idx = np.cumsum(is_end) - is_end  # value number per byte
    shifts = (np.arange(b.size) - starts[value_idx]).astype(np.uint64) * np.uint64(7)
    contribs = (b & 0x7F).astype(np.uint64) << shifts
    out = np.zeros(ends.size, dtype=np.uint64)
    np.add.at(out, value_idx, contribs)
    return out


def delta_encode(sorted_vals: np.ndarray) -> np.ndarray:
    v = np.asarray(sorted_vals, dtype=np.uint64)
    if v.size == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    out[1:] = v[1:] - v[:-1]
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(deltas, dtype=np.uint64), dtype=np.uint64)


def _encode_nested_positions(pos_lists: list) -> tuple[bytes, bytes]:
    """list of per-doc sorted position lists -> (varint lengths, concatenated
    per-doc delta-gap varint positions)."""
    lens = np.fromiter((len(p) for p in pos_lists), dtype=np.uint64, count=len(pos_lists))
    if lens.sum() == 0:
        return varint_encode(lens), b""
    deltas = np.concatenate(
        [delta_encode(np.asarray(p, dtype=np.uint64)) for p in pos_lists if len(p)]
    )
    return varint_encode(lens), varint_encode(deltas)


def _decode_nested_positions(lens_buf: bytes, pos_buf: bytes) -> list[np.ndarray]:
    lens = varint_decode(lens_buf).astype(np.int64)
    deltas = varint_decode(pos_buf)
    out: list[np.ndarray] = []
    off = 0
    for n in lens:
        if n == 0:
            out.append(np.empty(0, dtype=np.uint64))
        else:
            out.append(delta_decode(deltas[off : off + n]))
            off += n
    return out


# ---------------------------------------------------------------------------
# block table schema + encoder
# ---------------------------------------------------------------------------

# Writer options for the blocks table: WAND's pushed filters (max_wtf >=
# w*, doc-id spans, seed block literals — operators/wand.py) prune at
# parquet ROW-GROUP granularity, so group size is the skipping resolution.
# The datasource default (one ~128 MiB group) usually means one group per
# file at bucket scale — stats span everything, nothing skips.  ~4 MiB
# groups give fine-grained stats at negligible full-scan overhead (the
# blocks table is the selective-read table; only build-adjacent ops scan
# it whole).
BLOCKS_WRITE_OPTIONS = {"parquet.block.size": str(4 * 1024 * 1024)}

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("term_id", T.LongType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("count", T.IntegerType(), False),
        T.StructField("first_doc_id", T.LongType(), False),
        T.StructField("last_doc_id", T.LongType(), False),
        T.StructField("max_wtf", T.DoubleType(), False),
        T.StructField("min_len_d", T.IntegerType(), False),
        # element containsNull=True: Arrow list arrays carry a nullable
        # item field and applyInArrow enforces exact type equality
        T.StructField("doc_ids", T.ArrayType(T.LongType(), True), False),
        T.StructField("title_tfs", T.ArrayType(T.IntegerType(), True), False),
        T.StructField("body_tfs", T.ArrayType(T.IntegerType(), True), False),
        T.StructField("len_ds", T.ArrayType(T.IntegerType(), True), False),
        T.StructField("title_pos_lens", T.BinaryType(), False),
        T.StructField("title_pos", T.BinaryType(), False),
        T.StructField("body_pos_lens", T.BinaryType(), False),
        T.StructField("body_pos", T.BinaryType(), False),
    ]
)


def _cumsum0(lengths: np.ndarray) -> np.ndarray:
    """[l0, l1, ...] -> [0, l0, l0+l1, ...] (int64, size n+1)."""
    out = np.zeros(lengths.size + 1, dtype=np.int64)
    np.cumsum(lengths, out=out[1:])
    return out


def encode_group_arrow(tbl: "pa.Table", block_size: int) -> "pa.Table":
    """Arrow-native group encoder: zero per-row AND zero per-block Python.

    pyarrow hands the position lists as (flat values, offsets) so no
    object-boxing ever happens, and because consecutive blocks tile each
    encoded buffer contiguously, every output binary column is built
    zero-copy with ``BinaryArray.from_buffers`` over the single shared
    buffer + per-block byte offsets.  Byte-identical to the row-wise
    reference encoder encode_group_pdf_rowwise (equivalence-tested)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = tbl.num_rows
    if n == 0:
        return pa.table(
            {k: pa.array([], type=v) for k, v in _arrow_types().items()}
        )
    tbl = tbl.sort_by([("term_id", "ascending"), ("doc_id", "ascending")]).combine_chunks()

    term = tbl["term_id"].to_numpy()
    doc = tbl["doc_id"].to_numpy().astype(np.uint64)
    wtf = tbl["wtf"].to_numpy()
    len_d = tbl["len_d"].to_numpy().astype(np.int32)
    bucket = int(tbl["bucket"][0].as_py())

    term_change = np.empty(n, dtype=bool)
    term_change[0] = True
    term_change[1:] = term[1:] != term[:-1]
    run_starts = np.flatnonzero(term_change)
    run_id = np.cumsum(term_change) - 1
    local_idx = np.arange(n) - run_starts[run_id]
    is_start = term_change | (local_idx % block_size == 0)
    starts = np.flatnonzero(is_start)
    bounds = np.append(starts, n)  # nblocks+1 row boundaries
    ends = bounds[1:]
    nblocks = starts.size

    # scoring streams: zero-copy ListArrays over the sorted value buffers —
    # consecutive blocks tile each stream, so the list offsets ARE `bounds`
    def list_col(values: np.ndarray, pa_type) -> pa.ListArray:
        return pa.ListArray.from_arrays(
            pa.array(bounds.astype(np.int32), type=pa.int32()),
            pa.array(values, type=pa_type),
        )

    def pos_stream(name: str):
        col = tbl[name].chunk(0)  # table was combine_chunks()'d above
        lens = pc.list_value_length(col).to_numpy(zero_copy_only=False).astype(np.uint64)
        flat = pc.list_flatten(col).to_numpy(zero_copy_only=False).astype(np.uint64)
        row_flat = _cumsum0(lens)
        if flat.size:
            fd = flat.copy()
            fd[1:] = flat[1:] - flat[:-1]
            list_first = row_flat[:-1][lens > 0]
            fd[list_first] = flat[list_first]
            pos_buf, pos_nb = varint_encode_with_lengths(fd)
            pos_off = _cumsum0(pos_nb)
        else:
            pos_buf, pos_off = b"", np.zeros(1, dtype=np.int64)
        lens_buf, lens_nb = varint_encode_with_lengths(lens)
        lens_off = _cumsum0(lens_nb)
        return lens_buf, lens_off, pos_buf, pos_off, row_flat

    tl_buf, tl_off, tp_buf, tp_off, t_rowflat = pos_stream("title_pos")
    bl_buf, bl_off, bp_buf, bp_off, b_rowflat = pos_stream("body_pos")

    def bin_col(buf: bytes, value_off: np.ndarray, row_bounds: np.ndarray) -> pa.BinaryArray:
        # blocks tile the buffer: block b spans bytes
        # value_off[row_bounds[b]] .. value_off[row_bounds[b+1]]
        if len(buf) >= (1 << 31):  # pa.binary() offsets are int32
            raise ValueError(
                f"encode group produced a {len(buf)}-byte stream (>2GiB); "
                "raise IndexConfig.encode_salt so term-groups shrink"
            )
        byte_offs = value_off[row_bounds].astype(np.int32)
        return pa.BinaryArray.from_buffers(
            pa.binary(), len(row_bounds) - 1,
            [None, pa.py_buffer(byte_offs.tobytes()), pa.py_buffer(buf)],
        )

    t_flat_bounds = t_rowflat[bounds]
    b_flat_bounds = b_rowflat[bounds]
    return pa.table(
        {
            "bucket": pa.array(np.full(nblocks, bucket, dtype=np.int32)),
            "term_id": pa.array(term[starts].astype(np.int64)),
            "block_id": pa.array((local_idx[starts] // block_size).astype(np.int32)),
            "count": pa.array((ends - starts).astype(np.int32)),
            "first_doc_id": pa.array(doc[starts].astype(np.int64)),
            "last_doc_id": pa.array(doc[ends - 1].astype(np.int64)),
            "max_wtf": pa.array(np.maximum.reduceat(wtf, starts)),
            "min_len_d": pa.array(np.minimum.reduceat(len_d, starts)),
            "doc_ids": list_col(doc.astype(np.int64), pa.int64()),
            "title_tfs": list_col(
                tbl["title_tf"].to_numpy().astype(np.int32), pa.int32()
            ),
            "body_tfs": list_col(
                tbl["body_tf"].to_numpy().astype(np.int32), pa.int32()
            ),
            "len_ds": list_col(len_d, pa.int32()),
            "title_pos_lens": bin_col(tl_buf, tl_off, bounds),
            "title_pos": bin_col(tp_buf, tp_off, t_flat_bounds),
            "body_pos_lens": bin_col(bl_buf, bl_off, bounds),
            "body_pos": bin_col(bp_buf, bp_off, b_flat_bounds),
        }
    )


def _arrow_types():
    import pyarrow as pa

    return {
        "bucket": pa.int32(), "term_id": pa.int64(), "block_id": pa.int32(),
        "count": pa.int32(),
        "first_doc_id": pa.int64(), "last_doc_id": pa.int64(),
        "max_wtf": pa.float64(), "min_len_d": pa.int32(),
        "doc_ids": pa.list_(pa.int64()), "title_tfs": pa.list_(pa.int32()),
        "body_tfs": pa.list_(pa.int32()), "len_ds": pa.list_(pa.int32()),
        "title_pos_lens": pa.binary(), "title_pos": pa.binary(),
        "body_pos_lens": pa.binary(), "body_pos": pa.binary(),
    }


def encode_group_pdf_rowwise(pdf: pd.DataFrame, block_size: int) -> pd.DataFrame:
    """Row-at-a-time reference encoder (the pre-vectorization semantics);
    kept as the equivalence oracle for encode_group_arrow."""
    pdf = pdf.sort_values(["term_id", "doc_id"], kind="mergesort")
    rows = []
    for term_id, g in pdf.groupby("term_id", sort=False):
        n = len(g)
        doc_ids = g["doc_id"].to_numpy(dtype=np.uint64)
        title_tfs = g["title_tf"].to_numpy(dtype=np.uint64)
        body_tfs = g["body_tf"].to_numpy(dtype=np.uint64)
        wtf = g["wtf"].to_numpy(dtype=np.float64)
        len_d = g["len_d"].to_numpy(dtype=np.int32)
        tpos = g["title_pos"].tolist()
        bpos = g["body_pos"].tolist()
        bucket = int(g["bucket"].iloc[0])
        for blk, lo in enumerate(range(0, n, block_size)):
            hi = min(lo + block_size, n)
            d = doc_ids[lo:hi]
            tl, tp = _encode_nested_positions(tpos[lo:hi])
            bl, bp = _encode_nested_positions(bpos[lo:hi])
            rows.append(
                (
                    bucket,
                    int(term_id),
                    blk,
                    hi - lo,
                    int(d[0]),
                    int(d[-1]),
                    float(wtf[lo:hi].max()),
                    int(len_d[lo:hi].min()),
                    [int(x) for x in d],
                    [int(x) for x in title_tfs[lo:hi]],
                    [int(x) for x in body_tfs[lo:hi]],
                    [int(x) for x in len_d[lo:hi]],
                    tl,
                    tp,
                    bl,
                    bp,
                )
            )
    return pd.DataFrame(rows, columns=[f.name for f in BLOCKS_SCHEMA.fields])


def encode_blocks(
    postings: DataFrame,
    doc_lens: DataFrame,
    cfg: IndexConfig | None = None,
    scoring: ScoringConfig | None = None,
) -> DataFrame:
    """postings -> compressed block table (partitioned by bucket).

    ``doc_lens``: (doc_id, len_d) — the only non-posting input.  Blocks are
    a pure function of (bucket postings, member-doc lengths): no vocab/df
    join, no stats collect, no BM25 parameters (see module docstring), so
    the stage can start as soon as postings lands and an upsert re-encodes
    exactly the touched buckets.  ``scoring.title_weight`` fixes the field
    weighting of the stored ``max_wtf`` (query-time weight must match —
    the same 0.9/0.1 contract as the reference, InvertedIndex.java:21).
    """
    cfg = cfg or IndexConfig()
    scoring = scoring or ScoringConfig()
    block_size = cfg.block_size

    tw = float(scoring.title_weight)
    enriched = postings.join(doc_lens.select("doc_id", "len_d"), "doc_id").select(
        "bucket", "term_id", "doc_id", "title_tf", "body_tf",
        "title_pos", "body_pos",
        (tw * F.col("title_tf") + (1.0 - tw) * F.col("body_tf")).alias("wtf"),
        F.col("len_d").cast("int").alias("len_d"),
    )

    def encode_bucket(tbl):
        import pyarrow as pa

        return encode_group_arrow(tbl.drop_columns(["_esalt"]), block_size)

    # Group key = (bucket, term-hash salt): a group still holds whole terms
    # (every posting of a term lands in one group), but encoder parallelism
    # is bucket_count * encode_salt instead of bucket_count — the storage
    # bucket count is a layout choice and must not cap the build's cores.
    # applyInArrow, not applyInPandas: the position lists stay (values,
    # offsets) Arrow buffers end-to-end — no per-row object boxing.
    return (
        enriched.withColumn(
            "_esalt",
            F.pmod(F.xxhash64(F.lit("enc"), F.col("term_id")), F.lit(cfg.encode_salt)).cast("int"),
        )
        .groupBy("bucket", "_esalt")
        .applyInArrow(encode_bucket, BLOCKS_SCHEMA)
    )


def _segmented_delta_decode(deltas: np.ndarray, seg_lens: np.ndarray) -> np.ndarray:
    """Per-segment cumulative sum where each segment's first value is
    already absolute: abs_i = cumsum_i - cumsum_at_segment_head + head.
    Vectorized across ALL segments — the core of the cross-block decoder."""
    if deltas.size == 0:
        return deltas
    c = np.cumsum(deltas, dtype=np.uint64)
    starts = _cumsum0(seg_lens.astype(np.int64))[:-1]
    nz = seg_lens > 0
    base = np.zeros(seg_lens.size, dtype=np.uint64)
    base[nz] = c[starts[nz]] - deltas[starts[nz]]
    return c - np.repeat(base, seg_lens.astype(np.int64))


def _binary_concat_view(arr) -> tuple[np.ndarray, np.ndarray]:
    """Arrow BinaryArray -> (uint8 view of all values concatenated,
    per-row byte counts) with zero copies: consecutive values tile the
    chunk's data buffer, so the concatenation IS the buffer slice."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if len(arr) == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8)[offsets[0] : offsets[-1]]
    return data, np.diff(offsets).astype(np.int64)


def decode_blocks_arrow(tbl):
    """Arrow block rows -> flat positional posting rows, vectorized across
    ALL blocks in the batch (zero per-block Python — the decoder twin of
    encode_group_arrow; equivalence-tested against decode_blocks_pdf).
    It serves only the positional decode: score-only and doc-id-only
    decodes run in Catalyst (``decode_blocks``, ``decode_doc_ids``).

    Each position stream (position lens, positions) is varint-decoded ONCE
    over the batch-concatenated buffer; per-block structure is recovered
    from the known counts via segmented cumsums.  Position lists are
    emitted as zero-copy Arrow ListArrays."""
    import pyarrow as pa

    import pyarrow.compute as pc

    counts = tbl["count"].to_numpy().astype(np.int64)
    total = int(counts.sum())
    out_cols: dict = {}
    out_cols["term_id"] = pa.array(
        np.repeat(tbl["term_id"].to_numpy(), counts), type=pa.int64()
    )
    # scoring streams are plain list columns now: decode == flatten
    docs_flat = pc.list_flatten(tbl["doc_ids"])
    assert len(docs_flat) == total, (len(docs_flat), total)
    out_cols["doc_id"] = docs_flat.combine_chunks().cast(pa.int64())
    for name, col in (("title_tf", "title_tfs"), ("body_tf", "body_tfs")):
        out_cols[name] = pc.list_flatten(tbl[col]).combine_chunks().cast(pa.int32())

    for name, lens_col, pos_col in (
        ("title_pos", "title_pos_lens", "title_pos"),
        ("body_pos", "body_pos_lens", "body_pos"),
    ):
        lens_data, _ = _binary_concat_view(tbl[lens_col])
        lens = varint_decode(lens_data).astype(np.int64)
        assert lens.size == total
        pos_data, _ = _binary_concat_view(tbl[pos_col])
        flat = _segmented_delta_decode(varint_decode(pos_data), lens)
        out_cols[name] = pa.ListArray.from_arrays(
            pa.array(_cumsum0(lens).astype(np.int32), type=pa.int32()),
            pa.array(flat.astype(np.int32), type=pa.int32()),
        )
    return pa.table(out_cols)


def decode_blocks_pdf(pdf: pd.DataFrame, with_positions: bool = False) -> pd.DataFrame:
    """Block rows -> flat posting rows (numpy-vectorized per block, Python
    loop over blocks).  Kept as the equivalence oracle for
    decode_blocks_arrow and used by the roundtrip property test.
    """
    out_term, out_doc, out_ttf, out_btf = [], [], [], []
    out_tpos, out_bpos = [], []
    for row in pdf.itertuples(index=False):
        d = np.asarray(row.doc_ids, dtype=np.int64)
        k = d.size
        out_term.append(np.full(k, row.term_id, dtype=np.int64))
        out_doc.append(d)
        out_ttf.append(np.asarray(row.title_tfs, dtype=np.int32))
        out_btf.append(np.asarray(row.body_tfs, dtype=np.int32))
        if with_positions:
            out_tpos.extend(
                [p.astype(np.int32).tolist() for p in _decode_nested_positions(row.title_pos_lens, row.title_pos)]
            )
            out_bpos.extend(
                [p.astype(np.int32).tolist() for p in _decode_nested_positions(row.body_pos_lens, row.body_pos)]
            )
    if not out_term:
        cols = {"term_id": [], "doc_id": [], "title_tf": [], "body_tf": []}
        if with_positions:
            cols.update({"title_pos": [], "body_pos": []})
        return pd.DataFrame(cols)
    res = pd.DataFrame(
        {
            "term_id": np.concatenate(out_term),
            "doc_id": np.concatenate(out_doc),
            "title_tf": np.concatenate(out_ttf),
            "body_tf": np.concatenate(out_btf),
        }
    )
    if with_positions:
        res["title_pos"] = out_tpos
        res["body_pos"] = out_bpos
    return res


def require_doc_lengths(blocks: DataFrame) -> DataFrame:
    """``blocks`` itself, once it is known to store ``len_ds``.

    An index written before doc lengths moved into the blocks lacks the
    column.  Serving it, or upserting into it, would go wrong quietly: an
    upsert re-encodes only the touched buckets, so the table would hold
    files of both schemas, and a plain parquet read then either fails on
    the column or reads it as null for the old files, where
    ``explode(arrays_zip(...))`` drops every posting.  So both entry points
    refuse such an index up front."""
    if "len_ds" not in blocks.columns:
        raise RuntimeError(
            "the stored blocks table has no len_ds column (it was written "
            "before doc lengths were stored in the blocks); rebuild the index"
        )
    return blocks


def decode_doc_ids(blocks: DataFrame, with_block_ids: bool = False) -> DataFrame:
    """(term_id, doc_id) per posting, for callers that need doc ids only:
    explodes ``doc_ids`` alone, so the scan reads no tf, length or
    position stream.  ``with_block_ids`` adds each row's source
    ``block_id`` (provenance for the two-pass phrase block prune)."""
    head = ["term_id", "block_id"] if with_block_ids else ["term_id"]
    return blocks.select(*head, F.explode("doc_ids").alias("doc_id"))


def decode_blocks(blocks: DataFrame, with_positions: bool = False) -> DataFrame:
    """Distributed block decode -> postings-shaped DataFrame.

    Score-only decode (the WAND/BM25 hot path) is PURE CATALYST — one
    ``explode(arrays_zip(...))`` inside whole-stage codegen; no Python
    worker is ever launched, and parquet column pruning keeps the varint
    position bytes unread.  It also emits each posting's doc length
    ``len_d`` (from ``len_ds``), so BM25 scores without reading ``docs``.
    Only ``with_positions=True`` (phrase / proximity) runs the Arrow
    varint decoder via mapInArrow."""
    if not with_positions:
        z = F.explode(
            F.arrays_zip(
                F.col("doc_ids"), F.col("title_tfs"), F.col("body_tfs"), F.col("len_ds")
            )
        ).alias("_z")
        return blocks.select("term_id", z).select(
            "term_id",
            F.col("_z.doc_ids").alias("doc_id"),
            F.col("_z.title_tfs").alias("title_tf"),
            F.col("_z.body_tfs").alias("body_tf"),
            F.col("_z.len_ds").alias("len_d"),
        )

    import pyarrow as pa

    cols = ["term_id", "count", "doc_ids", "title_tfs", "body_tfs",
            "title_pos_lens", "title_pos", "body_pos_lens", "body_pos"]
    schema = ("term_id long, doc_id long, title_tf int, body_tf int, "
              "title_pos array<int>, body_pos array<int>")

    def gen(it):
        for batch in it:
            if batch.num_rows:
                out = decode_blocks_arrow(pa.Table.from_batches([batch]))
                yield from out.to_batches()

    return blocks.select(*cols).mapInArrow(gen, schema)
