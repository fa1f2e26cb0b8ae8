"""Posting-list compression: delta-encoded docID gaps + varbyte, block-max metadata.

All encode/decode paths are numpy-vectorized (no per-value Python loops) —
the input_hint forbids per-row Python, and these run inside Arrow-batched
UDFs on the hot path. The reference's analog is its binary COPY bulk-ingest
encoding (/root/reference/pkg/wal/processor/postgres/postgres_bulk_ingest_writer.go:176-224);
the format itself (gap + varbyte + block max) is the standard block-max
index layout (Ding & Suel, "Faster Top-k Document Retrieval Using Block-Max
Indexes", SIGIR 2011).

Wire format of one posting list (one (term, salt) row):
  stream of LEB128 varints, 2 per posting: [gap, tf] * df
  gap[0] = the first doc KEY itself; gap[i] = key[i] - key[i-1].
  Postings sorted by key ASC; keys must be NON-NEGATIVE int64.

The doc key is a segment-local ORDINAL, not the raw 64-bit doc_id
(format v3): raw doc_ids are xxhash64 values, so consecutive matching
docs differ by ~2^64/n and every gap costs 6-8 varint bytes no matter
how dense the posting list is. The build assigns each doc a dense
ordinal (partition_id << 40 | rank-within-partition, monotone in doc_id
across the unit), making gaps proportional to real doc distance — 1-3
bytes. This is Lucene's segment-local docID design: compact ints inside
the index, an id lookup (our docs sidecar) only at result emission.

Doclen is NOT stored per posting either (format v2): it is a per-DOC
value, so repeating it per posting was pure redundancy. Scorers gather
it from the unit's docs sidecar (ordinal-sorted; one searchsorted per
list) — Lucene norms (.nvd) beside, not inside, postings. Encoders
still take per-posting doclens to compute block_min_dl metadata
(block-max pruning needs the in-block minimum at build time).

Block-max metadata (BLOCK=128 postings per block), stored as parallel
arrays per list row:
  last_doc[b]  : int64 docid of the block's last posting (skip pointer)
  max_tf[b]    : max term frequency in block
  min_dl[b]    : min doclen in block
  offset[b]    : byte offset of the block's first varint in the stream
(max_tf, min_dl) give a tight, *safe* BM25 upper bound at query time for
any global (idf, avgdl): BM25's tf-weight is increasing in tf and
decreasing in dl, so score(block) <= idf * w(max_tf, min_dl). Storing raw
(tf, dl) extrema instead of a precomputed max score keeps blocks valid
across segment merges and incremental stat updates — global stats are not
known at segment-build time.
"""

from __future__ import annotations

import numpy as np

BLOCK = 128


def varbyte_encode(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """uint64 array -> (LEB128 bytes, per-value byte length).

    Bandwidth-tuned (the encode runs 32-way concurrent inside the build's
    tokenize stage, where full-array passes hit the DRAM wall):
    - byte lengths via SHRINKING index subsets — a value needs k+1 bytes
      iff v >= 2^(7k), and almost all values (gaps/tf/dl) are 1-3 bytes,
      so later thresholds only touch the few survivors (~1.3 full passes
      total instead of 9);
    - output scattered per byte-LENGTH BUCKET: each bucket writes exactly
      its own bytes (sum k*|bucket_k| = total output bytes — optimal);
    - np.empty instead of zeroed allocations (every byte is written).
    """
    v = values if values.dtype == np.uint64 else values.astype(np.uint64)
    n = v.shape[0]
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbytes = np.ones(n, dtype=np.int8)  # max 10 — int8 halves the passes' bytes
    alive = np.flatnonzero(v >= np.uint64(128))
    k = 1
    while alive.size:
        nbytes[alive] += 1
        k += 1
        if k >= 10:
            break
        alive = alive[v[alive] >= (np.uint64(1) << np.uint64(7 * k))]
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], dtype=np.int64, out=offsets[1:])
    total = int(offsets[-1] + nbytes[-1])
    out = np.empty(total, dtype=np.uint8)
    for k in range(1, int(nbytes.max()) + 1):
        idx = np.flatnonzero(nbytes == k)
        if idx.size == 0:
            continue
        vals = v[idx]
        offs = offsets[idx]
        for j in range(k):
            payload = ((vals >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
            if j < k - 1:
                payload |= np.uint8(0x80)
            out[offs + j] = payload
    return out.tobytes(), nbytes


def varbyte_decode(buf: bytes | memoryview, count: int | None = None) -> np.ndarray:
    """LEB128 bytes -> uint64 array. Vectorized via reduceat over 7-bit groups."""
    data = np.frombuffer(buf, dtype=np.uint8)
    if data.size == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.flatnonzero(data < 128)  # last byte of each value
    starts = np.empty(ends.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    pos = np.arange(data.size, dtype=np.int64)
    # position of each byte within its value
    pos_in_val = pos - np.repeat(starts, np.diff(np.append(starts, data.size)))
    shifted = (data.astype(np.uint64) & np.uint64(0x7F)) << (
        np.uint64(7) * pos_in_val.astype(np.uint64)
    )
    vals = np.add.reduceat(shifted, starts)
    if count is not None:
        vals = vals[:count]
    return vals


def encode_postings(
    doc_ids: np.ndarray, tfs: np.ndarray, doclens: np.ndarray
) -> dict:
    """Sorted-by-key posting triples -> {postings, block_* arrays, df, cf}.

    ``doc_ids`` are NON-NEGATIVE int64 doc keys (segment-local ordinals in
    the engine), strictly increasing (the build stage guarantees this via
    sortWithinPartitions). Returns plain-python/numpy values ready to place
    into an Arrow record batch.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    doclens = np.asarray(doclens, dtype=np.uint64)
    n = doc_ids.shape[0]
    if n > 1 and not (doc_ids[1:] > doc_ids[:-1]).all():
        raise ValueError("encode_postings requires strictly increasing doc_ids")
    if n and doc_ids[0] < 0:
        raise ValueError("encode_postings requires non-negative doc keys")
    doc_u = doc_ids.view(np.uint64)
    gaps = np.empty(n, dtype=np.uint64)
    if n:
        gaps[0] = doc_u[0]
        gaps[1:] = doc_u[1:] - doc_u[:-1]
    stream = np.empty(2 * n, dtype=np.uint64)
    stream[0::2] = gaps
    stream[1::2] = tfs
    blob, nbytes = varbyte_encode(stream)
    # block boundaries every BLOCK postings
    nblocks = (n + BLOCK - 1) // BLOCK if n else 0
    byte_ends = np.cumsum(nbytes, dtype=np.int64)  # nbytes is int8 — upcast
    block_starts = np.arange(nblocks) * BLOCK
    block_ends = np.minimum(block_starts + BLOCK, n) - 1
    block_offset = np.zeros(nblocks, dtype=np.int64)
    if nblocks > 1:
        block_offset[1:] = byte_ends[block_starts[1:] * 2 - 1]
    tf_i64 = tfs.astype(np.int64)
    dl_i64 = doclens.astype(np.int64)
    max_tf = np.maximum.reduceat(tf_i64, block_starts) if nblocks else np.zeros(0, np.int64)
    min_dl = np.minimum.reduceat(dl_i64, block_starts) if nblocks else np.zeros(0, np.int64)
    last_doc = doc_ids[block_ends] if nblocks else np.zeros(0, np.int64)
    return {
        "postings": blob,
        "df": int(n),
        "cf": int(tfs.sum()),
        "block_last_doc": last_doc.astype(np.int64),
        "block_max_tf": max_tf.astype(np.int32),
        "block_min_dl": min_dl.astype(np.int32),
        "block_offset": block_offset.astype(np.int64),
    }


def encode_groups_flat(
    group_starts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    with_blocks: bool = True,
) -> dict:
    """Encode MANY posting lists in one vectorized pass -> FLAT buffers.

    ``group_starts``: sorted start indices of each (term, salt) group within
    the doc_ids/tfs/doclens arrays (postings sorted by doc within group).
    One varbyte pass over the whole interleaved stream; the result stays in
    flat form — one shared byte blob + per-group offset arrays — so an
    Arrow-native caller can wrap it into Binary/List arrays WITHOUT any
    per-group bytes() slicing or per-row Python objects (the slicing loop
    was the memory-traffic hot spot at 8+ concurrent build workers).

    Returns {blob, post_offsets[ng+1], df[ng], cf[ng]} plus, with blocks,
    {blk_row_offsets[ng+1], blk_last_doc, blk_max_tf, blk_min_dl,
    blk_offset} (flat block tables, group k's rows at
    blk_row_offsets[k]:blk_row_offsets[k+1]).
    """
    n = doc_ids.shape[0]
    g = group_starts.astype(np.int64)
    ng = g.shape[0]
    if n == 0 or ng == 0:
        e64 = np.zeros(0, dtype=np.int64)
        out = {"blob": b"", "post_offsets": np.zeros(1, dtype=np.int64),
               "df": e64, "cf": e64}
        if with_blocks:
            out.update(
                blk_row_offsets=np.zeros(1, dtype=np.int64), blk_last_doc=e64,
                blk_max_tf=e64.astype(np.int32),
                blk_min_dl=e64.astype(np.int32), blk_offset=e64,
            )
        return out
    group_ends = np.concatenate((g[1:], [n]))
    sizes = group_ends - g

    doc_u = np.asarray(doc_ids, dtype=np.int64).view(np.uint64)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = doc_u[0]
    gaps[1:] = doc_u[1:] - doc_u[:-1]
    gaps[g] = doc_u[g]  # reset delta chain at every group start

    # (n, 2) row-major view == interleaved [gap, tf] stream; column
    # assignment casts in place — no intermediate astype copies
    stream2 = np.empty((n, 2), dtype=np.uint64)
    stream2[:, 0] = gaps
    stream2[:, 1] = tfs
    stream = stream2.reshape(-1)
    blob, nbytes = varbyte_encode(stream)
    byte_start = np.zeros(2 * n + 1, dtype=np.int64)
    np.cumsum(nbytes, out=byte_start[1:])  # byte_start[i] = offset of value i

    tfs = np.asarray(tfs, dtype=np.int64)
    doclens = np.asarray(doclens, dtype=np.int64)
    cf = np.add.reduceat(tfs, g)
    post_offsets = np.concatenate((byte_start[2 * g], [byte_start[2 * n]]))
    out = {"blob": blob, "post_offsets": post_offsets, "df": sizes, "cf": cf}
    if not with_blocks:
        return out

    # global block table: for group k, blocks start at postings g[k]+BLOCK*j
    nblocks = (sizes + BLOCK - 1) // BLOCK
    total_blocks = int(nblocks.sum())
    # block -> owning group, and block start posting index
    blk_group = np.repeat(np.arange(ng), nblocks)
    # per-block index within its group: arange - first_block_of_group
    first_blk = np.zeros(ng, dtype=np.int64)
    np.cumsum(nblocks[:-1], out=first_blk[1:])
    blk_j = np.arange(total_blocks) - first_blk[blk_group]
    blk_start = g[blk_group] + blk_j * BLOCK
    blk_end = np.minimum(blk_start + BLOCK, group_ends[blk_group]) - 1

    out["blk_row_offsets"] = np.concatenate((first_blk, [total_blocks]))
    out["blk_max_tf"] = np.maximum.reduceat(tfs, blk_start).astype(np.int32) \
        if total_blocks else np.zeros(0, np.int32)
    out["blk_min_dl"] = np.minimum.reduceat(doclens, blk_start).astype(np.int32) \
        if total_blocks else np.zeros(0, np.int32)
    out["blk_last_doc"] = doc_ids[blk_end].astype(np.int64)
    # byte offset of each block, relative to its group's blob start
    out["blk_offset"] = (
        byte_start[2 * blk_start] - byte_start[2 * g[blk_group]]
    ).astype(np.int64)
    return out


def encode_groups(
    group_starts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    with_blocks: bool = True,
) -> list[dict]:
    """Per-group dict view of encode_groups_flat (one dict per group, same
    keys as encode_postings) — for callers that want row objects rather
    than flat Arrow-ready buffers."""
    flat = encode_groups_flat(group_starts, doc_ids, tfs, doclens, with_blocks)
    ng = flat["df"].shape[0]
    mv = memoryview(flat["blob"])
    po = flat["post_offsets"]
    out = []
    for k in range(ng):
        row = {
            "postings": bytes(mv[int(po[k]) : int(po[k + 1])]),
            "df": int(flat["df"][k]),
            "cf": int(flat["cf"][k]),
        }
        if with_blocks:
            b0, b1 = int(flat["blk_row_offsets"][k]), int(flat["blk_row_offsets"][k + 1])
            row.update(
                block_last_doc=flat["blk_last_doc"][b0:b1],
                block_max_tf=flat["blk_max_tf"][b0:b1],
                block_min_dl=flat["blk_min_dl"][b0:b1],
                block_offset=flat["blk_offset"][b0:b1],
            )
        out.append(row)
    return out


def decode_postings(blob: bytes, df: int) -> tuple[np.ndarray, np.ndarray]:
    """Full-list decode -> (doc_ids int64 asc, tfs int64). Doclen is a
    per-doc sidecar (the unit docs table), not part of the stream."""
    stream = varbyte_decode(blob, count=2 * df)
    gaps = stream[0::2]
    tfs = stream[1::2].astype(np.int64)
    return np.cumsum(gaps, dtype=np.uint64).view(np.int64), tfs


def decode_postings_flat(
    data: np.ndarray, offsets: np.ndarray, df: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY posting lists in one pass -> (doc int64, tf int64,
    group_starts int64[n]).

    ``data``: flat uint8 buffer holding the lists back to back; list k is
    ``data[offsets[k]:offsets[k+1]]`` with ``df[k]`` postings. One
    varbyte_decode covers every list; the gap cumsum restarts at each
    list's first posting (its first gap is an absolute doc key). List k's
    postings are ``doc[group_starts[k] : group_starts[k] + df[k]]``."""
    df = np.asarray(df, dtype=np.int64)
    g = np.zeros(df.size, dtype=np.int64)
    np.cumsum(df[:-1], out=g[1:])
    n = int(df.sum())
    o = np.asarray(offsets, dtype=np.int64)
    stream = varbyte_decode(data[int(o[0]) : int(o[-1])])
    if stream.size != 2 * n:
        raise ValueError(
            f"posting buffers hold {stream.size} varints but df implies {2 * n}"
        )
    gaps = stream[0::2]
    c = np.cumsum(gaps, dtype=np.uint64)
    # c at each list start minus its own (absolute) first gap = the running
    # sum of all earlier lists, subtracted back out of the whole list
    nz = df > 0
    base = c[g[nz]] - gaps[g[nz]]
    doc = (c - np.repeat(base, df[nz])).view(np.int64)
    return doc, stream[1::2].astype(np.int64), g


def decode_block(
    blob: bytes,
    block_idx: int,
    block_offset: np.ndarray,
    prev_last_doc: int | None,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode a single block without touching earlier bytes (skip support).
    -> (doc_ids, tfs); doclen comes from the per-doc sidecar.

    ``prev_last_doc`` is block_last_doc[block_idx-1] (None for block 0):
    the first gap in a block is relative to the previous block's last doc.

    Blocks may be RAGGED (< BLOCK postings): spliced segment merges
    concatenate per-partial block tables, so interior blocks can be short.
    The byte slice between consecutive offsets contains exactly the block's
    varints — the decode needs no posting-count arithmetic.
    """
    off = int(block_offset[block_idx])
    end = int(block_offset[block_idx + 1]) if block_idx + 1 < len(block_offset) else len(blob)
    stream = varbyte_decode(memoryview(blob)[off:end])
    gaps = stream[0::2].copy()
    if prev_last_doc is not None:
        gaps[0] += np.uint64(prev_last_doc)
    return np.cumsum(gaps, dtype=np.uint64).view(np.int64), stream[1::2].astype(
        np.int64
    )


def encode_position_groups_flat(
    group_starts: np.ndarray, tfs: np.ndarray, pos_flat: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """Flat-buffer variant of encode_position_groups: -> (blob,
    byte_offsets int64[ng+1]) — group k's position bytes are
    blob[off[k]:off[k+1]]. Lets Arrow callers build the positions Binary
    column straight from the shared buffer (no per-group bytes copies)."""
    tfs = np.asarray(tfs, dtype=np.int64)
    g = np.asarray(group_starts, dtype=np.int64)
    ng = g.shape[0]
    n_post = tfs.size
    if n_post == 0 or pos_flat.size == 0:
        return b"", np.zeros(ng + 1, dtype=np.int64)
    val_starts = np.zeros(n_post, dtype=np.int64)
    np.cumsum(tfs[:-1], out=val_starts[1:])
    pos_u = np.asarray(pos_flat, dtype=np.int64).view(np.uint64)
    gaps = np.empty(pos_u.size, dtype=np.uint64)
    gaps[0] = pos_u[0]
    gaps[1:] = pos_u[1:] - pos_u[:-1]
    gaps[val_starts] = pos_u[val_starts]  # reset delta chain per posting
    blob, nbytes = varbyte_encode(gaps)
    byte_start = np.zeros(pos_u.size + 1, dtype=np.int64)
    np.cumsum(nbytes, dtype=np.int64, out=byte_start[1:])
    # first position-value index of each group
    gv = np.concatenate((val_starts, [pos_u.size]))[g]
    offs = np.concatenate((byte_start[gv], [byte_start[-1]]))
    return blob, offs


def encode_position_groups(
    group_starts: np.ndarray, tfs: np.ndarray, pos_flat: np.ndarray
) -> list[bytes]:
    """Encode per-posting position lists for MANY (term, salt) groups.

    ``group_starts``: posting-index start of each group (sorted order);
    ``tfs``: per-posting position counts, posting order; ``pos_flat``: all
    positions concatenated in the same posting order (ascending within a
    posting). Wire format per posting: tf varints — first absolute token
    index, then gaps; self-delimiting given tf from the main stream.

    Positions are DOC-LOCAL, so splice merges concatenate these blobs
    verbatim (no patching). One vectorized varbyte pass for the whole
    partition; per-group blobs sliced by byte offsets.
    """
    blob, offs = encode_position_groups_flat(group_starts, tfs, pos_flat)
    mv = memoryview(blob)
    return [bytes(mv[int(offs[k]) : int(offs[k + 1])]) for k in range(len(group_starts))]


def decode_positions(blob: bytes, tfs: np.ndarray) -> np.ndarray:
    """Positions blob + per-posting tf counts -> flat int64 position array
    (posting-major, ascending within each posting)."""
    tfs = np.asarray(tfs, dtype=np.int64)
    total = int(tfs.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    gaps = varbyte_decode(blob, count=total)
    if gaps.size < total:
        raise ValueError(
            f"positions blob holds {gaps.size} values but postings imply "
            f"{total} — index built without with_positions=True? Positional "
            "queries (phrase/proximity) need a positional index."
        )
    val_starts = np.zeros(tfs.size, dtype=np.int64)
    np.cumsum(tfs[:-1], out=val_starts[1:])
    c = np.cumsum(gaps, dtype=np.uint64)
    base = c[val_starts] - gaps[val_starts]
    return (c - np.repeat(base, tfs)).astype(np.int64)


def read_first_varints(
    data: np.ndarray, starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode the FIRST varint of many posting blobs in one vectorized pass.

    ``data``: flat uint8 buffer; ``starts``: int64 byte offset of each
    blob. -> (values uint64[n], byte lengths int64[n]). Used by the fold
    path (build.make_rebase_fn) to read each list's absolute first doc
    ordinal without decoding the list."""
    n = int(starts.size)
    vals = np.zeros(n, dtype=np.uint64)
    lens = np.zeros(n, dtype=np.int64)
    if n == 0:
        return vals, lens
    alive = np.arange(n, dtype=np.int64)
    pos = starts.astype(np.int64).copy()
    shift = np.uint64(0)
    while alive.size:
        b = data[pos[alive]].astype(np.uint64)
        vals[alive] |= (b & np.uint64(0x7F)) << shift
        lens[alive] += 1
        cont = b >= np.uint64(128)
        alive = alive[cont]
        pos[alive] += 1
        shift += np.uint64(7)
    return vals, lens


def ragged_copy(
    dst: np.ndarray,
    dst_starts: np.ndarray,
    src: np.ndarray,
    src_starts: np.ndarray,
    lens: np.ndarray,
) -> None:
    """Vectorized many-slice memcpy: for each k,
    dst[dst_starts[k] : +lens[k]] = src[src_starts[k] : +lens[k]]."""
    lens = lens.astype(np.int64)
    total = int(lens.sum())
    if total == 0:
        return
    cum = np.zeros(lens.size, dtype=np.int64)
    np.cumsum(lens[:-1], out=cum[1:])
    rel = np.arange(total, dtype=np.int64) - np.repeat(cum, lens)
    dst[np.repeat(dst_starts.astype(np.int64), lens) + rel] = src[
        np.repeat(src_starts.astype(np.int64), lens) + rel
    ]


def varint_one(value: int) -> bytes:
    """LEB128-encode ONE unsigned value (splice patching of a partial's
    first gap — O(1) per partial row, never per posting)."""
    u = int(value)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)
