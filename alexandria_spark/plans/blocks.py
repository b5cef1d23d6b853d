"""Posting-block codec: docID-sorted, delta+varint-compressed blocks with
per-block max-score metadata.

This is the Spark-side analogue of the reference's on-disk posting pages
(reference documentation/index_file_format.md:1-13, roaring-bitmap payloads
at src/indexer/index_builder.h:553-644): posting lists are cut into blocks
of ``block_size`` postings; each block stores

  doc_deltas — varint bytes of [first_doc, delta, delta, ...] over the
               *unsigned* 64-bit doc-id order (the reference sorts records
               by value ascending as uint64, generic_record.h:50-59)
  scores     — float32 LE array (BM25, precomputed at build like the
               reference's calculate_scores transform, sharded_builder.h:157-214)
  tfs        — varint bytes of raw term frequencies (optional)
  max_score  — block-max metadata for WAND-style pruning
  min_doc/max_doc — doc-id range for conjunctive block pruning

Everything here is pure numpy over whole partitions — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_U7 = np.uint64(7)
_LOW7 = np.uint64(0x7F)


def varint_encode(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a uint64 array. Returns (bytes_u8, nbytes_per_value)."""
    v = vals.astype(np.uint64, copy=False)
    n = len(v)
    nbytes = np.ones(n, dtype=np.int64)
    for k in range(1, 10):
        nbytes += (v >= np.uint64(1 << (7 * k))).astype(np.int64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for j in range(10):
        rows = nbytes > j
        if not rows.any():
            break
        byte = (v[rows] >> np.uint64(7 * j)) & _LOW7
        cont = (nbytes[rows] - 1 > j).astype(np.uint8) << 7
        out[starts[rows] + j] = byte.astype(np.uint8) | cont
    return out, nbytes


def varint_decode(buf: np.ndarray | bytes) -> np.ndarray:
    """Decode LEB128 bytes back into a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray)) else buf
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.nonzero((b & 0x80) == 0)[0]
    starts = np.empty(len(ends), dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(len(ends), dtype=np.uint64)
    for j in range(int(lengths.max())):
        rows = lengths > j
        vals[rows] |= (b[starts[rows] + j].astype(np.uint64) & _LOW7) << np.uint64(7 * j)
    return vals


def _as_u64(doc_ids: np.ndarray) -> np.ndarray:
    return doc_ids.astype(np.int64, copy=False).view(np.uint64)


def build_blocks(pdf: pd.DataFrame, block_size: int, keep_tf: bool = True) -> pd.DataFrame:
    """Cut postings into encoded blocks.

    ``pdf`` columns: term_id (i64), salt (i32), doc_id (i64), score (f32/f64),
    tf (i64); MUST already be sorted by (term_id, salt, unsigned(doc_id)).
    Returns one row per block with the schema documented in the module
    docstring. Fully vectorized: one varint pass over the whole partition.
    """
    n = len(pdf)
    empty = {
        "term_id": np.empty(0, np.int64),
        "salt": np.empty(0, np.int32),
        "block_id": np.empty(0, np.int32),
        "n": np.empty(0, np.int32),
        "min_doc": np.empty(0, np.int64),
        "max_doc": np.empty(0, np.int64),
        "max_score": np.empty(0, np.float32),
        "doc_deltas": np.empty(0, object),
        "scores": np.empty(0, object),
        "tfs": np.empty(0, object),
    }
    if n == 0:
        return pd.DataFrame(empty)

    term = pdf["term_id"].to_numpy(np.int64)
    salt = pdf["salt"].to_numpy(np.int32)
    docs_u = _as_u64(pdf["doc_id"].to_numpy())
    scores = pdf["score"].to_numpy(np.float32)
    tfs = pdf["tf"].to_numpy(np.int64) if keep_tf and "tf" in pdf else None

    # group boundaries: new (term, salt) run
    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    new_group[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    group_no = np.cumsum(new_group) - 1
    # position within group
    group_starts_idx = np.nonzero(new_group)[0]
    pos_in_group = np.arange(n, dtype=np.int64) - group_starts_idx[group_no]
    block_in_group = pos_in_group // block_size
    # block boundaries
    new_block = new_group | ((pos_in_group % block_size) == 0)
    block_no = np.cumsum(new_block) - 1
    nblocks = int(block_no[-1]) + 1
    block_starts = np.nonzero(new_block)[0]
    block_ends = np.empty(nblocks, dtype=np.int64)
    block_ends[:-1] = block_starts[1:] - 1
    block_ends[-1] = n - 1
    block_len = block_ends - block_starts + 1

    # delta stream: first-of-block keeps the raw doc id
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = docs_u[0]
    deltas[1:] = docs_u[1:] - docs_u[:-1]
    deltas[block_starts] = docs_u[block_starts]

    enc, nbytes = varint_encode(deltas)
    byte_starts = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=byte_starts[1:])
    byte_total = np.concatenate([byte_starts, [len(enc)]])
    enc_bytes = enc.tobytes()
    score_bytes = scores.tobytes()

    if tfs is not None:
        tf_enc, tf_nbytes = varint_encode(tfs.view(np.uint64))
        tf_starts = np.zeros(n, dtype=np.int64)
        np.cumsum(tf_nbytes[:-1], out=tf_starts[1:])
        tf_total = np.concatenate([tf_starts, [len(tf_enc)]])
        tf_bytes = tf_enc.tobytes()

    # per-block max score via maximum.reduceat
    max_score = np.maximum.reduceat(scores, block_starts).astype(np.float32)

    doc_deltas_col = [
        enc_bytes[byte_total[s] : byte_total[e + 1]]
        for s, e in zip(block_starts, block_ends)
    ]
    scores_col = [score_bytes[4 * s : 4 * (e + 1)] for s, e in zip(block_starts, block_ends)]
    if tfs is not None:
        tfs_col = [tf_bytes[tf_total[s] : tf_total[e + 1]] for s, e in zip(block_starts, block_ends)]
    else:
        tfs_col = [b""] * nblocks

    return pd.DataFrame(
        {
            "term_id": term[block_starts],
            "salt": salt[block_starts],
            "block_id": block_in_group[block_starts].astype(np.int32),
            "n": block_len.astype(np.int32),
            "min_doc": docs_u[block_starts].view(np.int64),
            "max_doc": docs_u[block_ends].view(np.int64),
            "max_score": max_score,
            "doc_deltas": doc_deltas_col,
            "scores": scores_col,
            "tfs": tfs_col,
        }
    )


def decode_runs(doc_deltas, scores, ns: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Decode a run of blocks, given as their payloads in order and their
    posting counts, into (docs_u64, scores_f32): one varint pass over the
    concatenated deltas, then a cumsum that restarts at each block."""
    deltas = varint_decode(b"".join(doc_deltas))
    assert len(deltas) == int(ns.sum()), (len(deltas), int(ns.sum()))
    # segment-wise cumsum: global cumsum minus per-block offset
    starts = np.zeros(len(ns), dtype=np.int64)
    np.cumsum(ns[:-1], out=starts[1:])
    cs = np.cumsum(deltas, dtype=np.uint64)
    base = cs[starts] - deltas[starts]  # mod-2^64 exact
    docs_u = cs - np.repeat(base, ns)
    return docs_u, np.frombuffer(b"".join(scores), dtype="<f4")


def decode_blocks(pdf: pd.DataFrame, want_tf: bool = False) -> pd.DataFrame:
    """Inverse of build_blocks for a batch of block rows.

    Returns postings DataFrame (term_id, doc_id, score[, tf]), vectorized:
    a single varint pass over the concatenated payloads of all blocks.
    """
    if len(pdf) == 0:
        out = {"term_id": np.empty(0, np.int64), "doc_id": np.empty(0, np.int64),
               "score": np.empty(0, np.float32)}
        if want_tf:
            out["tf"] = np.empty(0, np.int64)
        return pd.DataFrame(out)

    ns = pdf["n"].to_numpy(np.int64)
    total = int(ns.sum())
    docs_u, scores = decode_runs(pdf["doc_deltas"], pdf["scores"], ns)
    term = np.repeat(pdf["term_id"].to_numpy(np.int64), ns)
    out = pd.DataFrame(
        {"term_id": term, "doc_id": docs_u.view(np.int64), "score": scores}
    )
    if want_tf:
        tfs = varint_decode(b"".join(pdf["tfs"]))
        out["tf"] = tfs.view(np.int64) if len(tfs) == total else np.int64(0)
    return out
