"""Delta-gap + varbyte posting compression (vectorized numpy), and the one
reader of the posting-row format.

The distributed counterpart of the reference's compressed index payloads:
gamma-coded Ψ-differences with a block-sampled directory
(reference: csa-sada/comparray4.c:251-455) and the bucketed, partially
aggregated FM payloads (reference: fm/fm_build.c:580-702).  DocID gaps play
the role of Ψ-deltas; varbyte replaces gamma codes (byte-aligned → SIMD-able
and Arrow-friendly); the per-block directory (§ block metadata in build.py)
replaces the sampled ``R[]`` directory and superbucket occ headers.

Varbyte: each value is emitted as little-endian 7-bit groups; the high bit
(0x80) is set on every byte except the last of a value.  All functions are
fully vectorized — no per-value Python loops — because they run inside
Arrow-batched UDFs on the hot path (the "no per-row Python" mandate).

Posting-row layout (written by ``build._pack_runs``; every kernel reads it
through ``decode_rows``/``decode_blocks`` below and never slices a blob):

* one row holds the postings of one (segment, term) run, ``df_seg`` of
  them, in four varbyte streams: ``doc_blob`` (doc-id gaps), ``tf_blob``
  and ``dl_blob`` (one term frequency and one doc length per posting) and
  ``pos_blob`` (``tf`` positions per posting);
* ``dl_blob`` is written only on token indexes (BM25 is its one reader)
  and ``pos_blob`` only on positional ones; elsewhere the blob is empty
  and its ``*_bytes`` column 0, so ``decode_rows`` asked for it raises;
* doc gaps restart in every row: the first gap is ``doc + 1``, the rest
  ``doc[i] − doc[i−1]`` (always ≥ 1);
* positions restart in every posting: the first value is the absolute
  1-based token position, the rest are gaps;
* the block directory splits a row every ``block_size`` postings:
  ``block_last`` holds each block's last doc id and ``block_doc_off``,
  ``block_tf_off``, ``block_pos_off`` each block's first byte in the
  matching stream, relative to the blob start (dl has no directory: only
  whole rows of it are read).  The last block ends at the blob end.  A
  block decodes alone: its doc gaps continue from the previous block's
  ``block_last`` (−1 for the first block), and blocks end on posting
  boundaries, so positions need no carry.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

_U64 = np.uint64


def varbyte_sizes(values: np.ndarray) -> np.ndarray:
    """Encoded bytes per value: 1 + the number of 7-bit groups crossed."""
    v = np.asarray(values).astype(np.uint64, copy=False)
    nb = np.ones(len(v), np.int64)
    for k in range(1, 10):
        nb += (v >= (_U64(1) << _U64(7 * k))).astype(np.int64)
    return nb


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a 1-D array of non-negative ints (< 2**63) to varbyte bytes."""
    v = np.asarray(values)
    if len(v) == 0:
        return b""
    if v.min() < 0:
        raise ValueError("varbyte_encode: negative value")
    v = v.astype(np.uint64, copy=False)
    nb = varbyte_sizes(v)
    total = int(nb.sum())
    ends = np.cumsum(nb)
    starts = ends - nb
    within = np.arange(total, dtype=np.int64) - np.repeat(starts, nb)
    vals_rep = np.repeat(v, nb)
    out = ((vals_rep >> (7 * within).astype(np.uint64)) & _U64(0x7F)).astype(np.uint8)
    cont = within < (np.repeat(nb, nb) - 1)
    out[cont] |= np.uint8(0x80)
    return out.tobytes()


def _values(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Varbyte values of a non-empty uint8 array that ends on a terminator
    byte, and the index of each value's last byte."""
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.empty(len(ends), dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    within = np.arange(len(b), dtype=np.int64) - np.repeat(starts, lengths)
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (7 * within).astype(np.uint64)
    return np.add.reduceat(contrib, starts).astype(np.int64), ends


def varbyte_decode(buf: bytes | memoryview | np.ndarray) -> np.ndarray:
    """Decode varbyte bytes to an int64 array."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if len(b) == 0:
        return np.empty(0, dtype=np.int64)
    if (b[-1] & 0x80) != 0:
        # a valid stream always ends on a terminator byte; a mis-sliced or
        # truncated blob otherwise dies below with a confusing shape/index
        # error — fail loudly as the data corruption it is
        raise ValueError(
            "varbyte_decode: truncated buffer (last byte has its "
            "continuation bit set)"
        )
    return _values(b)[0]


def encode_gaps(doc_ids: np.ndarray) -> bytes:
    """Delta-gap + varbyte a strictly-increasing non-negative docID array.

    gap[0] = doc[0] + 1, gap[i] = doc[i] - doc[i-1]; all gaps are >= 1, so a
    zero gap can never occur and block-local decode only needs the previous
    block's last docID (or -1 at the start of the list).
    """
    d = np.asarray(doc_ids, dtype=np.int64)
    if len(d) == 0:
        return b""
    gaps = np.diff(d, prepend=np.int64(-1))
    if gaps.min() <= 0:
        raise ValueError("encode_gaps: doc_ids must be strictly increasing, >= 0")
    return varbyte_encode(gaps)


def decode_gaps(buf, prev_last_doc: int = -1) -> np.ndarray:
    """Inverse of encode_gaps for any byte-aligned block slice.

    ``prev_last_doc`` is the last docID of the preceding block (-1 at list
    start) — the skip-directory entry point, playing the role of the
    reference's sampled SA positions (ssa/SSA.cpp:187-207).
    """
    gaps = varbyte_decode(buf)
    if len(gaps) == 0:
        return gaps
    out = np.cumsum(gaps)
    out += prev_last_doc
    return out


def _restart_cumsum(values: np.ndarray, counts: np.ndarray, base) -> np.ndarray:
    """Running sums of ``values`` restarted at every run of ``counts[i]``
    values, run i starting from ``base[i]`` (a scalar applies to all runs).

    One cumsum over the whole array: each run's first value is adjusted by
    the previous run's total, so no partial sum ever exceeds the largest
    output (generation-shifted doc ids stay far from int64 overflow however
    many rows a batch joins)."""
    if len(values) == 0:
        return np.empty(0, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    filled = counts > 0
    starts = (np.cumsum(counts) - counts)[filled]
    base = np.broadcast_to(np.asarray(base, dtype=np.int64), counts.shape)[filled]
    run_sums = np.add.reduceat(values, starts)
    adj = values.copy()
    adj[starts] += base
    adj[starts[1:]] -= base[:-1] + run_sums[:-1]
    return np.cumsum(adj)


def positions(tfs: np.ndarray, pos_gaps: np.ndarray) -> np.ndarray:
    """Absolute token positions from a position stream whose values restart
    at each posting (``tfs[i]`` values per posting)."""
    return _restart_cumsum(pos_gaps, tfs, 0)


class Postings(NamedTuple):
    """Decoded postings of several pieces (posting rows or blocks):
    ``counts[i]`` postings come from piece i, in order.  ``doc``, ``tf`` and
    ``dl`` hold one value per posting, ``pos`` one absolute position per
    occurrence (``tf`` per posting); a stream not asked for is None.
    ``nbytes`` is the encoded size of the streams decoded."""
    counts: np.ndarray
    doc: np.ndarray
    tf: np.ndarray | None
    dl: np.ndarray | None
    pos: np.ndarray | None
    nbytes: int


def _split_decode(buf: np.ndarray, ends: np.ndarray, what: str):
    """Decode concatenated varbyte pieces ending at byte offsets ``ends``:
    (all values, value count of each piece).  Every non-empty piece must end
    on a terminator byte — a truncated piece would otherwise merge its last
    value into the next piece's first."""
    if len(buf) == 0:
        return np.empty(0, dtype=np.int64), np.zeros(len(ends), dtype=np.int64)
    filled = np.flatnonzero(np.diff(ends, prepend=0) > 0)
    cut = (buf[ends[filled] - 1] & 0x80) != 0
    if cut.any():
        raise ValueError(
            f"{what} {int(filled[np.argmax(cut)])}: truncated varbyte stream "
            "(its last byte has the continuation bit set)"
        )
    values, value_ends = _values(buf)
    return values, np.diff(np.searchsorted(value_ends, ends), prepend=0)


def _decode(streams: dict, base, what: str) -> Postings:
    """Decode the ``(bytes, piece ends)`` of each stream named in
    ``streams`` (``doc`` always, ``tf``/``dl``/``pos`` when present) into
    one Postings, checking that every stream agrees on each piece's
    posting count."""
    gaps, counts = _split_decode(*streams["doc"], what)
    out = {"counts": counts, "doc": _restart_cumsum(gaps, counts, base),
           "tf": None, "dl": None, "pos": None,
           "nbytes": sum(len(buf) for buf, _ in streams.values())}
    for name in ("tf", "dl"):
        if name in streams:
            out[name], n = _split_decode(*streams[name], what)
            if not np.array_equal(n, counts):
                raise ValueError(
                    f"{what} {int(np.argmax(n != counts))}: the {name} stream "
                    "holds a different number of values than the doc stream"
                )
    if "pos" in streams:
        pos_gaps, n = _split_decode(*streams["pos"], what)
        tf_sums = np.concatenate(([0], np.cumsum(out["tf"])))[np.cumsum(counts)]
        expect = np.diff(tf_sums, prepend=0)
        if not np.array_equal(n, expect):
            raise ValueError(
                f"{what} {int(np.argmax(n != expect))}: the pos stream does "
                "not hold tf positions per posting"
            )
        out["pos"] = positions(out["tf"], pos_gaps)
    return Postings(**out)


def _joined(blobs) -> tuple[np.ndarray, np.ndarray]:
    blobs = list(blobs)
    ends = np.cumsum(np.fromiter(map(len, blobs), np.int64, len(blobs)))
    return np.frombuffer(b"".join(blobs), dtype=np.uint8), ends


def decode_rows(doc_blobs, tf_blobs=None, dl_blobs=None,
                pos_blobs=None) -> Postings:
    """Decode whole posting rows, one varbyte pass per stream over all the
    rows' blobs joined (``counts`` = postings per row).  ``pos_blobs``
    needs ``tf_blobs``.  Raises ValueError when a blob is truncated or the
    streams disagree on a row's posting count."""
    given = {"doc": doc_blobs, "tf": tf_blobs, "dl": dl_blobs, "pos": pos_blobs}
    streams = {k: _joined(v) for k, v in given.items() if v is not None}
    return _decode(streams, -1, "row")


def candidate_blocks(row, docs: np.ndarray) -> np.ndarray:
    """Sorted indexes of ``row``'s blocks whose doc range can hold one of
    ``docs`` (a posting row, or any object with its column attributes)."""
    block_last = np.asarray(row.block_last, dtype=np.int64)
    blk = np.searchsorted(block_last, docs, side="left")
    return np.unique(blk[blk < len(block_last)])


def decode_blocks(row, blocks: np.ndarray, tf: bool = False,
                  pos: bool = False) -> Postings:
    """Decode only ``blocks`` (sorted, distinct block indexes) of one
    posting row, each stream sliced by its block-offset directory
    (``counts`` = postings per block; ``pos`` implies ``tf``)."""
    blocks = np.asarray(blocks, dtype=np.int64)
    block_last = np.asarray(row.block_last, dtype=np.int64)
    base = np.where(blocks > 0, block_last[blocks - 1], -1)
    names = ["doc"] + [n for n, on in (("tf", tf or pos), ("pos", pos)) if on]
    streams = {}
    for name in names:
        blob = np.frombuffer(getattr(row, f"{name}_blob"), dtype=np.uint8)
        off = np.append(np.asarray(getattr(row, f"block_{name}_off"),
                                   dtype=np.int64), len(blob))
        lo, n = off[blocks], off[blocks + 1] - off[blocks]
        ends = np.cumsum(n)
        idx = np.arange(ends[-1] if len(ends) else 0) + np.repeat(lo - (ends - n), n)
        streams[name] = (blob[idx], ends)
    return _decode(streams, base, "block")
