"""Codec invariants — the analog of the reference's wavelet-tree self-test
(reference: ssa/HuffAlphabetRank.cpp:149-164 re-counts every rank)."""

from __future__ import annotations

import ast
import os
import re

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from full_text_index_spark.build import _pack_runs
from full_text_index_spark.codec import (
    candidate_blocks,
    decode_blocks,
    decode_gaps,
    decode_rows,
    encode_gaps,
    positions,
    varbyte_decode,
    varbyte_encode,
)
from full_text_index_spark.streaming import GEN_SHIFT


@pytest.mark.parametrize("n", [0, 1, 127, 128, 10_000])
def test_varbyte_roundtrip_sizes(n):
    rng = np.random.default_rng(7 + n)
    vals = rng.integers(0, 2**40, size=n, dtype=np.int64)
    assert np.array_equal(varbyte_decode(varbyte_encode(vals)), vals)


def test_varbyte_boundaries():
    vals = np.array(
        [0, 1, 127, 128, 16383, 16384, 2**21 - 1, 2**21, 2**62, 2**63 - 1],
        dtype=np.uint64,
    )
    out = varbyte_decode(varbyte_encode(vals))
    assert np.array_equal(out.astype(np.uint64), vals)


def test_varbyte_single_byte_values_are_compact():
    vals = np.arange(128)
    assert len(varbyte_encode(vals)) == 128


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=300))
@settings(max_examples=50, deadline=None)
def test_varbyte_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.int64)
    assert np.array_equal(varbyte_decode(varbyte_encode(vals)), vals)


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True
    )
)
@settings(max_examples=50, deadline=None)
def test_gap_roundtrip_property(xs):
    docs = np.array(sorted(xs), dtype=np.int64)
    assert np.array_equal(decode_gaps(encode_gaps(docs)), docs)


def test_gap_block_local_decode():
    """Any suffix of the gap stream decodes with just the previous block's
    last docID — the skip-directory contract used by the WAND kernel."""
    docs = np.array([3, 4, 9, 100, 101, 2**33, 2**33 + 5], dtype=np.int64)
    buf = np.frombuffer(encode_gaps(docs), dtype=np.uint8)
    # find byte offsets of each value (re-derive: decode sizes via high bits)
    is_last = (buf & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate([[0], ends[:-1] + 1])
    for split in range(1, len(docs)):
        tail = buf[starts[split]:]
        out = decode_gaps(tail, prev_last_doc=int(docs[split - 1]))
        assert np.array_equal(out, docs[split:])


def test_encode_gaps_rejects_unsorted():
    with pytest.raises(ValueError):
        encode_gaps(np.array([5, 4]))
    with pytest.raises(ValueError):
        encode_gaps(np.array([5, 5]))


# -- posting-row decoders ----------------------------------------------------
#
# Rows come from the real encoder (build._pack_runs) over a random sorted
# token stream; doc ids include generation-shifted ones (gen << GEN_SHIFT).

_tokens = st.sets(
    st.tuples(
        st.integers(0, 2),                                   # segment
        st.sampled_from(["a", "b", "c", "d", "e"]),          # term
        st.tuples(st.integers(0, 3), st.integers(0, 300))
        .map(lambda gl: (gl[0] << GEN_SHIFT) | gl[1]),      # doc_id
        st.integers(1, 40),                                  # tpos
    ),
    max_size=150,
)


def _token_frame(tokens) -> pd.DataFrame:
    pdf = pd.DataFrame(sorted(tokens),
                       columns=["segment", "term", "doc_id", "tpos"])
    pdf["segment"] = pdf["segment"].astype(np.int32)
    pdf["doc_id"] = pdf["doc_id"].astype(np.int64)
    pdf["tpos"] = pdf["tpos"].astype(np.int64)
    pdf["doclen"] = 40 + pdf["doc_id"] % 97
    return pdf[["segment", "term", "doc_id", "doclen", "tpos"]]


def _pack(tokens, block_size=4) -> pd.DataFrame:
    return _pack_runs(_token_frame(tokens), block_size)


def _positions_loop(tfs, pos_gaps):
    out, at = [], 0
    for tf in tfs:
        out.extend(np.cumsum(pos_gaps[at:at + tf]).tolist())
        at += tf
    return np.asarray(out, dtype=np.int64)


@given(_tokens, st.randoms(use_true_random=False))
@settings(max_examples=60, deadline=None)
def test_decode_rows_matches_per_row_decode(tokens, rnd):
    packed = _pack(tokens)
    order = list(range(len(packed)))
    rnd.shuffle(order)
    batch = packed.iloc[order]
    got = decode_rows(batch["doc_blob"], batch["tf_blob"], batch["dl_blob"],
                      batch["pos_blob"])
    assert got.nbytes == sum(batch[c].map(len).sum() for c in
                             ("doc_blob", "tf_blob", "dl_blob", "pos_blob"))
    want = {"doc": [], "tf": [], "dl": [], "pos": []}
    for row in batch.itertuples(index=False):
        tfs = varbyte_decode(row.tf_blob)
        pos = positions(tfs, varbyte_decode(row.pos_blob))
        assert np.array_equal(pos, _positions_loop(tfs, varbyte_decode(row.pos_blob)))
        want["doc"].append(decode_gaps(row.doc_blob))
        want["tf"].append(tfs)
        want["dl"].append(varbyte_decode(row.dl_blob))
        want["pos"].append(pos)
    assert got.counts.tolist() == [len(d) for d in want["doc"]]
    assert got.counts.tolist() == batch["df_seg"].tolist()
    for name, parts in want.items():
        expect = np.concatenate(parts) if parts else np.empty(0, np.int64)
        assert np.array_equal(getattr(got, name), expect), name
    # the doc stream alone decodes the same doc ids
    assert np.array_equal(decode_rows(batch["doc_blob"]).doc, got.doc)


def test_decode_rows_empty_batch():
    got = decode_rows([], [], [], [])
    assert len(got.counts) == len(got.doc) == len(got.pos) == 0
    assert got.nbytes == 0


def test_decode_rows_single_posting_rows():
    docs = [0, 5, (1 << GEN_SHIFT) + 3, (3 << GEN_SHIFT) + 200, 2**62]
    got = decode_rows([encode_gaps([d]) for d in docs],
                      [varbyte_encode([2])] * len(docs))
    assert got.counts.tolist() == [1] * len(docs)
    assert got.doc.tolist() == docs
    assert got.tf.tolist() == [2] * len(docs)


@given(_tokens, st.randoms(use_true_random=False))
@settings(max_examples=60, deadline=None)
def test_decode_blocks_matches_slice_of_full_decode(tokens, rnd):
    for row in _pack(tokens, block_size=3).itertuples(index=False):
        full = decode_rows([row.doc_blob], [row.tf_blob], [row.dl_blob],
                           [row.pos_blob])
        n_blocks = len(row.block_last)
        blocks = sorted(rnd.sample(range(n_blocks), rnd.randint(0, n_blocks)))
        got = decode_blocks(row, blocks, tf=True, pos=True)
        posting = np.concatenate(
            [np.arange(3 * b, min(3 * b + 3, len(full.doc))) for b in blocks]
            or [np.empty(0, np.int64)]
        ).astype(np.int64)
        occ_start = np.cumsum(full.tf) - full.tf
        occ = np.concatenate(
            [np.arange(occ_start[i], occ_start[i] + full.tf[i]) for i in posting]
            or [np.empty(0, np.int64)]
        ).astype(np.int64)
        assert got.counts.tolist() == [min(3, len(full.doc) - 3 * b) for b in blocks]
        assert np.array_equal(got.doc, full.doc[posting])
        assert np.array_equal(got.tf, full.tf[posting])
        assert np.array_equal(got.pos, full.pos[occ])
        assert np.array_equal(candidate_blocks(row, got.doc), blocks)


@given(_tokens)
@settings(max_examples=60, deadline=None)
def test_pack_runs_round_trip(tokens):
    """The encoder and the decoders agree on the format: packing a sorted
    token stream with positions and decoding every row, whole and block by
    block, gives back every (segment, term, doc_id, tf, doclen, tpos)
    (doclen from whole rows; the dl stream has no block directory).
    Without a ``doclen`` column the dl stream is empty and the rest round
    trips unchanged."""
    pdf = _token_frame(tokens)
    expect = pdf.assign(
        tf=pdf.groupby(["segment", "term", "doc_id"])["tpos"].transform("size")
    )[["segment", "term", "doc_id", "tf", "doclen", "tpos"]]
    packed = _pack(tokens, block_size=4)
    no_dl = _pack_runs(pdf.drop(columns="doclen"), 4)

    def explode(segs, terms, p):
        post_seg = np.repeat(segs, p.counts)
        post_term = np.repeat(terms, p.counts)
        out = pd.DataFrame({
            "segment": np.repeat(post_seg, p.tf).astype(np.int32),
            "term": np.repeat(post_term, p.tf).astype(object),
            "doc_id": np.repeat(p.doc, p.tf),
            "tf": np.repeat(p.tf, p.tf),
            "tpos": p.pos,
        })
        if p.dl is not None:
            out.insert(4, "doclen", np.repeat(p.dl, p.tf))
        return out

    def check(got, want):
        assert got.reset_index(drop=True).astype(str).equals(
            want.reset_index(drop=True).astype(str))

    whole = decode_rows(packed["doc_blob"], packed["tf_blob"],
                        packed["dl_blob"], packed["pos_blob"])
    check(explode(packed["segment"].to_numpy(), packed["term"].to_numpy(),
                  whole), expect)
    for rows in (packed, no_dl):
        parts = []
        for row in rows.itertuples(index=False):
            assert len(row.block_last) == -(-row.df_seg // 4)
            p = decode_blocks(row, np.arange(len(row.block_last)), pos=True)
            parts.append(explode([row.segment], [row.term],
                                 p._replace(counts=np.array([p.counts.sum()]))))
        got_blocks = (pd.concat(parts, ignore_index=True) if parts
                      else expect.drop(columns="doclen").iloc[:0])
        check(got_blocks, expect.drop(columns="doclen"))

    assert no_dl["dl_blob"].tolist() == [b""] * len(no_dl)
    assert no_dl["dl_bytes"].tolist() == [0] * len(no_dl)
    assert no_dl.drop(columns=["dl_blob", "dl_bytes"]).equals(
        packed.drop(columns=["dl_blob", "dl_bytes"]))
    if len(no_dl):
        with pytest.raises(ValueError, match="the dl stream"):
            decode_rows(no_dl["doc_blob"], dl_blobs=no_dl["dl_blob"])


def test_decode_rows_rejects_truncated_middle_blob():
    rows = [encode_gaps([1, 300]), encode_gaps([7, 9000]), encode_gaps([4])]
    cut = rows[1][:-1]                    # 9000's gap needs two bytes
    assert cut[-1] & 0x80
    # the joined bytes still end on a terminator: one varbyte pass over
    # them merges the cut value into the next row's first, silently
    assert len(varbyte_decode(rows[0] + cut + rows[2])) == 4
    with pytest.raises(ValueError, match="row 1: truncated"):
        decode_rows([rows[0], cut, rows[2]])


def test_decode_rows_rejects_mismatched_stream_lengths():
    docs = [encode_gaps([1, 2, 3]), encode_gaps([5, 6])]
    tfs = [varbyte_encode([1, 1, 1]), varbyte_encode([2])]
    with pytest.raises(ValueError, match="row 1: the tf stream"):
        decode_rows(docs, tfs)
    with pytest.raises(ValueError, match="row 1: the dl stream"):
        decode_rows(docs, dl_blobs=tfs)
    good_tfs = [varbyte_encode([1, 1, 1]), varbyte_encode([2, 1])]
    with pytest.raises(ValueError, match="row 0: the pos stream"):
        decode_rows(docs, good_tfs, pos_blobs=[varbyte_encode([1, 1]),
                                               varbyte_encode([1, 2, 3])])


# -- the posting format has one reader -----------------------------------------

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "full_text_index_spark")
_BLOCK_OFF = re.compile(r"^block_\w+_off$")


def test_posting_format_is_read_only_in_codec():
    """Kernels decode postings through codec.decode_rows/decode_blocks: a
    ``decode_gaps(``/``varbyte_decode(`` call, or a read of a ``block_*_off``
    directory array, anywhere else in the package (build.py writes the
    format) would be a second copy of the format."""
    offenders = []
    for dirpath, _, files in os.walk(PACKAGE):
        for name in files:
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PACKAGE)
            if not name.endswith(".py") or rel in ("codec.py", "build.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                bad = False
                if isinstance(node, ast.Call):
                    f = node.func
                    fname = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                    bad = fname in ("decode_gaps", "varbyte_decode")
                elif isinstance(node, ast.Attribute):
                    bad = bool(_BLOCK_OFF.match(node.attr))
                elif isinstance(node, ast.Subscript):
                    key = node.slice
                    bad = (isinstance(key, ast.Constant) and isinstance(key.value, str)
                           and bool(_BLOCK_OFF.match(key.value)))
                if bad:
                    offenders.append(f"{rel}:{node.lineno}")
    assert offenders == []
