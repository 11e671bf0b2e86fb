"""Query-side operators: BM25 top-k, count, locate, extract, display.

The counterparts of the reference's query API (reference:
utils/interface.h:59-92) and its query drivers (utils/run_queries.c:124-383):

* ``count``/``locate`` — backward search + LF-walk (ssa/SSA.cpp:242-339)
  become a term-stats lookup / posting-block decode;
* BM25 top-k is our ranked extension (the north_rule): one vectorized
  accumulate-then-select pass per task — decode, score every posting, sum
  per (term set, doc), then select each set's top-k (the group → aggregate
  → select shape of *Cache-Efficient Top-k Aggregation over High
  Cardinality Large Datasets*, VLDB 2023);
* ``extract``/``display`` — the reference's decompression walks
  (fm/fm_extract.c:21-98) collapse to ``substring`` projections because the
  text is a stored column.

Distribution model: the query batch is deduplicated to DISTINCT TERM SETS
driver-side and rides into the scoring kernel as closure state; posting
blobs are Arrow-shipped once per task, never joined against queries.  Tasks
take several whole segments each (task count tracks cluster parallelism,
~2 per core, not segment count) — docs live in exactly one segment, so any
segment-derived bucketing keeps a doc's contributions together.  Only the
per-(set, task) top-k rows — k · n_tasks · n_distinct_sets tiny rows —
shuffle for the global merge; query ids re-attach via a broadcast join
AFTER ranking.  This is the plan that survives 100 TB: the big tables
never move, and kernel work scales with distinct queries, not batch size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from full_text_index_spark.codec import (
    candidate_blocks,
    decode_blocks,
    decode_rows,
)
from full_text_index_spark.functions.util import (
    kernel_tasks,
    local_frame,
    route,
    widen_partitions,
)
from full_text_index_spark.index import InvertedIndex

# final ranking rounds scores to 6 decimals before ordering so rank identity
# is robust to <=1-ulp libm differences between engines (SURVEY.md §7(a))
RANK_ROUND = 6

# bm25_topk materializes the (qid, term) batch driver-side (it is a query
# workload, small by construction); this cap turns an accidental 10^7-row
# "query" table into a fast, explicit error instead of a driver OOM
MAX_QUERY_BATCH_ROWS = 1_000_000

# the BM25 kernel scores its term sets in chunks of at most this many
# (set, doc, contribution) triples, cut at set boundaries, and sums a chunk
# on a dense grid only when the grid is at most twice the triples: a
# task's kernel memory is bounded by the chunk, not by sets × postings
KERNEL_TRIPLE_BUDGET = 1 << 21


def _whole_partition(kernel):
    """Wrap a pandas kernel for `mapInPandas` so it sees the task's WHOLE
    input at once: Arrow delivers a partition as multiple batches, and a
    kernel whose groups must never split across batches (the bm25 kernel,
    the best-window sweep) has to concatenate them first."""
    def run(batches):
        pdfs = [b for b in batches]
        if pdfs:
            whole = pd.concat(pdfs, ignore_index=True)
            if len(whole):
                yield kernel(whole)
    return run


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(
        F.round(F.col("score"), RANK_ROUND).desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def _require_token_unit(index: InvertedIndex) -> None:
    """BM25 reads the doc-length stream, which only token indexes carry."""
    unit = index.meta.get("unit", "token")
    if unit != "token":
        raise ValueError(
            f"BM25 scoring needs a token index (unit={unit!r}): a {unit} "
            "index holds no doc-length stream; build one with build_index"
        )


def _bm25_scored_exact(index: InvertedIndex, qterms: DataFrame) -> DataFrame:
    """Exact (non-blockmax) BM25 scoring: every (qid, doc_id, score) for
    ``qterms(qid, term, idf)`` — vectorized decode → JVM join + agg (no
    Python scoring); postings are self-contained (doclen stream packed in),
    so no doc_stats join — nothing big ever shuffles.  Tombstoned docs are
    anti-joined out pre-scoring (fully distributed)."""
    from full_text_index_spark.deletes import mask_deleted

    _require_token_unit(index)
    k1, b, avgdl = index.k1, index.b, index.avgdl
    terms = [r["term"] for r in qterms.select("term").distinct().collect()]
    decoded = mask_deleted(
        index, _decode_postings(_matched_postings(index, terms, qterms), dl=True)
    )
    return (
        decoded.join(F.broadcast(qterms), "term")
        .withColumn(
            "contrib",
            F.col("idf") * (k1 + 1.0) * F.col("tf")
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("doclen") / avgdl)),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )


def _matched_postings(index: InvertedIndex, terms: list[str],
                      qterms: DataFrame | None = None) -> DataFrame:
    """postings rows for the query vocabulary; uses an IN-list when the
    vocabulary is small (parquet row-group pruning on the sorted `term`
    column), else a broadcast semi-join.

    The cutover matters for DRIVER time, not executor time: Catalyst
    planning of an IN-list grows with its length (measured: a ~4000-term
    IN-list costs seconds of serial plan time per batch — pure
    non-scaling overhead), while a broadcast join plans in constant time;
    and a large random term set touches most parquet row groups anyway, so
    the IN-list's pruning advantage has vanished by then."""
    p = index.postings()
    if len(terms) <= 256:
        return p.where(F.col("term").isin(terms))
    tdf = (
        qterms.select("term").distinct()
        if qterms is not None
        else local_frame(index.spark, [(t,) for t in terms], "term string")
    )
    return p.join(F.broadcast(tdf), "term")


def bm25_topk(
    index: InvertedIndex,
    queries: DataFrame,
    k: int = 10,
    use_blockmax: bool = True,
) -> DataFrame:
    """Top-k BM25 (k1, b from the index meta) for ``queries(qid, terms)``.

    Query terms are set-semantics (duplicates ignored). Returns
    (qid, rank, doc_id, score) with rank 1..k, tie-break (score@6 desc,
    doc_id asc). Queries whose terms all miss the vocabulary return no rows
    (the reference's "char not in file" path, fm/fm_search.c:204-211).
    ``use_blockmax`` picks the scorer: True runs the one-pass Python kernel
    (``_make_bm25_kernel``), False the JVM join-and-aggregate path
    (``_bm25_scored_exact``); both return the same rows.  Raises
    ValueError on a chargram index, which holds no doc lengths.
    """
    _require_token_unit(index)
    k1, b, avgdl = index.k1, index.b, index.avgdl

    # broadcast the QUERY side, never the dictionary: term_stats is
    # vocab-scale (10^8-10^9 rows on a web corpus — broadcasting it collects
    # the whole dictionary to the driver and ships it to every executor),
    # while the exploded query batch is driver-resident by construction
    # (MAX_QUERY_BATCH_ROWS below).  Same inner join, same rows — only the
    # build side flips (VERDICT r05 #1; matches more_like_this's shape).
    qterms = (
        index.term_stats().select("term", "idf")
        .join(
            F.broadcast(
                queries.select("qid", F.explode("terms").alias("term"))
                .distinct()
            ),
            "term",
        )
        .select("qid", "term", "idf")
    )

    if not use_blockmax:
        return _rank_topk(_bm25_scored_exact(index, qterms), k)

    # kernel path.  The query batch is SMALL (it fits the driver by
    # construction) and the postings are BIG — so the term sets ride into
    # the kernel as closure state and each posting row is Arrow-shipped
    # exactly ONCE, never joined against the queries (a qid×postings join
    # would duplicate every blob once per query that uses its term — a
    # ~|batch|× IPC amplification that dominated wall time at 2000
    # queries).  The limit+check makes a mis-routed huge "query" table fail
    # fast with a clear message instead of OOMing the driver (VERDICT r02
    # #5).
    qterms_pd = qterms.limit(MAX_QUERY_BATCH_ROWS + 1).toPandas()
    if len(qterms_pd) > MAX_QUERY_BATCH_ROWS:
        raise ValueError(
            f"query batch exceeds {MAX_QUERY_BATCH_ROWS} (qid, term) rows — "
            "bm25_topk's batch is driver-resident by design; split the "
            "workload or raise query.MAX_QUERY_BATCH_ROWS explicitly"
        )
    # dedupe the batch to DISTINCT TERM SETS: identical sets score
    # identically, so the kernel works per set (sid) and the per-qid
    # fan-out is a broadcast join AFTER ranking — kernel work, Arrow
    # output and the ranking window all scale with distinct queries, not
    # batch size (real logs and the reference's genpatterns workloads
    # repeat patterns heavily).
    qid_sid_pd, sets_pd = _term_sets(qterms_pd)
    terms = sorted(qterms_pd["term"].unique().tolist())
    mp = _matched_postings(index, terms).select(
        "segment", "term", "doc_blob", "tf_blob", "dl_blob"
    )
    # tombstones ride the kernel's OWN input as per-segment blob rows with
    # a null term instead of closure state: fully distributed, no driver
    # size cap (VERDICT r04 #3).  With no tombstones, mp is untouched —
    # the plan is identical to the tombstone-free one.
    from full_text_index_spark.deletes import tombstone_segment_blobs

    tomb = tombstone_segment_blobs(index)
    if tomb is not None:
        seg_type = mp.schema["segment"].dataType
        mp = mp.unionByName(
            tomb.withColumn("segment", F.col("segment").cast(seg_type)),
            allowMissingColumns=True,
        )

    kernel = _make_bm25_kernel(k1=k1, b=b, avgdl=avgdl, k=k, sets_pd=sets_pd)
    # each kernel task takes several whole segments (docs live in exactly
    # one segment, so a segment-routed bucket keeps a doc's contributions
    # together and the kernel's math is unchanged)
    n_buckets = kernel_tasks(index.spark, index.meta["n_segments"])
    seg_topk = (
        route(mp, "segment", n_buckets)
        .mapInPandas(
            _whole_partition(kernel),
            schema="sid long, doc_id long, score double",
        )
    )
    # rank per SET, then fan out to qids JVM-side (broadcast join): the
    # window sorts k·segments·distinct_sets rows, not ×batch_size
    w = Window.partitionBy("sid").orderBy(
        F.round(F.col("score"), RANK_ROUND).desc(), F.col("doc_id").asc()
    )
    ranked_sets = (
        seg_topk.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
    qid_sid = local_frame(index.spark, qid_sid_pd, "qid long, sid long")
    return ranked_sets.join(F.broadcast(qid_sid), "sid").select(
        "qid", "rank", "doc_id", "score"
    )


def _term_sets(qterms_pd: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Distinct term sets of a (qid, term, idf) batch with no repeated
    (qid, term): ``(qid, sid)`` per qid, ascending, and ``(sid, term, idf)``
    per set, terms sorted.  sids number the sets in order of first
    appearance over ascending qid.  One sort by (qid, term) makes each qid's
    sorted set a contiguous run, so no per-qid grouping is needed."""
    qterms_pd = qterms_pd.sort_values(["qid", "term"], ignore_index=True)
    qids = qterms_pd["qid"].to_numpy(dtype=np.int64)
    first = np.ones(len(qids), dtype=bool)
    first[1:] = qids[1:] != qids[:-1]
    starts = np.flatnonzero(first)
    ends = np.append(starts[1:], len(qids))
    term_list = qterms_pd["term"].tolist()
    set_of_qid = pd.Series(
        [tuple(term_list[a:e]) for a, e in zip(starts, ends)], dtype=object
    )
    sids, distinct_sets = pd.factorize(set_of_qid)
    qid_sid = pd.DataFrame({"qid": qids[starts], "sid": sids})
    idf_of_term = dict(zip(term_list, qterms_pd["idf"].tolist()))
    sets = pd.DataFrame(
        [
            {"sid": sid, "term": t, "idf": idf_of_term[t]}
            for sid, ts in enumerate(distinct_sets)
            for t in ts
        ]
    )
    return qid_sid, sets


def _decode_postings(postings: DataFrame, dl: bool = False) -> DataFrame:
    """(segment, term, blobs…) → exploded (segment, term, doc_id, tf
    [, doclen]) via a vectorized Arrow-batched decoder.  The dl stream is
    selected and decoded only with ``dl=True`` (BM25 scoring, token
    indexes): no other caller ships it across the Arrow boundary."""
    blobs = ["doc_blob", "tf_blob"] + (["dl_blob"] if dl else [])

    def decode(iterator):
        for pdf in iterator:
            p = decode_rows(*(pdf[c] for c in blobs))
            cols = {
                "segment": np.repeat(
                    pdf["segment"].to_numpy(dtype=np.int32), p.counts
                ),
                "term": np.repeat(pdf["term"].to_numpy(), p.counts),
                "doc_id": p.doc,
                "tf": p.tf,
            }
            if dl:
                cols["doclen"] = p.dl
            yield pd.DataFrame(cols)

    # widen: the decode kernel inherits SCAN parallelism, and a
    # well-sized postings layout (few large files) packs into few scan
    # tasks — round-robin the blob rows first (no-op on wide scans)
    return widen_partitions(postings.select("segment", "term", *blobs)).mapInPandas(
        decode, schema="segment int, term string, doc_id long, tf long"
        + (", doclen long" if dl else "")
    )


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """The aranges ``[starts[i], starts[i] + lens[i])``, concatenated."""
    ends = np.cumsum(lens)
    total = int(ends[-1]) if len(ends) else 0
    return np.arange(total, dtype=np.int64) + np.repeat(starts - ends + lens, lens)


def _first_k(group: np.ndarray, q: np.ndarray, k: int) -> np.ndarray:
    """Positions of the first ``k`` entries of every group in (group asc,
    q desc, position asc) order: one stable argsort on one int64 key.
    ``group`` and ``q`` are non-negative int64."""
    span = int(q.max()) + 1
    if (int(group.max()) + 1) * span > np.iinfo(np.int64).max:
        q = np.unique(q, return_inverse=True)[1]  # dense ranks keep the order
        span = int(q.max()) + 1
    o = np.argsort(group * span + (span - 1 - q), kind="stable")
    g = group[o]
    run = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
    rank = np.arange(len(o)) - np.repeat(run, np.diff(np.r_[run, len(o)]))
    return o[rank < k]


def _select_topk(group: np.ndarray, q: np.ndarray, k: int) -> np.ndarray:
    """``_first_k`` of a ``group``-sorted input, sorting only what can win:
    a group's k-th best maximum over blocks of 64 consecutive members is at
    most its k-th best ``q``, so the members below it are dropped before
    the sort (exact, whatever the order of ``q``)."""
    if k < 1:
        return np.empty(0, dtype=np.int64)
    block = 64
    starts = np.flatnonzero(np.r_[True, group[1:] != group[:-1]])
    n = np.diff(np.r_[starts, len(q)])
    nb = -(-n // block)
    first_block = np.cumsum(nb) - nb
    b_run = np.repeat(np.arange(len(n)), nb)
    b_max = np.maximum.reduceat(
        q, starts[b_run] + block * (np.arange(len(b_run)) - first_block[b_run])
    )
    top = _first_k(b_run, b_max, k)
    cnt = np.minimum(nb, k)
    floor = np.where(cnt == k, b_max[top[np.cumsum(cnt) - 1]], -1)
    keep = np.flatnonzero(q >= np.repeat(floor, n))
    return keep[_first_k(group[keep], q[keep], k)]


def _make_bm25_kernel(k1: float, b: float, avgdl: float, k: int,
                      sets_pd: pd.DataFrame):
    """Per-task scorer: the top-k docs of every term set over the task's
    posting rows, in one accumulate-then-select pass.

    The distinct term sets ``(sid, term, idf)`` arrive as CLOSURE state —
    each posting row is Arrow-shipped once, never duplicated per query (IPC
    volume scales with the index slice touched, not index × batch size).
    Rows with a null ``term`` carry the task's tombstones as gap-encoded
    ``doc_blob``s.

    * decode every row once (one varbyte pass per stream) and compute every
      posting's contribution; drop tombstoned docs;
    * gather (set, doc, contribution) triples through the set→term
      incidence, in ascending term order within each set;
    * sum each (set, doc) cell sequentially in that order — the cells'
      int64 key indexes a dense (set × doc) grid when the triples fill at
      least half of it, else one stable sort groups them — so every score
      is the same float, however the sets are chunked;
    * select each set's top-k by (round(score, RANK_ROUND) desc, doc_id
      asc) with one stable argsort on an int64 key (``_select_topk``).

    Both keys are built from task-local dense ranks, never from raw
    doc_ids (which may reach 2⁶³−1).  Sets are scored in chunks cut at set
    boundaries, each holding at most ``KERNEL_TRIPLE_BUDGET`` triples
    unless a single set is larger.
    """
    sets_pd = sets_pd.reindex(columns=["sid", "term", "idf"]).sort_values(
        ["sid", "term"], kind="stable"
    )
    vocab, pair_term = np.unique(
        sets_pd["term"].to_numpy(dtype=object), return_inverse=True
    )
    vocab_index = pd.Index(vocab)
    idf = np.zeros(len(vocab), dtype=np.float64)
    idf[pair_term] = sets_pd["idf"].to_numpy(dtype=np.float64)
    sids, pair_set = np.unique(
        sets_pd["sid"].to_numpy(dtype=np.int64), return_inverse=True
    )
    # pair index where each set starts, plus the end
    set_bounds = np.searchsorted(pair_set, np.arange(len(sids) + 1))

    def kernel(left: pd.DataFrame) -> pd.DataFrame:
        codes = vocab_index.get_indexer(left["term"])
        live = codes >= 0
        p = decode_rows(left["doc_blob"][live], left["tf_blob"][live],
                        left["dl_blob"][live])
        term = np.repeat(codes[live], p.counts)
        tf = p.tf.astype(np.float64)
        contrib = (
            idf[term] * (k1 + 1.0) * tf
            / (tf + k1 * (1.0 - b + b * p.dl.astype(np.float64) / avgdl))
        )
        # postings grouped by term, each term one contiguous run
        order = np.argsort(term, kind="stable")
        tomb = left["term"].isna().to_numpy()
        if tomb.any():
            deleted = decode_rows(left["doc_blob"][tomb]).doc
            order = order[~np.isin(p.doc[order], deleted)]
        doc, contrib, term = p.doc[order], contrib[order], term[order]
        t_len = np.bincount(term, minlength=len(vocab))
        t_start = np.cumsum(t_len) - t_len
        udoc, doc_rank = np.unique(doc, return_inverse=True)
        n_doc = len(udoc)

        lens = t_len[pair_term]
        before = np.concatenate(([0], np.cumsum(lens)))[set_bounds]
        out_sid, out_doc, out_score = [], [], []
        lo = 0
        while lo < len(sids):
            hi = max(lo + 1, int(np.searchsorted(
                before, before[lo] + KERNEL_TRIPLE_BUDGET, "right")) - 1)
            pa, pb = set_bounds[lo], set_bounds[hi]
            if before[hi] > before[lo]:
                idx = _ranges(t_start[pair_term[pa:pb]], lens[pa:pb])
                key = (np.repeat((pair_set[pa:pb] - lo) * n_doc, lens[pa:pb])
                       + doc_rank[idx])
                c = contrib[idx]
                n_cells = (hi - lo) * n_doc
                if n_cells <= 2 * len(key):
                    # every contribution is > 0 (idf > 0, tf ≥ 1), so a
                    # grid cell holds a score iff it is non-zero
                    score = np.bincount(key, weights=c, minlength=n_cells)
                    cell = np.flatnonzero(score)
                    score = score[cell]
                else:
                    o = np.argsort(key, kind="stable")
                    key = key[o]
                    new = np.r_[True, key[1:] != key[:-1]]
                    cell = key[new]
                    score = np.bincount(np.cumsum(new) - 1, weights=c[o])
                cset = cell // n_doc
                q = np.rint(score * 10.0 ** RANK_ROUND).astype(np.int64)
                top = _select_topk(cset, q - q.min(), k)
                out_sid.append(sids[lo + cset[top]])
                out_doc.append(udoc[cell[top] % n_doc])
                out_score.append(score[top])
            lo = hi
        if not out_sid:
            return pd.DataFrame({"sid": np.empty(0, np.int64),
                                 "doc_id": np.empty(0, np.int64),
                                 "score": np.empty(0, np.float64)})
        return pd.DataFrame({"sid": np.concatenate(out_sid),
                             "doc_id": np.concatenate(out_doc),
                             "score": np.concatenate(out_score)})

    return kernel


# ---------------------------------------------------------------------------
# count / locate / extract / display — the reference's four query classes
# ---------------------------------------------------------------------------

def term_positions(index: InvertedIndex, terms: list[str],
                   within_docs=None) -> DataFrame:
    """Positional `locate` (reference: utils/interface.h:66 — occurrence
    positions): every (term, doc_id, tpos) with tpos the 1-based token
    position, decoded from the positional stream (requires an index built
    with positions=True).

    ``within_docs`` (optional, iterable of doc ids): restrict to those
    docs AND decode only the posting BLOCKS whose doc range can contain
    one (block-directory searchsorted — the substring verify's access
    pattern), so highlighting k hits of a head term costs blocks-touched,
    not cf(term).  The set rides in the task closure: callers must pass
    k-bounded hit sets (ranked_snippets' contract), never corpus-scale
    filters — those belong in a join."""
    if not index.meta.get("positions"):
        raise ValueError("index was built without positions=True")

    # same IN-list → broadcast-semi-join cutover as BM25: a gram workload
    # can carry thousands of distinct terms (Catalyst plans IN-lists in
    # time proportional to their length)
    matched = _matched_postings(index, list(terms))

    docs_np = (
        np.unique(np.asarray(list(within_docs), dtype=np.int64))
        if within_docs is not None
        else None
    )

    def decode(iterator):
        for pdf in iterator:
            terms = pdf["term"].to_numpy()
            if docs_np is None:
                p = decode_rows(pdf["doc_blob"], pdf["tf_blob"],
                                pos_blobs=pdf["pos_blob"])
                row_of = np.repeat(np.arange(len(pdf)), p.counts)
                yield pd.DataFrame({"term": terms[np.repeat(row_of, p.tf)],
                                    "doc_id": np.repeat(p.doc, p.tf),
                                    "tpos": p.pos})
                continue
            # block-targeted path: decode ONLY the blocks whose doc range
            # can contain a probed doc (the substring verify's access
            # pattern)
            parts = [decode_blocks(row, candidate_blocks(row, docs_np), pos=True)
                     for row in pdf.itertuples(index=False)]
            term = np.repeat(terms, [len(q.pos) for q in parts])
            doc = np.concatenate([np.repeat(q.doc, q.tf) for q in parts]
                                 or [np.empty(0, np.int64)])
            tpos = np.concatenate([q.pos for q in parts]
                                  or [np.empty(0, np.int64)])
            keep = np.isin(doc, docs_np)
            yield pd.DataFrame({"term": term[keep], "doc_id": doc[keep],
                                "tpos": tpos[keep]})

    cols = ["term", "doc_blob", "tf_blob", "pos_blob"]
    if docs_np is not None:
        cols += ["block_last", "block_doc_off", "block_tf_off",
                 "block_pos_off"]

    from full_text_index_spark.deletes import mask_deleted

    # widen: the positional decode is the CPU stage of every substring /
    # approx / snippet plan, and it inherits scan parallelism — few large
    # posting files would otherwise serialize it (no-op on wide scans)
    return mask_deleted(
        index,
        widen_partitions(matched.select(*cols)).mapInPandas(
            decode, schema="term string, doc_id long, tpos long"
        ),
    )


def phrase_positions(index: InvertedIndex, phrases: list[str]) -> DataFrame:
    """Exact phrase occurrence counts verified INSIDE the index (no text
    access): for phrase t0 t1 … tm, a match is a doc where each slot's
    position list contains p, p+1, …, p+m.
    Counts are OVERLAPPING occurrences ("x x x" contains "x x" twice),
    matching phrase_search's anchored-start enumeration on the stored text
    (the two paths agree per (phrase, doc)).

    One batched plan for the whole workload (VERDICT r01 #6): a single join
    of the decoded positions against a broadcast (phrase, slot, term) table,
    then one aggregation counting distinct slot hits per aligned start
    position — the number of stages is constant no matter how many phrases
    are asked (the old form chained one join pipeline per phrase).
    Output: (phrase, doc_id, n_occurrences)."""
    from full_text_index_spark.tokenizer import tokenize_py

    spark = index.spark
    slot_rows = []
    for p in phrases:
        terms = tokenize_py(p)
        for i, t in enumerate(terms):
            slot_rows.append((p, i, t, len(terms)))
    slots = local_frame(
        spark, slot_rows, "phrase string, slot int, term string, n_slots int"
    )
    all_terms = sorted({r[2] for r in slot_rows})
    return _phrase_occurrence_counts(term_positions(index, all_terms), slots)


def _phrase_occurrence_counts(tp: DataFrame, slots_df: DataFrame) -> DataFrame:
    """The batched positional slot-join shared by phrase_positions and
    phrase_prefix_search — aligned start p0 = tpos − slot: an occurrence at
    p0 needs a DISTINCT slot hit for every slot (distinct, because a phrase
    may repeat a term and prefix expansions share the last slot).  ONE copy
    of the matching rule so a fix can't silently miss the other operator.
    Output: (phrase, doc_id, n_occurrences) over overlapping starts."""
    starts = (
        tp.join(F.broadcast(slots_df), "term")
        .select(
            "phrase", "n_slots", "doc_id", "slot",
            (F.col("tpos") - F.col("slot")).alias("p0"),
        )
        .groupBy("phrase", "n_slots", "doc_id", "p0")
        .agg(F.count_distinct("slot").alias("n_hit"))
        .where(F.col("n_hit") == F.col("n_slots"))
    )
    return starts.groupBy("phrase", "doc_id").agg(
        F.count("*").alias("n_occurrences")
    )


def phrase_prefix_search(
    index: InvertedIndex,
    phrases: list[str],
    max_expansions: int = 50,
) -> DataFrame:
    """Phrase-prefix search (ES `match_phrase_prefix` — the query-box
    autocomplete for phrases): the LAST token of each phrase is a prefix,
    expanded against the vocab-sized dictionary to its top
    ``max_expansions`` completions by (cf desc, term) — Lucene's
    expansion cap, which bounds the decode no matter how promiscuous the
    prefix — then matched with the same batched positional slot-join as
    `phrase_positions`: the expansion terms all share the LAST slot, so a
    start position matches when every fixed slot hits and ANY completion
    sits at the end.  A prefix with no dictionary completion matches
    nothing (the char-not-in-file posture).

    Output: (phrase, doc_id, n_occurrences) — overlapping occurrences,
    like phrase_positions."""
    from full_text_index_spark.tokenizer import tokenize_py

    spark = index.spark
    fixed_rows, prefix_rows = [], []
    for p in phrases:
        terms = tokenize_py(p)
        if not terms:
            raise ValueError(f"empty phrase: {p!r}")
        for i, t in enumerate(terms[:-1]):
            fixed_rows.append((p, i, t, len(terms)))
        prefix_rows.append((p, len(terms) - 1, terms[-1], len(terms)))
    prefixes = local_frame(
        spark, prefix_rows, "phrase string, slot int, prefix string, n_slots int"
    )
    exp_w = Window.partitionBy("phrase").orderBy(
        F.col("cf").desc(), F.col("term").asc()
    )
    expansions = (
        index.term_stats().select("term", "cf")
        .join(F.broadcast(prefixes),
              F.col("term").startswith(F.col("prefix")))
        .withColumn("xr", F.row_number().over(exp_w))
        .where(F.col("xr") <= max_expansions)
        .select("phrase", "slot", "term", "n_slots")
    )
    slots = expansions
    if fixed_rows:
        slots = local_frame(
            spark, fixed_rows, "phrase string, slot int, term string, n_slots int"
        ).unionByName(expansions)
    slots_pd = slots.toPandas()  # ≤ |phrases|·(m + max_expansions) rows
    all_terms = sorted(set(slots_pd["term"]))
    # explicit schema: slots_pd can be EMPTY (every phrase a single-token
    # prefix with no dictionary completion) and an empty pandas frame has no
    # inferable types — "no completion matches nothing" must return 0 rows,
    # not CANNOT_INFER_EMPTY_SCHEMA (ADVICE r04).
    slots_df = local_frame(
        spark, slots_pd, "phrase string, slot int, term string, n_slots int"
    )
    return _phrase_occurrence_counts(
        term_positions(index, all_terms), slots_df
    )


def boolean_and(index: InvertedIndex, queries: DataFrame) -> DataFrame:
    """Conjunctive (AND) search: docs containing EVERY term of the query —
    posting-list intersection (the reference's multi-term count semantics,
    SURVEY.md §2.5 'set ops').  Input: queries(qid, terms); output
    (qid, doc_id, min_tf) where min_tf is the smallest per-term tf (the
    bound a phrase verifier needs)."""
    qterms = queries.select(
        "qid", F.explode(F.array_distinct("terms")).alias("term")
    )
    n_terms = qterms.groupBy("qid").agg(F.count("*").alias("n_terms"))
    # same IN-list → broadcast-semi-join cutover as BM25 (VERDICT r02 #4):
    # a 5000-term boolean query must plan in constant driver time
    from full_text_index_spark.deletes import mask_deleted

    terms = [r["term"] for r in qterms.select("term").distinct().collect()]
    decoded = mask_deleted(
        index, _decode_postings(_matched_postings(index, terms, qterms))
    )
    return (
        decoded.join(qterms, "term")
        .groupBy("qid", "doc_id")
        .agg(F.count("*").alias("n_hit"), F.min("tf").alias("min_tf"))
        .join(n_terms, "qid")
        .where(F.col("n_hit") == F.col("n_terms"))
        .select("qid", "doc_id", "min_tf")
    )


def near_count(index: InvertedIndex,
               pairs: list[tuple[str, str, int]]) -> DataFrame:
    """Proximity (NEAR) search: for each (term_a, term_b, window) query,
    the docs where the two DISTINCT terms co-occur within ``window`` token
    positions, with the number of qualifying position pairs — answered
    entirely inside the positional index (no text access), the classic IR
    proximity operator the reference's fixed-pattern drivers stop short
    of (utils/run_queries.c:46-121).

    One batched plan for the whole workload: the union of query terms is
    decoded ONCE (`term_positions`), both sides of every query join
    against that single stream via a broadcast of the tiny query table,
    and the position-pair filter |pa − pb| <= window runs behind an
    equi-join on (term, doc) — pair fan-out per doc is tf_a·tf_b, bounded
    by the per-doc term frequencies, never corpus size.
    Output: (term_a, term_b, window, doc_id, n_pairs)."""
    spark = index.spark
    for a, b, _ in pairs:
        if a == b:
            raise ValueError(f"NEAR terms must be distinct (got {a!r})")
    qdf = local_frame(
        spark, sorted(set(pairs)), "term_a string, term_b string, window int"
    )
    terms = sorted({t for a, b, _ in pairs for t in (a, b)})
    tp = term_positions(index, terms)
    pa = tp.select(F.col("term").alias("term_a"), "doc_id",
                   F.col("tpos").alias("pa"))
    pb = tp.select(F.col("term").alias("term_b"), "doc_id",
                   F.col("tpos").alias("pb"))
    return (
        pa.join(F.broadcast(qdf), "term_a")
        .join(pb, ["term_b", "doc_id"])
        .where(F.abs(F.col("pa") - F.col("pb")) <= F.col("window"))
        .groupBy("term_a", "term_b", "window", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def more_like_this(
    index: InvertedIndex,
    query_docs: DataFrame,
    k: int = 10,
    n_query_terms: int = 5,
) -> DataFrame:
    """Similar-document retrieval ("more like this"): the query is a
    DOCUMENT — its top ``n_query_terms`` terms by tf·idf (idf from the
    index dictionary, ties broken by term) form a BM25 query, and the
    source doc itself is excluded from the ranking.

    Fully composed from existing primitives: the query docs' term
    weights come from tokenizing ONLY those docs (tiny), the retrieval
    is one `bm25_topk` batch at k+1, and self-exclusion renumbers ranks
    behind a window — identical to "score everything, drop self, take
    top-k" because dropping at most one row from a top-(k+1) list leaves
    the top-k of the rest.
    Output: (qid, rank, doc_id, score) like bm25_topk."""
    from full_text_index_spark.tokenizer import tokens_col

    qtf = (
        query_docs.select(
            F.col("doc_id").alias("qid"),
            F.explode(tokens_col(F.col("text"))).alias("term"),
        )
        .groupBy("qid", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = (F.col("tf") * F.col("idf")).alias("w")
    # broadcast the TINY query-doc side; the dictionary is vocab-scale
    top_terms = (
        index.term_stats().select("term", "idf")
        .join(F.broadcast(qtf), "term")
        .select("qid", "term", w)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid")
                .orderBy(F.desc(F.round("w", 6)), F.asc("term"))
            ),
        )
        .where(F.col("rn") <= n_query_terms)
    )
    queries = top_terms.groupBy("qid").agg(
        F.sort_array(F.collect_list("term")).alias("terms")
    )
    hits = bm25_topk(index, queries, k=k + 1)
    return (
        hits.where(F.col("doc_id") != F.col("qid"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.asc("rank"))
            ),
        )
        .where(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def collapse_topk(
    index: InvertedIndex,
    queries: DataFrame,
    doc_groups: DataFrame,
    k: int = 10,
    per_group: int = 1,
) -> DataFrame:
    """Field-collapsed (grouped) BM25 top-k — Lucene/ES "field collapsing":
    at most ``per_group`` best docs per (query, group) survive, then the
    survivors are re-ranked into the final top-k.  The diversified-results
    operator a search UI needs over a corpus where one site/source would
    otherwise fill the whole page.

    Collapsing is applied to the COMPLETE scored set (the exact scoring
    path, `_bm25_scored_exact`), not to a truncated top-k pool — a group
    whose best doc ranks 10^6-th globally is still its group's
    representative, which a post-filter on `bm25_topk` output would lose.
    Everything after the decode is JVM window functions; `doc_groups
    (doc_id, group)` joins on doc_id behind the same shuffle.

    Output: (qid, rank, doc_id, group, score), rank 1..k, tie-break
    (round(score, 6) desc, doc_id asc) at BOTH windows.

    Docs ABSENT from ``doc_groups`` are kept, collapsed together under a
    NULL group (Elasticsearch semantics: a missing collapse field does not
    exclude the doc from results — ADVICE r04), so doc_groups need not
    cover the corpus."""
    # broadcast the QUERY side, never the vocab-sized dictionary (VERDICT
    # r05 #1 — same inversion as bm25_topk)
    qterms = (
        index.term_stats().select("term", "idf")
        .join(
            F.broadcast(
                queries.select(
                    "qid", F.explode(F.array_distinct("terms")).alias("term")
                )
            ),
            "term",
        )
        .select("qid", "term", "idf")
    )
    scored = _bm25_scored_exact(index, qterms).join(
        doc_groups.select("doc_id", "group"), "doc_id", "left"
    )
    order = [F.round(F.col("score"), RANK_ROUND).desc(), F.col("doc_id").asc()]
    in_group = Window.partitionBy("qid", "group").orderBy(*order)
    overall = Window.partitionBy("qid").orderBy(*order)
    return (
        scored.withColumn("gr", F.row_number().over(in_group))
        .where(F.col("gr") <= per_group)
        .withColumn("rank", F.row_number().over(overall))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "group", "score")
    )


def significant_terms(
    index: InvertedIndex,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    min_fg_df: int = 1,
) -> DataFrame:
    """Significant-terms facet (Elasticsearch's `significant_terms`
    aggregation): for each query, the terms most over-represented in the
    query's RESULT SET (docs containing every query term) relative to the
    whole corpus — "what is this result set about".

    Foreground df comes from re-tokenizing ONLY the matching docs (the
    result set is query-selective; scanning it beats decoding every
    term's postings, which is what restricting the full index would
    cost), while the background df comes straight from the index
    DICTIONARY — no corpus scan.  Score is the JLH heuristic
    (fg% − bg%)·(fg% / bg%); query terms themselves are excluded.

    Output: (qid, rank, term, fg_df, df, score), rank 1..k, tie-break
    (round(score, 6) desc, term asc)."""
    from full_text_index_spark.tokenizer import tokens_col

    qterms = queries.select(
        "qid", F.explode(F.array_distinct("terms")).alias("term")
    )
    fg = boolean_and(index, queries).select("qid", "doc_id")
    fg_n = fg.groupBy("qid").agg(F.count(F.lit(1)).alias("fg_n"))
    fg_df = (
        fg.join(docs.select("doc_id", "text"), "doc_id")
        .select("qid", "doc_id",
                F.explode(F.array_distinct(tokens_col(F.col("text"))))
                .alias("term"))
        .where(F.col("term") != "")
        .groupBy("qid", "term")
        .agg(F.count(F.lit(1)).alias("fg_df"))
        .join(qterms, ["qid", "term"], "left_anti")
        .where(F.col("fg_df") >= min_fg_df)
    )
    n = float(index.n_docs)
    fg_pct = F.col("fg_df") / F.col("fg_n")
    bg_pct = F.col("df") / F.lit(n)
    scored = (
        fg_df.join(index.term_stats().select("term", "df"), "term")
        .join(F.broadcast(fg_n), "qid")
        .withColumn("score", (fg_pct - bg_pct) * fg_pct / bg_pct)
    )
    w = Window.partitionBy("qid").orderBy(
        F.round(F.col("score"), RANK_ROUND).desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "term",
                F.col("fg_df").cast("long").alias("fg_df"),
                F.col("df").cast("long").alias("df"), "score")
    )


def best_passage(
    index: InvertedIndex,
    queries: DataFrame,
    width: int = 16,
) -> DataFrame:
    """Best-passage selection (Lucene's unified-highlighter passage
    scoring): for each (query, matching doc), the token window of
    ``width`` positions covering the most DISTINCT query terms —
    tie-break most total occurrences, then smallest start — answered
    entirely inside the positional index (no text access).

    The optimal window can always be anchored at an occurrence, so
    candidates are (start = each occurrence position), evaluated by the
    LINEAR sorted-positions sweep in `_best_windows` — cost per doc is
    O(Σ tf_q log Σ tf_q), never quadratic in occurrences.  Docs =
    conjunctive matches (`boolean_and`), the docs a snippet is owed for.

    Output: (qid, doc_id, start, n_terms, n_occ)."""
    qterms = queries.select(
        "qid", F.explode(F.array_distinct("terms")).alias("term")
    )
    terms = sorted({r["term"] for r in qterms.select("term").distinct().collect()})
    occ = (
        term_positions(index, terms)
        .join(qterms, "term")
        .join(boolean_and(index, queries).select("qid", "doc_id"),
              ["qid", "doc_id"], "left_semi")
    )
    return _best_windows(occ, width)


def _best_windows(occ: DataFrame, width: int) -> DataFrame:
    """Winning window per (qid, doc) from ``occ(qid, doc_id, term, tpos)``:
    anchor at each occurrence, count distinct terms / total occurrences in
    [start, start+width), tie-break (n_terms desc, n_occ desc, start).

    LINEAR in the doc's query-term occurrences (VERDICT r04 #4): a
    vectorized sorted-positions sweep replaces the old anchors×occurrences
    self-join, whose (Σ tf_q)² fan-out put 10⁸ rows in one group for a
    pathological doc with tf≈10⁴ of a query term.  Per anchor k,
    n_occ = searchsorted(pos, pos+width) − k, and n_terms comes from a
    difference array: occurrence k is the FIRST of its term inside every
    window whose start lies in (max(pos[k]−width, prev_same_term[k]),
    pos[k]] — three searchsorteds and one cumsum, no Python loop over
    occurrences.

    Execution shape: per-(qid, doc) groups are a few KB, so a plain
    ``groupBy().applyInPandas`` gets AQE-coalesced into 1-2 serial tasks
    (the measured small-pandas-stage trap — CLAUDE.md / bm25 kernel).
    Instead the sweep runs as ONE whole-batch kernel per task behind an
    explicit AQE-exempt ``repartition(n, qid, doc_id)``: groups are mapped
    onto disjoint coordinate ranges (``pos + gid·(max_pos+width+1)``) so a
    single set of global searchsorteds/difference-arrays evaluates every
    group at once — no per-group Python loop, full task parallelism."""
    _i64min = np.iinfo(np.int64).min

    def sweep(whole: pd.DataFrame) -> pd.DataFrame:
        qid = whole["qid"].to_numpy(dtype=np.int64)
        did = whole["doc_id"].to_numpy(dtype=np.int64)
        pos = whole["tpos"].to_numpy(dtype=np.int64)
        tcode = pd.factorize(whole["term"])[0].astype(np.int64)
        order = np.lexsort((pos, did, qid))
        qid, did, pos, tcode = (
            qid[order], did[order], pos[order], tcode[order]
        )
        n = len(pos)
        newg = np.empty(n, dtype=bool)
        newg[0] = True
        newg[1:] = (qid[1:] != qid[:-1]) | (did[1:] != did[:-1])
        gid = np.cumsum(newg) - 1
        gstart = np.flatnonzero(newg)
        # disjoint per-group coordinate ranges: a window anchored in group
        # g ends before group g+1 starts, so the global searchsorteds
        # below can never read across a group boundary on the high side
        off = int(pos.max()) + width + 1
        gpos = pos + gid * off
        # previous occurrence position of the same (group, term), or -inf:
        # gpos is sorted, so a stable sort by the combined key keeps
        # per-(group, term) position order
        ckey = gid * (int(tcode.max()) + 1) + tcode
        byterm = np.argsort(ckey, kind="stable")
        c_s, p_s = ckey[byterm], gpos[byterm]
        prev_s = np.full(n, _i64min, dtype=np.int64)
        same = np.flatnonzero(c_s[1:] == c_s[:-1]) + 1
        prev_s[same] = p_s[same - 1]
        prev = np.empty(n, dtype=np.int64)
        prev[byterm] = prev_s
        ends = np.searchsorted(gpos, gpos + width, side="left")
        n_occ = ends - np.arange(n)
        lo = np.searchsorted(
            gpos, np.maximum(gpos - width, prev), side="right"
        )
        # gpos−width may dip into the previous group's range; clamp the
        # low side to the row's own group start
        lo = np.maximum(lo, gstart[gid])
        hi = np.searchsorted(gpos, gpos, side="right")
        add = np.zeros(n + 1, dtype=np.int64)
        np.add.at(add, lo, 1)
        np.add.at(add, hi, -1)
        n_terms = np.cumsum(add[:-1])
        # winner per group: first row in (gid, n_terms desc, n_occ desc,
        # start asc) order — gid is the primary key, so gid[ord2] is
        # non-decreasing and np.unique's first-occurrence indexes are the
        # block heads
        ord2 = np.lexsort((pos, -n_occ, -n_terms, gid))
        firsts = ord2[np.unique(gid[ord2], return_index=True)[1]]
        return pd.DataFrame(
            {
                "qid": qid[firsts],
                "doc_id": did[firsts],
                "start": pos[firsts],
                "n_terms": n_terms[firsts],
                "n_occ": n_occ[firsts],
            }
        )

    dp = max(occ.sparkSession.sparkContext.defaultParallelism, 1)
    return (
        occ.select("qid", "doc_id", "term", "tpos")
        .repartition(max(2 * dp, 8), "qid", "doc_id")
        .mapInPandas(
            _whole_partition(sweep),
            schema="qid long, doc_id long, start long, n_terms long, n_occ long",
        )
    )


def ranked_snippets(
    index: InvertedIndex,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    width: int = 16,
) -> DataFrame:
    """The complete search-results flow: BM25 top-k + the best highlight
    window per hit, re-materialized as text — what a search UI renders.
    Unlike `best_passage` (conjunctive docs), hits are ANY-match (BM25's
    disjunctive semantics), so the window covers whichever query terms
    the doc actually contains.

    Cost shape: top-k first (k·|queries| rows), THEN positions — the
    positional decode is joined down to the hit set before the window
    self-join, and only k rows per query touch the text column.

    Output: (qid, rank, doc_id, score, start, n_terms, n_occ, snippet)."""
    from full_text_index_spark.tokenizer import tokens_col

    qterms = queries.select(
        "qid", F.explode(F.array_distinct("terms")).alias("term")
    )
    # top-k is k·|queries| rows — driver-resident by the same construction
    # as the bm25 batch itself; materializing once (a) avoids re-running
    # the scoring kernel for the positions semi-join and (b) hands the hit
    # set to the positional decode, which then touches only the posting
    # BLOCKS containing a hit (highlighting 10 docs of a head term costs
    # blocks-touched, not cf)
    hits_pd = bm25_topk(index, queries, k=k).toPandas()
    hits = local_frame(
        index.spark, hits_pd, "qid long, rank int, doc_id long, score double"
    )
    terms = sorted({r["term"] for r in qterms.select("term").distinct().collect()})
    occ = (
        term_positions(index, terms, within_docs=hits_pd["doc_id"].tolist())
        .join(qterms, "term")
        .join(hits.select("qid", "doc_id"), ["qid", "doc_id"], "left_semi")
    )
    best = _best_windows(occ, width)
    return (
        hits.join(best, ["qid", "doc_id"])
        .join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "qid", "rank", "doc_id", "score", "start", "n_terms", "n_occ",
            F.array_join(
                F.slice(tokens_col(F.col("text")), F.col("start"), width), " "
            ).alias("snippet"),
        )
    )


def search_page(
    index: InvertedIndex,
    docs: DataFrame,
    doc_facets: DataFrame,
    queries: DataFrame,
    k: int = 10,
    width: int = 16,
    n_suggest: int = 5,
    facet_col: str = "facet",
) -> DataFrame:
    """One composed call = the whole search-results page: BM25 top-k,
    best-window highlight per hit, facet sidebar counts and type-ahead
    suggestions (VERDICT r04 #7).  Invoked separately, the four ops pay
    four sets of plan/broadcast/collect job constants and
    `ranked_snippets` re-runs the scoring kernel the page already ran;
    composed, the tokenized query batch, the single driver-resident hit
    set and the one block-targeted positional decode are shared — the
    page costs the sum of its parts minus the duplicated kernel run and
    collects (measured in BENCH/EXTRA.md §l).

    ``queries(qid, terms array<string>, prefix string)``;
    ``doc_facets(doc_id, <facet_col>)``.  Output one row per (qid, rank):
    (qid, rank, doc_id, score, start, n_terms, n_occ, snippet,
    facets — '|'-joined sorted 'facet:n_docs' strings over the
    CONJUNCTIVE match set (the sidebar truth, not top-k-truncated),
    suggestions — '|'-joined completions of the query's prefix by
    (cf desc, term))."""
    qcore = queries.select("qid", "terms")
    # the ranked-hits + best-window + snippet flow IS ranked_snippets —
    # one call keeps the two pipelines in lockstep (the scoring kernel
    # still runs exactly once for the whole page)
    snip = ranked_snippets(index, docs, qcore, k=k, width=width)
    # facet sidebar: '|'-joined on the CONCATENATED string so the sort is
    # byte-deterministic cross-engine even when facet values share prefixes
    fc = facet_counts(index, doc_facets, qcore, facet_col=facet_col)
    facets_arr = fc.groupBy("qid").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.concat_ws(
                ":", F.col("facet"), F.col("n_docs").cast("string")
            ))), "|"
        ).alias("facets")
    )
    prefixes = sorted({
        r["prefix"]
        for r in queries.select("prefix").distinct().collect()
        if r["prefix"]
    })
    sugg_arr = (
        suggest_terms(index, prefixes, k=n_suggest)
        .groupBy("prefix")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rank", "term"))),
                    lambda s: s["term"],
                ), "|"
            ).alias("suggestions")
        )
    )
    qpref = queries.select("qid", "prefix").join(
        F.broadcast(sugg_arr), "prefix", "left"
    )
    return (
        snip.join(F.broadcast(facets_arr), "qid", "left")
        .join(F.broadcast(qpref.select("qid", "suggestions")), "qid", "left")
        .select(
            "qid", "rank", "doc_id", "score", "start", "n_terms", "n_occ",
            "snippet",
            F.coalesce("facets", F.lit("")).alias("facets"),
            F.coalesce("suggestions", F.lit("")).alias("suggestions"),
        )
    )


def passage_snippets(
    index: InvertedIndex,
    docs: DataFrame,
    queries: DataFrame,
    width: int = 16,
) -> DataFrame:
    """`best_passage` + the actual text: re-materialize each winning
    window's tokens from the stored text column (the display analog for
    ranked passages — reference display reconstructs context around each
    occurrence, ssa/SSA.cpp:340-433; here the window is the OPTIMAL one,
    not every occurrence).

    Only the winning (qid, doc) rows join back to text — one row per
    conjunctive match, never per occurrence.  Token positions are 1-based
    over the same filtered token sequence the index was built from, so
    `slice(tokens, start, width)` is exact.

    Output: (qid, doc_id, start, n_terms, n_occ, snippet)."""
    from full_text_index_spark.tokenizer import tokens_col

    bp = best_passage(index, queries, width=width)
    return (
        bp.join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "qid", "doc_id", "start", "n_terms", "n_occ",
            F.array_join(
                F.slice(tokens_col(F.col("text")), F.col("start"), width), " "
            ).alias("snippet"),
        )
    )


def suggest_terms(
    index: InvertedIndex,
    prefixes: list[str],
    k: int = 10,
) -> DataFrame:
    """Type-ahead term completion (Lucene's prefix suggester): for each
    prefix, the top-k dictionary terms ordered by (cf desc, term asc) —
    answered from the VOCAB-SIZED dictionary alone, the corpus and
    postings are never touched.  A prefix that matches nothing returns no
    rows (the reference's char-not-in-file posture).

    Output: (prefix, rank, term, df, cf)."""
    pdf = local_frame(
        index.spark, [(p,) for p in sorted(set(prefixes))], "prefix string"
    )
    cand = index.term_stats().select("term", "df", "cf").join(
        F.broadcast(pdf), F.col("term").startswith(F.col("prefix"))
    )
    w = Window.partitionBy("prefix").orderBy(
        F.col("cf").desc(), F.col("term").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("prefix", "rank", "term", "df", "cf")
    )


def spellcheck_terms(
    index: InvertedIndex,
    terms: list[str],
    max_edits: int = 1,
    k: int = 5,
) -> DataFrame:
    """Did-you-mean (Lucene DirectSpellChecker): for each query term, the
    top-k dictionary terms within ``max_edits`` Levenshtein edits, ordered
    by (dist asc, cf desc, term asc); the exact term itself (dist 0) is
    excluded — a suggestion IS an alternative.

    One vocab-sized dictionary scan against the broadcast query set; the
    length-difference prefilter (|len(a)−len(b)| ≤ max_edits, a lower
    bound on edit distance) keeps the codegen'd levenshtein off most of
    the dictionary.  Corpus and postings are never touched.

    Output: (query, rank, suggestion, dist, df, cf)."""
    qdf = local_frame(
        index.spark, [(t,) for t in sorted(set(terms))], "query string"
    )
    ts = index.term_stats().select("term", "df", "cf")
    cand = (
        ts.join(
            F.broadcast(qdf),
            F.abs(F.length("term") - F.length("query")) <= max_edits,
        )
        .withColumn("dist", F.levenshtein("term", "query"))
        .where((F.col("dist") <= max_edits) & (F.col("dist") > 0))
    )
    w = Window.partitionBy("query").orderBy(
        F.col("dist").asc(), F.col("cf").desc(), F.col("term").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query", "rank", F.col("term").alias("suggestion"),
                "dist", "df", "cf")
    )


def boolean_search(index: InvertedIndex, queries: DataFrame) -> DataFrame:
    """Lucene-style boolean retrieval: ``queries(qid, must array<string>,
    should array<string>, must_not array<string>)`` → docs containing
    EVERY must term, NONE of the must_not terms, and — when must is
    empty — at least one should term (Lucene's BooleanQuery contract:
    pure-negative queries are invalid and raise).

    One decode of the UNION of all roles' terms; role-tagged query rows
    broadcast onto it; per-(qid, doc) role counts behind one aggregation;
    the filter is a JVM predicate.  NOT never scans the corpus: a doc
    enters the candidate set only via a positive (must/should) posting,
    and must_not hits are counted on the same decoded stream — the only
    correct exclusion an inverted index can do without a full-corpus
    complement.

    Output: (qid, doc_id, n_should) with n_should the number of distinct
    should terms present (the coordination factor a ranker would use)."""
    from full_text_index_spark.deletes import mask_deleted

    # NULL role arrays behave like [] everywhere below: size(NULL) is -1,
    # so an un-coalesced null must/should row would BYPASS the pure-negative
    # guard and then silently match nothing (must_hit == -1) — ADVICE r04.
    for role in ("must", "should", "must_not"):
        queries = queries.withColumn(
            role,
            F.coalesce(F.col(role), F.expr("cast(array() as array<string>)")),
        )
    roles = []
    for role in ("must", "should", "must_not"):
        roles.append(
            queries.select(
                "qid",
                F.explode(F.array_distinct(F.col(role))).alias("term"),
                F.lit(role).alias("role"),
            )
        )
    qterms = roles[0].unionByName(roles[1]).unionByName(roles[2])
    bad = (
        queries.where(
            (F.size(F.array_distinct("must")) == 0)
            & (F.size(F.array_distinct("should")) == 0)
        ).select("qid").limit(1).collect()
    )
    if bad:
        raise ValueError(
            f"qid {bad[0]['qid']}: pure-negative boolean query (empty must "
            "AND should) is invalid — Lucene BooleanQuery contract"
        )
    n_must = queries.select(
        "qid", F.size(F.array_distinct("must")).alias("n_must")
    )
    terms = [r["term"] for r in qterms.select("term").distinct().collect()]
    decoded = mask_deleted(
        index, _decode_postings(_matched_postings(index, terms, qterms))
    )
    hits = (
        decoded.join(F.broadcast(qterms), "term")
        .groupBy("qid", "doc_id")
        .agg(
            F.sum(F.when(F.col("role") == "must", 1).otherwise(0))
            .alias("must_hit"),
            F.sum(F.when(F.col("role") == "should", 1).otherwise(0))
            .alias("n_should"),
            F.sum(F.when(F.col("role") == "must_not", 1).otherwise(0))
            .alias("not_hit"),
        )
    )
    return (
        hits.join(F.broadcast(n_must), "qid")
        .where(
            (F.col("must_hit") == F.col("n_must"))
            & (F.col("not_hit") == 0)
            & ((F.col("n_must") > 0) | (F.col("n_should") > 0))
        )
        .select("qid", "doc_id", F.col("n_should").cast("long").alias("n_should"))
    )


def facet_counts(
    index: InvertedIndex,
    doc_facets: DataFrame,
    queries: DataFrame,
    facet_col: str = "facet",
) -> DataFrame:
    """Facet counts (the search-UI sidebar): for each query, how many
    conjunctive-match docs fall in each facet value — one posting-driven
    match (`boolean_and`, no text access) + an equi-join to the
    doc-facet table behind one aggregation.  ``doc_facets(doc_id,
    <facet_col>)``; at 100 TB the facet table is doc_stats-sized and the
    match set is query-selective, so the join shuffles only matches.

    Output: (qid, facet, n_docs)."""
    fg = boolean_and(index, queries).select("qid", "doc_id")
    return (
        fg.join(doc_facets.select("doc_id",
                                  F.col(facet_col).alias("facet")), "doc_id")
        # a NULL facet value means "doc has no facet": skip it (ES terms
        # aggs skip missing fields; search_page's concat_ws would otherwise
        # emit a nameless ':n' sidebar entry the oracle's `||` drops)
        .where(F.col("facet").isNotNull())
        .groupBy("qid", "facet")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def glob_to_regex(pattern: str) -> str:
    """Anchored regex for a ``*``-glob over dictionary terms, built from
    re.escape'd literal segments — identical semantics in Java regex and
    RE2, so the DuckDB oracle evaluates the same string."""
    import re as _re

    return "^" + ".*".join(_re.escape(seg) for seg in pattern.split("*")) + "$"


def wildcard_term_search(index: InvertedIndex,
                         patterns: list[str]) -> DataFrame:
    """Wildcard (``*``-glob) term queries — the `pre*` / `*suffix` /
    `a*b` expansion every FTS user reaches for.  Expansion runs against
    the VOCAB-SIZED term dictionary (term_stats), never the corpus:
    n_terms and n_occurrences come straight from the dictionary scan;
    n_docs_matching (df of the UNION of matched terms) needs one decode
    of exactly the matched terms' postings, distinct-counted per pattern.
    Matched terms flow postings-ward as a broadcast DataFrame — nothing
    is collected to the driver, so `a*` with 10^6 expansions plans the
    same as `rare*` with 3.
    Output: (pattern, n_terms, n_occurrences, n_docs_matching),
    zero-filled for patterns matching no term.

    Delete semantics (deletes.py contract): n_terms/n_occurrences are
    DICTIONARY statistics and stay physical until compaction (they may
    count tombstoned postings); n_docs_matching is a doc-level result and
    excludes tombstoned docs immediately.  After deleting every doc a
    term appears in, a row can therefore read n_docs_matching=0 with
    n_occurrences>0 until ``compact`` runs — the same split Lucene
    exposes between docFreq() and live-doc counts between merges."""
    spark = index.spark
    patterns = list(dict.fromkeys(patterns))
    pdf = local_frame(
        spark, [(p, glob_to_regex(p)) for p in patterns], "pattern string, rx string"
    )
    matched = (
        index.term_stats()
        .select("term", "cf")
        .crossJoin(F.broadcast(pdf))
        .where(F.expr("term rlike rx"))
        .select("pattern", "term", "cf")
    )
    dict_agg = matched.groupBy("pattern").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("cf").alias("n_occurrences"),
    )
    from full_text_index_spark.deletes import mask_deleted

    docs_agg = (
        mask_deleted(
            index,
            widen_partitions(
                index.postings()
                .join(F.broadcast(matched.select("pattern", "term")), "term")
                .select("pattern", "doc_blob")
            )
            .mapInPandas(_decode_doc_ids_kernel,
                         schema="pattern string, doc_id long"),
        )
        .groupBy("pattern")
        .agg(F.count_distinct("doc_id").alias("n_docs_matching"))
    )
    base = local_frame(spark, [(p,) for p in patterns], "pattern string")
    return (
        base.join(F.broadcast(dict_agg), "pattern", "left")
        .join(F.broadcast(docs_agg), "pattern", "left")
        .select(
            "pattern",
            F.coalesce("n_terms", F.lit(0)).cast("long").alias("n_terms"),
            F.coalesce("n_occurrences", F.lit(0)).cast("long")
            .alias("n_occurrences"),
            F.coalesce("n_docs_matching", F.lit(0)).cast("long")
            .alias("n_docs_matching"),
        )
    )


def _decode_doc_ids_kernel(iterator):
    """(key, doc_blob) -> (key, doc_id): gap-decode only the doc stream (no
    tf/pos work); ``key`` is whatever the first column labels the rows
    with."""
    for pdf in iterator:
        p = decode_rows(pdf["doc_blob"])
        key = pdf.columns[0]
        yield pd.DataFrame({key: np.repeat(pdf[key].to_numpy(), p.counts),
                            "doc_id": p.doc})


def phrase_search(index: InvertedIndex, corpus: DataFrame,
                  phrases: list[str]) -> DataFrame:
    """Exact phrase count/locate, index-accelerated: candidate docs from the
    conjunctive posting intersection of the phrase's terms, then verified by
    a substring scan of only those docs' stored text — the two-phase
    candidate+verify plan that replaces the reference's suffix-array
    substring search (sau/SAu.c:253-344) for multi-token patterns.
    Matches are token-anchored (phrase padded with token separators), so the
    term-AND candidate set is a guaranteed superset of the verified matches.
    Counts EVERY anchored start (overlapping included — adjacent
    occurrences share their separator space, which a substring-replace
    count would consume, reporting 1 for 'a b' in 'a b a b'), so
    n_occurrences equals the per-(phrase, doc) cardinality of
    phrase_positions.
    Output: (phrase, doc_id, n_occurrences>0)."""
    from full_text_index_spark.tokenizer import tokenize_py

    spark = index.spark
    qrows = [(i, p, tokenize_py(p)) for i, p in enumerate(phrases)]
    qdf = local_frame(spark, qrows, "qid long, phrase string, terms array<string>")
    cand = boolean_and(index, qdf.select("qid", "terms"))

    # overlapping-count verify in an Arrow kernel: the old column-HOF
    # enumerated every char offset, each invoking substr — which re-walks
    # UTF-8 from offset 0 — i.e. O(|text|²·|phrase|) interpreted work per
    # candidate (13.7 s for 5000 docs at sf0.1).  str.find with start+1
    # counts the IDENTICAL overlapping occurrences in O(|text|) C code.
    def count_occurrences(iterator):
        for pdf in iterator:
            texts = pdf["text"]
            phrases = pdf["phrase"]
            ns = np.zeros(len(pdf), dtype=np.int64)
            for i in range(len(pdf)):
                s = " " + (texts.iloc[i] or "") + " "
                p = " " + phrases.iloc[i] + " "
                n, j = 0, s.find(p)
                while j != -1:
                    n += 1
                    j = s.find(p, j + 1)
                ns[i] = n
            out = pd.DataFrame({
                "phrase": phrases, "doc_id": pdf["doc_id"],
                "n_occurrences": ns,
            })
            yield out[out["n_occurrences"] > 0]

    return (
        cand.join(F.broadcast(qdf.select("qid", "phrase")), "qid")
        .join(corpus.select("doc_id", "text"), "doc_id")
        .select("phrase", "doc_id", "text")
        .mapInPandas(
            count_occurrences,
            schema="phrase string, doc_id long, n_occurrences long",
        )
    )


def term_count(index: InvertedIndex, terms: list[str]) -> DataFrame:
    """`count` analog (reference: utils/interface.h:59): occurrences (cf) and
    matching docs (df) per term; absent terms → df=0, cf=0."""
    spark = index.spark
    tdf = local_frame(spark, [(t,) for t in terms], "term string")
    # restrict the vocab-sized stats to the probe set first (broadcast
    # semi), then broadcast the ≤|terms|-row result back for the left
    # join — without this the left-outer plans as a vocab-wide
    # SortMergeJoin per call
    ts = (
        index.term_stats().select("term", "df", "cf")
        .join(F.broadcast(tdf), "term")
    )
    return (
        tdf.join(F.broadcast(ts), "term", "left")
        .select(
            "term",
            F.coalesce(F.col("df"), F.lit(0)).alias("df"),
            F.coalesce(F.col("cf"), F.lit(0)).alias("cf"),
        )
    )


def term_locate(index: InvertedIndex, terms: list[str]) -> DataFrame:
    """`locate` analog (reference: utils/interface.h:66): every (doc_id, tf)
    occurrence record of each term, decoded from the compressed postings;
    tombstoned docs excluded (deletes.py)."""
    from full_text_index_spark.deletes import mask_deleted

    matched = _matched_postings(index, list(terms))
    return mask_deleted(
        index, _decode_postings(matched).select("term", "doc_id", "tf")
    )


def extract(corpus: DataFrame, intervals: DataFrame) -> DataFrame:
    """`extract` analog (reference: utils/interface.h:79): substring
    [from_char, to_char] (0-based, inclusive, clipped) of each url's text."""
    return (
        intervals.join(corpus.select("url", "text"), "url")
        .select(
            "url",
            "from_char",
            "to_char",
            F.substring(
                F.col("text"),
                F.col("from_char") + 1,
                F.col("to_char") - F.col("from_char") + 1,
            ).alias("snippet"),
        )
    )


_ALNUM = "abcdefghijklmnopqrstuvwxyz0123456789"


def display_all_occurrences(
    index: InvertedIndex, corpus: DataFrame, terms: list[str], numc: int = 25,
) -> DataFrame:
    """The reference's full `display` semantics: a snippet of ``numc`` chars
    of context around EVERY occurrence — the snippet matrix
    (reference: utils/interface.h:81-92, ssa/SSA.cpp:340-433; VERDICT r01
    missing #2).  Candidate docs come from the index (term_locate), so only
    matching docs' text is touched; occurrences are token-anchored char
    positions (alnum-boundary-checked against the lowercased text), which
    makes the per-doc occurrence count exactly the index's tf.
    Output: (term, doc_id, occ_idx 1-based, cpos 1-based, snippet)."""
    cand = term_locate(index, terms)
    docs = corpus.select("doc_id", "text")
    alnum = set(_ALNUM)

    # token-anchored matches in the ORIGINAL text (1-based): the substring
    # equals the term on the lowercased text and both neighbouring chars
    # (if any) are non-alphanumeric.  r06: enumerated in an Arrow kernel —
    # the old column-HOF probed every char offset with three substr calls,
    # each re-walking UTF-8 from offset 0 (O(|text|²) interpreted; 13.1 s
    # for the sf0.1 entry) — str.find walks the doc once.
    def enumerate_occurrences(iterator):
        for pdf in iterator:
            t_out, d_out, o_out, c_out, s_out = [], [], [], [], []
            for term, doc_id, text in zip(
                pdf["term"], pdf["doc_id"], pdf["text"]
            ):
                s = text or ""
                lt = s.lower()
                tl = len(term)
                occ = 0
                j = lt.find(term)
                while j != -1:
                    if (j == 0 or lt[j - 1] not in alnum) and (
                        j + tl >= len(lt) or lt[j + tl] not in alnum
                    ):
                        occ += 1
                        cpos = j + 1
                        start0 = max(cpos - numc, 1) - 1
                        t_out.append(term)
                        d_out.append(doc_id)
                        o_out.append(occ)
                        c_out.append(cpos)
                        s_out.append(s[start0:start0 + tl + 2 * numc])
                    j = lt.find(term, j + 1)
            yield pd.DataFrame({
                "term": pd.Series(t_out, dtype=object),
                "doc_id": pd.Series(d_out, dtype="int64"),
                "occ_idx": pd.Series(o_out, dtype="int64"),
                "cpos": pd.Series(c_out, dtype="int64"),
                "snippet": pd.Series(s_out, dtype=object),
            })

    return (
        cand.join(docs, "doc_id")
        .select("term", "doc_id", "text")
        .mapInPandas(
            enumerate_occurrences,
            schema="term string, doc_id long, occ_idx long, cpos long, "
                   "snippet string",
        )
    )


def display(
    index: InvertedIndex, corpus: DataFrame, queries: DataFrame,
    numc: int = 30, k: int = 10,
) -> DataFrame:
    """`display` analog (reference: utils/interface.h:92): top-k docs per
    query with ``numc`` chars of context around the first match of the
    query's first term.  The anchor lookup is CASE-INSENSITIVE (index
    terms are lowercased by the tokenizer, so a doc ranked via a
    different-cased occurrence must still anchor at that occurrence, not
    silently fall back to the document start); the snippet itself shows
    the original-case text."""
    topk = bm25_topk(index, queries, k=k)
    first_term = queries.select(
        "qid", F.element_at("terms", 1).alias("t0")
    )
    docs = corpus.select(F.col("doc_id"), "url", "text")
    return (
        topk.join(first_term, "qid")
        .join(docs, "doc_id")
        .withColumn("pos", F.instr(F.lower(F.col("text")), F.col("t0")))
        .select(
            "qid", "rank", "doc_id", "url",
            F.substring(
                F.col("text"),
                F.greatest(F.col("pos") - numc, F.lit(1)),
                F.length(F.col("t0")) + 2 * numc,
            ).alias("snippet"),
        )
    )
