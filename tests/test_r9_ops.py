"""Crafted-data pins for the round-9 operators.

Same discipline as test_r7/r8_ops: hand-computed expectations on tiny
crafted fixtures, plus the DuckDB oracle round-trip where the operator
has one.
"""

from __future__ import annotations

import pytest

from etl_pipeline_telecom_spark import catalog

from .oracle_harness import compare

pytestmark = pytest.mark.usefixtures("spark")

catalog._load_all_plans()


def _roundtrip(spark, d: str, name: str) -> None:
    spec = catalog.REGISTRY[name]
    ok, msg = compare(spark, d, spec.fn, spec.sql)
    assert ok, f"{name}: {msg}"


# ---------------------------------------------------------------------------
# d18: exact substring dedup
# ---------------------------------------------------------------------------


def _spans(docs_df, k=8):
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from etl_pipeline_telecom_spark.plans.dedup import substring_occurrences

    occ = substring_occurrences(docs_df, k)
    dup = occ.groupBy("sh").count().where(F.col("count") >= 2).select("sh")
    docc = occ.join(dup, "sh").select("doc_id", "pos")
    w_prev = W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, -1)
    prev_end = F.max(F.col("pos") + (k - 1)).over(w_prev)
    w_run = W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, 0)
    out = (
        docc.withColumn(
            "flag", F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0)
        )
        .withColumn("island", F.sum("flag").over(w_run))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return sorted((r["doc_id"], r["span_start"], r["span_end"]) for r in out.collect())


def test_d18_shared_60_token_span_distinct_flanks(spark):
    """Two docs share a 60-token run with unique flanks on both sides —
    the canonical ExactSubstr case. Expected: each doc reports EXACTLY
    one span covering tokens of the shared run and nothing else."""
    shared = " ".join(f"s{i}" for i in range(60))
    doc_a = "alpha beta gamma " + shared + " delta epsilon"  # shared at tokens 4..63
    doc_b = "one two three four five " + shared + " six"     # shared at tokens 6..65
    docs = spark.createDataFrame([(1, doc_a), (2, doc_b)], "doc_id long, text string")
    # k=8: duplicated shingles are exactly those fully inside the shared
    # run → positions 4..56 in doc_a (span 4..63), 6..58 in doc_b
    assert _spans(docs, k=8) == [(1, 4, 63), (2, 6, 65)]


def test_d18_within_doc_repeat_counts_as_duplicate(spark):
    """A substring repeated INSIDE one doc is a duplicate too (Lee et al.
    semantics: >1 occurrence corpus-wide, not >1 doc)."""
    run = " ".join(f"r{i}" for i in range(8))
    doc = "x1 x2 " + run + " y1 y2 y3 y4 y5 y6 y7 y8 " + run + " z1"
    docs = spark.createDataFrame([(7, doc)], "doc_id long, text string")
    # tokens: x1 x2 (2) r0..r7 = 3..10, y1..y8 = 11..18, r0..r7 = 19..26, z1
    assert _spans(docs, k=8) == [(7, 3, 10), (7, 19, 26)]


def test_d18_overlapping_coverage_merges_to_one_span(spark):
    """Two duplicated shingles whose coverage intervals overlap but whose
    positions are not adjacent must merge into ONE maximal span."""
    a = " ".join(f"a{i}" for i in range(8))   # dup shingle A
    b = " ".join(f"b{i}" for i in range(8))   # dup shingle B
    # doc 1: A, then 3 unique tokens, then B → coverage [1,8] and [12,19]:
    # gap of 3 uncovered tokens → TWO spans
    doc1 = a + " u1 u2 u3 " + b
    # doc 2: A immediately followed by B → coverage [1,8]+[9,16] adjacent
    # → ONE span (the shingles straddling the A|B seam are unique, so
    # coverage — not position adjacency — is what merges)
    doc2 = a + " " + b
    # docs 3/4 re-state A and B with unique flanks so both are duplicated
    docs = spark.createDataFrame(
        [(1, doc1), (2, doc2), (3, "f1 " + a + " f2"), (4, "g1 " + b + " g2")],
        "doc_id long, text string",
    )
    got = _spans(docs, k=8)
    assert (1, 1, 8) in got and (1, 12, 19) in got
    assert (2, 1, 16) in got
    assert (3, 2, 9) in got and (4, 2, 9) in got


def test_d18_no_duplicates_empty(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"p{i}" for i in range(20))), (2, " ".join(f"q{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    assert _spans(docs, k=8) == []


def test_d18_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "d18_substring_dedup")


# ---------------------------------------------------------------------------
# m6: perceptual media near-dup
# ---------------------------------------------------------------------------


def test_bmp_codec_roundtrip_padding_and_topdown():
    """Width 7 → stride pads 21→24: the decoder must skip pad bytes.
    Negative height = top-down storage; both orders must decode to the
    same top-down grid."""
    import struct

    from etl_pipeline_telecom_spark.functions.multimodal import (
        bmp_from_gray,
        bmp_gray_grid,
    )

    gray = [(i * 53 + 7) % 256 for i in range(7 * 4)]
    p = bmp_from_gray(gray, 7, 4)
    assert bmp_gray_grid(p) == (7, 4, gray)

    # rewrite as top-down: negate height, reverse row blocks
    stride = (7 * 3 + 3) & ~3
    off = 14 + 40
    rows = [p[off + r * stride : off + (r + 1) * stride] for r in range(4)]
    topdown = bytearray(p[:off] + b"".join(reversed(rows)))
    topdown[22:26] = struct.pack("<i", -4)
    assert bmp_gray_grid(bytes(topdown)) == (7, 4, gray)


def test_bmp_decoder_rejects_unsupported():
    from etl_pipeline_telecom_spark.functions.multimodal import bmp_gray_grid

    with pytest.raises(NotImplementedError):
        bmp_gray_grid(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)  # not BMP
    from etl_pipeline_telecom_spark.functions.multimodal import bmp_from_gray

    p = bytearray(bmp_from_gray([0] * 4, 2, 2))
    p[28:30] = (8).to_bytes(2, "little")  # claim 8bpp
    with pytest.raises(NotImplementedError):
        bmp_gray_grid(bytes(p))


def test_dhash_invariant_to_uniform_brightness():
    """dHash depends only on adjacent-intensity ORDER: adding a constant
    to every pixel must not change a single bit."""
    from etl_pipeline_telecom_spark.functions.multimodal import dhash_bits

    g = [(i * 37 + 11) % 200 for i in range(72)]
    brighter = [v + 55 for v in g]
    assert dhash_bits(g, 9, 8) == dhash_bits(brighter, 9, 8)


def test_m6_tweak_bounds():
    """The copy tweak touches only grid rows 4-7 → dHash bits <64 are
    IDENTICAL (32-bit bands 0/1 collide deterministically), and total
    hamming stays ≤ 8 (≤2 comparisons per tweaked cell)."""
    from etl_pipeline_telecom_spark.functions.multimodal import dhash_bits
    from etl_pipeline_telecom_spark.plans.multimodal import _M6_H, _M6_W, _m6_gray

    for base in range(0, 400, 7):
        a = dhash_bits(_m6_gray(base, False), _M6_W, _M6_H)
        b = dhash_bits(_m6_gray(base, True), _M6_W, _M6_H)
        assert len(a) == 128
        assert a[:64] == b[:64]
        assert sum(x != y for x, y in zip(a, b)) <= 8


def test_m6_copies_collide_distinct_do_not(spark, sf_dir):
    """Every re-inserted tweaked copy must pair with its original; no
    pair of DISTINCT originals may survive the Hamming verify."""
    from etl_pipeline_telecom_spark import catalog

    rows = catalog.REGISTRY["m6_perceptual_neardup"].fn(spark, sf_dir).collect()
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    from etl_pipeline_telecom_spark.sources import load_table

    originals = [
        r.doc_id
        for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    expected = {(d, d + 10_000_000) for d in originals if d % 10 == 0}
    assert expected <= pairs, f"missed copies: {expected - pairs}"
    extras = pairs - expected
    assert not any(a < 10_000_000 and b < 10_000_000 for a, b in extras), extras
    assert all(r.hamming <= 10 for r in rows)


def test_m6_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "m6_perceptual_neardup")


# ---------------------------------------------------------------------------
# p8: Z-order layout clustering + staging-cache hardening
# ---------------------------------------------------------------------------


def test_zorder_value_interleave(spark):
    """Morton pins: x fills even bits, y odd bits."""
    from pyspark.sql import functions as F

    from etl_pipeline_telecom_spark.sources.writers import zorder_value

    df = spark.createDataFrame(
        [(0xFF, 0x00), (0x00, 0xFF), (0xFF, 0xFF), (0b1010, 0b0101)],
        "x int, y int",
    )
    got = [
        r.z
        for r in df.select(
            zorder_value(F.col("x"), F.col("y"), 8).alias("z")
        ).collect()
    ]
    # (0b1010, 0b0101): x bits 1,3 → z bits 2,6; y bits 0,2 → z bits 1,5
    assert got == [0x5555, 0xAAAA, 0xFFFF, (1 << 2) + (1 << 6) + (1 << 1) + (1 << 5)]


def test_p8_zorder_prunes_both_dims_linear_blind_to_u(spark, sf_dir):
    """The layout physics the operator exists to demonstrate: the 1-D
    time layout skips ZERO files for a user-only predicate; Z-order
    skips on both dims; n_parts pins one physical file per directory."""
    from etl_pipeline_telecom_spark import catalog

    rows = {
        (r.layout, r.predicate): r
        for r in catalog.REGISTRY["p8_zorder_layout"].fn(spark, sf_dir).collect()
    }
    assert rows[("linear", "u_box")].n_skipped_files == 0
    assert rows[("zorder", "u_box")].n_skipped_files > 0
    assert rows[("zorder", "t_box")].n_skipped_files > 0
    # 1-D spends its whole key budget on t → prunes t-boxes at least as
    # hard as the split-budget z layout
    assert (
        rows[("linear", "t_box")].n_skipped_files
        >= rows[("zorder", "t_box")].n_skipped_files
    )
    for r in rows.values():
        assert r.n_parts == r.n_files  # one part file per directory
        assert r.n_rows_total == rows[("linear", "t_box")].n_rows_total


def test_p8_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "p8_zorder_layout")


def test_stage_key_tracks_content(tmp_path):
    """ADVICE r8: the staging cache key must change when the source is
    rewritten in place — even within mtime-second granularity."""
    import os

    from etl_pipeline_telecom_spark.sources.writers import _stage_key

    src = tmp_path / "events.parquet"
    src.write_bytes(b"aaaa")
    k1 = _stage_key(str(src), "t")
    st = os.stat(src)
    src.write_bytes(b"bbbbbb")  # different size
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))  # freeze mtime
    k2 = _stage_key(str(src), "t")
    assert k1 != k2
    # same size, same coarse mtime second, different mtime_ns
    src.write_bytes(b"cccccc")
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert _stage_key(str(src), "t") != k2
    assert _stage_key(str(src), "other-tag") != _stage_key(str(src), "t")


def test_stale_stage_work_sweep(tmp_path):
    """Orphan *.stage-* work dirs are reaped once old; fresh ones (a
    live concurrent stager) are left alone."""
    import os
    import time

    from etl_pipeline_telecom_spark.sources.writers import _sweep_stale_stage_work

    fam = str(tmp_path / "spark_graft_p8_zorder_")
    stale = f"{fam}abc.stage-1-1"
    fresh = f"{fam}abc.stage-2-2"
    os.makedirs(stale)
    os.makedirs(fresh)
    old = time.time() - 7200
    os.utime(stale, (old, old))
    _sweep_stale_stage_work(fam)
    assert not os.path.isdir(stale)
    assert os.path.isdir(fresh)


@pytest.fixture
def stage_root(tmp_path, monkeypatch):
    """Point ``staged_dir`` at a private root instead of /tmp."""
    from etl_pipeline_telecom_spark.sources import writers

    root = tmp_path / "stage"
    root.mkdir()
    monkeypatch.setattr(writers, "_STAGE_ROOT", str(root))
    return root


def _write_marker(work, text="x"):
    import os

    os.makedirs(work)
    with open(os.path.join(work, "marker"), "w") as fh:
        fh.write(text)


def test_staged_dir_second_call_reuses(stage_root):
    from etl_pipeline_telecom_spark.sources.writers import staged_dir

    calls = []

    def build(work):
        calls.append(work)
        _write_marker(work)

    first = staged_dir("fam", "k1", build)
    assert staged_dir("fam", "k1", build) == first
    assert len(calls) == 1
    assert first == str(stage_root / "spark_graft_fam_k1")


def test_staged_dir_failed_build_leaves_nothing(stage_root):
    from etl_pipeline_telecom_spark.sources.writers import staged_dir

    def build(work):
        _write_marker(work)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        staged_dir("fam", "k1", build)
    assert list(stage_root.iterdir()) == []


def test_staged_dir_race_loser_drops_its_copy(stage_root):
    """A rival publishes while this build runs: the rename loses, the
    loser's work dir goes, and both callers get the winner's layout."""
    from etl_pipeline_telecom_spark.sources.writers import staged_dir

    rival = []

    def slow_build(work):
        _write_marker(work, "loser")
        rival.append(staged_dir("fam", "k1", lambda w: _write_marker(w, "winner")))

    path = staged_dir("fam", "k1", slow_build)
    assert rival == [path]
    assert [p.name for p in stage_root.iterdir()] == ["spark_graft_fam_k1"]
    assert (stage_root / "spark_graft_fam_k1" / "marker").read_text() == "winner"


def test_same_second_rewrite_restages_replays(stage_root, tmp_path, sf_dir):
    """An in-place rewrite of events.parquet with a different size but the
    very same mtime must restage x4's JSONL and st3's replay: both are
    keyed by ``_stage_key`` (size + mtime_ns), not by a float mtime."""
    import os

    import pyarrow.parquet as pq

    from etl_pipeline_telecom_spark.sources.readers import stage_events_jsonl
    from etl_pipeline_telecom_spark.streaming.jobs import replay_dir_with_sentinels

    d = tmp_path / "sf"
    d.mkdir()
    src = d / "events.parquet"
    full = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    pq.write_table(full, src)
    jsonl1 = stage_events_jsonl(str(d))
    replay1 = replay_dir_with_sentinels(str(d))

    st = os.stat(src)
    pq.write_table(full.slice(0, full.num_rows // 2), src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.path.getmtime(src) == st.st_mtime and os.stat(src).st_size != st.st_size

    jsonl2 = stage_events_jsonl(str(d))
    replay2 = replay_dir_with_sentinels(str(d))
    assert jsonl2 != jsonl1 and replay2 != replay1
    with open(jsonl2) as fh:
        assert sum(1 for _ in fh) == full.num_rows // 2
    assert pq.read_table(os.path.join(replay2, "00_events.parquet")).num_rows == full.num_rows // 2


def test_replay_table_slices_keeps_legacy_name(sf_dir):
    import hashlib
    import os

    from etl_pipeline_telecom_spark.streaming.jobs import replay_table_slices

    # the one key outside _stage_key: the benchmark recomputes this name
    # (path:getmtime:n_files) to remove the replay after each run
    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    key = hashlib.md5(f"{src}:{os.path.getmtime(src)}:4".encode()).hexdigest()[:10]
    assert replay_table_slices(sf_dir, "documents") == f"/tmp/spark_graft_replay_documents_{key}"


# ---------------------------------------------------------------------------
# st12: stream-stream LEFT OUTER join
# ---------------------------------------------------------------------------


def test_st12_null_rows_emit_only_after_watermark(spark, sf_dir):
    """The outer join's semantics ARE its eviction timing: matched rows
    stream out in the first (real-data) micro-batch; null-padded rows may
    appear only in LATER batches, after a sentinel advanced the watermark
    — and the join state must actually shrink (numRowsRemoved > 0)."""
    from etl_pipeline_telecom_spark.streaming import read_events_stream
    from etl_pipeline_telecom_spark.streaming.jobs import (
        replay_dir_with_sentinels,
        stream_stream_click_error_left_join,
    )

    replay = replay_dir_with_sentinels(sf_dir, glob="events.parquet")
    stream = read_events_stream(spark, replay, glob="*.parquet", max_files_per_trigger=1)
    joined = stream_stream_click_error_left_join(stream)

    per_batch: dict[int, list] = {}

    def sink(batch_df, batch_id):
        per_batch[batch_id] = batch_df.where("user_id >= 0").collect()

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = joined.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
        q.awaitTermination(300)
        progresses = list(q.recentProgress)
    finally:
        if q.isActive:
            q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", saved)

    assert len(per_batch) >= 3  # real data + two sentinel batches
    nulls = {bid for bid, rows in per_batch.items() for r in rows if r.error_id is None}
    matched = {bid for bid, rows in per_batch.items() for r in rows if r.error_id is not None}
    assert nulls and min(nulls) >= 1, f"null rows leaked into batch {min(nulls, default=-1)}"
    assert 0 in matched  # inner matches stream immediately
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in progresses
        for op in p.get("stateOperators", [])
    )
    assert removed > 0, "watermark never evicted join state"


def test_st12_equals_batch_left_join(spark, sf_dir):
    _roundtrip(spark, sf_dir, "st12_stream_stream_outer_join")


# ---------------------------------------------------------------------------
# v12: IVF × SQ8 composition
# ---------------------------------------------------------------------------


def test_v12_rerank_corrects_code_order_inversion(spark):
    """Feed the rerank stage a shortlist whose code-space order was WRONG:
    the full-precision pass must output the exact-cosine order."""
    from etl_pipeline_telecom_spark.plans.similarity import _rerank_exact

    # query qa = [1000, 0]; neighbor 1 exact-cos 0.9959, neighbor 2 0.9982
    # — pretend code space ranked them (1, 2); exact rerank must flip
    qa, qn = [1000.0, 0.0], 1000.0
    n1, n1n = [996.0, 90.0], (996.0**2 + 90.0**2) ** 0.5
    n2, n2n = [998.0, 60.0], (998.0**2 + 60.0**2) ** 0.5
    coarse = spark.createDataFrame(
        [(0, 1, qa, qn, n1, n1n), (0, 2, qa, qn, n2, n2n)],
        "query_id long, neighbor_id long, qa array<double>, qn double, "
        "qv array<double>, nrm double",
    )
    got = [
        (r.query_id, r.neighbor_id)
        for r in _rerank_exact(coarse, k=1).collect()
    ]
    assert got == [(0, 2)]  # exact winner, not code-order winner


def test_v12_recall_vs_v7_reported(spark, sf_dir):
    """The composed pipeline reranks a code-shortlist of v7's own
    candidate set: per-query its recall can differ from v7's by at most
    what the shortlist dropped; globally both must stay well above the
    random-baseline floor, and v12 must return exactly 3 rows/query."""
    from etl_pipeline_telecom_spark import catalog

    v9 = {r.query_id: r.recall_at_3 for r in catalog.REGISTRY["v9_ann_recall_eval"].fn(spark, sf_dir).collect()}
    v12 = {r.query_id: r.recall_at_3 for r in catalog.REGISTRY["v12_ivf_sq8_recall"].fn(spark, sf_dir).collect()}
    assert set(v12) == set(v9) and len(v12) == 10
    avg9 = sum(v9.values()) / len(v9)
    avg12 = sum(v12.values()) / len(v12)
    # the int8 shortlist may drop at most a bounded slice of v7's recall
    assert avg12 >= avg9 - 0.34, (avg9, avg12)
    print(f"recall@3: v7/v9 {avg9:.3f} vs v12 composed {avg12:.3f}")


def test_v12_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "v12_ivf_sq8_recall")


# ---------------------------------------------------------------------------
# t22: unigram-LM EM step
# ---------------------------------------------------------------------------


def _enumerate_segmentations(word: str, vocab: frozenset, maxp: int) -> list[tuple]:
    """Brute-force reference: every segmentation of ``word`` into vocab
    pieces of length ≤ maxp."""
    if word == "":
        return [()]
    segs = []
    for l in range(1, min(maxp, len(word)) + 1):
        head = word[:l]
        if head in vocab:
            segs.extend((head,) + rest for rest in _enumerate_segmentations(word[l:], vocab, maxp))
    return segs


def test_t22_lattice_counts_vs_enumeration_crafted():
    """'abab' with vocab {a, b, ab, ba} (maxp 2): 5 segmentations —
    a|b|a|b, ab|a|b, a|ba|b, a|b|ab, ab|ab."""
    from etl_pipeline_telecom_spark.plans.text import _t22_lattice_counts

    vocab = frozenset({"a", "b", "ab", "ba"})
    n_paths, nwith = _t22_lattice_counts("abab", vocab, 2)
    assert n_paths == 5
    # occurrences with multiplicity across the 5 paths (a|b|a|b, a|b|ab,
    # a|ba|b, ab|a|b, ab|ab): a: 2+1+1+1 = 5, b: 2+1+1+1 = 5,
    # ab: 1+1+2 = 4, ba: 1
    assert nwith == {"a": 5, "b": 5, "ab": 4, "ba": 1}


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abc", min_size=1, max_size=10),
    st.sets(st.text(alphabet="abc", min_size=2, max_size=4), max_size=8),
)
def test_t22_lattice_dp_equals_enumeration(word, extra_pieces):
    """The fwd·bwd integer DP must equal brute-force path enumeration for
    any word and any vocabulary that includes the single characters."""
    import collections

    from etl_pipeline_telecom_spark.plans.text import _T22_MAXP, _t22_lattice_counts

    vocab = frozenset(set("abc") | extra_pieces)
    n_paths, nwith = _t22_lattice_counts(word, vocab, _T22_MAXP)
    segs = _enumerate_segmentations(word, vocab, _T22_MAXP)
    assert n_paths == len(segs)
    expected = collections.Counter(p for s in segs for p in s)
    assert nwith == dict(expected)


def test_t22_char_coverage_guarantees_paths(spark, sf_dir):
    """Every word must have ≥1 segmentation (single chars force-included),
    and posteriors are well-formed: 0 < n_with ≤ n_paths·occurrences."""
    from etl_pipeline_telecom_spark.plans.text import (
        _t22_vocab,
        _t22_words,
        t22_estep,
    )

    words = _t22_words(spark, sf_dir)
    vocab = frozenset(r.piece for r in _t22_vocab(spark, sf_dir, 40).collect())
    est = t22_estep(words, vocab)
    rows = est.collect()
    assert rows
    n_paths_by_word = {}
    for r in rows:
        assert r.n_with >= 1 and r.n_paths >= 1
        n_paths_by_word.setdefault(r.word, r.n_paths)
    # every distinct word produced a lattice
    assert len(n_paths_by_word) == words.count()
    # single-char pieces of any word decompose it fully: the all-chars
    # path exists, so every char piece has n_with >= 1 via that path
    for r in rows:
        if len(r.piece) == 1:
            assert r.n_with >= 1


def test_t22_probs_renormalize(spark, sf_dir):
    from etl_pipeline_telecom_spark import catalog

    rows = catalog.REGISTRY["t22_unigram_em"].fn(spark, sf_dir).collect()
    for v in (40, 120):
        probs = [r.prob for r in rows if r.vocab_size == v]
        assert probs and abs(sum(probs) - 1.0) < 1e-3
    # the larger vocabulary is a superset of pieces
    p40 = {r.piece for r in rows if r.vocab_size == 40}
    p120 = {r.piece for r in rows if r.vocab_size == 120}
    assert p40 <= p120


def test_t22_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "t22_unigram_em")


# ---------------------------------------------------------------------------
# st11: in-order contract guard (ADVICE r8)
# ---------------------------------------------------------------------------


def test_st11_out_of_order_arrival_fails_loudly(spark, tmp_path):
    """A later micro-batch carrying an earlier (but within-watermark)
    timestamp for a user must RAISE, not silently emit wrong keeps —
    append mode cannot retract a greedy decision."""
    import datetime as dt
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_pipeline_telecom_spark.streaming import read_events_stream
    from etl_pipeline_telecom_spark.streaming.stateful import throttle_with_state

    def _file(name, rows):
        table = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["click"] * len(rows), pa.string()),
            "value": pa.array([0.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        })
        pq.write_table(table, str(tmp_path / name))

    t0 = dt.datetime(2024, 1, 5, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    # batch 1 ends at t0+5min; batch 2's row at t0+2min is INSIDE the
    # 10-minute watermark slack → passes the late filter, out of order
    _file("00_first.parquet", [(1, t0, 7, None, None), (2, t0 + 5 * m, 7, None, None)])
    base = time.time() - 60
    os.utime(tmp_path / "00_first.parquet", (base, base))
    _file("01_second.parquet", [(3, t0 + 2 * m, 7, None, None)])

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        stream = read_events_stream(
            spark, str(tmp_path), glob="*.parquet", max_files_per_trigger=1
        )
        q = (
            throttle_with_state(stream)
            .writeStream.format("memory")
            .queryName("st11_ooo_guard")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            with pytest.raises(Exception, match="in-order contract violated"):
                q.awaitTermination(120)
                if q.exception() is not None:
                    raise q.exception()
        finally:
            if q.isActive:
                q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def _python_substring_spans(texts: dict[int, str], k: int) -> list[tuple]:
    """Pure-python replay of d18: positioned k-shingles, corpus-wide
    occurrence counts, per-doc interval merge of duplicated coverage."""
    import re

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    occ: dict[int, list[tuple[int, str]]] = {}
    counts: dict[str, int] = {}
    for doc_id, txt in texts.items():
        tk = ws.split(txt.strip().lower())
        occ[doc_id] = []
        for i in range(len(tk) - k + 1):
            sh = " ".join(tk[i : i + k])
            occ[doc_id].append((i + 1, sh))
            counts[sh] = counts.get(sh, 0) + 1
    spans = []
    for doc_id, lst in occ.items():
        dup_pos = sorted(p for p, sh in lst if counts[sh] >= 2)
        cur = None  # [span_start_pos, covered_token_end]
        for p in dup_pos:
            if cur is None or p > cur[1] + 1:  # coverage gap → new island
                if cur:
                    spans.append((doc_id, cur[0], cur[1]))
                cur = [p, p + k - 1]
            else:
                cur[1] = max(cur[1], p + k - 1)
        if cur:
            spans.append((doc_id, cur[0], cur[1]))
    return sorted(spans)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcde"), min_size=1, max_size=14).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_d18_property_vs_python_replay(spark, docs):
    """Random tiny-alphabet corpora (heavy natural duplication): the
    Spark span set must equal the python replay exactly."""
    texts = {i + 1: t for i, t in enumerate(docs)}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    assert _spans(df, k=3) == _python_substring_spans(texts, 3)


# ---------------------------------------------------------------------------
# m7: audio features over the library-free WAV codec
# ---------------------------------------------------------------------------


def test_wav_codec_roundtrip_and_chunk_walk():
    from etl_pipeline_telecom_spark.functions.multimodal import (
        wav_from_pcm,
        wav_pcm_samples,
    )

    s = [0, 100, -100, 32767, -32768, 7, -1]
    p = wav_from_pcm(s, 16000)
    assert wav_pcm_samples(p) == (16000, s)
    # real files carry extra chunks (LIST/INFO) between fmt and data —
    # the chunk walk must skip them
    extra = p[:12] + b"LIST" + (4).to_bytes(4, "little") + b"INFO" + p[12:]
    extra = extra[:4] + (len(extra) - 8).to_bytes(4, "little") + extra[8:]
    assert wav_pcm_samples(extra) == (16000, s)


def test_wav_decoder_rejects_unsupported():
    import struct

    from etl_pipeline_telecom_spark.functions.multimodal import (
        wav_from_pcm,
        wav_pcm_samples,
    )

    with pytest.raises(NotImplementedError):
        wav_pcm_samples(b"RIFX" + b"\x00" * 40)
    p = bytearray(wav_from_pcm([1, 2, 3], 8000))
    fmt_off = p.index(b"fmt ") + 8
    p[fmt_off + 2 : fmt_off + 4] = struct.pack("<H", 2)  # claim stereo
    with pytest.raises(NotImplementedError):
        wav_pcm_samples(bytes(p))


def test_m7_crafted_feature_pins(spark):
    """Hand-computed features for a known PCM clip, run through the full
    synth→decode→feature plan fragment."""
    from pyspark.sql import functions as F

    s = [0, 100, -100, 200, 0, -50]
    df = spark.createDataFrame([(1, s)], "doc_id long, s array<int>")
    sum_sq = sum(x * x for x in s)
    crossings = sum(1 for a, b in zip(s, s[1:]) if a * b < 0)  # 100*-100, -100*200
    got = df.select(
        F.array_max(F.transform(F.col("s"), F.abs)).alias("peak"),
        F.expr(
            "size(filter(zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1), "
            "(a, b) -> a * b < 0), x -> x))"
        ).alias("zc"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.col("s"), F.lit(0).cast("bigint"), lambda acc, x: acc + x.cast("bigint") * x
                ).cast("double")
                / F.size("s")
            ),
            6,
        ).alias("rms"),
    ).collect()[0]
    assert got.peak == 200 and got.zc == crossings == 2
    assert got.rms == round((sum_sq / len(s)) ** 0.5, 6)


def test_m7_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "m7_audio_features")


# ---------------------------------------------------------------------------
# t23: unigram Viterbi encode
# ---------------------------------------------------------------------------


def test_t23_min_pieces_and_lexicographic_tiebreak():
    from etl_pipeline_telecom_spark.plans.text import _t23_encode

    vocab = frozenset({"a", "b", "ab", "aa"})
    assert _t23_encode("abab", vocab, 4) == (2, ("ab", "ab"))
    assert _t23_encode("aa", vocab, 4) == (1, ("aa",))
    # 'aaa' → 2 pieces either as a|aa or aa|a; lexicographic picks a|aa
    assert _t23_encode("aaa", vocab, 4) == (2, ("a", "aa"))
    # no multi-char piece covers 'ba' → falls back to chars
    assert _t23_encode("ba", vocab, 4) == (2, ("b", "a"))


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abc", min_size=1, max_size=9),
    st.sets(st.text(alphabet="abc", min_size=2, max_size=4), max_size=8),
)
def test_t23_dp_equals_enumeration(word, extra_pieces):
    """The Viterbi DP must equal brute-force enumeration re-ranked by
    (n_pieces, sequence) for any word and char-covering vocabulary."""
    from etl_pipeline_telecom_spark.plans.text import _T22_MAXP, _t23_encode

    vocab = frozenset(set("abc") | extra_pieces)
    segs = _enumerate_segmentations(word, vocab, _T22_MAXP)
    expected = min((len(s), s) for s in segs)
    assert _t23_encode(word, vocab, _T22_MAXP) == expected


def test_t23_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "t23_unigram_encode")


# ---------------------------------------------------------------------------
# d19: canonical-URL dedup
# ---------------------------------------------------------------------------


def _canon_one(spark, raw: str) -> str:
    from pyspark.sql import functions as F

    from etl_pipeline_telecom_spark.plans.dedup import canonical_url

    df = spark.createDataFrame([(raw,)], "raw string")
    return df.select(canonical_url(F.col("raw")).alias("c")).first()["c"]


@pytest.mark.parametrize(
    ("raw", "expected"),
    [
        # scheme + host case-folding
        ("HTTP://Example.COM/a", "http://example.com/a"),
        # leading-www strip (host only — path untouched)
        ("https://WWW.Example.com/www/x", "https://example.com/www/x"),
        # default ports strip; non-default ports survive
        ("http://ex.com:80/a", "http://ex.com/a"),
        ("https://ex.com:443/a", "https://ex.com/a"),
        ("http://ex.com:8080/a", "http://ex.com:8080/a"),
        # fragment stripped
        ("http://ex.com/a#sec-2", "http://ex.com/a"),
        # utm_* params dropped entirely (query gone when none survive)
        ("http://ex.com/a?utm_source=x&utm_medium=y", "http://ex.com/a"),
        # surviving params sorted — order variants collapse
        ("http://ex.com/a?b=2&a=1", "http://ex.com/a?a=1&b=2"),
        ("http://ex.com/a?a=1&b=2", "http://ex.com/a?a=1&b=2"),
        # mixed: tracking dropped, the rest sorted
        ("http://ex.com/a?utm_s=1&z=9&a=1", "http://ex.com/a?a=1&z=9"),
        # one trailing slash trimmed
        ("http://ex.com/docs/", "http://ex.com/docs"),
        # distinct REAL params must NOT collapse (no over-canonicalization)
        ("http://ex.com/a?page=2", "http://ex.com/a?page=2"),
        ("http://ex.com/a?page=3", "http://ex.com/a?page=3"),
    ],
)
def test_d19_canonicalizer_rules(spark, raw, expected):
    assert _canon_one(spark, raw) == expected


def test_d19_variants_collapse_on_fixture(spark, sf_dir):
    """On the synthesized fixture every page's seven variant classes must
    collapse: groups exist with >1 distinct raw URL, group membership is
    exactly doc_id div 10 (the page decade), and no docs are lost."""
    import duckdb

    spec = catalog.REGISTRY["d19_url_dedup"]
    rows = spec.fn(spark, sf_dir).collect()
    con = duckdb.connect()
    n_docs, n_pages = con.execute(
        f"SELECT COUNT(*), COUNT(DISTINCT doc_id // 10) "
        f"FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    con.close()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert len(rows) == n_pages
    assert max(r["n_distinct_raw"] for r in rows) > 1  # collapse happened
    # canonical representative = min doc_id of the group
    assert all(r["canonical_doc_id"] >= 0 for r in rows)


def test_d19_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "d19_url_dedup")


# ---------------------------------------------------------------------------
# d20: domain/path blocklist filter
# ---------------------------------------------------------------------------


def test_d20_rules_vs_python_replay(spark, sf_dir):
    """Exact per-domain counts from an independent pure-python replay of
    the synthesis + canonicalization + blocklist rules."""
    import collections

    import duckdb

    from etl_pipeline_telecom_spark.plans.dedup import (
        _D20_BLOCKED_HOSTS,
        _D20_BLOCKED_PATH_PREFIX,
    )

    con = duckdb.connect()
    doc_ids = [
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    ]
    con.close()
    exp = collections.defaultdict(
        lambda: {"n_docs": 0, "pages": set(), "host": 0, "path": 0, "kept": 0}
    )
    for d in doc_ids:
        domain = f"s{(d // 10) % 20}.example.com"
        path = f"/docs/{d // 10}"  # trailing slash always trimmed
        hb = domain in _D20_BLOCKED_HOSTS
        pb = path.startswith(_D20_BLOCKED_PATH_PREFIX)
        e = exp[domain]
        e["n_docs"] += 1
        e["pages"].add(path)
        e["host"] += hb
        e["path"] += pb
        e["kept"] += not hb and not pb
    rows = {r["domain"]: r for r in catalog.REGISTRY["d20_domain_blocklist"].fn(spark, sf_dir).collect()}
    assert set(rows) == set(exp)
    for dom, e in exp.items():
        r = rows[dom]
        got = (r["n_docs"], r["n_pages"], r["n_host_blocked"], r["n_path_blocked"], r["n_kept"])
        want = (e["n_docs"], len(e["pages"]), e["host"], e["path"], e["kept"])
        assert got == want, f"{dom}: {got} != {want}"
    # the fixture must actually exercise every rule AND their overlap
    assert any(e["host"] and e["path"] for e in exp.values()), "no host+path overlap domain"
    assert any(e["host"] and not e["path"] for e in exp.values())
    assert any(e["path"] and not e["host"] for e in exp.values())
    assert any(not e["host"] and not e["path"] for e in exp.values())


def test_d20_prefix_matches_are_prefix_not_exact(spark, sf_dir):
    """/docs/3 must catch /docs/30-39 too (startswith, not equality)."""
    rows = {r["domain"]: r for r in catalog.REGISTRY["d20_domain_blocklist"].fn(spark, sf_dir).collect()}
    # decade 30 belongs to s10 — blocked by BOTH rules; its path count
    # comes only from the /docs/30-39 prefix reach, never equality
    assert rows["s10.example.com"]["n_path_blocked"] > 0
    assert rows["s10.example.com"]["n_host_blocked"] == rows["s10.example.com"]["n_docs"]


def test_d20_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "d20_domain_blocklist")


# ---------------------------------------------------------------------------
# a25: KMV / theta-sketch set operations
# ---------------------------------------------------------------------------


def _a25_python_replay(pairs, k=64, scale=1 << 44):
    """Independent replay: pairs = [(custkey, early_bool)]."""
    import hashlib

    h = lambda ck: int(hashlib.md5(str(ck).encode()).hexdigest()[:11], 16)
    a = {h(ck) for ck, e in pairs if e}
    b = {h(ck) for ck, e in pairs if not e}
    u = a | b

    def est_card(s):
        if len(s) < k:
            return len(s)
        hk = sorted(s)[k - 1]
        return (k - 1) * scale // hk

    out = {
        "distinct_a": (est_card(a), len(a)),
        "distinct_b": (est_card(b), len(b)),
        "union": (est_card(u), len(u)),
    }
    if len(u) < k:
        out["intersection"] = (len(a & b), len(a & b))
        out["a_minus_b"] = (len(a - b), len(a - b))
    else:
        hk = sorted(u)[k - 1]
        sample = {x for x in sorted(u)[: k - 1]}
        c_int = sum(1 for x in sample if x in a and x in b)
        c_diff = sum(1 for x in sample if x in a and x not in b)
        out["intersection"] = (c_int * scale // hk, len(a & b))
        out["a_minus_b"] = (c_diff * scale // hk, len(a - b))
    return out


def test_a25_equals_python_replay(spark, sf_dir):
    """The whole estimator replayed independently in python (hashlib md5,
    pure-int arithmetic) must agree measure for measure."""
    import duckdb

    con = duckdb.connect()
    pairs = con.execute(
        f"SELECT DISTINCT o_custkey, year(o_orderdate) <= 1997 "
        f"FROM '{sf_dir}/orders.parquet'"
    ).fetchall()
    con.close()
    want = _a25_python_replay(pairs)
    rows = {
        r["measure"]: (r["est"], r["exact"])
        for r in catalog.REGISTRY["a25_kmv_theta_setops"].fn(spark, sf_dir).collect()
    }
    assert rows == want
    # the estimator (not the <k fallback) must be what's exercised here
    assert rows["union"][0] != rows["union"][1] or len(pairs) < 64


def test_a25_small_set_falls_back_to_exact(spark, tmp_path):
    """With <k distinct keys the sketch IS the set: every estimate must
    equal its exact count (the CASE fallback path)."""
    import pandas as pd

    cks = list(range(1, 11))
    pdf = pd.DataFrame(
        {
            "o_orderkey": range(100, 100 + 20),
            "o_custkey": cks + cks,
            "o_orderdate": (
                [pd.Timestamp("1996-05-01")] * 10 + [pd.Timestamp("1999-05-01")] * 7
                + [pd.Timestamp("1996-07-01")] * 3
            ),
        }
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(pdf), tmp_path / "orders.parquet",
        coerce_timestamps="us",
    )
    rows = catalog.REGISTRY["a25_kmv_theta_setops"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["est"] == r["exact"], r
    got = {r["measure"]: r["exact"] for r in rows}
    # A = all 10 (early rows), B = custkeys 1..7 (late rows)
    assert got == {
        "distinct_a": 10,
        "distinct_b": 7,
        "union": 10,
        "intersection": 7,
        "a_minus_b": 3,
    }


def test_a25_error_within_theory_bound(spark, sf_dir):
    """KMV RSE is ~1/sqrt(k-2) ≈ 12.7%; assert every estimate is within
    4 sigma of exact (a regression in the hash width or the DIV
    arithmetic lands far outside this)."""
    rows = catalog.REGISTRY["a25_kmv_theta_setops"].fn(spark, sf_dir).collect()
    for r in rows:
        if r["exact"] >= 64:
            assert abs(r["est"] - r["exact"]) <= 0.51 * r["exact"], r


def test_a25_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "a25_kmv_theta_setops")


# ---------------------------------------------------------------------------
# v13: product quantization + ADC refine
# ---------------------------------------------------------------------------


def _round_half_away(x: float) -> int:
    import math

    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _v13_python_replay(sf_dir: str):
    """Independent full-pipeline replay: codebooks, codes, LUT, ADC,
    shortlist, exact rerank — pure python ints until the final cosine."""
    import duckdb

    M, SD, SHORT, K = 4, 16, 8, 3
    con = duckdb.connect()
    vecs = {
        r[0]: (r[1], [_round_half_away(x * 1000) for x in r[2]])
        for r in con.execute(
            f"SELECT vec_id, label, embedding FROM '{sf_dir}/embeddings.parquet'"
        ).fetchall()
    }
    con.close()
    subs = {
        (v, m): qv[m * SD : (m + 1) * SD] for v, (_, qv) in vecs.items() for m in range(M)
    }
    # codebooks: per (m, label) rounded mean
    import collections

    acc = collections.defaultdict(lambda: [0] * SD)
    cnt = collections.Counter()
    for (v, m), sv in subs.items():
        lab = vecs[v][0]
        cnt[(m, lab)] += 1
        for i, x in enumerate(sv):
            acc[(m, lab)][i] += x
    cb = {
        k: [_round_half_away(s / cnt[k]) for s in a] for k, a in acc.items()
    }
    l2 = lambda a, b: sum((x - y) ** 2 for x, y in zip(a, b))
    codes = {
        (v, m): min((l2(sv, cb[(m, c)]), c) for c in {lab for _, lab in cb if _ == m})[1]
        for (v, m), sv in subs.items()
    }
    labels = sorted({lab for _, lab in cb})
    out = []
    for q in sorted(v for v in vecs if v < 10):
        lut = {(m, c): l2(subs[(q, m)], cb[(m, c)]) for m in range(M) for c in labels}
        adc = {
            n: sum(lut[(m, codes[(n, m)])] for m in range(M))
            for n in vecs
            if n != q
        }
        short = sorted(adc, key=lambda n: (adc[n], n))[:SHORT]
        dot = lambda a, b: sum(x * y for x, y in zip(a, b))
        qa = vecs[q][1]
        cosd = {
            n: dot(qa, vecs[n][1]) / (dot(qa, qa) ** 0.5 * dot(vecs[n][1], vecs[n][1]) ** 0.5)
            for n in short
        }
        for rn, n in enumerate(sorted(short, key=lambda n: (-cosd[n], n))[:K], 1):
            out.append((q, n, rn))
    return sorted(out)


def test_v13_equals_python_replay(spark, sf_dir):
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in catalog.REGISTRY["v13_pq_adc_refine"].fn(spark, sf_dir).collect()
    )
    assert got == _v13_python_replay(sf_dir)


def test_v13_subspace_slicing(spark):
    """4 contiguous 16-dim slices, order-preserving, covering all 64."""
    from etl_pipeline_telecom_spark.plans.similarity import _v13_subspaces

    qv = list(range(64))
    df = spark.createDataFrame(
        [(1, "a", qv)], "vec_id long, label string, qv array<bigint>"
    )
    rows = {r["m"]: r["sv"] for r in _v13_subspaces(df).collect()}
    assert rows == {m: qv[m * 16 : (m + 1) * 16] for m in range(4)}


def test_v13_codes_are_bounded_state(spark, sf_dir):
    """PQ's whole point: each vector reduces to exactly M code ids drawn
    from the label codebook — 4 small ints instead of 64 floats."""
    rows = catalog.REGISTRY["v13_pq_adc_refine"].fn(spark, sf_dir).collect()
    # output shape: top-3 per query, 10 queries
    assert len(rows) == 30
    assert {r["rn"] for r in rows} == {1, 2, 3}
    assert len({r["query_id"] for r in rows}) == 10


def test_v13_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "v13_pq_adc_refine")


# ---------------------------------------------------------------------------
# m8: video shot-boundary detection
# ---------------------------------------------------------------------------


def test_m8_boundaries_are_exactly_scene_cuts(spark, sf_dir):
    """Clips are 8/12/16 frames in 4-frame scenes → boundaries must be
    exactly after frames 3/7(/11): count nf/4 - 1 per doc, never inside
    a scene (the brightness jitter must stay under threshold)."""
    import duckdb

    con = duckdb.connect()
    docs = [r[0] for r in con.execute(
        f"SELECT doc_id FROM '{sf_dir}/documents.parquet'").fetchall()]
    con.close()
    rows = catalog.REGISTRY["m8_shot_boundaries"].fn(spark, sf_dir).collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append(r["after_frame"])
    for d in docs:
        nf = 8 + (d % 3) * 4
        assert sorted(got.get(d, [])) == [3 + 4 * s for s in range(nf // 4 - 1)], d
    assert all(f % 4 == 3 for fs in got.values() for f in fs)


def test_m8_sad_values_vs_python_replay(spark, sf_dir):
    """Exact sum-abs-diff values for one clip, replayed through the real
    BMP encode→decode in python."""
    from etl_pipeline_telecom_spark.functions.multimodal import (
        bmp_from_gray,
        bmp_gray_grid,
    )
    from etl_pipeline_telecom_spark.plans.multimodal import (
        _M6_H,
        _M6_W,
        _M8_THRESH,
        _m8_gray,
    )

    doc = 7  # nf = 8 + 1*4 = 12
    grids = []
    for f in range(12):
        _, _, g = bmp_gray_grid(bmp_from_gray(_m8_gray(doc, f), _M6_W, _M6_H))
        grids.append(g)
    want = {
        f: sum(abs(a - b) for a, b in zip(grids[f], grids[f + 1]))
        for f in range(11)
    }
    rows = {
        r["after_frame"]: r["sad"]
        for r in catalog.REGISTRY["m8_shot_boundaries"].fn(spark, sf_dir).collect()
        if r["doc_id"] == doc
    }
    assert rows == {f: s for f, s in want.items() if s > _M8_THRESH}
    # and the margin is real on both sides of the threshold
    in_scene = [s for f, s in want.items() if f % 4 != 3]
    cuts = [s for f, s in want.items() if f % 4 == 3]
    assert max(in_scene) <= _M8_THRESH // 8
    assert min(cuts) > _M8_THRESH * 5


def test_m8_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "m8_shot_boundaries")


# ---------------------------------------------------------------------------
# t24: bigram-LM surprisal filter
# ---------------------------------------------------------------------------


def _t24_python_replay(texts: dict[int, str]):
    import collections

    big = {d: list(zip(t.split(), t.split()[1:])) for d, t in
           ((d, " ".join(x.lower().split())) for d, x in texts.items())}
    bc = collections.Counter(b for bs in big.values() for b in bs)
    ctx = collections.Counter()
    for (w1, _), c in bc.items():
        ctx[w1] += c
    blen = lambda n: len(bin(n)) - 2
    perdoc = {
        d: (len(bs), sum(blen(ctx[w1]) - blen(bc[(w1, w2)]) for w1, w2 in bs))
        for d, bs in big.items()
        if bs
    }
    tot_b = sum(s for _, s in perdoc.values())
    tot_n = sum(n for n, _ in perdoc.values())
    cm = tot_b * 1_000_000 // tot_n
    return {
        d: (n, s, s * 1_000_000 // n, s * 1_000_000 // n > cm)
        for d, (n, s) in perdoc.items()
    }


def _t24_write_docs(tmp_path, texts):
    import pandas as pd

    pd.DataFrame(
        {"doc_id": list(texts), "text": [texts[d] for d in texts]}
    ).to_parquet(tmp_path / "documents.parquet")


def test_t24_crafted_corpus_exact(spark, tmp_path):
    """Hand-computed: bc[(a,b)]=3 ctx[a]=3 → 0 bits; ctx[b]=3 over three
    singleton bigrams → 1 bit each; doc 3 is its own perfect LM → 0."""
    texts = {1: "a b a b c", 2: "a b d", 3: "x y"}
    _t24_write_docs(tmp_path, texts)
    rows = {
        r["doc_id"]: (r["n_bigrams"], r["surprisal_bits"],
                      r["micro_bits_per_bigram"], r["flagged"])
        for r in catalog.REGISTRY["t24_bigram_surprisal"].fn(spark, str(tmp_path)).collect()
    }
    assert rows == {
        1: (4, 2, 500000, True),   # corpus mean = 3e6 // 7 = 428571
        2: (2, 1, 500000, True),
        3: (1, 0, 0, False),
    }
    assert rows == _t24_python_replay(texts)


def test_t24_single_token_docs_have_no_row(spark, tmp_path):
    texts = {1: "solo", 2: "a b"}
    _t24_write_docs(tmp_path, texts)
    rows = catalog.REGISTRY["t24_bigram_surprisal"].fn(spark, str(tmp_path)).collect()
    assert [r["doc_id"] for r in rows] == [2]


def test_t24_property_vs_python_replay(spark, tmp_path):
    """Random tiny-alphabet corpora: Spark == pure-python replay."""
    import random

    rnd = random.Random(424242)
    texts = {
        d: " ".join(rnd.choice("abcde") for _ in range(rnd.randint(2, 12)))
        for d in range(30)
    }
    _t24_write_docs(tmp_path, texts)
    rows = {
        r["doc_id"]: (r["n_bigrams"], r["surprisal_bits"],
                      r["micro_bits_per_bigram"], r["flagged"])
        for r in catalog.REGISTRY["t24_bigram_surprisal"].fn(spark, str(tmp_path)).collect()
    }
    assert rows == _t24_python_replay(texts)


def test_t24_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "t24_bigram_surprisal")


# ---------------------------------------------------------------------------
# p9: per-file bloom index
# ---------------------------------------------------------------------------


def _p9_python_replay(sf_dir: str):
    import collections
    import hashlib

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) "
        f"FROM '{sf_dir}/events.parquet' "
        f"WHERE ts IS NOT NULL AND user_id IS NOT NULL"
    ).fetchall()
    con.close()
    ts = [t for _, t in rows]
    mn, mx = min(ts), max(ts)
    fkeys = collections.defaultdict(set)
    for e, t in rows:
        fkeys[((t - mn) * 256 // (mx - mn + 1)) >> 4].add(e)
    m = {f: 1 << (len(bin(16 * len(ks) - 1)) - 2) for f, ks in fkeys.items()}
    h = lambda e, j, mm: int(hashlib.md5(f"{e}:{j}".encode()).hexdigest()[:8], 16) % mm
    bloom = {
        f: {h(e, j, m[f]) for e in ks for j in range(3)} for f, ks in fkeys.items()
    }
    ids = sorted({e for e, _ in rows})
    probes = [(e, 1) for e in ids[:4]] + [(ids[-1] + k, 0) for k in range(1, 5)]
    out = {}
    for p, present in probes:
        hits = sum(
            1
            for f in fkeys
            if {h(p, j, m[f]) for j in range(3)} <= bloom[f]
        )
        actual = sum(1 for f, ks in fkeys.items() if p in ks)
        out[p] = (present, len(fkeys), hits, actual, hits - actual)
    return out


def test_p9_equals_python_replay(spark, sf_dir):
    got = {
        r["probe_id"]: (r["present"], r["n_files"], r["n_bloom_hits"],
                        r["n_actual"], r["n_false_pos"])
        for r in catalog.REGISTRY["p9_bloom_file_index"].fn(spark, sf_dir).collect()
    }
    assert got == _p9_python_replay(sf_dir)


def test_p9_no_false_negatives_and_real_skipping(spark, sf_dir):
    """Blooms never miss a true file (present probes: hits ⊇ actual ≥ 1),
    and the point lookup actually SKIPS most files — the case p8 proved
    min/max pruning cannot serve on a time-sharded layout."""
    rows = catalog.REGISTRY["p9_bloom_file_index"].fn(spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert r["n_false_pos"] >= 0  # hits can only exceed truth
        if r["present"]:
            assert r["n_actual"] >= 1
            assert r["n_bloom_hits"] >= r["n_actual"]
            # skip at least 14 of 16 files on a point lookup
            assert r["n_bloom_hits"] <= r["n_files"] - 14
        else:
            assert r["n_actual"] == 0


def test_p9_sizing_is_next_pow2_of_16x_keys():
    """m = 2^len(bin(16k-1)) is the smallest power of two >= 16k."""
    for k in (1, 3, 63, 64, 65, 625, 1000):
        m = 1 << (len(bin(16 * k - 1)) - 2)
        assert m >= 16 * k and m // 2 < 16 * k


def test_p9_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "p9_bloom_file_index")


# ---------------------------------------------------------------------------
# st13: exactly-once sink under crash-restart
# ---------------------------------------------------------------------------


def _st13_base(sf_dir: str) -> str:
    import hashlib

    from etl_pipeline_telecom_spark.streaming.jobs import replay_dir_with_sentinels

    replay = replay_dir_with_sentinels(sf_dir)
    return f"/tmp/spark_graft_st13_{hashlib.md5(replay.encode()).hexdigest()[:12]}"


def test_st13_crash_fired_and_batch_replayed(spark, sf_dir):
    """The injected crash must actually happen: the crash batch appears
    exactly TWICE in attempts.log (written, crashed, replayed) and every
    other batch exactly once."""
    import collections
    import os

    catalog.REGISTRY["st13_exactly_once_sink"].fn(spark, sf_dir).count()
    base = _st13_base(sf_dir)
    assert os.path.exists(os.path.join(base, "_crashed_once"))
    attempts = collections.Counter(
        int(x) for x in open(os.path.join(base, "attempts.log")).read().split()
    )
    assert attempts[1] == 2, attempts  # crash batch: write + replay
    assert all(c == 1 for e, c in attempts.items() if e != 1), attempts


def test_st13_sunk_rows_are_duplicate_free(spark, sf_dir):
    """The overwrite-by-epoch sink must absorb the replay: the sunk
    event_ids are globally unique and their count equals the source
    (a naive append sink would hold batch 1 twice)."""
    import os

    from pyspark.sql import functions as F

    catalog.REGISTRY["st13_exactly_once_sink"].fn(spark, sf_dir).count()
    sunk = spark.read.parquet(os.path.join(_st13_base(sf_dir), "data"))
    real = sunk.where(F.col("user_id") >= 0)
    n, nd = real.agg(
        F.count(F.lit(1)), F.countDistinct("event_id")
    ).first()
    assert n == nd
    import duckdb

    con = duckdb.connect()
    truth = con.execute(
        f"SELECT COUNT(*) FROM '{sf_dir}/events.parquet' WHERE user_id >= 0"
    ).fetchone()[0]
    con.close()
    assert n == truth


def test_st13_oracle_roundtrip(spark, sf_dir):
    _roundtrip(spark, sf_dir, "st13_exactly_once_sink")
