"""Interval-level block-max pruning for the dense kernel (round 6).

BENCH_BOOL_AB.json measured the per-block WAND kernel losing to the
dense sharded kernel at every benchable batch size, core count, and
even the decode-heaviest high-df regime on this corpus: the bounds
could pay, the per-block Python call overhead didn't. The answer
pinned here: ``strategy='blockmax'`` in the clean shape (no
tombstones / where / boolean / field weights) now runs the bounds
analysis VECTORIZED over doc-range intervals (``_interval_prune``)
and feeds only surviving blocks to the unchanged densified fold —
pruned search that degrades to dense-kernel speed when the bounds
exclude nothing, and skips decode when they do.

Contract pinned by these tests:
- bit-exact identity with 'sharded' and with the oracle (pinned to the
  index's frozen stats) on both the direct and exchange routes, with
  subsplit, and under k1/b overrides (derived bounds);
- on a skewed corpus the prune provably drops blocks (asserted on the
  real index's block metadata, not a synthetic frame);
- on a bounds-hostile frame the analysis reports "nothing excludable"
  (None) so the caller pays zero per-query masking;
- exclusion, field-weighted and search_after shapes refuse
  prune_bounds (a partial decode cannot prove a MUST_NOT term absent,
  field bounds would need the positional split, a cursor hides docs
  theta counted) — index_search runs them through the same kernel
  unpruned.

Reference analog: pruning serves every search unconditionally in the
reference harness (benchmarking/search/search_indices.py:16-20); the
interval formulation is the Spark-batch-friendly equivalent of Ding &
Suel's block-max WAND (SIGIR'11).
"""

import glob

import numpy as np
import pandas as pd
import pytest

from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.index_query import (
    _interval_prune,
    _sharded_topk_fn,
    index_search,
)
from sparkbm25.jobs import Index, build_index
from sparkbm25.oracle import OracleIndex


def _mk_pdf(rows):
    return pd.DataFrame(
        rows,
        columns=[
            "term", "first_doc", "last_doc", "n_docs",
            "max_tf_norm", "min_tf_norm",
        ],
    )


def _prune(pdf, q_terms, k=3, mode="stored"):
    return _interval_prune(
        pdf, q_terms, k1=1.2, b=0.75, avgdl=10.0, k=k,
        mode=mode, sub_shift=None, vs=0,
    )


def test_unit_skewed_drops_low_blocks():
    # one term, three blocks; the last block's 8 postings all bound
    # >= 5.0 while the first two blocks bound <= 0.5 -> theta >= 5.0
    # (k=3 <= 8) kills intervals covering only the first two blocks.
    pdf = _mk_pdf([
        ("t", 0, 99, 8, 0.5, 0.1),
        ("t", 100, 199, 8, 0.5, 0.1),
        ("t", 200, 299, 8, 6.0, 5.0),
    ])
    out = _prune(pdf, {1: [("t", 1.0)]}, k=3)
    assert out is not None
    keep_rows, bounds, live_of = out
    assert keep_rows.tolist() == [False, False, True]
    live = live_of[1]
    # the interval holding docs 200..299 is live, earlier ones dead
    ival = np.searchsorted(bounds, 250, side="right") - 1
    assert live[ival]
    assert not live[np.searchsorted(bounds, 50, side="right") - 1]


def test_unit_hostile_returns_none():
    # uniform bounds: theta equals every block's upper bound, nothing
    # excludable -> None (the caller runs the plain dense path)
    pdf = _mk_pdf([
        ("t", 0, 99, 8, 1.0, 1.0),
        ("t", 100, 199, 8, 1.0, 1.0),
    ])
    assert _prune(pdf, {1: [("t", 1.0)]}, k=3) is None


def test_unit_multi_query_union_keeps_shared_blocks():
    # q1 prunes to the high block of t1; q2 matches only t2 (uniform,
    # unprunable) -> t2's block overlapping q1's dead interval must
    # still be decoded (kept) for q2, and q1's mask must not leak to q2
    pdf = _mk_pdf([
        ("t1", 0, 99, 8, 0.5, 0.1),
        ("t1", 200, 299, 8, 6.0, 5.0),
        ("t2", 0, 299, 8, 1.0, 1.0),
    ])
    out = _prune(pdf, {1: [("t1", 1.0)], 2: [("t2", 1.0)]}, k=3)
    assert out is not None
    keep_rows, bounds, live_of = out
    assert keep_rows.tolist() == [False, True, True]
    assert 1 in live_of and 2 not in live_of  # q2 has no dead interval


def test_unit_theta_zero_when_k_unreachable():
    # fewer than k postings -> no theta bootstrap -> nothing excludable
    pdf = _mk_pdf([("t", 0, 99, 2, 9.0, 8.0)])
    assert _prune(pdf, {1: [("t", 1.0)]}, k=5) is None


def test_kernel_refuses_prune_with_masking_shapes():
    # and_need, tombstones and the qualifying side COMPOSE with
    # prune_bounds (coverage-aware / mask-exact seed theta); exclusion,
    # field weights and cursors still refuse — a partial decode cannot
    # prove a doc does NOT contain a MUST_NOT term
    with pytest.raises(ValueError, match="prune_bounds"):
        _sharded_topk_fn(
            {1: [("t", 1.0)]}, 1.2, 0.75, 10.0, 5,
            exclude={1: ["x"]}, prune_bounds="stored",
        )
    with pytest.raises(ValueError, match="prune_bounds"):
        _sharded_topk_fn(
            {1: [("t", 1.0)]}, 1.2, 0.75, 10.0, 5,
            after={1: (1.0, 5)}, prune_bounds="stored",
        )


def test_unit_conjunctive_coverage_kills_uncovered_intervals():
    # q needs BOTH t1 and t2; t2 only covers docs 200..299, so every
    # interval outside that range is coverage-dead even though theta=0
    pdf = _mk_pdf([
        ("t1", 0, 99, 8, 1.0, 1.0),
        ("t1", 200, 299, 8, 1.0, 1.0),
        ("t2", 200, 299, 8, 1.0, 1.0),
    ])
    out = _interval_prune(
        pdf, {1: [("t1", 1.0), ("t2", 1.0)]}, k1=1.2, b=0.75,
        avgdl=10.0, k=3, mode="stored", sub_shift=None, vs=0,
        and_need={1: 2},
    )
    assert out is not None
    keep_rows, bounds, live_of = out
    assert keep_rows.tolist() == [False, True, True]
    live = live_of[1]
    assert live[np.searchsorted(bounds, 250, side="right") - 1]
    assert not live[np.searchsorted(bounds, 50, side="right") - 1]


def test_unit_conjunctive_unreachable_need_all_dead():
    # need exceeds the group-present distinct terms -> everything dead,
    # the term's blocks drop entirely
    pdf = _mk_pdf([("t1", 0, 99, 8, 1.0, 1.0)])
    out = _interval_prune(
        pdf, {1: [("t1", 1.0), ("t2", 1.0)]}, k1=1.2, b=0.75,
        avgdl=10.0, k=3, mode="stored", sub_shift=None, vs=0,
        and_need={1: 2},
    )
    assert out is not None
    keep_rows, _bounds, live_of = out
    assert not keep_rows.any()
    assert not live_of[1].any()


def test_blockmax_masked_bit_exact_skewed(skewed, spark, tmp_path):
    """Tombstones and where= filters now COMPOSE with the interval
    pruner (r06-late): the seed decode applies the kernel's exact masks
    so theta never counts a dead or non-qualifying doc. Pinned by
    bit-identity to 'sharded' under a delete set that removes the
    TOP-SCORING hot docs — the shape where an unmasked seed theta
    would overstate and silently drop true results."""
    import shutil

    from sparkbm25.jobs import delete_docs

    d2 = str(tmp_path / "tomb_copy")
    shutil.copytree(skewed.index_dir, d2)
    # delete most of the hot stripe: survivors' scores sit far below
    # the dead docs' — exactly the unsound-theta trap
    delete_docs(spark, d2, list(range(1500, 1590)))
    tix = Index(spark, d2)
    for kw in ({}, {"direct": False}, {"mode": "and"}, {"min_match": 2}):
        sh = _rows(index_search(tix, QS, k=10, strategy="sharded", **kw))
        bm = _rows(index_search(tix, QS, k=10, strategy="blockmax", **kw))
        assert bm == sh and sh, kw


def test_blockmax_filtered_bit_exact(spark, tmp_path_factory):
    """where= on blockmax rides the pruned dense kernel with the
    qualifying side masked into the seed theta — bit-identical to
    sharded even when every hot doc is filtered OUT (the qual analog
    of the tombstone trap above)."""
    pdf = _skewed_pdf()
    pdf["role"] = ["user" if i < 1500 else "tool"
                   for i in range(len(pdf))]
    corpus = add_doc_id(
        spark.createDataFrame(pdf), "conv_seq"
    ).select("doc_id", "text", "role")
    d = str(tmp_path_factory.mktemp("prune_qual_ix"))
    build_index(
        corpus, d,
        BuildParams(num_shards=2, salt_factor=2, num_term_buckets=2,
                    lineage_groups=1, block_size=64,
                    attr_cols=("role",), doc_id_scheme="conv_seq"),
        "pq",
    )
    ix = Index(spark, d)
    # the filter excludes the whole hot stripe (role='tool')
    for kw in (
        {"where": {"role": "user"}},
        {"where": {"role": "user"}, "direct": False},
        {"where": {"role": "user"}, "mode": "and"},
        {"where": {"role": "tool"}},
    ):
        sh = _rows(index_search(ix, QS, k=10, strategy="sharded", **kw))
        bm = _rows(index_search(ix, QS, k=10, strategy="blockmax", **kw))
        assert bm == sh and sh, kw


def test_blockmax_conjunctive_bit_exact_skewed(skewed):
    """mode='and' and min_match now ride the interval-pruned dense
    kernel on strategy='blockmax' — bit-identical to 'sharded' on both
    routes (the r06-late replacement for the candidate-driven WAND
    conjunction, which lost to dense scoring at every benchable
    scale)."""
    for kw in (
        {"mode": "and"},
        {"min_match": 2},
        {"mode": "and", "direct": False},
        {"min_match": 2, "direct": False, "subsplit": 4},
        {"mode": "and", "k1": 0.9, "b": 0.4},
    ):
        sh = _rows(index_search(skewed, QS, k=10, strategy="sharded", **kw))
        bm = _rows(index_search(skewed, QS, k=10, strategy="blockmax", **kw))
        assert bm == sh and sh, kw


def _skewed_pdf(n_docs=1600, hot_from=1500, hot_tf=40):
    """Prune-friendly corpus: 'alpha' appears once in every doc but
    hot_tf times in the docs at the top of the id range, so alpha's
    high blocks carry a min bound far above the low blocks' max."""
    rows = []
    for i in range(n_docs):
        tf = hot_tf if i >= hot_from else 1
        text = " ".join(
            ["alpha"] * tf + [f"w{i % 37:04d}", f"w{(i * 7) % 53:04d}"]
        )
        rows.append((f"c{i:06d}", 0, "user", text, None, None))
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )


QS = [(1, "alpha"), (2, "alpha w0003"), (3, "w0007 w0011"),
      (4, "alpha alpha w0005")]


@pytest.fixture(scope="module")
def skewed_corpus(spark):
    corpus = add_doc_id(
        spark.createDataFrame(_skewed_pdf()), "conv_seq"
    ).select("doc_id", "text")
    corpus.cache().count()
    return corpus


@pytest.fixture(scope="module")
def skewed(spark, skewed_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("prune_ix"))
    build_index(
        skewed_corpus, d,
        BuildParams(num_shards=2, salt_factor=2, num_term_buckets=2,
                    lineage_groups=1, block_size=64,
                    doc_id_scheme="conv_seq"),
        "prune",
    )
    return Index(spark, d)


def _rows(df):
    return sorted(
        (r.query_id, r.rank, r.doc_id, r.score) for r in df.collect()
    )


def test_blockmax_prune_bit_exact_skewed(skewed, skewed_corpus):
    # independent reference: the oracle pinned to the manifest's stats
    ora = OracleIndex.build(
        [(r.doc_id, r.text) for r in skewed_corpus.collect()]
    )
    assert ora.n_docs == skewed.n_docs
    ora.avgdl = skewed.avgdl
    base = sorted(ora.search_all(QS, k=10))
    assert len(base) > 0
    for kw in (
        {},                     # direct route (auto on layout 2)
        {"direct": False},      # exchange route
        {"direct": False, "subsplit": 4},
        {"k1": 0.9, "b": 0.4},  # derived bounds
    ):
        sh = _rows(index_search(skewed, QS, k=10, strategy="sharded", **kw))
        bm = _rows(index_search(skewed, QS, k=10, strategy="blockmax", **kw))
        if "k1" in kw:
            base_kw = sorted(ora.search_all(QS, k=10, k1=kw["k1"], b=kw["b"]))
            assert bm == sh == base_kw
        else:
            assert bm == sh == base


def test_prune_fires_on_real_blocks(skewed, spark):
    """The skew must make the prune actually drop blocks — asserted on
    the index's own block metadata, so a regression that silently
    stops pruning (returns None forever) fails here, not in a bench."""
    files = glob.glob(f"{skewed.index_dir}/postings/**/*.parquet",
                      recursive=True)
    assert files
    pdf = (
        spark.read.parquet(f"{skewed.index_dir}/postings")
        .filter("term = 'alpha'")
        .select("term", "first_doc", "last_doc", "n_docs",
                "max_tf_norm", "min_tf_norm")
        .toPandas()
    )
    assert len(pdf) > 4  # multiple blocks so there is something to skip
    out = _interval_prune(
        pdf, {1: [("alpha", 1.0)]}, k1=skewed.k1, b=skewed.b,
        avgdl=skewed.avgdl, k=10, mode="stored", sub_shift=None, vs=0,
    )
    assert out is not None
    keep_rows, _bounds, live_of = out
    assert (~keep_rows).sum() > 0, "skew should exclude some blocks"
    assert 1 in live_of


def test_blockmax_subsplit_cotomb_bit_exact(skewed, spark, monkeypatch):
    """ADVICE r06 (high): with explicit subsplit, replicated straddling
    blocks carry postings of NEIGHBORING subgroups whose tombstones live
    in other groups' cogrouped sides. The seed decode must mask to the
    subgroup's id range, or a deleted hot doc can certify theta and
    silently prune live docs. Forced here: distributed tombstones
    (TOMBSTONE_BROADCAST_MAX=1) + subsplit + blockmax, deleting exactly
    the hot docs the seed would otherwise score."""
    import shutil

    import sparkbm25.jobs as J
    from sparkbm25.jobs import delete_docs

    d2 = skewed.index_dir + "_subtomb"
    shutil.rmtree(d2, ignore_errors=True)
    shutil.copytree(skewed.index_dir, d2)
    # delete the hot tail (the theta-certifying docs)
    victims = [i << 20 for i in range(1500, 1600)]
    delete_docs(spark, d2, victims)
    monkeypatch.setattr(J, "TOMBSTONE_BROADCAST_MAX", 1)
    ix = Index(spark, d2)
    for sub in (2, 4):
        sh = _rows(index_search(ix, QS, k=10, strategy="sharded",
                                subsplit=sub))
        bm = _rows(index_search(ix, QS, k=10, strategy="blockmax",
                                subsplit=sub))
        assert bm == sh and len(sh) > 0
        assert not ({r[2] for r in bm} & set(victims))
    shutil.rmtree(d2, ignore_errors=True)


def test_decode_tfn_masks_subgroup_range():
    """Mechanism pin for the ADVICE r06 fix: the seed decode must drop
    postings outside THIS subgroup's id range (docs replicated in via
    straddling blocks), because their tombstone/qualifying rows live in
    other groups' cogrouped sides and are unmaskable here."""
    from sparkbm25.codecs import delta_encode, vbyte_encode
    from sparkbm25.index_query import _decode_tfn

    docs = np.array([10, 20, 5000, 6000], dtype=np.int64)
    pdf = pd.DataFrame([
        {
            "term": "t", "n_docs": 4,
            "docs_vbyte": vbyte_encode(delta_encode(docs)),
            "tfs_vbyte": vbyte_encode(np.array([1, 2, 40, 40], dtype=np.uint64)),
            "dls_vbyte": vbyte_encode(np.array([5, 5, 5, 5], dtype=np.uint64)),
        }
    ])
    raw_all = _decode_tfn(pdf, 1.2, 0.75, 5.0)
    assert raw_all["t"][0].tolist() == [10, 20, 5000, 6000]
    # subgroup 0 under sub_shift=10 holds ids < 1024 only
    raw_sub = _decode_tfn(pdf, 1.2, 0.75, 5.0, sub_shift=10, vs=0)
    assert raw_sub["t"][0].tolist() == [10, 20]
    # neighboring subgroup sees only its own ids
    raw_sub4 = _decode_tfn(pdf, 1.2, 0.75, 5.0, sub_shift=10, vs=4)
    assert raw_sub4["t"][0].tolist() == [5000]
