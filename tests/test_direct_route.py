"""Direct (no-exchange) search route over the shard-clustered posting
layout (posting_layout 2, engine >= 0.8).

The route exists because the scan->kernel exchange + JVM->Python Arrow
hop costs ~0.9 s per batch nearly independent of core count (measured
0.90 s at local[8] vs 1.13 s at local[2] on a 2.2M-turn index) — the
fixed term that capped q100 batch-scaling efficiency at ~0.70 (VERDICT
r04 #4). Contract pinned here: bit-exact identity with the exchange
route (same kernel, same fold), one Exchange total in the plan,
descriptive refusals/fallbacks for the exchange-only variants, and the
upgrade path for a pre-0.8 (layout-1) index: refused until compacted.
"""

import pytest

from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_queries, make_transcripts_pdf
from sparkbm25.index_query import index_search
from sparkbm25.jobs import Index, build_index, delete_docs

QS = make_queries(25) + [(900, "w0001 w0001 w0003")]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = make_transcripts_pdf(40)
    corpus = add_doc_id(spark.createDataFrame(pdf), "conv_seq").select(
        "doc_id", "text"
    )
    d = str(tmp_path_factory.mktemp("direct_ix"))
    build_index(
        corpus, d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                    lineage_groups=2, doc_id_scheme="conv_seq"),
        "direct",
    )
    return Index(spark, d)


def _rows(df):
    return sorted(
        (r.query_id, r.rank, r.doc_id, r.score) for r in df.collect()
    )


def test_direct_is_default_and_bit_exact(built):
    assert built.manifest["build"]["posting_layout"] == 2
    d = _rows(index_search(built, QS, k=8))            # auto -> direct
    e = _rows(index_search(built, QS, k=8, direct=False))
    assert d == e and len(d) > 0


def test_direct_tuned_k1_b_bit_exact(built):
    d = _rows(index_search(built, QS, k=8, k1=0.9, b=0.4))
    e = _rows(index_search(built, QS, k=8, k1=0.9, b=0.4, direct=False))
    assert d == e and len(d) > 0


def test_direct_plan_single_exchange(built):
    df = index_search(built, QS[:3], k=5, direct=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_direct_with_tombstones_bit_exact(spark, tmp_path):
    pdf = make_transcripts_pdf(30)
    corpus = add_doc_id(spark.createDataFrame(pdf), "conv_seq").select(
        "doc_id", "text"
    )
    d = str(tmp_path / "direct_tomb_ix")
    build_index(
        corpus, d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                    lineage_groups=1, doc_id_scheme="conv_seq"),
        "direct_tomb",
    )
    victims = [r.doc_id for r in corpus.limit(20).collect()]
    delete_docs(spark, d, victims)
    ix = Index(spark, d)
    got_d = _rows(index_search(ix, QS, k=8))
    got_e = _rows(index_search(ix, QS, k=8, direct=False))
    assert got_d == got_e and len(got_d) > 0
    assert not ({r[2] for r in got_d} & set(victims))


def test_direct_subsplit_falls_back_same_results(built):
    d = _rows(index_search(built, QS, k=8))
    s = _rows(index_search(built, QS, k=8, subsplit=2))  # exchange kernel
    assert d == s


def test_direct_true_refusals(built):
    # r06: where= no longer refuses — it rides the side-grouped direct
    # plan (test_direct_filtered_side_grouped); subsplit still exchanges
    with pytest.raises(ValueError, match="subsplit"):
        index_search(built, QS[:2], k=5, direct=True, subsplit=2)
    with pytest.raises(ValueError, match="strategy"):
        index_search(built, QS[:2], k=5, direct=True, strategy="exhaustive")


def test_direct_blockmax_bit_exact_and_single_exchange(built):
    d = _rows(index_search(built, QS, k=8, strategy="blockmax",
                           direct=True))
    e = _rows(index_search(built, QS, k=8, strategy="blockmax",
                           direct=False))
    s = _rows(index_search(built, QS, k=8, direct=False))
    assert d == e == s and len(d) > 0
    df = index_search(built, QS[:3], k=5, strategy="blockmax", direct=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_direct_blockmax_tuned_bit_exact(built):
    d = _rows(index_search(built, QS, k=8, strategy="blockmax",
                           k1=0.6, b=0.3, direct=True))
    e = _rows(index_search(built, QS, k=8, k1=0.6, b=0.3, direct=False))
    assert d == e and len(d) > 0


def test_layout1_index_refused_until_compacted(spark, tmp_path):
    """A pre-0.8 index (postings partitioned by term_bucket only, no
    posting_layout key in its manifest) is refused with a pointer to
    compact_index; compaction rewrites it into the shard-clustered
    layout, after which it answers bit-identically to the index it was
    made from on every route and on phrase search."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from sparkbm25.analysis import tokenize_py
    from sparkbm25.index_query import index_phrase_search
    from sparkbm25.jobs import _write_manifest, read_manifest
    from sparkbm25.streaming import append_batch, compact_index

    corpus = add_doc_id(
        spark.createDataFrame(make_transcripts_pdf(30)), "conv_seq"
    ).select("doc_id", "text")
    d = str(tmp_path / "ix")
    build_index(
        corpus, d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                    lineage_groups=2, doc_id_scheme="conv_seq",
                    store_positions=True),
        "layout1",
    )
    phrases = [
        (i, " ".join(tokenize_py(r.text)[1:3]))
        for i, r in enumerate(corpus.orderBy("doc_id").limit(40).collect())
        if len(tokenize_py(r.text)) >= 3
    ]

    def answers(ix):
        return (
            _rows(index_search(ix, QS[:2], k=8)),       # driver-local
            _rows(index_search(ix, QS, k=8)),           # direct
            _rows(index_search(ix, QS, k=8, direct=False)),  # exchange
            _rows(index_phrase_search(ix, phrases, k=8)),
            _rows(index_phrase_search(ix, phrases, k=8, direct=False)),
        )

    old_ix = Index(spark, d)
    want = answers(old_ix)
    assert all(want)

    # rewrite each group as a real layout-1 tree: term_bucket dirs only,
    # shard_id back as a data column, no posting_layout in the manifest
    pdir = os.path.join(d, "postings")
    for g in sorted(os.listdir(pdir)):
        gdir = os.path.join(pdir, g)
        stage = str(tmp_path / f"l1_{g}")
        blocks = spark.read.parquet(gdir)
        blocks.withColumn("shard_id", F.col("shard_id").cast("long")) \
            .write.partitionBy("term_bucket").parquet(stage)
        shutil.rmtree(gdir)
        shutil.move(stage, gdir)
    assert not glob.glob(os.path.join(pdir, "*", "*", "shard_id=*"))
    m = read_manifest(d)
    del m["build"]["posting_layout"]
    _write_manifest(d, m)

    with pytest.raises(ValueError, match="compact_index"):
        Index(spark, d)
    with pytest.raises(ValueError, match="compact_index"):
        old_ix.refresh()
    # an append would mix directory depths into the tree it must upgrade
    with pytest.raises(ValueError, match="compact_index"):
        append_batch(corpus.limit(3), d, epoch_id=1)

    compact_index(spark, d)
    ix = Index(spark, d)
    assert ix.manifest["build"]["posting_layout"] == 2
    assert glob.glob(os.path.join(pdir, "*", "*", "shard_id=*"))
    assert answers(ix) == want


def test_shard_file_map_shape_and_cache(built):
    fm = built.shard_file_map()
    assert set(fm) <= set(range(built.num_shards)) and fm
    # every entry is (group_seq, existing path) and bucket cache is filled
    import os

    for lst in fm.values():
        for gseq, path in lst:
            assert os.path.exists(path) and gseq >= 0
    assert set(built._bucket_files) == set(range(built.num_term_buckets))
    # restricting to one bucket returns a subset of files
    sub = built.shard_file_map([0])
    all_paths = {p for lst in fm.values() for _, p in lst}
    sub_paths = {p for lst in sub.values() for _, p in lst}
    assert sub_paths < all_paths


# --- round 6: SIDE-GROUPED direct — filtered search without a blocks
# exchange (only the qualifying-id side shuffles) -----------------------------

@pytest.fixture(scope="module")
def built_attrs(spark, tmp_path_factory):
    pdf = make_transcripts_pdf(40)
    corpus = add_doc_id(spark.createDataFrame(pdf), "conv_seq").select(
        "doc_id", "text", "role", "tool"
    )
    d = str(tmp_path_factory.mktemp("ixsd"))
    build_index(
        corpus, d,
        BuildParams(num_shards=6, salt_factor=2, num_term_buckets=8,
                    lineage_groups=2, doc_id_scheme="conv_seq",
                    attr_cols=("role", "tool")),
        "sidedirect40",
    )
    return corpus, Index(spark, d)


def test_direct_filtered_side_grouped_bit_identical(built_attrs):
    """where= on the default plan (side-grouped direct) must be
    bit-identical to the cogrouped exchange plan — same kernel — for
    both strategies, and direct=True must now be serviceable."""
    _corpus, ix = built_attrs
    for kw in ({}, {"strategy": "blockmax"}, {"min_match": 2},
               {"k1": 0.9, "b": 0.4}):
        d = _rows(index_search(ix, QS, k=8, where={"role": "user"},
                               direct=True, **kw))
        e = _rows(index_search(ix, QS, k=8, where={"role": "user"},
                               direct=False, **kw))
        assert d == e and len(d) > 0, kw


def test_direct_filtered_with_distributed_tombstones(spark, built_attrs,
                                                     tmp_path, monkeypatch):
    """side-grouped direct composes with the distributed tombstone side
    (kind=1 rows) — forced via TOMBSTONE_BROADCAST_MAX=1."""
    import shutil as _sh

    import sparkbm25.index_query as iq
    import sparkbm25.jobs as J

    corpus, ix0 = built_attrs
    d = str(tmp_path / "ixsdt")
    _sh.copytree(ix0.index_dir, d)
    victims = [r.doc_id for r in corpus.limit(12).collect()]
    delete_docs(spark, d, victims)
    monkeypatch.setattr(J, "TOMBSTONE_BROADCAST_MAX", 1)
    monkeypatch.setattr(iq, "Index", J.Index, raising=False)
    ix = J.Index(spark, d)
    got_d = _rows(index_search(ix, QS, k=8, where={"role": "user"},
                               direct=True))
    got_e = _rows(index_search(ix, QS, k=8, where={"role": "user"},
                               direct=False))
    assert got_d == got_e and len(got_d) > 0
    assert not ({r[2] for r in got_d} & set(victims))
