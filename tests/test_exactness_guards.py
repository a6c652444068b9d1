"""Guards that keep exact values exact or fail loudly:

- the int32-offset BinaryArray helper shared by the build kernels raises
  instead of wrapping once a stream passes 2**31 - 1 bytes;
- ``localrel.local_df`` keeps nullable longs exact (no float64 detour);
- the point path's parquet footer cache stays within its file cap on a
  long-lived handle while results stay exact;
- ``build.StageTimer`` times stages on a monotonic clock, so a wall-clock
  step cannot record a negative stage time in the manifest.
"""

import numpy as np
import pytest

from sparkbm25.build import BuildParams, StageTimer, binary_from_segments
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_transcripts_pdf
from sparkbm25.jobs import Index, build_index
from sparkbm25.localrel import local_df
from sparkbm25.oracle import OracleIndex


def test_binary_from_segments_slices_one_buffer():
    buf = np.frombuffer(b"abcdefg", dtype=np.uint8)
    sizes = np.array([1, 2, 1, 3], dtype=np.int64)  # values a, bc, d, efg
    arr = binary_from_segments(buf, sizes, np.array([0, 2], dtype=np.int64))
    assert arr.to_pylist() == [b"abc", b"defg"]


def test_binary_from_segments_refuses_int32_wrap():
    # sizes alone decide the offsets, so no 2 GB buffer is needed
    sizes = np.array([2**30, 2**30, 1], dtype=np.int64)
    with pytest.raises(ValueError, match="int32"):
        binary_from_segments(
            np.zeros(8, dtype=np.uint8), sizes,
            np.array([0, 2], dtype=np.int64),
        )


def test_stage_timer_ignores_wall_clock_steps(monkeypatch):
    import time

    # the wall clock jumps back an hour inside the stage
    wall = iter([1_000_000.0, 996_400.0])
    monkeypatch.setattr(time, "time", lambda: next(wall))
    timer = StageTimer()
    with timer.time("stage"):
        pass
    assert 0.0 <= timer.stages["stage"] < 60.0


def test_local_df_keeps_nullable_longs_exact(spark):
    rows = local_df(spark, [(2**53 + 1,), (None,)], "a long").collect()
    assert [r.a for r in rows] == [2**53 + 1, None]


def test_point_path_footer_cache_bounded(spark, tmp_path, monkeypatch):
    import sparkbm25.index_query as iq
    from sparkbm25.xxhash64 import spark_pmod_bucket

    corpus = add_doc_id(
        spark.createDataFrame(make_transcripts_pdf(30)), "conv_seq"
    ).select("doc_id", "text")
    d = str(tmp_path / "ix")
    build_index(
        corpus, d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                    lineage_groups=2, doc_id_scheme="conv_seq"),
        "footer-cap",
    )
    ix = Index(spark, d)
    ora = OracleIndex.build([(r.doc_id, r.text) for r in corpus.collect()])
    assert ora.n_docs == ix.n_docs
    ora.avgdl = ix.avgdl

    # one single-term query per term bucket: each call reads one
    # bucket's files, and the calls together read every file
    term_of = {}
    for t in sorted(ora.postings):
        term_of.setdefault(spark_pmod_bucket(t, ix.num_term_buckets), t)
    per_call = max(
        sum(len(v) for v in ix.shard_file_map([bkt]).values())
        for bkt in term_of
    )
    total = sum(len(v) for v in ix.shard_file_map().values())
    cap = per_call + 2
    assert total > cap  # the warm pass is skipped at this cap
    monkeypatch.setattr(iq, "LOCAL_SEARCH_FOOTER_WARM_MAX_FILES", cap)

    for rnd in range(2):
        for bkt, term in sorted(term_of.items()):
            q = [(bkt, term)]
            got = sorted(
                (r.query_id, r.rank, r.doc_id, r.score)
                for r in iq.index_search(ix, q, k=5).collect()
            )
            assert got == sorted(ora.search_all(q, k=5)), term
            assert 0 < len(ix._pq_meta) <= cap
