"""Round-15 optimization pins.

(a) The `_MH_MAT` materialization policy of `_minhash_pair_frames` is a
    pure execution-strategy knob: every variant must produce the identical
    verified pair set (the default is "none", set by `CASSABON_MH_MAT`; if
    a future round flips it, this test keeps the flip semantics-free).
(b) The drop-file floor 4 -> 2 (single-microbatch slicing at small
    corpora): the emitted pair set must be identical to a forced
    multi-batch slicing — the r4 slicing-invariance property extended to
    the new default slicing.
"""

from __future__ import annotations

import pytest

from cassabon_spark.queries import extensions as ext
from cassabon_spark.queries import load_registry

SF = "/root/testdata/sf0.001"


@pytest.fixture
def mh_mat(spark):
    orig = ext._MH_MAT[0]

    def _set(v):
        # the "sh"/"mh" variants .cache() their frames: drop them so no
        # variant reads another's cache and none leaks into later tests
        spark.catalog.clearCache()
        ext._MH_MAT[0] = v

    yield _set
    spark.catalog.clearCache()
    ext._MH_MAT[0] = orig


def _minhash_pairs(spark):
    # fresh build each call: drop the session memo so the policy knob is
    # actually exercised instead of returning the memoized frames
    ext._MINHASH_FRAMES_MEMO.pop(spark, None)
    df = load_registry()["dedup_minhash_lsh"].fn(spark, SF)
    return sorted(tuple(r) for r in df.collect())


def test_mh_mat_variants_identical(spark, mh_mat):
    mh_mat("both")
    want = _minhash_pairs(spark)
    assert len(want) > 0
    for v in ("none", "sh", "mh"):
        mh_mat(v)
        assert _minhash_pairs(spark) == want, v
    ext._MINHASH_FRAMES_MEMO.pop(spark, None)


def test_snd_single_batch_slicing_matches_multi(spark):
    def pairs():
        df = load_registry()["streaming_neardup_lsh"].fn(spark, SF)
        return sorted(tuple(r) for r in df.collect())

    # default knobs at sf0.001: 2 drop files / 2 per trigger -> ONE batch
    # (the r15 floor change) — must equal a forced 4-file, 4-batch slicing
    one_batch = pairs()
    drop_files, per_trigger = ext._SND_DROP_FILES[0], ext._STREAM_FILES_PER_TRIGGER[0]
    ext._SND_DROP_FILES[0] = 4
    ext._STREAM_FILES_PER_TRIGGER[0] = 1
    try:
        multi_batch = pairs()
    finally:
        ext._SND_DROP_FILES[0] = drop_files
        ext._STREAM_FILES_PER_TRIGGER[0] = per_trigger
    assert one_batch == multi_batch and len(one_batch) > 0
