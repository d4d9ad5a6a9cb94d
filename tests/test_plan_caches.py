"""Bounded driver-side plan caches evict oldest-first: a full cache keeps
its newest entries instead of dropping everything at once."""

from __future__ import annotations


def test_parallelism_memo_evicts_oldest_first(spark):
    from cicevse2024_tfm_datapipeline_spark.operators import skew

    skew._EMP_MEMO.clear()
    n = skew._EMP_MEMO_MAX + 8
    frames = [spark.range(i + 1) for i in range(n)]
    outs = [skew.ensure_min_parallelism(df) for df in frames]

    assert len(skew._EMP_MEMO) == skew._EMP_MEMO_MAX
    for df in frames[:8]:
        assert id(df) not in skew._EMP_MEMO
    for df, out in zip(frames[8:], outs[8:]):
        kept_in, kept_out = skew._EMP_MEMO[id(df)]
        assert kept_in is df and kept_out is out
    # the newest entry is still a hit: the same object comes back
    assert skew.ensure_min_parallelism(frames[-1]) is outs[-1]
