"""The lossy set-bitmap regime's union-bound prune (operators/dedup.py,
the set-bitmap block + _bitmap_guard).

Past 64·W distinct tokens the bitmap positions are pmod(id, 64·W) and
collide; the prune CASE-guards the exact per-pair ``array_intersect``
with the bitmaps' upper bound on |A∩B| — collisions can only RAISE the
bound, so it admits false positives and never false negatives, and the
unchanged exact threshold filter still decides. What needs coverage:

* forced-alternative parity on the test corpus: with the lossy regime
  forced at W=1 (31 tokens into 64 bits, so ids collide) every
  consumer query returns the exact regime's row multiset,
* the upper-bound property itself on adversarial collision-heavy sets,
* the −1 sentinel semantics (a pruned pair can never reach a
  threshold-passing ratio),
* the prune's placement: on the |G|² crosses, not on the filtered
  candidate streams.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import multithreaded_mapreduce_spark.operators.dedup as dd
from multithreaded_mapreduce_spark.plans.caching import (
    release_result_memos,
    release_tracked,
)
from multithreaded_mapreduce_spark.plans.registry import all_queries

from .conftest import SF_DIR

_Q = all_queries()


def _snapshot(spark, name: str, sf_dir: str):
    release_tracked()
    release_result_memos()
    spark.catalog.clearCache()
    return sorted(tuple(r) for r in _Q[name].builder(spark, sf_dir).collect())


def _force_lossy(monkeypatch):
    monkeypatch.setattr(dd, "SET_BITMAP_WORDS", 1)
    monkeypatch.setattr(dd, "_bitmap_regime", lambda spark, sf_dir: (False, 1, None))


@pytest.mark.parametrize(
    "name",
    ["dedup_jaccard_pairs", "dedup_components", "dedup_containment",
     "dedup_minhash_verified", "dedup_minhash_lsh",
     "dedup_incremental_neardup"],
)
def test_prune_off_on_identity_disengaged(spark, name, monkeypatch):
    """The lossy regime (exact bitmaps disengaged — the real-vocabulary
    shape), forced at W=1 so the 31-token corpus collides in 64 bits,
    returns the exact regime's output row for row."""
    assert dd._bitmap_regime(spark, SF_DIR)[:2] == (True, 1)
    exact = _snapshot(spark, name, SF_DIR)
    _force_lossy(monkeypatch)
    lossy = _snapshot(spark, name, SF_DIR)
    assert lossy == exact
    assert len(exact) > 0


def test_union_bound_is_exact_upper_bound_under_collisions(spark, monkeypatch):
    """W=1 (64 bits) over ids far wider than the bitmap: for every
    pair, na + nb − popcount(bm_a|bm_b) >= |A∩B| — collisions only
    raise the bound."""
    monkeypatch.setattr(dd, "SET_BITMAP_WORDS", 1)
    sets = [
        (1, [i * 97 for i in range(40)]),
        (2, [i * 97 for i in range(20)] + [i * 131 + 7 for i in range(20)]),
        (3, [i * 131 + 7 for i in range(40)]),
        (4, [i for i in range(64)]),          # saturates the single word
        (5, [-(i * 97) for i in range(40)]),  # negative ids → pmod path
    ]
    df = spark.createDataFrame(sets, "sid int, toks array<long>")
    df = df.join(dd._set_bitmaps(df, "sid", "toks", exact=False, nw=1), "sid").select(
        "sid", "toks", F.size("toks").alias("n"), "_b0"
    )
    a = df.select(
        F.col("sid").alias("sa"), F.col("toks").alias("ta"),
        F.col("n").alias("na"), F.col("_b0").alias("_pa0"),
    )
    b = df.select(
        F.col("sid").alias("sb"), F.col("toks").alias("tb"),
        F.col("n").alias("nb"), F.col("_b0").alias("_pb0"),
    )
    rows = (
        a.crossJoin(b)
        .select(
            dd._bitmap_intersect_ub("_pa", "_pb").alias("ub"),
            F.size(F.array_intersect("ta", "tb")).alias("c"),
        )
        .collect()
    )
    assert len(rows) == 25 and all(r.ub >= r.c for r in rows), rows


def test_guard_sentinel_never_reaches_threshold(spark):
    """_bitmap_guard's −1 sentinel: jaccard and containment ratios on
    c = −1 are strictly negative, i.e. below every positive
    threshold."""
    df = spark.createDataFrame([(10, 12)], "na int, nb int").select(
        (F.lit(-1).cast("double") / (F.col("na") + F.col("nb") - F.lit(-1))).alias("jac"),
        (F.lit(-1).cast("double") / F.col("na")).alias("cont"),
    )
    r = df.first()
    assert r.jac < 0 and r.cont < 0


def test_prune_follows_candidate_source(spark, monkeypatch):
    """In the lossy regime the bitmaps (a bit_or aggregate) enter only
    the verifies fed by a |G|² cross — the jaccard group cross and
    containment's nested loop; the filtered candidate streams
    (containment's prefix witnesses, banding survivors) verify with
    the plain array_intersect and build no bitmap."""
    _force_lossy(monkeypatch)

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    release_result_memos()
    _, cross = dd._jaccard_group_cross(spark, SF_DIR)
    assert "bit_or(" in plan(cross)
    for path, pruned in (("nested", True), ("prefix", False)):
        monkeypatch.setenv("MMR_CONTAINMENT_PATH", path)
        assert ("bit_or(" in plan(_Q["dedup_containment"].builder(spark, SF_DIR))) is pruned
    verified = plan(dd._minhash_verified_pairs(spark, SF_DIR))
    assert "bit_or(" not in verified and "array_intersect(" in verified
    release_tracked()
