"""The set bitmaps behind every dedup |A∩B| verify
(operators/dedup.py, the set-bitmap block) and the literal-rows helper
(functions/rows.py).

Every verify site builds its sets' bitmaps with one helper,
``_set_bitmaps``, in one of two regimes picked by the corpus'
distinct-token count against 64·W bit positions (W =
``SET_BITMAP_WORDS``): exact (dense positions, popcount(a & b) is the
intersection) or lossy (pmod positions, the union bound guards the
exact array_intersect). Coverage here:

* the width table: every consumer query returns the same row multiset
  in both regimes — forced by the width alone over a ~90-token corpus
  (W=1 lossy, W=2 exact) — and equals its DuckDB oracle where one
  exists,
* the regime comes from ONE memoized distinct-token count per
  document relation, and the lossy plan carries a bit_or aggregate and
  no higher-order fold,
* exact positions cross the 64-bit word boundary correctly.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

import multithreaded_mapreduce_spark.operators.dedup as dd
from multithreaded_mapreduce_spark.plans.caching import (
    release_result_memos,
    release_tracked,
)
from multithreaded_mapreduce_spark.plans.registry import all_queries
from multithreaded_mapreduce_spark.plans.verification import (
    compare_query,
    duck_connection,
    rows_multiset,
)
from multithreaded_mapreduce_spark.sources.tables import TABLES, table_path

from .conftest import SF_DIR

_Q = all_queries()


@pytest.fixture(scope="module")
def wide_vocab_dir(tmp_path_factory, spark) -> str:
    """sf0.001 with documents rewritten over a ~90-token vocabulary, so
    W=1 (64 bits) is the lossy regime and W=2 (128 bits) the exact
    multi-word one — near-dup structure is preserved (clone pairs per
    base doc) so the pair relations are non-trivial."""
    d = str(tmp_path_factory.mktemp("wide_vocab_sf"))
    for t in TABLES:
        if t != "documents":
            shutil.copyfile(table_path(SF_DIR, t), table_path(d, t))
    schema = spark.read.parquet(table_path(SF_DIR, "documents")).schema
    rows = []
    did = 0
    for base in range(30):
        toks = [f"w{(base * 7 + j) % 90}" for j in range(12)]
        text = " ".join(toks)
        near = " ".join(toks[:11] + [f"w{(base * 7) % 90}"])  # ~0.85 jaccard
        for s in (text, text, near):  # exact dup + near dup per base
            rows.append((did, s, "en", f"src{did % 20}", len(s)))
            did += 1
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "_docs_tmp"))
    part = next(
        f for f in os.listdir(os.path.join(d, "_docs_tmp")) if f.endswith(".parquet")
    )
    shutil.copyfile(os.path.join(d, "_docs_tmp", part), table_path(d, "documents"))
    return d


#: the width table's consumers: every query (or eval-pair relation)
#: whose pair set runs through a set-bitmap verify site
_CONSUMERS = (
    "dedup_jaccard_pairs", "dedup_minhash_verified", "dedup_components",
    "dedup_containment", "dedup_incremental_neardup", "dedup_minhash_lsh",
    "dedup_threshold_sweep", "kfold_leakage_report", "lsh_recall_report",
    "eval_pairs_sampled",
)


def _run(spark, name: str, sf_dir: str, monkeypatch):
    """(columns, rows) of one consumer at the current width, cold."""
    release_tracked()
    release_result_memos()
    spark.catalog.clearCache()
    if name == "eval_pairs_sampled":
        # the eval-sampled pair relation (sweep / kfold / recall ground
        # truth past the target): a 1-in-k sample of the 90 docs
        monkeypatch.setattr(dd, "EVAL_SAMPLE_TARGET_DOCS", 40)
        dd._EVAL_SAMPLE_CACHE.clear()
        assert dd._eval_sample_decision(spark, sf_dir)["modulus"] > 1
        df = dd._eval_pairs(spark, sf_dir)
    else:
        df = _Q[name].builder(spark, sf_dir)
    return list(df.columns), [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("name", _CONSUMERS)
def test_multiword_mask_off_on_identity(spark, wide_vocab_dir, name, monkeypatch):
    """The width table. W=1 puts the ~90-token corpus in the lossy
    regime ("off": hashed positions, union-bound-guarded
    array_intersect), W=2 in the exact multi-word regime ("on":
    popcount(a & b)); both return the identical row multiset, and it
    equals the registered DuckDB oracle where one exists."""
    runs = {}
    for words, exact in ((1, False), (2, True)):
        monkeypatch.setattr(dd, "SET_BITMAP_WORDS", words)
        assert dd._bitmap_regime(spark, wide_vocab_dir) == (exact, words, None)
        runs[exact] = _run(spark, name, wide_vocab_dir, monkeypatch)
    (cols, lossy), (_, exact) = runs[False], runs[True]
    assert rows_multiset(cols, lossy) == rows_multiset(cols, exact)
    assert len(exact) > 0  # the fixture plants real dup/near-dup pairs
    q = _Q.get(name)
    if q is not None and q.oracle:
        con = duck_connection(wide_vocab_dir)
        tbl = con.execute(q.oracle).fetch_arrow_table()
        con.close()
        oracle = [tuple(r.values()) for r in tbl.to_pylist()]
        assert rows_multiset(cols, exact) == rows_multiset(
            list(tbl.schema.names), oracle
        )


def test_multiword_mask_oracle_parity(spark, wide_vocab_dir, monkeypatch):
    """The exact W=2 multi-word regime also matches the registered
    DuckDB oracle through the driver's comparator (value hash, not just
    self-consistency)."""
    monkeypatch.setattr(dd, "SET_BITMAP_WORDS", 2)
    dd._VOCAB_CACHE.clear()
    for name in ("dedup_jaccard_pairs", "dedup_minhash_verified"):
        release_tracked()
        release_result_memos()
        spark.catalog.clearCache()
        compare_query(spark, wide_vocab_dir, _Q[name].builder, _Q[name].oracle)
    assert dd._bitmap_regime(spark, wide_vocab_dir) == (True, 2, None)


def test_regime_from_one_vocab_count(spark, wide_vocab_dir, monkeypatch):
    """The regime is the corpus' distinct-token count against 64·W,
    counted ONCE per document relation and shared by every site; the
    lossy dedup_components build plans a bit_or aggregate and no
    higher-order aggregate( fold."""
    dd._VOCAB_CACHE.clear()
    monkeypatch.setattr(dd, "SET_BITMAP_WORDS", 1)
    # 31 tokens: exact in one word, positions collected for projection
    exact, words, literal = dd._bitmap_regime(spark, SF_DIR)
    assert (exact, words, literal["n"]) == (True, 1, 31)
    assert len(literal["toks_h"]) == len(literal["tids"]) == 31
    # 90 tokens > 64·W: lossy, nothing collected
    assert dd._bitmap_regime(spark, wide_vocab_dir) == (False, 1, None)
    for name in ("dedup_containment", "dedup_minhash_verified", "dedup_components"):
        _run(spark, name, wide_vocab_dir, monkeypatch)
    # one entry per document relation, however many sites asked
    assert sorted(dd._VOCAB_CACHE) == sorted(
        {dd._docs_stamp(SF_DIR), dd._docs_stamp(wide_vocab_dir)}
    )
    release_result_memos()
    _, cross = dd._jaccard_group_cross(spark, wide_vocab_dir)
    plan = cross._jdf.queryExecution().executedPlan().toString()
    release_tracked()
    assert "bit_or(" in plan, plan
    assert "aggregate(" not in plan, plan


def test_mask_words_cover_vocab_boundaries(spark):
    """Exact bit assignment crosses the 64-bit word boundary correctly:
    70 ids in 2 words, and a set holding ids on both sides of the boundary
    intersects exactly."""
    sets = spark.createDataFrame(
        [(1, [i * 1000 for i in range(70)]), (2, [i * 1000 for i in range(60, 70)])],
        "sid int, ids array<long>",
    )
    bm = dd._set_bitmaps(sets, "sid", "ids", exact=True, nw=2)
    rows = {r.sid: (r._b0, r._b1) for r in bm.collect()}
    # dense positions: set 1 fills word 0 and the low 6 bits of word 1
    assert rows[1] == (-1, (1 << 6) - 1)
    a = bm.filter("sid = 1").select(F.col("_b0").alias("_a0"), F.col("_b1").alias("_a1"))
    b = bm.filter("sid = 2")
    got = a.crossJoin(b).select(dd._popcount_sum("_a", "_b", "and", 2).alias("c")).first()
    assert got["c"] == 10


def test_literal_rows_df_roundtrip(spark):
    from multithreaded_mapreduce_spark.functions.rows import literal_rows_df

    rows = [(1, "a", 1.5), (2, None, -0.0), (None, "", 2.0)]
    df = literal_rows_df(spark, rows, "i int, s string, x double")
    assert df.schema.simpleString() == "struct<i:int,s:string,x:double>"
    got = [(r.i, r.s, r.x) for r in df.collect()]
    assert got == rows
    # no Python-RDD scan in the plan (the point of the helper)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    empty = literal_rows_df(spark, [], "i int, s string, x double")
    assert empty.count() == 0 and empty.columns == ["i", "s", "x"]
