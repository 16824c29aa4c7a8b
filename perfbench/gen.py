"""Seeded input generator for the engine benchmark.

Writes one directory of parquet tables in the schema of the engine's
``sources.tables.TABLES`` (the star schema of the repo's test data plus
``documents`` and ``embeddings``), derived from nothing but the seed:

- ``documents``: text drawn from a Zipf-Mandelbrot vocabulary of tens of
  thousands of words (real English function words at the top ranks,
  pronounceable synthetic words below), with planted near-duplicate
  clusters of known membership (exact copies, token substitutions and
  contiguous excerpts of a base document);
- ``embeddings``: unit vectors around per-label centroids;
- relational (``region`` … ``lineitem``) and ``events`` tables with the
  value domains the registered queries filter on.

The generator fails loudly when the corpus has too few distinct tokens
to leave the small-vocabulary bitmask path of the dedup operators: the
at-scale path must come from the input, never from an environment knob.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the dedup operators' exact-bitmask ceiling (``SETMASK_MAX_VOCAB`` in
#: operators/dedup.py); a corpus at or below it never reaches the
#: at-scale set-similarity path
SETMASK_MAX_VOCAB = 1024

#: row counts per size; ``full`` is what the benchmark measures,
#: ``tiny`` is for the self-check
SIZES = {
    "full": dict(
        docs=1000, vocab=30000, doc_len=50, cluster_share=0.12,
        vectors=1500, dim=64,
        customers=5000, suppliers=400, parts=8000, orders=40000,
        users=1000, events=40000,
    ),
    "tiny": dict(
        docs=300, vocab=3000, doc_len=40, cluster_share=0.15,
        vectors=200, dim=64,
        customers=300, suppliers=20, parts=400, orders=2000,
        users=50, events=2000,
    ),
}

FUNCTION_WORDS = (
    "the of and to a in is that for it as was with be by on not he i this "
    "are or his from at which but have an they you were her she there one "
    "all we their been has would when who will more no if out so said what "
    "up its about into than them can only other new some could time these "
    "two may then do first any my now such like our over man me even most "
    "made after also did many before must through back years where much "
    "your way well down should because each just those people how too"
).split()

ONSETS = "b c d f g h j k l m n p r s t v w z br ch cl dr fl gr pl pr sh st th tr".split()
VOWELS = "a e i o u ai ea ee ie oo ou".split()
CODAS = ["", "", "", "n", "r", "s", "t", "l", "m", "nd", "st", "rk"]

LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "old", "red")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

US_PER_DAY = 86_400_000_000


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase words: function words first, then
    synthetic syllable words, in a seed-dependent order below them."""
    words = list(dict.fromkeys(FUNCTION_WORDS))
    seen = set(words)
    while len(words) < n:
        k = int(rng.integers(1, 4))
        w = "".join(
            ONSETS[rng.integers(len(ONSETS))] + VOWELS[rng.integers(len(VOWELS))]
            for _ in range(k)
        ) + CODAS[rng.integers(len(CODAS))]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_p(n: int) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = 1.0 / (ranks + 50.0) ** 1.1
    return p / p.sum()


def _documents(rng: np.random.Generator, cfg: dict) -> tuple[pa.Table, dict]:
    vocab = np.array(_vocabulary(rng, cfg["vocab"]))
    p = _zipf_p(len(vocab))
    n_docs = cfg["docs"]
    n_clustered = int(n_docs * cfg["cluster_share"])
    n_base = n_docs - n_clustered

    def draw(length: int) -> list[int]:
        return list(rng.choice(len(vocab), size=length, p=p))

    lengths = np.clip(
        rng.lognormal(np.log(cfg["doc_len"]), 0.45, size=n_base), 12, 400
    ).astype(int)
    bodies: list[list[int]] = [draw(int(n)) for n in lengths]
    cluster_of = [-1] * n_base

    # planted clusters: a base document plus 1-4 variants of it
    n_planted = 0
    cluster_id = 0
    while n_planted < n_clustered:
        base = int(rng.integers(n_base))
        if cluster_of[base] != -1 or len(bodies[base]) < 30:
            continue
        cluster_of[base] = cluster_id
        size = min(int(rng.integers(1, 5)), n_clustered - n_planted)
        for _ in range(size):
            src = list(bodies[base])
            kind = rng.random()
            if kind < 0.2:  # exact copy
                var = src
            elif kind < 0.75:  # a few substituted tokens
                var = list(src)
                for pos in rng.choice(len(var), size=int(rng.integers(1, 4)), replace=False):
                    var[pos] = int(rng.integers(len(vocab)))
            else:  # contiguous excerpt of 85-95 % of the base
                keep = int(len(src) * rng.uniform(0.85, 0.95))
                start = int(rng.integers(0, len(src) - keep + 1))
                var = src[start : start + keep]
            bodies.append(var)
            cluster_of.append(cluster_id)
            n_planted += 1
        cluster_id += 1

    # doc ids are a permutation, so cluster members are not adjacent
    order = rng.permutation(len(bodies))
    texts = [" ".join(vocab[bodies[i]]) for i in order]
    clusters = np.array(cluster_of)[order]
    tokens = {t for text in texts for t in text.split()}
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=len(texts), p=LANG_P)),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, N_SOURCES, size=len(texts))]
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    members: dict[int, list[int]] = {}
    for doc, c in enumerate(clusters.tolist()):
        if c >= 0:
            members.setdefault(c, []).append(doc)
    return table, {
        "distinct_tokens": len(tokens),
        "clusters": sorted(members.values()),
    }


def _embeddings(rng: np.random.Generator, cfg: dict) -> pa.Table:
    n, dim = cfg["vectors"], cfg["dim"]
    labels = rng.integers(0, 10, size=n)
    centroids = rng.standard_normal((10, dim))
    x = 0.6 * centroids[labels] + rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _relational(rng: np.random.Generator, cfg: dict) -> dict[str, pa.Table]:
    nc, ns, npart, no = cfg["customers"], cfg["suppliers"], cfg["parts"], cfg["orders"]
    day0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": pa.array(rng.integers(0, 25, size=nc), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=nc)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": pa.array(rng.integers(0, 25, size=ns), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(npart), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            rng.choice(PART_ADJ, size=npart),
                            rng.choice(PART_NOUN, size=npart),
                        )
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{i}" for i in rng.integers(1, 26, size=npart)]
                ),
                "p_type": pa.array(rng.choice(PART_TYPES, size=npart)),
                "p_size": pa.array(rng.integers(1, 51, size=npart), pa.int32()),
                "p_retailprice": pa.array(
                    np.round(900 + (np.arange(npart) % 1000) / 10, 1)
                ),
            }
        ),
    }
    order_day = day0 + rng.integers(0, 2404, size=no)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, size=no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), size=no)),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, no)),
            "o_orderdate": _ts(order_day * US_PER_DAY),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=no)),
        }
    )
    lines = rng.integers(1, 8, size=no)
    okey = np.repeat(np.arange(no), lines)
    nl = len(okey)
    linenumber = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, size=nl)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, size=nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, size=nl), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, size=nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, nl)),
            "l_discount": pa.array(rng.integers(0, 11, size=nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), size=nl)),
            "l_linestatus": pa.array(rng.choice(("F", "O"), size=nl)),
            "l_shipdate": _ts(ship_day * US_PER_DAY),
        }
    )
    ne = cfg["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(t0 + rng.integers(0, 30 * US_PER_DAY, size=ne)),
            "user_id": pa.array(rng.integers(0, cfg["users"], size=ne), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=ne)),
            "value": pa.array(np.round(rng.exponential(50.0, size=ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=ne)]),
        }
    )
    return tables


def generate(out_dir: str, seed: int, size: str = "full") -> dict:
    """Write every table under ``out_dir`` and return the manifest
    (rows per table, distinct-token count, planted clusters, timing)."""
    cfg = SIZES[size]
    t0 = time.perf_counter()
    rng = np.random.default_rng(seed)
    docs, doc_info = _documents(rng, cfg)
    if doc_info["distinct_tokens"] <= SETMASK_MAX_VOCAB:
        raise SystemExit(
            f"generated corpus has {doc_info['distinct_tokens']} distinct tokens; "
            f"the benchmark needs more than {SETMASK_MAX_VOCAB} so the dedup "
            "operators take their at-scale path"
        )
    tables = {"documents": docs, "embeddings": _embeddings(rng, cfg), **_relational(rng, cfg)}
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    manifest = {
        "seed": seed,
        "size": size,
        "rows": {name: t.num_rows for name, t in sorted(tables.items())},
        "distinct_tokens": doc_info["distinct_tokens"],
        "planted_clusters": doc_info["clusters"],
        "generation_s": time.perf_counter() - t0,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest

