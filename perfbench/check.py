"""Output checks: order-insensitive row digests, DuckDB references per
seed, and the planted-cluster check of the MinHash-LSH query.

The digest canonicalises rows exactly as ``tests/oracle.compare_query``
does (``plans.verification.rows_multiset``: columns sorted by name, exact
float repr, rows compared as a sorted multiset), so a Spark digest equals
the DuckDB digest exactly when that gate would pass on row count, column
names and values.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

#: LSH (4 bands x 4 rows of 16 MinHashes) finds a J=0.8 pair with
#: probability 0.88 and a J=0.9 pair with 0.99; the planted pairs sit
#: mostly above 0.9, so a recall below this floor is a defect
LSH_MIN_RECALL = 0.8


def digest(cols: list[str], rows: list[tuple]) -> str:
    from multithreaded_mapreduce_spark.plans.verification import rows_multiset

    h = hashlib.sha256()
    h.update("\x1f".join(sorted(cols)).encode())
    for line in rows_multiset(cols, rows):
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()


def _duck(data_dir: str):
    from multithreaded_mapreduce_spark.plans.verification import duck_connection

    con = duck_connection(data_dir)
    n = len(os.sched_getaffinity(0))
    con.execute(f"SET threads={n}")
    con.execute("SET memory_limit='4GB'")
    return con


def ensure_references(data_dir: str, queries: tuple[str, ...]) -> dict:
    """DuckDB reference digests for ``queries`` on this seed's data,
    computed once and kept in ``reference.json`` next to the data.

    Queries without an oracle get no DuckDB digest; the LSH query's
    exact-pair relation (the ``dedup_jaccard_pairs`` oracle) is stored
    for its planted-cluster check instead."""
    path = os.path.join(data_dir, "reference.json")
    ref = {"digests": {}, "seconds": 0.0}
    if os.path.exists(path):
        with open(path) as f:
            ref = json.load(f)
    wanted = [q for q in queries if q not in ref["digests"]]
    if not wanted:
        return ref
    from multithreaded_mapreduce_spark.operators.dedup import JACCARD_ORACLE
    from multithreaded_mapreduce_spark.plans.registry import all_queries

    catalog = all_queries()
    t0 = time.perf_counter()
    con = _duck(data_dir)
    try:
        for q in wanted:
            oracle = catalog[q].oracle
            if oracle is None:
                tbl = con.execute(JACCARD_ORACLE).fetch_arrow_table()
                ref["digests"][q] = None
                ref["exact_pairs"] = [
                    [r["doc_a"], r["doc_b"], r["jaccard"]] for r in tbl.to_pylist()
                ]
                continue
            tbl = con.execute(oracle).fetch_arrow_table()
            rows = [tuple(r.values()) for r in tbl.to_pylist()]
            ref["digests"][q] = digest(list(tbl.schema.names), rows)
    finally:
        con.close()
    ref["seconds"] += time.perf_counter() - t0
    save_reference(data_dir, ref)
    return ref


def save_reference(data_dir: str, ref: dict) -> None:
    path = os.path.join(data_dir, "reference.json")
    with open(path + ".tmp", "w") as f:
        json.dump(ref, f)
    os.replace(path + ".tmp", path)


def check_lsh(pairs: list[list], ref: dict, clusters: list[list[int]]) -> str | None:
    """Planted-cluster check of the MinHash-LSH output: every reported
    pair is an exact pair (same Jaccard) inside one planted cluster, and
    the exact pairs are found with at least ``LSH_MIN_RECALL``. Returns
    the reason it fails, or None."""
    exact = {(a, b): j for a, b, j in ref["exact_pairs"]}
    cluster_of = {d: i for i, members in enumerate(clusters) for d in members}
    found = set()
    for a, b, j in pairs:
        key = (min(a, b), max(a, b))
        if key not in exact or abs(exact[key] - j) > 1e-12:
            return f"pair {key} (jaccard {j}) is not an exact pair >= 0.8"
        if cluster_of.get(a, -1) != cluster_of.get(b, -2):
            return f"pair {key} crosses planted clusters"
        found.add(key)
    if len(found) != len(pairs):
        return "duplicate pairs in the output"
    recall = len(found) / len(exact) if exact else 1.0
    if recall < LSH_MIN_RECALL:
        return f"recall {recall:.3f} of {len(exact)} exact pairs < {LSH_MIN_RECALL}"
    return None
