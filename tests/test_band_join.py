"""The banded candidate join behind the MinHash, hyperplane and Hamming
near-duplicate queries, and the cluster memo on top of it."""

import pandas as pd
from pyspark.sql import functions as F

from demeton_spark.queries import band_join, q_doc_dedup_clusters

# id, three band keys, carried hash
_ROWS = [
    (1, 10, 20, 30, 0),  # shares all three bands with 2
    (2, 10, 20, 30, 0),
    (3, 40, 50, 60, 0),  # same values as 4, but in other bands
    (4, 50, 60, 40, 0),
    (5, 70, 71, 72, 0),  # shares band 0 with 6; hashes differ
    (6, 70, 73, 74, 3),
    (7, 80, 81, 82, 1),  # shares band 0 with 8; hashes equal
    (8, 80, 83, 84, 1),
]


def _sig(spark):
    return spark.createDataFrame(
        _ROWS, "id bigint, k0 bigint, k1 bigint, k2 bigint, h bigint"
    )


def _keys():
    return [F.col("k0"), F.col("k1"), F.col("k2")]


def test_band_join_pairs_once_per_bucket_share(spark):
    rows = band_join(_sig(spark), "id", _keys()).collect()
    assert sorted((r.id_a, r.id_b) for r in rows) == [(1, 2), (5, 6), (7, 8)]


def test_band_join_carried_predicate_runs_before_distinct(spark):
    out = band_join(
        _sig(spark),
        "id",
        _keys(),
        carry=("h",),
        pair_cols=(F.abs(F.col("a.h") - F.col("b.h")).alias("d"),),
        where=F.col("d") == 0,
    )
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2, 0), (7, 8, 0)]
    plan = out._jdf.queryExecution().analyzed().toString().splitlines()
    assert plan[0].startswith(("Distinct", "Deduplicate"))
    assert "Filter" in plan[1] and "d#" in plan[1]


def _write_docs(path, texts):
    pd.DataFrame(
        {"doc_id": list(range(len(texts))), "text": texts}
    ).to_parquet(path / "documents.parquet", index=False)


def _clusters(spark, sf_dir):
    return {
        r.doc_id: r.cluster_id
        for r in q_doc_dedup_clusters(spark, sf_dir).collect()
    }


def test_doc_cluster_memo_sees_rewritten_documents(spark, tmp_path):
    """The memoized cluster table is rebuilt when documents.parquet is
    rewritten within the session, not served stale."""
    sf_dir = str(tmp_path)
    _write_docs(tmp_path, ["a b c d e f", "a b c d e f", "g h i j", "k l m n"])
    assert _clusters(spark, sf_dir) == {0: 0, 1: 0, 2: 2, 3: 3}
    _write_docs(
        tmp_path, ["o p q r", "s t u v w", "x y z zz yy", "x y z zz yy"]
    )
    assert _clusters(spark, sf_dir) == {0: 0, 1: 1, 2: 2, 3: 2}
