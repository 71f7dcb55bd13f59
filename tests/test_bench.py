"""bench.py's driver-mode contract, checked without running a Spark job."""

import json

import bench
from demeton_spark.queries import QUERIES


def test_headline_queries_are_contract_queries():
    missing = [n for n in bench.HEADLINE_QUERIES if n not in QUERIES]
    assert not missing, f"bench.HEADLINE_QUERIES not in QUERIES: {missing}"


def test_headline_json_fits_the_driver_tail():
    names = ["hillshade", "streaming_hillshade", *bench.HEADLINE_QUERIES]
    # widest case: the longest names are the slowest, so they are the
    # ones inlined, and every timing has four integer digits
    by_len = sorted(names, key=len)
    queries = {n: 1000.123 + i for i, n in enumerate(by_len)}
    hs = {"megapixels": 51438.24, "mpx_per_sec": 123.45, "sec_best": 1234.567}
    line = bench.headline_json(
        hs, queries, 0.001, 4, {"before": 0.1234, "after": 0.1234},
        "BENCH/QUERIES_r06.json",
    )
    assert len(line) < 1500, len(line)
    head = json.loads(line)
    assert {"metric", "value", "unit"} <= head.keys()
    assert head["n_queries"] == len(names) == 56
    assert head["value"] == round(sum(queries.values()), 3)
