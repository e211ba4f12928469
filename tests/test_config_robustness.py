"""Results must be invariant to execution-config toggles: AQE on/off,
Arrow on/off, shuffle-partition counts — the properties the oracle hash
gate depends on."""

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

PROBE_QUERIES = ["q1_pricing_summary", "minhash_signatures", "events_sessionization"]


def _snapshot(spark, name):
    df = entry_mod.queries()[name](spark, SF)
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("name", PROBE_QUERIES)
def test_results_invariant_to_exec_config(spark, name):
    baseline = _snapshot(spark, name)
    toggles = [
        ("spark.sql.adaptive.enabled", "false"),
        ("spark.sql.execution.arrow.pyspark.enabled", "false"),
        ("spark.sql.shuffle.partitions", "2"),
    ]
    saved = {k: spark.conf.get(k) for k, _ in toggles}
    try:
        for k, v in toggles:
            spark.conf.set(k, v)
            assert _snapshot(spark, name) == baseline, f"{name} changed under {k}={v}"
            spark.conf.set(k, saved[k])
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

