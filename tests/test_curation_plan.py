"""Temperature (alpha) sampling of the curation mix stage."""

from __future__ import annotations


def test_temperature_mix_upweights_small_strata(spark):
    """alpha < 1 must give small strata a LARGER sampled share than
    their natural proportion (and alpha=1 reproduces it); caps never
    exceed the stratum size; the draw is replay-stable."""
    from tidb_binlog_spark.functions.curation import temperature_mix

    docs = spark.createDataFrame(
        [(i, "big") for i in range(900)]
        + [(1000 + i, "small") for i in range(100)],
        "doc_id long, lang string")
    out = temperature_mix(docs, budget=200, alpha=0.5).collect()
    by = {}
    for r in out:
        by.setdefault(r["stratum"], []).append(r)
    n_big, n_small = len(by["big"]), len(by["small"])
    # natural share for 'small' is 10%; alpha=0.5 gives
    # sqrt(100)/(sqrt(900)+sqrt(100)) = 25% of the budget
    assert n_small / (n_big + n_small) > 0.2
    assert n_small <= 100 and n_big <= 900
    # alpha = 1: proportional (±1 from integer floors)
    prop = temperature_mix(docs, budget=200, alpha=1.0).collect()
    n_small_prop = sum(1 for r in prop if r["stratum"] == "small")
    assert abs(n_small_prop - 20) <= 1
    # replay-stable: identical second run
    again = temperature_mix(docs, budget=200, alpha=0.5).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
