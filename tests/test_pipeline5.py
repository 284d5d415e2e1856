"""Invariant tests for token-budget allocation and blocklist filtering
(pipeline) and PMI collocations (text)."""

import math

from pyspark.sql import functions as F

from watermill_kinesis_spark.operators.pipeline import TOKEN_BUDGET
from watermill_kinesis_spark.operators.text import PMI_MIN_COUNT, PMI_TOP_N
from watermill_kinesis_spark.registry import queries
from watermill_kinesis_spark.sources.tables import load_table


def test_token_budget_water_filling_properties(spark, sf_dir):
    rows = queries()["token_budget_allocation"](spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    total = d.select(F.sum(F.size(F.split("text", " ")))).first()[0]
    assert sum(r["n_tokens"] for r in rows) == total
    for r in rows:
        assert 0 < r["keep_fraction"] <= 1.0
        assert r["alloc_tokens"] <= r["n_tokens"] + 1e-9
        assert math.isclose(
            r["alloc_tokens"], r["n_tokens"] * r["keep_fraction"], rel_tol=1e-9
        )
    allocated = sum(r["alloc_tokens"] for r in rows)
    if total > TOKEN_BUDGET:
        # binding budget: allocation exhausts it exactly (up to fp sum)
        assert math.isclose(allocated, TOKEN_BUDGET, rel_tol=1e-9)
        # capped sources all sit at the same water level
        levels = {
            round(r["alloc_tokens"], 6) for r in rows if r["keep_fraction"] < 1.0
        }
        assert len(levels) <= 1
    else:
        assert math.isclose(allocated, total, rel_tol=1e-9)


def test_collocation_pmi_recompute(spark, sf_dir):
    rows = queries()["collocation_pmi"](spark, sf_dir).collect()
    assert 0 < len(rows) <= PMI_TOP_N
    d = load_table(spark, sf_dir, "documents")
    texts = [r["text"].split(" ") for r in d.collect()]
    from collections import Counter

    uni = Counter(t for toks in texts for t in toks)
    bi = Counter(
        (toks[i], toks[i + 1]) for toks in texts for i in range(len(toks) - 1)
    )
    n = sum(uni.values())
    lifts = [r["pmi_lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    for r in rows:
        assert r["c_xy"] == bi[(r["x"], r["y"])]
        assert r["c_xy"] >= PMI_MIN_COUNT
        assert r["c_x"] == uni[r["x"]] and r["c_y"] == uni[r["y"]]
        assert math.isclose(
            r["pmi_lift"], r["c_xy"] * n / (r["c_x"] * r["c_y"]), rel_tol=1e-12
        )


def test_blocklist_suffix_match_respects_label_boundaries(spark):
    """'notsrc3.example.com' must NOT match rule 'src3.example.com' —
    the dot-suffix explode only produces whole-label suffixes, unlike
    a naive endswith. Adversarial host shapes locked here."""
    from pyspark.sql import Row, functions as F

    hosts = [
        ("src3.example.com", True),        # exact rule
        ("a.src3.example.com", True),      # subdomain of rule
        ("notsrc3.example.com", False),    # label-boundary trap
        ("src3.example.com.evil.org", False),  # rule as non-suffix infix
        ("m.x.example.org", True),         # deep subdomain of example.org
        ("example.org", True),             # exact
        ("badexample.org", False),         # boundary trap again
        ("com", False),
    ]
    rules = ["src3.example.com", "example.org"]
    df = spark.createDataFrame([Row(host=h) for h, _ in hosts])
    suffixes = df.select(
        "host",
        F.explode(
            F.expr(
                """
                transform(sequence(0, size(split(host, '\\\\.')) - 1),
                          i -> array_join(slice(split(host, '\\\\.'), i + 1, 99), '.'))
                """
            )
        ).alias("sfx"),
    )
    rdf = spark.createDataFrame([Row(entry=e) for e in rules])
    got = {
        r.host: r.blocked
        for r in suffixes.join(F.broadcast(rdf), suffixes.sfx == rdf.entry, "left")
        .groupBy("host")
        .agg((F.count("entry") > 0).alias("blocked"))
        .collect()
    }
    for host, want in hosts:
        assert got[host] == want, host
