"""Query names for ``analytics_headline``.

``QUERIES`` is a frozen choice of 5 of ``bench.py``'s 76 ``HEADLINE``
names, so a change to ``bench.py`` does not change this benchmark. One
warm pass of all 76 takes about 70 s at local[4], longer than a run may
last; these 5 keep the families the headline set covers in short
passes, so that a run's median pass rests on several passes. ``PYTHON`` names those whose physical plans run Python
workers (``MapInPandas`` or ``ArrowEvalPython``); the rest run in the
JVM only.
"""

#: the queries the workload runs: scan/aggregate, join and window
#: cores, one whose time goes into building the plan on the driver
#: (``bm25_topk``), and one that runs Python workers
QUERIES = (
    "q1_pricing_summary",
    "join_inner",
    "window_rank",
    "bm25_topk",
    "envelope_proto_roundtrip",
)

PYTHON = frozenset({"envelope_proto_roundtrip"})
