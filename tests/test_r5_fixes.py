"""Round-5 review-fix pins: incremental-CC property test.

The quotient-graph contraction in ``incremental_components``
(canonicalize.py) is EXACT by the min-label closure argument in its
docstring; this file checks the claim the adversarial way — random
graphs, random base/delta splits, merged labels must equal a
from-scratch run over the union.  The driver's oracle row
(`incremental_components` in __spark_entry__.py) pins one structured
holdout at sf0.01; hypothesis covers the shapes that row can't reach:
delta edges between two brand-new nodes, deltas that bridge many
committed components at once, self-loops, duplicate edges, and empty
bases/deltas.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from src_to_kb_spark.operators.canonicalize import (
    connected_components,
    incremental_components,
)

_NODES = [f"n{i:02d}" for i in range(10)]

_edge = st.tuples(
    st.sampled_from(_NODES), st.sampled_from(_NODES)
)


def _pairs_df(spark, edges):
    schema = "key_a string, key_b string"
    if not edges:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(edges, schema)


def _labels(df):
    return sorted((r["key"], r["canon_id"]) for r in df.collect())


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(_edge, max_size=12),
    delta=st.lists(_edge, max_size=8),
)
def test_incremental_components_equals_from_scratch(spark, base, delta):
    committed = connected_components(_pairs_df(spark, base))
    merged = incremental_components(committed, _pairs_df(spark, delta))
    scratch = connected_components(_pairs_df(spark, base + delta))
    # both sides label exactly the endpoints of NON-LOOP edges:
    # connected_components filters a == b before deriving its node
    # set, and incremental_components drops self-loop delta edges up
    # front for the same reason — a key appearing only in (x, x)
    # edges gets no label from either path
    assert _labels(merged) == _labels(scratch)
