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


def test_dup_embedding_count_is_distinct_chunk_ids(spark):
    """The dup-vector metric counts DISTINCT chunk_ids whose merge saw
    more than one embedding — duplicate chunk ROWS in a malformed
    chunks table must not fan the count out (2 dup rows × 2 vectors is
    still 1 duplicated chunk_id)."""
    from pyspark.sql import functions as F

    from src_to_kb_spark.sinks.upload import (
        _docs_with_chunks,
        merge_embeddings_into_chunks,
    )

    docs = spark.createDataFrame(
        [("d1", "u1", 10, "en", "code", "t")],
        "doc_uid string, url string, size long, language_ext string, "
        "type string, text string",
    )
    chunks = spark.createDataFrame(
        [("c1", "d1", 0, "x", 1, 1), ("c1", "d1", 0, "x", 1, 1),
         ("c2", "d1", 1, "y", 2, 2)],
        "chunk_id string, doc_uid string, chunk_index int, "
        "content string, start_line int, end_line int",
    )
    emb = spark.createDataFrame(
        [("c1", [0.1]), ("c1", [0.2]), ("c2", [0.3])],
        "chunk_id string, embedding array<double>",
    )
    joined = _docs_with_chunks(
        docs, merge_embeddings_into_chunks(chunks, emb),
        with_embedding=True,
    )
    total = joined.agg(F.coalesce(F.sum("n_dup"), F.lit(0))).first()[0]
    assert total == 1
