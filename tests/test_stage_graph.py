"""The declared KG stage graph, checked without Spark: the resume
invalidation it derives for each resume-identity key."""

from __future__ import annotations

import pytest

from src_to_kb_spark.pipeline import STAGES, downstream, invalidated_by

ALL = {"documents", "chunks", "linked", "bands", "neardup_pairs",
       "components"}


@pytest.mark.parametrize("changed,stale", [
    ({"chunk_size"}, {"chunks"}),
    ({"overlap"}, {"chunks"}),
    ({"chunk_size", "overlap"}, {"chunks"}),
    ({"neardup_threshold"}, {"neardup_pairs", "components"}),
    ({"bands_scheme"}, {"bands", "neardup_pairs", "components"}),
    (set(), set()),
])
def test_invalidation_closure(changed, stale):
    assert invalidated_by(changed) == stale


def test_graph_is_declared_in_dependency_order():
    seen = {"pages"}
    for st in STAGES:
        assert set(st.inputs) <= seen, st.name
        seen.add(st.name)
    assert seen - {"pages"} == ALL
    # a documents delta (or a crash mid-reconcile) reaches every stage
    assert downstream({"documents"}) == ALL
