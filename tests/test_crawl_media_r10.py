"""Round-10 crawl ops: entity resolution against its planted truth."""

from __future__ import annotations


def test_entity_resolution_planted_truth(spark):
    """The pipeline must recover EXACTLY the planted entities at
    sf0.001: entity_id = 4*custkey, cluster sizes 2/3/4 by the %3/%5
    laws, and no cross-entity merge anywhere (distinct keys are >=4
    edits apart while the threshold is 2)."""
    from fusionspark.queries import REGISTRY, load_all

    load_all()
    rows = REGISTRY["entity_resolution"][0](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_entity = {}
    for r in rows:
        assert r.entity_id == 4 * r.custkey
        want = 2 + (r.custkey % 3 == 0) + (r.custkey % 5 == 0)
        assert r.cluster_size == want
        by_entity.setdefault(r.entity_id, []).append(r.record_id)
    for eid, recs in by_entity.items():
        assert len(recs) == len(set(recs))
        assert min(recs) == eid
