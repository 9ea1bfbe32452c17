"""Round-10 crawl ops: robots.txt REP semantics on planted edge cases,
and entity resolution against its planted truth."""

from __future__ import annotations

from fusionspark.operators.urls import parse_robots_rules, robots_decisions


def test_robots_parse_grammar(spark):
    txt = (
        "# comment line\n"
        "User-agent: *\n"
        "DISALLOW: /private\n"          # case-insensitive directive
        "Allow:    /private/ok\n"       # extra whitespace
        "\n"                            # blank line
        "Disallow:\n"                   # empty path -> dropped (allow-all)
        "Crawl-delay: 10\n"             # non-rule directive -> dropped
    )
    df = spark.createDataFrame([("s1", txt)], "source string, robots_txt string")
    got = {(r.directive, r.path) for r in parse_robots_rules(df).collect()}
    assert got == {("disallow", "/private"), ("allow", "/private/ok")}


def test_robots_longest_match_and_tie(spark):
    rules = spark.createDataFrame(
        [
            ("s1", "disallow", "/a"),
            ("s1", "allow", "/a/b"),      # longer -> overrides
            ("s1", "disallow", "/xy"),
            ("s1", "allow", "/xz"),
            ("s1", "allow", "/t"),        # equal length vs next
            ("s1", "disallow", "/t"),     # tie -> allow wins
        ],
        "source string, directive string, path string",
    )
    urls = spark.createDataFrame(
        [
            (1, "s1", "/a/c"),      # only /a matches -> deny
            (2, "s1", "/a/b/c"),    # /a and /a/b match -> allow (longest)
            (3, "s1", "/t/q"),      # tie at length 2 -> allow
            (4, "s1", "/free"),     # nothing matches -> allow, empty rule
            (5, "s1", "/xy/1"),     # deny
        ],
        "doc_id long, source string, path string",
    )
    got = {r.doc_id: (r.decision, r.matched_rule)
           for r in robots_decisions(urls, rules).collect()}
    assert got == {
        1: ("deny", "/a"),
        2: ("allow", "/a/b"),
        3: ("allow", "/t"),
        4: ("allow", ""),
        5: ("deny", "/xy"),
    }


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
