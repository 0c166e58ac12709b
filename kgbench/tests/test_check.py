"""The correctness gate's scorers on hand-built graphs."""

import check
import gen


def _corpus(pages):
    c = gen.Corpus("web")
    for url, nav, triples in pages:
        mentions = [x for _, s, o in triples for x in (s, o)]
        c.pages[url] = gen.Page(url, 0, "en", "", nav, triples, mentions)
    return c


A, B, C = ("https://h.example.org/en/s1/p1.html",
           "https://h.example.org/en/s1/p2.html",
           "https://g.example.org/de/s2/p3.html")
CORPUS = _corpus([
    (A, [B, "/en/s1/p2.html", gen.EXTERNAL],
     [("founded", "Entity_1", "Entity_2"), ("owns", "E1", "Entity-3")]),
    (B, [A, C], [("acquired", "Entity_2", "Entity_3")]),
    (C, [], [("leads", "Entity_4", "Entity_1")]),
])


def test_score_is_perfect_for_any_surface_form_of_the_truth():
    rows = [(A, "founded", "E1", "E2"), (A, "owns", "Entity-1", "E3"),
            (B, "acquired", "E2", "Entity_3"), (C, "leads", "E4", "E1")]
    assert check.score_triples(rows, CORPUS) == (1.0, 1.0)


def test_score_counts_wrong_and_missing_triples():
    rows = [(A, "founded", "E1", "E2"),        # right
            (A, "owns", "E1", "E4"),           # wrong object
            (B, "acquired", "E2", "Nobody")]   # name no generator wrote
    p, r = check.score_triples(rows, CORPUS)
    assert p == 1 / 3
    assert r == 1 / 4


def test_expected_edge_counts_on_a_hand_built_corpus():
    want = gen.expected_edge_counts(CORPUS)
    # 2 hosts + 2 /lang sections + 2 /lang/sN sections + 3 pages
    assert want["CONTAINS"] == 9
    # A->B (absolute and relative collapse), B->A, B->C; external dropped
    assert want["LINKS_TO"] == 3
    # A: {1, 2, 3}, B: {2, 3}, C: {4, 1}
    assert want["MENTIONS"] == 7
    assert want["FOUNDED"] == want["OWNS"] == want["LEADS"] == 1


def test_count_mismatches_lists_only_differences():
    assert check.count_mismatches({"A": 1, "B": 2}, {"A": 1, "B": 2}) == {}
    assert check.count_mismatches({"A": 1}, {"A": 2, "C": 1}) == {
        "A": (1, 2), "C": (0, 1)}


def test_reach_and_scc_on_the_link_graph():
    g = gen.link_graph(CORPUS)
    assert g == {A: {B}, B: {A, C}, C: set()}
    assert check.reach_1_2(g, A) == {B, C}
    # {A, B} is one cycle, C its own component
    assert check.scc_count(g) == 2


def test_canonical_names_pick_the_smallest_form():
    c = gen.longtail_corpus(1, 30, 5, 4)
    names = check.canonical_names(c)
    for k, name in names.items():
        forms = {m for p in c.pages.values() for m in p.mentions
                 if gen.entity_of(m) == k}
        assert name == min(forms)
    assert check.canonical_names(CORPUS)[1] == "E1"
