"""The generators are pure functions of the seed, and their truth is
consistent with the pages they render."""

import copy
import random

import gen
from gitnexus_spark.functions.html import html_to_text
from gitnexus_spark.operators.extract import TRIPLE_RE


def test_web_corpus_is_deterministic_per_seed():
    a, b = gen.web_corpus(7, 200), gen.web_corpus(7, 200)
    assert a.rows() == b.rows()
    assert gen.web_corpus(8, 200).rows() != a.rows()


def test_longtail_corpus_is_deterministic_per_seed():
    a = gen.longtail_corpus(3, 100, 500, 4)
    assert a.rows() == gen.longtail_corpus(3, 100, 500, 4).rows()
    assert gen.longtail_corpus(4, 100, 500, 4).rows() != a.rows()


def test_recrawl_batch_is_deterministic_and_mixed():
    c = gen.web_corpus(1, 300)
    c1, c2 = copy.deepcopy(c), copy.deepcopy(c)
    b1 = gen.recrawl_batch(c1, random.Random(5), 9, 0)
    b2 = gen.recrawl_batch(c2, random.Random(5), 9, 0)
    assert b1 == b2 and c1.rows() == c2.rows()
    new = [u for u in b1 if u not in c.pages]
    same = [u for u in b1 if u in c.pages and c1.pages[u].text == c.pages[u].text]
    assert len(new) == 3 and len(same) >= 3
    # new pages link only to pages that existed before the batch
    for u in new:
        assert all(h in c.pages for h in c1.pages[u].nav if h != gen.EXTERNAL)


def test_rendered_text_carries_exactly_the_truth_triples():
    for c in (gen.web_corpus(2, 50), gen.longtail_corpus(2, 50, 100, 3)):
        for p in c.pages.values():
            text = html_to_text(p.html())
            assert text == p.text
            got = [(m.group(2), m.group(1), o)
                   for m in TRIPLE_RE.finditer(text)
                   for o in m.group(3).split(" and ")]
            assert sorted(got) == sorted(p.triples)


def test_expected_counts_have_links_and_every_edge_type():
    c = gen.web_corpus(1, 300)
    want = gen.expected_edge_counts(c)
    assert want["LINKS_TO"] > 0
    assert want["CONTAINS"] > len(c.pages)
    assert {"MENTIONS", "FOUNDED", "LEADS"} <= set(want)


def test_entity_of_reads_every_surface_form():
    for k in (0, 5, 96):
        assert {gen.entity_of(f) for f in (f"Entity_{k}", f"Entity-{k}", f"E{k}")} == {k}
        assert {gen.entity_of(f) for f in gen.longtail_forms(k)} == {k}
    assert gen.entity_of("Elsewhere") is None
