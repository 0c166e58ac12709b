"""Correctness gate: what a correct graph over a generated corpus holds.

Pure Python over the generator's truth (``gen.Corpus``) and rows the
benchmark collected from the program, so it can be unit-tested without
Spark. Every function returns plain values; the runner decides which
operation a failed check marks as failed.
"""

from __future__ import annotations

import hashlib
from collections import Counter

from gen import Corpus, entity_of, truth_triples

#: BASELINE.json's bar for resolved triples against the reference
MIN_PR = 0.95


def page_id(url: str) -> str:
    """The program's Page node id: md5("Page|" + url)."""
    return hashlib.md5(f"Page|{url}".encode()).hexdigest()


def score_triples(resolved_rows, corpus: Corpus) -> tuple[float, float]:
    """Precision and recall of resolved triples against the generator.

    resolved_rows: (doc_url, pred, subj, obj) of the triples the program
    resolved on both endpoints. Surface forms map back to entity ids, so
    any canonical form of the right entity counts; a name no generator
    wrote counts as wrong.
    """
    truth = truth_triples(corpus)
    got = {(u, p, entity_of(s), entity_of(o)) for u, p, s, o in resolved_rows}
    hit = len(got & truth)
    precision = hit / len(got) if got else 0.0
    recall = hit / len(truth) if truth else 1.0
    return precision, recall


def count_mismatches(got: dict[str, int], want: dict[str, int]) -> dict:
    """{edge type: (got, want)} for every type whose counts differ."""
    return {t: (got.get(t, 0), want.get(t, 0))
            for t in sorted(set(got) | set(want))
            if got.get(t, 0) != want.get(t, 0)}


# ---------------------------------------------------------------------------
# expected answers of the read-path requests


def canonical_names(corpus: Corpus) -> dict[int, str]:
    """Entity id -> the name of its graph node.

    The program names a coreference component by its smallest member.
    Web entities always have the alias-dictionary form ``Ek`` in their
    component; long-tail components hold the forms the corpus wrote.
    """
    if corpus.kind == "web":
        ids = {entity_of(m) for p in corpus.pages.values() for m in p.mentions}
        return {k: f"E{k}" for k in ids}
    best: dict[int, str] = {}
    for p in corpus.pages.values():
        for m in p.mentions:
            k = entity_of(m)
            if k not in best or m < best[k]:
                best[k] = m
    return best


def mention_counts(corpus: Corpus) -> Counter:
    """Entity id -> number of pages mentioning it."""
    return Counter(k for p in corpus.pages.values()
                   for k in {entity_of(m) for m in p.mentions})


def reach_1_2(graph: dict[str, set[str]], start: str) -> set[str]:
    """Pages at the end of a 1- or 2-hop LINKS_TO path from ``start``
    that does not revisit ``start``."""
    one = graph.get(start, set())
    two = {t for m in one for t in graph.get(m, ())}
    return (one | two) - {start}


def scc_count(graph: dict[str, set[str]]) -> int:
    """Strongly connected components among the endpoints of link edges
    (iterative Tarjan)."""
    verts = {u for u, ts in graph.items() if ts} | {
        t for ts in graph.values() for t in ts}
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on_stack: set[str] = set()
    stack: list[str] = []
    n_comp = 0
    counter = 0
    for root in sorted(verts):
        if root in index:
            continue
        work = [(root, iter(sorted(graph.get(root, ()))))]
        index[root] = low[root] = counter
        counter += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(sorted(graph.get(w, ())))))
                    advanced = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                low[work[-1][0]] = min(low[work[-1][0]], low[v])
            if low[v] == index[v]:
                n_comp += 1
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    if w == v:
                        break
    return n_comp
