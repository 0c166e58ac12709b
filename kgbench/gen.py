"""Seeded page generators and their ground truth.

Every input the benchmark feeds the program comes from here, as a pure
function of the workload seed: the program only ever sees the rendered
pages. Each generator also returns the truth the correctness gate
checks against: the (doc, pred, subject id, object id) triples the text
states, and the edge counts per type that a correct build must produce.

Two corpora:

- ``web_corpus``: pages built with ``synthetic.compose_text`` and
  ``render_html`` (97 head entities, surface forms ``Entity_k`` /
  ``Entity-k`` / ``Ek``), plus one hub sentence per page whose object is
  drawn from a Zipf law over the head entities, and nav links that point
  at other pages of the corpus (plus one external link that must not
  resolve).
- ``longtail_corpus``: a long-tail vocabulary. Entity ``k`` is written
  ``Org_k``, ``Org-k`` or ``ORG_k``, so the corpus holds up to three
  distinct names per entity.

``recrawl_batch`` draws one re-crawl batch against a mutable corpus
state: unchanged re-fetches, pages rewritten with new statements, and new
urls.
"""

from __future__ import annotations

import datetime as dt
import itertools
import random
from dataclasses import dataclass, field

from gitnexus_spark.synthetic import (N_ENTITIES, PREDS, compose_text,
                                      page_url, render_html)

#: filler vocabulary: lowercase only, so it adds no mention or triple
WORDS = ("data web page graph link node edge crawl text index query "
         "table shard batch store cache block token frame layer model "
         "search rank score vector match merge split join group").split()
#: predicates of the extra sentences (all in the extractor's vocabulary)
HUB_PREDS = ["launched", "owns", "leads", "joined", "left"]
SOURCES = ["news", "blog", "wiki", "shop", "forum", "docs"]
LANGS = ["en", "de", "fr"]
EXTERNAL = "https://elsewhere.example.net/out.html"
BASE_TS = dt.datetime(2024, 1, 1)


def longtail_forms(k: int) -> tuple[str, ...]:
    return (f"Org_{k}", f"Org-{k}", f"ORG_{k}")


def entity_of(name: str) -> int | None:
    """Entity id of any surface form either generator writes, else None."""
    for prefix in ("Entity_", "Entity-", "Org_", "Org-", "ORG_", "E"):
        if name.startswith(prefix) and name[len(prefix):].isdigit():
            return int(name[len(prefix):])
    return None


@dataclass
class Page:
    url: str
    doc_id: int
    lang: str
    text: str
    nav: list[str]
    triples: list[tuple[str, str, str]]   # (pred, subject form, object form)
    mentions: list[str]                   # surface forms in the text
    warc_ts: dt.datetime = BASE_TS

    def html(self) -> bytes:
        return render_html(self.doc_id, self.url, self.text, self.nav)


def _filler(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n)) + "."


def zipf_index(rng: random.Random, n: int, s: float = 1.2) -> int:
    """Index in [0, n) drawn from a Zipf law: a few heavy hubs."""
    cw = _ZIPF_CUM.get((n, s))
    if cw is None:
        cw = list(itertools.accumulate(1.0 / (i + 1) ** s for i in range(n)))
        _ZIPF_CUM[(n, s)] = cw
    return rng.choices(range(n), cum_weights=cw)[0]


_ZIPF_CUM: dict[tuple, list[float]] = {}


def _web_page(rng: random.Random, doc_id: int, source: str, lang: str,
              nav: list[str]) -> Page:
    url = page_url(doc_id, source, lang)
    hub = zipf_index(rng, N_ENTITIES)
    a = rng.randrange(N_ENTITIES)
    hp = rng.choice(HUB_PREDS)
    raw = f"{_filler(rng, rng.randint(20, 60))} Entity_{a} {hp} Entity_{hub}."
    text = compose_text(doc_id, raw)
    # the statements compose_text writes (see synthetic.py's docstring)
    e1, e2, e3 = (doc_id % N_ENTITIES, (doc_id * 7 + 13) % N_ENTITIES,
                  (doc_id * 31 + 5) % N_ENTITIES)
    subj = text.split(" ", 1)[0]
    pred = PREDS[doc_id % 5]
    triples = [(pred, subj, f"Entity_{e2}")]
    mentions = [subj, f"Entity_{e2}"]
    if doc_id % 3 == 0:
        triples += [("acquired", f"Entity_{e1}", f"Entity_{e2}"),
                    ("acquired", f"Entity_{e1}", f"Entity_{e3}")]
        mentions += [f"Entity_{e1}", f"Entity_{e3}"]
    triples.append((hp, f"Entity_{a}", f"Entity_{hub}"))
    mentions += [f"Entity_{a}", f"Entity_{hub}"]
    return Page(url, doc_id, lang, text, nav, triples, mentions)


def _longtail_page(rng: random.Random, doc_id: int, source: str, lang: str,
                   nav: list[str], n_entities: int,
                   sentences: int) -> Page:
    parts, triples, mentions = [], [], []
    for _ in range(sentences):
        a, b = rng.randrange(n_entities), rng.randrange(n_entities)
        fa, fb = rng.choice(longtail_forms(a)), rng.choice(longtail_forms(b))
        p = rng.choice(PREDS + HUB_PREDS)
        parts.append(f"{fa} {p} {fb}. {_filler(rng, rng.randint(5, 15))}")
        triples.append((p, fa, fb))
        mentions += [fa, fb]
    return Page(page_url(doc_id, source, lang), doc_id, lang, " ".join(parts),
                nav, triples, mentions)


@dataclass
class Corpus:
    """The generated pages by url, and how to write more of the same kind."""
    kind: str                    # "web" | "longtail"
    n_entities: int = N_ENTITIES
    sentences: int = 0
    pages: dict[str, Page] = field(default_factory=dict)

    def make_page(self, rng: random.Random, doc_id: int, source: str,
                  lang: str, nav: list[str]) -> Page:
        if self.kind == "web":
            return _web_page(rng, doc_id, source, lang, nav)
        return _longtail_page(rng, doc_id, source, lang, nav,
                              self.n_entities, self.sentences)

    def rows(self, urls=None) -> list[tuple]:
        """(url, warc_ts, html, text, lang) rows: the program's input schema."""
        ps = self.pages.values() if urls is None else (self.pages[u] for u in urls)
        return [(p.url, p.warc_ts, p.html(), p.text, p.lang) for p in ps]


def _corpus(c: Corpus, rng: random.Random, n_pages: int) -> Corpus:
    doc_ids = rng.sample(range(10 * n_pages + 1000), n_pages)
    meta = [(d, rng.choice(SOURCES), rng.choice(LANGS)) for d in doc_ids]
    urls = [page_url(d, s, lg) for d, s, lg in meta]
    for i, (d, s, lg) in enumerate(meta):
        c.pages[urls[i]] = c.make_page(rng, d, s, lg, _nav(rng, urls, i))
    return c


def web_corpus(seed: int, n_pages: int) -> Corpus:
    return _corpus(Corpus("web"), random.Random(f"web:{seed}"), n_pages)


def longtail_corpus(seed: int, n_pages: int, n_entities: int,
                    sentences: int) -> Corpus:
    return _corpus(Corpus("longtail", n_entities, sentences),
                   random.Random(f"longtail:{seed}"), n_pages)


def _nav(rng: random.Random, urls: list[str], i: int) -> list[str]:
    """Nav links: 2-4 corpus pages (a few popular ones get most links),
    sometimes root-relative, plus an external url that must not resolve."""
    n = len(urls)
    targets = {urls[zipf_index(rng, n, 0.8)] for _ in range(rng.randint(2, 4))}
    targets.discard(urls[i])
    out = sorted(targets)
    if out and rng.random() < 0.3:
        # root-relative form of a same-host target, resolved by the program
        host, path = out[0].split("/", 3)[2:]
        if host == urls[i].split("/", 3)[2]:
            out[0] = "/" + path
    return out + [EXTERNAL]


def recrawl_batch(corpus: Corpus, rng: random.Random, size: int,
                  step: int) -> list[str]:
    """Mutate ``corpus`` in place with one re-crawl batch; return its urls.

    A third of the batch re-fetches pages unchanged (later timestamp), a
    third re-writes pages with new statements (renamed subjects and
    objects, same url and links), and a third adds new urls whose links
    point only at existing pages (the program does not back-fill links
    from unchanged pages to new urls).
    """
    existing = sorted(corpus.pages)
    n_same = n_rename = size // 3
    picked = rng.sample(existing, n_same + n_rename)
    ts = BASE_TS + dt.timedelta(days=step + 1)
    for j, u in enumerate(picked):
        old = corpus.pages[u]
        if j >= n_same:
            source = u.split("//", 1)[1].split(".", 1)[0]
            old = corpus.make_page(rng, old.doc_id, source, old.lang, old.nav)
            corpus.pages[u] = old
        old.warc_ts = ts
    top = max(p.doc_id for p in corpus.pages.values()) + 1
    new = []
    for d in range(top, top + size - n_same - n_rename):
        nav = sorted({rng.choice(existing) for _ in range(3)}) + [EXTERNAL]
        p = corpus.make_page(rng, d, rng.choice(SOURCES), rng.choice(LANGS), nav)
        p.warc_ts = ts
        corpus.pages[p.url] = p
        new.append(p.url)
    return picked + new


# ---------------------------------------------------------------------------
# ground truth


def truth_triples(corpus: Corpus) -> set[tuple[str, str, int, int]]:
    """(doc_url, pred, subject entity, object entity), distinct."""
    return {(p.url, pred, entity_of(s), entity_of(o))
            for p in corpus.pages.values() for pred, s, o in p.triples}


def link_graph(corpus: Corpus) -> dict[str, set[str]]:
    """url -> urls of corpus pages it links to (relative links resolved)."""
    pages = corpus.pages
    out: dict[str, set[str]] = {}
    for u, p in pages.items():
        host = u.split("/", 3)[2]
        ts = {f"https://{host}{h}" if h.startswith("/") else h for h in p.nav}
        out[u] = {t for t in ts if t in pages}
    return out


def expected_edge_counts(corpus: Corpus) -> dict[str, int]:
    """Edge count per type of a correct graph over ``corpus``.

    CONTAINS: corpus->domain, domain->/lang, /lang->/lang/sN, section->page.
    LINKS_TO: distinct (page, target page in the corpus).
    MENTIONS: distinct (page, entity).
    <PRED>: distinct (subject entity, object entity) per predicate.
    """
    pages = corpus.pages
    hosts, secs1, secs2 = set(), set(), set()
    mentions = set()
    preds: dict[str, set] = {}
    for u, p in pages.items():
        host, path = u.split("/", 3)[2], u.split("/", 3)[3]
        dirs = path.split("/")[:-1]
        hosts.add(host)
        secs1.add((host, dirs[0]))
        secs2.add((host, dirs[0], dirs[1]))
        for m in p.mentions:
            mentions.add((u, entity_of(m)))
        for pred, s, o in p.triples:
            preds.setdefault(pred.upper(), set()).add((entity_of(s), entity_of(o)))
    out = {"CONTAINS": len(hosts) + len(secs1) + len(secs2) + len(pages),
           "LINKS_TO": sum(map(len, link_graph(corpus).values())), "MENTIONS": len(mentions)}
    out.update({k: len(v) for k, v in preds.items()})
    return out
