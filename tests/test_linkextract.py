"""Link-extraction predicate semantics — the golden-count filter cases
of the reference suite (tests/offline.py:166-239), replicated on a
synthetic span fixture (FIXTURES.md §8): same six filter dimensions,
deterministic expected counts."""

import pytest

from openslack_crawler_spark.operators.linkextract import (
    apply_link_predicates,
    extract_link_spans,
)

LINKS = [
    "http://www.foxnews.com/us/index.html",
    "http://www.foxnews.com/shock/story.html",
    "http://cnn.com/a.html",
    "http://cnn.com/b.pdf",
    "http://sub.foxnews.com/c.html",
    "http://example.org/shock-value",
    "http://example.org/d.zip",
    "http://cnn.com/a.html",  # duplicate within page → unique_list drops it
]


# a second page for unique_list's edge cases: a url whose lower offset
# sits later in the array, two NULL-text links (NULL equals NULL), and a
# text span that repeats a link's url at a lower offset (only links count)
EDGE_SPANS = [
    ("text", "http://x.org/b", "", 1),
    ("link", "http://x.org/a", "", 9),
    ("link", "http://x.org/b", "", 4),
    ("link", "http://x.org/a", "", 2),
    ("link", None, "", 6),
    ("link", None, "", 5),
]


@pytest.fixture(scope="module")
def extracted(spark):
    spans = [("text", "intro", "", 0)] + [
        ("link", u, "", i + 1) for i, u in enumerate(LINKS)
    ] + [("image", "", "img-1", len(LINKS) + 1)]
    docs = spark.createDataFrame(
        [("doc-1", spans), ("doc-2", EDGE_SPANS)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    return extract_link_spans(docs).cache()


@pytest.fixture(scope="module")
def links(extracted):
    return extracted.filter("doc_id = 'doc-1'")


def test_unique_list_keeps_lowest_offset_per_url(extracted):
    got = [(r.doc_id, r.link_url, r.anchor_offset) for r in extracted.collect()]
    want = [("doc-1", u, i + 1) for i, u in enumerate(LINKS[:-1])] + [
        ("doc-2", "http://x.org/a", 2),
        ("doc-2", "http://x.org/b", 4),
        ("doc-2", None, 5),
    ]
    assert sorted(got, key=repr) == sorted(want, key=repr)


def test_no_filter_keeps_unique_links(links):
    # unique_list per page (lxmlhtml.py:67-68): 8 anchors, 7 unique
    assert links.count() == 7


def test_allowed_domains(links):
    # offline.py:214-218 analogue: domain + subdomains
    got = apply_link_predicates(links, allowed_domains=["foxnews.com"])
    assert got.count() == 3


def test_allow_regex(links):
    got = apply_link_predicates(links, allow_regex=".*shock.*")
    assert got.count() == 2


def test_deny_regex(links):
    got = apply_link_predicates(links, deny_regex=".*cnn.com.*")
    assert got.count() == 5


def test_deny_extensions(links):
    got = apply_link_predicates(links, deny_extensions=["pdf", "zip"])
    assert got.count() == 5


def test_combined(links):
    got = apply_link_predicates(
        links, allowed_domains=["cnn.com"], deny_extensions=["pdf"]
    )
    assert got.count() == 1


def test_first_occurrence_offset(links):
    r = links.filter("link_url = 'http://cnn.com/a.html'").collect()[0]
    assert r.anchor_offset == 3  # first occurrence, not the later duplicate


def test_unique_list_on_a_large_page(spark):
    """A 2000-link page with repeated and NULL urls keeps each url's first
    occurrence, as the reference's unique_list over document order does."""
    import random

    rng = random.Random(7)
    urls = [
        None if rng.random() < 0.05 else f"http://h.org/{rng.randrange(600)}"
        for _ in range(2000)
    ]
    # offsets are distinct but shuffled against array order
    offsets = rng.sample(range(1, 10 * len(urls)), len(urls))
    spans = [("link", u, "", o) for u, o in zip(urls, offsets)]
    docs = spark.createDataFrame(
        [("big", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = [(r.link_url, r.anchor_offset) for r in extract_link_spans(docs).collect()]

    def unique_list(items):  # lxmlhtml.py:67-68, keyed on the url
        seen, out = set(), []
        for url, offset in items:
            if url not in seen:
                seen.add(url)
                out.append((url, offset))
        return out

    want = unique_list(sorted(zip(urls, offsets), key=lambda p: p[1]))
    assert len(want) < len(urls) and None in {u for u, _ in want}
    assert sorted(got, key=repr) == sorted(want, key=repr)
