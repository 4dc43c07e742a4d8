"""Offline tests for the live-browser loop contracts (selenium_fetch.py):
A1 pagination and A2 scroll-harvest semantics, and the merged
one-document-per-leaf fetcher, against fake BrowserPorts — no Selenium, no
network, every termination branch exercised."""

from __future__ import annotations

import re

import pytest

from e2e_etl_pipeline_spark.sources.acquire import synthetic_fetcher
from e2e_etl_pipeline_spark.sources.selenium_fetch import (
    LOOP_STYLE,
    make_browser_fetcher,
    paginated_fetch,
    scroll_fetch,
    selenium_port,
)


class FakePagedPort:
    """Serves a fixed sequence of pages, then reports no next control."""

    def __init__(self, pages):
        self._pages = pages
        self._at = 0
        self.clicks = 0
        self.opened = None
        self.closed = False

    def open(self, url):
        self.opened = url

    def harvest(self):
        return list(enumerate(self._pages[self._at]))

    def next_page(self):
        if self._at + 1 >= len(self._pages):
            return False
        self.clicks += 1
        self._at += 1
        return True

    def scroll(self):  # pragma: no cover - not used by pagination
        raise AssertionError("pagination loop must not scroll")

    def close(self):
        self.closed = True


class FakeScrollPort:
    """A virtualized list: each scroll moves to the next window of
    (index, html) rows, and only the current window is in the DOM; past
    the last window the view stays put (the stale-progress condition)."""

    def __init__(self, windows):
        self._windows = windows
        self._at = 0
        self.scrolls = 0
        self.opened = None
        self.closed = False

    def open(self, url):
        self.opened = url

    def harvest(self):
        return list(self._windows[self._at]) if self._windows else []

    def next_page(self):  # pragma: no cover - not used by scroll
        raise AssertionError("scroll loop must not paginate")

    def scroll(self):
        self.scrolls += 1
        self._at = min(self._at + 1, len(self._windows) - 1)

    def close(self):
        self.closed = True


def test_paginated_fetch_concatenates_pages_in_order():
    port = FakePagedPort([["a0", "a1"], ["b0"], ["c0", "c1"]])
    out = paginated_fetch(port, "http://x")
    assert out == [(0, "a0"), (1, "a1"), (2, "b0"), (3, "c0"), (4, "c1")]
    assert port.clicks == 2  # never clicks past the last page


def test_paginated_fetch_respects_page_cap():
    port = FakePagedPort([["p"]] * 10)
    out = paginated_fetch(port, "http://x", max_pages=3)
    assert len(out) == 3


def test_browser_fetcher_merges_every_page_into_one_div():
    port = FakePagedPort([["<a>1</a>", "<a>2</a>"], ["<a>3</a>"], ["<a>4</a>"]])
    fetch = make_browser_fetcher(lambda site: port)
    assert fetch("ppl", "wro", "mid") == [
        (0, "<div><a>1</a><a>2</a><a>3</a><a>4</a></div>")
    ]
    assert port.clicks == 2  # never clicks past the last page


def test_paginated_fetch_caps_an_endless_listing():
    class EndlessPort(FakePagedPort):
        def next_page(self):
            return True  # the next control never disappears

    out = paginated_fetch(EndlessPort([["<a>x</a>"]]), "http://x", max_pages=7)
    assert [html for _, html in out] == ["<a>x</a>"] * 7


def test_scroll_fetch_dedups_first_write_wins_and_sorts_by_index():
    # window 2 re-serves index 1 with different html: the first write wins
    # (extract_data.py:194-197); output is int-sorted (:245), so 10 sorts
    # after 2, not lexicographically.
    port = FakeScrollPort(
        [[(1, "one"), (0, "zero")], [(2, "two"), (1, "ONE-CHANGED")], [(10, "ten")]]
    )
    out = scroll_fetch(port, "http://x", max_stale_rounds=2, max_rounds=50)
    assert out == [(0, "zero"), (1, "one"), (2, "two"), (10, "ten")]


def test_scroll_fetch_stops_after_stale_rounds():
    port = FakeScrollPort([[(0, "only")]])
    scroll_fetch(port, "http://x", max_stale_rounds=3, max_rounds=100)
    # The watermark baselines AFTER the initial harvest (reference
    # extract_data.py:218-223), so a page that never grows burns its
    # stale budget from loop round 1: stale rounds 1 and 2 each scroll,
    # round 3 breaks before scrolling — exactly 2 scrolls, no free
    # first-sight round.
    assert port.scrolls == 2


def test_browser_fetcher_merged_ul_keeps_first_write_in_integer_order():
    # windows overlap (index 1 re-rendered) and arrive out of order; the
    # merged document keeps the first write and puts 10 after 2
    port = FakeScrollPort(
        [
            [(0, "<li>a</li>"), (1, "<li>b</li>")],
            [(1, "<li>b-re</li>"), (2, "<li>c</li>"), (10, "<li>k</li>")],
        ]
    )
    fetch = make_browser_fetcher(lambda site: port)
    assert fetch("jjit", "wro", "mid") == [
        (0, "<ul><li>a</li><li>b</li><li>c</li><li>k</li></ul>")
    ]


def test_browser_fetcher_ends_a_listing_that_never_grows():
    port = FakeScrollPort([[(0, "<li>only</li>")]])
    fetch = make_browser_fetcher(lambda site: port)
    assert fetch("jjit", "wro", "mid") == [(0, "<ul><li>only</li></ul>")]
    # the fetcher's default stale budget (5) ends the loop after 4 scrolls,
    # far below its 400-round cap
    assert port.scrolls == 4


def test_scroll_fetch_baselines_after_initial_harvest():
    """The initial harvest itself is not loop progress: a page whose
    content never changes trips a 1-round stale budget without a single
    scroll (extract_data.py:218-223)."""
    port = FakeScrollPort([[(0, "a")]])
    assert scroll_fetch(port, "http://x", max_stale_rounds=1) == [(0, "a")]
    assert port.scrolls == 0


def test_scroll_fetch_survives_one_stale_render_between_reveals():
    # A lagging re-render (an empty window) between two reveals is one
    # stale round; under a 2-round budget the harvest must go on to the
    # next reveal instead of ending while content is still arriving.
    port = FakeScrollPort([[(0, "a")], [(1, "b")], [], [(2, "c")]])
    out = scroll_fetch(port, "http://x", max_stale_rounds=2)
    assert out == [(0, "a"), (1, "b"), (2, "c")]


def test_scroll_fetch_bounded_by_max_rounds():
    class EndlessPort(FakeScrollPort):
        def harvest(self):
            # a new row every round: progress never goes stale
            return [(self.scrolls, f"row{self.scrolls}")]

    port = EndlessPort([])
    out = scroll_fetch(port, "http://x", max_stale_rounds=5, max_rounds=7)
    assert len(out) == 7


def test_make_browser_fetcher_dispatch_and_teardown():
    """One merged document per leaf — <ul> for the scroll site, <div> for
    the paged one, fragments in integer-index / page order — fetched from
    the reference's listing URLs, with the port closed even on failure."""
    made = {}

    def factory(site):
        port = (
            FakeScrollPort([[(10, "<li>k</li>"), (2, "<li>c</li>")]])
            if LOOP_STYLE[site] == "scroll"
            else FakePagedPort([["<p>0</p>"], ["<p>1</p>"]])
        )
        made[site] = port
        return port

    fetch = make_browser_fetcher(factory)
    assert fetch("jjit", "warszawa", "junior") == [
        (0, "<ul><li>c</li><li>k</li></ul>")
    ]
    assert fetch("ppl", "warszawa", "junior") == [(0, "<div><p>0</p><p>1</p></div>")]
    assert all(p.closed for p in made.values())
    assert made["jjit"].opened == (
        "https://justjoin.it/job-offers/warszawa"
        "?experience-level=junior&with-salary=yes"
    )
    assert made["ppl"].opened == "https://it.pracuj.pl/praca/warszawa;wp?et=junior&sal=1"

    class BrokenPort(FakeScrollPort):
        def harvest(self):
            raise RuntimeError("render failed")

    broken = BrokenPort([])
    with pytest.raises(RuntimeError, match="render failed"):
        make_browser_fetcher(lambda site: broken)("jjit", "wro", "mid")
    assert broken.closed


def test_browser_fetcher_feeds_acquire_dataframe(spark):
    """End-to-end: the browser fetcher emits exactly the document
    synthetic_fetcher emits for the same rows, and plugs into
    fetched_documents as the standard raw-document frame."""
    import datetime as dt

    from e2e_etl_pipeline_spark.sources.acquire import fetched_documents

    [(_, doc)] = synthetic_fetcher("jjit", "wro", "mid")
    items = re.findall(r"<li .*?</li>", doc)
    fetch = make_browser_fetcher(lambda site: FakeScrollPort([list(enumerate(items))]))
    assert fetch("jjit", "wro", "mid") == [(0, doc)]
    df = fetched_documents(
        spark,
        [("jjit", "wro", "mid")],
        ingest_date=dt.date(2026, 1, 15),
        fetcher=fetch,
    )
    row = df.first()
    assert (row.site, row.region, row.doc_id, row.html) == ("jjit", "wro", 0, doc)


def test_selenium_port_raises_cleanly_without_selenium():
    try:
        import selenium  # noqa: F401
    except ImportError:
        pass
    else:
        pytest.skip("selenium installed here; the import gate isn't exercisable")
    fetch = make_browser_fetcher(selenium_port)
    with pytest.raises(NotImplementedError, match="selenium is not installed"):
        fetch("jjit", "all-locations", "junior")


def test_selenium_port_raises_cleanly_for_the_paged_site():
    try:
        import selenium  # noqa: F401
    except ImportError:
        pass
    else:
        pytest.skip("selenium installed here; the import gate isn't exercisable")
    with pytest.raises(NotImplementedError, match="selenium is not installed"):
        selenium_port("ppl")
