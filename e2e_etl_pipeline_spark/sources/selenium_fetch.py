"""Live-browser fetcher: the reference's two acquisition loop contracts
behind the driver-side ``Fetcher`` protocol (acquire.py).

The reference drives Chrome over two job boards:

* A1 — pagination loop (DataExtract/extract_data.py:108-146): load the
  listing URL, collect every offer fragment on the page, click "next",
  repeat until the control disappears or a round cap is hit.
* A2 — infinite scroll with keyed dedup (DataExtract/extract_data.py:
  199-246): repeatedly harvest the virtualized rows currently in the DOM
  into a first-write-wins map keyed on their monotone ``data-index``,
  scroll, and stop after ``max_stale_rounds`` consecutive rounds in which
  neither the row count nor the max index advanced (progress test
  :234-237), bounded by ``max_rounds`` (:113-114).

Both loops return ordered ``(idx, html)`` fragments; a caller that wants
fragments calls them directly. :func:`make_browser_fetcher` merges them
into ONE document per leaf (``<ul>…</ul>`` scroll site, ``<div>…</div>``
paged site): the reference's single-file raw artifact
(``JustJoinITScraper.scrape(...) -> str``) and the shape
``acquire.synthetic_fetcher`` emits, so offline and live fetches share one
contract.

Selenium is optional, so the loops run against the minimal
:class:`BrowserPort` (offline fakes in ``tests/test_acquire_selenium.py``);
``make_browser_fetcher(selenium_port)`` is the live fetcher. Acquisition
stays driver-side (SURVEY.md §3.2): the WebDriver process boundary must
never sit inside a cluster-side operator.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Protocol

from e2e_etl_pipeline_spark.sources.acquire import Fetcher

# Site-specific listing-URL templates: the reference's _build_url
# (extract_data.py:47-51 and :74-79, :163-167), salaried offers only.
# Options are data, not code: new sites register a template + loop style.
URL_TEMPLATES = {
    "jjit": (
        "https://justjoin.it/job-offers/{region}"
        "?experience-level={experience}&with-salary=yes"
    ),
    # "ppl" is the reference's abbreviation (config.py:13) and the key
    # pipeline/offers.py parses under; any other key drops every row.
    "ppl": "https://it.pracuj.pl/praca/{region};wp?et={experience}&sal=1",
}
LOOP_STYLE = {"jjit": "scroll", "ppl": "paginate"}


class BrowserPort(Protocol):
    """The five interactions the two loop contracts need: the WebDriver
    surface (waits, clicks, execute_script — extract_data.py:100-106,
    182-197) collapsed so the loops are testable without a browser."""

    def open(self, url: str) -> None:
        """Navigate to the listing page."""

    def harvest(self) -> Iterable[tuple[int, str]]:
        """(item_index, outer_html) for every offer currently in the DOM."""

    def next_page(self) -> bool:
        """Click the next-page control; False if absent/disabled."""

    def scroll(self) -> None:
        """Advance the virtualized list by one scroll step."""

    def close(self) -> None:
        """Tear the browser down (context-manager duty in the reference,
        extract_data.py:285-292)."""


def paginated_fetch(
    port: BrowserPort, url: str, max_pages: int = 400
) -> list[tuple[int, str]]:
    """A1 contract: page loop with re-keyed append (extract_data.py:108-146).

    Offers accumulate in arrival order across pages (the reference's
    ``all_offers.extend`` at :128-137); doc ids are the running position.
    Stops when the next control is gone or after ``max_pages`` rounds.
    """
    out: list[tuple[int, str]] = []
    port.open(url)
    for _page in range(max_pages):
        for _idx, html in port.harvest():
            out.append((len(out), html))
        if not port.next_page():
            break
    return out


def scroll_fetch(
    port: BrowserPort,
    url: str,
    max_stale_rounds: int = 5,
    max_rounds: int = 400,
) -> list[tuple[int, str]]:
    """A2 contract: scroll-harvest with first-write-wins keyed dedup and
    stale-progress termination (extract_data.py:199-246).

    The progress watermark is the pair (distinct rows seen, max index seen)
    — a round advances it or counts as stale; ``max_stale_rounds``
    consecutive stale rounds end the loop (:234-237), ``max_rounds`` bounds
    it absolutely (:113-114). Output is ordered by the integer index
    (:245), matching the engine's ``orderBy(idx.cast long)`` semantics.
    """
    seen: dict[int, str] = {}

    def harvest() -> tuple[int, int]:
        for idx, html in port.harvest():
            seen.setdefault(idx, html)
        return len(seen), max(seen, default=-1)

    port.open(url)
    # Initial harvest, then baseline the watermark AFTER it
    # (extract_data.py:218-223): loop round 1 counts as progress only if
    # its own harvest adds items beyond the initial collect. A (0, -1)
    # baseline would grant one free round whenever the page loads
    # non-empty, changing the harvested artifact under a tight stale budget.
    watermark = harvest()
    stale = 0
    for _round in range(max_rounds):
        progress = harvest()
        if progress == watermark:
            stale += 1
            if stale >= max_stale_rounds:
                break
        else:
            stale = 0
            watermark = progress
        port.scroll()
    return [(idx, seen[idx]) for idx in sorted(seen)]


def make_browser_fetcher(port_factory) -> Fetcher:
    """Adapt a BrowserPort factory to the acquire.Fetcher signature.

    ``port_factory(site) -> BrowserPort``; loop style and URL come from
    the per-site registries above. A fetch returns one merged document,
    ``[(0, "<ul>…</ul>")]`` (scroll) or ``[(0, "<div>…</div>")]`` (paged),
    fragments in loop order. The port is always closed, even on a failing
    fetch (the reference's context-manager teardown, :285-292).
    """

    def fetch(site: str, region: str, experience: str) -> list[tuple[int, str]]:
        url = URL_TEMPLATES[site].format(region=region, experience=experience)
        port = port_factory(site)
        try:
            if LOOP_STYLE[site] == "scroll":
                tag, rows = "ul", scroll_fetch(port, url)
            else:
                tag, rows = "div", paginated_fetch(port, url)
        finally:
            port.close()
        return [(0, f"<{tag}>" + "".join(html for _, html in rows) + f"</{tag}>")]

    return fetch


def selenium_port(site: str) -> BrowserPort:  # pragma: no cover - optional dep
    """Real-browser adapter, available only where selenium + Chrome exist.

    Selectors mirror the reference's DOM contracts (jjit rows keyed on
    data-index :181-197; ppl offers keyed on page position :82-85; next
    button scrolled into view, then clicked :100-106). A harvest is one
    execute_script round-trip, not one WebDriver call per element.
    """
    try:
        from selenium import webdriver
        from selenium.webdriver.common.by import By
    except ImportError as exc:
        raise NotImplementedError(
            "selenium is not installed in this environment; use "
            "make_browser_fetcher with an offline BrowserPort instead"
        ) from exc

    selector = {
        "jjit": "#up-offers-list ul li[data-index]",
        "ppl": "[data-test='section-offers'] div[data-test='default-offer']",
    }[site]
    harvest_js = (
        "return Array.from(document.querySelectorAll(arguments[0]))"
        ".map((e, i) => [e.getAttribute('data-index') ?? i, e.outerHTML]);"
    )

    class _SeleniumPort:
        # The reference's per-round scroll step (extract_data.py:199-246).
        SCROLL_PX = 1200

        def __init__(self) -> None:
            options = webdriver.ChromeOptions()
            options.add_argument("--headless=new")
            self._driver = webdriver.Chrome(options=options)

        def open(self, url: str) -> None:
            self._driver.get(url)

        def harvest(self) -> list[tuple[int, str]]:
            rows = self._driver.execute_script(harvest_js, selector)
            return [(int(i), html) for i, html in rows]

        def next_page(self) -> bool:
            buttons = self._driver.find_elements(
                By.CSS_SELECTOR, "[data-test='bottom-pagination-button-next']"
            )
            # is_displayed, not is_enabled: the reference stops paging when
            # the next control is not VISIBLE (extract_data.py:95) — a
            # disabled-but-visible button would still be clicked there.
            if not buttons or not buttons[0].is_displayed():
                return False
            self._driver.execute_script(
                "arguments[0].scrollIntoView({block: 'center'});", buttons[0]
            )
            buttons[0].click()
            return True

        def scroll(self) -> None:
            self._driver.execute_script(f"window.scrollBy(0, {self.SCROLL_PX});")

        def close(self) -> None:
            self._driver.quit()

    return _SeleniumPort()
