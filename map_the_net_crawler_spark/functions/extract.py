"""The one Arrow-vectorized extract UDF (SURVEY.md §2.8 U1-U6).

Replaces the reference's per-URL BeautifulSoup pass
(domain_collector.py:563-585 metadata, 958-973 links, 420-436 keywords)
with a single ``mapInPandas`` over (url, domain_name, html[, robots_ok])
batches.  It is the crawl iteration's only per-page Python pass: every
rule that needs Python on page-derived values runs here, so no later
stage crosses the engine↔Python boundary again.

Output contract (schemas.EXTRACTED):
- exactly one metadata row per input page with ``link_pos = -1``
  carrying title/description/favicon/keywords/text and the page's
  ``category``/``tags`` (rules.categorize / rules.derive_tags — the
  sources of classify.category_col / tags_col).  They are computed from
  the node row's masked inputs: title and description count only when
  ``robots_ok`` and ``fetch_ok`` both hold, keywords only when
  ``fetch_ok`` does.  ``robots_ok`` defaults to true when the batch
  carries no such column;
- one row per <a href> in document order with ``link_pos >= 0`` and the
  urlparse-derived fields (scheme/netloc/target_domain/path/query/
  param_names/clean_url) computed here so they are bit-identical to the
  reference's urllib.parse behavior, plus ``is_sub``: the C4 subdomain
  predicate (classify.is_subdomain_rel) over the PSL parts of
  domain_name and target_domain.  Every later filter/cap step is a JVM
  Column expression over these.

Pages with NULL html (URL absent from the pages snapshot — the
reference's requests exception path, domain_collector.py:1296-1300)
yield a metadata row with ``fetch_ok = false`` and no link rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..htmlx import extract_page, resolve_favicon
from ..psl import extract as psl_extract
from ..rules import categorize, derive_tags
from ..urlkit import parse_href

EXTRACT_SCHEMA = (
    "url string, domain_name string, fetch_ok boolean, "
    "title string, description string, favicon_url string, "
    "meta_keywords string, text string, "
    "link_pos int, href string, link_text string, "
    "href_scheme string, href_netloc string, target_domain string, "
    "href_path string, href_query string, n_query_params int, "
    "param_names array<string>, clean_url string, is_sub boolean, "
    "category string, tags array<string>"
)

_COLS = ["url", "domain_name", "fetch_ok", "title", "description",
         "favicon_url", "meta_keywords", "text", "link_pos", "href",
         "link_text", "href_scheme", "href_netloc", "target_domain",
         "href_path", "href_query", "n_query_params", "param_names",
         "clean_url", "is_sub", "category", "tags"]


def _is_subdomain(source: str, target: str) -> bool:
    """C4, the Python twin of classify.is_subdomain_rel: same PSL
    domain + suffix, the source has no subdomain, the target has one."""
    s, t = psl_extract(source or ""), psl_extract(target or "")
    return (s.domain == t.domain and s.suffix == t.suffix
            and s.subdomain == "" and t.subdomain != "")


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    # Columnar accumulation: the batch fans out to one row per link
    # (~20x), and pd.DataFrame-from-records over 22 columns was a
    # measurable slice of the extract stage — same rows, same order,
    # same dtypes as the former list-of-dicts build.
    cols: dict[str, list] = {c: [] for c in _COLS}

    def emit(url, domain, fetch_ok, title=None, description=None,
             favicon_url=None, meta_keywords=None, text=None,
             link_pos=-1, href=None, link_text=None, href_scheme=None,
             href_netloc=None, target_domain=None, href_path=None,
             href_query=None, n_query_params=None, param_names=None,
             clean_url=None, is_sub=None, category=None, tags=None):
        cols["url"].append(url)
        cols["domain_name"].append(domain)
        cols["fetch_ok"].append(fetch_ok)
        cols["title"].append(title)
        cols["description"].append(description)
        cols["favicon_url"].append(favicon_url)
        cols["meta_keywords"].append(meta_keywords)
        cols["text"].append(text)
        cols["link_pos"].append(link_pos)
        cols["href"].append(href)
        cols["link_text"].append(link_text)
        cols["href_scheme"].append(href_scheme)
        cols["href_netloc"].append(href_netloc)
        cols["target_domain"].append(target_domain)
        cols["href_path"].append(href_path)
        cols["href_query"].append(href_query)
        cols["n_query_params"].append(n_query_params)
        cols["param_names"].append(param_names)
        cols["clean_url"].append(clean_url)
        cols["is_sub"].append(is_sub)
        cols["category"].append(category)
        cols["tags"].append(tags)

    robots = (pdf["robots_ok"] if "robots_ok" in pdf.columns
              else [True] * len(pdf))
    for url, domain, html, robots_ok in zip(pdf["url"], pdf["domain_name"],
                                            pdf["html"], robots):
        if html is None:
            cat = categorize(None, None, domain)
            emit(url, domain, False, category=cat,
                 tags=derive_tags(None, domain, cat))
            continue
        page = extract_page(bytes(html))
        # the node row's masking: title and description need the robots
        # allow, keywords do not (a NULL robots_ok masks, as F.when does)
        vis = bool(robots_ok)
        cat = categorize(page.title if vis else None,
                         page.description if vis else None, domain)
        emit(url, domain, True, title=page.title,
             description=page.description,
             favicon_url=resolve_favicon(url, page.favicon_url),
             meta_keywords=page.meta_keywords, text=page.text,
             category=cat, tags=derive_tags(page.meta_keywords, domain, cat))
        for pos, href, text in page.links:
            p = parse_href(href)
            emit(url, domain, True, link_pos=pos, href=href,
                 link_text=text, href_scheme=p["scheme"],
                 href_netloc=p["netloc"],
                 target_domain=p["target_domain"], href_path=p["path"],
                 href_query=p["query"],
                 n_query_params=p["n_query_params"],
                 param_names=p["param_names"], clean_url=p["clean_url"],
                 is_sub=_is_subdomain(domain, p["target_domain"]))
    return pd.DataFrame(cols, columns=_COLS)


def _extract_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield _extract_batch(pdf)


def extract_pages(fetched: DataFrame) -> DataFrame:
    """fetched: (url, domain_name, html[, robots_ok]) → EXTRACTED rows
    (Arrow batches)."""
    cols = ["url", "domain_name", "html"]
    if "robots_ok" in fetched.columns:
        cols.append("robots_ok")
    return fetched.select(*cols).mapInPandas(
        _extract_iter, schema=EXTRACT_SCHEMA
    )
