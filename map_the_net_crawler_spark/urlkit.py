"""Pure-Python URL semantics shared by the extract UDF and the oracle.

Mirrors exactly what the reference does with urllib.parse:

- netloc / path / query / scheme via ``urlparse`` (domain_collector.py:146)
- ``_clean_url_for_queue`` — scheme://netloc/path, trailing '/' stripped
  (domain_collector.py:205-224); this string is the frontier/seen key and
  must be bit-exact
- www-strip + lowercase of netloc (domain_collector.py:992-995)
- ``parse_qs``-equivalent param-name extraction for the tracking filter
  (domain_collector.py:166-175): note ``parse_qs`` drops blank values, so
  a param like ``a=`` does NOT count — reproduced here.
"""

from __future__ import annotations

from functools import lru_cache
from urllib.parse import parse_qs, urlparse


@lru_cache(maxsize=65536)
def parse_href(href: str) -> dict:
    """Parse one href into the fields the filter pipeline needs.

    Cached: hrefs repeat heavily across a crawl batch (nav/footer links,
    hub domains), and every caller treats the result as read-only — the
    extract UDF and the oracle copy fields out, never mutate.  The cache
    is per Python worker (executor-side), bounded, and keyed on the
    exact href string, so results are bit-identical to the uncached
    call."""
    p = urlparse(href)
    netloc = p.netloc.lower()
    domain = netloc[4:] if netloc.startswith("www.") else netloc
    return {
        "scheme": p.scheme,
        "netloc": p.netloc,
        "netloc_lower": netloc,
        "target_domain": domain,
        "path": p.path,
        "query": p.query,
        "n_query_params": len(parse_qs(p.query)) if p.query else 0,
        "param_names": sorted(parse_qs(p.query).keys()) if p.query else [],
        "clean_url": clean_url_for_queue(href),
    }


def clean_url_for_queue(url: str) -> str:
    """Reference ``_clean_url_for_queue`` (domain_collector.py:205-224)."""
    try:
        p = urlparse(url)
        clean = f"{p.scheme}://{p.netloc}{p.path}"
        if clean.endswith("/") and len(clean) > 1:
            clean = clean.rstrip("/")
        return clean
    except Exception:
        return url

