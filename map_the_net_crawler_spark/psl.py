"""Offline Public-Suffix-List snapshot + tldextract-equivalent splitting.

The reference uses ``tldextract.extract`` (domain_collector.py:1078-1086,
1213-1220) to split a hostname into (subdomain, domain, suffix) for
subdomain-relationship detection.  tldextract is backed by the Mozilla
Public Suffix List; we embed a deterministic offline snapshot of the PSL
subset needed (standard TLDs, common two-level public suffixes, and the
private-section entries the reference's UGC patterns care about:
github.io, wordpress.com, itch.io) and implement the PSL longest-match
algorithm (https://publicsuffix.org/list/ — public spec).

Pure Python, shared verbatim by the crawl's extract pass
(functions/extract.py), the Spark pandas UDF (functions/classify.py) and
the sequential oracle (oracle/pyref.py).
"""

from __future__ import annotations

from functools import lru_cache
from typing import NamedTuple

# Deterministic offline snapshot (public data).  Rules follow PSL syntax:
# plain labels, "*." wildcards, "!" exceptions.
_PSL_RULES: tuple[str, ...] = (
    # generic TLDs
    "com", "org", "net", "edu", "gov", "int", "mil", "io", "co", "ai",
    "app", "dev", "info", "biz", "xyz", "online", "site", "tech", "shop",
    "blog", "cloud", "wiki", "example", "test", "invalid", "localhost",
    # country TLDs used in fixtures/wild
    "de", "fr", "uk", "au", "jp", "cn", "ru", "nl", "it", "es", "se",
    "ch", "at", "be", "ca", "us", "eu", "in", "br", "pl", "cz", "dk",
    "fi", "no", "nz", "kr", "tv", "me", "ly", "gg", "to", "fm", "im",
    # two-level public suffixes
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.br", "net.br", "org.br",
    "co.in", "net.in", "org.in", "co.nz", "net.nz", "org.nz",
    "co.kr", "or.kr", "co.za", "org.za", "web.za",
    # wildcard + exception examples from the PSL spec
    "*.ck", "!www.ck",
    # private-section entries (UGC platforms) — tldextract includes these
    # by default; the reference's UGC exclusion patterns
    # (domain_collector.py:118-120) target the same platforms.
    "github.io", "githubusercontent.com", "gitlab.io",
    "wordpress.com", "blogspot.com", "tumblr.com", "itch.io",
    "netlify.app", "vercel.app", "herokuapp.com", "pages.dev",
    "web.app", "firebaseapp.com", "glitch.me", "neocities.org",
    "readthedocs.io", "s3.amazonaws.com", "fastly.net",
)


class ExtractResult(NamedTuple):
    subdomain: str
    domain: str
    suffix: str

    @property
    def registered_domain(self) -> str:
        if self.domain and self.suffix:
            return f"{self.domain}.{self.suffix}"
        return ""


def _build_index() -> tuple[frozenset[str], frozenset[str], frozenset[str]]:
    plain, wildcard, exception = set(), set(), set()
    for rule in _PSL_RULES:
        if rule.startswith("!"):
            exception.add(rule[1:])
        elif rule.startswith("*."):
            wildcard.add(rule[2:])
        else:
            plain.add(rule)
    return frozenset(plain), frozenset(wildcard), frozenset(exception)


_PLAIN, _WILDCARD, _EXCEPTION = _build_index()


@lru_cache(maxsize=65536)
def extract(hostname: str) -> ExtractResult:
    """Split hostname into (subdomain, domain, suffix) — PSL longest match.

    Matches tldextract semantics: unknown TLDs fall back to last-label-
    as-suffix only when the label is a known suffix; otherwise tldextract
    treats an unlisted final label as the suffix=''. We mirror tldextract's
    default (suffix='' → whole host becomes the 'domain' chain) for
    unlisted TLDs, which keeps C4 subdomain typing consistent.
    """
    host = hostname.lower().strip(".")
    if not host:
        return ExtractResult("", "", "")
    labels = host.split(".")
    suffix_len = 0
    for i in range(len(labels)):
        candidate = ".".join(labels[i:])
        rest = ".".join(labels[i + 1:])
        if candidate in _EXCEPTION:
            suffix_len = len(labels) - i - 1
            break
        if candidate in _PLAIN:
            suffix_len = len(labels) - i
            break
        if rest and rest in _WILDCARD:
            suffix_len = len(labels) - i
            break
    if suffix_len >= len(labels):
        # whole host is a public suffix (e.g. "github.io" itself)
        return ExtractResult("", "", host)
    suffix = ".".join(labels[len(labels) - suffix_len:]) if suffix_len else ""
    core = labels[: len(labels) - suffix_len]
    domain = core[-1]
    subdomain = ".".join(core[:-1])
    return ExtractResult(subdomain, domain, suffix)


def naive_main_domain(domain_name: str) -> str:
    """Reference's naive last-2-labels 'main domain' for WHOIS
    (domain_collector.py:226-232) — NOT PSL-aware, by design."""
    parts = domain_name.split(".")
    if len(parts) > 2:
        return ".".join(parts[-2:])
    return domain_name
