"""Category / tags / relationship-type / date-normalization Columns
(SURVEY.md §2.7 C3-C8) plus the PSL pandas UDF.

The crawl iteration computes category, tags and the C4 subdomain
predicate in Python inside the extract pass (functions/extract.py, over
the same rules.py and psl.py sources), so its plans run no UDF from this
module.  category_col, tags_col, is_subdomain_rel and psl_extract are
the SQL-checkable statements of those rules: the ``__spark_entry__.py``
queries use them, and tests pin the extract pass to them.

- category: the reference's 44-branch first-match keyword chain
  (domain_collector.py:318-417) generated from rules.CATEGORY_RULES as an
  ordered when() chain — order-sensitive, preserved exactly.
- tags: meta keywords + domain parts + category, sorted set
  (domain_collector.py:419-451).
- psl_extract: tldextract-equivalent (subdomain, domain, suffix) as an
  Arrow-vectorized pandas UDF over the offline PSL snapshot (psl.py) —
  the reference calls tldextract at domain_collector.py:1078-1086.
- relationship typing: subdomain predicate C4 (same registered domain,
  source has no subdomain, target does) and redirect predicate C5/J6
  (3xx, cross-domain, not protocol-only — domain_collector.py:1088-1135).
- normalize_date: the 3-format fallback of database.py:177-192.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..psl import extract as psl_extract_py
from ..rules import CATEGORY_RULES, DEFAULT_CATEGORY

_PSL_RESULT = T.StructType([
    T.StructField("subdomain", T.StringType()),
    T.StructField("domain", T.StringType()),
    T.StructField("suffix", T.StringType()),
])


@F.pandas_udf(_PSL_RESULT)
def psl_extract(hostnames: pd.Series) -> pd.DataFrame:
    """Vectorized tldextract equivalent (offline PSL snapshot)."""
    parts = [psl_extract_py(h) if h else ("", "", "") for h in hostnames]
    return pd.DataFrame(parts, columns=["subdomain", "domain", "suffix"])


def category_col(title: Column, description: Column, domain: Column) -> Column:
    """First-match-wins keyword chain over lower(title+' '+desc+' '+domain)."""
    lowered = F.lower(F.concat(
        F.coalesce(title, F.lit("")), F.lit(" "),
        F.coalesce(description, F.lit("")), F.lit(" "),
        domain,
    ))
    expr = None
    for cat, words in CATEGORY_RULES:
        pat = "|".join(re.escape(w) for w in words)
        cond = lowered.rlike(pat)
        expr = F.when(cond, F.lit(cat)) if expr is None else expr.when(cond, F.lit(cat))
    return expr.otherwise(F.lit(DEFAULT_CATEGORY))


def tags_col(meta_keywords: Column, domain: Column, category: Column) -> Column:
    """Sorted distinct tag array (domain_collector.py:419-451)."""
    kw = F.filter(
        F.transform(
            F.split(F.coalesce(meta_keywords, F.lit("")), ","),
            lambda t: F.lower(F.regexp_replace(t, r"^\s+|\s+$", "")),
        ),
        lambda t: t != "",
    )
    parts = F.split(domain, r"\.")
    domain_tags = F.concat(
        F.when(F.size(parts) > 2, F.array(F.element_at(parts, 1))).otherwise(F.array()),
        F.when(F.size(parts) >= 2, F.array(F.element_at(parts, -2))).otherwise(F.array()),
        F.array(F.element_at(parts, -1)),
    )
    return F.array_sort(F.array_distinct(F.concat(kw, domain_tags, F.array(category))))


def is_subdomain_rel(src_sub: Column, src_dom: Column, src_suf: Column,
                     tgt_sub: Column, tgt_dom: Column, tgt_suf: Column) -> Column:
    """C4 (domain_collector.py:1078-1086): same PSL domain+suffix, source
    has no subdomain, target does."""
    return ((src_dom == tgt_dom) & (src_suf == tgt_suf)
            & (src_sub == "") & (tgt_sub != ""))


def url_netloc(url: Column) -> Column:
    """Netloc of a well-formed absolute URL (for redirect final_url parsing)."""
    return F.regexp_extract(F.coalesce(url, F.lit("")),
                            r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)


def url_scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(F.coalesce(url, F.lit("")),
                                    r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1))


def strip_www_col(netloc: Column) -> Column:
    """Lowercase + drop leading 'www.' (domain_collector.py:992-995)."""
    return F.regexp_replace(F.lower(netloc), r"^www\.", "")


def head_eligible(href: Column) -> Column:
    """The reference only HEAD-probes hrefs that are not fragments or
    mailto links (domain_collector.py:1090-1091)."""
    return (~F.startswith(href, F.lit("#"))
            & ~F.startswith(F.lower(href), F.lit("mailto:")))


def is_redirect_rel(href: Column, href_scheme: Column, target_domain: Column,
                    final_url: Column, status_code: Column) -> Column:
    """C5/J6 (domain_collector.py:1093-1113): HEAD resolved to a 3xx whose
    final domain differs from the link target and is not a protocol-only
    change.  NULL final_url (no redirects-snapshot row) => not a redirect."""
    final_domain = strip_www_col(url_netloc(final_url))
    final_scheme = url_scheme(final_url)
    protocol_only = (final_domain == target_domain) & (href_scheme != final_scheme)
    return (
        head_eligible(href)
        & final_url.isNotNull()
        & status_code.isNotNull()
        & (status_code >= 300) & (status_code < 400)
        & (final_domain != "")
        & (final_domain != target_domain)
        & ~protocol_only
    )


def redirect_final_domain(final_url: Column) -> Column:
    return strip_www_col(url_netloc(final_url))


def normalize_date(raw: Column) -> Column:
    """database.py:177-192 — try '%Y-%m-%d', '%Y-%m-%d %H:%M:%S',
    '%d-%b-%Y' in order; None when all fail."""
    return F.coalesce(
        F.try_to_date(raw, "yyyy-MM-dd"),
        F.try_to_date(raw, "yyyy-MM-dd HH:mm:ss"),
        F.try_to_date(raw, "dd-MMM-yyyy"),
    )


# --- C13: WHOIS raw-text field extraction (domain_collector.py:672-733) --
# The reference re.search()es each pattern IGNORECASE anywhere in the
# response and takes the first that hits; note 'Registrar:' substring-
# matches inside 'Sponsoring Registrar:' lines — re.search has no word
# anchor, and neither do these Column regexes, reproducing the quirk.

WHOIS_REGISTRAR_PATTERNS = (r"Registrar:\s*(.+)", r"Registrar Name:\s*(.+)",
                            r"Sponsoring Registrar:\s*(.+)")
WHOIS_CREATED_PATTERNS = (r"Creation Date:\s*(.+)", r"Created:\s*(.+)",
                          r"Created Date:\s*(.+)")
WHOIS_EXPIRY_PATTERNS = (r"Registry Expiry Date:\s*(.+)",
                         r"Expiration Date:\s*(.+)", r"Expires:\s*(.+)")


def _whois_first_match(text: Column, patterns) -> Column:
    """First pattern that matches, group(1) stripped ('.' stops at the
    line end in Java regex exactly as in Python re without DOTALL)."""
    vals = [F.nullif(F.regexp_extract(text, f"(?i){p}", 1), F.lit(""))
            for p in patterns]
    v = vals[0] if len(vals) == 1 else F.coalesce(*vals)
    return F.regexp_replace(v, r"^\s+|\s+$", "")


def whois_registrar_from_text(text: Column) -> Column:
    return _whois_first_match(text, WHOIS_REGISTRAR_PATTERNS)


def whois_created_from_text(text: Column) -> Column:
    return normalize_date(_whois_first_match(text, WHOIS_CREATED_PATTERNS))


def whois_expiry_from_text(text: Column) -> Column:
    return normalize_date(_whois_first_match(text, WHOIS_EXPIRY_PATTERNS))


# --- C14: ASN parse from the ipinfo 'org' string (domain_collector.py
# :801-815).  Reference: asn = org.split()[0] if org else None;
# description = org.  Quirk triple reproduced exactly:
#   org == ''          -> asn NULL, description ''   (the `if org` guard)
#   org only-whitespace-> BOTH NULL (''.split()[0] raises IndexError,
#                         swallowed by the except -> no fields at all)
#   otherwise          -> asn = first whitespace token, description = org

def asn_from_org(org: Column) -> Column:
    toks = F.filter(F.split(org, r"\s+"), lambda t: t != "")
    return (F.when(org.isNull() | (org == ""), F.lit(None).cast("string"))
            .when(F.trim(org) == "", F.lit(None).cast("string"))
            .otherwise(F.get(toks, 0)))


def asn_description_from_org(org: Column) -> Column:
    return (F.when(org.isNull(), F.lit(None).cast("string"))
            .when(org == "", F.lit(""))
            .when(F.trim(org) == "", F.lit(None).cast("string"))
            .otherwise(org))
