"""Text-analysis functions for the training-data pipeline.

Beyond the reference's scope (it processes rasters), these are the
web-text operators a 100 TB Common-Crawl-style pipeline needs: token
counting, quality scoring, language-ID heuristics, fingerprinting.
All native Catalyst expressions (regexp_count / md5 / length) — no
Python in the hot path; dialect-neutral SQL text mirrors each for the
DuckDB differential oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = "[A-Za-z0-9]+"
# tiny deterministic stopword sets for the language-ID heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "la", "de", "et", "que"],
    "pt": ["o", "a", "de", "e", "que"],
}


def sql_token_count(text: str, dialect: str = "duckdb") -> str:
    if dialect == "duckdb":
        return f"len(regexp_extract_all({text}, '{TOKEN_RE}'))"
    return f"regexp_count({text}, '{TOKEN_RE}')"



def sql_stopword_hits(text: str, lang: str, dialect: str = "duckdb") -> str:
    """Count of space-delimited stopword tokens for one language.

    split + lambda filter (not a \\b regex: backslash escaping in string
    literals diverges between Spark SQL and DuckDB).
    """
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    if dialect == "duckdb":
        return (
            f"len(list_filter(string_split({text}, ' '),"
            f" x -> x IN ({words})))"
        )
    return f"size(filter(split({text}, ' '), x -> x IN ({words})))"



def sql_fingerprint(text: str, dialect: str = "duckdb") -> str:
    """64-bit-ish document fingerprint: first 16 hex chars of md5."""
    return f"substring(md5({text}), 1, 16)"



def sql_quality_cols(text: str, dialect: str = "duckdb") -> dict[str, str]:
    """Quality-scoring feature columns (length / token stats / alpha ratio).

    Ratios are computed as exact integer pairs plus one final double
    division, identical in both engines.
    """
    n_chars = f"length({text})"
    n_tokens = sql_token_count(text, dialect)
    if dialect == "duckdb":
        n_alpha = f"len(regexp_extract_all({text}, '[A-Za-z]'))"
    else:
        n_alpha = f"regexp_count({text}, '[A-Za-z]')"
    return {
        "n_chars": f"cast({n_chars} as bigint)",
        "n_tokens": f"cast({n_tokens} as bigint)",
        "alpha_ratio": (
            f"round(cast({n_alpha} as double) / "
            f"cast(greatest({n_chars}, 1) as double), 6)"
        ),
        "avg_token_len": (
            f"round(cast({n_alpha} as double) / "
            f"cast(greatest({n_tokens}, 1) as double), 6)"
        ),
    }


def sql_extract_text(html: str, dialect: str = "duckdb") -> str:
    """HTML -> text extraction as a native expression (the WARC
    text-extraction stage; input_hint's byte-identical-text-per-url
    invariant is checked against this).

    Rules (the classic tag-strip pipeline, one codegen projection —
    never a per-row Python UDF):
    1. drop <script>/<style> elements INCLUDING their content
       (separate rules — RE2 has no backreferences);
    2. strip every remaining tag;
    3. unescape the five standard entities, ampersand LAST.

    Dialect notes: Spark regexes take inline (?is) flags and replace
    globally by default; DuckDB (RE2) takes a flag string and needs
    the explicit 'g'.
    """
    if dialect == "spark":
        t = f"cast({html} as string)"
        t = (f"regexp_replace({t},"
             " '(?is)<script[^>]*>.*?</script>', ' ')")
        t = (f"regexp_replace({t},"
             " '(?is)<style[^>]*>.*?</style>', ' ')")
        t = f"regexp_replace({t}, '(?s)<[^>]*>', '')"
    else:
        t = f"cast({html} as varchar)"
        t = (f"regexp_replace({t},"
             " '<script[^>]*>.*?</script>', ' ', 'gis')")
        t = (f"regexp_replace({t},"
             " '<style[^>]*>.*?</style>', ' ', 'gis')")
        t = f"regexp_replace({t}, '<[^>]*>', '', 'gs')"
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "''"),
                    ("&amp;", "&")):
        t = f"replace({t}, '{ent}', '{ch}')"
    return t


def extract_text(html: str = "html") -> Column:
    return F.expr(sql_extract_text(html, dialect="spark"))
