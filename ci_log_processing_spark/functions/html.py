"""HTML boilerplate stripping — the web-extraction step every
crawl-derived training corpus runs before any text operator (the
reference ingests pre-rendered CI logs and never needs it; a 100 TB
web corpus starts here).

Pipeline (all Catalyst regexp/replace expressions, zero Python,
zero shuffle — per-row like the C4 cleaner):
  1. drop <script>/<style> ELEMENTS including their content
     ((?is) dotall+case-insensitive; two separate patterns because
     RE2 — the DuckDB twin's engine — has no backreferences),
  2. strip remaining tags,
  3. decode the common entity set, `&amp;` LAST so `&amp;lt;`
     decodes to the literal `&lt;` and not `<` (double-decode bug),
  4. collapse whitespace runs and trim.

This is deliberately a TAG stripper, not a DOM parser: main-content
extraction (readability/trafilatura-class) needs a real HTML parser
and is a Pandas-UDF integration point, stubbed at the boundary like
the multimodal codecs. The regex tier here is what runs at full
corpus width before anything heavier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# decode order matters: &amp; must come last (see module docstring)
ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def html_clean_col(c: Column) -> Column:
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, ch in ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_clean(df: DataFrame) -> DataFrame:
    """(id, clean_text, n_chars_clean) from an HTML column."""
    clean = html_clean_col(F.col("html"))
    return df.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length(clean).alias("n_chars_clean"),
    )
