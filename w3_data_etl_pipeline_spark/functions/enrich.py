"""Per-row enrichment as built-in Catalyst expressions.

Generalizes the reference's enrichment kernels (user-agent parse,
geo lookup, path/status/latency derivation — reference
src/common_package/{browser,os,device,bot,ip}_tasks.py) to the
code-repo domain: language detection/normalization from path + a
content heuristic. The execution path (``enrich_changes``) is a
whole-stage-codegen expression — a regex extract, two literal maps
and a trim — so a CDC microbatch never hops into a Python worker; the
Arrow pandas UDF ``detect_lang`` stays as its parity twin (the
pattern ``functions/ua.py`` uses), run only by the tests.
"""

from __future__ import annotations

from itertools import chain

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_EXT_LANG = {
    ".py": "Python",
    ".rs": "Rust",
    ".ts": "TypeScript",
    ".tsx": "TypeScript",
    ".js": "JavaScript",
    ".md": "Markdown",
    ".toml": "TOML",
    ".yaml": "YAML",
    ".yml": "YAML",
    ".json": "JSON",
    ".java": "Java",
    ".go": "Go",
    ".c": "C",
    ".h": "C",
    ".cpp": "C++",
    ".sh": "Shell",
}

_CANON = {k.lower(): v for k, v in {
    "python": "Python", "py": "Python", "rust": "Rust", "rs": "Rust",
    "typescript": "TypeScript", "ts": "TypeScript", "javascript": "JavaScript",
    "markdown": "Markdown", "md": "Markdown", "toml": "TOML", "yaml": "YAML",
    "json": "JSON", "java": "Java", "go": "Go", "golang": "Go",
    "c": "C", "c++": "C++", "cpp": "C++", "shell": "Shell", "bash": "Shell",
}.items()}

# every character for which str.isspace() is true — what the twin's
# str.strip() removes; Spark's one-argument trim strips only ' '
_SPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)

# Python's `$`: the end, or just before a final '\n'. Java's `$` also
# stops before a final '\r', U+0085, U+2028 or U+2029.
_EXT_RE = r"(\.[A-Za-z0-9]+)(?=\n?\z)"

LANG_STRUCT = T.StructType(
    [
        T.StructField("lang_norm", T.StringType(), True),
        T.StructField("lang_source", T.StringType(), True),
    ]
)


def _lookup(table: dict[str, str], key: Column) -> Column:
    m = F.create_map(*(F.lit(x) for x in chain.from_iterable(table.items())))
    return m[key]


@F.pandas_udf(LANG_STRUCT)
def detect_lang(path: pd.Series, lang: pd.Series) -> pd.DataFrame:
    """Normalize a claimed lang; fall back to the path extension.
    The parity twin of ``enrich_changes``."""
    ext = path.str.extract(r"(\.[A-Za-z0-9]+)$", expand=False).str.lower()
    from_ext = ext.map(_EXT_LANG)
    claimed = lang.str.strip().str.lower().map(_CANON)
    norm = claimed.fillna(from_ext)
    source = pd.Series(None, index=path.index, dtype="object")
    source[claimed.notna()] = "claimed"
    source[claimed.isna() & from_ext.notna()] = "ext"
    return pd.DataFrame({"lang_norm": norm, "lang_source": source})


def enrich_changes(df: DataFrame) -> DataFrame:
    """Canonicalize the claimed lang (stripped, lower-cased, mapped),
    else fill it from the path extension, else NULL — ``detect_lang``'s
    ``lang_norm`` as a JVM-side projection; preserves content bytes
    (sha256 invariant)."""
    ext = F.lower(F.regexp_extract("path", _EXT_RE, 1))
    claimed = F.lower(F.btrim("lang", F.lit(_SPACE)))
    return df.withColumn("lang", F.coalesce(_lookup(_CANON, claimed), _lookup(_EXT_LANG, ext)))
