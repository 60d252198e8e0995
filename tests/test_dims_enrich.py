"""Dimension builders (A1-A4) and lang enrichment: the Catalyst
expressions against their pandas twin."""

from __future__ import annotations

from pyspark.sql import Row

from w3_data_etl_pipeline_spark.functions.enrich import _SPACE, detect_lang, enrich_changes
from w3_data_etl_pipeline_spark.operators.dims import (
    distinct_dim,
    enrich_missing_only,
    incremental_upsert,
    surrogate_ids,
)


def test_surrogate_ids_deterministic(spark):
    dim = spark.createDataFrame([Row(k=x) for x in ["c", "a", "b", "a"]]).distinct()
    ids1 = {r["k"]: r["id"] for r in surrogate_ids(dim, "k").collect()}
    ids2 = {r["k"]: r["id"] for r in surrogate_ids(dim.repartition(3), "k").collect()}
    assert ids1 == {"a": 1, "b": 2, "c": 3}
    assert ids1 == ids2  # stable across partitioning


def test_surrogate_ids_scalable_matches_global(spark):
    dim = spark.createDataFrame([Row(k=f"key{i:04d}") for i in range(200)]).repartition(7)
    g = {r["k"]: r["id"] for r in surrogate_ids(dim, "k").collect()}
    s = {r["k"]: r["id"] for r in surrogate_ids(dim, "k", scalable=True).collect()}
    assert g == s  # two-level scheme == global row_number


def test_incremental_upsert_preserves_existing(spark):
    existing = spark.createDataFrame([Row(ip="1.1.1.1", cc="GB"), Row(ip="2.2.2.2", cc="FR")])
    incoming = spark.createDataFrame(
        [Row(ip="1.1.1.1", cc="XX"), Row(ip="3.3.3.3", cc=None)]
    )
    out = {r["ip"]: r["cc"] for r in incremental_upsert(existing, incoming, "ip").collect()}
    assert out == {"1.1.1.1": "GB", "2.2.2.2": "FR", "3.3.3.3": None}  # no clobber


def test_enrich_missing_only_split(spark):
    df = spark.createDataFrame([Row(ip="a", cc=None), Row(ip="b", cc="GB")])
    todo, done = enrich_missing_only(df, "cc")
    assert [r["ip"] for r in todo.collect()] == ["a"]
    assert [r["ip"] for r in done.collect()] == ["b"]


def test_enrich_changes_lang_fill(spark):
    df = spark.createDataFrame(
        [
            Row(path="src/a.py", lang=None),
            Row(path="src/b.rs", lang="rust"),
            Row(path="src/c.unknownext", lang=None),
            Row(path="src/d.md", lang="MARKDOWN"),
        ]
    )
    out = {r["path"]: r["lang"] for r in enrich_changes(df).collect()}
    assert out["src/a.py"] == "Python"       # filled from extension
    assert out["src/b.rs"] == "Rust"         # canonicalized claim
    assert out["src/c.unknownext"] is None   # nothing known
    assert out["src/d.md"] == "Markdown"     # case-normalized


def test_enrich_changes_matches_detect_lang_twin(spark):
    """The built-in expressions equal the pandas twin value for value,
    NULL for NULL, where Java's regex, trim and case rules differ from
    Python's: every ``str.isspace()`` character around a claimed lang,
    ``$`` before a final '\\n' but not '\\r', dotted names and
    directories, and case folds that reach ASCII (KELVIN SIGN -> 'k')
    or leave it (U+0130 -> 'i' + U+0307)."""
    from w3_data_etl_pipeline_spark.session import local_frame

    assert _SPACE == "".join(c for c in map(chr, range(0x110000)) if c.isspace())
    paths = [
        "src/a.py", "a.py\n", "a.py\r", "a.py\n\n", "a.py\r\n", "a.py\u2028",
        "a.py\u0085", "x.tar.gz", "v1.2/lib.rs", "v1.2/README", "dir.md/",
        "SRC/MAIN.JAVA", "b.Tsx", "c.unknownext", "a.", ".sh", "a.py ", "a..c",
        "n\u212Aame.C", "x.t\u0130", "", None,
    ]
    langs = [
        None, "", " ", "rust", "RUST", "Python", "c++", "golang", "mar\u212Adown",
        "javascr\u0130pt", "\u0130", "k", "py thon", "unknown",
    ] + [f"{c}go{c}" for c in _SPACE] + [f"{c} Bash\t" for c in _SPACE[::4]]
    rows = [(p, lang) for p in paths for lang in langs[:3]] + [
        ("p.md", lang) for lang in langs
    ] + [(None, lang) for lang in langs]
    df = local_frame(spark, [(i, p, lang) for i, (p, lang) in enumerate(rows)],
                     "i long, path string, lang string")
    got = {r["i"]: r["lang"] for r in enrich_changes(df).collect()}
    twin = {
        r["i"]: r["norm"]
        for r in df.select("i", detect_lang("path", "lang").lang_norm.alias("norm")).collect()
    }
    assert got == twin
    # the cases above reach every branch: claimed, from the path, neither
    assert {"Go", "Shell", "Markdown", "Python", "Rust", None} <= set(got.values())
    assert got[rows.index(("a.py\n", None))] == "Python"
    assert got[rows.index(("a.py\r", None))] is None


def test_distinct_dim(spark):
    df = spark.createDataFrame([Row(a=1, b="x"), Row(a=1, b="x"), Row(a=2, b="y")])
    assert distinct_dim(df, ["a", "b"]).count() == 2


def test_geo_cidr_lookup(spark):
    """Broadcast CIDR range join: deterministic /8-block mapping, one
    output row per input IP, NULL geo for unparseable addresses."""
    from w3_data_etl_pipeline_spark.pipeline import GEO_COUNTRIES, geo_lookup

    ips = spark.createDataFrame(
        [Row(ip="10.0.0.1"), Row(ip="200.1.2.3"), Row(ip="not-an-ip"), Row(ip="1.2.3.4")]
    )
    out = {r["ip"]: r for r in geo_lookup(ips).collect()}
    assert len(out) == 4
    # block 10 -> GEO_COUNTRIES[(10*7+3) % 10]
    cc, cn = GEO_COUNTRIES[(10 * 7 + 3) % len(GEO_COUNTRIES)]
    assert out["10.0.0.1"]["country_code"] == cc
    assert out["10.0.0.1"]["country_name"] == cn
    cc200, _ = GEO_COUNTRIES[(200 * 7 + 3) % len(GEO_COUNTRIES)]
    assert out["200.1.2.3"]["country_code"] == cc200
    assert out["not-an-ip"]["country_code"] is None
    assert out["not-an-ip"]["latitude"] is None
    assert -90 <= out["1.2.3.4"]["latitude"] <= 90
    assert -180 <= out["1.2.3.4"]["longitude"] <= 180
