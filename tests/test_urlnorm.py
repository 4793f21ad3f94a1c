"""URL canonicalization edge cases (axis A key function).

The URL-seen key is xxhash64(canonical_url); any canonicalization
divergence between the JVM expression, the JVM host extractor, and the
pure-Python oracle twin silently breaks seen-set parity — so the three
are locked together here on the awkward inputs.
"""

from __future__ import annotations

import itertools
import sys
import unicodedata

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pushkind_crawlers_spark.functions import urlnorm
from pushkind_crawlers_spark.functions.urlnorm import (
    absolutize,
    canonicalize_url,
    canonicalize_url_col,
    host_of,
    host_of_py,
)

EDGE_URLS = [
    "HTTP://Example.COM/Path/To?q=1&b=2",      # scheme+host case, path case kept
    "http://example.com:80/x",                  # default port dropped
    "https://example.com:443/",                 # default port dropped (https)
    "http://example.com:8080/x",                # non-default port kept
    "http://example.com",                       # empty path -> '/'
    "http://example.com/p#frag",                # fragment dropped
    "http://example.com/p?a=2&a=1",             # query order preserved verbatim
    "http://example.com/a//b/../c",             # path NOT normalized (kept as-is)
    "  http://example.com/sp  ",                # surrounding whitespace stripped
]


@pytest.mark.parametrize("url,want", [
    ("HTTP://Example.COM/Path?q=1", "http://example.com/Path?q=1"),
    ("http://example.com:80/x", "http://example.com/x"),
    ("https://example.com:443/", "https://example.com/"),
    ("http://example.com:8080/x", "http://example.com:8080/x"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com/p#frag", "http://example.com/p"),
    ("http://example.com/p?a=2&a=1", "http://example.com/p?a=2&a=1"),
])
def test_canonicalize_contract(url, want):
    assert canonicalize_url(url) == want


def test_canonicalize_keep_fragment_variant():
    assert canonicalize_url("http://e.com/p#sku9", keep_fragment=True) == "http://e.com/p#sku9"
    assert canonicalize_url("http://e.com/p#sku9") == "http://e.com/p"


def test_canonicalize_idempotent():
    for u in EDGE_URLS:
        once = canonicalize_url(u)
        assert canonicalize_url(once) == once, u


# ---- generated URLs for the JVM-expression-versus-twin property ----------
# Text excludes unassigned code points (category Cn): the JVM lowercases a
# few of those that this Python's Unicode tables leave alone, pinned by
# test_jvm_lower_agrees_on_assigned_code_points.
_CHARS = st.characters(exclude_categories=("Cs", "Cn"))
_TEXT = st.text(st.one_of(st.sampled_from("/aZ09.%-_~;=&@:[]\t\r\n "), _CHARS),
                max_size=10)
_SPACE = st.sampled_from(["", " ", "\t", " \n", "\u3000", "\xa0", "\x00",
                          "\x1f ", "\r\n ", "\x0b"])
_SCHEME = st.sampled_from(["http", "HTTP", "hTTpS", "https", "ftp", "FILE",
                           "mailto", "x-y+z.1", "1bad", ""])
_SEP = st.sampled_from(["://", ":", ":/", ":///", "//", ""])
_USERINFO = st.sampled_from(["", "user@", "U:P@", "a@b@", ":@", "[::1]@"])
_BRACKETED = st.one_of(
    st.ip_addresses(v=6).flatmap(lambda a: st.sampled_from(
        [f"[{a}]", f"[{a.exploded.upper()}]", f"[{a}%25eth0]"])),
    st.sampled_from(["[::ffff:1.2.3.4]", "[v1.x]", "[V1.x]", "[1.2.3.4]",
                     "[::1", "::1]", "[zz]", "][", "[::1%]", "[::01.2.3.4]"]),
    st.text("0123456789abcdefABCDEF:.%vg", max_size=14).map(lambda h: f"[{h}]"),
)
_CYRILLIC_HOST = "\u041f\u0440\u0438\u043c\u0435\u0440.\u0420\u0424"
_HOST = st.one_of(
    st.sampled_from(["Example.COM", "e.com", "", _CYRILLIC_HOST, "B\u00dcCHER.de",
                     "\u0391\u03a3.gr", "\u0130.tr", "a\uff0fb.com"]),
    st.text(st.one_of(st.sampled_from("abcXYZ09.-_"), _CHARS), max_size=8),
    _BRACKETED,
)
_PORT = st.one_of(
    st.sampled_from(["", ":", ":80", ":443", ":0080", ":00443", ":8080", ":0",
                     ":00", ":65535", ":65536", ":99999", ":123456789012",
                     ":abc", ":8o", ":\u0663", ": 80", ":-1"]),
    st.integers(0, 70000).map(lambda n: f":{n}"),
)
_TAIL = st.lists(st.tuples(st.sampled_from(["?", "#", ""]), _TEXT),
                 max_size=3).map(lambda parts: "".join(a + b for a, b in parts))
_URLS = st.one_of(
    st.builds(lambda *parts: "".join(parts), _SPACE, _SCHEME, _SEP, _USERINFO,
              _HOST, _PORT, _TEXT, _TAIL, _SPACE),
    st.text(st.one_of(st.sampled_from(":/?#@[]%. \t\n"), _CHARS), max_size=30),
)


# every corner token in one deterministic batch (the random draws above
# only sample them)
_CORNERS = ["".join(p) for p in itertools.product(
    ["http://", " HTTPS://", "ftp://", "//", "\thttp:", "x:"],
    ["", "U:P@"],
    ["Example.COM", "", _CYRILLIC_HOST, "[::1]", "[2001:DB8::A%25eth0]",
     "[v1.x]", "[1.2.3.4]", "[::1", "h]"],
    ["", ":", ":80", ":443", ":0080", ":00", ":0", ":65535", ":65536",
     ":123456789012", ":8o", ":\u0663"],
    ["", "/", "/P\u00e4th\t/x", "//x", "p"],
    ["", "?", "?q=1#f", "#f?q", "?#", "?a?b#c#d"],
)]


def _twin(url: str) -> str | None:
    """The oracle's canonical form, or None where it raises."""
    try:
        return canonicalize_url(url)
    except ValueError:
        return None


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(st.lists(_URLS, min_size=1, max_size=150))
@example(EDGE_URLS)
@example(_CORNERS)
def test_spark_expr_equals_python_twin(spark, urls):
    """Where the twin returns, the JVM expression returns the same string;
    where it raises, the expression's error branch fires."""
    canon = urlnorm._canonical_url_or_error(F.col("raw"))
    df = spark.createDataFrame(pa.table({"raw": pa.array(urls, pa.string())}))
    got = df.select("raw", canon["url"].alias("canon"), canon["error"].alias("err")).collect()
    for r in got:
        want = _twin(r["raw"])
        if want is None:
            assert r["err"] is not None, (r["raw"], r["canon"])
        else:
            assert (r["canon"], r["err"]) == (want, None), r["raw"]


@pytest.mark.parametrize("url,message", [
    ("http://e.com:99999/x", "Port out of range"),
    ("http://e.com:8o/x", "Port could not be cast"),
    ("http://[::1/x", "Invalid IPv6 URL"),
    ("http://::1]/x", "Invalid IPv6 URL"),
])
def test_spark_expr_raises_where_twin_raises(spark, url, message):
    with pytest.raises(ValueError):
        canonicalize_url(url)
    df = spark.createDataFrame(pa.table({"raw": [url]}))
    with pytest.raises(Exception, match=message):
        df.select(canonicalize_url_col(F.col("raw"))).collect()


def test_spark_expr_null_and_plan(spark):
    df = spark.createDataFrame(pa.table({"raw": pa.array([None, "HTTP://E.com"], pa.string())}))
    out = df.select(canonicalize_url_col(F.col("raw")).alias("c"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert [r["c"] for r in out.collect()] == [None, "http://e.com/"]


def test_code_point_tables_match_this_python():
    chars = [chr(c) for c in range(sys.maxunicode + 1)]
    assert sorted(urlnorm._PY_SPACE) == [c for c in chars if c.isspace()]
    assert urlnorm._NFKC_DELIMS == "".join(
        c for c in chars[0x80:]
        if any(d in unicodedata.normalize("NFKC", c) for d in "/?#@:"))


def test_jvm_lower_agrees_on_assigned_code_points(spark):
    """Host lowercasing runs on the JVM's case tables; they differ from
    str.lower only on code points this Python leaves unassigned."""
    chars = [chr(c) for c in range(sys.maxunicode + 1)
             if not 0xD800 <= c < 0xE000]
    got = spark.createDataFrame(pa.table({"c": chars})).select(
        F.lower("c").alias("l")).toArrow()["l"].to_pylist()
    differ = [c for c, low in zip(chars, got) if c.lower() != low]
    assert all(unicodedata.category(c) == "Cn" for c in differ), differ


def test_host_of_jvm_equals_python(spark):
    canon = [canonicalize_url(u) for u in EDGE_URLS]
    df = spark.createDataFrame([(c,) for c in canon], "url string")
    got = {r["url"]: r["h"] for r in
           df.select("url", host_of(F.col("url")).alias("h")).collect()}
    for c in canon:
        assert got[c] == host_of_py(c), c


@pytest.mark.parametrize("base,href,want", [
    ("http://e.com/cat/p1", "/item/9", "http://e.com/item/9"),
    ("http://e.com/cat/", "item/9", "http://e.com/cat/item/9"),
    ("http://e.com/cat/p1", "item/9", "http://e.com/cat/item/9"),
    ("http://e.com/cat/p1", "http://other.com/x", "http://other.com/x"),
    ("http://e.com/cat/p1", "../up", "http://e.com/up"),
    ("http://e.com/cat/p1", "?page=2", "http://e.com/cat/p1?page=2"),
])
def test_absolutize_join_semantics(base, href, want):
    assert absolutize(base, href) == want
