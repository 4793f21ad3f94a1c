"""URL canonicalization + absolutization + hashing.

The URL-seen key is ``xxhash64(canonical_url)`` (north rule, axis A).
Canonicalization: lowercase scheme/host, drop default ports, collapse
empty path to '/', drop fragments (except '#sku' variant suffixes which
are part of result identity, not frontier identity — reference appends
'#{sku}' at src/crawlers/rusteaco.rs:50), keep query as-is (page params
are significant).  Absolutization mirrors ``base_url.join(href)``
(src/crawlers/wintergreen.rs:69-72).

Spark side: :func:`canonicalize_url_col` is a JVM column expression (regex
string surgery, no Python worker) that reproduces ``canonicalize_url`` —
``urllib.parse`` splitting included — and raises where the twin raises;
hashing stays JVM-side via the ``xxhash64`` builtin.  Hosts are lowercased
with the JVM's case tables, which agree with this Python's ``str.lower`` on
every code point Python assigns.
"""

from __future__ import annotations

from typing import Callable
from urllib.parse import urljoin, urlsplit, urlunsplit, uses_netloc

from pyspark.sql import Column
from pyspark.sql import functions as F

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_url(url: str, keep_fragment: bool = False) -> str:
    """Pure-Python canonical form (oracle twin)."""
    s = urlsplit(url.strip())
    scheme = s.scheme.lower()
    host = s.hostname.lower() if s.hostname else ""
    port = s.port
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = s.path or "/"
    frag = s.fragment if keep_fragment else ""
    return urlunsplit((scheme, netloc, path, s.query, frag))


def absolutize(base: str, href: str) -> str:
    return urljoin(base, href)


# ---- the JVM twin ---------------------------------------------------------
# Code-point tables of this interpreter, pinned by tests/test_urlnorm.py:
# what str.strip() removes (str.isspace), and the non-ASCII characters whose
# NFKC form contains one of '/?#@:' (urlsplit rejects such a netloc).
_PY_SPACE = ("\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
             + "".join(map(chr, range(0x2000, 0x200B)))
             + "\u2028\u2029\u202f\u205f\u3000")
_NFKC_DELIMS = ("\u2047\u2048\u2049\u2100\u2101\u2105\u2106\u2a74\ufe13\ufe16"
                "\ufe55\ufe56\ufe5f\ufe6b\uff03\uff0f\uff1a\uff1f\uff20")


def _jclass(chars: str) -> str:
    """A Java regex character class of exactly ``chars``."""
    return "[" + "".join(f"\\x{{{ord(c):x}}}" for c in chars) + "]"


# RFC 3986 IPv6address (what ipaddress.IPv6Address accepts), with an
# optional non-empty '%zone'; or an IPvFuture literal
_H16 = "[0-9A-Fa-f]{1,4}"
_OCTET = "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
_LS32 = f"(?:{_H16}:{_H16}|{_OCTET}(?:\\.{_OCTET}){{3}})"
_IPV6 = "|".join(
    [f"(?:{_H16}:){{6}}{_LS32}", f"::(?:{_H16}:){{5}}{_LS32}"]
    + [f"(?:(?:{_H16}:){{0,{i}}}{_H16})?::{tail}" for i, tail in enumerate([
        f"(?:{_H16}:){{4}}{_LS32}", f"(?:{_H16}:){{3}}{_LS32}",
        f"(?:{_H16}:){{2}}{_LS32}", f"{_H16}:{_LS32}", _LS32, _H16, ""])]
)
_BRACKETED_HOST = f"(?s)^(?:(?:{_IPV6})(?:%[^%]+)?|v[0-9A-Fa-f]+\\..+)\\z"
# urlsplit's scheme / netloc / path / query (the fragment is dropped)
_URL_PARTS = r"(?s)^(?:([A-Za-z][A-Za-z0-9+.\-]*):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?"


def _let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(v)`` with ``value`` computed once per row and bound to ``v``.

    Spark does not share a subexpression that sits in several ``when``
    branches, so without this binding every use of a stage below would
    re-run the regexes of all the stages before it."""
    return F.transform(F.array(value), body)[0]


def _canonical_url_or_error(col) -> Column:
    """A ``(url, error)`` struct per URL: ``error`` is non-null exactly where
    ``canonicalize_url`` raises ValueError, ``url`` is its result elsewhere."""
    col = F.col(col) if isinstance(col, str) else col
    space = _jclass(_PY_SPACE)
    # str.strip(), then urlsplit's C0/space lstrip and tab/CR/LF removal
    u = F.regexp_replace(col, f"^{space}+|{space}+\\z", "")
    u = F.regexp_replace(u, r"^[\x00-\x20]+|[\t\r\n]", "")
    r = _let(u, lambda u: F.struct(
        F.lower(F.regexp_extract(u, _URL_PARTS, 1)).alias("scheme"),
        F.regexp_extract(u, _URL_PARTS, 2).alias("netloc"),
        F.regexp_extract(u, _URL_PARTS, 3).alias("path"),
        F.regexp_extract(u, _URL_PARTS, 4).alias("query"),
    ))
    r = _let(r, lambda r: r.withField(
        "hostinfo", F.regexp_extract(r["netloc"], r"(?s)^(?:.*@)?(.*)", 1)))
    r = _let(r, _host_port)
    r = _let(r, lambda r: r.withField(  # str(int(port))
        "digits", F.regexp_replace(r["port"], "^0+(?=[0-9])", "")))
    return _let(r, _assemble)


def _host_port(r: Column) -> Column:
    """SplitResult.hostname / .port, from the netloc after its last '@': a
    '[' opens a bracketed host that runs to the first ']'."""
    info = r["hostinfo"]
    bracketed = info.contains("[")
    host = F.when(bracketed, F.regexp_extract(info, r"(?s)^[^\[]*\[([^\]]*)", 1)
                  ).otherwise(F.regexp_extract(info, r"^([^:]*)", 1))
    port = F.when(bracketed, F.regexp_extract(info, r"(?s)^[^\[]*\[[^\]]*\][^:]*:(.*)", 1)
                  ).otherwise(F.regexp_extract(info, r"(?s)^[^:]*:(.*)", 1))
    return r.withField("host", F.lower(host)).withField("port", port)


def _assemble(r: Column) -> Column:
    """The ``(url, error)`` struct from the split URL's fields."""
    scheme, netloc, port, digits = r["scheme"], r["netloc"], r["port"], r["digits"]
    has_open, has_close = netloc.contains("["), netloc.contains("]")
    error = (
        F.when(has_open != has_close, F.lit("Invalid IPv6 URL"))
        .when(has_open & ~F.regexp_extract(netloc, r"(?s)^[^\[]*\[([^\]]*)", 1)
              .rlike(_BRACKETED_HOST),
              F.concat(F.lit("Invalid bracketed host in netloc "), netloc))
        .when(netloc.rlike(_jclass(_NFKC_DELIMS)),
              F.concat(F.lit("netloc '"), netloc,
                       F.lit("' contains invalid characters under NFKC normalization")))
        .when((port != "") & ~port.rlike(r"^[0-9]+\z"),
              F.concat(F.lit("Port could not be cast to integer value as '"),
                       port, F.lit("'")))
        .when((F.length(digits) > 5) | ((F.length(digits) == 5) & (digits > "65535")),
              F.lit("Port out of range 0-65535"))
    )
    default = F.when(scheme == "http", "80").when(scheme == "https", "443")
    netloc_out = F.concat(r["host"], F.when(
        (port != "") & ~digits.eqNullSafe(default), F.concat(F.lit(":"), digits)
    ).otherwise(""))
    path = F.when(r["path"] == "", "/").otherwise(r["path"])
    # urlunsplit
    slashed = (netloc_out != "") | (
        (scheme != "") & scheme.isin(*uses_netloc) & ~path.startswith("//"))
    body = F.when(slashed, F.concat(
        F.lit("//"), netloc_out,
        F.when(path.startswith("/"), path).otherwise(F.concat(F.lit("/"), path)),
    )).otherwise(path)
    url = F.concat(
        F.when(scheme != "", F.concat(scheme, F.lit(":"))).otherwise(""),
        body,
        F.when(r["query"] != "", F.concat(F.lit("?"), r["query"])).otherwise(""),
    )
    return F.struct(url.alias("url"), error.alias("error"))


def canonicalize_url_col(col) -> Column:
    """``canonicalize_url`` as a JVM column expression: the same string where
    the twin returns, a ``raise_error`` where it raises, null for null."""
    return _let(_canonical_url_or_error(col), lambda r: F.when(
        r["error"].isNotNull(), F.raise_error(r["error"])).otherwise(r["url"]))


def url_hash(col) -> Column:
    """xxhash64 of the canonical URL string — the frontier/seen key."""
    return F.xxhash64(col)


def host_of(col) -> Column:
    """Extract the host from a canonical URL, JVM-side."""
    return F.lower(F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1))


def host_of_py(url: str) -> str:
    h = urlsplit(url).hostname
    return h.lower() if h else ""
