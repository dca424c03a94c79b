"""URL algebra: pure scalar functions used inside the extraction UDFs.

Semantics match the reference's URL toolbox (artexin/urlutils.py:61-257,
artexin/extract.py:140-170, artexin/pack.py:40-65) — every doctest vector
from those modules is pinned in tests/test_urlx.py. The implementation is
new, on stdlib urllib.parse / posixpath only.

These run vectorized inside Arrow UDF batches; several also have
native Catalyst expression equivalents (see functions/native.py) which are
preferred in hot paths — the Python versions here are the single source of
truth for semantics and the golden generator.
"""

from __future__ import annotations

import hashlib
import posixpath
import urllib.parse as _up

TS_FORMAT = "%Y-%m-%d %H:%M:%S UTC"

# Reference: artexin/pack.py:40-46 — ordered, '%' escaped first so the
# later replacements double-encode deliberately ('(' -> '%2528').
ESCAPE_MAPPINGS = (
    ("%", "%25"),
    ("(", "%2528"),
    (")", "%2529"),
    ("[", "%255B"),
    ("]", "%255D"),
)

# Reference: artexin/fetch.py:34-50 — image format name -> file extension.
IEXTENSIONS = {
    "BMP": ".bmp",
    "DCX": ".dcx",
    "EPS": ".eps",
    "GIF": ".gif",
    "IM": ".im",
    "JPEG": ".jpg",
    "PCD": ".pcd",
    "PCX": ".pcx",
    "PDF": ".pdf",
    "PNG": ".png",
    "PPM": ".pbm",
    "PSD": ".psd",
    "TIFF": ".tif",
    "XBM": ".xbm",
    "XPM": ".xpm",
}


def url_split(url: str) -> tuple[str, str]:
    """Split ``url`` into (scheme+authority, path-and-after).

    The tail always starts with '/'. Reference: artexin/urlutils.py:61-87.
    """
    p = _up.urlparse(url)
    base = _up.urlunparse((p.scheme, p.netloc, "", "", "", ""))
    tail = _up.urlunparse(("", "", p.path, p.params, p.query, p.fragment))
    if not tail.startswith("/"):
        tail = "/" + tail
    return base, tail


def normalize_path(path: str) -> str:
    """Resolve '.' and '..' segments; leading '..' runs are preserved.

    Reference: artexin/urlutils.py:90-125 (doctest-pinned). Intentional
    divergence: the reference raises IndexError when a '..' underflows
    past the start (urlutils.py:118, e.g. 'a/../../b'); a poison asset
    path must not cost anything at scale, so we keep the unmatched '..'
    instead — identical output on every input the reference survives
    (property-pinned in tests/test_properties.py).
    """
    out: list[str] = []
    leading = True
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if leading or not out:
                out.append(seg)
            else:
                out.pop()
        else:
            out.append(seg)
            leading = False
    return "/".join(out)


def base_path(path: str) -> str:
    """Directory part of a web path: keep trailing '/', else drop the last
    segment; bare names collapse to '/'.

    Reference: artexin/urlutils.py:128-163 (8 doctest vectors).
    """
    norm = normalize_path(path)
    segs = norm.split("/")
    if segs[-1] != "":
        segs[-1] = ""
    if len(segs) == 1:
        return "/"
    return "/".join(segs)


def absolute_path(path: str, base: str) -> str:
    """Absolutize ``path`` against the directory of ``base``.

    Reference: artexin/urlutils.py:166-187.
    """
    return normalize_path(posixpath.join(base_path(base), path))


def is_http_url(url: str) -> bool:
    """True for http://, https:// and scheme-relative // URLs.

    Reference: artexin/urlutils.py:190-211.
    """
    return url.startswith(("http://", "https://", "//"))


def full_url(base: str, rest: str) -> str:
    """Scheme+host of ``base`` merged with path/query/fragment of ``rest``.

    Reference: artexin/urlutils.py:214-239.
    """
    b = _up.urlparse(base)
    r = _up.urlparse(rest)
    return _up.urlunparse((b.scheme, b.netloc, r.path, r.params, r.query, r.fragment))


def normalize_scheme(url: str, scheme: str = "http") -> str:
    """Give scheme-relative '//host' URLs an explicit scheme.

    Reference: artexin/urlutils.py:242-257.
    """
    if url.startswith("//"):
        return scheme + ":" + url
    return url


def prepare_url(url: str, base: str, docpath: str) -> str:
    """Absolutize an asset URL against the document's base + path.

    Reference: artexin/extract.py:140-170 (6 doctest vectors).
    """
    proto = base.split(":")[0]
    if is_http_url(url):
        return normalize_scheme(url, proto)
    return full_url(base, absolute_path(url, docpath))


def percent_escape(url: str) -> str:
    """Apply the fixed escape table in declared order.

    Reference: artexin/pack.py:49-52.
    """
    for src, dst in ESCAPE_MAPPINGS:
        url = url.replace(src, dst)
    return url


def hash_data(*args: object) -> str:
    """MD5 hexdigest over the utf-8 of str() of each arg, concatenated.

    This is the content key for the sink ('checksum'). Reference:
    artexin/pack.py:59-65,107. Native equivalent:
    ``F.md5(F.concat_ws('', cols))`` for string cols.
    """
    md5 = hashlib.md5()
    for data in args:
        md5.update(str(data).encode("utf-8"))
    return md5.hexdigest()


def serialize_ts(dt) -> str:
    """Format a datetime as 'YYYY-mm-dd HH:MM:SS UTC'.

    Reference: artexin/pack.py:39,55-56. Native equivalent:
    ``F.date_format(ts, "yyyy-MM-dd HH:mm:ss 'UTC'")``.
    """
    return dt.strftime(TS_FORMAT)


def domain_of(url: str) -> str:
    """netloc of a URL — the 'domain' meta field (artexin/pack.py:198)."""
    return _up.urlparse(url).netloc
