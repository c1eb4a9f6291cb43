"""URL canonicalization + header encoding + request fingerprint.

Reimplements the *semantics* of the reference dedup identity
(/root/reference/dupefilters.go:68-128):

- canonicalize (dupefilters.go:68-76): parse the URL, write the path
  as Go's ``URL.EscapedPath()`` does, re-encode the query string
  sorted by key, force a trailing ``?`` even when the query is empty
  (Go ``ForceQuery=true``), drop the fragment.
- header encoding (dupefilters.go:79-96): sort by original header key,
  emit ``UPPER(k):UPPER(v);\\n`` per pair, empty string for no headers.
- fingerprint (dupefilters.go:99-128): hash of
  ``method ‖ canonical-url ‖ body ‖ encoded-headers`` in that byte
  order.  The reference uses murmur3-128; we use XXH64 (seed 42) so the
  engine-side hash is Spark's JVM built-in ``F.xxhash64`` (whole-stage
  codegen, zero Python) while the oracle/simulator side is
  :mod:`tegenaria_spark.functions.xxh64`.

Python is the spec here: the same ``py_*`` functions back both the
vectorized pandas UDF used by the engine and the single-threaded
reference simulator, so engine↔oracle parity is by construction and
tests assert Spark's JVM hash equals the Python hash bit-for-bit.
"""

from __future__ import annotations

import re
from typing import Iterable, Optional
from urllib.parse import (
    parse_qsl,
    quote_from_bytes,
    quote_plus,
    unquote_to_bytes,
    urlencode,
    urlsplit,
)

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from tegenaria_spark.functions.xxh64 import xxh64

FP_SEED = 42

# ---------------------------------------------------------------------------
# Pure-Python spec (oracle + simulator + pandas-UDF kernel)
# ---------------------------------------------------------------------------


# Go's validEncoded(path, encodePath): the bytes a raw path may hold and
# still be written as given
_GO_VALID_PATH = re.compile(r"[A-Za-z0-9\-._~$&+,/:;=@!'()*\[\]%]*")
_BAD_ESCAPE = re.compile(r"%(?![0-9A-Fa-f]{2})")


def _go_escaped_path(path: str) -> str:
    """*path* as Go's ``URL.EscapedPath()`` writes it after
    ``url.Parse``: kept as given when every byte is one Go's
    ``validEncoded`` accepts, else percent-decoded and escaped again —
    letters, digits and ``-._~$&+,/:;=@`` stay, every other UTF-8 byte
    becomes upper-case ``%XX``.  So ``/a b`` and ``/a%20b`` are one
    path, while ``/a(b)`` and ``/a%28b%29`` each stay as given.  A
    malformed ``%`` escape (which ``url.Parse`` rejects) keeps the path
    as given."""
    if _GO_VALID_PATH.fullmatch(path) or _BAD_ESCAPE.search(path):
        return path
    return quote_from_bytes(unquote_to_bytes(path), safe="$&+,/:;=@")


def py_canonicalize(url: str, keep_fragment: bool = False) -> tuple[str, str, bool]:
    """Return ``(canonical_url, domain, valid)``.

    Mirrors dupefilters.go:68-76: Go-escaped path
    (:func:`_go_escaped_path`), sorted query (stable for repeated keys),
    forced ``?``, fragment stripped unless *keep_fragment*.
    Invalid/relative URLs (no scheme or netloc) return valid=False —
    the downloader's ParseRequestURI gate (downloader.go:229-233).
    """
    if url is None:
        return ("", "", False)
    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return (url, "", False)
    if not parts.scheme or not parts.netloc:
        return (url, "", False)
    pairs = parse_qsl(parts.query, keep_blank_values=True)
    # Go's url.Values.Encode(): keys sorted, insertion order kept per key.
    pairs.sort(key=lambda kv: kv[0])
    query = urlencode(pairs, quote_via=quote_plus)
    path = _go_escaped_path(parts.path)
    frag = f"#{parts.fragment}" if (keep_fragment and parts.fragment) else ""
    host = parts.netloc.lower()
    canon = f"{parts.scheme.lower()}://{host}{path}?{query}{frag}"
    return (canon, host.split("@")[-1].split(":")[0], True)


def py_encode_headers(headers: Optional[dict]) -> str:
    """dupefilters.go:79-96 — sort by original key, ``K:V;\\n`` upper-cased."""
    if not headers:
        return ""
    return "".join(f"{k.upper()}:{v.upper()};\n" for k, v in sorted(headers.items()))


def py_merge_params(url: str, params: Optional[dict]) -> str:
    """request.go:232-245 — fold Params into the URL query (Set semantics)."""
    if not params:
        return url
    parts = urlsplit(url)
    pairs = [(k, v) for k, v in parse_qsl(parts.query, keep_blank_values=True) if k not in params]
    pairs.extend(sorted(params.items()))
    pairs.sort(key=lambda kv: kv[0])
    query = urlencode(pairs, quote_via=quote_plus)
    frag = f"#{parts.fragment}" if parts.fragment else ""
    return f"{parts.scheme}://{parts.netloc}{parts.path}?{query}{frag}"


def py_fingerprint_bytes(
    method: str, url: str, body: Optional[bytes], headers: Optional[dict]
) -> bytes:
    """The exact byte string hashed — order per dupefilters.go:104-122."""
    canon, _, _ = py_canonicalize(url, keep_fragment=False)
    return (
        (method or "GET").encode("utf-8")
        + canon.encode("utf-8")
        + (body or b"")
        + py_encode_headers(headers).encode("utf-8")
    )


def py_fingerprint(
    method: str, url: str, body: Optional[bytes] = None, headers: Optional[dict] = None
) -> int:
    """Signed 64-bit fingerprint — oracle twin of :func:`with_fingerprint`."""
    return xxh64(py_fingerprint_bytes(method, url, body, headers), FP_SEED)


# ---------------------------------------------------------------------------
# Spark-side operators
# ---------------------------------------------------------------------------

_CANON_SCHEMA = StructType(
    [
        StructField("canon_url", StringType()),
        StructField("domain", StringType()),
        StructField("valid", BooleanType()),
    ]
)


def _as_dict(m) -> Optional[dict]:
    """Arrow map columns arrive in pandas as list-of-(k,v)-tuples."""
    if m is None:
        return None
    if isinstance(m, dict):
        return m or None
    d = dict(m)
    return d or None


@pandas_udf(_CANON_SCHEMA)
def canonicalize_udf(urls: pd.Series, params: pd.Series) -> pd.DataFrame:
    """Vectorized (Arrow-batched) canonicalization — the one stage that
    genuinely needs Python (urllib query re-encoding has no Catalyst
    expression).  Everything downstream of it stays JVM-side.

    F7: request params fold into the URL query *before* canonicalize
    (request.go:232-245, downloader.go:274-281), so two requests
    differing only in params get distinct fingerprints — and identical
    url+params pairs dedup together — exactly like the reference."""
    rows = [
        py_canonicalize(py_merge_params(u, _as_dict(p)) if p is not None else u)
        for u, p in zip(urls, params)
    ]
    return pd.DataFrame(rows, columns=["canon_url", "domain", "valid"])


def header_enc_col(headers: Column | str = "headers") -> Column:
    """JVM-side header encoding (F4): sort map entries by key (struct
    sort = key-major, matching Go's sort-by-original-key), then emit
    ``UPPER(k):UPPER(v);\\n`` — no Python involved."""
    h = F.col(headers) if isinstance(headers, str) else headers
    entries = F.array_sort(F.map_entries(h))
    parts = F.transform(
        entries, lambda e: F.concat(F.upper(e["key"]), F.lit(":"), F.upper(e["value"]), F.lit(";\n"))
    )
    return F.coalesce(F.array_join(parts, ""), F.lit(""))


def fingerprint_col(
    method: Column | str = "method",
    canon_url: Column | str = "canon_url",
    body: Column | str = "body",
    headers: Column | str = "headers",
) -> Column:
    """F2 as a pure Catalyst expression: XXH64(seed 42) over the exact
    reference byte order method‖canon-url‖body‖headers.  Binary concat
    keeps byte identity with :func:`py_fingerprint_bytes`."""
    c = lambda x: F.col(x) if isinstance(x, str) else x  # noqa: E731
    payload = F.concat(
        F.encode(F.coalesce(c(method), F.lit("GET")), "utf-8"),
        F.encode(F.coalesce(c(canon_url), F.lit("")), "utf-8"),
        F.coalesce(c(body), F.lit(b"")),
        F.encode(header_enc_col(headers), "utf-8"),
    )
    return F.xxhash64(payload)


def with_canonical(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add canon_url / domain / valid columns (F3 + F6 gate input);
    folds the ``params`` column into the query first when present (F7)."""
    params = (
        F.col("params")
        if "params" in df.columns
        else F.lit(None).cast("map<string,string>")
    )
    c = canonicalize_udf(F.col(url_col), params)
    return (
        df.withColumn("_canon", c)
        .withColumn("canon_url", F.col("_canon.canon_url"))
        .withColumn("domain", F.col("_canon.domain"))
        .withColumn("valid", F.col("_canon.valid"))
        .drop("_canon")
    )


def with_fingerprint(df: DataFrame) -> DataFrame:
    """Add fp (signed 64-bit) — requires canon_url (run with_canonical first)."""
    return df.withColumn("fp", fingerprint_col())


__all__ = [
    "py_canonicalize",
    "py_encode_headers",
    "py_merge_params",
    "py_fingerprint",
    "py_fingerprint_bytes",
    "canonicalize_udf",
    "header_enc_col",
    "fingerprint_col",
    "with_canonical",
    "with_fingerprint",
    "FP_SEED",
]
