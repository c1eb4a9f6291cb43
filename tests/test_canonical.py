"""Fingerprint/canonicalization parity — mirrors the reference's
dupefilters_test.go:12-122 cases plus Spark↔oracle bit-parity."""

from __future__ import annotations

import random
import string

import pyspark.sql.functions as F
import pytest

from tegenaria_spark.functions.canonical import (
    fingerprint_col,
    py_canonicalize,
    py_encode_headers,
    py_fingerprint,
    py_merge_params,
    with_canonical,
)
from tegenaria_spark.functions.xxh64 import xxh64_str


def test_xxh64_matches_spark(spark):
    rng = random.Random(11)
    samples = ["", "a", "abc", "0123456789abcdef0123456789abcdefXYZ", "é漢字🎉"] + [
        "".join(rng.choices(string.printable, k=rng.randint(0, 300))) for _ in range(100)
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in samples:
        assert got[s] == xxh64_str(s)


def test_xxh64_long_matches_spark(spark):
    """``F.xxhash64(longCol)`` == XXH64 of the 8-byte little-endian
    encoding — the contract the hash-bucket centroid sampler
    (similarity.hash_sample_vectors) and its twin
    (oracle_twins._twin_hash_sample_idx) both stand on."""
    import struct

    from tegenaria_spark.functions.xxh64 import xxh64

    rng = random.Random(13)
    vals = [0, 1, -1, 42, 2**62, -(2**62), 123456789012345] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(50)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r["v"]: r["h"] for r in df.select("v", F.xxhash64("v").alias("h")).collect()}
    for v in vals:
        assert got[v] == xxh64(struct.pack("<q", v))
        # pmod twin: Python % with a positive modulus equals Spark pmod
        assert got[v] % 7 == xxh64(struct.pack("<q", v)) % 7


def test_canonicalize_sorts_query_and_drops_fragment():
    a, da, va = py_canonicalize("https://example.com/a?b=2&a=1#frag")
    b, db, vb = py_canonicalize("https://example.com/a?a=1&b=2")
    assert va and vb and a == b == "https://example.com/a?a=1&b=2"
    assert da == "example.com"


def test_canonicalize_forces_query_marker():
    # Go ForceQuery=true: URL always carries '?' (dupefilters.go:71-72)
    c, _, _ = py_canonicalize("http://h.io/path")
    assert c.endswith("?")


def test_canonicalize_rejects_invalid():
    assert py_canonicalize("not-a-url")[2] is False
    assert py_canonicalize("/relative/only")[2] is False


# (given path, canonical path) as Go's URL.EscapedPath() writes it: a
# raw path of validEncoded bytes stays as given, any other path is
# decoded and re-escaped with upper-case hex
_GO_PATHS = [
    ("/a b", "/a%20b"),
    ("/a%20b", "/a%20b"),
    ("/a|b", "/a%7Cb"),
    ("/a%7Cb", "/a%7Cb"),
    ("/a(b)", "/a(b)"),
    ("/a%28b%29", "/a%28b%29"),
    # a byte Go escapes forces the whole path through decode + escape
    ("/a b%28", "/a%20b%28"),
    ("/a%7cb", "/a%7cb"),
    ("/a%7cb c", "/a%7Cb%20c"),
    ("/é", "/%C3%A9"),
    ("/%C3%A9", "/%C3%A9"),
    ("/a^b\\c\"d<e>f`g{h}", "/a%5Eb%5Cc%22d%3Ce%3Ef%60g%7Bh%7D"),
    ("/~a-b_c.d/$&+,:;=@!'*[]", "/~a-b_c.d/$&+,:;=@!'*[]"),
    ("", ""),
    # malformed escapes (url.Parse rejects them) keep the path as given
    ("/a%zz b", "/a%zz b"),
    ("/a%2", "/a%2"),
]


@pytest.mark.parametrize("given, want", _GO_PATHS)
def test_canonical_path_is_go_escaped_path(given, want):
    """dupefilters.go:68-76 writes the canonical URL through Go's
    ``URL.String()``, whose path is ``EscapedPath()``: spellings of one
    path that differ only in escaping get one fingerprint."""
    canon, domain, valid = py_canonicalize(f"http://d.io{given}?b=2&a=1#f")
    assert valid and domain == "d.io"
    assert canon == f"http://d.io{want}?a=1&b=2"


def test_header_encoding_sorted_upper():
    # dupefilters.go:79-96: sort by key, UPPER(k):UPPER(v);\n
    s = py_encode_headers({"b-key": "vB", "a-key": "vA"})
    assert s == "A-KEY:VA;\nB-KEY:VB;\n"
    assert py_encode_headers(None) == ""
    assert py_encode_headers({}) == ""


def test_params_merge():
    # request.go:232-245: Params fold into the query string
    u = py_merge_params("http://h.io/p?a=1", {"b": "2"})
    assert py_canonicalize(u)[0] == py_canonicalize("http://h.io/p?a=1&b=2")[0]


# --- dupefilters_test.go equivalences -------------------------------------


def test_same_url_same_fp():
    f1 = py_fingerprint("GET", "https://example.com/a?x=1&y=2")
    f2 = py_fingerprint("GET", "https://example.com/a?y=2&x=1#sec")
    assert f1 == f2


def test_different_url_different_fp():
    assert py_fingerprint("GET", "https://example.com/a") != py_fingerprint(
        "GET", "https://example.com/b"
    )


def test_body_sensitive_fp():
    # dupefilters_test: requests differing only in body are distinct
    assert py_fingerprint("POST", "https://example.com/a", b"x=1") != py_fingerprint(
        "POST", "https://example.com/a", b"x=2"
    )


def test_header_case_insensitive_fp():
    f1 = py_fingerprint("GET", "https://example.com/a", None, {"Accept": "json"})
    f2 = py_fingerprint("GET", "https://example.com/a", None, {"accept": "JSON"})
    assert f1 == f2


def test_method_sensitive_fp():
    assert py_fingerprint("GET", "https://example.com/a") != py_fingerprint(
        "POST", "https://example.com/a"
    )


def test_spark_fingerprint_matches_oracle(spark):
    rows = [
        ("GET", "https://example.com/a?b=2&a=1#f", None, {"User-Agent": "t"}),
        ("POST", "http://Site.ORG/p", b"payload", {"X": "y", "A": "b"}),
        ("GET", "http://d001.example.test/p/5?id=5&v=1", None, None),
        ("HEAD", "https://h.io/", b"", {}),
    ]
    df = spark.createDataFrame(
        rows, "method string, url string, body binary, headers map<string,string>"
    )
    out = with_canonical(df).withColumn("fp", fingerprint_col()).collect()
    for got, (m, u, b, h) in zip(out, rows):
        assert got["fp"] == py_fingerprint(m, u, b, h)
        assert got["canon_url"] == py_canonicalize(u)[0]
        assert got["domain"] == py_canonicalize(u)[1]


def test_response_decode_surface(spark):
    """``.String()``/``.Json()`` equivalents (response.go:89-113) as
    Catalyst expressions over a binary body column."""
    import pyspark.sql.functions as F

    from tegenaria_spark.functions.decode import response_json, response_text

    rows = [
        (1, '{"title": "t1", "n": 3}'.encode()),
        (2, '{"title": "t2", "n": 7}'.encode()),
        (3, b"not json at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id int, body binary")

    text = {r["id"]: r["t"] for r in df.select("id", response_text("body").alias("t")).collect()}
    assert text[1] == '{"title": "t1", "n": 3}'
    assert text[4] is None  # nullable by design; coalesce for Go's ""

    parsed = {
        r["id"]: r["j"]
        for r in df.select(
            "id", response_json(df, "body", schema="title STRING, n INT").alias("j")
        ).collect()
    }
    assert parsed[1]["title"] == "t1" and parsed[1]["n"] == 3
    assert parsed[2]["title"] == "t2" and parsed[2]["n"] == 7
    assert parsed[3]["title"] is None  # malformed → PERMISSIVE nulls
    assert parsed[4] is None

    inferred = {
        r["id"]: r["j"]
        for r in df.filter(F.col("id") <= 2)
        .select("id", response_json(df.filter(F.col("id") <= 2), "body", infer=True).alias("j"))
        .collect()
    }
    assert inferred[2]["n"] == 7
