"""Pure-Python/numpy oracle twins for the queries whose semantics are
not ANSI-SQL-expressible (hash-seeded LSH, engine scheduling, image
codecs).  Each ``expected_*`` builder recomputes the operator's result
from first principles — single-threaded, no Spark — so the driver's
DuckDB gate can compare the distributed plan against an independent
implementation: the builders are materialized to parquet fixtures by
``__spark_entry__`` and the oracle SQL is a ``read_parquet`` of the
fixture.

Everything here is deterministic by construction: XXH64 twin
(functions/xxh64.py, bit-identical to Spark's ``F.xxhash64``),
fixed-point SRP planes (operators/similarity.py), integer-exact phash
(functions/images.py) and the deterministic synthetic web
(sources/synth.py).

Float folds: where the Spark side scores with ``F.aggregate`` (a strict
left-to-right double fold), the twins reproduce the same order with
``np.cumsum`` (sequential prefix sums), so cosine ranks agree
bit-for-bit.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd

from tegenaria_spark.functions.xxh64 import xxh64_str

# ---------------------------------------------------------------------------
# float-fold twin
# ---------------------------------------------------------------------------


def fold_dot(a: np.ndarray, b: np.ndarray) -> float:
    """Strict left-to-right double fold of Σ a_i·b_i — the same
    summation order as ``F.aggregate(F.zip_with(...))``."""
    prods = a.astype(np.float64) * b.astype(np.float64)
    return float(np.cumsum(prods)[-1]) if len(prods) else 0.0


def fold_cosine(a: np.ndarray, b: np.ndarray) -> float:
    na = np.sqrt(np.cumsum(a.astype(np.float64) ** 2)[-1])
    nb = np.sqrt(np.cumsum(b.astype(np.float64) ** 2)[-1])
    return fold_dot(a, b) / (na * nb)


# ---------------------------------------------------------------------------
# documents-table twins
# ---------------------------------------------------------------------------


def expected_minhash_pairs(
    docs: pd.DataFrame,
    n_perm: int = 64,
    n_bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> pd.DataFrame:
    """Twin of operators/textdedup.py:minhash_lsh_pairs: same signature
    params and shingle hashes (the documented spec), independent
    banding/bucketing/verification (dict buckets vs the Spark band
    explode + joins)."""
    from tegenaria_spark.operators.textdedup import _MERSENNE, _minhash_params, _shingle_hashes

    a, b = _minhash_params(n_perm, seed)
    m = np.uint64(_MERSENNE)
    rpb = n_perm // n_bands
    sigs: dict[int, np.ndarray] = {}
    for did, text in zip(docs["doc_id"], docs["text"]):
        hv = _shingle_hashes(text, shingle_k)
        sigs[int(did)] = ((a[:, None] * hv[None, :] + b[:, None]) % m).min(axis=1).astype(np.int64)

    buckets: dict[tuple[int, int], list[int]] = {}
    for did, sig in sigs.items():
        for band in range(n_bands):
            key_str = ",".join(str(int(v)) for v in sig[band * rpb : (band + 1) * rpb])
            buckets.setdefault((band, xxh64_str(key_str)), []).append(did)

    cands: set[tuple[int, int]] = set()
    for ids in buckets.values():
        if len(ids) > 1:
            ids.sort()
            cands.update(combinations(ids, 2))

    rows = [
        (da, db)
        for da, db in sorted(cands)
        if int((sigs[da] == sigs[db]).sum()) / n_perm >= threshold
    ]
    return pd.DataFrame(rows, columns=["doc_a", "doc_b"]).astype({"doc_a": "int64", "doc_b": "int64"})


def expected_simhash_pairs(docs: pd.DataFrame, max_hamming: int = 6) -> pd.DataFrame:
    """Twin of simhash_near_pairs: py_simhash per doc, then EXACT
    all-pairs hamming ≤ max_hamming (brute force, no blocking) — since
    the Spark side's max_hamming+1-block pigeonhole is complete at the
    requested radius, its output must equal the exact answer, and an
    oracle that mirrored the blocking could never catch a recall gap."""
    from tegenaria_spark.operators.textdedup import py_simhash

    ids = [int(d) for d in docs["doc_id"]]
    hashes = {int(d): py_simhash(t) for d, t in zip(docs["doc_id"], docs["text"])}
    hv = np.array([hashes[d] for d in ids], dtype=np.int64).view(np.uint64)
    pop16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)

    def popcount(x: np.ndarray) -> np.ndarray:
        total = np.zeros(x.shape, dtype=np.int16)
        for s in (0, 16, 32, 48):
            total += pop16[((x >> np.uint64(s)) & np.uint64(0xFFFF)).astype(np.int64)]
        return total

    rows = []
    for i in range(len(ids)):  # chunked exact sweep: O(n²/2) vectorized
        ham = popcount(hv[i] ^ hv[i + 1 :])
        for off in np.nonzero(ham <= max_hamming)[0]:
            j = i + 1 + int(off)
            a, b = sorted((ids[i], ids[j]))
            rows.append((a, b, int(ham[off])))
    rows.sort()
    return pd.DataFrame(rows, columns=["doc_a", "doc_b", "hamming"]).astype(
        {"doc_a": "int64", "doc_b": "int64", "hamming": "int32"}
    )


def expected_doc_fingerprints(docs: pd.DataFrame) -> pd.DataFrame:
    """Twin of textstats.doc_fingerprints (content hash + winnowing)."""
    from tegenaria_spark.operators.textstats import py_winnow_fp

    rows = [
        (int(d), xxh64_str(t or ""), py_winnow_fp(t or ""))
        for d, t in zip(docs["doc_id"], docs["text"])
    ]
    return pd.DataFrame(rows, columns=["doc_id", "content_hash", "winnow_fp"]).astype(
        {"doc_id": "int64", "content_hash": "int64", "winnow_fp": "int64"}
    )


# ---------------------------------------------------------------------------
# embeddings-table twin
# ---------------------------------------------------------------------------


def expected_ann_topk(
    emb: pd.DataFrame, k: int = 5, n_queries: int = 10
) -> pd.DataFrame:
    """Twin of similarity.cosine_topk_bruteforce for the driver-contract
    query (queries = vec_id < n_queries): exact fold-cosine (the
    np.cumsum prefix fold is bit-identical to Spark's F.aggregate fold,
    locked by test_twins), rank ties broken by neighbor id.  Replaces
    the former DuckDB-SQL oracle whose ``list_dot_product`` sums in a
    different order — ranks agreed only while the data had no
    near-tie cosines (r1/r2 ADVICE latent flake)."""
    ids = emb["vec_id"].to_numpy()
    mat = [np.asarray(v, dtype=np.float64) for v in emb["embedding"]]
    rows = []
    for qi in np.nonzero(ids < n_queries)[0]:
        scored = sorted(
            (
                (fold_cosine(mat[qi], mat[vi]), int(ids[vi]))
                for vi in range(len(ids))
                if ids[vi] != ids[qi]
            ),
            key=lambda t2: (-t2[0], t2[1]),
        )
        for rank, (_, nid) in enumerate(scored[:k], start=1):
            rows.append((int(ids[qi]), nid, rank))
    rows.sort()
    return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "rank"]).astype(
        {"query_id": "int64", "neighbor_id": "int64", "rank": "int32"}
    )


def expected_ann_lsh(
    emb: pd.DataFrame,
    dim: int = 64,
    k: int = 5,
    n_bits: int = 8,
    n_tables: int = 4,
    n_queries: int = 10,
) -> pd.DataFrame:
    """Twin of similarity.cosine_topk_lsh for the driver-contract query
    (queries = vec_id < n_queries): fixed-point SRP buckets (integer
    math — bit-identical to the Spark UDF), union of per-table bucket
    matches, exact fold-cosine rank."""
    from tegenaria_spark.operators.similarity import srp_bucket_matrix, srp_planes_int

    ids = emb["vec_id"].to_numpy()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    qmask = ids < n_queries

    cands: dict[int, set[int]] = {int(q): set() for q in ids[qmask]}
    for t in range(n_tables):
        planes = srp_planes_int(dim, n_bits, seed=1000 + t)
        bucket = srp_bucket_matrix(mat, planes)
        by_bucket: dict[int, list[int]] = {}
        for i, bk in enumerate(bucket):
            by_bucket.setdefault(int(bk), []).append(i)
        for qi in np.nonzero(qmask)[0]:
            for vi in by_bucket.get(int(bucket[qi]), []):
                if ids[vi] != ids[qi]:
                    cands[int(ids[qi])].add(vi)

    rows = []
    for qid, vis in cands.items():
        qi = int(np.nonzero(ids == qid)[0][0])
        scored = sorted(
            ((fold_cosine(mat[qi], mat[vi]), int(ids[vi])) for vi in vis),
            key=lambda t2: (-t2[0], t2[1]),
        )
        for rank, (_, nid) in enumerate(scored[:k], start=1):
            rows.append((qid, nid, rank))
    return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "rank"]).astype(
        {"query_id": "int64", "neighbor_id": "int64", "rank": "int32"}
    )


def _twin_normalize_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    return np.divide(mat, norms, out=np.zeros_like(mat), where=norms > 0)


def _twin_ivf_centroids_int(
    sample: np.ndarray, k: int, cent_bits: int = 10, seed: int = 7, iters: int = 8
) -> np.ndarray:
    """Independent re-derivation of the IVF centroid spec (does NOT
    import the operator's helpers, so a bug introduced on either side
    fails the oracle gate instead of propagating to both): spherical
    k-means on the L2-normalized sample — RandomState(seed) sorted
    choice of k initial rows, *iters* Lloyd steps with argmax-cosine
    assignment and normalized-mean updates — quantized to
    rint(centroid * 2^cent_bits) integers held in float64."""
    mat = _twin_normalize_rows(np.asarray(sample, dtype=np.float64))
    rng = np.random.RandomState(seed)
    k = min(k, len(mat))
    cent = mat[np.sort(rng.choice(len(mat), size=k, replace=False))].copy()
    for _ in range(iters):
        owner = np.argmax(mat @ cent.T, axis=1)
        for j in range(k):
            members = mat[owner == j]
            if len(members):
                s = members.sum(axis=0)
                norm = np.linalg.norm(s)
                if norm > 0:
                    cent[j] = s / norm
    return np.rint(cent * float(1 << cent_bits))


def _twin_ivf_project(mat: np.ndarray, cent_int: np.ndarray) -> np.ndarray:
    """Exact integer projections: rows quantize to rint(unit-row * 2^20)
    (exact in float64 — every partial < 2^53), centroids are already
    integers."""
    return np.rint(_twin_normalize_rows(mat) * float(1 << 20)) @ cent_int.T


def _twin_hash_sample_idx(ids: np.ndarray, sample_size: int) -> np.ndarray:
    """Twin of similarity.hash_sample_vectors: keep ids where
    pmod(xxhash64(id), n // sample_size) == 0, sort by id, cap.  Python
    ``%`` with a positive modulus equals Spark's pmod; xxh64 of the
    8-byte little-endian encoding equals ``F.xxhash64(longCol)``
    (locked by test_canonical)."""
    import struct

    from tegenaria_spark.functions.xxh64 import xxh64

    b = max(1, len(ids) // sample_size)
    keep = np.array(
        [i for i, v in enumerate(ids) if xxh64(struct.pack("<q", int(v))) % b == 0],
        dtype=np.int64,
    )
    keep = keep[np.argsort(ids[keep], kind="stable")]
    return keep[:sample_size]


def expected_ann_ivf(
    emb: pd.DataFrame,
    dim: int = 64,
    k: int = 5,
    n_clusters: int = 32,
    nprobe: int = 4,
    sample_size: int = 2048,
    n_queries: int = 10,
) -> pd.DataFrame:
    """Twin of similarity.cosine_topk_ivf for the driver-contract query
    (queries = vec_id < n_queries).  Every stage — hash-bucket centroid
    sample, integer centroid fit, integer cell assignment/probes — is
    re-derived here with twin code that does NOT import the operator's
    helpers (r3 ADVICE: a shared helper bug would otherwise pass the
    gate unseen); both sides follow the same exact-integer spec, so the
    candidate sets must agree bit-for-bit.  Ranking is the locked
    fold-cosine with neighbor-id tie-break."""
    pdf = emb.sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    sidx = _twin_hash_sample_idx(ids, sample_size)
    kc = max(1, min(n_clusters, len(sidx)))
    cent_int = _twin_ivf_centroids_int(mat[sidx], kc)
    assign = np.argmax(_twin_ivf_project(mat, cent_int), axis=1)
    qidx = np.nonzero(ids < n_queries)[0]
    qproj = _twin_ivf_project(mat[qidx], cent_int)
    probes = np.argsort(-qproj, axis=1, kind="stable")[:, : min(nprobe, kc)]

    rows = []
    for qrow, qi in enumerate(qidx):
        cells = set(int(c) for c in probes[qrow])
        scored = sorted(
            (
                (fold_cosine(mat[qi], mat[vi]), int(ids[vi]))
                for vi in np.nonzero(np.isin(assign, list(cells)))[0]
                if ids[vi] != ids[qi]
            ),
            key=lambda t2: (-t2[0], t2[1]),
        )
        for rank, (_, nid) in enumerate(scored[:k], start=1):
            rows.append((int(ids[qi]), nid, rank))
    rows.sort()
    return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "rank"]).astype(
        {"query_id": "int64", "neighbor_id": "int64", "rank": "int32"}
    )


# ---------------------------------------------------------------------------
# crawl-engine twins (synthetic seeds — sf-independent)
# ---------------------------------------------------------------------------


def expected_crawl_fingerprints(
    n_seeds: int = 200, option_ratio: float = 0.5
) -> pd.DataFrame:
    """Twin of the crawl_fingerprints query: canonicalize + fingerprint
    every seed via the pure-Python spec functions.  Option-bearing
    seeds (params merge F7, POST bodies F2) are part of the contract:
    params fold into the URL before canonicalize/fingerprint, exactly
    as canonicalize_udf does."""
    from tegenaria_spark.functions.canonical import (
        py_canonicalize,
        py_fingerprint,
        py_merge_params,
    )
    from tegenaria_spark.sources.synth import SiteConfig, seed_urls

    site = SiteConfig(n_domains=8, pages_per_domain=32)
    rows = []
    for r in seed_urls(site, n_seeds=n_seeds, option_ratio=option_ratio):
        u = py_merge_params(r["url"], r["params"]) if r.get("params") else r["url"]
        canon, domain, _valid = py_canonicalize(u)
        fp = py_fingerprint(r["method"], u, r.get("body"), r.get("headers"))
        rows.append((r["ctx_id"], canon, domain, fp))
    return pd.DataFrame(rows, columns=["ctx_id", "canon_url", "domain", "fp"]).astype(
        {"fp": "int64"}
    )


def expected_crawl_round_schedule(
    n_seeds: int = 300, option_ratio: float = 0.5
) -> pd.DataFrame:
    """Twin of the crawl_round_schedule query: round-0 scheduling of a
    fresh seed frontier — within-batch dedup (keep-first-by-seq),
    longest-prefix robots, per-domain budget rank.  Single-threaded
    dict/list logic mirroring plans/simulator.py.  Seeds carry the
    option matrix (params/cookies/proxy/timeout/redirects/POST bodies)
    so the option columns get a CORRECTNESS row, not just pytest
    parity (reference downloader_test.go:29-282)."""
    from urllib.parse import urlsplit

    from tegenaria_spark.config import EngineConfig
    from tegenaria_spark.functions.canonical import (
        py_canonicalize,
        py_fingerprint,
        py_merge_params,
    )
    from tegenaria_spark.sources.synth import SiteConfig, domain_budgets, robots_rules, seed_urls

    cfg = EngineConfig(shuffle_partitions=16)
    site = SiteConfig(n_domains=8, pages_per_domain=32)
    robots = robots_rules(site)
    budget_map = {b["domain"]: b["budget_per_round"] for b in domain_budgets(site, 8)}

    seeds = []
    for r in seed_urls(site, n_seeds=n_seeds, option_ratio=option_ratio):
        u = py_merge_params(r["url"], r["params"]) if r.get("params") else r["url"]
        canon, domain, valid = py_canonicalize(u)
        if not valid:
            continue  # the query filters on valid before the gate
        fp = py_fingerprint(r["method"], u, r.get("body"), r.get("headers"))
        seeds.append({**r, "canon_url": canon, "domain": domain, "fp": fp})

    # dedup gate vs empty seen-set: keep-first-by-enqueue_seq per fp
    # among filterable rows; do_not_filter rows always pass
    out: list[tuple[str, str, str]] = []
    first_by_fp: dict[int, int] = {}
    for s in sorted(seeds, key=lambda x: x["enqueue_seq"]):
        if s["do_not_filter"]:
            continue
        if s["fp"] not in first_by_fp:
            first_by_fp[s["fp"]] = s["enqueue_seq"]
    fresh = []
    for s in seeds:
        if not s["do_not_filter"] and first_by_fp.get(s["fp"]) != s["enqueue_seq"]:
            out.append((s["ctx_id"], s["domain"], "dup_dropped"))
        else:
            fresh.append(s)

    # robots: longest matching prefix wins, equal-length Allow beats
    # Disallow (RFC 9309 tie rule, mirrored by schedule._prefix_allowed and
    # the simulator), default allow
    def allowed(s) -> bool:
        path = urlsplit(s["canon_url"]).path or "/"
        best = None
        for rule in robots:
            if rule["domain"] == s["domain"] and path.startswith(rule["path_prefix"]):
                if (
                    best is None
                    or len(rule["path_prefix"]) > len(best["path_prefix"])
                    or (
                        len(rule["path_prefix"]) == len(best["path_prefix"])
                        and rule["allow"]
                        and not best["allow"]
                    )
                ):
                    best = rule
        return True if best is None else bool(best["allow"])

    ready = []
    for s in fresh:  # all seeds share next_fetch_time == round-0 ts ⇒ all ready
        if allowed(s):
            ready.append(s)
        else:
            out.append((s["ctx_id"], s["domain"], "robots_blocked"))

    # budget: rank per domain by (priority, next_fetch_time, enqueue_seq);
    # next_fetch_time is constant across the batch, so seq breaks ties
    by_domain: dict[str, list[dict]] = {}
    for s in ready:
        by_domain.setdefault(s["domain"], []).append(s)
    for domain, group in by_domain.items():
        group.sort(key=lambda x: (x["priority"], x["enqueue_seq"]))
        budget = budget_map.get(domain, cfg.default_budget_per_round)
        for s in group[:budget]:
            out.append((s["ctx_id"], s["domain"], "selected"))
        for s in group[budget:]:
            out.append((s["ctx_id"], s["domain"], "deferred"))

    return pd.DataFrame(out, columns=["ctx_id", "domain", "outcome"])


def expected_multimodal_features(n: int = 24) -> pd.DataFrame:
    """Twin of the multimodal_features query: regenerate each synthetic
    image, encode, decode, phash — the same per-row invariant the
    north_rule demands (decoded pixels + caption equality)."""
    from tegenaria_spark.functions.images import decode_image, encode_image, phash64
    from tegenaria_spark.sources.synth import SiteConfig, image_pixels

    site = SiteConfig()
    rows = []
    for i in range(n):
        image_id = f"img-{i:03d}-{i:04d}"
        fmt = "png" if i % 2 else "jpeg"
        px = image_pixels(image_id, site)
        blob = encode_image(px, fmt)
        rows.append((image_id, int(px.shape[1]), int(px.shape[0]), fmt, phash64(decode_image(blob))))
    return pd.DataFrame(rows, columns=["image_id", "w", "h", "fmt", "phash"]).astype(
        {"w": "int32", "h": "int32", "phash": "int64"}
    )


def expected_phash_neardup(n_base: int = 24, n_dup: int = 12, max_hamming: int = 8) -> pd.DataFrame:
    """Twin of the multimodal_phash_neardup query: decode + phash each
    image in python, then BRUTE-FORCE all-pairs hamming — the blocked
    join must find exactly the exhaustive-scan pairs (blocking is
    pigeonhole-complete at the radius, so recall must be total)."""
    import itertools

    from tegenaria_spark.functions.images import decode_image, hamming64, phash64
    from tegenaria_spark.sources.synth import phash_testset

    hashes = {
        image_id: phash64(decode_image(blob)) for image_id, blob in phash_testset(n_base, n_dup)
    }
    rows = []
    for a, b in itertools.combinations(sorted(hashes), 2):
        h = hamming64(hashes[a], hashes[b])
        if h <= max_hamming:
            rows.append((a, b, h))
    return pd.DataFrame(rows, columns=["image_a", "image_b", "hamming"]).astype({"hamming": "int32"})


def expected_caption_dedup(
    n_base: int = 24, n_dup: int = 12, max_hamming: int = 8
) -> pd.DataFrame:
    """Twin of the image_caption_dedup query: brute-force phash pairs,
    sequential union-find for the visual clusters, then keep-best-
    caption per cluster (longest caption, ties by id ascending) — all
    re-derived independently of the DataFrame implementation."""
    import itertools

    from tegenaria_spark.functions.images import decode_image, hamming64, phash64
    from tegenaria_spark.sources.synth import captioned_phash_testset

    rows = captioned_phash_testset(n_base, n_dup)
    hashes = {image_id: phash64(decode_image(blob)) for image_id, blob, _ in rows}
    captions = {image_id: cap for image_id, _, cap in rows}

    parent = {i: i for i in hashes}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in itertools.combinations(sorted(hashes), 2):
        if hamming64(hashes[a], hashes[b]) <= max_hamming:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

    comp = {i: min(j for j in hashes if find(j) == find(i)) for i in hashes}
    members: dict[str, list[str]] = {}
    for i, c in comp.items():
        members.setdefault(c, []).append(i)
    kept = {
        c: sorted(ms, key=lambda i: (-len(captions[i]), i))[0] for c, ms in members.items()
    }
    out = [
        (
            i,
            comp[i],
            kept[comp[i]],
            len(members[comp[i]]),
            1 if kept[comp[i]] == i else 0,
        )
        for i in sorted(hashes)
    ]
    return pd.DataFrame(
        out, columns=["image_id", "component", "kept_image_id", "cluster_size", "is_kept"]
    ).astype({"cluster_size": "int64", "is_kept": "int32"})


# ---------------------------------------------------------------------------
# markup-extraction twins (html_extract_* contract queries)
# ---------------------------------------------------------------------------


def expected_html_quotes(cfg=None) -> pd.DataFrame:
    """Twin of the html_extract_quotes query: (url, pos, text, author)
    straight from the GENERATIVE quote model (sources.synth.page_quotes)
    — never parses markup, so the Spark side's render→parse→select
    round-trip is verified against an independent derivation."""
    from tegenaria_spark.functions.canonical import py_canonicalize
    from tegenaria_spark.sources.synth import (
        SiteConfig,
        html_testset_urls,
        page_quotes,
        synth_page,
    )

    cfg = cfg or SiteConfig()
    rows = []
    for url in html_testset_urls(cfg):
        canon, _, valid = py_canonicalize(url)
        if not valid or synth_page(url, cfg).status != 200:
            continue
        for pos, (text, author, _tag) in enumerate(page_quotes(canon, cfg)):
            rows.append((canon, pos, text, author))
    return pd.DataFrame(rows, columns=["url", "pos", "text", "author"]).astype(
        {"pos": "int32"}
    )


def expected_html_links(cfg=None) -> pd.DataFrame:
    """Twin of the html_extract_links query: (url, pos, href) from the
    structured ``synth_page().outlinks`` — the Spark side must recover
    EXACTLY these absolute URLs by parsing the pager markup and
    urljoin-resolving relative hrefs (spider.go:74-88 semantics)."""
    from tegenaria_spark.functions.canonical import py_canonicalize
    from tegenaria_spark.sources.synth import SiteConfig, html_testset_urls, synth_page

    cfg = cfg or SiteConfig()
    rows = []
    for url in html_testset_urls(cfg):
        canon, _, valid = py_canonicalize(url)
        if not valid:
            continue
        page = synth_page(url, cfg)
        if page.status != 200:
            continue
        for pos, link in enumerate(page.outlinks):
            rows.append((canon, pos, link))
    return pd.DataFrame(rows, columns=["url", "pos", "href"]).astype({"pos": "int32"})


# ---------------------------------------------------------------------------
# resume-parity twin (Q6/Q7 driver-contract certification)
# ---------------------------------------------------------------------------


def expected_crawl_resume(n_seeds: int = 10) -> pd.DataFrame:
    """Twin of the crawl_resume_parity query: the single-threaded
    reference simulator run STRAIGHT THROUGH (no interruption).  The
    Spark side runs the same crawl interrupted after 2 rounds and
    resumed from the committed snapshot — the final fetch log and
    URL-seen set must be identical (Q7 resume semantics: the snapshot
    is the checkpoint, engine.go:341-343 loop + service.go pause).
    Sentinels instead of NULLs (round/seq=-1, url/outcome='', fp=0) keep
    the driver's value-hash comparison trivial."""
    from tegenaria_spark.config import EngineConfig
    from tegenaria_spark.plans.simulator import simulate_crawl
    from tegenaria_spark.sources.synth import (
        SiteConfig,
        domain_budgets,
        robots_rules,
        seed_urls,
    )

    site = SiteConfig(n_domains=3, pages_per_domain=8)
    cfg = EngineConfig(shuffle_partitions=8)
    seeds = seed_urls(site, n_seeds=n_seeds)
    sim = simulate_crawl(
        seeds,
        site,
        cfg,
        robots=robots_rules(site),
        budgets=domain_budgets(site, default_budget=4),
        # 2 rounds = the Spark side's 1 (pre-kill) + 1 (post-resume):
        # the parity prefix, not the full drain, is the contract
        max_rounds=2,
    )
    rows = [("log", int(t[0]), int(t[1]), t[3], t[6], 0) for t in sim.fetch_log]
    rows += [("seen", -1, -1, "", "", int(fp)) for fp in sorted(sim.url_seen)]
    return pd.DataFrame(
        rows, columns=["kind", "round", "seq", "url", "outcome", "fp"]
    ).astype({"round": "int32", "seq": "int64", "fp": "int64"})


def _oracle_parse_robots(txt: str, agent: str) -> tuple[list, float]:
    """INDEPENDENT robots.txt parser (no functions/robots.py import):
    group accumulation as (agents, rules, delay) passes — deliberately
    a different construction from the operator's single-pass flush.
    Returns ``(rules, crawl_delay)`` for *agent* with RFC 9309 §2.2.1
    group merging (all groups at the winning specificity combine;
    conflicting delays resolve to the max)."""
    groups = []
    agents, rules, delay, pending_agents = [], [], None, True
    for line in txt.splitlines():
        body = line.split("#", 1)[0].strip()
        if not body or ":" not in body:
            continue
        field, _, val = body.partition(":")
        field, val = field.strip().lower(), val.strip()
        if field == "user-agent":
            if not pending_agents:
                groups.append((agents, rules, delay))
                agents, rules, delay = [], [], None
                pending_agents = True
            agents.append(val.lower())
        elif field in ("allow", "disallow", "crawl-delay") and agents:
            pending_agents = False
            if field == "crawl-delay":
                try:
                    delay = float(val)
                except ValueError:
                    pass
            elif field == "disallow" and val == "":
                rules.append(("", True))
            elif val:
                rules.append((val, field == "allow"))
    if agents:
        groups.append((agents, rules, delay))
    # most specific agent token wins; '*' is the fallback; ALL groups
    # at the winning specificity merge — computed here as a dict keyed
    # by spec, a different shape from the operator's best-spec scan
    by_spec: dict[int, list] = {}
    delay_by_spec: dict[int, float] = {}
    for ags, rls, dly in groups:
        specs = [
            0 if a == "*" else (len(a) if a and a in agent.lower() else None)
            for a in ags
        ]
        specs = [s for s in specs if s is not None]
        if specs:
            s = max(specs)
            by_spec.setdefault(s, []).extend(rls)
            if dly is not None:
                delay_by_spec[s] = max(delay_by_spec.get(s, dly), dly)
    if not by_spec:
        return [], None
    win = max(by_spec)
    return by_spec[win], delay_by_spec.get(win)


def _oracle_robots_allowed(rules: list, path: str) -> bool:
    import re as _re

    verdict, best = True, -1
    for pat, allow in rules:
        if pat == "":
            ok, spec = True, 0
        else:
            tail = "$" if pat.endswith("$") else ""
            core = pat[:-1] if tail else pat
            rx = "^" + ".*".join(_re.escape(seg) for seg in core.split("*")) + tail
            ok, spec = _re.match(rx, path) is not None, len(pat)
        if ok and (spec > best or (spec == best and allow and not verdict)):
            best, verdict = spec, allow
    return verdict


def expected_robots_gate(agent: str = "tegenaria-image/1.0") -> pd.DataFrame:
    """Twin of the robots_txt_gate query: an INDEPENDENT robots.txt
    parser + RFC 9309 longest-match matcher over the shared synthetic
    corpus — re-derived here without importing functions/robots.py
    (a shared-helper bug must fail the gate, not pass it twice).
    """
    from tegenaria_spark.sources.synth import ROBOTS_GATE_PATHS, robots_txt_corpus

    rows = []
    for domain, txt in sorted(robots_txt_corpus().items()):
        rules, _delay = _oracle_parse_robots(txt, agent)
        for path in ROBOTS_GATE_PATHS:
            rows.append((domain, path, _oracle_robots_allowed(rules, path)))
    return pd.DataFrame(rows, columns=["domain", "path", "allowed"])


def expected_robots_residual_schedule(
    agent: str = "tegenaria",
    default_budget: int = 3,
    round_interval_s: float = 1.0,
) -> pd.DataFrame:
    """Twin of the robots_residual_schedule query: the whole
    schedule-round decision (wildcard robots gate + Crawl-delay-capped
    budget ranking) re-derived single-threaded.  Frontier grid, rule
    corpus and the priority/seq formula are the SHARED inputs
    (sources/synth.robots_txt_corpus + ROBOTS_GATE_PATHS; priority =
    seq % 3); the decision logic is independent of operators/schedule
    and functions/robots."""
    from tegenaria_spark.sources.synth import ROBOTS_GATE_PATHS, robots_txt_corpus

    rows = []
    seq = 0
    for domain, txt in sorted(robots_txt_corpus().items()):
        rules, delay = _oracle_parse_robots(txt, agent)
        budget = default_budget
        if delay is not None and delay > 0:
            budget = min(budget, max(1, int(round_interval_s / delay)))
        allowed = []
        for path in ROBOTS_GATE_PATHS:
            if _oracle_robots_allowed(rules, path):
                allowed.append((seq % 3, seq, path))
            else:
                rows.append((domain, path, "robots_blocked"))
            seq += 1
        allowed.sort()  # (priority, enqueue_seq) — timestamps are equal
        for rank, (_p, _s, path) in enumerate(allowed, start=1):
            rows.append((domain, path, "selected" if rank <= budget else "deferred"))
    return pd.DataFrame(rows, columns=["domain", "path", "sched"])
