"""Single-process kernel microbench over a workload's own generated rows.

It times the Python kernels that run inside the engine's Arrow UDFs and
grouped-map stages, in this process and without Spark, so a change to a
kernel shows here even when the round's wall hides it. It also covers the
bloom/cuckoo *probe* kernels, which no workload reaches inside a round at
its size (the engine probes only above 5M committed seen rows).
"""

from __future__ import annotations

import hashlib
import time

import numpy as np


def _rate(fn, items: int, min_s: float = 0.25) -> float:
    """Items per second of ``fn()`` (which handles *items* items), repeated
    until at least *min_s* seconds have been measured."""
    fn()  # first call pays imports and lazy set-up
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += items
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return n / dt


def run(spec, n_urls: int = 4_000, n_pages: int = 400) -> dict[str, float]:
    """*spec* is the workload's ``gen.SeededPages``."""
    import pandas as pd

    from indigo_crawler_spark.functions.udfs import _canon_series
    from indigo_crawler_spark.kernels.bloom import bloom_build, bloom_params, bloom_probe
    from indigo_crawler_spark.kernels.canonicalize import canonicalize_url
    from indigo_crawler_spark.kernels.cuckoo import CuckooFilter
    from indigo_crawler_spark.kernels.robots import robots_allowed
    from indigo_crawler_spark.kernels.textextract import extract_text_and_links

    ids = list(range(min(n_urls, spec.n_rows)))
    raw = pd.Series(spec.urls(ids))
    canon = [canonicalize_url(u) for u in raw]
    page_ids = ids[:n_pages]
    html = spec.rows(page_ids)["html"]
    base = [canon[i] for i in page_ids]
    robots = {host: txt for host, _hh, txt, _ts in spec.robots()}
    pairs = [(u, robots.get(u.split("/")[2])) for u in canon]
    digests = np.frombuffer(
        b"".join(hashlib.sha256(u.encode()).digest()[:16] for u in canon),
        dtype=np.uint8,
    ).reshape(-1, 16)
    nbits, k = bloom_params(len(canon), 1e-3)
    words = bloom_build(digests, nbits, k)

    def cuckoo_cycle():
        f = CuckooFilter.for_capacity(2 * len(canon))
        f.insert_many(digests)
        f.contains_many(digests)
        f.delete_many(digests)

    return {
        "kernels.canonicalize_urls_per_s": _rate(lambda: _canon_series(raw), len(raw)),
        "kernels.extract_pages_per_s": _rate(
            lambda: [extract_text_and_links(h, b) for h, b in zip(html, base)],
            len(html),
        ),
        "kernels.robots_checks_per_s": _rate(
            lambda: [robots_allowed(u, t) for u, t in pairs], len(pairs)
        ),
        "kernels.bloom_build_keys_per_s": _rate(
            lambda: bloom_build(digests, nbits, k), len(canon)
        ),
        "kernels.bloom_probe_keys_per_s": _rate(
            lambda: bloom_probe(digests, words, nbits, k), len(canon)
        ),
        "kernels.cuckoo_ops_per_s": _rate(cuckoo_cycle, 3 * len(canon)),
    }
